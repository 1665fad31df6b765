"""The workloads.  Each one generates its inputs from the seed,
precomputes the oracle answers, opens the inputs in a session, and runs
one operation at a time; `op` returns (items, engine seconds, error).
Engine seconds cover the calls into the engine and the collection of
their results, not the comparison with the oracle that follows.

In traced runs each call into a layer sits in a span named after the
module it calls, and `probe` runs the layer-isolation calls the per-layer
metrics need (a lazy DataFrame call does no work until an action, so a
span around it alone would time only planning).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa

import gen
import oracle
from spans import Tracer

POINT_SCHEMA = pa.schema([("image_id", pa.string()), ("lat", pa.float64()), ("lng", pa.float64())])


def _point_table(ids, lat, lng) -> pa.Table:
    return pa.table([pa.array(ids), pa.array(lat), pa.array(lng)], schema=POINT_SCHEMA)


def _columns(tbl: pa.Table):
    return (
        np.asarray(tbl.column("image_id").to_pylist(), dtype=object),
        tbl.column("lat").to_numpy(),
        tbl.column("lng").to_numpy(),
    )


def _fixture_areas_and_pois():
    from diagonal_b6_spark import fixtures

    rows = fixtures.feature_rows()
    areas = [f for f in rows if f["feature_type"] == "area"]
    pois = [(f["feature_id"], f["ys"][0], f["xs"][0]) for f in rows if f["feature_type"] == "point"]
    return areas, pois


def _set_diff(name: str, got: set, want: set) -> str | None:
    if got == want:
        return None
    return f"{name}: {len(got)} rows, expected {len(want)} ({len(got - want)} extra, {len(want - got)} missing)"


class Workload:
    name = ""
    item = ""
    warmup = 0  # ops run before timing starts
    cores = None  # task threads of the local session; None: one per core

    def __init__(self, run_dir: str, tracer):
        self.dir = os.path.join(run_dir, "inputs")
        self.tr = tracer
        self.inputs: dict[str, dict] = {}
        self.spark = None
        self.detail: list = []  # per-op breakdown for the run's record

    def _write(self, name: str, table: pa.Table, files: int = 1) -> str:
        path = os.path.join(self.dir, name)
        self.inputs[name] = gen.write(table, path, files)
        return path

    def input_paths(self) -> list[str]:
        return [os.path.join(self.dir, n) for n in self.inputs]

    def open(self, spark) -> None:
        self.spark = spark

    def op(self, i: int) -> tuple[int, float, str | None]:
        raise NotImplementedError

    def probe(self) -> None:
        """Layer-isolation calls for the traced run (spans only)."""

    def _probe(self, layer: str, name: str, action, counts=None) -> None:
        """Run `action` once to plan and compile it, then time it again
        inside a span; `counts` maps its result to the span's counts."""
        action()
        with self.tr.span(layer, name) as s:
            result = action()
        if counts is not None:
            s.counts = counts(result)

    def kernel_inputs(self):
        """(lat, lng, polygons) for the direct kernel timings."""
        raise NotImplementedError


class FlagshipJoin(Workload):
    """pipeline.run_flagship(strategy="bucketed") over a seeded image
    table against the fixture's five areas.  Item: an image."""

    name = "flagship_join"
    item = "image"
    warmup = 2
    N = 100_000
    HOT_SHARE = 0.01
    FILES = 8

    def __init__(self, run_dir, seed, tracer):
        super().__init__(run_dir, tracer)
        tbl = gen.images(gen.rng_for(seed, "images"), self.N, self.HOT_SHARE)
        self.path = self._write("images", tbl, self.FILES)
        ids, self.lat, self.lng = _columns(tbl)
        self.areas, pois = _fixture_areas_and_pois()
        tile_ck = 0
        for z in (12, 16):
            x, y = oracle.tile_xy(self.lat, self.lng, z)
            tile_ck += int(x.sum() + y.sum())
        _, dist = oracle.nearest(self.lat, self.lng, pois)
        self.want = {
            "containment_pairs": len(oracle.containment_pairs(ids, self.lat, self.lng, self.areas)),
            "tile_rows": 2 * self.N,
            "tile_checksum": tile_ck,
            "knn_checksum": float(np.round(dist, 3).sum()),
        }

    def op(self, i):
        from diagonal_b6_spark import pipeline

        t0 = time.perf_counter()
        with self.tr.span("pipeline", "pipeline.run_flagship"):
            got = pipeline.run_flagship(self.spark, self.N, strategy="bucketed", images_path=self.path)
        dt = time.perf_counter() - t0
        errs = [
            f"{k}={got.get(k)} expected {v}"
            for k, v in self.want.items()
            if k != "knn_checksum" and got.get(k) != v
        ]
        if got.get("knn_checksum") is None or abs(got["knn_checksum"] - self.want["knn_checksum"]) > 0.2:
            errs.append(f"knn_checksum={got.get('knn_checksum')} expected {self.want['knn_checksum']:.1f}")
        return self.N, dt, "; ".join(errs) or None

    def probe(self):
        from pyspark.sql import functions as F

        from diagonal_b6_spark import fixtures, pipeline
        from diagonal_b6_spark.operators import cover, knn

        images = self.spark.read.parquet(self.path)
        areas = fixtures.features_table(self.spark).filter(F.col("feature_type") == "area")
        dist = knn.nearest_dist_expr(pipeline.poi_list(self.spark))
        self._probe("operators.cover", "operators.cover.with_point_cells",
                    lambda: cover.with_point_cells(images).agg(F.max("cell16")).collect())
        self._probe("operators.cover", "operators.cover.feature_cover_index",
                    lambda: cover.feature_cover_index(areas).count(),
                    lambda n: {"features": len(self.areas), "cells": n})
        self._probe("operators.spatial_join", "pipeline.containment_pipeline",
                    lambda: pipeline.containment_pipeline(self.spark, images, strategy="bucketed").count())
        self._probe("operators.knn", "operators.knn.nearest_dist_expr",
                    lambda: images.agg(F.sum(dist)).collect())
        self._probe("pipeline", "pipeline.tile_assignments",
                    lambda: pipeline.tile_assignments(images).agg(F.sum("tile_x")).collect())

    def kernel_inputs(self):
        return self.lat, self.lng, self.areas


class InteractiveQueries(Workload):
    """An analyst's session: a seeded sequence of small queries, each
    collect()ed before the next is sent (closed loop, one client).  One
    operation is a round of the seven kinds, one query each, in a fixed
    order; their parameters come from the seed.  Timing whole rounds keeps
    the mix of kinds the same in every op, so the op time does not depend
    on which kind happens to sit at the median.  Opening the inputs writes
    a clustered snapshot of full image rows, which the `scan` queries read
    through manifest pruning; the traced run also appends batches to it
    and runs the compaction policy.  Item: a query."""

    name = "interactive_queries"
    item = "query"
    KINDS = ("contain", "cap", "knn", "nearest", "tiles", "shell", "scan")
    warmup = 3
    # The queries are latency-bound.  Two task threads leave two cores to
    # the JVM, the Python workers and the client; a round took 2-22 % less
    # time than on four in eight of nine paired runs (README).
    cores = 2
    N_POINTS = 20_000
    N_POLYGONS = 18
    N_ROUNDS = 8
    BASE_ROWS = 8_000
    BATCH_ROWS = 2_000
    INGEST_REPEATS = 2  # timed appends, after one untimed
    FILES = 4

    def __init__(self, run_dir, seed, tracer):
        super().__init__(run_dir, tracer)
        lat, lng = gen.points(gen.rng_for(seed, "points"), self.N_POINTS, 0.01)
        self.ids = np.array([f"pt{i:09d}" for i in range(self.N_POINTS)], dtype=object)
        self.lat, self.lng = lat, lng
        self.points_path = self._write("points", _point_table(self.ids, lat, lng), 4)
        self.polys = gen.polygons(gen.rng_for(seed, "polygons"), self.N_POLYGONS, 0.1)
        self.polys_path = self._write("features", gen.features_table(self.polys), 2)
        # polygons by bounding-box area, in thirds: a contain query takes
        # one of each, so its cost does not hinge on drawing three large
        # or three small polygons
        area = [(max(f["xs"]) - min(f["xs"])) * (max(f["ys"]) - min(f["ys"])) for f in self.polys]
        self.size_thirds = np.array_split(np.argsort(area), 3)
        base = gen.images(gen.rng_for(seed, "base"), self.BASE_ROWS, 0.01)
        batch = gen.images(gen.rng_for(seed, "batch"), self.BATCH_ROWS, 0.01, first_id=self.BASE_ROWS)
        self.base_path = self._write("base", base)
        self.batch_path = self._write("batch", batch)
        self.table_lat, self.table_lng = base.column("lat").to_numpy(), base.column("lng").to_numpy()
        rng = gen.rng_for(seed, "queries")
        self.rounds = [[self._query(rng, kind) for kind in self.KINDS] for _ in range(self.N_ROUNDS)]
        self.inputs["queries"] = {
            "rows": self.N_ROUNDS * len(self.KINDS), "bytes": 0,
            "sha256": hashlib.sha256(repr([q[:2] for r in self.rounds for q in r]).encode()).hexdigest(),
        }
        self.table = os.path.join(run_dir, "table")

    def _box(self, rng, half_m):
        clat = gen.LAT0 + 0.01 + (gen.LAT1 - gen.LAT0 - 0.02) * rng.random()
        clng = gen.LNG0 + 0.01 + (gen.LNG1 - gen.LNG0 - 0.02) * rng.random()
        d = half_m / gen.M_PER_DEG
        return (clat - d, clat + d, clng - 1.6 * d, clng + 1.6 * d)

    def _query(self, rng, kind):
        """(kind, parameters, expected answer)."""
        ids, lat, lng = self.ids, self.lat, self.lng
        if kind == "contain":
            pick = sorted(int(rng.choice(third)) for third in self.size_thirds)
            feats = [self.polys[j] for j in pick]
            return (kind, [f["feature_id"] for f in feats], oracle.containment_pairs(ids, lat, lng, feats))
        if kind == "cap":
            clat, clng = gen.points(rng, 1, 0.2)
            r = float(150.0 + 200.0 * rng.random())
            d = oracle.haversine_m(clat[0], clng[0], lat, lng)
            return (kind, (float(clat[0]), float(clng[0]), r), set(ids[d <= r]))
        if kind == "knn":
            plat, plng = gen.points(rng, 4, 0.0)
            probes = [(f"probe{j}", float(plat[j]), float(plng[j])) for j in range(4)]
            want = {(p, r + 1, pid) for p, a, b in probes for r, pid in enumerate(oracle.knn(ids, lat, lng, a, b, 5))}
            return (kind, probes, want)
        if kind == "nearest":
            box = self._box(rng, 400.0)
            plat, plng = gen.points(rng, 8, 0.0)
            pois = [(f"poi{j}", float(plat[j]), float(plng[j])) for j in range(8)]
            sel = (lat >= box[0]) & (lat <= box[1]) & (lng >= box[2]) & (lng <= box[3])
            best, _ = oracle.nearest(lat[sel], lng[sel], pois)
            return (kind, (box, pois), {(i, pois[b][0]) for i, b in zip(ids[sel], best)})
        if kind == "tiles":
            box = self._box(rng, 800.0)
            sel = (lat >= box[0]) & (lat <= box[1]) & (lng >= box[2]) & (lng <= box[3])
            x, y = oracle.tile_xy(lat[sel], lng[sel], 15)
            keys, counts = np.unique(np.stack([x, y], axis=1), axis=0, return_counts=True)
            return (kind, box, {(int(a), int(b), int(c)) for (a, b), c in zip(keys, counts)})
        if kind == "shell":
            landuse = gen.LANDUSE[int(rng.integers(0, len(gen.LANDUSE)))]
            want = {f["feature_id"] for f in self.polys if ("#landuse", landuse) in f["tags"]}
            expr = f"find [#landuse={landuse}]"
            if rng.random() < 0.5:
                expr += " | filter [#building=yes]"
                want = {f["feature_id"] for f in self.polys
                        if f["feature_id"] in want and ("#building", "yes") in f["tags"]}
            return (kind, expr, want)
        clat, clng = gen.points(rng, 1, 0.2)
        r = float(200.0 + 300.0 * rng.random())
        n = int((oracle.haversine_m(clat[0], clng[0], self.table_lat, self.table_lng) <= r).sum())
        return (kind, (float(clat[0]), float(clng[0]), r), n)

    def open(self, spark):
        from diagonal_b6_spark import checkpoint

        super().open(spark)
        self.points = spark.read.parquet(self.points_path)
        self.features = spark.read.parquet(self.polys_path)
        with self.tr.span("checkpoint", "checkpoint.write_clustered_snapshot"):
            self.manifest = checkpoint.write_clustered_snapshot(
                spark.read.parquet(self.base_path), self.table, n_files=self.FILES
            )
        _check_rows(self.manifest, self.BASE_ROWS)

    def _run(self, kind, arg):
        from pyspark.sql import functions as F

        from diagonal_b6_spark import checkpoint, pipeline, shell
        from diagonal_b6_spark.kernels import cellmath as cm
        from diagonal_b6_spark.operators import knn, spatial_join as sj

        def in_box(box):
            return self.points.filter(
                (F.col("lat") >= box[0]) & (F.col("lat") <= box[1])
                & (F.col("lng") >= box[2]) & (F.col("lng") <= box[3])
            )

        if kind == "contain":
            with self.tr.span("operators.spatial_join", "operators.spatial_join.containment_join_broadcast"):
                polys = self.features.filter(F.col("feature_id").isin(arg))
                rows = sj.containment_join_broadcast(self.points, polys).select("image_id", "feature_id").collect()
            return {(r[0], r[1]) for r in rows}
        if kind == "cap":
            with self.tr.span("operators.spatial_join", "operators.spatial_join.distance_join"):
                rows = sj.distance_join(self.points, *arg).select("image_id").collect()
            return {r[0] for r in rows}
        if kind == "knn":
            with self.tr.span("operators.knn", "operators.knn.knn_grid") as s:
                probes = self.spark.createDataFrame(arg, "probe_id string, lat double, lng double")
                rows = knn.knn_grid(self.points, probes, 5).select("probe_id", "rank", "image_id").collect()
                s.counts = {"probes": len(arg)}
            return {(r[0], r[1], r[2]) for r in rows}
        if kind == "nearest":
            box, pois = arg
            with self.tr.span("operators.knn", "operators.knn.nearest_expr"):
                rows = knn.nearest_expr(in_box(box), pois).select("image_id", "nearest_poi").collect()
            return {(r[0], r[1]) for r in rows}
        if kind == "tiles":
            with self.tr.span("pipeline", "pipeline.tile_assignments"):
                tiles = pipeline.tile_assignments(in_box(arg), zooms=(15,))
                rows = tiles.groupBy("tile_x", "tile_y").count().collect()
            return {(r[0], r[1], r[2]) for r in rows}
        if kind == "shell":
            with self.tr.span("shell", "shell.run"):
                rows = shell.run(self.spark, self.features, arg).select("feature_id").collect()
            return {r[0] for r in rows}
        clat, clng, r = arg
        with self.tr.span("checkpoint", "checkpoint.files_for_cell_range") as s:
            cells = cm.covering_cap(clat, clng, r)
            lo, hi = cm.id_to_signed(cm.range_min(cells)), cm.id_to_signed(cm.range_max(cells))
            files = sorted({f for a, z in zip(lo, hi)
                            for f in checkpoint.files_for_cell_range(self.manifest, int(a), int(z))})
            n = sj.distance_join(self.spark.read.parquet(*files), clat, clng, r).count() if files else 0
            s.counts = {"files_read": len(files), "files": len(self.manifest.partitions)}
        return n

    def op(self, i):
        total, errs, times = 0.0, [], {}
        for kind, arg, want in self.rounds[i % self.N_ROUNDS]:
            t0 = time.perf_counter()
            got = self._run(kind, arg)
            times[kind] = time.perf_counter() - t0
            total += times[kind]
            if kind == "scan":
                err = None if got == want else f"round {i} (scan): {got} rows, expected {want}"
            else:
                err = _set_diff(f"round {i} ({kind})", got, want)
            if err:
                errs.append(err)
        self.detail.append({k: round(v, 4) for k, v in times.items()})
        return len(self.KINDS), total, "; ".join(errs) or None

    def probe(self):
        from pyspark.sql import functions as F

        from diagonal_b6_spark.operators import cover

        self._probe("operators.cover", "operators.cover.with_point_cells",
                    lambda: cover.with_point_cells(self.points).agg(F.max("cell16")).collect())
        self._probe("operators.cover", "operators.cover.feature_cover_index",
                    lambda: cover.feature_cover_index(self.features).count(),
                    lambda n: {"features": len(self.polys), "cells": n})
        self._ingest()

    def _ingest(self):
        """The write path: append the batch to a copy of the scan table,
        then let the compaction policy run.  The first append and
        compaction only warm the path (the first append of a session
        takes about twice as long as later ones); the ones after it, each
        on a fresh copy, are timed."""
        for k in range(1 + self.INGEST_REPEATS):
            self._append_and_compact(f"{self.table}-ingest{k}", timed=k > 0)

    def _append_and_compact(self, root, timed):
        from diagonal_b6_spark import checkpoint

        os.makedirs(root)
        # the copy shares the table's data files; only the manifest is new
        shutil.copy(os.path.join(self.table, "manifest.json"), root)
        span = (self.tr if timed else Tracer(False)).span
        with span("checkpoint", "checkpoint.append_clustered_snapshot") as s:
            m = checkpoint.append_clustered_snapshot(
                self.spark.read.parquet(self.batch_path), root, n_files=self.FILES
            )
        s.counts = {"user_bytes": self.inputs["batch"]["bytes"], "written_bytes": _new_bytes(m)}
        with span("checkpoint", "checkpoint.maybe_compact") as s:
            c = checkpoint.maybe_compact(self.spark, root, n_files=self.FILES)
        s.counts = {"compactions": int(c is not None), "written_bytes": _new_bytes(c) if c else 0}
        _check_rows(checkpoint.Manifest.load(root), self.BASE_ROWS + self.BATCH_ROWS)

    def kernel_inputs(self):
        return self.lat, self.lng, self.polys


def _check_rows(manifest, want: int) -> None:
    rows = sum(p["rows"] for p in manifest.partitions.values())
    if rows != want:
        raise RuntimeError(f"snapshot holds {rows} rows, expected {want}")


def _new_bytes(m) -> int:
    """Bytes of the files snapshot `m` wrote itself (not carried over)."""
    return sum(p["bytes"] for p in m.partitions.values() if p.get("recomputed", True))


WORKLOADS = {w.name: w for w in (FlagshipJoin, InteractiveQueries)}
