"""End-to-end spine tests (SURVEY.md §7.1 step 2): fixture generation,
containment join (both strategies) vs brute-force numpy oracle, tile
assignment, golden counts in the b6_test.py style (FIXTURES.md §3)."""

import numpy as np
import pandas as pd
import pytest

from diagonal_b6_spark import fixtures
from diagonal_b6_spark.kernels import geom, imagecodec as ic
from diagonal_b6_spark.operators import cover as cover_ops
from diagonal_b6_spark.operators import spatial_join
from diagonal_b6_spark.pipeline import tile_assignments

N = 1000


@pytest.fixture(scope="module")
def images(spark):
    df = fixtures.images_table(spark, N, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def feats(spark):
    return fixtures.features_table(spark)


@pytest.fixture(scope="module")
def images_pd(images):
    return images.select("image_id", "lat", "lng", "fmt", "w", "h", "bytes", "caption").toPandas()


def brute_force_containment(images_pd, feature_rows):
    pairs = set()
    for f in feature_rows:
        if f["feature_type"] != "area":
            continue
        inside = geom.points_in_polygon(
            images_pd["lng"].to_numpy(),
            images_pd["lat"].to_numpy(),
            np.array(f["xs"]),
            np.array(f["ys"]),
            np.array(f["ring_offsets"]),
        )
        for img in images_pd.loc[inside, "image_id"]:
            pairs.add((img, f["feature_id"]))
    return pairs


def test_images_table_deterministic_and_decodable(images_pd):
    assert len(images_pd) == N
    assert images_pd["image_id"].is_unique
    # per-row invariant: decoded pixels allclose / PSNR>=40, captions match formula
    sample = images_pd.sample(40, random_state=1)
    for _, r in sample.iterrows():
        i = int(r["image_id"][3:])
        expect = ic.pix(i, r["w"], r["h"])
        got = ic.decode(bytes(r["bytes"]), r["fmt"])
        if r["fmt"] == "lossy":
            assert ic.psnr(expect, got) >= 40.0
        else:
            assert (got == expect).all()
        assert r["caption"] == f"caption for img{i:012d}: {fixtures.ADJ[i % 7]} {fixtures.NOUN[i % 11]}"


def test_dense_cluster_present(images_pd):
    d = geom.haversine_m(
        images_pd["lat"].to_numpy(), images_pd["lng"].to_numpy(), fixtures.DENSE_LAT, fixtures.DENSE_LNG
    )
    assert (d <= fixtures.DENSE_R_M + 1).sum() >= N // 100  # 1% in the dense disk


@pytest.mark.parametrize("strategy", ["broadcast", "bucketed"])
def test_containment_join_matches_bruteforce(spark, images, feats, images_pd, strategy):
    pts = cover_ops.with_point_cells(images)
    if strategy == "broadcast":
        result = spatial_join.containment_join_broadcast(pts, feats)
    else:
        result = spatial_join.containment_join_bucketed(pts, feats, salt=4)
    got = {(r["image_id"], r["feature_id"]) for r in result.collect()}
    want = brute_force_containment(images_pd, fixtures.feature_rows())
    assert got == want, (
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]} "
        f"(|want|={len(want)}, |got|={len(got)})"
    )
    assert len(want) > 0  # the fixture must actually exercise the join


def test_poi_golden_counts(spark, feats):
    """FIXTURES.md §3 expected_counts: points-in-square=10, hole-solid=5."""
    pois = feats.filter(feats.feature_type == "point").select(
        feats.feature_id.alias("image_id"),
        feats.ys[0].alias("lat"),
        feats.xs[0].alias("lng"),
    )
    pts = cover_ops.with_point_cells(pois)
    res = spatial_join.containment_join_broadcast(pts, feats).toPandas()
    per_area = res.groupby("feature_id")["image_id"].count().to_dict()
    assert per_area.get("area/test/1", 0) == 10  # inside square
    assert per_area.get("area/test/2", 0) == 5  # hole's solid part
    assert len(res) == 15  # 5 POIs outside all areas


def _cap_points(clat, clng, radius_m):
    """A seeded global point set, plus points on the centre's meridian at
    the band edges clat +- m (m = the radius in latitude degrees), 1e-12
    degrees either side of them, and a few ulps either side of them."""
    from diagonal_b6_spark.operators.gridjoin import margin_deg

    rng = np.random.default_rng(20261020)
    lat = list(np.degrees(np.arcsin(rng.uniform(-1, 1, 4000))))
    lng = list(rng.uniform(-180, 180, 4000))
    m = margin_deg(radius_m)
    edge = [clat]
    for e in (clat - m, clat + m):
        edge += [e - 1e-12, e, e + 1e-12]
        lo = hi = e
        for _ in range(3):
            lo, hi = np.nextafter(lo, -np.inf), np.nextafter(hi, np.inf)
            edge += [lo, hi]
    edge = [v for v in edge if -90.0 <= v <= 90.0]
    return pd.DataFrame(
        {
            "image_id": [f"p{k}" for k in range(len(lat) + len(edge))],
            "lat": lat + edge,
            "lng": lng + [clng] * len(edge),
        }
    )


@pytest.mark.parametrize(
    "clat,clng,radius_m",
    [
        (51.535, -0.125, 300.0),
        (89.99, 10.0, 5_000_000.0),
        (-89.99, -170.0, 1.0),
        (12.5, 179.9999, 5_000_000.0),
        (-33.0, -179.9999, 1.0),
        (60.7, 23.4, 0.0),
        (-61.1, 100.0, 1.0),
        (0.0, 0.0, 21_000_000.0),
    ],
    ids=[
        "london-300m", "north-pole-5000km", "south-pole-1m", "antimeridian-east-5000km",
        "antimeridian-west-1m", "zero-radius", "high-lat-1m", "whole-sphere-21000km",
    ],
)
def test_distance_join_cap(spark, tmp_path, clat, clng, radius_m):
    """The latitude band never drops a hit: the cap equals the same
    parquet table filtered by the haversine alone.  The plan has no
    Python node and pushes the `lat` band into the scan."""
    from diagonal_b6_spark.operators.gridjoin import haversine_col
    from pyspark.sql import functions as F

    path = str(tmp_path / "points.parquet")
    spark.createDataFrame(_cap_points(clat, clng, radius_m)).write.parquet(path)
    pts = spark.read.parquet(path)
    res = spatial_join.distance_join(pts, clat, clng, radius_m)
    got = {r["image_id"] for r in res.select("image_id").collect()}
    dist = haversine_col(F.col("lat"), F.col("lng"), F.lit(clat), F.lit(clng))
    want = {r["image_id"] for r in pts.filter(dist <= radius_m).select("image_id").collect()}
    assert got == want and len(want) > 0
    plan = res._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, plan
    pushed = [ln.split("PushedFilters:")[1] for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "GreaterThanOrEqual(lat," in pushed[0], plan
    assert "LessThanOrEqual(lat," in pushed[0], plan
    # the haversine is evaluated once per row: no projected copy of it
    assert plan.count("ASIN(") == 1, plan
    assert res.columns == pts.columns


def test_tile_assignments_match_oracle(spark, images, images_pd):
    res = tile_assignments(images, zooms=(12, 16)).toPandas()
    assert len(res) == 2 * N
    for z in (12, 16):
        sub = res[res["zoom"] == z].set_index("image_id")
        xt, yt = geom.latlng_to_tile(images_pd["lat"].to_numpy(), images_pd["lng"].to_numpy(), z)
        for k, img in enumerate(images_pd["image_id"]):
            assert sub.loc[img, "tile_x"] == xt[k]
            assert sub.loc[img, "tile_y"] == yt[k]


def test_run_flagship_one_counter_path(spark, tmp_path):
    """Both strategies, with and without a checkpoint, return the same
    counters; the tile checksum is the sum over tile_assignments and the
    containment and kNN counters match numpy oracles."""
    from pyspark.sql import functions as F

    from diagonal_b6_spark.pipeline import poi_list, run_flagship

    n = 2000
    runs = {
        (strategy, ckpt): run_flagship(
            spark,
            n,
            checkpoint_root=str(tmp_path / strategy) if ckpt else None,
            strategy=strategy,
        )
        for strategy in ("broadcast", "bucketed")
        for ckpt in (False, True)
    }
    want = runs[("bucketed", False)]
    for key, got in runs.items():
        assert got == want, key
    assert want["tile_checksum"] is not None
    assert want["images"] == n and want["tile_rows"] == 2 * n

    images = fixtures.images_table(spark, n)
    tile_ck = tile_assignments(images, zooms=(12, 16)).agg(
        F.sum(F.col("tile_x") + F.col("tile_y"))
    ).collect()[0][0]
    assert want["tile_checksum"] == tile_ck

    pdf = images.select("image_id", "lat", "lng").toPandas()
    pairs = brute_force_containment(pdf, fixtures.feature_rows())
    assert want["containment_pairs"] == len(pairs) > 0
    lat, lng = pdf["lat"].to_numpy(), pdf["lng"].to_numpy()
    dist = np.min([geom.haversine_m(lat, lng, plat, plng) for _, plat, plng in poi_list(spark)], axis=0)
    assert want["knn_checksum"] == pytest.approx(np.round(dist, 3).sum(), abs=0.2)


def _write_images(spark, path, columns):
    fixtures.images_table(spark, 200).select(*columns).write.parquet(path)
    return path


@pytest.mark.parametrize("missing", ["lat", "image_id"])
def test_run_flagship_raises_on_missing_column(spark, tmp_path, missing):
    """A table without a contract column reads as nulls under the
    contract schema; run_flagship raises instead of counting 0 pairs."""
    from diagonal_b6_spark.pipeline import run_flagship

    columns = [c for c in ("image_id", "lat", "lng", "caption") if c != missing]
    path = _write_images(spark, str(tmp_path / "images"), columns)
    with pytest.raises(ValueError, match=f"`{missing}`"):
        run_flagship(spark, 200, images_path=path)


def test_read_images_starts_no_job(spark, tmp_path):
    """Building the images read starts no Spark job (no schema
    inference); a plain parquet read of the same files does."""
    import time

    from diagonal_b6_spark.pipeline import read_images

    path = _write_images(spark, str(tmp_path / "images"), ["image_id", "lat", "lng"])
    sc = spark.sparkContext
    sc.setJobGroup("read_images", "contract-schema read")
    df = read_images(spark, path)
    sc.setJobGroup("infer_schema", "schema-inferring read")
    spark.read.parquet(path)
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    # listener events arrive in order: once the second group's job shows,
    # any job of the first group has shown too
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("infer_schema") and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("infer_schema")
    assert tracker.getJobIdsForGroup("read_images") == []
    assert df.schema == spark.createDataFrame([], fixtures.IMAGE_SCHEMA).schema


_EDGE_LATS = [90.0, -90.0, 85.05112878, -85.05112878, 85.051128785, -85.051128785, 0.0]
_EDGE_LNGS = [180.0, -180.0, np.nextafter(180.0, 0.0), np.nextafter(-180.0, 0.0), 0.0]


def _edge_points(spark, n=2000, seed=12):
    rng = np.random.default_rng(seed)
    lat = np.concatenate([rng.uniform(-90, 90, n), np.repeat(_EDGE_LATS, len(_EDGE_LNGS))])
    lng = np.concatenate([rng.uniform(-180, 180, n), np.tile(_EDGE_LNGS, len(_EDGE_LATS))])
    pdf = pd.DataFrame({"k": np.arange(len(lat)), "lat": lat, "lng": lng})
    return pdf, spark.createDataFrame(pdf)


def _geohash_np(lat, lng, precision):
    """numpy geohash: the same bit grids, interleaved lng first."""
    nbits = 5 * precision
    lngbits, latbits = (nbits + 1) // 2, nbits // 2
    x = np.clip(np.floor((lng + 180.0) / 360.0 * float(1 << lngbits)), 0, (1 << lngbits) - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * float(1 << latbits)), 0, (1 << latbits) - 1).astype(np.int64)
    v = np.zeros(len(lat), dtype=np.int64)
    for i in range(nbits):
        src, nb, j = (x, lngbits, i // 2) if i % 2 == 0 else (y, latbits, i // 2)
        v |= ((src >> (nb - 1 - j)) & 1) << (nbits - 1 - i)
    alphabet = np.array(list("0123456789bcdefghjkmnpqrstuvwxyz"))
    digits = [alphabet[(v >> (5 * (precision - 1 - k))) & 31] for k in range(precision)]
    return ["".join(t) for t in zip(*digits)]


def test_tile_and_geohash_text_match_numpy(spark):
    """The SQL-text tile and geohash columns equal the numpy formulas on
    random points and at the clamp and antimeridian edges."""
    pdf, df = _edge_points(spark)
    zooms, precisions = (0, 1, 12, 15, 16, 20), (1, 5, 8, 12)
    cols = [c.alias(f"{a}{z}") for z in zooms for a, c in zip("xy", cover_ops.tile_xy_cols(z))]
    cols += [cover_ops.geohash_col(p).alias(f"g{p}") for p in precisions]
    got = df.select("k", *cols).toPandas().sort_values("k")
    lat, lng = pdf["lat"].to_numpy(), pdf["lng"].to_numpy()
    for z in zooms:
        xt, yt = geom.latlng_to_tile(lat, lng, z)
        assert np.array_equal(got[f"x{z}"].to_numpy(), xt), z
        assert np.array_equal(got[f"y{z}"].to_numpy(), yt), z
    for p in precisions:
        assert got[f"g{p}"].tolist() == _geohash_np(lat, lng, p), p


def test_nearest_text_chains_match_haversine(spark):
    """nearest_dist_expr and nearest_expr equal, bit for bit, the least of
    the per-POI haversine_col distances (the Column rendering of the same
    formula), with ties going to the least id; and they agree with
    geom.haversine_m to the last ulps (the JVM's and numpy's sin/cos
    differ there, so no Spark form is bit-exact against numpy)."""
    from pyspark.sql import functions as F

    from diagonal_b6_spark.operators import knn
    from diagonal_b6_spark.operators.gridjoin import haversine_col
    from diagonal_b6_spark.pipeline import poi_list

    pois = poi_list(spark) + [("it's\\a 'quoted' id", -33.86, 151.21)]
    pdf, df = _edge_points(spark)
    per_poi = [
        haversine_col(F.lit(plat), F.lit(plng), F.col("lat"), F.col("lng")).alias(f"h{i}")
        for i, (_, plat, plng) in enumerate(pois)
    ]
    got = (
        knn.nearest_expr(df, pois)
        .select("k", "nearest_poi", "nearest_dist_m", knn.nearest_dist_expr(pois).alias("d"), *per_poi)
        .toPandas()
        .sort_values("k")
    )
    dist = got[[f"h{i}" for i in range(len(pois))]].to_numpy().T
    best = dist.min(axis=0)
    assert np.array_equal(got["d"].to_numpy(), best)
    assert np.array_equal(got["nearest_dist_m"].to_numpy(), best)
    ids = np.array([pid for pid, _, _ in pois], dtype=object)
    assert got["nearest_poi"].tolist() == [min(ids[dist[:, j] == best[j]]) for j in range(len(best))]
    lat, lng = pdf["lat"].to_numpy(), pdf["lng"].to_numpy()
    want = np.array([geom.haversine_m(plat, plng, lat, lng) for _, plat, plng in pois])
    np.testing.assert_allclose(dist, want, rtol=1e-14, atol=0)


def test_antimeridian_containment(spark, feats):
    probe = spark.createDataFrame(
        [("p_east", 0.0, 179.9995), ("p_west", 0.0, -179.9995), ("p_out", 0.0, 178.0)],
        "image_id string, lat double, lng double",
    )
    res = spatial_join.containment_join_broadcast(
        cover_ops.with_point_cells(probe), feats
    ).toPandas()
    hits = set(res["image_id"])
    assert hits == {"p_east", "p_west"}


def test_knn_grid_equals_bruteforce(spark):
    """The ring-expansion kNN (equi-join plan) must return exactly the
    brute-force result, probe for probe, rank for rank."""
    from diagonal_b6_spark import catalog

    sf = "/root/testdata/sf0.001"
    brute = sorted(
        tuple(r) for r in catalog.q_geo_knn(spark, sf).collect()
    )
    grid = sorted(
        tuple(r) for r in catalog.q_geo_knn_grid(spark, sf).collect()
    )
    assert grid == brute
    assert len(grid) == catalog.N_PROBES * catalog.KNN_K


def test_broadcast_containment_plans_hash_join(spark):
    """Round-1 range-condition broadcast planned as BroadcastNestedLoopJoin
    (O(N*M)); the bucket-equi-key explode must plan a hash join, and the
    salted builder copies its cover rows by an explode, not by a nested-
    loop cross join.  Both builders cover the polygon side in one Python
    pass: the point side's cell16_udf is the plan's one ArrowEvalPython
    (evaluated once, not per reference), exactly two MapInPandas nodes
    (the cover pass and the refine), and a JVM-local feature scan rather
    than a pickled Python RDD."""
    from diagonal_b6_spark import fixtures
    from diagonal_b6_spark.operators import spatial_join

    from pyspark.sql import functions as F
    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.lit(51.52) + F.col("id") * 1e-4).alias("lat"),
        (F.lit(-0.14) + F.col("id") * 1e-4).alias("lng"),
    )
    feats = fixtures.features_table(spark)
    for builder in (
        spatial_join.containment_join_broadcast,
        spatial_join.containment_join_bucketed,
    ):
        out = builder(pts, feats, point_id="pid")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, builder.__name__
        assert plan.count("BroadcastNestedLoopJoin") == 0, builder.__name__
        python_evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
        assert len(python_evals) == 1 and "cell16_udf(" in python_evals[0], plan
        assert plan.count("MapInPandas") == 2, plan
        assert "MapInPandas cover_cells(" in plan and "MapInPandas refine(" in plan
        assert "ExistingRDD" not in plan, plan


def test_containment_rejects_bad_salt_and_strategy(spark, images, feats):
    """A salt below 1 or an unknown strategy raises instead of returning
    a silently wrong (empty) pair set."""
    from diagonal_b6_spark.pipeline import containment_pipeline

    for salt in (0, -2):
        with pytest.raises(ValueError, match="salt"):
            spatial_join.containment_join_bucketed(images, feats, salt=salt)
    with pytest.raises(ValueError, match="strategy"):
        containment_pipeline(spark, images, feats, strategy="salted")
    # salt 1 is the broadcast plan and answers the same as any salt
    one = spatial_join.containment_join_bucketed(images, feats, salt=1)
    assert one.count() == spatial_join.containment_join_bucketed(images, feats, salt=3).count() > 0


def test_cover_index_matches_cover_kernel(spark):
    """feature_cover_index emits exactly the cover kernels' rows, one per
    (feature, covering cell) in kernel order, each carrying the feature's
    geometry and the bucket keys of that one cell.  A 12 km square is
    covered by cells coarser than BUCKET_LEVEL, so its rows carry several
    bucket keys."""
    from diagonal_b6_spark.kernels import cellmath as cm

    xs, ys = fixtures._square(51.50, -0.12, 6000.0)
    big = {
        "feature_id": "area/test/big", "feature_type": "area", "ns": "test/fixtures",
        "tags": {}, "xs": xs, "ys": ys, "ring_offsets": [0],
    }
    rows = [f for f in fixtures.feature_rows() if f["feature_type"] == "area"] + [big]
    feats = spark.createDataFrame(pd.DataFrame(rows), schema=fixtures.FEATURE_SCHEMA)
    got: dict[str, list] = {}
    for r in cover_ops.feature_cover_index(feats).collect():
        f = next(f for f in rows if f["feature_id"] == r.feature_id)
        assert (r.feature_type, r.xs, r.ys, r.ring_offsets) == (
            f["feature_type"], f["xs"], f["ys"], f["ring_offsets"]
        )
        got.setdefault(r.feature_id, []).append(
            {"cell": r.cell, "rmin": r.rmin, "rmax": r.rmax, "level": r.cell_level,
             "buckets": list(r.buckets)}
        )
    for f in rows:
        xs, ys = np.asarray(f["xs"]), np.asarray(f["ys"])
        if f["feature_type"] == "point" or len(xs) == 1:
            cells = cm.cell_id_from_latlng(ys[:1], xs[:1], cm.MAX_INDEX_LEVEL)
        else:
            cells = cm.covering_ring(
                xs, ys, max_cells=cm.MAX_COVERING_CELLS, max_level=cm.MAX_INDEX_LEVEL
            )
        want = [
            {
                "cell": int(cm.id_to_signed(cell)[0]),
                "rmin": int(cm.id_to_signed(cm.range_min(cell))[0]),
                "rmax": int(cm.id_to_signed(cm.range_max(cell))[0]),
                "level": int(cm.level(cell)[0]),
                "buckets": cm.id_to_signed(
                    cm.expand_to_bucket_level(cell, cm.BUCKET_LEVEL)[0]
                ).tolist(),
            }
            for cell in (cells[k : k + 1] for k in range(len(cells)))
        ]
        assert got[f["feature_id"]] == want, f["feature_id"]
    big_rows = got["area/test/big"]
    assert min(c["level"] for c in big_rows) < cm.BUCKET_LEVEL
    assert max(len(c["buckets"]) for c in big_rows) > 1


def test_knn_grid_construction_is_lazy(spark):
    """Single-job knn_grid: no driver-side ring loop, so building the
    DataFrame launches zero jobs (round 1 ran isEmpty per ring), and no
    nested-loop join replicates the probes over the ring offsets."""
    import time
    from diagonal_b6_spark.operators import knn
    from pyspark.sql import functions as F

    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.lit(51.5) + F.col("id") * 1e-3).alias("lat"),
        (F.lit(-0.1) + F.col("id") * 1e-3).alias("lng"),
    )
    probes = spark.range(4).select(
        F.col("id").alias("probe_id"),
        (F.lit(51.5) + F.col("id") * 1e-2).alias("lat"),
        (F.lit(-0.1) + F.col("id") * 1e-2).alias("lng"),
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = knn.knn_grid(pts, probes, 3, point_id="pid")
    time.sleep(0.2)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    # the ring offsets are two explodes on the probe rows, not a cross join
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert plan.count("Generate explode") == 2, plan
    assert df.count() > 0


def test_segment_intersections_street_crosses_square(spark):
    """IntersectsPolyline: the fixture street crosses the building
    square boundary exactly twice (in and out)."""
    from diagonal_b6_spark import fixtures
    from diagonal_b6_spark.operators import network as net_ops
    from diagonal_b6_spark.operators import sightline as sl_ops
    from diagonal_b6_spark.operators import spatial_join
    from pyspark.sql import functions as F

    feats = fixtures.features_table(spark)
    segs_a = net_ops.path_segments(feats.filter(F.col("feature_type") == "path"))
    segs_b = sl_ops.ring_segments_with_ids(
        feats.filter(F.col("feature_id") == "area/test/1")
    )
    out = spatial_join.segment_intersections(segs_a, segs_b).collect()
    assert len(out) == 2
    assert all(r["id_b"] == "area/test/1" for r in out)
    # both crossing points lie ON the square's boundary x-range
    for r in out:
        assert 51.533 < r["iy"] < 51.537


def test_tile_pyramid_apply_delta_semantics(spark):
    """Incremental pyramid maintenance: zero-count tiles drop (equal to a
    full rebuild), and a removed set that is not a subset of the indexed
    points raises instead of going negative."""
    import pytest
    from pyspark.sql import functions as F

    from diagonal_b6_spark.pipeline import (
        tile_assignments,
        tile_pyramid_apply_delta,
        tile_pyramid_rollup,
    )

    pts = spark.range(40).select(
        F.col("id").alias("image_id"),
        (F.lit(51.0) + F.col("id") * 0.01).alias("lat"),
        (F.lit(-0.2) + F.col("id") * 0.01).alias("lng"),
    )
    base = pts.filter("image_id < 30")
    added = pts.filter("image_id >= 30")
    removed = pts.filter("image_id < 10")
    pyramid = tile_pyramid_rollup(tile_assignments(base, zooms=(12,)), 12, 10)
    got = tile_pyramid_apply_delta(pyramid, added, removed, 12, 10)
    final = pts.filter("image_id >= 10")
    want = tile_pyramid_rollup(tile_assignments(final, zooms=(12,)), 12, 10)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # every fully-vacated tile is gone, not present with n=0
    assert got.filter("n <= 0").count() == 0

    not_subset = pts.filter("image_id >= 35")  # overlaps `added`, not in base
    bad = tile_pyramid_apply_delta(pyramid, added.limit(0), not_subset, 12, 10)
    with pytest.raises(Exception, match="not a subset"):
        bad.collect()
