"""Iceberg-style checkpointing: partitioned Parquet + an atomic JSON
manifest with per-partition lineage and counters.

The reference's analogue is `materialise` (persist collection +
provenance expression, fn materialise.go:37-176) and overlay worlds
(snapshot semantics, b6/ingest/worlds.go).  At sandbox scale we own the
table layout; on a cluster the same contract maps onto an Iceberg catalog
(snapshot id = Iceberg snapshot, partition entries = data files,
counters = snapshot summary).

Resumability contract (BASELINE.json north_rule): a killed job reloads
the manifest, skips partitions already marked complete, and recomputes
only the missing ones.  Manifest commit is write-temp-then-rename
(atomic on POSIX).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Manifest:
    root: str
    snapshot_id: str = field(default_factory=lambda: uuid.uuid4().hex)
    parent_id: str | None = None
    created_at: float = field(default_factory=time.time)
    provenance: str = ""
    partitions: dict[str, dict] = field(default_factory=dict)
    # clustered-lifecycle snapshots keep an immutable history entry for
    # time travel / incremental reads; checkpointed_run / write_snapshot
    # layouts overwrite their data in place, so history would be dead
    # weight accumulating one JSON per run -- they leave this False
    keep_history: bool = False
    # {"kind": "hilbert"} or {"kind": "spacetime", "ts": <col>} for the
    # clustered lifecycle -- append/compact read it so maintenance
    # preserves the table's layout instead of silently converting it
    layout: dict = field(default_factory=dict)
    # Spark schema JSON of the written table, so a zero-partition
    # snapshot can still be read with the table's real schema (Iceberg
    # keeps the schema in table metadata for the same reason)
    schema_json: str | None = None

    @property
    def path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def commit(self) -> None:
        tmp = self.path + f".tmp.{uuid.uuid4().hex}"
        payload = {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "created_at": self.created_at,
            "provenance": self.provenance,
            "layout": self.layout,
            "schema_json": self.schema_json,
            "partitions": self.partitions,
        }
        os.makedirs(self.root, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        if self.keep_history:
            # immutable history entry first, then the current pointer --
            # both atomic renames, so a crash between them leaves the
            # prior pointer valid (the orphan history entry is swept by
            # expire_snapshots)
            import shutil

            hist = os.path.join(self.root, f"manifest-{self.snapshot_id}.json")
            hist_tmp = hist + f".tmp.{uuid.uuid4().hex}"
            shutil.copyfile(tmp, hist_tmp)
            os.replace(hist_tmp, hist)
        os.replace(tmp, self.path)  # atomic commit of the current pointer

    @classmethod
    def load(cls, root: str, snapshot_id: str | None = None) -> "Manifest | None":
        """Load the current manifest, or -- given a snapshot id -- the
        immutable history entry for that snapshot (time travel)."""
        name = "manifest.json" if snapshot_id is None else f"manifest-{snapshot_id}.json"
        p = os.path.join(root, name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            data = json.load(f)
        m = cls(root=root)
        m.snapshot_id = data["snapshot_id"]
        m.parent_id = data.get("parent_id")
        m.created_at = data.get("created_at", 0.0)
        m.provenance = data.get("provenance", "")
        m.layout = data.get("layout", {})
        m.schema_json = data.get("schema_json")
        m.partitions = data.get("partitions", {})
        return m


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def checkpointed_run(
    spark: SparkSession,
    root: str,
    partition_keys: list[str],
    compute: Callable[[str], DataFrame],
    provenance: str = "",
) -> tuple[DataFrame, Manifest]:
    """Run `compute(key)` for each partition key not already complete in the
    manifest; write each result to `<root>/part=<key>/`, record lineage
    counters, and return (full result DataFrame, manifest).

    Completed partitions are NOT recomputed (their parquet is reused and
    their entry keeps recomputed=False) -- the kill/resume contract.
    """
    prior = Manifest.load(root)
    manifest = Manifest(root=root, provenance=provenance)
    if prior is not None:
        manifest.parent_id = prior.snapshot_id
    done: dict[str, dict] = dict(prior.partitions) if prior else {}

    for key in partition_keys:
        part_dir = os.path.join(root, f"part={key}")
        if key in done and done[key].get("status") == "complete" and os.path.isdir(part_dir):
            entry = dict(done[key])
            entry["recomputed"] = False
            manifest.partitions[key] = entry
            continue
        t0 = time.time()
        df = compute(key)
        df.write.mode("overwrite").parquet(part_dir)
        rows = spark.read.parquet(part_dir).count()
        manifest.partitions[key] = {
            "key": key,
            "path": part_dir,
            "rows": rows,
            "bytes": _dir_bytes(part_dir),
            "wall_ms": (time.time() - t0) * 1000.0,
            "status": "complete",
            "recomputed": True,
        }
        manifest.commit()  # durable after every partition -> kill-safe
    manifest.commit()
    paths = [manifest.partitions[k]["path"] for k in partition_keys]
    result = spark.read.parquet(*paths) if paths else spark.createDataFrame([], "dummy int")
    return result, manifest


def write_snapshot(df: DataFrame, root: str, partition_col: str, provenance: str = "") -> Manifest:
    """One-shot partitioned snapshot write with per-partition counters
    (used when the whole stage runs as a single Spark job; the
    per-partition counters come from a groupBy over the written data)."""
    prior = Manifest.load(root)
    m = Manifest(root=root, provenance=provenance, parent_id=prior.snapshot_id if prior else None)
    t0 = time.time()
    df.write.mode("overwrite").partitionBy(partition_col).parquet(os.path.join(root, "data"))
    spark = df.sparkSession
    written = spark.read.parquet(os.path.join(root, "data"))
    counts = {str(r[0]): r[1] for r in written.groupBy(partition_col).count().collect()}
    wall = (time.time() - t0) * 1000.0
    for k, n in counts.items():
        pdir = os.path.join(root, "data", f"{partition_col}={k}")
        m.partitions[k] = {
            "key": k,
            "path": pdir,
            "rows": n,
            "bytes": _dir_bytes(pdir),
            "wall_ms": wall / max(len(counts), 1),
            "status": "complete",
            "recomputed": True,
        }
    m.commit()
    return m


def write_clustered_snapshot(
    df: DataFrame,
    root: str,
    lat: str = "lat",
    lng: str = "lng",
    n_files: int | None = None,
    provenance: str = "",
) -> Manifest:
    """Spatially-clustered snapshot: the 100 TB table-layout story.

    Rows are range-partitioned AND sorted by their level-16 S2 cell id
    (S2 ids follow the Hilbert curve, so cell16 order IS spatial
    locality): each output file covers a compact, pairwise-disjoint cell
    range, and parquet's min/max column statistics on ``cell16`` let a
    spatial scan (cell-range predicate from any covering) prune whole
    files and row groups instead of reading the corpus.  This is the
    Z-ORDER/cluster-by analogue an Iceberg catalog would manage; at
    sandbox scale we own the layout directly.

    The manifest records each file's [cell_min, cell_max] so a planner
    (or a resume) can map a covering to the exact file set without
    touching parquet footers.
    """
    prior = Manifest.load(root)
    m = Manifest(
        root=root, provenance=provenance,
        parent_id=prior.snapshot_id if prior else None,
        keep_history=True,
        layout={"kind": "hilbert"},
    )
    _cluster_write(df, m, lat=lat, lng=lng, n_files=n_files, has_cells=False)
    m.commit()
    return m


def _cluster_write(
    df: DataFrame,
    m: Manifest,
    lat: str,
    lng: str,
    n_files: int | None,
    has_cells: bool,
    ts: str | None = None,
) -> None:
    """Range-partition `df` by cell16 -- or, with `ts`, by the Z-order
    space-time key -- write the files of snapshot `m` into its own
    immutable `data-<id>/` directory, and record one manifest entry per
    file with its [cell_min, cell_max] (plus [ts_min, ts_max] epoch
    seconds when `ts` is given).  Data files are never rewritten in
    place -- history manifests keep referencing the files of their own
    snapshot (the Iceberg immutable-data-file model), so time travel and
    incremental reads stay valid until `expire_snapshots` drops them."""
    from .operators.cover import spacetime_zvalue_col, with_point_cells

    spark = df.sparkSession
    nparts = n_files or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if not has_cells:
        df = with_point_cells(df, lat=lat, lng=lng).drop("bucket")
    # the layout's recorded bit allocation drives every (re)write of this
    # table, so appends/compactions cluster by the same curve
    zbits = int(m.layout.get("space_bits", 24))
    ztbits = m.layout.get("time_bits")
    ztbits = int(ztbits) if ztbits is not None else None
    zorigin = int(m.layout.get("time_origin_h", 0))
    if ts is None:
        clustered = (
            df.repartitionByRange(nparts, F.col("cell16"))
            .sortWithinPartitions("cell16")
        )
    else:
        zv = spacetime_zvalue_col(F.col("cell16"), F.col(ts), bits=zbits, time_bits=ztbits, time_origin_h=zorigin)
        clustered = (
            df.withColumn("_zv", zv)
            .repartitionByRange(nparts, F.col("_zv"))
            .sortWithinPartitions("_zv")
            .drop("_zv")
        )
    t0 = time.time()
    data_dir = os.path.join(m.root, f"data-{m.snapshot_id}")
    clustered.write.mode("overwrite").parquet(data_dir)
    written = spark.read.parquet(data_dir)
    m.schema_json = written.schema.json()
    aggs = [
        F.min("cell16").alias("cell_min"),
        F.max("cell16").alias("cell_max"),
        F.count("*").alias("rows"),
        # per-ROW null counts: F.min ignores nulls, so a file mixing null
        # and non-null rows would otherwise slip past the guard with a
        # box that silently excludes the null rows
        F.sum(F.col("cell16").isNull().cast("int")).alias("null_cells"),
    ]
    if ts is not None:
        from .operators.cover import spacetime_zvalue_col

        zv = spacetime_zvalue_col(F.col("cell16"), F.col(ts), bits=zbits, time_bits=ztbits, time_origin_h=zorigin)
        aggs += [
            F.min(F.col(ts).cast("long")).alias("ts_min"),
            F.max(F.col(ts).cast("long")).alias("ts_max"),
            F.sum(F.col(ts).isNull().cast("int")).alias("null_ts"),
            # Z-value ranges drive overlap_fraction for this layout --
            # raw cell16 ranges of adjacent Z-order files interleave by
            # design, so they cannot measure degradation here
            F.min(zv).alias("zv_min"),
            F.max(zv).alias("zv_max"),
        ]
    stats = (
        written.groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .collect()  # one row per output file -- bounded by n_files
    )
    wall = (time.time() - t0) * 1000.0
    # rows with null lat/lng have no cell id and would break both the
    # layout contract and the manifest sort -- fail loudly, the caller
    # owns filtering them
    if any(r["cell_min"] is None or r["null_cells"] for r in stats):
        raise ValueError(
            "write_clustered_snapshot: input has rows with null "
            f"coordinates ({lat}/{lng}); filter them before clustering"
        )
    if ts is not None and any(r["ts_min"] is None or r["null_ts"] for r in stats):
        raise ValueError(
            f"clustered write: input has rows with null {ts}; filter them first"
        )
    for r in sorted(stats, key=lambda r: r["cell_min"]):
        path = r["file"].removeprefix("file://")
        entry = {
            "key": os.path.basename(path),
            "path": path,
            "rows": r["rows"],
            "bytes": os.path.getsize(path) if os.path.isfile(path) else 0,
            "wall_ms": wall / max(len(stats), 1),
            "status": "complete",
            "recomputed": True,
            "cell_min": r["cell_min"],
            "cell_max": r["cell_max"],
        }
        if ts is not None:
            entry["ts_min"] = r["ts_min"]
            entry["ts_max"] = r["ts_max"]
            entry["zv_min"] = r["zv_min"]
            entry["zv_max"] = r["zv_max"]
        m.partitions[os.path.basename(path)] = entry


def write_spacetime_snapshot(
    df: DataFrame,
    root: str,
    ts: str,
    lat: str = "lat",
    lng: str = "lng",
    n_files: int | None = None,
    provenance: str = "",
    space_bits: int = 24,
    time_bits: int | None = None,
    time_origin_h: int = 0,
) -> Manifest:
    """Spatio-temporal snapshot: rows Z-order by (cell16 top bits x
    epoch hour), so per-file min/max boxes are tight on BOTH dimensions
    and a (cell range x time range) scan prunes files on both
    predicates via `files_for_box` -- the layout for event tables where
    every query carries a region AND a time window.  Same immutable
    per-snapshot dirs + manifest chain as the Hilbert layout.

    `space_bits`/`time_bits` tune the Z-curve's per-dimension
    resolution to the table's density (cover.suggest_zorder_bits
    measures it; pass time_bits=None for the symmetric default).  The
    allocation is RECORDED IN THE LAYOUT so appends and compactions
    keep clustering by the same curve instead of silently reverting to
    the default."""
    prior = Manifest.load(root)
    layout = {"kind": "spacetime", "ts": ts, "space_bits": space_bits}
    if time_bits is not None:
        layout["time_bits"] = time_bits
    if time_origin_h:
        layout["time_origin_h"] = int(time_origin_h)
    m = Manifest(
        root=root, provenance=provenance,
        parent_id=prior.snapshot_id if prior else None,
        keep_history=True,
        layout=layout,
    )
    _cluster_write(df, m, lat=lat, lng=lng, n_files=n_files, has_cells=False, ts=ts)
    m.commit()
    return m


def files_for_box(
    m: Manifest, cell_lo: int, cell_hi: int, ts_lo: int, ts_hi: int
) -> list[str]:
    """Manifest-level pruning on BOTH dimensions of a spacetime snapshot:
    files whose [cell_min, cell_max] x [ts_min, ts_max] box intersects
    the query box.  Entries without time stats are rejected (wrong
    layout) rather than silently unpruned."""
    entries = list(m.partitions.values())
    if not all("ts_min" in p and "cell_min" in p for p in entries):
        raise ValueError(
            "files_for_box: manifest carries no spacetime stats -- "
            "it was not written by write_spacetime_snapshot"
        )
    return [
        p["path"]
        for p in entries
        if not (p["cell_max"] < cell_lo or p["cell_min"] > cell_hi)
        and not (p["ts_max"] < ts_lo or p["ts_min"] > ts_hi)
    ]


def files_for_cell_range(m: Manifest, lo: int, hi: int) -> list[str]:
    """The file subset whose [cell_min, cell_max] intersects [lo, hi] --
    manifest-level pruning for a spatial scan (no footer reads).  Only
    meaningful for write_clustered_snapshot manifests: entries without
    cell stats (plain write_snapshot / checkpointed_run) are rejected
    rather than silently mis-pruned."""
    entries = list(m.partitions.values())
    if not all("cell_min" in p and "cell_max" in p for p in entries):
        raise ValueError(
            "files_for_cell_range: manifest carries no cell ranges -- "
            "it was not written by write_clustered_snapshot"
        )
    return [
        p["path"]
        for p in entries
        if not (p["cell_max"] < lo or p["cell_min"] > hi)
    ]


# --- snapshot lifecycle: append / time travel / incremental / compact ------
#
# The Iceberg-analogue table-maintenance surface over the clustered
# layout.  Every snapshot's data files are immutable (written once into
# their own `data-<id>/` dir); a child manifest references the parent's
# surviving files plus its own new ones, so:
#   * time travel  = read the file list of any retained manifest,
#   * incremental  = files in `to` whose key is absent from `from`,
#   * compaction   = one new snapshot whose files re-cluster the whole
#     table (restoring pairwise-disjoint cell ranges after appends),
#   * expiry       = drop manifests past a retention depth and any data
#     dir no retained manifest references.


def append_clustered_snapshot(
    df: DataFrame,
    root: str,
    lat: str = "lat",
    lng: str = "lng",
    n_files: int | None = None,
    provenance: str = "",
) -> Manifest:
    """Append new rows as a child snapshot: the parent's files carry over
    untouched, the new rows cluster-write into the child's own data dir.
    Per-file cell ranges stay recorded, but ranges of files from
    different generations may overlap -- `files_for_cell_range` stays
    correct (it tests every file), and `compact_snapshot` restores
    global disjointness."""
    prior = Manifest.load(root)
    if prior is None:
        return write_clustered_snapshot(
            df, root, lat=lat, lng=lng, n_files=n_files, provenance=provenance
        )
    m = Manifest(
        root=root, provenance=provenance, parent_id=prior.snapshot_id,
        keep_history=True, layout=dict(prior.layout) or {"kind": "hilbert"},
    )
    m.partitions = {
        k: dict(e, recomputed=False) for k, e in prior.partitions.items()
    }
    _cluster_write(
        df, m, lat=lat, lng=lng, n_files=n_files, has_cells=False,
        ts=m.layout.get("ts"),
    )
    m.commit()
    return m


def read_snapshot(spark: SparkSession, root: str, as_of: str | None = None) -> DataFrame:
    """Read the table at the current snapshot, or -- with `as_of` -- at a
    retained historical snapshot id (time travel).

    Schema evolution: appended generations may carry columns the parent
    files lack (or drop columns the parent had) -- reads merge the file
    schemas (parquet `mergeSchema`), older rows surface NULL for columns
    added later, exactly Iceberg's add-column semantics.  Column type
    CHANGES are not reconciled (parquet refuses the merge) -- rewrite
    via `compact_snapshot` after a cast instead."""
    m = Manifest.load(root, snapshot_id=as_of)
    if m is None:
        which = f"snapshot {as_of}" if as_of else "current snapshot"
        raise FileNotFoundError(f"read_snapshot: no manifest for {which} under {root}")
    paths = [e["path"] for e in m.partitions.values()]
    if not paths:
        # a legitimately-empty snapshot must still present the table's
        # real schema so downstream column references behave identically
        # to the non-empty case; manifests written before schema_json
        # existed raise rather than guessing a schema
        if m.schema_json:
            from pyspark.sql import types as _T

            return spark.createDataFrame(
                [], _T.StructType.fromJson(json.loads(m.schema_json))
            )
        raise ValueError(
            f"read_snapshot: snapshot {m.snapshot_id} under {root} has no "
            "data files and its manifest predates schema persistence -- "
            "cannot construct an empty DataFrame with the table schema"
        )
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_incremental(
    spark: SparkSession, root: str, from_id: str, to_id: str | None = None
) -> DataFrame:
    """Rows appended strictly after snapshot `from_id`, up to `to_id`
    (default: current) -- the Iceberg incremental-append scan: the file
    sets are compared by manifest key, no data read beyond the new
    files themselves.

    Only valid over an APPEND-ONLY stretch of history: `from_id` must be
    an ancestor of `to`, and no intervening snapshot may have dropped a
    file (a compaction or overwrite rewrites the whole table, so "files
    in to but not in from" would be the entire corpus, not the appended
    rows).  Both conditions raise, matching Iceberg's refusal to
    incremental-scan across replace snapshots."""
    frm = Manifest.load(root, snapshot_id=from_id)
    to = Manifest.load(root, snapshot_id=to_id)
    if frm is None or to is None:
        raise FileNotFoundError(
            f"read_incremental: missing manifest (from={from_id}, to={to_id})"
        )
    ancestor = to
    while ancestor is not None and ancestor.snapshot_id != from_id:
        ancestor = (
            Manifest.load(root, snapshot_id=ancestor.parent_id)
            if ancestor.parent_id
            else None
        )
    if ancestor is None:
        raise ValueError(
            f"read_incremental: {from_id} is not an ancestor of "
            f"{to.snapshot_id} in the retained history"
        )
    removed = [k for k in frm.partitions if k not in to.partitions]
    if removed:
        raise ValueError(
            "read_incremental: history between the snapshots is not "
            f"append-only ({len(removed)} file(s) were replaced -- a "
            "compaction or overwrite); read the target snapshot instead"
        )
    new = [e["path"] for k, e in to.partitions.items() if k not in frm.partitions]
    if not new:
        return read_snapshot(spark, root, as_of=to.snapshot_id).limit(0)
    return spark.read.option("mergeSchema", "true").parquet(*new)


def snapshot_log(root: str) -> list[Manifest]:
    """The retained snapshot chain, oldest first, walked from the current
    manifest through parent ids (expired ancestors end the walk)."""
    chain: list[Manifest] = []
    m = Manifest.load(root)
    while m is not None:
        chain.append(m)
        m = Manifest.load(root, snapshot_id=m.parent_id) if m.parent_id else None
    return list(reversed(chain))


def compact_snapshot(
    spark: SparkSession,
    root: str,
    n_files: int | None = None,
    provenance: str = "compact",
) -> Manifest:
    """Rewrite the whole table as one freshly-clustered snapshot
    (Iceberg's rewrite_data_files): rows are unchanged, files become
    pairwise-disjoint in cell16 again after a run of appends.  Old
    files stay on disk for time travel until `expire_snapshots`."""
    prior = Manifest.load(root)
    if prior is None:
        raise FileNotFoundError(f"compact_snapshot: no snapshot under {root}")
    current = read_snapshot(spark, root)
    m = Manifest(
        root=root, provenance=provenance, parent_id=prior.snapshot_id,
        keep_history=True, layout=dict(prior.layout) or {"kind": "hilbert"},
    )
    _cluster_write(
        current, m, lat="lat", lng="lng", n_files=n_files, has_cells=True,
        ts=m.layout.get("ts"),
    )
    m.commit()
    return m


def expire_snapshots(root: str, keep: int = 2, grace_s: float = 0.0) -> list[str]:
    """Drop history manifests beyond the newest `keep` in the current
    chain, then delete any `data-<id>` directory no retained manifest
    references.  Returns the removed paths.  The current snapshot is
    always retained (keep < 1 is rejected).

    SINGLE-WRITER maintenance op: an in-flight concurrent commit (history
    entry written, current pointer not yet flipped) is indistinguishable
    from a crash orphan, so sweeping while another writer commits would
    delete the about-to-commit snapshot's manifest and data.  Run it from
    the table's one writer (Iceberg imposes the same rule on
    expire_snapshots).  When a concurrent sweeper is unavoidable, pass
    `grace_s` > the writer's worst-case commit latency: manifests (and
    their data dirs) younger than `grace_s` seconds are left alone."""
    import shutil

    if keep < 1:
        raise ValueError("expire_snapshots: keep must be >= 1")
    now = time.time()
    chain = snapshot_log(root)
    kept = chain[-keep:]
    kept_ids = {m.snapshot_id for m in kept}
    young_ids: set[str] = set()
    removed: list[str] = []
    # every history manifest outside the kept set goes -- dropped chain
    # ancestors AND orphans a crashed commit left behind (history written,
    # pointer never flipped)
    for name in sorted(os.listdir(root)):
        if not (name.startswith("manifest-") and name.endswith(".json")):
            continue
        sid = name[len("manifest-"):-len(".json")]
        if sid not in kept_ids:
            full = os.path.join(root, name)
            if grace_s > 0.0 and now - os.path.getmtime(full) < grace_s:
                young_ids.add(sid)  # possibly an in-flight commit
                continue
            os.remove(full)
            removed.append(full)
    live_dirs = {
        os.path.dirname(e["path"]) for m in kept for e in m.partitions.values()
    }
    for name in sorted(os.listdir(root)):
        full = os.path.join(root, name)
        if name.startswith("data-") and os.path.isdir(full) and full not in live_dirs:
            # data of a possibly in-flight commit: its manifest was young,
            # or (data dirs are written BEFORE the manifest) no manifest
            # exists yet but the dir itself is younger than the grace
            if name.removeprefix("data-") in young_ids:
                continue
            if grace_s > 0.0 and now - os.path.getmtime(full) < grace_s:
                continue
            shutil.rmtree(full)
            removed.append(full)
    return removed


def overlap_fraction(m: Manifest) -> float:
    """Layout-degradation metric: the fraction of adjacent file pairs
    (in clustering-key order) whose key ranges interleave.  A freshly
    clustered snapshot scores 0.0; every append generation can push it
    up.  Drives the compaction policy without reading any data.  The
    clustering key is the Z-value for spacetime layouts (raw cell16
    ranges of adjacent Z-order files interleave BY DESIGN and would
    read as permanently degraded) and cell16 for Hilbert layouts."""
    entries = list(m.partitions.values())
    if not entries:
        # an empty table has no layout to degrade; returning 0.0 keeps
        # maybe_compact a no-op instead of tripping the layout guard
        return 0.0
    if all("zv_min" in p for p in entries):
        lo, hi = "zv_min", "zv_max"
    elif all("cell_min" in p for p in entries):
        lo, hi = "cell_min", "cell_max"
    else:
        raise ValueError(
            "overlap_fraction: manifest carries no clustering-key ranges -- "
            "it was not written by the clustered-snapshot lifecycle"
        )
    parts = sorted(entries, key=lambda p: p[lo])
    if len(parts) < 2:
        return 0.0
    # inclusive overlap (>=): adjacent files sharing a boundary key value
    # (repartitionByRange may split equal keys) both serve a key-range
    # scan, matching files_for_cell_range's inclusive intersection
    overlapping = sum(1 for a, b in zip(parts, parts[1:]) if a[hi] >= b[lo])
    return overlapping / (len(parts) - 1)


def maybe_compact(
    spark: SparkSession,
    root: str,
    threshold: float = 0.25,
    n_files: int | None = None,
) -> Manifest | None:
    """Compaction policy: rewrite the table only when the layout has
    degraded past `threshold` (overlap_fraction of the current
    manifest).  Returns the new manifest, or None when the layout is
    still tight -- the maintenance loop a 100 TB table runs after every
    append batch without paying a rewrite each time."""
    m = Manifest.load(root)
    if m is None:
        raise FileNotFoundError(f"maybe_compact: no snapshot under {root}")
    if overlap_fraction(m) <= threshold:
        return None
    return compact_snapshot(spark, root, n_files=n_files, provenance="auto-compact")
