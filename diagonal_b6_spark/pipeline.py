"""The flagship pipeline (SURVEY.md §7.1 step 2, BASELINE.json metric):

    images -> cell cover -> spatial containment join (salted/bucketed or
    broadcast) -> PIP refine -> tile assignment (z12, z16) -> checkpoint
    with per-bucket lineage counters.

This is the job bench.py times at two parallelism levels and the job the
resume test kills halfway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as ckpt
from . import fixtures
from .operators import cover as cover_ops
from .operators import knn as knn_ops
from .operators import spatial_join


def poi_list(spark: SparkSession) -> list[tuple[str, float, float]]:
    """The fixture's 20 POI point features as (id, lat, lng) tuples."""
    return [
        (f["feature_id"], f["ys"][0], f["xs"][0])
        for f in fixtures.feature_rows()
        if f["feature_type"] == "point"
    ]


def tile_assignments(images: DataFrame, zooms: tuple[int, ...] = (12, 16)) -> DataFrame:
    """(image_id, zoom, tile_x, tile_y) rows for each requested zoom --
    the raster-tile <-> vector join key side (b6/tiles.go:259-322).
    Pure JVM column math inside whole-stage codegen (no Python stage)."""
    out = None
    for z in zooms:
        x, y = cover_ops.tile_xy_cols(z)
        part = images.select(
            "image_id",
            F.lit(z).alias("zoom"),
            x.alias("tile_x"),
            y.alias("tile_y"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def tile_pyramid_apply_delta(
    pyramid: DataFrame,
    added: DataFrame,
    removed: DataFrame,
    base_zoom: int,
    min_zoom: int,
) -> DataFrame:
    """Incremental maintenance of a tile-pyramid rollup: signed
    per-base-tile deltas from the added/removed point sets roll up
    through the same parent//2 composition as the full build, then ONE
    merge join against the stored pyramid.  Work is proportional to the
    TOUCHED tiles, the corpus is never rescanned -- the
    incremental-view-maintenance shape a 10^12-image tile service needs
    between full rebuilds.  Tiles whose count reaches zero drop, so the
    result is value-equal to a full rebuild over
    (base - removed + added) (oracle-checked).  `removed` must be a
    subset of the indexed points; a non-subset surfaces as a tile whose
    merged count would go negative, which raises at read time via the
    n >= 0 check column rather than silently corrupting counts."""

    # a pyramid whose zoom domain differs from [min_zoom, base_zoom]
    # would merge deltas into some levels while passing stale counts
    # through at others -- the mixed-zoom corruption tile_pyramid_rollup
    # guards against with its base-zoom filter; raise instead
    zoom_guard = F.when(
        ~F.col("zoom").between(min_zoom, base_zoom),
        F.raise_error(
            F.lit(
                "tile_pyramid_apply_delta: stored pyramid has zoom levels "
                f"outside [{min_zoom}, {base_zoom}]"
            )
        ),
    ).otherwise(F.col("zoom"))
    pyramid = pyramid.select(
        zoom_guard.alias("zoom"), "tile_x", "tile_y", "n"
    )

    def _base_counts(pts: DataFrame, sign: int) -> DataFrame:
        a = tile_assignments(pts, zooms=(base_zoom,))
        return a.groupBy("zoom", "tile_x", "tile_y").agg(
            (F.lit(sign) * F.count(F.lit(1))).alias("dn")
        )

    level = (
        _base_counts(added, 1)
        .unionByName(_base_counts(removed, -1))
        .groupBy("zoom", "tile_x", "tile_y")
        .agg(F.sum("dn").alias("dn"))
    )
    deltas = level
    for z in range(base_zoom - 1, min_zoom - 1, -1):
        level = (
            level.groupBy(
                (F.col("tile_x") / 2).cast("long").alias("tile_x"),
                (F.col("tile_y") / 2).cast("long").alias("tile_y"),
            )
            .agg(F.sum("dn").alias("dn"))
            .select(F.lit(z).alias("zoom"), "tile_x", "tile_y", "dn")
        )
        deltas = deltas.unionByName(level)
    merged = (
        pyramid.join(deltas, ["zoom", "tile_x", "tile_y"], "full")
        .select(
            "zoom",
            "tile_x",
            "tile_y",
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias("n"),
        )
    )
    negative_guard = F.when(
        F.col("n") < 0,
        F.raise_error(F.lit("tile_pyramid_apply_delta: removed set is not a subset of the indexed points")),
    ).otherwise(F.col("n"))
    return merged.select("zoom", "tile_x", "tile_y", negative_guard.alias("n")).filter(
        F.col("n") > 0
    )


def tile_pyramid_rollup(
    assignments: DataFrame, base_zoom: int, min_zoom: int
) -> DataFrame:
    """Per-tile counts at every level min_zoom..base_zoom from a single
    base-zoom assignment table -- the tile-serving pre-aggregation
    (b6/tiles.go renders per-tile; a 10^12-image deployment serves
    coarse zooms from rollups, never rescanning the corpus).

    Scale shape: ONE corpus-sized shuffle (the base-zoom groupBy); each
    coarser level aggregates the PREVIOUS level's tile table (parent =
    child // 2 -- floor-div composes, so level z-1 from level z equals
    level z-1 from raw points), which shrinks ~4x per step, so the loop
    over zoom levels is bounded driver-side control flow over
    ever-smaller aggregates, not repeated corpus scans."""
    # tile_assignments defaults to MULTIPLE zooms and the per-level
    # groupBy below drops the zoom column -- without this filter a
    # mixed-zoom input would be silently aggregated into corrupt counts
    level = (
        assignments.filter(F.col("zoom") == base_zoom)
        .groupBy("zoom", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = level
    for z in range(base_zoom - 1, min_zoom - 1, -1):
        level = (
            level.groupBy(
                (F.col("tile_x") / 2).cast("long").alias("tile_x"),
                (F.col("tile_y") / 2).cast("long").alias("tile_y"),
            )
            .agg(F.sum("n").alias("n"))
            .select(F.lit(z).alias("zoom"), "tile_x", "tile_y", "n")
        )
        out = out.unionByName(level)
    return out


def containment_pipeline(
    spark: SparkSession,
    images: DataFrame,
    features: DataFrame | None = None,
    strategy: str = "broadcast",
    salt: int = 8,
) -> DataFrame:
    """images x areas containment pairs (the BASELINE.json join).  The
    join builders add the point cells unless `images` already carries
    `cell16`."""
    feats = features if features is not None else fixtures.features_table(spark)
    if strategy == "broadcast":
        return spatial_join.containment_join_broadcast(images, feats)
    return spatial_join.containment_join_bucketed(images, feats, salt=salt)


def run_flagship(
    spark: SparkSession,
    n_images: int,
    checkpoint_root: str | None = None,
    strategy: str = "broadcast",
    zooms: tuple[int, ...] = (12, 16),
    images_path: str | None = None,
) -> dict:
    """Full run; returns counters. With checkpoint_root set, tile
    assignments checkpoint per zoom-12 tile bucket with lineage.
    With images_path set, reads a pre-materialized image table from
    parquet (the Iceberg-table posture; generation excluded from timing
    per BASELINE.md protocol step 3)."""
    if images_path:
        images = spark.read.parquet(images_path)
    else:
        images = fixtures.images_table(spark, n_images)
    pts = cover_ops.with_point_cells(images)
    containment = containment_pipeline(spark, pts, strategy=strategy)
    if not checkpoint_root:
        # the containment count and the fused kNN+tile aggregate are
        # independent jobs: submit both CONCURRENTLY so driver-side
        # serial costs (scheduling, AQE planning, Python handshakes) are
        # paid once in wall-clock, not twice -- exactly what a real
        # driver does with independent outputs
        import concurrent.futures as cf

        dist = knn_ops.nearest_dist_expr(poi_list(spark))
        tile_sum = None
        for z in zooms:
            x, y = cover_ops.tile_xy_cols(z)
            s = x + y
            tile_sum = s if tile_sum is None else (tile_sum + s)
        agg_df = images.agg(
            F.count("*").alias("n"),
            F.sum(F.round(dist, 3)).alias("knn_ck"),
            F.sum(tile_sum).alias("tile_ck"),
        )
        with cf.ThreadPoolExecutor(max_workers=2) as pool:
            f_pairs = pool.submit(containment.count)
            f_agg = pool.submit(lambda: agg_df.collect()[0])
            n_pairs = f_pairs.result()
            row = f_agg.result()
        return {
            "images": n_images,
            "containment_pairs": n_pairs,
            "tile_rows": row["n"] * len(zooms),
            "tile_checksum": row["tile_ck"],
            "knn_checksum": round(row["knn_ck"], 1) if row["knn_ck"] is not None else None,
        }
    # checkpointing path: the tile snapshot write is the dependent job
    n_pairs = containment.count()
    dist = knn_ops.nearest_dist_expr(poi_list(spark))
    knn_row = images.agg(
        F.count("*").alias("n"), F.sum(F.round(dist, 3)).alias("ck")
    ).collect()[0]
    knn_checksum = knn_row["ck"]
    tiles = tile_assignments(pts, zooms)
    m = ckpt.write_snapshot(
        tiles, checkpoint_root, "zoom", provenance=f"tile_assignments(n={n_images})"
    )
    n_tiles = sum(p["rows"] for p in m.partitions.values())
    return {
        "images": n_images,
        "containment_pairs": n_pairs,
        "tile_rows": n_tiles,
        "tile_checksum": None,
        "knn_checksum": round(knn_checksum, 1) if knn_checksum is not None else None,
    }
