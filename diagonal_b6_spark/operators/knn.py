"""kNN nearest-feature search (reference: `closest`/`closest-distance`,
fn graph.go:402-446; geometric variant = cell-ring expansion join +
per-probe top-k ordering, SURVEY.md §2.5/§7.1 step 4).

Two implementations:

- ``knn_bruteforce``: probes x points cross join (probe side broadcast)
  + per-probe ``row_number`` window.  Exact; the oracle-checkable baseline.
  Scales as O(P*N) -- fine when P is small (the b6 shape: a handful of
  probe features against the index).

- ``knn_grid``: candidate generation by grid-cell ring expansion --
  each point keyed by a lat/lng grid cell, probes join their cell plus
  the 8 neighbors (expanding rings until k candidates found), then the
  same window top-k.  One equi-join shuffle instead of a cross join;
  the scale path for large probe sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .gridjoin import SQL, haversine_a, haversine_a_to_m, haversine_col, probe_cells, sql_col, sql_lit


def knn_bruteforce(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    point_id: str = "image_id",
    probe_id: str = "probe_id",
) -> DataFrame:
    """(probe_id, rank, point_id, dist_m): k nearest points per probe.
    Deterministic tiebreak by point id (the reference returns
    FeatureID-ordered results on ties, b6/world.go:401-411)."""
    joined = points.alias("pt").join(
        F.broadcast(probes.alias("pr")), F.lit(True), "cross"
    )
    with_dist = joined.select(
        F.col(f"pr.{probe_id}").alias(probe_id),
        F.col(f"pt.{point_id}").alias(point_id),
        haversine_col(
            F.col("pr.lat"), F.col("pr.lng"), F.col("pt.lat"), F.col("pt.lng")
        ).alias("dist_m"),
    )
    w = Window.partitionBy(probe_id).orderBy(F.col("dist_m").asc(), F.col(point_id).asc())
    return (
        with_dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, "rank", point_id, "dist_m")
    )


def nearest_expr(points: DataFrame, pois: list[tuple[str, float, float]],
                 lat: str = "lat", lng: str = "lng") -> DataFrame:
    """k=1 nearest feature against a small broadcast POI set as a PURE
    column expression: a `least()` chain over (distance, id) structs --
    whole-stage codegen, no shuffle, no Python.  This is the reference's
    `closest` against a handful of candidate features (fn graph.go:402-446)
    in the map-side form that survives 10^12 input rows.

    pois: [(poi_id, lat, lng), ...] -- must be small (expression tree is
    O(len(pois))); for large POI sets use knn_grid.  The chain is built
    as one SQL text (one py4j call, not one per operator).
    """
    p = (sql_col(lat), sql_col(lng))
    structs = [
        f"struct({haversine_a_to_m(SQL, haversine_a(SQL, plat, plng, *p))} AS d, "
        f"{sql_lit(pid)} AS poi)"
        for pid, plat, plng in pois
    ]
    best = F.expr(f"LEAST({', '.join(structs)})" if len(structs) > 1 else structs[0])
    return points.withColumn("nearest_poi", best["poi"]).withColumn(
        "nearest_dist_m", best["d"]
    )


def nearest_dist_expr(pois: list[tuple[str, float, float]],
                      lat: str = "lat", lng: str = "lng"):
    """Distance to the nearest of a small broadcast POI set as a least()
    chain over plain doubles -- full whole-stage codegen (struct least
    falls back to interpreted comparison and is ~10x slower).  The chain
    compares haversine terms and converts the least one to meters once
    (equal to the least of the per-POI distances, see haversine_a), and
    is built as one SQL text: a Column-API chain over 20 POIs costs
    hundreds of py4j calls per build."""
    p = (sql_col(lat), sql_col(lng))
    terms = [haversine_a(SQL, plat, plng, *p) for _, plat, plng in pois]
    return F.expr(str(haversine_a_to_m(SQL, SQL.least(*terms) if len(terms) > 1 else terms[0])))


def knn_grid(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    cell_deg: float = 0.01,
    max_rings: int = 4,
    point_id: str = "image_id",
    probe_id: str = "probe_id",
) -> DataFrame:
    """Grid-bucketed kNN: each probe explodes ONCE into the full
    (2*max_rings+1)^2 neighbor-cell square, points join their cell, and
    one window takes the exact top-k by haversine -- a SINGLE Spark job
    (round 1 looped rings in the driver: one job + an isEmpty action per
    ring and a growing lineage).

    Correctness vs the ring-expansion form: if any ring r satisfied the
    coverage guarantee (k-th neighbor within r*cell_deg latitude
    degrees), the true top-k all lie inside ring r's cells, which are a
    subset of the max square -- so top-k over the square equals the
    ring answer; when no ring satisfied it, the old code already
    accepted best-effort at the cap, which IS top-k over the square.
    Mirrors the reference's bounded-budget search (fn graph.go:409-412).
    """
    pts = probe_cells(points, cell_deg)
    pr = probe_cells(probes, cell_deg)
    # the (2r+1)^2 neighbor cells as two JVM explodes on the probe rows
    ring = F.explode(F.sequence(F.lit(-max_rings), F.lit(max_rings)).cast("array<long>"))
    cand = (
        pr.withColumn("dx", ring)
        .withColumn("dy", ring)
        .withColumn("ngx", F.col("gx") + F.col("dx"))
        .withColumn("ngy", F.col("gy") + F.col("dy"))
        .alias("pr")
        .join(
            pts.alias("pt"),
            (F.col("pr.ngx") == F.col("pt.gx")) & (F.col("pr.ngy") == F.col("pt.gy")),
        )
        .select(
            F.col(f"pr.{probe_id}").alias(probe_id),
            F.col("pr.lat").alias("_plat"),
            F.col("pr.lng").alias("_plng"),
            F.col(f"pt.{point_id}").alias(point_id),
            F.col("pt.lat").alias("_lat"),
            F.col("pt.lng").alias("_lng"),
        )
    )
    with_dist = cand.withColumn(
        "dist_m",
        haversine_col(F.col("_plat"), F.col("_plng"), F.col("_lat"), F.col("_lng")),
    )
    w = Window.partitionBy(probe_id).orderBy(F.col("dist_m").asc(), F.col(point_id).asc())
    return (
        with_dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, "rank", point_id, "dist_m")
    )
