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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import geom


def _haversine_col(lat1, lng1, lat2, lng2):
    """Haversine as a JVM-side column expression (whole-stage codegen)."""
    rlat1, rlng1 = F.radians(lat1), F.radians(lng1)
    rlat2, rlng2 = F.radians(lat2), F.radians(lng2)
    a = F.pow(F.sin((rlat2 - rlat1) / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(
        F.sin((rlng2 - rlng1) / 2), 2
    )
    return 2 * F.lit(geom.EARTH_RADIUS_M) * F.asin(F.sqrt(a))


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
        _haversine_col(
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
    O(len(pois))); for large POI sets use knn_grid.
    """
    structs = [
        F.struct(
            _haversine_col(F.lit(plat), F.lit(plng), F.col(lat), F.col(lng)).alias("d"),
            F.lit(pid).alias("poi"),
        )
        for pid, plat, plng in pois
    ]
    best = F.least(*structs) if len(structs) > 1 else structs[0]
    return points.withColumn("nearest_poi", best["poi"]).withColumn(
        "nearest_dist_m", best["d"]
    )


def nearest_dist_expr(pois: list[tuple[str, float, float]],
                      lat: str = "lat", lng: str = "lng"):
    """Distance to the nearest of a small broadcast POI set as a least()
    chain over plain doubles -- full whole-stage codegen (struct least
    falls back to interpreted comparison and is ~10x slower)."""
    havs = [
        _haversine_col(F.lit(plat), F.lit(plng), F.col(lat), F.col(lng))
        for _, plat, plng in pois
    ]
    return F.least(*havs) if len(havs) > 1 else havs[0]


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
    gx = F.floor(F.col("lng") / cell_deg).cast("long")
    gy = F.floor(F.col("lat") / cell_deg).cast("long")
    pts = points.withColumn("gx", gx).withColumn("gy", gy)
    pr = probes.withColumn("gx", gx).withColumn("gy", gy)
    # the (2r+1)^2 cell offsets as JVM column math over a range (a list of
    # rows would plan as a pickled Python RDD scanned by a Python worker)
    side = 2 * max_rings + 1
    off_df = F.broadcast(
        pr.sparkSession.range(side * side).select(
            (F.floor(F.col("id") / side) - max_rings).cast("long").alias("dx"),
            (F.col("id") % side - max_rings).alias("dy"),
        )
    )
    cand = (
        pr.crossJoin(off_df)
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
        _haversine_col(F.col("_plat"), F.col("_plng"), F.col("_lat"), F.col("_lng")),
    )
    w = Window.partitionBy(probe_id).orderBy(F.col("dist_m").asc(), F.col(point_id).asc())
    return (
        with_dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, "rank", point_id, "dist_m")
    )
