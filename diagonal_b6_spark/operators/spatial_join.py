"""Point-in-polygon containment joins (filter -> refine).

The reference's spatial queries are two-phase: a coarse token
(cell-cover) match against the inverted index, then an exact geometry
re-check inside the iterator (b6/spatial.go:159-177, 420-507;
`containing-areas` batches probe points by cell: fn features.go:61-105).
Spark-first re-expression:

  stage 0 (cover): one mapInPandas pass covers each area once
          (cover.feature_cover_index); every cover row carries the area's
          geometry, the cell's range and its BUCKET_LEVEL keys, which the
          builders explode in the JVM -- no Python UDF on the polygon side.
  stage 1 (filter): join the point table against the polygon cover index
          on cell containment (point.cell16 within cover-cell range).
          One builder body serves both public builders; they differ
          only in `salt`:
          * broadcast path (salt 1): the cover rows are broadcast ->
            hash join on the bucket key + range filter (no shuffle of
            the big point side).
          * bucketed path (salt > 1): each cover row is copied `salt`
            times by a second explode (no cross join), points hash their
            id to a salt, and the co-partitioned equi-join on
            (bucket, salt) splits dense buckets across reducers
            (explicit skew handling per the north rule; AQE skew-join
            stays on as the runtime backstop).
  stage 2 (refine): winding-number/even-odd PIP over packed coordinate
          arrays in an Arrow-batched mapInPandas kernel, vectorized per
          polygon group within each batch.

At 100 TB the point side never re-partitions for the broadcast path and
shuffles exactly once (by bucket) for the bucketed path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import geom
from . import cover as cover_ops

# columns stage-2 needs from the polygon side
_GEOM_COLS = ["feature_id", "xs", "ys", "ring_offsets"]


def _refine_pip(
    candidates: DataFrame, point_id: str, lat: str, lng: str, keep_cols: list[str]
) -> DataFrame:
    """Exact PIP refine over candidate pairs carrying polygon geometry.
    `keep_cols` pass through the refine untouched (e.g. an event-time
    column for streaming geofences)."""
    out_cols = [point_id, lat, lng, "feature_id"] + list(keep_cols)
    fields = dict(
        (f.name, f.dataType.simpleString())
        for f in candidates.schema.fields
    )
    schema = ", ".join(
        f"{c} {fields[c] if c != 'feature_id' else 'string'}" for c in out_cols
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            # vectorize per polygon within the Arrow batch
            for _, grp in pdf.groupby("feature_id", sort=False):
                first = grp.iloc[0]
                xs = np.asarray(first["xs"], dtype=np.float64)
                ys = np.asarray(first["ys"], dtype=np.float64)
                offs = np.asarray(first["ring_offsets"], dtype=np.int64)
                inside = geom.points_in_polygon(
                    grp[lng].to_numpy(), grp[lat].to_numpy(), xs, ys, offs
                )
                keep[grp.index.to_numpy()] = inside
            res = pdf.loc[keep, out_cols]
            if len(res):
                yield res.reset_index(drop=True)

    return candidates.select(point_id, lat, lng, *_GEOM_COLS, *keep_cols).mapInPandas(
        refine, schema=schema
    )


def _containment_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    lat: str,
    lng: str,
    extras: list[str],
    salt: int,
) -> DataFrame:
    """The one containment builder body.  Points get their cells unless
    they carry `cell16`; the areas are covered once and their cover rows
    exploded to BUCKET_LEVEL keys in the JVM (the cover pass attaches
    the keys); candidates range-filter on the cover cell, then refine.

    salt == 1: the cover rows are broadcast and the join plans as a
    broadcast HASH join on `bucket` (round 1 used the raw range
    condition, which planned as BroadcastNestedLoopJoin -- every point
    row scanned every cover row).  salt > 1: each cover row is copied
    once per salt value by a second explode, points take
    pmod(xxhash64(point_id), salt) as their salt, and the equi-join on
    (bucket, salt_id) spreads a dense bucket over `salt` reducers.
    A point matches at most one cover row per polygon (cover cells are
    disjoint, and each point meets one salt copy), so no dedup is
    needed."""
    if salt < 1:
        raise ValueError(f"containment join salt must be >= 1, got {salt}")
    if "cell16" not in points.columns:
        points = cover_ops.with_point_cells(points, lat, lng)
    cov = cover_ops.feature_cover_index(polygons.filter(F.col("feature_type") == "area"))
    rows = cov.select(*_GEOM_COLS, "rmin", "rmax", F.explode("buckets").alias("bucket"))
    if salt == 1:
        cand = points.join(F.broadcast(rows), "bucket")
    else:
        salted = rows.withColumn("salt_id", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        pts = points.withColumn("salt_id", F.pmod(F.xxhash64(point_id), F.lit(salt)).cast("int"))
        cand = pts.join(salted, ["bucket", "salt_id"])
    cand = cand.filter((F.col("cell16") >= F.col("rmin")) & (F.col("cell16") <= F.col("rmax")))
    return _refine_pip(cand, point_id, lat, lng, extras)


def containment_join_broadcast(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "image_id",
    lat: str = "lat",
    lng: str = "lng",
    extras: list[str] | None = None,
) -> DataFrame:
    """PIP containment join, polygon side broadcast (the `containing-areas`
    shape: N huge points x M small areas).  Returns (point_id, lat, lng,
    feature_id) rows -- one per containment pair -- plus any `extras`
    point columns, passed through the refine untouched."""
    return _containment_join(points, polygons, point_id, lat, lng, extras or [], 1)


def containment_join_bucketed(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "image_id",
    lat: str = "lat",
    lng: str = "lng",
    salt: int = 8,
) -> DataFrame:
    """PIP containment join for the large-large case: co-partitioned
    equi-join on (BUCKET_LEVEL cell ancestor, salt), so a dense bucket
    (the fixture's 250 m disk; a city-centre cell at 10^12 scale)
    spreads over `salt` reducers -- explicit skew splitting per the
    north rule.  salt=1 is the broadcast plan."""
    return _containment_join(points, polygons, point_id, lat, lng, [], salt)


def segment_intersections(
    segs_a: DataFrame,
    segs_b: DataFrame,
    cell_deg: float = 0.002,
) -> DataFrame:
    """IntersectsPolyline / polyline x polyline crossings
    (b6/spatial.go's segment test; the street-crossing primitive).

    Inputs: segment tables (id_a/id_b, seg_idx, x1, y1, x2, y2).  Both
    sides replicate into grid cells their bbox overlaps (no threshold --
    an intersection requires overlapping bboxes), equi-join on the cell,
    then the closed-form parametric crossing test runs as pure column
    expressions.  A pair crossing in several shared cells dedupes on
    (ids, seg idxs).  Output: (id_a, seg_a, id_b, seg_b, ix, iy)."""
    from . import gridjoin

    def with_cells(df, prefix):
        return gridjoin.explode_bbox_cells(
            df.select(
                F.col("feature_id").alias(f"{prefix}_id"),
                F.col("seg_idx").alias(f"{prefix}_seg"),
                F.col("x1").alias(f"{prefix}x1"), F.col("y1").alias(f"{prefix}y1"),
                F.col("x2").alias(f"{prefix}x2"), F.col("y2").alias(f"{prefix}y2"),
            ),
            cell_deg,
            0.0,
            F.least(F.col(f"{prefix}x1"), F.col(f"{prefix}x2")),
            F.greatest(F.col(f"{prefix}x1"), F.col(f"{prefix}x2")),
            F.least(F.col(f"{prefix}y1"), F.col(f"{prefix}y2")),
            F.greatest(F.col(f"{prefix}y1"), F.col(f"{prefix}y2")),
        )

    a = with_cells(segs_a, "a")
    b = with_cells(segs_b, "b")
    cand = a.join(b, ["gy", "gx"])
    rx = F.col("ax2") - F.col("ax1")
    ry = F.col("ay2") - F.col("ay1")
    sx = F.col("bx2") - F.col("bx1")
    sy = F.col("by2") - F.col("by1")
    qpx = F.col("bx1") - F.col("ax1")
    qpy = F.col("by1") - F.col("ay1")
    denom = rx * sy - ry * sx
    t = (qpx * sy - qpy * sx) / denom
    u = (qpx * ry - qpy * rx) / denom
    hits = cand.filter(
        (denom != 0)
        & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    ).select(
        F.col("a_id").alias("id_a"), F.col("a_seg").alias("seg_a"),
        F.col("b_id").alias("id_b"), F.col("b_seg").alias("seg_b"),
        (F.col("ax1") + t * rx).alias("ix"),
        (F.col("ay1") + t * ry).alias("iy"),
    )
    return hits.dropDuplicates(["id_a", "seg_a", "id_b", "seg_b"])


def intersects_feature(
    points: DataFrame,
    feature: DataFrame,
    point_id: str = "image_id",
    ftype: str | None = None,
) -> DataFrame:
    """IntersectsFeature dispatcher (b6/spatial.go:159-177): route to the
    per-type test -- PIP for areas; for point/path features, intersection
    with a point set means coordinate containment (exact vertex match).

    When `ftype` is None the two branch plans are UNIONED with a lazy
    per-branch feature_type filter, so constructing the operator launches
    zero Spark jobs (the former `.first()` probe made construction eager
    -- a driver action per call).  Pass ftype explicitly to plan only one
    branch."""
    if ftype == "area":
        return containment_join_broadcast(points, feature, point_id=point_id)
    verts = feature.filter(F.col("feature_type") != "area").select(
        "feature_id", F.explode(F.arrays_zip(F.col("xs"), F.col("ys"))).alias("v")
    ).select("feature_id", F.col("v.ys").alias("lat"), F.col("v.xs").alias("lng"))
    vertex_hits = points.join(F.broadcast(verts), ["lat", "lng"]).select(
        point_id, "lat", "lng", "feature_id"
    )
    if ftype is not None:  # point / path / relation: vertex-match branch only
        return vertex_hits
    area_hits = containment_join_broadcast(
        points, feature.filter(F.col("feature_type") == "area"), point_id=point_id
    )
    return area_hits.unionByName(vertex_hits)


def distance_join(
    points: DataFrame,
    center_lat: float,
    center_lng: float,
    radius_m: float,
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """`intersecting-cap` analogue (b6/spatial.go:203-371): points within
    radius_m of a center, as two column predicates in one codegen stage:
    a latitude band, then the exact haversine.  The band drops no hit
    (the haversine term is at least sin^2(dlat/2), so d >= R*|dlat|) and
    pushes down to Parquet row-group statistics; a longitude bound would
    need pole and antimeridian cases, so there is none.  The pad covers
    rounding: 1e-9 relative, plus 1e-12 degrees for the last ulps of the
    degree-to-radian products, which decide at radii of 1 mm and below.
    S2 cap coverings belong where an index exists (checkpoint manifest
    pruning, the s2 shell functions), not in front of a full scan.
    Returns the input columns of the rows in the cap: a `dist_m` column
    would be inlined into the filter and evaluated a second time."""
    from .gridjoin import haversine_col, margin_deg

    m = margin_deg(radius_m) * (1 + 1e-9) + 1e-12
    dist = haversine_col(F.col(lat), F.col(lng), F.lit(center_lat), F.lit(center_lng))
    return points.filter(F.col(lat).between(center_lat - m, center_lat + m)).filter(dist <= radius_m)
