"""H3-style hexagonal grid index as pure JVM column expressions.

The reference indexes space with S2 cells (b6/search/spatial.go); the
north rule names "S2/H3" as the cell-index family.  This module adds
the hexagonal half: an aperture-4 hex grid over the web-mercator plane
with the standard axial/cube coordinate scheme and cube rounding
(Patel's "Hexagonal Grids", Red Blob Games; the same public geometry
H3 builds on -- this is an H3-STYLE planar hex index, not Uber's
icosahedral H3, which needs the base-cell/face-rotation tables and is
out of scope per SURVEY.md §7).

Why hexes at all: a hex cell has 6 equidistant neighbors (vs 4+4 at two
distances for squares), so disk/ring candidate joins over-fetch less --
the classic argument for hex indexes in proximity workloads.

Everything here is plain column arithmetic -- floor/abs/CASE -- so hex
assignment over 10^12 rows stays inside whole-stage codegen with zero
Python, and the whole scheme replays verbatim in DuckDB SQL for the
oracle (catalog.sql_geo_hex_cover).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# mercator unit square scaled to HEX_SCALE "hex units"; resolution r
# halves the hex size (aperture 4: each hex covers ~4 children)
HEX_SCALE = 1024.0
MAX_LAT = 85.05112878
# axial id packing: q/r offset-shifted into non-negatives, 26 bits each
_OFF = 1 << 25
_QSHIFT = 1 << 26


def _mercator_xy(lat: str, lng: str) -> tuple[Column, Column]:
    latc = F.greatest(F.lit(-MAX_LAT), F.least(F.col(lat), F.lit(MAX_LAT)))
    latr = F.radians(latc)
    x = (F.col(lng) + F.lit(180.0)) / F.lit(360.0) * F.lit(HEX_SCALE)
    y = (
        (F.lit(1.0) - F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr)) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(HEX_SCALE)
    )
    return x, y


def hex_qr_cols(res: int, lat: str = "lat", lng: str = "lng") -> tuple[Column, Column]:
    """Axial (q, r) of the pointy-top hex containing the point at
    resolution `res`: fractional axial coords then cube rounding.  Pure
    codegen expressions; floor(v + 0.5) rounding (identical in Spark and
    DuckDB, unlike round())."""
    size = HEX_SCALE / (8.0 * (2.0 ** res))  # hex circumradius in hex units
    x, y = _mercator_xy(lat, lng)
    qf = (F.lit(math.sqrt(3.0) / 3.0) * x - y / F.lit(3.0)) / F.lit(size)
    rf = (F.lit(2.0) / F.lit(3.0) * y) / F.lit(size)
    sf = -qf - rf
    rq = F.floor(qf + F.lit(0.5)).cast("double")
    rr = F.floor(rf + F.lit(0.5)).cast("double")
    rs = F.floor(sf + F.lit(0.5)).cast("double")
    dq = F.abs(rq - qf)
    dr = F.abs(rr - rf)
    ds = F.abs(rs - sf)
    q = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq).cast("long")
    r = F.when(~((dq > dr) & (dq > ds)) & (dr > ds), -rq - rs).otherwise(rr).cast("long")
    return q, r


def hex_id_col(res: int, q: Column, r: Column) -> Column:
    """(res, q, r) packed into one orderable BIGINT."""
    return (
        F.lit(res).cast("long") * F.lit(_QSHIFT) * F.lit(_QSHIFT)
        + (q + F.lit(_OFF)) * F.lit(_QSHIFT)
        + (r + F.lit(_OFF))
    )


def with_hex_cells(
    points: DataFrame, res: int, lat: str = "lat", lng: str = "lng"
) -> DataFrame:
    """Add hex_q / hex_r / hex_id at `res` -- the hex analogue of the S2
    cover kernel for point tables."""
    q, r = hex_qr_cols(res, lat, lng)
    out = points.withColumn("hex_q", q).withColumn("hex_r", r)
    return out.withColumn("hex_id", hex_id_col(res, F.col("hex_q"), F.col("hex_r")))


# the 6 axial neighbor offsets of any hex (constant for all resolutions)
HEX_NEIGHBOR_OFFSETS = [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]


def explode_hex_disk(points: DataFrame, res: int) -> DataFrame:
    """Replicate each point into its own hex plus the 6 neighbors -- the
    candidate-generation side of a hex-bucketed proximity join (probe
    side stays single-cell, so the join fans out 7x exactly, never
    9x+corner-misses like a square 3x3)."""
    hexed = with_hex_cells(points, res)
    offsets = F.array(
        *[F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
          for dq, dr in [(0, 0)] + HEX_NEIGHBOR_OFFSETS]
    )
    return (
        hexed.withColumn("_o", F.explode(offsets))
        .withColumn("nbr_q", F.col("hex_q") + F.col("_o.dq"))
        .withColumn("nbr_r", F.col("hex_r") + F.col("_o.dr"))
        .drop("_o")
        .withColumn("nbr_id", hex_id_col(res, F.col("nbr_q"), F.col("nbr_r")))
    )


def hex_inradius_ground_m(res: int, abs_lat_deg: float) -> float:
    """Ground-meter hex inradius at `res` and latitude (mercator hexes
    cover fewer ground meters toward the poles)."""
    size_units = HEX_SCALE / (8.0 * (2.0 ** res))
    inr_deg = size_units * math.sqrt(3.0) / 2.0 / HEX_SCALE * 360.0
    return inr_deg * math.pi / 180.0 * 6_371_000.0 * math.cos(math.radians(abs_lat_deg))


def hex_nearest(
    points: DataFrame,
    others: DataFrame,
    res: int,
    radius_m: float,
    point_id: str,
    other_id: str,
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """Nearest `other` within `radius_m` of each point -- the hex-bucketed
    large-large proximity join.  Both sides carry (id, lat, lng); others
    explode to their 7-cell disk, points stay single-cell, so the join is
    a plain equi-join on hex id with exactly 7x fan-out on ONE side (a
    square 3x3 grid pays 9x).  Correctness bound: the 1-ring of a hex
    covers every point within the hex INRADIUS of the cell, so radius_m
    must not exceed the ground inradius at the data's extreme latitude --
    checked eagerly against `max_abs_lat`, which callers set to their
    data's bound."""
    limit = hex_inradius_ground_m(res, max_abs_lat)
    if radius_m > limit:
        raise ValueError(
            f"radius_m={radius_m} exceeds the hex inradius {limit:.1f} m at "
            f"lat {max_abs_lat} (res {res}); candidates outside the 7-cell "
            f"disk would be missed -- lower res or radius_m"
        )
    o = others.select(
        F.col(other_id).alias("_oid"), F.col("lat"), F.col("lng")
    )
    cand = explode_hex_disk(o, res).select(
        "_oid", F.col("lat").alias("_olat"), F.col("lng").alias("_olng"), "nbr_id"
    )
    p = with_hex_cells(points, res).select(
        point_id, "lat", "lng", F.col("hex_id").alias("nbr_id")
    )
    from .gridjoin import haversine_col

    d = haversine_col(F.col("lat"), F.col("lng"), F.col("_olat"), F.col("_olng"))
    pairs = (
        p.join(cand, "nbr_id")
        .where(F.col(point_id) != F.col("_oid"))
        .select(point_id, d.alias("_d"), F.col("_oid"))
        .where(F.col("_d") <= F.lit(radius_m))
    )
    best = pairs.groupBy(point_id).agg(F.min(F.struct("_d", "_oid")).alias("_b"))
    return best.select(
        point_id,
        F.col("_b._oid").alias("nn_id"),
        F.col("_b._d").alias("nn_dist_m"),
    )
