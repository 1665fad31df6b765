"""Grid-cell candidate joins: the shared de-collect primitive.

Round-1 versions of connect-to-network / elevation-IDW / sightline /
snap-area-edges collected their small side to the driver and shipped it
in the task closure -- fine at fixture scale, a scale-killer when that
side is 10^8 street segments.  This module replaces the pattern with a
distributed candidate join on a fixed lat/lng grid:

  * the "site" side (segments / spots / building edges) explodes into
    every grid cell its bbox -- inflated by the search threshold --
    overlaps (one sequence x sequence explode, pure JVM);
  * the "probe" side (points / origins) keys by its single containing
    cell;
  * an equi-join on (gy, gx) yields exactly the candidate pairs within
    the threshold guarantee: any site within `margin` meters of a probe
    shares the probe's cell.

Each (probe, site) pair materializes at most once (the probe owns one
cell), so downstream argmin/aggregations need no dedup.  The join
shuffles on the grid key -- skew from dense cells is the ordinary
equi-join kind AQE splits, and `cell_deg` tunes fan-out vs candidate
breadth.  Reference analogue: the s2-cell range scans b6 uses for its
spatial index walks (b6/search/spatial.go:85-113).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.geom import EARTH_RADIUS_M

M_PER_DEG = float(np.radians(1.0) * EARTH_RADIUS_M)  # ~111195.08


def margin_deg(margin_m: float) -> float:
    """Meters -> latitude degrees (the conservative axis)."""
    return margin_m / M_PER_DEG


def probe_cells(df: DataFrame, cell_deg: float, lat: str = "lat", lng: str = "lng") -> DataFrame:
    """Key each probe point by its single containing grid cell."""
    return df.withColumn("gy", F.floor(F.col(lat) / cell_deg).cast("long")).withColumn(
        "gx", F.floor(F.col(lng) / cell_deg).cast("long")
    )


def explode_bbox_cells(
    df: DataFrame,
    cell_deg: float,
    margin_m: float,
    min_x,
    max_x,
    min_y,
    max_y,
) -> DataFrame:
    """Explode each row into the grid cells its bbox + margin overlaps.

    min_x/max_x/min_y/max_y are Column expressions (degrees).  The
    longitude margin widens by 1/cos(lat) at the row's own extreme
    latitude so the meter-radius guarantee holds away from the equator.
    """
    m_lat = F.lit(margin_deg(margin_m))
    extreme_lat = F.least(
        F.greatest(F.abs(min_y), F.abs(max_y)) + m_lat, F.lit(89.0)
    )
    m_lng = m_lat / F.cos(F.radians(extreme_lat))
    gy0 = F.floor((min_y - m_lat) / cell_deg).cast("long")
    gy1 = F.floor((max_y + m_lat) / cell_deg).cast("long")
    gx0 = F.floor((min_x - m_lng) / cell_deg).cast("long")
    gx1 = F.floor((max_x + m_lng) / cell_deg).cast("long")
    return (
        df.withColumn("gy", F.explode(F.sequence(gy0, gy1)))
        .withColumn("gx", F.explode(F.sequence(gx0, gx1)))
    )


class SqlText:
    """A Spark SQL expression as text that composes with + - * / the way a
    Column does, so one formula renders to Columns (given `F`) or to the
    text of a single `F.expr` (given `SQL`).  Python ints render as SQL
    ints and floats with a `D` suffix: a bare `1.5` is a DECIMAL in
    Spark SQL."""

    __slots__ = ("text",)

    def __init__(self, text: str):
        self.text = text

    def __str__(self) -> str:
        return self.text

    def _op(self, op: str, other, reflected: bool = False) -> "SqlText":
        a, b = (other, self) if reflected else (self, other)
        return SqlText(f"({sql_lit(a)} {op} {sql_lit(b)})")

    def __add__(self, o):
        return self._op("+", o)

    def __sub__(self, o):
        return self._op("-", o)

    def __mul__(self, o):
        return self._op("*", o)

    def __rmul__(self, o):
        return self._op("*", o, True)

    def __truediv__(self, o):
        return self._op("/", o)


def sql_lit(v) -> str:
    """A Python value as Spark SQL text: SqlText as is, ints as ints,
    floats with a `D` suffix, strings as quoted literals."""
    if isinstance(v, SqlText):
        return v.text
    if isinstance(v, (int, np.integer)):
        text = str(int(v)) if -(2**31) <= v < 2**31 else f"{int(v)}L"
    elif isinstance(v, float) and np.isfinite(v):
        text = f"{float(v)!r}D"
    elif isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    else:
        raise TypeError(f"no SQL literal for {v!r}")
    return f"({text})" if text.startswith("-") else text


def sql_col(name: str) -> SqlText:
    """A column reference as text, resolved like `F.col(name)` (a dotted
    name is qualifier.column)."""
    return SqlText(".".join(f"`{part}`" for part in name.split(".")))


def _sql_fn(name: str):
    return lambda *args: SqlText(f"{name}({', '.join(sql_lit(a) for a in args)})")


class SQL:
    """The `pyspark.sql.functions` subset the shared formulas use, as text."""

    lit = staticmethod(lambda v: SqlText(sql_lit(v)))
    radians = staticmethod(_sql_fn("RADIANS"))
    sin = staticmethod(_sql_fn("SIN"))
    cos = staticmethod(_sql_fn("COS"))
    pow = staticmethod(_sql_fn("POWER"))
    sqrt = staticmethod(_sql_fn("SQRT"))
    asin = staticmethod(_sql_fn("ASIN"))
    least = staticmethod(_sql_fn("LEAST"))


def haversine_col(lat1, lng1, lat2, lng2):
    """Haversine meters as a whole-stage-codegen column expression
    (identical formula to kernels/geom.haversine_m)."""
    return haversine_a_to_m(F, haversine_a(F, lat1, lng1, lat2, lng2))


def haversine_a(f, lat1, lng1, lat2, lng2):
    """The haversine term a (sin^2 of half the central angle), the
    engine's one copy of the formula, over `f` = F (Column operands) or
    SQL (text operands: sql_col names and float literals).  Meters are
    non-decreasing in a, so the nearest of several points can take the
    least a and convert once: haversine_a_to_m(least(a_i)) equals
    least(haversine_col_i) bit for bit."""
    rlat1, rlng1 = f.radians(lat1), f.radians(lng1)
    rlat2, rlng2 = f.radians(lat2), f.radians(lng2)
    return f.pow(f.sin((rlat2 - rlat1) / 2), 2) + f.cos(rlat1) * f.cos(rlat2) * f.pow(
        f.sin((rlng2 - rlng1) / 2), 2
    )


def haversine_a_to_m(f, a):
    """Meters from the haversine term, with a clamped to 1 as
    kernels/geom.haversine_m clamps it."""
    return 2 * f.lit(EARTH_RADIUS_M) * f.asin(f.sqrt(f.least(a, f.lit(1.0))))


def _point_segment_frame(px, py, x1, y1, x2, y2):
    """The segment in a local-equirectangular meter frame centred on the
    point, and the clamped projection parameter t of the point onto it
    -> (ax, ay, dx, dy, t), with p1 at (ax, ay) and p2 - p1 = (dx, dy)."""
    kx = F.cos(F.radians(py)) * F.lit(M_PER_DEG)
    ky = F.lit(M_PER_DEG)
    # antimeridian-safe normalized longitude differences
    ax = (F.pmod(x1 - px + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)) * kx
    bx = (F.pmod(x2 - px + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)) * kx
    ay = (y1 - py) * ky
    by = (y2 - py) * ky
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    t_raw = F.when(seg2 > 0, -(ax * dx + ay * dy) / seg2).otherwise(F.lit(0.0))
    return ax, ay, dx, dy, F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_raw))


def point_segment_t_col(px, py, x1, y1, x2, y2):
    """Clamped projection parameter t of the point onto the segment, in
    the same local frame as point_segment_dist_col (the projected point
    is then p1 + t*(p2-p1) in lat/lng)."""
    return _point_segment_frame(px, py, x1, y1, x2, y2)[4]


def point_segment_dist_col(px, py, x1, y1, x2, y2):
    """Point->segment distance in meters as pure column expressions --
    the same local-equirectangular formula as
    kernels/geom.point_segment_distance_m, kept JVM-side so candidate
    refinement never crosses into Python."""
    ax, ay, dx, dy, t = _point_segment_frame(px, py, x1, y1, x2, y2)
    cx = ax + t * dx
    cy = ay + t * dy
    return F.sqrt(cx * cx + cy * cy)
