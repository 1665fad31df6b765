"""Cell-cover columns: the engine's spatial-index primitive.

Reference semantics: every feature is posted under its <=level-16,
<=5-cell S2 covering plus ancestors (b6/ingest/tokens.go:9-28,
b6/search/spatial.go:10-32,85-113).  Here the index is a DataFrame
column: points carry their level-16 cell id (one per row, an
Arrow-batched pandas UDF); polygons and polylines carry an exploded
covering table, built by one Arrow-batched ``mapInPandas`` pass that
covers each feature once and emits one row per covering cell with the
cell's BUCKET_LEVEL join keys already attached.

Cell ids are stored as *signed* int64 with order preserved
(cellmath.id_to_signed) so Parquet/Spark range predicates work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import cellmath as cm
from ..kernels import geom


@F.pandas_udf(T.LongType())
def cell16_udf(lat: pd.Series, lng: pd.Series) -> pd.Series:
    ids = cm.cell_id_from_latlng(lat.to_numpy(), lng.to_numpy(), cm.MAX_INDEX_LEVEL)
    return pd.Series(cm.id_to_signed(ids))


# Catalyst duplicates deterministic Python UDFs referenced through both a
# join key and a join condition (two ArrowEvalPython nodes = 2x Arrow
# transfers + 2x kernel work on the 10^12-row side).  The function IS
# deterministic; the nondeterministic marker is an evaluate-exactly-once
# barrier -- but Catalyst refuses nondeterministic expressions outside
# Project/Filter/Aggregate/Window, so the marked variant is SCOPED to
# `with_point_cells` (a Project) and the plain deterministic UDF stays
# available for join conditions / sorts.
cell16_once_udf = cell16_udf.asNondeterministic()


def ancestor_at(cell_col, level: int):
    """Ancestor cell at `level` as a pure JVM column expression.

    S2 parent is bit math -- ``(id & -lsb) | lsb`` with ``lsb`` the
    trailing marker at `level` -- and the mask never touches bit 63, so it
    is identical on the sign-flipped int64 encoding.  Stays inside
    whole-stage codegen (no Arrow round-trip).
    """
    lsb = 1 << (2 * (cm.MAX_LEVEL - level))
    return cell_col.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


def with_point_cells(df: DataFrame, lat: str = "lat", lng: str = "lng") -> DataFrame:
    """Point index columns: cell16 (exact posting, one pandas-UDF pass) +
    bucket (JVM bit math; the co-partitioning key for large-large joins)."""
    return df.withColumn("cell16", cell16_once_udf(F.col(lat), F.col(lng))).withColumn(
        "bucket", ancestor_at(F.col("cell16"), cm.BUCKET_LEVEL)
    )


def _cover_one(xs: np.ndarray, ys: np.ndarray, ftype: str, max_cells: int, max_level: int):
    if ftype == "point" or len(xs) == 1:
        cells = cm.cell_id_from_latlng(ys[:1], xs[:1], max_level)
    else:
        cells = cm.covering_ring(xs, ys, max_cells=max_cells, max_level=max_level)
    rmin = cm.id_to_signed(cm.range_min(cells))
    rmax = cm.id_to_signed(cm.range_max(cells))
    lvl = cm.level(cells)
    signed = cm.id_to_signed(cells)
    out = []
    for k in range(len(cells)):
        # BUCKET_LEVEL equi-keys precomputed here so the join builders
        # need no second Arrow stage over the cover index
        b, _ = cm.expand_to_bucket_level(cells[k : k + 1], cm.BUCKET_LEVEL)
        out.append(
            {
                "cell": int(signed[k]),
                "rmin": int(rmin[k]),
                "rmax": int(rmax[k]),
                "level": int(lvl[k]),
                "buckets": [int(v) for v in cm.id_to_signed(b)],
            }
        )
    return out


# the feature columns the cover pass reads and carries onto every cover row,
# then the columns it adds per covering cell
_COVER_INPUT = ["feature_id", "feature_type", "xs", "ys", "ring_offsets"]
_COVER_CELLS = [
    ("cell", "long"), ("rmin", "long"), ("rmax", "long"), ("cell_level", "int"),
    ("buckets", "array<long>"),
]


def feature_cover_index(
    features: DataFrame,
    max_cells: int = cm.MAX_COVERING_CELLS,
    max_level: int = cm.MAX_INDEX_LEVEL,
) -> DataFrame:
    """Exploded covering index: one row per (feature, covering cell), with
    the cell's descendant range [rmin, rmax] -- the Spark analogue of the
    reference's s2:/a2: posting lists (b6/search/spatial.go:65-113).

    One ``mapInPandas`` pass covers each feature exactly once and emits
    its cover rows directly: the feature's geometry, ``cell, rmin, rmax,
    cell_level`` and ``buckets``, the cell's BUCKET_LEVEL equi-keys (one
    key for a cell at or below BUCKET_LEVEL, its descendants for a
    coarser cell).  The join builders explode ``buckets`` in the JVM.
    It is not a scalar UDF under an ``explode``: Catalyst infers
    ``size(cover) > 0`` from the explode and re-evaluates a deterministic
    UDF below it, which runs the kernel three times per feature in two
    Python stages."""
    fields = {f.name: f.dataType.simpleString() for f in features.schema.fields}
    schema = ", ".join(
        [f"{c} {fields[c]}" for c in _COVER_INPUT] + [f"{c} {t}" for c, t in _COVER_CELLS]
    )
    columns = _COVER_INPUT + [c for c, _ in _COVER_CELLS]

    def cover_cells(batches):
        for pdf in batches:
            rows = []
            for f in pdf.itertuples(index=False):
                cells = _cover_one(
                    np.asarray(f.xs), np.asarray(f.ys), f.feature_type, max_cells, max_level
                )
                for c in cells:
                    rows.append(
                        (f.feature_id, f.feature_type, f.xs, f.ys, f.ring_offsets,
                         c["cell"], c["rmin"], c["rmax"], c["level"], c["buckets"])
                    )
            if rows:
                yield pd.DataFrame(rows, columns=columns)

    return features.select(*_COVER_INPUT).mapInPandas(cover_cells, schema=schema)


def tile_xy_cols(zoom: int, lat: str = "lat", lng: str = "lng"):
    """Web-mercator tile (x, y) as pure JVM column expressions
    (b6/tiles.go:202-257 formulas).  Stays inside whole-stage codegen --
    tile assignment over 10^12 rows must not cross into Python at all."""
    n = float(1 << zoom)
    # clamp latitude to the web-mercator domain (matches the numpy kernel)
    latc = F.greatest(F.lit(-85.05112878), F.least(F.col(lat), F.lit(85.05112878)))
    latr = F.radians(latc)
    x = F.floor((F.col(lng) + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long")
    y = F.floor(
        (F.lit(1.0) - F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr)) / F.lit(float(np.pi)))
        / F.lit(2.0)
        * F.lit(n)
    ).cast("long")
    hi = F.lit((1 << zoom) - 1)
    x = F.greatest(F.lit(0).cast("long"), F.least(x, hi))
    y = F.greatest(F.lit(0).cast("long"), F.least(y, hi))
    return x, y


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_col(precision: int = 8, lat: str = "lat", lng: str = "lng"):
    """Standard geohash (Niemeyer base32) as ONE pure-JVM column
    expression: quantize lng/lat to the bit grids, interleave bits
    (lng first, MSB down), map 5-bit groups through the base32
    alphabet.  Completes the engine's index-scheme family (S2 cells,
    H3-style hex, mercator tiles, geohash) -- all whole-stage-codegen
    column math, usable directly as a bucketing/join key at 10^12
    rows.  The unrolled shift/mask chain is exactly replayable in SQL,
    so geohash keys get full value oracles."""
    if not 1 <= precision <= 12:
        raise ValueError(
            f"geohash precision must be 1..12 (60 bits fit a long), got {precision}"
        )
    nbits = 5 * precision
    lngbits = (nbits + 1) // 2
    latbits = nbits // 2
    x = F.floor((F.col(lng) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lngbits))).cast("long")
    y = F.floor((F.col(lat) + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << latbits))).cast("long")
    x = F.greatest(F.lit(0).cast("long"), F.least(x, F.lit((1 << lngbits) - 1)))
    y = F.greatest(F.lit(0).cast("long"), F.least(y, F.lit((1 << latbits) - 1)))
    v = F.lit(0).cast("long")
    for i in range(lngbits):
        v = v + F.shiftleft(
            F.shiftright(x, lngbits - 1 - i).bitwiseAND(F.lit(1)), nbits - 1 - 2 * i
        )
    for i in range(latbits):
        v = v + F.shiftleft(
            F.shiftright(y, latbits - 1 - i).bitwiseAND(F.lit(1)), nbits - 2 - 2 * i
        )
    chars = [
        F.substring(
            F.lit(_GEOHASH32),
            F.shiftright(v, 5 * (precision - 1 - k)).bitwiseAND(F.lit(31)) + F.lit(1),
            F.lit(1),
        )
        for k in range(precision)
    ]
    return F.concat(*chars)


def with_tiles(df: DataFrame, zoom: int, lat: str = "lat", lng: str = "lng") -> DataFrame:
    """Packed tile-id column at a zoom: 5 zoom bits | 29 x bits | 29 y bits
    (b6/tiles.go:126-133 packing), all JVM-side."""
    x, y = tile_xy_cols(zoom, lat, lng)
    packed = F.shiftleft(F.lit(zoom).cast("long"), 58).bitwiseOR(
        F.shiftleft(x, 29)
    ).bitwiseOR(y)
    return df.withColumn(f"tile_z{zoom}", packed)


def quadkey_col(x, y, zoom: int):
    """Bing-maps quadkey string for tile columns (x, y) at `zoom`
    (published Bing Maps Tile System spec: digit i interleaves bit
    (zoom-i) of y and x, most-significant first).  Statically unrolled
    per zoom into pure whole-stage-codegen expressions; the variable
    shifts are exact double divisions (tile coordinates < 2^23 are
    double-exact), so any SQL engine replays it digit for digit."""
    digits = []
    for i in range(1, zoom + 1):
        p = float(1 << (zoom - i))
        dx = (F.floor(x / F.lit(p)) % 2).cast("int")
        dy = (F.floor(y / F.lit(p)) % 2).cast("int")
        d = (dx + dy * 2).cast("int")
        digits.append(F.lit("0123").substr(d + 1, F.lit(1)))
    return F.concat(*digits)


def spacetime_zvalue_col(
    cell_col, ts_col, bits: int = 24, time_bits: int | None = None,
    time_origin_h: int = 0,
):
    """Z-order key interleaving the top `bits` of the S2 cell16 id with
    the epoch-hour of an event time -- the spatio-temporal clustering
    key (Morton order over space x time).  Sorting a table by this value
    makes per-file min/max boxes TIGHT on both dimensions at once, so a
    (cell range x time range) scan prunes files on both predicates.
    Pure unrolled whole-stage-codegen bit math (same style as
    geohash_col); pruning CORRECTNESS never depends on this key -- the
    manifest records real per-file min/max of both columns -- only
    pruning tightness does.

    `time_bits` (default: == bits) allocates the temporal resolution
    independently of the spatial one (r5, per-table density tuning --
    suggest_zorder_bits measures it): a table whose events span 400
    hours wastes 15 of 24 interleave positions on constant zero time
    bits, coarsening the SPATIAL locality of the curve.  The top
    min(bits, time_bits) bit pairs interleave; the longer dimension's
    remaining LOW bits append at the end (they only order within the
    finest interleaved stripe, preserving the curve's locality
    contract).

    `time_origin_h` REBASES epoch hours before wrapping: sized-down
    time_bits on ABSOLUTE hours would alias far-apart times whenever
    the table's hour range crosses a multiple of 2^time_bits (and a
    sparse table spanning years would fold onto itself), destroying the
    pruning tightness the allocation exists to improve.  Pass the
    table's min epoch-hour (suggest_zorder_bits returns it) so the
    wrap only fires past the sized span."""
    if not 1 <= bits <= 24:
        raise ValueError(f"spacetime_zvalue_col bits must be 1..24, got {bits}")
    tb = bits if time_bits is None else time_bits
    if not 1 <= tb <= 24:
        raise ValueError(f"spacetime_zvalue_col time_bits must be 1..24, got {tb}")
    # signed cell16 -> top `bits` as an unsigned rank (order-preserving):
    # arithmetic >> (64-bits) lands in [-2^(bits-1), 2^(bits-1)), the
    # offset shifts it to [0, 2^bits)
    c = (F.shiftright(cell_col, 64 - bits) + F.lit(1 << (bits - 1))).cast("long")
    # rebased epoch hours, wrapped to `time_bits` (wraps after ~1900
    # years at 24 bits with origin 0)
    hrs = F.floor(ts_col.cast("long") / F.lit(3600.0)).cast("long") - F.lit(
        int(time_origin_h)
    )
    h = hrs % F.lit(1 << tb)
    h = ((h + F.lit(1 << tb)) % F.lit(1 << tb)).cast("long")  # pre-origin safety
    m = min(bits, tb)
    v = F.lit(0).cast("long")
    for i in range(m - 1, -1, -1):
        # pairwise interleave the TOP m bits of each rank
        cb = F.shiftright(c, i + (bits - m)).bitwiseAND(F.lit(1))
        hb = F.shiftright(h, i + (tb - m)).bitwiseAND(F.lit(1))
        v = F.shiftleft(v, 2).bitwiseOR(F.shiftleft(cb, 1)).bitwiseOR(hb)
    # longer dimension's remaining low bits, appended below the stripes
    if bits > m:
        v = F.shiftleft(v, bits - m).bitwiseOR(c.bitwiseAND(F.lit((1 << (bits - m)) - 1)))
    elif tb > m:
        v = F.shiftleft(v, tb - m).bitwiseOR(h.bitwiseAND(F.lit((1 << (tb - m)) - 1)))
    return v


def suggest_zorder_bits(
    df: DataFrame, ts_col: str = "ts", max_bits: int = 24
) -> tuple[int, int, int]:
    """Density-aware Z-order allocation for a spacetime table: give the
    TIME dimension exactly enough bits for its realized epoch-hour SPAN
    (ceil log2 of max-min+1, +1 headroom for appends) rebased at the
    table's min hour, and the SPACE dimension the full budget.  The
    SPAN (not the distinct count) sizes the bits -- a sparse table
    loaded one hour per week still needs its full range representable,
    or the wrap would alias far-apart times onto one rank.  One tiny
    aggregation job (min/max -- never a collect of data rows).
    Returns (space_bits, time_bits, time_origin_h) for
    write_spacetime_snapshot / spacetime_zvalue_col."""
    import math

    hour = F.floor(F.col(ts_col).cast("long") / F.lit(3600.0)).cast("long")
    row = df.agg(F.min(hour).alias("h0"), F.max(hour).alias("h1")).collect()[0]
    h0 = int(row["h0"]) if row["h0"] is not None else 0
    span = max(int(row["h1"]) - h0 + 1, 1) if row["h1"] is not None else 1
    time_bits = min(max_bits, max(1, math.ceil(math.log2(span + 1)) + 1))
    return max_bits, time_bits, h0
