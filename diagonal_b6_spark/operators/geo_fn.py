"""Geometry / S2 / tile scalar+table functions (SURVEY.md §2.10, §2.4).

Every function is a DataFrame transform whose kernel is an Arrow-batched
pandas UDF over the packed coordinate-array layout (xs, ys, ring_offsets)
-- one numpy call per batch, never per-row Python.  Reference semantics:

  length      fn features.go:222-224 (polyline meters, spherical earth)
  area        fn geometry.go:97-106  (spherical polygon area, m^2)
  centroid    b6/world.go:868-886    (point->self, path->polyline centroid,
                                      area->ring centroid)
  interpolate fn geometry.go:78-82   (point at fraction along path)
  distance-to-point fn geometry.go:45-54
  s2-covering/grid/points fn s2.go:13-59
  s2-center/s2-polygon    fn s2.go:62-74
  tile-ids/tile-paths     fn tiles.go:13-58, b6/tiles.go:259-322
  rectangle-polygon/cap-polygon fn geometry.go:109-121
  convex-hull fn geometry.go:207-232 (hull over a collection)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import cellmath as cm
from ..kernels import geom
from .cover import covering_cells


# --- per-feature scalar accessors -------------------------------------------


@F.pandas_udf(T.DoubleType())
def _length_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
    return pd.Series(
        [float(geom.polyline_length_m(np.asarray(x), np.asarray(y))) for x, y in zip(xs, ys)]
    )


def length_m_col() -> Column:
    """Per-feature length expression over the packed (xs, ys) columns."""
    return _length_udf(F.col("xs"), F.col("ys"))


def with_length_m(features: DataFrame) -> DataFrame:
    """Polyline length in meters (paths; ring perimeter for single rings)."""
    return features.withColumn("length_m", length_m_col())


@F.pandas_udf(T.DoubleType())
def _area_udf(xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.Series:
    return pd.Series(
        [
            float(geom.polygon_area_m2(np.asarray(x), np.asarray(y), np.asarray(o, dtype=np.int64)))
            for x, y, o in zip(xs, ys, offs)
        ]
    )


def area_m2_col() -> Column:
    """Per-feature spherical-area expression over the packed geometry."""
    return _area_udf(F.col("xs"), F.col("ys"), F.col("ring_offsets"))


def with_area_m2(features: DataFrame) -> DataFrame:
    """Spherical polygon area in m^2; holes subtract."""
    return features.withColumn("area_m2", area_m2_col())


_CENTROID_SCHEMA = T.StructType(
    [T.StructField("lat", T.DoubleType()), T.StructField("lng", T.DoubleType())]
)


@F.pandas_udf(_CENTROID_SCHEMA)
def _centroid_udf(ftype: pd.Series, xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.DataFrame:
    lats, lngs = [], []
    for t, x, y, o in zip(ftype, xs, ys, offs):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        if t == "point" or len(x) == 1:
            lats.append(float(y[0]))
            lngs.append(float(x[0]))
        elif t == "path":
            clat, clng = geom.polyline_centroid(x, y)
            lats.append(clat)
            lngs.append(clng)
        else:
            o = np.asarray(o, dtype=np.int64)
            end = o[1] if len(o) > 1 else len(x)
            clat, clng = geom.ring_centroid(x[:end], y[:end])
            lats.append(clat)
            lngs.append(clng)
    return pd.DataFrame({"lat": lats, "lng": lngs})


def with_centroid(features: DataFrame) -> DataFrame:
    """Per-type centroid (b6/world.go:868-886; outer ring for areas)."""
    c = _centroid_udf(F.col("feature_type"), F.col("xs"), F.col("ys"), F.col("ring_offsets"))
    return features.withColumn("centroid_lat", c["lat"]).withColumn("centroid_lng", c["lng"])


@F.pandas_udf(_CENTROID_SCHEMA)
def _fn_centroid_udf(ftype: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
    """The `centroid` FUNCTION's semantics (fn geometry.go:59-76):
    points pass through, paths take the polyline centroid, and areas
    take the centroid of the CONVEX HULL of all their vertices (the
    reference builds an s2.ConvexHullQuery over every polygon) --
    distinct from world.go's internal Centroid, which uses the outer
    loop directly.  b6_test.py test_centroid pins the Lighterman's hull
    centroid to 0.1 m."""
    lats, lngs = [], []
    for t, x, y in zip(ftype, xs, ys):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        if t == "point" or len(x) == 1:
            lats.append(float(y[0]))
            lngs.append(float(x[0]))
        elif t == "path":
            clat, clng = geom.polyline_centroid(x, y)
            lats.append(clat)
            lngs.append(clng)
        else:
            clat, clng = geom.hull_centroid(x, y)
            lats.append(clat)
            lngs.append(clng)
    return pd.DataFrame({"lat": lats, "lng": lngs})


def with_fn_centroid(features: DataFrame) -> DataFrame:
    """fn geometry.go:59-76 `centroid` (see _fn_centroid_udf)."""
    c = _fn_centroid_udf(F.col("feature_type"), F.col("xs"), F.col("ys"))
    return features.withColumn("centroid_lat", c["lat"]).withColumn("centroid_lng", c["lng"])


@F.pandas_udf(_CENTROID_SCHEMA)
def _interpolate_udf(xs: pd.Series, ys: pd.Series, fraction: pd.Series) -> pd.DataFrame:
    lats, lngs = [], []
    for x, y, f in zip(xs, ys, fraction):
        lat, lng = geom.interpolate_along(np.asarray(x), np.asarray(y), float(f))
        lats.append(lat)
        lngs.append(lng)
    return pd.DataFrame({"lat": lats, "lng": lngs})


def with_interpolate(features: DataFrame, fraction: float) -> DataFrame:
    """Point at `fraction` along each path (fn geometry.go:78-82)."""
    c = _interpolate_udf(F.col("xs"), F.col("ys"), F.lit(float(fraction)))
    return features.withColumn("interp_lat", c["lat"]).withColumn("interp_lng", c["lng"])


def with_distance_to_point_m(features: DataFrame, lat: float, lng: float) -> DataFrame:
    """Distance ALONG each polyline from its start to the projection of
    the probe point onto it (fn geometry.go:44-54: polyline.Project ->
    prefix length + partial segment; b6_test.py:360-363 pins (24, 25) m
    for way 377974549 -- the closest-approach distance there is 22.8)."""

    @F.pandas_udf(T.DoubleType())
    def _d(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(
            [
                float(geom.arc_length_to_projection_m(lng, lat, np.asarray(x), np.asarray(y)))
                for x, y in zip(xs, ys)
            ]
        )

    return features.withColumn("dist_m", _d(F.col("xs"), F.col("ys")))


def degree(edges: DataFrame, node_col: str = "src") -> DataFrame:
    """Graph valence of a node (fn features.go:212-219)."""
    return edges.groupBy(F.col(node_col).alias("node")).agg(F.count("*").alias("degree"))


def points_of(features: DataFrame) -> DataFrame:
    """`points`: vertices keyed 0..n (fn features.go:343-357)."""
    return features.select(
        "feature_id",
        F.posexplode(F.arrays_zip(F.col("xs"), F.col("ys"))).alias("idx", "p"),
    ).select("feature_id", "idx", F.col("p.ys").alias("lat"), F.col("p.xs").alias("lng"))


def point_features(features: DataFrame) -> DataFrame:
    """`point-features` (fn features.go:362-380): dereference each
    feature's vertices as point features.  In the packed-coordinate
    layout a path's referenced points materialize as derived rows
    `<fid>/<idx>` -- the same join surface the reference's
    PointFeature iterator provides."""
    v = points_of(features)
    return v.select(
        F.concat_ws("/", F.col("feature_id"), F.col("idx")).alias("point_id"),
        F.col("feature_id").alias("parent_id"),
        "idx", "lat", "lng",
    )


def area_ring_paths(areas: DataFrame) -> DataFrame:
    """Area perimeters as closed pseudo-paths: one (feature_id, tags,
    xs, ys) row per ring, closing vertex restored; rings past the first
    get a /ring-<i> id suffix.  The reference emits a PATH TWIN for
    every closed way (ingest/osm.go:350-360), so perimeters are
    traversable -- they count toward point degree and carry the walking
    graph across closed #highway ways (pedestrian squares).  Pure
    column expressions."""
    r = areas.select(
        "feature_id",
        "tags",
        "xs",
        "ys",
        "ring_offsets",
        F.posexplode("ring_offsets").alias("ri", "start"),
    ).withColumn(
        "end",
        F.when(
            F.col("ri") + 2 <= F.size("ring_offsets"),
            F.element_at("ring_offsets", F.col("ri") + 2),
        ).otherwise(F.size("xs")),
    ).filter(F.col("end") > F.col("start"))
    rx = F.slice("xs", F.col("start") + 1, F.col("end") - F.col("start"))
    ry = F.slice("ys", F.col("start") + 1, F.col("end") - F.col("start"))
    return r.select(
        F.when(F.col("ri") == 0, F.col("feature_id"))
        .otherwise(F.concat("feature_id", F.lit("/ring-"), F.col("ri")))
        .alias("feature_id"),
        "tags",
        F.concat(rx, F.array(F.element_at(rx, 1))).alias("xs"),
        F.concat(ry, F.array(F.element_at(ry, 1))).alias("ys"),
    )


def point_paths(features: DataFrame) -> DataFrame:
    """`point-paths` (fn features.go:383-406): for every vertex location,
    the paths passing through it -- an exact-coordinate self-join of the
    path vertex table (shared nodes are shared coordinates in the packed
    layout).  Output (lat, lng, path_id, n_paths>=1 rows per node)."""
    v = points_of(features.filter(F.col("feature_type") == "path"))
    counts = v.groupBy("lat", "lng").agg(F.countDistinct("feature_id").alias("n_paths"))
    return (
        v.select("feature_id", "lat", "lng")
        .distinct()
        .join(counts, ["lat", "lng"])
        .select(F.col("feature_id").alias("path_id"), "lat", "lng", "n_paths")
    )


_SAMPLES_SCHEMA = T.ArrayType(
    T.StructType([T.StructField("lat", T.DoubleType()), T.StructField("lng", T.DoubleType())])
)


def sample_points_along_paths(paths: DataFrame, n_samples: int) -> DataFrame:
    """`sample-points` / `sample-points-along-paths`
    (fn features.go:85-86): n_samples points at fractions k/(n-1) along
    each path's length.  One Arrow-batched kernel pass per path computes
    all fractions against the shared cumulative-length table (the common
    accessibility-study origin sampler)."""

    @F.pandas_udf(_SAMPLES_SCHEMA)
    def _samples(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(xs, ys):
            x = np.asarray(x, dtype=np.float64)
            y = np.asarray(y, dtype=np.float64)
            pts = []
            for k in range(n_samples):
                frac = k / (n_samples - 1) if n_samples > 1 else 0.0
                lat, lng = geom.interpolate_along(x, y, frac)
                pts.append({"lat": lat, "lng": lng})
            out.append(pts)
        return pd.Series(out)

    return paths.select(
        "feature_id",
        F.posexplode(_samples(F.col("xs"), F.col("ys"))).alias("sample_idx", "s"),
    ).select("feature_id", "sample_idx", F.col("s.lat").alias("lat"), F.col("s.lng").alias("lng"))


_EVERY_SCHEMA = T.ArrayType(
    T.StructType(
        [T.StructField("lat", T.DoubleType()), T.StructField("lng", T.DoubleType())]
    )
)


def sample_points_every(
    paths: DataFrame, distance_m: float, dedup: bool = True
) -> DataFrame:
    """The reference's `sample-points` / `sample-points-along-paths`
    EXACT semantics (fn features.go samplePointsAlongPaths /
    appendUnseenSampledPoints): per path, fractions j = 0, s, 2s, ...
    (s = distance_m / length) plus a final clamped j = 1.0; then points
    already seen on an earlier path are dropped (the reference keeps a
    global `seen` set keyed on the exact s2.Point -- shared junction
    vertices collapse).  Spark shape: one Arrow kernel pass per path,
    then ONE distinct on the exact (lat, lng) doubles -- equivalent to
    the seen-set because the kernel emits endpoint vertices bit-exactly.

    Distinct from :func:`sample_points_along_paths` (the engine's
    n-samples convenience form, which this module keeps)."""

    @F.pandas_udf(_EVERY_SCHEMA)
    def _samples(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(xs, ys):
            la, lo = geom.sample_fractions_stepped(
                np.asarray(x, dtype=np.float64),
                np.asarray(y, dtype=np.float64),
                float(distance_m),
            )
            out.append([{"lat": a, "lng": o} for a, o in zip(la, lo)])
        return pd.Series(out)

    pts = paths.select(
        F.explode(_samples(F.col("xs"), F.col("ys"))).alias("s")
    ).select(F.col("s.lat").alias("lat"), F.col("s.lng").alias("lng"))
    return pts.distinct() if dedup else pts


# --- S2 cell table functions -------------------------------------------------


_TOKEN_COVER_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("token", T.StringType()),
            T.StructField("cell", T.LongType()),
            T.StructField("level", T.IntegerType()),
            T.StructField("center_lat", T.DoubleType()),
            T.StructField("center_lng", T.DoubleType()),
        ]
    )
)


def s2_covering(
    features: DataFrame,
    max_cells: int = cm.MAX_COVERING_CELLS,
    max_level: int = cm.MAX_INDEX_LEVEL,
    fixed_level: int | None = None,
) -> DataFrame:
    """`s2-covering` / `s2-grid` / `s2-points` in one table function:
    exploded (feature_id, token, cell, level, center_lat, center_lng).
    fixed_level -> s2-grid semantics (fn s2.go:31-45); default heuristics
    -> s2-covering (fn s2.go:48-59); centers give s2-points (fn s2.go:13-28).
    """

    @F.pandas_udf(_TOKEN_COVER_SCHEMA)
    def _cov(ftype: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for t, x, y in zip(ftype, xs, ys):
            x = np.asarray(x, dtype=np.float64)
            y = np.asarray(y, dtype=np.float64)
            if fixed_level is None:
                cells = covering_cells(x, y, t, max_cells, max_level)
            else:  # s2-grid: uncapped, every cell comes out at fixed_level
                cells = covering_cells(x, y, t, 1 << 30, fixed_level)
            toks = cm.token(cells)
            lat, lng = cm.cell_center_latlng(cells)
            lvl = cm.level(cells)
            signed = cm.id_to_signed(cells)
            out.append(
                [
                    {
                        "token": str(toks[k]),
                        "cell": int(signed[k]),
                        "level": int(lvl[k]),
                        "center_lat": float(lat[k]),
                        "center_lng": float(lng[k]),
                    }
                    for k in np.argsort(cells)
                ]
            )
        return pd.Series(out)

    return features.select(
        "feature_id", F.explode(_cov(F.col("feature_type"), F.col("xs"), F.col("ys"))).alias("c")
    ).select("feature_id", "c.token", "c.cell", "c.level", "c.center_lat", "c.center_lng")


_CORNERS_SCHEMA = T.ArrayType(
    T.StructType([T.StructField("lat", T.DoubleType()), T.StructField("lng", T.DoubleType())])
)


def s2_polygon(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    """`s2-polygon`: boundary quad of each cell (fn s2.go:69-74)."""

    @F.pandas_udf(_CORNERS_SCHEMA)
    def _corners(cell_signed: pd.Series) -> pd.Series:
        ids = cm.signed_to_id(cell_signed.to_numpy())
        lat, lng = cm.cell_corners_latlng(ids)  # (n, 4) each
        return pd.Series(
            [
                [{"lat": float(lat[k, j]), "lng": float(lng[k, j])} for j in range(4)]
                for k in range(len(ids))
            ]
        )

    return df.withColumn("corners", _corners(F.col(cell_col)))


def s2_center(df: DataFrame, token_col: str = "token") -> DataFrame:
    """`s2-center` (fn s2.go:62-65): token -> cell-center point, added as
    center_lat/center_lng columns.  Vectorized over Arrow batches."""

    @F.pandas_udf(
        T.StructType(
            [T.StructField("lat", T.DoubleType()), T.StructField("lng", T.DoubleType())]
        )
    )
    def _center(tok: pd.Series) -> pd.DataFrame:
        ids = cm.token_to_id(tok.to_numpy())
        lat, lng = cm.cell_center_latlng(ids)
        return pd.DataFrame({"lat": lat, "lng": lng})

    c = _center(F.col(token_col))
    return df.withColumn("center_lat", c["lat"]).withColumn("center_lng", c["lng"])


def s2_points(
    features: DataFrame,
    min_level: int = 1,
    max_level: int = cm.MAX_INDEX_LEVEL,
    max_cells: int = cm.MAX_COVERING_CELLS,
) -> DataFrame:
    """`s2-points` (fn s2.go:13-28): distinct covering-cell centroids,
    keyed by token -- the covering dedups across the input features like
    the reference's cell set."""
    cov = s2_covering(features, max_cells=max_cells, max_level=max_level)
    return (
        cov.where(F.col("level") >= min_level)
        .select("token", "center_lat", "center_lng")
        .distinct()
    )


def s2_grid(features: DataFrame, level: int) -> DataFrame:
    """`s2-grid` (fn s2.go:31-45): fixed-level covering tokens, distinct
    and orderable by token like the reference's sorted collection."""
    return s2_covering(features, fixed_level=level).select("token").distinct()


# --- tiles -------------------------------------------------------------------


_TILE_LIST_SCHEMA = T.ArrayType(T.LongType())


def tile_cover(features: DataFrame, zoom: int) -> DataFrame:
    """`tile-ids`/`tile-paths`: web-mercator tiles overlapped by each
    geometry's lat/lng bbox at `zoom` (b6/tiles.go:259-322 computes
    covering->mercator ranges; a bbox is the range form for our packed
    rings).  Exploded (feature_id, zoom, tile_x, tile_y)."""

    n_tiles = 1 << zoom

    @F.pandas_udf(_TILE_LIST_SCHEMA)
    def _tiles(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(xs, ys):
            x = np.asarray(x, dtype=np.float64)
            y = np.asarray(y, dtype=np.float64)
            # normalize lngs around the first vertex so rings straddling
            # the antimeridian produce a tight (possibly wrapping) x range;
            # raw (unclipped) x indices are monotonic beyond +-180 and wrap
            # back below via modulo
            xn = geom._norm_lng(x, float(x[0]))
            tx0 = int(np.floor((xn.min() + 180.0) / 360.0 * n_tiles))
            tx1 = int(np.floor((xn.max() + 180.0) / 360.0 * n_tiles))
            _, ty1 = geom.latlng_to_tile(y.min(), 0.0, zoom)  # south
            _, ty0 = geom.latlng_to_tile(y.max(), 0.0, zoom)  # north
            txs, tys = np.meshgrid(
                np.arange(tx0, tx1 + 1, dtype=np.int64) % n_tiles,  # wrap x
                np.arange(ty0, ty1 + 1, dtype=np.int64),
            )
            out.append([int(v) for v in geom.tile_to_packed(txs.ravel(), tys.ravel(), zoom)])
        return pd.Series(out)

    packed = features.select(
        "feature_id", F.explode(_tiles(F.col("xs"), F.col("ys"))).alias("packed")
    )
    return packed.select(
        "feature_id",
        F.lit(zoom).alias("zoom"),
        F.shiftright(F.col("packed"), 29).bitwiseAND(F.lit((1 << 29) - 1)).alias("tile_x"),
        F.col("packed").bitwiseAND(F.lit((1 << 29) - 1)).alias("tile_y"),
    )


_SIMPLIFY_SCHEMA = T.StructType(
    [
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
        T.StructField("ring_offsets", T.ArrayType(T.IntegerType())),
    ]
)


def simplify_areas(features: DataFrame, max_area_error_m2: float) -> DataFrame:
    """Visvalingam polygon simplification, each ring independently --
    the reference's SimplifyPolygon (osm/polygons.go:208-217): loops
    simplify separately with no attempt to repair loop intersections
    the simplification may introduce.  Non-area rows and rings already
    at <=3 vertices pass through unchanged.

    Distributed shape: one Arrow-batched kernel pass per feature row
    (rings are feature-local; no shuffle)."""

    @F.pandas_udf(_SIMPLIFY_SCHEMA)
    def _simp(
        ftype: pd.Series, xs: pd.Series, ys: pd.Series, offs: pd.Series
    ) -> pd.DataFrame:
        oxs, oys, ooffs = [], [], []
        for t, x, y, o in zip(ftype, xs, ys, offs):
            x = np.asarray(x, dtype=np.float64)
            y = np.asarray(y, dtype=np.float64)
            o = list(np.asarray(o, dtype=np.int64)) if o is not None else [0]
            if t != "area" or len(x) <= 3:
                oxs.append([float(v) for v in x])
                oys.append([float(v) for v in y])
                ooffs.append([int(v) for v in o])
                continue
            bounds = o + [len(x)]
            nx, ny, no = [], [], []
            for r in range(len(bounds) - 1):
                rx = x[bounds[r] : bounds[r + 1]]
                ry = y[bounds[r] : bounds[r + 1]]
                keep = geom.visvalingam_indices(rx, ry, float(max_area_error_m2))
                no.append(len(nx))
                nx.extend(float(v) for v in rx[keep])
                ny.extend(float(v) for v in ry[keep])
            oxs.append(nx)
            oys.append(ny)
            ooffs.append([int(v) for v in no])
        return pd.DataFrame({"xs": oxs, "ys": oys, "ring_offsets": ooffs})

    g = _simp(F.col("feature_type"), F.col("xs"), F.col("ys"), F.col("ring_offsets"))
    keep_cols = [c for c in features.columns if c not in ("xs", "ys", "ring_offsets")]
    return features.select(
        *keep_cols,
        g["xs"].alias("xs"),
        g["ys"].alias("ys"),
        g["ring_offsets"].alias("ring_offsets"),
    )


def snap_area_edges(
    areas: DataFrame, paths: DataFrame, threshold_m: float = 20.0,
    cell_deg: float | None = None,
) -> DataFrame:
    """`snap-area-edges` (fn geometry.go:123-204, simplified): project each
    polygon vertex onto the closest nearby path segment (<= threshold)
    and rebuild the ring with the snapped vertices.  The reference
    projects *edges* and repairs intersections; vertex snapping is the
    order-preserving core that covers the common align-parcel-to-street
    use.

    Distributed shape (no driver collect): path segments replicate into
    grid cells (threshold-inflated bbox), each polygon VERTEX explodes
    into the cells within threshold of itself (vertices are what snap,
    so per-vertex cells bound the fan-out at <=9 cells/vertex -- an
    area-bbox explode would blow up on large or antimeridian-spanning
    rings), and the matched segments are gathered per area with one
    groupBy into arrays; the vectorized (vertices x segments) projection
    then runs per area row.  A segment may meet several vertices' cells,
    so candidates are deduped before aggregation."""
    from . import gridjoin
    from .network import segment_cells

    if cell_deg is None:
        cell_deg = max(gridjoin.margin_deg(threshold_m), 1e-4)
    segs = segment_cells(
        paths.select("xs", "ys").transform(_path_segments_xy), cell_deg, threshold_m
    )
    verts = areas.select(
        "feature_id", F.explode(F.arrays_zip(F.col("xs"), F.col("ys"))).alias("v")
    ).select("feature_id", F.col("v.xs").alias("vx"), F.col("v.ys").alias("vy"))
    area_cells = gridjoin.explode_bbox_cells(
        verts, cell_deg, threshold_m,
        F.col("vx"), F.col("vx"), F.col("vy"), F.col("vy"),
    ).select("feature_id", "gy", "gx").distinct()
    cand = area_cells.join(segs, ["gy", "gx"]).select(
        "feature_id", "x1", "y1", "x2", "y2"
    ).distinct()
    lists = cand.groupBy("feature_id").agg(
        F.collect_list("x1").alias("sx1"),
        F.collect_list("y1").alias("sy1"),
        F.collect_list("x2").alias("sx2"),
        F.collect_list("y2").alias("sy2"),
    )
    joined = areas.select("feature_id", "xs", "ys", "ring_offsets").join(
        lists, "feature_id", "left"
    )

    schema = (
        "feature_id string, xs array<double>, ys array<double>, "
        "ring_offsets array<int>, n_snapped int"
    )

    def snap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                vx = np.asarray(r.xs, dtype=np.float64)
                vy = np.asarray(r.ys, dtype=np.float64)
                empty = r.sx1 is None or (isinstance(r.sx1, float) and pd.isna(r.sx1))
                sx1 = np.empty(0) if empty else np.asarray(r.sx1, dtype=np.float64)
                sy1 = np.empty(0) if empty else np.asarray(r.sy1, dtype=np.float64)
                sx2 = np.empty(0) if empty else np.asarray(r.sx2, dtype=np.float64)
                sy2 = np.empty(0) if empty else np.asarray(r.sy2, dtype=np.float64)
                if len(sx1) == 0:
                    out.append((r.feature_id, list(vx), list(vy), list(r.ring_offsets), 0))
                    continue
                # local meter frame around the polygon
                clat = float(vy.mean())
                kx = 111195.0 * np.cos(np.radians(clat))
                px, py = vx * kx, vy * 111195.0
                ax, ay = sx1 * kx, sy1 * 111195.0
                bx, by = sx2 * kx, sy2 * 111195.0
                ex, ey = (bx - ax)[None, :], (by - ay)[None, :]
                wx = px[:, None] - ax[None, :]
                wy = py[:, None] - ay[None, :]
                L2 = np.maximum(ex * ex + ey * ey, 1e-12)
                t = np.clip((wx * ex + wy * ey) / L2, 0.0, 1.0)
                qx = ax[None, :] + t * ex
                qy = ay[None, :] + t * ey
                d = np.hypot(px[:, None] - qx, py[:, None] - qy)
                best = np.argmin(d, axis=1)
                bd = d[np.arange(len(px)), best]
                hit = bd <= threshold_m
                nx = np.where(hit, qx[np.arange(len(px)), best], px) / kx
                ny = np.where(hit, qy[np.arange(len(px)), best], py) / 111195.0
                out.append(
                    (r.feature_id, [float(v) for v in nx], [float(v) for v in ny],
                     list(r.ring_offsets), int(hit.sum()))
                )
            yield pd.DataFrame(
                out, columns=["feature_id", "xs", "ys", "ring_offsets", "n_snapped"]
            )

    return joined.mapInPandas(snap, schema)


def _path_segments_xy(paths: DataFrame) -> DataFrame:
    """(x1, y1, x2, y2) consecutive-vertex segments of each path."""
    z = F.arrays_zip(
        F.slice(F.col("xs"), 1, F.size(F.col("xs")) - 1).alias("x1"),
        F.slice(F.col("ys"), 1, F.size(F.col("ys")) - 1).alias("y1"),
        F.slice(F.col("xs"), 2, F.size(F.col("xs")) - 1).alias("x2"),
        F.slice(F.col("ys"), 2, F.size(F.col("ys")) - 1).alias("y2"),
    )
    return paths.select(F.explode(z).alias("s")).select(
        F.col("s.x1").alias("x1"), F.col("s.y1").alias("y1"),
        F.col("s.x2").alias("x2"), F.col("s.y2").alias("y2"),
    )


def clip_to_window(
    areas: DataFrame,
    window_xs: list[float],
    window_ys: list[float],
    op: str = "intersection",
) -> DataFrame:
    """Polygon boolean op against a fixed window ring (kernels/clip.py,
    the Foster/Greiner-Hormann clipper; reference b6/geometry/foster.go:
    21-600).  Holes are clipped per-ring: piece areas of hole rings
    subtract downstream (`hole` flag).  Output: (feature_id, piece_idx,
    hole, xs, ys) -- one row per result ring."""
    from ..kernels import clip as clip_kernel

    wx = np.asarray(window_xs, dtype=np.float64)
    wy = np.asarray(window_ys, dtype=np.float64)
    schema = (
        "feature_id string, piece_idx int, hole boolean, "
        "xs array<double>, ys array<double>, area_deg2 double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                x = np.asarray(r.xs, dtype=np.float64)
                y = np.asarray(r.ys, dtype=np.float64)
                offs = list(np.asarray(r.ring_offsets, dtype=np.int64)) + [len(x)]
                piece = 0
                for ri in range(len(offs) - 1):
                    rx, ry = x[offs[ri] : offs[ri + 1]], y[offs[ri] : offs[ri + 1]]
                    if len(rx) < 3:
                        continue
                    for oxs, oys in clip_kernel.clip(rx, ry, wx, wy, op):
                        out.append(
                            (r.feature_id, piece, ri > 0,
                             [float(v) for v in oxs], [float(v) for v in oys],
                             abs(clip_kernel.ring_area(oxs, oys)))
                        )
                        piece += 1
            yield pd.DataFrame(
                out, columns=["feature_id", "piece_idx", "hole", "xs", "ys", "area_deg2"]
            )

    return areas.select("feature_id", "xs", "ys", "ring_offsets").mapInPandas(run, schema)


# --- geometry constructors & aggregates -------------------------------------


def rectangle_polygon(spark, lat0: float, lng0: float, lat1: float, lng1: float) -> DataFrame:
    """Rect from 2 corners (fn geometry.go:109-112)."""
    xs = [min(lng0, lng1), max(lng0, lng1), max(lng0, lng1), min(lng0, lng1)]
    ys = [min(lat0, lat1), min(lat0, lat1), max(lat0, lat1), max(lat0, lat1)]
    return spark.createDataFrame(
        [("area/gen/rect", "area", {}, xs, ys, [0])],
        schema="feature_id string, feature_type string, tags map<string,string>, "
        "xs array<double>, ys array<double>, ring_offsets array<int>",
    )


def cap_polygon(spark, lat: float, lng: float, radius_m: float, n: int = 128) -> DataFrame:
    """128-gon circle approximation (fn geometry.go:114-121)."""
    ang = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    dlat = np.degrees(radius_m / geom.EARTH_RADIUS_M) * np.sin(ang)
    dlng = np.degrees(radius_m / geom.EARTH_RADIUS_M) * np.cos(ang) / np.cos(np.radians(lat))
    xs = [float(v) for v in lng + dlng]
    ys = [float(v) for v in lat + dlat]
    return spark.createDataFrame(
        [("area/gen/cap", "area", {}, xs, ys, [0])],
        schema="feature_id string, feature_type string, tags map<string,string>, "
        "xs array<double>, ys array<double>, ring_offsets array<int>",
    )


def collect_areas(areas: DataFrame) -> DataFrame:
    """`collect-areas` with TRUE union semantics (fn collections.go's
    area accumulation; upgraded from the round-1 hull approximation
    using the kernels/clip.py boolean-union fold).  Outer rings only
    (hole-free approximation, see union_all).

    Two-stage at scale: per-partition union fold (mapInPandas), then the
    union of partial results (union is associative/commutative) folded
    once on a single partition -- same shape as convex_hull_agg.
    Output: (piece_idx, xs, ys, area_deg2) disjoint rings."""
    from ..kernels import clip as clip_kernel

    schema = "xs array<double>, ys array<double>"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rings = []
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                x = np.asarray(r.xs, dtype=np.float64)
                y = np.asarray(r.ys, dtype=np.float64)
                offs = list(np.asarray(r.ring_offsets, dtype=np.int64)) + [len(x)]
                end = offs[1] if len(offs) > 1 else len(x)
                rings.append((x[:end], y[:end]))
        merged = clip_kernel.union_all(rings)
        if merged:
            yield pd.DataFrame(
                {
                    "xs": [[float(v) for v in xs] for xs, _ in merged],
                    "ys": [[float(v) for v in ys] for _, ys in merged],
                }
            )

    def final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rings = []
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                rings.append(
                    (np.asarray(r.xs, dtype=np.float64), np.asarray(r.ys, dtype=np.float64))
                )
        merged = clip_kernel.union_all(rings)
        out = []
        for k, (xs, ys) in enumerate(merged):
            out.append(
                (k, [float(v) for v in xs], [float(v) for v in ys],
                 abs(clip_kernel.ring_area(xs, ys)))
            )
        if out:
            yield pd.DataFrame(out, columns=["piece_idx", "xs", "ys", "area_deg2"])

    partials = areas.select("xs", "ys", "ring_offsets").mapInPandas(partial, schema)
    return partials.coalesce(1).mapInPandas(
        final, "piece_idx int, xs array<double>, ys array<double>, area_deg2 double"
    )


def collect_areas_by(areas: DataFrame, group_col: str = "group_id") -> DataFrame:
    """Grouped boolean union — `collect-areas` per key (the GROUP BY form
    of ``collect_areas``; same kernels/clip.py GH-union fold, reference
    foster.go's area accumulation).  Input rows carry one OUTER ring
    each (xs, ys); output is one row per group: the number of disjoint
    union pieces and the total union area (deg^2, planar shoelace).

    One shuffle on the group key; the union fold runs locally per group
    (groups are small by construction — a group is one feature
    collection, not the corpus), so this scales as a plain aggregation."""
    from ..kernels import clip as clip_kernel

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rings = [
            (np.asarray(r.xs, dtype=np.float64), np.asarray(r.ys, dtype=np.float64))
            for r in pdf.itertuples(index=False)
        ]
        merged = clip_kernel.union_all(rings)
        area = float(sum(abs(clip_kernel.ring_area(xs, ys)) for xs, ys in merged))
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "n_pieces": [len(merged)],
                "area_deg2": [area],
            }
        )

    gtype = areas.schema[group_col].dataType.simpleString()
    return (
        areas.select(group_col, "xs", "ys")
        .groupBy(group_col)
        .applyInPandas(fold, f"{group_col} {gtype}, n_pieces int, area_deg2 double")
    )


def convex_hull_metrics(
    points: DataFrame,
    lat: str = "lat",
    lng: str = "lng",
    key_lat: str | None = None,
    key_lng: str | None = None,
) -> DataFrame:
    """Hull summary metrics: (n_vertices, area_m2, perimeter_m) of the
    convex hull of the point cloud.  Unlike the hull VERTEX SET (whose
    membership is float-representation-dependent for near-collinear
    points), spherical-excess area and perimeter are edge-local cyclic
    sums -- insensitive to vertex-order and near-collinear membership --
    which makes this form oracle-checkable.  Same two-stage partial-hull
    plan as ``convex_hull_agg``.

    key_lat/key_lng: optional EXACT integer lattice columns affinely
    equivalent to lat/lng (e.g. the hash integers a fixture derives its
    coordinates from).  When given, the hull PREDICATE runs on the keys
    (integer cross products are float64-exact, so collinear lattice
    triples resolve deterministically -- the float hull is unstable
    exactly there) while the metrics are computed from the real
    coordinates of the chosen ring."""
    keyed = key_lat is not None
    cols = {"lat": lat, "lng": lng}
    if keyed:
        cols.update({"klat": key_lat, "klng": key_lng})
    sel = [F.col(v).alias(k) for k, v in cols.items()]
    schema = "lat double, lng double" + (", klat long, klng long" if keyed else "")

    def hull_idx(pdf: pd.DataFrame) -> np.ndarray:
        if keyed:
            return geom.convex_hull_planar(
                pdf["klng"].to_numpy(np.float64), pdf["klat"].to_numpy(np.float64)
            )
        return geom.convex_hull(pdf["lng"].to_numpy(), pdf["lat"].to_numpy())

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            if len(pdf) < 3:
                # the hull kernel returns NO vertices for a lone point
                # (degenerate chain) -- pass tiny batches through whole
                # or a partition's only point silently leaves the hull
                yield pdf
                continue
            yield pdf.iloc[hull_idx(pdf)]

    def final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        if not len(pdf):
            return
        idx = hull_idx(pdf)
        hx = pdf["lng"].to_numpy()[idx]
        hy = pdf["lat"].to_numpy()[idx]
        area = geom.spherical_ring_area_m2(hx, hy)
        per = float(
            geom.haversine_m(hy, hx, np.roll(hy, -1), np.roll(hx, -1)).sum()
        )
        yield pd.DataFrame(
            {"n_vertices": [len(idx)], "area_m2": [area], "perimeter_m": [per]}
        )

    partials = points.select(*sel).mapInPandas(partial, schema=schema)
    return partials.coalesce(1).mapInPandas(
        final, "n_vertices int, area_m2 double, perimeter_m double"
    )


def convex_hull_vertices(
    points: DataFrame,
    lat: str = "lat",
    lng: str = "lng",
    key_lat: str = "klat",
    key_lng: str = "klng",
) -> DataFrame:
    """Hull VERTEX rows (lat, lng) with the hull predicate running on
    EXACT integer lattice keys (see ``convex_hull_metrics``): integer
    cross products are float64-exact, so vertex MEMBERSHIP — unstable
    under float arithmetic exactly at collinear triples — is
    deterministic and oracle-checkable.  The keys must be affinely
    equivalent to (lat, lng) (e.g. the hash integers a fixture derives
    its coordinates from), so the key hull's vertex set IS the
    coordinate hull's vertex set.  Same two-stage partial-hull plan as
    ``convex_hull_agg``: per-partition hulls shrink each partition to
    its own hull vertices, then the union (tiny) is hulled once."""
    sel = [
        F.col(lat).alias("lat"),
        F.col(lng).alias("lng"),
        F.col(key_lat).alias("klat"),
        F.col(key_lng).alias("klng"),
    ]
    schema = "lat double, lng double, klat long, klng long"

    def hull_idx(pdf: pd.DataFrame) -> np.ndarray:
        return geom.convex_hull_planar(
            pdf["klng"].to_numpy(np.float64), pdf["klat"].to_numpy(np.float64)
        )

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            if len(pdf) < 3:
                # lone-point batches hull to NOTHING (kernel returns an
                # empty chain for n=1) -- pass them through whole
                yield pdf
                continue
            yield pdf.iloc[hull_idx(pdf)]

    def final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        if not len(pdf):
            return
        idx = hull_idx(pdf)
        yield pd.DataFrame(
            {"lat": pdf["lat"].to_numpy()[idx], "lng": pdf["lng"].to_numpy()[idx]}
        )

    partials = points.select(*sel).mapInPandas(partial, schema=schema)
    return partials.coalesce(1).mapInPandas(final, "lat double, lng double")


def convex_hull_agg(points: DataFrame, lat: str = "lat", lng: str = "lng") -> DataFrame:
    """`convex-hull` over a collection (fn geometry.go:207-232): hull
    vertices in CCW order.  Two-stage at scale: per-partition hulls first
    (mapInPandas), then the union of partial hull vertices (tiny) is
    hulled once -- hull(union of hulls) == hull(all points)."""
    schema = "lat double, lng double"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = pdf["lng"].to_numpy()
            y = pdf["lat"].to_numpy()
            if len(x) < 3:
                # lone-point batches hull to nothing -- pass through
                yield pd.DataFrame({"lat": y, "lng": x})
                continue
            idx = geom.convex_hull(x, y)  # hull vertex indices, CCW
            yield pd.DataFrame({"lat": y[idx], "lng": x[idx]})

    final_schema = "lat double, lng double, vertex_idx int"

    def final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # concatenate ALL partial-hull batches before the final hull:
        # hulling each Arrow batch independently would return several
        # disjoint partial hulls once stage-1 vertices exceed one batch
        pdf = pd.concat(list(batches), ignore_index=True)
        if not len(pdf):
            return
        x = pdf["lng"].to_numpy()
        y = pdf["lat"].to_numpy()
        idx = geom.convex_hull(x, y)
        yield pd.DataFrame(
            {"lat": y[idx], "lng": x[idx], "vertex_idx": np.arange(len(idx), dtype=np.int32)}
        )

    partials = points.select(F.col(lat).alias("lat"), F.col(lng).alias("lng")).mapInPandas(
        partial, schema=schema
    )
    return partials.coalesce(1).mapInPandas(final, schema=final_schema)


def join_paths(pairs: DataFrame, pair_id: str = "pair_id") -> DataFrame:
    """Plain `join` (fn features.go:468-485): concatenate b's vertices
    after a's AS GIVEN (no reversal -- that's ordered-join), dropping
    b's first vertex only when it exactly equals a's last.  Same pure
    array expressions as ordered_join: whole-stage codegen, zero
    shuffles.  pairs: (pair_id, axs, ays, bxs, bys)."""
    shared = (
        F.element_at(F.col("bxs"), 1) == F.element_at(F.col("axs"), -1)
    ) & (F.element_at(F.col("bys"), 1) == F.element_at(F.col("ays"), -1))

    def cat(a, b):
        c = F.col(b)
        tail = F.slice(c, 2, F.size(c) - 1)
        return F.concat(F.col(a), F.when(shared, tail).otherwise(c))

    return pairs.select(
        F.col(pair_id), cat("axs", "bxs").alias("xs"), cat("ays", "bys").alias("ys")
    )


def ordered_join(pairs: DataFrame, pair_id: str = "pair_id") -> DataFrame:
    """`ordered-join` (fn features.go:487-520): join two paths into one,
    reversing either side as needed so the shared endpoint stitches the
    vertex sequences; ok=false (null geometry) when no endpoint is
    shared -- the reference errors there.

    pairs: (pair_id, axs, ays, bxs, bys) vertex arrays.  Pure array
    expressions (element_at/reverse/slice/concat) -- whole-stage
    codegen, zero shuffles, so it runs per-row at any corpus size.
    Branch order matches the reference exactly (tail-head, tail-tail,
    head-head, head-tail)."""
    def pt(xs, ys, i):
        return (F.element_at(F.col(xs), i), F.element_at(F.col(ys), i))

    def eq(p, q):
        return (p[0] == q[0]) & (p[1] == q[1])

    a_first, a_last = pt("axs", "ays", 1), pt("axs", "ays", -1)
    b_first, b_last = pt("bxs", "bys", 1), pt("bxs", "bys", -1)

    def arr(col, rev):
        c = F.col(col)
        return F.reverse(c) if rev else c

    def tail(col, rev):
        # b's vertex sequence with its (shared) first element dropped
        c = arr(col, rev)
        return F.slice(c, 2, F.size(c) - 1)

    def joined(col_a, col_b, rev_a, rev_b):
        return F.concat(arr(col_a, rev_a), tail(col_b, rev_b))

    branches = [
        (eq(a_last, b_first), False, False),
        (eq(a_last, b_last), False, True),
        (eq(a_first, b_first), True, False),
        (eq(a_first, b_last), True, True),
    ]
    xs_expr, ys_expr = None, None
    for cond, ra, rb in branches:
        jx, jy = joined("axs", "bxs", ra, rb), joined("ays", "bys", ra, rb)
        xs_expr = F.when(cond, jx) if xs_expr is None else xs_expr.when(cond, jx)
        ys_expr = F.when(cond, jy) if ys_expr is None else ys_expr.when(cond, jy)
    ok = branches[0][0] | branches[1][0] | branches[2][0] | branches[3][0]
    return pairs.select(
        F.col(pair_id),
        ok.alias("ok"),
        xs_expr.alias("xs"),
        ys_expr.alias("ys"),
    )


def ordered_join_paths(
    paths: DataFrame, pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """ordered-join driven by a pair table of feature ids (the collection
    form): broadcast-joins the path geometries onto the pairs."""
    a = paths.select(
        F.col("feature_id").alias(id_a), F.col("xs").alias("axs"), F.col("ys").alias("ays")
    )
    b = paths.select(
        F.col("feature_id").alias(id_b), F.col("xs").alias("bxs"), F.col("ys").alias("bys")
    )
    joined = pairs.join(a, id_a).join(b, id_b).withColumn(
        "pair_id", F.concat_ws("|", F.col(id_a), F.col(id_b))
    )
    return ordered_join(joined)


def apply_to_type(features: DataFrame, ftype: str, fn) -> DataFrame:
    """`apply-to-point`/`-path`/`-area` (fn docs.go:20-22): gate a
    geometry transform to one feature type -- matching rows go through
    `fn`, the rest pass unchanged (the wrapped function is identity on
    other types)."""
    hit = fn(features.filter(F.col("feature_type") == ftype))
    return hit.unionByName(features.filter(F.col("feature_type") != ftype))


def map_geometries(features: DataFrame, fn) -> DataFrame:
    """`map-geometries` (fn docs.go:94): apply a geometry->geometry
    transform to every feature of the collection; compose with
    ``apply_to_type`` for the reference's apply-to-* gating."""
    return fn(features)
