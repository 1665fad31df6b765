"""The rest of the reference's shell function surface.

The reference registers 140 symbols in its VM function table
(b6/api/functions/functions.go:22-178).  ``evaluate.py`` carries the
query/collection core; this module registers everything else -- graph
accessibility, geometry constructors, GeoJSON interchange, S2 helpers,
tiles, the Change system, materialisation, debug and export -- each a
thin dispatch onto the engine's already-tested operators, so a shell
string exercises exactly the code paths the driver's oracle keys verify.

Spark-first compilation rules (same as evaluate.py):

* Collections stay DataFrames; nothing collects to the driver except
  reference-bounded scalars (a routing-options literal, two endpoints
  of a `connect`, YAML change deltas -- each size-guarded upstream).
* The walking network is derived ONCE per Env from `#highway` paths --
  vertex identity is the engine's 1e-7-degree vertex key
  (operators/network.py:_vertex_key), weights come from the
  oracle-verified weights_from_options dispatcher, and shortest paths
  run on the cogrouped distributed Dijkstra (operators/graph.py:233).
* A Change is a small delta (ChangeVal) applied as join/union onto the
  snapshot world (operators/change.py) -- the reference's mutable
  overlay worlds re-expressed as immutable snapshot deltas.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import evaluate
from . import parse as P
from .evaluate import (
    REGISTRY,
    ColVal,
    Env,
    Func,
    LambdaVal,
    Partial,
    RowRef,
    ShellError,
    TagVal,
    _col_of,
    _feature_df,
    _find,
    _require_df,
)
from ..kernels import cellmath as cm
from ..kernels import geom as geom_k
from ..operators import agg as agg_ops
from ..operators import change as change_ops
from ..operators import expression as expr_ops
from ..operators import find as find_ops
from ..operators import geo_fn
from ..operators import graph as graph_ops
from ..operators import network as net_ops
from ..operators import sightline as sightline_ops
from ..operators import weights as weights_ops
from ..operators.gridjoin import haversine_col
from ..operators.network import _vertex_key
from ..sources import changes_yaml
from ..sources import geojson as geojson_src

FEATURE_TYPE_ENUM = {
    # b6/world.go:285-291
    "point": 0,
    "path": 1,
    "area": 2,
    "relation": 3,
    "invalid": 4,
    "collection": 5,
    "expression": 6,
}


# ------------------------------------------------------------------ values --


@dataclass
class ChangeVal:
    """A Change (b6/ingest/change.go): small delta DataFrames.

    tag_adds: (feature_id, k, v); tag_removes: (feature_id, k);
    added: full FEATURE_SCHEMA rows.  Applying = join/union onto the
    snapshot world (operators/change.py)."""

    tag_adds: DataFrame | None = None
    tag_removes: DataFrame | None = None
    added: DataFrame | None = None

    def apply(self, world: DataFrame) -> DataFrame:
        out = world
        if self.added is not None:
            out = change_ops.add_features(out, self.added)
        if self.tag_adds is not None:
            out = change_ops.add_tags(out, self.tag_adds)
        if self.tag_removes is not None:
            out = change_ops.remove_tags(out, self.tag_removes)
        return out

    def changed_ids(self, spark) -> DataFrame:
        parts = []
        for d in (self.tag_adds, self.tag_removes, self.added):
            if d is not None:
                parts.append(d.select("feature_id"))
        if not parts:
            return spark.createDataFrame([], "feature_id string")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def merge(self, other: "ChangeVal") -> "ChangeVal":
        def u(a, b):
            if a is None:
                return b
            if b is None:
                return a
            return a.unionByName(b)

        return ChangeVal(
            tag_adds=u(self.tag_adds, other.tag_adds),
            tag_removes=u(self.tag_removes, other.tag_removes),
            added=u(self.added, other.added),
        )


def _pt(v) -> P.Point:
    if isinstance(v, P.Point):
        return v
    if isinstance(v, DataFrame) and {"lat", "lng"} <= set(v.columns):
        # a single evaluated point (centroid / get-centroid of one
        # feature) is a scalar in the reference; bounded 1-row collect
        rows = v.select("lat", "lng").limit(2).collect()
        if len(rows) == 1:
            return P.Point(float(rows[0].lat), float(rows[0].lng))
    raise ShellError(f"expected a point (`lat, lng` or ll), found {v!r}")


def _scalar_float(v) -> float:
    if isinstance(v, (int, float)):
        return float(v)
    raise ShellError(f"expected a number, found {v!r}")


def _options_dict(v) -> dict[str, str]:
    """Routing-options collection -> dict.  Options are a user-typed
    literal (`{"mode": "walk"}`), bounded like the reference's option
    dicts -- the 64-row guard keeps a mistaken corpus out."""
    if v is None or v == "":
        return {}
    if isinstance(v, dict):
        return {str(k): str(x) for k, x in v.items()}
    if isinstance(v, tuple) and len(v) == 2:
        return {str(v[0]): str(v[1])}
    if isinstance(v, DataFrame):
        rows = v.limit(65).collect()
        if len(rows) > 64:
            raise ShellError("routing options collection exceeds 64 entries")
        return {str(r[0]): str(r[1]) for r in rows}
    raise ShellError(f"expected an options collection, found {v!r}")


def _feature_row_df(
    env: Env,
    fid,
    ftype: str,
    tags: Column,
    xs: Column,
    ys: Column,
    base: DataFrame,
) -> DataFrame:
    """One FEATURE_SCHEMA row built with column expressions over `base`
    (no driver collect)."""
    return base.select(
        (fid if isinstance(fid, Column) else F.lit(fid)).alias("feature_id"),
        F.lit(ftype).alias("feature_type"),
        F.lit("diagonal.works/shell").alias("ns"),
        tags.alias("tags"),
        xs.cast("array<double>").alias("xs"),
        ys.cast("array<double>").alias("ys"),
        F.array(F.lit(0)).cast("array<int>").alias("ring_offsets"),
    )


def _one_row(env: Env) -> DataFrame:
    return env.spark.range(1)


# ------------------------------------------------------------- the network --


def _network(env: Env) -> dict:
    """Walking street network derived from `#highway` paths, cached per
    Env (one derivation per shell evaluation).  Vertex identity is the
    1e-7-degree vertex key -- the OSM shared-node contract the whole
    graph family is oracle-verified on (operators/network.py:121-130)."""
    net = getattr(env, "_b6_network", None)
    if net is not None:
        return net
    # path features ONLY: the reference's path twin of a closed way is
    # emitted with its tags STRIPPED (ingest/features.go:112-115), so a
    # pedestrian square's perimeter carries no #highway tag and is NOT
    # walkable -- it still counts toward degree (see _fn_degree).
    # Connection stubs are walkable too (WalkingTimeWeights.IsUseable,
    # graph/graph.go:221-226: any #highway OR diagonal=connection;
    # `#diagonal` is this engine's indexed spelling of the same tag)
    paths = env.features.filter(
        (F.col("feature_type") == "path")
        & (
            F.col("tags")["#highway"].isNotNull()
            | (F.col("tags")["diagonal"] == "connection")
            | (F.col("tags")["#diagonal"] == "connection")
        )
    )
    # per-path diagonal:weight override (graph.go:22-30 weightFromSegment,
    # ParseFloat-gated: junk values mean no override)
    factors = paths.select(
        F.col("feature_id").alias("path_id"),
        F.col("tags").getItem("diagonal:weight").try_cast("double").alias(
            "weight_factor"
        ),
    )
    segs = net_ops.path_segments(paths).select(
        F.col("feature_id").alias("path_id"),
        "seg_idx",
        "x1",
        "y1",
        "x2",
        "y2",
        _vertex_key(F.col("y1"), F.col("x1")).alias("src"),
        _vertex_key(F.col("y2"), F.col("x2")).alias("dst"),
        haversine_col(F.col("y1"), F.col("x1"), F.col("y2"), F.col("x2")).alias(
            "dist_m"
        ),
    ).join(factors, "path_id", "left")
    # both directions: the reference's walking traversal iterates
    # SegmentsByPoint regardless of digitization order (pedestrians
    # ignore oneway); weights_from_options weights each directed row
    fwd = segs.select(
        "src", "dst", "dist_m", F.lit(0.0).alias("elev_gain_m"), "weight_factor"
    )
    rev = segs.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        "dist_m",
        F.lit(0.0).alias("elev_gain_m"),
        "weight_factor",
    )
    edges_raw = fwd.unionByName(rev)
    nodes = (
        segs.select(F.col("src").alias("node"), F.col("y1").alias("lat"), F.col("x1").alias("lng"))
        .unionByName(
            segs.select(F.col("dst").alias("node"), F.col("y2").alias("lat"), F.col("x2").alias("lng"))
        )
        .groupBy("node")
        .agg(F.min(F.struct("lat", "lng")).alias("p"))
        .select("node", F.col("p.lat").alias("lat"), F.col("p.lng").alias("lng"))
    )
    net = {"paths": paths, "segs": segs, "edges_raw": edges_raw, "nodes": nodes}
    env._b6_network = net
    return net


def _routable_paths(feats: DataFrame) -> DataFrame:
    """Traversable pseudo-paths: path features plus the ring perimeters
    of closed-way areas (the reference's path twins for closed ways --
    ingest/osm.go:350-360).  Relation-assembled areas (area/osm/r<id>)
    are excluded: their member ways are path features already."""
    cols = ["feature_id", "tags", "xs", "ys"]
    paths = feats.filter(F.col("feature_type") == "path").select(*cols)
    way_areas = feats.filter(
        (F.col("feature_type") == "area")
        & ~F.col("feature_id").startswith("area/osm/r")
    )
    return paths.unionByName(geo_fn.area_ring_paths(way_areas).select(*cols))


def _rep_points(feats: DataFrame, id_alias: str = "_fid") -> DataFrame:
    """A feature's representative point: its first vertex (the entrance
    proxy the fixture graphs use)."""
    return feats.filter(F.size("xs") > 0).select(
        F.col("feature_id").alias(id_alias),
        F.element_at("ys", 1).alias("lat"),
        F.element_at("xs", 1).alias("lng"),
    )


def _snap(
    env: Env, feats: DataFrame, threshold_m: float = 500.0, fallback: bool = True
) -> DataFrame:
    """Snap features onto network vertices: (feature_id, node).

    Exact tier, mirroring the reference's access semantics: any vertex of
    the feature that IS a network vertex (a shared OSM node -- the
    boundary-node contract graph/graph.go's ShortestPathSearch seeds
    building access with) snaps exactly, contributing ALL such vertices.

    With fallback=False (origin seeding, the reference's
    NewShortestPathSearchFromPoint/-Building graph.go:443-478): a point
    feature sharing no network node seeds from the connected vertices of
    #building areas whose boundary references it; anything else sharing
    no node contributes NOTHING -- a severed origin reaches nowhere
    (b6_test.py test_reachable_with_changed_world depends on this).

    With fallback=True (destination snapping): a feature sharing no
    network node falls back to the connect-to-network projection of its
    first vertex, snapped to the nearer endpoint of the closest segment
    (the reference inserts a connection vertex -- reusing an existing
    endpoint keeps the graph unchanged, deviation documented at
    connect-to-network)."""
    net = _network(env)
    verts = (
        feats.filter(F.size("xs") > 0)
        .select("feature_id", F.explode(F.arrays_zip("xs", "ys")).alias("v"))
        .select(
            "feature_id",
            _vertex_key(F.col("v.ys"), F.col("v.xs")).alias("node"),
        )
        .distinct()
    )
    net_nodes = net["nodes"].select("node").distinct()
    exact = verts.join(net_nodes, "node").select("feature_id", "node")
    rest = feats.join(exact.select("feature_id").distinct(), "feature_id", "left_anti")
    if not fallback:
        # disconnected POINT -> connected vertices of buildings whose
        # boundary references it (FillOriginsFromBuildings)
        pts = rest.filter(F.col("feature_type") == "point").select(
            "feature_id",
            _vertex_key(F.element_at("ys", 1), F.element_at("xs", 1)).alias("node"),
        )
        bldg = env.features.filter(
            (F.col("feature_type") == "area")
            & F.col("tags")["#building"].isNotNull()
        )
        bldg_nodes = (
            bldg.select(
                F.col("feature_id").alias("_bid"),
                F.explode(F.arrays_zip("xs", "ys")).alias("v"),
            )
            .select(
                "_bid", _vertex_key(F.col("v.ys"), F.col("v.xs")).alias("node")
            )
            .distinct()
        )
        via = (
            pts.join(bldg_nodes, "node")
            .select("feature_id", "_bid")
            .join(bldg_nodes, "_bid")
            .join(net_nodes, "node")
            .select("feature_id", "node")
        )
        return exact.unionByName(via).distinct()
    pts = _rep_points(rest)
    c = net_ops.connect_to_network(
        pts, net["paths"], threshold_m=threshold_m, point_id="_fid"
    )
    s = net["segs"].select(
        F.col("path_id").alias("_sp"),
        F.col("seg_idx").alias("_si"),
        "x1",
        "y1",
        "x2",
        "y2",
        "src",
        "dst",
    )
    j = c.join(
        s, (c["path_id"] == s["_sp"]) & (c["seg_idx"] == s["_si"]), "inner"
    )
    d1 = haversine_col(F.col("proj_lat"), F.col("proj_lng"), F.col("y1"), F.col("x1"))
    d2 = haversine_col(F.col("proj_lat"), F.col("proj_lng"), F.col("y2"), F.col("x2"))
    projected = j.select(
        F.col("_fid").alias("feature_id"),
        F.when(d1 <= d2, F.col("src")).otherwise(F.col("dst")).alias("node"),
    )
    return exact.unionByName(projected).distinct()


def _sssp(env: Env, origin_feats: DataFrame, options, max_cost: float):
    """(dist, omap): the per-origin shortest-path tree within budget and
    the origin-hash -> feature-id map (cogrouped Dijkstra wants a long
    origin key, operators/graph.py:277)."""
    net = _network(env)
    snapped = _snap(env, origin_feats, fallback=False)
    origins = snapped.select(
        F.xxhash64("feature_id").alias("origin"), "node"
    ).distinct()
    # "origin_key", NOT "origin": dist descends from the same snapped
    # lineage, and a same-name same-attribute join is ambiguous to the
    # analyzer on worlds where the plans stay structurally identical
    omap = snapped.select(
        F.xxhash64("feature_id").alias("origin_key"),
        F.col("feature_id").alias("origin_id"),
    ).distinct()
    edges = weights_ops.weights_from_options(net["edges_raw"], _options_dict(options))
    dist = graph_ops.dijkstra_cogrouped(origins, edges, max_cost=float(max_cost))
    return dist, omap


def _join_origin(df: DataFrame, omap: DataFrame) -> DataFrame:
    """Join a (origin, ...) frame onto the origin-hash map, yielding
    origin as the feature id string."""
    return (
        df.join(omap, df["origin"] == omap["origin_key"])
        .drop("origin", "origin_key")
        .withColumnRenamed("origin_id", "origin")
    )


def _matches_df(env: Env, query) -> DataFrame:
    """Destination matching is query.Matches (tag-direct), NOT an index
    search: reachable/accessibleFromOrigin/findClosest/pathsToReach all
    test visited features with Matches (fn graph.go:35-52, 374-400), so
    un-indexed keys like a plain `entrance` work.  Geometry queries keep
    the find lowering."""
    from .evaluate import _as_predicate_col

    try:
        return env.features.filter(_as_predicate_col(query))
    except ShellError:
        return _find(env, query)


def _reachable_features(env: Env, dist: DataFrame, omap: DataFrame, query) -> DataFrame:
    """(origin, feature_id, dist): query-matched POINT features sitting
    on reached network vertices plus AREA features referencing one
    (graph/graph.go:452-460 AddOrUpdate + api/functions/graph.go:35-52:
    the search yields PointDistances over visited vertices and
    AreaDistances via FindAreasByPoint; paths are never candidates)."""
    matches = _matches_df(env, query)
    pts = matches.filter(
        (F.col("feature_type") == "point") & (F.size("xs") > 0)
    ).select(
        "feature_id",
        _vertex_key(F.element_at("ys", 1), F.element_at("xs", 1)).alias("node"),
    )
    area_nodes = (
        matches.filter(F.col("feature_type") == "area")
        .select("feature_id", F.explode(F.arrays_zip("xs", "ys")).alias("v"))
        .select(
            "feature_id",
            _vertex_key(F.col("v.ys"), F.col("v.xs")).alias("node"),
        )
        .distinct()
    )
    msnap = pts.unionByName(area_nodes)
    hits = dist.join(msnap, "node").groupBy("origin", "feature_id").agg(
        F.min("dist").alias("dist")
    )
    ids = _join_origin(hits, omap).select("origin", "feature_id", "dist")
    # carry the matched FEATURE rows (the reference's reachable yields a
    # collection of features -- get/map/filter chain straight off it)
    return ids.join(matches, "feature_id")


# ------------------------------------------------------------------- graph --


def _fn_reachable(env, origin, options, distance, query):
    dist, omap = _sssp(env, _feature_df(origin), options, _scalar_float(distance))
    return _reachable_features(env, dist, omap, query)


def _fn_accessible_all(env, origins, destinations, duration, options):
    odf = _feature_df(origins)
    dist, omap = _sssp(env, odf, options, _scalar_float(duration))
    # accessibleFromOrigin skips the origin feature itself
    # (fn graph.go:374-392); plain reachable does not.
    out = _reachable_features(env, dist, omap, destinations).filter(
        F.col("feature_id") != F.col("origin")
    )
    if _options_dict(options).get("flip") == "yes":
        # odCollection.Flip (fn graph.go:139-152, 232-234): keys become
        # destinations and values origins; the invalid padding for
        # unreached origins is the ELSE branch only, so flipped output
        # simply drops them
        pairs = out.select(
            F.col("feature_id").alias("origin"),
            F.col("origin").alias("feature_id"),
            "dist",
        )
        return pairs.join(env.features, "feature_id")
    # fn graph.go:235-240: an origin that reaches nothing still emits
    # one (origin, FeatureIDInvalid) entry; is-valid filters it away.
    missing = (
        odf.select(F.col("feature_id").alias("origin"))
        .distinct()
        .join(out.select("origin").distinct(), "origin", "left_anti")
    )
    invalid = missing.select(
        "origin",
        *[
            F.lit(None).cast(out.schema[c].dataType).alias(c)
            for c in out.columns
            if c != "origin"
        ],
    ).select(*out.columns)
    return out.unionByName(invalid)


def _fn_accessible_routes(env, origin, destinations, duration, options):
    """Ordered Route steps to every reachable destination
    (fn graph.go:312-339): (origin, dest_node, step_idx, lat, lng,
    cum_cost) rows from the cogrouped predecessor-tree walk."""
    dist, omap = _sssp(env, _feature_df(origin), options, _scalar_float(duration))
    dests = _snap(env, _matches_df(env, destinations)).select("node").distinct()
    routes = graph_ops.routes_from_pred(dist, dests)
    net = _network(env)
    return (
        _join_origin(routes, omap)
        .join(net["nodes"], "node")
        .select(
            "origin",
            F.col("dest").alias("dest_node"),
            "step_idx",
            "lat",
            "lng",
            "cum_cost",
        )
    )


def _fn_filter_accessible(env, coll, query):
    coll = _require_df(coll)
    keep = _find(env, query).select("feature_id")
    return coll.join(F.broadcast(keep), "feature_id", "semi")


def _fn_closest(env, origin, options, distance, query):
    r = _fn_reachable(env, origin, options, distance, query)
    best = r.groupBy("origin").agg(
        F.min(F.struct("dist", "feature_id")).alias("b")
    )
    ids = best.select(
        "origin", F.col("b.feature_id").alias("feature_id"), F.col("b.dist").alias("dist")
    )
    return ids.join(env.features, "feature_id")


def _fn_closest_distance(env, origin, options, distance, query):
    return _fn_closest(env, origin, options, distance, query).select("origin", "dist")


def _fn_paths_to_reach(env, origin, options, distance, query):
    """Per-path usage counts across shortest paths to the matched
    features (fn graph.go:451-499): route-step edges joined back onto
    the segment table (either direction), summed per path feature."""
    dist, omap = _sssp(env, _feature_df(origin), options, _scalar_float(distance))
    dests = _snap(env, _matches_df(env, query)).select("node").distinct()
    routes = graph_ops.routes_from_pred(dist, dests)
    a = routes.select(
        "origin", "dest", (F.col("step_idx") + 1).alias("step_idx"), F.col("node").alias("u")
    )
    b = routes.select("origin", "dest", "step_idx", F.col("node").alias("v"))
    used = a.join(b, ["origin", "dest", "step_idx"]).groupBy("u", "v").agg(
        F.count("*").alias("n")
    )
    segs = _network(env)["segs"].select("path_id", "src", "dst")
    hit = used.join(
        segs,
        ((used["u"] == segs["src"]) & (used["v"] == segs["dst"]))
        | ((used["u"] == segs["dst"]) & (used["v"] == segs["src"])),
    )
    return (
        hit.groupBy(F.col("path_id").alias("feature_id"))
        .agg(F.sum("n").alias("n_paths"))
        .orderBy("feature_id")
    )


def _fn_reachable_area(env, origin, options, distance):
    dist, omap = _sssp(env, _feature_df(origin), options, _scalar_float(distance))
    area = graph_ops.reachable_area(dist, _network(env)["nodes"], float(distance))
    return _join_origin(area, omap).select("origin", "area_m2")


def _fn_building_access(env, origins, limit, mode):
    """fn access.go:10-42: buildings reachable within the cost budget."""
    opts = {} if mode in ("", "walk") else {"mode": str(mode)}
    dist, omap = _sssp(env, _feature_df(origins), opts, _scalar_float(limit))
    buildings = env.features.filter(
        (F.col("feature_type") == "area") & F.col("tags")["#building"].isNotNull()
    )
    bsnap = _snap(env, buildings).select(
        F.col("feature_id").alias("building_id"), "node"
    )
    hits = graph_ops.building_access(
        dist, bsnap.select("node").distinct(), float(limit)
    )
    return (
        _join_origin(hits.join(bsnap, "node"), omap)
        .select("origin", "building_id", "dist")
        .groupBy("origin", "building_id")
        .agg(F.min("dist").alias("dist"))
    )


def _connection_rows(env, pts: DataFrame) -> DataFrame:
    """Connection path rows feature -> its network projection
    (fn graph.go:542-566).  pts: (_fid, lat, lng).

    The reference connects only to the STREET NETWORK -- #highway paths
    whose connected set allows >500 m of traversal (BuildStreetNetwork;
    b6_test.py:400-410 pins 0 modifications on the granary fixture,
    whose whole extent is under 500 m)."""
    net = _network(env)
    members = net_ops.build_street_network(net["paths"]).filter(
        F.col("in_network")
    ).select(F.col("path_id").alias("feature_id"))
    network_paths = net["paths"].join(F.broadcast(members), "feature_id", "semi")
    c = net_ops.connect_to_network(pts, network_paths, point_id="_fid")
    withp = pts.join(c, "_fid")
    return withp.select(
        F.concat(
            F.lit("path/diagonal.works/ns/access-point/"), F.abs(F.xxhash64("_fid"))
        ).alias("feature_id"),
        F.lit("path").alias("feature_type"),
        F.lit("diagonal.works/ns/access-point").alias("ns"),
        F.map_from_arrays(
            F.array(F.lit("#diagonal"), F.lit("connects")),
            F.array(F.lit("connection"), F.col("_fid")),
        ).alias("tags"),
        F.array(F.col("lng"), F.col("proj_lng")).cast("array<double>").alias("xs"),
        F.array(F.col("lat"), F.col("proj_lat")).cast("array<double>").alias("ys"),
        F.array(F.lit(0)).cast("array<int>").alias("ring_offsets"),
    )


def _fn_connect(env, a, b):
    """fn graph.go:522-545: a Change adding a path between two features
    (straight connection segment; the reference routes via the network
    insertion machinery -- operators/network.py cluster/apply carries
    that exact semantics for corpus-scale use)."""
    pa = _rep_points(_feature_df(a), "_fa")
    pb = _rep_points(_feature_df(b), "_fb")
    row = pa.crossJoin(pb).select(
        F.concat(
            F.lit("path/diagonal.works/ns/access-point/"),
            F.abs(F.xxhash64("_fa", "_fb")),
        ).alias("feature_id"),
        F.lit("path").alias("feature_type"),
        F.lit("diagonal.works/ns/access-point").alias("ns"),
        F.map_from_arrays(
            F.array(F.lit("#diagonal")), F.array(F.lit("connection"))
        ).alias("tags"),
        F.array(pa["lng"], pb["lng"]).cast("array<double>").alias("xs"),
        F.array(pa["lat"], pb["lat"]).cast("array<double>").alias("ys"),
        F.array(F.lit(0)).cast("array<int>").alias("ring_offsets"),
    )
    return ChangeVal(added=row)


def _fn_connect_to_network(env, feature):
    return ChangeVal(added=_connection_rows(env, _rep_points(_feature_df(feature))))


# ---------------------------------------------------------------- geometry --


def _fn_ll(env, lat, lng):
    return P.Point(_scalar_float(lat), _scalar_float(lng))


def _fn_distance_meters(env, a, b):
    from .evaluate import ColVal

    def latlng(v):
        """(lat, lng) column pair for a point-valued argument."""
        if isinstance(v, ColVal):  # per-feature centroid inside a lambda
            return v.col["lat"], v.col["lng"], v.ref
        p = _pt(v)
        return F.lit(p.lat), F.lit(p.lng), None

    la1, lo1, r1 = latlng(a)
    la2, lo2, r2 = latlng(b)
    if r1 is not None or r2 is not None:
        return ColVal(r1 or r2, haversine_col(la1, lo1, la2, lo2), name="value")
    pa, pb = _pt(a), _pt(b)
    return float(geom_k.haversine_m(pa.lat, pa.lng, pb.lat, pb.lng))


def _fn_distance_to_point_meters(env, path, point):
    p = _pt(point)
    return geo_fn.with_distance_to_point_m(_feature_df(path), p.lat, p.lng).select(
        "feature_id", F.col("dist_m").alias("value")
    )


def _fn_interpolate(env, path, fraction):
    return geo_fn.with_interpolate(_feature_df(path), _scalar_float(fraction)).select(
        "feature_id",
        F.col("interp_lat").alias("lat"),
        F.col("interp_lng").alias("lng"),
    )


def _fn_centroid(env, g):
    """fn geometry.go:59-76 `centroid` (and features.go getCentroid,
    which delegates to it): hull centroid for areas."""
    if isinstance(g, P.Point):
        return g
    from .evaluate import RowRef, ColVal, _feature_df, _resolve_identifiable

    g = _resolve_identifiable(env, g)
    if isinstance(g, RowRef):
        # per-feature centroid inside a lambda composes as a struct
        # column (b6_test.py test_centroids maps distance over them)
        c = geo_fn._fn_centroid_udf(F.col("feature_type"), F.col("xs"), F.col("ys"))
        return ColVal(g, c, name="centroid")
    return geo_fn.with_fn_centroid(_feature_df(g)).select(
        "feature_id",
        F.col("centroid_lat").alias("lat"),
        F.col("centroid_lng").alias("lng"),
    )


def _fn_rectangle_polygon(env, a, b):
    pa, pb = _pt(a), _pt(b)
    return geo_fn.rectangle_polygon(env.spark, pa.lat, pa.lng, pb.lat, pb.lng)


def _fn_cap_polygon(env, center, radius):
    p = _pt(center)
    return geo_fn.cap_polygon(env.spark, p.lat, p.lng, _scalar_float(radius))


def _wkt_groups(s: str) -> list[str]:
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        raise ShellError(f"expected a bracketed WKT group: {s!r}")
    groups: list[str] = []
    depth, start = 0, 0
    for i in range(1, len(s) - 1):
        ch = s[i]
        if ch == "(":
            if depth == 0:
                start = i
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(s[start : i + 1])
        elif depth == 0 and ch not in " ,":
            raise ShellError(f"invalid character {ch!r} in WKT group {s!r}")
    return groups


def _wkt_points(s: str) -> list[tuple[float, float]]:
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        raise ShellError(f"expected a bracketed WKT point list: {s!r}")
    out = []
    for coord in s[1:-1].split(","):
        cs = [float(c) for c in coord.split() if c]
        if len(cs) != 2:
            raise ShellError(f"expected a 2-value WKT coordinate, found {coord!r}")
        out.append((cs[1], cs[0]))  # WKT is lng lat; we carry (lat, lng)
    return out


def _fn_wkt(env, s):
    """WKT POLYGON / MULTIPOLYGON literal -> a one-row area feature,
    usable wherever a found area is (intersecting, area, centroid...).
    The reference parses WKT on the CLIENT into an area literal
    (python/diagonal_b6/geometry.py:69-138); this is the same surface
    with the engine's packed multi-ring layout."""
    s = str(s)
    if s.startswith("POLYGON "):
        polys = [s[len("POLYGON ") :]]
    elif s.startswith("MULTIPOLYGON "):
        polys = _wkt_groups(s[len("MULTIPOLYGON ") :])
    else:
        raise ShellError(f"can't parse WKT {s[:40]!r}")
    xs: list[float] = []
    ys: list[float] = []
    offs: list[int] = []
    for p in polys:
        for ring in _wkt_groups(p):
            offs.append(len(xs))
            for lat, lng in _wkt_points(ring):
                xs.append(lng)
                ys.append(lat)
    if not xs:
        raise ShellError("WKT literal has no coordinates")
    digest = hashlib.md5(s.encode()).hexdigest()[:12]
    return env.spark.createDataFrame(
        [
            (
                f"area/diagonal.works/shell/wkt-{digest}",
                "area",
                "diagonal.works/shell",
                {},
                xs,
                ys,
                offs,
            )
        ],
        env.features.schema,
    )


def _fn_collect_areas(env, areas):
    return geo_fn.collect_areas(
        _require_df(areas).filter(F.col("feature_type") == "area")
    )


def _fn_convex_hull(env, coll):
    """fn geometry.go:207-232: hull over every vertex of the collection
    (a DataFrame of features, or a keyed Python collection of geometry
    frames -- b6_test.py test_convex_hull_from_list_of_lat_lngs maps
    cap-polygon over lls first)."""
    pts = (
        _feature_df(coll)
        .select(F.explode(F.arrays_zip("xs", "ys")).alias("v"))
        .select(F.col("v.ys").alias("lat"), F.col("v.xs").alias("lng"))
    )
    return geo_fn.convex_hull_agg(pts)


def _fn_sightline(env, origin, radius):
    if isinstance(origin, P.Point):
        origins = env.spark.createDataFrame(
            [(0, origin.lat, origin.lng)], "origin_id long, lat double, lng double"
        )
    else:
        odf = _feature_df(origin)
        if "xs" not in odf.columns and "lat" in odf.columns:
            # a point collection (sample-points rows) mapped through
            # sightline (b6_test.py:258-265): each row is an origin
            origins = odf.select(
                F.xxhash64("lat", "lng").alias("origin_id"), "lat", "lng"
            ).distinct()
        else:
            origins = _rep_points(odf, "origin_id")
    buildings = env.features.filter(
        (F.col("feature_type") == "area") & F.col("tags")["#building"].isNotNull()
    )
    out = sightline_ops.sightline(origins, buildings, radius_m=_scalar_float(radius))
    # emit the engine's geometry schema so area/to-geojson compose
    # (the reference's sightline returns an Area; b6_test.py:252-265)
    return out.select(
        F.concat(F.lit("area/diagonal.works/sightline/"), F.col("origin_id").cast("string")).alias(
            "feature_id"
        ),
        F.lit("area").alias("feature_type"),
        F.lit("diagonal.works/sightline").alias("ns"),
        F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>")).alias(
            "tags"
        ),
        F.col("boundary_lngs").alias("xs"),
        F.col("boundary_lats").alias("ys"),
        F.array(F.lit(0)).cast("array<int>").alias("ring_offsets"),
    )


def _fn_entrance_approach(env, area):
    entrances = _rep_points(_feature_df(area), "feature_id")
    return net_ops.entrance_approach(entrances, _network(env)["paths"])


def _fn_snap_area_edges(env, area, query, threshold):
    paths = _find(env, query).filter(F.col("feature_type") == "path")
    return geo_fn.snap_area_edges(
        _feature_df(area), paths, threshold_m=_scalar_float(threshold)
    )


# ------------------------------------------------------------------ s2 ----


def _cell_token_udf(lvl: int):
    @F.pandas_udf("string")
    def tok(lat: pd.Series, lng: pd.Series) -> pd.Series:
        ids = cm.cell_id_from_latlng(lat.to_numpy(), lng.to_numpy(), lvl)
        return pd.Series(cm.token(ids))

    return tok


def _fn_s2_points(env, area, min_level, max_level):
    lo, hi = int(min_level), int(max_level)
    if lo == hi:
        # RegionCoverer pinned to one level IS the fixed-level grid
        # (s2.go:13-28 with MinLevel == MaxLevel).  The reference keeps
        # cells INTERSECTING the polygon; the fixed-level cover is
        # bbox-based, so refine by center containment (documented
        # approximation: boundary cells whose center falls outside are
        # dropped)
        from ..operators import spatial_join

        af = _feature_df(area)
        cov = (
            geo_fn.s2_covering(af, fixed_level=lo)
            .select("token", "center_lat", "center_lng")
            .distinct()
        )
        pts = cov.select(
            "token",
            F.col("center_lat").alias("lat"),
            F.col("center_lng").alias("lng"),
        )
        hits = spatial_join.containment_join_broadcast(pts, af, point_id="token")
        inside = hits.select("token").distinct()
        # boundary-intersecting cells: sample the rings at half a cell
        # edge and take each sample's fixed-level cell (they lie inside
        # the ring's bbox cover by construction)
        edge_m = 6371010.0 * 1.7 / (1 << lo)  # ~avg cell edge at level lo
        samples = geo_fn.sample_points_every(
            geo_fn.area_ring_paths(af), max(edge_m / 2.0, 0.5)
        )
        boundary = samples.select(
            _cell_token_udf(lo)(F.col("lat"), F.col("lng")).alias("token")
        ).distinct()
        keep = inside.unionByName(boundary).distinct()
        return cov.join(F.broadcast(keep), "token", "semi")
    return geo_fn.s2_points(_feature_df(area), min_level=lo, max_level=hi)


def _fn_s2_covering(env, area, min_level, max_level):
    cov = geo_fn.s2_covering(_feature_df(area), max_level=int(max_level))
    return cov.where(F.col("level") >= int(min_level)).select("token").distinct()


def _fn_s2_grid(env, area, level):
    return geo_fn.s2_grid(_feature_df(area), int(level))


def _fn_s2_center(env, token):
    ids = cm.token_to_id(np.array([str(token)]))
    lat, lng = cm.cell_center_latlng(ids)
    return P.Point(float(lat[0]), float(lng[0]))


def _fn_s2_polygon(env, token):
    ids = cm.token_to_id(np.array([str(token)]))
    # engine convention: cell ids ride in Spark longs sign-bit-FLIPPED
    # (order-preserving, kernels/cellmath.py id_to_signed), not reinterpreted
    signed = int(cm.id_to_signed(ids)[0])
    df = env.spark.createDataFrame([(signed,)], "cell long")
    return geo_fn.s2_polygon(df, cell_col="cell")


# ---------------------------------------------------------------- tiles ----


_FNV64_OFFSET = 0xCBF29CE484222325
_FNV64_PRIME = 0x100000001B3


def _fnv64(data: bytes) -> int:
    # FNV-1 64 (api/tiles.go:10-33 uses hash/fnv.New64): h = h*prime ^ b
    h = _FNV64_OFFSET
    for b in data:
        h = (h * _FNV64_PRIME) & 0xFFFFFFFFFFFFFFFF
        h ^= b
    return h


def _tile_feature_id(fid: str, polygon: int | None = None) -> int:
    """api/tiles.go:10-33: FNV-1(LE u64 type, namespace bytes, LE u64
    value[, LE u64 polygon]).  feature_id = 'type/ns.../value'."""
    ftype, _, rest = fid.partition("/")
    ns, _, val = rest.rpartition("/")
    t = FEATURE_TYPE_ENUM.get(ftype, FEATURE_TYPE_ENUM["invalid"])
    try:
        v = int(val)
    except ValueError:
        v = _fnv64(val.encode()) & 0x7FFFFFFFFFFFFFFF
    data = (
        t.to_bytes(8, "little") + ns.encode() + v.to_bytes(8, "little")
    )
    if polygon is not None:
        data += polygon.to_bytes(8, "little")
    return _fnv64(data)


@F.pandas_udf(T.LongType())
def _tile_id_udf(fid: pd.Series) -> pd.Series:
    # UI tile-feature id assignment -- a cold path (one hash per emitted
    # feature, never in a join hot loop); Arrow-batched, per-row FNV.
    return fid.map(
        lambda s: int(np.uint64(_tile_feature_id(s)).astype(np.int64))
    ).astype("int64")


@F.pandas_udf(T.StringType())
def _tile_id_hex_udf(fid: pd.Series) -> pd.Series:
    # strconv.FormatUint(id, 16) (tiles.go:38,44)
    return fid.map(lambda s: format(_tile_feature_id(s), "x"))


def _fn_tile_ids(env, feature):
    return _feature_df(feature).select(
        "feature_id", _tile_id_udf(F.col("feature_id")).alias("tile_id")
    )


def _fn_tile_ids_hex(env, feature):
    # Deprecated in the reference (tiles.go:31); kept for symbol parity.
    return _feature_df(feature).select(
        "feature_id", _tile_id_hex_udf(F.col("feature_id")).alias("tile_id_hex")
    )


def _fn_tile_paths(env, geometry, zoom):
    t = geo_fn.tile_cover(_feature_df(geometry), int(zoom))
    return t.select(
        "feature_id",
        F.concat_ws("/", F.col("zoom"), F.col("tile_x"), F.col("tile_y")).alias("path"),
    )


# ---------------------------------------------------------------- geojson --


def _fn_parse_geojson(env, s):
    return geojson_src.parse_geojson(env.spark, str(s))


def _fn_parse_geojson_file(env, path):
    return geojson_src.read_geojson_file(env.spark, str(path))


def _fn_to_geojson(env, f):
    """Like to-geojson-collection, the feature columns ride along so
    map-geometries can still transform after encoding (the client's
    to_geojson(...).map_geometries(...) chain, b6_test.py
    test_geojson_map_areas)."""
    df = _feature_df(f)
    return df.join(geojson_src.to_geojson(df), "feature_id")


def _fn_to_geojson_collection(env, f):
    """to-geojson-collection keeps the feature columns alongside the
    encoded document so geometry transforms can still compose after it
    (vm_test.go:141-164 pipes it into map-geometries); the geojson
    column is refreshed by map-geometries after any transform."""
    df = _feature_df(f)
    return df.join(geojson_src.to_geojson(df), "feature_id")


def _fn_import_geojson(env, g, ns):
    """fn geojson.go:102-141: imported features land in the CALLER's
    namespace -- ids are <type>/<ns>/<key> (b6_test.py:412-431 asserts
    ids[0].namespace == "diagonal.works/test")."""
    ns = str(ns)
    df = _require_df(g)
    stamped = df.withColumn("ns", F.lit(ns)).withColumn(
        "feature_id",
        F.concat(
            F.col("feature_type"),
            F.lit("/" + ns + "/"),
            F.element_at(F.split(F.col("feature_id"), "/"), -1),
        ),
    )
    return ChangeVal(added=stamped)


def _fn_import_geojson_file(env, path, ns):
    return _fn_import_geojson(env, geojson_src.read_geojson_file(env.spark, str(path)), ns)


def _fn_geojson_areas(env, g):
    return geojson_src.geojson_areas(_require_df(g))


def _apply_to_type_fn(ftype: str):
    def wrap(env, f):
        fn = f if isinstance(f, (Func, Partial, LambdaVal)) else None
        if fn is None:
            raise ShellError("apply-to-* expects a function")

        def gated(env2, coll):
            return geo_fn.apply_to_type(
                _require_df(coll), ftype, lambda df: _as_df_transform(env2, fn, df)
            )

        return Func(f"apply-to-{ftype}", gated, 1)

    return wrap


def _as_df_transform(env, fn, df: DataFrame) -> DataFrame:
    out = fn.apply(env, [df])
    if isinstance(out, ChangeVal):
        raise ShellError("apply-to-* function must return features")
    if isinstance(out, ColVal):
        return out.ref.df.select("feature_id", out.col.alias(out.name))
    out = _require_df(out)
    if "xs" not in out.columns and {"feature_id", "lat", "lng"} <= set(out.columns):
        # a geometry->point transform (centroid / interpolate): graft the
        # new point geometry back onto the feature rows -- map-geometries
        # REPLACES the geometry and keeps the feature's identity and tags
        # (fn geojson.go:141-164 semantics)
        pts = out.select("feature_id", "lat", "lng")
        return (
            df.drop("xs", "ys", "ring_offsets")
            .join(pts, "feature_id")
            .withColumn("feature_type", F.lit("point"))
            .withColumn("xs", F.array(F.col("lng")))
            .withColumn("ys", F.array(F.col("lat")))
            .withColumn("ring_offsets", F.array(F.lit(0)))
            .drop("lat", "lng")
        )
    if "feature_type" not in out.columns and {"feature_id", "xs", "ys"} <= set(
        out.columns
    ):
        # a geometry->geometry transform (snap-area-edges): graft the
        # new rings back onto the feature rows, keeping identity + tags.
        # toDF re-ids the attributes -- new_geo descends from df, and a
        # same-id self join trips the analyzer
        geo_cols = [
            c for c in ("feature_id", "xs", "ys", "ring_offsets") if c in out.columns
        ]
        new_geo = out.select(*geo_cols).toDF(*geo_cols)
        joined = df.drop("xs", "ys", "ring_offsets").join(new_geo, "feature_id")
        if "ring_offsets" not in new_geo.columns:
            joined = joined.withColumn("ring_offsets", F.array(F.lit(0)))
        return joined.select(*df.columns)
    return out


def _fn_map_geometries(env, g, f):
    fn = f if isinstance(f, (Func, Partial, LambdaVal)) else None
    if fn is None:
        raise ShellError("map-geometries expects a function")
    df = _require_df(g)
    had_geojson = "geojson" in df.columns
    if had_geojson:
        df = df.drop("geojson")
    out = geo_fn.map_geometries(df, lambda d: _as_df_transform(env, fn, d))
    if had_geojson and "xs" in out.columns:
        out = out.join(geojson_src.to_geojson(out), "feature_id")
    return out


# ----------------------------------------------------------------- change --


def _ids_of(v, env) -> DataFrame:
    if isinstance(v, P.FeatureId):
        return env.spark.createDataFrame([(v.value,)], "feature_id string")
    if isinstance(v, DataFrame):
        return v.select("feature_id")
    raise ShellError(f"expected a feature id or collection, found {v!r}")


def _fn_add_tag_change(env, target, tag):
    """fn change.go:20-45.  On a feature id -> a Change; on a collection
    -> the applied collection (evaluate.py's column form, kept)."""
    from .evaluate import _fn_add_tag

    if isinstance(target, (DataFrame, RowRef)):
        return _fn_add_tag(env, target, tag)
    if not isinstance(tag, TagVal):
        raise ShellError("add-tag expects a tag literal")
    d = _ids_of(target, env).select(
        "feature_id", F.lit(tag.key).alias("k"), F.lit(tag.value).alias("v")
    )
    return ChangeVal(tag_adds=d)


def _fn_add_tags(env, coll):
    """fn change.go:29-43: collection of feature_id -> tag."""
    d = _require_df(coll)
    if "k" in d.columns and "v" in d.columns:
        return ChangeVal(tag_adds=d.select("feature_id", "k", "v"))
    # (feature_id, "k=v") string pairs from collection literals
    vcol = d.columns[-1]
    return ChangeVal(
        tag_adds=d.select(
            F.col(d.columns[0]).alias("feature_id"),
            F.split(F.col(vcol), "=", 2)[0].alias("k"),
            F.split(F.col(vcol), "=", 2)[1].alias("v"),
        )
    )


def _fn_remove_tag_change(env, target, key):
    from .evaluate import _fn_remove_tag

    if isinstance(target, RowRef):
        # mapped per-feature (`map {h -> remove-tag h "#k"}`): the
        # collection of per-feature changes is one ChangeVal over the
        # row frame (b6_test.py test_merge_changes)
        d = target.df.select("feature_id", F.lit(str(key)).alias("k"))
        return ChangeVal(tag_removes=d)
    if isinstance(target, DataFrame):
        return _fn_remove_tag(env, target, key)
    d = _ids_of(target, env).select("feature_id", F.lit(str(key)).alias("k"))
    return ChangeVal(tag_removes=d)


def _fn_remove_tags(env, coll):
    d = _require_df(coll)
    kcol = "k" if "k" in d.columns else d.columns[-1]
    return ChangeVal(
        tag_removes=d.select(
            F.col(d.columns[0]).alias("feature_id"), F.col(kcol).alias("k")
        )
    )


def _tags_map_col(tags) -> Column:
    if tags is None:
        return F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        )
    if isinstance(tags, TagVal):
        return F.map_from_arrays(
            F.array(F.lit(tags.key)), F.array(F.lit(tags.value))
        )
    if isinstance(tags, DataFrame):
        rows = tags.limit(65).collect()
        if len(rows) > 64:
            raise ShellError("tag collection exceeds 64 entries")
        ks, vs = [], []
        for r in rows:
            v = r[-1]
            if isinstance(v, str) and "=" in v and len(r) == 2 and not isinstance(r[0], str):
                k, _, v = v.partition("=")
            else:
                k, v = str(r[0]), str(v)
            ks.append(k)
            vs.append(v)
        return F.map_from_arrays(
            F.array(*[F.lit(k) for k in ks]), F.array(*[F.lit(v) for v in vs])
        )
    raise ShellError(f"expected tags, found {tags!r}")


def _fn_add_point(env, point, fid, tags):
    p = _pt(point)
    fid = fid.value if isinstance(fid, P.FeatureId) else str(fid)
    row = _feature_row_df(
        env,
        fid,
        "point",
        _tags_map_col(tags),
        F.array(F.lit(p.lng)),
        F.array(F.lit(p.lat)),
        _one_row(env),
    )
    return ChangeVal(added=row)


def _is_feature_id(v) -> bool:
    """The reference gathers only FeatureID-TYPED keys
    (renderer/collection.go:43-49); by the time values reach these
    helpers the parse-node type is gone, so require the engine's id
    shape (type/ns/...) rather than any '/'-bearing string -- a plain
    label like "roads/primary" must NOT become a member reference."""
    return (
        isinstance(v, str)
        and v.split("/", 1)[0]
        in ("point", "path", "area", "relation", "collection")
        and "/" in v
    )


def _members_tags(members) -> list[tuple[str, str]]:
    """Collection members as member:<i> (value) plus member_key:<i> when
    the key itself is a feature id -- the reference's CollectionFeature
    keeps Keys AND Values, and both sides can reference features
    (renderer/collection.go:43-49 gathers ids from each)."""
    if members is None:
        return []

    is_fid = _is_feature_id

    if isinstance(members, DataFrame):
        rows = members.limit(1025).collect()
        if len(rows) > 1024:
            raise ShellError("member collection exceeds 1024 entries")
        out = []
        for i, r in enumerate(rows):
            out.append((f"member:{i}", str(r[-1])))
            if len(r) > 1 and is_fid(r[0]) and r[0] != r[-1]:
                out.append((f"member_key:{i}", str(r[0])))
        return out
    if isinstance(members, tuple):
        out = [("member:0", str(members[-1]))]
        if len(members) > 1 and is_fid(members[0]) and members[0] != members[-1]:
            out.append(("member_key:0", str(members[0])))
        return out
    if isinstance(members, list):
        if len(members) > 1024:
            raise ShellError("member collection exceeds 1024 entries")
        out = []
        for i, m in enumerate(members):
            if isinstance(m, tuple) and len(m) > 1:
                k, v = m[0], m[-1]
            else:
                k, v = None, (m[-1] if isinstance(m, tuple) else m)
            out.append((f"member:{i}", str(v)))
            if k is not None and is_fid(k) and str(k) != str(v):
                out.append((f"member_key:{i}", str(k)))
        return out
    raise ShellError(f"expected a member collection, found {members!r}")


def _composite_feature_change(env, fid, ftype, tags, members) -> ChangeVal:
    """add-relation / add-collection (fn change.go:95-159): the members
    live in tags as member:<i> entries -- the FEATURE_SCHEMA carries no
    member arrays, and list-feature reads them back (documented pairing)."""
    fid = fid.value if isinstance(fid, P.FeatureId) else str(fid)
    base = _tags_map_col(tags)
    mems = _members_tags(members)
    if mems:
        add = F.map_from_arrays(
            F.array(*[F.lit(k) for k, _ in mems]),
            F.array(*[F.lit(v) for _, v in mems]),
        )
        base = F.map_concat(base, add)
    row = _feature_row_df(
        env,
        fid,
        ftype,
        base,
        F.array().cast("array<double>"),
        F.array().cast("array<double>"),
        _one_row(env),
    )
    return ChangeVal(added=row)


def _fn_add_relation(env, fid, tags, members):
    return _composite_feature_change(env, fid, "relation", tags, members)


def _fn_add_collection(env, fid, tags, collection):
    return _composite_feature_change(env, fid, "collection", tags, collection)


def _fn_add_expression(env, fid, tags, expr):
    fid = fid.value if isinstance(fid, P.FeatureId) else str(fid)
    name = fid.rpartition("/")[2]
    row = expr_ops.add_expression(env.spark, name, str(expr))
    row = row.withColumn("feature_id", F.lit(fid)).withColumn(
        "ns", F.lit("diagonal.works/shell")
    )
    return ChangeVal(added=row.select(*env.features.columns))


def _fn_merge_changes(env, coll):
    """fn change.go:186-201: merge a collection of Changes."""
    items = coll
    if isinstance(coll, DataFrame):
        raise ShellError("merge-changes expects a collection literal of changes")
    if isinstance(coll, ChangeVal):
        return coll
    if isinstance(coll, (list, tuple)):
        out = ChangeVal()
        for it in coll:
            c = it[-1] if isinstance(it, tuple) else it
            if not isinstance(c, ChangeVal):
                raise ShellError("merge-changes expects changes")
            out = out.merge(c)
        return out
    raise ShellError(f"merge-changes expects changes, found {items!r}")


def _fn_with_change(env, change, fn):
    if not isinstance(change, ChangeVal):
        raise ShellError("with-change expects a change")
    if not isinstance(fn, (Func, Partial, LambdaVal)):
        raise ShellError("with-change expects a function")
    env2 = Env(env.spark, change.apply(env.features))
    if isinstance(fn, LambdaVal) and fn.arity == 0:
        from .evaluate import _eval

        return _eval(fn.node.body, env2, dict(fn.bindings))
    return fn.apply(env2, [])


def _fn_add_world_with_change(env, fid, change):
    """fn world.go addWorldWithChange (b6_test.py:643-649): the change
    lands in a NEW world rooted at `fid`; the caller's world is
    untouched.  Snapshot worlds have no root registry, so the returned
    ChangeVal IS the new root: apply() materializes that world."""
    if not isinstance(change, ChangeVal):
        raise ShellError("add-world-with-change expects a change")
    return change


def _fn_changes_to_file(env, change, filename):
    """Reference arity is (filename) over the context's accumulated
    change stack (fn change.go:224-243); snapshots have no ambient
    stack, so the change is explicit: `<change> | changes-to-file "p"`."""
    if not isinstance(change, ChangeVal):
        raise ShellError("changes-to-file expects a change")
    changes_yaml.export_changes_yaml(
        str(filename),
        tag_adds=change.tag_adds,
        tag_removes=change.tag_removes,
        added=change.added,
    )
    return str(filename)


def _fn_changes_from_file(env, filename):
    d = changes_yaml.import_changes_yaml(env.spark, str(filename))
    return ChangeVal(
        tag_adds=d.get("tag_adds"),
        tag_removes=d.get("tag_removes"),
        added=d.get("added"),
    )


def _fn_id_to_relation_id(env, ns, target):
    if isinstance(target, P.FeatureId):
        val = target.value.rpartition("/")[2]
        return P.FeatureId(f"relation/{ns}/{val}")
    if isinstance(target, RowRef):
        return ColVal(
            target,
            F.concat(
                F.lit(f"relation/{ns}/"),
                F.element_at(F.split(F.col("feature_id"), "/"), -1),
            ),
            name="feature_id",
        )
    raise ShellError("id-to-relation-id expects a feature id")


# ------------------------------------------------------------ materialise --


def _fn_materialise(env, fid, fn):
    """fn materialise.go:37-63: evaluate the no-arg function, store its
    collection under the given collection id, and add an expression
    feature with the SAME namespace/value (FeatureTypeExpression,
    materialise.go:56-59) holding the function's expression.  Spark-first
    the persistent half is checkpoint.write_snapshot (lineage + resume);
    the evaluated plan also rides on the change (.result)."""
    if not isinstance(fn, (Func, Partial, LambdaVal)):
        raise ShellError("materialise expects a function")
    result = _fn_with_change(env, ChangeVal(), fn)
    fid_s = fid.value if isinstance(fid, P.FeatureId) else str(fid)
    expr_fid = (
        "expression/" + fid_s.split("/", 1)[1] if "/" in fid_s else f"expression/shell/{fid_s}"
    )
    members = result
    if isinstance(members, DataFrame) and {"feature_id", "feature_type", "tags"} <= set(
        members.columns
    ):
        # a feature collection materialises as feature-id references
        # (materialiseCollection stores ids for both keys and values)
        members = members.select("feature_id")
    kv = _members_tags(members) if isinstance(members, (DataFrame, list, tuple)) else []
    coll_tags = (
        F.map_from_arrays(
            F.array(*[F.lit(k) for k, _ in kv]),
            F.array(*[F.lit(v) for _, v in kv]),
        )
        if kv
        else F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        )
    )
    cols = env.features.columns
    coll_row = _feature_row_df(
        env, fid_s, "collection", coll_tags, F.array(), F.array(), _one_row(env)
    ).select(*cols)
    expr_tags = F.map_from_arrays(
        F.array(F.lit("b6:expression")),
        F.array(F.lit(getattr(fn, "name", "materialised"))),
    )
    expr_row = _feature_row_df(
        env, expr_fid, "expression", expr_tags, F.array(), F.array(), _one_row(env)
    ).select(*cols)
    ch = ChangeVal(added=coll_row.unionByName(expr_row))
    ch.result = result  # type: ignore[attr-defined]
    return ch


def _fn_materialise_map(env, coll, fid, fn):
    """fn materialise.go:65-179 materialiseMap: per input feature,
    fn(feature)'s collection is materialised under its OWN collection
    feature (plus a bound expression feature re-deriving it); the target
    collection maps feature id -> materialised collection id; and
    entries of an EXISTING collection stored under the target id whose
    keys were not re-produced this run are carried over
    (materialise_test.go TestMaterialiseMapMergesExistingCollectionItems).

    Spark shape: the per-feature materialised rows and their expression
    rows are pure column expressions over one groupBy -- distributed at
    any corpus size; only the TOP collection's member list touches the
    driver, under the same 1024-entry cap every stored collection has.

    Documented deviation: materialised ids are md5(target id | feature
    id) rather than the reference's rand.Uint64 -- deterministic, so a
    re-run or a resumed job emits byte-identical changes."""
    if not isinstance(fn, (Func, Partial, LambdaVal)):
        raise ShellError("materialise-map expects a function")
    from .evaluate import _fn_map

    fid_s = fid.value if isinstance(fid, P.FeatureId) else str(fid)
    result = _fn_map(env, coll, fn)
    if not isinstance(result, DataFrame) or "feature_id" not in result.columns:
        # materialise.go:94-96: per-feature results must be collections
        raise ShellError(f"expected a collection, found {type(result).__name__}")
    other = [c for c in result.columns if c != "feature_id"]
    if len(other) == 2:
        item = F.concat_ws(
            "=", F.col(other[0]).cast("string"), F.col(other[1]).cast("string")
        )
    elif len(other) == 1:
        item = F.col(other[0]).cast("string")
    else:
        raise ShellError("materialise-map function must produce a collection")

    digest = F.md5(F.concat(F.lit(fid_s + "|"), F.col("feature_id")))
    grouped = (
        result.select("feature_id", item.alias("item"))
        .groupBy("feature_id")
        .agg(F.collect_list("item").alias("items"))
        .withColumn(
            "mat_id", F.concat(F.lit("collection/materialised/"), digest)
        )
    )
    member_tags = F.map_from_entries(
        F.transform(
            F.col("items"),
            lambda it, i: F.struct(
                F.concat(F.lit("member:"), i.cast("string")).alias("key"),
                it.alias("value"),
            ),
        )
    )
    cols = env.features.columns
    empty_d = F.array().cast("array<double>")
    mat_rows = grouped.select(
        F.col("mat_id").alias("feature_id"),
        F.lit("collection").alias("feature_type"),
        F.lit("diagonal.works/shell").alias("ns"),
        member_tags.alias("tags"),
        empty_d.alias("xs"),
        empty_d.alias("ys"),
        F.array(F.lit(0)).cast("array<int>").alias("ring_offsets"),
    ).select(*cols)
    # the per-entry bound expression (materialise.go:104-125): replaying
    # it re-derives the materialised collection from the live feature
    fn_name = getattr(fn, "name", "fn")
    bound_expr = F.concat(
        F.lit(f"({fn_name} (find-feature "), F.col("feature_id"), F.lit("))")
    )
    expr_rows = grouped.select(
        F.concat(F.lit("expression/materialised/"), digest).alias("feature_id"),
        F.lit("expression").alias("feature_type"),
        F.lit("diagonal.works/shell").alias("ns"),
        F.map_from_arrays(
            F.array(F.lit("b6:expression")), F.array(bound_expr)
        ).alias("tags"),
        empty_d.alias("xs"),
        empty_d.alias("ys"),
        F.array(F.lit(0)).cast("array<int>").alias("ring_offsets"),
    ).select(*cols)

    pairs = grouped.select("feature_id", "mat_id").limit(1025).collect()
    if len(pairs) > 1024:
        raise ShellError("materialise-map target collection exceeds 1024 entries")
    entries = [(str(r["feature_id"]), str(r["mat_id"])) for r in pairs]
    entries.sort()
    new_keys = {k for k, _ in entries}
    existing = find_ops.find_feature(env.features, fid_s).select("tags").collect()
    if existing and existing[0]["tags"]:
        old: dict[int, list] = {}
        for k, v in existing[0]["tags"].items():
            for prefix, slot in (("member:", 1), ("member_key:", 0)):
                if k.startswith(prefix):
                    i = int(k.split(":", 1)[1])
                    old.setdefault(i, [None, None])[slot] = v
        for i in sorted(old):
            key, val = old[i]
            if val is not None and (key or val) not in new_keys:
                entries.append((key if key is not None else val, val))

    kv: list[tuple[str, str]] = []
    for i, (k, v) in enumerate(entries):
        kv.append((f"member:{i}", v))
        if _is_feature_id(k) and k != v:
            kv.append((f"member_key:{i}", k))
    top_tags = (
        F.map_from_arrays(
            F.array(*[F.lit(k) for k, _ in kv]),
            F.array(*[F.lit(v) for _, v in kv]),
        )
        if kv
        else F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        )
    )
    top_row = _feature_row_df(
        env, fid_s, "collection", top_tags, F.array(), F.array(), _one_row(env)
    ).select(*cols)

    # the reference adds NO expression record under the target id
    # (materialise.go:75-79: the change is the target collection, the
    # per-feature materialised collections, and their bound expressions)
    ch = ChangeVal(added=mat_rows.unionByName(expr_rows).unionByName(top_row))
    ch.result = result  # type: ignore[attr-defined]
    return ch


# ----------------------------------------------------------------- export --


def _fn_export_world(env, filename):
    from ..checkpoint import write_snapshot

    m = write_snapshot(env.features, str(filename), partition_col="feature_type")
    return sum(p["rows"] for p in m.partitions.values())


# ------------------------------------------------------------ collections --


def _value_col(df: DataFrame) -> str:
    return "value" if "value" in df.columns else df.columns[-1]


def _key_col(df: DataFrame) -> str:
    return df.columns[0]


def _fn_flatten(env, coll):
    if isinstance(coll, (list, tuple)):
        dfs = [c[-1] if isinstance(c, tuple) else c for c in coll]
        dfs = [_require_df(d) for d in dfs]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out
    df = _require_df(coll)
    arrays = [c for c, t in df.dtypes if t.startswith("array")]
    if not arrays:
        return df
    return agg_ops.flatten(df, arrays[-1])


def _fn_count_keys(env, coll):
    df = _require_df(coll)
    return agg_ops.count_keys(df, _key_col(df))


def _fn_count_valid_keys(env, coll):
    df = _require_df(coll)
    k = _key_col(df)
    return agg_ops.count_keys(df.filter(F.col(k).isNotNull()), k)


def _fn_count_valid_ids(env, coll):
    df = _require_df(coll)
    k = "feature_id" if "feature_id" in df.columns else _key_col(df)
    return df.agg(
        F.sum(
            (F.col(k).isNotNull() & ~F.col(k).contains("/invalid/")).cast("long")
        ).alias("value")
    )


def _fn_sum_by_key(env, coll):
    df = _require_df(coll)
    return agg_ops.sum_by_key(df, _key_col(df), _value_col(df))


def _fn_histogram(env, coll):
    df = _require_df(coll)
    return agg_ops.histogram_buckets(df, _value_col(df))


def _fn_histogram_with_id(env, coll, fid):
    out = _fn_histogram(env, coll)
    fid = fid.value if isinstance(fid, P.FeatureId) else str(fid)
    return out.withColumn("collection_id", F.lit(fid))


def _fn_histogram_swatch(env, coll):
    # swatch index = bucket order (api/histogram.go swatches are
    # renderer presentation; the stable index is the data content)
    return _fn_histogram(env, coll).withColumn("swatch", F.col("bucket"))


def _fn_histogram_swatch_with_id(env, coll, fid):
    return _fn_histogram_with_id(env, coll, fid).withColumn(
        "swatch", F.col("bucket")
    )


def _fn_join_missing(env, base, joined):
    base, joined = _require_df(base), _require_df(joined)
    return agg_ops.join_missing(base, joined, _key_col(base))


def _fn_list_feature(env, fid):
    """fn features.go:522-528: a stored collection feature's items --
    the member:<i> tag entries written by add-collection."""
    fid = fid.value if isinstance(fid, P.FeatureId) else str(fid)
    f = find_ops.find_feature(env.features, fid)
    items = f.select(F.explode("tags").alias("k", "value")).filter(
        F.col("k").startswith("member:")
    )
    return items.select(
        F.regexp_extract("k", r"member:(\d+)", 1).cast("int").alias("key"), "value"
    ).orderBy("key")


def _fn_percentiles(env, coll):
    df = _require_df(coll)
    v = _value_col(df)
    k = _key_col(df)
    return agg_ops.percentiles(df, v, k)


def _fn_map_items(env, coll, fn):
    df = _require_df(coll)
    if not isinstance(fn, (Func, Partial, LambdaVal)):
        raise ShellError("map-items expects a function")
    ref = RowRef(df)
    k, v = df.columns[0], _value_col(df)
    pair = (ColVal(ref, F.col(k), name="key"), ColVal(ref, F.col(v), name="value"))
    out = fn.apply(env, [pair])
    if isinstance(out, ColVal):
        return df.select(F.col(k).alias("key"), out.col.alias(out.name))
    if isinstance(out, tuple) and all(isinstance(c, ColVal) for c in out):
        return df.select(out[0].col.alias("key"), out[1].col.alias("value"))
    raise ShellError("map-items lambda must produce column expressions")


# ----------------------------------------------------------------- search --


def _fn_find_collection(env, fid):
    fid = fid.value if isinstance(fid, P.FeatureId) else str(fid)
    return find_ops.find_feature(env.features, fid).filter(
        F.col("feature_type").isin("collection", "relation")
    )


def _fn_containing_areas(env, points, query):
    """fn features.go:61-80: areas (matching query) containing the given
    point features -- the oracle-passed broadcast containment join."""
    from ..operators import spatial_join

    pts = _require_df(points).filter(F.size("xs") > 0).select(
        F.col("feature_id").alias("_pid"),
        F.element_at("ys", 1).alias("lat"),
        F.element_at("xs", 1).alias("lng"),
    )
    areas = _find(env, query).filter(F.col("feature_type") == "area")
    hits = spatial_join.containment_join_broadcast(pts, areas, point_id="_pid")
    return env.features.join(
        F.broadcast(hits.select("feature_id").distinct()), "feature_id", "semi"
    )


# --------------------------------------------------------------- features --


def _fn_degree(env, point):
    """pointDegree (fn features.go:208-219): the number of path
    SEGMENTS at the point -- World.Traverse counts a through-path
    twice, an end once, and includes closed-way perimeters (the
    reference keeps a path twin for every closed way,
    ingest/osm.go:350-360).  Relation-assembled areas are excluded:
    their member ways are path features already."""
    segs = net_ops.path_segments(_routable_paths(env.features))
    ends = segs.select(F.col("y1").alias("lat"), F.col("x1").alias("lng")).unionByName(
        segs.select(F.col("y2").alias("lat"), F.col("x2").alias("lng"))
    )
    val = ends.groupBy("lat", "lng").agg(F.count("*").alias("n"))
    pts = _rep_points(_feature_df(point), "point_id")
    return (
        pts.join(val, ["lat", "lng"], "left")
        .groupBy("point_id")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("int").alias("degree"))
    )


def _fn_points(env, g):
    return geo_fn.points_of(_feature_df(g))


def _fn_point_features(env, f):
    """point-features (fn features.go:362-380): a path's vertices as
    point FEATURES -- when a vertex coincides with a world point (the
    shared OSM node), its real id is returned; otherwise the derived
    <fid>/<idx> row stands in (packed layout drops node ids)."""
    pf = geo_fn.point_features(_feature_df(f))
    world_pts = env.features.filter(F.col("feature_type") == "point").select(
        F.col("feature_id").alias("_wid"),
        F.element_at("ys", 1).alias("lat"),
        F.element_at("xs", 1).alias("lng"),
    )
    return pf.join(world_pts, ["lat", "lng"], "left").select(
        F.coalesce("_wid", "point_id").alias("point_id"),
        "parent_id",
        "idx",
        "lat",
        "lng",
    )


def _fn_point_paths(env, f):
    pp = geo_fn.point_paths(env.features)
    pts = _rep_points(_feature_df(f), "point_id")
    return pts.join(pp, ["lat", "lng"]).select(
        "point_id", "path_id", "lat", "lng", "n_paths"
    )


_SAMPLE_SCHEMA = T.ArrayType(
    T.StructType(
        [T.StructField("lat", T.DoubleType()), T.StructField("lng", T.DoubleType())]
    )
)


def _sample_every(paths: DataFrame, spacing_m: float) -> DataFrame:
    """fn features.go:410-452: a point every spacing_m along each path,
    starting at vertex 0 (the reference walks segments accumulating
    distance).  Arrow-batched kernel pass, one row per path."""

    @F.pandas_udf(_SAMPLE_SCHEMA)
    def _samples(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(xs, ys):
            x = np.asarray(x, dtype=np.float64)
            y = np.asarray(y, dtype=np.float64)
            seg = geom_k.haversine_m(y[:-1], x[:-1], y[1:], x[1:])
            total = float(np.sum(seg))
            pts = []
            d = 0.0
            while d <= total + 1e-9:
                frac = 0.0 if total == 0 else min(d / total, 1.0)
                lat, lng = geom_k.interpolate_along(x, y, frac)
                pts.append({"lat": lat, "lng": lng})
                if total == 0:
                    break
                d += spacing_m
            out.append(pts)
        return pd.Series(out)

    return paths.select(
        "feature_id",
        F.posexplode(_samples(F.col("xs"), F.col("ys"))).alias("sample_idx", "s"),
    ).select(
        "feature_id",
        "sample_idx",
        F.col("s.lat").alias("lat"),
        F.col("s.lng").alias("lng"),
    )


def _fn_sample_points(env, path, distance):
    return _sample_every(_feature_df(path), _scalar_float(distance))


def _fn_sample_points_along_paths(env, paths, distance):
    # the reference's exact sampler INCLUDING the global seen-set dedup
    # (features.go appendUnseenSampledPoints; shared junction vertices
    # collapse -- b6_test.py:242-250 pins 300-350 over #highway at 20 m).
    # appendUnseenSampledPoints samples ONLY GeometryTypePath: tagged
    # areas (highway=pedestrian plazas) and point nodes contribute nothing.
    return geo_fn.sample_points_every(
        _require_df(paths).filter(F.col("feature_type") == "path"),
        _scalar_float(distance),
        dedup=True,
    )


def _pairs_of(a, b) -> DataFrame:
    """Two single-path collections -> the (pair_id, axs, ays, bxs, bys)
    frame the join kernels consume."""
    da = _require_df(a).select(
        F.lit(0).alias("pair_id"), F.col("xs").alias("axs"), F.col("ys").alias("ays")
    )
    db = _require_df(b).select(
        F.lit(0).alias("_pid2"), F.col("xs").alias("bxs"), F.col("ys").alias("bys")
    )
    return da.join(db, da["pair_id"] == db["_pid2"]).drop("_pid2")


def _fn_join(env, a, b):
    return geo_fn.join_paths(_pairs_of(a, b))


def _fn_ordered_join(env, a, b):
    return geo_fn.ordered_join(_pairs_of(a, b))


def _fn_evaluate_feature(env, fid):
    """fn features.go:530-537: run the shell expression stored on the
    feature (tags[b6:expression]) against this world."""
    fid = fid.value if isinstance(fid, P.FeatureId) else str(fid)
    row = (
        env.features.filter(F.col("feature_id") == fid)
        .select(F.col("tags")["b6:expression"].alias("q"))
        .limit(1)
        .collect()
    )
    if not row or row[0]["q"] is None:
        raise ShellError(f"no expression stored on {fid!r}")
    from .evaluate import evaluate_expression

    return evaluate_expression(row[0]["q"], env)


def _fn_call(env, fn, *args):
    if not isinstance(fn, (Func, Partial, LambdaVal)):
        raise ShellError("call expects a function")
    return fn.apply(env, list(args))


# ------------------------------------------------------------------ debug --


def _fn_debug_tokens(env, f):
    return find_ops.debug_tokens(_feature_df(f))


def _fn_debug_all_query(env, token):
    """fn debug.go:22-24: the search query a token denotes.  Tag tokens
    compile to pushdown predicates; s2: tokens are covering semi-joins
    (not a pure Column) and are rejected with the operator to use."""
    t = str(token)
    if t.startswith("s2:"):
        raise ShellError(
            "s2 cell tokens lower to the covering semi-join -- use "
            "intersecting/within (operators/cover.py), not a tag predicate"
        )
    k, sep, v = t.partition("=")
    return P.Query(P.QTagged(k, v) if sep else P.QKeyed(k))


# ------------------------------------------------------------------- math --


def _fn_divide_int(env, a, b):
    if isinstance(a, ColVal):
        return ColVal(a.ref, a.col.cast("double") / _col_of(b))
    return float(a) / float(b)


def _fn_add_ints(env, a, b):
    if isinstance(a, ColVal):
        return ColVal(a.ref, (a.col.cast("long") + _col_of(b).cast("long")))
    return int(a) + int(b)


def _fn_int_value(env, t):
    """fn features.go int-value: a tag's value as int (invalid -> null)."""
    if isinstance(t, TagVal):
        try:
            return int(t.value)
        except ValueError:
            return None
    if isinstance(t, ColVal):
        col = evaluate._tag_col_value(t.col) if t.name == "tag" else t.col
        return ColVal(t.ref, col.cast("long"))
    raise ShellError("int-value expects a tag")


def _fn_float_value(env, t):
    if isinstance(t, TagVal):
        try:
            return float(t.value)
        except ValueError:
            return None
    if isinstance(t, ColVal):
        col = evaluate._tag_col_value(t.col) if t.name == "tag" else t.col
        return ColVal(t.ref, col.cast("double"))
    raise ShellError("float-value expects a tag")


# -------------------------------------------------------------- registry --


def _register() -> None:
    fns = {
        # graph (fn graph.go, access.go)
        "reachable": (_fn_reachable, 4),
        "accessible-all": (_fn_accessible_all, 4),
        "accessible-routes": (_fn_accessible_routes, 4),
        "filter-accessible": (_fn_filter_accessible, 2),
        "closest": (_fn_closest, 4),
        "closest-distance": (_fn_closest_distance, 4),
        "paths-to-reach": (_fn_paths_to_reach, 4),
        "reachable-area": (_fn_reachable_area, 3),
        "connect": (_fn_connect, 2),
        "connect-to-network": (_fn_connect_to_network, 1),
        "connect-to-network-all": (_fn_connect_to_network, 1),
        "building-access": (_fn_building_access, 3),
        # geometry (fn geometry.go, sightline.go)
        "ll": (_fn_ll, 2),
        "distance-meters": (_fn_distance_meters, 2),
        "distance-to-point-meters": (_fn_distance_to_point_meters, 2),
        "interpolate": (_fn_interpolate, 2),
        "centroid": (_fn_centroid, 1),
        "rectangle-polygon": (_fn_rectangle_polygon, 2),
        "cap-polygon": (_fn_cap_polygon, 2),
        "wkt": (_fn_wkt, 1),
        "collect-areas": (_fn_collect_areas, 1),
        "convex-hull": (_fn_convex_hull, 1),
        "sightline": (_fn_sightline, 2),
        "entrance-approach": (_fn_entrance_approach, 1),
        "snap-area-edges": (_fn_snap_area_edges, 3),
        # s2 (fn s2.go)
        "s2-points": (_fn_s2_points, 3),
        "s2-covering": (_fn_s2_covering, 3),
        "s2-grid": (_fn_s2_grid, 2),
        "s2-center": (_fn_s2_center, 1),
        "s2-polygon": (_fn_s2_polygon, 1),
        # tiles (fn tiles.go)
        "tile-ids": (_fn_tile_ids, 1),
        "tile-ids-hex": (_fn_tile_ids_hex, 1),
        "tile-paths": (_fn_tile_paths, 2),
        # geojson (fn geojson.go)
        "parse-geojson": (_fn_parse_geojson, 1),
        "parse-geojson-file": (_fn_parse_geojson_file, 1),
        "to-geojson": (_fn_to_geojson, 1),
        "to-geojson-collection": (_fn_to_geojson_collection, 1),
        "import-geojson": (_fn_import_geojson, 2),
        "import-geojson-file": (_fn_import_geojson_file, 2),
        "geojson-areas": (_fn_geojson_areas, 1),
        "apply-to-point": (_apply_to_type_fn("point"), 1),
        "apply-to-path": (_apply_to_type_fn("path"), 1),
        "apply-to-area": (_apply_to_type_fn("area"), 1),
        "map-geometries": (_fn_map_geometries, 2),
        # change (fn change.go)
        "id-to-relation-id": (_fn_id_to_relation_id, 2),
        "add-tags": (_fn_add_tags, 1),
        "remove-tags": (_fn_remove_tags, 1),
        "add-point": (_fn_add_point, 3),
        "add-relation": (_fn_add_relation, 3),
        "add-collection": (_fn_add_collection, 3),
        "add-expression": (_fn_add_expression, 3),
        "merge-changes": (_fn_merge_changes, 1),
        "with-change": (_fn_with_change, 2),
        "add-world-with-change": (_fn_add_world_with_change, 2),
        "changes-to-file": (_fn_changes_to_file, 2),
        "changes-from-file": (_fn_changes_from_file, 1),
        # materialise (fn materialise.go)
        "materialise": (_fn_materialise, 2),
        "materialise-map": (_fn_materialise_map, 3),
        # export (fn export.go)
        "export-world": (_fn_export_world, 1),
        # collections (fn collections.go, math.go)
        "flatten": (_fn_flatten, 1),
        "count-keys": (_fn_count_keys, 1),
        "count-valid-keys": (_fn_count_valid_keys, 1),
        "count-valid-ids": (_fn_count_valid_ids, 1),
        "sum-by-key": (_fn_sum_by_key, 1),
        "histogram": (_fn_histogram, 1),
        "histogram-with-id": (_fn_histogram_with_id, 2),
        "histogram-swatch": (_fn_histogram_swatch, 1),
        "histogram-swatch-with-id": (_fn_histogram_swatch_with_id, 2),
        "join-missing": (_fn_join_missing, 2),
        "list-feature": (_fn_list_feature, 1),
        "percentiles": (_fn_percentiles, 1),
        "map-items": (_fn_map_items, 2),
        "divide-int": (_fn_divide_int, 2),
        "add-ints": (_fn_add_ints, 2),
        "int-value": (_fn_int_value, 1),
        "float-value": (_fn_float_value, 1),
        # search (fn features.go)
        "find-collection": (_fn_find_collection, 1),
        "containing-areas": (_fn_containing_areas, 2),
        # features (fn features.go)
        "degree": (_fn_degree, 1),
        "points": (_fn_points, 1),
        "point-features": (_fn_point_features, 1),
        "point-paths": (_fn_point_paths, 1),
        "sample-points": (_fn_sample_points, 2),
        "sample-points-along-paths": (_fn_sample_points_along_paths, 2),
        "join": (_fn_join, 2),
        "ordered-join": (_fn_ordered_join, 2),
        "evaluate-feature": (_fn_evaluate_feature, 1),
        "call": (_fn_call, -1),
        # map-parallel: Spark parallelism is the plan's, not the VM's --
        # the alias keeps reference scripts running (fn map.go:290)
        "map-parallel": (
            lambda env, coll, fn: REGISTRY["map"].fn(env, coll, fn),
            2,
        ),
        # debug (fn debug.go)
        "debug-tokens": (_fn_debug_tokens, 1),
        "debug-all-query": (_fn_debug_all_query, 1),
        # name (fn expression.go NameExpression): a UI display label --
        # semantically the identity on the value (b6_test.py
        # test_name_expression only asserts the wrapped value evaluates)
        "name": (lambda env, value, label: value, 2),
    }
    for name, (fn, ar) in fns.items():
        if name not in REGISTRY:
            REGISTRY[name] = Func(name, fn, ar)
    # id-or-collection dispatching forms replace the collection-only core
    # versions (fn change.go:20-67: the reference's add-tag/remove-tag act
    # on an Identifiable and return a Change)
    REGISTRY["add-tag"] = Func("add-tag", _fn_add_tag_change, 2)
    REGISTRY["remove-tag"] = Func("remove-tag", _fn_remove_tag_change, 2)


_register()
