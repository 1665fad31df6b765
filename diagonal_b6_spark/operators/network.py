"""Network-connection joins (SURVEY.md §2.5, §2.9 tail).

`connect-to-network`: project each feature onto the closest street-network
segment within a threshold (reference: fn graph.go:522-586,
b6/graph/connectivity.go:39-114, 500 m threshold ConnectFeature).
Spark-first: explode paths into a segment table once, replicate each
segment into the grid cells its threshold-inflated bbox overlaps, join
points on their single cell, refine with a pure-JVM point-to-segment
distance expression, argmin per point.  No driver materialization of any
data-dependent table; the candidate join shuffles on the grid key and
both sides stream.

Elevation IDW join: inverse-distance-weighted average of spot heights
within a radius (reference: b6/elevation.go:18-64 sorted-cell range scan
-> here the same grid-cell candidate join + a weighted aggregation, all
whole-stage-codegen expressions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import gridjoin


def path_segments(paths: DataFrame) -> DataFrame:
    """Explode path features into (feature_id, seg_idx, x1, y1, x2, y2)."""
    z = F.arrays_zip(
        F.slice(F.col("xs"), 1, F.size(F.col("xs")) - 1).alias("x1"),
        F.slice(F.col("ys"), 1, F.size(F.col("ys")) - 1).alias("y1"),
        F.slice(F.col("xs"), 2, F.size(F.col("xs")) - 1).alias("x2"),
        F.slice(F.col("ys"), 2, F.size(F.col("ys")) - 1).alias("y2"),
    )
    return paths.select(
        "feature_id", F.posexplode(z).alias("seg_idx", "s")
    ).select(
        "feature_id", "seg_idx",
        F.col("s.x1").alias("x1"), F.col("s.y1").alias("y1"),
        F.col("s.x2").alias("x2"), F.col("s.y2").alias("y2"),
    )


def segment_cells(segs: DataFrame, cell_deg: float, margin_m: float) -> DataFrame:
    """Replicate each segment into the grid cells its margin-inflated
    bbox overlaps (gy, gx columns added)."""
    return gridjoin.explode_bbox_cells(
        segs,
        cell_deg,
        margin_m,
        F.least(F.col("x1"), F.col("x2")),
        F.greatest(F.col("x1"), F.col("x2")),
        F.least(F.col("y1"), F.col("y2")),
        F.greatest(F.col("y1"), F.col("y2")),
    )


def connect_to_network(
    points: DataFrame,
    paths: DataFrame,
    threshold_m: float = 500.0,
    point_id: str = "image_id",
    lat: str = "lat",
    lng: str = "lng",
    cell_deg: float | None = None,
    network: DataFrame | None = None,
) -> DataFrame:
    """Closest segment within threshold per point:
    (point_id, path_id, seg_idx, dist_m).

    Distributed shape: grid-cell candidate join (every segment within
    threshold_m of a point is guaranteed to land in the point's cell),
    JVM point-to-segment distance refine, min-struct argmin per point
    with deterministic (dist, path_id, seg_idx) tie-break.

    `network`: optional (path_id, comp, in_network) table from
    ``build_street_network`` -- when given, snapping considers ONLY
    member paths (the reference's ConnectFeature projects onto the
    street network, not onto any nearby segment: a driveway stub or
    footpath spur b6 would exclude is never chosen,
    b6/graph/connectivity.go:124-160)."""
    if cell_deg is None:
        cell_deg = gridjoin.margin_deg(threshold_m)
    if network is not None:
        member = network.filter(F.col("in_network")).select(
            F.col("path_id").alias("feature_id")
        )
        paths = paths.join(member, "feature_id", "leftsemi")
    segs = segment_cells(path_segments(paths), cell_deg, threshold_m).withColumnRenamed(
        "feature_id", "_seg_path_id"  # avoid clashing with a point-side id column
    )
    pts = gridjoin.probe_cells(points.select(point_id, lat, lng), cell_deg, lat, lng)
    cand = pts.join(segs, ["gy", "gx"])
    d = gridjoin.point_segment_dist_col(
        F.col(lng), F.col(lat), F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
    )
    t = gridjoin.point_segment_t_col(
        F.col(lng), F.col(lat), F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
    )
    scored = cand.select(
        point_id,
        F.struct(
            d.alias("dist_m"),
            F.col("_seg_path_id").alias("path_id"),
            F.col("seg_idx").alias("seg_idx"),
            (F.col("y1") + t * (F.col("y2") - F.col("y1"))).alias("proj_lat"),
            (F.col("x1") + t * (F.col("x2") - F.col("x1"))).alias("proj_lng"),
        ).alias("c"),
    ).filter(F.col("c.dist_m") <= threshold_m)
    best = scored.groupBy(point_id).agg(F.min("c").alias("b"))
    return best.select(
        point_id,
        F.col("b.path_id").alias("path_id"),
        F.col("b.seg_idx").alias("seg_idx"),
        F.col("b.dist_m").alias("dist_m"),
        F.col("b.proj_lat").alias("proj_lat"),
        F.col("b.proj_lng").alias("proj_lng"),
    )


def _vertex_key(y, x):
    """Portable integer vertex id from coordinates at 1e-7 deg (~1 cm)
    resolution: lat-major 64-bit key, mirrored bit-for-bit by the DuckDB
    oracle.  Node identity = exact shared coordinates (the OSM node
    expansion contract of the features tables)."""
    return (
        F.round(y * 1e7, 0).cast("long") * F.lit(10_000_000_000)
        + F.round((x + 360.0) * 1e7, 0).cast("long")
    )


def build_street_network(
    paths: DataFrame, threshold_m: float = 500.0, rounds: int = 12,
    max_rounds: int | None = None, algorithm: str = "labelprop",
) -> DataFrame:
    """BuildStreetNetwork (reference b6/graph/connectivity.go:39-114):
    classify each path as street-network member iff its connected
    path-set allows traversal farther than `threshold_m` from a path
    start.  The reference flood-fills per path with an early exit into
    already-classified paths, which makes membership transitive across a
    connected component; the Spark-first re-expression computes exactly
    that transitive form:

      1. label-propagation connected components over the shared-vertex
         path graph (min-label equi-join per round -- one shuffle per
         round, lineage truncated; at planetary scale swap in the
         alternating large-star/small-star variant for O(log n) rounds);
      2. per-component spatial extent: the component joins the network
         iff the max pairwise haversine among its four bbox-extreme
         vertices exceeds threshold_m (a lower bound on the true
         traversal diameter that is exact for street geometries --
         deviation from the reference's per-start stack walk is
         deliberate: it removes the Go map-iteration order dependence).

    Returns (path_id, comp, in_network): comp = min vertex key of the
    component.  Label propagation is CONVERGENCE-CHECKED in the engine:
    every 4 rounds (at the lineage-truncation checkpoint, where the
    labels are materialized anyway) a one-row probe counts labels still
    shrinking; the loop exits early at the fixpoint -- which real street
    graphs with hop diameters far above `rounds` need -- and raises if
    `max_rounds` (default 8 x rounds) passes without convergence rather
    than silently fragmenting components.  `rounds` is the expected
    diameter hint, not a hard cap; the catalog oracle additionally
    carries its own l{rounds-1} == l{rounds} parity guard.

    algorithm: 'labelprop' (default -- O(diameter) rounds, the right
    cost for city-scale extracts) or 'star' -- the alternating
    large-star/small-star algorithm (operators/components.py, Kiveris
    et al. 2014), O(log n) rounds independent of diameter, for
    planetary graphs.  Both converge to the identical labeling (comp =
    min vertex key), pinned by test_street_network_star_equals_labelprop."""
    segs = path_segments(paths)
    k1, k2 = _vertex_key(F.col("y1"), F.col("x1")), _vertex_key(F.col("y2"), F.col("x2"))
    seg_keys = segs.select(
        F.col("feature_id"), k1.alias("ku"), k2.alias("kv"),
        F.col("y1").alias("uy"), F.col("x1").alias("ux"),
        F.col("y2").alias("vy"), F.col("x2").alias("vx"),
    )
    verts = (
        seg_keys.select(F.col("ku").alias("k"), F.col("uy").alias("y"), F.col("ux").alias("x"))
        .unionByName(
            seg_keys.select(F.col("kv").alias("k"), F.col("vy").alias("y"), F.col("vx").alias("x"))
        )
        .groupBy("k").agg(F.min("y").alias("y"), F.min("x").alias("x"))
    )
    edges = (
        seg_keys.select(F.col("ku").alias("a"), F.col("kv").alias("b"))
        .unionByName(seg_keys.select(F.col("kv").alias("a"), F.col("ku").alias("b")))
        .distinct()
    )
    if algorithm == "star":
        from . import components

        cc = components.connected_components(edges, "a", "b")
        labels = verts.select("k").join(cc, "k", "left").select(
            "k", F.coalesce("lbl", "k").alias("lbl")
        )
        return _street_network_from_labels(labels, verts, seg_keys, threshold_m)
    labels = verts.select("k", F.col("k").alias("lbl"))
    limit = max_rounds if max_rounds is not None else 8 * rounds
    done, converged = 0, False
    while done < limit:
        batch = min(4, limit - done)
        prev = labels
        for _ in range(batch):
            prop = (
                edges.join(labels, edges["a"] == labels["k"])
                .select(F.col("b").alias("k"), "lbl")
            )
            labels = (
                labels.unionByName(prop).groupBy("k").agg(F.min("lbl").alias("lbl"))
            )
        labels = labels.localCheckpoint(eager=True)
        done += batch
        # min-label is monotone non-increasing: an unchanged batch is the
        # fixpoint.  Both sides are checkpointed, so the probe is a cheap
        # two-scan join, not a recompute.
        still_shrinking = (
            labels.alias("n")
            .join(prev.alias("p"), "k")
            .where(F.col("n.lbl") < F.col("p.lbl"))
            .limit(1)
            .count()
        )
        if still_shrinking == 0:
            converged = True
            break
    if not converged:
        raise ValueError(
            f"street-network label propagation still changing after {limit} "
            f"rounds; component hop-diameter exceeds max_rounds -- raise "
            f"max_rounds or switch to algorithm='star'"
        )
    return _street_network_from_labels(labels, verts, seg_keys, threshold_m)


def _street_network_from_labels(
    labels: DataFrame, verts: DataFrame, seg_keys: DataFrame, threshold_m: float
) -> DataFrame:
    """Per-component extent rule + path membership, shared by both
    component algorithms."""
    lv = labels.join(verts, "k")
    ext = lv.groupBy("lbl").agg(
        F.min(F.struct(F.col("y"), F.col("x"))).alias("pminy"),
        F.max(F.struct(F.col("y"), F.col("x"))).alias("pmaxy"),
        F.min(F.struct(F.col("x"), F.col("y"))).alias("pminx"),
        F.max(F.struct(F.col("x"), F.col("y"))).alias("pmaxx"),
    )
    corners = [
        (F.col("pminy.y"), F.col("pminy.x")),
        (F.col("pmaxy.y"), F.col("pmaxy.x")),
        (F.col("pminx.y"), F.col("pminx.x")),
        (F.col("pmaxx.y"), F.col("pmaxx.x")),
    ]
    dists = [
        gridjoin.haversine_col(a[0], a[1], b[0], b[1])
        for i, a in enumerate(corners)
        for b in corners[i + 1 :]
    ]
    comp = ext.select("lbl", (F.greatest(*dists) > threshold_m).alias("in_network"))
    path_membership = (
        seg_keys.select("feature_id", F.col("ku").alias("k"))
        .distinct()
        .join(labels, "k")
        .select("feature_id", "lbl")
        .distinct()
    )
    return path_membership.join(comp, "lbl").select(
        F.col("feature_id").alias("path_id"), F.col("lbl").alias("comp"), "in_network"
    )


def entrance_approach(
    entrances: DataFrame,
    paths: DataFrame,
    threshold_m: float = 100.0,
    point_id: str = "feature_id",
) -> DataFrame:
    """`entrance-approach` (reference: the sightline.go helper): the
    street point from which an entrance is approached -- the entrance's
    projection onto the closest network segment within threshold.
    Returns (point_id, path_id, approach_lat, approach_lng, dist_m)."""
    c = connect_to_network(entrances, paths, threshold_m, point_id=point_id)
    return c.select(
        point_id,
        "path_id",
        F.col("proj_lat").alias("approach_lat"),
        F.col("proj_lng").alias("approach_lng"),
        "dist_m",
    )


def elevation_idw(
    points: DataFrame,
    spots: DataFrame,
    radius_m: float,
    point_id: str = "image_id",
    power: float = 1.0,
    cell_deg: float | None = None,
) -> DataFrame:
    """IDW elevation per point from spot heights STRICTLY within radius
    (b6/elevation.go:42-64): elev = sum(w*e)/sum(w), w = 1/d (the
    reference's ElevationField weight; `power` generalizes it); a spot
    at distance ~0 dominates via the 1e-9 distance floor.

    Distributed shape: spots replicate into the grid cells within radius
    of themselves, points join their own cell, the weighted sum is one
    groupBy -- no driver collect, pure JVM expressions throughout."""
    if cell_deg is None:
        cell_deg = gridjoin.margin_deg(radius_m)
    sp = gridjoin.explode_bbox_cells(
        spots.select(F.col("lat").alias("slat"), F.col("lng").alias("slng"), "elev"),
        cell_deg,
        radius_m,
        F.col("slng"),
        F.col("slng"),
        F.col("slat"),
        F.col("slat"),
    )
    pts = gridjoin.probe_cells(points.select(point_id, "lat", "lng"), cell_deg)
    cand = pts.join(sp, ["gy", "gx"])
    d = gridjoin.haversine_col(F.col("lat"), F.col("lng"), F.col("slat"), F.col("slng"))
    w = F.lit(1.0) / F.pow(F.greatest(d, F.lit(1e-9)), F.lit(power))
    scored = cand.filter(d < radius_m).select(point_id, w.alias("w"), (w * F.col("elev")).alias("we"))
    return (
        scored.groupBy(point_id)
        .agg((F.sum("we") / F.sum("w")).alias("elev"))
    )


def annotate_elevations(
    features: DataFrame,
    spots: DataFrame,
    radius_m: float = 25.0,
) -> DataFrame:
    """The b6-ingest-terrain annotation pass (cmd/b6-ingest-terrain/
    b6-ingest-terrain.go:185-215 elevationSource): every POINT feature
    that lies on a path tagged #highway gains the tag
    ``ele = strconv.Itoa(int(math.Round(e)))`` where e is the
    ElevationField estimate at the point (IDW with weight 1/d over
    spots STRICTLY inside ``radius_m``, b6/elevation.go:42-64; the
    reference builds the field with Radius=25 m from OS Terrain 50
    grids).  Points with no in-radius spot, points on no highway path,
    and non-point features pass through unchanged.

    Spark shape: highway-path vertices -> distinct exact (lat, lng)
    (shared nodes are shared coordinates in the packed layout, the same
    identity point_paths relies on) -> equi-join against point-feature
    locations -> the gridjoin-bucketed elevation_idw -> one left join
    back + a map_concat.  Go's math.Round is half-AWAY-FROM-ZERO, not
    banker's: sign(e) * floor(|e| + 0.5)."""
    hv = (
        features.filter(
            (F.col("feature_type") == "path")
            & F.col("tags").getItem("#highway").isNotNull()
        )
        .select(F.explode(F.arrays_zip(F.col("ys").alias("lat"), F.col("xs").alias("lng"))).alias("v"))
        .select(F.col("v.lat").alias("lat"), F.col("v.lng").alias("lng"))
        .distinct()
    )
    pts = features.filter(F.col("feature_type") == "point").select(
        "feature_id",
        F.element_at("ys", 1).alias("lat"),
        F.element_at("xs", 1).alias("lng"),
    )
    on_highway = pts.join(hv, ["lat", "lng"], "inner")
    elev = elevation_idw(on_highway, spots, radius_m, point_id="feature_id")
    e = F.col("elev")
    ele = (
        F.signum(e) * F.floor(F.abs(e) + F.lit(0.5))
    ).cast("int").cast("string")
    tagged = elev.select("feature_id", ele.alias("_ele"))
    # AddTag semantics: an existing ele tag is REPLACED (fn change.go:
    # 20-45 'existing keys overwrite'); map_concat without the filter
    # would throw DUPLICATED_MAP_KEY on re-annotation or on OSM points
    # that already carry ele (peaks, survey points)
    existing = F.map_filter(F.col("tags"), lambda k, _v: k != "ele")
    return (
        features.join(tagged, "feature_id", "left")
        .withColumn(
            "tags",
            F.when(
                F.col("_ele").isNotNull(),
                F.map_concat(existing, F.create_map(F.lit("ele"), F.col("_ele"))),
            ).otherwise(F.col("tags")),
        )
        .drop("_ele")
    )


def graph_node_flags(features: DataFrame) -> DataFrame:
    """(node, is_node, ele): the reference's graph-node rule
    (ingest/basic.go:256-260) per vertex key, EXCLUDING the per-path
    endpoint clause (that one is evaluated against the path being
    traversed -- callers apply it positionally).  A vertex is a graph
    node when it is referenced by more than one path occurrence (ANY
    path feature, one reference per (path, index) pair -- a closed
    loop's shared head counts twice) or when a tagged point feature
    sits on it (AllTags > 1, basic.go:259).  `ele` is the point's
    parseable ele tag, null otherwise."""
    occ = (
        features.filter(F.col("feature_type") == "path")
        .select(F.explode(F.arrays_zip(F.col("ys").alias("la"), F.col("xs").alias("lo"))).alias("v"))
        .select(_vertex_key(F.col("v.la"), F.col("v.lo")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )
    pts = features.filter(
        (F.col("feature_type") == "point") & (F.size("xs") > 0)
    ).select(
        _vertex_key(F.element_at("ys", 1), F.element_at("xs", 1)).alias("node"),
        (F.size("tags") > 0).alias("is_tagged"),
        # strconv.ParseFloat semantics: junk like "93m" (real OSM data)
        # is NOT an elevation, not an error (graph.go:187-196 err path)
        F.col("tags").getItem("ele").try_cast("double").alias("ele"),
    )
    return occ.join(pts, "node", "left").select(
        "node",
        ((F.col("n_refs") > 1) | F.coalesce("is_tagged", F.lit(False))).alias(
            "is_node"
        ),
        "ele",
    )


def elevation_gain_edges(features: DataFrame) -> DataFrame:
    """Directed walking edges (path_id, src, dst, dist_m, elev_gain_m,
    weight_factor) over `#highway` paths with ElevationWeights' per-
    SEGMENT gain rule
    (b6/graph/graph.go:163-212 + the graph-node rule ingest/basic.go:
    256-260).

    The reference walks each SEGMENT (graph node -> graph node along one
    path) in vertex-INDEX order, carrying the last parseable `ele` as
    memory; a vertex pair contributes |stop-start| * NaismithPenalty *
    (UpHillPenalty if rising else DownHillPenalty).  Because any point
    feature with a user tag is itself a graph node (AllTags > 1 splits
    the segment, basic.go:259), interior segment vertices can never
    carry `ele` -- so the walk collapses to: a segment whose BOTH
    endpoints carry parseable `ele` costs |e_last - e_first|, everything
    else costs zero.  The swap to index order (graph.go:177-180) makes
    the charge direction-INSENSITIVE: both travel directions pay the
    uphill rate when the higher-INDEX endpoint is higher -- mirrored
    here by emitting the SAME signed gain on both directed rows (the
    index-order sign), which weights_from_options then prices.

    Graph nodes (segment boundaries): a path's first/last vertex, a
    vertex referenced by more than one path occurrence (ANY path, not
    just highways -- FindReferences counts every path reference, so a
    closed loop's shared head counts twice), or a tagged point.

    Plan shape: one vertex-occurrence count shuffle, one ele lookup
    join, one per-path window (partitioned by feature_id, bounded by
    path length) -- all JVM expressions, no Python."""
    from pyspark.sql import Window

    # WalkingTimeWeights.IsUseable (graph.go:221-226): any #highway path
    # OR a diagonal=connection stub (either tag spelling; see _network)
    hw = features.filter(
        (F.col("feature_type") == "path")
        & (
            F.col("tags").getItem("#highway").isNotNull()
            | (F.col("tags").getItem("diagonal") == "connection")
            | (F.col("tags").getItem("#diagonal") == "connection")
        )
    )
    # per-path diagonal:weight override (graph.go:22-30 weightFromSegment,
    # ParseFloat-gated: junk values mean no override)
    factors = hw.select(
        F.col("feature_id").alias("path_id"),
        F.col("tags").getItem("diagonal:weight").try_cast("double").alias(
            "weight_factor"
        ),
    )
    segs = path_segments(hw).select(
        F.col("feature_id").alias("path_id"),
        "seg_idx",
        _vertex_key(F.col("y1"), F.col("x1")).alias("src"),
        _vertex_key(F.col("y2"), F.col("x2")).alias("dst"),
        gridjoin.haversine_col(F.col("y1"), F.col("x1"), F.col("y2"), F.col("x2")).alias(
            "dist_m"
        ),
    ).join(factors, "path_id", "left")
    nodes = graph_node_flags(features)
    s = (
        segs.join(
            nodes.select(
                F.col("node").alias("src"),
                F.col("is_node").alias("src_is_node"),
                F.col("ele").alias("src_ele"),
            ),
            "src",
            "left",
        )
        .join(
            nodes.select(
                F.col("node").alias("dst"), F.col("ele").alias("dst_ele")
            ),
            "dst",
            "left",
        )
    )
    w = Window.partitionBy("path_id").orderBy("seg_idx")
    # reset memory at every segment boundary: a graph-node src posts a
    # marker struct (its ele, possibly null -- a node WITHOUT ele still
    # clears the carry, graph.go starts each Weight() call fresh)
    marker = F.when(
        (F.col("seg_idx") == 0) | F.col("src_is_node"),
        F.struct(F.col("src_ele").alias("e")),
    )
    mem = F.last(marker, ignorenulls=True).over(w)["e"]
    gain = F.when(
        F.col("dst_ele").isNotNull() & mem.isNotNull(), F.col("dst_ele") - mem
    ).otherwise(F.lit(0.0))
    directed = s.select(
        "path_id", "src", "dst", "dist_m", gain.alias("elev_gain_m"),
        "weight_factor",
    )
    rev = directed.select(
        "path_id",
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        "dist_m",
        "elev_gain_m",
        "weight_factor",
    )
    return directed.unionByName(rev)


def _haversine_cum_m(xs, ys):
    """Cumulative arc length (meters) along a polyline (shared kernel)."""
    from ..kernels.geom import cum_arc_length_m

    return cum_arc_length_m(xs, ys)


def cluster_connections(
    insertions: DataFrame,
    paths: DataFrame,
    threshold_m: float = 4.0,
) -> DataFrame:
    """The reference's Connections.Cluster, distributed (b6/graph/
    connectivity.go:228-306): connection insertions along each path are
    (1) greedily merged when closer than the threshold to the running
    cluster representative -- whose position updates to the pairwise
    midpoint on every merge, exactly like clusterCloseInsertions -- and
    (2) snapped onto an EXISTING path vertex when the nearer bracketing
    vertex is within the threshold (clusterInsertionsOntoExistingPoints:
    only the nearer side is tested).

    insertions: (point_id, path_id, along_m); paths: the features table
    (feature_id, xs, ys).  One shuffle on path_id (cogroup); per-path
    work is the reference's sequential greedy over that street's
    insertion list -- bounded per street, so the stage scales with path
    count, not corpus size.

    Output, one row per input insertion:
      kind='new'    surviving insertion at (possibly merged) along_m
      kind='point'  merged into another insertion (target=point_id)
      kind='vertex' snapped onto path vertex (target=vertex index)
    """
    import numpy as np
    import pandas as pd

    def fold(ins, pth):
        if not len(ins):
            return pd.DataFrame(
                columns=["point_id", "path_id", "kind", "target", "along_m"]
            )
        path_id = ins["path_id"].iloc[0]
        ins = ins.sort_values(["along_m", "point_id"], kind="mergesort")
        pid = ins["point_id"].tolist()
        along = ins["along_m"].to_numpy(np.float64).copy()
        n = len(pid)
        kind = ["new"] * n
        target = [None] * n
        # pass 1: greedy midpoint clustering (reference order: sorted by
        # distance; merged insertions die, the representative's distance
        # moves to the running midpoint)
        last = 0
        d = along[0]
        for i in range(1, n):
            if along[i] - d < threshold_m:
                d = (d + along[i]) / 2.0
                along[last] = d
                kind[i] = "point"
                target[i] = str(pid[last])
            else:
                d = along[i]
                last = i
        # pass 2: snap survivors onto existing vertices (nearer side only)
        if len(pth):
            cum = _haversine_cum_m(pth["xs"].iloc[0], pth["ys"].iloc[0])
            p = 0
            for i in range(n):
                if kind[i] != "new":
                    continue
                while p < len(cum) and cum[p] <= along[i]:
                    p += 1
                prev = along[i] - cum[p - 1]
                nxt = (cum[p] - along[i]) if p < len(cum) else np.inf
                if prev < nxt:
                    if prev < threshold_m:
                        kind[i] = "vertex"
                        target[i] = str(p - 1)
                else:
                    if nxt < threshold_m:
                        kind[i] = "vertex"
                        target[i] = str(p)
        return pd.DataFrame(
            {
                "point_id": pid,
                "path_id": [path_id] * n,
                "kind": kind,
                "target": target,
                "along_m": along,
            }
        )

    p = paths.select(F.col("feature_id").alias("path_id"), "xs", "ys")
    return (
        insertions.groupBy("path_id")
        .cogroup(p.groupBy("path_id"))
        .applyInPandas(
            fold,
            "point_id string, path_id string, kind string, target string, along_m double",
        )
    )


def apply_connections_to_paths(paths: DataFrame, clustered: DataFrame) -> DataFrame:
    """The reference's Connections.ApplyToPath, distributed
    (connectivity.go:313-360): rebuild each path's vertex sequence with
    the SURVIVING insertions (kind='new') spliced in by along-distance
    -- an original vertex at exactly the insertion's distance comes
    after it, matching the reference's strict `<` walk.  Paths with no
    insertions pass through unchanged.

    Output: (feature_id, n_vertices, labels, lats, lngs) where labels[i]
    is 'v<k>' for original vertex k or the inserted point_id; insertion
    coordinates are interpolated on the path at along_m."""
    import numpy as np
    import pandas as pd

    def rebuild(pth, ins):
        if not len(pth):
            return pd.DataFrame(columns=["feature_id", "n_vertices", "labels", "lats", "lngs"])
        fid = pth["feature_id"].iloc[0]
        xs = np.asarray(pth["xs"].iloc[0], dtype=np.float64)
        ys = np.asarray(pth["ys"].iloc[0], dtype=np.float64)
        cum = _haversine_cum_m(xs, ys)
        live = ins[ins["kind"] == "new"].sort_values(["along_m", "point_id"]) if len(ins) else ins
        labels: list[str] = []
        lats: list[float] = []
        lngs: list[float] = []
        nxt = 0
        if len(live):
            for r in live.itertuples(index=False):
                while nxt < len(cum) and cum[nxt] < r.along_m:
                    labels.append(f"v{nxt}")
                    lats.append(float(ys[nxt]))
                    lngs.append(float(xs[nxt]))
                    nxt += 1
                # interpolate the insertion's coordinates at along_m
                j = int(np.searchsorted(cum, r.along_m, side="right"))
                j = min(max(j, 1), len(cum) - 1)
                seg = cum[j] - cum[j - 1]
                t = 0.0 if seg == 0 else (r.along_m - cum[j - 1]) / seg
                t = min(max(t, 0.0), 1.0)
                labels.append(str(r.point_id))
                lats.append(float(ys[j - 1] + t * (ys[j] - ys[j - 1])))
                lngs.append(float(xs[j - 1] + t * (xs[j] - xs[j - 1])))
        while nxt < len(xs):
            labels.append(f"v{nxt}")
            lats.append(float(ys[nxt]))
            lngs.append(float(xs[nxt]))
            nxt += 1
        return pd.DataFrame(
            {
                "feature_id": [fid],
                "n_vertices": [len(labels)],
                "labels": [labels],
                "lats": [lats],
                "lngs": [lngs],
            }
        )

    p = paths.select("feature_id", "xs", "ys")
    c = clustered.select(
        F.col("path_id").alias("feature_id"), "point_id", "kind", "along_m"
    )
    return (
        p.groupBy("feature_id")
        .cogroup(c.groupBy("feature_id"))
        .applyInPandas(
            rebuild,
            "feature_id string, n_vertices int, labels array<string>, "
            "lats array<double>, lngs array<double>",
        )
    )


def resolve_connection_targets(clustered: DataFrame) -> DataFrame:
    """Final attachment per insertion point -- the reference's
    clustered-map chain following (Cluster() rewrites addition endpoints
    through the map until fixpoint, connectivity.go:233-243).  Chains
    are at most two hops by construction: a merged point maps to its
    representative, and the representative may later snap onto a vertex
    -- so ONE broadcast self-join resolves every chain.

    Output (point_id, path_id, attach_kind, attach_to, along_m):
      attach_kind='self'   surviving insertion (new vertex on the path)
      attach_kind='point'  attach to another insertion's new vertex
      attach_kind='vertex' attach to an existing path vertex (index)"""
    base = clustered.select("point_id", "path_id", "kind", "target", "along_m")
    reps = base.select(
        F.col("point_id").alias("_rid"),
        F.col("kind").alias("_rkind"),
        F.col("target").alias("_rtarget"),
        F.col("along_m").alias("_ralong"),
    )
    j = base.join(
        F.broadcast(reps),
        (base["kind"] == "point") & (base["target"] == reps["_rid"]),
        "left",
    )
    attach_kind = (
        F.when(F.col("kind") == "vertex", F.lit("vertex"))
        .when((F.col("kind") == "point") & (F.col("_rkind") == "vertex"), F.lit("vertex"))
        .when(F.col("kind") == "point", F.lit("point"))
        .otherwise(F.lit("self"))
    )
    attach_to = (
        F.when(F.col("kind") == "vertex", F.col("target"))
        .when((F.col("kind") == "point") & (F.col("_rkind") == "vertex"), F.col("_rtarget"))
        .when(F.col("kind") == "point", F.col("target"))
        .otherwise(F.lit(None).cast("string"))
    )
    final_along = F.when(
        (F.col("kind") == "point") & F.col("_ralong").isNotNull(), F.col("_ralong")
    ).otherwise(F.col("along_m"))
    return j.select(
        "point_id",
        "path_id",
        attach_kind.alias("attach_kind"),
        attach_to.alias("attach_to"),
        final_along.alias("along_m"),
    )


# ----------------------------------------------------------- b6-connect --

# cmd/b6-connect's default -connect query:
# [#building | #amenity | #leisure | #shop | #landuse=vacant]
DEFAULT_CONNECT_KEYS = ("#building", "#amenity", "#leisure", "#shop")


def _along_m_col(xs, ys, seg_idx, proj_lat, proj_lng):
    """Arc distance (meters) from the path start to a projection that
    lies on segment `seg_idx`: the haversine prefix sum over whole
    segments plus the partial hop to the projection -- pure column
    expressions (no Python stage)."""
    prefix = F.when(
        seg_idx > 0,
        F.aggregate(
            F.sequence(F.lit(1), seg_idx),
            F.lit(0.0),
            lambda acc, i: acc
            + gridjoin.haversine_col(ys[i - 1], xs[i - 1], ys[i], xs[i]),
        ),
    ).otherwise(F.lit(0.0))
    return prefix + gridjoin.haversine_col(
        ys[seg_idx], xs[seg_idx], proj_lat, proj_lng
    )


def connect_world(
    features: DataFrame,
    *,
    connection_threshold_m: float = 100.0,
    cluster_threshold_m: float = 4.0,
    network_threshold_m: float = 500.0,
    modify_paths: bool = True,
    connect_keys: tuple[str, ...] = DEFAULT_CONNECT_KEYS,
) -> dict[str, DataFrame]:
    """The cmd/b6-connect pipeline end to end, Spark-first
    (cmd/b6-connect/b6-connect.go: defaults -connect
    '[#building | #amenity | #leisure | #shop | #landuse=vacant]',
    -network-threshold 500, -connection-threshold 100,
    -cluster-threshold 4, -modify-paths):

      1. street network membership over the #highway paths
         (``build_street_network``, the BuildStreetNetwork rule);
      2. each matching POINT projects onto the closest network path
         within the connection threshold (ConnectPoint: the point
         itself is the entrance, the projection the access);
      3. each matching AREA probes its boundary-side midpoints and
         keeps the side whose projection is closest (ConnectArea's
         no-entrance branch, connectivity.go: the side midpoint is the
         entrance, its projection the access).  Deviation, documented:
         the reference interpolates the geodesic midpoint; we use the
         arithmetic midpoint (sub-mm at building scale), and entrance
         points tagged `entrance` are not consulted (our fixtures carry
         coordinates, not boundary path references);
      4. access insertions cluster per path (Connections.Cluster,
         greedy midpoint merge + vertex snap) and, with
         ``modify_paths``, splice into the path vertex sequences
         (InsertNewPointsIntoPaths.Output / ApplyToPath).

    Distributed shape: one component fixpoint (street network), two
    grid-cell candidate joins (points, side midpoints) with per-feature
    struct argmins, one cogrouped cluster/splice per touched path --
    nothing corpus-sized on the driver.

    Returns {"network", "connections", "clustered", "resolved",
    "modified_paths" (when modify_paths)}: `connections` has one row
    per connected feature (feature_id, entrance_lat/lng, path_id,
    seg_idx, along_m, access_lat/lng, dist_m)."""
    is_path = F.col("feature_type") == "path"
    highway = F.map_contains_key(F.col("tags"), "#highway")
    paths = features.filter(is_path & highway)
    network = build_street_network(paths, network_threshold_m)

    match = F.lit(False)
    for k in connect_keys:
        match = match | F.map_contains_key(F.col("tags"), k)
    match = match | (F.col("tags").getItem("#landuse") == F.lit("vacant"))

    pts = features.filter((F.col("feature_type") == "point") & match).select(
        F.col("feature_id").alias("probe_id"),
        F.col("feature_id"),
        F.col("ys").getItem(0).alias("lat"),
        F.col("xs").getItem(0).alias("lng"),
    )

    areas = features.filter((F.col("feature_type") == "area") & match)
    n = F.size("xs")
    i = F.col("side")
    j = (i + 1) % n  # the boundary ring closes: include the wrap side
    mids = areas.select(
        "feature_id", "xs", "ys",
        F.explode(F.sequence(F.lit(0), n - 1)).alias("side"),
    ).select(
        F.concat_ws("#", "feature_id", F.col("side").cast("string")).alias("probe_id"),
        "feature_id",
        ((F.col("ys")[i] + F.col("ys")[j]) / 2).alias("lat"),
        ((F.col("xs")[i] + F.col("xs")[j]) / 2).alias("lng"),
    )

    probes = pts.unionByName(mids)
    snapped = connect_to_network(
        probes, paths, connection_threshold_m, point_id="probe_id", network=network
    ).join(probes, "probe_id")
    # areas keep only their best side (ConnectArea keeps ONE projection
    # per polygon); points have a single probe each
    # area probes carry their boundary-side index in the probe id
    # ("fid#<side>"); point probes have none -- apply_connect_to_world
    # uses it to splice the entrance into the area ring
    side = F.when(
        F.col("probe_id").contains("#"),
        F.element_at(F.split("probe_id", "#"), -1).cast("int"),
    )
    best = (
        snapped.withColumn("side", side)
        .groupBy("feature_id")
        .agg(
            F.min(
                F.struct(
                    "dist_m", "path_id", "seg_idx",
                    "proj_lat", "proj_lng", "lat", "lng", "side",
                )
            ).alias("b")
        )
        .select("feature_id", "b.*")
    )
    connections = (
        best.join(paths.select(F.col("feature_id").alias("path_id"), "xs", "ys"), "path_id")
        .select(
            "feature_id",
            F.col("lat").alias("entrance_lat"),
            F.col("lng").alias("entrance_lng"),
            "path_id",
            "seg_idx",
            _along_m_col(
                F.col("xs"), F.col("ys"), F.col("seg_idx"),
                F.col("proj_lat"), F.col("proj_lng"),
            ).alias("along_m"),
            F.col("proj_lat").alias("access_lat"),
            F.col("proj_lng").alias("access_lng"),
            "dist_m",
            "side",
        )
    )
    insertions = connections.select(
        F.concat(F.lit("access/"), "feature_id").alias("point_id"),
        "path_id",
        "along_m",
    )
    clustered = cluster_connections(insertions, paths, cluster_threshold_m)
    out = {
        "network": network,
        "connections": connections,
        "clustered": clustered,
        "resolved": resolve_connection_targets(clustered),
    }
    if modify_paths:
        out["modified_paths"] = apply_connections_to_paths(paths, clustered)
    return out


def apply_connect_to_world(features: DataFrame, out: dict) -> DataFrame:
    """The b6-connect OUTPUT stage (cmd/b6-connect writes a new world:
    InsertNewPointsIntoPaths.Output + the `diagonal=connection` stub
    paths, connectivity.go:360-395): fold a ``connect_world`` result
    back into a features table so routing can actually use it.

      1. street paths are REPLACED by their spliced rebuilds (the
         access insertions become real vertices);
      2. each connected AREA gains its entrance (the winning side
         midpoint) as a ring vertex, mirroring the reference's
         insertion into the boundary path -- without it the area can
         never test reachable, since reachability is boundary-vertex
         membership;
      3. one two-vertex stub path per connected feature, entrance ->
         FINAL access coordinate (the resolved attachment: a surviving
         insertion's interpolated vertex, its cluster representative,
         or the snapped existing vertex), tagged `diagonal=connection`
         (WalkingTimeWeights.IsUseable admits it).

    Everything is joins over the connect outputs -- per-feature array
    rebuilds ride in column expressions, nothing on the driver."""
    conns = out["connections"]
    mp = out["modified_paths"]
    resolved = out["resolved"]

    # spliced street paths keep their original tags/ns
    new_paths = mp.join(
        features.select("feature_id", "feature_type", "ns", "tags"),
        "feature_id",
    ).select(
        "feature_id", "feature_type", "ns", "tags",
        F.col("lngs").cast("array<double>").alias("xs"),
        F.col("lats").cast("array<double>").alias("ys"),
        F.array(F.lit(0)).cast("array<int>").alias("ring_offsets"),
    )

    # final access coordinate per insertion: resolve the attachment
    # label, then look its coordinates up on the spliced path
    verts = mp.select(
        F.col("feature_id").alias("path_id"),
        F.explode(F.arrays_zip("labels", "lats", "lngs")).alias("v"),
    ).select(
        "path_id",
        F.col("v.labels").alias("label"),
        F.col("v.lats").alias("alat"),
        F.col("v.lngs").alias("alng"),
    )
    want = resolved.select(
        "point_id",
        "path_id",
        F.when(F.col("attach_kind") == "self", F.col("point_id"))
        .when(F.col("attach_kind") == "point", F.col("attach_to"))
        .otherwise(F.concat(F.lit("v"), F.col("attach_to")))
        .alias("label"),
    )
    access = want.join(verts, ["path_id", "label"]).select(
        "point_id", "alat", "alng"
    )
    stubs = (
        conns.select(
            "feature_id", "entrance_lat", "entrance_lng",
            F.concat(F.lit("access/"), "feature_id").alias("point_id"),
        )
        .join(access, "point_id")
        .select(
            F.concat(F.lit("path/connection/"), F.col("feature_id")).alias(
                "feature_id"
            ),
            F.lit("path").alias("feature_type"),
            F.lit("diagonal.works/connection").alias("ns"),
            F.create_map(F.lit("diagonal"), F.lit("connection")).alias("tags"),
            F.array("entrance_lng", "alng").cast("array<double>").alias("xs"),
            F.array("entrance_lat", "alat").cast("array<double>").alias("ys"),
            F.array(F.lit(0)).cast("array<int>").alias("ring_offsets"),
        )
    )

    # connected areas: splice the entrance midpoint after its side's
    # first vertex (side i -> between ring vertices i and i+1)
    area_ins = conns.filter(F.col("side").isNotNull()).select(
        "feature_id", "side", "entrance_lat", "entrance_lng"
    )
    areas = features.filter(F.col("feature_type") == "area").join(
        area_ins, "feature_id"
    ).select(
        "feature_id", "feature_type", "ns", "tags",
        F.concat(
            F.slice("xs", 1, F.col("side") + 1),
            F.array("entrance_lng"),
            F.expr("slice(xs, side + 2, size(xs) - side - 1)"),
        ).cast("array<double>").alias("xs"),
        F.concat(
            F.slice("ys", 1, F.col("side") + 1),
            F.array("entrance_lat"),
            F.expr("slice(ys, side + 2, size(ys) - side - 1)"),
        ).cast("array<double>").alias("ys"),
        "ring_offsets",
    )

    replaced = new_paths.select("feature_id").unionByName(
        areas.select("feature_id")
    )
    kept = features.join(replaced, "feature_id", "left_anti")
    return kept.unionByName(new_paths).unionByName(areas).unionByName(stubs)
