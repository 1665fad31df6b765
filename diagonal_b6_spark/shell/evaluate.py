"""Evaluator: shell AST -> DataFrame plans over the existing operators.

The reference evaluates parsed expressions on a stack VM with partial
application (b6/api/vm.go:589-790): calling an n-ary function with k < n
arguments yields a partial whose BOUND arguments fill the LAST k slots
when the remaining ones arrive (vm.go:757-766).  That is exactly what
makes `a | take 10` mean `take(a, 10)` and `map (get "name")` mean
`get(item, "name")` -- the pipelined / mapped value arrives first.

Spark-first compilation instead of row-at-a-time interpretation:

* A feature collection is a DataFrame in the engine's world schema
  (fixtures.FEATURE_SCHEMA).
* `map` / `filter` lambdas are applied SYMBOLICALLY: the lambda argument
  binds to a RowRef handle on the collection, accessor functions return
  Column expressions, and the result is one `select`/`filter` -- pure
  whole-stage-codegen, never a Python call per row.
* Query literals compile to the Column predicates of operators/find.py,
  so tag filters push down to the scan.
* `intersecting <point>` routes to the oracle-passed containment join
  (operators/spatial_join.py), not a new geometry path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import parse as P
from ..operators import find as find_ops
from ..operators import spatial_join


class ShellError(ValueError):
    pass


# ---------------------------------------------------------------- values ---


@dataclass
class TagVal:
    key: str
    value: str


@dataclass
class RowRef:
    """Symbolic handle for 'one feature of this collection' inside a
    lambda body; accessors turn it into Column expressions."""

    df: DataFrame


@dataclass
class ColVal:
    """A per-feature Column expression derived from a RowRef."""

    ref: RowRef
    col: Column
    name: str = "value"


class Func:
    def __init__(self, name: str, fn, arity: int):
        self.name, self.fn, self.arity = name, fn, arity

    def apply(self, env: "Env", args: list):
        if len(args) < self.arity:
            return Partial(self, list(args))
        if len(args) > self.arity:
            raise ShellError(
                f"{self.name}: expected {self.arity} arguments, found {len(args)}"
            )
        return self.fn(env, *args)


class Partial:
    """Partial application; bound args fill the LAST slots on completion
    (vm.go partialCall semantics)."""

    def __init__(self, base: Func, bound: list):
        self.base, self.bound = base, bound
        self.name = base.name

    @property
    def arity(self) -> int:
        return self.base.arity - len(self.bound)

    def apply(self, env: "Env", args: list):
        if len(args) + len(self.bound) < self.base.arity:
            return Partial(self.base, list(args) + self.bound)
        return self.base.apply(env, list(args) + self.bound)


class LambdaVal:
    def __init__(self, node: P.Lambda, bindings: dict):
        self.node, self.bindings = node, dict(bindings)
        self.arity = len(node.args)
        self.name = "lambda"

    def apply(self, env: "Env", args: list):
        if len(args) < self.arity:
            raise ShellError("lambda applied with too few arguments")
        b = dict(self.bindings)
        for name, v in zip(self.node.args, args):
            b[name] = v
        return _eval(self.node.body, env, b)


# intersecting / intersecting-cap produce geometry queries that cannot be
# a pure Column; `find` lowers them through the spatial-join operators.
@dataclass
class QIntersectsPoint:
    lat: float
    lng: float


@dataclass
class QIntersectsCap:
    lat: float
    lng: float
    radius_m: float


@dataclass
class QIntersectsArea:
    """`intersecting <area feature>` (b6/spatial.go IntersectsArea):
    matched by vertex containment -- a feature intersects the area iff
    any of its vertices lies inside (plus the area itself).  Boundary
    edge-crossings with no vertex inside are not refined in v1."""

    areas: DataFrame


class Env:
    """World context: the feature table plus the SparkSession."""

    def __init__(self, spark, features: DataFrame):
        self.spark = spark
        self.features = features


# ----------------------------------------------------------- query lower ---


def _query_column(node) -> Column:
    if isinstance(node, P.QKeyed):
        return find_ops.keyed(node.key)
    if isinstance(node, P.QTagged):
        return find_ops.tagged(node.key, node.value)
    if isinstance(node, P.QAnd):
        return find_ops.and_(_query_column(node.a), _query_column(node.b))
    if isinstance(node, P.QOr):
        return find_ops.or_(_query_column(node.a), _query_column(node.b))
    raise ShellError(f"query {node!r} is not a pure tag predicate")


def _geometry_query(q) -> bool:
    if isinstance(q, (QIntersectsPoint, QIntersectsCap, QIntersectsArea)):
        return True
    if isinstance(q, (P.QAnd, P.QOr)):
        return _geometry_query(q.a) or _geometry_query(q.b)
    return False


def _find(env: Env, q) -> DataFrame:
    feats = env.features
    if isinstance(q, P.Query):
        q = q.node
    if isinstance(q, str):  # `find "k=v"` convenience
        k, _, v = q.partition("=")
        q = P.QTagged(k, v) if v else P.QKeyed(k)
    if isinstance(q, (P.QAnd, P.QOr)) and _geometry_query(q):
        # mixed tag/geometry combinators lower to set algebra over the
        # two sides' id sets (b6.and_(tagged(...), intersecting(...)))
        a = _find(env, q.a)
        b = _find(env, q.b)
        if isinstance(q, P.QAnd):
            return a.join(b.select("feature_id"), "feature_id", "semi")
        return a.unionByName(b).dropDuplicates(["feature_id"])
    if isinstance(q, QIntersectsPoint):
        probe = env.spark.createDataFrame(
            [(0, q.lat, q.lng)], "probe_id long, lat double, lng double"
        )
        hits = spatial_join.intersects_feature(probe, feats, point_id="probe_id")
        return feats.join(
            F.broadcast(hits.select("feature_id").distinct()), "feature_id", "semi"
        )
    if isinstance(q, QIntersectsArea):
        verts = feats.select(
            F.col("feature_id").alias("vid"),
            F.explode(F.arrays_zip("xs", "ys")).alias("v"),
        ).select("vid", F.col("v.ys").alias("lat"), F.col("v.xs").alias("lng"))
        hits = spatial_join.containment_join_broadcast(
            verts, q.areas, point_id="vid"
        ).select(F.col("vid").alias("hit_id"))
        self_ids = q.areas.select(F.col("feature_id").alias("hit_id"))
        keep = hits.unionByName(self_ids).distinct()
        return feats.join(
            F.broadcast(keep.withColumnRenamed("hit_id", "feature_id")),
            "feature_id",
            "semi",
        )
    if isinstance(q, QIntersectsCap):
        # Feature intersects the cap iff any vertex is within radius; for
        # the point type this is the reference's exact cap test
        # (b6/spatial.go:203-371), and distance_join is the engine's one
        # cap test.  Area/path curvature between vertices is not refined
        # here -- documented v1 approximation.
        v = feats.select(
            "feature_id", F.explode(F.arrays_zip("xs", "ys")).alias("v")
        ).select("feature_id", F.col("v.ys").alias("lat"), F.col("v.xs").alias("lng"))
        near = spatial_join.distance_join(v, q.lat, q.lng, q.radius_m)
        return feats.join(
            F.broadcast(near.select("feature_id").distinct()), "feature_id", "semi"
        )
    return find_ops.find(feats, _as_query_col(q))


def _as_query_col(q) -> Column:
    if isinstance(q, Column):
        return q
    if isinstance(q, P.Query):
        return _query_column(q.node)
    if isinstance(q, (P.QKeyed, P.QTagged, P.QAnd, P.QOr)):
        return _query_column(q)
    raise ShellError(f"not a query: {q!r}")


def _predicate_column(node) -> Column:
    """Query -> per-feature boolean WITHOUT the search-index key
    restriction: the reference converts a query passed where a bool
    function is needed into Query.Matches, which reads the feature's
    tags directly (vm.go convertQueryToFunction; Tagged/Keyed.Matches in
    b6/search.go test f.Get(key), never the token index) -- so
    `filter [addr:postcode]` works on an unindexed key."""
    if isinstance(node, P.QKeyed):
        return F.col("tags")[node.key].isNotNull()
    if isinstance(node, P.QTagged):
        return F.col("tags")[node.key] == node.value
    if isinstance(node, P.QAnd):
        return _predicate_column(node.a) & _predicate_column(node.b)
    if isinstance(node, P.QOr):
        return _predicate_column(node.a) | _predicate_column(node.b)
    raise ShellError(f"query {node!r} is not a pure tag predicate")


def _as_predicate_col(q) -> Column:
    if isinstance(q, Column):
        return q
    if isinstance(q, P.Query):
        return _predicate_column(q.node)
    if isinstance(q, (P.QKeyed, P.QTagged, P.QAnd, P.QOr)):
        return _predicate_column(q)
    raise ShellError(f"not a query: {q!r}")


# ------------------------------------------------------------- functions ---


def _as_callable(v):
    if isinstance(v, (Func, Partial, LambdaVal)):
        return v
    raise ShellError(f"not callable: {v!r}")


def _ordered(df: DataFrame) -> DataFrame:
    """FeatureID iteration order (b6/world.go:401-411)."""
    return df.orderBy("feature_id")


def _col_of(v, ref: RowRef | None = None) -> Column:
    if isinstance(v, ColVal):
        return v.col
    if isinstance(v, TagVal):
        return F.lit(f"{v.key}={v.value}")
    if isinstance(v, (int, float, str, bool)):
        return F.lit(v)
    raise ShellError(f"cannot use {v!r} as a per-feature value")


def _fn_find(env, q):
    return _find(env, q)


def _fn_find_typed(ftype):
    def fn(env, q):
        return _find(env, q).filter(F.col("feature_type") == ftype)

    return fn


def _fn_find_feature(env, fid):
    if isinstance(fid, P.FeatureId):
        fid = fid.value
    if isinstance(fid, ColVal):
        # mapped over a collection of ids: re-root the row frame onto
        # the world joined by id (b6_test.py get_tags_from_list_of_ids)
        base = fid.ref.df
        feats = env.features
        joined = base.join(feats, fid.col == feats["feature_id"], "left")
        return RowRef(joined)
    return find_ops.find_feature(env.features, fid)


def _fn_find_feature_typed(ftype):
    def fn(env, fid):
        out = _fn_find_feature(env, fid)
        if isinstance(out, DataFrame) and "feature_type" in out.columns:
            return out.filter(F.col("feature_type") == ftype)
        return out

    return fn


def _fn_take(env, coll, n):
    return _ordered(_require_df(coll)).limit(int(n))


def _fn_count(env, coll):
    # `count` returns a scalar in the reference; as a DataFrame plan we
    # return the 1-row count frame so pipelines stay lazy.
    if isinstance(coll, (list, tuple)):
        return env.spark.createDataFrame([(len(coll),)], "value bigint")
    df = _require_df(coll)
    if "feature_type" in df.columns and "tags" in df.columns:
        # a stored COLLECTION feature counts its items, not itself
        # (b6_test.py test_materialise: count(find_feature(cid)) is the
        # materialised row count; members live in member:<i> tags)
        per_row = F.when(
            F.col("feature_type") == "collection",
            F.size(F.filter(F.map_keys(F.col("tags")), lambda k: k.startswith("member:"))),
        ).otherwise(F.lit(1))
        return df.agg(F.coalesce(F.sum(per_row), F.lit(0)).alias("value"))
    return df.agg(F.count(F.lit(1)).alias("value"))


def _require_df(v) -> DataFrame:
    if isinstance(v, DataFrame):
        return v
    raise ShellError(f"expected a collection, found {v!r}")


def _fn_map(env, coll, fn):
    fn = _as_callable(fn)
    if isinstance(coll, (list, tuple)):
        # a keyed Python collection (queries / feature collections):
        # apply per item; DataFrame results stay keyed for flatten
        out = [(k, fn.apply(env, [v])) for k, v in coll]
        if out and all(isinstance(v, DataFrame) for _, v in out):
            return out
        rows = [(k, _scalar(v)) for k, v in out]
        kt, kc = _collection_sqltype([k for k, _ in rows])
        vt, vc = _collection_sqltype([v for _, v in rows])
        conv = lambda v, c: v if c is None else c(v)
        return env.spark.createDataFrame(
            [(conv(k, kc), conv(v, vc)) for k, v in rows], f"key {kt}, value {vt}"
        )
    if isinstance(coll, DataFrame):
        ref = RowRef(coll)
        # scalar collection (a literal {..} or an earlier map's value
        # table): the lambda receives the VALUE as a per-row Column;
        # keys pass through unchanged (vm_test.go:329-368 map-over-
        # literal-collection semantics).  A tag collection (get/tag
        # results, column "tag") maps the tag double the same way.
        scalar_col = None
        if "tags" not in coll.columns:
            if "value" in coll.columns:
                scalar_col = "value"
            elif "tag" in coll.columns:
                scalar_col = "tag"
        if scalar_col is not None:
            out = fn.apply(env, [ColVal(ref, F.col(scalar_col), name=scalar_col)])
            keys = [c for c in coll.columns if c != scalar_col]
            if isinstance(out, ColVal):
                src = out.ref.df
                if src is coll:
                    return coll.select(*keys, out.col.alias("value"))
                # the lambda re-rooted the row frame (find-feature over a
                # collection of ids joins the world) -- select there,
                # keeping whichever keys survived the join
                cols = [k for k in keys if k in src.columns]
                return src.select(*cols, out.col.alias("value"))
            if isinstance(out, DataFrame):
                return out
            return coll.select(*keys, _col_of(out).alias("value"))
        out = fn.apply(env, [ref])
        if isinstance(out, ColVal):
            return coll.select("feature_id", out.col.alias(out.name))
        if isinstance(out, DataFrame):
            return out
        if hasattr(out, "changed_ids"):
            # a change op inside the lambda already applied to the whole
            # collection (remove-tag h "#k" compiles collection-wide);
            # the mapped "collection of changes" IS that one ChangeVal
            # (b6_test.py test_merge_changes)
            return out
        return coll.select("feature_id", _col_of(out).alias("value"))
    raise ShellError("map expects a collection")


def _fn_filter(env, coll, pred):
    coll = _require_df(coll)
    if isinstance(pred, (P.Query, P.QKeyed, P.QTagged, P.QAnd, P.QOr, Column)):
        return coll.filter(_as_predicate_col(pred))
    fn = _as_callable(pred)
    out = fn.apply(env, [RowRef(coll)])
    if isinstance(out, ColVal):
        return coll.filter(out.col)
    raise ShellError("filter lambda must produce a boolean expression")


def _resolve_identifiable(env, f):
    """Functions taking b6.Identifiable resolve ids against the world
    (api.Resolve; b6_test.py get_tags_from_list_of_ids maps bare ids
    straight into get_string).  A ColVal holding feature-id strings
    re-roots the row frame onto the world joined by id; anything else
    passes through."""
    if isinstance(f, ColVal):
        return _fn_find_feature(env, f)
    return f


def _bare_tag_value(env, f, key):
    """The tag's raw value column (get-string/-int/-float extraction)."""
    f = _resolve_identifiable(env, f)
    if isinstance(f, RowRef):
        return ColVal(f, F.col("tags")[key], name="value")
    if isinstance(f, DataFrame):
        return find_ops.get_tag(f, key)
    raise ShellError("get expects a feature")


def _fn_get(env, f, key):
    """get: feature x key -> Tag (fn features.go:131-174).  A Tag
    materializes as the engine's "key=value" double (the _col_of/_fn_tag
    convention) under a column named "tag", so a downstream histogram
    buckets AND labels by the whole tag -- the reference UI's tag atoms
    (api/shell.go:927-929 UnparseTag, pinned by ui/lines_test.go
    TestHistogramWithTagKeys).  A feature missing the key yields the
    invalid tag (NULL; the reference's Tag{})."""
    v = _bare_tag_value(env, f, key)
    if isinstance(v, ColVal):
        return ColVal(v.ref, F.concat(F.lit(key + "="), v.col), name="tag")
    return v.select(
        "feature_id", F.concat(F.lit(key + "="), F.col("value")).alias("tag")
    )


def _fn_get_string(env, f, key):
    v = _bare_tag_value(env, f, key)
    if isinstance(v, ColVal):
        return ColVal(v.ref, F.coalesce(v.col, F.lit("")), name="value")
    if isinstance(v, DataFrame) and "value" in v.columns:
        # getString returns "" for a missing tag (fn features.go:149-157)
        return v.withColumn("value", F.coalesce(F.col("value"), F.lit("")))
    return v


def _fn_get_float(env, f, key):
    v = _bare_tag_value(env, f, key)
    if isinstance(v, ColVal):
        return ColVal(v.ref, v.col.cast("double"), name="value")
    if isinstance(v, DataFrame) and "value" in v.columns:
        return v.withColumn("value", F.col("value").cast("double"))
    return v


def _fn_get_int(env, f, key):
    v = _bare_tag_value(env, f, key)
    if isinstance(v, ColVal):
        return ColVal(v.ref, v.col.cast("long"), name="value")
    if isinstance(v, DataFrame) and "value" in v.columns:
        return v.withColumn("value", F.col("value").cast("long"))
    return v


def _fn_tag(env, a, b):
    """tag: key x value -> Tag literal (fn features.go:108-112).  Also
    accepted feature-first (`{f -> tag f "name"}`, shell_test.go's
    ExplicitLambdaWithArg): per-feature, a materialized Tag is its value
    column -- the key is constant and recorded in the column name."""
    if isinstance(a, (RowRef, DataFrame)):
        return _fn_get(env, a, b)
    # a mapped Tag construction ({v -> tag "#highway" v} or the partial
    # (tag "#highway") over a scalar collection): materialize as the
    # engine's "key=value" tag doubles, per element
    if isinstance(b, ColVal):
        return ColVal(
            b.ref, F.concat(F.lit(str(a) + "="), b.col.cast("string")), name="tag"
        )
    if isinstance(a, ColVal):
        return ColVal(
            a.ref, F.concat(F.lit(str(b) + "="), a.col.cast("string")), name="tag"
        )
    return TagVal(a, b)


def _tag_col_value(col: Column) -> Column:
    """The value half of a materialized "key=value" tag column (keys
    never contain '='; everything after the first '=' is the value)."""
    return F.regexp_replace(col, "^[^=]*=", "")


def _fn_value(env, t):
    if isinstance(t, TagVal):
        return t.value
    if isinstance(t, ColVal):
        if t.name == "tag":
            return ColVal(t.ref, _tag_col_value(t.col), name="value")
        return t
    if isinstance(t, DataFrame) and "tag" in t.columns:
        return t.withColumn("value", _tag_col_value(F.col("tag"))).drop("tag")
    raise ShellError("value expects a tag")


def _fn_all_tags(env, f):
    if isinstance(f, DataFrame):
        return find_ops.all_tags(f)
    if isinstance(f, RowRef):
        return find_ops.all_tags(f.df)
    raise ShellError("all-tags expects features")


def _fn_count_values(env, coll):
    coll = _require_df(coll)
    vcol = "value" if "value" in coll.columns else coll.columns[-1]
    return coll.groupBy(F.col(vcol).alias("value")).agg(
        F.count(F.lit(1)).alias("count")
    )


def _fn_count_tag_value(env, coll, key, value):
    coll = _require_df(coll)
    return coll.agg(
        F.sum((F.col("tags")[key] == value).cast("long")).alias("value")
    )


def _fn_matches(env, f, q):
    if isinstance(f, RowRef):
        return ColVal(f, _as_predicate_col(q))
    raise ShellError("matches expects a feature")


def _fn_intersecting(env, g):
    if isinstance(g, P.Point):
        return QIntersectsPoint(g.lat, g.lng)
    if isinstance(g, DataFrame):  # e.g. `intersecting (find-area /a/...)`
        return QIntersectsArea(g.filter(F.col("feature_type") == "area"))
    raise ShellError("intersecting expects a point or an area feature")


def _fn_intersecting_cap(env, g, radius):
    if isinstance(g, P.Point):
        return QIntersectsCap(g.lat, g.lng, float(radius))
    raise ShellError("intersecting-cap expects a point")


def _fn_tagged(env, key, value):
    return P.QTagged(key, value)


def _fn_keyed(env, key):
    return P.QKeyed(key)


def _fn_and(env, a, b):
    return P.QAnd(_q(a), _q(b))


def _fn_or(env, a, b):
    return P.QOr(_q(a), _q(b))


def _q(v):
    return v.node if isinstance(v, P.Query) else v


def _fn_typed(env, ftype, q):
    # typed restricts by feature type (find.typed); keep as Column since
    # the type test composes with tag predicates.
    return find_ops.typed(ftype, _as_query_col(q))


def _fn_top(env, coll, n):
    coll = _require_df(coll)
    vcol = "value" if "value" in coll.columns else coll.columns[-1]
    return coll.orderBy(F.col(vcol).desc(), "feature_id").limit(int(n))


def _fn_sum(env, coll):
    coll = _require_df(coll)
    vcol = "value" if "value" in coll.columns else coll.columns[-1]
    return coll.agg(F.sum(F.col(vcol).cast("double")).alias("value"))


def _collection_sqltype(vals):
    """Narrowest common SQL type for literal-collection items (the
    reference keeps collection values typed; vm_test.go:349-368 maps
    `add` over {36, 42} and expects ints back)."""
    if vals and all(isinstance(v, bool) for v in vals):
        return "boolean", None
    if vals and all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        return "bigint", None
    if vals and all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
    ):
        return "double", float
    return "string", str


_COMPLEX_ITEM = (DataFrame, P.Query, P.QKeyed, P.QTagged, P.QAnd, P.QOr, P.Point)


def _fn_collection(env, *pairs):
    rows = []
    for p in pairs:
        if not (isinstance(p, tuple) and len(p) == 2):
            raise ShellError("collection expects pair items")
        rows.append((_scalar(p[0]), _scalar(p[1])))
    # the reference's collections hold arbitrary values -- queries,
    # feature collections (b6_test.py test_flatten maps find over a
    # collection OF QUERIES); keep those as keyed Python items, which
    # map/flatten consume directly
    if any(isinstance(v, _COMPLEX_ITEM) for _, v in rows):
        return rows
    kt, kc = _collection_sqltype([k for k, _ in rows])
    vt, vc = _collection_sqltype([v for _, v in rows])
    conv = lambda v, c: v if c is None else c(v)
    return env.spark.createDataFrame(
        [(conv(k, kc), conv(v, vc)) for k, v in rows], f"key {kt}, value {vt}"
    )


def _fn_pair(env, k, v):
    return (_scalar(k), _scalar(v))


def _scalar(v):
    if isinstance(v, (P.FeatureId,)):
        return v.value
    if isinstance(v, TagVal):
        return f"{v.key}={v.value}"
    return v


def _fn_first(env, p):
    return p[0]


def _fn_second(env, p):
    return p[1]


def _feature_df(f) -> DataFrame:
    if isinstance(f, RowRef):
        return f.df
    if isinstance(f, (list, tuple)):
        # a collection literal of features ({(find-feature a), ...} or
        # (k, v) pairs from map) unions into one frame -- the client
        # passes origin LISTS to accessible-all
        dfs = []
        for item in f:
            v = item[-1] if isinstance(item, tuple) else item
            dfs.append(_require_df(v))
        if not dfs:
            raise ShellError("expected a non-empty feature collection")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out
    return _require_df(f)


def _fn_get_centroid(env, f):
    # features.go:140 getCentroid delegates to the geometry.go centroid
    # (hull centroid for areas), not world.go's internal Centroid
    from ..operators import geo_fn

    return geo_fn.with_fn_centroid(_feature_df(f)).select(
        "feature_id",
        F.col("centroid_lat").alias("lat"),
        F.col("centroid_lng").alias("lng"),
    )


def _fn_area(env, f):
    from ..operators import geo_fn

    f = _resolve_identifiable(env, f)
    if isinstance(f, RowRef):
        # per-feature Column so pipelines inside lambdas keep composing
        # (`area b | gt 1000.0`, vm_test.go:113-140)
        return ColVal(f, geo_fn.area_m2_col())
    df = _feature_df(f)
    # hull-vertex frames (convex-hull output: CCW lat/lng/vertex_idx
    # rows) collapse to one ring before measuring
    if "xs" not in df.columns and {"lat", "lng", "vertex_idx"} <= set(df.columns):
        v = F.array_sort(F.collect_list(F.struct("vertex_idx", "lng", "lat")))
        df = df.agg(v.alias("v")).select(
            F.lit("hull").alias("feature_id"),
            F.transform("v", lambda p: p["lng"]).alias("xs"),
            F.transform("v", lambda p: p["lat"]).alias("ys"),
        )
    # geometry-only frames (collect-areas pieces, sightline polygons)
    # measure too: default the ring table and key
    if "ring_offsets" not in df.columns and "xs" in df.columns:
        df = df.withColumn("ring_offsets", F.array(F.lit(0)))
    if "feature_id" not in df.columns:
        df = df.withColumn(
            "feature_id", F.monotonically_increasing_id().cast("string")
        )
    return geo_fn.with_area_m2(df).select(
        "feature_id", F.col("area_m2").alias("value")
    )


def _fn_length(env, f):
    from ..operators import geo_fn

    f = _resolve_identifiable(env, f)
    if isinstance(f, RowRef):
        return ColVal(f, geo_fn.length_m_col())
    df = _feature_df(f)
    # geometry-only frames (join/ordered-join output) measure too
    if "feature_id" not in df.columns:
        df = df.withColumn(
            "feature_id", F.monotonically_increasing_id().cast("string")
        )
    return geo_fn.with_length_m(df).select(
        "feature_id", F.col("length_m").alias("value")
    )


def _value_df_op(df: DataFrame, f) -> DataFrame:
    """Map an arithmetic op over a collection/scalar frame's `value`
    column (count/sum yield 1-row ['value'] frames; the reference's
    `count | divide 10.0` style chains keep working)."""
    other = [c for c in df.columns if c != "value"]
    return df.select(*other, f(F.col("value")).alias("value"))


def _fn_gt(env, a, b):
    if isinstance(a, ColVal):
        return ColVal(a.ref, a.col > _col_of(b))
    if isinstance(a, DataFrame) and "value" in a.columns:
        return _value_df_op(a, lambda c: c > F.lit(b))
    return a > b


def _fn_add(env, a, b):
    if isinstance(a, ColVal):
        return ColVal(a.ref, a.col + _col_of(b))
    if isinstance(a, DataFrame) and "value" in a.columns:
        return _value_df_op(a, lambda c: c + F.lit(b))
    return a + b


def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _fn_divide(env, a, b):
    """fn math.go:13-24: IntNumber / IntNumber is Go integer division
    (truncating toward zero); any float operand promotes to float."""
    if isinstance(a, ColVal):
        return ColVal(a.ref, a.col / _col_of(b))
    if isinstance(a, DataFrame) and "value" in a.columns:
        vtype = dict(a.dtypes)["value"]
        if vtype in ("tinyint", "smallint", "int", "bigint") and _is_int(b):
            # double-divide then cast: Spark's cast(long) truncates toward
            # zero, matching Go's int division (exact for |q| < 2^52)
            return _value_df_op(a, lambda c: (c / F.lit(b)).cast("long"))
        return _value_df_op(a, lambda c: c / F.lit(b))
    if _is_int(a) and _is_int(b):
        q = abs(a) // abs(b)
        return q if (a < 0) == (b < 0) else -q
    return a / b


def _fn_clamp(env, v, lo, hi):
    if isinstance(v, ColVal):
        return ColVal(v.ref, F.greatest(F.lit(lo), F.least(F.lit(hi), v.col)))
    return max(lo, min(hi, v))


def _fn_to_str(env, v):
    if isinstance(v, ColVal):
        return ColVal(v.ref, v.col.cast("string"))
    if isinstance(v, DataFrame) and "value" in v.columns:
        # count/sum frames stringify their value (fn math.go toStr;
        # b6_test.py test_to_str pipes count straight into to_str)
        return _value_df_op(v, lambda c: c.cast("string"))
    return str(v)


def _fn_add_tag(env, coll, tag):
    """`map (add-tag #k=v)` analogue, applied collection-wide as one
    column expression (fn change.go:20-45 AddTags; existing keys
    overwrite)."""
    coll = _feature_df(coll)
    if not isinstance(tag, TagVal):
        raise ShellError("add-tag expects a tag literal")
    merged = F.map_concat(
        F.map_filter(F.col("tags"), lambda k, _: k != F.lit(tag.key)),
        F.create_map(F.lit(tag.key), F.lit(tag.value)),
    )
    return coll.withColumn("tags", merged)


def _fn_remove_tag(env, coll, key):
    coll = _feature_df(coll)
    pruned = F.map_filter(F.col("tags"), lambda k, _: k != F.lit(key))
    return coll.withColumn("tags", pruned)


def _fn_highlight(env, coll):
    # UI-only in the reference (marks results on the map); identity here.
    return _require_df(coll)


def _registry() -> dict[str, Func]:
    fns = {
        "find": (_fn_find, 1),
        "find-areas": (_fn_find_typed("area"), 1),
        "find-relations": (_fn_find_typed("relation"), 1),
        "find-feature": (_fn_find_feature, 1),
        # typed finds yield nothing for a wrong-typed id
        # (b6_test.py test_find_area_by_wrong_id_type)
        "find-area": (_fn_find_feature_typed("area"), 1),
        "find-relation": (_fn_find_feature_typed("relation"), 1),
        "all": (lambda env: find_ops.all_(), 0),
        "all-areas": (
            lambda env: env.features.filter(F.col("feature_type") == "area"),
            0,
        ),
        "all-points": (
            lambda env: env.features.filter(F.col("feature_type") == "point"),
            0,
        ),
        "all-paths": (
            lambda env: env.features.filter(F.col("feature_type") == "path"),
            0,
        ),
        "take": (_fn_take, 2),
        "top": (_fn_top, 2),
        "count": (_fn_count, 1),
        "sum": (_fn_sum, 1),
        "map": (_fn_map, 2),
        "filter": (_fn_filter, 2),
        "get": (_fn_get, 2),
        "get-string": (_fn_get_string, 2),
        "get-int": (_fn_get_int, 2),
        "get-float": (_fn_get_float, 2),
        "tag": (_fn_tag, 2),
        "value": (_fn_value, 1),
        "all-tags": (_fn_all_tags, 1),
        "count-values": (_fn_count_values, 1),
        "count-tag-value": (_fn_count_tag_value, 3),
        "matches": (_fn_matches, 2),
        "tagged": (_fn_tagged, 2),
        "keyed": (_fn_keyed, 1),
        "typed": (_fn_typed, 2),
        "and": (_fn_and, 2),
        "or": (_fn_or, 2),
        "intersecting": (_fn_intersecting, 1),
        "intersecting-cap": (_fn_intersecting_cap, 2),
        "within": (_fn_intersecting, 1),
        "within-cap": (_fn_intersecting_cap, 2),
        "is-valid": (lambda env: find_ops.is_valid(), 0),
        "type-point": (lambda env, q: find_ops.typed("point", _as_query_col(q)), 1),
        "type-path": (lambda env, q: find_ops.typed("path", _as_query_col(q)), 1),
        "type-area": (lambda env, q: find_ops.typed("area", _as_query_col(q)), 1),
        "collection": (_fn_collection, -1),
        "pair": (_fn_pair, 2),
        "first": (_fn_first, 1),
        "second": (_fn_second, 1),
        "get-centroid": (_fn_get_centroid, 1),
        "area": (_fn_area, 1),
        "length": (_fn_length, 1),
        "gt": (_fn_gt, 2),
        "add": (_fn_add, 2),
        "divide": (_fn_divide, 2),
        "clamp": (_fn_clamp, 3),
        "to-str": (_fn_to_str, 1),
        "add-tag": (_fn_add_tag, 2),
        "remove-tag": (_fn_remove_tag, 2),
        "highlight": (_fn_highlight, 1),
    }
    return {name: Func(name, fn, ar) for name, (fn, ar) in fns.items()}


REGISTRY = _registry()


# ------------------------------------------------------------- evaluator ---


def _eval(node, env: Env, bindings: dict):
    if isinstance(node, P.Symbol):
        if node.name in bindings:
            return bindings[node.name]
        if node.name in REGISTRY:
            f = REGISTRY[node.name]
            # zero-arity functions used as values evaluate immediately
            return f.fn(env) if f.arity == 0 else f
        raise ShellError(f"unknown symbol {node.name!r}")
    if isinstance(node, (P.Str,)):
        return node.value
    if isinstance(node, P.Int):
        return node.value
    if isinstance(node, P.Float):
        return node.value
    if isinstance(node, (P.FeatureId, P.Point, P.Query)):
        return node
    if isinstance(node, P.Tag):
        return TagVal(node.key, node.value)
    if isinstance(node, P.Lambda):
        return LambdaVal(node, bindings)
    if isinstance(node, P.Call):
        return _eval_call(node, env, bindings)
    raise ShellError(f"cannot evaluate {node!r}")


def _variadic_apply(f: Func, env, args):
    return f.fn(env, *args)


def _eval_call(node: P.Call, env: Env, bindings: dict):
    args = [_eval(a, env, bindings) for a in node.args]
    fn = node.fn
    if isinstance(fn, P.Symbol):
        name = fn.name
        if name in bindings:
            target = bindings[name]
        elif name in REGISTRY:
            target = REGISTRY[name]
        else:
            raise ShellError(f"unknown function {name!r}")
        if isinstance(target, Func) and target.arity == -1:
            return _variadic_apply(target, env, args)
        if isinstance(target, Func) and target.arity == 0:
            return target.fn(env)
        if not args and isinstance(target, (Func, Partial, LambdaVal)):
            # bare-symbol call stage: `... | filter | ...` means the
            # function itself (shell.go simplifyCallWithNoArguments)
            return target
        return _as_callable(target).apply(env, args)
    target = _eval(fn, env, bindings)
    if isinstance(target, (Func, Partial, LambdaVal)):
        return target.apply(env, args)
    if node.pipelined and isinstance(target, DataFrame) and not node.args:
        return target
    raise ShellError(f"cannot call {target!r}")


def evaluate_expression(expression, env: Env):
    """Evaluate a parsed AST (or shell string) against a world Env."""
    if isinstance(expression, str):
        expression = P.parse_expression(expression)
    return _eval(expression, env, {})


def run(spark, features: DataFrame, expression: str):
    """One-call surface: shell string + world DataFrame -> result.

    DataFrame results come back as the lazy plan; scalars as Python
    values.  This is the Spark analogue of the reference UI's evaluate
    endpoint (b6/ui/ui.go:508-511 -> api.Evaluate)."""
    return evaluate_expression(expression, Env(spark, features))


# The remaining reference surface (graph/geometry/geojson/change/...)
# registers itself on import; evaluate.py stays the core language.
from . import stdlib  # noqa: E402,F401  (registration side effect)
