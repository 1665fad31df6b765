"""Overlay-world semantics, mirroring the reference's own fixtures:

* ingest/overlay_test.go TestOverlayWorldReturnsPathsFromAllIndices --
  a cap query over an overlay of two worlds returns the paths of BOTH,
  in FeatureID order.
* ingest/overlay_test.go TestOverlayWorldReplacesPathsFromOneIndexWith
  Another -- a feature id present in both worlds resolves entirely to
  the overlaying world's version: its tags AND its geometry.
* merged_test.go TestMergedFeatures -- merging feature streams dedups
  by id and yields sorted FeatureID order.
"""

import pyspark.sql.functions as F
import pytest

from diagonal_b6_spark.operators import change as change_ops
from diagonal_b6_spark.operators.gridjoin import haversine_col
from diagonal_b6_spark.sources import osm as osm_src

NODES = [
    (5378333625, 51.5352195, -0.1254286),
    (1715968739, 51.5351398, -0.1249654),
    (1715968738, 51.5351015, -0.1248611),
    (4966136648, 51.5348874, -0.1260855),
    (5378333638, 51.5367686, -0.1282862),
    (7555184307, 51.5373281, -0.1252851),
    (1715968755, 51.5354037, -0.1260829),
    (1447052073, 51.5350326, -0.1247915),
    (1540349979, 51.5348204, -0.1246405),
]


def _world(spark, ways):
    nodes = spark.createDataFrame(
        [(i, lat, lng, {}) for i, lat, lng in NODES],
        "id long, lat double, lon double, tags map<string,string>",
    )
    ways_df = spark.createDataFrame(
        [(wid, refs, tags) for wid, refs, tags in ways],
        "id long, refs array<long>, tags map<string,string>",
    )
    feats = osm_src.ways_to_features(nodes, ways_df)
    # BuildWorldFromOSM maps raw OSM tags to searchable b6 tags
    # (ingest/osm.go FillTagsFromOSM); world_from_pbf does this at parse
    return feats.withColumn("tags", osm_src.fill_tags_from_osm(F.col("tags")))


def _cap_paths(feats, lat, lng, radius_m):
    v = feats.select(
        "feature_id", F.explode(F.arrays_zip("xs", "ys")).alias("v")
    ).select("feature_id", F.col("v.ys").alias("la"), F.col("v.xs").alias("lo"))
    near = v.filter(
        haversine_col(F.col("la"), F.col("lo"), F.lit(lat), F.lit(lng)) <= radius_m
    )
    return feats.filter(F.col("feature_type") == "path").join(
        F.broadcast(near.select("feature_id").distinct()), "feature_id", "semi"
    )


def test_overlay_returns_paths_from_all_indices(spark):
    """TestOverlayWorldReturnsPathsFromAllIndices, exact fixture."""
    w1 = _world(
        spark,
        [
            (642639444, [5378333625, 1715968739, 1715968738], {}),
            (557698825, [5378333625, 4966136648, 5378333638], {}),
        ],
    )
    w2 = _world(
        spark,
        [
            (807925586, [7555184307, 1715968755, 5378333625], {}),
            (140633010, [1447052073, 1540349979], {}),
        ],
    )
    overlay = change_ops.overlay_world(w1, w2)
    found = _cap_paths(overlay, 51.5352195, -0.1254286, 500.0).collect()
    ids = sorted(int(r["feature_id"].rsplit("/", 1)[1]) for r in found)
    assert ids == [140633010, 557698825, 642639444, 807925586]


def test_overlay_replaces_paths_from_one_index_with_another(spark):
    """TestOverlayWorldReplacesPathsFromOneIndexWithAnother: the
    overlaying world's version of way 642639444 (cycleway, TWO nodes)
    fully shadows the base's (path, three nodes)."""
    base = _world(
        spark,
        [
            (642639444, [5378333625, 1715968739, 1715968738], {"highway": "path"}),
            (557698825, [5378333625, 4966136648, 5378333638], {}),
        ],
    )
    over = _world(
        spark,
        [
            (642639444, [5378333625, 1715968738], {"highway": "cycleway"}),
            (557698825, [5378333625, 5378333638], {}),
        ],
    )
    overlay = change_ops.overlay_world(base, over)

    as_path = overlay.filter(
        (F.col("feature_type") == "path")
        & (F.col("tags").getItem("#highway") == "path")
    ).collect()
    assert as_path == []

    as_cycleway = overlay.filter(
        (F.col("feature_type") == "path")
        & (F.col("tags").getItem("#highway") == "cycleway")
    ).collect()
    assert len(as_cycleway) == 1
    assert as_cycleway[0]["tags"]["#highway"] == "cycleway"
    assert len(as_cycleway[0]["xs"]) == 2  # geometry replaced too


def test_merged_features_dedup_and_order(spark):
    """merged_test.go TestMergedFeatures: duplicate ids collapse and the
    merged stream is in FeatureID order."""
    a = [1447052072, 7555211491]
    b = [29740928, 1237701871, 1447052072, 2517853770]
    df_a = spark.createDataFrame(
        [(f"point/osm/{v}",) for v in a], "feature_id string"
    )
    df_b = spark.createDataFrame(
        [(f"point/osm/{v}",) for v in b], "feature_id string"
    )
    merged = (
        df_a.unionByName(df_b)
        .distinct()
        .withColumn("value", F.element_at(F.split("feature_id", "/"), -1).cast("long"))
        .orderBy("value")
        .collect()
    )
    got = [r["value"] for r in merged]
    assert got == sorted(set(a) | set(b))
