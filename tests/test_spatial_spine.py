"""End-to-end spine tests (SURVEY.md §7.1 step 2): fixture generation,
containment join (both strategies) vs brute-force numpy oracle, tile
assignment, golden counts in the b6_test.py style (FIXTURES.md §3)."""

import numpy as np
import pandas as pd
import pytest

from diagonal_b6_spark import fixtures
from diagonal_b6_spark.kernels import geom, imagecodec as ic
from diagonal_b6_spark.operators import cover as cover_ops
from diagonal_b6_spark.operators import spatial_join
from diagonal_b6_spark.pipeline import tile_assignments

N = 1000


@pytest.fixture(scope="module")
def images(spark):
    df = fixtures.images_table(spark, N, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def feats(spark):
    return fixtures.features_table(spark)


@pytest.fixture(scope="module")
def images_pd(images):
    return images.select("image_id", "lat", "lng", "fmt", "w", "h", "bytes", "caption").toPandas()


def brute_force_containment(images_pd, feature_rows):
    pairs = set()
    for f in feature_rows:
        if f["feature_type"] != "area":
            continue
        inside = geom.points_in_polygon(
            images_pd["lng"].to_numpy(),
            images_pd["lat"].to_numpy(),
            np.array(f["xs"]),
            np.array(f["ys"]),
            np.array(f["ring_offsets"]),
        )
        for img in images_pd.loc[inside, "image_id"]:
            pairs.add((img, f["feature_id"]))
    return pairs


def test_images_table_deterministic_and_decodable(images_pd):
    assert len(images_pd) == N
    assert images_pd["image_id"].is_unique
    # per-row invariant: decoded pixels allclose / PSNR>=40, captions match formula
    sample = images_pd.sample(40, random_state=1)
    for _, r in sample.iterrows():
        i = int(r["image_id"][3:])
        expect = ic.pix(i, r["w"], r["h"])
        got = ic.decode(bytes(r["bytes"]), r["fmt"])
        if r["fmt"] == "lossy":
            assert ic.psnr(expect, got) >= 40.0
        else:
            assert (got == expect).all()
        assert r["caption"] == f"caption for img{i:012d}: {fixtures.ADJ[i % 7]} {fixtures.NOUN[i % 11]}"


def test_dense_cluster_present(images_pd):
    d = geom.haversine_m(
        images_pd["lat"].to_numpy(), images_pd["lng"].to_numpy(), fixtures.DENSE_LAT, fixtures.DENSE_LNG
    )
    assert (d <= fixtures.DENSE_R_M + 1).sum() >= N // 100  # 1% in the dense disk


@pytest.mark.parametrize("strategy", ["broadcast", "bucketed"])
def test_containment_join_matches_bruteforce(spark, images, feats, images_pd, strategy):
    pts = cover_ops.with_point_cells(images)
    if strategy == "broadcast":
        result = spatial_join.containment_join_broadcast(pts, feats)
    else:
        result = spatial_join.containment_join_bucketed(pts, feats, salt=4)
    got = {(r["image_id"], r["feature_id"]) for r in result.collect()}
    want = brute_force_containment(images_pd, fixtures.feature_rows())
    assert got == want, (
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]} "
        f"(|want|={len(want)}, |got|={len(got)})"
    )
    assert len(want) > 0  # the fixture must actually exercise the join


def test_poi_golden_counts(spark, feats):
    """FIXTURES.md §3 expected_counts: points-in-square=10, hole-solid=5."""
    pois = feats.filter(feats.feature_type == "point").select(
        feats.feature_id.alias("image_id"),
        feats.ys[0].alias("lat"),
        feats.xs[0].alias("lng"),
    )
    pts = cover_ops.with_point_cells(pois)
    res = spatial_join.containment_join_broadcast(pts, feats).toPandas()
    per_area = res.groupby("feature_id")["image_id"].count().to_dict()
    assert per_area.get("area/test/1", 0) == 10  # inside square
    assert per_area.get("area/test/2", 0) == 5  # hole's solid part
    assert len(res) == 15  # 5 POIs outside all areas


def test_distance_join_cap(spark, images, images_pd):
    res = spatial_join.distance_join(images, 51.535, -0.125, 300.0)
    got = set(r["image_id"] for r in res.select("image_id").collect())
    d = geom.haversine_m(
        images_pd["lat"].to_numpy(), images_pd["lng"].to_numpy(), 51.535, -0.125
    )
    want = set(images_pd.loc[d <= 300.0, "image_id"])
    assert got == want and len(want) > 0


def test_tile_assignments_match_oracle(spark, images, images_pd):
    res = tile_assignments(images, zooms=(12, 16)).toPandas()
    assert len(res) == 2 * N
    for z in (12, 16):
        sub = res[res["zoom"] == z].set_index("image_id")
        xt, yt = geom.latlng_to_tile(images_pd["lat"].to_numpy(), images_pd["lng"].to_numpy(), z)
        for k, img in enumerate(images_pd["image_id"]):
            assert sub.loc[img, "tile_x"] == xt[k]
            assert sub.loc[img, "tile_y"] == yt[k]


def test_antimeridian_containment(spark, feats):
    probe = spark.createDataFrame(
        [("p_east", 0.0, 179.9995), ("p_west", 0.0, -179.9995), ("p_out", 0.0, 178.0)],
        "image_id string, lat double, lng double",
    )
    res = spatial_join.containment_join_broadcast(
        cover_ops.with_point_cells(probe), feats
    ).toPandas()
    hits = set(res["image_id"])
    assert hits == {"p_east", "p_west"}


def test_knn_grid_equals_bruteforce(spark):
    """The ring-expansion kNN (equi-join plan) must return exactly the
    brute-force result, probe for probe, rank for rank."""
    from diagonal_b6_spark import catalog

    sf = "/root/testdata/sf0.001"
    brute = sorted(
        tuple(r) for r in catalog.q_geo_knn(spark, sf).collect()
    )
    grid = sorted(
        tuple(r) for r in catalog.q_geo_knn_grid(spark, sf).collect()
    )
    assert grid == brute
    assert len(grid) == catalog.N_PROBES * catalog.KNN_K


def test_broadcast_containment_plans_hash_join(spark):
    """Round-1 range-condition broadcast planned as BroadcastNestedLoopJoin
    (O(N*M)); the bucket-equi-key explode must plan a hash join.  Both
    builders cover the polygon side in one Python pass: no ArrowEvalPython
    there (only the point side's cell16_udf), exactly two MapInPandas
    nodes (the cover pass and the refine), and a JVM-local feature scan
    rather than a pickled Python RDD."""
    from diagonal_b6_spark import fixtures
    from diagonal_b6_spark.operators import spatial_join

    from pyspark.sql import functions as F
    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.lit(51.52) + F.col("id") * 1e-4).alias("lat"),
        (F.lit(-0.14) + F.col("id") * 1e-4).alias("lng"),
    )
    feats = fixtures.features_table(spark)
    # the bucketed builder replicates its cover rows over the salt range
    # with one (tiny) nested-loop cross join; its bucket join is a hash join
    for builder, nested_loops in (
        (spatial_join.containment_join_broadcast, 0),
        (spatial_join.containment_join_bucketed, 1),
    ):
        out = builder(pts, feats, point_id="pid")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, builder.__name__
        assert plan.count("BroadcastNestedLoopJoin") == nested_loops, builder.__name__
        python_evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
        assert python_evals and all("cell16_udf(" in ln for ln in python_evals), plan
        assert plan.count("MapInPandas") == 2, plan
        assert "MapInPandas cover_cells(" in plan and "MapInPandas refine(" in plan
        assert "ExistingRDD" not in plan, plan


def test_cover_index_matches_cover_kernel(spark):
    """feature_cover_index emits exactly the cover kernel's rows, one per
    (feature, covering cell) in kernel order, each carrying the feature's
    geometry.  A 12 km square is covered by cells coarser than
    BUCKET_LEVEL, so its rows carry several bucket keys."""
    from diagonal_b6_spark.kernels import cellmath as cm

    xs, ys = fixtures._square(51.50, -0.12, 6000.0)
    big = {
        "feature_id": "area/test/big", "feature_type": "area", "ns": "test/fixtures",
        "tags": {}, "xs": xs, "ys": ys, "ring_offsets": [0],
    }
    rows = [f for f in fixtures.feature_rows() if f["feature_type"] == "area"] + [big]
    feats = spark.createDataFrame(pd.DataFrame(rows), schema=fixtures.FEATURE_SCHEMA)
    got: dict[str, list] = {}
    for r in cover_ops.feature_cover_index(feats).collect():
        f = next(f for f in rows if f["feature_id"] == r.feature_id)
        assert (r.feature_type, r.xs, r.ys, r.ring_offsets) == (
            f["feature_type"], f["xs"], f["ys"], f["ring_offsets"]
        )
        got.setdefault(r.feature_id, []).append(
            {"cell": r.cell, "rmin": r.rmin, "rmax": r.rmax, "level": r.cell_level,
             "buckets": list(r.buckets)}
        )
    for f in rows:
        want = cover_ops._cover_one(
            np.asarray(f["xs"]), np.asarray(f["ys"]), f["feature_type"],
            cm.MAX_COVERING_CELLS, cm.MAX_INDEX_LEVEL,
        )
        assert got[f["feature_id"]] == want, f["feature_id"]
    big_rows = got["area/test/big"]
    assert min(c["level"] for c in big_rows) < cm.BUCKET_LEVEL
    assert max(len(c["buckets"]) for c in big_rows) > 1


def test_containment_auto_switch(spark):
    """Small polygon side -> broadcast plan; tiny threshold -> bucketed."""
    from diagonal_b6_spark import fixtures
    from diagonal_b6_spark.operators import spatial_join
    from pyspark.sql import functions as F

    pts = spark.range(50).select(
        F.col("id").alias("pid"),
        (F.lit(51.52) + F.col("id") * 1e-4).alias("lat"),
        (F.lit(-0.14) + F.col("id") * 1e-4).alias("lng"),
    )
    feats = fixtures.features_table(spark)
    bcast = spatial_join.containment_join(pts, feats, point_id="pid")
    bucketed = spatial_join.containment_join(pts, feats, point_id="pid", max_broadcast_features=1)
    a = sorted((r["pid"], r["feature_id"]) for r in bcast.collect())
    b = sorted((r["pid"], r["feature_id"]) for r in bucketed.collect())
    assert a == b


def test_knn_grid_construction_is_lazy(spark):
    """Single-job knn_grid: no driver-side ring loop, so building the
    DataFrame launches zero jobs (round 1 ran isEmpty per ring)."""
    import time
    from diagonal_b6_spark.operators import knn
    from pyspark.sql import functions as F

    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.lit(51.5) + F.col("id") * 1e-3).alias("lat"),
        (F.lit(-0.1) + F.col("id") * 1e-3).alias("lng"),
    )
    probes = spark.range(4).select(
        F.col("id").alias("probe_id"),
        (F.lit(51.5) + F.col("id") * 1e-2).alias("lat"),
        (F.lit(-0.1) + F.col("id") * 1e-2).alias("lng"),
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = knn.knn_grid(pts, probes, 3, point_id="pid")
    time.sleep(0.2)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    assert df.count() > 0


def test_segment_intersections_street_crosses_square(spark):
    """IntersectsPolyline: the fixture street crosses the building
    square boundary exactly twice (in and out)."""
    from diagonal_b6_spark import fixtures
    from diagonal_b6_spark.operators import network as net_ops
    from diagonal_b6_spark.operators import sightline as sl_ops
    from diagonal_b6_spark.operators import spatial_join
    from pyspark.sql import functions as F

    feats = fixtures.features_table(spark)
    segs_a = net_ops.path_segments(feats.filter(F.col("feature_type") == "path"))
    segs_b = sl_ops.ring_segments_with_ids(
        feats.filter(F.col("feature_id") == "area/test/1")
    )
    out = spatial_join.segment_intersections(segs_a, segs_b).collect()
    assert len(out) == 2
    assert all(r["id_b"] == "area/test/1" for r in out)
    # both crossing points lie ON the square's boundary x-range
    for r in out:
        assert 51.533 < r["iy"] < 51.537


def test_tile_pyramid_apply_delta_semantics(spark):
    """Incremental pyramid maintenance: zero-count tiles drop (equal to a
    full rebuild), and a removed set that is not a subset of the indexed
    points raises instead of going negative."""
    import pytest
    from pyspark.sql import functions as F

    from diagonal_b6_spark.pipeline import (
        tile_assignments,
        tile_pyramid_apply_delta,
        tile_pyramid_rollup,
    )

    pts = spark.range(40).select(
        F.col("id").alias("image_id"),
        (F.lit(51.0) + F.col("id") * 0.01).alias("lat"),
        (F.lit(-0.2) + F.col("id") * 0.01).alias("lng"),
    )
    base = pts.filter("image_id < 30")
    added = pts.filter("image_id >= 30")
    removed = pts.filter("image_id < 10")
    pyramid = tile_pyramid_rollup(tile_assignments(base, zooms=(12,)), 12, 10)
    got = tile_pyramid_apply_delta(pyramid, added, removed, 12, 10)
    final = pts.filter("image_id >= 10")
    want = tile_pyramid_rollup(tile_assignments(final, zooms=(12,)), 12, 10)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # every fully-vacated tile is gone, not present with n=0
    assert got.filter("n <= 0").count() == 0

    not_subset = pts.filter("image_id >= 35")  # overlaps `added`, not in base
    bad = tile_pyramid_apply_delta(pyramid, added.limit(0), not_subset, 12, 10)
    with pytest.raises(Exception, match="not a subset"):
        bad.collect()
