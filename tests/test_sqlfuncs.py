"""The spark.sql registered-function surface (sqlfuncs.py): every SQL
UDF must equal its Column-operator twin on real fixture data, and the
whole surface must stay Python-free (SQL-defined functions inline into
Catalyst)."""

import pytest
from pyspark.sql import functions as F

from diagonal_b6_spark import fixtures, sqlfuncs
from diagonal_b6_spark.operators import cover as cover_ops
from diagonal_b6_spark.operators import dedup as dedup_ops
from diagonal_b6_spark.operators import text as text_ops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registered(spark):
    names = sqlfuncs.register_sql_functions(spark)
    assert len(names) == len(set(names))
    return names


def _docs(spark):
    return fixtures.testdata(spark, SF, "documents").select("doc_id", "text")


def test_text_functions_equal_operator_twins(spark, registered):
    docs = _docs(spark)
    docs.createOrReplaceTempView("_sqlf_docs")
    got = {
        r["doc_id"]: r
        for r in spark.sql(
            "SELECT doc_id, b6_token_count(text) AS n_tokens, "
            "b6_token_count_bpe(text) AS n_tokens_bpe, "
            "b6_punct_ratio(text) AS punct_ratio, "
            "b6_stopword_hits(text) AS stopword_hits "
            "FROM _sqlf_docs"
        ).collect()
    }
    ws = {r["doc_id"]: r["n_tokens"] for r in text_ops.token_count(docs, "doc_id", "text").collect()}
    bpe = {r["doc_id"]: r["n_tokens_bpe"] for r in text_ops.token_count_bpe(docs, "doc_id", "text").collect()}
    q = {r["doc_id"]: r for r in text_ops.quality_score(docs, "doc_id", "text").collect()}
    assert len(got) > 0
    for d, r in got.items():
        assert r["n_tokens"] == ws[d]
        assert r["n_tokens_bpe"] == bpe[d]
        assert r["punct_ratio"] == q[d]["punct_ratio"]
        assert r["stopword_hits"] == q[d]["stopword_hits"]


def test_shingles_equal_dedup_operator(spark, registered):
    docs = _docs(spark).limit(50)
    docs.createOrReplaceTempView("_sqlf_docs50")
    got = {
        (r["doc_id"], r["shingle"])
        for r in spark.sql(
            # a SQL UDF cannot sit directly inside Generate (explode);
            # materialize the array in a subquery first
            "SELECT doc_id, explode(sh) AS shingle FROM "
            "(SELECT doc_id, b6_shingles(text, 3) AS sh FROM _sqlf_docs50)"
        ).collect()
    }
    want = {
        (r["doc_id"], r["shingle"])
        for r in dedup_ops.shingles(docs, "doc_id", "text", n=3).collect()
    }
    assert got == want and len(got) > 0


def test_geo_functions_equal_operator_twins(spark, registered):
    from diagonal_b6_spark import catalog

    ev = catalog._events_points(spark, SF).limit(200)
    ev.createOrReplaceTempView("_sqlf_ev")
    got = spark.sql(
        "SELECT event_id, b6_haversine_m(51.5355, -0.1245, lat, lng) AS d, "
        "b6_tile_x(lng, 14) AS tx, b6_tile_y(lat, 14) AS ty FROM _sqlf_ev"
    ).collect()
    from diagonal_b6_spark.operators.gridjoin import haversine_col

    tx, ty = cover_ops.tile_xy_cols(14)
    want = {
        r["event_id"]: r
        for r in ev.select(
            "event_id",
            haversine_col(
                F.lit(51.5355), F.lit(-0.1245), F.col("lat"), F.col("lng")
            ).alias("d"),
            tx.alias("tx"),
            ty.alias("ty"),
        ).collect()
    }
    assert len(got) == 200
    for r in got:
        w = want[r["event_id"]]
        assert r["d"] == w["d"] and r["tx"] == w["tx"] and r["ty"] == w["ty"]


def test_registration_is_idempotent_and_python_free(spark, registered):
    # re-registering must not raise (CREATE OR REPLACE)
    again = sqlfuncs.register_sql_functions(spark)
    assert again == registered
    # the plan of a SQL-UDF call must contain no Python eval node
    spark.sql("SELECT 1 AS x").createOrReplaceTempView("_one")
    plan = spark.sql(
        "SELECT b6_token_count('a b c'), b6_tile_x(0.0, 5) FROM _one"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan
