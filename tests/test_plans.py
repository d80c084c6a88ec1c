"""Physical-plan assertions (SURVEY §4): predicate pushdown and column
pruning reach the parquet scan, small dims broadcast, pipelines stay in
whole-stage codegen, and pandas-UDF stages appear exactly once."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from judyst_web_crawler_spark.plans import inspect as P

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _t(spark, name):
    return spark.read.parquet(os.path.join(SF, f"{name}.parquet"))


def test_filter_pushdown_and_pruning(spark):
    li = _t(spark, "lineitem")
    q = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_returnflag", "l_quantity"
    )
    assert any("l_shipdate" in f for f in P.pushed_filters(q))
    # scan reads only the filter + projection columns, not all 11
    cols = P.read_schema_columns(q)
    assert cols <= {"l_returnflag", "l_quantity", "l_shipdate"}


def test_dim_join_broadcasts(spark):
    orders = _t(spark, "orders")
    cust = _t(spark, "customer")
    q = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_name"
    )
    assert P.has_broadcast_join(q)


def test_agg_plan_is_jvm_only_with_partial_agg(spark):
    """Pricing-summary agg: zero Python evaluation operators, and the
    map-side partial aggregate is present (shuffle carries one row per
    group per partition, not the raw table — the property that matters
    at 100 TB)."""
    li = _t(spark, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    assert P.python_eval_ops(q) == 0
    assert "partial_sum" in P.simple_plan(q)


def test_extraction_plan_single_python_stage(spark):
    """The extract pipeline crosses JVM→Python exactly once per row batch."""
    from judyst_web_crawler_spark.datagen import pages_df
    from judyst_web_crawler_spark.functions.extraction import extract_text_udf

    pages = pages_df(spark, n_rows=10, with_oracle_text=False)
    q = pages.select("url", extract_text_udf("html").alias("text"))
    assert P.python_eval_ops(q) == 1


def test_canonicalization_stays_in_codegen(spark):
    from judyst_web_crawler_spark.functions import canonical as C

    docs = _t(spark, "documents")
    url = F.concat(F.lit("http://h/x"), F.col("doc_id").cast("string"))
    q = docs.select(
        C.canonical_key(F.col("source")).alias("k"),
        C.key_hash(C.canonical_key(F.col("source"))).alias("h"),
        C.pdf_number(url).alias("p"),
    )
    assert P.python_eval_ops(q) == 0
    assert P.wholestage_codegen_spans(q) >= 1


def test_q3_no_fact_side_broadcast_hint(spark):
    """q3 must hint-broadcast ONLY the filtered customer dim. Round 1
    force-broadcast the orders⋈customer result — fine at sf0.1, OOM at
    100× (VERDICT r1). Auto-broadcast from size stats is allowed; an
    explicit hint on a fact-side join result is not."""
    import __spark_entry__ as E

    q = E.q_q3_top_revenue(spark, SF)
    assert P.broadcast_hint_count(q) == 1


def test_q7_q8_plans_dims_only_hints_and_pushdown(spark):
    """q7/q8: broadcast hints only on true dims (nation/region — fixed
    25/5 rows at ANY scale); supplier/customer/orders joins carry no hint
    so they degrade to shuffle joins when stats grow. Date filter reaches
    the lineitem scan; zero Python ops."""
    import __spark_entry__ as E

    q7 = E.q_q7_nation_volume(spark, SF)
    assert P.broadcast_hint_count(q7) == 2  # n1, n2
    assert P.python_eval_ops(q7) == 0
    assert any("l_shipdate" in f for f in P.pushed_filters(q7))

    q8 = E.q_q8_market_share(spark, SF)
    assert P.broadcast_hint_count(q8) == 3  # n1, n2, region
    assert P.python_eval_ops(q8) == 0


def test_seen_anti_join_single_shuffle_pair(spark):
    """The exact seen filter is one anti-join — no extra exchanges beyond
    the two join inputs (AQE may later fold them)."""
    from judyst_web_crawler_spark.operators.seen import filter_new_exact

    docs = _t(spark, "documents")
    cand = docs.select(F.col("doc_id").alias("key_hash"))
    seen = docs.filter(F.col("doc_id") % 2 == 0).select(F.col("doc_id").alias("key_hash"))
    q = filter_new_exact(cand, seen, "key_hash")
    assert P.shuffle_count(q) <= 2


def test_q2_single_dim_hint_no_python(spark):
    """q2-shape: one broadcast hint (supplier dim only — the min-price
    back-join must stay shuffle-eligible at scale) and zero Python ops."""
    import __spark_entry__ as E

    q = E.q2_min_cost_supplier(spark, SF)
    assert P.broadcast_hint_count(q) == 1
    assert P.python_eval_ops(q) == 0


def test_dsir_weights_plan_broadcasts_ratio_no_python(spark):
    """DSIR scoring joins the n_buckets-row ratio table via broadcast and
    the whole featurize→score pipeline stays JVM-side (dsir_weights
    cuts its feature table, so assert on the operator plan)."""
    from judyst_web_crawler_spark.operators import dsir as D

    docs = _t(spark, "documents")
    feats = D.hashed_ngram_features(docs, n_buckets=64)
    assert P.python_eval_ops(feats) == 0
    ratio = D.bucket_log_ratio(spark, feats, feats, n_buckets=64)
    w = D.importance_weights(feats, ratio)
    assert P.broadcast_hint_count(w) >= 1
    assert P.python_eval_ops(w) == 0
