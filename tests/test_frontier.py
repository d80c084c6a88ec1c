"""End-to-end frontier slice (SURVEY §7 minimum slice): seeds with
engineered duplicates → waves → every unique url fetched exactly once,
byte-identical text, per-partition metrics recorded."""

from __future__ import annotations

from pyspark.sql import functions as F

from judyst_web_crawler_spark.datagen import pages_df, politeness_df
from judyst_web_crawler_spark.functions import canonical as C
from judyst_web_crawler_spark.operators.frontier import (
    DOCS_TABLE,
    METRICS_TABLE,
    SEEN_TABLE,
    FrontierEngine,
)
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


def test_frontier_end_to_end_with_bloom(spark, tmp_path):
    pages = pages_df(spark, n_rows=50, n_hosts=3, seed=5).cache()
    hosts = [r["h"] for r in pages.select(C.url_host("url").alias("h")).distinct().collect()]
    pol = politeness_df(spark, hosts, budget=10)

    # seeds: every url once + the first 10 urls again (duplicates)
    base = pages.select("url").orderBy("url")
    dups = base.limit(10)
    from pyspark.sql import Window

    seeds = (
        base.unionAll(dups)
        .withColumn("_rn", F.row_number().over(Window.orderBy("url")))
        .select(
            "url",
            (F.lit(2)).alias("page_seq"),
            F.col("_rn").cast("int").alias("intra_page_seq"),
        )
    )

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat, politeness=pol)
    eng.bootstrap(seeds)
    stats = eng.run(pages, budget=10, max_waves=30)
    assert len(stats) >= 2

    docs = cat.read(DOCS_TABLE)
    assert docs.count() == 50
    assert docs.select("url").distinct().count() == 50

    # byte-identical text vs the oracle column
    joined = docs.alias("d").join(pages.alias("p"), "url")
    mismatch = joined.filter(F.col("d.text") != F.col("p.text")).count()
    assert mismatch == 0

    # seen set = the 50 unique canonical keys
    assert cat.read(SEEN_TABLE).select("key_hash").distinct().count() == 50

    # metrics carry per-partition lineage per wave
    m = cat.read(METRICS_TABLE)
    assert {"wave", "partition_id", "fetch_count", "dedup_hits", "dedup_hit_rate", "elapsed_s"}.issubset(set(m.columns))
    assert m.agg(F.sum("fetch_count")).first()[0] == 50
    pages.unpersist()
