"""End-to-end frontier slice (SURVEY §7 minimum slice): seeds with
engineered duplicates → waves → every unique url fetched exactly once,
byte-identical text, per-partition metrics recorded."""

from __future__ import annotations

import pytest
from helpers import seeds_of
from pyspark.sql import Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark.datagen import pages_df, politeness_df
from judyst_web_crawler_spark.functions import canonical as C
from judyst_web_crawler_spark.operators.frontier import (
    DOCS_TABLE,
    DONE_TABLE,
    METRICS_TABLE,
    SEEN_TABLE,
    FrontierEngine,
)
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


def test_frontier_end_to_end_duplicate_seeds(spark, tmp_path):
    pages = pages_df(spark, n_rows=50, n_hosts=3, seed=5).cache()
    hosts = [r["h"] for r in pages.select(C.url_host("url").alias("h")).distinct().collect()]
    pol = politeness_df(spark, hosts, budget=10)

    # seeds: every url once + the first 10 urls again (duplicates)
    base = pages.select("url").orderBy("url")
    dups = base.limit(10)

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


def test_fetch_miss_retired_not_documented(spark, tmp_path):
    pages = pages_df(spark, n_rows=10, n_hosts=1, seed=3).cache()
    ghost = spark.createDataFrame(
        [("http://court000.example.ru/ru/missing.pdf", 2, 99)],
        "url string, page_seq int, intra_page_seq int",
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat)
    eng.bootstrap(seeds_of(pages).unionByName(ghost))
    stats = eng.run(pages, budget=50, max_waves=10)
    docs = cat.read(DOCS_TABLE)
    assert docs.count() == 10  # ghost url NOT in documents
    assert docs.filter(F.col("text").isNull()).count() == 0
    done = cat.read(DONE_TABLE)
    miss = done.filter(F.col("retire_status") == "fetch_miss").collect()
    assert [r["url"] for r in miss] == ["http://court000.example.ru/ru/missing.pdf"]
    assert sum(s.get("fetch_misses", 0) for s in stats) == 1
    pages.unpersist()


def test_fingerprint_k_free_without_index(spark, tmp_path):
    """bands only constrain fingerprint_k when an index will be banded:
    fingerprint-only engines accept any k."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    FrontierEngine(spark, cat, fingerprint_k=100)  # 100 % 16 != 0 — fine
    with pytest.raises(ValueError, match="divide"):
        FrontierEngine(
            spark, cat, fingerprint_k=100, minhash_index_path=str(tmp_path / "i")
        )
