"""Recrawl scheduling: stale-first ranking from warc_ts and its mapping
onto the frontier's (page_seq, intra_page_seq) priority vocabulary."""

from __future__ import annotations

from pyspark.sql import functions as F

from judyst_web_crawler_spark.operators import recrawl as RC
from judyst_web_crawler_spark.operators.politeness import budget_topk

NOW = 1_000_000


def _pages(spark):
    rows = [
        ("http://a.example/1", "a.example", 100),     # oldest on a
        ("http://a.example/2", "a.example", 5_000),
        ("http://a.example/3", "a.example", 900_000),  # too fresh at gate
        ("http://b.example/1", "b.example", 200),
        ("http://b.example/2", "b.example", 199),      # oldest on b
    ]
    return spark.createDataFrame(
        [(u, h, t) for u, h, t in rows], "url string, host string, epoch long"
    ).select("url", "host", F.timestamp_seconds("epoch").alias("warc_ts"))


def test_stale_rank_oldest_first_with_gate(spark):
    got = {
        r["url"]: (r["stale_rank"], r["age_s"])
        for r in RC.stale_rank(_pages(spark), NOW, min_age_s=500_000).collect()
    }
    assert got["http://a.example/1"][0] == 1
    assert got["http://a.example/2"][0] == 2
    assert "http://a.example/3" not in got          # age 100k < gate
    assert got["http://b.example/2"][0] == 1        # 199 < 200 → older
    assert got["http://a.example/1"][1] == NOW - 100


def test_per_host_k_bounds_candidates(spark):
    out = RC.stale_rank(_pages(spark), NOW, per_host_k=1).collect()
    assert {r["url"] for r in out} == {"http://a.example/1", "http://b.example/2"}


def test_recrawl_seeds_drive_budget_topk_oldest_first(spark):
    seeds = (
        RC.recrawl_seeds(_pages(spark), NOW)
        .withColumn("depth", F.lit(0))
        .withColumn("host", F.expr("parse_url(url, 'HOST')"))
    )
    sel = budget_topk(seeds, default_budget=1)
    got = {r["host"]: r["url"] for r in sel.collect()}
    assert got["a.example"] == "http://a.example/1"
    assert got["b.example"] == "http://b.example/2"


def test_host_derived_when_absent(spark):
    pages = _pages(spark).drop("host")
    out = RC.stale_rank(pages, NOW).collect()
    assert {r["host"] for r in out} == {"a.example", "b.example"}


def test_engine_recrawl_generation(spark, tmp_path):
    """Full flow: crawl everything → enqueue_recrawl un-retires the
    stalest page per host → the next waves re-fetch EXACTLY those, and
    at budget=1 each host's stalest url is fetched in the first recrawl
    wave (priority band = stale rank)."""
    import tempfile

    from judyst_web_crawler_spark.datagen import pages_df
    from judyst_web_crawler_spark.operators.frontier import (
        DOCS_TABLE,
        FrontierEngine,
    )
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog
    from pyspark.sql import Window

    pages = pages_df(spark, n_rows=24, n_hosts=3, seed=21).cache()
    # deterministic warc_ts: older for lexically-smaller urls
    w = Window.orderBy("url")
    aged = pages.withColumn(
        "warc_ts",
        F.timestamp_seconds(F.lit(1_000) + F.row_number().over(w) * 60),
    )
    seeds = (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(w))
        .select("url", F.lit(2).alias("page_seq"),
                F.col("_rn").cast("int").alias("intra_page_seq"))
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat)
    eng.bootstrap(seeds)
    eng.run(pages, budget=10, max_waves=10)
    assert cat.read(DOCS_TABLE).count() == 24

    # recrawl the 2 stalest per host (datagen hosts are skewed — derive
    # the expected count from the data, not from n_hosts)
    n_hosts = pages.select(F.expr("parse_url(url, 'HOST')")).distinct().count()
    n = eng.enqueue_recrawl(aged, now=1_000_000, per_host_k=2)
    assert n == 2 * n_hosts
    stats = eng.run(pages, budget=1, max_waves=10)
    docs = cat.read(DOCS_TABLE)
    assert docs.count() == 24 + n
    refetched = (
        docs.groupBy("url").count().filter("count = 2").select("url").collect()
    )
    assert len(refetched) == n
    # expected: per host, the 2 oldest warc_ts urls
    want = {
        r["url"]
        for r in aged.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy(F.expr("parse_url(url, 'HOST')"))
                .orderBy(F.col("warc_ts").asc(), F.col("url"))
            ),
        ).filter("rk <= 2").select("url").collect()
    }
    assert {r["url"] for r in refetched} == want
    # budget=1: first recrawl wave fetched each host's STALEST url
    first_wave = min(s["wave"] for s in stats)
    wave_urls = {r["url"] for r in docs.filter(F.col("wave") == first_wave).collect()}
    stalest = {
        r["url"]
        for r in aged.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy(F.expr("parse_url(url, 'HOST')"))
                .orderBy(F.col("warc_ts").asc(), F.col("url"))
            ),
        ).filter("rk = 1").select("url").collect()
    }
    assert stalest <= wave_urls


def test_multi_capture_url_collapses_to_latest(spark):
    """Two captures of one url = ONE candidate aged by the NEWEST
    capture; per_host_k slots go to distinct pages."""
    rows = [
        ("http://a.example/x", "a.example", 100),
        ("http://a.example/x", "a.example", 800_000),  # newest copy
        ("http://a.example/y", "a.example", 400),
    ]
    pages = spark.createDataFrame(
        rows, "url string, host string, epoch long"
    ).select("url", "host", F.timestamp_seconds("epoch").alias("warc_ts"))
    got = {r["url"]: (r["stale_rank"], r["age_s"])
           for r in RC.stale_rank(pages, NOW, per_host_k=2).collect()}
    assert len(got) == 2
    assert got["http://a.example/y"][0] == 1          # older LATEST copy
    assert got["http://a.example/x"] == (2, NOW - 800_000)


def test_recrawl_survives_engine_restart_repair(spark, tmp_path):
    """A FRESH engine over the catalog after enqueue_recrawl runs crash
    repair first — repair must not mistake forgotten urls (docs row, no
    done row, but from a COMMITTED wave) for crash orphans and re-retire
    them."""
    from judyst_web_crawler_spark.datagen import pages_df
    from judyst_web_crawler_spark.operators.frontier import (
        DOCS_TABLE,
        FrontierEngine,
    )
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog
    from pyspark.sql import Window

    pages = pages_df(spark, n_rows=12, n_hosts=2, seed=5).cache()
    w = Window.orderBy("url")
    aged = pages.withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(100) + F.row_number().over(w))
    )
    seeds = (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(w))
        .select("url", F.lit(2).alias("page_seq"),
                F.col("_rn").cast("int").alias("intra_page_seq"))
    )
    root = str(tmp_path / "cat")
    cat = SnapshotCatalog(spark, root)
    eng = FrontierEngine(spark, cat)
    eng.bootstrap(seeds)
    eng.run(pages, budget=6, max_waves=10)
    n = eng.enqueue_recrawl(aged, now=1_000_000, per_host_k=1)
    assert n >= 1

    # restart: new engine, repair runs before its first wave
    cat2 = SnapshotCatalog(spark, root)
    eng2 = FrontierEngine(spark, cat2)
    eng2.run(pages, budget=6, max_waves=10)
    docs = cat2.read(DOCS_TABLE)
    assert docs.count() == 12 + n       # recrawl happened, not cancelled
    assert docs.groupBy("url").count().filter("count = 2").count() == n
