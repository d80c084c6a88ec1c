"""Multi-depth crawl: link discovery feeds deeper frontier levels; every
reachable page fetched exactly once; get-or-fetch memoization (D4); zip
payload extraction (S5); robots.txt parsing."""

from __future__ import annotations

import io
import zipfile

from pyspark.sql import functions as F

from judyst_web_crawler_spark.datagen import linked_pages_df
from judyst_web_crawler_spark.functions.extraction import (
    unzip_first_member,
    unzip_first_htm_udf,
)
from judyst_web_crawler_spark.operators.frontier import (
    DOCS_TABLE,
    FrontierEngine,
    get_or_fetch,
)
from judyst_web_crawler_spark.operators.politeness import parse_robots_txt
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


def test_multi_depth_crawl_reaches_linked_pages(spark, tmp_path):
    pages = linked_pages_df(spark, n_rows=60, n_hosts=3, fanout=2).cache()
    # seed only 5 pages; the rest are reachable only via hrefs
    seeds = (
        pages.select("url").orderBy("url").limit(5)
        .select("url", F.lit(2).alias("page_seq"), F.lit(0).alias("intra_page_seq"))
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat)
    eng.bootstrap(seeds)
    eng.crawl(pages, budget=100, max_depth=8)

    docs = cat.read(DOCS_TABLE)
    n_docs = docs.count()
    # exactly-once per url
    assert docs.select("url").distinct().count() == n_docs
    # link discovery grew the crawl well beyond the seeds
    assert n_docs > 5
    # depths beyond 0 were actually crawled
    assert docs.agg(F.max("depth")).first()[0] >= 1
    # byte-identical text at every depth
    mism = docs.alias("d").join(pages.alias("p"), "url").filter(
        F.col("d.text") != F.col("p.text")
    ).count()
    assert mism == 0
    pages.unpersist()


def test_get_or_fetch_memoization(spark):
    store = spark.createDataFrame(
        [("u1", "cached-1"), ("u2", "cached-2")], "url string, text string"
    )
    requests = spark.createDataFrame([("u1",), ("u3",), ("u4",)], "url string")

    fetch_calls = []

    def fetch(misses):
        fetch_calls.append(misses)
        return misses.select("url", F.concat(F.lit("fetched-"), F.col("url")).alias("text"))

    result, fetched = get_or_fetch(requests, store, fetch)
    got = {r["url"]: r["text"] for r in result.collect()}
    # hit served from cache, misses fetched; u2 not requested → not in result
    assert got == {"u1": "cached-1", "u3": "fetched-u3", "u4": "fetched-u4"}
    assert {r["url"] for r in fetched.collect()} == {"u3", "u4"}


def test_unzip_first_member(spark):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("readme.txt", "nope")
        zf.writestr("doc.htm", "<p>дело</p>")
        zf.writestr("later.htm", "<p>второй</p>")
    payload = buf.getvalue()
    assert unzip_first_member(payload) == "<p>дело</p>".encode("utf-8")
    assert unzip_first_member(b"not a zip") is None

    df = spark.createDataFrame([(payload,), (None,)], "payload binary")
    got = df.select(unzip_first_htm_udf("payload").alias("m")).collect()
    assert got[0]["m"] == "<p>дело</p>".encode("utf-8")
    assert got[1]["m"] is None


def test_budget_from_crawl_delay(spark):
    from judyst_web_crawler_spark.operators.politeness import budget_from_crawl_delay

    pol = spark.createDataFrame(
        [("h1", 4, 2.5), ("h2", 4, None), ("h3", None, 0.1)],
        "host string, budget int, crawl_delay_s double",
    )
    out = {r["host"]: r["budget"] for r in budget_from_crawl_delay(pol, wave_seconds=30).collect()}
    # 30s wave / 2.5s delay = 12 fetches; no delay → keep configured; 0.1s → 300
    assert out == {"h1": 12, "h2": 4, "h3": 300}


def test_parse_robots_txt(spark):
    body = """
# comment
User-agent: googlebot
Disallow: /only-google/

User-agent: *
Allow: /ru/
Disallow: /private/
Disallow: /tmp/
Crawl-delay: 2.5
"""
    df = spark.createDataFrame([("court001.example.ru", body)], "host string, robots_txt string")
    rules = {r["host"]: r for r in parse_robots_txt(df).collect()}
    r = rules["court001.example.ru"]
    assert list(r["robots_allow"]) == ["/ru/"]
    assert list(r["robots_deny"]) == ["/private/", "/tmp/"]
    assert r["crawl_delay_s"] == 2.5
