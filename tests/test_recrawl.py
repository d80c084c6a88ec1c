"""Recrawl scheduling: stale-first ranking from warc_ts, age-gated and
bounded per host."""

from __future__ import annotations

from pyspark.sql import functions as F

from judyst_web_crawler_spark.operators import recrawl as RC

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


def test_host_derived_when_absent(spark):
    pages = _pages(spark).drop("host")
    out = RC.stale_rank(pages, NOW).collect()
    assert {r["host"] for r in out} == {"a.example", "b.example"}


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
