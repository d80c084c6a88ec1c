"""Recrawl scheduling: stale-first re-fetch priority from ``warc_ts``.

The reference crawls once and stops (ksrf.py:107 loops a static listing;
no revisit logic anywhere — grep-verified), and so does the frontier
engine: a url is fetched at most once per catalog. What a production
frontier over a Common-Crawl-style table needs before it can revisit is
a bounded, deterministic answer to "which pages are stalest", and the
input schema carries ``warc_ts`` (the capture timestamp) exactly for
this (SURVEY §2.8). :func:`stale_rank` gives that answer — per-host
oldest-first ranking (one window shuffle on host), optionally age-gated
and truncated to the top-k stalest per host, so the candidate set is
bounded before anything consumes it: at 10¹⁰ URLs you never materialize
"everything crawled more than a day ago" unranked. The driver's
``recrawl_priority`` query runs it.

Scale shape: window over (host); the rank is bounded by ``per_host_k``
so no host can flood a consumer with its backlog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stale_rank(
    pages: DataFrame,
    now,
    host_col: str = "host",
    ts_col: str = "warc_ts",
    url_col: str = "url",
    min_age_s: int = 0,
    per_host_k: int | None = None,
) -> DataFrame:
    """(url, host, age_s, stale_rank): oldest capture first within each
    host; deterministic (ties broken on url). ``now`` is an epoch-seconds
    literal or Column — passed in, never ``current_timestamp()``, so
    retried tasks rank identically.

    Multi-capture urls (the normal WARC shape: one row per capture)
    collapse to their LATEST capture before ranking — staleness of a
    page is the age of its newest copy, and without the collapse one
    url's capture history would occupy several ``per_host_k`` slots and
    rank the same url more than once."""
    from judyst_web_crawler_spark.functions import canonical as C

    now_c = F.lit(now) if not hasattr(now, "_jc") else now
    host = (
        F.col(host_col) if host_col in pages.columns else C.url_host(F.col(url_col))
    )
    # cast-to-long == floor(epoch(ts)) under the engine's UTC session TZ
    # (the DuckDB-parity idiom used by the sessionize oracle)
    latest = (
        pages.select(
            F.col(url_col).alias("url"),
            host.alias("host"),
            F.col(ts_col).cast("timestamp").cast("long").alias("_ts"),
        )
        .groupBy("url", "host")
        .agg(F.max("_ts").alias("_ts"))
    )
    ranked = (
        latest.select(
            "url", "host", (now_c - F.col("_ts")).cast("long").alias("age_s")
        )
        .filter(F.col("age_s") >= min_age_s)
        .withColumn(
            "stale_rank",
            F.row_number().over(
                Window.partitionBy("host").orderBy(F.col("age_s").desc(), F.col("url"))
            ),
        )
    )
    if per_host_k is not None:
        ranked = ranked.filter(F.col("stale_rank") <= per_host_k)
    return ranked

