"""Streaming seed intake: seeds arriving as files drive crawl waves;
duplicate/re-delivered seeds across batches are exactly-once effects."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from judyst_web_crawler_spark.datagen import pages_df
from judyst_web_crawler_spark.operators.frontier import DOCS_TABLE, FrontierEngine
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog
from judyst_web_crawler_spark.streaming import seed_intake as SI


def _seed_rows(pages, lo, hi):
    return (
        pages.select("url")
        .filter((F.xxhash64("url") % 100 >= lo) & (F.xxhash64("url") % 100 < hi))
        .select(
            "url",
            (F.abs(F.xxhash64("url")) % 10).cast("int").alias("page_seq"),
            F.lit(0).alias("intra_page_seq"),
        )
    )


def test_streaming_crawl_two_batches_exactly_once(spark, tmp_path):
    pages = pages_df(spark, n_rows=120, n_hosts=4, seed=7).cache()
    seeds_dir = str(tmp_path / "seeds")
    os.makedirs(seeds_dir)

    # batch 1: roughly half the urls
    _seed_rows(pages, -100, 50).write.parquet(os.path.join(seeds_dir, "b1"))

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat)
    stats1 = SI.run_streaming_crawl(
        SI.stream_seeds(spark, seeds_dir + "/*"),
        eng, pages, checkpoint_dir=str(tmp_path / "ckpt"), budget=40,
    )
    n1 = cat.read(DOCS_TABLE).count()
    assert n1 == _seed_rows(pages, -100, 50).count()
    assert all(s["batch_id"] == 0 for s in stats1)

    # batch 2: remaining urls PLUS a full re-delivery of batch 1 (dups)
    _seed_rows(pages, -100, 100).write.parquet(os.path.join(seeds_dir, "b2"))
    SI.run_streaming_crawl(
        SI.stream_seeds(spark, seeds_dir + "/*"),
        eng, pages, checkpoint_dir=str(tmp_path / "ckpt"), budget=40,
    )
    docs = cat.read(DOCS_TABLE)
    # every url fetched exactly once despite re-delivered seeds
    assert docs.count() == 120
    assert docs.select("url").distinct().count() == 120
    # byte-identical extraction held through the streaming path
    assert (
        docs.alias("d").join(pages.alias("p"), "url")
        .filter(F.col("d.text") != F.col("p.text")).count() == 0
    )
    pages.unpersist()
