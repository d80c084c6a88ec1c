"""Fixtures shared by several test modules: seeded frontier engines, the
planted near-dup pages, and the ``cache.cut`` seam check."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark import cache
from judyst_web_crawler_spark.datagen import pages_df
from judyst_web_crawler_spark.operators.frontier import FrontierEngine
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


def seeds_of(pages):
    """One seed row per url, in url order, all on listing page 2."""
    return (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(Window.orderBy("url")))
        .select(
            "url",
            F.lit(2).alias("page_seq"),
            F.col("_rn").cast("int").alias("intra_page_seq"),
        )
    )


def seeded_engine(spark, tmp_path, **engine_kw):
    """(engine, catalog, cached pages): 24 pages over 3 hosts, bootstrapped."""
    pages = pages_df(spark, n_rows=24, n_hosts=3, seed=21).cache()
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat, **engine_kw)
    eng.bootstrap(seeds_of(pages))
    return eng, cat, pages


def planted_pages(spark):
    """24 pages in 12 near-dup pairs: the i-th largest url carries the
    html of the i-th smallest. Crawled at budget 7 per host, that is 3
    waves, and the pairs straddle them: waves 1 and 2 pair with docs of
    earlier waves, so their near-dup queries need those in the index."""
    pages = pages_df(spark, n_rows=24, n_hosts=3, seed=21)
    rows = pages.orderBy("url").collect()
    planted = spark.createDataFrame(
        [(rows[-(i + 1)]["url"], rows[i]["html"]) for i in range(len(rows) // 2)],
        ["url", "html2"],
    )
    other = [c for c in pages.columns if c not in ("url", "html")]
    return (
        pages.alias("p")
        .join(planted.alias("x"), "url", "left")
        .select("url", F.coalesce("x.html2", "p.html").alias("html"), *other)
        .cache()
    )


def index_engine(spark, root):
    """(engine, catalog) on ``root/cat`` with a MinHash band index at
    ``root/idx``; not bootstrapped."""
    cat = SnapshotCatalog(spark, str(root / "cat"))
    eng = FrontierEngine(spark, cat, fingerprint_k=64, minhash_index_path=str(root / "idx"))
    return eng, cat


def seam_parity(spark, monkeypatch, op) -> set:
    """``op()``'s pairs with the real ``cache.cut`` equal its pairs with
    the cut replaced by the identity (the full, uncut lineage), and the
    real call plus a collect leaves the Dataset cache empty."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()
    got = {(r["id_a"], r["id_b"]) for r in op().collect()}
    assert cm.isEmpty()
    with monkeypatch.context() as m:
        m.setattr(cache, "cut", lambda df: df)
        want = {(r["id_a"], r["id_b"]) for r in op().collect()}
    assert got == want
    return got
