"""Snapshot catalog semantics + frontier resume (SURVEY §5.4):
interrupt after wave w, restart from the committed snapshots → final
seen-set/output equals the uninterrupted run (law_codes.py:752-776)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark.datagen import pages_df, politeness_df
from judyst_web_crawler_spark.functions import canonical as C
from judyst_web_crawler_spark.operators.frontier import (
    DOCS_TABLE,
    SEEN_TABLE,
    FrontierEngine,
)
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


def test_append_merge_timetravel(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    df2 = spark.createDataFrame([(3, "c")], "k int, v string")
    v1 = cat.append("t", df1)
    v2 = cat.append("t", df2)
    assert cat.read("t").count() == 3
    assert cat.read("t", version=v1).count() == 2  # time travel
    # merge: update k=2, insert k=4
    up = spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string")
    cat.merge_upsert("t", up, ["k"])
    got = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    assert cat.read("t", version=v2).count() == 3  # old snapshot intact


def test_read_last_append_is_delta_only(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    v1 = cat.append("t", spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v2 = cat.append("t", spark.createDataFrame([(3, "c")], "k int, v string"))
    assert {r["k"] for r in cat.read_last_append("t", v1).collect()} == {1, 2}
    assert {r["k"] for r in cat.read_last_append("t", v2).collect()} == {3}
    assert cat.read("t").count() == 3  # full read unchanged


def _seeds_from_pages(pages, per_page=10):
    w = F.row_number().over(Window.orderBy("url"))
    return (
        pages.select("url")
        .withColumn("_rn", w - 1)
        .select(
            "url",
            (F.floor(F.col("_rn") / per_page) + 2).cast("int").alias("page_seq"),
            F.pmod(F.col("_rn"), per_page).cast("int").alias("intra_page_seq"),
        )
    )


def _final_state(cat):
    docs = {
        (r["url"], r["text"]) for r in cat.read(DOCS_TABLE).select("url", "text").collect()
    }
    seen = {r["key_hash"] for r in cat.read(SEEN_TABLE).collect()}
    return docs, seen


def test_resume_with_bloom_rebuild(spark, tmp_path):
    """Restart: the engine rebuilds its bloom from the committed seen
    table; the prefilter must not change the final seen-set/output vs an
    uninterrupted run."""
    pages = pages_df(spark, n_rows=40, n_hosts=2, seed=11).cache()
    seeds = _seeds_from_pages(pages)

    cat_a = SnapshotCatalog(spark, str(tmp_path / "ba"))
    eng_a = FrontierEngine(spark, cat_a)
    eng_a.bootstrap(seeds)
    eng_a.run(pages, budget=6, max_waves=50)

    cat_b = SnapshotCatalog(spark, str(tmp_path / "bb"))
    eng_b1 = FrontierEngine(spark, cat_b)
    eng_b1.bootstrap(seeds)
    eng_b1.run_wave(pages, budget=6)
    del eng_b1
    cat_b2 = SnapshotCatalog(spark, str(tmp_path / "bb"))
    eng_b2 = FrontierEngine(spark, cat_b2)  # bloom rebuilt from seen
    eng_b2.run(pages, budget=6, max_waves=50)

    assert _final_state(cat_a) == _final_state(cat_b2)
    docs, _ = _final_state(cat_a)
    assert len(docs) == 40
    pages.unpersist()


def test_resume_equals_uninterrupted(spark, tmp_path):
    pages = pages_df(spark, n_rows=60, n_hosts=3, seed=3).cache()
    hosts = [r["h"] for r in pages.select(C.url_host("url").alias("h")).distinct().collect()]
    pol = politeness_df(spark, hosts, budget=8)
    seeds = _seeds_from_pages(pages)

    # uninterrupted run
    cat_a = SnapshotCatalog(spark, str(tmp_path / "a"))
    eng_a = FrontierEngine(spark, cat_a, politeness=pol)
    eng_a.bootstrap(seeds)
    eng_a.run(pages, budget=8, max_waves=50)

    # interrupted: run 2 waves, then build a NEW engine over the same
    # catalog dir (fresh process stand-in) and finish
    cat_b = SnapshotCatalog(spark, str(tmp_path / "b"))
    eng_b1 = FrontierEngine(spark, cat_b, politeness=pol)
    eng_b1.bootstrap(seeds)
    eng_b1.run_wave(pages, budget=8)
    eng_b1.run_wave(pages, budget=8)
    del eng_b1
    cat_b2 = SnapshotCatalog(spark, str(tmp_path / "b"))
    eng_b2 = FrontierEngine(spark, cat_b2, politeness=pol)
    eng_b2.run(pages, budget=8, max_waves=50)

    assert _final_state(cat_a) == _final_state(cat_b2)
    docs, _ = _final_state(cat_a)
    assert len(docs) == 60  # every url fetched exactly once
    pages.unpersist()
