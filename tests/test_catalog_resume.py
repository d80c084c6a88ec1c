"""Snapshot catalog semantics + frontier resume (SURVEY §5.4):
interrupt after wave w, restart from the committed snapshots → final
seen-set/output equals the uninterrupted run (law_codes.py:752-776).
Two writers on one root: the first publish wins, the second gets
``CommitConflict`` and loses nothing of the winner's."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark.datagen import pages_df, politeness_df
from judyst_web_crawler_spark.functions import canonical as C
from judyst_web_crawler_spark.operators.frontier import (
    DOCS_TABLE,
    SEEN_TABLE,
    FrontierEngine,
)
from judyst_web_crawler_spark.sources.catalog import CommitConflict, SnapshotCatalog


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


def _rows(cat, name):
    return sorted(tuple(r) for r in cat.read(name).collect())


def _data_dirs(root, name):
    d = os.path.join(root, name, "data")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def test_two_writers_on_one_head_first_publish_wins(spark, tmp_path):
    """Two catalogs on one root open a transaction on the same head and
    stage appends; the inner block publishes first and wins, the outer
    one raises ``CommitConflict``. The winner's rows and dirs are intact,
    and the loser's staged dirs are gone."""
    root = str(tmp_path / "cat")
    schema = "k int, v string"
    a, b = SnapshotCatalog(spark, root), SnapshotCatalog(spark, root)
    a.append("t", spark.createDataFrame([(0, "base")], schema))
    before = _data_dirs(root, "t")
    with pytest.raises(CommitConflict):
        with a.transaction(wave=7):
            assert a.append("t", spark.createDataFrame([(1, "a")], schema)) == 2
            a.append("u", spark.createDataFrame([(1, "a")], schema))
            with b.transaction(wave=5):
                assert b.append("t", spark.createDataFrame([(2, "b")], schema)) == 2
            assert len(_data_dirs(root, "t")) == len(before) + 2  # both staged
    fresh = SnapshotCatalog(spark, root)
    assert _rows(fresh, "t") == [(0, "base"), (2, "b")]
    assert fresh.current_version("t") == 2 and fresh.last_wave() == 5
    assert not fresh.exists("u") and _data_dirs(root, "u") == []
    assert len(_data_dirs(root, "t")) == len(before) + 1
    # the loser publishes nothing after the conflict; its next commit
    # builds on the winner's entry
    a.append("t", spark.createDataFrame([(3, "a")], schema))
    assert _rows(fresh, "t") == [(0, "base"), (2, "b"), (3, "a")]
    assert fresh.read("t", version=2).count() == 2  # time travel


def test_append_interleaved_inside_another_write_conflicts(spark, tmp_path):
    """Writer B appends while writer A is between its data write and its
    publish (the lost-update interleaving): A raises ``CommitConflict``
    instead of returning a version, and B's row is never lost."""
    root = str(tmp_path / "cat")
    schema = "k int, v string"
    a, b = SnapshotCatalog(spark, root), SnapshotCatalog(spark, root)
    a.append("t", spark.createDataFrame([(0, "base")], schema))

    class _Writer:
        def __init__(self, writer):
            self.writer = writer

        def parquet(self, path):
            self.writer.parquet(path)
            b.append("t", spark.createDataFrame([(2, "b")], schema))  # publishes first

    class _Interleaved:
        def __init__(self, df):
            self.df = df

        @property
        def write(self):
            return _Writer(self.df.write)

        def __getattr__(self, name):
            return getattr(self.df, name)

    with pytest.raises(CommitConflict):
        a.append("t", _Interleaved(spark.createDataFrame([(1, "a")], schema)))
    assert _rows(SnapshotCatalog(spark, root), "t") == [(0, "base"), (2, "b")]
    assert len(_data_dirs(root, "t")) == 2


def test_failed_transaction_publishes_nothing(spark, tmp_path):
    """An exception inside a transaction deletes what it staged and
    leaves the head where it was; a block that writes nothing publishes
    nothing."""
    root = str(tmp_path / "cat")
    cat = SnapshotCatalog(spark, root)
    cat.append("t", spark.createDataFrame([(0, "base")], "k int, v string"))
    with pytest.raises(RuntimeError, match="boom"):
        with cat.transaction(wave=0):
            cat.append("t", spark.createDataFrame([(1, "x")], "k int, v string"))
            raise RuntimeError("boom")
    with cat.transaction(wave=1):
        assert cat.read("t").count() == 1
    assert sorted(os.listdir(os.path.join(root, "_log"))) == ["v1.json"]
    assert len(_data_dirs(root, "t")) == 1 and cat.last_wave() is None


def test_concurrent_publishes_lose_no_entry(tmp_path):
    """Threads, each with its own catalog on one root, publish table
    states in a loop and retry on ``CommitConflict``: every publish
    lands as its own log entry, and the last entry holds every thread's
    last state (a publish that replaced an entry would drop one)."""
    root, n_threads, per = str(tmp_path / "cat"), 8, 25

    def publish(i):
        cat, done = SnapshotCatalog(None, root), 0
        while done < per:
            try:
                with cat.transaction(wave=i):
                    cat._txn.tables[f"t{i}"] = {"version": done + 1, "dirs": [], "schema": None}
            except CommitConflict:
                continue
            done += 1

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=publish, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert sorted(os.listdir(os.path.join(root, "_log"))) == sorted(f"v{v}.json" for v in range(1, n_threads * per + 1))
    head = SnapshotCatalog(None, root)
    assert {f"t{i}": head.current_version(f"t{i}") for i in range(n_threads)} == {f"t{i}": per for i in range(n_threads)}


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
