"""Regression tests for the round-1 code-review findings: salted budget
starvation, URL canonicalization, fetch-miss retirement, mid-wave crash
resume, undecodable payloads, listing href cell, streaming replay."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark.functions import canonical as C
from judyst_web_crawler_spark.functions.extraction import (
    decode_payload,
    parse_listing_rows,
)
from judyst_web_crawler_spark.operators.politeness import budget_topk
from judyst_web_crawler_spark.datagen import pages_df
from judyst_web_crawler_spark.operators.frontier import (
    DOCS_TABLE,
    DONE_TABLE,
    FrontierEngine,
)
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


def test_salted_budget_smaller_than_salts_never_starves(spark):
    """budget < n_salts: every URL must still be reachable across waves
    (the old split gave high salts share 0 forever)."""
    rows = [
        (f"http://h0.ru/d{i}.pdf", "h0.ru", 0, 2, i) for i in range(12)
    ]
    schema = "url string, host string, depth int, page_seq int, intra_page_seq int"
    remaining = list(rows)
    emitted = set()
    for _ in range(30):
        if not remaining:
            break
        wave = budget_topk(
            spark.createDataFrame(remaining, schema), default_budget=2, n_salts=4
        ).collect()
        assert 1 <= len(wave) <= 2  # budget respected, progress guaranteed
        for r in wave:
            emitted.add(r["url"])
        remaining = [r for r in remaining if r[0] not in {w["url"] for w in wave}]
    assert emitted == {r[0] for r in rows}


def test_canonical_url_semantics(spark):
    df = spark.createDataFrame(
        [
            ("HTTP://Court.Example.RU/Ru/Doc/A.pdf",),
            ("http://court.example.ru/Ru/Doc/A.pdf",),
            ("http://court.example.ru/Ru/Doc/a.pdf",),
            ("http://court.example.ru/x.pdf#page=2",),
            ("http://court.example.ru/x.pdf",),
        ],
        "url string",
    )
    got = [r["c"] for r in df.select(C.canonical_url("url").alias("c")).collect()]
    # host/scheme case-insensitive → rows 0 and 1 collapse
    assert got[0] == got[1] == "http://court.example.ru/Ru/Doc/A.pdf"
    # path case PRESERVED → row 2 stays distinct
    assert got[2] == "http://court.example.ru/Ru/Doc/a.pdf" != got[1]
    # fragment stripped → rows 3 and 4 collapse
    assert got[3] == got[4] == "http://court.example.ru/x.pdf"


def test_fetch_miss_retired_not_documented(spark, tmp_path):
    pages = pages_df(spark, n_rows=10, n_hosts=1, seed=3).cache()
    seeds = (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(Window.orderBy("url")))
        .select("url", F.lit(2).alias("page_seq"), F.col("_rn").cast("int").alias("intra_page_seq"))
    )
    ghost = spark.createDataFrame(
        [("http://court000.example.ru/ru/missing.pdf", 2, 99)],
        "url string, page_seq int, intra_page_seq int",
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat)
    eng.bootstrap(seeds.unionByName(ghost))
    stats = eng.run(pages, budget=50, max_waves=10)
    docs = cat.read(DOCS_TABLE)
    assert docs.count() == 10  # ghost url NOT in documents
    assert docs.filter(F.col("text").isNull()).count() == 0
    done = cat.read(DONE_TABLE)
    miss = done.filter(F.col("retire_status") == "fetch_miss").collect()
    assert [r["url"] for r in miss] == ["http://court000.example.ru/ru/missing.pdf"]
    assert sum(s.get("fetch_misses", 0) for s in stats) == 1
    pages.unpersist()


class _CrashingCatalog(SnapshotCatalog):
    """Raises on the first append to a chosen table — simulates a crash
    between a wave's documents write and its done/seen writes, inside
    the wave's transaction."""

    def __init__(self, spark, root, crash_table):
        super().__init__(spark, root)
        self.crash_table = crash_table
        self.armed = True

    def append(self, name, df, partition_by=None):
        if self.armed and name == self.crash_table:
            self.armed = False
            raise RuntimeError("simulated crash")
        return super().append(name, df, partition_by)

    def overwrite(self, name, df, partition_by=None):
        if self.armed and name == self.crash_table:
            self.armed = False
            raise RuntimeError("simulated crash")
        return super().overwrite(name, df, partition_by)


def test_crash_after_docs_commit_repairs_on_resume(spark, tmp_path):
    """A crash after the documents write leaves the wave unpublished; a
    fresh engine fetches every url exactly once."""
    pages = pages_df(spark, n_rows=20, n_hosts=2, seed=9).cache()
    seeds = (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(Window.orderBy("url")))
        .select("url", F.lit(2).alias("page_seq"), F.col("_rn").cast("int").alias("intra_page_seq"))
    )
    root = str(tmp_path / "cat")
    crash_cat = _CrashingCatalog(spark, root, crash_table="seen")
    eng = FrontierEngine(spark, crash_cat)
    eng.bootstrap(seeds)
    try:
        eng.run_wave(pages, budget=8)
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass  # docs staged, seen/done not: the wave published nothing

    # resume with a fresh engine over the same state
    cat2 = SnapshotCatalog(spark, root)
    eng2 = FrontierEngine(spark, cat2)
    eng2.run(pages, budget=8, max_waves=20)
    docs = cat2.read(DOCS_TABLE)
    # every url fetched EXACTLY once despite the crash
    assert docs.count() == 20
    assert docs.select("url").distinct().count() == 20
    pages.unpersist()


def test_decode_payload_undecodable_bytes():
    # invalid utf-8 AND invalid cp1251 (0x98 undefined) → degrades, not raises
    junk = b"\xff\xfe\x98\x01pdf-like"
    out = decode_payload(junk)
    assert isinstance(out, str) and len(out) > 0


def test_listing_href_from_key_cell_only():
    markup = """
    <table><tr>
      <td>01.01.2018</td>
      <td><a href="/info-page">Определение</a></td>
      <td>5-О/2018<a href="/doc5.pdf">pdf</a></td>
    </tr></table>
    """
    rows = parse_listing_rows(markup)
    assert rows[0]["url"] == "/doc5.pdf"  # td2's anchor, not the title link
    assert rows[0]["canonical_key"] == "5-О/2018"


def test_inprocess_retry_after_midwave_failure(spark, tmp_path):
    """A failed wave publishes nothing: retrying run_wave on the SAME
    engine reads the wave id from the catalog log head again and
    re-fetches the wave — no duplicate urls, no wave id with two
    generations of rows."""
    pages = pages_df(spark, n_rows=20, n_hosts=2, seed=11).cache()
    seeds = (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(Window.orderBy("url")))
        .select("url", F.lit(2).alias("page_seq"), F.col("_rn").cast("int").alias("intra_page_seq"))
    )
    root = str(tmp_path / "cat")
    crash_cat = _CrashingCatalog(spark, root, crash_table="seen")
    eng = FrontierEngine(spark, crash_cat)
    eng.bootstrap(seeds)
    try:
        eng.run_wave(pages, budget=8)
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass
    # retry on the SAME engine (no restart): _CrashingCatalog disarms
    # after one crash, so this wave completes
    eng.run(pages, budget=8, max_waves=20)
    docs = crash_cat.read(DOCS_TABLE)
    assert docs.count() == 20
    assert docs.select("url").distinct().count() == 20
    # no wave id carries two generations of rows for one url
    assert docs.groupBy("url").count().filter("count > 1").count() == 0


def test_session_fn_sorts_across_chunks():
    """Chunked Arrow delivery in arbitrary order must not regress
    last_ts: all chunks are pooled before the single sort."""
    import pandas as pd

    from judyst_web_crawler_spark.streaming.rollup import _session_fn

    class _State:
        exists = False

        def update(self, v):
            self.value = v

        @property
        def get(self):
            raise AssertionError("not used when exists is False")

    st = _State()
    late = pd.DataFrame({"ts": pd.to_datetime([5_000_000], unit="s")})
    early = pd.DataFrame({"ts": pd.to_datetime([1_000_000], unit="s")})
    out = list(_session_fn(("u1",), iter([late, early]), st))
    # 1,000,000 then 5,000,000: gap >> 1800s → TWO sessions; a per-chunk
    # sort (5e6 first, then 1e6) would count one
    assert st.value[1] == 2 and st.value[2] == 2
    assert out[0]["n_sessions"].iloc[0] == 2


def test_jvm_signature_guards(spark):
    import pytest

    from judyst_web_crawler_spark.operators import dedup_fuzzy as D

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="mismatch"):
        D.minhash_signatures_jvm(docs, [3, 5], [7])
    with pytest.raises(ValueError, match="1..31"):
        D.simhash_jvm(docs, bits=64)


def test_star_ignores_foreign_endpoints_like_label_path(spark):
    """Pairs referencing ids absent from the corpus must not merge
    components in EITHER algorithm (fallback parity)."""
    from judyst_web_crawler_spark.operators import graph as G

    # 1-99 and 2-99: 99 is NOT in the corpus; label prop never
    # propagates through it, so 1 and 2 stay separate clusters
    pairs = spark.createDataFrame([(1, 99), (2, 99), (3, 4)], "id_a long, id_b long")
    corpus = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    lab = {r["node"]: r["cluster_id"] for r in G.connected_components(
        pairs, nodes=corpus, node_col="node").collect()}
    star = {r["node"]: r["cluster_id"] for r in G.connected_components_star(
        pairs, nodes=corpus, node_col="node").collect()}
    assert lab == star
    assert star[1] == 1 and star[2] == 2 and star[3] == 3 and star[4] == 3
    assert 99 not in star
