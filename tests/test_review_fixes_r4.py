"""Pins for the round-4 review findings (code-review pass over the r4
diff): remote-path index gens, bloom-superset commit ordering, recrawl
fan-out in near_dups_of_wave, over-eager constructor validation, index
commit durability, and the URI-directory ingest guard."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark import cache


def _seeded_engine(spark, tmp_path, **engine_kw):
    from judyst_web_crawler_spark.datagen import pages_df
    from judyst_web_crawler_spark.operators.frontier import FrontierEngine
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    pages = pages_df(spark, n_rows=24, n_hosts=3, seed=21).cache()
    w = Window.orderBy("url")
    seeds = (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "url",
            F.lit(2).alias("page_seq"),
            F.col("_rn").cast("int").alias("intra_page_seq"),
        )
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat, **engine_kw)
    eng.bootstrap(seeds)
    return eng, cat, pages


# ------------------------------------------------- index gen: path scheme


def test_index_gen_handles_file_uri_paths(spark, tmp_path):
    """_next_index_gen must see an EXISTING index through any Hadoop
    path scheme — a driver-local os.path check would return gen 0 for
    'file://…' (and every hdfs:/s3a: path), stamping appends with a gen
    that ties live rows and making last-wins nondeterministic."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import (
        _next_index_gen,
        minhash_index_write,
    )

    docs = spark.createDataFrame(
        [(i, f"текст документа номер {i} " * 20) for i in range(8)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    minhash_index_write(docs, path, k=32, bands=8)
    assert _next_index_gen(spark, path) == 1
    # same index addressed as a file: URI — still gen 1, never a fresh 0
    assert _next_index_gen(spark, "file://" + path) == 1


# --------------------------------------- bloom ⊇ seen commit invariant


def test_bloom_commits_before_seen_rows(spark, tmp_path, monkeypatch):
    """The engine's Bloom must receive a wave's keys BEFORE the seen
    table does: bloom-false-negatives bypass the exact anti-join
    (filter_new_with_bloom routes bloom-negative rows straight to
    'definitely new'), so a failure between the two steps is only safe
    in the bloom-superset direction. Pin the order, then the invariant
    itself."""
    from judyst_web_crawler_spark.operators import frontier as frontier_mod
    from judyst_web_crawler_spark.operators.seen import bloom_might_contain_udf

    eng, cat, pages = _seeded_engine(spark, tmp_path)

    order: list[str] = []
    orig_add = frontier_mod.FrontierEngine._bloom_add
    orig_append = type(cat).append
    orig_overwrite = type(cat).overwrite

    def rec_add(self, df):
        order.append("bloom")
        return orig_add(self, df)

    def rec_append(self, table, df, **kw):
        if table == frontier_mod.SEEN_TABLE:
            order.append("seen")
        return orig_append(self, table, df, **kw)

    def rec_overwrite(self, table, df, **kw):
        if table == frontier_mod.SEEN_TABLE:
            order.append("seen")
        return orig_overwrite(self, table, df, **kw)

    monkeypatch.setattr(frontier_mod.FrontierEngine, "_bloom_add", rec_add)
    monkeypatch.setattr(type(cat), "append", rec_append)
    monkeypatch.setattr(type(cat), "overwrite", rec_overwrite)

    eng.run_wave(pages, budget=8)
    assert "bloom" in order and "seen" in order
    assert order.index("bloom") < order.index("seen"), order

    # invariant check: every committed seen key probes positive
    monkeypatch.undo()
    seen_df = cat.read(frontier_mod.SEEN_TABLE)
    assert seen_df.count() > 0
    mc = bloom_might_contain_udf(
        eng._bloom_broadcast(), frontier_mod.BLOOM_BITS, frontier_mod.BLOOM_K
    )
    assert seen_df.filter(~mc(F.col("key_hash"))).count() == 0
    pages.unpersist()


# ------------------------------- near_dups_of_wave under recrawled docs


def test_near_dups_of_wave_single_row_per_pair_after_recrawl(spark, tmp_path):
    """The docs table is append-only, so a recrawled url holds MULTIPLE
    rows per key_hash; the verify join must consume one (latest) text per
    id or every pair touching a recrawled id fans out into duplicates —
    some scored against the superseded generation's text."""
    from judyst_web_crawler_spark.operators.frontier import DOCS_TABLE

    eng, cat, pages = _seeded_engine(
        spark, tmp_path, fingerprint_k=64,
        minhash_index_path=str(tmp_path / "idx"),
    )
    eng.run(pages, budget=10, max_waves=10)

    aged = pages.withColumn(
        "warc_ts",
        F.timestamp_seconds(F.lit(1_000) + F.row_number().over(Window.orderBy("url")) * 60),
    )
    assert eng.enqueue_recrawl(aged, now=1_000_000, per_host_k=2) > 0
    stats = eng.run(pages, budget=10, max_waves=10)
    assert stats, "recrawl produced no waves"
    last_wave = stats[-1]["wave"]

    docs = cat.read(DOCS_TABLE)
    # precondition: the fan-out hazard actually exists in this fixture
    assert docs.count() > docs.select("key_hash").distinct().count()

    pairs = eng.near_dups_of_wave(last_wave, threshold=0.5)
    rows = pairs.select("id_a", "id_b").collect()
    keys = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(keys) == len(set(keys)), "recrawled ids fanned pairs out"
    pages.unpersist()


# --------------------------------------------- constructor validation


def test_fingerprint_k_free_without_index(spark, tmp_path):
    """bands only constrain fingerprint_k when an index will be banded:
    fingerprint-only engines accept any k (pre-r4 behavior)."""
    from judyst_web_crawler_spark.operators.frontier import FrontierEngine
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    FrontierEngine(spark, cat, fingerprint_k=100)  # 100 % 16 != 0 — fine
    with pytest.raises(ValueError, match="divide"):
        FrontierEngine(
            spark, cat, fingerprint_k=100, minhash_index_path=str(tmp_path / "i")
        )


# --------------------------------------------- index commit durability


def test_index_commit_crash_is_reconciled_on_restart(spark, tmp_path, monkeypatch):
    """Docs commit and index commit are separate writes; a crash between
    them must not silently lose the wave from the index forever. The
    wave-marker protocol (marker written AFTER sigs) lets a restarted
    engine detect and re-append the missing wave."""
    from judyst_web_crawler_spark.operators import dedup_fuzzy as df_mod
    from judyst_web_crawler_spark.operators import frontier as frontier_mod
    from judyst_web_crawler_spark.operators.frontier import FrontierEngine

    idx = str(tmp_path / "idx")
    eng, cat, pages = _seeded_engine(
        spark, tmp_path, fingerprint_k=64, minhash_index_path=idx
    )
    m1 = eng.run_wave(pages, budget=8)
    assert m1["scheduled"] > 0

    def boom(*a, **kw):
        raise RuntimeError("injected crash before index commit")

    monkeypatch.setattr(frontier_mod, "minhash_index_write_sigs", boom, raising=False)
    monkeypatch.setattr(df_mod, "minhash_index_write_sigs", boom)
    with pytest.raises(RuntimeError, match="injected"):
        eng.run_wave(pages, budget=8)
    monkeypatch.undo()

    # restart: reconcile must notice the docs-committed-but-unindexed
    # wave and re-append its signatures before the next query/wave
    eng2 = FrontierEngine(
        spark, cat, fingerprint_k=64, minhash_index_path=idx
    )
    docs = cat.read(frontier_mod.DOCS_TABLE)
    waves = sorted(r["wave"] for r in docs.select("wave").distinct().collect())
    crashed_wave = waves[-1]
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(idx + "/sigs")
        .selectExpr("key_hash as doc_id")
        .collect()
    }
    wave_ids = {
        r["key_hash"]
        for r in docs.filter(F.col("wave") == crashed_wave)
        .select("key_hash")
        .collect()
    }
    assert wave_ids <= idx_ids, "restart did not re-append the crashed wave's sigs"
    # and the incremental query over that wave works end-to-end
    pairs = eng2.near_dups_of_wave(crashed_wave, threshold=0.5)
    pairs.collect()  # no error; content checked by the recall tests
    pages.unpersist()


# ----------------------------------------------- ingest guard: URI dirs


def test_fill_data_source_rejects_uri_directory(spark, tmp_path):
    """A directory handed as a file: URI must hit the single-file guard —
    os.path.isdir can't see through URIs, Hadoop's FileSystem can."""
    from judyst_web_crawler_spark import api

    d = tmp_path / "headers_dir"
    d.mkdir()
    (d / "part1.jsonl").write_text('{"uid": "1-П/2020", "columns": {}}\n')
    crawler = api.init(spark, str(tmp_path / "db"))
    target = crawler.get_data_source("CatalogSource")
    with pytest.raises(ValueError, match="SINGLE"):
        api.fill_data_source_from_file(
            spark, "file://" + str(d), target, api.DataType.DOCUMENT_HEADER
        )


# --------------------------- corpus dedupe stays candidate-sized at scale


def test_near_dups_corpus_dedupe_is_candidate_pruned(spark, tmp_path, monkeypatch):
    """The last-wins dedupes inside near_dups_of_wave must operate on
    CANDIDATE-pruned rows, never on the raw corpus: in the optimized
    logical plan, every row_number Window (stored-sig last-wins AND
    corpus-text last-wins) must consume a LeftSemi-joined input — the
    100 TB guarantee that the full corpus text column never crosses an
    exchange. (Catalyst additionally pushes the semi join below the
    docs-table union and inserts WindowGroupLimit, a map-side top-1
    pre-prune — both visible in this plan shape.)"""
    eng, cat, pages = _seeded_engine(
        spark, tmp_path, fingerprint_k=64,
        minhash_index_path=str(tmp_path / "idx"),
    )
    stats = eng.run(pages, budget=10, max_waves=10)
    # cache.cut as the identity: inspect the full, uncut lineage
    monkeypatch.setattr(cache, "cut", lambda df: df)
    pairs = eng.near_dups_of_wave(stats[-1]["wave"], threshold=0.5)
    lines = (
        pairs._jdf.queryExecution().optimizedPlan().toString().splitlines()
    )
    windows = [
        i for i, l in enumerate(lines)
        if "Window [row_number()" in l
    ]
    assert windows, "expected last-wins Window nodes in the plan"
    for i in windows:
        lookahead = lines[i + 1 : i + 12]
        assert any("Join LeftSemi" in l for l in lookahead), (
            f"Window at plan line {i} consumes un-pruned input:\n"
            + "\n".join(x.strip()[:100] for x in lookahead)
        )
    pages.unpersist()


# ------------------- AQE exchange-reuse fan-out (single-instance verify)


def test_near_dups_recrawl_no_duplicate_pairs(spark, tmp_path):
    """End-to-end pin for the AQE exchange-reuse misplan: planted clone
    pages crawled, then re-crawled (two docs/index generations per id),
    then near_dups_of_wave with DEFAULT session configs (AQE + exchange
    reuse ON). Before jaccard_verify/estimate_filter attached pair sides
    via a SINGLE corpus join (attach_pair_sides), Spark 4.1.2 reused an
    exchange across the two window-over-semi-join corpus branches with
    mismatched partitioning — the last-wins row_number emitted one winner
    PER PARTITION and pairs touching re-crawled ids duplicated (observed:
    16 rows / 4 dups where 12 unique pairs exist)."""
    from judyst_web_crawler_spark.datagen import pages_df
    from judyst_web_crawler_spark.operators.frontier import FrontierEngine
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    pages = pages_df(spark, n_rows=60, n_hosts=4, seed=7).cache()
    rows = pages.orderBy("url").collect()
    n_clones = 6
    clone_urls = [rows[-(i + 1)]["url"] for i in range(n_clones)]
    planted = [(rows[-(i + 1)]["url"], rows[i]["html"]) for i in range(n_clones)]
    pl = spark.createDataFrame(planted, ["url", "html2"])
    other = [c for c in pages.columns if c not in ("url", "html")]
    pages = (
        pages.alias("p")
        .join(pl.alias("x"), "url", "left")
        .select("url", F.coalesce("x.html2", "p.html").alias("html"), *other)
        .cache()
    )
    w = Window.orderBy("url")
    seeds = (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "url",
            F.lit(2).alias("page_seq"),
            F.col("_rn").cast("int").alias("intra_page_seq"),
        )
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(
        spark, cat, fingerprint_k=64, minhash_index_path=str(tmp_path / "idx")
    )
    eng.bootstrap(seeds)
    eng.run(pages, budget=100, n_salts=2)
    recrawl = pages.filter(F.col("url").isin(clone_urls)).select("url", "warc_ts")
    eng.enqueue_recrawl(recrawl, now=4_000_000_000, per_host_k=n_clones)
    stats2 = eng.run(pages, budget=100, n_salts=2)
    last2 = stats2[-1]["wave"]
    got = eng.near_dups_of_wave(last2, threshold=0.5).collect()
    keys = [(r["id_a"], r["id_b"]) for r in got]
    assert len(keys) == len(set(keys)), f"duplicate pairs: {sorted(keys)}"
    # every clone↔original pair found exactly once, byte-identical text
    assert len(keys) == n_clones
    assert all(r["jaccard"] == 1.0 for r in got)
    pages.unpersist()
