"""Pins for the round-4 review findings: bloom-superset commit ordering,
recrawl fan-out in near_dups_of_wave, over-eager constructor validation,
the index commit's reads, and the URI-directory ingest guard."""

from __future__ import annotations

import pytest
from helpers import index_engine, planted_pages, seeded_engine, seeds_of
from pyspark.sql import Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark import api as A
from judyst_web_crawler_spark import cache
from judyst_web_crawler_spark.datagen import pages_df
from judyst_web_crawler_spark.operators.frontier import DOCS_TABLE, FrontierEngine
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


def test_bloom_commits_before_seen_rows(spark, tmp_path, monkeypatch):
    """The engine's Bloom must receive a wave's keys BEFORE the seen
    table does: bloom-false-negatives bypass the exact check
    (with_seen_flag flags a row seen only if the Bloom might hold its
    key), so a failure between the two steps is only safe
    in the bloom-superset direction. Pin the order, then the invariant
    itself."""
    from judyst_web_crawler_spark.operators import frontier as frontier_mod
    from judyst_web_crawler_spark.operators.seen import bloom_might_contain_udf

    eng, cat, pages = seeded_engine(spark, tmp_path)

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


def test_near_dups_of_wave_single_row_per_pair_after_recrawl(spark, tmp_path):
    """The docs table is append-only, so a recrawled url holds MULTIPLE
    rows per key_hash; the verify join must consume one (latest) text per
    id or every pair touching a recrawled id fans out into duplicates —
    some scored against the superseded generation's text."""
    eng, cat, pages = seeded_engine(
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


def test_fingerprint_k_free_without_index(spark, tmp_path):
    """bands only constrain fingerprint_k when an index will be banded:
    fingerprint-only engines accept any k."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    FrontierEngine(spark, cat, fingerprint_k=100)  # 100 % 16 != 0 — fine
    with pytest.raises(ValueError, match="divide"):
        FrontierEngine(
            spark, cat, fingerprint_k=100, minhash_index_path=str(tmp_path / "i")
        )


def test_index_commit_reads_no_index_table(spark, tmp_path, monkeypatch):
    """A wave's index commit is two appends and nothing else: it reads
    neither ``bands`` nor ``sigs`` (no per-wave scan of the growing
    index to derive a commit sequence number; the lag check reads the
    two log heads only)."""
    pages = planted_pages(spark)
    eng, _ = index_engine(spark, tmp_path)
    eng.bootstrap(seeds_of(pages))
    idx = str(tmp_path / "idx")
    eng.run_wave(pages, budget=7)
    reads: list[str] = []
    orig_read = SnapshotCatalog.read

    def recording_read(self, name, version=None):
        if self.root == idx:
            reads.append(name)
        return orig_read(self, name, version)

    monkeypatch.setattr(SnapshotCatalog, "read", recording_read)
    m = eng.run_wave(pages, budget=7)
    monkeypatch.undo()
    assert m["scheduled"] > 0
    assert reads == []
    gens = SnapshotCatalog(spark, idx).read("sigs").select("gen").distinct().collect()
    assert {r["gen"] for r in gens} == {m["wave"] - 1, m["wave"]}
    pages.unpersist()


def test_fill_data_source_rejects_uri_directory(spark, tmp_path):
    """A directory handed as a file: URI must hit the single-file guard —
    os.path.isdir can't see through URIs, Hadoop's FileSystem can."""
    d = tmp_path / "headers_dir"
    d.mkdir()
    (d / "part1.jsonl").write_text('{"uid": "1-П/2020", "columns": {}}\n')
    crawler = A.init(spark, str(tmp_path / "db"))
    target = crawler.get_data_source("CatalogSource")
    with pytest.raises(ValueError, match="SINGLE"):
        A.fill_data_source_from_file(
            spark, "file://" + str(d), target, A.DataType.DOCUMENT_HEADER
        )


def test_near_dups_corpus_dedupe_is_candidate_pruned(spark, tmp_path, monkeypatch):
    """The last-wins dedupes inside near_dups_of_wave must operate on
    CANDIDATE-pruned rows, never on the raw corpus: in the optimized
    logical plan, every row_number Window (stored-sig last-wins AND
    corpus-text last-wins) must consume a LeftSemi-joined input — the
    100 TB guarantee that the full corpus text column never crosses an
    exchange. (Catalyst additionally pushes the semi join below the
    docs-table union and inserts WindowGroupLimit, a map-side top-1
    pre-prune — both visible in this plan shape.)"""
    eng, cat, pages = seeded_engine(
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
    eng, _ = index_engine(spark, tmp_path)
    eng.bootstrap(seeds_of(pages))
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
