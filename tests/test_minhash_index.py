"""Persisted incremental MinHash band-bucket index (VERDICT r2 #3):
wave-N documents join against committed buckets instead of re-running a
full-corpus self-join. Pinned here:

- pair PARITY with the batch path (index query ≡ batch pairs touching a
  new id),
- append-then-query across two waves (the index is a SnapshotCatalog
  with tables ``bands`` and ``sigs``),
- stored signatures ≡ freshly computed ones (no banding drift),
- the PLAN: one keyed scan of the corpus texts (the verify join), never
  the second full-corpus pass the batch path's signature stage does,
- an id committed twice with different text raises at query time,
- the engine side: a wave's index commit reads no index table, and
  ``near_dups_of_wave`` feeds its verify candidate-pruned inputs and
  emits each pair once.
"""

from __future__ import annotations

import pytest
from helpers import index_engine, planted_pages, seeded_engine, seeds_of
from pyspark.sql import functions as F

from judyst_web_crawler_spark import cache
from judyst_web_crawler_spark.datagen import pages_df
from judyst_web_crawler_spark.operators import dedup_fuzzy as D
from judyst_web_crawler_spark.plans.inspect import formatted_plan
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

BASE = (
    "Настоящим постановлением суд установил что жалоба гражданина "
    "подлежит рассмотрению в установленном законом порядке и направил "
    "материалы дела в соответствующую инстанцию для дальнейшего изучения "
)
OTHER = (
    "Совершенно иной документ про погоду природу и путешествия по горам "
    "рекам и озёрам с фотографиями и картами маршрутов для туристов "
)
THIRD = (
    "Третий корпусный сюжет касается археологии раскопок древних городищ "
    "керамики и бронзовых украшений найденных экспедицией этим летом "
)


def _corpus(spark):
    """ids 1-6 = base corpus; 7-9 = wave 1; 10-11 = wave 2. Planted:
    7≈1 (cross base), 8≈9 (within wave 1), 10≈7 (cross waves), 11 unique."""
    rows = [
        (1, BASE * 3),
        (2, BASE * 3),
        (3, OTHER * 3),
        (4, THIRD * 3),
        (5, "уникальный короткий текст о кошках и собаках в квартире"),
        (6, OTHER * 3 + " ещё абзац о снаряжении и палатках."),
        (7, BASE * 3 + " дополнительное предложение суда."),
        (8, THIRD * 3 + " с приложением карты раскопа."),
        (9, THIRD * 3 + " с приложением карты раскопа и фото."),
        (10, BASE * 3 + " дополнительное предложение суда и решение."),
        (11, "другой уникальный текст про кулинарию и рецепты выпечки"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_index_query_matches_batch_pairs(spark, tmp_path):
    docs = _corpus(spark).cache()
    base = docs.filter(F.col("doc_id") <= 6)
    wave = docs.filter(F.col("doc_id").between(7, 9))
    idx = str(tmp_path / "idx")
    D.minhash_index_write(base, idx)

    got = _pairs(D.minhash_query_index(wave, idx, docs, threshold=0.5))

    batch = D.minhash_near_duplicates(
        docs.filter(F.col("doc_id") <= 9), threshold=0.5
    )
    new_ids = {7, 8, 9}
    want = {
        (a, b) for a, b in _pairs(batch) if a in new_ids or b in new_ids
    }
    assert got == want
    assert (1, 7) in got and (8, 9) in got  # cross + within planted pairs
    docs.unpersist()


def test_index_append_then_query_next_wave(spark, tmp_path):
    docs = _corpus(spark).cache()
    idx = str(tmp_path / "idx")
    D.minhash_index_write(docs.filter(F.col("doc_id") <= 6), idx)
    D.minhash_index_write(docs.filter(F.col("doc_id").between(7, 9)), idx)

    wave2 = docs.filter(F.col("doc_id") >= 10)
    got = _pairs(D.minhash_query_index(wave2, idx, docs, threshold=0.5))
    # 10 ≈ 7 (committed in wave 1) and ≈ 1/2 (base corpus); 11 pairs with no one
    assert (7, 10) in got and (1, 10) in got
    assert all(a == 10 or b == 10 for a, b in got)
    docs.unpersist()


def test_stored_signatures_roundtrip(spark, tmp_path):
    docs = _corpus(spark)
    idx = str(tmp_path / "idx")
    D.minhash_index_write(docs, idx)
    stored = {
        r["doc_id"]: list(r["signature"])
        for r in SnapshotCatalog(spark, idx).read(D.INDEX_SIGS).collect()
    }
    fresh = {
        r["doc_id"]: list(r["signature"])
        for r in D.minhash_signatures(docs).collect()
    }
    assert stored == fresh
    # band table: bands × docs rows, bucket ids drift-free vs band_explode
    n_bands = SnapshotCatalog(spark, idx).read(D.INDEX_BANDS).count()
    assert n_bands == 16 * docs.count()


def test_index_query_plan_has_no_full_corpus_signature_pass(spark, tmp_path, monkeypatch):
    """The incremental property, plan-asserted: the corpus parquet is
    scanned ONLY by the candidate-keyed verify join (one scan), never fed
    through the Arrow signature stage the batch path runs over it."""
    docs = _corpus(spark)
    corpus_path = str(tmp_path / "corpus")
    docs.write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    idx = str(tmp_path / "idx")
    D.minhash_index_write(corpus, idx)

    wave = spark.createDataFrame(
        [(100, BASE * 3 + " новая волна.")], "doc_id long, text string"
    )
    # cache.cut as the identity: assert on the full, uncut lineage
    monkeypatch.setattr(cache, "cut", lambda df: df)
    plan = formatted_plan(D.minhash_query_index(wave, idx, corpus, threshold=0.5))
    # the committed index IS read...
    assert "idx/bands" in plan
    # ...and the corpus appears exactly ONCE: the verify attaches both
    # pair sides through a single candidate-keyed text lookup
    # (attach_pair_sides — unpivot + one join + regroup). A corpus-wide
    # Arrow signature pass (what the batch path runs) would require a
    # SECOND corpus scan to feed it — one scan proves the corpus is never
    # re-fingerprinted. (The wave's own signature subplan DOES reprint
    # several times in this uncut plan, but it reads only Scan
    # ExistingRDD, the in-memory wave, never the corpus parquet.)
    assert plan.count(corpus_path) == 1
    assert "Scan ExistingRDD" in plan
    # nothing persisted while merely building the plan
    assert "InMemoryRelation" not in plan


def test_index_recommitted_id_with_other_text_raises(spark, tmp_path):
    """Each id is committed to the index once. An id committed twice
    with different text has two stored signatures and two corpus texts;
    the query must raise the conflict error, never score the pair
    against an arbitrary copy."""
    docs = _corpus(spark).cache()
    idx = str(tmp_path / "idx")
    D.minhash_index_write(docs.filter(F.col("doc_id") <= 6), idx)
    again = spark.createDataFrame(
        [(3, OTHER * 3 + " обновлённая редакция после повторного обхода.")],
        "doc_id long, text string",
    )
    D.minhash_index_write(again, idx)
    stored = SnapshotCatalog(spark, idx).read(D.INDEX_SIGS)
    assert stored.columns == ["doc_id", "signature"]
    assert stored.filter("doc_id = 3").count() == 2

    wave = spark.createDataFrame(
        [(12, OTHER * 3 + " новая волна о походах.")], "doc_id long, text string"
    )
    corpus = docs.unionByName(again).unionByName(wave)
    with pytest.raises(Exception, match="attach_pair_sides: conflicting lookup rows"):
        D.minhash_query_index(wave, idx, corpus, threshold=0.5).collect()
    docs.unpersist()


def test_index_write_of_empty_slice_keeps_index_queryable(spark, tmp_path):
    """A wave that fetched nothing commits empty ``bands``/``sigs``
    snapshots — first, between and after real ones — and the index
    still reads back and queries."""
    docs = _corpus(spark)
    idx = str(tmp_path / "idx")
    nothing = docs.filter(F.lit(False))
    D.minhash_index_write(nothing, idx)
    D.minhash_index_write(docs.filter(F.col("doc_id") <= 3), idx)
    D.minhash_index_write(nothing, idx)
    D.minhash_index_write(docs.filter(F.col("doc_id").between(4, 6)), idx)
    wave = docs.filter(F.col("doc_id").between(7, 9))
    got = _pairs(D.minhash_query_index(wave, idx, docs, threshold=0.5))
    assert (1, 7) in got and (8, 9) in got


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
    assert SnapshotCatalog(spark, idx).last_wave() == m["wave"]
    pages.unpersist()


def _fed_leaves(node, semi=False):
    """(output column names, LeftSemi on the path) of every leaf of an
    optimized logical plan whose rows reach ``node``'s output: only the
    left side of a semi or anti join, every child elsewhere."""
    kids = [node.children().apply(i) for i in range(node.children().size())]
    if not kids:
        out = node.output()
        yield [out.apply(i).name() for i in range(out.size())], semi
        return
    if node.nodeName() == "Join":
        how = node.joinType().toString()
        semi = semi or how == "LeftSemi"
        if how in ("LeftSemi", "LeftAnti"):
            kids = kids[:1]
    for kid in kids:
        yield from _fed_leaves(kid, semi)


def test_near_dups_verify_inputs_are_candidate_pruned(spark, tmp_path, monkeypatch):
    """Both inputs of near_dups_of_wave's verify are CANDIDATE-pruned,
    never the raw corpus: every documents scan feeding the exact
    verify's texts, and the index ``sigs`` scan feeding the estimate
    prune, reach it through a ``Join LeftSemi`` on the candidate ids —
    the 100 TB guarantee that neither the full corpus text column nor
    the full index crosses an exchange."""
    eng, cat, pages = seeded_engine(
        spark, tmp_path, fingerprint_k=64,
        minhash_index_path=str(tmp_path / "idx"),
    )
    stats = eng.run(pages, budget=10, max_waves=10)
    # cache.cut as the identity: inspect the full, uncut lineage
    monkeypatch.setattr(cache, "cut", lambda df: df)
    inputs = {}
    verify, estimate = D.jaccard_verify, D.estimate_filter

    def spy_verify(pairs, df, *a, **kw):
        inputs["texts"] = df
        return verify(pairs, df, *a, **kw)

    def spy_estimate(pairs, sigs, *a, **kw):
        inputs["sigs"] = sigs
        return estimate(pairs, sigs, *a, **kw)

    monkeypatch.setattr(D, "jaccard_verify", spy_verify)
    monkeypatch.setattr(D, "estimate_filter", spy_estimate)
    eng.near_dups_of_wave(stats[-1]["wave"], threshold=0.5)
    leaves = {
        name: list(_fed_leaves(df._jdf.queryExecution().optimizedPlan()))
        for name, df in inputs.items()
    }
    texts = [semi for cols, semi in leaves["texts"] if "text" in cols]
    stored = [semi for cols, semi in leaves["sigs"] if cols == ["key_hash", "signature"]]
    assert texts and all(texts), leaves["texts"]
    assert stored and all(stored), leaves["sigs"]
    pages.unpersist()


def test_near_dups_of_wave_no_duplicate_pairs(spark, tmp_path):
    """End-to-end pin for the AQE exchange-reuse misplan: planted clone
    pages crawled once, then near_dups_of_wave with DEFAULT session
    configs (AQE + exchange reuse ON). Before jaccard_verify/
    estimate_filter attached pair sides via a SINGLE corpus join
    (attach_pair_sides), Spark 4.1.2 reused an exchange across the two
    corpus lookup branches with mismatched partitioning, and pairs
    duplicated (observed: 16 rows / 4 dups where 12 unique pairs
    exist)."""
    pages = pages_df(spark, n_rows=60, n_hosts=4, seed=7).cache()
    rows = pages.orderBy("url").collect()
    n_clones = 6
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
    stats = eng.run(pages, budget=100, n_salts=2)
    assert len(stats) == 1  # every clone and its original in one wave
    got = eng.near_dups_of_wave(stats[0]["wave"], threshold=0.5).collect()
    keys = [(r["id_a"], r["id_b"]) for r in got]
    assert len(keys) == len(set(keys)), f"duplicate pairs: {sorted(keys)}"
    # every clone↔original pair found exactly once, byte-identical text
    assert len(keys) == n_clones
    assert all(r["jaccard"] == 1.0 for r in got)
    pages.unpersist()
