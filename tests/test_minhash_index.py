"""Persisted incremental MinHash band-bucket index (VERDICT r2 #3):
wave-N documents join against committed buckets instead of re-running a
full-corpus self-join. Pinned here:

- pair PARITY with the batch path (index query ≡ batch pairs touching a
  new id),
- append-then-query across two waves (the index is a SnapshotCatalog
  with tables ``bands`` and ``sigs``),
- stored signatures ≡ freshly computed ones (no banding drift),
- the PLAN: one keyed scan of the corpus texts (the verify join), never
  the second full-corpus pass the batch path's signature stage does.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from judyst_web_crawler_spark import cache
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


def test_index_append_recrawled_id_last_wins_no_duplicate_pairs(spark, tmp_path):
    """A re-crawled id (the recrawl-generations path re-fetches stale
    urls) is committed AGAIN with a higher gen: the query must (a) emit
    each pair once — pre-gen, the duplicate sig rows fanned every pair
    touching the id into duplicate output rows through the estimate
    join — and (b) estimate with the LATEST signature."""
    docs = _corpus(spark).cache()
    idx = str(tmp_path / "idx")
    D.minhash_index_write(docs.filter(F.col("doc_id") <= 6), idx)
    # re-crawl id 3 with a minor edit (same OTHER family): old and new
    # signatures are both near the new text, the duplicate-fanout case
    new3 = OTHER * 3 + " обновлённая редакция после повторного обхода."
    recrawl = spark.createDataFrame([(3, new3)], "doc_id long, text string")
    D.minhash_index_write(recrawl, idx)
    sig_gens = {
        (r["doc_id"], r["gen"])
        for r in SnapshotCatalog(spark, idx).read(D.INDEX_SIGS).filter("doc_id = 3").collect()
    }
    assert sig_gens == {(3, 0), (3, 1)}  # both commits present, gen-stamped

    wave = spark.createDataFrame(
        [(12, OTHER * 3 + " новая волна о походах.")], "doc_id long, text string"
    )
    # corpus_texts = CURRENT text per id (re-crawled 3 carries the new
    # text, the crawl's own last-wins merge) plus the wave's docs
    current = (
        docs.filter(F.col("doc_id") != 3).unionByName(recrawl).unionByName(wave)
    )
    rows = D.minhash_query_index(wave, idx, current, threshold=0.5).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs)), pairs  # one row per pair
    # 12 ≈ 3 (via the re-crawled doc's CURRENT text) and ≈ 6 (OTHER family)
    assert {(3, 12), (6, 12)} <= set(pairs)


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
