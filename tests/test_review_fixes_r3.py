"""Round-3 review findings, pinned:

- ETL facade: duplicate keys in a jsonlines file collapse last-wins
  before the merge (the reference's per-record put_data loop semantics);
  a headers-only source (no texts table) backfills via fetch_fn instead
  of crashing.
- Near-dup operators: the result over ``cache.cut`` intermediates agrees
  with the full uncut lineage, and nothing reaches the Dataset cache.
- Plan inspection: brackets/commas inside string literals don't derail
  the balanced-bracket scan.
"""

from __future__ import annotations

import json

from helpers import seam_parity
from pyspark.sql import functions as F

from judyst_web_crawler_spark import api as A
from judyst_web_crawler_spark.operators import dedup_fuzzy as D
from judyst_web_crawler_spark.operators import similarity as S
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

RU = (
    "Настоящим постановлением суд установил что жалоба гражданина "
    "подлежит рассмотрению в установленном законом порядке по делу "
)
OTHER = (
    "Совершенно иной документ про погоду природу и путешествия по горам "
    "рекам и озёрам с фотографиями и картами маршрутов для туристов "
)


def _lazy_docs(spark):
    rows = [
        (1, RU * 3),
        (2, RU * 3 + " дополнительное предложение суда."),
        (3, OTHER * 3),
        (4, OTHER * 3 + " ещё абзац о снаряжении."),
        (5, "уникальный короткий текст о кошках и собаках"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fill_data_source_last_record_wins_on_duplicate_keys(spark, tmp_path):
    lines = [
        json.dumps({"D9": {"title": "first"}}, ensure_ascii=False),
        json.dumps({"D8": {"title": "other"}}, ensure_ascii=False),
        json.dumps({"D9": {"title": "second"}}, ensure_ascii=False),
    ]
    f = tmp_path / "headers.jsonl"
    f.write_text("\n".join(lines), encoding="utf-8")
    db = A.CatalogSource("db", SnapshotCatalog(spark, str(tmp_path / "cat")))
    n = A.fill_data_source_from_file(spark, str(f), db)
    assert n == 2  # D8 + one D9, not three rows
    headers = db.get_all_data(A.DataType.DOCUMENT_HEADER)
    assert headers.count() == 2  # the table holds ONE row per key
    got = {r["doc_id"]: r["title"] for r in headers.collect()}
    # last record in the file wins, matching the reference's put_data loop
    assert got == {"D8": "other", "D9": "second"}


def test_update_database_from_source_headers_only_source(spark, tmp_path):
    """The canonical flow: headers arrive from a jsonl fill, the source
    has NO texts table at all, every text comes via fetch_fn — must not
    crash on the absent table (reference tools.py fetches per-uid)."""
    db = A.CatalogSource("db", SnapshotCatalog(spark, str(tmp_path / "db")))
    src = A.CatalogSource("src", SnapshotCatalog(spark, str(tmp_path / "src")))
    src.put_data_df(
        spark.createDataFrame(
            [(f"D{i}", f"T{i}") for i in range(4)], "doc_id string, title string"
        ),
        A.DataType.DOCUMENT_HEADER,
    )

    def fetch(missing):
        return missing.select(
            "doc_id", F.concat(F.lit("F-"), F.col("doc_id")).alias("text")
        )

    stats = A.update_database_from_source(db, src, fetch_fn=fetch)
    assert stats == {"headers": 4, "texts_backfilled": 4}
    texts = db.get_all_data_dict(A.DataType.DOCUMENT_TEXT)
    assert texts == {f"D{i}": f"F-D{i}" for i in range(4)}


def test_minhash_near_dup_lazy_matches_eager_and_leaks_nothing(spark, monkeypatch):
    docs = _lazy_docs(spark)
    got = seam_parity(
        spark, monkeypatch, lambda: D.minhash_near_duplicates(docs, threshold=0.5)
    )
    assert (1, 2) in got and (3, 4) in got


def test_minhash_near_dup_lazy_with_bucket_cap(spark, monkeypatch):
    docs = _lazy_docs(spark)
    got = seam_parity(
        spark,
        monkeypatch,
        lambda: D.minhash_near_duplicates(docs, threshold=0.5, bucket_cap=8),
    )
    assert (1, 2) in got and (3, 4) in got


def test_simhash_near_dup_lazy_matches_eager(spark, monkeypatch):
    docs = _lazy_docs(spark)
    got = seam_parity(
        spark, monkeypatch, lambda: D.simhash_near_duplicates(docs, max_hamming=10)
    )
    assert got


def test_embedding_near_dup_lazy_matches_eager(spark, monkeypatch):
    rows = [(i, [1.0 if j == i % 4 else 0.01 * i for j in range(8)]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = seam_parity(
        spark,
        monkeypatch,
        lambda: S.embedding_near_duplicates(emb, dim=8, threshold=0.9),
    )
    assert got  # non-vacuous: planted same-axis near-dups


def test_cut_signature_pass_runs_once(spark):
    """Each cut intermediate is computed once per call: a counting UDF
    on the input text sees every row twice in the MinHash pipeline (the
    signature pass + the verify's text lookup; an uncut signature table
    is recomputed for the band join's sides and the estimate filter)
    and once in the SimHash pipeline, with or without a bucket cap."""
    acc = spark.sparkContext.accumulator(0)

    def tag(t):
        acc.add(1)
        return t

    docs = _lazy_docs(spark)
    n = docs.count()
    counted = docs.select("doc_id", F.udf(tag, "string")("text").alias("text"))
    for op, evals in (
        (lambda: D.minhash_near_duplicates(counted, threshold=0.5), 2 * n),
        (lambda: D.minhash_near_duplicates(counted, threshold=0.5, bucket_cap=8), 2 * n),
        (lambda: D.simhash_near_duplicates(counted, max_hamming=10), n),
        (lambda: D.simhash_near_duplicates(counted, max_hamming=10, bucket_cap=8), n),
    ):
        acc.value = 0
        op().collect()
        assert acc.value == evals


def test_bracket_scan_ignores_quoted_brackets():
    from judyst_web_crawler_spark.plans.inspect import (
        _bracket_bodies,
        _split_predicates,
    )

    plan = (
        'Scan parquet\n'
        'PushedFilters: [EqualTo(text, "a[b,c"), In(cell, [0,1,2])]\n'
        'ReadSchema: struct<cell:int>'
    )
    bodies = _bracket_bodies(plan, "PushedFilters")
    assert bodies == ['EqualTo(text, "a[b,c"), In(cell, [0,1,2])']
    assert _split_predicates(bodies[0]) == [
        'EqualTo(text, "a[b,c")',
        "In(cell, [0,1,2])",
    ]
