"""Round-4 pins: hashed exact-substring shuffle, ADVICE.md r3 fixes,
widened lang-ID, engine↔index wiring."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from judyst_web_crawler_spark.plans import inspect as P

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _docs(spark):
    return spark.read.parquet(os.path.join(SF, "documents.parquet"))


# ------------------------------------------------ duplicate_ngram_spans


def test_ngram_span_shuffle_carries_hashes_not_strings(spark):
    """The 100 TB contract of the exact-substring primitive: the wide
    aggregation exchanges (h1, h2, id) — never the raw span string. With
    resolve_spans=False NO exchange in the whole plan carries `span`;
    with the default resolve, span strings cross only after the
    broadcast left_semi that drops singleton spans map-side."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import duplicate_ngram_spans

    docs = _docs(spark)
    hashed_only = duplicate_ngram_spans(docs, n=8, min_docs=2, resolve_spans=False)
    for cols in P.exchange_input_columns(hashed_only):
        assert "span" not in cols, cols
    # sanity: the helper saw the aggregation exchanges at all, and they
    # carry the hash key
    assert any("h1" in cols for cols in P.exchange_input_columns(hashed_only))

    # materialize=False: plan assertions need the lazy lineage (the
    # default eagerly checkpoints, truncating the plan to a scan).
    # Since r5 the resolve join is SIZE-GATED (VERDICT r4 "What's wrong"
    # #2): with no survivor count available (lazy path) it must carry NO
    # broadcast HINT — a boilerplate-heavy corpus would OOM the driver.
    # autoBroadcastJoinThreshold=-1 isolates the hint from the planner's
    # own small-estimate broadcasts (hints override the threshold, so a
    # hinted plan would still show BroadcastHashJoin here); AQE may
    # still upgrade at runtime off the TRUE survivor size, which is the
    # designed escape, not a forced driver collect
    full = duplicate_ngram_spans(docs, n=8, min_docs=2, materialize=False)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = P.simple_plan(full)
        assert "LeftSemi" in plan
        assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the wide (pre-filter) aggregation still exchanges hashes only: every
    # exchange that carries `span` must also be downstream of the semi
    # join, which in this plan means it carries ONLY (h1, h2, span)
    for cols in P.exchange_input_columns(full):
        if "span" in cols:
            assert cols <= {"h1", "h2", "span"}, cols


def test_ngram_span_hashed_path_matches_string_groupby(spark):
    """Value parity: the hash-keyed two-pass plan returns exactly what the
    naive string-keyed groupBy returns (the r3 oracled semantics)."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import duplicate_ngram_spans

    docs = _docs(spark).limit(120)
    got = {
        (r["span"], r["n_docs"], r["n_occurrences"], r["first_doc"])
        for r in duplicate_ngram_spans(docs, n=8, min_docs=2).collect()
    }
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit(""))
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(7))
    windows = F.when(
        F.size(toks) >= 8,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 8))),
    ).otherwise(F.array().cast("array<string>"))
    naive = (
        docs.select("doc_id", F.explode(windows).alias("span"))
        .groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    want = {
        (r["span"], r["n_docs"], r["n_occurrences"], r["first_doc"])
        for r in naive.collect()
    }
    assert got == want and len(got) > 0


def test_ngram_span_resolve_false_keeps_hash_keys(spark):
    """The scale path returns (h1, h2) keys with identical counts —
    downstream removal joins on hashes, strings never required."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import duplicate_ngram_spans

    docs = _docs(spark).limit(120)
    full = duplicate_ngram_spans(docs, n=8, min_docs=2).collect()
    hashed = duplicate_ngram_spans(docs, n=8, min_docs=2, resolve_spans=False)
    assert set(hashed.columns) == {"h1", "h2", "n_docs", "n_occurrences", "first_doc"}
    counts_full = sorted((r["n_docs"], r["n_occurrences"], r["first_doc"]) for r in full)
    counts_hash = sorted(
        (r["n_docs"], r["n_occurrences"], r["first_doc"]) for r in hashed.collect()
    )
    assert counts_full == counts_hash


# --------------------------------------------------- ADVICE.md r3 fixes


def test_etl_refresh_propagates_updated_source_text(spark, tmp_path):
    """refresh=True = reference semantics (tools.py:58-67): the source's
    text overwrites a stale database copy for EVERY header uid; the
    default refresh=False touches only missing ids (documented scale
    deviation)."""
    import json as _json  # noqa: F401  (parity with sibling test imports)

    from judyst_web_crawler_spark import api
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    db = api.CatalogSource("db", SnapshotCatalog(spark, str(tmp_path / "db")))
    src = api.CatalogSource("src", SnapshotCatalog(spark, str(tmp_path / "src")))
    src.put_data_df(
        spark.createDataFrame([("D1", "t1"), ("D2", "t2")], "doc_id string, title string"),
        api.DataType.DOCUMENT_HEADER,
    )
    src.put_data_df(
        spark.createDataFrame([("D1", "NEW1"), ("D2", "NEW2")], "doc_id string, text string"),
        api.DataType.DOCUMENT_TEXT,
    )
    db.put_data_df(
        spark.createDataFrame([("D1", "STALE1")], "doc_id string, text string"),
        api.DataType.DOCUMENT_TEXT,
    )
    # default: D1 keeps the stale copy, only D2 backfilled
    stats = api.update_database_from_source(db, src)
    texts = db.get_all_data_dict(api.DataType.DOCUMENT_TEXT)
    assert stats["texts_backfilled"] == 1
    assert texts == {"D1": "STALE1", "D2": "NEW2"}
    # refresh: both re-put, stale copy overwritten (reference behavior)
    stats = api.update_database_from_source(db, src, refresh=True)
    texts = db.get_all_data_dict(api.DataType.DOCUMENT_TEXT)
    assert stats["texts_backfilled"] == 2
    assert texts == {"D1": "NEW1", "D2": "NEW2"}


def test_fill_data_source_rejects_multi_file_inputs(spark, tmp_path):
    """Directories and globs break the single-file last-record-wins
    ordering — rejected loudly, not silently mis-ordered."""
    import pytest as _pytest

    from judyst_web_crawler_spark import api
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    d = tmp_path / "many"
    d.mkdir()
    (d / "a.jsonl").write_text('{"D1": {"title": "t"}}\n', encoding="utf-8")
    db = api.CatalogSource("db", SnapshotCatalog(spark, str(tmp_path / "cat")))
    with _pytest.raises(ValueError, match="SINGLE jsonlines file"):
        api.fill_data_source_from_file(spark, str(d), db)
    with _pytest.raises(ValueError, match="SINGLE jsonlines file"):
        api.fill_data_source_from_file(spark, str(d / "*.jsonl"), db)


def test_index_gen_unreadable_sigs_fails_loudly(spark, tmp_path):
    """A transient/corrupt read of an EXISTING index must raise — never
    alias gen 0 and let a later append tie with live gen-0 rows."""
    import pytest as _pytest

    from judyst_web_crawler_spark.operators.dedup_fuzzy import _next_index_gen

    path = tmp_path / "idx"
    # fresh path and empty placeholder dir → gen 0 (legitimately new)
    assert _next_index_gen(spark, str(path)) == 0
    (path / "sigs").mkdir(parents=True)
    assert _next_index_gen(spark, str(path)) == 0
    # files present but no readable parquet → loud failure
    (path / "sigs" / "part-0000.parquet").write_bytes(b"not a parquet file")
    with _pytest.raises(Exception):
        _next_index_gen(spark, str(path))


def test_cap_hot_buckets_no_cache_leak_without_handles(spark):
    """eager=True with no handles must not leave a persisted table behind
    (the exact accumulation cache.py exists to prevent)."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import _cap_hot_buckets

    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    rows = spark.createDataFrame(
        [(b, i) for b in range(3) for i in range(10)], "bucket int, doc_id long"
    )
    out = _cap_hot_buckets(rows, ["bucket"], "doc_id", cap=4, what="test", handles=None)
    assert out.count() == 12  # 3 buckets × cap 4
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after == before


def test_ann_candidates_arrow_preserves_input_types(spark):
    """The Arrow engine's output schema derives from the input schema:
    string ids + float32 embeddings round-trip (previously hardcoded to
    long/array<double>, diverging from the jvm engine's contract)."""
    from judyst_web_crawler_spark.operators.similarity import (
        ann_candidates,
        arith_hyperplanes,
    )

    planes = arith_hyperplanes(dim=4, n_tables=2, bits=4)
    df = spark.createDataFrame(
        [(f"v{i}", [float(i), 1.0, -1.0, 0.5]) for i in range(20)],
        "vec_id string, embedding array<float>",
    )
    out = ann_candidates(df, [1.0, 1.0, -1.0, 0.5], planes, engine="arrow")
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string",
        "array<float>",
    ]
    rows = out.collect()
    assert rows and all(r["vec_id"].startswith("v") for r in rows)


# ------------------------------------------------- widened trigram lang-ID


def test_lang_id_trigram_new_languages_beat_script_heuristic(spark):
    """it/pt/nl/pl are all 'en' (and uk is 'ru') to the script-ratio
    heuristic; the widened trigram profiles identify each."""
    from judyst_web_crawler_spark.functions import textstats as T

    docs = spark.createDataFrame(
        [
            ("it", "Il tribunale di Roma ha deciso che il ricorso della "
                   "parte viene esaminato secondo la procedura del codice "
                   "per la valutazione della situazione di questo caso."),
            ("pt", "O tribunal de justiça decidiu que a queixa da parte "
                   "será examinada de acordo com o procedimento "
                   "estabelecido para a aplicação do direito ao resultado "
                   "do caso em questão."),
            ("nl", "De rechtbank heeft een beslissing genomen over het "
                   "beroep van de partij volgens de geldende voorschriften "
                   "in deze zaak en het verzoek."),
            ("pl", "Sąd stwierdził że skarga obywatela nie podlega "
                   "rozpoznaniu w tym postępowaniu na podstawie "
                   "obowiązujących przepisów kodeksu karnego w tej sprawie."),
            ("uk", "Суд установив що скарга громадянина підлягає розгляду "
                   "в установленому порядку відповідно до вимог та "
                   "документів підприємства за наявності підстав у справі "
                   "після рішення суду щодо відповідальності."),
        ],
        "want string, text string",
    )
    rows = docs.select(
        "want",
        T.lang_id("text").alias("script"),
        T.lang_id_trigram("text").alias("tri"),
    ).collect()
    for r in rows:
        assert r["tri"] == r["want"], (r["want"], r["tri"])
        # the script heuristic cannot make these calls
        assert r["script"] == ("ru" if r["want"] == "uk" else "en")


# ------------------------------------ engine ↔ incremental MinHash index


def test_engine_incremental_minhash_index_across_waves(spark, tmp_path):
    """2-wave crawl with minhash_index_path: each wave's signatures are
    committed from the fused extract pass, and near_dups_of_wave finds
    wave-2-vs-wave-1 pairs WITHOUT re-fingerprinting anything — the plan
    carries exactly ONE Python stage (the candidate-keyed verify), zero
    signature passes."""
    from judyst_web_crawler_spark.operators.frontier import DOCS_TABLE, FrontierEngine
    from judyst_web_crawler_spark.plans.inspect import python_eval_ops
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    base = (
        "настоящим постановлением суд установил что жалоба гражданина "
        "подлежит рассмотрению в установленном законом порядке " * 3
    )
    other = (
        "совершенно иной документ про погоду природу и путешествия по "
        "горам рекам и озёрам с фотографиями маршрутов " * 3
    )
    texts = {
        1: base,
        2: other,
        3: "уникальный короткий текст о кошках и собаках в квартире",
        4: base + " дополнительное предложение суда.",  # wave-2 ≈ wave-1 doc1
        5: "другой уникальный текст про кулинарию и рецепты выпечки",
        6: other + " ещё абзац о снаряжении и палатках.",  # wave-2 ≈ wave-1 doc2
    }
    pages = spark.createDataFrame(
        [
            (
                f"http://h.ru/doc{i}.htm",
                f"<html><body><p>{t}</p></body></html>".encode("utf-8"),
            )
            for i, t in texts.items()
        ],
        "url string, html binary",
    )
    seeds = spark.createDataFrame(
        [(f"http://h.ru/doc{i}.htm", 1, i) for i in texts],
        "url string, page_seq int, intra_page_seq int",
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(
        spark, cat, fingerprint_k=64, minhash_index_path=str(tmp_path / "idx")
    )
    eng.bootstrap(seeds)
    m1 = eng.run_wave(pages, budget=3)
    m2 = eng.run_wave(pages, budget=3)
    assert m1["scheduled"] == 3 and m2["scheduled"] == 3

    docs = cat.read(DOCS_TABLE)
    url_of = {r["key_hash"]: r["url"] for r in docs.select("key_hash", "url").collect()}
    lazy = eng.near_dups_of_wave(m2["wave"], threshold=0.5, materialize=False)
    # one mapInPandas = the exact-Jaccard verify; a signature pass over
    # either the wave or the corpus would add more Python stages
    assert python_eval_ops(lazy) == 1
    pairs = {frozenset({url_of[r["id_a"]], url_of[r["id_b"]]}) for r in lazy.collect()}
    assert {"http://h.ru/doc1.htm", "http://h.ru/doc4.htm"} in pairs
    assert {"http://h.ru/doc2.htm", "http://h.ru/doc6.htm"} in pairs
    # every reported pair touches a wave-2 document (incremental contract)
    wave2 = {u for u in url_of.values() if u in
             {"http://h.ru/doc4.htm", "http://h.ru/doc5.htm", "http://h.ru/doc6.htm"}}
    assert all(p & wave2 for p in pairs)


def test_lsh_signatures_and_ivf_assign_preserve_input_types(spark):
    """lsh_signatures and ivf_assign follow the same derive-from-input
    type contract as ann_candidates: string ids (and a float32 vec
    carried by include_vec) round-trip instead of failing a hardcoded
    long/array<double> cast."""
    import numpy as np

    from judyst_web_crawler_spark.operators.similarity import (
        ivf_assign,
        lsh_signatures,
    )

    df = spark.createDataFrame(
        [(f"doc-{i}", [float(i % 3), 1.0, -1.0, 0.5]) for i in range(12)],
        "vec_id string, embedding array<float>",
    )

    sigs = lsh_signatures(df, dim=4, n_tables=2, bits=4)
    assert [f.dataType.simpleString() for f in sigs.schema.fields] == [
        "string",
        "int",
        "bigint",
    ]
    got = sigs.collect()
    assert len(got) == 24 and all(r["vec_id"].startswith("doc-") for r in got)

    cents = np.array([[0.0, 1.0, -1.0, 0.5], [2.0, 1.0, -1.0, 0.5]])
    assigned = ivf_assign(df, cents, include_vec=True)
    assert [f.dataType.simpleString() for f in assigned.schema.fields] == [
        "string",
        "int",
        "array<float>",
    ]
    rows = assigned.collect()
    assert len(rows) == 12 and {r["cell"] for r in rows} == {0, 1}


def test_minhash_near_duplicates_string_ids_end_to_end(spark):
    """The full minhash pipeline (signatures → band join → estimate
    prune → attach_pair_sides → jaccard_verify) runs on STRING doc ids:
    every Arrow kernel's output schema derives from its input
    (previously jaccard_verify hardcoded id_a/id_b as long and crashed
    the verify stage on the first action)."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import (
        minhash_near_duplicates,
        minhash_signatures,
        simhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        ("url-a", base),
        ("url-b", base + "tail"),  # near-dup of url-a
        ("url-c", "completely different text about spark catalyst plans " * 8),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    sigs = minhash_signatures(df)
    assert sigs.schema["doc_id"].dataType.simpleString() == "string"
    sims = simhash_signatures(df)
    assert sims.schema["doc_id"].dataType.simpleString() == "string"

    pairs = minhash_near_duplicates(df, threshold=0.5, materialize=False)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {("url-a", "url-b")}
