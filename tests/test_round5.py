"""Round-5 pins: exact-substring span REMOVAL (Lee et al. 2022 §3, the
consumer of duplicate_ngram_spans' hash keys), Gopher repetition rules,
the size-gated resolve join, and the reserved-name and digest checks of
attach_pair_sides."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F
from test_plans import SF

from judyst_web_crawler_spark import cache
from judyst_web_crawler_spark.operators import dedup_fuzzy as D
from judyst_web_crawler_spark.plans import inspect as P


def _sf_docs(spark):
    return spark.read.parquet(os.path.join(SF, "documents.parquet"))


def test_remove_spans_excises_shared_regions(spark):
    """A shared maximal region >= n tokens is removed IN FULL from every
    document containing it (union of its covering windows); untouched
    docs pass through whitespace-normalized; NULL/short docs survive."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import remove_duplicate_spans

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta UNIQUE1 one two"),
        (2, "prefix2 alpha beta gamma delta epsilon zeta eta theta tail2"),
        (3, "totally different words with no shared window at all here"),
        (4, None),
        (5, "short  doc\twith\nodd   whitespace"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=8, min_docs=2).collect()}
    assert got[1]["text"] == "UNIQUE1 one two"
    assert (got[1]["n_tokens"], got[1]["n_tokens_removed"]) == (11, 8)
    assert got[2]["text"] == "prefix2 tail2"
    assert got[2]["n_tokens_removed"] == 8
    assert got[3]["n_tokens_removed"] == 0
    assert got[4]["text"] == "" and got[4]["n_tokens"] == 0
    # whitespace-normalized output is the uniform contract, even for
    # untouched docs
    assert got[5]["text"] == "short doc with odd whitespace"


def test_remove_spans_fully_excised_doc_yields_empty_text(spark):
    from judyst_web_crawler_spark.operators.dedup_fuzzy import remove_duplicate_spans

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    df = spark.createDataFrame(
        [(1, shared), (2, shared), (3, "filler " + shared + " more")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=8, min_docs=2).collect()}
    assert got[1]["text"] == "" and got[1]["n_tokens_removed"] == 8
    assert got[2]["text"] == "" and got[2]["n_tokens_removed"] == 8
    # doc 3 contains the shared 8-gram only as a sub-span whose covering
    # windows include its context words -> those windows are NOT shared,
    # so only the windows equal across docs count. The literal inner
    # window w1..w8 occurs in all three docs -> excised from doc 3 too.
    assert got[3]["text"] == "filler more"


def test_remove_spans_fixture_rescan_is_empty(spark):
    """Span removal's done-criterion: the removed-then-rescanned corpus
    yields ZERO spans at the same n/min_docs (one round suffices on the
    natural fixture), and the removal is non-vacuous."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import (
        duplicate_ngram_spans,
        remove_duplicate_spans,
    )

    docs = _sf_docs(spark)
    cleaned = remove_duplicate_spans(docs, n=8, min_docs=2)
    removed_total = cleaned.agg(F.sum("n_tokens_removed")).collect()[0][0]
    assert removed_total and removed_total > 0, "vacuous fixture: nothing removed"
    rescan = duplicate_ngram_spans(
        cleaned.select("doc_id", "text"), n=8, min_docs=2
    ).count()
    assert rescan == 0


def test_remove_spans_adversarial_needs_second_round(spark):
    """Excision can juxtapose distant tokens into NEW shared windows
    (docs `A S B` / `A T B` with S, T shared elsewhere both collapse to
    `A B`), so one round is not a fixed point in adversarial corpora —
    and rounds=2 converges with CUMULATIVE n_tokens_removed."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import (
        duplicate_ngram_spans,
        remove_duplicate_spans,
    )

    A = "a1 a2 a3 a4"
    B = "b1 b2 b3 b4"
    S = "s1 s2 s3 s4 s5 s6 s7 s8"
    T = "t1 t2 t3 t4 t5 t6 t7 t8"
    df = spark.createDataFrame(
        [
            (1, f"{A} {S} {B}"),
            (2, f"{A} {T} {B}"),
            (3, f"carrier3 {S} x3"),
            (4, f"carrier4 {T} x4"),
        ],
        "doc_id long, text string",
    )
    one = remove_duplicate_spans(df, n=8, min_docs=2, rounds=1)
    leftover = duplicate_ngram_spans(
        one.select("doc_id", "text"), n=8, min_docs=2
    ).count()
    assert leftover > 0  # docs 1 and 2 both became "A B" (8 shared tokens)

    two = remove_duplicate_spans(df, n=8, min_docs=2, rounds=2)
    rescan = duplicate_ngram_spans(
        two.select("doc_id", "text"), n=8, min_docs=2
    ).count()
    assert rescan == 0
    got = {r["doc_id"]: r for r in two.collect()}
    # round 1 removed S (8), round 2 removed the emergent A+B (8):
    # cumulative 16 of 16 original tokens
    assert got[1]["text"] == "" and got[1]["n_tokens_removed"] == 16
    assert got[2]["text"] == "" and got[2]["n_tokens_removed"] == 16


def test_remove_spans_rounds_do_not_stack_plans(spark):
    """Every round but the last is cut (cache.cut), so the lazy result of
    rounds=3 holds ONE round's plan — as many exchanges as rounds=1 —
    instead of re-executing every prior round at each action."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import remove_duplicate_spans

    docs = _sf_docs(spark)
    one = remove_duplicate_spans(docs, n=8, min_docs=2, rounds=1)
    three = remove_duplicate_spans(docs, n=8, min_docs=2, rounds=3)
    assert P.shuffle_count(three) == P.shuffle_count(one) > 0


def test_remove_spans_plan_shuffles_hashes_and_ids_never_full_corpus(spark, monkeypatch):
    """Scale pins: (a) no exchange in the removal plan carries the raw
    `span` string (window matching rides the 128-bit hashes); (b) no
    compile-time broadcast anywhere (the span set is unbounded at
    100 TB; AQE may upgrade at runtime); (c) the token-level rebuild
    exchanges (id, idx/tok) rows — proportional to dirty documents, not
    corpus² — which is visible as every exchange being keyed narrow."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import remove_duplicate_spans

    docs = _sf_docs(spark)
    # cache.cut as the identity: assert on the full, uncut lineage
    monkeypatch.setattr(cache, "cut", lambda df: df)
    out = remove_duplicate_spans(docs, n=8, min_docs=2)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = P.simple_plan(out)
        assert "BroadcastExchange" not in plan
        for cols in P.exchange_input_columns(out):
            assert "span" not in cols, cols
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ngram_span_resolve_gate_paths_agree(spark, monkeypatch):
    """BROADCAST_RESOLVE_ROWS=0 (forced shuffled resolve) returns
    exactly the default (broadcast-resolved) rows — the gate changes the
    physical strategy, never the result."""
    from judyst_web_crawler_spark.operators import dedup_fuzzy
    from judyst_web_crawler_spark.operators.dedup_fuzzy import duplicate_ngram_spans

    docs = _sf_docs(spark).limit(150)
    key = lambda r: (r["span"], r["n_docs"], r["n_occurrences"], r["first_doc"])  # noqa: E731
    a = sorted(map(key, duplicate_ngram_spans(docs, n=8, min_docs=2).collect()))
    monkeypatch.setattr(dedup_fuzzy, "BROADCAST_RESOLVE_ROWS", 0)
    b = sorted(map(key, duplicate_ngram_spans(docs, n=8, min_docs=2).collect()))
    assert a == b and len(a) > 0


def test_gopher_repetition_boilerplate_fails_while_length_gates_pass(spark):
    """The repetition gate's done-criterion: a boilerplate-heavy document (one
    line repeated) FAILS the repetition gate while PASSING every length
    gate of gopher_quality_flags."""
    from judyst_web_crawler_spark.functions.textstats import (
        gopher_quality_flags,
        gopher_repetition_flags,
    )

    line = "the quick brown fox jumps over the lazy dog again"  # 10 words
    doc = "\n".join([line] * 10)  # 100 words, 10 identical lines
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    g = gopher_quality_flags("text")
    r = gopher_repetition_flags("text")
    row = df.select(
        g["gopher_pass"].alias("len_pass"),
        r["dup_line_frac"].alias("dlf"),
        r["dup_line_char_frac"].alias("dlcf"),
        r["repetition_pass"].alias("rep_pass"),
    ).collect()[0]
    assert row["len_pass"] is True
    assert row["dlf"] == 0.9  # 9 of 10 lines are repeats
    assert row["dlcf"] == 0.9
    assert row["rep_pass"] is False


def test_gopher_repetition_fractions_pinned(spark):
    """Hand-computed ratios on a crafted doc: duplicate line/paragraph
    fractions, char fractions, and the top-2-gram fraction with the
    lexicographic tie-break."""
    from judyst_web_crawler_spark.functions.textstats import gopher_repetition_flags

    #           p1 (2 lines)            p2 == line repeated      p3 distinct
    doc = "aa bb\ncc dd\n\naa bb\n\nee ff"
    # lines (trimmed, non-empty): [aa bb, cc dd, aa bb, ee ff] -> 4 lines,
    # distinct 3 -> dup_line_frac 1/4; chars 20, distinct chars 15 -> 5/20
    # paragraphs: [aa bb\ncc dd, aa bb, ee ff] -> all distinct -> 0.0
    # words: aa bb cc dd aa bb ee ff; 2-grams sorted:
    #   [aa bb, aa bb, bb cc, bb ee, cc dd, dd aa, ee ff] -> top "aa bb" x2
    # norm_len = len("aa bb cc dd aa bb ee ff") = 23
    # frac = 2*5/23
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = gopher_repetition_flags("text")
    row = df.select(*[c.alias(n) for n, c in r.items()]).collect()[0]
    assert row["dup_line_frac"] == 0.25
    assert row["dup_line_char_frac"] == 0.25
    assert row["dup_para_frac"] == 0.0
    assert row["dup_para_char_frac"] == 0.0
    assert row["top_2gram_char_frac"] == round(10 / 23, 6)
    assert row["repetition_pass"] is False  # top-2gram 0.435 > 0.20


def test_gopher_repetition_tie_break_is_lexicographic(spark):
    """Equal-count top grams resolve to the lexicographically smallest —
    the deterministic winner both the sorted-array fold (Spark) and the
    ORDER BY cnt DESC, gram ASC oracle pick."""
    from judyst_web_crawler_spark.functions.textstats import gopher_repetition_flags

    # every 2-gram occurs exactly once -> the tie-break decides
    df = spark.createDataFrame([(1, "zz aa cc")], "doc_id long, text string")
    # 2-grams: ["zz aa", "aa cc"]; each count 1; winner "aa cc" (lex min)
    r = gopher_repetition_flags("text")
    row = df.select(r["top_2gram_char_frac"].alias("f")).collect()[0]
    # norm text "zz aa cc" len 8; winner len 5, count 1 -> 5/8
    assert row["f"] == round(5 / 8, 6)


def test_gopher_repetition_degenerate_docs_score_zero(spark):
    from judyst_web_crawler_spark.functions.textstats import gopher_repetition_flags

    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "one"), (4, "   \n  \n ")],
        "doc_id long, text string",
    )
    r = gopher_repetition_flags("text")
    rows = df.select(
        "doc_id", *[c.alias(n) for n, c in r.items()]
    ).collect()
    for row in rows:
        for c in (
            "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
            "dup_para_char_frac", "top_2gram_char_frac",
            "top_3gram_char_frac", "top_4gram_char_frac",
        ):
            assert row[c] == 0.0, (row["doc_id"], c, row[c])
        assert row["repetition_pass"] is True


def test_gopher_repetition_stays_in_codegen(spark):
    """The repetition rules are pure Column expressions: no
    BatchEvalPython / ArrowEvalPython stage and no exchange in the
    single-projection plan."""
    from judyst_web_crawler_spark.functions.textstats import gopher_repetition_flags

    docs = _sf_docs(spark)
    r = gopher_repetition_flags("text")
    out = docs.select("doc_id", *[c.alias(n) for n, c in r.items()])
    plan = P.simple_plan(out)
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_remove_spans_rejects_reserved_column_names(spark):
    """Same up-front guard attach_pair_sides grew: id_col/text_col
    colliding with internal aliases or the output contract raise a clear
    ValueError, not a deep AMBIGUOUS_REFERENCE."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import remove_duplicate_spans

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    for id_c, text_c in [("_idx", "text"), ("doc_id", "n_tokens"), ("text", "text")]:
        with pytest.raises(ValueError, match="remove_duplicate_spans"):
            remove_duplicate_spans(df, id_col=id_c, text_col=text_c)


def test_bench_incremental_dedup_is_genuinely_multi_wave(spark, monkeypatch):
    """The bench section must measure the advertised workload: a
    multi-wave crawl whose LAST wave is a strict subset of the corpus
    (incremental new-docs side vs an index holding the rest), with
    real mirror pairs surfaced. A per-host budget of n/2 used to drain
    everything in one wave — all-docs-vs-all-docs, the wrong metric."""
    import bench

    monkeypatch.setenv("SPARK_BENCH_DEDUP_URLS", "1500")
    got = bench.bench_incremental_dedup(spark, sf=0.001)
    assert got["waves"] >= 2, got
    assert 0 < got["last_wave_docs"] < got["n_urls"], got
    assert got["near_dup_pairs"] > 0, got


def test_cpu_heavy_queries_fan_out_small_inputs(spark):
    """Per-row-CPU-heavy driver queries must not inherit the input
    file's split count: a one-file documents table would serialize the
    whole projection on one core. _fanout widens to defaultParallelism
    when the scan has fewer input files."""
    import __spark_entry__ as E

    qs = E.queries()
    want = spark.sparkContext.defaultParallelism
    for name in ("quality_filters", "text_stats"):
        got = qs[name](spark, SF).rdd.getNumPartitions()
        assert got >= want, (name, got, want)


def test_attach_pair_sides_rejects_reserved_out_names(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    lookup = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    for bad_a, bad_b in [("id_a", "vb"), ("va", "_side_id"), ("same", "same")]:
        with pytest.raises(ValueError, match="attach_pair_sides"):
            D.attach_pair_sides(pairs, lookup, "doc_id", "text", bad_a, bad_b)
    with pytest.raises(ValueError, match="attach_pair_sides"):
        D.attach_pair_sides(pairs, lookup, "text", "text", "va", "vb")


def test_attach_pair_sides_uniformity_rides_digests_not_payload(spark):
    """The conflict check aggregates 8-byte xxhash64
    digests, so the raw payload appears in exactly ONE aggregate
    expression (the output max), never a second min/max — pinned on the
    optimized plan's aggregate expressions."""
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    lookup = spark.createDataFrame(
        [(1, "xxxx"), (2, "yyyy")], "doc_id long, text string"
    )
    out = D.attach_pair_sides(pairs, lookup, "doc_id", "text", "va", "vb")
    plan = out._jdf.queryExecution().optimizedPlan().toString()

    def _agg_bodies(fn: str) -> list[str]:
        """Balanced-paren bodies of every `fn(...)` call in the plan."""
        bodies = []
        for m in re.finditer(re.escape(fn) + r"\(", plan):
            depth, i = 1, m.end()
            while i < len(plan) and depth:
                depth += {"(": 1, ")": -1}.get(plan[i], 0)
                i += 1
            bodies.append(plan[m.end():i - 1])
        return bodies

    mins = [b for b in _agg_bodies("min") if "_v" in b]
    assert mins, plan  # the uniformity min aggregates exist...
    for b in mins:  # ...and every one rides the 8-byte digest
        assert "xxhash64" in b, b
    # behavior unchanged: conflicts still raise, clean rows still pass
    rows = out.collect()
    assert [(r["va"], r["vb"]) for r in rows] == [("xxxx", "yyyy")]
    conflict = spark.createDataFrame(
        [(1, "xxxx"), (1, "CONFLICT"), (2, "yyyy")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="attach_pair_sides"):
        D.attach_pair_sides(pairs, conflict, "doc_id", "text", "va", "vb").collect()


def test_attach_pair_sides_digest_check_on_array_values(spark):
    """The digest path must keep working for array payloads (embedding
    vectors) — equal arrays pass, conflicting arrays raise."""
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    ok = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [1.0, 2.0]), (2, [3.0, 4.0])],
        "doc_id long, vec array<double>",
    )
    rows = D.attach_pair_sides(pairs, ok, "doc_id", "vec", "va", "vb").collect()
    assert rows[0]["va"] == [1.0, 2.0] and rows[0]["vb"] == [3.0, 4.0]
    conflict = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [9.0, 9.0]), (2, [3.0, 4.0])],
        "doc_id long, vec array<double>",
    )
    with pytest.raises(Exception, match="attach_pair_sides"):
        D.attach_pair_sides(pairs, conflict, "doc_id", "vec", "va", "vb").collect()
