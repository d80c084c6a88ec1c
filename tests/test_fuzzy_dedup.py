"""Near-dup detection: planted duplicates must be found; unrelated texts
must not pair up. MinHash estimates must track exact Jaccard. Also the
exact-substring span operators (discovery and removal), pair-side
attachment and the ``cache.cut`` seam of the near-dup operators."""

from __future__ import annotations

import hashlib
import json
import re

import numpy as np
import pytest
from helpers import seam_parity
from pyspark.sql import functions as F

from judyst_web_crawler_spark.operators import dedup_fuzzy as D

BASE = (
    "Настоящим постановлением суд установил что жалоба гражданина "
    "подлежит рассмотрению в установленном законом порядке и направил "
    "материалы дела в соответствующую инстанцию для дальнейшего изучения "
)
OTHER = (
    "Совершенно иной документ про погоду природу и путешествия по горам "
    "рекам и озёрам с фотографиями и картами маршрутов для туристов "
)


_ROWS = [
    (1, BASE * 3),
    (2, BASE * 3),                                  # exact dup of 1
    (3, BASE * 3 + " дополнительное предложение."),  # near dup of 1
    (4, OTHER * 3),
    (5, OTHER * 3 + " ещё абзац о снаряжении."),     # near dup of 4
    (6, "короткий уникальный текст о кошках"),
]


def _docs(spark):
    return spark.createDataFrame(_ROWS, "doc_id long, text string")


RU = (
    "Настоящим постановлением суд установил что жалоба гражданина "
    "подлежит рассмотрению в установленном законом порядке по делу "
)


def _lazy_docs(spark):
    """Two near-dup pairs, (1, 2) and (3, 4), and a singleton."""
    rows = [
        (1, RU * 3),
        (2, RU * 3 + " дополнительное предложение суда."),
        (3, OTHER * 3),
        (4, OTHER * 3 + " ещё абзац о снаряжении."),
        (5, "уникальный короткий текст о кошках и собаках"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _fingerprints(k: int) -> list[tuple[int, list[int], int]]:
    """(doc_id, signature, simhash) of every fixture doc from
    ``fingerprint_text``, the kernel the frontier's wave UDF runs."""
    a, b = D._minhash_params(k, 42)
    out = []
    for doc_id, text in _ROWS:
        sig, sim = D.fingerprint_text(text, a, b, k)
        out.append((doc_id, [int(x) for x in sig], int(sim)))
    return out


def test_minhash_near_duplicates(spark):
    pairs = D.minhash_near_duplicates(_docs(spark), threshold=0.6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert (4, 5) in got
    assert all(not (a in (1, 2, 3) and b in (4, 5, 6)) for a, b in got)


def test_minhash_estimates_jaccard(spark):
    sigs = {r["doc_id"]: np.array(r["signature"]) for r in D.minhash_signatures(_docs(spark), k=128).collect()}
    est = (sigs[1] == sigs[3]).mean()
    sa = D._shingle_hashes_fast(BASE * 3)
    sb = D._shingle_hashes_fast(BASE * 3 + " дополнительное предложение.")
    inter = len(np.intersect1d(sa, sb, assume_unique=True))
    true_j = inter / (len(sa) + len(sb) - inter)
    assert abs(est - true_j) < 0.15
    assert (sigs[1] == sigs[2]).all()  # identical docs, identical sigs


def test_simhash_near_duplicates(spark):
    pairs = D.simhash_near_duplicates(_docs(spark), max_hamming=6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # identical text → hamming 0
    assert all(not (a in (1, 2, 3) and b in (4, 5, 6)) for a, b in got)


def test_fingerprint_text_matches_batch_signatures(spark):
    docs = _docs(spark)
    comb = {doc_id: (sig, sim) for doc_id, sig, sim in _fingerprints(64)}
    mh = {r["doc_id"]: list(r["signature"]) for r in D.minhash_signatures(docs, k=64).collect()}
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(docs).collect()}
    assert set(comb) == set(mh) == set(sh)
    for doc_id in mh:
        assert comb[doc_id][0] == mh[doc_id]
        assert comb[doc_id][1] == sh[doc_id]


def _digest(rows) -> str:
    return hashlib.sha256(json.dumps(sorted(rows)).encode()).hexdigest()


def test_signature_kernels_golden(spark):
    """Bit-identity pin of the per-document kernels: sha256 over the
    sorted (doc_id, signature) / (doc_id, simhash) rows of the fixture,
    recorded before minhash_signatures, simhash_signatures and
    fingerprint_text were folded onto one MinHash and one SimHash kernel
    (``cb`` was then taken over a batch operator that ran
    fingerprint_text per row; the same rows give the same digest).
    test_fingerprint_text_matches_batch_signatures alone cannot catch a
    kernel regression: all three share the kernels."""
    docs = _docs(spark)
    mh = [(r["doc_id"], list(r["signature"])) for r in D.minhash_signatures(docs, k=128).collect()]
    sh = [(r["doc_id"], r["simhash"]) for r in D.simhash_signatures(docs).collect()]
    cb = _fingerprints(128)
    assert _digest(mh) == "a071cf078c21af06f87f6893a442e1fad2030c8145e5fdd92881940f7726286b"
    assert _digest(sh) == "a76538685b4085116313a93faad6a4768477f8f81c3343fcb1d2f2dfb635718d"
    assert _digest(cb) == "bfd29b8819d43207cea89ef0d0b23468984ee60054ddd238303c7f2ba4eb4180"


def test_hot_bucket_cap_bounds_candidates(spark):
    """Adversarial corpus: 1k near-identical docs collapse into one LSH
    bucket per band → C(1000,2)≈500k candidate pairs uncapped. The cap
    must bound candidates at ≤ bands·C(cap,2) while a normal corpus's
    results stay identical with the cap on."""
    n = 1000
    boiler = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(BASE * 3).alias("text"),  # byte-identical boilerplate
    )
    sigs = D.minhash_signatures(boiler, k=64)
    uncapped = D.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
    capped = D.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4, bucket_cap=20)
    assert uncapped.count() == n * (n - 1) // 2
    n_capped = capped.count()
    assert n_capped <= 16 * (20 * 19 // 2)
    assert n_capped > 0  # still finds pairs among the kept members

    # normal corpus: capping must not change the answer
    base = {tuple(sorted((r["id_a"], r["id_b"]))) for r in
            D.minhash_near_duplicates(_docs(spark), threshold=0.6).collect()}
    with_cap = {tuple(sorted((r["id_a"], r["id_b"]))) for r in
                D.minhash_near_duplicates(_docs(spark), threshold=0.6, bucket_cap=50).collect()}
    assert base == with_cap

    sim_base = {tuple(sorted((r["id_a"], r["id_b"]))) for r in
                D.simhash_near_duplicates(_docs(spark), max_hamming=6).collect()}
    sim_cap = {tuple(sorted((r["id_a"], r["id_b"]))) for r in
               D.simhash_near_duplicates(_docs(spark), max_hamming=6, bucket_cap=50).collect()}
    assert sim_base == sim_cap


def test_margin_none_disables_estimate_prune(spark):
    """margin=None routes every LSH candidate to the exact verifier —
    the result must be a superset of (or equal to) the pruned path."""
    pruned = {(r["id_a"], r["id_b"]) for r in
              D.minhash_near_duplicates(_docs(spark), threshold=0.6).collect()}
    unpruned = {(r["id_a"], r["id_b"]) for r in
                D.minhash_near_duplicates(_docs(spark), threshold=0.6, margin=None).collect()}
    assert pruned <= unpruned


def test_jaccard_verify_pairs(spark):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], "id_a long, id_b long")
    out = D.jaccard_verify(pairs, _docs(spark), threshold=0.0).collect()
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert j[(1, 2)] == 1.0
    assert j[(1, 4)] < 0.2


def test_minhash_jvm_signature_properties(spark):
    """JVM-side word-token MinHash: permutation-invariant per token set,
    lane-similarity tracks token-set Jaccard."""
    import random

    r = random.Random(7)
    p = D.MINHASH_JVM_P
    A = [r.randrange(1, p) for _ in range(32)]
    B = [r.randrange(0, p) for _ in range(32)]
    vocab_a = [f"tok{i}" for i in range(60)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(vocab_a)),
            (2, " ".join(reversed(vocab_a)).upper()),      # same token SET
            (3, " ".join(vocab_a[:55] + ["x1 x2 x3 x4 x5"])),  # high overlap
            (4, " ".join(f"other{i}" for i in range(60))),  # disjoint
        ],
        "doc_id long, text string",
    )
    sigs = {r_["doc_id"]: list(r_["sig"])
            for r_ in D.minhash_signatures_jvm(docs, A, B).collect()}
    assert all(len(s) == 32 and all(0 <= v < p for v in s) for s in sigs.values())
    assert sigs[1] == sigs[2]
    agree_13 = sum(a == b for a, b in zip(sigs[1], sigs[3])) / 32
    agree_14 = sum(a == b for a, b in zip(sigs[1], sigs[4])) / 32
    assert agree_13 > 0.6        # jaccard ≈ 55/65
    assert agree_14 == 0.0       # disjoint vocab


def test_simhash_jvm_properties(spark):
    """JVM-side SimHash: permutation/case-invariant; near token sets →
    small Hamming distance; disjoint sets → large."""
    vocab = [f"tok{i}" for i in range(80)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(vocab)),
            (2, " ".join(reversed(vocab)).upper()),
            (3, " ".join(vocab[:76] + ["zz1 zz2 zz3 zz4"])),
            (4, " ".join(f"other{i}" for i in range(80))),
        ],
        "doc_id long, text string",
    )
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash_jvm(docs, bits=16).collect()}
    assert all(0 <= v < (1 << 16) for v in sims.values())
    assert sims[1] == sims[2]
    ham_13 = bin(sims[1] ^ sims[3]).count("1")
    ham_14 = bin(sims[1] ^ sims[4]).count("1")
    assert ham_13 <= 4
    assert ham_14 > ham_13


def test_duplicate_ngram_spans_counts_and_guards(spark):
    """Exact-substring primitive: interior 8-grams of a sentence shared
    verbatim by several docs are reported with distinct-doc and total
    occurrence counts; sub-n docs don't crash; case-insensitive."""
    from judyst_web_crawler_spark.operators.dedup_fuzzy import duplicate_ngram_spans

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, "intro words " + shared + " trailing end"),
            (2, "Other start " + shared.upper() + " different tail"),
            (3, "totally unrelated text with no repeated windows at all here now"),
            (4, "short"),  # < n tokens: guard, not a crash
            (5, shared + " " + shared),  # within-doc repetition counts occurrences
        ],
        "doc_id long, text string",
    )
    rows = duplicate_ngram_spans(docs, n=8, min_docs=2).collect()
    got = {r["span"]: (r["n_docs"], r["n_occurrences"], r["first_doc"]) for r in rows}
    toks = shared.split()
    interior = {" ".join(toks[i : i + 8]) for i in range(3)}  # 10-8+1 windows
    assert set(got) == interior
    # docs 1, 2, 5 carry each interior span; doc 5 twice -> 4 occurrences
    assert all(v == (3, 4, 1) for v in got.values()), got


def test_attach_pair_sides_matches_naive_double_join(spark):
    """attach_pair_sides (unpivot → ONE lookup join → regroup; the
    AQE-safe shape) must be row-for-row equivalent to the naive
    double-aliased join on arbitrary inputs: ids missing from the lookup
    drop the pair (inner semantics), present ids attach each side's
    value. Seeded sweep over pair sets including ids absent from the
    lookup and lookup rows never referenced."""
    import random

    rng = random.Random(417)
    for trial in range(3):
        ids = list(range(40))
        lookup_rows = [(i, f"value-{i}-{rng.randrange(999)}") for i in ids if rng.random() < 0.8]
        pair_rows = list(
            {
                (a, b)
                for a, b in (
                    sorted(rng.sample(range(48), 2)) for _ in range(60)
                )  # ids 40-47 never in the lookup
            }
        )
        lookup = spark.createDataFrame(lookup_rows, "doc_id long, text string")
        pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
        got = {
            (r["id_a"], r["id_b"], r["va"], r["vb"])
            for r in D.attach_pair_sides(pairs, lookup, "doc_id", "text", "va", "vb").collect()
        }
        la = lookup.select(F.col("doc_id").alias("id_a"), F.col("text").alias("va"))
        lb = lookup.select(F.col("doc_id").alias("id_b"), F.col("text").alias("vb"))
        want = {
            (r["id_a"], r["id_b"], r["va"], r["vb"])
            for r in pairs.join(la, "id_a").join(lb, "id_b").collect()
        }
        assert got == want, f"trial {trial}: {got ^ want}"


def test_attach_pair_sides_divergence_cases_pinned(spark):
    """Where the helper deliberately diverges from the naive double join
    (documented in its docstring): duplicate IDENTICAL lookup rows
    collapse to one output row instead of fanning the pair out, an
    all-NULL value drops the pair instead of carrying NULL through, and
    CONFLICTING lookup rows for an id (different values, or NULL mixed
    with non-NULL) raise at execution instead of silently attaching an
    arbitrary generation's value."""
    import pytest

    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    lookup = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (3, "c"), (4, None)],
        "doc_id long, text string",
    )
    rows = D.attach_pair_sides(pairs, lookup, "doc_id", "text", "va", "vb").collect()
    # pair (1,2): id 1 has two IDENTICAL rows -> ONE output row
    # pair (3,4): id 4's only value is NULL -> dropped
    assert [(r["id_a"], r["id_b"], r["va"], r["vb"]) for r in rows] == [(1, 2, "a", "b")]

    # conflicting duplicate values: the silent-collapse corruption case
    # (append-only corpus, stale vs fresh generation) must raise
    conflict = spark.createDataFrame(
        [(1, "stale"), (1, "fresh"), (2, "b")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="attach_pair_sides"):
        D.attach_pair_sides(pairs, conflict, "doc_id", "text", "va", "vb").collect()

    # NULL mixed with non-NULL for one id: neither "drop" nor "attach"
    # is defensible -> also a loud failure
    mixed = spark.createDataFrame(
        [(1, None), (1, "late"), (2, "b")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="attach_pair_sides"):
        D.attach_pair_sides(pairs, mixed, "doc_id", "text", "va", "vb").collect()


def test_attach_pair_sides_conflict_check_adds_no_shuffle(spark):
    """The conflict-uniformity aggregates (min/count per side) must ride
    the regroup's existing hash aggregate: the physical plan of the
    checked helper has exactly as many Exchange nodes as the check-free
    unpivot -> join -> max-only regroup shape."""
    import re

    from judyst_web_crawler_spark.plans.inspect import formatted_plan

    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    lookup = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 5)], "doc_id long, text string"
    )
    checked = D.attach_pair_sides(pairs, lookup, "doc_id", "text", "va", "vb")
    sides = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("_side_id")
    )
    vals = lookup.select(F.col("doc_id").alias("_side_id"), F.col("text").alias("_v"))
    bare = (
        sides.join(vals, "_side_id")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("_side_id") == F.col("id_a"), F.col("_v"))).alias("va"),
            F.max(F.when(F.col("_side_id") == F.col("id_b"), F.col("_v"))).alias("vb"),
        )
        .filter(F.col("va").isNotNull() & F.col("vb").isNotNull())
    )

    def n_exchanges(df):
        return len(re.findall(r"\(\d+\) Exchange\b", formatted_plan(df)))

    assert n_exchanges(checked) == n_exchanges(bare)


def test_attach_pair_sides_id_col_named_like_pair_columns(spark):
    """A lookup id column literally named ``id_a`` (the helper's own
    output convention, so a plausible caller choice) must not collide
    with the pair columns: the exploded side id uses a private alias."""
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    lookup = spark.createDataFrame([(1, "x"), (2, "y")], "id_a long, text string")
    rows = D.attach_pair_sides(pairs, lookup, "id_a", "text", "va", "vb").collect()
    assert [(r["id_a"], r["id_b"], r["va"], r["vb"]) for r in rows] == [(1, 2, "x", "y")]


def test_jvm_signature_guards(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="mismatch"):
        D.minhash_signatures_jvm(docs, [3, 5], [7])
    with pytest.raises(ValueError, match="1..31"):
        D.simhash_jvm(docs, bits=64)


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
