"""Near-duplicate detection for training-data pipelines.

Three families, each structured for 100 TB scale:

- MinHash+LSH:  shingle → k minhashes (vectorized numpy in mapInPandas)
                → band buckets → self-join on (band, bucket) → exact
                Jaccard verify on candidates only. The LSH band join is
                the only shuffle that touches pairs, and it only ever
                materializes CANDIDATE pairs, never n².
- SimHash:      64-bit signature; Hamming-≤k retrieval via the block
                technique (split signature into k+1 blocks; true near-dups
                must collide on ≥1 block) → verify popcount on candidates.
- n-gram Jaccard: the exact verifier, also usable standalone on small sets.

All signatures are seeded + deterministic (fixed hash mixing constants);
no wall-clock, no RNG state. One per-document kernel per signature
(``_minhash_of`` / ``_simhash_of``, over a document's shingle hashes)
serves the batch operators and the frontier's fused wave UDF alike.

Laziness (``cache.py``): an operator cuts each intermediate it consumes
more than once — signature and bucket tables before their self-joins —
so the Arrow pass behind it runs once per call, and returns a lazy plan
over those cuts.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark import cache
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

_MERSENNE = (1 << 61) - 1

log = logging.getLogger(__name__)


def _id_derived_schema(df: DataFrame, id_cols: list[str], extra_fields: list):
    """Arrow-kernel output schema whose carried fields keep their INPUT
    types (string/int doc ids, float32/float64 embeddings pass through
    instead of failing a hardcoded cast — the package-wide type contract
    for every mapInPandas kernel; similarity.py imports this as
    ``_derived_schema``), followed by ``extra_fields`` (StructFields)."""
    from pyspark.sql.types import StructType

    return StructType([df.schema[c] for c in id_cols] + list(extra_fields))


def _cap_hot_buckets(
    rows: DataFrame,
    key_cols: list[str],
    id_col: str,
    cap: int,
    what: str,
) -> DataFrame:
    """Keep at most ``cap`` members per bucket (deterministic: lowest ids
    win) before a bucket self-join.

    Without this, one degenerate bucket — boilerplate-heavy corpora put
    thousands of near-identical docs in the same (band, bucket) — makes
    the candidate join n² IN THAT BUCKET, the classic LSH skew failure at
    100 TB. Capping bounds per-bucket pairs at C(cap, 2). A pair dropped
    here can still collide in any other band/block, so recall loss is
    confined to pairs whose ONLY collision falls past the cap.

    No silent truncation: the dropped row count is computed and logged.
    The marked bucket table is cut (``cache.cut``) before that count, so
    the upstream signature pass runs once — the count and both sides of
    the bucket self-join read the same cut table.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    marked = cache.cut(rows.withColumn("_rn", F.row_number().over(w)))
    dropped = marked.filter(F.col("_rn") > cap).count()
    if dropped:
        log.warning(
            "%s: hot-bucket cap=%d dropped %d bucket memberships "
            "(pairs beyond the cap are not candidates)", what, cap, dropped
        )
    return marked.filter(F.col("_rn") <= cap).drop("_rn")


# Seed for the second, independent span hash: (h1, h2) is a 128-bit key,
# so a cross-span collision (which would silently merge two spans' counts)
# is negligible at any corpus size (birthday bound ~n²/2^129).
_SPAN_HASH_SALT = 0x9E3779B9

# Largest shared-span survivor set ``duplicate_ngram_spans`` broadcasts
# into its resolve join (5M ≈ 80 MB of 16 B keys); above it the join runs
# shuffled.
BROADCAST_RESOLVE_ROWS = 5_000_000


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    resolve_spans: bool = True,
) -> DataFrame:
    """Exact repeated token-n-gram spans ACROSS documents — the
    exact-substring dedup primitive (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", §3 ExactSubstr, public
    method): every n-token window that occurs in ≥ ``min_docs`` distinct
    documents, with its document count, total occurrence count and
    lowest containing id.

    Fully JVM-side: lower → whitespace split → slide an n-token window
    (``transform`` over an index ``sequence``) → hash-keyed groupBy.

    Scale shape (the 100 TB contract): the wide aggregation is keyed on
    a 128-bit span hash ``(xxhash64(span), xxhash64(span, salt))``, so
    the exchange carries 24 bytes/row (h1, h2, id) instead of the raw
    ~n×token-length span string — on a mostly-unique span distribution
    (where map-side combine cannot compress) that cuts shuffle volume
    ~3× and, critically, never amplifies corpus bytes through the wire.
    Hot boilerplate spans remain hot GROUPS (partial-combined map-side),
    never hot JOIN sides. Span STRINGS never ride the wide aggregation:
    the surviving hash set (16 B/row) joins into a left_semi that drops
    singleton spans, then one groupBy resolves ``min(span)`` per
    surviving hash.

    Resolve-join strategy is SIZE-GATED, not assumed: on
    boilerplate-heavy web corpora the *shared*-span set is itself huge
    (Lee et al. measure double-digit % of tokens inside duplicated
    spans), so an unconditional broadcast of the survivor hashes OOMs
    the driver exactly when the operator matters most. The resolve
    path counts the cut survivors (one scalar action on the already-cut
    ``groups``) and broadcasts only up to ``BROADCAST_RESOLVE_ROWS`` —
    that path filters singleton spans map-side, so strings cross no
    exchange before the ``min_docs`` filter. Above the threshold the
    semi-join runs shuffled: asking for resolved STRINGS over a
    survivor set too big to broadcast inherently costs one exchange of
    the window strings (each string must reach its hash's reducer);
    the gate bounds that to exactly one never-amplified pass, and AQE
    still upgrades to broadcast at runtime when the survivor side
    turns out small. For removal pipelines the strings are never
    needed at all: pass ``resolve_spans=False`` and join document
    windows on the (h1, h2) keys (``remove_duplicate_spans`` does
    exactly this; Lee et al.'s production path is suffix-array based —
    this is the shuffle-bounded DataFrame equivalent).

    The resolve path consumes ``groups`` three times (the gate's count,
    the survivor set, the final join's left side), so it cuts the
    post-filter ``groups`` (small: shared spans only) and the
    explode+wide-aggregation subplan runs ONCE; the result is a lazy
    plan over that cut. ``resolve_spans=False`` returns ``groups`` itself,
    uncut: its caller consumes it once."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != F.lit("")
    )
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    windows = F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))
    spans = df.select(F.col(id_col), F.explode(windows).alias("span"))
    h1 = F.xxhash64(F.col("span"))
    h2 = F.xxhash64(F.col("span"), F.lit(_SPAN_HASH_SALT))
    groups = (
        spans.select(F.col(id_col), h1.alias("h1"), h2.alias("h2"))
        .groupBy("h1", "h2")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    if not resolve_spans:
        return groups
    groups = cache.cut(groups)
    # size-gate the resolve join (docstring): the count rides the cut
    # survivors, so it costs one scalar action, not a recompute of the
    # wide aggregation
    use_broadcast = groups.count() <= BROADCAST_RESOLVE_ROWS
    # Resolve strings for SURVIVING groups only: re-derive the windows
    # (CPU-linear, no stored intermediate), drop singletons via the
    # semi join, and collapse to one string per hash pair. min(span)
    # makes the pick deterministic even under a (negligible) 128-bit
    # collision.
    survivors = groups.select("h1", "h2")
    if use_broadcast:
        survivors = F.broadcast(survivors)
    resolved = (
        spans.select(F.col("span"), h1.alias("h1"), h2.alias("h2"))
        .join(survivors, ["h1", "h2"], "left_semi")
        .groupBy("h1", "h2")
        .agg(F.min("span").alias("span"))
    )
    return groups.join(resolved, ["h1", "h2"]).select(
        "span", "n_docs", "n_occurrences", "first_doc"
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    rounds: int = 1,
) -> DataFrame:
    """EXCISE cross-document repeated token-n-gram spans — the removal
    half of exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", §3 ExactSubstr: after
    *finding* duplicated spans, the pipeline cuts them out of every
    document). :func:`duplicate_ngram_spans` discovers; this consumes.

    Contract: a token is removed iff it is covered by at least one
    n-token window whose lowered space-joined form occurs in
    ``>= min_docs`` distinct documents (ALL occurrences are excised —
    Lee et al.'s symmetric variant; a maximal shared region of length
    >= n is removed in full from every document containing it). Output
    is one row per input document: ``(id_col, text_col, n_tokens,
    n_tokens_removed)`` where ``text_col`` is the surviving tokens
    joined by single spaces. Whitespace is normalized for EVERY
    document (touched or not) so the output is a uniform
    token-stream corpus; original casing of surviving tokens is kept
    (hashing lowers a copy, exactly like duplicate_ngram_spans'
    lower-then-split — lowercasing never alters whitespace, so the
    token boundaries agree).

    Each round discovers its spans with ``duplicate_ngram_spans(...,
    resolve_spans=False)``: hash-keyed, strings never shuffled.

    Scale shape (the 100 TB contract): no per-document quadratic HOF
    and no broadcast anywhere — boilerplate-heavy corpora make BOTH
    the span set and per-document coverage huge, so (a) window→span
    matching is a shuffled left_semi on the 128-bit hash (AQE upgrades
    it to broadcast at runtime when the span set happens to be small),
    (b) covered positions explode to (id, idx) rows and the rebuild is
    a distributed anti-join + per-document sort, all exchanges keyed
    on ``id_col`` — shuffle volume is proportional to the tokens of
    DIRTY documents only (clean documents short-circuit through a
    zero-shuffle projection).

    ``rounds``: excision can juxtapose previously distant tokens into
    NEW shared windows (docs ``A S B`` / ``A T B`` with S, T removed
    both collapse to ``A B``), so one pass is not a fixed point in
    adversarial corpora — Lee et al. iterate to convergence. Each
    extra round re-discovers spans on the cleaned text. On natural
    corpora one round removes everything (pinned on the fixture);
    ``n_tokens_removed`` is cumulative across rounds.

    Each round cuts its covered-position set (small: dirty (id, pos)
    rows only), which both the dirty-id split and the rebuild anti-join
    read, and each round before the last cuts its output, which the next
    round reads four times — so the lazy result's plan holds one round,
    whatever ``rounds`` is.
    """
    if rounds < 1:
        raise ValueError(f"remove_duplicate_spans: rounds must be >= 1, got {rounds}")
    # same up-front guard attach_pair_sides grew for the same reason: a
    # clear error beats a downstream duplicate/ambiguous-column analysis
    # failure (id_col='_idx' or text_col='n_tokens' would otherwise blow
    # up deep inside the rebuild joins)
    reserved = {"_pos", "_idx", "_i", "_tok", "_n_kept", "h1", "h2",
                "n_tokens", "n_tokens_removed"}
    bad = {id_col, text_col} & reserved
    if bad or id_col == text_col:
        raise ValueError(
            f"remove_duplicate_spans: id_col/text_col must be distinct and "
            f"avoid the reserved names {sorted(reserved)}; got "
            f"id_col={id_col!r}, text_col={text_col!r}"
        )
    toks_of = lambda c: F.filter(  # noqa: E731
        F.split(F.coalesce(c, F.lit("")), r"\s+"), lambda x: x != F.lit("")
    )

    cur = df.select(F.col(id_col), F.col(text_col))
    n_tokens_orig = F.size(toks_of(F.col(text_col))).alias("n_tokens")
    cur = cur.select(id_col, text_col, n_tokens_orig)

    for rnd in range(rounds):
        round_spans = duplicate_ngram_spans(
            cur, id_col, text_col, n=n, min_docs=min_docs,
            resolve_spans=False,
        )
        toks = toks_of(F.col(text_col))
        low = F.transform(toks, F.lower)
        idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
        win_pos = F.when(
            F.size(toks) >= n,
            F.transform(idx, lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(" ", F.slice(low, i, n)).alias("span"),
            )),
        ).otherwise(F.array().cast("array<struct<pos:int,span:string>>"))
        windows = cur.select(
            F.col(id_col), F.explode(win_pos).alias("w")
        ).select(
            id_col,
            F.col("w.pos").alias("_pos"),
            F.xxhash64("w.span").alias("h1"),
            F.xxhash64("w.span", F.lit(_SPAN_HASH_SALT)).alias("h2"),
        )
        # shuffled semi-join by design (see docstring); one covered-token
        # row per (doc, idx) after the explode+distinct
        hit_windows = windows.join(
            round_spans.select("h1", "h2"), ["h1", "h2"], "left_semi"
        )
        covered = (
            hit_windows.select(
                F.col(id_col),
                F.explode(
                    F.sequence(F.col("_pos"), F.col("_pos") + F.lit(n - 1))
                ).alias("_idx"),
            )
            .distinct()
        )
        covered = cache.cut(covered)
        dirty_ids = covered.select(F.col(id_col)).distinct()

        # clean docs: zero-shuffle normalization pass-through
        clean = cur.join(dirty_ids, id_col, "left_anti").select(
            id_col,
            F.concat_ws(" ", toks).alias(text_col),
            F.col("n_tokens"),
            F.coalesce(F.size(toks), F.lit(0)).alias("_n_kept"),
        )

        # dirty docs: explode tokens with position, anti-join covered,
        # reassemble in order
        dirty = cur.join(dirty_ids, id_col, "left_semi")
        tok_rows = dirty.select(
            F.col(id_col), F.posexplode(toks).alias("_i", "_tok")
        ).withColumn("_idx", F.col("_i") + F.lit(1))
        kept = tok_rows.join(covered, [id_col, "_idx"], "left_anti")
        rebuilt = (
            kept.groupBy(id_col)
            .agg(F.sort_array(F.collect_list(F.struct("_idx", "_tok"))).alias("_ks"))
            .select(
                id_col,
                F.concat_ws(
                    " ", F.transform("_ks", lambda s: s["_tok"])
                ).alias(text_col),
                F.size("_ks").alias("_n_kept"),
            )
        )
        # fully-excised docs produce no kept rows: restore as empty text
        rebuilt = dirty.select(id_col, "n_tokens").join(
            rebuilt, id_col, "left"
        ).select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            "n_tokens",
            F.coalesce(F.col("_n_kept"), F.lit(0)).alias("_n_kept"),
        )

        out = clean.unionByName(rebuilt).select(
            id_col,
            text_col,
            "n_tokens",
            (F.col("n_tokens") - F.col("_n_kept")).alias("n_tokens_removed"),
        )
        # next round re-tokenizes the cleaned text; `n_tokens` stays the
        # ORIGINAL count, `_n_kept` is always THIS round's survivor
        # count, so `n_tokens_removed` is cumulative with no extra state
        if rnd + 1 < rounds:
            cur = cache.cut(out)

    return out


# ------------------------------------------------------------- shingles


def _shingle_hashes_fast(text: str, n: int = 5) -> np.ndarray:
    """Byte n-gram shingles of the lowered UTF-8 text → sorted distinct
    uint64 hashes: a vectorized polynomial hash per window, finalized
    with splitmix64."""
    if text is None:
        return np.empty(0, dtype=np.uint64)
    data = text.lower().encode("utf-8", "ignore")
    if len(data) < n:
        data = data + b" " * (n - len(data))
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    h = np.zeros(len(arr) - n + 1, dtype=np.uint64)
    base = np.uint64(1099511628211)
    for j in range(n):  # n is small (5): n vectorized passes, no per-row loop
        h = h * base + arr[j : j + len(h)]
    # finalize: splitmix64 avalanche
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h = h ^ (h >> np.uint64(31))
    return np.unique(h)


def _minhash_params(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """k (a,b) pairs from a seeded splitmix sequence — deterministic."""
    state = np.uint64(seed * 0x9E3779B97F4A7C15 % (1 << 64))
    vals = []
    s = int(state)
    for _ in range(2 * k):
        s = (s + 0x9E3779B97F4A7C15) % (1 << 64)
        z = s
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) % (1 << 64)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) % (1 << 64)
        z = z ^ (z >> 31)
        vals.append(z % _MERSENNE)
    a = np.array([v | 1 for v in vals[:k]], dtype=np.uint64)  # odd, nonzero
    b = np.array(vals[k:], dtype=np.uint64)
    return a, b


def _minhash_of(sh: np.ndarray, a: np.ndarray, b: np.ndarray, k: int) -> np.ndarray:
    """One document's int64[k] MinHash signature from its shingle hashes:
    min over shingles of (a·x + b) mod p, p = 2^61 - 1, for each of the
    k permutations (every entry p when the document has no shingles)."""
    if len(sh) == 0:
        return np.full(k, _MERSENNE, dtype=np.uint64).astype(np.int64)
    prod = (sh[None, :] * a[:, None] + b[:, None]) % np.uint64(_MERSENNE)
    return prod.min(axis=1).astype(np.int64)


_SIM_BITMASK = (np.uint64(1) << np.arange(64, dtype=np.uint64))[None, :]
_SIM_WEIGHTS = np.arange(64, dtype=np.uint64)


def _simhash_of(sh: np.ndarray) -> int:
    """One document's 64-bit SimHash (as a signed int) from its shingle
    hashes: bit j is set iff more than half of the shingles have bit j
    set (0 when the document has no shingles)."""
    if len(sh) == 0:
        return 0
    votes = ((sh[:, None] & _SIM_BITMASK) != 0).sum(axis=0) * 2 - len(sh)
    return int(
        ((votes > 0).astype(np.uint64) << _SIM_WEIGHTS).sum(dtype=np.uint64).astype(np.int64)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    shingle_n: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, signature ARRAY<BIGINT>) — k minhashes per document, computed
    batch-vectorized in mapInPandas (Arrow both ways, no per-row Python
    beyond the shingle pass)."""
    a, b = _minhash_params(k, seed)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = [
                _minhash_of(_shingle_hashes_fast(t, shingle_n), a, b, k) for t in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "signature": sigs})

    from pyspark.sql.types import ArrayType, LongType, StructField

    selected = df.select(id_col, text_col)
    out_schema = _id_derived_schema(
        selected, [id_col], [StructField("signature", ArrayType(LongType()))]
    )
    return selected.mapInPandas(compute, out_schema)


MINHASH_JVM_P = 2_147_483_647  # 2^31-1 (prime); a*x stays < 2^62 — no
# ANSI long overflow (the 2^61-1 Mersenne the pandas path uses would)


def minhash_signatures_jvm(
    docs: DataFrame,
    perm_a: list[int],
    perm_b: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """(id, sig array<long>): MinHash over distinct WORD tokens computed
    entirely JVM-side — split/transform/array_min inside whole-stage
    codegen, no Arrow crossing. The production crawl path stays the
    fused pandas char-shingle MinHash (``minhash_signatures`` /
    ``fingerprint_text``: shingles catch near-dups word tokens miss);
    this variant is the oracle-checkable + zero-Python alternative:
    ``token_hash`` can be any Column expression a SQL oracle engine
    computes identically, so the signature math itself gets a
    value-hash check instead of rows-only. ``perm_a``/``perm_b`` are
    the (a·x + b) mod p permutation constants, < p each."""
    if len(perm_a) != len(perm_b):
        raise ValueError(
            f"perm_a/perm_b length mismatch ({len(perm_a)} vs {len(perm_b)}): "
            "zip would silently truncate the signature"
        )
    if token_hash is None:
        token_hash = lambda t: F.pmod(F.xxhash64(t), F.lit(MINHASH_JVM_P))  # noqa: E731
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    )
    base = F.transform(toks, token_hash)

    def _perm(a: int, b: int):
        # closure factory: a default-arg lambda would present a 3-arg
        # signature to Spark's higher-order-function binder
        return lambda x: (
            F.lit(a).cast("long") * x.cast("long") + F.lit(b)
        ) % F.lit(MINHASH_JVM_P)

    sig = F.array(
        *[
            F.array_min(F.transform(base, _perm(a, b)))
            for a, b in zip(perm_a, perm_b)
        ]
    )
    return docs.select(F.col(id_col), sig.alias("sig"))


def simhash_jvm(
    docs: DataFrame,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """(id, simhash long): SimHash over distinct word tokens computed
    JVM-side — per bit position, majority vote of the tokens' hash bits
    via ``aggregate`` over the token-hash array, no Arrow crossing.
    Companion to :func:`minhash_signatures_jvm` (same oracle-checkable
    design: swap ``token_hash`` for an expression a SQL engine computes
    identically); the production crawl keeps the fused pandas
    shingle-based ``fingerprint_text`` path.

    ``bits`` is capped at 31: the default token hash lives below 2³¹,
    so higher bit positions would silently vote constant-zero and the
    result would masquerade as a wider SimHash carrying 31 bits of
    signal (need 64 bits → the pandas ``fingerprint_text`` path)."""
    if not 1 <= bits <= 31:
        raise ValueError(
            f"simhash_jvm supports 1..31 bits (token hashes are < 2^31); "
            f"got {bits} — use fingerprint_text/simhash_signatures for 64-bit"
        )
    if token_hash is None:
        token_hash = lambda t: F.pmod(F.xxhash64(t), F.lit(MINHASH_JVM_P))  # noqa: E731
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    )
    base = F.transform(toks, token_hash)

    # ONE aggregate pass with an array accumulator (one ±1 vote vector
    # per token, zip_with-summed) instead of `bits` separate passes over
    # the token array; a literal power-of-two mask array stands in for
    # per-bit shifts (shiftright takes only int literals)
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    votes = F.aggregate(
        base,
        zero,
        lambda acc, x: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda m: F.when(
                    x.cast("long").bitwiseAND(m) != 0, F.lit(1).cast("long")
                ).otherwise(F.lit(-1).cast("long")),
            ),
            lambda a, b: a + b,
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # NULL text → 0, matching the per-bit formulation (where each
    # NULL-vote WHEN fell through to 0) and the empty-string case
    return docs.select(
        F.col(id_col), F.coalesce(sim, F.lit(0).cast("long")).alias("simhash")
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join buckets → candidate pairs
    (id_a < id_b). bands*rows_per_band must equal the signature length.

    ``bucket_cap`` bounds per-(band, bucket) membership before the
    self-join (see ``_cap_hot_buckets``) — set it on corpora with heavy
    boilerplate; dropped volume is logged, never silent."""
    banded = band_explode(signatures, id_col, bands, rows_per_band)
    if bucket_cap is not None:
        banded = _cap_hot_buckets(
            banded, ["band", "bucket"], id_col, bucket_cap, "minhash_lsh_candidates"
        )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def band_explode(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """One (id, band, bucket) row per band: bucket = xxhash64 of the
    band's signature slice. Shared by the batch self-join path and the
    persisted incremental index so banding can never drift between them."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band).cast("string")
                ),
            )
        ).alias("band", "bucket"),
    )


def estimate_filter(
    pairs: DataFrame,
    signatures: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    margin: float = 0.15,
) -> DataFrame:
    """Prune candidate pairs by the MinHash Jaccard ESTIMATE before the
    exact verify: est = mean(sig_a[i] == sig_b[i]).

    Runs entirely JVM-side (``zip_with`` over 64-element arrays, codegen)
    against the small signature table — at scale this is what keeps the
    exact verifier off the ~n² candidate explosion a shared-vocab corpus
    produces in the band join. ``margin`` ≈ 2.5σ of the k=64 estimator, so
    the recall loss is small but nonzero (~0.6% of true pairs exactly at
    threshold for k=64) — pass ``margin`` large (e.g. ``threshold``, making
    the cutoff 0) to disable the prune and verify every LSH candidate
    exactly.
    """
    joined = attach_pair_sides(pairs, signatures, id_col, "signature", "sig_a", "sig_b")
    k = F.greatest(F.size("sig_a"), F.lit(1))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / k
    )
    return joined.withColumn("_est", est).filter(
        F.col("_est") >= threshold - margin
    ).select("id_a", "id_b")


def attach_pair_sides(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    value_col: str,
    out_a: str,
    out_b: str,
) -> DataFrame:
    """(id_a, id_b, <out_a>, <out_b>) with the values looked up from
    ``df`` — via ONE join, never two.

    The obvious shape (alias ``df`` twice, join once per side) instantiates
    the same lookup subtree twice in one plan. When that subtree is itself
    exchange-heavy (the query-index path: a candidate semi-join prune),
    Spark 4.1.2's AQE can reuse an exchange across the two copies with
    mismatched partitioning, and every pair touching an id split over
    partitions fans out into duplicate result rows (pinned by
    test_near_dups_of_wave_no_duplicate_pairs). Unpivoting to one row per
    (pair, side) and regrouping keeps the lookup subtree single-instance —
    immune to the misplan, and the corpus-sized exchange runs once
    instead of twice (half the big-side shuffle volume at scale; the
    regroup shuffles only candidate-sized pair rows).

    Semantics vs the naive double join — identical when ``df`` has ONE
    non-null value per id (every internal caller: each id is fingerprinted
    and committed once). A pair either of whose ids is absent from ``df``
    is dropped (inner semantics). Divergences, pinned in
    test_attach_pair_sides_matches_naive_double_join /
    test_attach_pair_sides_divergence_cases_pinned: an all-NULL value
    drops the pair (the double join would carry the NULL through);
    duplicate lookup rows with the SAME value collapse to one row (the
    double join would fan the pair out); duplicate lookup rows with
    CONFLICTING values — or NULL mixed with non-NULL — RAISE at
    execution instead of silently scoring the pair against an arbitrary
    copy's value (an id committed twice with different values is a
    caller bug, never scored silently; the conflict check rides the same
    hash aggregate, no extra shuffle, and compares 8-byte
    ``xxhash64(value)`` digests rather than the raw payload — document
    texts / embedding vectors flow through the aggregation state and
    shuffle ONCE, as the output ``max``, never a second time for the
    check; a 64-bit digest collision masking a real conflict is
    ~2⁻⁶⁴ per pair, negligible for a sanity check). Duplicate identical
    PAIR rows collapse to one via the regroup — candidate pairs are
    distinct upstream (band joins dedupe), and one-row-per-pair is what
    every verifier wants. ``value_col`` must be a hashable, orderable
    type (string / binary / numeric / array — everything the verifiers
    attach); maps fail the digest at analysis time.

    RESERVED NAMES: ``out_a``/``out_b`` must differ from each other and
    from ``id_a``/``id_b`` and the internal aliases (``_side_id``,
    ``_v``, ``_lo_*``/``_hi_*``/``_n_*``/``_nv_*``), and ``id_col`` must
    differ from ``value_col`` — validated up front with a clear error
    instead of a downstream duplicate/ambiguous-column analysis
    failure."""
    reserved = {
        "id_a", "id_b", "_side_id", "_v",
        "_lo_a", "_lo_b", "_hi_a", "_hi_b",
        "_n_a", "_n_b", "_nv_a", "_nv_b",
    }
    bad = {out_a, out_b} & reserved
    if bad or out_a == out_b:
        raise ValueError(
            f"attach_pair_sides: out_a/out_b must be distinct and avoid "
            f"the reserved names {sorted(reserved)}; got out_a={out_a!r}, "
            f"out_b={out_b!r}"
        )
    if id_col == value_col:
        raise ValueError(
            f"attach_pair_sides: id_col and value_col must differ; got "
            f"{id_col!r} for both"
        )
    # "_side_id", not id_col, as the exploded alias: a caller whose
    # id_col is literally "id_a"/"id_b" must not collide with the pair
    # columns (AMBIGUOUS_REFERENCE at plan time otherwise).
    sides = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("_side_id")
    )
    vals = df.select(F.col(id_col).alias("_side_id"), F.col(value_col).alias("_v"))
    is_a = F.col("_side_id") == F.col("id_a")
    is_b = F.col("_side_id") == F.col("id_b")
    va, vb = F.when(is_a, F.col("_v")), F.when(is_b, F.col("_v"))
    # 8-byte uniformity digests (docstring): NULL values stay NULL so
    # the nv/n counting still separates all-NULL from mixed sides
    dig = F.xxhash64(F.col("_v"))
    da = F.when(is_a & F.col("_v").isNotNull(), dig)
    db = F.when(is_b & F.col("_v").isNotNull(), dig)
    grouped = (
        sides.join(vals, "_side_id")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(va).alias(out_a),
            F.max(vb).alias(out_b),
            F.min(da).alias("_lo_a"),
            F.min(db).alias("_lo_b"),
            F.max(da).alias("_hi_a"),
            F.max(db).alias("_hi_b"),
            F.count(F.when(is_a, F.lit(1))).alias("_n_a"),
            F.count(F.when(is_b, F.lit(1))).alias("_n_b"),
            F.count(va).alias("_nv_a"),
            F.count(vb).alias("_nv_b"),
        )
    )

    def _uniform(n: str, nv: str, lo: str, hi: str) -> F.Column:
        # a side is clean iff its matched lookup rows are all NULL
        # (pair drops below) or all equal and non-NULL; 0 < nv < n is
        # the NULL/non-NULL mix, lo != hi the conflicting-digest case
        return (F.col(nv) == 0) | (
            (F.col(nv) == F.col(n)) & F.col(lo).eqNullSafe(F.col(hi))
        )

    ok = _uniform("_n_a", "_nv_a", "_lo_a", "_hi_a") & _uniform(
        "_n_b", "_nv_b", "_lo_b", "_hi_b"
    )
    msg = F.concat_ws(
        " ",
        F.lit(
            "attach_pair_sides: conflicting lookup rows (different values,"
            " or NULL mixed with non-NULL) for an id of pair"
        ),
        F.col("id_a").cast("string"),
        F.col("id_b").cast("string"),
        F.lit("- collapse df to one row per id first"),
    )
    # assert_true lives in a filter so the optimizer cannot prune it as
    # an unused projection; it returns NULL (isNull -> keep) on clean
    # rows and raises on the first conflicting one
    return (
        grouped.filter(F.assert_true(ok, msg).isNull())
        .filter(F.col(out_a).isNotNull() & F.col(out_b).isNotNull())
        .select("id_a", "id_b", out_a, out_b)
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only. Texts attach via
    a single-instance corpus join (``attach_pair_sides``).

    Shingle sets are memoized per PARTITION (the dict outlives Arrow
    batches). The regroup hash-partitions pairs by (id_a, id_b), so a
    document in m pairs is shingled in up to min(m, n_partitions)
    partitions — the pre-attach layout clustered the id_b side into one
    partition (one shingle pass) but scattered id_a identically, and
    cost the corpus exchange twice; re-clustering post-regroup would
    mean one more exchange of full pair texts, a worse trade than
    min(m, P) re-shingles of the hot docs."""
    joined = attach_pair_sides(pairs, df, id_col, text_col, "text_a", "text_b")

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}

        def shingles(doc_id, text):
            got = memo.get(doc_id)
            if got is None:
                got = memo[doc_id] = _shingle_hashes_fast(text, shingle_n)
            return got

        for pdf in batches:
            jac = []
            for ia, ib, ta, tb in zip(pdf["id_a"], pdf["id_b"], pdf["text_a"], pdf["text_b"]):
                sa = shingles(ia, ta)
                sb = shingles(ib, tb)
                if len(sa) == 0 and len(sb) == 0:
                    jac.append(1.0)
                    continue
                inter = len(np.intersect1d(sa, sb, assume_unique=True))
                union = len(sa) + len(sb) - inter
                jac.append(inter / union if union else 0.0)
            yield pd.DataFrame({"id_a": pdf["id_a"], "id_b": pdf["id_b"], "jaccard": jac})

    from pyspark.sql.types import DoubleType, StructField

    out_schema = _id_derived_schema(
        joined, ["id_a", "id_b"], [StructField("jaccard", DoubleType())]
    )
    out = joined.mapInPandas(verify, out_schema)
    return out.filter(F.col("jaccard") >= threshold)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    threshold: float = 0.7,
    seed: int = 42,
    margin: float | None = 0.15,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: signatures → band candidates →
    estimate prune → exact Jaccard verify.

    ``margin=None`` disables the MinHash-estimate prune (every LSH
    candidate goes to the exact verify — no estimator recall loss, at
    the cost of exact-verifying ~n² candidates on boilerplate corpora).
    ``bucket_cap`` bounds per-bucket membership; dropped volume is
    logged by ``_cap_hot_buckets``. Returns a lazy plan over the cut
    signature table (``cache.py``)."""
    # the signature table feeds both sides of the band self-join and the
    # estimate filter: cut it so the Arrow signature pass — the costliest
    # stage — runs once
    sigs = cache.cut(
        minhash_signatures(df, id_col, text_col, k=k, shingle_n=shingle_n, seed=seed)
    )
    pairs = minhash_lsh_candidates(
        sigs, id_col, bands=bands, rows_per_band=k // bands, bucket_cap=bucket_cap
    )
    if margin is not None:
        pairs = estimate_filter(pairs, sigs, id_col, threshold=threshold, margin=margin)
    return jaccard_verify(pairs, df, id_col, text_col, shingle_n, threshold)


# ------------------------------------------- incremental band-bucket index
#
# The batch path above re-fingerprints and self-joins the WHOLE corpus per
# invocation — the right correctness baseline, the wrong shape for a crawl
# that adds a wave of documents to a 10^10-doc corpus. The index persists
# the banded bucket table once: wave-N documents are fingerprinted once and
# band-JOINED against committed buckets, so per-wave cost is
# O(new × matching buckets), never a full-corpus re-scan. ``path`` is the
# root of a ``SnapshotCatalog`` holding two append-only tables:
#   bands  (band, bucket, id)     — partitioned by band
#   sigs   (id, signature)        — for the MinHash-estimate prune
# A commit appends both in one transaction of that catalog, whose log
# entry records the commit's ``wave``: the index holds a commit whole or
# not at all, and its log head names the last one. Exact-verify texts come
# from a keyed join against the documents table (candidate ids only —
# column-pruned, not a corpus pass through Python). Each id is committed
# once; an id committed twice with different signatures or texts makes
# the query raise (``attach_pair_sides``' conflict check).

INDEX_BANDS = "bands"
INDEX_SIGS = "sigs"


def minhash_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    seed: int = 42,
) -> None:
    """Commit a corpus slice to the persisted MinHash index (creating it
    on first use) — one Arrow fingerprint pass, two appends. Each call
    records the next wave id (the count of ``sigs`` commits so far)."""
    # both index tables read the signatures: cut so the pass runs once
    sigs = cache.cut(
        minhash_signatures(df, id_col, text_col, k=k, shingle_n=shingle_n, seed=seed)
    )
    wave = SnapshotCatalog(df.sparkSession, path).current_version(INDEX_SIGS) or 0
    minhash_index_write_sigs(sigs, path, wave, id_col=id_col, k=k, bands=bands)


def minhash_index_write_sigs(
    sigs: DataFrame,
    path: str,
    wave: int,
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
) -> None:
    """Commit PRE-COMPUTED ``(id, signature)`` rows to the index — the
    path the frontier engine uses (the wave's fused extract+fingerprint
    pass already produced the signatures). ``bands`` and ``sigs`` publish
    together, recording ``wave``. No caching: ``sigs`` is read twice, so
    pass a cheap plan (a parquet scan or a cut)."""
    index = SnapshotCatalog(sigs.sparkSession, path)
    sigs = sigs.select(id_col, "signature")
    with index.transaction(wave=wave):
        index.append(
            INDEX_BANDS, band_explode(sigs, id_col, bands, k // bands), partition_by=["band"]
        )
        index.append(INDEX_SIGS, sigs)


def minhash_query_index(
    new_df: DataFrame,
    path: str,
    corpus_texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    seed: int = 42,
    threshold: float = 0.7,
    margin: float | None = 0.15,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of NEW documents vs the committed index (plus
    new-vs-new within the batch) — identical semantics to running
    ``minhash_near_duplicates`` over the whole corpus and keeping only
    pairs that touch a new id (pair-parity pinned in tests), at
    incremental cost: only the new docs go through the Arrow fingerprint
    pass; the corpus side is a parquet scan of the index.

    ``corpus_texts`` supplies (id, text) for the exact Jaccard verify —
    pass the documents table; it is pruned to candidate ids before the
    verify joins it, and it must hold one text per id (a conflicting
    duplicate raises). Returns a lazy plan over the cut new-signature
    table and the cut candidate pairs (``cache.py``).

    ``new_sigs`` (optional ``(id, signature)`` rows) skips the Arrow
    fingerprint pass over ``new_df`` entirely — pass it when the wave's
    signatures already exist (the frontier's fused extract+fingerprint
    stores them on the documents row): the query then runs ZERO
    signature passes, new or corpus."""
    spark = new_df.sparkSession
    if new_sigs is None:
        new_sigs = minhash_signatures(
            new_df, id_col, text_col, k=k, shingle_n=shingle_n, seed=seed
        )
    else:
        new_sigs = new_sigs.select(id_col, "signature")
    new_sigs = cache.cut(new_sigs)
    new_banded = band_explode(new_sigs, id_col, bands, k // bands)
    index = SnapshotCatalog(spark, path)
    idx_bands = index.read(INDEX_BANDS)
    idx_sigs = index.read(INDEX_SIGS)

    n, o = new_banded.alias("n"), idx_bands.alias("o")
    cross = (
        n.join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bucket") == F.col("o.bucket"))
            & (F.col(f"n.{id_col}") != F.col(f"o.{id_col}")),
        )
        .select(
            F.least(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    within = minhash_lsh_candidates(new_sigs, id_col, bands=bands, rows_per_band=k // bands)
    pairs = cross.unionByName(within).distinct()
    # the candidate-id set prunes both verify inputs (each consumer would
    # re-run the band join otherwise): cut the small pair set
    pairs = cache.cut(pairs)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if margin is not None:
        # estimate prune: new ids use the freshly computed signatures,
        # index ids the stored ones — nothing is re-fingerprinted. The
        # stored sigs are pruned to candidate ids, so the corpus-scale
        # index never reaches the estimate join's exchange. The wave's
        # own ids are dropped from them: the engine commits the wave's
        # signatures to the index before it queries the wave.
        stored = idx_sigs.join(cand_ids, id_col, "left_semi")
        stored = stored.join(new_sigs.select(id_col), id_col, "left_anti")
        all_sigs = new_sigs.unionByName(stored)
        pairs = estimate_filter(pairs, all_sigs, id_col, threshold=threshold, margin=margin)
    # the verify reads texts of candidate ids only: without the prune,
    # attach_pair_sides would shuffle the whole corpus text column
    corpus_texts = corpus_texts.join(cand_ids, id_col, "left_semi")
    return jaccard_verify(pairs, corpus_texts, id_col, text_col, shingle_n, threshold)


def fingerprint_text(
    text: str,
    a: np.ndarray,
    b: np.ndarray,
    k: int,
    minhash_shingle_n: int = 5,
    simhash_shingle_n: int = 4,
) -> tuple[np.ndarray, int]:
    """One document's (minhash signature int64[k], simhash int64) from the
    same two kernels ``minhash_signatures`` and ``simhash_signatures`` run,
    sharing the shingle pass when both use the same shingle size — the
    frontier's fused extract+fingerprint wave UDF calls it per page."""
    sh = _shingle_hashes_fast(text, minhash_shingle_n)
    sh2 = sh if simhash_shingle_n == minhash_shingle_n else _shingle_hashes_fast(text, simhash_shingle_n)
    return _minhash_of(sh, a, b, k), _simhash_of(sh2)


# -------------------------------------------------------------- simhash


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 4
) -> DataFrame:
    """64-bit SimHash over shingle hashes (unweighted), vectorized."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sims = [_simhash_of(_shingle_hashes_fast(t, shingle_n)) for t in pdf[text_col]]
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sims})

    from pyspark.sql.types import LongType, StructField

    selected = df.select(id_col, text_col)
    out_schema = _id_derived_schema(
        selected, [id_col], [StructField("simhash", LongType())]
    )
    return selected.mapInPandas(compute, out_schema)


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_n: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Block-technique retrieval: any pair within Hamming distance k must
    agree on ≥1 of k+1 disjoint blocks (pigeonhole) → join per block,
    verify popcount on candidates only.

    ``bucket_cap`` bounds per-(block, block_val) membership before the
    self-join (hot-bucket guard, same rationale as the MinHash path);
    dropped volume is logged, never silent. Returns a lazy plan over the
    cut block table (``cache.py``)."""
    sigs = simhash_signatures(df, id_col, text_col, shingle_n)
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    # unrolled in Python: shift amounts must be literals
    block_vals = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(F.lit((1 << width) - 1))
            for b in range(n_blocks)
        ]
    )
    blocks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(block_vals).alias("block", "block_val"),
    )
    if bucket_cap is not None:
        blocks = _cap_hot_buckets(
            blocks, ["block", "block_val"], id_col, bucket_cap, "simhash_near_duplicates"
        )
    else:
        # the self-join below otherwise recomputes the simhash Arrow pass
        # for each side (the capped path is already cut)
        blocks = cache.cut(blocks)
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sig_a"),
            F.col("r.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
