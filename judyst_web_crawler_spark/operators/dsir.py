"""DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169 — public).

Given a RAW corpus and a small TARGET corpus (the distribution you want
more of), score every raw document by how target-like it is and keep the
top-k. The published recipe, reproduced here Spark-first:

1. featurize each document as a bag of hashed unigrams+bigrams
   (``n_buckets`` buckets — collisions are part of the estimator);
2. fit two smoothed categorical distributions over buckets, p̂ (target)
   and q̂ (raw);
3. log importance weight of a document with bucket counts c:
   ``log w = Σ_b c_b · (log p̂_b − log q̂_b)``;
4. select by adding per-document Gumbel noise to ``log w`` and taking
   the global top-k (Gumbel-top-k ≡ sampling without replacement
   proportionally to w).

Scale shape (the reason this fits 100 TB):

- featurization is one narrow pass: ``split``/``zip_with``/``explode``
  + a map-side-combinable ``groupBy(id, bucket)`` — no Python;
- the fitted ratio table is exactly ``n_buckets`` rows (10⁴ default) —
  broadcast to every executor, so scoring is a broadcast join + one
  ``groupBy(id)`` sum: a single shuffle over (id, bucket) pairs;
- selection is ``TakeOrderedAndProject`` (top-k without a full sort);
  Gumbel noise is derived from ``xxhash64(id, seed)`` so the sample is
  deterministic and reproducible across retries/speculative tasks
  (cluster-safe randomness — no ``rand()`` re-evaluation hazard).

The reference engine has no analogue (its corpus fits one process);
this is part of the training-data-pipeline family the brief adds
(exact/MinHash/SimHash dedup, quality filters, lang-ID live in
dedup_fuzzy.py / textstats.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from judyst_web_crawler_spark import cache

TOKEN_SPLIT_RE = r"\s+"


def _tokens(text_col: Column) -> Column:
    return F.filter(
        F.split(F.lower(text_col), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def _grams(toks: Column) -> Column:
    """unigrams ++ bigrams ("a b") of a token array — built-in array ops
    only (slice/zip_with), no UDF."""
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def default_bucket(gram: Column, n_buckets: int) -> Column:
    """xxhash64 → bucket; the production hasher."""
    return F.pmod(F.xxhash64(gram), F.lit(n_buckets))


def hashed_ngram_features(
    docs: DataFrame,
    n_buckets: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_fn: Callable[[Column, int], Column] | None = None,
) -> DataFrame:
    """(id, bucket, cnt) hashed unigram+bigram counts per document.
    ``bucket_fn`` overrides the hasher (the driver oracle uses an
    arithmetic surrogate both Spark and DuckDB can compute)."""
    bucket_fn = bucket_fn or default_bucket
    grams = docs.select(
        F.col(id_col), F.explode(_grams(_tokens(F.col(text_col)))).alias("gram")
    )
    return (
        grams.select(id_col, bucket_fn(F.col("gram"), n_buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def bucket_log_ratio(
    spark: SparkSession,
    target_feats: DataFrame,
    raw_feats: DataFrame,
    n_buckets: int = 10_000,
    alpha: float = 1.0,
) -> DataFrame:
    """Dense (bucket, log_ratio) table: ``log p̂_b − log q̂_b`` with
    add-``alpha`` smoothing. Dense over all ``n_buckets`` buckets so the
    scoring join never misses (a gram unseen in either corpus gets the
    prior ratio). Two scalar totals are collected to the driver — the
    only driver-side values in the fit."""
    t = target_feats.groupBy("bucket").agg(F.sum("cnt").alias("_t"))
    r = raw_feats.groupBy("bucket").agg(F.sum("cnt").alias("_r"))
    t_total, r_total = (
        t.agg(F.sum("_t")).first()[0] or 0,
        r.agg(F.sum("_r")).first()[0] or 0,
    )
    dense = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    return (
        dense.join(t, on="bucket", how="left")
        .join(r, on="bucket", how="left")
        .select(
            "bucket",
            (
                F.log((F.coalesce("_t", F.lit(0)) + alpha) / (t_total + alpha * n_buckets))
                - F.log((F.coalesce("_r", F.lit(0)) + alpha) / (r_total + alpha * n_buckets))
            ).alias("log_ratio"),
        )
    )


def importance_weights(
    doc_feats: DataFrame, log_ratio: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, log_weight): Σ_b c_b · log_ratio_b. The ratio table is tiny
    (n_buckets rows) — broadcast, so this is one shuffle on id."""
    return (
        doc_feats.join(F.broadcast(log_ratio), on="bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_weight"))
    )


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_fn: Callable[[Column, int], Column] | None = None,
) -> DataFrame:
    """End-to-end: featurize once, fit p̂ on ``is_target`` rows and q̂ on
    the whole corpus, score every document. The feature table feeds the
    two fits and the scoring join, so it is cut (``cache.py``) and the
    featurization pass runs once; the result is a lazy plan over it."""
    spark = docs.sparkSession
    feats = cache.cut(
        hashed_ngram_features(
            docs, n_buckets, id_col=id_col, text_col=text_col, bucket_fn=bucket_fn
        )
    )
    target_ids = docs.filter(is_target).select(id_col)
    ratio = bucket_log_ratio(
        spark,
        feats.join(F.broadcast(target_ids), on=id_col),
        feats,
        n_buckets,
        alpha,
    )
    return importance_weights(feats, ratio, id_col=id_col)


def gumbel_top_k(
    weights: DataFrame,
    k: int,
    seed: int = 0,
    id_col: str = "doc_id",
    temperature: float = 1.0,
) -> DataFrame:
    """Top-k by ``log_weight/temperature + Gumbel(0,1)`` — importance
    RESAMPLING without replacement (the paper's selection step), not a
    hard top-k. The Gumbel draw comes from ``xxhash64(id, seed)`` mapped
    to (0,1): deterministic per (id, seed), stable under task retries —
    the property ``rand()`` lacks on a real cluster. ``temperature=0``
    is approximated by plain top-k on weight (pass a tiny temperature
    instead of 0 to keep the draw well-defined)."""
    u = (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000_007))
         .cast("double") + 0.5) / 1_000_000_007.0
    gumbel = -F.log(-F.log(u))
    key = (
        (F.col("log_weight") / temperature + gumbel)
        if temperature
        else F.col("log_weight")
    )
    return (
        weights.select(id_col, "log_weight", key.alias("_key"))
        # id tiebreak: equal weights (identical token multisets — planted
        # duplicates are common in dedup corpora) at the k-boundary must
        # cut deterministically, and identically to any SQL oracle
        .orderBy(F.col("_key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_key")
    )
