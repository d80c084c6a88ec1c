"""Similarity search over embedding columns (array<float>).

Two paths, as a training-data pipeline needs at 100 TB:

- brute-force cosine top-k: correctness baseline. The dot product stays
  JVM-side (``aggregate(zip_with(...))``) against a broadcast query
  vector — no Python in the loop, one narrow scan + a top-k sort that
  Spark executes as partial top-k per partition (TakeOrderedAndProject).
- LSH-bucketed ANN: random-hyperplane signatures (seeded, deterministic)
  → candidates share a signature bucket in ≥1 band → exact cosine only
  on candidates. The bucket join is the only shuffle; brute-force cost
  drops from n to n/2^bits per probe at recall governed by n_tables.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from judyst_web_crawler_spark import cache


def _vec(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_product(a: Column | str, b: Column | str) -> Column:
    """JVM-side dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(_vec(a), _vec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_vec(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_to_query(vec_col: Column | str, query: list[float]) -> Column:
    """Cosine similarity of each row's vector to a constant query vector.

    The query is a literal array — Catalyst folds it; zero-norm rows get
    cosine 0.0 (defined, deterministic).
    """
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = float(np.linalg.norm(query))
    denom = l2_norm(vec_col) * F.lit(qn)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_product(vec_col, q) / denom)


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine. orderBy+limit compiles to per-partition
    partial top-k + single merge (no full sort shuffle)."""
    return (
        df.select(F.col(id_col), F.round(cosine_to_query(vec_col, query), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ----------------------------------------------------------------- LSH


# one implementation of the derive-output-schema-from-input-types
# contract for every Arrow kernel in the package (same unification as
# cache.py's persist/release protocol — it briefly existed twice, here
# and in dedup_fuzzy); attach_pair_sides rides along for the
# single-instance pair-side lookup below
from judyst_web_crawler_spark.operators.dedup_fuzzy import (  # noqa: E402
    _id_derived_schema as _derived_schema,
    attach_pair_sides,
)


def _hyperplanes(dim: int, n_tables: int, bits: int, seed: int) -> np.ndarray:
    """(n_tables, bits, dim) deterministic pseudo-gaussian hyperplanes
    via seeded Generator — same planes on every executor."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, bits, dim)).astype(np.float32)


def lsh_signatures(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    bits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """(id, table, bucket) — sign pattern of ``bits`` hyperplane dots per
    table, packed to an int bucket id. Vectorized numpy over Arrow batches."""
    planes = _hyperplanes(dim, n_tables, bits, seed)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = (1 << np.arange(bits)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy())  # (n, dim)
            ids = pdf[id_col].to_numpy()
            out_ids, out_tables, out_buckets = [], [], []
            for t in range(n_tables):
                proj = mat @ planes[t].T  # (n, bits)
                buckets = ((proj > 0).astype(np.int64) * weights).sum(axis=1)
                out_ids.append(ids)
                out_tables.append(np.full(len(ids), t, dtype=np.int32))
                out_buckets.append(buckets)
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(out_ids),
                    "table": np.concatenate(out_tables),
                    "bucket": np.concatenate(out_buckets),
                }
            )

    from pyspark.sql.types import IntegerType, LongType, StructField

    out_schema = _derived_schema(
        df.select(id_col, vec_col),
        [id_col],
        [StructField("table", IntegerType()), StructField("bucket", LongType())],
    )
    return df.select(id_col, vec_col).mapInPandas(compute, out_schema)


def arith_hyperplanes(dim: int, n_tables: int, bits: int) -> list[list[list[float]]]:
    """(n_tables, bits, dim) deterministic hyperplanes from PURE INTEGER
    arithmetic — small exact rationals k/1001 in [-1, 1] that a SQL
    oracle (DuckDB) can re-derive or embed verbatim, unlike the
    Generator-based ``_hyperplanes``. Knuth multiplicative hash over the
    flat index, folded to [-1001, 1001]."""
    planes = []
    for t in range(n_tables):
        table = []
        for j in range(bits):
            row = []
            for d in range(dim):
                h = (((t * bits + j) * dim + d) * 2654435761 + 40503) % (1 << 32)
                row.append(((h % 2003) - 1001) / 1001.0)
            table.append(row)
        planes.append(table)
    return planes


def lsh_bucket_col(vec_col: Column | str, table_planes: list[list[float]]) -> Column:
    """JVM-side sign-LSH bucket id for ONE table: bit j set iff
    dot(vec, plane_j) > 0, planes folded in as literal arrays (codegen,
    no Python). The left-to-right ``aggregate`` fold makes the double
    summation order identical to a SQL oracle's sequential dot product,
    so the sign — and therefore the bucket — matches exactly."""
    out = None
    for j, plane in enumerate(table_planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot_product(_vec(vec_col), p) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        out = bit if out is None else out + bit
    return out.cast("long")


def query_buckets(query: list[float], planes: list[list[list[float]]]) -> list[int]:
    """Driver-side bucket of the query vector per table — same sign rule
    as ``lsh_bucket_col``, plain Python (the query is a constant)."""
    probes = []
    for table in planes:
        b = 0
        for j, plane in enumerate(table):
            acc = 0.0
            for q, p in zip(query, plane):
                acc += float(q) * float(p)
            if acc > 0:
                b |= 1 << j
        probes.append(b)
    return probes


def ann_candidates(
    df: DataFrame,
    query: list[float],
    planes: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "arrow",
) -> DataFrame:
    """The sign-LSH candidate set for ``query``: vectors whose bucket
    matches the query's bucket in ≥1 table. The single normative probe
    rule — the driver's ann_recall query ranks these with
    ``brute_force_topk`` and measures recall over this exact set, so the
    bucket fold cannot drift between the two.

    ``engine='arrow'`` (default) computes every bucket in ONE vectorized
    pandas pass with the EXACT sequential summation the Column fold and
    the SQL oracle use — ``acc = acc + v[i]*p[i]`` left-to-right, one
    IEEE-double mul + add per element, vectorized ACROSS rows and planes,
    never reassociated (so no np.dot, whose pairwise/SIMD summation
    reorders) — giving bit-identical buckets at ~100× the throughput:
    Spark does NOT codegen higher-order functions, so the ``engine='jvm'``
    Column path evaluates tables×bits interpreted 64-step lambda folds
    per row (~25 s for 5000×80 at sf0.1; the Arrow pass is the production
    shape). Bucket equality between the two engines is pinned in tests."""
    probes = query_buckets(query, planes)
    if engine == "jvm":
        sig = df.select(
            id_col, vec_col,
            *[lsh_bucket_col(vec_col, tp).alias(f"_b{t}") for t, tp in enumerate(planes)],
        )
        match = None
        for t, qb in enumerate(probes):
            c = F.col(f"_b{t}") == qb
            match = c if match is None else (match | c)
        return sig.filter(match).select(id_col, vec_col)

    P = np.asarray(planes, dtype=np.float64)  # (tables, bits, dim)
    n_tables, bits, dim = P.shape
    flat = np.ascontiguousarray(P.reshape(n_tables * bits, dim))
    weights = (1 << np.arange(bits)).astype(np.int64)
    probe_arr = np.asarray(probes, dtype=np.int64)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col]
            # NULL vectors can never match a probe (the Column fold yields
            # NULL buckets, dropped by the filter) — same rule here
            ok = np.fromiter((v is not None for v in vecs), bool, len(vecs))
            if not ok.any():
                continue
            sub = pdf[ok]
            V = np.stack([np.asarray(v, dtype=np.float64) for v in sub[vec_col]])
            acc = np.zeros((len(V), n_tables * bits), dtype=np.float64)
            for i in range(dim):  # sequential over i = the normative order
                acc += V[:, i : i + 1] * flat[None, :, i]
            bit_on = (acc > 0).reshape(len(V), n_tables, bits)
            buckets = bit_on @ weights  # (rows, tables) int64
            hit = (buckets == probe_arr[None, :]).any(axis=1)
            if hit.any():
                yield sub.loc[sub.index[hit], [id_col, vec_col]]

    # matches the engine='jvm' path's type contract (_derived_schema)
    out_schema = _derived_schema(df.select(id_col, vec_col), [id_col, vec_col], [])
    return df.select(id_col, vec_col).mapInPandas(compute, out_schema)


def ann_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    bits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket in every table, exact
    cosine on the candidate union only."""
    dim = len(query)
    planes = _hyperplanes(dim, n_tables, bits, seed)
    q = np.asarray(query, dtype=np.float32)
    weights = (1 << np.arange(bits)).astype(np.int64)
    probes = [
        (t, int((((planes[t] @ q) > 0).astype(np.int64) * weights).sum()))
        for t in range(n_tables)
    ]
    spark = df.sparkSession
    probe_df = spark.createDataFrame(probes, "table int, bucket long")
    sigs = lsh_signatures(df, dim, id_col, vec_col, n_tables, bits, seed)
    cand_ids = (
        sigs.join(F.broadcast(probe_df), on=["table", "bucket"], how="inner")
        .select(id_col)
        .distinct()
    )
    cands = df.join(cand_ids, on=id_col, how="inner")
    return brute_force_topk(cands, query, k, id_col, vec_col)


# ----------------------------------------------------------------- IVF


def train_ivf_centroids(
    df: DataFrame,
    dim: int | None = None,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2048,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means on a deterministic sample.

    The sample (≤``sample`` rows, ordered by id — reproducible) is small
    by design: centroids are a tiny model trained once driver-side and
    broadcast; ASSIGNMENT is the distributed part. Lloyd iterations in
    numpy with seeded init — no RNG state leaks into executors.
    """
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    if not rows:
        raise ValueError("train_ivf_centroids: empty input — nothing to index")
    mat = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    cents = mat[rng.choice(len(mat), size=min(n_cells, len(mat)), replace=False)]
    for _ in range(iters):
        d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) — nearest-centroid assignment, vectorized per Arrow
    batch against the broadcast centroid matrix. At 100 TB this is the
    one full pass; probes then touch only nprobe/n_cells of the data
    (write the output bucketed by ``cell`` for partition pruning)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids.astype(np.float64))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = (mat**2).sum(1)[:, None] - 2 * mat @ cents.T + (cents**2).sum(1)[None, :]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cell": d2.argmin(axis=1).astype(np.int32)}
            )

    from pyspark.sql.types import IntegerType, StructField

    selected = df.select(id_col, vec_col)
    out_schema = _derived_schema(selected, [id_col], [StructField("cell", IntegerType())])
    return selected.mapInPandas(compute, out_schema)


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: exact cosine only over the ``nprobe``
    cells nearest the query (the scale path next to LSH ``ann_topk``)."""
    dim = len(query)
    cents = train_ivf_centroids(df, dim, n_cells=n_cells, id_col=id_col, vec_col=vec_col, seed=seed)
    q = np.asarray(query, dtype=np.float64)
    d2 = ((cents - q[None, :]) ** 2).sum(axis=1)
    probe_cells = [int(c) for c in d2.argsort()[:nprobe]]
    assigned = ivf_assign(df, cents, id_col, vec_col)
    cand_ids = assigned.filter(F.col("cell").isin(probe_cells)).select(id_col)
    cands = df.join(cand_ids, on=id_col, how="left_semi")
    return brute_force_topk(cands, query, k, id_col, vec_col)


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 6,
    bits: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold: LSH bucket
    self-join for candidates, exact cosine verify. (id_a < id_b).
    Returns a lazy plan over the cut signature table (``cache.py``)."""
    # the self-join consumes the signature subplan twice — cut it so the
    # Arrow hyperplane pass runs once (same rationale as the MinHash path)
    sigs = cache.cut(lsh_signatures(df, dim, id_col, vec_col, n_tables, bits, seed))
    l, r = sigs.alias("l"), sigs.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    # single-instance vector lookup: one join + regroup instead of two
    # aliased joins — halves the embeddings exchange and avoids the AQE
    # exchange-reuse misplan a twice-instantiated lookup subtree can
    # trigger (see dedup_fuzzy.attach_pair_sides)
    joined = attach_pair_sides(pairs, df, id_col, vec_col, "vec_a", "vec_b")
    denom = l2_norm("vec_a") * l2_norm("vec_b")
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(dot_product("vec_a", "vec_b") / denom)
    return joined.select("id_a", "id_b", F.round(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )
