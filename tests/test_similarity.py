"""Similarity search over the driver embeddings table: ANN vs exact,
deterministic arithmetic hyperplanes, the Arrow ANN candidate path
against the Column fold, and the ``cache.cut`` seam of the embedding
near-dup operator."""

from __future__ import annotations

import numpy as np
from helpers import seam_parity
from pyspark.sql import functions as F

from judyst_web_crawler_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _query(spark):
    row = _emb(spark).orderBy("vec_id").first()
    return [float(x) for x in row["embedding"]]


def test_brute_force_topk_matches_numpy(spark):
    emb = _emb(spark).cache()
    q = np.array(_query(spark))
    got = S.brute_force_topk(emb, list(q), k=5).collect()
    rows = emb.collect()
    sims = []
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        denom = np.linalg.norm(v) * np.linalg.norm(q)
        sims.append((round(float(v @ q / denom) if denom else 0.0, 6), -r["vec_id"]))
    want = sorted(sims, reverse=True)[:5]
    assert [r["cosine"] for r in got] == [s for s, _ in want]
    emb.unpersist()


def test_ann_recall(spark):
    emb = _emb(spark).cache()
    q = _query(spark)
    exact = {r["vec_id"] for r in S.brute_force_topk(emb, q, k=5).collect()}
    approx = {r["vec_id"] for r in S.ann_topk(emb, q, k=5, n_tables=12, bits=6).collect()}
    # generous-table LSH on a 50-vector table should recover most of top-5
    assert len(exact & approx) >= 3
    emb.unpersist()


def test_ivf_topk_recall(spark):
    emb = _emb(spark).cache()
    q = _query(spark)
    exact = {r["vec_id"] for r in S.brute_force_topk(emb, q, k=5).collect()}
    # coarse IVF with generous probes on a small table: high recall
    approx = {r["vec_id"] for r in S.ivf_topk(emb, q, k=5, n_cells=8, nprobe=4).collect()}
    assert len(exact & approx) >= 4
    # nprobe = n_cells degenerates to exact brute force
    full = {r["vec_id"] for r in S.ivf_topk(emb, q, k=5, n_cells=8, nprobe=8).collect()}
    assert full == exact
    emb.unpersist()


def test_ivf_assign_partitions_all_rows(spark):
    emb = _emb(spark)
    cents = S.train_ivf_centroids(emb, dim=64, n_cells=4)
    assigned = S.ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= set(range(4)) and len(cells) >= 2


def test_embedding_near_duplicates_finds_planted(spark):
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.999, 0.04, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = S.embedding_near_duplicates(df, dim=4, threshold=0.95, n_tables=8, bits=2).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_lsh_bucket_col_matches_python(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    planes = S.arith_hyperplanes(64, 2, 4)
    got = {
        r["vec_id"]: (r["b0"], r["b1"])
        for r in emb.select(
            "vec_id",
            S.lsh_bucket_col("embedding", planes[0]).alias("b0"),
            S.lsh_bucket_col("embedding", planes[1]).alias("b1"),
        ).collect()
    }
    for r in emb.collect():
        vec = [float(x) for x in r["embedding"]]
        want = []
        for table in planes:
            b = 0
            for j, plane in enumerate(table):
                acc = 0.0
                for q, p in zip(vec, plane):
                    acc += q * p
                if acc > 0:
                    b |= 1 << j
            want.append(b)
        assert got[r["vec_id"]] == tuple(want)


def test_ann_candidates_recall_floor(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).cache()
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    exact = {r["vec_id"] for r in S.brute_force_topk(emb, q, k=5).collect()}
    planes = S.arith_hyperplanes(64, 16, 4)
    cands = S.ann_candidates(emb, q, planes)
    approx = {r["vec_id"] for r in S.brute_force_topk(cands, q, k=5).collect()}
    # the query vector IS a table row → its own bucket always probes;
    # generous tables on 50 vectors must recover most of top-5
    assert len(exact & approx) >= 3
    emb.unpersist()


def test_arith_hyperplanes_deterministic_rationals():
    p1 = S.arith_hyperplanes(8, 3, 4)
    p2 = S.arith_hyperplanes(8, 3, 4)
    assert p1 == p2
    flat = [x for t in p1 for row in t for x in row]
    assert all(-1.0 <= x <= 1.0 for x in flat)
    # exact rationals k/1001 — reconstructible, so a SQL oracle can embed
    # the repr'd doubles and get bit-identical values
    assert all(abs(x * 1001.0 - round(x * 1001.0)) < 1e-9 for x in flat)
    # not degenerate: both signs present
    assert min(flat) < 0 < max(flat)


def test_ann_candidates_arrow_matches_jvm(spark):
    """The Arrow bucket pass must select the IDENTICAL candidate set as
    the Column-fold path — same sequential mul/add order, bit-identical
    sign decisions (the parity ann_recall's oracle relies on)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = [((i * 37) % 101 - 50) / 50.0 for i in range(64)]
    planes = S.arith_hyperplanes(64, 16, 5)
    arrow = {r["vec_id"] for r in S.ann_candidates(emb, q, planes).collect()}
    jvm = {
        r["vec_id"]
        for r in S.ann_candidates(emb, q, planes, engine="jvm").collect()
    }
    assert arrow == jvm and arrow  # identical and non-vacuous


def test_embedding_near_dup_lazy_matches_eager(spark, monkeypatch):
    rows = [(i, [1.0 if j == i % 4 else 0.01 * i for j in range(8)]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = seam_parity(
        spark,
        monkeypatch,
        lambda: S.embedding_near_duplicates(emb, dim=8, threshold=0.9),
    )
    assert got  # non-vacuous: planted same-axis near-dups
