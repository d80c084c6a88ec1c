"""Connected-components duplicate clustering: transitive closure of
near-dup pairs, singleton handling, representative selection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from judyst_web_crawler_spark.operators import graph as G


def test_components_chain_branch_cycle(spark):
    # chain 1-2-3, branch 3-7, cycle 10-11-12-10, isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11), (11, 12), (12, 10), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["cluster_id"] for r in G.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_components_include_singletons(spark):
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    nodes = spark.range(5).select(F.col("id").alias("doc_id"))
    got = {
        r["node"]: r["cluster_id"]
        for r in G.connected_components(edges, nodes=nodes).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 4}


def test_components_nonconvergence_guard(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    with pytest.raises(RuntimeError):
        G.connected_components(edges, max_iters=2, fallback=False)
    # same chain converges with enough rounds, all labels = 0
    got = {r["node"]: r["cluster_id"] for r in G.connected_components(edges).collect()}
    assert set(got.values()) == {0}


def test_guard_trip_falls_back_to_star(spark):
    """Default path: a chain longer than max_iters must still return a
    fully-converged labeling via the star-contraction fallback."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    got = {r["node"]: r["cluster_id"] for r in G.connected_components(
        edges, max_iters=2).collect()}
    assert got == {i: 0 for i in range(31)}


def test_star_chain_branch_cycle(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11), (11, 12), (12, 10), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["cluster_id"]
           for r in G.connected_components_star(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_star_long_chain_and_singletons(spark):
    """200-node chain: label propagation needs 200 rounds, star needs
    O(log n) — converging under the 60-round guard IS the O(log n) check."""
    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
    nodes = spark.range(n + 3).select(F.col("id").alias("doc_id"))
    got = {r["node"]: r["cluster_id"]
           for r in G.connected_components_star(edges, nodes=nodes).collect()}
    assert len(got) == n + 3
    assert all(got[i] == 0 for i in range(n + 1))
    assert got[n + 1] == n + 1 and got[n + 2] == n + 2


def test_star_empty_edges(spark):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.range(4).select(F.col("id").alias("doc_id"))
    got = {r["node"]: r["cluster_id"]
           for r in G.connected_components_star(edges, nodes=nodes).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_duplicate_clusters_representatives(spark):
    pairs = spark.createDataFrame([(5, 6), (6, 7)], "id_a long, id_b long")
    corpus = spark.range(10).select(F.col("id").alias("doc_id"))
    rows = {r["doc_id"]: r for r in G.duplicate_clusters(pairs, corpus).collect()}
    assert rows[5]["cluster_id"] == 5 and rows[5]["is_representative"]
    assert rows[6]["cluster_id"] == 5 and not rows[6]["is_representative"]
    assert rows[7]["cluster_size"] == 3
    assert rows[0]["cluster_size"] == 1 and rows[0]["is_representative"]
    # exactly one representative per cluster
    reps = [r for r in rows.values() if r["is_representative"]]
    assert len(reps) == len({r["cluster_id"] for r in rows.values()})


def test_co_citation_hub_cap(spark):
    """One hub citer citing 40 docs would alone emit 780 pairs; the cap
    drops it before the join, leaving exactly the normal citers' pairs."""
    hub = [("hub", f"D{i}") for i in range(40)]
    normal = [(f"c{k}", d) for k in range(3) for d in ("D1", "D2")]
    edges = spark.createDataFrame(hub + normal, "doc_id_from string, doc_id_to string")
    exact = G.co_citation_pairs(edges, min_common=1).collect()
    assert len(exact) == 40 * 39 // 2
    capped = {(r["doc_a"], r["doc_b"]): r["common_citers"]
              for r in G.co_citation_pairs(
                  edges, min_common=1, max_citer_out_degree=10).collect()}
    assert capped == {("D1", "D2"): 3}
    # a cap nobody exceeds changes nothing
    assert len(G.co_citation_pairs(
        edges, min_common=1, max_citer_out_degree=100).collect()) == len(exact)


def test_end_to_end_minhash_to_clusters(spark):
    """Full path: texts → MinHash near-dup pairs → clusters. Two planted
    dup groups must become two clusters with min-id representatives."""
    from judyst_web_crawler_spark.operators import dedup_fuzzy as D

    base_a = "документ о судебном деле и жалобе гражданина на решение суда " * 4
    base_b = "текст о путешествиях в горы и походах с палатками у озёр " * 4
    rows = [
        (1, base_a), (2, base_a + " хвост."), (3, base_a + " другой хвост."),
        (10, base_b), (11, base_b + " дополнение."),
        (50, "уникальный короткий текст про кошек и собак"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_near_duplicates(docs, threshold=0.6)
    out = {r["doc_id"]: r for r in G.duplicate_clusters(
        pairs, docs.select("doc_id")).collect()}
    assert out[1]["cluster_id"] == 1 and out[2]["cluster_id"] == 1 and out[3]["cluster_id"] == 1
    assert out[10]["cluster_id"] == 10 and out[11]["cluster_id"] == 10
    assert out[50]["cluster_size"] == 1


def test_star_ignores_foreign_endpoints_like_label_path(spark):
    """Pairs referencing ids absent from the corpus must not merge
    components in EITHER algorithm (fallback parity)."""
    # 1-99 and 2-99: 99 is NOT in the corpus; label prop never
    # propagates through it, so 1 and 2 stay separate clusters
    pairs = spark.createDataFrame([(1, 99), (2, 99), (3, 4)], "id_a long, id_b long")
    corpus = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    lab = {r["node"]: r["cluster_id"] for r in G.connected_components(
        pairs, nodes=corpus, node_col="node").collect()}
    star = {r["node"]: r["cluster_id"] for r in G.connected_components_star(
        pairs, nodes=corpus, node_col="node").collect()}
    assert lab == star
    assert star[1] == 1 and star[2] == 2 and star[3] == 3 and star[4] == 3
    assert 99 not in star
