"""The Bloom prefilter must never change results vs the exact anti-join
(SURVEY §7 build step 4): the seen flag is the Bloom probe AND an exact
EXISTS, so only the exact check decides."""

from __future__ import annotations

from helpers import seeded_engine
from pyspark.sql import functions as F

from judyst_web_crawler_spark.functions import canonical as C
from judyst_web_crawler_spark.operators.seen import (
    bloom_bits_for,
    bloom_might_contain_udf,
    build_bloom,
    filter_new_exact,
    with_seen_flag,
)


def _urls(spark, start, n, prefix="http://h.ru/doc"):
    return spark.range(start, start + n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string"), F.lit(".pdf")).alias("url")
    ).withColumn("key_hash", C.key_hash(C.canonical_key("url")))


def _probe(spark, keys_df, n_bits, k=5):
    bc = spark.sparkContext.broadcast(build_bloom(keys_df, "key_hash", n_bits, k))
    return bc, bloom_might_contain_udf(bc, n_bits, k)


def _unseen(candidates, seen, bc, n_bits):
    return with_seen_flag(candidates, seen, "key_hash", bc, n_bits, 5).filter(~F.col("_seen"))


def test_bloom_equals_exact(spark):
    seen = _urls(spark, 0, 5000)
    candidates = _urls(spark, 2500, 5000)  # half overlap
    want = {r["url"] for r in filter_new_exact(candidates, seen, "key_hash").collect()}
    assert len(want) == 2500
    # 12 bits/item (few false positives) and 1024 bits for 5000 keys
    # (nearly every candidate maybe-seen, so the exact branch decides)
    for n_bits in (bloom_bits_for(5000, 12), 1024):
        bc, _ = _probe(spark, seen, n_bits)
        got = _unseen(candidates, seen, bc, n_bits)
        assert {r["url"] for r in got.collect()} == want, n_bits


def test_bloom_prefilter_prunes(spark):
    """The bloom classifies most non-members as definitely-new (prune
    effectiveness) and never misses a member (correctness)."""
    seen = _urls(spark, 0, 4000)
    fresh = _urls(spark, 100000, 4000)
    _, mc = _probe(spark, seen, bloom_bits_for(4000, 12))
    fp = fresh.filter(mc(F.col("key_hash"))).count()
    assert fp < 4000 * 0.05  # fpp well under 5% at 12 bits/item
    assert seen.filter(~mc(F.col("key_hash"))).count() == 0  # no false negatives


def test_sharded_bloom_equals_exact(spark):
    """build_bloom's per-partition shards OR-merge to the same bits
    however the keys are partitioned, and raw xxhash64 keys (negative
    int64s included) filter exactly like the anti-join."""
    seen = spark.range(500).select((F.xxhash64("id")).alias("key_hash"))
    cands = spark.range(300, 900).select((F.xxhash64("id")).alias("key_hash"))
    n_bits = bloom_bits_for(500, 12)
    blob = build_bloom(seen.repartition(8), "key_hash", n_bits, 5)
    assert blob == build_bloom(seen.coalesce(1), "key_hash", n_bits, 5)
    bc = spark.sparkContext.broadcast(blob)
    got = {r["key_hash"] for r in _unseen(cands, seen, bc, n_bits).collect()}
    want = {r["key_hash"] for r in filter_new_exact(cands, seen).collect()}
    assert got == want


def test_bloom_hit_missing_from_seen_is_unseen(spark):
    """A key the Bloom holds but ``seen`` lacks (what a failed publish
    leaves behind: the wave ORs its keys into the Bloom before it stages
    the seen rows) is maybe-seen, not seen: the EXISTS is correlated on
    the candidate's own key, not an uncorrelated "seen is non-empty"."""
    keys = _urls(spark, 0, 3)
    seen = keys.filter(F.col("url").endswith("doc0.pdf"))
    n_bits = bloom_bits_for(3, 12)
    bc, _ = _probe(spark, keys, n_bits)  # the Bloom still holds all three
    got = {r["url"]: (r["_maybe"], r["_seen"]) for r in with_seen_flag(keys, seen, "key_hash", bc, n_bits, 5).collect()}
    assert got == {
        "http://h.ru/doc0.pdf": (True, True),
        "http://h.ru/doc1.pdf": (True, False),
        "http://h.ru/doc2.pdf": (True, False),
    }


def test_duplicate_seen_keys_keep_one_row_per_candidate(spark):
    keys = _urls(spark, 0, 4)
    seen = keys.unionByName(keys).unionByName(keys.limit(2))
    n_bits = bloom_bits_for(4, 12)
    bc, _ = _probe(spark, keys, n_bits)
    flagged = with_seen_flag(keys, seen, "key_hash", bc, n_bits, 5)
    assert sorted(r["url"] for r in flagged.collect()) == sorted(r["url"] for r in keys.collect())
    assert flagged.filter(F.col("_seen")).count() == 4


def test_bloom_or_equals_build_bloom(spark):
    """The engine ORs a wave's scheduled keys into its bits on the driver
    (``bloom_or``); that equals ``build_bloom`` over the same keys."""
    import numpy as np

    from judyst_web_crawler_spark.operators.seen import bloom_or

    keys = spark.range(300).select(F.xxhash64("id").alias("key_hash"))
    n_bits = bloom_bits_for(300, 12)
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    bloom_or(bits, [r["key_hash"] for r in keys.collect()], n_bits, 5)
    assert bits.tobytes() == build_bloom(keys, "key_hash", n_bits, 5)


def test_sharded_bloom_incremental_add(spark):
    """The engine's per-wave update: the OR of two incremental
    build_bloom blobs reports every key of both batches, and equals one
    build over their union."""
    import numpy as np

    batch1 = spark.range(200).select(F.xxhash64("id").alias("key_hash"))
    batch2 = spark.range(200, 400).select(F.xxhash64("id").alias("key_hash"))
    n_bits = bloom_bits_for(400, 12)
    blob1 = np.frombuffer(build_bloom(batch1, "key_hash", n_bits, 5), dtype=np.uint8)
    blob2 = np.frombuffer(build_bloom(batch2, "key_hash", n_bits, 5), dtype=np.uint8)
    merged = (blob1 | blob2).tobytes()
    all_seen = batch1.unionByName(batch2)
    assert merged == build_bloom(all_seen, "key_hash", n_bits, 5)
    mc = bloom_might_contain_udf(spark.sparkContext.broadcast(merged), n_bits, 5)
    assert all_seen.filter(~mc(F.col("key_hash"))).count() == 0


def test_engine_bloom_geometry_matches_benchmark_replay():
    """perfbench's seen-filter replay measures a bloom of
    bloom_bits_for(1_000_000, 12) bits probed k=5 times; the engine's
    filter must be that same filter or the replay's seen.* metrics
    describe something the crawl does not run."""
    from judyst_web_crawler_spark.operators.frontier import BLOOM_BITS, BLOOM_K

    assert (BLOOM_BITS, BLOOM_K) == (bloom_bits_for(1_000_000, 12), 5)


def test_engine_with_sharded_bloom(spark, tmp_path):
    """A multi-wave crawl through the engine's Bloom (built from
    build_bloom's per-partition shards) fetches every url once."""
    from judyst_web_crawler_spark.datagen import pages_df
    from judyst_web_crawler_spark.operators.frontier import DOCS_TABLE, FrontierEngine
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog
    from pyspark.sql import Window

    pages = pages_df(spark, n_rows=40, n_hosts=3, seed=21).cache()
    seeds = (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(Window.orderBy("url")))
        .select("url", F.lit(2).alias("page_seq"), F.col("_rn").cast("int").alias("intra_page_seq"))
    )
    # duplicate tail exercises the seen filter across waves
    seeds = seeds.unionByName(seeds.limit(15))
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat)
    eng.bootstrap(seeds)
    eng.run(pages, budget=9, max_waves=30)
    docs = cat.read(DOCS_TABLE)
    assert docs.count() == 40
    assert docs.select("url").distinct().count() == 40
    pages.unpersist()


def test_bloom_commits_before_seen_rows(spark, tmp_path, monkeypatch):
    """The engine's Bloom must receive a wave's keys BEFORE the seen
    table does: bloom-false-negatives bypass the exact check
    (with_seen_flag flags a row seen only if the Bloom might hold its
    key), so a failure between the two steps is only safe
    in the bloom-superset direction. Pin the order, then the invariant
    itself."""
    from judyst_web_crawler_spark.operators import frontier as frontier_mod
    from judyst_web_crawler_spark.operators.seen import bloom_might_contain_udf

    eng, cat, pages = seeded_engine(spark, tmp_path)

    order: list[str] = []
    orig_add = frontier_mod.FrontierEngine._bloom_add
    orig_append = type(cat).append
    orig_overwrite = type(cat).overwrite

    def rec_add(self, df):
        order.append("bloom")
        return orig_add(self, df)

    def rec_append(self, table, df, **kw):
        if table == frontier_mod.SEEN_TABLE:
            order.append("seen")
        return orig_append(self, table, df, **kw)

    def rec_overwrite(self, table, df, **kw):
        if table == frontier_mod.SEEN_TABLE:
            order.append("seen")
        return orig_overwrite(self, table, df, **kw)

    monkeypatch.setattr(frontier_mod.FrontierEngine, "_bloom_add", rec_add)
    monkeypatch.setattr(type(cat), "append", rec_append)
    monkeypatch.setattr(type(cat), "overwrite", rec_overwrite)

    eng.run_wave(pages, budget=8)
    assert "bloom" in order and "seen" in order
    assert order.index("bloom") < order.index("seen"), order

    # invariant check: every committed seen key probes positive
    monkeypatch.undo()
    seen_df = cat.read(frontier_mod.SEEN_TABLE)
    assert seen_df.count() > 0
    mc = bloom_might_contain_udf(
        eng._bloom_broadcast(), frontier_mod.BLOOM_BITS, frontier_mod.BLOOM_K
    )
    assert seen_df.filter(~mc(F.col("key_hash"))).count() == 0
    pages.unpersist()
