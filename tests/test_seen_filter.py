"""The seen flag is the exact correlated EXISTS and agrees with the
anti-join oracle (SURVEY §7 build step 4); the Bloom kernels the
benchmark's seen-filter replay runs have no false negatives, and their
shards and driver-side OR merge to one build."""

from __future__ import annotations

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


def test_bloom_equals_exact(spark):
    """The seen flag equals the anti-join, and a Bloom over ``seen`` at
    12 bits/item or at 1024 bits for 5000 keys (nearly every candidate
    maybe-seen) holds every flagged key: a replay never reports fewer
    maybe-seen rows than exact hits."""
    seen = _urls(spark, 0, 5000)
    candidates = _urls(spark, 2500, 5000)  # half overlap
    want = {r["url"] for r in filter_new_exact(candidates, seen, "key_hash").collect()}
    assert len(want) == 2500
    flagged = with_seen_flag(candidates, seen, "key_hash")
    assert {r["url"] for r in flagged.filter(~F.col("_seen")).collect()} == want
    for n_bits in (bloom_bits_for(5000, 12), 1024):
        _, mc = _probe(spark, seen, n_bits)
        assert flagged.filter(F.col("_seen") & ~mc(F.col("key_hash"))).count() == 0, n_bits


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
    int64s included) flag exactly like the anti-join."""
    seen = spark.range(500).select((F.xxhash64("id")).alias("key_hash"))
    cands = spark.range(300, 900).select((F.xxhash64("id")).alias("key_hash"))
    n_bits = bloom_bits_for(500, 12)
    blob = build_bloom(seen.repartition(8), "key_hash", n_bits, 5)
    assert blob == build_bloom(seen.coalesce(1), "key_hash", n_bits, 5)
    got = {r["key_hash"] for r in with_seen_flag(cands, seen, "key_hash").filter(~F.col("_seen")).collect()}
    want = {r["key_hash"] for r in filter_new_exact(cands, seen).collect()}
    assert got == want


def test_bloom_hit_missing_from_seen_is_unseen(spark):
    """A key a Bloom holds but ``seen`` lacks is unseen: the flag reads
    ``seen`` alone, and its EXISTS is correlated on the candidate's own
    key, not an uncorrelated "seen is non-empty"."""
    keys = _urls(spark, 0, 3)
    seen = keys.filter(F.col("url").endswith("doc0.pdf"))
    _, mc = _probe(spark, keys, bloom_bits_for(3, 12))  # holds all three
    assert keys.filter(~mc(F.col("key_hash"))).count() == 0
    got = {r["url"]: r["_seen"] for r in with_seen_flag(keys, seen, "key_hash").collect()}
    assert got == {
        "http://h.ru/doc0.pdf": True,
        "http://h.ru/doc1.pdf": False,
        "http://h.ru/doc2.pdf": False,
    }
    want = {r["url"] for r in filter_new_exact(keys, seen).collect()}
    assert {u for u, s in got.items() if not s} == want


def test_duplicate_seen_keys_keep_one_row_per_candidate(spark):
    keys = _urls(spark, 0, 4)
    seen = keys.unionByName(keys).unionByName(keys.limit(2))
    flagged = with_seen_flag(keys, seen, "key_hash")
    assert sorted(r["url"] for r in flagged.collect()) == sorted(r["url"] for r in keys.collect())
    assert flagged.filter(F.col("_seen")).count() == 4
    assert filter_new_exact(keys, seen).count() == 0


def test_bloom_or_equals_build_bloom(spark):
    """ORing keys into bits on the driver (``bloom_or``) equals
    ``build_bloom`` over the same keys."""
    import numpy as np

    from judyst_web_crawler_spark.operators.seen import bloom_or

    keys = spark.range(300).select(F.xxhash64("id").alias("key_hash"))
    n_bits = bloom_bits_for(300, 12)
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    bloom_or(bits, [r["key_hash"] for r in keys.collect()], n_bits, 5)
    assert bits.tobytes() == build_bloom(keys, "key_hash", n_bits, 5)


def test_sharded_bloom_incremental_add(spark):
    """The OR of two build_bloom blobs reports every key of both
    batches, and equals one build over their union."""
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


def test_engine_multi_wave_repeated_seeds_fetch_once(spark, tmp_path):
    """A multi-wave crawl whose seeds repeat urls fetches every url
    once."""
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
