"""URL-seen filter: incremental Bloom prefilter + exact anti-join.

Two tiers (SURVEY.md §4 custom-op 1, north_star BASELINE.json:6):

- PREFILTER: a Bloom filter over ``xxhash64(canonical_key)``.
  ``build_bloom`` turns a DataFrame of keys into the bit array
  (per-partition numpy bit arrays via ``mapInPandas``, OR-merged on the
  driver). The frontier engine builds it once from the committed
  ``seen`` table when it starts and then ORs in each wave's scheduled
  keys, so the bits are never rebuilt from the whole table mid-crawl.
  Candidates the Bloom has definitely NOT seen skip the join.
- TRUTH: candidates the Bloom *might* have seen go through the exact
  LEFT ANTI JOIN against ``seen`` (``filter_new_exact``), so a Bloom
  false positive can never drop a URL (exact URL-seen parity,
  BASELINE.json:14).

Hashing: Kirsch-Mitzenmacher double hashing from the single 64-bit key
(g_i = h_lo + i*h_hi mod n_bits) — k derived probes, no extra hash passes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


def _probe_positions(hashes: np.ndarray, n_bits: int, k: int) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(byte index, bit mask) of each of the k probes per key."""
    h = hashes.astype(np.int64).view(np.uint64)
    lo = h & np.uint64(0xFFFFFFFF)
    hi = (h >> np.uint64(32)) & np.uint64(0xFFFFFFFF)
    for i in range(k):
        pos = (lo + np.uint64(i) * hi) % np.uint64(n_bits)
        yield (pos >> np.uint64(3)).astype(np.int64), np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)


def bloom_bits_for(n_items: int, bits_per_item: int = 12) -> int:
    """Power-of-two bit-array size ≥ bits_per_item*n (fpp ≈ 0.3-1%)."""
    want = max(1024, n_items * bits_per_item)
    n = 1024
    while n < want:
        n <<= 1
    return n


def build_bloom(seen_df: DataFrame, hash_col: str, n_bits: int, k: int = 5) -> bytes:
    """Per-partition shards via mapInPandas, OR-merged on the driver.

    The shard emit is one row per partition (n_bits/8 bytes each); the
    merge is an associative bitwise OR — order-independent, deterministic,
    so the OR of two builds equals one build over the union of their keys.
    """

    def shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        saw = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            saw = True
            for idx, mask in _probe_positions(pdf[hash_col].to_numpy(dtype=np.int64), n_bits, k):
                np.bitwise_or.at(bits, idx, mask)
        if saw:
            yield pd.DataFrame({"shard": [bits.tobytes()]})

    shards = seen_df.select(hash_col).mapInPandas(shard, "shard binary").collect()
    merged = np.zeros(n_bits // 8, dtype=np.uint8)
    for row in shards:
        merged |= np.frombuffer(row["shard"], dtype=np.uint8)
    return merged.tobytes()


def bloom_might_contain_udf(bc, n_bits: int, k: int):
    """Pandas membership-test UDF over a broadcast bloom blob."""

    @F.pandas_udf(BooleanType())
    def might_contain(hashes: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        h = hashes.to_numpy(dtype=np.int64)
        hit = np.ones(len(h), dtype=bool)
        for idx, mask in _probe_positions(h, n_bits, k):
            hit &= (bits[idx] & mask) != 0
        return pd.Series(hit)

    return might_contain


def filter_new_with_bloom(
    candidates: DataFrame,
    seen_df: DataFrame,
    hash_col: str,
    bc,
    n_bits: int,
    k: int,
) -> DataFrame:
    """Rows of ``candidates`` whose ``hash_col`` is NOT in ``seen_df``:
    bloom-definitely-new ∪ (maybe-seen ANTI JOIN seen) — exact. The
    caller owns the bloom blob ``bc`` and keeps it a superset of
    ``seen_df``'s keys."""
    mc = bloom_might_contain_udf(bc, n_bits, k)
    tagged = candidates.withColumn("_maybe_seen", mc(F.col(hash_col)))
    definitely_new = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    return definitely_new.unionByName(filter_new_exact(maybe, seen_df, hash_col))


def filter_new_exact(candidates: DataFrame, seen_df: DataFrame, hash_col: str = "key_hash") -> DataFrame:
    """The truth tier alone (D3/D4 anti-join, SURVEY §2.3): the bloom
    path's maybe-seen branch and its oracle in tests. Duplicate keys on
    the seen side cannot change a left-anti result, so no distinct()."""
    return candidates.join(seen_df.select(hash_col), on=hash_col, how="left_anti")
