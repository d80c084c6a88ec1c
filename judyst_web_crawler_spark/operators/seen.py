"""URL-seen filter: the exact EXISTS flag, plus the Bloom kernels the
benchmark's seen-filter replay measures.

- TRUTH: a candidate is seen iff its key EXISTS in ``seen``
  (``with_seen_flag``, a correlated subquery that plans as an
  ``ExistenceJoin``; ``filter_new_exact`` is its anti-join oracle). The
  frontier engine's fate plan uses this flag alone: the seen decision is
  a function of the catalog snapshot a wave reads, with no driver-held
  state (exact URL-seen parity, BASELINE.json:14).
- BLOOM KERNELS: ``build_bloom`` (per-partition numpy bit arrays via
  ``mapInPandas``, OR-merged on the driver), ``bloom_or`` and
  ``bloom_might_contain_udf`` over ``xxhash64(canonical_key)``. No crawl
  path probes them; ``perfbench/workloads.py::_seen_filter_replay``
  imports them to replay a Bloom over a finished crawl's seen set.

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


def bloom_or(bits: np.ndarray, hashes, n_bits: int, k: int) -> None:
    """Set the bits of ``hashes`` (int64 keys) in ``bits`` in place."""
    for idx, mask in _probe_positions(np.asarray(hashes, dtype=np.int64), n_bits, k):
        np.bitwise_or.at(bits, idx, mask)


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
            bloom_or(bits, pdf[hash_col].to_numpy(dtype=np.int64), n_bits, k)
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


def with_seen_flag(candidates: DataFrame, seen_df: DataFrame, hash_col: str) -> DataFrame:
    """``candidates`` plus ``_seen``: ``hash_col`` EXISTS in ``seen_df``
    (exact). The EXISTS plans as an ``ExistenceJoin``, so duplicate seen
    keys cannot fan rows out."""
    # alias the outer frame: an unqualified outer column would resolve
    # inside the subquery and plan an uncorrelated EXISTS
    tagged = candidates.alias("_cand")
    exact = seen_df.where(F.col(hash_col) == F.col(f"_cand.{hash_col}").outer()).exists()
    return tagged.withColumn("_seen", exact)


def filter_new_exact(candidates: DataFrame, seen_df: DataFrame, hash_col: str = "key_hash") -> DataFrame:
    """Rows of ``candidates`` whose ``hash_col`` is NOT in ``seen_df``, by
    anti-join alone (D3/D4, SURVEY §2.3): the flag form's oracle. Duplicate
    seen keys cannot change a left-anti result, so no distinct()."""
    return candidates.join(seen_df.select(hash_col), on=hash_col, how="left_anti")
