"""Incremental deduplication: new batch vs an existing corpus.

The daily-ingest shape at 100 TB: the *reference* corpus is huge (10^11
docs), the *new* batch is comparatively small, and the overwhelming
majority of new docs are NOT duplicates.  A plain
``new.join(ref_fps, 'left_anti')`` is exact but shuffles (or at least
streams through the join) every new row against the full reference
fingerprint set.  The classic fix is a runtime membership filter:

1. build a Bloom filter over the reference fingerprints — one narrow
   scan, per-partition numpy bitsets OR-combined via ``treeReduce`` so
   only ``m/8`` bytes per partition cross the wire and the driver holds
   exactly one bitset;
2. broadcast it and split the new batch map-side: bloom-NEGATIVE rows
   are *provably* new (Bloom filters have no false negatives) and bypass
   the join entirely;
3. only bloom-POSITIVE rows (true dups + ``fpp`` false positives) are
   confirmed by an exact left-anti join against the reference
   fingerprints.

The output is therefore EXACT — identical to the plain anti-join (the
oracle asserts this) — while the joined volume drops from |new| to
≈ (dup_rate + fpp)·|new|.

Sizing: bits/element ≈ -1.44·log2(fpp); at fpp=0.01 that is ~1.2 bytes
per reference doc.  A 10^9-doc reference is a ~1.2 GB broadcast — fine
for executors with tens of GB; beyond that, shard the hash space
(``num_shards``) and process one shard's bloom at a time (each pass
still scans only the new-batch rows hashing into that shard).

No counterpart in guyskk/validr (single-value validation only).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from validr_spark.operators._barrier import arrow_map, once
from validr_spark.operators.dedup import normalize_text

__all__ = ["BloomFilter", "bloom_from_keys", "build_fingerprint_bloom",
           "incremental_dedup", "incremental_new_rows", "might_contain_udf"]


class BloomFilter:
    """Plain m-bit / k-hash Bloom filter over int64 keys, numpy-vectorized.

    Hash family: double hashing ``h_i(x) = h1(x) + i*h2(x) (mod m)`` with
    h1/h2 derived from the 64-bit key by splitmix64-style mixing —
    deterministic across runs and partitions (no Python ``hash``).
    """

    __slots__ = ("m_bits", "k", "bits")

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        self.m_bits = int(m_bits)
        self.k = int(k)
        self.bits = (bits if bits is not None
                     else np.zeros((m_bits + 7) // 8, dtype=np.uint8))

    @staticmethod
    def params(expected: int, fpp: float) -> tuple[int, int]:
        """Optimal (m_bits, k) for ``expected`` insertions at ``fpp``."""
        expected = max(int(expected), 1)
        m = max(64, int(math.ceil(-expected * math.log(fpp)
                                  / (math.log(2) ** 2))))
        k = max(1, int(round(m / expected * math.log(2))))
        return m, min(k, 16)

    @staticmethod
    def _mix(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        z = x.astype(np.uint64, copy=True)
        z += np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
        h1 = z
        h2 = (z >> np.uint64(32)) | (z << np.uint64(32)) | np.uint64(1)
        return h1, h2

    def _positions(self, keys: np.ndarray, i: int,
                   h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        return ((h1 + np.uint64(i) * h2) % np.uint64(self.m_bits))

    def add(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        h1, h2 = self._mix(np.asarray(keys, dtype=np.int64).view(np.uint64))
        for i in range(self.k):
            pos = self._positions(keys, i, h1, h2)
            np.bitwise_or.at(self.bits, (pos >> np.uint64(3)).astype(np.int64),
                             np.left_shift(np.uint8(1),
                                           (pos & np.uint64(7)).astype(np.uint8)))

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership test → bool array (no false negatives)."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = self._mix(np.asarray(keys, dtype=np.int64).view(np.uint64))
        out = np.ones(len(keys), dtype=bool)
        for i in range(self.k):
            pos = self._positions(keys, i, h1, h2)
            byte = self.bits[(pos >> np.uint64(3)).astype(np.int64)]
            bit = np.left_shift(np.uint8(1),
                                (pos & np.uint64(7)).astype(np.uint8))
            out &= (byte & bit) != 0
            if not out.any():
                break
        return out

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.m_bits, self.k) == (other.m_bits, other.k)
        return BloomFilter(self.m_bits, self.k,
                           np.bitwise_or(self.bits, other.bits))


def _fingerprints(df: DataFrame, text_col: str) -> DataFrame:
    """xxhash64 of the normalized text — the dedup identity key.
    Pure codegen expression; one narrow projection over the scan."""
    return df.select(F.xxhash64(normalize_text(F.col(text_col))).alias("_fp"))


def bloom_from_keys(keys: DataFrame, expected: int,
                    fpp: float) -> BloomFilter:
    """One scan over a single int64 column → driver-side BloomFilter sized
    for ``expected`` keys at ``fpp``.

    Per-partition bitsets are OR-combined with ``treeReduce`` (depth 2),
    so the driver receives O(sqrt(P)) partials of m/8 bytes each, not P.
    """
    m_bits, k = BloomFilter.params(expected, fpp)

    def partition_bloom(rows):
        bf = BloomFilter(m_bits, k)
        bf.add(np.fromiter((r[0] for r in rows), dtype=np.int64))
        yield bf.bits

    bits = (keys.rdd.mapPartitions(partition_bloom)
            .treeReduce(np.bitwise_or, depth=2))
    return BloomFilter(m_bits, k, bits)


def build_fingerprint_bloom(ref: DataFrame, text_col: str = "text", *,
                            expected: int | None = None,
                            fpp: float = 0.01) -> BloomFilter:
    """One scan over the reference corpus → driver-side BloomFilter of its
    fingerprints (:func:`bloom_from_keys`).  ``expected`` defaults to a
    cheap ``count()`` of the reference (a second scan; pass the known
    corpus size at production scale).
    """
    if expected is None:
        expected = ref.count()
    return bloom_from_keys(_fingerprints(ref, text_col), expected, fpp)


def might_contain_udf(spark, bloom: BloomFilter):
    """Broadcast ``bloom`` once and return ``col -> Column``: a boolean
    column over int64 keys, ``bloom.might_contain`` per Arrow batch (no
    false negatives).

    The column sits behind :func:`~._barrier.once`: without the barrier
    InferFiltersFromConstraints copies a membership predicate through a
    join's key equality onto the OTHER branch, where it is always true
    by construction (the bloom was built from that side) and costs a
    wasted UDF pass over the whole corpus (PERF.md Finding 7).
    """
    b = spark.sparkContext.broadcast((bloom.m_bits, bloom.k, bloom.bits))

    def might_contain(keys: pd.Series) -> np.ndarray:
        m_bits, k, bits = b.value
        bf = BloomFilter(m_bits, k, bits)
        return bf.might_contain(keys.to_numpy(dtype=np.int64))

    return lambda col: once(arrow_map(might_contain, "boolean", col))


def incremental_new_rows(new: DataFrame, ref: DataFrame,
                         text_col: str = "text", *,
                         bloom: BloomFilter | None = None,
                         expected: int | None = None,
                         fpp: float = 0.01) -> DataFrame:
    """Rows of ``new`` whose normalized text does NOT occur in ``ref``.

    Exact (bloom false positives are removed by the confirming anti-join;
    false negatives cannot exist), but only the bloom-positive slice of
    the new batch reaches the join — the bloom-negative majority is
    passed through map-side with zero shuffle.
    """
    if bloom is None:
        bloom = build_fingerprint_bloom(ref, text_col,
                                        expected=expected, fpp=fpp)
    maybe = might_contain_udf(new.sparkSession, bloom)
    fp = F.xxhash64(normalize_text(F.col(text_col)))
    tagged = new.withColumn("_fp", fp).withColumn(
        "_maybe_dup", maybe(F.col("_fp")))
    # bloom-negative: provably new, bypasses the join (no shuffle)
    definite = tagged.filter(~F.col("_maybe_dup"))
    # bloom-positive: exact confirmation against the reference keys
    ref_fps = _fingerprints(ref, text_col).distinct()
    confirmed = (tagged.filter(F.col("_maybe_dup"))
                 .join(ref_fps, "_fp", "left_anti"))
    return (definite.unionByName(confirmed)
            .drop("_fp", "_maybe_dup"))


def incremental_dedup(new: DataFrame, ref: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id", *,
                      bloom: BloomFilter | None = None,
                      expected: int | None = None,
                      fpp: float = 0.01) -> DataFrame:
    """Full incremental dedup: drop new rows already in ``ref``, then keep
    one row per distinct text *within* the surviving batch (min id wins —
    same contract as :func:`~validr_spark.operators.dedup.exact_dedup`)."""
    from validr_spark.operators.dedup import exact_dedup

    fresh = incremental_new_rows(new, ref, text_col, bloom=bloom,
                                 expected=expected, fpp=fpp)
    return exact_dedup(fresh, text_col, id_col)
