"""Partitioned Bloom-filter seen-set prefilter (north-rule component).

One Bloom bitmap per url_hash bucket (``bucket = pmod(url_hash, n_buckets)``),
built distributed with ``applyInPandas`` (one small bitmap per bucket crosses
the wire, never the URLs), OR-merged with the bits of each probing wave's
newly-seen URLs (plans/wave.py), broadcast to executors, and probed by an
Arrow-batched pandas UDF ahead of the exact left-anti join
(routing.prefiltered_anti_join):

    definitely-new (bloom says no)  -> skip the anti-join entirely;
    maybe-seen     (bloom says yes) -> exact anti-join confirms.

False positives cost one extra join probe; false negatives are impossible by
construction, so the seen-set stays exact (property-tested in
tests/test_bloom.py). At the 10^10-URL design point this turns the per-wave
anti-join from (new_links ⋈ 10^10 seen) into (small maybe-seen ⋈ seen).

All hashing is the JVM's xxhash64 (computed once, reused as bucket key, Bloom
probe source, and join key); k probe positions derive from the single 64-bit
hash via double hashing (Kirsch-Mitzenmacher).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

DEFAULT_BITS_PER_BUCKET = 1 << 20  # 128 KiB / bucket
DEFAULT_K = 4


def _probes(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) probe bit-positions from int64 hashes (double hashing)."""
    h = hashes.astype(np.uint64)
    g1 = h & np.uint64(0xFFFFFFFF)
    g2 = (h >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((g1[:, None] + i[None, :] * g2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bitmap: np.ndarray, positions: np.ndarray) -> None:
    np.bitwise_or.at(bitmap, positions.ravel() >> 3, (1 << (positions.ravel() & 7)).astype(np.uint8))


def _test_bits(bitmap: np.ndarray, positions: np.ndarray) -> np.ndarray:
    """All-k-bits-set per row."""
    bits = (bitmap[positions >> 3] >> (positions & 7).astype(np.uint8)) & 1
    return bits.all(axis=1)


class PartitionedBloom:
    """n_buckets Bloom bitmaps keyed by pmod(url_hash, n_buckets)."""

    kind = "bloom"  # sharded_probe.save_sharded layout tag

    def __init__(self, n_buckets: int, m_bits: int = DEFAULT_BITS_PER_BUCKET, k: int = DEFAULT_K):
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.k = k
        self.bitmaps = {b: np.zeros(m_bits // 8, dtype=np.uint8) for b in range(n_buckets)}

    def add_hashes(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        buckets = np.mod(hashes, self.n_buckets)  # pmod: result sign of divisor
        for b in np.unique(buckets):
            pos = _probes(hashes[buckets == b], self.m_bits, self.k)
            _set_bits(self.bitmaps[int(b)], pos)

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        out = np.zeros(len(hashes), dtype=bool)
        buckets = np.mod(hashes, self.n_buckets)
        for b in np.unique(buckets):
            mask = buckets == b
            pos = _probes(hashes[mask], self.m_bits, self.k)
            out[mask] = _test_bits(self.bitmaps[int(b)], pos)
        return out

    # --- persistence (checkpoint sidecar, see plans/state.py) ---

    def save(self, path: str) -> None:
        np.savez_compressed(
            path,
            meta=np.array([self.n_buckets, self.m_bits, self.k], dtype=np.int64),
            **{f"b{b}": bm for b, bm in self.bitmaps.items()},
        )

    @classmethod
    def load(cls, path: str) -> "PartitionedBloom":
        with np.load(path) as z:
            n_buckets, m_bits, k = (int(x) for x in z["meta"])
            bloom = cls(n_buckets, m_bits, k)
            for b in range(n_buckets):
                bloom.bitmaps[b] = z[f"b{b}"].copy()
        return bloom

    def merge_spark_bitmaps(self, rows: list) -> None:
        """OR per-bucket bitmaps built distributed (rows of (bucket, bitmap))."""
        for bucket, blob in rows:
            self.bitmaps[int(bucket)] |= np.frombuffer(blob, dtype=np.uint8)


def build_bucket_bitmaps(df: DataFrame, n_buckets: int, m_bits: int, k: int) -> list:
    """Distributed per-bucket bitmap build over df(url_hash).

    groupBy(bucket).applyInPandas -> one (bucket, bitmap_bytes) row per
    bucket; only n_buckets * m_bits/8 bytes ever reach the driver.
    """
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        pos = _probes(pdf["url_hash"].to_numpy(np.int64), m_bits, k)
        _set_bits(bitmap, pos)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bitmap": [bitmap.tobytes()]})

    rows = (
        df.select(F.col("url_hash"), F.pmod(F.col("url_hash"), F.lit(n_buckets)).alias("bucket"))
        .groupBy("bucket")
        .applyInPandas(build, schema="bucket int, bitmap binary")
        .collect()
    )
    return [(r["bucket"], r["bitmap"]) for r in rows]


def make_might_contain_udf(spark: SparkSession, filt):
    """Broadcast any seen filter with ``might_contain(hashes)``
    (PartitionedBloom, PartitionedCuckoo); return an Arrow-batched
    membership UDF. The broadcast pickles ``filt`` now, so later merges into
    it never reach a probe planned before them; each python worker
    unpickles it once and reuses it across batches."""
    bc = spark.sparkContext.broadcast(filt)

    @pandas_udf(BooleanType())
    def might_contain(url_hash: pd.Series) -> pd.Series:
        return pd.Series(bc.value.might_contain(url_hash.to_numpy(np.int64)))

    return might_contain


def tag_maybe_seen(spark: SparkSession, candidates: DataFrame, filt) -> DataFrame:
    """candidates + boolean ``_maybe_seen`` from the broadcast probe of
    ``filt`` — the input routing.prefiltered_anti_join expects."""
    might = make_might_contain_udf(spark, filt)
    return candidates.withColumn("_maybe_seen", might(F.col("url_hash")))
