"""Partitioned bloom-filter sidecar for the URL-seen set (SURVEY
§4.2.3; reference semantics: deep_crawling/crazy.py:102-165).

At 10^10 URLs the exact seen table is ~80 GB of hashes; the bloom
sidecar is the cheap prefilter that keeps MOST candidates away from
the anti-join shuffle:

    candidates ──might_contain?──┬─ no  → definitely fresh (skip join)
                                 └─ maybe → exact anti-join decides

False positives only send extra rows to the exact join (never a
false drop); false negatives cannot happen for inserted keys.

Layout: `n_buckets` independent filters keyed by pmod(url_hash,
n_buckets).  Build = groupBy(bucket).applyInPandas over numpy
bitarrays (vectorized Arrow path); each bucket's bits serialize to a
binary cell, so the whole sidecar is an ordinary small table that
snapshots/restores through the SnapshotStore like any other state.
Probe hashes are Kirsch-Mitzenmacher double hashing g_i = h1 + i·h2
over the JVM-computed xxhash64 pair — Python never hashes strings.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

BLOOM_SCHEMA = StructType([
    StructField("bucket", IntegerType()),
    StructField("bits", BinaryType()),
])


def _probe_positions(h1: np.ndarray, h2: np.ndarray, k: int, m_bits: int) -> Iterator[np.ndarray]:
    for i in range(k):
        yield ((h1 + i * h2) % m_bits).astype(np.int64)


def with_hash_pair(df: DataFrame, key_col: str = "url") -> DataFrame:
    """Adds h1/h2 (both JVM-side xxhash64; h2 = hash of h1)."""
    return df.withColumn("h1", F.xxhash64(key_col)).withColumn("h2", F.xxhash64(F.col("h1")))


def build_bloom(
    df: DataFrame, key_col: str = "url",
    n_buckets: int = 16, m_bits: int = 1 << 16, k: int = 5,
) -> DataFrame:
    """Build the sidecar table (bucket, bits) from a key column."""
    hashed = with_hash_pair(df.select(key_col).distinct(), key_col).withColumn(
        "bucket", F.pmod(F.col("h1"), F.lit(n_buckets)).cast("int")
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        h1 = pdf["h1"].to_numpy(dtype=np.uint64)
        h2 = pdf["h2"].to_numpy(dtype=np.uint64)
        for pos in _probe_positions(h1, h2, k, m_bits):
            np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bits": [bits.tobytes()]})

    return hashed.groupBy("bucket").applyInPandas(build, BLOOM_SCHEMA)


def merge_bloom(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two sidecars (incremental build across iterations)."""

    def orit(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for blob in pdf["bits"]:
            arr = np.frombuffer(blob, dtype=np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bits": [acc.tobytes()]})

    return a.unionByName(b).groupBy("bucket").applyInPandas(orit, BLOOM_SCHEMA)


def might_contain(
    df: DataFrame, bloom: DataFrame, key_col: str = "url",
    n_buckets: int = 16, m_bits: int = 1 << 16, k: int = 5,
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Probe: adds a boolean `out_col`.  The sidecar is collected and
    broadcast (n_buckets·m_bits/8 bytes — size it to executor memory;
    at 10^10 keys shard n_buckets up and broadcast per executor)."""
    blobs = {int(r["bucket"]): np.frombuffer(r["bits"], dtype=np.uint8)
             for r in bloom.collect()}
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(blobs)

    hashed = with_hash_pair(df, key_col).withColumn(
        "bucket", F.pmod(F.col("h1"), F.lit(n_buckets)).cast("int")
    )

    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def probe(h1: pd.Series, h2: pd.Series, bucket: pd.Series) -> pd.Series:
        blobs_l = bc.value
        a1 = h1.to_numpy(dtype=np.uint64)
        a2 = h2.to_numpy(dtype=np.uint64)
        bk = bucket.to_numpy()
        out = np.zeros(len(a1), dtype=bool)
        for b in np.unique(bk):
            bits = blobs_l.get(int(b))
            mask = bk == b
            if bits is None:
                continue  # empty bucket → definitely not present
            hit = np.ones(mask.sum(), dtype=bool)
            for pos in _probe_positions(a1[mask], a2[mask], k, m_bits):
                hit &= (bits[pos // 8] >> (pos % 8) & 1).astype(bool)
            out[mask] = hit
        return pd.Series(out)

    return hashed.withColumn(out_col, probe("h1", "h2", "bucket")).drop("h1", "h2", "bucket")


def estimate_cardinality(bloom: DataFrame, m_bits: int = 1 << 16, k: int = 5) -> float:
    """Bloom cardinality estimate n = -(m/k)·ln(1 - X/m) summed over
    buckets (crazy.py:140-158 semantics)."""
    import math

    total = 0.0
    for r in bloom.collect():
        bits = np.frombuffer(r["bits"], dtype=np.uint8)
        x = int(np.unpackbits(bits).sum())
        if x >= m_bits:
            total += float(m_bits)
        else:
            total += -(m_bits / k) * math.log(1.0 - x / m_bits)
    return total
