"""Partitioned cuckoo-filter for the URL-seen set (SURVEY §4.2.3).

A bloom filter answers "maybe seen?" but can never forget: once a
URL's bits are set they stay set, so cache-expiry
/ recrawl semantics (reference `cache_context.py` CacheMode.ENABLED
with TTL'd invalidation) need a full rebuild.  The cuckoo filter
(partial-key cuckoo hashing, Fan et al. 2014 — public) supports
**deletion** and **incremental insertion** at the same ~const bytes/key,
which makes it the long-lived cross-run seen state that must drop
entries when a page's cache entry expires (plans/recrawl.forget_expired).

The filter is a table, so it snapshots through the SnapshotStore
like any other state: `n_shards` independent filters
keyed by pmod(h2, n_shards); each shard row is

    (shard int, table binary, stash binary)

where `table` is an (m_buckets × SLOTS) uint16 fingerprint array and
`stash` holds the rare entries whose eviction chain exceeded MAX_KICKS
(kept so a full filter degrades to extra stash probes, never to a
false negative).  All per-key work is numpy over Arrow batches; the
scalar eviction loop only runs for keys the vectorized rounds could
not place (a few % at the designed ≤50% load).

Hashing: the JVM computes the xxhash64 pair (h1, h2 = xxhash64(h1));
Python never hashes strings.  Per shard (m a power of two):

    fp  = top 16 bits of h1, forced nonzero        (uint16)
    i1  = h1 & (m-1)                               (low bits, disjoint)
    i2  = i1 ^ (mix32(fp) & (m-1))                 (partial-key kick)

so i2's derivation is an involution: from (i2, fp) the partner bucket
is recovered the same way — the property cuckoo kicking relies on.

Probe modes:
  * broadcast — collect the (few-MB) shard blobs to a broadcast var,
    probe via pandas_udf: right for a dim-sized filter.
  * cogroup  — shuffle candidates by shard and cogroup-join with the
    filter table, zero driver collect: the 10^10-key scale path (each
    executor only ever holds its shards).

False-positive rate: P(fp collision in ≤ 2·SLOTS occupied slots)
≈ 8/2^16 ≈ 1.2e-4 at full load — same class as the reference's 1%
bloom default (deep_crawling/crazy.py:53) with headroom.  Deleting a
key that was never inserted can remove another key's fingerprint
(standard cuckoo caveat) — callers delete only keys they inserted.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    StructField,
    StructType,
)

SLOTS = 4
MAX_KICKS = 250
_MIX = np.uint32(0x9E3779B1)  # 32-bit golden-ratio multiplier

CUCKOO_SCHEMA = StructType([
    StructField("shard", IntegerType()),
    StructField("table", BinaryType()),
    StructField("stash", BinaryType()),
])

__all__ = [
    "CUCKOO_SCHEMA",
    "empty_cuckoo",
    "cuckoo_add",
    "cuckoo_delete",
    "cuckoo_probe",
    "cuckoo_probe_cogroup",
    "cuckoo_cardinality",
]


# ── pure-numpy shard kernel ──────────────────────────────────────────

def _derive(h1: np.ndarray, m: int):
    """(fp, i1, i2) from the 64-bit hash; m must be a power of two."""
    h = h1.astype(np.uint64)
    fp = (h >> np.uint64(48)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    i1 = (h & np.uint64(m - 1)).astype(np.int64)
    i2 = i1 ^ (_alt_offset(fp) & np.int64(m - 1))
    return fp, i1, i2


def _alt_offset(fp: np.ndarray | int) -> np.ndarray | np.int64:
    """mix32(fp) — the partner-bucket xor offset.  Computed in uint64
    with an explicit 2^32 mask so the vectorized (probe/insert) and
    scalar (eviction-loop) paths agree without overflow wrap-around."""
    if isinstance(fp, np.ndarray):
        mixed = (fp.astype(np.uint64) * np.uint64(int(_MIX))) & np.uint64(0xFFFFFFFF)
        return mixed.astype(np.int64)
    return np.int64((int(fp) * int(_MIX)) & 0xFFFFFFFF)


def _unpack(table_blob: bytes, stash_blob: bytes):
    tab = np.frombuffer(table_blob, dtype=np.uint16).reshape(-1, SLOTS).copy()
    stash = np.frombuffer(stash_blob, dtype=np.int64).reshape(-1, 2).copy()
    return tab, stash  # stash rows: (bucket, fp)


def _pack(tab: np.ndarray, stash: np.ndarray):
    return tab.astype(np.uint16).tobytes(), stash.astype(np.int64).tobytes()


def _insert_shard(tab: np.ndarray, stash: np.ndarray, h1: np.ndarray) -> np.ndarray:
    """Insert a batch of keys into one shard's table in place.

    DUPLICATE SEMANTICS (Fan et al., "Cuckoo Filter: Practically
    Better Than Bloom", deletion section): two DISTINCT keys that
    collide on (bucket, fingerprint) MUST both place a copy — the
    duplicate is what keeps `cuckoo_delete` of one key from turning
    the other into a false NEGATIVE (a seen-filter contract
    violation: 'definitely new' for a crawled URL re-crawls it).
    Inserts therefore do NOT skip already-present fingerprints;
    instead, delete-exactness is the CALLER's contract: insert each
    key at most once (callers add only exactly-new keys, e.g. a
    post-anti-join fresh set or a DISTINCT seen set), and delete
    only keys previously inserted.  Same-key duplicates
    WITHIN a batch are deduped below (identical h1 ⇒ same key —
    safe), so a caller-respecting filter holds exactly one copy per
    key plus the collision copies that make deletion safe.

    Vectorized rounds first (each round places ≤1 key per bucket-slot
    — no intra-batch write conflicts), scalar eviction only for the
    residue.  Returns the updated stash."""
    m = tab.shape[0]
    h1 = np.unique(h1)  # intra-batch same-key dedup (64-bit h1 ⇒ same key)
    fp, i1, i2 = _derive(h1, m)
    pending = np.arange(len(fp))
    for _ in range(6):
        if pending.size == 0:
            break
        progressed = False
        for buck in (i1, i2):
            for s in range(SLOTS):
                if pending.size == 0:
                    break
                b = buck[pending]
                free = tab[b, s] == 0
                cand = pending[free]
                if cand.size == 0:
                    continue
                # first occurrence per bucket → conflict-free writes
                _, first = np.unique(buck[cand], return_index=True)
                sel = cand[first]
                tab[buck[sel], s] = fp[sel]
                keep = np.ones(pending.size, dtype=bool)
                keep[np.isin(pending, sel)] = False
                pending = pending[keep]
                progressed = True
        if not progressed:
            break

    if pending.size:
        # deterministic kick order (no wall-clock/np.random state:
        # reproducible across retries and resume)
        rot = 0
        new_stash = []
        for j in pending:
            f, b = np.uint16(fp[j]), int(i1[j])
            for _kick in range(MAX_KICKS):
                row = tab[b]
                empties = np.nonzero(row == 0)[0]
                if empties.size:
                    tab[b, empties[0]] = f
                    f = None
                    break
                s = rot % SLOTS
                rot += 1
                f, tab[b, s] = np.uint16(tab[b, s]), f
                b = int(np.int64(b) ^ (_alt_offset(f) & np.int64(m - 1)))
            if f is not None:
                new_stash.append((b, int(f)))
        if new_stash:
            stash = np.concatenate([stash, np.asarray(new_stash, dtype=np.int64)])
    return stash


def _probe_shard(tab: np.ndarray, stash: np.ndarray, h1: np.ndarray) -> np.ndarray:
    m = tab.shape[0]
    fp, i1, i2 = _derive(h1, m)
    hit = np.zeros(len(h1), dtype=bool)
    for s in range(SLOTS):
        hit |= tab[i1, s] == fp
        hit |= tab[i2, s] == fp
    if stash.size:
        # stash rows (b, f): a probe key matches if f == fp and b is
        # one of its two buckets (b was a valid bucket of the victim)
        sk = set(map(tuple, stash.tolist()))
        for j in np.nonzero(~hit)[0]:
            if (int(i1[j]), int(fp[j])) in sk or (int(i2[j]), int(fp[j])) in sk:
                hit[j] = True
    return hit


def _delete_shard(tab: np.ndarray, stash: np.ndarray, h1: np.ndarray) -> np.ndarray:
    m = tab.shape[0]
    fp, i1, i2 = _derive(h1, m)
    for j in range(len(h1)):
        done = False
        for b in (int(i1[j]), int(i2[j])):
            for s in range(SLOTS):
                if tab[b, s] == fp[j]:
                    tab[b, s] = 0
                    done = True
                    break
            if done:
                break
        if not done and stash.size:
            for r in range(stash.shape[0]):
                if stash[r, 1] == int(fp[j]) and stash[r, 0] in (int(i1[j]), int(i2[j])):
                    stash = np.delete(stash, r, axis=0)
                    break
    return stash


# ── DataFrame surface ────────────────────────────────────────────────

def _with_shard(df: DataFrame, key_col: str, n_shards: int, hash_col: str | None) -> DataFrame:
    """(h1, shard) derivation — h1 from the raw key via xxhash64 (or an
    already-64-bit hash column verbatim), shard from h2 = xxhash64(h1)
    so shard choice is independent of the fp/index bits."""
    if hash_col is not None:
        h1 = F.col(hash_col)
    else:
        h1 = F.xxhash64(key_col)
    return df.withColumn("_h1", h1).withColumn(
        "_shard", F.pmod(F.xxhash64(F.col("_h1")), F.lit(n_shards)).cast("int")
    )


def empty_cuckoo(spark, n_shards: int = 16, m_buckets: int = 1 << 12) -> DataFrame:
    """All-shards-empty filter table (n_shards rows, m_buckets·SLOTS
    uint16 slots per shard ⇒ capacity ≈ 0.5·n_shards·m_buckets·SLOTS
    keys at the designed 50% load).  Blobs are built EXECUTOR-side
    (mapInPandas over a range) — at the sized maximum a shard blob is
    MBs and n_shards of them must not round-trip through the driver."""
    n_bytes = m_buckets * SLOTS * 2

    def gen(batches: "pd.DataFrame") -> "pd.DataFrame":
        for pdf in batches:
            yield pd.DataFrame({
                "shard": pdf["id"].astype("int32"),
                "table": [bytes(n_bytes)] * len(pdf),
                "stash": [b""] * len(pdf),
            })

    return spark.range(n_shards).mapInPandas(gen, CUCKOO_SCHEMA)


def _shard_count(filt: DataFrame) -> int:
    """The filter's shard count IS its row count — derive it instead
    of trusting callers to re-supply the construction parameter (a
    silent mismatch routes keys to shards that don't exist)."""
    return filt.count()


def _cogroup_update(
    filt: DataFrame, keys: DataFrame, key_col: str,
    n_shards: int | None, hash_col: str | None, kernel,
) -> DataFrame:
    """Shared cogroup plan for add/delete: keys shuffle once on shard;
    a shard that received NO keys passes its blob through UNTOUCHED
    (no unpack/repack — the per-superstep cost is O(touched shards),
    not O(filter bytes))."""
    if n_shards is None:
        n_shards = _shard_count(filt)
    hashed = _with_shard(keys, key_col, n_shards, hash_col).select("_shard", "_h1")

    def upd(fkey, fpdf: pd.DataFrame, kpdf: pd.DataFrame) -> pd.DataFrame:
        if fpdf.empty:  # keys routed outside the filter: impossible by pmod
            return pd.DataFrame(columns=["shard", "table", "stash"])
        if kpdf.empty:  # untouched shard: blob passes through verbatim
            return fpdf[["shard", "table", "stash"]]
        tab, stash = _unpack(bytes(fpdf["table"].iloc[0]), bytes(fpdf["stash"].iloc[0]))
        stash = kernel(tab, stash, kpdf["_h1"].to_numpy(dtype=np.int64))
        tb, sb = _pack(tab, stash)
        return pd.DataFrame({"shard": [int(fkey[0])], "table": [tb], "stash": [sb]})

    return (
        filt.groupBy("shard")
        .cogroup(hashed.groupBy("_shard"))
        .applyInPandas(upd, CUCKOO_SCHEMA)
    )


def cuckoo_add(
    filt: DataFrame, keys: DataFrame, key_col: str = "url",
    n_shards: int | None = None, hash_col: str | None = None,
) -> DataFrame:
    """Incrementally insert `keys` → new filter table (the old one is
    untouched: state is immutable-snapshot style, like the frontier).
    `n_shards=None` derives the count from the filter itself."""
    return _cogroup_update(filt, keys, key_col, n_shards, hash_col, _insert_shard)


def cuckoo_delete(
    filt: DataFrame, keys: DataFrame, key_col: str = "url",
    n_shards: int | None = None, hash_col: str | None = None,
) -> DataFrame:
    """Remove `keys` (must have been inserted — see module caveat).
    Same cogroup plan shape as `cuckoo_add`."""
    return _cogroup_update(filt, keys, key_col, n_shards, hash_col, _delete_shard)


def cuckoo_probe(
    df: DataFrame, filt: DataFrame, key_col: str = "url",
    n_shards: int | None = None, hash_col: str | None = None,
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Broadcast probe: adds boolean `out_col` (False ⇒ definitely not
    inserted).  Collects the shard blobs to a broadcast var — right
    while the filter is dim-sized; use `cuckoo_probe_cogroup` beyond.

    EAGER: the result is materialized (localCheckpoint) so the shard
    broadcast can be unpersisted before returning — otherwise a caller
    probing in a loop (one probe per superstep) accumulates broadcast
    blocks for the session lifetime.  Loops that want a lazy plan
    should use `cuckoo_probe_cogroup`."""
    blobs = {
        int(r["shard"]): _unpack(bytes(r["table"]), bytes(r["stash"]))
        for r in filt.collect()
    }
    if n_shards is None:
        n_shards = len(blobs)
    bc = df.sparkSession.sparkContext.broadcast(blobs)

    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def probe(h1: pd.Series, shard: pd.Series) -> pd.Series:
        local = bc.value
        a = h1.to_numpy(dtype=np.int64)
        sh = shard.to_numpy()
        out = np.zeros(len(a), dtype=bool)
        for s in np.unique(sh):
            entry = local.get(int(s))
            if entry is None:
                continue
            tab, stash = entry
            mask = sh == s
            out[mask] = _probe_shard(tab, stash, a[mask])
        return pd.Series(out)

    hashed = _with_shard(df, key_col, n_shards, hash_col)
    out = (
        hashed.withColumn(out_col, probe("_h1", "_shard"))
        .drop("_h1", "_shard")
        .localCheckpoint(eager=True)
    )
    bc.unpersist()
    return out


def cuckoo_probe_cogroup(
    df: DataFrame, filt: DataFrame, key_col: str = "url",
    n_shards: int | None = None, hash_col: str | None = None,
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Distributed probe with ZERO driver collect: candidates shuffle
    once on shard and cogroup with the filter rows — each task holds
    only its shards' blobs.  The 10^10-key path: filter bytes scale
    with keys, but no single JVM ever sees more than its shards.

    Output = input columns + `out_col` (row order not preserved —
    it's a shuffle; join semantics, like every distributed probe)."""
    if n_shards is None:
        n_shards = _shard_count(filt)
    hashed = _with_shard(df, key_col, n_shards, hash_col)
    out_schema = StructType(list(hashed.schema.fields) + [StructField(out_col, BooleanType())])

    def probe(fkey, kpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        if kpdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        if fpdf.empty:
            kpdf[out_col] = False
            return kpdf
        tab, stash = _unpack(bytes(fpdf["table"].iloc[0]), bytes(fpdf["stash"].iloc[0]))
        kpdf[out_col] = _probe_shard(tab, stash, kpdf["_h1"].to_numpy(dtype=np.int64))
        return kpdf

    return (
        hashed.groupBy("_shard")
        .cogroup(filt.groupBy("shard"))
        .applyInPandas(probe, out_schema)
        .drop("_h1", "_shard")
    )


def cuckoo_cardinality(filt: DataFrame) -> int:
    """Exact occupied-slot count (table slots + stash entries).
    Under the insert-once contract this approximates distinct inserted
    keys plus their collision duplicates; re-inserting a key (in a
    later `cuckoo_add`) occupies another slot, so re-inserts inflate
    the count.  One small agg over n_shards rows."""
    total = 0
    for r in filt.collect():
        tab, stash = _unpack(bytes(r["table"]), bytes(r["stash"]))
        total += int((tab != 0).sum()) + stash.shape[0]
    return total
