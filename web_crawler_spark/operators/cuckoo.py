"""Cuckoo-filter URL-seen set (the north-rule's "bloom/cuckoo-filter
URL-seen set keyed by canonicalized URL hash" — the cuckoo half).

Why a cuckoo filter next to the bloom (``dedup.build_bloom``): a bloom
bitmap cannot *delete*. A crawl frontier's seen-set is not append-only —
URLs retire (recrawl scheduling marks them fetch-eligible again, redirect
targets supersede sources, blocklist updates evict whole hosts). With a
bloom, every retirement forces a full rebuild; a cuckoo filter removes the
key's fingerprint in O(1) and keeps serving probes. Reference parity: the
reference keeps its seen-set as an in-memory dict keyed by URL
(pacong/data/processor.py:335-380 dedup discipline) which supports
deletion trivially; this module restores that capability at corpus scale.

Design (partial-key cuckoo hashing, Fan et al. 2014, public paper):

* 16-bit fingerprints, 4 slots per bucket, power-of-two bucket count,
  target load factor 0.84 (the 4-way table is stable to ~0.95; the margin
  keeps bulk loads kick-free).
* ``i1 = mix(h) & (m-1)``, ``i2 = i1 XOR mix(fp) & (m-1)`` — the alt
  bucket is computable from (bucket, fingerprint) alone, which is what
  makes deletion and eviction work without the original key.
* **Sharded build**: the seen table is hash-partitioned into ``n_shards``
  by the high bits of the key (decorrelated from the low bits that pick
  the bucket), one numpy table built per shard inside its partition —
  the "per-partition ... URL-seen set" shape. No cross-shard merge is
  needed (bloom needs an OR-tree; cuckoo tables don't union, so the
  shard IS the unit).
* Probe / delete are vectorized numpy over Arrow batches.

Memory at scale: 2 bytes/slot / 0.84 load ≈ **2.4 bytes per key** — same
order as the 10-bit bloom (1.25 B/key) with deletion on top. At 10^10
URLs that is ~24 GB total across shards: the build stays distributed
(each shard table ≈ 24 GB / n_shards builds inside one partition), and —
exactly like ``bloom_size_bits``'s 2^30 cap — the broadcast-probe stage
is the right shape only while the shard dict fits the executors; beyond
that the per-bucket exact anti-join against the partitioned seen table
takes over. The cap below makes that boundary explicit.

The filter is an *optimization only* in ``anti_join_seen_cuckoo``: a
cuckoo filter has no false negatives for inserted keys, so rows it calls
unseen skip the shuffle; rows it calls seen still go through the exact
anti-join (false positives ~2^-13 per probe can never drop a new URL).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SLOTS = 4
_LOAD_TARGET = 0.84
_MAX_KICKS = 500
_MIN_BUCKETS = 1 << 6
_MAX_BUCKETS = 1 << 27  # 2^27 buckets * 4 slots * 2 B = 1 GiB/shard ceiling

# Odd 64-bit mixing constants (same family the bloom probes use).
_MIX_BUCKET = np.uint64(0x9E3779B97F4A7C15)
_MIX_FP = np.uint64(0xC2B2AE3D27D4EB4F)
_MIX_ALT = np.uint64(0x165667B19E3779F9)


def cuckoo_size_buckets(expected_keys: int) -> int:
    """Bucket count for *expected_keys* at the 0.84 load target, rounded
    up to a power of two (the XOR alt-bucket trick needs m = 2^k),
    floored/capped like ``bloom_size_bits``."""
    need = max(1, math.ceil(expected_keys / (_SLOTS * _LOAD_TARGET)))
    return min(_MAX_BUCKETS, max(_MIN_BUCKETS, 1 << (need - 1).bit_length()))


class CuckooTable:
    """One shard's table: numpy (m, 4) uint16, fingerprint 0 = empty."""

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        if n_buckets & (n_buckets - 1):
            raise ValueError("n_buckets must be a power of two")
        self.m = n_buckets
        self.table = (
            table if table is not None
            else np.zeros((n_buckets, _SLOTS), dtype=np.uint16)
        )

    # -- key → (fingerprint, bucket, alt-bucket), all vectorized ----------
    def _slots(self, keys: np.ndarray):
        h = keys.astype(np.uint64)
        fp = ((h * _MIX_FP) >> np.uint64(48)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty marker
        mask = np.uint64(self.m - 1)
        i1 = ((h * _MIX_BUCKET) >> np.uint64(16)) & mask
        i2 = i1 ^ self._fp_hash(fp)
        return fp, i1.astype(np.int64), i2.astype(np.int64)

    def _fp_hash(self, fp) -> np.uint64:
        with np.errstate(over="ignore"):  # uint64 wraparound is the mix
            return (np.uint64(fp) * _MIX_ALT >> np.uint64(24)) & np.uint64(self.m - 1)

    # -- vectorized group-fill: place fps into `buckets`, return unplaced --
    def _fill(self, buckets: np.ndarray, fps: np.ndarray,
              occ: np.ndarray) -> np.ndarray:
        if not len(buckets):
            return np.zeros(0, dtype=np.int64)
        order = np.argsort(buckets, kind="stable")
        b, f = buckets[order], fps[order]
        uniq, first, counts = np.unique(b, return_index=True, return_counts=True)
        rank = np.arange(len(b)) - np.repeat(first, counts)
        slot = occ[b] + rank
        ok = slot < _SLOTS
        self.table[b[ok], slot[ok]] = f[ok]
        occ[uniq] = np.minimum(_SLOTS, occ[uniq] + counts)
        return order[~ok]  # original-order indices of the unplaced keys

    def bulk_insert(self, keys: np.ndarray) -> None:
        """Vectorized two-pass load (primary bucket, then alt bucket);
        the straggler tail — only what both passes could not place —
        runs the classic kick loop."""
        fp, i1, i2 = self._slots(keys)
        occ = (self.table != 0).sum(axis=1).astype(np.int64)
        left = self._fill(i1, fp, occ)
        if len(left):
            # _fill returns positions within the subarray it was given
            left = left[self._fill(i2[left], fp[left], occ)]
        for j in left:
            self._insert_one(fp[j], i1[j])

    def _insert_one(self, f: np.uint16, bucket: np.int64) -> None:
        cur = int(bucket)
        f = np.uint16(f)
        for kick in range(_MAX_KICKS):
            row = self.table[cur]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                row[empty[0]] = f
                return
            s = kick % _SLOTS  # deterministic eviction (reproducible builds)
            f, row[s] = row[s], f
            cur = int(np.uint64(cur) ^ self._fp_hash(f))
        raise RuntimeError(
            "cuckoo filter over capacity — size with cuckoo_size_buckets(n)"
        )

    def contains(self, keys: np.ndarray) -> np.ndarray:
        fp, i1, i2 = self._slots(keys)
        col = fp[:, None]
        return ((self.table[i1] == col).any(axis=1)
                | (self.table[i2] == col).any(axis=1))

    def delete(self, keys: np.ndarray) -> np.ndarray:
        """Remove one stored copy of each key's fingerprint; returns a
        bool mask of keys actually removed. Deleting a never-inserted key
        is safe only in the probabilistic sense (it may evict a colliding
        fingerprint) — standard cuckoo-filter contract: delete only keys
        previously inserted."""
        fp, i1, i2 = self._slots(keys)
        removed = np.zeros(len(keys), dtype=bool)
        for j in range(len(keys)):
            for b in (i1[j], i2[j]):
                row = self.table[b]
                hit = np.flatnonzero(row == fp[j])
                if hit.size:
                    row[hit[0]] = 0
                    removed[j] = True
                    break
        return removed

    @property
    def load(self) -> float:
        return float((self.table != 0).sum()) / (self.m * _SLOTS)

    def to_bytes(self) -> bytes:
        return np.uint64(self.m).tobytes() + self.table.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "CuckooTable":
        m = int(np.frombuffer(raw[:8], dtype=np.uint64)[0])
        table = np.frombuffer(raw[8:], dtype=np.uint16).reshape(m, _SLOTS).copy()
        return cls(m, table)


def _shard_of(h: np.ndarray, n_shards: int) -> np.ndarray:
    # High bits pick the shard; low-ish bits pick the bucket — decorrelated.
    return ((h.astype(np.uint64)) >> np.uint64(32)) % np.uint64(n_shards)


def _shard_col(key: str, n_shards: int):
    return F.pmod(F.shiftrightunsigned(F.col(key).cast("long"), 32),
                  F.lit(n_shards)).cast("int")


class ShardedCuckoo:
    """The sharded seen-set filter: shard count + one table per non-empty
    shard. Carrying ``n_shards`` explicitly matters — inferring it from
    the dict breaks when the highest shard holds no keys."""

    def __init__(self, n_shards: int, shards: dict[int, CuckooTable]):
        self.n_shards = n_shards
        self.shards = shards


def build_cuckoo_shards(
    seen: DataFrame,
    key: str = "url_hash",
    n_shards: int = 16,
    expected_keys: int | None = None,
) -> ShardedCuckoo:
    """Distributed sharded build: repartition the (int64-hash) key column
    by shard, build one CuckooTable per shard inside its partition, collect
    the (shard, bytes) rows. ``expected_keys`` (the checkpoint manifest's
    seen-row count at scale) sizes the shard tables without a count()."""
    import pandas as pd

    n = expected_keys if expected_keys is not None else seen.count()
    # Per-shard sizing with 30% headroom over the uniform share (xxhash64
    # shards are near-uniform; headroom absorbs the binomial spread).
    m = cuckoo_size_buckets(max(1, int(math.ceil(n / n_shards * 1.3))))

    def build(it):
        acc: dict[int, list[np.ndarray]] = {}
        for pdf in it:
            h = pdf[key].to_numpy().astype(np.int64).astype(np.uint64)
            if not len(h):
                continue
            s = _shard_of(h, n_shards)
            for sv in np.unique(s):
                acc.setdefault(int(sv), []).append(h[s == sv])
        for sv, chunks in acc.items():
            t = CuckooTable(m)
            t.bulk_insert(np.unique(np.concatenate(chunks)))
            yield pd.DataFrame({"shard": [sv], "tbl": [t.to_bytes()]})

    rows = (
        seen.select(F.col(key).cast("long").alias(key))
        .repartition(n_shards, _shard_col(key, n_shards))
        .mapInPandas(build, "shard int, tbl binary")
        .collect()
    )
    return ShardedCuckoo(
        n_shards, {r["shard"]: CuckooTable.from_bytes(r["tbl"]) for r in rows}
    )


def cuckoo_filter_stage(
    df: DataFrame,
    filt: ShardedCuckoo,
    key: str = "url_hash",
    out_col: str = "might_be_seen",
) -> DataFrame:
    """Vectorized membership probe against the sharded filter (tables ride
    the task closure → one broadcast per executor, same as the bloom
    stage). Missing shard (no seen keys hashed there) → definitely unseen."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    n_shards = filt.n_shards
    blobs = {sv: t.to_bytes() for sv, t in filt.shards.items()}
    schema = StructType(list(df.schema.fields) + [StructField(out_col, BooleanType())])

    def probe(it):
        tables = {sv: CuckooTable.from_bytes(b) for sv, b in blobs.items()}
        for pdf in it:
            h = pdf[key].to_numpy().astype(np.int64).astype(np.uint64)
            hit = np.zeros(len(h), dtype=bool)
            if len(h):
                s = _shard_of(h, n_shards)
                for sv in np.unique(s):
                    t = tables.get(int(sv))
                    if t is not None:
                        sel = s == sv
                        hit[sel] = t.contains(h[sel])
            pdf[out_col] = hit
            yield pdf

    return df.mapInPandas(probe, schema)


def anti_join_seen_cuckoo(
    frontier: DataFrame,
    seen: DataFrame,
    key: str = "url_hash",
    hash_key: str | None = None,
    n_shards: int = 16,
    expected_keys: int | None = None,
) -> DataFrame:
    """New-URL discovery: ``frontier`` rows whose ``key`` is not in
    ``seen``, with the cuckoo filter as a pre-filter before the anti-join.

    ``key`` is the exact-join column (any type — e.g. the md5 string hash
    the oracle uses); ``hash_key`` names an int64 column to feed the
    filter, derived as ``xxhash64(key)`` on both sides when absent. Rows
    the filter calls unseen skip the shuffle (no false negatives); rows it
    calls seen take the exact anti-join — the result is exactly the
    anti-join, the filter only sheds shuffle volume.
    """
    derived = hash_key is None
    hk = hash_key or "__cuckoo_xx"
    f = frontier.withColumn(hk, F.xxhash64(key)) if derived else frontier
    s = seen.withColumn(hk, F.xxhash64(key)) if derived else seen

    shards = build_cuckoo_shards(s.select(hk), key=hk, n_shards=n_shards,
                                 expected_keys=expected_keys)
    probed = cuckoo_filter_stage(f, shards, key=hk)
    new = probed.filter(~F.col("might_be_seen")).drop("might_be_seen")
    maybe = probed.filter(F.col("might_be_seen")).drop("might_be_seen")
    checked = maybe.join(s.select(key), on=key, how="left_anti")
    out = new.unionByName(checked)
    return out.drop(hk) if derived else out
