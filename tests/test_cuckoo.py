"""Cuckoo-filter seen-set: local table semantics + distributed shard
build/probe/delete + the exact-anti-join contract.

Reference parity: the reference's URL-seen dict (pacong/data/
processor.py:335-380) supports membership AND deletion; the bloom filter
covers membership only — the cuckoo filter restores deletion at scale.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from web_crawler_spark.operators import cuckoo as C


def _keys(n: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    # Random int64 values spanning the full signed range (xxhash64-like).
    return rng.randint(-(2**63), 2**63 - 1, size=n, dtype=np.int64).astype(np.uint64)


class TestCuckooTable:
    def test_no_false_negatives(self):
        keys = np.unique(_keys(20_000, 1))
        t = C.CuckooTable(C.cuckoo_size_buckets(len(keys)))
        t.bulk_insert(keys)
        assert t.contains(keys).all()

    def test_false_positive_rate_bounded(self):
        keys = np.unique(_keys(20_000, 2))
        probe = np.unique(_keys(50_000, 3))
        probe = probe[~np.isin(probe, keys)]
        t = C.CuckooTable(C.cuckoo_size_buckets(len(keys)))
        t.bulk_insert(keys)
        fpp = t.contains(probe).mean()
        # 16-bit fp, 2 buckets x 4 slots => ~8/2^16 ~ 0.00012; allow 10x.
        assert fpp < 0.0015, fpp

    def test_delete_removes_membership(self):
        keys = np.unique(_keys(5_000, 4))
        t = C.CuckooTable(C.cuckoo_size_buckets(len(keys)))
        t.bulk_insert(keys)
        victims = keys[:500]
        removed = t.delete(victims)
        assert removed.all()
        # Deleted keys may still collide with another stored fingerprint,
        # but the overwhelming majority must now probe False.
        assert t.contains(victims).mean() < 0.01
        # Untouched keys keep the no-false-negative guarantee.
        assert t.contains(keys[500:]).all()

    def test_bulk_matches_one_by_one(self):
        keys = np.unique(_keys(3_000, 5))
        m = C.cuckoo_size_buckets(len(keys))
        bulk = C.CuckooTable(m)
        bulk.bulk_insert(keys)
        ref = C.CuckooTable(m)
        fp, i1, _ = ref._slots(keys)
        for j in range(len(keys)):
            ref._insert_one(fp[j], i1[j])
        # Same multiset of fingerprints per bucket pair ⇒ identical probe
        # behavior; assert the observable contract rather than slot layout.
        assert ref.contains(keys).all() and bulk.contains(keys).all()
        assert bulk.load == pytest.approx(ref.load)

    def test_high_load_insert_via_kicks(self):
        # Fill to ~0.93 load: forces the kick loop past the vectorized passes.
        m = 1 << 8
        n = int(m * C._SLOTS * 0.93)
        keys = np.unique(_keys(4 * n, 6))[:n]
        t = C.CuckooTable(m)
        t.bulk_insert(keys)
        assert t.contains(keys).all()
        assert t.load >= 0.9

    def test_over_capacity_raises(self):
        m = 1 << 6
        keys = np.unique(_keys(4 * m * C._SLOTS, 7))[: m * C._SLOTS + 40]
        t = C.CuckooTable(m)
        with pytest.raises(RuntimeError, match="capacity"):
            t.bulk_insert(keys)

    def test_roundtrip_bytes(self):
        keys = np.unique(_keys(1_000, 8))
        t = C.CuckooTable(C.cuckoo_size_buckets(len(keys)))
        t.bulk_insert(keys)
        back = C.CuckooTable.from_bytes(t.to_bytes())
        assert back.m == t.m
        assert back.contains(keys).all()

    def test_sizing(self):
        assert C.cuckoo_size_buckets(1) == C._MIN_BUCKETS
        m = C.cuckoo_size_buckets(1_000_000)
        assert m & (m - 1) == 0
        assert m * C._SLOTS * C._LOAD_TARGET >= 1_000_000


class TestShardedFilter:
    def test_build_probe(self, spark):
        urls = spark.range(8_000).select(
            F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                     F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url")
        ).withColumn("url_hash", F.xxhash64("url"))
        seen = urls.filter(F.col("url_hash") % 2 == 0)
        filt = C.build_cuckoo_shards(seen, n_shards=8)
        assert filt.n_shards == 8 and set(filt.shards) <= set(range(8))

        probed = C.cuckoo_filter_stage(urls, filt).toPandas()
        seen_set = set(r["url_hash"] for r in seen.collect())
        for _, row in probed.iterrows():
            if row["url_hash"] in seen_set:
                assert row["might_be_seen"]  # no false negatives

    def test_anti_join_exactness(self, spark):
        frontier = spark.range(3_000).select(
            F.concat(F.lit("https://x.example.com/"), F.col("id").cast("string")
                     ).alias("url")
        ).withColumn("url_hash", F.md5("url"))
        seen = frontier.filter(F.xxhash64("url") % 3 == 0).select("url_hash")

        got = C.anti_join_seen_cuckoo(frontier, seen, key="url_hash", n_shards=4)
        want = frontier.join(seen, "url_hash", "left_anti")
        assert got.columns == frontier.columns
        assert sorted(r["url"] for r in got.collect()) == \
               sorted(r["url"] for r in want.collect())

    def test_empty_seen(self, spark):
        frontier = spark.range(50).select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url")
        ).withColumn("url_hash", F.md5("url"))
        empty = frontier.filter(F.lit(False)).select("url_hash")
        got = C.anti_join_seen_cuckoo(frontier, empty, key="url_hash")
        assert got.count() == 50
