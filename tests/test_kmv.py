"""KMV / bottom-k distinct sketch with set operations
(operators/sketches.py, Bar-Yossef et al. 2002 / Beyer et al. SIGMOD
2007). The oracle query `a17_kmv_epoch_overlap` certifies hashes, merge,
and every estimate; these tests pin regimes and accuracy vs ground truth,
reading a single sketch's estimate as ``kmv_set_ops``' ``distinct_a``."""

from __future__ import annotations

import hashlib

import pytest

from web_crawler_spark.operators import sketches as SK


def _h(v: str) -> int:
    return int(hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:12], 16)


def test_exact_regime_holds_all_hashes(spark):
    vals = [f"u{i}" for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals] * 3, ["k"]).repartition(8)
    [row] = SK.kmv_sketch(df, "k", k=256).collect()
    assert row["hashes"] == sorted(_h(v) for v in vals)
    sk = SK.kmv_sketch(df, "k", k=256)
    [est] = SK.kmv_set_ops(sk, sk, k=256).collect()
    assert est["distinct_a"] == 50.0


def test_sketch_is_k_smallest_md5_values(spark):
    vals = [f"page{i}" for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], ["k"]).repartition(16)
    [row] = SK.kmv_sketch(df, "k", k=64).collect()
    assert row["hashes"] == sorted(_h(v) for v in vals)[:64]


def test_estimate_accuracy(spark):
    n, k = 5000, 256
    df = spark.createDataFrame([(f"url{i}",) for i in range(n)], ["k"])
    sk = SK.kmv_sketch(df, "k", k=k)
    [row] = SK.kmv_set_ops(sk, sk, k=k).collect()
    # se ≈ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
    assert abs(row["distinct_a"] - n) / n < 0.26, row


def test_set_ops_estimates_overlap(spark):
    # |A|=4000, |B|=4000, |A∩B|=2000 → J = 1/3
    a = spark.createDataFrame([(f"x{i}",) for i in range(4000)], ["k"])
    b = spark.createDataFrame([(f"x{i}",) for i in range(2000, 6000)], ["k"])
    sa = SK.kmv_sketch(a, "k", k=256)
    sb = SK.kmv_sketch(b, "k", k=256)
    [row] = SK.kmv_set_ops(sa, sb, k=256).collect()
    assert abs(row["union_est"] - 6000) / 6000 < 0.26
    assert abs(row["jaccard_est"] - 1 / 3) < 0.12  # Binomial(256, 1/3) 4σ
    assert abs(row["intersect_est"] - 2000) / 2000 < 0.45
    assert abs(row["distinct_a"] - 4000) / 4000 < 0.26


def test_set_ops_exact_regime(spark):
    a = spark.createDataFrame([(f"x{i}",) for i in range(30)], ["k"])
    b = spark.createDataFrame([(f"x{i}",) for i in range(20, 50)], ["k"])
    [row] = SK.kmv_set_ops(
        SK.kmv_sketch(a, "k", k=256), SK.kmv_sketch(b, "k", k=256), k=256
    ).collect()
    assert row["distinct_a"] == 30.0 and row["distinct_b"] == 30.0
    assert row["union_est"] == 50.0
    assert row["jaccard_est"] == pytest.approx(10 / 50)
    assert row["intersect_est"] == pytest.approx(10.0)


def test_grouped_sketches_isolated(spark):
    rows = [("a", f"u{i}") for i in range(40)] + [("b", f"v{i}") for i in range(70)]
    df = spark.createDataFrame(rows, ["g", "k"]).repartition(8)
    sk = SK.kmv_sketch(df, "k", k=128, group_cols=("g",))
    est = {
        r["g"]: r["distinct_a"]
        for r in SK.kmv_set_ops(sk, sk, k=128, group_cols=("g",)).collect()
    }
    assert est == {"a": 40.0, "b": 70.0}
