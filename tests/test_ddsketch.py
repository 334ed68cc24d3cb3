"""DDSketch relative-error quantile sketch (operators/sketches.py,
Masson/Rim/Lee VLDB 2019). The oracle query `a16_dds_quantiles` certifies
buckets + rank walk + estimates; these tests pin the paper's guarantee
(|est − true| ≤ α·true BY CONSTRUCTION) and state bounds."""

from __future__ import annotations

import math

import pytest

from web_crawler_spark.operators import sketches as SK

# deterministic long-tailed positive values spanning ~5 decades
VALUES = [1.0 + (i * i % 9973) / 7.0 + (i % 13) * 10.0 ** (i % 5) for i in range(4000)]


@pytest.fixture(scope="module")
def vals(spark):
    return spark.createDataFrame([(v,) for v in VALUES], ["x"]).repartition(8)


def _true_q(sorted_vals: list[float], q: float) -> float:
    return sorted_vals[int(math.floor(q * (len(sorted_vals) - 1)))]


def test_relative_error_guarantee(spark, vals):
    alpha = 0.01
    qs = [0.01, 0.25, 0.5, 0.9, 0.99]
    sk = SK.dds_sketch(vals, "x", alpha=alpha)
    got = {r["q"]: r["est"] for r in SK.dds_quantiles(sk, qs, alpha=alpha).collect()}
    s = sorted(VALUES)
    for q in qs:
        true = _true_q(s, q)
        assert abs(got[q] - true) <= alpha * true * 1.000001, (q, got[q], true)


def test_zeros_answer_low_quantiles(spark):
    df = spark.createDataFrame(
        [(0.0,)] * 60 + [(100.0,)] * 40, ["x"]
    )
    sk = SK.dds_sketch(df, "x", 0.01)
    got = {r["q"]: r["est"] for r in SK.dds_quantiles(sk, [0.25, 0.9], 0.01).collect()}
    assert got[0.25] == 0.0
    assert abs(got[0.9] - 100.0) <= 1.0 + 0.01 * 100.0


def test_grouped_quantiles_isolated(spark):
    rows = [("a", float(v)) for v in range(1, 101)] + [
        ("b", float(v) * 1000.0) for v in range(1, 101)
    ]
    df = spark.createDataFrame(rows, ["g", "x"])
    sk = SK.dds_sketch(df, "x", 0.01, group_cols=("g",))
    got = {
        (r["g"], r["q"]): r["est"]
        for r in SK.dds_quantiles(sk, [0.5], 0.01, group_cols=("g",)).collect()
    }
    assert abs(got[("a", 0.5)] - 50.0) <= 0.01 * 50.0 * 1.01
    assert abs(got[("b", 0.5)] - 50000.0) <= 0.01 * 50000.0 * 1.01


def test_sketch_size_is_log_bounded(spark, vals):
    """5 decades at α=0.05 → ≤ ln(range)/ln(γ) ≈ 130 buckets, regardless
    of the 4000 input rows."""
    rows = SK.dds_sketch(vals, "x", alpha=0.05).collect()
    gamma = 1.05 / 0.95
    hi, lo = max(VALUES), min(v for v in VALUES if v > 0)
    assert len(rows) <= math.log(hi / lo) / math.log(gamma) + 3
