"""Misra-Gries heavy-hitter sketch tests (operators/sketches.py).

The exact regime is certified by the a13_heavy_hitters_mg oracle query;
these tests pin the APPROXIMATE regime's guarantees against exact counts:
est ≤ true ≤ est + max_err, and every item with true count > max_err
survives the merge.
"""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import functions as F

from web_crawler_spark.operators import sketches as SK

# Zipf-ish stream: item i appears ~600/i times — heavy head, long tail.
STREAM = [f"w{i}" for i in range(1, 120) for _ in range(600 // i)]


@pytest.fixture(scope="module")
def items(spark):
    df = spark.createDataFrame([(x,) for x in STREAM], ["item"])
    return df.repartition(8)  # force multi-partition summaries + merge


def _exact() -> Counter:
    return Counter(STREAM)


def test_exact_regime_equals_groupby(spark, items):
    got = SK.mg_heavy_hitters(items, "item", k=10, capacity=1000).collect()
    truth = _exact()
    want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["item"], r["est"]) for r in got] == want
    assert all(r["max_err"] == 0 for r in got)


def test_approximate_regime_bounds(spark, items):
    rows = SK.mg_heavy_hitters(items, "item", k=1000, capacity=16).collect()
    truth = _exact()
    assert rows and rows[0]["max_err"] > 0  # genuinely approximate
    max_err = rows[0]["max_err"]
    present = set()
    for r in rows:
        t = truth[r["item"]]
        assert r["est"] <= t, (r["item"], r["est"], t)
        assert t <= r["est"] + max_err, (r["item"], r["est"], t, max_err)
        present.add(r["item"])
    # retention: anything strictly heavier than the total decrement mass
    # cannot have been evicted from every partition summary
    for item, t in truth.items():
        if t > max_err:
            assert item in present, (item, t, max_err)


def test_head_ranking_survives_sketching(spark, items):
    got = [
        r["item"]
        for r in SK.mg_heavy_hitters(items, "item", k=5, capacity=32).collect()
    ]
    truth = sorted(_exact().items(), key=lambda kv: (-kv[1], kv[0]))
    # the true top-3 are far above the error floor — order must hold
    assert got[:3] == [w for w, _ in truth[:3]]


def test_nulls_ignored(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("a",), ("b",), (None,)], ["item"]
    )
    got = SK.mg_heavy_hitters(df, "item", k=10, capacity=8).collect()
    assert [(r["item"], r["est"]) for r in got] == [("a", 2), ("b", 1)]


def test_shuffle_is_summary_sized(spark, items):
    # the plan must aggregate the mapInPandas summary, never the raw items:
    # the only wide exchange feeds a hash agg over ≤ capacity·partitions rows
    df = SK.mg_heavy_hitters(items, "item", k=5, capacity=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # the summary row count that crosses the exchange is bounded by
    # capacity·partitions + one Δ row per partition, independent of N
    n_summary = items.mapInPandas(
        SK._mg_summarize(16), SK._SUMMARY_SCHEMA
    ).count()
    assert n_summary <= (16 + 1) * 8


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def test_cms_overcount_bound_and_exactness(spark, items):
    """est ≥ true always; with width 1024 over this tiny stream the bound
    est ≤ true + N·e/width holds with huge slack; most heads are exact."""
    import math

    truth = _exact()
    n = len(STREAM)
    sketch = SK.cms_sketch(items, "item", depth=4, width=1024)
    queries = items.distinct()
    got = {
        r["item"]: r["est"]
        for r in SK.cms_estimate(sketch, queries, "item", 4, 1024).collect()
    }
    assert set(got) == set(truth)
    for item, t in truth.items():
        assert got[item] >= t, (item, got[item], t)
        assert got[item] <= t + math.ceil(n * math.e / 1024) + 1


def test_cms_sketch_is_capacity_bounded(spark, items):
    cells = SK.cms_sketch(items, "item", depth=3, width=64)
    rows = cells.collect()
    assert len(rows) <= 3 * 64
    assert {r["row"] for r in rows} == {0, 1, 2}
    assert all(0 <= r["col"] < 64 for r in rows)
    # total mass per row == N (every item hits every row exactly once)
    per_row = {}
    for r in rows:
        per_row[r["row"]] = per_row.get(r["row"], 0) + r["cnt"]
    assert set(per_row.values()) == {len(STREAM)}


def test_cms_unseen_item_estimates_from_zero_cells(spark, items):
    """An item never inserted may collide, but with a roomy sketch its
    estimate is 0 — the left-join coalesce path."""
    sketch = SK.cms_sketch(items, "item", depth=4, width=4096)
    q = spark.createDataFrame([("never-seen-token-xyzzy",)], ["item"])
    [row] = SK.cms_estimate(sketch, q, "item", 4, 4096).collect()
    assert row["est"] == 0


def test_cms_probe_side_broadcasts_sketch(spark, items):
    """Plan shape: the estimate join must broadcast the (≤ depth·width)-row
    sketch — the probe side never shuffles."""
    sketch = SK.cms_sketch(items, "item", depth=4, width=1024)
    est = SK.cms_estimate(sketch, items.distinct(), "item", 4, 1024)
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def test_hll_registers_match_python_reference(spark):
    """Registers are deterministic md5 functions of the items — recompute
    them in pure Python and demand frame identity."""
    import hashlib

    vals = [f"u{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], ["k"]).repartition(8)
    got = {
        r["bucket"]: r["rho"]
        for r in SK.hll_sketch(df, "k", p=6).collect()
    }
    ref: dict[int, int] = {}
    for v in vals:
        d = hashlib.md5(f"hll:{v}".encode()).hexdigest()
        bucket = int(d[:8], 16) % 64
        w = int(d[8:16], 16)
        rho = 33 if w == 0 else 33 - len(bin(w)[2:])
        ref[bucket] = max(ref.get(bucket, 0), rho)
    assert got == ref


def test_hll_estimate_accuracy_bias_corrected_regime(spark):
    """~3000 distinct at p=8 (m=256): the raw estimator regime. Standard
    error is 1.04/sqrt(256) ≈ 6.5%; demand within 4 sigma (26%)."""
    n = 3000
    df = spark.createDataFrame([(f"url{i}",) for i in range(n)], ["k"])
    [row] = SK.hll_estimate(SK.hll_sketch(df, "k", p=8), p=8).collect()
    assert abs(row["distinct_est"] - n) / n < 0.26, row


def test_hll_estimate_linear_counting_regime(spark):
    """30 distinct at m=256 → E ≤ 2.5m with zero registers present → linear
    counting, which is near-exact at this occupancy."""
    df = spark.createDataFrame([(f"u{i % 30}",) for i in range(900)], ["k"])
    [row] = SK.hll_estimate(SK.hll_sketch(df, "k", p=8), p=8).collect()
    assert abs(row["distinct_est"] - 30) <= 3, row


def test_hll_grouped_sketch_and_estimate(spark):
    """Per-group registers don't bleed across groups; duplicates don't move
    the estimate (cardinality, not frequency)."""
    rows = [("a", f"x{i}") for i in range(400)] * 2 + [
        ("b", f"x{i % 25}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["g", "k"]).repartition(8)
    sk = SK.hll_sketch(df, "k", p=8, group_cols=("g",))
    est = {
        r["g"]: r["distinct_est"]
        for r in SK.hll_estimate(sk, p=8, group_cols=("g",)).collect()
    }
    assert abs(est["a"] - 400) / 400 < 0.26
    assert abs(est["b"] - 25) <= 3


def test_hll_sketch_shuffle_is_register_bounded(spark):
    """The sketch never exceeds 2^p rows per group, and the plan is a
    partial-agg groupBy (no raw-key shuffle)."""
    df = spark.createDataFrame([(f"u{i}",) for i in range(5000)], ["k"])
    sk = SK.hll_sketch(df, "k", p=5)
    rows = sk.collect()
    assert len(rows) <= 32
    assert all(1 <= r["rho"] <= 33 for r in rows)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan or "HashAggregate" in plan
