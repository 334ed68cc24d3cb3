"""host_budget_waterfill (operators/aggregate.py): max-min fair crawl
capacity allocation — integer water-filling with deterministic remainder
spread, verified against a plain-Python reference."""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from web_crawler_spark.operators.aggregate import (
    host_budget_waterfill,
    waterfill_budgets,
)


def _py_waterfill(demands, capacity):
    """Reference: rank ascending by (demand, host)."""
    ranked = sorted(demands.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ranked)
    out, prefix, K, PK = {}, 0, 0, 0
    for k, (h, d) in enumerate(ranked, 1):
        if d * (n - k + 1) + prefix <= capacity:
            K, PK = k, prefix + d
        prefix += d
    R, m = capacity - PK, n - K
    base, extra = (R // m, R % m) if m else (0, 0)
    for k, (h, d) in enumerate(ranked, 1):
        if k <= K:
            out[h] = d
        else:
            out[h] = base + (1 if k - K <= extra else 0)
    return out


# few host names and small demands, so ties in demand are common
_DEMANDS = st.dictionaries(
    st.text(alphabet="abcd", min_size=1, max_size=2),
    st.integers(min_value=1, max_value=12),
    min_size=1, max_size=10,
)


@settings(max_examples=400, deadline=None)
@given(_DEMANDS, st.integers(min_value=0, max_value=150))
@example({"a": 4, "b": 4, "c": 4}, 10)       # ties: remainder to "a"
@example({"a": 5, "b": 3}, 0)                 # capacity 0
@example({"a": 5, "b": 3}, 8)                 # capacity == total demand
@example({"a": 5, "b": 3}, 100)               # capacity > total demand
@example({"solo": 9}, 4)                      # a single host
def test_waterfill_budgets_match_reference(demands, capacity):
    got = waterfill_budgets(demands, capacity)
    budgets = {h: b for h, (b, _sat) in got.items()}
    assert budgets == _py_waterfill(demands, capacity)
    assert sum(budgets.values()) == min(capacity, sum(demands.values()))
    assert all(budgets[h] <= d for h, d in demands.items())
    assert all(budgets[h] == demands[h] for h, (_b, sat) in got.items() if sat)


def test_over_budget_predicate_row_for_row(spark):
    """The literal deferral predicate, built on the driver from a
    {host: demand} dict, equals ``seq > budget[host]`` on every row, with
    the per-host cap applied and a null host (no budget: every row
    deferred) taking its share of the water-fill; ``rows_over_budget``
    counts the rows it marks."""
    from pyspark.sql import functions as F

    from web_crawler_spark.plans.epoch import over_budget, rows_over_budget

    demand = {"a": 7, "b": 2, "c": 5, "d": 5, None: 3}
    rows = [(h, s) for h, n in demand.items() for s in range(1, n + 1)]
    sched = spark.createDataFrame(rows, "host string, seq int")
    for capacity, cap in ((14, None), (14, 3), (0, None), (100, 4)):
        budget = {h: b for h, (b, _s) in waterfill_budgets(demand, capacity).items()}
        got = sched.select(
            "host", "seq", over_budget(demand, capacity, cap).alias("over")
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            b = 0 if r["host"] is None else budget[r["host"]]
            b = b if cap is None else min(b, cap)
            assert r["over"] is (r["seq"] > b), (capacity, cap, r)
        # the deferred row count the commit sizing reads off the same dict
        assert rows_over_budget(demand, capacity, cap) == sum(r["over"] for r in got)


def test_matches_python_reference(spark):
    demands = {f"h{i}": (i * 17) % 23 + 1 for i in range(40)}
    df = spark.createDataFrame(list(demands.items()), ["host", "demand"])
    got = {r["host"]: r["budget"]
           for r in host_budget_waterfill(df, capacity=150).collect()}
    assert got == _py_waterfill(demands, 150)
    assert sum(got.values()) == min(150, sum(demands.values()))


def test_capacity_exceeds_demand_everyone_full(spark):
    df = spark.createDataFrame([("a", 5), ("b", 3)], ["host", "demand"])
    rows = {r["host"]: r for r in host_budget_waterfill(df, 100).collect()}
    assert rows["a"]["budget"] == 5 and rows["a"]["satisfied"]
    assert rows["b"]["budget"] == 3 and rows["b"]["satisfied"]


def test_mega_host_cannot_starve_tail(spark):
    df = spark.createDataFrame(
        [("mega", 1_000_000)] + [(f"t{i}", 10) for i in range(9)],
        ["host", "demand"],
    )
    rows = {r["host"]: r["budget"]
            for r in host_budget_waterfill(df, 1000).collect()}
    assert all(rows[f"t{i}"] == 10 for i in range(9))   # tail fully served
    assert rows["mega"] == 1000 - 90                     # leftovers only


def test_zero_capacity(spark):
    df = spark.createDataFrame([("a", 5), ("b", 3)], ["host", "demand"])
    rows = {r["host"]: r["budget"] for r in host_budget_waterfill(df, 0).collect()}
    assert rows == {"a": 0, "b": 0}


def test_remainder_spread_deterministic(spark):
    # capacity 10 over 3 equal hosts: 4/3/3 with the extra to the
    # lowest-ranked (demand, host) = "a"
    df = spark.createDataFrame(
        [("a", 100), ("b", 100), ("c", 100)], ["host", "demand"]
    )
    rows = {r["host"]: r["budget"] for r in host_budget_waterfill(df, 10).collect()}
    assert rows == {"a": 4, "b": 3, "c": 3}


def test_exact_quantiles_match_sorted_reference(spark):
    from web_crawler_spark.operators.aggregate import exact_quantiles

    vals = [((i * 37) % 101) * 1.5 for i in range(1009)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["rid", "v"]
    )
    got = {r["q"]: (r["rank"], r["value"]) for r in
           exact_quantiles(df, "v", [0.5, 0.9, 0.99, 1.0], "rid").collect()}
    s = sorted(vals)
    import math
    for q in (0.5, 0.9, 0.99, 1.0):
        target = max(1, math.ceil(q * len(s)))
        assert got[q] == (target, s[target - 1])


def test_hll_host_sketches_error_bound_and_merge(spark):
    from web_crawler_spark.operators.aggregate import (
        host_distinct_sketch,
        merge_host_sketches,
    )
    import pyspark.sql.functions as F

    # 3 hosts x 4000 distinct URLs, each URL seen twice
    df = spark.range(12_000).select(
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string")).alias("host"),
        F.concat(F.lit("u"), F.floor(F.col("id") / 3).cast("string"),
                 F.lit("-"), (F.col("id") % 3).cast("string")).alias("url"),
    )
    df = df.unionAll(df)  # exact duplicates must not inflate the estimate
    est = {r["host"]: r["est_distinct"]
           for r in host_distinct_sketch(df).collect()}
    for h in ("h0", "h1", "h2"):
        assert abs(est[h] - 4000) / 4000 < 0.05
    # epoch merge: two epochs with half-overlapping URL sets
    e1 = df.filter(F.col("url").rlike("u[0-2][0-9]{0,2}-"))
    sk1 = host_distinct_sketch(e1).withColumn("epoch", F.lit(1))
    sk2 = host_distinct_sketch(df).withColumn("epoch", F.lit(2))
    merged = {r["host"]: r["est_distinct_all_epochs"]
              for r in merge_host_sketches(sk1.unionByName(sk2)).collect()}
    for h in ("h0", "h1", "h2"):
        assert abs(merged[h] - 4000) / 4000 < 0.05  # union ⊆ epoch-2 set
