"""The remaining TPC-H query patterns (Q2/4/7/8/9/10/11/13/15/16/17/19/20/
21/22), adapted to the driver's synthetic subset schema.

Round 1–3 already ship Q1/3/5/6/12/14/18 inline in ``__spark_entry__``;
this module completes the 22-query family so the engine's relational
breadth is demonstrated end-to-end: every join topology (star, self,
semi, anti, outer), correlated-aggregate shape (per-group min/avg
join-back, scalar-subquery threshold), and disjunctive-pushdown pattern
in the benchmark has an oracle-certified DataFrame plan.

Schema adaptations (the driver tables carry a TPC-H *subset* — no
partsupp, no l_commitdate/l_receiptdate/p_container/c_phone):

* Q2's ``min(ps_supplycost)`` → min ``s_acctbal`` among suppliers
  observed shipping the part (same correlated-min + join-back shape).
* Q4/Q21's commit-vs-receipt lateness → ``l_shipdate`` more than 30 days
  after ``o_orderdate`` (Q4), resp. the unique latest-shipping supplier
  of a multi-supplier finished order (Q21).
* Q9's ``ps_supplycost`` cost term → ``p_retailprice`` per unit.
* Q11's ``ps_supplycost * ps_availqty`` part value → observed shipped
  value ``l_extendedprice * l_quantity`` from region-scoped suppliers.
* Q16's supplier-complaint exclusion → negative ``s_acctbal``; Q20's
  availqty threshold → shipped-quantity threshold; Q22's cntrycode →
  nation, "no orders" → no orders in the corpus's final year.

Scale notes: dims (region, nation, supplier, part at dim-like cardinality)
broadcast explicitly; fact-fact joins shuffle on their natural keys and
carry only slim columns; the three scalar thresholds (Q11 total value,
Q15 max revenue, Q22 average balance) are single-row aggregates fetched
to the driver — one row regardless of corpus size, the same discipline
as ``corpus.py``'s BM25 stats fold. Aggregate outputs are rounded to
fixed decimals so Spark's and the oracle's partition-order float sums
agree on the driver's 9-significant-digit normalized hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _eu_suppliers(spark, sf_dir, region: str) -> DataFrame:
    """Suppliers in one region: two broadcast dim hops, no fact shuffle."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == region)
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 pattern: correlated per-part minimum over a region-scoped
    supplier set, then join back to recover the argmin rows. The supplier
    side is dim-sized → broadcast; the min table is per-part slim → the
    join-back shuffles only (partkey, bal)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    eu = _eu_suppliers(spark, sf_dir, "EUROPE")
    cand = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(eu), li["l_suppkey"] == eu["s_suppkey"])
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )
    mn = cand.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        cand.join(
            mn,
            (cand["p_partkey"] == mn["mk"]) & (cand["s_acctbal"] == mn["min_bal"]),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


SQL_Q2 = """
WITH eu_supp AS (
  SELECT s_suppkey, s_name, s_acctbal FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), cand AS (
  SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal
  FROM lineitem JOIN part ON l_partkey = p_partkey
  JOIN eu_supp ON l_suppkey = s_suppkey
  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
), mn AS (
  SELECT p_partkey, MIN(s_acctbal) AS min_bal FROM cand GROUP BY p_partkey
)
SELECT c.p_partkey, c.p_name, c.s_suppkey, c.s_name,
       ROUND(c.s_acctbal, 2) AS s_acctbal
FROM cand c JOIN mn ON c.p_partkey = mn.p_partkey AND c.s_acctbal = mn.min_bal
ORDER BY c.p_partkey, c.s_suppkey
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 pattern: EXISTS semi-join from orders into lineitem with a
    non-equi lateness predicate, then a tiny group-count. The semi-join
    shuffles both sides on orderkey and keeps only order columns."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 pattern: the two-role dimension join — nation joined twice
    under different roles (supplier's vs customer's), with a symmetric
    pair predicate, grouped by (nation pair, ship year)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_Q7 = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 pattern: one nation's share of regional revenue per year —
    conditional-sum ratio over a 7-table star join. All dims broadcast;
    the only wide shuffles are the two fact equi-joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nc = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_nationkey").alias("nc_key")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    base = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(
                        0.0
                    )
                )
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


SQL_Q8 = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         ns.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region ON nc.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN part ON l_partkey = p_partkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
)
SELECT o_year,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END)
             / SUM(volume), 4) AS mkt_share
FROM base GROUP BY o_year ORDER BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 pattern: profit (revenue minus a per-unit cost term) by
    supplier nation and order year for a name-matched part family."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _rev() - F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


SQL_Q9 = """
SELECT ns.n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity), 2)
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY nation, o_year ORDER BY nation, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 pattern: per-customer revenue of returned lineitems in one
    quarter, top-20 — join + group + TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


SQL_Q10 = """
SELECT c_custkey, c_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       ROUND(c_acctbal, 2) AS c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-10-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q11_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 pattern: per-part value with a HAVING threshold that is a
    fraction of the global total. The total is a single-row aggregate
    fetched to the driver (scalar-subquery fold, same discipline as the
    BM25 stats fold in ``operators/corpus.py``) — one row at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    eu = _eu_suppliers(spark, sf_dir, "EUROPE").select("s_suppkey")
    scoped = li.join(F.broadcast(eu), li["l_suppkey"] == eu["s_suppkey"]).select(
        "l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("value")
    )
    total = scoped.agg(F.sum("value")).collect()[0][0] or 0.0
    return (
        scoped.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum("value").alias("raw_value"))
        .filter(F.col("raw_value") > total * 0.0005)
        .select("p_partkey", F.round("raw_value", 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "p_partkey")
    )


SQL_Q11 = """
WITH scoped AS (
  SELECT l_partkey, l_extendedprice * l_quantity AS value
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT l_partkey AS p_partkey, ROUND(SUM(value), 2) AS part_value
FROM scoped GROUP BY l_partkey
HAVING SUM(value) > (SELECT SUM(value) * 0.0005 FROM scoped)
ORDER BY part_value DESC, p_partkey
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 pattern: LEFT OUTER join with an extra join-side predicate
    (zero-order customers must survive), double aggregation — per-customer
    order count, then the distribution of those counts."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_Q13 = """
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 pattern: revenue-view max — per-supplier quarterly revenue,
    keep the supplier(s) achieving the maximum. The max is a one-row
    driver fetch; the equality filter reuses the already-computed revenue
    frame (no second scan)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total")
    )
    rev = rev.localCheckpoint(eager=False)
    best = rev.agg(F.max("total")).collect()[0][0]
    return (
        rev.filter(F.col("total") == best)
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", F.round("total", 2).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


SQL_Q15 = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no, SUM(l_extendedprice * (1 - l_discount)) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, ROUND(total, 2) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total = (SELECT MAX(total) FROM rev)
ORDER BY s_suppkey
"""


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 pattern: distinct-supplier counts per part group with
    brand/type/size exclusions and a supplier blacklist (negative balance
    standing in for the complaint filter)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 14, 23, 45)
    )
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("s_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


SQL_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT s_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size IN (1, 14, 23, 45)
  AND s_acctbal >= 0
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 pattern: correlated per-part average — lineitems below 20%
    of their part's mean quantity. The per-part mean is a groupBy on the
    fact's own join key (no extra shuffle beyond the agg) joined back."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("threshold")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(avg_qty, li["l_partkey"] == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


SQL_Q17 = """
WITH avg_qty AS (
  SELECT l_partkey AS pk, 0.2 * AVG(l_quantity) AS threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
JOIN avg_qty ON l_partkey = pk
WHERE p_brand = 'Brand#12' AND l_quantity < threshold
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 pattern: OR-of-ANDs predicate across the join — the
    disjunctive-pushdown test. Catalyst extracts the common part filter
    (brand ∈ {...}) below the join and evaluates the residual after it."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#12") & sz.between(1, 15) & q.between(1, 21))
        | ((b == "Brand#23") & sz.between(1, 25) & q.between(10, 30))
        | ((b == "Brand#34") & sz.between(1, 35) & q.between(20, 40))
    )
    return j.filter(cond).agg(
        F.round(F.sum(_rev()), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_Q19 = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 pattern: nested-aggregate semi-join chain — suppliers in
    one region who shipped a name-matched part above a quantity threshold
    in one year. The HAVING set is small → broadcast into the supplier
    dim; no fact columns survive past the first aggregation."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    shipped = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    af = _eu_suppliers(spark, sf_dir, "AFRICA")
    return (
        af.join(F.broadcast(shipped), af["s_suppkey"] == shipped["l_suppkey"], "leftsemi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


SQL_Q20 = """
WITH shipped AS (
  SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(l_quantity) > 40
)
SELECT DISTINCT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN shipped ON s_suppkey = l_suppkey
WHERE r_name = 'AFRICA'
ORDER BY s_suppkey
"""


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 pattern (EXISTS + NOT EXISTS over sibling lineitems): for
    finished multi-supplier orders, count per supplier the orders where it
    alone shipped last. One groupBy on orderkey computes (max ship date,
    distinct-supplier count); an equality join back recovers the last
    shippers; a second tiny agg keeps unique-last orders."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    per_order = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.max("l_shipdate").alias("max_ship"),
        F.count_distinct("l_suppkey").alias("n_supp"),
    )
    last_rows = (
        li.join(
            per_order,
            (li["l_orderkey"] == per_order["ok"])
            & (li["l_shipdate"] == per_order["max_ship"]),
        )
        .select("l_orderkey", "l_suppkey", "n_supp")
        .distinct()
    )
    uniq_last = (
        last_rows.groupBy("l_orderkey", "n_supp")
        .agg(F.min("l_suppkey").alias("the_supp"), F.count(F.lit(1)).alias("n_last"))
        .filter((F.col("n_last") == 1) & (F.col("n_supp") > 1))
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        uniq_last.join(o, F.col("l_orderkey") == o["o_orderkey"], "leftsemi")
        .groupBy("the_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("the_supp") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


SQL_Q21 = """
WITH per_order AS (
  SELECT l_orderkey AS ok, MAX(l_shipdate) AS max_ship,
         COUNT(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY l_orderkey
), last_rows AS (
  SELECT DISTINCT l_orderkey, l_suppkey, n_supp
  FROM lineitem JOIN per_order ON l_orderkey = ok AND l_shipdate = max_ship
), uniq_last AS (
  SELECT l_orderkey, n_supp, MIN(l_suppkey) AS the_supp
  FROM last_rows GROUP BY l_orderkey, n_supp HAVING COUNT(*) = 1
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM uniq_last
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON the_supp = s_suppkey
WHERE n_supp > 1 AND o_orderstatus = 'F'
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey LIMIT 20
"""


def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 pattern: scalar-subquery threshold + NOT EXISTS anti-join —
    above-average-balance customers with no orders in the corpus's final
    year, grouped by nation. The average is a one-row driver fetch; the
    anti-join shuffles only (custkey)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-08-01").cast("timestamp")
    ).select("o_custkey")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal")).collect()[0][0]
    )
    rich = c.filter(F.col("c_acctbal") > avg_bal)
    inactive = rich.join(o, rich["c_custkey"] == o["o_custkey"], "leftanti")
    return (
        inactive.join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


SQL_Q22 = """
WITH threshold AS (
  SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
)
SELECT n_name, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg_bal FROM threshold)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-08-01')
GROUP BY n_name ORDER BY n_name
"""


# name -> (Spark builder, DuckDB oracle SQL)
REGISTRY = {
    "tpch_q2_min_cost_supplier": (q2_min_cost_supplier, SQL_Q2),
    "tpch_q4_order_priority": (q4_order_priority, SQL_Q4),
    "tpch_q7_volume_shipping": (q7_volume_shipping, SQL_Q7),
    "tpch_q8_market_share": (q8_market_share, SQL_Q8),
    "tpch_q9_product_profit": (q9_product_profit, SQL_Q9),
    "tpch_q10_returned_items": (q10_returned_items, SQL_Q10),
    "tpch_q11_part_value": (q11_part_value, SQL_Q11),
    "tpch_q13_customer_distribution": (q13_customer_distribution, SQL_Q13),
    "tpch_q15_top_supplier": (q15_top_supplier, SQL_Q15),
    "tpch_q16_supplier_count": (q16_supplier_count, SQL_Q16),
    "tpch_q17_small_quantity": (q17_small_quantity, SQL_Q17),
    "tpch_q19_disjunctive_revenue": (q19_disjunctive_revenue, SQL_Q19),
    "tpch_q20_part_promotion": (q20_part_promotion, SQL_Q20),
    "tpch_q21_waiting_supplier": (q21_waiting_supplier, SQL_Q21),
    "tpch_q22_sales_opportunity": (q22_sales_opportunity, SQL_Q22),
}
