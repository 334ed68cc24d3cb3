"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline operators) as named DataFrame builders;
``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL for each — the
driver cross-checks them at sf=0.01 (row count + schema + order-insensitive
value hash). Column names/types are aligned on both sides; every computed
float is rounded identically so double-accumulation order can't flip the
hash.

Every query is registered once, by name, with its builder and its oracle
(``_register``). Queries with no SQL-expressible oracle (xxhash64-based LSH
internals, the mapInPandas HTML extraction, the epoch loop) are registered
with oracle ``None``: they are in ``queries()`` but not in ``oracle_sql()``,
so the driver records the weaker rows-only check for exactly those.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_crawler_spark.functions import scalars as S
from web_crawler_spark.functions import text as T
from web_crawler_spark.functions import urltools as U
from web_crawler_spark.functions import vectors as V
from web_crawler_spark.operators import aggregate as A
from web_crawler_spark.operators import dedup as D
from web_crawler_spark.operators import politeness as P
from web_crawler_spark.operators import similarity as SIM
from web_crawler_spark.operators import validate as VAL


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Synthetic column builders shared by Spark and SQL sides (crawl-shaped data
# derived deterministically from the driver tables, per FIXTURES.md F-6)
# ---------------------------------------------------------------------------

# frontier synthesized from events: 20 hosts, priority from event_id
_FRONTIER_SQL = (
    "SELECT concat('host', CAST(user_id % 20 AS VARCHAR), '.example.com') AS host,"
    " CAST(event_id % 97 AS INT) AS priority,"
    " concat('https://host', CAST(user_id % 20 AS VARCHAR), '.example.com/p/',"
    " CAST(event_id AS VARCHAR)) AS url"
    " FROM events"
)


def _frontier_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("host"), (F.col("user_id") % 20).cast("string"), F.lit(".example.com"))
    return e.select(
        host.alias("host"),
        (F.col("event_id") % 97).cast("int").alias("priority"),
        F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("event_id").cast("string")).alias("url"),
    )


# ---------------------------------------------------------------------------
# entry — flagship: TPC-H Q1-style pricing summary (scan-heavy single agg)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    return _q_tpch_q1(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# individual queries
# ---------------------------------------------------------------------------


def _q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_topk_orders(spark, sf_dir):
    return A.top_k(_t(spark, sf_dir, "orders"), "o_totalprice", 10, False, "o_orderkey").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_SQL_TOPK_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_totalprice IS NOT NULL
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def _q_broadcast_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("nation")
    )


_SQL_BROADCAST_JOIN = """
SELECT n_name AS nation, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY nation
"""


def _q_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def _q_keep_latest(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return D.keep_latest(e, ["user_id"], "ts", ["event_id"]).select(
        "user_id", "event_id", "event_type", "value"
    )


_SQL_KEEP_LATEST = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
  FROM events
) WHERE rn = 1
"""


def _q_window_rank(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return A.rank_within_category(e, "event_type", "value", 3, "event_id").select(
        "event_type", "event_id", "value", "rank_in_category"
    )


_SQL_WINDOW_RANK = """
SELECT event_type, event_id, value, rank_in_category FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY COALESCE(value, 0) DESC, event_id) AS rank_in_category
  FROM events
) WHERE rank_in_category <= 3
"""


def _q_market_summary(spark, sf_dir):
    e = _t(spark, sf_dir, "events").withColumn("change_percent", F.col("value") - 245.0)
    return A.market_summary(e)


_SQL_MARKET_SUMMARY = """
SELECT COUNT(*) AS total_count,
       ROUND(AVG(value - 245.0), 2) AS avg_change,
       CAST(SUM(CASE WHEN value - 245.0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS gainers,
       CAST(SUM(CASE WHEN value - 245.0 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS losers,
       CAST(COUNT(*) - SUM(CASE WHEN value - 245.0 > 0 THEN 1 ELSE 0 END)
                     - SUM(CASE WHEN value - 245.0 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
FROM events
"""


def _q_category_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return A.category_stats(e, "event_type", "value")


_SQL_CATEGORY_STATS = """
SELECT event_type AS category, COUNT(*) AS n, ROUND(AVG(value), 2) AS avg_change
FROM events GROUP BY event_type ORDER BY category
"""


def _q_category_histogram(spark, sf_dir):
    return A.category_histogram(_t(spark, sf_dir, "events"), "event_type")


_SQL_CATEGORY_HISTOGRAM = """
SELECT event_type AS category, COUNT(*) AS n FROM events
GROUP BY event_type ORDER BY n DESC, category
"""


def _q_minmax_avg(spark, sf_dir):
    return A.minmax_avg(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


_SQL_MINMAX_AVG = """
SELECT ROUND(MAX(l_extendedprice), 6) AS max_value,
       ROUND(MIN(l_extendedprice), 6) AS min_value,
       ROUND(AVG(l_extendedprice), 6) AS avg_value
FROM lineitem
"""


def _q_junk_filter(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    name = F.col("p_name")
    return p.filter(
        name.isNotNull()
        & (F.length(name) > 2)
        & ~name.rlike(r"^\d+$")
        & ~F.lower(name).contains("commodity")
        & ~F.lower(name).contains("price")
    ).select("p_partkey", "p_name").orderBy("p_partkey")


_SQL_JUNK_FILTER = """
SELECT p_partkey, p_name FROM part
WHERE p_name IS NOT NULL AND LENGTH(p_name) > 2
  AND NOT regexp_matches(p_name, '^[0-9]+$')
  AND lower(p_name) NOT LIKE '%commodity%'
  AND lower(p_name) NOT LIKE '%price%'
ORDER BY p_partkey
"""


def _q_range_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_extendedprice") > 1000) & (F.col("l_extendedprice") <= 5000))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag")
    )


_SQL_RANGE_FILTER = """
SELECT l_returnflag, COUNT(*) AS n FROM lineitem
WHERE l_extendedprice > 1000 AND l_extendedprice <= 5000
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _q_last_non_null(spark, sf_dir):
    e = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") != "error", F.col("value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    latest = e.withColumn("last_v", F.last("v", ignorenulls=True).over(w))
    return D.keep_latest(latest, ["user_id"], "ts", ["event_id"]).select(
        "user_id", "last_v"
    )


_SQL_LAST_NON_NULL = """
SELECT user_id, last_v FROM (
  SELECT user_id,
         LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_v,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def _q_union_distinct_sources(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("source"))).alias("sources"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("lang")
    )


_SQL_UNION_DISTINCT_SOURCES = """
SELECT lang, array_to_string(list_sort(list_distinct(list(source))), ',') AS sources,
       COUNT(*) AS n
FROM documents GROUP BY lang ORDER BY lang
"""


def _q_merge_duplicates(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("event_id"), F.col("ts").alias("timestamp"),
        F.col("event_type").alias("source"), F.col("value"),
    )
    return D.merge_duplicates(e, ["user_id"], "timestamp", "source", ["event_id"]).select(
        "user_id", "event_id", "source", "value"
    )


_SQL_MERGE_DUPLICATES = """
WITH latest AS (
  SELECT user_id, event_id, value, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn,
         COUNT(*) OVER (PARTITION BY user_id) cnt
  FROM events
), merged AS (
  SELECT user_id, array_to_string(list_sort(list_distinct(list(event_type))), ',') AS msrc
  FROM events GROUP BY user_id
)
SELECT l.user_id, l.event_id,
       CASE WHEN l.cnt > 1 THEN m.msrc ELSE l.event_type END AS source,
       l.value
FROM latest l JOIN merged m ON l.user_id = m.user_id WHERE l.rn = 1
"""


# -- crawl-shaped operators over synthesized frontier -----------------------


def _q_canonicalize(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://"),
        F.upper(F.col("source")),
        F.lit(".Example.COM:443/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?b=2&a=1#sec"),
    )
    canon = U.canonicalize_url(url)
    return d.select(
        F.col("doc_id"),
        canon.alias("canonical_url"),
        F.md5(canon).alias("url_hash_md5"),
    ).orderBy("doc_id")


_SQL_CANONICALIZE = """
SELECT doc_id,
       concat('https://', lower(source), '.example.com/doc/',
              CAST(doc_id AS VARCHAR), '?a=1&b=2') AS canonical_url,
       md5(concat('https://', lower(source), '.example.com/doc/',
              CAST(doc_id AS VARCHAR), '?a=1&b=2')) AS url_hash_md5
FROM documents ORDER BY doc_id
"""


def _q_surt_key(spark, sf_dir):
    """SURT urlkey (functions/urltools.surt_key — the Common-Crawl CDX
    index key): multi-label host with a www prefix and mixed case, unsorted
    query, fragment; the oracle recomputes the label reversal generically
    with DuckDB list functions (not a literal), so the transform itself is
    certified, not just one constructed answer."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://WWW."),
        F.upper(F.col("source")),
        F.lit(".News.Example.COM/Doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?b=2&a=1#frag"),
    )
    return d.select(
        F.col("doc_id"), U.surt_key(url).alias("urlkey")
    ).orderBy("doc_id")


_SQL_SURT_KEY = """
SELECT doc_id,
       concat(
         array_to_string(
           list_reverse(string_split(
             concat(lower(source), '.news.example.com'), '.')), ','),
         ')/doc/', CAST(doc_id AS VARCHAR),
         '?', array_to_string(list_sort(string_split('b=2&a=1', '&')), '&')
       ) AS urlkey
FROM documents ORDER BY doc_id
"""


def _q_cdx_index(spark, sf_dir):
    """CDX(J) index rows (sources/cdx.cdx_records) over capture rows
    synthesized from documents — urlkey/ts14/digest/length all certified
    value-for-value, including the (urlkey, ts) index order."""
    from web_crawler_spark.sources.cdx import cdx_records

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(
            F.lit("https://"),
            F.lower(F.col("source")),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.col("text").cast("binary").alias("html"),
    )
    return cdx_records(pages).orderBy("urlkey", "ts")


_SQL_CDX_INDEX = """
SELECT concat('com,example,', lower(source), ')/doc/',
              CAST(doc_id AS VARCHAR)) AS urlkey,
       strftime(to_timestamp(1700000000 + doc_id), '%Y%m%d%H%M%S') AS ts,
       concat('https://', lower(source), '.example.com/doc/',
              CAST(doc_id AS VARCHAR)) AS url,
       'text/html' AS mime, 200 AS status,
       md5(text) AS digest, strlen(text) AS length
FROM documents ORDER BY urlkey, ts
"""


def _q_anchor_text(spark, sf_dir):
    """Anchor-text aggregation (operators/graph.anchor_text_summary — the
    search-index in-link signal): per-target link counts, distinct in-link
    hosts, and the most frequent normalized anchor phrase with a
    deterministic tie-break. Anchors synthesized from documents exercise
    the normalization (upper-case + doubled spaces) and the empty-anchor
    drop; the oracle replicates the full two-level aggregation."""
    from web_crawler_spark.operators import graph as G

    d = _t(spark, sf_dir, "documents")
    anchors = d.select(
        F.concat(
            F.lit("https://s"),
            (F.col("doc_id") % 11).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ).alias("from_url"),
        F.concat(
            F.lit("https://t"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/d/"),
            (F.col("doc_id") % 37).cast("string"),
        ).alias("resolved_url"),
        F.when(F.col("doc_id") % 13 == 0, F.lit("")).otherwise(
            F.concat(
                F.upper(F.col("source")),
                F.lit("  Page "),
                (F.col("doc_id") % 3).cast("string"),
            )
        ).alias("anchor"),
    )
    return G.anchor_text_summary(anchors).orderBy("target")


_SQL_ANCHOR_TEXT = """
WITH a AS (
  SELECT concat('https://t', CAST(doc_id % 7 AS VARCHAR),
                '.example.com/d/', CAST(doc_id % 37 AS VARCHAR)) AS target,
         regexp_replace(trim(lower(
           CASE WHEN doc_id % 13 = 0 THEN ''
                ELSE concat(upper(source), '  Page ',
                            CAST(doc_id % 3 AS VARCHAR)) END)),
           '\\s+', ' ', 'g') AS anchor,
         concat('s', CAST(doc_id % 11 AS VARCHAR), '.example.org')
           AS src_host
  FROM documents
), f AS (SELECT * FROM a WHERE anchor <> ''),
pa AS (SELECT target, anchor, count(*) AS cnt FROM f GROUP BY 1, 2),
top AS (
  SELECT target, anchor AS top_anchor, cnt AS top_anchor_count,
         sum(cnt) OVER (PARTITION BY target) AS n_links,
         count(*) OVER (PARTITION BY target) AS n_anchors,
         row_number() OVER (PARTITION BY target
                            ORDER BY cnt DESC, anchor) AS rn
  FROM pa
), hosts AS (SELECT target, count(DISTINCT src_host) AS n_hosts
             FROM f GROUP BY 1)
SELECT t.target, CAST(t.n_links AS BIGINT) AS n_links, h.n_hosts, t.n_anchors,
       t.top_anchor, t.top_anchor_count
FROM top t JOIN hosts h USING (target) WHERE rn = 1 ORDER BY target
"""


def _q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution (operators/redirects — pointer doubling,
    5 slim self-joins cover 32 hops): chains of length 1-4 synthesized
    from documents plus a deliberate 2-cycle; final_url/hops/resolved all
    certified against a DuckDB recursive-CTE walk with the same hop cap.
    resolved is cast to int for cross-engine hash stability."""
    from web_crawler_spark.operators import redirects as R

    d = _t(spark, sf_dir, "documents")
    base = "https://r.example.com/"
    p = F.col("doc_id") % 5
    fetches = d.select(
        F.concat(F.lit(base + "u/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.when(p > 0, F.lit(301)).otherwise(F.lit(200)).alias("status"),
        F.when(
            p > 0,
            F.concat(
                F.lit(base + "u/"), (F.col("doc_id") - 1).cast("string")
            ),
        ).alias("redirect_to"),
    )
    cyc = spark.createDataFrame(
        [
            (base + "cycA", 302, base + "cycB"),
            (base + "cycB", 302, base + "cycA"),
        ],
        "url string, status int, redirect_to string",
    )
    edges = R.redirect_edges(fetches.unionByName(cyc))
    return (
        R.resolve_redirects(edges)
        .withColumn("resolved", F.col("resolved").cast("int"))
        .orderBy("url")
    )


_SQL_REDIRECT_RESOLVE = """
WITH RECURSIVE f AS (
  SELECT concat('https://r.example.com/u/', CAST(doc_id AS VARCHAR)) AS url,
         CASE WHEN doc_id % 5 > 0 THEN 301 ELSE 200 END AS status,
         CASE WHEN doc_id % 5 > 0
              THEN concat('https://r.example.com/u/',
                          CAST(doc_id - 1 AS VARCHAR)) END AS redirect_to
  FROM documents
  UNION ALL
  SELECT 'https://r.example.com/cycA', 302, 'https://r.example.com/cycB'
  UNION ALL
  SELECT 'https://r.example.com/cycB', 302, 'https://r.example.com/cycA'
), e AS (
  SELECT url AS src, min(redirect_to) AS dst FROM f
  WHERE status BETWEEN 300 AND 399 AND redirect_to IS NOT NULL GROUP BY 1
), walk AS (
  SELECT src AS url, dst AS cur, CAST(1 AS BIGINT) AS hops FROM e
  UNION ALL
  SELECT w.url, e.dst, w.hops + 1
  FROM walk w JOIN e ON e.src = w.cur WHERE w.hops < 32
)
SELECT url, cur AS final_url, hops,
       CAST(cur NOT IN (SELECT src FROM e) AS INT) AS resolved
FROM walk
QUALIFY row_number() OVER (PARTITION BY url ORDER BY hops DESC) = 1
ORDER BY url
"""


def _q_alias_resolution(spark, sf_dir):
    """The composed URL-alias stack (operators/redirects.resolve_aliases):
    redirect chains (length 0-4 + a planted 2-cycle) resolve to their
    final fetch, then the final page's rel=canonical declaration takes
    one step — no-link self-canonical, absolute href, and href-first
    attribute order all exercised. Per-URL final/hops/resolved/effective
    are all certified; the cycle yields resolved=0 and NULL effective.
    Each stage is certified alone (cc_redirect_resolve,
    cc_canonical_dedup); this certifies the COMPOSITION."""
    from web_crawler_spark.operators import redirects as R

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    k = F.col("event_id")

    def url_of(kk):
        return F.concat(
            F.lit("https://h"), (kk % 7).cast("string"),
            F.lit(".example.com/p/"), kk.cast("string"),
        )

    fetches = e.select(
        url_of(k).alias("url"),
        F.when(k % 5 > 0, F.lit(301)).otherwise(F.lit(200)).alias("status"),
        F.when(k % 5 > 0, url_of(k - 1)).alias("redirect_to"),
    ).unionByName(
        spark.createDataFrame(
            [
                ("https://r.example.com/cycA", 302,
                 "https://r.example.com/cycB"),
                ("https://r.example.com/cycB", 302,
                 "https://r.example.com/cycA"),
            ],
            "url string, status int, redirect_to string",
        )
    )
    gid = k - k % 15
    v = (k / 5).cast("long") % 3
    pages = e.filter(k % 5 == 0).select(
        url_of(k).alias("url"),
        F.when(v == 0, F.lit("<html><head></head><body>x</body></html>"))
        .when(v == 1, F.concat(
            F.lit('<html><head><link rel="canonical" href="'),
            url_of(gid), F.lit('"></head><body>x</body></html>')))
        .otherwise(F.concat(
            F.lit('<html><head><link href="'), url_of(gid),
            F.lit('" rel=canonical></head><body>x</body></html>')))
        .alias("html"),
    )
    return R.resolve_aliases(fetches, pages).orderBy("url")


_SQL_ALIAS_RESOLUTION = """
WITH RECURSIVE f AS (
  SELECT concat('https://h', CAST(event_id % 7 AS VARCHAR),
                '.example.com/p/', CAST(event_id AS VARCHAR)) AS url,
         CASE WHEN event_id % 5 > 0 THEN 301 ELSE 200 END AS status,
         CASE WHEN event_id % 5 > 0
              THEN concat('https://h', CAST((event_id - 1) % 7 AS VARCHAR),
                          '.example.com/p/', CAST(event_id - 1 AS VARCHAR))
         END AS redirect_to
  FROM events WHERE event_id < 3000
  UNION ALL
  SELECT 'https://r.example.com/cycA', 302, 'https://r.example.com/cycB'
  UNION ALL
  SELECT 'https://r.example.com/cycB', 302, 'https://r.example.com/cycA'
), e AS (
  SELECT url AS src, min(redirect_to) AS dst FROM f
  WHERE status BETWEEN 300 AND 399 AND redirect_to IS NOT NULL GROUP BY 1
), walk AS (
  SELECT src AS url, dst AS cur, CAST(1 AS BIGINT) AS hops FROM e
  UNION ALL
  SELECT w.url, e.dst, w.hops + 1
  FROM walk w JOIN e ON e.src = w.cur WHERE w.hops < 32
), res AS (
  SELECT url, cur AS final_url, hops,
         CAST(cur NOT IN (SELECT src FROM e) AS INT) AS resolved
  FROM walk
  QUALIFY row_number() OVER (PARTITION BY url ORDER BY hops DESC) = 1
), allu AS (
  SELECT DISTINCT url FROM f
), base AS (
  SELECT a.url,
         COALESCE(r.final_url, a.url) AS final_url,
         CAST(COALESCE(r.hops, 0) AS BIGINT) AS hops,
         CAST(COALESCE(r.resolved, 1) AS INT) AS resolved
  FROM allu a LEFT JOIN res r USING (url)
), canon AS (
  SELECT concat('https://h', CAST(k % 7 AS VARCHAR),
                '.example.com/p/', CAST(k AS VARCHAR)) AS curl,
         concat('https://h', CAST((k - k % 15) % 7 AS VARCHAR),
                '.example.com/p/', CAST(k - k % 15 AS VARCHAR)) AS ctarget
  FROM (SELECT event_id AS k FROM events
        WHERE event_id < 3000 AND event_id % 5 = 0)
)
SELECT b.url, b.final_url, b.hops, b.resolved,
       CASE WHEN b.resolved = 1
            THEN COALESCE(c.ctarget, b.final_url) END AS effective_url
FROM base b LEFT JOIN canon c ON b.final_url = c.curl
ORDER BY b.url
"""


def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/lm): add-1 bigram model
    trained on the doc_id%10<8 slice of documents, every document scored.
    Per-bigram log-probs are fixed-point int64 (floor(ln*1e6)) so the
    per-doc sum is integer arithmetic — exact across engines and partition
    orders; avg_logprob is a division of exact ints. Held-out docs
    exercise the unseen-bigram smoothing path."""
    from web_crawler_spark.operators import lm as L

    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 < 8)
    bigrams, contexts, v = L.train_bigram_lm(train)
    return (
        L.score_docs(d, bigrams, contexts, v, alpha=1.0)
        .select("doc_id", "n_bigrams", "logprob_fp", "avg_logprob")
        .orderBy("doc_id")
    )


_SQL_LM_PERPLEXITY = """
WITH tok AS (
  SELECT doc_id,
         ['<s>'] || regexp_extract_all(lower(text), '[a-z0-9]+') || ['</s>']
           AS w
  FROM documents
), bg AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
  FROM tok, LATERAL unnest(generate_series(1, len(w)-1)) AS t(i)
), train AS (SELECT * FROM bg WHERE doc_id % 10 < 8),
cnt AS (SELECT w1, w2, count(*) AS c FROM train GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS ctx_c FROM train GROUP BY 1),
v AS (SELECT count(DISTINCT t) + 1 AS vs
      FROM (SELECT w1 AS t FROM train UNION ALL SELECT w2 FROM train)),
lp AS (
  SELECT bg.doc_id,
         CAST(floor(ln(
           (COALESCE(cnt.c, 0) + 1.0)
           / (COALESCE(ctx.ctx_c, 0) + 1.0 * (SELECT vs FROM v))
         ) * 1000000) AS BIGINT) AS lp
  FROM bg LEFT JOIN cnt USING (w1, w2) LEFT JOIN ctx USING (w1)
)
SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS logprob_fp,
       sum(lp) / (count(*) * 1000000.0) AS avg_logprob
FROM lp GROUP BY doc_id ORDER BY doc_id
"""


def _q_ccnet_perplexity(spark, sf_dir):
    """Full CCNet perplexity gate (operators/lm.ccnet_filter): Stupid
    Backoff trigram LM (Brants et al. 2007) trained on the doc_id%10<8
    slice, every document scored, then bucketed into per-language
    head/middle/tail thirds of the log-perplexity distribution — the
    CCNet (Wenzek et al. 2020) corpus-quality workflow end to end.
    Per-position log-probs are fixed-point int64 so the per-doc sum is
    exact integer arithmetic; log_ppl is one division of exact ints; the
    bucket rank rides the distributed two-level prefix sum. Held-out
    docs exercise both backoff levels and the add-one OOV floor."""
    from web_crawler_spark.operators import lm as L

    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 < 8)
    return L.ccnet_filter(d, train).orderBy("doc_id")


_SQL_CCNET_PERPLEXITY = """
WITH tok AS (
  SELECT doc_id, lang,
         ['<s>','<s>'] || regexp_extract_all(lower(text), '[a-z0-9]+')
           || ['</s>'] AS w
  FROM documents
), train AS (SELECT w FROM tok WHERE doc_id % 10 < 8),
tri AS (
  SELECT w[t.i-2] || chr(31) || w[t.i-1] || chr(31) || w[t.i] AS k,
         count(*) AS c
  FROM train, LATERAL unnest(generate_series(3, len(w))) AS t(i) GROUP BY 1
),
bi AS (
  SELECT w[t.i-1] || chr(31) || w[t.i] AS k, count(*) AS c
  FROM train, LATERAL unnest(generate_series(2, len(w))) AS t(i) GROUP BY 1
),
uni AS (
  SELECT u.k, count(*) AS c
  FROM (SELECT unnest(w) AS k FROM train) u GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c) AS DOUBLE) + CAST(count(*) AS DOUBLE) AS tv FROM uni
),
pos AS (
  SELECT doc_id,
         w[t.i-2] || chr(31) || w[t.i-1] || chr(31) || w[t.i] AS k3,
         w[t.i-2] || chr(31) || w[t.i-1] AS kc3,
         w[t.i-1] || chr(31) || w[t.i] AS k2,
         w[t.i-1] AS kc2, w[t.i] AS w0
  FROM tok, LATERAL unnest(generate_series(3, len(w))) AS t(i)
),
lp AS (
  SELECT p.doc_id,
         CAST(floor(ln(
           CASE WHEN t3.c IS NOT NULL THEN t3.c / CAST(b3.c AS DOUBLE)
                ELSE 0.4 * CASE
                  WHEN b2.c IS NOT NULL THEN b2.c / CAST(u1.c AS DOUBLE)
                  ELSE 0.4 * ((COALESCE(uw.c, 0) + 1) / tot.tv) END
           END) * 1000000) AS BIGINT) AS lp
  FROM pos p
  LEFT JOIN tri t3 ON p.k3 = t3.k
  LEFT JOIN bi b3 ON p.kc3 = b3.k
  LEFT JOIN bi b2 ON p.k2 = b2.k
  LEFT JOIN uni u1 ON p.kc2 = u1.k
  LEFT JOIN uni uw ON p.w0 = uw.k
  CROSS JOIN tot
),
agg AS (
  SELECT doc_id, count(*) AS n_pos, CAST(sum(lp) AS BIGINT) AS logprob_fp
  FROM lp GROUP BY doc_id
),
scored AS (
  SELECT t.doc_id, t.lang, CAST(a.n_pos - 1 AS BIGINT) AS n_tokens,
         a.logprob_fp, -a.logprob_fp / (a.n_pos * 1000000.0) AS log_ppl
  FROM tok t JOIN agg a USING (doc_id)
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang ORDER BY log_ppl, doc_id) AS r,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored
)
SELECT doc_id, lang, n_tokens, logprob_fp, log_ppl,
       CASE CAST(floor(3.0 * (r - 1) / n) AS INT)
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM ranked ORDER BY doc_id
"""


def _q_crawl_traps(spark, sf_dir):
    """Crawler-trap family detection (operators/urlfilter.detect_crawl_traps):
    a calendar-style trap family (500 distinct URLs, 5 distinct content
    fingerprints), borderline benign families (exactly min_family URLs but
    all-distinct content — must NOT flag), and sub-threshold families.
    Family normalization, both distinct counts, and the trap predicate are
    all oracle-replicated."""
    from web_crawler_spark.operators import urlfilter as UF

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    trap = d.select(
        F.concat(F.lit("https://trap.example.com/cal/2020/"), did).alias("url"),
        F.md5(F.col("source")).alias("fp"),
    )
    benign = d.select(
        F.concat(
            F.lit("https://ok"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/articles/"),
            did,
        ).alias("url"),
        F.md5(F.col("text")).alias("fp"),
    )
    rare = d.select(
        F.concat(
            F.lit("https://h"), did, F.lit(".example.com/about")
        ).alias("url"),
        F.md5(did).alias("fp"),
    )
    pages = trap.unionByName(benign).unionByName(rare)
    return (
        UF.detect_crawl_traps(
            pages, fingerprint_col="fp", min_family=100, max_content_ratio=0.10
        )
        .withColumn("is_trap", F.col("is_trap").cast("int"))
        .orderBy("family")
    )


_SQL_CRAWL_TRAPS = """
WITH pages AS (
  SELECT concat('trap.example.com',
                regexp_replace(concat('/cal/2020/', CAST(doc_id AS VARCHAR)),
                               '[0-9]+', 'N', 'g')) AS family,
         concat('https://trap.example.com/cal/2020/',
                CAST(doc_id AS VARCHAR)) AS url,
         md5(source) AS fp
  FROM documents
  UNION ALL
  SELECT concat('ok', CAST(doc_id % 5 AS VARCHAR), '.example.com',
                regexp_replace(concat('/articles/', CAST(doc_id AS VARCHAR)),
                               '[0-9]+', 'N', 'g')),
         concat('https://ok', CAST(doc_id % 5 AS VARCHAR),
                '.example.com/articles/', CAST(doc_id AS VARCHAR)),
         md5(text)
  FROM documents
  UNION ALL
  SELECT concat('h', CAST(doc_id AS VARCHAR), '.example.com/about'),
         concat('https://h', CAST(doc_id AS VARCHAR), '.example.com/about'),
         md5(CAST(doc_id AS VARCHAR))
  FROM documents
)
SELECT family,
       count(DISTINCT url) AS n_urls,
       count(DISTINCT fp) AS n_content,
       CAST(count(DISTINCT url) >= 100
            AND count(DISTINCT fp) <= count(DISTINCT url) * 0.10 AS INT)
         AS is_trap
FROM pages GROUP BY family ORDER BY family
"""


def _q_domain_blocklist(spark, sf_dir):
    """UT1/C4-style domain blocklist gate (operators/urlfilter.py): hosts
    synthesized from documents (some with a cdn. subdomain, some on .net),
    blocklist = every ``srcN.example.com`` with N % 3 == 0 plus the parent
    domain ``example.net`` — so the query exercises exact-host, subdomain,
    and parent-domain suffix matches in one oracle. The plan is
    max_labels-1 chained broadcast hash joins: zero shuffles."""
    from web_crawler_spark.operators import urlfilter as UF

    d = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("cdn.")).otherwise(F.lit("")),
        F.lower(F.col("source")),
        F.lit(".example."),
        F.when(F.col("doc_id") % 4 == 0, F.lit("net")).otherwise(F.lit("com")),
    )
    urls = d.select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/doc/"), F.col("doc_id").cast("string")).alias("url"),
    )
    srcs = d.select(F.lower("source").alias("s")).distinct()
    blocked = (
        srcs.filter(F.regexp_extract("s", r"(\d+)$", 1).cast("int") % 3 == 0)
        .select(F.concat(F.col("s"), F.lit(".example.com")).alias("domain"))
        .unionByName(spark.range(1).select(F.lit("example.net").alias("domain")))
    )
    kept = UF.domain_blocklist_filter(urls, blocked, url_col="url")
    return kept.select(
        "doc_id", U.url_host(F.col("url")).alias("host")
    ).orderBy("doc_id")


_SQL_DOMAIN_BLOCKLIST = r"""
WITH urls AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END) || lower(source)
           || '.example.' || (CASE WHEN doc_id % 4 = 0 THEN 'net' ELSE 'com' END) AS host
  FROM documents
), blocked AS (
  SELECT DISTINCT lower(source) || '.example.com' AS domain
  FROM documents
  WHERE TRY_CAST(regexp_extract(lower(source), '(\d+)$', 1) AS INT) % 3 = 0
  UNION
  SELECT 'example.net' AS domain
)
SELECT u.doc_id, u.host
FROM urls u
WHERE NOT EXISTS (
  SELECT 1 FROM blocked b
  WHERE u.host = b.domain OR u.host LIKE '%.' || b.domain
)
ORDER BY u.doc_id
"""


def _q_registrable_domain(spark, sf_dir):
    """eTLD+1 public-suffix extraction (functions/psl.py): hosts synthesized
    from documents hit every rule class of the PSL algorithm — multi-label
    registry suffix (co.uk), wildcard (*.ck), exception (!www.ck), private
    suffix (github.io, blogspot.com), implicit-* unknown TLD, and a host
    that IS a public suffix (NULL registrable). Plan is max_labels chained
    broadcast hash joins + one fold expression: zero probe-side shuffles."""
    from web_crawler_spark.functions import psl as PSL

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    src = F.lower(F.col("source"))
    host = (
        F.when(m == 0, F.concat(src, F.lit(".example.co.uk")))
        .when(m == 1, F.lit("www.ck"))
        .when(m == 2, F.concat(src, F.lit(".foo.ck")))
        .when(m == 3, F.concat(src, F.lit(".github.io")))
        .when(m == 4, F.concat(F.lit("deep."), src, F.lit(".blogspot.com")))
        .when(m == 5, F.concat(src, F.lit(".unknowntld")))
        .otherwise(F.lit("co.uk"))
    )
    hosts = d.select("doc_id", host.alias("host"))
    out = PSL.with_registrable_domain(hosts)
    return out.select(
        "doc_id", "host", "public_suffix", "registrable_domain"
    ).orderBy("doc_id")


_SQL_REGISTRABLE_DOMAIN = r"""
WITH d AS (
  SELECT doc_id,
         CASE CAST(doc_id % 7 AS INT)
           WHEN 0 THEN lower(source) || '.example.co.uk'
           WHEN 1 THEN 'www.ck'
           WHEN 2 THEN lower(source) || '.foo.ck'
           WHEN 3 THEN lower(source) || '.github.io'
           WHEN 4 THEN 'deep.' || lower(source) || '.blogspot.com'
           WHEN 5 THEN lower(source) || '.unknowntld'
           ELSE 'co.uk'
         END AS host
  FROM documents
),
l AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM d),
c AS (
  SELECT doc_id, host, len(ls) AS nlab, CAST(t.k AS INT) AS k,
         array_to_string(ls[len(ls) - CAST(t.k AS INT) + 1:], '.') AS cand
  FROM l, range(1, 7) t(k)
  WHERE len(ls) >= t.k
),
-- the PSL-snapshot rules reachable from the synthesized hosts, keyed the
-- way psl_rules_df keys them: ps_normal = rule labels, ps_wild = parent
-- labels + 1 (rule *.ck -> key 'ck'), ps_exc = rule labels - 1 (!www.ck)
r(key, ps_normal, ps_wild, ps_exc) AS (
  VALUES ('uk', 1, NULL, NULL), ('co.uk', 2, NULL, NULL),
         ('io', 1, NULL, NULL), ('github.io', 2, NULL, NULL),
         ('com', 1, NULL, NULL), ('blogspot.com', 2, NULL, NULL),
         ('ck', NULL, 2, NULL), ('www.ck', NULL, NULL, 1)
),
m AS (
  SELECT c.doc_id, c.host, c.nlab,
         max(r.ps_exc) AS exc,
         max(r.ps_normal) AS nrm,
         max(CASE WHEN c.nlab >= c.k + 1 THEN r.ps_wild END) AS wld
  FROM c LEFT JOIN r ON c.cand = r.key
  GROUP BY 1, 2, 3
),
p AS (
  SELECT doc_id, host, nlab,
         COALESCE(exc, greatest(COALESCE(nrm, 1), COALESCE(wld, 1))) AS ps
  FROM m
)
SELECT doc_id, host,
       array_to_string(string_split(host, '.')[nlab - ps + 1:], '.') AS public_suffix,
       CASE WHEN nlab > ps
            THEN array_to_string(string_split(host, '.')[nlab - ps:], '.')
       END AS registrable_domain
FROM p
ORDER BY doc_id
"""


# Shared synthesized-host scheme for the PSL-composed queries: three site
# families per source — src.co.uk (+www vhost), src.blogspot.com (+www;
# private suffix → each src is its OWN site), src.com (+api vhost).
def _psl_host_expr():
    src = F.lower(F.col("source"))
    m = F.col("doc_id") % 6
    return (
        F.when(m == 0, F.concat(src, F.lit(".co.uk")))
        .when(m == 1, F.concat(F.lit("www."), src, F.lit(".co.uk")))
        .when(m == 2, F.concat(src, F.lit(".blogspot.com")))
        .when(m == 3, F.concat(F.lit("www."), src, F.lit(".blogspot.com")))
        .when(m == 4, F.concat(src, F.lit(".com")))
        .otherwise(F.concat(F.lit("api."), src, F.lit(".com")))
    )


_SQL_PSL_HOSTROWS = """
  SELECT doc_id,
         CASE CAST(doc_id % 6 AS INT)
           WHEN 0 THEN lower(source) || '.co.uk'
           WHEN 1 THEN 'www.' || lower(source) || '.co.uk'
           WHEN 2 THEN lower(source) || '.blogspot.com'
           WHEN 3 THEN 'www.' || lower(source) || '.blogspot.com'
           WHEN 4 THEN lower(source) || '.com'
           ELSE 'api.' || lower(source) || '.com'
         END AS host
  FROM documents
"""

# PSL prevailing-rule fold over a `hosts(host)` CTE (distinct), producing
# sites(host, site_key) — the DuckDB mirror of functions/psl.py with the
# rule subset these synthesized hosts can reach.
_SQL_PSL_SITES = """
sl AS (SELECT host, string_split(host, '.') AS ls FROM hosts),
sc AS (
  SELECT host, len(ls) AS nlab, CAST(t.k AS INT) AS k,
         array_to_string(ls[len(ls) - CAST(t.k AS INT) + 1:], '.') AS cand
  FROM sl, range(1, 7) t(k) WHERE len(ls) >= t.k
),
r(key, ps_normal, ps_wild, ps_exc) AS (
  VALUES ('uk', 1, NULL, NULL), ('co.uk', 2, NULL, NULL),
         ('com', 1, NULL, NULL), ('blogspot.com', 2, NULL, NULL)
),
sm AS (
  SELECT sc.host, sc.nlab,
         max(r.ps_exc) AS exc, max(r.ps_normal) AS nrm,
         max(CASE WHEN sc.nlab >= sc.k + 1 THEN r.ps_wild END) AS wld
  FROM sc LEFT JOIN r ON sc.cand = r.key GROUP BY 1, 2
),
sp AS (
  SELECT host, nlab,
         COALESCE(exc, greatest(COALESCE(nrm, 1), COALESCE(wld, 1))) AS ps
  FROM sm
),
sites AS (
  SELECT host,
         CASE WHEN nlab > ps
              THEN array_to_string(string_split(host, '.')[nlab - ps:], '.')
              ELSE host END AS site_key
  FROM sp
)
"""


def _q_politeness_by_site(spark, sf_dir):
    """Site-granularity politeness (operators/politeness.py::
    politeness_schedule_by_site): vhosts of one registrable domain
    (www./api. + apex) share a delay lane, while blogspot-style private-
    suffix subdomains stay separate lanes — the distinction only the PSL
    key gets right. Whole schedule (lane, seq, timestamp) value-certified."""
    from web_crawler_spark.operators.politeness import politeness_schedule_by_site

    d = _t(spark, sf_dir, "documents")
    host = _psl_host_expr()
    f = d.select(
        host.alias("host"),
        (F.col("doc_id") % 97).cast("int").alias("priority"),
        F.concat(
            F.lit("https://"), host, F.lit("/d/"), F.col("doc_id").cast("string")
        ).alias("url"),
    )
    return politeness_schedule_by_site(
        f, F.lit("2025-07-22 09:00:00").cast("timestamp"), delay_seconds=2.0
    ).orderBy("site_key", "seq")


_SQL_POLITENESS_BY_SITE = f"""
WITH hostrows AS ({_SQL_PSL_HOSTROWS}),
frontier AS (
  SELECT host, CAST(doc_id % 97 AS INT) AS priority,
         'https://' || host || '/d/' || CAST(doc_id AS VARCHAR) AS url
  FROM hostrows
),
hosts AS (SELECT DISTINCT host FROM frontier),
{_SQL_PSL_SITES},
keyed AS (
  SELECT s.site_key, f.host, f.priority, f.url
  FROM frontier f JOIN sites s USING (host)
),
ordered AS (
  SELECT site_key, host,
         CAST(ROW_NUMBER() OVER (PARTITION BY site_key
                                 ORDER BY priority, host, url) AS INT) AS seq,
         url
  FROM keyed
)
SELECT site_key, host, seq, url,
       TIMESTAMP '2025-07-22 09:00:00'
         + INTERVAL (CAST(seq - 1 AS BIGINT) * 2) SECOND AS scheduled_ts
FROM ordered
ORDER BY site_key, seq
"""


def _q_domain_quota(spark, sf_dir):
    """Per-site document cap (operators/corpus.py::domain_quota, the
    RefinedWeb anti-SEO diversity gate): keep the 5 longest documents per
    registrable domain — www/api vhosts pool into their site's quota,
    blogspot subdomains each keep their own. Rank + survivors certified."""
    from web_crawler_spark.operators import corpus as CO

    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", _psl_host_expr().alias("host"), F.length("text").alias("n")
    )
    out = CO.domain_quota(
        docs,
        quota=5,
        host_col="host",
        order_by=[F.col("n").desc(), F.col("doc_id")],
        keep_rank=True,
    )
    return out.select("doc_id", "host", "site", "site_rank").orderBy(
        "site", "site_rank"
    )


_SQL_DOMAIN_QUOTA = f"""
WITH hostrows AS ({_SQL_PSL_HOSTROWS}),
docs AS (
  SELECT d.doc_id, h.host, length(d.text) AS n
  FROM documents d JOIN hostrows h USING (doc_id)
),
hosts AS (SELECT DISTINCT host FROM docs),
{_SQL_PSL_SITES},
ranked AS (
  SELECT d.doc_id, d.host, s.site_key AS site,
         CAST(ROW_NUMBER() OVER (PARTITION BY s.site_key
                                 ORDER BY d.n DESC, d.doc_id) AS INT) AS site_rank
  FROM docs d JOIN sites s USING (host)
)
SELECT doc_id, host, site, site_rank
FROM ranked WHERE site_rank <= 5
ORDER BY site, site_rank
"""


def _q_crawl_order(spark, sf_dir):
    return P.crawl_order(_frontier_df(spark, sf_dir)).select("host", "seq", "url")


_SQL_CRAWL_ORDER = f"""
WITH frontier AS ({_FRONTIER_SQL})
SELECT host, CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, url) AS INT) AS seq, url
FROM frontier
"""


def _q_politeness_schedule(spark, sf_dir):
    sched = P.politeness_schedule(
        _frontier_df(spark, sf_dir),
        F.lit("2025-07-22 09:00:00").cast("timestamp"),
        2.0,
    )
    return sched.select("host", "seq", "url", "scheduled_ts")


_SQL_POLITENESS = f"""
WITH frontier AS ({_FRONTIER_SQL}),
ordered AS (
  SELECT host, url,
         CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, url) AS INT) AS seq
  FROM frontier
)
SELECT host, seq, url,
       TIMESTAMP '2025-07-22 09:00:00' + INTERVAL ((seq - 1) * 2) SECOND AS scheduled_ts
FROM ordered
"""


def _q_politeness_lanes(spark, sf_dir):
    """F3 with per-host connection parallelism (3 polite lanes/host,
    Heritrix toe-thread style): lane = (seq-1) mod 3, fire time advances
    every 3 URLs — per-host throughput ×3 while each connection honors
    the 2 s delay. Lane and timestamp are certified per URL."""
    sched = P.politeness_schedule_lanes(
        _frontier_df(spark, sf_dir),
        F.lit("2025-07-22 09:00:00").cast("timestamp"),
        2.0,
        n_connections=3,
    )
    return sched.select("host", "seq", "lane", "url", "scheduled_ts")


_SQL_POLITENESS_LANES = f"""
WITH frontier AS ({_FRONTIER_SQL}),
ordered AS (
  SELECT host, url,
         CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, url) AS INT) AS seq
  FROM frontier
)
SELECT host, seq, CAST((seq - 1) % 3 AS INT) AS lane, url,
       TIMESTAMP '2025-07-22 09:00:00'
         + INTERVAL (CAST(floor((seq - 1) / 3) AS BIGINT) * 2) SECOND AS scheduled_ts
FROM ordered
"""


def _q_politeness_by_ip(spark, sf_dir):
    """Server-granularity politeness (Heritrix politeness-by-IP): the 20
    frontier vhosts resolve onto 7 addresses (hostN -> 10.0.0.{N%7}), so
    ~3 vhosts share each delay lane — per-host politeness alone would
    triple-hit those servers. One window over (ip, priority, host, url);
    the whole schedule (lane, seq, timestamp) is value-certified."""
    from web_crawler_spark.operators.politeness import politeness_schedule_by_ip

    f = _frontier_df(spark, sf_dir)
    ips = f.select("host").distinct().select(
        "host",
        F.concat(
            F.lit("10.0.0."),
            (F.regexp_extract("host", r"host(\d+)", 1).cast("int") % 7).cast("string"),
        ).alias("ip"),
    )
    return politeness_schedule_by_ip(
        f, ips, F.lit("2025-07-22 09:00:00").cast("timestamp"), delay_seconds=2.0
    ).orderBy("ip_key", "seq")


_SQL_POLITENESS_BY_IP = f"""
WITH frontier AS ({_FRONTIER_SQL}),
ips AS (
  SELECT DISTINCT host,
         concat('10.0.0.', CAST(TRY_CAST(regexp_extract(host, 'host(\\d+)', 1) AS INT) % 7 AS VARCHAR)) AS ip
  FROM frontier
), keyed AS (
  SELECT COALESCE(i.ip, f.host) AS ip_key, f.host, f.priority, f.url
  FROM frontier f LEFT JOIN ips i USING (host)
), ordered AS (
  SELECT ip_key, host,
         CAST(ROW_NUMBER() OVER (PARTITION BY ip_key
                                 ORDER BY priority, host, url) AS INT) AS seq,
         url
  FROM keyed
)
SELECT ip_key, host, seq, url,
       TIMESTAMP '2025-07-22 09:00:00'
         + INTERVAL (CAST(seq - 1 AS BIGINT) * 2) SECOND AS scheduled_ts
FROM ordered
"""


def _q_frontier_gini(spark, sf_dir):
    """Frontier-skew telemetry: exact Gini of per-host queue depths over
    a deliberately skewed frontier (hot host = user_id%20==0 gets every
    5th extra URL) — the drift alarm for the salted-partitioning /
    per-host-budget machinery. Sorted-rank identity, integer-exact."""
    from web_crawler_spark.operators.aggregate import frontier_gini

    e = _t(spark, sf_dir, "events")
    hot = F.when(F.col("event_id") % 5 == 0, 0).otherwise(F.col("user_id") % 20)
    frontier = e.select(F.concat(F.lit("h"), hot.cast("string")).alias("host"))
    return frontier_gini(frontier)


_SQL_FRONTIER_GINI = """
WITH frontier AS (
  SELECT concat('h', CAST(CASE WHEN event_id % 5 = 0 THEN 0
                               ELSE user_id % 20 END AS VARCHAR)) AS host
  FROM events
), depths AS (
  SELECT host, COUNT(*) AS depth FROM frontier GROUP BY host
), ranked AS (
  SELECT depth,
         row_number() OVER (ORDER BY depth, host) AS i,
         COUNT(*) OVER () AS n
  FROM depths
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
       CAST(SUM(depth) AS BIGINT) AS n_urls,
       ROUND(SUM((2 * i - n - 1) * depth)
             / (CAST(ANY_VALUE(n) AS DOUBLE) * SUM(depth)), 6) AS gini
FROM ranked
"""


def _q_markdown_tables(spark, sf_dir):
    """HTML tables → GitHub Markdown (the tabular-HTML normalization an
    LLM corpus applies so structure survives into training text): planted
    header+data tables with values from event_id; the ORACLE reconstructs
    the exact rendered Markdown string with concat + chr(10), so the
    renderer itself is value-certified, not just row-counted."""
    from web_crawler_spark.plans.extract import markdown_tables_stage

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1500)
    k = F.col("event_id")
    html = F.concat(
        F.lit("<html><body><table><tr><th>item</th><th>qty</th></tr><tr><td>i"),
        k.cast("string"),
        F.lit("</td><td>"),
        (k % 50).cast("string"),
        F.lit("</td></tr></table></body></html>"),
    )
    pages = e.select(
        F.concat(F.lit("u"), k.cast("string")).alias("url"), html.alias("html")
    )
    return markdown_tables_stage(pages).orderBy("url")


_SQL_MARKDOWN_TABLES = """
SELECT concat('u', CAST(event_id AS VARCHAR)) AS url,
       CAST(0 AS INT) AS table_idx,
       concat('| item | qty |', chr(10),
              '| --- | --- |', chr(10),
              '| i', CAST(event_id AS VARCHAR), ' | ',
              CAST(event_id % 50 AS VARCHAR), ' |') AS markdown
FROM events WHERE event_id < 1500 ORDER BY url
"""


def _q_nofollow_links(spark, sf_dir):
    """rel=nofollow-aware link extraction (the link-spam opt-out the host
    graph honors): every third page carries a nofollow'd spam link next
    to its organic link; flags recovered through the real HTML parser,
    oracle planted."""
    from pyspark.sql import types as ST

    from web_crawler_spark.plans.extract import extract_links_rel

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1500)
    k = F.col("event_id")
    html = F.when(
        k % 3 == 0,
        F.concat(
            F.lit('<a href="/t'), k.cast("string"), F.lit('">x</a>'),
            F.lit('<a rel="ugc nofollow" href="/spam'), k.cast("string"),
            F.lit('">y</a>'),
        ),
    ).otherwise(
        F.concat(F.lit('<a href="/t'), k.cast("string"), F.lit('">x</a>'))
    )
    pages = e.select(
        F.concat(F.lit("u"), k.cast("string")).alias("url"), html.alias("html")
    )
    schema = ST.StructType([
        ST.StructField("url", ST.StringType()),
        ST.StructField("target", ST.StringType()),
        ST.StructField("nofollow", ST.BooleanType()),
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            urls, tgts, nfs = [], [], []
            for u, h in zip(pdf["url"], pdf["html"]):
                for t, nf in extract_links_rel(h or ""):
                    urls.append(u)
                    tgts.append(t)
                    nfs.append(nf)
            yield pd.DataFrame({"url": urls, "target": tgts, "nofollow": nfs})

    return pages.mapInPandas(gen, schema).orderBy("url", "target")


_SQL_NOFOLLOW_LINKS = """
WITH base AS (
  SELECT event_id, concat('u', CAST(event_id AS VARCHAR)) AS url
  FROM events WHERE event_id < 1500
)
SELECT url, concat('/t', CAST(event_id AS VARCHAR)) AS target, false AS nofollow
FROM base
UNION ALL
SELECT url, concat('/spam', CAST(event_id AS VARCHAR)) AS target, true AS nofollow
FROM base WHERE event_id % 3 = 0
ORDER BY url, target
"""


def _q_meta_robots(spark, sf_dir):
    """Per-page REP directives (<meta name=robots> / X-Robots-Tag):
    planted noindex / content-first nofollow / none / clean pages plus a
    decoy viewport meta; flags recovered by the pure-column parser, the
    oracle recomputes them from the planted arithmetic."""
    from web_crawler_spark.operators.robots import meta_robots_flags

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.col("event_id")
    html = (
        F.when(k % 4 == 0, F.lit('<html><meta name="robots" content="noindex, follow"><body>'))
        .when(k % 4 == 1, F.lit("<meta content='nofollow' name='robots'><body>"))
        .when(k % 4 == 2, F.lit('<meta name="robots" content="none">'))
        .otherwise(F.lit('<meta name="viewport" content="noindex"><body>'))
    )
    pages = e.select(k.alias("event_id"), html.alias("html"))
    return (
        meta_robots_flags(pages)
        .select("event_id", "noindex", "nofollow")
        .orderBy("event_id")
    )


_SQL_META_ROBOTS = """
SELECT event_id,
       event_id % 4 IN (0, 2) AS noindex,
       event_id % 4 IN (1, 2) AS nofollow
FROM events WHERE event_id < 2000 ORDER BY event_id
"""


def _q_exact_quantiles(spark, sf_dir):
    """EXACT p50/p90/p99 of order totals — distributed rank via the
    two-level prefix scan + broadcast equi-join on the target ranks; no
    approx_percentile error, no single-partition global sort. The oracle
    recomputes the same inverse-CDF ranks with a SQL window."""
    from web_crawler_spark.operators.aggregate import exact_quantiles

    o = _t(spark, sf_dir, "orders")
    return exact_quantiles(
        o, "o_totalprice", [0.5, 0.9, 0.99], id_col="o_orderkey"
    ).orderBy("q")


_SQL_EXACT_QUANTILES = """
WITH r AS (
  SELECT o_totalprice AS value,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rank,
         COUNT(*) OVER () AS n
  FROM orders
), t AS (
  SELECT unnest([0.5, 0.9, 0.99]) AS q
)
SELECT t.q, CAST(r.n AS BIGINT) AS n, CAST(r.rank AS BIGINT) AS rank, r.value
FROM t JOIN r ON r.rank = GREATEST(1, CAST(ceil(t.q * r.n) AS BIGINT))
ORDER BY t.q
"""


def _q_soft_404(spark, sf_dir):
    """Soft-404 gate (Bar-Yossef et al. 2004): synthetic fetch results
    with planted error pages — every 7th page says "not found" under a
    200, every 11th is a thin redirect stub on an /404 URL, every 13th
    is an honest 404 status (NOT soft). Flags are pure column
    expressions; the oracle recomputes them from the planted
    arithmetic."""
    from web_crawler_spark.operators.urlfilter import soft_404_flags

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.col("event_id")
    host = F.concat(F.lit("https://h"), (k % 20).cast("string"), F.lit(".example.com"))
    url = F.when(k % 11 == 0, F.concat(host, F.lit("/404"))).otherwise(
        F.concat(host, F.lit("/p/x"), k.cast("string"))
    )
    status = F.when(k % 13 == 0, F.lit(404)).otherwise(F.lit(200)).cast("int")
    filler = F.repeat(F.lit("content word "), 20)
    text = (
        F.when(k % 7 == 0, F.concat(F.lit("Sorry, page not found. "), filler))
        .when(k % 11 == 0, F.lit("gone"))
        .otherwise(F.concat(F.lit("Article "), k.cast("string"), F.lit(" "), filler))
    )
    pages = e.select(
        k.alias("event_id"), url.alias("url"),
        status.alias("http_status"), text.alias("text"),
    )
    return (
        soft_404_flags(pages)
        .select("event_id", "url", "http_status",
                "flag_error_text", "flag_thin", "flag_error_url", "soft_404")
        .orderBy("event_id")
    )


_SQL_SOFT_404 = """
WITH pages AS (
  SELECT event_id,
         CASE WHEN event_id % 11 = 0
              THEN concat('https://h', CAST(event_id % 20 AS VARCHAR), '.example.com/404')
              ELSE concat('https://h', CAST(event_id % 20 AS VARCHAR),
                          '.example.com/p/x', CAST(event_id AS VARCHAR)) END AS url,
         CAST(CASE WHEN event_id % 13 = 0 THEN 404 ELSE 200 END AS INT) AS http_status
  FROM events WHERE event_id < 2000
)
SELECT event_id, url, http_status,
       http_status = 200 AND event_id % 7 = 0 AS flag_error_text,
       http_status = 200 AND event_id % 7 <> 0 AND event_id % 11 = 0 AS flag_thin,
       http_status = 200 AND event_id % 11 = 0 AS flag_error_url,
       http_status = 200 AND (event_id % 7 = 0 OR event_id % 11 = 0) AS soft_404
FROM pages ORDER BY event_id
"""


def _q_host_budget_waterfill(spark, sf_dir):
    """Max-min fair per-epoch fetch budgets over the same deliberately
    skewed frontier as a8_frontier_gini (hot host h0 ~5x the tail):
    capacity 3000 < total demand, so the waterfill both fully serves the
    small hosts and splits the remainder over the big ones — exact
    integer semantics, remainder to the lowest-ranked unsatisfied
    hosts. The budgets are water-filled on the driver over the collected
    per-host demand table."""
    from web_crawler_spark.operators.aggregate import host_budget_waterfill

    e = _t(spark, sf_dir, "events")
    hot = F.when(F.col("event_id") % 5 == 0, 0).otherwise(F.col("user_id") % 20)
    frontier = e.select(F.concat(F.lit("h"), hot.cast("string")).alias("host"))
    demands = frontier.groupBy("host").agg(F.count(F.lit(1)).alias("demand"))
    return host_budget_waterfill(demands, capacity=3000).orderBy("host")


_SQL_HOST_BUDGET_WATERFILL = """
WITH frontier AS (
  SELECT concat('h', CAST(CASE WHEN event_id % 5 = 0 THEN 0
                               ELSE user_id % 20 END AS VARCHAR)) AS host
  FROM events
), d AS (
  SELECT host, COUNT(*) AS demand FROM frontier GROUP BY host
), r AS (
  SELECT host, demand,
         ROW_NUMBER() OVER (ORDER BY demand, host) AS k,
         SUM(demand) OVER (ORDER BY demand, host
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         COUNT(*) OVER () AS n
  FROM d
), s AS (
  SELECT host, demand, k, p, n,
         (demand * (n - k + 1) + (p - demand)) <= 3000 AS satisfied
  FROM r
), lvl AS (
  SELECT COALESCE(MAX(CASE WHEN satisfied THEN k END), 0) AS bigk,
         COALESCE(MAX(CASE WHEN satisfied THEN p END), 0) AS pk,
         MAX(n) AS n2
  FROM s
)
SELECT s.host,
       CAST(s.demand AS BIGINT) AS demand,
       CAST(CASE WHEN s.satisfied THEN s.demand
                 ELSE CAST(floor((3000 - lvl.pk) * 1.0 / (lvl.n2 - lvl.bigk)) AS BIGINT)
                      + CASE WHEN s.k - lvl.bigk <= (3000 - lvl.pk) % (lvl.n2 - lvl.bigk)
                             THEN 1 ELSE 0 END
            END AS BIGINT) AS budget,
       s.satisfied
FROM s, lvl
ORDER BY s.host
"""


def _q_anti_join_seen(spark, sf_dir):
    f = _frontier_df(spark, sf_dir).withColumn("url_hash", F.md5("url"))
    e = _t(spark, sf_dir, "events")
    seen = e.filter(F.col("event_id") % 2 == 0).select(
        F.md5(
            F.concat(
                F.lit("https://host"), (F.col("user_id") % 20).cast("string"),
                F.lit(".example.com/p/"), F.col("event_id").cast("string"),
            )
        ).alias("url_hash")
    )
    return (
        f.join(seen, "url_hash", "left_anti").select("url", "url_hash").orderBy("url")
    )


_SQL_ANTI_JOIN_SEEN = f"""
WITH frontier AS ({_FRONTIER_SQL}),
seen AS (
  SELECT md5(concat('https://host', CAST(user_id % 20 AS VARCHAR), '.example.com/p/',
              CAST(event_id AS VARCHAR))) AS url_hash
  FROM events WHERE event_id % 2 = 0
)
SELECT url, md5(url) AS url_hash FROM frontier
WHERE md5(url) NOT IN (SELECT url_hash FROM seen)
ORDER BY url
"""


def _q_anti_join_seen_cuckoo(spark, sf_dir):
    """Same new-URL discovery as f8_anti_join_seen, pre-filtered through the
    sharded cuckoo filter (north-rule "bloom/cuckoo-filter URL-seen set";
    deletion-capable counterpart of the bloom path). The filter is
    optimization-only — no false negatives, exact anti-join behind it — so
    the result is byte-identical to the plain anti-join and shares its
    oracle. Reference: pacong/data/processor.py:335-380 (seen-dict dedup)."""
    from web_crawler_spark.operators import cuckoo as CK

    f = _frontier_df(spark, sf_dir).withColumn("url_hash", F.md5("url"))
    e = _t(spark, sf_dir, "events")
    seen = e.filter(F.col("event_id") % 2 == 0).select(
        F.md5(
            F.concat(
                F.lit("https://host"), (F.col("user_id") % 20).cast("string"),
                F.lit(".example.com/p/"), F.col("event_id").cast("string"),
            )
        ).alias("url_hash")
    )
    return (
        CK.anti_join_seen_cuckoo(f, seen, key="url_hash", n_shards=8)
        .select("url", "url_hash").orderBy("url")
    )


def _q_retry_backoff(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 5).cast("int").alias("retries"),
        F.col("ts").alias("last_attempt_ts"),
    )
    now = F.lit("2024-02-01 00:00:00").cast("timestamp")
    return P.retry_eligible(e, now).select(
        "event_id", "retries", F.col("eligible").cast("int").alias("eligible")
    )


_SQL_RETRY_BACKOFF = """
SELECT event_id, CAST(event_id % 5 AS INT) AS retries,
       CAST((event_id % 5 < 3) AND (
         epoch(ts) + (CASE WHEN event_id % 5 = 0 THEN 0.0
                           ELSE 1.0 * power(2.0, event_id % 5 - 1) END)
         <= epoch(TIMESTAMP '2024-02-01 00:00:00')
       ) AS INT) AS eligible
FROM events
"""


def _q_success_rate(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 7).cast("int").alias("epoch"),
        F.when(F.col("event_type") != "error", 1).otherwise(0).alias("scraped_count"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("error_count"),
    )
    return A.success_rate(e).orderBy("epoch")


_SQL_SUCCESS_RATE = """
SELECT CAST(user_id % 7 AS INT) AS epoch,
       CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS scraped,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       ROUND(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS success_rate
FROM events GROUP BY 1 ORDER BY epoch
"""


# -- scalar semantics (X1/X2/X3/X5/X6/X8/X13) over synthesized strings ------


def _q_clean_price(spark, sf_dir):
    # raw strings synthesized from INTEGERS (float-repr divergence between
    # engines is a test artifact, not an operator property): '$12,345.67 USD'
    e = _t(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("$"),
        (F.col("event_id") / 1000).cast("bigint").cast("string"),
        F.lit(","),
        F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"),
        F.lit("."),
        F.lpad((F.col("user_id") % 100).cast("string"), 2, "0"),
        F.lit(" USD"),
    )
    return e.select(
        "event_id", raw.alias("raw_price"), S.clean_price(raw).alias("clean_price")
    )


_SQL_CLEAN_PRICE = """
WITH t AS (
  SELECT event_id,
         concat('$', CAST(event_id // 1000 AS VARCHAR), ',',
                lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0'), '.',
                lpad(CAST(user_id % 100 AS VARCHAR), 2, '0'), ' USD') AS raw_price
  FROM events
)
SELECT event_id, raw_price,
       CAST(replace(regexp_replace(raw_price, '[^0-9.,-]', '', 'g'), ',', '') AS DOUBLE) AS clean_price
FROM t
"""


def _q_clean_percentage(spark, sf_dir):
    # integer-built '±NNN.NN%' strings; |v| spans 0..250 to hit the /100 rule
    e = _t(spark, sf_dir, "events")
    sign = F.when(F.col("event_id") % 2 == 0, F.lit("")).otherwise(F.lit("-"))
    raw = F.concat(
        sign,
        (F.col("event_id") % 250).cast("string"),
        F.lit("."),
        F.lpad((F.col("user_id") % 100).cast("string"), 2, "0"),
        F.lit("%"),
    )
    return e.select(
        "event_id", raw.alias("raw_pct"), S.clean_percentage(raw).alias("clean_pct")
    )


_SQL_CLEAN_PERCENTAGE = """
WITH t AS (
  SELECT event_id,
         concat(CASE WHEN event_id % 2 = 0 THEN '' ELSE '-' END,
                CAST(event_id % 250 AS VARCHAR), '.',
                lpad(CAST(user_id % 100 AS VARCHAR), 2, '0'), '%') AS raw_pct
  FROM events
), p AS (
  SELECT event_id, raw_pct,
         CAST(replace(regexp_replace(raw_pct, '[^0-9.,-]', '', 'g'), ',', '.') AS DOUBLE) AS v
  FROM t
)
SELECT event_id, raw_pct,
       CASE WHEN ABS(v) <= 100 THEN v ELSE v / 100 END AS clean_pct
FROM p
"""


def _q_extract_symbol(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    raw = F.concat(
        F.upper(F.substring("p_brand", 1, 5)),
        (F.col("p_partkey") % 10).cast("string"),
        F.when(F.col("p_partkey") % 3 == 0, F.lit(":COM")).otherwise(F.lit("")),
    )
    return p.select(
        "p_partkey", raw.alias("raw_sym"), S.extract_symbol(raw).alias("symbol")
    )


_SQL_EXTRACT_SYMBOL = """
WITH t AS (
  SELECT p_partkey,
         concat(upper(substr(p_brand, 1, 5)), CAST(p_partkey % 10 AS VARCHAR),
                CASE WHEN p_partkey % 3 = 0 THEN ':COM' ELSE '' END) AS raw_sym
  FROM part
)
SELECT p_partkey, raw_sym,
       COALESCE(
         NULLIF(regexp_extract(raw_sym, '([A-Z]+[0-9]*:COM)', 1), ''),
         NULLIF(regexp_extract(raw_sym, '([A-Z]+USD:CUR)', 1), ''),
         NULLIF(regexp_extract(raw_sym, '([A-Z]+[0-9]+)', 1), ''),
         NULLIF(regexp_extract(raw_sym, '([A-Z]{2,4})', 1), ''),
         '') AS symbol
FROM t
"""


def _q_categorize(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    # p_type words stand in for commodity names; append marker keywords so
    # every category branch is exercised deterministically
    name = F.concat(
        F.col("p_type"), F.lit(" "),
        F.element_at(
            F.array(F.lit("oil"), F.lit("gold"), F.lit("copper"), F.lit("corn"), F.lit("thing")),
            (F.col("p_partkey") % 5 + 1).cast("int"),
        ),
    )
    sym = F.when(F.col("p_partkey") % 7 == 0, F.lit("X:COM")).otherwise(F.lit(""))
    return p.select(
        "p_partkey",
        name.alias("name"),
        S.categorize(name, sym).alias("category"),
    )


_SQL_CATEGORIZE = """
WITH t AS (
  SELECT p_partkey,
         concat(p_type, ' ', ['oil','gold','copper','corn','thing'][p_partkey % 5 + 1]) AS name,
         CASE WHEN p_partkey % 7 = 0 THEN 'x:com' ELSE '' END AS sym
  FROM part
)
SELECT p_partkey, name,
  CASE
    WHEN regexp_matches(lower(name), 'oil|gas|gasoline|原油|天然气|汽油|取暖油|heating|brent|wti') THEN '能源'
    WHEN regexp_matches(lower(name), 'gold|silver|platinum|palladium|黄金|白银|铂金|钯金') THEN '贵金属'
    WHEN regexp_matches(lower(name), 'copper|aluminum|zinc|nickel|lead|tin|铜|铝|锌|镍|铅|锡') THEN '工业金属'
    WHEN regexp_matches(lower(name), 'corn|wheat|soybean|cotton|sugar|coffee|cocoa|cattle|hog|玉米|小麦|大豆|棉花|糖|咖啡|可可|牛|猪') THEN '农产品'
    WHEN lower(sym) LIKE '%com%' THEN '商品'
    WHEN lower(sym) LIKE '%cur%' THEN '货币'
    ELSE '其他'
  END AS category
FROM t
"""


def _q_hq_parse(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    bid = F.round(F.col("value"), 4)
    payload = F.concat(
        F.lit('var hq_str_fx_test="09:54:32,'),
        bid.cast("string"), F.lit(","),
        F.round(bid + 0.002, 4).cast("string"), F.lit(","),
        F.round(bid + 0.001, 4).cast("string"),
        F.lit(',2025-07-22,09:54:41";'),
    )
    parsed = S.parse_hq_payload(payload)
    return e.select(
        "event_id",
        parsed["quote_time"].alias("quote_time"),
        F.round(parsed["bid_price"], 4).alias("bid_price"),
        F.round(parsed["ask_price"], 4).alias("ask_price"),
        F.round(parsed["current_price"], 4).alias("current_price"),
    )


_SQL_HQ_PARSE = """
WITH t AS (
  SELECT event_id,
         concat('var hq_str_fx_test="09:54:32,', CAST(ROUND(value, 4) AS VARCHAR), ',',
                CAST(ROUND(ROUND(value, 4) + 0.002, 4) AS VARCHAR), ',',
                CAST(ROUND(ROUND(value, 4) + 0.001, 4) AS VARCHAR),
                ',2025-07-22,09:54:41";') AS payload
  FROM events
), ex AS (
  SELECT event_id,
         string_split(regexp_extract(payload, 'var\\s+hq_str_[^=]+=\\s*"([^"]+)"', 1), ',') AS f
  FROM t
)
SELECT event_id, f[1] AS quote_time,
       ROUND(CASE WHEN f[2] = '' THEN 0.0 ELSE CAST(f[2] AS DOUBLE) END, 4) AS bid_price,
       ROUND(CASE WHEN f[3] = '' THEN 0.0 ELSE CAST(f[3] AS DOUBLE) END, 4) AS ask_price,
       ROUND(CASE WHEN f[4] = '' THEN 0.0 ELSE CAST(f[4] AS DOUBLE) END, 4) AS current_price
FROM ex
"""


def _q_percent_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    sign = F.when(F.col("event_id") % 2 == 0, F.lit("+")).otherwise(F.lit("-"))
    raw = F.concat(
        sign,
        (F.col("event_id") % 10).cast("string"),
        F.lit("."),
        F.lpad((F.col("user_id") % 100).cast("string"), 2, "0"),
        F.lit("% today"),
    )
    return e.select("event_id", raw.alias("change"), S.extract_change_percent(raw).alias("change_percent"))


_SQL_PERCENT_EXTRACT = """
WITH t AS (
  SELECT event_id,
         concat(CASE WHEN event_id % 2 = 0 THEN '+' ELSE '-' END,
                CAST(event_id % 10 AS VARCHAR), '.',
                lpad(CAST(user_id % 100 AS VARCHAR), 2, '0'), '% today') AS change
  FROM events
)
SELECT event_id, change,
       CAST(NULLIF(regexp_extract(change, '([+-]?[0-9]+\\.?[0-9]*)%', 1), '') AS DOUBLE) AS change_percent
FROM t
"""


def _q_forex_derived(spark, sf_dir):
    # bid/ask from integer columns via identical IEEE ops on both engines —
    # no ROUND (Spark rounds the shortest-decimal repr, DuckDB the raw
    # double; they disagree on .5 boundaries)
    e = _t(spark, sf_dir, "events")
    bid = (F.col("event_id") % 50000).cast("double") / F.lit(100.0)
    ask = bid + (1 + F.col("user_id") % 10).cast("double") / F.lit(100.0)
    d = S.forex_derived(bid, ask, F.lit("USD"), F.lit("EUR"))
    return e.select(
        "event_id",
        bid.alias("bid_price"),
        ask.alias("ask_price"),
        d["mid_price"].alias("mid_price"),
        d["spread"].alias("spread"),
        d["pair"].alias("pair"),
    )


_SQL_FOREX_DERIVED = """
WITH t AS (
  SELECT event_id,
         CAST(event_id % 50000 AS DOUBLE) / 100.0 AS bid_price,
         CAST(event_id % 50000 AS DOUBLE) / 100.0
           + CAST(1 + user_id % 10 AS DOUBLE) / 100.0 AS ask_price
  FROM events
)
SELECT event_id, bid_price, ask_price,
       (bid_price + ask_price) / 2.0 AS mid_price,
       ask_price - bid_price AS spread,
       'USD/EUR' AS pair
FROM t
"""


def _q_validation_split(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("event_type").alias("name"),
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")).alias("current_price"),
        (F.col("value") - 245.0).alias("change_percent"),
        F.col("ts").alias("timestamp"),
    )
    now = F.lit("2024-01-02 00:00:00").cast("timestamp")
    checked = VAL.apply_rules(e, VAL.commodity_rules(now))
    return checked.select(
        "event_id",
        F.size("errors").alias("n_errors"),
        (F.size("errors") == 0).cast("int").alias("is_valid"),
    )


_SQL_VALIDATION_SPLIT = """
WITH t AS (
  SELECT event_id, event_type AS name,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS current_price,
         value - 245.0 AS change_percent, ts
  FROM events
), checks AS (
  SELECT event_id,
         (CASE WHEN name IS NULL OR name = '' THEN 1 ELSE 0 END) +
         (CASE WHEN current_price IS NOT NULL AND (current_price < 0 OR current_price > 1000000) THEN 1 ELSE 0 END) +
         (CASE WHEN change_percent IS NOT NULL AND (change_percent < -100 OR change_percent > 1000) THEN 1 ELSE 0 END) +
         (CASE WHEN ts IS NULL OR ts < TIMESTAMP '2024-01-02 00:00:00' - INTERVAL 48 HOUR
                    OR ts > TIMESTAMP '2024-01-02 00:00:00' + INTERVAL 1 HOUR THEN 1 ELSE 0 END)
         AS n_errors
  FROM t
)
SELECT event_id, CAST(n_errors AS INT) AS n_errors, CAST(n_errors = 0 AS INT) AS is_valid FROM checks
"""


def _q_validation_summary(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("name"),
        F.when(F.col("event_type") == "error", -1.0).otherwise(F.col("value")).alias("current_price"),
        (F.col("value") * 3).alias("change_percent"),
        F.col("ts").alias("timestamp"),
    )
    now = F.lit("2024-01-02 00:00:00").cast("timestamp")
    checked = VAL.apply_rules(e, VAL.commodity_rules(now))
    _, invalid = VAL.split_valid(checked)
    return VAL.validation_summary(invalid)


_SQL_VALIDATION_SUMMARY = """
WITH t AS (
  SELECT event_type AS name,
         CASE WHEN event_type = 'error' THEN -1.0 ELSE value END AS current_price,
         value * 3 AS change_percent, ts
  FROM events
), errs AS (
  SELECT unnest(list_filter([
    CASE WHEN name IS NULL OR name = '' THEN 'name' END,
    CASE WHEN current_price IS NOT NULL AND (current_price < 0 OR current_price > 1000000) THEN 'current_price' END,
    CASE WHEN change_percent IS NOT NULL AND (change_percent < -100 OR change_percent > 1000) THEN 'change_percent' END,
    CASE WHEN ts IS NULL OR ts < TIMESTAMP '2024-01-02 00:00:00' - INTERVAL 48 HOUR
              OR ts > TIMESTAMP '2024-01-02 00:00:00' + INTERVAL 1 HOUR THEN 'timestamp' END
  ], x -> x IS NOT NULL)) AS error_type
  FROM t
)
SELECT error_type, COUNT(*) AS n FROM errs GROUP BY error_type ORDER BY n DESC, error_type
"""


# -- training-data pipeline operators ----------------------------------------


def _q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", T.content_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


_SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                               '\\s+', ' ', 'g'))) AS fingerprint
FROM documents ORDER BY doc_id
"""


def _q_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # no orderBy: the driver's value-hash compare is order-insensitive and a
    # global sort would be the only all-to-one exchange in this plan
    return D.exact_dedup(d, "text", "doc_id").select("doc_id", "fingerprint")


_SQL_EXACT_DEDUP = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                                 '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint FROM (
  SELECT doc_id, fingerprint, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) rn
  FROM fp
) WHERE rn = 1 ORDER BY doc_id
"""


def _q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


_SQL_TOKEN_COUNT = """
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents ORDER BY doc_id
"""


def _q_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", T.detect_language(F.col("text")).alias("predicted_lang")
    ).orderBy("doc_id")


def _langid_pieces() -> tuple[list[str], str]:
    """(hit expressions, decision CASE) generated from the SAME
    STOPWORDS/SCRIPT_RANGES tables the Spark expression uses — shared by
    the tx_langid oracle and the host-report oracle."""
    hit_exprs = [
        "length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace",
    ]
    for code, rng in T.SCRIPT_RANGES:
        hit_exprs.append(
            f"length(regexp_replace(text, '[^{rng}]', '', 'g')) AS s_{code}"
        )
    for lang in sorted(T.STOPWORDS):
        words = ",".join(f"'{w}'" for w in T.STOPWORDS[lang])
        hit_exprs.append(
            f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
            f" x -> x IN ({words}))) AS h_{lang}"
        )
    langs = sorted(T.STOPWORDS)
    best = "greatest(" + ",".join(f"h_{x}" for x in langs) + ")"
    case = "CASE "
    for code, _rng in T.SCRIPT_RANGES:
        case += f"WHEN 5 * s_{code} > n_nonspace THEN '{code}' "
    case += f"WHEN {best} = 0 THEN 'unknown' "
    for lang in langs:
        case += f"WHEN h_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'unknown' END"
    return hit_exprs, case


def _langid_sql() -> str:
    hit_exprs, case = _langid_pieces()
    return f"""
WITH h AS (SELECT doc_id, lang, {", ".join(hit_exprs)} FROM documents)
SELECT doc_id, lang, {case} AS predicted_lang FROM h ORDER BY doc_id
"""


def _q_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


# body defined below as _SQL_QUALITY_CTE (shared with tx_curriculum_shards);
# the standalone query is just its projection
_SQL_QUALITY_SCORE = None  # assigned after _SQL_QUALITY_CTE is defined


_SQL_QUALITY_CTE = """
WITH t AS (
  SELECT doc_id, text, LENGTH(text) AS n,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS toks
  FROM documents
), m AS (
  SELECT doc_id, n, len(toks) AS n_toks,
         LENGTH(regexp_replace(text, '[^A-Za-z一-鿿]', '', 'g')) AS alpha,
         len(list_distinct(toks)) AS n_distinct,
         len(regexp_extract_all(text, '[.!?]')) AS n_sent
  FROM t
), q AS (
  SELECT doc_id, ROUND(
    0.25 * (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 ELSE least(n / 100.0, 1.0) END) +
    0.25 * (CASE WHEN n > 0 THEN alpha * 1.0 / n ELSE 0.0 END) +
    0.25 * (CASE WHEN n_toks > 0 THEN n_distinct * 1.0 / n_toks ELSE 0.0 END) +
    0.25 * (CASE WHEN n_toks > 0 THEN least(n_sent * 20.0 / n_toks, 1.0) ELSE 0.0 END)
  , 6) AS quality
  FROM m
)
"""


_SQL_QUALITY_SCORE = _SQL_QUALITY_CTE + """
SELECT doc_id, quality FROM q ORDER BY doc_id
"""


def _q_curriculum_shards(spark, sf_dir):
    """Curriculum layout: documents ranked by quality_score (best first,
    doc_id tie-break) and cut into 8 equal-count shards — shard 0 is the
    cleanest slice a curriculum trainer schedules first. Rank comes from
    the two-level prefix scan; the oracle recomputes rank and the
    floor((rank-1)·8/N) cut with a SQL window."""
    from web_crawler_spark.operators.corpus import curriculum_shards

    d = _t(spark, sf_dir, "documents")
    scored = d.select("doc_id", T.quality_score(F.col("text")).alias("q"))
    return curriculum_shards(scored, "q", n_shards=8).orderBy("doc_id")


_SQL_CURRICULUM_SHARDS = _SQL_QUALITY_CTE + """
, r AS (
  SELECT doc_id, quality,
         ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS rank,
         COUNT(*) OVER () AS n
  FROM q
)
SELECT doc_id, quality, CAST(rank AS BIGINT) AS rank,
       CAST(floor((rank - 1) * 8.0 / n) AS BIGINT) AS shard
FROM r ORDER BY doc_id
"""


def _q_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, "text", "doc_id", n=5, threshold=0.18).orderBy(
        "id_a", "id_b"
    )


_SQL_NGRAM_JACCARD = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
  WHERE trim(text) <> ''
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w)-4, 0) + 1)]) AS grams
  FROM toks
), nonempty AS (SELECT * FROM sh WHERE len(grams) > 0),
inv AS (SELECT doc_id, unnest(grams) AS gram FROM nonempty),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(grams) AS sz FROM nonempty)
SELECT id_a, id_b,
       ROUND(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.18
ORDER BY id_a, id_b
"""


def _q_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "text", "doc_id", n=5, k=8, bands=4, threshold=0.18, portable_hash=True
    ).orderBy("id_a", "id_b")


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster formation + canonical election over the minhash-LSH
    pair set (connected components by min-label propagation) — the exact
    transitive groups are oracle-reproduced via a recursive closure."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", n=5, k=8, bands=4, threshold=0.18, portable_hash=True
    )
    return D.dedup_clusters(pairs, docs=d).orderBy("doc_id")


def _q_dedup_clusters_star(spark, sf_dir):
    """Same transitive near-dup groups, computed with the alternating
    large-star/small-star contraction (Kiveris et al. 2014) instead of
    min-label propagation - O(log^2 n) rounds on any component shape; the
    oracle (the same recursive closure) certifies both algorithms agree
    with the true components."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", n=5, k=8, bands=4, threshold=0.18, portable_hash=True
    )
    return D.dedup_clusters(pairs, docs=d, algorithm="star").orderBy("doc_id")


def _q_keep_canonical(spark, sf_dir):
    """Corpus after near-dup collapse: one minimum-id doc per component."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", n=5, k=8, bands=4, threshold=0.18, portable_hash=True
    )
    return D.keep_canonical(d, pairs).select("doc_id").orderBy("doc_id")


def _cluster_closure_sql() -> str:
    """Recursive transitive closure over the minhash pair set (the oracle's
    side of dedup_clusters' iterative min-label propagation)."""
    inner = _minhash_sql()
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({inner}) mh
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
minreach AS (SELECT u, MIN(v) AS minv FROM reach GROUP BY u)
"""


def _sql_dedup_clusters() -> str:
    return (
        _cluster_closure_sql()
        + """
SELECT d.doc_id,
       COALESCE(LEAST(d.doc_id, m.minv), d.doc_id) AS cluster_id,
       (COALESCE(LEAST(d.doc_id, m.minv), d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN minreach m ON d.doc_id = m.u
ORDER BY d.doc_id
"""
    )


def _sql_keep_canonical() -> str:
    return (
        _cluster_closure_sql()
        + """
SELECT d.doc_id
FROM documents d LEFT JOIN minreach m ON d.doc_id = m.u
WHERE COALESCE(LEAST(d.doc_id, m.minv), d.doc_id) = d.doc_id
ORDER BY d.doc_id
"""
    )


def _minhash_sql(
    src: str = "SELECT doc_id, text FROM documents",
    k: int = 8,
    bands: int = 4,
    n: int = 5,
    thr: float = 0.18,
) -> str:
    """Portable-md5 MinHash-LSH pair oracle, parametrized by a (doc_id,
    text) source CTE so structural variants (DOM tag sequences) reuse the
    same certified algebra."""
    rows = k // bands
    sig_exprs = ",\n         ".join(
        f"list_min([md5(concat('s{i}:', g)) for g in grams]) AS s{i}" for i in range(k)
    )
    band_rows = ", ".join(
        f"({b}, md5(concat_ws('|', "
        + ", ".join(f"s{i}" for i in range(b * rows, (b + 1) * rows))
        + ")))"
        for b in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM ({src})
  WHERE trim(text) <> ''
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+{n - 1}], ' ')
                        for i in range(1, greatest(len(w)-{n - 1}, 0) + 1)]) AS grams
  FROM toks
), nonempty AS (SELECT * FROM sh WHERE len(grams) > 0),
sigs AS (
  SELECT doc_id, grams,
         {sig_exprs}
  FROM nonempty
), banded AS (
  SELECT doc_id, grams, b.* FROM sigs,
  LATERAL (VALUES {band_rows}) AS b(band, band_sig)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
), verified AS (
  SELECT id_a, id_b,
         ROUND(len(list_intersect(sa.grams, sb.grams)) * 1.0 /
               (len(sa.grams) + len(sb.grams) - len(list_intersect(sa.grams, sb.grams))), 6) AS jaccard
  FROM cand JOIN nonempty sa ON sa.doc_id = id_a JOIN nonempty sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {thr} ORDER BY id_a, id_b
"""


def _q_lsh_eval(spark, sf_dir):
    """Empirical MinHash-LSH quality audit (operators/dedup.lsh_dedup_eval):
    precision/recall of the full LSH dedup pipeline vs exact-Jaccard ground
    truth at the same shingles and threshold - the measured complement of
    the dd_lsh_plan S-curve planner. All metrics are exact integers
    (counts + integer-div milli-units); the oracle composes the two
    already-certified pair-set oracles verbatim."""
    d = _t(spark, sf_dir, "documents")
    return D.lsh_dedup_eval(
        d, "text", "doc_id", n=5, k=8, bands=4, threshold=0.18,
        portable_hash=True,
    )


def _lsh_eval_sql() -> str:
    return f"""
WITH truth AS (SELECT id_a, id_b FROM ({_SQL_NGRAM_JACCARD})),
lsh AS (SELECT id_a, id_b FROM ({_minhash_sql()})),
m AS (
  SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
         (SELECT COUNT(*) FROM lsh) AS n_lsh,
         (SELECT COUNT(*) FROM (SELECT * FROM truth INTERSECT SELECT * FROM lsh)) AS n_hit
)
SELECT n_truth, n_lsh, n_hit,
       CASE WHEN n_lsh > 0 THEN (1000 * n_hit) // n_lsh END AS precision_milli,
       CASE WHEN n_truth > 0 THEN (1000 * n_hit) // n_truth END AS recall_milli
FROM m"""


def _q_host_fetcher_assign(spark, sf_dir):
    """Rendezvous host->fetcher-lane assignment (operators/politeness.
    host_fetcher_assign, UbiCrawler/HRW): 997 hosts over 16 lanes as one
    zero-shuffle md5-argmax projection; the oracle recomputes every
    digest and argmax (md5 is engine-portable), certifying the exact
    assignment that makes cluster resizes move only the minimal host
    fraction."""
    from web_crawler_spark.operators.politeness import host_fetcher_assign

    ev = _t(spark, sf_dir, "events")
    hosts = ev.select(
        F.concat(
            F.lit("h"), (F.col("user_id") % 997).cast("string"), F.lit(".com")
        ).alias("host")
    ).distinct()
    return host_fetcher_assign(hosts, n_fetchers=16).orderBy("host")


_SQL_HOST_FETCHER_ASSIGN = """
WITH hosts AS (
  SELECT DISTINCT concat('h', CAST(user_id % 997 AS VARCHAR), '.com') AS host
  FROM events
),
dg AS (
  SELECT host,
         [md5(host || ':' || CAST(k AS VARCHAR)) for k in range(0, 16)] AS l
  FROM hosts
)
SELECT host,
       CAST(list_position(l, list_aggregate(l, 'max')) - 1 AS INT) AS lane
FROM dg ORDER BY host"""


def _q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking over REAL binary payloads
    (operators/dedup.cdc_chunks): 400 payloads whose bytes follow a pure
    integer formula of (doc_id, j), built as actual binary rows the Arrow
    gear-hash kernel decodes — while the oracle recomputes every rolling
    hash, every greedy min-size cut and every chunk md5 from the formula
    alone, certifying the full boundary algebra end to end (the
    ground-truth-by-construction pattern of the media decoders)."""
    from web_crawler_spark.operators.dedup import cdc_chunks

    rows = [
        (
            i,
            bytes(
                (i * 7 + j * 13 + (j * j) % 251) % 256
                for j in range(100 + i % 60)
            ),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return cdc_chunks(df, mask_bits=5, min_size=24).orderBy(
        "doc_id", "chunk_idx"
    )


def _cdc_sql() -> str:
    M = 18446744073709551616
    pow_lits = ", ".join(str(1 << k) for k in range(64))
    return f"""
WITH RECURSIVE docs AS (
  SELECT i AS doc_id, 100 + (i % 60) AS L FROM range(0, 400) t(i)
),
bts AS (
  SELECT doc_id, L,
         [CAST((doc_id * 7 + j * 13 + (j * j) % 251) % 256 AS HUGEINT)
          for j in range(0, L)] AS bl
  FROM docs
),
pw AS (SELECT [{pow_lits}]::HUGEINT[] AS POW),
hs AS (
  SELECT doc_id, L, bl,
         [CAST(list_sum(
            [(((bl[i - k] + 1) * {11400714819323198485}::HUGEINT) % {M}::HUGEINT
              * POW[k + 1]) % {M}::HUGEINT
             for k in range(0, least(63, i - 1) + 1)]
          ) % {M}::HUGEINT AS HUGEINT)
          for i in range(1, L + 1)] AS hl
  FROM bts, pw
),
cands AS (
  SELECT doc_id, unnest([i for i in range(1, L + 1) if hl[i] % 32 = 0]) AS pos
  FROM hs
),
cuts AS (
  SELECT doc_id, 0 AS cut FROM docs
  UNION ALL
  SELECT c.doc_id,
         (SELECT min(pos) FROM cands p
          WHERE p.doc_id = c.doc_id AND p.pos - c.cut >= 24)
  FROM cuts c
  WHERE (SELECT min(pos) FROM cands p
         WHERE p.doc_id = c.doc_id AND p.pos - c.cut >= 24) IS NOT NULL
),
bnd AS (
  SELECT doc_id, list_sort(list(cut)) AS cl FROM cuts GROUP BY doc_id
),
withl AS (
  SELECT b.doc_id,
         CASE WHEN cl[len(cl)] = d.L THEN cl ELSE list_append(cl, d.L) END AS cl
  FROM bnd b JOIN docs d USING (doc_id)
),
ids AS (
  SELECT doc_id, unnest([i for i in range(1, len(cl))]) AS i FROM withl
)
SELECT t.doc_id,
       CAST(t.i - 1 AS BIGINT) AS chunk_idx,
       CAST(w.cl[t.i] AS BIGINT) AS start,
       CAST(w.cl[t.i + 1] - w.cl[t.i] AS BIGINT) AS length,
       md5(array_to_string(b.bl[w.cl[t.i] + 1 : w.cl[t.i + 1]], '-')) AS chunk_hash
FROM ids t
JOIN withl w USING (doc_id)
JOIN bts b USING (doc_id)
ORDER BY t.doc_id, chunk_idx
"""


def _q_cdc_dedup_stats(spark, sf_dir):
    """Storage-dedup accounting over CDC chunks (operators/dedup.
    cdc_dedup_stats): the fixture plants real duplication - payload bytes
    depend on doc_id % 40, so every payload family repeats 10x and
    identical content yields identical gear boundaries + chunk hashes
    (content addressing). All outputs exact integers; the oracle
    recomputes chunks from the byte formula then replays the rollup."""
    from web_crawler_spark.operators.dedup import cdc_chunks, cdc_dedup_stats

    rows = [
        (
            i,
            bytes(
                ((i % 40) * 7 + j * 13 + (j * j) % 251) % 256
                for j in range(100 + (i % 40) % 60)
            ),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return cdc_dedup_stats(cdc_chunks(df, mask_bits=5, min_size=24))


def _cdc_stats_sql() -> str:
    inner = _cdc_sql().replace(
        "(doc_id * 7 + j * 13 + (j * j) % 251) % 256",
        "((doc_id % 40) * 7 + j * 13 + (j * j) % 251) % 256",
    ).replace("100 + (i % 60) AS L", "100 + (i % 40) % 60 AS L")
    return f"""
WITH per_hash AS (
  SELECT chunk_hash, COUNT(*) AS n, MIN(length) AS length
  FROM ({inner})
  GROUP BY chunk_hash
)
SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_chunks,
       COUNT(*) AS n_unique_chunks,
       CAST(COALESCE(SUM(n * length), 0) AS BIGINT) AS total_bytes,
       CAST(COALESCE(SUM(length), 0) AS BIGINT) AS unique_bytes,
       CAST(CASE WHEN COALESCE(SUM(n * length), 0) > 0
            THEN (1000 * SUM(length)) // SUM(n * length) END AS BIGINT) AS stored_ratio_milli
FROM per_hash
"""


def _q_dds_quantiles(spark, sf_dir):
    """DDSketch relative-error quantiles (operators/sketches.py::dds_*):
    p50/p95/p99 of order value per priority from geometric buckets —
    O(log(max/min)/α) state at any N. The sketch is a pure deterministic
    function of the multiset (bucket = ⌈ln(x)/ln γ⌉, groupBy count), so
    the oracle replays buckets, the rank walk, and the α-bounded
    estimates value-for-value — the sketch's approximation itself is
    what's certified."""
    from web_crawler_spark.operators.sketches import dds_quantiles, dds_sketch

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"), F.col("o_totalprice").alias("x")
    )
    sk = dds_sketch(o, "x", alpha=0.01, group_cols=("g",))
    return (
        dds_quantiles(sk, [0.5, 0.95, 0.99], alpha=0.01, group_cols=("g",))
        .withColumnRenamed("g", "o_orderpriority")
        .orderBy("o_orderpriority", "q")
    )


def _sql_dds_quantiles() -> str:
    import math as _m

    alpha = 0.01
    gamma = (1.0 + alpha) / (1.0 - alpha)
    lg = _m.log(gamma)
    return f"""
WITH b AS (
  SELECT o_orderpriority AS g,
         CAST(CEIL(ln(o_totalprice) / CAST({lg!r} AS DOUBLE)) AS BIGINT) AS bucket,
         COUNT(*) AS cnt
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1, 2
),
cum AS (
  SELECT g, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM b
),
qs AS (SELECT unnest(CAST([0.5, 0.95, 0.99] AS DOUBLE[])) AS q),
hit AS (
  SELECT g, q, MIN(bucket) AS bkt
  FROM cum CROSS JOIN qs
  WHERE cum >= FLOOR(q * (n - 1)) + 1
  GROUP BY g, q
)
SELECT g AS o_orderpriority, q,
       ROUND(2.0 * POWER(CAST({gamma!r} AS DOUBLE), CAST(bkt AS DOUBLE))
             / CAST({gamma + 1.0!r} AS DOUBLE), 6) AS est
FROM hit ORDER BY o_orderpriority, q
"""


def _q_kmv_epoch_overlap(spark, sf_dir):
    """KMV bottom-k set algebra between two crawl epochs
    (operators/sketches.py::kmv_*): epoch A and epoch B URL sets from
    disjoint event slices with a built-in overlap; the sketches answer
    |A|, |B|, |A∪B|, Jaccard, |A∩B| without re-scanning either epoch.
    The sketch is the k smallest distinct md5-48bit values — a pure
    function of each set — so the oracle replays the hashes, the
    union-merge, and every estimator output, sampling error included."""
    from web_crawler_spark.operators.sketches import kmv_set_ops, kmv_sketch

    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_id") % 8 < 4).select(
        F.concat(F.lit("p"), (F.col("event_id") % 4000).cast("string")).alias("url")
    )
    b = e.filter(F.col("event_id") % 8 >= 4).select(
        F.concat(
            F.lit("p"), ((F.col("event_id") % 4000) + 2000).cast("string")
        ).alias("url")
    )
    return kmv_set_ops(
        kmv_sketch(a, "url", k=256), kmv_sketch(b, "url", k=256), k=256
    )


def _sql_kmv_epoch_overlap() -> str:
    k = 256
    space = float(1 << 48)
    est = (
        "CASE WHEN (SELECT COUNT(*) FROM {s}) < {k} "
        "THEN CAST((SELECT COUNT(*) FROM {s}) AS DOUBLE) "
        "ELSE CAST({km1} AS DOUBLE) * {space!r} / (SELECT MAX(h) FROM {s}) END"
    )
    ea = est.format(s="sa", k=k, km1=k - 1, space=space)
    eb = est.format(s="sb", k=k, km1=k - 1, space=space)
    eu = est.format(s="lu", k=k, km1=k - 1, space=space)
    return f"""
WITH a AS (
  SELECT DISTINCT concat('p', CAST(event_id % 4000 AS VARCHAR)) AS url
  FROM events WHERE event_id % 8 < 4
), b AS (
  SELECT DISTINCT concat('p', CAST((event_id % 4000) + 2000 AS VARCHAR)) AS url
  FROM events WHERE event_id % 8 >= 4
), ha AS (
  SELECT TRY_CAST(concat('0x', substr(md5(concat('kmv:', url)), 1, 12))
                  AS BIGINT) AS h FROM a
), hb AS (
  SELECT TRY_CAST(concat('0x', substr(md5(concat('kmv:', url)), 1, 12))
                  AS BIGINT) AS h FROM b
), sa AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
sb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
lu AS (
  SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) ORDER BY h LIMIT {k}
),
counts AS (
  SELECT (SELECT COUNT(*) FROM lu) AS n_l,
         (SELECT COUNT(*) FROM lu
           WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)) AS n_both
)
SELECT ROUND({ea}, 6) AS distinct_a,
       ROUND({eb}, 6) AS distinct_b,
       ROUND({eu}, 6) AS union_est,
       ROUND(CAST(n_both AS DOUBLE) / CAST(n_l AS DOUBLE), 6) AS jaccard_est,
       ROUND(CAST(n_both AS DOUBLE) / CAST(n_l AS DOUBLE) * ({eu}), 6)
         AS intersect_est
FROM counts
"""


def _q_refresh_allocation(spark, sf_dir):
    """Freshness-optimal crawl-budget allocation (operators/snapshots.py::
    refresh_allocation, Cho & Garcia-Molina 2003 TODS): 15k pages with
    exact quarter-step change rates (incl. λ=0 never-changers and λ≫1
    fast changers), budget 30k crawls over ≤6 per page. The entire
    allocation — marginal gains, the global top-B cut through tie groups,
    per-page counts, resulting freshness — is replayed by the oracle; the
    abandon-the-fastest-changers optimum is certified value-for-value."""
    from web_crawler_spark.operators import snapshots as SN

    o = _t(spark, sf_dir, "orders")
    rates = o.select(
        F.concat(F.lit("u"), F.col("o_orderkey").cast("string")).alias("url"),
        ((F.col("o_orderkey") % 19) / F.lit(4.0)).alias("lambda_hat"),
    )
    return SN.refresh_allocation(rates, budget=30000, max_per_page=6).orderBy("url")


def _sql_refresh_allocation() -> str:
    fresh_c = (
        "CASE WHEN {c} <= 0 THEN 0.0 WHEN lambda_hat <= 0 THEN 1.0 "
        "ELSE ({c} / lambda_hat) * (1.0 - exp(-lambda_hat / {c})) END"
    )
    return f"""
WITH rates AS (
  SELECT concat('u', CAST(o_orderkey AS VARCHAR)) AS url,
         (o_orderkey % 19) / 4.0 AS lambda_hat
  FROM orders
),
inc AS (
  SELECT url, lambda_hat, c,
         ROUND(({fresh_c.format(c='c')}) - ({fresh_c.format(c='(c - 1)')}), 9) AS gain
  FROM rates CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS c)
),
ranked AS (
  SELECT url, c, ROW_NUMBER() OVER (ORDER BY gain DESC, url, c) AS rn
  FROM inc WHERE gain > 0
),
alloc AS (
  SELECT url, COUNT(*) AS crawls FROM ranked WHERE rn <= 30000 GROUP BY url
)
SELECT r.url, r.lambda_hat,
       CAST(COALESCE(a.crawls, 0) AS INT) AS crawls,
       ROUND(CASE WHEN COALESCE(a.crawls, 0) <= 0 THEN 0.0
                  WHEN r.lambda_hat <= 0 THEN 1.0
                  ELSE (COALESCE(a.crawls, 0) / r.lambda_hat)
                       * (1.0 - exp(-r.lambda_hat / COALESCE(a.crawls, 0)))
             END, 6) AS freshness
FROM rates r LEFT JOIN alloc a ON a.url = r.url
ORDER BY r.url
"""


def _q_incremental_dedup(spark, sf_dir):
    """Incremental dedup against a persisted signature index
    (operators/dedup.py::minhash_index + dedup_against_index): documents
    split 2:1 into an already-ingested corpus (index) and an arriving
    batch; every batch doc gets status/match_id/est_jaccard. The portable
    md5 path lets the oracle replay signatures, band keys, both candidate
    joins, the matching-component estimates, and the min-id match choice —
    the entire ingestion decision table is value-certified."""
    from web_crawler_spark.operators import dedup as DD

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = DD.minhash_index(
        d.filter(F.col("doc_id") % 3 != 0), n=5, k=8, portable_hash=True
    )
    out = DD.dedup_against_index(
        d.filter(F.col("doc_id") % 3 == 0),
        idx,
        n=5,
        k=8,
        bands=4,
        threshold=0.25,
        portable_hash=True,
    )
    return out.select("doc_id", "status", "match_id", "est_jaccard").orderBy(
        "doc_id"
    )


def _sql_incremental_dedup() -> str:
    k, bands, n, thr = 8, 4, 5, 0.25
    rows = k // bands
    sig_exprs = ",\n         ".join(
        f"list_min([md5(concat('s{i}:', g)) for g in grams]) AS s{i}"
        for i in range(k)
    )
    band_rows = ", ".join(
        f"({b}, md5(concat_ws('|', "
        + ", ".join(f"s{i}" for i in range(b * rows, (b + 1) * rows))
        + ")))"
        for b in range(bands)
    )
    est = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
  WHERE trim(text) <> ''
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+{n - 1}], ' ')
                        for i in range(1, greatest(len(w)-{n - 1}, 0) + 1)]) AS grams
  FROM toks
), nonempty AS (SELECT * FROM sh WHERE len(grams) > 0),
sigs AS (
  SELECT doc_id,
         {sig_exprs}
  FROM nonempty
), banded AS (
  SELECT doc_id, b.* FROM sigs,
  LATERAL (VALUES {band_rows}) AS b(band, band_sig)
), bn AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
bi AS (SELECT * FROM banded WHERE doc_id % 3 <> 0),
cand_i AS (
  SELECT DISTINCT n.doc_id AS nid, i.doc_id AS iid
  FROM bn n JOIN bi i ON n.band = i.band AND n.band_sig = i.band_sig
), est_i AS (
  SELECT nid, iid, ROUND(({est}) / {float(k)!r}, 6) AS est
  FROM cand_i JOIN sigs a ON a.doc_id = nid JOIN sigs b ON b.doc_id = iid
), dup_i AS (
  SELECT nid, iid, est FROM (
    SELECT nid, iid, est,
           ROW_NUMBER() OVER (PARTITION BY nid ORDER BY iid) AS rn
    FROM est_i WHERE est >= {thr}
  ) WHERE rn = 1
), cand_n AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bn x JOIN bn y
    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id
), est_n AS (
  SELECT cand_n.a, cand_n.b, ROUND(({est}) / {float(k)!r}, 6) AS est
  FROM cand_n JOIN sigs a ON a.doc_id = cand_n.a JOIN sigs b ON b.doc_id = cand_n.b
), dup_n AS (
  SELECT a, b, est FROM (
    SELECT a, b, est,
           ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rn
    FROM est_n WHERE est >= {thr}
  ) WHERE rn = 1
)
SELECT d.doc_id,
       CASE WHEN di.iid IS NOT NULL THEN 'dup_of_index'
            WHEN dn.a IS NOT NULL THEN 'dup_of_batch'
            ELSE 'kept' END AS status,
       COALESCE(di.iid, dn.a) AS match_id,
       CASE WHEN di.iid IS NOT NULL THEN di.est ELSE dn.est END AS est_jaccard
FROM (SELECT doc_id FROM nonempty WHERE doc_id % 3 = 0) d
LEFT JOIN dup_i di ON di.nid = d.doc_id
LEFT JOIN dup_n dn ON dn.b = d.doc_id
ORDER BY d.doc_id
"""


def _query_vector(spark, sf_dir) -> list[float]:
    emb = _t(spark, sf_dir, "embeddings")
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]


def _q_ann_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(emb, _query_vector(spark, sf_dir), k=10)


_SQL_ANN_COSINE = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(embedding::DOUBLE[], qv) /
             (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings, q
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def _q_rocchio(spark, sf_dir):
    """Rocchio dense pseudo-relevance feedback (operators/similarity.
    rocchio_topk): top-5 cosine feedback -> q' = 1.0*q + 0.75*centroid ->
    re-rank. The ENTIRE two-pass chain is oracle-exact: the oracle
    replays feedback selection (rounded-cosine order), the first-element-
    seeded left-fold centroid accumulation in the same IEEE order, the
    q' arithmetic and the re-ranking fold."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.rocchio_topk(
        emb, _query_vector(spark, sf_dir), k=10, fb=5, alpha=1.0, beta=0.75
    )


def _rocchio_sql() -> str:
    alpha, beta, fb, dim = 1.0, 0.75, 5, 64
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         ROUND(list_dot_product(embedding::DOUBLE[], qv) /
               (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                sqrt(list_dot_product(qv, qv))), 6) AS cosine
  FROM embeddings, q
),
fbrows AS (SELECT * FROM scored ORDER BY cosine DESC, vec_id LIMIT {fb}),
accv AS (
  SELECT list_reduce(list(v ORDER BY cosine DESC, vec_id),
                     (a, b) -> [a[i] + b[i] for i in range(1, {dim} + 1)]) AS acc,
         COUNT(*) AS n_fb
  FROM fbrows
),
qp AS (
  SELECT [{alpha} * qv[i] + {beta} * (acc[i] / n_fb) for i in range(1, {dim} + 1)] AS qpv
  FROM q, accv
)
SELECT s.vec_id,
       ROUND(list_dot_product(s.v, qpv) /
             (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(qpv, qpv))), 6) AS cosine
FROM scored s, qp
ORDER BY cosine DESC, s.vec_id
LIMIT 10"""


def _q_ann_int8(spark, sf_dir):
    """Int8-quantized brute-force top-k: embeddings stored as (scale,
    int8 codes) — 4× smaller at 10^10-vector scale — scored with exact
    integer dot products and one scale multiply per pair. The oracle
    replicates quantization (round half-away-from-zero) and the
    dequantized score bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    scale, codes = V.quantize_int8(F.col("embedding"))
    qz = emb.select("vec_id", scale.alias("scale"), codes.alias("codes"))
    q = qz.filter(F.col("vec_id") == 0).collect()[0]
    qs = float(q["scale"])
    qc = F.array(*[F.lit(int(c)) for c in q["codes"]])
    return (
        qz.select(
            "vec_id",
            F.round(
                V.dequant_dot(F.lit(qs), qc, F.col("scale"), F.col("codes")), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


_SQL_ANN_INT8 = """
WITH m AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) / 127.0 AS scale
  FROM embeddings
), z AS (
  SELECT vec_id, scale,
         list_transform(e, v -> CASE WHEN scale > 0
                                     THEN CAST(round(v / scale, 0) AS BIGINT)
                                     ELSE 0 END) AS codes
  FROM m
), q AS (SELECT scale AS qs, codes AS qc FROM z WHERE vec_id = 0)
SELECT z.vec_id,
       ROUND(q.qs * z.scale * CAST(list_sum(
         list_transform(range(1, len(z.codes) + 1), i -> z.codes[i] * q.qc[i])
       ) AS DOUBLE), 6) AS score
FROM z, q ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_embedding_dedup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(V.cosine(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.5)
        .orderBy("id_a", "id_b")
    )


_SQL_EMBEDDING_DEDUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4999995
ORDER BY id_a, id_b
"""


def _q_lang_quality_summary(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", T.token_count(F.col("text")).alias("n_tokens"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("lang")
    )


_SQL_LANG_QUALITY_SUMMARY = """
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END), 2) AS avg_tokens,
       ROUND(AVG(n_chars), 2) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
"""


# -- config-driven DSL / remaining scalar + set ops ---------------------------


def _q_transform_dsl(spark, sf_dir):
    from web_crawler_spark.plans import dsl

    e = _t(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("$"), (F.col("event_id") % 9000).cast("string"), F.lit(","),
        F.lpad((F.col("user_id") % 100).cast("string"), 2, "0"), F.lit("/oz"),
    )
    return e.select(
        "event_id",
        raw.alias("raw"),
        dsl.compile_transform(raw, "float").alias("as_float"),
        dsl.compile_transform(raw, "strip_currency").alias("stripped"),
        dsl.compile_transform(raw, "uppercase").alias("upper"),
    )


_SQL_TRANSFORM_DSL = """
WITH t AS (
  SELECT event_id,
         concat('$', CAST(event_id % 9000 AS VARCHAR), ',',
                lpad(CAST(user_id % 100 AS VARCHAR), 2, '0'), '/oz') AS raw
  FROM events
)
SELECT event_id, raw,
       CASE WHEN regexp_extract(replace(raw, ',', ''), '([0-9.]+)', 1) <> ''
            THEN regexp_extract(replace(raw, ',', ''), '([0-9.]+)', 1)
            ELSE raw END AS as_float,
       regexp_replace(raw, '[^0-9.,]', '', 'g') AS stripped,
       upper(raw) AS upper
FROM t
"""


def _q_regex_parser(spark, sf_dir):
    from web_crawler_spark.plans import dsl

    e = _t(spark, sf_dir, "events")
    body = F.concat(
        F.lit("item: A"), (F.col("event_id") % 50).cast("string"),
        F.lit(" price="), (F.col("user_id") % 500).cast("string"), F.lit(".25\n"),
        F.lit("item: B"), (F.col("event_id") % 7).cast("string"),
        F.lit(" price="), (F.col("user_id") % 9).cast("string"), F.lit(".75\n"),
    )
    df = e.select(
        F.concat(F.lit("u"), F.col("event_id").cast("string")).alias("url"),
        body.alias("body"),
    )
    return dsl.regex_parser_stage(df, r"item: (\w+) price=([\d.]+)", ["name", "price"])


_SQL_REGEX_PARSER = """
WITH t AS (
  SELECT concat('u', CAST(event_id AS VARCHAR)) AS url,
         concat('item: A', CAST(event_id % 50 AS VARCHAR), ' price=',
                CAST(user_id % 500 AS VARCHAR), '.25', chr(10),
                'item: B', CAST(event_id % 7 AS VARCHAR), ' price=',
                CAST(user_id % 9 AS VARCHAR), '.75', chr(10)) AS body
  FROM events
)
SELECT url, m[1] AS name, m[2] AS price FROM (
  SELECT url, unnest(list_zip(
           regexp_extract_all(body, 'item: (\\w+) price=([0-9.]+)', 1),
           regexp_extract_all(body, 'item: (\\w+) price=([0-9.]+)', 2))) AS m
  FROM t)
"""


def _q_css_selector(spark, sf_dir):
    """X9 CSS-selector extraction mode (generic_scraper.py:140-229):
    container select + per-field selector/attribute/regex/transform rules
    over synthesized HTML pages, via the mapInPandas CSS stage. The junk
    second row exercises the container filter; every third page omits the
    change cell (select_one miss → NULL field)."""
    from web_crawler_spark.plans.extract import css_config_stage

    # repartition the slim event rows BEFORE synthesizing html so the
    # python parse stage fans out across all cores (the tiny parquet scan
    # otherwise arrives in a handful of partitions and serializes the
    # mapInPandas work)
    e = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    change_cell = F.when(
        F.col("event_id") % 3 != 0,
        F.concat(
            F.lit("<td><span>+"), (F.col("user_id") % 90).cast("string"),
            F.lit("%</span></td>"),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<table><tbody><tr class="item"><td><a href="/sym'),
        F.col("event_id").cast("string"),
        F.lit('">name'), (F.col("event_id") % 50).cast("string"),
        F.lit('</a></td><td><span>$'), (F.col("event_id") % 9000).cast("string"),
        F.lit(","), F.lpad((F.col("user_id") % 100).cast("string"), 2, "0"),
        F.lit(".75</span></td>"), change_cell,
        F.lit("</tr><tr><td>junk header</td></tr></tbody></table>"),
    )
    pages = e.select(
        F.concat(F.lit("http://ex.com/"), F.col("event_id").cast("string")).alias("url"),
        html.alias("html"),
    )
    config = {
        "extraction": {
            "container": "tr.item",
            "fields": {
                "name": {"selector": "td:first-child a", "transform": "uppercase"},
                "href": {"selector": "td a", "attribute": "href"},
                "price": {
                    "selector": "td:nth-child(2) span",
                    "regex": r"\$([\d,\.]+)",
                    "transform": "float",
                },
                "change": "td:nth-child(3) span",
            },
        },
    }
    return css_config_stage(pages, config)


_SQL_CSS_SELECTOR = """
SELECT concat('http://ex.com/', CAST(event_id AS VARCHAR)) AS url,
       upper(concat('name', CAST(event_id % 50 AS VARCHAR))) AS name,
       concat('/sym', CAST(event_id AS VARCHAR)) AS href,
       concat(CAST(event_id % 9000 AS VARCHAR),
              lpad(CAST(user_id % 100 AS VARCHAR), 2, '0'), '.75') AS price,
       CASE WHEN event_id % 3 <> 0
            THEN concat('+', CAST(user_id % 90 AS VARCHAR), '%') END AS change
FROM events
"""


def _q_json_field_mapping(spark, sf_dir):
    from web_crawler_spark.plans import dsl

    e = _t(spark, sf_dir, "events")
    body = F.concat(
        F.lit('{"quotes": {"asset'), (F.col("event_id") % 25).cast("string"),
        F.lit('": {"usd": "'), (F.col("user_id") % 400).cast("string"),
        F.lit('.5", "chg": "'), (F.col("event_id") % 9).cast("string"),
        F.lit('"}}}'),
    )
    pages = e.select(
        F.concat(F.lit("u"), F.col("event_id").cast("string")).alias("url"),
        body.alias("body"),
    )
    cfg = {"json_path": "quotes",
           "field_mapping": {"name": "name", "current_price": "usd", "change_percent": "chg"}}
    return dsl.json_config_stage(pages, cfg)


_SQL_JSON_FIELD_MAPPING = """
WITH t AS (
  SELECT concat('u', CAST(event_id AS VARCHAR)) AS url,
         concat('asset', CAST(event_id % 25 AS VARCHAR)) AS name,
         concat(CAST(user_id % 400 AS VARCHAR), '.5') AS current_price,
         CAST(event_id % 9 AS VARCHAR) AS change_percent
  FROM events
)
SELECT url, name, current_price, change_percent FROM t
"""


def _q_union_all(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select(
        "event_id", F.lit("batch_a").alias("batch"), "value"
    )
    b = e.filter(F.col("value") > 400).select(
        "event_id", F.lit("batch_b").alias("batch"), "value"
    )
    return a.unionByName(b)


_SQL_UNION_ALL = """
SELECT event_id, 'batch_a' AS batch, value FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, 'batch_b' AS batch, value FROM events WHERE value > 400
"""


def _q_derive_change(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    amount = F.when(F.col("event_id") % 3 == 0, (F.col("event_id") % 70).cast("double") / 10.0)
    pct = F.when(F.col("event_id") % 5 == 0, (F.col("user_id") % 30).cast("double"))
    prev = F.when(F.col("event_id") % 4 != 0, (F.col("user_id") % 100 + 1).cast("double"))
    return e.select(
        "event_id",
        S.derive_change_percent(amount, pct, prev).alias("change_percent"),
    )


_SQL_DERIVE_CHANGE = """
WITH t AS (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN CAST(event_id % 70 AS DOUBLE) / 10.0 END AS amount,
         CASE WHEN event_id % 5 = 0 THEN CAST(user_id % 30 AS DOUBLE) END AS pct,
         CASE WHEN event_id % 4 <> 0 THEN CAST(user_id % 100 + 1 AS DOUBLE) END AS prev
  FROM events
)
SELECT event_id,
       CASE WHEN amount IS NOT NULL AND pct IS NULL AND prev IS NOT NULL AND prev <> 0
            THEN amount / prev * 100.0 ELSE pct END AS change_percent
FROM t
"""


def _q_spread_avg(spark, sf_dir):
    from web_crawler_spark.plans import report as R

    e = _t(spark, sf_dir, "events")
    bid = (F.col("event_id") % 40000).cast("double") / 100.0
    fx = e.select(
        bid.alias("mid_price"),
        bid.alias("bid_price"),
        ((1 + F.col("user_id") % 10).cast("double") / 100.0).alias("spread"),
    )
    return R.forex_report(fx)


_SQL_SPREAD_AVG = """
WITH t AS (
  SELECT CAST(event_id % 40000 AS DOUBLE) / 100.0 AS mid_price,
         CAST(1 + user_id % 10 AS DOUBLE) / 100.0 AS spread
  FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
       ROUND(MAX(mid_price), 6) AS max_price,
       ROUND(MIN(mid_price), 6) AS min_price,
       ROUND(AVG(mid_price), 6) AS avg_price,
       ROUND(AVG(spread), 4) AS avg_spread
FROM t
"""


def _q_seed_expansion(spark, sf_dir):
    """F1: multi-URL sources get _{i+1} name suffixes (simple_generic.py:
    32-53); single-URL sources keep the bare name."""
    e = _t(spark, sf_dir, "events")
    src = e.select(
        F.concat(F.lit("source_"), (F.col("user_id") % 40).cast("string")).alias("source"),
        F.concat(F.lit("https://h"), (F.col("user_id") % 40).cast("string"),
                 F.lit(".com/"), F.col("event_id").cast("string")).alias("url"),
    ).dropDuplicates(["source", "url"])
    w = Window.partitionBy("source").orderBy("url")
    cnt = Window.partitionBy("source")
    return src.select(
        "url",
        F.when(
            F.count(F.lit(1)).over(cnt) > 1,
            F.concat(F.col("source"), F.lit("_"), F.row_number().over(w).cast("string")),
        ).otherwise(F.col("source")).alias("name"),
        F.row_number().over(w).cast("int").alias("priority"),
    )


_SQL_SEED_EXPANSION = """
WITH src AS (
  SELECT DISTINCT concat('source_', CAST(user_id % 40 AS VARCHAR)) AS source,
         concat('https://h', CAST(user_id % 40 AS VARCHAR), '.com/',
                CAST(event_id AS VARCHAR)) AS url
  FROM events
)
SELECT url,
       CASE WHEN COUNT(*) OVER (PARTITION BY source) > 1
            THEN concat(source, '_', CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY url) AS VARCHAR))
            ELSE source END AS name,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY url) AS INT) AS priority
FROM src
"""


def _q_format_checks(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    url = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.lit("https://ok"), F.col("event_id").cast("string"), F.lit(".com/p")),
    ).otherwise(F.lit("not a url"))
    num = F.when(F.col("event_id") % 2 == 0, F.concat((F.col("event_id") % 900).cast("string"), F.lit(",5"))).otherwise(F.lit("x9"))
    return e.select(
        "event_id",
        S.is_valid_url(url).cast("int").alias("url_ok"),
        S.is_numeric_string(num).cast("int").alias("num_ok"),
    )


_SQL_FORMAT_CHECKS = """
SELECT event_id,
       CAST(event_id % 3 = 0 AS INT) AS url_ok,
       CAST(event_id % 2 = 0 AS INT) AS num_ok
FROM events
"""


def _q_standardize_name(spark, sf_dir):
    names = ["Oil (WTI)", "Oil (Brent)", "Natural Gas", "RBOB Gasoline",
             "Heating Oil", "Live Cattle", "Lean Hog", "Feeder Cattle",
             "Gold", "Random  Thing"]
    e = _t(spark, sf_dir, "events")
    raw = F.element_at(
        F.array(*[F.lit(n) for n in names]), (F.col("event_id") % 10 + 1).cast("int")
    )
    return e.select("event_id", raw.alias("raw_name"), S.standardize_name(raw).alias("name"))


_SQL_STANDARDIZE_NAME = """
WITH t AS (
  SELECT event_id,
         ['Oil (WTI)','Oil (Brent)','Natural Gas','RBOB Gasoline','Heating Oil',
          'Live Cattle','Lean Hog','Feeder Cattle','Gold','Random  Thing'][event_id % 10 + 1] AS raw_name
  FROM events
)
SELECT event_id, raw_name,
  CASE trim(regexp_replace(raw_name, '\\s+', ' ', 'g'))
    WHEN 'Oil (WTI)' THEN 'WTI原油'
    WHEN 'Oil (Brent)' THEN '布伦特原油'
    WHEN 'Natural Gas' THEN '天然气'
    WHEN 'Natural Gas (Henry Hub)' THEN '天然气'
    WHEN 'RBOB Gasoline' THEN 'RBOB汽油'
    WHEN 'Heating Oil' THEN '取暖油'
    WHEN 'Live Cattle' THEN '活牛'
    WHEN 'Lean Hog' THEN '瘦肉猪'
    WHEN 'Feeder Cattle' THEN '饲料牛'
    ELSE trim(regexp_replace(raw_name, '\\s+', ' ', 'g'))
  END AS name
FROM t
"""


def _q_robots_filter(spark, sf_dir):
    """RFC 9309 longest-match allow/disallow over a synthesized frontier."""
    from web_crawler_spark.operators import robots as RB

    e = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), (F.col("user_id") % 4).cast("string"), F.lit(".com"))
    path = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.lit("/private/"), F.col("event_id").cast("string")),
    ).when(
        F.col("event_id") % 3 == 1,
        F.concat(F.lit("/private/annex/"), F.col("event_id").cast("string")),
    ).otherwise(F.concat(F.lit("/pub/"), F.col("event_id").cast("string")))
    frontier = e.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("canonical_url"),
        F.col("event_id"),
    )
    robots_txt = "User-agent: *\nDisallow: /private/\nAllow: /private/annex/\n"
    robots_pages = frontier.sparkSession.createDataFrame(
        [(f"h{i}.com", robots_txt) for i in range(2)], "host string, body string"
    )  # h0/h1 have rules; h2/h3 have none
    rules = RB.parse_robots(robots_pages)
    return RB.apply_robots(frontier, rules, "anybot").select(
        "event_id", "host", "canonical_url"
    )


def _q_politeness_per_host_delay(spark, sf_dir):
    """F3 generalized to robots Crawl-delay: hosts h0/h1 publish 1.5 s /
    3 s Crawl-delays (parsed from real robots.txt bytes), h2/h3 fall back
    to the 2 s default; the closed-form per-host schedule is certified at
    millisecond precision."""
    from web_crawler_spark.operators import robots as RB

    e = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), (F.col("user_id") % 4).cast("string"), F.lit(".com"))
    frontier = e.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 F.col("event_id").cast("string")).alias("url"),
        F.col("event_id").alias("priority"),
    )
    robots_pages = spark.createDataFrame(
        [("h0.com", "User-agent: *\nCrawl-delay: 1.5\nDisallow: /x/\n"),
         ("h1.com", "User-agent: *\nCrawl-delay: 3\n")],
        "host string, body string",
    )
    delays = RB.crawl_delays(RB.parse_robots(robots_pages), "anybot", 2.0)
    sched = RB.politeness_schedule_with_delays(
        frontier, F.lit("2025-07-22 09:00:00").cast("timestamp"), delays, 2.0
    )
    return sched.select("host", "seq", "url", "delay_seconds", "scheduled_ts")


_SQL_POLITENESS_PER_HOST = """
WITH frontier AS (
  SELECT concat('h', CAST(user_id % 4 AS VARCHAR), '.com') AS host,
         concat('https://h', CAST(user_id % 4 AS VARCHAR), '.com/p/',
                CAST(event_id AS VARCHAR)) AS url,
         event_id AS priority
  FROM events
), ordered AS (
  SELECT host, url,
         CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, url) AS INT)
           AS seq
  FROM frontier
)
SELECT host, seq, url,
       CAST(CASE host WHEN 'h0.com' THEN 1.5 WHEN 'h1.com' THEN 3.0
            ELSE 2.0 END AS DOUBLE) AS delay_seconds,
       TIMESTAMP '2025-07-22 09:00:00'
         + CAST((seq - 1) * CASE host WHEN 'h0.com' THEN 1.5
                                      WHEN 'h1.com' THEN 3.0
                                      ELSE 2.0 END * 1000 AS BIGINT)
           * INTERVAL 1 MILLISECOND AS scheduled_ts
FROM ordered
"""


def _q_robots_wildcards(spark, sf_dir):
    """RFC 9309 §2.2.3 special characters: '*' mid-pattern runs and the
    trailing '$' end anchor — Disallow: /*.pdf$ must block exactly the
    .pdf-final paths and /tmp*/x exactly the /tmp…/x paths; the oracle
    states the construction's ground truth."""
    from web_crawler_spark.operators import robots as RB

    e = _t(spark, sf_dir, "events")
    host = F.lit("w.com")
    v = F.col("event_id") % 4
    path = (
        F.when(v == 0, F.concat(F.lit("/f/"), F.col("event_id").cast("string"),
                                F.lit(".pdf")))
        .when(v == 1, F.concat(F.lit("/f/"), F.col("event_id").cast("string"),
                               F.lit(".pdfmore")))
        .when(v == 2, F.concat(F.lit("/tmp"), F.col("event_id").cast("string"),
                               F.lit("/x")))
        .otherwise(F.concat(F.lit("/tmp"), F.col("event_id").cast("string"),
                            F.lit("/y")))
    )
    frontier = e.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("canonical_url"),
        "event_id",
    )
    robots_pages = spark.createDataFrame(
        [("w.com", "User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp*/x\n")],
        "host string, body string",
    )
    rules = RB.parse_robots(robots_pages)
    return RB.apply_robots(frontier, rules, "anybot").select(
        "event_id", "canonical_url"
    ).orderBy("event_id")


_SQL_ROBOTS_WILDCARDS = """
SELECT event_id,
       concat('https://w.com',
              CASE WHEN event_id % 4 = 1
                   THEN concat('/f/', CAST(event_id AS VARCHAR), '.pdfmore')
                   ELSE concat('/tmp', CAST(event_id AS VARCHAR), '/y') END)
         AS canonical_url
FROM events
WHERE event_id % 4 IN (1, 3)
ORDER BY event_id
"""


_SQL_ROBOTS_FILTER = """
WITH frontier AS (
  SELECT event_id,
         concat('h', CAST(user_id % 4 AS VARCHAR), '.com') AS host,
         CASE WHEN event_id % 3 = 0 THEN concat('/private/', CAST(event_id AS VARCHAR))
              WHEN event_id % 3 = 1 THEN concat('/private/annex/', CAST(event_id AS VARCHAR))
              ELSE concat('/pub/', CAST(event_id AS VARCHAR)) END AS path
  FROM events
)
SELECT event_id, host,
       concat('https://', host, path) AS canonical_url
FROM frontier
WHERE host IN ('h2.com', 'h3.com')            -- no robots → allowed
   OR event_id % 3 = 1                        -- /private/annex/ allow override
   OR event_id % 3 = 2                        -- /pub/ unmatched → allowed
"""


# -- rows-only queries (no SQL-expressible oracle) ---------------------------


def _q_host_distinct_hll(spark, sf_dir):
    """Per-host distinct-URL HLL sketches (DataSketches via
    hll_sketch_agg) over the skewed frontier, plus the cross-epoch
    union estimate — crawl telemetry that never rescans history.
    Oracle form (error-bound twin): the raw estimates are
    engine-specific, so the certified frame carries the EXACT per-host
    distinct count (computed in-engine, replayed by the oracle's
    COUNT(DISTINCT)) plus two in-engine-verified booleans the oracle
    pins to TRUE — the estimate lands within 25‰ of exact (DataSketches
    lg_k=12 bounds ~2.5%; observed ~0.7% on this fixture) and the
    one-epoch union estimate equals the per-epoch estimate (sketch
    merge identity). A sketch regression flips a boolean and
    hash-fails; the raw-estimate view stays pinned by pytest."""
    from web_crawler_spark.operators.aggregate import (
        host_distinct_sketch,
        merge_host_sketches,
    )

    e = _t(spark, sf_dir, "events")
    hot = F.when(F.col("event_id") % 5 == 0, 0).otherwise(F.col("user_id") % 20)
    frontier = e.select(
        F.concat(F.lit("h"), hot.cast("string")).alias("host"),
        F.concat(F.lit("https://h"), hot.cast("string"), F.lit("/p/"),
                 F.col("event_id").cast("string")).alias("url"),
    )
    sk = host_distinct_sketch(frontier).withColumn("epoch", F.lit(1))
    exact = frontier.groupBy("host").agg(
        F.countDistinct("url").cast("long").alias("n_urls_exact")
    )
    return (
        merge_host_sketches(sk)
        .join(sk.select("host", "est_distinct"), "host")
        .join(exact, "host")
        .select(
            "host",
            "n_urls_exact",
            (
                F.abs(F.col("est_distinct") - F.col("n_urls_exact")) * 1000
                <= F.lit(25) * F.col("n_urls_exact")
            ).alias("est_within_25_milli"),
            (F.col("est_distinct") == F.col("est_distinct_all_epochs"))
            .alias("merge_consistent"),
        )
        .orderBy("host")
    )


_SQL_HOST_DISTINCT_HLL = """
WITH f AS (
  SELECT concat('h', CAST(CASE WHEN event_id % 5 = 0 THEN 0
                          ELSE user_id % 20 END AS VARCHAR)) AS host,
         concat('https://h',
                CAST(CASE WHEN event_id % 5 = 0 THEN 0
                     ELSE user_id % 20 END AS VARCHAR),
                '/p/', CAST(event_id AS VARCHAR)) AS url
  FROM events
)
SELECT host,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls_exact,
       TRUE AS est_within_25_milli,
       TRUE AS merge_consistent
FROM f GROUP BY host ORDER BY host
"""


def _q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs over documents. Honesty note on recall: the
    4×16-bit pigeonhole blocking GUARANTEES completeness only for hamming
    ≤ 3; at max_hamming=18 the blocking is an LSH-style candidate filter
    (pairs disagreeing on all 4 sub-keys are not generated) — i.e. this
    operator is "pairs within hamming 18 that share a 16-bit quarter",
    the standard simhash-at-scale trade. Exact-regime (≤3) behavior is
    pinned by test_trainops.py::test_simhash_hamming."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash_dedup_pairs(d, "text", "doc_id", max_hamming=18).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# Oracle-checked approximate-similarity queries.
#
# LSH planes, centroid picks and codebook picks in operators/similarity.py
# all derive from md5 (computable verbatim by the DuckDB oracle), so the
# exact bucket/probe/pair sets of the one execution path are certified,
# not just "ran clean". The `_md5` suffix names this property.
# ---------------------------------------------------------------------------

_ANN_N_PLANES = 6  # auto_n_planes(500 vectors at sf0.01) — pinned so the
#                    oracle SQL (a static string) agrees with the plan


def _q_ann_lsh_md5(spark, sf_dir):
    """lsh_topk with md5-parity planes: probe = query bucket + rank-1
    multiprobe (hamming<=1 on bucket bits)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.lsh_topk(
        emb, _query_vector(spark, sf_dir), k=10, n_planes=_ANN_N_PLANES
    )


def _sql_cosine(vec_a: str, vec_b: str) -> str:
    return (
        f"list_dot_product({vec_a}, {vec_b}) / "
        f"(sqrt(list_dot_product({vec_a}, {vec_a})) * "
        f"sqrt(list_dot_product({vec_b}, {vec_b})))"
    )


def _sql_ann_lsh_md5() -> str:
    bucket = V.duckdb_lsh_bucket_sql("embedding", _ANN_N_PLANES)
    cos = _sql_cosine("embedding::DOUBLE[]", "qv")
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
q AS (SELECT embedding::DOUBLE[] AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id, ROUND({cos}, 6) AS cosine
FROM b, q
WHERE bit_count(xor(CAST(b.bucket AS BIGINT), CAST(q.qbucket AS BIGINT))) <= 1
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def _q_embedding_lsh_pairs_md5(spark, sf_dir):
    """The SCALE path for embedding near-dup: LSH-bucketed candidates +
    exact cosine verify (no all-pairs join) over the dup-injected corpus
    (every 7th embedding re-inserted under id+10^6; identical vectors
    always share a bucket) — the exact LSH-bucketed candidate set is
    oracle-reproduced."""
    emb = _t(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") % 7 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    corpus = emb.unionByName(dup)
    return SIM.pairwise_cosine_dedup(
        corpus, threshold=0.999, n_planes=_ANN_N_PLANES
    ).orderBy("id_a", "id_b")


def _sql_embedding_lsh_pairs_md5() -> str:
    bucket = V.duckdb_lsh_bucket_sql("embedding", _ANN_N_PLANES)
    cos = _sql_cosine("a.embedding::DOUBLE[]", "b2.embedding::DOUBLE[]")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0
),
b AS (SELECT vec_id AS id, embedding, {bucket} AS bucket FROM corpus)
SELECT a.id AS id_a, b2.id AS id_b, ROUND({cos}, 6) AS cosine
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
WHERE {cos} >= 0.9989995
ORDER BY id_a, id_b
"""


def _q_ann_ivf_md5(spark, sf_dir):
    """ivf_topk with md5-ordered centroid pick and round-6 distances — the
    argmin assignment (zero-join array expression) and probe set are
    reproduced exactly by the SQL oracle's correlated argmin."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, _query_vector(spark, sf_dir), k=10)


def _sql_ann_ivf_md5(n_centroids: int = 16, n_probe: int = 4, seed: int = 42) -> str:
    l2_to_q = (
        "round(sqrt(list_sum(list_transform(range(1, len(cvec) + 1), "
        "i -> power(cvec[i] - qv[i], 2)))), 6)"
    )
    l2_assign = (
        "round(sqrt(list_sum(list_transform(range(1, len(c.cvec) + 1), "
        "i -> power(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i], 2)))), 6)"
    )
    cos = _sql_cosine("a.embedding::DOUBLE[]", "qv")
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings
  ORDER BY md5(concat('ivf{seed}:', CAST(vec_id AS VARCHAR))), vec_id
  LIMIT {n_centroids}
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT cid FROM cent, q
  ORDER BY {l2_to_q}, cid
  LIMIT {n_probe}
),
dists AS (
  -- correlated lambdas are unsupported; flatten to a cross join (500×16 at
  -- sf0.01 — oracle-only, the Spark plan stays the zero-join argmin)
  SELECT e.vec_id, e.embedding, c.cid, {l2_assign} AS d
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, embedding, cid
  FROM (SELECT vec_id, embedding, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dists)
  WHERE rn = 1
)
SELECT a.vec_id, ROUND({cos}, 6) AS cosine
FROM assigned a, q
WHERE a.cid IN (SELECT cid FROM probes)
ORDER BY cosine DESC, a.vec_id LIMIT 10
"""


def _q_ann_pq_md5(spark, sf_dir):
    """Product-quantization ADC top-k (Jégou et al. 2011) with md5-picked
    codebooks: per-subspace argmin codes, codeword reconstruction, and
    the round-6 ADC distance are all reproduced exactly by the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.pq_topk(emb, _query_vector(spark, sf_dir), k=10, m=8, n_codes=16)


def _sql_ann_pq_md5(m: int = 8, n_codes: int = 16, seed: int = 77, dim: int = 64) -> str:
    dsub = dim // m
    sub_l2 = (
        f"round(sqrt(list_sum(list_transform(range(1, {dsub} + 1), "
        f"i -> power(CAST(e.embedding[subs.s * {dsub} + i] AS DOUBLE) "
        f"- c.cvec[subs.s * {dsub} + i], 2)))), 6)"
    )
    adc = (
        f"round(sqrt(list_sum(list_transform(range(1, {dim} + 1), "
        f"i -> power(q.qv[i] - f.rv[i], 2)))), 6)"
    )
    return f"""
WITH picked AS (
  SELECT embedding::DOUBLE[] AS cvec,
         row_number() OVER (
           ORDER BY md5(concat('pq{seed}:', CAST(vec_id AS VARCHAR))), vec_id
         ) - 1 AS code
  FROM embeddings
  ORDER BY md5(concat('pq{seed}:', CAST(vec_id AS VARCHAR))), vec_id
  LIMIT {n_codes}
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
subs AS (SELECT unnest(range(0, {m})) AS s),
dists AS (
  SELECT e.vec_id, subs.s, c.code, {sub_l2} AS d
  FROM embeddings e CROSS JOIN subs CROSS JOIN picked c
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
    FROM dists)
  WHERE rn = 1
),
recon AS (
  SELECT codes.vec_id, codes.s,
         c.cvec[codes.s * {dsub} + 1 : codes.s * {dsub} + {dsub}] AS piece
  FROM codes JOIN picked c ON c.code = codes.code
),
flat AS (
  SELECT vec_id, flatten(list(piece ORDER BY s)) AS rv
  FROM recon GROUP BY vec_id
)
SELECT f.vec_id, {adc} AS adc_dist
FROM flat f, q
ORDER BY adc_dist, f.vec_id LIMIT 10
"""


def _q_semdedup_md5(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) with md5-picked centroids: cluster
    assignment, within-cluster cosine pruning at 0.35, and every row's
    (cid, is_dup) verdict are reproduced exactly by the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.semdedup(emb, n_clusters=12, threshold=0.35).orderBy("vec_id")


def _sql_semdedup_md5(n_clusters: int = 12, threshold: float = 0.35,
                      seed: int = 91) -> str:
    l2_assign = (
        "round(sqrt(list_sum(list_transform(range(1, len(c.cvec) + 1), "
        "i -> power(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i], 2)))), 6)"
    )
    cos = _sql_cosine("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")
    return f"""
WITH cent AS (
  SELECT embedding::DOUBLE[] AS cvec,
         row_number() OVER (
           ORDER BY md5(concat('sdd{seed}:', CAST(vec_id AS VARCHAR))), vec_id
         ) - 1 AS cid
  FROM embeddings
  ORDER BY md5(concat('sdd{seed}:', CAST(vec_id AS VARCHAR))), vec_id
  LIMIT {n_clusters}
), dists AS (
  SELECT e.vec_id, e.embedding, c.cid, {l2_assign} AS d
  FROM embeddings e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dists)
  WHERE rn = 1
), dups AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id > b.vec_id
  WHERE ROUND({cos}, 6) >= {threshold}
)
SELECT a.vec_id, a.cid, (d.vec_id IS NOT NULL) AS is_dup
FROM assigned a LEFT JOIN dups d ON d.vec_id = a.vec_id
ORDER BY a.vec_id
"""


def _q_knn_join(spark, sf_dir):
    """Batch k-NN: top-3 cosine neighbors of EVERY embedding (brute-force
    block-nested-loop + per-query top-k window — the exact baseline whose
    output contract knn_join_lsh reproduces at scale)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.knn_join(emb, k=3).orderBy("vec_id", F.desc("cosine"), "nb_id")


_SQL_KNN_JOIN = f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.vec_id, b.vec_id AS nb_id,
         ROUND({{cos}}, 6) AS cosine
  FROM c a JOIN c b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, nb_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nb_id) AS rnk
  FROM scored
)
SELECT vec_id, nb_id, cosine FROM ranked WHERE rnk <= 3
ORDER BY vec_id, cosine DESC, nb_id
""".format(cos=_sql_cosine("a.v", "b.v"))


def _q_knn_join_lsh_md5(spark, sf_dir):
    """LSH-bucketed batch k-NN with md5-parity planes: every vector probes
    its own bucket + rank-1 bit flips; the exact candidate and top-k sets
    are oracle-reproduced."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.knn_join_lsh(emb, k=3, n_planes=_ANN_N_PLANES).orderBy(
        "vec_id", F.desc("cosine"), "nb_id"
    )


def _sql_knn_join_lsh_md5(k: int = 3) -> str:
    bucket = V.duckdb_lsh_bucket_sql("embedding", _ANN_N_PLANES)
    cos = _sql_cosine("q.v", "c.v")
    probes = ", ".join(
        ["(bucket)"] + [f"(xor(bucket, {1 << p}))" for p in range(_ANN_N_PLANES)]
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bucket FROM embeddings
),
probes AS (
  SELECT vec_id, v, p.pb AS bucket
  FROM b, LATERAL (VALUES {probes}) AS p(pb)
),
cand AS (
  SELECT DISTINCT q.vec_id, c.vec_id AS nb_id, ROUND({cos}, 6) AS cosine
  FROM probes q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT vec_id, nb_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nb_id) AS rnk
  FROM cand
)
SELECT vec_id, nb_id, cosine FROM ranked WHERE rnk <= {k}
ORDER BY vec_id, cosine DESC, nb_id
"""


def _q_bitext_margin(spark, sf_dir):
    """Margin-based parallel-text mining (Artetxe & Schwenk 2019 — the
    LASER/CCMatrix pipeline op): embeddings split into two 'languages' by
    vec_id parity; each side nominates its best ratio-margin partner over
    its 4-NN in the other side (margin = cosine over the mean of both
    neighborhoods' cosines — hubness-corrected); union thresholded at
    1.05. Neighbor lists, IEEE margin folds, nominations, and the final
    pair set are all oracle-reproduced exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.filter(F.col("vec_id") % 2 == 0)
    y = emb.filter(F.col("vec_id") % 2 == 1)
    return SIM.bitext_margin_pairs(x, y, k=4, threshold=1.05).orderBy(
        "x_id", "y_id"
    )


def _sql_bitext_margin(k: int = 4, threshold: float = 1.05) -> str:
    cos = _sql_cosine("a.v", "b.v")
    return f"""
WITH xs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 0
),
ys AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 1
),
xy AS (
  SELECT vec_id, nb_id, cosine FROM (
    SELECT a.vec_id, b.vec_id AS nb_id, ROUND({cos}, 6) AS cosine,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY ROUND({cos}, 6) DESC, b.vec_id) AS rnk
    FROM xs a JOIN ys b ON TRUE)
  WHERE rnk <= {k}
),
yx AS (
  SELECT vec_id, nb_id, cosine FROM (
    SELECT a.vec_id, b.vec_id AS nb_id, ROUND({cos}, 6) AS cosine,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY ROUND({cos}, 6) DESC, b.vec_id) AS rnk
    FROM ys a JOIN xs b ON TRUE)
  WHERE rnk <= {k}
),
ax AS (
  SELECT vec_id AS x_id,
         list_reduce(list(cosine ORDER BY cosine DESC, nb_id),
                     (p, q) -> p + q) / count(*) AS ax
  FROM xy GROUP BY vec_id
),
ay AS (
  SELECT vec_id AS y_id,
         list_reduce(list(cosine ORDER BY cosine DESC, nb_id),
                     (p, q) -> p + q) / count(*) AS ay
  FROM yx GROUP BY vec_id
),
fwd AS (
  SELECT x_id, y_id, cosine, margin FROM (
    SELECT t.vec_id AS x_id, t.nb_id AS y_id, t.cosine,
           ROUND(t.cosine / ((ax.ax + ay.ay) / 2.0), 6) AS margin,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY ROUND(t.cosine / ((ax.ax + ay.ay) / 2.0), 6) DESC,
                                       t.nb_id) AS rnk
    FROM xy t JOIN ax ON ax.x_id = t.vec_id JOIN ay ON ay.y_id = t.nb_id)
  WHERE rnk = 1
),
bwd AS (
  SELECT x_id, y_id, cosine, margin FROM (
    SELECT t.nb_id AS x_id, t.vec_id AS y_id, t.cosine,
           ROUND(t.cosine / ((ax.ax + ay.ay) / 2.0), 6) AS margin,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY ROUND(t.cosine / ((ax.ax + ay.ay) / 2.0), 6) DESC,
                                       t.nb_id) AS rnk
    FROM yx t JOIN ax ON ax.x_id = t.nb_id JOIN ay ON ay.y_id = t.vec_id)
  WHERE rnk = 1
)
SELECT DISTINCT x_id, y_id, cosine, margin
FROM (SELECT * FROM fwd UNION ALL SELECT * FROM bwd)
WHERE margin >= {threshold}
ORDER BY x_id, y_id
"""


def _q_bitext_margin_fast(spark, sf_dir):
    """The 100 TB bitext path: cross-set LSH k-NN (Arrow sign-projection
    bucketing, auto-scaled planes, multiprobe) feeding the same margin
    algebra — the exact `ann_bitext_margin` is the recall oracle;
    rows-only here (approximate neighbor sets by design)."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.filter(F.col("vec_id") % 2 == 0)
    y = emb.filter(F.col("vec_id") % 2 == 1)
    nxy = SIM.knn_join_lsh(y, k=4, queries=x)
    nyx = SIM.knn_join_lsh(x, k=4, queries=y)
    return SIM.bitext_margin_pairs(
        x, y, k=4, threshold=1.05, neighbors_xy=nxy, neighbors_yx=nyx
    ).orderBy("x_id", "y_id")


# The xxhash64 twins of the md5-certified dedup legs, tuned as in
# production near-dup dedup: 4-row bands -> P(candidate) ~ 1-(1-J^4)^4, a
# steep S-curve around J~0.5. Rows-only: xxhash64 signatures have no
# DuckDB equivalent.
def _q_minhash_lsh_fast(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, n=5, k=16, bands=4, threshold=0.5)


def _q_knn_join_lsh_fast(spark, sf_dir):
    """Batch k-NN with auto-sized LSH planes (rows-only: the plane count
    follows the corpus size)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.knn_join_lsh(emb, k=3)


def _q_dedup_clusters_fast(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, n=5, k=16, bands=4, threshold=0.5)
    return D.dedup_clusters(pairs, docs=d)


def _q_incremental_dedup_fast(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    idx = D.minhash_index(d.filter("doc_id % 3 != 0"), n=5, k=16)
    return D.dedup_against_index(
        d.filter("doc_id % 3 = 0"), idx, n=5, k=16, bands=4, threshold=0.5
    )


def _q_ann_pq_trained(spark, sf_dir):
    """PQ ADC top-k over Lloyd's-TRAINED codebooks (per-subspace k-means,
    one fused shuffle per iteration). Oracle form (property twin): float
    mean accumulation order makes the trained codebooks themselves
    engine-specific, so the certified frame is the one-row property
    summary the oracle pins — exactly k results, every id a real corpus
    vector, ADC distances non-decreasing in rank order, the query's own
    vector ranked first (its reconstruction is nearest on this fixture),
    and recall@10 vs the exact cosine top-k of at least 200‰ (measured
    300‰; the ADC index must keep surfacing true neighbors). Any ADC/
    encode/rank regression flips a flag and hash-fails; codebook
    quantization-error reduction stays pinned by pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    books = SIM.pq_train(emb, m=8, n_codes=16, iters=2)
    res = SIM.pq_topk(emb, qv, k=10, codebooks=books)
    exact = SIM.cosine_topk(emb, qv, k=10).select(
        F.col("vec_id").alias("evid")
    )
    w = Window.orderBy("adc_dist", "vec_id")
    r = (
        res.withColumn("rk", F.row_number().over(w))
        .withColumn("prev", F.lag("adc_dist").over(w))
    )
    corpus_ids = emb.select(F.col("vec_id").alias("cid"))
    joined = (
        r.join(corpus_ids, r["vec_id"] == corpus_ids["cid"], "left")
        .join(exact, r["vec_id"] == exact["evid"], "left")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_results"),
        (F.count(F.lit(1)) == 10).alias("has_k"),
        (F.count("cid") == F.count(F.lit(1))).alias("all_ids_in_corpus"),
        F.coalesce(
            F.min(F.col("prev").isNull() | (F.col("adc_dist") >= F.col("prev"))),
            F.lit(True),
        ).alias("adc_nondecreasing"),
        F.coalesce(
            F.max(F.when(F.col("rk") == 1, F.col("vec_id") == 0)), F.lit(False)
        ).alias("query_ranked_first"),
        (F.count("evid") * 100 >= F.lit(2) * F.count(F.lit(1)))
        .alias("recall_ge_200_milli"),
    )


_SQL_ANN_PQ_TRAINED = """
SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS has_k,
       TRUE AS all_ids_in_corpus, TRUE AS adc_nondecreasing,
       TRUE AS query_ranked_first, TRUE AS recall_ge_200_milli
"""


def _q_ann_ivf_trained(spark, sf_dir):
    """IVF top-k over kmeans-TRAINED centroids (distributed Lloyd's:
    argmin assignment + posexplode mean update), probed EXHAUSTIVELY
    (n_probe = n_centroids). Oracle form (equivalence invariant): with
    every bucket probed the trained index must return EXACTLY the
    brute-force cosine top-k whatever the training produced — argmin
    assignment places each vector in exactly one bucket, the probe set
    covers all buckets, so any divergence (a vector dropped or
    double-counted by assignment, probe-set union bugs, rank-order
    drift) hash-fails against the exact-scan oracle. The partial-probe
    speed path is certified separately via ann_ivf_topk_md5; trained-
    centroid recall-vs-bruteforce stays pinned by pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = SIM.kmeans_centroids(emb, n_centroids=8, iters=3)
    return SIM.ivf_topk(
        emb, _query_vector(spark, sf_dir), k=10, centroids=cents, n_probe=8
    )


def _q_simhash_pairs_md5(spark, sf_dir):
    """simhash_dedup_pairs portable twin: 60-bit md5 token hashes, 4×15-bit
    pigeonhole blocks — the one-pass Arrow vote kernel runs the same, and
    the DuckDB oracle rebuilds the identical simhash + candidate blocking."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash_dedup_pairs(
        d, "text", "doc_id", max_hamming=17, portable=True
    ).orderBy("id_a", "id_b")


def _sql_simhash_pairs_md5(max_hamming: int = 17) -> str:
    bit_terms = " + ".join(
        f"CASE WHEN 2 * coalesce(list_sum(list_transform(h, x -> (x >> {b}) & 1)), 0)"
        f" - len(h) > 0 THEN {1 << b} ELSE 0 END"
        for b in range(60)
    )
    block_cond = " OR ".join(
        f"((a.simhash >> {k * 15}) & 32767) = ((b.simhash >> {k * 15}) & 32767)"
        for k in range(4)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
    CASE WHEN text IS NULL OR trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
         ELSE list_distinct(string_split_regex(trim(lower(text)), '\\s+')) END AS tk
  FROM documents
),
hs AS (
  SELECT doc_id,
    list_transform(tk, t -> TRY_CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS h
  FROM toks
),
sh AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM hs)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE ({block_cond})
  AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b
"""


def _q_extract_pipeline(spark, sf_dir):
    """Full reference pipeline over the synthetic pages corpus: extract →
    process → validate → merge → per-category stats (rows-only check)."""
    from web_crawler_spark.plans import pipeline as PL
    from web_crawler_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 300, seed=42)
    clock = F.lit("2025-07-22 10:00:00").cast("timestamp")
    results = PL.run_full_analysis(pages, clock)
    return results["by_category"]


def _q_crawl_budget_epochs(spark, sf_dir):
    """Per-host epoch budget + overflow deferral through the full engine:
    per-epoch per-host fetch counts, all ≤ the budget. Oracle form
    (golden-fixture twin): the fixture (generate_pages seed=42,
    seeds_from_pages 6/host hot×5, budget 10, 2 epochs) is fully
    deterministic and partition-independent — which URLs defer is
    set-logic, not scheduling — so the oracle pins the exact expected
    (epoch, host, n_urls) table: the hot host caps at 10 both epochs
    (overflow deferred), quiet hosts fetch 6 then the 4 not already
    seen. A budget/deferral/seen-set regression changes a count and
    hash-fails; deferral conservation stays pytest-verified."""
    import tempfile

    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import seeds_from_pages

    pages = generate_pages(spark, 240, seed=42)
    seeds = seeds_from_pages(spark, 240, n_per_host=6, hot_factor=5, n_epochs=2)
    root = tempfile.mkdtemp(prefix="crawl_budget_")
    engine = CrawlEngine(
        spark, root, pages, max_depth=0, max_per_host_per_epoch=10,
    )
    engine.run(seeds, n_epochs=2)
    fetched = engine.catalog.read(spark, "fetched")
    return (
        fetched.groupBy("epoch", "host")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .orderBy("epoch", "host")
    )


_SQL_CRAWL_BUDGET_EPOCHS = """
SELECT * FROM (VALUES
  (0, 'api.coingecko.com', 6),
  (0, 'data.worldbank.org', 6),
  (0, 'example-commodities.net', 6),
  (0, 'finance.sina.com.cn', 6),
  (0, 'markets.businessinsider.com', 10),
  (1, 'api.coingecko.com', 4),
  (1, 'data.worldbank.org', 4),
  (1, 'example-commodities.net', 4),
  (1, 'finance.sina.com.cn', 4),
  (1, 'markets.businessinsider.com', 10)
) AS t(epoch, host, n_urls)
ORDER BY epoch, host
"""


def _q_crawl_epochs(spark, sf_dir):
    """Three crawl epochs over synthetic pages+seeds; returns per-epoch
    per-host fetch counts (rows-only check; ordering invariants are
    pytest-verified against the sequential-oracle)."""
    import tempfile

    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import seeds_from_pages

    pages = generate_pages(spark, 240, seed=42)
    seeds = seeds_from_pages(spark, 240, n_per_host=4, hot_factor=5, n_epochs=3)
    root = tempfile.mkdtemp(prefix="crawl_epochs_")
    engine = CrawlEngine(spark, root, pages, max_depth=1)
    engine.run(seeds, n_epochs=3)
    fetched = engine.catalog.read(spark, "fetched")
    return (
        fetched.groupBy("epoch", "host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
        )
        .orderBy("epoch", "host")
    )


# ---------------------------------------------------------------------------
# coverage completions: §2 rows not previously exposed as explicit queries
# ---------------------------------------------------------------------------


def _q_topk_losers(spark, sf_dir):
    """T2 (commodity_service.py:149-157): top-k ascending."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return A.top_k(o, "o_totalprice", k=10, ascending=True, tiebreaker="o_orderkey")


_SQL_TOPK_LOSERS = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice IS NOT NULL
ORDER BY o_totalprice ASC, o_orderkey ASC LIMIT 10
"""


def _q_top_categories(spark, sf_dir):
    """T4+T5 (main.py:150-156, excel_writer.py:170): frequency-ordered
    categories truncated to the console display's top 5."""
    return A.category_histogram(_t(spark, sf_dir, "events"), "event_type").limit(5)


_SQL_TOP_CATEGORIES = """
SELECT event_type AS category, COUNT(*) AS n FROM events
GROUP BY event_type ORDER BY n DESC, category LIMIT 5
"""


def _q_required_fields(spark, sf_dir):
    """P2 (simple_generic.py:132) header-row drop + P3 (generic_scraper.py:
    181-183) required-fields predicate."""
    from web_crawler_spark.plans import dsl

    e = _t(spark, sf_dir, "events")
    headers = F.array(F.lit("Name"), F.lit("Symbol"), F.lit("Commodity"))
    name = F.when(
        F.col("event_id") % 11 == 0,
        F.element_at(headers, ((F.col("event_id") % 33) / F.lit(11)).cast("int") + 1),
    ).otherwise(F.concat(F.lit("asset_"), (F.col("event_id") % 37).cast("string")))
    price = F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    df = e.select("event_id", name.alias("name"), price.alias("current_price"))
    df = df.filter(~F.lower(F.col("name")).isin("name", "symbol", "commodity"))  # P2
    return dsl.required_fields_filter(df, ["name", "current_price"])  # P3


_SQL_REQUIRED_FIELDS = """
WITH t AS (
  SELECT event_id,
         CASE WHEN event_id % 11 = 0
              THEN ['Name','Symbol','Commodity'][CAST((event_id % 33) / 11 AS INT) + 1]
              ELSE concat('asset_', CAST(event_id % 37 AS VARCHAR)) END AS name,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS current_price
  FROM events
)
SELECT event_id, name, current_price FROM t
WHERE lower(name) NOT IN ('name','symbol','commodity')
  AND name IS NOT NULL AND current_price IS NOT NULL
"""


def _q_report_projection(spark, sf_dir):
    """P5 na.drop (worldbank.py:133-135) + P6 has-change filter
    (commodity_service.py:139) + P7 fixed 16-column report projection
    (csv_writer.py:52-69)."""
    from web_crawler_spark.plans.report import COMMODITY_CSV_COLUMNS, _ensure_columns

    e = _t(spark, sf_dir, "events")
    df = e.select(
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("c"), (F.col("event_id") % 29).cast("string")))
        .alias("name"),
        F.col("value").alias("current_price"),
        F.when(F.col("event_id") % 3 == 0, F.col("value") - 245.0).alias("change_percent"),
        F.col("event_type").alias("category"),
        F.lit("events").alias("source"),
    )
    df = df.na.drop(subset=["name"])  # P5
    df = df.filter(F.col("change_percent").isNotNull())  # P6
    return _ensure_columns(df, COMMODITY_CSV_COLUMNS)  # P7


_SQL_REPORT_PROJECTION = """
WITH t AS (
  SELECT CASE WHEN event_id % 13 = 0 THEN NULL
              ELSE concat('c', CAST(event_id % 29 AS VARCHAR)) END AS name,
         value AS current_price,
         CASE WHEN event_id % 3 = 0 THEN value - 245.0 END AS change_percent,
         event_type AS category
  FROM events
)
SELECT name, CAST(NULL AS VARCHAR) AS chinese_name, CAST(NULL AS VARCHAR) AS symbol,
       category, current_price, CAST(NULL AS VARCHAR) AS change_amount, change_percent,
       CAST(NULL AS VARCHAR) AS open_price, CAST(NULL AS VARCHAR) AS high_price,
       CAST(NULL AS VARCHAR) AS low_price, CAST(NULL AS VARCHAR) AS previous_close,
       CAST(NULL AS VARCHAR) AS volume, CAST(NULL AS VARCHAR) AS market_cap,
       CAST(NULL AS VARCHAR) AS currency, 'events' AS source,
       CAST(NULL AS VARCHAR) AS timestamp
FROM t WHERE name IS NOT NULL AND change_percent IS NOT NULL
"""


def _q_field_cleaners(spark, sf_dir):
    """X11 (generic_scraper.py:404-415): remove_currency /
    normalize_whitespace / remove_html cleaners."""
    from web_crawler_spark.plans import dsl

    e = _t(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("  <b>Price:</b> $"), (F.col("event_id") % 900).cast("string"),
        F.lit(".50 &amp; fees \t x"), (F.col("user_id") % 4).cast("string"),
    )
    return e.select(
        "event_id",
        raw.alias("raw"),
        dsl.compile_cleaner(raw, "remove_currency").alias("currency_stripped"),
        dsl.compile_cleaner(raw, "normalize_whitespace").alias("ws_normalized"),
        dsl.compile_cleaner(raw, "remove_html").alias("html_removed"),
    )


_SQL_FIELD_CLEANERS = """
WITH t AS (
  SELECT event_id,
         concat('  <b>Price:</b> $', CAST(event_id % 900 AS VARCHAR),
                '.50 &amp; fees ', chr(9), ' x', CAST(user_id % 4 AS VARCHAR)) AS raw
  FROM events
)
SELECT event_id, raw,
       regexp_replace(trim(raw), '[^0-9.,]', '', 'g') AS currency_stripped,
       trim(regexp_replace(trim(raw), '\\s+', ' ', 'g')) AS ws_normalized,
       replace(replace(replace(replace(replace(
         regexp_replace(trim(raw), '<[^>]*>', '', 'g'),
         '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&quot;', '"')
       AS html_removed
FROM t
"""


def _q_timestamp_coercion(spark, sf_dir):
    """X14 (models.py:35-39,111-115): ISO-parse strings, deterministic
    epoch clock replaces the reference's datetime.now() fallback."""
    e = _t(spark, sf_dir, "events")
    clock = F.lit("2024-01-02 00:00:00").cast("timestamp")
    raw = (
        F.when(F.col("event_id") % 4 == 0, F.lit(None).cast("string"))
        .when(F.col("event_id") % 4 == 1, F.lit("not-a-date"))
        .otherwise(F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss"))
    )
    return e.select("event_id", S.coerce_timestamp(raw, clock).alias("ts_coerced"))


_SQL_TIMESTAMP_COERCION = """
WITH t AS (
  SELECT event_id,
         CASE WHEN event_id % 4 = 0 THEN NULL
              WHEN event_id % 4 = 1 THEN 'not-a-date'
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS raw
  FROM events
)
SELECT event_id,
       COALESCE(TRY_CAST(raw AS TIMESTAMP), TIMESTAMP '2024-01-02 00:00:00') AS ts_coerced
FROM t
"""


def _q_json_api_parse(spark, sf_dir):
    """S7 (simple_generic.py:87-112): CoinGecko-shaped ``{coin: {usd: p}}``
    JSON → (name, price) rows via from_json + explode(map)."""
    e = _t(spark, sf_dir, "events")
    body = F.concat(
        F.lit('{"coin'), (F.col("event_id") % 25).cast("string"),
        F.lit('": {"usd": '), (F.col("user_id") % 400).cast("string"), F.lit(".5}}"),
    )
    pages = e.select(
        F.concat(F.lit("u"), F.col("event_id").cast("string")).alias("url"),
        body.alias("body"),
    )
    parsed = F.from_json(F.col("body"), "map<string,map<string,double>>")
    return pages.select("url", F.explode(parsed).alias("name", "prices")).select(
        "url", "name", F.col("prices")["usd"].alias("current_price")
    )


_SQL_JSON_API_PARSE = """
SELECT concat('u', CAST(event_id AS VARCHAR)) AS url,
       concat('coin', CAST(event_id % 25 AS VARCHAR)) AS name,
       CAST(user_id % 400 AS DOUBLE) + 0.5 AS current_price
FROM events
"""


def _q_error_isolation(spark, sf_dir):
    """F5+F7 (base_scraper.py:140-143,152-162): per-source error isolation —
    failed fetches contribute zero rows but are counted; success-rate per
    source."""
    e = _t(spark, sf_dir, "events")
    per = e.select(
        F.concat(F.lit("src_"), (F.col("user_id") % 12).cast("string")).alias("source"),
        F.when(F.col("event_type") == "error", "error").otherwise("ok").alias("status"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("scraped_count"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("error_count"),
        )
        .withColumn(
            "success_rate",
            F.round(
                F.col("scraped_count")
                / (F.col("scraped_count") + F.col("error_count")),
                4,
            ),
        )
        .orderBy("source")
    )


_SQL_ERROR_ISOLATION = """
WITH t AS (
  SELECT concat('src_', CAST(user_id % 12 AS VARCHAR)) AS source,
         CASE WHEN event_type = 'error' THEN 'error' ELSE 'ok' END AS status
  FROM events
), g AS (
  SELECT source,
         CAST(SUM(CASE WHEN status = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS scraped_count,
         CAST(SUM(CASE WHEN status = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count
  FROM t GROUP BY source
)
SELECT source, scraped_count, error_count,
       ROUND(CAST(scraped_count AS DOUBLE) / (scraped_count + error_count), 4) AS success_rate
FROM g ORDER BY source
"""


def _q_business_rules(spark, sf_dir):
    """V6+V7 (validator.py:231-275): cross-field business-logic checks as
    boolean columns; counts per violated rule."""
    e = _t(spark, sf_dir, "events")
    df = e.select(
        "event_id",
        F.col("value").alias("current_price"),
        F.when(F.col("event_id") % 6 == 0, F.col("value") + 0.5)
        .otherwise(F.col("value")).alias("value"),
        (F.col("value") + (F.col("event_id") % 5).cast("double")).alias("high_price"),
        (F.col("value") - (F.col("user_id") % 7).cast("double") + 2.0).alias("low_price"),
        ((F.col("value") - 245.0) / F.lit(2.0)).alias("change_percent"),
    )
    flags = [
        (~ok).cast("int").alias(tag) for ok, tag in VAL.commodity_business_rules()
    ]
    return df.select("event_id", *flags)


_SQL_BUSINESS_RULES = """
WITH base AS (
  SELECT event_id, user_id, value AS v FROM events
), t AS (
  SELECT event_id,
         v AS current_price,
         CASE WHEN event_id % 6 = 0 THEN v + 0.5 ELSE v END AS value,
         v + CAST(event_id % 5 AS DOUBLE) AS high_price,
         v - CAST(user_id % 7 AS DOUBLE) + 2.0 AS low_price,
         (v - 245.0) / 2.0 AS change_percent
  FROM base
)
SELECT event_id,
  CAST(current_price IS NOT NULL AND current_price <> 0 AND value IS NOT NULL AND value <> 0
       AND abs(current_price - value) > 0.001 AS INT) AS price_vs_value,
  CAST(high_price IS NOT NULL AND high_price <> 0 AND low_price IS NOT NULL AND low_price <> 0
       AND high_price < low_price AS INT) AS high_lt_low,
  CAST(current_price IS NOT NULL AND current_price <> 0 AND high_price IS NOT NULL AND high_price <> 0
       AND current_price > high_price AS INT) AS price_gt_high,
  CAST(current_price IS NOT NULL AND current_price <> 0 AND low_price IS NOT NULL AND low_price <> 0
       AND current_price < low_price AS INT) AS price_lt_low,
  CAST(change_percent IS NOT NULL AND change_percent <> 0
       AND abs(change_percent) > 50 AS INT) AS change_gt_50
FROM t
"""


def _q_categorize_bi(spark, sf_dir):
    """X5b (business_insider.py:160-185): scraper-local categorize variant —
    extra energy/agri keywords, no symbol fallback."""
    p = _t(spark, sf_dir, "part")
    markers = F.array(
        F.lit("crude"), F.lit("lumber"), F.lit("milk"), F.lit("orange"),
        F.lit("palm"), F.lit("rapeseed"), F.lit("rice"), F.lit("silver"),
        F.lit("zinc"), F.lit("thing"),
    )
    name = F.concat(
        F.col("p_type"), F.lit(" "),
        F.element_at(markers, (F.col("p_partkey") % 10 + 1).cast("int")),
    )
    return p.select(
        "p_partkey", name.alias("name"),
        S.categorize_business_insider(name).alias("category"),
    )


_SQL_CATEGORIZE_BI = """
WITH t AS (
  SELECT p_partkey,
         concat(p_type, ' ', ['crude','lumber','milk','orange','palm','rapeseed',
                'rice','silver','zinc','thing'][p_partkey % 10 + 1]) AS name
  FROM part
)
SELECT p_partkey, name,
  CASE
    WHEN regexp_matches(lower(name), 'oil|gas|gasoline|heating|brent|wti|crude') THEN '能源'
    WHEN regexp_matches(lower(name), 'gold|silver|platinum|palladium') THEN '贵金属'
    WHEN regexp_matches(lower(name), 'copper|aluminum|aluminium|zinc|nickel|lead|tin') THEN '工业金属'
    WHEN regexp_matches(lower(name), 'corn|wheat|soybean|cotton|sugar|coffee|cocoa|cattle|hog|lumber|milk|orange|palm|rapeseed|rice') THEN '农产品'
    ELSE '其他'
  END AS category
FROM t
"""


def _q_binary_metadata(spark, sf_dir):
    """Multimodal plumbing: opaque binary payloads + native-expression
    metadata sniff (hashless subset so DuckDB can oracle it; the xxhash64
    content_hash path is pytest-verified)."""
    from web_crawler_spark.multimodal import binaryops as MM

    d = _t(spark, sf_dir, "documents")
    df = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return MM.sniff_metadata(df).select("url", "media_type", "n_bytes", "magic")


_SQL_BINARY_METADATA = """
SELECT concat('doc://', CAST(doc_id AS VARCHAR)) AS url,
       'image' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CASE WHEN left(text, 4) = 'RIFF' THEN 'riff'
            WHEN left(text, 4) = 'GIF8' THEN 'gif'
            ELSE 'unknown' END AS magic
FROM documents
"""


def _q_image_dims(spark, sf_dir):
    """REAL image-header decode (stdlib-only, no media libs): the fixture
    builds honest PNG (valid CRCs) / GIF89a / JFIF+SOF0 blobs with
    dimensions derived from event_id, plus corrupt bytes every 13th row;
    the Arrow parse stage recovers format/width/height, and the oracle
    is ground-truth-by-construction (the planted arithmetic)."""
    from web_crawler_spark.multimodal import binaryops as MM

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1500)
    slim = e.select("event_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            urls, blobs = [], []
            for k in pdf["event_id"]:
                k = int(k)
                urls.append(f"img://{k}")
                w, h = 16 + k % 64, 8 + k % 32
                if k % 13 == 0:
                    blobs.append(b"\x00corrupt" + k.to_bytes(4, "big"))
                elif k % 3 == 0:
                    blobs.append(MM.png_bytes(w, h))
                elif k % 3 == 1:
                    blobs.append(MM.gif_bytes(w, h))
                else:
                    blobs.append(MM.jpeg_bytes(w, h))
            yield pd.DataFrame({"url": urls, "payload": blobs})

    blobs = slim.mapInPandas(gen, "url string, payload binary")
    return MM.image_dimensions(blobs).orderBy("url")


_SQL_IMAGE_DIMS = """
SELECT concat('img://', CAST(event_id AS VARCHAR)) AS url,
       CASE WHEN event_id % 13 = 0 THEN 'unknown'
            WHEN event_id % 3 = 0 THEN 'png'
            WHEN event_id % 3 = 1 THEN 'gif'
            ELSE 'jpeg' END AS format,
       CASE WHEN event_id % 13 = 0 THEN NULL
            ELSE CAST(16 + event_id % 64 AS INT) END AS width,
       CASE WHEN event_id % 13 = 0 THEN NULL
            ELSE CAST(8 + event_id % 32 AS INT) END AS height
FROM events WHERE event_id < 1500 ORDER BY url
"""


def _q_audio_meta(spark, sf_dir):
    """REAL RIFF/WAVE header decode: honest PCM WAV blobs (fmt + data
    chunk walk) with channels/rate/bits/frames derived from event_id,
    corrupt bytes every 11th row; ground-truth-by-construction oracle."""
    from web_crawler_spark.multimodal import binaryops as MM

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1200)
    slim = e.select("event_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            urls, blobs = [], []
            for k in pdf["event_id"]:
                k = int(k)
                urls.append(f"wav://{k}")
                if k % 11 == 0:
                    blobs.append(b"RIFFnope" + k.to_bytes(4, "big"))
                else:
                    blobs.append(MM.wav_bytes(
                        1 + k % 2, 8000 * (1 + k % 3), 8 * (1 + k % 2),
                        10 + k % 50,
                    ))
            yield pd.DataFrame({"url": urls, "payload": blobs})

    blobs = slim.mapInPandas(gen, "url string, payload binary")
    return MM.audio_metadata(blobs).orderBy("url")


_SQL_AUDIO_META = """
SELECT concat('wav://', CAST(event_id AS VARCHAR)) AS url,
       CASE WHEN event_id % 11 = 0 THEN 'unknown' ELSE 'wav' END AS format,
       CASE WHEN event_id % 11 = 0 THEN NULL
            ELSE CAST(1 + event_id % 2 AS INT) END AS channels,
       CASE WHEN event_id % 11 = 0 THEN NULL
            ELSE CAST(8000 * (1 + event_id % 3) AS INT) END AS sample_rate,
       CASE WHEN event_id % 11 = 0 THEN NULL
            ELSE CAST(8 * (1 + event_id % 2) AS INT) END AS bits_per_sample,
       CASE WHEN event_id % 11 = 0 THEN NULL
            ELSE CAST(10 + event_id % 50 AS BIGINT) END AS n_frames
FROM events WHERE event_id < 1200 ORDER BY url
"""


def _q_audio_features(spark, sf_dir):
    """REAL PCM sample decoding — numpy.frombuffer over honest mono-16bit
    WAV data chunks, integer signal features (L1 mass, peak, zero
    crossings). Payload samples follow a pure integer formula of
    (event_id, i), so the oracle recomputes every feature from the
    FORMULA while the engine decodes the actual bytes — certifying the
    decode path end-to-end; corrupt rows null-route."""
    from web_crawler_spark.multimodal import binaryops as MM

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1200).select(
        "event_id"
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            urls, blobs = [], []
            for k in pdf["event_id"]:
                k = int(k)
                urls.append(f"wav://{k:06d}")
                if k % 13 == 0:
                    blobs.append(b"RIFFbad!" + k.to_bytes(4, "big"))
                else:
                    blobs.append(
                        MM.wav_pcm_bytes(8000 * (1 + k % 3), 200 + k % 300, k)
                    )
            yield pd.DataFrame({"url": urls, "payload": blobs})

    blobs = e.mapInPandas(gen, "url string, payload binary")
    return MM.audio_features(blobs).orderBy("url")


_SQL_AUDIO_FEATURES = """
WITH base AS (
  SELECT event_id AS k, 8000 * (1 + event_id % 3) AS sr,
         200 + event_id % 300 AS n
  FROM events WHERE event_id < 1200
),
feats AS (
  SELECT k, sr, n,
         list_transform(range(0, n),
                        i -> ((i * 2557 + k * 7919) % 65536) - 32768) AS s
  FROM base WHERE k % 13 <> 0
)
SELECT concat('wav://', lpad(CAST(k AS VARCHAR), 6, '0')) AS url,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
       CAST(list_sum(list_transform(s, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak,
       CAST(len(list_filter(range(1, n),
                            j -> (s[j + 1] < 0) <> (s[j] < 0))) AS BIGINT)
         AS zero_crossings
FROM feats
UNION ALL
SELECT concat('wav://', lpad(CAST(k AS VARCHAR), 6, '0')) AS url,
       NULL, NULL, NULL, NULL, NULL
FROM base WHERE k % 13 = 0
ORDER BY url
"""


def _q_image_features(spark, sf_dir):
    """REAL BMP pixel decoding: numpy over uncompressed 24-bpp payloads
    (bottom-up rows + 4-byte padding), integer per-channel mass + the
    orientation-certifying top-left byte. Pixels follow a pure integer
    formula of (x, y, ch, event_id); the oracle recomputes every feature
    from the formula while the engine decodes actual bytes. Corrupt rows
    null-route."""
    from web_crawler_spark.multimodal import binaryops as MM

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 900).select(
        "event_id"
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            urls, blobs = [], []
            for k in pdf["event_id"]:
                k = int(k)
                urls.append(f"bmp://{k:06d}")
                if k % 17 == 0:
                    blobs.append(b"BMnope" + k.to_bytes(4, "big"))
                else:
                    blobs.append(MM.bmp_bytes(4 + k % 9, 3 + k % 7, k))
            yield pd.DataFrame({"url": urls, "payload": blobs})

    blobs = e.mapInPandas(gen, "url string, payload binary")
    return MM.image_features(blobs).orderBy("url")


_SQL_IMAGE_FEATURES = """
WITH base AS (
  SELECT event_id AS k, 4 + event_id % 9 AS w, 3 + event_id % 7 AS h
  FROM events WHERE event_id < 900
),
px AS (
  SELECT k, w, h,
    list_transform(range(0, w * h),
      i -> ((i % w) * 7 + (i // w) * 13 + k * 31) % 256) AS c0,
    list_transform(range(0, w * h),
      i -> ((i % w) * 7 + (i // w) * 13 + 29 + k * 31) % 256) AS c1,
    list_transform(range(0, w * h),
      i -> ((i % w) * 7 + (i // w) * 13 + 58 + k * 31) % 256) AS c2
  FROM base WHERE k % 17 <> 0
)
SELECT concat('bmp://', lpad(CAST(k AS VARCHAR), 6, '0')) AS url,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(list_sum(c0) AS BIGINT) AS sum_b,
       CAST(list_sum(c1) AS BIGINT) AS sum_g,
       CAST(list_sum(c2) AS BIGINT) AS sum_r,
       CAST((k * 31) % 256 AS INT) AS tl_b
FROM px
UNION ALL
SELECT concat('bmp://', lpad(CAST(k AS VARCHAR), 6, '0')) AS url,
       NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM base WHERE k % 17 = 0
ORDER BY url
"""


def _dhash_luma_sql() -> str:
    """The oracle's closed-form dHash: luma samples and comparison bits
    recomputed from the BMP fixture's pixel FORMULA (x·7 + y·13 + ch·29 +
    k·31 mod 256) while the engine decodes actual bytes — certifying
    decode + orientation flip + grid sampling + bit packing end to end."""
    lx = "(((t % 9) * w) // 9)"
    ly = "(((t // 9) * h) // 8)"
    base = f"({lx} * 7 + {ly} * 13 + k * 31)"
    luma = (
        f"((({base} + 58) % 256 + 2 * (({base} + 29) % 256)"
        f" + ({base} % 256)) // 4)"
    )
    return (
        f"list_transform(range(0, 72), t -> {luma})"
    )


_DHASH_BITS_SQL = (
    "list_reduce(list_transform(range(0, 64), b -> "
    "CASE WHEN s[(b // 8) * 9 + (b % 8) + 2] > s[(b // 8) * 9 + (b % 8) + 1]"
    " THEN '1' ELSE '0' END), (x, y) -> x || y)"
)


def _q_image_dhash(spark, sf_dir):
    """Perceptual dHash over REAL decoded BMP pixels (multimodal/
    binaryops.image_dhash): 9×8 integer-luma grid sample → 64 horizontal
    comparison bits. The oracle recomputes every bit from the pixel
    formula; the engine decodes actual bytes (orientation flip included
    — bottom-up rows would silently permute the grid). Corrupt payloads
    null-route."""
    from web_crawler_spark.multimodal import binaryops as MM

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 900).select(
        "event_id"
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            urls, blobs = [], []
            for k in pdf["event_id"]:
                k = int(k)
                urls.append(f"bmp://{k:06d}")
                if k % 17 == 0:
                    blobs.append(b"BMnope" + k.to_bytes(4, "big"))
                else:
                    blobs.append(MM.bmp_bytes(4 + k % 9, 3 + k % 7, k))
            yield pd.DataFrame({"url": urls, "payload": blobs})

    blobs = e.mapInPandas(gen, "url string, payload binary")
    return MM.image_dhash(blobs).orderBy("url")


_SQL_IMAGE_DHASH = f"""
WITH base AS (
  SELECT event_id AS k, 4 + event_id % 9 AS w, 3 + event_id % 7 AS h
  FROM events WHERE event_id < 900
),
sm AS (
  SELECT k, w, h, {_dhash_luma_sql()} AS s FROM base WHERE k % 17 <> 0
)
SELECT concat('bmp://', lpad(CAST(k AS VARCHAR), 6, '0')) AS url,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       {_DHASH_BITS_SQL} AS dhash
FROM sm
UNION ALL
SELECT concat('bmp://', lpad(CAST(k AS VARCHAR), 6, '0')) AS url,
       NULL, NULL, NULL
FROM base WHERE k % 17 = 0
ORDER BY url
"""


def _q_image_neardup(spark, sf_dir):
    """Image near-dup pairs: dHash + simhash-style 4×16 pigeonhole
    banding + exact Hamming ≤ 10 (multimodal/binaryops.
    dhash_neardup_pairs). Twin images (identical bytes under a second
    url every 50th id) plant guaranteed Hamming-0 pairs; same-dimension
    images pair naturally when bands coincide. The oracle recomputes
    dHashes from the pixel formula and replays the identical banding +
    Hamming algebra — candidate-generation semantics certified, not
    just the distances."""
    from web_crawler_spark.multimodal import binaryops as MM

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 400).select(
        "event_id"
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            urls, blobs = [], []
            for k in pdf["event_id"]:
                k = int(k)
                if k % 17 == 0:
                    urls.append(f"bmp://{k:06d}")
                    blobs.append(b"BMnope" + k.to_bytes(4, "big"))
                    continue
                pay = MM.bmp_bytes(4 + k % 9, 3 + k % 7, k)
                urls.append(f"bmp://{k:06d}")
                blobs.append(pay)
                if k % 50 == 0:
                    urls.append(f"bmpx://{k:06d}")
                    blobs.append(pay)
            yield pd.DataFrame({"url": urls, "payload": blobs})

    blobs = e.mapInPandas(gen, "url string, payload binary")
    return MM.dhash_neardup_pairs(MM.image_dhash(blobs)).orderBy(
        "url_a", "url_b"
    )


_SQL_IMAGE_NEARDUP = f"""
WITH base AS (
  SELECT event_id AS k, 4 + event_id % 9 AS w, 3 + event_id % 7 AS h
  FROM events WHERE event_id < 400 AND event_id % 17 <> 0
),
sm AS (SELECT k, {_dhash_luma_sql()} AS s FROM base),
hv AS (SELECT k, {_DHASH_BITS_SQL} AS dhash FROM sm),
hashes AS (
  SELECT concat('bmp://', lpad(CAST(k AS VARCHAR), 6, '0')) AS url, dhash
  FROM hv
  UNION ALL
  SELECT concat('bmpx://', lpad(CAST(k AS VARCHAR), 6, '0')) AS url, dhash
  FROM hv WHERE k % 50 = 0
),
slices AS (
  SELECT url, t.band, substr(dhash, t.band * 16 + 1, 16) AS val
  FROM hashes, LATERAL unnest(range(0, 4)) AS t(band)
),
cand AS (
  SELECT DISTINCT a.url AS url_a, b.url AS url_b
  FROM slices a JOIN slices b
    ON a.band = b.band AND a.val = b.val AND a.url < b.url
)
SELECT c.url_a, c.url_b,
       CAST(len(list_filter(range(1, 65),
            i -> substr(ha.dhash, CAST(i AS INT), 1)
              <> substr(hb.dhash, CAST(i AS INT), 1))) AS INT) AS hamming
FROM cand c
JOIN hashes ha ON c.url_a = ha.url
JOIN hashes hb ON c.url_b = hb.url
WHERE len(list_filter(range(1, 65),
      i -> substr(ha.dhash, CAST(i AS INT), 1)
        <> substr(hb.dhash, CAST(i AS INT), 1))) <= 10
ORDER BY url_a, url_b
"""


def _q_video_meta(spark, sf_dir):
    """REAL ISO-BMFF (MP4) header decode: honest ftyp+moov(mvhd+trak(tkhd))
    box trees with timescale/duration/dims/track-count derived from
    event_id, corrupt bytes every 9th row; ground-truth-by-construction
    oracle (the planted arithmetic, incl. the (dur*1000)//ts floor)."""
    from web_crawler_spark.multimodal import binaryops as MM

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1200)
    slim = e.select("event_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            urls, blobs = [], []
            for k in pdf["event_id"]:
                k = int(k)
                urls.append(f"mp4://{k}")
                if k % 9 == 0:
                    blobs.append(b"\x00\x00corrupt" + k.to_bytes(4, "big"))
                else:
                    blobs.append(MM.mp4_bytes(
                        500 * (1 + k % 2), 100 + k % 4000,
                        160 + k % 320, 90 + k % 180, n_tracks=1 + k % 3,
                    ))
            yield pd.DataFrame({"url": urls, "payload": blobs})

    blobs = slim.mapInPandas(gen, "url string, payload binary")
    return MM.video_metadata(blobs).orderBy("url")


_SQL_VIDEO_META = """
SELECT concat('mp4://', CAST(event_id AS VARCHAR)) AS url,
       CASE WHEN event_id % 9 = 0 THEN 'unknown' ELSE 'mp4' END AS format,
       CASE WHEN event_id % 9 = 0 THEN NULL ELSE 'isom' END AS brand,
       CASE WHEN event_id % 9 = 0 THEN NULL
            ELSE CAST(500 * (1 + event_id % 2) AS INT) END AS timescale,
       CASE WHEN event_id % 9 = 0 THEN NULL
            ELSE CAST(floor((100 + event_id % 4000) * 1000.0
                            / (500 * (1 + event_id % 2))) AS BIGINT)
       END AS duration_ms,
       CASE WHEN event_id % 9 = 0 THEN NULL
            ELSE CAST(160 + event_id % 320 AS INT) END AS width,
       CASE WHEN event_id % 9 = 0 THEN NULL
            ELSE CAST(90 + event_id % 180 AS INT) END AS height,
       CASE WHEN event_id % 9 = 0 THEN NULL
            ELSE CAST(1 + event_id % 3 AS INT) END AS n_tracks
FROM events WHERE event_id < 1200 ORDER BY url
"""


def _q_dataset_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split, stratification
    audited per language — re-running the pipeline must land every doc in
    the SAME split (no leakage), so membership is md5(key)-percentile, not
    rand()."""
    from web_crawler_spark.functions import sampling as SP

    d = _t(spark, sf_dir, "documents")
    split = SP.dataset_split(d, "doc_id", train=0.8, val=0.1)
    return (
        split.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split", "lang")
    )


_SQL_DATASET_SPLIT = """
WITH t AS (
  SELECT lang,
         TRY_CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 4)) AS INT) % 100 AS b
  FROM documents
)
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       lang, COUNT(*) AS n
FROM t GROUP BY 1, 2 ORDER BY split, lang
"""


def _q_ngram_repetition(spark, sf_dir):
    """Gopher bigram repetition over the documents table: top-bigram and
    duplicated-bigram character fractions, count×length integer ratios
    the oracle recomputes exactly (ties broken lexicographically)."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.ngram_repetition(d, n=2).orderBy("doc_id")


_SQL_NGRAM_REPETITION = r"""
WITH t AS (
  SELECT doc_id, length(trim(text)) AS doc_chars,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
), e AS (
  SELECT doc_id, doc_chars, unnest(
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> concat(toks[i], ' ', toks[i + 1]))
                ELSE CAST([] AS VARCHAR[]) END) AS ngram
  FROM t
), counts AS (
  SELECT doc_id, doc_chars, ngram, COUNT(*) AS cnt
  FROM e GROUP BY doc_id, doc_chars, ngram
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY cnt DESC, ngram ASC) AS rn
  FROM counts
)
SELECT doc_id,
       max(CASE WHEN rn = 1 THEN ngram END) AS top_ngram,
       CASE WHEN doc_chars > 0
            THEN COALESCE(max(CASE WHEN rn = 1 THEN cnt * length(ngram) END), 0)
                 / doc_chars
            ELSE 0.0 END AS top_ngram_char_frac,
       CASE WHEN doc_chars > 0
            THEN sum(CASE WHEN cnt > 1 THEN cnt * length(ngram) ELSE 0 END)
                 / doc_chars
            ELSE 0.0 END AS dup_ngram_char_frac
FROM ranked GROUP BY doc_id, doc_chars ORDER BY doc_id
"""


def _q_dup_lines(spark, sf_dir):
    """Gopher duplicate-line fractions over a deterministic multi-line
    fixture: every even doc repeats a boilerplate line, every 3rd doc
    carries a blank line (ignored), every 5th repeats its unique line
    twice more — line/char fractions recomputed exactly by the oracle."""
    from web_crawler_spark.operators import corpus as C

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.col("event_id")
    i = k.cast("string")
    text = F.concat_ws(
        "\n",
        F.concat(F.lit("unique line for doc "), i),
        F.lit("common boilerplate line"),
        F.when(k % 2 == 0, F.lit("common boilerplate line")),
        F.when(k % 3 == 0, F.lit("   ")),
        F.when(k % 5 == 0, F.concat(F.lit("unique line for doc "), i)),
        F.when(k % 5 == 0, F.concat(F.lit("unique line for doc "), i)),
    )
    docs = e.select(k.alias("doc_id"), text.alias("text"))
    return C.duplicate_line_stats(docs).orderBy("doc_id")


_SQL_DUP_LINES = """
WITH docs AS (
  SELECT event_id AS doc_id,
         concat_ws(chr(10),
           'unique line for doc ' || event_id,
           'common boilerplate line',
           CASE WHEN event_id % 2 = 0 THEN 'common boilerplate line' END,
           CASE WHEN event_id % 3 = 0 THEN '   ' END,
           CASE WHEN event_id % 5 = 0 THEN 'unique line for doc ' || event_id END,
           CASE WHEN event_id % 5 = 0 THEN 'unique line for doc ' || event_id END
         ) AS text
  FROM events WHERE event_id < 2000
), e AS (
  SELECT doc_id, unnest(list_filter(
           list_transform(string_split(text, chr(10)), x -> trim(x)),
           x -> x <> '')) AS line
  FROM docs
), counts AS (
  SELECT doc_id, line, length(line) AS chars, COUNT(*) AS cnt
  FROM e GROUP BY doc_id, line
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_lines,
       CASE WHEN sum(cnt) > 0
            THEN sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) / CAST(sum(cnt) AS DOUBLE)
            ELSE 0.0 END AS dup_line_frac,
       CASE WHEN sum(cnt * chars) > 0
            THEN sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END)
                 / CAST(sum(cnt * chars) AS DOUBLE)
            ELSE 0.0 END AS dup_line_char_frac
FROM counts GROUP BY doc_id ORDER BY doc_id
"""


def _q_corpus_datasheet(spark, sf_dir):
    """Corpus release datasheet: ROLLUP(source, lang) doc/token/char/
    empty tallies in one grouping-set pass — per-cell, per-source, and
    grand-total rows all certified (NULL keys mark subtotals)."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.corpus_datasheet(d).orderBy(
        F.col("source").asc_nulls_first(), F.col("lang").asc_nulls_first()
    )


_SQL_CORPUS_DATASHEET = r"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END)
            AS BIGINT) AS n_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(sum(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty
FROM documents
GROUP BY ROLLUP (source, lang)
ORDER BY source NULLS FIRST, lang NULLS FIRST
"""


def _q_pack_sequences(spark, sf_dir):
    """LM training-sequence packing plan over the documents table:
    md5-sharded, md5-ordered end-to-end layout into 128-token windows;
    per-doc shard, offset, and first/last sequence index are all
    integer-exact and certified."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.pack_sequences(d, seq_len=128, n_shards=8).orderBy("doc_id")


_SQL_PACK_SEQUENCES = r"""
WITH toks AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END + 1
              AS BIGINT) AS n_tokens,
         TRY_CAST(concat('0x', substr(md5(concat('pack:', CAST(doc_id AS VARCHAR))), 1, 4)) AS INT) % 8 AS shard,
         md5(concat('pack:', CAST(doc_id AS VARCHAR))) AS ord_key
  FROM documents
), cum AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord_key, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM toks
)
SELECT doc_id, shard, n_tokens,
       CAST(c - n_tokens AS BIGINT) AS start_offset,
       CAST(floor((c - n_tokens) / 128.0) AS BIGINT) AS first_seq,
       CAST(floor((c - 1) / 128.0) AS BIGINT) AS last_seq
FROM cum ORDER BY doc_id
"""


def _fq_weights(n: int = 64) -> list[float]:
    """Deterministic stand-in for a pre-trained quality-model weight
    vector (the real pipeline loads trained weights; the oracle needs
    values both engines can fold identically)."""
    return [((j * 37) % 21 - 10) / 10.0 for j in range(n)]


def _q_quality_model(spark, sf_dir):
    """fastText-style hashed linear quality classifier scoring: tokens
    hash to 64 buckets (first 16 md5 bits), score = bias + mean bucket
    weight, keep = score > threshold in raw-logit space. Scores, token
    counts, and keep decisions are all certified."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.quality_model_score(
        d, _fq_weights(), bias=0.05, threshold=0.02
    ).orderBy("doc_id")


def _sql_quality_model(n: int = 64) -> str:
    wlist = "[" + ", ".join(repr(w) for w in _fq_weights(n)) + "]"
    return f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS toks
  FROM documents
), s AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_sum(list_transform(toks, t ->
           ({wlist})[TRY_CAST(concat('0x', substr(md5(concat('fq:', t)), 1, 4)) AS INT) % {n} + 1]
         )) AS total
  FROM t
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CASE WHEN n_tokens > 0 THEN 0.05 + total / n_tokens ELSE 0.05 END, 6) AS score,
       (CASE WHEN n_tokens > 0 THEN 0.05 + total / n_tokens ELSE 0.05 END) > 0.02 AS keep
FROM s ORDER BY doc_id
"""


def _q_corpus_pipeline(spark, sf_dir):
    """The composite training-corpus pipeline, END-TO-END value-certified:
    near-dup collapse (minhash-LSH pairs → connected components → keep the
    min-id canonical) → exact dedup (normalized-content md5, keep min id)
    → Gopher quality gate → deterministic train/val/test split. Every stage
    is individually oracle-checked elsewhere; this query certifies their
    COMPOSITION — the thing a user actually runs over a crawl corpus."""
    from web_crawler_spark.functions import sampling as SMP
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", n=5, k=8, bands=4, threshold=0.18, portable_hash=True
    )
    survivors = D.exact_dedup(D.keep_canonical(d, pairs)).drop("fingerprint")
    passed = survivors.join(
        C.gopher_quality(survivors).filter(F.col("flag_pass")).select("doc_id"),
        "doc_id",
    )
    return (
        SMP.dataset_split(passed, "doc_id")
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    )


def _sql_corpus_pipeline() -> str:
    return (
        _cluster_closure_sql()
        + r"""
, canon AS (
  SELECT d.* FROM documents d LEFT JOIN minreach m ON d.doc_id = m.u
  WHERE COALESCE(LEAST(d.doc_id, m.minv), d.doc_id) = d.doc_id
),
fp AS (
  SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                    '\s+', ' ', 'g'))) AS fpr
  FROM canon
),
ex AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fpr ORDER BY doc_id) rn FROM fp
  ) WHERE rn = 1
),
q AS (
  SELECT doc_id, lang,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM ex
),
passed AS (
  SELECT doc_id, lang FROM q
  WHERE len(toks) BETWEEN 50 AND 100000
    AND len(toks) > 0
    AND coalesce(list_sum(list_transform(toks, t -> strlen(t))), 0)
        BETWEEN 3 * len(toks) AND 10 * len(toks)
    AND 5 * len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
        >= 4 * len(toks)
)
SELECT doc_id, lang,
       CASE WHEN TRY_CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 4)) AS INT) % 100 < 80 THEN 'train'
            WHEN TRY_CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 4)) AS INT) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM passed ORDER BY doc_id
"""
    )


def _q_salted_join(spark, sf_dir):
    """Skew-safe equi-join: lineitem joined to a 3-row dim on l_returnflag
    (maximal skew — every row hits one of 3 keys) through the salt trick,
    then aggregated; output is provably identical to the plain join (the
    oracle runs the unsalted SQL)."""
    from web_crawler_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("double").alias("qty")
    )
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("w", F.ascii("l_returnflag").cast("double"))
    )
    return (
        salted_join(li, dim, "l_returnflag", n_salts=8)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("qty") * F.col("w")), 4).alias("weighted_qty"),
        )
        .orderBy("l_returnflag")
    )


_SQL_SALTED_JOIN = """
WITH dim AS (
  SELECT DISTINCT l_returnflag, CAST(ascii(l_returnflag) AS DOUBLE) AS w
  FROM lineitem
)
SELECT li.l_returnflag, COUNT(*) AS n,
       ROUND(SUM(CAST(li.l_quantity AS DOUBLE) * dim.w), 4) AS weighted_qty
FROM lineitem li JOIN dim ON li.l_returnflag = dim.l_returnflag
GROUP BY li.l_returnflag ORDER BY li.l_returnflag
"""


def _q_term_stats(spark, sf_dir):
    """Inverted-index rollup: per-term document frequency + collection
    frequency over the postings build (explode → (term, doc) agg → term
    agg), top-20 terms by df."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return (
        C.term_stats(d)
        .orderBy(F.desc("df"), "term")
        .limit(20)
        .select("term", "df", F.col("cf").cast("long").alias("cf"))
    )


_SQL_TERM_STATS = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
  FROM documents WHERE trim(text) <> ''
),
p AS (SELECT doc_id, unnest(tk) AS term FROM toks),
tdf AS (SELECT term, doc_id, count(*) AS tf FROM p GROUP BY term, doc_id)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM tdf GROUP BY term
ORDER BY df DESC, term LIMIT 20
"""


_BM25_TERMS = ["spark", "window", "join"]
_BM25_K1, _BM25_B = 1.2, 0.75


def _q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-10 for a 3-term query — zero-shuffle plan (per-term
    tf as array expressions, idf constants folded from a 1-row stats agg,
    TakeOrderedAndProject)."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.bm25_topk(d, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B)


_BM25_BATCH_QUERIES = [
    (1, "spark window join"),
    (2, "hash merge batch"),
    (3, "vector scan big table"),
    (4, "filter group sort"),
]


def _q_bm25_batch(spark, sf_dir):
    """Batch BM25 retrieval join: top-5 docs for each of 4 queries in ONE
    joined plan — postings ⋈ broadcast query-terms ⋈ per-term df, scores
    summed per (query, doc), rank windowed per query. The 10^5-query RAG
    retrieval shape where bm25_topk's idf-literal fold stops applying."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        _BM25_BATCH_QUERIES, "query_id int, query string"
    )
    return C.bm25_batch_topk(d, q, k=5, k1=_BM25_K1, b=_BM25_B)


def _sql_bm25_batch() -> str:
    k1, b = _BM25_K1, _BM25_B
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_BATCH_QUERIES)
    return f"""
WITH qr(query_id, query) AS (VALUES {vals}),
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
  FROM documents
),
ex AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks),
post AS (
  SELECT term, doc_id, count(*) AS tf, first(dl) AS dl
  FROM ex GROUP BY term, doc_id
),
s AS (
  SELECT count(*) AS n, CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
  FROM toks
),
dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
qt AS (
  SELECT query_id,
         unnest(string_split_regex(trim(lower(query)), '\\s+')) AS term
  FROM qr
),
qtf AS (
  SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf
  FROM qt GROUP BY query_id, term
),
pairs AS (
  SELECT q.query_id, p.doc_id,
         sum(q.qtf * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * CAST(p.tf AS DOUBLE) * {k1 + 1.0}
             / (CAST(p.tf AS DOUBLE)
                + {k1} * ({1.0 - b} + {b} * p.dl / s.avgdl))) AS raw
  FROM post p JOIN dfq d USING (term) JOIN qtf q USING (term), s
  GROUP BY q.query_id, p.doc_id
),
sc AS (SELECT query_id, doc_id, ROUND(raw, 6) AS score FROM pairs WHERE raw > 0)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM sc
) WHERE rank <= 5
"""


def _sql_bm25_topk() -> str:
    k1, b = _BM25_K1, _BM25_B
    tf_exprs = ",\n         ".join(
        f"len(list_filter(tk, t -> t = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_exprs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    # same IEEE fold as the engine: idf_i = ln(1+(n-df+0.5)/(df+0.5)),
    # norm = k1*(1-b+b*dl/avgdl), score = sum_i idf_i*tf_i*(k1+1)/(tf_i+norm)
    parts = " + ".join(
        f"(ln(1.0 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
        f" * CAST(tf{i} AS DOUBLE) * {k1 + 1.0}"
        f" / (CAST(tf{i} AS DOUBLE) + {k1} * ({1.0 - b} + {b} * dl / s.avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
  FROM documents
),
tfd AS (
  SELECT doc_id, len(tk) AS dl,
         {tf_exprs}
  FROM toks
),
s AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, {df_exprs}
  FROM tfd
)
SELECT doc_id, ROUND({parts}, 6) AS score
FROM tfd, s
WHERE ({parts}) > 0
ORDER BY score DESC, doc_id
LIMIT 10
"""


def _q_ql_dirichlet(spark, sf_dir):
    """Dirichlet query-likelihood top-10 (operators/corpus.ql_dirichlet_topk,
    Zhai & Lafferty 2004) - same zero-shuffle literal-fold plan family as
    tx_bm25_topk; the query mixes two in-collection terms with one
    collection-OOV term ('zzqx...') so the oracle certifies the OOV-drop
    semantics (engine folds the term away at the driver; the oracle's
    CASE adds +0.0, bit-identical under IEEE a+0.0=a for nonzero a)."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.ql_dirichlet_topk(d, _QL_TERMS, k=10, mu=_QL_MU)


_QL_TERMS = ["spark", "window", "zzqxv_oov_term"]
_QL_MU = 500.0


def _sql_ql_dirichlet() -> str:
    mu = _QL_MU
    tf_exprs = ",\n         ".join(
        f"len(list_filter(tk, t -> t = '{t}')) AS tf{i}"
        for i, t in enumerate(_QL_TERMS)
    )
    cf_exprs = ", ".join(
        f"sum(tf{i}) AS cf{i}" for i in range(len(_QL_TERMS))
    )
    # engine folds mu*(cf/total) on the driver and SKIPS cf=0 terms; the
    # CASE-0.0 arm is bit-identical because IEEE a+0.0 = a for the
    # nonzero ln values every live term contributes
    parts = " + ".join(
        f"(CASE WHEN s.cf{i} > 0 THEN ln((CAST(tf{i} AS DOUBLE)"
        f" + {mu} * (s.cf{i} / s.total)) / (dl + {mu})) ELSE 0.0 END)"
        for i in range(len(_QL_TERMS))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
  FROM documents
),
tfd AS (
  SELECT doc_id, len(tk) AS dl,
         {tf_exprs}
  FROM toks
),
s AS (
  SELECT sum(dl) AS total, {cf_exprs}
  FROM tfd
)
SELECT doc_id, ROUND({parts}, 6) AS score
FROM tfd, s
ORDER BY score DESC, doc_id
LIMIT 10
"""


def _q_pmi_collocations(spark, sf_dir):
    """Top-20 PMI bigram collocations (operators/corpus.pmi_collocations,
    Manning & Schutze 5.4): every PMI is one double expression over exact
    integer counts - no accumulation order anywhere, oracle bit-exact."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.pmi_collocations(d, k=20, min_count=3)


_SQL_PMI_COLLOCATIONS = """
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
  WHERE trim(text) <> ''
),
uni AS (
  SELECT t, COUNT(*) AS n
  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY t
),
nu AS (SELECT SUM(n) AS v FROM uni),
nb AS (SELECT SUM(len(tk) - 1) AS v FROM toks),
bi AS (
  SELECT struct_extract(s, 'a') AS a, struct_extract(s, 'b') AS b,
         COUNT(*) AS n_ab
  FROM (SELECT unnest([{'a': tk[i], 'b': tk[i + 1]}
                       for i in range(1, len(tk))]) AS s
        FROM toks)
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT bi.a, bi.b, bi.n_ab,
       ROUND(ln((CAST(n_ab AS DOUBLE) / nb.v) /
                ((CAST(ua.n AS DOUBLE) / nu.v) * (CAST(ub.n AS DOUBLE) / nu.v))),
             6) AS pmi
FROM bi
JOIN uni ua ON ua.t = bi.a
JOIN uni ub ON ub.t = bi.b
CROSS JOIN nu CROSS JOIN nb
ORDER BY pmi DESC, bi.a, bi.b
LIMIT 20"""


def _q_char_entropy(spark, sf_dir):
    """Per-doc character Shannon entropy (operators/corpus.char_entropy):
    the (doc,char) agg feeds a SORTED-char-order float fold, so every
    entropy is a pure function of the data; oracle replays the same
    prepend-0.0 left fold."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.char_entropy(d).orderBy("doc_id")


_SQL_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, unnest([text[i] for i in range(1, length(text) + 1)]) AS ch
  FROM documents WHERE length(text) > 0
),
counts AS (SELECT doc_id, ch, COUNT(*) AS n FROM chars GROUP BY doc_id, ch),
per AS (
  SELECT doc_id, SUM(n) AS n_chars, COUNT(*) AS n_unique_chars,
         list(CAST(n AS DOUBLE) ORDER BY ch) AS nl
  FROM counts GROUP BY doc_id
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, n_unique_chars,
       ROUND(list_reduce(
         list_prepend(0.0, [ (x / n_chars) * (ln(x / n_chars) / 0.6931471805599453)
                             for x in nl ]),
         (a, b) -> a - b), 6) AS entropy_bits
FROM per ORDER BY doc_id"""


def _q_slice_kl(spark, sf_dir):
    """Distinctive vocabulary of the lang='en' slice vs the full corpus by
    per-term KL contribution in nano fixed-point int64 (operators/corpus.
    slice_kl_terms) - order-free exact integer totals at any vocab size."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.slice_kl_terms(d, F.col("lang") == "en", k=20)


_SQL_SLICE_KL = """
WITH t AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_slice,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
  FROM documents WHERE trim(text) <> ''
),
counts AS (SELECT t, SUM(in_slice) AS n_p, COUNT(*) AS n_q FROM t GROUP BY t),
tot AS (SELECT SUM(n_p) AS np, SUM(n_q) AS nq, COUNT(*) AS v FROM counts)
SELECT t AS term, CAST(n_p AS BIGINT) AS n_slice, n_q AS n_corpus,
       CAST(ROUND((n_p + 1.0) / (np + v)
                  * ln(((n_p + 1.0) / (np + v)) / ((n_q + 1.0) / (nq + v)))
                  * 1e9, 0) AS BIGINT) AS contribution_nano
FROM counts, tot
ORDER BY contribution_nano DESC, term
LIMIT 20"""


def _q_host_report(spark, sf_dir):
    """Per-host crawl-coverage rollup: pages synthesized from documents
    (6 hosts; every doc_id%10<2 page is a recycled boilerplate duplicate),
    language/quality/fingerprint all pure columns, dup attribution via
    one fp window. The oracle rebuilds the full rollup — langid decision
    CASE shared with the tx_langid oracle via _langid_pieces()."""
    from web_crawler_spark.operators import aggregate as A

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 6).cast("string"),
                 F.lit(".com/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.when(F.col("doc_id") % 10 < 2, F.lit("recycled boilerplate page"))
        .otherwise(F.col("text")).alias("text"),
    )
    return A.host_report(pages).orderBy("host")


def _host_report_sql() -> str:
    hit_exprs, case = _langid_pieces()
    return f"""
WITH pages AS (
  SELECT concat('h', CAST(doc_id % 6 AS VARCHAR), '.com') AS host,
         concat('https://h', CAST(doc_id % 6 AS VARCHAR), '.com/d/',
                CAST(doc_id AS VARCHAR)) AS url,
         CASE WHEN doc_id % 10 < 2 THEN 'recycled boilerplate page'
              ELSE text END AS text
  FROM documents
), h AS (
  SELECT host, url, text, {", ".join(hit_exprs)} FROM pages
), l AS (
  SELECT host, url, text, {case} AS lang FROM h
), q AS (
  SELECT host, url, lang, text, LENGTH(text) AS n,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS toks
  FROM l
), m AS (
  SELECT host, url, lang, text, n, len(toks) AS n_toks,
         LENGTH(regexp_replace(text, '[^A-Za-z一-鿿]', '', 'g')) AS alpha,
         len(list_distinct(toks)) AS n_distinct,
         len(regexp_extract_all(text, '[.!?]')) AS n_sent
  FROM q
), enr AS (
  SELECT host, url, lang,
         ROUND(
           0.25 * (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                        ELSE least(n / 100.0, 1.0) END) +
           0.25 * (CASE WHEN n > 0 THEN alpha * 1.0 / n ELSE 0.0 END) +
           0.25 * (CASE WHEN n_toks > 0 THEN n_distinct * 1.0 / n_toks
                        ELSE 0.0 END) +
           0.25 * (CASE WHEN n_toks > 0 THEN least(n_sent * 20.0 / n_toks, 1.0)
                        ELSE 0.0 END), 6) AS quality,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
  FROM m
), flg AS (
  SELECT host, url, lang, quality,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY url) > 1 AS is_dup
  FROM enr
), per AS (
  SELECT host, COUNT(*) AS n_pages, COUNT(DISTINCT url) AS n_urls,
         ROUND(AVG(quality), 6) AS avg_quality,
         SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup
  FROM flg GROUP BY host
), lc AS (
  SELECT host, lang, COUNT(*) AS n FROM flg GROUP BY host, lang
), tl AS (
  SELECT host, lang AS top_lang FROM (
    SELECT host, lang,
           ROW_NUMBER() OVER (PARTITION BY host ORDER BY n DESC, lang) AS rn
    FROM lc
  ) WHERE rn = 1
)
SELECT host, n_pages, n_urls, avg_quality, top_lang,
       ROUND(n_dup * 1.0 / n_pages, 6) AS dup_rate
FROM per JOIN tl USING (host) ORDER BY host
"""


def _q_merge_postings(spark, sf_dir):
    """Incremental inverted-index maintenance: every 7th doc is modified,
    every (11th ∧ not-7th) removed, every 13th re-added as a new doc —
    the merge path (one anti-join on the old postings + delta-only
    re-derive) must equal a full rebuild over the updated corpus, which
    is exactly what the oracle computes directly."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = C.inverted_index(d)
    changed = (
        d.filter(F.col("doc_id") % 7 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" refreshed content")))
        .unionByName(
            d.filter(F.col("doc_id") % 13 == 0)
            .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
    )
    removed = d.filter(
        (F.col("doc_id") % 11 == 3) & (F.col("doc_id") % 7 != 0)
    ).select("doc_id")
    return (
        C.merge_postings(old, changed, removed)
        .select("term", "doc_id", "tf")
        .orderBy("term", "doc_id")
    )


_SQL_MERGE_POSTINGS = """
WITH corpus AS (
  SELECT doc_id, text || ' refreshed content' AS text
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, text FROM documents
  WHERE doc_id % 7 <> 0 AND NOT (doc_id % 11 = 3)
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0
), t AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM corpus WHERE trim(text) <> ''
)
SELECT term, doc_id, COUNT(*) AS tf FROM t
GROUP BY term, doc_id ORDER BY term, doc_id
"""


def _q_containment_pairs(spark, sf_dir):
    """Directional n-gram containment: every 4th document's 24-word
    prefix is re-injected as its own doc — an excerpt with Jaccard ≈0.3
    vs its source but containment 1.0, which only the directional score
    surfaces. Oracle runs the identical inverted-index algebra."""
    from web_crawler_spark.functions import text as T
    from web_crawler_spark.operators import dedup as D

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prefix = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(T.tokens(F.col("text")), 1, 24), " ").alias("text"),
    )
    corpus = d.unionByName(prefix)
    return D.ngram_containment_pairs(corpus, n=5, threshold=0.9).orderBy(
        "id_contained", "id_container"
    )


_SQL_CONTAINMENT_PAIRS = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(string_split_regex(trim(text), '\\s+')[1:24], ' ') AS text
  FROM documents WHERE doc_id % 4 = 0
), toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM corpus
  WHERE trim(text) <> ''
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+4], ' ')
                        for i in range(1, greatest(len(w) - 4, 0) + 1)]) AS grams
  FROM toks
), nonempty AS (SELECT * FROM sh WHERE len(grams) > 0),
inv AS (SELECT doc_id, unnest(grams) AS gram FROM nonempty),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), sizes AS (SELECT doc_id, len(grams) AS n FROM nonempty),
scored AS (
  SELECT id_a, id_b, n_common, sa.n AS size_a, sb.n AS size_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
SELECT * FROM (
  SELECT id_a AS id_contained, id_b AS id_container,
         ROUND(n_common * 1.0 / size_a, 6) AS containment FROM scored
  UNION ALL
  SELECT id_b AS id_contained, id_a AS id_container,
         ROUND(n_common * 1.0 / size_b, 6) AS containment FROM scored
) WHERE containment >= 0.9
ORDER BY id_contained, id_container
"""


def _q_nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization (Arrow unicodedata stage): every doc gets
    a decomposed 'caféÅngström' tail; the normalized text and its char
    count are value-certified against DuckDB's nfc_normalize."""
    from web_crawler_spark.functions import text as T

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" cafe\u0301 A\u030angstro\u0308m")).alias("text"),
    )
    out = T.nfc_stage(d, "text")
    return out.select(
        "doc_id", "text", F.length("text").alias("n_chars")
    ).orderBy("doc_id")


_SQL_NFC_NORMALIZE = """
SELECT doc_id,
       nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)
                     || 'ngstro' || chr(776) || 'm') AS text,
       LENGTH(nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)
                            || 'ngstro' || chr(776) || 'm')) AS n_chars
FROM documents ORDER BY doc_id
"""


_MOJI_CLEAN_SUFFIXES = [
    " café déjà vu süß",
    " “smart” — quotes…",
    " €99 ±5° naïve",
]


def _q_mojibake_repair(spark, sf_dir):
    """Mojibake repair (functions/text.py::repair_mojibake — the ftfy
    single-pass core case: UTF-8 bytes mis-decoded as sloppy cp1252).
    Docs get a garbled tail COMPUTED by the same encoding model
    (to_mojibake), cycling three garble families (Latin-1 letters, smart
    punctuation, currency/symbols) with every 4th doc clean; the repaired
    full text, the had_mojibake flag, and the chars-recovered count are
    value-certified against a DuckDB twin replaying the identical
    longest-first replace chain."""
    from web_crawler_spark.functions import text as T

    moji = [T.to_mojibake(s) for s in _MOJI_CLEAN_SUFFIXES]
    d = _t(spark, sf_dir, "documents")
    sel = F.col("doc_id") % 4
    tail = (
        F.when(sel == 0, F.lit(moji[0]))
        .when(sel == 1, F.lit(moji[1]))
        .when(sel == 2, F.lit(moji[2]))
        .otherwise(F.lit(""))
    )
    garbled = F.concat(F.col("text"), tail)
    repaired = T.repair_mojibake(garbled)
    return d.select(
        "doc_id",
        repaired.alias("text"),
        (repaired != garbled).alias("had_mojibake"),
        (F.length(garbled) - F.length(repaired)).alias("n_chars_fixed"),
    ).orderBy("doc_id")


def _mojibake_sql() -> str:
    """Replace-chain twin of repair_mojibake: same computed pair table,
    same longest-first order, garbled input built from the same
    to_mojibake fixtures."""
    from web_crawler_spark.functions.text import MOJIBAKE_PAIRS, to_mojibake

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    moji = [to_mojibake(s) for s in _MOJI_CLEAN_SUFFIXES]
    expr = "garbled"
    for bad, good in MOJIBAKE_PAIRS:
        expr = f"replace({expr}, {q(bad)}, {q(good)})"
    return f"""
WITH g AS (
  SELECT doc_id,
         text || CASE CAST(doc_id % 4 AS INTEGER)
                   WHEN 0 THEN {q(moji[0])}
                   WHEN 1 THEN {q(moji[1])}
                   WHEN 2 THEN {q(moji[2])}
                   ELSE '' END AS garbled
  FROM documents
),
r AS (SELECT doc_id, garbled, {expr} AS text FROM g)
SELECT doc_id, text, text <> garbled AS had_mojibake,
       LENGTH(garbled) - LENGTH(text) AS n_chars_fixed
FROM r ORDER BY doc_id
"""


def _q_bpe_train(spark, sf_dir):
    """Distributed BPE merge training (functions/bpe.py::
    train_bpe_distributed — Sennrich alg. 1 over the DataFrame corpus):
    10 greedy merge rounds over the documents table. The wrapped-symbol
    string representation makes each round's merge ONE built-in replace
    (left-to-right non-overlap IS the BPE rule), so the oracle unrolls
    all 10 rounds — pair explode, count argmax with the max-lexicographic
    tie-break, replace application — into chained DuckDB CTEs and the
    merge table matches value-for-value."""
    from web_crawler_spark.functions.bpe import train_bpe_distributed

    d = _t(spark, sf_dir, "documents")
    return train_bpe_distributed(d, "text", n_merges=10).orderBy("step")


def _bpe_train_sql(n_merges: int = 10) -> str:
    """Unrolled BPE training rounds — the exact algebra of
    train_bpe_distributed (sentinel-wrapped symbols, replace-as-merge)."""
    sep = "chr(31)"
    head = r"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text),
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS w
  FROM documents
),
v0 AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS freq,
         regexp_replace(w, '(.)', chr(31) || '\1' || chr(31), 'g')
           || chr(31) || '</w>' || chr(31) AS sym
  FROM words
  WHERE w NOT LIKE '%' || chr(31) || '%'
  GROUP BY w
)"""
    parts = [head]
    for t in range(1, n_merges + 1):
        parts.append(f""",
s{t} AS (
  SELECT freq,
         string_split(trim(sym, {sep}), {sep} || {sep}) AS syms
  FROM v{t-1}
),
p{t} AS (
  SELECT syms[i] AS l, syms[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM s{t}, UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
  GROUP BY 1, 2
),
m{t} AS MATERIALIZED (
  SELECT {t} AS step, l, r, cnt FROM p{t}
  WHERE cnt >= 2 ORDER BY cnt DESC, l DESC, r DESC LIMIT 1
),
v{t} AS MATERIALIZED (
  SELECT v.freq,
         CASE WHEN m.l IS NULL THEN v.sym
              ELSE replace(v.sym,
                           {sep} || m.l || {sep} || {sep} || m.r || {sep},
                           {sep} || m.l || m.r || {sep})
         END AS sym
  FROM v{t-1} v LEFT JOIN m{t} m ON TRUE
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT step, l, r, cnt FROM m{t}" for t in range(1, n_merges + 1)
    )
    parts.append(f"""
SELECT step, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_count
FROM ({union}) ORDER BY step""")
    return "".join(parts)


def _q_article_assembly(spark, sf_dir):
    """Pagination-chain assembly (operators/pagination.py): ~200 articles
    split over 1-5 pages each declare ``<link rel=next>`` in alternating
    attribute orders; the operator extracts the links, roots every page
    at its chain head via reversed-edge pointer doubling, and reassembles
    full_text in chain order. The oracle replays the same two RE2
    extraction regexes, a recursive prev-walk with the 32-hop cap, and
    an ORDER BY string_agg — article heads, page counts, and the
    assembled text all value-certified."""
    from web_crawler_spark.operators.pagination import assemble_articles

    e = _t(spark, sf_dir, "events")
    aids = e.select((F.col("event_id") % 200).alias("aid")).distinct()
    parts = aids.select(
        "aid",
        F.explode(F.sequence(F.lit(0), F.col("aid") % 5)).alias("j"),
    )
    a_s = F.col("aid").cast("string")
    j_s = F.col("j").cast("string")
    base = F.concat(F.lit("https://news.ex/a"), a_s, F.lit("/p"))
    url = F.concat(base, j_s)
    nxt = F.concat(base, (F.col("j") + 1).cast("string"))
    link = F.when(
        F.col("aid") % 2 == 0,
        F.concat(F.lit('<link rel="next" href="'), nxt, F.lit('">')),
    ).otherwise(
        F.concat(F.lit('<link href="'), nxt, F.lit('" rel="next">'))
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(F.col("j") < F.col("aid") % 5, link).otherwise(F.lit("")),
        F.lit("</head><body>B</body></html>"),
    )
    text = F.concat(F.lit("A"), a_s, F.lit(" part "), j_s)
    pages = parts.select(
        url.alias("url"), html.alias("html"), text.alias("text")
    )
    return assemble_articles(pages).orderBy("article_url")


_SQL_ARTICLE_ASSEMBLY = r"""
WITH RECURSIVE aids AS (SELECT DISTINCT event_id % 200 AS aid FROM events),
parts AS (SELECT aid, unnest(generate_series(0, aid % 5)) AS j FROM aids),
pages AS (
  SELECT concat('https://news.ex/a', CAST(aid AS VARCHAR), '/p',
                CAST(j AS VARCHAR)) AS url,
         concat('<html><head>',
           CASE WHEN j < aid % 5 THEN
             CASE WHEN aid % 2 = 0
               THEN concat('<link rel="next" href="https://news.ex/a',
                           CAST(aid AS VARCHAR), '/p',
                           CAST(j + 1 AS VARCHAR), '">')
               ELSE concat('<link href="https://news.ex/a',
                           CAST(aid AS VARCHAR), '/p',
                           CAST(j + 1 AS VARCHAR), '" rel="next">')
             END
           ELSE '' END,
           '</head><body>B</body></html>') AS html,
         concat('A', CAST(aid AS VARCHAR), ' part ',
                CAST(j AS VARCHAR)) AS text
  FROM parts
),
nxt AS (
  SELECT src, dst FROM (
    SELECT url AS src,
           COALESCE(
             NULLIF(regexp_extract(substr(html, 1, 4096),
               '(?is)<link\b[^>]*\brel\s*=\s*(?:"next"|''next''|next[\s>])[^>]*\bhref\s*=\s*["'']?([^"''\s>]+)',
               1), ''),
             NULLIF(regexp_extract(substr(html, 1, 4096),
               '(?is)<link\b[^>]*\bhref\s*=\s*["'']?([^"''\s>]+)["'']?[^>]*\brel\s*=\s*(?:"next"|''next''|next[\s>])',
               1), '')
           ) AS dst
    FROM pages
  ) WHERE dst IS NOT NULL AND dst <> src
),
prev AS (SELECT dst AS src, MIN(src) AS dst FROM nxt GROUP BY 1),
walk AS (
  SELECT src AS url, dst AS cur, CAST(1 AS BIGINT) AS hops FROM prev
  UNION ALL
  SELECT w.url, p.dst, w.hops + 1
  FROM walk w JOIN prev p ON p.src = w.cur WHERE w.hops < 32
),
rooted AS (
  SELECT url, cur AS head, hops,
         cur NOT IN (SELECT src FROM prev) AS ok
  FROM walk
  QUALIFY row_number() OVER (PARTITION BY url ORDER BY hops DESC) = 1
),
placed AS (
  SELECT COALESCE(r.head, g.url) AS article,
         COALESCE(r.hops, 0) AS p,
         COALESCE(r.ok, TRUE) AS keep,
         g.url AS pu, g.text AS t
  FROM pages g LEFT JOIN rooted r ON r.url = g.url
)
SELECT article AS article_url,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       string_agg(t, chr(10) ORDER BY p, pu, t) AS full_text
FROM placed WHERE keep GROUP BY article ORDER BY article_url
"""


def _q_hreflang_clusters(spark, sf_dir):
    """hreflang variant clustering (operators/hreflang.py): 150 logical
    documents in three regimes — partially-declared en/fr pairs (only the
    en page declares, closure must still group), fully-mutual en/fr/de
    triples with an x-default on the en page, and singletons. Attribute
    orders alternate by cid parity. The oracle replays the tag regexps,
    the recursive closure, and the per-cluster distinct-lang counts."""
    from web_crawler_spark.operators.hreflang import hreflang_clusters

    e = _t(spark, sf_dir, "events")
    cids = e.select((F.col("event_id") % 150).alias("cid")).distinct()
    m3 = F.col("cid") % 3
    langs = (
        F.when(m3 == 0, F.array(F.lit("en"), F.lit("fr")))
        .when(m3 == 1, F.array(F.lit("en"), F.lit("fr"), F.lit("de")))
        .otherwise(F.array(F.lit("en")))
    )
    pg = cids.select("cid", F.explode(langs).alias("lang"))
    cid_s = F.col("cid").cast("string")

    def vurl(lang_lit):
        return F.concat(
            F.lit("https://ml.ex/"), F.lit(lang_lit), F.lit("/d"), cid_s
        )

    def tag(lang_lit, href_lang):
        u = vurl(href_lang)
        return F.when(
            F.col("cid") % 2 == 0,
            F.concat(
                F.lit('<link rel="alternate" hreflang="'), F.lit(lang_lit),
                F.lit('" href="'), u, F.lit('">'),
            ),
        ).otherwise(
            F.concat(
                F.lit('<link hreflang="'), F.lit(lang_lit),
                F.lit('" href="'), u, F.lit('" rel="alternate">'),
            )
        )

    xdef = tag("x-default", "en")
    is_en = F.col("lang") == "en"
    body = (
        F.when(
            (m3 == 0) & is_en, F.concat(tag("fr", "fr"), xdef)
        )
        .when(
            m3 == 1,
            F.concat(
                F.when(~is_en, tag("en", "en")).otherwise(F.lit("")),
                F.when(F.col("lang") != "fr", tag("fr", "fr")).otherwise(F.lit("")),
                F.when(F.col("lang") != "de", tag("de", "de")).otherwise(F.lit("")),
                F.when(is_en, xdef).otherwise(F.lit("")),
            ),
        )
        .otherwise(F.lit(""))
    )
    pages = pg.select(
        F.concat(F.lit("https://ml.ex/"), F.col("lang"), F.lit("/d"), cid_s)
        .alias("url"),
        F.concat(F.lit("<html><head>"), body, F.lit("</head></html>"))
        .alias("html"),
    )
    return hreflang_clusters(pages).orderBy("url")


_SQL_HREFLANG_CLUSTERS = r"""
WITH RECURSIVE cids AS (SELECT DISTINCT event_id % 150 AS cid FROM events),
pg AS (
  SELECT cid, unnest(CASE WHEN cid % 3 = 0 THEN ['en', 'fr']
                          WHEN cid % 3 = 1 THEN ['en', 'fr', 'de']
                          ELSE ['en'] END) AS lang
  FROM cids
),
pages AS (
  SELECT concat('https://ml.ex/', lang, '/d', CAST(cid AS VARCHAR)) AS url,
         concat('<html><head>',
           CASE
             WHEN cid % 3 = 0 AND lang = 'en' THEN
               CASE WHEN cid % 2 = 0 THEN
                 concat('<link rel="alternate" hreflang="fr" href="https://ml.ex/fr/d', CAST(cid AS VARCHAR), '">',
                        '<link rel="alternate" hreflang="x-default" href="https://ml.ex/en/d', CAST(cid AS VARCHAR), '">')
               ELSE
                 concat('<link hreflang="fr" href="https://ml.ex/fr/d', CAST(cid AS VARCHAR), '" rel="alternate">',
                        '<link hreflang="x-default" href="https://ml.ex/en/d', CAST(cid AS VARCHAR), '" rel="alternate">')
               END
             WHEN cid % 3 = 1 THEN
               CASE WHEN cid % 2 = 0 THEN concat(
                 CASE WHEN lang <> 'en' THEN concat('<link rel="alternate" hreflang="en" href="https://ml.ex/en/d', CAST(cid AS VARCHAR), '">') ELSE '' END,
                 CASE WHEN lang <> 'fr' THEN concat('<link rel="alternate" hreflang="fr" href="https://ml.ex/fr/d', CAST(cid AS VARCHAR), '">') ELSE '' END,
                 CASE WHEN lang <> 'de' THEN concat('<link rel="alternate" hreflang="de" href="https://ml.ex/de/d', CAST(cid AS VARCHAR), '">') ELSE '' END,
                 CASE WHEN lang = 'en' THEN concat('<link rel="alternate" hreflang="x-default" href="https://ml.ex/en/d', CAST(cid AS VARCHAR), '">') ELSE '' END)
               ELSE concat(
                 CASE WHEN lang <> 'en' THEN concat('<link hreflang="en" href="https://ml.ex/en/d', CAST(cid AS VARCHAR), '" rel="alternate">') ELSE '' END,
                 CASE WHEN lang <> 'fr' THEN concat('<link hreflang="fr" href="https://ml.ex/fr/d', CAST(cid AS VARCHAR), '" rel="alternate">') ELSE '' END,
                 CASE WHEN lang <> 'de' THEN concat('<link hreflang="de" href="https://ml.ex/de/d', CAST(cid AS VARCHAR), '" rel="alternate">') ELSE '' END,
                 CASE WHEN lang = 'en' THEN concat('<link hreflang="x-default" href="https://ml.ex/en/d', CAST(cid AS VARCHAR), '" rel="alternate">') ELSE '' END)
               END
             ELSE ''
           END,
           '</head></html>') AS html
  FROM pg
),
tags AS (
  SELECT url, unnest(regexp_extract_all(substr(html, 1, 4096),
                                        '(?is)<link\b[^>]*>')) AS tag
  FROM pages
),
ed AS (
  SELECT url,
         lower(regexp_extract(tag,
               '(?is)\bhreflang\s*=\s*["'']?([A-Za-z0-9-]+)', 1)) AS lang,
         regexp_extract(tag, '(?is)\bhref\s*=\s*["'']?([^"''\s>]+)', 1)
           AS variant
  FROM tags
  WHERE regexp_matches(tag, '(?is)\brel\s*=\s*["'']?[^"''>]*\balternate\b')
    AND regexp_matches(tag, '(?is)\bhreflang\s*=')
),
edc AS (SELECT url, lang, variant FROM ed
        WHERE lang <> '' AND variant <> ''),
pairs AS (
  SELECT DISTINCT url AS a, variant AS b FROM edc WHERE url <> variant
),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
minreach AS (SELECT u, MIN(v) AS minv FROM reach GROUP BY u),
labs AS (
  SELECT p.url,
         COALESCE(LEAST(p.url, m.minv), p.url) AS cluster_id
  FROM pages p LEFT JOIN minreach m ON p.url = m.u
),
lc AS (
  SELECT l.cluster_id, COUNT(DISTINCT e.lang) AS n_langs
  FROM edc e JOIN labs l ON l.url = e.url
  GROUP BY l.cluster_id
)
SELECT labs.url, labs.cluster_id,
       CAST(COALESCE(lc.n_langs, 0) AS BIGINT) AS n_langs
FROM labs LEFT JOIN lc ON lc.cluster_id = labs.cluster_id
ORDER BY labs.url
"""


_WINNOW_K, _WINNOW_W = 4, 4
_WINNOW_BOILER = (
    "winnow shared passage alpha beta gamma delta epsilon zeta eta theta "
    "iota kappa lam mu nu xi omicron pi rho sigma tau upsilon phi"
)


def _winnow_sql_parts(source_sql: str, k: int, w: int) -> str:
    """Shared DuckDB CTE chain computing winnowing selections exactly:
    k-gram md5-60bit hashes, least(w, n_grams) windows, rightmost argmin
    per window, distinct (doc_id, pos, fp) after parallel unnest."""
    return f"""
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
  FROM ({source_sql})
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(tk) - {k} + 1 >= 1 THEN
      list_transform(range(0, len(tk) - {k} + 1), i ->
        TRY_CAST(concat('0x', substr(md5(
          array_to_string(list_slice(tk, i + 1, i + {k}), ' ')), 1, 15))
        AS BIGINT))
    ELSE CAST([] AS BIGINT[]) END AS h
  FROM toks
),
wins AS (
  SELECT doc_id, h, least({w}, len(h)) AS wl FROM grams
),
sel AS (
  SELECT doc_id,
    CASE WHEN len(h) >= 1 THEN
      list_transform(range(0, len(h) - wl + 1), i ->
        list_filter(range(i, i + wl),
                    j -> h[j + 1] = list_min(list_slice(h, i + 1, i + wl)))[-1])
    ELSE CAST([] AS BIGINT[]) END AS poss,
    CASE WHEN len(h) >= 1 THEN
      list_transform(range(0, len(h) - wl + 1), i ->
        list_min(list_slice(h, i + 1, i + wl)))
    ELSE CAST([] AS BIGINT[]) END AS fps
  FROM wins
),
fp AS (
  SELECT DISTINCT doc_id, CAST(unnest(poss) AS INT) AS pos, unnest(fps) AS fp
  FROM sel
)"""


def _q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. 2003 / MOSS) over the first
    150 documents — the full selection algebra (k-gram 60-bit hashes,
    sliding min-window, rightmost tie-break) value-certified against a
    DuckDB list-lambda twin. Zero-shuffle scan stage."""
    from web_crawler_spark.operators.dedup import winnow_fingerprints

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return winnow_fingerprints(d, k=_WINNOW_K, w=_WINNOW_W).orderBy(
        "doc_id", "pos"
    )


def _sql_winnow_fingerprints() -> str:
    parts = _winnow_sql_parts(
        "SELECT doc_id, text FROM documents WHERE doc_id < 150",
        _WINNOW_K, _WINNOW_W,
    )
    return f"WITH {parts}\nSELECT doc_id, pos, fp FROM fp ORDER BY doc_id, pos"


def _q_winnow_pairs(spark, sf_dir):
    """MOSS-style overlap pairs: a 23-token boilerplate passage appended to
    every doc_id%11==0 document plants guaranteed-detectable overlaps
    (shared run ≥ w+k−1 tokens ⇒ ≥1 shared fingerprint — the winnowing
    locality guarantee); pairs sharing ≥2 fingerprint hashes scored by
    n_common/min(n_a,n_b). Oracle recomputes the entire pipeline."""
    from web_crawler_spark.operators.dedup import winnow_overlap_pairs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" " + _WINNOW_BOILER)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return winnow_overlap_pairs(
        d, k=_WINNOW_K, w=_WINNOW_W, min_common=2
    ).orderBy("id_a", "id_b")


def _sql_winnow_pairs() -> str:
    src = (
        "SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN "
        f"text || ' {_WINNOW_BOILER}' ELSE text END AS text FROM documents"
    )
    parts = _winnow_sql_parts(src, _WINNOW_K, _WINNOW_W)
    return f"""
WITH {parts},
fset AS (SELECT DISTINCT doc_id, fp FROM fp),
counts AS (SELECT doc_id, count(*) AS n_fp FROM fset GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM fset a JOIN fset b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 2
)
SELECT p.id_a, p.id_b, p.n_common,
       ca.n_fp AS n_a, cb.n_fp AS n_b,
       ROUND(p.n_common / least(ca.n_fp, cb.n_fp), 6) AS overlap
FROM pairs p
JOIN counts ca ON ca.doc_id = p.id_a
JOIN counts cb ON cb.doc_id = p.id_b
ORDER BY id_a, id_b
"""


def _q_winnow_spans(spark, sf_dir):
    """Shared-passage SPAN extraction (the MOSS report stage): winnowing
    fingerprint matches on the same alignment diagonal chained into
    maximal spans with token offsets in BOTH documents; the planted
    boilerplate passage must surface as one span per planted pair. The
    full chain — selection algebra, fp match join, gaps-and-islands — is
    oracle-replayed exactly."""
    from web_crawler_spark.operators.dedup import winnow_shared_spans

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" " + _WINNOW_BOILER)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return winnow_shared_spans(
        d, k=_WINNOW_K, w=_WINNOW_W, min_fps=2
    ).orderBy("id_a", "id_b", "start_a", "start_b")


def _sql_winnow_spans() -> str:
    k, w = _WINNOW_K, _WINNOW_W
    src = (
        "SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN "
        f"text || ' {_WINNOW_BOILER}' ELSE text END AS text "
        "FROM documents WHERE doc_id < 150"
    )
    parts = _winnow_sql_parts(src, k, w)
    return f"""
WITH {parts},
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
seg AS (
  SELECT *, CASE WHEN pos_a - lag(pos_a) OVER (
      PARTITION BY id_a, id_b, diag ORDER BY pos_a) > {w}
    THEN 1 ELSE 0 END AS nw
  FROM m
),
isl AS (
  SELECT *, SUM(nw) OVER (
      PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS sg
  FROM seg
)
SELECT id_a, id_b,
       CAST(min(pos_a) AS INT) AS start_a,
       CAST(max(pos_a) + {k} - 1 AS INT) AS end_a,
       CAST(min(pos_b) AS INT) AS start_b,
       CAST(max(pos_b) + {k} - 1 AS INT) AS end_b,
       count(*) AS n_fps
FROM isl GROUP BY id_a, id_b, diag, sg
HAVING count(*) >= 2
ORDER BY id_a, id_b, start_a, start_b
"""


def _jsonld_pages(spark, sf_dir):
    """Synthetic pages with embedded schema.org JSON-LD: every doc_id%3==0
    page declares an Article/Product record (headline + wordCount from the
    doc's real token count), doc_id%15==0 adds a second async block, and
    doc_id%21==0 plants a MALFORMED payload that must null-out, not fail."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    n_tok = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    block = F.concat(
        F.lit('<script type="application/ld+json">'
              '{"@context":"https://schema.org","@type":"'),
        F.when(F.col("doc_id") % 2 == 0, F.lit("Article")).otherwise(
            F.lit("Product")
        ),
        F.lit('","headline":"Doc '),
        F.col("doc_id").cast("string"),
        F.lit('","wordCount":'),
        n_tok.cast("string"),
        F.lit("}</script>"),
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(F.col("doc_id") % 3 == 0, block).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 15 == 0,
            F.lit('<script type="application/ld+json" async>'
                  '{"@type":"BreadcrumbList"}</script>'),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 21 == 0,
            F.lit('<script type="application/ld+json">{oops</script>'),
        ).otherwise(F.lit("")),
        F.lit("</head><body>page</body></html>"),
    )
    return d.select(
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        html.alias("html"),
    )


_JSONLD_PAGES_SQL = """
  SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         '<html><head>'
         || CASE WHEN doc_id % 3 = 0 THEN
              '<script type="application/ld+json">{"@context":"https://schema.org","@type":"'
              || CASE WHEN doc_id % 2 = 0 THEN 'Article' ELSE 'Product' END
              || '","headline":"Doc ' || CAST(doc_id AS VARCHAR)
              || '","wordCount":'
              || CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS VARCHAR)
              || '}</script>'
            ELSE '' END
         || CASE WHEN doc_id % 15 = 0 THEN
              '<script type="application/ld+json" async>{"@type":"BreadcrumbList"}</script>'
            ELSE '' END
         || CASE WHEN doc_id % 21 = 0 THEN
              '<script type="application/ld+json">{oops</script>'
            ELSE '' END
         || '</head><body>page</body></html>' AS html
  FROM documents WHERE doc_id < 400
"""


def _q_jsonld_extract(spark, sf_dir):
    """schema.org JSON-LD record extraction (the Web Data Commons workload
    over Common Crawl): ld+json script blocks isolated by an RE2-portable
    regexp, @type/headline/wordCount pulled by JSON path; malformed
    payloads null out instead of failing the stage. Pure column
    projection — zero shuffle."""
    from web_crawler_spark.plans.structured import jsonld_records

    pages = _jsonld_pages(spark, sf_dir)
    return (
        jsonld_records(
            pages,
            fields={"headline": "$.headline", "word_count": "$.wordCount"},
        )
        .select(
            "url",
            F.col("block_idx").cast("int").alias("block_idx"),
            "rtype",
            "headline",
            F.col("word_count").cast("long").alias("word_count"),
        )
        .orderBy("url", "block_idx")
    )


def _sql_jsonld_extract() -> str:
    return f"""
WITH pages AS ({_JSONLD_PAGES_SQL}),
blocks AS (
  SELECT url, unnest(b) AS json,
         unnest(range(0, len(b))) AS block_idx
  FROM (
    SELECT url, regexp_extract_all(html,
      '(?s)<script[^>]*type="application/ld\\+json"[^>]*>(.*?)</script>', 1) AS b
    FROM pages)
)
SELECT url, CAST(block_idx AS INT) AS block_idx,
       CASE WHEN json_valid(json)
            THEN json_extract_string(json, '$."@type"') END AS rtype,
       CASE WHEN json_valid(json)
            THEN json_extract_string(json, '$.headline') END AS headline,
       CAST(CASE WHEN json_valid(json)
            THEN json_extract_string(json, '$.wordCount') END AS BIGINT)
         AS word_count
FROM blocks
ORDER BY url, block_idx
"""


def _q_opengraph_tags(spark, sf_dir):
    """OpenGraph <meta> tag extraction, attribute-order-independent: tags
    isolated whole, property/content pulled per-tag — so content-first
    order parses identically; non-og metas and property-only tags drop.
    Pure column projection, zero shuffle."""
    from web_crawler_spark.plans.structured import opengraph_tags

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    html = F.concat(
        F.lit('<head><meta charset="utf-8">'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit('<meta property="og:title" content="T'),
                F.col("doc_id").cast("string"), F.lit('">'),
            ),
        ).otherwise(
            F.concat(
                F.lit('<meta content="D'),
                F.col("doc_id").cast("string"),
                F.lit('" property="og:description">'),
            )
        ),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit('<meta name="viewport" content="width=device-width">'),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0, F.lit('<meta property="og:locale">')
        ).otherwise(F.lit("")),
        F.lit("</head>"),
    )
    pages = d.select(
        F.concat(F.lit("https://m.example/"), F.col("doc_id").cast("string"))
        .alias("url"),
        html.alias("html"),
    )
    return opengraph_tags(pages).orderBy("url", "prop")


def _sql_opengraph_tags() -> str:
    return """
WITH pages AS (
  SELECT 'https://m.example/' || CAST(doc_id AS VARCHAR) AS url,
         '<head><meta charset="utf-8">'
         || CASE WHEN doc_id % 2 = 0 THEN
              '<meta property="og:title" content="T' || CAST(doc_id AS VARCHAR) || '">'
            ELSE
              '<meta content="D' || CAST(doc_id AS VARCHAR) || '" property="og:description">'
            END
         || CASE WHEN doc_id % 5 = 0 THEN
              '<meta name="viewport" content="width=device-width">' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN
              '<meta property="og:locale">' ELSE '' END
         || '</head>' AS html
  FROM documents WHERE doc_id < 400
),
tags AS (
  SELECT url, unnest(regexp_extract_all(html, '(?s)<meta\\s[^>]*>', 0)) AS tag
  FROM pages
)
SELECT url,
       regexp_extract(tag, 'property="([^"]+)"', 1) AS prop,
       regexp_extract(tag, 'content="([^"]*)"', 1) AS content
FROM tags
WHERE regexp_extract(tag, 'property="([^"]+)"', 1) LIKE 'og:%'
  AND regexp_matches(tag, 'content="')
ORDER BY url, prop
"""


def _q_dust_rules(spark, sf_dir):
    """DUST alias-rule mining (Bar-Yossef et al. 2007): three planted
    alias families over a synthetic URL table ('/index.html' suffix,
    'www.' host prefix, '?print=1' param) must factor into exactly those
    substitution rules with exact witness supports; the star pairing,
    zip_with prefix/suffix factoring, and support counts are all
    oracle-replayed."""
    from web_crawler_spark.operators.urlfilter import dust_rules

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 360)
    base = d.select(
        F.col("doc_id").alias("fingerprint"),
        F.concat(F.lit("https://ex.com/p/"), F.col("doc_id").cast("string"))
        .alias("url"),
    )
    a1 = base.filter(F.col("fingerprint") % 3 == 0).select(
        "fingerprint", F.concat("url", F.lit("/index.html")).alias("url")
    )
    a2 = d.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("fingerprint"),
        F.concat(
            F.lit("https://www.ex.com/p/"), F.col("doc_id").cast("string")
        ).alias("url"),
    )
    a3 = base.filter(F.col("fingerprint") % 5 == 0).select(
        "fingerprint", F.concat("url", F.lit("?print=1")).alias("url")
    )
    urls = base.unionByName(a1).unionByName(a2).unionByName(a3)
    return dust_rules(urls, min_support=3).orderBy(
        F.desc("support"), "alpha", "beta"
    )


_SQL_DUST_RULES = """
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < 360),
base AS (
  SELECT doc_id AS fp,
         'https://ex.com/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM docs
),
urls AS (
  SELECT * FROM base
  UNION ALL SELECT fp, url || '/index.html' FROM base WHERE fp % 3 = 0
  UNION ALL SELECT doc_id AS fp,
    'https://www.ex.com/p/' || CAST(doc_id AS VARCHAR) FROM docs
    WHERE doc_id % 4 = 0
  UNION ALL SELECT fp, url || '?print=1' FROM base WHERE fp % 5 = 0
),
mn AS (SELECT fp, min(url) AS v FROM urls GROUP BY fp),
pairs AS (
  SELECT u.url AS u, m.v FROM urls u
  JOIN mn m ON u.fp = m.fp AND u.url <> m.v
),
fac AS (
  SELECT u, v, least(length(u), length(v)) AS n,
    coalesce(list_filter(range(1, least(length(u), length(v)) + 1),
      i -> substr(u, CAST(i AS INT), 1) <> substr(v, CAST(i AS INT), 1))[1],
      0) AS pm,
    coalesce(list_filter(range(1, least(length(u), length(v)) + 1),
      i -> substr(reverse(u), CAST(i AS INT), 1)
           <> substr(reverse(v), CAST(i AS INT), 1))[1], 0) AS sm
  FROM pairs
),
r AS (
  SELECT u, v,
    CASE WHEN pm > 0 THEN pm - 1 ELSE n END AS lcp,
    least(CASE WHEN sm > 0 THEN sm - 1 ELSE n END,
          n - (CASE WHEN pm > 0 THEN pm - 1 ELSE n END)) AS lcs
  FROM fac
),
rules AS (
  SELECT substr(u, CAST(lcp + 1 AS INT),
                CAST(length(u) - lcp - lcs AS INT)) AS alpha,
         substr(v, CAST(lcp + 1 AS INT),
                CAST(length(v) - lcp - lcs AS INT)) AS beta
  FROM r
)
SELECT alpha, beta, count(*) AS support
FROM rules
WHERE length(alpha) <= 40 AND length(beta) <= 40
GROUP BY alpha, beta HAVING count(*) >= 3
ORDER BY support DESC, alpha, beta
"""


def _q_readability(spark, sf_dir):
    """Flesch reading-ease gate (Flesch 1948): words/sentences/vowel-group
    syllables as deterministic column proxies, the classic readability
    formula on top; zero-shuffle projection, every count and the rounded
    score oracle-replayed."""
    from web_crawler_spark.operators.corpus import readability_scores

    return readability_scores(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


_SQL_READABILITY = r"""
WITH base AS (
  SELECT doc_id,
    CASE WHEN trim(lower(text)) = '' THEN 0
         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_words,
    greatest(len(regexp_extract_all(lower(text), '[.!?]+', 0)), 1)
      AS n_sentences,
    len(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS n_syllables
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       CASE WHEN n_words > 0 THEN
         ROUND(206.835
               - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
               6) END AS flesch
FROM base ORDER BY doc_id
"""


def _q_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth in ONE pass: a term enters the
    vocabulary at its min doc_id, so the curve is a cumulative sum of
    per-doc first-occurrence counts — no per-prefix rescans. Exact oracle
    over the full curve."""
    from web_crawler_spark.operators.corpus import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents")).orderBy("doc_id")


_SQL_VOCAB_GROWTH = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
first AS (SELECT term, min(doc_id) AS first_doc FROM toks GROUP BY term),
npd AS (SELECT first_doc AS doc_id, count(*) AS new_terms FROM first GROUP BY 1),
tpd AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1)
SELECT t.doc_id,
       CAST(coalesce(n.new_terms, 0) AS BIGINT) AS new_terms,
       CAST(SUM(coalesce(n.new_terms, 0)) OVER (ORDER BY t.doc_id) AS BIGINT)
         AS vocab_size,
       CAST(SUM(t.n_tokens) OVER (ORDER BY t.doc_id) AS BIGINT) AS cum_tokens
FROM tpd t LEFT JOIN npd n ON n.doc_id = t.doc_id
ORDER BY t.doc_id
"""


def _q_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency OLS fit over the top-500 terms: slope ≈ −1 on
    natural text, deviations flag boilerplate floods / generated spam.
    The OLS sums are rank-ordered IEEE folds, so slope/intercept/r2 are
    oracle-exact, not approximately-equal."""
    from web_crawler_spark.operators.corpus import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), max_rank=500)


_SQL_ZIPF_FIT = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
freqs AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
ranked AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y, rank
  FROM (
    SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
    FROM freqs)
  WHERE rank BETWEEN 1 AND 500
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(count(*) AS BIGINT) AS n_ranks,
         list_reduce(list(x ORDER BY rank), (a, b) -> a + b) AS sx,
         list_reduce(list(y ORDER BY rank), (a, b) -> a + b) AS sy,
         list_reduce(list(x * x ORDER BY rank), (a, b) -> a + b) AS sxx,
         list_reduce(list(y * y ORDER BY rank), (a, b) -> a + b) AS syy,
         list_reduce(list(x * y ORDER BY rank), (a, b) -> a + b) AS sxy
  FROM ranked
)
SELECT n_ranks,
       ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
       ROUND((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx) / n, 6)
         AS intercept,
       ROUND(((sxy - sx * sy / n) * (sxy - sx * sy / n))
             / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2
FROM s
"""


def _q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    BM25 top-10 (sparse) fused with brute-force cosine top-10 (dense)
    over the shared id space — rank-based, so the incomparable score
    scales need no calibration; fused scores are ordered IEEE folds and
    oracle-exact."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    b = C.bm25_topk(d, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B)
    br = b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("rank"),
    )
    a = SIM.cosine_topk(emb, _query_vector(spark, sf_dir), k=10)
    ar = a.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "vec_id"))
        .alias("rank"),
    )
    return C.rrf_fuse([br, ar], k=60).orderBy(
        F.desc("rrf_score"), "doc_id"
    )


def _sql_hybrid_rrf() -> str:
    return f"""
WITH b AS ({_sql_bm25_topk()}),
a AS ({_SQL_ANN_COSINE}),
br AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM b
),
ar AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank FROM a
),
u AS (
  SELECT doc_id, 0 AS sys,
         1.0 / (60.0 + CAST(rank AS DOUBLE)) AS c FROM br
  UNION ALL
  SELECT doc_id, 1 AS sys,
         1.0 / (60.0 + CAST(rank AS DOUBLE)) AS c FROM ar
)
SELECT doc_id,
       ROUND(list_reduce(list(c ORDER BY sys), (p, q) -> p + q), 6)
         AS rrf_score,
       CAST(count(*) AS INT) AS n_systems
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id
"""


def _q_allpairs_jaccard(spark, sf_dir):
    """Exact all-pairs Jaccard join with lossless prefix filtering
    (operators/dedup.py::allpairs_jaccard_join — Bayardo et al. 2007):
    word-unigram sets over documents at t=0.5. The oracle is the
    BRUTE-FORCE exact self-join — equality certifies that the prefix
    pruning loses no qualifying pair and admits no sub-threshold one,
    not merely that an estimate is close."""
    from web_crawler_spark.operators.dedup import allpairs_jaccard_join

    d = _t(spark, sf_dir, "documents")
    return allpairs_jaccard_join(d, threshold=0.5, n=1).orderBy(
        "id_a", "id_b"
    )


_SQL_ALLPAIRS_JACCARD = r"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS w
  FROM documents WHERE trim(text) <> ''
),
sz AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS sz FROM toks),
inv AS (SELECT doc_id, unnest(w) AS tok FROM toks),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, sa.sz AS size_a, sb.sz AS size_b,
       ROUND(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5
ORDER BY id_a, id_b
"""


def _q_passage_windows(spark, sf_dir):
    """Sliding-window passage extraction (operators/corpus.py::
    passage_windows — RAG/dense-retriever corpus prep): 12-token windows
    every 8 tokens over documents; ids, offsets, short final windows,
    and the passage text itself value-certified against a DuckDB
    list-slice twin."""
    from web_crawler_spark.operators.corpus import passage_windows

    d = _t(spark, sf_dir, "documents")
    return passage_windows(d, window_tokens=12, stride=8).orderBy(
        "doc_id", "passage_id"
    )


_SQL_PASSAGE_WINDOWS = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE trim(text) <> ''
),
st AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(generate_series(0, greatest(len(w) - 1, 0), 8)) AS start_tok
  FROM toks
)
SELECT doc_id,
       CAST(start_tok // 8 AS BIGINT) AS passage_id,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(LEAST(12, n - start_tok) AS BIGINT) AS n_tokens,
       array_to_string(w[start_tok + 1 : start_tok + 12], ' ') AS passage
FROM st ORDER BY doc_id, passage_id
"""


def _q_passage_retrieval(spark, sf_dir):
    """END-TO-END dense passage retrieval — the full RAG corpus path in
    one certified plan: documents → sliding 12-token passages →
    signed-hash TF-IDF embeddings (idf over the PASSAGE corpus) →
    retrieval-by-example cosine top-10 for passage (doc 0, window 0).
    Every stage is the already-certified operator; this query certifies
    their COMPOSITION end to end, including the self-match at rank 1."""
    from web_crawler_spark.functions import hashembed as HE
    from web_crawler_spark.operators.corpus import passage_windows

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    p = passage_windows(d, window_tokens=12, stride=8)
    pdf = p.select(
        (F.col("doc_id") * 1000 + F.col("passage_id")).alias("pid"),
        F.col("passage").alias("text"),
    )
    emb = HE.hash_embed(
        pdf, text_col="text", id_col="pid", dim=64, salt="pret"
    ).localCheckpoint(eager=True)
    qv = [
        float(x)
        for x in emb.filter(F.col("doc_id") == 0).collect()[0]["embedding"]
    ]
    return SIM.cosine_topk(emb, qv, k=10, id_col="doc_id").select(
        F.col("doc_id").alias("pid"), "cosine"
    )


def _sql_passage_retrieval() -> str:
    from web_crawler_spark.functions import hashembed as HE

    cos = _sql_cosine("h.embedding", "q.qv")
    return f"""
WITH ptoks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE trim(text) <> '' AND doc_id < 200
),
pst AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(generate_series(0, greatest(len(w) - 1, 0), 8)) AS start_tok
  FROM ptoks
),
pret AS (
  SELECT doc_id * 1000 + (start_tok // 8) AS doc_id,
         array_to_string(w[start_tok + 1 : start_tok + 12], ' ') AS text
  FROM pst
),
{HE.duckdb_hash_embed_sql(dim=64, salt="pret", table="pret")[1:]},
q AS (SELECT embedding AS qv FROM hembed WHERE doc_id = 0)
SELECT h.doc_id AS pid, ROUND({cos}, 6) AS cosine
FROM hembed h, q
ORDER BY cosine DESC, pid LIMIT 10
"""


def _q_frontier_ucb(spark, sf_dir):
    """UCB1 explore/exploit host scheduling (Auer et al. 2002 applied to
    focused crawling): observed per-host yield plus the exploration bonus
    c·sqrt(ln T / n); never-pulled hosts rank first. Scores and the full
    ranking are oracle-replayed."""
    from web_crawler_spark.operators.snapshots import frontier_ucb

    e = _t(spark, sf_dir, "events")
    seen = e.groupBy(
        F.concat(F.lit("h"), (F.col("user_id") % 30).cast("string"))
        .alias("host")
    ).agg(
        F.count(F.lit(1)).alias("n_pulls"),
        F.sum(F.col("event_id") % 2).alias("total_reward"),
    )
    unseen = spark.createDataFrame(
        [(f"new{i}", 0, 0) for i in range(3)],
        "host string, n_pulls long, total_reward long",
    )
    return frontier_ucb(seen.unionByName(unseen)).orderBy("rank")


_SQL_FRONTIER_UCB = """
WITH seen AS (
  SELECT 'h' || CAST(user_id % 30 AS VARCHAR) AS host,
         count(*) AS n_pulls, SUM(event_id % 2) AS reward
  FROM events GROUP BY 1
),
stats AS (
  SELECT host, n_pulls, reward FROM seen
  UNION ALL
  SELECT 'new' || CAST(x AS VARCHAR) AS host, 0 AS n_pulls, 0 AS reward
  FROM range(3) t(x)
),
tt AS (SELECT CAST(SUM(n_pulls) AS DOUBLE) AS t FROM stats),
scored AS (
  SELECT host, CAST(n_pulls AS BIGINT) AS n_pulls,
    CASE WHEN n_pulls > 0 THEN
      ROUND(CAST(reward AS DOUBLE) / CAST(n_pulls AS DOUBLE), 6)
    END AS mean_reward,
    CASE WHEN n_pulls > 0 THEN
      ROUND(CAST(reward AS DOUBLE) / CAST(n_pulls AS DOUBLE)
            + 1.4142135623730951
              * sqrt(ln(tt.t) / CAST(n_pulls AS DOUBLE)), 6)
    END AS ucb
  FROM stats CROSS JOIN tt
)
SELECT host, n_pulls, mean_reward, ucb,
       CAST(row_number() OVER (
         ORDER BY (n_pulls = 0) DESC, ucb DESC NULLS LAST, host
       ) AS INT) AS rank
FROM scored ORDER BY rank
"""


_FOCUS_ANCHOR_CASE = (
    "CASE CAST(event_id % 6 AS INT) "
    "WHEN 0 THEN 'Spark shuffle tuning guide' "
    "WHEN 1 THEN 'cat pictures gallery' "
    "WHEN 2 THEN 'crawl frontier design notes' "
    "WHEN 3 THEN 'Spark Spark shuffle' "
    "WHEN 4 THEN 'random blog post' ELSE '' END"
)
_FOCUS_TERMS = {
    "spark": 500, "shuffle": 300, "tuning": 200, "crawl": 400,
    "frontier": 250,
}


def _q_focused_priority(spark, sf_dir):
    """Focused-crawl frontier prioritization (Chakrabarti et al. 1999,
    operators/snapshots.focused_priority): uncrawled outlink targets
    ranked by β·anchor-topic overlap + γ·linking-page relevance, max
    over inlinks. Anchors mix on-topic, off-topic, repeated-token
    (distinct-token semantics) and empty cases; some targets are
    already-crawled pages (must be anti-joined out). All weights are
    integer milli-units so every score is exact; the full ranking is
    oracle-replayed."""
    from web_crawler_spark.operators.snapshots import focused_priority

    e = _t(spark, sf_dir, "events")
    hi = F.col("user_id") % 12
    pi = F.col("event_id") % 40
    src = F.concat(
        F.lit("https://h"), hi.cast("string"), F.lit(".com/p"),
        pi.cast("string"),
    )
    dst = F.concat(
        F.lit("https://h"),
        ((F.col("user_id") + F.col("event_id")) % 12).cast("string"),
        F.lit(".com/p"),
        ((F.col("event_id") * 7) % 200).cast("string"),
    )
    links = e.select(
        src.alias("src_url"),
        dst.alias("dst_url"),
        F.expr(_FOCUS_ANCHOR_CASE).alias("anchor"),
    )
    scores = (
        e.select(hi.alias("hi"), pi.alias("pi"))
        .distinct()
        .select(
            F.concat(
                F.lit("https://h"), F.col("hi").cast("string"),
                F.lit(".com/p"), F.col("pi").cast("string"),
            ).alias("url"),
            ((F.col("hi") * 37 + F.col("pi") * 11) % 1000)
            .cast("long")
            .alias("relevance"),
        )
    )
    return focused_priority(links, scores, _FOCUS_TERMS).orderBy("rank")


_SQL_FOCUSED_PRIORITY = """
WITH links AS (
  SELECT DISTINCT
    'https://h' || CAST(user_id % 12 AS VARCHAR) || '.com/p'
      || CAST(event_id % 40 AS VARCHAR) AS src,
    'https://h' || CAST((user_id + event_id) % 12 AS VARCHAR) || '.com/p'
      || CAST((event_id * 7) % 200 AS VARCHAR) AS dst,
    {ANCHOR_CASE} AS anchor
  FROM events
),
terms(term, w) AS (
  VALUES ('spark', 500), ('shuffle', 300), ('tuning', 200),
         ('crawl', 400), ('frontier', 250)
),
scores AS (
  SELECT DISTINCT
    'https://h' || CAST(user_id % 12 AS VARCHAR) || '.com/p'
      || CAST(event_id % 40 AS VARCHAR) AS url,
    CAST(((user_id % 12) * 37 + (event_id % 40) * 11) % 1000 AS BIGINT)
      AS rel
  FROM events
),
edge_scores AS (
  SELECT src, dst, anchor,
         COALESCE((
           SELECT SUM(t.w) FROM terms t
           WHERE list_contains(
             CASE WHEN trim(anchor) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(lower(anchor)), '\\s+') END,
             t.term)
         ), 0) AS a
  FROM links
),
per_edge AS (
  SELECT src, dst, MAX(a) AS anchor_score FROM edge_scores GROUP BY src, dst
),
contrib AS (
  SELECT p.dst, p.anchor_score,
         2 * p.anchor_score + 1 * COALESCE(s.rel, 0) AS contribution
  FROM per_edge p LEFT JOIN scores s ON p.src = s.url
),
per_dst AS (
  SELECT dst, COUNT(*) AS n_inlinks, MAX(anchor_score) AS best_anchor_score,
         MAX(contribution) AS priority
  FROM contrib GROUP BY dst
),
frontier AS (
  SELECT * FROM per_dst WHERE dst NOT IN (SELECT url FROM scores)
)
SELECT dst AS dst_url, n_inlinks,
       CAST(best_anchor_score AS BIGINT) AS best_anchor_score,
       CAST(priority AS BIGINT) AS priority,
       CAST(row_number() OVER (ORDER BY priority DESC, dst) AS INT) AS rank
FROM frontier ORDER BY rank
""".replace("{ANCHOR_CASE}", _FOCUS_ANCHOR_CASE)


def _q_sentence_align(spark, sf_dir):
    """Gale-Church sentence alignment (operators/align): length-based
    bitext bead extraction over synthetic translation pairs — every doc
    gets a tgt variant with uniformly inflated sentence lengths (1-1
    beads), one third drop their last tgt sentence and one third gain an
    extra one (absorbed as 2-1/1-2 merge beads per the paper's priors —
    see tests/test_align.py). The DP itself (erfc emission costs) is
    non-SQL-expressible, but the fixture is DESIGNED so the bead
    STRUCTURE is a pure function of doc_id: n_src = doc_id%4+4 source
    sentences, and the drop/gain/equal regimes force exactly one 2-1 /
    one 1-2 / all-1-1 beads (verified bead-for-bead over all 500
    pairs). The certified frame is therefore the per-pair bead-type
    rollup the oracle derives from doc_id arithmetic — the full DP
    runs end to end, and any alignment regression changes a rollup
    count and hash-fails. Bead-level spans and costs stay pinned by
    tests/test_align.py."""
    from web_crawler_spark.operators.align import gale_church_align

    d = _t(spark, sf_dir, "documents").select("doc_id")
    sents_src = (
        "transform(sequence(0, CAST(doc_id % 4 + 3 AS INT)),"
        " i -> repeat('a', 20 + CAST((doc_id * 7 + i * 13) % 30 AS INT)))"
    )
    sents_tgt = (
        "transform(sequence(0, CAST(doc_id % 4 + 3 AS INT)),"
        " i -> repeat('b', 22 + CAST((doc_id * 7 + i * 13) % 30 AS INT)))"
    )
    pairs = d.select(
        F.col("doc_id").alias("pair_id"),
        F.expr(f"array_join({sents_src}, '. ')").alias("src_text"),
        F.expr(
            f"""array_join(CASE
              WHEN doc_id % 3 = 0 THEN slice({sents_tgt}, 1,
                   CAST(doc_id % 4 + 3 AS INT))
              WHEN doc_id % 3 = 1 THEN concat({sents_tgt},
                   array(repeat('b', 25)))
              ELSE {sents_tgt} END, '. ')"""
        ).alias("tgt_text"),
    )
    beads = gale_church_align(pairs)
    return (
        beads.groupBy("pair_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_beads"),
            F.sum(F.when(F.col("bead_type") == "1-1", 1).otherwise(0))
            .cast("long").alias("n_11"),
            F.sum(F.when(F.col("bead_type") == "2-1", 1).otherwise(0))
            .cast("long").alias("n_21"),
            F.sum(F.when(F.col("bead_type") == "1-2", 1).otherwise(0))
            .cast("long").alias("n_12"),
        )
        .orderBy("pair_id")
    )


_SQL_SENTENCE_ALIGN = """
SELECT doc_id AS pair_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 4 + 3
            ELSE doc_id % 4 + 4 END AS BIGINT) AS n_beads,
       CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 4 + 2
                            WHEN 1 THEN doc_id % 4 + 3
            ELSE doc_id % 4 + 4 END AS BIGINT) AS n_11,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_21,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_12
FROM documents ORDER BY pair_id
"""


def _q_mirror_hosts(spark, sf_dir):
    """Mirror-host detection (Bharat & Broder 1999): m0/m1 share their
    whole fingerprint space (full mirror, overlap 1.0), m2 overlaps half
    of it (0.5, right at the threshold), m3 is disjoint — the oracle
    recomputes the distinct-fp self-join, sizes, and overlap ratio."""
    from web_crawler_spark.operators import dedup as D

    e = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("m"), (F.col("user_id") % 4).cast("string"))
    cid = F.when(F.col("user_id") % 4 == 2,
                 F.col("event_id") % 200 + 100).otherwise(F.col("event_id") % 200)
    fp = F.when(F.col("user_id") % 4 == 3,
                F.md5(F.concat(F.lit("d"), (F.col("event_id") % 200).cast("string"))))\
         .otherwise(F.md5(F.concat(F.lit("c"), cid.cast("string"))))
    pages = e.select(host.alias("host"), fp.alias("fingerprint"))
    return D.mirror_candidates(pages).orderBy("host_a", "host_b")


_SQL_MIRROR_HOSTS = """
WITH hf AS (
  SELECT DISTINCT concat('m', CAST(user_id % 4 AS VARCHAR)) AS host,
         CASE WHEN user_id % 4 = 3
              THEN md5(concat('d', CAST(event_id % 200 AS VARCHAR)))
              WHEN user_id % 4 = 2
              THEN md5(concat('c', CAST(event_id % 200 + 100 AS VARCHAR)))
              ELSE md5(concat('c', CAST(event_id % 200 AS VARCHAR)))
         END AS fp
  FROM events
), sizes AS (
  SELECT host, COUNT(*) AS n FROM hf GROUP BY host
), pairs AS (
  SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS shared
  FROM hf a JOIN hf b ON a.fp = b.fp AND a.host < b.host
  GROUP BY a.host, b.host
)
SELECT host_a, host_b, shared, sa.n AS n_a, sb.n AS n_b,
       ROUND(shared / least(sa.n, sb.n), 6) AS overlap
FROM pairs
JOIN sizes sa ON sa.host = host_a
JOIN sizes sb ON sb.host = host_b
WHERE shared >= 3 AND shared / least(sa.n, sb.n) >= 0.5
ORDER BY host_a, host_b
"""


def _q_dust_params(spark, sf_dir):
    """DUST-rule mining (Bar-Yossef et al. 2007): URLs carry three query
    params with pairwise-coprime moduli (path %11, page %5, sid %7,
    utm %3) and the content fingerprint depends only on (path, page) — so
    'sid' and 'utm' must mine as insignificant (165/385 all-clean
    evidence groups) and 'page' must stay significant (231 groups, none
    clean). Full 0..9999 event_id coverage makes every count exact; the
    oracle states the construction's ground truth."""
    from web_crawler_spark.operators import urlfilter as UF

    e = _t(spark, sf_dir, "events")
    pid = (F.col("event_id") % 11).cast("string")
    page = (F.col("event_id") % 5).cast("string")
    sid = (F.col("event_id") % 7).cast("string")
    utm = (F.col("event_id") % 3).cast("string")
    pages = e.select(
        F.concat(F.lit("https://h.com/p/"), pid, F.lit("?page="), page,
                 F.lit("&sid="), sid, F.lit("&utm="), utm).alias("url"),
        F.md5(F.concat(F.lit("content-"), pid, F.lit("-"), page)
              ).alias("fingerprint"),
    )
    return UF.insignificant_params(pages).orderBy("param")


_SQL_DUST_PARAMS = """
SELECT * FROM (VALUES
  ('page', CAST(231 AS BIGINT), CAST(0 AS BIGINT), false),
  ('sid',  CAST(165 AS BIGINT), CAST(165 AS BIGINT), true),
  ('utm',  CAST(385 AS BIGINT), CAST(385 AS BIGINT), true)
) t(param, evidence_groups, clean_groups, insignificant)
ORDER BY param
"""


def _q_canonical_dedup(spark, sf_dir):
    """rel=canonical collapse over pages synthesized from events: every
    3-group declares one canonical target — via no link (self-canonical),
    a root-relative href, or an href-before-rel protocol-relative link —
    so extraction (both attribute orders), resolution (origin join,
    protocol join) and the self-canonical-first election are all
    value-certified; the oracle derives targets from the same arithmetic."""
    from web_crawler_spark.operators import dedup as D

    e = _t(spark, sf_dir, "events")
    h = (F.col("user_id") % 20).cast("string")
    gid = (F.col("event_id") - F.col("event_id") % 3).cast("string")
    v = F.col("event_id") % 3
    pages = e.select(
        F.concat(F.lit("https://host"), h, F.lit(".example.com/p/"),
                 F.col("event_id").cast("string")).alias("url"),
        F.when(v == 0, F.lit("<html><head></head><body>x</body></html>"))
        .when(v == 1, F.concat(
            F.lit('<html><head><link rel="canonical" href="/p/'), gid,
            F.lit('"></head><body>x</body></html>')))
        .otherwise(F.concat(
            F.lit('<html><head><link href="//host'), h,
            F.lit(".example.com/p/"), gid,
            F.lit('" rel=canonical></head><body>x</body></html>'))).alias("html"),
    )
    return (
        D.canonical_url_dedup(pages)
        .select("url", "canonical_target")
        .orderBy("url")
    )


_SQL_CANONICAL_DEDUP = """
WITH p AS (
  SELECT concat('https://host', CAST(user_id % 20 AS VARCHAR), '.example.com')
           AS origin,
         event_id, event_id - event_id % 3 AS gid
  FROM events
), t AS (
  SELECT concat(origin, '/p/', CAST(event_id AS VARCHAR)) AS url,
         CASE WHEN event_id % 3 = 0
              THEN concat(origin, '/p/', CAST(event_id AS VARCHAR))
              ELSE concat(origin, '/p/', CAST(gid AS VARCHAR)) END
           AS canonical_target
  FROM p
), r AS (
  SELECT url, canonical_target,
         ROW_NUMBER() OVER (
           PARTITION BY canonical_target
           ORDER BY CASE WHEN url = canonical_target THEN 0 ELSE 1 END, url
         ) AS rn
  FROM t
)
SELECT url, canonical_target FROM r WHERE rn = 1 ORDER BY url
"""


def _q_wat_export(spark, sf_dir):
    """WAT metadata export (Common Crawl WARC/WET/WAT triple, third leg):
    pages + outlinks synthesized from events, full record strings —
    headers, urn:uuid record ids, the to_json envelope (title + sorted
    A@/href links, empty Links for link-less pages) and the octet
    Content-Length — value-certified against a DuckDB string-built twin."""
    from web_crawler_spark.plans import report as R

    e = _t(spark, sf_dir, "events")
    ts = F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_interval(
        secs=F.col("event_id").cast("double")
    )
    base = e.select(
        F.concat(
            F.lit("https://host"), (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/p/"), F.col("event_id").cast("string"),
        ).alias("canonical_url"),
        ts.alias("fetch_ts"),
        F.concat(
            F.lit("<html><head><title>Page "), F.col("event_id").cast("string"),
            F.lit("</title></head><body>b</body></html>"),
        ).alias("html"),
        "event_id",
    )
    links = base.filter(F.col("event_id") % 5 != 0).select(
        "canonical_url",
        F.explode(
            F.array(
                F.concat(F.lit("https://t.example.com/"),
                         (F.col("event_id") * 2).cast("string")),
                F.concat(F.lit("https://t.example.com/"),
                         (F.col("event_id") * 2 + 1).cast("string")),
            )
        ).alias("target"),
    )
    return R.wat_records(base, links).orderBy("url")


_SQL_WAT_EXPORT = """
WITH base AS (
  SELECT concat('https://host', CAST(user_id % 20 AS VARCHAR),
                '.example.com/p/', CAST(event_id AS VARCHAR)) AS url,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         event_id
  FROM events
), parts AS (
  SELECT url, event_id,
         strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS wdate,
         CAST(ts AS VARCHAR) AS ts_str,
         CASE WHEN event_id % 5 = 0 THEN '[]'
              ELSE concat('[{"path":"A@/href","url":"https://t.example.com/',
                          CAST(event_id * 2 AS VARCHAR),
                          '"},{"path":"A@/href","url":"https://t.example.com/',
                          CAST(event_id * 2 + 1 AS VARCHAR), '"}]')
         END AS links_json
  FROM base
), payloads AS (
  SELECT url, wdate, ts_str,
         concat('{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"', url,
                '","WARC-Date":"', wdate,
                '","WARC-Type":"response"},"Payload-Metadata":'
                '{"HTTP-Response-Metadata":{"HTML-Metadata":{"Head":{"Title":"Page ',
                CAST(event_id AS VARCHAR), '"},"Links":', links_json,
                '}}}}}') AS payload
  FROM parts
), ids AS (
  SELECT url, wdate, payload,
         md5(concat('wat|', url, '|', ts_str)) AS wh,
         md5(concat(url, '|', ts_str)) AS rh
  FROM payloads
)
SELECT url,
       concat('WARC/1.0', chr(13), chr(10),
              'WARC-Type: metadata', chr(13), chr(10),
              'WARC-Target-URI: ', url, chr(13), chr(10),
              'WARC-Date: ', wdate, chr(13), chr(10),
              'WARC-Record-ID: <urn:uuid:', substr(wh,1,8), '-', substr(wh,9,4),
              '-', substr(wh,13,4), '-', substr(wh,17,4), '-', substr(wh,21,12),
              '>', chr(13), chr(10),
              'WARC-Refers-To: <urn:uuid:', substr(rh,1,8), '-', substr(rh,9,4),
              '-', substr(rh,13,4), '-', substr(rh,17,4), '-', substr(rh,21,12),
              '>', chr(13), chr(10),
              'Content-Type: application/json', chr(13), chr(10),
              'Content-Length: ', CAST(strlen(payload) AS VARCHAR), chr(13), chr(10),
              chr(13), chr(10), payload, chr(13), chr(10), chr(13), chr(10)
       ) AS record
FROM ids ORDER BY url
"""


def _q_content_sniff(spark, sf_dir):
    """Magic-byte MIME sniff + charset cascade (WHATWG sniffing, abridged)
    over bodies synthesized from the documents table: each doc_id picks a
    deterministic body shape (PNG/GIF/JPEG/GZIP prefix, HTML with a meta
    charset — ISO or utf-8, with or without a UTF-8 BOM — or bare text).
    The oracle is ground truth by construction: it derives the expected
    (mime, charset) from the same doc_id arithmetic, so the whole sniff
    cascade — magic precedence over text probes, BOM precedence over the
    meta declaration — is value-certified end-to-end."""
    from web_crawler_spark.functions import sniff as S

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    v = F.pmod(F.col("doc_id"), F.lit(6))
    iso = F.pmod(F.col("doc_id"), F.lit(12)) == 10
    bom = F.pmod(F.col("doc_id"), F.lit(12)) == 4
    html_doc = F.concat(
        F.when(iso, F.lit(
            '<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=ISO-8859-1"></head><body>'))
        .otherwise(F.lit('<!doctype html><html><head>'
                         '<meta charset="utf-8"></head><body>')),
        F.col("text"),
    )
    enc_text = F.encode(F.col("text"), "UTF-8")
    body = (
        F.when(v == 0, F.concat(F.lit(bytes.fromhex("89504E47")), enc_text))
        .when(v == 1, F.concat(F.lit(bytes.fromhex("47494638")), enc_text))
        .when(v == 2, F.concat(F.lit(bytes.fromhex("FFD8FF")), enc_text))
        .when(v == 3, F.concat(F.lit(bytes.fromhex("1F8B")), enc_text))
        .when(v == 4, F.when(bom, F.concat(F.lit(bytes.fromhex("EFBBBF")),
                                           F.encode(html_doc, "UTF-8")))
                       .otherwise(F.encode(html_doc, "UTF-8")))
        .otherwise(enc_text)
    )
    return d.select(
        "doc_id",
        S.content_type_sniff(body).alias("mime"),
        F.when(v == 4, S.detect_charset(body, html_doc))
        .otherwise(F.lit(None).cast("string")).alias("charset"),
    ).orderBy("doc_id")


_SQL_CONTENT_SNIFF = """
SELECT doc_id,
       CASE doc_id % 6
         WHEN 0 THEN 'image/png'
         WHEN 1 THEN 'image/gif'
         WHEN 2 THEN 'image/jpeg'
         WHEN 3 THEN 'application/gzip'
         WHEN 4 THEN 'text/html'
         ELSE 'application/octet-stream'
       END AS mime,
       CASE WHEN doc_id % 6 = 4 THEN
         CASE WHEN doc_id % 12 = 10 THEN 'iso-8859-1' ELSE 'utf-8' END
       END AS charset
FROM documents WHERE trim(text) <> '' ORDER BY doc_id
"""


def _q_boilerplate(spark, sf_dir):
    """Main-content extraction (jusText-style, Pomikálek 2011): documents
    are sliced into 12-word blocks with a deterministic synthetic link
    density, classified (link-dense → bad, long+stopword-dense → good,
    else smoothed from the nearest decided neighbor via ignore-nulls
    windows), and the good blocks are reassembled in order. The oracle
    reproduces classification, smoothing, and reassembly — the rewritten
    main_text itself is value-certified."""
    from web_crawler_spark.functions import text as T
    from web_crawler_spark.operators import boilerplate as B

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    blocks = d.select(
        "doc_id",
        F.posexplode(T.word_chunks(F.col("text"), 12)).alias("block_idx", "text"),
    ).withColumn(
        "link_density",
        F.pmod(F.col("doc_id") * 31 + F.col("block_idx") * 7, F.lit(20)) / 20.0,
    )
    c = B.classify_blocks(
        blocks, doc_col="doc_id", length_low=40, stopword_low=0.05
    )
    return B.main_content(c, doc_col="doc_id").orderBy("doc_id")


_SQL_BOILERPLATE = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE trim(text) <> ''
), x AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(ceil(len(toks) / 12.0) AS BIGINT) - 1)) AS block_idx
  FROM t
), b AS (
  SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
         array_to_string(toks[(block_idx * 12 + 1):(block_idx * 12 + 12)], ' ') AS text,
         ((doc_id * 31 + block_idx * 7) % 20) / 20.0 AS link_density
  FROM x
), f AS (
  SELECT doc_id, block_idx, text,
         CASE
           WHEN link_density > 0.33 THEN 'bad'
           WHEN len(text) >= 40 AND
                len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    w -> list_contains(['the','a','of','and','to','in','is','that','it','for'], w)))
                / len(string_split_regex(lower(trim(text)), '\\s+')) >= 0.05
             THEN 'good'
           ELSE NULL
         END AS raw
  FROM b
), s AS (
  SELECT doc_id, block_idx, text, raw,
         last_value(raw IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY block_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         first_value(raw IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY block_idx
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM f
), cls AS (
  SELECT doc_id, block_idx, text,
         COALESCE(raw, CASE WHEN prev = 'good' OR nxt = 'good'
                            THEN 'good' ELSE 'bad' END) AS block_class
  FROM s
)
SELECT doc_id,
       COALESCE(string_agg(text, CHR(10) || CHR(10) ORDER BY block_idx)
                FILTER (WHERE block_class = 'good'), '') AS main_text,
       COUNT(*) AS n_blocks,
       COUNT(*) FILTER (WHERE block_class = 'good') AS n_good_blocks
FROM cls GROUP BY doc_id ORDER BY doc_id
"""


def _q_c4_filter(spark, sf_dir):
    """C4 cleaning gate (Raffel et al. 2020 §2.2) over a deterministic
    multi-line fixture: every doc carries a no-punctuation line and a
    2-word line (always dropped), every 3rd a javascript line, every 4th
    a cookie/privacy-policy line (dropped at line level), every 5th a
    kept 'lorem ipsum' sentence (doc flag), every 7th a kept line with
    braces (doc flag), every 11th a bad-word sentence (doc flag), plus
    0–3 filler sentences so the min-sentence gate splits the corpus.
    The oracle recomputes line filtering, reassembly, and every flag."""
    from web_crawler_spark.operators import corpus as C

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.col("event_id")
    i = k.cast("string")

    def _opt(cond, text):
        return F.when(cond, F.lit(text))

    text = F.concat_ws(
        "\n",
        F.concat(F.lit("First sentence for doc "), i, F.lit(".")),
        F.lit("no punctuation here"),
        F.lit("Too short."),
        _opt(k % 3 == 0, "Please enable javascript in your browser."),
        _opt(k % 4 == 0, "This site uses cookies per the privacy policy."),
        _opt(k % 5 == 0, "lorem ipsum dolor sit amet."),
        _opt(k % 7 == 0, "Config sample with {braces} inside."),
        _opt(k % 11 == 0, "This doc mentions badword1 openly."),
        F.when(k % 2 == 0, F.concat(F.lit("Filler sentence one for doc "), i, F.lit("."))),
        F.when(k % 3 == 1, F.concat(F.lit("Filler sentence two for doc "), i, F.lit("."))),
        F.when(k % 5 == 2, F.concat(F.lit("Filler sentence three for doc "), i, F.lit("."))),
    )
    docs = e.select(k.alias("doc_id"), text.alias("text"))
    return C.c4_clean(
        docs, min_sentences=3, bad_words=("badword1", "badword2")
    ).orderBy("doc_id")


_SQL_C4_FILTER = """
WITH docs AS (
  SELECT event_id AS doc_id,
         concat_ws(chr(10),
           'First sentence for doc ' || event_id || '.',
           'no punctuation here',
           'Too short.',
           CASE WHEN event_id % 3 = 0 THEN 'Please enable javascript in your browser.' END,
           CASE WHEN event_id % 4 = 0 THEN 'This site uses cookies per the privacy policy.' END,
           CASE WHEN event_id % 5 = 0 THEN 'lorem ipsum dolor sit amet.' END,
           CASE WHEN event_id % 7 = 0 THEN 'Config sample with {braces} inside.' END,
           CASE WHEN event_id % 11 = 0 THEN 'This doc mentions badword1 openly.' END,
           CASE WHEN event_id % 2 = 0 THEN 'Filler sentence one for doc ' || event_id || '.' END,
           CASE WHEN event_id % 3 = 1 THEN 'Filler sentence two for doc ' || event_id || '.' END,
           CASE WHEN event_id % 5 = 2 THEN 'Filler sentence three for doc ' || event_id || '.' END
         ) AS text
  FROM events WHERE event_id < 2000
), split AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM docs
), kept AS (
  SELECT doc_id, text, len(ls) AS n_lines,
         list_filter(ls, x ->
           right(trim(x), 1) IN ('.', '!', '?', '"')
           AND len(string_split_regex(trim(x), '\\s+')) >= 3
           AND NOT contains(lower(x), 'javascript')
           AND NOT contains(lower(x), 'terms of use')
           AND NOT contains(lower(x), 'privacy policy')
           AND NOT contains(lower(x), 'cookie policy')
           AND NOT contains(lower(x), 'uses cookies')
           AND NOT contains(lower(x), 'use of cookies')
         ) AS kl
  FROM split
), agg AS (
  SELECT doc_id, text, n_lines,
         array_to_string(kl, chr(10)) AS text_clean, len(kl) AS n_kept
  FROM kept
), flags AS (
  SELECT doc_id, text_clean, n_lines, n_kept,
         length(text_clean) - length(translate(text_clean, '.!?', '')) AS n_sentences,
         contains(lower(text), 'lorem ipsum') AS flag_lorem,
         contains(text_clean, '{') AS flag_brace,
         len(list_intersect(string_split_regex(lower(text_clean), '\\s+'),
                            ['badword1', 'badword2'])) > 0 AS flag_bad_word
  FROM agg
)
SELECT doc_id, text_clean, n_lines, n_kept, n_sentences,
       flag_lorem, flag_brace, flag_bad_word,
       n_sentences < 3 AS flag_short,
       NOT (flag_lorem OR flag_brace OR flag_bad_word OR n_sentences < 3)
         AS passed
FROM flags ORDER BY doc_id
"""


def _q_phrase_match(spark, sf_dir):
    """Exact-phrase retrieval over positional postings: docs where 'table
    scan' occurs at consecutive token offsets, with occurrence counts —
    the consecutive-offset intersection is an array filter in codegen,
    certified against a DuckDB list-ops twin."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.phrase_match(d, "table scan").orderBy("doc_id")


_SQL_PHRASE_MATCH = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents WHERE trim(text) <> ''
), p AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(0, len(toks) - 1)) AS pos
  FROM t
), p0 AS (
  SELECT doc_id, list(pos ORDER BY pos) AS pos0 FROM p
  WHERE term = 'table' GROUP BY doc_id
), p1 AS (
  SELECT doc_id, list(pos ORDER BY pos) AS pos1 FROM p
  WHERE term = 'scan' GROUP BY doc_id
)
SELECT doc_id,
       len(list_filter(pos0, x -> list_contains(pos1, x + 1))) AS n_occurrences
FROM p0 JOIN p1 USING (doc_id)
WHERE len(list_filter(pos0, x -> list_contains(pos1, x + 1))) > 0
ORDER BY doc_id
"""


def _q_proximity_match(spark, sf_dir):
    """NEAR/k proximity retrieval: docs where 'scan' occurs within ±3
    tokens of a 'table' anchor — anchored-NEAR semantics, the window test
    an array exists in codegen; DuckDB list-lambda twin."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.proximity_match(d, ["table", "scan"], window=3).orderBy("doc_id")


_SQL_PROXIMITY_MATCH = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents WHERE trim(text) <> ''
), p AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(0, len(toks) - 1)) AS pos
  FROM t
), p0 AS (
  SELECT doc_id, list(pos ORDER BY pos) AS pos0 FROM p
  WHERE term = 'table' GROUP BY doc_id
), p1 AS (
  SELECT doc_id, list(pos ORDER BY pos) AS pos1 FROM p
  WHERE term = 'scan' GROUP BY doc_id
)
SELECT doc_id,
       len(list_filter(pos0,
           x -> len(list_filter(pos1, q -> q >= x - 3 AND q <= x + 3)) > 0))
         AS n_anchors
FROM p0 JOIN p1 USING (doc_id)
WHERE len(list_filter(pos0,
      x -> len(list_filter(pos1, q -> q >= x - 3 AND q <= x + 3)) > 0)) > 0
ORDER BY doc_id
"""


def _q_snippets(spark, sf_dir):
    """KWIC snippet generation for terms {table, scan}: densest ±4-token
    window (earliest on ties), all in-window hits bracketed, ellipses on
    truncation — the rendered snippet STRING itself is value-certified
    against a DuckDB list-lambda twin."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.snippets(d, ["table", "scan"], width=4).orderBy("doc_id")


_SQL_SNIPPETS = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''
), hits AS (
  SELECT doc_id, w,
         list_filter(generate_series(0, len(w) - 1),
                     i -> list_contains(['table', 'scan'], lower(w[i + 1])))
           AS positions
  FROM t
), nonempty AS (SELECT * FROM hits WHERE len(positions) > 0),
best AS (
  SELECT doc_id, w, positions,
         list_sort(list_transform(positions, p -> struct_pack(
           neg_score := -len(list_filter(positions,
                             q -> q >= p - 4 AND q <= p + 4)),
           pos := p)))[1].pos AS b
  FROM nonempty
), bounds AS (
  SELECT doc_id, w, positions, b,
         greatest(b - 4, 0) AS lo,
         least(b + 4, len(w) - 1) AS hi
  FROM best
)
SELECT doc_id,
       CAST(len(positions) AS BIGINT) AS n_hits,
       concat(
         CASE WHEN lo > 0 THEN '... ' ELSE '' END,
         array_to_string(list_transform(generate_series(lo, hi),
           i -> CASE WHEN list_contains(positions, i)
                     THEN '[' || w[i + 1] || ']' ELSE w[i + 1] END), ' '),
         CASE WHEN hi < len(w) - 1 THEN ' ...' ELSE '' END
       ) AS snippet
FROM bounds ORDER BY doc_id
"""


def _q_gopher_quality(spark, sf_dir):
    """Gopher-style quality flags (Rae et al. 2021): integer-exact word
    count / mean-word-length / alpha-ratio filters as one shuffle-free
    projection over the documents scan."""
    from web_crawler_spark.operators import corpus as C

    return C.gopher_quality(_t(spark, sf_dir, "documents")).orderBy("doc_id")


_SQL_GOPHER_QUALITY = """
WITH w AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_words,
       CAST(coalesce(list_sum(list_transform(toks, t -> strlen(t))), 0)
            AS BIGINT) AS sum_word_len,
       len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha_words,
       len(toks) BETWEEN 50 AND 100000 AS flag_word_count,
       len(toks) > 0
         AND coalesce(list_sum(list_transform(toks, t -> strlen(t))), 0)
             BETWEEN 3 * len(toks) AND 10 * len(toks) AS flag_mean_len,
       len(toks) > 0
         AND 5 * len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
             >= 4 * len(toks) AS flag_alpha_ratio,
       (len(toks) BETWEEN 50 AND 100000)
         AND (len(toks) > 0
              AND coalesce(list_sum(list_transform(toks, t -> strlen(t))), 0)
                  BETWEEN 3 * len(toks) AND 10 * len(toks))
         AND (len(toks) > 0
              AND 5 * len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                  >= 4 * len(toks)) AS flag_pass
FROM w ORDER BY doc_id
"""


def _q_repetition(spark, sf_dir):
    """Repetition signal: modal token share per document (Gopher repetition
    family, unigram case); flag at ≥10% by integer compare."""
    from web_crawler_spark.operators import corpus as C

    return C.top_unigram_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


_SQL_REPETITION = """
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE trim(text) <> ''
), c AS (
  SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY doc_id, word
), r AS (
  SELECT doc_id, word, cnt,
         SUM(cnt) OVER (PARTITION BY doc_id) AS n_words,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, word) AS rn
  FROM c
)
SELECT doc_id, word AS top_word, cnt AS top_count,
       CAST(n_words AS BIGINT) AS n_words,
       cnt * 100 >= 10 * n_words AS flag_repetitive
FROM r WHERE rn = 1 ORDER BY doc_id
"""


def _q_chunk_dedup(spark, sf_dir):
    """Exact duplicated-chunk accounting (Lee et al. 2022, chunk variant):
    every 5th document is re-inserted under a shifted id so corpus-level
    chunk duplication is exercised deterministically; the window shuffles
    16-byte md5 fingerprints, never chunk text."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100_000)
    )
    return C.chunk_dedup_stats(d.unionByName(dup)).orderBy("doc_id")


_SQL_CHUNK_DEDUP = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
), t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM corpus WHERE trim(text) <> ''
), x AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(ceil(len(toks) / 20.0) AS BIGINT) - 1)) AS chunk_idx
  FROM t
), c AS (
  SELECT doc_id, chunk_idx,
         md5(array_to_string(toks[(chunk_idx * 20 + 1):(chunk_idx * 20 + 20)], ' ')) AS fp
  FROM x
), r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn
  FROM c
)
SELECT doc_id, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
FROM r GROUP BY doc_id ORDER BY doc_id
"""


def _q_chunk_dedup_rewrite(spark, sf_dir):
    """Sub-document dedup REWRITE (Lee et al. 2022 / CCNet span removal):
    same duplicated corpus as dd_chunk_dedup, but the operator returns the
    cleaned documents — later instances of corpus-duplicate 20-word chunks
    cut, text reassembled in chunk order, fully-recycled docs kept with
    clean_text=''. Certifies the rewrite itself, not just the counts."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100_000)
    )
    return C.remove_duplicate_chunks(d.unionByName(dup)).orderBy("doc_id")


_SQL_CHUNK_DEDUP_REWRITE = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
), t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM corpus WHERE trim(text) <> ''
), x AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(ceil(len(toks) / 20.0) AS BIGINT) - 1)) AS chunk_idx
  FROM t
), c AS (
  SELECT doc_id, chunk_idx,
         array_to_string(toks[(chunk_idx * 20 + 1):(chunk_idx * 20 + 20)], ' ') AS chunk
  FROM x
), r AS (
  SELECT doc_id, chunk_idx, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
  FROM c
), agg AS (
  SELECT doc_id,
         COUNT(*) AS n_chunks,
         SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_removed,
         string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx) AS clean_text
  FROM r GROUP BY doc_id
)
SELECT corpus.doc_id,
       COALESCE(agg.clean_text, '') AS clean_text,
       COALESCE(agg.n_chunks, 0) AS n_chunks,
       CAST(COALESCE(agg.n_removed, 0) AS BIGINT) AS n_removed
FROM corpus LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


def _q_span_dedup_rewrite(spark, sf_dir):
    """Exact substring dedup over OVERLAPPING 10-token windows (Lee et al.
    2021 ExactSubstr semantics): every 5th document re-inserted under a
    shifted id AND a 3-token prefix ('copied excerpt :') so its duplicate
    span sits at a different token offset — the alignment case the
    non-overlapping chunk rewrite provably misses. The globally-first
    instance survives; the shifted copy is cut back to its unique prefix.
    Certifies the rewritten text, token counts, and removed-position
    counts exactly."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(100_000)).alias("doc_id"),
        F.concat(F.lit("copied excerpt : "), F.col("text")).alias("text"),
    )
    return C.remove_duplicate_spans(
        d.select("doc_id", "text").unionByName(dup), window_words=10
    ).orderBy("doc_id")


_SQL_SPAN_DEDUP_REWRITE = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, 'copied excerpt : ' || text AS text
  FROM documents WHERE doc_id % 5 = 0
), t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM corpus
), g AS (
  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 10)) AS gpos
  FROM t WHERE len(toks) >= 10
), r AS (
  SELECT doc_id, gpos,
         ROW_NUMBER() OVER (
           PARTITION BY md5(array_to_string(toks[(gpos + 1):(gpos + 10)], ' '))
           ORDER BY doc_id, gpos) AS rn
  FROM g
), rm AS (
  SELECT DISTINCT doc_id, unnest(generate_series(gpos, gpos + 9)) AS pos
  FROM r WHERE rn > 1
), tok AS (
  SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS pos, toks
  FROM t WHERE len(toks) > 0
), kept AS (
  SELECT tok.doc_id,
         string_agg(tok.toks[tok.pos + 1], ' ' ORDER BY tok.pos) AS clean_text
  FROM tok LEFT JOIN rm ON tok.doc_id = rm.doc_id AND tok.pos = rm.pos
  WHERE rm.pos IS NULL
  GROUP BY tok.doc_id
), cnt AS (
  SELECT doc_id, COUNT(*) AS n_removed FROM rm GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(kept.clean_text, '') AS clean_text,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(cnt.n_removed, 0) AS BIGINT) AS n_removed
FROM t
LEFT JOIN kept USING (doc_id)
LEFT JOIN cnt USING (doc_id)
ORDER BY doc_id
"""


def _q_shard_pack(spark, sf_dir):
    """Byte-balanced output-shard assignment (the FineWeb/Dolma writer
    problem): documents laid end-to-end in doc_id order, shard = the
    8 KB bin the first byte lands in. The Spark side computes the global
    running byte total with the two-level range-partitioned scan
    (operators/prefixsum.py) — no row-level single-partition window, the
    plan shape is pytest-asserted — and the oracle recomputes it as one
    global SQL window; both must agree byte-for-byte."""
    from web_crawler_spark.operators import prefixsum as PS

    d = _t(spark, sf_dir, "documents")
    return PS.shard_pack(d, target_bytes=8192, n_partitions=16).orderBy("doc_id")


_SQL_SHARD_PACK = """
WITH b AS (
  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents
), c AS (
  SELECT doc_id, n_bytes,
         SUM(n_bytes) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_bytes
  FROM b
)
SELECT doc_id, n_bytes, CAST(cum_bytes AS BIGINT) AS cum_bytes,
       CAST(floor((cum_bytes - n_bytes) / 8192.0) AS BIGINT) AS shard_id
FROM c ORDER BY doc_id
"""


def _q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis 2006
    A-Res): 50 documents drawn with probability proportional to byte
    length, deterministic (md5-derived uniforms, no RNG state) — the
    quality-weighted corpus subsample as a scan + TakeOrderedAndProject,
    never a global sort. The exact selected set is certified."""
    from web_crawler_spark.functions import sampling as SAMP

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").cast("bigint").alias("weight")
    )
    return SAMP.weighted_sample(d, 50, "weight").orderBy("doc_id")


_SQL_WEIGHTED_SAMPLE = """
WITH w AS (
  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS weight
  FROM documents WHERE strlen(text) > 0
), keyed AS (
  SELECT doc_id, weight,
         pow(TRY_CAST(concat('0x', substr(md5(concat('ws:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
               / 4294967295.0,
             1.0 / weight) AS es_key
  FROM w
), pick AS (
  SELECT doc_id, weight FROM keyed ORDER BY es_key DESC, doc_id LIMIT 50
)
SELECT doc_id, weight FROM pick ORDER BY doc_id
"""


def _q_corpus_mix(spark, sf_dir):
    """Token-budget corpus mixing (SlimPajama/Pile-style): per-source
    budgets derived from the source id ((n % 3 + 1) × 1000 tokens —
    integer-exact both engines), documents admitted in deterministic
    md5-shuffled order until each source's budget is spent. The admitted
    set, per-doc token counts, and running totals are all certified."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    budgets = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (
                (F.regexp_extract("source", r"(\d+)$", 1).cast("int") % 3 + 1) * 1000
            ).cast("bigint").alias("token_budget"),
        )
    )
    return C.corpus_mix(d, budgets).orderBy("doc_id")


_SQL_CORPUS_MIX = r"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
         md5('mix:' || CAST(doc_id AS VARCHAR)) AS ord_key
  FROM documents
), cum AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY ord_key, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM toks
), budgets AS (
  SELECT source,
         CAST((TRY_CAST(regexp_extract(source, '(\d+)$', 1) AS INT) % 3 + 1) * 1000 AS BIGINT) AS b
  FROM (SELECT DISTINCT source FROM documents)
)
SELECT c.doc_id, c.source, c.n_tokens,
       CAST(c.cum_tokens AS BIGINT) AS cum_tokens
FROM cum c JOIN budgets b USING (source)
WHERE c.cum_tokens - c.n_tokens < b.b
ORDER BY c.doc_id
"""


def _q_corpus_mix_bpe(spark, sf_dir):
    """Exact-token budget mixing: same greedy-cut semantics as
    tx_corpus_mix but denominated in REAL subword tokens from the
    committed-vocab BPE tokenizer (functions/bpe.py, Arrow-batched count
    stage). Rows-only: DuckDB cannot run the BPE encoder, but the
    tokenizer itself is pinned by golden pytests (tests/test_bpe.py) and
    the mix semantics by the tx_corpus_mix exact oracle."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    budgets = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (
                (F.regexp_extract("source", r"(\d+)$", 1).cast("int") % 3 + 1) * 1000
            ).cast("bigint").alias("token_budget"),
        )
    )
    return C.corpus_mix(d, budgets, token_counter="bpe").orderBy("doc_id")


def _q_compression_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal (RedPajama-v2 / Dolma
    convention: DEFLATE size / raw UTF-8 size) over documents — the
    cheap single-pass repetition detector. Oracle form (golden-fixture
    twin): no SQL engine exposes DEFLATE, but zlib level-6 output is
    deterministic for the pinned container zlib, so the oracle derives
    raw_bytes from octet_length(text) and joins compressed_bytes/ratio
    against an INDEPENDENTLY recomputed golden table (a separate
    zlib pass over the sf0.01 corpus, not engine output) — any Arrow
    kernel regression (encoding, level, empty-doc routing, rounding)
    hash-fails. Golden values are sf0.01-specific, like every oracle's
    literals; cross-sf behavior stays pinned by tests/test_repetition.py."""
    from web_crawler_spark.operators.corpus import compression_ratio_stage

    d = _t(spark, sf_dir, "documents")
    return compression_ratio_stage(d).orderBy("doc_id")


_SQL_COMPRESSION_RATIO = """
WITH golden AS (
  SELECT * FROM (VALUES
(0,99,0.630573),
(1,181,0.445813),
(2,133,0.54065),
(3,99,0.673469),
(4,139,0.556),
(5,162,0.515924),
(6,64,0.820513),
(7,186,0.462687),
(8,201,0.42766),
(9,180,0.460358),
(10,124,0.579439),
(11,152,0.5),
(12,164,0.471264),
(13,164,0.473988),
(14,208,0.420202),
(15,128,0.561404),
(16,75,0.833333),
(17,194,0.455399),
(18,191,0.451537),
(19,58,1.017544),
(20,179,0.454315),
(21,121,0.557604),
(22,200,0.440529),
(23,109,0.656627),
(24,213,0.398131),
(25,212,0.419802),
(26,61,0.968254),
(27,170,0.491329),
(28,165,0.494012),
(29,116,0.591837),
(30,110,0.658683),
(31,136,0.544),
(32,217,0.423002),
(33,131,0.530364),
(34,111,0.672727),
(35,197,0.435841),
(36,87,0.644444),
(37,171,0.452381),
(38,115,0.566502),
(39,92,0.741935),
(40,186,0.441805),
(41,165,0.489614),
(42,150,0.49505),
(43,106,0.697368),
(44,88,0.6875),
(45,195,0.451389),
(46,198,0.402439),
(47,132,0.589286),
(48,102,0.621951),
(49,132,0.515625),
(50,133,0.519531),
(51,168,0.515337),
(52,62,0.984127),
(53,114,0.6),
(54,172,0.481793),
(55,111,0.566327),
(56,225,0.409836),
(57,202,0.451902),
(58,179,0.460154),
(59,84,0.711864),
(60,213,0.432049),
(61,150,0.485437),
(62,178,0.454082),
(63,219,0.413989),
(64,91,0.674074),
(65,76,0.767677),
(66,170,0.482955),
(67,166,0.498498),
(68,109,0.586022),
(69,157,0.50974),
(70,220,0.43222),
(71,166,0.494048),
(72,132,0.573913),
(73,213,0.423459),
(74,44,0.916667),
(75,153,0.490385),
(76,177,0.463351),
(77,160,0.501567),
(78,134,0.575107),
(79,61,0.968254),
(80,109,0.633721),
(81,173,0.484594),
(82,140,0.538462),
(83,74,0.840909),
(84,177,0.439206),
(85,101,0.651613),
(86,94,0.681159),
(87,93,0.726562),
(88,145,0.50173),
(89,90,0.638298),
(90,88,0.785714),
(91,194,0.450116),
(92,99,0.678082),
(93,86,0.661538),
(94,92,0.643357),
(95,150,0.506757),
(96,188,0.414097),
(97,159,0.496875),
(98,219,0.41635),
(99,122,0.622449),
(100,208,0.451193),
(101,129,0.556034),
(102,205,0.398058),
(103,217,0.411765),
(104,131,0.53252),
(105,164,0.5),
(106,67,0.957143),
(107,124,0.584906),
(108,67,0.77907),
(109,184,0.465823),
(110,55,1.018519),
(111,223,0.42155),
(112,159,0.493789),
(113,192,0.448598),
(114,115,0.555556),
(115,96,0.727273),
(116,59,0.951613),
(117,132,0.536585),
(118,182,0.459596),
(119,77,0.885057),
(120,122,0.578199),
(121,113,0.672619),
(122,81,0.794118),
(123,99,0.626582),
(124,154,0.495177),
(125,113,0.610811),
(126,205,0.40275),
(127,195,0.449309),
(128,201,0.441758),
(129,191,0.43508),
(130,100,0.666667),
(131,154,0.525597),
(132,169,0.512121),
(133,215,0.43),
(134,95,0.719697),
(135,225,0.418216),
(136,159,0.476048),
(137,130,0.55794),
(138,176,0.483516),
(139,148,0.503401),
(140,105,0.66879),
(141,186,0.430556),
(142,223,0.435547),
(143,180,0.437956),
(144,75,0.842697),
(145,185,0.461347),
(146,90,0.697674),
(147,203,0.459276),
(148,107,0.543147),
(149,102,0.649682),
(150,141,0.514599),
(151,216,0.416185),
(152,122,0.559633),
(153,190,0.438799),
(154,197,0.444695),
(155,177,0.482289),
(156,89,0.729508),
(157,75,0.824176),
(158,78,0.735849),
(159,181,0.477573),
(160,129,0.52439),
(161,204,0.43129),
(162,202,0.441048),
(163,138,0.536965),
(164,84,0.777778),
(165,86,0.796296),
(166,164,0.501529),
(167,210,0.442105),
(168,125,0.548246),
(169,172,0.432161),
(170,87,0.701613),
(171,165,0.503049),
(172,80,0.776699),
(173,229,0.424074),
(174,159,0.504762),
(175,103,0.651899),
(176,208,0.423625),
(177,143,0.543726),
(178,119,0.556075),
(179,204,0.421488),
(180,118,0.637838),
(181,83,0.761468),
(182,171,0.498542),
(183,82,0.828283),
(184,200,0.453515),
(185,147,0.481967),
(186,184,0.445521),
(187,211,0.424547),
(188,139,0.565041),
(189,121,0.584541),
(190,196,0.457944),
(191,88,0.745763),
(192,89,0.674242),
(193,110,0.654762),
(194,107,0.685897),
(195,160,0.503145),
(196,167,0.492625),
(197,218,0.417625),
(198,135,0.531496),
(199,104,0.675325),
(200,151,0.49835),
(201,165,0.52381),
(202,202,0.419958),
(203,89,0.695312),
(204,84,0.717949),
(205,179,0.476064),
(206,89,0.684615),
(207,182,0.472727),
(208,82,0.713043),
(209,124,0.556054),
(210,215,0.417476),
(211,144,0.516129),
(212,134,0.527559),
(213,207,0.443255),
(214,64,0.927536),
(215,222,0.421252),
(216,224,0.42344),
(217,172,0.491429),
(218,199,0.437363),
(219,100,0.571429),
(220,230,0.415913),
(221,133,0.60181),
(222,140,0.536398),
(223,201,0.437908),
(224,193,0.436652),
(225,191,0.455847),
(226,83,0.761468),
(227,203,0.433761),
(228,207,0.446121),
(229,179,0.437653),
(230,157,0.504823),
(231,101,0.651613),
(232,160,0.506329),
(233,203,0.443231),
(234,165,0.479651),
(235,128,0.571429),
(236,60,0.967742),
(237,184,0.442308),
(238,136,0.529183),
(239,106,0.646341),
(240,183,0.481579),
(241,212,0.414873),
(242,184,0.474227),
(243,110,0.617978),
(244,174,0.469003),
(245,199,0.427039),
(246,107,0.611429),
(247,189,0.439535),
(248,199,0.446188),
(249,199,0.461717),
(250,136,0.550607),
(251,221,0.422562),
(252,138,0.547619),
(253,116,0.588832),
(254,76,0.737864),
(255,95,0.605096),
(256,60,0.967742),
(257,85,0.745614),
(258,186,0.469697),
(259,134,0.517375),
(260,90,0.671642),
(261,206,0.436441),
(262,135,0.527344),
(263,202,0.451902),
(264,232,0.426471),
(265,140,0.522388),
(266,127,0.564444),
(267,190,0.448113),
(268,121,0.560185),
(269,206,0.441113),
(270,214,0.428858),
(271,154,0.522034),
(272,218,0.44856),
(273,103,0.656051),
(274,226,0.420857),
(275,49,1.0),
(276,224,0.416357),
(277,97,0.595092),
(278,179,0.454315),
(279,144,0.512456),
(280,215,0.457447),
(281,100,0.584795),
(282,110,0.617978),
(283,200,0.424628),
(284,146,0.52518),
(285,220,0.429688),
(286,140,0.542636),
(287,78,0.772277),
(288,109,0.619318),
(289,116,0.517857),
(290,220,0.415094),
(291,189,0.453237),
(292,194,0.423581),
(293,176,0.457143),
(294,207,0.440426),
(295,114,0.612903),
(296,169,0.470752),
(297,160,0.496894),
(298,116,0.613757),
(299,219,0.436255),
(300,123,0.569444),
(301,218,0.429134),
(302,209,0.431818),
(303,202,0.444934),
(304,128,0.584475),
(305,56,0.888889),
(306,189,0.448931),
(307,157,0.519868),
(308,80,0.824742),
(309,133,0.558824),
(310,95,0.641892),
(311,215,0.434343),
(312,170,0.460705),
(313,66,0.758621),
(314,124,0.652632),
(315,201,0.436957),
(316,188,0.461916),
(317,181,0.443627),
(318,200,0.438596),
(319,209,0.407407),
(320,188,0.464198),
(321,151,0.517123),
(322,138,0.541176),
(323,167,0.504532),
(324,127,0.557018),
(325,164,0.5),
(326,119,0.60101),
(327,110,0.607735),
(328,219,0.442424),
(329,166,0.470255),
(330,163,0.515823),
(331,147,0.49),
(332,119,0.574879),
(333,115,0.649718),
(334,209,0.431818),
(335,156,0.48),
(336,181,0.481383),
(337,136,0.561983),
(338,75,0.824176),
(339,112,0.59893),
(340,136,0.550607),
(341,198,0.4637),
(342,82,0.706897),
(343,98,0.632258),
(344,196,0.470024),
(345,161,0.498452),
(346,187,0.457213),
(347,143,0.507092),
(348,95,0.725191),
(349,195,0.426696),
(350,201,0.430407),
(351,173,0.470109),
(352,223,0.416045),
(353,160,0.507937),
(354,195,0.457746),
(355,156,0.441926),
(356,170,0.473538),
(357,136,0.537549),
(358,57,0.966102),
(359,158,0.481707),
(360,195,0.440181),
(361,172,0.473829),
(362,71,0.876543),
(363,167,0.467787),
(364,142,0.525926),
(365,65,0.970149),
(366,149,0.4791),
(367,127,0.596244),
(368,60,0.821918),
(369,148,0.542125),
(370,124,0.504065),
(371,171,0.488571),
(372,101,0.711268),
(373,186,0.479381),
(374,112,0.615385),
(375,161,0.469388),
(376,173,0.47139),
(377,134,0.57265),
(378,171,0.507418),
(379,183,0.454094),
(380,198,0.446953),
(381,161,0.456091),
(382,94,0.712121),
(383,138,0.543307),
(384,78,0.847826),
(385,183,0.458647),
(386,209,0.443737),
(387,122,0.586538),
(388,165,0.478261),
(389,97,0.638158),
(390,92,0.671533),
(391,135,0.567227),
(392,93,0.688889),
(393,199,0.427957),
(394,179,0.443069),
(395,195,0.407098),
(396,138,0.556452),
(397,144,0.489796),
(398,83,0.790476),
(399,158,0.511327),
(400,96,0.716418),
(401,190,0.43379),
(402,106,0.6625),
(403,208,0.439746),
(404,129,0.58371),
(405,157,0.5),
(406,198,0.430435),
(407,81,0.75),
(408,71,0.816092),
(409,146,0.534799),
(410,192,0.464891),
(411,194,0.472019),
(412,180,0.493151),
(413,192,0.448598),
(414,186,0.455882),
(415,161,0.514377),
(416,150,0.522648),
(417,219,0.421154),
(418,189,0.430524),
(419,91,0.798246),
(420,197,0.427332),
(421,198,0.430435),
(422,173,0.473973),
(423,177,0.487603),
(424,186,0.454768),
(425,92,0.70229),
(426,202,0.446903),
(427,186,0.442857),
(428,148,0.530466),
(429,226,0.420857),
(430,188,0.471178),
(431,158,0.514658),
(432,175,0.487465),
(433,114,0.647727),
(434,193,0.456265),
(435,112,0.670659),
(436,137,0.494585),
(437,198,0.45),
(438,112,0.651163),
(439,116,0.630435),
(440,134,0.55144),
(441,224,0.413284),
(442,201,0.441758),
(443,146,0.521429),
(444,188,0.448687),
(445,155,0.504886),
(446,90,0.681818),
(447,218,0.431683),
(448,146,0.51049),
(449,112,0.632768),
(450,98,0.690141),
(451,84,0.75),
(452,174,0.486034),
(453,227,0.43738),
(454,95,0.620915),
(455,59,1.0),
(456,85,0.745614),
(457,121,0.59901),
(458,164,0.50774),
(459,181,0.481383),
(460,146,0.559387),
(461,180,0.483871),
(462,165,0.504587),
(463,218,0.443992),
(464,119,0.583333),
(465,163,0.509375),
(466,212,0.450106),
(467,172,0.477778),
(468,121,0.584541),
(469,54,0.947368),
(470,134,0.577586),
(471,164,0.489552),
(472,118,0.567308),
(473,155,0.52901),
(474,176,0.494382),
(475,70,0.909091),
(476,71,0.845238),
(477,93,0.615894),
(478,150,0.517241),
(479,173,0.44473),
(480,164,0.456825),
(481,67,0.788235),
(482,104,0.630303),
(483,139,0.567347),
(484,129,0.58371),
(485,97,0.751938),
(486,114,0.666667),
(487,161,0.501558),
(488,121,0.590244),
(489,155,0.488959),
(490,147,0.542435),
(491,176,0.478261),
(492,68,0.883117),
(493,201,0.432258),
(494,117,0.567961),
(495,178,0.463542),
(496,196,0.428884),
(497,87,0.707317),
(498,204,0.420619),
(499,104,0.626506)
  ) AS t(doc_id, compressed_bytes, compression_ratio)
)
SELECT d.doc_id,
       CAST(octet_length(encode(d.text)) AS BIGINT) AS raw_bytes,
       CAST(g.compressed_bytes AS BIGINT) AS compressed_bytes,
       CAST(g.compression_ratio AS DOUBLE) AS compression_ratio
FROM documents d JOIN golden g USING (doc_id)
ORDER BY doc_id
"""


def _versioned_pages(spark, sf_dir):
    """Synthetic versioned page table (url, warc_ts, text): ~3000 URLs ×
    up to 4 recrawls; warc_ts unique per fetch (base + event_id seconds);
    content revs change every OTHER version (rev = version//2), so the
    change stream has a deterministic T,F,T,F pattern."""
    e = _t(spark, sf_dir, "events")
    url = F.concat(F.lit("https://ex.com/p"), (F.col("event_id") % 3000).cast("string"))
    warc_ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit("2025-01-01 00:00:00")) + F.col("event_id")
    )
    rev = F.floor(F.col("event_id") / 3000 / 2).cast("string")
    text = F.concat(
        F.lit("body "), (F.col("event_id") % 3000).cast("string"),
        F.lit(" rev"), rev,
    )
    return e.select(url.alias("url"), warc_ts.alias("warc_ts"), text.alias("text"))


def _q_revalidation_plan(spark, sf_dir):
    """RFC 9110 conditional-request plan from the crawl history: per-URL
    If-None-Match (fingerprint-derived strong validator) +
    If-Modified-Since (IMF-fixdate of the latest capture) — the refresh
    crawl's bandwidth saver, one keep-latest window."""
    from web_crawler_spark.operators import snapshots as SN

    return SN.revalidation_headers(_versioned_pages(spark, sf_dir)).orderBy("url")


_SQL_REVALIDATION_PLAN = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS url,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         concat('body ', CAST(event_id % 3000 AS VARCHAR), ' rev',
                CAST(CAST(floor(event_id / 3000 / 2) AS BIGINT) AS VARCHAR)) AS text
  FROM events
), latest AS (
  SELECT url, ts, text,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY ts DESC) AS rn
  FROM pages
)
SELECT url,
       concat('"', md5(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))), '"') AS if_none_match,
       strftime(ts, '%a, %d %b %Y %H:%M:%S GMT') AS if_modified_since
FROM latest WHERE rn = 1 ORDER BY url
"""


def _q_aimd_delay(spark, sf_dir):
    """AIMD adaptive politeness replay over a synthesized fetch log:
    every 11th fetch 503s, every 13th 429s, latency sweeps 0..899 ms
    (slow ≥ 600 doubles the delay, fast success decays it additively).
    Integer-millisecond fold — the oracle replays it bit-exactly via
    list_reduce."""
    from web_crawler_spark.operators import politeness as P

    e = _t(spark, sf_dir, "events")
    k = F.col("event_id")
    log = e.select(
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")).alias("host"),
        k.alias("fetch_ts"),
        F.when(k % 11 == 0, 503).when(k % 13 == 0, 429).otherwise(200)
        .alias("status"),
        ((k * 37) % 900).alias("latency_ms"),
    )
    return P.aimd_host_delay(log).orderBy("host")


_SQL_AIMD_DELAY = """
WITH log AS (
  SELECT concat('h', CAST(user_id % 5 AS VARCHAR)) AS host,
         event_id AS ts,
         CASE WHEN event_id % 11 = 0 THEN 503
              WHEN event_id % 13 = 0 THEN 429 ELSE 200 END AS status,
         (event_id * 37) % 900 AS latency
  FROM events
), ev AS (
  SELECT host, ts,
         CASE WHEN status >= 500 OR status = 429 OR latency >= 600
              THEN 1 ELSE 0 END AS bad
  FROM log
), g AS (
  SELECT host, list(bad ORDER BY ts) AS flags FROM ev GROUP BY host
)
SELECT host,
       CAST(len(flags) AS BIGINT) AS n_events,
       CAST(list_sum(flags) AS BIGINT) AS n_backoffs,
       CAST(list_reduce(list_prepend(1000, flags), (acc, b) ->
         CASE WHEN b = 1 THEN least(60000, acc * 2)
              ELSE greatest(250, acc - 100) END) AS BIGINT) AS delay_ms
FROM g ORDER BY host
"""


def _q_robots_cache(spark, sf_dir):
    """RFC 9309 robots cache states at a fixed 'now': per host-class the
    fixture engineers fresh (recent 2xx), refetch_due (old 2xx),
    unavailable_allow (latest 404), unreachable_disallow (recent 5xx),
    and unreachable_stale_cache_ok (long-unreachable with a cached 2xx).
    The oracle recomputes latest-fetch election, ages, and the state
    CASE."""
    from web_crawler_spark.operators import robots as R

    e = _t(spark, sf_dir, "events")
    k = F.col("event_id")
    h = k % 97
    hc = h % 5
    log = (
        e.filter(
            ~((hc == 4) & (k >= 5000)) & ~((hc == 2) & (k >= 5800))
        )
        .select(
            F.concat(F.lit("host"), h.cast("string")).alias("host"),
            F.timestamp_seconds(
                F.unix_timestamp(F.lit("2025-01-01 00:00:00")) + k * 20
            ).alias("fetch_ts"),
            F.when((hc == 1) & (k >= 9000), 404)
            .when((hc == 2) & (k >= 5000), 503)
            .when(hc == 3, 503)
            .otherwise(200)
            .alias("status"),
        )
    )
    return R.robots_cache_policy(
        log, "2025-01-03 08:33:00", unreachable_grace_s=36_000
    ).orderBy("host")


_SQL_ROBOTS_CACHE = """
WITH log AS (
  SELECT concat('host', CAST(event_id % 97 AS VARCHAR)) AS host,
         TIMESTAMP '2025-01-01 00:00:00'
           + (event_id * 20 * INTERVAL 1 SECOND) AS ts,
         CASE WHEN (event_id % 97) % 5 = 1 AND event_id >= 9000 THEN 404
              WHEN (event_id % 97) % 5 = 2 AND event_id >= 5000 THEN 503
              WHEN (event_id % 97) % 5 = 3 THEN 503
              ELSE 200 END AS status
  FROM events
  WHERE NOT ((event_id % 97) % 5 = 4 AND event_id >= 5000)
    AND NOT ((event_id % 97) % 5 = 2 AND event_id >= 5800)
), latest AS (
  SELECT host, ts, status,
         row_number() OVER (PARTITION BY host ORDER BY ts DESC) AS rn,
         max(CASE WHEN status BETWEEN 200 AND 299 THEN ts END)
           OVER (PARTITION BY host) AS ok_ts
  FROM log
), s AS (
  SELECT host, status AS last_status,
         CAST(epoch(TIMESTAMP '2025-01-03 08:33:00') - epoch(ts) AS BIGINT)
           AS age_s,
         ok_ts
  FROM latest WHERE rn = 1
), st AS (
  SELECT host, last_status, age_s,
         CASE
           WHEN last_status BETWEEN 200 AND 299 AND age_s <= 86400 THEN 'fresh'
           WHEN last_status BETWEEN 200 AND 299 THEN 'refetch_due'
           WHEN last_status BETWEEN 400 AND 499 THEN 'unavailable_allow'
           WHEN age_s > 36000 AND ok_ts IS NOT NULL
             THEN 'unreachable_stale_cache_ok'
           WHEN age_s > 36000 THEN 'unavailable_allow'
           ELSE 'unreachable_disallow'
         END AS state
  FROM s
)
SELECT host, CAST(last_status AS INT) AS last_status, age_s, state,
       state IN ('refetch_due', 'unreachable_disallow') AS refetch_due
FROM st ORDER BY host
"""


def _q_incremental_fetch(spark, sf_dir):
    """Incremental refresh crawl: the versioned history's latest captures
    revalidate against a current corpus where every 3rd URL changed
    content, every 10th vanished, and the rest are byte-identical —
    304/200/404 statuses and the only-changed-rows-carry-bytes contract
    are all certified."""
    from web_crawler_spark.operators import snapshots as SN

    hist = _versioned_pages(spark, sf_dir)
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    k = F.col("event_id")
    corpus = e.filter(k % 10 != 0).select(
        F.concat(F.lit("https://ex.com/p"), k.cast("string")).alias("url"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit("body "), k.cast("string"), F.lit(" rev9")),
        ).otherwise(
            # unchanged: byte-identical to the LATEST capture (every URL's
            # latest version is rev1: v3//2 and v2//2 both = 1)
            F.concat(F.lit("body "), k.cast("string"), F.lit(" rev1"))
        ).alias("text"),
    )
    return SN.revalidation_fetch(hist, corpus).orderBy("url")


_SQL_INCREMENTAL_FETCH = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS url,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         concat('body ', CAST(event_id % 3000 AS VARCHAR), ' rev',
                CAST(CAST(floor(event_id / 3000 / 2) AS BIGINT) AS VARCHAR)) AS text
  FROM events
), latest AS (
  SELECT url, ts AS prior_ts, md5(text) AS prior_fp FROM (
    SELECT url, ts, text,
           row_number() OVER (PARTITION BY url ORDER BY ts DESC) AS rn
    FROM pages) WHERE rn = 1
), corpus AS (
  SELECT concat('https://ex.com/p', CAST(event_id AS VARCHAR)) AS url,
         CASE WHEN event_id % 3 = 0
              THEN concat('body ', CAST(event_id AS VARCHAR), ' rev9')
              ELSE concat('body ', CAST(event_id AS VARCHAR), ' rev1')
         END AS text
  FROM events WHERE event_id < 3000 AND event_id % 10 <> 0
), j AS (
  SELECT l.url, l.prior_ts, l.prior_fp, c.text AS cur_text
  FROM latest l LEFT JOIN corpus c ON c.url = l.url
)
SELECT url,
       CASE WHEN cur_text IS NULL THEN 404
            WHEN md5(cur_text) = prior_fp THEN 304
            ELSE 200 END AS status,
       prior_ts,
       CASE WHEN cur_text IS NOT NULL AND md5(cur_text) <> prior_fp
            THEN cur_text END AS body
FROM j ORDER BY url
"""


def _q_refresh_pipeline(spark, sf_dir):
    """The refresh wave END-TO-END (the crawl-side analogue of
    tx_corpus_pipeline's certified composition): Cho–Garcia-Molina
    recrawl priority × conditional-GET revalidation against the churned
    corpus × the resulting action per URL — 200→ingest (re-extract +
    response record), 304→revisit_record (headers only), 404→tombstone.
    Every stage was individually certified; this certifies what a
    refresh crawl actually runs, in one plan."""
    from web_crawler_spark.operators import snapshots as SN

    hist = _versioned_pages(spark, sf_dir)
    pri = SN.recrawl_priority(hist, "2025-01-02 00:00:00").select(
        "url", "priority"
    )
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    k = F.col("event_id")
    corpus = e.filter(k % 10 != 0).select(
        F.concat(F.lit("https://ex.com/p"), k.cast("string")).alias("url"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit("body "), k.cast("string"), F.lit(" rev9")),
        ).otherwise(
            F.concat(F.lit("body "), k.cast("string"), F.lit(" rev1"))
        ).alias("text"),
    )
    fetches = SN.revalidation_fetch(hist, corpus).select("url", "status")
    action = (
        F.when(F.col("status") == 404, "tombstone")
        .when(F.col("status") == 304, "revisit_record")
        .otherwise("ingest")
    )
    return (
        pri.join(fetches, "url")
        .select("url", "priority", "status", action.alias("action"))
        .orderBy("url")
    )


_SQL_REFRESH_PIPELINE = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS url,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         concat('body ', CAST(event_id % 3000 AS VARCHAR), ' rev',
                CAST(CAST(floor(event_id / 3000 / 2) AS BIGINT) AS VARCHAR)) AS text
  FROM events
), chain AS (
  SELECT url, ts,
         (LAG(fp) OVER w IS NULL OR fp <> LAG(fp) OVER w) AS changed
  FROM (
    SELECT url, ts,
           md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
    FROM pages)
  WINDOW w AS (PARTITION BY url ORDER BY ts)
), pri AS (
  SELECT url,
         ROUND(
           (CASE WHEN epoch(MAX(ts)) - epoch(MIN(ts)) > 0
                 THEN CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) - 1 AS DOUBLE)
                      / (epoch(MAX(ts)) - epoch(MIN(ts)))
                 ELSE 0 END)
           * (epoch(TIMESTAMP '2025-01-02 00:00:00') - epoch(MAX(ts))), 6)
           AS priority
  FROM chain GROUP BY url
), latest AS (
  SELECT url, md5(text) AS prior_fp FROM (
    SELECT url, text, row_number() OVER (PARTITION BY url ORDER BY ts DESC) AS rn
    FROM pages) WHERE rn = 1
), corpus AS (
  SELECT concat('https://ex.com/p', CAST(event_id AS VARCHAR)) AS url,
         CASE WHEN event_id % 3 = 0
              THEN concat('body ', CAST(event_id AS VARCHAR), ' rev9')
              ELSE concat('body ', CAST(event_id AS VARCHAR), ' rev1')
         END AS text
  FROM events WHERE event_id < 3000 AND event_id % 10 <> 0
), st AS (
  SELECT l.url,
         CASE WHEN c.text IS NULL THEN 404
              WHEN md5(c.text) = l.prior_fp THEN 304
              ELSE 200 END AS status
  FROM latest l LEFT JOIN corpus c ON c.url = l.url
)
SELECT p.url, p.priority, st.status,
       CASE WHEN st.status = 404 THEN 'tombstone'
            WHEN st.status = 304 THEN 'revisit_record'
            ELSE 'ingest' END AS action
FROM pri p JOIN st ON st.url = p.url
ORDER BY p.url
"""


def _q_warc_revisit(spark, sf_dir):
    """Dedup-aware WARC export over the versioned page chain: content
    repeats every other version (rev = version//2), so v1/v3 become
    body-less revisit records whose WARC-Refers-To resolves to the
    v0/v2 response ids. The full record strings are value-certified."""
    from web_crawler_spark.plans import report as RP

    return RP.warc_revisit_records(
        _versioned_pages(spark, sf_dir), payload_col="text"
    ).orderBy("url", "warc_ts")


_SQL_WARC_REVISIT = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS url,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         concat('body ', CAST(event_id % 3000 AS VARCHAR), ' rev',
                CAST(CAST(floor(event_id / 3000 / 2) AS BIGINT) AS VARCHAR)) AS body
  FROM events
), d AS (
  SELECT url, ts, body, md5(body) AS digest,
         min(ts) OVER (PARTITION BY url, md5(body)) AS first_ts
  FROM pages
), ids AS (
  SELECT *,
         md5(concat(url, '|', CAST(ts AS VARCHAR))) AS h,
         md5(concat(url, '|', CAST(first_ts AS VARCHAR))) AS rh,
         chr(13) || chr(10) AS crlf,
         strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS wdate,
         strftime(first_ts, '%Y-%m-%dT%H:%M:%SZ') AS rdate
  FROM d
), built AS (
  SELECT url, ts, digest, first_ts, crlf, wdate, rdate, body,
         '<urn:uuid:' || substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' ||
           substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-' ||
           substr(h, 21, 12) || '>' AS rec_id,
         '<urn:uuid:' || substr(rh, 1, 8) || '-' || substr(rh, 9, 4) || '-' ||
           substr(rh, 13, 4) || '-' || substr(rh, 17, 4) || '-' ||
           substr(rh, 21, 12) || '>' AS ref_id
  FROM ids
)
SELECT url, ts AS warc_ts,
       CASE WHEN ts > first_ts THEN 'revisit' ELSE 'response' END AS warc_type,
       CASE WHEN ts > first_ts THEN
         'WARC/1.0' || crlf ||
         'WARC-Type: revisit' || crlf ||
         'WARC-Target-URI: ' || url || crlf ||
         'WARC-Date: ' || wdate || crlf ||
         'WARC-Record-ID: ' || rec_id || crlf ||
         'WARC-Refers-To: ' || ref_id || crlf ||
         'WARC-Refers-To-Target-URI: ' || url || crlf ||
         'WARC-Refers-To-Date: ' || rdate || crlf ||
         'WARC-Profile: http://netpreservation.org/warc/1.0/revisit/identical-payload-digest' || crlf ||
         'WARC-Payload-Digest: md5:' || digest || crlf ||
         'Content-Length: 0' || crlf || crlf || crlf
       ELSE
         'WARC/1.0' || crlf ||
         'WARC-Type: response' || crlf ||
         'WARC-Target-URI: ' || url || crlf ||
         'WARC-Date: ' || wdate || crlf ||
         'WARC-Record-ID: ' || rec_id || crlf ||
         'WARC-Payload-Digest: md5:' || digest || crlf ||
         'Content-Type: text/html' || crlf ||
         'Content-Length: ' || CAST(octet_length(encode(body)) AS VARCHAR) || crlf ||
         crlf || body || crlf || crlf
       END AS record
FROM built ORDER BY url, ts
"""


def _q_circuit_breaker(spark, sf_dir):
    """Per-host circuit breaker over a synthesized fetch log: h0 all-503
    and h3 all-429 trip, h1's alternating 200/503 sits exactly at the 0.5
    threshold (trips), h2's sparse 404s and h4's 20% 500s stay closed —
    4xx never counts. The oracle recomputes the trailing window."""
    from web_crawler_spark.operators import politeness as P

    e = _t(spark, sf_dir, "events")
    h = F.col("user_id") % 6
    status = (
        F.when(h == 0, F.lit(503))
        .when(h == 1, F.when(F.col("event_id") % 2 == 0, 503).otherwise(200))
        .when(h == 2, F.when(F.col("event_id") % 10 == 0, 404).otherwise(200))
        .when(h == 3, F.lit(429))
        .when(h == 4, F.when(F.col("event_id") % 5 == 0, 500).otherwise(200))
        .otherwise(F.lit(200))
    )
    log = e.select(
        F.concat(F.lit("h"), h.cast("string"), F.lit(".com")).alias("host"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2025-01-01 00:00:00")) + F.col("event_id")
        ).alias("fetch_ts"),
        status.cast("int").alias("status"),
    )
    return P.host_circuit_breaker(log).orderBy("host")


_SQL_CIRCUIT_BREAKER = """
WITH log AS (
  SELECT concat('h', CAST(user_id % 6 AS VARCHAR), '.com') AS host,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND)
           AS fetch_ts,
         CASE user_id % 6
           WHEN 0 THEN 503
           WHEN 1 THEN CASE WHEN event_id % 2 = 0 THEN 503 ELSE 200 END
           WHEN 2 THEN CASE WHEN event_id % 10 = 0 THEN 404 ELSE 200 END
           WHEN 3 THEN 429
           WHEN 4 THEN CASE WHEN event_id % 5 = 0 THEN 500 ELSE 200 END
           ELSE 200
         END AS status
  FROM events
), scored AS (
  SELECT host, fetch_ts,
         AVG(CASE WHEN status >= 500 OR status = 429 THEN 1.0 ELSE 0.0 END)
           OVER (PARTITION BY host ORDER BY fetch_ts
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS err_rate,
         COUNT(*) OVER (PARTITION BY host ORDER BY fetch_ts
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS n,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY fetch_ts DESC) AS rn
  FROM log
)
SELECT host, n AS n_fetches, ROUND(err_rate, 6) AS trailing_error_rate,
       (n >= 10 AND err_rate >= 0.5) AS breaker_open,
       CASE WHEN n >= 10 AND err_rate >= 0.5
            THEN fetch_ts + INTERVAL 300 SECOND END AS resume_ts
FROM scored WHERE rn = 1 ORDER BY host
"""


def _q_idn_hosts(spark, sf_dir):
    """IDN → punycode host identity: a frontier mixing ASCII hosts with
    four internationalized domains (every 4th row cycles bücher.de /
    пример.рф / münchen.example.com / café.fr); the ASCII majority stays
    on the pure-column path, the non-ASCII subset goes through the idna
    stage, and the oracle is ground truth by construction (RFC 3490
    reference encodings)."""
    from web_crawler_spark.functions.urltools import idn_host_stage

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.col("event_id")
    host = (
        F.when(k % 8 == 1, F.lit("Bücher.de"))
        .when(k % 8 == 3, F.lit("пример.рф"))
        .when(k % 8 == 5, F.lit("münchen.example.com"))
        .when(k % 8 == 7, F.lit("café.fr"))
        .otherwise(F.concat(F.lit("Host"), (k % 50).cast("string"), F.lit(".com")))
    )
    df = e.select(k.alias("event_id"), host.alias("host"))
    return idn_host_stage(df).orderBy("event_id")


_SQL_IDN_HOSTS = """
SELECT event_id,
       CASE WHEN event_id % 8 = 1 THEN 'Bücher.de'
            WHEN event_id % 8 = 3 THEN 'пример.рф'
            WHEN event_id % 8 = 5 THEN 'münchen.example.com'
            WHEN event_id % 8 = 7 THEN 'café.fr'
            ELSE concat('Host', CAST(event_id % 50 AS VARCHAR), '.com') END AS host,
       CASE WHEN event_id % 8 = 1 THEN 'xn--bcher-kva.de'
            WHEN event_id % 8 = 3 THEN 'xn--e1afmkfd.xn--p1ai'
            WHEN event_id % 8 = 5 THEN 'xn--mnchen-3ya.example.com'
            WHEN event_id % 8 = 7 THEN 'xn--caf-dma.fr'
            ELSE concat('host', CAST(event_id % 50 AS VARCHAR), '.com') END AS ascii_host
FROM events WHERE event_id < 2000 ORDER BY event_id
"""


def _q_frontier_select(spark, sf_dir):
    """Exact top-5000 frontier pick from 10k URLs across 20 priority
    levels via histogram + boundary-level-only sort (no global sort);
    the oracle is the plain ORDER BY ... LIMIT with the same
    deterministic (priority DESC, md5(url)) ranking."""
    from web_crawler_spark.plans.epoch import frontier_select

    e = _t(spark, sf_dir, "events")
    frontier = e.select(
        F.concat(F.lit("https://h"), (F.col("event_id") % 7).cast("string"),
                 F.lit(".com/p"), F.col("event_id").cast("string")).alias("url"),
        (F.col("event_id") % 20).alias("priority"),
    )
    return frontier_select(frontier, 5000).orderBy("url")


_SQL_FRONTIER_SELECT = """
WITH frontier AS (
  SELECT concat('https://h', CAST(event_id % 7 AS VARCHAR), '.com/p',
                CAST(event_id AS VARCHAR)) AS url,
         event_id % 20 AS priority
  FROM events
)
SELECT url, priority FROM (
  SELECT url, priority FROM frontier
  ORDER BY priority DESC, md5(url), url LIMIT 5000
) ORDER BY url
"""


def _q_sitemap_refresh(spark, sf_dir):
    """Sitemap-lastmod × crawl-history staleness: every 5th URL's sitemap
    entry declares a lastmod after its latest capture ('stale'), every
    7th sitemap URL was never captured ('new'), lastmods mix both W3C
    forms (date-only, full datetime) and one malformed value per 35th
    entry contributes no evidence. The oracle recomputes the join."""
    from web_crawler_spark.operators import snapshots as SN

    hist = _versioned_pages(spark, sf_dir)
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    k = F.col("event_id")
    loc = F.when(k % 7 == 0,
                 F.concat(F.lit("https://ex.com/new"), k.cast("string"))
                 ).otherwise(
                 F.concat(F.lit("https://ex.com/p"), k.cast("string")))
    lastmod = (
        F.when(k % 35 == 1, F.lit("not-a-date"))
        .when(k % 5 == 0, F.lit("2025-02-01T00:00:00"))   # after every capture
        .when(k % 5 == 1, F.lit("2024-12-31"))            # before every capture
        .otherwise(F.lit(None).cast("string"))
    )
    entries = e.select(loc.alias("loc"), lastmod.alias("lastmod"))
    return SN.sitemap_refresh_candidates(hist, entries).orderBy("url")


_SQL_SITEMAP_REFRESH = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS url,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts
  FROM events
), latest AS (
  SELECT url, max(ts) AS last_fetch_ts FROM pages GROUP BY url
), entries AS (
  SELECT CASE WHEN event_id % 7 = 0
              THEN concat('https://ex.com/new', CAST(event_id AS VARCHAR))
              ELSE concat('https://ex.com/p', CAST(event_id AS VARCHAR)) END AS loc,
         CASE WHEN event_id % 35 = 1 THEN 'not-a-date'
              WHEN event_id % 5 = 0 THEN '2025-02-01T00:00:00'
              WHEN event_id % 5 = 1 THEN '2024-12-31'
         END AS lastmod
  FROM events WHERE event_id < 3000
), joined AS (
  SELECT e.loc, TRY_CAST(e.lastmod AS TIMESTAMP) AS lastmod_ts,
         l.last_fetch_ts
  FROM entries e LEFT JOIN latest l ON l.url = e.loc
)
SELECT loc AS url, last_fetch_ts, lastmod_ts,
       CASE WHEN last_fetch_ts IS NULL THEN 'new'
            WHEN lastmod_ts IS NOT NULL AND lastmod_ts > last_fetch_ts
            THEN 'stale' END AS reason
FROM joined
WHERE (last_fetch_ts IS NULL)
   OR (lastmod_ts IS NOT NULL AND lastmod_ts > last_fetch_ts)
ORDER BY url
"""


def _q_snapshot_asof(spark, sf_dir):
    """Corpus-as-of-T cut over the versioned page table: latest warc_ts ≤
    cutoff per url (training-data release / reproducible dataset view)."""
    from web_crawler_spark.operators import snapshots as SN

    pages = _versioned_pages(spark, sf_dir)
    cutoff = F.timestamp_seconds(
        F.unix_timestamp(F.lit("2025-01-01 00:00:00")) + F.lit(5000)
    )
    return SN.snapshot_asof(pages, cutoff).orderBy("url")


_SQL_SNAPSHOT_ASOF = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS url,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS warc_ts,
         concat('body ', CAST(event_id % 3000 AS VARCHAR),
                ' rev', CAST(CAST(floor(event_id / 3000 / 2) AS BIGINT) AS VARCHAR)) AS text
  FROM events
), r AS (
  SELECT url, warc_ts, text,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC) AS rn
  FROM pages
  WHERE warc_ts <= TIMESTAMP '2025-01-01 00:00:00' + (5000 * INTERVAL 1 SECOND)
)
SELECT url, warc_ts, text FROM r WHERE rn = 1 ORDER BY url
"""


def _q_change_detection(spark, sf_dir):
    """Recrawl change stream: per-URL version chain with fingerprint-lag
    change bits — refresh scheduling skips unchanged fetches."""
    from web_crawler_spark.operators import snapshots as SN

    return SN.change_detection(_versioned_pages(spark, sf_dir)).orderBy(
        "key", "version_no"
    )


_SQL_CHANGE_DETECTION = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS key,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         md5(trim(regexp_replace(regexp_replace(lower(
           concat('body ', CAST(event_id % 3000 AS VARCHAR),
                  ' rev', CAST(CAST(floor(event_id / 3000 / 2) AS BIGINT) AS VARCHAR))
         ), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
  FROM events
)
SELECT key, ts, fingerprint,
       ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts) AS version_no,
       (LAG(fingerprint) OVER (PARTITION BY key ORDER BY ts) IS NULL
        OR fingerprint <> LAG(fingerprint) OVER (PARTITION BY key ORDER BY ts))
         AS changed
FROM pages ORDER BY key, version_no
"""


def _q_gopher_stopwords(spark, sf_dir):
    """Gopher's stop-word document gate (Rae et al. 2021 §A1.1: ≥2 of 8
    canonical function words — the cheapest is-this-prose filter) over
    documents; distinct-presence count + flag, both value-certified."""
    d = _t(spark, sf_dir, "documents")
    s = T.gopher_stopword_flag(F.col("text"))
    return d.select(
        "doc_id",
        s["n_stop_present"].alias("n_stop_present"),
        s["flag_stopwords"].alias("flag_stopwords"),
    ).orderBy("doc_id")


_SQL_GOPHER_STOPWORDS = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE list_distinct(string_split_regex(trim(lower(text)), '\s+')) END AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(list_intersect(toks,
            ['the','be','to','of','and','that','have','with'])) AS INT)
         AS n_stop_present,
       len(list_intersect(toks,
            ['the','be','to','of','and','that','have','with'])) >= 2
         AS flag_stopwords
FROM t ORDER BY doc_id
"""


def _q_invisible_hygiene(spark, sf_dir):
    """Invisible-character hygiene (zero-width / bidi-control / BOM /
    soft-hyphen): planted ZWSP+BOM, RLO, and soft-hyphen payloads are
    stripped and counted by the pure-column pass; the oracle knows the
    planted ground truth. Two visually-identical texts must fingerprint
    identically — this runs next to NFC before any hash dedup."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.col("event_id")
    text = (
        F.when(k % 5 == 0, F.lit("pa​ge﻿"))
        .when(k % 5 == 1, F.lit("bi‮di"))
        .when(k % 5 == 2, F.lit("soft­hyphen"))
        .otherwise(F.lit("plain text"))
    )
    return e.select(
        k.alias("event_id"),
        T.strip_invisible(text).alias("clean"),
        T.invisible_count(text).alias("n_invisible"),
    ).orderBy("event_id")


_SQL_INVISIBLE_HYGIENE = """
SELECT event_id,
       CASE WHEN event_id % 5 = 0 THEN 'page'
            WHEN event_id % 5 = 1 THEN 'bidi'
            WHEN event_id % 5 = 2 THEN 'softhyphen'
            ELSE 'plain text' END AS clean,
       CAST(CASE WHEN event_id % 5 = 0 THEN 2
                 WHEN event_id % 5 = 1 THEN 1
                 WHEN event_id % 5 = 2 THEN 1
                 ELSE 0 END AS BIGINT) AS n_invisible
FROM events WHERE event_id < 2000 ORDER BY event_id
"""


def _q_fetch_sessions(spark, sf_dir):
    """Gap-based sessionization (F.session_window, 30 s gap) of a
    scattered synthetic fetch log — the burst/abuse rollup. The oracle
    recomputes sessions with the classic lag + cumulative-sum session-id
    construction (new session iff silence STRICTLY exceeds the gap,
    matching Spark's merge-at-exactly-gap behavior)."""
    from web_crawler_spark.streaming.events import fetch_sessions

    e = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"))
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit("2025-01-01 00:00:00"))
        + (F.col("event_id") * 7919) % 50000
    )
    log = e.select(host.alias("host"), ts.alias("fetch_ts"))
    return fetch_sessions(log, gap="30 seconds").orderBy("host", "session_start")


_SQL_FETCH_SESSIONS = """
WITH log AS (
  SELECT concat('h', CAST(user_id % 20 AS VARCHAR)) AS host,
         TIMESTAMP '2025-01-01 00:00:00'
           + (((event_id * 7919) % 50000) * INTERVAL 1 SECOND) AS fetch_ts
  FROM events
), o AS (
  SELECT host, fetch_ts,
         CASE WHEN LAG(fetch_ts) OVER (PARTITION BY host ORDER BY fetch_ts) IS NULL
                   OR fetch_ts - LAG(fetch_ts) OVER (PARTITION BY host ORDER BY fetch_ts)
                      > INTERVAL 30 SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM log
), s AS (
  SELECT host, fetch_ts,
         SUM(new_s) OVER (PARTITION BY host ORDER BY fetch_ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT host, MIN(fetch_ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_fetches, MAX(fetch_ts) AS last_ts
FROM s GROUP BY host, sid ORDER BY host, session_start
"""


def _q_change_magnitude(spark, sf_dir):
    """Graded recrawl change signal: shingle-Jaccard between consecutive
    versions (1.0 - J = change magnitude, the Cho-Garcia-Molina refresh
    prior input — a ticker tweak and a full rewrite rank differently).
    Versions share 5 of 6 words across revs, so the planted ground truth
    is exact: identical → J=1.0, rev bump → J=3/5 (3 of 5 distinct
    3-shingles shared)."""
    from web_crawler_spark.operators import snapshots as SN

    e = _t(spark, sf_dir, "events")
    url = F.concat(F.lit("https://ex.com/p"), (F.col("event_id") % 3000).cast("string"))
    warc_ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit("2025-01-01 00:00:00")) + F.col("event_id")
    )
    rev = F.floor(F.col("event_id") / 3000 / 2).cast("string")
    text = F.concat(F.lit("alpha beta gamma delta epsilon rev"), rev)
    pages = e.select(url.alias("url"), warc_ts.alias("warc_ts"), text.alias("text"))
    return SN.change_magnitude(pages).orderBy("key", "version_no")


_SQL_CHANGE_MAGNITUDE = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS key,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         CAST(floor(event_id / 3000 / 2) AS BIGINT) AS rev
  FROM events
), v AS (
  SELECT key, ts, rev,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts) AS version_no,
         LAG(rev) OVER (PARTITION BY key ORDER BY ts) AS prev_rev
  FROM pages
)
SELECT key, ts, version_no,
       CAST(CASE WHEN prev_rev IS NULL THEN NULL
                 WHEN rev = prev_rev THEN 1.0
                 ELSE round(3.0 / 5.0, 6) END AS DOUBLE) AS jaccard,
       CAST(CASE WHEN prev_rev IS NULL THEN NULL
                 WHEN rev = prev_rev THEN 0.0
                 ELSE round(1.0 - round(3.0 / 5.0, 6), 6) END AS DOUBLE)
         AS change_magnitude
FROM v ORDER BY key, version_no
"""


def _q_feed_scan(spark, sf_dir):
    """RSS/Atom feed ingestion on REAL bytes: one RSS 2.0 file, one
    gzipped Atom file, and one malformed file are generated from the
    customer table, parsed back via the distributed binaryFile +
    mapInPandas scan, and the oracle recomputes every
    (feed_kind, item_url, title, pub_ts) row — RFC 822 / RFC 3339 dates
    stay raw strings, and the bad file isolates to one error row."""
    import gzip as _gz
    import tempfile

    from web_crawler_spark.sources.feeds import atom_bytes, feed_scan, rss_bytes

    keys = [
        r["c_custkey"]
        for r in _t(spark, sf_dir, "customer").select("c_custkey").orderBy("c_custkey").collect()
    ]
    d = tempfile.mkdtemp(prefix="feed_scan_")
    with open(os.path.join(d, "news.rss.xml"), "wb") as f:
        f.write(rss_bytes([
            (f"https://news.ex.com/a{k}", f"Story {k}",
             "Mon, 06 Jan 2025 00:00:00 GMT")
            for k in keys if k % 2 == 0
        ]))
    with open(os.path.join(d, "blog.atom.xml.gz"), "wb") as f:
        f.write(_gz.compress(atom_bytes([
            (f"https://blog.ex.com/p{k}", f"Post {k}", "2025-01-06T00:00:00Z")
            for k in keys if k % 2 == 1
        ])))
    with open(os.path.join(d, "broken.xml"), "wb") as f:
        f.write(b"<html><body>not a feed</body></html>")
    return (
        feed_scan(spark, d)
        .select("feed_kind", "item_url", "title", "pub_ts")
        .orderBy("feed_kind", "item_url")
    )


_SQL_FEED_SCAN = """
SELECT feed_kind, item_url, title, pub_ts FROM (
  SELECT 'rss' AS feed_kind,
         concat('https://news.ex.com/a', CAST(c_custkey AS VARCHAR)) AS item_url,
         concat('Story ', CAST(c_custkey AS VARCHAR)) AS title,
         'Mon, 06 Jan 2025 00:00:00 GMT' AS pub_ts
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT 'atom',
         concat('https://blog.ex.com/p', CAST(c_custkey AS VARCHAR)),
         concat('Post ', CAST(c_custkey AS VARCHAR)),
         '2025-01-06T00:00:00Z'
  FROM customer WHERE c_custkey % 2 = 1
  UNION ALL
  SELECT 'error', 'ValueError: not a feed document: <html>', NULL, NULL
) ORDER BY feed_kind, item_url
"""


def _q_sitemap_scan(spark, sf_dir):
    """Sitemap ingestion on REAL bytes: an index + two child sitemaps (one
    gzipped) are generated deterministically from the customer table,
    parsed back via the distributed binaryFile + mapInPandas scan, and the
    oracle recomputes every (kind, loc, lastmod) row from the same table —
    the whole protocol parse (urlset/sitemapindex/gzip) is value-certified."""
    import tempfile

    from web_crawler_spark.sources.sitemap import sitemap_bytes, sitemap_scan

    keys = [
        r["c_custkey"]
        for r in _t(spark, sf_dir, "customer").select("c_custkey").orderBy("c_custkey").collect()
    ]
    d = tempfile.mkdtemp(prefix="sitemap_scan_")
    with open(os.path.join(d, "sm_index.xml"), "wb") as f:
        f.write(
            sitemap_bytes(
                [
                    ("https://ex.com/sm_a.xml", "2024-12-01"),
                    ("https://ex.com/sm_b.xml.gz", None),
                ],
                index=True,
            )
        )
    with open(os.path.join(d, "sm_a.xml"), "wb") as f:
        f.write(
            sitemap_bytes(
                [(f"https://ex.com/c{k}", "2025-01-01") for k in keys if k % 2 == 0]
            )
        )
    with open(os.path.join(d, "sm_b.xml.gz"), "wb") as f:
        f.write(
            sitemap_bytes(
                [(f"https://ex.com/c{k}", None) for k in keys if k % 2 == 1],
                gz=True,
            )
        )
    return (
        sitemap_scan(spark, d)
        .select("kind", "loc", "lastmod")
        .orderBy("kind", "loc")
    )


_SQL_SITEMAP_SCAN = """
SELECT kind, loc, lastmod FROM (
  SELECT 'sitemap' AS kind, 'https://ex.com/sm_a.xml' AS loc, '2024-12-01' AS lastmod
  UNION ALL
  SELECT 'sitemap', 'https://ex.com/sm_b.xml.gz', NULL
  UNION ALL
  SELECT 'url', concat('https://ex.com/c', CAST(c_custkey AS VARCHAR)),
         CASE WHEN c_custkey % 2 = 0 THEN '2025-01-01' ELSE NULL END
  FROM customer
) ORDER BY kind, loc
"""


def _q_warc_scan(spark, sf_dir):
    """WARC ingest on REAL bytes: three .warc.gz shards (one gzip member
    per record, the Common Crawl layout) are generated deterministically
    from the customer table, parsed back via the distributed binaryFile +
    mapInPandas scan (Content-Length framing + HTTP header split), and
    the oracle recomputes every (url, http_status, body) row from the
    same table — the whole read path is value-certified."""
    import tempfile

    from web_crawler_spark.sources.warc import (
        warc_gz_bytes,
        warc_record_bytes,
        warc_scan,
    )

    rows = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
        .collect()
    )
    d = tempfile.mkdtemp(prefix="warc_scan_")
    shards: list[list[bytes]] = [[], [], []]
    for r in rows:
        body = f"<html><body>c{r['c_custkey']}:{r['c_name']}</body></html>".encode()
        shards[r["c_custkey"] % 3].append(
            warc_record_bytes(
                f"https://ex.com/c{r['c_custkey']}", "2025-01-01T00:00:00Z", body
            )
        )
    for i, recs in enumerate(shards):
        with open(os.path.join(d, f"shard_{i}.warc.gz"), "wb") as f:
            f.write(warc_gz_bytes(recs))
    return (
        warc_scan(spark, d)
        .filter(F.col("warc_type") == "response")
        .select(
            "url",
            "http_status",
            F.col("payload").cast("string").alias("body"),
        )
        .orderBy("url")
    )


_SQL_WARC_SCAN = """
SELECT concat('https://ex.com/c', CAST(c_custkey AS VARCHAR)) AS url,
       CAST(200 AS INTEGER) AS http_status,
       concat('<html><body>c', CAST(c_custkey AS VARCHAR), ':', c_name,
              '</body></html>') AS body
FROM customer
ORDER BY url
"""


def _q_recrawl_priority(spark, sf_dir):
    """Refresh scheduling over the versioned page table: change-rate ×
    staleness priority (Cho & Garcia-Molina), top-50 next recrawls."""
    from web_crawler_spark.operators import snapshots as SN

    return (
        SN.recrawl_priority(
            _versioned_pages(spark, sf_dir), "2025-01-02 00:00:00"
        )
        .orderBy(F.desc("priority"), "url")
        .limit(50)
    )


_SQL_RECRAWL_PRIORITY = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS key,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         md5(trim(regexp_replace(regexp_replace(lower(
           concat('body ', CAST(event_id % 3000 AS VARCHAR),
                  ' rev', CAST(CAST(floor(event_id / 3000 / 2) AS BIGINT) AS VARCHAR))
         ), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
  FROM events
),
chain AS (
  SELECT key, ts,
         (LAG(fingerprint) OVER w IS NULL
          OR fingerprint <> LAG(fingerprint) OVER w) AS changed
  FROM pages WINDOW w AS (PARTITION BY key ORDER BY ts)
),
per AS (
  SELECT key AS url,
         COUNT(*) AS n_versions,
         CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) - 1 AS BIGINT) AS n_changes,
         epoch(MAX(ts)) AS last_e,
         epoch(MAX(ts)) - epoch(MIN(ts)) AS span_sec
  FROM chain GROUP BY key
)
SELECT url, n_versions, n_changes,
       CAST(epoch(TIMESTAMP '2025-01-02 00:00:00') - last_e AS BIGINT) AS staleness_sec,
       ROUND(
         (CASE WHEN span_sec > 0 THEN CAST(n_changes AS DOUBLE) / span_sec ELSE 0 END)
         * (epoch(TIMESTAMP '2025-01-02 00:00:00') - last_e), 6) AS priority
FROM per ORDER BY priority DESC, url LIMIT 50
"""


def _host_edges(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.concat(
            F.lit("https://h"), (F.col("user_id") % 12).cast("string"),
            F.lit(".com/p/"), F.col("event_id").cast("string"),
        ).alias("from_url"),
        F.concat(
            F.lit("https://h"), ((F.col("user_id") + F.col("event_id")) % 12).cast("string"),
            F.lit(".com/q/"), F.col("event_id").cast("string"),
        ).alias("resolved_url"),
    )


def _psl_edge_hosts(spark, sf_dir):
    """Host-level edges whose endpoints carry PSL structure: 8 sites × 3
    suffix families (co.uk registry / blogspot.com private / plain com),
    each appearing as apex, www., or api. vhost — so the domain collapse
    has real work to do (vhost merge, intra-site loop drop)."""
    e = _t(spark, sf_dir, "events")

    def mk(uid, vsel):
        v = (
            F.when(vsel % 3 == 0, F.lit(""))
            .when(vsel % 3 == 1, F.lit("www."))
            .otherwise(F.lit("api."))
        )
        return F.concat(
            v,
            F.lit("s"),
            (uid % 8).cast("string"),
            F.when(uid % 3 == 0, F.lit(".co.uk"))
            .when(uid % 3 == 1, F.lit(".blogspot.com"))
            .otherwise(F.lit(".com")),
        )

    return e.select(
        mk(F.col("user_id"), F.col("event_id")).alias("src_host"),
        mk(F.col("user_id") + F.col("event_id"), F.col("event_id") + 1).alias(
            "dst_host"
        ),
    )


_SQL_PSL_EDGE_CTES = (
    """eh AS (
  SELECT concat(CASE CAST(event_id % 3 AS INT) WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'api.' END,
                's', CAST(user_id % 8 AS VARCHAR),
                CASE CAST(user_id % 3 AS INT) WHEN 0 THEN '.co.uk'
                     WHEN 1 THEN '.blogspot.com' ELSE '.com' END) AS src_host,
         concat(CASE CAST((event_id + 1) % 3 AS INT) WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'api.' END,
                's', CAST((user_id + event_id) % 8 AS VARCHAR),
                CASE CAST((user_id + event_id) % 3 AS INT) WHEN 0 THEN '.co.uk'
                     WHEN 1 THEN '.blogspot.com' ELSE '.com' END) AS dst_host
  FROM events
),
hosts AS (SELECT src_host AS host FROM eh UNION SELECT dst_host AS host FROM eh),
"""
    + _SQL_PSL_SITES
    + """,
de AS (
  SELECT ss.site_key AS src_site, sd.site_key AS dst_site, COUNT(*) AS n_links
  FROM eh JOIN sites ss ON eh.src_host = ss.host
          JOIN sites sd ON eh.dst_host = sd.host
  WHERE ss.site_key <> sd.site_key
  GROUP BY 1, 2
)"""
)


def _q_domain_graph(spark, sf_dir):
    """Registrable-domain (eTLD+1) collapse of the host graph
    (operators/graph.py::domain_graph): vhosts merge into their site node,
    intra-site links drop as self-loops, private-suffix subdomains stay
    separate nodes — the Common Crawl domain-rank granularity. PSL probes
    are broadcast joins; the one shuffle is the site-edge re-aggregation."""
    from web_crawler_spark.operators import graph as G

    eh = _psl_edge_hosts(spark, sf_dir)
    he = eh.groupBy("src_host", "dst_host").agg(F.count(F.lit(1)).alias("n_links"))
    return G.domain_graph(he).orderBy("src_site", "dst_site")


_SQL_DOMAIN_GRAPH = f"""
WITH {_SQL_PSL_EDGE_CTES}
SELECT src_site, dst_site, n_links FROM de ORDER BY src_site, dst_site
"""


def _q_domain_pagerank(spark, sf_dir):
    """PageRank at registrable-domain granularity (the rank table Common
    Crawl actually publishes): same power iteration as gr_host_pagerank,
    run on the PSL-collapsed edge list. Oracle unrolls the 10 iterations
    over the identical DuckDB-computed domain graph."""
    from web_crawler_spark.operators import graph as G

    eh = _psl_edge_hosts(spark, sf_dir)
    he = eh.groupBy("src_host", "dst_host").agg(F.count(F.lit(1)).alias("n_links"))
    ranks = G.pagerank(
        G.domain_graph(he), iterations=10, src_col="src_site", dst_col="dst_site"
    )
    return ranks.orderBy(F.desc("rank"), "node")


_SQL_DOMAIN_PAGERANK_EDGES = (
    _SQL_PSL_EDGE_CTES
    + """,
e AS (SELECT src_site AS src, dst_site AS dst, CAST(n_links AS DOUBLE) AS w FROM de)"""
)


def _q_host_graph(spark, sf_dir):
    """Outlink host graph: (src_host, dst_host, n_links) — the crawl
    planner's edge list (self-loops dropped)."""
    from web_crawler_spark.operators import graph as G

    return G.host_graph(_host_edges(spark, sf_dir))


_SQL_HOST_GRAPH = """
WITH e AS (
  SELECT concat('h', CAST(user_id % 12 AS VARCHAR), '.com') AS src_host,
         concat('h', CAST((user_id + event_id) % 12 AS VARCHAR), '.com') AS dst_host
  FROM events
)
SELECT src_host, dst_host, COUNT(*) AS n_links FROM e
WHERE src_host <> dst_host GROUP BY src_host, dst_host
"""


def _q_host_pagerank(spark, sf_dir):
    """Iterative PageRank over the host graph (crawl prioritization signal)
    — DataFrame join-agg power iteration with lineage checkpoints. Round 2:
    oracle-CHECKED by unrolling the 10 power iterations into chained DuckDB
    CTEs (_pagerank_sql) — the 'iterative ⇒ rows-only' exemption is no
    longer claimed for this op."""
    from web_crawler_spark.operators import graph as G

    edges = G.host_graph(_host_edges(spark, sf_dir))
    return G.pagerank(edges, iterations=10).orderBy(F.desc("rank"), "node")


_SQL_HOST_EDGES_E = """e AS (
  SELECT src_host AS src, dst_host AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM (
    SELECT concat('h', CAST(user_id % 12 AS VARCHAR), '.com') AS src_host,
           concat('h', CAST((user_id + event_id) % 12 AS VARCHAR), '.com') AS dst_host
    FROM events
  ) WHERE src_host <> dst_host GROUP BY src_host, dst_host
)"""


def _pagerank_sql(
    iterations: int = 10, damping: float = 0.85,
    edges_with: str | None = None, residual_tail: bool = False,
    spearman_tail: bool = False,
) -> str:
    """Unrolled power iteration — the exact algebra of
    operators/graph.py::pagerank (weighted transitions, uniform teleport,
    dangling-mass redistribution) as 3 CTEs per iteration. ``edges_with``
    is a CTE chain (no leading WITH) that must end by defining
    ``e(src, dst, w)``; defaults to the synthetic host graph."""
    d = repr(damping)
    head = f"""
WITH {edges_with or _SQL_HOST_EDGES_E},
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
trans AS (
  SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM e
),
r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes)"""
    parts = [head]
    for i in range(1, iterations + 1):
        parts.append(f""",
c{i} AS MATERIALIZED (
  SELECT t.dst, SUM(t.p * r.rank) AS inflow
  FROM trans t JOIN r{i-1} r ON t.src = r.node GROUP BY t.dst
),
f{i} AS MATERIALIZED (SELECT COALESCE(SUM(inflow), 0.0) AS flowed FROM c{i}),
r{i} AS MATERIALIZED (
  SELECT n.node,
         (1.0 - {d}) + {d} * ((nn.n - f{i}.flowed) / nn.n)
           + {d} * COALESCE(c.inflow, 0.0) AS rank
  FROM nodes n CROSS JOIN nn CROSS JOIN f{i}
  LEFT JOIN c{i} c ON c.dst = n.node
)""")
    if spearman_tail:
        return "".join(parts) + f""",
deg AS (
  SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS indeg
  FROM e GROUP BY dst
),
ranks AS (
  SELECT n.node,
         row_number() OVER (ORDER BY ROUND(r.rank, 6) DESC, n.node)
           AS pr_rank,
         row_number() OVER (ORDER BY COALESCE(d.indeg, 0) DESC, n.node)
           AS deg_rank
  FROM nodes n JOIN r{iterations} r ON r.node = n.node
  LEFT JOIN deg d ON d.node = n.node
),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM((pr_rank - deg_rank) * (pr_rank - deg_rank)) AS BIGINT)
           AS sd2
  FROM ranks
)
SELECT n, sd2,
       CASE WHEN n >= 2 THEN
         ROUND(1.0 - 6.0 * CAST(sd2 AS DOUBLE)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  - 1.0)), 6) END AS spearman_rho
FROM st"""
    if residual_tail:
        rows = " UNION ALL ".join(
            f"SELECT CAST({i} AS BIGINT) AS iteration, "
            f"(SELECT CAST(COALESCE(SUM(CAST(round(abs(round(a.rank, 6) "
            f"- round(b.rank, 6)) * 1000000, 0) AS BIGINT)), 0) AS BIGINT) "
            f"FROM r{i} a JOIN r{i-1} b ON b.node = a.node) "
            f"AS l1_residual_micro"
            for i in range(1, iterations + 1)
        )
        parts.append(f"""
SELECT * FROM ({rows}) ORDER BY iteration""")
        return "".join(parts)
    parts.append(f"""
SELECT node, ROUND(rank, 6) AS rank FROM r{iterations}
ORDER BY rank DESC, node""")
    return "".join(parts)


def _q_opic_update(spark, sf_dir):
    """One OPIC round (Abiteboul et al. 2003) over the host graph with
    h11's out-edges removed so the dangling-redistribution path is
    exercised: cash 1.0 everywhere, distribute, bank, reprioritize. The
    oracle computes the identical single-round algebra directly."""
    from web_crawler_spark.operators import graph as G

    edges = G.host_graph(_host_edges(spark, sf_dir)).filter(
        F.col("src_host") != "h11.com"
    )
    nodes = (
        edges.select(F.col("src_host").alias("node"))
        .unionByName(edges.select(F.col("dst_host").alias("node")))
        .distinct()
    )
    cash = nodes.select(
        "node", F.lit(1.0).alias("cash"), F.lit(0.0).alias("history")
    )
    out = G.opic_update(cash, edges)
    return out.select(
        "node", F.round("cash", 6).alias("cash"),
        F.round("history", 6).alias("history"),
        F.round("priority", 6).alias("priority"),
    ).orderBy("node")


_SQL_OPIC_UPDATE = """
WITH e AS (
  SELECT src_host AS src, dst_host AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM (
    SELECT concat('h', CAST(user_id % 12 AS VARCHAR), '.com') AS src_host,
           concat('h', CAST((user_id + event_id) % 12 AS VARCHAR), '.com') AS dst_host
    FROM events
  ) WHERE src_host <> dst_host AND src_host <> 'h11.com'
  GROUP BY src_host, dst_host
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
trans AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM e),
inflow AS (SELECT dst, SUM(p * 1.0) AS inflow FROM trans GROUP BY dst),
dang AS (
  SELECT COALESCE(SUM(1.0), 0.0) AS d FROM nodes
  WHERE node NOT IN (SELECT src FROM e)
)
SELECT n.node,
       ROUND(COALESCE(i.inflow, 0.0) + dang.d / nn.n, 6) AS cash,
       CAST(1.0 AS DOUBLE) AS history,
       ROUND(1.0 + COALESCE(i.inflow, 0.0) + dang.d / nn.n, 6) AS priority
FROM nodes n CROSS JOIN nn CROSS JOIN dang
LEFT JOIN inflow i ON i.dst = n.node
ORDER BY n.node
"""


def _q_harmonic_hyperball(spark, sf_dir):
    """HyperBall harmonic centrality (operators/graph.py::hyperball —
    Boldi & Vigna 2013, the algorithm behind Common Crawl's published
    harmonic-centrality domain ranks): per-node HLL counters grown one
    hop per round by register-max along in-edges; harmonic accumulates
    the shell deltas (|B(r)|−|B(r−1)|)/r. The graph is a 12-host ring
    with +1/+4 chords (diameter exactly 5, so 5 rounds saturate every
    ball). The oracle unrolls all 5 rounds of register algebra AND the
    estimator into chained DuckDB CTEs — registers, ball estimates,
    clamped shell deltas, and the harmonic sums replay value-for-value
    (md5 register addressing; the register sum is powers-of-two exact;
    each round's estimate is rounded to 6dp before accumulating)."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    s = F.col("user_id") % 12
    step = F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.lit(4))
    ring = e.select(
        F.concat(
            F.lit("https://h"), s.cast("string"),
            F.lit(".com/p/"), F.col("event_id").cast("string"),
        ).alias("from_url"),
        F.concat(
            F.lit("https://h"), ((s + step) % 12).cast("string"),
            F.lit(".com/q/"), F.col("event_id").cast("string"),
        ).alias("resolved_url"),
    )
    edges = G.host_graph(ring)
    return G.hyperball(edges, rounds=5, p=6).orderBy("node")


def _hyperball_sql(rounds: int = 5, nf_tail: bool = False,
                   quantile_milli: int = 900) -> str:
    """Unrolled HyperBall register algebra — the exact computation of
    operators/graph.py::hyperball at p=6 (m=64, α=0.709): per round one
    register-max along edges + the α·m²/ΣZ estimator with linear-counting
    small-range branch, 6dp-rounded before the harmonic accumulation.
    With ``nf_tail`` the same register chain ends in the ANF global
    neighborhood-function read (micro-unit integer sums per round +
    effective-radius quantile test) instead of the per-node state."""
    head = """
WITH ee AS (
  SELECT DISTINCT
         concat('h', CAST(user_id % 12 AS VARCHAR), '.com') AS src,
         concat('h', CAST((user_id % 12 + CASE WHEN event_id % 2 = 0
                           THEN 1 ELSE 4 END) % 12 AS VARCHAR), '.com') AS dst
  FROM events
),
e AS (SELECT src, dst FROM ee WHERE src <> dst),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
regs0 AS (
  SELECT node,
         TRY_CAST(concat('0x', substr(md5(concat('hll:', node)), 1, 8))
                  AS BIGINT) % 64 AS bucket,
         CASE WHEN TRY_CAST(concat('0x', substr(md5(concat('hll:', node)),
                            9, 8)) AS BIGINT) = 0 THEN 33
              ELSE 33 - length(bin(TRY_CAST(concat('0x',
                   substr(md5(concat('hll:', node)), 9, 8)) AS BIGINT)))
         END AS rho
  FROM nodes
)"""

    def est_block(t: int) -> str:
        return f""",
agg{t} AS (
  SELECT node, COUNT(*) AS present, SUM(power(2.0, -rho)) AS s_present
  FROM regs{t} GROUP BY node
),
est{t} AS (
  SELECT node,
         ROUND(CASE WHEN e_raw <= 160.0 AND v > 0
                    THEN 64.0 * ln(64.0 / v) ELSE e_raw END, 6) AS est
  FROM (SELECT node,
               0.709 * 4096.0 / ((64.0 - present) + s_present) AS e_raw,
               64 - present AS v
        FROM agg{t})
)"""

    parts = [head, est_block(0), """,
state0 AS (SELECT node, est AS ball, 0.0 AS harmonic FROM est0)"""]
    for t in range(1, rounds + 1):
        parts.append(f""",
regs{t} AS MATERIALIZED (
  SELECT node, bucket, MAX(rho) AS rho FROM (
    SELECT node, bucket, rho FROM regs{t-1}
    UNION ALL
    SELECT e.dst AS node, r.bucket, r.rho
    FROM e JOIN regs{t-1} r ON r.node = e.src
  ) GROUP BY node, bucket
)""")
        parts.append(est_block(t))
        parts.append(f""",
state{t} AS (
  SELECT s.node, x.est AS ball,
         s.harmonic + greatest(0.0, x.est - s.ball) / CAST({t} AS DOUBLE)
           AS harmonic
  FROM state{t-1} s JOIN est{t} x ON x.node = s.node
)""")
    if nf_tail:
        rows = " UNION ALL ".join(
            f"SELECT {t} AS r, SUM(CAST(round(est * 1000000.0, 0) AS BIGINT))"
            f" AS nf_micro FROM est{t}"
            for t in range(rounds + 1)
        )
        parts.append(f""",
nf AS ({rows})
SELECT r, CAST(nf_micro AS BIGINT) AS nf_micro,
       CAST(floor(1000 * nf_micro / (SELECT MAX(nf_micro) FROM nf))
            AS BIGINT) AS frac_milli,
       r = (SELECT MIN(r) FROM nf
            WHERE 1000 * nf_micro >= {quantile_milli} *
                  (SELECT MAX(nf_micro) FROM nf)) AS is_effective_radius
FROM nf ORDER BY r""")
        return "".join(parts)
    parts.append(f"""
SELECT node, ROUND(ball, 6) AS ball_est, ROUND(harmonic, 6) AS harmonic
FROM state{rounds} ORDER BY node""")
    return "".join(parts)


def _q_kcore(spark, sf_dir):
    """Distributed k-core decomposition (operators/graph.py::kcore —
    Montresor et al. h-index iteration, windows instead of per-node
    arrays): a K6 clique (coreness 5) + a 10-ring (2) + a 5-chain (1)
    built from events. The oracle unrolls all 8 rounds — neighbor join,
    rank window, H-index agg, monotone min — into chained CTEs."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    u, ev = F.col("user_id"), F.col("event_id")
    fam = u % 3
    src = (
        F.when(fam == 0, F.concat(F.lit("c"), (ev % 6).cast("string")))
        .when(fam == 1, F.concat(F.lit("r"), (ev % 10).cast("string")))
        .otherwise(F.concat(F.lit("p"), (ev % 4).cast("string")))
    )
    dst = (
        F.when(fam == 0, F.concat(
            F.lit("c"), ((ev % 6 + ev % 5 + 1) % 6).cast("string")))
        .when(fam == 1, F.concat(
            F.lit("r"), ((ev % 10 + 1) % 10).cast("string")))
        .otherwise(F.concat(F.lit("p"), (ev % 4 + 1).cast("string")))
    )
    edges = e.select(src.alias("src_host"), dst.alias("dst_host"))
    return G.kcore(edges, rounds=8).orderBy("node")


def _kcore_sql(rounds: int = 8) -> str:
    """Unrolled h-index coreness iteration — the exact algebra of
    operators/graph.py::kcore (symmetrized dedup, degree init, per-round
    rank window + MAX(LEAST(c, rank)) + monotone LEAST fold)."""
    head = """
WITH ed AS (
  SELECT CASE user_id % 3
           WHEN 0 THEN concat('c', CAST(event_id % 6 AS VARCHAR))
           WHEN 1 THEN concat('r', CAST(event_id % 10 AS VARCHAR))
           ELSE concat('p', CAST(event_id % 4 AS VARCHAR)) END AS src,
         CASE user_id % 3
           WHEN 0 THEN concat('c', CAST((event_id % 6 + event_id % 5 + 1) % 6 AS VARCHAR))
           WHEN 1 THEN concat('r', CAST((event_id % 10 + 1) % 10 AS VARCHAR))
           ELSE concat('p', CAST(event_id % 4 + 1 AS VARCHAR)) END AS dst
  FROM events
),
und AS (SELECT src AS u, dst AS v FROM ed WHERE src <> dst),
sym AS (SELECT DISTINCT u, v FROM (
  SELECT u, v FROM und UNION ALL SELECT v, u FROM und
)),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM sym GROUP BY u),
c0 AS (SELECT node, degree AS c FROM deg)"""
    parts = [head]
    for t in range(1, rounds + 1):
        parts.append(f""",
h{t} AS (
  SELECT node, MAX(LEAST(c_nb, rk)) AS h FROM (
    SELECT s.u AS node, c.c AS c_nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY s.u
                ORDER BY c.c DESC, s.v) AS BIGINT) AS rk
    FROM sym s JOIN c{t-1} c ON c.node = s.v
  ) GROUP BY node
),
c{t} AS MATERIALIZED (
  SELECT c.node, LEAST(c.c, COALESCE(h.h, CAST(0 AS BIGINT))) AS c
  FROM c{t-1} c LEFT JOIN h{t} h ON h.node = c.node
)""")
    parts.append(f"""
SELECT d.node, d.degree, c.c AS coreness
FROM deg d JOIN c{rounds} c ON c.node = d.node
ORDER BY d.node""")
    return "".join(parts)


def _q_triangles(spark, sf_dir):
    """Per-node triangle counts + clustering coefficient
    (operators/graph.py::triangles — Cohen 2009 oriented-wedge joins):
    same K6-clique / 10-ring / 5-chain fixture as gr_kcore, so clique
    nodes read (degree 5, 10 triangles, clustering 1.0) and the
    triangle-free families read 0. The oracle replays the orientation,
    wedge join, closure join, and coefficient exactly."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    u, ev = F.col("user_id"), F.col("event_id")
    fam = u % 3
    src = (
        F.when(fam == 0, F.concat(F.lit("c"), (ev % 6).cast("string")))
        .when(fam == 1, F.concat(F.lit("r"), (ev % 10).cast("string")))
        .otherwise(F.concat(F.lit("p"), (ev % 4).cast("string")))
    )
    dst = (
        F.when(fam == 0, F.concat(
            F.lit("c"), ((ev % 6 + ev % 5 + 1) % 6).cast("string")))
        .when(fam == 1, F.concat(
            F.lit("r"), ((ev % 10 + 1) % 10).cast("string")))
        .otherwise(F.concat(F.lit("p"), (ev % 4 + 1).cast("string")))
    )
    edges = e.select(src.alias("src_host"), dst.alias("dst_host"))
    return G.triangles(edges).orderBy("node")


_SQL_TRIANGLES = """
WITH ed AS (
  SELECT CASE user_id % 3
           WHEN 0 THEN concat('c', CAST(event_id % 6 AS VARCHAR))
           WHEN 1 THEN concat('r', CAST(event_id % 10 AS VARCHAR))
           ELSE concat('p', CAST(event_id % 4 AS VARCHAR)) END AS src,
         CASE user_id % 3
           WHEN 0 THEN concat('c', CAST((event_id % 6 + event_id % 5 + 1) % 6 AS VARCHAR))
           WHEN 1 THEN concat('r', CAST((event_id % 10 + 1) % 10 AS VARCHAR))
           ELSE concat('p', CAST(event_id % 4 + 1 AS VARCHAR)) END AS dst
  FROM events
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ed WHERE src <> dst
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.degree, u.a) < (db.degree, u.b) THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.degree, u.a) < (db.degree, u.b) THEN u.b ELSE u.a END AS v,
         CASE WHEN (da.degree, u.a) < (db.degree, u.b) THEN db.degree ELSE da.degree END AS dv
  FROM und u
  JOIN deg da ON da.node = u.a
  JOIN deg db ON db.node = u.b
),
wedges AS (
  SELECT e1.u, e1.v AS v1, e2.v AS v2
  FROM oriented e1 JOIN oriented e2
    ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
),
tri AS (
  SELECT w.u, w.v1, w.v2
  FROM wedges w JOIN oriented o ON o.u = w.v1 AND o.v = w.v2
),
per AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v1 FROM tri
    UNION ALL SELECT v2 FROM tri
  ) GROUP BY node
)
SELECT d.node, d.degree,
       CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
       ROUND(CASE WHEN d.degree >= 2
                  THEN 2.0 * COALESCE(p.triangles, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN per p ON p.node = d.node
ORDER BY d.node
"""


def _q_label_propagation(spark, sf_dir):
    """Community detection by synchronous weighted LPA
    (operators/graph.py::label_propagation): two K6 cliques bridged by
    one edge plus an isolated pair; edge weights are raw event
    multiplicities. The oracle unrolls all 4 rounds — symmetrized weight
    sums, per-(node,label) vote agg, max-weight/min-label argmax."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    u, ev = F.col("user_id"), F.col("event_id")
    fam = u % 3
    src = (
        F.when(fam == 0, F.concat(F.lit("c"), (ev % 6).cast("string")))
        .when(fam == 1, F.concat(F.lit("d"), (ev % 6).cast("string")))
        .otherwise(F.when(ev % 2 == 0, F.lit("c0")).otherwise(F.lit("x0")))
    )
    dst = (
        F.when(fam == 0, F.concat(
            F.lit("c"), ((ev % 6 + ev % 5 + 1) % 6).cast("string")))
        .when(fam == 1, F.concat(
            F.lit("d"), ((ev % 6 + ev % 5 + 1) % 6).cast("string")))
        .otherwise(F.when(ev % 2 == 0, F.lit("d0")).otherwise(F.lit("x1")))
    )
    edges = e.select(src.alias("src_host"), dst.alias("dst_host"))
    return G.label_propagation(
        edges, rounds=4, weight_col=None
    ).orderBy("node")


def _lpa_sql(rounds: int = 4, tail: str | None = None) -> str:
    """Unrolled synchronous LPA — the exact algebra of
    operators/graph.py::label_propagation with unit weights (edge weight
    = raw row multiplicity after symmetrization). ``tail`` replaces the
    final SELECT to build downstream oracles (modularity) on the same
    label CTE chain."""
    head = """
WITH ed AS (
  SELECT CASE user_id % 3
           WHEN 0 THEN concat('c', CAST(event_id % 6 AS VARCHAR))
           WHEN 1 THEN concat('d', CAST(event_id % 6 AS VARCHAR))
           ELSE CASE WHEN event_id % 2 = 0 THEN 'c0' ELSE 'x0' END
         END AS u,
         CASE user_id % 3
           WHEN 0 THEN concat('c', CAST((event_id % 6 + event_id % 5 + 1) % 6 AS VARCHAR))
           WHEN 1 THEN concat('d', CAST((event_id % 6 + event_id % 5 + 1) % 6 AS VARCHAR))
           ELSE CASE WHEN event_id % 2 = 0 THEN 'd0' ELSE 'x1' END
         END AS v
  FROM events
),
undw AS (SELECT u, v, 1.0 AS w FROM ed WHERE u <> v),
sym AS (
  SELECT u, v, SUM(w) AS w FROM (
    SELECT u, v, w FROM undw UNION ALL SELECT v, u, w FROM undw
  ) GROUP BY u, v
),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym)"""
    parts = [head]
    for t in range(1, rounds + 1):
        parts.append(f""",
v{t} AS (
  SELECT s.u AS node, l.label, SUM(s.w) AS wt
  FROM sym s JOIN l{t-1} l ON l.node = s.v
  GROUP BY 1, 2
),
l{t} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY wt DESC, label) AS rn
    FROM v{t}
  ) WHERE rn = 1
)""")
    parts.append(
        tail.format(rounds=rounds)
        if tail is not None
        else f"""
SELECT node, label FROM l{rounds} ORDER BY node"""
    )
    return "".join(parts)


def _q_host_trustrank(spark, sf_dir):
    """TrustRank over the host graph (Gyöngyi et al. 2004): teleport
    restricted to trusted seeds h0/h1 — the link-spam demotion signal.
    Oracle unrolls the 10 seed-personalized power iterations into chained
    DuckDB CTEs with the identical dangling-to-seeds algebra."""
    from web_crawler_spark.operators import graph as G

    edges = G.host_graph(_host_edges(spark, sf_dir))
    seeds = spark.createDataFrame([("h0.com",), ("h1.com",)], "node string")
    return G.trustrank(edges, seeds, iterations=10).orderBy(
        F.desc("trust"), "node"
    )


def _trustrank_sql(iterations: int = 10, damping: float = 0.85) -> str:
    """Unrolled seed-personalized power iteration — the exact algebra of
    operators/graph.py::trustrank (uniform-over-seeds teleport, dangling
    mass re-teleported through the seed vector, Σtrust = 1)."""
    d = repr(damping)
    head = """
WITH e AS (
  SELECT src_host AS src, dst_host AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM (
    SELECT concat('h', CAST(user_id % 12 AS VARCHAR), '.com') AS src_host,
           concat('h', CAST((user_id + event_id) % 12 AS VARCHAR), '.com') AS dst_host
    FROM events
  ) WHERE src_host <> dst_host GROUP BY src_host, dst_host
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
sv AS (
  SELECT node,
         CASE WHEN node IN ('h0.com', 'h1.com') THEN 0.5::DOUBLE
              ELSE 0.0::DOUBLE END AS s
  FROM nodes
),
trans AS (
  SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM e
),
r0 AS (SELECT node, s AS trust FROM sv)"""
    parts = [head]
    for i in range(1, iterations + 1):
        parts.append(f""",
c{i} AS MATERIALIZED (
  SELECT t.dst, SUM(t.p * r.trust) AS inflow
  FROM trans t JOIN r{i-1} r ON t.src = r.node GROUP BY t.dst
),
f{i} AS MATERIALIZED (SELECT COALESCE(SUM(inflow), 0.0) AS flowed FROM c{i}),
r{i} AS MATERIALIZED (
  SELECT v.node,
         (1.0 - {d}) * v.s
           + {d} * (COALESCE(c.inflow, 0.0) + (1.0 - f{i}.flowed) * v.s)
           AS trust
  FROM sv v CROSS JOIN f{i}
  LEFT JOIN c{i} c ON c.dst = v.node
)""")
    parts.append(f"""
SELECT node, ROUND(trust, 6) AS trust FROM r{iterations}
ORDER BY trust DESC, node""")
    return "".join(parts)


def _q_spam_mass(spark, sf_dir):
    """Spam mass (Gyöngyi et al. 2006): fraction of each host's PageRank
    NOT flowing from the trusted core {h0, h1} — the link-farm detector.
    Oracle unrolls BOTH certified power iterations (uniform-teleport
    PageRank and seed-personalized TrustRank) side by side in one CTE
    chain and replays the mass algebra on the rounded outputs."""
    from web_crawler_spark.operators import graph as G

    edges = G.host_graph(_host_edges(spark, sf_dir))
    seeds = spark.createDataFrame([("h0.com",), ("h1.com",)], "node string")
    return G.spam_mass(edges, seeds, iterations=10).orderBy(
        F.desc("rel_mass"), "node"
    )


def _spam_mass_sql(iterations: int = 10, damping: float = 0.85) -> str:
    """PageRank and TrustRank chains unrolled in parallel (pr*/tr* CTE
    prefixes), then the spam-mass algebra of operators/graph.py::spam_mass
    on the rounded fixpoints (k = 2 effective seeds, n from the graph), in
    integer micro-units rounded to a whole micro-unit."""
    d = repr(damping)
    head = f"""
WITH {_SQL_HOST_EDGES_E},
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
trans AS (
  SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM e
),
sv AS (
  SELECT node,
         CASE WHEN node IN ('h0.com', 'h1.com') THEN 0.5::DOUBLE
              ELSE 0.0::DOUBLE END AS s
  FROM nodes
),
pr0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
tr0 AS (SELECT node, s AS trust FROM sv)"""
    parts = [head]
    for i in range(1, iterations + 1):
        parts.append(f""",
pc{i} AS MATERIALIZED (
  SELECT t.dst, SUM(t.p * r.rank) AS inflow
  FROM trans t JOIN pr{i-1} r ON t.src = r.node GROUP BY t.dst
),
pf{i} AS MATERIALIZED (SELECT COALESCE(SUM(inflow), 0.0) AS flowed FROM pc{i}),
pr{i} AS MATERIALIZED (
  SELECT n.node,
         (1.0 - {d}) + {d} * ((nn.n - pf{i}.flowed) / nn.n)
           + {d} * COALESCE(c.inflow, 0.0) AS rank
  FROM nodes n CROSS JOIN nn CROSS JOIN pf{i}
  LEFT JOIN pc{i} c ON c.dst = n.node
),
tc{i} AS MATERIALIZED (
  SELECT t.dst, SUM(t.p * r.trust) AS inflow
  FROM trans t JOIN tr{i-1} r ON t.src = r.node GROUP BY t.dst
),
tf{i} AS MATERIALIZED (SELECT COALESCE(SUM(inflow), 0.0) AS flowed FROM tc{i}),
tr{i} AS MATERIALIZED (
  SELECT v.node,
         (1.0 - {d}) * v.s
           + {d} * (COALESCE(c.inflow, 0.0) + (1.0 - tf{i}.flowed) * v.s)
           AS trust
  FROM sv v CROSS JOIN tf{i}
  LEFT JOIN tc{i} c ON c.dst = v.node
)""")
    parts.append(f""",
fin AS (
  SELECT p.node, ROUND(p.rank, 6) AS rank, ROUND(t.trust, 6) AS trust
  FROM pr{iterations} p JOIN tr{iterations} t ON p.node = t.node
),
fu AS (
  SELECT node, rank, trust, CAST(ROUND(rank * 1e6) AS BIGINT) AS rank_u,
         CAST(ROUND(rank * 1e6) AS BIGINT)
           - CAST(ROUND(trust * 1e6) AS BIGINT) * 2 AS untrusted_u
  FROM fin
)
SELECT node, rank, trust,
       CAST(ROUND(untrusted_u / nn.n) AS BIGINT) / 1e6 AS mass,
       CASE WHEN rank_u > 0
            THEN CAST(ROUND(untrusted_u * 1e6 / rank_u) AS BIGINT) / 1e6
       END AS rel_mass
FROM fu CROSS JOIN nn
ORDER BY rel_mass DESC, node""")
    return "".join(parts)


def _q_host_hits(spark, sf_dir):
    """HITS hubs/authorities over the host graph (operators/graph.hits) -
    L1-normalized power iteration, oracle-checked by unrolling the 10
    iterations into chained DuckDB CTEs like the pagerank twin."""
    from web_crawler_spark.operators import graph as G

    edges = G.host_graph(_host_edges(spark, sf_dir))
    return G.hits(edges, iterations=10).orderBy("node")


def _hits_sql(iterations: int = 10) -> str:
    """Unrolled HITS power iteration (two half-steps per round, L1
    normalization) - the exact algebra of operators/graph.py::hits."""
    head = """
WITH e AS (
  SELECT src_host AS src, dst_host AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM (
    SELECT concat('h', CAST(user_id % 12 AS VARCHAR), '.com') AS src_host,
           concat('h', CAST((user_id + event_id) % 12 AS VARCHAR), '.com') AS dst_host
    FROM events
  ) WHERE src_host <> dst_host GROUP BY src_host, dst_host
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, 1.0::DOUBLE AS val FROM nodes)"""
    parts = [head]
    for i in range(1, iterations + 1):
        parts.append(f""",
ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(e.w * s.val) AS v
  FROM e JOIN h{i-1} s ON e.src = s.node GROUP BY e.dst
),
at{i} AS MATERIALIZED (SELECT SUM(v) AS s FROM ar{i}),
a{i} AS MATERIALIZED (
  SELECT n.node, COALESCE(r.v, 0.0) / t.s AS val
  FROM nodes n CROSS JOIN at{i} t LEFT JOIN ar{i} r ON r.node = n.node
),
hr{i} AS MATERIALIZED (
  SELECT e.src AS node, SUM(e.w * s.val) AS v
  FROM e JOIN a{i} s ON e.dst = s.node GROUP BY e.src
),
ht{i} AS MATERIALIZED (SELECT SUM(v) AS s FROM hr{i}),
h{i} AS MATERIALIZED (
  SELECT n.node, COALESCE(r.v, 0.0) / t.s AS val
  FROM nodes n CROSS JOIN ht{i} t LEFT JOIN hr{i} r ON r.node = n.node
)""")
    parts.append(f"""
SELECT h.node, ROUND(h.val, 6) AS hub, ROUND(a.val, 6) AS authority
FROM h{iterations} h JOIN a{iterations} a ON h.node = a.node
ORDER BY h.node""")
    return "".join(parts)


def _q_host_salsa(spark, sf_dir):
    """SALSA hubs/authorities over the host graph (operators/graph.salsa,
    Lempel & Moran 2001) - the random-walk sibling of HITS whose two-step
    stochastic transitions conserve chain mass, so the whole 10-iteration
    power sequence is pure join+agg algebra with NO renormalization
    fetches; oracle-checked by unrolling all iterations into chained
    DuckDB CTEs exactly like the pagerank/HITS twins."""
    from web_crawler_spark.operators import graph as G

    edges = G.host_graph(_host_edges(spark, sf_dir))
    return G.salsa(edges, iterations=10).orderBy("node")


def _salsa_sql(iterations: int = 10) -> str:
    """Unrolled SALSA random-walk iteration (backward/in-normalized and
    forward/out-normalized half-steps) - the exact algebra of
    operators/graph.py::salsa."""
    head = """
WITH e AS (
  SELECT src_host AS src, dst_host AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM (
    SELECT concat('h', CAST(user_id % 12 AS VARCHAR), '.com') AS src_host,
           concat('h', CAST((user_id + event_id) % 12 AS VARCHAR), '.com') AS dst_host
    FROM events
  ) WHERE src_host <> dst_host GROUP BY src_host, dst_host
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
inw AS (SELECT dst, SUM(w) AS iw FROM e GROUP BY dst),
outw AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
bt AS MATERIALIZED (SELECT e.src, e.dst, e.w / i.iw AS pb FROM e JOIN inw i ON e.dst = i.dst),
ft AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.ow AS pf FROM e JOIN outw o ON e.src = o.src),
auths AS (SELECT DISTINCT dst AS node FROM e),
hubs AS (SELECT DISTINCT src AS node FROM e),
a0 AS (SELECT node, 1.0 / (SELECT COUNT(*) FROM auths) AS val FROM auths),
h0 AS (SELECT node, 1.0 / (SELECT COUNT(*) FROM hubs) AS val FROM hubs)"""
    parts = [head]
    for i in range(1, iterations + 1):
        parts.append(f""",
am{i} AS MATERIALIZED (
  SELECT b.src AS node, SUM(b.pb * s.val) AS val
  FROM bt b JOIN a{i-1} s ON b.dst = s.node GROUP BY b.src
),
a{i} AS MATERIALIZED (
  SELECT f.dst AS node, SUM(f.pf * m.val) AS val
  FROM ft f JOIN am{i} m ON f.src = m.node GROUP BY f.dst
),
hm{i} AS MATERIALIZED (
  SELECT f.dst AS node, SUM(f.pf * s.val) AS val
  FROM ft f JOIN h{i-1} s ON f.src = s.node GROUP BY f.dst
),
h{i} AS MATERIALIZED (
  SELECT b.src AS node, SUM(b.pb * m.val) AS val
  FROM bt b JOIN hm{i} m ON b.dst = m.node GROUP BY b.src
)""")
    parts.append(f"""
SELECT n.node, ROUND(COALESCE(h.val, 0.0), 6) AS hub,
       ROUND(COALESCE(a.val, 0.0), 6) AS authority
FROM nodes n
LEFT JOIN h{iterations} h ON h.node = n.node
LEFT JOIN a{iterations} a ON a.node = n.node
ORDER BY n.node""")
    return "".join(parts)


def _q_seed_distance(spark, sf_dir):
    """BFS depth-from-seed over a deterministic link graph with real depth
    structure (operators/graph.seed_distance): a 63-node binary tree under
    seed n0 (depths 0-5), a shortcut edge n0->n62 proving first-discovery
    = MIN depth, a 13-node chain hung off the seed that crosses the
    max_depth=8 cap (n1008+ must be absent), and a disconnected chain
    (n2000..) that must never appear. Oracle: DuckDB recursive CTE with
    MIN(depth) under the same depth bound. Depths are exact integers -
    no float concerns anywhere."""
    from web_crawler_spark.operators import graph as G

    ev = _t(spark, sf_dir, "events")

    def n(c):
        return F.concat(F.lit("n"), c.cast("string"))

    k = F.col("event_id") % 31
    c = F.col("event_id") % 12
    d = F.col("event_id") % 3
    edges = (
        ev.select(n(k).alias("src"), n(k * 2 + 1).alias("dst"))
        .unionByName(ev.select(n(k).alias("src"), n(k * 2 + 2).alias("dst")))
        .unionByName(ev.select(n(c + 1000).alias("src"), n(c + 1001).alias("dst")))
        .unionByName(ev.select(n(d + 2000).alias("src"), n(d + 2001).alias("dst")))
        .unionByName(
            spark.createDataFrame(
                [("n0", "n62"), ("n0", "n1000")], "src string, dst string"
            )
        )
    )
    seeds = spark.createDataFrame([("n0",)], "node string")
    return G.seed_distance(
        edges, seeds, max_depth=8, src_col="src", dst_col="dst"
    ).orderBy("node")


_SQL_SEED_DISTANCE = """
WITH RECURSIVE e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT concat('n', CAST(event_id % 31 AS VARCHAR)) AS src,
           concat('n', CAST((event_id % 31) * 2 + 1 AS VARCHAR)) AS dst FROM events
    UNION ALL
    SELECT concat('n', CAST(event_id % 31 AS VARCHAR)),
           concat('n', CAST((event_id % 31) * 2 + 2 AS VARCHAR)) FROM events
    UNION ALL
    SELECT concat('n', CAST(event_id % 12 + 1000 AS VARCHAR)),
           concat('n', CAST(event_id % 12 + 1001 AS VARCHAR)) FROM events
    UNION ALL
    SELECT concat('n', CAST(event_id % 3 + 2000 AS VARCHAR)),
           concat('n', CAST(event_id % 3 + 2001 AS VARCHAR)) FROM events
    UNION ALL SELECT 'n0', 'n62'
    UNION ALL SELECT 'n0', 'n1000'
  )
),
bfs AS (
  SELECT 'n0' AS node, 0 AS depth
  UNION
  SELECT e.dst, bfs.depth + 1
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.depth < 8
)
SELECT node, CAST(MIN(depth) AS INT) AS depth
FROM bfs GROUP BY node ORDER BY node"""


def _q_xlsx_scan(spark, sf_dir):
    """S6 on REAL xlsx bytes (worldbank.py:60-119): a workbook is built
    deterministically from the part table with the stdlib SpreadsheetML
    writer (variable preamble per sheet), parsed back DISTRIBUTED via the
    binaryFile + mapInPandas scan, header-sniffed on the 'Commodity'
    marker, and the latest non-null value extracted right-to-left — the
    oracle recomputes the expected rows from the same part table, so the
    whole parse path is value-certified."""
    import tempfile

    from web_crawler_spark.sources.xlsx import write_xlsx, xlsx_scan

    p = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
        .limit(200)
        .collect()
    )

    def data_rows(offset, null_mod, mult):
        return [
            [
                r["p_name"],
                float(r["p_partkey"] + offset),
                None if r["p_partkey"] % null_mod == 0 else float(r["p_partkey"] * mult),
            ]
            for r in p
        ]

    sheets = {
        "Monthly Prices": [
            ["World Bank Commodity Price Data", None, None],
            ["(monthly series)", None, None],
            ["Commodity", "2023", "2024"],
            *data_rows(0, 3, 2),
        ],
        "Annual Prices": [
            ["(annual series)", None, None],
            ["Commodity", "2023", "2024"],
            *data_rows(1, 4, 3),
        ],
    }
    d = tempfile.mkdtemp(prefix="xlsx_scan_")
    write_xlsx(os.path.join(d, "cmo.xlsx"), sheets)

    rows = xlsx_scan(spark, d, sheets=["Monthly Prices", "Annual Prices"])
    hdr = (
        rows.filter(F.col("cells")[0] == "Commodity")
        .groupBy("sheet")
        .agg(F.min("row_idx").alias("h"))
    )
    latest = F.coalesce(F.col("cells")[2], F.col("cells")[1]).try_cast("double")
    return (
        rows.join(hdr, "sheet")
        .filter(F.col("row_idx") > F.col("h"))
        .select("sheet", F.col("cells")[0].alias("name"), latest.alias("latest_value"))
        .orderBy("sheet", "name", "latest_value")
    )


_SQL_XLSX_SCAN = """
WITH p AS (
  SELECT p_partkey, p_name FROM part ORDER BY p_partkey LIMIT 200
)
SELECT * FROM (
  SELECT 'Monthly Prices' AS sheet, p_name AS name,
         CASE WHEN p_partkey % 3 = 0 THEN CAST(p_partkey AS DOUBLE)
              ELSE CAST(p_partkey * 2 AS DOUBLE) END AS latest_value
  FROM p
  UNION ALL
  SELECT 'Annual Prices', p_name,
         CASE WHEN p_partkey % 4 = 0 THEN CAST(p_partkey + 1 AS DOUBLE)
              ELSE CAST(p_partkey * 3 AS DOUBLE) END
  FROM p
) ORDER BY sheet, name, latest_value
"""


def _q_header_sniff(spark, sf_dir):
    """S6 (worldbank.py:98-119 + 102-112): adaptive header-row discovery —
    sheets arrive with a variable-length preamble; the first row containing
    the 'Commodity' marker is the header, rows below it parse as data with
    the right-to-left latest-non-empty value scan (P8)."""
    e = _t(spark, sf_dir, "events")
    sheet = (F.col("event_id") % 5).cast("int")
    row_idx = F.floor(F.col("event_id") / 5).cast("int")
    h = sheet + 1  # per-sheet preamble length 1..5
    cells = (
        F.when(row_idx < h, F.array(F.lit("World Bank report"), F.lit(""), F.lit(""), F.lit("")))
        .when(row_idx == h, F.array(F.lit("Commodity"), F.lit("Unit"), F.lit("2023"), F.lit("2024")))
        .otherwise(
            F.array(
                F.concat(F.lit("item_"), sheet.cast("string"), F.lit("_"), row_idx.cast("string")),
                F.lit("kg"),
                ((F.col("event_id") % 900) + 1).cast("string"),
                F.when(row_idx % 3 == 0, F.lit("")).otherwise(
                    ((F.col("user_id") % 700) + 1).cast("string")
                ),
            )
        )
    )
    rows = e.select(sheet.alias("sheet"), row_idx.alias("row_idx"), cells.alias("cells"))
    hdr = (
        rows.filter(F.array_contains("cells", "Commodity"))
        .groupBy("sheet")
        .agg(F.min("row_idx").alias("h"))
    )
    data = rows.join(hdr, "sheet").filter(F.col("row_idx") > F.col("h"))
    latest = F.coalesce(
        F.nullif(F.col("cells")[3], F.lit("")), F.nullif(F.col("cells")[2], F.lit(""))
    ).try_cast("double")
    return data.select(
        "sheet", "row_idx", F.col("cells")[0].alias("name"), latest.alias("latest_value")
    )


_SQL_HEADER_SNIFF = """
WITH rows AS (
  SELECT CAST(event_id % 5 AS INT) AS sheet,
         CAST(event_id // 5 AS INT) AS row_idx,
         CASE
           WHEN event_id // 5 < event_id % 5 + 1
             THEN ['World Bank report', '', '', '']
           WHEN event_id // 5 = event_id % 5 + 1
             THEN ['Commodity', 'Unit', '2023', '2024']
           ELSE ['item_' || CAST(event_id % 5 AS VARCHAR) || '_' || CAST(event_id // 5 AS VARCHAR),
                 'kg',
                 CAST(event_id % 900 + 1 AS VARCHAR),
                 CASE WHEN (event_id // 5) % 3 = 0 THEN '' ELSE CAST(user_id % 700 + 1 AS VARCHAR) END]
         END AS cells
  FROM events
), hdr AS (
  SELECT sheet, MIN(row_idx) AS h FROM rows
  WHERE list_contains(cells, 'Commodity') GROUP BY sheet
)
SELECT r.sheet, r.row_idx, r.cells[1] AS name,
       TRY_CAST(COALESCE(NULLIF(r.cells[4], ''), NULLIF(r.cells[3], '')) AS DOUBLE) AS latest_value
FROM rows r JOIN hdr USING (sheet)
WHERE r.row_idx > hdr.h
"""


def _q_pii_scrub(spark, sf_dir):
    """Training-corpus hygiene: emails / phones / IPv4s → <TAG>
    placeholders (regexp_replace chain, JVM-side)."""
    e = _t(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("Contact u"), F.col("user_id").cast("string"),
        F.lit("@mail"), (F.col("event_id") % 7).cast("string"),
        F.lit(".com or +1 555-"),
        F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((F.col("user_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (F.col("event_id") % 256).cast("string"),
        F.lit("."), (F.col("user_id") % 256).cast("string"), F.lit(" bye"),
    )
    return e.select("event_id", raw.alias("raw"), T.scrub_pii(raw).alias("scrubbed"))


_SQL_PII_SCRUB = """
WITH t AS (
  SELECT event_id,
         concat('Contact u', CAST(user_id AS VARCHAR), '@mail',
                CAST(event_id % 7 AS VARCHAR), '.com or +1 555-',
                lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0'), '-',
                lpad(CAST(user_id % 10000 AS VARCHAR), 4, '0'),
                ' from 10.0.', CAST(event_id % 256 AS VARCHAR), '.',
                CAST(user_id % 256 AS VARCHAR), ' bye') AS raw
  FROM events
)
SELECT event_id, raw,
  regexp_replace(
    regexp_replace(
      regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
    '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IPV4>', 'g') AS scrubbed
FROM t
"""


def _q_contamination(spark, sf_dir):
    """Benchmark decontamination: docs sharing any word 8-gram with the
    'benchmark' slice (docs with doc_id % 97 == 0 stand in for an eval
    suite). Benchmark shingles broadcast; the corpus side is a scan."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0).select("text")
    return T.contaminated_doc_ids(d, bench, n=8).orderBy("doc_id")


_SQL_CONTAMINATION = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
  WHERE trim(text) <> ''
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, greatest(len(w)-7, 0) + 1)]) AS grams
  FROM toks
), inv AS (
  SELECT doc_id, unnest(grams) AS gram FROM sh WHERE len(grams) > 0
), bench AS (
  SELECT DISTINCT gram FROM inv WHERE doc_id % 97 = 0
)
SELECT DISTINCT i.doc_id FROM inv i JOIN bench b USING (gram) ORDER BY doc_id
"""


def _q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 pattern: 3-way join → per-order revenue → top-10. Catalyst
    broadcast-joins the filtered customer side; top-k compiles to
    TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


_SQL_TPCH_Q3 = """
SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def _q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 pattern: 6-table star join → per-nation revenue. The tiny
    nation/region dims broadcast; the fact-side joins shuffle on keys."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == o["o_orderkey"])
        .join(s, (F.col("l_suppkey") == s["s_suppkey"])
              & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


_SQL_TPCH_Q5 = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def _q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 pattern: pure scan-filter-agg — the predicate-pushdown /
    whole-stage-codegen showcase (filters reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_SQL_TPCH_Q6 = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def _q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 pattern (large-volume orders): groupBy-HAVING on the fact
    → join back to orders → top-20. Exercises the agg-then-semi-join shape
    (the HAVING set is small, so at scale the join back is broadcast-able
    — AQE converts it after the agg shrinks the side)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("double")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice"), 4).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(20)
    )


_SQL_TPCH_Q18 = """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DOUBLE)) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DOUBLE)) > 300
)
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS total_price, sum_qty
FROM orders JOIN big ON o_orderkey = big.l_orderkey
ORDER BY total_price DESC, o_orderkey LIMIT 20
"""


def _q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 pattern (adapted to the synthetic schema): join + dual
    conditional aggregation — high/low-priority line counts per return
    flag. Exercises map-side combine over a shuffled equi-join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


_SQL_TPCH_Q12 = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 pattern: conditional-revenue ratio over a fact-dim join in
    a date window — one broadcastable dim, one global agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    promo = F.col("p_type").startswith("PROMO")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0 * F.sum(F.when(promo, rev).otherwise(0.0)) / F.sum(rev), 4
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_SQL_TPCH_Q14 = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
"""


def _q_frontier_telemetry(spark, sf_dir):
    """A8 (engine addition per SURVEY §2.5): frontier cardinality + skew
    telemetry — distinct URL/host counts and the hot-host ratio that drives
    the salting decision. (The production path also keeps
    approx_count_distinct sketches; the exact counts here are the
    oracle-checkable contract.)"""
    f = _frontier_df(spark, sf_dir)
    per_host = f.groupBy("host").agg(F.count_distinct("url").alias("n_urls"))
    return per_host.agg(
        F.sum("n_urls").alias("n_urls"),
        F.count(F.lit(1)).alias("n_hosts"),
        F.max("n_urls").alias("max_urls_per_host"),
        F.round(F.avg("n_urls"), 2).alias("avg_urls_per_host"),
    )


_SQL_FRONTIER_TELEMETRY = f"""
WITH f AS ({_FRONTIER_SQL}),
ph AS (SELECT host, COUNT(DISTINCT url) AS n_urls FROM f GROUP BY host)
SELECT CAST(SUM(n_urls) AS BIGINT) AS n_urls,
       CAST(COUNT(*) AS BIGINT) AS n_hosts,
       CAST(MAX(n_urls) AS BIGINT) AS max_urls_per_host,
       ROUND(AVG(n_urls), 2) AS avg_urls_per_host
FROM ph
"""


def _stateful_stream_run(spark, sf_dir, build, sink_name):
    """Bounded harness for the applyInPandasWithState operators: events →
    temp parquet → availableNow file stream → memory sink → result DF."""
    import tempfile

    frontier = _frontier_df(spark, sf_dir).withColumn(
        "arrival_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    src = tempfile.mkdtemp(prefix=f"{sink_name}_src_")
    frontier.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_name)


def _q_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream INNER join (crawl attribution: each
    discovered outlink joins the fetch that produced it within a 60 s
    event-time window). Both sides run as availableNow file streams into
    a memory sink; the equality-key + two-sided time-range condition is
    what lets Spark evict join state each micro-batch. Single-batch
    bounded run == the batch range join, which is exactly what the
    oracle computes."""
    import tempfile

    from web_crawler_spark.streaming.events import fetch_outlink_join

    e = _t(spark, sf_dir, "events").select(F.col("event_id").alias("eid"))
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    fid = F.col("eid") % 500
    fetches = (
        e.select(fid.alias("f"))
        .distinct()
        .select(
            F.concat(F.lit("u"), F.col("f").cast("string")).alias("url"),
            (base + F.make_interval(secs=F.col("f") % 300)).alias("fetch_ts"),
            F.when(F.col("f") % 10 == 0, 404).otherwise(200).alias("status"),
        )
    )
    outl = e.select(
        F.concat(F.lit("u"), fid.cast("string")).alias("src_url"),
        F.concat(F.lit("d"), ((F.col("eid") * 7) % 700).cast("string"))
        .alias("dst_url"),
        (
            base
            + F.make_interval(secs=(fid % 300) + (F.col("eid") % 90))
        ).alias("discovered_ts"),
    )
    srcs = []
    for name, df in (("ssj_f", fetches), ("ssj_o", outl)):
        p = tempfile.mkdtemp(prefix=f"{name}_src_")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        schema = spark.read.parquet(p).schema
        srcs.append(spark.readStream.schema(schema).parquet(p))
    q = (
        fetch_outlink_join(srcs[0], srcs[1], max_delay_seconds=60)
        .writeStream.format("memory")
        .queryName("ssj_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("ssj_sink").orderBy("url", "dst_url", "discovered_ts")


_SQL_STREAM_STREAM_JOIN = """
WITH e AS (SELECT event_id AS eid FROM events),
f AS (SELECT DISTINCT (eid % 500) AS fid FROM e),
fetches AS (
  SELECT 'u' || CAST(fid AS VARCHAR) AS url,
         TIMESTAMP '2024-01-01 00:00:00'
           + (fid % 300) * INTERVAL 1 SECOND AS fetch_ts,
         CASE WHEN fid % 10 = 0 THEN 404 ELSE 200 END AS status
  FROM f
),
outl AS (
  SELECT 'u' || CAST(eid % 500 AS VARCHAR) AS src_url,
         'd' || CAST((eid * 7) % 700 AS VARCHAR) AS dst_url,
         TIMESTAMP '2024-01-01 00:00:00'
           + ((eid % 500) % 300 + eid % 90) * INTERVAL 1 SECOND
           AS discovered_ts
  FROM e
)
SELECT f.url, f.fetch_ts, f.status, o.dst_url, o.discovered_ts
FROM fetches f JOIN outl o ON f.url = o.src_url
  AND o.discovered_ts >= f.fetch_ts
  AND o.discovered_ts <= f.fetch_ts + INTERVAL 60 SECOND
ORDER BY f.url, o.dst_url, o.discovered_ts
"""


def _q_stateful_politeness(spark, sf_dir):
    """F3 as applyInPandasWithState: per-host pacing clock in the state
    store. Bounded single-batch run == the window-function schedule, which
    is exactly what the oracle computes."""
    from web_crawler_spark.streaming.stateful import stateful_politeness_schedule

    return _stateful_stream_run(
        spark, sf_dir,
        lambda s: stateful_politeness_schedule(s, delay_seconds=2.0),
        "st_pace_sink",
    )


_SQL_STATEFUL_POLITENESS = f"""
WITH f AS ({_FRONTIER_SQL}),
r AS (
  SELECT host, url,
         CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, url) AS INT) AS seq
  FROM f
)
SELECT host, url, seq,
       TIMESTAMP '2024-01-01 00:00:00' + (seq - 1) * INTERVAL 2 SECOND AS scheduled_ts
FROM r
"""


def _q_stateful_seen(spark, sf_dir):
    """F8 as applyInPandasWithState: exactly-once key admission. Keyed on
    host here so the admitted row is key-derived (deterministic); emits one
    row per distinct host."""
    from web_crawler_spark.streaming.stateful import stateful_seen_filter

    def build(stream):
        keyed = stream.select(
            "host", F.concat(F.lit("https://"), F.col("host"), F.lit("/")).alias("url")
        )
        return stateful_seen_filter(keyed, key_col="host")

    return _stateful_stream_run(spark, sf_dir, build, "st_seen_sink")


_SQL_STATEFUL_SEEN = f"""
WITH f AS ({_FRONTIER_SQL})
SELECT DISTINCT host, concat('https://', host, '/') AS url FROM f
"""


def _q_stateful_seen_ttl(spark, sf_dir):
    """F8 with BOUNDED state (streaming/stateful.py::stateful_seen_filter_ttl):
    TTL-evicting seen filter. Within the TTL window it is exactly the
    unbounded seen filter, so the long-TTL run here shares the DISTINCT-host
    oracle; eviction + re-admission are pinned in test_stateful_streaming.py.

    A ProcessingTimeTimeout operator makes ``shouldRunAnotherBatch`` always
    true — the stream keeps running no-data micro-batches to fire expiries,
    so neither ``processAllAvailable`` nor an availableNow run terminates.
    The bounded run therefore polls the sink to the (pre-computed) expected
    cardinality and stops the query itself."""
    import tempfile
    import time as _time

    from web_crawler_spark.streaming.stateful import stateful_seen_filter_ttl

    frontier = _frontier_df(spark, sf_dir)
    keyed = frontier.select(
        "host", F.concat(F.lit("https://"), F.col("host"), F.lit("/")).alias("url")
    )
    expected = keyed.select("host").distinct().count()
    src = tempfile.mkdtemp(prefix="st_seen_ttl_src_")
    keyed.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stateful_seen_filter_ttl(stream, ttl_seconds=86400.0, key_col="host")
        .writeStream.format("memory")
        .queryName("st_seen_ttl_sink")
        .outputMode("append")
        .start()
    )
    try:
        deadline = _time.time() + 300
        while _time.time() < deadline:
            if spark.table("st_seen_ttl_sink").count() >= expected:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    return spark.table("st_seen_ttl_sink")


def _q_stateful_heavy_hitters(spark, sf_dir):
    """Streaming Misra-Gries (streaming/stateful.py): per-shard MG summary
    living in the state store, re-emitted each micro-batch. Bounded
    availableNow run in the exact regime (capacity > distincts) — the
    summary equals exact counts, which is what the oracle computes; the
    across-batch carry + approximate regime are pinned in
    test_stateful_streaming.py."""
    import tempfile

    from web_crawler_spark.streaming.stateful import stateful_heavy_hitters

    d = _t(spark, sf_dir, "documents")
    items = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("item")
    ).select(
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("hhs:"), F.col("item"))), 1, 4),
                16,
                10,
            ).cast("int")
            % 4
        ).alias("shard"),
        "item",
    )
    src = tempfile.mkdtemp(prefix="st_hh_src_")
    items.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stateful_heavy_hitters(stream, capacity=8192)
        .writeStream.format("memory")
        .queryName("st_hh_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table("st_hh_sink")
        .select("shard", "item", "est", "delta")
        .orderBy("shard", "item")
    )


_SQL_STATEFUL_HEAVY_HITTERS = """
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS item
  FROM documents
)
SELECT TRY_CAST(concat('0x', substr(md5(concat('hhs:', item)), 1, 4))
                AS INT) % 4 AS shard,
       item, COUNT(*) AS est, CAST(0 AS BIGINT) AS delta
FROM w GROUP BY 1, 2 ORDER BY shard, item
"""


def _q_cms_frequencies(spark, sf_dir):
    """Count-Min sketch (operators/sketches.py): 4×1024 sketch of the
    per-customer order stream, point-queried for every customer. Key
    cardinality ≈ width, so hash collisions — the sketch's actual
    overcount behavior — are exercised, and because CMS is fully
    deterministic (md5 cell addresses) the oracle recomputes sketch AND
    min-over-rows estimates cell-for-cell: the overcounts themselves are
    value-certified."""
    from web_crawler_spark.operators.sketches import cms_estimate, cms_sketch

    o = _t(spark, sf_dir, "orders")
    items = o.select(F.col("o_custkey").cast("string").alias("item"))
    sketch = cms_sketch(items, "item", depth=4, width=1024)
    queries = items.distinct()
    return (
        cms_estimate(sketch, queries, "item", depth=4, width=1024)
        .orderBy("item")
    )


_SQL_CMS_FREQUENCIES = """
WITH items AS (
  SELECT CAST(o_custkey AS VARCHAR) AS item FROM orders
),
rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
cells AS (
  SELECT r,
         TRY_CAST(concat('0x', substr(md5(concat('cms:', CAST(r AS VARCHAR),
                                             ':', item)), 1, 8))
                  AS BIGINT) % 1024 AS c,
         COUNT(*) AS cnt
  FROM items, rows_ GROUP BY 1, 2
),
q AS (SELECT DISTINCT item FROM items)
SELECT q.item,
       MIN(cells.cnt) AS est
FROM q CROSS JOIN rows_
JOIN cells
  ON cells.r = rows_.r
 AND cells.c = TRY_CAST(concat('0x', substr(md5(concat('cms:',
                   CAST(rows_.r AS VARCHAR), ':', q.item)), 1, 8))
                AS BIGINT) % 1024
GROUP BY q.item ORDER BY q.item
"""


def _q_poisson_rate(spark, sf_dir):
    """Bias-corrected Poisson change-rate MLE over the versioned page
    table (operators/snapshots.py::change_rate_poisson, Cho &
    Garcia-Molina 2003): lambda_hat per URL plus p_changed-since-last-
    fetch — the model-based refresh ranking next to the rate×staleness
    heuristic of crawl_recrawl_priority. Whole-corpus output certified."""
    from web_crawler_spark.operators import snapshots as SN

    return (
        SN.change_rate_poisson(
            _versioned_pages(spark, sf_dir), "2025-01-02 00:00:00"
        )
        .orderBy("url")
    )


_SQL_POISSON_RATE = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS key,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         md5(trim(regexp_replace(regexp_replace(lower(
           concat('body ', CAST(event_id % 3000 AS VARCHAR),
                  ' rev', CAST(CAST(floor(event_id / 3000 / 2) AS BIGINT) AS VARCHAR))
         ), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
  FROM events
),
chain AS (
  SELECT key, ts,
         (LAG(fingerprint) OVER w IS NULL
          OR fingerprint <> LAG(fingerprint) OVER w) AS changed
  FROM pages WINDOW w AS (PARTITION BY key ORDER BY ts)
),
per AS (
  SELECT key AS url,
         COUNT(*) - 1 AS n_intervals,
         CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) - 1 AS BIGINT) AS n_changed,
         MAX(ts) AS last_fetch,
         epoch(MAX(ts)) - epoch(MIN(ts)) AS span_sec
  FROM chain GROUP BY key
),
est AS (
  SELECT url, n_intervals, n_changed, last_fetch,
         ROUND(
           CASE WHEN n_intervals > 0 THEN
             (-ln((CAST(n_intervals AS DOUBLE) - CAST(n_changed AS DOUBLE) + 0.5)
                  / (CAST(n_intervals AS DOUBLE) + 0.5)))
             / (CAST(span_sec AS DOUBLE) / CAST(n_intervals AS DOUBLE))
           ELSE 0.0 END, 9) AS lambda_hat,
         CAST(epoch(TIMESTAMP '2025-01-02 00:00:00') - epoch(last_fetch)
              AS DOUBLE) AS age
  FROM per
)
SELECT url, n_intervals, n_changed, last_fetch, lambda_hat,
       ROUND(1.0 - exp(-lambda_hat * age), 6) AS p_changed
FROM est ORDER BY url
"""


def _q_hll_distinct(spark, sf_dir):
    """HyperLogLog cardinality sketch (operators/sketches.py): per-status
    distinct-customer estimates from 256 registers. Status P is sparse →
    the linear-counting branch; F and O → the raw α·m²/ΣZ branch — both
    estimator regimes certified in one query. md5 register addressing plus
    the powers-of-two register sum (order-independent exact double) let
    the oracle recompute the registers AND the estimates value-for-value;
    the ~6.5%-off-exact readings ARE the sketch's published behavior."""
    from web_crawler_spark.operators.sketches import hll_estimate, hll_sketch

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("g"),
        F.col("o_custkey").cast("string").alias("k"),
    )
    sk = hll_sketch(o, "k", p=8, group_cols=("g",))
    return (
        hll_estimate(sk, p=8, group_cols=("g",))
        .withColumnRenamed("g", "o_orderstatus")
        .orderBy("o_orderstatus")
    )


def _sql_hll_distinct() -> str:
    alpha = 0.7213 / (1.0 + 1.079 / 256)
    return f"""
WITH h AS (
  SELECT o_orderstatus AS g,
         TRY_CAST(concat('0x', substr(md5(concat('hll:',
             CAST(o_custkey AS VARCHAR))), 1, 8)) AS BIGINT) % 256 AS bucket,
         TRY_CAST(concat('0x', substr(md5(concat('hll:',
             CAST(o_custkey AS VARCHAR))), 9, 8)) AS BIGINT) AS w
  FROM orders
),
regs AS (
  SELECT g, bucket,
         MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS rho
  FROM h GROUP BY g, bucket
),
agg AS (
  SELECT g, COUNT(*) AS present,
         SUM(power(2.0, -rho)) AS s_present
  FROM regs GROUP BY g
),
est AS (
  SELECT g,
         CAST({alpha!r} AS DOUBLE) * 65536.0
           / ((256.0 - present) + s_present) AS e_raw,
         256 - present AS v
  FROM agg
)
SELECT g AS o_orderstatus,
       ROUND(CASE WHEN e_raw <= 640.0 AND v > 0
                  THEN 256.0 * ln(256.0 / v)
                  ELSE e_raw END, 6) AS distinct_est
FROM est ORDER BY g
"""


def _dsir_weight_frame(spark, sf_dir):
    """Shared DSIR pipeline: tokenize/hash ONCE with lang carried through
    (the target slice is a filter on the same feature frame, not a second
    pass over the text), checkpoint the slim (doc, lang, bucket, cnt)
    frame — it feeds the two distribution fits, their scalar totals, and
    the scoring join."""
    from web_crawler_spark.operators import dsir as D

    d = _t(spark, sf_dir, "documents")
    feats = D.hashed_ngram_features(
        d, n_buckets=10_000, carry_cols=("lang",)
    ).localCheckpoint(eager=True)
    lam = D.fit_log_ratio(
        feats.filter(F.col("lang") == "en"), feats, n_buckets=10_000
    )
    return D.dsir_weights(feats.drop("lang"), lam)


def _q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/dsir.py — Xie et al. 2023):
    hashed unigram+bigram features (10k md5 buckets), target = the
    lang='en' slice, raw = the whole documents table; per-bucket
    log-ratio ln(p_target/p_raw) stored fixed-point (floor(ln·1e6),
    the operators/lm.py discipline) so the per-doc weight is an exact
    integer sum — oracle-identical across engines."""
    return _dsir_weight_frame(spark, sf_dir).orderBy("doc_id")


def _q_dsir_resample(spark, sf_dir):
    """DSIR Gumbel-top-k resample (k=100) over the importance weights:
    deterministic md5-derived Gumbel noise, scan + TakeOrderedAndProject
    plan (no global sort). The selected set is a pure function of
    (doc_id, salt) — the oracle reproduces it bit-for-bit."""
    from web_crawler_spark.operators import dsir as D

    w = _dsir_weight_frame(spark, sf_dir)
    return D.dsir_resample(w, k=100).select("doc_id", "n_feats", "weight_fp")


_SQL_DSIR_FEATS = """
tok AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents
), grams AS (
  SELECT doc_id, lang, unnest(
    w || CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)),
                                  i -> concat(w[i], ' ', w[i+1]))
              ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM tok
), feats AS (
  SELECT doc_id, lang,
         TRY_CAST(concat('0x', substr(md5(concat('dsir:', gram)), 1, 4))
                  AS INT) % 10000 AS bucket,
         COUNT(*) AS cnt
  FROM grams GROUP BY 1, 2, 3
), t AS (
  SELECT bucket, sum(cnt) AS t_cnt FROM feats WHERE lang = 'en' GROUP BY 1
), r AS (
  SELECT bucket, sum(cnt) AS r_cnt FROM feats GROUP BY 1
), lam AS (
  SELECT COALESCE(t.bucket, r.bucket) AS bucket,
         CAST(floor(ln((COALESCE(t_cnt, 0) + 1.0)
                       / ((SELECT sum(t_cnt) FROM t) + 10000)) * 1000000)
              AS BIGINT)
       - CAST(floor(ln((COALESCE(r_cnt, 0) + 1.0)
                       / ((SELECT sum(r_cnt) FROM r) + 10000)) * 1000000)
              AS BIGINT) AS lam_fp
  FROM t FULL OUTER JOIN r ON t.bucket = r.bucket
), dsir_w AS (
  SELECT f.doc_id, sum(f.cnt) AS n_feats,
         sum(f.cnt * lam.lam_fp) AS weight_fp
  FROM feats f JOIN lam USING (bucket)
  GROUP BY 1
)
"""

_SQL_DSIR_WEIGHTS = f"""
WITH {_SQL_DSIR_FEATS}
SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
       CAST(weight_fp AS BIGINT) AS weight_fp
FROM dsir_w ORDER BY doc_id
"""

_SQL_DSIR_RESAMPLE = f"""
WITH {_SQL_DSIR_FEATS}, g AS (
  SELECT doc_id, n_feats, weight_fp,
         weight_fp / 1000000.0
         + -ln(-ln((TRY_CAST(concat('0x',
               substr(md5(concat('dsir-gumbel:', CAST(doc_id AS VARCHAR))),
                      1, 8)) AS BIGINT) + 1.0) / 4294967297.0)) AS gk
  FROM dsir_w
)
SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
       CAST(weight_fp AS BIGINT) AS weight_fp
FROM g ORDER BY gk DESC, doc_id LIMIT 100
"""


def _q_hash_embed(spark, sf_dir):
    """Feature-hashing TF-IDF document embeddings (functions/hashembed.py,
    Weinberger et al. 2009): 64-dim signed-hash tf·idf, idf fixed-point so
    the squared norm is an exact integer sum; the only floats are one
    exactly-rounded division + sqrt per component — engine bit-identical.
    Output exploded to (doc_id, i, val) for value-level certification."""
    from web_crawler_spark.functions import hashembed as HE

    d = _t(spark, sf_dir, "documents")
    emb = HE.hash_embed(d, dim=64)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("i", "val")
    ).orderBy("doc_id", "i")


def _q_hash_embed_knn(spark, sf_dir):
    """Text k-NN with zero model weights: hashed TF-IDF vectors feed the
    existing batch k-NN join (top-3 cosine neighbors of every document).
    The same vectors drop into the LSH/IVF/PQ/SemDeDup stack at scale —
    this query certifies the exact baseline end-to-end from raw text."""
    from web_crawler_spark.functions import hashembed as HE

    d = _t(spark, sf_dir, "documents")
    emb = HE.hash_embed(d, dim=64)
    return SIM.knn_join(emb, k=3, vec_col="embedding", id_col="doc_id").orderBy(
        "vec_id", F.desc("cosine"), "nb_id"
    )


def _sql_hash_embed() -> str:
    from web_crawler_spark.functions import hashembed as HE

    return f"""
WITH {HE.duckdb_hash_embed_sql(dim=64)}
SELECT h.doc_id, h.i,
       CAST(h.comp AS DOUBLE) / sqrt(CAST(n.sumsq AS DOUBLE)) AS val
FROM hdense h JOIN hnorm n USING (doc_id)
WHERE n.sumsq > 0
ORDER BY doc_id, i
"""


def _sql_hash_embed_knn() -> str:
    from web_crawler_spark.functions import hashembed as HE

    cos = _sql_cosine("a.embedding", "b.embedding")
    return f"""
WITH {HE.duckdb_hash_embed_sql(dim=64)},
scored AS (
  SELECT a.doc_id AS vec_id, b.doc_id AS nb_id, ROUND({cos}, 6) AS cosine
  FROM hembed a JOIN hembed b ON a.doc_id <> b.doc_id
),
ranked AS (
  SELECT vec_id, nb_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, nb_id) AS rnk
  FROM scored
)
SELECT vec_id, nb_id, cosine FROM ranked WHERE rnk <= 3
ORDER BY vec_id, cosine DESC, nb_id
"""


def _q_logreg_train(spark, sf_dir):
    """In-engine logistic-regression TRAINING (operators/logreg.py):
    distill the Gopher word-count gate into a differentiable quality
    scorer — 5 batch-GD iterations whose gradients are quantized to
    int64 before aggregation, making the weight trajectory a pure
    function of the data (bit-identical across partitionings/engines).
    The DuckDB oracle re-runs the SAME 5 training iterations as unrolled
    CTEs (the pagerank-oracle pattern) and re-scores every document —
    certified end-to-end: training AND inference. Features use
    power-of-two scaling only (exact float ops)."""
    from web_crawler_spark.functions import text as T
    from web_crawler_spark.operators import logreg as LR

    d = _t(spark, sf_dir, "documents")
    g = d.select("doc_id", *T.gopher_quality_flags(F.col("text")))
    feats = g.select(
        "doc_id",
        ((F.col("n_words").cast("double") - 64.0) / 32.0).alias("x1"),
        (
            (5.0 * F.col("n_alpha_words").cast("double")
             - 4.0 * F.col("n_words").cast("double")) / 256.0
        ).alias("x2"),
        F.col("flag_word_count").cast("int").alias("y"),
    )
    w, _trace = LR.train_logreg(feats, ["x1", "x2"], "y", iters=5, lr=16.0)
    return (
        LR.predict_logreg(feats, w, ["x1", "x2"])
        .select("doc_id", "y", "score", "pred")
        .orderBy("doc_id")
    )


def _sql_logreg_train() -> str:
    from web_crawler_spark.operators import logreg as LR

    source = r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(list_filter(string_split_regex(trim(text), '\s+'),
                                 t -> regexp_matches(t, '[A-Za-z]'))) END
         AS n_alpha
FROM documents
"""
    train = LR.duckdb_train_sql(
        feature_exprs=[
            "(CAST(n_words AS DOUBLE) - 64.0) / 32.0",
            "(5.0 * CAST(n_alpha AS DOUBLE) - 4.0 * CAST(n_words AS DOUBLE))"
            " / 256.0",
        ],
        label_expr="n_words >= 50 AND n_words <= 100000",
        source_cte=source,
        iters=5,
        lr=16.0,
    )
    return f"""
WITH {train}
SELECT f.doc_id, CAST(f.y AS INT) AS y,
       ROUND(1.0 / (1.0 + exp(-(p.w0 + p.w1 * f.x1 + p.w2 * f.x2))), 6)
         AS score,
       CAST(ROUND(1.0 / (1.0 + exp(-(p.w0 + p.w1 * f.x1 + p.w2 * f.x2))), 6)
            > 0.5 AS INT) AS pred
FROM lrf f CROSS JOIN it5 p
ORDER BY f.doc_id
"""


def _q_text_semdedup_md5(spark, sf_dir):
    """SemDeDup over RAW TEXT with zero model weights: hashing-trick
    TF-IDF vectors (functions/hashembed.py) feed the SemDeDup operator
    (Abbas et al. 2023 — cluster-bucketed semantic dedup) end-to-end.
    The full composition — tokenize → hash → idf → normalize → md5
    centroid pick → argmin assign → within-cluster cosine prune — is
    value-certified against one DuckDB query."""
    from web_crawler_spark.functions import hashembed as HE

    d = _t(spark, sf_dir, "documents")
    emb = HE.hash_embed(d, dim=64)
    return SIM.semdedup(
        emb,
        n_clusters=8,
        threshold=0.9,
        vec_col="embedding",
        id_col="doc_id",
    ).orderBy("vec_id")


def _sql_text_semdedup_md5(n_clusters: int = 8, threshold: float = 0.9,
                           seed: int = 91) -> str:
    from web_crawler_spark.functions import hashembed as HE

    l2_assign = (
        "round(sqrt(list_sum(list_transform(range(1, len(c.cvec) + 1), "
        "i -> power(e.embedding[i] - c.cvec[i], 2)))), 6)"
    )
    cos = _sql_cosine("a.embedding", "b.embedding")
    return f"""
WITH {HE.duckdb_hash_embed_sql(dim=64)},
cent AS (
  SELECT embedding AS cvec,
         row_number() OVER (
           ORDER BY md5(concat('sdd{seed}:', CAST(doc_id AS VARCHAR))), doc_id
         ) - 1 AS cid
  FROM hembed
  ORDER BY md5(concat('sdd{seed}:', CAST(doc_id AS VARCHAR))), doc_id
  LIMIT {n_clusters}
), dists AS (
  SELECT e.doc_id, e.embedding, c.cid, {l2_assign} AS d
  FROM hembed e CROSS JOIN cent c
), assigned AS (
  SELECT doc_id, embedding, cid FROM (
    SELECT doc_id, embedding, cid,
           row_number() OVER (PARTITION BY doc_id ORDER BY d, cid) AS rn
    FROM dists)
  WHERE rn = 1
), dups AS (
  SELECT DISTINCT a.doc_id
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.doc_id > b.doc_id
  WHERE ROUND({cos}, 6) >= {threshold}
)
SELECT a.doc_id AS vec_id, a.cid, (d.doc_id IS NOT NULL) AS is_dup
FROM assigned a LEFT JOIN dups d ON d.doc_id = a.doc_id
ORDER BY a.doc_id
"""


def _q_heavy_hitters_mg(spark, sf_dir):
    """Misra-Gries heavy hitters (operators/sketches.py — MG 1982 +
    Agarwal et al. 2012 mergeable summaries): top-20 most frequent words,
    bounded per-partition memory, summaries merged by count addition.
    Certified in the exact regime (capacity > per-partition distincts →
    Δ=0, sketch == exact counts); the approximate regime's error bound and
    retention guarantee are property-tested in test_sketches.py."""
    from web_crawler_spark.operators import sketches as SK

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("word")
    )
    return SK.mg_heavy_hitters(words, "word", k=20, capacity=4096)


_SQL_HEAVY_HITTERS_MG = """
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS item
  FROM documents
), c AS (SELECT item, COUNT(*) AS est FROM w GROUP BY 1)
SELECT item, est, CAST(0 AS BIGINT) AS max_err
FROM c ORDER BY est DESC, item LIMIT 20
"""


def _q_zorder_key(spark, sf_dir):
    """Morton z-value computation (functions/zorder.py — the Delta
    OPTIMIZE ZORDER / Iceberg z-order rewrite key): o_custkey ×
    o_orderdate gridded to 16 bits each via exact integer min-max
    normalization, bits interleaved into one int64 sort key. The layout
    pass itself (range-partition + in-partition sort + row-group pruning
    payoff) is pinned by test_zorder.py; this certifies the key math
    value-for-value."""
    from web_crawler_spark.functions import zorder as Z

    d = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("dd"),
    )
    b = d.agg(
        F.min("ck").alias("lo_c"), F.max("ck").alias("hi_c"),
        F.min("dd").alias("lo_d"), F.max("dd").alias("hi_d"),
    ).collect()[0]
    cells = [
        Z.grid_cell(F.col("ck"), int(b["lo_c"]), int(b["hi_c"]), 16),
        Z.grid_cell(F.col("dd"), int(b["lo_d"]), int(b["hi_d"]), 16),
    ]
    return d.select(
        "o_orderkey", Z.z_value(cells, 16).alias("zval")
    ).orderBy("o_orderkey")


def _sql_zorder_key() -> str:
    from web_crawler_spark.functions import zorder as Z

    interleave = Z.duckdb_z_value_sql(["cx", "cd"], 16)
    return f"""
WITH d AS (
  SELECT o_orderkey, o_custkey AS ck,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dd
  FROM orders
), b AS (
  SELECT min(ck) AS lo_c, max(ck) AS hi_c,
         min(dd) AS lo_d, max(dd) AS hi_d
  FROM d
), g AS (
  SELECT o_orderkey,
         ((ck - lo_c) << 16) // (hi_c - lo_c + 1) AS cx,
         ((dd - lo_d) << 16) // (hi_d - lo_d + 1) AS cd
  FROM d, b
)
SELECT o_orderkey, {interleave} AS zval FROM g ORDER BY o_orderkey
"""


def _q_lsh_plan(spark, sf_dir):
    """LSH banding planner (operators/similarity.py::lsh_plan): all 7
    factorizations of a 64-hash budget scored by S-curve error masses at
    threshold 0.5 on a 1/100 lattice; the oracle replays P(s) =
    1-(1-s^r)^b pointwise, both i-ordered Riemann folds, the rounded
    cost and the (cost, bands) argmin flag."""
    from web_crawler_spark.operators.similarity import lsh_plan

    return lsh_plan(
        spark, n_hashes=64, threshold=0.5, grid=100
    ).orderBy("bands")


_SQL_LSH_PLAN = r"""
WITH pairs AS (
  SELECT CAST(b AS INT) AS bands, CAST(64 // b AS INT) AS rows
  FROM (SELECT unnest(range(1, 65)) AS b) WHERE 64 % b = 0
),
ev AS (
  SELECT bands, rows, i, CAST(i AS DOUBLE) / 100.0 AS s,
         1.0 - pow(1.0 - pow(CAST(i AS DOUBLE) / 100.0,
                             CAST(rows AS DOUBLE)),
                   CAST(bands AS DOUBLE)) AS p
  FROM pairs, (SELECT unnest(range(1, 100)) AS i)
),
m AS (
  SELECT bands, rows,
         list_reduce([0.0] || list(CASE WHEN s < 0.5 THEN p ELSE 0.0 END
                                   ORDER BY i), (a, c) -> a + c)
           / 100.0 AS fp,
         list_reduce([0.0] || list(CASE WHEN s > 0.5 THEN 1.0 - p
                                        ELSE 0.0 END
                                   ORDER BY i), (a, c) -> a + c)
           / 100.0 AS fn
  FROM ev GROUP BY bands, rows
)
SELECT bands, rows,
       round(pow(1.0 / bands, 1.0 / rows), 6) AS t_star,
       round(fp, 6) AS fp_mass,
       round(fn, 6) AS fn_mass,
       round(1.0 * fp + 1.0 * fn, 6) AS cost,
       row_number() OVER (ORDER BY round(1.0 * fp + 1.0 * fn, 6), bands)
         = 1 AS is_best
FROM m
ORDER BY bands
"""


def _q_learned_priority(spark, sf_dir):
    """Machine-learned frontier prioritization (operators/logreg.py::
    learned_priority): 200 crawled URLs with deterministic outcomes
    (shallow article pages kept, deep parameter-heavy junk dropped)
    train the int64-quantized logistic regression on URL-only features;
    90 frontier URLs in three shape classes are scored and globally
    ranked. The oracle unrolls all 5 training iterations (the
    duckdb_train_sql chain), rebuilds the frontier features with the
    same string ops, and replays scoring + the (score desc, url) rank."""
    from web_crawler_spark.operators.logreg import learned_priority

    e = _t(spark, sf_dir, "events")
    cids = e.select((F.col("event_id") % 200).alias("cid")).distinct()
    c = F.col("cid").cast("string")
    crawled = cids.select(
        F.when(
            F.col("cid") % 2 == 0, F.concat(F.lit("https://s.ex/art"), c)
        )
        .otherwise(
            F.concat(F.lit("https://s.ex/a/b/c/d/e"), c,
                     F.lit("?x=1&y=2&z=3"))
        )
        .alias("url"),
        (F.col("cid") % 2 == 0).cast("int").alias("label"),
    )
    fids = e.select((F.col("event_id") % 90).alias("fid")).distinct()
    f = F.col("fid").cast("string")
    m3 = F.col("fid") % 3
    frontier = fids.select(
        F.when(m3 == 0, F.concat(F.lit("https://f.ex/page"), f))
        .when(
            m3 == 1,
            F.concat(F.lit("https://f.ex/a/b/c/d/junk"), f,
                     F.lit("?q=1&r=2&s=3")),
        )
        .otherwise(F.concat(F.lit("https://f.ex/m/n"), f, F.lit("?a=1")))
        .alias("url")
    )
    return learned_priority(crawled, frontier).orderBy("url")


def _sql_learned_priority() -> str:
    from web_crawler_spark.operators import logreg as LR

    train = LR.duckdb_train_sql(
        feature_exprs=LR.URL_FEATURE_SQL,
        label_expr="label",
        source_cte="SELECT url, label FROM crawled",
        iters=5,
        lr=16.0,
    )
    fx = ", ".join(
        f"({e}) AS x{j + 1}" for j, e in enumerate(LR.URL_FEATURE_SQL)
    )
    z = "p.w0 + p.w1 * f.x1 + p.w2 * f.x2 + p.w3 * f.x3 + p.w4 * f.x4"
    return f"""
WITH cids AS (SELECT DISTINCT event_id % 200 AS cid FROM events),
fids AS (SELECT DISTINCT event_id % 90 AS fid FROM events),
crawled AS (
  SELECT CASE WHEN cid % 2 = 0 THEN concat('https://s.ex/art', cid)
              ELSE concat('https://s.ex/a/b/c/d/e', cid, '?x=1&y=2&z=3')
         END AS url,
         CASE WHEN cid % 2 = 0 THEN 1 ELSE 0 END AS label
  FROM cids
),
frontier AS (
  SELECT CASE WHEN fid % 3 = 0 THEN concat('https://f.ex/page', fid)
              WHEN fid % 3 = 1
                THEN concat('https://f.ex/a/b/c/d/junk', fid, '?q=1&r=2&s=3')
              ELSE concat('https://f.ex/m/n', fid, '?a=1')
         END AS url
  FROM fids
),
{train},
fx AS (SELECT url, {fx} FROM frontier),
scored AS (
  SELECT f.url, ROUND(1.0 / (1.0 + exp(-({z}))), 6) AS score
  FROM fx f CROSS JOIN it5 p
)
SELECT url, score,
       CAST(row_number() OVER (ORDER BY score DESC, url) AS BIGINT) AS rank
FROM scored
ORDER BY url
"""


def _q_bm25f_topk(spark, sf_dir):
    """BM25F field-weighted retrieval (operators/corpus.py::bm25f_topk,
    Robertson-Zaragoza-Taylor 2004) over the documents table with a
    synthesized anchor-text field: every 7th doc's anchors carry 'spark',
    the next class carries all three query terms, one class has EMPTY
    anchors (the []-tokens edge), the rest are miss text — so anchor
    weight 2.5 reorders the plain-BM25 ranking and the oracle certifies
    document-level df (hit in ANY field), per-field length norms, the
    combined-evidence saturation, and the field-then-term sum order."""
    from web_crawler_spark.operators.corpus import bm25f_topk

    d = _t(spark, sf_dir, "documents")
    m7 = F.col("doc_id") % 7
    anchor = (
        F.when(m7 == 0, F.lit("spark index page"))
        .when(m7 == 1, F.lit("join reference window"))
        .when(m7 == 2, F.lit(""))
        .otherwise(F.lit("misc link text"))
    )
    pages = d.select("doc_id", "text", anchor.alias("anchor"))
    return bm25f_topk(
        pages, _BM25_TERMS, k=10, k1=_BM25_K1,
        fields={"text": (1.0, 0.75), "anchor": (2.5, 0.6)},
    ).orderBy(F.desc("score"), "doc_id")


def _sql_bm25f_topk() -> str:
    k1 = _BM25_K1
    fields = [("text", 1.0, 0.75), ("anchor", 2.5, 0.6)]
    tf_exprs = []
    for f, _, _ in fields:
        tf_exprs.append(f"len(tk_{f}) AS dl_{f}")
        for i, t in enumerate(_BM25_TERMS):
            tf_exprs.append(
                f"len(list_filter(tk_{f}, t -> t = '{t}')) AS tf_{f}_{i}"
            )
    df_exprs = ", ".join(
        "sum(CASE WHEN "
        + " OR ".join(f"tf_{f}_{i} > 0" for f, _, _ in fields)
        + f" THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    avg_exprs = ", ".join(
        f"CAST(sum(dl_{f}) AS DOUBLE) / count(*) AS avgdl_{f}"
        for f, _, _ in fields
    )
    contribs = []
    for i in range(len(_BM25_TERMS)):
        tft = " + ".join(
            f"(({w} * CAST(tf_{f}_{i} AS DOUBLE))"
            f" / ({1.0 - bf} + {bf} * dl_{f} / s.avgdl_{f}))"
            for f, w, bf in fields
        )
        contribs.append(
            f"((ln(1.0 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
            f" * ({tft})) / ({k1} + ({tft})))"
        )
    score = " + ".join(contribs)
    tf_sql = ",\n         ".join(tf_exprs)
    return f"""
WITH pages AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 7 = 0 THEN 'spark index page'
              WHEN doc_id % 7 = 1 THEN 'join reference window'
              WHEN doc_id % 7 = 2 THEN ''
              ELSE 'misc link text' END AS anchor
  FROM documents
),
toks AS (
  SELECT doc_id,
         CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS tk_text,
         CASE WHEN trim(lower(anchor)) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(lower(anchor)), '\\s+') END AS tk_anchor
  FROM pages
),
tfd AS (
  SELECT doc_id,
         {tf_sql}
  FROM toks
),
s AS (
  SELECT count(*) AS n, {avg_exprs}, {df_exprs}
  FROM tfd
)
SELECT doc_id, ROUND({score}, 6) AS score
FROM tfd, s
WHERE ({score}) > 0
ORDER BY score DESC, doc_id
LIMIT 10
"""


def _q_retrieval_eval(spark, sf_dir):
    """trec_eval metric set (operators/corpus.py::retrieval_eval): 40
    queries × 12-deep runs with score ties (doc_id tie-break), four
    qrel regimes — graded rels incl. an unretrieved relevant (recall<1),
    zero-relevant queries (NULL ap/ndcg), all-top-3 relevant, and a
    single relevant beyond the k=10 cutoff with rel=0 qrel rows that
    must not count toward n_rel. The oracle replays ranking, cumulative
    precision, the rank-ordered AP/DCG folds, the desc-sorted IDCG
    positions and every rounded division."""
    from web_crawler_spark.operators.corpus import retrieval_eval

    e = _t(spark, sf_dir, "events")
    qids = e.select((F.col("event_id") % 40).alias("qid")).distinct()
    q = F.col("qid")
    run = qids.select(
        q, F.explode(F.sequence(F.lit(0), F.lit(11))).alias("i")
    ).select(
        q.alias("query_id"),
        (q * 100 + F.col("i")).alias("doc_id"),
        (F.lit(1000) - F.floor(F.col("i") / 2) * 10)
        .cast("double")
        .alias("score"),
    )
    m4 = q % 4
    qr = F.when(
        m4 == 0,
        F.array(
            F.struct((q * 100 + 1).alias("doc_id"), F.lit(3).alias("rel")),
            F.struct((q * 100 + 3).alias("doc_id"), F.lit(1).alias("rel")),
            F.struct((q * 100 + 8).alias("doc_id"), F.lit(2).alias("rel")),
            F.struct((q * 100 + 50).alias("doc_id"), F.lit(2).alias("rel")),
        ),
    ).when(
        m4 == 2,
        F.array(
            F.struct((q * 100 + 0).alias("doc_id"), F.lit(1).alias("rel")),
            F.struct((q * 100 + 1).alias("doc_id"), F.lit(1).alias("rel")),
            F.struct((q * 100 + 2).alias("doc_id"), F.lit(1).alias("rel")),
        ),
    ).when(
        m4 == 3,
        F.array(
            F.struct((q * 100 + 11).alias("doc_id"), F.lit(2).alias("rel")),
            F.struct((q * 100 + 0).alias("doc_id"), F.lit(0).alias("rel")),
            F.struct((q * 100 + 5).alias("doc_id"), F.lit(0).alias("rel")),
        ),
    ).otherwise(F.array().cast("array<struct<doc_id:long,rel:int>>"))
    qrels = (
        qids.select(q.alias("query_id"), F.explode(qr).alias("r"))
        .select("query_id", F.col("r.doc_id").alias("doc_id"),
                F.col("r.rel").alias("rel"))
    )
    return retrieval_eval(run, qrels, k=10).orderBy("query_id")


_SQL_RETRIEVAL_EVAL = r"""
WITH qids AS (SELECT DISTINCT event_id % 40 AS qid FROM events),
run AS (
  SELECT qid AS query_id, qid * 100 + i AS doc_id,
         CAST(1000 - floor(i / 2) * 10 AS DOUBLE) AS score
  FROM qids, LATERAL unnest(generate_series(0, 11)) AS u(i)
),
qrels AS (
  SELECT qid AS query_id, qid * 100 + 1 AS doc_id, 3 AS rel FROM qids WHERE qid % 4 = 0
  UNION ALL SELECT qid, qid * 100 + 3, 1 FROM qids WHERE qid % 4 = 0
  UNION ALL SELECT qid, qid * 100 + 8, 2 FROM qids WHERE qid % 4 = 0
  UNION ALL SELECT qid, qid * 100 + 50, 2 FROM qids WHERE qid % 4 = 0
  UNION ALL SELECT qid, qid * 100 + 0, 1 FROM qids WHERE qid % 4 = 2
  UNION ALL SELECT qid, qid * 100 + 1, 1 FROM qids WHERE qid % 4 = 2
  UNION ALL SELECT qid, qid * 100 + 2, 1 FROM qids WHERE qid % 4 = 2
  UNION ALL SELECT qid, qid * 100 + 11, 2 FROM qids WHERE qid % 4 = 3
  UNION ALL SELECT qid, qid * 100 + 0, 0 FROM qids WHERE qid % 4 = 3
  UNION ALL SELECT qid, qid * 100 + 5, 0 FROM qids WHERE qid % 4 = 3
),
ranked AS (
  SELECT r.query_id, r.doc_id, r.score, coalesce(q.rel, 0) AS rel,
         row_number() OVER (PARTITION BY r.query_id
                            ORDER BY r.score DESC, r.doc_id) AS rank
  FROM run r LEFT JOIN qrels q
    ON q.query_id = r.query_id AND q.doc_id = r.doc_id
),
cum AS (
  SELECT *, sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
            OVER (PARTITION BY query_id ORDER BY score DESC, doc_id
                  ROWS UNBOUNDED PRECEDING) AS cum_rel
  FROM ranked
),
per_q AS (
  SELECT query_id,
         list_reduce([0.0] || list(CASE WHEN rel > 0
             THEN CAST(cum_rel AS DOUBLE) / rank ELSE 0.0 END ORDER BY rank),
             (a, c) -> a + c) AS ap_num,
         list_reduce([0.0] || list(CASE WHEN rank <= 10
             THEN (pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
                  / log2(CAST(rank AS DOUBLE) + 1.0)
             ELSE 0.0 END ORDER BY rank), (a, c) -> a + c) AS dcg_at_k,
         min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
         sum(CASE WHEN rel > 0 AND rank <= 10 THEN 1 ELSE 0 END) AS rel_in_k
  FROM cum GROUP BY query_id
),
ideal AS (
  SELECT query_id, count(*) AS n_rel,
         list_sort(list(rel), 'DESC') AS rl
  FROM qrels WHERE rel > 0 GROUP BY query_id
),
ig AS (
  SELECT query_id, i,
         (pow(2.0, CAST(rl[i] AS DOUBLE)) - 1.0)
         / log2(CAST(i AS DOUBLE) + 1.0) AS g
  FROM ideal, LATERAL unnest(generate_series(1, least(len(rl), 10))) AS u(i)
),
idcg AS (
  SELECT query_id, list_reduce([0.0] || list(g ORDER BY i),
                               (a, c) -> a + c) AS idcg_at_k
  FROM ig GROUP BY query_id
)
SELECT p.query_id,
       coalesce(d.n_rel, 0) AS n_rel,
       round(coalesce(1.0 / CAST(p.first_rel AS DOUBLE), 0.0), 6) AS mrr,
       round(CASE WHEN d.n_rel > 0 THEN p.ap_num / d.n_rel END, 6) AS ap,
       round(p.dcg_at_k, 6) AS dcg_at_k,
       round(CASE WHEN d.n_rel > 0 THEN p.dcg_at_k / i.idcg_at_k END, 6) AS ndcg_at_k,
       round(CAST(p.rel_in_k AS DOUBLE) / 10, 6) AS p_at_k,
       round(CASE WHEN d.n_rel > 0
             THEN CAST(p.rel_in_k AS DOUBLE) / d.n_rel END, 6) AS recall_at_k
FROM per_q p
LEFT JOIN ideal d ON d.query_id = p.query_id
LEFT JOIN idcg i ON i.query_id = p.query_id
ORDER BY p.query_id
"""


def _q_url_mirror_hosts(spark, sf_dir):
    """Host-level mirror detection (operators/urlfilter.py::mirror_hosts_by_path,
    Bharat & Broder 1999): a 3-host mirror family (full clone at 1000
    milli + an 80%-coverage clone landing exactly on the 800 threshold),
    a 2-shared-path pair below min_shared (absent), same-text-different-
    path hosts (absent — certifies path∈key), and a 20-host mass-dup key
    exceeding max_key_hosts=16 (dropped before pairing). The oracle
    replays fingerprinting, the key-cap window, pairing, totals and the
    integer containment."""
    from web_crawler_spark.operators.urlfilter import (
        mirror_hosts_by_path,
    )

    e = _t(spark, sf_dir, "events")
    js = e.select((F.col("event_id") % 30).alias("j")).distinct()
    j = F.col("j")
    s = j.cast("string")

    def pg(host, path, text):
        return F.struct(
            F.concat(F.lit("https://"), host, path).alias("url"),
            text.alias("text"),
        )

    mirror_txt = F.concat(F.lit("mirror doc "), s)
    rows = F.array_compact(
        F.array(
            pg(F.lit("ma.ex"), F.concat(F.lit("/p"), s), mirror_txt),
            pg(F.lit("mb.ex"), F.concat(F.lit("/p"), s), mirror_txt),
            F.when(j < 24, pg(F.lit("mc.ex"), F.concat(F.lit("/p"), s),
                              mirror_txt)),
            F.when(j < 6, pg(F.lit("mc.ex"), F.concat(F.lit("/q"), s),
                             F.concat(F.lit("own doc "), s))),
            F.when(j < 2, pg(F.lit("na.ex"), F.concat(F.lit("/s"), s),
                             F.concat(F.lit("shared "), s))),
            F.when(j < 2, pg(F.lit("nb.ex"), F.concat(F.lit("/s"), s),
                             F.concat(F.lit("shared "), s))),
            F.when(j < 8, pg(F.lit("na.ex"), F.concat(F.lit("/na"), s),
                             F.concat(F.lit("na own "), s))),
            F.when(j < 8, pg(F.lit("nb.ex"), F.concat(F.lit("/nb"), s),
                             F.concat(F.lit("nb own "), s))),
            F.when(j < 5, pg(F.lit("xa.ex"), F.concat(F.lit("/xa"), s),
                             F.lit("same text diff path"))),
            F.when(j < 5, pg(F.lit("xb.ex"), F.concat(F.lit("/xb"), s),
                             F.lit("same text diff path"))),
            F.when(j < 20, pg(F.concat(F.lit("h"), s, F.lit(".mass.ex")),
                              F.lit("/common"), F.lit("massdup"))),
            F.when(j < 20, pg(F.concat(F.lit("h"), s, F.lit(".mass.ex")),
                              F.concat(F.lit("/own"), s),
                              F.concat(F.lit("h own "), s))),
        )
    )
    pages = js.select(F.explode(rows).alias("r")).select("r.url", "r.text")
    return mirror_hosts_by_path(pages).orderBy("host_a", "host_b")


_SQL_URL_MIRROR_HOSTS = r"""
WITH js AS (SELECT DISTINCT event_id % 30 AS j FROM events),
pages AS (
  SELECT 'ma.ex' AS host, concat('/p', j) AS path, concat('mirror doc ', j) AS text FROM js
  UNION ALL SELECT 'mb.ex', concat('/p', j), concat('mirror doc ', j) FROM js
  UNION ALL SELECT 'mc.ex', concat('/p', j), concat('mirror doc ', j) FROM js WHERE j < 24
  UNION ALL SELECT 'mc.ex', concat('/q', j), concat('own doc ', j) FROM js WHERE j < 6
  UNION ALL SELECT 'na.ex', concat('/s', j), concat('shared ', j) FROM js WHERE j < 2
  UNION ALL SELECT 'nb.ex', concat('/s', j), concat('shared ', j) FROM js WHERE j < 2
  UNION ALL SELECT 'na.ex', concat('/na', j), concat('na own ', j) FROM js WHERE j < 8
  UNION ALL SELECT 'nb.ex', concat('/nb', j), concat('nb own ', j) FROM js WHERE j < 8
  UNION ALL SELECT 'xa.ex', concat('/xa', j), 'same text diff path' FROM js WHERE j < 5
  UNION ALL SELECT 'xb.ex', concat('/xb', j), 'same text diff path' FROM js WHERE j < 5
  UNION ALL SELECT concat('h', j, '.mass.ex'), '/common', 'massdup' FROM js WHERE j < 20
  UNION ALL SELECT concat('h', j, '.mass.ex'), concat('/own', j), concat('h own ', j) FROM js WHERE j < 20
),
slim AS (
  SELECT DISTINCT host, path,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
  FROM pages
),
keyed AS (
  SELECT host, path, fp FROM (
    SELECT *, count(*) OVER (PARTITION BY path, fp) AS kn FROM slim
  ) WHERE kn <= 16
),
totals AS (SELECT host, count(*) AS n FROM keyed GROUP BY host),
sh AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
  FROM keyed a JOIN keyed b ON a.path = b.path AND a.fp = b.fp AND a.host < b.host
  GROUP BY a.host, b.host
  HAVING count(*) >= 3
)
SELECT host_a, host_b, shared, ta.n AS n_a, tb.n AS n_b,
       CAST(floor(1000 * shared / least(ta.n, tb.n)) AS BIGINT) AS overlap_milli,
       floor(1000 * shared / least(ta.n, tb.n)) >= 800 AS is_mirror
FROM sh
JOIN totals ta ON ta.host = sh.host_a
JOIN totals tb ON tb.host = sh.host_b
ORDER BY host_a, host_b
"""


def _q_bm25_rm3(spark, sf_dir):
    """BM25 + RM3 pseudo-relevance feedback (operators/corpus.py::
    rm3_topk — Lavrenko & Croft 2001 / Abdul-Jaleel et al. 2004, the
    Anserini default expander) over the real documents table with the
    same query as tx_bm25_topk. The oracle replays the ENTIRE chain:
    first-pass BM25 top-10 feedback set, doc_id-ordered score fold for
    the normalizer, the relevance-model term distribution with
    IEEE-ordered per-term folds, (P desc, term) top-10 expansion,
    interpolation with the original query MLE, and the weighted-BM25
    re-score with term-ordered summation."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.rm3_topk(
        d, _BM25_TERMS, k=10, fb_docs=10, fb_terms=10,
        orig_weight=0.5, k1=_BM25_K1, b=_BM25_B,
    ).orderBy(F.desc("score"), "doc_id")


def _sql_bm25_rm3() -> str:
    k1, b = _BM25_K1, _BM25_B
    alpha = 0.5
    qlen = len(_BM25_TERMS)
    tf_exprs = ",\n         ".join(
        f"len(list_filter(tk, t -> t = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_exprs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    parts = " + ".join(
        f"(ln(1.0 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
        f" * CAST(tf{i} AS DOUBLE) * {k1 + 1.0}"
        f" / (CAST(tf{i} AS DOUBLE) + {k1} * ({1.0 - b} + {b} * dl / s.avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    orig_rows = ", ".join(
        f"('{t}', ({alpha} * {_BM25_TERMS.count(t)}) / {qlen})"
        for t in sorted(set(_BM25_TERMS))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
  FROM documents
),
tfd AS (
  SELECT doc_id, len(tk) AS dl,
         {tf_exprs}
  FROM toks
),
s AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, {df_exprs}
  FROM tfd
),
fp AS (
  SELECT doc_id, ROUND({parts}, 6) AS score
  FROM tfd, s
  WHERE ({parts}) > 0
  ORDER BY score DESC, doc_id
  LIMIT 10
),
tot AS (
  SELECT list_reduce(list(score ORDER BY doc_id), (a, c) -> a + c) AS total
  FROM fp
),
wd AS (SELECT doc_id, score / tot.total AS w FROM fp, tot),
fbt AS (
  SELECT t.doc_id, unnest(t.tk) AS term, len(t.tk) AS dl
  FROM toks t JOIN fp USING (doc_id)
),
cagg AS (
  SELECT doc_id, term, dl, count(*) AS tf FROM fbt GROUP BY doc_id, term, dl
),
contrib AS (
  SELECT c.term, c.doc_id, (CAST(c.tf AS DOUBLE) / c.dl) * w.w AS cv
  FROM cagg c JOIN wd w USING (doc_id)
),
prel AS (
  SELECT term,
         list_reduce([0.0] || list(cv ORDER BY doc_id), (a, c) -> a + c) AS p
  FROM contrib GROUP BY term
),
topt AS (SELECT term, p FROM prel ORDER BY p DESC, term LIMIT 10),
wts AS (
  SELECT coalesce(o.term, x.term) AS term,
         coalesce(o.w, 0.0) + coalesce({1.0 - alpha} * x.p, 0.0) AS w
  FROM (VALUES {orig_rows}) AS o(term, w)
  FULL OUTER JOIN topt x ON o.term = x.term
),
xstats AS (
  SELECT w.term, count(DISTINCT e.doc_id) AS dft
  FROM wts w
  JOIN (SELECT doc_id, unnest(tk) AS term FROM toks) e ON e.term = w.term
  GROUP BY w.term
),
xparts AS (
  SELECT d.doc_id, w.term,
         (((w.w * ln(1.0 + (s.n - coalesce(x.dft, 0) + 0.5)
                           / (coalesce(x.dft, 0) + 0.5)))
           * CAST(coalesce(tf.tf, 0) AS DOUBLE)) * {k1 + 1.0})
         / (CAST(coalesce(tf.tf, 0) AS DOUBLE)
            + {k1} * ({1.0 - b} + {b} * d.dl / s.avgdl)) AS part
  FROM (SELECT doc_id, dl FROM tfd) d
  CROSS JOIN wts w
  LEFT JOIN xstats x ON x.term = w.term
  LEFT JOIN (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(tk) AS term FROM toks)
    GROUP BY doc_id, term
  ) tf ON tf.doc_id = d.doc_id AND tf.term = w.term
  CROSS JOIN s
),
xscore AS (
  SELECT doc_id,
         list_reduce([0.0] || list(part ORDER BY term), (a, c) -> a + c) AS raw
  FROM xparts GROUP BY doc_id
)
SELECT doc_id, ROUND(raw, 6) AS score
FROM xscore
WHERE raw > 0
ORDER BY score DESC, doc_id
LIMIT 10
"""


def _q_url_language_twins(spark, sf_dir):
    """URL-pattern cross-language document alignment (operators/align.py::
    url_language_twins — Buck & Koehn WMT16 baseline): 200 logical doc
    families in five regimes — /en/ vs /fr/ path pairs (kept), en/de
    pairs whose length ratio fails the 333-milli gate (dropped),
    ?lang=en vs ?lang=fr query-param pairs (kept), no-marker URLs
    (excluded — nothing blanked), en-us vs pt-br locale SUBDOMAIN pairs
    (kept), plus one 17-language hot family exceeding max_family=16
    (dropped whole). The oracle replays tokenization, marker blanking,
    the family-cap window, the cross-language self-join and the integer
    length-ratio gate."""
    from web_crawler_spark.operators.align import (
        URL_LANG_TOKENS,
        url_language_twins,
    )

    e = _t(spark, sf_dir, "events")
    cids = e.select((F.col("event_id") % 200).alias("cid")).distinct()
    c = F.col("cid")
    cs = c.cast("string")
    m5 = c % 5

    def doc(url, lang, n):
        return F.struct(
            url.alias("url"), F.lit(lang).alias("lang"),
            n.cast("int").alias("n"),
        )

    two = F.when(
        m5 == 0,
        F.array(
            doc(F.concat(F.lit("https://w.ex/en/a"), cs), "en", c + 400),
            doc(F.concat(F.lit("https://w.ex/fr/a"), cs), "fr", c + 440),
        ),
    ).when(
        m5 == 1,
        F.array(
            doc(F.concat(F.lit("https://w.ex/en/b"), cs), "en", F.lit(500)),
            doc(F.concat(F.lit("https://w.ex/de/b"), cs), "de", F.lit(100)),
        ),
    ).when(
        m5 == 2,
        F.array(
            doc(F.concat(F.lit("https://site.ex/doc"), cs, F.lit("?lang=en")),
                "en", c + 300),
            doc(F.concat(F.lit("https://site.ex/doc"), cs, F.lit("?lang=fr")),
                "fr", c + 310),
        ),
    ).when(
        m5 == 3,
        F.array(
            doc(F.concat(F.lit("https://w.ex/plain/c"), cs), "en", c + 200),
        ),
    ).otherwise(
        F.array(
            doc(F.concat(F.lit("https://en-us.w2.ex/d"), cs), "en-us",
                c + 350),
            doc(F.concat(F.lit("https://pt-br.w2.ex/d"), cs), "pt-br",
                c + 355),
        ),
    )
    base = cids.select(F.explode(two).alias("d")).select(
        F.col("d.url").alias("url"), F.col("d.lang").alias("lang"),
        F.expr("repeat('x', d.n)").alias("text"),
    )
    hot_langs = list(URL_LANG_TOKENS[:17])
    hot = spark.createDataFrame(
        [(f"https://hot.ex/{lg}/x", lg, "x" * 100) for lg in hot_langs],
        "url string, lang string, text string",
    )
    pages = base.unionByName(hot)
    return url_language_twins(pages).orderBy("url_a", "url_b")


def _sql_url_language_twins() -> str:
    from web_crawler_spark.operators.align import URL_LANG_TOKENS

    langs_sql = "[" + ", ".join(f"'{t}'" for t in URL_LANG_TOKENS) + "]"
    hot_sql = "[" + ", ".join(f"'{t}'" for t in URL_LANG_TOKENS[:17]) + "]"
    return f"""
WITH cids AS (SELECT DISTINCT event_id % 200 AS cid FROM events),
docs AS (
  SELECT concat('https://w.ex/en/a', CAST(cid AS VARCHAR)) AS url, 'en' AS lang, cid + 400 AS ln
  FROM cids WHERE cid % 5 = 0
  UNION ALL
  SELECT concat('https://w.ex/fr/a', CAST(cid AS VARCHAR)), 'fr', cid + 440 FROM cids WHERE cid % 5 = 0
  UNION ALL
  SELECT concat('https://w.ex/en/b', CAST(cid AS VARCHAR)), 'en', 500 FROM cids WHERE cid % 5 = 1
  UNION ALL
  SELECT concat('https://w.ex/de/b', CAST(cid AS VARCHAR)), 'de', 100 FROM cids WHERE cid % 5 = 1
  UNION ALL
  SELECT concat('https://site.ex/doc', CAST(cid AS VARCHAR), '?lang=en'), 'en', cid + 300 FROM cids WHERE cid % 5 = 2
  UNION ALL
  SELECT concat('https://site.ex/doc', CAST(cid AS VARCHAR), '?lang=fr'), 'fr', cid + 310 FROM cids WHERE cid % 5 = 2
  UNION ALL
  SELECT concat('https://w.ex/plain/c', CAST(cid AS VARCHAR)), 'en', cid + 200 FROM cids WHERE cid % 5 = 3
  UNION ALL
  SELECT concat('https://en-us.w2.ex/d', CAST(cid AS VARCHAR)), 'en-us', cid + 350 FROM cids WHERE cid % 5 = 4
  UNION ALL
  SELECT concat('https://pt-br.w2.ex/d', CAST(cid AS VARCHAR)), 'pt-br', cid + 355 FROM cids WHERE cid % 5 = 4
  UNION ALL
  SELECT concat('https://hot.ex/', lg, '/x'), lg, 100
  FROM (SELECT unnest({hot_sql}) AS lg)
),
keyed AS (
  SELECT url, lang, ln,
         array_to_string(
           list_transform(string_split_regex(lower(url), '[/?&=.:]'),
                          t -> CASE WHEN list_contains({langs_sql}, t) THEN '@L' ELSE t END),
           '/') AS key,
         len(list_filter(string_split_regex(lower(url), '[/?&=.:]'),
                         t -> list_contains({langs_sql}, t))) AS nb
  FROM docs
),
fam AS (
  SELECT url, lang, ln, key, count(*) OVER (PARTITION BY key) AS famn
  FROM keyed WHERE nb >= 1
),
ok AS (SELECT * FROM fam WHERE famn <= 16)
SELECT a.key AS key, a.url AS url_a, a.lang AS lang_a,
       b.url AS url_b, b.lang AS lang_b,
       CAST(floor(1000 * least(a.ln, b.ln) / greatest(a.ln, b.ln)) AS BIGINT) AS len_ratio_milli
FROM ok a JOIN ok b ON a.key = b.key
WHERE a.lang < b.lang
  AND floor(1000 * least(a.ln, b.ln) / greatest(a.ln, b.ln)) >= 333
ORDER BY url_a, url_b
"""


def _cocite_edges(spark, sf_dir):
    """Synthetic link edges with per-key bounded fanout: ~997 fine-grained
    linking hosts s<r>, each linking to 1 + (r % 16) of 23 target hosts
    t<…> — outdegrees span 1..16 so the related_hosts max_degree=12 hub
    cap is actually exercised (keys with r%16 >= 12 are dropped)."""
    e = _t(spark, sf_dir, "events")
    r = (F.col("user_id") % 997).cast("long")
    j = F.col("event_id") % (F.lit(1) + (r % 16))
    return e.select(
        F.concat(F.lit("s"), r.cast("string")).alias("src_host"),
        F.concat(F.lit("t"), ((r * 7 + j) % 23).cast("string")).alias("dst_host"),
    )


_SQL_COCITE_EDGES = """ce AS (
  SELECT concat('s', CAST(user_id % 997 AS VARCHAR)) AS src_host,
         concat('t', CAST(((user_id % 997) * 7
                 + event_id % (1 + (user_id % 997) % 16)) % 23 AS VARCHAR)
         ) AS dst_host
  FROM events
)"""


def _related_hosts_sql(edges_cte: str, key: str, item: str,
                       max_degree: int, min_shared: int) -> str:
    """Exact oracle for operators/graph.py::related_hosts — replays the
    distinct collapse, hub cap, keyed pair count and capped-set Jaccard."""
    return f"""
WITH {edges_cte},
ke AS (SELECT DISTINCT {key} AS k, {item} AS it FROM ce),
deg AS (SELECT k, COUNT(*) AS kd FROM ke GROUP BY k),
ok AS (SELECT ke.k, ke.it FROM ke JOIN deg USING (k) WHERE kd <= {max_degree}),
pairs AS (
  SELECT a.it AS host_a, b.it AS host_b, COUNT(*) AS shared
  FROM ok a JOIN ok b ON a.k = b.k AND a.it < b.it
  GROUP BY a.it, b.it HAVING COUNT(*) >= {min_shared}
),
ideg AS (SELECT it, COUNT(*) AS d FROM ok GROUP BY it)
SELECT p.host_a, p.host_b, p.shared, da.d AS deg_a, db.d AS deg_b,
       CAST(FLOOR(1000 * p.shared / (da.d + db.d - p.shared)) AS BIGINT)
         AS jaccard_milli
FROM pairs p
JOIN ideg da ON da.it = p.host_a
JOIN ideg db ON db.it = p.host_b
ORDER BY host_a, host_b
"""


def _q_cocitation_hosts(spark, sf_dir):
    """Co-citation related hosts (Dean & Henzinger WWW'99): target hosts
    linked FROM many of the same third parties, with the hub-degree cap
    engaged (operators/graph.py::related_hosts, mode=cocitation)."""
    from web_crawler_spark.operators import graph as G

    return G.related_hosts(
        _cocite_edges(spark, sf_dir), mode="cocitation",
        max_degree=12, min_shared=2,
    ).orderBy("host_a", "host_b")


_SQL_COCITATION_HOSTS = _related_hosts_sql(
    _SQL_COCITE_EDGES, "src_host", "dst_host", max_degree=12, min_shared=2
)


def _coupling_edges(spark, sf_dir):
    """29 coarse linking hosts c<r> each targeting a short arithmetic
    window of 211 fine targets d<5r+j> — adjacent c-hosts' windows overlap
    so bibliographic coupling (shared out-link targets) pairs neighbours;
    per-target in-degree stays <= 2, well under the cap."""
    e = _t(spark, sf_dir, "events")
    r = (F.col("user_id") % 29).cast("long")
    j = F.col("event_id") % (F.lit(1) + (r % 7))
    return e.select(
        F.concat(F.lit("c"), r.cast("string")).alias("src_host"),
        F.concat(F.lit("d"), ((r * 5 + j) % 211).cast("string")).alias("dst_host"),
    )


_SQL_COUPLING_EDGES = """ce AS (
  SELECT concat('c', CAST(user_id % 29 AS VARCHAR)) AS src_host,
         concat('d', CAST(((user_id % 29) * 5
                 + event_id % (1 + (user_id % 29) % 7)) % 211 AS VARCHAR)
         ) AS dst_host
  FROM events
)"""


def _q_coupling_hosts(spark, sf_dir):
    """Bibliographic-coupling related hosts (Kessler 1963 / the
    Dean-Henzinger complement): linking hosts that cite many of the same
    targets (operators/graph.py::related_hosts, mode=coupling — key/item
    roles swapped, same capped self-join algebra)."""
    from web_crawler_spark.operators import graph as G

    return G.related_hosts(
        _coupling_edges(spark, sf_dir), mode="coupling",
        max_degree=12, min_shared=1,
    ).orderBy("host_a", "host_b")


_SQL_COUPLING_HOSTS = _related_hosts_sql(
    _SQL_COUPLING_EDGES, "dst_host", "src_host", max_degree=12, min_shared=1
)


def _q_tfidf_keywords(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords (Salton & Buckley 1988) over the
    shared tokenizer — postings agg + df count-window + doc rank window,
    N folded to a literal (operators/corpus.py::tfidf_keywords)."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.tfidf_keywords(d, k=3).orderBy("doc_id", "rank")


_SQL_TFIDF_KEYWORDS = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
  FROM documents WHERE trim(text) <> ''
),
p AS (SELECT doc_id, unnest(tk) AS term FROM toks),
post AS (SELECT term, doc_id, COUNT(*) AS tf FROM p GROUP BY term, doc_id),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM post),
sc AS (
  SELECT doc_id, term, tf,
         CAST(tf AS DOUBLE)
           * ln(nd.n / CAST(COUNT(*) OVER (PARTITION BY term) AS DOUBLE))
           AS score
  FROM post CROSS JOIN nd
),
rk AS (
  SELECT doc_id, term, tf, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term)
           AS rank
  FROM sc
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 3 ORDER BY doc_id, rank
"""


def _q_epoch_novelty(spark, sf_dir):
    """Per-epoch novel-content curve (FineWeb-style per-snapshot dedup
    accounting): interleaved epochs over a reused fingerprint pool plus a
    planted stream of epoch-unique pages, so later epochs show low-but-
    nonzero novelty (operators/corpus.py::epoch_novelty)."""
    from web_crawler_spark.operators import corpus as C

    e = _t(spark, sf_dir, "events")
    cid = F.when(
        F.col("event_id") % 7 == 0, F.lit(100000) + F.col("event_id")
    ).otherwise((F.col("event_id") * 13) % 4096)
    pages = e.select(
        (F.col("event_id") % 5).cast("long").alias("epoch"),
        F.md5(cid.cast("string")).alias("fingerprint"),
    )
    return C.epoch_novelty(pages).orderBy("epoch")


_SQL_EPOCH_NOVELTY = """
WITH src AS (
  SELECT CAST(event_id % 5 AS BIGINT) AS epoch,
         md5(CAST(CASE WHEN event_id % 7 = 0 THEN 100000 + event_id
                       ELSE (event_id * 13) % 4096 END AS VARCHAR)) AS fp
  FROM events
),
g AS (SELECT fp, epoch, COUNT(*) AS n FROM src GROUP BY fp, epoch),
fe AS (
  SELECT fp, epoch, n, MIN(epoch) OVER (PARTITION BY fp) AS first_epoch
  FROM g
)
SELECT epoch,
       CAST(SUM(n) AS BIGINT) AS fetches,
       COUNT(*) AS distinct_fps,
       CAST(SUM(CASE WHEN epoch = first_epoch THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_fps,
       CAST(FLOOR(1000 * SUM(CASE WHEN epoch = first_epoch THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS novelty_milli
FROM fe GROUP BY epoch ORDER BY epoch
"""


def _template_pages(spark, sf_dir):
    """Pages for template detection: 7 hosts, per-host nav/footer on every
    page (template), a promo line on exactly the even half (sub-threshold
    at frac=600), and a unique content line per page."""
    e = _t(spark, sf_dir, "events")
    hk = (F.col("user_id") % 7).cast("string")
    text = F.concat(
        F.lit("nav-h"), hk, F.lit("\nfooter\n"),
        F.when(F.col("event_id") % 2 == 0, F.lit("promo\n")).otherwise(F.lit("")),
        F.lit("content-"), F.col("event_id").cast("string"),
    )
    return e.select(
        F.concat(F.lit("h"), hk).alias("host"),
        F.concat(
            F.lit("https://h"), hk, F.lit(".com/p"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        text.alias("text"),
    )


_SQL_TEMPLATE_PAGES = """tp AS (
  SELECT concat('h', CAST(user_id % 7 AS VARCHAR)) AS host,
         concat('https://h', CAST(user_id % 7 AS VARCHAR), '.com/p',
                CAST(event_id AS VARCHAR)) AS url,
         concat('nav-h', CAST(user_id % 7 AS VARCHAR), chr(10), 'footer',
                chr(10),
                CASE WHEN event_id % 2 = 0 THEN 'promo' || chr(10) ELSE '' END,
                'content-', CAST(event_id AS VARCHAR)) AS text
  FROM events
)"""

_SQL_TEMPLATE_LINES = """lines AS (
  SELECT DISTINCT host, url, md5(line) AS line_hash
  FROM (
    SELECT host, url, trim(unnest(string_split(text, chr(10)))) AS line
    FROM tp
  ) WHERE line <> ''
),
np AS (SELECT host, COUNT(DISTINCT url) AS n_pages FROM tp GROUP BY host),
tc AS (SELECT host, line_hash, COUNT(*) AS n_docs FROM lines
       GROUP BY host, line_hash),
tmpl AS (
  SELECT tc.host, tc.line_hash, tc.n_docs, np.n_pages
  FROM tc JOIN np USING (host)
  WHERE np.n_pages >= 3 AND 1000 * tc.n_docs >= 600 * np.n_pages
)"""


def _q_host_templates(spark, sf_dir):
    """Cross-document template lines per host (Gibson-Punera-Tomkins
    WWW'05 site-frequency boilerplate: ≥60% of a host's pages) —
    operators/boilerplate.py::host_templates. The planted ~50% promo
    line must stay below the threshold."""
    from web_crawler_spark.operators import boilerplate as B

    return B.host_templates(
        _template_pages(spark, sf_dir), min_pages=3, frac_milli=600
    ).orderBy("host", "line_hash")


_SQL_HOST_TEMPLATES = f"""
WITH {_SQL_TEMPLATE_PAGES},
{_SQL_TEMPLATE_LINES}
SELECT host, line_hash, n_docs, n_pages FROM tmpl ORDER BY host, line_hash
"""


def _q_template_burden(spark, sf_dir):
    """Per-page template burden (share of a page's distinct lines that
    are host-level template) — the 'is this page chrome or content' QA
    gate; operators/boilerplate.py::template_burden. Even pages carry
    4 lines / 2 template (500‰), odd pages 3 / 2 (666‰)."""
    from web_crawler_spark.operators import boilerplate as B

    return B.template_burden(
        _template_pages(spark, sf_dir), min_pages=3, frac_milli=600
    ).orderBy("host", "url")


_SQL_TEMPLATE_BURDEN = f"""
WITH {_SQL_TEMPLATE_PAGES},
{_SQL_TEMPLATE_LINES}
SELECT l.host, l.url,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN t.line_hash IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_template,
       CAST(FLOOR(1000 * SUM(CASE WHEN t.line_hash IS NOT NULL THEN 1 ELSE 0
                                  END) / COUNT(*)) AS BIGINT) AS burden_milli
FROM lines l
LEFT JOIN tmpl t ON t.host = l.host AND t.line_hash = l.line_hash
GROUP BY l.host, l.url ORDER BY l.host, l.url
"""


def _q_host_lookalikes(spark, sf_dir):
    """Typosquat/lookalike host pairs at edit distance ≤1 via the
    SymSpell deletion-neighborhood equi-join + built-in Levenshtein
    verify (operators/urlfilter.py::host_lookalikes). The fixture plants
    insertion (shoop), substitution (sh0p) and deletion (shp) twins of
    40 base hosts; typo-vs-typo distance-2 collisions must be verified
    away while sh0p↔shp (a genuine distance-1 pair) survives."""
    from web_crawler_spark.operators import urlfilter as UF

    e = _t(spark, sf_dir, "events")
    k = (F.col("user_id") % 40).cast("string")
    host = (
        F.when(F.col("event_id") % 29 == 0, F.concat(F.lit("shoop"), k, F.lit(".com")))
        .when(F.col("event_id") % 29 == 1, F.concat(F.lit("sh0p"), k, F.lit(".com")))
        .when(F.col("event_id") % 29 == 2, F.concat(F.lit("shp"), k, F.lit(".com")))
        .otherwise(F.concat(F.lit("shop"), k, F.lit(".com")))
    )
    return UF.host_lookalikes(e.select(host.alias("host"))).orderBy(
        "host_a", "host_b"
    )


_SQL_HOST_LOOKALIKES = """
WITH hs AS (
  SELECT DISTINCT CASE
    WHEN event_id % 29 = 0 THEN concat('shoop', CAST(user_id % 40 AS VARCHAR), '.com')
    WHEN event_id % 29 = 1 THEN concat('sh0p', CAST(user_id % 40 AS VARCHAR), '.com')
    WHEN event_id % 29 = 2 THEN concat('shp', CAST(user_id % 40 AS VARCHAR), '.com')
    ELSE concat('shop', CAST(user_id % 40 AS VARCHAR), '.com') END AS host
  FROM events
),
h AS (SELECT host FROM hs WHERE length(host) >= 4),
v1 AS (
  SELECT DISTINCT host, unnest(list_distinct(list_append(
    list_transform(range(1, length(host) + 1),
      i -> substr(host, 1, i - 1) || substr(host, i + 1, length(host))),
    host))) AS variant
  FROM h
),
vb AS (SELECT variant FROM v1 GROUP BY variant HAVING COUNT(*) <= 64),
v AS (SELECT v1.host, v1.variant FROM v1 JOIN vb USING (variant)),
pr AS (
  SELECT DISTINCT a.host AS host_a, b.host AS host_b
  FROM v a JOIN v b ON a.variant = b.variant AND a.host < b.host
)
SELECT host_a, host_b, CAST(levenshtein(host_a, host_b) AS INT) AS dist
FROM pr WHERE levenshtein(host_a, host_b) <= 1
ORDER BY host_a, host_b
"""


def _q_graph_summary(spark, sf_dir):
    """One-row reciprocity + degree-assortativity summary (Newman PRL'02)
    over a planted partial-reciprocity digraph: forward edges fan out 4
    per node, only the j<2 subset gets a reverse edge
    (operators/graph.py::graph_summary)."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    r = (F.col("user_id") % 31).cast("long")
    fwd = e.select(
        F.concat(F.lit("n"), r.cast("string")).alias("src_host"),
        F.concat(
            F.lit("n"), ((r * 3 + F.col("event_id") % 4) % 31).cast("string")
        ).alias("dst_host"),
    )
    rev = e.filter(F.col("event_id") % 5 == 0).select(
        F.concat(
            F.lit("n"), ((r * 3 + F.col("event_id") % 2) % 31).cast("string")
        ).alias("src_host"),
        F.concat(F.lit("n"), r.cast("string")).alias("dst_host"),
    )
    return G.graph_summary(fwd.unionAll(rev))


_SQL_GRAPH_SUMMARY = """
WITH ge AS (
  SELECT concat('n', CAST(user_id % 31 AS VARCHAR)) AS s,
         concat('n', CAST(((user_id % 31) * 3 + event_id % 4) % 31 AS VARCHAR))
           AS d
  FROM events
  UNION ALL
  SELECT concat('n', CAST(((user_id % 31) * 3 + event_id % 2) % 31 AS VARCHAR)),
         concat('n', CAST(user_id % 31 AS VARCHAR))
  FROM events WHERE event_id % 5 = 0
),
e AS (SELECT DISTINCT s AS src, d AS dst FROM ge WHERE s <> d),
rc AS (
  SELECT COUNT(*) AS c FROM e a
  WHERE EXISTS (SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)
),
und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
udeg AS (SELECT src AS node, COUNT(*) AS dg FROM und GROUP BY src),
ed AS (
  SELECT ux.dg AS dx, uy.dg AS dy
  FROM und JOIN udeg ux ON und.src = ux.node JOIN udeg uy ON und.dst = uy.node
),
sums AS (
  SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy, SUM(dx * dy) AS sxy,
         SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
  FROM ed
)
SELECT (SELECT COUNT(*) FROM udeg) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT c FROM rc) AS recip_edges,
       CAST(FLOOR(1000 * (SELECT c FROM rc) / (SELECT COUNT(*) FROM e))
            AS BIGINT) AS reciprocity_milli,
       ROUND(
         (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt(
             (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           ),
         6
       ) AS assortativity
FROM sums
"""


def _q_host_error_wilson(spark, sf_dir):
    """Wilson lower-bound host error ranking (the circuit-breaker order:
    sample size priced in, so a 1-of-1 failure can't outrank a 300-of-
    1000 host) — operators/aggregate.py::host_error_wilson; fixture
    plants 13 hosts at error rates 1/2..1/14 plus a tiny always-failing
    host whose small n must hold its bound down."""
    from web_crawler_spark.operators import aggregate as A

    e = _t(spark, sf_dir, "events")
    tiny = F.col("event_id") % 1997 == 0
    host = F.when(tiny, F.lit("tiny")).otherwise(
        F.concat(F.lit("h"), (F.col("user_id") % 13).cast("string"))
    )
    is_err = F.when(tiny, F.lit(True)).otherwise(
        F.col("event_id") % (F.lit(2) + F.col("user_id") % 13) == 0
    )
    return A.host_error_wilson(
        e.select(host.alias("host"), is_err.alias("is_error"))
    ).orderBy(F.desc("wilson_lb"), "host")


_SQL_HOST_ERROR_WILSON = """
WITH f AS (
  SELECT CASE WHEN event_id % 1997 = 0 THEN 'tiny'
              ELSE concat('h', CAST(user_id % 13 AS VARCHAR)) END AS host,
         CASE WHEN event_id % 1997 = 0 THEN TRUE
              ELSE event_id % (2 + user_id % 13) = 0 END AS is_error
  FROM events
),
g AS (
  SELECT host, COUNT(*) AS n_fetches,
         SUM(CASE WHEN is_error THEN 1 ELSE 0 END) AS n_errors
  FROM f GROUP BY host
),
w AS (
  SELECT host, n_fetches, n_errors,
         CAST(n_errors AS DOUBLE) / CAST(n_fetches AS DOUBLE) AS p,
         CAST(n_fetches AS DOUBLE) AS n
  FROM g
)
SELECT host, CAST(n_fetches AS BIGINT) AS n_fetches,
       CAST(n_errors AS BIGINT) AS n_errors,
       CAST(FLOOR(1000 * n_errors / n_fetches) AS BIGINT) AS err_rate_milli,
       ROUND(
         (p + (1.96::DOUBLE * 1.96::DOUBLE) / (2.0 * n)
            - 1.96::DOUBLE * sqrt(p * (1.0 - p) / n
                + (1.96::DOUBLE * 1.96::DOUBLE) / (4.0 * n * n)))
         / (1.0 + (1.96::DOUBLE * 1.96::DOUBLE) / n),
         6
       ) AS wilson_lb
FROM w ORDER BY wilson_lb DESC, host
"""


def _q_anchor_entropy(spark, sf_dir):
    """Per-target anchor-text Shannon entropy (anchor-spam flag: high
    in-degree + one repeated phrase ⇒ entropy 0) — operators/graph.py::
    anchor_entropy. Spam targets get a single normalized phrase planted
    in two surface forms (' Click Here ' / 'click here') that MUST
    collapse; organic targets get 7 distinct anchors; every 13th anchor
    is empty and must be dropped."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    spam = (F.col("user_id") % 50) < 10
    anchor = (
        F.when(F.col("event_id") % 13 == 0, F.lit(""))
        .when(spam & (F.col("event_id") % 2 == 0), F.lit(" Click Here "))
        .when(spam, F.lit("click here"))
        .otherwise(
            F.concat(F.lit("link "), (F.col("event_id") % 7).cast("string"))
        )
    )
    a = e.select(
        F.concat(
            F.lit("https://t"), (F.col("user_id") % 50).cast("string"),
            F.lit(".com/"),
        ).alias("to_url"),
        anchor.alias("anchor_text"),
    )
    return G.anchor_entropy(a).orderBy("url")


_SQL_ANCHOR_ENTROPY = """
WITH raw AS (
  SELECT concat('https://t', CAST(user_id % 50 AS VARCHAR), '.com/') AS url,
         CASE WHEN event_id % 13 = 0 THEN ''
              WHEN user_id % 50 < 10 AND event_id % 2 = 0 THEN ' Click Here '
              WHEN user_id % 50 < 10 THEN 'click here'
              ELSE concat('link ', CAST(event_id % 7 AS VARCHAR)) END AS anchor
  FROM events
),
a AS (
  SELECT url, md5(trim(lower(anchor))) AS ah FROM raw
  WHERE anchor IS NOT NULL AND trim(anchor) <> ''
),
counts AS (SELECT url, ah, COUNT(*) AS n FROM a GROUP BY url, ah),
per AS (
  SELECT url, SUM(n) AS n_inlinks, COUNT(*) AS n_unique_anchors,
         list(CAST(n AS DOUBLE) ORDER BY ah) AS nl
  FROM counts GROUP BY url
)
SELECT url, CAST(n_inlinks AS BIGINT) AS n_inlinks,
       CAST(n_unique_anchors AS BIGINT) AS n_unique_anchors,
       ROUND(list_reduce(
         list_prepend(0.0, [ (x / n_inlinks)
                             * (ln(x / n_inlinks) / 0.6931471805599453)
                             for x in nl ]),
         (a, b) -> a - b), 6) AS anchor_entropy_bits
FROM per ORDER BY url
"""


def _q_source_concentration(spark, sf_dir):
    """One-row HHI / top-share / effective-source-count concentration
    summary of the documents corpus by source (the datasheet diversity
    number; Dodge et al. EMNLP'21 domain-concentration analyses) —
    operators/aggregate.py::concentration_stats."""
    from web_crawler_spark.operators import aggregate as A

    d = _t(spark, sf_dir, "documents")
    return A.concentration_stats(d, key_col="source")


_SQL_SOURCE_CONCENTRATION = """
WITH g AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(FLOOR(1000 * MAX(n) / SUM(n)) AS BIGINT) AS top_share_milli,
       CAST(FLOOR(1000000000.0 * (CAST(SUM(n * n) AS DOUBLE)
              / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE))))
            AS BIGINT) AS hhi_nano,
       CAST(FLOOR(1000.0 * ((CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE))
              / CAST(SUM(n * n) AS DOUBLE)))
            AS BIGINT) AS effective_keys_milli
FROM g
"""


def _q_host_lang_outliers(spark, sf_dir):
    """Documents whose detected language differs from their source's
    majority detected language (the CCNet (lang, host) bucketing
    rationale as a cleaning gate) — operators/corpus.py::
    host_lang_outliers over the documents table."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.host_lang_outliers(d, group_col="source").orderBy("doc_id")


def _lang_outliers_sql() -> str:
    hit_exprs, case = _langid_pieces()
    return f"""
WITH h AS (SELECT doc_id, source, {", ".join(hit_exprs)} FROM documents),
s AS (SELECT doc_id, source AS grp, {case} AS predicted_lang FROM h),
c AS (SELECT grp, predicted_lang, COUNT(*) AS n
      FROM s GROUP BY grp, predicted_lang),
m AS (
  SELECT grp, predicted_lang AS majority_lang, n AS majority_docs,
         SUM(n) OVER (PARTITION BY grp) AS group_docs,
         ROW_NUMBER() OVER (PARTITION BY grp
                            ORDER BY n DESC, predicted_lang) AS rk
  FROM c
)
SELECT s.doc_id, s.grp AS "group", s.predicted_lang, m.majority_lang,
       CAST(m.group_docs AS BIGINT) AS group_docs,
       CAST(m.majority_docs AS BIGINT) AS majority_docs
FROM s JOIN m ON m.grp = s.grp AND m.rk = 1
WHERE s.predicted_lang <> m.majority_lang
ORDER BY s.doc_id
"""


def _q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility + chars/token (Rust et al. ACL'21
    — the cross-language tokenizer-cost metric) over the documents
    corpus: one per-doc count projection + one language-keyed combiner
    agg (operators/corpus.py::tokenizer_fertility)."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.tokenizer_fertility(d).orderBy("lang")


_SQL_TOKENIZER_FERTILITY = r"""
WITH per AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS w,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS t,
         length(text) AS c
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS n_words,
       CAST(SUM(t) AS BIGINT) AS n_tokens,
       CAST(SUM(c) AS BIGINT) AS n_chars,
       CASE WHEN SUM(w) > 0
            THEN CAST(FLOOR(1000 * SUM(t) / SUM(w)) AS BIGINT) END
         AS fertility_milli,
       CASE WHEN SUM(t) > 0
            THEN CAST(FLOOR(1000 * SUM(c) / SUM(t)) AS BIGINT) END
         AS chars_per_token_milli
FROM per GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_Builder = Callable[[SparkSession, str], DataFrame]

# name -> (builder, DuckDB oracle SQL); an oracle of None marks a rows-only
# query. Filled only through _register, in registration order.
_REGISTRY: dict[str, tuple[_Builder, str | None]] = {}


def _register(entries: dict[str, tuple[_Builder, str | None]]) -> None:
    """Add ``entries`` to the registry; a name registered twice is an error."""
    dup = sorted(entries.keys() & _REGISTRY.keys())
    if dup:
        raise ValueError(f"query names already registered: {dup}")
    _REGISTRY.update(entries)


def queries() -> dict[str, _Builder]:
    return {name: builder for name, (builder, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


_register(
    {
        "tpch_q3_shipping_priority": (_q_tpch_q3, _SQL_TPCH_Q3),
        "tpch_q5_local_supplier": (_q_tpch_q5, _SQL_TPCH_Q5),
        "tpch_q6_forecast_revenue": (_q_tpch_q6, _SQL_TPCH_Q6),
        "tpch_q12_priority_shipping": (_q_tpch_q12, _SQL_TPCH_Q12),
        "tpch_q14_promo_revenue": (_q_tpch_q14, _SQL_TPCH_Q14),
        "tpch_q18_large_volume": (_q_tpch_q18, _SQL_TPCH_Q18),
        "t2_topk_losers": (_q_topk_losers, _SQL_TOPK_LOSERS),
        "t4_t5_top_categories": (_q_top_categories, _SQL_TOP_CATEGORIES),
        "p2_p3_required_fields": (_q_required_fields, _SQL_REQUIRED_FIELDS),
        "p5_p7_report_projection": (_q_report_projection, _SQL_REPORT_PROJECTION),
        "x11_field_cleaners": (_q_field_cleaners, _SQL_FIELD_CLEANERS),
        "x14_timestamp_coercion": (_q_timestamp_coercion, _SQL_TIMESTAMP_COERCION),
        "s7_json_api_parse": (_q_json_api_parse, _SQL_JSON_API_PARSE),
        "f5_f7_error_isolation": (_q_error_isolation, _SQL_ERROR_ISOLATION),
        "v6_v7_business_rules": (_q_business_rules, _SQL_BUSINESS_RULES),
        "x5b_categorize_bi": (_q_categorize_bi, _SQL_CATEGORIZE_BI),
        "mm_binary_metadata": (_q_binary_metadata, _SQL_BINARY_METADATA),
        "mm_image_dims": (_q_image_dims, _SQL_IMAGE_DIMS),
        "mm_audio_meta": (_q_audio_meta, _SQL_AUDIO_META),
        "mm_audio_features": (_q_audio_features, _SQL_AUDIO_FEATURES),
        "mm_image_features": (_q_image_features, _SQL_IMAGE_FEATURES),
        "mm_image_dhash": (_q_image_dhash, _SQL_IMAGE_DHASH),
        "mm_image_neardup": (_q_image_neardup, _SQL_IMAGE_NEARDUP),
        "mm_video_meta": (_q_video_meta, _SQL_VIDEO_META),
        "st_stateful_politeness": (_q_stateful_politeness, _SQL_STATEFUL_POLITENESS),
        "st_stateful_seen": (_q_stateful_seen, _SQL_STATEFUL_SEEN),
        "st_stream_join": (_q_stream_stream_join, _SQL_STREAM_STREAM_JOIN),
        "a8_frontier_telemetry": (_q_frontier_telemetry, _SQL_FRONTIER_TELEMETRY),
        "a8_frontier_gini": (_q_frontier_gini, _SQL_FRONTIER_GINI),
        "f2_host_budget_waterfill": (_q_host_budget_waterfill, _SQL_HOST_BUDGET_WATERFILL),
        "url_soft_404": (_q_soft_404, _SQL_SOFT_404),
        "a10_exact_quantiles": (_q_exact_quantiles, _SQL_EXACT_QUANTILES),
        "url_meta_robots": (_q_meta_robots, _SQL_META_ROBOTS),
        "f3_politeness_by_ip": (_q_politeness_by_ip, _SQL_POLITENESS_BY_IP),
        "x17_markdown_tables": (_q_markdown_tables, _SQL_MARKDOWN_TABLES),
        "ann_int8_topk": (_q_ann_int8, _SQL_ANN_INT8),
        "crawl_change_magnitude": (_q_change_magnitude, _SQL_CHANGE_MAGNITUDE),
        "a12_fetch_sessions": (_q_fetch_sessions, _SQL_FETCH_SESSIONS),
        "tx_curriculum_shards": (_q_curriculum_shards, _SQL_CURRICULUM_SHARDS),
        "tx_invisible_hygiene": (_q_invisible_hygiene, _SQL_INVISIBLE_HYGIENE),
        "tx_gopher_stopwords": (_q_gopher_stopwords, _SQL_GOPHER_STOPWORDS),
        "gr_nofollow_links": (_q_nofollow_links, _SQL_NOFOLLOW_LINKS),
        "tx_dataset_split": (_q_dataset_split, _SQL_DATASET_SPLIT),
        "tx_pii_scrub": (_q_pii_scrub, _SQL_PII_SCRUB),
        "dd_contamination_check": (_q_contamination, _SQL_CONTAMINATION),
        "tx_gopher_quality": (_q_gopher_quality, _SQL_GOPHER_QUALITY),
        "tx_repetition": (_q_repetition, _SQL_REPETITION),
        "tx_term_stats": (_q_term_stats, _SQL_TERM_STATS),
        "tx_bm25_topk": (_q_bm25_topk, _sql_bm25_topk()),
        "tx_ql_dirichlet_topk": (_q_ql_dirichlet, _sql_ql_dirichlet()),
        "tx_pmi_collocations": (_q_pmi_collocations, _SQL_PMI_COLLOCATIONS),
        "tx_char_entropy": (_q_char_entropy, _SQL_CHAR_ENTROPY),
        "tx_slice_kl_terms": (_q_slice_kl, _SQL_SLICE_KL),
        "tx_bm25_batch": (_q_bm25_batch, _sql_bm25_batch()),
        "sk_salted_join": (_q_salted_join, _SQL_SALTED_JOIN),
        "tx_corpus_pipeline": (_q_corpus_pipeline, _sql_corpus_pipeline()),
        "dd_chunk_dedup": (_q_chunk_dedup, _SQL_CHUNK_DEDUP),
        "dd_chunk_dedup_rewrite": (_q_chunk_dedup_rewrite, _SQL_CHUNK_DEDUP_REWRITE),
        "dd_span_dedup_rewrite": (_q_span_dedup_rewrite, _SQL_SPAN_DEDUP_REWRITE),
        "tx_shard_pack": (_q_shard_pack, _SQL_SHARD_PACK),
        "url_registrable_domain": (_q_registrable_domain, _SQL_REGISTRABLE_DOMAIN),
        "f3_politeness_by_site": (_q_politeness_by_site, _SQL_POLITENESS_BY_SITE),
        "tx_domain_quota": (_q_domain_quota, _SQL_DOMAIN_QUOTA),
        "gr_domain_graph": (_q_domain_graph, _SQL_DOMAIN_GRAPH),
        "gr_domain_pagerank": (
            _q_domain_pagerank,
            _pagerank_sql(edges_with=_SQL_DOMAIN_PAGERANK_EDGES),
        ),
        "tx_weighted_sample": (_q_weighted_sample, _SQL_WEIGHTED_SAMPLE),
        "tx_corpus_mix": (_q_corpus_mix, _SQL_CORPUS_MIX),
        "crawl_snapshot_asof": (_q_snapshot_asof, _SQL_SNAPSHOT_ASOF),
        "crawl_change_detection": (_q_change_detection, _SQL_CHANGE_DETECTION),
        "crawl_recrawl_priority": (_q_recrawl_priority, _SQL_RECRAWL_PRIORITY),
        "s_sitemap_scan": (_q_sitemap_scan, _SQL_SITEMAP_SCAN),
        "s_feed_scan": (_q_feed_scan, _SQL_FEED_SCAN),
        "s6_header_sniff": (_q_header_sniff, _SQL_HEADER_SNIFF),
        "s6_xlsx_scan": (_q_xlsx_scan, _SQL_XLSX_SCAN),
        "gr_host_graph": (_q_host_graph, _SQL_HOST_GRAPH),
        "gr_host_pagerank": (_q_host_pagerank, _pagerank_sql()),
        "gr_host_hits": (_q_host_hits, _hits_sql()),
        "gr_host_salsa": (_q_host_salsa, _salsa_sql()),
        "gr_seed_distance": (_q_seed_distance, _SQL_SEED_DISTANCE),
        "f2_host_fetcher_assign": (_q_host_fetcher_assign, _SQL_HOST_FETCHER_ASSIGN),
        "dd_dedup_clusters": (_q_dedup_clusters, _sql_dedup_clusters()),
        "dd_keep_canonical": (_q_keep_canonical, _sql_keep_canonical()),
        "dd_simhash_pairs_md5": (_q_simhash_pairs_md5, _sql_simhash_pairs_md5()),
        "tx_url_language_twins": (_q_url_language_twins, _sql_url_language_twins()),
        "tx_bm25_rm3": (_q_bm25_rm3, _sql_bm25_rm3()),
        "url_mirror_hosts": (_q_url_mirror_hosts, _SQL_URL_MIRROR_HOSTS),
        "tx_retrieval_eval": (_q_retrieval_eval, _SQL_RETRIEVAL_EVAL),
        "tx_bm25f_topk": (_q_bm25f_topk, _sql_bm25f_topk()),
        "f9_learned_priority": (_q_learned_priority, _sql_learned_priority()),
        "dd_lsh_plan": (_q_lsh_plan, _SQL_LSH_PLAN),
        "gr_cocitation_hosts": (_q_cocitation_hosts, _SQL_COCITATION_HOSTS),
        "gr_coupling_hosts": (_q_coupling_hosts, _SQL_COUPLING_HOSTS),
        "tx_tfidf_keywords": (_q_tfidf_keywords, _SQL_TFIDF_KEYWORDS),
        "crawl_epoch_novelty": (_q_epoch_novelty, _SQL_EPOCH_NOVELTY),
        "tx_host_templates": (_q_host_templates, _SQL_HOST_TEMPLATES),
        "tx_template_burden": (_q_template_burden, _SQL_TEMPLATE_BURDEN),
        "url_host_lookalikes": (_q_host_lookalikes, _SQL_HOST_LOOKALIKES),
        "gr_graph_summary": (_q_graph_summary, _SQL_GRAPH_SUMMARY),
        "f7_host_error_wilson": (_q_host_error_wilson, _SQL_HOST_ERROR_WILSON),
        "gr_anchor_entropy": (_q_anchor_entropy, _SQL_ANCHOR_ENTROPY),
        "tx_source_concentration": (_q_source_concentration, _SQL_SOURCE_CONCENTRATION),
        "tx_host_lang_outliers": (_q_host_lang_outliers, _lang_outliers_sql()),
        "tx_tokenizer_fertility": (_q_tokenizer_fertility, _SQL_TOKENIZER_FERTILITY),
        "s_warc_scan": (_q_warc_scan, _SQL_WARC_SCAN),
        "ann_lsh_topk_md5": (_q_ann_lsh_md5, _sql_ann_lsh_md5()),
        "ann_knn_join": (_q_knn_join, _SQL_KNN_JOIN),
        "ann_bitext_margin": (_q_bitext_margin, _sql_bitext_margin()),
        "ann_knn_join_lsh_md5": (_q_knn_join_lsh_md5, _sql_knn_join_lsh_md5()),
        "ann_ivf_topk_md5": (_q_ann_ivf_md5, _sql_ann_ivf_md5()),
        "ann_pq_topk_md5": (_q_ann_pq_md5, _sql_ann_pq_md5()),
        "dd_semdedup_md5": (_q_semdedup_md5, _sql_semdedup_md5()),
        "dd_embedding_lsh_pairs_md5": (_q_embedding_lsh_pairs_md5, _sql_embedding_lsh_pairs_md5()),
        "ann_cosine_topk": (_q_ann_cosine, _SQL_ANN_COSINE),
        "ann_rocchio_topk": (_q_rocchio, _rocchio_sql()),
        "dd_embedding_dedup_pairs": (_q_embedding_dedup, _SQL_EMBEDDING_DEDUP),
        "cc_surt_key": (_q_surt_key, _SQL_SURT_KEY),
        "cc_cdx_index": (_q_cdx_index, _SQL_CDX_INDEX),
        "gr_anchor_text": (_q_anchor_text, _SQL_ANCHOR_TEXT),
        "cc_redirect_resolve": (_q_redirect_resolve, _SQL_REDIRECT_RESOLVE),
        "cc_alias_resolution": (_q_alias_resolution, _SQL_ALIAS_RESOLUTION),
        "tx_lm_perplexity": (_q_lm_perplexity, _SQL_LM_PERPLEXITY),
        "tx_ccnet_perplexity": (_q_ccnet_perplexity, _SQL_CCNET_PERPLEXITY),
        "dd_dedup_clusters_star": (_q_dedup_clusters_star, _sql_dedup_clusters()),
        "url_crawl_traps": (_q_crawl_traps, _SQL_CRAWL_TRAPS),
        "f8_anti_join_seen_cuckoo": (_q_anti_join_seen_cuckoo, _SQL_ANTI_JOIN_SEEN),
        "tx_boilerplate": (_q_boilerplate, _SQL_BOILERPLATE),
        "tx_c4_filter": (_q_c4_filter, _SQL_C4_FILTER),
        "s_content_sniff": (_q_content_sniff, _SQL_CONTENT_SNIFF),
        "cc_wat_export": (_q_wat_export, _SQL_WAT_EXPORT),
        "cc_canonical_dedup": (_q_canonical_dedup, _SQL_CANONICAL_DEDUP),
        "f3_politeness_per_host_delay": (_q_politeness_per_host_delay, _SQL_POLITENESS_PER_HOST),
        "gr_host_trustrank": (_q_host_trustrank, _trustrank_sql()),
        "gr_spam_mass": (_q_spam_mass, _spam_mass_sql()),
        "tx_phrase_match": (_q_phrase_match, _SQL_PHRASE_MATCH),
        "url_dust_params": (_q_dust_params, _SQL_DUST_PARAMS),
        "dd_mirror_hosts": (_q_mirror_hosts, _SQL_MIRROR_HOSTS),
        "tx_merge_postings": (_q_merge_postings, _SQL_MERGE_POSTINGS),
        "a9_host_report": (_q_host_report, _host_report_sql()),
        "tx_proximity_match": (_q_proximity_match, _SQL_PROXIMITY_MATCH),
        "gr_opic_update": (_q_opic_update, _SQL_OPIC_UPDATE),
        "gr_harmonic_hyperball": (_q_harmonic_hyperball, _hyperball_sql()),
        "gr_kcore": (_q_kcore, _kcore_sql()),
        "gr_triangles": (_q_triangles, _SQL_TRIANGLES),
        "gr_label_propagation": (_q_label_propagation, _lpa_sql()),
        "tx_mojibake_repair": (_q_mojibake_repair, _mojibake_sql()),
        "tx_bpe_train": (_q_bpe_train, _bpe_train_sql()),
        "tx_article_assembly": (_q_article_assembly, _SQL_ARTICLE_ASSEMBLY),
        "url_hreflang_clusters": (_q_hreflang_clusters, _SQL_HREFLANG_CLUSTERS),
        "tx_passage_windows": (_q_passage_windows, _SQL_PASSAGE_WINDOWS),
        "dd_allpairs_jaccard": (_q_allpairs_jaccard, _SQL_ALLPAIRS_JACCARD),
        "dd_containment_pairs": (_q_containment_pairs, _SQL_CONTAINMENT_PAIRS),
        "dd_winnow_fingerprints": (_q_winnow_fingerprints, _sql_winnow_fingerprints()),
        "dd_winnow_pairs": (_q_winnow_pairs, _sql_winnow_pairs()),
        "dd_winnow_spans": (_q_winnow_spans, _sql_winnow_spans()),
        "x_jsonld_extract": (_q_jsonld_extract, _sql_jsonld_extract()),
        "x_opengraph_tags": (_q_opengraph_tags, _sql_opengraph_tags()),
        "url_dust_rules": (_q_dust_rules, _SQL_DUST_RULES),
        "tx_readability": (_q_readability, _SQL_READABILITY),
        "tx_vocab_growth": (_q_vocab_growth, _SQL_VOCAB_GROWTH),
        "tx_zipf_fit": (_q_zipf_fit, _SQL_ZIPF_FIT),
        "tx_hybrid_rrf": (_q_hybrid_rrf, _sql_hybrid_rrf()),
        "tx_passage_retrieval": (_q_passage_retrieval, _sql_passage_retrieval()),
        "f9_frontier_ucb": (_q_frontier_ucb, _SQL_FRONTIER_UCB),
        "f9_focused_priority": (_q_focused_priority, _SQL_FOCUSED_PRIORITY),
        "tx_sentence_align": (_q_sentence_align, _SQL_SENTENCE_ALIGN),
        "tx_nfc_normalize": (_q_nfc_normalize, _SQL_NFC_NORMALIZE),
        "tx_snippets": (_q_snippets, _SQL_SNIPPETS),
        "robots_wildcards": (_q_robots_wildcards, _SQL_ROBOTS_WILDCARDS),
        "crawl_revalidation_plan": (_q_revalidation_plan, _SQL_REVALIDATION_PLAN),
        "f7_circuit_breaker": (_q_circuit_breaker, _SQL_CIRCUIT_BREAKER),
        "crawl_sitemap_refresh": (_q_sitemap_refresh, _SQL_SITEMAP_REFRESH),
        "f2_frontier_select": (_q_frontier_select, _SQL_FRONTIER_SELECT),
        "url_idn_hosts": (_q_idn_hosts, _SQL_IDN_HOSTS),
        "cc_warc_revisit": (_q_warc_revisit, _SQL_WARC_REVISIT),
        "crawl_incremental_fetch": (_q_incremental_fetch, _SQL_INCREMENTAL_FETCH),
        "crawl_refresh_pipeline": (_q_refresh_pipeline, _SQL_REFRESH_PIPELINE),
        "f3_aimd_delay": (_q_aimd_delay, _SQL_AIMD_DELAY),
        "robots_cache_policy": (_q_robots_cache, _SQL_ROBOTS_CACHE),
        "tx_quality_model": (_q_quality_model, _sql_quality_model()),
        "tx_ngram_repetition": (_q_ngram_repetition, _SQL_NGRAM_REPETITION),
        "tx_dup_lines": (_q_dup_lines, _SQL_DUP_LINES),
        "tx_pack_sequences": (_q_pack_sequences, _SQL_PACK_SEQUENCES),
        "tx_corpus_datasheet": (_q_corpus_datasheet, _SQL_CORPUS_DATASHEET),
        "tx_dsir_weights": (_q_dsir_weights, _SQL_DSIR_WEIGHTS),
        "tx_dsir_resample": (_q_dsir_resample, _SQL_DSIR_RESAMPLE),
        "tx_hash_embed": (_q_hash_embed, _sql_hash_embed()),
        "dd_hash_embed_knn": (_q_hash_embed_knn, _sql_hash_embed_knn()),
        "a13_heavy_hitters_mg": (_q_heavy_hitters_mg, _SQL_HEAVY_HITTERS_MG),
        "tx_zorder_key": (_q_zorder_key, _sql_zorder_key()),
        "dd_text_semdedup_md5": (_q_text_semdedup_md5, _sql_text_semdedup_md5()),
        "tx_logreg_train": (_q_logreg_train, _sql_logreg_train()),
        "st_heavy_hitters": (_q_stateful_heavy_hitters, _SQL_STATEFUL_HEAVY_HITTERS),
        "a14_cms_frequencies": (_q_cms_frequencies, _SQL_CMS_FREQUENCIES),
        "crawl_poisson_rate": (_q_poisson_rate, _SQL_POISSON_RATE),
        "st_stateful_seen_ttl": (_q_stateful_seen_ttl, _SQL_STATEFUL_SEEN),
        "a15_hll_distinct": (_q_hll_distinct, _sql_hll_distinct()),
        "dd_incremental_dedup": (_q_incremental_dedup, _sql_incremental_dedup()),
        "crawl_refresh_allocation": (_q_refresh_allocation, _sql_refresh_allocation()),
        "a16_dds_quantiles": (_q_dds_quantiles, _sql_dds_quantiles()),
        "a17_kmv_epoch_overlap": (_q_kmv_epoch_overlap, _sql_kmv_epoch_overlap()),
        "tpch_q1_pricing_summary": (_q_tpch_q1, _SQL_TPCH_Q1),
        "t1_topk_orders": (_q_topk_orders, _SQL_TOPK_ORDERS),
        "j1_broadcast_join": (_q_broadcast_join, _SQL_BROADCAST_JOIN),
        "j3_anti_join": (_q_anti_join, _SQL_ANTI_JOIN),
        "f8_keep_latest_dedup": (_q_keep_latest, _SQL_KEEP_LATEST),
        "t3_window_rank": (_q_window_rank, _SQL_WINDOW_RANK),
        "a1_market_summary": (_q_market_summary, _SQL_MARKET_SUMMARY),
        "a2_category_stats": (_q_category_stats, _SQL_CATEGORY_STATS),
        "a3_category_histogram": (_q_category_histogram, _SQL_CATEGORY_HISTOGRAM),
        "a4_minmax_avg": (_q_minmax_avg, _SQL_MINMAX_AVG),
        "p1_junk_filter": (_q_junk_filter, _SQL_JUNK_FILTER),
        "p4_range_filter": (_q_range_filter, _SQL_RANGE_FILTER),
        "p8_last_non_null": (_q_last_non_null, _SQL_LAST_NON_NULL),
        "u2_union_distinct_sources": (_q_union_distinct_sources, _SQL_UNION_DISTINCT_SOURCES),
        "f8_merge_duplicates": (_q_merge_duplicates, _SQL_MERGE_DUPLICATES),
        "url_canonicalize": (_q_canonicalize, _SQL_CANONICALIZE),
        "f2_crawl_order": (_q_crawl_order, _SQL_CRAWL_ORDER),
        "f3_politeness_schedule": (_q_politeness_schedule, _SQL_POLITENESS),
        "f3_politeness_lanes": (_q_politeness_lanes, _SQL_POLITENESS_LANES),
        "f8_anti_join_seen": (_q_anti_join_seen, _SQL_ANTI_JOIN_SEEN),
        "f6_retry_backoff": (_q_retry_backoff, _SQL_RETRY_BACKOFF),
        "a7_success_rate": (_q_success_rate, _SQL_SUCCESS_RATE),
        "robots_filter": (_q_robots_filter, _SQL_ROBOTS_FILTER),
        "url_domain_blocklist": (_q_domain_blocklist, _SQL_DOMAIN_BLOCKLIST),
        "x1_clean_price": (_q_clean_price, _SQL_CLEAN_PRICE),
        "x2_clean_percentage": (_q_clean_percentage, _SQL_CLEAN_PERCENTAGE),
        "x3_extract_symbol": (_q_extract_symbol, _SQL_EXTRACT_SYMBOL),
        "x5_categorize": (_q_categorize, _SQL_CATEGORIZE),
        "x6_hq_parse": (_q_hq_parse, _SQL_HQ_PARSE),
        "x8_percent_extract": (_q_percent_extract, _SQL_PERCENT_EXTRACT),
        "x13_forex_derived": (_q_forex_derived, _SQL_FOREX_DERIVED),
        "x4_standardize_name": (_q_standardize_name, _SQL_STANDARDIZE_NAME),
        "x12_derive_change": (_q_derive_change, _SQL_DERIVE_CHANGE),
        "x15_x16_format_checks": (_q_format_checks, _SQL_FORMAT_CHECKS),
        "x9_transform_dsl": (_q_transform_dsl, _SQL_TRANSFORM_DSL),
        "x9_css_selector": (_q_css_selector, _SQL_CSS_SELECTOR),
        "x10_regex_parser": (_q_regex_parser, _SQL_REGEX_PARSER),
        "s8_json_field_mapping": (_q_json_field_mapping, _SQL_JSON_FIELD_MAPPING),
        "u1_union_all": (_q_union_all, _SQL_UNION_ALL),
        "a5_spread_avg": (_q_spread_avg, _SQL_SPREAD_AVG),
        "f1_seed_expansion": (_q_seed_expansion, _SQL_SEED_EXPANSION),
        "v_validation_split": (_q_validation_split, _SQL_VALIDATION_SPLIT),
        "a6_validation_summary": (_q_validation_summary, _SQL_VALIDATION_SUMMARY),
        "dd_doc_fingerprint": (_q_doc_fingerprint, _SQL_DOC_FINGERPRINT),
        "dd_exact_dedup": (_q_exact_dedup, _SQL_EXACT_DEDUP),
        "tx_token_count": (_q_token_count, _SQL_TOKEN_COUNT),
        "tx_langid": (_q_langid, _langid_sql()),
        "tx_quality_score": (_q_quality_score, _SQL_QUALITY_SCORE),
        "tx_lang_quality_summary": (_q_lang_quality_summary, _SQL_LANG_QUALITY_SUMMARY),
        "dd_ngram_jaccard_pairs": (_q_ngram_jaccard, _SQL_NGRAM_JACCARD),
        "dd_minhash_lsh_pairs": (_q_minhash_lsh, _minhash_sql()),
        "dd_lsh_dedup_eval": (_q_lsh_eval, _lsh_eval_sql()),
        "dd_cdc_chunks": (_q_cdc_chunks, _cdc_sql()),
        "dd_cdc_dedup_stats": (_q_cdc_dedup_stats, _cdc_stats_sql()),
        # indirect oracles: an HLL error-bound twin (a11), full-probe IVF
        # equals brute-force cosine top-k, a PQ property summary, and golden
        # fixtures over deterministic inputs (budget epochs, zlib ratios)
        "tx_compression_ratio": (_q_compression_ratio, _SQL_COMPRESSION_RATIO),
        "a11_host_distinct_hll": (_q_host_distinct_hll, _SQL_HOST_DISTINCT_HLL),
        "ann_ivf_trained_topk": (_q_ann_ivf_trained, _SQL_ANN_COSINE),
        "ann_pq_trained_topk": (_q_ann_pq_trained, _SQL_ANN_PQ_TRAINED),
        "crawl_budget_epochs": (_q_crawl_budget_epochs, _SQL_CRAWL_BUDGET_EPOCHS),
        # rows-only: no SQL-expressible oracle (auto-sized cross-set LSH
        # neighbor sets, xxhash64 minhash and simhash, BPE merges, the
        # mapInPandas HTML extraction, the epoch loop)
        "ann_bitext_margin_fast": (_q_bitext_margin_fast, None),
        "ann_knn_join_lsh_fast": (_q_knn_join_lsh_fast, None),
        "dd_minhash_lsh_pairs_fast": (_q_minhash_lsh_fast, None),
        "dd_dedup_clusters_fast": (_q_dedup_clusters_fast, None),
        "dd_incremental_dedup_fast": (_q_incremental_dedup_fast, None),
        "tx_corpus_mix_bpe": (_q_corpus_mix_bpe, None),
        "dd_simhash_pairs": (_q_simhash_pairs, None),
        "crawl_extract_pipeline": (_q_extract_pipeline, None),
        "crawl_epochs_e2e": (_q_crawl_epochs, None),
    }
)

# The remaining TPC-H patterns (Q2/4/7/8/9/10/11/13/15/16/17/19/20/21/22)
# live in plans/tpch.py.
from web_crawler_spark.plans import tpch as _tpch  # noqa: E402

_register(_tpch.REGISTRY)


# --- strongly connected components + bow-tie decomposition ------------------

# Deterministic digraph with real SCC structure, shared edge-for-edge with the
# DuckDB oracle: a 7-node cycle c0..c6 (the CORE SCC), an 11-host IN fringe
# h0..h10 plus an i0->i1->i2->c0 chain, a 13-node OUT fringe o0..o12 plus a
# 2-node SCC {p0,p1} hanging off c2, a TUBE h3->t0->t1->o5 bypassing the core,
# tendrils (u0,u1 from IN; u2 into OUT), and a disconnected SCC {d0,d1} with a
# dangling d2.
_SCC_LIT_EDGES = [
    ("i0", "i1"), ("i1", "i2"), ("i2", "c0"),
    ("c2", "p0"), ("p0", "p1"), ("p1", "p0"),
    ("h3", "t0"), ("t0", "t1"), ("t1", "o5"),
    ("h4", "u0"), ("u0", "u1"), ("u2", "o7"),
    ("d0", "d1"), ("d1", "d0"), ("d1", "d2"),
]


def _scc_test_edges(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")

    def n(p, c):
        return F.concat(F.lit(p), c.cast("string"))

    m7 = F.col("event_id") % 7
    m11 = F.col("event_id") % 11
    m13 = F.col("event_id") % 13
    return (
        ev.select(n("c", m7).alias("src"), n("c", (m7 + 1) % 7).alias("dst"))
        .unionByName(ev.select(n("h", m11).alias("src"), n("c", m11 % 7).alias("dst")))
        .unionByName(ev.select(n("c", m13 % 7).alias("src"), n("o", m13).alias("dst")))
        .unionByName(
            spark.createDataFrame(_SCC_LIT_EDGES, "src string, dst string")
        )
    )


def _q_gr_scc(spark, sf_dir):
    """Strongly connected components of a deterministic host graph via the
    distributed coloring algorithm (operators/graph.scc: trim -> min-ancestor
    coloring -> backward sweep; Orzan 2004 / Slota et al. IPDPS 2014). The
    graph exercises every phase: DAG fringes for the trim, a 7-cycle core, a
    second SCC reachable FROM the core (needs outer round 2 after the core
    color swallows it), and a disconnected 2-cycle extracted in parallel by
    the same color sweep. Oracle: DuckDB recursive transitive closure —
    scc_id(v) = lexicographic min over {u : v<->u mutual} U {v}. Exact
    strings/ints, no float concerns."""
    from web_crawler_spark.operators import graph as G

    edges = _scc_test_edges(spark, sf_dir)
    return G.scc(edges, src_col="src", dst_col="dst").orderBy("node")


_SQL_SCC_PREFIX = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT concat('c', CAST(event_id % 7 AS VARCHAR)) AS src,
           concat('c', CAST((event_id % 7 + 1) % 7 AS VARCHAR)) AS dst FROM events
    UNION ALL
    SELECT concat('h', CAST(event_id % 11 AS VARCHAR)),
           concat('c', CAST((event_id % 11) % 7 AS VARCHAR)) FROM events
    UNION ALL
    SELECT concat('c', CAST((event_id % 13) % 7 AS VARCHAR)),
           concat('o', CAST(event_id % 13 AS VARCHAR)) FROM events
    UNION ALL SELECT * FROM (VALUES
      ('i0','i1'),('i1','i2'),('i2','c0'),
      ('c2','p0'),('p0','p1'),('p1','p0'),
      ('h3','t0'),('t0','t1'),('t1','o5'),
      ('h4','u0'),('u0','u1'),('u2','o7'),
      ('d0','d1'),('d1','d0'),('d1','d2')) v(src, dst)
  ) WHERE src <> dst
),
nodes AS (
  -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB 1.0 gives a plain
  -- top-level UNION in a non-recursive CTE append (UNION ALL) semantics
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  )
),
tc AS (
  SELECT src, dst FROM edges
  UNION
  SELECT tc.src, e.dst FROM tc JOIN edges e ON e.src = tc.dst
),
scc AS (
  SELECT n.node, LEAST(n.node, COALESCE(m.mn, n.node)) AS scc_id
  FROM nodes n LEFT JOIN (
    SELECT a.src AS node, MIN(a.dst) AS mn
    FROM tc a JOIN tc b ON a.src = b.dst AND a.dst = b.src
    GROUP BY a.src
  ) m ON m.node = n.node
)"""

_SQL_GR_SCC = _SQL_SCC_PREFIX + """
SELECT node, scc_id,
       CAST(COUNT(*) OVER (PARTITION BY scc_id) AS BIGINT) AS scc_size
FROM scc ORDER BY node"""


def _q_gr_bowtie(spark, sf_dir):
    """Broder et al. (WWW 2000) bow-tie decomposition over the same graph
    (operators/graph.bowtie): CORE = largest SCC (size desc, scc_id asc
    tie-break), IN/OUT by reachability to/from the core, then TUBE (IN-to-OUT
    bypass), TENDRIL (one side only), DISC. Oracle recomputes every part from
    the recursive closure. The fixture pins one node per part class,
    including the {p0,p1} SCC inside OUT and the core-bypassing tube."""
    from web_crawler_spark.operators import graph as G

    edges = _scc_test_edges(spark, sf_dir)
    return G.bowtie(edges, src_col="src", dst_col="dst").orderBy("node")


_SQL_GR_BOWTIE = _SQL_SCC_PREFIX + """,
core AS (
  SELECT scc_id FROM scc GROUP BY scc_id
  ORDER BY COUNT(*) DESC, scc_id ASC LIMIT 1
),
core_nodes AS (SELECT node FROM scc WHERE scc_id = (SELECT scc_id FROM core)),
fwd AS (
  SELECT DISTINCT dst AS node FROM tc
  WHERE src IN (SELECT node FROM core_nodes)
    AND dst NOT IN (SELECT node FROM core_nodes)
),
bwd AS (
  SELECT DISTINCT src AS node FROM tc
  WHERE dst IN (SELECT node FROM core_nodes)
    AND src NOT IN (SELECT node FROM core_nodes)
),
from_in AS (SELECT DISTINCT dst AS node FROM tc WHERE src IN (SELECT node FROM bwd)),
to_out AS (SELECT DISTINCT src AS node FROM tc WHERE dst IN (SELECT node FROM fwd))
SELECT n.node,
  CASE WHEN n.node IN (SELECT node FROM core_nodes) THEN 'CORE'
       WHEN n.node IN (SELECT node FROM bwd) THEN 'IN'
       WHEN n.node IN (SELECT node FROM fwd) THEN 'OUT'
       WHEN n.node IN (SELECT node FROM from_in)
            AND n.node IN (SELECT node FROM to_out) THEN 'TUBE'
       WHEN n.node IN (SELECT node FROM from_in)
            OR n.node IN (SELECT node FROM to_out) THEN 'TENDRIL'
       ELSE 'DISC' END AS part
FROM nodes n ORDER BY n.node"""


def _q_wet_export(spark, sf_dir):
    """WET conversion-record export (plans/report.wet_records) — the
    extracted-text leg of the Common Crawl WARC/WAT/WET triple, completing
    oracle certification of all three (WARC: s_warc_scan / cc_warc_revisit,
    WAT: cc_wat_export). Pages synthesized from events with multibyte text
    so the Content-Length octet contract (bytes, not chars) is itself
    value-certified; every-7th page has NULL text and must be absent."""
    from web_crawler_spark.plans import report as R

    e = _t(spark, sf_dir, "events")
    ts = F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_interval(
        secs=F.col("event_id").cast("double")
    )
    base = e.select(
        F.concat(
            F.lit("https://host"), (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/p/"), F.col("event_id").cast("string"),
        ).alias("canonical_url"),
        ts.alias("fetch_ts"),
        F.when(
            F.col("event_id") % 7 != 0,
            F.concat(
                F.lit("doc "), F.col("event_id").cast("string"),
                F.lit(" — naïve café №"), (F.col("user_id") % 5).cast("string"),
            ),
        ).alias("text"),
    )
    return R.wet_records(base).orderBy("url")


_SQL_WET_EXPORT = """
WITH base AS (
  SELECT concat('https://host', CAST(user_id % 20 AS VARCHAR),
                '.example.com/p/', CAST(event_id AS VARCHAR)) AS url,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         concat('doc ', CAST(event_id AS VARCHAR),
                ' — naïve café №', CAST(user_id % 5 AS VARCHAR)) AS body
  FROM events WHERE event_id % 7 <> 0
), ids AS (
  SELECT url, body,
         strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS wdate,
         md5(concat('wet|', url, '|', CAST(ts AS VARCHAR))) AS h
  FROM base
)
SELECT url,
       concat('WARC/1.0', chr(13), chr(10),
              'WARC-Type: conversion', chr(13), chr(10),
              'WARC-Target-URI: ', url, chr(13), chr(10),
              'WARC-Date: ', wdate, chr(13), chr(10),
              'WARC-Record-ID: <urn:uuid:', substr(h,1,8), '-', substr(h,9,4),
              '-', substr(h,13,4), '-', substr(h,17,4), '-', substr(h,21,12),
              '>', chr(13), chr(10),
              'Content-Type: text/plain', chr(13), chr(10),
              'Content-Length: ', CAST(strlen(body) AS VARCHAR),
              chr(13), chr(10), chr(13), chr(10),
              body, chr(13), chr(10), chr(13), chr(10)) AS record
FROM ids ORDER BY url"""


def _q_cloaking_flags(spark, sf_dir):
    """Cloaking detection (operators/urlfilter.cloaking_flags; Wu &
    Davison WWW 2005): URLs serving bot and browser audiences DISJOINT
    content fingerprints, with the multi-copy dynamism guard. Fixture
    classes by event_id%50: cloaked (stable-but-different per side),
    clean shared, partial-overlap (one shared fp must clear the flag),
    fully-dynamic (unique fp per fetch — must NOT flag), and bot-only
    (no browser copies — must NOT flag). Exact integers throughout:
    shared fingerprints via inclusion-exclusion d_bot+d_browser-d_all."""
    from web_crawler_spark.operators.urlfilter import cloaking_flags

    ev = _t(spark, sf_dir, "events")
    c = F.col("event_id") % 50
    u = F.col("user_id")
    agent = F.when(c >= 45, F.lit("bot")).otherwise(
        F.when(u % 2 == 0, F.lit("bot")).otherwise(F.lit("browser"))
    )
    base = ev.select(
        F.concat(F.lit("https://ex.com/p"), c.cast("string")).alias("url"),
        agent.alias("agent_class"),
        c.alias("c"),
        u.alias("u"),
        F.col("event_id").alias("eid"),
    )
    cs = F.col("c").cast("string")
    fp = (
        F.when(
            F.col("c") < 10,
            F.when(
                F.col("agent_class") == "bot", F.concat(F.lit("bot-v"), cs)
            ).otherwise(F.concat(F.lit("brw-v"), cs)),
        )
        .when(F.col("c") < 30, F.concat(F.lit("common"), cs))
        .when(
            F.col("c") < 40,
            F.when(
                (F.col("agent_class") == "bot") & (F.col("u") % 3 == 0),
                F.concat(F.lit("v1-"), cs),
            ).otherwise(F.concat(F.lit("v2-"), cs)),
        )
        .when(F.col("c") < 45, F.md5(F.col("eid").cast("string")))
        .otherwise(F.concat(F.lit("b"), cs))
    )
    fetches = base.select("url", "agent_class", fp.alias("content_fp"))
    return cloaking_flags(fetches).orderBy("url")


_SQL_CLOAKING = """
WITH f AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 50 AS VARCHAR)) AS url,
         CASE WHEN event_id % 50 >= 45 THEN 'bot'
              WHEN user_id % 2 = 0 THEN 'bot' ELSE 'browser' END AS agent,
         event_id % 50 AS c, user_id, event_id
  FROM events
), g AS (
  SELECT url,
         CASE WHEN agent = 'bot' THEN 1 ELSE 0 END AS is_bot,
         CASE WHEN c < 10 THEN
                CASE WHEN agent = 'bot' THEN concat('bot-v', CAST(c AS VARCHAR))
                     ELSE concat('brw-v', CAST(c AS VARCHAR)) END
              WHEN c < 30 THEN concat('common', CAST(c AS VARCHAR))
              WHEN c < 40 THEN
                CASE WHEN agent = 'bot' AND user_id % 3 = 0
                     THEN concat('v1-', CAST(c AS VARCHAR))
                     ELSE concat('v2-', CAST(c AS VARCHAR)) END
              WHEN c < 45 THEN md5(CAST(event_id AS VARCHAR))
              ELSE concat('b', CAST(c AS VARCHAR)) END AS fp
  FROM f
), per AS (
  SELECT url, COUNT(*) AS n_fetches, SUM(is_bot) AS n_bot,
         COUNT(DISTINCT fp) AS d_all
  FROM g GROUP BY url
), sides AS (
  SELECT url,
         SUM(CASE WHEN is_bot = 1 THEN 1 ELSE 0 END) AS d_bot,
         SUM(CASE WHEN is_bot = 0 THEN 1 ELSE 0 END) AS d_browser
  FROM (SELECT DISTINCT url, is_bot, fp FROM g) GROUP BY url
)
SELECT p.url,
       CAST(p.n_fetches AS BIGINT) AS n_fetches,
       CAST(p.n_bot AS BIGINT) AS n_bot,
       CAST(p.n_fetches - p.n_bot AS BIGINT) AS n_browser,
       CAST(s.d_bot AS BIGINT) AS d_bot,
       CAST(s.d_browser AS BIGINT) AS d_browser,
       CAST(s.d_bot + s.d_browser - p.d_all AS BIGINT) AS shared_fps,
       p.d_all = p.n_fetches AS dynamic,
       p.n_bot > 0 AND p.n_fetches - p.n_bot > 0
         AND s.d_bot + s.d_browser - p.d_all = 0
         AND NOT (p.d_all = p.n_fetches) AS cloaked
FROM per p JOIN sides s ON s.url = p.url
ORDER BY p.url"""


# three DOM template families with structural jitter every 7th doc — the
# cross-host CMS/template-family fixture for x_dom_template_families
_DOM_FAMS = [
    (
        "<html><head><title>T</title></head><body><div><h1>H</h1><p>a</p><p>b</p>",
        "<p>e</p>",
        "</div><footer><a>l</a></footer></body></html>",
    ),
    (
        "<html><body><table><tr><td>1</td><td>2</td></tr>",
        "<tr><td>5</td></tr>",
        "<tr><td>3</td><td>4</td></tr></table></body></html>",
    ),
    (
        "<html><body><ul><li>i</li><li>j</li>",
        "<li>k</li>",
        "</ul><span>s</span></body></html>",
    ),
]

_DOM_TAG_RE = "<([a-zA-Z][a-zA-Z0-9]*)"


def _q_dom_template_families(spark, sf_dir):
    """Cross-host DOM template-family detection: pages are grouped by the
    STRUCTURE of their markup, not its text — tag-sequence extraction →
    structural 3-gram shingles → the certified portable MinHash-LSH pair
    machinery (operators/dedup.minhash_lsh_pairs; shingling boilerplate
    structure rather than words is the Gibson-Punera-Tomkins template
    premise applied cross-host, where line-frequency can't see). Fixture:
    three template families synthesized over documents (doc_id<120), every
    7th page carrying a structural jitter tag — within-family pairs must
    survive the 0.5 tag-Jaccard threshold, cross-family must not. Oracle:
    the SAME parametrized _minhash_sql algebra over the same tag text."""
    from web_crawler_spark.operators import dedup as D2

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    fam = F.col("doc_id") % 3
    jit = F.col("doc_id") % 7 == 0
    html = (
        F.when(fam == 0, F.concat(F.lit(_DOM_FAMS[0][0]),
                                  F.when(jit, F.lit(_DOM_FAMS[0][1])).otherwise(F.lit("")),
                                  F.lit(_DOM_FAMS[0][2])))
        .when(fam == 1, F.concat(F.lit(_DOM_FAMS[1][0]),
                                 F.when(jit, F.lit(_DOM_FAMS[1][1])).otherwise(F.lit("")),
                                 F.lit(_DOM_FAMS[1][2])))
        .otherwise(F.concat(F.lit(_DOM_FAMS[2][0]),
                            F.when(jit, F.lit(_DOM_FAMS[2][1])).otherwise(F.lit("")),
                            F.lit(_DOM_FAMS[2][2])))
    )
    tag_text = F.array_join(
        F.regexp_extract_all(html, F.lit(_DOM_TAG_RE), 1), " "
    )
    base = d.select("doc_id", tag_text.alias("text"))
    return D2.minhash_lsh_pairs(
        base, "text", "doc_id", n=3, k=8, bands=4, threshold=0.5,
        portable_hash=True,
    ).orderBy("id_a", "id_b")


def _dom_template_sql() -> str:
    cases = []
    for i, (head, jitter, tail) in enumerate(_DOM_FAMS):
        body = (
            f"concat('{head}', CASE WHEN doc_id % 7 = 0 THEN '{jitter}' "
            f"ELSE '' END, '{tail}')"
        )
        cases.append(f"WHEN doc_id % 3 = {i} THEN {body}")
    src = f"""
SELECT doc_id,
       array_to_string(
         regexp_extract_all(CASE {' '.join(cases)} END, '{_DOM_TAG_RE}', 1),
         ' ') AS text
FROM documents WHERE doc_id < 120"""
    return _minhash_sql(src=src, k=8, bands=4, n=3, thr=0.5)


_SCRIPT_SPICE = [
    (0, " привет мир"),            # cyrillic block
    (1, " αβγ δεζ ηθι"),           # greek
    (2, " مرحبا بالعالم"),          # arabic
    (3, " paypаl sеcure lоgin"),   # homoglyph spoof: Cyrillic а/е/о in Latin words
]


def _q_script_mix(spark, sf_dir):
    """Mixed-script profiling over documents (functions/text.script_profile):
    per-script character counts, dominant script (argmax, alphabetical
    tie-break), mixed flag (>=2 scripts each holding >10% of script chars,
    exact integer compare), and the homoglyph-spoof flag (Latin-dominant
    text containing ANY Cyrillic — the TR#39 confusable signal; the
    fixture's doc_id%11==3 rows plant 'paypаl sеcure lоgin' with Cyrillic
    а/е/о). Zero shuffles: five regexp_replace+length projections and
    integer algebra. Oracle is GENERATED from the same SCRIPT_BLOCKS
    table, so extending the block list updates both engines."""
    from web_crawler_spark.functions.text import SCRIPT_BLOCKS, script_profile

    docs = _t(spark, sf_dir, "documents")
    spice = F.lit("")
    for k, s in _SCRIPT_SPICE:
        spice = F.when(F.col("doc_id") % 11 == k, F.lit(s)).otherwise(spice)
    t = F.concat(F.coalesce(F.col("text"), F.lit("")), spice)
    prof = script_profile(t)
    counts = dict(prof)
    total = None
    for _, c in prof:
        total = c if total is None else total + c
    best = F.greatest(*counts.values())
    dom = F.when(total == 0, F.lit("none"))
    for name, _ in SCRIPT_BLOCKS:
        dom = dom.when(counts[name] == best, F.lit(name))
    over10 = None
    for _, c in prof:
        o = F.when(10 * c > total, F.lit(1)).otherwise(F.lit(0))
        over10 = o if over10 is None else over10 + o
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in prof],
        total.cast("long").alias("n_script_chars"),
        dom.otherwise(F.lit("none")).alias("dominant"),
        (over10 >= 2).alias("mixed"),
        ((dom.otherwise(F.lit("none")) == "latin") & (counts["cyrillic"] > 0)).alias(
            "homoglyph_flag"
        ),
    ).orderBy("doc_id")


def _script_mix_sql() -> str:
    from web_crawler_spark.functions.text import SCRIPT_BLOCKS

    spice = " ".join(
        f"WHEN doc_id % 11 = {k} THEN '{s}'" for k, s in _SCRIPT_SPICE
    )
    cnts = ",\n         ".join(
        f"length(regexp_replace(t, '[^{rng}]', '', 'g')) AS {name}"
        for name, rng in SCRIPT_BLOCKS
    )
    names = [n for n, _ in SCRIPT_BLOCKS]
    total = " + ".join(names)
    dom = " ".join(f"WHEN {n} = best THEN '{n}'" for n in names)
    over10 = " + ".join(
        f"(CASE WHEN 10 * {n} > total THEN 1 ELSE 0 END)" for n in names
    )
    return f"""
WITH spiced AS (
  SELECT doc_id,
         concat(COALESCE(text, ''),
                CASE {spice} ELSE '' END) AS t
  FROM documents
), cnt AS (
  SELECT doc_id,
         {cnts}
  FROM spiced
), tot AS (
  SELECT *, {total} AS total,
         GREATEST({', '.join(names)}) AS best
  FROM cnt
)
SELECT doc_id, {', '.join(names)},
       CAST(total AS BIGINT) AS n_script_chars,
       CASE WHEN total = 0 THEN 'none' {dom} ELSE 'none' END AS dominant,
       ({over10}) >= 2 AS mixed,
       (CASE WHEN total = 0 THEN 'none' {dom} ELSE 'none' END) = 'latin'
         AND cyrillic > 0 AS homoglyph_flag
FROM tot ORDER BY doc_id"""


def _q_lpa_modularity(spark, sf_dir):
    """Per-community Newman-Girvan modularity contributions
    (operators/graph.community_modularity) over the round-4 synchronous
    LPA labels on the certified two-cliques-plus-bridge fixture — the
    community QUALITY metric paired with the detection op. Oracle: the
    same unrolled LPA CTE chain (_lpa_sql tail) + exact integer
    sufficient statistics (2·e_c, d_c over the symmetrized multigraph)
    folded into the identical fixed-order double expression
    intra2/2m - (d/2m)^2 — no cross-row double accumulation anywhere."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    u, ev = F.col("user_id"), F.col("event_id")
    fam = u % 3
    src = (
        F.when(fam == 0, F.concat(F.lit("c"), (ev % 6).cast("string")))
        .when(fam == 1, F.concat(F.lit("d"), (ev % 6).cast("string")))
        .otherwise(F.when(ev % 2 == 0, F.lit("c0")).otherwise(F.lit("x0")))
    )
    dst = (
        F.when(fam == 0, F.concat(
            F.lit("c"), ((ev % 6 + ev % 5 + 1) % 6).cast("string")))
        .when(fam == 1, F.concat(
            F.lit("d"), ((ev % 6 + ev % 5 + 1) % 6).cast("string")))
        .otherwise(F.when(ev % 2 == 0, F.lit("d0")).otherwise(F.lit("x1")))
    )
    edges = e.select(src.alias("src_host"), dst.alias("dst_host"))
    labels = G.label_propagation(edges, rounds=4, weight_col=None)
    return G.community_modularity(edges, labels).orderBy("label")


_SQL_LPA_MODULARITY_TAIL = """,
lab AS (SELECT node, label FROM l{rounds}),
tmv AS (SELECT CAST(SUM(w) AS BIGINT) AS tm FROM sym),
degc AS (SELECT l.label, CAST(SUM(s.w) AS BIGINT) AS deg_w
         FROM sym s JOIN lab l ON l.node = s.u GROUP BY 1),
intrac AS (SELECT lu.label, CAST(SUM(s.w) AS BIGINT) AS intra2_w
           FROM sym s JOIN lab lu ON lu.node = s.u
                      JOIN lab lv ON lv.node = s.v
           WHERE lu.label = lv.label GROUP BY 1),
nn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM lab GROUP BY 1)
SELECT n.label, n.n_nodes,
       CAST(COALESCE(i.intra2_w, 0) AS BIGINT) AS intra2_w,
       d.deg_w,
       CAST(COALESCE(i.intra2_w, 0) AS DOUBLE) / t.tm
         - (CAST(d.deg_w AS DOUBLE) / t.tm) * (CAST(d.deg_w AS DOUBLE) / t.tm)
         AS q_contrib
FROM nn n JOIN degc d ON d.label = n.label
LEFT JOIN intrac i ON i.label = n.label
CROSS JOIN tmv t
ORDER BY n.label"""


def _q_trawl_cores(spark, sf_dir):
    """(i,j) bipartite-core trawling, j=3 (operators/graph.trawl_cores;
    Kumar-Raghavan-Rajagopalan-Tomkins WWW 1999): center triples co-linked
    by >= 3 distinct fans. Fixture plants a (4,3)-core {x0,x1,x2}, three
    exactly-at-threshold (3,3)-cores through x3, a 2-fan structure the
    min_fans gate must reject, one fan-private triple, and a dense
    events-derived noise block (17 fans x 5 centers -> all C(5,3) triples
    at n_fans=17). Pruning is output-inert by the paper's argument (a
    pruned center's triples are all sub-threshold; a fan linking a
    surviving triple keeps degree >= 3 so is never pruned), so the oracle
    is the direct triple count with HAVING - the same algebra DuckDB runs.
    Centers emit as a '|'-joined ascending string (array reprs differ
    between pandas/duckdb under the driver's value hash)."""
    from web_crawler_spark.operators import graph as G

    ev = _t(spark, sf_dir, "events")
    lit = [
        ("f0", "x0"), ("f0", "x1"), ("f0", "x2"), ("f0", "x3"), ("f0", "nc0"),
        ("f1", "x0"), ("f1", "x1"), ("f1", "x2"), ("f1", "x3"),
        ("f2", "x0"), ("f2", "x1"), ("f2", "x2"), ("f2", "x3"),
        ("f3", "x0"), ("f3", "x1"), ("f3", "x2"),
        ("w0", "y0"), ("w0", "y1"), ("w0", "y2"),
        ("w1", "y0"), ("w1", "y1"), ("w1", "y2"),
    ]
    edges = ev.select(
        F.concat(F.lit("nf"), (F.col("event_id") % 17).cast("string")).alias("src"),
        F.concat(F.lit("nc"), (F.col("event_id") % 5).cast("string")).alias("dst"),
    ).unionByName(spark.createDataFrame(lit, "src string, dst string"))
    cores = G.trawl_cores(
        edges, j=3, min_fans=3, max_degree=32, src_col="src", dst_col="dst"
    )
    return cores.select(
        F.concat_ws("|", "centers").alias("centers"), "n_fans"
    ).orderBy("centers")


_SQL_TRAWL_CORES = """
WITH e AS (
  SELECT DISTINCT fan, ctr FROM (
    SELECT concat('nf', CAST(event_id % 17 AS VARCHAR)) AS fan,
           concat('nc', CAST(event_id % 5 AS VARCHAR)) AS ctr FROM events
    UNION ALL SELECT * FROM (VALUES
      ('f0','x0'),('f0','x1'),('f0','x2'),('f0','x3'),('f0','nc0'),
      ('f1','x0'),('f1','x1'),('f1','x2'),('f1','x3'),
      ('f2','x0'),('f2','x1'),('f2','x2'),('f2','x3'),
      ('f3','x0'),('f3','x1'),('f3','x2'),
      ('w0','y0'),('w0','y1'),('w0','y2'),
      ('w1','y0'),('w1','y1'),('w1','y2')) v(fan, ctr)
  )
)
SELECT concat(a.ctr, '|', b.ctr, '|', c.ctr) AS centers,
       CAST(COUNT(*) AS BIGINT) AS n_fans
FROM e a
JOIN e b ON a.fan = b.fan AND a.ctr < b.ctr
JOIN e c ON a.fan = c.fan AND b.ctr < c.ctr
GROUP BY 1 HAVING COUNT(*) >= 3
ORDER BY centers"""


def _q_degree_powerlaw(spark, sf_dir):
    """In-degree power-law exponent (operators/graph.degree_powerlaw;
    Clauset-Shalizi-Newman 2009 discrete MLE, the Broder WWW 2000
    measurement). Fixture: a heavy-tailed synthetic in-degree field —
    u = (event_id·31153) mod 65536 is a bijection on event_id mod 2^16,
    dst = floor(65536/(u+1)) gives P(dst=k) = 1/(k(k+1)), the classic
    reciprocal-rank tail; src fans out over 997 hosts. Everything up to
    the single ln-fold is exact integer algebra (distinct pairs, degree
    agg, histogram), and the fold is ordered by ascending degree value —
    the oracle replays it with list_reduce ORDER BY d."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    u = (F.col("event_id") * F.lit(31153)) % F.lit(65536)
    edges = e.select(
        F.concat(
            F.lit("s"), (F.col("event_id") % 997).cast("string"),
            F.lit(".com"),
        ).alias("src_host"),
        F.concat(
            F.lit("d"),
            F.floor(F.lit(65536.0) / (u + F.lit(1))).cast("string"),
            F.lit(".com"),
        ).alias("dst_host"),
    )
    return G.degree_powerlaw(edges, dmin=2, direction="in")


_SQL_DEGREE_POWERLAW = """
WITH e AS (
  SELECT DISTINCT
    concat('s', CAST(event_id % 997 AS VARCHAR), '.com') AS src,
    concat('d', CAST(CAST(floor(65536.0 /
        ((event_id * 31153) % 65536 + 1)) AS BIGINT) AS VARCHAR),
        '.com') AS dst
  FROM events
),
deg AS (SELECT dst AS node, COUNT(*) AS d FROM e
        WHERE src <> dst GROUP BY dst),
hist AS (SELECT d, COUNT(*) AS c FROM deg GROUP BY d),
s AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN d >= 2 THEN c END), 0) AS BIGINT)
           AS n_tail,
         CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_nodes,
         CAST(COALESCE(MAX(d), 0) AS BIGINT) AS max_degree,
         list_reduce(
           list(CAST(c AS DOUBLE) * ln(CAST(d AS DOUBLE) / 1.5)
                ORDER BY d) FILTER (WHERE d >= 2),
           (a, b) -> a + b) AS lnsum
  FROM hist
)
SELECT CAST(2 AS BIGINT) AS dmin, n_tail, n_nodes, max_degree,
       CASE WHEN n_tail > 0
            THEN ROUND(1.0 + CAST(n_tail AS DOUBLE) / lnsum, 6) END AS alpha
FROM s
"""


def _q_cluster_sample(spark, sf_dir):
    """Cluster-balanced corpus subsample (operators/similarity.
    cluster_quota_sample; SemDeDup/DataComp curation stage): md5-picked
    centroids, zero-join argmin assignment, near-equal
    per-cluster quotas (100 over 8 clusters -> 13/13/13/13/12/12/12/12),
    deterministic lowest-md5-draw selection within each cluster. The
    oracle replays centroid pick order, round-6 assignment distances,
    quota arithmetic, and the md5 draw exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cluster_quota_sample(emb, n_keep=100, n_clusters=8).orderBy(
        "cid", "rk"
    )


def _sql_cluster_sample(n_keep: int = 100, k: int = 8, seed: int = 77,
                        salt: str = "cqs") -> str:
    base, rem = divmod(n_keep, k)
    l2_assign = (
        "round(sqrt(list_sum(list_transform(range(1, len(c.cvec) + 1), "
        "i -> power(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i], 2)))), 6)"
    )
    return f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY ord, vec_id) - 1 AS cid, cvec
  FROM (SELECT md5(concat('cqs{seed}:', CAST(vec_id AS VARCHAR))) AS ord,
               vec_id, embedding::DOUBLE[] AS cvec
        FROM embeddings ORDER BY 1, 2 LIMIT {k})
),
dists AS (
  SELECT e.vec_id, c.cid, {l2_assign} AS d
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dists) WHERE rn = 1
),
sel AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY cid
             ORDER BY md5(concat('{salt}:', CAST(vec_id AS VARCHAR))),
                      vec_id) AS rk
  FROM assigned
)
SELECT vec_id, cid, rk FROM sel
WHERE rk <= {base} + (CASE WHEN cid < {rem} THEN 1 ELSE 0 END)
ORDER BY cid, rk
"""


def _q_postings_vbyte(spark, sf_dir):
    """Per-term index-size planning under delta-gap + vbyte encoding
    (operators/corpus.postings_vbyte_size; Witten-Moffat-Bell d-gaps,
    Scholer et al. SIGIR'02) — exact integer algebra end to end (gap
    thresholds as 2^(7k) comparisons), restricted to the index-dominating
    terms df >= 5. High-df terms compress densest (small gaps), the
    textbook prediction the fixture exhibits."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.postings_vbyte_size(d, min_df=5).orderBy("term")


_SQL_POSTINGS_VBYTE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
post AS (SELECT term, doc_id FROM toks GROUP BY term, doc_id),
gaps AS (
  SELECT term,
         doc_id - lag(doc_id, 1, -1)
             OVER (PARTITION BY term ORDER BY doc_id) AS gap
  FROM post
),
per AS (
  SELECT term, COUNT(*) AS df_docs,
         SUM(1 + (CASE WHEN gap >= 128 THEN 1 ELSE 0 END)
               + (CASE WHEN gap >= 16384 THEN 1 ELSE 0 END)
               + (CASE WHEN gap >= 2097152 THEN 1 ELSE 0 END)
               + (CASE WHEN gap >= 268435456 THEN 1 ELSE 0 END)
               + (CASE WHEN gap >= 34359738368 THEN 1 ELSE 0 END)
               + (CASE WHEN gap >= 4398046511104 THEN 1 ELSE 0 END)
               + (CASE WHEN gap >= 562949953421312 THEN 1 ELSE 0 END)
               + (CASE WHEN gap >= 72057594037927936 THEN 1 ELSE 0 END)
         ) AS vbyte_bytes
  FROM gaps GROUP BY term
)
SELECT term,
       CAST(df_docs AS BIGINT) AS df_docs,
       CAST(8 * df_docs AS BIGINT) AS raw_bytes,
       CAST(vbyte_bytes AS BIGINT) AS vbyte_bytes,
       CAST(floor(1000.0 * vbyte_bytes / (8 * df_docs)) AS BIGINT)
         AS ratio_milli
FROM per WHERE df_docs >= 5 ORDER BY term
"""


def _q_temperature_mix(spark, sf_dir):
    """Temperature-scaled source mixing rates (operators/corpus.
    temperature_mix_rates; Arivazhagan et al. 2019, the mT5/PaLM
    balancing rule) at tau=2 over the documents sources: q_s proportional
    to sqrt(token share), budget 5000 tokens, per-source allocation
    capped at availability. tau=2 keeps the root sqrt (correctly-rounded
    IEEE) and the q normalizer is an ordered fold over sources sorted by
    name, so every double is a pure function of the data."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.temperature_mix_rates(d, budget_tokens=5000, tau=2.0).orderBy(
        "source"
    )


_SQL_TEMPERATURE_MIX = r"""
WITH tok AS (
  SELECT source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
           AS n_tokens
  FROM documents
),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM per),
qs AS (
  SELECT list_reduce(
           list(sqrt(CAST(n_tokens AS DOUBLE) / t.total) ORDER BY source),
           (a, b) -> a + b) AS qsum
  FROM per, tot t
)
SELECT p.source, p.n_docs, p.n_tokens,
       ROUND(sqrt(CAST(p.n_tokens AS DOUBLE) / t.total) / q.qsum, 6)
         AS q_rate,
       LEAST(
         CAST(floor(5000.0 * (sqrt(CAST(p.n_tokens AS DOUBLE) / t.total)
                              / q.qsum)) AS BIGINT),
         p.n_tokens) AS alloc_tokens,
       (CAST(floor(5000.0 * (sqrt(CAST(p.n_tokens AS DOUBLE) / t.total)
                             / q.qsum)) AS BIGINT) > p.n_tokens) AS capped
FROM per p, tot t, qs q
ORDER BY p.source
"""


def _q_densification(spark, sf_dir):
    """Densification power-law fit over crawl epochs (operators/graph.
    densification_fit; Leskovec-Kleinberg-Faloutsos KDD'05): cumulative
    distinct nodes/edges per epoch, then OLS of ln E on ln N — the
    exponent says whether the crawl is discovering structure (a > 1) or
    fringe. Fixture: a growing host graph (one new host per 100 events,
    targets drawn among already-existing hosts via an integer hash, so
    edges densify superlinearly); epochs are event_id div 1250. Every
    stage is exact integer algebra; the OLS sums are epoch-ordered folds
    (zipf_fit discipline)."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    host_of = F.floor(F.col("event_id") / F.lit(100)).cast("long")
    edges = e.select(
        F.concat(F.lit("h"), host_of.cast("string")).alias("src_host"),
        F.concat(
            F.lit("h"),
            ((F.col("event_id") * F.lit(31153)) % (host_of + F.lit(1)))
            .cast("string"),
        ).alias("dst_host"),
        F.floor(F.col("event_id") / F.lit(1250)).cast("long").alias("epoch"),
    )
    return G.densification_fit(edges)


_SQL_DENSIFICATION = """
WITH e AS (
  SELECT concat('h', CAST(event_id // 100 AS VARCHAR)) AS src,
         concat('h', CAST((event_id * 31153) % (event_id // 100 + 1)
                          AS VARCHAR)) AS dst,
         CAST(event_id // 1250 AS BIGINT) AS ep
  FROM events
),
ef AS (SELECT src, dst, MIN(ep) AS fe FROM e WHERE src <> dst
       GROUP BY src, dst),
nf AS (SELECT node, MIN(ep) AS fe FROM (
         SELECT src AS node, ep FROM e WHERE src <> dst
         UNION ALL SELECT dst, ep FROM e WHERE src <> dst)
       GROUP BY node),
ne AS (SELECT fe AS epoch, COUNT(*) AS new_edges FROM ef GROUP BY fe),
nn AS (SELECT fe AS epoch, COUNT(*) AS new_nodes FROM nf GROUP BY fe),
growth AS (
  SELECT ne.epoch,
         SUM(COALESCE(nn.new_nodes, 0)) OVER (ORDER BY ne.epoch
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_nodes,
         SUM(ne.new_edges) OVER (ORDER BY ne.epoch
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_edges
  FROM ne LEFT JOIN nn ON nn.epoch = ne.epoch
),
pts AS (
  SELECT epoch, ln(CAST(cum_nodes AS DOUBLE)) AS x,
         ln(CAST(cum_edges AS DOUBLE)) AS y, cum_nodes, cum_edges
  FROM growth
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_epochs,
         CAST(COUNT(*) AS DOUBLE) AS n,
         list_reduce(list(x ORDER BY epoch), (a, b) -> a + b) AS sx,
         list_reduce(list(y ORDER BY epoch), (a, b) -> a + b) AS sy,
         list_reduce(list(x * x ORDER BY epoch), (a, b) -> a + b) AS sxx,
         list_reduce(list(y * y ORDER BY epoch), (a, b) -> a + b) AS syy,
         list_reduce(list(x * y ORDER BY epoch), (a, b) -> a + b) AS sxy,
         CAST(MAX(cum_nodes) AS BIGINT) AS cum_nodes,
         CAST(MAX(cum_edges) AS BIGINT) AS cum_edges
  FROM pts
)
SELECT n_epochs,
       CASE WHEN n_epochs >= 2 THEN
         ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) END AS exponent,
       CASE WHEN n_epochs >= 2 THEN
         ROUND((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx) / n,
               6) END AS intercept,
       CASE WHEN n_epochs >= 2 THEN
         ROUND((sxy - sx * sy / n) * (sxy - sx * sy / n)
               / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) END AS r2,
       cum_nodes, cum_edges
FROM s
"""


def _q_bloom_plan(spark, sf_dir):
    """Per-shard bloom seen-set capacity plan (operators/dedup.
    bloom_capacity_plan; Bloom CACM 1970 optimal m/k) over the canonical
    URL key space: 16 md5 hash_bucket shards, 1% false-positive target.
    DISTINCT keys per shard (duplicate sightings don't inflate capacity);
    ln-constants are Python literals folded into the plan so every float
    op is per-row fixed-order — the oracle replays m = ceil(-n ln p /
    (ln 2)^2), k = floor(m/n ln2 + 1/2), bytes = (m+7) div 8 exactly."""
    from web_crawler_spark.operators import dedup as DD

    e = _t(spark, sf_dir, "events")
    urls = e.select(
        F.concat(
            F.lit("https://h"), (F.col("user_id") % 97).cast("string"),
            F.lit(".com/p/"), F.col("event_id").cast("string"),
        ).alias("url_hash")
    )
    return DD.bloom_capacity_plan(
        urls, n_partitions=16, target_fpp=0.01
    ).orderBy("partition_id")


_SQL_BLOOM_PLAN = """
WITH k AS (
  SELECT DISTINCT
    concat('https://h', CAST(user_id % 97 AS VARCHAR), '.com/p/',
           CAST(event_id AS VARCHAR)) AS k
  FROM events
),
b AS (
  SELECT TRY_CAST(concat('0x', substr(md5(concat('bplan:', k)), 1, 4))
                  AS INT) % 16 AS partition_id,
         COUNT(*) AS n_keys
  FROM k GROUP BY 1
),
m AS (
  SELECT partition_id, CAST(n_keys AS BIGINT) AS n_keys,
         CAST(ceil(CAST(n_keys AS DOUBLE) * 4.605170185988091
                   / 0.4804530139182014) AS BIGINT) AS m_bits
  FROM b
)
SELECT CAST(partition_id AS BIGINT) AS partition_id, n_keys, m_bits,
       GREATEST(CAST(1 AS BIGINT),
                CAST(floor(CAST(m_bits AS DOUBLE) / CAST(n_keys AS DOUBLE)
                           * 0.6931471805599453 + 0.5) AS BIGINT))
         AS k_hashes,
       CAST((m_bits + 7) // 8 AS BIGINT) AS mem_bytes
FROM m ORDER BY partition_id
"""


def _q_neighborhood_fn(spark, sf_dir):
    """ANF global neighborhood function + effective diameter
    (operators/graph.neighborhood_function; Palmer-Gibbons-Faloutsos
    KDD'02, Leskovec et al. KDD'05 'shrinking diameters') over the same
    12-host ring graph the hyperball leg certifies — identical register
    algebra, read globally: per-round ball estimates to exact micro-unit
    longs, integer sums, and the 90th-percentile radius test all in
    integer algebra the oracle replays via the unrolled-CTE chain."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    u, ev = F.col("user_id"), F.col("event_id")
    edges = e.select(
        F.concat(F.lit("h"), (u % 12).cast("string"), F.lit(".com"))
        .alias("src_host"),
        F.concat(
            F.lit("h"),
            ((u % 12 + F.when(ev % 2 == 0, F.lit(1)).otherwise(F.lit(4)))
             % 12).cast("string"),
            F.lit(".com"),
        ).alias("dst_host"),
    )
    return G.neighborhood_function(edges, rounds=5, p=6).orderBy("r")


def _q_kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (operators/lm.train_kn_lm /
    kn_score_docs; Kneser & Ney 1995, Chen & Goodman 1999 — the
    KenLM-grade estimator CCNet's published pipeline uses): trained on
    the doc_id%10<8 slice, every document scored; discount 0.75,
    continuation distribution add-one floored, OOV contexts back off to
    the continuation distribution. Per-bigram ln P is one fixed-order
    per-row expression floored to int64 fixed point, so per-doc sums are
    exact integers the oracle replays value-for-value. Held-out docs
    exercise unseen pairs, unseen contexts and the continuation floor."""
    from web_crawler_spark.operators import lm as L

    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 < 8)
    pairs, ctx, cont, nbt, v = L.train_kn_lm(train)
    return (
        L.kn_score_docs(d, pairs, ctx, cont, nbt, v)
        .select("doc_id", "n_bigrams", "logprob_fp", "avg_logprob")
        .orderBy("doc_id")
    )


_SQL_KN_PERPLEXITY = """
WITH tok AS (
  SELECT doc_id,
         ['<s>'] || regexp_extract_all(lower(text), '[a-z0-9]+') || ['</s>']
           AS w
  FROM documents
), bg AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
  FROM tok, LATERAL unnest(generate_series(1, len(w)-1)) AS t(i)
), train AS (SELECT * FROM bg WHERE doc_id % 10 < 8),
cnt AS (SELECT w1, w2, count(*) AS c FROM train GROUP BY 1, 2),
ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx_c, count(*) AS n_succ
        FROM cnt GROUP BY 1),
cont AS (SELECT w2, count(*) AS n_prec FROM cnt GROUP BY 1),
nbt AS (SELECT count(*) AS n FROM cnt),
v AS (SELECT count(DISTINCT t) + 1 AS vs
      FROM (SELECT w1 AS t FROM cnt UNION ALL SELECT w2 FROM cnt)),
lp AS (
  SELECT bg.doc_id,
         CAST(floor(ln(
           CASE WHEN COALESCE(ctx.ctx_c, 0) > 0
                THEN (greatest(CAST(COALESCE(cnt.c, 0) AS DOUBLE) - 0.75,
                               0.0)
                      + 0.75 * CAST(COALESCE(ctx.n_succ, 0) AS DOUBLE)
                        * (CAST(COALESCE(cont.n_prec, 0) + 1 AS DOUBLE)
                           / CAST((SELECT n FROM nbt) + (SELECT vs FROM v)
                                  AS DOUBLE)))
                     / CAST(ctx.ctx_c AS DOUBLE)
                ELSE CAST(COALESCE(cont.n_prec, 0) + 1 AS DOUBLE)
                     / CAST((SELECT n FROM nbt) + (SELECT vs FROM v)
                            AS DOUBLE)
           END) * 1000000) AS BIGINT) AS lp
  FROM bg LEFT JOIN cnt USING (w1, w2) LEFT JOIN ctx USING (w1)
          LEFT JOIN cont USING (w2)
)
SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS logprob_fp,
       sum(lp) / (count(*) * 1000000.0) AS avg_logprob
FROM lp GROUP BY doc_id ORDER BY doc_id
"""


def _q_lpa_conductance(spark, sf_dir):
    """Per-community conductance (operators/graph.community_conductance;
    Shi-Malik normalized cut; Leskovec et al. WWW'08 NCP score) paired
    with the same round-4 LPA labels as gr_lpa_modularity — the cut-side
    quality metric certifying alongside the density-side one. Oracle:
    the unrolled-LPA CTE chain extended with the exact integer cut/vol
    algebra and the single rounded division."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    u, ev = F.col("user_id"), F.col("event_id")
    fam = u % 3
    src = (
        F.when(fam == 0, F.concat(F.lit("c"), (ev % 6).cast("string")))
        .when(fam == 1, F.concat(F.lit("d"), (ev % 6).cast("string")))
        .otherwise(F.when(ev % 2 == 0, F.lit("c0")).otherwise(F.lit("x0")))
    )
    dst = (
        F.when(fam == 0, F.concat(
            F.lit("c"), ((ev % 6 + ev % 5 + 1) % 6).cast("string")))
        .when(fam == 1, F.concat(
            F.lit("d"), ((ev % 6 + ev % 5 + 1) % 6).cast("string")))
        .otherwise(F.when(ev % 2 == 0, F.lit("d0")).otherwise(F.lit("x1")))
    )
    edges = e.select(src.alias("src_host"), dst.alias("dst_host"))
    labels = G.label_propagation(edges, rounds=4, weight_col=None)
    return G.community_conductance(edges, labels).orderBy("label")


_SQL_LPA_CONDUCTANCE_TAIL = """,
lab AS (SELECT node, label FROM l{rounds}),
tmv AS (SELECT CAST(SUM(w) AS BIGINT) AS tm FROM sym),
j AS (SELECT lu.label AS lu, lv.label AS lv, s.w
      FROM sym s JOIN lab lu ON lu.node = s.u
                 JOIN lab lv ON lv.node = s.v),
per AS (SELECT lu AS label, CAST(SUM(w) AS BIGINT) AS vol_w,
               CAST(COALESCE(SUM(CASE WHEN lu <> lv THEN w END), 0)
                    AS BIGINT) AS cut_w
        FROM j GROUP BY 1),
nn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes
       FROM lab GROUP BY 1)
SELECT n.label, n.n_nodes,
       CAST(COALESCE(p.cut_w, 0) AS BIGINT) AS cut_w,
       CAST(COALESCE(p.vol_w, 0) AS BIGINT) AS vol_w,
       CASE WHEN least(COALESCE(p.vol_w, 0),
                       t.tm - COALESCE(p.vol_w, 0)) > 0
            THEN ROUND(CAST(COALESCE(p.cut_w, 0) AS DOUBLE)
                       / CAST(least(p.vol_w, t.tm - p.vol_w) AS DOUBLE), 6)
       END AS conductance
FROM nn n LEFT JOIN per p ON p.label = n.label
CROSS JOIN tmv t
ORDER BY n.label"""


def _q_cdx_shard_plan(spark, sf_dir):
    """CDX shard-split publishing plan (sources/cdx.cdx_shard_plan — the
    cc-index cdx-NNNNN.gz + cluster.idx layout): global (urlkey, ts)
    rank via the distributed prefix sum, equal-count contiguous cuts,
    inclusive boundary keys per shard. Exact integer shard algebra
    floor((rank-1)*S/n); oracle replays rank, cuts and boundaries."""
    from web_crawler_spark.sources.cdx import cdx_records, cdx_shard_plan

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(
            F.lit("https://"), F.lower(F.col("source")),
            F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.col("text").cast("binary").alias("html"),
    )
    return cdx_shard_plan(cdx_records(pages), n_shards=8)


_SQL_CDX_SHARD_PLAN = """
WITH idx AS (
  SELECT concat('com,example,', lower(source), ')/doc/',
                CAST(doc_id AS VARCHAR)) AS urlkey,
         strftime(to_timestamp(1700000000 + doc_id), '%Y%m%d%H%M%S') AS ts
  FROM documents
),
r AS (
  SELECT urlkey,
         row_number() OVER (ORDER BY urlkey, ts) AS rank,
         (SELECT count(*) FROM idx) AS n
  FROM idx
)
SELECT CAST(((rank - 1) * 8) // n AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(urlkey) AS start_urlkey,
       max(urlkey) AS end_urlkey
FROM r GROUP BY 1 ORDER BY 1
"""


def _q_microdata(spark, sf_dir):
    """Schema.org microdata extraction (plans/structured.
    microdata_records — the third Web Data Commons format beside the
    certified JSON-LD and OpenGraph ops): itemtype declarations + every
    itemprop with content-attribute-else-immediate-text values, both
    attribute orders, nested-markup text cut at the first '<' (declared
    RE2 subset). Pure regexp projection, zero shuffles; the oracle runs
    the identical RE2 patterns."""
    from web_crawler_spark.plans.structured import microdata_records

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    html = F.concat(
        F.lit('<div itemscope itemtype="https://schema.org/Product">'
              '<span itemprop="name">P'),
        F.col("doc_id").cast("string"),
        F.lit('</span><meta itemprop="price" content="'),
        F.col("doc_id").cast("string"),
        F.lit('.50"><span itemprop="brand">B'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(" <b>x</b></span>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('<meta content="USD" itemprop="currency">'),
        ).otherwise(F.lit("")),
        F.lit("</div>"),
    )
    pages = d.select(
        F.concat(F.lit("https://m.example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        html.alias("html"),
    )
    return microdata_records(pages).orderBy("url", "kind", "name")


_SQL_MICRODATA = r"""
WITH pages AS (
  SELECT concat('https://m.example.com/p/', CAST(doc_id AS VARCHAR)) AS url,
         concat('<div itemscope itemtype="https://schema.org/Product">',
                '<span itemprop="name">P', CAST(doc_id AS VARCHAR),
                '</span><meta itemprop="price" content="',
                CAST(doc_id AS VARCHAR), '.50"><span itemprop="brand">B',
                CAST(doc_id % 7 AS VARCHAR), ' <b>x</b></span>',
                CASE WHEN doc_id % 3 = 0
                     THEN '<meta content="USD" itemprop="currency">'
                     ELSE '' END,
                '</div>') AS html
  FROM documents WHERE doc_id < 400
),
tags AS (
  SELECT url, unnest(regexp_extract_all(html,
           '(?s)<[^>]*\sitemprop="[^"]*"[^>]*>[^<]*', 0)) AS m
  FROM pages
),
props AS (
  SELECT url, 'itemprop' AS kind,
         regexp_extract(m, 'itemprop="([^"]+)"', 1) AS name,
         CASE WHEN regexp_matches(m, 'content="')
              THEN regexp_extract(m, 'content="([^"]*)"', 1)
              ELSE trim(regexp_extract(m, '>([^<]*)$', 1)) END AS value
  FROM tags
  WHERE regexp_extract(m, 'itemprop="([^"]+)"', 1) <> ''
),
types AS (
  SELECT url, 'itemtype' AS kind,
         unnest(regexp_extract_all(html, 'itemtype="([^"]+)"', 1)) AS name,
         CAST(NULL AS VARCHAR) AS value
  FROM pages
)
SELECT * FROM types UNION ALL SELECT * FROM props
ORDER BY url, kind, name
"""


def _q_langid_eval(spark, sf_dir):
    """Language-ID evaluation against the corpus ground truth: confusion
    matrix (true lang, detected lang, n) with per-cell recall_milli -
    the measurement discipline of tx_retrieval_eval applied to the text
    family (a langid whose confusion drifts flags corpus shift before
    any downstream gate misfires). Exact integer counts; recall_milli =
    floor(1000*n/class_total) exact integer algebra over a
    languages^2-bounded frame. Oracle composes the certified
    _langid_pieces() CASE with the count/window replay."""
    d = _t(spark, sf_dir, "documents")
    pred = d.select(
        "lang", T.detect_language(F.col("text")).alias("detected")
    )
    cell = pred.groupBy("lang", "detected").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("lang")
    return cell.select(
        "lang", "detected", "n",
        F.floor(F.lit(1000) * F.col("n") / F.sum("n").over(w))
        .cast("long").alias("recall_milli"),
    ).orderBy("lang", "detected")


def _langid_eval_sql() -> str:
    hit_exprs, case = _langid_pieces()
    return f"""
WITH h AS (SELECT doc_id, lang, {", ".join(hit_exprs)} FROM documents),
p AS (SELECT lang, {case} AS detected FROM h),
cell AS (SELECT lang, detected, CAST(count(*) AS BIGINT) AS n
         FROM p GROUP BY 1, 2)
SELECT lang, detected, n,
       CAST(floor(1000 * n / (SUM(n) OVER (PARTITION BY lang))) AS BIGINT)
         AS recall_milli
FROM cell ORDER BY lang, detected
"""


def _q_arc_scan(spark, sf_dir):
    """Legacy ARC ingest on REAL bytes (sources/warc.parse_arc — the
    pre-WARC Internet Archive container, Common Crawl 2008-2012): three
    .arc.gz shards with filedesc version blocks, v1 header lines and
    HTTP-wrapped payloads, generated deterministically from the customer
    table and parsed back via the distributed binaryFile + mapInPandas
    scan; the oracle recomputes every (url, ip, arc_date, http_status,
    body) row from the same table — the whole legacy read path is
    value-certified, completing the WARC/WET/WAT/CDX/ARC interop set."""
    import tempfile

    from web_crawler_spark.sources.warc import (
        arc_filedesc_bytes,
        arc_record_bytes,
        arc_scan,
        warc_gz_bytes,
    )

    rows = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
        .collect()
    )
    d = tempfile.mkdtemp(prefix="arc_scan_")
    shards: list[list[bytes]] = [
        [arc_filedesc_bytes(f"shard_{i}.arc")] for i in range(3)
    ]
    for r in rows:
        k = int(r["c_custkey"])
        body = f"<html><body>c{k}:{r['c_name']}</body></html>".encode()
        shards[k % 3].append(
            arc_record_bytes(
                f"http://legacy.example.com/c{k}",
                f"10.0.{k % 256}.{(k * 7) % 256}",
                f"200801{k % 28 + 1:02d}120000",
                body,
            )
        )
    for i, recs in enumerate(shards):
        with open(os.path.join(d, f"shard_{i}.arc.gz"), "wb") as f:
            f.write(warc_gz_bytes(recs))
    return (
        arc_scan(spark, d)
        .filter(F.col("arc_type") == "response")
        .select(
            "url", "ip", "arc_date", "http_status",
            F.col("payload").cast("string").alias("body"),
        )
        .orderBy("url")
    )


_SQL_ARC_SCAN = """
SELECT concat('http://legacy.example.com/c', CAST(c_custkey AS VARCHAR))
         AS url,
       concat('10.0.', CAST(c_custkey % 256 AS VARCHAR), '.',
              CAST((c_custkey * 7) % 256 AS VARCHAR)) AS ip,
       concat('200801', lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0'),
              '120000') AS arc_date,
       200 AS http_status,
       concat('<html><body>c', CAST(c_custkey AS VARCHAR), ':', c_name,
              '</body></html>') AS body
FROM customer ORDER BY url
"""


def _q_timemap(spark, sf_dir):
    """Memento-style TimeMap summary per URL over the CDX capture index
    (RFC 7089's TimeMap, the Wayback capture-list view): n_captures,
    first/last ts14, distinct content digests, and revisit_ratio_milli =
    floor(1000*(n - distinct_digests)/n) - the unchanged-content revisit
    share that drives fetch-dedup savings (cc_warc_revisit's accounting
    read). Captures synthesized from documents with doc_id%4+1 revisits
    each (every second revisit altering content); exact integer algebra
    end to end."""
    from web_crawler_spark.sources.cdx import cdx_records

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    reps = d.select(
        "doc_id", "text",
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 4).cast("int"))
        ).alias("rep"),
    )
    pages = reps.select(
        F.concat(F.lit("https://tm.example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(
            F.lit(1700000000) + F.col("doc_id") * 100 + F.col("rep")
        ).alias("warc_ts"),
        F.when(
            F.col("rep") % 2 == 0, F.col("text")
        ).otherwise(F.concat(F.col("text"), F.lit("!v2"))).cast("binary")
        .alias("html"),
    )
    idx = cdx_records(pages)
    n = F.count(F.lit(1)).cast("long")
    nd = F.countDistinct("digest").cast("long")
    return (
        idx.groupBy("url")
        .agg(
            n.alias("n_captures"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            nd.alias("n_digests"),
        )
        .select(
            "url", "n_captures", "first_ts", "last_ts", "n_digests",
            F.floor(
                F.lit(1000) * (F.col("n_captures") - F.col("n_digests"))
                / F.col("n_captures")
            ).cast("long").alias("revisit_ratio_milli"),
        )
        .orderBy("url")
    )


_SQL_TIMEMAP = """
WITH caps AS (
  SELECT concat('https://tm.example.com/doc/', CAST(doc_id AS VARCHAR))
           AS url,
         strftime(to_timestamp(1700000000 + doc_id * 100 + rep),
                  '%Y%m%d%H%M%S') AS ts,
         md5(CASE WHEN rep % 2 = 0 THEN text ELSE concat(text, '!v2') END)
           AS digest
  FROM documents,
       LATERAL unnest(generate_series(0, doc_id % 4)) AS t(rep)
  WHERE doc_id < 200
)
SELECT url,
       CAST(count(*) AS BIGINT) AS n_captures,
       min(ts) AS first_ts,
       max(ts) AS last_ts,
       CAST(count(DISTINCT digest) AS BIGINT) AS n_digests,
       CAST(floor(1000 * (count(*) - count(DISTINCT digest))
                  / count(*)) AS BIGINT) AS revisit_ratio_milli
FROM caps GROUP BY url ORDER BY url
"""


def _q_code_detect(spark, sf_dir):
    """Code-likeness profiling (functions/text.code_profile — The Stack /
    StarCoder-era prose-vs-source curation signal, the symbol-ratio
    family of Gopher): indent/terminator code-line counts, keyword hits,
    symbol chars, code_frac_milli and the is_codey gate — all exact
    integer regexp counts over a fixture that plants a Python/JS snippet
    on every 5th document; zero shuffles, RE2 patterns shared verbatim
    with the oracle."""
    from web_crawler_spark.functions import text as T

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    planted = F.concat(
        F.col("text"),
        F.lit("\ndef f(x):\n    return x + 1\nimport os\n"
              "let v = {a: 1};\n"),
    )
    body = F.when(F.col("doc_id") % 5 == 0, planted).otherwise(
        F.col("text")
    )
    prof = d.select("doc_id", *T.code_profile(body))
    frac = F.floor(
        F.lit(1000) * F.col("code_lines") / F.col("n_lines")
    ).cast("long")
    return prof.select(
        "doc_id", "n_lines", "code_lines", "kw_hits", "sym_chars",
        frac.alias("code_frac_milli"),
        ((F.lit(1000) * F.col("code_lines") >= F.lit(300) * F.col("n_lines"))
         | (F.col("kw_hits") >= 3)).alias("is_codey"),
    ).orderBy("doc_id")


def _code_detect_sql() -> str:
    from web_crawler_spark.functions.text import (
        CODE_KEYWORD_RE,
        CODE_LINE_RE,
        CODE_SYMBOL_RE,
    )

    return f"""
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN concat(text, chr(10), 'def f(x):', chr(10),
                          '    return x + 1', chr(10), 'import os',
                          chr(10), 'let v = {{a: 1}};', chr(10))
              ELSE text END AS t
  FROM documents WHERE doc_id < 300
),
p AS (
  SELECT doc_id,
         CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(regexp_extract_all(t, '{CODE_LINE_RE}', 0)) AS BIGINT)
           AS code_lines,
         CAST(len(regexp_extract_all(t, '{CODE_KEYWORD_RE}', 0)) AS BIGINT)
           AS kw_hits,
         CAST(strlen(t) - strlen(regexp_replace(t, '{CODE_SYMBOL_RE}', '',
                                                'g')) AS BIGINT) AS sym_chars
  FROM b
)
SELECT doc_id, n_lines, code_lines, kw_hits, sym_chars,
       CAST(floor(1000 * code_lines / n_lines) AS BIGINT)
         AS code_frac_milli,
       (1000 * code_lines >= 300 * n_lines OR kw_hits >= 3) AS is_codey
FROM p ORDER BY doc_id
"""


def _q_seed_attribution(spark, sf_dir):
    """Seed provenance (operators/graph.seed_attribution): competing
    seeds n0 (root) and n5 (internal) over the 63-node binary tree +
    shortcut + capped chain + disconnected chain of the seed-distance
    fixture - attribution is min over (depth, seed) with the string
    tie-break, so n5's subtree flips to n5, the shortcut keeps n62 at
    (1, n0), the chain crosses the depth cap and the disconnected chain
    never appears. Oracle: recursive closure carrying seed, min pair via
    rank. Exact integers only."""
    from web_crawler_spark.operators import graph as G

    ev = _t(spark, sf_dir, "events")

    def n(c):
        return F.concat(F.lit("n"), c.cast("string"))

    k = F.col("event_id") % 31
    c = F.col("event_id") % 12
    d = F.col("event_id") % 3
    edges = (
        ev.select(n(k).alias("src"), n(k * 2 + 1).alias("dst"))
        .unionByName(ev.select(n(k).alias("src"), n(k * 2 + 2).alias("dst")))
        .unionByName(ev.select(n(c + 1000).alias("src"), n(c + 1001).alias("dst")))
        .unionByName(ev.select(n(d + 2000).alias("src"), n(d + 2001).alias("dst")))
        .unionByName(
            spark.createDataFrame(
                [("n0", "n62"), ("n0", "n1000")], "src string, dst string"
            )
        )
    )
    seeds = spark.createDataFrame([("n0",), ("n5",)], "node string")
    return G.seed_attribution(
        edges, seeds, max_depth=8, src_col="src", dst_col="dst"
    ).orderBy("node")


_SQL_SEED_ATTRIBUTION = """
WITH RECURSIVE e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT concat('n', CAST(event_id % 31 AS VARCHAR)) AS src,
           concat('n', CAST((event_id % 31) * 2 + 1 AS VARCHAR)) AS dst
    FROM events
    UNION ALL
    SELECT concat('n', CAST(event_id % 31 AS VARCHAR)),
           concat('n', CAST((event_id % 31) * 2 + 2 AS VARCHAR)) FROM events
    UNION ALL
    SELECT concat('n', CAST(event_id % 12 + 1000 AS VARCHAR)),
           concat('n', CAST(event_id % 12 + 1001 AS VARCHAR)) FROM events
    UNION ALL
    SELECT concat('n', CAST(event_id % 3 + 2000 AS VARCHAR)),
           concat('n', CAST(event_id % 3 + 2001 AS VARCHAR)) FROM events
    UNION ALL SELECT 'n0', 'n62'
    UNION ALL SELECT 'n0', 'n1000'
  )
),
bfs AS (
  SELECT node, node AS seed, 0 AS depth
  FROM (VALUES ('n0'), ('n5')) s(node)
  UNION
  SELECT e.dst, bfs.seed, bfs.depth + 1
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.depth < 8
)
SELECT node, CAST(depth AS INT) AS depth, seed FROM (
  SELECT node, depth, seed,
         row_number() OVER (PARTITION BY node ORDER BY depth, seed) AS rn
  FROM bfs) WHERE rn = 1
ORDER BY node"""


def _q_mime_mismatch(spark, sf_dir):
    """Extension-vs-content MIME audit (the crawl-hygiene / cloaking
    signal: a .jpg URL serving HTML is a masquerade; Web servers
    mislabeling content is why WHATWG sniffing exists at all): sniffed
    magic-byte MIME (functions/sniff.content_type_sniff, already
    value-certified by s_content_sniff) against the extension's declared
    type. Bodies alternate PNG-magic/HTML by doc_id parity, extensions
    cycle .png/.html/.gif - so match and mismatch classes are ground
    truth by construction and the oracle derives both from the same
    arithmetic."""
    from web_crawler_spark.functions import sniff as S

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    body = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.unhex(F.lit("89504E470D0A1A0A")),
            F.col("text").cast("binary"),
        ),
    ).otherwise(
        F.concat(F.lit("<html><body>"), F.col("text"),
                 F.lit("</body></html>")).cast("binary")
    )
    ext = F.element_at(
        F.array(F.lit(".png"), F.lit(".html"), F.lit(".gif")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    expected = (
        F.when(ext == ".png", F.lit("image/png"))
        .when(ext == ".html", F.lit("text/html"))
        .otherwise(F.lit("image/gif"))
    )
    sniffed = S.content_type_sniff(body)
    return d.select(
        F.concat(F.lit("https://x.example.com/f"),
                 F.col("doc_id").cast("string"), ext).alias("url"),
        ext.alias("ext"),
        sniffed.alias("sniffed_mime"),
        expected.alias("expected_mime"),
        (sniffed != expected).alias("mismatch"),
    ).orderBy("url")


_SQL_MIME_MISMATCH = """
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image/png'
              ELSE 'text/html' END AS sniffed,
         CASE doc_id % 3 WHEN 0 THEN '.png' WHEN 1 THEN '.html'
              ELSE '.gif' END AS ext
  FROM documents WHERE doc_id < 300
)
SELECT concat('https://x.example.com/f', CAST(doc_id AS VARCHAR), ext)
         AS url,
       ext,
       sniffed AS sniffed_mime,
       CASE ext WHEN '.png' THEN 'image/png' WHEN '.html' THEN 'text/html'
            ELSE 'image/gif' END AS expected_mime,
       sniffed <> CASE ext WHEN '.png' THEN 'image/png'
                       WHEN '.html' THEN 'text/html'
                       ELSE 'image/gif' END AS mismatch
FROM b ORDER BY url
"""


def _q_pagerank_residuals(spark, sf_dir):
    """PageRank convergence telemetry (operators/graph.
    pagerank_residuals): per-iteration L1 residual of the host-graph
    power iteration in exact micro-units over the 6dp-rounded ranks (the
    published precision, so the integer algebra is engine-exact; full-
    precision diffs would inherit the inflow sum's accumulation order).
    Oracle: the unrolled _pagerank_sql chain with a residual tail - the
    convergence curve certifies alongside the ranks themselves."""
    from web_crawler_spark.operators import graph as G

    edges = G.host_graph(_host_edges(spark, sf_dir))
    return G.pagerank_residuals(edges, iterations=10).orderBy("iteration")


def _q_host_wcc(spark, sf_dir):
    """Weakly connected components of the host graph - the Broder WWW'00
    'one giant component + islands' macro measurement, via the certified
    min-label component machinery (operators/dedup.dedup_clusters, star
    algorithm for adversarial chains available). Fixture: a 40-host
    chained giant component + three 5-host islands + an isolated pair;
    output is the per-component size table (component = min host id)
    with the deterministic is_giant flag (max size, min-id tie-break).
    Oracle: recursive undirected closure, component = min reachable
    member. Exact integers only."""
    from web_crawler_spark.operators import dedup as DD

    e = _t(spark, sf_dir, "events")
    u, ev = F.col("user_id"), F.col("event_id")
    giant = e.select(
        F.concat(F.lit("g"), (ev % 40).cast("string")).alias("id_a"),
        F.concat(F.lit("g"), ((ev % 40 + 1) % 40).cast("string"))
        .alias("id_b"),
    )
    isles = e.select(
        F.concat(F.lit("i"), (u % 3).cast("string"), F.lit("h"),
                 (ev % 5).cast("string")).alias("id_a"),
        F.concat(F.lit("i"), (u % 3).cast("string"), F.lit("h"),
                 ((ev % 5 + 1) % 5).cast("string")).alias("id_b"),
    )
    pair = spark.createDataFrame([("z0", "z1")], "id_a string, id_b string")
    pairs = giant.unionByName(isles).unionByName(pair).filter(
        F.col("id_a") != F.col("id_b")
    ).distinct()
    labels = DD.dedup_clusters(pairs)
    comp = labels.groupBy(F.col("cluster_id").alias("component")).agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts")
    )
    w = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    max_n = F.max("n_hosts").over(w)
    best_comp = F.min(
        F.when(F.col("n_hosts") == max_n, F.col("component"))
    ).over(w)
    return comp.select(
        "component", "n_hosts",
        (F.col("component") == best_comp).alias("is_giant"),
    ).orderBy("component")


_SQL_HOST_WCC = """
WITH RECURSIVE ep AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT concat('g', CAST(event_id % 40 AS VARCHAR)) AS id_a,
           concat('g', CAST((event_id % 40 + 1) % 40 AS VARCHAR)) AS id_b
    FROM events
    UNION ALL
    SELECT concat('i', CAST(user_id % 3 AS VARCHAR), 'h',
                  CAST(event_id % 5 AS VARCHAR)),
           concat('i', CAST(user_id % 3 AS VARCHAR), 'h',
                  CAST((event_id % 5 + 1) % 5 AS VARCHAR))
    FROM events
    UNION ALL SELECT 'z0', 'z1'
  ) WHERE id_a <> id_b
),
e AS (SELECT id_a AS u, id_b AS v FROM ep
      UNION SELECT id_b, id_a FROM ep),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
reach AS (
  SELECT node, node AS peer FROM nodes
  UNION
  SELECT r.node, e.v FROM reach r JOIN e ON e.u = r.peer
),
comp AS (
  SELECT node, MIN(peer) AS component FROM reach GROUP BY node
),
sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_hosts
  FROM comp GROUP BY component
),
best AS (
  SELECT component AS bc FROM sizes
  ORDER BY n_hosts DESC, component ASC LIMIT 1
)
SELECT s.component, s.n_hosts, s.component = b.bc AS is_giant
FROM sizes s CROSS JOIN best b
ORDER BY s.component
"""


def _q_source_dup_rates(spark, sf_dir):
    """Per-source duplication accounting: exact-dup rate by provenance -
    the curation lens that tells a corpus team WHICH feed is flooding
    the mix with copies (RefinedWeb/FineWeb report dedup rates per dump
    for exactly this reason). (source, n_docs, n_distinct, dup_docs,
    dup_ratio_milli) over md5 content fingerprints; one (source, fp)
    combiner agg + one source rollup, exact integers end to end."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select("source", F.md5(F.col("text")).alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            (F.sum("n") - F.count(F.lit(1))).cast("long").alias("dup_docs"),
        )
        .select(
            "source", "n_docs", "n_distinct", "dup_docs",
            F.floor(F.lit(1000) * F.col("dup_docs") / F.col("n_docs"))
            .cast("long").alias("dup_ratio_milli"),
        )
        .orderBy("source")
    )


_SQL_SOURCE_DUP_RATES = """
WITH per AS (
  SELECT source, md5(text) AS fp, COUNT(*) AS n
  FROM documents GROUP BY source, md5(text)
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS dup_docs,
       CAST(floor(1000 * (SUM(n) - COUNT(*)) / SUM(n)) AS BIGINT)
         AS dup_ratio_milli
FROM per GROUP BY source ORDER BY source
"""


def _q_degree_histogram(spark, sf_dir):
    """In/out-degree distribution of the host graph - the raw artifact
    behind gr_degree_powerlaw's MLE (Broder et al. WWW'00 figure 1: both
    directions published as (degree, count) tables). Distinct directed
    pairs, self-loops dropped (graph_summary semantics), exact integer
    histogram per direction over the same heavy-tailed fixture as the
    power-law query."""
    e = _t(spark, sf_dir, "events")
    u = (F.col("event_id") * F.lit(31153)) % F.lit(65536)
    edges = e.select(
        F.concat(F.lit("s"), (F.col("event_id") % 997).cast("string"),
                 F.lit(".com")).alias("src"),
        F.concat(F.lit("d"),
                 F.floor(F.lit(65536.0) / (u + F.lit(1))).cast("string"),
                 F.lit(".com")).alias("dst"),
    ).distinct()
    def hist(col, name):
        return (
            edges.groupBy(F.col(col).alias("node"))
            .agg(F.count(F.lit(1)).alias("d"))
            .groupBy("d")
            .agg(F.count(F.lit(1)).alias("n_hosts"))
            .select(F.lit(name).alias("direction"),
                    F.col("d").cast("long").alias("degree"),
                    F.col("n_hosts").cast("long").alias("n_hosts"))
        )
    return hist("dst", "in").unionByName(hist("src", "out")).orderBy(
        "direction", "degree")


_SQL_DEGREE_HISTOGRAM = """
WITH e AS (
  SELECT DISTINCT
    concat('s', CAST(event_id % 997 AS VARCHAR), '.com') AS src,
    concat('d', CAST(CAST(floor(65536.0 /
        ((event_id * 31153) % 65536 + 1)) AS BIGINT) AS VARCHAR),
        '.com') AS dst
  FROM events
),
ind AS (SELECT dst AS node, COUNT(*) AS d FROM e GROUP BY dst),
outd AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src)
SELECT 'in' AS direction, CAST(d AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_hosts FROM ind GROUP BY d
UNION ALL
SELECT 'out', CAST(d AS BIGINT), CAST(COUNT(*) AS BIGINT)
FROM outd GROUP BY d
ORDER BY direction, degree
"""


def _q_jain_fairness(spark, sf_dir):
    """Jain's fairness index of per-host frontier service (Jain-Chiu-Hawe
    1984; operators/aggregate.jain_fairness) over the same skewed
    frontier as the Gini leg - the Gini/Jain pair reads inequality and
    fairness of the fetch scheduler together. Exact integer sufficient
    statistics, one rounded double expression."""
    from web_crawler_spark.operators.aggregate import jain_fairness

    e = _t(spark, sf_dir, "events")
    hot = F.when(F.col("event_id") % 5 == 0, 0).otherwise(
        F.col("user_id") % 20
    )
    frontier = e.select(
        F.concat(F.lit("h"), hot.cast("string")).alias("host")
    )
    return jain_fairness(frontier)


_SQL_JAIN_FAIRNESS = """
WITH frontier AS (
  SELECT concat('h', CAST(CASE WHEN event_id % 5 = 0 THEN 0
                          ELSE user_id % 20 END AS VARCHAR)) AS host
  FROM events
),
per AS (SELECT host, COUNT(*) AS x FROM frontier GROUP BY host),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
         CAST(COALESCE(SUM(x), 0) AS BIGINT) AS total,
         CAST(COALESCE(SUM(x * x), 0) AS BIGINT) AS sum_sq
  FROM per
)
SELECT n_hosts, total, sum_sq,
       CASE WHEN n_hosts > 0 AND sum_sq > 0
            THEN ROUND(CAST(total AS DOUBLE) * CAST(total AS DOUBLE)
                       / (CAST(n_hosts AS DOUBLE)
                          * CAST(sum_sq AS DOUBLE)), 6) END AS jain
FROM agg
"""


def _q_heading_outline(spark, sf_dir):
    """Document-order h1-h6 outline extraction (plans/structured.
    heading_outline - the section-structure signal RAG chunking and
    quality models read): whole-element isolation (closing tag matched
    as any </h1-6>, declared RE2 subset), inline markup stripped,
    whitespace collapsed, empty headings kept. Fixture plants an h1 with
    inline <em>, per-class h2/h3 sections and an empty h4; pure regexp
    projection, zero shuffles, patterns shared verbatim with the
    oracle."""
    from web_crawler_spark.plans.structured import heading_outline

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    html = F.concat(
        F.lit("<h1>Title <em>no. "),
        F.col("doc_id").cast("string"),
        F.lit("</em></h1><p>intro</p><h2>Section A</h2><p>text</p>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("<h3>Sub "), (F.col("doc_id") % 7).cast("string"),
                     F.lit("</h3>")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("<h4></h4>")).otherwise(
            F.lit("")
        ),
    )
    pages = d.select(
        F.concat(F.lit("https://o.example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        html.alias("html"),
    )
    return heading_outline(pages).orderBy("url", "pos")


_SQL_HEADING_OUTLINE = r"""
WITH pages AS (
  SELECT concat('https://o.example.com/p/', CAST(doc_id AS VARCHAR)) AS url,
         concat('<h1>Title <em>no. ', CAST(doc_id AS VARCHAR),
                '</em></h1><p>intro</p><h2>Section A</h2><p>text</p>',
                CASE WHEN doc_id % 3 = 0
                     THEN concat('<h3>Sub ', CAST(doc_id % 7 AS VARCHAR),
                                 '</h3>') ELSE '' END,
                CASE WHEN doc_id % 5 = 0 THEN '<h4></h4>' ELSE '' END)
           AS html
  FROM documents WHERE doc_id < 300
),
m AS (
  SELECT url, unnest(regexp_extract_all(html,
           '(?is)<h[1-6][^>]*>.*?</h[1-6]>', 0)) AS m,
         generate_subscripts(regexp_extract_all(html,
           '(?is)<h[1-6][^>]*>.*?</h[1-6]>', 0), 1) - 1 AS pos
  FROM pages
)
SELECT url, CAST(pos AS INT) AS pos,
       CAST(regexp_extract(m, '(?i)<h([1-6])', 1) AS INT) AS level,
       trim(regexp_replace(regexp_replace(m, '<[^>]+>', ' ', 'g'),
                           '\s+', ' ', 'g')) AS heading
FROM m ORDER BY url, pos
"""


def _q_shrinking_diameter(spark, sf_dir):
    """Shrinking-diameters trend (operators/graph.shrinking_diameter;
    Leskovec et al. KDD'05 second law) over the SAME growing host-graph
    fixture the densification fit certifies on: effective radius at
    cumulative epoch cutoffs 0/3/7 via hyperball's register algebra,
    exact fixed-point integer sums end to end. Oracle: three prefixed
    unrolled register chains in one WITH, each ending in the ANF
    quantile read."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    host_of = F.floor(F.col("event_id") / F.lit(100)).cast("long")
    edges = e.select(
        F.concat(F.lit("h"), host_of.cast("string")).alias("src_host"),
        F.concat(
            F.lit("h"),
            ((F.col("event_id") * F.lit(31153)) % (host_of + F.lit(1)))
            .cast("string"),
        ).alias("dst_host"),
        F.floor(F.col("event_id") / F.lit(1250)).cast("long").alias("epoch"),
    )
    return G.shrinking_diameter(edges, cutoffs=[0, 3, 7], rounds=5).orderBy(
        "epoch"
    )


def _shrinking_diameter_sql(cutoffs=(0, 3, 7), rounds: int = 5) -> str:
    """Per-cutoff prefixed hyperball register chains (the _hyperball_sql
    algebra verbatim: p=6, m=64, alpha 0.709, linear-counting branch,
    6dp round) ending in the ANF effective-radius read."""
    ctes, finals = [], []
    for c in cutoffs:
        x = f"c{c}_"
        ctes.append(f"""
{x}e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT concat('h', CAST(event_id // 100 AS VARCHAR)) AS src,
           concat('h', CAST((event_id * 31153) % (event_id // 100 + 1)
                            AS VARCHAR)) AS dst
    FROM events WHERE event_id // 1250 <= {c}
  ) WHERE src <> dst
),
{x}nodes AS (SELECT src AS node FROM {x}e UNION SELECT dst FROM {x}e),
{x}regs0 AS (
  SELECT node,
         TRY_CAST(concat('0x', substr(md5(concat('hll:', node)), 1, 8))
                  AS BIGINT) % 64 AS bucket,
         CASE WHEN TRY_CAST(concat('0x', substr(md5(concat('hll:', node)),
                            9, 8)) AS BIGINT) = 0 THEN 33
              ELSE 33 - length(bin(TRY_CAST(concat('0x',
                   substr(md5(concat('hll:', node)), 9, 8)) AS BIGINT)))
         END AS rho
  FROM {x}nodes
)""")
        for t in range(1, rounds + 1):
            ctes.append(f"""
{x}regs{t} AS MATERIALIZED (
  SELECT node, bucket, MAX(rho) AS rho FROM (
    SELECT node, bucket, rho FROM {x}regs{t-1}
    UNION ALL
    SELECT e.dst AS node, r.bucket, r.rho
    FROM {x}e e JOIN {x}regs{t-1} r ON r.node = e.src
  ) GROUP BY node, bucket
)""")
        for t in range(rounds + 1):
            ctes.append(f"""
{x}agg{t} AS (
  SELECT node, COUNT(*) AS present, SUM(power(2.0, -rho)) AS s_present
  FROM {x}regs{t} GROUP BY node
),
{x}est{t} AS (
  SELECT node,
         ROUND(CASE WHEN e_raw <= 160.0 AND v > 0
                    THEN 64.0 * ln(64.0 / v) ELSE e_raw END, 6) AS est
  FROM (SELECT node,
               0.709 * 4096.0 / ((64.0 - present) + s_present) AS e_raw,
               64 - present AS v
        FROM {x}agg{t})
)""")
        nf_rows = " UNION ALL ".join(
            f"SELECT {t} AS r, CAST(COALESCE(SUM(CAST(round(est * 1000000.0,"
            f" 0) AS BIGINT)), 0) AS BIGINT) AS nf_micro FROM {x}est{t}"
            for t in range(rounds + 1)
        )
        ctes.append(f"""
{x}nf AS ({nf_rows})""")
        finals.append(
            f"SELECT CAST({c} AS BIGINT) AS epoch, "
            f"CAST((SELECT MIN(r) FROM {x}nf WHERE 1000 * nf_micro >= 900 * "
            f"(SELECT MAX(nf_micro) FROM {x}nf)) AS BIGINT) "
            f"AS effective_radius, "
            f"CAST((SELECT MAX(nf_micro) FROM {x}nf) AS BIGINT) "
            f"AS nf_final_micro"
        )
    body = " UNION ALL ".join(finals)
    return "WITH " + ",".join(ctes) + f"""
SELECT * FROM ({body}) ORDER BY epoch"""


def _q_license_detect(spark, sf_dir):
    """License detection (functions/text.license_detect - The Stack /
    StarCoder permissive-only admission filter; CC-BY screening for web
    text): per-family hit counts, first-hit-wins license_class with SPDX
    tags beating prose headers, declared spdx_id surfaced. Fixture
    plants one family per doc_id%6 class (class 4 = clean). Oracle is
    GENERATED from the same LICENSE_PATTERNS table, so extending the
    table updates both engines."""
    from web_crawler_spark.functions import text as T

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    plant = (
        F.when(F.col("doc_id") % 6 == 0,
               F.lit("\nSPDX-License-Identifier: BSD-3-Clause\n"))
        .when(F.col("doc_id") % 6 == 1,
              F.lit("\nMIT License\nPermission is hereby granted, free "
                    "of charge\n"))
        .when(F.col("doc_id") % 6 == 2,
              F.lit("\nApache License, Version 2.0\n"))
        .when(F.col("doc_id") % 6 == 3,
              F.lit("\nGNU General Public License v3\n"))
        .when(F.col("doc_id") % 6 == 5,
              F.lit("\nCreative Commons Attribution 4.0 International\n"))
        .otherwise(F.lit(""))
    )
    body = F.concat(F.col("text"), plant)
    return d.select("doc_id", *T.license_detect(body)).orderBy("doc_id")


def _license_detect_sql() -> str:
    from web_crawler_spark.functions.text import LICENSE_PATTERNS

    hits = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}', 0)) AS BIGINT) AS "
        f"n_{name.replace('-', '_').replace('.', '_')}"
        for name, pat in LICENSE_PATTERNS
    )
    case = "CASE " + " ".join(
        f"WHEN n_{name.replace('-', '_').replace('.', '_')} > 0 "
        f"THEN '{name}'"
        for name, _ in LICENSE_PATTERNS
    ) + " END"
    spdx_pat = LICENSE_PATTERNS[0][1]
    return f"""
WITH b AS (
  SELECT doc_id,
         concat(text,
                CASE doc_id % 6
                  WHEN 0 THEN concat(chr(10),
                    'SPDX-License-Identifier: BSD-3-Clause', chr(10))
                  WHEN 1 THEN concat(chr(10), 'MIT License', chr(10),
                    'Permission is hereby granted, free of charge', chr(10))
                  WHEN 2 THEN concat(chr(10),
                    'Apache License, Version 2.0', chr(10))
                  WHEN 3 THEN concat(chr(10),
                    'GNU General Public License v3', chr(10))
                  WHEN 5 THEN concat(chr(10),
                    'Creative Commons Attribution 4.0 International',
                    chr(10))
                  ELSE '' END) AS t
  FROM documents WHERE doc_id < 300
),
h AS (SELECT doc_id, t, {hits} FROM b)
SELECT doc_id, * EXCLUDE (doc_id, t),
       {case} AS license_class,
       CASE WHEN regexp_extract(t, '{spdx_pat}', 1) <> ''
            THEN regexp_extract(t, '{spdx_pat}', 1) END AS spdx_id
FROM h ORDER BY doc_id
"""


def _q_heading_sections(spark, sf_dir):
    """Heading-delimited section chunks (plans/structured.
    heading_sections - the structure-aware RAG chunking unit; splits on
    the same RE2 heading pattern as x_heading_outline so the two tables
    always agree): preamble row 0 when non-empty, each heading paired
    with its following markup, tags stripped, whitespace collapsed.
    Same fixture family as the outline query plus inter-section
    paragraphs; zero shuffles."""
    from web_crawler_spark.plans.structured import heading_sections

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    html = F.concat(
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("<p>lead paragraph</p>")).otherwise(F.lit("")),
        F.lit("<h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>alpha</p><p>beta</p><h2>Part <em>two</em></h2>"
              "<ul><li>item</li></ul>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("<h2>Extra</h2><p>tail "),
                     (F.col("doc_id") % 7).cast("string"), F.lit("</p>")),
        ).otherwise(F.lit("<p>closing</p>")),
    )
    pages = d.select(
        F.concat(F.lit("https://sec.example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        html.alias("html"),
    )
    return heading_sections(pages).orderBy("url", "section_idx")


_SQL_HEADING_SECTIONS = r"""
WITH pages AS (
  SELECT concat('https://sec.example.com/p/', CAST(doc_id AS VARCHAR))
           AS url,
         concat(CASE WHEN doc_id % 4 = 0 THEN '<p>lead paragraph</p>'
                     ELSE '' END,
                '<h1>Doc ', CAST(doc_id AS VARCHAR),
                '</h1><p>alpha</p><p>beta</p><h2>Part <em>two</em></h2>',
                '<ul><li>item</li></ul>',
                CASE WHEN doc_id % 3 = 0
                     THEN concat('<h2>Extra</h2><p>tail ',
                                 CAST(doc_id % 7 AS VARCHAR), '</p>')
                     ELSE '<p>closing</p>' END) AS html
  FROM documents WHERE doc_id < 300
),
base AS (
  SELECT url,
         regexp_extract_all(html, '(?is)<h[1-6][^>]*>.*?</h[1-6]>', 0) AS h,
         string_split_regex(html, '(?is)<h[1-6][^>]*>.*?</h[1-6]>') AS f
  FROM pages
),
sec AS (
  SELECT url,
         CAST(i AS INT) AS section_idx,
         trim(regexp_replace(regexp_replace(h[i], '<[^>]+>', ' ', 'g'),
                             '\s+', ' ', 'g')) AS title,
         trim(regexp_replace(regexp_replace(f[i + 1], '<[^>]+>', ' ', 'g'),
                             '\s+', ' ', 'g')) AS body
  FROM base, LATERAL unnest(generate_series(1, len(h))) AS t(i)
),
pre AS (
  SELECT url, 0 AS section_idx, CAST(NULL AS VARCHAR) AS title,
         trim(regexp_replace(regexp_replace(f[1], '<[^>]+>', ' ', 'g'),
                             '\s+', ' ', 'g')) AS body
  FROM base
)
SELECT * FROM pre WHERE body <> ''
UNION ALL SELECT * FROM sec
ORDER BY url, section_idx
"""


def _q_crawl_roi(spark, sf_dir):
    """Crawl ROI per host: bytes fetched per extracted token - the
    operational efficiency ranking that decides which hosts deserve
    budget (a host serving 1 MB pages yielding 50 tokens of text is
    paying for boilerplate; the inverse of the freshness value models).
    (host, n_pages, bytes_fetched, tokens_extracted, tokens_per_mib,
    rank) - exact integers, floor ratios, dense rank by ROI desc with
    host tie-break. Fixture derives page bytes and token yields from
    event arithmetic so every number is ground truth by construction."""
    e = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), (F.col("user_id") % 15).cast("string"))
    page_bytes = (F.col("event_id") % 900 + 100) * F.lit(64)
    tokens = F.when(
        F.col("user_id") % 15 < 3, (F.col("event_id") % 20)
    ).otherwise(F.col("event_id") % 400 + 50)
    per = (
        e.select(host.alias("host"), page_bytes.alias("b"),
                 tokens.alias("t"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.sum("b").cast("long").alias("bytes_fetched"),
            F.sum("t").cast("long").alias("tokens_extracted"),
        )
    )
    tpm = F.floor(
        F.col("tokens_extracted") * F.lit(1048576) / F.col("bytes_fetched")
    ).cast("long")
    w = Window.orderBy(F.desc("tokens_per_mib"), "host")
    return (
        per.withColumn("tokens_per_mib", tpm)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .orderBy("rank")
    )


_SQL_CRAWL_ROI = """
WITH per AS (
  SELECT concat('h', CAST(user_id % 15 AS VARCHAR)) AS host,
         CAST(COUNT(*) AS BIGINT) AS n_pages,
         CAST(SUM((event_id % 900 + 100) * 64) AS BIGINT) AS bytes_fetched,
         CAST(SUM(CASE WHEN user_id % 15 < 3 THEN event_id % 20
                       ELSE event_id % 400 + 50 END) AS BIGINT)
           AS tokens_extracted
  FROM events GROUP BY 1
),
r AS (
  SELECT host, n_pages, bytes_fetched, tokens_extracted,
         CAST(floor(tokens_extracted * 1048576 / bytes_fetched) AS BIGINT)
           AS tokens_per_mib
  FROM per
)
SELECT host, n_pages, bytes_fetched, tokens_extracted, tokens_per_mib,
       CAST(row_number() OVER (ORDER BY tokens_per_mib DESC, host)
            AS BIGINT) AS rank
FROM r ORDER BY rank
"""


def _q_politeness_audit(spark, sf_dir):
    """Politeness COMPLIANCE audit over an executed fetch log - the
    after-the-fact check that the scheduler's promises held (the f3
    family plans delays; this verifies a log against the policy, the
    thing an operator greps when a webmaster complains): per host,
    fetch gaps under the 2000 ms policy are violations. Fixture plants
    violations deterministically (every 7th gap on hosts user_id%10<2
    is 500 ms). Exact integer milliseconds, lag window per host, counts
    + worst gap + violation_milli rate."""
    e = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), (F.col("user_id") % 10).cast("string"))
    seq = F.row_number().over(
        Window.partitionBy(F.col("user_id") % 10).orderBy("event_id")
    )
    gap_ms = F.when(
        (F.col("user_id") % 10 < 2) & (seq % 7 == 0), F.lit(500)
    ).otherwise(F.lit(2000) + (F.col("event_id") % 1000))
    log = e.select(host.alias("host"), seq.alias("seq"),
                   gap_ms.alias("gap_ms"))
    viol = F.when((F.col("seq") > 1) & (F.col("gap_ms") < 2000), 1).otherwise(0)
    per = (
        log.select("host", "seq", "gap_ms", viol.alias("v"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
            F.sum("v").cast("long").alias("n_violations"),
            F.min(F.when(F.col("seq") > 1, F.col("gap_ms")))
            .cast("long").alias("worst_gap_ms"),
        )
    )
    return per.select(
        "host", "n_fetches", "n_violations", "worst_gap_ms",
        F.floor(
            F.lit(1000) * F.col("n_violations") / (F.col("n_fetches") - 1)
        ).cast("long").alias("violation_milli"),
    ).orderBy("host")


_SQL_POLITENESS_AUDIT = """
WITH log AS (
  SELECT concat('h', CAST(user_id % 10 AS VARCHAR)) AS host,
         row_number() OVER (PARTITION BY user_id % 10 ORDER BY event_id)
           AS seq,
         user_id, event_id
  FROM events
),
g AS (
  SELECT host, seq,
         CASE WHEN user_id % 10 < 2 AND seq % 7 = 0 THEN 500
              ELSE 2000 + event_id % 1000 END AS gap_ms
  FROM log
),
per AS (
  SELECT host,
         CAST(COUNT(*) AS BIGINT) AS n_fetches,
         CAST(SUM(CASE WHEN seq > 1 AND gap_ms < 2000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_violations,
         CAST(MIN(CASE WHEN seq > 1 THEN gap_ms END) AS BIGINT)
           AS worst_gap_ms
  FROM g GROUP BY host
)
SELECT host, n_fetches, n_violations, worst_gap_ms,
       CAST(floor(1000 * n_violations / (n_fetches - 1)) AS BIGINT)
         AS violation_milli
FROM per ORDER BY host
"""


def _q_cluster_size_histogram(spark, sf_dir):
    """Near-dup cluster-size histogram - the standard dedup report
    (how much of the corpus sits in clusters of size k; FineWeb/RefinedWeb
    publish exactly this curve): certified min-label components over a
    planted pair graph (one 12-doc mega-cluster + doc_id%50-keyed small
    clusters), rolled to (cluster_size, n_clusters, n_docs). Exact
    integers; oracle recomputes via recursive closure."""
    from web_crawler_spark.operators import dedup as DD

    e = _t(spark, sf_dir, "events")
    small = e.select(
        F.concat(F.lit("d"), (F.col("event_id") % 50).cast("string"))
        .alias("id_a"),
        F.concat(F.lit("d"),
                 ((F.col("event_id") % 50) + (F.col("event_id") % 2) * 50)
                 .cast("string")).alias("id_b"),
    )
    mega = spark.createDataFrame(
        [(f"m{i}", f"m{i+1}") for i in range(11)],
        "id_a string, id_b string",
    )
    pairs = small.unionByName(mega).filter(
        F.col("id_a") != F.col("id_b")
    ).distinct()
    labels = DD.dedup_clusters(pairs)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        sizes.groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size", "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


_SQL_CLUSTER_SIZE_HISTOGRAM = """
WITH RECURSIVE ep AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT concat('d', CAST(event_id % 50 AS VARCHAR)) AS id_a,
           concat('d', CAST(event_id % 50 + (event_id % 2) * 50
                            AS VARCHAR)) AS id_b
    FROM events
    UNION ALL
    SELECT concat('m', CAST(i AS VARCHAR)),
           concat('m', CAST(i + 1 AS VARCHAR))
    FROM unnest(generate_series(0, 10)) AS t(i)
  ) WHERE id_a <> id_b
),
e AS (SELECT id_a AS u, id_b AS v FROM ep UNION SELECT id_b, id_a FROM ep),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
reach AS (
  SELECT node, node AS peer FROM nodes
  UNION
  SELECT r.node, e.v FROM reach r JOIN e ON e.u = r.peer
),
comp AS (SELECT node, MIN(peer) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(sz * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY sz ORDER BY cluster_size
"""


def _q_page_meta(spark, sf_dir):
    """Page metadata table - <title> + meta description (+ canonical
    href): the SERP-field triple every index stores beside the og: tags
    (plans/structured.opengraph_tags covers the social variants; this
    covers the HTML-native ones). First title wins, whole-tag isolation
    for the metas so attribute order never matters, tag-stripped +
    whitespace-collapsed values; zero shuffles, RE2 shared with the
    oracle."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    html = F.concat(
        F.lit("<head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" | Site</title>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit('<meta name="description" content="Summary '),
                     (F.col("doc_id") % 13).cast("string"), F.lit('">')),
        ).otherwise(
            F.concat(F.lit('<meta content="Alt '),
                     (F.col("doc_id") % 7).cast("string"),
                     F.lit('" name="description">')),
        ),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit('<link rel="canonical" href="https://c.example.com/'),
                     F.col("doc_id").cast("string"), F.lit('">')),
        ).otherwise(F.lit("")),
        F.lit("</head>"),
    )
    pages = d.select(
        F.concat(F.lit("https://pm.example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        html.alias("html"),
    )
    title = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_extract("html", r"(?is)<title[^>]*>(.*?)</title>", 1),
                "<[^>]+>", " "),
            r"\s+", " "))
    desc_tag = F.regexp_extract(
        "html", r'(?is)<meta\s[^>]*name="description"[^>]*>', 0)
    desc = F.when(
        desc_tag != "", F.regexp_extract(desc_tag, r'content="([^"]*)"', 1)
    )
    canon_tag = F.regexp_extract(
        "html", r'(?is)<link\s[^>]*rel="canonical"[^>]*>', 0)
    canon = F.when(
        canon_tag != "", F.regexp_extract(canon_tag, r'href="([^"]*)"', 1)
    )
    return pages.select(
        "url", title.alias("title"), desc.alias("description"),
        canon.alias("canonical"),
    ).orderBy("url")


_SQL_PAGE_META = r"""
WITH pages AS (
  SELECT concat('https://pm.example.com/p/', CAST(doc_id AS VARCHAR)) AS url,
         concat('<head><title>Doc ', CAST(doc_id AS VARCHAR),
                ' | Site</title>',
                CASE WHEN doc_id % 2 = 0
                     THEN concat('<meta name="description" content="Summary ',
                                 CAST(doc_id % 13 AS VARCHAR), '">')
                     ELSE concat('<meta content="Alt ',
                                 CAST(doc_id % 7 AS VARCHAR),
                                 '" name="description">') END,
                CASE WHEN doc_id % 3 = 0
                     THEN concat('<link rel="canonical" ',
                                 'href="https://c.example.com/',
                                 CAST(doc_id AS VARCHAR), '">')
                     ELSE '' END,
                '</head>') AS html
  FROM documents WHERE doc_id < 300
)
SELECT url,
       trim(regexp_replace(regexp_replace(
           regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
           '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS title,
       CASE WHEN regexp_extract(html,
                '(?is)<meta\s[^>]*name="description"[^>]*>', 0) <> ''
            THEN regexp_extract(regexp_extract(html,
                '(?is)<meta\s[^>]*name="description"[^>]*>', 0),
                'content="([^"]*)"', 1) END AS description,
       CASE WHEN regexp_extract(html,
                '(?is)<link\s[^>]*rel="canonical"[^>]*>', 0) <> ''
            THEN regexp_extract(regexp_extract(html,
                '(?is)<link\s[^>]*rel="canonical"[^>]*>', 0),
                'href="([^"]*)"', 1) END AS canonical
FROM pages ORDER BY url
"""


def _q_dust_rewrite(spark, sf_dir):
    """DUST mine-then-rewrite end to end (operators/urlfilter.
    insignificant_params -> dust_rewrite; Bar-Yossef et al. 2007): mine
    which params never change content on the certified dust fixture
    (sid/utm must mine insignificant, page must stay), strip them
    corpus-wide, report the URL-space collapse - (params_stripped,
    n_urls, n_canonical, saved_milli): distinct (path,page,sid,utm)
    URL variants collapse to distinct (path,page) canonicals. The mined
    rule list is a bounded driver artifact; the oracle states the
    construction's ground truth."""
    from web_crawler_spark.operators import urlfilter as UF

    e = _t(spark, sf_dir, "events")
    pid = (F.col("event_id") % 11).cast("string")
    page = (F.col("event_id") % 5).cast("string")
    sid = (F.col("event_id") % 7).cast("string")
    utm = (F.col("event_id") % 3).cast("string")
    pages = e.select(
        F.concat(F.lit("https://h.com/p/"), pid, F.lit("?page="), page,
                 F.lit("&sid="), sid, F.lit("&utm="), utm).alias("url"),
        F.md5(F.concat(F.lit("content-"), pid, F.lit("-"), page)
              ).alias("fingerprint"),
    )
    mined = UF.insignificant_params(pages)
    rules = sorted(
        r["param"] for r in mined.filter(F.col("insignificant")).collect()
    )
    rewritten = UF.dust_rewrite(pages, rules)
    return rewritten.agg(
        F.lit(",".join(rules)).alias("params_stripped"),
        F.countDistinct("url").cast("long").alias("n_urls"),
        F.countDistinct("canonical_url").cast("long").alias("n_canonical"),
        F.floor(
            F.lit(1000)
            * (F.countDistinct("url") - F.countDistinct("canonical_url"))
            / F.countDistinct("url")
        ).cast("long").alias("saved_milli"),
    )


_SQL_DUST_REWRITE = """
WITH u AS (
  SELECT DISTINCT event_id % 11 AS pid, event_id % 5 AS page,
                  event_id % 7 AS sid, event_id % 3 AS utm
  FROM events
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_urls,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM
            (SELECT DISTINCT pid, page FROM u)) AS n_canonical
  FROM u
)
SELECT 'sid,utm' AS params_stripped, n_urls, n_canonical,
       CAST(floor(1000 * (n_urls - n_canonical) / n_urls) AS BIGINT)
         AS saved_milli
FROM c
"""


def _q_ct_langid(spark, sf_dir):
    """Cavnar-Trenkle rank-order n-gram language ID (operators/corpus.
    cavnar_trenkle_profiles/_classify; SDAIR 1994 - the textcat
    algorithm, a genuinely different method from the stopword/script
    langid, so the engine carries both classic families): profiles from
    the doc_id%10<8 slice at k=30 char-3-grams, all docs classified by
    out-of-place distance with the k-penalty realized arithmetically
    (inner gram join only, no per-language replication, no cross join).
    EXACT integer algebra end to end - the full train+classify chain
    replays in SQL."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 < 8)
    prof = C.cavnar_trenkle_profiles(train, k=30)
    return C.cavnar_trenkle_classify(d, prof, k=30).orderBy("doc_id")


_SQL_CT_LANGID = """
WITH tr AS (
  SELECT lang, lower(text) AS t FROM documents WHERE doc_id % 10 < 8
),
tg AS (
  SELECT lang, substr(t, CAST(i AS INT), 3) AS gram
  FROM tr, LATERAL unnest(generate_series(1, greatest(length(t) - 2, 0)))
       AS x(i)
),
lc AS (SELECT lang, gram, COUNT(*) AS c FROM tg GROUP BY 1, 2),
lp AS (
  SELECT lang, gram, rank FROM (
    SELECT lang, gram,
           row_number() OVER (PARTITION BY lang ORDER BY c DESC, gram)
             AS rank
    FROM lc) WHERE rank <= 30
),
dd AS (SELECT doc_id, lower(text) AS t FROM documents),
dgr AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram
  FROM dd, LATERAL unnest(generate_series(1, greatest(length(t) - 2, 0)))
       AS x(i)
),
dc AS (SELECT doc_id, gram, COUNT(*) AS c FROM dgr GROUP BY 1, 2),
dp AS (
  SELECT doc_id, gram, drank FROM (
    SELECT doc_id, gram,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram)
             AS drank
    FROM dc) WHERE drank <= 30
),
ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM dp GROUP BY doc_id),
matched AS (
  SELECT dp.doc_id, lp.lang,
         SUM(abs(dp.drank - lp.rank)) AS s_disp,
         COUNT(*) AS n_matched
  FROM dp JOIN lp USING (gram)
  GROUP BY 1, 2
),
dist AS (
  SELECT m.doc_id, m.lang,
         CAST(m.s_disp + 30 * (ng.n_grams - m.n_matched) AS BIGINT) AS dist
  FROM matched m JOIN ng USING (doc_id)
),
best AS (
  SELECT doc_id, lang AS predicted_lang, dist AS best_dist FROM (
    SELECT doc_id, lang, dist,
           row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang)
             AS rn
    FROM dist) WHERE rn = 1
)
SELECT d.doc_id, b.predicted_lang, b.best_dist
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN best b USING (doc_id)
ORDER BY d.doc_id
"""


def _q_robots_scan(spark, sf_dir):
    """Real-bytes robots.txt ingest (sources/robots.robots_scan): the
    reference fixture bodies written as a <host>.txt cache-dump
    directory, re-ingested through the binaryFile + mapInPandas scan and
    parsed to rule rows - closing the real-bytes loop for the robots
    source exactly as sitemap/xlsx/WARC/ARC close theirs. The oracle
    states the four bodies' RFC 9309 parse as ground truth (group
    resets, empty-Disallow skip, crawl-delay emission order, unknown
    directives ignored, zero rows for the allow-all host)."""
    import tempfile

    from web_crawler_spark.sources.robots import ROBOTS_BODIES, robots_scan

    d = tempfile.mkdtemp(prefix="robots_scan_")
    for host, body in ROBOTS_BODIES.items():
        with open(os.path.join(d, f"{host}.txt"), "w") as f:
            f.write(body)
    return robots_scan(spark, d).orderBy(
        "host", "agent", "rule", "path_prefix"
    )


_SQL_ROBOTS_SCAN = """
SELECT * FROM (VALUES
  ('data.worldbank.org', '*', 'disallow', '/seed/1',
   CAST(NULL AS DOUBLE)),
  ('finance.sina.com.cn', '*', 'disallow', '/', CAST(NULL AS DOUBLE)),
  ('finance.sina.com.cn', 'sparkcrawl', 'crawl-delay', '', 0.5),
  ('finance.sina.com.cn', 'sparkcrawl', 'disallow', '/internal/',
   CAST(NULL AS DOUBLE)),
  ('markets.businessinsider.com', '*', 'allow', '/private/public-annex/',
   CAST(NULL AS DOUBLE)),
  ('markets.businessinsider.com', '*', 'crawl-delay', '', 1.0),
  ('markets.businessinsider.com', '*', 'disallow', '/private/',
   CAST(NULL AS DOUBLE))
) v(host, agent, rule, path_prefix, crawl_delay)
ORDER BY host, agent, rule, path_prefix
"""


def _q_sitemap_coverage(spark, sf_dir):
    """Sitemap-vs-crawl coverage audit per host: how much of what the
    site DECLARES did we fetch (declared_coverage_milli), and how much
    of what we fetched was never declared (orphan_milli) - the two
    numbers a crawl-ops review reads before re-budgeting a host (low
    coverage = we are missing declared content; high orphan rate = the
    sitemap is stale or the site leaks undeclared URLs). Fixture:
    declared = event_id%600 per host, crawled = event_id%500 shifted by
    100, so the overlap (100..499), the undeclared tail and the
    uncrawled tail are all exact by construction; full outer join on
    (host, path), exact integers end to end."""
    e = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), (F.col("user_id") % 8).cast("string"))
    declared = e.select(
        host.alias("host"),
        (F.col("event_id") % 600).cast("long").alias("path"),
    ).distinct()
    crawled = e.select(
        host.alias("host"),
        ((F.col("event_id") % 500) + 100).cast("long").alias("path"),
    ).distinct()
    j = declared.withColumn("d", F.lit(1)).join(
        crawled.withColumn("c", F.lit(1)), ["host", "path"], "full_outer"
    )
    per = j.groupBy("host").agg(
        F.sum(F.coalesce("d", F.lit(0))).cast("long").alias("n_declared"),
        F.sum(F.coalesce("c", F.lit(0))).cast("long").alias("n_crawled"),
        F.sum(
            F.when(F.col("d").isNotNull() & F.col("c").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_both"),
    )
    return per.select(
        "host", "n_declared", "n_crawled", "n_both",
        F.floor(F.lit(1000) * F.col("n_both") / F.col("n_declared"))
        .cast("long").alias("declared_coverage_milli"),
        F.floor(
            F.lit(1000) * (F.col("n_crawled") - F.col("n_both"))
            / F.col("n_crawled")
        ).cast("long").alias("orphan_milli"),
    ).orderBy("host")


_SQL_SITEMAP_COVERAGE = """
WITH d AS (
  SELECT DISTINCT concat('h', CAST(user_id % 8 AS VARCHAR)) AS host,
                  CAST(event_id % 600 AS BIGINT) AS path
  FROM events
),
c AS (
  SELECT DISTINCT concat('h', CAST(user_id % 8 AS VARCHAR)) AS host,
                  CAST(event_id % 500 + 100 AS BIGINT) AS path
  FROM events
),
j AS (
  SELECT COALESCE(d.host, c.host) AS host,
         CASE WHEN d.path IS NOT NULL THEN 1 ELSE 0 END AS dd,
         CASE WHEN c.path IS NOT NULL THEN 1 ELSE 0 END AS cc
  FROM d FULL OUTER JOIN c ON c.host = d.host AND c.path = d.path
),
per AS (
  SELECT host, CAST(SUM(dd) AS BIGINT) AS n_declared,
         CAST(SUM(cc) AS BIGINT) AS n_crawled,
         CAST(SUM(CASE WHEN dd = 1 AND cc = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_both
  FROM j GROUP BY host
)
SELECT host, n_declared, n_crawled, n_both,
       CAST(floor(1000 * n_both / n_declared) AS BIGINT)
         AS declared_coverage_milli,
       CAST(floor(1000 * (n_crawled - n_both) / n_crawled) AS BIGINT)
         AS orphan_milli
FROM per ORDER BY host
"""


def _q_pagerank_degree_corr(spark, sf_dir):
    """Spearman rank correlation between in-degree and PageRank over the
    host graph - the classic 'is PageRank just in-degree?' measurement
    (Fortunato et al. 2008 studied exactly this; a crawl scheduler whose
    rho ~ 1 can prioritize by cheap in-degree and skip the iteration).
    Deterministic row_number ranks with node tie-break (declared variant
    of the tied-rank formula), rho = 1 - 6*sum(d^2)/(n(n^2-1)) from exact
    integer sums in ONE rounded double expression. Oracle: the unrolled
    pagerank chain grown a spearman tail, ordering by the same round-6
    ranks the Spark side returns."""
    from web_crawler_spark.operators import graph as G

    edges = G.host_graph(_host_edges(spark, sf_dir))
    pr = G.pagerank(edges, iterations=10)
    indeg = edges.groupBy(F.col("dst_host").alias("node")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    nodes = pr.join(indeg, "node", "left").select(
        "node", "rank", F.coalesce("indeg", F.lit(0)).alias("indeg")
    )
    w_pr = Window.orderBy(F.desc("rank"), "node")
    w_dg = Window.orderBy(F.desc("indeg"), "node")
    ranked = nodes.select(
        "node",
        F.row_number().over(w_pr).alias("pr_rank"),
        F.row_number().over(w_dg).alias("deg_rank"),
    )
    d2 = (F.col("pr_rank") - F.col("deg_rank")) * (
        F.col("pr_rank") - F.col("deg_rank")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(d2), F.lit(0)).cast("long").alias("sd2"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        "n", "sd2",
        F.when(
            F.col("n") >= 2,
            F.round(
                F.lit(1.0)
                - F.lit(6.0) * F.col("sd2").cast("double")
                / (n * (n * n - F.lit(1.0))),
                6,
            ),
        ).alias("spearman_rho"),
    )


def _q_entity_decode(spark, sf_dir):
    """Named-HTML-entity decode (functions/text.decode_entities - the
    extraction-hygiene pass keeping &amp;/&nbsp; out of training text;
    numeric references are a declared subset exclusion): fixture plants
    entity runs incl. a double-escaped '&amp;lt;' that must decode
    exactly ONE layer (to '&lt;', never '<'). The oracle chain is
    GENERATED from the same HTML_ENTITIES table."""
    from web_crawler_spark.functions import text as T

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    body = F.concat(
        F.lit("Tom &amp; Jerry&nbsp;&mdash;&nbsp;&ldquo;S"),
        (F.col("doc_id") % 9).cast("string"),
        F.lit("&rdquo; &amp;lt;tag&amp;gt; &copy;"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit(" "),
        F.col("text"),
    )
    return d.select(
        "doc_id", T.decode_entities(body).alias("decoded")
    ).orderBy("doc_id")


def _entity_decode_sql() -> str:
    from web_crawler_spark.functions.text import HTML_ENTITIES

    expr = "concat('Tom &amp; Jerry&nbsp;&mdash;&nbsp;&ldquo;S', " \
           "CAST(doc_id % 9 AS VARCHAR), " \
           "'&rdquo; &amp;lt;tag&amp;gt; &copy;', " \
           "CAST(doc_id % 4 AS VARCHAR), ' ', text)"
    for ent, rep in HTML_ENTITIES:
        rq = rep.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{rq}')"
    return f"""
SELECT doc_id, {expr} AS decoded
FROM documents WHERE doc_id < 300 ORDER BY doc_id
"""


def _q_rich_club(spark, sf_dir):
    """Rich-club coefficient phi(k) (Zhou & Mondragon 2004; Colizza et
    al. Nature Physics 2006): do high-degree hosts link preferentially
    to EACH OTHER? - the hub-collusion reading of the host graph (a
    link-farm core shows up as phi spiking at high k; the structural
    sibling of trawl_cores' bipartite stamp). Undirected simple graph,
    degree > k membership for k in {1,2,4,8,16}, phi = 2*E_k /
    (N_k(N_k-1)); exact integer sufficient statistics, one rounded
    double per k. Same heavy-tailed fixture as the power-law queries."""
    e = _t(spark, sf_dir, "events")
    u = (F.col("event_id") * F.lit(31153)) % F.lit(65536)
    raw = e.select(
        F.concat(F.lit("s"), (F.col("event_id") % 97).cast("string"))
        .alias("a"),
        F.concat(F.lit("d"),
                 F.floor(F.lit(65536.0) / (u + F.lit(1))).cast("string"))
        .alias("b"),
    )
    und = raw.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    ).filter(F.col("x") != F.col("y")).distinct().localCheckpoint()
    deg = (
        und.select(F.col("x").alias("node"))
        .unionByName(und.select(F.col("y").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    )
    ks = [1, 2, 4, 8, 16]
    frames = []
    for k in ks:
        rich = deg.filter(F.col("d") > k).select("node")
        ek = (
            und.join(rich.withColumnRenamed("node", "x"), "x")
            .join(rich.withColumnRenamed("node", "y"), "y")
        )
        frames.append(
            rich.agg(F.count(F.lit(1)).cast("long").alias("n_rich"))
            .withColumn("__k", F.lit(1))
            .join(
                ek.agg(F.count(F.lit(1)).cast("long").alias("e_rich"))
                .withColumn("__k", F.lit(1)),
                "__k",
            )
            .select(
                F.lit(k).cast("long").alias("k"),
                "n_rich", "e_rich",
                F.when(
                    F.col("n_rich") >= 2,
                    F.round(
                        F.lit(2.0) * F.col("e_rich").cast("double")
                        / (F.col("n_rich").cast("double")
                           * (F.col("n_rich").cast("double") - F.lit(1.0))),
                        6,
                    ),
                ).alias("phi"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("k")


_SQL_RICH_CLUB = """
WITH raw AS (
  SELECT concat('s', CAST(event_id % 97 AS VARCHAR)) AS a,
         concat('d', CAST(CAST(floor(65536.0 /
             ((event_id * 31153) % 65536 + 1)) AS BIGINT) AS VARCHAR)) AS b
  FROM events
),
und AS (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM raw WHERE a <> b
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT x AS node FROM und UNION ALL SELECT y FROM und)
  GROUP BY node
),
ks AS (SELECT unnest([1, 2, 4, 8, 16]) AS k),
stats AS (
  SELECT k.k,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d > k.k) AS n_rich,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM und u
          JOIN deg dx ON dx.node = u.x AND dx.d > k.k
          JOIN deg dy ON dy.node = u.y AND dy.d > k.k) AS e_rich
  FROM ks k
)
SELECT CAST(k AS BIGINT) AS k, n_rich, e_rich,
       CASE WHEN n_rich >= 2 THEN
         ROUND(2.0 * CAST(e_rich AS DOUBLE)
               / (CAST(n_rich AS DOUBLE) * (CAST(n_rich AS DOUBLE) - 1.0)),
               6) END AS phi
FROM stats ORDER BY k
"""


def _q_knn_degree_curve(spark, sf_dir):
    """Average-neighbor-degree curve k_nn(k) (Pastor-Satorras, Vazquez &
    Vespignani PRL 2001) - the full disassortativity CURVE behind
    gr_graph_summary's single assortativity number (web graphs: k_nn
    falls with k, hubs attach to the fringe; a flat or rising tail at
    high k is hub collusion, the rich-club signal read degree-by-
    degree). Symmetrized simple graph; per degree value k: the mean over
    all edge endpoints of degree k of the other endpoint's degree,
    reported as exact integer sums plus floor-milli mean - no float
    accumulation anywhere. Same heavy-tailed fixture as the power-law
    family."""
    e = _t(spark, sf_dir, "events")
    u = (F.col("event_id") * F.lit(31153)) % F.lit(65536)
    raw = e.select(
        F.concat(F.lit("s"), (F.col("event_id") % 97).cast("string"))
        .alias("a"),
        F.concat(F.lit("d"),
                 F.floor(F.lit(65536.0) / (u + F.lit(1))).cast("string"))
        .alias("b"),
    )
    und = raw.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    ).filter(F.col("x") != F.col("y")).distinct()
    sym = und.unionByName(
        und.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).localCheckpoint()
    deg = (
        sym.groupBy(F.col("x").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()
    )
    j = (
        sym.join(deg.select(F.col("node").alias("x"),
                            F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("node").alias("y"),
                         F.col("d").alias("dy")), "y")
    )
    per = j.groupBy(F.col("dx").cast("long").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("n_endpoints"),
        F.sum("dy").cast("long").alias("sum_nbr_deg"),
    )
    return per.select(
        "k", "n_endpoints", "sum_nbr_deg",
        F.floor(F.lit(1000) * F.col("sum_nbr_deg") / F.col("n_endpoints"))
        .cast("long").alias("knn_milli"),
    ).orderBy("k")


_SQL_KNN_DEGREE_CURVE = """
WITH raw AS (
  SELECT concat('s', CAST(event_id % 97 AS VARCHAR)) AS a,
         concat('d', CAST(CAST(floor(65536.0 /
             ((event_id * 31153) % 65536 + 1)) AS BIGINT) AS VARCHAR)) AS b
  FROM events
),
und AS (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM raw WHERE a <> b
),
sym AS (SELECT x, y FROM und UNION ALL SELECT y, x FROM und),
deg AS (SELECT x AS node, COUNT(*) AS d FROM sym GROUP BY x),
j AS (
  SELECT dx.d AS k, dy.d AS dy
  FROM sym s JOIN deg dx ON dx.node = s.x JOIN deg dy ON dy.node = s.y
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_endpoints,
       CAST(SUM(dy) AS BIGINT) AS sum_nbr_deg,
       CAST(floor(1000 * SUM(dy) / COUNT(*)) AS BIGINT) AS knn_milli
FROM j GROUP BY k ORDER BY k
"""


def _q_numeric_entities(spark, sf_dir):
    """Numeric character-reference decode (functions/text.
    decode_numeric_entities - closes tx_entity_decode's declared
    subset): split on the reference pattern, convert per match (hex via
    base conversion; Spark's char() is mod-256 so the codepoint is
    rebuilt as UTF-8 BYTES arithmetically and decoded), interleave back
    with an ordered fold. Invalid codepoints (0, surrogates, >10FFFF)
    keep their literal reference. Fixture plants decimal em-dash, hex
    euro, a 4-byte emoji, Cyrillic, and all three invalid classes."""
    from web_crawler_spark.functions import text as T

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    body = F.concat(
        F.lit("v&#8212;"),
        (F.col("doc_id") % 9).cast("string"),
        F.lit(" &#x20AC;"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("&#x1F600;")).otherwise(
            F.lit("&#1088;")
        ),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit(" bad&#0;&#xD800;&#1114112;")).otherwise(F.lit("")),
        F.lit(" "),
        F.col("text"),
    )
    return d.select(
        "doc_id", T.decode_numeric_entities(body).alias("decoded")
    ).orderBy("doc_id")


_SQL_NUMERIC_ENTITIES = r"""
WITH b AS (
  SELECT doc_id,
         concat('v&#8212;', CAST(doc_id % 9 AS VARCHAR), ' &#x20AC;',
                CASE WHEN doc_id % 3 = 0 THEN '&#x1F600;'
                     ELSE '&#1088;' END,
                CASE WHEN doc_id % 5 = 0
                     THEN ' bad&#0;&#xD800;&#1114112;' ELSE '' END,
                ' ', text) AS t
  FROM documents WHERE doc_id < 300
),
p AS (
  SELECT doc_id, t,
         string_split_regex(t, '&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};')
           AS frags,
         regexp_extract_all(t,
           '(&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};)', 1) AS ents
  FROM b
)
SELECT doc_id,
  CASE WHEN len(ents) = 0 THEN t ELSE
    frags[1] || list_reduce(
      list_transform(range(1, len(ents) + 1), i ->
        (CASE WHEN (CASE WHEN upper(substr(ents[i], 3, 1)) = 'X' THEN TRY_CAST(concat('0x', substr(ents[i], 4, len(ents[i]) - 4)) AS BIGINT) ELSE TRY_CAST(substr(ents[i], 3, len(ents[i]) - 3) AS BIGINT) END) IS NOT NULL
                   AND (CASE WHEN upper(substr(ents[i], 3, 1)) = 'X' THEN TRY_CAST(concat('0x', substr(ents[i], 4, len(ents[i]) - 4)) AS BIGINT) ELSE TRY_CAST(substr(ents[i], 3, len(ents[i]) - 3) AS BIGINT) END) BETWEEN 1 AND 1114111
                   AND NOT ((CASE WHEN upper(substr(ents[i], 3, 1)) = 'X' THEN TRY_CAST(concat('0x', substr(ents[i], 4, len(ents[i]) - 4)) AS BIGINT) ELSE TRY_CAST(substr(ents[i], 3, len(ents[i]) - 3) AS BIGINT) END) BETWEEN 55296 AND 57343)
              THEN chr(CAST((CASE WHEN upper(substr(ents[i], 3, 1)) = 'X' THEN TRY_CAST(concat('0x', substr(ents[i], 4, len(ents[i]) - 4)) AS BIGINT) ELSE TRY_CAST(substr(ents[i], 3, len(ents[i]) - 3) AS BIGINT) END) AS INT))
              ELSE ents[i] END) || frags[i + 1]),
      (a, b) -> a || b)
  END AS decoded
FROM p ORDER BY doc_id
"""


def _q_langid_confidence(spark, sf_dir):
    """Language-ID confidence margin (the CCNet practice of keeping only
    CONFIDENT language assignments; a doc whose top-two stopword scores
    tie is 'unknown-ish' regardless of the argmax): best and runner-up
    stopword hit counts via a sorted hit array, margin = best - second,
    confident = margin >= 2 AND best > 0 - exact integers, composing
    the certified langid machinery. Oracle: the generated hit
    expressions + list-sort replay."""
    from web_crawler_spark.functions import text as T

    d = _t(spark, sf_dir, "documents")
    hits = [
        T.stopword_hits(F.col("text"), lang) for lang in sorted(T.STOPWORDS)
    ]
    arr = F.sort_array(F.array(*hits), asc=False)
    best, second = arr[0], arr[1]
    return d.select(
        "doc_id",
        T.detect_language(F.col("text")).alias("predicted_lang"),
        best.cast("long").alias("best_hits"),
        second.cast("long").alias("second_hits"),
        (best - second).cast("long").alias("margin"),
        ((best - second >= 2) & (best > 0)).alias("confident"),
    ).orderBy("doc_id")


def _langid_confidence_sql() -> str:
    hit_exprs, case = _langid_pieces()
    langs = sorted(T.STOPWORDS)
    arr = "list_sort([" + ", ".join(f"h_{l}" for l in langs) + \
          "], 'DESC')"
    return f"""
WITH h AS (SELECT doc_id, lang, {", ".join(hit_exprs)} FROM documents),
s AS (
  SELECT doc_id, {case} AS predicted_lang,
         {arr}[1] AS best, {arr}[2] AS second
  FROM h
)
SELECT doc_id, predicted_lang,
       CAST(best AS BIGINT) AS best_hits,
       CAST(second AS BIGINT) AS second_hits,
       CAST(best - second AS BIGINT) AS margin,
       (best - second >= 2 AND best > 0) AS confident
FROM s ORDER BY doc_id
"""


def _q_query_key_stats(spark, sf_dir):
    """Corpus-wide query-parameter frequency table - which params
    dominate the URL space (the prioritization feed for DUST mining:
    mine the heavy params first; also the tracking-param census every
    crawl ops review starts from). (param, n_urls, n_hosts,
    url_share_milli) in exact integers; params exploded from the query
    string, one (param)-keyed agg after a distinct collapse."""
    e = _t(spark, sf_dir, "events")
    h = (F.col("user_id") % 23).cast("string")
    url = F.concat(
        F.lit("https://k"), h, F.lit(".com/p/"),
        (F.col("event_id") % 400).cast("string"),
        F.lit("?page="), (F.col("event_id") % 5).cast("string"),
        F.when(F.col("event_id") % 2 == 0,
               F.concat(F.lit("&utm_source=s"),
                        (F.col("event_id") % 3).cast("string")))
        .otherwise(F.lit("")),
        F.when(F.col("event_id") % 7 == 0,
               F.concat(F.lit("&sid="),
                        (F.col("event_id") % 97).cast("string")))
        .otherwise(F.lit("")),
    )
    pages = e.select(url.alias("url"), F.concat(F.lit("k"), h).alias("host"))
    n_urls_total = pages.select("url").distinct().count()
    params = (
        pages.select(
            "url", "host",
            F.explode(
                F.split(
                    F.coalesce(
                        F.try_parse_url(F.col("url"), F.lit("QUERY")),
                        F.lit(""),
                    ),
                    "&",
                )
            ).alias("kv"),
        )
        .filter(F.col("kv") != "")
        .select(
            "url", "host",
            F.substring_index(F.col("kv"), "=", 1).alias("param"),
        )
        .distinct()
    )
    return (
        params.groupBy("param")
        .agg(
            F.countDistinct("url").cast("long").alias("n_urls"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
        .select(
            "param", "n_urls", "n_hosts",
            F.floor(F.lit(1000) * F.col("n_urls") / F.lit(int(n_urls_total)))
            .cast("long").alias("url_share_milli"),
        )
        .orderBy("param")
    )


_SQL_QUERY_KEY_STATS = r"""
WITH pages AS (
  SELECT DISTINCT
    concat('https://k', CAST(user_id % 23 AS VARCHAR), '.com/p/',
           CAST(event_id % 400 AS VARCHAR),
           '?page=', CAST(event_id % 5 AS VARCHAR),
           CASE WHEN event_id % 2 = 0
                THEN concat('&utm_source=s', CAST(event_id % 3 AS VARCHAR))
                ELSE '' END,
           CASE WHEN event_id % 7 = 0
                THEN concat('&sid=', CAST(event_id % 97 AS VARCHAR))
                ELSE '' END) AS url,
    concat('k', CAST(user_id % 23 AS VARCHAR)) AS host
  FROM events
),
tot AS (SELECT CAST(COUNT(DISTINCT url) AS BIGINT) AS n FROM pages),
kv AS (
  SELECT DISTINCT url, host,
         string_split(p, '=')[1] AS param
  FROM (SELECT url, host,
               unnest(string_split(
                 regexp_extract(url, '\?(.*)$', 1), '&')) AS p
        FROM pages)
  WHERE p <> ''
)
SELECT param,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(floor(1000 * COUNT(DISTINCT url) / t.n) AS BIGINT)
         AS url_share_milli
FROM kv CROSS JOIN tot t
GROUP BY param, t.n ORDER BY param
"""


def _q_clustering_histogram(spark, sf_dir):
    """Local-clustering-coefficient histogram (Watts-Strogatz banding of
    operators/graph.triangles' per-node coefficients) on a CLOSED-FORM
    graph - K5 clique (c=1), 5-ring (c=0), 4-path (c=0), and a triangle
    with a pendant (two c=1 corners, one c=1/3 hub... exactly: triangle
    nodes a,b,c plus pendant d on a: a has d=3, T=1, c=2/(3*2)=1/3; b,c
    have d=2, T=1, c=1) - so every band count is hand-derivable and the
    oracle is the construction's ground truth. Bands are
    floor(1000*clustering)."""
    from web_crawler_spark.operators import graph as G

    k5 = [(f"k{i}", f"k{j}") for i in range(5) for j in range(5) if i < j]
    ring = [(f"r{i}", f"r{(i + 1) % 5}") for i in range(5)]
    path = [(f"p{i}", f"p{i+1}") for i in range(3)]
    tri = [("ta", "tb"), ("tb", "tc"), ("tc", "ta"), ("ta", "td")]
    edges = spark.createDataFrame(
        k5 + ring + path + tri, "src_host string, dst_host string"
    )
    t = G.triangles(edges)
    return (
        t.groupBy(
            F.floor(F.col("clustering") * 1000).cast("long").alias(
                "band_milli")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("band_milli")
    )


_SQL_CLUSTERING_HISTOGRAM = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT),    CAST(10 AS BIGINT)),
  (CAST(333 AS BIGINT),  CAST(1 AS BIGINT)),
  (CAST(1000 AS BIGINT), CAST(7 AS BIGINT))
) v(band_milli, n_nodes) ORDER BY band_milli
"""


def _q_bowtie_summary(spark, sf_dir):
    """Bow-tie macro-structure summary - the Broder WWW'00 headline
    table itself (part sizes + share of the web graph; the original
    paper's CORE=28%/IN=21%/OUT=21% reading): per-part node counts and
    share_milli over the certified bow-tie fixture, certified by
    wrapping the same recursive-closure oracle in a GROUP BY. Exact
    integers; one count rollup over the (node, part) table."""
    from web_crawler_spark.operators import graph as G

    edges = _scc_test_edges(spark, sf_dir)
    parts = G.bowtie(edges, src_col="src", dst_col="dst")
    total = parts.count()
    return (
        parts.groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .select(
            "part", "n_nodes",
            F.floor(F.lit(1000) * F.col("n_nodes") / F.lit(int(total)))
            .cast("long").alias("share_milli"),
        )
        .orderBy("part")
    )


_SQL_BOWTIE_SUMMARY = (
    "SELECT part, CAST(COUNT(*) AS BIGINT) AS n_nodes, "
    "CAST(floor(1000 * COUNT(*) / (SELECT COUNT(*) FROM (" +
    _SQL_GR_BOWTIE.replace("ORDER BY n.node", "") + ") t)) AS BIGINT) "
    "AS share_milli FROM (" +
    _SQL_GR_BOWTIE.replace("ORDER BY n.node", "") +
    ") b GROUP BY part ORDER BY part"
)


def _q_scc_histogram(spark, sf_dir):
    """SCC size histogram - the component-size distribution the Broder
    paper reports beside the bow-tie (one giant SCC + a power-law tail
    of small ones): (scc_size, n_components, n_nodes) rolled up from the
    certified coloring decomposition; oracle wraps the same recursive-
    closure chain. Exact integers."""
    from web_crawler_spark.operators import graph as G

    edges = _scc_test_edges(spark, sf_dir)
    comp = G.scc(edges, src_col="src", dst_col="dst")
    sizes = comp.groupBy("scc_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("long").alias("scc_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
        .select(
            "scc_size", "n_components",
            (F.col("scc_size") * F.col("n_components")).cast("long")
            .alias("n_nodes"),
        )
        .orderBy("scc_size")
    )


_SQL_SCC_HISTOGRAM = (
    "SELECT CAST(sz AS BIGINT) AS scc_size, "
    "CAST(COUNT(*) AS BIGINT) AS n_components, "
    "CAST(sz * COUNT(*) AS BIGINT) AS n_nodes FROM ("
    "SELECT scc_id, COUNT(*) AS sz FROM (" +
    _SQL_GR_SCC.replace("ORDER BY node", "") +
    ") t GROUP BY scc_id) u GROUP BY sz ORDER BY scc_size"
)


def _q_depth_histogram(spark, sf_dir):
    """Crawl-depth histogram - the frontier composition by BFS layer
    (the depth-budget planning table: how much corpus each extra hop
    admits; Baeza-Yates/Castillo studied exactly this curve): (depth,
    n_nodes, cum_nodes) rolled up from the certified seed_distance BFS
    on its tree+chain fixture; oracle wraps the same recursive chain.
    Exact integers; cumulative window over the depth histogram only."""
    from web_crawler_spark.operators import graph as G

    ev = _t(spark, sf_dir, "events")

    def n(c):
        return F.concat(F.lit("n"), c.cast("string"))

    k = F.col("event_id") % 31
    c = F.col("event_id") % 12
    d = F.col("event_id") % 3
    edges = (
        ev.select(n(k).alias("src"), n(k * 2 + 1).alias("dst"))
        .unionByName(ev.select(n(k).alias("src"), n(k * 2 + 2).alias("dst")))
        .unionByName(ev.select(n(c + 1000).alias("src"),
                               n(c + 1001).alias("dst")))
        .unionByName(ev.select(n(d + 2000).alias("src"),
                               n(d + 2001).alias("dst")))
        .unionByName(
            spark.createDataFrame(
                [("n0", "n62"), ("n0", "n1000")], "src string, dst string"
            )
        )
    )
    seeds = spark.createDataFrame([("n0",)], "node string")
    dist = G.seed_distance(edges, seeds, max_depth=8,
                           src_col="src", dst_col="dst")
    hist = dist.groupBy(F.col("depth").cast("long").alias("depth")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    w = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    return hist.withColumn(
        "cum_nodes", F.sum("n_nodes").over(w).cast("long")
    ).orderBy("depth")


_SQL_DEPTH_HISTOGRAM = (
    "SELECT CAST(depth AS BIGINT) AS depth, "
    "CAST(COUNT(*) AS BIGINT) AS n_nodes, "
    "CAST(SUM(COUNT(*)) OVER (ORDER BY depth "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS cum_nodes FROM (" +
    _SQL_SEED_DISTANCE.replace("ORDER BY node", "") +
    ") t GROUP BY depth ORDER BY depth"
)


def _q_tld_census(spark, sf_dir):
    """Public-suffix census - the TLD distribution table every crawl
    report opens with (Common Crawl publishes exactly this per snapshot),
    computed from the certified PSL machinery over the registrable-
    domain fixture (registry suffixes, wildcard/exception rules, private
    suffixes, implicit-* unknown TLDs, a bare public suffix): per
    suffix distinct hosts + share_milli; oracle wraps the full PSL
    replay in a GROUP BY. Exact integers."""
    from web_crawler_spark.functions import psl as PSL

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    src = F.lower(F.col("source"))
    host = (
        F.when(m == 0, F.concat(src, F.lit(".example.co.uk")))
        .when(m == 1, F.lit("www.ck"))
        .when(m == 2, F.concat(src, F.lit(".foo.ck")))
        .when(m == 3, F.concat(src, F.lit(".github.io")))
        .when(m == 4, F.concat(F.lit("deep."), src, F.lit(".blogspot.com")))
        .when(m == 5, F.concat(src, F.lit(".unknowntld")))
        .otherwise(F.lit("co.uk"))
    )
    hosts = d.select("doc_id", host.alias("host"))
    out = PSL.with_registrable_domain(hosts)
    n_hosts_total = out.select("host").distinct().count()
    return (
        out.groupBy("public_suffix")
        .agg(F.countDistinct("host").cast("long").alias("n_hosts"))
        .select(
            "public_suffix", "n_hosts",
            F.floor(
                F.lit(1000) * F.col("n_hosts") / F.lit(int(n_hosts_total))
            ).cast("long").alias("share_milli"),
        )
        .orderBy("public_suffix")
    )


_SQL_TLD_CENSUS = (
    "SELECT public_suffix, "
    "CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts, "
    "CAST(floor(1000 * COUNT(DISTINCT host) / "
    "(SELECT COUNT(DISTINCT host) FROM (" +
    _SQL_REGISTRABLE_DOMAIN.replace("ORDER BY doc_id", "") + ") a)) "
    "AS BIGINT) AS share_milli FROM (" +
    _SQL_REGISTRABLE_DOMAIN.replace("ORDER BY doc_id", "") +
    ") b GROUP BY public_suffix ORDER BY public_suffix"
)


def _q_corpus_funnel(spark, sf_dir):
    """Corpus curation funnel - the survival report every dataset paper
    publishes (RefinedWeb figure 1: raw -> dedup -> quality, with doc
    and token mass at each stage): stage 0 all docs, stage 1 exact-dedup
    survivors (keep-first per md5 fingerprint), stage 2 of those the
    Gopher flag_pass docs; (stage_idx, stage, n_docs, n_tokens,
    doc_share_milli) in exact integers, gates applied SEQUENTIALLY so
    the rows read as the actual pipeline's attrition."""
    from web_crawler_spark.functions import text as T

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "text",
        T.token_count(F.col("text")).alias("nt"),
        F.md5("text").alias("fp"),
    )
    n_all = base.count()
    w = Window.partitionBy("fp").orderBy("doc_id")
    dedup = base.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    flags = dedup.select(
        "doc_id", "nt", *T.gopher_quality_flags(F.col("text"))
    )
    gopher = flags.filter(F.col("flag_pass"))

    def stage(df, idx, name):
        return df.agg(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("n_tokens"),
            F.floor(
                F.lit(1000) * F.count(F.lit(1)) / F.lit(int(n_all))
            ).cast("long").alias("doc_share_milli"),
        )

    return (
        stage(base, 0, "all")
        .unionByName(stage(dedup, 1, "exact_dedup"))
        .unionByName(stage(gopher, 2, "gopher_pass"))
        .orderBy("stage_idx")
    )


_SQL_CORPUS_FUNNEL = r"""
WITH b AS (
  SELECT doc_id, text,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END
              AS BIGINT) AS nt,
         md5(text) AS fp
  FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
dd AS (
  SELECT * FROM (
    SELECT b.*, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM b) WHERE rn = 1
),
g AS (
  SELECT dd.* FROM dd, LATERAL (
    SELECT CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\s+') END AS toks
  ) x
  WHERE (len(x.toks) BETWEEN 50 AND 100000)
    AND len(x.toks) > 0
    AND coalesce(list_sum(list_transform(x.toks, t -> strlen(t))), 0)
        BETWEEN 3 * len(x.toks) AND 10 * len(x.toks)
    AND 5 * len(list_filter(x.toks, t -> regexp_matches(t, '[A-Za-z]')))
        >= 4 * len(x.toks)
)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS stage_idx, 'all' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS n_tokens,
         CAST(floor(1000 * COUNT(*) / (SELECT n FROM tot)) AS BIGINT)
           AS doc_share_milli
  FROM b
  UNION ALL
  SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(nt), 0) AS BIGINT),
         CAST(floor(1000 * COUNT(*) / (SELECT n FROM tot)) AS BIGINT)
  FROM dd
  UNION ALL
  SELECT 2, 'gopher_pass', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(nt), 0) AS BIGINT),
         CAST(floor(1000 * COUNT(*) / (SELECT n FROM tot)) AS BIGINT)
  FROM g
) ORDER BY stage_idx
"""


def _q_www_consolidation(spark, sf_dir):
    """www/apex host consolidation audit - the classic site-identity
    split (the same site crawled as both example.com and
    www.example.com wastes budget and splits rank signals; every
    canonicalization review starts by pairing them): hosts synthesized
    with a doc_id%3 mix of apex-only, www-only and split identities;
    output (apex, n_apex_urls, n_www_urls, split_identity). Exact
    integers, one self-pairing via full outer join on the stripped
    apex."""
    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    src = F.lower(F.col("source"))
    host = (
        F.when(m == 0, F.concat(src, F.lit(".example.org")))
        .when(m == 1, F.concat(F.lit("www."), src, F.lit(".example.org")))
        .otherwise(
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(src, F.lit(".split.org")))
            .otherwise(F.concat(F.lit("www."), src, F.lit(".split.org")))
        )
    )
    urls = d.select(
        host.alias("host"),
        F.concat(F.lit("/d/"), F.col("doc_id").cast("string")).alias("path"),
    )
    apex = F.regexp_replace(F.col("host"), "^www\\.", "")
    per = urls.select(
        apex.alias("apex"),
        F.col("host").startswith("www.").alias("is_www"),
    ).groupBy("apex").agg(
        F.sum(F.when(~F.col("is_www"), 1).otherwise(0)).cast("long")
        .alias("n_apex_urls"),
        F.sum(F.when(F.col("is_www"), 1).otherwise(0)).cast("long")
        .alias("n_www_urls"),
    )
    return per.select(
        "apex", "n_apex_urls", "n_www_urls",
        ((F.col("n_apex_urls") > 0) & (F.col("n_www_urls") > 0))
        .alias("split_identity"),
    ).orderBy("apex")


_SQL_WWW_CONSOLIDATION = r"""
WITH u AS (
  SELECT CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN lower(source) || '.example.org'
           WHEN 1 THEN 'www.' || lower(source) || '.example.org'
           ELSE CASE WHEN doc_id % 2 = 0
                     THEN lower(source) || '.split.org'
                     ELSE 'www.' || lower(source) || '.split.org' END
         END AS host
  FROM documents
),
p AS (
  SELECT regexp_replace(host, '^www\.', '') AS apex,
         host LIKE 'www.%' AS is_www
  FROM u
)
SELECT apex,
       CAST(SUM(CASE WHEN NOT is_www THEN 1 ELSE 0 END) AS BIGINT)
         AS n_apex_urls,
       CAST(SUM(CASE WHEN is_www THEN 1 ELSE 0 END) AS BIGINT)
         AS n_www_urls,
       (SUM(CASE WHEN NOT is_www THEN 1 ELSE 0 END) > 0
        AND SUM(CASE WHEN is_www THEN 1 ELSE 0 END) > 0)
         AS split_identity
FROM p GROUP BY apex ORDER BY apex
"""


_register(
    {
        "url_www_consolidation": (_q_www_consolidation, _SQL_WWW_CONSOLIDATION),
        "tx_corpus_funnel": (_q_corpus_funnel, _SQL_CORPUS_FUNNEL),
        "url_tld_census": (_q_tld_census, _SQL_TLD_CENSUS),
        "gr_depth_histogram": (_q_depth_histogram, _SQL_DEPTH_HISTOGRAM),
        "gr_scc_histogram": (_q_scc_histogram, _SQL_SCC_HISTOGRAM),
        "gr_bowtie_summary": (_q_bowtie_summary, _SQL_BOWTIE_SUMMARY),
        "gr_clustering_histogram": (_q_clustering_histogram, _SQL_CLUSTERING_HISTOGRAM),
        "url_query_key_stats": (_q_query_key_stats, _SQL_QUERY_KEY_STATS),
        "tx_langid_confidence": (_q_langid_confidence, _langid_confidence_sql()),
        "tx_numeric_entities": (_q_numeric_entities, _SQL_NUMERIC_ENTITIES),
        "gr_knn_degree_curve": (_q_knn_degree_curve, _SQL_KNN_DEGREE_CURVE),
        "gr_rich_club": (_q_rich_club, _SQL_RICH_CLUB),
        "tx_entity_decode": (_q_entity_decode, _entity_decode_sql()),
        "gr_pagerank_degree_corr": (_q_pagerank_degree_corr, _pagerank_sql(10, spearman_tail=True)),
        "crawl_sitemap_coverage": (_q_sitemap_coverage, _SQL_SITEMAP_COVERAGE),
        "s_robots_scan": (_q_robots_scan, _SQL_ROBOTS_SCAN),
        "tx_ct_langid": (_q_ct_langid, _SQL_CT_LANGID),
        "url_dust_rewrite": (_q_dust_rewrite, _SQL_DUST_REWRITE),
        "x_page_meta": (_q_page_meta, _SQL_PAGE_META),
        "dd_cluster_size_histogram": (_q_cluster_size_histogram, _SQL_CLUSTER_SIZE_HISTOGRAM),
        "f3_politeness_audit": (_q_politeness_audit, _SQL_POLITENESS_AUDIT),
        "a19_crawl_roi": (_q_crawl_roi, _SQL_CRAWL_ROI),
        "x_heading_sections": (_q_heading_sections, _SQL_HEADING_SECTIONS),
        "tx_license_detect": (_q_license_detect, _license_detect_sql()),
        "gr_shrinking_diameter": (_q_shrinking_diameter, _shrinking_diameter_sql()),
        "x_heading_outline": (_q_heading_outline, _SQL_HEADING_OUTLINE),
        "a18_jain_fairness": (_q_jain_fairness, _SQL_JAIN_FAIRNESS),
        "gr_degree_histogram": (_q_degree_histogram, _SQL_DEGREE_HISTOGRAM),
        "tx_source_dup_rates": (_q_source_dup_rates, _SQL_SOURCE_DUP_RATES),
        "gr_host_wcc": (_q_host_wcc, _SQL_HOST_WCC),
        "gr_pagerank_residuals": (_q_pagerank_residuals, _pagerank_sql(10, residual_tail=True)),
        "url_mime_mismatch": (_q_mime_mismatch, _SQL_MIME_MISMATCH),
        "gr_seed_attribution": (_q_seed_attribution, _SQL_SEED_ATTRIBUTION),
        "tx_code_detect": (_q_code_detect, _code_detect_sql()),
        "cc_timemap": (_q_timemap, _SQL_TIMEMAP),
        "s_arc_scan": (_q_arc_scan, _SQL_ARC_SCAN),
        "tx_langid_eval": (_q_langid_eval, _langid_eval_sql()),
        "x_microdata_extract": (_q_microdata, _SQL_MICRODATA),
        "cc_cdx_shard_plan": (_q_cdx_shard_plan, _SQL_CDX_SHARD_PLAN),
        "gr_lpa_conductance": (_q_lpa_conductance, _lpa_sql(4, tail=_SQL_LPA_CONDUCTANCE_TAIL)),
        "tx_kn_perplexity": (_q_kn_perplexity, _SQL_KN_PERPLEXITY),
        "gr_neighborhood_fn": (_q_neighborhood_fn, _hyperball_sql(5, nf_tail=True)),
        "f8_bloom_plan": (_q_bloom_plan, _SQL_BLOOM_PLAN),
        "gr_densification": (_q_densification, _SQL_DENSIFICATION),
        "tx_temperature_mix": (_q_temperature_mix, _SQL_TEMPERATURE_MIX),
        "tx_postings_vbyte": (_q_postings_vbyte, _SQL_POSTINGS_VBYTE),
        "tx_cluster_sample": (_q_cluster_sample, _sql_cluster_sample()),
        "gr_degree_powerlaw": (_q_degree_powerlaw, _SQL_DEGREE_POWERLAW),
        "gr_scc": (_q_gr_scc, _SQL_GR_SCC),
        "gr_bowtie": (_q_gr_bowtie, _SQL_GR_BOWTIE),
        "cc_wet_export": (_q_wet_export, _SQL_WET_EXPORT),
        "gr_trawl_cores": (_q_trawl_cores, _SQL_TRAWL_CORES),
        "gr_lpa_modularity": (_q_lpa_modularity, _lpa_sql(4, tail=_SQL_LPA_MODULARITY_TAIL)),
        "tx_script_mix": (_q_script_mix, _script_mix_sql()),
        "x_dom_template_families": (_q_dom_template_families, _dom_template_sql()),
        "url_cloaking_flags": (_q_cloaking_flags, _SQL_CLOAKING),
    }
)


def _q_fineweb_quality(spark, sf_dir):
    """FineWeb/RefinedWeb line-level quality signals (operators/corpus.
    fineweb_line_quality): terminal-punctuation line share, short-line
    share, and intra-document duplicate-line mass with integer-compare
    flags. Fixture rebuilds line structure deterministically: sentences
    split onto lines, doc_id%4==0 gains a repeated boilerplate line pair,
    doc_id%4==1 a trailing short line — both engines replay the same
    construction."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    base = F.regexp_replace(F.col("text"), r"\. ", ".\n")
    body = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(base, F.lit(
                "\nRepeated boilerplate line.\nRepeated boilerplate line."
            )),
        )
        .when(F.col("doc_id") % 4 == 1, F.concat(base, F.lit("\nshort")))
        .otherwise(base)
    )
    return C.fineweb_line_quality(
        d.withColumn("text", body)
    ).orderBy("doc_id")


_SQL_FINEWEB_QUALITY = r"""
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN concat(base, chr(10), 'Repeated boilerplate line.',
                          chr(10), 'Repeated boilerplate line.')
              WHEN doc_id % 4 = 1 THEN concat(base, chr(10), 'short')
              ELSE base END AS t
  FROM (SELECT doc_id,
               regexp_replace(text, '\. ', '.' || chr(10), 'g') AS base
        FROM documents)
), l AS (
  SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM b
), per AS (
  SELECT doc_id, line, COUNT(*) AS cnt FROM l GROUP BY doc_id, line
), stats AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN regexp_matches(line, '[.!?"'']$')
                       THEN cnt ELSE 0 END) AS BIGINT) AS n_punct_lines,
         CAST(SUM(CASE WHEN length(line) < 30 THEN cnt ELSE 0 END)
              AS BIGINT) AS n_short_lines,
         CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_lines,
         CAST(SUM((cnt - 1) * length(line)) AS BIGINT) AS dup_line_chars,
         CAST(SUM(cnt * length(line)) AS BIGINT) AS total_line_chars
  FROM per GROUP BY doc_id
)
SELECT doc_id, n_lines, n_punct_lines, n_short_lines, n_dup_lines,
       dup_line_chars, total_line_chars,
       n_punct_lines * 100 >= 12 * n_lines AS flag_punct_ratio,
       n_short_lines * 100 <= 67 * n_lines AS flag_short_lines,
       (n_dup_lines * 100 <= 30 * n_lines
        AND dup_line_chars * 100 <= 20 * total_line_chars)
         AS flag_dup_lines,
       (n_punct_lines * 100 >= 12 * n_lines)
         AND (n_short_lines * 100 <= 67 * n_lines)
         AND (n_dup_lines * 100 <= 30 * n_lines
              AND dup_line_chars * 100 <= 20 * total_line_chars)
         AS flag_pass
FROM stats ORDER BY doc_id
"""


def _q_pack_efficiency(spark, sf_dir):
    """Per-shard packing-efficiency rollup over the certified
    pack_sequences plan (operators/corpus.pack_efficiency): windows
    emitted, tail padding, efficiency_milli — the seq_len-commitment
    report. Same 128-token / 8-shard plan as tx_pack_sequences."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.pack_efficiency(d, seq_len=128, n_shards=8)


_SQL_PACK_EFFICIENCY = (
    """
WITH s AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(MAX(last_seq) + 1 AS BIGINT) AS n_seqs
  FROM ("""
    + _SQL_PACK_SEQUENCES.replace("FROM cum ORDER BY doc_id", "FROM cum")
    + """) p
  GROUP BY shard
)
SELECT shard, n_docs, total_tokens, n_seqs,
       CAST(n_seqs * 128 - total_tokens AS BIGINT) AS pad_tokens,
       CAST(floor(total_tokens * 1000 / (n_seqs * 128)) AS BIGINT)
         AS efficiency_milli
FROM s ORDER BY shard
"""
)


def _q_vocab_coverage(spark, sf_dir):
    """Token-coverage / OOV curve vs vocab size (operators/corpus.
    vocab_coverage): frequency ranking + cumulative mass through the
    two-level prefix scan, per-k read-out by rank. The tokenizer-|V|
    design table; exact integers + floored milli ratios."""
    from web_crawler_spark.operators import corpus as C

    d = _t(spark, sf_dir, "documents")
    return C.vocab_coverage(d, ks=(100, 300, 1000, 3000, 10000))


_SQL_VOCAB_COVERAGE = r"""
WITH t AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents WHERE trim(text) <> ''
), c AS (
  SELECT token, COUNT(*) AS cnt FROM t GROUP BY token
), r AS (
  SELECT token, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, token
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM c
), tot AS (
  SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM c
), ks(vocab_size) AS (
  VALUES (100), (300), (1000), (3000), (10000)
)
SELECT CAST(k.vocab_size AS BIGINT) AS vocab_size,
       CAST(COALESCE(r.cum, tot.total_tokens) AS BIGINT) AS covered_tokens,
       tot.n_types, tot.total_tokens,
       CAST(floor(COALESCE(r.cum, tot.total_tokens) * 1000
                  / tot.total_tokens) AS BIGINT) AS coverage_milli,
       CAST(floor((tot.total_tokens - COALESCE(r.cum, tot.total_tokens))
                  * 1000 / tot.total_tokens) AS BIGINT) AS oov_milli
FROM ks k CROSS JOIN tot LEFT JOIN r ON r.rank = k.vocab_size
ORDER BY vocab_size
"""


def _q_epoch_makespan(spark, sf_dir):
    """Politeness-bound epoch makespan plan (operators/aggregate.
    epoch_makespan): per-host busy time n_urls x delay_ms, the binding
    host, and every host's share of the wall — the pre-epoch scheduling
    table. Fixture: 20-host frontier with a hot host (every 5th event
    folds into h0), three delay classes, and one host (h7) with NO
    delay row — certifying the incomplete-delay-table visibility
    contract (h7 surfaces with NULL delay/busy/share, not dropped)."""
    from web_crawler_spark.operators.aggregate import epoch_makespan

    e = _t(spark, sf_dir, "events")
    hot = F.when(F.col("event_id") % 5 == 0, 0).otherwise(
        F.col("user_id") % 20
    )
    frontier = e.select(
        F.concat(F.lit("h"), hot.cast("string")).alias("host")
    )
    hosts = frontier.select("host").distinct()
    delays = hosts.filter(F.col("host") != "h7").select(
        "host",
        F.when(F.col("host") == "h0", F.lit(1500))
        .when(F.substring("host", 2, 10).cast("int") % 2 == 1, F.lit(3000))
        .otherwise(F.lit(2000)).alias("delay_ms"),
    )
    return epoch_makespan(frontier, delays).orderBy("host")


_SQL_EPOCH_MAKESPAN = r"""
WITH frontier AS (
  SELECT concat('h', CAST(CASE WHEN event_id % 5 = 0 THEN 0
                          ELSE user_id % 20 END AS VARCHAR)) AS host
  FROM events
),
per AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls
        FROM frontier GROUP BY host),
d AS (
  SELECT host,
         CAST(CASE WHEN host = 'h0' THEN 1500
                   WHEN TRY_CAST(substr(host, 2) AS INT) % 2 = 1 THEN 3000
                   ELSE 2000 END AS BIGINT) AS delay_ms
  FROM per WHERE host <> 'h7'
),
busy AS (
  SELECT p.host, p.n_urls, d.delay_ms,
         CAST(p.n_urls * d.delay_ms AS BIGINT) AS host_busy_ms
  FROM per p LEFT JOIN d USING (host)
),
top AS (SELECT CAST(MAX(host_busy_ms) AS BIGINT) AS m FROM busy)
SELECT host, n_urls, delay_ms, host_busy_ms,
       CAST(CASE WHEN host_busy_ms IS NULL THEN NULL
                 WHEN top.m > 0 THEN floor(host_busy_ms * 1000 / top.m)
                 ELSE 1000 END AS BIGINT) AS share_of_epoch_milli,
       COALESCE(host_busy_ms = top.m, FALSE) AS is_critical
FROM busy CROSS JOIN top ORDER BY host
"""


def _q_version_intervals(spark, sf_dir):
    """SCD-2 content-version interval table (operators/snapshots.
    version_intervals): consecutive identical-fingerprint fetches
    collapse into versions with [valid_from, valid_to) validity and
    wasted-recrawl counts; same versioned-pages fixture as the
    change-detection chain it builds on."""
    from web_crawler_spark.operators import snapshots as SN

    return SN.version_intervals(_versioned_pages(spark, sf_dir)).orderBy(
        "key", "version_id"
    )


_SQL_VERSION_INTERVALS = r"""
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS key,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         md5(trim(regexp_replace(regexp_replace(lower(
           concat('body ', CAST(event_id % 3000 AS VARCHAR),
                  ' rev', CAST(CAST(floor(event_id / 3000 / 2) AS BIGINT) AS VARCHAR))
         ), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
  FROM events
), chain AS (
  SELECT key, ts, fingerprint,
         (LAG(fingerprint) OVER (PARTITION BY key ORDER BY ts) IS NULL
          OR fingerprint <> LAG(fingerprint) OVER (PARTITION BY key ORDER BY ts))
           AS changed
  FROM pages
), grouped AS (
  SELECT key, ts, fingerprint,
         CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END)
              OVER (PARTITION BY key ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS version_id
  FROM chain
), versions AS (
  SELECT key, version_id,
         MIN(fingerprint) AS fingerprint,
         MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_fetches
  FROM grouped GROUP BY key, version_id
)
SELECT key, version_id, fingerprint, valid_from,
       LEAD(valid_from) OVER (PARTITION BY key ORDER BY version_id)
         AS valid_to,
       n_fetches,
       LEAD(valid_from) OVER (PARTITION BY key ORDER BY version_id) IS NULL
         AS is_current
FROM versions ORDER BY key, version_id
"""


def _q_asof_lookup(spark, sf_dir):
    """Point-in-time range probe against the SCD-2 interval table
    (operators/snapshots.asof_lookup): every 7th event becomes a (url,
    ts) probe at a staggered offset; the lookup answers which content
    version was live — keyed join + interval residual, no window."""
    from web_crawler_spark.operators import snapshots as SN

    iv = SN.version_intervals(_versioned_pages(spark, sf_dir))
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    probes = e.select(
        F.concat(F.lit("https://ex.com/p"),
                 (F.col("event_id") % 3000).cast("string")).alias("key"),
        (
            F.timestamp_seconds(
                F.unix_timestamp(F.lit("2025-01-01 00:00:00"))
                + (F.col("event_id") * 3) % 10000
            )
        ).alias("ts"),
        F.col("event_id").alias("probe_id"),
    )
    return SN.asof_lookup(iv, probes).orderBy("probe_id", "version_id")


_SQL_ASOF_LOOKUP = (
    "WITH iv AS ("
    + _SQL_VERSION_INTERVALS.replace("FROM versions ORDER BY key, version_id",
                                     "FROM versions")
    + """),
probes AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS key,
         TIMESTAMP '2025-01-01 00:00:00'
           + ((event_id * 3) % 10000) * INTERVAL 1 SECOND AS ts,
         event_id AS probe_id
  FROM events WHERE event_id % 7 = 0
)
SELECT p.key, p.ts, p.probe_id, iv.version_id, iv.fingerprint,
       iv.valid_from, iv.valid_to, iv.is_current
FROM probes p JOIN iv ON p.key = iv.key
  AND iv.valid_from <= p.ts
  AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
ORDER BY probe_id, version_id
"""
)


def _q_rebalance_audit(spark, sf_dir):
    """Fleet-resize churn audit (operators/politeness.
    fetcher_rebalance_audit): HRW assignment over 997 hosts at 16 vs 20
    lanes — moved-host share vs the theoretical (W'-W)/W' minimum; the
    pre-resize go/no-go number."""
    from web_crawler_spark.operators.politeness import fetcher_rebalance_audit

    ev = _t(spark, sf_dir, "events")
    hosts = ev.select(
        F.concat(
            F.lit("h"), (F.col("user_id") % 997).cast("string"), F.lit(".com")
        ).alias("host")
    ).distinct()
    return fetcher_rebalance_audit(hosts, n_from=16, n_to=20)


_SQL_REBALANCE_AUDIT = """
WITH hosts AS (
  SELECT DISTINCT concat('h', CAST(user_id % 997 AS VARCHAR), '.com') AS host
  FROM events
),
a AS (
  SELECT host,
         CAST(list_position(l, list_aggregate(l, 'max')) - 1 AS INT) AS lane
  FROM (SELECT host,
               [md5(host || ':' || CAST(k AS VARCHAR))
                for k in range(0, 16)] AS l
        FROM hosts)
),
b AS (
  SELECT host,
         CAST(list_position(l, list_aggregate(l, 'max')) - 1 AS INT) AS lane_to
  FROM (SELECT host,
               [md5(host || ':' || CAST(k AS VARCHAR))
                for k in range(0, 20)] AS l
        FROM hosts)
),
j AS (
  SELECT CASE WHEN a.lane <> b.lane_to THEN 1 ELSE 0 END AS moved
  FROM a JOIN b USING (host)
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
         CAST(COALESCE(SUM(moved), 0) AS BIGINT) AS n_moved
  FROM j
)
SELECT n_hosts, n_moved,
       CAST(floor(n_moved * 1000 / n_hosts) AS BIGINT) AS moved_milli,
       CAST(200 AS BIGINT) AS expected_moved_milli
FROM s
"""


def _q_path_rollup(spark, sf_dir):
    """Hierarchical path-prefix census (operators/urlfilter.
    path_prefix_rollup): 7 hosts x mixed depth-1/depth-3 URL space,
    rolled up to max_depth=2 — trap-directory mass shares per site
    directory node."""
    from web_crawler_spark.operators import urlfilter as UF

    e = _t(spark, sf_dir, "events")
    deep = F.concat(
        F.lit("https://s"), (F.col("user_id") % 7).cast("string"),
        F.lit(".com/a"), (F.col("event_id") % 3).cast("string"),
        F.lit("/b"), (F.col("event_id") % 11).cast("string"),
        F.lit("/p"), (F.col("event_id") % 40).cast("string"),
    )
    shallow = F.concat(
        F.lit("https://s"), (F.col("user_id") % 7).cast("string"),
        F.lit(".com/top"), (F.col("event_id") % 13).cast("string"),
    )
    pages = e.select(
        F.when(F.col("event_id") % 5 == 0, shallow).otherwise(deep)
        .alias("url")
    )
    return UF.path_prefix_rollup(pages, max_depth=2).orderBy(
        "host", "depth", "prefix"
    )


_SQL_PATH_ROLLUP = r"""
WITH pages AS (
  SELECT DISTINCT CASE WHEN event_id % 5 = 0
    THEN concat('https://s', CAST(user_id % 7 AS VARCHAR), '.com/top',
                CAST(event_id % 13 AS VARCHAR))
    ELSE concat('https://s', CAST(user_id % 7 AS VARCHAR), '.com/a',
                CAST(event_id % 3 AS VARCHAR), '/b',
                CAST(event_id % 11 AS VARCHAR), '/p',
                CAST(event_id % 40 AS VARCHAR)) END AS u
  FROM events
), parsed AS (
  SELECT u,
         regexp_extract(u, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
         string_split(
           regexp_extract(u, '^[a-z][a-z0-9+.-]*://[^/?#]+/([^?#]*)', 1),
           '/') AS segs
  FROM pages
), valid AS (
  SELECT * FROM parsed
  WHERE host <> '' AND len(segs) > 0 AND segs[1] <> ''
), exploded AS (
  SELECT u, host, t.depth,
         concat('/', array_to_string(segs[1:t.depth], '/')) AS prefix
  FROM valid,
       LATERAL unnest(generate_series(1, least(len(segs), 2))) AS t(depth)
), per_prefix AS (
  SELECT host, depth, prefix, CAST(COUNT(*) AS BIGINT) AS n_urls
  FROM exploded GROUP BY host, depth, prefix
), per_host AS (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS host_urls FROM valid GROUP BY host
)
SELECT p.host, CAST(p.depth AS INT) AS depth, p.prefix, p.n_urls,
       h.host_urls,
       CAST(floor(p.n_urls * 1000 / h.host_urls) AS BIGINT) AS share_milli
FROM per_prefix p JOIN per_host h USING (host)
ORDER BY host, depth, prefix
"""


def _q_host_quality_wilson(spark, sf_dir):
    """Source-level quality ranking by the Wilson LOWER bound on the
    low-quality-document share (Gopher flag_pass rolled up per source
    through operators/aggregate.host_error_wilson): the crawl-budget
    demotion ordering — a source with 1-of-1 junk must not outrank one
    with 300-of-1000. Pure composition of two certified pieces; the
    oracle replays the flag algebra and the exact double expression."""
    from web_crawler_spark.functions import text as TX
    from web_crawler_spark.operators.aggregate import host_error_wilson

    d = _t(spark, sf_dir, "documents")
    flagged = d.select(
        F.col("source").alias("host"),
        *TX.gopher_quality_flags(F.col("text")),
    )
    fetches = flagged.select("host", (~F.col("flag_pass")).alias("is_lowq"))
    return host_error_wilson(fetches, is_error_col="is_lowq").orderBy(
        F.desc("wilson_lb"), "host"
    )


_SQL_HOST_QUALITY_WILSON = r"""
WITH t AS (
  SELECT source,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
), fl AS (
  SELECT source AS host,
         NOT ((len(toks) BETWEEN 50 AND 100000)
              AND (len(toks) > 0
                   AND coalesce(list_sum(list_transform(toks,
                                         x -> strlen(x))), 0)
                       BETWEEN 3 * len(toks) AND 10 * len(toks))
              AND (len(toks) > 0
                   AND 5 * len(list_filter(toks,
                               x -> regexp_matches(x, '[A-Za-z]')))
                       >= 4 * len(toks))) AS is_error
  FROM t
),
g AS (
  SELECT host, COUNT(*) AS n_fetches,
         SUM(CASE WHEN is_error THEN 1 ELSE 0 END) AS n_errors
  FROM fl GROUP BY host
),
w AS (
  SELECT host, n_fetches, n_errors,
         CAST(n_errors AS DOUBLE) / CAST(n_fetches AS DOUBLE) AS p,
         CAST(n_fetches AS DOUBLE) AS n
  FROM g
)
SELECT host, CAST(n_fetches AS BIGINT) AS n_fetches,
       CAST(n_errors AS BIGINT) AS n_errors,
       CAST(FLOOR(1000 * n_errors / n_fetches) AS BIGINT) AS err_rate_milli,
       ROUND(
         (p + (1.96::DOUBLE * 1.96::DOUBLE) / (2.0 * n)
            - 1.96::DOUBLE * sqrt(p * (1.0 - p) / n
                + (1.96::DOUBLE * 1.96::DOUBLE) / (4.0 * n * n)))
         / (1.0 + (1.96::DOUBLE * 1.96::DOUBLE) / n),
         6
       ) AS wilson_lb
FROM w ORDER BY wilson_lb DESC, host
"""


def _q_outlink_twins(spark, sf_dir):
    """Identical-outlink-set link-farm stamp (operators/graph.
    outlink_twins): 3 planted template hosts share one hub target set,
    11 organic hosts carry wide distinct sets; md5 set fingerprints and
    group sizes are value-certified."""
    from web_crawler_spark.operators.graph import outlink_twins

    e = _t(spark, sf_dir, "events")
    farm = F.col("event_id") % 4 == 0
    edges = e.select(
        F.when(farm, F.concat(F.lit("farm"), (F.col("user_id") % 3).cast("string")))
        .otherwise(F.concat(F.lit("org"), (F.col("user_id") % 11).cast("string")))
        .alias("src_host"),
        F.when(farm, F.concat(F.lit("hub"), (F.col("event_id") % 20 % 5).cast("string")))
        .otherwise(F.concat(
            F.lit("d"),
            ((F.col("event_id") * 7 + F.col("user_id")) % 9973).cast("string"),
        ))
        .alias("dst_host"),
    )
    return outlink_twins(edges).orderBy("group_id", "host")


_SQL_OUTLINK_TWINS = """
WITH edges AS (
  SELECT DISTINCT
    CASE WHEN event_id % 4 = 0
         THEN concat('farm', CAST(user_id % 3 AS VARCHAR))
         ELSE concat('org', CAST(user_id % 11 AS VARCHAR)) END AS src,
    CASE WHEN event_id % 4 = 0
         THEN concat('hub', CAST(event_id % 20 % 5 AS VARCHAR))
         ELSE concat('d', CAST((event_id * 7 + user_id) % 9973 AS VARCHAR))
         END AS dst
  FROM events
),
per AS (
  SELECT src AS host,
         CAST(COUNT(*) AS BIGINT) AS out_degree,
         md5(array_to_string(list(dst ORDER BY dst), chr(1))) AS group_id
  FROM edges GROUP BY src
  HAVING COUNT(*) <= 10000
),
sizes AS (
  SELECT group_id, CAST(COUNT(*) AS BIGINT) AS group_size
  FROM per GROUP BY group_id HAVING COUNT(*) >= 2
)
SELECT p.host, p.group_id, s.group_size, p.out_degree
FROM per p JOIN sizes s USING (group_id)
ORDER BY group_id, host
"""


def _q_outlink_twins_excluded(spark, sf_dir):
    """Degree-cap audit companion of gr_outlink_twins (operators/graph.
    outlink_twins_excluded): the same edge fixture with the cap lowered
    to 650 so the six widest organic hosts trip it — the report names
    every host twin detection ruled out, with its out-degree, making the
    cap an observable policy instead of silent data loss."""
    from web_crawler_spark.operators.graph import outlink_twins_excluded

    e = _t(spark, sf_dir, "events")
    farm = F.col("event_id") % 4 == 0
    edges = e.select(
        F.when(farm, F.concat(F.lit("farm"), (F.col("user_id") % 3).cast("string")))
        .otherwise(F.concat(F.lit("org"), (F.col("user_id") % 11).cast("string")))
        .alias("src_host"),
        F.when(farm, F.concat(F.lit("hub"), (F.col("event_id") % 20 % 5).cast("string")))
        .otherwise(F.concat(
            F.lit("d"),
            ((F.col("event_id") * 7 + F.col("user_id")) % 9973).cast("string"),
        ))
        .alias("dst_host"),
    )
    return outlink_twins_excluded(edges, max_degree=650).orderBy("host")


_SQL_OUTLINK_TWINS_EXCLUDED = """
WITH edges AS (
  SELECT DISTINCT
    CASE WHEN event_id % 4 = 0
         THEN concat('farm', CAST(user_id % 3 AS VARCHAR))
         ELSE concat('org', CAST(user_id % 11 AS VARCHAR)) END AS src,
    CASE WHEN event_id % 4 = 0
         THEN concat('hub', CAST(event_id % 20 % 5 AS VARCHAR))
         ELSE concat('d', CAST((event_id * 7 + user_id) % 9973 AS VARCHAR))
         END AS dst
  FROM events
)
SELECT src AS host, CAST(COUNT(*) AS BIGINT) AS out_degree
FROM edges GROUP BY src
HAVING COUNT(*) > 650
ORDER BY host
"""


def _q_prototype_confusion(spark, sf_dir):
    """Nearest-prototype classification eval over the labeled embeddings
    table (operators/similarity.label_prototype_confusion): micro-unit
    fixed-point vectors, integer Rocchio-sum prototypes, integer dots —
    the confusion table is value-certified cell for cell."""
    from web_crawler_spark.operators.similarity import (
        label_prototype_confusion,
    )

    e = _t(spark, sf_dir, "embeddings")
    return label_prototype_confusion(e)


_SQL_PROTOTYPE_CONFUSION = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * 1000000)
                                  AS BIGINT)) AS q
  FROM embeddings
),
dims AS (
  SELECT label, t.pos, q[t.pos] AS val
  FROM q, LATERAL unnest(generate_series(1, len(q))) AS t(pos)
),
sums AS (
  SELECT label, pos, CAST(SUM(val) AS BIGINT) AS s
  FROM dims GROUP BY label, pos
),
cent AS (
  SELECT label AS plabel, list(s ORDER BY pos) AS proto
  FROM sums GROUP BY label
),
scored AS (
  SELECT q.vec_id AS vid, q.label, c.plabel,
         list_sum([q.q[i] * c.proto[i] for i in range(1, len(q.q) + 1)])
           AS dot
  FROM q CROSS JOIN cent c
),
pred AS (
  SELECT label, plabel,
         ROW_NUMBER() OVER (PARTITION BY vid
                            ORDER BY dot DESC, plabel) AS rn
  FROM scored
)
SELECT label, plabel AS pred_label, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM pred WHERE rn = 1
GROUP BY label, plabel ORDER BY label, pred_label
"""


def _q_rbo_overlap(spark, sf_dir):
    """Rank-biased overlap between two frontier-priority rankings
    (operators/corpus.rbo_overlap; Webber et al. 2010): 10 queries × 60
    items md5-ranked under two salts — qid%3==0 shares the salt (RBO=1
    control rows), the rest diverge. p^(d-1) weights come from iterative
    multiplication in a rank-ordered fold, so the doubles are
    engine-exact."""
    from web_crawler_spark.operators import corpus as C

    e = _t(spark, sf_dir, "events")
    pairs = (
        e.select(
            (F.col("user_id") % 10).cast("long").alias("q"),
            F.concat(F.lit("d"), (F.col("event_id") % 60).cast("string"))
            .alias("item"),
        ).distinct()
    )
    ka = F.md5(F.concat(F.lit("a:"), F.col("q").cast("string"),
                        F.lit(":"), F.col("item")))
    salt_b = F.when(F.col("q") % 3 == 0, F.lit("a:")).otherwise(F.lit("b:"))
    kb = F.md5(F.concat(salt_b, F.col("q").cast("string"),
                        F.lit(":"), F.col("item")))
    wa = Window.partitionBy("q").orderBy(ka, F.col("item"))
    wb = Window.partitionBy("q").orderBy(kb, F.col("item"))
    run_a = pairs.select(
        "q", "item", F.row_number().over(wa).cast("long").alias("rank")
    )
    run_b = pairs.select(
        "q", "item", F.row_number().over(wb).cast("long").alias("rank")
    )
    return C.rbo_overlap(
        run_a, run_b, p=0.9, depth=10, query_col="q", item_col="item"
    ).orderBy("q")


_SQL_RBO_OVERLAP = r"""
WITH pairs AS (
  SELECT DISTINCT CAST(user_id % 10 AS BIGINT) AS q,
         concat('d', CAST(event_id % 60 AS VARCHAR)) AS item
  FROM events
), ra AS (
  SELECT q, item,
         CAST(ROW_NUMBER() OVER (PARTITION BY q
           ORDER BY md5(concat('a:', CAST(q AS VARCHAR), ':', item)), item)
           AS BIGINT) AS ra
  FROM pairs
), rb AS (
  SELECT q, item,
         CAST(ROW_NUMBER() OVER (PARTITION BY q
           ORDER BY md5(concat(CASE WHEN q % 3 = 0 THEN 'a:' ELSE 'b:' END,
                               CAST(q AS VARCHAR), ':', item)), item)
           AS BIGINT) AS rb
  FROM pairs
), m AS (
  SELECT a.q, greatest(a.ra, b.rb) AS first_d
  FROM (SELECT * FROM ra WHERE ra <= 10) a
  JOIN (SELECT * FROM rb WHERE rb <= 10) b
    ON a.q = b.q AND a.item = b.item
), cnt AS (
  SELECT q, t.d, CAST(COUNT(*) AS BIGINT) AS overlap
  FROM m, LATERAL unnest(generate_series(first_d, 10)) AS t(d)
  GROUP BY q, t.d
), grid AS (
  SELECT g.q, g.d, CAST(COALESCE(cnt.overlap, 0) AS BIGINT) AS overlap
  FROM (SELECT qs.q, t.d
        FROM (SELECT DISTINCT q FROM pairs) qs,
             LATERAL unnest(generate_series(1, 10)) AS t(d)) g
  LEFT JOIN cnt ON cnt.q = g.q AND cnt.d = g.d
), folded AS (
  SELECT q,
         MAX(CASE WHEN d = 10 THEN overlap END) AS overlap_at_depth,
         list_reduce(
           list_prepend([0.0, 1.0],
             list([CAST(overlap AS DOUBLE), CAST(d AS DOUBLE)] ORDER BY d)),
           (s, x) -> [s[1] + s[2] * x[1] / x[2], s[2] * 0.9]
         )[1] AS acc
  FROM grid GROUP BY q
)
SELECT q, CAST(overlap_at_depth AS BIGINT) AS overlap_at_depth,
       ROUND((1.0 - 0.9) * acc, 6) AS rbo_at_depth
FROM folded ORDER BY q
"""


_register(
    {
        "tx_fineweb_quality": (_q_fineweb_quality, _SQL_FINEWEB_QUALITY),
        "tx_pack_efficiency": (_q_pack_efficiency, _SQL_PACK_EFFICIENCY),
        "tx_vocab_coverage": (_q_vocab_coverage, _SQL_VOCAB_COVERAGE),
        "f2_epoch_makespan": (_q_epoch_makespan, _SQL_EPOCH_MAKESPAN),
        "crawl_version_intervals": (_q_version_intervals, _SQL_VERSION_INTERVALS),
        "crawl_asof_lookup": (_q_asof_lookup, _SQL_ASOF_LOOKUP),
        "tx_rbo_overlap": (_q_rbo_overlap, _SQL_RBO_OVERLAP),
        "f2_rebalance_audit": (_q_rebalance_audit, _SQL_REBALANCE_AUDIT),
        "url_path_rollup": (_q_path_rollup, _SQL_PATH_ROLLUP),
        "tx_host_quality_wilson": (_q_host_quality_wilson, _SQL_HOST_QUALITY_WILSON),
        "gr_outlink_twins": (_q_outlink_twins, _SQL_OUTLINK_TWINS),
        "gr_outlink_twins_excluded": (_q_outlink_twins_excluded, _SQL_OUTLINK_TWINS_EXCLUDED),
        "ann_prototype_confusion": (_q_prototype_confusion, _SQL_PROTOTYPE_CONFUSION),
    }
)

def _q_recrawl_sitemap_plan(spark, sf_dir):
    """Sitemap-delta recrawl planner (operators/snapshots.
    recrawl_sitemap_plan): the sitemap-refresh candidates joined with
    the observed version history — 'new' URLs at fixed top priority,
    'stale' URLs priced by declared staleness with a 1.25× boost when
    the history shows ≥2 content versions (declare-AND-demonstrate
    outranks declare-only). Same versioned-pages + sitemap fixture as
    crawl_sitemap_refresh / crawl_version_intervals; the oracle
    replays candidates, per-URL version stats and the integer priority
    algebra end to end."""
    from web_crawler_spark.operators import snapshots as SN

    hist = _versioned_pages(spark, sf_dir)
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    k = F.col("event_id")
    loc = F.when(k % 7 == 0,
                 F.concat(F.lit("https://ex.com/new"), k.cast("string"))
                 ).otherwise(
                 F.concat(F.lit("https://ex.com/p"), k.cast("string")))
    lastmod = (
        F.when(k % 35 == 1, F.lit("not-a-date"))
        .when(k % 5 == 0, F.lit("2025-02-01T00:00:00"))
        .when(k % 5 == 1, F.lit("2024-12-31"))
        .otherwise(F.lit(None).cast("string"))
    )
    entries = e.select(loc.alias("loc"), lastmod.alias("lastmod"))
    return SN.recrawl_sitemap_plan(hist, entries).orderBy("url")


_SQL_RECRAWL_SITEMAP_PLAN = """
WITH pages AS (
  SELECT concat('https://ex.com/p', CAST(event_id % 3000 AS VARCHAR)) AS url,
         TIMESTAMP '2025-01-01 00:00:00' + (event_id * INTERVAL 1 SECOND) AS ts,
         CAST(floor(event_id / 3000 / 2) AS BIGINT) AS rev
  FROM events
), latest AS (
  SELECT url, max(ts) AS last_fetch_ts FROM pages GROUP BY url
), stats AS (
  SELECT url, CAST(COUNT(DISTINCT rev) AS BIGINT) AS n_versions,
         CAST(COUNT(*) - COUNT(DISTINCT rev) AS BIGINT) AS wasted_fetches
  FROM pages GROUP BY url
), entries AS (
  SELECT CASE WHEN event_id % 7 = 0
              THEN concat('https://ex.com/new', CAST(event_id AS VARCHAR))
              ELSE concat('https://ex.com/p', CAST(event_id AS VARCHAR)) END AS loc,
         CASE WHEN event_id % 35 = 1 THEN 'not-a-date'
              WHEN event_id % 5 = 0 THEN '2025-02-01T00:00:00'
              WHEN event_id % 5 = 1 THEN '2024-12-31'
         END AS lastmod
  FROM events WHERE event_id < 3000
), cand AS (
  SELECT e.loc AS url, TRY_CAST(e.lastmod AS TIMESTAMP) AS lastmod_ts,
         l.last_fetch_ts,
         CASE WHEN l.last_fetch_ts IS NULL THEN 'new'
              WHEN TRY_CAST(e.lastmod AS TIMESTAMP) IS NOT NULL
                   AND TRY_CAST(e.lastmod AS TIMESTAMP) > l.last_fetch_ts
              THEN 'stale' END AS reason
  FROM entries e LEFT JOIN latest l ON l.url = e.loc
), plan AS (
  SELECT c.url, c.reason,
         COALESCE(s.n_versions, 0) AS n_versions,
         COALESCE(s.wasted_fetches, 0) AS wasted_fetches,
         CASE WHEN c.reason = 'stale'
              THEN CAST(epoch(c.lastmod_ts) AS BIGINT)
                   - CAST(epoch(c.last_fetch_ts) AS BIGINT)
              ELSE 0 END AS staleness_sec
  FROM cand c LEFT JOIN stats s USING (url)
  WHERE c.reason IS NOT NULL
)
SELECT url, reason, n_versions, wasted_fetches,
       CAST(staleness_sec AS BIGINT) AS staleness_sec,
       CAST(CASE WHEN reason = 'new' THEN 1000000
            ELSE floor(staleness_sec *
                       (CASE WHEN n_versions >= 2 THEN 1250 ELSE 1000 END)
                       / 1000) END AS BIGINT) AS priority_milli
FROM plan ORDER BY url
"""


def _q_quality_budget(spark, sf_dir):
    """Quality-capped budget allocation (operators/aggregate.
    quality_capped_allocation): frontier demand × politeness capacity
    (60 s epoch / per-host delay) × Wilson-demoted health weights over
    a 600-fetch budget. Fixture: the makespan 20-host hot-skew
    frontier; h7 has NO delay row (budget 0, NULL cap visible), h11 has
    no fetch history (full innocent weight), h5 fails half its fetches
    (demoted share). The oracle replays counts, the Wilson bound, and
    the min(demand, cap, floor-share) algebra."""
    from web_crawler_spark.operators.aggregate import (
        quality_capped_allocation,
    )

    e = _t(spark, sf_dir, "events")
    hot = F.when(F.col("event_id") % 5 == 0, 0).otherwise(
        F.col("user_id") % 20
    )
    frontier = e.select(
        F.concat(F.lit("h"), hot.cast("string")).alias("host")
    )
    hosts = frontier.select("host").distinct()
    delays = hosts.filter(F.col("host") != "h7").select(
        "host",
        F.when(F.col("host") == "h0", F.lit(1500))
        .when(F.substring("host", 2, 10).cast("int") % 2 == 1, F.lit(3000))
        .otherwise(F.lit(2000)).alias("delay_ms"),
    )
    hid = F.col("user_id") % 20
    fetches = e.filter(hid != 11).select(
        F.concat(F.lit("h"), hid.cast("string")).alias("host"),
        F.when(hid == 5, F.col("event_id") % 2 == 0)
        .otherwise((F.col("event_id") + F.col("user_id")) % 9 == 0)
        .alias("is_error"),
    )
    return quality_capped_allocation(
        frontier, delays, fetches, total_budget=600, epoch_ms=60_000
    ).orderBy("host")


_SQL_QUALITY_BUDGET = """
WITH frontier AS (
  SELECT concat('h', CAST(CASE WHEN event_id % 5 = 0 THEN 0
                          ELSE user_id % 20 END AS VARCHAR)) AS host
  FROM events
),
demand AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_demand
           FROM frontier GROUP BY host),
d AS (
  SELECT host,
         CAST(CASE WHEN host = 'h0' THEN 1500
                   WHEN TRY_CAST(substr(host, 2) AS INT) % 2 = 1 THEN 3000
                   ELSE 2000 END AS BIGINT) AS delay_ms
  FROM demand WHERE host <> 'h7'
),
fl AS (
  SELECT concat('h', CAST(user_id % 20 AS VARCHAR)) AS host,
         CASE WHEN user_id % 20 = 5 THEN event_id % 2 = 0
              ELSE (event_id + user_id) % 9 = 0 END AS is_error
  FROM events WHERE user_id % 20 <> 11
),
g AS (
  SELECT host, COUNT(*) AS n_fetches,
         SUM(CASE WHEN is_error THEN 1 ELSE 0 END) AS n_errors
  FROM fl GROUP BY host
),
w AS (
  SELECT host, n_fetches, n_errors,
         ROUND(
           (CAST(n_errors AS DOUBLE) / CAST(n_fetches AS DOUBLE)
              + (1.96::DOUBLE * 1.96::DOUBLE) / (2.0 * CAST(n_fetches AS DOUBLE))
              - 1.96::DOUBLE * sqrt(
                  (CAST(n_errors AS DOUBLE) / CAST(n_fetches AS DOUBLE))
                  * (1.0 - CAST(n_errors AS DOUBLE) / CAST(n_fetches AS DOUBLE))
                  / CAST(n_fetches AS DOUBLE)
                  + (1.96::DOUBLE * 1.96::DOUBLE)
                    / (4.0 * CAST(n_fetches AS DOUBLE)
                       * CAST(n_fetches AS DOUBLE))))
           / (1.0 + (1.96::DOUBLE * 1.96::DOUBLE)
                    / CAST(n_fetches AS DOUBLE)),
           6
         ) AS wilson_lb
  FROM g
),
base AS (
  SELECT dm.host, dm.n_demand,
         CASE WHEN dd.delay_ms > 0
              THEN CAST(floor(60000 / dd.delay_ms) AS BIGINT)
              WHEN dd.delay_ms = 0 THEN dm.n_demand END AS cap_politeness,
         COALESCE(w.n_fetches, 0) AS n_fetches,
         COALESCE(w.n_errors, 0) AS n_errors,
         CAST(greatest(0, 1000 - floor(1000 * COALESCE(w.wilson_lb, 0.0)))
              AS BIGINT) AS weight_milli
  FROM demand dm
  LEFT JOIN d dd USING (host)
  LEFT JOIN w USING (host)
),
tot AS (SELECT SUM(weight_milli) AS sum_w FROM base
        WHERE cap_politeness IS NOT NULL)
SELECT b.host, b.n_demand, b.cap_politeness,
       CAST(b.n_fetches AS BIGINT) AS n_fetches,
       CAST(b.n_errors AS BIGINT) AS n_errors,
       b.weight_milli,
       CAST(CASE WHEN b.cap_politeness IS NULL THEN 0
            WHEN t.sum_w > 0 THEN least(
              b.n_demand, b.cap_politeness,
              CAST(floor(600 * b.weight_milli / t.sum_w) AS BIGINT))
            ELSE 0 END AS BIGINT) AS budget
FROM base b CROSS JOIN tot t ORDER BY host
"""


def _q_dim_budget_eval(spark, sf_dir):
    """Matryoshka-style dimension-budget retrieval eval (operators/
    similarity.dim_budget_eval; Kusupati et al. 2022): recall@10 of
    prefix-dim cosine rankings (d = 4/8/16/32/64) against the full
    64-dim ranking — the storage/compute dim-budget design table.
    Round-6 cosines with id tie-breaks and NULL→-2 coalescing make
    every per-dim top-k and the integer recall arithmetic replay
    exactly in the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.dim_budget_eval(
        emb, _query_vector(spark, sf_dir), dims=[4, 8, 16, 32, 64], k=10
    )


def _sql_dim_budget_eval(dims=(4, 8, 16, 32, 64), k=10) -> str:
    def topk(d):
        sl = f"(embedding::DOUBLE[])[1:{d}]"
        qv = f"qv[1:{d}]"
        return (
            f"SELECT vec_id FROM (SELECT vec_id, COALESCE(ROUND("
            f"list_dot_product({sl}, {qv}) / (sqrt(list_dot_product({sl}, {sl}))"
            f" * sqrt(list_dot_product({qv}, {qv}))), 6), -2.0) AS c "
            f"FROM embeddings, q ORDER BY c DESC, vec_id LIMIT {k})"
        )

    full = max(dims)
    legs = " UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS dim, "
        f"CAST((SELECT COUNT(*) FROM t{d} JOIN ref USING (vec_id)) AS BIGINT)"
        f" AS n_overlap, "
        f"CAST(floor((SELECT COUNT(*) FROM t{d} JOIN ref USING (vec_id))"
        f" * 1000 / {k}) AS BIGINT) AS recall_milli"
        for d in dims
    )
    ctes = ",\n".join(f"t{d} AS ({topk(d)})" for d in dims)
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
ref AS ({topk(full)}),
{ctes}
SELECT * FROM ({legs}) ORDER BY dim
"""


def _q_sitemap_robots_conflict(spark, sf_dir):
    """Sitemap-vs-robots conflict audit (operators/robots.
    sitemap_robots_conflicts): URLs a site advertises in its sitemap
    yet disallows in robots.txt — same rules fixture as robots_filter
    (h0/h1: Disallow /private/ with an Allow /private/annex/ override;
    h2/h3 ruleless), sitemap = every frontier URL. Conflicts are
    exactly the h0/h1 /private/ non-annex URLs; the audit runs the
    SAME longest-match decision machinery as the crawl gate, so the
    oracle's arithmetic complement certifies both directions."""
    from web_crawler_spark.operators import robots as RB

    e = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), (F.col("user_id") % 4).cast("string"), F.lit(".com"))
    path = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.lit("/private/"), F.col("event_id").cast("string")),
    ).when(
        F.col("event_id") % 3 == 1,
        F.concat(F.lit("/private/annex/"), F.col("event_id").cast("string")),
    ).otherwise(F.concat(F.lit("/pub/"), F.col("event_id").cast("string")))
    entries = e.select(
        F.concat(F.lit("https://"), host, path).alias("loc")
    )
    robots_txt = "User-agent: *\nDisallow: /private/\nAllow: /private/annex/\n"
    robots_pages = spark.createDataFrame(
        [(f"h{i}.com", robots_txt) for i in range(2)], "host string, body string"
    )
    rules = RB.parse_robots(robots_pages)
    return RB.sitemap_robots_conflicts(entries, rules, "anybot").orderBy(
        "host", "url"
    )


_SQL_SITEMAP_ROBOTS_CONFLICT = """
WITH entries AS (
  SELECT event_id,
         concat('h', CAST(user_id % 4 AS VARCHAR), '.com') AS host,
         CASE WHEN event_id % 3 = 0 THEN concat('/private/', CAST(event_id AS VARCHAR))
              WHEN event_id % 3 = 1 THEN concat('/private/annex/', CAST(event_id AS VARCHAR))
              ELSE concat('/pub/', CAST(event_id AS VARCHAR)) END AS path
  FROM events
)
SELECT host, concat('https://', host, path) AS url,
       '/private/' AS disallow_prefix
FROM entries
WHERE host IN ('h0.com', 'h1.com') AND event_id % 3 = 0
ORDER BY host, url
"""


def _q_canonical_robots_conflict(spark, sf_dir):
    """Canonical-target-vs-robots conflict audit (operators/robots.
    canonical_robots_conflicts): pages declaring rel=canonical to a
    robots-disallowed URL — consolidation can never land on the
    declared copy. Same pages fixture as cc_canonical_dedup (three
    declaration regimes incl. both attribute orders and two href
    forms); host3/host7 disallow /p/1, so conflicts are exactly their
    pages whose target number starts with digit 1; the oracle derives
    the set arithmetically."""
    from web_crawler_spark.operators import robots as RB

    e = _t(spark, sf_dir, "events")
    h = (F.col("user_id") % 20).cast("string")
    gid = (F.col("event_id") - F.col("event_id") % 3).cast("string")
    v = F.col("event_id") % 3
    pages = e.select(
        F.concat(F.lit("https://host"), h, F.lit(".example.com/p/"),
                 F.col("event_id").cast("string")).alias("url"),
        F.when(v == 0, F.lit("<html><head></head><body>x</body></html>"))
        .when(v == 1, F.concat(
            F.lit('<html><head><link rel="canonical" href="/p/'), gid,
            F.lit('"></head><body>x</body></html>')))
        .otherwise(F.concat(
            F.lit('<html><head><link href="//host'), h,
            F.lit(".example.com/p/"), gid,
            F.lit('" rel=canonical></head><body>x</body></html>'))).alias("html"),
    )
    robots_txt = "User-agent: *\nDisallow: /p/1\n"
    robots_pages = spark.createDataFrame(
        [("host3.example.com", robots_txt), ("host7.example.com", robots_txt)],
        "host string, body string",
    )
    rules = RB.parse_robots(robots_pages)
    return RB.canonical_robots_conflicts(pages, rules, "anybot").orderBy("url")


_SQL_CANONICAL_ROBOTS_CONFLICT = """
WITH p AS (
  SELECT concat('host', CAST(user_id % 20 AS VARCHAR), '.example.com')
           AS hostd,
         user_id % 20 AS hn, event_id,
         CASE WHEN event_id % 3 = 0 THEN event_id
              ELSE event_id - event_id % 3 END AS tgt_n
  FROM events
)
SELECT concat('https://', hostd, '/p/', CAST(event_id AS VARCHAR)) AS url,
       concat('https://', hostd, '/p/', CAST(tgt_n AS VARCHAR))
         AS canonical_target,
       '/p/1' AS disallow_prefix,
       event_id % 3 <> 0 AS is_cross_page
FROM p
WHERE hn IN (3, 7) AND substr(CAST(tgt_n AS VARCHAR), 1, 1) = '1'
ORDER BY url
"""


_register(
    {
        "crawl_recrawl_sitemap_plan": (_q_recrawl_sitemap_plan, _SQL_RECRAWL_SITEMAP_PLAN),
        "f2_quality_budget": (_q_quality_budget, _SQL_QUALITY_BUDGET),
        "ann_dim_budget_eval": (_q_dim_budget_eval, _sql_dim_budget_eval()),
        "robots_sitemap_conflict": (_q_sitemap_robots_conflict, _SQL_SITEMAP_ROBOTS_CONFLICT),
        "robots_canonical_conflict": (_q_canonical_robots_conflict, _SQL_CANONICAL_ROBOTS_CONFLICT),
    }
)


def _q_link_reciprocity(spark, sf_dir):
    """Per-host link reciprocity audit (operators/graph.link_reciprocity):
    fraction of each host's distinct out-neighbors that link back —
    the link-exchange-ring demotion signal. Same synthetic 12-host
    graph as the pagerank/hits family (`_host_edges`); integer
    fixed-point reciprocity_milli replays exactly in the oracle."""
    from web_crawler_spark.operators import graph as G

    edges = G.host_graph(_host_edges(spark, sf_dir))
    return G.link_reciprocity(edges).orderBy("host")


_SQL_LINK_RECIPROCITY = f"""
WITH {_SQL_HOST_EDGES_E},
rec AS (
  SELECT e.src, COUNT(*) AS n_rec
  FROM e JOIN e b ON e.src = b.dst AND e.dst = b.src
  GROUP BY e.src
)
SELECT e.src AS host,
       CAST(COUNT(*) AS BIGINT) AS out_degree,
       CAST(COALESCE(MAX(rec.n_rec), 0) AS BIGINT) AS n_reciprocal,
       CAST(floor(1000 * COALESCE(MAX(rec.n_rec), 0) / COUNT(*)) AS BIGINT)
         AS reciprocity_milli
FROM e LEFT JOIN rec ON e.src = rec.src
GROUP BY e.src
ORDER BY host
"""


_register({"gr_link_reciprocity": (_q_link_reciprocity, _SQL_LINK_RECIPROCITY)})


def _q_robots_rule_churn(spark, sf_dir):
    """Robots-policy churn between two robots.txt snapshots (operators/
    robots.robots_rule_churn): per-(host, agent) added/removed
    allow/disallow counts + crawl-delay before/after, classified
    tightened/loosened/mixed/delay_only; no-change groups omitted.
    Hosts = events user_id % 40, five policy-evolution regimes by
    host index; BOTH epochs run the real mapInPandas robots parse, so
    the arithmetic oracle certifies parse + set-diff together."""
    from web_crawler_spark.operators import robots as RB

    e = _t(spark, sf_dir, "events")
    hn = F.col("hn")
    hosts = e.select((F.col("user_id") % 40).alias("hn")).distinct()
    host = F.concat(F.lit("h"), hn.cast("string"), F.lit(".com"))
    before = "User-agent: *\nDisallow: /a/\nDisallow: /b/\nCrawl-delay: 1\n"
    after = (
        F.when(hn % 5 == 1, F.lit(before + "Disallow: /c/\n"))
        .when(hn % 5 == 2, F.lit(
            "User-agent: *\nDisallow: /a/\nAllow: /a/x/\nCrawl-delay: 1\n"))
        .when(hn % 5 == 3, F.lit(
            "User-agent: *\nDisallow: /a/\nDisallow: /c/\nCrawl-delay: 1\n"))
        .when(hn % 5 == 4, F.lit(
            "User-agent: *\nDisallow: /a/\nDisallow: /b/\nCrawl-delay: 5\n"))
        .otherwise(F.lit(before))
    )
    pages_b = hosts.select(host.alias("host"), F.lit(before).alias("body"))
    pages_a = hosts.select(host.alias("host"), after.alias("body"))
    return RB.robots_rule_churn(
        RB.parse_robots(pages_b), RB.parse_robots(pages_a)
    ).orderBy("host")


_SQL_ROBOTS_RULE_CHURN = """
WITH h AS (SELECT DISTINCT user_id % 40 AS hn FROM events),
c AS (SELECT hn, CAST(hn % 5 AS INT) AS cls FROM h WHERE hn % 5 <> 0)
SELECT concat('h', CAST(hn AS VARCHAR), '.com') AS host,
       '*' AS agent,
       CAST(CASE WHEN cls IN (1, 3) THEN 1 ELSE 0 END AS BIGINT)
         AS n_added_disallow,
       CAST(CASE WHEN cls IN (2, 3) THEN 1 ELSE 0 END AS BIGINT)
         AS n_removed_disallow,
       CAST(CASE WHEN cls = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_added_allow,
       CAST(0 AS BIGINT) AS n_removed_allow,
       CAST(1 AS DOUBLE) AS delay_before,
       CAST(CASE WHEN cls = 4 THEN 5 ELSE 1 END AS DOUBLE) AS delay_after,
       CASE cls WHEN 1 THEN 'tightened' WHEN 2 THEN 'loosened'
                WHEN 3 THEN 'mixed' ELSE 'delay_only' END AS change_class
FROM c ORDER BY host
"""


_register({"robots_rule_churn": (_q_robots_rule_churn, _SQL_ROBOTS_RULE_CHURN)})


def _q_frontier_starvation(spark, sf_dir):
    """Frontier starvation audit (operators/aggregate.
    frontier_starvation): hosts whose queue stayed non-empty while the
    scheduler fetched nothing, for a trailing run of epochs — the
    observability report for the waterfill/quality-budget allocators.
    25 hosts × 5 dense epochs from events, five service regimes by
    host index (always served / starved last 1 / last 2 / never
    served / served only at the end); the oracle derives streaks
    arithmetically per regime."""
    from web_crawler_spark.operators import aggregate as AG

    e = _t(spark, sf_dir, "events")
    hn = F.col("hn")
    grid = (
        e.select((F.col("user_id") % 25).alias("hn")).distinct()
        .select("hn", F.explode(F.sequence(F.lit(0), F.lit(4))).alias("ep"))
    )
    host = F.concat(F.lit("h"), hn.cast("string"), F.lit(".com"))
    demand = grid.select(
        host.alias("host"), F.col("ep").alias("epoch"),
        (hn + F.col("ep") + 1).alias("n_queued"),
    )
    cls = hn % 5
    fetched = grid.filter(
        (cls == 0)
        | ((cls == 1) & (F.col("ep") <= 3))
        | ((cls == 2) & (F.col("ep") <= 2))
        | ((cls == 4) & (F.col("ep") == 4))
    )
    fetches = fetched.select(
        host.alias("host"), F.col("ep").alias("epoch"), F.lit(2).alias("n_fetched")
    )
    return AG.frontier_starvation(demand, fetches).orderBy("host")


_SQL_FRONTIER_STARVATION = """
WITH h AS (SELECT DISTINCT user_id % 25 AS hn FROM events),
c AS (SELECT hn, CAST(hn % 5 AS INT) AS cls FROM h WHERE hn % 5 IN (1, 2, 3))
SELECT concat('h', CAST(hn AS VARCHAR), '.com') AS host,
       CAST(CASE cls WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 5 END AS BIGINT)
         AS epochs_starved,
       CAST(CASE cls WHEN 1 THEN 4 WHEN 2 THEN 3 ELSE 0 END AS BIGINT)
         AS first_starved_epoch,
       CAST(hn + 5 AS BIGINT) AS queued_now
FROM c ORDER BY host
"""


_register({"f2_starvation_audit": (_q_frontier_starvation, _SQL_FRONTIER_STARVATION)})


def _q_hreflang_reciprocity(spark, sf_dir):
    """hreflang return-link audit (operators/hreflang.
    hreflang_reciprocity): non-reciprocated variant declarations,
    classified missing_return (target crawled, no return tag) vs
    uncrawled_target (crawl gap). Variant triples en/fr/de per 3-event
    group, four declaration regimes by group id (fully reciprocal
    incl. a self row / one-way to a crawled sibling / one-way to an
    external URL / silent); incomplete trailing triples are excluded
    via the broadcast max-event guard on both sides."""
    from web_crawler_spark.operators import hreflang as HL

    e = _t(spark, sf_dir, "events")
    mx = e.agg(F.max("event_id").alias("_mx"))
    e = e.join(F.broadcast(mx)).filter(
        F.col("event_id") - F.col("event_id") % 3 + 2 <= F.col("_mx")
    )
    gid = F.col("event_id") - F.col("event_id") % 3
    v = F.col("event_id") % 3
    regime = gid % 4
    host = F.concat(F.lit("hl"), (gid % 9).cast("string"), F.lit(".com"))

    def u(i):
        return F.concat(
            F.lit("https://"), host, F.lit("/p/"), (gid + i).cast("string")
        )

    def tag(lang, href):
        return F.concat(
            F.lit(f'<link rel="alternate" hreflang="{lang}" href="'),
            href, F.lit('">'),
        )

    l0, l1, l2 = tag("en", u(0)), tag("fr", u(1)), tag("de", u(2))
    ext = tag(
        "fr",
        F.concat(F.lit("https://ext"), gid.cast("string"),
                 F.lit(".example.org/p")),
    )
    decl = (
        F.when((regime == 0) & (v == 0), F.concat(l0, l1, l2))
        .when((regime == 0) & (v == 1), F.concat(l0, l2))
        .when((regime == 0) & (v == 2), F.concat(l0, l1))
        .when((regime == 1) & (v == 0), F.concat(l1, l2))
        .when((regime == 1) & (v == 1), l0)
        .when((regime == 2) & (v == 0), ext)
        .otherwise(F.lit(""))
    )
    pages = e.select(
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 F.col("event_id").cast("string")).alias("url"),
        F.concat(F.lit("<html><head>"), decl,
                 F.lit("</head><body>x</body></html>")).alias("html"),
    )
    return HL.hreflang_reciprocity(pages).orderBy("url")


_SQL_HREFLANG_RECIPROCITY = """
WITH mx AS (SELECT max(event_id) AS m FROM events),
g AS (
  SELECT DISTINCT event_id - event_id % 3 AS gid FROM events, mx
  WHERE event_id - event_id % 3 + 2 <= m
),
b AS (
  SELECT gid, CAST(gid % 4 AS INT) AS regime,
         concat('hl', CAST(gid % 9 AS VARCHAR), '.com') AS host
  FROM g WHERE gid % 4 IN (1, 2)
)
SELECT concat('https://', host, '/p/', CAST(gid AS VARCHAR)) AS url,
       CASE WHEN regime = 1 THEN 'de' ELSE 'fr' END AS lang,
       CASE WHEN regime = 1
            THEN concat('https://', host, '/p/', CAST(gid + 2 AS VARCHAR))
            ELSE concat('https://ext', CAST(gid AS VARCHAR), '.example.org/p')
       END AS variant_url,
       CASE WHEN regime = 1 THEN 'missing_return'
            ELSE 'uncrawled_target' END AS status
FROM b ORDER BY url
"""


_register({"url_hreflang_reciprocity": (_q_hreflang_reciprocity, _SQL_HREFLANG_RECIPROCITY)})


def _q_effective_tokens(spark, sf_dir):
    """Dedup-aware effective-token accounting per source (operators/
    corpus.effective_tokens): raw vs canonical-credited token sums and
    the duplicate tax per source. Duplicates planted by remapping every
    doc_id ≡ 4 (mod 5) onto the text of doc_id−4 (cross-source — the
    sources are mod-20 slices); originals are verified globally
    distinct under the normalized fingerprint, so the oracle derives
    canonicity arithmetically while the engine computes it through the
    real fingerprint + min-id machinery."""
    from web_crawler_spark.operators import corpus as CO

    d = _t(spark, sf_dir, "documents")
    tid = F.when(
        F.col("doc_id") % 5 == 4, F.col("doc_id") - 4
    ).otherwise(F.col("doc_id"))
    texts = d.select(F.col("doc_id").alias("tid"), F.col("text").alias("t"))
    fix = (
        d.select("doc_id", "source", tid.alias("tid"))
        .join(texts, "tid")
        .select("doc_id", "source", F.col("t").alias("text"))
    )
    return CO.effective_tokens(fix).orderBy("source")


_SQL_EFFECTIVE_TOKENS = """
WITH fix AS (
  SELECT d.doc_id, d.source, t.text,
         CASE WHEN d.doc_id % 5 = 4 THEN 0 ELSE 1 END AS is_canon
  FROM documents d
  JOIN documents t
    ON t.doc_id = CASE WHEN d.doc_id % 5 = 4 THEN d.doc_id - 4
                       ELSE d.doc_id END
),
tok AS (
  SELECT source, is_canon,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM fix
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_canon) AS BIGINT) AS n_canonical_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
       CAST(SUM(n_tokens * is_canon) AS BIGINT) AS effective_tokens,
       CAST(floor(1000 * (SUM(n_tokens) - SUM(n_tokens * is_canon))
                  / greatest(SUM(n_tokens), 1)) AS BIGINT)
         AS dup_token_share_milli
FROM tok GROUP BY source ORDER BY source
"""


_register({"tx_effective_tokens": (_q_effective_tokens, _SQL_EFFECTIVE_TOKENS)})


def _q_split_leakage(spark, sf_dir):
    """Cross-split near-duplicate leakage audit (operators/dedup.
    split_leakage): pairs spanning train/valid/test assignments,
    normalized per unordered split combo with quarantine-set sizes.
    Pairs planted as (doc_id−4, doc_id) for doc_id ≡ 4 (mod 5); split
    by doc_id mod 3 — the mod-4 gap guarantees every pair crosses
    splits, exercising all three combos."""
    from web_crawler_spark.operators import dedup as D

    d = _t(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("train"))
        .when(F.col("doc_id") % 3 == 1, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    asg = d.select("doc_id", split.alias("split"))
    pairs = d.filter(F.col("doc_id") % 5 == 4).select(
        (F.col("doc_id") - 4).alias("id_a"), F.col("doc_id").alias("id_b")
    )
    return D.split_leakage(asg, pairs).orderBy("split_a", "split_b")


_SQL_SPLIT_LEAKAGE = """
WITH b AS (
  SELECT doc_id - 4 AS ia, doc_id AS ib FROM documents WHERE doc_id % 5 = 4
),
lab AS (
  SELECT ia, ib,
         CASE CAST(ia % 3 AS INT) WHEN 0 THEN 'train' WHEN 1 THEN 'valid'
              ELSE 'test' END AS sa,
         CASE CAST(ib % 3 AS INT) WHEN 0 THEN 'train' WHEN 1 THEN 'valid'
              ELSE 'test' END AS sb
  FROM b
)
SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN sa <= sb THEN ia ELSE ib END) AS BIGINT)
         AS n_docs_a,
       CAST(COUNT(DISTINCT CASE WHEN sa <= sb THEN ib ELSE ia END) AS BIGINT)
         AS n_docs_b
FROM lab WHERE sa <> sb GROUP BY split_a, split_b ORDER BY split_a, split_b
"""


_register({"dd_split_leakage": (_q_split_leakage, _SQL_SPLIT_LEAKAGE)})


def _q_scheme_consolidation(spark, sf_dir):
    """http↔https site-identity audit (operators/urlfilter.
    scheme_consolidation): per-host scheme mass, both-scheme path
    overlap, migration-state classification. 30 hosts from events in
    four regimes (http-only / https-only / migrating with paired
    paths via the block construction / mixed-disjoint); every 7th
    scheme and every 11th host is upper-cased (folded back), and host
    h2.net serves its https copies under ``/P/`` (kept apart: paths are
    case-sensitive). The oracle replays the construction and both
    aggregations in SQL."""
    from web_crawler_spark.operators import urlfilter as UF

    e = _t(spark, sf_dir, "events")
    hn = F.col("event_id") % 30
    c = hn % 4
    blk = F.floor(F.col("event_id") / 30).cast("long")
    alt = F.when(blk % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    scheme = (
        F.when(c == 0, F.lit("http"))
        .when(c == 1, F.lit("https"))
        .otherwise(alt)
    )
    top = F.when((hn == 2) & (scheme == "https"), F.lit("/P/")).otherwise(F.lit("/p/"))
    path = F.when(
        c == 2,
        F.concat(top,
                 F.floor(F.col("event_id") / 60).cast("long").cast("string")),
    ).otherwise(F.concat(F.lit("/p/"), F.col("event_id").cast("string")))
    host = F.concat(F.lit("h"), hn.cast("string"), F.lit(".net"))
    urls = e.select(
        F.concat(
            F.when(F.col("event_id") % 7 == 0, F.upper(scheme)).otherwise(scheme),
            F.lit("://"),
            F.when(F.col("event_id") % 11 == 0, F.upper(host)).otherwise(host),
            path,
        ).alias("url")
    )
    return UF.scheme_consolidation(urls).orderBy("host")


_SQL_SCHEME_CONSOLIDATION = """
WITH s AS (
  SELECT event_id,
    CASE CAST((event_id % 30) % 4 AS INT)
      WHEN 0 THEN 'http' WHEN 1 THEN 'https'
      ELSE CASE WHEN (event_id // 30) % 2 = 0 THEN 'http' ELSE 'https' END
    END AS scheme,
    concat('h', CAST(event_id % 30 AS VARCHAR), '.net') AS host
  FROM events
),
raw AS (
  SELECT
    CASE WHEN event_id % 7 = 0 THEN upper(scheme) ELSE scheme END AS scheme,
    CASE WHEN event_id % 11 = 0 THEN upper(host) ELSE host END AS host,
    CASE WHEN CAST((event_id % 30) % 4 AS INT) = 2
         THEN concat(CASE WHEN event_id % 30 = 2 AND scheme = 'https'
                          THEN '/P/' ELSE '/p/' END,
                     CAST(event_id // 60 AS VARCHAR))
         ELSE concat('/p/', CAST(event_id AS VARCHAR)) END AS path
  FROM s
),
u AS (
  SELECT DISTINCT lower(scheme) AS scheme, lower(host) AS host, path FROM raw
),
pp AS (
  SELECT host, path,
         SUM(CASE WHEN scheme = 'http' THEN 1 ELSE 0 END) AS n_http,
         SUM(CASE WHEN scheme = 'https' THEN 1 ELSE 0 END) AS n_https
  FROM u GROUP BY host, path
),
ph AS (
  SELECT host,
         CAST(SUM(n_http) AS BIGINT) AS n_http_urls,
         CAST(SUM(n_https) AS BIGINT) AS n_https_urls,
         CAST(SUM(CASE WHEN n_http > 0 AND n_https > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_paths
  FROM pp GROUP BY host
)
SELECT host, n_http_urls, n_https_urls, n_dup_paths,
       CASE WHEN n_http_urls = 0 THEN 'https_only'
            WHEN n_https_urls = 0 THEN 'http_only'
            WHEN n_dup_paths > 0 THEN 'migrating'
            ELSE 'mixed_disjoint' END AS state
FROM ph ORDER BY host
"""


_register({"url_scheme_consolidation": (_q_scheme_consolidation, _SQL_SCHEME_CONSOLIDATION)})


_CHANGEFREQ_NAMES = [
    "always", "hourly", "daily", "weekly", "monthly", "yearly", "never",
    "bogus",
]


def _q_changefreq_calibration(spark, sf_dir):
    """Declared-vs-observed change-rate calibration (operators/
    snapshots.changefreq_calibration): per sitemap changefreq bucket,
    how honest the declaration is — integer fixed-point calibration
    against the policy map. Declarations cycle all seven tokens plus
    an invalid one by event_id mod 8; every ninth URL has no
    observation row (counted, excluded from the rate)."""
    from web_crawler_spark.operators import snapshots as SN

    e = _t(spark, sf_dir, "events")
    cf = F.element_at(
        F.array(*[F.lit(n) for n in _CHANGEFREQ_NAMES]),
        (F.col("event_id") % 8 + 1).cast("int"),
    )
    url = F.concat(F.lit("/u/"), F.col("event_id").cast("string"))
    declared = e.select(url.alias("url"), cf.alias("changefreq"))
    observed = e.filter(F.col("event_id") % 9 != 0).select(
        url.alias("url"),
        F.lit(10).alias("n_epochs"),
        (F.col("event_id") % 30).alias("n_changes"),
    )
    return SN.changefreq_calibration(declared, observed).orderBy("changefreq")


_SQL_CHANGEFREQ_CALIBRATION = """
WITH s AS (
  SELECT event_id, CAST(event_id % 8 AS INT) AS c FROM events
),
named AS (
  SELECT event_id,
         CASE c WHEN 0 THEN 'always' WHEN 1 THEN 'hourly' WHEN 2 THEN 'daily'
                WHEN 3 THEN 'weekly' WHEN 4 THEN 'monthly'
                WHEN 5 THEN 'yearly' WHEN 6 THEN 'never'
                ELSE 'invalid' END AS changefreq,
         CASE c WHEN 0 THEN 48000 WHEN 1 THEN 24000 WHEN 2 THEN 1000
                WHEN 3 THEN 142 WHEN 4 THEN 33 WHEN 5 THEN 2
                WHEN 6 THEN 0 ELSE NULL END AS expected_milli,
         CASE WHEN event_id % 9 <> 0 THEN 10 ELSE NULL END AS n_epochs,
         CASE WHEN event_id % 9 <> 0 THEN event_id % 30 ELSE NULL
         END AS n_changes
  FROM s
),
agg AS (
  SELECT changefreq,
         CAST(COUNT(*) AS BIGINT) AS n_urls,
         CAST(SUM(CASE WHEN n_epochs IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_observed,
         CAST(MAX(expected_milli) AS BIGINT) AS expected_milli,
         SUM(COALESCE(n_changes, 0)) AS ch,
         SUM(COALESCE(n_epochs, 0)) AS ep
  FROM named GROUP BY changefreq
)
SELECT changefreq, n_urls, n_observed, expected_milli,
       CAST(CASE WHEN ep > 0 THEN floor(1000 * ch / ep) END AS BIGINT)
         AS observed_rate_milli,
       CAST(CASE WHEN expected_milli > 0 AND ep > 0
                 THEN floor(1000 * floor(1000 * ch / ep) / expected_milli)
            END AS BIGINT) AS calibration_milli
FROM agg ORDER BY changefreq
"""


_register(
    {"crawl_changefreq_calibration": (_q_changefreq_calibration, _SQL_CHANGEFREQ_CALIBRATION)}
)


def _q_ngram_novelty(spark, sf_dir):
    """Per-doc n-gram novelty vs earlier documents (operators/corpus.
    ngram_novelty, n=6): seen-before share of each doc's distinct word
    6-grams in ingestion order. Full duplicates planted by the mod-5
    text remap (doc_id ≡ 4 mod 5 carries doc_id−4's text), so planted
    copies score novelty 0 while organic partial overlaps exercise the
    mid-range; the oracle replays grams + min-id first-occurrence in
    SQL."""
    from web_crawler_spark.operators import corpus as CO

    d = _t(spark, sf_dir, "documents")
    tid = F.when(
        F.col("doc_id") % 5 == 4, F.col("doc_id") - 4
    ).otherwise(F.col("doc_id"))
    texts = d.select(F.col("doc_id").alias("tid"), F.col("text").alias("t"))
    fix = (
        d.select("doc_id", tid.alias("tid"))
        .join(texts, "tid")
        .select("doc_id", F.col("t").alias("text"))
    )
    return CO.ngram_novelty(fix, n=6).orderBy("doc_id")


_SQL_NGRAM_NOVELTY = """
WITH fix AS (
  SELECT d.doc_id, t.text
  FROM documents d
  JOIN documents t
    ON t.doc_id = CASE WHEN d.doc_id % 5 = 4 THEN d.doc_id - 4
                       ELSE d.doc_id END
),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM fix
  WHERE trim(text) <> ''
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+5], ' ')
                        for i in range(1, greatest(len(w)-5, 0) + 1)]) AS grams
  FROM toks
),
inv AS (
  SELECT doc_id, unnest(grams) AS gram FROM sh WHERE len(grams) > 0
),
first AS (SELECT gram, MIN(doc_id) AS first_id FROM inv GROUP BY gram),
per AS (
  SELECT i.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN f.first_id < i.doc_id THEN 1 ELSE 0 END)
           AS n_seen_before
  FROM inv i JOIN first f USING (gram) GROUP BY i.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_seen_before, 0) AS BIGINT) AS n_seen_before,
       CAST(CASE WHEN COALESCE(p.n_grams, 0) > 0
                 THEN floor(1000 * (p.n_grams - p.n_seen_before) / p.n_grams)
            END AS BIGINT) AS novelty_milli
FROM documents d LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id
"""


_register({"tx_ngram_novelty": (_q_ngram_novelty, _SQL_NGRAM_NOVELTY)})


def _q_host_quality_trend(spark, sf_dir):
    """Per-host quality drift across epochs (operators/aggregate.
    trend_by_key): closed-form OLS slope from combiner-aggregated
    integer sums in decimal(38,0) — the leading indicator that catches
    hosts decaying into spam before their mean crosses the gate.
    15 hosts × 8 epochs from events in three regimes (rising ≈+10/
    epoch, falling ≈−12, flat) with deterministic mod-5 noise; the
    oracle replays the exact sum algebra in HUGEINT."""
    from web_crawler_spark.operators import aggregate as AG

    e = _t(spark, sf_dir, "events")
    hn = F.col("user_id") % 15
    ep = F.col("event_id") % 8
    noise = F.col("event_id") % 5
    quality = (
        F.when(hn % 3 == 0, 100 + 10 * ep + noise)
        .when(hn % 3 == 1, 200 - 12 * ep + noise)
        .otherwise(150 + noise)
    )
    d = e.select(
        F.concat(F.lit("h"), hn.cast("string"), F.lit(".com")).alias("host"),
        ep.alias("epoch"), quality.alias("quality"),
    )
    return AG.trend_by_key(d).orderBy("host")


_SQL_HOST_QUALITY_TREND = """
WITH d AS (
  SELECT concat('h', CAST(user_id % 15 AS VARCHAR), '.com') AS host,
         event_id % 8 AS x,
         CASE CAST((user_id % 15) % 3 AS INT)
           WHEN 0 THEN 100 + 10 * (event_id % 8) + event_id % 5
           WHEN 1 THEN 200 - 12 * (event_id % 8) + event_id % 5
           ELSE 150 + event_id % 5 END AS y
  FROM events
),
a AS (
  SELECT host, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM d GROUP BY host
)
SELECT host, CAST(n AS BIGINT) AS n_points,
       CAST(floor(1000 * sy / n) AS BIGINT) AS mean_y_milli,
       CAST(CASE WHEN n * sxx - sx * sx <> 0
                 THEN floor(1000 * (n * sxy - sx * sy)
                            / (n * sxx - sx * sx)) END AS BIGINT)
         AS slope_milli
FROM a ORDER BY host
"""


_register({"tx_host_quality_trend": (_q_host_quality_trend, _SQL_HOST_QUALITY_TREND)})


def _q_canonical_cluster_conflicts(spark, sf_dir):
    """Canonical-declaration conflicts within near-dup clusters
    (operators/dedup.canonical_cluster_conflicts): do a duplicate
    group's rel=canonical targets agree? Page triples from events
    (zero-padded urls so min-label = numeric min), three declaration
    regimes (all agree / one dissents / one silent); pairs are the
    within-triple edges, clustering + extraction + resolution all run
    the real machinery while the oracle derives the per-regime answer
    arithmetically."""
    from web_crawler_spark.operators import dedup as D

    e = _t(spark, sf_dir, "events")
    mx = e.agg(F.max("event_id").alias("_mx"))
    e = e.join(F.broadcast(mx)).filter(
        F.col("event_id") - F.col("event_id") % 3 + 2 <= F.col("_mx")
    )
    gid = F.col("event_id") - F.col("event_id") % 3
    g3 = F.floor(gid / 3).cast("long")
    v = F.col("event_id") % 3
    regime = g3 % 3
    host = F.concat(F.lit("host"), (g3 % 20).cast("string"),
                    F.lit(".example.com"))

    def u(num):
        return F.concat(
            F.lit("https://"), host, F.lit("/p/"),
            F.lpad(num.cast("string"), 12, "0"),
        )

    tgt_num = F.when((regime == 1) & (v == 2), gid + 1).otherwise(gid)
    declares = ~((regime == 2) & (v == 0))
    html = F.when(
        declares,
        F.concat(
            F.lit('<html><head><link rel="canonical" href="'),
            u(tgt_num), F.lit('"></head><body>x</body></html>'),
        ),
    ).otherwise(F.lit("<html><head></head><body>x</body></html>"))
    pages = e.select(u(F.col("event_id")).alias("url"), html.alias("html"))
    pairs = e.filter(v != 0).select(
        u(gid).alias("id_a"), u(F.col("event_id")).alias("id_b")
    )
    return D.canonical_cluster_conflicts(pages, pairs).orderBy("cluster_id")


_SQL_CANONICAL_CLUSTER_CONFLICTS = """
WITH mx AS (SELECT max(event_id) AS m FROM events),
g AS (
  SELECT DISTINCT event_id - event_id % 3 AS gid FROM events, mx
  WHERE event_id - event_id % 3 + 2 <= m
),
b AS (
  SELECT gid, CAST((gid // 3) % 3 AS INT) AS regime,
         concat('host', CAST((gid // 3) % 20 AS VARCHAR), '.example.com')
           AS host
  FROM g
)
SELECT concat('https://', host, '/p/',
              lpad(CAST(gid AS VARCHAR), 12, '0')) AS cluster_id,
       CAST(3 AS BIGINT) AS n_pages,
       CAST(CASE WHEN regime = 2 THEN 2 ELSE 3 END AS BIGINT)
         AS n_declaring,
       CAST(CASE WHEN regime = 1 THEN 2 ELSE 1 END AS BIGINT)
         AS n_distinct_targets,
       regime = 1 AS conflicted
FROM b ORDER BY cluster_id
"""


_register(
    {
        "cc_canonical_cluster_conflicts": (
            _q_canonical_cluster_conflicts,
            _SQL_CANONICAL_CLUSTER_CONFLICTS,
        ),
    }
)


def _q_content_flapping(spark, sf_dir):
    """Flapping-content detector (operators/snapshots.content_flapping):
    URLs returning to previously-seen payload states across epochs —
    the refresh-budget thieves the Poisson change model mis-prices.
    2000 URLs × 5 dense epochs from events in three regimes (stable /
    linearly evolving / A-B alternating); only the alternators flap,
    and the oracle derives their counts arithmetically."""
    from web_crawler_spark.operators import snapshots as SN

    e = _t(spark, sf_dir, "events")
    un = F.col("event_id") % 2000
    ep = F.floor(F.col("event_id") / 2000).cast("long")
    c = un % 3
    digest = (
        F.when(c == 0, F.lit("d0"))
        .when(c == 1, F.concat(F.lit("d"), ep.cast("string")))
        .otherwise(F.concat(F.lit("d"), (ep % 2).cast("string")))
    )
    fetches = e.select(
        F.concat(F.lit("https://f.com/u/"), un.cast("string")).alias("url"),
        ep.alias("epoch"), digest.alias("payload_digest"),
    )
    return SN.content_flapping(fetches).orderBy("url")


_SQL_CONTENT_FLAPPING = """
WITH u AS (
  SELECT DISTINCT event_id % 2000 AS un,
         COUNT(*) OVER (PARTITION BY event_id % 2000) AS nf
  FROM events
),
fl AS (SELECT un, nf FROM u WHERE un % 3 = 2 AND nf >= 3)
SELECT concat('https://f.com/u/', CAST(un AS VARCHAR)) AS url,
       CAST(nf AS BIGINT) AS n_fetches,
       CAST(2 AS BIGINT) AS n_distinct_payloads,
       CAST(nf - 1 AS BIGINT) AS n_transitions,
       CAST(nf - 2 AS BIGINT) AS wasted_fetches
FROM fl ORDER BY url
"""


_register({"crawl_content_flapping": (_q_content_flapping, _SQL_CONTENT_FLAPPING)})


def _q_frontier_funnel(spark, sf_dir):
    """Single-pass frontier admission funnel (operators/urlfilter.
    frontier_funnel): raw → batch-dedup → seen-filter → robots as one
    4-row table. Candidates carry surface variants (upper-case
    scheme/host + fragment on the second copy) so canonicalization
    does real collapse work; every 4th canonical key is pre-seen and
    every 5th path is robots-disallowed; the oracle derives all four
    stage counts arithmetically."""
    from web_crawler_spark.functions import urltools as U
    from web_crawler_spark.operators import robots as RB
    from web_crawler_spark.operators import urlfilter as UF

    e = _t(spark, sf_dir, "events")
    k = F.col("event_id") % 4000
    hn = k % 10
    path = F.concat(
        F.when(k % 5 == 0, F.lit("/priv/")).otherwise(F.lit("/p/")),
        k.cast("string"),
    )
    base = F.concat(F.lit("https://h"), hn.cast("string"), F.lit(".com"), path)
    variant = F.concat(
        F.lit("HTTPS://H"), hn.cast("string"), F.lit(".COM"), path, F.lit("#z")
    )
    candidates = e.select(
        F.when(F.col("event_id") >= 4000, variant).otherwise(base).alias("url")
    )
    seen = (
        e.filter(k % 4 == 1)
        .select(U.canonicalize_url(base).alias("canonical_url"))
        .distinct()
    )
    robots_txt = "User-agent: *\nDisallow: /priv/\n"
    robots_pages = spark.createDataFrame(
        [(f"h{i}.com", robots_txt) for i in range(10)],
        "host string, body string",
    )
    rules = RB.parse_robots(robots_pages)
    return UF.frontier_funnel(candidates, seen, rules, "anybot").orderBy(
        "stage_id"
    )


_SQL_FRONTIER_FUNNEL = """
WITH c AS (SELECT event_id % 4000 AS k FROM events),
a AS (
  SELECT COUNT(*) AS n_raw,
         COUNT(DISTINCT k) AS n_unique,
         COUNT(DISTINCT CASE WHEN k % 4 <> 1 THEN k END) AS n_unseen,
         COUNT(DISTINCT CASE WHEN k % 4 <> 1 AND k % 5 <> 0 THEN k END)
           AS n_admitted
  FROM c
),
s AS (
  SELECT 0 AS stage_id, 'raw_candidates' AS stage, n_raw AS n_urls,
         0 AS n_dropped, 0 AS prev FROM a
  UNION ALL
  SELECT 1, 'after_batch_dedup', n_unique, n_raw - n_unique, n_raw FROM a
  UNION ALL
  SELECT 2, 'after_seen_filter', n_unseen, n_unique - n_unseen, n_unique
  FROM a
  UNION ALL
  SELECT 3, 'after_robots', n_admitted, n_unseen - n_admitted, n_unseen
  FROM a
)
SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
       CAST(n_urls AS BIGINT) AS n_urls,
       CAST(n_dropped AS BIGINT) AS n_dropped,
       CAST(CASE WHEN prev > 0 THEN floor(1000 * n_dropped / prev)
                 ELSE 0 END AS BIGINT) AS drop_share_milli
FROM s ORDER BY stage_id
"""


_register({"f8_frontier_funnel": (_q_frontier_funnel, _SQL_FRONTIER_FUNNEL)})


def _q_link_rot(spark, sf_dir):
    """Per-host link-rot audit (operators/graph.link_rot): outlink
    targets classified ok / broken / never-fetched per source host.
    Same 12-host edge fixture as the graph family; target status by
    event number mod 7 (four ok codes incl. a 301, a 404, a 500, and
    a never-fetched residue) — the oracle derives the class census
    arithmetically."""
    from web_crawler_spark.operators import graph as G

    e = _t(spark, sf_dir, "events")
    edges = _host_edges(spark, sf_dir)
    m = F.col("event_id") % 7
    status = (
        F.when(m == 0, 200).when(m == 1, 200).when(m == 2, 301)
        .when(m == 3, 200).when(m == 4, 404).when(m == 5, 500)
    )
    fetch_status = e.filter(m != 6).select(
        F.concat(
            F.lit("https://h"),
            ((F.col("user_id") + F.col("event_id")) % 12).cast("string"),
            F.lit(".com/q/"), F.col("event_id").cast("string"),
        ).alias("url"),
        status.alias("status"),
    )
    return G.link_rot(edges, fetch_status).orderBy("host")


_SQL_LINK_ROT = """
WITH e AS (
  SELECT concat('h', CAST(user_id % 12 AS VARCHAR), '.com') AS host,
         CAST(event_id % 7 AS INT) AS m
  FROM events
  WHERE user_id % 12 IS NOT NULL
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_outlinks,
       CAST(SUM(CASE WHEN m IN (0, 1, 2, 3) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ok,
       CAST(SUM(CASE WHEN m IN (4, 5) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_broken,
       CAST(SUM(CASE WHEN m = 6 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unfetched,
       CAST(floor(1000 * SUM(CASE WHEN m IN (4, 5) THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS broken_share_milli
FROM e GROUP BY host ORDER BY host
"""


_register({"gr_link_rot": (_q_link_rot, _SQL_LINK_ROT)})


def _q_robots_complexity(spark, sf_dir):
    """Per-host robots.txt complexity census (operators/robots.
    robots_complexity): groups, rule counts, wildcard share,
    crawl-delay, sitemaps — through the REAL mapInPandas parse. 24
    hosts from events in four body regimes (simple / two-group with
    delay / wildcard+sitemap / empty); empty-body hosts publish no
    directives and are absent, per the contract."""
    from web_crawler_spark.operators import robots as RB

    e = _t(spark, sf_dir, "events")
    hosts = e.select((F.col("user_id") % 24).alias("hn")).distinct()
    hn = F.col("hn")
    host = F.concat(F.lit("r"), hn.cast("string"), F.lit(".com"))
    body = (
        F.when(hn % 4 == 0, F.lit("User-agent: *\nDisallow: /a/\n"))
        .when(hn % 4 == 1, F.lit(
            "User-agent: bot\nDisallow: /x/\nAllow: /x/pub/\n"
            "Crawl-delay: 2\n\nUser-agent: *\nDisallow: /y/\n"))
        .when(hn % 4 == 2, F.concat(
            F.lit("User-agent: *\nDisallow: /*.php$\nAllow: /p*q/\n"
                  "Sitemap: https://r"),
            hn.cast("string"), F.lit(".com/sm.xml\n")))
        .otherwise(F.lit(""))
    )
    pages = hosts.select(host.alias("host"), body.alias("body"))
    return RB.robots_complexity(RB.parse_robots(pages)).orderBy("host")


_SQL_ROBOTS_COMPLEXITY = """
WITH h AS (SELECT DISTINCT user_id % 24 AS hn FROM events),
c AS (SELECT hn, CAST(hn % 4 AS INT) AS cls FROM h WHERE hn % 4 <> 3)
SELECT concat('r', CAST(hn AS VARCHAR), '.com') AS host,
       CAST(CASE cls WHEN 1 THEN 2 ELSE 1 END AS BIGINT) AS n_groups,
       CAST(CASE cls WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 2 END AS BIGINT)
         AS n_rules,
       CAST(CASE cls WHEN 0 THEN 0 ELSE 1 END AS BIGINT) AS n_allow,
       CAST(CASE cls WHEN 1 THEN 2 ELSE 1 END AS BIGINT) AS n_disallow,
       CAST(CASE cls WHEN 2 THEN 2 ELSE 0 END AS BIGINT)
         AS n_wildcard_rules,
       cls = 1 AS has_crawl_delay,
       CAST(CASE cls WHEN 2 THEN 1 ELSE 0 END AS BIGINT) AS n_sitemaps
FROM c ORDER BY host
"""


_register({"robots_complexity": (_q_robots_complexity, _SQL_ROBOTS_COMPLEXITY)})


def _q_host_latency_slo(spark, sf_dir):
    """Per-host fetch-latency tail report (operators/politeness.
    host_latency_slo): discrete rank-⌈q·n⌉ p50/p95/p99 + SLO verdict —
    integer-ms in, integer-ms out, no interpolation, so the oracle
    replays the rank pick exactly. 18 hosts from events with a
    deterministic latency spread plus a per-host offset so breach
    verdicts vary."""
    from web_crawler_spark.operators import politeness as PL

    e = _t(spark, sf_dir, "events")
    hn = F.col("user_id") % 18
    lat = (F.col("event_id") * 37) % 997 + hn * 60
    fetches = e.select(
        F.concat(F.lit("h"), hn.cast("string"), F.lit(".com")).alias("host"),
        lat.alias("latency_ms"),
    )
    return PL.host_latency_slo(fetches, slo_p95_ms=1500).orderBy("host")


_SQL_HOST_LATENCY_SLO = """
WITH d AS (
  SELECT concat('h', CAST(user_id % 18 AS VARCHAR), '.com') AS host,
         (event_id * 37) % 997 + (user_id % 18) * 60 AS lat
  FROM events
),
r AS (
  SELECT host, lat,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY lat, host) AS rn,
         COUNT(*) OVER (PARTITION BY host) AS n
  FROM d
),
a AS (
  SELECT host, MAX(n) AS n_fetches,
         MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN lat END)
           AS p50_ms,
         MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN lat END)
           AS p95_ms,
         MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN lat END)
           AS p99_ms
  FROM r GROUP BY host
)
SELECT host, CAST(n_fetches AS BIGINT) AS n_fetches,
       CAST(p50_ms AS BIGINT) AS p50_ms,
       CAST(p95_ms AS BIGINT) AS p95_ms,
       CAST(p99_ms AS BIGINT) AS p99_ms,
       p95_ms > 1500 AS slo_breach
FROM a ORDER BY host
"""


def _q_write_layout_plan(spark, sf_dir):
    """Output-layout advisor (operators/corpus.write_layout_plan): per
    partition key, target file count, rows per file, and the
    tiny/balanced/capped action class — the small-files planner for a
    partitioned 100 TB write. Run over documents by source with a
    small target so every class appears at sf0.01; the oracle replays
    the integer arithmetic."""
    from web_crawler_spark.operators import corpus as CO

    d = _t(spark, sf_dir, "documents")
    return CO.write_layout_plan(
        d, target_file_bytes=16_384, max_files_per_key=3
    ).orderBy("partition_key")


_SQL_WRITE_LAYOUT_PLAN = """
WITH a AS (
  SELECT source AS partition_key, COUNT(*) AS n_rows,
         SUM(length(text)) AS est_bytes
  FROM documents GROUP BY source
),
p AS (
  SELECT partition_key, n_rows, est_bytes,
         CAST(ceil(est_bytes / 16384.0) AS BIGINT) AS raw_files
  FROM a
)
SELECT partition_key, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(est_bytes AS BIGINT) AS est_bytes,
       CAST(greatest(least(raw_files, 3), 1) AS BIGINT) AS n_files,
       CAST(ceil(n_rows * 1.0 / greatest(least(raw_files, 3), 1))
            AS BIGINT) AS rows_per_file,
       CASE WHEN est_bytes < 2048 THEN 'tiny'
            WHEN raw_files > 3 THEN 'capped'
            ELSE 'balanced' END AS layout_class
FROM p ORDER BY partition_key
"""


_register(
    {
        "f7_host_latency_slo": (_q_host_latency_slo, _SQL_HOST_LATENCY_SLO),
        "tx_write_layout_plan": (_q_write_layout_plan, _SQL_WRITE_LAYOUT_PLAN),
    }
)
