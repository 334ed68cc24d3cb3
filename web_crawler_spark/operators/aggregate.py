"""Aggregation + top-k operators (SURVEY §2.5/§2.6, A1–A7 / T1–T5).

All single-pass hash aggregations (map-side partial combine for free) or
``TakeOrderedAndProject`` top-k (never a full sort). Every computed column
is aliased so DataFrame output and ANSI-SQL oracle agree column-for-column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType


def market_summary(df: DataFrame, value_col: str = "change_percent") -> DataFrame:
    """A1 (pacong/services/commodity_service.py:172-183): totals, avg change
    (over non-null), gainer/loser/unchanged counts. One hash agg, no window."""
    cp = F.col(value_col)
    return df.agg(
        F.count(F.lit(1)).alias("total_count"),
        F.round(F.avg(cp), 2).alias("avg_change"),
        F.sum(F.when(cp > 0, 1).otherwise(0)).cast("bigint").alias("gainers"),
        F.sum(F.when(cp < 0, 1).otherwise(0)).cast("bigint").alias("losers"),
        (
            F.count(F.lit(1))
            - F.sum(F.when(cp > 0, 1).otherwise(0))
            - F.sum(F.when(cp < 0, 1).otherwise(0))
        ).cast("bigint").alias("unchanged"),
    )


def category_stats(
    df: DataFrame, category_col: str = "category", value_col: str = "change_percent"
) -> DataFrame:
    """A2 (commodity_service.py:186-199): per-category count + round(avg,2).
    Spark avg ignores nulls — same semantics as the reference's explicit
    non-null filter inside the loop."""
    return (
        df.groupBy(F.col(category_col).alias("category"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.col(value_col)), 2).alias("avg_change"),
        )
        .orderBy("category")
    )


def category_histogram(df: DataFrame, category_col: str = "category") -> DataFrame:
    """A3 (pacong/output/excel_writer.py:164-171): frequency-ordered counts;
    category name tiebreak for determinism."""
    return (
        df.groupBy(F.col(category_col).alias("category"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "category")
    )


def top_k(
    df: DataFrame,
    value_col: str,
    k: int = 10,
    ascending: bool = False,
    tiebreaker: str | None = None,
) -> DataFrame:
    """T1/T2 (commodity_service.py:127-157): filter non-null, order, limit.
    Compiles to TakeOrderedAndProject — O(n) scan + per-partition heap, no
    global sort. A unique tiebreaker keeps results deterministic under ties."""
    v = F.col(value_col)
    order = [v.asc() if ascending else v.desc()]
    if tiebreaker:
        order.append(F.col(tiebreaker).asc())
    return df.filter(v.isNotNull()).orderBy(*order).limit(k)


def rank_within_category(
    df: DataFrame,
    category_col: str,
    value_col: str,
    k: int | None = None,
    tiebreaker: str | None = None,
) -> DataFrame:
    """T3 (commodity_service.py:121-123): per-category sort by value desc
    (nulls treated as 0 by the reference's ``x.current_price or 0``)."""
    v = F.coalesce(F.col(value_col), F.lit(0)).desc()
    order = [v] + ([F.col(tiebreaker).asc()] if tiebreaker else [])
    w = Window.partitionBy(category_col).orderBy(*order)
    out = df.withColumn("rank_in_category", F.row_number().over(w))
    if k is not None:
        out = out.filter(F.col("rank_in_category") <= k)
    return out


def minmax_avg(df: DataFrame, value_col: str) -> DataFrame:
    """A4 (report artifact 最高价/最低价/平均价)."""
    v = F.col(value_col)
    return df.agg(
        F.round(F.max(v), 6).alias("max_value"),
        F.round(F.min(v), 6).alias("min_value"),
        F.round(F.avg(v), 6).alias("avg_value"),
    )


def success_rate(metrics: DataFrame) -> DataFrame:
    """A7 (base_scraper.py:161): scraped/(scraped+errors) per epoch."""
    return metrics.groupBy("epoch").agg(
        F.sum("scraped_count").cast("bigint").alias("scraped"),
        F.sum("error_count").cast("bigint").alias("errors"),
        F.round(
            F.sum("scraped_count")
            / (F.sum("scraped_count") + F.sum("error_count")),
            6,
        ).alias("success_rate"),
    )


def host_report(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-host crawl-coverage rollup (the Common Crawl host-stats table
    shape): page and distinct-URL counts, mean quality score, dominant
    language, and the corpus-dedup attribution rate — everything a crawl
    operator reads to budget a host's next epoch.

    Plan: one enriched projection (language / quality / fingerprint are
    pure column expressions), one fingerprint window for global dup
    attribution (md5-only shuffle), then two keyed aggs — the (host,
    lang) rollup collapses before its per-host argmax window, so the
    window runs over ~languages-per-host rows, not pages.
    ``top_lang`` ties break lexicographically (deterministic re-runs).
    """
    from pyspark.sql import Window

    from ..functions import text as T
    from ..functions import urltools as U

    base = pages.select(
        U.url_host(F.col(url_col)).alias("host"),
        F.col(url_col).alias("url"),
        T.detect_language(F.col(text_col)).alias("lang"),
        T.quality_score(F.col(text_col)).alias("quality"),
        T.content_fingerprint(F.col(text_col)).alias("fp"),
    )
    dup_w = Window.partitionBy("fp").orderBy("url")
    flagged = base.withColumn("is_dup", F.row_number().over(dup_w) > 1)
    per_host = flagged.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("url").alias("n_urls"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.sum(F.col("is_dup").cast("bigint")).alias("n_dup_pages"),
    )
    lang_counts = flagged.groupBy("host", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    lang_w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("lang"))
    top_lang = (
        lang_counts.withColumn("__rn", F.row_number().over(lang_w))
        .filter(F.col("__rn") == 1)
        .select("host", F.col("lang").alias("top_lang"))
    )
    return per_host.join(top_lang, "host").select(
        "host", "n_pages", "n_urls", "avg_quality", "top_lang",
        F.round(F.col("n_dup_pages") / F.col("n_pages"), 6).alias("dup_rate"),
    )


def frontier_gini(
    frontier,
    host_col: str = "host",
):
    """Scheduling-fairness telemetry: the Gini coefficient of per-host
    frontier queue depths — 0 = perfectly even hosts, →1 = one host owns
    the frontier (the skew the salted partitioning and per-host budgets
    exist to absorb; alert when it drifts up between epochs).

    Computed exactly via the sorted-rank identity
    G = Σᵢ (2i − n − 1)·xᵢ / (n·Σx) over depths sorted ascending —
    one groupBy(host) count, one window over the (tiny) per-host depth
    table, one 1-row agg. Integer arithmetic until the final division.
    Returns a 1-row frame (n_hosts, n_urls, gini).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    depths = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("depth")
    )
    w = Window.orderBy("depth", "host")
    ranked = depths.withColumn("i", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("depth").cast("bigint").alias("n_urls"),
        F.round(
            F.sum((F.lit(2) * F.col("i") - F.col("n") - 1) * F.col("depth"))
            / (F.first("n") * F.sum("depth")),
            6,
        ).alias("gini"),
    )


def waterfill_budgets(demands: dict, capacity: int) -> dict:
    """Max-min fair per-host crawl budgets by water-filling: split a
    global per-epoch fetch capacity across hosts so small hosts are fully
    served and the remainder is divided evenly among the big ones — the
    allocation that maximizes the minimum service (the fairness objective
    behind per-host budgets; without it one mega-host starves the tail).

    ``{host: demand}`` and the capacity → ``{host: (budget, satisfied)}``,
    pure Python on the driver. Integer semantics: rank hosts ascending by
    (demand, host), a None host first among equal demands (Spark's
    ascending null order); host k is *satisfied* when granting every host
    from rank k on its full demand still fits:
    ``demand_k * (n - k + 1) + prefix_{k-1} <= capacity``. With K = the
    last satisfied rank, the R = capacity - prefix_K leftover spreads
    over the m = n - K unsatisfied hosts as floor(R/m), the R mod m
    lowest-ranked of them getting one extra. sum(budget) = min(capacity,
    sum(demand)) exactly, and no budget exceeds its demand.
    """
    ranked = sorted(
        demands.items(), key=lambda hd: (hd[1], hd[0] is not None, hd[0])
    )
    n = len(ranked)
    K = PK = prefix = 0
    for k, (_h, d) in enumerate(ranked, 1):
        if d * (n - k + 1) + prefix <= capacity:
            K, PK = k, prefix + d
        prefix += d
    m = n - K
    base, extra = divmod(capacity - PK, m) if m else (0, 0)
    return {
        h: (d, True) if k <= K else (base + (1 if k - K <= extra else 0), False)
        for k, (h, d) in enumerate(ranked, 1)
    }


def host_budget_waterfill(
    demands: DataFrame,
    capacity: int,
    host_col: str = "host",
    demand_col: str = "demand",
) -> DataFrame:
    """:func:`waterfill_budgets` over a per-host demand frame: returns
    (host, demand, budget, satisfied), one row per host.

    Scale shape: one driver-resident row per host — the per-host table
    is collected once (its only Spark work) and the budgets are computed
    on the driver; the result is a local frame.
    """
    d = demands.select(
        F.col(host_col).alias("host"),
        F.col(demand_col).cast("bigint").alias("demand"),
    )
    wanted = {r["host"]: r["demand"] for r in d.collect()}
    schema = StructType([
        d.schema["host"],
        StructField("demand", LongType()),
        StructField("budget", LongType()),
        StructField("satisfied", BooleanType()),
    ])
    return demands.sparkSession.createDataFrame(
        [(h, wanted[h], b, sat)
         for h, (b, sat) in waterfill_budgets(wanted, capacity).items()],
        schema,
    )


def epoch_makespan(
    frontier: DataFrame,
    delays: DataFrame,
    host_col: str = "host",
    delay_col: str = "delay_ms",
    default_delay_ms: int | None = None,
) -> DataFrame:
    """Politeness-bound epoch makespan plan — the wall-clock planning
    table a crawl operator reads before launching an epoch: under
    per-host sequential fetching with a fixed politeness delay (the F2/F3
    contract), a host's fetch lane is busy ``n_urls × delay_ms``
    regardless of cluster size, so the epoch cannot finish before
    ``max_host(n·delay)`` — adding executors parallelizes ACROSS hosts
    only. The table names the binding (critical) host and each host's
    share of the bound, i.e. exactly where to spend scheduling effort
    (split the hot host by shard-safe mirrors, or re-budget it via
    :func:`host_budget_waterfill`).

    Returns (host, n_urls, delay_ms, host_busy_ms, share_of_epoch_milli,
    is_critical) — exact integers; share is one floored double division.
    EVERY frontier host gets a row: a host with no delay-table entry
    (the pre-robots-fetch situation) is NOT silently dropped — with
    ``default_delay_ms`` set it is planned at that delay; otherwise it
    surfaces with NULL delay/busy/share and ``is_critical = false``, so
    an incomplete delay table is visible in the plan instead of
    silently shrinking the makespan bound. When the makespan itself is
    0 (all delays 0) every host's share is defined as 1000 rather than
    a 0/0 NULL. Scale shape: one host-keyed combiner count + one host
    LEFT equi-join against the per-host delay table (AQE broadcasts it
    when small; at 10^8 hosts it stays a shuffle join on the slim pair)
    + a 1-row max agg broadcast back. Ties for the bound all flag
    critical (deterministic).
    """
    per = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_urls")
    )
    d = delays.select(
        F.col(host_col).alias("host"),
        F.col(delay_col).cast("long").alias("delay_ms"),
    )
    delay = F.col("delay_ms")
    if default_delay_ms is not None:
        delay = F.coalesce(delay, F.lit(int(default_delay_ms)).cast("long"))
    busy = (
        per.join(d, "host", "left")
        .withColumn("delay_ms", delay)
        .withColumn(
            "host_busy_ms", (F.col("n_urls") * delay).cast("long")
        )
    )
    # consumed by two plans (the 1-row max and the output projection):
    # pin the slim per-host frame so the frontier scan runs once
    busy = busy.localCheckpoint(eager=False)
    top = busy.agg(F.max("host_busy_ms").alias("__makespan_ms"))
    return (
        busy.crossJoin(F.broadcast(top))
        .select(
            "host", "n_urls", "delay_ms", "host_busy_ms",
            F.when(
                F.col("host_busy_ms").isNull(), F.lit(None)
            ).when(
                F.col("__makespan_ms") > 0,
                F.floor(
                    F.col("host_busy_ms") * 1000 / F.col("__makespan_ms")
                ),
            ).otherwise(F.lit(1000))
            .cast("long").alias("share_of_epoch_milli"),
            F.coalesce(
                F.col("host_busy_ms") == F.col("__makespan_ms"), F.lit(False)
            ).alias("is_critical"),
        )
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: list[float],
    id_col: str,
    n_partitions: int = 64,
) -> DataFrame:
    """EXACT quantiles of a column, distributed — p50/p95/p99 telemetry
    (fetch latency, page bytes, tokens/doc) without ``approx_percentile``
    error bars and without the single-partition global sort an
    ``ORDER BY + row_number`` plan costs. The rank of every row comes
    from the two-level scan (``operators/prefixsum.py``) over
    (value, id); each requested quantile q picks the row at rank
    ``max(1, ceil(q·n))`` (inverse empirical CDF, the quantile_disc
    convention) via a broadcast equi-join on rank — so the full data
    crosses one range exchange, slim, and nothing else.

    ``id_col`` breaks value ties into the total order the scan needs;
    which of several EQUAL values lands at the target rank is then
    irrelevant to the answer. Returns (q, n, rank, value) per quantile.
    """
    from .prefixsum import prefix_sum

    slim = df.select(
        F.col(value_col).alias("value"), F.col(id_col).alias("__id")
    ).withColumn("__one", F.lit(1).cast("bigint"))
    ranked = prefix_sum(
        slim, ["value", "__id"], "__one", out_col="rank",
        n_partitions=n_partitions,
    )
    n_row = ranked.agg(F.count(F.lit(1)).alias("n"))
    targets = (
        n_row.select(
            "n", F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
        )
        .select(
            "q", "n",
            F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n")))
            .cast("bigint").alias("rank"),
        )
    )
    return (
        ranked.join(F.broadcast(targets), "rank")
        .select("q", "n", "rank", "value")
    )


def host_distinct_sketch(
    frontier: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable per-host distinct-URL sketches (Apache DataSketches
    HLL via Spark's ``hll_sketch_agg``): the telemetry a long-running
    crawl keeps PER EPOCH and unions across epochs with
    ``merge_host_sketches`` — distinct-URLs-ever-seen per host without
    re-scanning history or holding exact seen-sets. ~1.6%/sqrt(2^lg_k)
    relative error (lg_k=12 → ~2.5%), a few KB per host regardless of
    URL count.

    Returns (host, sketch binary, est_distinct). Estimates are
    engine-specific (no SQL oracle); error bounds are pinned by pytest.
    """
    return frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.hll_sketch_agg(F.col(url_col), F.lit(lg_k)).alias("sketch"),
        F.round(
            F.hll_sketch_estimate(F.hll_sketch_agg(F.col(url_col), F.lit(lg_k)))
        ).cast("bigint").alias("est_distinct"),
    )


def merge_host_sketches(per_epoch: DataFrame) -> DataFrame:
    """Union per-epoch HLL sketches into the all-time per-host estimate —
    the merge is the whole point of sketching: one slim agg over (host,
    sketch) rows, never a rescan of history."""
    return per_epoch.groupBy("host").agg(
        F.round(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch")))
        ).cast("bigint").alias("est_distinct_all_epochs"),
    )


def host_error_wilson(
    fetches: DataFrame,
    host_col: str = "host",
    is_error_col: str = "is_error",
    z: float = 1.96,
    min_fetches: int = 1,
) -> DataFrame:
    """Rank hosts by the Wilson score LOWER bound on their error
    proportion (Wilson 1927; the "how not to sort by average rating"
    discipline applied to crawl health): a host that failed 1-of-1 must
    NOT outrank a host that failed 300-of-1000 — the lower bound prices
    the sample size, the raw rate doesn't. This is the circuit-breaker
    ordering for deciding which hosts to throttle or quarantine first.

    Returns (host, n_fetches, n_errors, err_rate_milli, wilson_lb) sorted
    by wilson_lb desc. Counts are exact integers; the bound is ONE double
    expression per host computed from them in a fixed operation order —
    no accumulation-order dependence — rounded to 6dp (sqrt is IEEE
    correctly-rounded). Plan: a single host-keyed combiner agg + a
    projection; nothing shuffles wider than the host string.
    """
    g = fetches.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(
            F.when(F.col(is_error_col).cast("boolean"), 1).otherwise(0)
        ).alias("n_errors"),
    ).filter(F.col("n_fetches") >= F.lit(min_fetches))
    n = F.col("n_fetches").cast("double")
    p = F.col("n_errors").cast("double") / n
    z1 = F.lit(float(z))
    z2 = z1 * z1
    lb = (
        p + z2 / (F.lit(2.0) * n)
        - z1 * F.sqrt(
            p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
        )
    ) / (F.lit(1.0) + z2 / n)
    return (
        g.withColumn(
            "err_rate_milli",
            F.floor(F.lit(1000) * F.col("n_errors") / F.col("n_fetches")).cast(
                "long"
            ),
        )
        .withColumn("wilson_lb", F.round(lb, 6))
        .select(
            "host",
            F.col("n_fetches").cast("long").alias("n_fetches"),
            F.col("n_errors").cast("long").alias("n_errors"),
            "err_rate_milli",
            "wilson_lb",
        )
    )


def quality_capped_allocation(
    frontier: DataFrame,
    delays: DataFrame,
    fetches: DataFrame,
    total_budget: int,
    epoch_ms: int,
    host_col: str = "host",
    delay_col: str = "delay_ms",
    is_error_col: str = "is_error",
    z: float = 1.96,
) -> DataFrame:
    """Per-host crawl-budget OPTIMIZER for the next epoch — the
    composition of the three signals a budget decision actually needs:
    frontier demand (URLs waiting per host), the politeness capacity
    bound (an epoch of ``epoch_ms`` can physically fetch at most
    ``floor(epoch_ms / delay_ms)`` URLs from one host — the
    :func:`epoch_makespan` constraint read as a cap), and crawl health
    (the :func:`host_error_wilson` lower bound, so a host that has been
    failing gets its share demoted by EVIDENCE, not by a raw rate a
    single fetch can saturate).

    Allocation is one-shot proportional-capped, deterministic integer
    algebra: ``weight_milli = 1000 − floor(1000·wilson_lb)`` (never
    below 0; hosts with no fetch history weigh the full 1000 —
    innocent until proven), and ``budget = min(n_demand,
    cap_politeness, floor(total_budget · w_h / Σw))``. Remainder from
    the floors stays unspent by design (a second waterfill pass is
    :func:`host_budget_waterfill`'s job); Σ budget ≤ total_budget
    always. A host with NO delay row keeps its row with NULL
    cap_politeness and budget 0 — the epoch_makespan visibility
    discipline: an incomplete delay table must be seen, not silently
    planned around.

    Returns (host, n_demand, cap_politeness, n_fetches, n_errors,
    weight_milli, budget) ordered by host. Scale shape: three slim
    host-keyed combiner aggs + two host equi-joins + a broadcast 1-row
    weight sum; nothing shuffles wider than (host, longs).
    """
    demand = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_demand")
    )
    d = delays.select(
        F.col(host_col).alias("host"),
        F.col(delay_col).cast("long").alias("delay_ms"),
    )
    wil = host_error_wilson(fetches, host_col, is_error_col, z).select(
        "host", "n_fetches", "n_errors", "wilson_lb"
    )
    base = (
        demand.join(d, "host", "left")
        .join(wil, "host", "left")
        .withColumn(
            "cap_politeness",
            F.when(
                F.col("delay_ms") > 0,
                F.floor(F.lit(int(epoch_ms)) / F.col("delay_ms")),
            ).when(F.col("delay_ms") == 0, F.col("n_demand"))
            .cast("long"),
        )
        .withColumn(
            "weight_milli",
            F.greatest(
                F.lit(0),
                F.lit(1000)
                - F.floor(
                    F.lit(1000) * F.coalesce(F.col("wilson_lb"), F.lit(0.0))
                ),
            ).cast("long"),
        )
    )
    base = base.localCheckpoint(eager=False)
    tot = base.filter(F.col("cap_politeness").isNotNull()).agg(
        F.sum("weight_milli").alias("__sum_w")
    )
    share = F.floor(
        F.lit(int(total_budget)) * F.col("weight_milli") / F.col("__sum_w")
    )
    return (
        base.crossJoin(F.broadcast(tot))
        .select(
            "host",
            "n_demand",
            "cap_politeness",
            F.coalesce(F.col("n_fetches"), F.lit(0)).cast("long")
            .alias("n_fetches"),
            F.coalesce(F.col("n_errors"), F.lit(0)).cast("long")
            .alias("n_errors"),
            "weight_milli",
            F.when(F.col("cap_politeness").isNull(), F.lit(0))
            .when(
                F.col("__sum_w") > 0,
                F.least(F.col("n_demand"), F.col("cap_politeness"), share),
            )
            .otherwise(F.lit(0))
            .cast("long").alias("budget"),
        )
    )


def concentration_stats(
    df: DataFrame,
    key_col: str = "host",
) -> DataFrame:
    """One-row concentration summary of a corpus over ``key_col`` —
    the Herfindahl-Hirschman index (HHI) plus the top-key share: the
    "is this corpus actually diverse or is it 40% one domain" number
    every dataset datasheet should carry (domain-concentration analyses
    of C4/Pile-style corpora, e.g. Dodge et al. EMNLP 2021).

    Returns (n_keys, n_rows, top_share_milli, hhi_nano,
    effective_keys_milli): top_share_milli = ⌊1000·max(nᵢ)/N⌋ (exact
    integers); hhi_nano = ⌊10⁹·Σnᵢ²/N²⌋ with the division done in
    double AFTER the exact integer sums (both engines run the identical
    IEEE ops); effective_keys_milli = ⌊1000·N²/Σnᵢ²⌋ — the inverse-HHI
    "effective number of domains" in milli units, exact-integer-derived
    the same way. Plan: one key-count combiner agg + a 1-row rollup.
    """
    g = df.groupBy(F.col(key_col).alias("k")).agg(F.count(F.lit(1)).alias("n"))
    return g.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("_mx"),
        F.sum(F.col("n") * F.col("n")).alias("_s2"),
    ).select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.floor(F.lit(1000) * F.col("_mx") / F.col("n_rows")).cast("long").alias(
            "top_share_milli"
        ),
        F.floor(
            F.lit(1000000000.0)
            * (
                F.col("_s2").cast("double")
                / (F.col("n_rows").cast("double") * F.col("n_rows").cast("double"))
            )
        ).cast("long").alias("hhi_nano"),
        F.floor(
            F.lit(1000.0)
            * (
                (F.col("n_rows").cast("double") * F.col("n_rows").cast("double"))
                / F.col("_s2").cast("double")
            )
        ).cast("long").alias("effective_keys_milli"),
    )


def jain_fairness(
    frontier: DataFrame, host_col: str = "host"
) -> DataFrame:
    """Jain's fairness index over per-host allocation counts — J =
    (Σxᵢ)² / (n·Σxᵢ²) (Jain, Chiu & Hawe, DEC TR-301 1984, the standard
    scheduling-fairness number): 1 when every host gets equal service,
    → 1/n when one host hogs everything; k/n exactly when k hosts share
    equally. The fetch-scheduler fairness companion of
    :func:`frontier_gini` (Gini reads inequality of the queue, Jain
    reads fairness of the service) — the number an operator watches
    to prove politeness isn't starving the tail.

    Sufficient statistics are exact integers (n, Σx, Σx²) from one
    host-keyed combiner agg + a 1-row rollup; J is ONE double expression
    rounded to 6dp — no cross-row float accumulation. The reported
    ``sum_sq`` long is exact for Σx² ≤ 2^63 ≈ 9.2·10^18 — one 10^9-URL
    hot host contributes ~10^18, so the bound covers a handful of such
    hosts, not arbitrarily many; the x² terms are therefore summed in
    decimal(38,0) (no silent wrap) and J is computed from that exact sum
    cast to double, so J stays right even where the long rendering of
    ``sum_sq`` would saturate.
    """
    per = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("x")
    )
    xd = F.col("x").cast("decimal(19,0)")
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("long").alias("total"),
        F.coalesce(F.sum(xd * xd), F.lit(0))
        .cast("decimal(38,0)").alias("sum_sq_dec"),
    )
    return agg.select(
        "n_hosts", "total",
        F.col("sum_sq_dec").cast("long").alias("sum_sq"),
        F.when(
            (F.col("n_hosts") > 0) & (F.col("sum_sq_dec") > 0),
            F.round(
                F.col("total").cast("double") * F.col("total").cast("double")
                / (F.col("n_hosts").cast("double")
                   * F.col("sum_sq_dec").cast("double")),
                6,
            ),
        ).alias("jain"),
    )


def frontier_starvation(
    demand: DataFrame,
    fetches: DataFrame,
    host_col: str = "host",
    epoch_col: str = "epoch",
    queued_col: str = "n_queued",
    fetched_col: str = "n_fetched",
) -> DataFrame:
    """Frontier starvation audit — hosts with queued demand that the
    scheduler has not touched for a trailing run of epochs. The
    waterfill/quality-budget allocators (``host_budget_waterfill``,
    ``quality_capped_budget``) can legitimately zero a host's budget
    for one epoch; a host zeroed EVERY epoch while its queue stays
    non-empty is starving, and at 10^10-URL scale that is how whole
    long-tail domains silently drop out of the corpus. This is the
    side report that makes the allocation policy observable.

    Inputs: per-epoch frontier snapshots ``demand(host, epoch,
    n_queued)`` — dense on the epoch grid while a host has a queue —
    and the fetch log ``fetches(host, epoch, n_fetched)``. An epoch is
    *starved* for a host when n_queued > 0 and no fetch row (or a zero
    one) exists. The trailing streak runs backward from the global max
    epoch E; a served or demand-free epoch breaks it.

    Plan: demand ⟕ fetches on (host, epoch) — slim keyed exchange —
    then ONE per-host combiner agg (max served epoch, first snapshot
    epoch, queue at E, presence at E) against the broadcast singleton
    max-epoch row; no windows, no per-epoch driver loop. Scale-safe:
    everything after the join is a per-host reduction.

    Returns (host, epochs_starved, first_starved_epoch, queued_now)
    for hosts starved at E (epochs_starved ≥ 1), where queued_now is
    the queue depth at E.
    """
    d = demand.select(
        F.col(host_col).alias("host"),
        F.col(epoch_col).cast("long").alias("epoch"),
        F.col(queued_col).cast("long").alias("n_queued"),
    )
    f = fetches.groupBy(
        F.col(host_col).alias("host"), F.col(epoch_col).cast("long").alias("epoch")
    ).agg(F.sum(F.col(fetched_col)).cast("long").alias("n_fetched"))
    j = d.join(f, ["host", "epoch"], "left").select(
        "host", "epoch", "n_queued",
        F.coalesce("n_fetched", F.lit(0)).alias("n_fetched"),
    )
    served = (F.col("n_queued") <= 0) | (F.col("n_fetched") > 0)
    per_host = j.groupBy("host").agg(
        F.max(F.when(served, F.col("epoch"))).alias("last_ok"),
        F.min("epoch").alias("first_epoch"),
        F.max("epoch").alias("last_epoch"),
        F.max_by("n_queued", "epoch").alias("queued_last"),
        F.max(F.when(~served, F.col("epoch"))).alias("last_starved"),
    )
    emax = j.agg(F.max("epoch").alias("emax"))
    out = per_host.join(F.broadcast(emax))
    streak = F.col("emax") - F.coalesce(
        F.col("last_ok"), F.col("first_epoch") - 1
    )
    return (
        out.filter(
            (F.col("last_epoch") == F.col("emax"))
            & (F.col("last_starved") == F.col("emax"))
        )
        .select(
            "host",
            streak.cast("long").alias("epochs_starved"),
            (F.col("emax") - streak + 1).cast("long").alias("first_starved_epoch"),
            F.col("queued_last").cast("long").alias("queued_now"),
        )
    )


def trend_by_key(
    df: DataFrame,
    key_col: str = "host",
    x_col: str = "epoch",
    y_col: str = "quality",
) -> DataFrame:
    """Per-key least-squares trend — the closed-form OLS slope computed
    entirely from combiner-aggregated integer sums, one shuffle, no
    windows, no per-key iteration. The crawl-ops use: quality drift per
    host across epochs (a host whose docs score worse every epoch is
    decaying into spam or template rot — demote BEFORE its mean
    crosses the gate threshold; the mean is a lagging indicator, the
    slope is the leading one). Works for any (key, x, y) integer
    triple: bytes-per-epoch, latency-per-epoch, novelty-per-epoch.

    Slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), emitted as fixed-point
    milli. The cross products are computed in decimal(38,0) (the
    jain_fairness discipline): at 10^10 rows per key the int64 product
    n·Σxy silently wraps while DuckDB widens to HUGEINT — the decimal
    cast keeps engine and oracle in exact agreement at any scale
    instead of diverging past 9.2e18.

    Returns (key, n_points, mean_y_milli, slope_milli); slope NULL
    when all x are equal (vertical/degenerate fit), keys with a single
    point included with NULL slope.
    """
    d = df.select(
        F.col(key_col).alias("key"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    agg = d.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx"),
    )
    n = F.col("n").cast(dec)
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        F.col("key").alias(key_col),
        F.col("n").alias("n_points"),
        F.floor(1000 * F.col("sy") / F.col("n")).cast("long")
        .alias("mean_y_milli"),
        F.when(den != 0, F.floor(1000 * num / den)).cast("long")
        .alias("slope_milli"),
    )
