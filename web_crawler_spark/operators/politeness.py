"""Frontier scheduling: crawl ordering + per-host politeness (SURVEY
§2.2 F1–F7), the one operator family Spark lacks natively.

Reference semantics being reproduced (pacong/core/base_scraper.py:112-143):
sources are fetched strictly in seed-list order, with ``rate_limit_delay``
seconds of sleep before every fetch after the first. Single-threaded, so
global order == list order. The engine's fidelity contract (SURVEY §7.3) is
*per-host* order + wave membership; cross-host interleaving is the
parallelism we're buying.

Scale design: each host lives in exactly one salt bucket per epoch (see
``urltools.host_salt``), so the per-host ``row_number`` window never spans
partitions, and hot hosts rotate buckets across epochs. The politeness
schedule is a closed form — seq k fetches at ``epoch_start + (k-1)*delay``
— because the delay is per-host constant (settings.yaml:17); no recursive
cumulative window needed, which keeps it one shuffle + one sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _seconds(c: Column) -> Column:
    """Epoch seconds for TIMESTAMP and TIMESTAMP_NTZ alike (session tz UTC)."""
    return c.cast("timestamp").cast("double")


def _after(start, offset_seconds: Column) -> Column:
    """``start + offset_seconds`` at millisecond resolution, so a
    fractional delay (1.5 s) is not truncated to whole seconds."""
    return F.timestamp_add(
        "MILLISECOND", (offset_seconds * 1000).cast("bigint"), start
    )


def crawl_order(
    frontier: DataFrame,
    host_col: str = "host",
    priority_col: str = "priority",
    url_col: str = "url",
    salt_col: str | list[str] | None = None,
) -> DataFrame:
    """F2: per-host fetch sequence = seed-list priority order, URL tiebreak.
    Matches the reference's sequential `for` loop order within each host.

    ``salt_col`` names one or more columns the window partitions by after
    the host. A column that is a function of the host (the per-epoch
    ``urltools.host_salt`` bucket) groups the same rows, so a frontier
    already repartitioned by (host, salt) is not shuffled again by host;
    any further column (the robots decision) numbers each of its values'
    rows apart within the host."""
    extra = [] if salt_col is None else [salt_col] if isinstance(salt_col, str) else salt_col
    w = Window.partitionBy(host_col, *extra).orderBy(F.col(priority_col).asc(), F.col(url_col).asc())
    return frontier.withColumn("seq", F.row_number().over(w))


def politeness_schedule(
    frontier: DataFrame,
    epoch_start: Column,
    delay_seconds: float = 2.0,
    host_col: str = "host",
    priority_col: str = "priority",
    url_col: str = "url",
    salt_col: str | list[str] | None = None,
) -> DataFrame:
    """F3: assign each URL its earliest polite fetch timestamp.

    scheduled_ts(host, seq) = epoch_start + (seq-1) * delay
    (the reference sleeps *before* every source after the first —
    base_scraper.py:117-119 — so seq 1 fetches at epoch_start).
    ``salt_col`` as in :func:`crawl_order`.
    """
    ordered = crawl_order(frontier, host_col, priority_col, url_col, salt_col)
    return ordered.withColumn(
        "scheduled_ts",
        _after(epoch_start, (F.col("seq") - 1) * F.lit(delay_seconds)),
    )


def politeness_check(
    fetched: DataFrame,
    delay_seconds: float = 2.0,
    host_col: str = "host",
    ts_col: str = "fetch_ts",
    seq_col: str = "seq",
) -> DataFrame:
    """Audit operator: verify an executed fetch log respected per-host
    politeness — ``lag(fetch_ts) over (partition by host order by seq)``
    must precede each fetch by ≥ delay. Returns violations (empty = clean).
    This is the north_rule's 'politeness via window functions over fetch
    timestamps' stated as a checkable invariant."""
    w = Window.partitionBy(host_col).orderBy(seq_col)
    return (
        fetched.withColumn("prev_ts", F.lag(F.col(ts_col)).over(w))
        .withColumn(
            "gap_seconds",
            F.round(_seconds(F.col(ts_col)) - _seconds(F.col("prev_ts")), 3),
        )
        .filter(F.col("prev_ts").isNotNull() & (F.col("gap_seconds") < delay_seconds))
    )


def retry_eligible(
    frontier: DataFrame,
    now: Column,
    max_retries: int = 3,
    backoff_factor: float = 1.0,
) -> DataFrame:
    """F6/S2: urllib3-Retry semantics as columns — a row is fetchable when
    its retry budget remains and its backoff window has elapsed
    (backoff_factor * 2^(retries-1), base_scraper.py:202-206)."""
    backoff = F.when(F.col("retries") == 0, F.lit(0.0)).otherwise(
        F.lit(backoff_factor) * F.pow(F.lit(2.0), F.col("retries") - 1)
    )
    eligible = (F.col("retries") < max_retries) & (
        F.col("last_attempt_ts").isNull()
        | (
            _seconds(F.col("last_attempt_ts")) + backoff
            <= _seconds(now)
        )
    )
    return frontier.withColumn("eligible", eligible)


def host_circuit_breaker(
    fetch_log: DataFrame,
    window_size: int = 10,
    error_threshold: float = 0.5,
    cooldown_seconds: float = 300.0,
    host_col: str = "host",
    ts_col: str = "fetch_ts",
    status_col: str = "status",
) -> DataFrame:
    """Per-host circuit breaker over the fetch log: when a host's trailing
    ``window_size``-fetch error rate reaches ``error_threshold``, the
    breaker opens and the host is paused for ``cooldown_seconds`` from its
    last attempt — the operational politeness rule that stops a crawler
    from hammering a failing origin (and burning its own budget) when
    errors are host-wide, not per-URL.

    Error = any status ≥ 500 or status 429 (server distress / throttle);
    4xx client errors don't trip the breaker. Returns one row per host:
    (host, n_fetches, trailing_error_rate, breaker_open, resume_ts).
    One per-host window over the log — same shuffle as crawl_order.
    """
    is_err = (
        (F.col(status_col) >= 500) | (F.col(status_col) == 429)
    ).cast("double")
    w_trail = (
        Window.partitionBy(host_col).orderBy(ts_col)
        .rowsBetween(-(window_size - 1), 0)
    )
    w_last = Window.partitionBy(host_col).orderBy(F.desc(ts_col))
    scored = (
        fetch_log.withColumn("__err_rate", F.avg(is_err).over(w_trail))
        .withColumn("__n", F.count(F.lit(1)).over(w_trail))
        .withColumn("__rn", F.row_number().over(w_last))
    )
    latest = scored.filter(F.col("__rn") == 1)
    # a short log can't evidence a rate: require a full window before
    # tripping (otherwise one early 503 on a fresh host opens the breaker)
    open_ = (F.col("__n") >= window_size) & (
        F.col("__err_rate") >= error_threshold
    )
    return latest.select(
        F.col(host_col).alias("host"),
        F.col("__n").alias("n_fetches"),
        F.round("__err_rate", 6).alias("trailing_error_rate"),
        open_.alias("breaker_open"),
        F.when(
            open_,
            _after(F.col(ts_col), F.lit(cooldown_seconds)),
        ).alias("resume_ts"),
    )


def aimd_host_delay(
    fetch_log: DataFrame,
    host_col: str = "host",
    ts_col: str = "fetch_ts",
    status_col: str = "status",
    latency_col: str = "latency_ms",
    initial_ms: int = 1000,
    min_ms: int = 250,
    max_ms: int = 60_000,
    dec_ms: int = 100,
    slow_ms: int = 600,
) -> DataFrame:
    """Adaptive per-host politeness (AIMD — the TCP congestion-control
    discipline applied to crawl delay, as in Heritrix's adaptive
    politeness): replay each host's fetch history in timestamp order;
    a fast success decreases the delay additively (``-dec_ms``, floored
    at ``min_ms``), a slow response, 5xx, or 429 doubles it (capped at
    ``max_ms``). All arithmetic is integer milliseconds, so the replay
    is bit-exact in any engine.

    The per-host history folds INSIDE one aggregation row —
    ``aggregate(array_sort(collect_list(...)))`` — so the plan is a
    single combiner-friendly groupBy(host): no iterative jobs, no
    window, and the fold length is a host's fetch count within the
    accounting window (bounded by the epoch budget), not the corpus.
    Returns (host, n_events, n_backoffs, delay_ms).
    """
    bad = (
        (F.col(status_col) >= 500)
        | (F.col(status_col) == 429)
        | (F.col(latency_col) >= slow_ms)
    ).cast("int")
    ev = fetch_log.select(
        F.col(host_col).alias("host"),
        F.struct(F.col(ts_col).alias("ts"), bad.alias("bad")).alias("e"),
    )
    agg = ev.groupBy("host").agg(
        F.array_sort(F.collect_list("e")).alias("evs")
    )
    flags = F.transform(F.col("evs"), lambda s: s["bad"])
    delay = F.aggregate(
        flags,
        F.lit(int(initial_ms)).cast("bigint"),
        lambda acc, b: F.when(
            b == 1, F.least(F.lit(int(max_ms)).cast("bigint"), acc * 2)
        ).otherwise(
            F.greatest(F.lit(int(min_ms)).cast("bigint"), acc - int(dec_ms))
        ),
    )
    return agg.select(
        "host",
        F.size("evs").cast("bigint").alias("n_events"),
        F.aggregate(
            flags, F.lit(0).cast("bigint"), lambda a, b: a + b
        ).alias("n_backoffs"),
        delay.alias("delay_ms"),
    )


def politeness_schedule_lanes(
    frontier: DataFrame,
    epoch_start,
    delay_seconds: float = 2.0,
    n_connections: int = 2,
    host_col: str = "host",
    priority_col: str = "priority",
    url_col: str = "url",
) -> DataFrame:
    """F3 generalized to per-host connection parallelism (what production
    crawlers actually run: 2–4 polite lanes per host, each lane pacing
    its own delay — Heritrix's 'toe threads per queue'): URL seq s takes
    lane (s-1) mod c and fires at epoch_start + floor((s-1)/c) · delay.
    Still closed-form window math over the per-host order — no new
    shuffle vs the single-lane schedule, and per-host throughput scales
    ×c while each connection individually honors the delay.
    Returns the ordered frontier + (lane, scheduled_ts).
    """
    c = int(n_connections)
    if c < 1:
        raise ValueError("n_connections must be >= 1")
    ordered = crawl_order(frontier, host_col, priority_col, url_col)
    s0 = F.col("seq") - 1
    return ordered.withColumn("lane", (s0 % c).cast("int")).withColumn(
        "scheduled_ts", _after(epoch_start, F.floor(s0 / c) * F.lit(delay_seconds))
    )


def politeness_schedule_by_ip(
    frontier: DataFrame,
    host_ip: DataFrame,
    epoch_start: Column,
    delay_seconds: float = 2.0,
    host_col: str = "host",
    priority_col: str = "priority",
    url_col: str = "url",
) -> DataFrame:
    """F3 at SERVER granularity (Heritrix politeness-by-IP): virtual
    hosts that resolve to the same address share one delay budget —
    per-host politeness alone would hit a shared server with
    #vhosts × the intended rate, which is how crawlers take down
    small shared-hosting boxes while staying per-host 'polite'.

    ``host_ip`` is the resolver table (host, ip) — slim, one row per
    host, broadcast. Hosts with no mapping fall back to their own
    host name as the politeness key (self-keyed = per-host behavior).
    CDN caveat (the real-crawler special case): a CDN edge IP fronts
    millions of vhosts, so keying it into ONE lane both starves the
    crawl and hot-spots the window partition — production crawlers
    (Heritrix's queue-assignment policies) leave CDN ranges OUT of the
    resolver table, which here falls them back to per-host lanes; a
    shared-but-parallel budget is ``politeness_schedule_lanes`` with
    the ip as the host key.
    Ordering within an IP lane: (priority, host, url) — deterministic,
    and each host's URLs stay in their per-host order. Returns
    (ip_key, host, seq, url, scheduled_ts); one window over the
    (ip, priority) order, same closed form as ``politeness_schedule``.
    """
    dim = F.broadcast(
        host_ip.select(F.col("host").alias("__h"), F.col("ip").alias("__ip"))
    )
    keyed = frontier.join(dim, F.col(host_col) == F.col("__h"), "left").select(
        F.coalesce(F.col("__ip"), F.col(host_col)).alias("ip_key"),
        F.col(host_col).alias("host"),
        F.col(priority_col).alias("priority"),
        F.col(url_col).alias("url"),
    )
    w = Window.partitionBy("ip_key").orderBy("priority", "host", "url")
    return keyed.withColumn("seq", F.row_number().over(w).cast("int")).select(
        "ip_key",
        "host",
        "seq",
        "url",
        _after(epoch_start, (F.col("seq") - 1) * F.lit(delay_seconds)).alias(
            "scheduled_ts"
        ),
    )


def politeness_schedule_by_site(
    frontier: DataFrame,
    epoch_start: Column,
    delay_seconds: float = 2.0,
    rules: DataFrame | None = None,
    host_col: str = "host",
    priority_col: str = "priority",
    url_col: str = "url",
) -> DataFrame:
    """F3 at SITE granularity: the politeness key is the registrable
    domain (eTLD+1, functions/psl.py), so ``www.example.co.uk`` and
    ``shop.example.co.uk`` share one delay budget — they are one origin
    in every practical deployment — while ``a.blogspot.com`` and
    ``b.blogspot.com`` stay separate lanes (blogspot.com is a *private
    public suffix*: different users, different sites). This is exactly
    the distinction a "last two labels" key gets wrong in both
    directions, and why the PSL is the right grouping table.

    Hosts whose registrable domain is NULL (the host IS a public
    suffix — rare, usually junk) fall back to self-keyed per-host
    lanes. Plan: the PSL lookups are broadcast hash joins (zero
    probe-side shuffles); the single inherent shuffle is the schedule
    window over site_key, same closed form as ``politeness_schedule``.
    Returns (site_key, host, seq, url, scheduled_ts).
    """
    from ..functions import psl as _psl

    keyed = _psl.with_registrable_domain(
        frontier.select(
            F.col(host_col).alias("host"),
            F.col(priority_col).alias("priority"),
            F.col(url_col).alias("url"),
        ),
        host_col="host",
        rules=rules,
        out_col="__site",
        suffix_col=None,
    ).select(
        F.coalesce(F.col("__site"), F.col("host")).alias("site_key"),
        "host",
        "priority",
        "url",
    )
    w = Window.partitionBy("site_key").orderBy("priority", "host", "url")
    return keyed.withColumn("seq", F.row_number().over(w).cast("int")).select(
        "site_key",
        "host",
        "seq",
        "url",
        _after(epoch_start, (F.col("seq") - 1) * F.lit(delay_seconds)).alias(
            "scheduled_ts"
        ),
    )


def host_fetcher_assign(
    hosts: DataFrame,
    n_fetchers: int,
    host_col: str = "host",
) -> DataFrame:
    """Host → fetcher-lane assignment by rendezvous (highest-random-
    weight) hashing — UbiCrawler's host partitioning discipline (Boldi,
    Codenotti, Santini & Vigna 2004, public paper): every agent computes
    the same assignment from the host name alone (no coordinator, no
    lookup table), each host lives on exactly ONE fetcher (per-host
    politeness and ordering stay a single-lane property), and when the
    fleet resizes W→W' only the theoretically minimal expected
    (W'−W)/W' fraction of hosts move — against modulo hashing's ~1−1/W'
    near-total reshuffle. That is precisely what keeps an N→4N cluster
    scale-up from invalidating every per-host frontier partition.

    Lane = argmax_k md5(host ':' k) for k in 0..W−1 — a pure column
    expression (array of W digests → array_max → array_position): zero
    shuffles, zero state, broadcast nothing. W is the fetcher count
    (10^2–10^3), so the per-row array is small and constant.

    Returns the input plus ``lane`` (int, 0-based).
    """
    if n_fetchers < 1:
        raise ValueError("n_fetchers must be >= 1")
    digests = F.array(
        *[
            F.md5(F.concat(F.col(host_col), F.lit(f":{k}")))
            for k in range(n_fetchers)
        ]
    )
    return hosts.withColumn(
        "lane",
        (F.array_position(digests, F.array_max(digests)) - 1).cast("int"),
    )


def fetcher_rebalance_audit(
    hosts: DataFrame,
    n_from: int,
    n_to: int,
    host_col: str = "host",
) -> DataFrame:
    """Fleet-resize churn audit for the rendezvous assignment — the
    number an operator checks BEFORE resizing W→W′ fetchers: how many
    hosts actually change lanes (each move invalidates that host's
    warm frontier partition, politeness timer, and connection pool)
    against HRW's theoretical minimum. For a grow (W′>W) a host moves
    iff its argmax over W′ lanes lands on a NEW lane — expected
    (W′−W)/W′ of hosts; for a shrink, iff its old lane was removed —
    expected (W−W′)/W. Modulo hashing would move ~1−1/W′ of hosts; the
    gap between ``moved_milli`` and ``expected_moved_milli`` is hash
    skew, and a large gap means the host-name distribution is fighting
    the digests (investigate before resizing).

    One row: (n_hosts, n_moved, moved_milli, expected_moved_milli).
    Scale shape: two zero-shuffle digest projections over the host list
    joined on host (a self-join on the slim host frame) + one 1-row
    agg; nothing leaves the host-list scale.
    """
    a = host_fetcher_assign(hosts.select(host_col), n_from, host_col)
    b = host_fetcher_assign(hosts.select(host_col), n_to, host_col).select(
        F.col(host_col), F.col("lane").alias("lane_to")
    )
    j = a.join(b, host_col).select(
        (F.col("lane") != F.col("lane_to")).cast("int").alias("moved")
    )
    # grow: (W'−W)/W'; shrink: (W−W')/W — both are (hi−lo)/hi
    lo, hi = sorted((int(n_from), int(n_to)))
    expected_milli = (hi - lo) * 1000 // hi
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.coalesce(F.sum("moved"), F.lit(0)).cast("long").alias("n_moved"),
    ).select(
        "n_hosts", "n_moved",
        F.floor(F.col("n_moved") * 1000 / F.col("n_hosts"))
        .cast("long").alias("moved_milli"),
        F.lit(int(expected_milli)).cast("long").alias("expected_moved_milli"),
    )


def host_latency_slo(
    fetches: DataFrame,
    host_col: str = "host",
    latency_col: str = "latency_ms",
    slo_p95_ms: int = 2000,
) -> DataFrame:
    """Per-host fetch-latency tail report with an SLO verdict — the
    table a fetcher-fleet operator reads to find hosts that need a
    longer timeout, a dedicated lane, or demotion (a host whose p99
    is 30× its p50 stalls whole politeness lanes; the mean hides it).
    Quantiles are DISCRETE (value at rank ⌈q·n⌉, 1-based) — no
    interpolation, so integer-ms inputs produce integer-ms outputs
    that replay bit-for-bit in any engine, the same exactness
    discipline as the fixed-point milli columns elsewhere.

    Plan: one host-partitioned rank window over latency (the exchange
    is on the politeness family's native key) + ONE per-host
    conditional agg picking the three rank positions. No self-joins;
    per-host state is two longs per row.

    Returns (host, n_fetches, p50_ms, p95_ms, p99_ms, slo_breach)
    with slo_breach ⇔ p95 > ``slo_p95_ms``.
    """
    d = fetches.select(
        F.col(host_col).alias("host"),
        F.col(latency_col).cast("long").alias("lat"),
    )
    wr = Window.partitionBy("host").orderBy("lat", "host")
    wc = Window.partitionBy("host")
    ranked = d.select(
        "host", "lat",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    def q(p):
        rank = F.ceil(F.col("n") * F.lit(p)).cast("long")
        return F.max(F.when(F.col("rn") == rank, F.col("lat"))).cast("long")

    agg = ranked.groupBy("host").agg(
        F.max("n").cast("long").alias("n_fetches"),
        q(0.5).alias("p50_ms"),
        q(0.95).alias("p95_ms"),
        q(0.99).alias("p99_ms"),
    )
    return agg.select(
        "host", "n_fetches", "p50_ms", "p95_ms", "p99_ms",
        (F.col("p95_ms") > int(slo_p95_ms)).alias("slo_breach"),
    )
