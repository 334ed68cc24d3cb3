"""Crawl-history operators over versioned page tables — the time axis of a
Common-Crawl-style corpus ``(url, warc_ts, html, text, lang)`` (BASELINE
input_hint). A recrawled URL appears once per fetch; these answer the two
standard questions a corpus consumer asks of that history:

* ``snapshot_asof``    — "the corpus as of time T": latest version per URL
  with ``warc_ts <= T`` (what a training-data cut or a reproducible
  dataset release needs).
* ``change_detection`` — which recrawls actually changed: per-URL version
  chain with a content-fingerprint ``lag`` comparison, so downstream
  dedup/refresh scheduling can skip unchanged fetches.

Both are one hash-partition shuffle on the URL key (window functions);
fingerprints are md5 of normalized text (functions/text.py) so the change
bit never compares payload bytes across the shuffle. The reference crawler
is depth-1/snapshot-free — these generalize its keep-latest merge
(processor.py:335-380, the F8 family) along the time axis.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from .dedup import keep_latest


def snapshot_asof(
    df: DataFrame,
    asof,
    ts_col: str = "warc_ts",
    key_col: str = "url",
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Latest version per key with ``ts_col <= asof``. ``asof`` may be a
    literal string/timestamp or a Column."""
    cutoff = asof if isinstance(asof, Column) else F.lit(asof).cast("timestamp")
    return keep_latest(
        df.filter(F.col(ts_col) <= cutoff), [key_col], ts_col, tiebreakers
    )


def change_detection(
    df: DataFrame,
    ts_col: str = "warc_ts",
    key_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-URL version chain annotated with change bits:

    (key, ts, version_no, fingerprint, changed) where ``changed`` is true
    for the first version and for any version whose normalized-content
    fingerprint differs from its predecessor. ``filter(changed)`` is the
    deduplicated refresh stream; ``filter(~changed)`` counts wasted
    recrawls (refresh-scheduling signal).
    """
    out = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        T.content_fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    w = Window.partitionBy("key").orderBy(F.col("ts").asc())
    return (
        out.withColumn("version_no", F.row_number().over(w))
        .withColumn("__prev", F.lag("fingerprint").over(w))
        .withColumn(
            "changed",
            F.col("__prev").isNull() | (F.col("fingerprint") != F.col("__prev")),
        )
        .drop("__prev")
    )


def version_intervals(
    df: DataFrame,
    ts_col: str = "warc_ts",
    key_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """SCD-2 content-version interval table over the crawl history — the
    'what did this URL say at time T' index a reproducible-dataset owner
    materializes once so every as-of lookup becomes a range probe instead
    of a per-query latest-version window (the slowly-changing-dimension
    pattern applied to the page table).

    Built on :func:`change_detection`'s version chain: consecutive
    fetches with the same normalized-content fingerprint collapse into
    one version; each version carries its half-open validity interval.
    Returns (key, version_id, fingerprint, valid_from, valid_to,
    n_fetches, is_current) — ``version_id`` counts content versions per
    key from 1, ``valid_to`` is the next version's first-seen ts (NULL =
    current), ``n_fetches`` counts the fetches that observed this version
    (n_fetches − 1 per version = wasted recrawls, the refresh-scheduling
    residual).

    Scale shape: every window/agg is keyed by URL (per-key history is
    politeness-bounded — a crawler physically cannot fetch one URL more
    than ~86k/day), so no global or hot partition exists; three slim
    per-key stages over (key, ts, fingerprint) rows.
    """
    chain = change_detection(df, ts_col, key_col, text_col)
    w = Window.partitionBy("key").orderBy(F.col("ts").asc())
    grouped = chain.withColumn(
        "version_id",
        F.sum(F.col("changed").cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    versions = grouped.groupBy("key", "version_id").agg(
        F.min("ts").alias("valid_from"),
        # all rows in a (key, version_id) group share one fingerprint by
        # construction; min() states that deterministically
        F.min("fingerprint").alias("fingerprint"),
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
    )
    wv = Window.partitionBy("key").orderBy(F.col("version_id").asc())
    return versions.select(
        "key", "version_id", "fingerprint", "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_fetches",
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
    )


def asof_lookup(
    intervals: DataFrame,
    probes: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """Point-in-time lookup against the :func:`version_intervals` table —
    the payoff of materializing SCD-2 intervals: 'what did URL u say at
    time T' is ONE keyed join with a range predicate, not a per-query
    latest-version window over the raw history. Probes whose ts precedes
    the first version (or whose key was never crawled) return no row —
    inner-join semantics, the honest 'nothing was live' answer.

    Scale shape: an equi-join on the URL key carrying the interval
    predicate (valid_from ≤ ts < valid_to, open-ended current version) as
    the join residual — each probe meets only its own key's
    politeness-bounded version list, so the range check is per-key local
    work on top of one hash exchange; nothing resembles a cross join.
    Returns the probe columns plus (version_id, fingerprint, valid_from,
    valid_to, is_current).
    """
    iv = intervals.select(
        F.col("key").alias("__k"), "version_id", "fingerprint",
        "valid_from", "valid_to", "is_current",
    )
    p = probes.select(
        F.col(key_col).alias("key"), F.col(ts_col).alias("ts"),
        *[c for c in probes.columns if c not in (key_col, ts_col)],
    )
    cond = (
        (p["key"] == iv["__k"])
        & (iv["valid_from"] <= p["ts"])
        & (iv["valid_to"].isNull() | (p["ts"] < iv["valid_to"]))
    )
    return p.join(iv, cond).drop("__k")


def recrawl_priority(
    df: DataFrame,
    now,
    ts_col: str = "warc_ts",
    key_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Refresh scheduling from crawl history (the change-rate × staleness
    policy of Cho & Garcia-Molina, "Effective Page Refresh Policies for Web
    Crawlers" — public): URLs that change often and haven't been fetched
    lately get recrawled first.

    Per URL over the version chain: ``n_changes`` = content changes after
    the first fetch (fingerprint-lag bits from :func:`change_detection`),
    ``rate`` = n_changes / observed span seconds (0 for single-fetch URLs
    — no evidence, lowest priority), ``staleness_sec`` = now − last fetch,
    ``priority`` = round(rate × staleness, 6). One hash-partition shuffle
    on the URL key (the chain window), then a combiner-friendly agg —
    epoch arithmetic only, so the number is identical on any engine."""
    chain = change_detection(df, ts_col, key_col, text_col)
    now_col = now if isinstance(now, Column) else F.lit(now).cast("timestamp")
    per = chain.groupBy(F.col("key").alias(key_col)).agg(
        F.count(F.lit(1)).alias("n_versions"),
        (F.sum(F.col("changed").cast("long")) - 1).alias("n_changes"),
        F.max("ts").alias("__last"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("span_sec"),
    )
    staleness = F.unix_timestamp(now_col) - F.unix_timestamp(F.col("__last"))
    rate = F.when(
        F.col("span_sec") > 0,
        F.col("n_changes").cast("double") / F.col("span_sec"),
    ).otherwise(F.lit(0.0))
    return per.select(
        key_col,
        "n_versions",
        "n_changes",
        staleness.cast("long").alias("staleness_sec"),
        F.round(rate * staleness, 6).alias("priority"),
    )


def revalidation_headers(
    history: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """HTTP revalidation plan for the next recrawl wave (RFC 9110
    conditional requests — the mechanism that lets a refresh crawl spend
    bytes only on pages that actually changed): for each URL, the
    validators from its latest capture — ``If-None-Match`` from the
    entity tag and ``If-Modified-Since`` from the capture time in
    IMF-fixdate form.

    The entity tag is a deterministic strong validator derived from the
    content fingerprint (what this engine can recompute; a real deployment
    stores the server's own ETag at fetch time and would send that).

    One keep-latest window on url — the same shuffle as snapshot_asof.
    """
    from ..functions.text import content_fingerprint

    w = Window.partitionBy(url_col).orderBy(F.desc(ts_col))
    latest = (
        history.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    etag = content_fingerprint(F.col(text_col))
    return latest.select(
        F.col(url_col).alias("url"),
        F.concat(F.lit('"'), etag, F.lit('"')).alias("if_none_match"),
        F.date_format(
            F.col(ts_col), "EEE, dd MMM yyyy HH:mm:ss 'GMT'"
        ).alias("if_modified_since"),
    )


def sitemap_refresh_candidates(
    history: DataFrame,
    sitemap_entries: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    loc_col: str = "loc",
    lastmod_col: str = "lastmod",
) -> DataFrame:
    """Cross the sitemap's declared lastmod against the crawl history: the
    refresh wave is (a) sitemap URLs never captured ('new') and (b) URLs
    whose declared lastmod postdates the latest capture ('stale').
    Entries without a parseable lastmod that were already captured are
    NOT candidates (no evidence of change — the recrawl scheduler's
    change-rate model owns those).

    lastmod accepts both W3C forms (date-only and full datetime) via
    try_to_timestamp — a malformed value never fails the stage, it just
    contributes no staleness evidence. One keep-latest window + one
    left join keyed on the URL.
    """
    w = Window.partitionBy(url_col).orderBy(F.desc(ts_col))
    latest = (
        history.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(url_col).alias(loc_col),
                F.col(ts_col).alias("last_fetch_ts"))
    )
    lm = F.try_to_timestamp(F.col(lastmod_col))
    joined = (
        sitemap_entries.select(loc_col, lm.alias("lastmod_ts"))
        .join(latest, loc_col, "left")
    )
    reason = (
        F.when(F.col("last_fetch_ts").isNull(), F.lit("new"))
        .when(
            F.col("lastmod_ts").isNotNull()
            & (F.col("lastmod_ts") > F.col("last_fetch_ts")),
            F.lit("stale"),
        )
    )
    return (
        joined.withColumn("reason", reason)
        .filter(F.col("reason").isNotNull())
        .select(F.col(loc_col).alias("url"), "last_fetch_ts", "lastmod_ts", "reason")
    )


def recrawl_sitemap_plan(
    history: DataFrame,
    sitemap_entries: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    loc_col: str = "loc",
    lastmod_col: str = "lastmod",
    new_priority_milli: int = 1_000_000,
    change_boost_milli: int = 1250,
) -> DataFrame:
    """Sitemap-delta recrawl PLANNER — the composition a refresh
    scheduler actually runs, joining the site's own declarations
    (:func:`sitemap_refresh_candidates`: never-captured 'new' URLs and
    declared-'stale' URLs) with the crawl's OBSERVED content history
    (:func:`version_intervals`: how many content versions each URL has
    really had, and how many fetches were wasted re-reading an
    unchanged page). Declared staleness alone over-trusts sites that
    stamp lastmod on every deploy; observed change alone misses pages
    that announce updates the crawler hasn't seen. The plan prices
    both:

    * ``new``   → fixed top priority (``new_priority_milli``) — no
      history exists, the sitemap is the only evidence;
    * ``stale`` → ``priority_milli = floor(staleness_sec · boost /
      1000)`` where staleness_sec is the declared lastmod minus the
      last capture and boost is ``change_boost_milli`` (default 1.25×)
      for URLs whose history shows ≥2 content versions — a page that
      both declares AND demonstrates churn outranks a declare-only one
      at equal staleness. Exact integer algebra end to end.

    Returns (url, reason, n_versions, wasted_fetches, staleness_sec,
    priority_milli) — n_versions/wasted_fetches are 0 for 'new' URLs.
    Scale shape: both inputs reduce to slim URL-keyed frames before one
    left equi-join; the sitemap side is host-bounded (a sitemap file
    caps at 50k URLs), the history side is the version_intervals rollup
    whose windows are URL-keyed and politeness-bounded. Nothing joins
    wider than (url, a few longs).
    """
    cand = sitemap_refresh_candidates(
        history, sitemap_entries, url_col, ts_col, loc_col, lastmod_col
    )
    iv = version_intervals(history, ts_col, url_col, text_col)
    stats = iv.groupBy(F.col("key").alias("url")).agg(
        F.max("version_id").cast("long").alias("n_versions"),
        (F.sum("n_fetches") - F.max("version_id"))
        .cast("long").alias("wasted_fetches"),
    )
    joined = cand.join(stats, "url", "left")
    staleness = F.when(
        F.col("reason") == "stale",
        F.unix_timestamp("lastmod_ts") - F.unix_timestamp("last_fetch_ts"),
    ).otherwise(F.lit(0))
    boost = F.when(
        F.coalesce(F.col("n_versions"), F.lit(0)) >= 2,
        F.lit(int(change_boost_milli)),
    ).otherwise(F.lit(1000))
    priority = F.when(
        F.col("reason") == "new", F.lit(int(new_priority_milli))
    ).otherwise(F.floor(staleness * boost / F.lit(1000)))
    return joined.select(
        "url",
        "reason",
        F.coalesce(F.col("n_versions"), F.lit(0)).cast("long")
        .alias("n_versions"),
        F.coalesce(F.col("wasted_fetches"), F.lit(0)).cast("long")
        .alias("wasted_fetches"),
        staleness.cast("long").alias("staleness_sec"),
        priority.cast("long").alias("priority_milli"),
    )


def revalidation_fetch(
    history: DataFrame,
    corpus: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Conditional-GET refresh crawl against the current corpus — the
    incremental-crawl step the recrawl scheduler feeds: per URL, the
    latest capture's content validator (md5 fingerprint — the
    If-None-Match the revalidation_headers op would send) joins the
    corpus's current content, and the fetch result is

    * ``304`` — validator matches: body NULL, bandwidth saved (at
      real-web change rates this is most of the refresh wave, which is
      why revisit-dedup + 304s dominate incremental crawl economics);
    * ``200`` — content changed: body carried forward to extraction;
    * ``404`` — URL no longer in the corpus.

    One keep-latest window over the history + one url-keyed join; only
    changed rows carry bytes downstream, so extraction cost is
    proportional to CHANGE, not corpus size.
    Returns (url, status, prior_ts, body).
    """
    w = Window.partitionBy(url_col).orderBy(F.desc(ts_col))
    latest = (
        history.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(url_col).alias("url"),
            F.col(ts_col).alias("prior_ts"),
            F.md5(F.col(text_col)).alias("prior_fp"),
        )
    )
    cur = corpus.select(
        F.col(url_col).alias("url"), F.col(text_col).alias("__cur_text")
    )
    joined = latest.join(cur, "url", "left")
    status = (
        F.when(F.col("__cur_text").isNull(), F.lit(404))
        .when(F.md5(F.col("__cur_text")) == F.col("prior_fp"), F.lit(304))
        .otherwise(F.lit(200))
    )
    return joined.select(
        "url",
        status.alias("status"),
        "prior_ts",
        F.when(status == 200, F.col("__cur_text")).alias("body"),
    )


def change_magnitude(
    df: DataFrame,
    ts_col: str = "warc_ts",
    key_col: str = "url",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Graded change signal per recrawl: word-shingle Jaccard between
    consecutive versions of a URL — ``change_detection``'s boolean says
    THAT a page changed; this says HOW MUCH (1.0 - Jaccard), which is
    what a Cho-Garcia-Molina scheduler actually wants to rank refresh
    urgency (a ticker update and a full rewrite are different priors).

    (key, ts, version_no, jaccard, change_magnitude); the first version
    carries NULLs. The lag window moves each version's (distinct)
    shingle array one row — per-URL arrays, the same shuffle
    ``change_detection`` already pays; the set algebra (intersect/union
    sizes) is per-row codegen, no extra exchange. Empty-vs-empty
    versions count as identical (jaccard 1.0).
    """
    out = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        T.shingles(F.col(text_col), n).alias("__sh"),
    )
    w = Window.partitionBy("key").orderBy(F.col("ts").asc())
    prev = F.lag("__sh").over(w)
    inter = F.size(F.array_intersect(F.col("__sh"), prev))
    union = F.size(F.array_union(F.col("__sh"), prev))
    jac = (
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .when(union == 0, F.lit(1.0))
        .otherwise(F.round(inter / union, 6))
    )
    return (
        out.withColumn("version_no", F.row_number().over(w))
        .withColumn("jaccard", jac)
        .withColumn(
            "change_magnitude",
            F.when(F.col("jaccard").isNotNull(), F.round(1.0 - F.col("jaccard"), 6)),
        )
        .select("key", "ts", "version_no", "jaccard", "change_magnitude")
    )


def change_rate_poisson(
    df: DataFrame,
    now,
    ts_col: str = "warc_ts",
    key_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Bias-corrected Poisson change-rate estimation from the crawl
    history (Cho & Garcia-Molina 2003, "Estimating Frequency of Change",
    ACM TOIT — public): a crawler only sees WHETHER a page changed between
    visits, not how many times, so the naive X/n rate underestimates
    fast-changing pages badly. Their corrected estimator for n revisit
    intervals of which X showed a change is

        r_hat      = -ln((n - X + 0.5) / (n + 0.5))   changes per interval
        lambda_hat = r_hat / mean_interval            changes per second

    which stays finite at X = n (a page that changed every single visit)
    and is consistent as n grows. On top of the rate we surface the number
    a refresh scheduler actually consumes: ``p_changed`` = 1 − e^(−λ̂·age),
    the Poisson-model probability the page has changed since its last
    fetch — rank by it and the crawl budget goes to pages that are
    *likely stale now*, not merely frequently-changing
    (:func:`recrawl_priority` is the simpler rate × staleness heuristic).

    Single-fetch URLs (n = 0) carry no evidence: λ̂ and p_changed are 0 —
    seed-priority policy, not this estimator, decides their first revisit.

    Spark shape: rides :func:`change_detection`'s one per-URL window
    shuffle, then a combiner-friendly agg — identical cost to
    ``recrawl_priority``. All arithmetic is integer-derived doubles through
    ln/exp, so the values are engine-portable bit-for-bit and the whole
    estimate is SQL-oracle-certifiable.
    """
    chain = change_detection(df, ts_col, key_col, text_col)
    now_col = now if isinstance(now, Column) else F.lit(now).cast("timestamp")
    per = chain.groupBy(F.col("key").alias(key_col)).agg(
        (F.count(F.lit(1)) - 1).alias("n_intervals"),
        (F.sum(F.col("changed").cast("long")) - 1).alias("n_changed"),
        F.max("ts").alias("__last"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("span_sec"),
    )
    n = F.col("n_intervals").cast("double")
    x = F.col("n_changed").cast("double")
    ibar = F.col("span_sec").cast("double") / n
    r_hat = -F.log((n - x + F.lit(0.5)) / (n + F.lit(0.5)))
    lam = F.when(F.col("n_intervals") > 0, r_hat / ibar).otherwise(F.lit(0.0))
    age = (
        F.unix_timestamp(now_col) - F.unix_timestamp(F.col("__last"))
    ).cast("double")
    return per.select(
        key_col,
        "n_intervals",
        "n_changed",
        F.col("__last").alias("last_fetch"),
        F.round(lam, 9).alias("lambda_hat"),
        F.round(F.lit(1.0) - F.exp(-F.round(lam, 9) * age), 6).alias(
            "p_changed"
        ),
    )


def _freshness(lam, c):
    """Time-averaged freshness of a page with Poisson(``lam``) changes
    crawled ``c`` times per period at uniform intervals (Cho &
    Garcia-Molina 2003, "Effective page refresh policies for Web
    crawlers", ACM TODS): F(lam, c) = (c/lam)(1 - e^(-lam/c)); 0 uncrawled,
    1 for a page that never changes (one crawl keeps it fresh forever)."""
    return (
        F.when(c <= 0, F.lit(0.0))
        .when(lam <= 0, F.lit(1.0))
        .otherwise((c / lam) * (F.lit(1.0) - F.exp(-lam / c)))
    )


def refresh_allocation(
    rates: DataFrame,
    budget: int,
    max_per_page: int = 16,
    rate_col: str = "lambda_hat",
    key_col: str = "url",
) -> DataFrame:
    """Freshness-optimal crawl-budget allocation (Cho & Garcia-Molina
    2003): choose per-page recrawl counts c_i, Σc_i ≤ budget,
    0 ≤ c_i ≤ max_per_page, maximizing average freshness
    Σ F(λ_i, c_i). F is concave in c, so marginal gains
    Δ(λ, c) = F(λ, c) − F(λ, c−1) decrease in c and the exact optimum
    takes the ``budget`` largest increments across all (page, c) pairs —
    a global top-B, NOT a per-page threshold.

    This is the famous counter-intuitive refresh result: a page changing
    far faster than you can crawl has Δ(λ, 1) ≈ 1/λ ≈ 0 — the optimal
    policy *abandons* the fastest changers and spends their budget
    keeping moderate pages fresh (the proportional-to-rate heuristic is
    provably worse than uniform). ``recrawl_priority``/``crawl_poisson_
    rate`` rank WHAT is stale; this decides HOW OFTEN each page gets
    revisited under a hard crawl-rate budget.

    Scale shape: explode to ≤ max_per_page slim (key, c, gain) rows, rank
    globally by (gain desc, key, c) with the two-level scan of
    :func:`~web_crawler_spark.operators.prefixsum.prefix_sum` — one range
    exchange, no single-partition window — and keep rank ≤ budget. Gains
    fall monotonically in c per page and ties break (key, c)-ascending,
    so taken increments are automatically contiguous: c_i = count taken.
    Gains are rounded to 9 decimals before ranking so the order (and the
    DuckDB-oracle replay) cannot hinge on last-ulp exp() differences.

    Returns (key_col, rate_col, crawls, freshness) for every input page
    (zero-allocation pages included, freshness 0 unless λ ≤ 0).
    """
    from .prefixsum import prefix_sum

    lam = F.col(rate_col)
    inc = (
        rates.select(key_col, rate_col)
        .select(
            key_col,
            rate_col,
            F.explode(F.array(*[F.lit(i) for i in range(1, max_per_page + 1)])).alias(
                "c"
            ),
        )
        .withColumn(
            "gain",
            F.round(_freshness(lam, F.col("c")) - _freshness(lam, F.col("c") - 1), 9),
        )
        .filter(F.col("gain") > 0)
        .withColumn("__neg_gain", -F.col("gain"))
        .withColumn("__one", F.lit(1))
    )
    ranked = prefix_sum(
        inc, order_cols=["__neg_gain", key_col, "c"], value_col="__one", out_col="rank"
    )
    alloc = (
        ranked.filter(F.col("rank") <= budget)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("crawls"))
    )
    out = rates.select(key_col, rate_col).join(alloc, key_col, "left").select(
        key_col,
        rate_col,
        F.coalesce("crawls", F.lit(0)).cast("int").alias("crawls"),
        F.round(_freshness(lam, F.coalesce("crawls", F.lit(0))), 6).alias("freshness"),
    )
    return out


def focused_priority(
    links: DataFrame,
    page_scores: DataFrame,
    topic_terms: dict[str, int],
    beta: int = 2,
    gamma: int = 1,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    anchor_col: str = "anchor",
    url_col: str = "url",
    rel_col: str = "relevance",
) -> DataFrame:
    """Focused-crawl frontier prioritization (Chakrabarti, van den Berg
    & Dom 1999): rank UNCRAWLED outlink targets by the topical promise
    of their link context — the anchor text's overlap with the topic
    vocabulary plus the linking page's own relevance, the two signals
    the focused crawler has *before* fetching.

    Per distinct (src, dst, anchor) edge::

        anchor_score = Σ topic_terms[t]  over DISTINCT anchor tokens t
        contribution = β·max_anchor_score(src,dst) + γ·relevance(src)

    and ``priority(dst) = max contribution over inlinks`` — max, not
    sum, so link farms can't vote a page up by repetition (the same
    reasoning as DUST's star pairing). All weights are integer
    milli-units (the repo's fixed-point discipline), so every score is
    exact int64 arithmetic — engine-portable with no rounding.

    Scale shape: topic vocabulary is broadcast (it is human-curated,
    thousands at most); anchor tokens explode bounded by anchor length;
    the three shuffles — edge distinct, per-edge agg, per-dst agg — all
    carry slim (url, url, int) rows; crawled-page relevance joins on the
    slim url key; the final global rank over one-row-per-dst rides the
    two-level distributed prefix sum, never a single window task.
    Already-crawled targets are anti-joined out (they are no longer
    frontier work).

    Returns (dst_url, n_inlinks, best_anchor_score, priority, rank).
    """
    from ..functions import text as T
    from .prefixsum import prefix_sum

    spark = links.sparkSession
    terms = F.broadcast(
        spark.createDataFrame(
            sorted(topic_terms.items()), "term string, w long"
        )
    )
    edges = links.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(anchor_col).cast("string").alias("anchor"),
    ).distinct()
    matched = (
        edges.select(
            "src",
            "dst",
            "anchor",
            F.explode(
                F.array_distinct(T.tokens(F.lower(F.col("anchor"))))
            ).alias("term"),
        )
        .join(terms, "term")
        .groupBy("src", "dst", "anchor")
        .agg(F.sum("w").alias("a"))
    )
    per_edge = (
        edges.join(matched, ["src", "dst", "anchor"], "left")
        .groupBy("src", "dst")
        .agg(F.max(F.coalesce(F.col("a"), F.lit(0))).alias("anchor_score"))
    )
    crawled = page_scores.select(
        F.col(url_col).alias("src"),
        F.col(rel_col).cast("long").alias("rel"),
    )
    contrib = per_edge.join(crawled, "src", "left").select(
        "dst",
        "anchor_score",
        (
            F.lit(int(beta)) * F.col("anchor_score")
            + F.lit(int(gamma)) * F.coalesce(F.col("rel"), F.lit(0))
        ).alias("contribution"),
    )
    per_dst = (
        contrib.groupBy("dst")
        .agg(
            F.count(F.lit(1)).alias("n_inlinks"),
            F.max("anchor_score").alias("best_anchor_score"),
            F.max("contribution").alias("priority"),
        )
        .join(
            crawled.select(F.col("src").alias("dst")), "dst", "left_anti"
        )
    )
    return prefix_sum(
        per_dst.select(
            "*", (-F.col("priority")).alias("__k"), F.lit(1).alias("__one")
        ),
        order_cols=["__k", "dst"],
        value_col="__one",
        out_col="rank",
    ).select(
        F.col("dst").alias("dst_url"),
        "n_inlinks",
        "best_anchor_score",
        "priority",
        F.col("rank").cast("int").alias("rank"),
    )


def frontier_ucb(
    host_stats: DataFrame,
    c: float = 1.4142135623730951,
    host_col: str = "host",
    pulls_col: str = "n_pulls",
    reward_col: str = "total_reward",
) -> DataFrame:
    """UCB1 host scheduling (Auer, Cesa-Bianchi & Fischer 2002 applied to
    focused crawling): allocate the next fetch budget across hosts by

        ucb(h) = mean_reward(h) + c · sqrt(ln T / n_pulls(h))

    where reward is the caller's per-fetch value signal (new URLs
    discovered, changed pages, quality mass…) and T = Σ pulls. The
    exploration term keeps rarely-crawled hosts in rotation even when
    their observed yield is low — the explore/exploit balance a pure
    yield-greedy frontier lacks; never-pulled hosts rank first
    unconditionally (their UCB is +∞ in the paper; surfaced as NULL ucb
    + rank priority rather than a sentinel float).

    One scalar fetch for T (the bm25 idf-literal discipline) + a pure
    projection; the global rank over ONE ROW PER HOST rides the
    distributed two-level prefix sum (rank = running count over the sort
    key — operators/prefixsum.py), never a single global window task:
    a crawl knows 10^8+ hosts. Returns (host, n_pulls, mean_reward, ucb,
    rank) with doubles rounded to 6.
    """
    from .prefixsum import prefix_sum

    t = (
        host_stats.agg(F.sum(F.col(pulls_col)).alias("t")).collect()[0]["t"]
        or 0
    )
    pulls = F.col(pulls_col).cast("double")
    mean = F.round(F.col(reward_col).cast("double") / pulls, 6)
    ucb = F.round(
        F.col(reward_col).cast("double") / pulls
        + F.lit(float(c)) * F.sqrt(F.log(F.lit(float(t))) / pulls),
        6,
    )
    scored = host_stats.select(
        F.col(host_col).alias("host"),
        F.col(pulls_col).cast("long").alias("n_pulls"),
        F.when(F.col(pulls_col) > 0, mean).alias("mean_reward"),
        F.when(F.col(pulls_col) > 0, ucb).alias("ucb"),
    )
    # ascending sort key encoding the (never-pulled first, ucb desc,
    # host) order; host makes it unique as prefix_sum requires
    keyed = scored.select(
        "*",
        F.when(F.col("n_pulls") == 0, 0).otherwise(1).alias("__k1"),
        F.coalesce(-F.col("ucb"), F.lit(0.0)).alias("__k2"),
        F.lit(1).alias("__one"),
    )
    return (
        prefix_sum(
            keyed,
            order_cols=["__k1", "__k2", "host"],
            value_col="__one",
            out_col="rank",
        )
        .select(
            "host", "n_pulls", "mean_reward", "ucb",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# sitemaps.org changefreq → expected changes per 24h epoch, integer milli
# (always ≈ twice-hourly, never = 0; the table is a POLICY input, override
# per deployment via the `expected_milli` parameter)
CHANGEFREQ_EXPECTED_MILLI = {
    "always": 48000,
    "hourly": 24000,
    "daily": 1000,
    "weekly": 142,     # floor(1000*24/168)
    "monthly": 33,     # floor(1000*24/720)
    "yearly": 2,       # floor(1000*24/8760)
    "never": 0,
}


def changefreq_calibration(
    sitemap_entries: DataFrame,
    change_log: DataFrame,
    url_col: str = "url",
    changefreq_col: str = "changefreq",
    epochs_col: str = "n_epochs",
    changes_col: str = "n_changes",
    expected_milli: dict[str, int] | None = None,
) -> DataFrame:
    """Declared-vs-observed change-rate calibration per sitemap
    ``changefreq`` bucket — sites routinely stamp every URL
    ``daily`` regardless of reality, and a recrawl planner that
    trusts the declaration over-fetches static pages while starving
    genuinely hot ones. This is the table that says, per declared
    bucket, how honest the declaration is, so the refresh allocator
    (``recrawl_priority`` / ``refresh_allocation``) can discount or
    trust ``changefreq`` per corpus. Pure integer fixed-point
    throughout so the audit replays bit-for-bit at any scale.

    Inputs: sitemap declarations ``(url, changefreq)`` and the
    observed per-URL change log ``(url, n_epochs, n_changes)`` (the
    aggregation ``poisson_change_rate`` already computes). Unknown
    changefreq tokens are bucketed as ``invalid``; declared URLs with
    no observation rows are counted but excluded from the rate.

    Plan: url-keyed equi-join of the two slim tables + one broadcast
    lookup of the 7-row policy map + ONE changefreq-keyed combiner
    agg. At 10^10 URLs the url join is the only real exchange and it
    carries three longs and a short string per row.

    Returns (changefreq, n_urls, n_observed, expected_milli,
    observed_rate_milli, calibration_milli): observed_rate_milli =
    floor(1000·Σchanges/Σepochs) over observed URLs,
    calibration_milli = floor(1000·observed_rate_milli /
    expected_milli) (NULL for never/invalid or no observations) —
    1000 = perfectly honest, above = hotter than declared.
    """
    exp = expected_milli or CHANGEFREQ_EXPECTED_MILLI
    spark = sitemap_entries.sparkSession
    exp_df = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(exp.items())],
        "cf string, expected_milli long",
    )
    s = sitemap_entries.select(
        F.col(url_col).alias("url"),
        F.lower(F.col(changefreq_col)).alias("cf"),
    )
    o = change_log.select(
        F.col(url_col).alias("url"),
        F.col(epochs_col).cast("long").alias("n_epochs"),
        F.col(changes_col).cast("long").alias("n_changes"),
    )
    j = (
        s.join(o, "url", "left")
        .join(F.broadcast(exp_df), "cf", "left")
        .select(
            F.when(F.col("expected_milli").isNotNull(), F.col("cf"))
            .otherwise(F.lit("invalid")).alias("changefreq"),
            "expected_milli", "n_epochs", "n_changes",
        )
    )
    agg = j.groupBy("changefreq").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.sum(F.col("n_epochs").isNotNull().cast("long")).cast("long")
        .alias("n_observed"),
        F.max("expected_milli").cast("long").alias("expected_milli"),
        F.sum(F.coalesce("n_changes", F.lit(0))).alias("_changes"),
        F.sum(F.coalesce("n_epochs", F.lit(0))).alias("_epochs"),
    )
    observed_rate = F.when(
        F.col("_epochs") > 0,
        F.floor(1000 * F.col("_changes") / F.col("_epochs")),
    ).cast("long")
    return agg.select(
        "changefreq", "n_urls", "n_observed", "expected_milli",
        observed_rate.alias("observed_rate_milli"),
        F.when(
            (F.col("expected_milli") > 0) & (F.col("_epochs") > 0),
            F.floor(1000 * observed_rate / F.col("expected_milli")),
        ).cast("long").alias("calibration_milli"),
    )


def content_flapping(
    fetches: DataFrame,
    url_col: str = "url",
    epoch_col: str = "epoch",
    digest_col: str = "payload_digest",
) -> DataFrame:
    """Flapping-content detector — URLs that keep RETURNING to a
    previously-seen payload state (A→B→A→B…): load-balancer variant
    skew, rotating ad shells, A/B buckets, cloaking. Change detection
    treats every transition as fresh content and keeps paying for
    refetches; the Poisson refresh model (``poisson_change_rate``)
    assumes changes produce NEW content, so flappers inflate its λ and
    steal budget from genuinely evolving pages. A URL evolving
    linearly (every state new) is NOT flapping — the test is
    transitions exceeding distinct-states−1, which is exactly "some
    state was revisited".

    Plan: one url-keyed lag window over epoch order (the exchange the
    crawl-history tables already partition by) + ONE per-url combiner
    agg; the report filters to flappers, so output is proportional to
    the pathology, not the corpus.

    Returns flapping URLs only: (url, n_fetches, n_distinct_payloads,
    n_transitions, wasted_fetches) — wasted_fetches =
    n_fetches − n_distinct_payloads, the refetch budget that bought
    already-seen bytes.
    """
    d = fetches.select(
        F.col(url_col).alias("url"),
        F.col(epoch_col).cast("long").alias("epoch"),
        F.col(digest_col).alias("digest"),
    )
    w = Window.partitionBy("url").orderBy("epoch")
    lagged = d.withColumn("prev", F.lag("digest").over(w))
    agg = lagged.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.count_distinct("digest").cast("long").alias("n_distinct_payloads"),
        F.sum(
            (F.col("prev").isNotNull() & (F.col("prev") != F.col("digest")))
            .cast("long")
        ).cast("long").alias("n_transitions"),
    )
    return agg.filter(
        F.col("n_transitions") > F.col("n_distinct_payloads") - 1
    ).select(
        "url", "n_fetches", "n_distinct_payloads", "n_transitions",
        (F.col("n_fetches") - F.col("n_distinct_payloads")).cast("long")
        .alias("wasted_fetches"),
    )
