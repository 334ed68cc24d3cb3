"""robots.txt enforcement (north_rule; absent in the reference — its only
politeness is the fixed delay, pacong/config/settings.yaml:17).

Implements the RFC 9309 core as relational algebra:

* ``parse_robots`` — robots.txt bodies → a rules table
  ``robots(host, agent, rule, path_prefix, crawl_delay)`` via one
  mapInPandas pass (line-oriented parse, Python is appropriate here — the
  robots corpus is tiny relative to the frontier).
* ``apply_robots`` — frontier ⟕ rules on host; per-URL longest-matching
  rule wins (Allow beats Disallow on equal length, empty Disallow = allow
  all); URLs with no rules or no matching group pass. One broadcast join
  (the rules table is ~KB/host) + one window. The rules side is
  ``compile_rules`` (agent-group pick, pattern → regex), the match is
  ``decide_robots``; a crawl compiles once and decides every epoch.
* ``crawl_delays`` — per-host Crawl-delay overrides for the politeness
  scheduler. ``compile_host_rules`` carries them on the compiled rules, so
  a crawl broadcasts one per-host table for the gate and the schedule.

Scale: rules are per-HOST, so the join key equals the scheduling partition
key — applying robots after the host repartition adds zero shuffles, and
the rules side is broadcast.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("agent", T.StringType()),
        T.StructField("rule", T.StringType()),        # allow | disallow
        T.StructField("path_prefix", T.StringType()),
        T.StructField("crawl_delay", T.DoubleType()),
    ]
)


def parse_robots_text(host: str, text: str, agent: str = "*") -> list[tuple]:
    """Line-oriented robots.txt parse → rule rows. Groups are selected by
    User-agent; we keep every group's rows (tagged by agent) and let
    ``apply_robots`` pick the most specific agent. Unknown directives are
    ignored per RFC 9309 §2.2.3."""
    rows: list[tuple] = []
    current_agents: list[str] = []
    group_open = False
    crawl_delay: dict[str, float] = {}
    for raw_line in (text or "").splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if group_open:          # new group starts
                current_agents = []
                group_open = False
            current_agents.append(value.lower())
        elif key in ("allow", "disallow"):
            group_open = True
            for a in current_agents or ["*"]:
                # empty Disallow == allow everything (classic robots idiom)
                if value == "" and key == "disallow":
                    continue
                rows.append((host, a, key, value, crawl_delay.get(a)))
        elif key == "crawl-delay":
            group_open = True
            try:
                d = float(value)
            except ValueError:
                continue
            for a in current_agents or ["*"]:
                crawl_delay[a] = d
                rows.append((host, a, "crawl-delay", "", d))
        elif key == "sitemap" and value:
            # Sitemap: is group-independent (sitemaps.org protocol; RFC
            # 9309 treats it as an "other record" that applies globally)
            rows.append((host, "*", "sitemap", value, None))
    return rows


def parse_robots(robots_pages: DataFrame, host_col: str = "host",
                 body_col: str = "body") -> DataFrame:
    """(host, body) → rules table."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                if isinstance(body, (bytes, bytearray)):
                    body = bytes(body).decode("utf-8", errors="replace")
                rows.extend(parse_robots_text(host, body))
            yield pd.DataFrame(
                rows, columns=["host", "agent", "rule", "path_prefix", "crawl_delay"]
            )

    return robots_pages.select(host_col, body_col).mapInPandas(gen, ROBOTS_SCHEMA)


def compile_rules(rules: DataFrame, agent: str = "*") -> DataFrame:
    """The allow/disallow rules that apply to ``agent``, compiled for
    :func:`decide_robots`: (r_host, rule, path_prefix, is_plain,
    path_regex, prefix_len), one row per rule of each host's most specific
    agent group (the ``agent`` group when the host has one, else ``*`` —
    RFC 9309 §2.2.1). The table depends only on the rules and the agent, so
    a crawl compiles it once and decides every epoch's frontier against
    it."""
    # RFC 9309 §2.2.3 special characters: '*' matches any run, a TRAILING
    # '$' anchors the end; everything else is literal. Patterns are
    # compiled to regexes here (rule tables are broadcast-small);
    # wildcard-free patterns keep the cheaper startswith path. Precedence
    # stays "longest raw pattern wins" (the RFC's most-specific rule).
    raw = F.col("path_prefix")
    anchored = raw.endswith("$")
    core = F.when(anchored, F.expr(
        "substring(path_prefix, 1, length(path_prefix) - 1)")).otherwise(raw)
    escaped = F.regexp_replace(core, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    as_regex = F.concat(
        F.lit("^"),
        F.regexp_replace(escaped, r"\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    prefix_rules = rules.filter(
        F.col("rule").isin("allow", "disallow")
        & F.col("agent").isin(agent.lower(), "*")
    ).select(
        F.col("host").alias("r_host"),
        "rule", "path_prefix",
        (~raw.contains("*") & ~anchored).alias("is_plain"),
        as_regex.alias("path_regex"),
        F.length("path_prefix").alias("prefix_len"),
        F.when(F.col("agent") == agent.lower(), 1).otherwise(0).alias("agent_specificity"),
    )
    # most specific agent group wins entirely (RFC 9309 §2.2.1)
    best_agent = prefix_rules.groupBy("r_host").agg(
        F.max("agent_specificity").alias("best_spec")
    )
    return prefix_rules.join(F.broadcast(best_agent), "r_host").filter(
        F.col("agent_specificity") == F.col("best_spec")
    ).drop("agent_specificity", "best_spec")


def decide_robots(
    frontier: DataFrame,
    compiled: DataFrame,
    host_col: str = "host",
    url_col: str = "canonical_url",
    salt_col: str | None = None,
) -> DataFrame:
    """The per-URL decision of :func:`robots_decisions` against rules
    already compiled by :func:`compile_rules` or :func:`compile_host_rules`:
    one broadcast match of the URL path against its host's rules, then
    longest-match-wins per URL. A rule row with a NULL ``rule`` (the
    per-host sentinel of :func:`compile_host_rules`) matches every URL of
    its host and loses to any rule that really matches; columns of the
    compiled table beyond the rule ones (``delay_seconds``) ride along.

    ``salt_col`` names a column that is a function of the host (as in
    :func:`politeness.crawl_order`): the longest-match window then
    partitions by (host, salt, url), which groups the same rows, so a
    frontier already repartitioned by (host, salt) is not shuffled again."""
    path = F.coalesce(
        F.try_parse_url(F.col(url_col), F.lit("PATH")), F.lit("/")
    )
    matched = F.col("rule").isNull() | F.when(
        F.col("is_plain"), F.col("__path").startswith(F.col("path_prefix"))
    ).otherwise(F.rlike(F.col("__path"), F.col("path_regex")))
    joined = frontier.withColumn("__path", path).join(
        F.broadcast(compiled),
        (F.col(host_col) == F.col("r_host")) & matched,
        "left",
    )
    keys = [host_col] if salt_col is None else [host_col, salt_col]
    w = Window.partitionBy(*keys, url_col).orderBy(
        F.desc("prefix_len"),
        F.when(F.col("rule") == "allow", 0).otherwise(1),  # allow wins ties
    )
    decided = (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn(
            "robots_allowed",
            F.col("rule").isNull() | (F.col("rule") == "allow"),
        )
    )
    return (
        decided.withColumn("matched_rule", F.col("rule"))
        .withColumn("matched_prefix", F.col("path_prefix"))
        .drop(
            "__path", "__rn", "r_host", "rule", "path_prefix",
            "is_plain", "path_regex", "prefix_len",
        )
    )


def compile_host_rules(
    rules: DataFrame, agent: str = "*", default_delay: float = 2.0
) -> DataFrame:
    """The crawl's one per-host robots table: :func:`compile_rules`' rows
    plus one sentinel row per host that has rules or a Crawl-delay (rule,
    pattern and regex NULL, ``prefix_len`` -1), every row carrying the
    host's :func:`crawl_delays` ``delay_seconds`` (``default_delay`` when
    it sets none). :func:`decide_robots` against it gives
    :func:`robots_decisions`' rows, and every URL of a host in the table
    also picks up its delay, so one broadcast serves both the robots gate
    and the politeness schedule."""
    compiled = compile_rules(rules, agent)
    delays = crawl_delays(rules, agent, default_delay).withColumnRenamed(
        "host", "r_host"
    )
    sentinels = (
        compiled.select("r_host").unionByName(delays.select("r_host")).distinct()
        .select(
            "r_host",
            F.lit(None).cast("string").alias("rule"),
            F.lit(None).cast("string").alias("path_prefix"),
            F.lit(None).cast("boolean").alias("is_plain"),
            F.lit(None).cast("string").alias("path_regex"),
            F.lit(-1).alias("prefix_len"),
        )
    )
    return compiled.unionByName(sentinels).join(
        F.broadcast(delays), "r_host", "left"
    ).withColumn(
        "delay_seconds", F.coalesce("delay_seconds", F.lit(default_delay))
    )


def robots_decisions(
    frontier: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    url_col: str = "canonical_url",
) -> DataFrame:
    """Per-URL robots decision WITHOUT filtering — the frontier plus
    ``robots_allowed`` and, when a rule matched, ``matched_rule``
    (allow/disallow) and ``matched_prefix`` (the winning pattern).
    :func:`apply_robots` is this plus a filter; audits
    (:func:`sitemap_robots_conflicts`) read the decision bit directly.

    Longest-match-wins over allow/disallow prefixes for the given agent
    (falling back to the ``*`` group when no agent-specific group exists);
    ties go to allow; URLs from hosts with no rules pass.

    This is :func:`decide_robots` over :func:`compile_rules`; a caller
    that decides many frontiers against the same rules (the crawl engine,
    once per epoch) compiles once and calls :func:`decide_robots`.
    """
    return decide_robots(frontier, compile_rules(rules, agent), host_col, url_col)


def apply_robots(
    frontier: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    url_col: str = "canonical_url",
) -> DataFrame:
    """Filter the frontier to robots-allowed URLs (the crawl-side gate;
    see :func:`robots_decisions` for the unfiltered per-URL decision
    table)."""
    return (
        robots_decisions(frontier, rules, agent, host_col, url_col)
        .filter(F.col("robots_allowed"))
        .drop("robots_allowed", "matched_rule", "matched_prefix")
    )


def sitemap_robots_conflicts(
    sitemap_entries: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    loc_col: str = "loc",
) -> DataFrame:
    """URLs a site ADVERTISES in its sitemap yet DISALLOWS in its
    robots.txt — the standard site-misconfiguration audit (search
    consoles flag exactly this): the sitemap invites crawlers to URLs
    the robots gate will refuse to fetch, so they silently never enter
    the corpus and the site owner wonders why. A crawl operator reads
    this table to (a) skip wasting frontier slots on them and (b)
    report the conflict upstream.

    One decision pass (:func:`robots_decisions` — the same broadcast
    longest-match machinery the crawl gate itself runs, so the audit
    can never disagree with the gate) over the sitemap locs, filtered
    to disallowed. Returns (host, url, disallow_prefix) — the winning
    disallow pattern named so the fix is obvious. Scale shape: rule
    tables broadcast; the sitemap scan is the only wide side.
    """
    fr = sitemap_entries.select(
        F.lower(
            F.try_parse_url(F.col(loc_col), F.lit("HOST"))
        ).alias("host"),
        F.col(loc_col).alias("url"),
    ).filter(F.col("host").isNotNull())
    dec = robots_decisions(fr, rules, agent, "host", "url")
    return dec.filter(~F.col("robots_allowed")).select(
        "host", "url", F.col("matched_prefix").alias("disallow_prefix")
    )


def canonical_robots_conflicts(
    pages: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Pages whose declared ``rel=canonical`` TARGET is robots-disallowed
    — the consolidation-breaking misconfiguration class next to
    :func:`sitemap_robots_conflicts`: the site tells crawlers "the real
    copy lives at T" while its robots.txt forbids fetching T, so dedup/
    rank signals can never consolidate onto the declared canonical and
    every variant page keeps competing with its siblings.

    Plan: head-prescan → canonical-href extract → resolve, as STAGED
    projections (the pagination-assembly codegen discipline — one fused
    Project would re-inline the regexp tree past Janino's limits);
    targets are DISTINCT-collapsed before the robots decision join, so
    the longest-match machinery (the same :func:`robots_decisions` the
    crawl gate runs) prices per distinct target, not per page. Returns
    (url, canonical_target, disallow_prefix, is_cross_page) —
    is_cross_page marks targets on a different URL than the declaring
    page (the consolidation-loss case; a disallowed self-canonical is
    just a disallowed page).
    """
    from ..functions import urltools as U

    heads = pages.select(
        F.col(url_col).alias("url"),
        F.substring(F.col(html_col).cast("string"), 1, 4096).alias("_head"),
    )
    hrefs = heads.select(
        "url", U.rel_canonical(F.col("_head")).alias("_href")
    )
    resolved = hrefs.select(
        "url",
        F.coalesce(
            U.resolve_url(F.col("url"), F.col("_href")), F.col("url")
        ).alias("canonical_target"),
    )
    targets = resolved.select("canonical_target").distinct().select(
        F.lower(
            F.try_parse_url(F.col("canonical_target"), F.lit("HOST"))
        ).alias("host"),
        F.col("canonical_target").alias("t_url"),
    ).filter(F.col("host").isNotNull())
    dec = robots_decisions(targets, rules, agent, "host", "t_url")
    bad = dec.filter(~F.col("robots_allowed")).select(
        F.col("t_url"), F.col("matched_prefix").alias("disallow_prefix")
    )
    return resolved.join(
        bad, resolved["canonical_target"] == bad["t_url"]
    ).select(
        "url",
        "canonical_target",
        "disallow_prefix",
        (F.col("url") != F.col("canonical_target")).alias("is_cross_page"),
    )


def crawl_delays(rules: DataFrame, agent: str = "*",
                 default_delay: float = 2.0) -> DataFrame:
    """(host, delay_seconds): agent-specific Crawl-delay beats '*', beats
    the default."""
    d = rules.filter(F.col("rule") == "crawl-delay").select(
        "host", "agent", "crawl_delay",
        F.when(F.col("agent") == agent.lower(), 1).otherwise(0).alias("spec"),
    )
    w = Window.partitionBy("host").orderBy(F.desc("spec"))
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("host", F.coalesce("crawl_delay", F.lit(default_delay)).alias("delay_seconds"))
    )


def politeness_schedule_with_delays(
    frontier: DataFrame,
    epoch_start,
    delays: DataFrame,
    default_delay: float = 2.0,
    host_col: str = "host",
    priority_col: str = "priority",
    url_col: str = "url",
    salt_col: str | list[str] | None = None,
) -> DataFrame:
    """F3 generalized: per-host Crawl-delay from robots (broadcast join)
    replaces the global constant; schedule stays closed-form. ``salt_col``
    as in :func:`politeness.crawl_order`."""
    from .politeness import _after, crawl_order

    ordered = crawl_order(frontier, host_col, priority_col, url_col, salt_col)
    with_delay = ordered.join(F.broadcast(delays), on=host_col, how="left").withColumn(
        "delay_seconds", F.coalesce(F.col("delay_seconds"), F.lit(default_delay))
    )
    return with_delay.withColumn(
        "scheduled_ts",
        _after(epoch_start, (F.col("seq") - 1) * F.col("delay_seconds")),
    )


def robots_cache_policy(
    fetch_log: DataFrame,
    now,
    host_col: str = "host",
    ts_col: str = "fetch_ts",
    status_col: str = "status",
    max_age_s: int = 86_400,
    unreachable_grace_s: int = 30 * 86_400,
) -> DataFrame:
    """Per-host robots.txt cache state per RFC 9309 §2.3.1/§2.4 at time
    ``now``: a 2xx copy is ``fresh`` for up to 24 hours then
    ``refetch_due`` (§2.4 MAY-cache bound); a 4xx means robots is
    *unavailable* → crawl anything (``unavailable_allow``, §2.3.1.3); a
    5xx/timeout means *unreachable* → assume complete disallow
    (``unreachable_disallow``, §2.3.1.4) until it has stayed unreachable
    for a reasonably long period (``unreachable_grace_s``, the RFC's
    30-day example), after which a previously cached copy MAY be used
    (``unreachable_stale_cache_ok``) — or, with no cached copy ever,
    crawling MAY proceed (``unavailable_allow``).

    One keep-latest window over the fetch log + a per-host max over
    successful fetches; integer-second arithmetic throughout.
    Returns (host, last_status, age_s, state, refetch_due).
    """
    from pyspark.sql import Window

    now_ts = F.lit(now).cast("timestamp")
    w = Window.partitionBy(host_col).orderBy(F.desc(ts_col))
    per_host = Window.partitionBy(host_col)
    ok_ts = F.max(
        F.when(
            (F.col(status_col) >= 200) & (F.col(status_col) < 300),
            F.col(ts_col),
        )
    ).over(per_host)
    latest = (
        fetch_log.withColumn("__rn", F.row_number().over(w))
        .withColumn("__ok_ts", ok_ts)
        .filter(F.col("__rn") == 1)
    )
    age = (
        now_ts.cast("long") - F.col(ts_col).cast("long")
    ).alias("age_s")
    st = F.col(status_col)
    is_2xx = (st >= 200) & (st < 300)
    is_4xx = (st >= 400) & (st < 500)
    long_unreachable = (
        now_ts.cast("long") - F.col(ts_col).cast("long")
    ) > unreachable_grace_s
    state = (
        F.when(is_2xx & (age <= max_age_s), "fresh")
        .when(is_2xx, "refetch_due")
        .when(is_4xx, "unavailable_allow")
        .when(
            long_unreachable & F.col("__ok_ts").isNotNull(),
            "unreachable_stale_cache_ok",
        )
        .when(long_unreachable, "unavailable_allow")
        .otherwise("unreachable_disallow")
    )
    return latest.select(
        F.col(host_col).alias("host"),
        st.cast("int").alias("last_status"),
        age.cast("bigint"),
        state.alias("state"),
        state.isin("refetch_due", "unreachable_disallow").alias("refetch_due"),
    )


def meta_robots_flags(
    df: DataFrame,
    html_col: str = "html",
    header_col: str | None = None,
) -> DataFrame:
    """Page-level robots directives: ``<meta name="robots" content=...>``
    (and the ``X-Robots-Tag`` response header when ``header_col`` is
    given). A crawl that honors robots.txt but ingests noindex pages
    still violates the publisher's opt-out — and a training corpus built
    from it inherits the violation; this is the per-page half of the
    REP, next to the per-host half in ``apply_robots``.

    Parsing is pure column regexp (zero shuffle): the meta tag's content
    attribute is extracted tolerating either attribute order and either
    quote style, directives are matched as comma-separated tokens
    (``noindex`` never fires on ``index``). ``none`` = noindex,nofollow
    per the de-facto standard. Returns input + (noindex, nofollow).
    """
    h = F.lower(F.col(html_col).cast("string"))
    # name-first and content-first attribute orders; content value group
    name_first = (
        r"""<meta[^>]*name\s*=\s*["']?robots["']?[^>]*content\s*=\s*["']([^"'>]*)"""
    )
    content_first = (
        r"""<meta[^>]*content\s*=\s*["']([^"'>]*)["'][^>]*name\s*=\s*["']?robots["']?"""
    )
    content = F.concat_ws(
        ",",
        F.regexp_extract(h, name_first, 1),
        F.regexp_extract(h, content_first, 1),
    )
    if header_col is not None:
        content = F.concat_ws(",", content, F.lower(F.col(header_col).cast("string")))
    tok = lambda d: content.rlike(rf"(^|[,\s]){d}([,\s]|$)")  # noqa: E731
    noindex = tok("noindex") | tok("none")
    nofollow = tok("nofollow") | tok("none")
    return df.select("*", noindex.alias("noindex"), nofollow.alias("nofollow"))


def robots_rule_churn(
    rules_before: DataFrame,
    rules_after: DataFrame,
) -> DataFrame:
    """Robots-policy churn between two robots.txt snapshots — the
    epoch-over-epoch audit a recrawl planner needs before trusting a
    cached decision (pairs with ``robots_cache_policy``, which prices
    WHEN to refetch; this reports WHAT changed once refetched). A host
    that tightened its policy invalidates frontier URLs admitted under
    the old rules; one that loosened frees crawl budget; a crawl-delay
    change re-prices the politeness schedule without touching the
    allow/disallow gate.

    Input: two ``parse_robots`` rules tables. Granularity is the
    (host, agent) robots group — the unit RFC 9309 scopes rules to.

    Plan: allow/disallow rows reduce to distinct (host, agent, rule,
    path_prefix) keys; a full-outer self-shape join on that composite
    key marks each rule added/removed; one per-(host, agent) combiner
    agg counts the four churn cells. Crawl-delay rows reduce per group
    by max() separately on each side (no join explosion) and re-join.
    All exchanges carry slim string keys; rules tables are ~KB/host so
    at 10^10-URL scale this is dwarfed by any frontier scan.

    Returns one row per (host, agent) group whose policy changed:
    (host, agent, n_added_disallow, n_removed_disallow, n_added_allow,
    n_removed_allow, delay_before, delay_after, change_class) with
    change_class ∈ tightened | loosened | mixed | delay_only.
    Unchanged groups are omitted (at web scale almost every robots
    fetch is a no-change revisit — emitting them would drown the
    signal).
    """

    def keyset(rules: DataFrame) -> DataFrame:
        return (
            rules.filter(F.col("rule").isin("allow", "disallow"))
            .select("host", "agent", "rule", "path_prefix")
            .distinct()
        )

    def delays(rules: DataFrame, out: str) -> DataFrame:
        return (
            rules.filter(F.col("rule") == "crawl-delay")
            .groupBy("host", "agent")
            .agg(F.max("crawl_delay").alias(out))
        )

    b = keyset(rules_before).withColumn("in_b", F.lit(1))
    a = keyset(rules_after).withColumn("in_a", F.lit(1))
    fo = b.join(a, ["host", "agent", "rule", "path_prefix"], "full_outer")
    added = F.col("in_a").isNotNull() & F.col("in_b").isNull()
    removed = F.col("in_b").isNotNull() & F.col("in_a").isNull()
    dis = F.col("rule") == "disallow"
    cells = fo.groupBy("host", "agent").agg(
        F.sum((added & dis).cast("long")).alias("n_added_disallow"),
        F.sum((removed & dis).cast("long")).alias("n_removed_disallow"),
        F.sum((added & ~dis).cast("long")).alias("n_added_allow"),
        F.sum((removed & ~dis).cast("long")).alias("n_removed_allow"),
    )
    d = delays(rules_before, "delay_before").join(
        delays(rules_after, "delay_after"), ["host", "agent"], "full_outer"
    )
    out = cells.join(d, ["host", "agent"], "full_outer").select(
        "host", "agent",
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(c)
            for c in (
                "n_added_disallow", "n_removed_disallow",
                "n_added_allow", "n_removed_allow",
            )
        ],
        "delay_before", "delay_after",
    )
    tighten = (F.col("n_added_disallow") > 0) | (F.col("n_removed_allow") > 0)
    loosen = (F.col("n_removed_disallow") > 0) | (F.col("n_added_allow") > 0)
    delay_changed = ~(
        F.col("delay_before").eqNullSafe(F.col("delay_after"))
    )
    cls = (
        F.when(tighten & loosen, F.lit("mixed"))
        .when(tighten, F.lit("tightened"))
        .when(loosen, F.lit("loosened"))
        .when(delay_changed, F.lit("delay_only"))
    )
    return (
        out.withColumn("change_class", cls)
        .filter(F.col("change_class").isNotNull())
    )


def robots_complexity(rules: DataFrame) -> DataFrame:
    """Per-host robots.txt complexity census over a parsed rules table —
    the policy-surface inventory an ops review reads before trusting
    the gate: how many agent groups and rules each host publishes, how
    much of the surface uses RFC 9309 special characters (`*` runs,
    `$` anchors — the rows that take the regex path in
    ``robots_decisions`` instead of the cheap startswith), whether a
    crawl-delay overrides the politeness default, and how many
    sitemaps are advertised. Hosts with pathological rule counts are
    where the broadcast-rules assumption should be re-checked, and a
    sudden complexity jump is the cheap tripwire that triggers
    ``robots_rule_churn``'s detailed diff.

    Plan: ONE host-keyed combiner agg over the (already tiny) rules
    table; no joins, no windows.

    Returns (host, n_groups, n_rules, n_allow, n_disallow,
    n_wildcard_rules, has_crawl_delay, n_sitemaps) — one row per host
    that published at least one parseable directive.
    """
    is_rule = F.col("rule").isin("allow", "disallow")
    wildcard = is_rule & (
        F.col("path_prefix").contains("*") | F.col("path_prefix").endswith("$")
    )
    return rules.groupBy("host").agg(
        F.count_distinct(
            F.when(is_rule | (F.col("rule") == "crawl-delay"), F.col("agent"))
        ).cast("long").alias("n_groups"),
        F.sum(is_rule.cast("long")).cast("long").alias("n_rules"),
        F.sum((F.col("rule") == "allow").cast("long")).cast("long")
        .alias("n_allow"),
        F.sum((F.col("rule") == "disallow").cast("long")).cast("long")
        .alias("n_disallow"),
        F.sum(wildcard.cast("long")).cast("long").alias("n_wildcard_rules"),
        F.max((F.col("rule") == "crawl-delay").cast("boolean"))
        .alias("has_crawl_delay"),
        F.sum((F.col("rule") == "sitemap").cast("long")).cast("long")
        .alias("n_sitemaps"),
    )
