"""URL/domain blocklist filtering — the standard webtext-corpus gate
(C4 / RefinedWeb / UT1-blacklist style) the reference never needed (its
seed list is a closed allowlist, pacong/config/settings.yaml:41-60) but a
100 TB crawl corpus cannot ship without.

Semantics: a blocklist entry ``example.com`` blocks the host
``example.com`` AND every subdomain (``a.b.example.com``) — suffix match
on label boundaries only (``notexample.com`` is NOT blocked).

Scale plan (the reason this module exists): the obvious formulation —
explode each host into its label suffixes, semi-join the blocklist, then
anti-join the hits back by id — shuffles the full corpus twice. Instead we
compute the last-k-label suffix for k = 2..max_labels as plain
``substring_index`` columns (whole-stage codegen, no higher-order
functions) and chain one broadcast LEFT OUTER equi-join per depth against
the deduplicated blocklist. Every join is a streaming BroadcastHashJoin:
**zero shuffles, zero explode** regardless of corpus size; cost is
max_labels-1 probes of a broadcast hash table per row. Blocklists (UT1 is
~4M domains ≈ 100 MB) fit comfortably in a broadcast.

``max_labels`` bounds the matched depth: an entry with more than
``max_labels`` labels can only match exactly-equal hosts of that depth via
the ``host`` probe itself (depth-1 ``substring_index`` is the full host
when the host has ≤ max_labels labels). Default 6 covers every public
registry suffix in practice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import urltools as U

__all__ = ["domain_blocklist_filter"]


def _suffix_cols(host, max_labels: int):
    """Last-k-label suffixes, k=2..max_labels, plus the full host.

    ``substring_index(host, '.', -k)`` returns the whole host when it has
    fewer than k labels — those duplicates probe the same key again and
    change nothing (LEFT OUTER against a DISTINCT build side).
    """
    cols = [F.substring_index(host, ".", -k) for k in range(2, max_labels + 1)]
    return [host] + cols


def domain_blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    max_labels: int = 6,
    keep: str = "allowed",
) -> DataFrame:
    """Drop (or keep) rows whose URL host is on, or under, a blocked domain.

    ``blocklist`` is a small-to-moderate DataFrame with one lowercase
    domain per row in ``domain_col``; it is deduplicated and broadcast.
    ``keep='allowed'`` returns surviving rows (the corpus gate);
    ``keep='blocked'`` returns the complement (audit/report path). Input
    columns pass through unchanged; no helper columns leak.
    """
    if keep not in ("allowed", "blocked"):
        raise ValueError(f"keep must be 'allowed' or 'blocked', got {keep!r}")
    # DISTINCT protects the LEFT OUTER joins from build-side fan-out;
    # localCheckpoint (eager) materializes the deduped list ONCE so the
    # max_labels broadcasts all read the same blocks instead of re-running
    # the distinct shuffle per join — at UT1 scale (~4M domains) that is
    # one 100 MB shuffle total, not six.
    dim = F.broadcast(
        blocklist.select(F.lower(F.col(domain_col)).alias("__blocked_domain"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    host = F.lower(U.url_host(F.col(url_col)))
    out = df.withColumn("__host", host)
    hit_flags = []
    for depth, sfx in enumerate(_suffix_cols(F.col("__host"), max_labels)):
        key, flag = f"__sfx{depth}", f"__hit{depth}"
        out = (
            out.withColumn(key, sfx)
            .join(
                dim.select(
                    F.col("__blocked_domain").alias(key), F.lit(True).alias(flag)
                ),
                on=key,
                how="left",
            )
            .drop(key)
        )
        hit_flags.append(F.col(flag))
    blocked = None
    for f in hit_flags:
        blocked = f if blocked is None else (blocked | f)
    blocked = F.coalesce(blocked, F.lit(False))
    pred = ~blocked if keep == "allowed" else blocked
    drop = ["__host"] + [f"__hit{i}" for i in range(len(hit_flags))]
    return out.filter(pred).drop(*drop)


def url_family(url: Column | str) -> Column:
    """Trap-family key for a URL: ``host + path`` with every digit run
    collapsed to ``N`` and the query/fragment dropped. Calendar archives
    (``/2024/01/05``), paginated facets (``/page/7341``) and numeric
    session paths all collapse onto one family; distinct legitimate
    sections stay distinct. Pure Column expressions (computed for every
    frontier URL — must stay inside codegen)."""
    c = F.col(url) if isinstance(url, str) else url
    host = U.url_host(c)
    raw = F.coalesce(F.try_parse_url(c.cast("string"), F.lit("PATH")), F.lit(""))
    path = F.when(raw == "", F.lit("/")).otherwise(raw)
    norm = F.regexp_replace(F.lower(path), "[0-9]+", "N")
    return F.concat(host, norm)


def path_prefix_rollup(
    pages: DataFrame,
    url_col: str = "url",
    max_depth: int = 4,
) -> DataFrame:
    """Hierarchical URL-path prefix census — page mass at every directory
    prefix to ``max_depth``: the site-structure table that surfaces trap
    directories (a /calendar/ prefix holding 40% of a host's URLs at
    depth 1 with ever-deeper children), budget sinks, and where a
    path-based crawl scope should cut. The complement of
    :func:`detect_crawl_traps`' digit-normalized families: this rolls up
    by the site's OWN directory structure, no normalization.

    Returns (host, depth, prefix, n_urls, host_urls, share_milli) — one
    row per (host, directory prefix), n_urls counting distinct URLs at
    or below the prefix, share against the host's distinct-URL mass.

    Scale shape: one distinct on the slim url column, one bounded
    explode (≤ max_depth rows per URL — a constant), two host/prefix-
    keyed combiner aggs and one host equi-join; prefixes are grouped
    under (host, prefix) keys so even a 10^8-URL host fans across the
    hash space, and nothing is ever per-site serialized.
    """
    host = F.regexp_extract(F.col("u"), r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    path = F.regexp_extract(
        F.col("u"), r"^[a-z][a-z0-9+.-]*://[^/?#]+/([^?#]*)", 1
    )
    u = (
        pages.select(F.col(url_col).cast("string").alias("u"))
        .distinct()
        .select(
            F.col("u"), host.alias("host"),
            F.split(path, "/").alias("segs"),
        )
        .filter((F.col("host") != "") & (F.size("segs") > 0)
                & (F.col("segs")[0] != ""))
    )
    depths = u.select(
        "u", "host", "segs",
        F.explode(
            F.sequence(F.lit(1), F.least(F.size("segs"), F.lit(int(max_depth))))
        ).alias("depth"),
    ).select(
        "u", "host", "depth",
        F.concat(
            F.lit("/"), F.array_join(F.slice("segs", 1, F.col("depth")), "/")
        ).alias("prefix"),
    )
    per_prefix = depths.groupBy("host", "depth", "prefix").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls")
    )
    per_host = u.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("host_urls")
    )
    return per_prefix.join(per_host, "host").select(
        "host", "depth", "prefix", "n_urls", "host_urls",
        F.floor(F.col("n_urls") * 1000 / F.col("host_urls"))
        .cast("long").alias("share_milli"),
    )


def detect_crawl_traps(
    pages: DataFrame,
    url_col: str = "url",
    fingerprint_col: str | None = None,
    min_family: int = 100,
    max_content_ratio: float = 0.10,
) -> DataFrame:
    """Crawler-trap families: URL groups with explosive distinct-URL
    counts and (when a content fingerprint is available) almost no
    distinct content behind them — calendar traps, session-id explosions,
    faceted-search combinatorics. The reference crawls a fixed seed list
    and cannot hit traps; any open-web frontier must gate on them or a
    single mis-configured host eats the politeness budget.

    Returns one row per family:
    ``(family, n_urls, n_content, is_trap)`` where ``is_trap`` is true
    when the family has ≥ ``min_family`` distinct URLs and, if
    ``fingerprint_col`` is given, ≤ ``max_content_ratio`` distinct
    fingerprints per URL (URL-explosion alone flags when no fingerprint
    is supplied).

    One hash aggregation keyed on the family — the family key is computed
    in codegen, distinct counts partial-aggregate map-side, and the output
    is family-cardinality-sized (tiny next to the frontier), so the trap
    table can broadcast-join back against any frontier.
    """
    fam = pages.select(
        url_family(url_col).alias("family"),
        F.col(url_col).alias("_url"),
        *(
            [F.col(fingerprint_col).alias("_fp")]
            if fingerprint_col
            else []
        ),
    )
    aggs = [F.count_distinct(F.col("_url")).alias("n_urls")]
    if fingerprint_col:
        aggs.append(F.count_distinct(F.col("_fp")).alias("n_content"))
    else:
        aggs.append(F.lit(None).cast("long").alias("n_content"))
    out = fam.groupBy("family").agg(*aggs)
    trap = F.col("n_urls") >= F.lit(min_family)
    if fingerprint_col:
        trap = trap & (
            F.col("n_content")
            <= F.col("n_urls") * F.lit(max_content_ratio)
        )
    return out.withColumn("is_trap", trap)


def insignificant_params(
    pages: DataFrame,
    url_col: str = "url",
    fp_col: str = "fingerprint",
    min_groups: int = 3,
) -> DataFrame:
    """DUST-rule mining at the query-parameter level (Bar-Yossef et al.
    2007, "Do Not Crawl in the DUST: Different URLs with Similar Text",
    public paper): learn which query parameters NEVER change page content
    — tracking tags (utm_*), session ids, affiliate codes — so the
    canonicalizer can strip them corpus-wide instead of refetching every
    variant.

    Method: for each (param key, rest-of-URL) group where the key takes
    ≥2 distinct values, check whether the content fingerprint stays
    constant. A key is ``insignificant`` when it has ≥ ``min_groups``
    such evidence groups and **every** one of them is content-clean (one
    conservative counterexample keeps the param).

    Plan: one explode over the parsed param list (slim (param, base, value,
    fp) rows — the page payload never enters the shuffle), two keyed aggs:
    (param, base) distinct-count collapse, then the per-param rollup.
    Returns (param, evidence_groups, clean_groups, insignificant).
    """
    url = F.col(url_col).cast("string")
    q = F.try_parse_url(url, F.lit("QUERY"))
    params = F.split(q, "&")
    exploded = (
        pages.filter(q.isNotNull() & (q != ""))
        .select(
            F.col(fp_col).alias("fp"),
            F.regexp_replace(url, r"\?.*$", "").alias("path_base"),
            params.alias("all_params"),
            F.explode(params).alias("kv"),
        )
        .withColumn("param", F.substring_index(F.col("kv"), "=", 1))
        .withColumn("value", F.regexp_extract(F.col("kv"), r"^[^=]*=?(.*)$", 1))
        .withColumn(
            "base",
            F.concat(
                F.col("path_base"),
                F.lit("?"),
                F.array_join(
                    F.array_sort(
                        F.filter(
                            F.col("all_params"),
                            lambda p: ~p.startswith(
                                F.concat(F.col("param"), F.lit("="))
                            ),
                        )
                    ),
                    "&",
                ),
            ),
        )
    )
    groups = exploded.groupBy("param", "base").agg(
        F.countDistinct("value").alias("nv"),
        F.countDistinct("fp").alias("nfp"),
    )
    per = (
        groups.filter(F.col("nv") >= 2)
        .groupBy("param")
        .agg(
            F.count(F.lit(1)).alias("evidence_groups"),
            F.sum(F.when(F.col("nfp") == 1, 1).otherwise(0)).alias("clean_groups"),
        )
    )
    return per.select(
        "param", "evidence_groups", "clean_groups",
        (
            (F.col("evidence_groups") >= min_groups)
            & (F.col("clean_groups") == F.col("evidence_groups"))
        ).alias("insignificant"),
    )


def strip_params(
    frontier: DataFrame,
    param_keys: list[str],
    url_col: str = "url",
    out_col: str | None = None,
) -> DataFrame:
    """Apply mined DUST rules: remove the named query parameters from
    every URL (pure columns — literal key array, no join). The rule list
    is param *keys* (tens at most — it is the mined `insignificant=true`
    set), so a literal array is the right shape, not a broadcast join.
    Empty surviving query drops the '?' entirely."""
    out_col = out_col or url_col
    url = F.col(url_col).cast("string")
    q = F.try_parse_url(url, F.lit("QUERY"))
    keys = F.array(*[F.lit(k) for k in param_keys])
    kept = F.filter(
        F.split(q, "&"),
        lambda p: ~F.array_contains(keys, F.substring_index(p, "=", 1)),
    )
    path_base = F.regexp_replace(url, r"\?.*$", "")
    rebuilt = F.when(
        q.isNull() | (q == ""), url
    ).when(
        F.size(kept) == 0, path_base
    ).otherwise(F.concat(path_base, F.lit("?"), F.array_join(kept, "&")))
    return frontier.withColumn(out_col, rebuilt)


def soft_404_flags(
    df: DataFrame,
    text_col: str = "text",
    status_col: str = "http_status",
    url_col: str = "url",
    min_bytes: int = 120,
) -> DataFrame:
    """Soft-404 detection: pages that return HTTP 200 but ARE error pages
    (Bar-Yossef et al. 2004 "Sic transit gloria telae" — the dead-link
    study that named the problem). A real crawl archives and dedups
    these as if they were content, poisoning both the index and any
    training corpus built from it; a 200 is a claim, not a fact.

    Signals (pure column expressions, zero shuffle):
    - ``flag_error_text``: not-found phrasing near the top of the body
      ("page not found", "404", "no longer available", "does not
      exist"…), case-insensitive, checked on the first 2000 chars so a
      legitimate article MENTIONING 404s deep in its text is not hit;
    - ``flag_thin``: entity body under ``min_bytes`` UTF-8 bytes — error
      stubs are near-empty;
    - ``flag_error_url``: the final URL itself is an error/landing page
      (/404, /not-found, /error…) — the redirect-to-error pattern.

    ``soft_404`` = status 200 AND (error text OR (thin AND error URL) OR
    (thin AND error text)) collapses to: error text, or thin+error URL.
    Returns the input plus the three signal flags and the verdict —
    a gate for the ingest path, not a mutation.
    """
    status_200 = F.col(status_col) == 200
    head = F.lower(F.substring(F.col(text_col).cast("string"), 1, 2000))
    error_text = (
        head.rlike(
            r"(page|file|document|article)\s+(was\s+)?not\s+found"
            r"|\b404\b[^0-9]{0,40}(error|not\s+found)"
            r"|(error|oops)[^a-z0-9]{0,20}404"
            r"|no\s+longer\s+(available|exists)"
            r"|(page|url)\s+(does\s+not|doesn.?t)\s+exist"
        )
    )
    thin = F.octet_length(F.col(text_col).cast("string")) < min_bytes
    error_url = F.lower(F.col(url_col)).rlike(
        r"/(404|not[-_]?found|error)([/.?#]|$)"
    )
    return df.select(
        "*",
        (status_200 & error_text).alias("flag_error_text"),
        (status_200 & thin).alias("flag_thin"),
        (status_200 & error_url).alias("flag_error_url"),
        (status_200 & (error_text | (thin & error_url))).alias("soft_404"),
    )


def _first_mismatch(u, v):
    """1-based index of the first differing character of two strings as a
    Column; 0 when one is a prefix of the other. zip_with pads the shorter
    side with NULL, and ``when(a == b, 0)`` on a NULL comparison falls to
    the mismatch branch — exactly the prefix-boundary semantics needed."""
    eq = F.zip_with(
        F.split(u, ""),
        F.split(v, ""),
        lambda a, b: F.when(a == b, 0).otherwise(1),
    )
    return F.array_position(eq, 1)


def dust_rules(
    df: DataFrame,
    url_col: str = "url",
    fp_col: str = "fingerprint",
    min_support: int = 3,
    max_rule_len: int = 40,
) -> DataFrame:
    """DUST alias-rule mining (Bar-Yossef, Keidar & Schonfeld 2007, "Do
    not crawl in the DUST: different URLs with similar text"): URLs that
    serve the SAME content fingerprint witness a substitution rule — the
    pair's longest common prefix and suffix are stripped and what differs
    in the middle is the rule (``'/index.html' → ''``, ``'www.' → ''``,
    ``'?print=1' → ''`` …). Rules backed by ≥ ``min_support`` independent
    witness pairs generalize: a crawler applies them BEFORE fetching,
    collapsing alias families it has never seen.

    Scale shape: pairs are generated by the STAR pattern — each duplicate
    joins only its fingerprint group's minimum URL (one fp-keyed shuffle,
    linear output), never all-pairs within a group, so a 10^6-alias hot
    fingerprint costs 10^6 rows, not 10^12. The per-pair prefix/suffix
    factoring is pure column algebra (zip_with over char arrays); the
    rule aggregation is a map-side-combinable count keyed by the rule
    itself.

    Rules are directed dup → canonical (toward the group minimum, the
    same canonical-election convention as ``dedup.keep_canonical``).
    Returns (alpha, beta, support): rewrite alpha to beta. Rules longer
    than ``max_rule_len`` on either side are dropped (junk factorizations
    of unrelated URL pairs).
    """
    mn = df.groupBy(F.col(fp_col).alias("__fp")).agg(
        F.min(url_col).alias("__canon")
    )
    pairs = (
        df.select(F.col(url_col).alias("__u"), F.col(fp_col).alias("__fp"))
        .join(mn, "__fp")
        .filter(F.col("__u") != F.col("__canon"))
        .select(F.col("__u").alias("u"), F.col("__canon").alias("v"))
    )
    n = F.least(F.length("u"), F.length("v"))
    p_pos = _first_mismatch(F.col("u"), F.col("v"))
    lcp = F.when(p_pos > 0, p_pos - 1).otherwise(n)
    s_pos = _first_mismatch(F.reverse(F.col("u")), F.reverse(F.col("v")))
    lcs_raw = F.when(s_pos > 0, s_pos - 1).otherwise(n)
    lcs = F.least(lcs_raw, n - lcp)
    factored = pairs.select(
        F.col("u").substr(
            (lcp + 1).cast("int"), (F.length("u") - lcp - lcs).cast("int")
        ).alias("alpha"),
        F.col("v").substr(
            (lcp + 1).cast("int"), (F.length("v") - lcp - lcs).cast("int")
        ).alias("beta"),
    )
    return (
        factored.filter(
            (F.length("alpha") <= max_rule_len)
            & (F.length("beta") <= max_rule_len)
        )
        .groupBy("alpha", "beta")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= int(min_support))
    )


def mirror_hosts_by_path(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_shared: int = 3,
    min_overlap_milli: int = 800,
    max_key_hosts: int = 16,
) -> DataFrame:
    """Host-level mirror detection (Bharat & Broder 1999, "Mirror,
    mirror on the Web: a study of host pairs with replicated content",
    WWW8) — the PATH-KEYED high-precision variant; the content-level
    variant (fingerprint-set overlap regardless of path, higher recall,
    catches restructured mirrors) is :func:`..dedup.mirror_candidates`.
    Two hosts are mirror candidates here when they serve the SAME
    content at the SAME path — so the join key is (path, content
    fingerprint), not content alone: shared boilerplate on different
    paths never collides, and a true mirror (rsync'd doc tree, CDN
    alias, ccTLD clone) matches on nearly every page. Collapsing
    mirrors before fetch is one of the paper's headline crawl savings;
    DUST (:func:`dust_rules`) factors per-URL alias RULES, this factors
    whole HOSTS.

    Returns one row per candidate host pair:
    ``(host_a, host_b, shared, n_a, n_b, overlap_milli, is_mirror)``
    with ``overlap_milli = floor(1000·shared / least(n_a, n_b))`` —
    integer-exact containment of the smaller host — and ``is_mirror``
    when ``shared ≥ min_shared`` and ``overlap_milli ≥
    min_overlap_milli`` (the paper's high-precision regime).

    Scale shape: the scan projects (host, path, fp) — page text never
    leaves it. Keys replicated across more than ``max_key_hosts`` hosts
    are mass-duplication (identical default pages, parked-domain
    templates), dropped by one count window BEFORE pairing, so the
    self-join fanout is ≤ C(max_key_hosts, 2) per key — linear output,
    never quadratic in hosts. Per-host totals are a second slim agg
    joined on host. Three shuffles total, all on ~50-byte rows.
    """
    from ..functions import text as TX

    slim = (
        pages.select(
            U.url_host(F.col(url_col)).alias("host"),
            F.try_parse_url(F.col(url_col), F.lit("PATH")).alias("path"),
            TX.content_fingerprint(F.col(text_col)).alias("fp"),
        )
        .filter(F.col("host").isNotNull() & F.col("path").isNotNull())
        .distinct()
    )
    from pyspark.sql import Window

    keyed = slim.withColumn(
        "_kn", F.count(F.lit(1)).over(Window.partitionBy("path", "fp"))
    ).filter(F.col("_kn") <= F.lit(max_key_hosts)).drop("_kn")

    totals = keyed.groupBy("host").agg(F.count(F.lit(1)).alias("n"))

    a = keyed.select("path", "fp", F.col("host").alias("host_a"))
    b = keyed.select("path", "fp", F.col("host").alias("host_b"))
    shared = (
        a.join(b, ["path", "fp"])
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= F.lit(min_shared))
    )
    out = (
        shared.join(
            totals.select(F.col("host").alias("host_a"), F.col("n").alias("n_a")),
            "host_a",
        )
        .join(
            totals.select(F.col("host").alias("host_b"), F.col("n").alias("n_b")),
            "host_b",
        )
        .withColumn(
            "overlap_milli",
            F.floor(
                F.lit(1000) * F.col("shared") / F.least("n_a", "n_b")
            ).cast("long"),
        )
        .withColumn(
            "is_mirror", F.col("overlap_milli") >= F.lit(min_overlap_milli)
        )
    )
    return out.select(
        "host_a", "host_b", "shared", "n_a", "n_b", "overlap_milli",
        "is_mirror",
    )


def host_lookalikes(
    hosts: DataFrame,
    host_col: str = "host",
    min_len: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Lookalike / typosquat host pairs at edit distance ≤ 1 via the
    deletion-neighborhood trick (Norvig's spell-corrector candidate
    generation; Garbe's SymSpell makes the same observation at index
    scale; typosquatting as a measured web phenomenon: Moore & Edelman,
    FC 2010): two strings within one edit share a member of each other's
    {self} ∪ {one-char-deletions} sets, so candidates come from an
    equi-join on deletion variants — never a quadratic cross join with a
    distance UDF. Candidates are then verified with the built-in
    Levenshtein (JVM-side), which also discards the distance-2 collisions
    the deletion join admits (e.g. two different substitutions of the
    same base).

    Returns (host_a, host_b, dist) with host_a < host_b and dist ≤ 1.
    Hosts shorter than ``min_len`` generate nothing (1–3 char strings
    make everything a neighbor); variant buckets larger than
    ``max_bucket`` are dropped before the self-join — the same hot-key
    cap discipline as the LSH band joins, bounding per-key fanout at
    C(max_bucket, 2). The joined rows carry two host strings and nothing
    else.
    """
    h = (
        hosts.select(F.col(host_col).alias("host"))
        .filter(F.length("host") >= F.lit(min_len))
        .distinct()
    )
    dels = F.expr(
        "transform(sequence(1, length(host)), i -> "
        "concat(substring(host, 1, i-1), substring(host, i+1, length(host))))"
    )
    v = (
        h.select(
            "host",
            F.explode(F.array_union(F.array(F.col("host")), dels)).alias("variant"),
        )
        .distinct()
    )
    vw = Window.partitionBy("variant")
    v = (
        v.withColumn("_n", F.count(F.lit(1)).over(vw))
        .filter(F.col("_n") <= F.lit(max_bucket))
        .drop("_n")
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.host") < F.col("b.host")),
        )
        .select(F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b"))
        .distinct()
        .withColumn("dist", F.levenshtein("host_a", "host_b").cast("int"))
        .filter(F.col("dist") <= 1)
    )


def cloaking_flags(
    fetches: DataFrame,
    url_col: str = "url",
    agent_col: str = "agent_class",
    fp_col: str = "content_fp",
    bot_class: str = "bot",
) -> DataFrame:
    """Cloaking detection by bot-vs-browser content divergence (Wu &
    Davison, WWW 2005 "Cloaking and Redirection: A Preliminary Look" —
    fetch each URL as a crawler AND as a browser; a page that serves the
    two audiences disjoint content is cloaked, while ordinary dynamism
    churns content for everyone alike).

    Exact integer set algebra per URL over distinct (side, fingerprint)
    rows — shared fingerprints between sides by inclusion-exclusion
    (d_bot + d_browser − d_all), so no set intersection ever materializes:

    ``cloaked`` = fetched on both sides ∧ zero shared fingerprints ∧ not
    fully dynamic (``dynamic`` = every fetch produced a distinct
    fingerprint — the Wu-Davison multi-copy guard against flagging
    per-request content as cloaking).

    Scale shape: one distinct collapse to (url, side, fp) + two
    url-keyed combiner aggs; only the fingerprint (pass an md5, not the
    body) crosses a shuffle. Returns (url, n_fetches, n_bot, n_browser,
    d_bot, d_browser, shared_fps, dynamic, cloaked).
    """
    side = (F.col(agent_col) == bot_class).cast("int").alias("is_bot")
    base = fetches.select(
        F.col(url_col).alias("url"), side, F.col(fp_col).alias("fp")
    )
    per_url = base.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum("is_bot").cast("long").alias("n_bot"),
        F.count_distinct("fp").alias("d_all"),
    )
    sides = (
        base.select("url", "is_bot", "fp")
        .distinct()
        .groupBy("url")
        .agg(
            F.sum(F.when(F.col("is_bot") == 1, 1).otherwise(0))
            .cast("long")
            .alias("d_bot"),
            F.sum(F.when(F.col("is_bot") == 0, 1).otherwise(0))
            .cast("long")
            .alias("d_browser"),
        )
    )
    out = per_url.join(sides, "url")
    shared = F.col("d_bot") + F.col("d_browser") - F.col("d_all")
    dynamic = F.col("d_all") == F.col("n_fetches")
    return out.select(
        "url",
        F.col("n_fetches").cast("long").alias("n_fetches"),
        "n_bot",
        (F.col("n_fetches") - F.col("n_bot")).cast("long").alias("n_browser"),
        "d_bot",
        "d_browser",
        shared.cast("long").alias("shared_fps"),
        dynamic.alias("dynamic"),
        (
            (F.col("n_bot") > 0)
            & (F.col("n_fetches") - F.col("n_bot") > 0)
            & (shared == 0)
            & ~dynamic
        ).alias("cloaked"),
    )


def dust_rewrite(
    pages: DataFrame,
    strip_params: list[str],
    url_col: str = "url",
) -> DataFrame:
    """Apply learned DUST rules corpus-wide — the actionable half of
    :func:`insignificant_params` (Bar-Yossef et al. 2007 §6: once a
    parameter is known content-inert, strip it and collapse the URL
    space BEFORE fetching): every listed query parameter is removed and
    the URL rebuilt (query dropped entirely when nothing survives).
    Returns the input plus ``canonical_url``.

    Pure column algebra — base split at '?', query exploded to a param
    array, one HOF filter against the bounded rule list, rejoin — no
    UDF, no shuffle; the rule list is the mining output (≤ #distinct
    param keys, a driver-bounded artifact by the same argument as the
    LSH plane lists).
    """
    url = F.col(url_col).cast("string")
    # Fragment split FIRST: '?(.*)$' would otherwise swallow '#frag' into
    # the query (gluing it to the last param, or dropping it when every
    # param is stripped). The fragment is carried through untouched.
    base = F.regexp_extract(url, r"^([^?#]*)", 1)
    query = F.regexp_extract(url, r"^[^#]*\?([^#]*)", 1)
    frag = F.regexp_extract(url, r"(#.*)$", 1)
    parts = F.when(query == "", F.array().cast("array<string>")).otherwise(
        F.split(query, "&")
    )
    keys = [p + "=" for p in strip_params]
    kept = F.filter(parts, lambda x: ~_any_prefix(x, keys))
    rebuilt = F.when(
        F.size(kept) > 0, F.concat(base, F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(base)
    return pages.withColumn("canonical_url", F.concat(rebuilt, frag))


def _any_prefix(x, keys: list[str]):
    expr = F.lit(False)
    for k in keys:
        expr = expr | x.startswith(k)
    return expr


def scheme_consolidation(
    pages: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """http↔https site-identity audit — the protocol sibling of the
    www/apex consolidation report: a site crawled under both schemes
    wastes frontier budget and splits dedup/rank signals exactly like
    an apex/www split, and the overlap set is the first thing an HTTPS
    migration review asks for. Per host this reports how much of the
    corpus sits under each scheme and how many PATHS are served under
    BOTH (the true duplicate set a canonicalizer would collapse),
    classifying each host's migration state.

    Plan: regexp scheme/host/rest split (codegen) → one distinct over
    the case-folded URL → path cut → a (host, path)-keyed combiner agg
    marking both-scheme paths → one host-keyed agg. Two slim shuffles on keys
    a canonicalization pipeline already partitions by; no joins at
    all. Non-http(s) schemes are ignored.

    Returns (host, n_http_urls, n_https_urls, n_dup_paths, state),
    state ∈ https_only | http_only | migrating (both schemes, shared
    paths) | mixed_disjoint (both schemes, zero path overlap).
    """
    # scheme and host are case-insensitive (RFC 3986 §6.2.2.1) and fold to
    # lower case; the path and everything after it keep their case
    url = F.col(url_col).cast("string")
    parts = r"(?s)^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$"
    u = (
        pages.select(
            F.lower(F.regexp_extract(url, parts, 1)).alias("scheme"),
            F.lower(F.regexp_extract(url, parts, 2)).alias("host"),
            F.regexp_extract(url, parts, 3).alias("rest"),
        )
        .distinct()
        .select(
            "scheme", "host",
            F.regexp_extract(F.col("rest"), r"^([^?#]*)", 1).alias("path"),
        )
        .filter(F.col("scheme").isin("http", "https") & (F.col("host") != ""))
    )
    per_path = u.groupBy("host", "path").agg(
        F.sum((F.col("scheme") == "http").cast("long")).alias("n_http"),
        F.sum((F.col("scheme") == "https").cast("long")).alias("n_https"),
    )
    per_host = per_path.groupBy("host").agg(
        F.sum("n_http").cast("long").alias("n_http_urls"),
        F.sum("n_https").cast("long").alias("n_https_urls"),
        F.sum(
            ((F.col("n_http") > 0) & (F.col("n_https") > 0)).cast("long")
        ).cast("long").alias("n_dup_paths"),
    )
    state = (
        F.when(F.col("n_http_urls") == 0, F.lit("https_only"))
        .when(F.col("n_https_urls") == 0, F.lit("http_only"))
        .when(F.col("n_dup_paths") > 0, F.lit("migrating"))
        .otherwise(F.lit("mixed_disjoint"))
    )
    return per_host.select(
        "host", "n_http_urls", "n_https_urls", "n_dup_paths",
        state.alias("state"),
    )


def frontier_funnel(
    candidates: DataFrame,
    seen: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    seen_col: str = "canonical_url",
) -> DataFrame:
    """Single-pass frontier admission funnel — how many candidate URLs
    survive each gate of the admission pipeline (canonicalize +
    within-batch dedup → seen-set anti-join → robots), as ONE table.
    Every stage is individually certified elsewhere; this is the
    COMPOSITION audit an operator reads every epoch: where did the
    outlink expansion's volume go, and is a sudden drop a seen-set
    regression or a robots change?

    Plan: one scan canonicalizes and derives three flags — first
    occurrence within the batch (row_number over the canonical key),
    seen-set membership (left join marker on the canonical URL, the
    same slim key the production anti-join uses), and the robots
    decision (``robots_decisions``' broadcast longest-match kernel,
    unfiltered) — then ONE combiner agg + a 4-row unpivot. No stage
    re-reads the input, so the funnel costs one pass over the batch
    regardless of corpus size.

    Returns 4 rows: (stage_id, stage, n_urls, n_dropped,
    drop_share_milli) with drop shares relative to the PREVIOUS stage
    (floor fixed-point; 0 when the previous stage was empty).
    """
    from ..functions import urltools as U
    from .robots import robots_decisions

    canon = candidates.select(
        U.canonicalize_url(F.col(url_col)).alias("canonical_url")
    ).filter(F.col("canonical_url").isNotNull())
    raw = canon.agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    # the decision kernel contracts on a DISTINCT frontier (it keeps one
    # row per (host, url)) — collapse first, count dups via the raw agg
    uniq = canon.distinct()
    seen_k = seen.select(
        F.col(seen_col).alias("canonical_url"), F.lit(1).alias("_seen")
    ).distinct()
    flagged = uniq.join(seen_k, "canonical_url", "left").withColumn(
        "host", U.url_host(F.col("canonical_url"))
    )
    dec = robots_decisions(flagged, rules, agent).select(
        "_seen", "robots_allowed"
    )
    a = dec.agg(
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum((F.col("_seen").isNull()).cast("long")).cast("long")
        .alias("n_unseen"),
        F.sum(
            (F.col("_seen").isNull() & F.col("robots_allowed")).cast("long")
        ).cast("long").alias("n_admitted"),
    ).join(F.broadcast(raw))
    share = lambda cur, prev: F.when(  # noqa: E731
        F.col(prev) > 0,
        F.floor(1000 * (F.col(prev) - F.col(cur)) / F.col(prev)),
    ).otherwise(F.lit(0)).cast("long")
    stages = a.select(
        F.expr(
            "stack(4, "
            "0L, 'raw_candidates', n_raw, CAST(0 AS BIGINT), "
            "1L, 'after_batch_dedup', n_unique, n_raw - n_unique, "
            "2L, 'after_seen_filter', n_unseen, n_unique - n_unseen, "
            "3L, 'after_robots', n_admitted, n_unseen - n_admitted) "
            "AS (stage_id, stage, n_urls, n_dropped)"
        ),
        share("n_unique", "n_raw").alias("_s1"),
        share("n_unseen", "n_unique").alias("_s2"),
        share("n_admitted", "n_unseen").alias("_s3"),
    )
    return stages.select(
        "stage_id", "stage", "n_urls", "n_dropped",
        F.when(F.col("stage_id") == 1, F.col("_s1"))
        .when(F.col("stage_id") == 2, F.col("_s2"))
        .when(F.col("stage_id") == 3, F.col("_s3"))
        .otherwise(F.lit(0)).cast("long").alias("drop_share_milli"),
    )
