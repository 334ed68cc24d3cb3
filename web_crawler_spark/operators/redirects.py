"""Redirect-chain resolution over the fetch log — map every redirecting
URL to its final destination in O(log max_chain) self-joins.

A real crawl's fetch log is full of 3xx hops (http→https upgrades, www
canonicalization, short-links); the seen-set, dedup keys and the link
graph all want the *final* URL. The reference follows redirects inside
``requests`` per call (pacong/core/base_scraper.py session semantics) and
never materializes the chain; at corpus scale the chains live in the log
and must be resolved relationally.

The naive resolution joins once per hop (a 20-hop chain = 20 shuffle
joins over the full mapping). This module uses **pointer doubling** (the
classic parallel list-ranking trick): each round joins the mapping with
itself, so after ``k`` rounds every pointer has advanced ``min(2^k,
distance-to-terminal)`` hops — 5 rounds cover the 32-hop budget browsers
won't even follow. Each round shuffles only the slim ``(src, dst, hops)``
triple, and ``localCheckpoint`` cuts the doubling lineage.

Cycles (a↔b redirect loops — common misconfiguration) can't be "finished";
after the round budget they are reported with ``resolved = false`` and
``hops = 2^k`` rather than looping forever or raising.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def redirect_edges(
    fetches: DataFrame,
    url_col: str = "url",
    status_col: str = "status",
    location_col: str = "redirect_to",
    ts_col: str | None = None,
) -> DataFrame:
    """(src, dst) redirect mapping from the raw fetch log: 3xx rows with a
    non-null location. A URL fetched more than once keeps the latest
    observation when ``ts_col`` is given (arg-max over (ts, dst) — fully
    deterministic), else the lexicographically smallest target.
    Self-redirects are kept — they are 1-cycles the resolver must flag."""
    e = fetches.filter(
        F.col(status_col).cast("int").between(300, 399)
        & F.col(location_col).isNotNull()
    ).select(
        F.col(url_col).alias("src"), F.col(location_col).alias("dst"),
        *([F.col(ts_col).alias("_ts")] if ts_col else []),
    )
    if ts_col:
        return (
            e.groupBy("src")
            .agg(F.max(F.struct(F.col("_ts"), F.col("dst"))).alias("_m"))
            .select("src", F.col("_m.dst").alias("dst"))
        )
    return e.groupBy("src").agg(F.min("dst").alias("dst"))


def resolve_redirects(edges: DataFrame, max_rounds: int = 5) -> DataFrame:
    """Resolve every redirecting URL to its final destination.

    Input: the deduped ``(src, dst)`` mapping from :func:`redirect_edges`
    (one out-edge per src). Output: one row per src —
    ``(url, final_url, hops, resolved)`` where ``hops`` is the number of
    redirects followed (capped at ``2^max_rounds``) and ``resolved`` is
    false when the walk still lands on a redirecting URL at the cap
    (cycle or over-long chain).

    Pointer doubling: round ``r`` advances every pointer to the node
    ``min(2^r, d)`` hops ahead (``d`` = distance to a terminal), so the
    default 5 rounds resolve any chain up to 32 hops with 5 slim
    self-joins instead of 32 full-log joins. Equivalent step-by-step
    semantics (what the DuckDB recursive-CTE oracle replicates): follow
    edges until the current node has no out-edge or ``2^max_rounds`` hops
    are spent.
    """
    m = edges.select(
        "src", "dst", F.lit(1).cast("long").alias("hops")
    ).localCheckpoint()
    for _ in range(max_rounds):
        nxt = m.select(
            F.col("src").alias("_s"),
            F.col("dst").alias("_d"),
            F.col("hops").alias("_h"),
        )
        m = (
            m.join(nxt, m["dst"] == nxt["_s"], "left")
            .select(
                "src",
                F.coalesce("_d", "dst").alias("dst"),
                (F.col("hops") + F.coalesce("_h", F.lit(0))).alias("hops"),
            )
            .localCheckpoint()
        )
    srcs = edges.select(F.col("src").alias("_redir"))
    return (
        m.join(srcs, m["dst"] == srcs["_redir"], "left")
        .select(
            F.col("src").alias("url"),
            F.col("dst").alias("final_url"),
            "hops",
            F.col("_redir").isNull().alias("resolved"),
        )
    )


def resolve_aliases(
    fetches: DataFrame,
    pages: DataFrame,
    url_col: str = "url",
    status_col: str = "status",
    location_col: str = "redirect_to",
    html_col: str = "html",
) -> DataFrame:
    """The full URL-alias resolution stack as ONE plan — the composition
    a search-engine canonicalizer actually runs: follow the redirect
    chain to its final fetch (pointer doubling, 32-hop cap), then take
    the final page's ``rel=canonical`` declaration as one extra step
    (one step, not a walk — canonical chains are deliberately not
    followed transitively, matching documented search-engine treatment;
    a mis-declared canonical chain otherwise aliases the whole site
    together). Composes :func:`redirect_edges` → :func:`resolve_redirects`
    → ``urltools.rel_canonical`` resolution, each individually certified
    elsewhere (cc_redirect_resolve, cc_canonical_dedup); this operator's
    oracle certifies the COMPOSITION.

    Returns one row per distinct fetched URL:
    ``(url, final_url, hops, resolved, effective_url)`` — effective_url
    is NULL when the redirect walk hit a cycle/cap (resolved = 0); a
    final page with no canonical declaration is its own effective URL.

    Scale shape: the redirect log is tiny next to the corpus (edges
    only from 3xx rows); the canonical map is page-corpus-sized, so it
    joins the resolved frame on the slim final_url key — an equi-join
    of (url, url) rows, never a broadcast of the corpus. Page HTML
    stays in the extraction projection; it never crosses the join."""
    from ..functions import urltools as U

    edges = redirect_edges(fetches, url_col, status_col, location_col)
    res = resolve_redirects(edges)
    allu = fetches.select(F.col(url_col).alias("url")).distinct()
    base = allu.join(res, "url", "left").select(
        "url",
        F.coalesce("final_url", F.col("url")).alias("final_url"),
        F.coalesce("hops", F.lit(0)).cast("long").alias("hops"),
        F.coalesce("resolved", F.lit(True)).alias("_resolved"),
    )
    canon = pages.select(
        F.col(url_col).alias("_curl"),
        F.coalesce(
            U.resolve_url(F.col(url_col), U.rel_canonical(F.col(html_col))),
            F.col(url_col),
        ).alias("_ctarget"),
    )
    return (
        base.join(canon, base["final_url"] == canon["_curl"], "left")
        .select(
            "url",
            "final_url",
            "hops",
            F.col("_resolved").cast("int").alias("resolved"),
            F.when(
                F.col("_resolved"),
                F.coalesce(F.col("_ctarget"), F.col("final_url")),
            ).alias("effective_url"),
        )
    )
