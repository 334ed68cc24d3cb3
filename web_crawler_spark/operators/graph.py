"""Host-graph analytics over the committed ``outlinks`` table — the crawl
planner's prioritization signals (which hosts to budget next epoch).

The reference has no graph ops (its frontier is depth-1, SURVEY §2.2 note);
these generalize the outlink expansion the north rule adds. Everything is
DataFrame algebra: edge aggregation is one shuffle, and the iterative
operators share private loop kernels, each cutting lineage with
``localCheckpoint`` (without it the plan doubles per round and the driver
OOMs on plan strings long before data). No round loop returns to the
driver: ``_power_iterate`` (pagerank, trustrank, pagerank_residuals) and
hits take each round's 1-row total (the flowed mass, the L1 normaliser)
as a broadcast cross join of an aggregate of that round's per-node frame,
and every node enters that frame through a ``0.0`` row, so no join back
onto the node set is needed. ``_power_iterate`` checkpoints the ranks
every third round and on the last (every round for the residuals); hits
checkpoints each normalized half-step, salsa each chain's two-step walk.
``_hll_balls`` (hyperball, neighborhood_function) checkpoints the
register frame every round. ``_bfs_layers`` (seed_distance,
seed_attribution) checkpoints each fresh layer eagerly, since its
``count()`` is the stop test, and the assigned set after each union.

At 100 TB the host graph is tiny relative to the corpus (~10^7 hosts), so
iterations run on an aggregated edge list that fits comfortably in one
shuffle stage; ranks broadcast back against the frontier for scheduling.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Window, functions as F

from ..functions import urltools as U


def _weighted_edges(
    edges: DataFrame, src_col: str, dst_col: str, weight_col: str | None
) -> DataFrame:
    """``(src, dst, w)`` with ``w`` the double edge weight (1.0 unweighted)."""
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    return edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        w.cast("double").alias("w"),
    )


def _node_set(e: DataFrame) -> tuple[DataFrame, int]:
    """Distinct ``src ∪ dst`` of an edge frame as ``(node)``, checkpointed,
    and its row count, observed on the checkpoint's own job."""
    counted = Observation()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .observe(counted, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    return nodes, counted.get["n"]


def _with_total(per_node: DataFrame, col: str, total: str) -> DataFrame:
    """``per_node`` with one more column ``total = Σ col``: a 1-row
    aggregate broadcast back by a cross join, so the total never leaves
    the plan (a driver collect would cost a job per round)."""
    return per_node.crossJoin(
        F.broadcast(per_node.agg(F.sum(col).alias(total)))
    )


def _transitions(e: DataFrame, by: str, name: str) -> DataFrame:
    """``(src, dst, name)`` with ``name = w / Σw`` over the edges that share
    endpoint ``by``: one random-walk step's probability, checkpointed."""
    total = e.groupBy(by).agg(F.sum("w").alias("total"))
    return e.join(total, by).select(
        "src", "dst", (F.col("w") / F.col("total")).alias(name)
    ).localCheckpoint()


def _power_iterate(
    e: DataFrame,
    start: DataFrame,
    update: Callable[[Column, Column], Column],
    iterations: int,
    every: int = 3,
) -> list[DataFrame]:
    """Weighted power iteration over ``(src, dst, w)``; returns the iterates
    ``[r_0, …, r_iterations]``, each ``(node, rank)`` (``r_0`` is ``start``).

    ``start`` is the start vector ``(node, rank, …)`` over every node; its
    other columns stay readable by ``update``. Each round every node enters
    one per-node ``groupBy`` with a ``0.0`` row that carries those columns,
    next to the edge rows ``p·rank`` over the transitions ``p = w /
    out_w(src)``, so ``inflow`` is the per-node inflow (0 without in-edges)
    with no join back onto the node set. The new rank is ``update(inflow,
    flowed)``, where ``flowed`` is the column holding the round's total
    inflow, i.e. what went through edges, so the caller derives the
    dangling mass. No round runs a job of its own: the ranks are
    checkpointed every ``every`` rounds and on the last.
    """
    trans = _transitions(e, "src", "p")
    extra = [c for c in start.columns if c not in ("node", "rank")]
    zeros = start.select("node", F.lit(0.0).alias("c"), *extra)
    iterates = [start]
    for i in range(iterations):
        flows = trans.join(
            iterates[-1].select(F.col("node").alias("src"), "rank"), "src"
        ).select(F.col("dst").alias("node"), (F.col("p") * F.col("rank")).alias("c"))
        inflow = (
            zeros.unionByName(flows, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"), *(F.max(c).alias(c) for c in extra))
        )
        ranks = _with_total(inflow, "inflow", "flowed").select(
            "node", update(F.col("inflow"), F.col("flowed")).alias("rank")
        )
        if (i + 1) % every == 0 or i == iterations - 1:
            ranks = ranks.localCheckpoint()  # cut the iterative lineage
        iterates.append(ranks)
    return iterates


def _pagerank_iterates(
    edges: DataFrame,
    iterations: int,
    damping: float,
    src_col: str,
    dst_col: str,
    weight_col: str | None,
    every: int = 3,
) -> list[DataFrame]:
    """PageRank iterates ``[r_0, …]`` as ``(node, rank)`` with uniform
    teleport; an empty edge set yields only an empty ``r_0`` (no nodes, no
    ranks, no dangling/n_nodes 0-div)."""
    e = _weighted_edges(edges, src_col, dst_col, weight_col)
    nodes, n_nodes = _node_set(e)
    if n_nodes == 0:
        return [nodes.select("node", F.lit(0.0).alias("rank"))]
    n = F.lit(float(n_nodes))

    def update(inflow: Column, flowed: Column) -> Column:
        # dangling mass = total rank (n_nodes) minus what flowed through edges
        dangling = n - flowed
        base = F.lit(1.0 - damping) + F.lit(damping) * dangling / n
        return base + F.lit(damping) * inflow

    return _power_iterate(
        e, nodes.select("node", F.lit(1.0).alias("rank")), update,
        iterations, every,
    )


def _spread(
    t: DataFrame,
    scores: DataFrame,
    frm: str,
    to: str,
    weight: str,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """One spread step: each ``frm`` endpoint of ``t`` sends ``weight·val``
    along its edge; returns ``(node, val)`` summed per ``to`` endpoint.
    With ``nodes``, every node also sends itself ``0.0``, so each of them
    gets a row (``val`` 0 when nothing reaches it)."""
    flows = t.join(scores.select(F.col("node").alias(frm), "val"), frm).select(
        F.col(to).alias("node"), (F.col(weight) * F.col("val")).alias("val")
    )
    if nodes is not None:
        flows = nodes.select("node", F.lit(0.0).alias("val")).unionByName(flows)
    return flows.groupBy("node").agg(F.sum("val").alias("val"))


def _hll_balls(
    edges: DataFrame, rounds: int, p: int, src_col: str, dst_col: str
) -> tuple[DataFrame, list[DataFrame]]:
    """HyperLogLog ball growth along in-edges: returns ``(nodes, [est_0, …,
    est_rounds])`` where ``est_r`` is ``(node, distinct_est)``, the
    estimate of ``|B(v, r)|`` over the distinct non-self-loop edges.

    Round r is ``c_v^r = register-max(c_v^{r-1}, c_u^{r-1} for u→v)``:
    one join of the slim register frame (≤2^p rows per node) with the
    edge list and one register-max groupBy. Every ``est_r`` reads a
    checkpointed register frame, so its lineage stays one round deep.
    """
    from .sketches import _hll_fields, hll_estimate

    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst")))
        .distinct()
        .localCheckpoint()
    )
    nodes, _ = _node_set(e)
    bucket, rho = _hll_fields(F.col("node").cast("string"), p)
    regs = nodes.select("node", bucket, rho).localCheckpoint()
    ests = [hll_estimate(regs, p=p, group_cols=("node",))]
    for _ in range(rounds):
        contribs = (
            e.join(regs.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), "bucket", "rho")
        )
        regs = (
            regs.unionByName(contribs)
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint()
        )
        ests.append(hll_estimate(regs, p=p, group_cols=("node",)))
    return nodes, ests


def _bfs_layers(
    edges: DataFrame,
    start: DataFrame,
    expand: Callable[[DataFrame], DataFrame],
    max_depth: int,
    src_col: str,
    dst_col: str,
) -> DataFrame:
    """Layered BFS with frontier-only expansion from ``start`` (the depth-0
    ``(node, depth, …)`` rows); returns every node reached within
    ``max_depth`` hops at its first-discovery depth.

    Round d joins only the previous layer against the distinct edge list;
    ``expand`` maps those out-edges ``(src, dst, …frontier labels)`` to the
    ``(node, …labels)`` rows they reach. Nodes already assigned are
    anti-joined away, and an empty layer ends the loop early.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().localCheckpoint()
    done = frontier = start.localCheckpoint()
    for d in range(1, max_depth + 1):
        reached = expand(
            e.join(frontier.drop("depth").withColumnRenamed("node", "src"), "src")
        )
        fresh = (
            reached.join(done.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if fresh.count() == 0:
            break
        done = done.unionByName(fresh).localCheckpoint()
        frontier = fresh
    return done


def host_graph(
    outlinks: DataFrame,
    from_col: str = "from_url",
    to_col: str = "resolved_url",
) -> DataFrame:
    """(src_host, dst_host, n_links) edge list; self-loops dropped."""
    src = U.url_host(F.col(from_col))
    dst = U.url_host(F.col(to_col))
    return (
        outlinks.select(src.alias("src_host"), dst.alias("dst_host"))
        .filter(
            F.col("src_host").isNotNull()
            & F.col("dst_host").isNotNull()
            & (F.col("src_host") != F.col("dst_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = "n_links",
) -> DataFrame:
    """Weighted PageRank with uniform teleport over the node set.

    Dangling mass (nodes with no out-edges) is redistributed uniformly each
    iteration so the ranks keep summing to n_nodes (the power-iteration
    invariant); returns (node, rank) with rank rounded to 6 decimals.
    """
    ranks = _pagerank_iterates(
        edges, iterations, damping, src_col, dst_col, weight_col
    )[-1]
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def anchor_text_summary(
    anchors: DataFrame,
    target_col: str = "resolved_url",
    anchor_col: str = "anchor",
    source_col: str = "from_url",
) -> DataFrame:
    """Per-target anchor-text aggregation — the classic search-index /
    link-graph signal: what *other* pages call a URL (anchor text is often
    a better document title than the document's own ``<title>``, and the
    in-link host fan-in is a spam/authority feature).

    Input is the resolved outlink table with anchor text (the
    ``(href, anchor)`` pairs ``plans/extract.parse_html`` collects, through
    ``resolve_links``). Anchor text is
    normalized (lowercase, whitespace collapsed); rows with empty anchors
    (image links, icon links) are dropped before aggregation.

    Returns one row per target URL:
    ``(target, n_links, n_hosts, n_anchors, top_anchor, top_anchor_count)``
    where ``top_anchor`` is the most frequent normalized anchor with a
    deterministic lexicographic tie-break (min over ``(-cnt, anchor)`` —
    a plain struct-min aggregate, no window).

    Scale shape: two hash aggregations and one distinct-count, all keyed
    (or re-keyed) on ``target`` — partial map-side combine everywhere, no
    window over the raw edge set, no collect_list of anchors. At 10^11
    edges the (target, anchor) pre-aggregation shrinks the second shuffle
    to ~unique anchor phrases per target (bounded by vocabulary, not
    in-degree), and hot targets (a nav-bar link on every page of a big
    host) stay one-combiner-row per distinct phrase.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(anchor_col))), r"\s+", " ")
    a = anchors.select(
        F.col(target_col).alias("target"),
        norm.alias("anchor"),
        U.url_host(F.col(source_col)).alias("src_host"),
    ).filter(
        F.col("target").isNotNull() & (F.col("anchor") != F.lit(""))
    )
    per_anchor = a.groupBy("target", "anchor").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = (
        per_anchor.groupBy("target")
        .agg(
            F.sum("cnt").alias("n_links"),
            F.count(F.lit(1)).alias("n_anchors"),
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("anchor").alias("anchor"),
                )
            ).alias("_top"),
        )
        .select(
            "target",
            "n_links",
            "n_anchors",
            F.col("_top.anchor").alias("top_anchor"),
            (-F.col("_top.neg_cnt")).alias("top_anchor_count"),
        )
    )
    hosts = a.groupBy("target").agg(
        F.count_distinct("src_host").alias("n_hosts")
    )
    return top.join(hosts, "target").select(
        "target",
        "n_links",
        "n_hosts",
        "n_anchors",
        "top_anchor",
        "top_anchor_count",
    )


def hits(
    edges: DataFrame,
    iterations: int = 10,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = "n_links",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the host graph — the
    complement of :func:`pagerank` in crawl prioritization: authorities
    are content worth fetching, hubs are link pages worth re-crawling for
    discovery.

    Power iteration with L1 normalization after each half-step (sum-to-1:
    avoids the sqrt of the textbook L2 while keeping the same fixpoint
    direction; declared in the oracle). Per half-step: one spread on the
    aggregated host edge list (tiny next to the corpus — same scale
    argument as pagerank) in which every node also sends itself ``0.0``,
    and the 1-row total of that frame broadcast back as the divisor, so a
    half-step is one checkpoint and no driver round-trip. Returns (node,
    hub, authority) rounded to 6 decimals for every node; nodes without
    in-edges get authority 0, without out-edges hub 0.
    """
    e = _weighted_edges(edges, src_col, dst_col, weight_col).localCheckpoint()
    nodes, n_nodes = _node_set(e)
    if n_nodes == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )

    def _half(scores: DataFrame, frm: str, to: str) -> DataFrame:
        raw = _spread(e, scores, frm, to, "w", nodes)
        total = F.col("total")
        return _with_total(raw, "val", "total").select(
            "node",
            # a zero total divides by 1 (no mass anywhere stays 0)
            (F.col("val") / F.when(total != 0.0, total).otherwise(F.lit(1.0)))
            .alias("val"),
        ).localCheckpoint()

    a = h = nodes.select("node", F.lit(1.0).alias("val"))
    for _ in range(iterations):
        a = _half(h, "src", "dst")    # authority from in-link hubs
        h = _half(a, "dst", "src")    # hub from out-link authorities
    return (
        h.select("node", F.round("val", 6).alias("hub"))
        .join(
            a.select("node", F.round("val", 6).alias("authority")), "node"
        )
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = "n_links",
    seed_col: str = "node",
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004, public paper):
    PageRank with the teleport vector restricted to a trusted seed set —
    the link-spam demotion signal a crawl frontier uses to deprioritize
    farms that inflate raw in-link counts.

    Algebra: ``r0 = s``; ``r_{k+1} = (1-d)·s + d·(Mᵀ r_k + dangling·s)``
    where ``s`` is uniform over the seeds (Σs = 1) and dangling mass also
    teleports through ``s`` (total trust stays 1 every round — spam nodes
    reachable only via non-seed paths decay geometrically). Seeds not
    present in the graph are ignored; an empty effective seed set returns
    zero trust everywhere (nothing to propagate — explicit, not a 0-div).

    Same power iteration and shuffle shape as ``pagerank``; only the
    start vector and the update differ. Returns (node, trust) rounded to
    6 decimals.
    """
    e = _weighted_edges(edges, src_col, dst_col, weight_col)
    nodes, _ = _node_set(e)
    seed_nodes = (
        seeds.select(F.col(seed_col).alias("node")).distinct()
        .join(nodes, "node")
        .localCheckpoint()
    )
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        return nodes.select("node", F.lit(0.0).alias("trust"))
    s_vec = nodes.join(
        seed_nodes.withColumn("s", F.lit(1.0 / n_seeds)), "node", "left"
    ).select("node", F.coalesce(F.col("s"), F.lit(0.0)).alias("s")).localCheckpoint()

    def update(inflow: Column, flowed: Column) -> Column:
        dangling = F.lit(1.0) - flowed  # total trust is the invariant Σr = 1
        s = F.col("s")
        return F.lit(1.0 - damping) * s + F.lit(damping) * (
            inflow + dangling * s
        )

    ranks = _power_iterate(
        e, s_vec.select("node", "s", F.col("s").alias("rank")), update,
        iterations,
    )[-1]
    return ranks.select("node", F.round("rank", 6).alias("trust"))


def opic_update(
    cash: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    cash_col: str = "cash",
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """One OPIC round (Abiteboul, Preda & Cobena 2003, "Adaptive On-Line
    Page Importance Computation", public paper): every node distributes
    its current cash across its out-edges (weight-proportional), banks
    what it distributed into ``history``, and nodes with no out-edges
    (dangling) redistribute uniformly over all nodes — the crawl-native
    importance signal: no convergence wait, each crawl epoch runs exactly
    one update and prioritizes by ``history + cash``.

    Edges are weighted by their ``n_links`` column; ``cash`` carries the
    banked ``history`` from the previous round when it has that column
    (a first round starts from 0).

    Returns (node, cash, history, priority). Σcash is conserved every
    round (the OPIC invariant). Plan: one broadcast-size out-weight agg,
    one slim join + keyed agg per round — the same shuffle shape as one
    pagerank iteration, but run once per epoch rather than to a fixed
    point.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        F.col("n_links").cast("double").alias("w"),
    )
    c = cash.select(
        F.col(node_col).alias("node"),
        F.col(cash_col).cast("double").alias("cash"),
        (F.col("history").cast("double") if "history" in cash.columns
         else F.lit(0.0)).alias("history"),
    ).localCheckpoint()
    n_nodes = c.count()
    if n_nodes == 0:
        return c.select("node", "cash", "history",
                        F.lit(0.0).alias("priority"))
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    trans = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
    )
    inflow = (
        trans.join(c.withColumnRenamed("node", "src"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("p") * F.col("cash")).alias("inflow"))
    )
    # dangling cash = cash held by nodes with no out-edges
    dangling = (
        c.join(out_w.select(F.col("src").alias("node")), "node", "left_anti")
        .agg(F.sum("cash").alias("d")).collect()[0]["d"] or 0.0
    )
    share = dangling / n_nodes
    return (
        c.join(inflow.withColumnRenamed("dst", "node"), "node", "left")
        .select(
            "node",
            (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(share))
            .alias("cash"),
            (F.col("history") + F.col("cash")).alias("history"),
            (F.col("history") + F.col("cash")
             + F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(share))
            .alias("priority"),
        )
    )


def hyperball(
    edges: DataFrame,
    rounds: int = 6,
    p: int = 6,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013, "In-core computation of geometric
    centralities with HyperBall", public paper) — HARMONIC CENTRALITY and
    the neighbourhood function via per-node HyperLogLog counters, the
    algorithm Common Crawl's published domain-rank datasets use for their
    harmonic-centrality column.

    Exact all-pairs distances are hopeless at web scale (10^7+ hosts ⇒
    10^14 pairs); HyperBall replaces each node's ball ``B(v,r) = {u :
    d(u→v) ≤ r}`` with an HLL sketch. Round r's update is pure register
    algebra along the edges:

        c_v^r = register-max( c_v^{r-1},  c_u^{r-1} for every edge u→v )

    so ``|B(v,r)|`` is estimable per round, and harmonic centrality
    accumulates the shell estimates ``H(v) = Σ_r (|B(v,r)|−|B(v,r−1)|)/r``
    (balls grow along IN-edges: u→v contributes u into v's ball, the
    in-distance convention harmonic centrality is defined over).

    Per round the register-max shuffles O(E·2^p) register rows,
    independent of corpus size. Register addressing is the md5 scheme of
    ``operators/sketches.hll_sketch``, the per-node register sum is
    powers-of-two exact in IEEE doubles, and every round's estimate is
    rounded to 6 decimals BEFORE the harmonic accumulation — so the whole
    iteration (registers, ball estimates, shell deltas, harmonic sums)
    replays value-for-value in the DuckDB oracle, like the pagerank /
    trustrank / HITS unrolled-CTE twins.

    Returns (node, ball_est, harmonic): ``ball_est`` = estimated number of
    nodes within ``rounds`` hops (the per-node neighbourhood function /
    ANF reading), ``harmonic`` = harmonic centrality truncated at
    ``rounds`` (exact once rounds ≥ diameter; a declared radius cut
    otherwise, which is how production HyperBall runs terminate too).
    Shell deltas are clamped at ≥0 (estimator regime switches can wiggle
    a hair negative; the clamp is replayed in the oracle).
    """
    nodes, ests = _hll_balls(edges, rounds, p, src_col, dst_col)
    # state is consumed once per round and every est_r reads a CHECKPOINTED
    # register frame, so its lineage stays shallow (one join per round) — no
    # per-round state checkpoint; the whole estimate/accumulate chain
    # collapses into the single final action instead of a job per round
    state = nodes.join(ests[0], "node").select(
        "node",
        F.col("distinct_est").alias("ball"),
        F.lit(0.0).alias("harmonic"),
    )
    for r, est in enumerate(ests[1:], 1):
        state = (
            state.join(est, "node")
            .select(
                "node",
                F.col("distinct_est").alias("ball"),
                (
                    F.col("harmonic")
                    + F.greatest(
                        F.lit(0.0), F.col("distinct_est") - F.col("ball")
                    ) / F.lit(float(r))
                ).alias("harmonic"),
            )
        )
    return state.select(
        "node",
        F.round("ball", 6).alias("ball_est"),
        F.round("harmonic", 6).alias("harmonic"),
    )


def kcore(
    edges: DataFrame,
    rounds: int = 8,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Distributed k-core decomposition (Montresor, De Pellegrini &
    Miorandi 2011, "Distributed k-core decomposition", public paper):
    per-node CORENESS — the largest k such that the node survives in the
    subgraph where everyone keeps ≥ k neighbors. The web-graph cohesion
    signal PageRank misses: link farms are dense cores with high
    coreness and low trust; genuinely popular hubs have high rank and
    modest coreness.

    Algorithm: c(v) starts at degree(v); each round
    ``c(v) ← min(c(v), H-index of neighbors' c)`` — monotone
    non-increasing and convergent to the exact coreness. The H-index is
    computed WITHOUT per-node arrays: rank neighbors by c descending
    (one window, hash-partitioned on the node — no collect_list, so a
    10^6-degree hub costs a partition sort, not a driver-sized array),
    then ``h = max(min(c_nb, rank))``. Each round is one slim join + one
    window + one agg over the aggregated edge list, lineage-checkpointed.

    ``rounds`` is a fixed budget (the oracle unrolls it); convergence is
    typically a handful of rounds on web graphs. Undirected semantics:
    edges are symmetrized and deduped first (k-core is defined on the
    undirected graph). Returns (node, degree, coreness).
    """
    und = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull()
                & (F.col("u") != F.col("v")))
    )
    sym = (
        und.unionByName(und.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    ).localCheckpoint()
    c = deg.select("node", F.col("degree").cast("long").alias("c"))

    w = Window.partitionBy("node").orderBy(F.desc("c_nb"), "nb")
    for _ in range(rounds):
        nb = sym.join(
            c.select(F.col("node").alias("_v"), F.col("c").alias("c_nb")),
            sym["v"] == F.col("_v"),
        ).select(F.col("u").alias("node"), F.col("v").alias("nb"), "c_nb")
        h = (
            nb.withColumn("_rk", F.row_number().over(w))
            .groupBy("node")
            .agg(F.max(F.least(F.col("c_nb"),
                               F.col("_rk").cast("long"))).alias("h"))
        )
        c = (
            c.join(h, "node", "left")
            .select(
                "node",
                F.least(F.col("c"),
                        F.coalesce(F.col("h"), F.lit(0))).alias("c"),
            )
            .localCheckpoint()
        )
    return deg.join(c, "node").select(
        "node", "degree", F.col("c").alias("coreness")
    )


def triangles(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient (the
    classic MapReduce formulation — Cohen 2009, "Graph twiddling in a
    MapReduce world", public paper; Suri & Vassilvitskii's node-ordering
    refinement): the cohesion feature that separates organically-linked
    hosts (high clustering) from link farms' bipartite blast patterns
    (many edges, no closure) — a standard web-spam input alongside
    TrustRank and coreness.

    Scale shape: edges are oriented from the (degree, node)-smaller
    endpoint to the larger, so every wedge is generated at its LOWEST
    degree vertex — the join fan-out is O(E^{3/2}) total instead of
    Σdeg² (a 10^6-degree hub generates no wedges unless both endpoints
    are even higher-ranked, the standard bound). One self-join on the
    wedge pivot + one closure join against the oriented edge list + one
    explode/count — no iteration. Returns
    ``(node, degree, triangles, clustering)`` with
    ``clustering = 2·T / (d·(d−1))`` (0 when d < 2), rounded to 6dp.
    Undirected semantics: edges symmetrized + deduped first.
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()
    )
    # orient each edge from the (degree, node)-smaller endpoint: the
    # wedge pivot is always the locally cheapest vertex
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    lo_first = F.struct(F.col("da"), F.col("a")) < F.struct(
        F.col("db"), F.col("b")
    )
    oriented = keyed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.struct("da", "a"))
        .otherwise(F.struct(F.col("db").alias("da"), F.col("b").alias("a")))
        .alias("_uk"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lo_first, F.struct(F.col("db").alias("da"), F.col("b").alias("a")))
        .otherwise(F.struct("da", "a"))
        .alias("_vk"),
    ).localCheckpoint()
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("_vk").alias("k1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("_vk").alias("k2"))
    wedges = (
        e1.join(e2, "u")
        .filter(F.col("k1") < F.col("k2"))
        .select("u", "v1", "v2")
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedges.join(closing, ["v1", "v2"]).localCheckpoint()
    per_node = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 5,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = "n_links",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007, public paper) over the undirected weighted
    host graph — the topical/link-neighborhood clusters that connected
    components (which need any path) and k-core (which needs density)
    both miss: a community is where a node's neighbors AGREE.

    Each round every node adopts the label with the maximum total
    incident edge weight among its neighbors' current labels; ties break
    to the smallest label, and the whole update is synchronous — so the
    result is a pure function of the graph (re-run- and engine-stable,
    no RNG, unlike the asynchronous textbook variant), at the known cost
    that bipartite-ish regions can oscillate rather than converge; run a
    fixed even ``rounds`` and read the labels as "round-r communities"
    (the oracle unrolls the same rounds). Per round: one slim join on
    the symmetrized edge list + one (node, label) weight agg + one
    deterministic argmax via struct-min — all keyed shuffles,
    lineage-checkpointed. Returns (node, label).
    """
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("double")
    und = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v"), w.alias("w")
    ).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
        & (F.col("u") != F.col("v"))
    )
    sym = (
        und.unionByName(
            und.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint()
    )
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint()

    for _ in range(rounds):
        nb = sym.join(
            labels.select(F.col("node").alias("v"), "label"), "v"
        ).select(F.col("u").alias("node"), "label", "w")
        votes = nb.groupBy("node", "label").agg(F.sum("w").alias("wt"))
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("wt")).alias("neg"),
                        F.col("label").alias("label"),
                    )
                ).alias("_top")
            )
            .select("node", F.col("_top.label").alias("label"))
            .localCheckpoint()
        )
    return labels


def domain_graph(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str = "n_links",
) -> DataFrame:
    """Collapse a host-level edge list to the REGISTRABLE-DOMAIN graph
    (eTLD+1, functions/psl.py) — the granularity Common Crawl publishes
    its domain-level ranks at, and the right one for crawl budgeting:
    vhosts (www./api./apex) merge into one node, intra-site links become
    self-loops and are dropped, while private-suffix subdomains
    (``a.blogspot.com`` vs ``b.blogspot.com``) correctly stay separate
    nodes. A "last two labels" collapse gets both cases wrong.

    Hosts whose registrable domain is NULL (the host IS a public suffix)
    keep themselves as the node. Plan: 2 × max_labels broadcast PSL
    probes (zero shuffles) + the one inherent re-aggregation shuffle on
    (src_site, dst_site). Returns (src_site, dst_site, n_links) with
    parallel vhost edges merged (weights summed).
    """
    from ..functions import psl as _psl

    # one materialization feeds both endpoints' 6 broadcast probes
    rules = _psl.psl_rules_df(edges.sparkSession).localCheckpoint(eager=True)
    sited = _psl.with_registrable_domain(
        edges, host_col=src_col, rules=rules, out_col="__src_site", suffix_col=None
    )
    sited = _psl.with_registrable_domain(
        sited, host_col=dst_col, rules=rules, out_col="__dst_site", suffix_col=None
    )
    return (
        sited.select(
            F.coalesce(F.col("__src_site"), F.col(src_col)).alias("src_site"),
            F.coalesce(F.col("__dst_site"), F.col(dst_col)).alias("dst_site"),
            F.col(weight_col).alias("__w"),
        )
        .filter(F.col("src_site") != F.col("dst_site"))
        .groupBy("src_site", "dst_site")
        .agg(F.sum("__w").alias(weight_col))
    )


def spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = "n_links",
    seed_col: str = "node",
) -> DataFrame:
    """Spam mass (Gyöngyi, Garcia-Molina & Pedersen 2006, "Link spam
    detection based on mass estimation"): the fraction of a node's
    PageRank that does NOT flow from a trusted core. With p = PR/n (the
    unit-normalized PageRank) and p' = the core's PageRank contribution —
    TrustRank with teleport uniform over k seeds, rescaled by k/n so the
    seed teleport weight matches PageRank's 1/n per node —

        mass     = p − p'            = (rank − trust·k) / n
        rel_mass = 1 − trust·k/rank  (the paper's relative mass m̂)

    rel_mass ≈ 1 flags link farms: rank earned, none of it reachable from
    the trusted core. rel_mass ≤ 0 marks nodes whose core-derived flow
    meets or exceeds their total rank (seeds themselves, core-adjacent).

    Composition of the two certified power iterations — both already
    lineage-checkpointed, slim-keyed, and rounded; this adds one id-keyed
    join and pure column algebra on their (node, double) outputs, so the
    scale story is exactly pagerank's + trustrank's. Both ratios are
    taken in integer micro-units of the 6-dp inputs, ``rank_u − k·trust_u``
    over ``n`` (or over ``rank_u``, scaled by 10⁶), and rounded to a whole
    micro-unit: an exact integer over an integer sits on a half-micro
    boundary only when it is exactly representable, so every engine rounds
    it the same way (a float ``round(x, 6)`` of a raw quotient does not).
    Returns (node, rank, trust, mass, rel_mass), the last two at 6 dp.
    """
    pr = pagerank(edges, iterations, damping, src_col, dst_col, weight_col)
    tr = trustrank(
        edges, seeds, iterations, damping, src_col, dst_col, weight_col,
        seed_col,
    )
    pr = pr.localCheckpoint(eager=True)
    n = pr.count()
    if n == 0:
        return pr.select(
            "node", "rank", F.lit(0.0).alias("trust"),
            F.lit(0.0).alias("mass"), F.lit(None).cast("double").alias("rel_mass"),
        )
    k = (
        seeds.select(F.col(seed_col).alias("node")).distinct()
        .join(pr.select("node"), "node")
        .count()
    )

    def micro(c: Column) -> Column:
        return F.round(c * 1e6).cast("long")

    def to_6dp(ratio: Column) -> Column:
        return F.round(ratio).cast("long") / 1e6

    rank_u = micro(F.col("rank"))
    untrusted_u = rank_u - micro(F.col("trust")) * k
    return pr.join(tr, "node").select(
        "node",
        "rank",
        "trust",
        to_6dp(untrusted_u / float(n)).alias("mass"),
        F.when(
            rank_u > 0, to_6dp(untrusted_u * 1e6 / rank_u)
        ).alias("rel_mass"),
    )


def salsa(
    edges: DataFrame,
    iterations: int = 10,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = "n_links",
) -> DataFrame:
    """SALSA hubs & authorities (Lempel & Moran 2001, "SALSA: The
    Stochastic Approach for Link-Structure Analysis", public paper) — the
    random-walk sibling of :func:`hits`: scores are stationary masses of
    two-step walks on the bipartite hub/authority view, so unlike HITS a
    single dense community cannot monopolize the ranking (the TKDC
    tightly-knit-community effect the paper demonstrates; this is why
    production link analysis at scale favored SALSA over HITS).

    Authority chain: from authority ``j`` step BACKWARD to a hub ``i``
    with probability ``w_ij / in_w(j)``, then FORWARD to an authority
    ``j'`` with probability ``w_ij' / out_w(i)``. The hub chain is the
    mirror image. Both steps are stochastic, so chain mass is conserved
    every round — no renormalization (and no 1-row total per half-step
    like HITS needs): the whole iteration is pure join+agg algebra, which
    keeps the oracle unroll exact.

    Plan: the two normalized transition tables are built once (two keyed
    aggs + two joins on the aggregated host edge list, tiny next to the
    corpus — same scale argument as :func:`pagerank`); each iteration is
    two slim spread half-steps per chain. Returns (node, hub, authority)
    rounded to 6 decimals for every node; nodes without in-edges have
    authority 0, without out-edges hub 0.
    """
    e = _weighted_edges(edges, src_col, dst_col, weight_col).localCheckpoint()
    nodes, n_nodes = _node_set(e)
    if n_nodes == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    # backward transition (authority j -> hub i): p_b = w_ij / in_w(j)
    bt = _transitions(e, "dst", "pb")
    # forward transition (hub i -> authority j): p_f = w_ij / out_w(i)
    ft = _transitions(e, "src", "pf")

    auths = e.select(F.col("dst").alias("node")).distinct().localCheckpoint()
    hubs = e.select(F.col("src").alias("node")).distinct().localCheckpoint()
    n_a, n_h = auths.count(), hubs.count()
    a = auths.select("node", F.lit(1.0 / n_a).alias("val"))
    h = hubs.select("node", F.lit(1.0 / n_h).alias("val"))
    for _ in range(iterations):
        # authority chain: backward to hubs, forward to authorities
        am = _spread(bt, a, "dst", "src", "pb")
        a = _spread(ft, am, "src", "dst", "pf").localCheckpoint()
        # hub chain: forward to authorities, backward to hubs
        hm = _spread(ft, h, "src", "dst", "pf")
        h = _spread(bt, hm, "dst", "src", "pb").localCheckpoint()
    return (
        nodes.join(h.withColumnRenamed("val", "hv"), "node", "left")
        .join(a.withColumnRenamed("val", "av"), "node", "left")
        .select(
            "node",
            F.round(F.coalesce("hv", F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce("av", F.lit(0.0)), 6).alias("authority"),
        )
    )


def seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 8,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    seed_col: str = "node",
) -> DataFrame:
    """Minimum hop distance from the seed set — the BFS layer assignment
    of the reference's crawl ordering (BASELINE north star: "BFS-with-
    priority crawl ordering"; every production crawler caps frontier
    admission by depth-from-seed, so the depth table IS the gate).

    Frontier-only expansion makes total work Σ out-edges of each node
    exactly once — the textbook BFS invariant, not rounds × |E|. Every
    shuffled row is a slim ``(node, depth)`` pair; an empty layer before
    ``max_depth`` means the crawl closure is complete. First discovery is
    minimum depth by the BFS invariant, so no min-agg over rounds is
    needed.

    Returns (node, depth) for every node reachable within ``max_depth``
    hops (seeds at depth 0). Unreachable nodes are absent by design —
    a crawl gate anti-joins the frontier against this table.
    """
    start = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0))
    )
    return _bfs_layers(
        edges, start,
        lambda out: out.select(F.col("dst").alias("node")).distinct(),
        max_depth, src_col, dst_col,
    )


def related_hosts(
    edges: DataFrame,
    mode: str = "cocitation",
    max_degree: int = 64,
    min_shared: int = 2,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Link-structure related-host pairs (Dean & Henzinger, WWW 1999
    "Finding related pages in the World Wide Web"): two hosts are related
    when many third parties treat them alike.

    ``mode="cocitation"`` pairs hosts that share in-linkers (host_a and
    host_b are both linked FROM the same keys) — the paper's co-citation
    signal; ``mode="coupling"`` pairs hosts that share out-link targets
    (bibliographic coupling — Kessler 1963), the "mirrors/aggregators cite
    the same things" complement. Output is
    (host_a, host_b, shared, deg_a, deg_b, jaccard_milli) with
    host_a < host_b, shared ≥ ``min_shared`` and
    jaccard_milli = ⌊1000·|A∩B| / |A∪B|⌋ over the key sets — all exact
    integer arithmetic.

    Scale shape: edges are first collapsed to DISTINCT (key, item) rows;
    keys with more than ``max_degree`` items are dropped BEFORE the
    self-join (the Dean-Henzinger hub exclusion — a directory page linking
    thousands of hosts co-cites everything and says nothing, and the
    per-key join fanout is otherwise quadratic in the hub degree). With the
    cap, per-key fanout is ≤ C(max_degree, 2), every shuffled row is a slim
    host-string pair, and set degrees for the Jaccard denominator are
    computed over the SAME capped key set so shared ≤ min(deg_a, deg_b)
    holds by construction. No cross join anywhere.
    """
    if mode == "cocitation":
        key, item = src_col, dst_col
    elif mode == "coupling":
        key, item = dst_col, src_col
    else:  # pragma: no cover - guarded API misuse
        raise ValueError(f"mode must be cocitation|coupling, got {mode!r}")
    ke = edges.select(F.col(key).alias("k"), F.col(item).alias("it")).distinct()
    kd = Window.partitionBy("k")
    ke = (
        ke.withColumn("_kd", F.count(F.lit(1)).over(kd))
        .filter(F.col("_kd") <= F.lit(max_degree))
        .drop("_kd")
    )
    a, b = ke.alias("a"), ke.alias("b")
    pairs = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.it") < F.col("b.it")))
        .groupBy(
            F.col("a.it").alias("host_a"), F.col("b.it").alias("host_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= F.lit(min_shared))
    )
    deg = ke.groupBy("it").agg(F.count(F.lit(1)).alias("d"))
    return (
        pairs.join(
            deg.select(F.col("it").alias("host_a"), F.col("d").alias("deg_a")),
            "host_a",
        )
        .join(
            deg.select(F.col("it").alias("host_b"), F.col("d").alias("deg_b")),
            "host_b",
        )
        .withColumn(
            "jaccard_milli",
            F.floor(
                F.lit(1000) * F.col("shared")
                / (F.col("deg_a") + F.col("deg_b") - F.col("shared"))
            ).cast("long"),
        )
        .select("host_a", "host_b", "shared", "deg_a", "deg_b", "jaccard_milli")
    )


def graph_summary(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """One-row structural summary of the host graph: reciprocity and
    degree assortativity — the two numbers that separate web graphs from
    social graphs in the measurement literature (web graphs: low
    reciprocity, disassortative; Newman, PRL 2002 "Assortative mixing in
    networks"; Serrano et al. 2007 on web-graph reciprocity).

    Returns (n_nodes, n_edges, recip_edges, reciprocity_milli,
    assortativity): edges are first collapsed to DISTINCT directed pairs
    with self-loops dropped; reciprocity_milli = ⌊1000·|{(u,v): (v,u)∈E}|
    / |E|⌋ (exact integers); assortativity is the Pearson correlation of
    endpoint degrees over the symmetrized edge list (both orientations,
    which makes it Newman's undirected formula), computed from five exact
    integer sums folded into ONE double expression — no accumulation-
    order dependence anywhere, so the number is a pure function of the
    graph. Rounded to 6dp (sqrt is IEEE correctly-rounded in both
    engines).

    Scale shape: distinct + one swapped-edge equi-join (slim host pairs)
    + one degree agg + one edge-degree join + a 1-row rollup. The host
    graph is ~10^7 rows at 100 TB corpus scale — every stage here is
    comfortable in one shuffle.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    # degree = in+out degree on the simple directed graph: the edge list
    # symmetrized by including both orientations (a reciprocal pair
    # contributes twice, documented semantics the oracle replays)
    und = e.select("src", "dst").unionAll(rev)
    udeg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ed = (
        und.join(udeg.select(F.col("node").alias("src"), F.col("d").alias("dx")), "src")
        .join(udeg.select(F.col("node").alias("dst"), F.col("d").alias("dy")), "dst")
    )
    sums = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n_nodes = udeg.count()
    n_edges = e.count()
    n_recip = recip.count()
    row = sums.select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(n_recip).cast("long").alias("recip_edges"),
        (
            F.lit(1000 * n_recip // n_edges).cast("long")
            if n_edges
            else F.lit(None).cast("long")
        ).alias("reciprocity_milli"),
        F.round(
            (
                F.col("m").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / F.sqrt(
                (
                    F.col("m").cast("double") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                * (
                    F.col("m").cast("double") * F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy").cast("double")
                )
            ),
            6,
        ).alias("assortativity"),
    )
    return row


def anchor_entropy(
    anchors: DataFrame,
    target_col: str = "to_url",
    anchor_col: str = "anchor_text",
) -> DataFrame:
    """Per-target anchor-text diversity: Shannon entropy over the
    distribution of (normalized) anchor strings pointing at a URL — the
    classic anchor-spam discriminator (organic pages accumulate varied
    anchors; coordinated link campaigns repeat one exact phrase, so
    high in-degree + near-zero anchor entropy is the flag; anchor-text
    aggregation as ranking evidence: Craswell, Hawking & Robertson,
    SIGIR 2001; link-spam surveys: Gyöngyi & Garcia-Molina, AIRWeb 2005).

    Returns (url, n_inlinks, n_unique_anchors, anchor_entropy_bits).
    Anchors are trim+lower normalized; NULL/empty anchors are dropped.
    One (url, anchor-md5) combiner agg, then the per-url entropy folds
    over counts in SORTED md5 order (sort_array + aggregate) — the same
    pure-function-of-the-data float discipline as char_entropy; anchor
    text itself never enters the collect_list (md5 surrogates keep the
    per-url state ≤ 48 B per distinct anchor).
    """
    a = anchors.select(
        F.col(target_col).alias("url"),
        F.md5(F.trim(F.lower(F.col(anchor_col)))).alias("ah"),
    ).filter(
        F.col(anchor_col).isNotNull() & (F.trim(F.col(anchor_col)) != "")
    )
    counts = a.groupBy("url", "ah").agg(F.count(F.lit(1)).alias("n"))
    per = counts.groupBy("url").agg(
        F.sum("n").alias("n_inlinks"),
        F.count(F.lit(1)).alias("n_unique_anchors"),
        F.sort_array(F.collect_list(F.struct("ah", "n"))).alias("dist"),
    )
    ln2 = 0.6931471805599453
    ent = F.aggregate(
        "dist",
        F.lit(0.0),
        lambda acc, s: acc
        - (s["n"].cast("double") / F.col("n_inlinks"))
        * (F.log(s["n"].cast("double") / F.col("n_inlinks")) / F.lit(ln2)),
    )
    return per.select(
        "url",
        F.col("n_inlinks").cast("long").alias("n_inlinks"),
        F.col("n_unique_anchors").cast("long").alias("n_unique_anchors"),
        F.round(ent, 6).alias("anchor_entropy_bits"),
    )


# observability for the iterative SCC loop (mirrors LAST_CLUSTER_STATS in
# dedup.py): outer peeling rounds, nodes trimmed per round, color-propagation
# rounds per outer round — a slow convergence is visible, never silent.
LAST_SCC_STATS: dict = {}


def scc(
    edges: DataFrame,
    max_iters: int = 50,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Strongly connected components of the host link graph — the
    coloring algorithm (Orzan 2004; Slota, Rajamanickam & Madduri,
    IPDPS 2014 "BFS and coloring-based parallel algorithms for strongly
    connected components"), the standard distributed SCC formulation.
    The web graph's SCC structure is the famous bow-tie (Broder et al.,
    WWW 2000): one giant core SCC plus a long tail of small ones — so
    the peeling loop below typically finishes in 2-3 outer rounds on a
    real host graph: trimming deletes the DAG fringe instantly and the
    first color sweep extracts the giant core.

    Per outer round:

    1. **Trim to fixpoint** — a node with no in-edge or no out-edge
       inside the active subgraph is its own SCC (it cannot lie on any
       cycle); emit it and drop it. This deletes the tendril/DAG mass —
       the overwhelming majority of a host graph — in a handful of
       cheap semi-join passes, before any propagation runs.
    2. **Forward min-label coloring to fixpoint** — color(v) = min node
       id (lexicographic) over ancestors-of-v ∪ {v}. All members of an
       SCC share one ancestor set, hence one color, so colors partition
       the active nodes into SCC-closed classes; each class root
       (color(v) == v) is provably a member of its class and reaches
       every member.
    3. **Backward sweep within color** — the nodes of class c that can
       reach the root c are exactly the SCC of c (mutual reachability:
       root reaches all of its class by step 2). Emit them, drop them,
       repeat on what is left.

    Every shuffled row in all three phases is a slim (node, label) pair
    or a (src, dst) edge — no payload columns; per-round frontiers are
    ``localCheckpoint``-ed to cut iterative lineage (the same discipline
    as ``pagerank``/``dedup_clusters``). Termination: each outer round
    removes at least every class root, so rounds ≤ #SCCs; ``max_iters``
    is a backstop that raises rather than returning a partial labeling.

    Returns (node, scc_id, scc_size) — scc_id is the lexicographic min
    member, the same deterministic representative DuckDB's closure
    oracle computes. Reference has no graph ops (SURVEY §2.2 note);
    this serves the north rule's frontier prioritization layer.
    """
    e_all = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))  # self-loops never change SCCs
        .distinct()
        .localCheckpoint()
    )
    active_n = (
        e_all.select(F.col("src").alias("node"))
        .unionByName(e_all.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    active_e = e_all
    done: DataFrame | None = None
    stats = {"outer_rounds": 0, "trimmed_per_round": [], "color_rounds": []}

    def _emit(part: DataFrame) -> None:
        nonlocal done
        done = part if done is None else done.unionByName(part)

    for _outer in range(max_iters):
        # --- 1. trim the DAG fringe to fixpoint -------------------------
        trimmed_total = 0
        while True:
            has_out = active_e.select(F.col("src").alias("node")).distinct()
            has_in = active_e.select(F.col("dst").alias("node")).distinct()
            cyclic = has_out.join(has_in, "node").localCheckpoint(eager=True)
            trimmed = active_n.join(cyclic, "node", "left_anti").localCheckpoint(
                eager=True
            )
            n_trim = trimmed.count()
            trimmed_total += n_trim
            if n_trim == 0:
                break
            _emit(trimmed.select("node", F.col("node").alias("scc_id")))
            active_n = active_n.join(cyclic, "node", "left_semi").localCheckpoint()
            active_e = (
                active_e.join(
                    active_n.select(F.col("node").alias("src")), "src", "left_semi"
                )
                .join(active_n.select(F.col("node").alias("dst")), "dst", "left_semi")
                .localCheckpoint()
            )
        stats["trimmed_per_round"].append(trimmed_total)
        stats["outer_rounds"] = _outer + 1
        if active_n.isEmpty():
            break
        # --- 2. forward min-ancestor coloring to fixpoint ---------------
        # each round: neighbor-min step + pointer-doubling shortcut
        # (color(v) <- min(color(v), color(color(v))) — valid because
        # color(v)=u means u reaches v, so u's ancestors are v's ancestors;
        # the same label-shortcutting as redirects.resolve_redirects) —
        # fixpoint in O(log diameter) rounds instead of O(diameter)
        labels = active_n.select("node", F.col("node").alias("color"))
        color_rounds = 0
        while True:
            color_rounds += 1
            inc = (
                active_e.join(
                    labels.select(F.col("node").alias("src"), "color"), "src"
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("color").alias("in_min"))
            )
            stepped = labels.join(inc, "node", "left").select(
                "node",
                F.least(F.col("color"), F.coalesce("in_min", "color")).alias(
                    "color"
                ),
            )
            nxt = (
                stepped.alias("s")
                .join(
                    labels.select(
                        F.col("node").alias("color"), F.col("color").alias("cc")
                    ).alias("t"),
                    "color",
                    "left",
                )
                .select(
                    "node",
                    F.least(F.col("color"), F.coalesce("cc", "color")).alias(
                        "new_color"
                    ),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                nxt.join(labels, "node")
                .filter(F.col("new_color") != F.col("color"))
                .count()
            )
            labels = nxt.select("node", F.col("new_color").alias("color"))
            if changed == 0:
                labels = labels.localCheckpoint()
                break
        stats["color_rounds"].append(color_rounds)
        # --- 3. backward sweep: who reaches their color root? -----------
        same_color_e = (
            active_e.join(
                labels.select(F.col("node").alias("src"), F.col("color").alias("sc")),
                "src",
            )
            .join(
                labels.select(F.col("node").alias("dst"), F.col("color").alias("dc")),
                "dst",
            )
            .filter(F.col("sc") == F.col("dc"))
            .select("src", "dst")
            .localCheckpoint()
        )
        reach = labels.filter(F.col("node") == F.col("color")).select("node")
        reach = reach.localCheckpoint()
        frontier = reach
        while True:
            fresh = (
                same_color_e.join(
                    frontier.select(F.col("node").alias("dst")), "dst"
                )
                .select(F.col("src").alias("node"))
                .distinct()
                .join(reach, "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            if fresh.isEmpty():
                break
            reach = reach.unionByName(fresh).localCheckpoint()
            frontier = fresh
        members = labels.join(reach, "node", "left_semi")
        _emit(members.select("node", F.col("color").alias("scc_id")))
        active_n = active_n.join(reach, "node", "left_anti").localCheckpoint()
        if active_n.isEmpty():
            break
        active_e = (
            active_e.join(
                active_n.select(F.col("node").alias("src")), "src", "left_semi"
            )
            .join(active_n.select(F.col("node").alias("dst")), "dst", "left_semi")
            .localCheckpoint()
        )
    else:  # pragma: no cover - max_iters backstop
        raise RuntimeError(
            f"scc: {max_iters} peeling rounds exhausted with nodes still active"
        )
    LAST_SCC_STATS.clear()
    LAST_SCC_STATS.update(stats)
    if done is None:
        return e_all.select(
            F.col("src").alias("node"),
            F.col("src").alias("scc_id"),
            F.lit(0).cast("long").alias("scc_size"),
        ).limit(0)
    sizes = done.groupBy("scc_id").agg(F.count(F.lit(1)).alias("scc_size"))
    return done.join(sizes, "scc_id").select(
        "node", "scc_id", F.col("scc_size").cast("long").alias("scc_size")
    )


def bowtie(
    edges: DataFrame,
    max_iters: int = 100,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Bow-tie decomposition of the host graph (Broder, Kumar, Maghoul,
    Raghavan, Rajagopalan, Stata, Tomkins & Wiener, WWW 2000 "Graph
    structure in the Web") — the canonical macro-map a crawl planner
    budgets against: CORE gets recrawl budget, IN is where new seeds
    pay off, OUT/TENDRIL mass signals trap-like expansion.

    Parts, computed exactly as the paper operationalizes them:

    - **CORE** — the largest SCC (ties broken by lexicographic min
      scc_id, so the choice is a pure function of the data);
    - **IN** — reaches CORE, not in it; **OUT** — reachable from CORE,
      not in it (a node with both properties would be in CORE);
    - of the remainder: **TUBE** — reachable from IN and reaching OUT
      (an IN→OUT path that bypasses CORE); **TENDRIL** — one of the two
      but not both; **DISC** — neither (disconnected from the bow-tie).

    All reachability sweeps are layered frontier BFS (``seed_distance``)
    over slim (node, depth) rows — forward from CORE, backward from
    CORE, forward from IN, backward from OUT — so total work per sweep
    is Σ out-degree visited once, not rounds × |E|. Returns (node, part).
    """
    comp = scc(edges, max_iters=max_iters, src_col=src_col, dst_col=dst_col)
    comp = comp.localCheckpoint()
    top = (
        comp.groupBy("scc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("scc_id"))
        .limit(1)
        .collect()
    )
    if not top:
        return comp.select("node", F.lit("DISC").alias("part")).limit(0)
    core_id = top[0]["scc_id"]
    core = comp.filter(F.col("scc_id") == F.lit(core_id)).select("node")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    nodes = comp.select("node")

    def _reach(edge_df: DataFrame, seeds: DataFrame) -> DataFrame:
        return seed_distance(
            edge_df, seeds, max_depth=max_iters, src_col="src", dst_col="dst"
        ).select("node")

    fwd = _reach(e, core).join(core, "node", "left_anti")      # OUT
    bwd = _reach(rev, core).join(core, "node", "left_anti")    # IN
    fwd = fwd.localCheckpoint()
    bwd = bwd.localCheckpoint()
    rest = (
        nodes.join(core, "node", "left_anti")
        .join(fwd, "node", "left_anti")
        .join(bwd, "node", "left_anti")
        .localCheckpoint()
    )
    from_in = _reach(e, bwd).join(rest, "node", "left_semi")
    to_out = _reach(rev, fwd).join(rest, "node", "left_semi")
    flagged = (
        nodes.join(core.withColumn("is_core", F.lit(1)), "node", "left")
        .join(bwd.withColumn("is_in", F.lit(1)), "node", "left")
        .join(fwd.withColumn("is_out", F.lit(1)), "node", "left")
        .join(from_in.withColumn("is_fi", F.lit(1)), "node", "left")
        .join(to_out.withColumn("is_to", F.lit(1)), "node", "left")
    )
    part = (
        F.when(F.col("is_core") == 1, F.lit("CORE"))
        .when(F.col("is_in") == 1, F.lit("IN"))
        .when(F.col("is_out") == 1, F.lit("OUT"))
        .when((F.col("is_fi") == 1) & (F.col("is_to") == 1), F.lit("TUBE"))
        .when((F.col("is_fi") == 1) | (F.col("is_to") == 1), F.lit("TENDRIL"))
        .otherwise(F.lit("DISC"))
    )
    return flagged.select("node", part.alias("part"))


def trawl_cores(
    edges: DataFrame,
    j: int = 3,
    min_fans: int = 3,
    max_degree: int = 32,
    prune_rounds: int = 3,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Trawling for (i, j) bipartite cores (Kumar, Raghavan, Rajagopalan &
    Tomkins, WWW 1999 "Trawling the Web for emerging cyber-communities"):
    ``j`` centers co-linked by ≥ ``min_fans`` distinct fans — the structural
    stamp of both emerging communities and link farms (a farm stamps one
    outlink template across its fan pages), which makes this the link-spam
    complement of ``anchor_entropy``'s text signal.

    Exactly the paper's two phases:

    1. **Iterative pruning** — a fan with out-degree < ``j`` or a center
       with in-degree < ``min_fans`` can belong to no (min_fans, j)-core;
       deleting either reduces other degrees, so prune for
       ``prune_rounds`` passes (each: two degree aggs + two semi-joins on
       slim (fan, center) rows). On web graphs this deletes the vast
       majority of edges before any enumeration (the paper's key insight).
    2. **Small-core enumeration** — per fan, emit its C(d, j) ordered
       center ``j``-sets via a (j-1)-fold self-equi-join on fan with
       ``center_1 < center_2 < ...`` (JVM-side, no UDF), then one groupBy
       over the j-set counting distinct fans. ``max_degree`` caps per-fan
       fanout at C(max_degree, j) BEFORE the join — a directory page
       linking thousands of centers co-links everything and says nothing
       (the same hub exclusion as ``related_hosts``).

    Returns (centers array<string> ascending, n_fans) for every center
    j-set with n_fans ≥ min_fans. Every shuffled row is a slim string
    tuple; no cross join anywhere. Supports j in {2, 3}: j=2 degenerates
    to co-citation pair counting (kept for parity testing against
    ``related_hosts``), j=3 is the paper's sweet spot.
    """
    if j not in (2, 3):  # pragma: no cover - guarded API misuse
        raise ValueError(f"j must be 2 or 3, got {j}")
    e = (
        edges.select(F.col(src_col).alias("fan"), F.col(dst_col).alias("ctr"))
        .filter(F.col("fan").isNotNull() & F.col("ctr").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    for _ in range(prune_rounds):
        fan_deg = e.groupBy("fan").agg(F.count(F.lit(1)).alias("d"))
        e = e.join(
            fan_deg.filter(F.col("d") >= j).select("fan"), "fan", "left_semi"
        )
        ctr_deg = e.groupBy("ctr").agg(F.count(F.lit(1)).alias("d"))
        e = e.join(
            ctr_deg.filter(F.col("d") >= min_fans).select("ctr"),
            "ctr",
            "left_semi",
        ).localCheckpoint()
    wd = Window.partitionBy("fan")
    e = (
        e.withColumn("_d", F.count(F.lit(1)).over(wd))
        .filter(F.col("_d") <= max_degree)
        .drop("_d")
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b, (F.col("a.fan") == F.col("b.fan")) & (F.col("a.ctr") < F.col("b.ctr"))
    ).select(F.col("a.fan").alias("fan"), F.col("a.ctr").alias("c1"), F.col("b.ctr").alias("c2"))
    if j == 2:
        grouped = pairs.groupBy("c1", "c2").agg(
            F.count(F.lit(1)).alias("n_fans")
        )
        out = grouped.select(F.array("c1", "c2").alias("centers"), "n_fans")
    else:
        p, c = pairs.alias("p"), e.alias("c")
        triples = p.join(
            c,
            (F.col("p.fan") == F.col("c.fan")) & (F.col("p.c2") < F.col("c.ctr")),
        ).select(
            F.col("p.fan").alias("fan"),
            F.col("p.c1").alias("c1"),
            F.col("p.c2").alias("c2"),
            F.col("c.ctr").alias("c3"),
        )
        grouped = triples.groupBy("c1", "c2", "c3").agg(
            F.count(F.lit(1)).alias("n_fans")
        )
        out = grouped.select(F.array("c1", "c2", "c3").alias("centers"), "n_fans")
    return out.filter(F.col("n_fans") >= min_fans).select(
        "centers", F.col("n_fans").cast("long").alias("n_fans")
    )


def community_modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Per-community Newman-Girvan modularity contributions (Newman &
    Girvan PRE 2004; Newman PNAS 2006) over the symmetrized host graph —
    the quality score that turns ``label_propagation`` output into a
    rankable signal (which detected communities are real structure vs
    propagation noise), and the standard stopping/comparison metric for
    any community assignment.

    Q = Σ_c [ e_c/m − (d_c/2m)² ]; this returns one row per community c
    with the exact integer sufficient statistics (``intra2_w`` = 2·e_c,
    ``deg_w`` = d_c, both over the symmetrized multigraph with every edge
    counted once, so both are exact longs) and ``q_contrib`` computed in
    ONE fixed-order double expression intra2/2m − (d/2m)² from those
    integers — the repo's float discipline: no cross-row double
    accumulation, so the value is a pure function of the data on any
    engine. Global Q is the caller's exact-integer sum
    Σ intra2 / 2m − Σ d² /(2m)² if wanted.

    Scale shape: symmetrize (2 slim columns + weight), one scalar 2m agg,
    one degree agg keyed by label, one intra agg after two slim label
    joins — nothing wider than (node, label) crosses a shuffle; the
    labels side is the community table (≤ nodes), never document data.
    """
    und = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v"), F.lit(1.0).alias("w")
    ).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
        & (F.col("u") != F.col("v"))
    )
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint()
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("label")
    ).localCheckpoint()
    two_m = sym.agg(F.sum("w").alias("tm")).collect()[0]["tm"] or 0.0
    deg = (
        sym.join(lab.withColumnRenamed("node", "u"), "u")
        .groupBy("label")
        .agg(F.sum("w").alias("deg"))
    )
    intra = (
        sym.join(
            lab.select(F.col("node").alias("u"), F.col("label").alias("lu")), "u"
        )
        .join(
            lab.select(F.col("node").alias("v"), F.col("label").alias("lv")), "v"
        )
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.sum("w").alias("i2"))
    )
    nn = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    out = (
        nn.join(deg, "label", "left")
        .join(intra, "label", "left")
        .select(
            "label",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("i2", F.lit(0.0)).cast("long").alias("intra2_w"),
            F.coalesce("deg", F.lit(0.0)).cast("long").alias("deg_w"),
        )
    )
    if two_m == 0:
        return out.withColumn("q_contrib", F.lit(0.0))
    tm = F.lit(float(two_m))
    return out.withColumn(
        "q_contrib",
        F.col("intra2_w").cast("double") / tm
        - (F.col("deg_w").cast("double") / tm)
        * (F.col("deg_w").cast("double") / tm),
    )


def degree_powerlaw(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    dmin: int = 2,
    direction: str = "in",
) -> DataFrame:
    """Power-law exponent of the host degree distribution — the discrete
    maximum-likelihood estimator of Clauset, Shalizi & Newman (SIAM Rev.
    2009, eq. 3.7): α ≈ 1 + n · [Σ_i ln(d_i / (dmin − ½))]⁻¹ over the
    tail d_i ≥ dmin. The classic web-graph measurement (Broder et al.
    WWW 2000 report in-degree α ≈ 2.1): a crawl whose frontier in-degree
    tail drifts away from the expected exponent signals link farms or a
    biased seed mix before any content is read.

    Float discipline: the estimator is computed from the DEGREE HISTOGRAM
    (degree value d → host count c), so the IEEE sum Σ c·ln(d/(dmin−½))
    is an ordered fold over ascending d — a pure function of the graph
    that a SQL oracle replays exactly; every other statistic is an exact
    integer. Returns one row (dmin, n_tail, n_nodes, max_degree, alpha;
    alpha NULL when the tail is empty).

    Scale shape: distinct directed pairs → one degree agg → one histogram
    agg → 1-row fold. The fold array holds one element per DISTINCT
    degree value: ≤ O(√|E|) entries even adversarially (Σ distinct
    degrees ≤ |E|), ~10⁴ for a 10^10-edge web graph — driver-safe by
    construction, no top-k cap needed.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    key = "dst" if direction == "in" else "src"
    deg = e.groupBy(F.col(key).alias("node")).agg(F.count(F.lit(1)).alias("d"))
    hist = (
        deg.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = F.sort_array(
        F.collect_list(
            F.struct(F.col("d").alias("d"), F.col("c").alias("c"))
        )
    )
    agg = hist.agg(
        F.coalesce(
            F.sum(F.when(F.col("d") >= int(dmin), F.col("c"))), F.lit(0)
        ).cast("long").alias("n_tail_all"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_nodes"),
        F.coalesce(F.max("d"), F.lit(0)).cast("long").alias("max_degree"),
        F.aggregate(
            F.transform(
                F.filter(pairs, lambda s: s["d"] >= int(dmin)),
                lambda s: s["c"].cast("double")
                * F.log(s["d"].cast("double") / F.lit(dmin - 0.5)),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("lnsum"),
    )
    return agg.select(
        F.lit(int(dmin)).cast("long").alias("dmin"),
        F.col("n_tail_all").alias("n_tail"),
        "n_nodes",
        "max_degree",
        F.when(
            F.col("n_tail_all") > 0,
            F.round(
                F.lit(1.0)
                + F.col("n_tail_all").cast("double") / F.col("lnsum"),
                6,
            ),
        ).alias("alpha"),
    )


def densification(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Graph growth curve over crawl epochs — per epoch, the cumulative
    number of distinct nodes and distinct directed edges first seen at or
    before it (self-loops dropped). The raw material of the densification
    power law E(t) ∝ N(t)^a (Leskovec, Kleinberg & Faloutsos KDD 2005):
    real growing graphs densify (a > 1, superlinear edges), so a crawl
    whose host graph grows with a ≈ 1 is adding isolated fringe, not
    discovering structure. Returns (epoch, new_nodes, new_edges,
    cum_nodes, cum_edges) at every epoch where at least one new edge
    appeared — a node's first epoch is the first epoch of any edge
    touching it, so node-epochs ⊆ edge-epochs and nothing is lost.

    All counts are exact integers; the cumulative window orders the
    per-epoch histogram (one row per epoch — bounded by the crawl's
    epoch count, never by the graph).
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(epoch_col).cast("long").alias("ep"),
        )
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
    )
    first_edge = e.groupBy("src", "dst").agg(F.min("ep").alias("fe"))
    first_node = (
        e.select(F.col("src").alias("node"), "ep")
        .unionAll(e.select(F.col("dst").alias("node"), "ep"))
        .groupBy("node")
        .agg(F.min("ep").alias("fe"))
    )
    ne = first_edge.groupBy(F.col("fe").alias("epoch")).agg(
        F.count(F.lit(1)).alias("new_edges")
    )
    nn = first_node.groupBy(F.col("fe").alias("epoch")).agg(
        F.count(F.lit(1)).alias("new_nodes")
    )
    w = Window.orderBy("epoch").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ne.join(nn, "epoch", "left")
        .select(
            "epoch",
            F.coalesce("new_nodes", F.lit(0)).cast("long").alias("new_nodes"),
            F.col("new_edges").cast("long").alias("new_edges"),
        )
        .withColumn("cum_nodes", F.sum("new_nodes").over(w).cast("long"))
        .withColumn("cum_edges", F.sum("new_edges").over(w).cast("long"))
    )


def densification_fit(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Densification exponent: OLS of ln(cum_edges) on ln(cum_nodes)
    across epochs (Leskovec et al. KDD'05 eq. 1 — the log-log slope IS
    the exponent a). One row (n_epochs, exponent, intercept, r2, final
    cum_nodes/cum_edges), rounded to 6dp; the five OLS sums are ordered
    folds over the epoch sequence (the zipf_fit discipline), so the fit
    is a pure function of the data on any engine. The fold array holds
    one element per epoch — driver-bounded by the crawl calendar.
    """
    growth = densification(edges, src_col, dst_col, epoch_col).select(
        "epoch",
        F.log(F.col("cum_nodes").cast("double")).alias("x"),
        F.log(F.col("cum_edges").cast("double")).alias("y"),
        "cum_nodes",
        "cum_edges",
    )
    pairs = F.sort_array(
        F.collect_list(F.struct(F.col("epoch").alias("r"), "x", "y"))
    )

    def _fold(field):
        return F.aggregate(
            F.transform(pairs, lambda s: s[field]),
            F.lit(0.0),
            lambda a, v: a + v,
        )

    def _fold2(fa, fb):
        return F.aggregate(
            F.transform(pairs, lambda s: s[fa] * s[fb]),
            F.lit(0.0),
            lambda a, v: a + v,
        )

    agg = growth.agg(
        F.count(F.lit(1)).cast("long").alias("n_epochs"),
        _fold("x").alias("sx"),
        _fold("y").alias("sy"),
        _fold2("x", "x").alias("sxx"),
        _fold2("y", "y").alias("syy"),
        _fold2("x", "y").alias("sxy"),
        F.max("cum_nodes").cast("long").alias("cum_nodes"),
        F.max("cum_edges").cast("long").alias("cum_edges"),
    )
    n = F.col("n_epochs").cast("double")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    return agg.select(
        "n_epochs",
        F.when(F.col("n_epochs") >= 2, F.round(slope, 6)).alias("exponent"),
        F.when(
            F.col("n_epochs") >= 2,
            F.round((F.col("sy") - slope * F.col("sx")) / n, 6),
        ).alias("intercept"),
        F.when(
            F.col("n_epochs") >= 2,
            F.round(
                (F.col("sxy") - F.col("sx") * F.col("sy") / n)
                * (F.col("sxy") - F.col("sx") * F.col("sy") / n)
                / (
                    (F.col("sxx") - F.col("sx") * F.col("sx") / n)
                    * (F.col("syy") - F.col("sy") * F.col("sy") / n)
                ),
                6,
            ),
        ).alias("r2"),
        "cum_nodes",
        "cum_edges",
    )


def neighborhood_function(
    edges: DataFrame,
    rounds: int = 5,
    p: int = 6,
    quantile_milli: int = 900,
    unit_pow10: int = 6,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Approximate neighborhood function N(r) and effective diameter —
    ANF (Palmer, Gibbons & Faloutsos KDD 2002) via the same per-node HLL
    register algebra as :func:`hyperball`, read globally instead of
    per-node: N(r) = Σ_v |B(v,r)| is the number of reachable pairs within
    r hops, and the effective diameter is the smallest r with N(r) ≥
    q·N(R) (q = ``quantile_milli``/1000, classically 0.9) — the
    "shrinking diameters" measurement of Leskovec et al. KDD 2005, the
    distance-side companion of :func:`densification_fit`.

    Float discipline: each node's round ball estimate is rounded to 6dp
    (exactly as hyperball does), converted to EXACT micro-unit longs
    (round(est·10⁶)), and the global per-round sum is an integer sum —
    order-free, so the whole curve including the quantile test
    1000·N(r) ≥ q·N(R) is exact integer algebra the oracle replays.
    Returns one row per round r ∈ [0, rounds]: (r, nf_micro, frac_milli
    = ⌊1000·N(r)/N(R)⌋, is_effective_radius) — ``is_effective_radius``
    marks the single smallest r meeting the quantile.

    Scale shape: identical to hyperball — O(E·2^p) shuffle rows per
    round, independent of corpus size; the output is (rounds+1) rows,
    and the final quantile windows run over that constant-size frame.
    ``unit_pow10`` sets the fixed-point precision of the reported sums: micro units (6) keep sub-estimate
    resolution but bound Σ est·10⁶ to a long — N·n ≤ 9.2·10¹⁸, i.e.
    graphs to ~10⁶ nodes; at web scale pass 0 (whole-unit sums, exact to
    ~10¹⁸ pairs — the quantile test loses nothing that survives HLL's
    ~1% error anyway). The quantile/frac tests compute their 1000×
    products in decimal(38,0), so the stated bound is the binding one —
    the scale-up does not tighten it.
    """
    scale = float(10 ** int(unit_pow10))

    def _nf(est_frame: DataFrame, r: int) -> DataFrame:
        micro = F.round(
            F.round(F.col("distinct_est"), 6) * F.lit(scale), 0
        )
        return est_frame.agg(
            F.lit(int(r)).cast("long").alias("r"),
            F.coalesce(F.sum(micro.cast("long")), F.lit(0))
            .cast("long").alias("nf_micro"),
        )

    _, ests = _hll_balls(edges, rounds, p, src_col, dst_col)
    curve = reduce(
        DataFrame.unionByName, [_nf(est, r) for r, est in enumerate(ests)]
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # The 1000× scale-ups run in decimal(38,0): a long product would wrap
    # past nf_micro ≈ 9.2e15, three orders below the documented N·n bound.
    # The frac division is double AFTER the exact product, matching the
    # oracle's HUGEINT-product / float-division shape.
    nf_dec = F.col("nf_micro").cast("decimal(38,0)")
    max_dec = F.max("nf_micro").over(w_all).cast("decimal(38,0)")
    frac = F.floor(
        (nf_dec * F.lit(1000)).cast("double")
        / F.max("nf_micro").over(w_all).cast("double")
    ).cast("long")
    met = F.when(
        nf_dec * F.lit(1000) >= max_dec * F.lit(int(quantile_milli)),
        F.col("r"),
    )
    return (
        curve.withColumn("frac_milli", frac)
        .withColumn("__met", met)
        .withColumn(
            "is_effective_radius",
            F.col("r") == F.min("__met").over(w_all),
        )
        .drop("__met")
    )


def community_conductance(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Per-community conductance φ(c) = cut(c) / min(vol(c), 2m − vol(c))
    (Shi & Malik's normalized-cut quantity; Leskovec, Lang, Dasgupta &
    Mahoney WWW 2008 use exactly this as the community-quality score
    behind the network community profile) — the CUT-side quality metric
    complementing :func:`community_modularity`'s density side: modularity
    rewards internal density, conductance punishes external leakage, and
    a propagation artifact that merges two real communities scores well
    on one but badly on the other.

    On the symmetrized multigraph every undirected cut edge has exactly
    one orientation whose source lies in c, so cut(c) is one conditional
    sum over label-joined rows and vol(c) is the unconditional sum (d_c,
    the same quantity modularity uses). Every edge counts once, so all
    sufficient statistics are exact integer sums; φ is ONE double division rounded
    to 6dp — the repo's no-cross-row-float discipline. Returns (label,
    n_nodes, cut_w, vol_w, conductance), NULL φ for volume-0 (isolated)
    or whole-graph communities.

    Scale shape: identical to modularity — symmetrize, two slim label
    joins, one scalar 2m agg, two label-keyed combiner aggs; nothing
    wider than (node, label) crosses a shuffle.
    """
    und = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v"),
        F.lit(1).cast("long").alias("w"),
    ).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
        & (F.col("u") != F.col("v"))
    )
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint()
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("label")
    ).localCheckpoint()
    two_m = sym.agg(F.sum("w").alias("tm")).collect()[0]["tm"] or 0
    j = (
        sym.join(
            lab.select(F.col("node").alias("u"), F.col("label").alias("lu")),
            "u",
        )
        .join(
            lab.select(F.col("node").alias("v"), F.col("label").alias("lv")),
            "v",
        )
    )
    per = j.groupBy(F.col("lu").alias("label")).agg(
        F.sum("w").cast("long").alias("vol_w"),
        F.coalesce(
            F.sum(F.when(F.col("lu") != F.col("lv"), F.col("w"))), F.lit(0)
        ).cast("long").alias("cut_w"),
    )
    nn = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    out = nn.join(per, "label", "left").select(
        "label",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.coalesce("cut_w", F.lit(0)).cast("long").alias("cut_w"),
        F.coalesce("vol_w", F.lit(0)).cast("long").alias("vol_w"),
    )
    denom = F.least(
        F.col("vol_w"), F.lit(int(two_m)) - F.col("vol_w")
    )
    return out.withColumn(
        "conductance",
        F.when(
            denom > 0,
            F.round(
                F.col("cut_w").cast("double") / denom.cast("double"), 6
            ),
        ),
    )


def seed_attribution(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 8,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    seed_col: str = "node",
) -> DataFrame:
    """Seed provenance: which seed discovered each node — attribution =
    the lexicographic minimum over (distance, seed id) of all seed paths,
    i.e. the nearest seed with a deterministic smallest-id tie-break.
    The crawl-diagnostics companion of :func:`seed_distance` (Cho &
    Garcia-Molina's seed-bias question made queryable: a host set
    attributed overwhelmingly to one seed is that seed's bias; removing
    a seed whose attribution set is empty is free).

    Correctness of frontier-only min-label propagation: every minimum-
    depth-d path to v ends in a predecessor at depth exactly d−1 (a
    shallower predecessor would shorten v), and each such predecessor's
    label is already the min seed reaching it — so min over the frontier
    predecessors' labels IS the min seed among v's depth-d paths. Same
    Σ-out-degree work bound and slim (node, seed) shuffle rows as
    seed_distance; one extra min-agg per round.

    Returns (node, depth, seed) for nodes reachable within ``max_depth``
    (seeds self-attributed at depth 0); unreachable nodes absent.
    """
    start = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("depth"), F.col("node").alias("seed"))
    )
    return _bfs_layers(
        edges, start,
        lambda out: out.groupBy(F.col("dst").alias("node"))
        .agg(F.min("seed").alias("seed")),
        max_depth, src_col, dst_col,
    )


def pagerank_residuals(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = "n_links",
) -> DataFrame:
    """Per-iteration PageRank convergence telemetry: the L1 residual
    Σ_v |r_i(v) − r_{i−1}(v)| in exact micro-units — the stopping
    criterion of every production power iteration (Page et al. 1999 run
    to fixed tolerance, not fixed rounds) surfaced as data, so a crawl
    scheduler can SEE that rank-priority has converged instead of paying
    fixed iterations (the dedup_clusters convergence-telemetry
    discipline applied to the rank loop).

    Exactness: residuals are computed on the 6dp-ROUNDED ranks — the
    engine's published rank precision — so each per-node diff is an
    exact multiple of 10⁻⁶, the micro conversion round(|Δ|·10⁶) is an
    exact integer on any engine, and the per-iteration sum is order-free
    integer arithmetic (full-precision diffs would inherit the inner
    inflow sum's accumulation order — exactly the cross-row float
    dependence this repo bans). Returns (iteration, l1_residual_micro),
    one row per iteration ≥ 1.

    Scale shape: the pagerank loop's own joins, with the ranks
    checkpointed every round, plus one slim (node, rank) self-join and a
    1-row integer agg per iteration.
    """
    iterates = _pagerank_iterates(
        edges, iterations, damping, src_col, dst_col, weight_col, every=1
    )
    if len(iterates) < 2:
        return edges.sparkSession.createDataFrame(
            [], "iteration long, l1_residual_micro long"
        )
    return reduce(DataFrame.unionByName, [
        new.select("node", F.round("rank", 6).alias("a"))
        .join(old.select("node", F.round("rank", 6).alias("b")), "node")
        .agg(
            F.lit(i).cast("long").alias("iteration"),
            F.coalesce(
                F.sum(
                    F.round(F.abs(F.col("a") - F.col("b")) * F.lit(1e6), 0)
                    .cast("long")
                ),
                F.lit(0),
            ).cast("long").alias("l1_residual_micro"),
        )
        for i, (old, new) in enumerate(zip(iterates, iterates[1:]), 1)
    ])


def shrinking_diameter(
    edges: DataFrame,
    cutoffs: list[int],
    epoch_col: str = "epoch",
    rounds: int = 5,
    p: int = 6,
    quantile_milli: int = 900,
    unit_pow10: int = 6,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Effective diameter tracked over crawl epochs — the second half of
    Leskovec, Kleinberg & Faloutsos KDD 2005 (densification is the edge
    count's law, SHRINKING DIAMETERS is the distance law: as real graphs
    densify, the 90th-percentile distance falls). For each cumulative
    cutoff (edges first seen at epoch ≤ c) this runs
    :func:`neighborhood_function` and reads off the effective radius —
    one row per cutoff: (epoch, effective_radius, nf_final_micro). A
    crawl whose diameter is NOT shrinking as epochs accumulate is
    collecting fringe, the same diagnosis densification_fit makes from
    the edge side; the pair certifies together on the same growing
    fixture.

    Scale shape: cutoffs × the hyperball loop (each O(E·2^p) register
    shuffles); everything else inherits neighborhood_function's exact
    fixed-point integer discipline, so the whole trend is
    oracle-replayable.
    """
    frames = []
    for c in cutoffs:
        sub = edges.filter(F.col(epoch_col) <= int(c)).select(
            src_col, dst_col
        )
        nf = neighborhood_function(
            sub, rounds=rounds, p=p, quantile_milli=quantile_milli,
            unit_pow10=unit_pow10, src_col=src_col, dst_col=dst_col,
        )
        frames.append(
            nf.agg(
                F.lit(int(c)).cast("long").alias("epoch"),
                F.min(
                    F.when(F.col("is_effective_radius"), F.col("r"))
                ).cast("long").alias("effective_radius"),
                F.max("nf_micro").cast("long").alias("nf_final_micro"),
            )
        )
    return reduce(DataFrame.unionByName, frames)


def outlink_twins(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    max_degree: int = 10_000,
) -> DataFrame:
    """Hosts with IDENTICAL outlink sets — the cheapest link-farm stamp
    (the nepotistic-link signature of Davison 2000 / the template-site
    fingerprint behind the Kumar et al. trawling cores): farm members
    are generated from one template, so their outlink SETS collide
    exactly, long before content similarity or bipartite-core search
    would find them. Complements :func:`..urlfilter.mirror_hosts_by_path`
    (content twins) and ``trawl_cores`` (dense-but-not-identical cores).

    Plan: distinct (src, dst) → per-src sorted outlink array → md5 of
    the joined array = the SET fingerprint → fingerprint-keyed count +
    re-join, emitting only hosts in groups of ≥2. Hosts with out-degree
    > ``max_degree`` are dropped BEFORE the collect (a genuine hub is
    not a farm member, and the cap bounds the per-row array — the same
    degree-cap discipline as cocitation/coupling). Shuffles carry slim
    (host, target) then (host, digest) rows only.

    Returns (host, group_id, group_size, out_degree), group_size ≥ 2,
    group_id = the md5 set fingerprint (stable across runs/engines).
    The cap's exclusions are OBSERVABLE, not silent: run
    :func:`outlink_twins_excluded` alongside for the (host, out_degree)
    side report of every host the cap removed — at 100 TB an operator
    can audit exactly which hubs were ruled out of farm detection.
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    per = (
        e.groupBy("src")
        .agg(
            F.sort_array(F.collect_set("dst")).alias("outs"),
            F.count(F.lit(1)).cast("long").alias("out_degree"),
        )
        .filter(F.col("out_degree") <= int(max_degree))
        .select(
            F.col("src").alias("host"), "out_degree",
            F.md5(F.array_join("outs", "\x01")).alias("group_id"),
        )
    )
    sizes = per.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    ).filter(F.col("group_size") >= 2)
    return per.join(sizes, "group_id").select(
        "host", "group_id", "group_size", "out_degree"
    )


def outlink_twins_excluded(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    max_degree: int = 10_000,
) -> DataFrame:
    """The side report :func:`outlink_twins` owes its callers: every
    host the ``max_degree`` cap excluded from twin detection, with its
    out-degree — so the cap is an audited policy, not a silent data
    loss. Same distinct + per-src count plan as the main operator WITHOUT
    the outlink-array collect (no set materialization for mega-hubs —
    the count agg is all the cap test needs); the result is tiny (hosts
    past 10k out-degree are rare even at web scale).

    Returns (host, out_degree) with out_degree > ``max_degree``,
    one row per excluded host.
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("out_degree"))
        .filter(F.col("out_degree") > int(max_degree))
        .select(F.col("src").alias("host"), "out_degree")
    )


def link_reciprocity(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Per-host link reciprocity — the link-exchange audit the spam
    family was missing. Organic web linking is strongly asymmetric
    (reciprocity of the host graph sits far below 1); link-exchange
    rings and nepotistic partnerships (Davison 2000) produce hosts
    whose out-neighbors overwhelmingly link BACK. This reports, per
    host, how much of its out-neighborhood is mutual, so a ranking
    pipeline can demote high-reciprocity hubs the way ``spam_mass`` /
    ``trustrank`` demote badly-connected mass (the reference has no
    link analysis at all — its graph is implicit in scraped tables;
    north-rule scale addition).

    Plan: distinct slim (src, dst) pairs → left-semi join against the
    REVERSED pair set on the same composite key → per-src counts. Two
    hash exchanges over 2-string rows, no arrays, no degree caps
    needed (the semi join never materializes neighborhoods). At 10^10
    edges both sides hash-partition on (src, dst); AQE handles the
    skewed hubs because the join output is at most the input.

    Returns (host, out_degree, n_reciprocal, reciprocity_milli):
    out_degree = distinct out-neighbors, n_reciprocal = those that
    link back, reciprocity_milli = floor(1000·n_reciprocal/out_degree)
    — integer fixed-point so engine and oracle agree bit-for-bit.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    back = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = e.join(back, ["src", "dst"], "left_semi")
    deg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("out_degree")
    )
    rec = mutual.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_reciprocal")
    )
    return (
        deg.join(rec, "src", "left")
        .select(
            F.col("src").alias("host"),
            "out_degree",
            F.coalesce("n_reciprocal", F.lit(0)).cast("long").alias("n_reciprocal"),
            F.floor(
                1000 * F.coalesce("n_reciprocal", F.lit(0)) / F.col("out_degree")
            ).cast("long").alias("reciprocity_milli"),
        )
    )


def link_rot(
    edges: DataFrame,
    fetch_status: DataFrame,
    src_col: str = "from_url",
    dst_col: str = "resolved_url",
    url_col: str = "url",
    status_col: str = "status",
) -> DataFrame:
    """Per-host link-rot audit — where do a site's outlinks actually
    lead? Broken targets (4xx/5xx) measure page decay (the classic
    link-rot studies); never-fetched targets measure FRONTIER debt
    (discovered but not yet crawled — budget, not rot). The two are
    different actions — fix/deprioritize the rotting host vs schedule
    the unfetched mass — so they are reported separately, per source
    host, with the rot share in fixed-point.

    Plan: distinct slim (src_host, target) pairs → one target-keyed
    left join against the fetch log reduced to one ``max(status)`` per
    URL (a target fetched 200 then 404 counts once, as broken) → ONE
    host combiner agg. The target join key is the same canonical-URL key
    the seen-set uses, so at 10^10 edges this rides the existing
    partitioning; only 2-string + 1-long rows shuffle.

    Returns (host, n_outlinks, n_ok, n_broken, n_unfetched,
    broken_share_milli): ok = 2xx/3xx, broken = 4xx/5xx,
    broken_share_milli = floor(1000·n_broken/n_outlinks).
    """
    from ..functions import urltools as U

    e = (
        edges.select(
            U.url_host(F.col(src_col)).alias("host"),
            F.col(dst_col).alias("target"),
        )
        .filter(F.col("host").isNotNull() & F.col("target").isNotNull())
        .distinct()
    )
    st = fetch_status.groupBy(F.col(url_col).alias("target")).agg(
        F.max(F.col(status_col).cast("long")).alias("status")
    )
    j = e.join(st, "target", "left")
    ok = (F.col("status") >= 200) & (F.col("status") < 400)
    broken = F.col("status") >= 400
    return j.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_outlinks"),
        F.sum(ok.cast("long")).cast("long").alias("n_ok"),
        F.sum(broken.cast("long")).cast("long").alias("n_broken"),
        F.sum(F.col("status").isNull().cast("long")).cast("long")
        .alias("n_unfetched"),
        F.floor(
            1000 * F.sum(broken.cast("long")) / F.count(F.lit(1))
        ).cast("long").alias("broken_share_milli"),
    )
