"""Power-iteration kernels in operators/graph.py: a Spark-job budget per
call, and a property test against a pure-Python power iteration.

The job budget pins how many Spark jobs a 10-round pagerank and hits
run on a fixed 12-host graph. A round that returns to the driver (a
collect of its total) or materialises an extra frame shows up here as
more jobs. The property test replays pagerank, trustrank and hits in
plain Python floats on small weighted digraphs and compares at the
published 6-dp precision."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from web_crawler_spark.operators import graph as G

# Spark jobs of one 10-round call plus its collect on the graph below,
# at most (measured 66-68 and 147 over 20 calls: no round runs a job of
# its own; the ranks are checkpointed every third round and on the last,
# each hits half-step once). A collect of each round's total instead
# measured 107 and 269.
_JOB_BUDGET = {"pagerank": 68, "hits": 147}


def _host_edges(spark):
    """12 hosts, weights 1-3, h11 without out-edges (dangling)."""
    rows = sorted({
        (f"h{i}", f"h{(i * j + 1) % 12}", 1 + (i + j) % 3)
        for i in range(11)
        for j in (1, 3, 4)
        if (i * j + 1) % 12 != i
    })
    return spark.createDataFrame(rows, "src_host string, dst_host string, n_links long")


def _jobs(spark, frame_fn) -> int:
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    frame_fn().collect()
    return scheduler.numTotalJobs() - before


def test_pagerank_job_budget(spark):
    edges = _host_edges(spark)
    jobs = _jobs(spark, lambda: G.pagerank(edges, iterations=10))
    assert jobs <= _JOB_BUDGET["pagerank"], jobs


def test_hits_job_budget(spark):
    edges = _host_edges(spark)
    jobs = _jobs(spark, lambda: G.hits(edges, iterations=10))
    assert jobs <= _JOB_BUDGET["hits"], jobs


# -- pure-Python power iteration ---------------------------------------------
def _py_inflow(edges, scores, norm):
    """Σ over edges u→v of ``edges[u, v] / norm(u, v) · scores[u]``."""
    inflow = {}
    for (u, v), w in edges.items():
        inflow[v] = inflow.get(v, 0.0) + w / norm(u, v) * scores[u]
    return inflow


def _py_pagerank(edges, iterations, d=0.85):
    nodes = {x for e in edges for x in e}
    out_w = {}
    for (u, _), w in edges.items():
        out_w[u] = out_w.get(u, 0.0) + w
    n = len(nodes)
    r = dict.fromkeys(nodes, 1.0)
    for _ in range(iterations):
        inflow = _py_inflow(edges, r, lambda u, v: out_w[u])
        flowed = sum(inflow.values())
        r = {
            v: (1 - d) + d * (n - flowed) / n + d * inflow.get(v, 0.0)
            for v in nodes
        }
    return r


def _py_trustrank(edges, seeds, iterations, d=0.85):
    nodes = {x for e in edges for x in e}
    out_w = {}
    for (u, _), w in edges.items():
        out_w[u] = out_w.get(u, 0.0) + w
    core = seeds & nodes
    s = {v: (1.0 / len(core) if v in core else 0.0) for v in nodes}
    r = dict(s)
    for _ in range(iterations):
        inflow = _py_inflow(edges, r, lambda u, v: out_w[u])
        flowed = sum(inflow.values())
        r = {
            v: (1 - d) * s[v] + d * (inflow.get(v, 0.0) + (1 - flowed) * s[v])
            for v in nodes
        }
    return r


def _py_hits(edges, iterations):
    nodes = {x for e in edges for x in e}
    back = {(v, u): w for (u, v), w in edges.items()}
    a = h = dict.fromkeys(nodes, 1.0)

    def half(es, scores):
        raw = _py_inflow(es, scores, lambda u, v: 1.0)
        total = sum(raw.values()) or 1.0
        return {v: raw.get(v, 0.0) / total for v in nodes}

    for _ in range(iterations):
        a = half(edges, h)
        h = half(back, a)
    return h, a


def _close(got: dict, ref: dict) -> bool:
    return got.keys() == ref.keys() and all(
        abs(got[k] - round(ref[k], 6)) <= 1e-6 + 1e-12 for k in ref
    )


_host = st.sampled_from([f"h{i}" for i in range(6)])
_graphs = st.dictionaries(
    st.tuples(_host, _host), st.integers(1, 5), min_size=1, max_size=14
)
# seeds drawn past the node range, so some are missing from the graph
_seeds = st.sets(st.sampled_from([f"h{i}" for i in range(8)]), max_size=3)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_graphs, _seeds, st.integers(1, 4))
@example({("h0", "h1"): 1}, {"h0"}, 3)                     # a single edge
@example({("h0", "h1"): 3, ("h1", "h2"): 2, ("h0", "h2"): 1},   # h2 dangles
         {"h1", "h7"}, 4)
@example({("h0", "h1"): 2, ("h1", "h0"): 5}, {"h6", "h7"}, 2)  # no seed in graph
def test_power_iterations_match_python(spark, edges, seeds, iterations):
    df = spark.createDataFrame(
        [(u, v, w) for (u, v), w in sorted(edges.items())],
        "src_host string, dst_host string, n_links long",
    )
    seed_df = spark.createDataFrame([(s,) for s in sorted(seeds)], "node string")

    pr = {r.node: r.rank for r in G.pagerank(df, iterations).collect()}
    assert _close(pr, _py_pagerank(edges, iterations))

    tr = {r.node: r.trust for r in G.trustrank(df, seed_df, iterations).collect()}
    assert _close(tr, _py_trustrank(edges, seeds, iterations))

    rows = G.hits(df, iterations).collect()
    hub, auth = _py_hits(edges, iterations)
    assert _close({r.node: r.hub for r in rows}, hub)
    assert _close({r.node: r.authority for r in rows}, auth)
