"""link_reciprocity (operators/graph.py): per-host mutual-link audit vs
hand-computed fixtures — exchange ring (all-mutual), one-way chain
(zero-mutual), mixed neighborhoods, self-loop/dup hygiene."""

from web_crawler_spark.operators import graph as G


def _run(spark, pairs):
    df = spark.createDataFrame(pairs, ["src_host", "dst_host"])
    return {
        r.host: (r.out_degree, r.n_reciprocal, r.reciprocity_milli)
        for r in G.link_reciprocity(df).collect()
    }


def test_hand_computed_mixed_graph(spark):
    pairs = [
        ("a", "b"), ("b", "a"),           # mutual pair
        ("a", "c"),                        # one-way
        ("c", "d"), ("d", "c"),           # mutual pair
        ("b", "c"),                        # one-way
    ]
    got = _run(spark, pairs)
    assert got == {
        "a": (2, 1, 500),    # out {b,c}, only b links back
        "b": (2, 1, 500),    # out {a,c}, only a links back
        "c": (1, 1, 1000),   # out {d}, d links back
        "d": (1, 1, 1000),
    }


def test_exchange_ring_fully_mutual(spark):
    ring = [(f"r{i}", f"r{j}") for i in range(4) for j in range(4) if i != j]
    got = _run(spark, ring)
    assert got == {f"r{i}": (3, 3, 1000) for i in range(4)}


def test_one_way_chain_zero_reciprocity(spark):
    chain = [("h0", "h1"), ("h1", "h2"), ("h2", "h3")]
    got = _run(spark, chain)
    assert got == {"h0": (1, 0, 0), "h1": (1, 0, 0), "h2": (1, 0, 0)}
    assert "h3" not in got  # no out-edges -> no row


def test_self_loops_and_duplicates_ignored(spark):
    pairs = [("x", "x"), ("x", "y"), ("x", "y"), ("y", "x"), ("y", "x")]
    got = _run(spark, pairs)
    assert got == {"x": (1, 1, 1000), "y": (1, 1, 1000)}


def test_link_rot_classes(spark):
    edges = spark.createDataFrame(
        [
            ("https://s.com/a", "https://t.com/ok"),
            ("https://s.com/b", "https://t.com/moved"),
            ("https://s.com/c", "https://t.com/gone"),
            ("https://s.com/d", "https://t.com/err"),
            ("https://s.com/e", "https://t.com/pending"),
            # duplicate edge collapses
            ("https://s.com/a2", "https://t.com/ok"),
            ("https://other.com/x", "https://t.com/gone"),
            # refetched target: 200 then 404 counts once, as broken
            ("https://flap.com/x", "https://t.com/flaky"),
        ],
        "from_url string, resolved_url string",
    )
    status = spark.createDataFrame(
        [
            ("https://t.com/ok", 200),
            ("https://t.com/moved", 301),
            ("https://t.com/gone", 404),
            ("https://t.com/err", 503),
            ("https://t.com/flaky", 200),
            ("https://t.com/flaky", 404),
        ],
        "url string, status long",
    )
    got = {
        r.host: (r.n_outlinks, r.n_ok, r.n_broken, r.n_unfetched,
                 r.broken_share_milli)
        for r in G.link_rot(edges, status).collect()
    }
    assert got == {
        "s.com": (5, 2, 2, 1, 400),
        "other.com": (1, 0, 1, 0, 1000),
        "flap.com": (1, 0, 1, 0, 1000),
    }
