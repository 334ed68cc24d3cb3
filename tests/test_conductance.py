"""community_conductance (graph.py): closed-form cut/volume values —
two triangles + bridge, whole-graph NULL, isolated community, a leaky
label."""

import pytest

from web_crawler_spark.operators import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_host string, dst_host string")


def _labels(spark, d):
    return spark.createDataFrame(list(d.items()), "node string, label string")


def test_two_triangles_with_bridge(spark):
    tri1 = [("a1", "a2"), ("a2", "a3"), ("a3", "a1")]
    tri2 = [("b1", "b2"), ("b2", "b3"), ("b3", "b1")]
    bridge = [("a1", "b1")]
    labels = {n: "A" for n in ("a1", "a2", "a3")}
    labels.update({n: "B" for n in ("b1", "b2", "b3")})
    out = {
        r["label"]: r
        for r in G.community_conductance(
            _edges(spark, tri1 + tri2 + bridge), _labels(spark, labels)
        ).collect()
    }
    # 2m = 14; vol(A) = 7 (6 intra-orientations + 1 bridge), cut(A) = 1
    for lbl in ("A", "B"):
        assert out[lbl]["vol_w"] == 7
        assert out[lbl]["cut_w"] == 1
        assert out[lbl]["n_nodes"] == 3
        assert out[lbl]["conductance"] == pytest.approx(1 / 7, abs=1e-6)


def test_whole_graph_community_null(spark):
    tri = [("a", "b"), ("b", "c"), ("c", "a")]
    out = G.community_conductance(
        _edges(spark, tri), _labels(spark, {"a": "X", "b": "X", "c": "X"})
    ).collect()
    # min(vol, 2m - vol) = min(6, 0) = 0 -> NULL
    assert out[0]["conductance"] is None and out[0]["cut_w"] == 0


def test_isolated_node_community(spark):
    out = {
        r["label"]: r
        for r in G.community_conductance(
            _edges(spark, [("a", "b")]),
            _labels(spark, {"a": "X", "b": "X", "z": "Z"}),
        ).collect()
    }
    assert out["Z"]["vol_w"] == 0 and out["Z"]["conductance"] is None


def test_leaky_label(spark):
    # node c labelled with A but only linked to B's node: pure leakage
    edges = [("a", "b"), ("c", "d")]
    labels = {"a": "A", "b": "A", "c": "A", "d": "D"}
    out = {
        r["label"]: r
        for r in G.community_conductance(
            _edges(spark, edges), _labels(spark, labels)
        ).collect()
    }
    # vol(A)=3 (a-b both orientations + c->d), cut(A)=1, 2m=4
    assert out["A"]["vol_w"] == 3 and out["A"]["cut_w"] == 1
    assert out["A"]["conductance"] == pytest.approx(1 / 1, abs=1e-6)  # min(3, 4-3)=1
    assert out["D"]["vol_w"] == 1 and out["D"]["cut_w"] == 1
    assert out["D"]["conductance"] == pytest.approx(1.0, abs=1e-6)
