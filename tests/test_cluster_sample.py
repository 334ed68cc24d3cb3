"""cluster_quota_sample: cluster-balanced subsampling (similarity.py) —
quota arithmetic, md5-draw determinism, small-cluster exhaustion, slim
plan shape."""

import hashlib

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.operators import similarity as SIM

# two well-separated clusters on a line: ids 0..5 near 0.0, ids 10..15
# near 100.0
ROWS = [(i, [float(i % 6)]) for i in range(6)] + [
    (i, [100.0 + float(i % 6)]) for i in range(10, 16)
]
CENTS = [[0.0], [100.0]]


def _df(spark, rows=None):
    return spark.createDataFrame(
        rows or ROWS, "vec_id long, embedding array<double>"
    )


def _draw(vid, salt="cqs"):
    return hashlib.md5(f"{salt}:{vid}".encode()).hexdigest()


def test_quota_split_and_md5_selection(spark):
    out = SIM.cluster_quota_sample(
        _df(spark), n_keep=5, centroids=CENTS
    ).collect()
    by_cid = {}
    for r in out:
        by_cid.setdefault(r["cid"], []).append(r)
    # n_keep=5 over k=2 -> quota 3 for cid 0, 2 for cid 1
    assert len(by_cid[0]) == 3 and len(by_cid[1]) == 2
    # the kept members are the lowest md5 draws, rk follows draw order
    for cid, members in [(0, range(6)), (1, range(10, 16))]:
        expect = sorted(members, key=lambda v: (_draw(v), v))[: len(by_cid[cid])]
        got = [r["vec_id"] for r in sorted(by_cid[cid], key=lambda r: r["rk"])]
        assert got == expect


def test_small_cluster_exhausted_no_redistribution(spark):
    # cluster 1 has only 2 members but quota 5 -> yields both, total < n_keep
    rows = [(i, [0.0]) for i in range(20)] + [(100, [50.0]), (101, [50.0])]
    out = SIM.cluster_quota_sample(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        n_keep=10,
        centroids=[[0.0], [50.0]],
    ).collect()
    c1 = [r for r in out if r["cid"] == 1]
    assert sorted(r["vec_id"] for r in c1) == [100, 101]
    assert len([r for r in out if r["cid"] == 0]) == 5
    assert len(out) == 7


def test_empty_inputs(spark):
    assert SIM.cluster_quota_sample(_df(spark), 0, centroids=CENTS).count() == 0
    empty = _df(spark).limit(0)
    assert SIM.cluster_quota_sample(empty, 5, centroids=CENTS).count() == 0
    # no centroids derivable from an empty frame either
    assert SIM.cluster_quota_sample(empty, 5, n_clusters=4).count() == 0


def test_plan_is_join_free_and_slim(spark):
    plan = SIM.cluster_quota_sample(
        _df(spark), n_keep=5, centroids=CENTS
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Cartesian" not in plan
    # the embedding column must not cross the window exchanges — it is
    # projected away before any Exchange
    for frag in plan.split("Exchange")[1:]:
        assert "embedding" not in frag.split("+- ")[0]
