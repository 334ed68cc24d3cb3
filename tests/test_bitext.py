"""Margin-based bitext mining (Artetxe & Schwenk 2019) — differential
parity vs an independent pure-Python reference, hub suppression, mutual
dedup, pluggable-neighbor contract, threshold monotonicity."""

import math

from pyspark.sql import functions as F

from web_crawler_spark.operators.similarity import bitext_margin_pairs, knn_join


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return round(d / (na * nb), 6)


def _ref_mine(xs, ys, k, threshold):
    """Independent reference: rounded cosines, (cos desc, id) top-k,
    in-order mean, ratio margin, max-strategy nominations."""
    def topk(qs, cs):
        out = {}
        for qid, qv in qs.items():
            sc = sorted(
                ((_cos(qv, cv), cid) for cid, cv in cs.items()),
                key=lambda t: (-t[0], t[1]),
            )[:k]
            out[qid] = sc
        return out

    xy, yx = topk(xs, ys), topk(ys, xs)
    ax = {q: sum(c for c, _ in nn) / len(nn) for q, nn in xy.items()}
    ay = {q: sum(c for c, _ in nn) / len(nn) for q, nn in yx.items()}
    pairs = set()
    for xid, nn in xy.items():
        best = max(nn, key=lambda t: (round(t[0] / ((ax[xid] + ay[t[1]]) / 2), 6), -t[1]))
        m = round(best[0] / ((ax[xid] + ay[best[1]]) / 2), 6)
        if m >= threshold:
            pairs.add((xid, best[1], best[0], m))
    for yid, nn in yx.items():
        best = max(nn, key=lambda t: (round(t[0] / ((ax[t[1]] + ay[yid]) / 2), 6), -t[1]))
        m = round(best[0] / ((ax[best[1]] + ay[yid]) / 2), 6)
        if m >= threshold:
            pairs.add((best[1], yid, best[0], m))
    return pairs


def _vecs(n, dim, salt, offset=0):
    """Deterministic pseudo-vectors from integer hashing (no RNG)."""
    return {
        offset + i: [
            ((i * 37 + j * 17 + salt) % 19) - 9.0 + 0.5 * ((i + j) % 3)
            for j in range(dim)
        ]
        for i in range(0, 2 * n, 2)
    }


def _mine_spark(spark, xs, ys, k, threshold, **kw):
    xdf = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in xs.items()],
        "vec_id long, embedding array<double>",
    )
    ydf = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in ys.items()],
        "vec_id long, embedding array<double>",
    )
    rows = bitext_margin_pairs(xdf, ydf, k=k, threshold=threshold, **kw).collect()
    return {(r["x_id"], r["y_id"], r["cosine"], r["margin"]) for r in rows}, (xdf, ydf)


def test_reference_parity(spark):
    xs = _vecs(12, 8, salt=3)            # even ids
    ys = {i + 1: v for i, v in _vecs(12, 8, salt=11).items()}  # odd ids
    for k, t in [(3, 1.0), (4, 1.02)]:
        got, _ = _mine_spark(spark, xs, ys, k, t)
        assert got == _ref_mine(xs, ys, k, t), (k, t)


def test_planted_translations_mined_hub_suppressed(spark):
    """Planted near-identical pairs (x_i, y_i) mine; a hub vector close to
    EVERYTHING has an inflated denominator and never wins a nomination."""
    base = _vecs(8, 6, salt=5)
    xs = dict(base)
    ys = {i + 1: [v + 0.01 * (j % 2) for j, v in enumerate(vec)]
          for i, vec in base.items()}
    # hub: the centroid of all x vectors — cosine-close to every x
    dim = 6
    hub = [sum(vec[j] for vec in xs.values()) / len(xs) for j in range(dim)]
    ys[999] = hub
    got, _ = _mine_spark(spark, xs, ys, k=4, threshold=1.0)
    mined_y = {y for _, y, _, _ in got}
    planted = {i + 1 for i in xs}
    assert planted & mined_y, "planted translations not mined"
    hub_pairs = {(x, y) for x, y, _, _ in got if y == 999}
    # the hub may at most be nominated by itself (bwd), never by many xs
    assert len(hub_pairs) <= 1


def test_mutual_nomination_appears_once(spark):
    xs = {0: [1.0, 0.0, 0.0], 2: [0.0, 1.0, 0.0]}
    ys = {1: [1.0, 0.001, 0.0], 3: [0.0, 1.0, 0.001]}
    got, _ = _mine_spark(spark, xs, ys, k=2, threshold=0.0)
    keys = [(x, y) for x, y, _, _ in got]
    assert len(keys) == len(set(keys))
    assert (0, 1) in keys and (2, 3) in keys


def test_pluggable_neighbors_identical(spark):
    xs = _vecs(10, 6, salt=7)
    ys = {i + 1: v for i, v in _vecs(10, 6, salt=13).items()}
    got_default, (xdf, ydf) = _mine_spark(spark, xs, ys, 3, 1.0)
    nxy = knn_join(ydf, k=3, queries=xdf)
    nyx = knn_join(xdf, k=3, queries=ydf)
    rows = bitext_margin_pairs(
        xdf, ydf, k=3, threshold=1.0, neighbors_xy=nxy, neighbors_yx=nyx
    ).collect()
    got_plugged = {(r["x_id"], r["y_id"], r["cosine"], r["margin"]) for r in rows}
    assert got_plugged == got_default


def test_threshold_monotonicity(spark):
    xs = _vecs(10, 6, salt=9)
    ys = {i + 1: v for i, v in _vecs(10, 6, salt=21).items()}
    lo, _ = _mine_spark(spark, xs, ys, 3, 1.0)
    hi, _ = _mine_spark(spark, xs, ys, 3, 1.05)
    assert hi <= lo
    assert all(m >= 1.05 for *_, m in hi)


def test_cross_set_lsh_exhaustive_equals_exact(spark):
    """With n_planes=1 and multiprobe, every query probes BOTH buckets, so
    the cross-set LSH candidate set is complete and the whole bitext
    pipeline must equal the exact-kNN variant bit-for-bit."""
    from web_crawler_spark.operators.similarity import (
        bitext_margin_pairs,
        knn_join_lsh,
    )

    xs = _vecs(10, 6, salt=4)
    ys = {i + 1: v for i, v in _vecs(10, 6, salt=17).items()}
    exact, (xdf, ydf) = _mine_spark(spark, xs, ys, 3, 1.0)
    nxy = knn_join_lsh(ydf, k=3, queries=xdf, n_planes=1)
    nyx = knn_join_lsh(xdf, k=3, queries=ydf, n_planes=1)
    rows = bitext_margin_pairs(
        xdf, ydf, k=3, threshold=1.0, neighbors_xy=nxy, neighbors_yx=nyx
    ).collect()
    got = {(r["x_id"], r["y_id"], r["cosine"], r["margin"]) for r in rows}
    assert got == exact


def test_cross_set_lsh_no_self_exclusion(spark):
    """Cross-set mode must NOT drop id collisions across sides: the same
    id in queries and corpus refers to different vectors."""
    from web_crawler_spark.operators.similarity import knn_join_lsh

    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    c = spark.createDataFrame(
        [(1, [1.0, 0.001]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {(r["vec_id"], r["nb_id"])
           for r in knn_join_lsh(c, k=2, queries=q,
                                 n_planes=1).collect()}
    assert (1, 1) in got  # the collision pair is a real neighbor
