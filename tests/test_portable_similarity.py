"""Cross-implementation checks for the md5-portable similarity paths.

The Arrow LSH bucket kernel, the portable simhash_stage and the md5
centroid pick are each verified against an independent pure-Python
hashlib/md5 reference — the same computation a third engine would run — so
the oracle-checked queries rest on two independent implementations plus
the DuckDB oracle, not on Spark agreeing with itself.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from web_crawler_spark.functions import vectors as V
from web_crawler_spark.operators import dedup as D
from web_crawler_spark.operators import similarity as SIM


def _py_lsh_bucket(vec, n_planes: int, seed: int = 7) -> int:
    bucket = 0
    for p in range(n_planes):
        acc = 0.0
        for i, x in enumerate(vec):
            nib = int(hashlib.md5(f"lsh{seed}:{p}:{i}".encode()).hexdigest()[0], 16)
            acc += float(x) if nib % 2 == 0 else -float(x)
        if acc > 0:
            bucket += 1 << p
    return bucket


def _py_simhash60(text: str | None) -> int:
    if text is None:
        return 0
    toks = list(dict.fromkeys(text.lower().strip().split()))
    if text.lower().strip() == "":
        toks = []
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
    out = 0
    for b in range(60):
        vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
        if vote > 0:
            out |= 1 << b
    return out


VECS = [
    (0, [0.5, -1.25, 3.0, 0.125]),
    (1, [-0.75, 2.0, -0.5, 1.5]),
    (2, [1.0, 1.0, 1.0, 1.0]),
    (3, [-2.5, 0.25, -0.125, -1.0]),
]


def _arrow_buckets(spark, n_planes):
    df = spark.createDataFrame(VECS, ["vec_id", "embedding"])
    return {
        r["id"]: r["bucket"]
        for r in SIM._arrow_bucket_stage(df, n_planes, "vec_id", "embedding").collect()
    }


def test_arrow_lsh_bucket_matches_python(spark):
    got = _arrow_buckets(spark, 5)
    want = {vid: _py_lsh_bucket(vec, 5) for vid, vec in VECS}
    assert got == want
    assert {vid: SIM._py_lsh_bucket(vec, 5) for vid, vec in VECS} == want


def test_arrow_lsh_bucket_matches_duckdb(spark):
    duckdb = pytest.importorskip("duckdb")
    got = _arrow_buckets(spark, 5)
    con = duckdb.connect()
    con.execute("CREATE TABLE v (vec_id INT, embedding DOUBLE[])")
    for vid, vec in VECS:
        con.execute("INSERT INTO v VALUES (?, ?)", [vid, vec])
    sql = V.duckdb_lsh_bucket_sql("embedding", 5)
    want = dict(con.execute(f"SELECT vec_id, {sql} FROM v").fetchall())
    assert got == want


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "completely different text about spark engines and shuffles"),
    (3, ""),
    (4, None),
    (5, "  leading and   trailing   whitespace  "),
]


def test_portable_simhash_matches_python(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        r["id"]: r["simhash"]
        for r in D.simhash_stage(df, "text", "doc_id", portable=True).collect()
    }
    want = {i: _py_simhash60(t) for i, t in DOCS}
    assert got == want
    assert all(0 <= v < (1 << 60) for v in got.values())


def test_portable_simhash_pairs_find_near_dup(spark):
    base = " ".join(f"word{i} token{i} item{i}" for i in range(20))
    near = base.replace("word7", "altered", 1)
    far = " ".join(f"zzz{i} qqq{i} kkk{i}" for i in range(20))
    docs = [(0, base), (1, near), (2, far)]
    # pin the premise with the python reference before asserting on Spark
    h0, h1, h2 = (_py_simhash60(t) for _, t in docs)
    assert bin(h0 ^ h1).count("1") <= 17
    assert bin(h0 ^ h2).count("1") > 17
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_dedup_pairs(
            df, "text", "doc_id", max_hamming=17, portable=True
        ).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_portable_ivf_centroid_pick_matches_python(spark):
    df = spark.createDataFrame(VECS, ["vec_id", "embedding"])
    # portable centroid ordering = md5('ivf42:' || cid) lexicographic
    want_order = sorted(
        (hashlib.md5(f"ivf42:{vid}".encode()).hexdigest(), vid) for vid, _ in VECS
    )
    out = SIM.ivf_topk(
        df, [0.5, -1.25, 3.0, 0.125], k=4, n_centroids=2, n_probe=2
    ).collect()
    # every returned vector is assigned to one of the two chosen centroids'
    # probe set; the query vector itself (vec_id 0, distance 0) must hit
    ids = [r["vec_id"] for r in out]
    assert 0 in ids
    picked = SIM._md5_pick(df, "embedding", "vec_id", "ivf42:", 2)
    assert [cid for cid, _ in picked] == [vid for _, vid in want_order[:2]]


def test_portable_lsh_topk_contains_query_row(spark):
    df = spark.createDataFrame(VECS, ["vec_id", "embedding"])
    out = SIM.lsh_topk(df, [0.5, -1.25, 3.0, 0.125], k=4, n_planes=4).collect()
    ids = [r["vec_id"] for r in out]
    assert 0 in ids  # identical vector always lands in the query bucket
    assert out[0]["cosine"] == pytest.approx(1.0)


def test_arrow_cosine_rounds_half_away_from_zero(spark):
    """cos = ±1/128 = ±0.0078125 exactly (|c| = 128): DuckDB's ROUND and
    Spark's F.round both give ±0.007813; round-half-to-even would give
    ±0.007812."""
    duckdb = pytest.importorskip("duckdb")
    q, c = [1.0, 0.0, 0.0, 0.0, 0.0], [1.0, 127.0, 15.0, 5.0, 2.0]
    df = spark.createDataFrame(
        [(0, q), (1, c), (2, [-x for x in q])], ["vec_id", "embedding"]
    )
    got = {
        (r["vec_id"], r["nb_id"]): r["cosine"]
        for r in SIM.knn_join_lsh(df, k=2, n_planes=1).collect()
    }
    assert got[(0, 1)] == got[(1, 0)] == 0.007813
    assert got[(2, 1)] == got[(1, 2)] == -0.007813
    want = duckdb.sql(
        "SELECT round(0.0078125::DOUBLE, 6), round(-0.0078125::DOUBLE, 6)"
    ).fetchone()
    assert want == (0.007813, -0.007813)


def test_knn_join_matches_bruteforce_python(spark):
    import itertools

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return round(num / den, 6)

    df = spark.createDataFrame(VECS, ["vec_id", "embedding"])
    got = {
        (r["vec_id"], r["nb_id"]): r["cosine"]
        for r in SIM.knn_join(df, k=2).collect()
    }
    want = {}
    for vid, vec in VECS:
        nbs = sorted(
            ((cos(vec, v2), -i2) for i2, v2 in VECS if i2 != vid), reverse=True
        )[:2]
        for c, negi in nbs:
            want[(vid, -negi)] = c
    assert got == want


def test_knn_join_lsh_recall_vs_exact(spark):
    import random

    rng = random.Random(5)
    data = [
        (i, [rng.gauss(cl, 0.15) for _ in range(8)])
        for i, cl in ((j, j % 3) for j in range(90))
    ]
    df = spark.createDataFrame(data, ["vec_id", "embedding"]).repartition(4)
    exact = {
        (r["vec_id"], r["nb_id"]) for r in SIM.knn_join(df, k=3).collect()
    }
    approx = {
        (r["vec_id"], r["nb_id"])
        for r in SIM.knn_join_lsh(df, k=3, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall  # bucketed candidates, rank-1 multiprobe


def test_kmeans_centroids_converge_on_blobs(spark):
    import random

    rng = random.Random(11)
    centers = [[0.0] * 4, [10.0] * 4, [-10.0, 10.0, -10.0, 10.0]]
    data = [
        (i, [c + rng.gauss(0, 0.2) for c in centers[i % 3]])
        for i in range(150)
    ]
    df = spark.createDataFrame(data, ["vec_id", "embedding"]).repartition(4)
    cents = SIM.kmeans_centroids(df, n_centroids=3, iters=6)
    assert len(cents) == 3
    # every true center has a trained centroid within 0.5 L2
    for tc in centers:
        best = min(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(tc, cv)))
            for _, cv in cents
        )
        assert best < 0.5, (tc, cents)


def test_ivf_topk_with_trained_centroids(spark):
    import random

    rng = random.Random(7)
    data = [
        (i, [rng.gauss(i % 4, 0.1) for _ in range(6)]) for i in range(80)
    ]
    df = spark.createDataFrame(data, ["vec_id", "embedding"]).repartition(4)
    cents = SIM.kmeans_centroids(df, n_centroids=4, iters=4)
    q = data[0][1]
    got = SIM.ivf_topk(df, q, k=5, centroids=cents, n_probe=2).collect()
    assert got[0]["vec_id"] == 0  # the query row itself tops the list
    assert len(got) == 5


def test_knn_join_lsh_modes_agree_and_auto_rule(spark):
    """probe_carry='vector' and ='rejoin' are two physical plans for the
    same logical operator — identical output; 'auto' picks by density."""
    import random

    rng = random.Random(5)
    data = [
        (i, [rng.gauss(cl, 0.15) for _ in range(8)])
        for i, cl in ((j, j % 3) for j in range(90))
    ]
    df = spark.createDataFrame(data, ["vec_id", "embedding"]).repartition(4)

    def run(**kw):
        return sorted(
            (r["vec_id"], r["nb_id"], r["cosine"])
            for r in SIM.knn_join_lsh(df, k=3, n_planes=4, **kw).collect()
        )

    carry = run(probe_carry="vector")
    rejoin = run(probe_carry="rejoin")
    assert carry == rejoin and len(carry) > 0
    # auto: 90 rows / 2^4 buckets = 5.6 > 1 → vector; 90 / 2^9 < 1 → rejoin
    assert run(probe_carry="auto") == carry
    hi = sorted(
        (r["vec_id"], r["nb_id"])
        for r in SIM.knn_join_lsh(
            df, k=3, n_planes=9, probe_carry="auto"
        ).collect()
    )
    assert hi == sorted(
        (r["vec_id"], r["nb_id"])
        for r in SIM.knn_join_lsh(
            df, k=3, n_planes=9, probe_carry="rejoin"
        ).collect()
    )


def test_knn_join_lsh_rejoin_no_vector_crosses_bucket_join(spark):
    """Plan-shape contract for probe_carry='rejoin': the exchanges feeding
    the bucket equi-join carry only (id, bucket) — the embedding column
    re-joins by id strictly after candidate generation."""
    import random

    rng = random.Random(7)
    data = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(data, ["vec_id", "embedding"]).repartition(4)
    out = SIM.knn_join_lsh(df, k=2, n_planes=8, probe_carry="rejoin")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the bucket join is the first join in the plan (innermost); its two
    # child exchanges must not ship any vector column
    lines = plan.splitlines()
    join_idx = [
        i for i, ln in enumerate(lines)
        if "Join" in ln and "bucket" in ln
    ]
    assert join_idx, plan
    bucket_join_region = "\n".join(lines[join_idx[-1]:])
    for ln in bucket_join_region.splitlines():
        if "Exchange hashpartitioning(bucket" in ln:
            assert "vec" not in ln and "qv" not in ln and "cv" not in ln, ln
    # and the hashpartitioning(bucket) exchanges exist and are slim
    assert "Exchange hashpartitioning(bucket" in bucket_join_region


def test_partial_topk_stage_is_pure_subset_filter(spark):
    scored = spark.createDataFrame(
        [
            ("q1", f"n{i}", 1.0 - i * 0.01) for i in range(30)
        ] + [("q2", "nx", None), ("q2", "ny", 0.5)],
        ["vec_id", "nb_id", "cosine"],
    ).repartition(1)
    kept = SIM._partial_topk_stage(scored, 3).collect()
    by_q = {}
    for r in kept:
        by_q.setdefault(r["vec_id"], []).append((r["nb_id"], r["cosine"]))
    assert sorted(by_q["q1"]) == [("n0", 1.0), ("n1", 0.99), ("n2", 0.98)]
    # NULL cosine sheds first but survives when under k rows total
    assert ("ny", 0.5) in by_q["q2"]


# --- lsh_plan S-curve planner ----------------------------------------------

def test_lsh_plan_matches_pure_python(spark):
    from web_crawler_spark.operators.similarity import lsh_plan

    got = {
        (r["bands"], r["rows"]): r
        for r in lsh_plan(spark, n_hashes=16, threshold=0.5).collect()
    }
    import math

    for (b, r), row in got.items():
        assert b * r == 16
        fp = fn = 0.0
        for i in range(1, 100):
            s = i / 100.0
            p = 1.0 - (1.0 - s ** float(r)) ** float(b)
            if s < 0.5:
                fp += p
            elif s > 0.5:
                fn += 1.0 - p
        assert row["fp_mass"] == round(fp / 100.0, 6)
        assert row["fn_mass"] == round(fn / 100.0, 6)
        assert row["t_star"] == round((1.0 / b) ** (1.0 / r), 6)
    assert sum(1 for r in got.values() if r["is_best"]) == 1


def test_lsh_plan_fn_weight_pushes_toward_more_bands(spark):
    from web_crawler_spark.operators.similarity import lsh_plan

    balanced = {
        r["is_best"]: r["bands"]
        for r in lsh_plan(spark, 64, 0.5).collect()
    }[True]
    recall_heavy = {
        r["is_best"]: r["bands"]
        for r in lsh_plan(spark, 64, 0.5, fn_weight=20.0).collect()
    }[True]
    # weighting false negatives harder never chooses FEWER bands: more
    # bands raise P(s) everywhere, trading fp for fn
    assert recall_heavy >= balanced
