"""Product quantization (Jégou et al. 2011): codebooks and ADC top-k."""
import pytest

from web_crawler_spark.operators.similarity import (
    pq_codebooks,
    pq_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).localCheckpoint(eager=True)


def test_codebooks_shape_and_determinism(emb):
    b1 = pq_codebooks(emb, m=4, n_codes=8)
    b2 = pq_codebooks(emb, m=4, n_codes=8)
    assert b1 == b2
    assert len(b1) == 4 and len(b1[0]) == 8 and len(b1[0][0]) == 4


def test_adc_ranks_identical_vector_first(spark):
    # vec 0 is the query itself: its reconstruction is the closest possible
    base = [1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 0.0]
    rows = [(0, base), (1, [x + 5.0 for x in base]), (2, [x - 5.0 for x in base])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = pq_topk(df, base, k=3, m=4, n_codes=3).collect()
    assert got[0]["vec_id"] == 0 and got[0]["adc_dist"] == 0.0


def test_arrow_kernel_null_routes_bad_vectors(spark, emb):
    books = pq_codebooks(emb, m=4, n_codes=8)
    q = [0.0] * 16
    bad = spark.createDataFrame(
        [(900, None), (901, [1.0] * 3)],
        "vec_id long, embedding array<float>",
    )
    out = pq_topk(bad.union(emb), q, k=500, codebooks=books).collect()
    ids = {r["vec_id"] for r in out}
    # bad rows sort last (NULL adc) but never fail the stage
    assert 0 in ids and len(out) >= 200
    scored = {r["vec_id"]: r["adc_dist"] for r in out}
    for bad_id in (900, 901):
        if bad_id in scored:
            assert scored[bad_id] is None  # SQL NULL, not NaN


def test_train_reduces_quantization_error(emb):
    import math

    from web_crawler_spark.operators.similarity import pq_train

    local = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.collect()}

    def total_err(books):
        dsub = len(books[0][0])
        err = 0.0
        for v in local.values():
            for s, bs in enumerate(books):
                sub = v[s * dsub:(s + 1) * dsub]
                err += min(
                    sum((a - b) ** 2 for a, b in zip(sub, cw)) for cw in bs
                )
        return math.sqrt(err)

    sampled = pq_codebooks(emb, m=4, n_codes=8)
    trained = pq_train(emb, m=4, n_codes=8, iters=2)
    assert len(trained) == 4 and len(trained[0]) == 8
    assert total_err(trained) < total_err(sampled)


def test_semdedup_marks_higher_id_within_cluster(spark):
    from web_crawler_spark.operators.similarity import semdedup

    base = [1.0, 0.0, 2.0, 0.0, 0.0, 1.0, 0.5, 0.0]
    other = [-1.0, 2.0, 0.0, 1.0, 0.0, -2.0, 0.0, 1.0]
    rows = [(0, base), (1, other),
            (2, base),                      # exact dup of 0 -> same cluster
            (3, [x * 2.0 for x in base])]   # colinear: cosine 1.0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in
           semdedup(df, n_clusters=2, threshold=0.99).collect()}
    assert len(got) == 4
    assert got[0]["is_dup"] is False          # lowest id survives
    assert got[2]["is_dup"] is True
    assert got[0]["cid"] == got[2]["cid"]     # identical vector, same cluster
    assert got[1]["is_dup"] is False
    # colinear vector: cosine 1.0 but only a dup if it shares the cluster
    if got[3]["cid"] == got[0]["cid"]:
        assert got[3]["is_dup"] is True


def test_semdedup_external_centroids_and_empty(spark):
    from web_crawler_spark.operators.similarity import semdedup

    df = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.99, 0.01]), (9, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = {r["vec_id"]: r for r in
           semdedup(df, centroids=cents, threshold=0.9).collect()}
    assert got[7]["cid"] == 0 and got[8]["cid"] == 0 and got[9]["cid"] == 1
    assert got[8]["is_dup"] is True and got[7]["is_dup"] is False
    assert got[9]["is_dup"] is False
    empty = df.limit(0)
    assert semdedup(empty, n_clusters=4).count() == 0
