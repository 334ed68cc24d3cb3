"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``      exact brute-force scan — the correctness baseline.
  One projection + TakeOrderedAndProject; at 100 TB this is a full-corpus
  scan but embarrassingly parallel (no shuffle until the final top-k heap
  merge on the driver-side reduce).
- ``lsh_topk``         sign-random-projection buckets: probe only vectors in
  the query's bucket and its rank-1 multiprobe neighbors. Cuts the scan by
  ~2^n_planes at a small recall cost — the scale path.
- ``ivf_topk``         IVF-style coarse quantizer built from a sampled set of
  centroid rows: assign each vector to its nearest centroid via an argmin
  over a broadcast array-of-centroids EXPRESSION (zero joins, zero
  shuffles, no row inflation), probe the closest ``n_probe`` centroids.

Bucket counts scale with the corpus: when ``n_planes`` is not given it is
derived as ``max(6, ceil(log2(n)) - 8)`` — ~2^8 vectors per bucket — so the
within-bucket candidate join stays linear-ish as the corpus grows instead
of quadratic-in-(n/2^6). The corpus size comes from one count job; callers
that know the size pass ``n_planes`` instead.

One execution path per operator, and it is the oracle-certified one:

* the per-row array arithmetic of the approximate operators runs in
  Arrow-batched numpy kernels (``_arrow_bucket_stage``: one
  (rows×dim)·(dim×planes) matmul per batch; ``_arrow_cosine_stage``: one
  einsum per candidate batch; ``_arrow_pq_stage``: per-subspace distance
  matrices). Interpreted higher-order-function expressions cost ~10 µs/row
  of boxing — they never enter whole-stage codegen. The LSH planes are
  md5-parity signs (``_plane_signs``) that a SQL engine reproduces with
  ``V.duckdb_lsh_bucket_sql``; kernel outputs are rounded half away from
  zero to 6 decimals (``_round6``, DuckDB's ``ROUND``), which hides the
  last-ulp summation-order difference from a left-fold.
* sampled centroids and codebooks are the first rows in
  ``md5(salt || id)`` order (``_md5_pick``), and assignment is the argmin
  of round-6 l2 distances with ties to the lower id (``_nearest_cid``) —
  both reproducible verbatim by the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V


def _query_lit(query_vec: list[float]):
    return F.array(*[F.lit(float(x)) for x in query_vec])


def auto_n_planes(n_rows: int, floor: int = 6) -> int:
    """Bucket-count sizing: aim for ~2^8 vectors per bucket, never fewer
    than 2^floor buckets. log2(10^6)-8 → 12 planes / 4096 buckets;
    log2(10^10)-8 → 25 planes — candidate-join work stays bounded."""
    return max(floor, math.ceil(math.log2(max(n_rows, 2))) - 8)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    q = _query_lit(query_vec)
    return (
        df.select(
            F.col(id_col),
            F.round(V.cosine(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
) -> DataFrame:
    """Probe the query's LSH bucket plus every bucket one bit flip away
    (rank-1 multiprobe: n_planes+1 buckets). ``n_planes`` defaults to
    ``auto_n_planes`` of the corpus count. The corpus is bucketed by the
    Arrow md5-parity sign projection; the single query bucket is the same
    projection computed driver-side (no job), so a SQL oracle reproduces
    the exact probe set."""
    if n_planes is None:
        n_planes = auto_n_planes(df.count())
    bucketed = _arrow_bucket_stage(df, n_planes, id_col, vec_col).select(
        F.col("id").alias(id_col), F.col("vec").alias(vec_col), "bucket"
    )
    qb = _py_lsh_bucket(query_vec, n_planes)
    probes = {qb} | {qb ^ (1 << p) for p in range(n_planes)}
    return (
        bucketed.filter(F.col("bucket").isin(*probes))
        .select(
            F.col(id_col),
            F.round(V.cosine(F.col(vec_col), _query_lit(query_vec)), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _plane_signs(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Sign of dimension i in LSH plane p: +1 when the first hex nibble of
    md5('lsh{seed}:{p}:{i}') is even, else -1 — computable verbatim by any
    SQL engine with ``md5`` (``V.duckdb_lsh_bucket_sql``)."""
    def sign(p: int, i: int) -> float:
        nib = int(hashlib.md5(f"lsh{seed}:{p}:{i}".encode()).hexdigest()[0], 16)
        return 1.0 if nib % 2 == 0 else -1.0

    return [[sign(p, i) for i in range(dim)] for p in range(n_planes)]


def _py_lsh_bucket(vec: list[float], n_planes: int, seed: int = 7) -> int:
    """Driver-side bucket of one query vector (no reason to launch a job).
    Sums left to right like the oracle's fold; ``_arrow_bucket_stage``'s
    matmul may sum in another order, so a near-zero projection could in
    principle flip — which is exactly the multiprobe's job."""
    bucket = 0
    for p, signs in enumerate(_plane_signs(n_planes, len(vec), seed)):
        acc = 0.0
        for s, x in zip(signs, vec):
            acc += s * float(x)
        if acc > 0:
            bucket += 1 << p
    return bucket


def _round6(a):
    """Round half away from zero to 6 decimals on the raw double: DuckDB's
    ``ROUND(x, 6)`` (``std::round(x·10⁶) / 10⁶``); Spark's ``F.round`` is
    HALF_UP too. ``np.round`` rounds half to even, so it would print
    ±1/128 as ±0.007812 where both engines print ±0.007813."""
    y = np.asarray(a, dtype=np.float64) * 1e6
    t = np.trunc(y)
    return (t + np.where(np.abs(y - t) >= 0.5, np.sign(y), 0.0)) / 1e6


def _md5_pick(
    df: DataFrame, vec_col: str, id_col: str, salt: str, n: int
) -> list[tuple]:
    """[(id, [float, ...]), ...] of the first ``n`` rows in
    (md5(salt || id), id) order — the deterministic centroid/codeword
    sample every SQL engine (the oracle) reproduces."""
    rows = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy(
            F.md5(F.concat(F.lit(salt), F.col("cid").cast("string"))),
            F.col("cid"),
        )
        .limit(n)
        .collect()
    )
    return [(r["cid"], [float(x) for x in r["cvec"]]) for r in rows]


def _nearest_cid(vec: Column, cents: list[tuple]) -> Column:
    """cid of the centroid nearest to ``vec`` among ``cents`` =
    [(cid, [float, ...]), ...]: ``array_min`` over
    ``struct(round(l2, 6), cid)`` of a broadcast array-of-centroids
    literal. Struct ordering breaks distance ties on the lower cid, and
    rounding first keeps a double-summation-order difference between
    engines from flipping a near-tie. Zero joins, zero shuffles, no row
    inflation — the stage stays embarrassingly parallel."""
    cent_arr = F.array(*[
        F.struct(
            F.array(*[F.lit(x) for x in cv]).alias("cvec"),
            F.lit(cid).alias("cid"),
        )
        for cid, cv in cents
    ])
    return F.array_min(
        F.transform(
            cent_arr,
            lambda c: F.struct(
                F.round(V.l2_distance(vec, c["cvec"]), 6).alias("d"),
                c["cid"].alias("cid"),
            ),
        )
    )["cid"]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[tuple] | None = None,
) -> DataFrame:
    """IVF with deterministic sampled centroids (``_md5_pick`` — a
    stand-in for k-means at small scale), or a pre-trained centroid set via
    ``centroids=[(cid, [float, ...]), ...]`` — feed it
    :func:`kmeans_centroids` output; at 100 TB the trained set is exactly
    this broadcast list.

    Every vector is assigned to its ``_nearest_cid`` (zero joins, zero
    shuffles, no row inflation) and only the vectors of the ``n_probe``
    centroids nearest to the query are scored.
    """
    if centroids is not None:
        cents = [(cid, [float(x) for x in cv]) for cid, cv in centroids]
    else:
        cents = _md5_pick(df, vec_col, id_col, f"ivf{seed}:", n_centroids)
    if not cents:
        return df.select(F.col(id_col), F.lit(0.0).alias("cosine")).limit(0)

    # probe set: driver-side argsort over the same IEEE double fold the JVM
    # expression uses (element-order sum, then sqrt), rounded like it
    def l2(u) -> float:
        acc = 0.0
        for x, y in zip(u, query_vec):
            acc += (float(x) - float(y)) ** 2
        return float(_round6(math.sqrt(acc)))

    probe_cids = [
        cid for cid, _ in sorted(
            ((cid, l2(cv)) for cid, cv in cents),
            key=lambda t: (t[1], t[0]),
        )[:n_probe]
    ]
    return (
        df.withColumn("cid", _nearest_cid(F.col(vec_col), cents))
        .filter(F.col("cid").isin(probe_cids))
        .select(
            F.col(id_col),
            F.round(V.cosine(F.col(vec_col), _query_lit(query_vec)), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def pairwise_cosine_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucket candidates then exact cosine —
    same verify-after-blocking discipline as MinHash-LSH text dedup.

    ``n_planes`` defaults to ``auto_n_planes`` of the corpus count so
    bucket population stays ~2^8 as the corpus grows. ``max_bucket``
    (per-bucket candidate cap, the df-cap trick) drops overfull buckets
    from candidate generation — at 100 TB a degenerate bucket (e.g.
    near-zero vectors all hashing together) would otherwise be a quadratic
    hot key; dropped buckets trade recall for a bounded join, and the drop
    is explicit, not silent.
    """
    if n_planes is None:
        n_planes = auto_n_planes(df.count())
    bucketed = _arrow_bucket_stage(df, n_planes, id_col, vec_col)
    if max_bucket is not None:
        sizes = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_bucket"))
        bucketed = (
            bucketed.join(sizes, "bucket")
            .filter(F.col("n_bucket") <= max_bucket)
            .drop("n_bucket")
        )
    cand = (
        bucketed.alias("a")
        .join(
            bucketed.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
    )
    scored = _arrow_cosine_stage(
        cand.select(
            F.col("a.id").alias("vec_id"),
            F.col("b.id").alias("nb_id"),
            F.col("a.vec").alias("qv"),
            F.col("b.vec").alias("cv"),
        )
    ).select(
        F.col("vec_id").alias("id_a"),
        F.col("nb_id").alias("id_b"),
        "cosine",
    )
    return scored.filter(F.col("cosine") >= threshold)


def knn_join(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Batch k-NN: the top-k cosine neighbors of EVERY vector (not one
    query) — the primitive behind embedding-cluster dedup, retrieval-based
    decontamination, and semantic grouping of a training corpus.

    Brute-force baseline: block-nested-loop self-join + per-query top-k
    window. Exact, oracle-checkable, O(n·m); right up to ~10^5 queries ×
    full corpus. At 100 TB use :func:`knn_join_lsh` (same output contract)
    — this exact variant stays the recall oracle over samples.

    Returns (vec_id, nb_id, cosine) with ties broken by nb_id, neighbors
    ordered best-first per query.
    """
    from pyspark.sql import Window

    q = (queries if queries is not None else df).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("qv")
    )
    c = df.select(F.col(id_col).alias("nb_id"), F.col(vec_col).alias("cv"))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.col("nb_id")
    )
    return (
        q.join(c, F.col("vec_id") != F.col("nb_id"))
        .select(
            "vec_id",
            "nb_id",
            F.round(V.cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def knn_join_lsh(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
    probe_carry: str = "auto",
    queries: DataFrame | None = None,
) -> DataFrame:
    """LSH-bucketed batch k-NN — the 100 TB path for :func:`knn_join`.

    Every corpus vector is bucketed ONCE (its own sign signature); the
    QUERY side probes its own bucket plus its rank-1 bit-flip neighbors
    (n_planes+1 probe buckets per query). An equi-join on the bucket id
    generates candidates; a per-query top-k ranks them.
    Pass ``queries`` for CROSS-SET k-NN (same id/vec column names): the
    query frame is bucketed with the SAME md5-parity planes and probes the
    ``df`` corpus — the LSH path for bitext mining and dense retrieval;
    self-pairs are only excluded in the self-kNN case (queries=None).
    Candidate work is |probes|·d where density d = corpus/2^n_planes
    (auto-sized to ~2^8), and because the corpus is single-bucketed while a
    query's probe buckets are pairwise distinct, a (query, neighbor) pair
    is generated at most once — no dedup pass is needed or performed.

    ``probe_carry`` picks which plan moves the vectors, because the two
    regimes invert the byte math (per query: v = vector bytes, p =
    n_planes+1 probes, d = bucket density):

    * ``"vector"``: probe rows carry qv through the bucket exchange —
      vector bytes shuffled ≈ p·v (qv to each probed bucket partition)
      + 1·v (corpus side); scoring is bucket-local and only slim
      (vec_id, nb_id, cosine) rows leave it. Optimal when d ≥ 1: any
      re-join alternative must move a vector per candidate PAIR, i.e.
      ≥ p·d·v bytes. This is the k-NN recall regime the auto-sized planes
      target (d ≈ 256), so "vector" is the auto choice there —
      pair-cardinality vector traffic at d=256 would be ~256× heavier.
    * ``"rejoin"``: both bucket-join sides are slim (id, bucket) — NO
      vector column crosses the bucket-join exchange (the gram re-join
      pattern of dedup.py::minhash_lsh_pairs); the candidate id-pairs then
      re-join cv by nb_id and qv by vec_id. Vector bytes ≈ 2·v + p·d·v
      (the second re-join's probe side carries the first vector at pair
      cardinality), which beats "vector" exactly when d < 1 — the
      high-selectivity regime (planes sized ABOVE auto so most probe
      buckets are empty or singleton; pairs ≪ probes), e.g. near-dup
      detection over embeddings with tight buckets.
    * ``"auto"``: d < 1 → "rejoin", else "vector".

    Either plan feeds a per-batch partial top-k (`_partial_topk_stage`) so
    the final per-query window shuffles ≤ k rows per (query, Arrow batch)
    instead of all p·d candidates. Recall is tunable with ``n_planes``
    (fewer planes, denser buckets); the exact :func:`knn_join` over a
    sample is the recall oracle.
    """
    from pyspark.sql import Window

    n_rows = None
    if n_planes is None:
        n_rows = df.count()
        n_planes = auto_n_planes(n_rows)
    base = _arrow_bucket_stage(
        df, n_planes, id_col, vec_col
    ).localCheckpoint(eager=True)
    qbase = base if queries is None else _arrow_bucket_stage(
        queries, n_planes, id_col, vec_col
    ).localCheckpoint(eager=True)
    self_knn = queries is None
    if probe_carry == "auto":
        if n_rows is None:
            n_rows = df.count()
        probe_carry = "rejoin" if n_rows / (1 << n_planes) < 1.0 else "vector"
    flips = F.array(
        F.col("bucket"),
        *(F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)),
    )
    if probe_carry == "rejoin":
        probes = qbase.select(
            F.col("id").alias("vec_id"), F.explode(flips).alias("bucket")
        )
        pair_ids = probes.join(
            base.select(F.col("id").alias("nb_id"), "bucket"), "bucket"
        )
        if self_knn:
            pair_ids = pair_ids.filter(F.col("vec_id") != F.col("nb_id"))
        pair_ids = pair_ids.select("vec_id", "nb_id")
        cand = (
            pair_ids.join(
                base.select(
                    F.col("id").alias("nb_id"), F.col("vec").alias("cv")
                ),
                "nb_id",
            )
            .join(
                qbase.select(
                    F.col("id").alias("vec_id"), F.col("vec").alias("qv")
                ),
                "vec_id",
            )
            .select("vec_id", "nb_id", "qv", "cv")
        )
    else:
        probes = qbase.select(
            F.col("id").alias("vec_id"),
            F.col("vec").alias("qv"),
            F.explode(flips).alias("bucket"),
        )
        cand = probes.join(
            base.select(
                F.col("id").alias("nb_id"),
                F.col("vec").alias("cv"),
                "bucket",
            ),
            "bucket",
        )
        if self_knn:
            cand = cand.filter(F.col("vec_id") != F.col("nb_id"))
        cand = cand.select("vec_id", "nb_id", "qv", "cv")
    # candidate scoring is the hot loop (|probes|×bucket density pairs):
    # interpreted HOF arithmetic costs ~10 µs/pair, the Arrow-batched
    # numpy kernel ~10 ns/pair
    scored = _arrow_cosine_stage(cand)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.col("nb_id"))
    return (
        _partial_topk_stage(scored, k)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def _partial_topk_stage(scored: DataFrame, k: int) -> DataFrame:
    """Map-side combine for the per-query top-k window: within each Arrow
    batch, keep only the k best (cosine desc, nb_id asc) rows per vec_id.
    The window's Exchange then moves ≤ k rows per (query, batch) instead of
    every scored candidate (~n_planes·density per query). Pure subset
    filter — a global top-k row is in the top-k of every subset containing
    it, so the window output is unchanged (NULL cosines from dirty-input
    rows sort last and are shed first)."""

    schema = scored.schema

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield (
                pdf.sort_values(
                    ["vec_id", "cosine", "nb_id"],
                    ascending=[True, False, True],
                    na_position="last",
                )
                .groupby("vec_id", sort=False)
                .head(k)
            )

    return scored.mapInPandas(gen, schema)


def _arrow_bucket_stage(
    df: DataFrame,
    n_planes: int,
    id_col: str,
    vec_col: str,
    seed: int = 7,
) -> DataFrame:
    """(id, vec, bucket) via one numpy sign-projection per Arrow batch.

    Plane signs are the md5-parity ``_plane_signs``, built once per
    (n_planes, dim) inside the kernel, so the whole stage is a
    (rows × dim) · (dim × planes) matrix product instead of n_planes
    interpreted HOF folds per row; ``V.duckdb_lsh_bucket_sql`` is the
    oracle's copy of the same bucket function."""
    import pandas as pd

    from pyspark.sql import types as ST

    out_schema = ST.StructType(
        [
            ST.StructField("id", df.schema[id_col].dataType),
            ST.StructField("vec", df.schema[vec_col].dataType),
            ST.StructField("bucket", ST.LongType()),
        ]
    )

    def gen(batches):
        signs_cache: dict[int, "np.ndarray"] = {}

        def signs(dim: int) -> "np.ndarray":
            s = signs_cache.get(dim)
            if s is None:
                s = signs_cache[dim] = np.array(_plane_signs(n_planes, dim, seed))
            return s

        weights = np.array([1 << p for p in range(n_planes)], dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            # A NULL embedding gets bucket NULL (dropped by the bucket
            # equi-join) instead of raising in np.stack; ragged lengths are
            # grouped by dim so each row buckets against signs of its own
            # dimension.
            vecs = pdf[vec_col].to_numpy()
            lens = np.array([-1 if v is None else len(v) for v in vecs])
            bucket = np.full(len(pdf), None, dtype=object)
            for dim in np.unique(lens):
                if dim <= 0:
                    continue
                idx = np.nonzero(lens == dim)[0]
                v = np.stack(vecs[idx]).astype(np.float64)
                proj = v @ signs(int(dim)).T
                bucket[idx] = ((proj > 0).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {"id": pdf[id_col], "vec": pdf[vec_col], "bucket": bucket}
            )

    return df.select(id_col, vec_col).mapInPandas(gen, out_schema)


def _arrow_cosine_stage(cand: DataFrame) -> DataFrame:
    """(vec_id, nb_id, qv, cv) → (vec_id, nb_id, cosine) via one numpy
    matrix pass per Arrow batch — the vectorized scorer for candidate
    pairs after LSH/IVF pruning."""
    import pandas as pd

    from pyspark.sql import types as ST

    out_schema = ST.StructType(
        [
            cand.schema["vec_id"],
            cand.schema["nb_id"],
            ST.StructField("cosine", ST.DoubleType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # NULL or dim-mismatched pairs score cosine NULL (filtered by
            # any downstream threshold) rather than raising in np.stack.
            qs = pdf["qv"].to_numpy()
            cs = pdf["cv"].to_numpy()
            qlen = np.array([-1 if v is None else len(v) for v in qs])
            clen = np.array([-2 if v is None else len(v) for v in cs])
            cos = np.full(len(pdf), None, dtype=object)
            ok = np.nonzero((qlen > 0) & (qlen == clen))[0]
            if len(ok):
                q = np.stack(qs[ok]).astype(np.float64)
                c = np.stack(cs[ok]).astype(np.float64)
                num = np.einsum("ij,ij->i", q, c)
                den = np.linalg.norm(q, axis=1) * np.linalg.norm(c, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos[ok] = _round6(np.where(den > 0, num / den, 0.0))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "nb_id": pdf["nb_id"],
                    "cosine": cos,
                }
            )

    return cand.mapInPandas(gen, out_schema)


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> list[tuple]:
    """Distributed Lloyd's iterations for the IVF coarse quantizer — the
    trained replacement for :func:`ivf_topk`'s md5-sampled stand-in.

    Per iteration: (1) assignment is ivf_topk's zero-join
    ``_nearest_cid`` argmin (embarrassingly parallel); (2) the update is posexplode →
    groupBy(cid, pos).avg — the shuffle carries (cid, pos, val) triples
    (≈ corpus × dim × 12 B with map-side partial aggregation), never whole
    vectors, and is skew-free because pos spreads every cluster over dim
    keys. Centroids (k × d doubles) come back to the driver each round —
    they ARE the broadcast side at any scale. Empty clusters keep their
    previous centroid. Returns [(cid, [float, ...]), ...] for feeding
    ``ivf_topk(centroids=...)``.
    """
    cent_rows = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy(F.pmod(F.xxhash64(F.col("cid"), F.lit(seed)), F.lit(1_000_003)))
        .limit(n_centroids)
        .collect()
    )
    cents = [(i, [float(x) for x in r["cvec"]]) for i, r in enumerate(cent_rows)]
    if not cents:
        return []
    vecs = df.select(F.col(vec_col).alias("vec")).localCheckpoint(eager=True)
    for _ in range(iters):
        means = (
            vecs.select(
                _nearest_cid(F.col("vec"), cents).alias("cid"),
                F.posexplode("vec"),
            )
            .groupBy("cid", "pos")
            .agg(F.avg("col").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
            .collect()
        )
        updated = {r["cid"]: [float(x) for x in r["cvec"]] for r in means}
        cents = [(cid, updated.get(cid, cv)) for cid, cv in cents]
    return cents


# --- Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") ------------------------------------------------
#
# The missing piece between IVF (which prunes the SCAN) and a 10^10-vector
# corpus (where even the pruned scan can't afford to read vectors): PQ
# stores each vector as m one-byte codes (dim/m-dim subspace quantizers,
# n_codes ≤ 256 words each), so a 768-dim float32 embedding (3 KB) becomes
# m bytes, and query scoring reads ONLY the codes column via asymmetric
# distance (ADC): d(q, x) ≈ l2(q, recon(x)) where recon concatenates the
# chosen codewords. The codebooks are tiny (m × n_codes × dim/m doubles)
# and broadcast as literal expressions — scoring is a pure projection with
# zero joins/shuffles, exactly the ivf_topk argmin discipline.


def pq_codebooks(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 77,
) -> list[list[list[float]]]:
    """Deterministic sampled codebooks: ``n_codes`` rows picked by
    ``_md5_pick`` (the ivf_topk pick), each sliced into ``m`` contiguous
    subvectors — codebooks[s][c] is code c of subspace s. A SQL oracle
    reproduces the pick verbatim; :func:`pq_train` refines these with
    per-subspace Lloyd's iterations."""
    rows = _md5_pick(df, vec_col, id_col, f"pq{seed}:", n_codes)
    if not rows:
        return []
    dim = len(rows[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [[cv[s * dsub:(s + 1) * dsub] for _, cv in rows] for s in range(m)]


def _pq_codes(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """array<int> of the nearest code per subspace — ``_nearest_cid`` over
    each subspace's slice, the codeword index as the cid."""
    dsub = len(codebooks[0][0])
    return F.array(*[
        _nearest_cid(F.slice(vec, s * dsub + 1, dsub), list(enumerate(book)))
        for s, book in enumerate(codebooks)
    ])


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    codebooks: list[list[list[float]]] | None = None,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 77,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k: encode each vector (argmin per subspace), reconstruct
    from the chosen codewords, score l2(query, reconstruction) — one
    Arrow/numpy kernel per batch (``_arrow_pq_stage``) + one
    TakeOrderedAndProject, shuffle-free. Codes and distances use the
    oracle's round-6 argmin. At 100 TB the scan for this query reads only
    the codes column once the encode is materialized; here encode + score
    fuse into a single stage over the raw vectors."""
    if codebooks is None:
        codebooks = pq_codebooks(df, m, n_codes, vec_col, id_col, seed)
    if not codebooks:
        return df.select(
            F.col(id_col).alias("vec_id"), F.lit(0.0).alias("adc_dist")
        ).limit(0)
    scored = _arrow_pq_stage(df, codebooks, query_vec, vec_col, id_col)
    return scored.orderBy("adc_dist", "vec_id").limit(k)


def _arrow_pq_stage(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """One numpy kernel per Arrow batch: per-subspace (rows × n_codes)
    distance matrices → argmin codes (first-min tie = code order, matching
    the struct-min), codeword gather → reconstruction, one einsum-free
    squared-distance to the query. NULL or wrong-dim vectors route to
    adc_dist NULL instead of failing the stage (the ADVICE null-route
    discipline)."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    mm, dsub = len(books), books[0].shape[1]
    dim = mm * dsub
    q = np.asarray(query_vec, dtype=np.float64)

    def gen(it):
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            vecs = pdf[vec_col].tolist()
            ok = np.array(
                [v is not None and len(v) == dim for v in vecs], dtype=bool
            )
            out = np.full(len(vecs), np.nan)
            if ok.any():
                X = np.stack([np.asarray(vecs[i], dtype=np.float64)
                              for i in np.flatnonzero(ok)])
                Xs = X.reshape(len(X), mm, dsub)
                recon = np.empty_like(X)
                for s in range(mm):
                    d2 = ((Xs[:, s, None, :] - books[s][None, :, :]) ** 2).sum(-1)
                    codes = np.argmin(_round6(np.sqrt(d2)), axis=1)
                    recon[:, s * dsub:(s + 1) * dsub] = books[s][codes]
                out[ok] = _round6(np.sqrt(((q[None, :] - recon) ** 2).sum(-1)))
            # bad rows become SQL NULL (masked Float64), not NaN — NaN
            # compares greater-than-everything in Spark sorts, NULL sorts
            # last under asc which is what "no score" should do
            yield pd.DataFrame({
                "vec_id": ids,
                "adc_dist": pd.array(
                    [out[i] if ok[i] else None for i in range(len(vecs))],
                    dtype="Float64",
                ),
            })

    schema = StructType([
        StructField("vec_id", df.schema[id_col].dataType, True),
        StructField("adc_dist", DoubleType(), True),
    ])
    slim = df.select(F.col(id_col), F.col(vec_col))
    return slim.mapInPandas(gen, schema)


def pq_train(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 77,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd's refinement of :func:`pq_codebooks` — real PQ
    training, all m subspaces fused into ONE job per iteration: the
    assignment is ``_pq_codes`` (computed once per row for
    every subspace), and the update shuffles
    (s, code, pos, val) quadruples with map-side partial aggregation —
    ≈ corpus × dim × 16 B, never whole vectors, skew-free because pos
    spreads every codeword over dsub keys. The m × n_codes × dsub result
    (tiny at any corpus size) returns to the driver each round — it IS
    the broadcast side, exactly the kmeans_centroids discipline. Empty
    codewords keep their previous value."""
    books = pq_codebooks(df, m, n_codes, vec_col, id_col, seed)
    if not books:
        return []
    dsub = len(books[0][0])
    vecs = df.select(F.col(vec_col).alias("vec")).localCheckpoint(eager=True)
    for _ in range(iters):
        codes = _pq_codes(F.col("vec"), books)
        sub = F.floor(F.col("pos") / dsub).cast("int")
        # codes must resolve in their own select: a posexplode in the same
        # projection sends the struct-min through the Generate rewrite,
        # which drops CreateStruct field names (FIELD_NOT_FOUND on "code")
        rows = (
            vecs.select(codes.alias("codes"), "vec")
            .select("codes", F.posexplode("vec"))
            .select(
                sub.alias("s"),
                F.element_at("codes", sub + 1).alias("code"),
                F.col("pos"),
                F.col("col").cast("double").alias("val"),
            )
            .groupBy("s", "code", "pos")
            .agg(F.avg("val").alias("mval"))
            .collect()
        )
        newb = [[list(w) for w in bs] for bs in books]
        for r in rows:
            newb[r["s"]][r["code"]][r["pos"] - r["s"] * dsub] = float(r["mval"])
        books = newb
    return books


def semdedup(
    df: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 91,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup that buckets by
    k-means cluster instead of LSH plane — assign every vector to its
    nearest centroid (ivf_topk's zero-join ``_nearest_cid`` argmin), compare pairs only WITHIN a cluster, and mark as duplicate
    any item that has a lower-id neighbor with cosine ≥ ``threshold``
    (the deterministic keep-lowest-id variant of the paper's per-cluster
    pruning; transitive chains are the cluster-formation operator's job).
    Returns (vec_id, cid, is_dup) for every input row.

    Scale shape: assignment is shuffle-free; the within-cluster self-join
    is the one quadratic-bounded step, bounded by cluster size — size
    ``n_clusters`` like auto_n_planes (≈ corpus/2^8) so per-cluster work
    stays constant as the corpus grows. ``centroids`` accepts a
    kmeans_centroids / externally trained list; by default centroids are
    ``_md5_pick`` rows (the oracle reproduces the pick).
    """
    if centroids is None:
        picked = _md5_pick(df, vec_col, id_col, f"sdd{seed}:", n_clusters)
        centroids = [cv for _, cv in picked]
    cent_list = [(i, [float(x) for x in cv]) for i, cv in enumerate(centroids)]
    if not cent_list:
        return df.select(
            F.col(id_col).alias("vec_id"),
            F.lit(None).cast("int").alias("cid"),
            F.lit(False).alias("is_dup"),
        ).limit(0)
    nearest = _nearest_cid(F.col(vec_col), cent_list)
    assigned = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"),
        nearest.alias("cid"),
    ).localCheckpoint(eager=True)
    a = assigned.select(
        F.col("cid"), F.col("vec_id").alias("a_id"), F.col("vec").alias("a_vec")
    )
    b = assigned.select(
        F.col("cid"), F.col("vec_id").alias("b_id"), F.col("vec").alias("b_vec")
    )
    cos = F.round(V.cosine(F.col("a_vec"), F.col("b_vec")), 6)
    dups = (
        a.join(b, "cid")
        .filter(F.col("a_id") > F.col("b_id"))
        .filter(cos >= F.lit(float(threshold)))
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dups.withColumn("__d", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id", "cid",
            F.coalesce(F.col("__d"), F.lit(False)).alias("is_dup"),
        )
    )


def _ordered_avg(col_frame: DataFrame, group: str, val: str) -> DataFrame:
    """Per-group mean of ``val`` accumulated in (val desc, tiebreak asc)
    order via an explicit array left-fold — NOT ``F.avg`` — so the IEEE
    summation order is a pure function of the data and a SQL oracle's
    ``list_reduce`` over the identically-ordered list reproduces it bit
    for bit. Groups are top-k neighbor lists (k ≤ ~8 rows), so the
    collect_list per group is bounded tiny."""
    lst = F.sort_array(F.collect_list(F.struct(
        (-F.col(val)).alias("nc"), F.col("tb").alias("tb"),
        F.col(val).alias("c"),
    )))
    fold = F.aggregate(
        F.transform(lst, lambda s: s["c"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return col_frame.groupBy(group).agg(
        (fold / F.size(lst)).alias("avg_nn")
    )


def bitext_margin_pairs(
    x_df: DataFrame,
    y_df: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    neighbors_xy: DataFrame | None = None,
    neighbors_yx: DataFrame | None = None,
) -> DataFrame:
    """Margin-based parallel-text mining (Artetxe & Schwenk 2019,
    "Margin-based parallel corpus mining with multilingual sentence
    embeddings" — the LASER / CCMatrix / CCAligned pipeline op): a pair
    (x, y) is a translation candidate not when its cosine is high in
    absolute terms but when it is high RELATIVE to each side's
    neighborhood — the ratio margin

        score(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)

    where avgNN_k(v) is the mean cosine of v's k nearest neighbors in the
    OTHER language. This kills hubness: a sentence cosine-close to
    everything (a hub) has a high denominator and mines nothing.

    Strategy is the paper's "max": each x nominates its best-margin y,
    each y nominates its best-margin x, the union is thresholded.
    Mutual nominations appear once (the pair is identical from either
    direction — margin is symmetric in (x, y)).

    ``id_col`` values must be globally unique across BOTH sides (standard
    for corpus doc ids).

    Scale shape: the two k-NN joins dominate and are pluggable — pass
    ``neighbors_xy`` / ``neighbors_yx`` (schema (vec_id, nb_id, cosine),
    e.g. from :func:`knn_join_lsh`) to swap in the LSH path at 100 TB;
    the default is the exact :func:`knn_join`. Everything downstream is
    slim: two per-id avg aggregations (k rows in, 1 out, map-side
    combinable), id-keyed joins carrying (id, double) rows, and one
    per-query rank window. No vector column crosses any post-kNN shuffle.

    Returns (x_id, y_id, cosine, margin) with margin >= threshold,
    rounded to 6.
    """
    xy = (
        neighbors_xy
        if neighbors_xy is not None
        else knn_join(y_df, k=k, vec_col=vec_col, id_col=id_col, queries=x_df)
    )
    yx = (
        neighbors_yx
        if neighbors_yx is not None
        else knn_join(x_df, k=k, vec_col=vec_col, id_col=id_col, queries=y_df)
    )
    xy = xy.select("vec_id", "nb_id", "cosine").localCheckpoint(eager=True)
    yx = yx.select("vec_id", "nb_id", "cosine").localCheckpoint(eager=True)
    ax = _ordered_avg(
        xy.withColumn("tb", F.col("nb_id")), "vec_id", "cosine"
    ).withColumnRenamed("vec_id", "x_id").withColumnRenamed("avg_nn", "ax")
    ay = _ordered_avg(
        yx.withColumn("tb", F.col("nb_id")), "vec_id", "cosine"
    ).withColumnRenamed("vec_id", "y_id").withColumnRenamed("avg_nn", "ay")

    from pyspark.sql import Window

    fwd = (
        xy.select(
            F.col("vec_id").alias("x_id"), F.col("nb_id").alias("y_id"), "cosine"
        )
        .join(ax, "x_id")
        .join(ay, "y_id")
        .withColumn(
            "margin",
            F.round(F.col("cosine") / ((F.col("ax") + F.col("ay")) / 2.0), 6),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("x_id").orderBy(F.desc("margin"), "y_id")
            ),
        )
        .filter(F.col("rnk") == 1)
    )
    bwd = (
        yx.select(
            F.col("nb_id").alias("x_id"), F.col("vec_id").alias("y_id"), "cosine"
        )
        .join(ax, "x_id")
        .join(ay, "y_id")
        .withColumn(
            "margin",
            F.round(F.col("cosine") / ((F.col("ax") + F.col("ay")) / 2.0), 6),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("y_id").orderBy(F.desc("margin"), "x_id")
            ),
        )
        .filter(F.col("rnk") == 1)
    )
    return (
        fwd.select("x_id", "y_id", "cosine", "margin")
        .unionByName(bwd.select("x_id", "y_id", "cosine", "margin"))
        .distinct()
        .filter(F.col("margin") >= float(threshold))
    )


def lsh_plan(
    spark,
    n_hashes: int = 64,
    threshold: float = 0.5,
    grid: int = 100,
    fp_weight: float = 1.0,
    fn_weight: float = 1.0,
) -> DataFrame:
    """LSH banding parameter planner (Leskovec, Rajaraman & Ullman,
    "Mining of Massive Datasets" §3.4, the S-curve analysis; Indyk &
    Motwani 1998 for the underlying guarantee): for every (bands, rows)
    factorization of the signature budget, the probability a pair at
    similarity s becomes a candidate is ``P(s) = 1 − (1 − s^r)^b``.
    The planner scores each factorization by Riemann sums of the two
    error masses on a 1/``grid`` similarity lattice — false-positive
    mass ``Σ_{s<t} P(s)/grid`` (junk pairs the verifier must kill) and
    false-negative mass ``Σ_{s>t} (1−P(s))/grid`` (true pairs LSH never
    sees — the unrecoverable kind) — and flags the argmin of
    ``fp_weight·fp + fn_weight·fn``. Weight fn higher when recall is the
    contract (dedup), fp higher when verification is the bottleneck.

    This prices the ``n_bands``/``n_rows`` knobs that
    :func:`minhash_lsh_pairs` and the embedding-LSH family expose —
    at 10^10 docs a mis-banded join is the difference between a
    bounded candidate set and a quadratic one, so the choice deserves
    arithmetic, not folklore.

    Pure arithmetic, zero shuffles: the divisor pairs are a
    driver-enumerated handful of rows; each row evaluates its whole
    S-curve as an array fold (sequence → transform → ordered aggregate),
    so every double is a pure function of (b, r, grid) — oracle-exact.
    ``t_star = (1/b)^(1/r)`` (the curve's steepest point) is included
    for the classic rule-of-thumb comparison.
    """
    pairs = [
        (b, n_hashes // b) for b in range(1, n_hashes + 1)
        if n_hashes % b == 0
    ]
    df = spark.createDataFrame(pairs, "bands int, rows int")
    b = F.col("bands").cast("double")
    r = F.col("rows").cast("double")
    idx = F.sequence(F.lit(1), F.lit(grid - 1))

    def p_of(iv):
        s = iv.cast("double") / F.lit(float(grid))
        return F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(s, r), b)

    def s_of(iv):
        return iv.cast("double") / F.lit(float(grid))
    fp = F.aggregate(
        F.transform(
            idx,
            lambda iv: F.when(
                s_of(iv) < F.lit(threshold), p_of(iv)
            ).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.lit(float(grid))
    fn = F.aggregate(
        F.transform(
            idx,
            lambda iv: F.when(
                s_of(iv) > F.lit(threshold), F.lit(1.0) - p_of(iv)
            ).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.lit(float(grid))
    scored = df.select(
        "bands",
        "rows",
        F.round(F.pow(F.lit(1.0) / b, F.lit(1.0) / r), 6).alias("t_star"),
        F.round(fp, 6).alias("fp_mass"),
        F.round(fn, 6).alias("fn_mass"),
        F.round(
            F.lit(fp_weight) * fp + F.lit(fn_weight) * fn, 6
        ).alias("cost"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("cost", "bands")
    return scored.withColumn(
        "is_best", F.row_number().over(w) == 1
    )


def rocchio_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    fb: int = 5,
    alpha: float = 1.0,
    beta: float = 0.75,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Rocchio pseudo-relevance feedback for dense retrieval (Rocchio
    1971, the vector-space classic; Manning et al. IIR §9.1) — the DENSE
    sibling of the sparse RM3 expansion in ``corpus.rm3_topk``: retrieve
    top-``fb`` by cosine, move the query toward their centroid
    (``q' = α·q + β·mean(fb vectors)``; the γ negative term is dropped —
    pseudo-feedback has no labeled non-relevant set), re-rank by cosine
    of ``q'``.

    Plan: one :func:`cosine_topk`-shaped scan selects the feedback set
    (≤ ``fb`` rows — a legitimate driver fetch, same class as the BM25
    stats row), the shifted query folds to a literal in doc-order IEEE
    float64 arithmetic (first-element seed, then left-fold adds — the
    exact order an oracle can replay), and one more scan + k-row heap
    merge re-ranks. Corpus-scale work is exactly two zero-shuffle scans
    at any size.
    """
    scored = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.round(V.cosine(F.col(vec_col), _query_lit(query_vec)), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(fb)
        .collect()
    )
    if not scored:
        return df.select(
            F.col(id_col), F.lit(0.0).alias("cosine")
        ).limit(0)
    vecs = [[float(x) for x in r[vec_col]] for r in scored]
    acc = list(vecs[0])
    for v in vecs[1:]:
        acc = [a + b for a, b in zip(acc, v)]
    n_fb = len(vecs)
    qp = [
        alpha * query_vec[i] + beta * (acc[i] / n_fb)
        for i in range(len(query_vec))
    ]
    return cosine_topk(df, qp, k=k, vec_col=vec_col, id_col=id_col)


def cluster_quota_sample(
    df: DataFrame,
    n_keep: int,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 77,
    centroids: list[list[float]] | None = None,
    salt: str = "cqs",
) -> DataFrame:
    """Cluster-balanced corpus subsampling — the diversity-preserving
    selection stage of cluster-curated pipelines (SemDeDup, Abbas et al.
    2023 §4; DataComp curation tracks): instead of a uniform sample that
    reproduces the corpus's cluster skew (boilerplate-heavy clusters
    dominate), assign every embedding to its nearest centroid and take an
    (almost-)EQUAL quota from each cluster, so rare topical clusters
    survive the cut. Quota for cluster c = ⌊n_keep/K⌋ (+1 for the first
    n_keep mod K cids in ascending cid order); a cluster smaller than its
    quota yields all its members — no redistribution, so the output size
    is Σ min(quota_c, |c|) ≤ n_keep, documented semantics the oracle
    replays. Within a cluster the kept members are the lowest
    md5(salt:id) draws (deterministic on any engine), tie-broken by id.

    Returns (vec_id, cid, rk) — rk is the within-cluster selection rank.

    Centroids are ``centroids`` (e.g. kmeans_centroids output) or
    ``_md5_pick`` rows.

    Scale shape: assignment is the zero-join ``_nearest_cid`` argmin over
    the broadcast centroid literal (ivf_topk's discipline — no row
    inflation). Selection is two-level: each scan partition
    keeps only its LOCAL per-cluster top-(quota) by the md5 draw, so the
    per-cid global rank window orders ≤ partitions × quota survivors —
    a hot mega-cluster never serializes through one window task (the
    zipf_fit / refresh_allocation rank discipline). K is the trained
    centroid count (breadth of the codebook, not the corpus), so the
    quota map literal is driver-bounded by construction.
    """
    from pyspark.sql import Window

    if centroids is None:
        picked = _md5_pick(df, vec_col, id_col, f"cqs{seed}:", n_clusters)
        centroids = [cv for _, cv in picked]
    cent_list = [(i, [float(x) for x in cv]) for i, cv in enumerate(centroids)]
    empty = df.select(
        F.col(id_col).alias("vec_id"),
        F.lit(None).cast("int").alias("cid"),
        F.lit(None).cast("int").alias("rk"),
    ).limit(0)
    if not cent_list or n_keep <= 0:
        return empty
    nearest = _nearest_cid(F.col(vec_col), cent_list)

    k = len(cent_list)
    base, rem = divmod(int(n_keep), k)
    quota = {
        cid: base + (1 if i < rem else 0)
        for i, (cid, _) in enumerate(sorted(cent_list, key=lambda t: t[0]))
    }
    qmax = max(quota.values())
    quota_expr = F.lit(base) if rem == 0 else F.element_at(
        F.create_map(
            *[x for cid, q in quota.items() for x in (F.lit(cid), F.lit(q))]
        ),
        F.col("cid"),
    )
    draw = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    assigned = df.select(
        F.col(id_col).alias("vec_id"),
        nearest.alias("cid"),
        draw.alias("u"),
    )
    w_local = Window.partitionBy(F.spark_partition_id(), "cid").orderBy(
        "u", "vec_id"
    )
    pruned = (
        assigned.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= qmax)
        .drop("__lr")
    )
    w = Window.partitionBy("cid").orderBy("u", "vec_id")
    return (
        pruned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= quota_expr)
        .select("vec_id", "cid", "rk")
    )


def label_prototype_confusion(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-prototype classification confusion matrix over a labeled
    embedding table — the embedding sanity eval a corpus owner runs
    before trusting vectors for SemDeDup/clustering/retrieval: if
    class prototypes can't re-classify their own members, the embedding
    space is junk and every downstream similarity decision inherits it
    (the Rocchio/nearest-centroid eval, scored in-engine).

    Exactness: vectors land in micro-unit fixed point (floor(v·10⁶) as
    long — float32→double→product is the same IEEE sequence in any
    engine), prototypes are per-label per-dimension INTEGER sums
    (order-free), scores are integer dot products against the prototype
    SUM (argmax unchanged vs the mean for within-label comparison bias
    toward larger classes — declared: prototypes here weight mass, the
    classic Rocchio sum form), ties break on label asc. Every count in
    the confusion table is therefore a pure function of the data.

    Returns (label, pred_label, n_vecs) ordered by (label, pred_label).
    Scale shape: one posexplode + (label, dim)-keyed combiner agg builds
    the prototypes ((#labels × dim) rows — tiny), broadcast back over
    the vector scan for an array-fold dot per (vector, label); the only
    wide data motion is the vector scan itself. The dot accumulates in
    decimal(38,0) (the jain_fairness / neighborhood_function overflow
    discipline): a long fold would silently wrap past dim·(10⁶)²·
    n_label_vecs ≈ 9.2·10¹⁸ (~10⁸ vectors per label at dim 10³) while
    the DuckDB oracle widens to HUGEINT — decimal keeps engine and
    oracle in lockstep to 38 digits instead of diverging at scale.
    Vectors shorter than the prototype dimension are ZERO-PADDED (a
    missing dimension contributes 0 to the dot, not NULL), so a
    mixed-dimension table degrades gracefully instead of nulling the
    score out of the argmax.
    """
    from pyspark.sql import Window

    q = df.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("label"),
        F.transform(
            F.col(vec_col),
            lambda v: F.floor(v.cast("double") * F.lit(1_000_000.0))
            .cast("long"),
        ).alias("q"),
    )
    dims = q.select(
        "label", F.posexplode("q").alias("pos", "val")
    )
    cent = (
        dims.groupBy("label", "pos")
        .agg(F.sum("val").alias("s"))
        .groupBy(F.col("label").alias("plabel"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ).alias("proto")
        )
    )
    dec = "decimal(38,0)"
    scored = q.crossJoin(F.broadcast(cent)).select(
        "vid", "label", "plabel",
        F.aggregate(
            F.zip_with(
                "q", "proto",
                lambda a, b: F.coalesce(
                    a.cast(dec) * b.cast(dec), F.lit(0).cast(dec)
                ),
            ),
            F.lit(0).cast(dec),
            lambda acc, v: acc + v,
        ).alias("dot"),
    )
    w = Window.partitionBy("vid").orderBy(F.desc("dot"), F.asc("plabel"))
    pred = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return (
        pred.groupBy("label", F.col("plabel").alias("pred_label"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        .orderBy("label", "pred_label")
    )


def dim_budget_eval(
    df: DataFrame,
    query_vec: list[float],
    dims: list[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style dimension-budget retrieval eval (Kusupati et al.
    2022, "Matryoshka Representation Learning", public paper) — the
    design table an embedding owner reads before committing a storage/
    compute dim budget for 10^10-vector search: for each candidate
    prefix length d, rank the corpus by cosine over the FIRST d
    components only and measure recall@k against the full-dimension
    ranking. MRL-trained embeddings hold recall at small d; if recall
    craters, the vectors are not truncation-safe and the cheap index
    tier needs PQ instead.

    Exactness: every per-dim ranking uses round-6 cosines with id
    tie-breaks (the cosine_topk discipline), NULL cosines (zero-norm
    prefixes) coalesced to -2 so both engines sort them last; the
    recall arithmetic is pure integers. Returns one row per d:
    (dim, n_overlap, recall_milli), ordered by dim.

    Scale shape: one TakeOrderedAndProject top-k pass per probed dim —
    top-k via per-partition partial selection, NO global sort and no
    shuffle wider than k rows per partition. (The tempting one-scan
    alternative — explode a per-row array of all d cosines and rank
    with a per-dim window — replaces |dims| cheap column-pruned scans
    with |dims| FULL global sorts; partial top-k wins at corpus
    scale.) The tiny k-row frames join broadcast-style; the reference
    ranking is computed once.
    """
    def _cos_safe(a, b):
        # ANSI mode: a zero-norm prefix must yield NULL (-> -2), not a
        # DIVIDE_BY_ZERO error killing the scan
        return F.try_divide(V.dot(a, b), V.norm(a) * V.norm(b))

    ref = (
        df.select(
            F.col(id_col).alias("__rid"),
            F.coalesce(
                F.round(_cos_safe(F.col(vec_col), _query_lit(query_vec)), 6),
                F.lit(-2.0),
            ).alias("__rc"),
        )
        .orderBy(F.desc("__rc"), F.col("__rid"))
        .limit(k)
        .select("__rid")
    )
    out = None
    for d in sorted(int(x) for x in dims):
        q_d = _query_lit([float(x) for x in query_vec[:d]])
        top_d = (
            df.select(
                F.col(id_col).alias("__id"),
                F.coalesce(
                    F.round(
                        _cos_safe(F.slice(F.col(vec_col), 1, d), q_d), 6
                    ),
                    F.lit(-2.0),
                ).alias("__c"),
            )
            .orderBy(F.desc("__c"), F.col("__id"))
            .limit(k)
        )
        row = (
            top_d.join(F.broadcast(ref), top_d["__id"] == ref["__rid"], "left")
            .agg(
                F.lit(int(d)).cast("long").alias("dim"),
                F.count("__rid").cast("long").alias("n_overlap"),
                F.floor(F.count("__rid") * 1000 / F.lit(int(k)))
                .cast("long").alias("recall_milli"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("dim")
