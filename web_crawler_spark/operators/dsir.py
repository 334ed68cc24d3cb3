"""DSIR — Data Selection via Importance Resampling (engine addition).

Public method: Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" (NeurIPS). Given a small TARGET corpus (the
distribution you want) and a large RAW corpus (the crawl), score every raw
document with an importance weight estimated over hashed n-gram features,
then resample with Gumbel-top-k so the selected subset approximates the
target distribution. The reference crawler has no analogue — this extends
the corpus-mixing family (``operators/corpus.py::corpus_mix``) with
*distribution-targeted* selection, the standard public technique for
building pre-training mixes from web crawls.

Determinism / oracle portability: features are hashed into ``n_buckets``
via the first 4 md5 hex digits (the repo-wide portable-bucket discipline,
``functions/sampling.py::hash_bucket``); the per-bucket log-ratio
``ln(p_target[b] / p_raw[b])`` is stored fixed-point —
``floor(ln((c+1)/(total+K)) * 1e6)`` per side, int64 — so the per-document
weight is a SUM OF INTEGER PRODUCTS, exact across engines and partition
orders (the same fixed-point-log discipline as ``operators/lm.py``).
Gumbel noise for the resample is integer-derived from md5 (never
``rand()``), so the selected set is a pure function of (doc key, salt).

Scale notes (100 TB):
* Feature extraction is one (doc, bucket) aggregation — combiner-friendly,
  keys bounded by ``n_buckets`` per doc; no global hot key.
* The bucket distributions are ≤ ``n_buckets`` rows per side (10k default)
  — broadcast material by construction, independent of corpus size.
* Scoring is a broadcast equi-join on ``bucket`` + one per-doc agg: a
  single shuffle of (doc_id, bucket, cnt) triples, never text.
* Resampling is scan + TakeOrderedAndProject (per-partition top-k), no
  global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FP = 1_000_000  # fixed-point scale for log-ratios (matches operators/lm.py)

# Word regex shared with the bigram LM (operators/lm.py) — both engines
# (Spark, DuckDB) extract identical grams from it.
WORD_RE = "[a-z0-9]+"


def _bucket(gram: Column, n_buckets: int, salt: str) -> Column:
    """Portable bucket in [0, n_buckets): first 16 md5 bits mod n."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), gram))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % n_buckets)


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    salt: str = "dsir",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, [carry_cols...], bucket, cnt) — hashed unigram+bigram
    counts per document.

    Unigrams are lowercase ``[a-z0-9]+`` words; bigrams are adjacent word
    pairs joined by a space (so a bigram can never collide with a unigram
    spelling — unigrams contain no spaces). ``carry_cols`` ride through
    as extra per-doc group keys (free — they're functionally dependent on
    doc_id) so a TARGET slice can be filtered from the SAME feature frame
    instead of re-tokenizing the corpus a second time.
    """
    w = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
    d = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in carry_cols],
        w.alias("w"),
    )
    grams = d.select(
        "doc_id",
        *carry_cols,
        F.explode(
            F.concat(
                F.col("w"),
                F.when(
                    F.size("w") >= 2,
                    F.expr("transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))"),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("gram"),
    )
    return (
        grams.select(
            "doc_id",
            *carry_cols,
            _bucket(F.col("gram"), n_buckets, salt).alias("bucket"),
        )
        .groupBy("doc_id", *carry_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _fp_log_prob(cnt: Column, total: int, n_buckets: int) -> Column:
    """floor(ln((cnt+1)/(total+K)) * FP) as int64 — add-one-smoothed bucket
    log-probability, fixed-point. (cnt+1)/(total+K) is an exact-int double
    division, identical IEEE result on any engine."""
    denom = float(total + n_buckets)
    return F.floor(F.log((cnt.cast("double") + 1.0) / F.lit(denom)) * FP).cast("bigint")


def fit_log_ratio(
    target_feats: DataFrame,
    raw_feats: DataFrame,
    n_buckets: int = 10_000,
) -> DataFrame:
    """(bucket, lam_fp) for every bucket observed on either side.

    lam_fp = fp_log(p_target[b]) − fp_log(p_raw[b]), add-one smoothed.
    ≤ n_buckets rows — broadcast material. Buckets absent from BOTH sides
    (never observed, hence never joined by a scoring row built from the
    same raw corpus) contribute the constant default; callers scoring
    out-of-corpus text pass it as ``dsir_weights(fallback_lam_fp=)``.
    """
    t = target_feats.groupBy("bucket").agg(F.sum("cnt").alias("t_cnt"))
    r = raw_feats.groupBy("bucket").agg(F.sum("cnt").alias("r_cnt"))
    # Two scalar totals (documented driver-side scalar fetch, as in bm25's
    # idf fold) — they become literals in the per-bucket expression.
    t_total = t.agg(F.sum("t_cnt")).collect()[0][0] or 0
    r_total = r.agg(F.sum("r_cnt")).collect()[0][0] or 0
    joined = t.join(r, "bucket", "full_outer").select(
        "bucket",
        F.coalesce(F.col("t_cnt"), F.lit(0)).alias("t_cnt"),
        F.coalesce(F.col("r_cnt"), F.lit(0)).alias("r_cnt"),
    )
    return joined.select(
        "bucket",
        (
            _fp_log_prob(F.col("t_cnt"), int(t_total), n_buckets)
            - _fp_log_prob(F.col("r_cnt"), int(r_total), n_buckets)
        ).alias("lam_fp"),
    )


def dsir_weights(
    feats: DataFrame,
    log_ratio: DataFrame,
    fallback_lam_fp: int = 0,
) -> DataFrame:
    """(doc_id, n_feats, weight_fp) — per-document importance weight.

    weight_fp = Σ_b cnt[b] · lam_fp[b] (int64 exact); n_feats = Σ cnt.
    The log-ratio side is broadcast (≤ n_buckets rows); the only shuffle
    is the per-doc aggregation of (doc_id, partial-sum) pairs.
    """
    scored = feats.join(F.broadcast(log_ratio), "bucket", "left").select(
        "doc_id",
        "cnt",
        F.coalesce(F.col("lam_fp"), F.lit(fallback_lam_fp)).alias("lam_fp"),
    )
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_feats"),
        F.sum(F.col("cnt") * F.col("lam_fp")).alias("weight_fp"),
    )


def dsir_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_fp_col: str = "weight_fp",
    salt: str = "dsir-gumbel",
) -> DataFrame:
    """Gumbel-top-k resample: keep the k docs maximizing
    weight_fp/FP + Gumbel(doc), Gumbel derived from md5 (deterministic,
    engine-portable). Equivalent to sampling k docs without replacement
    with P ∝ exp(weight) (Vieira 2014 / Kool et al. 2019 — the public
    Gumbel-top-k trick DSIR prescribes).

    Plan shape: scan + TakeOrderedAndProject — no global sort, no shuffle
    of anything but the k winners.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(float(0x100000000) + 1.0)  # u ∈ (0, 1) — never 0 or 1
    gumbel = -F.log(-F.log(u))
    key = F.col(weight_fp_col).cast("double") / FP + gumbel
    return (
        weights.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(int(k))
    )
