"""Deterministic dataset splitting / sampling for training-data pipelines.

A training corpus needs train/val/test membership that is (a) stable
across runs and engine versions, (b) a pure function of the record key so
re-crawled or re-processed documents land in the SAME split (no
train/test leakage when the pipeline is re-run), and (c) computable by
any engine (the DuckDB oracle checks it bit-for-bit). ``rand()``-based
splits violate all three.

Bucket = first 16 bits of md5(salt || key) → [0, n_buckets). md5 keeps it
ANSI-SQL-portable; the engine-internal fast path can swap xxhash64
(``pmod(xxhash64(key), n)``) without changing the API.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column, n_buckets: int = 100, salt: str = "split") -> Column:
    """Stable bucket in [0, n_buckets) from the first 16 md5 bits."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % n_buckets).alias("bucket")


def dataset_split(
    df: DataFrame,
    key_col: str,
    train: float = 0.8,
    val: float = 0.1,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign train/val/test membership by hashed key percentile. The test
    fraction is the remainder; fractions are exact over the bucket space
    (percent granularity)."""
    b = hash_bucket(F.col(key_col), 100, salt)
    t_hi = int(round(train * 100))
    v_hi = t_hi + int(round(val * 100))
    label = (
        F.when(b < t_hi, "train").when(b < v_hi, "val").otherwise("test")
    )
    return df.withColumn(out_col, label)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Weighted random sampling without replacement, deterministic —
    Efraimidis & Spirakis 2006 (A-Res): each record draws a stable
    uniform u from md5(salt || key) and competes with key u^(1/w);
    the k largest keys are the sample. P(selected) is proportional to
    weight without ever materializing a global sort: the plan is a scan
    + per-partition top-k (TakeOrderedAndProject), exactly the shape a
    100 TB quality-weighted corpus subsample needs.

    u is integer-derived (first 8 md5 hex digits / 2^32) so any engine
    reproduces the identical draw; w <= 0 rows are excluded (their
    selection probability is 0 by definition). Ties on (u^(1/w)) break
    by key for full determinism.

    Returns the sampled rows with their ``__es_key`` dropped — the output
    is input-schema-shaped, ordered by nothing (a sample, not a rank).
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(0xFFFFFFFF))
    )
    w = F.col(weight_col).cast("double")
    es_key = F.pow(u, 1.0 / w)
    return (
        df.filter(w > 0)
        .withColumn("__es_key", es_key)
        .orderBy(F.col("__es_key").desc(), F.col(key_col))
        .limit(int(k))
        .drop("__es_key")
    )
