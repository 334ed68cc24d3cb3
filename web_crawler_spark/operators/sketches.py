"""Mergeable frequency sketches — Misra-Gries heavy hitters and the
Count-Min sketch (engine additions).

Public algorithm: Misra & Gries 1982 ("Finding repeated elements") with
the mergeable-summaries analysis of Agarwal et al. 2012: a capacity-``c``
summary over a stream of N items underestimates any item's count by at
most Δ ≤ N/(c+1), and summaries from disjoint streams merge by adding
counts (the merged error is the sum of the parts' Δs). This is THE
bounded-memory answer to "most frequent hosts / shingles / n-grams" when
key cardinality is too large for an exact groupBy at 100 TB: per-partition
state is capped at ``capacity`` entries no matter how skewed or wide the
key space is, and only (item, weight) pairs ≤ capacity·n_partitions cross
the wire.

Spark shape: one Arrow-batched ``mapInPandas`` pass builds a per-partition
summary (the sketch is inherently sequential state — the documented UDF
exception), then one tiny groupBy merges summaries. Contrast with the
exact path (full groupBy on the raw keys): the sketch's shuffle volume is
O(capacity · partitions), independent of N and of distinct-key count.

Guarantees surfaced to callers: each row carries ``est`` (lower bound,
est ≤ true) and the global ``max_err`` column (Σ per-partition Δ) so
``est + max_err`` upper-bounds the true count; any item with true count
> max_err is guaranteed present in the merged summary.

Exactness regime: when every partition sees ≤ capacity distinct items,
Δ = 0 everywhere and the sketch IS the exact count — the oracle query
certifies that regime value-for-value; the approximate regime is pinned
by property tests against exact counts (bound + retention).
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

_SUMMARY_SCHEMA = StructType(
    [
        StructField("item", StringType()),
        StructField("est", LongType()),
        StructField("delta", LongType()),  # per-partition decrement total
    ]
)


def _mg_summarize(capacity: int):
    """Per-partition Misra-Gries with the standard subtract-the-min batch
    decrement (amortized O(1) per item via dict + periodic compaction)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        delta = 0
        for pdf in batches:
            for item in pdf["item"]:
                if item is None:
                    continue
                c = counters.get(item)
                if c is not None:
                    counters[item] = c + 1
                elif len(counters) < capacity:
                    counters[item] = 1
                else:
                    # decrement all by the min count, evict zeros, admit
                    # the new item with (1) — the classic batch step
                    m = min(counters.values())
                    counters = {k: v - m for k, v in counters.items() if v > m}
                    delta += m
                    # the incoming item absorbs one decrement too: its
                    # residual is 1 only if m == 1 semantics — classic MG
                    # admits it when a slot freed; min-batch always frees
                    counters[item] = 1
        if counters or delta:
            yield pd.DataFrame(
                {
                    "item": list(counters.keys()) + [None],
                    "est": [int(v) for v in counters.values()] + [0],
                    "delta": [0] * len(counters) + [int(delta)],
                }
            )

    return gen


def mg_heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    capacity: int = 4096,
) -> DataFrame:
    """Top-k heavy hitters of ``col`` with bounded memory.

    Returns (item, est, max_err): ``est`` ≤ true count ≤ ``est + max_err``;
    ordered by est desc, item asc (deterministic), limited to k. Any item
    whose true count exceeds ``max_err`` is guaranteed to appear in the
    merged summary (it may rank below k if est falls short).
    """
    items = df.select(F.col(col).cast("string").alias("item"))
    summaries = items.mapInPandas(_mg_summarize(capacity), _SUMMARY_SCHEMA)
    # Δ rows ride the same tiny frame (item NULL); split with an agg each.
    merged = (
        summaries.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("est").alias("est"))
    )
    err = summaries.agg(F.sum("delta").alias("max_err"))
    return (
        merged.crossJoin(F.broadcast(err))
        .orderBy(F.desc("est"), F.asc("item"))
        .limit(int(k))
        .select("item", "est", F.coalesce("max_err", F.lit(0)).alias("max_err"))
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005, "An improved data stream
# summary: the count-min sketch and its applications")
# ---------------------------------------------------------------------------

def _cms_col(col, row: int, width: int):
    """Row-``row`` CMS column index for ``col``: the first 8 hex chars of a
    salted md5 as an unsigned 32-bit value mod ``width``. md5 is portable —
    the DuckDB oracle recomputes the identical cell addresses."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cms:{row}:"), col)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_sketch(
    df: DataFrame, col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build a ``depth × width`` Count-Min sketch of ``col``.

    Returns the sketch as its non-zero cells ``(row, col, cnt)`` — at most
    depth·width rows no matter how many items or distinct keys went in.
    Point estimates OVERcount (est ≥ true; est ≤ true + εN with
    ε = e/width at probability 1 − e^−depth), the mirror guarantee of the
    Misra-Gries summary above (which UNDERcounts) — together they bracket.

    Spark shape: each item explodes into ``depth`` (row, col) cell hits,
    then ONE groupBy(row, col) count. Partial aggregation caps what any
    task emits into the exchange at depth·width rows, so shuffle volume is
    O(depth · width · partitions) — independent of N and of key
    cardinality, which is the reason to sketch instead of groupBy(key) at
    100 TB. Sketches over disjoint slices merge by cell-wise sum (a
    groupBy(row, col) sum over their union) with NO re-scan of the data.
    """
    item = F.col(col).cast("string")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    _cms_col(item, i, width).alias("col"),
                )
                for i in range(depth)
            ]
        )
    )
    return (
        df.filter(item.isNotNull())
        .select(cells.alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    col: str = "item",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query ``queries[col]`` against a sketch built with the same
    (depth, width): est = min over rows of the addressed cell.

    The sketch side is ≤ depth·width rows → broadcast; the probe side
    explodes each query into its ``depth`` cell addresses and never
    shuffles. Cells a query item never touched are absent from the sketch
    (zero) — the left join coalesces them to 0, so unseen items estimate 0
    exactly as the dense-array formulation would.
    """
    item = F.col(col).cast("string")
    probes = queries.select(
        item.alias("item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_col(item, i, width).alias("col"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c"),
    ).select("item", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet, Fusy, Gandouet & Meunier 2007, "HyperLogLog: the
# analysis of a near-optimal cardinality estimation algorithm")
# ---------------------------------------------------------------------------
#
# Completes the mergeable-sketch family: Misra-Gries UNDERcounts
# frequencies, Count-Min OVERcounts them, HyperLogLog estimates
# CARDINALITY — "how many distinct URLs / hosts / shingles" with
# O(2^p) state per group regardless of stream size. Spark's own
# approx_count_distinct is HLL++-backed but exposes only the scalar;
# this sketch exposes the REGISTERS, so per-slice sketches persist as
# tiny tables and merge across epochs/shards by register-wise max with
# no re-scan — the property the epoch crawl needs for "distinct URLs
# seen, ever" at 100 TB (union 1000 epoch sketches ≪ re-scanning them).
#
# Everything is deterministic and engine-portable: bucket and rank both
# derive from salted md5 substrings (same trick as the CMS above), and
# the estimator's register sum Σ 2^-rho is a sum of exactly-representable
# powers of two whose total needs < 46 mantissa bits at p ≤ 12 — the
# double result is EXACT regardless of accumulation order, so the DuckDB
# oracle reproduces not just the registers but the estimate itself.

def _hll_alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_fields(item, p: int):
    """(bucket, rho) for one item: bucket from md5 bits 0–31 mod 2^p, rho =
    1-based position of the first 1-bit in md5 bits 32–63 (33 if the 32-bit
    word is zero). ``bin()`` renders minimal-width binary in both Spark and
    DuckDB, so rho = 33 − length(bin(w)) is portable."""
    digest = F.md5(F.concat(F.lit("hll:"), item))
    bucket = (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % (1 << p)
    ).alias("bucket")
    w = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
    rho = (
        F.when(w == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(w)))
        .cast("int")
        .alias("rho")
    )
    return bucket, rho


def hll_sketch(
    df: DataFrame, col: str, p: int = 8, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Build an HLL sketch of ``col`` (optionally one per ``group_cols``
    group): the non-zero registers as ``(group..., bucket, rho)`` rows,
    ≤ 2^p per group no matter how many rows or distinct keys went in.

    Spark shape: a projection computing (bucket, rho) — two md5 substrings,
    all JVM built-ins — then ONE groupBy max. Partial aggregation caps each
    task's exchange contribution at 2^p·groups rows, so shuffle volume is
    independent of N and of key cardinality (the reason to sketch at
    100 TB). The 32-bit rank word caps rho at 33, which is bias-free to
    ~10^9 distincts per group; beyond that, raise p and re-salt — the
    structure is unchanged.
    """
    gcols = [F.col(g) for g in group_cols]
    item = F.col(col).cast("string")
    bucket, rho = _hll_fields(item, p)
    return (
        df.filter(item.isNotNull())
        .select(*gcols, bucket, rho)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    sketch: DataFrame, p: int = 8, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Cardinality estimate per group from a ``p``-bit sketch.

    Raw estimator E = α_m · m² / Σ 2^-M_j (absent registers contribute
    2^0 = 1 each), with the original small-range correction: when
    E ≤ 2.5m and zero registers exist, linear counting m·ln(m/V). Standard
    error ≈ 1.04/√m (~6.5% at p=8, ~1.6% at p=12). The whole computation
    is one ≤2^p-row-per-group aggregate; rounded to 6 decimals so the
    final ln's last-ulp libm variance can't break cross-engine equality.
    """
    m = 1 << p
    alpha = _hll_alpha(m)
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s_present"),
    )
    s = (F.lit(float(m)) - F.col("present")) + F.col("s_present")
    e_raw = F.lit(alpha * m * m) / s
    v = F.lit(m) - F.col("present")  # zero registers
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return agg.select(
        *group_cols, F.round(est, 6).alias("distinct_est")
    )


# ---------------------------------------------------------------------------
# DDSketch — relative-error quantile sketch (Masson, Rim & Lee, VLDB 2019,
# "DDSketch: a fast and fully-mergeable quantile sketch with relative-error
# guarantees")
# ---------------------------------------------------------------------------
#
# Completes the mergeable family: Misra-Gries/CMS answer frequency, HLL
# answers cardinality, DDSketch answers QUANTILES — "p99 page size /
# fetch latency / doc length" over a 100 TB stream with O(log(max/min)/α)
# state. Buckets are geometric: value x > 0 lands in bucket
# ⌈ln(x)/ln(γ)⌉ with γ = (1+α)/(1−α), so reporting the bucket midpoint
# 2γ^b/(γ+1) is within relative error α of the true quantile — by
# CONSTRUCTION, not probabilistically. Sketches merge by bucket-wise sum
# (exact), and unlike t-digest/KLL the structure is a pure deterministic
# function of the multiset: groupBy(bucket).count IS the sketch, which
# is why the DuckDB oracle can replay buckets, counts, the rank walk,
# and the quantile estimates value-for-value.

def dds_sketch(
    df: DataFrame,
    col: str,
    alpha: float = 0.01,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """DDSketch of positive ``col`` values (zeros tracked as bucket
    NULL; negatives/NULLs ignored): ``(group…, bucket, cnt)`` rows.

    Spark shape: one log + ceil projection, one groupBy — partial
    aggregation caps each task's exchange rows at the bucket count
    (~log(max/min)/α ≈ a few hundred at α=0.01 over any realistic value
    range), independent of N. The paper's bucket-limit eviction is
    unnecessary here: the groupBy IS the collapse."""
    gamma = (1.0 + alpha) / (1.0 - alpha)
    v = F.col(col).cast("double")
    bucket = F.when(
        v > 0, F.ceil(F.log(v) / F.lit(math.log(gamma)))
    ).otherwise(F.lit(None))
    return (
        df.filter(v >= 0)
        .select(*[F.col(g) for g in group_cols], bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dds_quantiles(
    sketch: DataFrame,
    qs: list[float],
    alpha: float = 0.01,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quantile estimates from a DDSketch: for each q, the midpoint
    2γ^b/(γ+1) of the first bucket whose cumulative count reaches
    ⌊q·(n−1)⌋ + 1 (zeros occupy the bottom of the order and answer 0.0).
    Guarantee: |est − true| ≤ α·true for every quantile, determinstically.

    The cumulative walk runs on the sketch itself — a per-group window
    over ≤ a-few-hundred bucket rows, never over row-level data."""
    gamma = (1.0 + alpha) / (1.0 - alpha)
    glist = list(group_cols)
    zero_sentinel = -(1 << 62)  # zeros sort below every real bucket
    based = sketch.withColumn(
        "bucket", F.coalesce(F.col("bucket"), F.lit(zero_sentinel))
    )
    w = Window.partitionBy(*glist).orderBy("bucket")
    cum = based.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy(*glist))
    )
    out = None
    for q in qs:
        rank = F.floor(F.lit(float(q)) * (F.col("n") - 1)) + 1
        hit = (
            cum.filter(F.col("cum") >= rank)
            .groupBy(*glist)
            .agg(F.min("bucket").alias("b"))
            .select(
                *glist,
                F.lit(float(q)).alias("q"),
                F.when(F.col("b") == zero_sentinel, F.lit(0.0))
                .otherwise(
                    F.round(
                        F.lit(2.0)
                        * F.pow(F.lit(gamma), F.col("b").cast("double"))
                        / F.lit(gamma + 1.0),
                        6,
                    )
                )
                .alias("est"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


# ---------------------------------------------------------------------------
# KMV / bottom-k distinct sketch with set operations (Bar-Yossef et al.
# 2002; Beyer, Haas, Reinwald, Sismanis & Gemulla, SIGMOD 2007, "On
# synopses for distinct-value estimation under multiset operations")
# ---------------------------------------------------------------------------
#
# HLL above answers |A|; KMV answers the SET ALGEBRA: |A ∪ B|, |A ∩ B|,
# Jaccard — "how many URLs do epoch 17 and epoch 18 share" without
# re-scanning either epoch. The sketch is the k smallest distinct 48-bit
# hash values of the set — a pure deterministic function of the set
# (no register randomness, no estimator branches), so merge
# (k smallest of the union) and every estimate replay exactly in the
# DuckDB oracle. 48-bit hashes convert to double exactly (< 2^53);
# estimator: D̂ = (k−1)·2^48/h_(k), unbiased (Beyer et al. §3), with the
# < k regime exact by construction.

_KMV_SPACE = float(1 << 48)


def _kmv_hash(item):
    """48-bit uniform hash as a long: first 12 hex chars of salted md5 —
    portable, and exactly representable as a double."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), item)), 1, 12), 16, 10
    ).cast("long")


def kmv_sketch(
    df: DataFrame,
    col: str,
    k: int = 256,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Bottom-k sketch of ``col`` (per group): one row per group with
    ``hashes`` = the ≤ k smallest distinct hash values, ascending.

    Spark shape: hashes are computed JVM-side; an Arrow ``mapInPandas``
    pass keeps the k smallest distinct per (partition, group) — bounded
    state, the same house pattern as the Misra-Gries summary — so only
    ≤ k·partitions rows per group reach the one merge agg. Nothing
    resembling the distinct-key count ever crosses the wire."""
    gcols = list(group_cols)
    item = F.col(col).cast("string")
    hashed = df.filter(item.isNotNull()).select(
        *gcols, _kmv_hash(item).alias("h")
    )

    from pyspark.sql import types as ST

    out_fields = [hashed.schema[g] for g in gcols] + [
        ST.StructField("h", ST.LongType())
    ]
    out_schema = ST.StructType(out_fields)
    cap = 4 * k

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[tuple, set] = {}
        for pdf in batches:
            keys = (
                list(zip(*[pdf[g] for g in gcols])) if gcols else [()] * len(pdf)
            )
            for key, h in zip(keys, pdf["h"]):
                s = state.setdefault(key, set())
                s.add(int(h))
                if len(s) > cap:
                    state[key] = set(sorted(s)[:k])
        for key, s in state.items():
            smallest = sorted(s)[:k]
            out = {g: [key[i]] * len(smallest) for i, g in enumerate(gcols)}
            out["h"] = smallest
            yield pd.DataFrame(out)

    merged = (
        hashed.mapInPandas(partial, out_schema)
        .groupBy(*gcols)
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.collect_list("h"))), 1, k
            ).alias("hashes")
        )
    )
    return merged


def _kmv_est(hashes, k: int):
    """(k−1)·2^48/h_(k) in the full regime; exact size below k."""
    return F.when(
        F.size(hashes) < k, F.size(hashes).cast("double")
    ).otherwise(
        F.lit(float(k - 1) * _KMV_SPACE) / F.element_at(hashes, k).cast("double")
    )


def kmv_set_ops(
    a: DataFrame, b: DataFrame, k: int = 256,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Set-operation estimates between two sketched sets (per group):
    ``distinct_a``, ``distinct_b``, ``union_est``, ``jaccard_est``,
    ``intersect_est``. Beyer et al. §5: L = k smallest of S_A ∪ S_B is a
    valid sketch of A ∪ B; K∩ = |L ∩ S_A ∩ S_B| is Binomial(k, J), so
    Ĵ = K∩/|L| and |A∩B| ≈ Ĵ·|A∪B|̂. All array ops over ≤ k-element
    arrays — the whole comparison is sketch-sized."""
    gcols = list(group_cols)
    sa = a.select(*gcols, F.col("hashes").alias("ha"))
    sb = b.select(*gcols, F.col("hashes").alias("hb"))
    j = sa.join(sb, gcols) if gcols else sa.crossJoin(sb)
    L = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("ha"), F.col("hb")))), 1, k
    )
    both = F.array_intersect(F.array_intersect(L, F.col("ha")), F.col("hb"))
    union_est = _kmv_est(L, k)
    jacc = F.size(both).cast("double") / F.size(L).cast("double")
    return j.select(
        *gcols,
        F.round(_kmv_est(F.col("ha"), k), 6).alias("distinct_a"),
        F.round(_kmv_est(F.col("hb"), k), 6).alias("distinct_b"),
        F.round(union_est, 6).alias("union_est"),
        F.round(jacc, 6).alias("jaccard_est"),
        F.round(jacc * union_est, 6).alias("intersect_est"),
    )
