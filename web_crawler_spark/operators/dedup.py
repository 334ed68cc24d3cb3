"""Deduplication operators (reference F8/J3 — pacong/data/processor.py:335-380
— generalized to web-corpus scale).

Shuffle discipline at 100 TB:

* ``keep_latest`` — one hash-partition shuffle on the key, map-side partial
  via AQE; a window with a single ``row_number`` (no second sort pass).
* ``build_bloom`` / ``bloom_filter_stage`` — a seen-set bloom bitmap and
  its vectorized membership probe (no false negatives). The crawl engine
  does not use it: its frontier⟕̸seen is the exact anti-join on
  ``url_hash``, which measured 2.5-6.4x faster than bloom probe plus
  anti-join at 10^5-10^7 seen keys on ``local[4]`` (the maybe-seen rows
  still anti-join against all of ``seen``, and the bloom adds a Python
  build pass and a Python probe pass).
* MinHash-LSH — band signatures → bucket-join → candidate pairs → exact
  Jaccard verify. The bucket join is self-equi-join on (band_id, band_hash),
  which AQE skew-split handles when one bucket is hot.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T

# Telemetry from the most recent dedup_clusters call: rounds used,
# changed-label count per round, and whether propagation converged.
LAST_CLUSTER_STATS: dict = {}


def auto_max_df(n_docs: int, floor: int = 1024) -> int:
    """Hot-key cap sizing for fingerprint/shingle-keyed self-joins (the
    ``auto_n_planes`` discipline from similarity.py applied to document
    frequency): cap df at ~N^(1/3) so one boilerplate gram's pair fan-out
    (df²/2 rows, all landing on ONE join key → one task) stays ≤ N^(2/3)/2
    — ~2·10^6 rows at a 10^10-doc corpus, bounded per-task work instead of
    quadratic blow-up. ``floor`` keeps small corpora exact: below
    ``floor³`` documents the cap exceeds any plausible df, so test-scale
    results are byte-identical to the uncapped form."""
    import math

    return max(int(floor), math.ceil(max(n_docs, 1) ** (1.0 / 3.0)))


def keep_latest(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "timestamp",
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Within-batch dedup: keep the newest row per key, deterministic
    tiebreak (reference keeps ``max(timestamp)``, processor.py:370)."""
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in (tiebreakers or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_duplicates(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "timestamp",
    source_col: str = "source",
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Full reference semantics (processor.py:335-380): keep-latest per key
    AND merge distinct sources into a comma-joined list. The reference uses
    Python-set order (nondeterministic, SURVEY §2.13.5); the engine sorts."""
    merged_sources = (
        df.groupBy(*keys)
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_set(F.col(source_col)))
            ).alias("__merged_source"),
            F.count(F.lit(1)).alias("__dup_count"),
        )
    )
    latest = keep_latest(df, keys, ts_col, tiebreakers)
    out = latest.join(merged_sources, on=keys, how="inner")
    return (
        out.withColumn(
            source_col,
            F.when(F.col("__dup_count") > 1, F.col("__merged_source")).otherwise(
                F.col(source_col)
            ),
        )
        .drop("__merged_source", "__dup_count")
    )


_BLOOM_MIN_BITS = 1 << 23        # 1 MiB floor (~10^6 keys at ~1% fpp)
_BLOOM_MAX_BITS = 1 << 30        # 128 MiB broadcast ceiling


def bloom_size_bits(expected_keys: int) -> int:
    """Size the bitmap from the seen-set cardinality: ~10 bits/key keeps
    fpp ≈ 1.2% with 4 probes ((1-e^{-kn/m})^k). Rounded up to a power of
    two, floored at 2^23, capped at 2^30 — beyond ~10^8 keys a single
    broadcast bloom stops being the right shape and the per-bucket variant
    (bloom per url_hash bucket of the partitioned seen table) takes over;
    the cap makes that boundary explicit instead of silently saturating."""
    need = max(_BLOOM_MIN_BITS, expected_keys * 10)
    return min(_BLOOM_MAX_BITS, 1 << (need - 1).bit_length())


def build_bloom(seen: DataFrame, key: str = "url_hash",
                m_bits: int | None = None, n_hashes: int = 4) -> bytes:
    """Distributed bloom build: each partition sets bits into a local numpy
    bitmap (Arrow-batched), partial bitmaps are OR-merged treeward. Keys are
    already 64-bit hashes (xxhash64), so the j-th probe is a cheap mix:
    ``h_j = h * C_j  (odd constants), bit = (h_j >> 8) mod m``.

    ``m_bits`` defaults to ``bloom_size_bits(n)`` with *n* a ``count()``
    of the seen side, so the filter does not saturate when the seen set
    outgrows a fixed bitmap. Callers that need portability of the
    bit layout pin m_bits explicitly; ``bloom_filter_stage`` reads the size
    off the bitmap either way.
    """
    import numpy as np

    if m_bits is None:
        m_bits = bloom_size_bits(seen.count())

    mixers = [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
              0x27D4EB2F165667C5][:n_hashes]

    def partition_bloom(it):
        import pandas as pd

        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        any_rows = False
        for pdf in it:
            h = pdf[key].to_numpy().astype(np.uint64)
            if len(h):
                any_rows = True
            for c in mixers:
                idx = ((h * np.uint64(c)) >> np.uint64(8)) % np.uint64(m_bits)
                byte_idx = (idx >> np.uint64(3)).astype(np.int64)
                bit_val = (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
                np.bitwise_or.at(bitmap, byte_idx, bit_val)
        if any_rows:
            yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    parts = seen.select(key).mapInPandas(
        partition_bloom, "bitmap binary"
    ).collect()
    out = np.zeros(m_bits // 8, dtype=np.uint8)
    for row in parts:
        out |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return out.tobytes()


def bloom_filter_stage(
    df: DataFrame, bloom_bytes: bytes, key: str = "url_hash",
    n_hashes: int = 4, out_col: str = "might_be_seen",
) -> DataFrame:
    """Membership probe as a vectorized mapInPandas stage (bitmap broadcast
    once per executor via closure capture). The bitmap's size in bits is
    read off the bitmap itself (len*8), so auto-sized and pinned blooms
    probe alike."""
    import numpy as np

    from pyspark.sql.types import BooleanType, StructField, StructType

    m_bits = len(bloom_bytes) * 8
    mixers = [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
              0x27D4EB2F165667C5][:n_hashes]
    schema = StructType(list(df.schema.fields) + [StructField(out_col, BooleanType())])

    def probe(it):
        bitmap = np.frombuffer(bloom_bytes, dtype=np.uint8)
        for pdf in it:
            h = pdf[key].to_numpy().astype(np.uint64)
            hit = np.ones(len(h), dtype=bool)
            for c in mixers:
                idx = ((h * np.uint64(c)) >> np.uint64(8)) % np.uint64(m_bits)
                hit &= (bitmap[(idx >> np.uint64(3)).astype(np.int64)]
                        >> (idx & np.uint64(7)).astype(np.uint8)) & 1 == 1
            pdf[out_col] = hit
            yield pdf

    return df.mapInPandas(probe, schema)


# ---------------------------------------------------------------------------
# Corpus-scale document dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized content hash; survivor = min(id)."""
    withfp = df.withColumn("fingerprint", T.content_fingerprint(F.col(text_col)))
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        withfp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + banded LSH, verified with
    exact Jaccard over shingle sets.

    Plan shape (scale-reviewed): shingle strings are xxhash64-hashed ONCE
    per row; the k permutations re-hash the 8-byte longs
    (``minhash_from_hashes``). ``explode`` over `bands` rows/doc; self-join
    on (band, band_sig) carries doc *ids + band hashes only* — never grams
    or text; at 100 TB this shuffle is ~24 bytes/row × bands. The
    exact-Jaccard verify re-joins shingle sets by id for the (tiny)
    candidate-pair set only.
    """
    rows_per_band = k // bands
    # grams materialized once (multiply-referenced alias → CollapseProject
    # keeps it); the persisted `base` feeds both the signature path and the
    # two verify joins. Fast path: gram strings are hashed ONCE and dropped
    # — banding, shuffling, and the Jaccard verify all run on 8-byte longs
    # (|A∩B|/|A∪B| is identical over the distinct hash sets; a 64-bit
    # collision inside one doc pair is ~2^-64).
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint (not persist): materialized once for the 3 downstream
    # uses, lineage truncated, and the cached blocks are reclaimed by the
    # ContextCleaner once the DataFrame is unreferenced — repeated calls in
    # a long-lived session no longer accumulate cache for the app lifetime
    if portable_hash:
        base = (
            df.repartition(parallelism)  # small parquet inputs arrive 1-partition
            .select(F.col(id_col).alias("id"), T.shingles(F.col(text_col), n).alias("grams"))
            .filter(F.size("grams") > 0)
            .localCheckpoint(eager=True)
        )
        sigs = base.select(
            "id", T.minhash_from_grams(F.col("grams"), k, portable=True).alias("sig")
        )
    else:
        # fast path: shingle strings hashed ONCE (xxhash64) then dropped —
        # banding, shuffling, and the Jaccard verify run on 8-byte longs.
        # (Token-tuple hashing via element_at was tried and measured 2-4×
        # SLOWER than array_join+one-hash: variable-index element_at inside
        # a higher-order lambda defeats codegen; negative result kept out.)
        base = (
            df.repartition(parallelism)
            .select(F.col(id_col).alias("id"), T.shingles(F.col(text_col), n).alias("g"))
            .filter(F.size("g") > 0)
            .select("id", F.transform("g", lambda g: F.xxhash64(g)).alias("grams"))
            .localCheckpoint(eager=True)
        )
        sigs = base.select("id", T.minhash_from_hashes(F.col("grams"), k).alias("sig"))

    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("sig")[i].cast("string")
                                    for i in range(
                                        b * rows_per_band, (b + 1) * rows_per_band
                                    )
                                ],
                            )
                        ).alias("band_sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig"))

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    pairs = cand.join(
        base.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a")), "id_a"
    ).join(
        base.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b")), "id_b"
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    union = F.size(F.array_union("grams_a", "grams_b")).cast("double")
    return (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | str | None = "auto",
    auto_floor: int = 1024,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index
    (explode → join on shingle → count common) — no pairwise cross join.
    SQL-portable (the DuckDB oracle runs the same algebra).

    ``max_df`` is the stop-shingle cap for corpus scale: a shingle shared
    by d documents contributes d·(d-1)/2 join rows, so ONE shingle in 10^6
    docs is a 5·10^11-pair hot key. Grams with document frequency > max_df
    are dropped from the inverted index before the self-join (common
    shingles carry ~no dedup signal anyway). This bounds per-gram join
    fan-out at max_df²/2. TWO declared effects when the cap binds:
    (1) recall — pairs supported ONLY by stop-shingles are missed; and
    (2) score deflation — for pairs that ARE reported, capped grams
    leave the numerator (n_common) but sizes/n_grams keep the full gram
    set, so the jaccard of pairs sharing capped grams is systematically
    UNDER-estimated (never over-), i.e. the threshold acts conservatively
    on hot-gram pairs. BEHAVIOR CHANGE NOTE: the default switched from
    ``None`` (exact) to ``"auto"`` — callers on corpora where any gram's
    document frequency exceeds the ~N^(1/3) floor-1024 cap now get the
    capped semantics unless they pass ``max_df=None`` explicitly.
    Default ``"auto"`` derives the cap from the corpus doc count via
    :func:`auto_max_df` (~N^(1/3), floored at ``auto_floor`` so
    test-scale corpora stay exact); pass ``None`` to opt in to the exact
    uncapped form — the oracle-checked baseline."""
    sh = (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), T.shingles(F.col(text_col), n).alias("grams"))
        .filter(F.size("grams") > 0)
    )
    if max_df == "auto":
        max_df = auto_max_df(df.count(), floor=auto_floor)
    sizes = sh.select("id", F.size("grams").alias("n_grams"))
    inv = sh.select("id", F.explode("grams").alias("gram"))
    if max_df is not None:
        rare = (
            inv.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("gram")
        )
        inv = inv.join(rare, "gram")
    common = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_stage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash",
    portable: bool = False,
) -> DataFrame:
    """(id, simhash) via ONE Arrow-batched vote accumulation.

    Bit-identical to the pure-Column ``T.simhash64`` (the oracle-portable
    reference formulation), but the 64 per-bit vote passes collapse into a
    single numpy kernel: tokenization + xxhash64 stay JVM-side (so the hash
    values are exactly Spark's), the mapInPandas stage only popcount-votes
    over the pre-hashed arrays — np.add.reduceat per bitplane, O(64·T) C
    ops instead of a 64-branch codegen tree re-walking the array per bit.
    No shuffle; scans (id, text) only.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as ST

    if portable:
        # 60-bit token hash from the first 15 md5 hex chars — computable
        # verbatim by the DuckDB oracle (TRY_CAST('0x'||substr(md5(t),1,15)
        # AS BIGINT)); fits signed int64 on both engines. Fast path stays
        # xxhash64/64-bit.
        def tok_hash(t):
            return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    else:
        def tok_hash(t):
            return F.xxhash64(t)

    n_bits = 60 if portable else 64
    hashes = F.transform(
        F.array_distinct(T.tokens(F.lower(F.col(text_col)))),
        tok_hash,
    )
    proj = df.select(F.col(id_col).alias("id"), hashes.alias("h"))
    schema = ST.StructType(
        [
            ST.StructField("id", df.schema[id_col].dataType),
            ST.StructField(out_col, ST.LongType()),
        ]
    )

    # nibble -> its 4 bit-flags spread into the 16-bit lanes of a uint64, so
    # one reduceat pass accumulates 4 bit-counts at once (16 passes over the
    # token hashes instead of 64, and each reads 1 byte-column instead of
    # shifting/masking/upcasting the full 8-byte hash — the kernel is memory-
    # bandwidth-bound, so this is a measured ~2.4x on top of the one-pass
    # formulation). Lane capacity is 16 bits: safe while every doc has
    # < 65536 distinct tokens; longer docs fall back to the per-bit path.
    _LANE_LUT = np.zeros(16, dtype=np.uint64)
    for _v in range(16):
        _LANE_LUT[_v] = (
            (_v & 1)
            | ((_v >> 1) & 1) << 16
            | ((_v >> 2) & 1) << 32
            | ((_v >> 3) & 1) << 48
        )

    def votes_kernel(lens: "np.ndarray", flat: "np.ndarray") -> "np.ndarray":
        out = np.zeros(len(lens), dtype=np.uint64)
        idx = np.flatnonzero(lens > 0)
        if idx.size == 0:
            return out.view(np.int64)
        lens_ne = lens[idx]
        starts = np.zeros(idx.size, dtype=np.int64)
        np.cumsum(lens_ne[:-1], out=starts[1:])
        u = flat.view(np.uint64)
        if lens_ne.max() < (1 << 16):
            u8 = u.astype("<u8").view(np.uint8).reshape(-1, 8)
            for j in range(8):
                col = u8[:, j]
                for half, shift in ((col & 15, 0), (col >> 4, 4)):
                    sums4 = np.add.reduceat(_LANE_LUT[half], starts)
                    for k in range(4):
                        b = j * 8 + shift + k
                        if b >= n_bits:
                            continue
                        cnt = ((sums4 >> np.uint64(16 * k)) & np.uint64(0xFFFF))
                        # vote_b = 2*set_bits - len; bit set iff > 0
                        out[idx] |= (
                            2 * cnt.astype(np.int64) - lens_ne > 0
                        ).astype(np.uint64) << np.uint64(b)
            return out.view(np.int64)
        for b in range(n_bits):
            bit = ((u >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            sums = np.add.reduceat(bit, starts)
            # vote_b = set_bits - unset_bits = 2*sums - len; bit set iff > 0
            out[idx] |= (2 * sums - lens_ne > 0).astype(np.uint64) << np.uint64(b)
        return out.view(np.int64)

    def gen(batches):
        for pdf in batches:
            # null text → null hash array → simhash 0, matching the Column
            # formulation (aggregate(null)=null, when(null>0)→otherwise(0))
            arrs = [None if x is None else np.asarray(x, dtype=np.int64)
                    for x in pdf["h"]]
            lens = np.fromiter(
                (0 if a is None else len(a) for a in arrs),
                dtype=np.int64, count=len(arrs),
            )
            if lens.sum():
                flat = np.concatenate([a for a in arrs if a is not None and len(a)])
            else:
                flat = np.empty(0, dtype=np.int64)
            yield pd.DataFrame({"id": pdf["id"], out_col: votes_kernel(lens, flat)})

    return proj.mapInPandas(gen, schema)


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs. Scale path: block on 4 16-bit sub-keys — two
    docs within hamming distance ≤3 of each other on 64 bits must agree on
    at least one of the 4 sub-keys (pigeonhole), so candidate generation is
    4 equi-joins instead of a cross join.

    ``portable=True`` switches to the 60-bit md5 token hash (4 15-bit
    blocks) so the exact pair set is reproducible by a SQL oracle."""
    block_bits = 15 if portable else 16
    block_mask = (1 << block_bits) - 1
    hashed = simhash_stage(
        df.repartition(df.sparkSession.sparkContext.defaultParallelism),
        text_col,
        id_col,
        portable=portable,
    )
    blocks = hashed.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.shiftrightunsigned(F.col("simhash"), b * block_bits)
                        .bitwiseAND(F.lit(block_mask))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.block", "bk.key")
    cand = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", T.hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _star_components(edges: DataFrame, max_iters: int) -> tuple[DataFrame, list[int], bool]:
    """Alternating large-star/small-star contraction [Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"] — O(log² n) rounds on
    ANY graph shape, including the chain-shaped adversarial components
    where min-label propagation needs diameter rounds.

    Input: symmetric edge list (u, v), both directions present. Output:
    (id, label) with label = component minimum, for every non-min node;
    plus per-round edge-count telemetry and a converged flag.

    Each star step is one groupBy(u) min + one re-join — the same two
    shuffles per round as label propagation, but the edge set *contracts*
    toward a star on the component min instead of propagating one hop.
    """
    e = (
        edges.select("u", "v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds: list[int] = []
    converged = False
    prev_fp = None
    for _ in range(max_iters):
        # large-star: for each u, attach strictly larger neighbors to
        # m = min(N(u) ∪ {u}); symmetric closure keeps both directions.
        mins = e.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least(F.col("u"), F.col("_mn")).alias("m")
        )
        big = (
            e.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        e = (
            big.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(big.select(F.col("b").alias("u"), F.col("a").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: key each edge by its larger endpoint; attach the
        # smaller neighbors and the key itself to the minimum.
        directed = e.filter(F.col("v") < F.col("u"))
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        sm = directed.join(mins, "u")
        small = (
            sm.select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(sm.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        e = (
            small.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(small.select(F.col("b").alias("u"), F.col("a").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # convergence: edge-set fingerprint (count + order-free hash sum)
        fp = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: ANSI mode overflows a long sum of 64-bit hashes
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        rounds.append(int(fp["n"]))
        if prev_fp == (fp["n"], fp["h"]):
            converged = True
            break
        prev_fp = (fp["n"], fp["h"])
    labels = (
        e.filter(F.col("v") < F.col("u"))
        .select(F.col("u").alias("id"), F.col("v").alias("label"))
    )
    return labels, rounds, converged


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    strict: bool = False,
    algorithm: str = "label",
) -> DataFrame:
    """Near-dup cluster formation: connected components over a pair set
    (from minhash_lsh_pairs / simhash_dedup_pairs / ngram_jaccard_pairs /
    pairwise_cosine_dedup) + canonical-doc election — the step the reference
    performs implicitly by keeping the first-seen row of each duplicate
    group (pacong/data/processor.py:335-380), generalized to transitive
    near-dup groups for training-corpus dedup.

    Returns (doc_id, cluster_id, is_canonical): cluster_id is the MINIMUM
    doc id reachable through the pair graph (a deterministic canonical
    representative — re-runs and engines agree); is_canonical marks the one
    kept row per cluster. Docs absent from ``pairs`` are singleton clusters
    of themselves when ``docs`` is supplied.

    Algorithm: iterative min-label propagation (label(v) ← min(label(v),
    min over neighbors)) with a localCheckpoint per round to cut lineage —
    the same iterative-DataFrame discipline as :func:`pagerank`. Rounds
    needed = graph diameter; near-dup components are star-like (a canonical
    plus its variants), so convergence is typically 2–4 rounds. At 100 TB
    the labels/edges joins hash-partition on the node id; a skew-heavy
    component (one doc near-dup to millions) is exactly the case the
    alternating large-star/small-star contraction [Kiveris et al., "Connected
    Components in MapReduce and Beyond"] bounds to O(log^2 n) rounds — this
    implementation keeps the simpler min-propagation as the default because
    dedup components are diameter-bounded by construction (every member is
    within one verify-threshold hop of a canonical), and the per-round plan
    is two hash joins + one partial agg, all AQE-skew-splittable. For
    adversarial shapes pass ``algorithm="star"`` — the large-star/small-star
    contraction itself (:func:`_star_components`), which converges in
    O(log² n) rounds on a chain where propagation needs diameter rounds.

    Convergence is observable, not assumed: per-round changed-label counts
    land in module-level ``LAST_CLUSTER_STATS`` (rounds / changed_per_round
    / converged), the loop exits early the first round nothing changes, and
    a component whose diameter exceeds ``max_iters`` (a pathological chain)
    warns — or raises when ``strict=True`` — instead of silently returning
    unconverged labels.
    """
    e = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    )
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)

    if algorithm == "star":
        star_labels, round_sizes, conv = _star_components(edges, max_iters)
        mins = star_labels.select(F.col("label")).distinct()
        labels = star_labels.unionByName(
            mins.select(F.col("label").alias("id"), "label")
        )
        # isolated self-pair nodes (id_a == id_b only) never appear in a
        # star edge; restore them as their own component
        allnodes = edges.select(F.col("u").alias("id")).distinct()
        labels = (
            allnodes.join(labels, "id", "left")
            .select(
                "id", F.coalesce("label", F.col("id")).alias("label")
            )
            .localCheckpoint(eager=True)
        )
        LAST_CLUSTER_STATS.clear()
        LAST_CLUSTER_STATS.update(
            {
                "algorithm": "star",
                "rounds": len(round_sizes),
                "edges_per_round": round_sizes,
                "converged": conv,
            }
        )
        if not conv:
            msg = (
                f"dedup_clusters(star) did not reach an edge fixpoint in "
                f"{max_iters} rounds"
            )
            if strict:
                raise RuntimeError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        clustered = labels.select(
            F.col("id").alias(id_col), F.col("label").alias("cluster_id")
        )
        if docs is not None:
            clustered = (
                docs.select(id_col)
                .join(clustered, id_col, "left")
                .select(
                    id_col,
                    F.coalesce("cluster_id", F.col(id_col)).alias(
                        "cluster_id"
                    ),
                )
            )
        return clustered.withColumn(
            "is_canonical", F.col(id_col) == F.col("cluster_id")
        )

    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    changed_per_round: list[int] = []
    changed = 0
    for _ in range(max_iters):
        nb_min = (
            edges.join(labels.withColumnRenamed("id", "u"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("label").alias("nb_label"))
        )
        new_labels = (
            labels.join(nb_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nb_label", "label")).alias(
                    "label"
                ),
                (F.col("nb_label") < F.col("label")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("chg")).count()
        changed_per_round.append(changed)
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    LAST_CLUSTER_STATS.clear()
    LAST_CLUSTER_STATS.update(
        {
            "rounds": len(changed_per_round),
            "changed_per_round": changed_per_round,
            "converged": changed == 0,
        }
    )
    if changed != 0:
        msg = (
            f"dedup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — component diameter exceeds "
            "max_iters; raise max_iters or pre-contract the pair graph"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    clustered = labels.select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )
    if docs is not None:
        clustered = (
            docs.select(id_col)
            .join(clustered, id_col, "left")
            .select(
                id_col,
                F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            )
        )
    return clustered.withColumn(
        "is_canonical", F.col(id_col) == F.col("cluster_id")
    )


def keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus after near-dup collapse: one canonical doc (minimum id) per
    connected component, all singletons kept. The join is on the slim
    (id, cluster) frame — full doc rows never enter the iterative stage."""
    keep = (
        dedup_clusters(pairs, docs=None, id_col=id_col, id_a=id_a, id_b=id_b)
        .filter(~F.col("is_canonical"))
        .select(F.col(id_col))
    )
    return docs.join(keep, id_col, "left_anti")


def canonical_url_dedup(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    target_col: str = "canonical_target",
) -> DataFrame:
    """rel=canonical collapse (the duplicate-URL signal sites publish
    themselves — print views, tracking-parameter variants, mirrors all
    declare one canonical target): extract ``<link rel=canonical>`` from
    the head, resolve it against the page URL (absolute / protocol- /
    root- / document-relative), group by the resolved target, and keep
    the self-canonical page when the group has one, else the smallest
    URL (deterministic re-run-stable election).

    One window over md5-groupable string keys — the page payload is
    carried through a single hash-partition shuffle on the target (same
    weight class as ``keep_latest``); extraction + resolution are pure
    regexp/conditional columns in codegen.
    """
    from ..functions import urltools as U

    target = F.coalesce(
        U.resolve_url(F.col(url_col), U.rel_canonical(F.col(html_col))),
        F.col(url_col),
    )
    with_target = pages.withColumn(target_col, target)
    w = Window.partitionBy(target_col).orderBy(
        F.when(F.col(url_col) == F.col(target_col), F.lit(0)).otherwise(F.lit(1)),
        F.col(url_col),
    )
    return (
        with_target.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def mirror_candidates(
    pages: DataFrame,
    host_col: str = "host",
    fp_col: str = "fingerprint",
    min_shared: int = 3,
    min_overlap: float = 0.5,
    max_fp_hosts: int = 50,
) -> DataFrame:
    """Mirror-host detection (Bharat & Broder 1999, "Mirror, mirror on the
    web", public method — content-level variant): host pairs whose page
    fingerprint sets overlap heavily are mirrors/CDN twins — crawl one,
    map the other, halve the fetch budget. The PATH-KEYED precision
    variant (same content at the same path — immune to cross-host
    boilerplate, the one to run first) is
    :func:`..urlfilter.mirror_hosts_by_path`.

    Plan: distinct slim (host, fp) rows; fps present on more than
    ``max_fp_hosts`` hosts are dropped first (cross-host boilerplate —
    empty pages, error templates — would otherwise pair every host with
    every host: the same hot-key quadratic-blowup cap the minhash band
    join and the n-gram join use, declared as a recall trade for
    boilerplate-only mirrors). Then a fp-bucketed self-join (host_a <
    host_b) → per-pair shared count → overlap = shared / min(|a|, |b|).

    Returns (host_a, host_b, shared, n_a, n_b, overlap) for pairs with
    ``shared ≥ min_shared`` and ``overlap ≥ min_overlap``.
    """
    hf = pages.select(
        F.col(host_col).alias("host"), F.col(fp_col).alias("fp")
    ).distinct()
    fp_hosts = hf.groupBy("fp").agg(F.count(F.lit(1)).alias("n_hosts"))
    slim = hf.join(
        fp_hosts.filter(F.col("n_hosts") <= max_fp_hosts).select("fp"), "fp"
    ).localCheckpoint()
    sizes = slim.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
    a = slim.select(F.col("fp"), F.col("host").alias("host_a"))
    b = slim.select(F.col("fp"), F.col("host").alias("host_b"))
    pairs = (
        a.join(b, "fp")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("host", "host_a")
                   .withColumnRenamed("n", "n_a"), "host_a")
        .join(sizes.withColumnRenamed("host", "host_b")
              .withColumnRenamed("n", "n_b"), "host_b")
        .withColumn("overlap",
                    F.col("shared") / F.least(F.col("n_a"), F.col("n_b")))
    )
    return out.filter(
        (F.col("shared") >= min_shared) & (F.col("overlap") >= min_overlap)
    ).select("host_a", "host_b", "shared", "n_a", "n_b",
             F.round("overlap", 6).alias("overlap"))


def allpairs_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    n: int = 1,
) -> DataFrame:
    """EXACT all-pairs similarity join with LOSSLESS prefix filtering
    (Bayardo, Ma & Srikant 2007, "Scaling up all pairs similarity
    search"; Chaudhuri et al.'s prefix-filter principle — public
    methods): every unordered doc pair with token-set Jaccard ≥
    ``threshold``, with NO approximation — the exact-threshold
    complement of the MinHash/SimHash family (those trade recall for
    speed; this prunes without losing a single qualifying pair).

    Prefix principle: order all tokens globally by (document frequency
    asc, token) and keep only each doc's first ``|d| − ⌈t·|d|⌉ + 1``
    tokens as join keys. If J(A,B) ≥ t then A and B share at least one
    PREFIX token — any pair the prefix join misses provably fails the
    threshold — so candidates only ever meet on their RAREST tokens:
    the hot-token quadratic blowup the full inverted-index join
    (``ngram_jaccard_pairs``) caps heuristically with ``max_df`` is
    here eliminated exactly, with zero recall loss. Candidates are then
    verified by exact intersection counts over the full token sets.

    Plan: one df aggregation, one rank window per doc (hash-partitioned
    on the doc), a prefix-token equi-join, and the verify join — every
    shuffle keyed, no cartesian. Returns (id_a, id_b, n_common, size_a,
    size_b, jaccard) with id_a < id_b, jaccard rounded to 6dp. The
    result is by construction identical to the brute-force exact join —
    the oracle certifies the pruning's losslessness, not an estimate.
    ``n`` > 1 switches the set elements from word unigrams to n-word
    shingles (same semantics).
    """
    t = float(threshold)
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(T.shingles(F.col(text_col), n)).alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .localCheckpoint()
    )
    sizes = sh.select("id", F.size("toks").cast("long").alias("sz"))
    inv = sh.select("id", F.explode("toks").alias("tok"))
    dfreq = inv.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        inv.join(dfreq, "tok")
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy("__df", "tok")
            ),
        )
        .join(sizes, "id")
    )
    # prefix length |d| - ceil(t*|d|) + 1
    prefix = ranked.filter(
        F.col("__rk") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    ).select("id", "tok")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact verification: intersection counts over the FULL token sets —
    # the second join keys on (id_b, tok) so only INTERSECTION tokens
    # materialize, never the |A|×|B| token product of a pair
    inter = (
        cand.join(
            inv.select(F.col("id").alias("id_a"), "tok"), "id_a"
        )
        .join(
            inv.select(F.col("id").alias("id_b"), "tok"),
            ["id_b", "tok"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        inter.join(sizes.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("sz", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
    )
    return scored.filter(F.col("jaccard") >= t).select(
        "id_a", "id_b",
        F.col("n_common").cast("long").alias("n_common"),
        "size_a", "size_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Directional n-gram containment (Broder 1997's resemblance twin):
    ``|grams(A) ∩ grams(B)| / |grams(A)|`` — catches quotes, article
    copies, and prefix/suffix republications that symmetric Jaccard
    misses (a 50-word excerpt inside a 5,000-word page has Jaccard ≈0.01
    but containment 1.0).

    Same inverted-index join as ``ngram_jaccard_pairs`` (no cross join),
    without its stop-shingle cap: every shared gram counts. Each unordered
    pair is scored once and emitted per direction that clears the
    threshold, as (id_contained, id_container, containment).
    """
    sh = (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"),
                T.shingles(F.col(text_col), n).alias("grams"))
        .filter(F.size("grams") > 0)
    )
    sizes = sh.select("id", F.size("grams").alias("n_grams"))
    inv = sh.select("id", F.explode("grams").alias("gram"))
    common = (
        inv.alias("a")
        .join(inv.alias("b"),
              (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        common.join(sizes.withColumnRenamed("id", "id_a")
                    .withColumnRenamed("n_grams", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n_grams", "size_b"), "id_b")
    )
    a_in_b = scored.select(
        F.col("id_a").alias("id_contained"),
        F.col("id_b").alias("id_container"),
        F.round(F.col("n_common") / F.col("size_a"), 6).alias("containment"),
    )
    b_in_a = scored.select(
        F.col("id_b").alias("id_contained"),
        F.col("id_a").alias("id_container"),
        F.round(F.col("n_common") / F.col("size_b"), 6).alias("containment"),
    )
    return a_in_b.unionByName(b_in_a).filter(F.col("containment") >= threshold)


def _winnow_hash(gram: Column) -> Column:
    """60-bit k-gram hash: md5 prefix as bigint — computable identically in
    DuckDB (``TRY_CAST(concat('0x', substr(md5(g),1,15)) AS BIGINT)``), so
    the whole winnowing pipeline is oracle-exact, not just rows-checked."""
    return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")


def _winnow_gram_hashes(toks: Column, k: int) -> Column:
    """array<bigint> of k-gram hashes for one document's token array."""
    g = F.size(toks) - k + 1  # number of k-grams
    return F.when(
        g >= 1,
        F.transform(
            F.sequence(F.lit(0), g - 1),
            lambda i: _winnow_hash(F.array_join(F.slice(toks, i + 1, k), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    "Winnowing: local algorithms for document fingerprinting" — the MOSS
    algorithm): hash every k-token gram, slide a window of ``w``
    consecutive gram hashes, and in each window select the minimum hash
    (rightmost occurrence on ties — the paper's Figure 5 selection rule;
    the "robust" refinement differs only on equal-hash ties, vanishingly
    rare at 60 bits). The selected set is a LOCAL fingerprint: any shared
    substring of at least ``w + k − 1`` tokens between two documents is
    GUARANTEED to contribute at least one common fingerprint (the paper's
    correctness property), with expected density 2/(w+1) — unlike MinHash
    (global, probabilistic) or fixed-stride sampling (alignment-
    sensitive, no guarantee).

    Returns one row per distinct (document, selected gram): ``(doc_id,
    pos, fp)`` with ``pos`` the 0-based token offset of the selected
    k-gram and ``fp`` its 60-bit hash. Documents shorter than ``k``
    tokens emit nothing; documents with fewer than ``w`` grams are
    winnowed as a single window.

    Scale shape: the entire selection is per-row array algebra — ZERO
    shuffles; the output explode carries ~2·tokens/(w+1) slim (int,
    bigint) rows per doc. This is the scan stage every downstream overlap
    join feeds from. The gram-hash and per-window-min arrays are
    materialized as separate PROJECTION columns on purpose: referencing a
    non-cheap expression from inside transform() lambdas would re-inline
    (and re-evaluate) the whole upstream array once per window reference
    — O(grams²·w) md5 work per document (measured 200+ s for 150 docs);
    CollapseProject keeps multiply-referenced non-cheap columns
    un-collapsed, so each array is computed exactly once per row.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    toks = T.tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        _winnow_gram_hashes(toks, k).alias("__h"),
    )
    h = F.col("__h")
    ng = F.size(h)
    wlen = F.least(F.lit(w), ng)  # short docs: whole gram list is one window
    with_mins = base.withColumn(
        "__mins",
        F.when(
            ng >= 1,
            F.transform(
                F.sequence(F.lit(0), ng - wlen),
                lambda i: F.array_min(F.slice(h, i + 1, wlen)),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )
    mins = F.col("__mins")
    sel = F.transform(
        F.sequence(F.lit(0), F.size(mins) - 1),
        lambda i: F.struct(
            F.element_at(
                F.filter(
                    F.sequence(i, i + wlen - 1),
                    lambda j: F.element_at(h, j + 1)
                    == F.element_at(mins, i + 1),
                ),
                -1,
            ).cast("int").alias("pos"),
            F.element_at(mins, i + 1).alias("fp"),
        ),
    )
    return (
        with_mins.select(
            "doc_id",
            F.explode(
                F.when(F.size(mins) >= 1, F.array_distinct(sel)).otherwise(
                    F.array().cast("array<struct<pos:int,fp:bigint>>")
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_common: int = 2,
    max_df: int | str | None = "auto",
    auto_floor: int = 1024,
) -> DataFrame:
    """All document pairs sharing ≥ ``min_common`` winnowing fingerprint
    HASHES — MOSS-style overlap detection: because fingerprints are local
    (see :func:`winnow_fingerprints`), a copied passage of ≥ w+k−1 tokens
    registers no matter where it lands in either document, at ~2/(w+1)
    of the index size of a full k-gram inverted index.

    Plan: fingerprint scan (zero shuffle) → distinct (doc, fp) →
    fp-keyed self-join → pair agg → per-doc count join for the overlap
    score ``n_common / min(n_a, n_b)``. The join carries only (doc_id,
    fp) slim rows. ``max_df`` drops fingerprints shared by more than
    that many docs before the join — the boilerplate-gram hot-key cap,
    same discipline (and same two declared effects) as
    ``ngram_jaccard_pairs``: pairs supported only by capped fingerprints
    are missed (recall trade), and reported pairs sharing capped
    fingerprints have n_common — but not n_a/n_b — reduced, so their
    ``overlap`` score is systematically UNDER-estimated; ``min_common``
    therefore acts conservatively on boilerplate-heavy pairs. BEHAVIOR
    CHANGE NOTE: the default switched from ``None`` (exact) to
    ``"auto"`` — corpora with any fingerprint past the ~N^(1/3)
    floor-1024 cap now get capped semantics unless ``max_df=None`` is
    passed explicitly. Default ``"auto"`` derives the cap from the
    corpus doc count via :func:`auto_max_df` (~N^(1/3), floored at
    ``auto_floor`` so test-scale corpora stay exact); pass ``None`` to
    opt in to the exact uncapped form.

    Returns (id_a, id_b, n_common, n_a, n_b, overlap), id_a < id_b.
    """
    fps = (
        winnow_fingerprints(df, text_col, id_col, k, w)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint()
    )
    if max_df == "auto":
        # probe on the INPUT row count (parquet count pushdown — no
        # fingerprint compute), same as ngram_jaccard_pairs: cap sizing
        # needs corpus magnitude, not exact fingerprinted-doc count
        max_df = auto_max_df(df.count(), floor=auto_floor)
    counts = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    if max_df is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= int(max_df))
            .select("fp")
        )
        fps = fps.join(keep, "fp")
    pairs = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= int(min_common))
    )
    return (
        pairs.join(
            counts.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_fp", "n_a"),
            "id_a",
        )
        .join(
            counts.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_fp", "n_b"),
            "id_b",
        )
        .select(
            "id_a", "id_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("n_common") / F.least("n_a", "n_b"), 6).alias("overlap"),
        )
    )


def winnow_shared_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_fps: int = 2,
) -> DataFrame:
    """Shared-passage SPAN extraction — the MOSS report stage on top of
    :func:`winnow_fingerprints`: fingerprint matches between two documents
    that sit on the same alignment diagonal (``pos_a − pos_b`` constant)
    and within ``w`` tokens of the previous match chain into one
    maximal span, yielding the actual copied-passage offsets in BOTH
    documents rather than a bag of shared hashes. Inside a genuinely
    shared run, any w consecutive grams sufficiently far from the run's
    edges form identical windows in both documents, so both select the
    same minimum — matched selections are at most ``w`` positions apart,
    which is why ``w`` is the chaining gap.

    Plan: zero-shuffle fingerprint scan → fp-keyed equi-self-join
    (slim (doc, pos, fp) rows) → ONE window keyed by
    (id_a, id_b, diagonal) doing the gaps-and-islands chain (lag +
    running sum) → per-island agg. Every shuffle is keyed by pair ids —
    nothing quadratic beyond the fingerprint matches themselves, which
    ``max_df``-style caps on the caller's fingerprint frame bound at
    corpus scale.

    Returns (id_a, id_b, start_a, end_a, start_b, end_b, n_fps) with
    id_a < id_b, END offsets inclusive of the final k-gram's last token,
    only spans backed by >= ``min_fps`` matched fingerprints.
    """
    from pyspark.sql import Window

    fps = (
        winnow_fingerprints(df, text_col, id_col, k, w)
        .localCheckpoint(eager=True)
    )
    m = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    wo = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    seg = (
        m.withColumn(
            "__new",
            F.when(
                F.col("pos_a") - F.lag("pos_a").over(wo) > w, 1
            ).otherwise(0),
        )
        .withColumn("__seg", F.sum("__new").over(wo))
    )
    return (
        seg.groupBy("id_a", "id_b", "diag", "__seg")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.max("pos_a") + k - 1).alias("end_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_b") + k - 1).alias("end_b"),
            F.count(F.lit(1)).alias("n_fps"),
        )
        .filter(F.col("n_fps") >= int(min_fps))
        .select(
            "id_a", "id_b",
            F.col("start_a").cast("int").alias("start_a"),
            F.col("end_a").cast("int").alias("end_a"),
            F.col("start_b").cast("int").alias("start_b"),
            F.col("end_b").cast("int").alias("end_b"),
            F.col("n_fps").cast("long").alias("n_fps"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted signature index (Broder 1997
# resemblance sketches; the FineWeb/CCNet ingestion pattern: each crawl
# epoch dedups against everything already accepted WITHOUT re-scanning it)
# ---------------------------------------------------------------------------


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    portable_hash: bool = False,
) -> DataFrame:
    """The persistable dedup index: ``(id_col, sig array)`` — one k-element
    MinHash signature per document, ~8k bytes/doc (k longs) regardless of
    document size. THIS is what survives between crawl epochs; the corpus
    text is never re-read to dedup against it. Band keys are derived from
    ``sig`` on the fly (k array ops, no text), so the index is one slim
    table; a real deployment writes it partitioned/bucketed by id.

    portable_hash=True uses md5 permutations (oracle-replayable, sig
    elements are hex strings); default xxhash64 (~5× cheaper, longs).
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartition(parallelism)
        .select(F.col(id_col), T.shingles(F.col(text_col), n).alias("__g"))
        .filter(F.size("__g") > 0)
    )
    if portable_hash:
        sig = T.minhash_from_grams(F.col("__g"), k, portable=True)
    else:
        hashed = F.transform("__g", lambda g: F.xxhash64(g))
        base = base.select(id_col, hashed.alias("__g"))
        sig = T.minhash_from_hashes(F.col("__g"), k)
    return base.select(id_col, sig.alias("sig"))


def _sig_bands(k: int, bands: int, portable: bool):
    """(band, band_sig) struct array derived from a ``sig`` column — the
    LSH keys recomputed from signatures alone (no text, no grams)."""
    rows = k // bands
    out = []
    for b in range(bands):
        parts = F.concat_ws(
            "|", *[F.col("sig")[i].cast("string") for i in range(b * rows, (b + 1) * rows)]
        )
        band_sig = F.md5(parts) if portable else F.xxhash64(parts).cast("string")
        out.append(F.struct(F.lit(b).alias("band"), band_sig.alias("band_sig")))
    return F.array(*out)


def _sig_est(a, b, k: int):
    """Unbiased Jaccard estimate from two signatures: matching-component
    fraction (sd = sqrt(J(1-J)/k)). Works for long or hex-string sigs."""
    eq = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
    return F.round(
        F.aggregate(eq, F.lit(0), lambda acc, x: acc + x).cast("double") / k, 6
    )


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable_hash: bool = False,
) -> DataFrame:
    """Dedup one incoming batch against a persisted :func:`minhash_index`
    AND against itself, in one pass. Returns every new doc annotated:

    - ``status='dup_of_index'``: signature-matches an indexed doc in ≥1 LSH
      band with estimated Jaccard ≥ threshold; ``match_id`` = the smallest
      such index id (deterministic), ``est_jaccard`` its estimate.
    - ``status='dup_of_batch'``: not an index dup, but matches a smaller-id
      doc of the same batch (pair-wise min-id rule — the same canonical
      choice ``keep_canonical`` makes without transitive closure; chains
      within one batch are near-dup stars in practice, and an epoch's
      survivors get clustered properly once accepted).
    - ``status='kept'``: the survivors. ``SELECT id, sig WHERE
      status='kept'`` is exactly the increment to append to the index.

    Verification is signature-based (matching-component fraction), NOT a
    gram re-join — deliberately: the index stores no shingles, which is
    what makes it ~8k bytes/doc at 10^10 docs. The estimator's sd is
    sqrt(J(1-J)/k); size k for the false-positive rate you can afford,
    since the corpus side can never be re-read cheaply at 100 TB.

    Plan shape: the band join carries (id, band, band_sig) only — never
    text, grams, or sigs; sigs re-join by id for the candidate set alone.
    Index text is untouched; index sigs are scanned once. New-batch text
    is shingled exactly once (the sig table is localCheckpointed).
    """
    sig_new = minhash_index(
        new_docs, text_col, id_col, n, k, portable_hash=portable_hash
    ).localCheckpoint(eager=True)
    bexpr = _sig_bands(k, bands, portable_hash)
    banded_new = sig_new.select(
        F.col(id_col).alias("nid"), F.explode(bexpr).alias("bb")
    ).select("nid", "bb.band", "bb.band_sig")
    banded_idx = index.select(
        F.col(id_col).alias("iid"), F.explode(bexpr).alias("bb")
    ).select("iid", "bb.band", "bb.band_sig")

    # --- new vs index ------------------------------------------------------
    cand_idx = (
        banded_new.join(banded_idx, ["band", "band_sig"])
        .select("nid", "iid")
        .dropDuplicates(["nid", "iid"])
    )
    est_i = (
        cand_idx.join(sig_new.select(F.col(id_col).alias("nid"), F.col("sig").alias("sa")), "nid")
        .join(index.select(F.col(id_col).alias("iid"), F.col("sig").alias("sb")), "iid")
        .withColumn("est", _sig_est(F.col("sa"), F.col("sb"), k))
        .filter(F.col("est") >= threshold)
    )
    dup_idx = est_i.groupBy("nid").agg(
        F.min(F.struct(F.col("iid").alias("m"), F.col("est").alias("e"))).alias("x")
    ).select("nid", F.col("x.m").alias("_idx_match"), F.col("x.e").alias("_idx_est"))

    # --- new vs new (pair-wise min-id) --------------------------------------
    l, r = banded_new.alias("l"), banded_new.alias("r")
    cand_nn = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.nid") < F.col("r.nid")),
        )
        .select(F.col("l.nid").alias("a"), F.col("r.nid").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    est_n = (
        cand_nn.join(sig_new.select(F.col(id_col).alias("a"), F.col("sig").alias("sa")), "a")
        .join(sig_new.select(F.col(id_col).alias("b"), F.col("sig").alias("sb")), "b")
        .withColumn("est", _sig_est(F.col("sa"), F.col("sb"), k))
        .filter(F.col("est") >= threshold)
    )
    dup_nn = est_n.groupBy("b").agg(
        F.min(F.struct(F.col("a").alias("m"), F.col("est").alias("e"))).alias("x")
    ).select(
        F.col("b").alias("nid"),
        F.col("x.m").alias("_nn_match"),
        F.col("x.e").alias("_nn_est"),
    )

    out = (
        sig_new.withColumnRenamed(id_col, "nid")
        .join(dup_idx, "nid", "left")
        .join(dup_nn, "nid", "left")
    )
    status = (
        F.when(F.col("_idx_match").isNotNull(), F.lit("dup_of_index"))
        .when(F.col("_nn_match").isNotNull(), F.lit("dup_of_batch"))
        .otherwise(F.lit("kept"))
    )
    match_id = F.when(
        F.col("_idx_match").isNotNull(), F.col("_idx_match")
    ).otherwise(F.col("_nn_match"))
    est = F.when(F.col("_idx_match").isNotNull(), F.col("_idx_est")).otherwise(
        F.col("_nn_est")
    )
    return out.select(
        F.col("nid").alias(id_col),
        "sig",
        status.alias("status"),
        match_id.alias("match_id"),
        est.alias("est_jaccard"),
    )


def lsh_dedup_eval(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.18,
    portable_hash: bool = True,
) -> DataFrame:
    """Empirical quality audit of the MinHash-LSH dedup pipeline against
    exact-Jaccard ground truth — the measured complement of
    :func:`..similarity.lsh_plan`'s analytic S-curve: the planner PRICES a
    (bands, rows) choice, this op MEASURES what that choice actually did
    on a corpus, in-engine, so recall regressions surface as a number in
    the same gate as everything else (MMDS §3.4 evaluates banding choices
    exactly this way).

    Truth = :func:`ngram_jaccard_pairs` (exact all-pairs Jaccard at the
    shared-shingle join — any pair with J > 0 co-occurs on a shingle, so
    it is complete for any threshold > 0). Candidate = the full
    :func:`minhash_lsh_pairs` pipeline with the SAME shingles and
    threshold. Precision is 1.0 by construction (LSH verifies candidates
    with exact Jaccard on the same shingle sets before thresholding) —
    the eval certifies that invariant rather than assuming it; recall < 1
    is the real signal (pairs whose bands never collided).

    One full-outer join on slim (id_a, id_b) pairs + a 1-row agg; both
    inputs are the outputs of already-bucketed ops, so nothing here adds
    a scale hazard. All metrics are exact integers (counts + integer-div
    milli-units) — oracle-portable with zero float concerns.

    Returns 1 row: (n_truth, n_lsh, n_hit, precision_milli, recall_milli).
    """
    truth = (
        ngram_jaccard_pairs(docs, text_col, id_col, n=n, threshold=threshold)
        .select("id_a", "id_b")
        .withColumn("t", F.lit(1))
    )
    lsh = (
        minhash_lsh_pairs(
            docs, text_col, id_col,
            n=n, k=k, bands=bands, threshold=threshold,
            portable_hash=portable_hash,
        )
        .select("id_a", "id_b")
        .withColumn("l", F.lit(1))
    )
    j = truth.join(lsh, ["id_a", "id_b"], "full")
    zero = F.lit(0).cast("bigint")
    agg = j.agg(
        F.coalesce(F.sum(F.coalesce(F.col("t"), F.lit(0))), zero).alias("n_truth"),
        F.coalesce(F.sum(F.coalesce(F.col("l"), F.lit(0))), zero).alias("n_lsh"),
        F.coalesce(
            F.sum(
                F.coalesce(F.col("t"), F.lit(0)) * F.coalesce(F.col("l"), F.lit(0))
            ),
            zero,
        ).alias("n_hit"),
    )
    return agg.select(
        "n_truth",
        "n_lsh",
        "n_hit",
        F.when(
            F.col("n_lsh") > 0, F.expr("(1000 * n_hit) div n_lsh")
        ).alias("precision_milli"),
        F.when(
            F.col("n_truth") > 0, F.expr("(1000 * n_hit) div n_truth")
        ).alias("recall_milli"),
    )


def cdc_chunks(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    mask_bits: int = 5,
    min_size: int = 24,
    gear_mult: int = 11400714819323198485,
) -> DataFrame:
    """Content-defined chunking via a gear rolling hash — the
    STORAGE-level dedup primitive (LBFS, Muthitacharoen et al. SOSP'01;
    gear hash per Xia et al.'s FastCDC line of work): chunk boundaries
    are a function of CONTENT, not offsets, so an insertion early in a
    payload shifts every byte yet only the chunks touching the edit
    change — byte-offset chunking would invalidate everything downstream.
    Pairs with the text-side ``chunk_dedup`` family: this one dedups
    opaque ``binary`` payloads (crawl snapshots, media, WARC records)
    where tokenization is meaningless.

    Gear hash: ``h_i = (2·h_{i-1} + G[b_i]) mod 2^64`` with
    ``G[b] = (b+1)·gear_mult mod 2^64``. Because ``2^64 ≡ 0``, each
    byte's contribution shifts out after 64 steps — the recurrence IS a
    64-byte sliding-window hash, no explicit subtraction needed (the
    gear trick). Cut after byte ``i`` when ``h_i mod 2^mask_bits = 0``
    and the chunk has reached ``min_size``; the tail remainder is always
    emitted (no max-size clamp — declared; FastCDC's normalized masks
    are a recall tweak, not a correctness change).

    Arrow kernel, fully vectorized: the recurrence unrolls to 64
    shifted adds over the whole byte array (uint64 wraparound does the
    mod), then a tiny greedy pass over the few candidate cuts enforces
    ``min_size``. NULL/empty payloads yield no rows (null-route, same
    isolation discipline as the media decoders). Every emitted row is
    slim ``(id, chunk_idx, start, length, chunk_hash)`` — payload bytes
    never leave the scan stage, so the downstream chunk-hash dedup join
    shuffles ~60 B/chunk at any corpus size.

    ``chunk_hash`` is md5 over the dash-joined decimal byte values —
    engine-portable (the oracle recomputes it from the byte formula of
    the fixture), deliberately not a raw-bytes md5 so the certification
    never depends on BLOB hashing quirks.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("chunk_idx", LongType(), True),
            StructField("start", LongType(), True),
            StructField("length", LongType(), True),
            StructField("chunk_hash", StringType(), True),
        ]
    )
    mask_mod = np.uint64(1 << mask_bits)
    mult = np.uint64(gear_mult)

    def gen(batches):
        for pdf in batches:
            out = {c.name: [] for c in out_schema.fields}
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None or len(payload) == 0:
                    continue
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = len(b)
                with np.errstate(over="ignore"):
                    g = (b.astype(np.uint64) + np.uint64(1)) * mult
                    h = np.zeros(n, dtype=np.uint64)
                    for k in range(min(64, n)):
                        h[k:] += g[: n - k] << np.uint64(k)
                # 1-based cut positions (cut AFTER byte i-1)
                cand = np.nonzero(h % mask_mod == np.uint64(0))[0] + 1
                cuts = [0]
                for p in cand.tolist():
                    if p - cuts[-1] >= min_size:
                        cuts.append(p)
                if cuts[-1] != n:
                    cuts.append(n)
                for ci in range(len(cuts) - 1):
                    s, e = cuts[ci], cuts[ci + 1]
                    digest = hashlib.md5(
                        "-".join(str(int(x)) for x in b[s:e]).encode()
                    ).hexdigest()
                    out[id_col].append(rid)
                    out["chunk_idx"].append(ci)
                    out["start"].append(s)
                    out["length"].append(e - s)
                    out["chunk_hash"].append(digest)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(gen, out_schema)


def cdc_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Corpus-level storage-dedup accounting over a :func:`cdc_chunks`
    table — the number the LBFS/backup literature reports: how many bytes
    does chunk-level content addressing actually save on this corpus.

    One groupBy(chunk_hash) agg (count + the chunk length, identical
    across duplicates by content-addressing) followed by a 1-row rollup.
    Shuffles only ~60 B chunk-hash rows; all outputs exact integers
    (byte counts + integer-div milli ratio).

    Returns 1 row: (n_chunks, n_unique_chunks, total_bytes, unique_bytes,
    stored_ratio_milli) — stored_ratio_milli = ⌊1000·unique/total⌋, lower
    is better dedup.
    """
    per_hash = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("length").alias("length"),
    )
    zero = F.lit(0).cast("bigint")
    agg = per_hash.agg(
        F.coalesce(F.sum("n"), zero).alias("n_chunks"),
        F.coalesce(F.count(F.lit(1)), zero).alias("n_unique_chunks"),
        F.coalesce(F.sum(F.col("n") * F.col("length")), zero).alias("total_bytes"),
        F.coalesce(F.sum("length"), zero).alias("unique_bytes"),
    )
    return agg.select(
        "n_chunks",
        "n_unique_chunks",
        "total_bytes",
        "unique_bytes",
        F.when(
            F.col("total_bytes") > 0,
            F.expr("(1000 * unique_bytes) div total_bytes"),
        ).alias("stored_ratio_milli"),
    )


def bloom_capacity_plan(
    df: DataFrame,
    key: str = "url_hash",
    n_partitions: int = 16,
    target_fpp: float = 0.01,
    salt: str = "bplan",
) -> DataFrame:
    """Per-partition bloom seen-set capacity plan from observed lineage
    counts — the information-theoretically optimal parameters (Bloom CACM
    1970; Broder & Mitzenmacher's survey): for n keys at false-positive
    target p, m = ⌈−n·ln p / (ln 2)²⌉ bits and k = ⌊m/n·ln 2 + ½⌋
    probes. This is the planning twin of ``bloom_size_bits`` (which
    clamps to power-of-two broadcast shapes at runtime): given a frontier
    snapshot it reports, per seen-set shard, exactly how much executor
    memory the next epoch's pre-filter needs — the number a 10^10-URL
    deployment reads before choosing shard counts.

    Shard assignment uses the md5 ``hash_bucket`` (engine-portable, the
    sampling-family discipline); counts are DISTINCT keys per shard
    (duplicate sightings don't inflate capacity). ln p and the ln 2
    constants are Python-computed literals folded into the plan, so every
    float op is per-row with a fixed operand order — oracle-replayable
    exactly. Returns (partition_id, n_keys, m_bits, k_hashes, mem_bytes)
    with mem_bytes = (m_bits + 7) div 8 in exact integers.

    Scale shape: one distinct + one (bucket)-keyed combiner agg over two
    slim columns; output is shard-count-sized.
    """
    import math as _m

    from ..functions.sampling import hash_bucket

    neg_ln_p = -_m.log(float(target_fpp))
    ln2 = _m.log(2.0)
    ln2sq = ln2 * ln2
    per = (
        df.select(F.col(key).cast("string").alias("k"))
        .filter(F.col("k").isNotNull())
        .withColumn("partition_id", hash_bucket(F.col("k"), n_partitions, salt))
        .groupBy("partition_id")
        .agg(F.countDistinct("k").alias("n_keys"))
    )
    m_bits = F.ceil(
        F.col("n_keys").cast("double") * F.lit(neg_ln_p) / F.lit(ln2sq)
    ).cast("long")
    return per.select(
        F.col("partition_id").cast("long").alias("partition_id"),
        F.col("n_keys").cast("long").alias("n_keys"),
        m_bits.alias("m_bits"),
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(
                m_bits.cast("double") / F.col("n_keys").cast("double")
                * F.lit(ln2)
                + F.lit(0.5)
            ).cast("long"),
        ).alias("k_hashes"),
        ((m_bits + F.lit(7)) / F.lit(8)).cast("long").alias("mem_bytes"),
    )


def split_leakage(
    assignments: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Cross-split near-duplicate leakage audit — the eval-integrity
    check that must run AFTER ``dataset_split``: a test document whose
    near-duplicate sits in train is memorization leak, and benchmark
    numbers computed on it are inflated (the reason Lee et al. 2022
    deduplicate before splitting). Feed it the split assignment and
    ANY pair list this module produces (exact fingerprint twins,
    MinHash/SimHash candidates, winnow overlaps, embedding near-dups) —
    the audit is pair-source-agnostic.

    Plan: distinct undirected pairs → two id-keyed joins against the
    slim (id, split) assignment — at 10^10 docs these are
    shuffle-hash joins on the id key the dedup stages already
    partition by; same-split pairs drop BEFORE the aggregation; one
    combiner agg per unordered split combo. Nothing wider than
    (id, id, split, split) ever shuffles.

    Returns one row per leaking split combo, lexicographically
    normalized: (split_a, split_b, n_pairs, n_docs_a, n_docs_b) —
    n_docs_x = distinct documents of that split involved in the leak
    (the set to quarantine or re-assign).
    """
    asg = assignments.select(
        F.col(id_col).alias("_id"), F.col(split_col).alias("_s")
    ).distinct()
    p = (
        pairs.select(F.col(a_col).alias("ia"), F.col(b_col).alias("ib"))
        .filter(F.col("ia") != F.col("ib"))
        .select(
            F.least("ia", "ib").alias("ia"), F.greatest("ia", "ib").alias("ib")
        )
        .distinct()
    )
    j = (
        p.join(asg.select(F.col("_id").alias("ia"), F.col("_s").alias("sa")), "ia")
        .join(asg.select(F.col("_id").alias("ib"), F.col("_s").alias("sb")), "ib")
        .filter(F.col("sa") != F.col("sb"))
    )
    flip = F.col("sa") < F.col("sb")
    norm = j.select(
        F.least("sa", "sb").alias("split_a"),
        F.greatest("sa", "sb").alias("split_b"),
        F.when(flip, F.col("ia")).otherwise(F.col("ib")).alias("doc_a"),
        F.when(flip, F.col("ib")).otherwise(F.col("ia")).alias("doc_b"),
    )
    return norm.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count_distinct("doc_a").cast("long").alias("n_docs_a"),
        F.count_distinct("doc_b").cast("long").alias("n_docs_b"),
    )


def canonical_cluster_conflicts(
    pages: DataFrame,
    pairs: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Canonical-declaration conflicts WITHIN near-duplicate clusters —
    members of one duplicate group declaring DIFFERENT rel=canonical
    targets. Engines resolve this by ignoring some declarations
    (consolidation splits), and a dedup pipeline that trusts
    rel=canonical as the survivor key silently keeps two copies. The
    audit composes two certified primitives: connected components over
    any near-dup pair list (``dedup_clusters``) and the pure-column
    rel=canonical extraction/resolution (``urltools.rel_canonical`` /
    ``resolve_url``), then asks one per-cluster question: do the
    declared targets agree?

    Plan: cluster labels via min-label propagation (slim id pairs),
    one codegen projection for per-page targets, one url-keyed join,
    ONE cluster-keyed combiner agg. Nothing page-sized crosses the
    cluster exchange.

    Returns one row per multi-page cluster: (cluster_id, n_pages,
    n_declaring, n_distinct_targets, conflicted) — conflicted ⇔
    declared targets disagree (>1 distinct); undeclared pages don't
    conflict, they just don't vote.
    """
    from ..functions import urltools as U

    targets = pages.select(
        F.col(url_col).alias("url"),
        U.resolve_url(
            F.col(url_col), U.rel_canonical(F.col(html_col))
        ).alias("tgt"),
    )
    p = pairs.select(
        F.col(a_col).alias("id_a"), F.col(b_col).alias("id_b")
    ).filter(F.col("id_a") != F.col("id_b")).distinct()
    labs = dedup_clusters(
        p,
        docs=pages.select(F.col(url_col).alias("doc_id")),
        id_col="doc_id",
        max_iters=max_iters,
    ).select(F.col("doc_id").alias("url"), "cluster_id")
    agg = (
        labs.join(targets, "url", "left")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.sum(F.col("tgt").isNotNull().cast("long")).cast("long")
            .alias("n_declaring"),
            F.count_distinct("tgt").cast("long").alias("n_distinct_targets"),
        )
    )
    return agg.filter(F.col("n_pages") >= 2).select(
        "cluster_id", "n_pages", "n_declaring", "n_distinct_targets",
        (F.col("n_distinct_targets") > 1).alias("conflicted"),
    )
