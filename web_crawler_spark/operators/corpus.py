"""Corpus-quality operators for training-data pipelines (engine additions;
the reference has no corpus analytics — these extend SURVEY §2's scope the
way the build brief directs, alongside dedup.py/similarity.py).

All three are standard public-literature signals:

* ``gopher_quality`` — Rae et al. 2021 document filters (word count, mean
  word length, alpha-word ratio) as one shuffle-free projection.
* ``top_unigram_stats`` — repetition signal: the most frequent token's
  share of the document (Gopher's repetition family, unigram case).
* ``chunk_dedup_stats`` — exact duplicated-chunk accounting at k-word
  granularity (Lee et al. 2022 "Deduplicating Training Data", chunk
  variant): which documents carry text already seen elsewhere.

Scale notes: gopher_quality is pure projection (annotates the scan).
top_unigram_stats shuffles (id, word) pairs once into a per-doc agg —
combiner-friendly, skew-free (keys are (doc, word), not global words).
chunk_dedup_stats shuffles md5 fingerprints (16 B/chunk), never chunk
text, and the survivor window partitions by fingerprint — the same
hash-partition discipline as exact_dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T

# Telemetry from the most recent corpus_mix call: which physical plan the
# stats probe chose and what it measured (see corpus_mix's docstring).
LAST_MIX_PLAN: dict = {}


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_words, sum_word_len, n_alpha_words, flag_*) — integer-exact
    quality flags; see functions/text.py::gopher_quality_flags."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        *T.gopher_quality_flags(F.col(text_col)),
    )


def fineweb_line_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    short_line_chars: int = 30,
    punct_ratio_pct: int = 12,
    short_ratio_pct: int = 67,
    dup_line_pct: int = 30,
    dup_char_pct: int = 20,
) -> DataFrame:
    """FineWeb/RefinedWeb LINE-level quality signals — the newline-
    structure complement of the word-level :func:`gopher_quality` flags
    (Penedo et al. 2024 §3.3 filters; Rae et al. 2021 repetition family
    for the duplicate-line pair): per document, how its lines end, how
    short they run, and how much of its mass is intra-document repeated
    lines (nav menus, cookie banners, list boilerplate).

    Returns exact integer sufficient statistics plus integer-compare
    flags (no float thresholds — cross-multiplied percents, the repo's
    oracle-portable discipline):

    * ``n_lines``                total line occurrences
    * ``n_punct_lines``          lines ending in terminal punctuation
    * ``n_short_lines``          lines shorter than ``short_line_chars``
    * ``n_dup_lines``            occurrences beyond each line's first
    * ``dup_line_chars``         characters in those repeat occurrences
    * ``total_line_chars``       characters in all lines
    * ``flag_punct_ratio``       punct-terminated share ≥ punct_ratio_pct%
    * ``flag_short_lines``       short-line share ≤ short_ratio_pct%
    * ``flag_dup_lines``         dup-line share ≤ dup_line_pct% AND
                                 dup-char share ≤ dup_char_pct%
    * ``flag_pass``              all of the above

    Scale shape: one (doc, line)-keyed combiner agg + one doc-keyed
    combiner agg — no windows, no self-joins; the shuffle carries slim
    (doc_id, line-hash-sized) rows and both aggs are map-side partial.
    """
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    )
    per = lines.groupBy("doc_id", "line").agg(F.count(F.lit(1)).alias("cnt"))
    lc = F.length("line")
    punct = F.col("line").rlike("[.!?\"']$")
    stats = per.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        F.sum(F.when(punct, F.col("cnt")).otherwise(0))
        .cast("long").alias("n_punct_lines"),
        F.sum(F.when(lc < short_line_chars, F.col("cnt")).otherwise(0))
        .cast("long").alias("n_short_lines"),
        F.sum(F.col("cnt") - 1).cast("long").alias("n_dup_lines"),
        F.sum((F.col("cnt") - 1) * lc).cast("long").alias("dup_line_chars"),
        F.sum(F.col("cnt") * lc).cast("long").alias("total_line_chars"),
    )
    f_punct = (
        F.col("n_punct_lines") * 100 >= F.lit(int(punct_ratio_pct)) * F.col("n_lines")
    )
    f_short = (
        F.col("n_short_lines") * 100 <= F.lit(int(short_ratio_pct)) * F.col("n_lines")
    )
    f_dup = (
        (F.col("n_dup_lines") * 100 <= F.lit(int(dup_line_pct)) * F.col("n_lines"))
        & (F.col("dup_line_chars") * 100
           <= F.lit(int(dup_char_pct)) * F.col("total_line_chars"))
    )
    return stats.select(
        "doc_id", "n_lines", "n_punct_lines", "n_short_lines",
        "n_dup_lines", "dup_line_chars", "total_line_chars",
        f_punct.alias("flag_punct_ratio"),
        f_short.alias("flag_short_lines"),
        f_dup.alias("flag_dup_lines"),
        (f_punct & f_short & f_dup).alias("flag_pass"),
    )


def top_unigram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    repetitive_pct: int = 10,
) -> DataFrame:
    """(doc_id, top_word, top_count, n_words, flag_repetitive): the modal
    token and its count per document; flag_repetitive when the top token
    is ≥ repetitive_pct% of all tokens (integer compare — no floats).
    Ties break lexicographically (deterministic)."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(T.tokens(F.col(text_col))).alias("word"),
    )
    counts = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("word"))
    totals = Window.partitionBy("doc_id")
    return (
        counts.withColumn("n_words", F.sum("cnt").over(totals))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "doc_id",
            F.col("word").alias("top_word"),
            F.col("cnt").alias("top_count"),
            "n_words",
            (F.col("cnt") * 100 >= F.lit(repetitive_pct) * F.col("n_words")).alias(
                "flag_repetitive"
            ),
        )
    )


def chunk_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 20,
) -> DataFrame:
    """(doc_id, n_chunks, n_dup_chunks): how many of the document's k-word
    chunks duplicate a chunk that appears earlier in (doc_id, chunk_idx)
    order anywhere in the corpus. ``n_dup_chunks = 0`` means fully novel
    text; ``n_dup_chunks = n_chunks`` means the whole document is recycled.
    The shuffle carries md5 fingerprints only."""
    chunks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(T.word_chunks(F.col(text_col), chunk_words)).alias(
            "chunk_idx", "chunk"
        ),
    ).select("doc_id", "chunk_idx", F.md5(F.col("chunk")).alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")
    flagged = chunks.withColumn("__rn", F.row_number().over(w))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("__rn") > 1).cast("bigint")).alias("n_dup_chunks"),
        )
    )


def _token_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    token_counter: str,
) -> DataFrame:
    """(doc_id, source, n_tokens) under the chosen counting unit. "ws"
    stays a codegen Column expression; "bpe" inserts one Arrow-batched
    count stage (functions/bpe.py) BEFORE the projection so only three
    slim columns flow into the mix shuffle either way."""
    if token_counter == "ws":
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            T.token_count(F.col(text_col)).alias("n_tokens"),
        )
    if token_counter == "bpe":
        from ..functions.bpe import bpe_count_stage

        counted = bpe_count_stage(
            df.select(id_col, source_col, text_col), text_col, "__bpe_n"
        )
        return counted.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            F.col("__bpe_n").alias("n_tokens"),
        )
    raise ValueError(f"unknown token_counter {token_counter!r} (want 'ws' or 'bpe')")


def corpus_mix(
    df: DataFrame,
    budgets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    budget_col: str = "token_budget",
    order_seed: str = "mix",
    token_counter: str = "ws",
    plan: str = "auto",
    window_path_max_rows: int = 2_000_000,
) -> DataFrame:
    """Token-budget corpus mixing (SlimPajama / Pile-style source
    weighting): admit documents per source, in a deterministic md5-shuffled
    order, until the source's token budget is exhausted. A document is
    admitted iff the budget is not yet spent when it STARTS (so the mix
    slightly overshoots by at most one document per source — the standard
    greedy cut), giving an exact, re-run-stable selection with no RNG
    state: the same corpus + budgets table always yields the same mix.

    ``budgets`` is a tiny (source, token_budget) table — broadcast joined.

    Scale shape — ADAPTIVE (``plan="auto"``): the per-source running
    total has two admit-identical physical plans, and a cheap stats probe
    (one per-source row count, a map-side-combinable agg collected to the
    driver) picks between them:

    * ``"window"`` — one ``Window.partitionBy(source)`` running sum.
      Cheapest constant factors, but the hottest source serializes
      through ONE task, so it is only chosen when every source's row
      count fits comfortably in one task (≤ ``window_path_max_rows``).
    * ``"prefixsum"`` — the grouped two-level scan
      (``operators/prefixsum.py``): range-partition on (source, ord),
      per-physical-partition window, slim per-(source, partition)
      offsets joined back. A 90%-of-corpus source spreads over ~90% of
      the range partitions instead of one hot window task — the exact
      greedy-cut semantics at any source skew.

    Both paths compute the identical exact integer prefix sum over the
    identical order, so admit decisions never depend on the plan chosen.
    ``LAST_MIX_PLAN`` records the probe result and chosen path.

    ``token_counter``: the unit the budgets are denominated in —
    ``"ws"`` (whitespace proxy, a Column expression, stays in codegen) or
    ``"bpe"`` (exact subword count via the committed-vocab BPE tokenizer,
    one Arrow-batched mapInPandas stage; see ``functions/bpe.py``). Both
    produce the same (doc_id, source, n_tokens) frame, so everything
    downstream — window, greedy cut, oracle semantics — is identical.
    """
    from .prefixsum import prefix_sum

    toks = _token_frame(df, text_col, id_col, source_col, token_counter).withColumn(
        "__ord",
        F.md5(F.concat(F.lit(order_seed), F.lit(":"), F.col("doc_id").cast("string"))),
    )
    if plan == "auto":
        # Stats probe on the RAW input (no tokenization): rows-per-source
        # is a combiner agg whose output is #sources rows; max() of that
        # is one driver scalar. Window path only when the hottest source
        # fits one task.
        probe = (
            df.groupBy(F.col(source_col))
            .count()
            .agg(F.max("count").alias("m"))
            .first()["m"]
        )
        chosen = (
            "window"
            if probe is not None and probe <= int(window_path_max_rows)
            else "prefixsum"
        )
        LAST_MIX_PLAN.update(
            {"path": chosen, "max_source_rows": probe,
             "threshold": int(window_path_max_rows)}
        )
    elif plan in ("window", "prefixsum"):
        chosen = plan
        LAST_MIX_PLAN.update(
            {"path": chosen, "max_source_rows": None,
             "threshold": int(window_path_max_rows)}
        )
    else:
        raise ValueError(f"unknown plan {plan!r} (want auto/window/prefixsum)")
    if chosen == "window":
        w = (
            Window.partitionBy("source")
            .orderBy("__ord", "doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    else:
        cum = prefix_sum(
            toks, ["__ord", "doc_id"], "n_tokens",
            out_col="cum_tokens", partition_cols=["source"],
        )
    dim = F.broadcast(
        budgets.select(
            F.col(source_col).alias("source"),
            F.col(budget_col).cast("bigint").alias("__budget"),
        )
    )
    return (
        cum.join(dim, "source")
        .filter(F.col("cum_tokens") - F.col("n_tokens") < F.col("__budget"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def remove_duplicate_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 20,
    policy: str = "keep_first",
    max_df: int = 1,
) -> DataFrame:
    """Sub-document exact dedup (Lee et al. 2022 "Deduplicating Training
    Data" / CCNet duplicated-span removal): REWRITES each document with
    corpus-wide duplicate k-word chunks removed, instead of only counting
    them (``chunk_dedup_stats``).

    Policies:
    - ``keep_first`` (C4-flavored): the globally-first instance of a chunk
      in (doc_id, chunk_idx) order survives; every later instance is cut.
    - ``drop_common`` (CCNet-flavored): every instance of a chunk whose
      corpus document-frequency exceeds ``max_df`` is cut — including the
      first (boilerplate killer: nav bars, cookie banners, license
      headers).

    Returns all input rows as ``(doc_id, clean_text, n_chunks,
    n_removed)``; a fully-recycled document comes back with
    ``clean_text = ''``, never silently dropped.

    Scale shape: two data shuffles, both inherent to the semantics — the
    chunk window partitions on the 16-byte md5 fingerprint (uniform key;
    chunk text rides once), and reassembly groups by doc_id. The rebuild
    is a sort of ≤ n_chunks structs per doc inside one agg — no join back
    to the exploded set. Skew: a boilerplate chunk shared by 10^6 docs is
    one window partition; ``drop_common`` evaluates only ``count(*)`` over
    it (no per-row rank needed), and ``keep_first``'s row_number over a
    hot fingerprint is the same discipline every dedup window in
    ``operators/dedup.py`` already carries.
    """
    if policy not in ("keep_first", "drop_common"):
        raise ValueError(f"policy must be 'keep_first' or 'drop_common', got {policy!r}")
    chunks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(T.word_chunks(F.col(text_col), chunk_words)).alias(
            "chunk_idx", "chunk"
        ),
    ).withColumn("__fp", F.md5(F.col("chunk")))
    if policy == "keep_first":
        w = Window.partitionBy("__fp").orderBy("doc_id", "chunk_idx")
        flagged = chunks.withColumn("__keep", F.row_number().over(w) == 1)
    else:
        w = Window.partitionBy("__fp")
        flagged = chunks.withColumn("__keep", F.count(F.lit(1)).over(w) <= max_df)
    rebuilt = (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((~F.col("__keep")).cast("bigint")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_idx", "__keep", "chunk"))
                        ),
                        lambda s: s["__keep"],
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_words: int = 10,
) -> DataFrame:
    """Exact duplicated-substring removal over OVERLAPPING token windows —
    the Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    Better" semantics proper (their suffix-array ExactSubstr at window
    granularity): any ``window_words``-token substring that occurs more
    than once in the corpus is cut from every instance EXCEPT the globally
    first (min (doc_id, position)); overlapping duplicate windows merge
    into maximal removed spans, so a copied paragraph disappears as one
    span regardless of its length. Unlike ``remove_duplicate_chunks``
    (fixed non-overlapping blocks, alignment-sensitive — a one-word prefix
    shift defeats it), this catches duplicated spans at ANY token offset.
    Self-repetition inside one document is cut the same way.

    Returns every input row as ``(doc_id, clean_text, n_tokens,
    n_removed)``; a fully-duplicated later document comes back with
    ``clean_text = ''``.

    Scale shape: the window-fingerprint shuffle carries ONLY (doc_id,
    gpos, md5) — 32 B of hash, never gram text (the gram string is folded
    into md5 row-local before the exchange). Removed-position explode is
    ×``window_words`` on duplicate windows ONLY (dup fraction × w, not
    corpus × w), collapsed by a (doc, pos) distinct-in-agg. Reassembly is
    one doc_id-keyed join of the removed-position set back to the token
    arrays + an index-filter projection — document text crosses exactly
    one exchange (the reassembly join), zero text bytes through the
    dedup window itself. A boilerplate window shared by 10^6 docs is one
    row_number partition over slim rows — the same hot-fingerprint
    discipline as every dedup window in ``operators/dedup.py``.
    """
    w = int(window_words)
    if w < 2:
        raise ValueError(f"window_words must be >= 2, got {window_words}")
    base = df.select(
        F.col(id_col).alias("doc_id"), T.tokens(F.col(text_col)).alias("__toks")
    )
    grams = base.filter(F.size("__toks") >= w).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - w),
                lambda i: F.md5(F.array_join(F.slice("__toks", i + 1, w), " ")),
            )
        ).alias("gpos", "__fp"),
    )
    win = Window.partitionBy("__fp").orderBy("doc_id", "gpos")
    removed = (
        grams.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") > 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + F.lit(w - 1))
            ).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("__rm"))
    )
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    # rebuild via position-set difference: array_except is hash-based
    # (O(n_tokens + n_removed) per doc, first-array order preserved) —
    # a per-token array_contains scan would be O(n_tokens · n_removed),
    # quadratic on a fully-duplicated long document
    kept = F.array_except(
        F.sequence(F.lit(0), F.size("__toks") - 1), rm
    )
    return (
        base.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.size("__toks") > 0, F.array_join(
                F.transform(kept, lambda p: F.element_at("__toks", p + 1)), " "
            )).otherwise(F.lit("")).alias("clean_text"),
            F.size("__toks").cast("bigint").alias("n_tokens"),
            F.size(rm).cast("bigint").alias("n_removed"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Postings build: (term, doc_id, tf) — the classic search-index shape,
    as one explode + combiner-friendly agg. The shuffle key is (term,
    doc_id) so no single reducer sees a whole hot term; downstream
    per-term rollups (df, cf) re-shuffle by term only AFTER the per-doc
    collapse has shrunk the data to one row per (term, doc). At 100 TB the
    output is written partitioned/bucketed by term hash — bucket-join-able
    against query workloads with no further shuffle."""
    toks = T.tokens(F.lower(F.col(text_col)))
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-term corpus stats over the postings: document frequency and
    collection frequency — the idf side of any ranking function."""
    return (
        inverted_index(df, text_col, id_col)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval, shuffle-free.

    Query terms are a handful of literals, so per-doc term frequencies are
    computed as array expressions over the token array (``size(filter(
    toks, t -> t = term))``) — no explode, no postings join. The plan is:

    1. one combiner-friendly scan → scalar aggregates N, avgdl, and per-term
       df (count of docs with tf>0) collected to the driver (1 row);
    2. idf folded into literal constants;
    3. one more scan computing score = Σ_t idf_t·tf_t·(k1+1)/(tf_t +
       k1·(1−b+b·dl/avgdl)) as a single projection, then
       TakeOrderedAndProject for the top-k.

    Zero shuffles at any corpus size — both stages are embarrassingly
    parallel; the only cross-partition traffic is the 1-row stats agg and
    the k-row heap merge. idf uses the Robertson–Spärck Jones form
    ln(1 + (N − df + 0.5)/(df + 0.5)), non-negative for df ≤ N.
    Scores round to 6 decimals (cross-engine double parity).
    """
    import math as _m

    if not query_terms:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)

    toks = T.tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("dl"),
    )
    tf_cols = [
        F.size(F.filter(F.col("toks"), lambda t: t == F.lit(term))).alias(f"tf{i}")
        for i, term in enumerate(query_terms)
    ]
    tfd = base.select("doc_id", "dl", *tf_cols)
    stats = tfd.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    ).collect()[0]
    n = stats["n"]
    if n == 0:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)
    avgdl = stats["sum_dl"] / n
    idf = [
        _m.log(1.0 + (n - stats[f"df{i}"] + 0.5) / (stats[f"df{i}"] + 0.5))
        for i in range(len(query_terms))
    ]
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf{i}").cast("double")
        part = F.lit(idf[i]) * tf * F.lit(k1 + 1.0) / (tf + norm)
        score = part if score is None else score + part
    return (
        tfd.select("doc_id", score.alias("raw"))
        .filter(F.col("raw") > 0)
        .select("doc_id", F.round("raw", 6).alias("score"))
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def bm25_batch_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_text_col: str = "query",
    query_id_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
    max_df: int | None = None,
) -> DataFrame:
    """Batch BM25 retrieval JOIN: top-k documents for EVERY query in a
    query table at once — the sparse-retrieval workload of RAG corpus
    construction and hard-negative mining, where ``bm25_topk``'s
    fold-idf-into-literals trick stops working (10^5 queries can't each
    be a driver round-trip; scores must come from one joined plan).

    Plan (three keyed shuffles, all inherent):

    1. postings build: ``(term, doc_id, tf, dl)`` — one explode +
       combiner-friendly agg keyed on (term, doc_id) so a stopword term
       never lands on one reducer (same discipline as
       ``inverted_index``); dl rides the explode, collapsing to
       ``first(dl)`` in the same agg (no separate doc-length join);
    2. per-term df from a term-keyed rollup of the postings (post-collapse
       rows, one per (term, doc)); idf = ln(1+(N−df+0.5)/(df+0.5))
       computed JVM-side as a column;
    3. query terms ``(query_id, term, qtf)`` BROADCAST to the postings
       join on ``term`` (the query table is dwarfed by the corpus), then
       one agg keyed on (query_id, doc_id) sums the per-term
       contributions.

    Scoring: score(q,d) = Σ_t qtf·idf_t·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    — query term frequency enters linearly (the k3→∞ limit of the full
    Robertson form; standard for short queries). Top-k per query is one
    row_number window over (round(score,6) DESC, doc_id) — ranking on the
    ROUNDED score keeps cross-engine rank order deterministic under IEEE
    summation jitter. N and avgdl are the only driver scalars (1-row agg).

    Skew/scale: the only hot key is a stopword term shared by every doc ×
    every query containing it; ``max_df`` (optional) drops postings for
    terms with df > max_df before the query join — the static-pruning
    cousin of WAND/MaxScore (documented recall tradeoff: a query that is
    ONLY stopwords returns nothing under the cap). Default None = exact.

    Returns (query_id, doc_id, score, rank) with rank 1..k per query.
    """
    toks = T.tokens(F.lower(F.col(text_col)))
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    post = exploded.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    stats = df.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n = stats["n"]
    qtoks = T.tokens(F.lower(F.col(query_text_col)))
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"), F.explode(qtoks).alias("term")
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("qtf"))
    )
    if n == 0:
        return (
            qterms.select("query_id")
            .limit(0)
            .select(
                "query_id",
                F.lit(None).cast("long").alias("doc_id"),
                F.lit(0.0).alias("score"),
                F.lit(0).alias("rank"),
            )
        )
    avgdl = (stats["sum_dl"] or 0) / n
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored_post = post.join(dfreq, "term").withColumn(
        "idf",
        F.log(
            F.lit(1.0)
            + (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ),
    )
    if max_df is not None:
        scored_post = scored_post.filter(F.col("df") <= int(max_df))
    tf = F.col("tf").cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    contrib = F.col("qtf") * F.col("idf") * tf * F.lit(k1 + 1.0) / (tf + norm)
    pairs = (
        scored_post.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(contrib).alias("raw"))
        .filter(F.col("raw") > 0)
        .withColumn("score", F.round("raw", 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "doc_id", "score", F.col("rank").cast("int").alias("rank"))
    )


def positional_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional postings: (term, doc_id, positions array<int>, tf) —
    ``inverted_index`` extended with 0-based token offsets (the structure
    phrase and proximity queries need). Same shuffle discipline: the
    explode keys on (term, doc_id) so hot terms spread across reducers;
    positions are collected sorted in-agg (no window)."""
    toks = T.tokens(F.lower(F.col(text_col)))
    return (
        df.select(F.col(id_col).alias("doc_id"),
                  F.posexplode(toks).alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("positions"),
            F.count(F.lit(1)).alias("tf"),
        )
    )


def phrase_match(
    df: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-phrase retrieval over the positional index: docs where the
    phrase's terms occur at consecutive offsets; returns (doc_id,
    n_occurrences) for matching docs.

    Plan shape: one term-filtered positional-postings build, then n-1
    slim equi-joins on doc_id (one row per (term, doc) — each carries
    only that term's offset list), and the consecutive-offset check is an
    array intersection in codegen (``filter`` + ``array_contains``), not
    a self-join on positions. A phrase is 2-5 terms in practice, so the
    join count is constant and every join input has already collapsed to
    ≤1 row per doc."""
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        return df.select(F.col(id_col).alias("doc_id")).limit(0).withColumn(
            "n_occurrences", F.lit(0).cast("bigint")
        )
    idx = positional_index(df, text_col, id_col).filter(
        F.col("term").isin(terms)
    )
    joined = None
    for i, t in enumerate(terms):
        side = idx.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"pos_{i}")
        )
        joined = side if joined is None else joined.join(side, "doc_id")
    def consecutive(p):
        # statically unrolled conjunction — the phrase length is known at
        # plan time, so this stays one codegen expression per start offset
        cond = F.lit(True)
        for i in range(1, len(terms)):
            cond = cond & F.array_contains(F.col(f"pos_{i}"), p + i)
        return cond

    hit = F.filter(F.col("pos_0"), consecutive)
    out = joined.select("doc_id", F.size(hit).cast("bigint").alias("n_occurrences"))
    return out.filter(F.col("n_occurrences") > 0)


def merge_postings(
    old_postings: DataFrame,
    changed_docs: DataFrame,
    removed_doc_ids: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental inverted-index maintenance across crawl epochs: keep
    the old postings of untouched docs, re-derive only the changed/new
    docs, drop removed docs — never a full-corpus rebuild.

    ``changed_docs`` is the recrawl delta (new + modified pages, full
    text); ``removed_doc_ids`` the retirement set (gone/blocked URLs).
    Result is term-for-term identical to ``inverted_index`` over the
    updated corpus (the oracle certifies exactly that equivalence).

    Scale shape: the only touch on the big side (old postings, ~corpus-
    sized) is ONE anti-join on doc_id — bucketed storage makes it
    shuffle-free; the explode/agg runs over the delta only (typically
    1-5% of the corpus per refresh cycle, per the recrawl scheduler).
    """
    drop = changed_docs.select(F.col(id_col).alias("doc_id"))
    if removed_doc_ids is not None:
        drop = drop.unionByName(
            removed_doc_ids.select(F.col(removed_doc_ids.columns[0]).alias("doc_id"))
        )
    kept = old_postings.join(drop.distinct(), "doc_id", "left_anti")
    fresh = inverted_index(changed_docs, text_col, id_col)
    return kept.unionByName(fresh.select(*kept.columns))


def proximity_match(
    df: DataFrame,
    terms: list[str] | str,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """NEAR/k retrieval (classic IR proximity operator): docs where every
    query term occurs within ±``window`` tokens of an occurrence of the
    FIRST term (the anchor — documented anchored-NEAR semantics; phrase
    order is not required, use ``phrase_match`` for that). Returns
    (doc_id, n_anchors) with the count of anchor positions satisfied.

    Same plan shape as ``phrase_match``: term-filtered positional
    postings, n-1 slim doc_id joins, and the window test is an array
    ``exists`` per anchor offset — all codegen, no position self-join.
    """
    if isinstance(terms, str):
        terms = [t for t in terms.lower().split() if t]
    else:
        terms = [t.lower() for t in terms if t]
    if not terms:
        return df.select(F.col(id_col).alias("doc_id")).limit(0).withColumn(
            "n_anchors", F.lit(0).cast("bigint")
        )
    idx = positional_index(df, text_col, id_col).filter(F.col("term").isin(terms))
    joined = None
    for i, t in enumerate(terms):
        side = idx.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"pos_{i}")
        )
        joined = side if joined is None else joined.join(side, "doc_id")

    def near(p):
        # NB: the inner lambda must stay unary — a default-arg capture
        # (lambda q, _p=p:) raises Spark's HOF arity and silently binds
        # the element index; p is loop-invariant so closure capture is safe
        cond = F.lit(True)
        for i in range(1, len(terms)):
            cond = cond & F.exists(
                F.col(f"pos_{i}"),
                lambda q: (q >= p - window) & (q <= p + window),
            )
        return cond

    hit = F.filter(F.col("pos_0"), near)
    out = joined.select("doc_id", F.size(hit).cast("bigint").alias("n_anchors"))
    return out.filter(F.col("n_anchors") > 0)


def snippets(
    df: DataFrame,
    terms: list[str] | str,
    width: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword-in-context snippet generation (the search-results display
    op): for each doc containing any query term, render the best ±width-
    token window — the one covering the most query-term hits, earliest
    position on ties — with every query-term occurrence in the window
    bracketed, and ellipses marking truncation.

    Pure column expressions end-to-end (token array, hit-position filter,
    per-hit window scoring, argmax via one array_sort of (−score, pos)
    structs, highlight transform) — no Python, no shuffle beyond the scan;
    a projection annotating search output at any corpus size. Returns
    (doc_id, n_hits, snippet).
    """
    if isinstance(terms, str):
        terms = [t for t in terms.lower().split() if t]
    else:
        terms = [t.lower() for t in terms if t]
    tset = F.array(*[F.lit(t) for t in terms])

    toks = T.tokens(F.col(text_col))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - 1)
    positions = F.filter(
        idx, lambda i: F.array_contains(tset, F.lower(F.element_at(toks, i + 1)))
    )
    # score each hit position by hits inside its window; argmax via sort
    scored = F.transform(
        positions,
        lambda p: F.struct(
            (-F.size(F.filter(positions,
                              lambda q: (q >= p - width) & (q <= p + width)))
             ).alias("neg_score"),
            p.alias("pos"),
        ),
    )
    best = F.element_at(F.array_sort(scored), 1)["pos"]
    lo = F.greatest(best - width, F.lit(0))
    hi = F.least(best + width, n - 1)
    window = F.transform(
        F.sequence(lo, hi),
        lambda i: F.when(
            F.array_contains(positions, i),
            F.concat(F.lit("["), F.element_at(toks, i + 1), F.lit("]")),
        ).otherwise(F.element_at(toks, i + 1)),
    )
    snippet = F.concat(
        F.when(lo > 0, F.lit("... ")).otherwise(F.lit("")),
        F.array_join(window, " "),
        F.when(hi < n - 1, F.lit(" ...")).otherwise(F.lit("")),
    )
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(positions).cast("bigint").alias("n_hits"),
        snippet.alias("snippet"),
    )
    return out.filter(F.col("n_hits") > 0)


# C4 policy-phrase line drops (Raffel et al. 2020 §2.2: cookie/ToS
# boilerplate lines removed before the document gates).
C4_POLICY_PHRASES = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
)


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    bad_words: tuple[str, ...] = (),
    policy_phrases: tuple[str, ...] = C4_POLICY_PHRASES,
) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020 §2.2) as one shuffle-free projection.

    Line stage (order-preserving): keep a line only if it ends in a
    terminal punctuation mark (., !, ?, closing quote), has at least
    ``min_words_per_line`` words, and does not contain "javascript" or a
    policy phrase (cookie/ToS boilerplate) case-insensitively. Document
    stage over the reassembled clean text: ``flag_lorem`` (raw text
    contains "lorem ipsum"), ``flag_brace`` (clean text still carries
    '{' — code, not prose), ``flag_bad_word`` (any clean-text token in
    ``bad_words``), ``flag_short`` (fewer than ``min_sentences``
    sentence terminators — counted via translate(), a deterministic
    proxy for C4's sentence splitter). ``passed`` is the conjunction.

    Everything is a column expression over the document row — the gate
    annotates the scan with zero shuffles at any corpus size, and
    Catalyst prunes unused flags. The 3-sentence-span dedup step of the
    original pipeline is ``remove_duplicate_chunks`` (same module).
    """
    lines = F.split(F.col(text_col), "\n")

    def _keep(x):
        t = F.trim(x)
        lx = F.lower(x)
        ok = F.substring(t, -1, 1).isin(".", "!", "?", '"')
        ok = ok & (F.size(F.split(t, r"\s+")) >= min_words_per_line)
        ok = ok & ~lx.contains("javascript")
        for p in policy_phrases:
            ok = ok & ~lx.contains(p)
        return ok

    kept = F.filter(lines, _keep)
    clean = F.array_join(kept, "\n")
    n_sent = F.length(clean) - F.length(F.translate(clean, ".!?", ""))
    if bad_words:
        flag_bad = F.arrays_overlap(
            F.split(F.lower(clean), r"\s+"),
            F.array(*[F.lit(w) for w in bad_words]),
        )
    else:
        flag_bad = F.lit(False)
    flag_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    flag_brace = clean.contains("{")
    flag_short = n_sent < F.lit(min_sentences)
    return df.select(
        F.col(id_col).alias("doc_id"),
        clean.alias("text_clean"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        n_sent.alias("n_sentences"),
        flag_lorem.alias("flag_lorem"),
        flag_brace.alias("flag_brace"),
        flag_bad.alias("flag_bad_word"),
        flag_short.alias("flag_short"),
        (~(flag_lorem | flag_brace | flag_bad | flag_short)).alias("passed"),
    )


def quality_model_score(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "fq",
) -> DataFrame:
    """Model-based quality scoring (the CCNet/DCLM pipeline step): a
    fastText-style linear classifier over hashing-trick bag-of-words —
    each token hashes to a bucket (first 16 md5 bits, the dataset_split
    discipline), the document score is ``bias + mean(weights[bucket])``,
    and ``keep`` compares it to ``threshold`` in raw-logit space (no
    transcendental in the certified columns — exp() differs across
    engines in the last ulp; apply sigmoid downstream if a probability
    is needed).

    The weight vector is the PRE-TRAINED model (tens of KB — folded into
    the plan as an array literal, the broadcast side at any scale);
    scoring is one shuffle-free projection over the corpus scan, the
    same zero-join discipline as bm25_topk's folded idf constants.
    Empty documents score ``bias`` exactly.
    """
    n = len(weights)
    if n == 0:
        raise ValueError("weights must be non-empty")
    toks = T.tokens(F.col(text_col))
    W = F.array(*[F.lit(float(w)) for w in weights])

    def tok_w(t):
        h = F.md5(F.concat(F.lit(f"{salt}:"), t))
        b = F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % n
        return F.element_at(W, b + 1)

    total = F.aggregate(F.transform(toks, tok_w), F.lit(0.0), lambda a, v: a + v)
    n_tok = F.size(toks)
    raw = F.when(n_tok > 0, F.lit(float(bias)) + total / n_tok).otherwise(
        F.lit(float(bias))
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(raw, 6).alias("score"),
        (raw > F.lit(float(threshold))).alias("keep"),
    )


def ngram_repetition(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher n-gram repetition signals (Rae et al. 2021, Table A1):
    per document, the character share of the single most frequent n-gram
    (``top_ngram_char_frac`` — Gopher gates n=2,3,4 on this) and the
    character share of all n-grams occurring more than once
    (``dup_ngram_char_frac`` — Gopher gates n=5..10). Overlapping
    occurrences each count (declared deterministic definition; Gopher's
    prose is ambiguous on overlap). Fractions are integer-count ×
    char-length ratios over the trimmed text length — exact in any
    engine. Ties for the top n-gram break lexicographically.

    Documents with fewer than n tokens produce no row (no n-grams — a
    gate left-joins and treats absence as 0).

    Shuffle shape: one explode to (doc_id, ngram) + combiner-friendly
    agg, keys are (doc, ngram) so a globally hot n-gram ("of the") never
    serializes a reducer — the top_unigram_stats discipline.
    """
    toks = T.tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.trim(F.col(text_col))).alias("doc_chars"),
        F.explode(grams).alias("ngram"),
    )
    counts = exploded.groupBy("doc_id", "doc_chars", "ngram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("ngram"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .groupBy("doc_id", "doc_chars")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("ngram"))).alias("top_ngram"),
            F.max(
                F.when(F.col("__rn") == 1, F.col("cnt") * F.length("ngram"))
            ).alias("__top_chars"),
            F.sum(
                F.when(
                    F.col("cnt") > 1, F.col("cnt") * F.length("ngram")
                ).otherwise(F.lit(0))
            ).alias("__dup_chars"),
        )
        .select(
            "doc_id",
            "top_ngram",
            F.when(
                F.col("doc_chars") > 0,
                F.coalesce(F.col("__top_chars"), F.lit(0)) / F.col("doc_chars"),
            ).otherwise(F.lit(0.0)).alias("top_ngram_char_frac"),
            F.when(
                F.col("doc_chars") > 0,
                F.col("__dup_chars") / F.col("doc_chars"),
            ).otherwise(F.lit(0.0)).alias("dup_ngram_char_frac"),
        )
    )


def duplicate_line_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher duplicate-line signals: the fraction of a document's lines
    that are repeats of an earlier-or-later identical line
    (``dup_line_frac``) and the character share those repeated lines
    carry (``dup_line_char_frac``). Every occurrence of a line whose
    count > 1 counts as duplicated (Gopher's definition). Blank lines
    are ignored; documents with no non-blank lines produce no row. One (doc, line) agg — md5 of the line is the shuffled
    key surrogate so long boilerplate lines don't inflate the exchange."""
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
                lambda x: x != "",
            )
        ).alias("line"),
    )
    per_line = lines.select(
        "doc_id", F.md5(F.col("line")).alias("fp"), F.length("line").alias("chars")
    )
    counts = per_line.groupBy("doc_id", "fp", "chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_lines"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("__dup"),
            F.sum(F.col("cnt") * F.col("chars")).alias("__chars"),
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.col("chars")).otherwise(0)
            ).alias("__dup_chars"),
        )
        .select(
            "doc_id",
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.when(F.col("n_lines") > 0, F.col("__dup") / F.col("n_lines"))
            .otherwise(F.lit(0.0)).alias("dup_line_frac"),
            F.when(F.col("__chars") > 0, F.col("__dup_chars") / F.col("__chars"))
            .otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        )
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    n_shards: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    order_seed: str = "pack",
    token_counter: str = "ws",
    eos_tokens: int = 1,
) -> DataFrame:
    """Training-sequence packing plan: lay documents end-to-end (each
    followed by ``eos_tokens`` separator tokens) into fixed
    ``seq_len``-token windows, the way LM training shards are packed.
    Documents straddle sequence boundaries (standard packing — no
    padding waste); the output is the PLAN — per document its shard,
    token offset, and first/last sequence index — which a writer joins
    with the tokenized text to emit shards. Deterministic: order within
    a shard is md5(doc_id), so the same corpus always packs identically
    (re-run- and engine-stable, no RNG).

    Scale shape: a single global ordering would serialize the corpus
    through one window partition; instead documents hash into
    ``n_shards`` independent shards (the md5-bucket dataset_split
    discipline) and the running-offset window runs per shard — at 100 TB
    shards ARE the output files, and each is one partition of honest
    window work. Integer arithmetic only.
    """
    from ..functions.sampling import hash_bucket

    toks = _token_frame(
        df.withColumn("__src", F.lit("")), text_col, id_col, "__src",
        token_counter,
    ).select(
        "doc_id",
        (F.col("n_tokens") + F.lit(int(eos_tokens))).alias("n_tokens"),
    )
    sharded = toks.withColumn(
        "shard", hash_bucket(F.col("doc_id"), n_shards, salt=order_seed)
    ).withColumn(
        "__ord",
        F.md5(F.concat(F.lit(f"{order_seed}:"), F.col("doc_id").cast("string"))),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("__ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sharded.withColumn("__cum", F.sum("n_tokens").over(w))
    start = F.col("__cum") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "shard",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        start.cast("bigint").alias("start_offset"),
        F.floor(start / seq_len).cast("bigint").alias("first_seq"),
        F.floor((F.col("__cum") - 1) / seq_len).cast("bigint").alias("last_seq"),
    )


def pack_efficiency(
    df: DataFrame,
    seq_len: int = 2048,
    n_shards: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    order_seed: str = "pack",
    token_counter: str = "ws",
    eos_tokens: int = 1,
) -> DataFrame:
    """Per-shard packing-efficiency report over the :func:`pack_sequences`
    plan — the number a training-data owner reads before committing a
    seq_len: how many fixed windows each shard emits and how much of the
    final window is padding (concat-style packing wastes ONLY the tail of
    a shard's last sequence, so efficiency ≈ 1 − tail/(n_seqs·L); a
    seq_len that divides shard mass badly shows up here immediately).

    Returns (shard, n_docs, total_tokens, n_seqs, pad_tokens,
    efficiency_milli) — all exact integers; efficiency_milli =
    ⌊1000·total/(n_seqs·L)⌋. One shard-keyed combiner agg over the plan
    frame — the window work is pack_sequences' own, nothing new shuffles.
    """
    plan = pack_sequences(
        df, seq_len, n_shards, text_col, id_col, order_seed,
        token_counter, eos_tokens,
    )
    agg = plan.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.max("last_seq") + 1).cast("long").alias("n_seqs"),
    )
    cap = F.col("n_seqs") * F.lit(int(seq_len))
    return agg.select(
        "shard", "n_docs", "total_tokens", "n_seqs",
        (cap - F.col("total_tokens")).cast("long").alias("pad_tokens"),
        F.floor(F.col("total_tokens") * 1000 / cap).cast("long")
        .alias("efficiency_milli"),
    ).orderBy("shard")


def passage_windows(
    df: DataFrame,
    window_tokens: int = 256,
    stride: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window passage extraction — the retrieval-corpus prep step
    (RAG / dense-retriever training): every document becomes overlapping
    ``window_tokens``-token passages starting every ``stride`` tokens, so
    no answer span is ever split across a passage boundary by more than
    ``window - stride`` tokens. The unit is the engine's whitespace
    token (the ``token_count`` ws unit — declared, same as the packing
    plan's default).

    Returns ``(doc_id, passage_id, start_tok, n_tokens, passage)`` —
    passage_id counts windows within the doc from 0, the final window is
    allowed to run short, and empty/whitespace-only documents produce
    zero passages. One split + one sequence-explode + array slices —
    pure columns, zero shuffle; at 100 TB this is a projection whose
    output feeds the inverted-index / BM25 / embedding stages directly.
    """
    toks = F.when(
        F.trim(F.col(text_col).cast("string")) == "", F.array()
    ).otherwise(F.split(F.trim(F.col(text_col).cast("string")), r"\s+"))
    base = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("__w")
    ).withColumn("__n", F.size("__w"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("__n") - 1, F.lit(0)), F.lit(stride)
    )
    return (
        base.filter(F.col("__n") > 0)
        .select(
            "doc_id", "__w", "__n",
            F.posexplode(starts).alias("passage_id", "start_tok"),
        )
        .select(
            "doc_id",
            F.col("passage_id").cast("bigint").alias("passage_id"),
            F.col("start_tok").cast("bigint").alias("start_tok"),
            F.least(
                F.lit(window_tokens), F.col("__n") - F.col("start_tok")
            ).cast("bigint").alias("n_tokens"),
            F.array_join(
                F.slice(F.col("__w"), F.col("start_tok") + 1,
                        F.lit(window_tokens)),
                " ",
            ).alias("passage"),
        )
    )


def corpus_datasheet(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Dataset-documentation rollup (the "datasheet" every corpus release
    ships): document/token/char counts and empty-document tallies per
    (source, lang), per source, and corpus-wide in ONE pass via ROLLUP —
    grouping-set aggregation is a single shuffle with map-side combine,
    so the three granularities cost one scan, not three jobs. NULL group
    keys mark the subtotal rows (standard ROLLUP semantics).
    """
    t = F.col(text_col)
    return (
        df.rollup(source_col, lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.token_count(t)).alias("n_tokens"),
            F.sum(F.length(t)).alias("n_chars"),
            F.sum((F.trim(t) == "").cast("bigint")).alias("n_empty"),
        )
        .select(
            F.col(source_col).alias("source"),
            F.col(lang_col).alias("lang"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("n_empty").cast("bigint").alias("n_empty"),
        )
    )


def compression_ratio_stage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Compression-ratio quality signal (RedPajama-v2 / Dolma convention:
    zlib-compressed size ÷ raw UTF-8 size). Highly repetitive or
    templated text compresses far below prose (~0.3–0.4 for natural
    text; boilerplate and keyword-stuffed spam go much lower; already-
    compressed/binary junk goes above 1) — a cheap single-pass
    repetition detector that catches patterns n-gram filters miss.

    zlib is Python-side, so this is an Arrow-batched stage (one
    DEFLATE pass per doc, no shuffle); the ratio is deterministic for a
    fixed zlib level, pinned by golden pytest values — no SQL oracle
    exists for DEFLATE, so the driver records rows (declared weaker
    check). Empty documents yield ratio NULL.
    Returns (doc_id, raw_bytes, compressed_bytes, compression_ratio).
    """
    from pyspark.sql import types as ST

    schema = ST.StructType(
        [
            df.schema[id_col],
            ST.StructField("raw_bytes", ST.LongType()),
            ST.StructField("compressed_bytes", ST.LongType()),
            ST.StructField("compression_ratio", ST.DoubleType()),
        ]
    )

    def gen(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw, comp, ratio = [], [], []
            for t in pdf[text_col]:
                b = (t or "").encode("utf-8")
                c = len(zlib.compress(b, level)) if b else 0
                raw.append(len(b))
                comp.append(c)
                ratio.append(round(c / len(b), 6) if b else None)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "raw_bytes": raw,
                "compressed_bytes": comp,
                "compression_ratio": pd.array(ratio, dtype="Float64"),
            })

    return df.select(id_col, text_col).mapInPandas(gen, schema)


def curriculum_shards(
    df: DataFrame,
    quality_col: str,
    n_shards: int,
    id_col: str = "doc_id",
    n_partitions: int = 64,
) -> DataFrame:
    """Curriculum ordering for LM training: rank the corpus by quality
    (best first, id tie-break) and cut it into ``n_shards`` equal-count
    shards — shard 0 is the highest-quality slice, trained first (or
    last, under anti-curriculum); the deterministic layout lets the
    trainer schedule difficulty without shuffling data at train time.

    shard = floor((rank-1) · n_shards / N): exact integer/IEEE
    arithmetic, engine-portable. The global rank is the two-level
    prefix scan (``prefixsum.py``) — no single-partition row window at
    any corpus size. Returns (doc_id, quality, rank, shard).
    """
    from .prefixsum import prefix_sum

    slim = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(quality_col).cast("double").alias("quality"),
    ).withColumn("__negq", -F.col("quality")).withColumn(
        "__one", F.lit(1).cast("bigint")
    )
    ranked = prefix_sum(
        slim, ["__negq", "doc_id"], "__one", out_col="rank",
        n_partitions=n_partitions,
    )
    total = ranked.agg(F.count(F.lit(1)).alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "quality",
            F.col("rank").cast("bigint").alias("rank"),
            F.floor((F.col("rank") - 1) * F.lit(int(n_shards)) / F.col("__n"))
            .cast("bigint")
            .alias("shard"),
        )
    )


def domain_quota(
    df: DataFrame,
    quota: int,
    host_col: str = "host",
    order_by=None,
    rules: DataFrame | None = None,
    keep_rank: bool = False,
) -> DataFrame:
    """Per-registrable-domain document cap (the RefinedWeb/C4 anti-SEO
    gate): no single SITE may contribute more than ``quota`` documents to
    the corpus. The grouping key is eTLD+1 (functions/psl.py), NOT the
    raw host — a link farm spread across ``{a..z}.spam.co.uk`` is one
    site and gets one quota, while ``{a..z}.blogspot.com`` are distinct
    sites (private suffix) and keep one quota each. This is the
    domain-diversity control every published webtext recipe applies
    before token-budget mixing.

    ``order_by`` ranks documents within a site (best kept first);
    defaults to deterministic arbitrary order over all input columns'
    natural sort — pass e.g. ``[F.col('quality').desc(), 'doc_id']``
    for quality-ranked retention. Hosts that ARE a public suffix group
    under themselves.

    Plan: PSL lookups are broadcast joins (zero probe-side shuffles);
    one inherent hash-partition window over site. Skew note: the window
    key is the site, so a mega-site (wikipedia.org at 10^8 pages) is
    one partition's worth of ROW_NUMBER — but quota gates are applied
    AFTER stronger gates shrink per-site cardinality; if a raw frontier
    must be quota'd, pre-aggregate counts and sample instead.
    """
    if quota < 1:
        raise ValueError("quota must be >= 1")
    from ..functions import psl as _psl

    sited = _psl.with_registrable_domain(
        df, host_col=host_col, rules=rules, out_col="__site", suffix_col=None
    ).withColumn("__site", F.coalesce(F.col("__site"), F.col(host_col)))
    order = order_by if order_by is not None else [F.col(c) for c in df.columns]
    w = Window.partitionBy("__site").orderBy(*order)
    ranked = sited.withColumn("__rank", F.row_number().over(w))
    kept = ranked.filter(F.col("__rank") <= quota)
    if keep_rank:
        return kept.withColumnRenamed("__site", "site").withColumnRenamed(
            "__rank", "site_rank"
        )
    return kept.drop("__site", "__rank")


def readability_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease scoring (Flesch 1948; the readability gate of
    classic quality pipelines — e.g. filtering toward/away from simple
    prose for curriculum stages): per document

        flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    with deterministic proxies a SQL oracle replays verbatim: words =
    whitespace tokens, sentences = count of ``.!?`` terminator runs
    (min 1 — headline-style fragments are one "sentence"), syllables =
    vowel-group runs ``[aeiouy]+`` per lowercased text (the standard
    heuristic; within ~10% of dictionary syllabifications on running
    English prose, and, crucially, a pure function of the bytes).

    Pure column projection — zero shuffles at any corpus size. Returns
    (id, n_words, n_sentences, n_syllables, flesch) with flesch rounded
    to 6; empty/whitespace-only docs yield NULL flesch rather than a
    division error.
    """
    lowered = F.lower(F.col(text_col))
    n_words = F.size(F.split(F.trim(lowered), r"\s+"))
    n_words = F.when(F.trim(lowered) == "", 0).otherwise(n_words)
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(lowered, F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    n_syl = F.size(F.regexp_extract_all(lowered, F.lit("[aeiouy]+"), 0))
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syl.cast("double") / n_words.cast("double")),
        6,
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
        F.when(n_words > 0, flesch).alias("flesch"),
    )


def vocab_coverage(
    df: DataFrame,
    ks: tuple[int, ...] = (100, 300, 1000, 3000, 10000),
    text_col: str = "text",
) -> DataFrame:
    """Token-coverage / OOV curve vs vocabulary size — the table a
    tokenizer designer reads before fixing |V| (and the Heaps'-law
    companion of :func:`vocab_growth`, which varies corpus size instead):
    for each candidate vocab size k, what share of all token OCCURRENCES
    the k most frequent types cover, and therefore the OOV rate a
    closed-vocab model of that size would eat.

    Returns one row per k: (vocab_size, covered_tokens, n_types,
    total_tokens, coverage_milli, oov_milli) — exact integers; the two
    milli ratios are single floored double divisions (oracle-portable).

    Scale shape: token explode → (token) combiner agg (hot types like
    'the' partial-aggregate map-side, never a hot reducer) → the
    frequency ranking runs through ``prefix_sum``'s two-level range scan
    (rank AND cumulative token mass in ONE scan via the multi-value
    form), so a 10^9-type web vocabulary never serializes through one
    ``Window.orderBy`` task. The per-k read-out filters rank ∈ ks —
    |ks| rows, broadcast-joined; nothing corpus-sized crosses a
    single-partition exchange.
    """
    from .prefixsum import prefix_sum

    toks = df.select(F.explode(T.tokens(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = prefix_sum(
        counts.withColumn("__neg", -F.col("cnt")).withColumn("__one", F.lit(1)),
        ["__neg", "token"],
        ["cnt", "__one"],
        out_col=["cum_tokens", "rank"],
    )
    totals = counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    at_k = ranked.filter(F.col("rank").isin([int(k) for k in ks])).select(
        F.col("rank").cast("long").alias("vocab_size"),
        F.col("cum_tokens").cast("long").alias("__cum"),
    )
    ksdf = df.sparkSession.createDataFrame(
        [(int(k),) for k in sorted(ks)], "vocab_size long"
    )
    covered = F.coalesce(F.col("__cum"), F.col("total_tokens"))
    return (
        ksdf.join(F.broadcast(at_k), "vocab_size", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "vocab_size",
            covered.cast("long").alias("covered_tokens"),
            "n_types",
            "total_tokens",
            F.floor(covered * 1000 / F.col("total_tokens"))
            .cast("long").alias("coverage_milli"),
            F.floor((F.col("total_tokens") - covered) * 1000
                    / F.col("total_tokens"))
            .cast("long").alias("oov_milli"),
        )
        .orderBy("vocab_size")
    )


def vocab_growth(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve without any per-prefix rescan:
    a term enters the vocabulary at the FIRST document (in ``id_col``
    order) that contains it, so cumulative vocabulary size at document d
    is just the running count of terms whose min-doc is ≤ d — one
    (term → min doc) aggregation plus one cumulative-sum window over the
    per-doc first-occurrence counts. The naive formulation (distinct
    terms per prefix) rescans the corpus once per prefix; this is a
    single pass however many documents there are.

    Returns (doc_id, new_terms, vocab_size, cum_tokens) — the (cum_tokens,
    vocab_size) pairs are the Heaps curve V = K·nᵝ; fit β downstream on
    the log-log pairs. Both running totals ride the distributed two-level
    prefix sum (operators/prefixsum.py — range exchange + per-physical-
    partition window + broadcast offsets), NOT a single global window:
    one row per document still means 10^10 rows at corpus scale.
    """
    from .prefixsum import prefix_sum

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    first = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    new_per_doc = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    tok_per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    per_doc = tok_per_doc.join(new_per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
        "n_tokens",
    )
    return prefix_sum(
        per_doc,
        order_cols="doc_id",
        value_col=["new_terms", "n_tokens"],
        out_col=["vocab_size", "cum_tokens"],
    ).select(
        "doc_id",
        F.col("new_terms").cast("long").alias("new_terms"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_rank: int = 1,
    max_rank: int = 1000,
) -> DataFrame:
    """Zipf's-law rank-frequency fit: term frequencies ranked desc (ties
    broken by term for determinism), then an ordinary-least-squares line
    through (ln rank, ln freq) over ranks [min_rank, max_rank] — slope ≈
    −1 on natural language; strong deviation flags boilerplate floods or
    generated spam. One (term) agg + one rank window over the term table
    + a 1-row OLS agg: shuffle weight is the vocabulary, never the
    corpus. Returns 1 row (slope, intercept, r2, n_ranks) rounded to 6.

    The OLS sums are ordered folds over the rank sequence (sum over
    sort_array of (rank, value) structs), so the IEEE accumulation order
    is a pure function of the data and a SQL oracle replays it exactly.

    The global rank is two-level: each shuffle partition keeps only its
    LOCAL top-``max_rank`` first (the true global top-k is necessarily
    inside some partition's local top-k), so the global window orders at
    most partitions × max_rank survivors — the vocabulary never
    serializes through one window task (the refresh_allocation rank
    discipline).
    """
    freqs = (
        df.select(F.explode(T.tokens(F.lower(F.col(text_col)))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w_local = Window.partitionBy("__p").orderBy(F.desc("freq"), "term")
    cand = (
        freqs.withColumn("__p", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= int(max_rank))
        .drop("__p", "__lr")
    )
    w = Window.orderBy(F.desc("freq"), "term")
    ranked = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(
            (F.col("rank") >= int(min_rank)) & (F.col("rank") <= int(max_rank))
        )
        .select(
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("freq").cast("double")).alias("y"),
            "rank",
        )
    )
    pairs = F.sort_array(
        F.collect_list(F.struct(F.col("rank").alias("r"), "x", "y"))
    )

    def _fold(field):
        return F.aggregate(
            F.transform(pairs, lambda s: s[field]),
            F.lit(0.0),
            lambda a, v: a + v,
        )

    def _fold2(fa, fb):
        return F.aggregate(
            F.transform(pairs, lambda s: s[fa] * s[fb]),
            F.lit(0.0),
            lambda a, v: a + v,
        )

    agg = ranked.agg(
        F.size(pairs).alias("n"),
        _fold("x").alias("sx"),
        _fold("y").alias("sy"),
        _fold2("x", "x").alias("sxx"),
        _fold2("y", "y").alias("syy"),
        _fold2("x", "y").alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov / varx
    return agg.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        F.round((cov * cov) / (varx * vary), 6).alias("r2"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    standard hybrid-retrieval merge (BM25 ⊕ dense ANN ⊕ …):

        rrf(d) = Σ_systems 1 / (k + rank_system(d))

    Rank-based, so systems with incomparable score scales fuse without
    calibration; k=60 is the paper's constant. Each input frame carries
    (id, 1-based rank); a document absent from a system simply
    contributes nothing.

    The per-document sum is an ordered fold over (system_idx, 1/(k+rank))
    structs — 2-5 elements per doc — so the IEEE accumulation order is a
    pure function of the inputs and a SQL oracle replays the fused score
    exactly. One union + one id-keyed agg: shuffle weight is the sum of
    the top-k lists, never a corpus.

    Returns (id, rrf_score, n_systems).
    """
    tagged = None
    for i, r in enumerate(rankings):
        t = r.select(
            F.col(id_col),
            F.lit(i).alias("__sys"),
            (1.0 / (F.lit(float(k)) + F.col(rank_col).cast("double")))
            .alias("__c"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    pairs = F.sort_array(F.collect_list(F.struct("__sys", "__c")))
    fold = F.aggregate(
        F.transform(pairs, lambda s: s["__c"]),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return tagged.groupBy(id_col).agg(
        F.round(fold, 6).alias("rrf_score"),
        F.size(pairs).cast("int").alias("n_systems"),
    )


def rm3_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 10,
    orig_weight: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 + RM3 pseudo-relevance feedback (Lavrenko & Croft 2001
    relevance models; Abdul-Jaleel et al. 2004 UMass-at-TREC RM3; the
    Anserini default expansion). Three passes, all shuffle-light:

    1. first-pass :func:`bm25_topk` → the ``fb_docs`` feedback set
       (a k-row driver fetch — the scalar-summary collect discipline);
    2. relevance model over ONLY the feedback docs: P(w|R) =
       Σ_D (tf_wD/|D|) · score(D)/Σscore — the per-term sum is an
       IEEE-ordered fold (sort_array(collect_list(struct(doc_id, c)))
       + F.aggregate) so the double is a pure function of the data,
       not of partitioning; top ``fb_terms`` terms by (P desc, term);
    3. expanded weighted query — P'(w) = orig_weight·qtf/|Q| +
       (1−orig_weight)·P(w|R) — re-scores the corpus through the same
       zero-shuffle weighted-BM25 projection as :func:`bm25_topk`
       (fresh 1-row stats agg for the expanded term set, idf folded to
       literals, TakeOrderedAndProject top-k).

    The feedback stages touch ≤ ``fb_docs`` rows; corpus-size work is
    exactly two embarrassingly-parallel scans — the plan at 10^10 docs
    is the plan at 10^3. Scores round to 6 decimals (cross-engine
    parity). Empty query / empty corpus → empty frame; empty feedback
    set degrades to plain BM25 (documented, not silent: RM3 with no
    feedback evidence IS the original query).
    """
    if not query_terms:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)

    fb = bm25_topk(
        df, query_terms, k=fb_docs, text_col=text_col, id_col=id_col,
        k1=k1, b=b,
    ).collect()
    if not fb:
        return bm25_topk(
            df, query_terms, k=k, text_col=text_col, id_col=id_col,
            k1=k1, b=b,
        )
    # per-doc relevance weight: round-6 first-pass score / Σ (left fold
    # in doc_id order — the oracle replays the same order)
    fb = sorted(((r["doc_id"], r["score"]) for r in fb))
    total = 0.0
    for _, s in fb:
        total += s
    w_doc = {d: s / total for d, s in fb}
    ids = list(w_doc)

    toks = T.tokens(F.lower(F.col(text_col)))
    fbt = (
        df.filter(F.col(id_col).isin(ids))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(toks).alias("term"),
            F.size(toks).alias("dl"),
        )
    )
    wmap = F.create_map(
        *[x for d in ids for x in (F.lit(d), F.lit(w_doc[d]))]
    )
    contrib = (
        fbt.groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(
            "term",
            F.col("doc_id"),
            (F.col("tf").cast("double") / F.col("dl")
             * wmap[F.col("doc_id")]).alias("c"),
        )
    )
    prel = (
        contrib.groupBy("term")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("doc_id", "c"))),
                F.lit(0.0),
                lambda acc, s: acc + s["c"],
            ).alias("p")
        )
        .orderBy(F.desc("p"), F.col("term"))
        .limit(fb_terms)
        .collect()
    )
    p_rel = {r["term"]: r["p"] for r in prel}

    # interpolate with the original query's MLE
    qlen = len(query_terms)
    weights: dict[str, float] = {}
    for t in sorted(set(query_terms)):
        weights[t] = orig_weight * query_terms.count(t) / qlen
    for t, p in p_rel.items():
        weights[t] = weights.get(t, 0.0) + (1.0 - orig_weight) * p
    terms = sorted(weights)

    return bm25_weighted_topk(
        df, {t: weights[t] for t in terms}, k=k, text_col=text_col,
        id_col=id_col, k1=k1, b=b,
    )


def bm25_weighted_topk(
    df: DataFrame,
    term_weights: dict[str, float],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Weighted-query BM25: score = Σ_t w_t · idf_t · tf·(k1+1)/(tf+norm).
    Same zero-shuffle plan as :func:`bm25_topk` (1-row stats agg → idf
    literals → projection + TakeOrderedAndProject); the term sum is
    built in sorted-term order so the double is engine-portable."""
    import math as _m

    terms = sorted(term_weights)
    if not terms:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)

    toks = T.tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("dl"),
    )
    tf_cols = [
        F.size(F.filter(F.col("toks"), lambda t: t == F.lit(term))).alias(
            f"tf{i}"
        )
        for i, term in enumerate(terms)
    ]
    tfd = base.select("doc_id", "dl", *tf_cols)
    stats = tfd.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n = stats["n"]
    if n == 0:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)
    avgdl = stats["sum_dl"] / n
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    score = None
    for i, term in enumerate(terms):
        idf = _m.log(
            1.0 + (n - stats[f"df{i}"] + 0.5) / (stats[f"df{i}"] + 0.5)
        )
        tf = F.col(f"tf{i}").cast("double")
        part = (
            F.lit(term_weights[term]) * F.lit(idf) * tf
            * F.lit(k1 + 1.0) / (tf + norm)
        )
        score = part if score is None else score + part
    return (
        tfd.select("doc_id", score.alias("raw"))
        .filter(F.col("raw") > 0)
        .select("doc_id", F.round("raw", 6).alias("score"))
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def rbo_overlap(
    run_a: DataFrame,
    run_b: DataFrame,
    p: float = 0.9,
    depth: int = 10,
    query_col: str = "qid",
    item_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-biased overlap at depth D (Webber, Moffat & Zobel TOIS 2010)
    between two rankings per query — the top-weighted similarity a crawl
    operator reads to audit frontier-priority drift (old vs new scorer,
    two engine versions, epoch-over-epoch recrawl ordering): unlike
    Kendall's τ it is defined for non-conjoint lists and weights rank 1
    above rank D geometrically.

    RBO@D = (1−p) · Σ_{d=1..D} p^(d−1) · |A_1..d ∩ B_1..d| / d — the
    prefix-truncated form; inputs are (query, item, rank) runs, ranks
    beyond ``depth`` ignored. Float discipline: the p^(d−1) weights come
    from ITERATIVE multiplication inside a rank-ordered left fold
    (state = [acc, w], w ← w·p each step) — both engines execute the
    same multiply/add sequence, so the metric is oracle-EXACT, never
    pow()-library-dependent. Returns (query, overlap_at_depth,
    rbo_at_depth) rounded to 6dp, one row per query present in either
    run.

    Scale shape: one (query,item) equi-join of the two depth-filtered
    runs, one bounded explode (≤ D rows per matched item), one
    query-keyed combiner agg, one query-keyed fold over ≤ D structs —
    per-query work is depth-bounded, keys are never hot.
    """
    D = int(depth)
    a = run_a.select(
        F.col(query_col).alias("q"), F.col(item_col).alias("item"),
        F.col(rank_col).cast("long").alias("ra"),
    ).filter(F.col("ra") <= D)
    b = run_b.select(
        F.col(query_col).alias("q"), F.col(item_col).alias("item"),
        F.col(rank_col).cast("long").alias("rb"),
    ).filter(F.col("rb") <= D)
    matched = a.join(b, ["q", "item"]).select(
        "q", F.greatest("ra", "rb").alias("first_d")
    )
    counts = (
        matched.select("q", F.explode(F.sequence("first_d", F.lit(D))).alias("d"))
        .groupBy("q", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
    )
    queries = (
        a.select("q").unionByName(b.select("q")).distinct()
        .select("q", F.explode(F.sequence(F.lit(1), F.lit(D))).alias("d"))
    )
    grid = queries.join(counts, ["q", "d"], "left").select(
        "q", "d", F.coalesce("overlap", F.lit(0)).cast("long").alias("overlap")
    )
    items = F.sort_array(
        F.collect_list(F.struct(F.col("d"), F.col("overlap")))
    )
    init = F.struct(
        F.lit(0.0).cast("double").alias("acc"), F.lit(1.0).cast("double").alias("w")
    )
    fold = F.aggregate(
        items,
        init,
        lambda s, x: F.struct(
            (s["acc"] + s["w"] * x["overlap"] / x["d"]).alias("acc"),
            (s["w"] * F.lit(float(p))).alias("w"),
        ),
    )
    return (
        grid.groupBy(F.col("q").alias(query_col))
        .agg(
            F.max(F.when(F.col("d") == D, F.col("overlap")))
            .cast("long").alias("overlap_at_depth"),
            fold.alias("__s"),
        )
        .select(
            query_col,
            "overlap_at_depth",
            F.round((1.0 - float(p)) * F.col("__s.acc"), 6).alias("rbo_at_depth"),
        )
    )


def retrieval_eval(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Ranked-retrieval evaluation — the trec_eval metric set (Buckley &
    Voorhees; Järvelin & Kekäläinen 2002 for nDCG) computed in-engine so
    retrieval-quality regression gates run where the index lives instead
    of exporting run files.

    ``run``: (query_id, doc_id, score) — system output; ranks derive
    from (score desc, doc_id) so ties are deterministic. ``qrels``:
    (query_id, doc_id, rel) graded relevance, rel ≥ 1 means relevant.

    Per query: ``n_rel``, ``mrr`` (1/first-relevant-rank), ``ap``
    (mean of precision-at-relevant-ranks over ALL retrieved ranks,
    divided by n_rel — the trec_eval MAP component), ``ndcg_at_k`` with
    the graded (2^rel − 1)/log2(rank+1) gain, ``p_at_k`` and
    ``recall_at_k``. Queries with no relevant documents emit NULL
    ap/ndcg (trec_eval drops them from averages; NULL keeps that
    decision with the caller). Doubles are rank-ordered left folds
    (sort_array + F.aggregate), so every metric is a pure function of
    the data — oracle-exact, not approximately-equal. Rounded to 6.

    Scale shape: everything is keyed by query_id; per-query partitions
    are run-depth-sized (≤ hundreds), so the two windows and the fold
    aggregations never see a hot key. One shuffle for the qrels join
    (slim (query, doc, rel) rows), one for the per-query agg.
    """
    rel_run = (
        run.join(
            qrels.select("query_id", "doc_id", F.col("rel").alias("_rel")),
            ["query_id", "doc_id"],
            "left",
        )
        .withColumn("rel", F.coalesce(F.col("_rel"), F.lit(0)))
        .drop("_rel")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id")
    )
    ranked = rel_run.withColumn("rank", F.row_number().over(w)).withColumn(
        "cum_rel",
        F.sum((F.col("rel") > 0).cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_q = ranked.groupBy("query_id").agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("rank", "rel", "cum_rel"))
            ),
            F.lit(0.0),
            lambda acc, s: acc
            + F.when(
                s["rel"] > 0,
                s["cum_rel"].cast("double") / s["rank"],
            ).otherwise(F.lit(0.0)),
        ).alias("_ap_num"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("rank", "rel", "cum_rel"))
            ),
            F.lit(0.0),
            lambda acc, s: acc
            + F.when(
                s["rank"] <= F.lit(k),
                (F.pow(F.lit(2.0), s["rel"].cast("double")) - F.lit(1.0))
                / F.log2(s["rank"].cast("double") + F.lit(1.0)),
            ).otherwise(F.lit(0.0)),
        ).alias("dcg_at_k"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("_first"),
        F.sum(
            ((F.col("rel") > 0) & (F.col("rank") <= k)).cast("long")
        ).alias("_rel_in_k"),
    )
    ideal = qrels.filter(F.col("rel") > 0).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_rel"),
        F.aggregate(
            F.zip_with(
                F.slice(
                    F.sort_array(F.collect_list("rel"), asc=False),
                    1,
                    k,
                ),
                F.sequence(
                    F.lit(1),
                    F.least(F.count(F.lit(1)).cast("int"), F.lit(k)),
                ),
                lambda r, i: (
                    F.pow(F.lit(2.0), r.cast("double")) - F.lit(1.0)
                )
                / F.log2(i.cast("double") + F.lit(1.0)),
            ),
            F.lit(0.0),
            lambda acc, g: acc + g,
        ).alias("idcg_at_k"),
    )
    out = per_q.join(ideal, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_rel"), F.lit(0)).alias("n_rel"),
        F.round(
            F.coalesce(
                F.lit(1.0) / F.col("_first").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("mrr"),
        F.round(
            F.when(
                F.col("n_rel") > 0, F.col("_ap_num") / F.col("n_rel")
            ),
            6,
        ).alias("ap"),
        F.round("dcg_at_k", 6).alias("dcg_at_k"),
        F.round(
            F.when(
                F.col("n_rel") > 0, F.col("dcg_at_k") / F.col("idcg_at_k")
            ),
            6,
        ).alias("ndcg_at_k"),
        F.round(F.col("_rel_in_k").cast("double") / F.lit(k), 6).alias(
            "p_at_k"
        ),
        F.round(
            F.when(
                F.col("n_rel") > 0,
                F.col("_rel_in_k").cast("double") / F.col("n_rel"),
            ),
            6,
        ).alias("recall_at_k"),
    )
    return out


def bm25f_topk(
    df: DataFrame,
    query_terms: list[str],
    fields: dict | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
) -> DataFrame:
    """BM25F — field-weighted BM25 (Robertson, Zaragoza & Taylor 2004,
    "Simple BM25 extension to multiple weighted fields", CIKM). The web
    ranking function: a term hit in anchor text or a title is worth more
    than one in the body, but saturation must apply to the COMBINED
    evidence, not per field (the paper's correction to naive per-field
    BM25 summation). Composes with :func:`~..graph.anchor_text_summary`
    — feed the aggregated anchor text in as a field.

    ``fields`` maps column name → (weight, b). Per doc and term:
    ``tf̃ = Σ_f w_f · tf_f / (1 − b_f + b_f·dl_f/avgdl_f)`` (field-length
    normalized), then ``score = Σ_t idf_t · tf̃ / (k1 + tf̃)`` with the
    document-level Robertson–Spärck Jones idf (df counts a doc when ANY
    field contains the term). NULL fields count as empty.

    Plan shape is :func:`bm25_topk`'s: one combiner-friendly 1-row stats
    agg (per-field avgdl + per-term document df), constants folded into
    literals, one projection + TakeOrderedAndProject — zero shuffles at
    any corpus size. The per-term sum and the per-field inner sum are
    built in deterministic order (fields dict order, then sorted terms),
    so scores are engine-portable; rounded to 6.
    """
    import math as _m

    if fields is None:
        fields = {"text": (1.0, 0.75), "anchor": (2.5, 0.6)}
    if not query_terms or not fields:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)

    fnames = list(fields)
    cols = [F.col(id_col).alias("doc_id")]
    for f in fnames:
        toks = T.tokens(F.lower(F.coalesce(F.col(f), F.lit(""))))
        cols.append(toks.alias(f"_tk_{f}"))
    base = df.select(*cols)
    proj = [F.col("doc_id")]
    for f in fnames:
        proj.append(F.size(F.col(f"_tk_{f}")).alias(f"dl_{f}"))
        for i, term in enumerate(query_terms):
            # F.filter evaluates the lambda eagerly, so the loop variable
            # is bound correctly; a `_t=term` default would instead raise
            # the lambda's arity to 2 and receive the element INDEX
            proj.append(
                F.size(
                    F.filter(F.col(f"_tk_{f}"), lambda t: t == F.lit(term))
                ).alias(f"tf_{f}_{i}")
            )
    tfd = base.select(*proj)

    aggs = [F.count(F.lit(1)).alias("n")]
    for f in fnames:
        aggs.append(F.sum(f"dl_{f}").alias(f"sumdl_{f}"))
    for i in range(len(query_terms)):
        any_hit = None
        for f in fnames:
            hit = F.col(f"tf_{f}_{i}") > 0
            any_hit = hit if any_hit is None else (any_hit | hit)
        aggs.append(F.sum(any_hit.cast("long")).alias(f"df{i}"))
    stats = tfd.agg(*aggs).collect()[0]
    n = stats["n"]
    if n == 0:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)
    # an all-empty field would make dl/avgdl NaN-poison the score even at
    # tf=0; its tf is always 0, so any non-zero divisor is equivalent
    avgdl = {f: (stats[f"sumdl_{f}"] / n) or 1.0 for f in fnames}

    score = None
    for i, term in enumerate(query_terms):
        idf = _m.log(
            1.0 + (n - stats[f"df{i}"] + 0.5) / (stats[f"df{i}"] + 0.5)
        )
        tft = None
        for f in fnames:
            w, bf = fields[f]
            denom = (
                F.lit(1.0 - bf)
                + F.lit(bf) * F.col(f"dl_{f}") / F.lit(avgdl[f])
            )
            part = (
                F.lit(w) * F.col(f"tf_{f}_{i}").cast("double") / denom
            )
            tft = part if tft is None else tft + part
        contrib = F.lit(idf) * tft / (F.lit(k1) + tft)
        score = contrib if score is None else score + contrib
    return (
        tfd.select("doc_id", score.alias("raw"))
        .filter(F.col("raw") > 0)
        .select("doc_id", F.round("raw", 6).alias("score"))
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def ql_dirichlet_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    mu: float = 500.0,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet-prior smoothing (Zhai &
    Lafferty 2004, "A Study of Smoothing Methods for Language Models
    Applied to Information Retrieval") — the probabilistic-IR classic
    next to Okapi BM25: score(q,d) = Σ_t ln((tf_t + μ·P(t|C)) / (dl + μ))
    with collection model P(t|C) = cf_t / |C|. Dirichlet smoothing bakes
    in the two behaviors the paper isolates: a document missing a query
    term is still retrievable (the μ·P(t|C) mass), and verbosity is
    punished through the dl+μ denominator rather than a separate length
    norm.

    Same zero-shuffle plan as :func:`bm25_topk`: one combiner-friendly
    stats scan (1 row: total collection tokens |C| + per-term cf), the
    per-term constants μ·cf_t/|C| folded to literals on the driver, then
    one projection + TakeOrderedAndProject. Terms with cf = 0 (OOV for
    the whole collection) are dropped before folding — their MLE is
    ln(0) for every tf=0 doc, so the standard treatment is exclusion; if
    EVERY term is OOV the result is empty. Scores (≤ 0) round to 6
    decimals; ties break by doc_id. Unlike BM25 every document scores
    (tf=0 docs still carry smoothing mass), so top-k is over the whole
    corpus — still a k-row heap merge, never a global sort.
    """
    if not query_terms:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)

    toks = T.tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("dl"),
    )
    tf_cols = [
        F.size(F.filter(F.col("toks"), lambda t: t == F.lit(term))).alias(f"tf{i}")
        for i, term in enumerate(query_terms)
    ]
    tfd = base.select("doc_id", "dl", *tf_cols)
    stats = tfd.agg(
        F.sum("dl").alias("total"),
        *[F.sum(f"tf{i}").alias(f"cf{i}") for i in range(len(query_terms))],
    ).collect()[0]
    total = stats["total"] or 0
    if total == 0:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)
    score = None
    for i in range(len(query_terms)):
        cf = stats[f"cf{i}"]
        if not cf:
            continue  # collection-OOV: ln(0) for tf=0 docs — excluded
        c_t = mu * (cf / total)
        part = F.log(
            (F.col(f"tf{i}").cast("double") + F.lit(c_t))
            / (F.col("dl") + F.lit(mu))
        )
        score = part if score is None else score + part
    if score is None:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)
    return (
        tfd.select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def pmi_collocations(
    df: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information (Manning
    & Schütze, Foundations of Statistical NLP §5.4) — the vocabulary-
    curation signal behind multi-word tokenizer entries and phrase-aware
    dedup shingles: PMI = ln(p(ab)/(p(a)p(b))) with p(ab) = n_ab/N_bi,
    p(x) = n_x/N_uni.

    ``min_count`` is the paper's own correction — PMI is maximized by
    hapax pairs, so rare bigrams are gated before ranking, not after.

    Plan: one bigram agg + one unigram agg (token-keyed combiner aggs),
    two slim joins attaching n_a/n_b to surviving bigrams (only those
    past ``min_count``), two 1-row totals folded to literals, projection
    + TakeOrderedAndProject. Every PMI value is one double expression
    over exact integer counts — no accumulation order anywhere, so the
    oracle replays it bit-for-bit. Ties break (pmi desc, a, b).
    """
    toks = T.tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("tk")).filter(
        F.size("tk") > 0
    ).localCheckpoint()
    uni = (
        base.select(F.explode("tk").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    bi = (
        base.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(tk, 1, size(tk) - 1)").alias("a"),
                    F.expr("slice(tk, 2, size(tk) - 1)").alias("b"),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    totals = uni.agg(F.sum("n").alias("nu")).collect()[0]
    n_uni = totals["nu"] or 0
    if n_uni == 0:
        return df.select(
            F.lit("").alias("a"), F.lit("").alias("b"),
            F.lit(0).cast("bigint").alias("n_ab"), F.lit(0.0).alias("pmi"),
        ).limit(0)
    n_bi = base.select(
        F.coalesce(F.sum(F.size("tk") - 1), F.lit(0)).alias("nb")
    ).collect()[0]["nb"]
    scored = (
        bi.join(uni.select(F.col("t").alias("a"), F.col("n").alias("n_a")), "a")
        .join(uni.select(F.col("t").alias("b"), F.col("n").alias("n_b")), "b")
        .select(
            "a",
            "b",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") / F.lit(float(n_bi)))
                    / (
                        (F.col("n_a").cast("double") / F.lit(float(n_uni)))
                        * (F.col("n_b").cast("double") / F.lit(float(n_uni)))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "a", "b").limit(k)


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy over characters — the gibberish /
    encoding-junk gate (binary blobs pasted as text read ~7–8 bits/char;
    natural language sits ~3.5–4.5; single-char spam near 0): the cheap
    signal quality pipelines run before any tokenizer sees the text.

    One (doc, char) combiner agg, then the per-doc entropy folds over
    the counts in SORTED char order (sort_array + aggregate) so the
    float sum is a pure function of the data — never a groupBy-order
    accident. Returns (doc_id, n_chars, n_unique_chars, entropy_bits)
    with entropy rounded to 6; empty/NULL docs are absent (no chars, no
    distribution).
    """
    # length > 0 guard: Spark's sequence(1, 0) is the DESCENDING [1, 0],
    # not empty — an empty doc would otherwise count phantom '' chars
    chars = df.filter(F.length(F.col(text_col)) > 0).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(f"transform(sequence(1, length({text_col})), i -> substr({text_col}, i, 1))")
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("n").alias("n_chars"),
        F.count(F.lit(1)).alias("n_unique_chars"),
        F.sort_array(F.collect_list(F.struct("ch", "n"))).alias("dist"),
    )
    # H = -Σ p·log2 p, folded in char order: log2 x = ln(x)/ln(2)
    ln2 = 0.6931471805599453
    ent = F.aggregate(
        "dist",
        F.lit(0.0),
        lambda acc, s: acc
        - (s["n"].cast("double") / F.col("n_chars"))
        * (F.log(s["n"].cast("double") / F.col("n_chars")) / F.lit(ln2)),
    )
    return per_doc.select(
        "doc_id",
        "n_chars",
        "n_unique_chars",
        F.round(ent, 6).alias("entropy_bits"),
    )


def slice_kl_terms(
    df: DataFrame,
    slice_pred,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinctive vocabulary of a corpus slice by per-term KL
    contribution: for slice P vs full-corpus background Q, each term's
    p(t)·ln(p(t)/q(t)) — the terms driving KL(P‖Q), i.e. what a new
    source/epoch/language slice is ABOUT relative to the corpus (the
    distribution-drift QA check between crawl epochs; add-one smoothing
    over the union vocabulary keeps every ratio finite).

    Contributions are emitted in NANO fixed-point int64
    (round(1e9·p·ln(p/q))) — the repo's exact-integer-sum discipline: a
    total KL over any term subset is then order-free exact integer
    arithmetic at any vocabulary size, never a float-accumulation
    accident. Plan: two token-keyed combiner aggs (slice + background
    share one scan via conditional agg), two 1-row totals folded to
    literals, one projection + TakeOrderedAndProject. Returns top-k
    (term, n_slice, n_corpus, contribution_nano) by (contribution desc,
    term).
    """
    toks = T.tokens(F.lower(F.col(text_col)))
    t = df.select(
        F.coalesce(slice_pred.cast("int"), F.lit(0)).alias("in_slice"),
        F.explode(toks).alias("t"),
    )
    counts = t.groupBy("t").agg(
        F.sum("in_slice").alias("n_p"),
        F.count(F.lit(1)).alias("n_q"),
    ).localCheckpoint()
    tot = counts.agg(
        F.coalesce(F.sum("n_p"), F.lit(0)).alias("np"),
        F.coalesce(F.sum("n_q"), F.lit(0)).alias("nq"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    n_p, n_q, v = tot["np"], tot["nq"], tot["v"]
    if v == 0 or n_p == 0:
        return counts.select(
            F.col("t").alias("term"), F.col("n_p").alias("n_slice"),
            F.col("n_q").alias("n_corpus"),
            F.lit(0).cast("bigint").alias("contribution_nano"),
        ).limit(0)
    p = (F.col("n_p").cast("double") + F.lit(1.0)) / F.lit(float(n_p + v))
    q = (F.col("n_q").cast("double") + F.lit(1.0)) / F.lit(float(n_q + v))
    return (
        counts.select(
            F.col("t").alias("term"),
            F.col("n_p").alias("n_slice"),
            F.col("n_q").alias("n_corpus"),
            F.round(p * F.log(p / q) * F.lit(1e9), 0)
            .cast("bigint")
            .alias("contribution_nano"),
        )
        .orderBy(F.desc("contribution_nano"), "term")
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords (Salton & Buckley 1988;
    IIR §6.2): w(t, d) = tf(t, d) · ln(N / df(t)) over the same tokenizer
    as the retrieval family, ties broken by term so every row is a pure
    function of the data. The per-corpus summary line ("what is this page
    about") that feeds snippet/UI layers and cheap topic labels.

    Plan shape: one postings build ((term, doc) combiner agg — the
    inverted_index shuffle), df via a count window PARTITION BY term over
    the already-collapsed postings (no second groupBy+join back), N folded
    to a literal from a 1-row distinct-count agg (the bm25_topk constant-
    folding pattern), then one doc-keyed rank window that keeps ≤ k rows
    per doc. Three data-sized shuffles total — the (term, doc) postings
    agg, the term-keyed df window, the doc-keyed rank window — every one
    over slim (term, doc_id, tf) rows; no join anywhere in the plan.
    """
    post = inverted_index(df, text_col, id_col)
    n_docs = post.select(F.countDistinct(id_col).alias("n")).collect()[0]["n"]
    if not n_docs:
        schema = f"{id_col} string, term string, tf long, score double, rank int"
        return df.sparkSession.createDataFrame([], schema)
    tw = Window.partitionBy("term")
    dw = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        post.withColumn("df", F.count(F.lit(1)).over(tw))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
        )
        .withColumn("rank", F.row_number().over(dw))
        .filter(F.col("rank") <= F.lit(k))
        .select(id_col, "term", F.col("tf").cast("long").alias("tf"), "score", "rank")
    )


def epoch_novelty(
    pages: DataFrame,
    epoch_col: str = "epoch",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Per-epoch novel-content accounting — the dedup-rate-over-time curve
    corpus reports publish (FineWeb's per-snapshot dedup tables; Fetterly
    et al. 2003's "evolution of web pages" measurements): for each crawl
    epoch, how much of what was fetched is content never seen in any
    earlier epoch, and how much is re-observation of known fingerprints.

    Returns one row per epoch: ``fetches`` (raw page count),
    ``distinct_fps`` (distinct content fingerprints observed that epoch),
    ``novel_fps`` (those whose corpus-wide first epoch is this epoch),
    ``novelty_milli`` = ⌊1000·novel/distinct⌋. All exact integers — safe
    to difference across reports at any scale.

    Plan shape: one (fingerprint, epoch) combiner agg collapses the corpus
    to slim presence rows, a min-epoch window PARTITION BY fingerprint
    marks first sightings (no self-join), and the per-epoch rollup is a
    tiny final agg. Nothing keyed wider than the fingerprint; the hot-key
    worst case (one viral fingerprint in every epoch) is E rows, not E².
    """
    g = (
        pages.select(F.col(epoch_col).alias("epoch"), F.col(fp_col).alias("fp"))
        .filter(F.col("fp").isNotNull())
        .groupBy("fp", "epoch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    fw = Window.partitionBy("fp")
    return (
        g.withColumn("first_epoch", F.min("epoch").over(fw))
        .groupBy("epoch")
        .agg(
            F.sum("n").alias("fetches"),
            F.count(F.lit(1)).alias("distinct_fps"),
            F.sum(
                F.when(F.col("epoch") == F.col("first_epoch"), 1).otherwise(0)
            ).alias("novel_fps"),
        )
        .withColumn(
            "novelty_milli",
            F.floor(F.lit(1000) * F.col("novel_fps") / F.col("distinct_fps")).cast(
                "long"
            ),
        )
        .select("epoch", "fetches", "distinct_fps", "novel_fps", "novelty_milli")
    )


def host_lang_outliers(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Language-coherence outliers within a source/host: documents whose
    detected language differs from their group's majority detected
    language — the cleaning signal behind "this .de news site suddenly
    has 50 English pages" (scraped ads, parked takeover, mixed-language
    boilerplate) that per-document language ID alone cannot raise. CCNet
    and its descendants bucket by (lang, host) for exactly this reason.

    Returns one row per outlier document: (doc_id, group, predicted_lang,
    majority_lang, group_docs, majority_docs). The majority is the
    (count desc, lang asc)-first language per group — deterministic
    tie-break, so membership is a pure function of the data. Plan: one
    language-ID projection (pure column expressions, zero shuffles), a
    (group, lang) combiner agg + a per-group rank window over
    language-count rows (≤ #languages per group, never #docs), and one
    broadcast-sized join back — document text never crosses a shuffle.
    """
    scored = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("grp"),
        T.detect_language(F.col(text_col)).alias("predicted_lang"),
    )
    counts = scored.groupBy("grp", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("grp").orderBy(F.desc("n"), F.asc("predicted_lang"))
    gw = Window.partitionBy("grp")
    maj = (
        counts.withColumn("rk", F.row_number().over(w))
        .withColumn("group_docs", F.sum("n").over(gw))
        .filter(F.col("rk") == 1)
        .select(
            "grp",
            F.col("predicted_lang").alias("majority_lang"),
            F.col("n").alias("majority_docs"),
            "group_docs",
        )
    )
    return (
        scored.join(maj, "grp")
        .filter(F.col("predicted_lang") != F.col("majority_lang"))
        .select(
            "doc_id",
            F.col("grp").alias("group"),
            "predicted_lang",
            "majority_lang",
            F.col("group_docs").cast("long").alias("group_docs"),
            F.col("majority_docs").cast("long").alias("majority_docs"),
        )
    )


def tokenizer_fertility(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-language tokenizer fertility — tokens per whitespace word and
    characters per token (Rust et al., ACL 2021 "How good is your
    tokenizer?": fertility is THE cross-language tokenizer-quality
    metric; a language paying 3× the tokens per word pays 3× the compute
    and context budget). Run over the corpus before committing to a
    tokenizer/corpus-mix pairing.

    Returns one row per language: (lang, n_docs, n_words, n_tokens,
    n_chars, fertility_milli = ⌊1000·tokens/words⌋, chars_per_token_milli
    = ⌊1000·chars/tokens⌋) — exact integer sums per language (a single
    combiner agg over per-doc count projections; nothing shuffles but
    the per-language count rows), divisions exact-floor at the end.
    Languages with zero words/tokens emit NULL ratios rather than
    dividing by zero.
    """
    per_doc = df.select(
        F.col(lang_col).alias("lang"),
        T.token_count(F.col(text_col)).alias("w"),
        T.bpe_ish_token_count(F.col(text_col)).alias("t"),
        F.length(F.col(text_col)).alias("c"),
    )
    g = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("n_words"),
        F.sum("t").alias("n_tokens"),
        F.sum("c").alias("n_chars"),
    )
    return g.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.when(
            F.col("n_words") > 0,
            F.floor(F.lit(1000) * F.col("n_tokens") / F.col("n_words")),
        ).cast("long").alias("fertility_milli"),
        F.when(
            F.col("n_tokens") > 0,
            F.floor(F.lit(1000) * F.col("n_chars") / F.col("n_tokens")),
        ).cast("long").alias("chars_per_token_milli"),
    )


def postings_vbyte_size(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Index-compression size planning: per-term postings-list size under
    delta-gap + variable-byte encoding (Scholer et al. SIGIR 2002; the
    d-gap scheme of Witten-Moffat-Bell "Managing Gigabytes") vs raw
    64-bit ids — the number that decides whether a 100 TB corpus's
    inverted index fits the serving tier. For each term the doc ids are
    sorted ascending, gap₁ = id₁ + 1 (delta from −1, so a zero id still
    encodes ≥ 1) and gapᵢ = idᵢ − idᵢ₋₁; a gap of g costs
    ⌈bits(g)/7⌉ bytes, computed as 1 + Σ_k [g ≥ 2^(7k)] — EXACT integer
    algebra end to end, no floats anywhere, so the oracle replays it
    row-for-row. Returns (term, df_docs, raw_bytes = 8·df, vbyte_bytes,
    ratio_milli = ⌊1000·vbyte/raw⌋), densest-compression terms are the
    high-df ones (small gaps) exactly as the textbook predicts.

    Scale shape: the postings build shuffles on (term, doc) with map-side
    combine; the gap window carries ONLY (term, doc_id) longs — a hot
    stopword term streams its sorted posting list through one window
    task, the inherent sequential dependency of any gap encoder (the
    physical encoder at scale has the same per-term order requirement);
    ``min_df`` exists to restrict the report to the index-dominating
    terms, not to bound the window.
    """
    post = inverted_index(df, text_col, id_col).select(
        "term", F.col("doc_id").cast("long").alias("doc_id")
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    gap = F.col("doc_id") - F.lag("doc_id", 1, -1).over(w)
    g = F.col("gap")
    nbytes = F.lit(1) + sum(
        (g >= F.lit(1 << (7 * k))).cast("int") for k in range(1, 9)
    )
    per_term = (
        post.withColumn("gap", gap)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df_docs"),
            F.sum(nbytes).alias("vbyte_bytes"),
        )
    )
    return (
        per_term.filter(F.col("df_docs") >= int(min_df))
        .select(
            "term",
            F.col("df_docs").cast("long").alias("df_docs"),
            (F.lit(8) * F.col("df_docs")).cast("long").alias("raw_bytes"),
            F.col("vbyte_bytes").cast("long").alias("vbyte_bytes"),
            F.floor(
                F.lit(1000) * F.col("vbyte_bytes") / (F.lit(8) * F.col("df_docs"))
            ).cast("long").alias("ratio_milli"),
        )
    )


def temperature_mix_rates(
    df: DataFrame,
    budget_tokens: int,
    tau: float = 2.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    token_counter: str = "ws",
) -> DataFrame:
    """Temperature-scaled source mixing (Arivazhagan et al. 2019 §4;
    the mT5/PaLM multilingual data-balancing rule): sampling rate
    q_s ∝ p_s^(1/τ) where p_s is source s's token share — τ=1 keeps the
    natural (head-dominated) mix, τ→∞ flattens to uniform; τ∈[2,5] is
    the published sweet spot that up-weights tail languages/sources
    without swamping the head. Returns one row per source:
    (source, n_docs, n_tokens, q_rate, alloc_tokens, capped) where
    alloc_tokens = min(⌊budget·q_s⌋, T_s) — a source allocated more than
    it has is ``capped`` (the caller re-runs with the residual budget or
    accepts the shortfall; no silent redistribution).

    Float discipline: token totals are exact longs; p_s = T_s/ΣT is one
    exact-operand double division; the q normalizer Σ p^(1/τ) is an
    ordered fold over sources sorted by name (1-row agg — the fold array
    holds one element per SOURCE, bounded by the mix's source count);
    for the default τ=2 the root is computed with sqrt (correctly-rounded
    IEEE, bit-identical on any engine) — fractional τ≠2 goes through
    pow, whose last ulp is libm-specific (declared, and masked by the
    6dp round in practice). Two driver fetches of 1-row scalars (ΣT and
    the normalizer), the repo's documented scalar-fetch pattern.

    Scale shape: one (source)-keyed combiner agg over three slim columns
    + a 1-row fold + a per-source projection — corpus text never crosses
    a shuffle; works unchanged for per-domain weighting (10^5 sources):
    the fold array is the source table, not the corpus.
    """
    per = (
        _token_frame(df, text_col, id_col, source_col, token_counter)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )

    def _root(x):
        if float(tau) == 2.0:
            return F.sqrt(x)
        return F.pow(x, 1.0 / float(tau))

    tot_row = per.agg(F.sum("n_tokens").alias("t")).collect()
    total = int(tot_row[0]["t"] or 0) if tot_row else 0
    if total <= 0:
        return per.select(
            "source", "n_docs", "n_tokens",
            F.lit(None).cast("double").alias("q_rate"),
            F.lit(None).cast("long").alias("alloc_tokens"),
            F.lit(None).cast("boolean").alias("capped"),
        )
    arr = F.sort_array(
        F.collect_list(
            F.struct(F.col("source").alias("s"), F.col("n_tokens").alias("t"))
        )
    )
    qsum = float(
        per.agg(
            F.aggregate(
                F.transform(
                    arr,
                    lambda e: _root(
                        e["t"].cast("double") / F.lit(float(total))
                    ),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("qsum")
        ).collect()[0]["qsum"]
    )
    q = _root(F.col("n_tokens").cast("double") / F.lit(float(total))) / F.lit(
        qsum
    )
    raw_alloc = F.floor(F.lit(float(int(budget_tokens))) * q).cast("long")
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(q, 6).alias("q_rate"),
        F.least(raw_alloc, F.col("n_tokens")).alias("alloc_tokens"),
        (raw_alloc > F.col("n_tokens")).alias("capped"),
    )


def cavnar_trenkle_profiles(
    train: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    k: int = 50,
    n: int = 3,
) -> DataFrame:
    """Cavnar-Trenkle language profiles (SDAIR 1994, "N-Gram-Based Text
    Categorization" — the classic rank-order method behind textcat and
    early langid tools): per language, the top-``k`` character n-grams
    ranked by frequency (count desc, gram asc — deterministic). Returns
    (lang, gram, rank), a languages×k table. One (lang, gram) combiner
    agg + a per-lang rank window over gram-count rows (≤ distinct grams
    per language, never corpus rows); exact integers throughout.
    """
    t = F.lower(F.col(text_col).cast("string"))
    g = (
        train.select(F.col(lang_col).alias("lang"), t.alias("__t"))
        .select("lang", F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("__t") - (n - 1), F.lit(0)),
                ),
                lambda i: F.col("__t").substr(i, F.lit(n)),
            )
        ).alias("gram"))
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), "gram")
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("lang", "gram", F.col("rank").cast("long").alias("rank"))
    )


def cavnar_trenkle_classify(
    docs: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    n: int = 3,
) -> DataFrame:
    """Classify documents against Cavnar-Trenkle profiles by OUT-OF-PLACE
    distance: build each document's own top-``k`` gram ranking the same
    way, then for every language sum |doc_rank − lang_rank| over the
    doc's grams (a gram absent from the language profile costs the
    maximum displacement ``k``); predicted language = argmin distance,
    ties to the alphabetically first language. EXACT integer algebra end
    to end (ranks, displacements, sums), so the whole classifier —
    training ranks, doc ranks, distances, argmin — replays in SQL.

    Returns (doc_id, predicted_lang, best_dist). Scale shape: one
    (doc, gram) combiner agg + per-doc rank window (the doc's own gram
    table, ≤ text length rows) + one broadcast join against the
    languages×k profile table + a (doc, lang) sum and per-doc argmin
    window — document text never crosses a shuffle after the gram agg.
    """
    t = F.lower(F.col(text_col).cast("string"))
    dg = (
        docs.select(F.col(id_col).alias("doc_id"), t.alias("__t"))
        .select("doc_id", F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("__t") - (n - 1), F.lit(0)),
                ),
                lambda i: F.col("__t").substr(i, F.lit(n)),
            )
        ).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("c"), "gram")
    dp = (
        dg.withColumn("drank", F.row_number().over(wd))
        .filter(F.col("drank") <= int(k))
        .select("doc_id", "gram", "drank")
    )
    # dist(doc, lang) = Σ_matched |Δrank| + k·(n_doc_grams − n_matched):
    # the unmatched-gram penalty is accounted arithmetically, so only an
    # INNER gram join is needed — no per-language row replication of the
    # doc profile (and no cross join anywhere, the repo invariant)
    ng = dp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    matched = (
        dp.join(F.broadcast(profiles), "gram")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.abs(F.col("drank") - F.col("rank"))).alias("s_disp"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )
    # a zero-match language's dist would be k·n_grams, the MAXIMUM
    # possible (each matched gram costs ≤ k−1 < k), so any language with
    # ≥1 match strictly beats every zero-match one — the argmin over
    # matched languages IS the global argmin; a doc matching no language
    # at all gets NULL (unknown), the honest answer.
    dist = (
        matched.join(ng, "doc_id")
        .select(
            "doc_id", "lang",
            (
                F.col("s_disp")
                + F.lit(int(k)) * (F.col("n_grams") - F.col("n_matched"))
            ).cast("long").alias("dist"),
        )
    )
    wbest = Window.partitionBy("doc_id").orderBy("dist", "lang")
    best = (
        dist.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("predicted_lang"),
            F.col("dist").alias("best_dist"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(best, "doc_id", "left")
    )


def effective_tokens(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Dedup-aware effective-token accounting per source — the number
    that actually matters when pricing a source's contribution to a
    training mix. Raw token counts double-pay duplicated content; the
    *effective* count credits each duplicate cluster's tokens once, to
    the source holding its canonical (min-id) copy — the same survivor
    rule as ``exact_dedup``, so this table is exactly "what
    ``keep_canonical`` would leave, priced in tokens" without
    materializing the deduped corpus. The gap between the two columns
    is each source's duplicate tax (mirrors, boilerplate reprints,
    syndication), the first thing a 100 TB corpus datasheet should
    show next to ``source_dup_rates``.

    Plan: one scan computes whitespace token counts (codegen regex)
    and the normalized content fingerprint; a (fingerprint)-keyed
    min-id agg finds canonicals — slim (fp, id, tokens) rows, full
    map-side combine; a same-key self-join marks survivors; one final
    source-keyed agg. Two slim shuffles total, both on keys the
    workload already uses.

    Returns one row per source: (source, n_docs, n_canonical_docs,
    raw_tokens, effective_tokens, dup_token_share_milli) with
    dup_token_share_milli = floor(1000·(raw−effective)/raw) (0 when a
    source holds no tokens).
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        T.token_count(F.col(text_col)).alias("n_tokens"),
        T.content_fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    canon = base.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canon_id")
    )
    marked = base.join(canon, "fingerprint").withColumn(
        "is_canon", (F.col("doc_id") == F.col("canon_id")).cast("long")
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_canon").cast("long").alias("n_canonical_docs"),
        F.sum("n_tokens").cast("long").alias("raw_tokens"),
        F.sum(F.col("n_tokens") * F.col("is_canon")).cast("long").alias(
            "effective_tokens"
        ),
        F.floor(
            1000
            * (F.sum("n_tokens") - F.sum(F.col("n_tokens") * F.col("is_canon")))
            / F.greatest(F.sum("n_tokens"), F.lit(1))
        ).cast("long").alias("dup_token_share_milli"),
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 6,
) -> DataFrame:
    """Per-document n-gram novelty profile — for each document, the
    share of its distinct word n-grams never seen in any EARLIER
    document (id order = ingestion order). This is the corpus-level
    memorization/novelty curve (the unit behind Lee et al. 2022's
    duplicated-substring analyses): exact/near dedup answers "is this
    document a copy", novelty answers "how much of this document is
    new text at all" — syndication wrappers, quote-heavy pages and
    template-stitched articles score low without any pair ever
    passing a Jaccard threshold. Downstream: novelty-weighted
    sampling, ingestion-order curriculum audits, and pricing what an
    incremental epoch truly adds (the token-level complement of
    ``crawl_epoch_novelty``).

    Plan: one scan builds the distinct gram array (``T.shingles``,
    codegen) and explodes to slim (doc_id, md5(gram)) rows; a
    gram-keyed min-id combiner agg finds each gram's first document;
    one same-key join back + one doc-keyed agg. Grams cross the wire
    as 16-byte digests, never text. The min-id agg is the same
    first-occurrence discipline as ``exact_dedup``, lifted from
    documents to grams.

    Returns one row per input document: (doc_id, n_grams,
    n_seen_before, novelty_milli) with novelty_milli =
    floor(1000·(n_grams−n_seen_before)/n_grams), NULL when the
    document is shorter than n tokens (no grams).
    """
    inv = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(T.shingles(F.col(text_col), n)).alias("gram"),
    ).select("doc_id", F.md5("gram").alias("fp"))
    first = inv.groupBy("fp").agg(F.min("doc_id").alias("first_id"))
    per = (
        inv.join(first, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("first_id") < F.col("doc_id")).cast("long"))
            .cast("long").alias("n_seen_before"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_seen_before", F.lit(0)).cast("long")
            .alias("n_seen_before"),
            F.when(
                F.col("n_grams") > 0,
                F.floor(
                    1000 * (F.col("n_grams") - F.col("n_seen_before"))
                    / F.col("n_grams")
                ),
            ).cast("long").alias("novelty_milli"),
        )
    )


def write_layout_plan(
    docs: DataFrame,
    key_col: str = "source",
    text_col: str = "text",
    target_file_bytes: int = 512 * 1024 * 1024,
    max_files_per_key: int = 10_000,
) -> DataFrame:
    """Output-layout advisor — the small-files planner a 100 TB write
    needs BEFORE ``df.write.partitionBy(key)``: per partition key, how
    many files to aim for (⌈bytes/target⌉, capped), how many rows per
    file that implies, and a class telling the writer what to do —
    ``tiny`` keys (< target/8) should be coalesced with siblings
    rather than each emitting a dust file, ``capped`` keys hit the
    per-key file ceiling and need a salt/sub-partition, ``balanced``
    keys can just repartition to ``n_files``. A partitioned write
    without this either produces millions of KB files (NameNode/
    listing death at corpus scale) or 100 GB monoliths no executor
    can read-shard; both are silent until production.

    Plan: ONE key-combiner agg over (key, length) — byte sizes come
    from the text column's length as the uncompressed estimate — then
    a pure projection of integer arithmetic. Nothing else shuffles;
    the plan table is keys-sized.

    Returns (partition_key, n_rows, est_bytes, n_files,
    rows_per_file, layout_class).
    """
    d = docs.select(
        F.col(key_col).alias("partition_key"),
        F.length(F.col(text_col)).cast("long").alias("b"),
    )
    agg = d.groupBy("partition_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("b").cast("long").alias("est_bytes"),
    )
    raw_files = F.ceil(F.col("est_bytes") / F.lit(int(target_file_bytes)))
    n_files = F.greatest(
        F.least(raw_files, F.lit(int(max_files_per_key))), F.lit(1)
    ).cast("long")
    cls = (
        F.when(F.col("est_bytes") < int(target_file_bytes) // 8, F.lit("tiny"))
        .when(raw_files > int(max_files_per_key), F.lit("capped"))
        .otherwise(F.lit("balanced"))
    )
    return agg.select(
        "partition_key", "n_rows", "est_bytes",
        n_files.alias("n_files"),
        F.ceil(F.col("n_rows") / n_files).cast("long").alias("rows_per_file"),
        cls.alias("layout_class"),
    )
