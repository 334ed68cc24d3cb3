"""Distributed n-gram language-model training + per-document perplexity
scoring — the CCNet-style corpus quality signal (Wenzek et al. 2020 score
documents with a KenLM 5-gram; the add-alpha bigram here is the same
pipeline shape with a declared simpler estimator, like ``token_count``'s
BPE-ish proxy).

Everything is DataFrame algebra:

- **train**: one (w1, w2) hash aggregation for bigram counts, one (w1)
  aggregation for context totals, one distinct count for the vocabulary
  size — three shuffles total over the exploded token stream, each with
  map-side partial aggregation (hot words combine per partition, so a
  stop-word context is one row per partition in the shuffle, not one per
  occurrence).
- **score**: explode each document's consecutive-token pairs, left-join
  the bigram and context count tables (unseen pairs smooth to
  ``alpha / (alpha * V)``), fold per-bigram log-probs per document.

Cross-engine determinism: per-bigram log-probs are **fixed-point int64**
(``floor(ln(p) * 1e6)``) before the per-document sum, so the aggregation
is integer arithmetic — order-independent and bit-identical between Spark
and the DuckDB oracle (a float sum's result depends on partition order;
an int sum doesn't). ``floor`` rather than ``round`` because Spark rounds
the shortest-decimal repr while DuckDB rounds the raw double — floor
operates on the bits in both engines. The derived ``perplexity`` double is
``exp`` of an exactly-reproducible int ratio.

At 100 TB: the bigram table is vocabulary²-bounded (far below corpus
size); its join key (w1, w2) is exactly the exploded stream's natural
key, and skew (stop-word bigrams) is bounded because the count side is
one row per distinct pair. Context totals are vocabulary-sized, so the
planner broadcasts them on its own when they fit its broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

LP_SCALE = 1_000_000
_WORD_RE = "[a-z0-9]+"
BOS, EOS = "<s>", "</s>"


def lm_tokens(text: Column) -> Column:
    """Lowercased word tokens wrapped in sentence markers:
    ``['<s>', w1, ..., wn, '</s>']``. Empty/non-text docs score on the
    single (<s>, </s>) bigram instead of being dropped."""
    words = F.regexp_extract_all(
        F.lower(text.cast("string")), F.lit(_WORD_RE), 0
    )
    return F.concat(F.array(F.lit(BOS)), words, F.array(F.lit(EOS)))


def _bigrams(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
    w = lm_tokens(F.col(text_col))
    pair = F.explode(
        F.arrays_zip(
            F.slice(w, 1, F.size(w) - 1).alias("w1"),
            F.slice(w, 2, F.size(w) - 1).alias("w2"),
        )
    )
    return df.select(*keep, pair.alias("_p")).select(
        *keep, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")
    )


def train_bigram_lm(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Count-based bigram model over a training corpus.

    Returns ``(bigrams, contexts, vocab_size)``: per-pair counts
    ``(w1, w2, c)``, per-context totals ``(w1, ctx_c)``, and the smoothing
    vocabulary ``V`` = distinct token types (markers included) + 1 for
    unseen mass. ``V`` is a driver scalar (one count job) — the model's
    only non-DataFrame piece, same discipline as the IVF centroid fetch.
    """
    bg = _bigrams(docs, text_col, [])
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    contexts = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("ctx_c"))
    vocab_size = (
        bg.select(F.explode(F.array("w1", "w2")).alias("t"))
        .select("t")
        .distinct()
        .count()
        + 1
    )
    return bigrams, contexts, vocab_size


def score_docs(
    docs: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    vocab_size: int,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document log-probability and perplexity under the trained model.

    ``P(w2|w1) = (c + alpha) / (ctx_c + alpha * V)`` (add-alpha smoothing;
    both counts 0 for unseen context). Returns
    ``(id_col, n_bigrams, logprob_fp, avg_logprob, perplexity)`` where
    ``logprob_fp`` is the exact int64 sum of per-bigram
    ``floor(ln(P) * 1e6)``, ``avg_logprob = logprob_fp / (n * 1e6)`` and
    ``perplexity = exp(-avg_logprob)``.
    """
    bg = _bigrams(docs, text_col, [id_col])
    joined = bg.join(bigrams, ["w1", "w2"], "left").join(contexts, ["w1"], "left")
    p = (F.coalesce(F.col("c"), F.lit(0)) + F.lit(alpha)) / (
        F.coalesce(F.col("ctx_c"), F.lit(0)) + F.lit(alpha * vocab_size)
    )
    lp_fp = F.floor(F.log(p) * F.lit(LP_SCALE)).cast("long")
    out = (
        joined.select(F.col(id_col), lp_fp.alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_lp").alias("logprob_fp"),
        )
    )
    avg = F.col("logprob_fp") / (F.col("n_bigrams") * F.lit(LP_SCALE))
    return out.select(
        id_col,
        "n_bigrams",
        "logprob_fp",
        avg.alias("avg_logprob"),
        F.exp(-avg).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# Stupid Backoff trigram LM + the full CCNet bucket assignment
# --------------------------------------------------------------------------
#
# The bigram model above is the pipeline in miniature; the production
# CCNet shape is (a) a higher-order model and (b) per-language
# head/middle/tail thirds of the perplexity distribution rather than one
# threshold. Stupid Backoff (Brants et al. 2007, "Large Language Models
# in Machine Translation") is the estimator Google built FOR distributed
# map-reduce training: scores are ratios of raw n-gram counts with a
# constant backoff factor — no discount-normalization pass — so training
# is nothing but groupBy(gram).count() with map-side combine.

SB_ALPHA = 0.4  # the paper's backoff constant
_SEP = "\x1f"  # gram-key joiner; tokens are [a-z0-9]+ so it cannot collide


def _padded3(text: Column) -> Column:
    """Trigram padding: ``['<s>', '<s>', w1..wn, '</s>']`` — two BOS so
    the first real word has a full trigram context; n_tokens + 1 scored
    positions per document."""
    words = F.regexp_extract_all(
        F.lower(text.cast("string")), F.lit(_WORD_RE), 0
    )
    return F.concat(F.array(F.lit(BOS), F.lit(BOS)), words, F.array(F.lit(EOS)))


def _gram_counts(pad: DataFrame, order: int) -> DataFrame:
    """(k, c) counts of all ``order``-grams over the padded streams —
    one exploded groupBy with map-side partial aggregation (a stop-word
    trigram is one row per partition in the shuffle, not one per
    occurrence)."""
    parts = ", ".join(f"p[i-{order - j}]" for j in range(order))
    return (
        pad.select(
            F.explode(
                F.expr(
                    f"transform(sequence({order}, size(p)),"
                    f" i -> concat_ws('{_SEP}', {parts}))"
                )
            ).alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def train_backoff_lm(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stupid-Backoff training: ``(tri, bi, uni)`` count frames keyed by
    SEP-joined gram strings over the double-BOS padded token stream.
    Three grouped counts, nothing else — the distributed trainability
    that motivated the estimator."""
    pad = docs.select(_padded3(F.col(text_col)).alias("p"))
    return _gram_counts(pad, 3), _gram_counts(pad, 2), _gram_counts(pad, 1)


def backoff_score_docs(
    docs: DataFrame,
    tri: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    alpha: float = SB_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Per-document Stupid-Backoff log-perplexity. Per position
    (context ``w2 w1`` → ``w0``)::

        S = c3(w2 w1 w0) / c2(w2 w1)          if the trigram was seen
          = α · c2(w1 w0) / c1(w1)            elif the bigram was seen
          = α² · (c1(w0) + 1) / (T + V)       otherwise (add-one unigram
                                               floor keeps OOV finite)

    with ``T`` = total padded tokens and ``V`` = vocabulary size — the
    model's two driver scalars (one 1-row fetch, the bm25-stats
    discipline). Per-position log-probs are fixed-point int64
    (``floor(ln(S)·1e6)``) so the per-document aggregation is an integer
    SUM — order-independent, no ordered fold, bit-identical to the
    DuckDB oracle.

    Plan shape: the score is a pure function of the trigram tuple, so
    the five count joins run over the DISTINCT trigram table (slim, AQE
    handles stop-word skew) compiling a ``(k3 → lp_fp)`` lookup; the
    position stream joins it ONCE on k3 and sums. Document text never
    crosses a shuffle — only (doc_id, k3) rows. At 100 TB the distinct
    trigram table is orders of magnitude smaller than the token stream,
    which is exactly why the lookup compiles first.

    Returns ``(id_col, *keep_cols, n_tokens, logprob_fp, log_ppl)``
    where ``log_ppl = -logprob_fp / ((n_tokens + 1) · 1e6)`` — the
    average negative log-prob per scored position (monotone in
    perplexity), a single division of exact integers.
    """
    pad = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        _padded3(F.col(text_col)).alias("p"),
    )
    pos = pad.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(3, size(p)),"
                f" i -> concat_ws('{_SEP}', p[i-3], p[i-2], p[i-1]))"
            )
        ).alias("k3"),
    )
    totals = uni.agg(
        F.sum("c").cast("double").alias("t"),
        F.count(F.lit(1)).cast("double").alias("v"),
    ).collect()[0]
    t_plus_v = float(totals["t"] or 0.0) + float(totals["v"] or 0.0)
    a = float(alpha)

    dk = (
        pos.select("k3")
        .distinct()
        .withColumn("ws", F.split("k3", _SEP))
        .select(
            "k3",
            F.concat_ws(_SEP, F.col("ws")[0], F.col("ws")[1]).alias("kc3"),
            F.concat_ws(_SEP, F.col("ws")[1], F.col("ws")[2]).alias("k2"),
            F.col("ws")[1].alias("kc2"),
            F.col("ws")[2].alias("w0"),
        )
    )
    j = (
        dk.join(tri.select(F.col("k"), F.col("c").alias("c3")),
                dk["k3"] == F.col("k"), "left").drop("k")
        .join(bi.select(F.col("k"), F.col("c").alias("c23")),
              F.col("kc3") == F.col("k"), "left").drop("k")
        .join(bi.select(F.col("k"), F.col("c").alias("c2")),
              F.col("k2") == F.col("k"), "left").drop("k")
        .join(uni.select(F.col("k"), F.col("c").alias("c1prev")),
              F.col("kc2") == F.col("k"), "left").drop("k")
        .join(uni.select(F.col("k"), F.col("c").alias("c1w")),
              F.col("w0") == F.col("k"), "left").drop("k")
    )
    s = F.when(
        F.col("c3").isNotNull(), F.col("c3") / F.col("c23").cast("double")
    ).otherwise(
        F.lit(a)
        * F.when(
            F.col("c2").isNotNull(),
            F.col("c2") / F.col("c1prev").cast("double"),
        ).otherwise(
            F.lit(a)
            * ((F.coalesce(F.col("c1w"), F.lit(0)) + F.lit(1))
               / F.lit(t_plus_v))
        )
    )
    lut = j.select(
        "k3", F.floor(F.log(s) * F.lit(LP_SCALE)).cast("long").alias("lp_fp")
    )
    folded = (
        pos.join(lut, "k3")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__n_pos"),
            F.sum("lp_fp").alias("logprob_fp"),
        )
    )
    return (
        pad.select("doc_id", *keep_cols)
        .join(folded, "doc_id")
        .select(
            "doc_id",
            *keep_cols,
            (F.col("__n_pos") - F.lit(1)).cast("bigint").alias("n_tokens"),
            "logprob_fp",
            (
                -F.col("logprob_fp")
                / (F.col("__n_pos") * F.lit(LP_SCALE)).cast("double")
            ).alias("log_ppl"),
        )
    )


def ccnet_buckets(
    scored: DataFrame,
    lang_col: str = "lang",
    ppl_col: str = "log_ppl",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail assignment: per-language thirds of the
    perplexity distribution (head = lowest perplexity = closest to the
    training domain). Rank = the distributed two-level prefix sum of 1s
    (``operators/prefixsum.py``) ordered by (ppl, id) within language —
    a language holding 90% of the corpus never serializes through one
    window task. Bucket = ``floor(3·(rank−1)/n_lang)`` — the
    deterministic rank form of ntile, engine-portable because no
    quantile-interpolation semantics are involved; ties rank by id and
    the ranked value is a ratio of exact int64s, so both engines order
    identically."""
    from .prefixsum import prefix_sum

    n_lang = scored.groupBy(lang_col).agg(F.count(F.lit(1)).alias("__n"))
    ranked = prefix_sum(
        scored.withColumn("__one", F.lit(1)),
        order_cols=[ppl_col, id_col],
        value_col="__one",
        out_col="__rank",
        partition_cols=[lang_col],
    ).join(n_lang, lang_col)
    b = F.floor(
        F.lit(3) * (F.col("__rank") - F.lit(1)) / F.col("__n").cast("double")
    ).cast("int")
    return ranked.select(
        *[c for c in scored.columns if c != "__one"],
        F.when(b == 0, F.lit("head"))
        .when(b == 1, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def ccnet_filter(
    docs: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    alpha: float = SB_ALPHA,
) -> DataFrame:
    """End-to-end CCNet perplexity gate: train Stupid Backoff on
    ``train`` (the trusted corpus), score ``docs``, bucket per language.
    Returns (doc_id, lang, n_tokens, logprob_fp, log_ppl, ppl_bucket)."""
    tri, bi, uni = train_backoff_lm(train, text_col)
    scored = backoff_score_docs(
        docs, tri, bi, uni, alpha, id_col, text_col, keep_cols=(lang_col,)
    )
    return ccnet_buckets(scored, lang_col=lang_col, id_col=id_col)


# --------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM — the KenLM-grade estimator
# --------------------------------------------------------------------------

KN_D = 0.75  # the standard absolute discount (Chen & Goodman 1999 tables)


def train_kn_lm(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, int, int]:
    """Interpolated Kneser-Ney bigram statistics (Kneser & Ney ICASSP
    1995; Chen & Goodman 1999's interpolated form — the estimator family
    KenLM implements and CCNet's quality scoring is built on; upgrade of
    this module's add-alpha and Stupid-Backoff models to the
    discount+continuation estimator that actually wins perplexity
    evaluations).

    Four count aggregations over the exploded bigram stream, each with
    map-side combine: pair counts c(v,w); per-context totals c(v) AND
    distinct-successor counts N1+(v·) (one agg produces both); distinct-
    PREDECESSOR counts N1+(·w) — the continuation counts: how many
    contexts a word follows, the novel-continuation signal that makes KN
    famously robust to topical burstiness ("francisco" has huge c but
    tiny N1+(·w)). Scalars: n_bigram_types = N1+(··) and V (types + 1
    unseen slot) — two driver counts, the train_bigram_lm discipline.

    Returns ``(bigrams, contexts, continuations, n_bigram_types, V)``.
    """
    bg = _bigrams(docs, text_col, [])
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    pairs = pairs.localCheckpoint()
    contexts = pairs.groupBy("w1").agg(
        F.sum("c").alias("ctx_c"),
        F.count(F.lit(1)).alias("n_succ"),
    )
    continuations = pairs.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n_prec")
    )
    n_bigram_types = pairs.count()
    vocab_size = (
        pairs.select(F.explode(F.array("w1", "w2")).alias("t"))
        .distinct()
        .count()
        + 1
    )
    return pairs, contexts, continuations, n_bigram_types, vocab_size


def kn_score_docs(
    docs: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    continuations: DataFrame,
    n_bigram_types: int,
    vocab_size: int,
    discount: float = KN_D,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document log-probability / perplexity under interpolated KN:

        P(w|v) = (max(c(v,w) − D, 0) + D · N1+(v·) · Pc(w)) / c(v)

    with the continuation distribution add-one smoothed for the OOV
    floor, ``Pc(w) = (N1+(·w) + 1) / (N1+(··) + V)`` (declared variant:
    positivity for unseen words without an <unk> pass — the add-alpha
    discipline of this module), and an OOV CONTEXT backing off to
    ``Pc(w)`` alone (its interpolation weight is 1 when c(v) = 0).

    Determinism: each bigram's ln P is one fixed-operand-order per-row
    double expression floored to int64 fixed point (``LP_SCALE``), so
    per-document sums are exact integer arithmetic — the module's
    cross-engine discipline; an SQL oracle replays every value.

    Scale shape: same joins as :func:`score_docs` (pair-keyed left join +
    context join, both against vocabulary-bounded tables) plus one more
    vocabulary-bounded join on w2 for the continuation counts.
    """
    bg = _bigrams(docs, text_col, [id_col])
    joined = (
        bg.join(bigrams, ["w1", "w2"], "left")
        .join(contexts, ["w1"], "left")
        .join(continuations, ["w2"], "left")
    )
    pc = (F.coalesce(F.col("n_prec"), F.lit(0)) + F.lit(1)).cast(
        "double"
    ) / F.lit(float(n_bigram_types + vocab_size))
    d = F.lit(float(discount))
    seen_p = (
        F.greatest(F.coalesce(F.col("c"), F.lit(0)).cast("double") - d,
                   F.lit(0.0))
        + d * F.coalesce(F.col("n_succ"), F.lit(0)).cast("double") * pc
    ) / F.col("ctx_c").cast("double")
    p = F.when(
        F.coalesce(F.col("ctx_c"), F.lit(0)) > 0, seen_p
    ).otherwise(pc)
    lp_fp = F.floor(F.log(p) * F.lit(LP_SCALE)).cast("long")
    out = (
        joined.select(F.col(id_col), lp_fp.alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_lp").alias("logprob_fp"),
        )
    )
    avg = F.col("logprob_fp") / (F.col("n_bigrams") * F.lit(LP_SCALE))
    return out.select(
        id_col,
        "n_bigrams",
        "logprob_fp",
        avg.alias("avg_logprob"),
        F.exp(-avg).alias("perplexity"),
    )
