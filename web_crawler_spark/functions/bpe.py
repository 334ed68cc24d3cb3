"""Pure-Python byte-pair-encoding tokenizer (Sennrich et al. 2016, the
public subword-BPE algorithm) with an Arrow-batched Spark counting stage.

``functions/text.py::token_count`` is a whitespace/regex proxy — fine for
quality stats, but ``operators/corpus.py::corpus_mix`` denominates source
budgets in it, and LLM data budgets are denominated in real tokenizer
tokens. This module makes budget mixing exact-token:

* ``train_bpe(corpus, n_merges)`` — the classic greedy merge loop over
  word frequency tables (deterministic: ties break on lexicographic pair
  order, so the same corpus always yields the same merge list),
* ``encode(text, merges)`` — pre-tokenize with the public GPT-2-style
  regex split (``text.BPE_ISH_PATTERN``), then apply merges per word with
  an end-of-word marker; out-of-vocab characters pass through as single
  tokens (open vocabulary — never fails),
* ``DEFAULT_MERGES`` — a small committed vocab trained at import from the
  embedded seed corpus below (deterministic, no I/O, no downloads: the
  container has no tokenizer assets, and shipping a third-party merges
  file verbatim would be a licensing/copy question — training our own
  200-merge table from 30 lines of text is instant and reproducible),
* ``bpe_count_stage(df, ...)`` — mapInPandas stage adding an exact BPE
  token count column, one Arrow batch at a time (the engine's no-row-UDF
  discipline); pluggable into ``corpus_mix(token_counter="bpe")``.

Scale shape: the stage is embarrassingly parallel (per-row encode inside
an Arrow batch, no shuffle); the merges table rides to executors inside
the closure (a few KB). Encoding is O(word_len^2) worst case per word on
the merge scan — bounded by the regex pre-split, which caps word length
at alphabetic runs.
"""

from __future__ import annotations

import re
from functools import lru_cache

from .text import BPE_ISH_PATTERN

_EOW = "</w>"  # end-of-word marker so "est" inside vs at word-end differ

# Deterministic seed corpus for DEFAULT_MERGES: common English web prose.
# Small on purpose — the point is a committed, reproducible vocab, not
# linguistic coverage; callers with a real vocab pass their own merges.
_SEED_CORPUS = """
the quick brown fox jumps over the lazy dog and then the dog chases the
fox through the fields while the farmer watches from the house near the
river where the water flows down to the valley and the children play in
the garden behind the school after the lessons end for the day and their
parents work in the town where the market opens early in the morning with
fresh bread and fruit from the farms around the hills that rise above the
forest where the birds sing in the trees and the wind blows through the
leaves in the autumn when the rain falls on the roofs of the old houses
this is a test of the emergency broadcast system please do not panic the
internet is a global network of computers that communicate using common
protocols web pages are written in markup languages and served over http
search engines crawl the web following links from page to page building
an index of the text they find so that users can search for information
quickly and find the most relevant results for their queries every day
millions of people read news articles watch videos and share messages
with friends the price of the product was lower than expected and the
newest widest lowest lower low est wide widest new newest
""".split()


def _pair_counts(vocab: dict[tuple, int]) -> dict[tuple, int]:
    counts: dict[tuple, int] = {}
    for word, freq in vocab.items():
        for i in range(len(word) - 1):
            pair = (word[i], word[i + 1])
            counts[pair] = counts.get(pair, 0) + freq
    return counts


def _merge_word(word: tuple, pair: tuple, joined: str) -> tuple:
    out, i, n = [], 0, len(word)
    while i < n:
        if i < n - 1 and word[i] == pair[0] and word[i + 1] == pair[1]:
            out.append(joined)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


def train_bpe(corpus: list[str], n_merges: int = 200) -> list[tuple]:
    """Greedy BPE merge training (Sennrich alg. 1). Deterministic: the
    most frequent pair wins, ties broken by lexicographic pair order."""
    words: dict[tuple, int] = {}
    pat = re.compile(BPE_ISH_PATTERN)
    for text in corpus:
        for w in pat.findall(text.lower()):
            key = tuple(w) + (_EOW,)
            words[key] = words.get(key, 0) + 1
    merges: list[tuple] = []
    for _ in range(n_merges):
        counts = _pair_counts(words)
        if not counts:
            break
        pair, cnt = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
        # stop when no pair repeats — further merges memorize single words
        if cnt < 2:
            break
        merges.append(pair)
        joined = pair[0] + pair[1]
        words = {_merge_word(w, pair, joined): f for w, f in words.items()}
    return merges


DEFAULT_MERGES: list[tuple] = train_bpe([" ".join(_SEED_CORPUS)], 200)


def _encoder(merges: list[tuple]):
    ranks = {pair: i for i, pair in enumerate(merges)}

    @lru_cache(maxsize=65536)
    def encode_word(w: str) -> tuple:
        parts = list(w) + [_EOW]
        while len(parts) > 1:
            best_rank, best_i = None, None
            for i in range(len(parts) - 1):
                r = ranks.get((parts[i], parts[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
        return tuple(parts)

    return encode_word


def encode(text: str, merges: list[tuple] | None = None) -> list[str]:
    """Text → BPE token list (lowercased, regex pre-split). The trailing
    ``</w>`` marker stays attached to word-final subwords, matching the
    training representation."""
    enc = _default_encoder() if merges is None else _encoder(merges)
    pat = re.compile(BPE_ISH_PATTERN)
    out: list[str] = []
    for w in pat.findall(text.lower()):
        out.extend(enc(w))
    return out


@lru_cache(maxsize=1)
def _default_encoder():
    return _encoder(DEFAULT_MERGES)


def token_count_py(text: str, merges: list[tuple] | None = None) -> int:
    return len(encode(text, merges))


def bpe_count_stage(
    df,
    text_col: str = "text",
    out_col: str = "n_tokens",
):
    """Append an exact BPE token-count column via Arrow-batched
    mapInPandas (schema-preserving: output = input columns + out_col).
    The committed merges list (``DEFAULT_MERGES``) serializes into the
    task closure — a few KB broadcast once per executor."""
    import pandas as pd

    from pyspark.sql import types as ST

    # fresh StructType — .add() on df.schema mutates the cached object
    fields = list(df.schema.fields) + [ST.StructField(out_col, ST.LongType())]
    schema = ST.StructType(fields)
    pat = re.compile(BPE_ISH_PATTERN)

    def gen(batches):
        enc = _encoder(DEFAULT_MERGES)  # one cache per task, built lazily
        for pdf in batches:
            counts = []
            for t in pdf[text_col]:
                if t is None:
                    counts.append(0)
                    continue
                counts.append(sum(len(enc(w)) for w in pat.findall(str(t).lower())))
            pdf = pdf.copy()
            pdf[out_col] = pd.Series(counts, index=pdf.index, dtype="int64")
            yield pdf

    return df.mapInPandas(gen, schema)


# ---------------------------------------------------------------------------
# Distributed BPE merge training
# ---------------------------------------------------------------------------

_SEP = "\x1f"  # symbol-boundary sentinel: each symbol rides as ␟sym␟


def train_bpe_distributed(
    docs,
    text_col: str = "text",
    n_merges: int = 200,
):
    """Greedy BPE merge training (Sennrich alg. 1) over a DataFrame corpus
    — ``train_bpe`` semantics (max-count pair, ties to the lexicographically
    LARGEST pair, stop when no pair repeats), but the corpus never touches
    the driver. Returns the merge table as a DataFrame
    ``(step, lhs, rhs, merged, pair_count)``.

    The distribution trick: a word's symbol sequence is one STRING with
    every symbol individually wrapped in a sentinel (``café`` →
    ``␟c␟␟a␟␟f␟␟é␟␟</w>␟``), so applying merge (a,b) is a single built-in
    ``replace(sym, '␟a␟␟b␟', '␟ab␟')`` — left-to-right non-overlapping,
    which IS the BPE merge rule, entirely JVM-side, and replayable
    verbatim by the DuckDB oracle (adjacent occurrences never share
    sentinel chars, so 'aaaa' merges to 'aa','aa' and 'aaa' to 'aa','a',
    exactly like the reference scan).

    Scale shape: one corpus pass builds the (word, freq) vocab — after
    that every round runs on the vocab table (Heaps-law small vs the
    corpus, still distributed): one slice/zip pair explode + one
    combiner-friendly SUM shuffle bounded by distinct-pair count, a
    1-row argmax fetch (the same scalar-fetch discipline as pagerank's
    dangling mass), and one replace projection, lineage-cut per round.
    n_merges rounds = n_merges bounded shuffles — the inherent cost of
    the sequential algorithm; production trainers run it on a vocab
    sample, which this accepts as ``docs`` upstream.

    Words containing the U+001F sentinel are dropped (it is a control
    char the tokenizer pattern would otherwise keep as punctuation).
    """
    from pyspark.sql import functions as F

    spark = docs.sparkSession
    sep = _SEP
    words = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col).cast("string")),
                F.lit(BPE_ISH_PATTERN), 0,
            )
        ).alias("w")
    ).filter(~F.col("w").contains(sep))
    wrapped = F.concat(
        F.regexp_replace(F.col("w"), "(.)", sep + "$1" + sep),
        F.lit(sep + _EOW + sep),
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", wrapped.alias("sym"))
        .localCheckpoint()
    )

    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        arr = F.split(
            F.regexp_replace(F.col("sym"), f"^{sep}|{sep}$", ""), sep + sep
        )
        pairs = vocab.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(arr, 1, F.size(arr) - 1).alias("l"),
                    F.slice(arr, 2, F.size(arr) - 1).alias("r"),
                )
            ).alias("p"),
        ).select("freq", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.desc("l"), F.desc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < 2:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((step, l, r, l + r, cnt))
        vocab = vocab.select(
            "freq",
            F.replace(
                F.col("sym"),
                F.lit(sep + l + sep + sep + r + sep),
                F.lit(sep + l + r + sep),
            ).alias("sym"),
        ).localCheckpoint()

    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, merged string, pair_count bigint"
    )
