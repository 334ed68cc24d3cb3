"""n-gram LM perplexity scoring (operators/lm) — Spark vs a pure-Python
reference implementation of the same add-alpha bigram estimator, plus the
smoothing/empty-doc edges."""

import math
import re

from web_crawler_spark.operators.lm import (
    LP_SCALE,
    score_docs,
    train_bigram_lm,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log"),
    (2, "the cat ate the dog"),
    (3, "Quantum flux capacitors!"),  # mostly-unseen scoring path
    (4, ""),                          # empty doc -> single (<s>, </s>) bigram
]
TRAIN_IDS = {0, 1, 2}


def _py_tokens(text):
    return ["<s>"] + re.findall(r"[a-z0-9]+", text.lower()) + ["</s>"]


def _py_model():
    cnt, ctx, types = {}, {}, set()
    for i, t in DOCS:
        if i not in TRAIN_IDS:
            continue
        w = _py_tokens(t)
        for a, b in zip(w, w[1:]):
            cnt[(a, b)] = cnt.get((a, b), 0) + 1
            ctx[a] = ctx.get(a, 0) + 1
            types.update((a, b))
    return cnt, ctx, len(types) + 1


def _py_score(text, cnt, ctx, v, alpha=1.0):
    w = _py_tokens(text)
    lps = [
        math.floor(
            math.log(
                (cnt.get((a, b), 0) + alpha) / (ctx.get(a, 0) + alpha * v)
            )
            * LP_SCALE
        )
        for a, b in zip(w, w[1:])
    ]
    return len(lps), sum(lps)


def _spark_scored(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    train = df.filter(df.doc_id.isin(list(TRAIN_IDS)))
    bigrams, contexts, v = train_bigram_lm(train)
    return score_docs(df, bigrams, contexts, v), v


def test_matches_python_reference(spark):
    scored, v = _spark_scored(spark)
    cnt, ctx, v_py = _py_model()
    assert v == v_py
    got = {r["doc_id"]: r for r in scored.collect()}
    for i, t in DOCS:
        n, lp = _py_score(t, cnt, ctx, v_py)
        assert (got[i]["n_bigrams"], got[i]["logprob_fp"]) == (n, lp), i
        assert got[i]["avg_logprob"] == lp / (n * LP_SCALE)
        assert abs(
            got[i]["perplexity"] - math.exp(-lp / (n * LP_SCALE))
        ) < 1e-9


def test_in_domain_beats_out_of_domain(spark):
    scored, _ = _spark_scored(spark)
    got = {r["doc_id"]: r["perplexity"] for r in scored.collect()}
    assert got[0] < got[3]  # training doc far more predictable than OOV doc


def test_empty_doc_scores_one_bigram(spark):
    scored, _ = _spark_scored(spark)
    row = scored.filter("doc_id = 4").collect()[0]
    assert row["n_bigrams"] == 1


# --------------------------------------------------------------------------
# Stupid Backoff trigram LM + CCNet buckets
# --------------------------------------------------------------------------

from web_crawler_spark.operators.lm import (  # noqa: E402
    backoff_score_docs,
    ccnet_buckets,
    ccnet_filter,
    train_backoff_lm,
)

SB_DOCS = [
    (0, "en", "the cat sat on the mat"),
    (1, "en", "the dog sat on the log"),
    (2, "en", "the cat ate the dog"),
    (3, "en", "the cat sat on the dog"),   # held out: trigram hits + (on,the,dog) bigram-backoff
    (4, "en", "quantum flux capacitors"),  # held out: OOV floor path
    (5, "en", ""),                         # empty: single (<s>,<s>)-></s> position
    (6, "fr", "le chat le chien le chat"),
    (7, "fr", "le chien le chat le chien"),
    (8, "fr", "le chat le chat le chien"),
]
SB_TRAIN = {0, 1, 2, 6, 7, 8}


def _py3_tokens(text):
    return ["<s>", "<s>"] + re.findall(r"[a-z0-9]+", text.lower()) + ["</s>"]


def _py3_model():
    tri, bi, uni = {}, {}, {}
    for i, _, t in SB_DOCS:
        if i not in SB_TRAIN:
            continue
        w = _py3_tokens(t)
        for a, b, c in zip(w, w[1:], w[2:]):
            tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
        for a, b in zip(w, w[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
        for a in w:
            uni[a] = uni.get(a, 0) + 1
    return tri, bi, uni


def _py3_score(text, tri, bi, uni, alpha=0.4):
    tv = float(sum(uni.values())) + float(len(uni))
    w = _py3_tokens(text)
    total = 0
    n = 0
    for a, b, c in zip(w, w[1:], w[2:]):
        if (a, b, c) in tri:
            s = tri[(a, b, c)] / float(bi[(a, b)])
        elif (b, c) in bi:
            s = alpha * (bi[(b, c)] / float(uni[b]))
        else:
            s = alpha * alpha * ((uni.get(c, 0) + 1) / tv)
        total += math.floor(math.log(s) * LP_SCALE)
        n += 1
    return n, total


def _sb_frames(spark):
    df = spark.createDataFrame(SB_DOCS, "doc_id int, lang string, text string")
    train = df.filter(df.doc_id.isin(list(SB_TRAIN)))
    return df, train


def test_backoff_matches_python_reference(spark):
    df, train = _sb_frames(spark)
    tri, bi, uni = train_backoff_lm(train)
    got = {
        r["doc_id"]: r
        for r in backoff_score_docs(df, tri, bi, uni).collect()
    }
    ptri, pbi, puni = _py3_model()
    for i, _, t in SB_DOCS:
        n, lp = _py3_score(t, ptri, pbi, puni)
        assert (got[i]["n_tokens"], got[i]["logprob_fp"]) == (n - 1, lp), i
        assert got[i]["log_ppl"] == -lp / (n * LP_SCALE)


def test_backoff_levels_are_exercised(spark):
    """The held-out fixture genuinely walks all three score levels."""
    ptri, pbi, puni = _py3_model()
    w3 = _py3_tokens(SB_DOCS[3][2])
    levels3 = set()
    for a, b, c in zip(w3, w3[1:], w3[2:]):
        levels3.add(
            "tri" if (a, b, c) in ptri else ("bi" if (b, c) in pbi else "oov")
        )
    assert "tri" in levels3 and "bi" in levels3
    w4 = _py3_tokens(SB_DOCS[4][2])
    assert any(
        (a, b, c) not in ptri and (b, c) not in pbi
        for a, b, c in zip(w4, w4[1:], w4[2:])
    )


def test_in_domain_scores_below_oov(spark):
    df, train = _sb_frames(spark)
    out = {r["doc_id"]: r["log_ppl"] for r in ccnet_filter(df, train).collect()}
    assert out[0] < out[4]


def test_ccnet_bucket_thirds_per_language(spark):
    df, train = _sb_frames(spark)
    res = ccnet_filter(df, train).collect()
    by_lang = {}
    for r in res:
        by_lang.setdefault(r["lang"], []).append(r)
    # en: 6 docs -> 2 per bucket; fr: 3 docs -> 1 per bucket
    for lang, rows in by_lang.items():
        n = len(rows)
        counts = {"head": 0, "middle": 0, "tail": 0}
        for r in rows:
            counts[r["ppl_bucket"]] += 1
        assert counts == {"head": n // 3, "middle": n // 3, "tail": n // 3}
        ordered = sorted(rows, key=lambda r: (r["log_ppl"], r["doc_id"]))
        seq = [r["ppl_bucket"] for r in ordered]
        assert seq == sorted(seq, key=["head", "middle", "tail"].index)


def test_ccnet_empty_doc_scores(spark):
    df, train = _sb_frames(spark)
    row = ccnet_filter(df, train).filter("doc_id = 5").collect()[0]
    assert row["n_tokens"] == 0 and row["ppl_bucket"] in {"head", "middle", "tail"}


def test_ccnet_buckets_rank_collision_safe(spark):
    """Identical texts tie on log_ppl; the doc_id tiebreak keeps the
    rank (and so the bucket split) deterministic."""
    rows = [(i, "en", "same text every time") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, text string")
    tri, bi, uni = train_backoff_lm(df)
    scored = backoff_score_docs(df, tri, bi, uni)
    out = sorted(
        (r["doc_id"], r["ppl_bucket"]) for r in ccnet_buckets(scored).collect()
    )
    assert [b for _, b in out] == ["head", "head", "middle", "middle", "tail", "tail"]
