"""DSIR importance-resampling tests (operators/dsir.py).

Semantics pinned here:
* weight_fp is an exact integer sum of cnt·lam_fp (verified against an
  independent pure-Python recomputation on a small corpus);
* documents matching the target distribution outweigh off-target ones;
* the Gumbel-top-k resample is deterministic and shifts the selected set
  toward the target distribution;
* the resample plan is TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

import hashlib
import math

import pytest

from web_crawler_spark.operators import dsir as D

N_BUCKETS = 64  # tiny bucket space exercises collisions


def _py_grams(text: str) -> list[str]:
    import re

    w = re.findall(r"[a-z0-9]+", text.lower())
    return w + [f"{a} {b}" for a, b in zip(w, w[1:])]


def _py_bucket(gram: str, n: int, salt: str = "dsir") -> int:
    h = hashlib.md5(f"{salt}:{gram}".encode()).hexdigest()
    return int(h[:4], 16) % n


def _py_weights(target: list[str], raw: list[str]) -> dict[int, int]:
    """doc index -> weight_fp, recomputed independently."""
    def feats(texts):
        out: list[dict[int, int]] = []
        for t in texts:
            d: dict[int, int] = {}
            for g in _py_grams(t):
                b = _py_bucket(g, N_BUCKETS)
                d[b] = d.get(b, 0) + 1
            out.append(d)
        return out

    raw_f = feats(raw)
    tgt_f = feats(target)
    t_cnt: dict[int, int] = {}
    r_cnt: dict[int, int] = {}
    for d in tgt_f:
        for b, c in d.items():
            t_cnt[b] = t_cnt.get(b, 0) + c
    for d in raw_f:
        for b, c in d.items():
            r_cnt[b] = r_cnt.get(b, 0) + c
    t_total, r_total = sum(t_cnt.values()), sum(r_cnt.values())

    def lam(b: int) -> int:
        lt = math.floor(
            math.log((t_cnt.get(b, 0) + 1.0) / (t_total + N_BUCKETS)) * D.FP
        )
        lr = math.floor(
            math.log((r_cnt.get(b, 0) + 1.0) / (r_total + N_BUCKETS)) * D.FP
        )
        return int(lt - lr)

    return {
        i: sum(c * lam(b) for b, c in d.items()) for i, d in enumerate(raw_f)
    }


TARGET = [
    "the quick brown fox jumps over the lazy dog",
    "quick foxes jump over lazy dogs every day",
    "a brown dog and a quick fox",
]
RAW = [
    "the quick brown fox jumps over the lazy dog",  # on-target
    "stock price index fell 3 points in trading",  # off-target
    "quick fox lazy dog brown fox quick dog",  # on-target vocab
    "quarterly earnings report shows revenue growth",  # off-target
    "",  # empty doc: zero features
]


@pytest.fixture(scope="module")
def frames(spark):
    raw = spark.createDataFrame(
        [(i, t) for i, t in enumerate(RAW)], ["doc_id", "text"]
    )
    tgt = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(TARGET)], ["doc_id", "text"]
    )
    return raw, tgt


def test_weights_match_independent_python(spark, frames):
    raw, tgt = frames
    feats = D.hashed_ngram_features(raw, n_buckets=N_BUCKETS)
    tfeats = D.hashed_ngram_features(tgt, n_buckets=N_BUCKETS)
    lam = D.fit_log_ratio(tfeats, feats, n_buckets=N_BUCKETS)
    got = {
        r["doc_id"]: r["weight_fp"]
        for r in D.dsir_weights(feats, lam).collect()
    }
    want = _py_weights(TARGET, RAW)
    # the empty doc has no features → no row (weight undefined, not 0)
    assert 4 not in got
    assert got == {i: w for i, w in want.items() if i != 4}


def test_on_target_docs_outweigh_off_target(spark, frames):
    raw, tgt = frames
    feats = D.hashed_ngram_features(raw, n_buckets=N_BUCKETS)
    tfeats = D.hashed_ngram_features(tgt, n_buckets=N_BUCKETS)
    lam = D.fit_log_ratio(tfeats, feats, n_buckets=N_BUCKETS)
    w = {
        r["doc_id"]: r["weight_fp"] / (r["n_feats"] * D.FP)
        for r in D.dsir_weights(feats, lam).collect()
    }
    # per-feature average log-ratio: fox/dog docs > finance docs
    assert min(w[0], w[2]) > max(w[1], w[3])


def test_resample_deterministic_and_plan_shape(spark, frames):
    raw, tgt = frames
    feats = D.hashed_ngram_features(raw, n_buckets=N_BUCKETS)
    tfeats = D.hashed_ngram_features(tgt, n_buckets=N_BUCKETS)
    lam = D.fit_log_ratio(tfeats, feats, n_buckets=N_BUCKETS)
    w = D.dsir_weights(feats, lam)
    pick = D.dsir_resample(w, k=2)
    ids1 = sorted(r["doc_id"] for r in pick.collect())
    ids2 = sorted(r["doc_id"] for r in D.dsir_resample(w, k=2).collect())
    assert ids1 == ids2  # pure function of (doc_id, salt)
    plan = pick._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_resample_prefers_heavy_weights(spark):
    # The DSIR regime: a raw corpus that is mostly off-target (10% fox
    # docs, 90% finance docs, equal length) and an on-target target set.
    # Per-gram log-ratios then split ~+0.4 vs ~-2.5, a ≥10-nat doc-level
    # gap — Gumbel(0,1) noise cannot bridge it, so top-k ≈ all fox.
    rows = [
        (i, "quick brown fox" if i % 10 == 0 else "revenue growth report")
        for i in range(200)
    ]
    raw = spark.createDataFrame(rows, ["doc_id", "text"])
    tgt = spark.createDataFrame([(9999, "quick brown fox")], ["doc_id", "text"])
    feats = D.hashed_ngram_features(raw, n_buckets=N_BUCKETS)
    tfeats = D.hashed_ngram_features(tgt, n_buckets=N_BUCKETS)
    lam = D.fit_log_ratio(tfeats, feats, n_buckets=N_BUCKETS)
    w = D.dsir_weights(feats, lam)
    picked = D.dsir_resample(w, k=15).collect()
    on_target = sum(1 for r in picked if r["doc_id"] % 10 == 0)
    assert on_target >= 14


def test_fallback_lambda_for_unseen_bucket(spark, frames):
    raw, tgt = frames
    feats = D.hashed_ngram_features(raw, n_buckets=N_BUCKETS)
    tfeats = D.hashed_ngram_features(tgt, n_buckets=N_BUCKETS)
    # score a NEW doc whose grams never appeared in the fitted corpus:
    # its buckets may miss the lam table → fallback constant applies
    other = spark.createDataFrame(
        [(7, "zzzz qqqq wwww xxxx")], ["doc_id", "text"]
    )
    ofeats = D.hashed_ngram_features(other, n_buckets=N_BUCKETS)
    lam = D.fit_log_ratio(tfeats, feats, n_buckets=N_BUCKETS)
    out = D.dsir_weights(ofeats, lam, fallback_lam_fp=-7).collect()
    assert len(out) == 1 and out[0]["weight_fp"] is not None
