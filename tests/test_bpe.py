"""BPE tokenizer (functions/bpe.py): deterministic training on the classic
Sennrich example, open-vocabulary encoding, Spark-stage/pure-Python parity,
and exact-token corpus mixing via corpus_mix(token_counter='bpe')."""

from pyspark.sql import functions as F

from web_crawler_spark.functions import bpe as B
from web_crawler_spark.operators import corpus as C


def test_train_bpe_classic_example():
    # Sennrich et al. 2016 fig. 1 corpus: low/lower/newest/widest family.
    corpus = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    merges = B.train_bpe([" ".join(corpus)], 10)
    # the 9-count pair family ((e,s)/(s,t)/(t,</w>) all tie) merges first —
    # tie-break is lexicographic-max, so (t,</w>) leads, then the est</w>
    # unit assembles; the trained vocab must compress the est-family
    assert merges[0] == ("t", "</w>")
    assert ("e", "st</w>") in merges[:3]
    # frequent words compress to single tokens; "lowest" (unseen) splits
    # into the learned subwords low + est</w>
    assert B.encode("newest", merges) == ["newest</w>"]
    assert B.encode("low", merges) == ["low</w>"]
    assert B.encode("lowest", merges) == ["low", "est</w>"]
    # unseen word, seen subwords: open vocabulary still tokenizes it
    toks = B.encode("lowest", merges)
    assert "".join(toks).replace("</w>", "") == "lowest"


def test_train_deterministic_and_committed_vocab_stable():
    m1 = B.train_bpe(["the cat sat on the mat the cat ran"], 50)
    m2 = B.train_bpe(["the cat sat on the mat the cat ran"], 50)
    assert m1 == m2
    # committed vocab: non-empty, reproducible from the embedded corpus
    assert len(B.DEFAULT_MERGES) > 50
    assert B.DEFAULT_MERGES == B.train_bpe([" ".join(B._SEED_CORPUS)], 200)


def test_encode_roundtrip_and_oov():
    for text in [
        "the quick brown fox",
        "Zzyzx qwrtp 12345 !!!",  # OOV words + digits + punct
        "HTTP servers serve pages",
    ]:
        toks = B.encode(text)
        # lossless under the regex pre-split: concatenation restores the
        # lowercased split tokens
        joined = "".join(toks).replace("</w>", "")
        import re

        expect = "".join(re.findall(B.BPE_ISH_PATTERN, text.lower()))
        assert joined == expect
    assert B.token_count_py("") == 0
    # subword compression: common words take fewer tokens than chars
    assert B.token_count_py("the and the and the") < len("theandtheandthe")


def test_bpe_count_stage_parity(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "Zzyzx qwrtp!"),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.n_tokens for r in B.bpe_count_stage(df).collect()}
    for doc_id, text in rows:
        assert got[doc_id] == (B.token_count_py(text) if text is not None else 0)


def test_corpus_mix_bpe_counter(spark):
    rows = [(i, "A", "the quick brown fox jumps over the lazy dog") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    per_doc = B.token_count_py(rows[0][2])
    budgets = spark.createDataFrame(
        [("A", int(per_doc * 2.5))], ["source", "token_budget"]
    )
    mix = C.corpus_mix(df, budgets, token_counter="bpe").collect()
    # greedy cut in BPE units: 2 full docs fit, the 3rd starts under budget
    assert len(mix) == 3
    assert all(r.n_tokens == per_doc for r in mix)
    try:
        C.corpus_mix(df, budgets, token_counter="nope")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
