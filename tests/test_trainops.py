"""Training-data pipeline operators: dedup families, similarity search,
text analysis, multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.functions import text as T
from web_crawler_spark.functions import vectors as V
from web_crawler_spark.operators import dedup as D
from web_crawler_spark.operators import similarity as SIM

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog today"),
    (1, "the quick brown fox jumps over the lazy dog yesterday"),  # near-dup of 0
    (2, "completely different text about spark and data engines"),
    (3, "the quick brown fox jumps over the lazy dog today"),      # exact dup of 0
    (4, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    out = D.exact_dedup(docs)
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 3 not in ids  # survivor = min id
    assert ids == {0, 1, 2, 4}


def test_ngram_jaccard_finds_neardups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0
    assert not any(2 in p for p in pairs)


def test_minhash_lsh_agrees_with_exact_on_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(docs, n=3, k=16, bands=8, threshold=0.5).collect()}
    assert (0, 3) in pairs  # identical docs always share every band
    assert not any(2 in p for p in pairs)


def test_simhash_hamming(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_dedup_pairs(docs, max_hamming=10).collect()}
    assert pairs.get((0, 3)) == 0  # exact dups → distance 0
    assert (0, 2) not in pairs


def ref_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def test_cosine_topk_exact(spark):
    import random

    rng = random.Random(9)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = vecs[0][1]
    got = SIM.cosine_topk(df, q, k=5).collect()
    # brute-force python oracle (float32 storage → compare on rounding)
    import numpy as np

    stored = [(i, np.array(v, dtype=np.float32).tolist()) for i, v in vecs]
    want = sorted(
        ((i, round(ref_cosine(v, q), 6)) for i, v in stored),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (i, pytest.approx(c, abs=2e-6)) for i, c in want
    ]
    assert got[0]["vec_id"] == 0 and got[0]["cosine"] == pytest.approx(1.0)


def test_lsh_topk_recall(spark):
    import random

    rng = random.Random(11)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(500)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>").cache()
    q = vecs[3][1]
    exact = [r["vec_id"] for r in SIM.cosine_topk(df, q, k=10).collect()]
    approx = [r["vec_id"] for r in SIM.lsh_topk(df, q, k=10, n_planes=3).collect()]
    # self-match always lands in the query's own bucket; recall is
    # statistical (16-dim gaussians, 8 buckets, rank-1 multiprobe → ~half
    # the space probed) — require a weak floor only
    assert exact[0] == 3 and approx[0] == 3
    assert len(set(exact) & set(approx)) >= 4


def test_ivf_topk_recall_and_shuffle_free_assignment(spark):
    import random

    rng = random.Random(13)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(400)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>").cache()
    q = vecs[7][1]
    exact = [r["vec_id"] for r in SIM.cosine_topk(df, q, k=10).collect()]
    res = SIM.ivf_topk(df, q, k=10, n_centroids=8, n_probe=4)
    approx = [r["vec_id"] for r in res.collect()]
    assert approx[0] == 7                      # self-match survives probing
    assert len(set(exact) & set(approx)) >= 4  # statistical recall floor
    # the scale contract: centroid assignment is an argmin EXPRESSION —
    # no join, no Exchange anywhere in the physical plan (the only plan
    # nodes besides the scan are project/filter/top-k)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_ivf_topk_empty_input(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert SIM.ivf_topk(df, [0.0] * 4, k=5).collect() == []


def test_auto_n_planes_scales_with_corpus():
    assert SIM.auto_n_planes(1_000) == 6          # floor
    assert SIM.auto_n_planes(1_000_000) == 12     # ~256/bucket
    assert SIM.auto_n_planes(10_000_000_000) == 26
    # bucket population n / 2^planes stays bounded as n grows
    for n in (10**6, 10**8, 10**10):
        assert n / 2 ** SIM.auto_n_planes(n) <= 512


def test_pairwise_cosine_dedup_bucketed(spark):
    # two exact dup pairs + noise; LSH-bucketed candidates must find both
    # (identical vectors always share a bucket)
    import random

    rng = random.Random(17)
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(30)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(100, base[4]), (101, base[9])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in SIM.pairwise_cosine_dedup(df, threshold=0.999).collect()
    }
    assert (4, 100) in pairs and (9, 101) in pairs


def test_pairwise_cosine_dedup_bucket_cap(spark):
    # 60 identical vectors = one degenerate bucket → cap drops it entirely
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(60)]
    rows += [(200, [0.0, 1.0, 0.0, 0.0]), (201, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = SIM.pairwise_cosine_dedup(
        df, threshold=0.999, n_planes=6, max_bucket=10
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (200, 201) in got                       # small bucket intact
    assert all(a >= 200 for a, _ in got), got      # hot bucket dropped
    # without the cap the hot bucket contributes 60*59/2 pairs
    uncapped = SIM.pairwise_cosine_dedup(df, threshold=0.999, n_planes=6).count()
    assert uncapped == 60 * 59 // 2 + 1


def test_ngram_jaccard_df_cap(spark):
    # every doc shares one hot shingle ('common word seq'); distinct tails.
    # With max_df, the hot gram is dropped: candidate pairs collapse to the
    # genuinely-similar pair only.
    docs = [(i, f"common word seq tail{i} x{i} y{i}") for i in range(40)]
    docs += [(100, "common word seq tail1 x1 z"), ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = D.ngram_jaccard_pairs(df, threshold=0.2, max_df=5)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(1, 100)}, got
    # candidate explosion bound: the inverted-index join after the cap
    # carries no gram with df>5, so join fan-out ≤ C(5,2) per gram
    uncapped_pairs = D.ngram_jaccard_pairs(df, threshold=0.0).count()
    assert uncapped_pairs == 41 * 40 // 2  # hot shingle joins everything


def test_corpus_quality_operators(spark):
    """Gopher flags / repetition / chunk dedup on hand-computed fixtures."""
    from web_crawler_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [
            (1, " ".join(["word"] * 30 + [f"tok{i}" for i in range(30)])),  # 60 words
            (2, "a b c"),                                # too short, thin words
            (3, " ".join(f"w{i}" for i in range(50))),   # 50 distinct 2-3 char words
            (4, ""),
        ],
        "doc_id long, text string",
    )
    g = {r["doc_id"]: r for r in C.gopher_quality(docs).collect()}
    assert g[1]["n_words"] == 60 and g[1]["flag_word_count"]
    assert g[1]["flag_alpha_ratio"] and g[1]["flag_mean_len"] and g[1]["flag_pass"]
    assert g[2]["n_words"] == 3 and not g[2]["flag_word_count"]
    assert not g[2]["flag_mean_len"]          # mean len 1 < 3
    assert g[4]["n_words"] == 0 and not g[4]["flag_pass"]

    r = {x["doc_id"]: x for x in C.top_unigram_stats(docs).collect()}
    assert r[1]["top_word"] == "word" and r[1]["top_count"] == 30
    assert r[1]["flag_repetitive"]            # 30/60 = 50% ≥ 10%
    assert r[3]["top_count"] == 1 and not r[3]["flag_repetitive"]  # 1/50 < 10%
    assert r[3]["top_word"] == "w0"           # lexicographic tiebreak
    assert 4 not in r                         # empty doc → no tokens

    # doc 10 repeats doc 1's text → all its chunks are dups; doc 11 novel
    cd_docs = spark.createDataFrame(
        [
            (1, " ".join(f"c{i}" for i in range(45))),   # 3 chunks (20/20/5)
            (10, " ".join(f"c{i}" for i in range(45))),
            (11, " ".join(f"n{i}" for i in range(25))),  # 2 chunks
        ],
        "doc_id long, text string",
    )
    cd = {x["doc_id"]: x for x in C.chunk_dedup_stats(cd_docs).collect()}
    assert cd[1]["n_chunks"] == 3 and cd[1]["n_dup_chunks"] == 0
    assert cd[10]["n_chunks"] == 3 and cd[10]["n_dup_chunks"] == 3
    assert cd[11]["n_chunks"] == 2 and cd[11]["n_dup_chunks"] == 0


def test_simhash_stage_matches_column_formulation(spark):
    """The one-pass numpy vote kernel is bit-identical to the pure-Column
    simhash64 (tokens+xxhash64 stay JVM-side; only the 64 vote passes
    collapse), including empty/null/repeated-token rows."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, None),
        (4, "a b a b a"),
        (5, "单 字 token mix 123 !?"),
    ] + [(10 + i, f"doc body {i} common words shared tail") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["simhash"] for r in D.simhash_stage(df).collect()}
    want = {
        r["id"]: r["simhash"]
        for r in df.select(
            F.col("doc_id").alias("id"), T.simhash64(F.col("text")).alias("simhash")
        ).collect()
    }
    assert got == want


def test_bloom_sizing_from_lineage(spark):
    # auto-sized bloom keeps fpp low when the seen set outgrows the old
    # fixed default's comfort zone; property: measured fpp < 5%
    from web_crawler_spark.operators.dedup import (
        bloom_filter_stage,
        bloom_size_bits,
        build_bloom,
    )

    assert bloom_size_bits(1_000_000) == 1 << 24
    assert bloom_size_bits(10_000_000) == 1 << 27
    assert bloom_size_bits(100) == 1 << 23          # floor
    assert bloom_size_bits(10**10) == 1 << 30       # cap = per-bucket handoff
    seen = spark.range(200_000).select(F.xxhash64("id").alias("url_hash"))
    bloom = build_bloom(seen)
    fresh = (
        spark.range(300_000, 350_000)
        .select(F.xxhash64("id").alias("url_hash"))
    )
    hits = bloom_filter_stage(fresh, bloom).filter(F.col("might_be_seen")).count()
    assert hits / 50_000 < 0.05, hits


def test_token_counts(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("one-two 3",)], "text string")
    rows = df.select(
        T.token_count(F.col("text")).alias("n"),
        T.bpe_ish_token_count(F.col("text")).alias("b"),
    ).collect()
    assert [r["n"] for r in rows] == [3, 0, 2]
    # 'one-two 3' → [one][-][two][3]
    assert [r["b"] for r in rows] == [3, 0, 4]


def test_langid_stopwords(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog in the house",),
            ("der hund und die katze ist nicht da",),
            ("le chat et la maison est un lieu",),
            ("xyzzy qwerty asdf",),
        ],
        "text string",
    )
    got = [r["l"] for r in df.select(T.detect_language(F.col("text")).alias("l")).collect()]
    assert got == ["en", "de", "fr", "unknown"]


def test_langid_script_detection(spark):
    """CJK/kana/hangul text is identified by script ratio (stopwords can't
    see unsegmented text); mixed mostly-Latin text falls through to the
    stopword argmax; kana beats kanji for Japanese."""
    rows = [
        (1, "这是一个中文句子没有空格也可以识别"),
        (2, "これは日本語の文章ですカタカナもある"),       # kana + kanji → ja
        (3, "한국어 문장은 한글로 씁니다"),
        (4, "the price of gold is down and that is that"),
        (5, "il prezzo che non sono per una con di"),       # it stopwords
        (6, "o preço para um não mais com em os as"),       # pt stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["lang"]
        for r in df.select("doc_id", T.detect_language(F.col("text")).alias("lang")).collect()
    }
    assert got == {1: "zh", 2: "ja", 3: "ko", 4: "en", 5: "it", 6: "pt"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello,  World!",), ("hello world",)], "text string"
    )
    fps = [r["f"] for r in df.select(T.content_fingerprint(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[1]


def test_dataset_split_deterministic_and_leak_free(spark):
    from pyspark.sql import functions as F

    from web_crawler_spark.functions import sampling as SP

    d = spark.range(0, 5000).select(F.col("id").alias("doc_id"))
    s1 = SP.dataset_split(d, "doc_id", train=0.8, val=0.1)
    s2 = SP.dataset_split(d, "doc_id", train=0.8, val=0.1)
    # identical membership on re-run (no rand())
    assert s1.exceptAll(s2).count() == 0
    counts = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # hash-percentile fractions are approximate at finite n, exact over buckets
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.02


def test_pii_scrub_and_contamination(spark):
    from pyspark.sql import functions as F

    from web_crawler_spark.functions import text as T

    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@corp.example.org end",),
            ("call +44 020-555-1234 now",),
            ("host 192.168.0.1 up, not 1234.5 or a.b.c.d",),
            ("clean text stays untouched",),
        ],
        "t string",
    )
    got = [r["s"] for r in df.select(T.scrub_pii(F.col("t")).alias("s")).collect()]
    assert got[0] == "mail <EMAIL> end"
    assert got[1] == "call <PHONE> now"
    assert got[2] == "host <IPV4> up, not 1234.5 or a.b.c.d"
    assert got[3] == "clean text stays untouched"

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight again"),
            (2, "completely unrelated words about markets and gold prices today ok"),
            (3, "we saw the quick brown fox jumps over the lazy dog tonight too"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("benchmark says the quick brown fox jumps over the lazy dog tonight",)],
        "text string",
    )
    hit = sorted(
        r["doc_id"] for r in T.contaminated_doc_ids(docs, bench, n=8).collect()
    )
    assert hit == [1, 3]  # doc 2 shares no 8-gram with the benchmark


def test_dedup_clusters_known_graph(spark):
    # components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {5,9}, singletons via docs
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 3), (9, 5)], ["id_a", "id_b"]
    )
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 7, 9)], ["doc_id"])
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in D.dedup_clusters(pairs, docs=docs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 7: (1, False),
        4: (4, True), 5: (5, True), 9: (5, False),
    }


def test_dedup_clusters_long_chain_converges(spark):
    # a 12-node path needs multiple propagation rounds (diameter > 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
    )
    got = D.dedup_clusters(pairs).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert sum(r["is_canonical"] for r in got) == 1


def test_keep_canonical_collapses_components(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5), (1, 4)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in D.keep_canonical(docs, pairs).collect())
    assert kept == [0, 1, 2]


def test_inverted_index_and_term_stats(spark):
    from web_crawler_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "b b d"), (2, "A  a")], ["doc_id", "text"]
    )
    postings = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in C.inverted_index(docs).collect()
    }
    assert postings == {
        ("a", 0): 2, ("b", 0): 1, ("c", 0): 1,
        ("b", 1): 2, ("d", 1): 1, ("a", 2): 2,
    }
    stats = {r["term"]: (r["df"], r["cf"]) for r in C.term_stats(docs).collect()}
    assert stats == {"a": (2, 4), "b": (2, 3), "c": (1, 1), "d": (1, 1)}


def test_bm25_matches_python_reference(spark):
    import math

    from web_crawler_spark.operators import corpus as C

    corpus = [
        (0, "spark join window join"),
        (1, "table scan spark"),
        (2, "window window window group"),
        (3, "filter sort order"),
    ]
    terms, k1, b = ["spark", "window"], 1.2, 0.75
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])

    toks = [t.split() for _, t in corpus]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    want = []
    for (did, _), tk in zip(corpus, toks):
        s = 0.0
        for term in terms:
            tf = tk.count(term)
            df = sum(1 for t2 in toks if term in t2)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(tk) / avgdl))
        if s > 0:
            want.append((did, round(s, 6)))
    want.sort(key=lambda t: (-t[1], t[0]))

    got = [
        (r["doc_id"], r["score"])
        for r in C.bm25_topk(docs, terms, k=10, k1=k1, b=b).collect()
    ]
    assert got == want


def test_dedup_clusters_matches_union_find_property(spark):
    """Random pair graphs: min-label propagation == union-find reference."""
    import random

    def union_find_labels(pairs, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = min node id in the component
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        return {n: min(members) for members in comp.values() for n in members}

    rng = random.Random(13)
    for trial in range(4):
        n_nodes = rng.randint(5, 40)
        nodes = list(range(n_nodes))
        n_pairs = rng.randint(0, n_nodes * 2)
        pairs = [
            tuple(rng.sample(nodes, 2)) for _ in range(n_pairs)
        ]
        docs = spark.createDataFrame([(n,) for n in nodes], ["doc_id"])
        if pairs:
            pdf = spark.createDataFrame(pairs, ["id_a", "id_b"])
        else:
            pdf = spark.createDataFrame([], "id_a int, id_b int")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in D.dedup_clusters(pdf, docs=docs).collect()
        }
        want = union_find_labels(pairs, nodes)
        assert got == want, (trial, pairs)


def test_star_contraction_matches_label_propagation(spark):
    """algorithm='star' (large-star/small-star) == union-find on random
    graphs + the adversarial chain where propagation needs diameter
    rounds: a 60-node path resolves within the default 25-round budget
    because contraction is O(log^2 n), not O(diameter)."""
    import random

    # adversarial chain, diameter 59 > max_iters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["id_a", "id_b"]
    )
    got = D.dedup_clusters(pairs, algorithm="star").collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == 60 and sum(r["is_canonical"] for r in got) == 1
    assert D.LAST_CLUSTER_STATS["converged"] is True
    assert D.LAST_CLUSTER_STATS["rounds"] <= 8

    rng = random.Random(29)
    for trial in range(3):
        nodes = list(range(rng.randint(5, 30)))
        pairs = [
            tuple(rng.sample(nodes, 2))
            for _ in range(rng.randint(0, len(nodes) * 2))
        ]
        docs = spark.createDataFrame([(n,) for n in nodes], ["doc_id"])
        pdf = (
            spark.createDataFrame(pairs, ["id_a", "id_b"])
            if pairs
            else spark.createDataFrame([], "id_a int, id_b int")
        )
        lab = {
            r["doc_id"]: r["cluster_id"]
            for r in D.dedup_clusters(pdf, docs=docs).collect()
        }
        star = {
            r["doc_id"]: r["cluster_id"]
            for r in D.dedup_clusters(pdf, docs=docs, algorithm="star").collect()
        }
        assert star == lab, (trial, pairs)


def test_positional_index_and_phrase_match(spark):
    from web_crawler_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [
            (1, "big table scan is slow but table scan wins here"),
            (2, "table without the phrase scan table"),
            (3, "Table SCAN capitalized"),             # case-folded match
            (4, "scan table reversed order"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    idx = {(r["term"], r["doc_id"]): r
           for r in C.positional_index(docs).collect()}
    assert idx[("table", 1)]["positions"] == [1, 6] and idx[("table", 1)]["tf"] == 2
    assert idx[("scan", 4)]["positions"] == [0]

    got = {r["doc_id"]: r["n_occurrences"]
           for r in C.phrase_match(docs, "table scan").collect()}
    assert got == {1: 2, 3: 1}

    # 3-term phrase and a repeated-term phrase
    got3 = {r["doc_id"]: r["n_occurrences"]
            for r in C.phrase_match(docs, "big table scan").collect()}
    assert got3 == {1: 1}
    rep = spark.createDataFrame([(9, "go go go stop go go")],
                                "doc_id long, text string")
    got_rep = {r["doc_id"]: r["n_occurrences"]
               for r in C.phrase_match(rep, "go go").collect()}
    assert got_rep == {9: 3}  # overlapping starts 0, 1, and 4 all count

    # empty phrase -> empty result frame with the contract schema
    empty = C.phrase_match(docs, "   ")
    assert empty.columns == ["doc_id", "n_occurrences"] and empty.count() == 0


def test_mirror_candidates(spark):
    """Full mirror detected at overlap 1.0; partial overlap respects the
    threshold; the boilerplate-fp cap keeps a universal error page from
    pairing unrelated hosts."""
    from web_crawler_spark.operators import dedup as D

    rows = []
    for i in range(10):
        rows += [("h-a", f"fp{i}"), ("h-b", f"fp{i}")]       # full mirror
    rows += [("h-c", f"fp{i}") for i in range(5)]            # half of h-a
    rows += [("h-c", f"other{i}") for i in range(5)]
    rows += [("h-d", f"unique{i}") for i in range(10)]       # disjoint
    # universal boilerplate fp on every host (404 template)
    for h in ("h-a", "h-b", "h-c", "h-d"):
        rows.append((h, "boiler"))
    pages = spark.createDataFrame(rows, "host string, fingerprint string")

    got = {(r["host_a"], r["host_b"]): r
           for r in D.mirror_candidates(pages, max_fp_hosts=3).collect()}
    assert got[("h-a", "h-b")]["overlap"] == 1.0
    assert got[("h-a", "h-b")]["shared"] == 10        # boiler fp excluded
    assert got[("h-a", "h-c")]["overlap"] == 0.5
    assert ("h-a", "h-d") not in got                  # boiler alone can't pair
    assert all("h-d" not in k for k in got)

    # raising the cap lets the boilerplate fp through -> h-d pairs appear
    loose = D.mirror_candidates(pages, max_fp_hosts=10, min_shared=1,
                                min_overlap=0.0).collect()
    assert any("h-d" in (r["host_a"], r["host_b"]) for r in loose)


def test_merge_postings_equals_rebuild(spark):
    from web_crawler_spark.operators import corpus as C

    orig = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "c d"), (4, "d e")],
        "doc_id long, text string",
    )
    changed = spark.createDataFrame(
        [(2, "b c changed"), (9, "brand new doc")], "doc_id long, text string"
    )
    removed = spark.createDataFrame([(3,)], "doc_id long")
    merged = C.merge_postings(C.inverted_index(orig), changed, removed)

    updated = spark.createDataFrame(
        [(1, "a b a"), (2, "b c changed"), (4, "d e"), (9, "brand new doc")],
        "doc_id long, text string",
    )
    want = C.inverted_index(updated)
    key = lambda r: (r["term"], r["doc_id"], r["tf"])
    assert sorted(map(key, merged.collect())) == sorted(map(key, want.collect()))


def test_proximity_match(spark):
    from web_crawler_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [
            (1, "table big scan"),                      # within 2
            (2, "table a b c d e f g h scan"),          # distance 9: out at w=3
            (3, "scan then soon table"),                # order-free, distance 3
            (4, "no anchor term here"),
            (5, "table alone no second term"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_anchors"]
           for r in C.proximity_match(docs, ["table", "scan"], window=3).collect()}
    assert got == {1: 1, 3: 1}
    wide = {r["doc_id"]: r["n_anchors"]
            for r in C.proximity_match(docs, ["table", "scan"], window=20).collect()}
    assert set(wide) == {1, 2, 3}


def test_ngram_containment_directional(spark):
    from web_crawler_spark.operators import dedup as D

    full = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    excerpt = "alpha beta gamma delta epsilon zeta eta theta"  # 8-word prefix
    docs = spark.createDataFrame(
        [(1, full), (2, excerpt), (3, "totally different words here now ok yes")],
        "doc_id long, text string",
    )
    got = {(r["id_contained"], r["id_container"]): r["containment"]
           for r in D.ngram_containment_pairs(docs, n=5, threshold=0.9).collect()}
    assert got == {(2, 1): 1.0}   # excerpt fully inside full; NOT (1,2)


def test_nfc_stage(spark):
    from web_crawler_spark.functions import text as T

    df = spark.createDataFrame(
        [(1, "café"), (2, "café"), (3, None), (4, "plain")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in T.nfc_stage(df, "text").collect()}
    assert got[1] == "café" == got[2]      # decomposed composes; composed unchanged
    assert len(got[1]) == 4          # e+U+0301 (2 cps) became U+00E9 (1 cp)
    assert got[3] is None and got[4] == "plain"


def test_snippets_kwic(spark):
    from web_crawler_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [
            (1, "aa bb table cc dd ee ff gg hh scan table jj kk ll"),
            (2, "no query words at all in here"),
            (3, "table starts the doc"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           C.snippets(docs, ["table", "scan"], width=2).collect()}
    assert set(got) == {1, 3}
    # doc 1: hits at 2, 9, 10; densest window is around 9 or 10 (2 hits);
    # earliest dense anchor is 9 -> window tokens 7..11, hits bracketed
    assert got[1]["n_hits"] == 3
    assert got[1]["snippet"] == "... gg hh [scan] [table] jj ..."
    # doc 3: hit at 0, window clipped at the left edge — no leading
    # ellipsis, but 'doc' (token 3) sits past the window -> trailing one
    assert got[3]["snippet"] == "[table] starts the ..."


def test_image_header_decode_real_formats(spark):
    from web_crawler_spark.multimodal.binaryops import (
        gif_bytes,
        image_dimensions,
        jpeg_bytes,
        parse_image_dims,
        png_bytes,
    )

    rows = [("u1", png_bytes(320, 200)), ("u2", gif_bytes(2, 3)),
            ("u3", jpeg_bytes(1024, 768)), ("u4", b"not an image"),
            ("u5", None), ("u6", png_bytes(1, 1))]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in image_dimensions(df).collect()}
    assert (got["u1"]["format"], got["u1"]["width"], got["u1"]["height"]) == \
        ("png", 320, 200)
    assert (got["u2"]["width"], got["u2"]["height"]) == (2, 3)
    assert (got["u3"]["format"], got["u3"]["width"], got["u3"]["height"]) == \
        ("jpeg", 1024, 768)
    assert got["u4"]["format"] == "unknown" and got["u4"]["width"] is None
    assert got["u5"]["format"] == "unknown"
    assert (got["u6"]["width"], got["u6"]["height"]) == (1, 1)
    # the PNG builder emits a file a strict decoder accepts (valid CRCs)
    import zlib
    b = png_bytes(5, 4)
    ihdr_crc = int.from_bytes(b[29:33], "big")
    assert ihdr_crc == zlib.crc32(b[12:29]) & 0xFFFFFFFF
    # truncated JPEG (SOI+EOI, no SOF) degrades to (jpeg, None, None)
    assert parse_image_dims(b"\xff\xd8\xff\xd9") == ("jpeg", None, None)


def test_wav_header_decode(spark):
    from web_crawler_spark.multimodal.binaryops import (
        audio_metadata,
        parse_wav_meta,
        wav_bytes,
    )

    rows = [("a1", wav_bytes(2, 44100, 16, 441)),
            ("a2", wav_bytes(1, 8000, 8, 5)),
            ("a3", b"RIFF\x10\x00\x00\x00AVI LIST"),   # RIFF but not WAVE
            ("a4", None)]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in audio_metadata(df).collect()}
    a1 = got["a1"]
    assert (a1["format"], a1["channels"], a1["sample_rate"],
            a1["bits_per_sample"], a1["n_frames"]) == ("wav", 2, 44100, 16, 441)
    assert got["a2"]["n_frames"] == 5
    assert got["a3"]["format"] == "unknown"
    assert got["a4"]["format"] == "unknown" and got["a4"]["channels"] is None
    # odd-sized chunk padding honored by the chunk walk
    blob = wav_bytes(1, 8000, 8, 3)  # 3-byte data chunk -> pad byte
    assert parse_wav_meta(blob + b"")[4] == 3


def test_mp4_header_decode(spark):
    import struct

    from web_crawler_spark.multimodal.binaryops import (
        mp4_bytes,
        parse_mp4_meta,
        video_metadata,
    )

    rows = [("v1", mp4_bytes(600, 1500, 320, 180)),
            ("v2", mp4_bytes(1000, 90_000, 1920, 1080, n_tracks=3)),
            ("v3", b"\x00\x00\x00\x08ftyp"),           # truncated ftyp
            ("v4", b"not a video at all"),
            ("v5", None)]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in video_metadata(df).collect()}
    v1 = got["v1"]
    assert (v1["format"], v1["brand"], v1["timescale"], v1["duration_ms"],
            v1["width"], v1["height"], v1["n_tracks"]) == (
        "mp4", "isom", 600, 2500, 320, 180, 1)
    v2 = got["v2"]
    assert (v2["duration_ms"], v2["width"], v2["n_tracks"]) == (90_000, 1920, 3)
    assert got["v3"]["format"] == "unknown"
    assert got["v4"]["format"] == "unknown"
    assert got["v5"]["format"] == "unknown" and got["v5"]["width"] is None
    # mvhd version-1 layout (64-bit duration) parses too
    mvhd_v1 = (b"\x01" + bytes(3) + bytes(16)
               + struct.pack(">IQ", 24_000, 48_000_000))
    def box(t, p):
        return struct.pack(">I", 8 + len(p)) + t + p
    blob = (box(b"ftyp", b"mp42" + bytes(4) + b"mp42")
            + box(b"moov", box(b"mvhd", mvhd_v1 + bytes(60))))
    fmt, brand, ts, dms, w, h, nt = parse_mp4_meta(blob)
    assert (fmt, brand, ts, dms, nt) == ("mp4", "mp42", 24_000, 2_000_000, 0)
    # size==0 (box extends to EOF) accepted on the trailing box
    moov_payload = box(b"mvhd", mvhd_v1 + bytes(60))
    blob_eof = (box(b"ftyp", b"mp42" + bytes(4) + b"mp42")
                + b"\x00\x00\x00\x00moov" + moov_payload)
    assert parse_mp4_meta(blob_eof)[2] == 24_000


def test_int8_quantization_roundtrip_and_edge(spark):
    import math

    import pyspark.sql.functions as F

    from web_crawler_spark.functions import vectors as V

    rows = [
        (1, [1.0, -0.5, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),       # zero vector -> scale 0, codes 0
        (3, [0.001, 0.002, -0.003, 127.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    scale, codes = V.quantize_int8(F.col("v"))
    got = {r["vec_id"]: (r["s"], r["c"]) for r in
           df.select("vec_id", scale.alias("s"), codes.alias("c")).collect()}
    s1, c1 = got[1]
    assert abs(s1 - 1.0 / 127.0) < 1e-12 and c1 == [127, -64, 32, 0]
    assert got[2] == (0.0, [0, 0, 0, 0])
    assert got[3][1][3] == 127 and max(abs(x) for x in got[3][1]) <= 127
    # dequantized cosine within 1% of exact for a realistic vector pair
    a = [math.sin(i / 7.0) for i in range(64)]
    b = [math.cos(i / 9.0) for i in range(64)]
    df2 = spark.createDataFrame([(1, a, b)], "id long, a array<float>, b array<float>")
    sa, ca = V.quantize_int8(F.col("a"))
    sb, cb = V.quantize_int8(F.col("b"))
    row = df2.select(
        V.dequant_dot(sa, ca, sb, cb).alias("qdot"),
        V.dot(F.col("a"), F.col("b")).alias("dot"),
        (V.norm(F.col("a")) * V.norm(F.col("b"))).alias("nn"),
    ).collect()[0]
    assert abs(row["qdot"] / row["nn"] - row["dot"] / row["nn"]) < 0.01


def test_invisible_char_hygiene(spark):
    import pyspark.sql.functions as F

    from web_crawler_spark.functions.text import invisible_count, strip_invisible

    rows = [
        (1, "cle​an‍ text﻿"),     # ZWSP, ZWJ, BOM
        (2, "bi‮di‬ attack"),          # RLO + PDF(202C outside class? no: 202C IS in 202A-202E)
        (3, "plain ascii"),
        (4, "soft­hyphen"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["clean"], r["n"]) for r in df.select(
        "doc_id",
        strip_invisible(F.col("text")).alias("clean"),
        invisible_count(F.col("text")).alias("n"),
    ).collect()}
    assert got[1] == ("clean text", 3)
    assert got[2] == ("bidi attack", 2)
    assert got[3] == ("plain ascii", 0)
    assert got[4] == ("softhyphen", 1)


def test_gopher_stopword_gate(spark):
    import pyspark.sql.functions as F

    from web_crawler_spark.functions.text import gopher_stopword_flag

    rows = [
        (1, "The cat sat of the mat and slept"),   # the, of, and -> 3
        (2, "buy cheap pills now discount sale"),  # 0
        (3, "to be or not to be"),                 # to, be -> 2
        (4, "THE THE THE THE"),                    # distinct -> only 'the' = 1
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["s"]["n_stop_present"], r["s"]["flag_stopwords"])
           for r in df.select("doc_id", gopher_stopword_flag(F.col("text")).alias("s")).collect()}
    assert got == {1: (3, True), 2: (0, False), 3: (2, True),
                   4: (1, False), 5: (0, False)}


def test_passage_windows(spark):
    from web_crawler_spark.operators.corpus import passage_windows

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, ""), (3, "   "), (4, "solo")],
        ["doc_id", "text"],
    )
    out = [
        tuple(r)
        for r in passage_windows(df, window_tokens=3, stride=2)
        .orderBy("doc_id", "passage_id")
        .collect()
    ]
    assert out == [
        (1, 0, 0, 3, "a b c"),
        (1, 1, 2, 3, "c d e"),
        (1, 2, 4, 3, "e f g"),
        (1, 3, 6, 1, "g"),
        (4, 0, 0, 1, "solo"),
    ]
    # every token position is covered by at least one passage and
    # overlap never exceeds window - stride
    big = spark.createDataFrame([(9, " ".join(f"t{i}" for i in range(57)))],
                                ["doc_id", "text"])
    rows = passage_windows(big, window_tokens=16, stride=10).collect()
    covered = set()
    for r in rows:
        covered.update(range(r.start_tok, r.start_tok + r.n_tokens))
    assert covered == set(range(57))


def test_audio_features_real_pcm_decode(spark):
    """audio_features decodes actual PCM bytes: features equal an
    independent pure-Python decode; stereo/8-bit/corrupt payloads
    null-route; hand-built square wave pins zero crossings exactly."""
    import struct

    from web_crawler_spark.multimodal.binaryops import (
        audio_features,
        wav_bytes,
        wav_pcm_bytes,
    )

    # hand square wave: +1000 x4, -1000 x4, +1000 x4 -> 2 crossings
    sq = [1000] * 4 + [-1000] * 4 + [1000] * 4
    data = struct.pack(f"<{len(sq)}h", *sq)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    square = b"RIFF" + struct.pack("<I", len(body)) + body

    gen = wav_pcm_bytes(16000, 50, key=7)
    rows = [
        ("sq", bytearray(square)),
        ("gen", bytearray(gen)),
        ("stereo", bytearray(wav_bytes(2, 8000, 16, 10))),  # not mono
        ("bad", bytearray(b"not a wav")),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in audio_features(df).collect()}

    assert got["sq"]["n_samples"] == 12
    assert got["sq"]["zero_crossings"] == 2
    assert got["sq"]["sum_abs"] == 12000 and got["sq"]["peak"] == 1000

    ref = [((i * 2557 + 7 * 7919) % 65536) - 32768 for i in range(50)]
    assert got["gen"]["sum_abs"] == sum(abs(s) for s in ref)
    assert got["gen"]["peak"] == max(abs(s) for s in ref)
    assert got["gen"]["zero_crossings"] == sum(
        (ref[i] < 0) != (ref[i - 1] < 0) for i in range(1, 50)
    )
    assert got["gen"]["duration_ms"] == 50 * 1000 // 16000

    assert got["stereo"]["n_samples"] is None
    assert got["bad"]["n_samples"] is None


def test_image_features_real_bmp_decode(spark):
    """image_features decodes actual BMP bytes: per-channel mass equals
    an independent pure-Python decode, tl_b certifies the bottom-up row
    flip, and non-BMP / truncated payloads null-route."""
    from web_crawler_spark.multimodal.binaryops import bmp_bytes, image_features

    w, h, key = 5, 4, 9
    blob = bmp_bytes(w, h, key)
    rows = [
        ("ok", bytearray(blob)),
        ("trunc", bytearray(blob[:30])),
        ("bad", bytearray(b"GIF89a whatever")),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in image_features(df).collect()}

    ref = {
        ch: sum(
            (x * 7 + y * 13 + ch * 29 + key * 31) % 256
            for x in range(w) for y in range(h)
        )
        for ch in range(3)
    }
    r = got["ok"]
    assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
    assert (r["sum_b"], r["sum_g"], r["sum_r"]) == (ref[0], ref[1], ref[2])
    # image top-left (x=0, y=0, ch=0) lives in the LAST stored row
    assert r["tl_b"] == (key * 31) % 256
    assert got["trunc"]["width"] is None
    assert got["bad"]["width"] is None


def test_image_dhash_pure_python_parity(spark):
    """Engine dHash over real BMP bytes equals a pure-Python recompute
    from the pixel formula (decode + orientation flip + 9x8 nearest
    sample + comparison-bit packing)."""
    from web_crawler_spark.multimodal.binaryops import bmp_bytes, image_dhash

    cases = [(4, 3, 5), (12, 9, 123), (9, 8, 77)]
    rows = [(f"u{i}", bytearray(bmp_bytes(w, h, k)))
            for i, (w, h, k) in enumerate(cases)]
    rows.append(("bad", bytearray(b"BMnope1234")))
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in image_dhash(df).collect()}

    def ref_bits(w, h, k):
        def luma(x, y):
            base = x * 7 + y * 13 + k * 31
            return ((base + 58) % 256 + 2 * ((base + 29) % 256)
                    + base % 256) // 4
        xs = [(i * w) // 9 for i in range(9)]
        ys = [(j * h) // 8 for j in range(8)]
        out = []
        for j in range(8):
            for i in range(8):
                out.append("1" if luma(xs[i + 1], ys[j]) > luma(xs[i], ys[j])
                           else "0")
        return "".join(out)

    for i, (w, h, k) in enumerate(cases):
        r = got[f"u{i}"]
        assert (r["width"], r["height"]) == (w, h)
        assert r["dhash"] == ref_bits(w, h, k), (w, h, k)
    assert got["bad"]["dhash"] is None


def test_dhash_neardup_banding_and_hamming(spark):
    """Twin hashes pair at Hamming 0; a 1-bit flip pairs (3 shared
    bands); flipping one bit in EVERY band leaves no shared band, so the
    pair is not a candidate even though Hamming 4 <= max_distance — the
    declared pigeonhole recall contract."""
    from web_crawler_spark.multimodal.binaryops import dhash_neardup_pairs

    base = "0110" * 16
    one_flip = ("1" if base[0] == "0" else "0") + base[1:]
    all_bands = list(base)
    for b in range(4):
        pos = b * 16
        all_bands[pos] = "1" if all_bands[pos] == "0" else "0"
    rows = [("a", base), ("b", base), ("c", one_flip),
            ("d", "".join(all_bands)), ("skip", None)]
    df = spark.createDataFrame(rows, "url string, dhash string")
    got = {(r["url_a"], r["url_b"]): r["hamming"]
           for r in dhash_neardup_pairs(df, max_distance=10).collect()}
    assert got[("a", "b")] == 0
    assert got[("a", "c")] == 1 and got[("b", "c")] == 1
    assert ("a", "d") not in got and ("b", "d") not in got  # no shared band
    # c and d share the SAME band-0 flip, differing only in the bands 1-3
    # flips -> candidates via band 0, Hamming 3
    assert got[("c", "d")] == 3


def test_lsh_dedup_eval_clones_and_subset_invariant(spark):
    # exact clones collide in EVERY band (identical signatures), so with a
    # clone-only duplicate structure the eval must read perfect: the
    # recall contract of minhash LSH on J=1 pairs.
    from web_crawler_spark.operators.dedup import lsh_dedup_eval

    words = lambda seed, n: " ".join(f"w{seed}x{i}" for i in range(n))
    rows = [
        ("a1", words(1, 30)), ("a2", words(1, 30)),      # clone pair
        ("b1", words(2, 40)), ("b2", words(2, 40)),      # clone pair
        ("c", words(3, 25)), ("d", words(4, 25)),        # unrelated
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = lsh_dedup_eval(docs, n=5, k=8, bands=4, threshold=0.18).collect()[0]
    assert got["n_truth"] == 2 and got["n_lsh"] == 2 and got["n_hit"] == 2
    assert got["precision_milli"] == 1000 and got["recall_milli"] == 1000

    # LSH output is exact-Jaccard-verified on the same shingles, so it is
    # a SUBSET of truth: precision is 1000 by construction whenever any
    # pair survives, and n_hit == n_lsh — certify the invariant on a
    # corpus with partial overlaps too.
    base = [f"tok{i}" for i in range(60)]
    rows2 = [
        ("p1", " ".join(base)),
        ("p2", " ".join(base[:45] + [f"alt{i}" for i in range(15)])),
        ("p3", " ".join(base[20:] + [f"oth{i}" for i in range(20)])),
        ("q", words(9, 50)),
    ]
    docs2 = spark.createDataFrame(rows2, ["doc_id", "text"])
    got2 = lsh_dedup_eval(docs2, n=5, k=8, bands=4, threshold=0.18).collect()[0]
    assert got2["n_truth"] >= got2["n_lsh"] == got2["n_hit"]
    assert got2["n_lsh"] == 0 or got2["precision_milli"] == 1000
    assert got2["recall_milli"] <= 1000


def test_lsh_dedup_eval_empty_corpus(spark):
    from web_crawler_spark.operators.dedup import lsh_dedup_eval

    docs = spark.createDataFrame([], "doc_id string, text string")
    got = lsh_dedup_eval(docs).collect()[0]
    assert got["n_truth"] == 0 and got["n_lsh"] == 0 and got["n_hit"] == 0
    assert got["precision_milli"] is None and got["recall_milli"] is None


def test_rocchio_pulls_cluster_and_matches_python(spark):
    from web_crawler_spark.operators.similarity import cosine_topk, rocchio_topk

    # query q sits between cluster A (true topic) and outlier o; the
    # top-2 feedback docs are from A, so q' moves INTO the cluster and a
    # deep A member overtakes the outlier that plain cosine ranked higher
    rows = [
        (1, [1.0, 0.0, 0.0, 0.05]),
        (2, [0.97, 0.02, 0.0, 0.05]),
        (3, [0.8, 0.0, 0.6, 0.0]),    # deep cluster member
        (4, [0.3, 0.95, 0.0, 0.0]),   # outlier, decently close to raw q
    ]
    q = [0.85, 0.52, 0.0, 0.0]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )
    base = [r["vec_id"] for r in cosine_topk(df, q, k=4).collect()]
    after = [r["vec_id"] for r in rocchio_topk(df, q, k=4, fb=2, beta=2.0).collect()]
    assert base.index(4) < base.index(3)     # raw cosine favors the outlier
    assert after.index(3) < after.index(4)   # feedback flips it

    # pure-Python parity of the whole chain
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))), 6)

    vecs = {i: v for i, v in rows}
    scored = sorted(((cos(v, q), i) for i, v in vecs.items()),
                    key=lambda t: (-t[0], t[1]))[:2]
    fbv = [vecs[i] for _, i in scored]
    acc = list(fbv[0])
    for v in fbv[1:]:
        acc = [a + b for a, b in zip(acc, v)]
    qp = [1.0 * q[i] + 2.0 * (acc[i] / len(fbv)) for i in range(4)]
    want = sorted(((cos(v, qp), i) for i, v in vecs.items()),
                  key=lambda t: (-t[0], t[1]))
    got = [(r["cosine"], r["vec_id"]) for r in rocchio_topk(df, q, k=4, fb=2, beta=2.0).collect()]
    for (wc, wi), (gc, gi) in zip(want, got):
        assert wi == gi and abs(wc - gc) <= 1e-6


def test_rocchio_empty_corpus(spark):
    from web_crawler_spark.operators.similarity import rocchio_topk

    df = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert rocchio_topk(df, [1.0, 0.0], k=5).count() == 0
