"""Text-analysis primitives for a training-data pipeline, all as native
Column expressions (JVM-side) so they survive a 100 TB corpus scan:

- tokenization / token counting (whitespace + BPE-ish regex)
- word n-gram shingles (the input to MinHash / Jaccard dedup)
- language-ID via stopword-hit heuristic
- quality scoring (length / punctuation / stopword / repetition ratios)
- document fingerprinting (content hash + MinHash signatures)

MinHash uses ``md5(seed || shingle)`` with lexicographic min so the exact
same signature is computable by any ANSI-SQL engine (the DuckDB oracle).
The engine-internal fast path, ``minhash_from_grams(..., portable=False)``,
uses ``xxhash64``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du", "que"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "de", "que", "por"],
    "it": ["il", "lo", "gli", "che", "di", "non", "per", "con", "sono", "una"],
    "pt": ["o", "os", "as", "em", "um", "uma", "para", "com", "não", "mais"],
    "nl": ["de", "het", "een", "van", "en", "dat", "niet", "voor", "naar", "ook"],
}

# Script-detection ranges for languages whitespace-stopwords can't see
# (CJK text rarely space-delimits): checked by character ratio BEFORE the
# stopword argmax. Kana before Han — Japanese text contains kanji too.
# (lang, char-class) in priority order; threshold = >20% of non-space chars.
SCRIPT_RANGES = [
    ("ko", "가-힣"),       # Hangul syllables U+AC00–U+D7A3
    ("ja", "぀-ヿ"),       # Hiragana+Katakana U+3040–U+30FF
    ("zh", "一-鿿"),       # CJK Unified U+4E00–U+9FFF
]

# BPE-ish word/number/punct splitter (public GPT-2-style pattern, simplified
# to what Java/DuckDB regex both support).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array (not [''])."""
    t = F.trim(text.cast("string"))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish regex tokens — a cheap proxy for LLM token count."""
    return F.size(F.regexp_extract_all(text.cast("string"), F.lit(BPE_ISH_PATTERN), 0)).cast("bigint")


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct). ``slice`` is 1-based; texts
    shorter than n words yield an empty array (Spark's sequence(1,0) counts
    DOWN, so the short case must be guarded, not clamped)."""
    toks = tokens(text)
    n_grams = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(1), n_grams)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(n_grams >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def stopword_hits(text: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    toks = tokens(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("bigint")


def detect_language(text: Column) -> Column:
    """Two-stage language ID, all native expressions:

    1. script ratio (SCRIPT_RANGES): if >20% of non-space characters fall
       in a script's range (integer compare, 5·n_script > n_nonspace),
       that language wins — whitespace stopwords can't see CJK text;
    2. else argmax of per-language stopword hit counts; 'unknown' when all
       zero. Ties break by language-code order (deterministic).

    The DuckDB oracle (_langid_sql) is GENERATED from the same STOPWORDS /
    SCRIPT_RANGES tables, so extending either updates both engines."""
    t = text.cast("string")
    nonspace = F.length(F.regexp_replace(t, r"\s", ""))
    hits = {lang: stopword_hits(text, lang) for lang in sorted(STOPWORDS)}
    best = F.greatest(*hits.values())
    expr = None
    for lang, rng in SCRIPT_RANGES:
        n_script = F.length(F.regexp_replace(t, f"[^{rng}]", ""))
        cond = 5 * n_script > nonspace
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    expr = expr.when(best == 0, F.lit("unknown"))
    for lang in sorted(STOPWORDS):
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("unknown"))


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: rewards reasonable length and sentence
    punctuation, penalizes non-alpha noise and token repetition.

    score = 0.25*len_ok + 0.25*alpha_ratio + 0.25*distinct_ratio + 0.25*punct_ok
    """
    t = text.cast("string")
    n = F.length(t)
    toks = tokens(t)
    n_toks = F.size(toks)
    len_ok = F.when((n >= 100) & (n <= 20000), 1.0).otherwise(
        F.least(n.cast("double") / 100.0, F.lit(1.0))
    )
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z一-鿿]", ""))
    alpha_ratio = F.when(n > 0, alpha.cast("double") / n).otherwise(0.0)
    distinct_ratio = F.when(
        n_toks > 0, F.size(F.array_distinct(toks)).cast("double") / n_toks
    ).otherwise(0.0)
    n_sentences = F.size(F.regexp_extract_all(t, F.lit(r"[.!?]"), 0))
    punct_ok = F.when(n_toks > 0, F.least(n_sentences.cast("double") * 20.0 / n_toks, F.lit(1.0))).otherwise(0.0)
    return F.round(
        0.25 * len_ok + 0.25 * alpha_ratio + 0.25 * distinct_ratio + 0.25 * punct_ok, 6
    )


def gopher_quality_flags(text: Column) -> list[Column]:
    """Gopher-style (Rae et al. 2021, public) document quality signals as
    INTEGER/BOOLEAN columns — integer algebra only, so the DuckDB oracle
    is bit-exact (no float rounding to disagree on):

    * n_words, sum_word_len (mean word length = sum/n, bounds checked as
      3n ≤ sum ≤ 10n without division),
    * n_alpha_words (words containing ≥1 [A-Za-z]; Gopher requires ≥80%:
      5*n_alpha ≥ 4*n),
    * flag_word_count  (50 ≤ n_words ≤ 100_000),
    * flag_mean_len    (3 ≤ mean word length ≤ 10),
    * flag_alpha_ratio (≥80% words contain an alphabetic char),
    * flag_pass        (all of the above).

    One projection, no shuffle — at 100 TB this annotates the scan.
    """
    toks = tokens(text)
    n_words = F.size(toks).cast("bigint")
    sum_len = F.coalesce(
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)),
        F.lit(0).cast("bigint"),
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("bigint")
    flag_wc = (n_words >= 50) & (n_words <= 100_000)
    flag_ml = (n_words > 0) & (sum_len >= 3 * n_words) & (sum_len <= 10 * n_words)
    flag_ar = (n_words > 0) & (5 * n_alpha >= 4 * n_words)
    return [
        n_words.alias("n_words"),
        sum_len.alias("sum_word_len"),
        n_alpha.alias("n_alpha_words"),
        flag_wc.alias("flag_word_count"),
        flag_ml.alias("flag_mean_len"),
        flag_ar.alias("flag_alpha_ratio"),
        (flag_wc & flag_ml & flag_ar).alias("flag_pass"),
    ]


def word_chunks(text: Column, chunk_words: int = 20) -> Column:
    """Consecutive ``chunk_words``-word chunk strings (the unit for exact
    substring-style dedup à la Lee et al. 2022 "Deduplicating Training
    Data", public — at chunk granularity). Last partial chunk kept."""
    toks = tokens(text)
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_words)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i * chunk_words + 1, chunk_words), " ")
    )
    return F.when(n_chunks >= 1, chunks).otherwise(F.array().cast("array<string>"))


def normalize_for_fingerprint(text: Column) -> Column:
    """Lowercase, strip non-alnum, collapse whitespace — the canonical form
    hashed for exact-dup detection."""
    t = F.lower(text.cast("string"))
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t


def content_fingerprint(text: Column) -> Column:
    """MD5 of the normalized text — portable across engines (oracle parity)."""
    return F.md5(normalize_for_fingerprint(text))


def minhash_from_grams(grams: Column, k: int = 16, portable: bool = False) -> Column:
    """k-permutation MinHash over a *pre-computed* shingle array column.

    Feed this a materialized ``grams`` column (separate projection) — never
    inline the shingle expression k times: Catalyst's CollapseProject keeps
    a multiply-referenced non-trivial alias materialized, so the shingling
    runs once per row instead of k times (a ~17× difference measured at
    sf0.1).

    portable=True hashes with ``md5(seed||gram)`` (computable by any SQL
    engine — the DuckDB oracle); default is JVM ``xxhash64`` (~5× cheaper).
    """
    if portable:
        def hasher(i: int):
            return lambda g: F.md5(F.concat(F.lit(f"s{i}:"), g))
    else:
        def hasher(i: int):
            return lambda g: F.xxhash64(F.lit(i), g)

    return F.array(*[F.array_min(F.transform(grams, hasher(i))) for i in range(k)])


def minhash_from_hashes(ghash: Column, k: int = 16) -> Column:
    """k-permutation MinHash over a *pre-hashed* shingle array
    (``transform(grams, xxhash64)`` materialized once). Each permutation
    re-hashes the 8-byte longs (``xxhash64(h, seed)``) instead of the full
    shingle strings — string bytes are hashed exactly once per row no
    matter how large k is. Same LSH quality (xxhash64 is uniform over
    (long, seed)); ~3× cheaper than k string passes at k=16.

    Like ``minhash_from_grams``: feed a materialized ``ghash`` column, not
    an inline expression, so the base hashing runs once."""

    def perm(i: int):
        # closure factory, NOT `lambda h, i=i`: a default arg would raise the
        # lambda's arity to 2 and transform() would bind the element INDEX
        return lambda h: F.xxhash64(h, F.lit(i))

    return F.array(*[F.array_min(F.transform(ghash, perm(i))) for i in range(k)])


def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens using xxhash64 bit-votes.

    For each of 64 bit positions, sum +1/-1 votes across token hashes and
    set the bit when the vote is positive. Pure Column expressions
    (aggregate over an array), no UDF.
    """
    toks = F.array_distinct(tokens(F.lower(text)))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_vote(b: int) -> Column:
        # vote_b = sum over tokens of (bit set ? 1 : -1)
        mask = F.shiftleft(F.lit(1).cast("long"), b)

        def vote(acc: Column, h: Column) -> Column:
            return acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1)

        votes = F.aggregate(hashes, F.lit(0), vote)
        return F.when(votes > 0, mask).otherwise(F.lit(0).cast("long"))

    out = F.lit(0).cast("long")
    for b in range(64):
        out = out.bitwiseOR(bit_vote(b))
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Training-corpus hygiene: PII scrubbing + benchmark decontamination
# ---------------------------------------------------------------------------

PII_PATTERNS = [
    # (tag, java-and-duckdb-compatible regex)
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("PHONE", r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}"),
    ("IPV4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
]


def scrub_pii(text: Column) -> Column:
    """Replace emails / phone numbers / IPv4s with ``<TAG>`` placeholders —
    standard pretraining-corpus hygiene. Pure regexp_replace chain:
    JVM-side, codegen'd, and expressible verbatim in the SQL oracle. Order
    matters: emails first (their local parts can contain digits a phone
    pattern would partially eat)."""
    out = text.cast("string")
    for tag, pattern in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, f"<{tag}>")
    return out


def contaminated_doc_ids(
    docs,
    benchmark,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
):
    """Benchmark decontamination: ids of docs sharing any word n-gram with
    the benchmark set. The benchmark side is tiny (eval suites are KBs) →
    its distinct shingles broadcast; the corpus side explodes shingles and
    broadcast-joins — no shuffle of corpus text, scales as a scan at 100 TB.
    The standard n=8..13 window (e.g. GPT-3 appendix C used 13-grams)."""
    bench_grams = (
        benchmark.select(F.explode(shingles(F.col(bench_text_col), n)).alias("gram"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .select(id_col)
        .distinct()
    )


def nfc_stage(df, cols: list[str] | str):
    """Unicode NFC normalization over the named string columns — the
    canonical-composition pass a multilingual corpus needs before any
    hash-based dedup (the same text arrives composed from one site and
    decomposed from another; their md5s differ until normalized; CCNet
    normalizes before everything for exactly this reason).

    Spark has no built-in NFC expression, so this is one Arrow-batched
    ``mapInPandas`` stage over the stdlib ``unicodedata`` — embarrassingly
    parallel, no shuffle, schema-preserving. Non-string/NULL cells pass
    through untouched.
    """
    import unicodedata

    if isinstance(cols, str):
        cols = [cols]
    schema = df.schema

    def norm(it):
        for pdf in it:
            for c in cols:
                pdf[c] = pdf[c].map(
                    lambda s: unicodedata.normalize("NFC", s)
                    if isinstance(s, str) else s
                )
            yield pdf

    return df.mapInPandas(norm, schema)


# Zero-width + bidi-control + BOM + soft hyphen: characters that render as
# nothing but pollute tokenizers, split fingerprints (the same visible text
# hashes differently), and carry steganographic spam / word-filter evasion.
INVISIBLE_CLASS = (
    r"[\x{00AD}\x{200B}-\x{200F}\x{202A}-\x{202E}\x{2060}-\x{2064}\x{FEFF}]"
)


def strip_invisible(text: Column) -> Column:
    """Remove invisible/zero-width/bidi-control characters (CCNet-style
    pre-pass next to NFC: two visually-identical texts must fingerprint
    identically, and a ZWSP inside a blockword defeats naive filters)."""
    return F.regexp_replace(text.cast("string"), INVISIBLE_CLASS, "")


def invisible_count(text: Column) -> Column:
    """How many invisible characters the text carries (hygiene telemetry —
    a spike per source flags laundered spam)."""
    return F.size(
        F.regexp_extract_all(text.cast("string"), F.lit(INVISIBLE_CLASS), 0)
    ).cast("bigint")


# ---------------------------------------------------------------------------
# Mojibake repair — UTF-8 bytes mis-decoded as windows-1252 (the ftfy
# single-pass core case, Speer's public ftfy docs): a page served as UTF-8
# but labeled/decoded latin-ish turns every non-ASCII char into a 2-3 char
# garble ("café" → "cafÃ©", "—" → "â€”"). In a Common-Crawl-scale corpus
# this is the single most common encoding defect; left unrepaired it splits
# dedup fingerprints, poisons language-ID n-grams, and leaks garble into
# training text.
# ---------------------------------------------------------------------------


def _sloppy_cp1252(bts: bytes) -> str:
    """Decode bytes as windows-1252 with the 5 undefined bytes (0x81 0x8D
    0x8F 0x90 0x9D) passing through as the same-numbered C1 controls — the
    "sloppy cp1252" real decoders exhibit and ftfy models."""
    out = []
    for b in bts:
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


# The committed repair alphabet: Latin-1 Supplement letters plus the
# general-punctuation/symbol set that dominates real-world mojibake
# (smart quotes, dashes, ellipsis, €/£/©/°...). Each char's mojibake form
# is COMPUTED from the encoding model above, not hand-typed.
MOJIBAKE_CHARS = (
    "àáâãäåæçèéêëìíîïðñòóôõöøùúûüýþÿ"
    "ÀÁÂÃÄÅÆÇÈÉÊËÌÍÎÏÐÑÒÓÔÕÖØÙÚÛÜÝÞ"
    "‘’‚‛“”„‹›«»–—…•·°±×÷€£¥¢©®™§¶µ¿¡ß "
)

# (mojibake, char) pairs, longest mojibake first so 3-byte garbles
# ("â€™") are consumed before any 2-byte garble sharing a prefix char.
# Deterministic order ⇒ the repair is a pure function of the text and the
# DuckDB oracle replays the identical replace chain. Note the chain is one
# pass per pair over the whole string, so DOUBLE-encoded text ("ÃƒÂ©") may
# cascade into a full repair when an earlier replacement re-exposes a
# later pattern — deterministic either way, declared rather than iterated.
MOJIBAKE_PAIRS: list[tuple[str, str]] = sorted(
    ((_sloppy_cp1252(c.encode("utf-8")), c) for c in MOJIBAKE_CHARS),
    key=lambda kv: (-len(kv[0]), kv[0]),
)


def to_mojibake(s: str) -> str:
    """Encode a clean string into its mojibake form (utf-8 bytes read back
    as sloppy cp1252) — the fixture/test generator for the repair path."""
    return _sloppy_cp1252(s.encode("utf-8"))


def repair_mojibake(text: Column) -> Column:
    """Repair windows-1252 mojibake: one JVM-side ``replace`` chain over
    the committed pair table — pure column expression, zero shuffle, no
    Python in the hot path. Legitimate text matching a garble pattern
    (a real "Ã©" bigram) is vanishingly rare in natural language — the
    same prior ftfy's heuristics rest on; flag via inequality with the
    original when telemetry is needed."""
    out = text.cast("string")
    for bad, good in MOJIBAKE_PAIRS:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


# Gopher's document-level stop-word rule (Rae et al. 2021 §A1.1): a real
# English document contains at least TWO of these eight function words —
# the cheapest "is this prose at all" gate (tables, code dumps, keyword
# stuffing all fail it).
GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_stopword_flag(text: Column) -> Column:
    """(n_stop_present, flag_stopwords): how many DISTINCT canonical stop
    words appear (whitespace tokens, lowercased — punctuation-attached
    forms like 'the,' don't count, same convention both engines), and
    Gopher's ≥2 pass flag. Pure columns, zero shuffle."""
    toks = F.array_distinct(tokens(F.lower(text)))
    stops = F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS])
    n = F.size(F.array_intersect(toks, stops)).cast("int")
    return F.struct(
        n.alias("n_stop_present"), (n >= 2).alias("flag_stopwords")
    )


# Unicode script blocks for mixed-script profiling, shared with the DuckDB
# oracle generator (same literal codepoint ranges in both engines — the
# SCRIPT_RANGES portability discipline). Alphabetical: the dominant-script
# argmax tie-breaks in this order.
SCRIPT_BLOCKS = [
    ("arabic", "؀-ۿ"),                 # U+0600–U+06FF
    ("cjk", "぀-ヿ一-鿿가-힣"),          # kana + CJK unified + hangul
    ("cyrillic", "Ѐ-ӿ"),               # U+0400–U+04FF
    ("greek", "Ͱ-Ͽ"),                  # U+0370–U+03FF
    ("latin", "A-Za-zÀ-ÖØ-öø-ÿ"),      # ASCII + Latin-1 letters
]


def script_profile(text: Column) -> list[tuple[str, Column]]:
    """Per-script character counts over SCRIPT_BLOCKS — the input to
    mixed-script spam profiling (homoglyph spoofing seeds Cyrillic
    lookalikes inside Latin words: Unicode TR#39 confusable guidance;
    spam/cloaking surveys: Gyöngyi & Garcia-Molina AIRWeb 2005). Each
    count is one JVM regexp_replace+length projection — zero shuffles,
    exact integers, engine-portable by the same literal-range trick as
    detect_language."""
    t = text.cast("string")
    return [
        (name, F.length(F.regexp_replace(t, f"[^{rng}]", "")).cast("long"))
        for name, rng in SCRIPT_BLOCKS
    ]


# --------------------------------------------------------------------------
# Code detection — The Stack / StarCoder-era corpus curation signal
# --------------------------------------------------------------------------

# RE2-portable signals, shared verbatim with the SQL oracle. A "code
# line" starts with >=4 spaces or a tab (block indentation), or ends in
# one of the statement terminators/openers ; { } (trailing whitespace
# tolerated).
CODE_LINE_RE = r"(?m)^(?:    |\t).*|^.*[;{}][ \t]*$"
CODE_KEYWORD_RE = (
    r"\b(?:def|class|function|return|import|#include|const|var|let|"
    r"public|void|printf|lambda|elif|fn|struct|impl)\b"
)
CODE_SYMBOL_RE = r"[{}();=<>\[\]]"


def code_profile(text) -> list:
    """Per-document code-likeness counts as pure column expressions:
    (n_lines, code_lines, kw_hits, sym_chars, n_chars). The corpus-
    curation signal for separating prose from source listings (the
    pre-classifier heuristic of The Stack / StarCoder data pipelines and
    Gopher's "symbol-to-word ratio" family) — all exact integer regexp
    counts, zero shuffles, patterns shared with the oracle."""
    from pyspark.sql import functions as F

    t = text.cast("string")
    lines = F.split(t, "\n")
    return [
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.regexp_extract_all(t, F.lit(CODE_LINE_RE), 0))
        .cast("long").alias("code_lines"),
        F.size(F.regexp_extract_all(t, F.lit(CODE_KEYWORD_RE), 0))
        .cast("long").alias("kw_hits"),
        F.length(t).cast("long").alias("n_chars"),
        (
            F.length(t)
            - F.length(F.regexp_replace(t, CODE_SYMBOL_RE, ""))
        ).cast("long").alias("sym_chars"),
    ]


# --------------------------------------------------------------------------
# License detection — The Stack-style code-corpus curation filter
# --------------------------------------------------------------------------

# (license_id, RE2 pattern) in priority order; first hit wins. SPDX tags
# beat prose headers (they are the declared intent).
LICENSE_PATTERNS = [
    ("spdx", r"SPDX-License-Identifier:\s*([A-Za-z0-9.+-]+)"),
    ("mit", r"(?i)\bMIT License\b|\bPermission is hereby granted, free of charge\b"),
    # [\s\S] instead of . so the canonical LICENSE header — 'Apache
    # License' and 'Version 2.0, January 2004' on separate lines — matches
    # (RE2-portable; no DOTALL flag needed in either engine).
    ("apache-2.0", r"(?i)\bApache License\b[\s\S]{0,40}\bVersion 2\.0\b"),
    ("gpl", r"(?i)\bGNU General Public License\b"),
    ("bsd", r"(?i)\bRedistribution and use in source and binary forms\b"),
    ("cc-by", r"(?i)\bCreative Commons Attribution\b|\bCC BY\b"),
    ("public-domain", r"(?i)\bpublic domain\b|\bThe Unlicense\b"),
]


def license_detect(text) -> list:
    """Per-document license detection — the filter The Stack / StarCoder
    pipelines apply before admitting source files (permissive-only
    corpora), and the CC-BY screen for web text. Emits one hit-count
    column per pattern family plus ``license_class`` (first family in
    priority order with a hit, SPDX tags winning over prose headers;
    NULL = none) and ``spdx_id`` (the declared identifier when an SPDX
    tag is present). Pure regexp projection, RE2 patterns shared
    verbatim with the oracle, zero shuffles."""
    from pyspark.sql import functions as F

    t = text.cast("string")
    cols = []
    first = None
    for name, pat in LICENSE_PATTERNS:
        hit = F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long")
        cols.append(hit.alias(f"n_{name.replace('-', '_').replace('.', '_')}"))
        cond = hit > 0
        first = (
            F.when(cond, F.lit(name))
            if first is None
            else first.when(cond, F.lit(name))
        )
    cols.append(first.alias("license_class"))
    cols.append(
        F.when(
            F.regexp_extract(t, LICENSE_PATTERNS[0][1], 1) != "",
            F.regexp_extract(t, LICENSE_PATTERNS[0][1], 1),
        ).alias("spdx_id")
    )
    return cols


# --------------------------------------------------------------------------
# HTML entity decoding — extraction hygiene (mojibake_repair's sibling)
# --------------------------------------------------------------------------

# (entity, replacement) — the named entities that dominate real crawl
# text (WHATWG core set + typographic ones), applied in list order with
# '&amp;' LAST: no earlier entity is a substring of another's escaped
# form, so one pass decodes exactly one escaping layer.
HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&mdash;", "—"),
    ("&ndash;", "–"),
    ("&ldquo;", "“"),
    ("&rdquo;", "”"),
    ("&lsquo;", "‘"),
    ("&rsquo;", "’"),
    ("&hellip;", "…"),
    ("&copy;", "©"),
    ("&reg;", "®"),
    ("&trade;", "™"),
    ("&euro;", "€"),
    ("&pound;", "£"),
    ("&middot;", "·"),
    ("&laquo;", "«"),
    ("&raquo;", "»"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),   # MUST be last: it re-exposes one escaping layer
]


def decode_entities(text) -> "Column":
    """Named-HTML-entity decode as a fixed JVM replace chain — the
    extraction-hygiene pass that keeps '&amp;' and '&nbsp;' out of the
    training corpus (the mojibake_repair discipline applied to entities;
    numeric &#NNN; references are NOT handled — a declared subset, they
    are rare in body text and need per-match arithmetic). '&amp;' is
    replaced LAST so one call decodes exactly one escaping layer —
    '&amp;lt;' becomes '&lt;', never '<' (lossless w.r.t.
    double-escaping). Zero shuffles; the chain is generated from
    HTML_ENTITIES, shared with the oracle."""
    from pyspark.sql import functions as F

    out = text.cast("string")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


# numeric character references: decimal and hex forms, bounded lengths
NUM_ENTITY_RE = r"&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};"


def decode_numeric_entities(text) -> "Column":
    """Numeric HTML character-reference decode (&#8212; / &#x2014;) —
    closes :func:`decode_entities`'s declared subset: the text is split
    on the reference pattern, every reference is converted per-match
    (hex via base conversion, decimal direct), and fragments are
    interleaved back with an ordered fold — pure HOF column algebra, no
    UDF, zero shuffles, replayable in SQL. Invalid codepoints (0,
    surrogates, > U+10FFFF) keep their ORIGINAL reference text — never a
    replacement char, so the pass is lossless on garbage.
    """
    from pyspark.sql import functions as F

    t = text.cast("string")
    frags = F.split(t, NUM_ENTITY_RE, -1)
    ents = F.regexp_extract_all(t, F.lit(f"({NUM_ENTITY_RE})"), 1)

    def _bhex(b):
        # two-digit hex of a byte value given as an integer Column
        return F.lpad(F.lower(F.conv(b.cast("string"), 10, 16)), 2, "0")

    def _rep(e):
        body = F.substring(e, 3, 0x7FFF)
        num = F.substring(body, 1, F.length(body) - 1)  # drop ';'
        is_hex = F.upper(F.substring(e, 3, 1)) == "X"
        code = F.when(
            is_hex,
            F.try_to_number(
                F.conv(F.substring(num, 2, 0x7FFF), 16, 10),
                F.lit("9999999999"),
            ),
        ).otherwise(F.try_to_number(num, F.lit("9999999"))).cast("long")
        valid = (
            code.isNotNull()
            & (code >= 1)
            & (code <= 0x10FFFF)
            & ~((code >= 0xD800) & (code <= 0xDFFF))
        )
        # Spark's char() is mod-256 ASCII, not a codepoint constructor —
        # build the UTF-8 byte sequence arithmetically and decode it
        # (floor-division on exact longs; identical algebra in the oracle)
        c = code
        b = F.when(
            c < 0x80, _bhex(c)
        ).when(
            c < 0x800,
            F.concat(
                _bhex(F.lit(192) + F.floor(c / 64)),
                _bhex(F.lit(128) + c % 64),
            ),
        ).when(
            c < 0x10000,
            F.concat(
                _bhex(F.lit(224) + F.floor(c / 4096)),
                _bhex(F.lit(128) + F.floor(c / 64) % 64),
                _bhex(F.lit(128) + c % 64),
            ),
        ).otherwise(
            F.concat(
                _bhex(F.lit(240) + F.floor(c / 262144)),
                _bhex(F.lit(128) + F.floor(c / 4096) % 64),
                _bhex(F.lit(128) + F.floor(c / 64) % 64),
                _bhex(F.lit(128) + c % 64),
            )
        )
        return F.when(valid, F.decode(F.unhex(b), "UTF-8")).otherwise(e)

    n = F.size(ents)
    return F.when(n == 0, t).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), n),
            F.element_at(frags, 1),
            lambda acc, i: F.concat(
                acc, _rep(F.element_at(ents, i)), F.element_at(frags, i + 1)
            ),
        )
    )
