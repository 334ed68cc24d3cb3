"""Main-content extraction / boilerplate removal (jusText-style block
classification — Pomikálek 2011, public method; the corpus-quality gate
that turns crawled HTML into training text).

Reference parity: the reference extracts *table* text and link anchors
(pacong/scrapers/generic_scraper.py get_text flow); a corpus engine also
needs the complementary operation — keep the running prose, drop nav
bars, footers, link lists. Spark-first split, over block rows
(doc, block_idx, text, link_density) — link density being chars inside
``<a>`` over chars total, the one feature that needs the markup:

* ``classify_blocks`` — pure column expressions + two windows:
  raw class (bad if link-dense; good if long + stopword-dense; undecided
  otherwise), then jusText's context smoothing — an undecided block joins
  a 'good' neighbor — expressed as ``last(raw, ignorenulls)`` /
  ``first(raw, ignorenulls)`` windows over block order, NOT an iterative
  pass. One hash-partition shuffle on the doc key total.
* ``main_content`` — reassembly: in-agg struct sort (the chunk-rewrite
  pattern, no join-back), ``concat_ws`` of the good blocks.

At 100 TB: classification + reassembly shuffle each doc's slim block rows
(text only of kept blocks) once on doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS

# jusText-inspired defaults (chars / ratios, documented public heuristics).
MAX_LINK_DENSITY = 0.33
LENGTH_LOW = 80        # chars below which a block can't be 'good' on its own
STOPWORD_LOW = 0.30    # stopword-token fraction for 'good'


def _stop_density(text: Column, lang: str) -> Column:
    """Stopword-token fraction, pure columns: tokens lowercased, membership
    via array_intersect-free per-word filter on a literal array."""
    toks = F.split(F.lower(F.trim(text.cast("string"))), r"\s+")
    toks = F.when(F.trim(text.cast("string")) == "", F.array().cast("array<string>")
                  ).otherwise(toks)
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def classify_blocks(
    blocks: DataFrame,
    doc_col: str = "url",
    idx_col: str = "block_idx",
    text_col: str = "text",
    link_density_col: str = "link_density",
    lang: str = "en",
    max_link_density: float = MAX_LINK_DENSITY,
    length_low: int = LENGTH_LOW,
    stopword_low: float = STOPWORD_LOW,
) -> DataFrame:
    """Adds ``block_class`` ('good' | 'bad').

    Raw pass: link-dense → bad; long + stopword-dense → good; otherwise
    undecided (NULL). Smoothing pass: an undecided block becomes good iff
    its nearest *decided* neighbor on either side is good (jusText context
    rule) — two ignore-nulls windows, no iteration, no self-join.
    """
    txt = F.col(text_col)
    raw = (
        F.when(F.col(link_density_col) > max_link_density, F.lit("bad"))
        .when(
            (F.length(txt) >= length_low)
            & (_stop_density(txt, lang) >= stopword_low),
            F.lit("good"),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    w_prev = (
        Window.partitionBy(doc_col).orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(doc_col).orderBy(idx_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    with_raw = blocks.withColumn("_raw", raw)
    prev = F.last("_raw", ignorenulls=True).over(w_prev)
    nxt = F.first("_raw", ignorenulls=True).over(w_next)
    final = F.coalesce(
        F.col("_raw"),
        F.when((prev == "good") | (nxt == "good"), F.lit("good")).otherwise(
            F.lit("bad")
        ),
    )
    return with_raw.withColumn("block_class", final).drop("_raw")


def main_content(
    classified: DataFrame,
    doc_col: str = "url",
    idx_col: str = "block_idx",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """(doc, main_text, n_blocks, n_good_blocks): good blocks rejoined in
    block order via in-agg struct sort — no second window, no join-back.
    Docs whose every block is boilerplate survive with main_text = ''."""
    kept = F.when(F.col("block_class") == "good", F.col(text_col))
    return classified.groupBy(doc_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("block_class") == "good",
                            F.struct(F.col(idx_col).alias("i"),
                                     F.col(text_col).alias("t")),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
        ).alias("main_text"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.count(kept).alias("n_good_blocks"),
    )


def host_templates(
    pages: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    text_col: str = "text",
    min_pages: int = 3,
    frac_milli: int = 500,
) -> DataFrame:
    """Cross-document template detection (Gibson, Punera & Tomkins,
    WWW 2005, "The volume and evolution of web page templates"): a line
    is template on a host when it appears on at least ``frac_milli``/1000
    of that host's pages — the site-frequency signal the per-document
    stop-density classifier (:func:`classify_blocks`) cannot see, and the
    method of choice for nav/footer/cookie-banner removal when a host has
    enough pages to vote. Hosts with fewer than ``min_pages`` pages emit
    nothing (frequency over 2 pages is noise, the paper's own gate).

    Returns (host, line_hash, n_docs, n_pages): one row per detected
    template line. The threshold is exact integer algebra
    (1000·n_docs ≥ frac_milli·n_pages) — no float comparison anywhere.

    Scale shape: lines explode to slim (host, url, md5) rows and collapse
    to per-page presence with ONE distinct (a page repeating its nav bar
    twice is still one vote); the (host, line_hash) count agg and the
    per-host page count are both combiner aggs keyed no wider than the
    host; the final join carries only hosts' count rows. Page text never
    crosses a shuffle — the md5 surrogate does.
    """
    lines = (
        pages.select(
            F.col(host_col).alias("host"),
            F.col(url_col).alias("url"),
            F.explode(
                F.filter(
                    F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
                    lambda x: x != "",
                )
            ).alias("line"),
        )
        .select("host", "url", F.md5("line").alias("line_hash"))
        .distinct()
    )
    n_pages = pages.groupBy(F.col(host_col).alias("host")).agg(
        F.countDistinct(url_col).alias("n_pages")
    )
    counts = lines.groupBy("host", "line_hash").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        counts.join(n_pages, "host")
        .filter(
            (F.col("n_pages") >= F.lit(min_pages))
            & (F.lit(1000) * F.col("n_docs") >= F.lit(frac_milli) * F.col("n_pages"))
        )
        .select("host", "line_hash", "n_docs", "n_pages")
    )


def template_burden(
    pages: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    text_col: str = "text",
    min_pages: int = 3,
    frac_milli: int = 500,
) -> DataFrame:
    """Per-page template burden: what fraction of a page's distinct
    non-blank lines are host-level template per :func:`host_templates` —
    the QA number deciding whether a host's extraction needs site-level
    boilerplate removal before its text enters a training corpus (a
    burden near 1000 means the page is chrome with no content).

    Returns (host, url, n_lines, n_template, burden_milli) with
    burden_milli = ⌊1000·n_template/n_lines⌋ — exact integers throughout.
    The template join is (host, line_hash)-keyed and carries only count
    rows on the build side; per-page rollup is one combiner agg.
    """
    lines = (
        pages.select(
            F.col(host_col).alias("host"),
            F.col(url_col).alias("url"),
            F.explode(
                F.filter(
                    F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
                    lambda x: x != "",
                )
            ).alias("line"),
        )
        .select("host", "url", F.md5("line").alias("line_hash"))
        .distinct()
    )
    t = host_templates(
        pages, host_col, url_col, text_col, min_pages, frac_milli
    ).select("host", "line_hash", F.lit(1).alias("is_t"))
    return (
        lines.join(t, ["host", "line_hash"], "left")
        .groupBy("host", "url")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.coalesce(F.col("is_t"), F.lit(0))).alias("n_template"),
        )
        .withColumn(
            "burden_milli",
            F.floor(F.lit(1000) * F.col("n_template") / F.col("n_lines")).cast(
                "long"
            ),
        )
        .select(
            "host", "url",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_template").cast("long").alias("n_template"),
            "burden_milli",
        )
    )
