"""Deterministic robots.txt fixture — one body per fixture host, covering
the semantics apply_robots must honor: disallow prefixes, allow-override of
a deeper path, agent-specific groups, Crawl-delay, comments, unknown
directives, and a host with no robots at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ROBOTS_BODIES: dict[str, str] = {
    "markets.businessinsider.com": (
        "# hot host: slow down and keep bots out of /private/\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/public-annex/\n"
        "Crawl-delay: 1\n"
    ),
    "finance.sina.com.cn": (
        "User-agent: sparkcrawl\n"
        "Disallow: /internal/\n"
        "Crawl-delay: 0.5\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"          # everyone else fully blocked
    ),
    "api.coingecko.com": (
        "User-agent: *\n"
        "Disallow:\n"            # empty Disallow = allow all
        "Unknown-directive: ignored\n"
    ),
    "data.worldbank.org": (
        "User-agent: *\n"
        "Disallow: /seed/1\n"    # prefix match: blocks /seed/1, /seed/10...
    ),
    # example-commodities.net: no robots.txt → everything allowed
}


def robots_scan(spark: SparkSession, path: str) -> DataFrame:
    """Real-bytes distributed robots.txt ingest — the binaryFile →
    mapInPandas discipline every other source follows (sitemap / xlsx /
    WARC / ARC): a directory of ``<host>.txt`` files (a crawler's
    robots-cache dump) loads as binary rows, the host is recovered from
    the filename, and ``operators.robots.parse_robots`` turns each body
    into rule rows with per-file error isolation inherent to the
    line-oriented parser (a garbage body simply yields no rules, RFC
    9309 §2.2.3's ignore-unknown discipline)."""
    from pyspark.sql import functions as F

    from ..operators.robots import parse_robots

    raw = spark.read.format("binaryFile").load(path).select(
        F.regexp_extract(
            F.element_at(F.split(F.col("path"), "/"), -1),
            r"^(.*)\.txt$", 1,
        ).alias("host"),
        F.col("content").alias("body"),
    )
    return parse_robots(raw)
