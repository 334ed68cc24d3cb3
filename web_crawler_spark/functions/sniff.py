"""Content-type and charset sniffing for fetched bodies — pure column
expressions (whole-stage codegen; no Python in the hot path).

A crawl at corpus scale cannot trust Content-Type headers: servers lie,
and the reference's requests-based fetch (pacong/core/http_client.py)
leans on `response.encoding` guessing. This module does the standard
first-bytes sniff (magic numbers per the public WHATWG MIME-sniffing
algorithm, abridged to the types a text crawl routes on) plus the charset
cascade: BOM → <meta charset> → declared default. Everything is
``substring``/``hex``/``regexp`` over the binary column, so the filter
("keep only text/html") pushes into the scan stage before any Python
extraction runs — at 100 TB this is the gate that keeps image bytes out
of the HTML-extraction shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (hex-prefix, mime) in priority order — longest/most-specific first.
_MAGIC = [
    ("89504E47", "image/png"),
    ("47494638", "image/gif"),
    ("FFD8FF", "image/jpeg"),
    ("25504446", "application/pdf"),
    ("504B0304", "application/zip"),
    ("1F8B", "application/gzip"),
    ("424D", "image/bmp"),
    ("000001BA", "video/mpeg"),
    ("000001B3", "video/mpeg"),
    ("4F676753", "application/ogg"),
    ("52494646", "audio/x-riff"),  # RIFF container (wav/avi); refine via fourcc
]


def _hex_prefix(data: Column, n_bytes: int) -> Column:
    return F.upper(F.hex(F.substring(data, 1, n_bytes)))


def content_type_sniff(data: Column) -> Column:
    """MIME type from magic bytes; HTML/text detection on the BOM-stripped,
    whitespace-trimmed ASCII head; 'application/octet-stream' fallback.
    NULL/empty input → NULL (unknown, not octet-stream)."""
    expr = F.lit("application/octet-stream")
    # Text probes: skip a UTF-8 BOM, then decode the head as ISO-8859-1 —
    # byte-transparent and never malformed (UTF-8 decode of arbitrary
    # binary bodies would throw under Spark 4's strict coding errors);
    # the markup probe only needs the ASCII subset anyway.
    body = F.when(_hex_prefix(data, 3) == "EFBBBF",
                  F.substring(data, 4, 256)).otherwise(F.substring(data, 1, 256))
    head = F.decode(body, "ISO-8859-1")
    html_like = head.rlike(r"(?is)^\s*<(?:!doctype\s+html|html|head|body|script|iframe|h1|div|p\b|table)")
    xml_like = head.rlike(r"(?is)^\s*<\?xml")
    expr = F.when(html_like, F.lit("text/html")).when(
        xml_like, F.lit("text/xml")
    ).otherwise(expr)
    # Magic numbers take precedence over the text probes.
    for hx, mime in sorted(_MAGIC, key=lambda p: -len(p[0])):
        expr = F.when(
            _hex_prefix(data, len(hx) // 2) == hx, F.lit(mime)
        ).otherwise(expr)
    return F.when(data.isNull() | (F.length(data) == 0),
                  F.lit(None).cast("string")).otherwise(expr)


def bom_charset(data: Column) -> Column:
    """Charset from a byte-order mark; NULL when no BOM. UTF-32 checked
    before UTF-16 (the UTF-32-LE BOM starts with the UTF-16-LE one)."""
    h4 = _hex_prefix(data, 4)
    h3 = _hex_prefix(data, 3)
    h2 = _hex_prefix(data, 2)
    return (
        F.when(h4 == "FFFE0000", F.lit("utf-32-le"))
        .when(h4 == "0000FEFF", F.lit("utf-32-be"))
        .when(h3 == "EFBBBF", F.lit("utf-8"))
        .when(h2 == "FFFE", F.lit("utf-16-le"))
        .when(h2 == "FEFF", F.lit("utf-16-be"))
        .otherwise(F.lit(None).cast("string"))
    )


def meta_charset(html: Column) -> Column:
    """Charset from ``<meta charset=...>`` or the http-equiv Content-Type
    meta, searched in the first 1024 chars (the WHATWG prescan window),
    lowercased; NULL when absent."""
    head = F.substring(html.cast("string"), 1, 1024)
    m1 = F.regexp_extract(head, r"(?i)<meta[^>]*\bcharset\s*=\s*[\"']?\s*([A-Za-z0-9_.:-]+)", 1)
    m2 = F.regexp_extract(
        head,
        r"(?i)<meta[^>]+http-equiv\s*=\s*[\"']?content-type[^>]*content\s*=\s*[\"'][^\"']*charset=([A-Za-z0-9_.:-]+)",
        1,
    )
    got = F.when(m1 != "", m1).when(m2 != "", m2)
    return F.lower(got)


def detect_charset(data: Column, html: Column, default: str = "utf-8") -> Column:
    """The sniffing cascade: BOM beats the meta declaration beats the
    transport default (the precedence the WHATWG encoding sniff uses)."""
    return F.coalesce(bom_charset(data), meta_charset(html), F.lit(default))
