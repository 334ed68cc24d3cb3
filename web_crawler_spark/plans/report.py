"""Report sinks + console summary (SURVEY §2.1 S9–S13, §2.5/2.6 A/T ops).

Reference: 16-column commodity CSV (pacong/output/csv_writer.py:36-41),
11-column forex CSV (csv_writer.py:78-129), multi-sheet Excel = all + one
sheet per category sorted by price desc + summary (excel_writer.py:20-87),
console summary (pacong/main.py:114-163), raw-JSON checkpoint
(base_scraper.py:164-178), run-result JSON (models.py:263-266).

Spark-first: CSV/JSON sinks are ``df.write``; the "Excel sheets" become a
category-partitioned parquet dataset (same grouping, queryable); the
console summary is the one deliberate driver-side collect (few rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import aggregate as A

# csv_writer.py:36-41 — the 16 fixed report columns
COMMODITY_CSV_COLUMNS = [
    "name", "chinese_name", "symbol", "category", "current_price",
    "change_amount", "change_percent", "open_price", "high_price",
    "low_price", "previous_close", "volume", "market_cap", "currency",
    "source", "timestamp",
]

# csv_writer.py:78-129 — the 11 forex columns
FOREX_CSV_COLUMNS = [
    "pair", "base_currency", "quote_currency", "bid_price", "ask_price",
    "mid_price", "spread", "change_amount", "change_percent", "source",
    "timestamp",
]


def _ensure_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    out = df
    for c in cols:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast("string"))
    return out.select(*cols)


def write_commodity_csv(df: DataFrame, path: str) -> None:
    """S9: fixed 16-column header CSV (utf-8; the reference's utf-8-sig BOM
    is an Excel-ism — Spark writes utf-8, noted deviation)."""
    _ensure_columns(df, COMMODITY_CSV_COLUMNS).coalesce(1).write.mode(
        "overwrite"
    ).option("header", True).csv(path)


def write_forex_csv(df: DataFrame, path: str) -> None:
    """S10."""
    _ensure_columns(df, FOREX_CSV_COLUMNS).coalesce(1).write.mode(
        "overwrite"
    ).option("header", True).csv(path)


def write_category_report(df: DataFrame, path: str) -> None:
    """S11: category-partitioned dataset, rows ordered per category by
    current_price desc (excel_writer.py:73-74 sheet sort) via a rank column
    the reader can order on."""
    ranked = A.rank_within_category(df, "category", "current_price", tiebreaker="name")
    ranked.write.mode("overwrite").partitionBy("category").parquet(path)


def write_raw_checkpoint(df: DataFrame, path: str, epoch: int) -> None:
    """S12: raw scraped snapshot per epoch (base_scraper.save_raw_data);
    epoch dir replaces the reference's timestamped filename."""
    df.write.mode("overwrite").json(f"{path}/epoch={epoch}")


def write_run_result(metrics: DataFrame, path: str) -> None:
    """S13: ScrapingResult JSON → metrics table append as JSON lines."""
    metrics.coalesce(1).write.mode("overwrite").json(path)


def console_summary(results: dict[str, DataFrame], k: int = 5) -> str:
    """main.py:114-163 print_summary — the one driver-side collect.
    Returns the formatted text (caller prints/logs)."""
    lines: list[str] = ["=" * 50, "市场总结 / Market Summary", "=" * 50]
    summary = results["summary"].collect()[0]
    lines.append(
        f"总数 {summary['total_count']}  平均变化 {summary['avg_change']}%  "
        f"上涨 {summary['gainers']}  下跌 {summary['losers']}  持平 {summary['unchanged']}"
    )
    lines.append("-" * 50)
    lines.append("分类统计 / By category:")
    for r in results["by_category"].collect():
        lines.append(f"  {r['category']}: {r['n']} 条, 平均 {r['avg_change']}%")
    lines.append("-" * 50)
    lines.append(f"涨幅前{k} / Top gainers:")
    for r in results["top_gainers"].limit(k).collect():
        lines.append(f"  {r['name']}: +{r['change_percent']}%")
    lines.append(f"跌幅前{k} / Top losers:")
    for r in results["top_losers"].limit(k).collect():
        lines.append(f"  {r['name']}: {r['change_percent']}%")
    lines.append("=" * 50)
    return "\n".join(lines)


def forex_report(df: DataFrame) -> DataFrame:
    """A4/A5: the forex txt-report stats block (reference artifact
    forex_data_report_20250722_100356.txt): record count, max/min/avg price,
    avg spread (excel_writer.py:186-190 — round 4, nulls skipped)."""
    return df.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.round(F.max("mid_price"), 6).alias("max_price"),
        F.round(F.min("mid_price"), 6).alias("min_price"),
        F.round(F.avg("mid_price"), 6).alias("avg_price"),
        F.round(F.avg("spread"), 4).alias("avg_spread"),
    )


# ---------------------------------------------------------------------------
# WARC/WET/WAT export (Common-Crawl interop sinks — engine addition; the
# input_hint pages are Common-Crawl-style, so the natural EXPORT format is
# WARC/1.0 records)
# ---------------------------------------------------------------------------


def wet_records(
    extracted: DataFrame,
    url_col: str = "canonical_url",
    ts_col: str = "fetch_ts",
    text_col: str = "text",
) -> DataFrame:
    """WET ``conversion`` records (the Common Crawl extracted-text sidecar
    format) as one string column ``record`` — pure Column concat, no UDF.
    The payload rides through a string column, so the export is faithful
    for UTF-8 text; ``Content-Length`` is the payload's OCTET length, per
    the WARC spec. ``sources/warc.py::warc_scan`` reads it back."""
    url = F.col(url_col)
    body = F.col(text_col).cast("string")
    record_id = _urn_uuid(
        F.md5(F.concat_ws("|", F.lit("wet"), url, F.col(ts_col).cast("string")))
    )
    crlf = F.lit("\r\n")
    record = F.concat(
        F.lit("WARC/1.0"), crlf,
        F.lit("WARC-Type: conversion"), crlf,
        F.lit("WARC-Target-URI: "), url, crlf,
        F.lit("WARC-Date: "),
        F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'"), crlf,
        F.lit("WARC-Record-ID: "), record_id, crlf,
        F.lit("Content-Type: text/plain"), crlf,
        F.lit("Content-Length: "), F.octet_length(body).cast("string"), crlf,
        crlf, body, crlf, crlf,
    )
    return extracted.filter(body.isNotNull()).select(
        url.alias("url"), record.alias("record")
    )


def wat_records(
    fetched: DataFrame,
    links: DataFrame,
    url_col: str = "canonical_url",
    ts_col: str = "fetch_ts",
    html_col: str = "html",
    target_col: str = "target",
) -> DataFrame:
    """WAT ``metadata`` records (the Common Crawl link/title-metadata
    sidecar — the third of the WARC/WET/WAT triple) as one string column
    ``record`` — pure Columns end-to-end: the JSON envelope is
    ``to_json(struct(...))``, links are grouped with one keyed agg.

    Envelope subset (declared): ``Envelope.WARC-Header-Metadata``
    (URI/Date/Type) and ``Envelope.Payload-Metadata.HTTP-Response-
    Metadata.HTML-Metadata`` with ``Head.Title`` (regexp over the page
    head; omitted when the page has none — to_json drops null fields,
    matching the reference WAT writer's absent-key behavior) and
    ``Links`` as ``{"path": "A@/href", "url": target}`` entries sorted by
    target URL (document order is not retained through the keyed agg;
    sorting is the deterministic, re-export-stable choice).

    ``WARC-Refers-To`` carries the same deterministic urn:uuid
    (md5 of url|ts) that ``warc_revisit_records`` assigns the response
    record, so a WAT shard cross-references its WARC shard without any join
    at read time.
    """
    url = F.col(url_col)
    body = F.col(html_col).cast("string")
    grouped = links.groupBy(F.col(url_col)).agg(
        F.array_sort(F.collect_list(F.col(target_col))).alias("_targets")
    )
    j = fetched.filter(body.isNotNull()).join(grouped, on=url_col, how="left")

    title_raw = F.regexp_extract(body, r"(?is)<title[^>]*>\s*(.*?)\s*</title>", 1)
    title = F.when(title_raw != "", title_raw)
    targets = F.coalesce(F.col("_targets"), F.array().cast("array<string>"))
    wdate = F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")

    html_meta = F.struct(
        F.struct(title.alias("Title")).alias("Head"),
        F.transform(
            targets,
            lambda t: F.struct(F.lit("A@/href").alias("path"), t.alias("url")),
        ).alias("Links"),
    )
    envelope = F.struct(
        F.struct(
            url.alias("WARC-Target-URI"),
            wdate.alias("WARC-Date"),
            F.lit("response").alias("WARC-Type"),
        ).alias("WARC-Header-Metadata"),
        F.struct(
            F.struct(html_meta.alias("HTML-Metadata"))
            .alias("HTTP-Response-Metadata")
        ).alias("Payload-Metadata"),
    )
    payload = F.to_json(F.struct(envelope.alias("Envelope")))

    resp_h = F.md5(F.concat_ws("|", url, F.col(ts_col).cast("string")))
    wat_h = F.md5(F.concat_ws("|", F.lit("wat"), url, F.col(ts_col).cast("string")))

    crlf = F.lit("\r\n")
    record = F.concat(
        F.lit("WARC/1.0"), crlf,
        F.lit("WARC-Type: metadata"), crlf,
        F.lit("WARC-Target-URI: "), url, crlf,
        F.lit("WARC-Date: "), wdate, crlf,
        F.lit("WARC-Record-ID: "), _urn_uuid(wat_h), crlf,
        F.lit("WARC-Refers-To: "), _urn_uuid(resp_h), crlf,
        F.lit("Content-Type: application/json"), crlf,
        F.lit("Content-Length: "), F.octet_length(payload).cast("string"), crlf,
        crlf, payload, crlf, crlf,
    )
    return j.select(url.alias("url"), record.alias("record"))


def write_commodity_workbook(df: DataFrame, path: str, k_summary: int = 5) -> None:
    """S11 on REAL xlsx bytes (excel_writer.py:20-87): one 全部商品 sheet
    (all rows), one sheet per category sorted by current_price desc (name
    tiebreak), and a 统计摘要 summary sheet — written with the stdlib
    SpreadsheetML writer (`sources/xlsx.py`), no xlsx library required.

    Workbook assembly is a driver-side collect by design: the reference's
    report is a human-sized artifact (hundreds of rows); the distributed
    analogue for big outputs stays `write_category_report` (partitioned
    parquet)."""
    from ..sources.xlsx import write_xlsx

    cols = ["name", "category", "current_price", "change_percent", "source"]
    rows = (
        _ensure_columns(df, cols)
        .select(*cols)
        .orderBy(F.desc("current_price"), "name")
        .collect()
    )
    header = ["商品名称", "分类", "当前价格", "涨跌幅%", "来源"]
    def sheet_rows(rws):
        return [header] + [
            [r["name"], r["category"], r["current_price"], r["change_percent"], r["source"]]
            for r in rws
        ]

    from ..sources.xlsx import safe_sheet_name

    sheets: dict[str, list[list]] = {"全部商品": sheet_rows(rows)}
    by_cat: dict[str, list] = {}
    for r in rows:
        by_cat.setdefault(r["category"] or "未分类", []).append(r)
    # Category strings are scraped input: sanitize to Excel's sheet-name
    # rules and dedupe against the reserved 全部商品/统计摘要 sheets.
    taken = {"全部商品", "统计摘要"}
    for cat in sorted(by_cat):
        sheets[safe_sheet_name(cat, taken)] = sheet_rows(by_cat[cat])
    sheets["统计摘要"] = [
        ["指标", "值"],
        ["总数", float(len(rows))],
        ["分类数", float(len(by_cat))],
        *[
            [f"Top{i + 1}", r["name"]]
            for i, r in enumerate(rows[:k_summary])
        ],
    ]
    write_xlsx(path, sheets)


def _urn_uuid(h):
    """Deterministic <urn:uuid:...> from an md5 hex column — the record id
    derivation every WARC/WET/WAT writer here shares."""
    return F.concat(
        F.lit("<urn:uuid:"),
        F.substring(h, 1, 8), F.lit("-"), F.substring(h, 9, 4), F.lit("-"),
        F.substring(h, 13, 4), F.lit("-"), F.substring(h, 17, 4), F.lit("-"),
        F.substring(h, 21, 12), F.lit(">"),
    )


def warc_revisit_records(
    history: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "text",
) -> DataFrame:
    """Dedup-aware WARC stream over a versioned crawl history (WARC/1.0
    §6.7.2 identical-payload-digest — what Heritrix/Common Crawl write on
    recrawl): the FIRST capture of each (url, payload-digest) is a full
    ``response`` record carrying WARC-Payload-Digest; every later capture
    with the same digest becomes a body-less ``revisit`` record whose
    WARC-Refers-To / WARC-Refers-To-Date point at that first capture (the
    same deterministic urn:uuid derivation, so the reference resolves in
    re-exports). At 10^10 URLs this is the storage win of revisit dedup:
    unchanged recrawls cost ~300 header bytes instead of the page body.

    One shuffle: the (url, digest) window that elects the first capture.
    Returns (url, warc_ts, warc_type, record).
    """
    from pyspark.sql import Window

    url, ts = F.col(url_col), F.col(ts_col)
    body = F.col(payload_col).cast("string")
    digest = F.md5(body)
    first_ts = F.min(ts).over(Window.partitionBy(url, digest))
    rec_id = _urn_uuid(F.md5(F.concat_ws("|", url, ts.cast("string"))))
    ref_id = _urn_uuid(
        F.md5(F.concat_ws("|", url, F.col("__first_ts").cast("string")))
    )
    crlf = F.lit("\r\n")
    wdate = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    ref_date = F.date_format(F.col("__first_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    response = F.concat(
        F.lit("WARC/1.0"), crlf,
        F.lit("WARC-Type: response"), crlf,
        F.lit("WARC-Target-URI: "), url, crlf,
        F.lit("WARC-Date: "), wdate, crlf,
        F.lit("WARC-Record-ID: "), rec_id, crlf,
        F.lit("WARC-Payload-Digest: md5:"), F.col("__digest"), crlf,
        F.lit("Content-Type: text/html"), crlf,
        F.lit("Content-Length: "), F.octet_length(body).cast("string"), crlf,
        crlf, body, crlf, crlf,
    )
    revisit = F.concat(
        F.lit("WARC/1.0"), crlf,
        F.lit("WARC-Type: revisit"), crlf,
        F.lit("WARC-Target-URI: "), url, crlf,
        F.lit("WARC-Date: "), wdate, crlf,
        F.lit("WARC-Record-ID: "), rec_id, crlf,
        F.lit("WARC-Refers-To: "), ref_id, crlf,
        F.lit("WARC-Refers-To-Target-URI: "), url, crlf,
        F.lit("WARC-Refers-To-Date: "), ref_date, crlf,
        F.lit("WARC-Profile: "
              "http://netpreservation.org/warc/1.0/revisit/"
              "identical-payload-digest"), crlf,
        F.lit("WARC-Payload-Digest: md5:"), F.col("__digest"), crlf,
        F.lit("Content-Length: 0"), crlf,
        crlf, crlf,
    )
    is_revisit = ts > F.col("__first_ts")
    return (
        history.filter(body.isNotNull())
        .withColumn("__digest", digest)
        .withColumn("__first_ts", first_ts)
        .select(
            url.alias("url"),
            ts.alias("warc_ts"),
            F.when(is_revisit, F.lit("revisit"))
            .otherwise(F.lit("response")).alias("warc_type"),
            F.when(is_revisit, revisit).otherwise(response).alias("record"),
        )
    )
