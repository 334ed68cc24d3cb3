"""WARC/WET read path (sources/warc.py): Content-Length framing, HTTP
header split on response records, gzip-member transport, per-file error
isolation, and the export→ingest roundtrip against the plans/report.py
WARC/WET/WAT record writers."""

import gzip

from pyspark.sql import functions as F

from web_crawler_spark.sources import warc as W


def _mk_archive() -> bytes:
    """warcinfo + request + response (HTTP message, body contains the
    CRLF CRLF separator) + conversion — the four Common Crawl shapes."""
    recs = [
        W.warc_record_bytes(
            "urn:x", "2025-01-01T00:00:00Z", b"software: test\r\n",
            warc_type="warcinfo", content_type="application/warc-fields",
        ),
        W.warc_record_bytes(
            "https://ex.com/a", "2025-01-01T00:00:01Z",
            b"GET /a HTTP/1.1\r\nHost: ex.com\r\n\r\n",
            warc_type="request", content_type="application/http; msgtype=request",
        ),
        W.warc_record_bytes(
            "https://ex.com/a", "2025-01-01T00:00:02Z",
            b"<p>body with\r\n\r\nembedded separator</p>",
        ),
        W.warc_record_bytes(
            "https://ex.com/a", "2025-01-01T00:00:03Z",
            "body with\n\nembedded separator".encode(),
            warc_type="conversion", content_type="text/plain",
        ),
    ]
    return b"".join(recs)


def test_parse_warc_framing_and_http_split():
    recs = W.parse_warc(_mk_archive())
    assert [r["warc_type"] for r in recs] == [
        "warcinfo", "request", "response", "conversion"
    ]
    resp = recs[2]
    # HTTP headers are stripped, status surfaced, body byte-identical —
    # including the CRLF CRLF inside it (Content-Length framing, not split)
    assert resp["http_status"] == 200
    assert resp["payload"] == b"<p>body with\r\n\r\nembedded separator</p>"
    assert recs[3]["payload"].decode() == "body with\n\nembedded separator"
    assert resp["url"] == "https://ex.com/a"
    assert resp["warc_date"] == "2025-01-01T00:00:02Z"
    # request records stay raw (request messages start with the method
    # token, not HTTP/ — only response messages get the header split)
    assert recs[1]["payload"].startswith(b"GET /a HTTP/1.1")


def test_parse_warc_gzip_members_and_whole_file():
    raw = _mk_archive()
    # Common Crawl layout: one gzip member per record
    members = W.warc_gz_bytes(
        [W.warc_record_bytes("https://ex.com/a", "2025-01-01T00:00:02Z", b"<p>x</p>")] * 3
    )
    assert len(W.parse_warc(members)) == 3
    # whole-file gzip
    assert len(W.parse_warc(gzip.compress(raw, mtime=0))) == 4


def test_parse_warc_bounded_decompression():
    bomb = gzip.compress(b"\x00" * (1 << 20), mtime=0)
    try:
        W.parse_warc(bomb, max_bytes=1 << 16)
        raise AssertionError("expected ValueError")
    except ValueError as exc:
        assert "decompressed" in str(exc)


def test_parse_warc_truncated_raises():
    data = _mk_archive()[:-20]
    try:
        W.parse_warc(data)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_warc_scan_error_isolation(spark, tmp_path):
    good = tmp_path / "good.warc"
    good.write_bytes(_mk_archive())
    (tmp_path / "bad.warc").write_bytes(b"WARC/1.0\r\nContent-Length: zzz\r\n\r\n")
    rows = W.warc_scan(spark, str(tmp_path)).collect()
    errs = [r for r in rows if r.warc_type == "error"]
    assert len(errs) == 1 and "bad.warc" in errs[0].warc_path
    assert len([r for r in rows if r.warc_type == "response"]) == 1


def test_export_ingest_roundtrip(spark, tmp_path):
    """warc_revisit_records (column-side export; first captures are full
    response records) → warc_scan reads back the same (url, body) set —
    the Common-Crawl interop loop closes."""
    from web_crawler_spark.plans.report import warc_revisit_records

    hist = spark.createDataFrame(
        [
            ("https://a.com/x", "2025-07-22 10:00:00", "<p>héllo wörld</p>"),
            ("https://b.com/y", "2025-07-22 10:00:02", "<table><tr><td>1</td></tr></table>"),
        ],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    out = str(tmp_path / "warc_out")
    warc_revisit_records(hist).select("record").write.mode("overwrite").text(out)

    back = W.warc_scan(spark, out).orderBy("url").collect()
    assert [r.warc_type for r in back] == ["response", "response"]
    assert [(r.url, bytes(r.payload).decode("utf-8")) for r in back] == [
        ("https://a.com/x", "<p>héllo wörld</p>"),
        ("https://b.com/y", "<table><tr><td>1</td></tr></table>"),
    ]
    assert back[0].warc_date == "2025-07-22T10:00:00Z"


def test_wet_export_ingest_roundtrip(spark, tmp_path):
    """wet_records → warc_scan: the extracted-text interop loop closes too."""
    from web_crawler_spark.plans.report import wet_records

    docs = spark.createDataFrame(
        [("https://a.com/x", "2025-07-22 10:00:00", "extracted tëxt\nline two")],
        "canonical_url string, fetch_ts string, text string",
    ).withColumn("fetch_ts", F.col("fetch_ts").cast("timestamp"))
    out = str(tmp_path / "wet_out")
    wet_records(docs).select("record").write.mode("overwrite").text(out)
    back = W.warc_scan(spark, out).collect()
    assert len(back) == 1 and back[0].warc_type == "conversion"
    assert bytes(back[0].payload).decode("utf-8") == "extracted tëxt\nline two"
    assert back[0].url == "https://a.com/x"
    assert back[0].warc_date == "2025-07-22T10:00:00Z"


def test_wet_text(spark, tmp_path):
    (tmp_path / "f.warc.gz").write_bytes(
        W.warc_gz_bytes([
            W.warc_record_bytes(
                "https://ex.com/a", "2025-01-01T00:00:03Z", "extracted tëxt".encode(),
                warc_type="conversion", content_type="text/plain",
            )
        ])
    )
    rows = W.warc_scan(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0].warc_type == "conversion"
    assert bytes(rows[0].payload).decode("utf-8") == "extracted tëxt"


def test_wat_export_ingest_roundtrip(spark, tmp_path):
    """wat_records → warc_scan: the metadata leg of the WARC/WET/WAT
    triple closes — title, sorted links, empty-links and no-title pages."""
    import json

    from web_crawler_spark.plans.report import wat_records

    pages = spark.createDataFrame(
        [
            ("https://a.com/x", "2025-07-22 10:00:00",
             "<html><head><title> Página uno </title></head><body>x</body></html>"),
            ("https://a.com/y", "2025-07-22 10:00:01",
             "<html><body>no title here</body></html>"),
        ],
        "canonical_url string, fetch_ts string, html string",
    ).withColumn("fetch_ts", F.col("fetch_ts").cast("timestamp"))
    links = spark.createDataFrame(
        [("https://a.com/x", "https://b.com/2"),
         ("https://a.com/x", "https://b.com/10")],
        "canonical_url string, target string",
    )
    out = str(tmp_path / "wat_out")
    wat_records(pages, links).select("record").write.mode("overwrite").text(out)
    back = {}
    for r in W.warc_scan(spark, out).collect():
        assert r.warc_type == "metadata"
        env = json.loads(bytes(r.payload).decode("utf-8"))["Envelope"]
        html_meta = env["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
        back[r.url] = (
            r.warc_date, html_meta.get("Head", {}).get("Title"),
            [link["url"] for link in html_meta["Links"]],
        )
    assert set(back) == {"https://a.com/x", "https://a.com/y"}
    # whitespace-trimmed title, string-sorted links
    assert back["https://a.com/x"] == (
        "2025-07-22T10:00:00Z", "Página uno", ["https://b.com/10", "https://b.com/2"]
    )
    assert back["https://a.com/y"][1:] == (None, [])


def test_wat_refers_to_matches_warc_record_id(spark):
    """The WAT record's WARC-Refers-To equals the urn:uuid the WARC export
    (warc_revisit_records) assigns the same (url, ts) response record —
    shard cross-referencing without a read-time join."""
    from web_crawler_spark.plans.report import warc_revisit_records, wat_records

    pages = spark.createDataFrame(
        [("https://a.com/x", "2025-07-22 10:00:00", "<html><body>b</body></html>")],
        "canonical_url string, fetch_ts string, html string",
    ).withColumn("fetch_ts", F.col("fetch_ts").cast("timestamp"))
    links = pages.select("canonical_url").withColumn("target", F.lit("https://b.com/"))
    hist = pages.select(
        F.col("canonical_url").alias("url"), F.col("fetch_ts").alias("warc_ts"),
        F.col("html").alias("text"),
    )
    warc = warc_revisit_records(hist).collect()[0].record
    wat = wat_records(pages, links).collect()[0].record
    import re
    rid = re.search(r"WARC-Record-ID: (<urn:uuid:[0-9a-f-]+>)", warc).group(1)
    refers = re.search(r"WARC-Refers-To: (<urn:uuid:[0-9a-f-]+>)", wat).group(1)
    assert rid == refers


def test_warc_revisit_records_dedup_and_resolve(spark, tmp_path):
    """Identical-payload recrawls become body-less revisit records whose
    WARC-Refers-To resolves to the first capture's response record id."""
    import re

    from pyspark.sql import functions as F

    from web_crawler_spark.plans.report import warc_revisit_records
    from web_crawler_spark.sources.warc import warc_scan

    hist = spark.createDataFrame(
        [("u1", "2025-01-01 00:00:00", "same body"),
         ("u1", "2025-01-02 00:00:00", "same body"),     # revisit -> ts1
         ("u1", "2025-01-03 00:00:00", "changed body"),  # new response
         ("u1", "2025-01-04 00:00:00", "same body"),     # revisit -> ts1 (first occurrence)
         ("u2", "2025-01-01 00:00:00", "same body")],    # other url: own response
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    recs = warc_revisit_records(hist, payload_col="text").collect()
    by = {(r["url"], str(r["warc_ts"])): r for r in recs}
    assert by[("u1", "2025-01-01 00:00:00")]["warc_type"] == "response"
    assert by[("u1", "2025-01-03 00:00:00")]["warc_type"] == "response"
    assert by[("u2", "2025-01-01 00:00:00")]["warc_type"] == "response"
    r2 = by[("u1", "2025-01-02 00:00:00")]
    r4 = by[("u1", "2025-01-04 00:00:00")]
    assert r2["warc_type"] == "revisit" and r4["warc_type"] == "revisit"

    def rid(rec, hdr):
        return re.search(rf"{hdr}: (<urn:uuid:[^>]+>)", rec["record"]).group(1)

    first_id = rid(by[("u1", "2025-01-01 00:00:00")], "WARC-Record-ID")
    assert rid(r2, "WARC-Refers-To") == first_id
    assert rid(r4, "WARC-Refers-To") == first_id  # refers to FIRST, not latest
    assert "Content-Length: 0" in r2["record"]
    assert "identical-payload-digest" in r2["record"]

    # roundtrip through the engine's own WARC reader
    out = str(tmp_path / "revisit_warc")
    warc_revisit_records(hist, payload_col="text").select("record") \
        .write.mode("overwrite").text(out)
    back = warc_scan(spark, out).collect()
    types = sorted(r["warc_type"] for r in back)
    assert types == ["response", "response", "response", "revisit", "revisit"]
    assert all(r["payload"] == b"" for r in back if r["warc_type"] == "revisit")
    assert {bytes(r["payload"]) for r in back if r["warc_type"] == "response"} \
        == {b"same body", b"changed body"}


def test_chunked_transfer_encoding_decoded():
    from web_crawler_spark.sources.warc import parse_warc

    body = (b"4\r\nWiki\r\n7\r\npedia i\r\nB\r\nn chunks.\r\n\r\n"
            b"0\r\nX-Trailer: v\r\n\r\n")
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n" + body)
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://e.com/\r\n"
           b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
           b"Content-Type: application/http; msgtype=response\r\n"
           b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
           + http + b"\r\n\r\n")
    rows = parse_warc(rec)
    assert rows[0]["payload"] == b"Wikipedia in chunks.\r\n"


def test_chunked_bad_framing_returns_raw():
    from web_crawler_spark.sources.warc import _dechunk

    assert _dechunk(b"ZZ\r\nnot hex") == b"ZZ\r\nnot hex"
    assert _dechunk(b"5\r\nab") == b"5\r\nab"          # truncated
    assert _dechunk(b"4;ext=1\r\nWiki\r\n0\r\n\r\n") == b"Wiki"
