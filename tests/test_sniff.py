"""Content-type magic-byte sniff + charset cascade (BOM > meta > default)."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_crawler_spark.functions import sniff as S


def _sniff(spark, payloads: list[bytes | None]) -> list:
    df = spark.createDataFrame([(p,) for p in payloads], "body binary")
    return [r["mime"] for r in
            df.select(S.content_type_sniff(F.col("body")).alias("mime")).collect()]


class TestMime:
    def test_magic_numbers(self, spark):
        got = _sniff(spark, [
            bytes.fromhex("89504E47") + b"xxxx",
            bytes.fromhex("47494638") + b"39a...",
            bytes.fromhex("FFD8FF") + b"\xe0jpeg",
            b"%PDF-1.7 ...",
            b"PK\x03\x04zipzip",
            bytes.fromhex("1F8B") + b"\x08gz",
        ])
        assert got == ["image/png", "image/gif", "image/jpeg",
                       "application/pdf", "application/zip", "application/gzip"]

    def test_html_and_xml_probes(self, spark):
        got = _sniff(spark, [
            b"<!DOCTYPE html><html>...",
            b"  \n<html lang='en'>",
            b"\xef\xbb\xbf<html>",          # BOM before markup
            b"<?xml version='1.0'?><urlset>",
            b"just plain words",
            b"<plausible-custom-tag>",       # unknown tag: not html
        ])
        assert got == ["text/html", "text/html", "text/html", "text/xml",
                       "application/octet-stream", "application/octet-stream"]

    def test_magic_beats_text_probe(self, spark):
        # A PNG whose payload happens to contain '<html' still sniffs PNG.
        got = _sniff(spark, [bytes.fromhex("89504E47") + b"<html>"])
        assert got == ["image/png"]

    def test_null_and_empty(self, spark):
        got = _sniff(spark, [None, b""])
        assert got == [None, None]


class TestCharset:
    def test_bom_detection(self, spark):
        rows = [
            (b"\xef\xbb\xbfhello", "utf-8"),
            (b"\xff\xfeh\x00", "utf-16-le"),
            (b"\xfe\xffh", "utf-16-be"),
            (b"\xff\xfe\x00\x00h", "utf-32-le"),
            (b"\x00\x00\xfe\xffh", "utf-32-be"),
            (b"hello", None),
        ]
        df = spark.createDataFrame([(b,) for b, _ in rows], "body binary")
        got = [r[0] for r in df.select(S.bom_charset(F.col("body"))).collect()]
        assert got == [e for _, e in rows]

    def test_meta_charset_forms(self, spark):
        rows = [
            ('<meta charset="UTF-8">', "utf-8"),
            ("<meta charset=iso-8859-1>", "iso-8859-1"),
            ("<META CHARSET='Shift_JIS'>", "shift_jis"),
            ('<meta http-equiv="Content-Type" content="text/html; charset=GBK">',
             "gbk"),
            ("<p>no meta at all</p>", None),
        ]
        df = spark.createDataFrame([(h,) for h, _ in rows], "html string")
        got = [r[0] for r in df.select(S.meta_charset(F.col("html"))).collect()]
        assert got == [e for _, e in rows]

    def test_cascade_precedence(self, spark):
        # BOM wins over a conflicting meta; meta wins over the default.
        html = '<html><head><meta charset="iso-8859-1"></head></html>'
        df = spark.createDataFrame(
            [(b"\xef\xbb\xbf" + html.encode(), html),
             (html.encode(), html),
             (b"<p>x</p>", "<p>x</p>")],
            "body binary, html string",
        )
        got = [r[0] for r in
               df.select(S.detect_charset(F.col("body"), F.col("html"))).collect()]
        assert got == ["utf-8", "iso-8859-1", "utf-8"]
