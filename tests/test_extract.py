"""Byte-identical extraction tests (SURVEY §5.2.2) — pure-Python core +
the mapInPandas stages over the synthetic corpus."""

import json

import pytest

from pyspark.sql import functions as F

from web_crawler_spark.plans.extract import (
    extract_commodity_rows,
    extract_simple_rows,
    extract_text,
    parse_html,
)


def test_commodity_row_filters():
    """P1 filters (business_insider.py:120-123) + price/change extraction."""
    html = """<table>
    <tr><th>Commodity</th><th>Price</th><th>Change</th></tr>
    <tr><td>Gold</td><td>2,391.20</td><td>+1.23%</td><td>GC1:COM</td></tr>
    <tr><td>AB</td><td>12.0</td><td>+1%</td></tr>
    <tr><td>12345</td><td>9.0</td><td>-1%</td></tr>
    <tr><td>Milk Price</td><td>1.0</td><td>+0%</td></tr>
    <tr><td>Oats</td><td>no digits</td><td>+2%</td></tr>
    <tr><td>Wheat</td><td>5.57</td></tr>
    </table>"""
    rows = extract_commodity_rows(html)
    # header dropped (contains 'commodity'+'price'), AB (len<=2), 12345
    # (isdigit), 'Milk Price' (contains 'price'); Wheat row has only 2 cells →
    # dropped. Oats: 'no digits' has no digit, but the reference's loop then
    # pulls the price from the CHANGE cell '+2%' → 2.0 (business_insider.py:
    # 129-137 — price and change can come from the same cell).
    assert rows == [
        {"name": "Gold", "price": 2391.20, "change": "+1.23%"},
        {"name": "Oats", "price": 2.0, "change": "+2%"},
    ]


def test_commodity_change_priority():
    """First later cell with digits wins price; first with %/+/- wins change."""
    html = "<table><tr><td>Corn</td><td>-</td><td>4.42</td><td>+0.5%</td></tr></table>"
    rows = extract_commodity_rows(html)
    # '-' has no digit → skipped for price but IS the change (contains '-')
    assert rows == [{"name": "Corn", "price": 4.42, "change": "-"}]


def test_simple_rows_header_drop():
    html = """<table>
    <tr><td>Name</td><td>Price</td></tr>
    <tr><td>Gold</td><td>$2,391.20</td></tr>
    <tr><td>Symbol</td><td>1.0</td></tr>
    </table>"""
    assert extract_simple_rows(html) == [{"name": "Gold", "current_price": 2391.20}]


def test_nested_table_bs4_semantics():
    """BS find_all('tr') descends into nested tables → inner rows appear in
    both tables; cell text concatenates nested content (get_text strip)."""
    html = ("<table><tr><td>Outer A&amp;B</td><td>"
            "<table><tr><td>内部</td><td>1,234.56</td><td>+0.5%</td></tr></table>"
            "</td><td>99.9</td></tr></table>")
    p = parse_html(html)
    assert p.tables[0] == [
        ["Outer A&B", "内部1,234.56+0.5%", "99.9"],
        ["内部", "1,234.56", "+0.5%"],
    ]
    assert p.tables[1] == [["内部", "1,234.56", "+0.5%"]]


def test_entities_and_whitespace():
    # contract: entities decoded; each text CHUNK stripped at its ends
    # (convert_charrefs merges entity+text into one chunk, so interior
    # whitespace runs survive — matches get_text on a single NavigableString)
    html = "<p>  A&amp;B  &lt;tag&gt;\n\n 混合&nbsp;text </p>"
    assert extract_text(html) == "A&B  <tag>\n\n 混合\xa0text"
    # chunks split by tags are individually stripped and space-joined
    assert extract_text("<p> a </p><p> b </p>") == "a b"


def test_script_style_skipped():
    html = "<script>var x=1;</script><style>.a{}</style><p>visible</p>"
    assert extract_text(html) == "visible"


def test_link_extraction():
    html = '<a href="/x">a</a><a name="no-href">b</a><a href="#f">c</a>'
    assert parse_html(html).links == ["/x", "#f"]


def test_text_stage_byte_identity(spark):
    """input_hint invariant: engine text == golden `text` column, byte-for-byte."""
    from web_crawler_spark.plans.extract import text_stage
    from web_crawler_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 120, seed=7)
    html_pages = pages.filter(~F.col("url").rlike("json_api|hq_str"))
    joined = text_stage(html_pages).join(html_pages.select("url", "text"), "url")
    assert joined.filter(F.col("extracted_text") != F.col("text")).count() == 0
    assert joined.count() == html_pages.count()


def test_link_resolution(spark):
    from web_crawler_spark.plans.extract import resolve_links

    links = spark.createDataFrame(
        [
            ("https://h.com/a/b", "https://x.com/p"),
            ("https://h.com/a/b", "//y.com/q"),
            ("https://h.com/a/b", "/root"),
            ("https://h.com/a/b", "#frag"),
            ("https://h.com/a/b", "rel/c.html"),
        ],
        "url string, link string",
    )
    got = {r["link"]: r["resolved_url"] for r in resolve_links(links).collect()}
    assert got == {
        "https://x.com/p": "https://x.com/p",
        "//y.com/q": "https://y.com/q",
        "/root": "https://h.com/root",
        "rel/c.html": "https://h.com/a/rel/c.html",
    }


def test_coingecko_stage(spark):
    from web_crawler_spark.plans.extract import coingecko_stage

    body = json.dumps({"bitcoin": {"usd": 117000.0}, "solana": {"usd": 150.5}, "junk": {"eur": 1.0}})
    pages = spark.createDataFrame([("u1", bytearray(body.encode()))], "url string, html binary")
    rows = {r["name"]: r["current_price"] for r in coingecko_stage(pages).collect()}
    assert rows == {"bitcoin": 117000.0, "solana": 150.5}


def test_table_prefilter_is_result_identical(spark):
    """The JVM '<table' prefilter must not change results: uppercase tags
    pass through (parser matches case-insensitively), table-less pages
    yield zero rows either way."""
    from web_crawler_spark.plans.extract import (
        commodity_table_stage,
        extract_commodity_rows,
    )

    upper = '<html><TABLE><TR><TD>Gold</TD><TD>1900.5</TD><TD>+1%</TD></TR></TABLE></html>'
    no_table = "<html><p>just text, no price grid</p></html>"
    tricky = '<html><p>mentions the word table but no tag</p></html>'
    pages = spark.createDataFrame(
        [("u1", upper.encode()), ("u2", no_table.encode()), ("u3", tricky.encode())],
        ["url", "html"],
    )
    got = [
        (r["url"], r["name"]) for r in commodity_table_stage(pages).collect()
    ]
    # python reference on the same strings
    want = [
        ("u" + str(i + 1), r["name"])
        for i, h in enumerate([upper, no_table, tricky])
        for r in extract_commodity_rows(h)
    ]
    assert sorted(got) == sorted(want)
    assert ("u1", "Gold") in got or want == got  # uppercase table survived filter


def test_tables_to_markdown_rendering():
    from web_crawler_spark.plans.extract import tables_to_markdown

    html = ("<table><tr><th>item</th><th>qty</th></tr>"
            "<tr><td>a|b</td><td>2</td></tr>"
            "<tr><td>only-one-cell</td></tr></table>")
    (md,) = tables_to_markdown(html)
    assert md.splitlines() == [
        "| item | qty |",
        "| --- | --- |",
        "| a\\|b | 2 |",
        "| only-one-cell |  |",
    ]


def test_tables_to_markdown_malformed_and_empty():
    from web_crawler_spark.plans.extract import tables_to_markdown

    # unclosed cells/rows: implied-end recovery still yields the grid
    got = tables_to_markdown("<table><tr><td>x<td>y<tr><td>z</table>")
    assert got and got[0].splitlines()[0] == "| x | y |"
    assert tables_to_markdown("no tables here") == []
    assert tables_to_markdown("") == []


def test_markdown_tables_stage(spark):
    from web_crawler_spark.plans.extract import markdown_tables_stage

    df = spark.createDataFrame(
        [("u1", "<table><tr><th>h</th></tr><tr><td>v</td></tr></table>"
                "<table><tr><td>solo</td></tr></table>"),
         ("u2", "plain text"),
         ("u3", None)],
        "url string, html string",
    )
    got = {(r["url"], r["table_idx"]): r["markdown"]
           for r in markdown_tables_stage(df).collect()}
    assert got[("u1", 0)].startswith("| h |")
    assert got[("u1", 1)] == "| solo |\n| --- |"
    assert not any(u == "u2" or u == "u3" for u, _ in got)


def test_extract_links_rel_nofollow():
    from web_crawler_spark.plans.extract import extract_links_rel

    html = ('<a href="/a">x</a>'
            '<a rel="nofollow" href="/b">y</a>'
            '<a href="/c" rel="ugc sponsored nofollow">z</a>'
            '<a href="/d" rel="author">w</a>'
            '<a rel="nofollow">no href</a>')
    assert extract_links_rel(html) == [
        ("/a", False), ("/b", True), ("/c", True), ("/d", False)]
    # the plain link list is untouched
    assert parse_html(html).links == ["/a", "/b", "/c", "/d"]


def _combined_reference(pages):
    """(url, name, price, change, link) rows of ``combined_extract_stage``
    from the pure-Python extractors: a page's commodity rows, then one row
    per href."""
    out = []
    for r in pages.select("url", "html").collect():
        html = bytes(r["html"]).decode("utf-8", errors="replace")
        out += [(r["url"], c["name"], c["price"], c["change"], None)
                for c in extract_commodity_rows(html)]
        out += [(r["url"], None, None, None, link) for link in parse_html(html).links]
    return out


def test_combined_extract_stage_carries_extra_columns(spark):
    """A ``(url, html)`` input gives the five extraction columns; any other
    input column rides through unchanged onto each of its page's rows."""
    from web_crawler_spark.plans.extract import COMBINED_SCHEMA, combined_extract_stage
    from web_crawler_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 60, seed=11).select("url", "html").localCheckpoint()
    want = _combined_reference(pages)
    assert any(r[1] is not None for r in want) and any(r[4] is not None for r in want)

    plain = combined_extract_stage(pages)
    assert plain.schema == COMBINED_SCHEMA
    assert sorted(plain.collect(), key=repr) == sorted(want, key=repr)

    depth_of = {r["url"]: i % 3 for i, r in enumerate(pages.collect())}
    with_depth = pages.join(
        spark.createDataFrame(list(depth_of.items()), "url string, depth int"), "url"
    )
    got = combined_extract_stage(with_depth)
    assert got.columns == [*COMBINED_SCHEMA.names, "depth"]
    assert got.schema["depth"].dataType == with_depth.schema["depth"].dataType
    rows = got.collect()
    assert all(r["depth"] == depth_of[r["url"]] for r in rows)
    assert sorted((tuple(r)[:5] for r in rows), key=repr) == sorted(want, key=repr)

    empty = combined_extract_stage(with_depth.limit(0))
    assert empty.schema == got.schema
    assert empty.count() == 0


# -- the crawl epoch's Arrow pass over its fetched plan --------------------------


@pytest.fixture(scope="module")
def fetched_parts(spark):
    """A frame shaped like the crawl epoch's ``fetched`` plan, in four
    partitions of 12 pages: partition 1 holds only robots-denied rows (no
    html, no fetch_ts), partition 2 is empty, and partitions 0 and 3 mix
    ok and error rows, some without a fetch_ts."""
    from web_crawler_spark.functions import urltools as U
    from web_crawler_spark.sources.pages import generate_pages

    part = F.spark_partition_id()
    h = F.col("url_hash")
    pages = U.with_url_columns(generate_pages(spark, 48, seed=11, partitions=4))
    status = (
        F.when(part == 1, "robots_denied").when(h % 4 == 0, "error").otherwise("ok")
    )
    return (
        pages.select(
            "url", "canonical_url", "url_hash", "host",
            F.lit(1).alias("priority"),
            F.pmod(h, 3).cast("int").alias("depth"),
            F.lit(None).cast("int").alias("seq"),
            F.when((part != 1) & (h % 7 != 0), F.timestamp_seconds(
                1_750_000_000 + F.pmod(h, 1000))).alias("fetch_ts"),
            F.when(status == "ok", F.col("html")).alias("html"),
            "text", "lang", status.alias("status"),
        )
        .filter(part != 2)
        .localCheckpoint()
    )


@pytest.fixture
def small_arrow_batches(spark):
    """Arrow batches of at most 3 rows, so a partition spans several."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, before)


def _reference_metrics(fetched, epoch):
    """The per-partition metrics rows as a native ``groupBy(epoch,
    spark_partition_id())`` makes them, with one exchange."""
    return (
        fetched.withColumn("epoch", F.lit(epoch))
        .withColumn("partition_id", F.spark_partition_id())
        .groupBy("epoch", "partition_id")
        .agg(
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).cast("bigint").alias("scraped_count"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).cast("bigint").alias("error_count"),
            F.min("fetch_ts").alias("start_ts"),
            F.max("fetch_ts").alias("end_ts"),
        )
    )


def test_fetched_pass_metrics_match_the_native_groupby(spark, fetched_parts, small_arrow_batches):
    """One metrics row per non-empty partition, equal to the native
    per-partition aggregate over the same frame: a robots-denied-only
    partition has null start and end, an empty partition has no row, and
    a partition of several Arrow batches counts and spans all of them."""
    from web_crawler_spark.plans.extract import METRICS, fetched_pass

    want = sorted(_reference_metrics(fetched_parts, 5).collect())
    got = sorted(
        fetched_pass(fetched_parts)
        .filter(F.col("kind") == METRICS)
        .select(F.lit(5).alias("epoch"), "partition_id", "scraped_count",
                "error_count", "start_ts", "end_ts")
        .collect()
    )
    assert got == want
    by_part = {r["partition_id"]: r for r in want}
    assert sorted(by_part) == [0, 1, 3]
    denied = by_part[1]
    assert denied["scraped_count"] == 0 and denied["error_count"] == 12
    assert denied["start_ts"] is None and denied["end_ts"] is None
    for p in (0, 3):
        r = by_part[p]
        assert r["scraped_count"] + r["error_count"] == 12 > 3, r
        assert r["scraped_count"] > 0 and r["error_count"] > 0, r
        assert r["start_ts"] < r["end_ts"], r


def test_fetched_pass_extracts_as_combined_stage_and_passes_rows_through(
    spark, fetched_parts, small_arrow_batches
):
    """The pass's extraction rows are the rows ``combined_extract_stage``
    makes of the ok pages, and its fetched rows are the input rows without
    ``html``, their ``status`` read off ``kind``."""
    from web_crawler_spark.plans.extract import (
        LINK,
        METRICS,
        ROW,
        combined_extract_stage,
        fetched_pass,
    )

    frame = fetched_pass(fetched_parts).localCheckpoint()
    assert "html" not in frame.columns
    assert not frame.schema["kind"].nullable and not frame.schema["partition_id"].nullable
    kind = F.col("kind")

    want = combined_extract_stage(
        fetched_parts.filter(F.col("status") == "ok").select(
            F.col("canonical_url").alias("url"), "html", "depth")
    ).collect()
    got = frame.filter(kind.isin(ROW, LINK)).select(
        F.col("canonical_url").alias("url"), "name", "price", "change", "link", "depth"
    ).collect()
    assert any(r["name"] is not None for r in want) and any(r["link"] is not None for r in want)
    assert sorted(got, key=repr) == sorted(want, key=repr)
    assert frame.filter((kind == ROW) & F.col("name").isNull()).count() == 0
    assert frame.filter((kind == LINK) & F.col("link").isNull()).count() == 0

    passed = frame.filter(~kind.isin(ROW, LINK, METRICS)).select(
        *[c for c in fetched_parts.columns if c not in ("html", "status")],
        kind.alias("status"),
    )
    expect = fetched_parts.drop("html")
    assert passed.count() == expect.count() == 36
    assert passed.exceptAll(expect).count() == 0 == expect.exceptAll(passed).count()
