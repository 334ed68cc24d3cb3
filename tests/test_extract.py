"""Byte-identical extraction tests (SURVEY §5.2.2) — pure-Python core +
the mapInPandas stages over the synthetic corpus."""

import json

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
