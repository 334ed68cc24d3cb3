"""Anchor-text extraction (the ``anchors`` of plans/extract.parse_html)
and per-target aggregation (operators/graph.anchor_text_summary).

Reference parity note: the reference crawler extracts hrefs only
(pacong/scrapers/generic_scraper.py link walk); anchor text is the
north-rule generalization — the in-link description signal a search/crawl
prioritizer needs. Hrefs must stay byte-identical to the parser's links.
"""

from web_crawler_spark.plans.extract import parse_html


def test_extract_anchors_basic():
    html = '<p><a href="/x">Gold <b>price</b></a> and <a href="#f">F</a></p>'
    assert parse_html(html).anchors == [("/x", "Gold price"), ("#f", "F")]


def test_anchor_hrefs_match_extract_links_exactly():
    html = (
        '<a href="/a">one</a><a>no href</a><a href="">empty</a>'
        '<a href="/b"><img src="i.png"></a><a href="/c">tail'
    )
    assert [h for h, _ in parse_html(html).anchors] == parse_html(html).links


def test_nested_anchor_auto_closes_and_eof_flush():
    # a new <a> closes the open one (illegal nesting, browser behavior);
    # an unclosed trailing <a> keeps its accumulated text
    html = '<a href="/a">first <a href="/b">second</a> tail <a href="/c">end'
    assert parse_html(html).anchors == [
        ("/a", "first"),
        ("/b", "second"),
        ("/c", "end"),
    ]


def test_anchor_text_skips_script_and_collapses_chunks():
    html = '<a href="/x"> A <script>var x;</script> B \n C </a>'
    assert parse_html(html).anchors == [("/x", "A B C")]


def test_anchor_text_summary_semantics(spark):
    from web_crawler_spark.operators.graph import anchor_text_summary

    rows = [
        # target T: "gold" x2 (one needing normalization), "oro" x1,
        # from 2 distinct hosts; one empty anchor dropped
        ("https://a.com/1", "https://t.com/", "  Gold "),
        ("https://a.com/2", "https://t.com/", "gold"),
        ("https://b.com/1", "https://t.com/", "Oro"),
        ("https://b.com/2", "https://t.com/", ""),
        # target U: tie between "x" and "y" -> lexicographic winner "x"
        ("https://a.com/3", "https://u.com/", "y"),
        ("https://a.com/4", "https://u.com/", "x"),
    ]
    df = spark.createDataFrame(
        rows, "from_url string, resolved_url string, anchor string"
    )
    out = {r["target"]: r.asDict() for r in anchor_text_summary(df).collect()}
    t = out["https://t.com/"]
    assert (t["n_links"], t["n_hosts"], t["n_anchors"]) == (3, 2, 2)
    assert (t["top_anchor"], t["top_anchor_count"]) == ("gold", 2)
    u = out["https://u.com/"]
    assert (u["top_anchor"], u["top_anchor_count"]) == ("x", 1)
