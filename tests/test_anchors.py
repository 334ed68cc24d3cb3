"""Anchor-text aggregation per target (operators/graph.anchor_text_summary):
the in-link description signal a search/crawl prioritizer needs; the
reference crawler extracts hrefs only (pacong/scrapers/generic_scraper.py
link walk).
"""


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
