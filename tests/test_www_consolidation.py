"""url_www_consolidation: pairing semantics and flag arithmetic."""

import __spark_entry__ as E


def test_pairing_and_flag(spark):
    rows = E.queries()["url_www_consolidation"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert not r["apex"].startswith("www.")
        assert r["split_identity"] == (
            r["n_apex_urls"] > 0 and r["n_www_urls"] > 0
        )
        assert r["n_apex_urls"] + r["n_www_urls"] > 0
    # at least one split identity exists in the fixture
    assert any(r["split_identity"] for r in rows)


def test_scheme_consolidation_states(spark):
    from web_crawler_spark.operators import urlfilter as UF

    urls = [
        # migrating: /a served under both schemes, /b http-only
        "http://m.com/a", "https://m.com/a", "http://m.com/b",
        # mixed_disjoint: both schemes, no shared path
        "http://d.com/x", "https://d.com/y",
        # single-scheme hosts
        "http://old.com/1", "https://new.com/1",
        # duplicates + case-fold + non-http scheme ignored
        "HTTP://m.com/a", "HTTP://M.COM/a", "ftp://f.com/z",
        # paths keep their case: /A and /a on opposite schemes are two paths
        "http://c.com/A", "https://c.com/a",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r.host: (r.n_http_urls, r.n_https_urls, r.n_dup_paths, r.state)
        for r in UF.scheme_consolidation(df).collect()
    }
    assert got == {
        "m.com": (2, 1, 1, "migrating"),
        "d.com": (1, 1, 0, "mixed_disjoint"),
        "old.com": (1, 0, 0, "http_only"),
        "new.com": (0, 1, 0, "https_only"),
        "c.com": (1, 1, 0, "mixed_disjoint"),
    }
