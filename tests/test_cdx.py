"""CDX(J) index: SURT urlkey semantics."""

from pyspark.sql import functions as F

from web_crawler_spark.functions.urltools import surt_key


def _keys(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    return [
        r["k"] for r in df.select(surt_key(F.col("url")).alias("k")).collect()
    ]


def test_surt_key_semantics(spark):
    urls = [
        "http://www.Example.com:8080/Path?b=2&a=1#f",  # www strip, port kept, path lower, query sort, frag drop
        "https://sub.EXAMPLE.com:443/",  # default port drop, scheme-agnostic
        "http://example.com",  # empty path -> /
        "https://www2.blog.example.org/A/B?z=9",  # www2 strip
        "http://example.com:80/x",  # http default port drop
    ]
    assert _keys(spark, urls) == [
        "com,example:8080)/path?a=1&b=2",
        "com,example,sub)/",
        "com,example)/",
        "org,example,blog)/a/b?z=9",
        "com,example)/x",
    ]


def test_surt_key_scheme_agnostic_and_total(spark):
    # http/https revisits of the same resource collide on one key
    a, b = _keys(spark, ["http://a.com/x", "https://A.COM/x"])
    assert a == b == "com,a)/x"
    # junk URLs stay distinct (no NULL collapse), lowercased raw fallback
    j1, j2 = _keys(spark, ["not a url", "also not!"])
    assert j1 != j2 and j1 == "not a url"
