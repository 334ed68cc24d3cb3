"""End-to-end pipeline + validation + aggregation tests over the
deterministic record fixtures (FIXTURES.md F-3/F-4)."""

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.operators import aggregate as A
from web_crawler_spark.operators import validate as V
from web_crawler_spark.plans import pipeline as PL
from web_crawler_spark.sources.records import (
    CLOCK,
    generate_forex_records,
    generate_raw_records,
)

def CLOCK_COL():
    return F.lit(CLOCK).cast("timestamp")


def test_process_commodity_semantics(spark):
    raw = generate_raw_records(spark).withColumn("current_price", F.lit(None).cast("string"))
    out = PL.process_commodity(raw, CLOCK_COL())
    collected = out.collect()
    rows = {(r["name"], r["symbol"]): r.asDict() for r in collected}
    # empty name / unparseable price / empty price dropped (18 → 15 rows;
    # the two Gold rows share a key in this lookup dict)
    assert len(collected) == 15 and len(rows) == 14
    gold = rows[("Gold", "GC1:COM")]
    assert gold["current_price"] in (2391.2, 2400.0)
    assert gold["category"] == "贵金属"
    # EU decimal price
    assert rows[("Corn", "C1:COM")]["current_price"] == 1234.56
    assert rows[("Corn", "C1:COM")]["change_percent"] == -0.5
    # lone-comma decimal
    assert rows[("Sugar", "SB1:COM")]["current_price"] == 1.23
    # currency junk stripped
    assert rows[("Cocoa", "CC1:COM")]["current_price"] == 7777.77
    # pct > 100 → /100 rule applied when parsed from change string
    assert rows[("Wheat", "W1:COM")]["change_percent"] == 1.5
    # change without % → change_amount, not percent
    assert rows[("Oil (WTI)".replace("Oil (WTI)", "WTI原油"), "CL1:COM")]["change_amount"] == 0.8
    # direct change_percent passthrough beats parsing
    assert rows[("布伦特原油", "CO1:COM")]["change_percent"] == 1.1


def test_validation_split_commodity(spark):
    raw = generate_raw_records(spark).withColumn("current_price", F.lit(None).cast("string"))
    processed = PL.process_commodity(raw, CLOCK_COL())
    checked = V.apply_rules(processed, V.commodity_rules(CLOCK_COL()), V.commodity_business_rules())
    valid, invalid = V.split_valid(checked)
    bad = {(r["name"], r["symbol"]): r["errors"] for r in invalid.collect()}
    # negative price and >1e6 price must be rejected, everything else valid
    assert ("Platinum", "PL1:COM") in bad
    assert ("Tin", "TIN:COM") in bad
    assert len(bad) == 2
    assert valid.count() == 13


def test_validation_forex(spark):
    fx = generate_forex_records(spark)
    checked = V.apply_rules(fx, V.forex_rules(CLOCK_COL()), V.forex_business_rules())
    valid, invalid = V.split_valid(checked)
    bad = {r["pair"]: list(r["errors"]) for r in invalid.collect()}
    assert set(bad) == {"usd/jpy", "USD/CHF", "AUD/USD", "NZD/USD", "EUR/JPY"}
    assert any("regex" in e for e in bad["usd/jpy"])
    assert any("bid_gt_ask" in e for e in bad["USD/CHF"])
    assert any("spread_gt_10pct" in e for e in bad["AUD/USD"])
    assert any("mid_mismatch" in e for e in bad["NZD/USD"])
    assert any("stale" in e for e in bad["EUR/JPY"])
    assert valid.count() == 3


def test_market_summary_shape(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (-1.0,), (0.0,), (None,)], "change_percent double"
    )
    row = A.market_summary(df).collect()[0]
    assert row["total_count"] == 5
    assert row["gainers"] == 2 and row["losers"] == 1 and row["unchanged"] == 2
    assert row["avg_change"] == 0.5  # avg over non-null


def test_full_analysis_over_pages(spark):
    from web_crawler_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 120, seed=42)
    results = PL.run_full_analysis(pages, CLOCK_COL())
    commodities = results["commodities"].collect()
    assert len(commodities) > 10
    names = {r["name"] for r in commodities}
    # junk rows never survive (P1 runs on the RAW name pre-standardization,
    # so CJK renames like 活牛 may legitimately be ≤2 chars)
    assert not any(n.isdigit() for n in names)
    assert not {"AB", "12345", "Price Index"} & names
    # dedup: (name, symbol) unique
    keys = [(r["name"], r["symbol"]) for r in commodities]
    assert len(keys) == len(set(keys))
    cats = {r["category"] for r in results["by_category"].collect()}
    assert cats <= {"能源", "贵金属", "工业金属", "农产品", "商品", "货币", "其他"}
    top = results["top_gainers"].collect()
    assert len(top) <= 5
    vals = [r["change_percent"] for r in top]
    assert vals == sorted(vals, reverse=True)


def test_rank_within_category(spark):
    df = spark.createDataFrame(
        [("a", 3.0), ("a", 1.0), ("a", None), ("b", 2.0)],
        "category string, price double",
    )
    got = A.rank_within_category(df, "category", "price").collect()
    ranks = {(r["category"], r["price"]): r["rank_in_category"] for r in got}
    assert ranks[("a", 3.0)] == 1 and ranks[("a", 1.0)] == 2
    # None → treated as 0 (reference `x.current_price or 0`)
    assert ranks[("a", None)] == 3


def test_warc_export_roundtrip(spark, tmp_path):
    """WARC/1.0 export (warc_revisit_records; first captures are full
    response records): records parse back with byte-correct Content-Length
    and payload identity; record IDs deterministic across re-export."""
    import glob
    import re

    from web_crawler_spark.plans.report import warc_revisit_records

    pages = spark.createDataFrame(
        [
            ("https://a.com/x", "2025-07-22 10:00:00", "<p>héllo wörld</p>"),
            ("https://b.com/y", "2025-07-22 10:00:02", "<table><tr><td>1</td></tr></table>"),
        ],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))

    out = str(tmp_path / "warc")
    warc_revisit_records(pages).select("record").write.mode("overwrite").text(out)
    text = ""
    for f in sorted(glob.glob(out + "/part-*")):
        with open(f, "rb") as fh:
            text += fh.read().decode("utf-8")  # binary: keep \r\n intact
    records = [r for r in text.split("WARC/1.0\r\n") if r.strip()]
    assert len(records) == 2
    by_uri = {}
    for r in records:
        uri = re.search(r"WARC-Target-URI: (\S+)", r).group(1)
        clen = int(re.search(r"Content-Length: (\d+)", r).group(1))
        body = r.split("\r\n\r\n", 1)[1].rstrip("\r\n")
        by_uri[uri] = (clen, body)
    clen_a, body_a = by_uri["https://a.com/x"]
    assert body_a == "<p>héllo wörld</p>"
    assert clen_a == len(body_a.encode("utf-8"))  # octet length, not chars
    assert "WARC-Date: 2025-07-22T10:00:00Z" in records[0] + records[1]

    # determinism: same input → same record ids
    ids1 = sorted(re.findall(r"WARC-Record-ID: (\S+)", text))
    r2 = warc_revisit_records(pages).orderBy("url").collect()
    ids2 = sorted(re.findall(r"WARC-Record-ID: (\S+)", "".join(x["record"] for x in r2)))
    assert ids1 == ids2
