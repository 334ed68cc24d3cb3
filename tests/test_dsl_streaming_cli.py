"""Tests: config-driven DSL (X9-X11/S8/X10), report sinks, streaming, CLI."""

import json
import os

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.plans import dsl


def test_transforms(spark):
    df = spark.createDataFrame([("$1,234.56/bbl",)], "v string")
    got = df.select(
        dsl.compile_transform(F.col("v"), "float").alias("f"),
        dsl.compile_transform(F.col("v"), "lowercase").alias("l"),
        dsl.compile_transform(F.col("v"), "uppercase").alias("u"),
        dsl.compile_transform(F.col("v"), "strip_currency").alias("s"),
    ).collect()[0]
    # reference float transform: comma-strip then first [\d.]+ run
    assert got["f"] == "1234.56"
    assert got["l"] == "$1,234.56/bbl"
    assert got["u"] == "$1,234.56/BBL"
    assert got["s"] == "1,234.56"


def test_cleaners(spark):
    df = spark.createDataFrame([("  a\t b  c ", "<b>Hi&amp;lo</b>")], "w string, h string")
    got = df.select(
        dsl.compile_cleaner(F.col("w"), "normalize_whitespace").alias("w2"),
        dsl.compile_cleaner(F.col("h"), "remove_html").alias("h2"),
    ).collect()[0]
    assert got["w2"] == "a b c"
    assert got["h2"] == "Hi&lo"


def test_field_rule_regex_transform(spark):
    df = spark.createDataFrame([("price: $42.50 USD",), ("no match",)], "v string")
    rule = {"regex": r"price: (\$[\d.]+)", "transform": "strip_currency"}
    got = [r["x"] for r in df.select(dsl.compile_field_rule(F.col("v"), rule).alias("x")).collect()]
    assert got == ["42.50", None]


def test_json_config_stage_coingecko(spark):
    body = json.dumps({"bitcoin": {"usd": "117000.5", "usd_24h_change": "2.5"},
                       "solana": {"usd": "150"}})
    pages = spark.createDataFrame([("u", body)], "url string, body string")
    cfg = {"field_mapping": {"name": "name", "current_price": "usd", "change_percent": "usd_24h_change"}}
    rows = {r["name"]: (r["current_price"], r["change_percent"])
            for r in dsl.json_config_stage(pages, cfg).collect()}
    assert rows == {"bitcoin": ("117000.5", "2.5"), "solana": ("150", None)}


def test_json_config_stage_path_and_list(spark):
    body = json.dumps({"data": {"items": [{"n": "Gold", "p": "2391.2"}, {"n": "Silver", "p": "28.4"}]}})
    pages = spark.createDataFrame([("u", body)], "url string, body string")
    cfg = {"json_path": "data.items", "shape": "list",
           "field_mapping": {"name": "n", "current_price": "p"}}
    rows = {r["name"]: r["current_price"] for r in dsl.json_config_stage(pages, cfg).collect()}
    assert rows == {"Gold": "2391.2", "Silver": "28.4"}


def test_regex_parser_stage(spark):
    content = "item: Gold price=2391.20\nitem: Oil price=78.22\n"
    df = spark.createDataFrame([("u", content)], "url string, body string")
    out = dsl.regex_parser_stage(df, r"item: (\w+) price=([\d.]+)", ["name", "price"])
    rows = {r["name"]: r["price"] for r in out.collect()}
    assert rows == {"Gold": "2391.20", "Oil": "78.22"}


def test_source_registry_end_to_end(spark):
    reg = dsl.SourceRegistry()
    reg.register("coins", {
        "parser": "json",
        "field_mapping": {"name": "name", "current_price": "usd"},
        "cleaning": {"transforms": {"current_price": "float"}},
        "validation": {"required_fields": ["name", "current_price"],
                       "formats": {"current_price": "number"}},
    })
    body = json.dumps({"btc": {"usd": "$50,000.5"}, "bad": {"eur": "1"}})
    pages = spark.createDataFrame([("u", body)], "url string, body string")
    out = reg.build("coins")(pages).collect()
    assert [(r["name"], r["current_price"]) for r in out] == [("btc", "50000.5")]
    assert reg.list_sources() == ["coins"]


def test_forex_pipeline_and_report(spark):
    from web_crawler_spark.plans import pipeline as PL
    from web_crawler_spark.plans import report as R

    raw = spark.createDataFrame(
        [
            ("CNY/TWD", None, None, None, "4.0952", "4.0970", "4.0961", "sina", None),
            (None, None, "USD", "JPY", "157.1", "157.2", "157.15", "sina", None),
        ],
        "pair string, currency_pair string, base_currency string, quote_currency string,"
        " bid_price string, ask_price string, price string, source string, timestamp timestamp",
    ).withColumn("current_price", F.col("price"))
    out = PL.process_forex(raw, F.lit("2025-07-22 10:00:00").cast("timestamp"))
    rows = {r["pair"]: r for r in out.collect()}
    assert rows["CNY/TWD"]["base_currency"] == "CNY"
    assert rows["USD/JPY"]["quote_currency"] == "JPY"
    assert rows["CNY/TWD"]["mid_price"] == pytest.approx(4.0961)
    spread = out.withColumn("spread", F.col("ask_price") - F.col("bid_price"))
    rep = R.forex_report(spread).collect()[0]
    assert rep["n_records"] == 2
    assert rep["avg_spread"] == pytest.approx(round((0.0018 + 0.1) / 2, 4), abs=1e-4)


def test_console_summary_and_sinks(spark, tmp_path):
    from web_crawler_spark.plans import pipeline as PL
    from web_crawler_spark.plans import report as R
    from web_crawler_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 60, seed=42)
    results = PL.run_full_analysis(pages, F.lit("2025-07-22 10:00:00").cast("timestamp"))
    text = R.console_summary(results)
    assert "Market Summary" in text and "Top gainers" in text
    out = str(tmp_path / "csv")
    R.write_commodity_csv(results["commodities"], out)
    back = spark.read.option("header", True).csv(out)
    assert back.columns == R.COMMODITY_CSV_COLUMNS
    assert back.count() == results["commodities"].count()


def test_streaming_summary_and_dedup(spark, tmp_path):
    from web_crawler_spark.streaming import events as SE
    from web_crawler_spark.streaming.stateful import stateful_seen_filter

    src = str(tmp_path / "stream_src")
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", "click", 250.0),
            (2, "2024-01-01 00:20:00", "click", 240.0),
            (3, "2024-01-01 01:10:00", "view", 300.0),
            (1, "2024-01-01 00:10:00", "click", 250.0),  # dup of event 1
        ],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    # complete mode: append would only emit windows already past the
    # watermark, which never happens within this bounded fixture
    (
        SE.streaming_market_summary(stream).writeStream.format("memory")
        .queryName("t_summary").outputMode("complete")
        .trigger(availableNow=True).start().awaitTermination()
    )
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["gainers"], r["losers"])
        for r in spark.sql("select * from t_summary").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == (3, 2, 1)
    assert got[("2024-01-01 01:00:00", "view")] == (1, 1, 0)

    # the streaming seen-set admits each event_id once
    stream2 = spark.readStream.schema(schema).parquet(src)
    (
        stateful_seen_filter(stream2, key_col="event_id").writeStream
        .format("memory").queryName("t_dedup").outputMode("append")
        .trigger(availableNow=True).start().awaitTermination()
    )
    assert spark.sql("select count(*) n from t_dedup").collect()[0]["n"] == 3


def test_streaming_extract_matches_batch(spark, tmp_path):
    from web_crawler_spark.plans.extract import commodity_table_stage
    from web_crawler_spark.sources.pages import generate_pages

    src = str(tmp_path / "pages_src")
    pages = generate_pages(spark, 36, seed=5)
    pages.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    (
        commodity_table_stage(stream).writeStream.format("memory")
        .queryName("t_extract").trigger(availableNow=True).start()
        .awaitTermination()
    )
    stream_rows = spark.sql("select * from t_extract")
    batch_rows = commodity_table_stage(spark.read.parquet(src))
    assert stream_rows.exceptAll(batch_rows).count() == 0
    assert batch_rows.exceptAll(stream_rows).count() == 0


def test_streaming_css_extract_matches_batch(spark, tmp_path):
    """The X9 CSS config-driven extraction stage runs unchanged on a
    stream (mapInPandas is streaming-capable) — stream result == batch."""
    from web_crawler_spark.plans.extract import css_config_stage
    from web_crawler_spark.sources.pages import generate_pages

    config = {
        "extraction": {
            "container": "table tr",
            "fields": {
                "name": "td:first-child",
                "price": {"selector": "td:nth-child(2)", "transform": "float"},
            },
        },
        "required_fields": ["name", "price"],
    }
    src = str(tmp_path / "css_pages_src")
    generate_pages(spark, 24, seed=7).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    (
        css_config_stage(stream, config).writeStream.format("memory")
        .queryName("t_css").trigger(availableNow=True).start()
        .awaitTermination()
    )
    stream_rows = spark.sql("select * from t_css")
    batch_rows = css_config_stage(spark.read.parquet(src), config)
    assert batch_rows.count() > 0
    assert stream_rows.exceptAll(batch_rows).count() == 0
    assert batch_rows.exceptAll(stream_rows).count() == 0


def test_cli_end_to_end(tmp_path):
    import subprocess
    import sys

    out_dir = str(tmp_path / "reports")
    r = subprocess.run(
        [sys.executable, "-m", "web_crawler_spark.cli", "--pages-count", "36",
         "--output-dir", out_dir, "--output-format", "csv"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "Market Summary" in r.stdout
    assert os.path.isdir(out_dir + "/commodities_csv")


def test_cli_list_scrapers():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "web_crawler_spark.cli", "--list-scrapers"],
        capture_output=True, text=True, timeout=60,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0 and "business_insider" in r.stdout


def test_cli_sql_mode(tmp_path):
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "web_crawler_spark.cli",
         "--tables-dir", "/root/testdata/sf0.001",
         "--sql",
         "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [json.loads(l) for l in r.stdout.strip().splitlines() if l.startswith("{")]
    assert {l["l_returnflag"] for l in lines} == {"A", "N", "R"}
    assert all(l["n"] > 0 for l in lines)


def test_fetch_sessions_gap_semantics(spark):
    import pyspark.sql.functions as F

    from web_crawler_spark.streaming.events import fetch_sessions

    base = "2025-01-01 00:00:"
    rows = [
        ("h1", base + "00"), ("h1", base + "10"), ("h1", base + "39"),  # one session
        ("h1", "2025-01-01 00:01:09"),   # exactly 30s after :39 -> still merges
        ("h1", "2025-01-01 00:01:40"),   # 31s after :01:09 -> NEW session
        ("h2", base + "05"),
    ]
    df = spark.createDataFrame(rows, ["host", "fetch_ts"]).withColumn(
        "fetch_ts", F.col("fetch_ts").cast("timestamp")
    )
    got = {(r["host"], str(r["session_start"])): (r["n_fetches"], str(r["last_ts"]))
           for r in fetch_sessions(df, gap="30 seconds").collect()}
    assert got[("h1", "2025-01-01 00:00:00")] == (4, "2025-01-01 00:01:09")
    assert got[("h1", "2025-01-01 00:01:40")] == (1, "2025-01-01 00:01:40")
    assert got[("h2", "2025-01-01 00:00:05")] == (1, "2025-01-01 00:00:05")


def test_fetch_sessions_streaming_matches_batch(spark, tmp_path):
    import pyspark.sql.functions as F

    from web_crawler_spark.streaming.events import fetch_sessions

    src = str(tmp_path / "fetchlog")
    rows = [("h1", "2025-01-01 00:00:00"), ("h1", "2025-01-01 00:00:10"),
            ("h1", "2025-01-01 00:02:00"), ("h2", "2025-01-01 00:00:05")]
    log = spark.createDataFrame(rows, ["host", "fetch_ts"]).withColumn(
        "fetch_ts", F.to_timestamp("fetch_ts")
    )
    log.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema).parquet(src)
        .withWatermark("fetch_ts", "10 minutes")
    )
    # complete mode: the bounded fixture never advances the watermark
    # past its own sessions, so append would emit nothing
    (
        fetch_sessions(stream, gap="30 seconds").writeStream.format("memory")
        .queryName("t_sessions").outputMode("complete")
        .trigger(availableNow=True).start().awaitTermination()
    )
    streamed = {(r["host"], str(r["session_start"])): r["n_fetches"]
                for r in spark.sql("select * from t_sessions").collect()}
    batch = {(r["host"], str(r["session_start"])): r["n_fetches"]
             for r in fetch_sessions(log, gap="30 seconds").collect()}
    assert streamed == batch
    assert streamed[("h1", "2025-01-01 00:00:00")] == 2


def test_cli_epoch_capacity(tmp_path):
    import json as _json
    import subprocess
    import sys

    out_dir = str(tmp_path / "reports")
    cat_dir = str(tmp_path / "catalog")
    r = subprocess.run(
        [sys.executable, "-m", "web_crawler_spark.cli", "--pages-count", "60",
         "--output-dir", out_dir, "--output-format", "csv",
         "--catalog", cat_dir, "--epochs", "2", "--epoch-capacity", "25"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    crawl_line = next(l for l in r.stdout.splitlines() if l.startswith('{"crawl"'))
    stats = _json.loads(crawl_line)["crawl"]
    assert all(s.get("fetched", 0) <= 25 for s in stats), stats
