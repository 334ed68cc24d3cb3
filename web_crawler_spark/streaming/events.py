"""Structured Streaming variants of the engine's operators.

The reference is batch-only (SURVEY §2.11) and the engine's crawl loop is
deliberately batch-epochs-over-snapshots; this module provides the
streaming front-end for the ingestion side of a production deployment:
pages/events land continuously, the same transformations run incrementally
with watermarked state.

* ``streaming_market_summary``  — windowed A1/A2 aggregates with late-data
  watermark; update-mode sink.
* ``fetch_sessions``            — gap-based sessionization of a fetch log,
  the same plan on a batch log and a watermarked stream.
* ``fetch_outlink_join``        — watermarked stream-stream join of each
  outlink to the fetch that produced it.

The batch extraction stages (``plans/extract.py``) run unchanged on a
stream: ``mapInPandas`` is streaming-capable, so no streaming copy exists.

Tested with file-source + ``trigger(availableNow=True)`` so the whole
thing runs deterministically in CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_market_summary(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed per-type counts/avgs with late-data watermark — the
    streaming A1/A2. State is bounded: windows older than the watermark
    are finalized and evicted."""
    cp = F.col(value_col) - 245.0
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(cp), 2).alias("avg_change"),
            F.sum(F.when(cp > 0, 1).otherwise(0)).alias("gainers"),
            F.sum(F.when(cp < 0, 1).otherwise(0)).alias("losers"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n", "avg_change", "gainers", "losers",
        )
    )


def fetch_sessions(
    df: DataFrame,
    host_col: str = "host",
    ts_col: str = "fetch_ts",
    gap: str = "30 seconds",
) -> DataFrame:
    """Gap-based sessionization of a fetch log (``F.session_window``):
    consecutive fetches from one host merge into a session while each
    arrives within ``gap`` of the last — the crawl-log rollup behind
    burst detection, per-host connection accounting, and abuse review.
    Works identically on a batch log and a watermarked stream (session
    windows are a native Structured Streaming state shape — late data
    merges sessions instead of corrupting counts).

    An event landing exactly ``gap`` after the previous one still MERGES
    into the session (Spark merges while ts <= last + gap; a new session
    needs a strictly larger silence). Returns (host, session_start,
    n_fetches, last_ts).
    """
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"),
            F.col(host_col).alias("host"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            "host",
            F.col("w.start").alias("session_start"),
            "n_fetches",
            "last_ts",
        )
    )


def fetch_outlink_join(
    fetches: DataFrame,
    outlinks: DataFrame,
    max_delay_seconds: int = 60,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Watermarked stream-stream INNER join — the crawl-attribution shape:
    each discovered outlink joins the fetch that produced it, required to
    land within ``[fetch_ts, fetch_ts + max_delay_seconds]`` of its source
    fetch. The equality key (url = src_url) plus the two-sided event-time
    range is exactly what Spark needs to bound join state: rows older than
    watermark − max_delay are evicted from both state stores every
    micro-batch, so state is O(rate × window), never O(history).

    Both inputs MUST carry event-time columns (``fetch_ts`` /
    ``discovered_ts``). Returns (url, fetch_ts, status, dst_url,
    discovered_ts) — one row per attributed link discovery. Late rows
    beyond the watermark are dropped (inner-join semantics); use a larger
    ``watermark_delay`` to trade state size for late tolerance.
    """
    f = fetches.withWatermark("fetch_ts", watermark_delay)
    o = outlinks.withWatermark("discovered_ts", watermark_delay)
    return f.join(
        o,
        (F.col("url") == F.col("src_url"))
        & (F.col("discovered_ts") >= F.col("fetch_ts"))
        & (
            F.col("discovered_ts")
            <= F.col("fetch_ts") + F.expr(
                f"INTERVAL {int(max_delay_seconds)} SECONDS"
            )
        ),
        "inner",
    ).select("url", "fetch_ts", "status", "dst_url", "discovered_ts")
