"""CDX(J) URL index — Common Crawl / Internet Archive interop.

The reference crawler keeps no URL index at all (its whole run is ~25
records, pacong/config/settings.yaml seeds); at Common-Crawl scale the
public convention for "where is every capture of every URL" is the CDXJ
index (cc-index / pywb): one text line per capture —

    <urlkey> <14-digit timestamp> {"url": ..., "mime": ..., "status": ...,
                                   "digest": ..., "length": ...}

— shards globally sorted by (urlkey, timestamp), plus a ``cluster.idx``
secondary index mapping each shard's FIRST key to its shard file, so a
prefix lookup (one URL, one host, one domain) opens only the shard(s)
whose key range can overlap. That two-level structure is the entire point
of the format: 10^10 captures are queryable without scanning the index.

Spark-first re-expression:

- :func:`cdx_records` — urlkey via :func:`~web_crawler_spark.functions.
  urltools.surt_key` (pure Column, whole-stage codegen), 14-digit
  timestamp via ``date_format``. No UDFs.
- :func:`cdx_shard_plan` — the publishing layout: equal-count contiguous
  (urlkey, ts) ranges with their boundary keys, i.e. the rows of a
  ``cluster.idx`` — driver-sized by construction (40k shards for a
  100 TB crawl ≈ a few MB), the same way Common Crawl's cluster.idx is a
  single small file next to 300 cdx-*.gz shards.

Deviation from the archival format, declared: ``digest`` is md5-hex (both
Spark and the DuckDB oracle compute it natively) rather than sha1-base32.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urltools import surt_key


def cdx_records(
    fetched: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
    mime: str = "text/html",
) -> DataFrame:
    """Capture rows → CDX index rows ``(urlkey, ts, url, mime, status,
    digest, length)``. Pure Column expressions end to end.

    ``urlkey`` is the SURT key of the capture URL, ``ts`` the 14-digit
    UTC timestamp, ``digest`` md5 of the payload bytes, ``length`` the
    payload octet length. Every capture row is a fetched page, so
    ``status`` is 200.
    """
    url = F.col(url_col).cast("string")
    body = F.col(payload_col).cast("string")
    return fetched.select(
        surt_key(url).alias("urlkey"),
        F.date_format(F.col(ts_col), "yyyyMMddHHmmss").alias("ts"),
        url.alias("url"),
        F.lit(mime).alias("mime"),
        F.lit(200).alias("status"),
        F.md5(body.cast("binary")).alias("digest"),
        F.octet_length(body).cast("long").alias("length"),
    )


def cdx_shard_plan(
    index: DataFrame,
    n_shards: int = 8,
    key_col: str = "urlkey",
    ts_col: str = "ts",
) -> DataFrame:
    """CDX index shard-split plan — the publishing layout of a
    Common-Crawl-style capture index (the public cc-index is exactly
    this: SURT-ordered cdx-NNNNN.gz shards plus a cluster.idx of shard
    boundary keys): rank every record in (urlkey, ts) order, cut into
    ``n_shards`` equal-count contiguous ranges, and report each shard's
    row count and inclusive [start, end] boundary keys — what a lookup
    service loads to binary-search the right shard.

    (key, ts) must be unique per record (CDX semantics: one capture per
    (urlkey, timestamp); revisit records carry distinct ts) — the global
    rank rides :func:`~web_crawler_spark.operators.prefixsum.prefix_sum`'s
    range-exchange scan, so no single-partition window anywhere; shard
    assignment is exact integer algebra ⌊(rank−1)·S / n⌋ (balanced to
    ±1 row by construction). One scalar count fetch for n (the repo's
    documented pattern). Returns (shard_id, n_rows, start_urlkey,
    end_urlkey) ordered by shard.
    """
    from ..operators.prefixsum import prefix_sum

    n = index.count()
    if n == 0 or n_shards <= 0:
        return index.sparkSession.createDataFrame(
            [],
            "shard_id long, n_rows long, start_urlkey string, "
            "end_urlkey string",
        )
    s = int(n_shards)
    ranked = prefix_sum(
        index.select(key_col, ts_col).withColumn("__one", F.lit(1)),
        [key_col, ts_col],
        "__one",
        out_col="__rank",
    )
    shard = F.expr(f"((__rank - 1) * {s}) div {n}").cast("long")
    return (
        ranked.withColumn("shard_id", shard)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(key_col).alias("start_urlkey"),
            F.max(key_col).alias("end_urlkey"),
        )
        .orderBy("shard_id")
    )
