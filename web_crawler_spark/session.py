"""SparkSession builder with scale-appropriate defaults.

Design notes (100 TB target, tested on local[32]):

* AQE on — runtime coalescing of shuffle partitions + skew-join splitting
  is the first line of defense against hot-host/hot-key skew.
* Arrow on — every pandas UDF / mapInPandas stage ships columnar batches.
* ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster this is overridden per-job (AQE coalesces down anyway).
* Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle.
* The driver heap defaults to half of physical memory, at most 16g
  (``SPARK_DRIVER_MEM`` overrides it): a local-mode driver is the whole
  cluster, and a heap larger than the host invites the OOM killer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def default_driver_memory() -> str:
    """Half of physical memory, capped at 16g, in Spark's size syntax."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "web_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else str(os.cpu_count() or 8)
        shuffle_partitions = max(int(n) * 2, 8) if n.isdigit() else 64

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
