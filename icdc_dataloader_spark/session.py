"""SparkSession factory tuned for this engine.

Local-mode testing (local[N]) with the settings that matter at cluster scale:
AQE on (runtime coalesce + skew-join split), Arrow for pandas UDFs, UTC
session timezone (duckdb-oracle comparison pins UTC), and a driver heap
sized to the host (``SPARK_DRIVER_MEM`` overrides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


MAX_DRIVER_MEM_MB = 48 * 1024
DRIVER_MEM_SHARE = 0.6


def default_driver_memory(total_bytes: int | None = None) -> str:
    """The driver heap ``get_spark`` asks for: min(48g, 60% of the host's
    physical RAM) in MB, leaving room for the JVM's off-heap memory, the
    Python workers and the OS.  ``total_bytes`` defaults to the RAM
    reported by ``os.sysconf``; where that is unavailable, 48g."""
    if total_bytes is None:
        try:
            total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):
            return f"{MAX_DRIVER_MEM_MB}m"
    mb = int(total_bytes * DRIVER_MEM_SHARE) >> 20
    return f"{min(MAX_DRIVER_MEM_MB, mb)}m"


def get_spark(
    app_name: str = "icdc_dataloader_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
