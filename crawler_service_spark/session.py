"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same configuration (AQE, Arrow, explicit
shuffle partitioning) is what a multi-executor ``spark-submit --py-files`` deployment
uses — only ``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's physical memory (``MemTotal``) as a JVM size, so
    the local driver heap never claims more than the machine has; 4g where
    ``meminfo`` is unreadable (not Linux)."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"  # kB -> MiB, halved
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "crawler_service_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    ``spark.driver.memory`` is ``$SPARK_DRIVER_MEMORY`` when set, else
    ``default_driver_memory()``.
    ``shuffle_partitions`` defaults to ``cpus`` — on a real cluster you set this to
    2-3x total executor cores; at 100 TB you additionally rely on AQE coalescing so
    an over-provisioned static number is safe.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets bytes-per-partition, but crawl stages are
        # CPU-bound per ROW (regexp link extraction, window sorts, pandas
        # UDFs) at few bytes per row — the default 1 MiB floor collapses a
        # 120k-row stage to ~3 tasks and caps scaling. A small floor keeps
        # CPU-heavy small-byte stages wide; at real data volumes partition
        # sizes dwarf the floor and behavior is unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
