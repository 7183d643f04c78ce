"""SparkSession factory tuned for the sandbox (local[N]) and for clusters.

At 100 TB the same code runs under spark-submit with a real master; only
``master`` and the memory knobs change. Shuffle partitions default to the
core count locally; on a cluster set ``spark.sql.shuffle.partitions`` to
2-3x total executor cores (AQE coalesces the tail).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """48g, or half the machine's memory where that is less: a local driver
    heap allowed to grow past the RAM of a box without swap gets its JVM
    killed by the kernel instead of failing with an OutOfMemoryError."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "48g"
    return f"{min(48 * 1024, kb // 2048)}m"


def get_spark(
    app_name: str = "miru_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``$SPARK_GRAFT_CPUS`` (default all). Safe to call
    when a session already exists (configs then apply only if new).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", os.environ.get("MIRU_SPARK_DRIVER_MEM", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
