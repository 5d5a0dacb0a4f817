"""SparkSession factory with scale-aware defaults.

Local mode is the test harness; the config block is written for a real
multi-executor cluster (AQE, skew-join handling, Arrow batching) and works
identically on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEM_MIB = 16 * 1024


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM capped at 16g:
    the driver heap must leave room for the Python workers and the OS."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f
                   if line.startswith("MemTotal:"))
    return f"{min(kib // 2048, MAX_DRIVER_MEM_MIB)}m"


def get_spark(app: str = "geoclimate_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        # ~2x cores locally; on a real cluster this would be sized to
        # total-cores * 2..3 or left to AQE coalescing from a high initial.
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
