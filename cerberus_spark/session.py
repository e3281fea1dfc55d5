"""SparkSession factory with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster: we set shuffle
partitions ~ cores, enable AQE (runtime coalesce + skew-join handling)
and Arrow, and pin the session timezone to UTC so results are
comparable with the DuckDB oracle (UTC-naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of ``MemAvailable`` in whole GiB, at least 1g and at most
    24g, so the default heap fits the machine it starts on; 24g when
    ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{max(1, min(24, kib // 2**21))}g"


def get_spark(
    parallelism: int | None = None,
    app_name: str = "cerberus_spark",
    driver_memory: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for ``local[parallelism]``;
    ``parallelism`` defaults to ``$SPARK_GRAFT_CPUS``, else the cores
    this process may run on; ``driver_memory`` defaults to
    :func:`default_driver_memory`.

    On a real cluster the same configs apply; only ``master`` changes
    (spark-submit supplies it, so we honor an externally-set master).
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        # ~2x cores: enough tasks to keep all threads busy through
        # stragglers without tiny-partition overhead at bench scale.
        shuffle_partitions = max(parallelism * 2, 8)
    builder = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory or default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
