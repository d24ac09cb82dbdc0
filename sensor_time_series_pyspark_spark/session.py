"""SparkSession factory.

The reference creates a module-level session with hard-coded config at
import time (/root/reference/sensor_data_etl.py:9-21), which makes the
code untestable. Here the session is built on demand, with scale-aware
defaults: AQE (runtime coalesce + skew-join), Arrow for pandas
interchange, UTC session timezone (so timestamps compare cleanly against
external systems), and shuffle parallelism sized to the machine instead
of the reference's hard-coded repartition(200)/(100)/(50) constants
(sensor_data_etl.py:30,51; sensor_data_regression.py:46).

A local session also writes its stream checkpoints through Spark's
``FileSystemBasedCheckpointFileManager`` instead of the default
``FileContextBasedCheckpointFileManager``. On Hadoop's local file
system without its native library, FileContext's atomic create runs
``chmod`` and ``stat`` as child processes: one 500-byte checkpoint file
took ~35 ms to write that way and 9 ms through FileSystem (Hadoop
3.4.2, 4-CPU host). Every micro-batch writes at least five such files
(source log, offsets, commits, one state delta per state partition),
so the default manager set the floor of a small stream's batch
latency.
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


# the checkpoint manager a local session writes stream checkpoints with
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def session_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> tuple[str | None, dict[str, str]]:
    """The master URL and the configs ``get_spark`` builds a new session
    with (no JVM needed to inspect them). The URL is None when
    ``SPARK_MASTER`` names the master; with neither, the session runs on
    ``local[cpus]``. A local master (``local``, ``local[n]``) gets
    ``FS_CHECKPOINT_MANAGER``; any other keeps Spark's default.
    ``extra_conf`` wins over every default here.
    """
    cpus = shuffle_partitions or default_parallelism()
    if not master and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    conf = {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # split small files down to ~128 KiB so a 10 MB table still
        # fans out across all cores (default 4 MiB open-cost floor
        # leaves it at 3 tasks). Large tables are unaffected — their
        # split size is governed by maxPartitionBytes; on a real
        # cluster this only lowers the seek-cost estimate for
        # SSD/object-store reads (measured 1.3-1.6x on scan-bound
        # queries at bench scale).
        "spark.sql.files.openCostInBytes": "131072",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": default_driver_memory(),
    }
    if master and master.split("[")[0] == "local":
        conf["spark.sql.streaming.checkpointFileManagerClass"] = FS_CHECKPOINT_MANAGER
    conf.update(extra_conf or {})
    return master or None, conf


def get_spark(
    app_name: str = "sensor_time_series_pyspark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the configs of ``session_conf``, or
    return the already-active session unchanged (its runtime confs, such
    as the shuffle partition count, stay as its owner set them).

    Every config is equally valid on a 1000-executor cluster; only the
    master, the partition count and the checkpoint manager depend on
    the machine.

    A local session writes stream checkpoints through Spark's
    ``FileSystemBasedCheckpointFileManager``: ~9 ms per file, against
    ~35 ms for the default FileContext manager, which runs ``chmod`` and
    ``stat`` as child processes on Hadoop's local file system (see the
    module docstring). Its checkpoints live on the local disk, where
    ``rename(2)`` is atomic and replaces its destination. What the
    manager gives up: a write that must not overwrite is an ``exists``
    check followed by a rename, not one atomic step, so two *processes*
    running one checkpoint at the same moment are no longer refused
    atomically. Spark's active-query check still refuses two such
    queries within one session. Spark's checkpoint checksums and
    Hadoop's ``.crc`` files stay on. Other masters keep Spark's default
    manager, and ``extra_conf`` can set either back.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    url, conf = session_conf(master, shuffle_partitions, extra_conf)
    builder = SparkSession.builder.appName(app_name)
    if url is not None:
        builder = builder.master(url)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
