"""Which checkpoint manager a session writes stream checkpoints with.

A local session writes them through Spark's
``FileSystemBasedCheckpointFileManager`` (``session.session_conf``);
other masters keep Spark's default, and ``extra_conf`` overrides
either. The conf checks need no JVM. The restart test proves that a
checkpoint written by the default FileContext manager (every
checkpoint made before local sessions switched) resumes exactly-once
under the FileSystem manager.
"""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException

from sensor_time_series_pyspark_spark.session import (
    FS_CHECKPOINT_MANAGER,
    session_conf,
)
from sensor_time_series_pyspark_spark.sources.readers import read_table
from sensor_time_series_pyspark_spark.streaming import (
    read_stream,
    stream_dedup,
    write_parquet_stream,
)

KEY = "spark.sql.streaming.checkpointFileManagerClass"
FC_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
SF = "/root/testdata/sf0.001"
N_FILES = 4


def test_local_master_writes_checkpoints_through_filesystem(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    master, conf = session_conf(shuffle_partitions=3)
    assert master == "local[3]"
    assert conf[KEY] == FS_CHECKPOINT_MANAGER
    for local in ("local", "local[2]", "local[*]"):
        assert session_conf(master=local)[1][KEY] == FS_CHECKPOINT_MANAGER


def test_extra_conf_overrides_the_checkpoint_manager(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    _, conf = session_conf(extra_conf={KEY: FC_CHECKPOINT_MANAGER})
    assert conf[KEY] == FC_CHECKPOINT_MANAGER


def test_other_masters_keep_sparks_default_manager(monkeypatch):
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert KEY not in session_conf(master=master)[1]
    # SPARK_MASTER names the master: get_spark does not set one
    monkeypatch.setenv("SPARK_MASTER", "spark://host:7077")
    master, conf = session_conf()
    assert master is None
    assert KEY not in conf


def _manager(spark) -> str:
    """Class of the manager Spark creates for a checkpoint path under
    the session's current confs."""
    jvm = spark._jvm
    factory = getattr(
        getattr(jvm.org.apache.spark.sql.execution.streaming.checkpointing,
                "CheckpointFileManager$"),
        "MODULE$",
    )
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path("file:///tmp/checkpoint")
    return factory.create(path, hadoop_conf).getClass().getName()


def test_local_session_creates_the_filesystem_manager(spark):
    assert spark.conf.get(KEY) == FS_CHECKPOINT_MANAGER
    assert _manager(spark) == FS_CHECKPOINT_MANAGER


def test_filecontext_checkpoint_restarts_exactly_once(spark, tmp_path):
    """Crash a dedup stream after batch 1's parquet write under the
    FileContext manager, restart it from the same checkpoint (offsets,
    commits and state deltas all written by FileContext) under the
    session's FileSystem manager: the sink equals the source, with no
    replayed-batch duplicates and no lost rows."""
    events = read_table(spark, SF, "events")
    ev = events.orderBy("ts").collect()
    chunk = (len(ev) + N_FILES - 1) // N_FILES
    src = str(tmp_path / "src")
    for i in range(N_FILES):
        part = ev[i * chunk : (i + 1) * chunk]
        spark.createDataFrame(part + part, events.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    fired = []

    def crash_after_batch_1(batch_id: int) -> None:
        if batch_id == 1 and not fired:
            fired.append(batch_id)
            raise RuntimeError("injected crash after batch 1 write")

    def run(injector=None) -> None:
        sdf = stream_dedup(
            read_stream(spark, src, events.schema, fmt="parquet",
                        max_files_per_trigger=1),
            keys=["event_id"], ts_col="ts", watermark="24 hours",
        )
        write_parquet_stream(
            sdf, sink, ckpt, fault_injector=injector
        ).awaitTermination()

    before = spark.conf.get(KEY)
    spark.conf.set(KEY, FC_CHECKPOINT_MANAGER)
    try:
        assert _manager(spark) == FC_CHECKPOINT_MANAGER
        with pytest.raises(StreamingQueryException):
            run(crash_after_batch_1)
    finally:
        spark.conf.set(KEY, before)
    assert fired == [1]
    assert _manager(spark) == FS_CHECKPOINT_MANAGER
    run()

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    got = sorted(tuple(r) for r in spark.read.parquet(sink).select(*cols).collect())
    want = sorted(tuple(r) for r in events.select(*cols).collect())
    assert got == want
