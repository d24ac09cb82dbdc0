"""Structured Streaming tests (SURVEY.md §2.11 north star): streaming
results must equal their batch twins — the strongest invariant a
streaming operator can satisfy."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.operators import resample
from sensor_time_series_pyspark_spark.sources.readers import read_table
from sensor_time_series_pyspark_spark.streaming import (
    ewma_anomaly_batch,
    ewma_anomaly_stream,
    page_hinkley_batch,
    page_hinkley_stream,
    read_stream,
    run_to_memory,
    session_agg,
    windowed_agg,
    write_parquet_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    """events table written out as a parquet 'drop directory' the
    stream reads from (simulates the reference's CSV-drop ingestion)."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    ev = read_table(spark, SF, "events")
    ev.write.mode("overwrite").parquet(d)
    schema = ev.schema
    return d, schema


def test_windowed_agg_matches_batch_resample(spark, stream_src):
    path, schema = stream_src
    sdf = read_stream(spark, path, schema, fmt="parquet")
    agg = windowed_agg(
        sdf,
        ts_col="ts",
        width="30 minutes",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
        watermark="1 hour",
    )
    # complete mode: append would hold back every window above the
    # final watermark (max_ts - 1h), so the tail of the stream never
    # emits and the batch comparison under-counts.
    run_to_memory(agg, "win_agg", output_mode="complete")
    got = {
        (r["event_type"], r["bucket"]): r["n"]
        for r in spark.table("win_agg").collect()
    }

    batch = resample(
        read_table(spark, SF, "events"),
        ts_col="ts",
        width="30 minutes",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    want = {
        (r["event_type"], r["bucket"]): r["n"] for r in batch.collect()
    }
    assert got == want


def test_session_agg_emits_sessions(spark, stream_src):
    path, schema = stream_src
    sdf = read_stream(spark, path, schema, fmt="parquet")
    sess = session_agg(
        sdf, ts_col="ts", keys=["user_id"], gap="30 minutes", watermark="1 hour"
    )
    run_to_memory(sess, "sess_agg")
    rows = spark.table("sess_agg").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1


@pytest.fixture(scope="module")
def two_phase_src(spark, tmp_path_factory):
    """events split into two time halves, one file each, written in
    chronological order — so micro-batches replay history in order and
    the cross-batch state hand-off is actually exercised (arbitrary
    part-file order would interleave timestamps and make any stateful
    result order-dependent)."""
    d = str(tmp_path_factory.mktemp("two_phase"))
    ev = read_table(spark, SF, "events")
    mid = ev.agg(F.expr("percentile(cast(ts as double), 0.5)")).first()[0]
    ev.where(F.col("ts").cast("double") <= mid).repartition(1).write.mode(
        "append"
    ).parquet(d)
    ev.where(F.col("ts").cast("double") > mid).repartition(1).write.mode(
        "append"
    ).parquet(d)
    return d, ev.schema


def test_stateful_ewma_stream_matches_batch(spark, two_phase_src):
    """applyInPandasWithState result == applyInPandas batch twin: the
    state hand-off across micro-batches must not change the math."""
    path, schema = two_phase_src
    # maxFilesPerTrigger=1 forces one micro-batch per time-half,
    # exercising state carry-over
    sdf = read_stream(spark, path, schema, fmt="parquet", max_files_per_trigger=1)
    scored = ewma_anomaly_stream(sdf, "user_id", "ts", "value", alpha=0.2)
    run_to_memory(scored, "ewma_stream")
    got = {
        (r["user_id"], r["ts"]): (r["ewma"], r["zscore"], r["n_seen"])
        for r in spark.table("ewma_stream").collect()
    }

    batch = ewma_anomaly_batch(
        read_table(spark, SF, "events"), "user_id", "ts", "value", alpha=0.2
    )
    want = {
        (r["user_id"], r["ts"]): (r["ewma"], r["zscore"], r["n_seen"])
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for k in want:
        ge, gz, gn = got[k]
        we, wz, wn = want[k]
        assert gn == wn
        assert ge == pytest.approx(we, rel=1e-12)
        if wz is None:
            assert gz is None
        else:
            assert gz == pytest.approx(wz, rel=1e-9)


def test_page_hinkley_stream_matches_batch(spark, two_phase_src):
    """Online PH drift detector: state hand-off across micro-batches
    must reproduce the batch fold exactly (shared _ph_step)."""
    path, schema = two_phase_src
    sdf = read_stream(spark, path, schema, fmt="parquet", max_files_per_trigger=1)
    scored = page_hinkley_stream(
        sdf, "user_id", "ts", "value", delta=0.0, threshold=100.0
    )
    run_to_memory(scored, "ph_stream")
    got = {
        (r["user_id"], r["ts"]): (r["ph"], r["alarm"], r["n_seen"])
        for r in spark.table("ph_stream").collect()
    }

    batch = page_hinkley_batch(
        read_table(spark, SF, "events"),
        "user_id",
        "ts",
        "value",
        delta=0.0,
        threshold=100.0,
    )
    want = {
        (r["user_id"], r["ts"]): (r["ph"], r["alarm"], r["n_seen"])
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for k in want:
        gp, ga, gn = got[k]
        wp, wa, wn = want[k]
        assert gn == wn and ga == wa
        assert gp == pytest.approx(wp, rel=1e-12, abs=1e-12)
    # ph is nonnegative by construction (m - running min of m)
    assert all(p >= 0 for p, _, _ in want.values())


def test_page_hinkley_detects_level_shift(spark):
    """A clean mean shift must raise ph well above the pre-shift
    range, and the alarm flag must fire past the threshold."""
    rows = [("s", float(i), 10.0 if i < 20 else 30.0) for i in range(40)]
    df = spark.createDataFrame(rows, ["k", "t", "x"]).select(
        "k", F.timestamp_seconds(F.col("t")).alias("ts"), F.col("x")
    )
    out = page_hinkley_batch(df, "k", "ts", "x", delta=0.0, threshold=50.0)
    pdf = out.toPandas().sort_values("n_seen")
    pre = pdf[pdf["n_seen"] <= 20]["ph"].max()
    post = pdf[pdf["n_seen"] == 40]["ph"].iloc[0]
    assert post > 10 * max(pre, 1e-9)
    assert pdf[pdf["n_seen"] == 40]["alarm"].iloc[0] == 1


def test_heavy_hitters_stream_matches_batch(spark, two_phase_src):
    """Space-saving heavy hitters: cross-batch state hand-off must
    reproduce the batch fold exactly (shared _ss_step, deterministic
    eviction tiebreak)."""
    from sensor_time_series_pyspark_spark.streaming import (
        heavy_hitters_batch,
        heavy_hitters_stream,
    )

    path, schema = two_phase_src
    sdf = read_stream(spark, path, schema, fmt="parquet", max_files_per_trigger=1)
    scored = heavy_hitters_stream(
        sdf, "user_id", "ts", "event_type", capacity=3
    )
    run_to_memory(scored, "hh_stream")
    got = {
        (r["user_id"], r["ts"]): (r["item"], r["est_count"], r["n_tracked"])
        for r in spark.table("hh_stream").collect()
    }
    batch = heavy_hitters_batch(
        read_table(spark, SF, "events"), "user_id", "ts", "event_type",
        capacity=3,
    )
    want = {
        (r["user_id"], r["ts"]): (r["item"], r["est_count"], r["n_tracked"])
        for r in batch.collect()
    }
    assert got == want


def test_heavy_hitters_guarantee_and_bound(spark):
    """Space-saving guarantees: estimate >= true count for tracked
    items, and any item with frequency > N/capacity is tracked at the
    end."""
    from sensor_time_series_pyspark_spark.streaming import heavy_hitters_batch

    # 'a' dominates (12 of 20); capacity 3 with 5 distinct items
    seq = (["a", "b", "a", "c", "a", "d"] * 3 + ["a", "e"])[:20]
    rows = [("k", float(i), s) for i, s in enumerate(seq)]
    df = spark.createDataFrame(rows, ["k", "t", "item"]).select(
        "k", F.timestamp_seconds(F.col("t")).alias("ts"), "item"
    )
    out = heavy_hitters_batch(df, "k", "ts", "item", capacity=3).toPandas()
    final_a = out[out["item"] == "a"]["est_count"].max()
    true_a = seq.count("a")
    assert final_a >= true_a  # never undercounts a tracked majority item
    assert (out["n_tracked"] <= 3).all()


def test_parquet_sink_writes_partitioned(spark, stream_src, tmp_path):
    path, schema = stream_src
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdf = read_stream(spark, path, schema, fmt="parquet")
    agg = windowed_agg(
        sdf,
        ts_col="ts",
        width="1 hour",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    ).withColumn("date", F.to_date("bucket"))
    q = write_parquet_stream(agg, out, ckpt, partition_date_col="date")
    q.awaitTermination()
    back = spark.read.parquet(out)
    assert back.count() > 0
    # exactly-once layout: _batch_id=N (replay-idempotence key) on top,
    # date=D nested under it — pruning works on nested levels, so
    # downstream date filters still skip files
    batch_dirs = [p for p in os.listdir(out) if p.startswith("_batch_id=")]
    assert batch_dirs
    assert any(
        p.startswith("date=") for p in os.listdir(os.path.join(out, batch_dirs[0]))
    )
    first_date = back.select(F.min("date")).collect()[0][0]
    assert (
        spark.read.parquet(out).where(F.col("date") == first_date).count() > 0
    )
    shutil.rmtree(out, ignore_errors=True)


def test_stream_dedup_matches_batch(spark, tmp_path_factory):
    """A source with replayed (duplicate) events, deduped within the
    watermark, must equal batch dropDuplicates on the same keys."""
    from sensor_time_series_pyspark_spark.streaming import stream_dedup

    d = str(tmp_path_factory.mktemp("dup_src"))
    ev = read_table(spark, SF, "events").limit(2000)
    # replay every event twice (same event_id, same ts) — the
    # at-least-once delivery pattern stream_dedup exists for
    ev.unionAll(ev).write.mode("overwrite").parquet(d)
    sdf = read_stream(spark, d, ev.schema, fmt="parquet")
    deduped = stream_dedup(sdf, keys=["event_id"], ts_col="ts", watermark="1 hour")
    run_to_memory(deduped, "dedup_out")
    got = spark.table("dedup_out").count()
    assert got == ev.select("event_id").distinct().count()


def test_stream_static_join_matches_batch(spark, stream_src):
    """Stream-static enrichment: a streaming fact joined to a batch
    dimension (the streaming twin of the flagship's fact⋈dim join) must
    equal the batch join — Spark re-plans the static side per
    micro-batch, no watermark needed for inner equi-joins."""
    path, schema = stream_src
    cust = read_table(spark, SF, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    sdf = read_stream(spark, path, schema, fmt="parquet")
    enriched = sdf.join(
        F.broadcast(cust), sdf.user_id == cust.c_custkey, "inner"
    ).select("event_id", "c_nationkey")
    run_to_memory(enriched, "stream_static")
    got = spark.table("stream_static")
    batch = (
        read_table(spark, SF, "events")
        .join(cust, F.col("user_id") == F.col("c_custkey"), "inner")
        .select("event_id", "c_nationkey")
    )
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0


def test_stream_stream_interval_join_matches_batch(spark, stream_src):
    """Click→purchase attribution: two streams joined on user with an
    event-time range — results must equal the batch interval join.
    Inner join: results emit without waiting for the final watermark."""
    from sensor_time_series_pyspark_spark.streaming import stream_interval_join

    path, schema = stream_src
    clicks_s = (
        read_stream(spark, path, schema, fmt="parquet")
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    buys_s = (
        read_stream(spark, path, schema, fmt="parquet")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
    )
    joined = stream_interval_join(
        clicks_s, buys_s, ["user_id"], "click_ts", "buy_ts", within="2 hours"
    ).select("click_id", "buy_id")
    run_to_memory(joined, "attrib")
    got = spark.table("attrib")

    ev = read_table(spark, SF, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    batch = clicks.join(
        buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 hours")),
    ).select("click_id", "buy_id")
    assert got.count() == batch.count() > 0
    assert got.exceptAll(batch).count() == 0


def test_debounce_stream_matches_batch(spark, two_phase_src):
    from sensor_time_series_pyspark_spark.streaming.stateful import (
        debounce_batch,
        debounce_stream,
    )

    path, schema = two_phase_src
    sdf = read_stream(spark, path, schema, fmt="parquet", max_files_per_trigger=1)
    kept = debounce_stream(sdf, "user_id", "ts", cooldown_seconds=3600)
    run_to_memory(kept, "debounce_stream_t")
    got = {
        (r["user_id"], r["ts"]) for r in spark.table("debounce_stream_t").collect()
    }
    batch = debounce_batch(
        read_table(spark, SF, "events"), "user_id", "ts", cooldown_seconds=3600
    )
    want = {(r["user_id"], r["ts"]) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_debounce_stream_drops_null_timestamps_like_batch(spark, tmp_path):
    """A key whose only timestamp is NULL emits nothing in the stream,
    as in debounce_batch (NULL-timestamp rows are dropped)."""
    from sensor_time_series_pyspark_spark.streaming.stateful import (
        debounce_batch,
        debounce_stream,
    )

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 02:00:00"), ("b", None)],
        "k string, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    d = str(tmp_path / "src")
    df.write.parquet(d)
    sdf = read_stream(spark, d, df.schema, fmt="parquet")
    run_to_memory(
        debounce_stream(sdf, "k", "ts", cooldown_seconds=3600),
        "debounce_null_t",
    )
    got = sorted(
        (r["k"], r["ts"]) for r in spark.table("debounce_null_t").collect()
    )
    want = sorted(
        (r["k"], r["ts"])
        for r in debounce_batch(df, "k", "ts", cooldown_seconds=3600).collect()
    )
    assert got == want and len(want) == 2


class _CaptureGroupBy:
    """Stands in for a streaming DataFrame: records the per-group
    function and options an operator hands to applyInPandasWithState."""

    def __init__(self, schema):
        self.schema = schema

    def groupBy(self, *cols):
        return self

    def applyInPandasWithState(self, func, **kwargs):
        self.func, self.kwargs = func, kwargs
        return self


class _StubGroupState:
    def __init__(self, timed_out: bool):
        self.hasTimedOut = timed_out
        self.exists = False
        self.calls: list[tuple] = []

    def remove(self):
        self.calls.append(("remove",))

    def update(self, value):
        self.calls.append(("update",))

    def setTimeoutDuration(self, ms):
        self.calls.append(("setTimeoutDuration", ms))


@pytest.mark.parametrize(
    "op, args",
    [
        ("ewma_anomaly_stream", ("value",)),
        ("page_hinkley_stream", ("value",)),
        ("heavy_hitters_stream", ("item",)),
        ("debounce_stream", (60,)),
    ],
)
def test_stream_harness_timeout_branch(op, args):
    """Every stream operator runs the shared GroupState loop: a timed-out
    group drops its state and emits nothing; otherwise the idle timeout
    is re-armed after the state is saved."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from sensor_time_series_pyspark_spark.streaming import stateful

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("item", StringType()),
        ]
    )
    pdf = pd.DataFrame(
        {
            "k": ["a", "a"],
            "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:05"]),
            "value": [1.0, 2.0],
            "item": ["x", "y"],
        }
    )
    sdf = _CaptureGroupBy(schema)
    getattr(stateful, op)(sdf, "k", "ts", *args, timeout_minutes=5)
    assert sdf.kwargs["timeoutConf"] == GroupStateTimeout.ProcessingTimeTimeout

    timed_out = _StubGroupState(timed_out=True)
    assert list(sdf.func(("a",), iter([pdf]), timed_out)) == []
    assert timed_out.calls == [("remove",)]

    live = _StubGroupState(timed_out=False)
    assert len(list(sdf.func(("a",), iter([pdf]), live))) == 1
    assert live.calls == [("update",), ("setTimeoutDuration", 300000)]


def test_debounce_batch_semantics(spark):
    from sensor_time_series_pyspark_spark.streaming.stateful import debounce_batch

    rows = [
        ("k", "2024-01-01 00:00:00"),
        ("k", "2024-01-01 00:00:30"),   # suppressed (< 60s after emit)
        ("k", "2024-01-01 00:01:00"),   # emitted (60s after 00:00)
        ("k", "2024-01-01 00:01:30"),   # suppressed (30s after 00:01)
        ("k", "2024-01-01 00:02:30"),   # emitted
    ]
    df = spark.createDataFrame(rows, "k string, ts string").select(
        "k", F.col("ts").cast("timestamp").alias("ts")
    )
    out = sorted(
        str(r["ts"]) for r in debounce_batch(df, "k", "ts", 60).collect()
    )
    assert out == [
        "2024-01-01 00:00:00", "2024-01-01 00:01:00", "2024-01-01 00:02:30"
    ]


def test_progress_ring_listener(spark, stream_src):
    from sensor_time_series_pyspark_spark.streaming.monitor import ProgressRing

    path, schema = stream_src
    ring = ProgressRing()
    spark.streams.addListener(ring)
    try:
        sdf = read_stream(spark, path, schema, fmt="parquet")
        q = (
            sdf.groupBy("event_type").count()
            .writeStream.format("memory").queryName("mon_t")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        # listener events are delivered async — poll briefly
        import time

        for _ in range(40):
            snap = ring.snapshot(spark)
            if snap.count() > 0:
                break
            time.sleep(0.25)
        rows = ring.snapshot(spark).collect()
        assert len(rows) > 0
        assert sum(r["num_input_rows"] for r in rows) > 0
        assert all(r["batch_duration_ms"] is not None for r in rows)
    finally:
        spark.streams.removeListener(ring)


def test_quality_band_agg_matches_batch(spark, tmp_path):
    """Streaming corpus-quality monitor == the batch quality-band
    composition (the q595 shape) — same column algebra on both sides,
    so equality is exact, not approximate."""
    from sensor_time_series_pyspark_spark.streaming import (
        quality_band_agg,
    )

    d = str(tmp_path / "docs_src")
    docs = read_table(spark, SF, "documents")
    docs.write.mode("overwrite").parquet(d)
    sdf = read_stream(spark, d, docs.schema, fmt="parquet")
    run_to_memory(
        quality_band_agg(sdf, "text", keys=["lang"]),
        "qband",
        output_mode="complete",
    )
    got = {
        (r["band"], r["lang"]): (r["n_docs"], r["n_tokens"])
        for r in spark.table("qband").collect()
    }
    want = {
        (r["band"], r["lang"]): (r["n_docs"], r["n_tokens"])
        for r in quality_band_agg(docs, "text", keys=["lang"]).collect()
    }
    assert got == want and len(want) >= 4
