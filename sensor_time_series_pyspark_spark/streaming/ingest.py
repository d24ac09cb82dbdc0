"""Structured Streaming ingestion + stateful aggregation (SURVEY.md
§2.11: the reference has NO streaming — its "stream" is batch CSV drops
read with an explicit schema, sensor_data_etl.py:51. This module is the
north-star replacement: the same schema-first reads as `readStream`,
watermarked tumbling/session windows for the resample/sessionize
operators, and an idempotent foreachBatch parquet sink).

Scale notes:
- watermark bounds state: without it a windowed agg keeps every window
  open forever (OOM at 100 TB/day ingest). Callers must pass a
  lateness budget explicitly. Operators chain (e.g. stream_dedup ->
  windowed_agg): each reuses an upstream watermark of the same delay
  and raises ValueError on a different one.
- the parquet sink partitions by window date so downstream batch reads
  get partition pruning for free.
- per micro-batch cost on a local session: Spark writes at least five
  checkpoint files (source log, offsets, commits, one state delta per
  state partition). ``session.get_spark`` routes them through Spark's
  FileSystem checkpoint manager (~9 ms per file, against ~35 ms for
  the default FileContext manager). State deltas and the sink's
  parquet part files still go through Hadoop's local file system,
  which runs ``chmod`` as a child process for each file it creates.
- `availableNow` trigger = batch-sized catch-up runs with streaming
  semantics (checkpoint/exactly-once) — the right way to run the
  "CSV drop" pattern the reference used.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Spark stamps the event-time column with its watermark delay (ms) and
# keeps the stamp through later operators, dropDuplicatesWithinWatermark
# included.
_DELAY_KEY = "spark.watermarkDelayMs"


def _with_watermark(sdf: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """``sdf`` with a ``watermark`` lateness budget on ``ts_col``.

    An upstream operator may already have set one (Spark refuses to
    redefine it at query start): an equal delay is reused, a different
    one raises ``ValueError`` naming both.
    """
    marked = sdf.withWatermark(ts_col, watermark)
    have = sdf.schema[ts_col].metadata.get(_DELAY_KEY)
    if have is None:
        return marked
    want = marked.schema[ts_col].metadata[_DELAY_KEY]
    if have != want:
        raise ValueError(
            f"{ts_col!r} already has a {have} ms watermark; "
            f"cannot redefine it as {watermark!r} ({want} ms)"
        )
    return sdf


def read_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "csv",
    max_files_per_trigger: int | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Schema-first file stream (never inferSchema — reference S3 kept).

    ``maxFilesPerTrigger`` bounds micro-batch size; leave None for
    availableNow catch-up runs.
    """
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def windowed_agg(
    sdf: DataFrame,
    ts_col: str,
    width: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling (or sliding) window aggregate — the
    streaming twin of operators/resample.py:resample; identical output
    schema (`bucket` = window start) so batch and streaming results are
    interchangeable."""
    withmark = _with_watermark(sdf, ts_col, watermark)
    win = F.window(ts_col, width, slide or width)
    return (
        withmark.groupBy(win.alias("__w"), *keys)
        .agg(*aggs)
        .withColumn("bucket", F.col("__w.start"))
        .drop("__w")
    )


def session_agg(
    sdf: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Gap-based session windows (streaming twin of
    operators/sessionize.py — F.session_window keeps per-key session
    state and emits on watermark close)."""
    withmark = _with_watermark(sdf, ts_col, watermark)
    sw = F.session_window(ts_col, gap)
    out_aggs = list(aggs) or [F.count(F.lit(1)).alias("n_events")]
    return (
        withmark.groupBy(sw.alias("__s"), *keys)
        .agg(*out_aggs)
        .withColumn("session_start", F.col("__s.start"))
        .withColumn("session_end", F.col("__s.end"))
        .drop("__s")
    )


def stream_dedup(
    sdf: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication — the streaming twin of
    operators/dedup.py:exact_dedup, for at-least-once sources that
    replay events (Kafka redeliveries, file-drop re-uploads).

    Uses ``dropDuplicatesWithinWatermark``: state holds one entry per
    key only until the watermark passes it, so state size is bounded by
    (key cardinality within the lateness budget), not by stream history
    — the property that makes this viable on an unbounded 100 TB/day
    feed. Two duplicates more than ``watermark`` apart are NOT caught
    (by design — that is the retention/replay contract, and a batch
    exact_dedup over the sink enforces the global invariant offline).

    ``keys`` should be the content identity (event id, or a
    fingerprint64 of the payload) — never include the arrival
    timestamp itself.
    """
    return _with_watermark(sdf, ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def write_parquet_stream(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    partition_date_col: str | None = None,
    available_now: bool = True,
    fault_injector=None,
):
    """Exactly-once parquet sink via foreachBatch.

    foreachBatch's contract is only at-least-once: after a crash
    between the parquet write and the checkpoint offset commit, the
    restarted query REPLAYS the last micro-batch with the same
    ``batch_id``. A blind ``mode("append")`` would duplicate those
    rows. The sink is therefore made idempotent the standard way:
    micro-batch N is written with a plain ``mode("overwrite")`` into
    its own ``{path}/_batch_id=N`` directory (partitioned by
    ``partition_date_col`` inside it), so a replayed batch replaces
    exactly its own directory and nothing else, even if the replay
    produces different date partitions — replay becomes a no-op,
    append ∘ replay == append (exactly-once end to end; asserted by
    the kill/restart tests in test_streaming_recovery.py). A batch that
    emits no rows leaves one schema-only part file in its directory
    (unpartitioned sink), which reads back as zero rows.

    The extra partition level costs nothing downstream: date-partition
    pruning works on nested levels, and batch ids are a handy audit
    trail (which micro-batch produced a bad row). Readers who want the
    logical schema simply ``.drop("_batch_id")``.

    ``fault_injector(batch_id)`` is a TEST SEAM: called after the
    parquet write but before foreachBatch returns (i.e. before the
    checkpoint commit). Tests raise from it to simulate a crash in the
    exact window where a non-idempotent sink would duplicate data.
    Never set it in production.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.mode("overwrite")
        if partition_date_col:
            writer = writer.partitionBy(partition_date_col)
        writer.parquet(f"{path}/_batch_id={batch_id}")
        if fault_injector is not None:
            fault_injector(batch_id)

    out = sdf
    if partition_date_col and partition_date_col not in sdf.columns:
        raise ValueError(f"partition col {partition_date_col} not in stream")
    writer = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_write)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "append"
):
    """Drain an availableNow stream into an in-memory table (tests /
    interactive inspection only — memory sink collects to the driver).
    Returns the finished query so callers can audit its progress
    metrics (e.g. monitor.dropped_late_rows)."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def quality_band_agg(
    sdf: DataFrame,
    text_col: str = "text",
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming corpus-quality monitor — the streaming twin of q595's
    quality-band composition: as documents arrive (the corpus-ingest
    drop-directory pattern, plans/corpus_ingest.py), maintain per
    (band, *keys) doc counts and BPE-ish token mass so a mixture/
    filter decision is made on LIVE ingest statistics rather than a
    nightly batch.

    Stateless per-row scoring (pure column algebra — the same
    functions/text.py expressions the batch twin uses, so stream ==
    batch holds exactly) + a streaming aggregation on the tiny
    (4 bands x keys) grid. No watermark: the band key is not
    event-time, so run in complete/update mode; state is bounded by
    the band x keys cardinality, not the stream length.
    """
    from ..functions.text import bpe_ish_token_count, quality_score

    q = quality_score(text_col)
    band = (
        F.when(q < 0.25, "q0_low")
        .when(q < 0.5, "q1_mid_low")
        .when(q < 0.75, "q2_mid_high")
        .otherwise("q3_high")
    )
    return (
        sdf.select(
            band.alias("band"),
            *(keys or []),
            bpe_ish_token_count(text_col).cast("bigint").alias("__bpe"),
        )
        .groupBy("band", *(keys or []))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__bpe").cast("bigint").alias("n_tokens"),
        )
    )
