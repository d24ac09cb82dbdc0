from .ingest import (
    quality_band_agg,
    read_stream,
    run_to_memory,
    session_agg,
    stream_dedup,
    windowed_agg,
    write_parquet_stream,
)
from .joins import stream_interval_join
from .monitor import dropped_late_rows
from .stateful import (
    ewma_anomaly_batch,
    ewma_anomaly_stream,
    heavy_hitters_batch,
    heavy_hitters_stream,
    page_hinkley_batch,
    page_hinkley_stream,
)

__all__ = [
    "quality_band_agg",
    "read_stream",
    "windowed_agg",
    "session_agg",
    "stream_dedup",
    "write_parquet_stream",
    "run_to_memory",
    "stream_interval_join",
    "dropped_late_rows",
    "ewma_anomaly_stream",
    "ewma_anomaly_batch",
    "page_hinkley_stream",
    "page_hinkley_batch",
    "heavy_hitters_stream",
    "heavy_hitters_batch",
]
