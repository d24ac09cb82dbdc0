"""Stream-stream joins (Structured Streaming's hardest primitive,
absent from the reference — SURVEY.md §2.11).

An event-time interval join between two unbounded streams: each side
buffers rows in the state store until the other side's watermark says
no more matches can arrive. The watermark + time-range condition are
what make state GC-able — an unconstrained stream-stream join would
buffer both streams forever (the 100 TB/day failure mode). Spark
derives the state retention from the interval bounds automatically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ingest import _with_watermark


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Join two streams on equality ``keys`` where ``right_ts`` lands in
    [left_ts, left_ts + within] — the attribution shape (impression →
    conversion within the window).

    Both sides get watermarks; the range condition bounds how long each
    left row waits in state. Column names must be disjoint apart from
    ``keys`` (prefix upstream if needed). ``how`` supports inner and
    left_outer (outer emits only after watermark passes — late rows
    with no match surface with NULL right columns).
    """
    lw = _with_watermark(left, left_ts, watermark)
    rw = _with_watermark(right, right_ts, watermark)
    cond = F.lit(True)
    for k in keys:
        cond = cond & (lw[k] == rw[k])
    cond = (
        cond
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    joined = lw.join(rw, cond, how)
    # drop the duplicated key columns from the right side
    for k in keys:
        joined = joined.drop(rw[k])
    return joined
