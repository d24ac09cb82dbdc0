"""Deadband (exception) compression for sensor streams.

Historians (PI, Wonderware) store a reading only when it moves more
than a deadband ε away from the LAST STORED value — typically 90%+
compression on slow-moving gas readings like the reference's O2 channel
(steady at 21% atmospheric, sensor_data_etl.py:84). The keep/drop
decision depends on the previous KEPT row, not the previous row, so it
is inherently sequential per series — no window-function rewrite exists.

Both compressors run through the batch fold harness
(``operators/fold.py:fold_by_key``), returning the kept row indices of
each series; series compress independently, and one series must fit in
a worker.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fold import fold_by_key


def _deadband_keep(_us, v, *, epsilon: float) -> list[tuple]:
    out = []
    last = None
    for i, x in enumerate(v):
        if last is None or abs(x - last) > epsilon:
            out.append((i,))
            last = x
    return out


def deadband_compress(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    epsilon: float,
) -> DataFrame:
    """Keep the first row per key, then every row whose value deviates
    from the last KEPT value by MORE than ``epsilon`` (strict —
    ``|v - last_kept| > ε``). Rows are ordered by (ts, value) within
    the key so duplicate timestamps compress deterministically; rows
    with a NULL timestamp fold last. Rows with a NULL value are dropped
    before the fold: a NULL kept value would fail every later
    comparison and swallow the rest of the series.

    Output: key, ts, value — the kept rows only.
    """
    return fold_by_key(
        df.where(F.col(value_col).isNotNull()), key_col, ts_col, [value_col],
        partial(_deadband_keep, epsilon=epsilon),
    )


def _sdt_keep(us, v, *, epsilon: float) -> list[tuple]:
    n = len(v)
    # micros*1000 is the exact nanos value: the slopes divide the same
    # operands as a datetime64[ns].astype(int64) / 1e9 conversion
    t = np.asarray(us, dtype=np.int64) * 1000 / 1e9  # seconds
    keep = [False] * n
    keep[0] = True
    a = 0          # index of last archived point
    prev = 0       # previous point seen (candidate to archive)
    lo, hi = float("-inf"), float("inf")
    for i in range(1, n):
        dt = t[i] - t[a]
        if dt <= 0:
            # duplicate timestamp: immediate corridor test on
            # value distance only
            if abs(v[i] - v[a]) > epsilon:
                keep[prev] = True
                a = prev
                lo, hi = float("-inf"), float("inf")
            prev = i
            continue
        s_hi = (v[i] + epsilon - v[a]) / dt
        s_lo = (v[i] - epsilon - v[a]) / dt
        hi = min(hi, s_hi)
        lo = max(lo, s_lo)
        if lo > hi:
            # corridor collapsed: archive previous, restart
            keep[prev] = True
            a = prev
            lo, hi = float("-inf"), float("inf")
            dt = t[i] - t[a]
            if dt > 0:
                hi = (v[i] + epsilon - v[a]) / dt
                lo = (v[i] - epsilon - v[a]) / dt
        prev = i
    keep[n - 1] = True
    return [(i,) for i, k in enumerate(keep) if k]


def swinging_door_compress(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    epsilon: float,
) -> DataFrame:
    """Swinging-door trending (SDT) compression per series — the other
    classic historian rule (OSIsoft PI "compression deviation"): keep
    the minimal set of points such that linear interpolation between
    kept points stays within ±ε of every dropped original.

    Versus deadband (``deadband_compress``), SDT tracks SLOPES: a pivot
    door opens from the last kept point; while every new point fits
    inside the narrowing slope corridor [max lower, min upper] the
    segment extends; when the corridor inverts, the PREVIOUS point is
    kept and the corridor restarts from it. First and last points of a
    series are always kept, so reconstruction covers the full range.
    Rows with a NULL timestamp have no place on the time axis and are
    dropped, as are rows with a NULL value (their slopes would be NaN
    and the corridor would never close).

    Sequential per series (corridor state), O(n) per series — same
    scale contract as ``deadband_compress``.
    """
    return fold_by_key(
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()),
        key_col, ts_col, [value_col],
        partial(_sdt_keep, epsilon=epsilon),
    )


def delta_encode(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    decimals: int = 2,
) -> DataFrame:
    """Delta encoding for regular numeric series (the Gorilla/timescale
    compression front end): each reading becomes its integer-scaled
    difference from the predecessor — repeated and slowly-drifting
    sensor values collapse to long zero/near-zero runs that dictionary
    and RLE parquet encodings then store in a few bits.

    One lag over the per-series window (single shuffle on the series
    key); the first reading per series carries its full scaled value
    with ``is_first`` set. ``delta_decode`` reverses losslessly (the
    scaling is an exact decimal cast, property-tested round trip).

    Output: [*key_cols], ts, delta (bigint), is_first.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    xi = (
        (F.col(value_col).cast(f"decimal(18,{decimals})") * (10 ** decimals))
        .cast("long")
    )
    prev = F.lag(xi).over(w)
    return df.select(
        *key_cols,
        F.col(ts_col).alias("ts"),
        F.coalesce(xi - prev, xi).alias("delta"),
        prev.isNull().alias("is_first"),
    )


def delta_decode(
    encoded: DataFrame,
    key_cols: list[str],
    decimals: int = 2,
) -> DataFrame:
    """Reverse delta_encode: a running sum of deltas per series (one
    prefix-sum window over the same partitioning the encoder used —
    the shuffle is reused when chained).

    Output: [*key_cols], ts, value (double).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*key_cols)
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return encoded.select(
        *key_cols,
        "ts",
        (
            F.sum("delta").over(w).cast("double") / F.lit(float(10 ** decimals))
        ).alias("value"),
    )
