"""Custom stateful streaming operators: per-series folds that score
every event live and agree exactly with their offline batch twins
(SURVEY.md §2.11 — "no custom state store needed until per-series
online forecasting (applyInPandasWithState if wanted)").

Each recurrence (EWMA, Page-Hinkley, debounce, space-saving) is one
pure step ``step(state, ts, *values) -> (state, out_row | None)``:
``state`` is the O(1) per-series tuple that survives between events,
and ``out_row`` holds the output columns after (key, ts), or None when
the event emits nothing. Two private harnesses run a step over the rows
of one key in ``ts`` order:

- ``_fold_stream`` — the only ``applyInPandasWithState`` call: loads
  the key's GroupState (or the step's initial state), folds every
  micro-batch, saves the state, and drops it after
  ``timeout_minutes`` of processing-time idleness.
- ``_fold_batch`` — the only ``applyInPandas`` call, for the batch
  twins. Batch needs its own harness because Spark rejects
  ``applyInPandasWithState`` in a batch query.

Every event is scored against the state BEFORE it is folded in, and
both harnesses run the same step, so the output is identical whether
rows arrive in one batch or many (tested in test_streaming.py).
``debounce_batch`` keeps its Arrow fold over integer micros but takes
its cooldown rule from the same debounce step.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator, Sequence
from functools import partial
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

Step = Callable[..., tuple[tuple, "tuple | None"]]


def _out_schema(key_field: StructField, *fields: tuple[str, Any]) -> StructType:
    return StructType(
        [key_field, StructField("ts", TimestampType())]
        + [StructField(name, dtype) for name, dtype in fields]
    )


def _fold(
    step: Step,
    state: tuple,
    key: Any,
    pdf: pd.DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
) -> tuple[tuple, list[tuple]]:
    """Run ``step`` over one key's rows in ``ts`` order; the rows to
    emit are (key, ts, *out_row)."""
    pdf = pdf.sort_values(ts_col)
    rows = []
    for ts, *values in zip(pdf[ts_col], *(pdf[c] for c in value_cols)):
        state, out = step(state, ts, *values)
        if out is not None:
            rows.append((key, ts, *out))
    return state, rows


def _fold_stream(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    value_cols: Sequence[str],
    step: Step,
    init: tuple,
    state_schema: str,
    out_schema: StructType,
    timeout_minutes: int | None,
) -> DataFrame:
    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle series past timeout_minutes: drop the state so the
            # store stays bounded; no output.
            state.remove()
            return
        st = tuple(state.get) if state.exists else init
        for pdf in pdfs:
            st, rows = _fold(step, st, key[0], pdf, ts_col, value_cols)
            if rows:
                yield pd.DataFrame(rows, columns=out_schema.names)
        state.update(st)
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    return sdf.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def _fold_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_cols: Sequence[str],
    step: Step,
    init: tuple,
    out_schema: StructType,
) -> DataFrame:
    def fold(key: tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        _, rows = _fold(step, init, key[0], pdf, ts_col, value_cols)
        return pd.DataFrame(rows, columns=out_schema.names)

    return df.groupBy(key_col).applyInPandas(fold, schema=out_schema)


# ---------------------------------------------------------------------------
# EWMA + z-score
# ---------------------------------------------------------------------------

_EWMA_INIT = (0.0, 0.0, 0)
STATE_SCHEMA = "ewma double, ewm_var double, n long"
_EWMA_FIELDS = (
    ("value", DoubleType()),
    ("ewma", DoubleType()),
    ("zscore", DoubleType()),
    ("n_seen", LongType()),
)


def _ewma_step(state: tuple, ts: Any, v: Any, *, alpha: float):
    """One EWMA update (Welford-style EWM, West 1979): the z-score uses
    the state BEFORE the event. The IEEE operation order is fixed — the
    q50 recursive-CTE oracle replicates it bit for bit."""
    ewma, ewm_var, n = state
    v = float(v)
    if n == 0:
        z = None
        ewma, ewm_var = v, 0.0
    else:
        sd = math.sqrt(ewm_var)
        z = (v - ewma) / sd if sd > 0 else None
        delta = v - ewma
        ewma = ewma + alpha * delta
        ewm_var = (1 - alpha) * (ewm_var + alpha * delta * delta)
    n += 1
    return (ewma, ewm_var, n), (v, ewma, z, n)


def ewma_anomaly_stream(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Streaming per-series EWMA + z-score.

    Output row per input event: the running mean at arrival time and
    the event's deviation from it in EWM standard deviations (NULL for
    a series' first event). Rows within a batch are processed in
    ``ts`` order; state carries over between micro-batches.
    """
    return _fold_stream(
        sdf, key_col, ts_col, [value_col],
        partial(_ewma_step, alpha=alpha), _EWMA_INIT, STATE_SCHEMA,
        _out_schema(sdf.schema[key_col], *_EWMA_FIELDS), timeout_minutes,
    )


def ewma_anomaly_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
) -> DataFrame:
    """Batch twin of ``ewma_anomaly_stream`` (same ``_ewma_step`` fold
    via ``applyInPandas``) — used to assert stream == batch."""
    return _fold_batch(
        df, key_col, ts_col, [value_col],
        partial(_ewma_step, alpha=alpha), _EWMA_INIT,
        _out_schema(df.schema[key_col], *_EWMA_FIELDS),
    )


# ---------------------------------------------------------------------------
# Page-Hinkley online drift detection
# ---------------------------------------------------------------------------

_PH_INIT = (0, 0.0, 0.0, 0.0)
PH_STATE_SCHEMA = "n long, mean double, m double, m_min double"
_PH_FIELDS = (
    ("value", DoubleType()),
    ("ph", DoubleType()),
    ("alarm", LongType()),
    ("n_seen", LongType()),
)


def _ph_step(state: tuple, ts: Any, x: Any, *, delta: float, threshold: float):
    """One online Page-Hinkley update (the river/MOA recurrence):
    incremental mean, cumulative deviation m += x - mean_t - delta
    (with the UPDATED mean, matching the canonical streaming form),
    running minimum of m; ph = m - min(m)."""
    n, mean, m, m_min = state
    x = float(x)
    n += 1
    mean = mean + (x - mean) / n
    m = m + (x - mean - delta)
    m_min = min(m_min, m)
    ph = m - m_min
    return (n, mean, m, m_min), (x, ph, int(ph > threshold), n)


def page_hinkley_stream(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    delta: float = 0.0,
    threshold: float = 50.0,
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Streaming per-series Page-Hinkley mean-increase detector —
    O(1) state per series (n, running mean, cumulative deviation m,
    running min of m); alarm fires while ph = m - min(m) exceeds
    ``threshold``. The sequential counterpart of the offline q267
    query (which uses the whole-series mean; the online form uses the
    running mean, the standard stream variant). Rows within a batch
    process in ``ts`` order; state carries across micro-batches."""
    return _fold_stream(
        sdf, key_col, ts_col, [value_col],
        partial(_ph_step, delta=delta, threshold=threshold), _PH_INIT,
        PH_STATE_SCHEMA, _out_schema(sdf.schema[key_col], *_PH_FIELDS),
        timeout_minutes,
    )


def page_hinkley_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    delta: float = 0.0,
    threshold: float = 50.0,
) -> DataFrame:
    """Batch twin of ``page_hinkley_stream`` (same ``_ph_step`` fold
    via ``applyInPandas``) — used to assert stream == batch."""
    return _fold_batch(
        df, key_col, ts_col, [value_col],
        partial(_ph_step, delta=delta, threshold=threshold), _PH_INIT,
        _out_schema(df.schema[key_col], *_PH_FIELDS),
    )


# ---------------------------------------------------------------------------
# debounce / rate limit
# ---------------------------------------------------------------------------

_DEBOUNCE_INIT = (None,)


def _debounce_step(state: tuple, us: int | None, *, gap_us: int):
    """One debounce update on epoch microseconds: emit iff at least
    ``gap_us`` have passed since the last EMITTED event (the key's
    first event always emits). A NULL timestamp (``us`` None) is
    skipped and leaves the state alone."""
    (last_us,) = state
    if us is None or (last_us is not None and us - last_us < gap_us):
        return state, None
    return (us,), ()


def debounce_stream(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    cooldown_seconds: int,
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Streaming per-key debounce (alarm rate-limiter): emit an event
    only if at least ``cooldown_seconds`` have passed since the last
    EMITTED event of the same key — the historian/alerting primitive
    that turns a chattering sensor into actionable alarms.

    Genuinely sequential (whether an event emits depends on which
    earlier events emitted, a data-dependent recursion like deadband),
    so it is a stateful operator, not a window: GroupState holds one
    timestamp per key (O(1) state), rows process in ts order within a
    batch, and state carries across micro-batches so stream == batch
    (tested). Rows with a NULL timestamp are dropped, as in
    ``debounce_batch``. Output: the surviving (key, ts) rows.
    """
    gap_us = cooldown_seconds * 1_000_000

    def step(state: tuple, ts: Any):
        us = None if pd.isna(ts) else pd.Timestamp(ts).value // 1000
        return _debounce_step(state, us, gap_us=gap_us)

    return _fold_stream(
        sdf, key_col, ts_col, [], step, _DEBOUNCE_INIT, "last_us long",
        StructType([sdf.schema[key_col], sdf.schema[ts_col]]),
        timeout_minutes,
    )


def debounce_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    cooldown_seconds: int,
) -> DataFrame:
    """Batch twin of ``debounce_stream`` (same ``_debounce_step``
    cooldown rule) — asserts stream == batch, and serves as the offline
    rate-limit pass over historical archives.

    Python-boundary shape (guide §4): the per-key timestamp array is
    assembled in the JVM (collect_list + array_sort), the fold runs in
    a scalar Arrow ``pandas_udf`` on integer micros — thousands of
    keys per Arrow batch instead of one pandas DataFrame per key
    (whose per-group overhead dominated the O(n) scan; the q603
    rainflow lesson) — and kept timestamps re-expand natively.

    NULL-timestamp contract (deliberate): rows with a NULL timestamp
    are dropped up front, so a key whose timestamps are ALL NULL is
    absent from the output. (collect_list already skipped NULLs; the
    explicit filter makes the behavior a documented contract rather
    than an aggregate side effect.)"""
    step = partial(_debounce_step, gap_us=cooldown_seconds * 1_000_000)

    @F.pandas_udf("array<int>")
    def keep_idx(us: pd.Series) -> pd.Series:
        def one(u) -> list[int]:
            state, out = _DEBOUNCE_INIT, []
            for i, x in enumerate(u):
                state, row = step(state, x)
                if row is not None:
                    out.append(i)
            return out

        return pd.Series([one(u) for u in us], dtype=object)

    per_key = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(key_col)
        .agg(F.array_sort(F.collect_list(F.col(ts_col))).alias("__t"))
    )
    kept = per_key.select(
        F.col(key_col),
        F.col("__t"),
        keep_idx(
            F.transform("__t", lambda t: F.unix_micros(t))
        ).alias("__k"),
    )
    return kept.select(
        F.col(key_col),
        F.explode(
            F.transform("__k", lambda i: F.element_at("__t", i + 1))
        ).alias(ts_col),
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters (space-saving)
# ---------------------------------------------------------------------------

_SS_INIT = ((), ())
SS_STATE_SCHEMA = "items array<string>, counts array<long>"
_SS_FIELDS = (
    ("item", StringType()),
    ("est_count", LongType()),
    ("n_tracked", LongType()),
)


def _ss_step(state: tuple, ts: Any, item: Any, *, capacity: int):
    """One space-saving update (Metwally 2005): increment a tracked
    item, admit into spare capacity, or evict the minimum counter and
    inherit its count + 1 (the overestimate bound). Deterministic
    eviction: smallest count, then lexicographically smallest item.
    Emits the item's current estimate."""
    items, counts = list(state[0]), list(state[1])
    item = str(item)
    if item in items:
        i = items.index(item)
        counts[i] += 1
    elif len(items) < capacity:
        items.append(item)
        counts.append(1)
        i = len(items) - 1
    else:
        m = min(counts)
        # deterministic tiebreak among minimum counters
        i = items.index(min(it for it, c in zip(items, counts) if c == m))
        items[i] = item
        counts[i] = m + 1
    return (items, counts), (item, counts[i], len(items))


def heavy_hitters_stream(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    item_col: str,
    capacity: int = 8,
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Streaming space-saving heavy hitters per key: O(capacity) state
    regardless of item cardinality, guaranteed to track any item with
    true frequency > N/capacity (the classic bounded-state top-k; the
    batch top-k SKETCH in operators/sketches.py answers the same
    question offline — this is the live path). Emits each event's
    running estimate; rows within a batch process in ts order and
    state carries across micro-batches."""
    return _fold_stream(
        sdf, key_col, ts_col, [item_col],
        partial(_ss_step, capacity=capacity), _SS_INIT, SS_STATE_SCHEMA,
        _out_schema(sdf.schema[key_col], *_SS_FIELDS), timeout_minutes,
    )


def heavy_hitters_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    item_col: str,
    capacity: int = 8,
) -> DataFrame:
    """Batch twin of ``heavy_hitters_stream`` (same ``_ss_step`` fold
    via ``applyInPandas``) — used to assert stream == batch."""
    return _fold_batch(
        df, key_col, ts_col, [item_col],
        partial(_ss_step, capacity=capacity), _SS_INIT,
        _out_schema(df.schema[key_col], *_SS_FIELDS),
    )
