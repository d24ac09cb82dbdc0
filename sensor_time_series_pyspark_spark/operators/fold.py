"""The batch harness for sequential per-key folds: historian
compression, debounce and the batch twins of the stateful stream
operators (``streaming/stateful.py``).

The JVM builds one ``array_sort(collect_list(struct))`` array per key,
in the order both fold harnesses keep: ``ts`` ascending, NULL ``ts``
last, ties broken by the value columns in turn (NULL first). One scalar
Arrow ``pandas_udf`` calls a per-series Python function once per key,
thousands of keys per Arrow batch, and the JVM expands the ``(index,
*out)`` rows it returns, recovering ``ts`` with ``element_at``. (One
pandas frame per key, ``applyInPandas``, paid a fixed cost per series
that dominated these O(n) folds.) One series must fit in a worker, so
resample first if a series is unbounded.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, IntegerType, StructType
from pyspark.sql.types import TimestampType


def sort_rows(pdf: pd.DataFrame, ts_col: str, value_cols: Sequence[str]):
    """``pdf`` in the fold order (stable), for the stream harness."""
    return pdf.assign(__ts_null=pdf[ts_col].isna()).sort_values(
        ["__ts_null", ts_col, *value_cols], na_position="first", kind="stable"
    )


def epoch_micros(ts: pd.Series) -> list[int | None]:
    """Timestamps as epoch micros, None where NULL."""
    us = ts.to_numpy().astype("datetime64[us]").astype(np.int64).tolist()
    return [None if null else u for u, null in zip(us, ts.isna().tolist())]


def _micros(u: np.ndarray) -> list[int | None]:
    # Arrow hands a bigint list holding NULLs over as float64 with NaN
    if u.dtype.kind == "f":
        return [None if x != x else int(x) for x in u.tolist()]
    return u.tolist()


def fold_by_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_cols: Sequence[str],
    series_fn: Callable[..., list[tuple]],
    out_fields: Sequence[tuple[str, DataType]] | None = None,
) -> DataFrame:
    """Fold each key's rows, in the fold order, with ``series_fn(us,
    *values) -> [(index, *out), ...]`` and emit one row per tuple.

    Output: key, ts, then ``out_fields`` (the columns ``series_fn``
    computes) or, when ``out_fields`` is None, the input's
    ``value_cols`` (a fold that keeps input rows returns ``(index,)``).
    """
    order = F.struct(F.isnull(ts_col).alias("__ts_null"), ts_col, *value_cols)
    per_key = df.groupBy(key_col).agg(
        F.array_sort(F.collect_list(order)).alias("__p")
    )
    emitted = StructType().add("__i", IntegerType())
    for name, dtype in out_fields or ():
        emitted.add(name, dtype)

    @F.pandas_udf(ArrayType(emitted))
    def fold(us: pd.Series, *values: pd.Series) -> pd.Series:
        return pd.Series(
            [series_fn(_micros(u), *(v.tolist() for v in vs))
             for u, *vs in zip(us, *values)],
            dtype=object,
        )

    def field(c: str):
        return F.transform("__p", lambda s: s[c])

    us = F.transform(
        "__p", lambda s: F.unix_micros(s[ts_col].cast(TimestampType()))
    )
    per_key = per_key.select(
        key_col, "__p", fold(us, *map(field, value_cols)).alias("__e")
    )

    def row(e):
        src = F.element_at("__p", e["__i"] + 1)
        if out_fields is None:
            cols = [src[c].alias(c) for c in value_cols]
        else:
            cols = [e[c].alias(c) for c in emitted.names[1:]]
        return F.struct(src[ts_col].alias(ts_col), *cols)

    return per_key.select(
        key_col, F.explode(F.transform("__e", row)).alias("__r")
    ).select(key_col, "__r.*")
