"""Distributed per-series forecasting — the reference's U1 done right.

The reference's grouped-map UDF groups by ``('datetime','O2')`` so every
"series" is ~one row and the model fit is void
(spark_pandas_timeseries_forecast.py:63; SURVEY.md §8 bug 5). Here the
group key is the SERIES IDENTITY (sensor/terminal/user), the UDF is the
Spark-3 ``applyInPandas`` idiom (Arrow-batched), and data prep
(resample/ffill/trim) happens NATIVELY before the Python boundary so
each group entering a Python worker is already bounded:
one row per bucket — at most ``span/width`` rows per series, regardless
of raw-event cardinality. That bound is what keeps per-group pandas
memory flat at 100 TB.

Model-per-group is embarrassingly parallel: one shuffle by series key,
then zero cross-series communication. Every public call runs ONE Python
stage of exactly ``defaultParallelism`` tasks (one per core): the series
are hash-repartitioned by their keys to that explicit count, which AQE
does not coalesce and which the ``groupBy(keys)`` reuses without a
second shuffle. Never more tasks than cores: each Python task pays a
fixed start-up cost (``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which on Python 3.11 re-reads every
zip importer on the worker path). On a 4-CPU VM a trivial
``mapInPandas`` over 4k rows took 0.33–0.45 s with 4 tasks and
2.3–2.5 s with 32, about 0.3 s of core time per extra task. Never
fewer: left to AQE, a few hundred small series coalesce into one or two
partitions and leave the other cores idle.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.group import GroupedData

from .models import MODELS, seasonal_decompose_additive, walk_forward_mse


def _by_series(df: DataFrame, keys: list[str]) -> GroupedData:
    """Group ``df`` by series keys for one Python stage of exactly
    ``defaultParallelism`` tasks (see the module docstring)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys).groupBy(*keys)


def _series_values(pdf: pd.DataFrame, ts_col: str, value_col: str) -> np.ndarray:
    """One group's values in time order, nulls dropped."""
    x = pdf.sort_values(ts_col)[value_col].to_numpy(dtype="float64")
    return x[~np.isnan(x)]


def _best_combo(mses: Sequence[float]) -> int:
    """Index of the lowest MSE; the LAST in grid order among equals, and
    NaN never beats a number — Spark's ``min_by`` ordering."""
    return min(
        reversed(range(len(mses))),
        key=lambda i: (np.isnan(mses[i]), 0.0 if np.isnan(mses[i]) else mses[i]),
    )


def fit_forecast(
    df: DataFrame,
    series_keys: Sequence[str],
    ts_col: str,
    value_col: str,
    horizon: int,
    model: str = "holt",
    params: dict | None = None,
    min_points: int = 3,
    model_fn: Callable[[np.ndarray, int], tuple[np.ndarray, np.ndarray]] | None = None,
) -> DataFrame:
    """horizon-step forecast per series with 95% CI.

    Output: series_keys…, step, forecast, lo, hi. ``model`` is one of
    models.MODELS ('ses' | 'holt' | 'arima'); ``model_fn`` overrides it
    with any callable (e.g. statsmodels when available).
    """
    params = params or {}
    fn = model_fn or MODELS[model]
    keys = list(series_keys)
    key_fields = df.select(*keys).schema.fields
    out_cols = [f.name for f in key_fields] + ["step", "forecast", "lo", "hi"]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in key_fields]
        + ["step int", "forecast double", "lo double", "hi double"]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        x = _series_values(pdf, ts_col, value_col)
        if len(x) < min_points:
            return pd.DataFrame(columns=out_cols)
        fc, se = fn(x, horizon, **params)
        out = pd.DataFrame(
            {
                "step": np.arange(1, horizon + 1, dtype="int32"),
                "forecast": fc,
                "lo": fc - 1.96 * se,
                "hi": fc + 1.96 * se,
            }
        )
        for f in key_fields:
            out[f.name] = pdf[f.name].iloc[0]
        return out[out_cols]

    return _by_series(df, keys).applyInPandas(per_series, out_schema)


def grid_search_forecast(
    df: DataFrame,
    series_keys: Sequence[str],
    ts_col: str,
    value_col: str,
    grid: Sequence[dict],
    model: str = "arima",
) -> DataFrame:
    """Distributed hyperparameter search (reference T6 re-shaped): each
    series group scores every combo of ``grid`` by walk-forward MSE in
    the one Python call that holds the series, and emits only the
    winner. The series cross into Python once, however large the grid.

    Ties go to the LAST equal combo in grid order and a NaN MSE never
    wins, as Spark's ``min_by`` orders them. A series too short to
    score still gets one row, with ``mse = inf``.

    Output: series_keys…, best_params (json string), mse.
    """
    if not grid:
        raise ValueError("grid_search_forecast: empty grid")
    keys = list(series_keys)
    grid = list(grid)
    params = [json.dumps(g) for g in grid]
    key_fields = df.select(*keys).schema.fields
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in key_fields]
        + ["best_params string", "mse double"]
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        x = _series_values(pdf, ts_col, value_col)
        mses = [walk_forward_mse(x, model, g) for g in grid]
        best = _best_combo(mses)
        row = {f.name: pdf[f.name].iloc[0] for f in key_fields}
        row.update(best_params=params[best], mse=mses[best])
        return pd.DataFrame([row])

    return _by_series(df, keys).applyInPandas(score, out_schema)


def decompose(
    df: DataFrame,
    series_keys: Sequence[str],
    ts_col: str,
    value_col: str,
    period: int,
) -> DataFrame:
    """Additive seasonal decomposition per series (reference T8).
    Output: series_keys…, ts, value, trend, seasonal, resid."""
    keys = list(series_keys)
    key_fields = df.select(*keys).schema.fields
    ts_type = df.select(ts_col).schema.fields[0].dataType.simpleString()
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in key_fields]
        + [
            f"{ts_col} {ts_type}",
            f"{value_col} double",
            "trend double",
            "seasonal double",
            "resid double",
        ]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        x = pdf[value_col].to_numpy(dtype="float64")
        trend, seasonal, resid = seasonal_decompose_additive(x, period)
        out = pdf[[f.name for f in key_fields] + [ts_col]].copy()
        out[value_col] = x
        out["trend"] = trend
        out["seasonal"] = seasonal
        out["resid"] = resid
        return out

    return _by_series(df, keys).applyInPandas(per_series, out_schema)
