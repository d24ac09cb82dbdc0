"""Forecast/ML invariant tests (SURVEY.md §5 strategy #4: non-SQL ops
get metric-threshold + determinism checks instead of an oracle)."""

from __future__ import annotations

import json
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.ml import (
    fit_forecast,
    grid_search_forecast,
    decompose,
)
from sensor_time_series_pyspark_spark.ml.models import (
    arima,
    holt,
    seasonal_decompose_additive,
    ses,
    walk_forward_mse,
)


# ---- numpy models -------------------------------------------------------


def test_ses_constant_series():
    x = np.full(20, 5.0)
    fc, se = ses(x, 3)
    assert np.allclose(fc, 5.0) and np.allclose(se, 0.0)


def test_holt_linear_trend_exact():
    x = np.arange(30, dtype="float64")  # perfect trend: forecast continues it
    fc, _ = holt(x, 5, alpha=0.9, beta=0.9)
    assert np.allclose(fc, np.arange(30, 35), atol=0.5)


def test_holt_winters_recovers_pure_seasonality():
    from sensor_time_series_pyspark_spark.ml.models import holt_winters

    pattern = np.array([10, 12, 14, 16, 14, 12, 10], dtype="float64")
    x = np.tile(pattern, 6)  # 6 clean weekly cycles, no trend
    fc, se = holt_winters(x, 7, alpha=0.3, beta=0.05, gamma=0.5, period=7)
    assert np.allclose(fc, pattern, atol=1.0)  # next cycle ~ the pattern
    assert np.all(np.diff(se) >= 0)


def test_holt_winters_short_series_falls_back_to_holt():
    from sensor_time_series_pyspark_spark.ml.models import holt, holt_winters

    x = np.arange(10, dtype="float64")
    fc_hw, _ = holt_winters(x, 3, period=7)  # < 2 periods of data
    fc_h, _ = holt(x, 3)
    assert np.allclose(fc_hw, fc_h)


def test_arima_d1_recovers_drift():
    x = np.cumsum(np.full(40, 2.0))  # constant drift 2/step
    fc, se = arima(x, 4, p=1, d=1)
    assert np.allclose(np.diff(np.r_[x[-1], fc]), 2.0, atol=0.2)
    assert np.all(np.diff(se) >= 0)  # widening uncertainty


def test_walk_forward_prefers_right_model():
    rng = np.random.default_rng(42)
    x = np.cumsum(np.full(60, 1.0)) + rng.normal(0, 0.01, 60)
    mse_d1 = walk_forward_mse(x, "arima", {"p": 1, "d": 1})
    mse_d0 = walk_forward_mse(x, "arima", {"p": 0, "d": 0})
    assert mse_d1 < mse_d0  # trending series: differencing wins


def _walk_forward_by_definition(x, g):
    """The defining loop: refit ``arima`` on every expanding prefix."""
    n = len(x)
    n_test = max(1, n // 4)
    if n - n_test < 3:
        return float("inf")
    errs = [(x[i] - arima(x[:i], 1, **g)[0][0]) ** 2 for i in range(n - n_test, n)]
    return float(np.mean(errs))


def test_walk_forward_arima_matches_defining_loop_exactly():
    """The ARIMA walk-forward kernel differences once and skips sigma;
    its MSE must still equal the refit-every-step loop bit for bit,
    including the ``n - n_test < 3`` guard (short lengths) and the
    ``len(work) < 2`` differencing stop (d = 2 on 3-point prefixes)."""
    rng = np.random.default_rng(11)
    lengths = list(range(1, 61)) + list(range(61, 400, 23)) + [400]
    grid = [
        {"p": p, "d": d, "q": q}
        for p in (0, 1, 2) for d in (0, 1, 2) for q in (0, 1)
    ]
    for n in lengths:
        series = [
            np.cumsum(rng.normal(0, 3, n)) + rng.normal(0, 1, n),  # random walk
            np.full(n, 4.0),  # constant: rank-deficient design
            np.arange(n, dtype="float64") * 0.5,  # exact linear trend
        ]
        for x in series:
            for g in grid:
                got = walk_forward_mse(x, "arima", g)
                want = _walk_forward_by_definition(x, g)
                assert got == want or (math.isnan(got) and math.isnan(want)), (n, g, got, want)


def test_seasonal_decompose_reconstruction():
    t = np.arange(56, dtype="float64")
    x = 0.5 * t + 3 * np.sin(2 * np.pi * t / 7)
    trend, seasonal, resid = seasonal_decompose_additive(x, 7)
    ok = ~np.isnan(trend)
    assert np.allclose((trend + seasonal + resid)[ok], x[ok], atol=1e-9)
    assert abs(np.nanmean(seasonal)) < 1e-9


# ---- Spark harness ------------------------------------------------------


@pytest.fixture(scope="module")
def series_df(spark):
    rows = []
    for uid in (1, 2):
        for day in range(30):
            rows.append((uid, day, float(10 * uid + day + (day % 7))))
    df = spark.createDataFrame(rows, "user_id int, d int, value double")
    return df.withColumn("day", F.date_add(F.lit("2024-01-01").cast("date"), F.col("d")))


def test_fit_forecast_shape_and_determinism(series_df):
    out = fit_forecast(series_df, ["user_id"], "day", "value", horizon=7, model="holt")
    rows = out.collect()
    assert len(rows) == 14  # 2 series × 7 steps
    by_key = {(r["user_id"], r["step"]): r for r in rows}
    for r in rows:
        assert math.isfinite(r["forecast"])
        assert r["lo"] <= r["forecast"] <= r["hi"]
    # deterministic across runs
    again = {(r["user_id"], r["step"]): r["forecast"] for r in out.collect()}
    assert all(again[k] == by_key[k]["forecast"] for k in again)


def test_fit_forecast_skips_short_series(spark):
    df = spark.createDataFrame([(1, 1, 1.0)], "user_id int, day int, value double")
    assert fit_forecast(df, ["user_id"], "day", "value", horizon=3).count() == 0


def test_grid_search_picks_finite_best(series_df):
    grid = [{"p": 1, "d": 0, "q": 0}, {"p": 1, "d": 1, "q": 0}]
    best = grid_search_forecast(series_df, ["user_id"], "day", "value", grid)
    rows = best.collect()
    assert len(rows) == 2
    for r in rows:
        assert math.isfinite(r["mse"]) and r["best_params"]


def test_grid_search_tie_goes_to_last_combo(series_df):
    """arima folds q into p, so (1,1,0) and (0,1,1) score the same MSE
    exactly; the winner is the last of the tied combos in grid order."""
    a, b = {"p": 1, "d": 1, "q": 0}, {"p": 0, "d": 1, "q": 1}
    for grid in ([a, b], [b, a]):
        rows = grid_search_forecast(series_df, ["user_id"], "day", "value", grid).collect()
        assert len(rows) == 2
        for r in rows:
            assert r["best_params"] == json.dumps(grid[-1])
            assert math.isfinite(r["mse"])


def test_grid_search_nan_never_wins(series_df):
    """A combo scoring NaN loses to any number, wherever it sits in the
    grid; an all-NaN grid still emits one row per series."""
    nan, ok = {"alpha": float("nan")}, {"alpha": 0.5}
    for grid in ([nan, ok], [ok, nan]):
        rows = grid_search_forecast(
            series_df, ["user_id"], "day", "value", grid, model="holt"
        ).collect()
        assert len(rows) == 2
        for r in rows:
            assert r["best_params"] == json.dumps(ok) and math.isfinite(r["mse"])
    rows = grid_search_forecast(
        series_df, ["user_id"], "day", "value", [nan], model="holt"
    ).collect()
    # a NaN MSE crosses Arrow as null
    assert len(rows) == 2
    assert all(r["mse"] is None or math.isnan(r["mse"]) for r in rows)


def test_grid_search_short_series_scores_inf(spark):
    df = spark.createDataFrame(
        [(1, d, float(d)) for d in range(3)], "user_id int, day int, value double"
    )
    grid = [{"p": 1, "d": 0, "q": 0}, {"p": 1, "d": 1, "q": 0}]
    rows = grid_search_forecast(df, ["user_id"], "day", "value", grid).collect()
    assert len(rows) == 1 and rows[0]["mse"] == float("inf")


def test_forecast_calls_run_one_stage_on_every_core(spark):
    """Many tiny series, which AQE alone would fold into one partition:
    each public call still runs exactly one Python stage of
    ``defaultParallelism`` tasks, behind a single shuffle and with no
    cross join."""
    rows = [(s, d, float((s * 7 + d) % 11)) for s in range(400) for d in range(8)]
    df = spark.createDataFrame(rows, "user_id int, day int, value double")
    grid = [{"p": 1, "d": 0, "q": 0}, {"p": 1, "d": 1, "q": 0}]
    outs = {
        "fit_forecast": fit_forecast(df, ["user_id"], "day", "value", horizon=2),
        "grid_search_forecast": grid_search_forecast(df, ["user_id"], "day", "value", grid),
        "decompose": decompose(df, ["user_id"], "day", "value", period=4),
    }
    cores = spark.sparkContext.defaultParallelism
    for name, out in outs.items():
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FlatMapGroupsInPandas") == 1, name
        assert plan.count("Exchange") == 1, name
        assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan, name
        assert out.rdd.getNumPartitions() == cores, name


def test_statsmodels_parity_through_model_fn(spark, series_df):
    """VERDICT r4 item 7: when statsmodels IS importable, drive it
    through the SAME applyInPandas harness via the model_fn hook and
    assert the numpy Holt agrees with statsmodels' Holt point
    forecasts within tolerance on the fixture series (identical
    smoothing params, additive trend, fixed alpha/beta). Skipped in
    images without statsmodels — the hook itself is what this pins."""
    sm = pytest.importorskip("statsmodels.tsa.holtwinters")

    def sm_holt(x, h):
        fit = sm.Holt(x, initialization_method="known",
                      initial_level=x[0],
                      initial_trend=x[1] - x[0]).fit(
            smoothing_level=0.3, smoothing_trend=0.1, optimized=False
        )
        fc = fit.forecast(h)
        return np.asarray(fc), np.zeros(h)

    via_hook = {
        (r["user_id"], r["step"]): r["forecast"]
        for r in fit_forecast(
            series_df, ["user_id"], "day", "value",
            horizon=7, model_fn=sm_holt,
        ).collect()
    }
    numpy_path = {
        (r["user_id"], r["step"]): r["forecast"]
        for r in fit_forecast(
            series_df, ["user_id"], "day", "value",
            horizon=7, model="holt",
        ).collect()
    }
    assert set(via_hook) == set(numpy_path)
    for k in numpy_path:
        assert via_hook[k] == pytest.approx(numpy_path[k], rel=1e-6)


def test_decompose_roundtrip(series_df):
    out = decompose(series_df, ["user_id"], "day", "value", period=7).collect()
    assert len(out) == 60
    for r in out:
        if r["trend"] is not None and not math.isnan(r["trend"]):
            assert abs((r["trend"] + r["seasonal"] + r["resid"]) - r["value"]) < 1e-9


def test_pca_components_orthonormal(spark, sf_dir):
    """M10 parity (reference imports PCA, never runs it): fitted
    components must be orthonormal and explained variance must be
    non-increasing."""
    import numpy as np
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    from sensor_time_series_pyspark_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(array_to_vector("embedding").alias("features"))
    model = PCA(k=8, inputCol="features", outputCol="pc").fit(vecs)
    W = model.pc.toArray()  # (dim, k)
    gram = W.T @ W
    assert np.allclose(gram, np.eye(W.shape[1]), atol=1e-8)
    ev = model.explainedVariance.toArray()
    assert all(a >= b - 1e-12 for a, b in zip(ev, ev[1:]))
