"""Pure-numpy time-series models.

The reference uses statsmodels (ARIMA / ExponentialSmoothing / Holt /
seasonal_decompose — pandas_timeseries_forecast.py:81-104,
spark_pandas_timeseries_forecast.py:40-41). statsmodels is not in this
image, so the same public textbook algorithms are implemented here in
numpy; the Spark-side harness (forecast.py) is model-agnostic either
way — swap these for statsmodels via the ``model_fn`` hook when the
library is available.

All functions: x is a 1-D float array (one series, time-ordered),
horizon h ≥ 1; return (forecast[h], stderr[h]) so the harness can build
confidence intervals like old-statsmodels ``ARIMA.forecast`` did
(pandas_timeseries_forecast.py:88, SURVEY.md §8 bug 6).
"""

from __future__ import annotations

import math

import numpy as np


def ses(x: np.ndarray, h: int, alpha: float = 0.3) -> tuple[np.ndarray, np.ndarray]:
    """Simple exponential smoothing; flat forecast from the final level."""
    level = x[0]
    resid = []
    for v in x[1:]:
        resid.append(v - level)
        level = alpha * v + (1 - alpha) * level
    sigma = float(np.std(resid)) if resid else 0.0
    fc = np.full(h, level)
    se = sigma * np.sqrt(1 + alpha**2 * np.arange(h))
    return fc, se


def _sequential_std(resid: list[float]) -> float:
    """Population std via explicit SEQUENTIAL two-pass folds (not
    np.std, whose 8-way-unrolled pairwise summation is a private
    accumulation order): left-to-right sums are reproducible by any
    engine's sequential fold, which is what lets the q24 and q300
    oracles replicate the Holt recursions bit-for-bit in a recursive
    CTE. 0.0 for no residuals."""
    if not resid:
        return 0.0
    m = 0.0
    for r in resid:
        m += r
    m /= len(resid)
    ss = 0.0
    for r in resid:
        ss += (r - m) * (r - m)
    return float(np.sqrt(ss / len(resid)))


def holt(
    x: np.ndarray, h: int, alpha: float = 0.3, beta: float = 0.1
) -> tuple[np.ndarray, np.ndarray]:
    """Holt's linear-trend method (additive trend)."""
    if len(x) < 2:
        return ses(x, h, alpha)
    level, trend = x[0], x[1] - x[0]
    resid = []
    for v in x[1:]:
        resid.append(v - (level + trend))
        new_level = alpha * v + (1 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1 - beta) * trend
        level = new_level
    sigma = _sequential_std(resid)
    steps = np.arange(1, h + 1)
    fc = level + steps * trend
    se = sigma * np.sqrt(steps)
    return fc, se


def _fit_ar_ols(
    x: np.ndarray, p: int, sigma: bool = True
) -> tuple[np.ndarray, float, float]:
    """AR(p) with intercept by least squares → (coefs, intercept, sigma).
    ``sigma=False`` skips the residual spread (returned as NaN) for
    callers that use only the point forecast."""
    n = len(x)
    if p == 0 or n <= p + 1:
        mu = float(np.mean(x)) if n else 0.0
        if not sigma:
            return np.zeros(p), mu, float("nan")
        return np.zeros(p), mu, float(np.std(x - mu)) if n > 1 else 0.0
    rows = [x[i : n - p + i] for i in range(p)]
    X = np.column_stack(list(reversed(rows)) + [np.ones(n - p)])
    y = x[p:]
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    spread = float(np.std(y - X @ coef)) if sigma else float("nan")
    return coef[:p], float(coef[p]), spread


def arima(
    x: np.ndarray, h: int, p: int = 1, d: int = 1, q: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """ARI(p,d) forecast (AR fit by OLS on the d-times-differenced
    series, recursively extrapolated, then integrated back). The MA(q)
    term is accepted for API parity with the reference's (p,d,q) grid
    (pandas_timeseries_forecast.py:39-44) but fit as part of the AR
    approximation — an AR(p+q) absorbs low-order MA structure.
    """
    p = p + q
    work = np.asarray(x, dtype="float64")
    tails: list[float] = []
    for _ in range(d):
        if len(work) < 2:
            break
        tails.append(work[-1])
        work = np.diff(work)
    coefs, intercept, sigma = _fit_ar_ols(work, p)
    hist = list(work)
    fc_diff = []
    for _ in range(h):
        lags = [hist[-i] if len(hist) >= i else 0.0 for i in range(1, p + 1)]
        nxt = intercept + float(np.dot(coefs, lags)) if p else intercept
        fc_diff.append(nxt)
        hist.append(nxt)
    fc = np.array(fc_diff)
    for tail in reversed(tails):
        fc = tail + np.cumsum(fc)
    se = sigma * np.sqrt(np.arange(1, h + 1))
    return fc, se


def holt_winters(
    x: np.ndarray,
    h: int,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    period: int = 7,
) -> tuple[np.ndarray, np.ndarray]:
    """Holt-Winters additive (triple exponential smoothing): level +
    trend + additive seasonal component of the given period — the
    seasonal extension of ``holt`` (reference T7 family,
    spark_pandas_timeseries_forecast.py:40-41 uses the trend-only
    form). Seasonal states initialize from the first cycle's
    deviations around its mean; shorter series fall back to holt."""
    if len(x) < 2 * period:
        return holt(x, h, alpha, beta)
    level = float(np.mean(x[:period]))
    trend = (float(np.mean(x[period : 2 * period])) - level) / period
    season = [float(v) - level for v in x[:period]]
    resid = []
    for i, v in enumerate(x[period:], start=period):
        s = season[i % period]
        resid.append(v - (level + trend + s))
        new_level = alpha * (v - s) + (1 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1 - beta) * trend
        season[i % period] = gamma * (v - new_level) + (1 - gamma) * s
        level = new_level
    sigma = _sequential_std(resid)
    steps = np.arange(1, h + 1)
    n = len(x)
    fc = np.array(
        [
            level + k * trend + season[(n + k - 1) % period]
            for k in range(1, h + 1)
        ]
    )
    se = sigma * np.sqrt(steps)
    return fc, se


MODELS = {"ses": ses, "holt": holt, "arima": arima, "holt_winters": holt_winters}


def walk_forward_mse(
    x: np.ndarray, model: str, params: dict, n_test: int | None = None
) -> float:
    """Expanding-window one-step-ahead MSE (reference T9,
    pandas_timeseries_forecast.py:26-34): refit on history per step."""
    n = len(x)
    n_test = n_test or max(1, n // 4)
    if n - n_test < 3:
        return float("inf")
    if model == "arima":
        return _arima_walk_forward(np.asarray(x, dtype="float64"), n_test, **params)
    fn = MODELS[model]
    errs = []
    for i in range(n - n_test, n):
        fc, _ = fn(x[:i], 1, **params)
        errs.append((x[i] - fc[0]) ** 2)
    return float(np.mean(errs)) if errs else float("inf")


def _arima_walk_forward(
    x: np.ndarray, n_test: int, p: int = 1, d: int = 1, q: int = 0
) -> float:
    """``walk_forward_mse`` for ``arima``, bit-identical to refitting
    ``arima(x[:i], 1, p, d, q)`` at every step: differencing a prefix
    gives the prefix of the differenced series, so the series is
    differenced once, and a one-step MSE never reads sigma, so it is not
    computed. Each refit hands ``lstsq`` the same X and y as ``arima``
    and replays its float operations in the same order."""
    p = p + q
    diffs = [x]
    for _ in range(d):
        diffs.append(np.diff(diffs[-1]))
    n = len(x)
    errs = []
    for i in range(n - n_test, n):
        # arima stops differencing once fewer than 2 values remain
        k = min(d, max(0, i - 1))
        work = diffs[k][: i - k]
        coefs, fc, _ = _fit_ar_ols(work, p, sigma=False)
        if p:
            lags = [work[-j] if len(work) >= j else 0.0 for j in range(1, p + 1)]
            fc = fc + float(np.dot(coefs, lags))
        # integrate back: arima's tails are diffs[t][i - t - 1]
        for t in reversed(range(k)):
            fc = diffs[t][i - t - 1] + fc
        errs.append((x[i] - fc) ** 2)
    return float(np.mean(errs))


def seasonal_decompose_additive(
    x: np.ndarray, period: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Classical additive decomposition (reference T8): centered-MA
    trend, phase-mean seasonal, residual. NaN at the trend edges, like
    statsmodels.

    Every accumulation is a SEQUENTIAL left fold in time order (no
    np.convolve / np.mean, whose private pairwise summation a SQL
    engine cannot replay): the q26 DuckDB oracle reproduces the exact
    IEEE op sequence with a lag/lead chain and ordered list_reduce,
    making the decomposition hash-gateable like Holt (q24)."""
    n = len(x)
    xs = [float(v) for v in x]
    trend: list[float] = [float("nan")] * n
    if n >= period:
        k = period // 2
        if period % 2 == 0:
            # half-weight ends: (0.5*x[t-k] + x[t-k+1] + … + x[t+k-1]
            # + 0.5*x[t+k]) / period, folded left-to-right
            for t in range(k, n - k):
                s = 0.5 * xs[t - k]
                for i in range(t - k + 1, t + k):
                    s = s + xs[i]
                s = s + 0.5 * xs[t + k]
                trend[t] = s / period
        else:
            # plain centered window: fold x[t-k] … x[t+k], ONE division
            for t in range(k, n - k):
                s = xs[t - k]
                for i in range(t - k + 1, t + k + 1):
                    s = s + xs[i]
                trend[t] = s / period
    detrended = [
        xs[i] - trend[i] if not math.isnan(trend[i]) else float("nan")
        for i in range(n)
    ]
    phase_mean: list[float] = []
    for phase in range(period):
        vals = [d for d in detrended[phase::period] if not math.isnan(d)]
        if vals:
            s = vals[0]
            for v in vals[1:]:
                s = s + v
            phase_mean.append(s / len(vals))
        else:
            phase_mean.append(0.0)
    # center over the FULL series (phase means weighted by occurrence),
    # folded in index order
    raw = [phase_mean[i % period] for i in range(n)]
    if n:
        s = raw[0]
        for v in raw[1:]:
            s = s + v
        overall = s / n
    else:
        overall = 0.0
    seasonal = np.array([r - overall for r in raw], dtype="float64")
    trend_a = np.array(trend, dtype="float64")
    resid = np.array(
        [
            xs[i] - trend[i] - seasonal[i]
            if not math.isnan(trend[i])
            else float("nan")
            for i in range(n)
        ],
        dtype="float64",
    )
    return trend_a, seasonal, resid
