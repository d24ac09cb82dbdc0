"""Hash-gated forecasting backtests (round 6): closes VERDICT r5 #6 —
extend the q444 prefix-moment template so more of q25's ARIMA grid is
differentially verified instead of rows-only.

q508 gates the ARI(1,1) combo — AR(1)+intercept on FIRST DIFFERENCES,
integrated back — which by ml/models.py's MA-absorption (arima():
p := p+q) also covers the grid's (0,1,1) row. Together with q444
(1,0,0), every d<=1, p+q<=1 grid row is now hash-gated; q25 keeps the
full grid (p=2 etc.) rows-only.

Template (see q444, queries/inference.py): every expanding-window
refit is closed-form off EXACT integer prefix moments, so the whole
walk-forward is one window pass — no applyInPandas, no per-step refit,
no recursion. The reference refits statsmodels per step per combo
(pandas_timeseries_forecast.py:26-55); at 100 TB that is m refits per
series — here it is a single shuffle on the series key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.queries.common import _davg
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_ari11_walkforward(spark: SparkSession, sf: str) -> DataFrame:
    """Walk-forward one-step MSE for ARI(1,1): per step i, fit
    d_t = c + phi*d_{t-1} by OLS on the history's consecutive-diff
    pairs (exact integer prefix moments, strictly-before window),
    forecast x_i = x_{i-1} + c + phi*d_{i-1}, square the error, fold
    per-user in day order. Fallback when the differenced history has
    <= 2 points (ml/models.py:_fit_ar_ols n <= p+1 guard): drift-only,
    fc_diff = mean(history diffs). Same series, guards, and test span
    as q444: per-user daily max in integer cents, test = last
    max(1, n//4) days, series kept when n - n_test >= 3."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (F.max("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("x")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    wp = Window.partitionBy("user_id")
    base = daily.select(
        "user_id",
        "day",
        "x",
        F.lag("x").over(w).alias("px"),
        (F.col("x") - F.lag("x").over(w)).alias("d"),
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).withColumn("pd", F.lag("d").over(w))
    has_d = F.col("d").isNotNull()
    has_pair = F.col("pd").isNotNull()
    pm = base.select(
        "user_id",
        "day",
        "x",
        "px",
        "d",
        "pd",
        "rn",
        "n",
        F.when(has_d, 1).otherwise(0).cast("bigint").alias("dm_m"),
        F.when(has_d, F.col("d")).otherwise(0).alias("dm_s"),
        F.when(has_pair, 1).otherwise(0).cast("bigint").alias("pm_m"),
        F.when(has_pair, F.col("pd")).otherwise(0).alias("pm_x"),
        F.when(has_pair, F.col("d")).otherwise(0).alias("pm_y"),
        F.when(has_pair, F.col("pd") * F.col("pd")).otherwise(0).alias("pm_xx"),
        F.when(has_pair, F.col("pd") * F.col("d")).otherwise(0).alias("pm_xy"),
    )
    prefix = w.rowsBetween(Window.unboundedPreceding, -1)
    mom = pm.select(
        "user_id",
        "day",
        "x",
        "px",
        "pd",
        "rn",
        "n",
        F.sum("dm_m").over(prefix).alias("md"),
        F.sum("dm_s").over(prefix).alias("sd"),
        F.sum("pm_m").over(prefix).alias("mp"),
        F.sum("pm_x").over(prefix).alias("spx"),
        F.sum("pm_y").over(prefix).alias("spy"),
        F.sum("pm_xx").over(prefix).alias("spxx"),
        F.sum("pm_xy").over(prefix).alias("spxy"),
    )
    n_test = F.greatest(F.lit(1).cast("bigint"), (F.col("n") / 4).cast("bigint"))
    d38 = "decimal(38,0)"
    num = (
        F.col("mp").cast(d38) * F.col("spxy").cast(d38)
        - F.col("spx").cast(d38) * F.col("spy").cast(d38)
    )
    den = (
        F.col("mp").cast(d38) * F.col("spxx").cast(d38)
        - F.col("spx").cast(d38) * F.col("spx").cast(d38)
    )
    phi = num.cast("double") / den.cast("double")
    steps = (
        mom.where(
            (F.col("n") - n_test >= 3) & (F.col("rn") >= F.col("n") - n_test)
        )
        .withColumn("phi", F.when(F.col("md") <= 2, F.lit(0.0)).otherwise(phi))
        .withColumn(
            "c",
            F.when(
                F.col("md") <= 2,
                F.col("sd").cast("double") / F.col("md").cast("double"),
            ).otherwise(
                (
                    F.col("spy").cast("double")
                    - F.col("phi") * F.col("spx").cast("double")
                )
                / F.col("mp").cast("double")
            ),
        )
        .withColumn(
            "fc",
            F.col("px").cast("double")
            + F.col("c")
            + F.col("phi") * F.col("pd").cast("double"),
        )
        .withColumn("err", F.col("x").cast("double") - F.col("fc"))
        .withColumn("se", F.col("err") * F.col("err"))
    )
    return (
        steps.groupBy("user_id")
        .agg(
            F.max("n").alias("n_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("day", "se"))),
                    lambda s: s["se"],
                ),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            ).alias("sse"),
        )
        .select(
            "user_id",
            "n_days",
            "n_test",
            (F.col("sse") / F.col("n_test").cast("double")).alias("mse_c2"),
        )
    )


def _q_kalman_level(spark: SparkSession, sf: str) -> DataFrame:
    """1-D Kalman filter (local-level / random-walk-plus-noise model,
    fixed q=0.1, r=1.0) over each user's daily-mean series — the
    classic sensor-denoising state filter the reference's pandas
    pipeline approximates with smoothing. The whole per-series
    recursion runs IN-PLAN as one ``F.aggregate`` struct fold over the
    day-ordered value array (JVM codegen, no Python), after a single
    shuffle on the series key; per-series state is O(1) and the array
    is bounded by the day span, the same bound fit_forecast relies on.
    Hash-gated: DuckDB replays the identical IEEE op sequence with a
    recursive CTE (the q300 recipe). Output per user: final level
    estimate, final error variance, mean squared innovation."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        _davg(F.col("value")).alias("v")
    )
    series = (
        daily.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("day", "v"))),
                lambda s: s["v"],
            ).alias("xs")
        )
        .where(F.size("xs") >= 5)
    )
    q, r = F.lit(0.1), F.lit(1.0)
    # one filter step; pp/k/innov are repeated subexpressions (same
    # IEEE ops each time, so repetition is bit-safe)
    pp = lambda acc: acc["p"] + q                      # noqa: E731
    k = lambda acc: pp(acc) / (pp(acc) + r)            # noqa: E731
    innov = lambda acc, y: y - acc["xhat"]             # noqa: E731
    st = F.aggregate(
        F.slice(F.col("xs"), 2, F.size("xs") - 1),
        F.struct(
            F.col("xs")[0].alias("xhat"),
            F.lit(1.0).alias("p"),
            F.lit(0.0).alias("sse"),
        ),
        lambda acc, y: F.struct(
            (acc["xhat"] + k(acc) * innov(acc, y)).alias("xhat"),
            ((F.lit(1.0) - k(acc)) * pp(acc)).alias("p"),
            (acc["sse"] + innov(acc, y) * innov(acc, y)).alias("sse"),
        ),
    )
    return series.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n_days"),
        st["xhat"].alias("xhat"),
        st["p"].alias("p_var"),
        (st["sse"] / (F.size("xs") - 1).cast("double")).alias("mse_innov"),
    )


def _q_garch_filter(spark: SparkSession, sf: str) -> DataFrame:
    """GARCH(1,1) volatility filtering with fixed parameters
    (omega=0.5, alpha=0.1, beta=0.85; sigma2_0 = omega/(1-alpha-beta)
    = 10.0 inlined as the SAME literal in both engines) over each
    user's daily-mean DIFFERENCES — the conditional-volatility
    recursion risk pipelines run before VaR (the cvar-backtest family
    uses the unconditional quantile; this is the conditional path).
    Same in-plan struct-fold shape as q510; exceedances flag |r_t| >
    2*sqrt(sigma2_t) with sqrt IEEE-exact in both engines. Output per
    user: n steps, final sigma2, max sigma2, exceedance count."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        _davg(F.col("value")).alias("v")
    )
    series = (
        daily.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("day", "v"))),
                lambda s: s["v"],
            ).alias("xs")
        )
        .where(F.size("xs") >= 5)
    )
    om, al, be = F.lit(0.5), F.lit(0.1), F.lit(0.85)
    s2 = lambda acc: om + al * (acc["pr"] * acc["pr"]) + be * acc["s2"]  # noqa: E731
    st = F.aggregate(
        F.slice(F.col("xs"), 2, F.size("xs") - 1),
        F.struct(
            F.col("xs")[0].alias("pv"),    # previous value
            F.lit(0.0).alias("pr"),        # previous return (diff)
            F.lit(10.0).alias("s2"),       # sigma2_0 = 0.5/0.05
            F.lit(10.0).alias("mx"),
            F.lit(0).cast("bigint").alias("ex"),
        ),
        lambda acc, y: F.struct(
            y.alias("pv"),
            (y - acc["pv"]).alias("pr"),
            s2(acc).alias("s2"),
            F.greatest(acc["mx"], s2(acc)).alias("mx"),
            (
                acc["ex"]
                + F.when(
                    F.abs(y - acc["pv"]) > F.lit(2.0) * F.sqrt(s2(acc)),
                    F.lit(1).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint"))
            ).alias("ex"),
        ),
    )
    return series.select(
        "user_id",
        (F.size("xs") - 1).cast("bigint").alias("n_steps"),
        st["s2"].alias("sigma2_final"),
        st["mx"].alias("sigma2_max"),
        st["ex"].alias("n_exceed"),
    )




def _q_theta_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000;
    M3 winner), 7 steps per user over the daily-mean series, in the
    Hyndman & Billah 2003 equivalence form: SES (alpha=0.3) on the
    theta=2 line plus half the linear-trend drift. Every piece is
    engine-portable: the OLS trend uses closed-form INTEGER index
    moments (St = n(n-1)/2, Stt = (n-1)n(2n-1)/6, integer division —
    both divisible exactly) with the x-moments folded in day order;
    the SES level AND the (1-alpha)^n term are accumulated in one
    in-plan struct fold (multiplying 0.7 per step beats pow(), whose
    libm rounding differs across engines). One shuffle on the series
    key; forecasts fan out via a constant 7-element explode."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        _davg(F.col("value")).alias("v")
    )
    series = (
        daily.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("day", "v"))),
                lambda s: s["v"],
            ).alias("xs")
        )
        .where(F.size("xs") >= 5)
        .withColumn("n", F.size("xs").cast("bigint"))
    )
    nD = F.col("n").cast("double")
    st = F.expr("(n * (n - 1)) div 2")
    stt = F.expr("((n - 1) * n * (2 * n - 1)) div 6")
    sx = F.aggregate(
        F.col("xs"), F.lit(0.0).cast("double"), lambda a, x: a + x
    )
    stx = F.aggregate(
        F.zip_with(
            F.col("xs"),
            F.sequence(F.lit(0).cast("bigint"), F.col("n") - 1),
            lambda x, i: i.cast("double") * x,
        ),
        F.lit(0.0).cast("double"),
        lambda a, x: a + x,
    )
    mm = series.select(
        "user_id",
        "xs",
        "n",
        ((nD * stx - st.cast("double") * sx)
         / (F.col("n") * stt - st * st).cast("double")).alias("b"),
        sx.alias("sx"),
        st.cast("double").alias("std"),
    ).withColumn("a", (F.col("sx") - F.col("b") * F.col("std")) / nD)
    # theta line z_i = 2*x_i - (a + b*i); SES fold carries (l, g=0.7^i)
    zs = F.zip_with(
        F.col("xs"),
        F.sequence(F.lit(0).cast("bigint"), F.col("n") - 1),
        lambda x, i: F.lit(2.0) * x - (F.col("a") + F.col("b") * i.cast("double")),
    )
    fold = F.aggregate(
        F.slice(zs, 2, F.size("xs") - 1),
        F.struct(
            F.element_at(zs, 1).alias("l"),
            F.lit(0.7).alias("g"),
        ),
        lambda acc, z: F.struct(
            (F.lit(0.3) * z + F.lit(0.7) * acc["l"]).alias("l"),
            (acc["g"] * F.lit(0.7)).alias("g"),
        ),
    )
    fitted = mm.select(
        "user_id", "n", "b", fold["l"].alias("l"), fold["g"].alias("g")
    )
    steps = fitted.select(
        "user_id",
        "n",
        "b",
        "l",
        "g",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("step"),
    )
    fc = F.col("l") + (F.col("b") / F.lit(2.0)) * (
        F.col("step").cast("double")
        - F.lit(1.0)
        + (F.lit(1.0) - F.col("g")) / F.lit(0.3)
    )
    return steps.select(
        "user_id", F.col("step").cast("int").alias("step"), fc.alias("forecast")
    )




_DAMP = [
    "9.00000000000000022e-01",
    "1.70999999999999996e+00",
    "2.43900000000000006e+00",
    "3.09509999999999996e+00",
    "3.68558999999999992e+00",
    "4.21703100000000042e+00",
    "4.69532790000000055e+00",
]  # sum_{k=1..h} 0.9^k, inlined identically in both engines


def _q_holt_damped(spark: SparkSession, sf: str) -> DataFrame:
    """Damped-trend Holt forecast (Gardner-McKenzie), 7 steps per user:
    alpha=0.3, beta=0.1, phi=0.9; init l=x1, b=x2-x1, fold x3..xn with
    l' = a*x + (1-a)(l + phi*b), b' = b_*(l'-l) + (1-b_)*phi*b — the
    method M-competitions found hardest to beat, completing the
    SES (q*ses) / Holt (q24) / Holt-Winters (q300) / theta (q519)
    ladder. In-plan struct fold (q510 shape); the damping sums
    sum(phi^k) are precomputed literals, so no pow() in either
    engine. Recursive-CTE oracle."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        _davg(F.col("value")).alias("v")
    )
    series = (
        daily.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("day", "v"))),
                lambda s: s["v"],
            ).alias("xs")
        )
        .where(F.size("xs") >= 5)
        .withColumn("n", F.size("xs").cast("bigint"))
    )
    al, be, ph = F.lit(0.3), F.lit(0.1), F.lit(0.9)
    lp = lambda acc, x: al * x + (F.lit(1.0) - al) * (acc["l"] + ph * acc["b"])  # noqa: E731
    fold = F.aggregate(
        F.slice(F.col("xs"), 3, F.size("xs") - 2),
        F.struct(
            F.element_at(F.col("xs"), 1).alias("l"),
            (F.element_at(F.col("xs"), 2) - F.element_at(F.col("xs"), 1)).alias("b"),
        ),
        lambda acc, x: F.struct(
            lp(acc, x).alias("l"),
            (be * (lp(acc, x) - acc["l"]) + (F.lit(1.0) - be) * ph * acc["b"]).alias("b"),
        ),
    )
    damp = F.array(*[F.lit(float(d)) for d in _DAMP])
    fitted = series.select(
        "user_id", "n", fold["l"].alias("l"), fold["b"].alias("b")
    )
    steps = fitted.select(
        "user_id",
        "n",
        "l",
        "b",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("step"),
    )
    return steps.select(
        "user_id",
        F.col("step").cast("int").alias("step"),
        (F.col("l") + F.element_at(damp, F.col("step")) * F.col("b")).alias(
            "forecast"
        ),
    )




def _ar1_step_errors(spark: SparkSession, sf: str) -> DataFrame:
    """Shared walk-forward step frame for q538/q539: q444's exact
    prefix-moment AR(1) one-step forecasts (same series, guards and
    test span — see queries/inference.py:_q_ar1_walkforward) plus the
    seasonal-naive-0 competitor x_{i-1}, with per-step squared and
    absolute errors for both models. The naive absolute error is a
    pure INTEGER (|x_i - x_{i-1}| in cents)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (F.max("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("x")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    wp = Window.partitionBy("user_id")
    base = daily.select(
        "user_id",
        "day",
        "x",
        F.lag("x").over(w).alias("px"),
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    has_pair = F.col("px").isNotNull()
    pm = base.select(
        "user_id",
        "day",
        "x",
        "px",
        "rn",
        "n",
        F.when(has_pair, 1).otherwise(0).cast("bigint").alias("pm_m"),
        F.when(has_pair, F.col("px")).otherwise(0).alias("pm_x"),
        F.when(has_pair, F.col("x")).otherwise(0).alias("pm_y"),
        F.when(has_pair, F.col("px") * F.col("px")).otherwise(0).alias("pm_xx"),
        F.when(has_pair, F.col("px") * F.col("x")).otherwise(0).alias("pm_xy"),
    )
    prefix = w.rowsBetween(Window.unboundedPreceding, -1)
    mom = pm.select(
        "user_id",
        "day",
        "x",
        "px",
        "rn",
        "n",
        F.sum("pm_m").over(prefix).alias("m"),
        F.sum("pm_x").over(prefix).alias("sx"),
        F.sum("pm_y").over(prefix).alias("sy"),
        F.sum("pm_xx").over(prefix).alias("sxx"),
        F.sum("pm_xy").over(prefix).alias("sxy"),
    )
    n_test = F.greatest(F.lit(1).cast("bigint"), (F.col("n") / 4).cast("bigint"))
    d38 = "decimal(38,0)"
    a_num = (
        F.col("m").cast(d38) * F.col("sxy").cast(d38)
        - F.col("sx").cast(d38) * F.col("sy").cast(d38)
    )
    b_den = (
        F.col("m").cast(d38) * F.col("sxx").cast(d38)
        - F.col("sx").cast(d38) * F.col("sx").cast(d38)
    )
    phi = a_num.cast("double") / b_den.cast("double")
    return (
        mom.where(
            (F.col("n") - n_test >= 3) & (F.col("rn") >= F.col("n") - n_test)
        )
        .withColumn("phi", phi)
        .withColumn(
            "c",
            (
                F.col("sy").cast("double")
                - F.col("phi") * F.col("sx").cast("double")
            )
            / F.col("m").cast("double"),
        )
        .withColumn(
            "fc", F.col("c") + F.col("phi") * F.col("px").cast("double")
        )
        .withColumn("err", F.col("x").cast("double") - F.col("fc"))
        .withColumn("se_ar", F.col("err") * F.col("err"))
        .withColumn("ae_ar", F.abs(F.col("err")))
        .withColumn("d_nv", F.col("x") - F.col("px"))
        .withColumn("ae_nv", F.abs(F.col("d_nv")))
        .withColumn(
            "se_nv",
            F.col("d_nv").cast("double") * F.col("d_nv").cast("double"),
        )
    )


def _ord_fold(day_col: str, val_col: F.Column) -> F.Column:
    return F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct(day_col, val_col.alias("v")))),
            lambda s: s["v"],
        ),
        F.lit(0.0).cast("double"),
        lambda a, v: a + v,
    )


def _q_mase(spark: SparkSession, sf: str) -> DataFrame:
    """MASE (Hyndman & Koehler 2006) of the AR(1) walk-forward against
    the one-step naive on the SAME test steps: MAE(AR1)/MAE(naive).
    AR MAE folds in day order; the naive MAE is an exact integer sum
    in cents. Output per user: n_test, both MAEs, mase."""
    steps = _ar1_step_errors(spark, sf)
    out = steps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        _ord_fold("day", F.col("ae_ar")).alias("sae_ar"),
        F.sum("ae_nv").cast("bigint").alias("sae_nv"),
    )
    return out.select(
        "user_id",
        "n_test",
        (F.col("sae_ar") / F.col("n_test").cast("double")).alias("mae_ar"),
        (
            F.col("sae_nv").cast("double") / F.col("n_test").cast("double")
        ).alias("mae_naive"),
        F.when(
            F.col("sae_nv") > 0,
            F.col("sae_ar") / F.col("sae_nv").cast("double"),
        ).alias("mase"),
    )


def _q_diebold_mariano(spark: SparkSession, sf: str) -> DataFrame:
    """Diebold-Mariano statistic (squared-error loss, lag-0 variance)
    comparing AR(1) vs naive on the same test steps: d_i = se_ar -
    se_nv, DM = mean(d) / sqrt(var(d)/n). Both moments fold in day
    order (the two-pass mean-then-deviations form, each a fixed op
    chain); sqrt is IEEE-exact. Negative DM = AR(1) better. The
    normal-CDF p-value is the analyst's libm epilogue — the statistic
    itself is the engine-portable part."""
    steps = _ar1_step_errors(spark, sf)
    agg = steps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        _ord_fold("day", F.col("se_ar") - F.col("se_nv")).alias("sd"),
        F.collect_list(
            F.struct("day", (F.col("se_ar") - F.col("se_nv")).alias("v"))
        ).alias("_dl"),
    )
    dbar = F.col("sd") / F.col("n_test").cast("double")
    ssq = F.aggregate(
        F.transform(F.sort_array(F.col("_dl")), lambda s: s["v"]),
        F.lit(0.0).cast("double"),
        lambda a, v: a + (v - dbar) * (v - dbar),
    )
    vard = ssq / F.col("n_test").cast("double")
    dm = dbar / F.sqrt(vard / F.col("n_test").cast("double"))
    return agg.select(
        "user_id",
        "n_test",
        dbar.alias("mean_loss_diff"),
        F.when(ssq > 0, dm).alias("dm_stat"),
    )


def _q_pinball_loss(spark: SparkSession, sf: str) -> DataFrame:
    """Pinball (quantile) loss at tau=0.9 for the empirical-quantile
    forecaster: q-hat = percentile_disc(0.9) of each event type's
    daily counts over days 1-15, scored on days 16+. With integer
    counts the per-step loss x10 is a pure integer — 9*(y-q) when
    y >= q else 1*(q-y) — so the sum is exact and only the final mean
    divides. The quantile-forecast counterpart of q456's coverage
    check. Output per type: qhat, n_test, total x10 loss, mean
    loss."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    wt = Window.partitionBy("event_type").orderBy("d")
    idx = daily.withColumn("i", F.row_number().over(wt).cast("bigint"))
    cal = idx.where(F.col("i") <= 15)
    test = idx.where(F.col("i") > 15)
    qhat = cal.groupBy("event_type").agg(
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY y)")
        .cast("bigint")
        .alias("qhat")
    )
    j = test.join(qhat, "event_type")
    loss10 = F.when(
        F.col("y") >= F.col("qhat"), 9 * (F.col("y") - F.col("qhat"))
    ).otherwise(F.col("qhat") - F.col("y"))
    return j.groupBy("event_type").agg(
        F.max("qhat").cast("bigint").alias("qhat"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(loss10).cast("bigint").alias("loss_x10"),
        (
            F.sum(loss10).cast("double")
            / (F.lit(10.0) * F.count(F.lit(1)).cast("double"))
        ).alias("mean_pinball"),
    )


register_many(
    {
        "q508_ari11_walkforward": _q_ari11_walkforward,
        "q510_kalman_level": _q_kalman_level,
        "q511_garch_filter": _q_garch_filter,
        "q519_theta_forecast": _q_theta_forecast,
        "q526_holt_damped": _q_holt_damped,
        "q538_mase": _q_mase,
        "q539_diebold_mariano": _q_diebold_mariano,
        "q540_pinball_loss": _q_pinball_loss,
    },
    {
        # q538/q539: the q444 step frame extended with the naive
        # competitor; all double reductions day-ordered.
        "q538_mase": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(CAST(max(value) AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2
            ),
            base AS (
              SELECT user_id, day, x,
                lag(x) OVER win AS px,
                row_number() OVER win - 1 AS rn,
                CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                  AS n
              FROM daily
              WINDOW win AS (PARTITION BY user_id ORDER BY day)
            ),
            pm AS (
              SELECT *,
                CASE WHEN px IS NOT NULL THEN 1 ELSE 0 END AS pm_m,
                CASE WHEN px IS NOT NULL THEN px ELSE 0 END AS pm_x,
                CASE WHEN px IS NOT NULL THEN x ELSE 0 END AS pm_y,
                CASE WHEN px IS NOT NULL THEN px * px ELSE 0 END
                  AS pm_xx,
                CASE WHEN px IS NOT NULL THEN px * x ELSE 0 END
                  AS pm_xy
              FROM base
            ),
            mom AS (
              SELECT user_id, day, x, px, rn, n,
                sum(pm_m) OVER pre AS m,
                sum(pm_x) OVER pre AS sx,
                sum(pm_y) OVER pre AS sy,
                sum(pm_xx) OVER pre AS sxx,
                sum(pm_xy) OVER pre AS sxy
              FROM pm
              WINDOW pre AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            steps AS (
              SELECT user_id, day, x, px, n, m, sx, sy,
                CAST(m * sxy - sx * sy AS DOUBLE)
                  / CAST(m * sxx - sx * sx AS DOUBLE) AS phi
              FROM mom
              WHERE n - greatest(1, n // 4) >= 3
                AND rn >= n - greatest(1, n // 4)
            ),
            ep AS (
              SELECT user_id, day, x, px, n, phi,
                (CAST(sy AS DOUBLE) - phi * CAST(sx AS DOUBLE))
                  / CAST(m AS DOUBLE) AS c
              FROM steps
            ),
            errs AS (
              SELECT user_id, day,
                CAST(x AS DOUBLE) - (c + phi * CAST(px AS DOUBLE))
                  AS err,
                x - px AS d_nv
              FROM ep
            ),
            sv AS (
              SELECT user_id, day,
                err * err AS se_ar, abs(err) AS ae_ar,
                CAST(d_nv AS DOUBLE) * CAST(d_nv AS DOUBLE) AS se_nv,
                abs(d_nv) AS ae_nv
              FROM errs
            )
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_test,
              list_reduce(list(ae_ar ORDER BY day), (a, b) -> a + b)
                / CAST(count(*) AS DOUBLE) AS mae_ar,
              CAST(sum(ae_nv) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                AS mae_naive,
              CASE WHEN sum(ae_nv) > 0 THEN
                list_reduce(list(ae_ar ORDER BY day), (a, b) -> a + b)
                  / CAST(sum(ae_nv) AS DOUBLE)
              END AS mase
            FROM sv GROUP BY user_id
        """,
        "q539_diebold_mariano": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(CAST(max(value) AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2
            ),
            base AS (
              SELECT user_id, day, x,
                lag(x) OVER win AS px,
                row_number() OVER win - 1 AS rn,
                CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                  AS n
              FROM daily
              WINDOW win AS (PARTITION BY user_id ORDER BY day)
            ),
            pm AS (
              SELECT *,
                CASE WHEN px IS NOT NULL THEN 1 ELSE 0 END AS pm_m,
                CASE WHEN px IS NOT NULL THEN px ELSE 0 END AS pm_x,
                CASE WHEN px IS NOT NULL THEN x ELSE 0 END AS pm_y,
                CASE WHEN px IS NOT NULL THEN px * px ELSE 0 END
                  AS pm_xx,
                CASE WHEN px IS NOT NULL THEN px * x ELSE 0 END
                  AS pm_xy
              FROM base
            ),
            mom AS (
              SELECT user_id, day, x, px, rn, n,
                sum(pm_m) OVER pre AS m,
                sum(pm_x) OVER pre AS sx,
                sum(pm_y) OVER pre AS sy,
                sum(pm_xx) OVER pre AS sxx,
                sum(pm_xy) OVER pre AS sxy
              FROM pm
              WINDOW pre AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            steps AS (
              SELECT user_id, day, x, px, n, m, sx, sy,
                CAST(m * sxy - sx * sy AS DOUBLE)
                  / CAST(m * sxx - sx * sx AS DOUBLE) AS phi
              FROM mom
              WHERE n - greatest(1, n // 4) >= 3
                AND rn >= n - greatest(1, n // 4)
            ),
            ep AS (
              SELECT user_id, day, x, px, n, phi,
                (CAST(sy AS DOUBLE) - phi * CAST(sx AS DOUBLE))
                  / CAST(m AS DOUBLE) AS c
              FROM steps
            ),
            errs AS (
              SELECT user_id, day,
                CAST(x AS DOUBLE) - (c + phi * CAST(px AS DOUBLE))
                  AS err,
                x - px AS d_nv
              FROM ep
            ),
            sv AS (
              SELECT user_id, day,
                err * err AS se_ar, abs(err) AS ae_ar,
                CAST(d_nv AS DOUBLE) * CAST(d_nv AS DOUBLE) AS se_nv,
                abs(d_nv) AS ae_nv
              FROM errs
            ),
            agg AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_test,
                list_reduce(list(se_ar - se_nv ORDER BY day),
                  (a, b) -> a + b) AS sd,
                list(se_ar - se_nv ORDER BY day) AS dl
              FROM sv GROUP BY user_id
            )
            SELECT user_id, n_test,
              sd / CAST(n_test AS DOUBLE) AS mean_loss_diff,
              CASE WHEN list_reduce(
                  list_transform(dl, v -> (v - sd / CAST(n_test AS DOUBLE))
                    * (v - sd / CAST(n_test AS DOUBLE))),
                  (a, b) -> a + b) > 0 THEN
                (sd / CAST(n_test AS DOUBLE))
                / sqrt((list_reduce(
                    list_transform(dl, v -> (v - sd / CAST(n_test AS DOUBLE))
                      * (v - sd / CAST(n_test AS DOUBLE))),
                    (a, b) -> a + b) / CAST(n_test AS DOUBLE))
                  / CAST(n_test AS DOUBLE))
              END AS dm_stat
            FROM agg
        """,
        "q540_pinball_loss": """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS y
              FROM events GROUP BY 1, 2
            ),
            idx AS (
              SELECT event_type, d, y,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY d) AS BIGINT) AS i
              FROM daily
            ),
            qhat AS (
              SELECT event_type,
                CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY y)
                  AS BIGINT) AS qhat
              FROM idx WHERE i <= 15 GROUP BY event_type
            ),
            scored AS (
              SELECT t.event_type, q.qhat,
                CASE WHEN t.y >= q.qhat THEN 9 * (t.y - q.qhat)
                     ELSE q.qhat - t.y END AS loss10
              FROM idx t JOIN qhat q ON t.event_type = q.event_type
              WHERE t.i > 15
            )
            SELECT event_type, max(qhat) AS qhat,
              CAST(count(*) AS BIGINT) AS n_test,
              CAST(sum(loss10) AS BIGINT) AS loss_x10,
              CAST(sum(loss10) AS DOUBLE)
                / (1.0e1 * CAST(count(*) AS DOUBLE)) AS mean_pinball
            FROM scored GROUP BY event_type
        """,
        # Same prefix-moment template as the q444 oracle, on first
        # differences; md<=2 branch replicates the drift-only fallback.
        "q508_ari11_walkforward": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(CAST(max(value) AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2
            ),
            base0 AS (
              SELECT user_id, day, x,
                lag(x) OVER win AS px,
                x - lag(x) OVER win AS d,
                row_number() OVER win - 1 AS rn,
                CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                  AS n
              FROM daily
              WINDOW win AS (PARTITION BY user_id ORDER BY day)
            ),
            base AS (
              SELECT *, lag(d) OVER win AS pd
              FROM base0
              WINDOW win AS (PARTITION BY user_id ORDER BY day)
            ),
            pm AS (
              SELECT *,
                CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END AS dm_m,
                CASE WHEN d IS NOT NULL THEN d ELSE 0 END AS dm_s,
                CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS pm_m,
                CASE WHEN pd IS NOT NULL THEN pd ELSE 0 END AS pm_x,
                CASE WHEN pd IS NOT NULL THEN d ELSE 0 END AS pm_y,
                CASE WHEN pd IS NOT NULL THEN pd * pd ELSE 0 END
                  AS pm_xx,
                CASE WHEN pd IS NOT NULL THEN pd * d ELSE 0 END
                  AS pm_xy
              FROM base
            ),
            mom AS (
              SELECT user_id, day, x, px, pd, rn, n,
                sum(dm_m) OVER pre AS md,
                sum(dm_s) OVER pre AS sd,
                sum(pm_m) OVER pre AS mp,
                sum(pm_x) OVER pre AS spx,
                sum(pm_y) OVER pre AS spy,
                sum(pm_xx) OVER pre AS spxx,
                sum(pm_xy) OVER pre AS spxy
              FROM pm
              WINDOW pre AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            steps AS (
              SELECT user_id, day, x, px, pd, n, md, sd, mp, spx, spy,
                CASE WHEN md <= 2 THEN 0.0
                  ELSE CAST(mp * spxy - spx * spy AS DOUBLE)
                    / CAST(mp * spxx - spx * spx AS DOUBLE)
                END AS phi
              FROM mom
              WHERE n - greatest(1, n // 4) >= 3
                AND rn >= n - greatest(1, n // 4)
            ),
            ep AS (
              SELECT user_id, day, x, px, pd, n, phi,
                CASE WHEN md <= 2
                  THEN CAST(sd AS DOUBLE) / CAST(md AS DOUBLE)
                  ELSE (CAST(spy AS DOUBLE) - phi * CAST(spx AS DOUBLE))
                    / CAST(mp AS DOUBLE)
                END AS c
              FROM steps
            ),
            se AS (
              SELECT user_id, day, n,
                (CAST(x AS DOUBLE)
                  - (CAST(px AS DOUBLE) + c + phi * CAST(pd AS DOUBLE)))
                * (CAST(x AS DOUBLE)
                  - (CAST(px AS DOUBLE) + c + phi * CAST(pd AS DOUBLE)))
                  AS se
              FROM ep
            )
            SELECT user_id, max(n) AS n_days,
              CAST(count(*) AS BIGINT) AS n_test,
              list_reduce(list(se ORDER BY day), (a, b) -> a + b)
                / CAST(count(*) AS DOUBLE) AS mse_c2
            FROM se GROUP BY user_id
        """,


        # q526: recursive-CTE replay of the damped-Holt fold; damping
        # sums are the same literals the Spark side inlines.
        "q526_holt_damped": """
            WITH RECURSIVE daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  / count(value) AS v
              FROM events GROUP BY 1, 2
            ),
            series AS (
              SELECT user_id, list(v ORDER BY day) AS xs,
                CAST(len(list(v ORDER BY day)) AS BIGINT) AS n
              FROM daily GROUP BY user_id
            ),
            keep AS (SELECT * FROM series WHERE n >= 5),
            rec AS (
              SELECT user_id, xs, n, CAST(2 AS BIGINT) AS i,
                xs[1] AS l, xs[2] - xs[1] AS b
              FROM keep
              UNION ALL
              SELECT r.user_id, r.xs, r.n, r.i + 1, t.nl,
                1.0e-1 * (t.nl - r.l) + (1.0e0 - 1.0e-1) * 9.0e-1 * r.b
              FROM rec r,
              LATERAL (
                SELECT 3.0e-1 * r.xs[CAST(r.i AS INT) + 1]
                  + (1.0e0 - 3.0e-1) * (r.l + 9.0e-1 * r.b) AS nl
              ) t
              WHERE r.i < r.n
            ),
            fin AS (SELECT user_id, l, b FROM rec WHERE i = n),
            damp AS (SELECT unnest(range(1, 8)) AS step),
            dv AS (
              SELECT step,
                ([9.00000000000000022e-01, 1.70999999999999996e+00,
                  2.43900000000000006e+00, 3.09509999999999996e+00,
                  3.68558999999999992e+00, 4.21703100000000042e+00,
                  4.69532790000000055e+00])[step] AS dsum
              FROM damp
            )
            SELECT f.user_id, CAST(d.step AS INT) AS step,
              f.l + d.dsum * f.b AS forecast
            FROM fin f, dv d
        """,
        # q519: moments via ordered list folds + closed-form integer
        # index sums; the (l, g) recursion replayed by a recursive CTE.
        "q519_theta_forecast": """
            WITH RECURSIVE daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  / count(value) AS v
              FROM events GROUP BY 1, 2
            ),
            series AS (
              SELECT user_id, list(v ORDER BY day) AS xs,
                CAST(len(list(v ORDER BY day)) AS BIGINT) AS n
              FROM daily GROUP BY user_id
            ),
            keep AS (SELECT * FROM series WHERE n >= 5),
            mm AS (
              SELECT user_id, xs, n,
                (CAST(n AS DOUBLE) * list_reduce(
                    list_transform(xs, (x, i)
                      -> CAST(i - 1 AS DOUBLE) * x),
                    (a, b) -> a + b)
                 - CAST((n * (n - 1)) // 2 AS DOUBLE)
                   * list_reduce(xs, (a, b) -> a + b))
                / CAST(n * (((n - 1) * n * (2 * n - 1)) // 6)
                    - ((n * (n - 1)) // 2) * ((n * (n - 1)) // 2)
                    AS DOUBLE) AS b,
                list_reduce(xs, (a, b) -> a + b) AS sx,
                CAST((n * (n - 1)) // 2 AS DOUBLE) AS std
              FROM keep
            ),
            ab AS (
              SELECT user_id, xs, n, b,
                (sx - b * std) / CAST(n AS DOUBLE) AS a
              FROM mm
            ),
            zline AS (
              SELECT user_id, n, b,
                list_transform(xs, (x, i)
                  -> 2.0e0 * x - (a + b * CAST(i - 1 AS DOUBLE)))
                  AS zs
              FROM ab
            ),
            rec AS (
              SELECT user_id, zs, n, b, CAST(1 AS BIGINT) AS i,
                zs[1] AS l, 7.0e-1 AS g
              FROM zline
              UNION ALL
              SELECT r.user_id, r.zs, r.n, r.b, r.i + 1,
                3.0e-1 * r.zs[CAST(r.i AS INT) + 1] + 7.0e-1 * r.l,
                r.g * 7.0e-1
              FROM rec r WHERE r.i < r.n
            ),
            fin AS (SELECT user_id, n, b, l, g FROM rec WHERE i = n),
            steps AS (SELECT unnest(range(1, 8)) AS step)
            SELECT f.user_id, CAST(s.step AS INT) AS step,
              f.l + (f.b / 2.0e0) * (CAST(s.step AS DOUBLE) - 1.0e0
                + (1.0e0 - f.g) / 3.0e-1) AS forecast
            FROM fin f, steps s
        """,
        # q510/q511: recursive-CTE replay of the identical IEEE op
        # sequence the in-plan struct folds execute (q300 recipe).
        "q510_kalman_level": """
            WITH RECURSIVE daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  / count(value) AS v
              FROM events GROUP BY 1, 2
            ),
            series AS (
              SELECT user_id, list(v ORDER BY day) AS xs,
                CAST(len(list(v ORDER BY day)) AS BIGINT) AS n
              FROM daily GROUP BY user_id
            ),
            keep AS (SELECT * FROM series WHERE n >= 5),
            rec AS (
              SELECT user_id, xs, n, CAST(1 AS BIGINT) AS i,
                xs[1] AS xhat, 1.0e0 AS p, 0.0e0 AS sse
              FROM keep
              UNION ALL
              SELECT r.user_id, r.xs, r.n, r.i + 1,
                r.xhat + t.k * t.innov,
                (1.0e0 - t.k) * t.pp,
                r.sse + t.innov * t.innov
              FROM rec r,
              LATERAL (
                SELECT r.p + 1.0e-1 AS pp,
                  (r.p + 1.0e-1) / ((r.p + 1.0e-1) + 1.0e0) AS k,
                  r.xs[CAST(r.i AS INT) + 1] - r.xhat AS innov
              ) t
              WHERE r.i < r.n
            )
            SELECT user_id, n AS n_days, xhat, p AS p_var,
              sse / CAST(n - 1 AS DOUBLE) AS mse_innov
            FROM rec WHERE i = n
        """,
        "q511_garch_filter": """
            WITH RECURSIVE daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  / count(value) AS v
              FROM events GROUP BY 1, 2
            ),
            series AS (
              SELECT user_id, list(v ORDER BY day) AS xs,
                CAST(len(list(v ORDER BY day)) AS BIGINT) AS n
              FROM daily GROUP BY user_id
            ),
            keep AS (SELECT * FROM series WHERE n >= 5),
            rec AS (
              SELECT user_id, xs, n, CAST(1 AS BIGINT) AS i,
                xs[1] AS pv, 0.0e0 AS pr, 1.0e1 AS s2, 1.0e1 AS mx,
                CAST(0 AS BIGINT) AS ex
              FROM keep
              UNION ALL
              SELECT r.user_id, r.xs, r.n, r.i + 1,
                t.y,
                t.y - r.pv,
                t.ns2,
                greatest(r.mx, t.ns2),
                r.ex + CASE WHEN abs(t.y - r.pv)
                  > 2.0e0 * sqrt(t.ns2) THEN 1 ELSE 0 END
              FROM rec r,
              LATERAL (
                SELECT r.xs[CAST(r.i AS INT) + 1] AS y,
                  5.0e-1 + 1.0e-1 * (r.pr * r.pr) + 8.5e-1 * r.s2 AS ns2
              ) t
              WHERE r.i < r.n
            )
            SELECT user_id, n - 1 AS n_steps, s2 AS sigma2_final,
              mx AS sigma2_max, ex AS n_exceed
            FROM rec WHERE i = n
        """,
    },
)
