"""Experimentation, causal and curve analyses
(q355 .. q383).

Shared helpers are in queries/common.py; queries/registry.py raises
on duplicate query names."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import tokens
from sensor_time_series_pyspark_spark.operators.sampling import (
    _threshold_hex as _thr,
)
from sensor_time_series_pyspark_spark.queries.common import (
    DEC,
    EVENT_TYPES,
    _dec,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


# SPRT literal log-likelihood weights: H0 p0=0.20 vs H1 p1=0.25 for
# the purchase share, alpha=0.05 / beta=0.20 Wald boundaries. Computed
# ONCE here in Python and embedded as the same double literals in both
# engines — no libm call ever runs engine-side (the repo-wide rule
# that keeps log-based stats hash-stable).
_SPRT_P0, _SPRT_P1 = 0.20, 0.25
_SPRT_L1 = math.log(_SPRT_P1 / _SPRT_P0)
_SPRT_L0 = math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))
_SPRT_UP = math.log((1.0 - 0.20) / 0.05)    # accept H1
_SPRT_LO = math.log(0.20 / (1.0 - 0.05))    # accept H0


def _q_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): the experiment
    metric Y (per-user second-half event count) adjusted by the
    pre-period covariate X (first-half count), Y_adj = Y − θ·(X − X̄)
    with θ = cov(X,Y)/var(X) estimated POOLED across arms — the
    standard pre-experiment-data trick that cuts A/B variance by
    corr² without biasing the lift. Arms are the deterministic md5
    split (q125/q344 harness). All moments (n, Σx, Σy, Σxy, Σx²) are
    EXACT INTEGERS — counts of events — so θ and the adjusted means
    are a fixed double epilogue both engines evaluate identically; at
    100 TB the per-user frame is one hash aggregate on user_id and
    the moment reduction is a single-row combine."""
    ev = read_table(spark, sf, "events")
    pre = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(pre, 1).otherwise(0)).cast("bigint").alias("x"),
        F.sum(F.when(pre, 0).otherwise(1)).cast("bigint").alias("y"),
    )
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("cuped"), F.col("user_id").cast("string"))),
            1,
            8,
        )
        < _thr(0.5),
        "treat",
    ).otherwise("control")
    per_user = per_user.select(arm.alias("arm"), "x", "y")
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    per_arm = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("sxa"),
        F.sum("y").cast("bigint").alias("sya"),
    )
    j = per_arm.crossJoin(F.broadcast(mom))
    theta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    mean_y = F.col("sya").cast("double") / F.col("n_users").cast("double")
    mean_x_arm = F.col("sxa").cast("double") / F.col("n_users").cast("double")
    mean_x_all = F.col("sx").cast("double") / F.col("n").cast("double")
    return j.select(
        "arm",
        "n_users",
        mean_y.alias("mean_y"),
        (mean_y - theta * (mean_x_arm - mean_x_all)).alias("mean_y_adj"),
        theta.alias("theta"),
    )


def _q_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two customer
    rankings — total order value and order frequency — the standard
    zero-tuning way to merge heterogeneous retrieval/ranking signals:
    RRF(c) = Σ_r 1/(60 + rank_r(c)), top 20. Ranks are row_numbers
    with a custkey tiebreak (total order; both engines agree), the
    two 1/(60+r) terms are single divisions of exact integers, and
    their sum is one double add — deterministic. At scale the ranking
    frame is the per-customer aggregate (small next to orders), and
    each ranking is one window over it; the fact table is touched
    once."""
    o = read_table(spark, sf, "orders")
    per_c = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    w_rev = Window.orderBy(F.col("rev").desc(), F.col("o_custkey").asc())
    w_frq = Window.orderBy(F.col("n_orders").desc(), F.col("o_custkey").asc())
    ranked = per_c.select(
        "o_custkey",
        F.row_number().over(w_rev).cast("bigint").alias("r_rev"),
        F.row_number().over(w_frq).cast("bigint").alias("r_freq"),
    )
    rrf = (
        F.lit(1.0) / (F.lit(60.0) + F.col("r_rev").cast("double"))
        + F.lit(1.0) / (F.lit(60.0) + F.col("r_freq").cast("double"))
    )
    return (
        ranked.select("o_custkey", "r_rev", "r_freq", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("o_custkey").asc())
        .limit(20)
    )


def _q_peak_days(spark: SparkSession, sf: str) -> DataFrame:
    """Peak detection on the daily event-count series per type: a day
    is a peak when it is a STRICT local maximum (beats both
    neighbors) AND sits above the series mean — the mean test uses
    the common-denominator trick (k·n > Σn, pure integers) so no
    per-row division ever runs. The burst-census primitive behind
    alert digests and capacity post-mortems. One hash aggregate to
    the (type, day) grain, one window pass for the neighbors, one
    aggregate for the census — the fact table is scanned once."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    wall = Window.partitionBy("event_type")
    flagged = daily.select(
        "event_type",
        "d",
        "n",
        F.lag("n").over(wt).alias("prv"),
        F.lead("n").over(wt).alias("nxt"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("k"),
        F.sum("n").over(wall).cast("bigint").alias("s"),
    )
    peaks = flagged.where(
        F.col("prv").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("n") > F.col("prv"))
        & (F.col("n") > F.col("nxt"))
        & (F.col("k") * F.col("n") > F.col("s"))
    )
    return peaks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_peaks"),
        F.max("n").cast("bigint").alias("max_peak"),
        F.min("d").alias("first_peak_d"),
    )


def _q_savgol(spark: SparkSession, sf: str) -> DataFrame:
    """Savitzky–Golay smoothing (window 5, quadratic) of the daily
    event-count series per type: ŷ_d = (−3·n_{d−2} + 12·n_{d−1} +
    17·n_d + 12·n_{d+1} − 3·n_{d+2}) / 35 — the least-squares
    polynomial filter that preserves peak height/width where a moving
    average flattens it (the instrument-signal smoother). The
    convolution is INTEGER (literal coefficients on exact counts);
    ONE division by 35 per row is the entire float surface. Interior
    rows only (full window). Lag/lead windows over the tiny (type,
    day) grain — no self-join, single pass."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    conv = daily.select(
        "event_type",
        "d",
        "n",
        F.lag("n", 2).over(wt).alias("m2"),
        F.lag("n", 1).over(wt).alias("m1"),
        F.lead("n", 1).over(wt).alias("p1"),
        F.lead("n", 2).over(wt).alias("p2"),
    ).where(
        F.col("m2").isNotNull()
        & F.col("m1").isNotNull()
        & F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
    )
    num = (
        F.lit(-3) * F.col("m2")
        + F.lit(12) * F.col("m1")
        + F.lit(17) * F.col("n")
        + F.lit(12) * F.col("p1")
        + F.lit(-3) * F.col("p2")
    )
    return conv.select(
        "event_type",
        "d",
        "n",
        (num.cast("double") / F.lit(35.0)).alias("sg"),
    )


def _q_zero_crossings(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-crossing rate of the mean-centered daily count series per
    type — the oscillation-vs-trend gauge (white noise crosses its
    mean ~half the steps; a trending or strongly autocorrelated
    series barely does). Centering never divides: sign(n_d − mean) ==
    sign(k·n_d − Σn) on pure integers, and a crossing is a strict
    sign flip between consecutive days (zeros break the run). ONE
    division at the end for the rate."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wall = Window.partitionBy("event_type")
    wt = Window.partitionBy("event_type").orderBy("d")
    signed = daily.select(
        "event_type",
        "d",
        F.signum(
            (
                F.count(F.lit(1)).over(wall) * F.col("n")
                - F.sum("n").over(wall)
            ).cast("double")
        ).cast("int").alias("sgn"),
    )
    steps = signed.select(
        "event_type",
        "sgn",
        F.lag("sgn").over(wt).alias("prv"),
    )
    agg = steps.groupBy("event_type").agg(
        (F.count(F.lit(1))).cast("bigint").alias("n_days"),
        F.sum(
            F.when(F.col("sgn") * F.col("prv") == -1, 1).otherwise(0)
        ).cast("bigint").alias("n_crossings"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "n_crossings",
        (
            F.col("n_crossings").cast("double")
            / (F.col("n_days") - F.lit(1)).cast("double")
        ).alias("crossing_rate"),
    )


def _q_rdd_cutoff(spark: SparkSession, sf: str) -> DataFrame:
    """Sharp regression discontinuity at the 2024-01-16 cutoff on the
    daily total event count: separate OLS lines on each side (x =
    day index, integer), and the causal read-out is the JUMP at the
    cutoff — pred_post(15) − pred_pre(15) — plus the slope change.
    Both fits come from exact integer moments (n, Σx, Σy, Σxy, Σx²)
    via the closed form slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept
    = (Σy − slope·Σx)/n — a FIXED double epilogue both engines
    evaluate identically (the q335 interrupted-time-series shape, with
    the at-cutoff prediction gap as the headline). One aggregate to
    the day grain, one 2-row moment reduce."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    x = F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")).cast("bigint")
    side = F.when(x < 15, F.lit("pre")).otherwise(F.lit("post"))
    base = daily.select(side.alias("side"), x.alias("x"), F.col("n").alias("y"))
    mom = base.groupBy("side").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    icept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    lines = mom.select(
        "side",
        F.col("n").alias("n_days"),
        slope.alias("slope"),
        icept.alias("icept"),
    )
    pre = lines.where(F.col("side") == "pre").select(
        F.col("n_days").alias("n_pre"),
        F.col("slope").alias("slope_pre"),
        (F.col("icept") + F.col("slope") * F.lit(15.0)).alias("pred_pre_at_cut"),
    )
    post = lines.where(F.col("side") == "post").select(
        F.col("n_days").alias("n_post"),
        F.col("slope").alias("slope_post"),
        (F.col("icept") + F.col("slope") * F.lit(15.0)).alias("pred_post_at_cut"),
    )
    return pre.crossJoin(post).select(
        "n_pre",
        "n_post",
        "slope_pre",
        "slope_post",
        (F.col("slope_post") - F.col("slope_pre")).alias("slope_change"),
        (F.col("pred_post_at_cut") - F.col("pred_pre_at_cut")).alias("jump"),
    )


def _q_sprt(spark: SparkSession, sf: str) -> DataFrame:
    """Wald's sequential probability ratio test on the daily purchase
    share: is the conversion rate p1=0.25 (H1) or p0=0.20 (H0)?  The
    log-likelihood ratio after day d is s_d·ln(p1/p0) +
    (n_d−s_d)·ln(q1/q0) where s_d/n_d are CUMULATIVE integer counts —
    so each row's LLR is two multiplies and one add of exact integers
    against PRECOMPUTED literal weights (no engine-side log), and the
    Wald boundaries ln((1−β)/α), ln(β/(1−α)) are literals too. The
    early-stopping experiment monitor: decision is the first boundary
    crossing. Cumulative counts come from one running-sum window over
    the day grain."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("s"),
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.sum("n").over(wc).cast("bigint").alias("cum_n"),
        F.sum("s").over(wc).cast("bigint").alias("cum_s"),
    )
    llr = (
        F.col("cum_s").cast("double") * F.lit(_SPRT_L1)
        + (F.col("cum_n") - F.col("cum_s")).cast("double") * F.lit(_SPRT_L0)
    )
    return cum.select(
        "d",
        "cum_n",
        "cum_s",
        llr.alias("llr"),
        F.when(llr >= F.lit(_SPRT_UP), "accept_h1")
        .when(llr <= F.lit(_SPRT_LO), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


def _q_conformal(spark: SparkSession, sf: str) -> DataFrame:
    """Split-conformal prediction interval for the seasonal-naive
    daily-count forecaster (ŷ_d = n_{d−7}, q158/q353's baseline): the
    calibration half (days 8–15) yields q̂ = the 0.9 empirical
    quantile of |y−ŷ| via percentile_disc (an ACTUAL integer residual
    — engine-exact selection, q141's rule), and the test half (day 16
    on) reports achieved coverage of ŷ ± q̂ — the
    distribution-free-guarantee check that calibrated forecast bands
    need. Residuals are pure integer count diffs; coverage is ONE
    division."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    scored = daily.select(
        "event_type",
        "d",
        "n",
        F.lag("n", 7).over(wt).alias("yhat"),
        F.row_number().over(wt).cast("bigint").alias("i"),
    ).where(F.col("yhat").isNotNull())
    scored = scored.withColumn("abs_err", F.abs(F.col("n") - F.col("yhat")))
    cal = scored.where(F.col("i") <= 15)
    test = scored.where(F.col("i") > 15)
    qhat = cal.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY abs_err)"
        ).cast("bigint").alias("qhat"),
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
    )
    j = test.join(qhat, "event_type")
    return j.groupBy("event_type").agg(
        F.max("qhat").cast("bigint").alias("qhat"),
        F.max("n_cal").cast("bigint").alias("n_cal"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        (
            F.sum(
                F.when(F.col("abs_err") <= F.col("qhat"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("coverage"),
    )


def _q_isotonic(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of the daily
    event-count series per type via the minimax characterization of
    PAV: fit_i = max_{j≤i} min_{k≥i} mean(y_j..y_k) — the pool-
    adjacent-violators solution in closed form, no iteration. Each
    range mean is (P_k − P_{j−1})/(k−j+1): exact integer prefix-sum
    diffs with ONE division — and min/max of those doubles is
    order-independent, so both engines agree bit-for-bit. The pair
    frame is (j,k) per type — O(m²) on the ~30-row day grain (the
    documented contract: resample to a bounded grid first, the fact
    table itself is touched once by the grain aggregate)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type",
        "d",
        "n",
        F.row_number().over(wt).cast("bigint").alias("i"),
        F.sum("n").over(
            Window.partitionBy("event_type").orderBy("d").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).cast("bigint").alias("p"),
    )
    a = idx.select(
        "event_type", F.col("i").alias("j"), (F.col("p") - F.col("n")).alias("pj")
    )
    b = idx.select("event_type", F.col("i").alias("k"), F.col("p").alias("pk"))
    pairs = a.join(b, "event_type").where(F.col("j") <= F.col("k")).select(
        "event_type",
        "j",
        "k",
        (
            (F.col("pk") - F.col("pj")).cast("double")
            / (F.col("k") - F.col("j") + 1).cast("double")
        ).alias("m"),
    )
    # inner: for each (j, i): min over k >= i of m(j,k) — a suffix
    # cumulative min along k within each (type, j) group.
    w_suf = (
        Window.partitionBy("event_type", "j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inner = pairs.select(
        "event_type",
        "j",
        F.col("k").alias("i"),
        F.min("m").over(w_suf).alias("inner_min"),
    )
    # outer: for each i: max over j <= i — a prefix cumulative max
    # along j within each (type, i) group.
    w_pre = (
        Window.partitionBy("event_type", "i")
        .orderBy(F.col("j").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    iso = inner.select(
        "event_type",
        "i",
        "j",
        F.max("inner_min").over(w_pre).alias("fit"),
    ).where(F.col("j") == F.col("i"))
    return (
        idx.select("event_type", "d", "n", "i")
        .join(iso.select("event_type", "i", "fit"), ["event_type", "i"])
        .select("event_type", "d", "n", "fit")
    )


def _q_ips_offpolicy(spark: SparkSession, sf: str) -> DataFrame:
    """Off-policy evaluation with inverse propensity scoring: events
    were 'logged' under a uniform md5 coin (propensity 1/2 per arm),
    and the IPS estimator values a DETERMINISTIC target policy
    (arm A for even users, B for odd) without ever running it:
    V̂(π) = mean(reward · 1[π(u)=a] / 0.5) = 2·Σ(matched rewards)/N.
    The counterfactual-dashboard primitive behind every bandit/reco
    launch review. Rewards are purchase values summed as exact
    decimals; the estimate is ONE multiply-by-2 and ONE division, so
    both engines agree. Reported next to the on-policy (logged) mean
    so the query audits the reweighting itself."""
    ev = read_table(spark, sf, "events")
    logged = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ips"), F.col("event_id").cast("string"))),
            1,
            8,
        )
        < _thr(0.5),
        "A",
    ).otherwise("B")
    target = F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")
    reward = F.when(
        F.col("event_type") == "purchase", F.col("value")
    ).otherwise(F.lit(0.0))
    base = ev.select(
        logged.alias("a"),
        target.alias("pi"),
        reward.cast(DEC).alias("r"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").alias("s_all"),
        F.sum(F.when(F.col("pi") == F.col("a"), F.col("r")).otherwise(
            F.lit(0).cast(DEC)
        )).alias("s_match"),
        F.sum(F.when(F.col("pi") == F.col("a"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_match"),
    )
    return agg.select(
        "n",
        "n_match",
        (F.col("s_all").cast("double") / F.col("n").cast("double")).alias(
            "v_logged"
        ),
        (
            F.lit(2.0)
            * F.col("s_match").cast("double")
            / F.col("n").cast("double")
        ).alias("v_target_ips"),
    )


def _q_negbin_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Negative-binomial method-of-moments fit to the daily count
    series per type: r = m²/(v−m), p = m/v — the parametric upgrade of
    the q334 dispersion index that turns "overdispersed" into an
    actual (r, p) model for burst simulation and tail SLOs. Moments
    are exact integers (k, Σn, Σn²); m, v and the two parameters are a
    fixed double epilogue. Equi/under-dispersed series (v ≤ m) report
    NULL parameters — the Poisson-is-enough signal."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("q"),
    )
    m = F.col("s").cast("double") / F.col("k").cast("double")
    v = (F.col("k") * F.col("q") - F.col("s") * F.col("s")).cast("double") / (
        F.col("k") * (F.col("k") - 1)
    ).cast("double")
    return mom.select(
        "event_type",
        F.col("k").alias("n_days"),
        m.alias("mean"),
        v.alias("var"),
        F.when(v > m, (m * m) / (v - m)).alias("nb_r"),
        F.when(v > m, m / v).alias("nb_p"),
    )


def _q_unit_value_index(spark: SparkSession, sf: str) -> DataFrame:
    """Unit-value price index per brand and ship-month: (Σext_t/Σqty_t)
    ÷ (Σext_0/Σqty_0) against the brand's FIRST observed month —
    the trade-statistics price deflator computed without per-row unit
    prices. Both numerator pairs are exact decimal sums; the index is
    the cross-multiplied form (ext_t·qty_0)/(qty_t·ext_0) evaluated as
    four exact-sum-to-double casts and a fixed multiply/divide — no
    float ever accumulates. One fact aggregate to the (brand, month)
    grain + one broadcast-sized base-month join."""
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part")
    month = F.date_trunc("month", F.col("l_shipdate")).alias("mon")
    uv = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", month)
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("ext"),
            F.sum(F.col("l_quantity").cast(DEC)).alias("qty"),
        )
    )
    w0 = Window.partitionBy("p_brand").orderBy("mon")
    base = uv.select(
        "p_brand",
        "mon",
        "ext",
        "qty",
        F.row_number().over(w0).alias("rk"),
    ).where(F.col("rk") == 1).select(
        "p_brand", F.col("ext").alias("ext0"), F.col("qty").alias("qty0")
    )
    j = uv.join(base, "p_brand")
    idx = (
        F.col("ext").cast("double") * F.col("qty0").cast("double")
    ) / (F.col("qty").cast("double") * F.col("ext0").cast("double"))
    return j.select(
        "p_brand",
        "mon",
        F.col("ext").cast("double").alias("ext_sum"),
        F.col("qty").cast("double").alias("qty_sum"),
        idx.alias("uv_index"),
    )


def _q_record_days(spark: SparkSession, sf: str) -> DataFrame:
    """Record-breaking census per type: how many days set a NEW
    all-time daily-count high (strict running-maximum records), and
    when the last record fell — stationarity in one number (an i.i.d.
    series expects ~H_m ≈ ln m records; a trending one keeps breaking
    them). Pure integer window comparison (n > max of all prior days);
    the first day is not a record (no prior)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = daily.select(
        "event_type",
        "d",
        "n",
        F.max("n").over(w_prev).alias("prior_max"),
    )
    rec = flagged.where(
        F.col("prior_max").isNotNull() & (F.col("n") > F.col("prior_max"))
    )
    return rec.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.max("d").alias("last_record_d"),
        F.max("n").cast("bigint").alias("record_high"),
    )


def _q_turning_points(spark: SparkSession, sf: str) -> DataFrame:
    """Turning-points randomness test per type: count strict local
    extrema T in the daily series and compare to the i.i.d.
    expectation E[T] = 2(m−2)/3, Var[T] = (16m−29)/90 — the classic
    companion to the runs test (q325) that sees OVER-smoothing (too
    few turns, trending) and oscillation (too many). T and m are pure
    integers; z is a fixed rational-then-sqrt epilogue."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    lagd = daily.select(
        "event_type",
        "n",
        F.lag("n").over(wt).alias("prv"),
        F.lead("n").over(wt).alias("nxt"),
    )
    is_turn = (
        F.col("prv").isNotNull()
        & F.col("nxt").isNotNull()
        & (
            ((F.col("n") > F.col("prv")) & (F.col("n") > F.col("nxt")))
            | ((F.col("n") < F.col("prv")) & (F.col("n") < F.col("nxt")))
        )
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    ).join(
        lagd.groupBy("event_type").agg(
            F.sum(F.when(is_turn, 1).otherwise(0)).cast("bigint").alias("t")
        ),
        "event_type",
    )
    z = (
        (3 * F.col("t") - 2 * (F.col("m") - 2)).cast("double") / F.lit(3.0)
    ) / F.sqrt(
        (16 * F.col("m") - 29).cast("double") / F.lit(90.0)
    )
    return agg.select("event_type", "m", "t", z.alias("z"))


def _q_stylometric_z(spark: SparkSession, sf: str) -> DataFrame:
    """Burrows-delta-style stylometry inputs: for the corpus's top-10
    tokens, each source's counts-per-million rate and its scaled
    z-score against the across-source distribution — the author/
    pipeline fingerprint table (a machine-generated or template-heavy
    source shows extreme function-word z's). CPM is INTEGER floor
    division (c·10⁶ div N — no float rate), the z numerator S·cpm − Σcpm
    and the variance radicand S·Σcpm² − (Σcpm)² are exact integers,
    and ONE sqrt + ONE division finish (z here is √S × the classic
    z — a fixed monotone scaling, documented). Absent (source, token)
    cells are REAL zero rows via the source×token grid (20×10 —
    broadcast-sized)."""
    docs = read_table(spark, sf, "documents")
    tok = docs.select(
        "source", F.explode(tokens("text")).alias("t")
    )
    top = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .select(
            "t",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("t").asc()))
            .alias("rk"),
        )
        .where(F.col("rk") <= 10)
        .select("t")
    )
    per_src = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ntok")
    )
    cnt = tok.join(F.broadcast(top), "t").groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = per_src.crossJoin(F.broadcast(top))
    cells = grid.join(cnt, ["source", "t"], "left").select(
        "source",
        "t",
        # integer floor division — no float rate ever exists
        F.expr("(coalesce(c, 0) * 1000000) div ntok")
        .cast("bigint")
        .alias("cpm"),
    )
    wt = Window.partitionBy("t")
    stats = cells.select(
        "source",
        "t",
        "cpm",
        F.count(F.lit(1)).over(wt).cast("bigint").alias("s"),
        F.sum("cpm").over(wt).cast("bigint").alias("tot"),
        F.sum(F.col("cpm") * F.col("cpm")).over(wt).cast("bigint").alias("qq"),
    )
    rad = (F.col("s") * F.col("qq") - F.col("tot") * F.col("tot")).cast(
        "double"
    )
    return stats.select(
        "source",
        F.col("t").alias("token"),
        "cpm",
        F.when(
            rad > 0,
            (F.col("s") * F.col("cpm") - F.col("tot")).cast("double")
            / F.sqrt(rad),
        ).alias("z_scaled"),
    )


def _q_int8_quant(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 embedding-quantization audit: quantize each dim with the
    FIXED grid q = clamp(⌊x·64 + 0.5⌋, −127, 127) (scale 64 = exact
    power of two, so dequantization q/64 is EXACT in binary doubles
    and ⌊·+0.5⌋ sidesteps the HALF_UP-vs-banker's round() divergence),
    then report per-vector MSE and max-abs error — the storage-savings
    vs recall-risk table a vector-index rollout needs. The squared-
    error reduction is a SEQUENTIAL left fold in both engines
    (F.aggregate here, list_dot_product in the oracle — same
    element order, same doubles), and max() is order-free; output is
    per-vector so no cross-row float sum ever happens."""
    emb = read_table(spark, sf, "embeddings")
    err = F.transform(
        F.col("embedding"),
        lambda x: x.cast("double")
        - F.least(
            F.greatest(
                F.floor(x.cast("double") * F.lit(64.0) + F.lit(0.5)),
                F.lit(-127.0),
            ),
            F.lit(127.0),
        )
        / F.lit(64.0),
    )
    base = emb.select("vec_id", "label", err.alias("e"))
    sq = F.aggregate(
        F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return base.select(
        "vec_id",
        "label",
        (sq / F.lit(64.0)).alias("mse"),
        F.array_max(F.transform(F.col("e"), F.abs)).alias("max_abs_err"),
    )


def _q_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998)
    of vector 0's top-20 cosine candidates: greedily pick 5 results
    maximizing 0.5·rel(c) − 0.5·max_{s∈selected} sim(c, s) — the
    diversity-aware final stage every retrieval pipeline bolts onto
    brute-force/IVF top-k (q23/q47). All cosines are computed in
    DOUBLE with one fixed expression (sequential-fold dot product ÷
    norm product) so scores are engine-identical; selection ties
    break on vec_id. The candidate set is top-k-SMALL by construction
    (that is what a rerank stage is), so the k·|C| greedy loop is 5
    bounded DataFrame iterations, never a corpus scan — the corpus is
    touched once to produce the 20 candidates."""
    emb = read_table(spark, sf, "embeddings")
    vecd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", vecd.alias("v"))
    q = base.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def cos(a: F.Column, b: F.Column) -> F.Column:
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        n1 = F.aggregate(
            F.transform(a, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        n2 = F.aggregate(
            F.transform(b, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return dot / (F.sqrt(n1) * F.sqrt(n2))

    cand = (
        base.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "v", cos(F.col("v"), F.col("qv")).alias("rel"))
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(20)
        .localCheckpoint(eager=True)  # 20 rows; reused 5x below
    )
    sims = (
        cand.alias("a")
        .crossJoin(cand.alias("b"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            cos(F.col("a.v"), F.col("b.v")).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    chosen: list[tuple[int, int, float]] = []
    remaining = cand.select("vec_id", "rel")
    for step in range(1, 6):
        if step == 1:
            pick = remaining.orderBy(
                F.col("rel").desc(), F.col("vec_id").asc()
            ).limit(1)
            row = pick.collect()[0]
            score = float(row["rel"])
        else:
            sel_ids = [c[1] for c in chosen]
            ms = (
                sims.where(F.col("ib").isin(sel_ids))
                .groupBy("ia")
                .agg(F.max("s").alias("maxsim"))
            )
            scored = remaining.join(
                ms, remaining["vec_id"] == ms["ia"]
            ).select(
                "vec_id",
                (F.lit(0.5) * F.col("rel") - F.lit(0.5) * F.col("maxsim")).alias(
                    "score"
                ),
            )
            row = (
                scored.orderBy(F.col("score").desc(), F.col("vec_id").asc())
                .limit(1)
                .collect()[0]
            )
            score = float(row["score"])
        chosen.append((step, int(row["vec_id"]), score))
        remaining = remaining.where(F.col("vec_id") != int(row["vec_id"]))
    return spark.createDataFrame(
        chosen, "step int, vec_id bigint, mmr_score double"
    )


def _q_welch_ttest(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's unequal-variance t-test on per-user total event value
    between the md5 A/B arms (q125/q344 harness): t = (m̄₁−m̄₂) /
    √(s₁²/n₁ + s₂²/n₂) with the Welch–Satterthwaite df — the test
    that stays valid when arms have different variances (the default
    recommendation over Student's t). Per-user totals are exact
    decimal sums; each arm's (n, Σx, Σx²) moments are exact decimals;
    t and df are a fixed double epilogue. One fact aggregate + one
    2-row reduce."""
    ev = read_table(spark, sf, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("welch"), F.col("user_id").cast("string"))),
            1,
            8,
        )
        < _thr(0.5),
        "treat",
    ).otherwise("control")
    per_user = ev.groupBy("user_id").agg(
        # value carries exactly 2 decimals, so scale 2 is lossless and
        # keeps the squared-sum mantissa < 2^53 (decimal->double stays
        # exactly representable): (18,2)^2 -> (37,4), summed at (38,4)
        F.sum(F.col("value").cast(DEC)).cast("decimal(18,2)").alias("total")
    ).select(arm.alias("arm"), "total")
    # A user whose events are all NULL-valued sums to a NULL total;
    # counting them in n while sum() skips them would skew mean and
    # variance, so drop them from the arm moments entirely.
    per_user = per_user.where(F.col("total").isNotNull())
    mom = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("total").alias("s1"),
        F.sum(F.col("total") * F.col("total")).alias("s2"),
    )
    t = mom.where(F.col("arm") == "treat").select(
        F.col("n").alias("n1"), F.col("s1").alias("a1"), F.col("s2").alias("a2")
    )
    c = mom.where(F.col("arm") == "control").select(
        F.col("n").alias("n2"), F.col("s1").alias("b1"), F.col("s2").alias("b2")
    )
    j = t.crossJoin(c)
    m1 = F.col("a1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("b1").cast("double") / F.col("n2").cast("double")
    # unbiased sample variance from exact moments: (n*S2 - S1^2)/(n*(n-1))
    v1 = (
        F.col("n1").cast("double") * F.col("a2").cast("double")
        - F.col("a1").cast("double") * F.col("a1").cast("double")
    ) / (F.col("n1") * (F.col("n1") - 1)).cast("double")
    v2 = (
        F.col("n2").cast("double") * F.col("b2").cast("double")
        - F.col("b1").cast("double") * F.col("b1").cast("double")
    ) / (F.col("n2") * (F.col("n2") - 1)).cast("double")
    se1 = v1 / F.col("n1").cast("double")
    se2 = v2 / F.col("n2").cast("double")
    tstat = (m1 - m2) / F.sqrt(se1 + se2)
    df = ((se1 + se2) * (se1 + se2)) / (
        (se1 * se1) / (F.col("n1") - 1).cast("double")
        + (se2 * se2) / (F.col("n2") - 1).cast("double")
    )
    return j.select(
        F.col("n1").alias("n_treat"),
        F.col("n2").alias("n_control"),
        m1.alias("mean_treat"),
        m2.alias("mean_control"),
        tstat.alias("t_stat"),
        df.alias("welch_df"),
    )


def _q_two_prop_z(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test on the purchase conversion rate between
    the md5 arms: z = (p̂₁−p̂₂) / √(p̂(1−p̂)(1/n₁+1/n₂)) with the
    pooled p̂ — the textbook launch-gate readout for binary metrics
    (the parametric sibling of q308's SRM χ²). Successes and trials
    are pure integers; the z epilogue is a fixed sequence of four
    divisions and one sqrt. One fact scan, one 2-row reduce."""
    ev = read_table(spark, sf, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("zprop"), F.col("event_id").cast("string"))),
            1,
            8,
        )
        < _thr(0.5),
        "treat",
    ).otherwise("control")
    base = ev.select(
        arm.alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("c"),
    )
    mom = base.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    t = mom.where(F.col("arm") == "treat").select(
        F.col("n").alias("n1"), F.col("s").alias("s1")
    )
    c = mom.where(F.col("arm") == "control").select(
        F.col("n").alias("n2"), F.col("s").alias("s2")
    )
    j = t.crossJoin(c)
    p1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    pp = (F.col("s1") + F.col("s2")).cast("double") / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    z = (p1 - p2) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n1").cast("double")
            + F.lit(1.0) / F.col("n2").cast("double")
        )
    )
    return j.select(
        "n1",
        "n2",
        p1.alias("p_treat"),
        p2.alias("p_control"),
        z.alias("z_stat"),
    )


def _q_bland_altman(spark: SparkSession, sf: str) -> DataFrame:
    """Bland–Altman agreement between the two independent measurements
    of each order's value — the `o_totalprice` header field vs the
    recomputed Σ extprice·(1−disc)·(1+tax) over its line items — the
    measurement-comparison method (mean bias ± 1.96σ limits of
    agreement) doubling as a cross-table reconciliation audit. Every
    per-order diff is an exact decimal; the bias/LoA epilogue is a
    fixed double sequence from exact decimal moments. The join is the
    orders⋈lineitem spine on the natural key; moments reduce to one
    row."""
    o = read_table(spark, sf, "orders")
    li = read_table(spark, sf, "lineitem")
    charge = (
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
        * (F.lit(1).cast("decimal(12,2)") + _dec("l_tax"))
    )
    recomputed = li.groupBy("l_orderkey").agg(
        F.sum(charge.cast(DEC)).alias("li_total")
    )
    j = o.select("o_orderkey", _dec("o_totalprice").alias("hdr")).join(
        recomputed, o["o_orderkey"] == recomputed["l_orderkey"]
    )
    d = (F.col("hdr").cast(DEC) - F.col("li_total")).cast("decimal(18,6)")
    mom = j.select(d.alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("d").cast(DEC)).alias("sd"),
        # (18,6)^2 -> (37,12) exact; summed at (38,12) — no rounding cast
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
    )
    bias = F.col("sd").cast("double") / F.col("n").cast("double")
    var = (
        F.col("n").cast("double") * F.col("sdd").cast("double")
        - F.col("sd").cast("double") * F.col("sd").cast("double")
    ) / (F.col("n") * (F.col("n") - 1)).cast("double")
    sd = F.sqrt(var)
    return mom.select(
        "n",
        bias.alias("bias"),
        sd.alias("sd_diff"),
        (bias - F.lit(1.96) * sd).alias("loa_low"),
        (bias + F.lit(1.96) * sd).alias("loa_high"),
    )


def _q_tanimoto_users(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted-Jaccard (Tanimoto) similarity between the 10 most
    active users' event-type COUNT vectors: Σ min(cA,cB) / Σ max(cA,cB)
    — the multiset upgrade of set Jaccard (q19) that sees *how much*
    behavior overlaps, not just *whether*. The five event types are a
    FIXED vocabulary, so each user pivots to a 5-slot integer vector
    in one conditional aggregate and every pair score is a ratio of
    two small integer sums — engine-exact with ONE division. The pair
    frame is top-k² (bounded by construction, like every rerank)."""
    ev = read_table(spark, sf, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c_{t}")
            for t in EVENT_TYPES
        ],
    )
    top = counts.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("n_events").desc(), F.col("user_id").asc()))
        .alias("rk"),
    ).where(F.col("rk") <= 10)
    a = top.select(
        F.col("user_id").alias("user_a"),
        *[F.col(f"c_{t}").alias(f"a_{t}") for t in EVENT_TYPES],
    )
    b = top.select(
        F.col("user_id").alias("user_b"),
        *[F.col(f"c_{t}").alias(f"b_{t}") for t in EVENT_TYPES],
    )
    pairs = a.join(b, a["user_a"] < b["user_b"])
    num = sum(
        (F.least(F.col(f"a_{t}"), F.col(f"b_{t}")) for t in EVENT_TYPES),
        F.lit(0),
    )
    den = sum(
        (F.greatest(F.col(f"a_{t}"), F.col(f"b_{t}")) for t in EVENT_TYPES),
        F.lit(0),
    )
    return pairs.select(
        "user_a",
        "user_b",
        num.cast("bigint").alias("overlap"),
        den.cast("bigint").alias("union_size"),
        (num.cast("double") / den.cast("double")).alias("tanimoto"),
    )


def _q_cold_start(spark: SparkSession, sf: str) -> DataFrame:
    """Cold-start audit for a temporally-split recommender dataset:
    what share of test-period (second half) users — and (user, type)
    interaction pairs — never appear in the train period? The number
    that decides whether offline metrics mean anything. Two anti-join
    cardinalities over the distinct-key frames; pure integers with two
    final divisions. At scale both distinct frames are key-partitioned
    aggregates, and the anti joins are broadcast (train key sets are
    the smaller, bounded side after dedup)."""
    ev = read_table(spark, sf, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    train_u = ev.where(F.col("ts") < cut).select("user_id").distinct()
    test_u = ev.where(F.col("ts") >= cut).select("user_id").distinct()
    cold_u = test_u.join(train_u, "user_id", "left_anti")
    train_p = (
        ev.where(F.col("ts") < cut).select("user_id", "event_type").distinct()
    )
    test_p = (
        ev.where(F.col("ts") >= cut).select("user_id", "event_type").distinct()
    )
    cold_p = test_p.join(train_p, ["user_id", "event_type"], "left_anti")
    r = (
        test_u.agg(F.count(F.lit(1)).cast("bigint").alias("n_test_users"))
        .crossJoin(
            cold_u.agg(F.count(F.lit(1)).cast("bigint").alias("n_cold_users"))
        )
        .crossJoin(
            test_p.agg(F.count(F.lit(1)).cast("bigint").alias("n_test_pairs"))
        )
        .crossJoin(
            cold_p.agg(F.count(F.lit(1)).cast("bigint").alias("n_cold_pairs"))
        )
    )
    return r.select(
        "n_test_users",
        "n_cold_users",
        (
            F.col("n_cold_users").cast("double")
            / F.col("n_test_users").cast("double")
        ).alias("user_cold_share"),
        "n_test_pairs",
        "n_cold_pairs",
        (
            F.col("n_cold_pairs").cast("double")
            / F.col("n_test_pairs").cast("double")
        ).alias("pair_cold_share"),
    )


def _q_stump_split(spark: SparkSession, sf: str) -> DataFrame:
    """Decision-stump split finder in pure relational algebra: for
    each decile of `value` as a candidate threshold, the weighted
    Gini impurity of the (value ≤ c) split against the is-purchase
    label — the CART first-split computation, exact. The per-side
    impurity uses the rational identity n·g = 2k(n−k)/n, so each
    candidate's score is TWO divisions of exact integers added in a
    fixed order; the winner is flagged with a window min (double
    comparisons of identical values agree everywhere). One pass
    computes all candidates: the 9-row decile frame broadcast-joins
    the fact and a conditional aggregate scores every split at once."""
    ev = read_table(spark, sf, "events")
    cand = ev.agg(
        *[
            F.expr(
                f"percentile_disc({i / 10}) WITHIN GROUP (ORDER BY value)"
            ).alias(f"d{i}")
            for i in range(1, 10)
        ]
    ).select(
        F.explode(
            F.array(*[F.col(f"d{i}") for i in range(1, 10)])
        ).alias("threshold")
    )
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    j = ev.select(F.col("value"), y.alias("y")).crossJoin(F.broadcast(cand))
    per_c = j.groupBy("threshold").agg(
        F.sum(F.when(F.col("value") <= F.col("threshold"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_l"),
        F.sum(
            F.when(F.col("value") <= F.col("threshold"), F.col("y")).otherwise(0)
        )
        .cast("bigint")
        .alias("k_l"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("k"),
    )
    n_r = F.col("n") - F.col("n_l")
    k_r = F.col("k") - F.col("k_l")
    g = (
        (2 * F.col("k_l") * (F.col("n_l") - F.col("k_l"))).cast("double")
        / F.col("n_l").cast("double")
        + (2 * k_r * (n_r - k_r)).cast("double") / n_r.cast("double")
    )
    scored = per_c.select(
        "threshold",
        "n_l",
        n_r.cast("bigint").alias("n_r"),
        g.alias("gini_weighted"),
    )
    wbest = Window.partitionBy()
    return scored.select(
        "*",
        (
            F.col("gini_weighted") == F.min("gini_weighted").over(wbest)
        ).alias("is_best"),
    )


def _q_quantile_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile normalization of the 10 most active users' daily
    count series (the microarray/feature-scaling classic): rank days
    within each user, average the counts AT EACH RANK across users,
    and replace every user's value with the reference profile at its
    rank — afterwards every user has an identical distribution. Ranks
    are total-ordered (count, then day); the reference profile is an
    exact-integer sum with ONE division per rank. Shape: day-grain
    aggregate → one rank window per user → tiny per-rank aggregate
    joined back (broadcast)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = daily.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("tot")
    )
    top = tot.select(
        "user_id",
        F.row_number()
        .over(Window.orderBy(F.col("tot").desc(), F.col("user_id").asc()))
        .alias("rk"),
    ).where(F.col("rk") <= 10).select("user_id")
    base = daily.join(F.broadcast(top), "user_id")
    wr = Window.partitionBy("user_id").orderBy(
        F.col("n").asc(), F.col("d").asc()
    )
    ranked = base.select(
        "user_id", "d", "n", F.row_number().over(wr).cast("bigint").alias("r")
    )
    ref = ranked.groupBy("r").agg(
        (
            F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("ref_value")
    )
    return ranked.join(F.broadcast(ref), "r").select(
        "user_id", "d", "n", "r", "ref_value"
    )


def _q_price_endings(spark: SparkSession, sf: str) -> DataFrame:
    """Price-ending histogram: the cents digit-pair of every part's
    retail price (p mod 1.00), with share — the pricing-psychology /
    data-provenance screen (human-set catalogs pile up on .99/.95/.00;
    a uniform spread says generated or converted-from-another-currency
    data). Cents are recovered EXACTLY via the scaled-long trick (q01)
    so the bucket is a pure integer mod; one division for the share."""
    p = read_table(spark, sf, "part")
    cents = (
        (F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long") % 100
    ).alias("cents")
    counts = p.select(cents).groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wall = Window.partitionBy()
    return counts.select(
        "cents",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wall).cast("double"))
        .alias("share"),
    )


def _q_item_cf(spark: SparkSession, sf: str) -> DataFrame:
    """Item-based collaborative filtering similarities: cosine between
    the top-20 parts' customer-interaction vectors (who bought what,
    from the orders⋈lineitem spine) — the classic "customers who
    bought X also bought Y" precompute. Co-occurrence counts and
    per-item degrees are pure integers off ONE two-hop self-join
    through the shared customer (q-graph shape: never all-pairs over
    the catalog — the top-k frame bounds the pair space); cosine =
    co/(√dA·√dB) is a fixed three-op epilogue. Output keeps pairs with
    co-support ≥ 2 (the noise floor every CF system applies)."""
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    ui = (
        li.join(o.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    deg = ui.groupBy("item").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    top = deg.select(
        "item",
        "d",
        F.row_number()
        .over(Window.orderBy(F.col("d").desc(), F.col("item").asc()))
        .alias("rk"),
    ).where(F.col("rk") <= 20).select("item", "d")
    fact = ui.join(F.broadcast(top.select("item")), "item")
    a = fact.select(F.col("cust"), F.col("item").alias("ia"))
    b = fact.select(F.col("cust").alias("cust2"), F.col("item").alias("ib"))
    co = (
        a.join(b, (a["cust"] == b["cust2"]) & (a["ia"] < b["ib"]))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .where(F.col("co") >= 2)
    )
    j = (
        co.join(F.broadcast(top.select(F.col("item").alias("ia"),
                                       F.col("d").alias("da"))), "ia")
        .join(F.broadcast(top.select(F.col("item").alias("ib"),
                                     F.col("d").alias("db"))), "ib")
    )
    return j.select(
        "ia",
        "ib",
        "co",
        "da",
        "db",
        (
            F.col("co").cast("double")
            / (F.sqrt(F.col("da").cast("double"))
               * F.sqrt(F.col("db").cast("double")))
        ).alias("cosine"),
    )


def _q_nrr(spark: SparkSession, sf: str) -> DataFrame:
    """Net revenue retention by month: revenue this month FROM
    customers who also bought last month, over last month's total —
    the SaaS-board expansion/contraction metric, cohort-free. Both
    numerator and denominator are exact decimal sums; the customer
    month-over-month membership is one self-join of the (customer,
    month) aggregate with a month-arithmetic key (no window, no
    fact-to-fact join). One division per month row."""
    o = read_table(spark, sf, "orders")
    cm = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    prev = cm.select(
        F.col("cust").alias("p_cust"),
        F.add_months(F.col("mon"), 1).alias("p_next"),
        F.col("rev").alias("prev_rev"),
    )
    retained = cm.join(
        prev,
        (cm["cust"] == prev["p_cust"]) & (cm["mon"] == prev["p_next"]),
    )
    num = retained.groupBy("mon").agg(
        F.sum("rev").alias("retained_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_retained_cust"),
    )
    den = cm.groupBy(F.add_months(F.col("mon"), 1).alias("mon")).agg(
        F.sum("rev").alias("prev_total"),
    )
    j = num.join(den, "mon")
    return j.select(
        "mon",
        "n_retained_cust",
        F.col("retained_rev").cast("double").alias("retained_rev"),
        F.col("prev_total").cast("double").alias("prev_total"),
        (
            F.col("retained_rev").cast("double")
            / F.col("prev_total").cast("double")
        ).alias("nrr"),
    )


def _q_pvm_bridge(spark: SparkSession, sf: str) -> DataFrame:
    """Price-volume-mix bridge per brand between the first and last
    full ship-month: ΔRevenue decomposed into price effect
    (Δp̄·q₀), volume effect (p̄₀·Δq) and the joint term (Δp̄·Δq) —
    the FP&A waterfall that explains WHY revenue moved. Unit prices
    are revenue/quantity ratios of exact decimal sums (one division
    each); the three effects are fixed multiply/subtract sequences of
    those doubles, and they reconcile: price + volume + joint =
    ΔRev exactly in the same doubles the report shows."""
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part")
    base = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li["l_partkey"] == p["p_partkey"])
        .select(
            "p_brand",
            F.date_trunc("month", F.col("l_shipdate")).alias("mon"),
            F.col("l_extendedprice").cast(DEC).alias("ext"),
            F.col("l_quantity").cast(DEC).alias("qty"),
        )
    )
    months = base.agg(
        F.min("mon").alias("m0"), F.max("mon").alias("m1")
    )
    agg = (
        base.join(F.broadcast(months),
                  (F.col("mon") == F.col("m0")) | (F.col("mon") == F.col("m1")))
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(F.col("mon") == F.col("m0"), F.col("ext"))
                  .otherwise(F.lit(0).cast(DEC))).alias("e0"),
            F.sum(F.when(F.col("mon") == F.col("m0"), F.col("qty"))
                  .otherwise(F.lit(0).cast(DEC))).alias("q0"),
            F.sum(F.when(F.col("mon") == F.col("m1"), F.col("ext"))
                  .otherwise(F.lit(0).cast(DEC))).alias("e1"),
            F.sum(F.when(F.col("mon") == F.col("m1"), F.col("qty"))
                  .otherwise(F.lit(0).cast(DEC))).alias("q1"),
        )
        .where((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    p0 = F.col("e0").cast("double") / F.col("q0").cast("double")
    p1 = F.col("e1").cast("double") / F.col("q1").cast("double")
    q0d = F.col("q0").cast("double")
    q1d = F.col("q1").cast("double")
    price_eff = (p1 - p0) * q0d
    vol_eff = p0 * (q1d - q0d)
    joint = (p1 - p0) * (q1d - q0d)
    return agg.select(
        "p_brand",
        (F.col("e1").cast("double") - F.col("e0").cast("double")).alias(
            "delta_rev"
        ),
        price_eff.alias("price_effect"),
        vol_eff.alias("volume_effect"),
        joint.alias("joint_effect"),
    )


def _q_knee_point(spark: SparkSession, sf: str) -> DataFrame:
    """Knee/elbow detection on the ranked user-activity curve (the
    Kneedle idea reduced to its geometric core): the rank whose point
    lies farthest from the chord joining the curve's endpoints — the
    principled "how many heavy users are there really" cutoff that
    eyeballing a scree plot approximates. The distance ARGMAX needs no
    sqrt or division: the unnormalized |(yₙ−y₁)(r−1) − (n−1)(yᵣ−y₁)|
    is a PURE INTEGER per rank (constant chord normalization can't
    change the argmax), so the winner is engine-exact with a rank
    tiebreak. One aggregate + one window + one 1-row reduce."""
    ev = read_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    ranked = per_user.select(
        "n_events",
        F.row_number()
        .over(Window.orderBy(F.col("n_events").desc(), F.col("user_id").asc()))
        .cast("bigint")
        .alias("r"),
    )
    wall = Window.partitionBy()
    pts = ranked.select(
        "r",
        "n_events",
        F.max(F.when(F.col("r") == 1, F.col("n_events"))).over(wall).alias("y1"),
        F.max("r").over(wall).alias("n"),
    )
    pts = pts.select(
        "r",
        "n_events",
        "y1",
        "n",
        F.max(F.when(F.col("r") == F.col("n"), F.col("n_events")))
        .over(wall)
        .alias("yn"),
    )
    dist = F.abs(
        (F.col("yn") - F.col("y1")) * (F.col("r") - 1)
        - (F.col("n") - 1) * (F.col("n_events") - F.col("y1"))
    )
    scored = pts.select("r", "n_events", dist.alias("chord_dist"))
    return scored.agg(
        F.expr(
            "min_by(struct(r, n_events, chord_dist), struct(-chord_dist, r))"
        ).alias("k")
    ).select(
        F.col("k.r").alias("knee_rank"),
        F.col("k.n_events").alias("knee_value"),
        F.col("k.chord_dist").cast("bigint").alias("chord_dist"),
    )


register_many(
    {
        'q355_cuped': _q_cuped,
        'q356_rrf_fusion': _q_rrf_fusion,
        'q357_peak_days': _q_peak_days,
        'q358_savgol_smooth': _q_savgol,
        'q359_zero_crossings': _q_zero_crossings,
        'q360_rdd_cutoff': _q_rdd_cutoff,
        'q361_sprt': _q_sprt,
        'q362_conformal_interval': _q_conformal,
        'q363_isotonic_fit': _q_isotonic,
        'q364_ips_offpolicy': _q_ips_offpolicy,
        'q365_negbin_fit': _q_negbin_fit,
        'q366_unit_value_index': _q_unit_value_index,
        'q367_record_days': _q_record_days,
        'q368_turning_points': _q_turning_points,
        'q369_stylometric_z': _q_stylometric_z,
        'q370_int8_quant': _q_int8_quant,
        'q371_mmr_rerank': _q_mmr_rerank,
        'q372_welch_ttest': _q_welch_ttest,
        'q373_two_prop_z': _q_two_prop_z,
        'q374_bland_altman': _q_bland_altman,
        'q375_tanimoto_users': _q_tanimoto_users,
        'q376_cold_start': _q_cold_start,
        'q377_stump_split': _q_stump_split,
        'q378_quantile_normalize': _q_quantile_normalize,
        'q379_price_endings': _q_price_endings,
        'q380_item_cf': _q_item_cf,
        'q381_nrr': _q_nrr,
        'q382_pvm_bridge': _q_pvm_bridge,
        'q383_knee_point': _q_knee_point,
    },
    {
        'q355_cuped': f"""
            WITH per_user AS (
              SELECT
                CASE WHEN substring(
                    md5('cuped' || CAST(user_id AS VARCHAR)), 1, 8)
                  < '{_thr(0.5)}' THEN 'treat' ELSE 'control' END AS arm,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                  THEN 0 ELSE 1 END) AS BIGINT) AS y
              FROM events GROUP BY user_id
            ),
            mom AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx
              FROM per_user
            ),
            per_arm AS (
              SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(x) AS BIGINT) AS sxa,
                CAST(sum(y) AS BIGINT) AS sya
              FROM per_user GROUP BY arm
            )
            SELECT arm, n_users,
              CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_y,
              CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE)
                - (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE))
                  * (CAST(sxa AS DOUBLE) / CAST(n_users AS DOUBLE)
                     - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                AS mean_y_adj,
              CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) AS theta
            FROM per_arm, mom
        """,
        'q356_rrf_fusion': """
            WITH per_c AS (
              SELECT o_custkey,
                sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev,
                CAST(count(*) AS BIGINT) AS n_orders
              FROM orders GROUP BY o_custkey
            ),
            ranked AS (
              SELECT o_custkey,
                CAST(row_number() OVER (
                  ORDER BY rev DESC, o_custkey ASC) AS BIGINT) AS r_rev,
                CAST(row_number() OVER (
                  ORDER BY n_orders DESC, o_custkey ASC) AS BIGINT)
                  AS r_freq
              FROM per_c
            )
            SELECT o_custkey, r_rev, r_freq,
              1.0 / (60.0 + CAST(r_rev AS DOUBLE))
                + 1.0 / (60.0 + CAST(r_freq AS DOUBLE)) AS rrf
            FROM ranked
            ORDER BY rrf DESC, o_custkey ASC
            LIMIT 20
        """,
        'q357_peak_days': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            flagged AS (
              SELECT event_type, d, n,
                lag(n) OVER (PARTITION BY event_type ORDER BY d) AS prv,
                lead(n) OVER (PARTITION BY event_type ORDER BY d) AS nxt,
                CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                  AS k,
                CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                  AS s
              FROM daily
            )
            SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_peaks,
              CAST(max(n) AS BIGINT) AS max_peak,
              min(d) AS first_peak_d
            FROM flagged
            WHERE prv IS NOT NULL AND nxt IS NOT NULL
              AND n > prv AND n > nxt AND k * n > s
            GROUP BY event_type
        """,
        'q358_savgol_smooth': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            conv AS (
              SELECT event_type, d, n,
                lag(n, 2) OVER w AS m2, lag(n, 1) OVER w AS m1,
                lead(n, 1) OVER w AS p1, lead(n, 2) OVER w AS p2
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY d)
            )
            SELECT event_type, d, n,
              CAST(-3 * m2 + 12 * m1 + 17 * n + 12 * p1 - 3 * p2
                AS DOUBLE) / 35.0 AS sg
            FROM conv
            WHERE m2 IS NOT NULL AND m1 IS NOT NULL
              AND p1 IS NOT NULL AND p2 IS NOT NULL
        """,
        'q359_zero_crossings': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            signed AS (
              SELECT event_type, d,
                CAST(sign(CAST(
                  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                    * n
                  - CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                  AS DOUBLE)) AS INTEGER) AS sgn
              FROM daily
            ),
            steps AS (
              SELECT event_type, sgn,
                lag(sgn) OVER (PARTITION BY event_type ORDER BY d) AS prv
              FROM signed
            )
            SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_days,
              CAST(sum(CASE WHEN sgn * prv = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_crossings,
              CAST(sum(CASE WHEN sgn * prv = -1 THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) - 1 AS DOUBLE)
                AS crossing_rate
            FROM steps GROUP BY event_type
        """,
        'q360_rdd_cutoff': """
            WITH daily AS (
              SELECT date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1
            ),
            base AS (
              SELECT CASE WHEN datediff('day', DATE '2024-01-01',
                  CAST(d AS DATE)) < 15 THEN 'pre' ELSE 'post' END
                  AS side,
                CAST(datediff('day', DATE '2024-01-01', CAST(d AS DATE))
                  AS BIGINT) AS x,
                n AS y
              FROM daily
            ),
            mom AS (
              SELECT side, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx
              FROM base GROUP BY side
            ),
            lines AS (
              SELECT side, n AS n_days,
                CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
                (CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                  / CAST(n AS DOUBLE) AS icept
              FROM mom
            )
            SELECT
              pre.n_days AS n_pre,
              post.n_days AS n_post,
              pre.slope AS slope_pre,
              post.slope AS slope_post,
              post.slope - pre.slope AS slope_change,
              (post.icept + post.slope * 15.0)
                - (pre.icept + pre.slope * 15.0) AS jump
            FROM (SELECT * FROM lines WHERE side = 'pre') pre,
                 (SELECT * FROM lines WHERE side = 'post') post
        """,
        'q361_sprt': f"""
            WITH daily AS (
              SELECT date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                  ELSE 0 END) AS BIGINT) AS s
              FROM events GROUP BY 1
            ),
            cum AS (
              SELECT d,
                CAST(sum(n) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
                CAST(sum(s) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_s
              FROM daily
            )
            SELECT d, cum_n, cum_s,
              CAST(cum_s AS DOUBLE) * {_SPRT_L1!r}
                + CAST(cum_n - cum_s AS DOUBLE) * {_SPRT_L0!r} AS llr,
              CASE
                WHEN CAST(cum_s AS DOUBLE) * {_SPRT_L1!r}
                  + CAST(cum_n - cum_s AS DOUBLE) * {_SPRT_L0!r}
                  >= {_SPRT_UP!r} THEN 'accept_h1'
                WHEN CAST(cum_s AS DOUBLE) * {_SPRT_L1!r}
                  + CAST(cum_n - cum_s AS DOUBLE) * {_SPRT_L0!r}
                  <= {_SPRT_LO!r} THEN 'accept_h0'
                ELSE 'continue'
              END AS decision
            FROM cum
        """,
        'q362_conformal_interval': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            scored AS (
              SELECT event_type, d, n,
                lag(n, 7) OVER w AS yhat,
                CAST(row_number() OVER w AS BIGINT) AS i
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY d)
            ),
            resid AS (
              SELECT event_type, i, abs(n - yhat) AS abs_err
              FROM scored WHERE yhat IS NOT NULL
            ),
            qhat AS (
              SELECT event_type,
                CAST(quantile_disc(abs_err, 0.9) AS BIGINT) AS qhat,
                CAST(count(*) AS BIGINT) AS n_cal
              FROM resid WHERE i <= 15 GROUP BY event_type
            )
            SELECT r.event_type,
              CAST(max(qhat) AS BIGINT) AS qhat,
              CAST(max(n_cal) AS BIGINT) AS n_cal,
              CAST(count(*) AS BIGINT) AS n_test,
              CAST(sum(CASE WHEN abs_err <= qhat THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
            FROM resid r JOIN qhat q ON r.event_type = q.event_type
            WHERE r.i > 15
            GROUP BY r.event_type
        """,
        'q363_isotonic_fit': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            idx AS (
              SELECT event_type, d, n,
                CAST(row_number() OVER w AS BIGINT) AS i,
                CAST(sum(n) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS p
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY d)
            ),
            pairs AS (
              SELECT a.event_type, a.j, b.k,
                CAST(b.pk - a.pj AS DOUBLE)
                  / CAST(b.k - a.j + 1 AS DOUBLE) AS m
              FROM (SELECT event_type, i AS j, p - n AS pj FROM idx) a
              JOIN (SELECT event_type, i AS k, p AS pk FROM idx) b
                ON a.event_type = b.event_type AND a.j <= b.k
            ),
            inner_min AS (
              SELECT event_type, j, k AS i,
                min(m) OVER (PARTITION BY event_type, j
                  ORDER BY k DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS inner_min
              FROM pairs
            ),
            iso AS (
              SELECT event_type, i, j,
                max(inner_min) OVER (PARTITION BY event_type, i
                  ORDER BY j ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS fit
              FROM inner_min
            )
            SELECT x.event_type, x.d, x.n, s.fit
            FROM idx x
            JOIN (SELECT event_type, i, fit FROM iso WHERE j = i) s
              ON x.event_type = s.event_type AND x.i = s.i
        """,
        'q364_ips_offpolicy': f"""
            WITH base AS (
              SELECT
                CASE WHEN substring(
                    md5('ips' || CAST(event_id AS VARCHAR)), 1, 8)
                  < '{_thr(0.5)}' THEN 'A' ELSE 'B' END AS a,
                CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS pi,
                CAST(CASE WHEN event_type = 'purchase' THEN value
                  ELSE 0.0 END AS DECIMAL(38,6)) AS r
              FROM events
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                sum(r) AS s_all,
                sum(CASE WHEN pi = a THEN r
                    ELSE CAST(0 AS DECIMAL(38,6)) END) AS s_match,
                CAST(sum(CASE WHEN pi = a THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_match
              FROM base
            )
            SELECT n, n_match,
              CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE) AS v_logged,
              2.0 * CAST(s_match AS DOUBLE) / CAST(n AS DOUBLE)
                AS v_target_ips
            FROM agg
        """,
        'q365_negbin_fit': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            mom AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS k,
                CAST(sum(n) AS BIGINT) AS s,
                CAST(sum(n * n) AS BIGINT) AS q
              FROM daily GROUP BY event_type
            )
            SELECT event_type, k AS n_days,
              CAST(s AS DOUBLE) / CAST(k AS DOUBLE) AS mean,
              CAST(k * q - s * s AS DOUBLE)
                / CAST(k * (k - 1) AS DOUBLE) AS var,
              CASE WHEN CAST(k * q - s * s AS DOUBLE)
                  / CAST(k * (k - 1) AS DOUBLE)
                  > CAST(s AS DOUBLE) / CAST(k AS DOUBLE)
                THEN (CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
                  / (CAST(k * q - s * s AS DOUBLE)
                     / CAST(k * (k - 1) AS DOUBLE)
                     - CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
              END AS nb_r,
              CASE WHEN CAST(k * q - s * s AS DOUBLE)
                  / CAST(k * (k - 1) AS DOUBLE)
                  > CAST(s AS DOUBLE) / CAST(k AS DOUBLE)
                THEN (CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
                  / (CAST(k * q - s * s AS DOUBLE)
                     / CAST(k * (k - 1) AS DOUBLE))
              END AS nb_p
            FROM mom
        """,
        'q366_unit_value_index': """
            WITH uv AS (
              SELECT p_brand, date_trunc('month', l_shipdate) AS mon,
                sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS ext,
                sum(CAST(l_quantity AS DECIMAL(38,6))) AS qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1, 2
            ),
            base AS (
              SELECT p_brand, ext AS ext0, qty AS qty0
              FROM (
                SELECT p_brand, ext, qty,
                  row_number() OVER (PARTITION BY p_brand
                    ORDER BY mon) AS rk
                FROM uv
              ) WHERE rk = 1
            )
            SELECT u.p_brand, u.mon,
              CAST(u.ext AS DOUBLE) AS ext_sum,
              CAST(u.qty AS DOUBLE) AS qty_sum,
              (CAST(u.ext AS DOUBLE) * CAST(b.qty0 AS DOUBLE))
                / (CAST(u.qty AS DOUBLE) * CAST(b.ext0 AS DOUBLE))
                AS uv_index
            FROM uv u JOIN base b ON u.p_brand = b.p_brand
        """,
        'q367_record_days': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            flagged AS (
              SELECT event_type, d, n,
                max(n) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS prior_max
              FROM daily
            )
            SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_records,
              max(d) AS last_record_d,
              CAST(max(n) AS BIGINT) AS record_high
            FROM flagged
            WHERE prior_max IS NOT NULL AND n > prior_max
            GROUP BY event_type
        """,
        'q368_turning_points': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            lagd AS (
              SELECT event_type, n,
                lag(n) OVER w AS prv, lead(n) OVER w AS nxt
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY d)
            ),
            agg AS (
              SELECT m.event_type, m.m, t.t
              FROM (
                SELECT event_type, CAST(count(*) AS BIGINT) AS m
                FROM daily GROUP BY event_type
              ) m
              JOIN (
                SELECT event_type,
                  CAST(sum(CASE WHEN prv IS NOT NULL AND nxt IS NOT NULL
                    AND ((n > prv AND n > nxt) OR (n < prv AND n < nxt))
                    THEN 1 ELSE 0 END) AS BIGINT) AS t
                FROM lagd GROUP BY event_type
              ) t ON m.event_type = t.event_type
            )
            SELECT event_type, m, t,
              (CAST(3 * t - 2 * (m - 2) AS DOUBLE) / 3.0)
                / sqrt(CAST(16 * m - 29 AS DOUBLE) / 90.0) AS z
            FROM agg
        """,
        'q369_stylometric_z': r"""
            WITH tok AS (
              SELECT source,
                unnest(list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '')) AS t
              FROM documents
            ),
            top AS (
              SELECT t FROM (
                SELECT t, row_number() OVER (
                  ORDER BY count(*) DESC, t ASC) AS rk
                FROM tok GROUP BY t
              ) WHERE rk <= 10
            ),
            per_src AS (
              SELECT source, CAST(count(*) AS BIGINT) AS ntok
              FROM tok GROUP BY source
            ),
            cnt AS (
              SELECT source, t, CAST(count(*) AS BIGINT) AS c
              FROM tok JOIN top USING (t) GROUP BY source, t
            ),
            cells AS (
              SELECT p.source, g.t,
                CAST((COALESCE(c.c, 0) * 1000000) // p.ntok AS BIGINT)
                  AS cpm
              FROM per_src p CROSS JOIN top g
              LEFT JOIN cnt c ON c.source = p.source AND c.t = g.t
            ),
            stats AS (
              SELECT source, t, cpm,
                CAST(count(*) OVER w AS BIGINT) AS s,
                CAST(sum(cpm) OVER w AS BIGINT) AS tot,
                CAST(sum(cpm * cpm) OVER w AS BIGINT) AS qq
              FROM cells
              WINDOW w AS (PARTITION BY t)
            )
            SELECT source, t AS token, cpm,
              CASE WHEN CAST(s * qq - tot * tot AS DOUBLE) > 0
                THEN CAST(s * cpm - tot AS DOUBLE)
                  / sqrt(CAST(s * qq - tot * tot AS DOUBLE))
              END AS z_scaled
            FROM stats
        """,
        'q370_int8_quant': """
            WITH errs AS (
              SELECT vec_id, label,
                list_transform(embedding, x ->
                  CAST(x AS DOUBLE)
                  - least(greatest(
                      floor(CAST(x AS DOUBLE) * 64.0 + 0.5), -127.0),
                      127.0) / 64.0) AS e
              FROM embeddings
            )
            SELECT vec_id, label,
              list_dot_product(e, e) / 64.0 AS mse,
              list_max(list_transform(e, x -> abs(x))) AS max_abs_err
            FROM errs
        """,
        'q371_mmr_rerank': """
            WITH RECURSIVE
            qv AS (
              SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
                AS v
              FROM embeddings WHERE vec_id = 0
            ),
            cand AS (
              SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                list_dot_product(
                  list_transform(embedding, x -> CAST(x AS DOUBLE)),
                  qv.v)
                / (sqrt(list_dot_product(
                      list_transform(embedding, x -> CAST(x AS DOUBLE)),
                      list_transform(embedding, x -> CAST(x AS DOUBLE))))
                   * sqrt(list_dot_product(qv.v, qv.v))) AS rel
              FROM embeddings, qv
              WHERE vec_id <> 0
              ORDER BY rel DESC, vec_id ASC
              LIMIT 20
            ),
            sims AS (
              SELECT a.vec_id AS ia, b.vec_id AS ib,
                list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))) AS s
              FROM cand a, cand b
            ),
            sel AS (
              (SELECT 1 AS step, vec_id, rel AS mmr_score,
                 [vec_id] AS chosen
               FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1)
              UNION ALL
              (SELECT step + 1, c.vec_id,
                 0.5 * c.rel - 0.5 * m.maxsim AS mmr_score,
                 list_append(sel.chosen, c.vec_id)
               FROM sel
               JOIN cand c ON NOT list_contains(sel.chosen, c.vec_id),
               LATERAL (SELECT max(s) AS maxsim FROM sims
                        WHERE sims.ia = c.vec_id
                          AND list_contains(sel.chosen, sims.ib)) m
               WHERE step < 5
               ORDER BY 0.5 * c.rel - 0.5 * m.maxsim DESC, c.vec_id ASC
               LIMIT 1)
            )
            SELECT CAST(step AS INT) AS step,
              CAST(vec_id AS BIGINT) AS vec_id, mmr_score
            FROM sel
        """,
        'q372_welch_ttest': f"""
            WITH per_user AS (
              SELECT
                CASE WHEN substring(
                    md5('welch' || CAST(user_id AS VARCHAR)), 1, 8)
                  < '{_thr(0.5)}' THEN 'treat' ELSE 'control' END AS arm,
                CAST(sum(CAST(value AS DECIMAL(38,6)))
                  AS DECIMAL(19,2)) AS total
              FROM events GROUP BY user_id
            ),
            mom AS (
              SELECT arm, CAST(count(*) AS BIGINT) AS n,
                sum(total) AS s1, sum(total * total) AS s2
              FROM per_user WHERE total IS NOT NULL GROUP BY arm
            ),
            j AS (
              SELECT t.n AS n1, t.s1 AS a1, t.s2 AS a2,
                     c.n AS n2, c.s1 AS b1, c.s2 AS b2
              FROM (SELECT * FROM mom WHERE arm = 'treat') t,
                   (SELECT * FROM mom WHERE arm = 'control') c
            ),
            e AS (
              SELECT n1, n2,
                CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
                CAST(b1 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
                (CAST(n1 AS DOUBLE) * CAST(a2 AS DOUBLE)
                  - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE))
                  / CAST(n1 * (n1 - 1) AS DOUBLE)
                  / CAST(n1 AS DOUBLE) AS se1,
                (CAST(n2 AS DOUBLE) * CAST(b2 AS DOUBLE)
                  - CAST(b1 AS DOUBLE) * CAST(b1 AS DOUBLE))
                  / CAST(n2 * (n2 - 1) AS DOUBLE)
                  / CAST(n2 AS DOUBLE) AS se2
              FROM j
            )
            SELECT n1 AS n_treat, n2 AS n_control,
              m1 AS mean_treat, m2 AS mean_control,
              (m1 - m2) / sqrt(se1 + se2) AS t_stat,
              ((se1 + se2) * (se1 + se2))
                / ((se1 * se1) / CAST(n1 - 1 AS DOUBLE)
                   + (se2 * se2) / CAST(n2 - 1 AS DOUBLE)) AS welch_df
            FROM e
        """,
        'q373_two_prop_z': f"""
            WITH base AS (
              SELECT
                CASE WHEN substring(
                    md5('zprop' || CAST(event_id AS VARCHAR)), 1, 8)
                  < '{_thr(0.5)}' THEN 'treat' ELSE 'control' END AS arm,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS c
              FROM events
            ),
            mom AS (
              SELECT arm, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(c) AS BIGINT) AS s
              FROM base GROUP BY arm
            ),
            j AS (
              SELECT t.n AS n1, t.s AS s1, c.n AS n2, c.s AS s2
              FROM (SELECT * FROM mom WHERE arm = 'treat') t,
                   (SELECT * FROM mom WHERE arm = 'control') c
            )
            SELECT n1, n2,
              CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p_treat,
              CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p_control,
              (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
              / sqrt(
                  (CAST(s1 + s2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 - CAST(s1 + s2 AS DOUBLE)
                      / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 / CAST(n1 AS DOUBLE)
                     + 1.0 / CAST(n2 AS DOUBLE))) AS z_stat
            FROM j
        """,
        'q374_bland_altman': """
            WITH recomputed AS (
              SELECT l_orderkey,
                sum(CAST(
                  CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(12,2))
                     - CAST(l_discount AS DECIMAL(12,2)))
                  * (CAST(1 AS DECIMAL(12,2))
                     + CAST(l_tax AS DECIMAL(12,2)))
                  AS DECIMAL(38,6))) AS li_total
              FROM lineitem GROUP BY l_orderkey
            ),
            diffs AS (
              SELECT CAST(
                CAST(CAST(o_totalprice AS DECIMAL(12,2))
                  AS DECIMAL(38,6)) - li_total
                AS DECIMAL(19,6)) AS d
              FROM orders JOIN recomputed ON o_orderkey = l_orderkey
            ),
            mom AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                sum(CAST(d AS DECIMAL(38,6))) AS sd,
                sum(d * d) AS sdd
              FROM diffs
            )
            SELECT n,
              CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS bias,
              sqrt((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                / CAST(n * (n - 1) AS DOUBLE)) AS sd_diff,
              CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)
                - 1.96 * sqrt((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                  - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                  / CAST(n * (n - 1) AS DOUBLE)) AS loa_low,
              CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)
                + 1.96 * sqrt((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                  - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                  / CAST(n * (n - 1) AS DOUBLE)) AS loa_high
            FROM mom
        """,
        'q375_tanimoto_users': """
            WITH counts AS (
              SELECT user_id,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                  END) AS BIGINT) AS c_click,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                  END) AS BIGINT) AS c_view,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                  ELSE 0 END) AS BIGINT) AS c_purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                  END) AS BIGINT) AS c_signup,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                  END) AS BIGINT) AS c_error
              FROM events GROUP BY user_id
            ),
            top AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                  ORDER BY n_events DESC, user_id ASC) AS rk
                FROM counts
              ) WHERE rk <= 10
            )
            SELECT a.user_id AS user_a, b.user_id AS user_b,
              CAST(least(a.c_click, b.c_click)
                + least(a.c_view, b.c_view)
                + least(a.c_purchase, b.c_purchase)
                + least(a.c_signup, b.c_signup)
                + least(a.c_error, b.c_error) AS BIGINT) AS overlap,
              CAST(greatest(a.c_click, b.c_click)
                + greatest(a.c_view, b.c_view)
                + greatest(a.c_purchase, b.c_purchase)
                + greatest(a.c_signup, b.c_signup)
                + greatest(a.c_error, b.c_error) AS BIGINT)
                AS union_size,
              CAST(least(a.c_click, b.c_click)
                + least(a.c_view, b.c_view)
                + least(a.c_purchase, b.c_purchase)
                + least(a.c_signup, b.c_signup)
                + least(a.c_error, b.c_error) AS DOUBLE)
              / CAST(greatest(a.c_click, b.c_click)
                + greatest(a.c_view, b.c_view)
                + greatest(a.c_purchase, b.c_purchase)
                + greatest(a.c_signup, b.c_signup)
                + greatest(a.c_error, b.c_error) AS DOUBLE)
                AS tanimoto
            FROM top a JOIN top b ON a.user_id < b.user_id
        """,
        'q376_cold_start': """
            WITH train_u AS (
              SELECT DISTINCT user_id FROM events
              WHERE ts < TIMESTAMP '2024-01-16'
            ),
            test_u AS (
              SELECT DISTINCT user_id FROM events
              WHERE ts >= TIMESTAMP '2024-01-16'
            ),
            train_p AS (
              SELECT DISTINCT user_id, event_type FROM events
              WHERE ts < TIMESTAMP '2024-01-16'
            ),
            test_p AS (
              SELECT DISTINCT user_id, event_type FROM events
              WHERE ts >= TIMESTAMP '2024-01-16'
            ),
            agg AS (
              SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM test_u)
                  AS n_test_users,
                (SELECT CAST(count(*) AS BIGINT) FROM test_u t
                 WHERE NOT EXISTS (SELECT 1 FROM train_u r
                   WHERE r.user_id = t.user_id)) AS n_cold_users,
                (SELECT CAST(count(*) AS BIGINT) FROM test_p)
                  AS n_test_pairs,
                (SELECT CAST(count(*) AS BIGINT) FROM test_p t
                 WHERE NOT EXISTS (SELECT 1 FROM train_p r
                   WHERE r.user_id = t.user_id
                     AND r.event_type = t.event_type)) AS n_cold_pairs
            )
            SELECT n_test_users, n_cold_users,
              CAST(n_cold_users AS DOUBLE) / CAST(n_test_users AS DOUBLE)
                AS user_cold_share,
              n_test_pairs, n_cold_pairs,
              CAST(n_cold_pairs AS DOUBLE) / CAST(n_test_pairs AS DOUBLE)
                AS pair_cold_share
            FROM agg
        """,
        'q377_stump_split': """
            WITH cand AS (
              SELECT unnest([
                quantile_disc(value, 0.1), quantile_disc(value, 0.2),
                quantile_disc(value, 0.3), quantile_disc(value, 0.4),
                quantile_disc(value, 0.5), quantile_disc(value, 0.6),
                quantile_disc(value, 0.7), quantile_disc(value, 0.8),
                quantile_disc(value, 0.9)]) AS threshold
              FROM events
            ),
            per_c AS (
              SELECT threshold,
                CAST(sum(CASE WHEN value <= threshold THEN 1 ELSE 0
                  END) AS BIGINT) AS n_l,
                CAST(sum(CASE WHEN value <= threshold
                  AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k_l,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                  ELSE 0 END) AS BIGINT) AS k
              FROM events, cand
              GROUP BY threshold
            ),
            scored AS (
              SELECT threshold, n_l,
                CAST(n - n_l AS BIGINT) AS n_r,
                CAST(2 * k_l * (n_l - k_l) AS DOUBLE)
                  / CAST(n_l AS DOUBLE)
                + CAST(2 * (k - k_l) * ((n - n_l) - (k - k_l))
                    AS DOUBLE) / CAST(n - n_l AS DOUBLE)
                  AS gini_weighted
              FROM per_c
            )
            SELECT threshold, n_l, n_r, gini_weighted,
              gini_weighted = min(gini_weighted) OVER () AS is_best
            FROM scored
        """,
        'q378_quantile_normalize': """
            WITH daily AS (
              SELECT user_id, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            top AS (
              SELECT user_id FROM (
                SELECT user_id,
                  row_number() OVER (
                    ORDER BY sum(n) DESC, user_id ASC) AS rk
                FROM daily GROUP BY user_id
              ) WHERE rk <= 10
            ),
            ranked AS (
              SELECT d.user_id, d.d, d.n,
                CAST(row_number() OVER (PARTITION BY d.user_id
                  ORDER BY d.n ASC, d.d ASC) AS BIGINT) AS r
              FROM daily d JOIN top USING (user_id)
            ),
            ref AS (
              SELECT r,
                CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS ref_value
              FROM ranked GROUP BY r
            )
            SELECT ranked.user_id, ranked.d, ranked.n, ranked.r,
              ref.ref_value
            FROM ranked JOIN ref USING (r)
        """,
        'q379_price_endings': """
            WITH counts AS (
              SELECT CAST(CAST(p_retailprice * 100 + 0.5 AS BIGINT)
                % 100 AS BIGINT) AS cents,
                CAST(count(*) AS BIGINT) AS n
              FROM part GROUP BY 1
            )
            SELECT cents, n,
              CAST(n AS DOUBLE)
                / CAST(sum(n) OVER () AS DOUBLE) AS share
            FROM counts
        """,
        'q380_item_cf': """
            WITH ui AS (
              SELECT DISTINCT o_custkey AS cust, l_partkey AS item
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ),
            deg AS (
              SELECT item, CAST(count(*) AS BIGINT) AS d
              FROM ui GROUP BY item
            ),
            top AS (
              SELECT item, d FROM (
                SELECT item, d,
                  row_number() OVER (ORDER BY d DESC, item ASC) AS rk
                FROM deg
              ) WHERE rk <= 20
            ),
            fact AS (
              SELECT cust, item FROM ui
              WHERE item IN (SELECT item FROM top)
            ),
            co AS (
              SELECT a.item AS ia, b.item AS ib,
                CAST(count(*) AS BIGINT) AS co
              FROM fact a JOIN fact b
                ON a.cust = b.cust AND a.item < b.item
              GROUP BY 1, 2
              HAVING count(*) >= 2
            )
            SELECT co.ia, co.ib, co.co,
              ta.d AS da, tb.d AS db,
              CAST(co.co AS DOUBLE)
                / (sqrt(CAST(ta.d AS DOUBLE))
                   * sqrt(CAST(tb.d AS DOUBLE))) AS cosine
            FROM co
            JOIN top ta ON co.ia = ta.item
            JOIN top tb ON co.ib = tb.item
        """,
        'q381_nrr': """
            WITH cm AS (
              SELECT o_custkey AS cust,
                date_trunc('month', o_orderdate) AS mon,
                sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
              FROM orders GROUP BY 1, 2
            ),
            retained AS (
              SELECT c.mon,
                CAST(count(*) AS BIGINT) AS n_retained_cust,
                sum(c.rev) AS retained_rev
              FROM cm c JOIN cm p
                ON c.cust = p.cust
                AND c.mon = p.mon + INTERVAL 1 MONTH
              GROUP BY c.mon
            ),
            den AS (
              SELECT mon + INTERVAL 1 MONTH AS mon,
                sum(rev) AS prev_total
              FROM cm GROUP BY 1
            )
            SELECT r.mon, r.n_retained_cust,
              CAST(r.retained_rev AS DOUBLE) AS retained_rev,
              CAST(d.prev_total AS DOUBLE) AS prev_total,
              CAST(r.retained_rev AS DOUBLE)
                / CAST(d.prev_total AS DOUBLE) AS nrr
            FROM retained r JOIN den d ON r.mon = d.mon
        """,
        'q382_pvm_bridge': """
            WITH base AS (
              SELECT p_brand,
                date_trunc('month', l_shipdate) AS mon,
                CAST(l_extendedprice AS DECIMAL(38,6)) AS ext,
                CAST(l_quantity AS DECIMAL(38,6)) AS qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
            ),
            months AS (
              SELECT min(mon) AS m0, max(mon) AS m1 FROM base
            ),
            agg AS (
              SELECT p_brand,
                sum(CASE WHEN mon = m0 THEN ext
                    ELSE CAST(0 AS DECIMAL(38,6)) END) AS e0,
                sum(CASE WHEN mon = m0 THEN qty
                    ELSE CAST(0 AS DECIMAL(38,6)) END) AS q0,
                sum(CASE WHEN mon = m1 THEN ext
                    ELSE CAST(0 AS DECIMAL(38,6)) END) AS e1,
                sum(CASE WHEN mon = m1 THEN qty
                    ELSE CAST(0 AS DECIMAL(38,6)) END) AS q1
              FROM base, months
              WHERE mon = m0 OR mon = m1
              GROUP BY p_brand
              HAVING sum(CASE WHEN mon = m0 THEN qty
                    ELSE CAST(0 AS DECIMAL(38,6)) END) > 0
                AND sum(CASE WHEN mon = m1 THEN qty
                    ELSE CAST(0 AS DECIMAL(38,6)) END) > 0
            )
            SELECT p_brand,
              CAST(e1 AS DOUBLE) - CAST(e0 AS DOUBLE) AS delta_rev,
              (CAST(e1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                - CAST(e0 AS DOUBLE) / CAST(q0 AS DOUBLE))
                * CAST(q0 AS DOUBLE) AS price_effect,
              (CAST(e0 AS DOUBLE) / CAST(q0 AS DOUBLE))
                * (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
                AS volume_effect,
              (CAST(e1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                - CAST(e0 AS DOUBLE) / CAST(q0 AS DOUBLE))
                * (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
                AS joint_effect
            FROM agg
        """,
        'q383_knee_point': """
            WITH per_user AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
              FROM events GROUP BY user_id
            ),
            ranked AS (
              SELECT n_events,
                CAST(row_number() OVER (
                  ORDER BY n_events DESC, user_id ASC) AS BIGINT) AS r
              FROM per_user
            ),
            pts AS (
              SELECT r, n_events,
                max(CASE WHEN r = 1 THEN n_events END) OVER () AS y1,
                max(r) OVER () AS n
              FROM ranked
            ),
            pts2 AS (
              SELECT r, n_events, y1, n,
                max(CASE WHEN r = n THEN n_events END) OVER () AS yn
              FROM pts
            )
            SELECT r AS knee_rank, n_events AS knee_value,
              CAST(abs((yn - y1) * (r - 1)
                - (n - 1) * (n_events - y1)) AS BIGINT) AS chord_dist
            FROM pts2
            ORDER BY abs((yn - y1) * (r - 1)
              - (n - 1) * (n_events - y1)) DESC, r ASC
            LIMIT 1
        """,
    },
)
