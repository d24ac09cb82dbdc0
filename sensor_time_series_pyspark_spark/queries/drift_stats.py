"""Hypothesis tests and drift monitors (q323 .. q354).

Shared helpers are in queries/common.py; queries/registry.py raises
on duplicate query names."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import (
    STOPWORDS,
    token_count,
    tokens,
)
from sensor_time_series_pyspark_spark.operators import asof_join
from sensor_time_series_pyspark_spark.operators.sampling import (
    _threshold_hex as _thr,
)
from sensor_time_series_pyspark_spark.queries.common import (
    DEC,
    _REV_SQL,
    _STOPWORD_LIST,
    _dsum,
    _revenue,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


# NDCG@10 rank discounts 1/log2(r+1), precomputed once and rounded to
# 12 decimals, so NO transcendental function runs in either engine —
# sums over these decimal literals are exact and order-independent
# (the benford-expectations pattern applied to ranking metrics).
_NDCG_DISC = [
    "1.0", "0.630929753571", "0.5", "0.430676558073", "0.386852807235",
    "0.356207187108", "0.333333333333", "0.315464876786",
    "0.301029995664", "0.289064826318",
]
# exact cumulative sums of the rounded literals (ideal DCG for m hits)
_NDCG_CUM = [
    "1.0", "1.630929753571", "2.130929753571", "2.561606311644",
    "2.948459118879", "3.304666305987", "3.637999639320",
    "3.953464516106", "4.254494511770", "4.543559338088",
]


# Powers of the 0.9 annual discount factor scaled by 10^7 — exact
# INTEGERS (0.9^7 = 0.4782969 terminates at 7 decimals), so the NPV
# accumulates as price_cents × factor_int pure-integer products.
# High-scale decimal→double casts are NOT correctly rounded in every
# engine (DuckDB's DECIMAL(38,14)→DOUBLE is off by 1 ulp on some
# values); scale-0 decimals convert exactly-rounded in both, so the
# float enters ONCE, at the final fixed /1e9 epilogue.
_NPV_DISC_SCALED = [
    10000000, 9000000, 8100000, 7290000,
    6561000, 5904900, 5314410, 4782969,
]


def _q_hellinger_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Hellinger distance between the first- and second-half event-
    type distributions: H^2 = 1 - sum sqrt(p_i * q_i) — the bounded
    [0,1] distribution distance that needs only sqrt (IEEE correctly
    rounded; no log, unlike KL/PSI). Counts integer; each
    sqrt(p*q) term is a fixed double sequence; the 5-term sum
    accumulates through decimal. Complements TVD (q81: overlap mass)
    and EMD (q270: transport cost) with the geometric view."""
    ev = read_table(spark, sf, "events")
    half = F.when(F.col("ts") < F.lit("2024-01-16"), "a").otherwise("b")
    counts = ev.groupBy("event_type", half.alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wtot = Window.partitionBy("h")
    shares = counts.select(
        "event_type",
        "h",
        (F.col("n").cast("double") / F.sum("n").over(wtot).cast("double")).alias(
            "p"
        ),
    )
    grid = (
        shares.groupBy("event_type")
        .pivot("h", ["a", "b"])
        .agg(F.first("p"))
        .na.fill({"a": 0.0, "b": 0.0})
    )
    term = F.sqrt(F.col("a") * F.col("b"))
    return grid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        (F.lit(1.0) - _dsum(term)).alias("hellinger_sq"),
    )


def _q_grubbs(spark: SparkSession, sf: str) -> DataFrame:
    """Grubbs' test statistic per event type: G = max|x - mean| / sd
    with the offending day identified (worst |z|, earliest-day
    tiebreak) — the single-outlier screen on the daily count series
    that reports WHICH point to investigate, where q261's charts
    report which rule fired. Mean/sd from exact integer whole-series
    moments; one sqrt, one division, one argmax window."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    wall = Window.partitionBy("event_type")
    k = F.count(F.lit(1)).over(wall)
    s1 = F.sum("n").over(wall)
    s2 = F.sum(F.col("n") * F.col("n")).over(wall)
    mean = s1.cast("double") / k.cast("double")
    sd = F.sqrt((k * s2 - s1 * s1).cast("double")) / k.cast("double")
    scored = daily.select(
        "event_type",
        "d",
        "n",
        (F.abs(F.col("n").cast("double") - mean) / sd).alias("g"),
        k.cast("bigint").alias("n_days"),
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.col("g").desc(), F.col("d")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wbest))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("d").alias("outlier_day"),
            F.col("n").alias("outlier_n"),
            F.col("g").alias("grubbs_g"),
        )
    )


def _q_runs_test(spark: SparkSession, sf: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type on the daily count
    series: the count of runs above/below the series MEDIAN vs the
    expectation 1 + 2*n1*n2/(n1+n2) — too few runs = trend/clumping,
    too many = oscillation; the classic randomness screen. Median is
    the exact percentile; signs, run starts (lag), and n1/n2 are pure
    integers; the expectation and z use a fixed sqrt epilogue.
    Median-equal days are excluded (standard convention)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    wmed = Window.partitionBy("event_type")
    med = F.median("n").over(wmed)
    signed = daily.select(
        "event_type",
        "d",
        F.when(F.col("n").cast("double") > med, 1)
        .when(F.col("n").cast("double") < med, -1)
        .otherwise(0)
        .alias("s"),
    ).where(F.col("s") != 0)
    wt = Window.partitionBy("event_type").orderBy("d")
    runs = signed.select(
        "event_type",
        "s",
        F.when(
            F.lag("s").over(wt).isNull() | (F.lag("s").over(wt) != F.col("s")),
            1,
        ).otherwise(0).alias("new_run"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("new_run").cast("bigint").alias("n_runs"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    tot = n1d + n2d
    exp_runs = F.lit(1.0) + F.lit(2.0) * n1d * n2d / tot
    var_runs = (
        F.lit(2.0) * n1d * n2d * (F.lit(2.0) * n1d * n2d - tot)
    ) / (tot * tot * (tot - F.lit(1.0)))
    z = (F.col("n_runs").cast("double") - exp_runs) / F.sqrt(var_runs)
    return agg.select(
        "event_type",
        "n_runs",
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n2").cast("bigint").alias("n_below"),
        exp_runs.alias("expected_runs"),
        z.alias("z"),
    )


def _q_kendall_tau(spark: SparkSession, sf: str) -> DataFrame:
    """Kendall tau-b between per-user activity (event count) and
    engagement value (value sum, scaled integer) — the third
    correlation family next to Pearson (q75) and Spearman (q117):
    concordant/discordant PAIR COUNTS with full tie correction, all
    integers until the final sqrt epilogue
    tau_b = (C - D) / sqrt((n0 - tx)(n0 - ty)). The pair join runs
    over the per-user reduction (150 rows at sf0.01), never raw
    events; at scale the O(n^2) pair frame is replaced by the
    merge-sort inversion count per stratum (documented contract)."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"),
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("decimal(38,0)"))
        .alias("y"),
    )
    a = per_user.select(
        F.col("user_id").alias("ua"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = per_user.select(
        F.col("user_id").alias("ub"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, F.col("ua") < F.col("ub"))
    sgn = lambda p, q: F.when(p > q, 1).when(p < q, -1).otherwise(0)  # noqa: E731
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(
            F.when(
                sgn(F.col("xa"), F.col("xb")) * sgn(F.col("ya"), F.col("yb"))
                == 1,
                1,
            ).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when(
                sgn(F.col("xa"), F.col("xb")) * sgn(F.col("ya"), F.col("yb"))
                == -1,
                1,
            ).otherwise(0)
        ).alias("dd"),
        F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0)).alias("tx"),
        F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0)).alias("ty"),
    )
    tau = (F.col("c") - F.col("dd")).cast("double") / F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double")
        * (F.col("n0") - F.col("ty")).cast("double")
    )
    return agg.select(
        F.col("n0").cast("bigint").alias("n_pairs"),
        F.col("c").cast("bigint").alias("concordant"),
        F.col("dd").cast("bigint").alias("discordant"),
        F.col("tx").cast("bigint").alias("ties_x"),
        F.col("ty").cast("bigint").alias("ties_y"),
        tau.alias("tau_b"),
    )


def _q_cramers_v(spark: SparkSession, sf: str) -> DataFrame:
    """Cramer's V association between event type and the json k-prop
    parity (a 5x2 contingency): V = sqrt(chi2 / (N * min(r-1, c-1)))
    — the bounded [0,1] summary q118's per-cell chi-square
    contributions roll up to. Observed/expected from pure integer
    counts; each cell term and the final sqrt are fixed double
    sequences accumulated through decimal."""
    ev = read_table(spark, sf, "events")
    parity = (
        F.get_json_object(F.col("props"), "$.k").cast("int") % 2
    ).alias("kp")
    cells = ev.select("event_type", parity).groupBy("event_type", "kp").agg(
        F.count(F.lit(1)).alias("o")
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("kp")
    wall = Window.partitionBy()
    r = F.sum("o").over(wr)
    c = F.sum("o").over(wc)
    n = F.sum("o").over(wall)
    # exact-integer chi2 numerator per cell: (n*o - r*c)^2 / (n*r*c)
    num = (n * F.col("o") - r * c).cast("double")
    den = (n * r * c).cast("double")
    terms = cells.select(
        (num * num / den).alias("t"),
        n.cast("bigint").alias("nn"),
        F.col("event_type"),
        F.col("kp"),
    )
    agg = terms.agg(
        _dsum(F.col("t")).alias("chi2"),
        F.max("nn").alias("nn"),
        F.count_distinct("event_type").alias("r"),
        F.count_distinct("kp").alias("c"),
    )
    v = F.sqrt(
        F.col("chi2")
        / (
            F.col("nn").cast("double")
            * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
        )
    )
    return agg.select(
        F.col("nn").cast("bigint").alias("n_rows"),
        F.col("r").cast("bigint").alias("n_rows_dim"),
        F.col("c").cast("bigint").alias("n_cols_dim"),
        F.col("chi2").alias("chi2"),
        v.alias("cramers_v"),
    )


def _q_mcnemar(spark: SparkSession, sf: str) -> DataFrame:
    """McNemar's paired test between two anomaly detectors on the SAME
    days: the trailing-average spike rule (q240) vs the Donchian
    break-up rule (q241), both computed from one shared daily
    aggregate; the statistic (b - c)^2 / (b + c) uses only the
    DISCORDANT counts (b = spike-only, c = break-only) — the correct
    way to compare two classifiers on paired data (accuracy deltas
    ignore pairing). Pure integers, one division."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    trailing = F.sum("n").over(wt).cast("double") / F.count(F.lit(1)).over(wt)
    chan_hi = F.max("n").over(wt)
    flags = daily.select(
        F.when(
            trailing.isNotNull()
            & (F.col("n").cast("double") > F.lit(1.05) * trailing),
            1,
        ).otherwise(0).alias("f_spike"),
        F.when(chan_hi.isNotNull() & (F.col("n") > chan_hi), 1)
        .otherwise(0)
        .alias("f_break"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(
            F.when((F.col("f_spike") == 1) & (F.col("f_break") == 0), 1).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("f_spike") == 0) & (F.col("f_break") == 1), 1).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("f_spike") == 1) & (F.col("f_break") == 1), 1).otherwise(0)
        ).alias("both"),
    )
    stat = F.when(
        F.col("b") + F.col("c") > 0,
        ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))).cast("double")
        / (F.col("b") + F.col("c")).cast("double"),
    )
    return agg.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("b").cast("bigint").alias("spike_only"),
        F.col("c").cast("bigint").alias("break_only"),
        F.col("both").cast("bigint").alias("both_flag"),
        stat.alias("mcnemar_stat"),
    )


def _q_leaderboard_churn(spark: SparkSession, sf: str) -> DataFrame:
    """Leaderboard stability: Jaccard overlap of the top-20
    revenue-ranked parts between the first and second half of the
    shipping window — near 1 means the ranking is signal, near 0
    means noise churn (the metric that decides whether weekly "top
    sellers" reports mean anything). Exact decimal revenue, two
    deterministic rankings, one integer set comparison."""
    li = read_table(spark, sf, "lineitem")
    mid = li.agg(
        F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi")
    ).select(
        F.date_add(
            F.col("lo"),
            F.floor(F.datediff(F.col("hi"), F.col("lo")) / 2).cast("int"),
        ).alias("mid")
    )
    j = li.crossJoin(F.broadcast(mid))
    half = F.when(F.col("l_shipdate") < F.col("mid"), "a").otherwise("b")
    rev = j.groupBy(half.alias("h"), "l_partkey").agg(
        F.sum(_revenue().cast(DEC)).alias("r")
    )
    wr = Window.partitionBy("h").orderBy(F.col("r").desc(), F.col("l_partkey"))
    top = rev.withColumn("rk", F.row_number().over(wr)).where(F.col("rk") <= 20)
    ta = top.where(F.col("h") == "a").select(F.col("l_partkey").alias("p"))
    tb = top.where(F.col("h") == "b").select(F.col("l_partkey").alias("p"))
    inter = ta.join(tb, "p").agg(F.count(F.lit(1)).alias("inter"))
    return inter.select(
        F.col("inter").cast("bigint").alias("n_common"),
        (
            F.col("inter").cast("double")
            / (F.lit(40) - F.col("inter")).cast("double")
        ).alias("topk_jaccard"),
    )


def _q_fold_metric_stability(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-fold metric stability: the per-user conversion rate
    evaluated in each of q264's 5 deterministic md5 folds, with the
    across-fold spread (max - min) and CV — if the metric swings
    across folds, no single-split result is trustworthy. Fold
    assignment is a map-side hash predicate; one aggregate per fold
    frame, exact integer counts, fixed epilogue on the 5-row frame."""
    ev = read_table(spark, sf, "events")
    hexpfx = F.substring(
        F.md5(F.concat(F.lit("cv1"), F.col("user_id").cast("string"))), 1, 8
    )
    fold = (
        F.when(hexpfx < "33333333", 0)
        .when(hexpfx < "66666666", 1)
        .when(hexpfx < "99999999", 2)
        .when(hexpfx < "cccccccc", 3)
        .otherwise(4)
    )
    per_user = ev.select("user_id", fold.alias("fold"), "event_type").groupBy(
        "fold", "user_id"
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    per_fold = per_user.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("n_conv"),
    )
    rate = F.col("n_conv").cast("double") / F.col("n_users").cast("double")
    rated = per_fold.select(
        F.col("fold").cast("int").alias("fold"),
        F.col("n_users").cast("bigint").alias("n_users"),
        rate.alias("conv_rate"),
    )
    wall = Window.partitionBy()
    return rated.select(
        "fold",
        "n_users",
        "conv_rate",
        (F.max("conv_rate").over(wall) - F.min("conv_rate").over(wall)).alias(
            "spread"
        ),
    )


def _q_effective_sample_size(spark: SparkSession, sf: str) -> DataFrame:
    """Kish effective sample size of the temperature-weighted corpus
    (q251's alpha = 0.5 weights): ESS = (sum w)^2 / sum w^2 over
    per-doc weights w = sqrt(source token total) — how many
    equal-weight documents the weighted mixture is worth (the survey-
    statistics number that prices a reweighting scheme's variance
    cost). sqrt is correctly rounded; both sums accumulate through
    decimal; one final division."""
    docs = read_table(spark, sf, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(token_count("text")).alias("tok")
    )
    j = docs.select("doc_id", "source").join(
        F.broadcast(per_src), "source"
    )
    w = F.sqrt(F.col("tok").cast("double"))
    agg = j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        _dsum(w).alias("sw"),
        _dsum(w * w).alias("sww"),
    )
    return agg.select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (F.col("sw") * F.col("sw") / F.col("sww")).alias("ess"),
        (
            F.col("sw") * F.col("sw") / F.col("sww")
            / F.col("n_docs").cast("double")
        ).alias("ess_ratio"),
    )


def _q_series_staleness(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series staleness: each event type's last-seen day vs the
    global watermark, in days behind — the series-level ingestion
    alarm q290's table-level freshness board cannot see (one dead
    series hides inside a healthy table total). One aggregate + one
    broadcast watermark."""
    ev = read_table(spark, sf, "events")
    per = ev.groupBy("event_type").agg(
        F.max(F.col("ts").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    wm = ev.agg(F.max(F.col("ts").cast("date")).alias("horizon"))
    j = per.crossJoin(F.broadcast(wm))
    return j.select(
        "event_type",
        "last_day",
        "horizon",
        F.datediff(F.col("horizon"), F.col("last_day"))
        .cast("int")
        .alias("days_behind"),
        "n_rows",
    )


def _q_calibration_ece(spark: SparkSession, sf: str) -> DataFrame:
    """Expected calibration error of the activity-predicts-conversion
    score: pseudo-probability = activity / max activity, decile bins
    (ntile over the deterministic ranking), per-bin |accuracy -
    confidence| weighted by bin mass, plus the per-bin reliability
    rows — the calibration diagnostic that AUC (q200) and gains
    (q316) ignore (a perfectly-ranked score can still be wildly
    miscalibrated). Confidence sums are exact rationals over the max;
    ECE accumulates through decimal."""
    ev = read_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    wall = Window.partitionBy()
    scored = per_user.select(
        "user_id",
        "conv",
        (
            F.col("activity").cast("double")
            / F.max("activity").over(wall).cast("double")
        ).alias("score"),
    )
    wrank = Window.orderBy(F.col("score").desc(), F.col("user_id"))
    binned = scored.withColumn("bin", F.ntile(10).over(wrank))
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").alias("n_conv"),
        _dsum(F.col("score")).alias("sum_score"),
    )
    acc = F.col("n_conv").cast("double") / F.col("n").cast("double")
    conf = F.col("sum_score") / F.col("n").cast("double")
    return per_bin.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("bigint").alias("n"),
        acc.alias("accuracy"),
        conf.alias("confidence"),
        F.abs(acc - conf).alias("gap"),
    )


def _q_dispersion_index(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson dispersion (variance-to-mean) index of daily counts per
    event type: D = s^2 / mean — D near 1 is Poisson-compatible
    arrivals, D >> 1 overdispersion (bursts/contagion), D << 1
    regularity (rate limiting) — the first-look arrival-process
    diagnostic. Sample variance from exact integer moments
    (n*S2 - S1^2)/(n(n-1)); two fixed divisions."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    kd = F.col("k").cast("double")
    mean = F.col("s1").cast("double") / kd
    svar = (F.col("k") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    ) / (kd * (kd - F.lit(1.0)))
    return agg.select(
        "event_type",
        F.col("k").cast("bigint").alias("n_days"),
        mean.alias("mean_daily"),
        svar.alias("var_daily"),
        (svar / mean).alias("dispersion"),
    )


def _q_its_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Interrupted time-series (segmented) regression per event type
    around the known mid-month breakpoint: separate OLS level and
    slope for the before/after segments from exact integer moments,
    plus the level and slope CHANGES — the classic
    policy/deploy-impact readout (did the intervention shift the
    level, bend the trend, or neither). One aggregate per segment on
    the daily frame; fixed-order epilogues."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    widx = Window.partitionBy("event_type").orderBy("d")
    base = daily.withColumn("t", F.row_number().over(widx).cast("bigint"))
    seg = base.withColumn(
        "seg", F.when(F.col("d") < F.lit("2024-01-16"), "pre").otherwise("post")
    )
    mom = seg.groupBy("event_type", "seg").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("t").alias("st"),
        F.sum("n").alias("sx"),
        F.sum(F.col("t") * F.col("n")).alias("stx"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    den = F.col("k") * F.col("stt") - F.col("st") * F.col("st")
    slope = F.when(
        den > 0,
        (F.col("k") * F.col("stx") - F.col("st") * F.col("sx")).cast("double")
        / den.cast("double"),
    )
    mean_t = F.col("st").cast("double") / F.col("k").cast("double")
    mean_x = F.col("sx").cast("double") / F.col("k").cast("double")
    fitted = mom.select(
        "event_type",
        "seg",
        F.col("k").cast("bigint").alias("n_days"),
        slope.alias("slope"),
        (mean_x - slope * mean_t).alias("intercept"),
        mean_x.alias("level"),
    )
    pre = fitted.where(F.col("seg") == "pre").select(
        "event_type",
        F.col("slope").alias("slope_pre"),
        F.col("level").alias("level_pre"),
    )
    post = fitted.where(F.col("seg") == "post").select(
        F.col("event_type").alias("et2"),
        F.col("slope").alias("slope_post"),
        F.col("level").alias("level_post"),
    )
    return pre.join(post, F.col("event_type") == F.col("et2")).select(
        "event_type",
        "slope_pre",
        "slope_post",
        (F.col("slope_post") - F.col("slope_pre")).alias("slope_change"),
        "level_pre",
        "level_post",
        (F.col("level_post") - F.col("level_pre")).alias("level_change"),
    )


def _q_split_half(spark: SparkSession, sf: str) -> DataFrame:
    """Split-half reliability of per-user engagement with the
    Spearman-Brown correction: correlate each user's ODD-indexed vs
    EVEN-indexed event counts (deterministic row_number parity
    split), then r_full = 2r/(1+r) — the psychometrics-standard
    answer to "is this per-user metric stable or noise". The halves
    are integers; the correlation is the exact-moment epilogue
    (operators/profile.py:exact_corr shape); Spearman-Brown is two
    more fixed ops."""
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id", (F.row_number().over(w) % 2).alias("par")
    )
    halves = marked.groupBy("user_id").agg(
        F.sum(F.when(F.col("par") == 1, 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("par") == 0, 1).otherwise(0)).alias("y"),
    )
    xi = F.col("x").cast("decimal(19,0)")
    yi = F.col("y").cast("decimal(19,0)")
    d38 = "decimal(38,0)"
    s = halves.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi.cast(d38)).alias("sx"),
        F.sum(yi.cast(d38)).alias("sy"),
        F.sum((xi * xi).cast(d38)).alias("sxx"),
        F.sum((yi * yi).cast(d38)).alias("syy"),
        F.sum((xi * yi).cast(d38)).alias("sxy"),
    )
    nd = F.col("n").cast("decimal(12,0)")
    cov_n = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    var_x = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    var_y = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    r = cov_n / (F.sqrt(var_x) * F.sqrt(var_y))
    sb = F.lit(2.0) * r / (F.lit(1.0) + r)
    return s.select(
        F.col("n").cast("bigint").alias("n_users"),
        r.alias("half_corr"),
        sb.alias("spearman_brown"),
    )


def _q_variance_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Differencing-order advisor per event type: the variance of the
    daily series vs the variance of its first differences — ratio > 1
    means differencing reduces variance (difference before fitting,
    the d >= 1 signal q25's ARIMA grid searches for); ratio < 1 means
    the series is already stationary-ish and differencing would
    overdifference. Both variances from exact integer moments; the
    diff frame is one ordered lag."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    lvl = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    wt = Window.partitionBy("event_type").orderBy("d")
    diffs = daily.select(
        "event_type", (F.col("n") - F.lag("n").over(wt)).alias("dx")
    ).where(F.col("dx").isNotNull())
    dif = diffs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("kd"),
        F.sum("dx").alias("sd1"),
        F.sum(F.col("dx") * F.col("dx")).alias("sd2"),
    )
    j = lvl.join(dif, "event_type")
    var_lvl = (F.col("k") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    ) / (F.col("k").cast("double") * F.col("k").cast("double"))
    var_dif = (
        F.col("kd") * F.col("sd2") - F.col("sd1") * F.col("sd1")
    ).cast("double") / (F.col("kd").cast("double") * F.col("kd").cast("double"))
    return j.select(
        "event_type",
        F.col("k").cast("bigint").alias("n_days"),
        var_lvl.alias("var_level"),
        var_dif.alias("var_diff"),
        (var_lvl / var_dif).alias("variance_ratio"),
        (var_lvl > var_dif).alias("difference_first"),
    )


def _q_dedup_savings(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-dedup storage savings per source: bytes (chars) held by
    non-canonical duplicate copies — the number that justifies
    running the dedup pipeline at all (q230 reports the dup FACTOR;
    this prices it). One hash aggregate per (source, text-hash), keep
    the min doc_id's bytes, sum the rest."""
    docs = read_table(spark, sf, "documents")
    groups = docs.select(
        "source",
        F.md5(F.col("text")).alias("h"),
        F.col("n_chars").cast("bigint").alias("nc"),
    ).groupBy("source", "h").agg(
        F.count(F.lit(1)).alias("copies"),
        F.sum("nc").alias("total_bytes"),
        F.min("nc").alias("keep_bytes"),
    )
    return groups.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.sum("copies").cast("bigint").alias("n_docs"),
        F.sum(F.col("total_bytes") - F.col("keep_bytes"))
        .cast("bigint")
        .alias("bytes_saved"),
        (
            F.sum(F.col("total_bytes") - F.col("keep_bytes")).cast("double")
            / F.sum("total_bytes").cast("double")
        ).alias("savings_share"),
    )


def _q_retrieval_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Per-customer retrieval/recommendation ranking metrics — MRR,
    precision@10, recall@10, NDCG@10 — the evaluation harness every
    retrieval or recsys pipeline needs (q307 scores point detectors;
    this scores RANKED lists). Ranking = parts by pre-cutoff spend
    (deterministic spend-desc/partkey-asc order); ground truth = parts
    actually purchased after the cutoff. DCG uses the literal decimal
    discount table (_NDCG_DISC) so per-customer DCG sums are exact
    decimals, not order-dependent double sums; every metric ends in at
    most one double division. Scale shape: one fact scan split by
    date, two hash aggregates keyed on (cust, part), one top-10 window
    over the aggregated spend frame (never the fact), and joins on the
    already-aggregated frames."""
    orders = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    fact = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_custkey", "l_partkey", "o_orderdate", _revenue().alias("rev")
    )
    cutoff = F.lit("2000-01-01").cast("timestamp")
    spend = (
        fact.where(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum(F.col("rev").cast(DEC)).alias("spend"))
    )
    wr = Window.partitionBy("o_custkey").orderBy(
        F.col("spend").desc(), F.col("l_partkey").asc()
    )
    ranked = spend.select(
        "o_custkey", "l_partkey", F.row_number().over(wr).alias("rk")
    ).where(F.col("rk") <= 10)
    rel = (
        fact.where(F.col("o_orderdate") >= cutoff)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    relc = rel.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("int").alias("n_rel")
    )
    disc = F.element_at(
        F.array(*[F.lit(d).cast("decimal(14,12)") for d in _NDCG_DISC]),
        F.col("rk"),
    )
    hagg = (
        ranked.join(rel, ["o_custkey", "l_partkey"])
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("int").alias("hits"),
            F.min("rk").alias("first_hit"),
            F.sum(disc).alias("dcg"),
        )
    )
    rankedc = ranked.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("int").alias("n_ranked")
    )
    base = rankedc.join(relc, "o_custkey").join(hagg, "o_custkey", "left")
    icum = F.element_at(
        F.array(*[F.lit(c).cast("decimal(16,12)") for c in _NDCG_CUM]),
        F.least(F.col("n_rel"), F.lit(10)),
    )
    hitsn = F.coalesce(F.col("hits"), F.lit(0))
    return base.select(
        F.col("o_custkey").alias("custkey"),
        "n_ranked",
        "n_rel",
        hitsn.cast("int").alias("hits"),
        F.when(
            F.col("first_hit").isNotNull(),
            F.lit(1.0) / F.col("first_hit").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("mrr"),
        (hitsn.cast("double") / F.col("n_ranked").cast("double")).alias(
            "precision_at_10"
        ),
        (hitsn.cast("double") / F.col("n_rel").cast("double")).alias(
            "recall_at_10"
        ),
        (
            F.coalesce(F.col("dcg").cast("double"), F.lit(0.0))
            / icum.cast("double")
        ).alias("ndcg_at_10"),
    )


def _q_skipgram_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Skip-gram (center, context) training-pair extraction, window
    ±2 — the word2vec / embedding-pretraining data step. Pairs are
    generated MAP-SIDE by zipping each token array against its own
    1- and 2-shifted slices (no posexplode self-join: the fact never
    joins itself), so the only shuffle is the hash aggregate on the
    pair key. The symmetric backward direction is recovered AFTER
    aggregation by a self-join on the tiny vocab² gram frame with
    swapped keys — count(center,context) = fwd(center,context) +
    fwd(context,center) — never by doubling the shuffle input."""
    docs = read_table(spark, sf, "documents")
    t = docs.select(tokens(F.col("text")).alias("t"))

    def shifted(d: int) -> F.Column:
        n = F.greatest(F.size("t") - d, F.lit(0))
        return F.zip_with(
            F.slice(F.col("t"), 1, n),
            F.slice(F.col("t"), 1 + d, n),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )

    fwd = (
        t.select(F.explode(F.concat(shifted(1), shifted(2))).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("nf"))
    )
    sw = fwd.select(
        F.col("w2").alias("w1"), F.col("w1").alias("w2"), F.col("nf").alias("nb")
    )
    joined = fwd.join(sw, ["w1", "w2"], "full_outer")
    n_pairs = F.coalesce(F.col("nf"), F.lit(0)) + F.coalesce(F.col("nb"), F.lit(0))
    return joined.select(
        F.col("w1").alias("center"),
        F.col("w2").alias("context"),
        n_pairs.cast("bigint").alias("n_pairs"),
    ).where(F.col("n_pairs") >= 5)


def _q_stutter_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Consecutive-duplicate-token ("stutter") audit per source — the
    boilerplate/degenerate-generation scrub signal used before LLM
    training (q80 measures distinct-gram repetition; this measures the
    ADJACENT-repeat form that repetition loops and copy-paste
    boilerplate produce). The repeat count is pure map-side array
    algebra (token array zipped against its own 1-shift, equality
    filter) — integer counts, ONE hash aggregate on source, one
    division for the share."""
    docs = read_table(spark, sf, "documents")
    t = docs.select("source", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    shift_n = F.greatest(n - 1, F.lit(0))
    reps = F.size(
        F.filter(
            F.zip_with(
                F.slice(F.col("t"), 1, shift_n),
                F.slice(F.col("t"), 2, shift_n),
                lambda a, b: a == b,
            ),
            lambda x: x,
        )
    )
    per_doc = t.select("source", n.alias("nt"), reps.alias("nr"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
        F.sum("nr").cast("bigint").alias("stutter_tokens"),
        (F.sum("nr").cast("double") / F.sum("nt").cast("double")).alias(
            "stutter_share"
        ),
        F.sum(F.when(F.col("nr") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_stutter"),
    )


def _q_linear_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Linear multi-touch attribution: every touch (view/click/signup)
    preceding a purchase shares that purchase's value equally — the
    multi-touch generalization of q140's last-touch rule. Touches are
    assigned to their NEXT conversion with the forward as-of join
    (operators/asof.py — one shuffle on user), conversions are
    pre-aggregated per (user, ts) per the asof tie contract, and the
    output groups by (event_type, touches-per-conversion) so the
    attributed value is Σ(conv_value·m)/n with the division done ONCE
    per output row on an exact decimal sum — no per-row double credits
    ever get summed, so no float-order hazard."""
    ev = read_table(spark, sf, "events")
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.min("event_id").alias("conv_id"),
            F.sum(F.col("value").cast(DEC)).alias("conv_value"),
        )
    )
    touch = ev.where(
        F.col("event_type").isin("view", "click", "signup")
    ).select("event_id", "user_id", "ts", "event_type")
    asg = asof_join(
        touch,
        purch,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["conv_id", "conv_value"],
        direction="forward",
    ).where(F.col("conv_id").isNotNull())
    convn = asg.groupBy("user_id", "conv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    pt = asg.groupBy("user_id", "conv_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.max("conv_value").alias("cv"),
    )
    j = pt.join(convn, ["user_id", "conv_id"])
    agg = j.groupBy("event_type", "n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_convs"),
        F.sum((F.col("cv") * F.col("m")).cast(DEC)).alias("s"),
    )
    return agg.select(
        "event_type",
        "n",
        "n_convs",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "attributed_value"
        ),
    )


def _q_qte(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile treatment effects: deciles of per-user total event
    value in the treatment vs control arm (deterministic md5
    assignment, the q125 A/B harness), reported side by side with
    their differences — the distributional view of an experiment that
    a single mean lift (q125) hides. percentile_disc keeps every
    decile an actual data value (q141's engine-exact selection rule);
    per-user totals are exact decimal sums cast once to double."""
    ev = read_table(spark, sf, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("qte"), F.col("user_id").cast("string"))),
            1,
            8,
        )
        < _thr(0.5),
        "treat",
    ).otherwise("control")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total")
    ).select(arm.alias("arm"), "total")
    deciles = [i / 10 for i in range(1, 10)]
    per_arm = per_user.groupBy("arm").agg(
        *[
            F.expr(
                f"percentile_disc({d}) WITHIN GROUP (ORDER BY total)"
            ).alias(f"d{int(d * 10)}")
            for d in deciles
        ]
    )
    cols = [f"d{i}" for i in range(1, 10)]
    t = per_arm.where(F.col("arm") == "treat").drop("arm")
    c = per_arm.where(F.col("arm") == "control").drop("arm")
    return t.alias("t").join(c.alias("c")).select(
        *[F.col(f"c.{x}").alias(f"{x}_control") for x in cols],
        *[F.col(f"t.{x}").alias(f"{x}_treat") for x in cols],
        *[
            (F.col(f"t.{x}") - F.col(f"c.{x}")).alias(f"{x}_qte")
            for x in cols
        ],
    )


def _q_bh_fdr(spark: SparkSession, sf: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate screen over per-(type,
    day) volume cells: Chebyshev-bound p-values (p = min(1, var/dev²) —
    a RATIONAL tail bound from exact integer moments, no normal CDF /
    erf portability trap), then the BH step-up rule at q=0.1 — reject
    the k smallest p-values where p_(k) ≤ k/(10m). The multiple-testing
    control every fleet-wide anomaly sweep needs: q307 scores ONE
    detector; this bounds the expected false-alarm share when
    thousands of cells are tested at once. All ranking/threshold work
    happens on the tiny aggregated cell frame (one window sort);
    double divisions are in a fixed order mirrored in the oracle."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    j = daily.join(mom, "event_type")
    kd = F.col("k").cast("double")
    mu = F.col("s1").cast("double") / kd
    var = (F.col("k") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    ) / (kd * kd)
    dev = F.col("n").cast("double") - mu
    p = F.when(dev == 0.0, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), var / (dev * dev))
    )
    cells = j.select("event_type", "d", "n", p.alias("p"))
    w = Window.orderBy("p", "event_type", "d")
    wall = Window.partitionBy()
    ranked = cells.select(
        "event_type",
        "d",
        "n",
        "p",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    thr = F.col("rk").cast("double") / (F.lit(10.0) * F.col("m").cast("double"))
    flagged = ranked.withColumn(
        "pass_k", F.when(F.col("p") <= thr, F.col("rk")).otherwise(F.lit(0))
    )
    kmax = F.max("pass_k").over(wall)
    return flagged.select(
        "event_type",
        "d",
        F.col("n").cast("bigint").alias("n"),
        "p",
        F.col("rk").cast("int").alias("rk"),
        (F.col("rk") <= kmax).alias("discovery"),
    )


def _q_shard_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-shard assignment: documents ranked by
    token count (longest first, doc_id tiebreak) dealt round-robin
    into 8 shards — the RNG-free longest-processing-time heuristic
    that keeps per-shard token budgets near-equal for data-parallel
    training. Output is the per-shard balance audit (docs, tokens,
    share of corpus). One window sort over (tokens, doc_id); at 100 TB
    the same rank comes from approx_ntile-style bucketing so no single
    task sorts the corpus (documented scale path, q55's mechanism)."""
    docs = read_table(spark, sf, "documents")
    per_doc = docs.select(
        "doc_id", token_count(F.col("text")).alias("nt")
    )
    w = Window.orderBy(F.col("nt").desc(), F.col("doc_id").asc())
    assigned = per_doc.select(
        "nt", ((F.row_number().over(w) - 1) % 8).alias("shard")
    )
    agg = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("shard_tokens"),
    )
    wall = Window.partitionBy()
    return agg.select(
        F.col("shard").cast("int").alias("shard"),
        "n_docs",
        "shard_tokens",
        (
            F.col("shard_tokens").cast("double")
            / F.sum("shard_tokens").over(wall).cast("double")
        ).alias("token_share"),
    )


def _q_revenue_npv(spark: SparkSession, sf: str) -> DataFrame:
    """Discounted customer revenue (NPV at 10%/year, anchored at the
    1995 window start) rolled up per market segment — the
    LTV-with-time-value number behind acquisition-spend decisions
    (q148 reports the undiscounted LTV curve). Order totals in cents ×
    integer-scaled discount factors (_NPV_DISC_SCALED) keep the whole
    aggregation in exact integer arithmetic; the only doubles are the
    fixed ÷1e9 de-scaling and the per-customer average at the end."""
    orders = read_table(spark, sf, "orders")
    cust = read_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NPV_DISC_SCALED]),
        (F.year("o_orderdate") - F.lit(1994)).cast("int"),
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum((cents * disc).cast("decimal(38,0)")).alias("npv")
    )
    j = per_cust.join(cust, per_cust["o_custkey"] == cust["c_custkey"])
    agg = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("npv")).alias("s"),
    )
    seg_npv = F.col("s").cast("double") / F.lit(1.0e9)
    return agg.select(
        "c_mktsegment",
        "n_customers",
        seg_npv.alias("segment_npv"),
        (seg_npv / F.col("n_customers").cast("double")).alias(
            "avg_customer_npv"
        ),
    )


def _q_rake_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE-style keyword scoring: split each document into candidate
    phrases at stopword boundaries, then score every content word by
    degree/frequency — degree counts co-occurrence weight inside
    phrases (words living in longer phrases rank higher), frequency is
    plain occurrence count. The classic unsupervised keyword extractor
    (Rose et al.), all integers until ONE division per word. Shape:
    positional explode → running stopword count as the phrase id (one
    per-doc window) → phrase-length join → word aggregate; shuffles
    are keyed on (doc, phrase) then word, both reduce-side small."""
    docs = read_table(spark, sf, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )
    st = F.when(F.col("w").isin(*sorted(STOPWORDS)), 1).otherwise(0)
    wp = Window.partitionBy("doc_id").orderBy("pos")
    marked = pos.select(
        "doc_id", "pos", "w", st.alias("st")
    ).withColumn("phrase_id", F.sum("st").over(wp))
    words = marked.where(F.col("st") == 0).select(
        "doc_id", "phrase_id", "w"
    )
    plen = words.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("plen")
    )
    scored = (
        words.join(plen, ["doc_id", "phrase_id"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
        .where(F.col("freq") >= 5)
    )
    return scored.select(
        F.col("w").alias("word"),
        "freq",
        "deg",
        (F.col("deg").cast("double") / F.col("freq").cast("double")).alias(
            "rake_score"
        ),
    )


def _q_wilcoxon_signed(spark: SparkSession, sf: str) -> DataFrame:
    """Wilcoxon signed-rank test per event type on week-over-week
    paired daily volumes (day d of week w vs day d of week w+1) — the
    paired nonparametric "did volume shift?" test that q279's
    Mann-Whitney (unpaired) can't answer. Tie-averaged ranks stay
    integer via the doubled-rank trick (2·avgrank = 2·count_less +
    ties + 1, the q200 AUC mechanism); E[2W⁺] = n(n+1)/2 and
    Var[2W⁺] = n(n+1)(2n+1)/6 are exact integers, so z is one double
    division over one sqrt. Zero diffs are dropped (standard Wilcoxon
    practice); tie variance correction is documented out of scope."""
    ev = read_table(spark, sf, "events")
    idx = F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.floor(idx / 7).cast("int").alias("wk"),
            (idx % 7).cast("int").alias("dow"),
            "n",
        )
    )
    nxt = daily.select(
        "event_type",
        (F.col("wk") - 1).alias("wk"),
        "dow",
        F.col("n").alias("n2"),
    )
    pairs = (
        daily.join(nxt, ["event_type", "wk", "dow"])
        .select("event_type", (F.col("n2") - F.col("n")).alias("diff"))
        .where(F.col("diff") != 0)
        .select("event_type", "diff", F.abs("diff").alias("ad"))
    )
    byval = pairs.groupBy("event_type", "ad").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0)).alias("tpos"),
    )
    wv = Window.partitionBy("event_type").orderBy("ad").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = byval.withColumn("cum", F.sum("t").over(wv)).select(
        "event_type",
        "t",
        "tpos",
        (2 * (F.col("cum") - F.col("t")) + F.col("t") + 1).alias("two_avg"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.sum("t").alias("n"),
        F.sum(F.col("tpos") * F.col("two_avg")).alias("two_w_plus"),
    )
    nn = F.col("n")
    exp2 = (nn * (nn + 1) / 2).cast("bigint")
    var2 = (nn * (nn + 1) * (2 * nn + 1) / 6).cast("bigint")
    return agg.select(
        "event_type",
        nn.cast("bigint").alias("n_pairs"),
        F.col("two_w_plus").cast("bigint").alias("two_w_plus"),
        (
            (F.col("two_w_plus") - exp2).cast("double")
            / F.sqrt(var2.cast("double"))
        ).alias("z"),
    )


def _q_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity audit: within each quasi-identifier group (customer
    nation × market segment × order year) count DISTINCT values of the
    sensitive attribute (order priority) — a released table is
    l-diverse when every group carries ≥ l distinct sensitive values,
    the stronger guarantee k-anonymity (q214) misses when a small
    group is homogeneous. Pure integer aggregate over the joined
    release frame; the customer dim broadcasts."""
    orders = read_table(spark, sf, "orders")
    cust = read_table(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    rel = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(
        "c_nationkey",
        "c_mktsegment",
        F.year("o_orderdate").alias("yr"),
        "o_orderpriority",
    )
    g = rel.groupBy("c_nationkey", "c_mktsegment", "yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("l_distinct"),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "yr",
        "group_size",
        "l_distinct",
        (F.col("l_distinct") >= 3).alias("diverse"),
    )


def _q_covariate_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Covariate balance check for the deterministic md5 A/B arms
    (q125/q344's assignment): standardized mean difference (SMD) of
    pre-experiment covariates — account balance and order count —
    between arms. SMD = (μ_t − μ_c)/√((v_t + v_c)/2); |SMD| < 0.1 is
    the conventional "arms are comparable" bar, the check that runs
    BEFORE any lift metric is trusted (q308's SRM catches broken
    ASSIGNMENT counts; this catches broken covariate mix). One scan
    over the customer frame with arm-conditional exact moments; two
    output rows stacked from the same 1-row aggregate."""
    cust = read_table(spark, sf, "customer")
    orders = read_table(spark, sf, "orders")
    oc = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    base = cust.join(
        oc, cust["c_custkey"] == oc["o_custkey"], "left"
    ).select(
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("qte"), F.col("c_custkey").cast("string"))),
                1,
                8,
            )
            < _thr(0.5),
            "treat",
        )
        .otherwise("control")
        .alias("arm"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("decimal(18,0)").alias("no"),
    )
    is_t = (F.col("arm") == "treat").cast("int")
    is_c = (F.col("arm") == "control").cast("int")
    d38 = "decimal(38,4)"
    s = base.agg(
        F.sum(is_t).alias("nt"),
        F.sum(is_c).alias("nc"),
        F.sum((F.col("bal") * is_t).cast(d38)).alias("bt"),
        F.sum((F.col("bal") * is_c).cast(d38)).alias("bc"),
        F.sum((F.col("bal") * F.col("bal") * is_t).cast(d38)).alias("btt"),
        F.sum((F.col("bal") * F.col("bal") * is_c).cast(d38)).alias("bcc"),
        F.sum((F.col("no") * is_t).cast(d38)).alias("ot"),
        F.sum((F.col("no") * is_c).cast(d38)).alias("oc"),
        F.sum((F.col("no") * F.col("no") * is_t).cast(d38)).alias("ott"),
        F.sum((F.col("no") * F.col("no") * is_c).cast(d38)).alias("occ"),
    )

    def row(name: str, st, sc, stt, scc) -> DataFrame:
        ntd = F.col("nt").cast("double")
        ncd = F.col("nc").cast("double")
        mt = st.cast("double") / ntd
        mc = sc.cast("double") / ncd
        vt = stt.cast("double") / ntd - mt * mt
        vc = scc.cast("double") / ncd - mc * mc
        smd = (mt - mc) / F.sqrt((vt + vc) / F.lit(2.0))
        return s.select(
            F.lit(name).alias("covariate"),
            F.col("nt").cast("bigint").alias("n_treat"),
            F.col("nc").cast("bigint").alias("n_control"),
            mt.alias("mean_treat"),
            mc.alias("mean_control"),
            smd.alias("smd"),
        )

    return row("acctbal", F.col("bt"), F.col("bc"), F.col("btt"), F.col("bcc")).unionByName(
        row("n_orders", F.col("ot"), F.col("oc"), F.col("ott"), F.col("occ"))
    )


def _q_pinball_loss(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile-forecast evaluation with pinball (quantile) loss: the
    seasonal-naive forecaster (ŷ_d = value 7 days earlier, q158's
    baseline) scored as a p50 and a p90 quantile forecast per event
    type. Pinball loss at τ is τ·(y−ŷ) when y ≥ ŷ else (1−τ)·(ŷ−y) —
    RATIONAL weights on integer count diffs, so both totals accumulate
    as exact scaled integers (×10) and each mean does ONE division;
    the metric that CRPS/quantile-service-level dashboards need and
    plain MAE (q158) can't express."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    scored = daily.select(
        "event_type",
        "d",
        "n",
        F.lag("n", 7).over(wt).alias("yhat"),
    ).where(F.col("yhat").isNotNull())
    err = F.col("n") - F.col("yhat")
    # pinball x10: tau=0.5 -> 5*|err|; tau=0.9 -> 9*err if err>=0 else 1*(-err)
    p50x10 = 5 * F.abs(err)
    p90x10 = F.when(err >= 0, 9 * err).otherwise(-err)
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(p50x10).alias("s50"),
        F.sum(p90x10).alias("s90"),
    )
    return agg.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        (
            F.col("s50").cast("double")
            / (F.lit(10.0) * F.col("n_days").cast("double"))
        ).alias("pinball_p50"),
        (
            F.col("s90").cast("double")
            / (F.lit(10.0) * F.col("n_days").cast("double"))
        ).alias("pinball_p90"),
    )


def _q_transition_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Behavioral drift as total-variation distance between the
    per-user event-type transition matrices of the first vs second
    half of the window (q103 builds ONE matrix; this compares two).
    For each from-state: TVD = Σ_to |p₁−p₂|/2 where pᵢ = mᵢ/nᵢ — the
    common-denominator trick keeps everything integer: Σ|m₁·n₂−m₂·n₁|
    is exact, then ONE division by 2·n₁·n₂ per from-state. The "did
    user behavior change shape, not just volume" monitor."""
    ev = read_table(spark, sf, "events")
    half = F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1).otherwise(2)
    wt = Window.partitionBy("user_id", "h").orderBy("ts", "event_id")
    steps = (
        ev.select("user_id", "ts", "event_id", "event_type", half.alias("h"))
        .withColumn("nxt", F.lead("event_type").over(wt))
        .where(F.col("nxt").isNotNull())
    )
    cells = steps.groupBy("h", F.col("event_type").alias("f"), F.col("nxt").alias("t")).agg(
        F.count(F.lit(1)).alias("m")
    )
    c1 = cells.where(F.col("h") == 1).select("f", "t", F.col("m").alias("m1"))
    c2 = cells.where(F.col("h") == 2).select("f", "t", F.col("m").alias("m2"))
    grid = c1.join(c2, ["f", "t"], "full_outer").select(
        "f",
        "t",
        F.coalesce("m1", F.lit(0)).alias("m1"),
        F.coalesce("m2", F.lit(0)).alias("m2"),
    )
    per_from = grid.groupBy("f").agg(
        F.sum("m1").alias("n1"),
        F.sum("m2").alias("n2"),
    )
    j = grid.join(per_from, "f")
    num = F.abs(F.col("m1") * F.col("n2") - F.col("m2") * F.col("n1"))
    agg = j.groupBy("f").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(num.cast("decimal(38,0)")).alias("s"),
    )
    return agg.select(
        F.col("f").alias("from_state"),
        F.col("n1").cast("bigint").alias("n_steps_h1"),
        F.col("n2").cast("bigint").alias("n_steps_h2"),
        (
            F.col("s").cast("double")
            / (
                F.lit(2.0)
                * F.col("n1").cast("double")
                * F.col("n2").cast("double")
            )
        ).alias("tvd"),
    )


register_many(
    {
        'q323_hellinger_drift': _q_hellinger_drift,
        'q324_grubbs': _q_grubbs,
        'q325_runs_test': _q_runs_test,
        'q326_kendall_tau': _q_kendall_tau,
        'q327_cramers_v': _q_cramers_v,
        'q328_mcnemar': _q_mcnemar,
        'q329_leaderboard_churn': _q_leaderboard_churn,
        'q330_fold_metric_stability': _q_fold_metric_stability,
        'q331_effective_sample_size': _q_effective_sample_size,
        'q332_series_staleness': _q_series_staleness,
        'q333_calibration_ece': _q_calibration_ece,
        'q334_dispersion_index': _q_dispersion_index,
        'q335_its_segments': _q_its_segments,
        'q336_split_half': _q_split_half,
        'q337_variance_ratio': _q_variance_ratio,
        'q338_dedup_savings': _q_dedup_savings,
        'q339_retrieval_eval': _q_retrieval_eval,
        'q340_skipgram_pairs': _q_skipgram_pairs,
        'q341_stutter_scrub': _q_stutter_scrub,
        'q342_linear_attribution': _q_linear_attribution,
        'q344_qte': _q_qte,
        'q345_bh_fdr': _q_bh_fdr,
        'q346_shard_balance': _q_shard_balance,
        'q347_revenue_npv': _q_revenue_npv,
        'q348_rake_keywords': _q_rake_keywords,
        'q349_wilcoxon_signed': _q_wilcoxon_signed,
        'q350_l_diversity': _q_l_diversity,
        'q351_covariate_balance': _q_covariate_balance,
        'q353_pinball_loss': _q_pinball_loss,
        'q354_transition_drift': _q_transition_drift,
    },
    {
        'q323_hellinger_drift': """
            WITH counts AS (
              SELECT event_type,
                CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a'
                     ELSE 'b' END AS h,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            shares AS (
              SELECT event_type, h,
                CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY h) AS DOUBLE) AS p
              FROM counts
            ),
            grid AS (
              SELECT event_type,
                coalesce(sum(CASE WHEN h = 'a' THEN p END), 0E0) AS pa,
                coalesce(sum(CASE WHEN h = 'b' THEN p END), 0E0) AS pb
              FROM shares GROUP BY event_type
            )
            SELECT CAST(count(*) AS BIGINT) AS n_categories,
              1E0 - CAST(sum(CAST(sqrt(pa * pb) AS DECIMAL(38,6)))
                AS DOUBLE) AS hellinger_sq
            FROM grid
        """,
        'q324_grubbs': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            scored AS (
              SELECT event_type, d, n,
                abs(CAST(n AS DOUBLE)
                  - CAST(sum(n) OVER wall AS DOUBLE)
                    / CAST(count(*) OVER wall AS DOUBLE))
                / (sqrt(CAST(count(*) OVER wall * sum(n * n) OVER wall
                    - sum(n) OVER wall * sum(n) OVER wall AS DOUBLE))
                  / CAST(count(*) OVER wall AS DOUBLE)) AS g,
                CAST(count(*) OVER wall AS BIGINT) AS n_days
              FROM daily
              WINDOW wall AS (PARTITION BY event_type)
            )
            SELECT event_type, n_days, d AS outlier_day,
              n AS outlier_n, g AS grubbs_g
            FROM (
              SELECT event_type, n_days, d, n, g,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY g DESC, d) AS rk
              FROM scored
            ) WHERE rk = 1
        """,
        'q325_runs_test': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            signed AS (
              SELECT event_type, d,
                CASE WHEN CAST(n AS DOUBLE) > quantile_cont(n, 0.5)
                    OVER (PARTITION BY event_type) THEN 1
                  WHEN CAST(n AS DOUBLE) < quantile_cont(n, 0.5)
                    OVER (PARTITION BY event_type) THEN -1
                  ELSE 0 END AS s
              FROM daily
            ),
            runs AS (
              SELECT event_type, s,
                CASE WHEN lag(s) OVER wt IS NULL
                  OR lag(s) OVER wt <> s THEN 1 ELSE 0 END AS new_run
              FROM signed WHERE s <> 0
              WINDOW wt AS (PARTITION BY event_type ORDER BY d)
            ),
            agg AS (
              SELECT event_type,
                CAST(sum(new_run) AS BIGINT) AS n_runs,
                CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n1,
                CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n2
              FROM runs GROUP BY event_type
            )
            SELECT event_type, n_runs,
              n1 AS n_above, n2 AS n_below,
              1E0 + 2E0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                AS expected_runs,
              (CAST(n_runs AS DOUBLE)
                - (1E0 + 2E0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
              / sqrt((2E0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (2E0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
                / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                  * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                  * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1E0)))
                AS z
            FROM agg
        """,
        'q326_kendall_tau': """
            WITH per_user AS (
              SELECT user_id,
                CAST(count(*) AS BIGINT) AS x,
                CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS y
              FROM events WHERE value IS NOT NULL
              GROUP BY user_id
            ),
            pairs AS (
              SELECT
                CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1
                  ELSE 0 END
                * CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1
                  ELSE 0 END AS sg,
                CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tiex,
                CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS tiey
              FROM per_user a JOIN per_user b ON a.user_id < b.user_id
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n0,
                CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS c,
                CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS dd,
                CAST(sum(tiex) AS BIGINT) AS tx,
                CAST(sum(tiey) AS BIGINT) AS ty
              FROM pairs
            )
            SELECT n0 AS n_pairs, c AS concordant, dd AS discordant,
              tx AS ties_x, ty AS ties_y,
              CAST(c - dd AS DOUBLE)
                / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
                AS tau_b
            FROM agg
        """,
        'q327_cramers_v': """
            WITH cells AS (
              SELECT event_type,
                CAST(json_extract_string(props, '$.k') AS INT) % 2 AS kp,
                CAST(count(*) AS BIGINT) AS o
              FROM events GROUP BY 1, 2
            ),
            terms AS (
              SELECT event_type, kp,
                CAST(sum(o) OVER () * o
                  - sum(o) OVER (PARTITION BY event_type)
                    * sum(o) OVER (PARTITION BY kp) AS DOUBLE)
                * CAST(sum(o) OVER () * o
                  - sum(o) OVER (PARTITION BY event_type)
                    * sum(o) OVER (PARTITION BY kp) AS DOUBLE)
                / CAST(sum(o) OVER ()
                  * sum(o) OVER (PARTITION BY event_type)
                  * sum(o) OVER (PARTITION BY kp) AS DOUBLE) AS t,
                CAST(sum(o) OVER () AS BIGINT) AS nn
              FROM cells
            ),
            agg AS (
              SELECT
                CAST(sum(CAST(t AS DECIMAL(38,6))) AS DOUBLE) AS chi2,
                CAST(max(nn) AS BIGINT) AS nn,
                CAST(count(DISTINCT event_type) AS BIGINT) AS r,
                CAST(count(DISTINCT kp) AS BIGINT) AS c
              FROM terms
            )
            SELECT nn AS n_rows, r AS n_rows_dim, c AS n_cols_dim, chi2,
              sqrt(chi2 / (CAST(nn AS DOUBLE)
                * CAST(least(r - 1, c - 1) AS DOUBLE))) AS cramers_v
            FROM agg
        """,
        'q328_mcnemar': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            flags AS (
              SELECT
                CASE WHEN sum(n) OVER wt / count(*) OVER wt IS NOT NULL
                  AND CAST(n AS DOUBLE) > 1.05E0
                    * (CAST(sum(n) OVER wt AS DOUBLE)
                      / count(*) OVER wt)
                THEN 1 ELSE 0 END AS f_spike,
                CASE WHEN max(n) OVER wt IS NOT NULL
                  AND n > max(n) OVER wt THEN 1 ELSE 0 END AS f_break
              FROM daily
              WINDOW wt AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_days,
                CAST(sum(CASE WHEN f_spike = 1 AND f_break = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS b,
                CAST(sum(CASE WHEN f_spike = 0 AND f_break = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS c,
                CAST(sum(CASE WHEN f_spike = 1 AND f_break = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS bb
              FROM flags
            )
            SELECT n_days, b AS spike_only, c AS break_only,
              bb AS both_flag,
              CASE WHEN b + c > 0 THEN
                CAST((b - c) * (b - c) AS DOUBLE)
                  / CAST(b + c AS DOUBLE) END AS mcnemar_stat
            FROM agg
        """,
        'q329_leaderboard_churn': """
            WITH mid AS (
              SELECT CAST(min(l_shipdate) AS DATE)
                + CAST(date_diff('day', CAST(min(l_shipdate) AS DATE),
                  CAST(max(l_shipdate) AS DATE)) // 2 AS INT) AS mid
              FROM lineitem
            ),
            rev AS (
              SELECT CASE WHEN CAST(l_shipdate AS DATE) < mid
                  THEN 'a' ELSE 'b' END AS h,
                l_partkey,
                sum(CAST({rev} AS DECIMAL(38,6))) AS r
              FROM lineitem CROSS JOIN mid
              GROUP BY 1, 2
            ),
            top AS (
              SELECT h, l_partkey FROM (
                SELECT h, l_partkey,
                  row_number() OVER (PARTITION BY h
                    ORDER BY r DESC, l_partkey) AS rk
                FROM rev
              ) WHERE rk <= 20
            ),
            inter AS (
              SELECT CAST(count(*) AS BIGINT) AS inter
              FROM top a JOIN top b
                ON a.l_partkey = b.l_partkey
                AND a.h = 'a' AND b.h = 'b'
            )
            SELECT inter AS n_common,
              CAST(inter AS DOUBLE) / CAST(40 - inter AS DOUBLE)
                AS topk_jaccard
            FROM inter
        """.format(rev=_REV_SQL),
        'q330_fold_metric_stability': """
            WITH per_user AS (
              SELECT
                CASE WHEN substr(md5('cv1' || CAST(user_id AS VARCHAR)),
                    1, 8) < '33333333' THEN 0
                  WHEN substr(md5('cv1' || CAST(user_id AS VARCHAR)),
                    1, 8) < '66666666' THEN 1
                  WHEN substr(md5('cv1' || CAST(user_id AS VARCHAR)),
                    1, 8) < '99999999' THEN 2
                  WHEN substr(md5('cv1' || CAST(user_id AS VARCHAR)),
                    1, 8) < 'cccccccc' THEN 3
                  ELSE 4 END AS fold,
                user_id,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS conv
              FROM events GROUP BY 1, 2
            ),
            per_fold AS (
              SELECT fold,
                CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(conv) AS BIGINT) AS n_conv
              FROM per_user GROUP BY fold
            ),
            rated AS (
              SELECT CAST(fold AS INT) AS fold, n_users,
                CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
                  AS conv_rate
              FROM per_fold
            )
            SELECT fold, n_users, conv_rate,
              max(conv_rate) OVER () - min(conv_rate) OVER () AS spread
            FROM rated
        """,
        'q331_effective_sample_size': """
            WITH per_src AS (
              SELECT source,
                CAST(sum(length(list_filter(
                  string_split_regex(trim(text), '\\s+'), x -> x <> '')))
                  AS BIGINT) AS tok
              FROM documents GROUP BY source
            ),
            j AS (
              SELECT sqrt(CAST(tok AS DOUBLE)) AS w
              FROM documents JOIN per_src USING (source)
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS sw,
                CAST(sum(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE) AS sww
              FROM j
            )
            SELECT n_docs,
              sw * sw / sww AS ess,
              sw * sw / sww / CAST(n_docs AS DOUBLE) AS ess_ratio
            FROM agg
        """,
        'q332_series_staleness': """
            WITH per AS (
              SELECT event_type,
                CAST(max(ts) AS DATE) AS last_day,
                CAST(count(*) AS BIGINT) AS n_rows
              FROM events GROUP BY event_type
            ),
            wm AS (SELECT CAST(max(ts) AS DATE) AS horizon FROM events)
            SELECT event_type, last_day, horizon,
              CAST(date_diff('day', last_day, horizon) AS INT)
                AS days_behind,
              n_rows
            FROM per CROSS JOIN wm
        """,
        'q333_calibration_ece': """
            WITH per_user AS (
              SELECT user_id,
                CAST(count(*) AS BIGINT) AS activity,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS conv
              FROM events GROUP BY user_id
            ),
            scored AS (
              SELECT user_id, conv,
                CAST(activity AS DOUBLE)
                  / CAST(max(activity) OVER () AS DOUBLE) AS score
              FROM per_user
            ),
            binned AS (
              SELECT conv, score,
                ntile(10) OVER (ORDER BY score DESC, user_id) AS bin
              FROM scored
            ),
            per_bin AS (
              SELECT bin,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(conv) AS BIGINT) AS n_conv,
                CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
                  AS sum_score
              FROM binned GROUP BY bin
            )
            SELECT CAST(bin AS INT) AS bin, n,
              CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
              sum_score / CAST(n AS DOUBLE) AS confidence,
              abs(CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE)
                - sum_score / CAST(n AS DOUBLE)) AS gap
            FROM per_bin
        """,
        'q334_dispersion_index': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            agg AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS k,
                CAST(sum(n) AS BIGINT) AS s1,
                CAST(sum(n * n) AS BIGINT) AS s2
              FROM daily GROUP BY event_type
            )
            SELECT event_type, k AS n_days,
              CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS mean_daily,
              CAST(k * s2 - s1 * s1 AS DOUBLE)
                / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1E0))
                AS var_daily,
              (CAST(k * s2 - s1 * s1 AS DOUBLE)
                / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1E0)))
              / (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)) AS dispersion
            FROM agg
        """,
        'q335_its_segments': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            base AS (
              SELECT event_type, d, n,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY d) AS BIGINT) AS t
              FROM daily
            ),
            mom AS (
              SELECT event_type,
                CASE WHEN d < TIMESTAMP '2024-01-16' THEN 'pre'
                  ELSE 'post' END AS seg,
                count(*) AS k,
                sum(t) AS st, sum(n) AS sx,
                sum(t * n) AS stx, sum(t * t) AS stt
              FROM base GROUP BY 1, 2
            ),
            fitted AS (
              SELECT event_type, seg,
                CASE WHEN k * stt - st * st > 0 THEN
                  CAST(k * stx - st * sx AS DOUBLE)
                    / CAST(k * stt - st * st AS DOUBLE) END AS slope,
                CAST(sx AS DOUBLE) / CAST(k AS DOUBLE) AS level
              FROM mom
            )
            SELECT pre.event_type,
              pre.slope AS slope_pre, post.slope AS slope_post,
              post.slope - pre.slope AS slope_change,
              pre.level AS level_pre, post.level AS level_post,
              post.level - pre.level AS level_change
            FROM fitted pre JOIN fitted post
              ON pre.event_type = post.event_type
              AND pre.seg = 'pre' AND post.seg = 'post'
        """,
        'q336_split_half': """
            WITH marked AS (
              SELECT user_id,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) % 2 AS par
              FROM events
            ),
            halves AS (
              SELECT user_id,
                CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END)
                  AS DECIMAL(19,0)) AS xi,
                CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END)
                  AS DECIMAL(19,0)) AS yi
              FROM marked GROUP BY user_id
            ),
            s AS (
              SELECT count(*) AS n,
                sum(CAST(xi AS DECIMAL(38,0))) AS sx,
                sum(CAST(yi AS DECIMAL(38,0))) AS sy,
                sum(CAST(xi * xi AS DECIMAL(38,0))) AS sxx,
                sum(CAST(yi * yi AS DECIMAL(38,0))) AS syy,
                sum(CAST(xi * yi AS DECIMAL(38,0))) AS sxy
              FROM halves
            ),
            e AS (
              SELECT CAST(n AS BIGINT) AS n,
                CAST(CAST(n AS DECIMAL(12,0)) * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(CAST(n AS DECIMAL(12,0)) * sxx - sx * sx
                      AS DOUBLE))
                    * sqrt(CAST(CAST(n AS DECIMAL(12,0)) * syy - sy * sy
                      AS DOUBLE))) AS r
              FROM s
            )
            SELECT n AS n_users, r AS half_corr,
              2E0 * r / (1E0 + r) AS spearman_brown
            FROM e
        """,
        'q337_variance_ratio': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            lvl AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS k,
                CAST(sum(n) AS BIGINT) AS s1,
                CAST(sum(n * n) AS BIGINT) AS s2
              FROM daily GROUP BY event_type
            ),
            diffs AS (
              SELECT event_type, n - lag(n) OVER (
                PARTITION BY event_type ORDER BY d) AS dx
              FROM daily
            ),
            dif AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS kd,
                CAST(sum(dx) AS BIGINT) AS sd1,
                CAST(sum(dx * dx) AS BIGINT) AS sd2
              FROM diffs WHERE dx IS NOT NULL
              GROUP BY event_type
            )
            SELECT l.event_type, k AS n_days,
              CAST(k * s2 - s1 * s1 AS DOUBLE)
                / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)) AS var_level,
              CAST(kd * sd2 - sd1 * sd1 AS DOUBLE)
                / (CAST(kd AS DOUBLE) * CAST(kd AS DOUBLE)) AS var_diff,
              (CAST(k * s2 - s1 * s1 AS DOUBLE)
                / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)))
              / (CAST(kd * sd2 - sd1 * sd1 AS DOUBLE)
                / (CAST(kd AS DOUBLE) * CAST(kd AS DOUBLE)))
                AS variance_ratio,
              (CAST(k * s2 - s1 * s1 AS DOUBLE)
                / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)))
              > (CAST(kd * sd2 - sd1 * sd1 AS DOUBLE)
                / (CAST(kd AS DOUBLE) * CAST(kd AS DOUBLE)))
                AS difference_first
            FROM lvl l JOIN dif USING (event_type)
        """,
        'q338_dedup_savings': """
            WITH groups AS (
              SELECT source, md5(text) AS h,
                CAST(count(*) AS BIGINT) AS copies,
                CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT)
                  AS total_bytes,
                CAST(min(CAST(n_chars AS BIGINT)) AS BIGINT)
                  AS keep_bytes
              FROM documents GROUP BY 1, 2
            )
            SELECT source,
              CAST(count(*) AS BIGINT) AS n_unique,
              CAST(sum(copies) AS BIGINT) AS n_docs,
              CAST(sum(total_bytes - keep_bytes) AS BIGINT)
                AS bytes_saved,
              CAST(sum(total_bytes - keep_bytes) AS DOUBLE)
                / CAST(sum(total_bytes) AS DOUBLE) AS savings_share
            FROM groups GROUP BY source
        """,
        'q339_retrieval_eval': f"""
            WITH fact AS (
              SELECT o_custkey, l_partkey, o_orderdate,
                {_REV_SQL} AS rev
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ),
            spend AS (
              SELECT o_custkey, l_partkey,
                sum(CAST(rev AS DECIMAL(38,6))) AS spend
              FROM fact WHERE o_orderdate < TIMESTAMP '2000-01-01'
              GROUP BY 1, 2
            ),
            ranked AS (
              SELECT * FROM (
                SELECT o_custkey, l_partkey,
                  CAST(row_number() OVER (
                    PARTITION BY o_custkey
                    ORDER BY spend DESC, l_partkey ASC) AS INT) AS rk
                FROM spend)
              WHERE rk <= 10
            ),
            rel AS (
              SELECT DISTINCT o_custkey, l_partkey FROM fact
              WHERE o_orderdate >= TIMESTAMP '2000-01-01'
            ),
            relc AS (
              SELECT o_custkey, CAST(count(*) AS INT) AS n_rel
              FROM rel GROUP BY 1
            ),
            hagg AS (
              SELECT r.o_custkey,
                CAST(count(*) AS INT) AS hits,
                min(r.rk) AS first_hit,
                sum(list_extract([{", ".join(
                    f"CAST({d} AS DECIMAL(14,12))" for d in _NDCG_DISC)}],
                  r.rk)) AS dcg
              FROM ranked r JOIN rel USING (o_custkey, l_partkey)
              GROUP BY 1
            ),
            rankedc AS (
              SELECT o_custkey, CAST(count(*) AS INT) AS n_ranked
              FROM ranked GROUP BY 1
            )
            SELECT rc.o_custkey AS custkey, rc.n_ranked, relc.n_rel,
              CAST(COALESCE(h.hits, 0) AS INT) AS hits,
              CASE WHEN h.first_hit IS NOT NULL
                THEN 1.0 / CAST(h.first_hit AS DOUBLE) ELSE 0.0
              END AS mrr,
              CAST(COALESCE(h.hits, 0) AS DOUBLE)
                / CAST(rc.n_ranked AS DOUBLE) AS precision_at_10,
              CAST(COALESCE(h.hits, 0) AS DOUBLE)
                / CAST(relc.n_rel AS DOUBLE) AS recall_at_10,
              COALESCE(CAST(h.dcg AS DOUBLE), 0.0)
                / CAST(list_extract([{", ".join(
                    f"CAST({c} AS DECIMAL(16,12))" for c in _NDCG_CUM)}],
                  least(relc.n_rel, 10)) AS DOUBLE) AS ndcg_at_10
            FROM rankedc rc
            JOIN relc ON rc.o_custkey = relc.o_custkey
            LEFT JOIN hagg h ON rc.o_custkey = h.o_custkey
        """,
        'q340_skipgram_pairs': r"""
            WITH toks AS (
              SELECT list_filter(
                string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
              FROM documents
            ),
            p1 AS (
              SELECT unnest(list_transform(
                generate_series(1, greatest(len(t) - 1, 0)),
                i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
              FROM toks
              UNION ALL
              SELECT unnest(list_transform(
                generate_series(1, greatest(len(t) - 2, 0)),
                i -> struct_pack(w1 := t[i], w2 := t[i+2]))) AS p
              FROM toks
            ),
            fwd AS (
              SELECT p.w1 AS w1, p.w2 AS w2,
                CAST(count(*) AS BIGINT) AS nf
              FROM p1 GROUP BY 1, 2
            )
            SELECT COALESCE(a.w1, b.w2) AS center,
              COALESCE(a.w2, b.w1) AS context,
              CAST(COALESCE(a.nf, 0) + COALESCE(b.nf, 0) AS BIGINT)
                AS n_pairs
            FROM fwd a
            FULL OUTER JOIN fwd b ON a.w1 = b.w2 AND a.w2 = b.w1
            WHERE COALESCE(a.nf, 0) + COALESCE(b.nf, 0) >= 5
        """,
        'q341_stutter_scrub': r"""
            WITH t AS (
              SELECT source, list_filter(
                string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
              FROM documents
            ),
            per_doc AS (
              SELECT source, len(t) AS nt,
                len(list_filter(list_transform(
                  generate_series(1, greatest(len(t) - 1, 0)),
                  i -> t[i] = t[i+1]), x -> x)) AS nr
              FROM t
            )
            SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(nt) AS BIGINT) AS total_tokens,
              CAST(sum(nr) AS BIGINT) AS stutter_tokens,
              CAST(sum(nr) AS DOUBLE) / CAST(sum(nt) AS DOUBLE)
                AS stutter_share,
              CAST(sum(CASE WHEN nr > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS docs_with_stutter
            FROM per_doc GROUP BY source
        """,
        'q342_linear_attribution': """
            WITH purch AS (
              SELECT user_id, ts, min(event_id) AS conv_id,
                sum(CAST(value AS DECIMAL(38,6))) AS conv_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1, 2
            ),
            touch AS (
              SELECT event_id, user_id, ts, event_type FROM events
              WHERE event_type IN ('view', 'click', 'signup')
            ),
            asg0 AS (
              SELECT t.event_id, t.user_id, t.event_type,
                min(p.ts) AS conv_ts
              FROM touch t JOIN purch p
                ON t.user_id = p.user_id AND p.ts >= t.ts
              GROUP BY 1, 2, 3
            ),
            asg AS (
              SELECT a.user_id, a.event_type, p.conv_id, p.conv_value
              FROM asg0 a JOIN purch p
                ON a.user_id = p.user_id AND a.conv_ts = p.ts
            ),
            convn AS (
              SELECT user_id, conv_id, CAST(count(*) AS BIGINT) AS n
              FROM asg GROUP BY 1, 2
            ),
            pt AS (
              SELECT user_id, conv_id, event_type,
                CAST(count(*) AS BIGINT) AS m,
                max(conv_value) AS cv
              FROM asg GROUP BY 1, 2, 3
            )
            SELECT event_type, n,
              CAST(count(*) AS BIGINT) AS n_convs,
              CAST(sum(CAST(cv * m AS DECIMAL(38,6))) AS DOUBLE)
                / CAST(n AS DOUBLE) AS attributed_value
            FROM pt JOIN convn USING (user_id, conv_id)
            GROUP BY event_type, n
        """,
        'q344_qte': f"""
            WITH per_user AS (
              SELECT
                CASE WHEN substring(
                    md5('qte' || CAST(user_id AS VARCHAR)), 1, 8)
                  < '{_thr(0.5)}' THEN 'treat' ELSE 'control' END AS arm,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  AS total
              FROM events GROUP BY user_id
            ),
            per_arm AS (
              SELECT arm,
                {", ".join(
                    f"quantile_disc(total, {i / 10}) AS d{i}"
                    for i in range(1, 10))}
              FROM per_user GROUP BY arm
            )
            SELECT
              {", ".join(f"c.d{i} AS d{i}_control" for i in range(1, 10))},
              {", ".join(f"t.d{i} AS d{i}_treat" for i in range(1, 10))},
              {", ".join(
                  f"t.d{i} - c.d{i} AS d{i}_qte" for i in range(1, 10))}
            FROM (SELECT * FROM per_arm WHERE arm = 'treat') t,
                 (SELECT * FROM per_arm WHERE arm = 'control') c
        """,
        'q345_bh_fdr': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            mom AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS k,
                CAST(sum(n) AS BIGINT) AS s1,
                CAST(sum(n * n) AS BIGINT) AS s2
              FROM daily GROUP BY event_type
            ),
            cells AS (
              SELECT d.event_type, d.d, d.n,
                CASE WHEN CAST(d.n AS DOUBLE)
                        - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) = 0
                  THEN 1.0
                  ELSE least(1.0,
                    (CAST(k * s2 - s1 * s1 AS DOUBLE)
                      / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)))
                    / ((CAST(d.n AS DOUBLE)
                        - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
                       * (CAST(d.n AS DOUBLE)
                        - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))))
                END AS p
              FROM daily d JOIN mom USING (event_type)
            ),
            ranked AS (
              SELECT event_type, d, n, p,
                CAST(row_number() OVER (
                  ORDER BY p, event_type, d) AS INT) AS rk,
                CAST(count(*) OVER () AS BIGINT) AS m
              FROM cells
            ),
            flagged AS (
              SELECT *,
                CASE WHEN p <= CAST(rk AS DOUBLE)
                    / (10.0 * CAST(m AS DOUBLE))
                  THEN rk ELSE 0 END AS pass_k
              FROM ranked
            )
            SELECT event_type, d, n, p, rk,
              rk <= max(pass_k) OVER () AS discovery
            FROM flagged
        """,
        'q346_shard_balance': r"""
            WITH per_doc AS (
              SELECT doc_id,
                CAST(len(list_filter(
                  string_split_regex(trim(text), '\s+'),
                  x -> x <> '')) AS INT) AS nt
              FROM documents
            ),
            assigned AS (
              SELECT nt,
                CAST((row_number() OVER (
                  ORDER BY nt DESC, doc_id ASC) - 1) % 8 AS INT)
                  AS shard
              FROM per_doc
            ),
            agg AS (
              SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS shard_tokens
              FROM assigned GROUP BY shard
            )
            SELECT shard, n_docs, shard_tokens,
              CAST(shard_tokens AS DOUBLE)
                / CAST(sum(shard_tokens) OVER () AS DOUBLE)
                AS token_share
            FROM agg
        """,
        'q347_revenue_npv': f"""
            WITH per_cust AS (
              SELECT o_custkey,
                sum(CAST(
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)
                  * list_extract(
                      [{", ".join(str(d) for d in _NPV_DISC_SCALED)}],
                      CAST(year(o_orderdate) - 1994 AS INT))
                  AS DECIMAL(38,0))) AS npv
              FROM orders GROUP BY o_custkey
            )
            SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_customers,
              CAST(sum(npv) AS DOUBLE) / 1.0e9 AS segment_npv,
              CAST(sum(npv) AS DOUBLE) / 1.0e9
                / CAST(count(*) AS DOUBLE) AS avg_customer_npv
            FROM per_cust JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        'q348_rake_keywords': r"""
            WITH toks AS (
              SELECT doc_id, list_filter(
                string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
              FROM documents
            ),
            pos AS (
              SELECT doc_id, u.pos AS pos, u.w AS w FROM (
                SELECT doc_id, unnest(list_transform(
                  generate_series(1, len(t)),
                  i -> struct_pack(pos := i, w := t[i]))) AS u
                FROM toks)
            ),
            marked AS (
              SELECT doc_id, pos, w,
                CASE WHEN list_contains("""
        + _STOPWORD_LIST
        + """, w) THEN 1 ELSE 0 END AS st
              FROM pos
            ),
            ph AS (
              SELECT doc_id, pos, w, st,
                sum(st) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS UNBOUNDED PRECEDING) AS phrase_id
              FROM marked
            ),
            words AS (
              SELECT doc_id, phrase_id, w FROM ph WHERE st = 0
            ),
            plen AS (
              SELECT doc_id, phrase_id,
                CAST(count(*) AS BIGINT) AS plen
              FROM words GROUP BY 1, 2
            ),
            scored AS (
              SELECT w, CAST(count(*) AS BIGINT) AS freq,
                CAST(sum(plen) AS BIGINT) AS deg
              FROM words JOIN plen USING (doc_id, phrase_id)
              GROUP BY w HAVING count(*) >= 5
            )
            SELECT w AS word, freq, deg,
              CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS rake_score
            FROM scored
        """,
        'q349_wilcoxon_signed': """
            WITH daily AS (
              SELECT event_type,
                datediff('day', DATE '2024-01-01',
                  CAST(date_trunc('day', ts) AS DATE)) AS idx,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            keyed AS (
              SELECT event_type,
                CAST(floor(idx / 7) AS INT) AS wk,
                CAST(idx % 7 AS INT) AS dow, n
              FROM daily
            ),
            pairs AS (
              SELECT a.event_type, b.n - a.n AS diff,
                abs(b.n - a.n) AS ad
              FROM keyed a JOIN keyed b
                ON a.event_type = b.event_type
                AND a.wk + 1 = b.wk AND a.dow = b.dow
              WHERE b.n - a.n <> 0
            ),
            byval AS (
              SELECT event_type, ad,
                CAST(count(*) AS BIGINT) AS t,
                CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS tpos
              FROM pairs GROUP BY 1, 2
            ),
            ranked AS (
              SELECT event_type, t, tpos,
                2 * (sum(t) OVER (PARTITION BY event_type ORDER BY ad
                    ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS two_avg
              FROM byval
            ),
            agg AS (
              SELECT event_type,
                CAST(sum(t) AS BIGINT) AS n,
                CAST(sum(tpos * two_avg) AS BIGINT) AS two_w_plus
              FROM ranked GROUP BY event_type
            )
            SELECT event_type,
              n AS n_pairs, two_w_plus,
              CAST(two_w_plus - CAST(n * (n + 1) / 2 AS BIGINT)
                AS DOUBLE)
              / sqrt(CAST(CAST(n * (n + 1) * (2 * n + 1) / 6 AS BIGINT)
                  AS DOUBLE)) AS z
            FROM agg
        """,
        'q350_l_diversity': """
            WITH rel AS (
              SELECT c_nationkey, c_mktsegment,
                CAST(year(o_orderdate) AS INT) AS yr,
                o_orderpriority
              FROM orders JOIN customer ON o_custkey = c_custkey
            )
            SELECT c_nationkey, c_mktsegment, yr,
              CAST(count(*) AS BIGINT) AS group_size,
              CAST(count(DISTINCT o_orderpriority) AS BIGINT)
                AS l_distinct,
              count(DISTINCT o_orderpriority) >= 3 AS diverse
            FROM rel GROUP BY 1, 2, 3
        """,
        'q351_covariate_balance': f"""
            WITH oc AS (
              SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
              FROM orders GROUP BY 1
            ),
            base AS (
              SELECT
                CASE WHEN substring(
                    md5('qte' || CAST(c_custkey AS VARCHAR)), 1, 8)
                  < '{_thr(0.5)}' THEN 'treat' ELSE 'control' END AS arm,
                CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
                CAST(COALESCE(n_orders, 0) AS DECIMAL(18,0)) AS no
              FROM customer LEFT JOIN oc ON c_custkey = o_custkey
            ),
            s AS (
              SELECT
                CAST(sum(CASE WHEN arm = 'treat' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nt,
                CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nc,
                sum(CAST(bal * (CASE WHEN arm = 'treat' THEN 1 ELSE 0 END)
                  AS DECIMAL(38,4))) AS bt,
                sum(CAST(bal * (CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                  AS DECIMAL(38,4))) AS bc,
                sum(CAST(bal * bal * (CASE WHEN arm = 'treat' THEN 1 ELSE 0 END)
                  AS DECIMAL(38,4))) AS btt,
                sum(CAST(bal * bal * (CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                  AS DECIMAL(38,4))) AS bcc,
                sum(CAST(no * (CASE WHEN arm = 'treat' THEN 1 ELSE 0 END)
                  AS DECIMAL(38,4))) AS ot,
                sum(CAST(no * (CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                  AS DECIMAL(38,4))) AS oc,
                sum(CAST(no * no * (CASE WHEN arm = 'treat' THEN 1 ELSE 0 END)
                  AS DECIMAL(38,4))) AS ott,
                sum(CAST(no * no * (CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                  AS DECIMAL(38,4))) AS occ
              FROM base
            )
            SELECT 'acctbal' AS covariate, nt AS n_treat, nc AS n_control,
              CAST(bt AS DOUBLE) / CAST(nt AS DOUBLE) AS mean_treat,
              CAST(bc AS DOUBLE) / CAST(nc AS DOUBLE) AS mean_control,
              (CAST(bt AS DOUBLE) / CAST(nt AS DOUBLE)
                - CAST(bc AS DOUBLE) / CAST(nc AS DOUBLE))
              / sqrt(((CAST(btt AS DOUBLE) / CAST(nt AS DOUBLE)
                  - (CAST(bt AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (CAST(bt AS DOUBLE) / CAST(nt AS DOUBLE)))
                + (CAST(bcc AS DOUBLE) / CAST(nc AS DOUBLE)
                  - (CAST(bc AS DOUBLE) / CAST(nc AS DOUBLE))
                    * (CAST(bc AS DOUBLE) / CAST(nc AS DOUBLE)))) / 2.0)
                AS smd
            FROM s
            UNION ALL
            SELECT 'n_orders', nt, nc,
              CAST(ot AS DOUBLE) / CAST(nt AS DOUBLE),
              CAST(oc AS DOUBLE) / CAST(nc AS DOUBLE),
              (CAST(ot AS DOUBLE) / CAST(nt AS DOUBLE)
                - CAST(oc AS DOUBLE) / CAST(nc AS DOUBLE))
              / sqrt(((CAST(ott AS DOUBLE) / CAST(nt AS DOUBLE)
                  - (CAST(ot AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (CAST(ot AS DOUBLE) / CAST(nt AS DOUBLE)))
                + (CAST(occ AS DOUBLE) / CAST(nc AS DOUBLE)
                  - (CAST(oc AS DOUBLE) / CAST(nc AS DOUBLE))
                    * (CAST(oc AS DOUBLE) / CAST(nc AS DOUBLE)))) / 2.0)
            FROM s
        """,
        'q353_pinball_loss': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            scored AS (
              SELECT event_type, n,
                lag(n, 7) OVER (PARTITION BY event_type ORDER BY d)
                  AS yhat
              FROM daily
            ),
            agg AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_days,
                CAST(sum(5 * abs(n - yhat)) AS BIGINT) AS s50,
                CAST(sum(CASE WHEN n - yhat >= 0 THEN 9 * (n - yhat)
                         ELSE -(n - yhat) END) AS BIGINT) AS s90
              FROM scored WHERE yhat IS NOT NULL
              GROUP BY event_type
            )
            SELECT event_type, n_days,
              CAST(s50 AS DOUBLE) / (10.0 * CAST(n_days AS DOUBLE))
                AS pinball_p50,
              CAST(s90 AS DOUBLE) / (10.0 * CAST(n_days AS DOUBLE))
                AS pinball_p90
            FROM agg
        """,
        'q354_transition_drift': """
            WITH steps AS (
              SELECT h, event_type AS f, nxt AS t FROM (
                SELECT
                  CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 2
                    END AS h,
                  user_id, ts, event_id, event_type,
                  lead(event_type) OVER (
                    PARTITION BY user_id,
                      CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1
                        ELSE 2 END
                    ORDER BY ts, event_id) AS nxt
                FROM events)
              WHERE nxt IS NOT NULL
            ),
            cells AS (
              SELECT h, f, t, CAST(count(*) AS BIGINT) AS m
              FROM steps GROUP BY 1, 2, 3
            ),
            grid AS (
              SELECT COALESCE(a.f, b.f) AS f, COALESCE(a.t, b.t) AS t,
                COALESCE(a.m, 0) AS m1, COALESCE(b.m, 0) AS m2
              FROM (SELECT f, t, m FROM cells WHERE h = 1) a
              FULL OUTER JOIN (SELECT f, t, m FROM cells WHERE h = 2) b
                ON a.f = b.f AND a.t = b.t
            ),
            per_from AS (
              SELECT f, CAST(sum(m1) AS BIGINT) AS n1,
                CAST(sum(m2) AS BIGINT) AS n2
              FROM grid GROUP BY f
            ),
            agg AS (
              SELECT g.f, max(n1) AS n1, max(n2) AS n2,
                sum(CAST(abs(g.m1 * p.n2 - g.m2 * p.n1)
                  AS DECIMAL(38,0))) AS s
              FROM grid g JOIN per_from p ON g.f = p.f
              GROUP BY g.f
            )
            SELECT f AS from_state,
              CAST(n1 AS BIGINT) AS n_steps_h1,
              CAST(n2 AS BIGINT) AS n_steps_h2,
              CAST(s AS DOUBLE)
                / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS tvd
            FROM agg
        """,
    },
)
