"""Round-4 statistical/time-series batch: ICC, rank tests,
survival, spectra (q384 .. q407).

Shared helpers are in queries/common.py; queries/registry.py raises
on duplicate query names."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import tokens
from sensor_time_series_pyspark_spark.queries.common import EVENT_TYPES
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_icc(spark: SparkSession, sf: str) -> DataFrame:
    """Intraclass correlation ICC(1) of daily counts within event
    types: (MSB − MSW) / (MSB + (k̄−1)·MSW) from the one-way ANOVA
    decomposition (q287's sums of squares, pushed one step further to
    the reliability coefficient raters/sensors are judged by). All
    sums of squares come from exact integer moments per group; the
    mean group size and the final ratio are a fixed double epilogue.
    One day-grain aggregate, one group-moment reduce, one row out."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("q"),
    )
    # Σ s²/m has per-group denominators, so its addition ORDER matters
    # in floats and a plain 5-row sum() leaves that order to the
    # engine. The group vocabulary is FIXED (5 event types), so pivot
    # the moments wide and add the five rational terms in literal
    # EVENT_TYPES order — hash-exact on any engine.
    wide = g.groupBy().pivot("event_type", EVENT_TYPES).agg(
        F.max(F.struct("s", "m", "q"))
    )
    terms = [
        F.col(f"{t}.s").cast("double")
        * F.col(f"{t}.s").cast("double")
        / F.col(f"{t}.m").cast("double")
        for t in EVENT_TYPES
    ]
    ssb_fixed = terms[0]
    for term in terms[1:]:
        ssb_fixed = ssb_fixed + term
    m_sum = sum(
        (F.col(f"{t}.m") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    s_sum = sum(
        (F.col(f"{t}.s") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    q_sum = sum(
        (F.col(f"{t}.q") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    k = F.lit(len(EVENT_TYPES)).cast("bigint")
    grand_corr = (
        s_sum.cast("double") * s_sum.cast("double") / m_sum.cast("double")
    )
    ssb = ssb_fixed - grand_corr
    ssw = q_sum.cast("double") - ssb_fixed
    msb = ssb / (k - 1).cast("double")
    msw = ssw / (m_sum - k).cast("double")
    # Unbalanced one-way ICC group-size constant n0 = (N − Σm_j²/N)
    # / (k−1) — reduces to the common group size when balanced; kbar
    # (= N/k) is only correct for balanced designs.
    m2_sum = sum(
        (F.col(f"{t}.m") * F.col(f"{t}.m") for t in EVENT_TYPES),
        F.lit(0),
    ).cast("bigint")
    n0 = (
        m_sum.cast("double")
        - m2_sum.cast("double") / m_sum.cast("double")
    ) / (k - 1).cast("double")
    icc = (msb - msw) / (msb + (n0 - F.lit(1.0)) * msw)
    return wide.select(
        k.alias("k_groups"),
        m_sum.alias("n_days"),
        msb.alias("msb"),
        msw.alias("msw"),
        icc.alias("icc1"),
    )


def _q_seasonal_strength_dow(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal strength per event type (Hyndman's F_s = max(0,
    1 − var(remainder)/var(series)) with the day-of-week mean as the
    seasonal fit): how much of the daily variance the weekly cycle
    explains — the one-number "should I model seasonality" gate that
    picks between q24 (holt) and q300 (holt-winters). var(remainder)
    = SSW of the dow grouping and var(series) = SST, both from exact
    integer moments; ONE subtraction and ONE division of doubles at
    the end (the Σs²/m rational term is summed over the FIXED 7-slot
    dow vocabulary in literal order, same discipline as q384's ICC)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dowed = daily.select(
        "event_type", F.dayofweek("d").alias("dow"), "n"
    )
    g = dowed.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("q"),
    )
    wide = g.groupBy("event_type").pivot("dow", list(range(1, 8))).agg(
        F.max(F.struct("s", "m", "q"))
    )
    terms = [
        F.when(
            F.col(f"{i}.m").isNotNull(),
            F.col(f"{i}.s").cast("double")
            * F.col(f"{i}.s").cast("double")
            / F.col(f"{i}.m").cast("double"),
        ).otherwise(F.lit(0.0))
        for i in range(1, 8)
    ]
    ssg = terms[0]
    for term in terms[1:]:
        ssg = ssg + term
    m_sum = sum(
        (F.coalesce(F.col(f"{i}.m"), F.lit(0)) for i in range(1, 8)),
        F.lit(0),
    ).cast("bigint")
    s_sum = sum(
        (F.coalesce(F.col(f"{i}.s"), F.lit(0)) for i in range(1, 8)),
        F.lit(0),
    ).cast("bigint")
    q_sum = sum(
        (F.coalesce(F.col(f"{i}.q"), F.lit(0)) for i in range(1, 8)),
        F.lit(0),
    ).cast("bigint")
    sst = q_sum.cast("double") - (
        s_sum.cast("double") * s_sum.cast("double") / m_sum.cast("double")
    )
    ssw = q_sum.cast("double") - ssg
    fs = F.greatest(F.lit(0.0), F.lit(1.0) - ssw / sst)
    return wide.select(
        "event_type",
        m_sum.alias("n_days"),
        sst.alias("sst"),
        ssw.alias("ss_remainder"),
        fs.alias("seasonal_strength"),
    )


def _q_median_polish(spark: SparkSession, sf: str) -> DataFrame:
    """One-sweep Tukey median polish of the (day-of-week × week)
    daily-count table: subtract row (dow) medians, then column (week)
    medians of the residuals — the robust two-way decomposition that
    separates weekly rhythm from week-level shifts without letting one
    burst day poison the means (the outlier-proof sibling of q292's
    ratio-to-MA). Counts are integers and percentile_disc medians ARE
    table values, so every residual stays a PURE INTEGER end to end —
    no float enters at any step. Grain: ≤35 cells per pass."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cells = daily.select(
        F.dayofweek("d").cast("int").alias("dow"),
        F.floor(
            F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")) / 7
        ).cast("int").alias("wk"),
        "n",
    )
    row_med = cells.groupBy("dow").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("row_eff")
    )
    r1 = cells.join(F.broadcast(row_med), "dow").select(
        "dow", "wk", "n", "row_eff", (F.col("n") - F.col("row_eff")).alias("r1")
    )
    col_med = r1.groupBy("wk").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY r1)")
        .cast("bigint")
        .alias("col_eff")
    )
    return r1.join(F.broadcast(col_med), "wk").select(
        "dow",
        "wk",
        "n",
        "row_eff",
        "col_eff",
        (F.col("r1") - F.col("col_eff")).cast("bigint").alias("resid"),
    )


def _q_cochran_q(spark: SparkSession, sf: str) -> DataFrame:
    """Cochran's Q over THREE binary burst detectors evaluated on the
    same days (day-over-day rise, week-over-week rise, above-median):
    do the detectors have the same marginal fire rate, or is one
    systematically hotter? The k-treatment extension of McNemar
    (q328). Q = (k−1)·[k·ΣG² − (ΣG)²] / (k·ΣL − ΣL²) where G = per-
    detector totals and L = per-day agreement counts — EVERY term is
    an exact integer off one day-grain frame; ONE division at the
    end."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wt = Window.orderBy("d")
    med = daily.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("med")
    )
    flags = daily.select(
        "d",
        "n",
        F.lag("n", 1).over(wt).alias("p1"),
        F.lag("n", 7).over(wt).alias("p7"),
    ).where(
        F.col("p1").isNotNull() & F.col("p7").isNotNull()
    ).crossJoin(F.broadcast(med))
    scored = flags.select(
        F.when(F.col("n") > F.col("p1"), 1).otherwise(0).alias("a"),
        F.when(F.col("n") > F.col("p7"), 1).otherwise(0).alias("b"),
        F.when(F.col("n") > F.col("med"), 1).otherwise(0).alias("c"),
    )
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("a").cast("bigint").alias("ga"),
        F.sum("b").cast("bigint").alias("gb"),
        F.sum("c").cast("bigint").alias("gc"),
        F.sum(F.col("a") + F.col("b") + F.col("c")).cast("bigint").alias("sl"),
        F.sum(
            (F.col("a") + F.col("b") + F.col("c"))
            * (F.col("a") + F.col("b") + F.col("c"))
        ).cast("bigint").alias("sl2"),
    )
    k = F.lit(3).cast("bigint")
    num = (k - 1) * (
        k * (F.col("ga") * F.col("ga") + F.col("gb") * F.col("gb")
             + F.col("gc") * F.col("gc"))
        - F.col("sl") * F.col("sl")
    )
    den = k * F.col("sl") - F.col("sl2")
    return agg.select(
        "n_days",
        "ga",
        "gb",
        "gc",
        (num.cast("double") / den.cast("double")).alias("cochran_q"),
    )


def _q_friedman(spark: SparkSession, sf: str) -> DataFrame:
    """Friedman rank test: within each day, rank the five event types
    by volume (ties get average ranks), then test whether the rank
    sums differ — the nonparametric repeated-measures ANOVA (does one
    type SYSTEMATICALLY run hotter day after day?). Average ranks are
    kept as DOUBLED integers (2·rank is always whole), so rank sums
    and their squares are exact integers and χ²_F is a fixed
    two-term double epilogue: 3·ΣR₂²/(N·k·(k+1)) − 3·N·(k+1)."""
    ev = read_table(spark, sf, "events")
    daily0 = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # Friedman needs COMPLETE blocks: a day missing a treatment would
    # rank over fewer than k cells and silently bias the chi-square.
    # Keep only days covering every event type present anywhere. Both
    # counts ride WINDOWS on the already-cell-grain frame (≤ 150
    # rows) — no scalar crossJoin, no extra job.
    daily = (
        daily0.withColumn(
            "d_cnt",
            F.count(F.lit(1)).over(Window.partitionBy("d")).cast("bigint"),
        )
        .withColumn(
            "k_all",
            F.size(
                F.collect_set("event_type").over(
                    Window.partitionBy(F.lit(1))
                )
            ).cast("bigint"),
        )
        .where(F.col("d_cnt") == F.col("k_all"))
        .select("d", "event_type", "n")
    )
    wd = Window.partitionBy("d").orderBy("n")
    wties = Window.partitionBy("d", "n")
    ranked = daily.select(
        "d",
        "event_type",
        # doubled average rank: 2*min_rank + (ties - 1) — integer
        (
            2 * F.rank().over(wd)
            + F.count(F.lit(1)).over(wties)
            - 1
        ).cast("bigint").alias("r2"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("bigint").alias("rsum2"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    tot = sums.agg(
        F.max("n_days").cast("bigint").alias("nn"),
        F.sum(F.col("rsum2") * F.col("rsum2")).cast("bigint").alias("sr2"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    chi = (
        F.lit(3.0) * F.col("sr2").cast("double")
        / (F.col("nn") * F.col("k") * (F.col("k") + 1)).cast("double")
        - F.lit(3.0) * (F.col("nn") * (F.col("k") + 1)).cast("double")
    )
    return tot.select(
        F.col("nn").alias("n_days"),
        F.col("k").alias("k_treatments"),
        chi.alias("friedman_chi2"),
    )


def _q_cvm_two_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic per event type (first-
    half vs second-half daily counts): T = U/(n·m·N) − (4mn−1)/(6N)
    with U = n·Σ_A(r_i−i)² + m·Σ_B(s_j−j)² over pooled ranks — the
    whole-distribution drift test that weighs the body where KS (q199)
    only sees the single worst gap. Ranks use the deterministic total
    order (count, day) so ties resolve identically everywhere
    (documented tiebreak, the q141 discipline); U is then a PURE
    INTEGER and T is two divisions. One day-grain aggregate, two rank
    windows, one reduce per type."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    half = F.when(
        F.col("d") < F.lit("2024-01-16").cast("timestamp"), "a"
    ).otherwise("b")
    base = daily.select("event_type", "d", "n", half.alias("h"))
    wp = Window.partitionBy("event_type").orderBy("n", "d")
    ws = Window.partitionBy("event_type", "h").orderBy("n", "d")
    ranked = base.select(
        "event_type",
        "h",
        F.row_number().over(wp).cast("bigint").alias("r"),
        F.row_number().over(ws).cast("bigint").alias("i"),
    )
    diff2 = (F.col("r") - F.col("i")) * (F.col("r") - F.col("i"))
    agg = ranked.groupBy("event_type").agg(
        F.sum(F.when(F.col("h") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("h") == "b", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("h") == "a", diff2).otherwise(0))
        .cast("bigint")
        .alias("ua"),
        F.sum(F.when(F.col("h") == "b", diff2).otherwise(0))
        .cast("bigint")
        .alias("ub"),
    )
    nn = F.col("n_a") + F.col("n_b")
    u = F.col("n_a") * F.col("ua") + F.col("n_b") * F.col("ub")
    t = u.cast("double") / (
        F.col("n_a") * F.col("n_b") * nn
    ).cast("double") - (
        4 * F.col("n_a") * F.col("n_b") - 1
    ).cast("double") / (6 * nn).cast("double")
    return agg.select(
        "event_type", "n_a", "n_b", u.cast("bigint").alias("u"),
        t.alias("cvm_t"),
    )


def _q_pacf(spark: SparkSession, sf: str) -> DataFrame:
    """Partial autocorrelation (lags 1-7) per event type via the
    Durbin–Levinson recursion — THE ARIMA order-identification plot
    (q311's ACF says "correlated"; PACF says "AR(p) with THIS p").
    The ACF inputs are exact: mean-centering uses the common-
    denominator trick ((m·x−S) products are pure integers), so each
    r_k is ONE division. The DL recursion itself runs driver-side on
    the collected 5×7 ACF table (35 doubles — a rerank-sized
    epilogue, never data-scale) with plain sequential Python floats;
    the oracle replays the identical recursion in a recursive CTE, so
    even this iterative solve is hash-gated."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("n").cast("bigint").alias("s"),
    )
    wt = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.join(mom, "event_type").select(
        "event_type",
        "m",
        (F.col("m") * F.col("n") - F.col("s")).alias("c0"),
        *[
            (
                F.col("m") * F.lag("n", k).over(wt) - F.col("s")
            ).alias(f"c{k}")
            for k in range(1, 8)
        ],
    )
    acf = lagged.groupBy("event_type").agg(
        F.sum(F.col("c0") * F.col("c0")).cast("decimal(38,0)").alias("den"),
        *[
            F.sum(F.col("c0") * F.col(f"c{k}")).cast("decimal(38,0)").alias(f"num{k}")
            for k in range(1, 8)
        ],
    )
    rows = acf.collect()
    out = []
    for row in sorted(rows, key=lambda r: r["event_type"]):
        den = float(row["den"])
        r = [float(row[f"num{k}"]) / den for k in range(1, 8)]
        # Durbin–Levinson: phi[k][k] from phi[k-1][*]
        phi_prev: list[float] = []
        for k in range(1, 8):
            num = r[k - 1]
            den_k = 1.0
            for j in range(1, k):
                num -= phi_prev[j - 1] * r[k - j - 1]
                den_k -= phi_prev[j - 1] * r[j - 1]
            pkk = num / den_k
            phi_new = [
                phi_prev[j - 1] - pkk * phi_prev[k - j - 1]
                for j in range(1, k)
            ] + [pkk]
            out.append((row["event_type"], k, pkk))
            phi_prev = phi_new
    return spark.createDataFrame(
        out, "event_type string, lag int, pacf double"
    )


def _q_kruskal_wallis(spark: SparkSession, sf: str) -> DataFrame:
    """Kruskal–Wallis H across event types on daily counts — the
    k-sample extension of q279's Mann–Whitney (rank ANOVA: do the
    five types draw from the same daily-volume distribution?). Ranks
    use the doubled-average-rank trick (2·rank + ties − 1 is always a
    whole number), so every rank sum R2_j and the tie term are PURE
    INTEGERS: with R_j = R2_j/2, H = 12/(N(N+1))·ΣR_j²/n_j − 3(N+1)
    collapses to 3·(ΣR2_j²/n_j)/(N(N+1)) − 3(N+1). The per-group
    rational Σ is folded over the FIXED 5-type vocabulary in literal
    order (q384's discipline); the tie correction Σ(t³−t) rides the
    SAME rank scan via the per-row identity Σ_rows(t²−1) — no second
    aggregate, no crossJoin. Cell-grain (≤ 150 rows) after ONE fact
    scan."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wall = Window.orderBy("n")
    wtie = Window.partitionBy("n")
    t_sz = F.count(F.lit(1)).over(wtie).cast("bigint")
    ranked = daily.select(
        "event_type",
        (2 * F.rank().over(wall) + t_sz - 1).cast("bigint").alias("r2"),
        (t_sz * t_sz - 1).alias("tpart"),
    )
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("r2").cast("bigint").alias("s"),
        F.sum("tpart").cast("bigint").alias("tp"),
    )
    wide = g.groupBy().pivot("event_type", EVENT_TYPES).agg(
        F.max(F.struct("s", "m", "tp"))
    )
    terms = [
        F.col(f"{t}.s").cast("double")
        * F.col(f"{t}.s").cast("double")
        / F.col(f"{t}.m").cast("double")
        for t in EVENT_TYPES
    ]
    srr = terms[0]
    for term in terms[1:]:
        srr = srr + term
    nn = sum(
        (F.col(f"{t}.m") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    tie_sum = sum(
        (F.col(f"{t}.tp") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    h = (
        F.lit(3.0) * srr / (nn * (nn + 1)).cast("double")
        - F.lit(3.0) * (nn + 1).cast("double")
    )
    corr = F.lit(1.0) - tie_sum.cast("double") / (
        nn * nn * nn - nn
    ).cast("double")
    return wide.select(
        nn.alias("n_cells"),
        h.alias("h_stat"),
        (h / corr).alias("h_corrected"),
    )


def _q_brown_forsythe(spark: SparkSession, sf: str) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) homogeneity-of-variance
    test across event types: one-way ANOVA F on z = |n − median_type|
    — the gate q372's equal-variance cousin would need, robustified by
    the median. Medians are percentile_disc TABLE VALUES and counts
    are integers, so every z is a PURE INTEGER and all sums of squares
    come from exact integer moments; Σs²/m folds over the fixed 5-type
    vocabulary in literal order (q384). One fact scan, one broadcast
    median join, one reduce."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    meds = daily.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)").alias(
            "med"
        )
    )
    z = daily.join(F.broadcast(meds), "event_type").select(
        "event_type",
        F.abs(F.col("n") - F.col("med")).cast("bigint").alias("z"),
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("z").cast("bigint").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("q"),
    )
    wide = g.groupBy().pivot("event_type", EVENT_TYPES).agg(
        F.max(F.struct("s", "m", "q"))
    )
    terms = [
        F.col(f"{t}.s").cast("double")
        * F.col(f"{t}.s").cast("double")
        / F.col(f"{t}.m").cast("double")
        for t in EVENT_TYPES
    ]
    ssg = terms[0]
    for term in terms[1:]:
        ssg = ssg + term
    nn = sum(
        (F.col(f"{t}.m") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    s_sum = sum(
        (F.col(f"{t}.s") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    q_sum = sum(
        (F.col(f"{t}.q") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    k = F.lit(len(EVENT_TYPES)).cast("bigint")
    ssb = ssg - s_sum.cast("double") * s_sum.cast("double") / nn.cast(
        "double"
    )
    ssw = q_sum.cast("double") - ssg
    f_bf = (ssb / (k - 1).cast("double")) / (
        ssw / (nn - k).cast("double")
    )
    return wide.select(
        k.alias("k_groups"),
        nn.alias("n_days"),
        (k - 1).cast("bigint").alias("df1"),
        (nn - k).cast("bigint").alias("df2"),
        f_bf.alias("f_stat"),
    )


def _q_allan_variance(spark: SparkSession, sf: str) -> DataFrame:
    """Non-overlapping Allan variance of the daily event-count series
    per event type at τ ∈ {1,2,3} days — THE sensor-stability metric
    (oscillator/IMU drift is specified in Allan deviation, the natural
    headline stat for a sensor time-series engine). With bin sums S_b
    over complete τ-day bins, σ²(τ) = Σ(S_{b+1}−S_b)² / (2(M−1)τ²):
    the numerator is an exact integer (common-denominator trick — bin
    MEANS never materialize), one double division per (type, τ) row.
    One fact scan feeds all three τ frames."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type", "n", F.row_number().over(wt).cast("bigint").alias("i")
    )
    outs = []
    for tau in (1, 2, 3):
        bins = (
            idx.withColumn("b", F.expr(f"(i - 1) div {tau}"))
            .groupBy("event_type", "b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum("n").cast("bigint").alias("sb"),
            )
            .where(F.col("cnt") == tau)
        )
        wb = Window.partitionBy("event_type").orderBy("b")
        diffed = bins.select(
            "event_type",
            "sb",
            (F.lead("sb").over(wb) - F.col("sb")).alias("diff"),
        )
        agg = diffed.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("m_bins"),
            F.sum(F.col("diff") * F.col("diff")).cast("bigint").alias("sd2"),
        )
        outs.append(
            agg.select(
                "event_type",
                F.lit(tau).cast("int").alias("tau"),
                "m_bins",
                (
                    F.col("sd2").cast("double")
                    / (
                        2 * (F.col("m_bins") - 1) * tau * tau
                    ).cast("double")
                ).alias("allan_var"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _q_hurst_rs(spark: SparkSession, sf: str) -> DataFrame:
    """Rescaled-range (R/S) blocks for Hurst-exponent estimation: for
    window sizes w ∈ {8,16}, split each type's day-indexed count
    series into complete w-day blocks and emit each block's R/S — the
    long-memory diagnostic (H≈0.5 random walk, H→1 trending). The
    cumulative deviations are kept at common denominator w (w·cum −
    t·S is a PURE INTEGER), so R_scaled = max−min is exact and
    R/S = R_scaled/√(w·Σx²−S²) is ONE integer-ratio sqrt + ONE
    division (sqrt is IEEE-exact on every engine). Per-block rows are
    emitted rather than float-averaged — the log-log slope epilogue is
    the consumer's (no cross-block float sums to order)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type", "d", "n",
        F.row_number().over(wt).cast("bigint").alias("i"),
    )
    outs = []
    for w in (8, 16):
        rows = idx.withColumn("blk", F.expr(f"(i - 1) div {w}")).withColumn(
            "t_in", F.col("i") - F.col("blk") * w
        )
        blocks = rows.groupBy("event_type", "blk").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("n").cast("bigint").alias("s"),
            F.sum(F.col("n") * F.col("n")).cast("bigint").alias("q"),
        ).where(F.col("cnt") == w)
        wcum = (
            Window.partitionBy("event_type", "blk")
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        dev = rows.join(blocks, ["event_type", "blk"]).select(
            "event_type",
            "blk",
            "s",
            "q",
            (
                w * F.sum("n").over(wcum) - F.col("t_in") * F.col("s")
            ).cast("bigint").alias("dev"),
        )
        per_block = dev.groupBy("event_type", "blk", "s", "q").agg(
            (F.max("dev") - F.min("dev")).cast("bigint").alias("r_scaled")
        )
        outs.append(
            per_block.select(
                "event_type",
                F.lit(w).cast("int").alias("w"),
                F.col("blk").cast("bigint").alias("block"),
                (
                    F.col("r_scaled").cast("double")
                    / F.sqrt(
                        (
                            w * F.col("q") - F.col("s") * F.col("s")
                        ).cast("double")
                    )
                ).alias("rs"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _q_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population stability index between first-half and second-half
    event values over train-decile bins — the standard model-monitoring
    drift gate (PSI < 0.1 stable, > 0.25 shifted). Bin edges are
    percentile_disc TABLE VALUES from the train half (collected
    driver-side — 9 decimals, never data-scale — and inlined as
    literals so the fact scan bins with pure comparisons, no
    crossJoin); Laplace +1 smoothing keeps every bin finite. The
    20-cell count table is collected and the ln-epilogue runs in
    PYTHON (libm), because Spark's JVM ln differs from libm in the
    last bit on ~7% of arguments while DuckDB's ln IS libm — the same
    driver-side-epilogue discipline as q390's Durbin–Levinson. Terms
    are summed in bin order 0..9, left-associated, exactly as the
    oracle writes them."""
    import math

    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    base = ev.select(
        F.col("value").cast("decimal(18,2)").alias("v"),
        (
            F.col("ts") < F.lit("2024-01-16").cast("timestamp")
        ).alias("is_train"),
    )
    edges_row = base.where("is_train").agg(
        *[
            F.expr(
                f"percentile_disc(0.{k}) WITHIN GROUP (ORDER BY v)"
            ).alias(f"e{k}")
            for k in range(1, 10)
        ]
    ).collect()[0]
    bin_col = sum(
        (
            F.when(
                F.col("v")
                > F.lit(str(edges_row[f"e{k}"])).cast("decimal(18,2)"),
                1,
            ).otherwise(0)
            for k in range(1, 10)
        ),
        F.lit(0),
    ).alias("bin")
    counts = (
        base.select("is_train", bin_col)
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("is_train"), 1).otherwise(0))
            .cast("bigint")
            .alias("c_train"),
            F.sum(F.when(F.col("is_train"), 0).otherwise(1))
            .cast("bigint")
            .alias("c_test"),
        )
        .collect()
    )
    by_bin = {r["bin"]: (r["c_train"], r["c_test"]) for r in counts}
    n_train = sum(v[0] for v in by_bin.values())
    n_test = sum(v[1] for v in by_bin.values())
    psi = None
    for b in range(10):
        ctr, cte = by_bin.get(b, (0, 0))
        p = (ctr + 1) / (n_train + 10)
        q = (cte + 1) / (n_test + 10)
        term = (p - q) * math.log(p / q)
        psi = term if psi is None else psi + term
    return spark.createDataFrame(
        [(n_train, n_test, psi)],
        "n_train bigint, n_test bigint, psi double",
    )


def _q_xcorr_lag(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-correlation of click vs purchase daily counts at lags
    −3..+3 days — which way does the lead run, and by how many days
    (q188's single-lag corr widened to the full CCF the analyst
    actually reads)? Each lag is an equi-join on shifted DATE keys
    (integer day arithmetic — no interval types), the Pearson r comes
    from exact integer moments, and the epilogue is num/(√a·√b) —
    sqrt is IEEE-exact, so both engines agree bit-for-bit. Seven
    broadcast-sized joins over ONE day-grain frame."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    c = daily.where(F.col("event_type") == "click").select(
        F.col("d").alias("cd"), F.col("n").alias("x")
    )
    p = daily.where(F.col("event_type") == "purchase").select(
        F.col("d").alias("pd"), F.col("n").alias("y")
    )
    # ONE equi-join over all seven lags: explode the lag range onto the
    # click side (date_add(cd, lag) is the shifted key) and group the
    # integer moments by lag. The old per-lag loop unioned seven
    # independent join subtrees, and every subtree re-ran the events
    # scan + daily aggregate for BOTH sides — 14 full scans of the raw
    # table for a day-grain result (23 s at sf0.1). The 7-row lag
    # spine left-joins the aggregate so a zero-match lag still emits
    # its (m=0, xcorr NULL) row exactly like the old global agg.
    lagged = c.select(
        "x",
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("lag_days"),
        F.col("cd"),
    ).select("x", "lag_days", F.expr("date_add(cd, lag_days)").alias("pd"))
    agg = (
        lagged.join(p, "pd")
        .groupBy("lag_days")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
        )
    )
    spine = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag_days"))
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    va = (F.col("m") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vb = (F.col("m") * F.col("sy2") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return spine.join(
        agg.withColumn("lag_days", F.col("lag_days").cast("int")),
        "lag_days",
        "left",
    ).select(
        F.col("lag_days").cast("int").alias("lag_days"),
        F.coalesce(F.col("m"), F.lit(0)).cast("bigint").alias("n_days"),
        (num / (F.sqrt(va) * F.sqrt(vb))).alias("xcorr"),
    )


def _q_granger(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-1 Granger causality: does yesterday's click count improve
    the AR(1) prediction of today's purchase count? F-test of the
    restricted (y_t ~ y_{t−1}) vs unrestricted (y_t ~ y_{t−1} +
    x_{t−1}) OLS, both solved in CLOSED FORM from centered moments
    kept at common denominator n (Ĥab = n·Σab − Σa·Σb is a pure
    integer). The whole F statistic reduces to ONE ratio of exact
    decimal products: F = (n−3)·(numU·Ĥzz − Ĥzy²·D) /
    (Ĥzz·(Ĥyy·D − numU)) with numU = ĤwwĤzy² − 2ĤzwĤzyĤwy + ĤzzĤwy²
    and D = ĤzzĤww − Ĥzw² — all decimal(38)-exact through sf≈0.3
    (triple products ~1e34; bounds tracked in SCALING.md style), then
    one double division. Day-grain: two tiny series, one window lag,
    one reduce."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    y = daily.where(F.col("event_type") == "purchase").select(
        "d", F.col("n").alias("y")
    )
    x = daily.where(F.col("event_type") == "click").select(
        "d", F.col("n").alias("x")
    )
    j = y.join(x, "d")
    wo = Window.orderBy("d")
    lagged = j.select(
        F.col("y"),
        F.lag("y").over(wo).alias("z"),
        F.lag("x").over(wo).alias("w"),
    ).where(F.col("z").isNotNull() & F.col("w").isNotNull())
    agg = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("sww"),
        F.sum(F.col("z") * F.col("y")).cast("bigint").alias("szy"),
        F.sum(F.col("w") * F.col("y")).cast("bigint").alias("swy"),
        F.sum(F.col("z") * F.col("w")).cast("bigint").alias("szw"),
    )
    d19 = "decimal(19,0)"
    hat = agg.select(
        "m",
        (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast(d19)
        .alias("hyy"),
        (F.col("m") * F.col("szz") - F.col("sz") * F.col("sz"))
        .cast(d19)
        .alias("hzz"),
        (F.col("m") * F.col("sww") - F.col("sw") * F.col("sw"))
        .cast(d19)
        .alias("hww"),
        (F.col("m") * F.col("szy") - F.col("sz") * F.col("sy"))
        .cast(d19)
        .alias("hzy"),
        (F.col("m") * F.col("swy") - F.col("sw") * F.col("sy"))
        .cast(d19)
        .alias("hwy"),
        (F.col("m") * F.col("szw") - F.col("sz") * F.col("sw"))
        .cast(d19)
        .alias("hzw"),
    )
    num_u = (
        F.col("hww") * F.col("hzy") * F.col("hzy")
        - F.lit(2).cast("decimal(2,0)")
        * F.col("hzw")
        * F.col("hzy")
        * F.col("hwy")
        + F.col("hzz") * F.col("hwy") * F.col("hwy")
    )
    dd = F.col("hzz") * F.col("hww") - F.col("hzw") * F.col("hzw")
    a = (num_u * F.col("hzz")).cast("decimal(38,0)") - (
        F.col("hzy") * F.col("hzy") * dd
    ).cast("decimal(38,0)")
    b = (
        F.col("hzz") * ((F.col("hyy") * dd).cast("decimal(38,0)") - num_u.cast("decimal(38,0)"))
    ).cast("decimal(38,0)")
    return hat.select(
        F.col("m").alias("n_obs"),
        (
            (F.col("m") - 3).cast("double")
            * (a.cast("double") / b.cast("double"))
        ).alias("f_granger"),
    )


def _q_james_stein(spark: SparkSession, sf: str) -> DataFrame:
    """James–Stein (empirical-Bayes) shrinkage of per-type daily-mean
    counts toward the grand mean: shrunk_j = ḡ + c·(x̄_j − ḡ) with
    c = max(0, 1 − (k−3)·(MSW/m̄)/Σ(x̄_j−ḡ)²) — the estimator that
    dominates the raw per-group means for k ≥ 4 (balanced-variance
    form; the equal-m̄ simplification is documented). All inputs are
    exact integer moments; x̄_j, ḡ and both Σ folds are fixed double
    epilogues in literal EVENT_TYPES order (q384's discipline). Five
    output rows from ONE wide row — no second scan."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("q"),
    )
    wide = g.groupBy().pivot("event_type", EVENT_TYPES).agg(
        F.max(F.struct("s", "m", "q"))
    )
    nn = sum(
        (F.col(f"{t}.m") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    s_sum = sum(
        (F.col(f"{t}.s") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    q_sum = sum(
        (F.col(f"{t}.q") for t in EVENT_TYPES), F.lit(0)
    ).cast("bigint")
    k = len(EVENT_TYPES)
    # The shared epilogue terms (grand mean, pooled within-group MS,
    # between-group SS, shrink factor) are projected into NAMED
    # intermediate columns through chained selects instead of being
    # inlined into all five output structs: fully inlined, the
    # generated projection method blows the JVM's 64KB bytecode limit
    # and whole-stage codegen falls back to the interpreted path
    # (ERROR CodeGenerator in the gate log). CollapseProject keeps
    # multi-referenced non-cheap aliases in their own projection, so
    # the staged form compiles. Arithmetic ops and fold order are
    # IDENTICAL to the single-expression form — the hash vs the
    # DuckDB oracle is unchanged.
    stage1 = wide.select(
        *[
            F.col(f"{t}.s").cast("double").alias(f"__s_{t}")
            for t in EVENT_TYPES
        ],
        *[
            F.col(f"{t}.m").cast("double").alias(f"__m_{t}")
            for t in EVENT_TYPES
        ],
        nn.cast("double").alias("__nn"),
        s_sum.cast("double").alias("__ssum"),
        q_sum.cast("double").alias("__qsum"),
    )
    ssg_terms = [
        F.col(f"__s_{t}") * F.col(f"__s_{t}") / F.col(f"__m_{t}")
        for t in EVENT_TYPES
    ]
    ssg = ssg_terms[0]
    for term in ssg_terms[1:]:
        ssg = ssg + term
    stage2 = stage1.select(
        "*",
        (F.col("__ssum") / F.col("__nn")).alias("__gbar"),
        *[
            (F.col(f"__s_{t}") / F.col(f"__m_{t}")).alias(f"__xb_{t}")
            for t in EVENT_TYPES
        ],
        (
            (F.col("__qsum") - ssg)
            / (F.col("__nn") - F.lit(float(k)))
        ).alias("__msw"),
        (F.col("__nn") / F.lit(float(k))).alias("__mbar"),
    )
    dev_terms = [
        (F.col(f"__xb_{t}") - F.col("__gbar"))
        * (F.col(f"__xb_{t}") - F.col("__gbar"))
        for t in EVENT_TYPES
    ]
    ssb_means = dev_terms[0]
    for term in dev_terms[1:]:
        ssb_means = ssb_means + term
    stage3 = stage2.select("*", ssb_means.alias("__ssb"))
    c = F.greatest(
        F.lit(0.0),
        F.lit(1.0)
        - (F.lit(float(k - 3)) * (F.col("__msw") / F.col("__mbar")))
        / F.col("__ssb"),
    )
    stage4 = stage3.select("*", c.alias("__c"))
    rows = [
        F.struct(
            F.lit(t).alias("event_type"),
            F.col(f"__xb_{t}").alias("raw_mean"),
            (
                F.col("__gbar")
                + F.col("__c") * (F.col(f"__xb_{t}") - F.col("__gbar"))
            ).alias("shrunk_mean"),
        )
        for t in EVENT_TYPES
    ]
    return stage4.select(
        F.explode(F.array(*rows)).alias("r")
    ).select("r.*")


def _q_good_turing(spark: SparkSession, sf: str) -> DataFrame:
    """Good–Turing unseen-mass estimate per source: N₁/N (hapax share
    of tokens) — the classic answer to "how much of this source's
    vocabulary have we NOT seen yet", the coverage gate a corpus
    curator reads before declaring a crawl converged. Whitespace
    tokens (the repo-wide convention), integer counts end-to-end, ONE
    division per source."""
    docs = read_table(spark, sf, "documents")
    tc = docs.select(
        "source", F.explode(tokens("text")).alias("t")
    ).groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per = tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
    )
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        (
            F.col("n_hapax").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("unseen_mass"),
    )


def _q_kaplan_meier(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan–Meier survival of inter-purchase gaps: time-to-next-
    purchase in days per user, with the tail after each user's LAST
    purchase right-censored at the corpus horizon (2024-01-30) — the
    estimator behind every retention curve that must not pretend
    silent users converted. The distinct-duration life table (≤ 30
    rows — group-cardinality, never data-scale) is collected and the
    sequential product Π(1 − dᵢ/nᵢ) folds driver-side in Python; the
    oracle replays the identical IEEE op order in a recursive CTE
    (q390's discipline). One fact scan, one lead window, one
    day-grain reduce."""
    ev = read_table(spark, sf, "events")
    pur = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("pd"),
        )
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("pd")
    nxt = F.lead("pd").over(wu)
    spans = pur.select(
        F.when(
            nxt.isNotNull(), F.datediff(nxt, F.col("pd"))
        ).otherwise(
            F.datediff(F.lit("2024-01-30").cast("date"), F.col("pd"))
        ).cast("int").alias("dur"),
        F.when(nxt.isNotNull(), 1).otherwise(0).alias("obs"),
    )
    steps = spans.groupBy("dur").agg(
        F.sum("obs").cast("bigint").alias("d"),
        F.sum(1 - F.col("obs")).cast("bigint").alias("c"),
    ).collect()
    steps = sorted(steps, key=lambda r: r["dur"])
    n_risk = sum(r["d"] + r["c"] for r in steps)
    s = 1.0
    out = []
    for r in steps:
        s = s * (1.0 - r["d"] / n_risk)
        out.append((r["dur"], n_risk, r["d"], r["c"], s))
        n_risk -= r["d"] + r["c"]
    return spark.createDataFrame(
        out,
        "duration int, n_risk bigint, d_events bigint, "
        "c_censored bigint, survival double",
    )


def _q_binseg_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Single best changepoint in the grand daily-count series by
    binary segmentation: the split maximizing the between-segment sum
    of squares — CUSUM's (q83) offline sibling and the first split of
    any binseg/PELT tree. Gain = S_L²/n_L + S_R²/n_R − T²/N is
    computed from exact integer cumulatives (identical double ops on
    both engines — no accumulated float state), and the argmax is a
    deterministic (gain DESC, day ASC) top-1. Day-grain windows, one
    reduce."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wo = Window.orderBy("d")
    wall = Window.partitionBy(F.lit(1))
    cum = daily.select(
        "d",
        F.row_number().over(wo).cast("bigint").alias("i"),
        F.sum("n")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cs"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("nn"),
        F.sum("n").over(wall).cast("bigint").alias("tt"),
    )
    cand = cum.where(F.col("i") < F.col("nn"))
    gain = (
        (F.col("cs") * F.col("cs")).cast("double") / F.col("i").cast("double")
        + (
            (F.col("tt") - F.col("cs")) * (F.col("tt") - F.col("cs"))
        ).cast("double")
        / (F.col("nn") - F.col("i")).cast("double")
        - (F.col("tt") * F.col("tt")).cast("double") / F.col("nn").cast("double")
    )
    return (
        cand.select(
            F.col("d").alias("split_day"),
            F.col("i").alias("n_left"),
            (F.col("nn") - F.col("i")).alias("n_right"),
            gain.alias("gain"),
        )
        .orderBy(F.col("gain").desc(), F.col("split_day").asc())
        .limit(1)
    )


def _q_entropy_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Language-mix concentration per source: Shannon entropy (nats),
    Herfindahl index, and exp(H) effective-language count over each
    source's lang distribution — the monolingual-vs-mixed fingerprint
    a corpus router needs. Counts reduce distributed; the (source,
    lang) cell table (≤ a few dozen rows) is collected and the
    −Σp·ln p fold runs in PYTHON (libm — Spark's JVM ln differs from
    libm in the last bit; q395's discipline) in ascending-lang order,
    exactly as the oracle's ordered list_reduce replays it. Herfindahl
    stays an exact integer ratio."""
    import math

    docs = read_table(spark, sf, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).collect()
    by_src: dict[str, list] = {}
    for r in cells:
        by_src.setdefault(r["source"], []).append((r["lang"], r["c"]))
    out = []
    for src in sorted(by_src):
        langs = sorted(by_src[src])
        n = sum(c for _, c in langs)
        c2 = sum(c * c for _, c in langs)
        h = None
        for _, c in langs:
            p = c / n
            term = -(p * math.log(p))
            h = term if h is None else h + term
        out.append(
            (
                src,
                n,
                len(langs),
                h,
                float(c2) / float(n * n),
                math.exp(h),
            )
        )
    return spark.createDataFrame(
        out,
        "source string, n_docs bigint, n_langs bigint, entropy double, "
        "herfindahl double, effective_langs double",
    )


def _q_bartlett(spark: SparkSession, sf: str) -> DataFrame:
    """Bartlett's test for equal variances of daily counts across the
    five event types — the parametric (ln-based) sharp-toothed sibling
    of q392's Brown–Forsythe: χ² = [(N−k)·ln(S²_p) − Σ(m_j−1)·ln(S²_j)]
    / C with the standard correction C. Group variances are exact
    integer-moment rationals; the 5-row moment table is collected and
    the ln epilogue runs in PYTHON (libm, q395's discipline), folding
    every Σ in literal EVENT_TYPES order exactly as the oracle writes
    its terms. One fact scan, one 5-row reduce, one output row."""
    import math

    ev = read_table(spark, sf, "events")
    g = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("q"),
    )
    rows = {r["event_type"]: r for r in g.collect()}
    k = len(EVENT_TYPES)
    nn = sum(rows[t]["m"] for t in EVENT_TYPES)
    pooled_num = None
    lnsum = None
    invsum = None
    for t in EVENT_TYPES:
        m, s, q = rows[t]["m"], rows[t]["s"], rows[t]["q"]
        var = (m * q - s * s) / (m * (m - 1))
        tp = (m - 1) * var
        tl = (m - 1) * math.log(var)
        ti = 1.0 / (m - 1)
        pooled_num = tp if pooled_num is None else pooled_num + tp
        lnsum = tl if lnsum is None else lnsum + tl
        invsum = ti if invsum is None else invsum + ti
    pooled = pooled_num / (nn - k)
    cc = 1.0 + (invsum - 1.0 / (nn - k)) / (3.0 * (k - 1))
    chi2 = ((nn - k) * math.log(pooled) - lnsum) / cc
    return spark.createDataFrame(
        [(k, nn, pooled, chi2)],
        "k_groups int, n_days bigint, pooled_var double, "
        "bartlett_chi2 double",
    )


def _q_stl_lite(spark: SparkSession, sf: str) -> DataFrame:
    """Additive seasonal decomposition (STL-lite) of each type's daily
    counts: trend = centered 7-day moving average, seasonal = same-dow
    mean of the detrended series, remainder = the rest — the classic
    decomposition-101 view (q385 scores seasonality; this SHOWS it).
    Exactness: detrended values are kept at common denominator 7
    (D = 7n − S₇ is a pure integer), so the per-dow seasonal mean is
    ΣD/(7·m) — ONE division — and trend is S₇/7 — ONE division; the
    remainder is two fixed-order double subtractions. Only complete
    7-day windows emit rows. One fact scan, one window, one dow-grain
    join back."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        "d",
        "n",
        F.sum("n").over(w7).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w7).cast("bigint").alias("c7"),
    ).where(F.col("c7") == 7)
    det = ma.select(
        "event_type",
        "d",
        "n",
        "s7",
        (7 * F.col("n") - F.col("s7")).cast("bigint").alias("dnum"),
        F.dayofweek("d").cast("int").alias("dow"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.sum("dnum").cast("bigint").alias("sd_num"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    trend = F.col("s7").cast("double") / F.lit(7.0)
    seasonal = F.col("sd_num").cast("double") / (
        7 * F.col("m")
    ).cast("double")
    return det.join(seas, ["event_type", "dow"]).select(
        "event_type",
        "d",
        "n",
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        (
            (F.col("n").cast("double") - trend) - seasonal
        ).alias("remainder"),
    )


def _q_streak_days(spark: SparkSession, sf: str) -> DataFrame:
    """Longest strictly-above-median streak per event type (gaps-and-
    islands on the daily count series): how long does a hot spell
    RUN, not just how often days run hot (q325's runs test counts
    flips; this finds the worst sustained burst a capacity planner
    sizes for). Median is a percentile_disc TABLE VALUE, the island
    id i − rank is pure integer arithmetic, and the (length DESC,
    start ASC) top-1 per type is a deterministic window argmax.
    Integers end-to-end — no epilogue at all."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    meds = daily.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)").alias(
            "med"
        )
    )
    wt = Window.partitionBy("event_type").orderBy("d")
    idx = daily.join(F.broadcast(meds), "event_type").select(
        "event_type",
        "d",
        "n",
        F.row_number().over(wt).cast("bigint").alias("i"),
        (F.col("n") > F.col("med")).alias("hot"),
    )
    wf = Window.partitionBy("event_type").orderBy("d")
    isl = idx.where("hot").select(
        "event_type",
        "d",
        (F.col("i") - F.row_number().over(wf)).alias("grp"),
    )
    runs = isl.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_len"),
        F.min("d").alias("streak_start"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("streak_len").desc(), F.col("streak_start").asc()
    )
    return (
        runs.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select("event_type", "streak_len", "streak_start")
    )


def _q_ar1_fit(spark: SparkSession, sf: str) -> DataFrame:
    """AR(1) fit of each type's daily counts: φ, intercept and R² of
    n_t ~ n_{t−1} — mean reversion in one number (φ→0 noise, φ→1
    random walk; the model q24's Holt implicitly fights). All three
    come from the integer hat-moments Ĥab = m·Σab − Σa·Σb (exact
    bigints at day grain), with φ = Ĥxy/Ĥxx and R² = Ĥxy²/(ĤxxĤyy)
    as single divisions and the intercept a two-op double epilogue.
    One window lag, one reduce, five rows."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        F.col("n").alias("y"),
        F.lag("n").over(wt).alias("x"),
    ).where(F.col("x").isNotNull())
    agg = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
    )
    hxx = (F.col("m") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    hyy = (F.col("m") * F.col("sy2") - F.col("sy") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    hxy = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    phi = hxy.cast("double") / hxx.cast("double")
    return agg.select(
        "event_type",
        F.col("m").alias("n_obs"),
        phi.alias("phi"),
        (
            (F.col("sy").cast("double") - phi * F.col("sx").cast("double"))
            / F.col("m").cast("double")
        ).alias("intercept"),
        (
            (hxy * hxy).cast("double")
            / (hxx * hyy).cast("double")
        ).alias("r2"),
    )


def _q_mase(spark: SparkSession, sf: str) -> DataFrame:
    """MASE-style seasonal-naive skill score per event type: MAE of
    the naive-7 (same weekday last week) forecast over MAE of the
    naive-1 (yesterday) forecast — below 1 means the weekly cycle
    genuinely forecasts better than persistence, THE model-selection
    gate before fitting anything fancier. Absolute errors of integer
    counts are integers, so both MAEs are single divisions and the
    ratio is a third — no accumulated float state anywhere."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "n",
        F.lag("n", 1).over(wt).alias("l1"),
        F.lag("n", 7).over(wt).alias("l7"),
    )
    agg = lagged.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("l1").isNotNull(), F.abs(F.col("n") - F.col("l1"))
            )
        ).cast("bigint").alias("a1"),
        F.sum(F.when(F.col("l1").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("m1"),
        F.sum(
            F.when(
                F.col("l7").isNotNull(), F.abs(F.col("n") - F.col("l7"))
            )
        ).cast("bigint").alias("a7"),
        F.sum(F.when(F.col("l7").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("m7"),
    )
    mae1 = F.col("a1").cast("double") / F.col("m1").cast("double")
    mae7 = F.col("a7").cast("double") / F.col("m7").cast("double")
    return agg.select(
        "event_type",
        F.col("m7").alias("n_seasonal_errors"),
        mae1.alias("mae_naive1"),
        mae7.alias("mae_naive7"),
        (mae7 / mae1).alias("mase"),
    )


register_many(
    {
        'q384_icc': _q_icc,
        'q385_seasonal_strength': _q_seasonal_strength_dow,
        'q386_median_polish': _q_median_polish,
        'q387_cochran_q': _q_cochran_q,
        'q388_friedman': _q_friedman,
        'q389_cvm_two_sample': _q_cvm_two_sample,
        'q390_pacf': _q_pacf,
        'q391_kruskal_wallis': _q_kruskal_wallis,
        'q392_brown_forsythe': _q_brown_forsythe,
        'q393_allan_variance': _q_allan_variance,
        'q394_hurst_rs': _q_hurst_rs,
        'q395_psi_drift': _q_psi_drift,
        'q396_xcorr_lag': _q_xcorr_lag,
        'q397_granger': _q_granger,
        'q398_james_stein': _q_james_stein,
        'q399_good_turing': _q_good_turing,
        'q400_kaplan_meier': _q_kaplan_meier,
        'q401_binseg_changepoint': _q_binseg_changepoint,
        'q402_entropy_mix': _q_entropy_mix,
        'q403_bartlett': _q_bartlett,
        'q404_stl_lite': _q_stl_lite,
        'q405_streak_days': _q_streak_days,
        'q406_ar1_fit': _q_ar1_fit,
        'q407_mase': _q_mase,
    },
    {
        'q384_icc': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            wide AS (
              SELECT
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                  END) AS BIGINT) AS m_click,
                CAST(sum(CASE WHEN event_type = 'click' THEN n ELSE 0
                  END) AS BIGINT) AS s_click,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                  END) AS BIGINT) AS m_view,
                CAST(sum(CASE WHEN event_type = 'view' THEN n ELSE 0
                  END) AS BIGINT) AS s_view,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                  ELSE 0 END) AS BIGINT) AS m_purchase,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN n
                  ELSE 0 END) AS BIGINT) AS s_purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                  END) AS BIGINT) AS m_signup,
                CAST(sum(CASE WHEN event_type = 'signup' THEN n ELSE 0
                  END) AS BIGINT) AS s_signup,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                  END) AS BIGINT) AS m_error,
                CAST(sum(CASE WHEN event_type = 'error' THEN n ELSE 0
                  END) AS BIGINT) AS s_error,
                CAST(sum(n * n) AS BIGINT) AS q_sum
              FROM daily
            ),
            e AS (
              SELECT
                CAST(5 AS BIGINT) AS k,
                m_click + m_view + m_purchase + m_signup + m_error
                  AS nn,
                CAST(m_click * m_click + m_view * m_view
                  + m_purchase * m_purchase + m_signup * m_signup
                  + m_error * m_error AS BIGINT) AS m2_sum,
                s_click + s_view + s_purchase + s_signup + s_error
                  AS s_sum,
                q_sum,
                CAST(s_click AS DOUBLE) * CAST(s_click AS DOUBLE)
                  / CAST(m_click AS DOUBLE)
                + CAST(s_view AS DOUBLE) * CAST(s_view AS DOUBLE)
                  / CAST(m_view AS DOUBLE)
                + CAST(s_purchase AS DOUBLE)
                  * CAST(s_purchase AS DOUBLE)
                  / CAST(m_purchase AS DOUBLE)
                + CAST(s_signup AS DOUBLE) * CAST(s_signup AS DOUBLE)
                  / CAST(m_signup AS DOUBLE)
                + CAST(s_error AS DOUBLE) * CAST(s_error AS DOUBLE)
                  / CAST(m_error AS DOUBLE) AS ssb_fixed
              FROM wide
            ),
            f AS (
              SELECT k, nn, m2_sum,
                (ssb_fixed - CAST(s_sum AS DOUBLE)
                  * CAST(s_sum AS DOUBLE) / CAST(nn AS DOUBLE))
                  / CAST(k - 1 AS DOUBLE) AS msb,
                (CAST(q_sum AS DOUBLE) - ssb_fixed)
                  / CAST(nn - k AS DOUBLE) AS msw
              FROM e
            )
            SELECT k AS k_groups, nn AS n_days, msb, msw,
              (msb - msw) / (msb + ((CAST(nn AS DOUBLE)
                - CAST(m2_sum AS DOUBLE) / CAST(nn AS DOUBLE))
                / CAST(k - 1 AS DOUBLE) - 1.0) * msw) AS icc1
            FROM f
        """,
        'q385_seasonal_strength': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            dowed AS (
              SELECT event_type,
                CAST(dayofweek(d) + 1 AS INT) AS dow, n
              FROM daily
            ),
            wide AS (
              SELECT event_type,
                CAST(sum(CASE WHEN dow = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m1,
                CAST(sum(CASE WHEN dow = 1 THEN n ELSE 0 END)
                  AS BIGINT) AS s1,
                CAST(sum(CASE WHEN dow = 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m2,
                CAST(sum(CASE WHEN dow = 2 THEN n ELSE 0 END)
                  AS BIGINT) AS s2,
                CAST(sum(CASE WHEN dow = 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m3,
                CAST(sum(CASE WHEN dow = 3 THEN n ELSE 0 END)
                  AS BIGINT) AS s3,
                CAST(sum(CASE WHEN dow = 4 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m4,
                CAST(sum(CASE WHEN dow = 4 THEN n ELSE 0 END)
                  AS BIGINT) AS s4,
                CAST(sum(CASE WHEN dow = 5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m5,
                CAST(sum(CASE WHEN dow = 5 THEN n ELSE 0 END)
                  AS BIGINT) AS s5,
                CAST(sum(CASE WHEN dow = 6 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m6,
                CAST(sum(CASE WHEN dow = 6 THEN n ELSE 0 END)
                  AS BIGINT) AS s6,
                CAST(sum(CASE WHEN dow = 7 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m7,
                CAST(sum(CASE WHEN dow = 7 THEN n ELSE 0 END)
                  AS BIGINT) AS s7,
                CAST(sum(n) AS BIGINT) AS s_sum,
                CAST(sum(n * n) AS BIGINT) AS q_sum,
                CAST(count(*) AS BIGINT) AS m_sum
              FROM dowed GROUP BY event_type
            ),
            e AS (
              SELECT event_type, m_sum, s_sum, q_sum,
                (CASE WHEN m1 = 0 THEN 0.0 ELSE CAST(s1 AS DOUBLE)
                  * CAST(s1 AS DOUBLE) / CAST(m1 AS DOUBLE) END)
                + (CASE WHEN m2 = 0 THEN 0.0 ELSE CAST(s2 AS DOUBLE)
                  * CAST(s2 AS DOUBLE) / CAST(m2 AS DOUBLE) END)
                + (CASE WHEN m3 = 0 THEN 0.0 ELSE CAST(s3 AS DOUBLE)
                  * CAST(s3 AS DOUBLE) / CAST(m3 AS DOUBLE) END)
                + (CASE WHEN m4 = 0 THEN 0.0 ELSE CAST(s4 AS DOUBLE)
                  * CAST(s4 AS DOUBLE) / CAST(m4 AS DOUBLE) END)
                + (CASE WHEN m5 = 0 THEN 0.0 ELSE CAST(s5 AS DOUBLE)
                  * CAST(s5 AS DOUBLE) / CAST(m5 AS DOUBLE) END)
                + (CASE WHEN m6 = 0 THEN 0.0 ELSE CAST(s6 AS DOUBLE)
                  * CAST(s6 AS DOUBLE) / CAST(m6 AS DOUBLE) END)
                + (CASE WHEN m7 = 0 THEN 0.0 ELSE CAST(s7 AS DOUBLE)
                  * CAST(s7 AS DOUBLE) / CAST(m7 AS DOUBLE) END)
                AS ssg
              FROM wide
            )
            SELECT event_type, m_sum AS n_days,
              CAST(q_sum AS DOUBLE) - CAST(s_sum AS DOUBLE)
                * CAST(s_sum AS DOUBLE) / CAST(m_sum AS DOUBLE)
                AS sst,
              CAST(q_sum AS DOUBLE) - ssg AS ss_remainder,
              greatest(0.0, 1.0 - (CAST(q_sum AS DOUBLE) - ssg)
                / (CAST(q_sum AS DOUBLE) - CAST(s_sum AS DOUBLE)
                   * CAST(s_sum AS DOUBLE) / CAST(m_sum AS DOUBLE)))
                AS seasonal_strength
            FROM e
        """,
        'q386_median_polish': """
            WITH daily AS (
              SELECT date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1
            ),
            cells AS (
              SELECT CAST(dayofweek(d) + 1 AS INT) AS dow,
                CAST(floor(datediff('day', DATE '2024-01-01',
                  CAST(d AS DATE)) / 7) AS INT) AS wk,
                n
              FROM daily
            ),
            row_med AS (
              SELECT dow, CAST(quantile_disc(n, 0.5) AS BIGINT)
                AS row_eff
              FROM cells GROUP BY dow
            ),
            r1 AS (
              SELECT c.dow, c.wk, c.n, r.row_eff,
                c.n - r.row_eff AS r1
              FROM cells c JOIN row_med r ON c.dow = r.dow
            ),
            col_med AS (
              SELECT wk, CAST(quantile_disc(r1, 0.5) AS BIGINT)
                AS col_eff
              FROM r1 GROUP BY wk
            )
            SELECT r1.dow, r1.wk, r1.n, r1.row_eff, c.col_eff,
              CAST(r1.r1 - c.col_eff AS BIGINT) AS resid
            FROM r1 JOIN col_med c ON r1.wk = c.wk
        """,
        'q387_cochran_q': """
            WITH daily AS (
              SELECT date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1
            ),
            med AS (
              SELECT CAST(quantile_disc(n, 0.5) AS BIGINT) AS med
              FROM daily
            ),
            flags AS (
              SELECT d, n,
                lag(n, 1) OVER (ORDER BY d) AS p1,
                lag(n, 7) OVER (ORDER BY d) AS p7
              FROM daily
            ),
            scored AS (
              SELECT
                CASE WHEN n > p1 THEN 1 ELSE 0 END AS a,
                CASE WHEN n > p7 THEN 1 ELSE 0 END AS b,
                CASE WHEN n > med THEN 1 ELSE 0 END AS c
              FROM flags, med
              WHERE p1 IS NOT NULL AND p7 IS NOT NULL
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_days,
                CAST(sum(a) AS BIGINT) AS ga,
                CAST(sum(b) AS BIGINT) AS gb,
                CAST(sum(c) AS BIGINT) AS gc,
                CAST(sum(a + b + c) AS BIGINT) AS sl,
                CAST(sum((a + b + c) * (a + b + c)) AS BIGINT) AS sl2
              FROM scored
            )
            SELECT n_days, ga, gb, gc,
              CAST(2 * (3 * (ga * ga + gb * gb + gc * gc) - sl * sl)
                AS DOUBLE) / CAST(3 * sl - sl2 AS DOUBLE) AS cochran_q
            FROM agg
        """,
        'q388_friedman': """
            WITH daily0 AS (
              SELECT date_trunc('day', ts) AS d, event_type,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            kall AS (
              SELECT CAST(count(DISTINCT event_type) AS BIGINT)
                AS k_all
              FROM daily0
            ),
            daily AS (
              SELECT d, event_type, n FROM (
                SELECT d, event_type, n,
                  count(*) OVER (PARTITION BY d) AS d_cnt,
                  (SELECT k_all FROM kall) AS k_all
                FROM daily0
              ) WHERE d_cnt = k_all
            ),
            ranked AS (
              SELECT d, event_type,
                CAST(2 * rank() OVER (PARTITION BY d ORDER BY n)
                  + count(*) OVER (PARTITION BY d, n) - 1 AS BIGINT)
                  AS r2
              FROM daily
            ),
            sums AS (
              SELECT event_type,
                CAST(sum(r2) AS BIGINT) AS rsum2,
                CAST(count(*) AS BIGINT) AS n_days
              FROM ranked GROUP BY event_type
            ),
            tot AS (
              SELECT CAST(max(n_days) AS BIGINT) AS nn,
                CAST(sum(rsum2 * rsum2) AS BIGINT) AS sr2,
                CAST(count(*) AS BIGINT) AS k
              FROM sums
            )
            SELECT nn AS n_days, k AS k_treatments,
              3.0 * CAST(sr2 AS DOUBLE)
                / CAST(nn * k * (k + 1) AS DOUBLE)
              - 3.0 * CAST(nn * (k + 1) AS DOUBLE) AS friedman_chi2
            FROM tot
        """,
        'q389_cvm_two_sample': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            base AS (
              SELECT event_type, d, n,
                CASE WHEN d < TIMESTAMP '2024-01-16' THEN 'a'
                  ELSE 'b' END AS h
              FROM daily
            ),
            ranked AS (
              SELECT event_type, h,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY n, d) AS BIGINT) AS r,
                CAST(row_number() OVER (PARTITION BY event_type, h
                  ORDER BY n, d) AS BIGINT) AS i
              FROM base
            ),
            agg AS (
              SELECT event_type,
                CAST(sum(CASE WHEN h = 'a' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN h = 'b' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
                CAST(sum(CASE WHEN h = 'a' THEN (r - i) * (r - i)
                  ELSE 0 END) AS BIGINT) AS ua,
                CAST(sum(CASE WHEN h = 'b' THEN (r - i) * (r - i)
                  ELSE 0 END) AS BIGINT) AS ub
              FROM ranked GROUP BY event_type
            )
            SELECT event_type, n_a, n_b,
              CAST(n_a * ua + n_b * ub AS BIGINT) AS u,
              CAST(n_a * ua + n_b * ub AS DOUBLE)
                / CAST(n_a * n_b * (n_a + n_b) AS DOUBLE)
              - CAST(4 * n_a * n_b - 1 AS DOUBLE)
                / CAST(6 * (n_a + n_b) AS DOUBLE) AS cvm_t
            FROM agg
        """,
        'q390_pacf': """
            WITH RECURSIVE daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            mom AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS m,
                CAST(sum(n) AS BIGINT) AS s
              FROM daily GROUP BY event_type
            ),
            lagged AS (
              SELECT d.event_type,
                mom.m * d.n - mom.s AS c0,
                mom.m * lag(d.n, 1) OVER w - mom.s AS c1,
                mom.m * lag(d.n, 2) OVER w - mom.s AS c2,
                mom.m * lag(d.n, 3) OVER w - mom.s AS c3,
                mom.m * lag(d.n, 4) OVER w - mom.s AS c4,
                mom.m * lag(d.n, 5) OVER w - mom.s AS c5,
                mom.m * lag(d.n, 6) OVER w - mom.s AS c6,
                mom.m * lag(d.n, 7) OVER w - mom.s AS c7
              FROM daily d JOIN mom USING (event_type)
              WINDOW w AS (PARTITION BY d.event_type ORDER BY d.d)
            ),
            acf AS (
              SELECT event_type,
                [CAST(CAST(sum(c0 * c1) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(sum(c0 * c0) AS BIGINT) AS DOUBLE),
                 CAST(CAST(sum(c0 * c2) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(sum(c0 * c0) AS BIGINT) AS DOUBLE),
                 CAST(CAST(sum(c0 * c3) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(sum(c0 * c0) AS BIGINT) AS DOUBLE),
                 CAST(CAST(sum(c0 * c4) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(sum(c0 * c0) AS BIGINT) AS DOUBLE),
                 CAST(CAST(sum(c0 * c5) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(sum(c0 * c0) AS BIGINT) AS DOUBLE),
                 CAST(CAST(sum(c0 * c6) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(sum(c0 * c0) AS BIGINT) AS DOUBLE),
                 CAST(CAST(sum(c0 * c7) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(sum(c0 * c0) AS BIGINT) AS DOUBLE)]
                  AS r
              FROM lagged GROUP BY event_type
            ),
            dl AS (
              SELECT event_type, r, CAST(0 AS BIGINT) AS k,
                CAST([] AS DOUBLE[]) AS phi,
                CAST(NULL AS DOUBLE) AS pkk
              FROM acf
              UNION ALL
              SELECT d.event_type, d.r, d.k + 1,
                list_append(
                  list_transform(
                    range(1, CAST(d.k AS INT) + 1),
                    j -> d.phi[j] - t.pkk
                      * d.phi[CAST(d.k AS INT) + 1 - j]),
                  t.pkk),
                t.pkk
              FROM dl d,
              LATERAL (
                SELECT
                  list_reduce(
                    list_concat([d.r[CAST(d.k AS INT) + 1]],
                      list_transform(range(1, CAST(d.k AS INT) + 1),
                        j -> d.phi[j]
                          * d.r[CAST(d.k AS INT) + 1 - j])),
                    (a, b) -> a - b)
                  / list_reduce(
                    list_concat([CAST(1.0 AS DOUBLE)],
                      list_transform(range(1, CAST(d.k AS INT) + 1),
                        j -> d.phi[j] * d.r[j])),
                    (a, b) -> a - b) AS pkk
              ) t
              WHERE d.k < 7
            )
            SELECT event_type, CAST(k AS INT) AS lag, pkk AS pacf
            FROM dl WHERE k >= 1
        """,
        'q391_kruskal_wallis': f"""
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            ranked AS (
              SELECT event_type,
                CAST(2 * rank() OVER (ORDER BY n)
                  + count(*) OVER (PARTITION BY n) - 1 AS BIGINT) AS r2,
                CAST(count(*) OVER (PARTITION BY n) AS BIGINT) AS tsz
              FROM daily
            ),
            g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS m,
                CAST(sum(r2) AS BIGINT) AS s,
                CAST(sum(tsz * tsz - 1) AS BIGINT) AS tp
              FROM ranked GROUP BY event_type
            ),
            wide AS (
              SELECT
                {", ".join(f"CAST(sum(CASE WHEN event_type = '{t}' THEN s END) AS BIGINT) AS s_{t}, CAST(sum(CASE WHEN event_type = '{t}' THEN m END) AS BIGINT) AS m_{t}" for t in EVENT_TYPES)},
                CAST(sum(m) AS BIGINT) AS nn,
                CAST(sum(tp) AS BIGINT) AS tie_sum
              FROM g
            ),
            e AS (
              SELECT nn, tie_sum,
                {" + ".join(f"CAST(s_{t} AS DOUBLE) * CAST(s_{t} AS DOUBLE) / CAST(m_{t} AS DOUBLE)" for t in EVENT_TYPES)} AS srr
              FROM wide
            )
            SELECT nn AS n_cells,
              3.0 * srr / CAST(nn * (nn + 1) AS DOUBLE)
                - 3.0 * CAST(nn + 1 AS DOUBLE) AS h_stat,
              (3.0 * srr / CAST(nn * (nn + 1) AS DOUBLE)
                - 3.0 * CAST(nn + 1 AS DOUBLE))
                / (1.0 - CAST(tie_sum AS DOUBLE)
                    / CAST(nn * nn * nn - nn AS DOUBLE)) AS h_corrected
            FROM e
        """,
        'q392_brown_forsythe': f"""
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            meds AS (
              SELECT event_type,
                percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS med
              FROM daily GROUP BY event_type
            ),
            z AS (
              SELECT d.event_type,
                CAST(abs(d.n - m.med) AS BIGINT) AS z
              FROM daily d JOIN meds m USING (event_type)
            ),
            g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS m,
                CAST(sum(z) AS BIGINT) AS s,
                CAST(sum(z * z) AS BIGINT) AS q
              FROM z GROUP BY event_type
            ),
            wide AS (
              SELECT
                {", ".join(f"CAST(sum(CASE WHEN event_type = '{t}' THEN s END) AS BIGINT) AS s_{t}, CAST(sum(CASE WHEN event_type = '{t}' THEN m END) AS BIGINT) AS m_{t}" for t in EVENT_TYPES)},
                CAST(sum(m) AS BIGINT) AS nn,
                CAST(sum(s) AS BIGINT) AS s_sum,
                CAST(sum(q) AS BIGINT) AS q_sum
              FROM g
            ),
            e AS (
              SELECT nn, s_sum, q_sum,
                {" + ".join(f"CAST(s_{t} AS DOUBLE) * CAST(s_{t} AS DOUBLE) / CAST(m_{t} AS DOUBLE)" for t in EVENT_TYPES)} AS ssg
              FROM wide
            )
            SELECT CAST(5 AS BIGINT) AS k_groups, nn AS n_days,
              CAST(4 AS BIGINT) AS df1, nn - 5 AS df2,
              ((ssg - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE)
                  / CAST(nn AS DOUBLE)) / CAST(4 AS DOUBLE))
                / ((CAST(q_sum AS DOUBLE) - ssg)
                  / CAST(nn - 5 AS DOUBLE)) AS f_stat
            FROM e
        """,
        'q393_allan_variance': f"""
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            idx AS (
              SELECT event_type, n,
                CAST(row_number() OVER (
                  PARTITION BY event_type ORDER BY d) AS BIGINT) AS i
              FROM daily
            )
            {" UNION ALL ".join(f'''
            SELECT event_type, CAST({tau} AS INT) AS tau, m_bins,
              CAST(sd2 AS DOUBLE)
                / CAST(2 * (m_bins - 1) * {tau} * {tau} AS DOUBLE)
                AS allan_var
            FROM (
              SELECT event_type, CAST(count(*) AS BIGINT) AS m_bins,
                CAST(sum(diff * diff) AS BIGINT) AS sd2
              FROM (
                SELECT event_type,
                  lead(sb) OVER (PARTITION BY event_type ORDER BY b)
                    - sb AS diff
                FROM (
                  SELECT event_type, b, count(*) AS cnt,
                    CAST(sum(n) AS BIGINT) AS sb
                  FROM (
                    SELECT event_type, n, (i - 1) // {tau} AS b
                    FROM idx
                  ) GROUP BY event_type, b HAVING count(*) = {tau}
                )
              ) GROUP BY event_type
            )''' for tau in (1, 2, 3))}
        """,
        'q394_hurst_rs': f"""
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            idx AS (
              SELECT event_type, d, n,
                CAST(row_number() OVER (
                  PARTITION BY event_type ORDER BY d) AS BIGINT) AS i
              FROM daily
            )
            {" UNION ALL ".join(f'''
            SELECT event_type, CAST({w} AS INT) AS w,
              CAST(blk AS BIGINT) AS block,
              CAST(r_scaled AS DOUBLE)
                / sqrt(CAST({w} * q - s * s AS DOUBLE)) AS rs
            FROM (
              SELECT event_type, blk, s, q,
                CAST(max(dev) - min(dev) AS BIGINT) AS r_scaled
              FROM (
                SELECT r.event_type, r.blk, b.s, b.q,
                  CAST({w} * sum(r.n) OVER (
                      PARTITION BY r.event_type, r.blk ORDER BY r.d
                      ROWS UNBOUNDED PRECEDING)
                    - r.t_in * b.s AS BIGINT) AS dev
                FROM (
                  SELECT event_type, d, n,
                    (i - 1) // {w} AS blk,
                    i - ((i - 1) // {w}) * {w} AS t_in
                  FROM idx
                ) r JOIN (
                  SELECT event_type, blk, count(*) AS cnt,
                    CAST(sum(n) AS BIGINT) AS s,
                    CAST(sum(n * n) AS BIGINT) AS q
                  FROM (
                    SELECT event_type, n, (i - 1) // {w} AS blk
                    FROM idx
                  ) GROUP BY event_type, blk HAVING count(*) = {w}
                ) b USING (event_type, blk)
              ) GROUP BY event_type, blk, s, q
            )''' for w in (8, 16))}
        """,
        'q395_psi_drift': f"""
            WITH base AS (
              SELECT CAST(value AS DECIMAL(18,2)) AS v,
                ts < TIMESTAMP '2024-01-16' AS is_train
              FROM events WHERE value IS NOT NULL
            ),
            ed AS (
              SELECT
                {", ".join(f"percentile_disc(0.{k}) WITHIN GROUP (ORDER BY v) AS e{k}" for k in range(1, 10))}
              FROM base WHERE is_train
            ),
            b AS (
              SELECT is_train,
                {" + ".join(f"(CASE WHEN v > (SELECT e{k} FROM ed) THEN 1 ELSE 0 END)" for k in range(1, 10))} AS bin
              FROM base
            ),
            counts AS (
              SELECT bin,
                CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_train,
                CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END)
                  AS BIGINT) AS c_test
              FROM b GROUP BY bin
            ),
            wide AS (
              SELECT
                {", ".join(f"coalesce(max(CASE WHEN bin = {k} THEN c_train END), 0) AS tr{k}, coalesce(max(CASE WHEN bin = {k} THEN c_test END), 0) AS te{k}" for k in range(10))},
                CAST(sum(c_train) AS BIGINT) AS n_train,
                CAST(sum(c_test) AS BIGINT) AS n_test
              FROM counts
            ),
            pq AS (
              SELECT n_train, n_test,
                {", ".join(f"CAST(tr{k} + 1 AS DOUBLE) / CAST(n_train + 10 AS DOUBLE) AS p{k}, CAST(te{k} + 1 AS DOUBLE) / CAST(n_test + 10 AS DOUBLE) AS q{k}" for k in range(10))}
              FROM wide
            )
            SELECT n_train, n_test,
              {" + ".join(f"(p{k} - q{k}) * ln(p{k} / q{k})" for k in range(10))} AS psi
            FROM pq
        """,
        'q396_xcorr_lag': f"""
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            c AS (
              SELECT d AS cd, n AS x FROM daily
              WHERE event_type = 'click'
            ),
            p AS (
              SELECT d AS pd, n AS y FROM daily
              WHERE event_type = 'purchase'
            )
            {" UNION ALL ".join(f'''
            SELECT CAST({lag} AS INT) AS lag_days, m AS n_days,
              CAST(m * sxy - sx * sy AS DOUBLE)
                / (sqrt(CAST(m * sx2 - sx * sx AS DOUBLE))
                   * sqrt(CAST(m * sy2 - sy * sy AS DOUBLE))) AS xcorr
            FROM (
              SELECT CAST(count(*) AS BIGINT) AS m,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sx2,
                CAST(sum(y * y) AS BIGINT) AS sy2
              FROM c JOIN p ON cd + ({lag}) = pd
            )''' for lag in range(-3, 4))}
        """,
        'q397_granger': """
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            yy AS (
              SELECT d, n AS y FROM daily WHERE event_type = 'purchase'
            ),
            xx AS (
              SELECT d, n AS x FROM daily WHERE event_type = 'click'
            ),
            j AS (
              SELECT yy.d, yy.y, xx.x FROM yy JOIN xx USING (d)
            ),
            lagged AS (
              SELECT y,
                lag(y) OVER (ORDER BY d) AS z,
                lag(x) OVER (ORDER BY d) AS w
              FROM j
            ),
            fl AS (
              SELECT * FROM lagged
              WHERE z IS NOT NULL AND w IS NOT NULL
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(z) AS BIGINT) AS sz,
                CAST(sum(w) AS BIGINT) AS sw,
                CAST(sum(y * y) AS BIGINT) AS syy,
                CAST(sum(z * z) AS BIGINT) AS szz,
                CAST(sum(w * w) AS BIGINT) AS sww,
                CAST(sum(z * y) AS BIGINT) AS szy,
                CAST(sum(w * y) AS BIGINT) AS swy,
                CAST(sum(z * w) AS BIGINT) AS szw
              FROM fl
            ),
            hat AS (
              SELECT m,
                CAST(m * syy - sy * sy AS HUGEINT) AS hyy,
                CAST(m * szz - sz * sz AS HUGEINT) AS hzz,
                CAST(m * sww - sw * sw AS HUGEINT) AS hww,
                CAST(m * szy - sz * sy AS HUGEINT) AS hzy,
                CAST(m * swy - sw * sy AS HUGEINT) AS hwy,
                CAST(m * szw - sz * sw AS HUGEINT) AS hzw
              FROM agg
            ),
            e AS (
              SELECT m, hyy, hzz, hzy,
                hww * hzy * hzy - 2 * hzw * hzy * hwy
                  + hzz * hwy * hwy AS num_u,
                hzz * hww - hzw * hzw AS dd
              FROM hat
            ),
            f2 AS (
              SELECT m,
                num_u * hzz - hzy * hzy * dd AS a,
                hzz * (hyy * dd - num_u) AS b
              FROM e
            )
            SELECT m AS n_obs,
              CAST(m - 3 AS DOUBLE)
                * (CAST(a AS DOUBLE) / CAST(b AS DOUBLE)) AS f_granger
            FROM f2
        """,
        'q398_james_stein': f"""
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS m,
                CAST(sum(n) AS BIGINT) AS s,
                CAST(sum(n * n) AS BIGINT) AS q
              FROM daily GROUP BY event_type
            ),
            wide AS (
              SELECT
                {", ".join(f"CAST(sum(CASE WHEN event_type = '{t}' THEN s END) AS BIGINT) AS s_{t}, CAST(sum(CASE WHEN event_type = '{t}' THEN m END) AS BIGINT) AS m_{t}" for t in EVENT_TYPES)},
                CAST(sum(m) AS BIGINT) AS nn,
                CAST(sum(s) AS BIGINT) AS s_sum,
                CAST(sum(q) AS BIGINT) AS q_sum
              FROM g
            ),
            e AS (
              SELECT *,
                CAST(s_sum AS DOUBLE) / CAST(nn AS DOUBLE) AS gbar,
                {" + ".join(f"CAST(s_{t} AS DOUBLE) * CAST(s_{t} AS DOUBLE) / CAST(m_{t} AS DOUBLE)" for t in EVENT_TYPES)} AS ssg
              FROM wide
            ),
            f AS (
              SELECT *,
                (CAST(q_sum AS DOUBLE) - ssg)
                  / CAST(nn - 5 AS DOUBLE) AS msw,
                CAST(nn AS DOUBLE) / 5.0 AS mbar,
                {" + ".join(f"(CAST(s_{t} AS DOUBLE) / CAST(m_{t} AS DOUBLE) - gbar) * (CAST(s_{t} AS DOUBLE) / CAST(m_{t} AS DOUBLE) - gbar)" for t in EVENT_TYPES)} AS ssb
              FROM e
            ),
            g2 AS (
              SELECT *,
                greatest(0.0, 1.0 - (2.0 * (msw / mbar)) / ssb) AS c
              FROM f
            )
            {" UNION ALL ".join(f'''
            SELECT '{t}' AS event_type,
              CAST(s_{t} AS DOUBLE) / CAST(m_{t} AS DOUBLE) AS raw_mean,
              gbar + c * (CAST(s_{t} AS DOUBLE) / CAST(m_{t} AS DOUBLE)
                - gbar) AS shrunk_mean
            FROM g2''' for t in EVENT_TYPES)}
        """,
        'q399_good_turing': r"""
            WITH tok AS (
              SELECT source,
                unnest(list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '')) AS t
              FROM documents
            ),
            tc AS (
              SELECT source, t, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2
            )
            SELECT source,
              CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS n_types,
              CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hapax,
              CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(sum(c) AS DOUBLE) AS unseen_mass
            FROM tc GROUP BY source
        """,
        'q400_kaplan_meier': """
            WITH RECURSIVE pur AS (
              SELECT DISTINCT user_id,
                CAST(date_trunc('day', ts) AS DATE) AS pd
              FROM events WHERE event_type = 'purchase'
            ),
            sp AS (
              SELECT
                CASE WHEN nxt IS NULL
                  THEN datediff('day', pd, DATE '2024-01-30')
                  ELSE datediff('day', pd, nxt) END AS dur,
                CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS obs
              FROM (
                SELECT pd, lead(pd) OVER (
                  PARTITION BY user_id ORDER BY pd) AS nxt
                FROM pur
              )
            ),
            steps AS (
              SELECT CAST(dur AS INT) AS dur,
                CAST(sum(obs) AS BIGINT) AS d,
                CAST(sum(1 - obs) AS BIGINT) AS c
              FROM sp GROUP BY 1
            ),
            ord AS (
              SELECT dur, d, c,
                CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS rn
              FROM steps
            ),
            rec AS (
              SELECT CAST(0 AS BIGINT) AS rn,
                CAST((SELECT sum(d + c) FROM steps) AS BIGINT)
                  AS n_next,
                CAST(1.0 AS DOUBLE) AS s
              UNION ALL
              SELECT o.rn, r.n_next - (o.d + o.c),
                r.s * (1.0 - CAST(o.d AS DOUBLE)
                  / CAST(r.n_next AS DOUBLE))
              FROM rec r JOIN ord o ON o.rn = r.rn + 1
            )
            SELECT o.dur AS duration, r0.n_next AS n_risk,
              o.d AS d_events, o.c AS c_censored, r.s AS survival
            FROM ord o
            JOIN rec r ON r.rn = o.rn
            JOIN rec r0 ON r0.rn = o.rn - 1
        """,
        'q401_binseg_changepoint': """
            WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1
            ),
            cum AS (
              SELECT d,
                CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
                CAST(sum(n) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cs,
                CAST(count(*) OVER () AS BIGINT) AS nn,
                CAST(sum(n) OVER () AS BIGINT) AS tt
              FROM daily
            )
            SELECT d AS split_day, i AS n_left, nn - i AS n_right,
              CAST(cs * cs AS DOUBLE) / CAST(i AS DOUBLE)
                + CAST((tt - cs) * (tt - cs) AS DOUBLE)
                  / CAST(nn - i AS DOUBLE)
                - CAST(tt * tt AS DOUBLE) / CAST(nn AS DOUBLE) AS gain
            FROM cum WHERE i < nn
            ORDER BY gain DESC, split_day ASC LIMIT 1
        """,
        'q402_entropy_mix': """
            WITH c AS (
              SELECT source, lang, CAST(count(*) AS BIGINT) AS c
              FROM documents GROUP BY 1, 2
            ),
            tot AS (
              SELECT source, CAST(sum(c) AS BIGINT) AS n,
                CAST(sum(c * c) AS BIGINT) AS c2,
                CAST(count(*) AS BIGINT) AS nl
              FROM c GROUP BY source
            ),
            ent AS (
              SELECT c.source,
                list_reduce(
                  list(-(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)
                    * ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)))
                    ORDER BY c.lang),
                  (a, b) -> a + b) AS h
              FROM c JOIN tot t USING (source) GROUP BY c.source
            )
            SELECT t.source, t.n AS n_docs, t.nl AS n_langs,
              e.h AS entropy,
              CAST(t.c2 AS DOUBLE)
                / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))
                AS herfindahl,
              exp(e.h) AS effective_langs
            FROM tot t JOIN ent e ON e.source = t.source
        """,
        'q403_bartlett': f"""
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS m,
                CAST(sum(n) AS BIGINT) AS s,
                CAST(sum(n * n) AS BIGINT) AS q
              FROM daily GROUP BY event_type
            ),
            wide AS (
              SELECT
                {", ".join(f"CAST(sum(CASE WHEN event_type = '{t}' THEN m END) AS BIGINT) AS m_{t}, CAST(sum(CASE WHEN event_type = '{t}' THEN s END) AS BIGINT) AS s_{t}, CAST(sum(CASE WHEN event_type = '{t}' THEN q END) AS BIGINT) AS q_{t}" for t in EVENT_TYPES)},
                CAST(sum(m) AS BIGINT) AS nn
              FROM g
            ),
            v AS (
              SELECT *,
                {", ".join(f"CAST(m_{t} * q_{t} - s_{t} * s_{t} AS DOUBLE) / CAST(m_{t} * (m_{t} - 1) AS DOUBLE) AS var_{t}" for t in EVENT_TYPES)}
              FROM wide
            ),
            e AS (
              SELECT *,
                {" + ".join(f"CAST(m_{t} - 1 AS DOUBLE) * var_{t}" for t in EVENT_TYPES)} AS pooled_num,
                {" + ".join(f"CAST(m_{t} - 1 AS DOUBLE) * ln(var_{t})" for t in EVENT_TYPES)} AS lnsum,
                {" + ".join(f"1.0 / CAST(m_{t} - 1 AS DOUBLE)" for t in EVENT_TYPES)} AS invsum
              FROM v
            )
            SELECT CAST(5 AS INT) AS k_groups, nn AS n_days,
              pooled_num / CAST(nn - 5 AS DOUBLE) AS pooled_var,
              (CAST(nn - 5 AS DOUBLE)
                  * ln(pooled_num / CAST(nn - 5 AS DOUBLE)) - lnsum)
                / (1.0 + (invsum - 1.0 / CAST(nn - 5 AS DOUBLE))
                    / 12.0) AS bartlett_chi2
            FROM e
        """,
        'q404_stl_lite': """
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            ma AS (
              SELECT event_type, d, n,
                CAST(sum(n) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS s7,
                CAST(count(*) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS c7
              FROM daily
            ),
            det AS (
              SELECT event_type, d, n, s7,
                CAST(7 * n - s7 AS BIGINT) AS dnum,
                CAST(dayofweek(d) + 1 AS INT) AS dow
              FROM ma WHERE c7 = 7
            ),
            seas AS (
              SELECT event_type, dow,
                CAST(sum(dnum) AS BIGINT) AS sd_num,
                CAST(count(*) AS BIGINT) AS m
              FROM det GROUP BY 1, 2
            )
            SELECT det.event_type, det.d, det.n,
              CAST(s7 AS DOUBLE) / 7.0 AS trend,
              CAST(sd_num AS DOUBLE) / CAST(7 * m AS DOUBLE)
                AS seasonal,
              (CAST(n AS DOUBLE) - CAST(s7 AS DOUBLE) / 7.0)
                - CAST(sd_num AS DOUBLE) / CAST(7 * m AS DOUBLE)
                AS remainder
            FROM det JOIN seas USING (event_type, dow)
        """,
        'q405_streak_days': """
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            meds AS (
              SELECT event_type,
                percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS med
              FROM daily GROUP BY event_type
            ),
            idx AS (
              SELECT d.event_type, d.d, d.n,
                CAST(row_number() OVER (
                  PARTITION BY d.event_type ORDER BY d.d)
                  AS BIGINT) AS i,
                d.n > m.med AS hot
              FROM daily d JOIN meds m USING (event_type)
            ),
            isl AS (
              SELECT event_type, d,
                i - CAST(row_number() OVER (
                  PARTITION BY event_type ORDER BY d) AS BIGINT)
                  AS grp
              FROM idx WHERE hot
            ),
            runs AS (
              SELECT event_type, grp,
                CAST(count(*) AS BIGINT) AS streak_len,
                min(d) AS streak_start
              FROM isl GROUP BY 1, 2
            )
            SELECT event_type, streak_len, streak_start FROM (
              SELECT *, row_number() OVER (
                PARTITION BY event_type
                ORDER BY streak_len DESC, streak_start ASC) AS rk
              FROM runs
            ) WHERE rk = 1
        """,
        'q406_ar1_fit': """
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            lagged AS (
              SELECT event_type, n AS y,
                lag(n) OVER (PARTITION BY event_type ORDER BY d) AS x
              FROM daily
            ),
            agg AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS m,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sx2,
                CAST(sum(y * y) AS BIGINT) AS sy2
              FROM lagged WHERE x IS NOT NULL GROUP BY event_type
            ),
            hat AS (
              SELECT event_type, m, sx, sy,
                CAST(m * sx2 - sx * sx AS HUGEINT) AS hxx,
                CAST(m * sy2 - sy * sy AS HUGEINT) AS hyy,
                CAST(m * sxy - sx * sy AS HUGEINT) AS hxy
              FROM agg
            )
            SELECT event_type, m AS n_obs,
              CAST(hxy AS DOUBLE) / CAST(hxx AS DOUBLE) AS phi,
              (CAST(sy AS DOUBLE)
                - CAST(hxy AS DOUBLE) / CAST(hxx AS DOUBLE)
                  * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE)
                AS intercept,
              CAST(hxy * hxy AS DOUBLE)
                / CAST(hxx * hyy AS DOUBLE) AS r2
            FROM hat
        """,
        'q407_mase': """
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            lagged AS (
              SELECT event_type, n,
                lag(n, 1) OVER (PARTITION BY event_type ORDER BY d)
                  AS l1,
                lag(n, 7) OVER (PARTITION BY event_type ORDER BY d)
                  AS l7
              FROM daily
            ),
            agg AS (
              SELECT event_type,
                CAST(sum(CASE WHEN l1 IS NOT NULL
                  THEN abs(n - l1) END) AS BIGINT) AS a1,
                CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS m1,
                CAST(sum(CASE WHEN l7 IS NOT NULL
                  THEN abs(n - l7) END) AS BIGINT) AS a7,
                CAST(sum(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS m7
              FROM lagged GROUP BY event_type
            )
            SELECT event_type, m7 AS n_seasonal_errors,
              CAST(a1 AS DOUBLE) / CAST(m1 AS DOUBLE) AS mae_naive1,
              CAST(a7 AS DOUBLE) / CAST(m7 AS DOUBLE) AS mae_naive7,
              (CAST(a7 AS DOUBLE) / CAST(m7 AS DOUBLE))
                / (CAST(a1 AS DOUBLE) / CAST(m1 AS DOUBLE)) AS mase
            FROM agg
        """,
    },
)
