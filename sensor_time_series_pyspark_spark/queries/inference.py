"""Statistical inference & forecasting diagnostics (q439+): ADF,
Ljung-Box, Tukey HSD, conformal intervals, capture-recapture,
walk-forward backtests.

Shared helpers are in queries/common.py; queries/registry.py raises
on duplicate query names."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import tokens
from sensor_time_series_pyspark_spark.queries.common import (
    EVENT_TYPES,
    _brand_graph,
    _dsum,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_pagerank_gated(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-gated PageRank (3 power iterations, d=0.85) on the brand
    co-purchase graph in DOUBLE precision — the ordered-fold
    counterpart of q98's integer fixed-point operator
    (operators/graph.py:pagerank_fixedpoint). A float PageRank whose
    per-round aggregation sums double contributions in partition order
    cannot be hash-gated; here each node's incoming mass folds in
    SOURCE-ID order (sort_array + F.aggregate == DuckDB's ordered
    list_reduce), the damping epilogue is the fixed chain base +
    0.85·S, and the graph is symmetric (outdeg ≥ 1 ⇒ no dangling
    mass), so three unrolled iterations are bit-identical across
    engines. N and 1/N, 0.15/N are each ONE double division. At 100 TB the shape is q98's: one
    shuffle per iteration, contributions map-side."""
    edges_half = _brand_graph(spark, sf)
    edges = edges_half.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(
        edges_half.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("outdeg")
    )
    n_nodes = deg.count()
    init = 1.0 / n_nodes
    base = 0.15 / n_nodes
    ranks = deg.select("src", F.lit(init).alias("r"), "outdeg")
    for _ in range(3):
        contribs = edges.join(
            ranks, "src"
        ).select(
            "dst", "src", (F.col("r") / F.col("outdeg")).alias("c")
        )
        summed = contribs.groupBy("dst").agg(
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("src", "c"))),
                    lambda s: s["c"],
                ),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            ).alias("s")
        )
        ranks = summed.select(
            F.col("dst").alias("src"),
            (F.lit(base) + F.lit(0.85) * F.col("s")).alias("r"),
        ).join(deg, "src")
    return ranks.select(
        F.col("src").alias("brand"),
        F.col("r").alias("pagerank"),
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
    )


def _q_croston(spark: SparkSession, sf: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (the forecasting
    family SES/Holt can't serve: mostly-zero series), per user on
    daily purchase counts: SES (α=0.1) of the nonzero demand sizes
    and SES of the inter-demand intervals, demand rate = ẑ/p̂.
    The double recursion runs as ONE ordered JVM fold with a STRUCT
    accumulator (sort_array + F.aggregate — no applyInPandas, no
    shuffle beyond the daily aggregate), seeded from the first
    demand; DuckDB replays the identical op sequence via an ordered
    list_reduce with a struct state. Users need ≥ 2 demand days (the
    first interval is undefined — it seeds p̂)."""
    ev = read_table(spark, sf, "events")
    dem = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("z"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    gaps = dem.select(
        "user_id",
        "day",
        "z",
        (F.unix_date("day") - F.unix_date(F.lag("day").over(w)))
        .cast("double")
        .alias("gap"),
    )
    # per-user ordered list of (z, gap); element 1 seeds (ẑ=z₁, p̂=gap₂)
    per_user = gaps.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("day", "z", "gap"))).alias(
            "seq"
        ),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    ).where(F.col("m") >= 2)
    seed = F.struct(
        F.element_at("seq", 1)["z"].alias("zh"),
        F.element_at("seq", 2)["gap"].alias("ph"),
    )
    folded = per_user.select(
        "user_id",
        "m",
        F.aggregate(
            F.slice("seq", 2, F.size("seq") - 1),
            seed,
            lambda acc, x: F.struct(
                (F.lit(0.1) * x["z"] + F.lit(0.9) * acc["zh"]).alias("zh"),
                (F.lit(0.1) * x["gap"] + F.lit(0.9) * acc["ph"]).alias(
                    "ph"
                ),
            ),
        ).alias("st"),
    )
    return folded.select(
        "user_id",
        F.col("m").alias("n_demands"),
        F.col("st")["zh"].alias("z_hat"),
        F.col("st")["ph"].alias("p_hat"),
        (F.col("st")["zh"] / F.col("st")["ph"]).alias("demand_rate"),
    )


def _q_adf_test(spark: SparkSession, sf: str) -> DataFrame:
    """Augmented Dickey-Fuller unit-root screen (lag-0 form) per user
    on the daily-max cents series: OLS of Δx_t on x_{t−1} with
    intercept, reported as β̂ and its t-statistic — the stationarity
    gate run before any ARIMA fit (q25/q444 family). Everything up to
    the final epilogue is EXACT integer moments of (x_{t−1}, Δx_t)
    pairs; β̂ = A/B is one division and t = sign(A)·√(A²(m−2)/(CB−A²))
    — the closed form of β̂/SE(β̂) — is a fixed double chain, so the
    whole test is hash-gateable. One window pass, one aggregate."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (F.max("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("xc")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    pairs = (
        daily.select(
            "user_id",
            F.lag("xc").over(w).alias("x"),
            (F.col("xc") - F.lag("xc").over(w)).alias("y"),
        )
        .where(F.col("x").isNotNull())
    )
    d38 = "decimal(38,0)"
    agg = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
    ).where(F.col("m") >= 4)
    m = F.col("m").cast(d38)
    a = m * F.col("sxy") - F.col("sx") * F.col("sy")
    b = m * F.col("sxx") - F.col("sx") * F.col("sx")
    c = m * F.col("syy") - F.col("sy") * F.col("sy")
    scaled = agg.select(
        "user_id",
        "m",
        a.alias("a"),
        b.alias("b"),
        c.alias("c"),
    ).where(
        (F.col("b") != 0) & (F.col("c") * F.col("b") > F.col("a") * F.col("a"))
    )
    # a/b/c each fit well under 2^53 (cents ≤ 10^4, m ≤ ~10^2), so the
    # decimal→double casts are EXACT; the t² products then run in pure
    # double arithmetic — identical IEEE rounding in both engines.
    # (Casting the decimal PRODUCTS instead dies above 2^64: DuckDB's
    # hugeint→double is a two-limb conversion, not correctly rounded.)
    ad = F.col("a").cast("double")
    bd = F.col("b").cast("double")
    cd = F.col("c").cast("double")
    md = (F.col("m") - 2).cast("double")
    t2 = (ad * ad * md) / (cd * bd - ad * ad)
    return scaled.select(
        "user_id",
        "m",
        (ad / bd).alias("beta"),
        (
            F.when(F.col("a") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
            * F.sqrt(t2)
        ).alias("t_stat"),
    )


def _q_ljung_box(spark: SparkSession, sf: str) -> DataFrame:
    """Ljung-Box portmanteau autocorrelation test (lags 1..7) per user
    on the daily-max cents series — "is there ANY serial structure
    left" (the residual-whiteness gate q82's single-lag ACF can't
    answer). Each lag-k autocovariance uses the m²-scaled EXACT
    integer identity m²C_k = m²Σx_t·x_{t+k} − m·S·(S_head+S_tail)
    + (m−k)·S², so every ρ_k = c_k/c_0 is ONE double division and
    Q = m(m+2)·Σ_k ρ_k²/(m−k) is a fixed literal-order 7-term chain.
    One window pass (7 lead columns share the sort), one aggregate."""
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
        "x",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("m"),
        *[F.lead("x", k).over(w).alias(f"x{k}") for k in range(1, 8)],
    )
    d38 = "decimal(38,0)"
    aggs = [
        F.max("m").alias("m"),
        F.sum("x").cast(d38).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx0"),
    ]
    for k in range(1, 8):
        xk = F.col(f"x{k}")
        aggs += [
            F.sum(
                F.when(xk.isNotNull(), (F.col("x") * xk)).otherwise(0).cast(
                    d38
                )
            ).alias(f"sxy{k}"),
            F.sum(
                F.when(xk.isNotNull(), F.col("x")).otherwise(0).cast(d38)
            ).alias(f"sh{k}"),
            F.sum(
                F.when(F.col("rn") > k, F.col("x")).otherwise(0).cast(d38)
            ).alias(f"st{k}"),
        ]
    g = base.groupBy("user_id").agg(*aggs).where(F.col("m") >= 10)
    m = F.col("m").cast(d38)
    # c0 scaled by m²: m·Σx² − S² (the k=0 case of the identity)
    c0 = (m * F.col("sxx0") - F.col("s") * F.col("s")) * m
    rho = {}
    for k in range(1, 8):
        ck = (
            m * m * F.col(f"sxy{k}")
            - m * F.col("s") * (F.col(f"sh{k}") + F.col(f"st{k}"))
            + (m - F.lit(k).cast(d38)) * F.col("s") * F.col("s")
        )
        rho[k] = ck.cast("double") / c0.cast("double")
    q_sum = None
    for k in range(1, 8):
        term = rho[k] * rho[k] / (F.col("m") - k).cast("double")
        q_sum = term if q_sum is None else q_sum + term
    return g.where(c0 != 0).select(
        "user_id",
        "m",
        rho[1].alias("rho1"),
        (
            (F.col("m") * (F.col("m") + 2)).cast("double") * q_sum
        ).alias("q_lb"),
    )


def _q_ransac_slope(spark: SparkSession, sf: str) -> DataFrame:
    """RANSAC-style robust trend fit per user (the breakdown-resistant
    alternative to q406's AR/OLS family when outliers dominate):
    candidate lines come from all pairs of 5 DETERMINISTIC anchor
    points (smallest md5(day) — the repo's hash-sampling convention,
    so "random" sampling is reproducible in any engine); a point is an
    inlier when its cross-multiplied residual |(x−x_i)Δd_pair −
    Δx_pair(d−d_i)| ≤ eps·Δd_pair — EXACT integer arithmetic, no
    float boundary — and the winning line (most inliers, anchor-order
    tiebreak) reports slope as ONE double division. Candidates join
    points by user equi-key (≤10 pairs/user — never a cross join)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (F.max("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("x")
    ).withColumn("d", F.unix_date("day").cast("bigint"))
    w_anchor = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("day").cast("string")), "day"
    )
    anchors = (
        daily.withColumn("ar", F.row_number().over(w_anchor))
        .where(F.col("ar") <= 5)
        .select("user_id", "ar", F.col("d").alias("ad"), F.col("x").alias("ax"))
    )
    pairs = (
        anchors.alias("i")
        .join(anchors.alias("j"), "user_id")
        .where(F.col("i.ar") < F.col("j.ar"))
        .select(
            "user_id",
            F.col("i.ar").alias("ri"),
            F.col("j.ar").alias("rj"),
            F.col("i.ad").alias("d0"),
            F.col("i.ax").alias("x0"),
            (F.col("j.ad") - F.col("i.ad")).alias("dd"),
            (F.col("j.ax") - F.col("i.ax")).alias("dx"),
        )
        .where(F.col("dd") != 0)
    )
    eps = 100  # cents
    scored = daily.join(pairs, "user_id").withColumn(
        "resid",
        F.abs(
            (F.col("x") - F.col("x0")) * F.col("dd")
            - F.col("dx") * (F.col("d") - F.col("d0"))
        ),
    )
    counts = scored.groupBy("user_id", "ri", "rj", "dd", "dx").agg(
        F.sum(
            F.when(F.col("resid") <= eps * F.abs(F.col("dd")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_inliers"),
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.col("n_inliers").desc(), "ri", "rj"
    )
    return (
        counts.withColumn("best", F.row_number().over(w_best))
        .where(F.col("best") == 1)
        .select(
            "user_id",
            (F.col("dx").cast("double") / F.col("dd").cast("double")).alias(
                "slope_c_per_day"
            ),
            "n_inliers",
            "n_points",
        )
    )


def _q_neyman_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation across event types:
    n_h ∝ N_h·S_h for a budget of 1000 — how a 100 TB profiling job
    SHOULD split its sample (proportional allocation oversamples
    low-variance strata). N_h·S_h collapses to √(N_h·Σx²−(Σx)²) — an
    IEEE-exact sqrt of an EXACT integer — so shares need ONE division
    each against a denominator folded in literal type order on the
    5-row frame; integer seats are floor + largest-remainder top-up
    (the q429 rule), so Σalloc == 1000 exactly."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    strata = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(cents).cast("decimal(38,0)").alias("s1"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("s2"),
    )
    v = (
        F.col("n_rows").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1") * F.col("s1")
    )
    wt = strata.select(
        "event_type", "n_rows", F.sqrt(v.cast("double")).alias("wt")
    )
    w_all = Window.orderBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    den = F.aggregate(
        F.collect_list("wt").over(w_all),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    shared = wt.select(
        "event_type",
        "n_rows",
        (F.lit(1000.0) * (F.col("wt") / den)).alias("seats"),
    )
    alloc = shared.select(
        "event_type",
        "n_rows",
        F.floor("seats").cast("bigint").alias("fl"),
        (F.col("seats") - F.floor("seats")).alias("frac"),
    )
    w_sum = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.orderBy(F.col("frac").desc(), "event_type")
    return (
        alloc.withColumn("leftover", F.lit(1000) - F.sum("fl").over(w_sum))
        .withColumn("rk", F.row_number().over(w_rank))
        .select(
            "event_type",
            "n_rows",
            (
                F.col("fl")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc_n"),
        )
    )


def _q_hodges_lehmann(spark: SparkSession, sf: str) -> DataFrame:
    """Hodges-Lehmann robust location estimate per user: the median of
    all pairwise Walsh averages (x_i+x_j)/2, i ≤ j, of the daily-max
    cents series — the location twin of q192's Theil-Sen slope (30%
    breakdown, far better efficiency than the plain median). Pairwise
    SUMS stay integers; the median is explicit index selection over
    the (sum, i, j)-ranked pair frame, and the estimate is ONE double
    division Σs_sel/(2·n_sel) (odd → s/2, even → (s1+s2)/4). Pairs
    are a per-user rn ≤ rn self-join — bounded by days², never
    corpus-scale."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (F.max("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("x")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    d = daily.select(
        "user_id", "x", F.row_number().over(w).alias("rn")
    )
    pairs = (
        d.alias("a")
        .join(d.alias("b"), "user_id")
        .where(F.col("a.rn") <= F.col("b.rn"))
        .select(
            "user_id",
            (F.col("a.x") + F.col("b.x")).alias("s"),
            F.col("a.rn").alias("i"),
            F.col("b.rn").alias("j"),
        )
    )
    w_rank = Window.partitionBy("user_id").orderBy("s", "i", "j")
    wp = Window.partitionBy("user_id")
    ranked = pairs.select(
        "user_id",
        "s",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("np"),
    )
    mid = ranked.where(
        (F.col("rk") == F.floor((F.col("np") + 1) / 2))
        | (F.col("rk") == F.ceil((F.col("np") + 1) / 2))
    )
    return mid.groupBy("user_id").agg(
        F.max("np").cast("bigint").alias("n_pairs"),
        (
            F.sum("s").cast("double")
            / (F.lit(2) * F.count(F.lit(1))).cast("double")
        ).alias("hl_cents"),
    )


def _q_regression_influence(spark: SparkSession, sf: str) -> DataFrame:
    """Per-point regression influence diagnostics (Cook's distance +
    leverage) for the per-user OLS of daily-max cents on epoch day —
    WHICH day is dragging this user's trend (the q406/q447 family's
    diagnostic complement). Leverage h_i = 1/m + (m·d_i−S_d)²/(m·B)
    and SSE = (CB−A²)/(mB) come from EXACT integer moments (one
    division each); residuals and D_i = e_i²·h_i/(2s²(1−h_i)²) are
    fixed double chains, so the top-3 influential days per user are
    hash-gateable. One window-free moment aggregate + one broadcast
    of the per-user line back onto the points."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (F.max("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("y")
    ).withColumn("d", F.unix_date("day").cast("bigint"))
    moms = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("d").alias("sd"),
        F.sum("y").alias("sy"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("d") * F.col("y")).alias("sdy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).where(F.col("m") >= 4)
    a = F.col("m") * F.col("sdy") - F.col("sd") * F.col("sy")
    b = F.col("m") * F.col("sdd") - F.col("sd") * F.col("sd")
    c = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    lines = moms.select(
        "user_id",
        "m",
        "sd",
        "sy",
        b.alias("bb"),
        (a.cast("double") / b.cast("double")).alias("beta"),
        a.alias("aa"),
        c.alias("cc"),
    ).where((b != 0) & (c * b > a * a))
    lines = lines.withColumn(
        "alpha",
        (
            F.col("sy").cast("double")
            - F.col("beta") * F.col("sd").cast("double")
        )
        / F.col("m").cast("double"),
    ).withColumn(
        "s2",
        (
            (
                F.col("cc").cast("double") * F.col("bb").cast("double")
                - F.col("aa").cast("double") * F.col("aa").cast("double")
            )
            / (F.col("m").cast("double") * F.col("bb").cast("double"))
        )
        / (F.col("m") - 2).cast("double"),
    )
    pts = daily.join(F.broadcast(lines), "user_id")
    lev_num = (
        F.col("m") * F.col("d") - F.col("sd")
    )
    h = (
        F.lit(1.0) / F.col("m").cast("double")
        + (lev_num * lev_num).cast("double")
        / (F.col("m") * F.col("bb")).cast("double")
    )
    e = (
        F.col("y").cast("double")
        - (F.col("alpha") + F.col("beta") * F.col("d").cast("double"))
    )
    scored = pts.select(
        "user_id",
        "day",
        "m",
        h.alias("leverage"),
        e.alias("resid_c"),
        (
            (e * e) * h
            / (
                F.lit(2.0)
                * F.col("s2")
                * ((F.lit(1.0) - h) * (F.lit(1.0) - h))
            )
        ).alias("cooks_d"),
    )
    w_top = Window.partitionBy("user_id").orderBy(
        F.col("cooks_d").desc(), "day"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_top))
        .where(F.col("rk") <= 3)
        .select(
            "user_id",
            "day",
            F.col("rk").cast("int").alias("rank"),
            "leverage",
            "resid_c",
            "cooks_d",
        )
    )


def _q_tukey_hsd(spark: SparkSession, sf: str) -> DataFrame:
    """Tukey HSD post-hoc contrasts after q287's one-way ANOVA: the
    studentized-range statistic q_ij = |m̄_i−m̄_j| / √((MSW/2)(1/n_i +
    1/n_j)) for ALL 10 event-type pairs — WHICH groups differ once the
    F-test says "some do". Group moments are exact decimals (q287's
    machinery); the 10 pairs come from EXPLODING a literal pair array
    over the one-row wide frame (no self-join, no cross join — the
    5-slot vocabulary recipe), and each q is a fixed double chain."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    xi = (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi.cast("decimal(38,0)")).alias("s"),
        F.sum((xi * xi).cast("decimal(38,0)")).alias("ss"),
    )
    per = g.select(
        "event_type",
        "n",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "mean_c"
        ),
        (
            F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n").cast("double")
        ).alias("s2n"),
        F.col("ss").cast("double").alias("ssd"),
    )
    aggs = [
        F.sum("n").alias("N"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        _dsum(F.col("s2n")).alias("sum_s2n"),
        _dsum(F.col("ssd")).alias("SS"),
    ]
    for t in EVENT_TYPES:
        aggs.append(
            F.max(F.when(F.col("event_type") == t, F.col("mean_c"))).alias(
                f"mean_{t}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("event_type") == t, F.col("n"))).alias(
                f"n_{t}"
            )
        )
    wide = per.agg(*aggs).withColumn(
        "msw",
        (F.col("SS") - F.col("sum_s2n"))
        / (F.col("N") - F.col("k")).cast("double"),
    )
    pair_lits = []
    for i in range(len(EVENT_TYPES)):
        for j in range(i + 1, len(EVENT_TYPES)):
            pair_lits.append(
                F.struct(
                    F.lit(EVENT_TYPES[i]).alias("ta"),
                    F.lit(EVENT_TYPES[j]).alias("tb"),
                )
            )
    ex = wide.select("*", F.explode(F.array(*pair_lits)).alias("p"))

    def pick(prefix: str, side: str) -> F.Column:
        c = None
        for t in EVENT_TYPES:
            cond = F.col("p")[side] == t
            c = (
                F.when(cond, F.col(f"{prefix}_{t}"))
                if c is None
                else c.when(cond, F.col(f"{prefix}_{t}"))
            )
        return c

    ma, mb = pick("mean", "ta"), pick("mean", "tb")
    na, nb = pick("n", "ta"), pick("n", "tb")
    q = F.abs(ma - mb) / F.sqrt(
        (F.col("msw") / 2)
        * (F.lit(1.0) / na.cast("double") + F.lit(1.0) / nb.cast("double"))
    )
    return ex.select(
        F.col("p")["ta"].alias("type_a"),
        F.col("p")["tb"].alias("type_b"),
        ma.alias("mean_a_c"),
        mb.alias("mean_b_c"),
        q.alias("q_stat"),
    )


def _q_westgard(spark: SparkSession, sf: str) -> DataFrame:
    """Westgard multi-rule QC screen (the Levey-Jennings chart's rule
    engine) on the per-type daily total-cents series (integer-exact
    end-to-end): control limits fit on
    the first 20 calendar days (μ = exact decimal mean, σ = √ of the
    exact-moment variance — one division + IEEE sqrt), then the
    monitoring days are flagged with the classic rules — 1₃ₛ (one
    beyond ±3σ), 2₂ₛ (two consecutive beyond ±2σ same side), R₄ₛ
    (consecutive opposite-side 2σ excursions), 4₁ₛ (four consecutive
    beyond ±1σ same side). z-scores are identical doubles in both
    engines, so the rule counts hash-gate. One window pass."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    rc = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(rc).alias("x"))
    split = F.lit("2024-01-21").cast("date")
    lim = (
        daily.where(F.col("day") < split)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nt"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("s1"),
            F.sum(
                (F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)"))
            ).alias("s2"),
        )
        .where(F.col("nt") >= 2)
    )
    # μ and σ in cents: exact integer moments, fixed epilogue
    mu = F.col("s1").cast("double") / F.col("nt").cast("double")
    var = (
        F.col("nt").cast("double") * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (
        F.col("nt").cast("double") * F.col("nt").cast("double")
    )
    lims = lim.select(
        "event_type", mu.alias("mu"), F.sqrt(var).alias("sigma")
    ).where(F.col("sigma") > 0)
    mon = daily.where(F.col("day") >= split).join(
        F.broadcast(lims), "event_type"
    )
    z = (F.col("x").cast("double") - F.col("mu")) / F.col("sigma")
    w = Window.partitionBy("event_type").orderBy("day")
    zs = mon.select("event_type", "day", z.alias("z")).select(
        "event_type",
        "day",
        "z",
        F.lag("z", 1).over(w).alias("z1"),
        F.lag("z", 2).over(w).alias("z2"),
        F.lag("z", 3).over(w).alias("z3"),
    )
    same2 = (F.col("z") > 2) & (F.col("z1") > 2) | (
        (F.col("z") < -2) & (F.col("z1") < -2)
    )
    r4s = ((F.col("z") > 2) & (F.col("z1") < -2)) | (
        (F.col("z") < -2) & (F.col("z1") > 2)
    )
    cols = ["z", "z1", "z2", "z3"]
    above1 = None
    below1 = None
    for c in cols:
        a = F.col(c) > 1
        b = F.col(c) < -1
        above1 = a if above1 is None else (above1 & a)
        below1 = b if below1 is None else (below1 & b)
    return zs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.when(F.abs(F.col("z")) > 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_13s"),
        F.sum(F.when(same2, 1).otherwise(0)).cast("bigint").alias("n_22s"),
        F.sum(F.when(r4s, 1).otherwise(0)).cast("bigint").alias("n_r4s"),
        F.sum(F.when(above1 | below1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_41s"),
    )


def _q_cochran_armitage(spark: SparkSession, sf: str) -> DataFrame:
    """Cochran-Armitage trend test: is the share of above-median-value
    orders MONOTONE in order priority (scores 1..5 parsed from
    o_orderpriority)? The ordered-strata proportion test that a plain
    chi-square (q414) cannot answer. The median threshold is a
    percentile_disc TABLE VALUE inlined as a literal (q443 pattern);
    T's numerator N·Σsr − R·Σsn and the variance pieces are row-level
    EXACT integer sums (no per-stratum grouping at all), and
    Z = sign(num)·√(num²·N/(R(N−R)(N·Σs²n − (Σsn)²))) is a fixed
    double chain — one scan, one aggregate."""
    o = read_table(spark, sf, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("sc"),
        F.col("o_totalprice"),
    )
    thr = (
        o.agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias("t")
        ).collect()[0]["t"]
    )
    succ = (F.col("o_totalprice") > F.lit(thr)).cast("bigint")
    agg = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(succ).alias("r"),
        F.sum(F.col("sc").cast("bigint")).alias("sn"),
        F.sum((F.col("sc") * F.col("sc")).cast("bigint")).alias("s2n"),
        F.sum(F.col("sc").cast("bigint") * succ).alias("sr"),
    )
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    num = nd * F.col("sr").cast("double") - rd * F.col("sn").cast("double")
    den2 = (
        rd
        * (nd - rd)
        * (
            nd * F.col("s2n").cast("double")
            - F.col("sn").cast("double") * F.col("sn").cast("double")
        )
    )
    z = (
        F.when(num < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.sqrt(num * num * nd / den2)
    )
    return agg.select(
        F.col("n").alias("n_orders"),
        F.col("r").alias("n_success"),
        z.alias("z_trend"),
    )


def _q_conformal_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Split-conformal prediction interval for the persistence
    predictor (q443's fixed model): nonconformity = |label − pred| in
    integer cents on a CALIBRATION window (day < 2024-01-21), the 90%
    quantile of those scores is a percentile_disc TABLE VALUE, and the
    guarantee is audited by measuring empirical coverage of pred ± q̂
    on the held-out test days — distribution-free uncertainty for ANY
    point forecaster, the ML-ops complement of q431's parametric MDE.
    Integer scores end-to-end; coverage is ONE division."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (F.max("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("x")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    labeled = daily.select(
        "user_id",
        "day",
        F.col("x").alias("pred"),
        F.lead("x").over(w).alias("label"),
    ).where(F.col("label").isNotNull())
    split = F.lit("2024-01-21").cast("date")
    score = F.abs(F.col("label") - F.col("pred"))
    qhat = (
        labeled.where(F.col("day") < split)
        .select(score.alias("s"))
        .agg(
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY s)"
            ).alias("q")
        )
        .collect()[0]["q"]
    )
    test = labeled.where(F.col("day") >= split)
    return test.agg(
        F.lit(int(qhat)).cast("bigint").alias("q90_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(score <= F.lit(int(qhat)), 1).otherwise(0))
        .cast("bigint")
        .alias("n_covered"),
    ).select(
        "q90_c",
        "n_test",
        "n_covered",
        (
            F.col("n_covered").cast("double")
            / F.col("n_test").cast("double")
        ).alias("coverage"),
    )


def _q_loo_target_encoding(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value — the leakage-SAFE form of mean encoding (each row's own
    target is excluded: enc_i = (S_g − x_i)/(n_g − 1)), the categorical
    feature transform every tabular-ML pipeline needs at scale. One
    group aggregate broadcast back onto the rows; the numerator stays
    an exact decimal and each encoding is ONE double division. Rows
    with n_g = 1 are dropped (LOO undefined)."""
    o = read_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("xc"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum(F.col("xc").cast("decimal(38,0)")).alias("sg"),
    )
    j = o.join(F.broadcast(g), "o_orderpriority").where(F.col("ng") > 1)
    return j.select(
        "o_orderkey",
        "o_orderpriority",
        (
            (F.col("sg") - F.col("xc").cast("decimal(38,0)")).cast("double")
            / (F.col("ng") - 1).cast("double")
        ).alias("loo_enc_c"),
    )


def _q_join_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Join-size estimation WITHOUT running the join — Σ_k c_A(k)·c_B(k)
    over the per-key count frames (what a cost-based optimizer's
    histogram estimate converges to when histograms are exact). For
    100 TB join planning this is the cheap pre-flight that decides
    broadcast vs shuffle vs bucketed strategies; here computed exactly
    for the two canonical fact joins plus key-overlap diagnostics.
    Shape: two tiny key-count aggregates per pair, joined on key —
    output is 2 rows."""
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    li = read_table(spark, sf, "lineitem")

    def pair(name, a, ka, b, kb):
        ca = a.groupBy(F.col(ka).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("na")
        )
        cb = b.groupBy(F.col(kb).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("nb")
        )
        return (
            ca.join(cb, "k")
            .agg(
                F.sum(
                    (F.col("na") * F.col("nb")).cast("decimal(38,0)")
                )
                .cast("bigint")
                .alias("est_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_shared_keys"),
            )
            .select(
                F.lit(name).alias("join_pair"),
                "est_rows",
                "n_shared_keys",
            )
        )

    return pair(
        "customer_orders", c, "c_custkey", o, "o_custkey"
    ).unionAll(pair("orders_lineitem", o, "o_orderkey", li, "l_orderkey"))


def _q_capture_recapture(spark: SparkSession, sf: str) -> DataFrame:
    """Chapman capture-recapture estimate of the active-user
    population per event type from two observation windows (first vs
    second half of January): N̂ = (n₁+1)(n₂+1)/(m+1) − 1, with m the
    users seen in BOTH — the census trick that tells a crawler/corpus
    team how much it has NOT seen (complements q399 Good-Turing's
    unseen-mass and q412 Heaps' growth). Counts are exact integers
    from two distinct-user frames and one inner join; the estimate is
    ONE double division."""
    ev = read_table(spark, sf, "events")
    split = F.lit("2024-01-16").cast("date")
    u1 = (
        ev.where(F.to_date("ts") < split)
        .select("event_type", "user_id")
        .distinct()
    )
    u2 = (
        ev.where(F.to_date("ts") >= split)
        .select("event_type", "user_id")
        .distinct()
    )
    n1 = u1.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1")
    )
    n2 = u2.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n2")
    )
    m = (
        u1.join(u2, ["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    j = n1.join(n2, "event_type").join(m, "event_type")
    return j.select(
        "event_type",
        "n1",
        "n2",
        "m",
        (
            ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
            / (F.col("m") + 1).cast("double")
            - F.lit(1.0)
        ).alias("n_hat"),
    )


def _q_chao1_richness(spark: SparkSession, sf: str) -> DataFrame:
    """Chao1 species-richness estimate of the 5-GRAM vocabulary per
    source: Ŝ = S_obs + F₁(F₁−1)/(2(F₂+1)) (the bias-corrected form,
    defined even with no doubletons) from the singleton/doubleton counts
    of the shingle-frequency spectrum — "how many shingle types exist
    that this corpus slice has NOT yet seen", the asymptote the q412
    Heaps curve climbs toward and the capture-recapture (q459) idea
    applied to vocabulary. 5-grams (q411's construction), not
    unigrams: the synthetic 31-word per-source vocabulary saturates
    unigram F₁/F₂ to zero above sf0.01, while the 31⁵ shingle space
    stays sparse at every scale. Two exact integer aggregates and ONE
    division."""
    docs = read_table(spark, sf, "documents")
    sh = (
        docs.withColumn("__toks", tokens("text"))
        .where(F.size("__toks") >= 5)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__toks) - 4),"
                    " i -> concat_ws(' ', slice(__toks, i, 5)))"
                )
            ).alias("shingle"),
        )
    )
    tf = sh.groupBy("source", "shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    spec = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    # bias-corrected Chao1: defined even when F2 = 0 (mid-scale
    # spectra here are singleton-dominated), still one division
    return spec.select(
        "source",
        "s_obs",
        "f1",
        "f2",
        (
            F.col("s_obs").cast("double")
            + (F.col("f1") * (F.col("f1") - 1)).cast("double")
            / (2 * (F.col("f2") + 1)).cast("double")
        ).alias("chao1"),
    )


def _q_gini_mean_difference(spark: SparkSession, sf: str) -> DataFrame:
    """Gini mean difference (GMD) robust scale per event type — the
    U-statistic E|X−X'| that sits between the standard deviation
    (efficiency) and the IQR/MAD (robustness). NEVER materializes the
    n² pairs: the sorted-rank identity Σᵢ<ⱼ|xᵢ−xⱼ| = Σᵣ(2r−n−1)·x₍ᵣ₎
    turns it into ONE rank window over the fact and an exact integer
    aggregate; GMD = that sum / C(n,2) is ONE division. (Ties: any
    total order gives the same sum — |xᵢ−xⱼ| = 0 within a tie
    class.)"""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("v", "event_id")
    wp = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type", "event_id", cents.alias("v")
    ).select(
        "event_type",
        "v",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(
            (
                (2 * F.col("r") - F.col("n") - 1).cast("decimal(38,0)")
                * F.col("v").cast("decimal(38,0)")
            )
        ).alias("num"),
    )
    pairs = (F.col("n") * (F.col("n") - 1) / 2).cast("double")
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_rows"),
        (F.col("num").cast("double") / pairs).alias("gmd_c"),
    )


def _q_lorenz_points(spark: SparkSession, sf: str) -> DataFrame:
    """Lorenz-curve decile points of customer revenue concentration:
    customers sorted by spend into 10 equal-count bins, each row the
    cumulative share of customers vs cumulative share of revenue —
    the CURVE q150's Gini integrates (the "bottom 50% hold X%"
    readout). Revenue is exact integer cents; the decile cut is the
    q423 (rn−1)·10 div N rule with custkey tiebreak; shares are ONE
    division per decile row on the 10-row frame."""
    o = read_table(spark, sf, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.sum("cents").cast("bigint").alias("rev")
    )
    wall = Window.partitionBy(F.lit(1))
    cut = per_cust.select(
        "rev",
        F.expr(
            "(cast(row_number() over (order by rev asc, o_custkey asc)"
            " as bigint) - 1) * 10"
        ).alias("rn10"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("ntot"),
        F.sum("rev").over(wall).cast("bigint").alias("rtot"),
    ).select(
        "rev",
        "ntot",
        "rtot",
        F.expr("rn10 div ntot").cast("int").alias("decile"),
    )
    per = cut.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev").cast("bigint").alias("rev_cents"),
        F.max("ntot").alias("ntot"),
        F.max("rtot").alias("rtot"),
    )
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "decile",
        "n_customers",
        "rev_cents",
        F.sum("n_customers").over(wd).cast("bigint").alias("cum_n"),
        F.sum("rev_cents").over(wd).cast("bigint").alias("cum_rev"),
        "ntot",
        "rtot",
    )
    return cum.select(
        "decile",
        "n_customers",
        "rev_cents",
        (
            F.col("cum_n").cast("double") / F.col("ntot").cast("double")
        ).alias("cum_pop_share"),
        (
            F.col("cum_rev").cast("double") / F.col("rtot").cast("double")
        ).alias("cum_rev_share"),
    )


def _q_peak_hour(spark: SparkSession, sf: str) -> DataFrame:
    """Peak hour per event type with its prominence over the median
    hour — "when does this signal spike, and is the spike real or is
    the day flat" (q142 shows the whole profile; this is its two-
    number summary for alert routing). The argmax is a deterministic
    (count DESC, hour ASC) top-1 on the 24-cell frame, the median
    hour is a percentile_disc table value, and prominence is ONE
    integer ratio."""
    ev = read_table(spark, sf, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wr = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("hod").asc()
    )
    peak = cells.withColumn("rk", F.row_number().over(wr)).where(
        F.col("rk") == 1
    ).select(
        "event_type",
        F.col("hod").alias("peak_hour"),
        F.col("n").alias("peak_count"),
    )
    med = cells.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("median_count")
    )
    return peak.join(F.broadcast(med), "event_type").select(
        "event_type",
        "peak_hour",
        "peak_count",
        "median_count",
        (
            F.col("peak_count").cast("double")
            / F.col("median_count").cast("double")
        ).alias("prominence"),
    )


def _q_repeat_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Repeat-purchase funnel: of users who purchased at all, what
    share came back on a second (and a fifth) distinct day — the
    retention headline (q72's cohort grid collapsed to the numbers a
    weekly report quotes). Distinct purchase-day counts are integers;
    two divisions."""
    ev = read_table(spark, sf, "events")
    days = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("pd"),
        )
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pdays"))
    )
    agg = days.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buyers"),
        F.sum(F.when(F.col("pdays") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeat"),
        F.sum(F.when(F.col("pdays") >= 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_loyal"),
    )
    return agg.select(
        "n_buyers",
        "n_repeat",
        "n_loyal",
        (
            F.col("n_repeat").cast("double") / F.col("n_buyers").cast("double")
        ).alias("repeat_rate"),
        (
            F.col("n_loyal").cast("double") / F.col("n_buyers").cast("double")
        ).alias("loyal_rate"),
    )


def _q_gap_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Power-of-two histogram of inter-arrival gaps per event type —
    the HdrHistogram-style latency readout every ingestion dashboard
    draws (log₂ buckets: one row per factor-of-two band, exact
    counts). The bucket id is the BINARY-DIGIT COUNT of the integer
    µs gap (⌊log₂⌋+1 for gap ≥ 1, computed by string length — no
    float log whose last bit could disagree at exact powers of two;
    a 0-µs gap, where ⌊log₂⌋ is undefined, lands in bucket 1 with
    gap=1 because "0" is one binary digit). Pure integers
    end-to-end."""
    ev = read_table(spark, sf, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("t"),
    )
    w = Window.partitionBy("event_type").orderBy("t", "event_id")
    gaps = base.select(
        "event_type",
        (F.col("t") - F.lag("t").over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    bucket = F.length(
        F.conv(F.col("gap").cast("string"), 10, 2)
    ).cast("int")
    return gaps.select("event_type", bucket.alias("log2_bucket")).groupBy(
        "event_type", "log2_bucket"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_gaps"))


def _q_eval_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-gated evaluator arithmetic (reference M8,
    sensor_data_regression.py:80-86 + sensor_data_classification.py:
    62-64): rmse/r2 and precision/recall/f1 computed over a FIXED
    deterministic predictor — the persistence forecast (ŷ = today's
    day-max) for regression, and "above the train-period median" for
    classification — so the metric FORMULAS are oracle-checkable
    separately from whether a model trains (q43 keeps that half,
    rows-only). Same temporal split as q43 (test = day ≥ 2024-01-25;
    the classification threshold is fit on train only). All sums are
    exact integer cents (decimal(38,0)); rmse/r2/precision/recall/f1
    each end in fixed double epilogues (one division + sqrt for rmse;
    f1 via the one-division identity 2tp/(2tp+fp+fn))."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max("value").alias("day_max")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    labeled = daily.withColumn("label", F.lead("day_max").over(w)).where(
        F.col("label").isNotNull()
    )
    split = F.lit("2024-01-25").cast("date")
    # train-period median day_max: a TABLE VALUE (percentile_disc),
    # collected as a scalar and inlined as a literal (the PSI q395
    # pattern) — no scalar crossJoin in the plan
    thr = (
        labeled.where(F.col("day") < split)
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY day_max)"
            ).alias("thr")
        )
        .collect()[0]["thr"]
    )
    cents = lambda c: (F.col(c).cast("decimal(12,2)") * 100).cast("bigint")
    test = labeled.where(F.col("day") >= split).select(
        cents("label").alias("yc"),
        cents("day_max").alias("pc"),
        (F.col("day_max") > F.lit(thr)).alias("pos_pred"),
        (F.col("label") > F.lit(thr)).alias("pos_label"),
    )
    agg = test.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(((F.col("yc") - F.col("pc")) * (F.col("yc") - F.col("pc"))).cast("decimal(38,0)")).alias("ss_res"),
        F.sum(F.col("yc").cast("decimal(38,0)")).alias("t1"),
        F.sum((F.col("yc") * F.col("yc")).cast("decimal(38,0)")).alias("t2"),
        F.sum(F.when(F.col("pos_pred") & F.col("pos_label"), 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(F.col("pos_pred") & ~F.col("pos_label"), 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(~F.col("pos_pred") & F.col("pos_label"), 1).otherwise(0)).cast("bigint").alias("fn"),
    )
    n = F.col("n_test")
    return agg.select(
        "n_test",
        F.sqrt(
            F.col("ss_res").cast("double") / (n * 10000).cast("double")
        ).alias("rmse"),
        (
            F.lit(1.0)
            - (n.cast("decimal(38,0)") * F.col("ss_res")).cast("double")
            / (
                n.cast("decimal(38,0)") * F.col("t2")
                - F.col("t1") * F.col("t1")
            ).cast("double")
        ).alias("r2"),
        (
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double")
        ).alias("precision_hi"),
        (
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double")
        ).alias("recall_hi"),
        (
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double")
        ).alias("f1_hi"),
    )


def _q_ar1_walkforward(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-gated walk-forward validation (reference T9,
    pandas_timeseries_forecast.py:26-34) for the AR(1)+intercept model:
    the closed form of ml/models.py's AR-OLS at p=1,d=0,q=0. Instead
    of refitting per step in Python, EVERY expanding-window fit comes
    from exact-integer PREFIX moments of the (lag, value) pairs —
    phi_i = (m·Σxy − Σx·Σy)/(m·Σxx − Σx²) over pairs strictly before
    step i via one window frame (UNBOUNDED PRECEDING TO 1 PRECEDING) —
    so the whole walk-forward is a single window pass, no
    applyInPandas, no recursion. Series = per-user daily max in exact
    integer cents; per-step epilogue is a fixed double op chain (one
    division for phi, one for the intercept, forecast, squared error);
    the per-user MSE folds squared errors in day order (== DuckDB's
    ordered list_reduce). Test span = last max(1, n//4) days, series
    kept only when n − n_test ≥ 3 (walk_forward_mse's guard). q25
    keeps the full (p,d,q) grid rows-only."""
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
    steps = (
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


register_many(
    {
        'q439_lorenz_points': _q_lorenz_points,
        'q440_peak_hour': _q_peak_hour,
        'q441_repeat_purchase': _q_repeat_purchase,
        'q442_gap_histogram': _q_gap_histogram,
        'q443_eval_metrics': _q_eval_metrics,
        'q444_ar1_walkforward': _q_ar1_walkforward,
        'q445_pagerank_gated': _q_pagerank_gated,
        'q446_croston': _q_croston,
        'q447_adf_test': _q_adf_test,
        'q448_ljung_box': _q_ljung_box,
        'q449_ransac_slope': _q_ransac_slope,
        'q450_neyman_allocation': _q_neyman_allocation,
        'q451_hodges_lehmann': _q_hodges_lehmann,
        'q452_regression_influence': _q_regression_influence,
        'q453_tukey_hsd': _q_tukey_hsd,
        'q454_westgard': _q_westgard,
        'q455_cochran_armitage': _q_cochran_armitage,
        'q456_conformal_interval': _q_conformal_interval,
        'q457_loo_target_encoding': _q_loo_target_encoding,
        'q458_join_cardinality': _q_join_cardinality,
        'q459_capture_recapture': _q_capture_recapture,
        'q460_chao1_richness': _q_chao1_richness,
        'q461_gini_mean_difference': _q_gini_mean_difference,
    },
    {
        'q439_lorenz_points': """
            WITH o AS (
              SELECT o_custkey,
                CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents
              FROM orders
            ),
            per_cust AS (
              SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS rev
              FROM o GROUP BY o_custkey
            ),
            cut AS (
              SELECT rev, ntot, rtot,
                CAST(rn10 // ntot AS INT) AS decile
              FROM (
                SELECT rev,
                  (CAST(row_number() OVER (
                    ORDER BY rev ASC, o_custkey ASC) AS BIGINT) - 1)
                    * 10 AS rn10,
                  CAST(count(*) OVER () AS BIGINT) AS ntot,
                  CAST(sum(rev) OVER () AS BIGINT) AS rtot
                FROM per_cust
              )
            ),
            per AS (
              SELECT decile,
                CAST(count(*) AS BIGINT) AS n_customers,
                CAST(sum(rev) AS BIGINT) AS rev_cents,
                CAST(max(ntot) AS BIGINT) AS ntot,
                CAST(max(rtot) AS BIGINT) AS rtot
              FROM cut GROUP BY decile
            ),
            cum AS (
              SELECT decile, n_customers, rev_cents, ntot, rtot,
                CAST(sum(n_customers) OVER (ORDER BY decile
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                CAST(sum(rev_cents) OVER (ORDER BY decile
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev
              FROM per
            )
            SELECT decile, n_customers, rev_cents,
              CAST(cum_n AS DOUBLE) / CAST(ntot AS DOUBLE)
                AS cum_pop_share,
              CAST(cum_rev AS DOUBLE) / CAST(rtot AS DOUBLE)
                AS cum_rev_share
            FROM cum
        """,
        'q440_peak_hour': """
            WITH cells AS (
              SELECT event_type, CAST(hour(ts) AS INT) AS hod,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            peak AS (
              SELECT event_type, hod AS peak_hour,
                n AS peak_count
              FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY n DESC, hod ASC) AS rk
                FROM cells
              ) WHERE rk = 1
            ),
            med AS (
              SELECT event_type,
                CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n)
                  AS BIGINT) AS median_count
              FROM cells GROUP BY event_type
            )
            SELECT p.event_type, p.peak_hour, p.peak_count,
              m.median_count,
              CAST(p.peak_count AS DOUBLE)
                / CAST(m.median_count AS DOUBLE) AS prominence
            FROM peak p JOIN med m ON m.event_type = p.event_type
        """,
        'q441_repeat_purchase': """
            WITH days AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS pdays
              FROM (
                SELECT DISTINCT user_id,
                  CAST(date_trunc('day', ts) AS DATE) AS pd
                FROM events WHERE event_type = 'purchase'
              ) GROUP BY user_id
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_buyers,
                CAST(sum(CASE WHEN pdays >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_repeat,
                CAST(sum(CASE WHEN pdays >= 5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_loyal
              FROM days
            )
            SELECT n_buyers, n_repeat, n_loyal,
              CAST(n_repeat AS DOUBLE) / CAST(n_buyers AS DOUBLE)
                AS repeat_rate,
              CAST(n_loyal AS DOUBLE) / CAST(n_buyers AS DOUBLE)
                AS loyal_rate
            FROM agg
        """,
        'q442_gap_histogram': """
            WITH base AS (
              SELECT event_type, event_id, epoch_us(ts) AS t
              FROM events
            ),
            gaps AS (
              SELECT event_type,
                t - lag(t) OVER (
                  PARTITION BY event_type ORDER BY t, event_id)
                  AS gap
              FROM base
            )
            SELECT event_type,
              CAST(length(bin(gap)) AS INT) AS log2_bucket,
              CAST(count(*) AS BIGINT) AS n_gaps
            FROM gaps WHERE gap IS NOT NULL
            GROUP BY 1, 2
        """,
        'q443_eval_metrics': """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                max(value) AS day_max
              FROM events GROUP BY 1, 2
            ),
            labeled AS (
              SELECT user_id, day, day_max,
                lead(day_max) OVER (PARTITION BY user_id ORDER BY day)
                  AS label
              FROM daily
            ),
            lab AS (SELECT * FROM labeled WHERE label IS NOT NULL),
            thr AS (
              SELECT quantile_disc(day_max, 0.5) AS t
              FROM lab WHERE day < DATE '2024-01-25'
            ),
            test AS (
              SELECT
                CAST(CAST(label AS DECIMAL(12,2)) * 100 AS BIGINT) AS yc,
                CAST(CAST(day_max AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS pc,
                day_max > (SELECT t FROM thr) AS pos_pred,
                label > (SELECT t FROM thr) AS pos_label
              FROM lab WHERE day >= DATE '2024-01-25'
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_test,
                sum((yc - pc) * (yc - pc)) AS ss_res,
                sum(yc) AS t1,
                sum(yc * yc) AS t2,
                CAST(sum(CASE WHEN pos_pred AND pos_label
                              THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(sum(CASE WHEN pos_pred AND NOT pos_label
                              THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(sum(CASE WHEN NOT pos_pred AND pos_label
                              THEN 1 ELSE 0 END) AS BIGINT) AS fn
              FROM test
            )
            SELECT n_test,
              sqrt(CAST(ss_res AS DOUBLE)
                   / CAST(n_test * 10000 AS DOUBLE)) AS rmse,
              1.0 - CAST(n_test * ss_res AS DOUBLE)
                  / CAST(n_test * t2 - t1 * t1 AS DOUBLE) AS r2,
              CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                AS precision_hi,
              CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall_hi,
              CAST(2 * tp AS DOUBLE)
                / CAST(2 * tp + fp + fn AS DOUBLE) AS f1_hi
            FROM agg
        """,
        'q444_ar1_walkforward': """
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
            se AS (
              SELECT user_id, day, n,
                (CAST(x AS DOUBLE) - (c + phi * CAST(px AS DOUBLE)))
                  * (CAST(x AS DOUBLE) - (c + phi * CAST(px AS DOUBLE)))
                  AS se
              FROM ep
            )
            SELECT user_id, max(n) AS n_days,
              CAST(count(*) AS BIGINT) AS n_test,
              list_reduce(list(se ORDER BY day), (a, b) -> a + b)
                / CAST(count(*) AS DOUBLE) AS mse_c2
            FROM se GROUP BY user_id
        """,
        # Twin of _q_pagerank_gated: three unrolled power iterations,
        # incoming mass folded in source-id order (ordered list_reduce
        # == Spark's sort_array + F.aggregate), symmetric graph so no
        # dangling term.
        "q445_pagerank_gated": """
            WITH ob AS (
              SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            ),
            eh AS (
              SELECT DISTINCT x.b AS a, y.b AS b
              FROM ob x JOIN ob y ON x.o = y.o WHERE x.b < y.b
            ),
            edges AS (
              SELECT a AS src, b AS dst FROM eh
              UNION ALL
              SELECT b AS src, a AS dst FROM eh
            ),
            deg AS (
              SELECT src, CAST(count(*) AS BIGINT) AS outdeg
              FROM edges GROUP BY src
            ),
            nn AS (SELECT count(*) AS n FROM deg),
            r0 AS (
              SELECT src, 1.0 / (SELECT n FROM nn) AS r, outdeg
              FROM deg
            ),
            r1 AS (
              SELECT e.dst AS src,
                0.15 / (SELECT n FROM nn) + 0.85 * list_reduce(
                  list(r.r / r.outdeg ORDER BY e.src),
                  (x, y) -> x + y) AS r
              FROM edges e JOIN r0 r ON e.src = r.src
              GROUP BY e.dst
            ),
            r1d AS (
              SELECT r1.src, r1.r, deg.outdeg
              FROM r1 JOIN deg ON r1.src = deg.src
            ),
            r2 AS (
              SELECT e.dst AS src,
                0.15 / (SELECT n FROM nn) + 0.85 * list_reduce(
                  list(r.r / r.outdeg ORDER BY e.src),
                  (x, y) -> x + y) AS r
              FROM edges e JOIN r1d r ON e.src = r.src
              GROUP BY e.dst
            ),
            r2d AS (
              SELECT r2.src, r2.r, deg.outdeg
              FROM r2 JOIN deg ON r2.src = deg.src
            ),
            r3 AS (
              SELECT e.dst AS src,
                0.15 / (SELECT n FROM nn) + 0.85 * list_reduce(
                  list(r.r / r.outdeg ORDER BY e.src),
                  (x, y) -> x + y) AS r
              FROM edges e JOIN r2d r ON e.src = r.src
              GROUP BY e.dst
            )
            SELECT r3.src AS brand, r3.r AS pagerank,
              (SELECT CAST(n AS BIGINT) FROM nn) AS n_nodes
            FROM r3 JOIN deg ON r3.src = deg.src
        """,
        # Twin of _q_croston: identical ordered struct-state fold —
        # the seed is list_prepend'ed so the 2-arg list_reduce starts
        # from the same (zh=z1, ph=gap2) state, and every step is the
        # same fixed 0.1·x + 0.9·acc double chain.
        "q446_croston": """
            WITH dem AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(count(*) AS DOUBLE) AS z
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1, 2
            ),
            gaps AS (
              SELECT user_id, day, z,
                CAST(day - lag(day) OVER (PARTITION BY user_id
                  ORDER BY day) AS DOUBLE) AS gap
              FROM dem
            ),
            pu AS (
              SELECT user_id,
                list({'z': z, 'gap': gap} ORDER BY day) AS seq,
                CAST(count(*) AS BIGINT) AS m
              FROM gaps GROUP BY user_id
              HAVING count(*) >= 2
            ),
            fol AS (
              SELECT user_id, m,
                list_reduce(
                  list_prepend(
                    {'zh': seq[1].z, 'ph': seq[2].gap},
                    list_transform(seq[2:],
                      x -> {'zh': x.z, 'ph': x.gap})),
                  (acc, x) -> {
                    'zh': CAST(0.1 AS DOUBLE) * x.zh
                          + CAST(0.9 AS DOUBLE) * acc.zh,
                    'ph': CAST(0.1 AS DOUBLE) * x.ph
                          + CAST(0.9 AS DOUBLE) * acc.ph}) AS st
              FROM pu
            )
            SELECT user_id, m AS n_demands, st.zh AS z_hat,
              st.ph AS p_hat, st.zh / st.ph AS demand_rate
            FROM fol
        """,
        # Twin of _q_adf_test: exact hugeint moments, identical fixed
        # epilogue (one division for beta, sign·sqrt closed form for
        # the t-statistic).
        "q447_adf_test": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(CAST(max(value) AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS xc
              FROM events GROUP BY 1, 2
            ),
            pairs AS (
              SELECT user_id,
                lag(xc) OVER win AS x,
                xc - lag(xc) OVER win AS y
              FROM daily
              WINDOW win AS (PARTITION BY user_id ORDER BY day)
              QUALIFY x IS NOT NULL
            ),
            agg AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS m,
                sum(x) AS sx, sum(y) AS sy,
                sum(x * x) AS sxx, sum(x * y) AS sxy,
                sum(y * y) AS syy
              FROM pairs GROUP BY user_id
              HAVING count(*) >= 4
            ),
            sc AS (
              SELECT user_id, m,
                m * sxy - sx * sy AS a,
                m * sxx - sx * sx AS b,
                m * syy - sy * sy AS c
              FROM agg
            )
            SELECT user_id, m,
              CAST(a AS DOUBLE) / CAST(b AS DOUBLE) AS beta,
              (CASE WHEN a < 0 THEN -1.0 ELSE 1.0 END)
                * sqrt((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
                        * CAST(m - 2 AS DOUBLE))
                       / (CAST(c AS DOUBLE) * CAST(b AS DOUBLE)
                          - CAST(a AS DOUBLE) * CAST(a AS DOUBLE)))
                AS t_stat
            FROM sc
            WHERE b <> 0 AND c * b > a * a
        """,
        # Twin of _q_ljung_box: the same m²-scaled exact-integer
        # autocovariance identity per lag, the same literal-order
        # 7-term chain for Q.
        "q448_ljung_box": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(CAST(max(value) AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2
            ),
            base AS (
              SELECT user_id, x,
                row_number() OVER win AS rn,
                CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                  AS m,
                lead(x, 1) OVER win AS x1, lead(x, 2) OVER win AS x2,
                lead(x, 3) OVER win AS x3, lead(x, 4) OVER win AS x4,
                lead(x, 5) OVER win AS x5, lead(x, 6) OVER win AS x6,
                lead(x, 7) OVER win AS x7
              FROM daily
              WINDOW win AS (PARTITION BY user_id ORDER BY day)
            ),
            g AS (
              SELECT user_id, max(m) AS m, sum(x) AS s,
                sum(x * x) AS sxx0,
                sum(CASE WHEN x1 IS NOT NULL THEN x * x1 ELSE 0 END) AS sxy1,
                sum(CASE WHEN x1 IS NOT NULL THEN x ELSE 0 END) AS sh1,
                sum(CASE WHEN rn > 1 THEN x ELSE 0 END) AS st1,
                sum(CASE WHEN x2 IS NOT NULL THEN x * x2 ELSE 0 END) AS sxy2,
                sum(CASE WHEN x2 IS NOT NULL THEN x ELSE 0 END) AS sh2,
                sum(CASE WHEN rn > 2 THEN x ELSE 0 END) AS st2,
                sum(CASE WHEN x3 IS NOT NULL THEN x * x3 ELSE 0 END) AS sxy3,
                sum(CASE WHEN x3 IS NOT NULL THEN x ELSE 0 END) AS sh3,
                sum(CASE WHEN rn > 3 THEN x ELSE 0 END) AS st3,
                sum(CASE WHEN x4 IS NOT NULL THEN x * x4 ELSE 0 END) AS sxy4,
                sum(CASE WHEN x4 IS NOT NULL THEN x ELSE 0 END) AS sh4,
                sum(CASE WHEN rn > 4 THEN x ELSE 0 END) AS st4,
                sum(CASE WHEN x5 IS NOT NULL THEN x * x5 ELSE 0 END) AS sxy5,
                sum(CASE WHEN x5 IS NOT NULL THEN x ELSE 0 END) AS sh5,
                sum(CASE WHEN rn > 5 THEN x ELSE 0 END) AS st5,
                sum(CASE WHEN x6 IS NOT NULL THEN x * x6 ELSE 0 END) AS sxy6,
                sum(CASE WHEN x6 IS NOT NULL THEN x ELSE 0 END) AS sh6,
                sum(CASE WHEN rn > 6 THEN x ELSE 0 END) AS st6,
                sum(CASE WHEN x7 IS NOT NULL THEN x * x7 ELSE 0 END) AS sxy7,
                sum(CASE WHEN x7 IS NOT NULL THEN x ELSE 0 END) AS sh7,
                sum(CASE WHEN rn > 7 THEN x ELSE 0 END) AS st7
              FROM base GROUP BY user_id
              HAVING max(m) >= 10
            ),
            ep AS (
              SELECT user_id, m,
                (m * sxx0 - s * s) * m AS c0,
                m * m * sxy1 - m * s * (sh1 + st1) + (m - 1) * s * s AS c1,
                m * m * sxy2 - m * s * (sh2 + st2) + (m - 2) * s * s AS c2,
                m * m * sxy3 - m * s * (sh3 + st3) + (m - 3) * s * s AS c3,
                m * m * sxy4 - m * s * (sh4 + st4) + (m - 4) * s * s AS c4,
                m * m * sxy5 - m * s * (sh5 + st5) + (m - 5) * s * s AS c5,
                m * m * sxy6 - m * s * (sh6 + st6) + (m - 6) * s * s AS c6,
                m * m * sxy7 - m * s * (sh7 + st7) + (m - 7) * s * s AS c7
              FROM g
            ),
            rho AS (
              SELECT user_id, m,
                CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
                CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2,
                CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r3,
                CAST(c4 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r4,
                CAST(c5 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r5,
                CAST(c6 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r6,
                CAST(c7 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r7
              FROM ep WHERE c0 <> 0
            )
            SELECT user_id, m, r1 AS rho1,
              CAST(m * (m + 2) AS DOUBLE) * (
                r1 * r1 / CAST(m - 1 AS DOUBLE)
                + r2 * r2 / CAST(m - 2 AS DOUBLE)
                + r3 * r3 / CAST(m - 3 AS DOUBLE)
                + r4 * r4 / CAST(m - 4 AS DOUBLE)
                + r5 * r5 / CAST(m - 5 AS DOUBLE)
                + r6 * r6 / CAST(m - 6 AS DOUBLE)
                + r7 * r7 / CAST(m - 7 AS DOUBLE)) AS q_lb
            FROM rho
        """,
        # Twin of _q_ransac_slope: identical md5-ordered anchors and
        # exact-integer cross-multiplied inlier test.
        "q449_ransac_slope": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(CAST(max(value) AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2
            ),
            d2 AS (
              SELECT user_id, day, x,
                CAST(day - DATE '1970-01-01' AS BIGINT) AS d
              FROM daily
            ),
            an AS (
              SELECT user_id,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY md5(CAST(day AS VARCHAR)), day) AS ar,
                d AS ad, x AS ax
              FROM d2
              QUALIFY ar <= 5
            ),
            pr AS (
              SELECT i.user_id, i.ar AS ri, j.ar AS rj,
                i.ad AS d0, i.ax AS x0,
                j.ad - i.ad AS dd, j.ax - i.ax AS dx
              FROM an i JOIN an j
                ON i.user_id = j.user_id AND i.ar < j.ar
              WHERE j.ad - i.ad <> 0
            ),
            sc AS (
              SELECT p.user_id, p.ri, p.rj, p.dd, p.dx,
                CASE WHEN abs((t.x - p.x0) * p.dd
                              - p.dx * (t.d - p.d0))
                          <= 100 * abs(p.dd)
                     THEN 1 ELSE 0 END AS inl
              FROM d2 t JOIN pr p ON t.user_id = p.user_id
            ),
            ct AS (
              SELECT user_id, ri, rj, dd, dx,
                CAST(sum(inl) AS BIGINT) AS n_inliers,
                CAST(count(*) AS BIGINT) AS n_points
              FROM sc GROUP BY 1, 2, 3, 4, 5
            )
            SELECT user_id,
              CAST(dx AS DOUBLE) / CAST(dd AS DOUBLE)
                AS slope_c_per_day,
              n_inliers, n_points
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY n_inliers DESC, ri, rj) AS b
              FROM ct
            ) WHERE b = 1
        """,
        # Twin of _q_neyman_allocation: same exact-integer scaled
        # variance under an IEEE sqrt, literal-order denominator fold,
        # floor + largest-remainder seats.
        "q450_neyman_allocation": """
            WITH strata AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
                sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS s1,
                sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    * CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS s2
              FROM events WHERE value IS NOT NULL GROUP BY 1
            ),
            wt AS (
              SELECT event_type, n_rows,
                sqrt(CAST(n_rows * s2 - s1 * s1 AS DOUBLE)) AS wt
              FROM strata
            ),
            sh AS (
              SELECT event_type, n_rows,
                1000.0 * (wt / (SELECT list_reduce(
                  list(wt ORDER BY event_type), (a, b) -> a + b)
                  FROM wt)) AS seats
              FROM wt
            ),
            al AS (
              SELECT event_type, n_rows,
                CAST(floor(seats) AS BIGINT) AS fl,
                seats - floor(seats) AS frac
              FROM sh
            ),
            fin AS (
              SELECT *,
                1000 - (SELECT sum(fl) FROM al) AS leftover,
                row_number() OVER (ORDER BY frac DESC, event_type)
                  AS rk
              FROM al
            )
            SELECT event_type, n_rows,
              CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                   AS BIGINT) AS alloc_n
            FROM fin
        """,
        # Twin of _q_hodges_lehmann: identical integer pair sums and
        # explicit middle-index selection.
        "q451_hodges_lehmann": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(CAST(max(value) AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2
            ),
            d AS (
              SELECT user_id, x,
                row_number() OVER (PARTITION BY user_id ORDER BY day)
                  AS rn
              FROM daily
            ),
            pairs AS (
              SELECT a.user_id, a.x + b.x AS s, a.rn AS i, b.rn AS j
              FROM d a JOIN d b
                ON a.user_id = b.user_id AND a.rn <= b.rn
            ),
            ranked AS (
              SELECT user_id, s,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY s, i, j) AS rk,
                CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                  AS np
              FROM pairs
            ),
            mid AS (
              SELECT * FROM ranked
              WHERE rk = CAST(floor((np + 1) / 2.0) AS BIGINT)
                 OR rk = CAST(ceil((np + 1) / 2.0) AS BIGINT)
            )
            SELECT user_id, max(np) AS n_pairs,
              CAST(sum(s) AS DOUBLE)
                / CAST(2 * count(*) AS DOUBLE) AS hl_cents
            FROM mid GROUP BY user_id
        """,
        # Twin of _q_regression_influence: same exact integer moments,
        # same fixed double chains for leverage, residual, SSE and
        # Cook's distance; rank-gated top-3.
        "q452_regression_influence": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(CAST(max(value) AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS y,
                CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                  AS d
              FROM events GROUP BY 1, 2, 4
            ),
            moms AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS m,
                sum(d) AS sd, sum(y) AS sy, sum(d * d) AS sdd,
                sum(d * y) AS sdy, sum(y * y) AS syy
              FROM daily GROUP BY user_id
              HAVING count(*) >= 4
            ),
            lines AS (
              SELECT user_id, m, sd, sy,
                m * sdd - sd * sd AS bb,
                CAST(m * sdy - sd * sy AS DOUBLE)
                  / CAST(m * sdd - sd * sd AS DOUBLE) AS beta,
                m * sdy - sd * sy AS aa,
                m * syy - sy * sy AS cc
              FROM moms
              WHERE m * sdd - sd * sd <> 0
                AND (m * syy - sy * sy) * (m * sdd - sd * sd)
                    > (m * sdy - sd * sy) * (m * sdy - sd * sy)
            ),
            lin2 AS (
              SELECT *,
                (CAST(sy AS DOUBLE) - beta * CAST(sd AS DOUBLE))
                  / CAST(m AS DOUBLE) AS alpha,
                ((CAST(cc AS DOUBLE) * CAST(bb AS DOUBLE)
                  - CAST(aa AS DOUBLE) * CAST(aa AS DOUBLE))
                 / (CAST(m AS DOUBLE) * CAST(bb AS DOUBLE)))
                / CAST(m - 2 AS DOUBLE) AS s2
              FROM lines
            ),
            pts AS (
              SELECT t.user_id, t.day, l.m,
                1.0 / CAST(l.m AS DOUBLE)
                  + CAST((l.m * t.d - l.sd) * (l.m * t.d - l.sd)
                         AS DOUBLE)
                    / CAST(l.m * l.bb AS DOUBLE) AS leverage,
                CAST(t.y AS DOUBLE)
                  - (l.alpha + l.beta * CAST(t.d AS DOUBLE)) AS resid_c,
                l.s2
              FROM daily t JOIN lin2 l ON t.user_id = l.user_id
            ),
            scored AS (
              SELECT user_id, day, leverage, resid_c,
                (resid_c * resid_c) * leverage
                  / (2.0 * s2 * ((1.0 - leverage) * (1.0 - leverage)))
                  AS cooks_d
              FROM pts
            )
            SELECT user_id, day,
              CAST(rk AS INT) AS rank, leverage, resid_c, cooks_d
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY cooks_d DESC, day) AS rk
              FROM scored
            ) WHERE rk <= 3
        """,
        # Twin of _q_tukey_hsd: q287's exact decimal group moments,
        # the same _dsum(decimal(38,6)) order-independent totals, the
        # same literal pair list, identical fixed double chains.
        "q453_tukey_hsd": """
            WITH g AS (
              SELECT event_type, count(*) AS n,
                sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS s,
                sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS DECIMAL(19,0))
                    * CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS ss
              FROM events WHERE value IS NOT NULL GROUP BY 1
            ),
            per AS (
              SELECT event_type, n,
                CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
                CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE) AS s2n,
                CAST(ss AS DOUBLE) AS ssd
              FROM g
            ),
            wide AS (
              SELECT sum(n) AS N, CAST(count(*) AS BIGINT) AS k,
                CAST(sum(CAST(s2n AS DECIMAL(38,6))) AS DOUBLE)
                  AS sum_s2n,
                CAST(sum(CAST(ssd AS DECIMAL(38,6))) AS DOUBLE) AS SS,
                max(CASE WHEN event_type = 'click' THEN mean_c END) AS mean_click,
                max(CASE WHEN event_type = 'click' THEN n END) AS n_click,
                max(CASE WHEN event_type = 'view' THEN mean_c END) AS mean_view,
                max(CASE WHEN event_type = 'view' THEN n END) AS n_view,
                max(CASE WHEN event_type = 'purchase' THEN mean_c END) AS mean_purchase,
                max(CASE WHEN event_type = 'purchase' THEN n END) AS n_purchase,
                max(CASE WHEN event_type = 'signup' THEN mean_c END) AS mean_signup,
                max(CASE WHEN event_type = 'signup' THEN n END) AS n_signup,
                max(CASE WHEN event_type = 'error' THEN mean_c END) AS mean_error,
                max(CASE WHEN event_type = 'error' THEN n END) AS n_error
              FROM per
            ),
            wm AS (
              SELECT *,
                (SS - sum_s2n) / CAST(N - k AS DOUBLE) AS msw
              FROM wide
            ),
            ex AS (
              SELECT wm.*, p FROM wm, (SELECT UNNEST([
                  {'ta': 'click', 'tb': 'view'},
                  {'ta': 'click', 'tb': 'purchase'},
                  {'ta': 'click', 'tb': 'signup'},
                  {'ta': 'click', 'tb': 'error'},
                  {'ta': 'view', 'tb': 'purchase'},
                  {'ta': 'view', 'tb': 'signup'},
                  {'ta': 'view', 'tb': 'error'},
                  {'ta': 'purchase', 'tb': 'signup'},
                  {'ta': 'purchase', 'tb': 'error'},
                  {'ta': 'signup', 'tb': 'error'}]) AS p)
            )
            SELECT p.ta AS type_a, p.tb AS type_b,
              (CASE WHEN p.ta = 'click' THEN mean_click WHEN p.ta = 'view' THEN mean_view WHEN p.ta = 'purchase' THEN mean_purchase WHEN p.ta = 'signup' THEN mean_signup WHEN p.ta = 'error' THEN mean_error END) AS mean_a_c,
              (CASE WHEN p.tb = 'click' THEN mean_click WHEN p.tb = 'view' THEN mean_view WHEN p.tb = 'purchase' THEN mean_purchase WHEN p.tb = 'signup' THEN mean_signup WHEN p.tb = 'error' THEN mean_error END) AS mean_b_c,
              abs((CASE WHEN p.ta = 'click' THEN mean_click WHEN p.ta = 'view' THEN mean_view WHEN p.ta = 'purchase' THEN mean_purchase WHEN p.ta = 'signup' THEN mean_signup WHEN p.ta = 'error' THEN mean_error END) - (CASE WHEN p.tb = 'click' THEN mean_click WHEN p.tb = 'view' THEN mean_view WHEN p.tb = 'purchase' THEN mean_purchase WHEN p.tb = 'signup' THEN mean_signup WHEN p.tb = 'error' THEN mean_error END))
                / sqrt((msw / 2) * (1.0 / CAST(CASE WHEN p.ta = 'click' THEN n_click WHEN p.ta = 'view' THEN n_view WHEN p.ta = 'purchase' THEN n_purchase WHEN p.ta = 'signup' THEN n_signup WHEN p.ta = 'error' THEN n_error END AS DOUBLE)
                       + 1.0 / CAST(CASE WHEN p.tb = 'click' THEN n_click WHEN p.tb = 'view' THEN n_view WHEN p.tb = 'purchase' THEN n_purchase WHEN p.tb = 'signup' THEN n_signup WHEN p.tb = 'error' THEN n_error END AS DOUBLE)))
                AS q_stat
            FROM ex
        """,
        # Twin of _q_westgard: integer-cents daily totals, identical
        # z-score chain and rule predicates.
        "q454_westgard": """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS x
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            lim AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS nt,
                sum(x) AS s1, sum(x * x) AS s2
              FROM daily WHERE day < DATE '2024-01-21'
              GROUP BY 1 HAVING count(*) >= 2
            ),
            lims AS (
              SELECT event_type,
                CAST(s1 AS DOUBLE) / CAST(nt AS DOUBLE) AS mu,
                sqrt((CAST(nt AS DOUBLE) * CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)))
                  AS sigma
              FROM lim
            ),
            limf AS (SELECT * FROM lims WHERE sigma > 0),
            zs AS (
              SELECT d.event_type, d.day,
                (CAST(d.x AS DOUBLE) - l.mu) / l.sigma AS z
              FROM daily d JOIN limf l ON d.event_type = l.event_type
              WHERE d.day >= DATE '2024-01-21'
            ),
            lagged AS (
              SELECT event_type, day, z,
                lag(z, 1) OVER win AS z1,
                lag(z, 2) OVER win AS z2,
                lag(z, 3) OVER win AS z3
              FROM zs
              WINDOW win AS (PARTITION BY event_type ORDER BY day)
            )
            SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_days,
              CAST(sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_13s,
              CAST(sum(CASE WHEN (z > 2 AND z1 > 2)
                             OR (z < -2 AND z1 < -2)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_22s,
              CAST(sum(CASE WHEN (z > 2 AND z1 < -2)
                             OR (z < -2 AND z1 > 2)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_r4s,
              CAST(sum(CASE WHEN (z > 1 AND z1 > 1 AND z2 > 1
                                  AND z3 > 1)
                             OR (z < -1 AND z1 < -1 AND z2 < -1
                                 AND z3 < -1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_41s
            FROM lagged GROUP BY event_type
        """,
        # Twin of _q_cochran_armitage: same row-level integer sums and
        # fixed double chain; the median is the same quantile_disc
        # table value.
        "q455_cochran_armitage": """
            WITH o AS (
              SELECT CAST(substring(o_orderpriority, 1, 1) AS INT)
                  AS sc,
                o_totalprice,
                CASE WHEN o_totalprice > (
                  SELECT quantile_disc(o_totalprice, 0.5) FROM orders
                ) THEN 1 ELSE 0 END AS succ
              FROM orders
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(succ) AS BIGINT) AS r,
                CAST(sum(sc) AS BIGINT) AS sn,
                CAST(sum(sc * sc) AS BIGINT) AS s2n,
                CAST(sum(sc * succ) AS BIGINT) AS sr
              FROM o
            )
            SELECT n AS n_orders, r AS n_success,
              (CASE WHEN CAST(n AS DOUBLE) * CAST(sr AS DOUBLE)
                         - CAST(r AS DOUBLE) * CAST(sn AS DOUBLE) < 0
                    THEN -1.0 ELSE 1.0 END)
              * sqrt(
                  (CAST(n AS DOUBLE) * CAST(sr AS DOUBLE)
                   - CAST(r AS DOUBLE) * CAST(sn AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sr AS DOUBLE)
                     - CAST(r AS DOUBLE) * CAST(sn AS DOUBLE))
                  * CAST(n AS DOUBLE)
                  / (CAST(r AS DOUBLE) * (CAST(n AS DOUBLE)
                       - CAST(r AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(s2n AS DOUBLE)
                        - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))))
                AS z_trend
            FROM agg
        """,
        # Twin of _q_conformal_interval: same integer nonconformity
        # scores, quantile_disc table value, one coverage division.
        "q456_conformal_interval": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(CAST(max(value) AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2
            ),
            lab AS (
              SELECT user_id, day, x AS pred,
                lead(x) OVER (PARTITION BY user_id ORDER BY day)
                  AS label
              FROM daily
              QUALIFY label IS NOT NULL
            ),
            qh AS (
              SELECT quantile_disc(abs(label - pred), 0.9) AS q
              FROM lab WHERE day < DATE '2024-01-21'
            ),
            test AS (
              SELECT abs(label - pred) AS s FROM lab
              WHERE day >= DATE '2024-01-21'
            )
            SELECT (SELECT CAST(q AS BIGINT) FROM qh) AS q90_c,
              CAST(count(*) AS BIGINT) AS n_test,
              CAST(sum(CASE WHEN s <= (SELECT q FROM qh)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
              CAST(sum(CASE WHEN s <= (SELECT q FROM qh)
                            THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS coverage
            FROM test
        """,
        # Twin of _q_loo_target_encoding: exact decimal numerator, one
        # division per row.
        "q457_loo_target_encoding": """
            WITH o AS (
              SELECT o_orderkey, o_orderpriority,
                CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                     AS BIGINT) AS xc
              FROM orders
            ),
            g AS (
              SELECT o_orderpriority,
                CAST(count(*) AS BIGINT) AS ng, sum(xc) AS sg
              FROM o GROUP BY 1
            )
            SELECT o.o_orderkey, o.o_orderpriority,
              CAST(g.sg - o.xc AS DOUBLE)
                / CAST(g.ng - 1 AS DOUBLE) AS loo_enc_c
            FROM o JOIN g ON o.o_orderpriority = g.o_orderpriority
            WHERE g.ng > 1
        """,
        # Twin of _q_join_cardinality: per-key count frames joined on
        # key, exact integer products.
        "q458_join_cardinality": """
            WITH co AS (
              SELECT 'customer_orders' AS join_pair,
                CAST(sum(na * nb) AS BIGINT) AS est_rows,
                CAST(count(*) AS BIGINT) AS n_shared_keys
              FROM (
                SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS na
                FROM customer GROUP BY 1
              ) a JOIN (
                SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS nb
                FROM orders GROUP BY 1
              ) b ON a.k = b.k
            ),
            ol AS (
              SELECT 'orders_lineitem' AS join_pair,
                CAST(sum(na * nb) AS BIGINT) AS est_rows,
                CAST(count(*) AS BIGINT) AS n_shared_keys
              FROM (
                SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS na
                FROM orders GROUP BY 1
              ) a JOIN (
                SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nb
                FROM lineitem GROUP BY 1
              ) b ON a.k = b.k
            )
            SELECT * FROM co UNION ALL SELECT * FROM ol
        """,
        # Twin of _q_capture_recapture: two distinct-user frames, one
        # inner join, Chapman's one-division estimate.
        "q459_capture_recapture": """
            WITH u1 AS (
              SELECT DISTINCT event_type, user_id FROM events
              WHERE CAST(ts AS DATE) < DATE '2024-01-16'
            ),
            u2 AS (
              SELECT DISTINCT event_type, user_id FROM events
              WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
            ),
            n1 AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n1
              FROM u1 GROUP BY 1
            ),
            n2 AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n2
              FROM u2 GROUP BY 1
            ),
            m AS (
              SELECT u1.event_type, CAST(count(*) AS BIGINT) AS m
              FROM u1 JOIN u2
                ON u1.event_type = u2.event_type
               AND u1.user_id = u2.user_id
              GROUP BY 1
            )
            SELECT n1.event_type, n1.n1, n2.n2, m.m,
              CAST((n1.n1 + 1) * (n2.n2 + 1) AS DOUBLE)
                / CAST(m.m + 1 AS DOUBLE) - 1.0 AS n_hat
            FROM n1
            JOIN n2 ON n1.event_type = n2.event_type
            JOIN m ON n1.event_type = m.event_type
        """,
        # Twin of _q_chao1_richness: q31's tokenizer, frequency
        # spectrum, one division.
        "q460_chao1_richness": r"""
            WITH tk0 AS (
              SELECT source,
                list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '') AS tk
              FROM documents
            ),
            sh AS (
              SELECT source,
                unnest(list_transform(range(1, len(tk) - 3),
                  i -> array_to_string(list_slice(tk, i, i + 4), ' ')))
                  AS shingle
              FROM tk0 WHERE len(tk) >= 5
            ),
            tf AS (
              SELECT source, shingle, CAST(count(*) AS BIGINT) AS c
              FROM sh GROUP BY 1, 2
            ),
            spec AS (
              SELECT source, CAST(count(*) AS BIGINT) AS s_obs,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS f1,
                CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS f2
              FROM tf GROUP BY 1
            )
            SELECT source, s_obs, f1, f2,
              CAST(s_obs AS DOUBLE)
                + CAST(f1 * (f1 - 1) AS DOUBLE)
                  / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1
            FROM spec
        """,
        # Twin of _q_gini_mean_difference: same rank identity, exact
        # integer numerator, one division.
        "q461_gini_mean_difference": """
            WITH ranked AS (
              SELECT event_type,
                CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS v,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT), event_id) AS r,
                CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                  AS n
              FROM events WHERE value IS NOT NULL
            ),
            agg AS (
              SELECT event_type, max(n) AS n,
                sum((2 * r - n - 1) * v) AS num
              FROM ranked GROUP BY event_type
            )
            SELECT event_type, n AS n_rows,
              CAST(num AS DOUBLE) / (CAST(n * (n - 1) AS DOUBLE) / 2)
                AS gmd_c
            FROM agg
        """,
    },
)
