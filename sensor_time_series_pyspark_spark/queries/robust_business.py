"""Embedding-space diagnostics and later additions (q481+).

Conventions: embeddings are 2^20-quantized to EXACT integers before
any cross-engine aggregate (q47's discipline); per-dimension
epilogues fold doubles in ascending-dim order (Python left fold ==
DuckDB ordered list_reduce); registry raises on duplicate names."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import tokens
from sensor_time_series_pyspark_spark.queries.complexity_evt import (
    _type_daily_cents,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


_QSCALE = 1048576  # 2^20 — power-of-2 scale quantizes floats exactly
_QSCALE2 = float(_QSCALE) * float(_QSCALE)  # 2^40, norm² unit


def _label_dim_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(label, dim) EXACT integer moments of the 2^20-quantized
    embedding table — the one shuffle every embedding diagnostic
    shares: (label, d) grain is 10×64 rows at ANY corpus size, and
    the quantize+explode is map-side."""
    emb = read_table(spark, sf, "embeddings")
    cell = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).alias("d"),
        F.floor(F.col("x").cast("double") * _QSCALE)
        .cast("bigint")
        .alias("q"),
    )
    return cell.groupBy("label", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("qq"),
    )


def _q_embedding_anisotropy(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding anisotropy (cone effect) per label:
    ‖mean vector‖² / mean‖x‖² — the classic representation-collapse
    audit (→1 means all vectors share a direction and cosine
    similarity saturates; →0 means centered). Per-dim sums are exact
    integers on 2^20-quantized vectors; the two folds (Σs_d² and
    Σq_d) run driver-side over the 640-row moment table in
    ascending-dim order with the two-cast double discipline, and the
    result is ONE division. mean_sq_norm is reported in original
    float units (÷2^40)."""
    rows = _label_dim_moments(spark, sf).collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            (r["d"], r["m"], r["s"], r["qq"])
        )
    out = []
    for lab in sorted(by_label):
        dims = sorted(by_label[lab])
        m = dims[0][1]
        ssum = None
        qsum = None
        for _, _, s, qq in dims:
            ts = float(s) * float(s)
            ssum = ts if ssum is None else ssum + ts
            tq = float(qq)
            qsum = tq if qsum is None else qsum + tq
        out.append(
            (
                lab,
                m,
                ssum / (float(m) * qsum),
                qsum / float(m) / _QSCALE2,
            )
        )
    return spark.createDataFrame(
        out,
        "label int, n_vecs bigint, anisotropy double, "
        "mean_sq_norm double",
    )


def _q_participation_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Participation ratio of the per-dimension variance spectrum per
    label: PR = (Σ_d var_d)²/Σ_d var_d² — the diagonal-covariance
    effective-dimensionality estimate (64 ⇒ isotropic use of every
    axis, →1 ⇒ one dominant axis), the cheap intrinsic-dim audit
    before an ANN index choice. var_d numerators m·q_d − s_d² are
    exact integers with the m² denominators cancelling in the ratio;
    both folds run in ascending-dim order with two-cast doubles."""
    rows = _label_dim_moments(spark, sf).collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            (r["d"], r["m"], r["s"], r["qq"])
        )
    out = []
    for lab in sorted(by_label):
        dims = sorted(by_label[lab])
        m = dims[0][1]
        nsum = None
        n2sum = None
        for _, _, s, qq in dims:
            num = float(m * qq - s * s)
            nsum = num if nsum is None else nsum + num
            t2 = num * num
            n2sum = t2 if n2sum is None else n2sum + t2
        pr = (nsum * nsum) / n2sum
        out.append((lab, m, pr, pr / 64.0))
    return spark.createDataFrame(
        out,
        "label int, n_vecs bigint, part_ratio double, "
        "pr_frac double",
    )


def _q_centroid_separation(spark: SparkSession, sf: str) -> DataFrame:
    """Class-centroid separation matrix over the embedding labels:
    Euclidean distance between every pair of label centroids in
    original float units — the confusability map that says which
    classes an ANN index or classifier will smear together. Centroid
    differences per dim are the EXACT integers s_da·m_b − s_db·m_a
    (< 2^53, so their double casts are value-exact); each pair's 64
    squared terms fold in ascending-dim order and the ÷(m_a·m_b)
    ÷2^20 normalization is a fixed two-step chain."""
    import math

    rows = _label_dim_moments(spark, sf).collect()
    by_label: dict[int, dict[int, tuple]] = {}
    for r in rows:
        by_label.setdefault(r["label"], {})[r["d"]] = (
            r["m"],
            r["s"],
        )
    labs = sorted(by_label)
    out = []
    for i, a in enumerate(labs):
        for b in labs[i + 1:]:
            ma = by_label[a][1][0]
            mb = by_label[b][1][0]
            acc = None
            for d in sorted(by_label[a]):
                sa = by_label[a][d][1]
                sb = by_label[b][d][1]
                diff = float(sa * mb - sb * ma)
                t = diff * diff
                acc = t if acc is None else acc + t
            dist = (
                math.sqrt(acc) / (float(ma) * float(mb)) / _QSCALE
            )
            out.append((a, b, ma, mb, dist))
    return spark.createDataFrame(
        out,
        "label_a int, label_b int, n_a bigint, n_b bigint, "
        "dist double",
    )


def _q_sorted_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernández-Stolfo): sort
    the corpus ONCE by a cheap key (lowercased 16-char prefix,
    doc_id tie-break), compare each doc only to the next 3 in sort
    order, keep pairs with 5-gram Jaccard ≥ 0.2 — the classic
    entity-resolution candidate generator that complements the
    LSH/PPJoin family (operators/dedup.py) with O(n·w) candidates
    and zero hashing. The neighbor join is an EQUI-join on rank+off
    (never an inequality), the Jaccard test is the exact integer
    predicate 5·|∩| ≥ |∪|, and the reported jaccard is one
    division. At 100 TB the sort is the same shuffle a range
    partition already pays; w stays constant."""
    docs = read_table(spark, sf, "documents")
    toks = tokens("text")
    keyed = docs.select(
        "doc_id",
        F.lower(F.substring("text", 1, 16)).alias("bkey"),
        F.when(
            F.size(toks) >= 5,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 4),
                    lambda i: F.concat_ws(
                        " ", F.slice(toks, i, F.lit(5))
                    ),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("sh"),
    )
    w = Window.orderBy("bkey", "doc_id")
    ranked = keyed.select(
        "doc_id", "sh", F.row_number().over(w).alias("rnk")
    )
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("rnk"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("off"),
    ).select(
        "doc_a", "sh_a", (F.col("rnk") + F.col("off")).alias("rj")
    )
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("rnk").alias("rj"),
    )
    j = left.join(right, "rj")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    cand = j.select(
        "doc_a",
        "doc_b",
        inter.cast("bigint").alias("n_inter"),
        union.cast("bigint").alias("n_union"),
    ).where(
        (F.col("n_inter") * 5 >= F.col("n_union"))
        & (F.col("n_union") > 0)
    )
    return cand.select(
        "doc_a",
        "doc_b",
        "n_inter",
        "n_union",
        (
            F.col("n_inter").cast("double")
            / F.col("n_union").cast("double")
        ).alias("jaccard"),
    )


import math as _m  # noqa: E402

_LN2 = _m.log(2.0)
_EULER_GAMMA = 0.5772156649015329
_GUMBEL_Y = {T: -_m.log(-_m.log(1.0 - 1.0 / T)) for T in (10, 30)}


def _q_gumbel_pwm(spark: SparkSession, sf: str) -> DataFrame:
    """Gumbel extreme-value fit by probability-weighted moments over
    the daily-maximum blocks per event type, with 10- and 30-day
    return levels — the capacity-planning question "what daily spike
    do we see once a month" answered with the estimator that needs
    no iteration: b₀ = ΣX/n, (n)(n−1)b₁ = Σ(r−1)X₍ᵣ₎ are EXACT
    integer rank-weighted sums (ties permute equal values, leaving
    the sum invariant), β̂ = (2b₁−b₀)/ln2, μ̂ = b₀ − γβ̂, and the
    Gumbel quantile constants y_T = −ln(−ln(1−1/T)) are precomputed
    literals shared with the oracle — no transcendental ever runs on
    data. Complements q473's POT mean-excess with the block-maxima
    branch of EVT."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.max(cents).alias("x"))
    w = Window.partitionBy("event_type").orderBy("x", "day")
    ranked = daily.select(
        "event_type", "x", F.row_number().over(w).alias("r")
    )
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("a"),
        F.sum((F.col("r") - 1) * F.col("x")).cast("bigint").alias("b"),
    )
    n_d = F.col("n").cast("double")
    b0 = F.col("a").cast("double") / n_d
    b1 = F.col("b").cast("double") / (
        n_d * (F.col("n") - 1).cast("double")
    )
    beta = (2.0 * b1 - b0) / F.lit(_LN2)
    mu = b0 - F.lit(_EULER_GAMMA) * beta
    return g.select(
        "event_type",
        F.col("n").alias("n_blocks"),
        b0.alias("b0"),
        b1.alias("b1"),
        mu.alias("mu"),
        beta.alias("beta"),
        (mu + beta * F.lit(_GUMBEL_Y[10])).alias("ret_10"),
        (mu + beta * F.lit(_GUMBEL_Y[30])).alias("ret_30"),
    )


def _q_theil_between(spark: SparkSession, sf: str) -> DataFrame:
    """Between-nation Theil T decomposition of customer order
    revenue: contrib_g = s_g·ln(s_g/p_g) with s_g the nation's
    revenue share and p_g its customer-population share — the
    group-resolved inequality audit (Σ contrib = the between-group
    Theil index, 0 ⇔ every nation's share matches its headcount).
    Revenue reduces to exact decimal cents and headcounts to exact
    integers; the 25-row share table collects and the ln epilogue
    folds driver-side in nation order (libm discipline), with the
    total repeated per row exactly as the oracle's ordered
    list_reduce computes it."""
    import math

    cust = read_table(spark, sf, "customer")
    nation = read_table(spark, sf, "nation")
    orders = read_table(spark, sf, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                "decimal(38,0)"
            )
        ).alias("cents")
    )
    j = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(rev, cust["c_custkey"] == rev["o_custkey"], "left")
        .select(
            "n_name",
            F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
        )
    )
    g = j.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("decimal(38,0)").alias("rev"),
    ).collect()
    tot_n = sum(r["n_cust"] for r in g)
    tot_rev = sum(int(r["rev"]) for r in g)
    rows = []
    theil = None
    for r in sorted(g, key=lambda r: r["n_name"]):
        s_g = float(int(r["rev"])) / float(tot_rev)
        p_g = r["n_cust"] / tot_n
        contrib = s_g * math.log(s_g / p_g) if s_g > 0 else 0.0
        rows.append((r["n_name"], r["n_cust"], s_g, p_g, contrib))
        theil = contrib if theil is None else theil + contrib
    return spark.createDataFrame(
        [(n, c, s, p, ct, theil) for n, c, s, p, ct in rows],
        "n_name string, n_cust bigint, rev_share double, "
        "pop_share double, contrib double, theil_between double",
    )


def _q_l_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Sample L-moments of each type's daily-total series: λ₁ λ₂ and
    the shape ratios t₃ (L-skewness) t₄ (L-kurtosis) — the robust
    moment family (finite for any distribution with a mean, ~unit
    breakdown resistance vs classical skew/kurt) and the standard
    EVT/regional-frequency fingerprint alongside q485's Gumbel fit.
    Every PWM bₖ numerator Σ(r−1)⋯(r−k)·X₍ᵣ₎ is an EXACT integer
    < 2^53 on the 30-row calendar frame (ties permute equal values,
    sums invariant); λ/τ are the textbook fixed-order linear
    chains."""
    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("v", "day")
    ranked = daily.select(
        "event_type", F.col("v").alias("x"),
        F.row_number().over(w).alias("r"),
    )
    r1 = F.col("r") - 1
    r2 = F.col("r") - 2
    r3 = F.col("r") - 3
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s0"),
        F.sum(r1 * F.col("x")).cast("bigint").alias("s1"),
        F.sum(r1 * r2 * F.col("x")).cast("bigint").alias("s2"),
        F.sum(r1 * r2 * r3 * F.col("x")).cast("bigint").alias("s3"),
    )
    n = F.col("n").cast("double")
    b0 = F.col("s0").cast("double") / n
    b1 = F.col("s1").cast("double") / (n * (F.col("n") - 1).cast("double"))
    b2 = F.col("s2").cast("double") / (
        n
        * (F.col("n") - 1).cast("double")
        * (F.col("n") - 2).cast("double")
    )
    b3 = F.col("s3").cast("double") / (
        n
        * (F.col("n") - 1).cast("double")
        * (F.col("n") - 2).cast("double")
        * (F.col("n") - 3).cast("double")
    )
    l2 = 2.0 * b1 - b0
    return g.select(
        "event_type",
        F.col("n").alias("n_days"),
        b0.alias("l1"),
        l2.alias("l2"),
        ((6.0 * b2 - 6.0 * b1 + b0) / l2).alias("t3"),
        ((20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0) / l2).alias("t4"),
    )


def _q_bowley_moors(spark: SparkSession, sf: str) -> DataFrame:
    """Bowley quartile skewness and Moors octile kurtosis of the raw
    event-value distribution per type — the quantile-based shape
    stats that survive any outlier (the robust companions to q487's
    L-ratios, here on the full value distribution rather than the
    daily reduce). All seven octiles E₁..E₇ read off ONE
    running-count pass (q473's trick: value at rank ⌈i·n/8⌉), the
    numerators are exact integer cents, and each statistic is one
    division."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    cells = (
        ev.select("event_type", cents.alias("v"))
        .groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    run = cells.select(
        "event_type",
        "v",
        "cnt",
        F.sum("cnt").over(wcum).cast("bigint").alias("ccnt"),
        F.sum("cnt").over(wall).cast("bigint").alias("n"),
    )
    aggs = []
    for i in range(1, 8):
        r_i = F.ceil(F.col("n") * i / 8).cast("bigint")
        hit = (F.col("ccnt") >= r_i) & (
            (F.col("ccnt") - F.col("cnt")) < r_i
        )
        aggs.append(F.max(F.when(hit, F.col("v"))).alias(f"e{i}"))
    aggs.append(F.max("n").alias("n"))
    wide = run.groupBy("event_type").agg(*aggs)
    bowley = (
        (F.col("e6") + F.col("e2") - 2 * F.col("e4")).cast("double")
        / (F.col("e6") - F.col("e2")).cast("double")
    )
    moors = (
        (
            (F.col("e7") - F.col("e5")) + (F.col("e3") - F.col("e1"))
        ).cast("double")
        / (F.col("e6") - F.col("e2")).cast("double")
    )
    return wide.select(
        "event_type",
        F.col("n").alias("n_rows"),
        F.col("e2").alias("q1"),
        F.col("e4").alias("median"),
        F.col("e6").alias("q3"),
        bowley.alias("bowley_skew"),
        moors.alias("moors_kurt"),
    )


def _q_newsvendor(spark: SparkSession, sf: str) -> DataFrame:
    """Newsvendor optimal stock per event type: with underage:overage
    cost 3:1 the critical fractile is 0.75, Q* = the 0.75-quantile of
    daily demand (event count), and the expected daily overage/
    underage UNITS at Q* read off the SAME running-count pass
    (Σ(Q−d)⁺ = Q·cnt≤ − sum≤, Σ(d−Q)⁺ = sum> − Q·cnt>) — the
    one-scan inventory sizing the q473 threshold machinery was built
    for. Everything is exact integers until the final per-day
    divisions; expected_cost = (1·over + 3·under)/n."""
    ev = read_table(spark, sf, "events")
    demand = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    cells = demand.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("v").cast("bigint").alias("vsum"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    run = cells.select(
        "event_type",
        "v",
        "cnt",
        F.sum("cnt").over(wcum).cast("bigint").alias("ccnt"),
        F.sum("vsum").over(wcum).cast("bigint").alias("csum"),
        F.sum("cnt").over(wall).cast("bigint").alias("n"),
        F.sum("vsum").over(wall).cast("bigint").alias("tot"),
    )
    r_i = F.ceil(F.col("n") * 3 / 4).cast("bigint")
    hit = (F.col("ccnt") >= r_i) & ((F.col("ccnt") - F.col("cnt")) < r_i)
    wide = run.groupBy("event_type").agg(
        F.max(F.when(hit, F.col("v"))).alias("q_star"),
        F.max(F.when(hit, F.col("ccnt"))).alias("cle"),
        F.max(F.when(hit, F.col("csum"))).alias("sle"),
        F.max("n").alias("n"),
        F.max("tot").alias("tot"),
    )
    over_units = F.col("q_star") * F.col("cle") - F.col("sle")
    under_units = (
        F.col("tot")
        - F.col("sle")
        - F.col("q_star") * (F.col("n") - F.col("cle"))
    )
    return wide.select(
        "event_type",
        F.col("n").alias("n_days"),
        "q_star",
        (
            F.col("cle").cast("double") / F.col("n").cast("double")
        ).alias("service_level"),
        over_units.cast("bigint").alias("overage_units"),
        under_units.cast("bigint").alias("underage_units"),
        (
            (over_units + 3 * under_units).cast("double")
            / F.col("n").cast("double")
        ).alias("expected_cost"),
    )


def _q_rmst(spark: SparkSession, sf: str) -> DataFrame:
    """Restricted mean survival time and median survival of the
    error-recurrence process (q475's life table, q400's KM product):
    RMST(τ=30) = ∫₀³⁰S(t)dt as the step-function integral folded
    step-by-step alongside the KM product, median = first duration
    where S drops to ≤ 0.5 — the two numbers a reliability review
    quotes from the curve. The ≤30-row life table collects and the
    (product, integral) state folds driver-side in duration order;
    the oracle replays the identical two-variable recursion in a
    recursive CTE."""
    ev = read_table(spark, sf, "events")
    err = (
        ev.where(F.col("event_type") == "error")
        .select(
            "user_id",
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("pd"),
        )
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("pd")
    nxt = F.lead("pd").over(wu)
    spans = err.select(
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
    tau = 30.0
    n_risk = sum(r["d"] + r["c"] for r in steps)
    s = 1.0
    acc = 0.0
    prev = 0.0
    med = None
    for r in steps:
        acc = acc + s * (r["dur"] - prev)
        s = s * (1.0 - r["d"] / n_risk)
        if med is None and s <= 0.5:
            med = r["dur"]
        n_risk -= r["d"] + r["c"]
        prev = float(r["dur"])
    rmst = acc + s * (tau - prev) if tau > prev else acc
    return spark.createDataFrame(
        [(30, rmst, med, s)],
        "tau int, rmst double, median_surv int, s_final double",
    )


def _q_weibull_shape(spark: SparkSession, sf: str) -> DataFrame:
    """Weibull shape k̂ per event type from probability-weighted
    moments on daily totals: 2a₁/a₀ estimates 2^(−1/k) (a₁ is the
    half-mean-of-pairwise-minima PWM), so k̂ = ln2/ln(a₀/(2a₁)) —
    one ln ratio, no iteration, no Γ (DuckDB's gamma() differs from
    libm in the last bit — measured — so the scale parameter is
    deliberately NOT reported). k < 1 ⇒ infant-mortality burstiness,
    k > 1 ⇒ wear-out regularity. Rank-weighted sums are exact
    integers; the ln epilogue runs driver-side over 5 rows."""
    import math

    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("v", "day")
    ranked = daily.select(
        "event_type", F.col("v").alias("x"),
        F.row_number().over(w).alias("r"),
    )
    # (n − r)·x needs n per row: a wall window supplies it
    wall = Window.partitionBy("event_type")
    ranked2 = ranked.withColumn(
        "nn", F.count(F.lit(1)).over(wall).cast("bigint")
    )
    g = ranked2.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s0"),
        F.sum((F.col("nn") - F.col("r")) * F.col("x"))
        .cast("bigint")
        .alias("s1"),
    ).collect()
    out = []
    for r in sorted(g, key=lambda r: r["event_type"]):
        n, s0, s1 = r["n"], r["s0"], r["s1"]
        a0 = float(s0) / float(n)
        a1 = float(s1) / (float(n) * float(n - 1))
        k = math.log(2.0) / math.log(a0 / (2.0 * a1))
        out.append((r["event_type"], n, a0, a1, k))
    return spark.createDataFrame(
        out,
        "event_type string, n_days bigint, a0 double, a1 double, "
        "shape_k double",
    )


def _q_discount_elasticity(spark: SparkSession, sf: str) -> DataFrame:
    """Discount elasticity of demand per part brand: slope of
    ln(avg qty) on ln(price multiplier 1−d) across the 11 exact
    TPC-H discount levels — "does a deeper discount actually move
    volume for this brand". The (brand × discount) grain is bounded
    (25×11) with exact integer qty sums; the ln-ln OLS folds
    driver-side per brand in ascending-discount order (libm), with
    degenerate brands (fewer than 3 levels) dropped."""
    import math

    li = read_table(spark, sf, "lineitem")
    part = read_table(spark, sf, "part")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li["l_partkey"] == part["p_partkey"],
    )
    cells = j.groupBy(
        "p_brand",
        (F.col("l_discount").cast("decimal(4,2)") * 100)
        .cast("int")
        .alias("dc"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum(F.col("l_quantity").cast("decimal(12,0)"))
        .cast("bigint")
        .alias("q"),
    ).collect()
    by_brand: dict[str, list] = {}
    for r in cells:
        by_brand.setdefault(r["p_brand"], []).append(
            (r["dc"], r["c"], r["q"])
        )
    out = []
    for brand in sorted(by_brand):
        pts = sorted(by_brand[brand])
        if len(pts) < 3:
            continue
        sx = sy = sxy = sxx = None
        for dc, c, q in pts:
            x = math.log((100 - dc) / 100.0)
            y = math.log(float(q) / float(c))
            sx = x if sx is None else sx + x
            sy = y if sy is None else sy + y
            sxy = x * y if sxy is None else sxy + x * y
            sxx = x * x if sxx is None else sxx + x * x
        m = float(len(pts))
        slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
        out.append((brand, len(pts), slope))
    return spark.createDataFrame(
        out, "p_brand string, n_levels int, elasticity double"
    )


# published X̄-R chart constants for subgroup size n = 6
_A2_N6 = 0.483
_D3_N6 = 0.0
_D4_N6 = 2.004


def _q_xbar_r_chart(spark: SparkSession, sf: str) -> DataFrame:
    """X̄-R control chart over 5 six-day subgroups of each type's
    daily dollar totals: centre lines, A₂/D₃/D₄ control limits
    (published n=6 constants as shared literals) and the subgroup
    violation counts — the manufacturing SPC chart next to q454's
    Levey-Jennings rules. Subgroup sums and ranges are exact
    integers; every limit is a fixed-order double chain; violations
    are integer counts. One daily reduce, one 25-row subgroup
    frame, no joins (per-type totals ride a wall window)."""
    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    base = daily.select(
        "event_type",
        F.row_number().over(w).alias("t"),
        F.expr("(v + 50) div 100").alias("x"),
    ).where(F.col("t") <= 30)
    sub = base.groupBy(
        "event_type", F.expr("(t + 5) div 6").alias("g")
    ).agg(
        F.sum("x").cast("bigint").alias("s6"),
        (F.max("x") - F.min("x")).cast("bigint").alias("rg"),
    )
    wall = Window.partitionBy("event_type")
    run = sub.select(
        "event_type",
        "g",
        "s6",
        "rg",
        F.sum("s6").over(wall).cast("bigint").alias("tot"),
        F.sum("rg").over(wall).cast("bigint").alias("rtot"),
    )
    clx = F.col("tot").cast("double") / 30.0
    rbar = F.col("rtot").cast("double") / 5.0
    uclx = clx + F.lit(_A2_N6) * rbar
    lclx = clx - F.lit(_A2_N6) * rbar
    uclr = F.lit(_D4_N6) * rbar
    xbar = F.col("s6").cast("double") / 6.0
    return run.groupBy("event_type").agg(
        F.max(clx).alias("cl_x"),
        F.max(uclx).alias("ucl_x"),
        F.max(lclx).alias("lcl_x"),
        F.max(rbar).alias("r_bar"),
        F.sum(
            F.when((xbar > uclx) | (xbar < lclx), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_x_violations"),
        F.sum(F.when(F.col("rg").cast("double") > uclr, 1).otherwise(0))
        .cast("bigint")
        .alias("n_r_violations"),
    )


def _q_zero_inflation(spark: SparkSession, sf: str) -> DataFrame:
    """Van den Broek zero-inflation score test per event type: are
    there more (user, day) cells with ZERO events than Poisson(λ̂)
    predicts — the count-model triage (fano q-family measures
    overdispersion; this isolates the excess-zeros failure mode).
    Zero cells are computed ARITHMETICALLY (n_users·30 − nonzero
    cells — no user×day grid is ever materialized), λ̂ is one
    division, and the single exp(−λ̂) runs driver-side over the
    5-row table (Spark's JVM exp differs from libm; DuckDB's
    doesn't). score = (O₀−E₀)/√(E₀(1−p₀))."""
    import math

    ev = read_table(spark, sf, "events")
    n_users = ev.select("user_id").distinct().count()
    g = (
        ev.select(
            "event_type", "user_id", F.to_date("ts").alias("day")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total"),
            F.countDistinct("user_id", "day")
            .cast("bigint")
            .alias("nonzero"),
        )
        .collect()
    )
    out = []
    for r in sorted(g, key=lambda r: r["event_type"]):
        n_cells = n_users * 30
        obs0 = n_cells - r["nonzero"]
        lam = r["total"] / n_cells
        p0 = math.exp(-lam)
        e0 = n_cells * p0
        score = (obs0 - e0) / math.sqrt(e0 * (1.0 - p0))
        out.append(
            (r["event_type"], n_cells, obs0, lam, e0, score)
        )
    return spark.createDataFrame(
        out,
        "event_type string, n_cells bigint, obs_zero bigint, "
        "lambda double, exp_zero double, zi_score double",
    )


def _q_mutual_information(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information between event type and hour-of-day, with
    both marginal entropies and the normalized MI — "how much does
    WHEN predict WHAT" in nats, the information-theoretic upgrade of
    q414's hour χ² (χ² detects dependence; MI prices it). The 5×24
    contingency is exact integers; every probability is one
    division and all three entropy folds run driver-side in
    lexicographic cell order, exactly as the oracle's ordered
    list_reduce replays them."""
    import math

    ev = read_table(spark, sf, "events")
    cells = (
        ev.select(
            "event_type", F.hour("ts").cast("int").alias("hr")
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    )
    n = sum(r["c"] for r in cells)
    row: dict[str, int] = {}
    col: dict[int, int] = {}
    for r in cells:
        row[r["event_type"]] = row.get(r["event_type"], 0) + r["c"]
        col[r["hr"]] = col.get(r["hr"], 0) + r["c"]
    mi = None
    for r in sorted(cells, key=lambda r: (r["event_type"], r["hr"])):
        p = r["c"] / n
        pi = row[r["event_type"]] / n
        pj = col[r["hr"]] / n
        term = p * math.log(p / (pi * pj))
        mi = term if mi is None else mi + term
    h_t = None
    for t in sorted(row):
        p = row[t] / n
        term = -(p * math.log(p))
        h_t = term if h_t is None else h_t + term
    h_h = None
    for h in sorted(col):
        p = col[h] / n
        term = -(p * math.log(p))
        h_h = term if h_h is None else h_h + term
    return spark.createDataFrame(
        [(n, mi, h_t, h_h, mi / min(h_t, h_h))],
        "n_events bigint, mi double, h_type double, h_hour double, "
        "nmi double",
    )


def _q_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """First-touch vs last-touch attribution of purchases: each
    purchase credits the earliest and the latest non-purchase event
    by the same user in the trailing 24 h — the marketing-mix
    question q103's transition matrix can't answer (it only sees
    adjacent pairs). Both touches come from ONE RANGE window (struct
    max/min with (ts, event_id) total order — no self-join, no
    inequality join); untouched purchases land in the 'none' bucket;
    shares are exact count ratios."""
    ev = read_table(spark, sf, "events")
    base = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("ts").cast("long").alias("sec"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-86400, 0)
    )
    touch = F.when(
        F.col("event_type") != "purchase",
        F.struct("sec", "event_id", "event_type"),
    )
    attributed = (
        base.withColumn("last_t", F.max(touch).over(wr))
        .withColumn("first_t", F.min(touch).over(wr))
        .where(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("last_t.event_type"), F.lit("none"))
            .alias("last_touch"),
            F.coalesce(F.col("first_t.event_type"), F.lit("none"))
            .alias("first_touch"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lt = attributed.groupBy(
        F.col("last_touch").alias("channel")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_last"))
    ft = attributed.groupBy(
        F.col("first_touch").alias("channel")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_first"))
    j = lt.join(ft, "channel", "full").select(
        "channel",
        F.coalesce("n_last", F.lit(0)).cast("bigint").alias("n_last"),
        F.coalesce("n_first", F.lit(0))
        .cast("bigint")
        .alias("n_first"),
    )
    tot = F.sum("n_last").over(wall)
    return j.select(
        "channel",
        "n_last",
        "n_first",
        (F.col("n_last").cast("double") / tot.cast("double")).alias(
            "share_last"
        ),
        (F.col("n_first").cast("double") / tot.cast("double")).alias(
            "share_first"
        ),
    )


def _q_fisher_index(spark: SparkSession, sf: str) -> DataFrame:
    """Laspeyres, Paasche and Fisher price indices 1995→1996 over
    the common-part basket: per (part, year) unit values are
    ROUNDED-TO-CENT integers ((V + Q div 2) div Q — prices ARE
    cents), so Σu₁q₀ / Σu₀q₀ and the Paasche twin are exact-integer
    ratios and Fisher is one sqrt — the econometric index-number
    companion to q382's price-volume-mix bridge, with no float ever
    summed across parts. One scan, one (part, year) reduce, one
    self-join on partkey."""
    li = read_table(spark, sf, "lineitem")
    py = (
        li.where(F.year("l_shipdate").isin(1995, 1996))
        .groupBy(
            "l_partkey", F.year("l_shipdate").alias("yr")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,0)"))
            .cast("bigint")
            .alias("q"),
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * 100
                ).cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("v"),
        )
        .select(
            "l_partkey",
            "yr",
            "q",
            F.expr("CAST((v + q div 2) div q AS BIGINT)").alias("u"),
        )
    )
    y0 = py.where(F.col("yr") == 1995).select(
        "l_partkey",
        F.col("q").alias("q0"),
        F.col("u").alias("u0"),
    )
    y1 = py.where(F.col("yr") == 1996).select(
        "l_partkey",
        F.col("q").alias("q1"),
        F.col("u").alias("u1"),
    )
    j = y0.join(y1, "l_partkey")
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.col("u1") * F.col("q0")).cast("bigint").alias("l_num"),
        F.sum(F.col("u0") * F.col("q0")).cast("bigint").alias("l_den"),
        F.sum(F.col("u1") * F.col("q1")).cast("bigint").alias("p_num"),
        F.sum(F.col("u0") * F.col("q1")).cast("bigint").alias("p_den"),
    )
    lasp = F.col("l_num").cast("double") / F.col("l_den").cast("double")
    paas = F.col("p_num").cast("double") / F.col("p_den").cast("double")
    return agg.select(
        F.lit("1995->1996").alias("period"),
        "n_parts",
        lasp.alias("laspeyres"),
        paas.alias("paasche"),
        F.sqrt(lasp * paas).alias("fisher"),
    )


def _q_forecast_errors(spark: SparkSession, sf: str) -> DataFrame:
    """Forecast-error suite for the weekly seasonal-naive forecaster
    (ŷ_t = y_{t−7}) on daily totals: WAPE, sMAPE, MdAPE, Theil's U₁
    and the tracking signal Σe/Σ|e| — the metric panel that
    complements q407's MASE (scaled) and q443's RMSE/R² (squared)
    with the percentage/median/bounded family a demand planner
    actually reads. Errors are exact integer cents from one lag
    window; WAPE/U₁/tracking reduce to exact integer sums, sMAPE
    folds its 23 per-point terms in ascending-day order, and MdAPE
    is an explicit middle-index selection on the (ratio, t) total
    order (q451's discipline)."""
    import math

    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    err = (
        daily.select(
            "event_type",
            F.row_number().over(w).alias("t"),
            F.col("v").alias("y"),
            F.lag("v", 7).over(w).alias("yhat"),
        )
        .where(F.col("yhat").isNotNull() & (F.col("y") > 0))
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in err:
        by_type.setdefault(r["event_type"], []).append(
            (r["t"], r["y"], r["yhat"])
        )
    out = []
    for et in sorted(by_type):
        pts = sorted(by_type[et])
        m = len(pts)
        se = sae = say = sayh = se2 = sy2 = syh2 = 0
        for _, y, yh in pts:
            e = y - yh
            se += e
            sae += abs(e)
            say += abs(y)
            sayh += abs(yh)
            se2 += e * e
            sy2 += y * y
            syh2 += yh * yh
        wape = float(sae) / float(say)
        smape = None
        for t, y, yh in pts:
            term = 2.0 * float(abs(y - yh)) / float(abs(y) + abs(yh))
            smape = term if smape is None else smape + term
        smape = smape / m
        ratios = sorted(
            (float(abs(y - yh)) / float(y), t) for t, y, yh in pts
        )
        mdape = ratios[(m + 1) // 2 - 1][0]
        u1 = math.sqrt(float(se2)) / (
            math.sqrt(float(sy2)) + math.sqrt(float(syh2))
        )
        ts_sig = float(se) / float(sae) if sae else 0.0
        out.append((et, m, wape, smape, mdape, u1, ts_sig))
    return spark.createDataFrame(
        out,
        "event_type string, n_pts int, wape double, smape double, "
        "mdape double, theil_u1 double, tracking double",
    )


_DOW_DIMS = list(range(1, 8))


def _q_dow_profile_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Behavioral vector quantization: every user's 7-dim
    day-of-week spend profile (exact integer cents) assigned to the
    nearest of 8 md5-ordered pivot users' profiles by EXACT integer
    d² (q47's portable-IVF discipline applied to behavior instead of
    embeddings) — the segmentation census that says which weekly
    rhythms exist and how many users follow each. Pivots collect
    driver-side (8 rows) and inline as a literal struct array, so
    the assignment is an explode + integer arithmetic — no join of
    any kind; ties break to the lowest cell id."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    prof = ev.groupBy("user_id").agg(
        *[
            F.sum(
                F.when(F.dayofweek("ts") == d, cents).otherwise(0)
            )
            .cast("bigint")
            .alias(f"p{d}")
            for d in _DOW_DIMS
        ]
    )
    pivots = (
        prof.withColumn(
            "h", F.md5(F.col("user_id").cast("string"))
        )
        .orderBy("h", "user_id")
        .limit(8)
        .collect()
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("cell"),
                *[
                    F.lit(int(p[f"p{d}"])).alias(f"c{d}")
                    for d in _DOW_DIMS
                ],
            )
            for i, p in enumerate(pivots)
        ]
    )
    ex = prof.select("user_id", *[f"p{d}" for d in _DOW_DIMS]).select(
        "user_id",
        *[f"p{d}" for d in _DOW_DIMS],
        F.explode(cells).alias("pv"),
    )
    d2 = sum(
        (F.col(f"p{d}") - F.col(f"pv.c{d}"))
        * (F.col(f"p{d}") - F.col(f"pv.c{d}"))
        for d in _DOW_DIMS
    )
    wk = Window.partitionBy("user_id").orderBy("d2", "cell")
    assigned = (
        ex.select(
            "user_id",
            F.col("pv.cell").alias("cell"),
            d2.cast("decimal(38,0)").alias("d2"),
            sum(F.col(f"p{d}") for d in _DOW_DIMS).alias("tot"),
        )
        .withColumn("r", F.row_number().over(wk))
        .where(F.col("r") == 1)
    )
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("tot").cast("bigint").alias("total_cents"),
    )


def _dow_cells_sql() -> str:
    psel = ",\n                ".join(
        f"CAST(sum(CASE WHEN dayofweek(ts) + 1 = {d} THEN"
        f" CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" ELSE 0 END) AS BIGINT) AS p{d}"
        for d in _DOW_DIMS
    )
    d2 = " + ".join(
        f"(p.p{d} - c.p{d}) * (p.p{d} - c.p{d})" for d in _DOW_DIMS
    )
    tot = " + ".join(f"p.p{d}" for d in _DOW_DIMS)
    return f"""
        WITH prof AS (
          SELECT user_id,
                {psel}
          FROM events WHERE value IS NOT NULL GROUP BY 1
        ),
        piv AS (
          SELECT *, CAST(row_number() OVER (ORDER BY h, user_id)
            AS INT) AS cell
          FROM (
            SELECT prof.*, md5(CAST(user_id AS VARCHAR)) AS h
            FROM prof ORDER BY h, user_id LIMIT 8
          )
        ),
        scored AS (
          SELECT p.user_id, c.cell,
            CAST({d2} AS DECIMAL(38,0)) AS d2,
            CAST({tot} AS BIGINT) AS tot
          FROM prof p, piv c
        ),
        assigned AS (
          SELECT user_id, cell, tot FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY d2, cell) AS r
            FROM scored
          ) WHERE r = 1
        )
        SELECT cell, CAST(count(*) AS BIGINT) AS n_users,
          CAST(sum(tot) AS BIGINT) AS total_cents
        FROM assigned GROUP BY 1
    """


_SPRT_P0 = 0.18
_SPRT_P1 = 0.22
_SPRT_L1 = _m.log(_SPRT_P1 / _SPRT_P0)
_SPRT_L0 = _m.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))
_SPRT_LNA = _m.log(19.0)  # (1-β)/α at α=β=0.05
_SPRT_LNB = _m.log(1.0 / 19.0)


def _q_sprt(spark: SparkSession, sf: str) -> DataFrame:
    """Wald's sequential probability ratio test on the daily
    purchase share (H₀ p=0.18 vs H₁ p=0.22, α=β=0.05): the
    cumulative log-likelihood ratio day by day with the decision
    state — the SEQUENTIAL experimentation design (stop the moment
    evidence suffices) that complements q431's fixed-horizon MDE.
    Daily (n, k) are exact integers; each day's LLR increment is
    k·ln(p₁/p₀) + (n−k)·ln((1−p₁)/(1−p₀)) with the four constants
    precomputed once and shared as literals; the 30-step fold runs
    driver-side in day order and the oracle replays it in a
    recursive CTE (no windowed double sums — DuckDB's segment
    trees would re-associate them)."""
    ev = read_table(spark, sf, "events")
    days = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("k"),
        )
        .collect()
    )
    days = sorted(days, key=lambda r: r["day"])
    llr = 0.0
    out = []
    decided = None
    for i, r in enumerate(days, start=1):
        term = r["k"] * _SPRT_L1 + (r["n"] - r["k"]) * _SPRT_L0
        llr = llr + term
        if decided is None:
            if llr >= _SPRT_LNA:
                decided = "h1"
            elif llr <= _SPRT_LNB:
                decided = "h0"
        state = decided if decided is not None else "continue"
        out.append((i, r["n"], r["k"], llr, state))
    return spark.createDataFrame(
        out,
        "t int, n_events bigint, n_purchases bigint, llr double, "
        "decision string",
    )


def _sprt_sql() -> str:
    return f"""
        WITH RECURSIVE days AS (
          SELECT CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
              ELSE 0 END) AS BIGINT) AS k
          FROM events GROUP BY 1
        ),
        ord AS (
          SELECT n, k,
            CAST(row_number() OVER (ORDER BY day) AS INT) AS t
          FROM days
        ),
        rec AS (
          SELECT 0 AS t, CAST(0.0 AS DOUBLE) AS llr,
            CAST(NULL AS VARCHAR) AS decided
          UNION ALL
          SELECT o.t,
            r.llr + (o.k * {_SPRT_L1:.17e}
              + (o.n - o.k) * {_SPRT_L0:.17e}),
            COALESCE(r.decided,
              CASE WHEN r.llr + (o.k * {_SPRT_L1:.17e}
                  + (o.n - o.k) * {_SPRT_L0:.17e})
                  >= {_SPRT_LNA:.17e} THEN 'h1'
                WHEN r.llr + (o.k * {_SPRT_L1:.17e}
                  + (o.n - o.k) * {_SPRT_L0:.17e})
                  <= {_SPRT_LNB:.17e} THEN 'h0' END)
          FROM rec r JOIN ord o ON o.t = r.t + 1
        )
        SELECT o.t, o.n AS n_events, o.k AS n_purchases, r.llr,
          COALESCE(r.decided, 'continue') AS decision
        FROM ord o JOIN rec r ON r.t = o.t
    """


def _q_cvar_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Expected shortfall (CVaR) and a Kupiec proportion-of-failures
    backtest per event type: the 20%-VaR threshold and the mean of
    the tail BELOW it are estimated on the first 15 days of
    day-over-day revenue changes (exact integer cents, explicit
    rank-3 order statistic), then exceptions are counted
    out-of-sample on the remaining days and Kupiec's
    LR = 2[x·ln(π̂/p)+(n−x)·ln((1−π̂)/(1−p))] prices whether the
    model's 20% actually happens 20% of the time — the risk-control
    complement to q304's in-sample VaR. Counts and the tail sum are
    exact; the two-ln epilogue runs driver-side over 5 rows."""
    import math

    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    chg = daily.select(
        "event_type",
        F.row_number().over(w).alias("t"),
        (F.col("v") - F.lag("v", 1).over(w)).alias("c"),
    ).where(F.col("c").isNotNull())
    train = chg.where(F.col("t") <= 15)
    wtr = Window.partitionBy("event_type").orderBy("c", "t")
    ranked = train.select(
        "event_type", "c", F.row_number().over(wtr).alias("r")
    )
    g = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("r") == 3, F.col("c"))).alias("var_t"),
        F.sum(F.when(F.col("r") <= 3, F.col("c")))
        .cast("bigint")
        .alias("tail_sum"),
    )
    test = chg.where(F.col("t") > 15).alias("te")
    jt = test.join(F.broadcast(g), "event_type").groupBy(
        "event_type"
    ).agg(
        F.max("var_t").alias("var_t"),
        F.max("tail_sum").alias("tail_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("c") < F.col("var_t"), 1).otherwise(0))
        .cast("bigint")
        .alias("x_exc"),
    ).collect()
    p = 0.2
    out = []
    for r in sorted(jt, key=lambda r: r["event_type"]):
        n, x = r["n_test"], r["x_exc"]
        pi = x / n
        if x == 0:
            lr = 2.0 * (n * math.log((1.0 - pi) / 0.8))
        elif x == n:
            lr = 2.0 * (x * math.log(pi / p))
        else:
            lr = 2.0 * (
                x * math.log(pi / p)
                + (n - x) * math.log((1.0 - pi) / 0.8)
            )
        out.append(
            (
                r["event_type"],
                r["var_t"],
                float(r["tail_sum"]) / 3.0,
                n,
                x,
                lr,
            )
        )
    return spark.createDataFrame(
        out,
        "event_type string, var_cents bigint, cvar_cents double, "
        "n_test bigint, x_exceptions bigint, kupiec_lr double",
    )


def _q_davies_bouldin(spark: SparkSession, sf: str) -> DataFrame:
    """Davies-Bouldin clustering-validity index over the embedding
    labels: DB = (1/k)Σᵢ maxⱼ (Sᵢ+Sⱼ)/Mᵢⱼ with Sᵢ the within-class
    RMS radius and Mᵢⱼ the centroid distance — the partition-quality
    score that complements q285's silhouette without any point-pair
    work: BOTH ingredients come from the shared (label, dim)
    exact-integer moment frame (q481's shuffle). S²ᵢ = Σ_d var_d
    folds per label in dim order; M reuses q483's exact integer
    centroid differences; the max-over-j scan runs in ascending-j
    order. Lower is better."""
    import math

    rows = _label_dim_moments(spark, sf).collect()
    by_label: dict[int, dict[int, tuple]] = {}
    for r in rows:
        by_label.setdefault(r["label"], {})[r["d"]] = (
            r["m"],
            r["s"],
            r["qq"],
        )
    labs = sorted(by_label)
    s_i = {}
    for lab in labs:
        m = by_label[lab][1][0]
        acc = None
        for d in sorted(by_label[lab]):
            _, s, qq = by_label[lab][d]
            num = float(m * qq - s * s)
            t = num / (float(m) * float(m))
            acc = t if acc is None else acc + t
        s_i[lab] = math.sqrt(acc) / _QSCALE

    def cdist(a: int, b: int) -> float:
        ma = by_label[a][1][0]
        mb = by_label[b][1][0]
        acc = None
        for d in sorted(by_label[a]):
            sa = by_label[a][d][1]
            sb = by_label[b][d][1]
            diff = float(sa * mb - sb * ma)
            t = diff * diff
            acc = t if acc is None else acc + t
        return math.sqrt(acc) / (float(ma) * float(mb)) / _QSCALE

    out = []
    db = None
    for a in labs:
        worst = None
        for b in labs:
            if b == a:
                continue
            ratio = (s_i[a] + s_i[b]) / cdist(a, b)
            if worst is None or ratio > worst:
                worst = ratio
        out.append((a, s_i[a], worst))
        db = worst if db is None else db + worst
    db = db / len(labs)
    return spark.createDataFrame(
        [(lab, s, w, db) for lab, s, w in out],
        "label int, s_within double, worst_ratio double, "
        "db_index double",
    )


def _q_calinski_harabasz(spark: SparkSession, sf: str) -> DataFrame:
    """Calinski-Harabasz (variance-ratio) index over the embedding
    labels: CH = (B/(k−1))/(W/(n−k)) with between-class scatter
    B = Σᵢ mᵢ‖cᵢ−c̄‖² and within-class W = Σᵢ Σ_d varᵢ_d·mᵢ — again
    entirely from the shared (label, dim) moment frame, no point
    pairs. Global-centroid differences are the exact integers
    sᵢ_d·M − S_d·mᵢ (M = total count, S_d = global dim sum); all
    folds run label-major, dim-minor. Higher is better."""
    rows = _label_dim_moments(spark, sf).collect()
    by_label: dict[int, dict[int, tuple]] = {}
    for r in rows:
        by_label.setdefault(r["label"], {})[r["d"]] = (
            r["m"],
            r["s"],
            r["qq"],
        )
    labs = sorted(by_label)
    k = len(labs)
    n_tot = sum(by_label[lab][1][0] for lab in labs)
    gs = {
        d: sum(by_label[lab][d][1] for lab in labs)
        for d in sorted(by_label[labs[0]])
    }
    w_sum = None
    b_sum = None
    for lab in labs:
        m = by_label[lab][1][0]
        for d in sorted(by_label[lab]):
            _, s, qq = by_label[lab][d]
            wnum = float(m * qq - s * s)
            wt = wnum / float(m)
            w_sum = wt if w_sum is None else w_sum + wt
            bdiff = float(s * n_tot - gs[d] * m)
            bt = (bdiff * bdiff) / (
                float(m) * float(n_tot) * float(n_tot)
            )
            b_sum = bt if b_sum is None else b_sum + bt
    ch = (b_sum / (k - 1)) / (w_sum / (n_tot - k))
    return spark.createDataFrame(
        [(n_tot, k, b_sum / _QSCALE2, w_sum / _QSCALE2, ch)],
        "n_vecs bigint, k int, b_scatter double, w_scatter double, "
        "ch_index double",
    )


def _bowley_moors_sql() -> str:
    aggs = []
    for i in range(1, 8):
        hit = (
            f"ccnt >= ceil(n * {i} / 8)"
            f" AND (ccnt - cnt) < ceil(n * {i} / 8)"
        )
        aggs.append(f"max(CASE WHEN {hit} THEN v END) AS e{i}")
    aggs.append("max(n) AS n")
    return f"""
        WITH cells AS (
          SELECT event_type,
            CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
            CAST(count(*) AS BIGINT) AS cnt
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ),
        run AS (
          SELECT event_type, v, cnt,
            CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS ccnt,
            CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
              AS n
          FROM cells
        ),
        wide AS (
          SELECT event_type, {', '.join(aggs)}
          FROM run GROUP BY 1
        )
        SELECT event_type, n AS n_rows,
          e2 AS q1, e4 AS median, e6 AS q3,
          CAST(e6 + e2 - 2 * e4 AS DOUBLE)
            / CAST(e6 - e2 AS DOUBLE) AS bowley_skew,
          CAST((e7 - e5) + (e3 - e1) AS DOUBLE)
            / CAST(e6 - e2 AS DOUBLE) AS moors_kurt
        FROM wide
    """


_EMB_MOMENTS_SQL = """
            cell AS (
              SELECT label,
                generate_subscripts(embedding, 1) AS d,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                  * 1048576) AS BIGINT) AS q
              FROM embeddings
            ),
            mom AS (
              SELECT label, d,
                CAST(count(*) AS BIGINT) AS m,
                CAST(sum(q) AS BIGINT) AS s,
                CAST(sum(q * q) AS BIGINT) AS qq
              FROM cell GROUP BY 1, 2
            )
"""


register_many(
    {
        'q481_embedding_anisotropy': _q_embedding_anisotropy,
        'q482_participation_ratio': _q_participation_ratio,
        'q483_centroid_separation': _q_centroid_separation,
        'q484_sorted_neighborhood': _q_sorted_neighborhood,
        'q485_gumbel_pwm': _q_gumbel_pwm,
        'q486_theil_between': _q_theil_between,
        'q487_l_moments': _q_l_moments,
        'q488_bowley_moors': _q_bowley_moors,
        'q489_newsvendor': _q_newsvendor,
        'q490_rmst': _q_rmst,
        'q491_weibull_shape': _q_weibull_shape,
        'q492_discount_elasticity': _q_discount_elasticity,
        'q493_xbar_r_chart': _q_xbar_r_chart,
        'q494_zero_inflation': _q_zero_inflation,
        'q495_mutual_information': _q_mutual_information,
        'q496_touch_attribution': _q_touch_attribution,
        'q497_fisher_index': _q_fisher_index,
        'q498_forecast_errors': _q_forecast_errors,
        'q499_dow_profile_cells': _q_dow_profile_cells,
        'q500_sprt': _q_sprt,
        'q501_cvar_backtest': _q_cvar_backtest,
        'q502_davies_bouldin': _q_davies_bouldin,
        'q503_calinski_harabasz': _q_calinski_harabasz,
    },
    {
        # Twin of _q_davies_bouldin: same moment frame, dim-ordered
        # S folds, q483 centroid distances, label-ordered DB fold.
        'q502_davies_bouldin': f"""
            WITH
{_EMB_MOMENTS_SQL},
            sw AS (
              SELECT label,
                sqrt(list_reduce(
                  list(CAST(m * qq - s * s AS DOUBLE)
                    / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
                    ORDER BY d),
                  (a, b) -> a + b)) / 1048576 AS s_w
              FROM mom GROUP BY label
            ),
            dist AS (
              SELECT a.label AS la, b.label AS lb,
                sqrt(list_reduce(
                  list(CAST(a.s * b.m - b.s * a.m AS DOUBLE)
                    * CAST(a.s * b.m - b.s * a.m AS DOUBLE)
                    ORDER BY a.d),
                  (x, y) -> x + y))
                / (CAST(max(a.m) AS DOUBLE)
                   * CAST(max(b.m) AS DOUBLE)) / 1048576 AS md
              FROM mom a
              JOIN mom b ON a.d = b.d AND a.label <> b.label
              GROUP BY 1, 2
            ),
            worst AS (
              SELECT d.la AS label, max(d.md) AS _unused,
                max((sa.s_w + sb.s_w) / d.md) AS worst_ratio
              FROM dist d
              JOIN sw sa ON sa.label = d.la
              JOIN sw sb ON sb.label = d.lb
              GROUP BY 1
            ),
            db AS (
              SELECT list_reduce(
                list(worst_ratio ORDER BY label), (a, b) -> a + b)
                / CAST(count(*) AS BIGINT) AS db_index
              FROM worst
            )
            SELECT CAST(w.label AS INT) AS label, s.s_w AS s_within,
              w.worst_ratio, d.db_index
            FROM worst w
            JOIN sw s ON s.label = w.label
            CROSS JOIN db d
        """,
        # Twin of _q_calinski_harabasz: (label, dim)-ordered W and B
        # folds, exact integer global-centroid differences.
        'q503_calinski_harabasz': f"""
            WITH
{_EMB_MOMENTS_SQL},
            tot AS (
              SELECT CAST(sum(m) AS BIGINT) AS n_tot,
                CAST(count(DISTINCT label) AS INT) AS k
              FROM (SELECT label, max(m) AS m FROM mom GROUP BY 1)
            ),
            gdim AS (
              SELECT d, CAST(sum(s) AS BIGINT) AS gs FROM mom
              GROUP BY 1
            ),
            terms AS (
              SELECT m.label, m.d,
                CAST(m.m * m.qq - m.s * m.s AS DOUBLE)
                  / CAST(m.m AS DOUBLE) AS wt,
                (CAST(m.s * t.n_tot - g.gs * m.m AS DOUBLE)
                  * CAST(m.s * t.n_tot - g.gs * m.m AS DOUBLE))
                  / (CAST(m.m AS DOUBLE) * CAST(t.n_tot AS DOUBLE)
                     * CAST(t.n_tot AS DOUBLE)) AS bt
              FROM mom m
              JOIN gdim g USING (d)
              CROSS JOIN tot t
            ),
            folds AS (
              SELECT
                list_reduce(list(wt ORDER BY label, d),
                  (a, b) -> a + b) AS w_sum,
                list_reduce(list(bt ORDER BY label, d),
                  (a, b) -> a + b) AS b_sum
              FROM terms
            )
            SELECT t.n_tot AS n_vecs, t.k,
              f.b_sum / 1099511627776.0 AS b_scatter,
              f.w_sum / 1099511627776.0 AS w_scatter,
              (f.b_sum / (t.k - 1)) / (f.w_sum / (t.n_tot - t.k))
                AS ch_index
            FROM folds f, tot t
        """,
        # Twin of _q_cvar_backtest: rank-3 train threshold,
        # out-of-sample exception count, two-ln Kupiec epilogue.
        'q501_cvar_backtest': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            chg AS (
              SELECT event_type,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY day) AS t,
                v - lag(v, 1) OVER (PARTITION BY event_type
                  ORDER BY day) AS c
              FROM daily
              QUALIFY c IS NOT NULL
            ),
            ranked AS (
              SELECT event_type, c,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY c, t) AS r
              FROM chg WHERE t <= 15
            ),
            g AS (
              SELECT event_type,
                max(CASE WHEN r = 3 THEN c END) AS var_t,
                CAST(sum(CASE WHEN r <= 3 THEN c END) AS BIGINT)
                  AS tail_sum
              FROM ranked GROUP BY 1
            ),
            jt AS (
              SELECT te.event_type, max(g.var_t) AS var_t,
                max(g.tail_sum) AS tail_sum,
                CAST(count(*) AS BIGINT) AS n_test,
                CAST(sum(CASE WHEN te.c < g.var_t THEN 1 ELSE 0 END)
                  AS BIGINT) AS x_exc
              FROM chg te JOIN g USING (event_type)
              WHERE te.t > 15
              GROUP BY 1
            )
            SELECT event_type,
              CAST(var_t AS BIGINT) AS var_cents,
              CAST(tail_sum AS DOUBLE) / 3.0 AS cvar_cents,
              n_test, x_exc AS x_exceptions,
              CASE
                WHEN x_exc = 0 THEN 2.0 * (n_test
                  * ln((1.0 - CAST(x_exc AS DOUBLE)
                    / CAST(n_test AS DOUBLE)) / 0.8))
                WHEN x_exc = n_test THEN 2.0 * (x_exc
                  * ln((CAST(x_exc AS DOUBLE)
                    / CAST(n_test AS DOUBLE)) / 0.2))
                ELSE 2.0 * (x_exc * ln((CAST(x_exc AS DOUBLE)
                    / CAST(n_test AS DOUBLE)) / 0.2)
                  + (n_test - x_exc)
                    * ln((1.0 - CAST(x_exc AS DOUBLE)
                      / CAST(n_test AS DOUBLE)) / 0.8))
              END AS kupiec_lr
            FROM jt
        """,
        'q499_dow_profile_cells': _dow_cells_sql(),
        'q500_sprt': _sprt_sql(),
        # Twin of _q_forecast_errors: exact integer sums for
        # WAPE/U1/tracking, t-ordered sMAPE fold, (ratio, t)
        # middle-index MdAPE.
        'q498_forecast_errors': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            err AS (
              SELECT event_type,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY day) AS t,
                v AS y,
                lag(v, 7) OVER (PARTITION BY event_type ORDER BY day)
                  AS yhat
              FROM daily
              QUALIFY yhat IS NOT NULL AND y > 0
            ),
            g AS (
              SELECT event_type,
                CAST(count(*) AS INT) AS m,
                CAST(sum(y - yhat) AS BIGINT) AS se,
                CAST(sum(abs(y - yhat)) AS BIGINT) AS sae,
                CAST(sum(abs(y)) AS BIGINT) AS say,
                CAST(sum((y - yhat) * (y - yhat)) AS BIGINT) AS se2,
                CAST(sum(y * y) AS BIGINT) AS sy2,
                CAST(sum(yhat * yhat) AS BIGINT) AS syh2,
                list_reduce(
                  list(2.0 * CAST(abs(y - yhat) AS DOUBLE)
                    / CAST(abs(y) + abs(yhat) AS DOUBLE)
                    ORDER BY t),
                  (a, b) -> a + b) AS smape_sum,
                list(CAST(abs(y - yhat) AS DOUBLE)
                  / CAST(y AS DOUBLE)
                  ORDER BY CAST(abs(y - yhat) AS DOUBLE)
                    / CAST(y AS DOUBLE), t) AS ratios
              FROM err GROUP BY 1
            )
            SELECT event_type, m AS n_pts,
              CAST(sae AS DOUBLE) / CAST(say AS DOUBLE) AS wape,
              smape_sum / m AS smape,
              ratios[(m + 1) // 2] AS mdape,
              sqrt(CAST(se2 AS DOUBLE))
                / (sqrt(CAST(sy2 AS DOUBLE))
                   + sqrt(CAST(syh2 AS DOUBLE))) AS theil_u1,
              CASE WHEN sae = 0 THEN 0.0
                ELSE CAST(se AS DOUBLE) / CAST(sae AS DOUBLE) END
                AS tracking
            FROM g
        """,
        # Twin of _q_touch_attribution: same floored-epoch RANGE
        # window and (sec, id) struct total order.
        'q496_touch_attribution': """
            WITH base AS (
              SELECT user_id, event_type, event_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS sec
              FROM events
            ),
            att AS (
              SELECT event_type,
                max(CASE WHEN event_type <> 'purchase'
                  THEN (sec, event_id, event_type) END)
                  OVER (PARTITION BY user_id ORDER BY sec
                    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
                  AS last_t,
                min(CASE WHEN event_type <> 'purchase'
                  THEN (sec, event_id, event_type) END)
                  OVER (PARTITION BY user_id ORDER BY sec
                    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
                  AS first_t
              FROM base
            ),
            pur AS (
              SELECT
                COALESCE(last_t['et'], 'none') AS last_touch,
                COALESCE(first_t['et'], 'none') AS first_touch
              FROM (
                SELECT event_type,
                  CASE WHEN last_t IS NULL THEN NULL
                    ELSE {'et': last_t[3]} END AS last_t,
                  CASE WHEN first_t IS NULL THEN NULL
                    ELSE {'et': first_t[3]} END AS first_t
                FROM att
                WHERE event_type = 'purchase'
              )
            ),
            lt AS (
              SELECT last_touch AS channel,
                CAST(count(*) AS BIGINT) AS n_last
              FROM pur GROUP BY 1
            ),
            ft AS (
              SELECT first_touch AS channel,
                CAST(count(*) AS BIGINT) AS n_first
              FROM pur GROUP BY 1
            ),
            j AS (
              SELECT COALESCE(lt.channel, ft.channel) AS channel,
                CAST(COALESCE(lt.n_last, 0) AS BIGINT) AS n_last,
                CAST(COALESCE(ft.n_first, 0) AS BIGINT) AS n_first
              FROM lt FULL JOIN ft ON ft.channel = lt.channel
            ),
            tot AS (
              SELECT CAST(sum(n_last) AS BIGINT) AS t FROM j
            )
            SELECT j.channel, j.n_last, j.n_first,
              CAST(j.n_last AS DOUBLE) / CAST(t.t AS DOUBLE)
                AS share_last,
              CAST(j.n_first AS DOUBLE) / CAST(t.t AS DOUBLE)
                AS share_first
            FROM j, tot t
        """,
        # Twin of _q_fisher_index: rounded-to-cent integer unit
        # values, exact integer index numerators.
        'q497_fisher_index': """
            WITH py AS (
              SELECT l_partkey,
                CAST(extract(year FROM l_shipdate) AS INT) AS yr,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,0)))
                  AS BIGINT) AS q,
                CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * 100 AS DECIMAL(38,0))) AS BIGINT) AS v
              FROM lineitem
              WHERE extract(year FROM l_shipdate) IN (1995, 1996)
              GROUP BY 1, 2
            ),
            u AS (
              SELECT l_partkey, yr, q, (v + q // 2) // q AS u
              FROM py
            ),
            j AS (
              SELECT y0.q AS q0, y0.u AS u0, y1.q AS q1, y1.u AS u1
              FROM u y0 JOIN u y1 ON y1.l_partkey = y0.l_partkey
              WHERE y0.yr = 1995 AND y1.yr = 1996
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_parts,
                CAST(sum(u1 * q0) AS BIGINT) AS l_num,
                CAST(sum(u0 * q0) AS BIGINT) AS l_den,
                CAST(sum(u1 * q1) AS BIGINT) AS p_num,
                CAST(sum(u0 * q1) AS BIGINT) AS p_den
              FROM j
            )
            SELECT '1995->1996' AS period, n_parts,
              CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE)
                AS laspeyres,
              CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)
                AS paasche,
              sqrt((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
                * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)))
                AS fisher
            FROM agg
        """,
        # Twin of _q_zero_inflation: arithmetic zeros, one division,
        # libm exp.
        'q494_zero_inflation': """
            WITH pop AS (
              SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                AS n_users
              FROM events
            ),
            g AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS total,
                CAST(count(DISTINCT (user_id, CAST(ts AS DATE)))
                  AS BIGINT) AS nonzero
              FROM events GROUP BY 1
            ),
            base AS (
              SELECT g.event_type,
                p.n_users * 30 AS n_cells,
                p.n_users * 30 - g.nonzero AS obs_zero,
                g.total / (p.n_users * 30) AS lam
              FROM g, pop p
            )
            SELECT event_type,
              CAST(n_cells AS BIGINT) AS n_cells,
              CAST(obs_zero AS BIGINT) AS obs_zero,
              lam AS lambda,
              n_cells * exp(-lam) AS exp_zero,
              (obs_zero - n_cells * exp(-lam))
                / sqrt((n_cells * exp(-lam)) * (1.0 - exp(-lam)))
                AS zi_score
            FROM base
        """,
        # Twin of _q_mutual_information: lexicographic cell folds
        # for MI and both marginals.
        'q495_mutual_information': """
            WITH cells AS (
              SELECT event_type,
                CAST(extract(hour FROM ts) AS INT) AS hr,
                CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1, 2
            ),
            tot AS (
              SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
            ),
            rows_ AS (
              SELECT event_type, CAST(sum(c) AS BIGINT) AS rc
              FROM cells GROUP BY 1
            ),
            cols_ AS (
              SELECT hr, CAST(sum(c) AS BIGINT) AS cc
              FROM cells GROUP BY 1
            ),
            mi AS (
              SELECT list_reduce(
                list((ce.c / t.n)
                  * ln((ce.c / t.n) / ((r.rc / t.n) * (co.cc / t.n)))
                  ORDER BY ce.event_type, ce.hr),
                (a, b) -> a + b) AS mi
              FROM cells ce
              JOIN rows_ r USING (event_type)
              JOIN cols_ co USING (hr)
              CROSS JOIN tot t
            ),
            ht AS (
              SELECT list_reduce(
                list(-((rc / t.n) * ln(rc / t.n))
                  ORDER BY event_type),
                (a, b) -> a + b) AS h
              FROM rows_, tot t
            ),
            hh AS (
              SELECT list_reduce(
                list(-((cc / t.n) * ln(cc / t.n)) ORDER BY hr),
                (a, b) -> a + b) AS h
              FROM cols_, tot t
            )
            SELECT t.n AS n_events, m.mi, a.h AS h_type,
              b.h AS h_hour, m.mi / least(a.h, b.h) AS nmi
            FROM tot t, mi m, ht a, hh b
        """,
        # Twin of _q_discount_elasticity: bounded (brand × discount)
        # grain, ascending-discount ln-ln folds.
        'q492_discount_elasticity': """
            WITH cells AS (
              SELECT p.p_brand,
                CAST(CAST(l.l_discount AS DECIMAL(4,2)) * 100 AS INT)
                  AS dc,
                CAST(count(*) AS BIGINT) AS c,
                CAST(sum(CAST(l.l_quantity AS DECIMAL(12,0)))
                  AS BIGINT) AS q
              FROM lineitem l
              JOIN part p ON p.p_partkey = l.l_partkey
              GROUP BY 1, 2
            ),
            pts AS (
              SELECT p_brand, dc,
                ln((100 - dc) / 100.0) AS x,
                ln(CAST(q AS DOUBLE) / CAST(c AS DOUBLE)) AS y
              FROM cells
            ),
            folds AS (
              SELECT p_brand,
                CAST(count(*) AS INT) AS n_levels,
                CAST(count(*) AS DOUBLE) AS m,
                list_reduce(list(x ORDER BY dc), (a, b) -> a + b)
                  AS sx,
                list_reduce(list(y ORDER BY dc), (a, b) -> a + b)
                  AS sy,
                list_reduce(list(x * y ORDER BY dc), (a, b) -> a + b)
                  AS sxy,
                list_reduce(list(x * x ORDER BY dc), (a, b) -> a + b)
                  AS sxx
              FROM pts GROUP BY 1
            )
            SELECT p_brand, n_levels,
              (m * sxy - sx * sy) / (m * sxx - sx * sx) AS elasticity
            FROM folds WHERE n_levels >= 3
        """,
        # Twin of _q_xbar_r_chart: identical subgroup frame, shared
        # A2/D4 literals, fixed-order limit chains.
        'q493_xbar_r_chart': f"""
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            base AS (
              SELECT event_type,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY day) AS t,
                (v + 50) // 100 AS x
              FROM daily
              QUALIFY t <= 30
            ),
            sub AS (
              SELECT event_type, (t + 5) // 6 AS g,
                CAST(sum(x) AS BIGINT) AS s6,
                CAST(max(x) - min(x) AS BIGINT) AS rg
              FROM base GROUP BY 1, 2
            ),
            run AS (
              SELECT event_type, g, s6, rg,
                CAST(sum(s6) OVER (PARTITION BY event_type) AS BIGINT)
                  AS tot,
                CAST(sum(rg) OVER (PARTITION BY event_type) AS BIGINT)
                  AS rtot
              FROM sub
            )
            SELECT event_type,
              max(CAST(tot AS DOUBLE) / 30.0) AS cl_x,
              max(CAST(tot AS DOUBLE) / 30.0
                + {_A2_N6:.17e} * (CAST(rtot AS DOUBLE) / 5.0)) AS ucl_x,
              max(CAST(tot AS DOUBLE) / 30.0
                - {_A2_N6:.17e} * (CAST(rtot AS DOUBLE) / 5.0)) AS lcl_x,
              max(CAST(rtot AS DOUBLE) / 5.0) AS r_bar,
              CAST(sum(CASE WHEN
                CAST(s6 AS DOUBLE) / 6.0 > CAST(tot AS DOUBLE) / 30.0
                  + {_A2_N6:.17e} * (CAST(rtot AS DOUBLE) / 5.0)
                OR CAST(s6 AS DOUBLE) / 6.0 < CAST(tot AS DOUBLE) / 30.0
                  - {_A2_N6:.17e} * (CAST(rtot AS DOUBLE) / 5.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_x_violations,
              CAST(sum(CASE WHEN CAST(rg AS DOUBLE)
                > {_D4_N6:.17e} * (CAST(rtot AS DOUBLE) / 5.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_r_violations
            FROM run GROUP BY 1
        """,
        # Twin of _q_newsvendor: same running frame, rank pick, and
        # integer overage/underage identities.
        'q489_newsvendor': """
            WITH demand AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS v
              FROM events GROUP BY 1, 2
            ),
            cells AS (
              SELECT event_type, v,
                CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(v) AS BIGINT) AS vsum
              FROM demand GROUP BY 1, 2
            ),
            run AS (
              SELECT event_type, v, cnt,
                CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS ccnt,
                CAST(sum(vsum) OVER (PARTITION BY event_type ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS csum,
                CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
                  AS n,
                CAST(sum(vsum) OVER (PARTITION BY event_type)
                  AS BIGINT) AS tot
              FROM cells
            ),
            wide AS (
              SELECT event_type,
                max(CASE WHEN ccnt >= ceil(n * 3 / 4)
                  AND (ccnt - cnt) < ceil(n * 3 / 4) THEN v END)
                  AS q_star,
                max(CASE WHEN ccnt >= ceil(n * 3 / 4)
                  AND (ccnt - cnt) < ceil(n * 3 / 4) THEN ccnt END)
                  AS cle,
                max(CASE WHEN ccnt >= ceil(n * 3 / 4)
                  AND (ccnt - cnt) < ceil(n * 3 / 4) THEN csum END)
                  AS sle,
                max(n) AS n, max(tot) AS tot
              FROM run GROUP BY 1
            )
            SELECT event_type, n AS n_days, q_star,
              CAST(cle AS DOUBLE) / CAST(n AS DOUBLE)
                AS service_level,
              CAST(q_star * cle - sle AS BIGINT) AS overage_units,
              CAST(tot - sle - q_star * (n - cle) AS BIGINT)
                AS underage_units,
              CAST((q_star * cle - sle)
                + 3 * (tot - sle - q_star * (n - cle)) AS DOUBLE)
                / CAST(n AS DOUBLE) AS expected_cost
            FROM wide
        """,
        # Twin of _q_rmst: q475's life table with the two-variable
        # (KM product, integral) recursion and the τ tail term.
        'q490_rmst': """
            WITH RECURSIVE err AS (
              SELECT DISTINCT user_id,
                CAST(date_trunc('day', ts) AS DATE) AS pd
              FROM events WHERE event_type = 'error'
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
                FROM err
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
                CAST(1.0 AS DOUBLE) AS s,
                CAST(0.0 AS DOUBLE) AS acc,
                CAST(0.0 AS DOUBLE) AS prev,
                CAST(NULL AS INT) AS med
              UNION ALL
              SELECT o.rn, r.n_next - (o.d + o.c),
                r.s * (1.0 - CAST(o.d AS DOUBLE)
                  / CAST(r.n_next AS DOUBLE)),
                r.acc + r.s * (o.dur - r.prev),
                CAST(o.dur AS DOUBLE),
                COALESCE(r.med,
                  CASE WHEN r.s * (1.0 - CAST(o.d AS DOUBLE)
                    / CAST(r.n_next AS DOUBLE)) <= 0.5
                  THEN o.dur END)
              FROM rec r JOIN ord o ON o.rn = r.rn + 1
            ),
            last AS (
              SELECT * FROM rec
              WHERE rn = (SELECT max(rn) FROM rec)
            )
            SELECT CAST(30 AS INT) AS tau,
              CASE WHEN 30.0 > prev
                THEN acc + s * (30.0 - prev) ELSE acc END AS rmst,
              med AS median_surv, s AS s_final
            FROM last
        """,
        # Twin of _q_weibull_shape: (n−r)-weighted exact sums, ln
        # ratio only (no gamma — cross-engine last-bit mismatch).
        'q491_weibull_shape': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            ranked AS (
              SELECT event_type, v AS x,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY v, day) AS r,
                CAST(count(*) OVER (PARTITION BY event_type)
                  AS BIGINT) AS nn
              FROM daily
            ),
            g AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS s0,
                CAST(sum((nn - r) * x) AS BIGINT) AS s1
              FROM ranked GROUP BY 1
            ),
            ab AS (
              SELECT event_type, n,
                CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE) AS a0,
                CAST(s1 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS a1
              FROM g
            )
            SELECT event_type, n AS n_days, a0, a1,
              ln(2.0) / ln(a0 / (2.0 * a1)) AS shape_k
            FROM ab
        """,
        # Twin of _q_l_moments: same falling-factorial integer sums
        # and fixed-order λ/τ chains.
        'q487_l_moments': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            ranked AS (
              SELECT event_type, v AS x,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY v, day) AS r
              FROM daily
            ),
            g AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS s0,
                CAST(sum((r - 1) * x) AS BIGINT) AS s1,
                CAST(sum((r - 1) * (r - 2) * x) AS BIGINT) AS s2,
                CAST(sum((r - 1) * (r - 2) * (r - 3) * x) AS BIGINT)
                  AS s3
              FROM ranked GROUP BY 1
            ),
            b AS (
              SELECT event_type, n,
                CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE) AS b0,
                CAST(s1 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS b1,
                CAST(s2 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                     * CAST(n - 2 AS DOUBLE)) AS b2,
                CAST(s3 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                     * CAST(n - 2 AS DOUBLE) * CAST(n - 3 AS DOUBLE))
                  AS b3
              FROM g
            )
            SELECT event_type, n AS n_days, b0 AS l1,
              2.0 * b1 - b0 AS l2,
              (6.0 * b2 - 6.0 * b1 + b0) / (2.0 * b1 - b0) AS t3,
              (20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0)
                / (2.0 * b1 - b0) AS t4
            FROM b
        """,
        'q488_bowley_moors': _bowley_moors_sql(),
        # Twin of _q_gumbel_pwm: identical integer PWM sums and
        # literal-constant quantile chain.
        'q485_gumbel_pwm': f"""
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(max(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS x
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            ranked AS (
              SELECT event_type, x,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY x, day) AS r
              FROM daily
            ),
            g AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS a,
                CAST(sum((r - 1) * x) AS BIGINT) AS b
              FROM ranked GROUP BY 1
            ),
            fit AS (
              SELECT event_type, n,
                CAST(a AS DOUBLE) / CAST(n AS DOUBLE) AS b0,
                CAST(b AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS b1
              FROM g
            ),
            pars AS (
              SELECT event_type, n, b0, b1,
                (2.0 * b1 - b0) / {_LN2:.17e} AS beta
              FROM fit
            )
            SELECT event_type, n AS n_blocks, b0, b1,
              b0 - {_EULER_GAMMA:.17e} * beta AS mu,
              beta,
              (b0 - {_EULER_GAMMA:.17e} * beta)
                + beta * {_GUMBEL_Y[10]:.17e} AS ret_10,
              (b0 - {_EULER_GAMMA:.17e} * beta)
                + beta * {_GUMBEL_Y[30]:.17e} AS ret_30
            FROM pars
        """,
        # Twin of _q_theil_between: exact decimal revenue shares,
        # one-division population shares, nation-ordered ln fold.
        'q486_theil_between': """
            WITH rev AS (
              SELECT o_custkey,
                CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * 100 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS cents
              FROM orders GROUP BY 1
            ),
            j AS (
              SELECT n.n_name,
                COALESCE(r.cents, 0) AS cents
              FROM customer c
              JOIN nation n ON n.n_nationkey = c.c_nationkey
              LEFT JOIN rev r ON r.o_custkey = c.c_custkey
            ),
            g AS (
              SELECT n_name,
                CAST(count(*) AS BIGINT) AS n_cust,
                CAST(sum(cents) AS DECIMAL(38,0)) AS rev
              FROM j GROUP BY 1
            ),
            tot AS (
              SELECT CAST(sum(n_cust) AS BIGINT) AS tot_n,
                CAST(sum(rev) AS DECIMAL(38,0)) AS tot_rev
              FROM g
            ),
            shares AS (
              SELECT g.n_name, g.n_cust,
                CAST(g.rev AS DOUBLE) / CAST(t.tot_rev AS DOUBLE)
                  AS rev_share,
                g.n_cust / t.tot_n AS pop_share
              FROM g, tot t
            ),
            contribs AS (
              SELECT n_name, n_cust, rev_share, pop_share,
                CASE WHEN rev_share > 0
                  THEN rev_share * ln(rev_share / pop_share)
                  ELSE 0.0 END AS contrib
              FROM shares
            ),
            total AS (
              SELECT list_reduce(list(contrib ORDER BY n_name),
                (a, b) -> a + b) AS theil
              FROM contribs
            )
            SELECT c.n_name, c.n_cust, c.rev_share, c.pop_share,
              c.contrib, t.theil AS theil_between
            FROM contribs c, total t
        """,
        # Twin of _q_sorted_neighborhood: identical blocking key,
        # rank+off equi-join, and exact 5·|∩| ≥ |∪| predicate.
        'q484_sorted_neighborhood': r"""
            WITH tk0 AS (
              SELECT doc_id,
                lower(substr(text, 1, 16)) AS bkey,
                list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '') AS tk
              FROM documents
            ),
            keyed AS (
              SELECT doc_id, bkey,
                CASE WHEN len(tk) >= 5 THEN
                  list_distinct(list_transform(range(1, len(tk) - 3),
                    i -> array_to_string(list_slice(tk, i, i + 4),
                      ' ')))
                ELSE [] END AS sh
              FROM tk0
            ),
            ranked AS (
              SELECT doc_id, sh,
                row_number() OVER (ORDER BY bkey, doc_id) AS rnk
              FROM keyed
            ),
            lhs AS (
              SELECT doc_id AS doc_a, sh AS sh_a,
                rnk + unnest([1, 2, 3]) AS rj
              FROM ranked
            ),
            j AS (
              SELECT l.doc_a, r.doc_id AS doc_b, l.sh_a,
                r.sh AS sh_b
              FROM lhs l JOIN ranked r ON r.rnk = l.rj
            ),
            cand AS (
              SELECT doc_a, doc_b,
                CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT)
                  AS n_inter,
                CAST(len(sh_a) + len(sh_b)
                  - len(list_intersect(sh_a, sh_b)) AS BIGINT)
                  AS n_union
              FROM j
            )
            SELECT doc_a, doc_b, n_inter, n_union,
              CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)
                AS jaccard
            FROM cand
            WHERE n_inter * 5 >= n_union AND n_union > 0
        """,
        # Twin of _q_embedding_anisotropy: same quantized moments,
        # ascending-dim two-cast folds, one division.
        'q481_embedding_anisotropy': f"""
            WITH
{_EMB_MOMENTS_SQL},
            folds AS (
              SELECT label, max(m) AS m,
                list_reduce(list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  ORDER BY d), (a, b) -> a + b) AS ssum,
                list_reduce(list(CAST(qq AS DOUBLE) ORDER BY d),
                  (a, b) -> a + b) AS qsum
              FROM mom GROUP BY label
            )
            SELECT CAST(label AS INT) AS label,
              CAST(m AS BIGINT) AS n_vecs,
              ssum / (CAST(m AS DOUBLE) * qsum) AS anisotropy,
              qsum / CAST(m AS DOUBLE) / 1099511627776.0
                AS mean_sq_norm
            FROM folds
        """,
        # Twin of _q_participation_ratio: m² denominators cancel;
        # identical fold order and casts.
        'q482_participation_ratio': f"""
            WITH
{_EMB_MOMENTS_SQL},
            folds AS (
              SELECT label, max(m) AS m,
                list_reduce(list(CAST(m * qq - s * s AS DOUBLE)
                  ORDER BY d), (a, b) -> a + b) AS nsum,
                list_reduce(list(CAST(m * qq - s * s AS DOUBLE)
                  * CAST(m * qq - s * s AS DOUBLE) ORDER BY d),
                  (a, b) -> a + b) AS n2sum
              FROM mom GROUP BY label
            )
            SELECT CAST(label AS INT) AS label,
              CAST(m AS BIGINT) AS n_vecs,
              (nsum * nsum) / n2sum AS part_ratio,
              (nsum * nsum) / n2sum / 64.0 AS pr_frac
            FROM folds
        """,
        # Twin of _q_centroid_separation: exact integer diff per dim,
        # ascending-dim fold, sqrt then the two-step normalization.
        'q483_centroid_separation': f"""
            WITH
{_EMB_MOMENTS_SQL},
            pairs AS (
              SELECT a.label AS label_a, b.label AS label_b,
                max(a.m) AS m_a, max(b.m) AS m_b,
                list_reduce(
                  list(CAST(a.s * b.m - b.s * a.m AS DOUBLE)
                    * CAST(a.s * b.m - b.s * a.m AS DOUBLE)
                    ORDER BY a.d),
                  (x, y) -> x + y) AS acc
              FROM mom a
              JOIN mom b ON a.d = b.d AND a.label < b.label
              GROUP BY 1, 2
            )
            SELECT CAST(label_a AS INT) AS label_a,
              CAST(label_b AS INT) AS label_b,
              CAST(m_a AS BIGINT) AS n_a,
              CAST(m_b AS BIGINT) AS n_b,
              sqrt(acc) / (CAST(m_a AS DOUBLE) * CAST(m_b AS DOUBLE))
                / 1048576 AS dist
            FROM pairs
        """,
    },
)
