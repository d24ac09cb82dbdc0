"""Signal-complexity, effect-size and stump-training operators
(q462+).

Conventions: every value-bearing aggregate is exact integer/decimal
cents, ln epilogues run driver-side in Python (libm) over
group-cardinality rows, and oracles replay the identical fold order
(queries/registry.py raises on duplicate names)."""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import tokens
from sensor_time_series_pyspark_spark.queries.common import EVENT_TYPES
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _type_daily_cents(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type daily TOTAL in exact integer cents — the
    5-series × 30-day frame the complexity queries embed. Bounded by
    calendar span × type cardinality, never by event volume."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    return ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("v"))


def _q_permutation_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Bandt-Pompe permutation entropy (m=3) of each event type's
    daily-total series — the model-free complexity score that
    separates trending/periodic sensors from noise-like ones.
    Ordinal patterns use the standard stable tie rule (equal values
    ranked by temporal order); pattern counts are exact integers from
    one window pass + one aggregate, and the −Σp·ln p fold runs in
    PYTHON over the ≤ 5×6-row count table in ascending pattern-code
    order, exactly as the oracle's ordered list_reduce replays it
    (ln discipline: Spark's JVM ln differs from libm in the last
    bit). pe_norm = H/ln(3!) ∈ [0,1]."""
    import math

    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    emb = daily.select(
        "event_type",
        F.col("v").alias("v0"),
        F.lead("v", 1).over(w).alias("v1"),
        F.lead("v", 2).over(w).alias("v2"),
    ).where(F.col("v2").isNotNull())
    b = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    r0 = b(F.col("v1") < F.col("v0")) + b(F.col("v2") < F.col("v0"))
    r1 = (
        b(F.col("v0") < F.col("v1"))
        + b(F.col("v2") < F.col("v1"))
        + b(F.col("v0") == F.col("v1"))
    )
    r2 = (
        b(F.col("v0") < F.col("v2"))
        + b(F.col("v1") < F.col("v2"))
        + b(F.col("v0") == F.col("v2"))
        + b(F.col("v1") == F.col("v2"))
    )
    counts = (
        emb.select(
            "event_type", (r0 * 9 + r1 * 3 + r2).alias("code")
        )
        .groupBy("event_type", "code")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in counts:
        by_type.setdefault(r["event_type"], []).append((r["code"], r["c"]))
    out = []
    for t in sorted(by_type):
        pats = sorted(by_type[t])
        n = sum(c for _, c in pats)
        h = None
        for _, c in pats:
            p = c / n
            term = -(p * math.log(p))
            h = term if h is None else h + term
        out.append((t, n, len(pats), h / math.log(6.0)))
    return spark.createDataFrame(
        out,
        "event_type string, n_windows bigint, n_patterns bigint, "
        "pe_norm double",
    )


def _q_cliffs_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Cliff's delta ordinal effect size for ALL 10 event-type pairs
    from ONE distinct-value sort: the (cents → per-type count) frame
    (bounded by the value DOMAIN, ~18k rows at sf0.1, never by event
    volume) gets running per-type cumulative counts, and
    #(a>b) = Σ_v c_a(v)·cum_b(<v) — so no pair ever joins, no ranks
    are recomputed per pair, and every count stays an exact bigint.
    delta = (gt − lt)/(n_a·n_b) is ONE double division. The standard
    effect-size companion to the q-family rank tests (Mann-Whitney
    q234-era, Tukey q453)."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    cells = ev.select(
        "event_type", cents.alias("v")
    ).groupBy("v").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c_{t}")
            for t in EVENT_TYPES
        ]
    )
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    for t in EVENT_TYPES:
        cells = cells.withColumn(
            f"cum_{t}",
            F.coalesce(F.sum(f"c_{t}").over(wcum), F.lit(0)).cast(
                "bigint"
            ),
        ).withColumn(f"tot_{t}", F.sum(f"c_{t}").over(wall).cast("bigint"))
    pairs = sorted(itertools.combinations(sorted(EVENT_TYPES), 2))
    aggs = []
    for a, b in pairs:
        aggs.append(
            F.sum(F.col(f"c_{a}") * F.col(f"cum_{b}"))
            .cast("bigint")
            .alias(f"gt_{a}_{b}")
        )
        aggs.append(
            F.sum(
                F.col(f"c_{a}")
                * (
                    F.col(f"tot_{b}")
                    - F.col(f"cum_{b}")
                    - F.col(f"c_{b}")
                )
            )
            .cast("bigint")
            .alias(f"lt_{a}_{b}")
        )
    for t in EVENT_TYPES:
        aggs.append(F.max(f"tot_{t}").alias(f"n_{t}"))
    wide = cells.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("type_a"),
                F.lit(b).alias("type_b"),
                F.col(f"n_{a}").alias("n_a"),
                F.col(f"n_{b}").alias("n_b"),
                F.col(f"gt_{a}_{b}").alias("gt"),
                F.col(f"lt_{a}_{b}").alias("lt"),
            )
            for a, b in pairs
        ]
    )
    return (
        wide.select(F.explode(structs).alias("s"))
        .select("s.*")
        .withColumn(
            "delta",
            (F.col("gt") - F.col("lt")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        )
    )


def _q_gini_stump(spark: SparkSession, sf: str) -> DataFrame:
    """Decision-stump training sweep: weighted Gini impurity of the
    split `n_chars <= v` predicting lang, evaluated at EVERY distinct
    n_chars in ONE window pass — the classic sorted-cumulative-count
    stump trainer (CART's per-feature scan), the building block of
    feature-importance scoring for a curation pipeline. The candidate
    frame is bounded by the feature DOMAIN (≤ ~500 distinct values),
    class counts stay exact bigints (Σc² < 2^53 at any sf), and
    gini_w = (nL − ΣcL²/nL + nR − ΣcR²/nR)/n is a fixed-order chain
    of exact-integer→double divisions, portable by IEEE 754."""
    docs = read_table(spark, sf, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    cells = docs.groupBy("n_chars").agg(
        *[
            F.sum(F.when(F.col("lang") == g, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c_{g}")
            for g in langs
        ]
    )
    wcum = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    for g in langs:
        cells = cells.withColumn(
            f"cl_{g}", F.sum(f"c_{g}").over(wcum).cast("bigint")
        ).withColumn(f"tt_{g}", F.sum(f"c_{g}").over(wall).cast("bigint"))
    n_l = sum(F.col(f"cl_{g}") for g in langs)
    n_r = sum(F.col(f"tt_{g}") - F.col(f"cl_{g}") for g in langs)
    ssq_l = sum(F.col(f"cl_{g}") * F.col(f"cl_{g}") for g in langs)
    ssq_r = sum(
        (F.col(f"tt_{g}") - F.col(f"cl_{g}"))
        * (F.col(f"tt_{g}") - F.col(f"cl_{g}"))
        for g in langs
    )
    out = cells.select(
        F.col("n_chars").alias("threshold"),
        n_l.cast("bigint").alias("n_left"),
        n_r.cast("bigint").alias("n_right"),
        ssq_l.cast("bigint").alias("ssq_left"),
        ssq_r.cast("bigint").alias("ssq_right"),
    ).where(F.col("n_right") > 0)
    gini = (
        (
            F.col("n_left").cast("double")
            - F.col("ssq_left").cast("double")
            / F.col("n_left").cast("double")
        )
        + (
            F.col("n_right").cast("double")
            - F.col("ssq_right").cast("double")
            / F.col("n_right").cast("double")
        )
    ) / (F.col("n_left") + F.col("n_right")).cast("double")
    return out.withColumn("gini_weighted", gini)


def _q_ccf_lags(spark: SparkSession, sf: str) -> DataFrame:
    """Lagged cross-correlation (CCF, lags −3..+3) between the
    purchase and click daily-total series: does click volume LEAD
    purchase revenue? Daily totals are dollar-rounded via exact
    integer `div` (keeps every moment < 2^53 so integer→double casts
    are value-exact in both engines — the q447 hugeint hazard never
    arises), the lag alignment is a day-grain self-join on a
    30-row-bounded frame, and each lag's Pearson r is the standard
    exact-moment identity with one sqrt and one division."""
    daily = _type_daily_cents(spark, sf)
    dollars = F.expr("(v + 50) div 100")
    x = daily.where(F.col("event_type") == "click").select(
        "day", dollars.alias("x")
    )
    y = daily.where(F.col("event_type") == "purchase").select(
        "day", dollars.alias("y")
    )
    xl = x.select(
        F.explode(
            F.array(*[F.lit(i) for i in range(-3, 4)])
        ).alias("lag"),
        "day",
        "x",
    ).select(
        "lag", F.date_add("day", F.col("lag")).alias("yday"), "x"
    )
    j = xl.join(y, xl["yday"] == y["day"]).select("lag", "x", "y")
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        "lag",
        F.col("m").alias("n_days"),
        (num / F.sqrt(denx * deny)).alias("ccf"),
    )


def _q_sample_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Sample entropy (m=2, Chebyshev tolerance r = range div 10) of
    each event type's daily-total cents series — Richman-Moorman
    regularity: −ln(A/B) with B the matching 2-template pairs and A
    the matching 3-template pairs over the SAME N−m template set.
    Tolerance, distances, and both counts are exact integers (r from
    an integer `div`, matches from |Δ| ≤ r comparisons on cents), the
    pair frame is the calendar-bounded 28-template self-join
    (≤ C(28,2)·5 rows at ANY sf), and the single ln runs driver-side
    over the 5-row count table (libm discipline). A=0 ⇒ NULL sampen
    (undefined), counts still reported."""
    import math

    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    emb = (
        daily.select(
            "event_type",
            F.row_number().over(w).alias("i"),
            F.col("v").alias("v0"),
            F.lead("v", 1).over(w).alias("v1"),
            F.lead("v", 2).over(w).alias("v2"),
            (
                (F.max("v").over(wall) - F.min("v").over(wall))
            ).alias("rng"),
        )
        .where(F.col("v2").isNotNull())
        .withColumn("r_tol", F.expr("rng div 10"))
    )
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.i") < F.col("b.i")),
    )
    within = lambda c: (  # noqa: E731
        F.abs(F.col(f"a.{c}") - F.col(f"b.{c}")) <= F.col("a.r_tol")
    )
    m2 = within("v0") & within("v1")
    m3 = m2 & within("v2")
    cnt = pairs.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.max("a.r_tol").cast("bigint").alias("r_tol"),
        F.sum(F.when(m2, 1).otherwise(0)).cast("bigint").alias("b_pairs"),
        F.sum(F.when(m3, 1).otherwise(0)).cast("bigint").alias("a_pairs"),
    )
    rows = sorted(cnt.collect(), key=lambda r: r["event_type"])
    out = []
    for r in rows:
        se = (
            -math.log(r["a_pairs"] / r["b_pairs"])
            if r["a_pairs"] > 0 and r["b_pairs"] > 0
            else None
        )
        out.append(
            (r["event_type"], r["r_tol"], r["b_pairs"], r["a_pairs"], se)
        )
    return spark.createDataFrame(
        out,
        "event_type string, r_tol bigint, b_pairs bigint, "
        "a_pairs bigint, sampen double",
    )


def _q_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-overlap audit: 5-gram shingle Jaccard AND containment
    for all source pairs via ONE inverted-index equi-join on the
    distinct (source, shingle) set — the cross-slice contamination
    matrix (q411's train/test leak check generalized to all 190
    source pairs). Never a cross join: candidate pairs materialize
    only where a shingle is SHARED, intersection/set sizes are exact
    integers, and each similarity is one division. The dedup-family
    `max_token_df` valve applies verbatim if a shingle's document
    frequency explodes at scale (operators/dedup.py)."""
    docs = read_table(spark, sf, "documents")
    sets = (
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
        .distinct()
    )
    sizes = sets.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    a = sets.alias("a")
    b = sets.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n_sh").alias("n_b")
    )
    j = inter.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
    return j.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_inter",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                "double"
            )
        ).alias("jaccard"),
        (
            F.col("n_inter").cast("double")
            / F.least("n_a", "n_b").cast("double")
        ).alias("containment"),
    )


def _q_kendall_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Kendall τ-b between every pair of event-type daily-total
    series, all 10 pairs from ONE day-pair self-join of the 30-row
    wide frame: concordant/discordant/tie counts are exact integer
    sign tests on cents, n₀ = C(n,2), and
    τ_b = (C−D)/√((n₀−T_a)(n₀−T_b)) is one sqrt + one division. The
    rank-correlation companion to q465's Pearson CCF — monotone
    association without normality, O(days²) NOT O(rows²)."""
    daily = _type_daily_cents(spark, sf)
    wide = daily.groupBy("day").agg(
        *[
            F.max(F.when(F.col("event_type") == t, F.col("v")))
            .alias(f"v_{t}")
            for t in EVENT_TYPES
        ]
    )
    a = wide.alias("a")
    b = wide.alias("b")
    dp = a.join(b, F.col("a.day") < F.col("b.day"))
    pairs = sorted(itertools.combinations(sorted(EVENT_TYPES), 2))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n0")]
    for x, y in pairs:
        dx = F.col(f"a.v_{x}") - F.col(f"b.v_{x}")
        dy = F.col(f"a.v_{y}") - F.col(f"b.v_{y}")
        aggs.append(
            F.sum(
                F.when((dx > 0) & (dy > 0) | (dx < 0) & (dy < 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias(f"c_{x}_{y}")
        )
        aggs.append(
            F.sum(
                F.when((dx > 0) & (dy < 0) | (dx < 0) & (dy > 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias(f"d_{x}_{y}")
        )
        aggs.append(
            F.sum(F.when(dx == 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"ta_{x}_{y}")
        )
        aggs.append(
            F.sum(F.when(dy == 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"tb_{x}_{y}")
        )
    wrow = dp.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(x).alias("type_a"),
                F.lit(y).alias("type_b"),
                F.col("n0").alias("n0"),
                F.col(f"c_{x}_{y}").alias("concordant"),
                F.col(f"d_{x}_{y}").alias("discordant"),
                F.col(f"ta_{x}_{y}").alias("ties_a"),
                F.col(f"tb_{x}_{y}").alias("ties_b"),
            )
            for x, y in pairs
        ]
    )
    ex = wrow.select(F.explode(structs).alias("s")).select("s.*")
    return ex.withColumn(
        "tau_b",
        (F.col("concordant") - F.col("discordant")).cast("double")
        / F.sqrt(
            (F.col("n0") - F.col("ties_a")).cast("double")
            * (F.col("n0") - F.col("ties_b")).cast("double")
        ),
    )


def _q_haar_energy(spark: SparkSession, sf: str) -> DataFrame:
    """Unnormalized Haar wavelet energy decomposition (3 levels over
    the first 24 days) of each type's dollar-rounded daily series —
    the multi-resolution variance split (fast-vs-slow dynamics) that
    a periodogram gives in frequency space, here in PURE INTEGER
    arithmetic: detail = first−second, approx = first+second per
    dyadic pair, E_l = Σ detail², all exact bigints satisfying
    Parseval Σv² = E1/2 + E2/4 + E3/8 + EA/8 (pinned by an invariant
    test). Three constant-size aggregates over the calendar-bounded
    frame; fractions are fixed-order double divisions."""
    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    base = (
        daily.select(
            "event_type",
            F.row_number().over(w).alias("i"),
            F.expr("(v + 50) div 100").alias("x"),
        )
        .where(F.col("i") <= 24)
    )

    def level(df: DataFrame) -> DataFrame:
        odd = F.max(F.when(F.col("i") % 2 == 1, F.col("x")))
        even = F.max(F.when(F.col("i") % 2 == 0, F.col("x")))
        return df.groupBy(
            "event_type", F.expr("(i + 1) div 2").alias("p")
        ).agg(
            (odd - even).alias("d"),
            (odd + even).alias("a"),
        ).select(
            "event_type", F.col("p").alias("i"), "d", F.col("a").alias("x")
        )

    l1 = level(base)
    l2 = level(l1.select("event_type", "i", "x"))
    l3 = level(l2.select("event_type", "i", "x"))
    tot = base.groupBy("event_type").agg(
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sum_sq")
    )
    e1 = l1.groupBy("event_type").agg(
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("e1")
    )
    e2 = l2.groupBy("event_type").agg(
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("e2")
    )
    e3 = l3.groupBy("event_type").agg(
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("e3")
    )
    ea = l3.groupBy("event_type").agg(
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ea")
    )
    j = (
        tot.join(e1, "event_type")
        .join(e2, "event_type")
        .join(e3, "event_type")
    ).join(ea, "event_type")
    ss = F.col("sum_sq").cast("double")
    return j.select(
        "event_type",
        "sum_sq",
        "e1",
        "e2",
        "e3",
        "ea",
        (F.col("e1").cast("double") / 2.0 / ss).alias("frac_l1"),
        (F.col("e2").cast("double") / 4.0 / ss).alias("frac_l2"),
        (F.col("e3").cast("double") / 8.0 / ss).alias("frac_l3"),
    )


_PERIODOGRAM_KS = list(range(1, 8))
_PERIODOGRAM_N = 30


def _trig_table() -> list[tuple[int, int, float, float]]:
    """(t, k, cos, sin) literals for the 30-point DFT — generated
    ONCE in Python (libm) and inlined as identical double literals in
    both the Spark epilogue and the DuckDB oracle, so no engine ever
    evaluates a transcendental on data."""
    import math

    out = []
    for k in _PERIODOGRAM_KS:
        for t in range(1, _PERIODOGRAM_N + 1):
            ang = 2.0 * math.pi * k * (t - 1) / _PERIODOGRAM_N
            out.append((t, k, math.cos(ang), math.sin(ang)))
    return out


def _q_periodogram(spark: SparkSession, sf: str) -> DataFrame:
    """DFT periodogram (k = 1..7, n = 30) of each type's
    dollar-rounded daily series — the weekly/biweekly seasonality
    detector in frequency space (power peaks at k = 30/period ≈ 4 for
    a 7-day cycle). Trig factors are PRE-COMPUTED double literals
    (shared verbatim with the oracle), c_k/s_k fold v·cosᵗ in
    ascending-day order driver-side over the 150-row collected frame
    — the exact fold DuckDB's ordered list_reduce replays — and
    power_frac folds the 7 powers in ascending-k order."""
    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    rows = (
        daily.select(
            "event_type",
            F.row_number().over(w).alias("t"),
            F.expr("(v + 50) div 100").alias("x"),
        )
        .where(F.col("t") <= _PERIODOGRAM_N)
        .collect()
    )
    series: dict[str, dict[int, int]] = {}
    for r in rows:
        series.setdefault(r["event_type"], {})[r["t"]] = r["x"]
    trig = {(t, k): (c, s) for t, k, c, s in _trig_table()}
    out = []
    for et in sorted(series):
        xs = series[et]
        powers = []
        for k in _PERIODOGRAM_KS:
            c = None
            s = None
            for t in sorted(xs):
                ct, st = trig[(t, k)]
                tc = xs[t] * ct
                ts = xs[t] * st
                c = tc if c is None else c + tc
                s = ts if s is None else s + ts
            powers.append(c * c + s * s)
        tot = None
        for p in powers:
            tot = p if tot is None else tot + p
        for k, p in zip(_PERIODOGRAM_KS, powers):
            out.append((et, k, p, p / tot))
    return spark.createDataFrame(
        out,
        "event_type string, k int, power double, power_frac double",
    )


def _q_hjorth(spark: SparkSession, sf: str) -> DataFrame:
    """Hjorth parameters (activity, mobility, complexity) of each
    type's daily cents series — the classic 3-number EEG-style
    signal fingerprint: activity = var(x),
    mobility = √(var(Δx)/var(x)),
    complexity = √(var(Δ²x)/var(Δx))/mobility. All three variances
    are population variances from exact integer moments ((mq−s²)/m²,
    every product < 2^63 by the daily-cents bound), combined in one
    fixed-order double chain — IEEE-portable, no libm."""
    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.select(
        "event_type",
        F.col("v").alias("x"),
        (F.col("v") - F.lag("v", 1).over(w)).alias("dx"),
        (
            F.col("v")
            - 2 * F.lag("v", 1).over(w)
            + F.lag("v", 2).over(w)
        ).alias("ddx"),
    )

    def mom(c: str):
        col = F.col(c)
        return [
            F.count(col).cast("bigint").alias(f"m_{c}"),
            F.sum(col).cast("bigint").alias(f"s_{c}"),
            F.sum(col * col).cast("bigint").alias(f"q_{c}"),
        ]

    g = d.groupBy("event_type").agg(
        *(mom("x") + mom("dx") + mom("ddx"))
    )

    def var(c: str) -> F.Column:
        m = F.col(f"m_{c}").cast("double")
        s = F.col(f"s_{c}").cast("double")
        q = F.col(f"q_{c}").cast("double")
        return (m * q - s * s) / (m * m)

    vx, vdx, vddx = var("x"), var("dx"), var("ddx")
    mob = F.sqrt(vdx / vx)
    return g.select(
        "event_type",
        F.col("m_x").alias("n_days"),
        vx.alias("activity"),
        mob.alias("mobility"),
        (F.sqrt(vddx / vdx) / mob).alias("complexity"),
    )


def _q_hill_tail(spark: SparkSession, sf: str) -> DataFrame:
    """Hill estimator of the Pareto tail index per event type:
    H = (1/k)·Σᵢ₌₁..ₖ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k = 50 largest cents
    values, α̂ = 1/H — the heavy-tail exponent a pricing/anomaly team
    reads before trusting any variance-based alarm. Order statistics
    are exact integers (rank over a map-side per-type top-(k+1)
    reduction; ties at the boundary leave the value multiset
    unchanged), and the k-term ln fold runs driver-side in ascending
    rank order over the 5×51 collected rows — DuckDB's ordered
    list_reduce replays it exactly."""
    import math

    k = 50
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy(
        F.col("v").desc(), F.col("event_id")
    )
    top = (
        ev.select("event_type", "event_id", cents.alias("v"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k + 1)
        .select("event_type", "rnk", "v")
        .collect()
    )
    by_type: dict[str, dict[int, int]] = {}
    for r in top:
        by_type.setdefault(r["event_type"], {})[r["rnk"]] = r["v"]
    out = []
    for t in sorted(by_type):
        xs = by_type[t]
        xk1 = xs[k + 1]
        h = None
        for i in range(1, k + 1):
            term = math.log(xs[i] / xk1)
            h = term if h is None else h + term
        h = h / k
        out.append((t, k, xk1, h, 1.0 / h))
    return spark.createDataFrame(
        out,
        "event_type string, k int, x_k1 bigint, hill_h double, "
        "alpha double",
    )


def _q_mean_excess(spark: SparkSession, sf: str) -> DataFrame:
    """Mean-excess function e(u) = E[X−u | X>u] at the nine decile
    thresholds per event type — the peaks-over-threshold diagnostic
    (rising e(u) ⇒ heavy tail, the empirical companion to q472's
    Hill α). ONE distinct-value sort yields running count/sum; every
    threshold u_i = value at rank ⌈i·n/10⌉ and its exceedance
    count/excess-sum are read off the SAME pass with conditional
    aggregates (no threshold join, no re-scan), all exact integers
    until the final division."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    cells = (
        ev.select("event_type", cents.alias("v"))
        .groupBy("event_type", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("v").cast("bigint").alias("vsum"),
        )
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
    aggs = []
    for i in range(1, 10):
        r_i = F.ceil(F.col("n") * i / 10).cast("bigint")
        hit = (F.col("ccnt") >= r_i) & (
            (F.col("ccnt") - F.col("cnt")) < r_i
        )
        aggs.append(F.max(F.when(hit, F.col("v"))).alias(f"u_{i}"))
        aggs.append(
            F.max(F.when(hit, F.col("n") - F.col("ccnt"))).alias(
                f"ec_{i}"
            )
        )
        aggs.append(
            F.max(F.when(hit, F.col("tot") - F.col("csum"))).alias(
                f"es_{i}"
            )
        )
    wide = run.groupBy("event_type").agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("decile"),
                F.col(f"u_{i}").alias("u"),
                F.col(f"ec_{i}").alias("n_exceed"),
                F.col(f"es_{i}").alias("sum_above"),
            )
            for i in range(1, 10)
        ]
    )
    ex = wide.select(
        "event_type", F.explode(structs).alias("s")
    ).select("event_type", "s.*")
    return ex.select(
        "event_type",
        "decile",
        "u",
        "n_exceed",
        (
            (F.col("sum_above") - F.col("u") * F.col("n_exceed"))
            .cast("double")
            / F.col("n_exceed").cast("double")
        ).alias("mean_excess"),
    ).where(F.col("n_exceed") > 0)


def _q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: per-user Recency (days since last event),
    Frequency (event count), Monetary (cents sum) → quintile scores
    via ntile(5) with fully deterministic user_id tie-breaks →
    segment census with average spend. The classic CRM cohort cut,
    here with every score reproducible across engines because each
    ntile ordering is total. Shuffles the per-user reduction (n_users
    rows), never raw events."""
    ev = read_table(spark, sf, "events")
    cents = F.coalesce(
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint"),
        F.lit(0),
    )
    per_user = ev.groupBy("user_id").agg(
        F.datediff(
            F.lit("2024-01-31").cast("date"), F.max(F.to_date("ts"))
        ).alias("recency_days"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(cents).cast("bigint").alias("monetary"),
    )
    scored = per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5)
        .over(
            Window.orderBy(
                F.col("recency_days").asc(), F.col("user_id").asc()
            )
        )
        .alias("r_bucket"),
        F.ntile(5)
        .over(
            Window.orderBy(
                F.col("frequency").desc(), F.col("user_id").asc()
            )
        )
        .alias("f_bucket"),
        F.ntile(5)
        .over(
            Window.orderBy(
                F.col("monetary").desc(), F.col("user_id").asc()
            )
        )
        .alias("m_bucket"),
    )
    # bucket 1 = best on each axis; score 5 = best, CRM convention
    seg = scored.select(
        "user_id",
        "monetary",
        (6 - F.col("r_bucket")).alias("r_score"),
        (6 - F.col("f_bucket")).alias("f_score"),
        (6 - F.col("m_bucket")).alias("m_score"),
    )
    return seg.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("monetary").cast("bigint").alias("monetary_cents"),
        (
            F.sum("monetary").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_monetary"),
    )


def _q_nelson_aalen(spark: SparkSession, sf: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard of ERROR-event recurrence: the
    reliability engineer's MTBF curve — per-user gaps between
    consecutive error days, right-censored at the corpus horizon
    after each user's last error, H(t) = Σ dᵢ/nᵢ over the ≤ 30-row
    duration life table plus the Breslow survival exp(−H). The
    sequential Σ folds driver-side in duration order with nᵢ
    decremented per step (q400 Kaplan-Meier's discipline — the
    oracle replays the identical op order in a recursive CTE); exp
    is libm on both sides. One fact scan, one lead window, one
    day-grain reduce."""
    import math

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
    n_risk = sum(r["d"] + r["c"] for r in steps)
    h = 0.0
    out = []
    for r in steps:
        h = h + r["d"] / n_risk
        out.append(
            (r["dur"], n_risk, r["d"], r["c"], h, math.exp(-h))
        )
        n_risk -= r["d"] + r["c"]
    return spark.createDataFrame(
        out,
        "duration int, n_risk bigint, d_events bigint, "
        "c_censored bigint, cum_hazard double, breslow_surv double",
    )


def _q_lz_complexity(spark: SparkSession, sf: str) -> DataFrame:
    """Lempel-Ziv (LZ76) complexity of each type's up/down daily
    movement string — the dictionary-parse randomness score
    (periodic ⇒ few phrases, noise ⇒ ~n/log₂n): each phrase is the
    SHORTEST prefix-novel substring (search window overlaps the
    phrase's own first chars, per LZ76). The 29-char binary strings
    are exact integer comparisons; the parse folds driver-side and
    the oracle replays it with a recursive CTE whose minimal-l step
    is a list_filter over strpos — normalization
    c·(ln n/ln 2)/n is libm on both sides."""
    import math

    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    bits = (
        daily.select(
            "event_type",
            F.col("day"),
            F.when(
                F.col("v") > F.lag("v", 1).over(w), F.lit("1")
            ).otherwise(F.lit("0")).alias("ch"),
            F.lag("v", 1).over(w).alias("prev"),
        )
        .where(F.col("prev").isNotNull())
        .groupBy("event_type")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("day", "ch"))
                    ),
                    lambda s: s["ch"],
                ),
            ).alias("s")
        )
        .collect()
    )
    out = []
    for r in sorted(bits, key=lambda r: r["event_type"]):
        s = r["s"]
        n = len(s)
        i, c = 0, 0
        while i < n:
            l = 1
            while i + l <= n and s[i : i + l] in s[: i + l - 1]:
                l += 1
            c += 1
            i += l
        out.append(
            (
                r["event_type"],
                n,
                c,
                c * (math.log(n) / math.log(2.0)) / n,
            )
        )
    return spark.createDataFrame(
        out,
        "event_type string, n_len int, n_phrases int, lz_norm double",
    )


def _q_spectral_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Spectral entropy + dominant harmonic per event type: Shannon
    entropy of the q470 periodogram's normalized power distribution
    (flat spectrum ⇒ 1, single tone ⇒ 0) and the argmax harmonic
    with its period — the one-row-per-series "is there a cycle and
    how clean" summary. Same pre-computed trig literals and
    ascending-k folds as q470; the ln epilogue runs driver-side over
    the 5×7 power table (libm), tie-broken argmax by lowest k."""
    import math

    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    rows = (
        daily.select(
            "event_type",
            F.row_number().over(w).alias("t"),
            F.expr("(v + 50) div 100").alias("x"),
        )
        .where(F.col("t") <= _PERIODOGRAM_N)
        .collect()
    )
    series: dict[str, dict[int, int]] = {}
    for r in rows:
        series.setdefault(r["event_type"], {})[r["t"]] = r["x"]
    trig = {(t, k): (c, s) for t, k, c, s in _trig_table()}
    out = []
    for et in sorted(series):
        xs = series[et]
        powers = []
        for k in _PERIODOGRAM_KS:
            c = None
            s = None
            for t in sorted(xs):
                ct, st = trig[(t, k)]
                tc = xs[t] * ct
                ts = xs[t] * st
                c = tc if c is None else c + tc
                s = ts if s is None else s + ts
            powers.append(c * c + s * s)
        tot = None
        for p in powers:
            tot = p if tot is None else tot + p
        h = None
        for p in powers:
            frac = p / tot
            term = -(frac * math.log(frac))
            h = term if h is None else h + term
        peak_k = max(
            zip(_PERIODOGRAM_KS, powers), key=lambda kp: (kp[1], -kp[0])
        )[0]
        out.append(
            (
                et,
                h / math.log(float(len(_PERIODOGRAM_KS))),
                peak_k,
                _PERIODOGRAM_N / peak_k,
            )
        )
    return spark.createDataFrame(
        out,
        "event_type string, spec_entropy double, peak_k int, "
        "peak_period double",
    )


_DFA_SIZES = [4, 5, 6, 10]


def _q_dfa_alpha(spark: SparkSession, sf: str) -> DataFrame:
    """Detrended fluctuation analysis α per event type: the
    long-range-dependence exponent (α≈0.5 uncorrelated, α→1 1/f,
    α>1 nonstationary drift) — the complexity suite's memory probe
    next to q462 PE / q466 SampEn / q476 LZ. The n-scaled profile
    Pₖ = n·Σᵢ≤ₖxᵢ − k·S is EXACT INTEGER ($100-rounded units keep
    every moment < 2^63), each size-s box's OLS-detrended RSS is the
    closed form (SxxSyy − Sxy²)/(s·Sxx) with one shared integer
    denominator per s, and α is the 4-point ln-ln slope folded
    driver-side in ascending-s order (libm; n-scaling shifts ln F by
    a constant and cancels in the slope)."""
    import math

    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prof = daily.select(
        "event_type",
        F.row_number().over(w).alias("t"),
        F.expr("(v + 5000) div 10000").alias("x"),
    ).select(
        "event_type",
        "t",
        (
            F.count(F.lit(1)).over(wall) * F.sum("x").over(wcum)
            - F.col("t") * F.sum("x").over(wall)
        ).cast("bigint").alias("p"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
    )
    sized = prof.select(
        "event_type",
        "t",
        "p",
        "n",
        F.explode(
            F.array(*[F.lit(s) for s in _DFA_SIZES])
        ).alias("s"),
    ).where(
        F.col("t") <= (F.col("n") - F.col("n") % F.col("s"))
    )
    tt = F.col("t") - (F.ceil(F.col("t") / F.col("s")) - 1) * F.col("s")
    box = sized.select(
        "event_type",
        "s",
        F.ceil(F.col("t") / F.col("s")).cast("bigint").alias("b"),
        tt.cast("bigint").alias("tt"),
        "p",
    )
    moms = box.groupBy("event_type", "s", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("tt").cast("bigint").alias("st"),
        F.sum(F.col("tt") * F.col("tt")).cast("bigint").alias("stt"),
        F.sum("p").cast("bigint").alias("sy"),
        F.sum(F.col("p") * F.col("p")).cast("bigint").alias("syy"),
        F.sum(F.col("tt") * F.col("p")).cast("bigint").alias("sty"),
    )
    sxx = F.col("m") * F.col("stt") - F.col("st") * F.col("st")
    syy_c = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    sxy_c = F.col("m") * F.col("sty") - F.col("st") * F.col("sy")
    per_s = moms.select(
        "event_type",
        "s",
        (sxx * syy_c - sxy_c * sxy_c)
        .cast("decimal(38,0)")
        .alias("num"),
        sxx.alias("sxx"),
    ).groupBy("event_type", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_boxes"),
        F.sum("num").alias("num_sum"),
        F.max("sxx").cast("bigint").alias("sxx"),
    ).collect()
    by_type: dict[str, dict[int, tuple]] = {}
    for r in per_s:
        by_type.setdefault(r["event_type"], {})[r["s"]] = (
            int(r["num_sum"]),
            r["sxx"],
            r["n_boxes"],
        )
    out = []
    for et in sorted(by_type):
        fs = {}
        for s in _DFA_SIZES:
            num_sum, sxx_v, n_boxes = by_type[et][s]
            # two float() casts THEN divide — mirrors the oracle's
            # CAST(..)/CAST(..); a direct int/int true-division would
            # round once, not twice, and drift above 2^53
            f2 = float(num_sum) / float(s * sxx_v * n_boxes)
            fs[s] = math.sqrt(f2)
        sx = sy = sxy = sxx_m = None
        for s in _DFA_SIZES:
            x = math.log(float(s))
            y = math.log(fs[s])
            sx = x if sx is None else sx + x
            sy = y if sy is None else sy + y
            sxy = x * y if sxy is None else sxy + x * y
            sxx_m = x * x if sxx_m is None else sxx_m + x * x
        m = float(len(_DFA_SIZES))
        alpha = (m * sxy - sx * sy) / (m * sxx_m - sx * sx)
        for s in _DFA_SIZES:
            out.append((et, s, by_type[et][s][2], fs[s], alpha))
    return spark.createDataFrame(
        out,
        "event_type string, s int, n_boxes bigint, f_s double, "
        "alpha double",
    )


def _mean_excess_sql() -> str:
    aggs = []
    for i in range(1, 10):
        hit = (
            f"ccnt >= ceil(n * {i} / 10)"
            f" AND (ccnt - cnt) < ceil(n * {i} / 10)"
        )
        aggs.append(f"max(CASE WHEN {hit} THEN v END) AS u_{i}")
        aggs.append(
            f"max(CASE WHEN {hit} THEN n - ccnt END) AS ec_{i}"
        )
        aggs.append(
            f"max(CASE WHEN {hit} THEN tot - csum END) AS es_{i}"
        )
    structs = ",\n                ".join(
        "{'decile': %d, 'u': u_%d, 'n_exceed': ec_%d,"
        " 'sum_above': es_%d}" % (i, i, i, i)
        for i in range(1, 10)
    )
    return f"""
        WITH cells AS (
          SELECT event_type,
            CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
            CAST(count(*) AS BIGINT) AS cnt,
            CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
              AS BIGINT)) AS BIGINT) AS vsum
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
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
            CAST(sum(vsum) OVER (PARTITION BY event_type) AS BIGINT)
              AS tot
          FROM cells
        ),
        wide AS (
          SELECT event_type, {', '.join(aggs)}
          FROM run GROUP BY 1
        ),
        ex AS (
          SELECT event_type, unnest([
                {structs}
          ]) AS s FROM wide
        )
        SELECT event_type, CAST(s.decile AS INT) AS decile,
          CAST(s.u AS BIGINT) AS u,
          CAST(s.n_exceed AS BIGINT) AS n_exceed,
          CAST(s.sum_above - s.u * s.n_exceed AS DOUBLE)
            / CAST(s.n_exceed AS DOUBLE) AS mean_excess
        FROM ex WHERE s.n_exceed > 0
    """


def _periodogram_sql() -> str:
    trig = _trig_table()
    # always-scientific literals parse as DOUBLE in DuckDB; plain
    # decimals would parse as DECIMAL whose →double cast is off by
    # one ulp (the q447 two-limb hazard's little sibling)
    vals = ",\n                ".join(
        f"({t}, {k}, {c:.17e}, {s:.17e})" for t, k, c, s in trig
    )
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
              AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ),
        idx AS (
          SELECT event_type,
            row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS t,
            (v + 50) // 100 AS x
          FROM daily
        ),
        base AS (
          SELECT * FROM idx WHERE t <= {_PERIODOGRAM_N}
        ),
        trig(t, k, c, s) AS (
          VALUES
                {vals}
        ),
        ck AS (
          SELECT b.event_type, tr.k,
            list_reduce(list(b.x * tr.c ORDER BY b.t),
              (a, b) -> a + b) AS cc,
            list_reduce(list(b.x * tr.s ORDER BY b.t),
              (a, b) -> a + b) AS ss
          FROM base b JOIN trig tr ON tr.t = b.t
          GROUP BY 1, 2
        ),
        pw AS (
          SELECT event_type, k, cc * cc + ss * ss AS power
          FROM ck
        ),
        tot AS (
          SELECT event_type,
            list_reduce(list(power ORDER BY k), (a, b) -> a + b)
              AS tot
          FROM pw GROUP BY 1
        )
        SELECT p.event_type, CAST(p.k AS INT) AS k, p.power,
          p.power / t.tot AS power_frac
        FROM pw p JOIN tot t USING (event_type)
    """


_HIGUCHI_KS = [1, 2, 3, 4]


def _q_higuchi_fd(spark: SparkSession, sf: str) -> DataFrame:
    """Higuchi fractal dimension of each type's daily cents series —
    the curve-roughness exponent (FD→1 smooth trend, FD→2
    space-filling noise) that closes the complexity suite (q478 DFA
    measures memory, this measures geometry). Each stride-k offset
    curve's length Σ|X(m+ik)−X(m+(i−1)k)| is an EXACT integer from a
    (type,t)=(type,t−k) equi-join on the calendar frame; the
    (N−1)/(g·k²) normalizations and the m-ascending mean fold run
    driver-side over the ≤ 5×10-row table in the oracle's
    list_reduce order, and FD = −slope of the 4-point ln-ln fit
    (q478's chain)."""
    import math

    daily = _type_daily_cents(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type",
        F.row_number().over(w).alias("t"),
        F.col("v").alias("x"),
    )
    a = idx.alias("a")
    b = idx.select(
        "event_type",
        F.col("t").alias("tb"),
        F.col("x").alias("xb"),
        F.explode(
            F.array(*[F.lit(k) for k in _HIGUCHI_KS])
        ).alias("k"),
    ).alias("b")
    j = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.t") == F.col("b.tb") + F.col("b.k")),
    )
    sums = (
        j.select(
            F.col("a.event_type").alias("event_type"),
            F.col("b.k").alias("k"),
            (((F.col("a.t") - 1) % F.col("b.k")) + 1).alias("m"),
            F.abs(F.col("a.x") - F.col("b.xb")).alias("ad"),
        )
        .groupBy("event_type", "k", "m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("g"),
            F.sum("ad").cast("bigint").alias("s"),
        )
        .collect()
    )
    by_type: dict[str, dict[int, list]] = {}
    n = _PERIODOGRAM_N
    for r in sums:
        by_type.setdefault(r["event_type"], {}).setdefault(
            r["k"], []
        ).append((r["m"], r["g"], r["s"]))
    out = []
    for et in sorted(by_type):
        lks = {}
        for k in _HIGUCHI_KS:
            acc = None
            for m, g, s in sorted(by_type[et][k]):
                lm = float(s * (n - 1)) / float(g * k * k)
                acc = lm if acc is None else acc + lm
            lks[k] = acc / k
        sx = sy = sxy = sxx = None
        for k in _HIGUCHI_KS:
            x = math.log(float(k))
            y = math.log(lks[k])
            sx = x if sx is None else sx + x
            sy = y if sy is None else sy + y
            sxy = x * y if sxy is None else sxy + x * y
            sxx = x * x if sxx is None else sxx + x * x
        m4 = float(len(_HIGUCHI_KS))
        fd = -((m4 * sxy - sx * sy) / (m4 * sxx - sx * sx))
        for k in _HIGUCHI_KS:
            out.append((et, k, lks[k], fd))
    return spark.createDataFrame(
        out,
        "event_type string, k int, l_k double, higuchi_fd double",
    )


def _q_entropy_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Markov entropy rate of the per-user event-type process:
    H = −Σ_s π_s Σ_t P(s→t)·ln P(s→t) over the empirical transition
    matrix (q103's estimator summarized to the single
    bits-per-transition number that prices how predictable the
    clickstream is). Transition counts are exact integers from one
    lag window; the 25-cell table collects and BOTH entropy folds
    (within-row by to-type, across rows by from-type) run
    driver-side in lexicographic order, exactly as the oracle's
    nested ordered list_reduce replays them."""
    import math

    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    )
    cells: dict[str, dict[str, int]] = {}
    for r in tr:
        cells.setdefault(r["from_type"], {})[r["to_type"]] = r["c"]
    total = sum(sum(d.values()) for d in cells.values())
    rate = None
    rows = []
    for s in sorted(cells):
        n_s = sum(cells[s].values())
        h_row = None
        for t in sorted(cells[s]):
            p = cells[s][t] / n_s
            term = -(p * math.log(p))
            h_row = term if h_row is None else h_row + term
        pi = n_s / total
        rows.append((s, n_s, pi, h_row))
        contrib = pi * h_row
        rate = contrib if rate is None else rate + contrib
    return spark.createDataFrame(
        [(s, n, pi, h, rate) for s, n, pi, h in rows],
        "from_type string, n_from bigint, pi double, "
        "row_entropy double, entropy_rate double",
    )


def _spectral_entropy_sql() -> str:
    trig = _trig_table()
    vals = ",\n                ".join(
        f"({t}, {k}, {c:.17e}, {s:.17e})" for t, k, c, s in trig
    )
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
              AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ),
        idx AS (
          SELECT event_type,
            row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS t,
            (v + 50) // 100 AS x
          FROM daily
        ),
        base AS (
          SELECT * FROM idx WHERE t <= {_PERIODOGRAM_N}
        ),
        trig(t, k, c, s) AS (
          VALUES
                {vals}
        ),
        ck AS (
          SELECT b.event_type, tr.k,
            list_reduce(list(b.x * tr.c ORDER BY b.t),
              (a, b) -> a + b) AS cc,
            list_reduce(list(b.x * tr.s ORDER BY b.t),
              (a, b) -> a + b) AS ss
          FROM base b JOIN trig tr ON tr.t = b.t
          GROUP BY 1, 2
        ),
        pw AS (
          SELECT event_type, k, cc * cc + ss * ss AS power
          FROM ck
        ),
        tot AS (
          SELECT event_type,
            list_reduce(list(power ORDER BY k), (a, b) -> a + b)
              AS tot
          FROM pw GROUP BY 1
        ),
        ent AS (
          SELECT p.event_type,
            list_reduce(
              list(-((p.power / t.tot) * ln(p.power / t.tot))
                ORDER BY p.k),
              (a, b) -> a + b) AS h
          FROM pw p JOIN tot t USING (event_type)
          GROUP BY 1
        ),
        peak AS (
          SELECT event_type, k FROM (
            SELECT event_type, k,
              row_number() OVER (PARTITION BY event_type
                ORDER BY power DESC, k ASC) AS rn
            FROM pw
          ) WHERE rn = 1
        )
        SELECT e.event_type,
          e.h / ln(CAST(7 AS DOUBLE)) AS spec_entropy,
          CAST(p.k AS INT) AS peak_k,
          {_PERIODOGRAM_N} / p.k AS peak_period
        FROM ent e JOIN peak p USING (event_type)
    """


def _dfa_sql() -> str:
    sizes = ", ".join(str(s) for s in _DFA_SIZES)
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
              AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ),
        idx AS (
          SELECT event_type,
            row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS t,
            (v + 5000) // 10000 AS x
          FROM daily
        ),
        prof AS (
          SELECT event_type, t,
            CAST(count(*) OVER (PARTITION BY event_type)
              * sum(x) OVER (PARTITION BY event_type ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - t * sum(x) OVER (PARTITION BY event_type)
              AS BIGINT) AS p,
            CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
              AS n
          FROM idx
        ),
        sized AS (
          SELECT event_type, t, p, n,
            CAST(unnest([{sizes}]) AS BIGINT) AS s
          FROM prof
        ),
        boxed AS (
          SELECT event_type, s,
            CAST(ceil(t / s) AS BIGINT) AS b,
            CAST(t - (CAST(ceil(t / s) AS BIGINT) - 1) * s AS BIGINT)
              AS tt,
            p
          FROM sized WHERE t <= n - n % s
        ),
        moms AS (
          SELECT event_type, s, b,
            CAST(count(*) AS BIGINT) AS m,
            CAST(sum(tt) AS BIGINT) AS st,
            CAST(sum(tt * tt) AS BIGINT) AS stt,
            CAST(sum(p) AS BIGINT) AS sy,
            CAST(sum(p * p) AS BIGINT) AS syy,
            CAST(sum(tt * p) AS BIGINT) AS sty
          FROM boxed GROUP BY 1, 2, 3
        ),
        per_box AS (
          SELECT event_type, s,
            (m * stt - st * st) AS sxx,
            (m * stt - st * st) * (m * syy - sy * sy)
              - (m * sty - st * sy) * (m * sty - st * sy) AS num
          FROM moms
        ),
        per_s AS (
          SELECT event_type, s,
            CAST(count(*) AS BIGINT) AS n_boxes,
            CAST(sum(num) AS BIGINT) AS num_sum,
            CAST(max(sxx) AS BIGINT) AS sxx
          FROM per_box GROUP BY 1, 2
        ),
        fvals AS (
          SELECT event_type, s, n_boxes,
            sqrt(CAST(num_sum AS DOUBLE)
              / CAST(s * sxx * n_boxes AS DOUBLE)) AS f_s
          FROM per_s
        ),
        slopes AS (
          SELECT event_type,
            (4.0 * list_reduce(list(ln(CAST(s AS DOUBLE))
                  * ln(f_s) ORDER BY s), (a, b) -> a + b)
              - list_reduce(list(ln(CAST(s AS DOUBLE)) ORDER BY s),
                  (a, b) -> a + b)
                * list_reduce(list(ln(f_s) ORDER BY s),
                    (a, b) -> a + b))
            / (4.0 * list_reduce(list(ln(CAST(s AS DOUBLE))
                  * ln(CAST(s AS DOUBLE)) ORDER BY s),
                  (a, b) -> a + b)
              - list_reduce(list(ln(CAST(s AS DOUBLE)) ORDER BY s),
                  (a, b) -> a + b)
                * list_reduce(list(ln(CAST(s AS DOUBLE)) ORDER BY s),
                    (a, b) -> a + b)) AS alpha
          FROM fvals GROUP BY 1
        )
        SELECT f.event_type, CAST(f.s AS INT) AS s, f.n_boxes,
          f.f_s, sl.alpha
        FROM fvals f JOIN slopes sl USING (event_type)
    """


def _kendall_sql() -> str:
    pairs = sorted(itertools.combinations(sorted(EVENT_TYPES), 2))
    vsel = ",\n                ".join(
        f"max(CASE WHEN event_type = '{t}' THEN v END) AS v_{t}"
        for t in EVENT_TYPES
    )
    aggs = ["CAST(count(*) AS BIGINT) AS n0"]
    for x, y in pairs:
        dx = f"(a.v_{x} - b.v_{x})"
        dy = f"(a.v_{y} - b.v_{y})"
        aggs.append(
            f"CAST(sum(CASE WHEN {dx} > 0 AND {dy} > 0"
            f" OR {dx} < 0 AND {dy} < 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS c_{x}_{y}"
        )
        aggs.append(
            f"CAST(sum(CASE WHEN {dx} > 0 AND {dy} < 0"
            f" OR {dx} < 0 AND {dy} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS d_{x}_{y}"
        )
        aggs.append(
            f"CAST(sum(CASE WHEN {dx} = 0 THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS ta_{x}_{y}"
        )
        aggs.append(
            f"CAST(sum(CASE WHEN {dy} = 0 THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS tb_{x}_{y}"
        )
    structs = ",\n                ".join(
        "{'type_a': '%s', 'type_b': '%s', 'n0': n0,"
        " 'concordant': c_%s_%s, 'discordant': d_%s_%s,"
        " 'ties_a': ta_%s_%s, 'ties_b': tb_%s_%s}"
        % (x, y, x, y, x, y, x, y, x, y)
        for x, y in pairs
    )
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
              AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ),
        wide AS (
          SELECT day,
                {vsel}
          FROM daily GROUP BY day
        ),
        wrow AS (
          SELECT {', '.join(aggs)}
          FROM wide a JOIN wide b ON a.day < b.day
        ),
        ex AS (
          SELECT unnest([
                {structs}
          ]) AS s FROM wrow
        )
        SELECT s.type_a AS type_a, s.type_b AS type_b, s.n0 AS n0,
          s.concordant AS concordant, s.discordant AS discordant,
          s.ties_a AS ties_a, s.ties_b AS ties_b,
          CAST(s.concordant - s.discordant AS DOUBLE)
            / sqrt(CAST(s.n0 - s.ties_a AS DOUBLE)
                   * CAST(s.n0 - s.ties_b AS DOUBLE)) AS tau_b
        FROM ex
    """


def _cliffs_sql() -> str:
    pairs = sorted(itertools.combinations(sorted(EVENT_TYPES), 2))
    csel = ",\n                ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c_{t}"
        for t in EVENT_TYPES
    )
    cums = ",\n                ".join(
        f"CAST(coalesce(sum(c_{t}) OVER (ORDER BY v ROWS BETWEEN"
        f" UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
        f" AS cum_{t},\n                "
        f"CAST(sum(c_{t}) OVER () AS BIGINT) AS tot_{t}"
        for t in EVENT_TYPES
    )
    aggs = []
    for a, b in pairs:
        aggs.append(
            f"CAST(sum(c_{a} * cum_{b}) AS BIGINT) AS gt_{a}_{b}"
        )
        aggs.append(
            f"CAST(sum(c_{a} * (tot_{b} - cum_{b} - c_{b})) AS BIGINT)"
            f" AS lt_{a}_{b}"
        )
    for t in EVENT_TYPES:
        aggs.append(f"max(tot_{t}) AS n_{t}")
    structs = ",\n                ".join(
        "{'type_a': '%s', 'type_b': '%s', 'n_a': n_%s, 'n_b': n_%s,"
        " 'gt': gt_%s_%s, 'lt': lt_%s_%s}" % (a, b, a, b, a, b, a, b)
        for a, b in pairs
    )
    return f"""
        WITH cells AS (
          SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
                {csel}
          FROM events WHERE value IS NOT NULL GROUP BY 1
        ),
        run AS (
          SELECT v,
                {cums},
                * EXCLUDE (v)
          FROM cells
        ),
        wide AS (
          SELECT {', '.join(aggs)} FROM run
        ),
        ex AS (
          SELECT unnest([
                {structs}
          ]) AS s FROM wide
        )
        SELECT s.type_a AS type_a, s.type_b AS type_b,
          s.n_a AS n_a, s.n_b AS n_b, s.gt AS gt, s.lt AS lt,
          CAST(s.gt - s.lt AS DOUBLE)
            / CAST(s.n_a * s.n_b AS DOUBLE) AS delta
        FROM ex
    """


def _gini_stump_sql() -> str:
    langs = ["de", "en", "es", "fr", "zh"]
    csel = ",\n                ".join(
        f"CAST(sum(CASE WHEN lang = '{g}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c_{g}"
        for g in langs
    )
    cums = ",\n                ".join(
        f"CAST(sum(c_{g}) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED"
        f" PRECEDING AND CURRENT ROW) AS BIGINT) AS cl_{g},\n"
        f"                CAST(sum(c_{g}) OVER () AS BIGINT) AS tt_{g}"
        for g in langs
    )
    nl = " + ".join(f"cl_{g}" for g in langs)
    nr = " + ".join(f"(tt_{g} - cl_{g})" for g in langs)
    ssql = " + ".join(f"cl_{g} * cl_{g}" for g in langs)
    ssqr = " + ".join(
        f"(tt_{g} - cl_{g}) * (tt_{g} - cl_{g})" for g in langs
    )
    return f"""
        WITH cells AS (
          SELECT n_chars,
                {csel}
          FROM documents GROUP BY 1
        ),
        run AS (
          SELECT n_chars,
                {cums}
          FROM cells
        ),
        sides AS (
          SELECT n_chars AS threshold,
            CAST({nl} AS BIGINT) AS n_left,
            CAST({nr} AS BIGINT) AS n_right,
            CAST({ssql} AS BIGINT) AS ssq_left,
            CAST({ssqr} AS BIGINT) AS ssq_right
          FROM run
        )
        SELECT threshold, n_left, n_right, ssq_left, ssq_right,
          ((CAST(n_left AS DOUBLE)
              - CAST(ssq_left AS DOUBLE) / CAST(n_left AS DOUBLE))
           + (CAST(n_right AS DOUBLE)
              - CAST(ssq_right AS DOUBLE) / CAST(n_right AS DOUBLE)))
            / CAST(n_left + n_right AS DOUBLE) AS gini_weighted
        FROM sides WHERE n_right > 0
    """


register_many(
    {
        'q462_permutation_entropy': _q_permutation_entropy,
        'q463_cliffs_delta': _q_cliffs_delta,
        'q464_gini_stump': _q_gini_stump,
        'q465_ccf_lags': _q_ccf_lags,
        'q466_sample_entropy': _q_sample_entropy,
        'q467_source_overlap': _q_source_overlap,
        'q468_kendall_matrix': _q_kendall_matrix,
        'q469_haar_energy': _q_haar_energy,
        'q470_periodogram': _q_periodogram,
        'q471_hjorth': _q_hjorth,
        'q472_hill_tail': _q_hill_tail,
        'q473_mean_excess': _q_mean_excess,
        'q474_rfm_segments': _q_rfm_segments,
        'q475_nelson_aalen': _q_nelson_aalen,
        'q476_lz_complexity': _q_lz_complexity,
        'q477_spectral_entropy': _q_spectral_entropy,
        'q478_dfa_alpha': _q_dfa_alpha,
        'q479_higuchi_fd': _q_higuchi_fd,
        'q480_entropy_rate': _q_entropy_rate,
    },
    {
        'q477_spectral_entropy': _spectral_entropy_sql(),
        'q478_dfa_alpha': _dfa_sql(),
        # Twin of _q_higuchi_fd: identical stride join, two-cast
        # normalization, m-ordered mean fold and 4-point slope.
        'q479_higuchi_fd': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            idx AS (
              SELECT event_type,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY day) AS t,
                v AS x
              FROM daily
            ),
            strided AS (
              SELECT event_type, t AS tb, x AS xb,
                CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS k
              FROM idx
            ),
            j AS (
              SELECT a.event_type, b.k,
                ((a.t - 1) % b.k) + 1 AS m,
                abs(a.x - b.xb) AS ad
              FROM idx a
              JOIN strided b
                ON a.event_type = b.event_type
               AND a.t = b.tb + b.k
            ),
            sums AS (
              SELECT event_type, k, m,
                CAST(count(*) AS BIGINT) AS g,
                CAST(sum(ad) AS BIGINT) AS s
              FROM j GROUP BY 1, 2, 3
            ),
            lm AS (
              SELECT event_type, k, m,
                CAST(s * 29 AS DOUBLE) / CAST(g * k * k AS DOUBLE)
                  AS lm
              FROM sums
            ),
            lk AS (
              SELECT event_type, k,
                list_reduce(list(lm ORDER BY m), (a, b) -> a + b) / k
                  AS l_k
              FROM lm GROUP BY 1, 2
            ),
            slopes AS (
              SELECT event_type,
                -((4.0 * list_reduce(list(ln(CAST(k AS DOUBLE))
                      * ln(l_k) ORDER BY k), (a, b) -> a + b)
                  - list_reduce(list(ln(CAST(k AS DOUBLE))
                      ORDER BY k), (a, b) -> a + b)
                    * list_reduce(list(ln(l_k) ORDER BY k),
                        (a, b) -> a + b))
                / (4.0 * list_reduce(list(ln(CAST(k AS DOUBLE))
                      * ln(CAST(k AS DOUBLE)) ORDER BY k),
                      (a, b) -> a + b)
                  - list_reduce(list(ln(CAST(k AS DOUBLE))
                      ORDER BY k), (a, b) -> a + b)
                    * list_reduce(list(ln(CAST(k AS DOUBLE))
                        ORDER BY k), (a, b) -> a + b))) AS fd
              FROM lk GROUP BY 1
            )
            SELECT l.event_type, CAST(l.k AS INT) AS k, l.l_k,
              s.fd AS higuchi_fd
            FROM lk l JOIN slopes s USING (event_type)
        """,
        # Twin of _q_entropy_rate: nested ordered list_reduce folds
        # in lexicographic (from, to) order.
        'q480_entropy_rate': """
            WITH tr AS (
              SELECT
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS from_type,
                event_type AS to_type
              FROM events
            ),
            cnt AS (
              SELECT from_type, to_type,
                CAST(count(*) AS BIGINT) AS c
              FROM tr WHERE from_type IS NOT NULL GROUP BY 1, 2
            ),
            rowsum AS (
              SELECT from_type, CAST(sum(c) AS BIGINT) AS n_s
              FROM cnt GROUP BY 1
            ),
            tot AS (
              SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt
            ),
            hrow AS (
              SELECT c.from_type,
                list_reduce(
                  list(-((CAST(c.c AS DOUBLE) / CAST(r.n_s AS DOUBLE))
                    * ln(CAST(c.c AS DOUBLE) / CAST(r.n_s AS DOUBLE)))
                    ORDER BY c.to_type),
                  (a, b) -> a + b) AS h_row
              FROM cnt c JOIN rowsum r USING (from_type)
              GROUP BY 1
            ),
            base AS (
              SELECT r.from_type, r.n_s,
                CAST(r.n_s AS DOUBLE) / CAST(t.total AS DOUBLE)
                  AS pi,
                h.h_row
              FROM rowsum r, tot t, hrow h
              WHERE h.from_type = r.from_type
            ),
            rate AS (
              SELECT list_reduce(list(pi * h_row ORDER BY from_type),
                (a, b) -> a + b) AS rate
              FROM base
            )
            SELECT b.from_type, b.n_s AS n_from, b.pi,
              b.h_row AS row_entropy, rt.rate AS entropy_rate
            FROM base b, rate rt
        """,
        # Twin of _q_nelson_aalen: q400's recursive-CTE life-table
        # replay with Σ d/n instead of Π(1−d/n), plus exp(−H).
        'q475_nelson_aalen': """
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
                CAST(0.0 AS DOUBLE) AS h
              UNION ALL
              SELECT o.rn, r.n_next - (o.d + o.c),
                r.h + CAST(o.d AS DOUBLE) / CAST(r.n_next AS DOUBLE)
              FROM rec r JOIN ord o ON o.rn = r.rn + 1
            )
            SELECT o.dur AS duration, r0.n_next AS n_risk,
              o.d AS d_events, o.c AS c_censored, r.h AS cum_hazard,
              exp(-r.h) AS breslow_surv
            FROM ord o
            JOIN rec r ON r.rn = o.rn
            JOIN rec r0 ON r0.rn = o.rn - 1
        """,
        # Twin of _q_lz_complexity: identical parse via minimal-l
        # list_filter step (prototype-verified against the Python
        # fold on adversarial strings).
        'q476_lz_complexity': """
            WITH RECURSIVE daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            bits AS (
              SELECT event_type, day,
                CASE WHEN v > lag(v, 1) OVER (PARTITION BY event_type
                  ORDER BY day) THEN '1' ELSE '0' END AS ch,
                lag(v, 1) OVER (PARTITION BY event_type ORDER BY day)
                  AS prev
              FROM daily
            ),
            strs AS (
              SELECT event_type AS et,
                string_agg(ch, '' ORDER BY day) AS s
              FROM bits WHERE prev IS NOT NULL GROUP BY 1
            ),
            rec AS (
              SELECT et, 1 AS pos, 0 AS c FROM strs
              UNION ALL
              SELECT r.et,
                r.pos + coalesce(
                  list_filter(range(1, length(t.s) - r.pos + 2),
                    l -> strpos(substr(t.s, 1, r.pos + l - 2),
                                substr(t.s, r.pos, l)) = 0)[1],
                  length(t.s) - r.pos + 1) AS pos,
                r.c + 1 AS c
              FROM rec r JOIN strs t ON t.et = r.et
              WHERE r.pos <= length(t.s)
            ),
            fin AS (
              SELECT et, CAST(max(c) AS INT) AS n_phrases
              FROM rec GROUP BY 1
            )
            SELECT s.et AS event_type,
              CAST(length(s.s) AS INT) AS n_len,
              f.n_phrases,
              f.n_phrases * (ln(CAST(length(s.s) AS DOUBLE))
                / ln(2.0)) / CAST(length(s.s) AS DOUBLE) AS lz_norm
            FROM strs s JOIN fin f ON f.et = s.et
        """,
        # Twin of _q_hill_tail: same rank frame, ascending-rank
        # list_reduce of the ln terms, identical /k then 1/H chain.
        'q472_hill_tail': """
            WITH base AS (
              SELECT event_type, event_id,
                CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS v
              FROM events WHERE value IS NOT NULL
            ),
            ranked AS (
              SELECT event_type, v,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY v DESC, event_id) AS rnk
              FROM base
            ),
            top AS (
              SELECT * FROM ranked WHERE rnk <= 51
            ),
            xk AS (
              SELECT event_type,
                max(CASE WHEN rnk = 51 THEN v END) AS x_k1
              FROM top GROUP BY 1
            ),
            h AS (
              SELECT t.event_type,
                list_reduce(
                  list(ln(CAST(t.v AS DOUBLE) / CAST(x.x_k1 AS DOUBLE))
                    ORDER BY t.rnk),
                  (a, b) -> a + b) AS hsum
              FROM top t JOIN xk x USING (event_type)
              WHERE t.rnk <= 50
              GROUP BY 1
            )
            SELECT x.event_type, CAST(50 AS INT) AS k, x.x_k1,
              h.hsum / 50 AS hill_h, 1.0 / (h.hsum / 50) AS alpha
            FROM xk x JOIN h ON h.event_type = x.event_type
        """,
        # Twin of _q_haar_energy: identical dyadic pairing and
        # integer detail/approx recursion.
        'q469_haar_energy': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            base AS (
              SELECT event_type,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY day) AS i,
                (v + 50) // 100 AS x
              FROM daily
              QUALIFY i <= 24
            ),
            l1 AS (
              SELECT event_type, (i + 1) // 2 AS p,
                max(CASE WHEN i % 2 = 1 THEN x END)
                  - max(CASE WHEN i % 2 = 0 THEN x END) AS d,
                max(CASE WHEN i % 2 = 1 THEN x END)
                  + max(CASE WHEN i % 2 = 0 THEN x END) AS x
              FROM base GROUP BY 1, 2
            ),
            l2 AS (
              SELECT event_type, (p + 1) // 2 AS p,
                max(CASE WHEN p % 2 = 1 THEN x END)
                  - max(CASE WHEN p % 2 = 0 THEN x END) AS d,
                max(CASE WHEN p % 2 = 1 THEN x END)
                  + max(CASE WHEN p % 2 = 0 THEN x END) AS x
              FROM l1 GROUP BY 1, 2
            ),
            l3 AS (
              SELECT event_type, (p + 1) // 2 AS p,
                max(CASE WHEN p % 2 = 1 THEN x END)
                  - max(CASE WHEN p % 2 = 0 THEN x END) AS d,
                max(CASE WHEN p % 2 = 1 THEN x END)
                  + max(CASE WHEN p % 2 = 0 THEN x END) AS x
              FROM l2 GROUP BY 1, 2
            ),
            agg AS (
              SELECT b.event_type,
                (SELECT CAST(sum(x * x) AS BIGINT) FROM base
                  WHERE event_type = b.event_type) AS sum_sq,
                (SELECT CAST(sum(d * d) AS BIGINT) FROM l1
                  WHERE event_type = b.event_type) AS e1,
                (SELECT CAST(sum(d * d) AS BIGINT) FROM l2
                  WHERE event_type = b.event_type) AS e2,
                (SELECT CAST(sum(d * d) AS BIGINT) FROM l3
                  WHERE event_type = b.event_type) AS e3,
                (SELECT CAST(sum(x * x) AS BIGINT) FROM l3
                  WHERE event_type = b.event_type) AS ea
              FROM (SELECT DISTINCT event_type FROM base) b
            )
            SELECT event_type, sum_sq, e1, e2, e3, ea,
              CAST(e1 AS DOUBLE) / 2.0 / CAST(sum_sq AS DOUBLE)
                AS frac_l1,
              CAST(e2 AS DOUBLE) / 4.0 / CAST(sum_sq AS DOUBLE)
                AS frac_l2,
              CAST(e3 AS DOUBLE) / 8.0 / CAST(sum_sq AS DOUBLE)
                AS frac_l3
            FROM agg
        """,
        'q470_periodogram': _periodogram_sql(),
        'q473_mean_excess': _mean_excess_sql(),
        # Twin of _q_rfm_segments: identical total ntile orderings
        # and the same 6−bucket score flip.
        'q474_rfm_segments': """
            WITH per_user AS (
              SELECT user_id,
                date_diff('day', max(CAST(ts AS DATE)),
                  DATE '2024-01-31') AS recency_days,
                CAST(count(*) AS BIGINT) AS frequency,
                CAST(sum(COALESCE(
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT),
                  0)) AS BIGINT) AS monetary
              FROM events GROUP BY 1
            ),
            scored AS (
              SELECT user_id, monetary,
                6 - ntile(5) OVER (ORDER BY recency_days ASC,
                  user_id ASC) AS r_score,
                6 - ntile(5) OVER (ORDER BY frequency DESC,
                  user_id ASC) AS f_score,
                6 - ntile(5) OVER (ORDER BY monetary DESC,
                  user_id ASC) AS m_score
              FROM per_user
            )
            SELECT r_score, f_score, m_score,
              CAST(count(*) AS BIGINT) AS n_users,
              CAST(sum(monetary) AS BIGINT) AS monetary_cents,
              CAST(sum(monetary) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS avg_monetary
            FROM scored GROUP BY 1, 2, 3
        """,
        # Twin of _q_hjorth: identical moment casts and fixed-order
        # double chain.
        'q471_hjorth': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            d AS (
              SELECT event_type, v AS x,
                v - lag(v, 1) OVER (PARTITION BY event_type
                  ORDER BY day) AS dx,
                v - 2 * lag(v, 1) OVER (PARTITION BY event_type
                  ORDER BY day)
                  + lag(v, 2) OVER (PARTITION BY event_type
                    ORDER BY day) AS ddx
              FROM daily
            ),
            g AS (
              SELECT event_type,
                CAST(count(x) AS BIGINT) AS m_x,
                CAST(sum(x) AS BIGINT) AS s_x,
                CAST(sum(x * x) AS BIGINT) AS q_x,
                CAST(count(dx) AS BIGINT) AS m_dx,
                CAST(sum(dx) AS BIGINT) AS s_dx,
                CAST(sum(dx * dx) AS BIGINT) AS q_dx,
                CAST(count(ddx) AS BIGINT) AS m_ddx,
                CAST(sum(ddx) AS BIGINT) AS s_ddx,
                CAST(sum(ddx * ddx) AS BIGINT) AS q_ddx
              FROM d GROUP BY 1
            )
            SELECT event_type, m_x AS n_days,
              (CAST(m_x AS DOUBLE) * CAST(q_x AS DOUBLE)
                 - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
                / (CAST(m_x AS DOUBLE) * CAST(m_x AS DOUBLE))
                AS activity,
              sqrt(((CAST(m_dx AS DOUBLE) * CAST(q_dx AS DOUBLE)
                 - CAST(s_dx AS DOUBLE) * CAST(s_dx AS DOUBLE))
                / (CAST(m_dx AS DOUBLE) * CAST(m_dx AS DOUBLE)))
                / ((CAST(m_x AS DOUBLE) * CAST(q_x AS DOUBLE)
                 - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
                / (CAST(m_x AS DOUBLE) * CAST(m_x AS DOUBLE))))
                AS mobility,
              sqrt(((CAST(m_ddx AS DOUBLE) * CAST(q_ddx AS DOUBLE)
                 - CAST(s_ddx AS DOUBLE) * CAST(s_ddx AS DOUBLE))
                / (CAST(m_ddx AS DOUBLE) * CAST(m_ddx AS DOUBLE)))
                / ((CAST(m_dx AS DOUBLE) * CAST(q_dx AS DOUBLE)
                 - CAST(s_dx AS DOUBLE) * CAST(s_dx AS DOUBLE))
                / (CAST(m_dx AS DOUBLE) * CAST(m_dx AS DOUBLE))))
                / sqrt(((CAST(m_dx AS DOUBLE) * CAST(q_dx AS DOUBLE)
                 - CAST(s_dx AS DOUBLE) * CAST(s_dx AS DOUBLE))
                / (CAST(m_dx AS DOUBLE) * CAST(m_dx AS DOUBLE)))
                / ((CAST(m_x AS DOUBLE) * CAST(q_x AS DOUBLE)
                 - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
                / (CAST(m_x AS DOUBLE) * CAST(m_x AS DOUBLE))))
                AS complexity
            FROM g
        """,
        # Twin of _q_sample_entropy: same template set, integer
        # tolerance, and −ln(A/B) epilogue (DuckDB ln == libm).
        'q466_sample_entropy': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            emb0 AS (
              SELECT event_type,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY day) AS i,
                v AS v0,
                lead(v, 1) OVER (PARTITION BY event_type ORDER BY day)
                  AS v1,
                lead(v, 2) OVER (PARTITION BY event_type ORDER BY day)
                  AS v2,
                (max(v) OVER (PARTITION BY event_type)
                 - min(v) OVER (PARTITION BY event_type)) // 10
                  AS r_tol
              FROM daily
            ),
            emb AS (
              SELECT * FROM emb0 WHERE v2 IS NOT NULL
            ),
            cnt AS (
              SELECT a.event_type,
                CAST(max(a.r_tol) AS BIGINT) AS r_tol,
                CAST(sum(CASE WHEN abs(a.v0 - b.v0) <= a.r_tol
                  AND abs(a.v1 - b.v1) <= a.r_tol
                  THEN 1 ELSE 0 END) AS BIGINT) AS b_pairs,
                CAST(sum(CASE WHEN abs(a.v0 - b.v0) <= a.r_tol
                  AND abs(a.v1 - b.v1) <= a.r_tol
                  AND abs(a.v2 - b.v2) <= a.r_tol
                  THEN 1 ELSE 0 END) AS BIGINT) AS a_pairs
              FROM emb a
              JOIN emb b ON a.event_type = b.event_type AND a.i < b.i
              GROUP BY 1
            )
            SELECT event_type, r_tol, b_pairs, a_pairs,
              CASE WHEN a_pairs > 0 AND b_pairs > 0
                THEN -ln(CAST(a_pairs AS DOUBLE)
                         / CAST(b_pairs AS DOUBLE))
                ELSE NULL END AS sampen
            FROM cnt
        """,
        # Twin of _q_source_overlap: q460's shingle construction,
        # distinct sets, shared-shingle equi-join only.
        'q467_source_overlap': r"""
            WITH tk0 AS (
              SELECT source,
                list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '') AS tk
              FROM documents
            ),
            sets AS (
              SELECT DISTINCT source,
                unnest(list_transform(range(1, len(tk) - 3),
                  i -> array_to_string(list_slice(tk, i, i + 4), ' ')))
                  AS shingle
              FROM tk0 WHERE len(tk) >= 5
            ),
            sizes AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_sh
              FROM sets GROUP BY 1
            ),
            inter AS (
              SELECT a.source AS src_a, b.source AS src_b,
                CAST(count(*) AS BIGINT) AS n_inter
              FROM sets a
              JOIN sets b
                ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY 1, 2
            )
            SELECT i.src_a, i.src_b,
              sa.n_sh AS n_a, sb.n_sh AS n_b, i.n_inter,
              CAST(i.n_inter AS DOUBLE)
                / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)
                AS jaccard,
              CAST(i.n_inter AS DOUBLE)
                / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE)
                AS containment
            FROM inter i
            JOIN sizes sa ON sa.source = i.src_a
            JOIN sizes sb ON sb.source = i.src_b
        """,
        'q468_kendall_matrix': _kendall_sql(),
        # Twin of _q_permutation_entropy: identical embedding, tie
        # rule, and ascending-code list_reduce entropy fold.
        'q462_permutation_entropy': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            emb AS (
              SELECT event_type, v AS v0,
                lead(v, 1) OVER (PARTITION BY event_type ORDER BY day)
                  AS v1,
                lead(v, 2) OVER (PARTITION BY event_type ORDER BY day)
                  AS v2
              FROM daily
            ),
            coded AS (
              SELECT event_type,
                ((CASE WHEN v1 < v0 THEN 1 ELSE 0 END)
                 + (CASE WHEN v2 < v0 THEN 1 ELSE 0 END)) * 9
                + ((CASE WHEN v0 < v1 THEN 1 ELSE 0 END)
                   + (CASE WHEN v2 < v1 THEN 1 ELSE 0 END)
                   + (CASE WHEN v0 = v1 THEN 1 ELSE 0 END)) * 3
                + ((CASE WHEN v0 < v2 THEN 1 ELSE 0 END)
                   + (CASE WHEN v1 < v2 THEN 1 ELSE 0 END)
                   + (CASE WHEN v0 = v2 THEN 1 ELSE 0 END)
                   + (CASE WHEN v1 = v2 THEN 1 ELSE 0 END)) AS code
              FROM emb WHERE v2 IS NOT NULL
            ),
            cnt AS (
              SELECT event_type, code, CAST(count(*) AS BIGINT) AS c
              FROM coded GROUP BY 1, 2
            ),
            tot AS (
              SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
                CAST(count(*) AS BIGINT) AS np
              FROM cnt GROUP BY 1
            ),
            ent AS (
              SELECT cnt.event_type,
                list_reduce(
                  list(-(CAST(cnt.c AS DOUBLE) / CAST(t.n AS DOUBLE)
                    * ln(CAST(cnt.c AS DOUBLE) / CAST(t.n AS DOUBLE)))
                    ORDER BY cnt.code),
                  (a, b) -> a + b) AS h
              FROM cnt JOIN tot t USING (event_type)
              GROUP BY cnt.event_type
            )
            SELECT t.event_type, t.n AS n_windows, t.np AS n_patterns,
              e.h / ln(6.0) AS pe_norm
            FROM tot t JOIN ent e ON e.event_type = t.event_type
        """,
        'q463_cliffs_delta': _cliffs_sql(),
        'q464_gini_stump': _gini_stump_sql(),
        # Twin of _q_ccf_lags: dollar-rounded exact integer moments,
        # identical r identity per lag.
        'q465_ccf_lags': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            x AS (
              SELECT day, (v + 50) // 100 AS x FROM daily
              WHERE event_type = 'click'
            ),
            y AS (
              SELECT day, (v + 50) // 100 AS y FROM daily
              WHERE event_type = 'purchase'
            ),
            xl AS (
              SELECT CAST(unnest(range(-3, 4)) AS INT) AS lag, day, x
              FROM x
            ),
            j AS (
              SELECT xl.lag, xl.x, y.y
              FROM xl JOIN y ON y.day = xl.day + xl.lag
            ),
            mo AS (
              SELECT lag, CAST(count(*) AS BIGINT) AS m,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(y * y) AS BIGINT) AS syy,
                CAST(sum(x * y) AS BIGINT) AS sxy
              FROM j GROUP BY 1
            )
            SELECT lag, m AS n_days,
              CAST(m * sxy - sx * sy AS DOUBLE)
                / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                       * CAST(m * syy - sy * sy AS DOUBLE)) AS ccf
            FROM mo
        """,
    },
)
