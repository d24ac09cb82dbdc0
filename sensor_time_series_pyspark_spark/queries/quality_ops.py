"""Data-quality, calibration and ops-audit batch
(q408 .. q438).

Shared helpers are in queries/common.py; queries/registry.py raises
on duplicate query names."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import token_count, tokens
from sensor_time_series_pyspark_spark.operators.sampling import (
    _threshold_hex as _thr,
)
from sensor_time_series_pyspark_spark.queries.common import DEC, EVENT_TYPES
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_winsorized_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorized (p10/p90-clipped) and trimmed means of daily counts
    per event type — the robust center estimates that survive one
    crawler burst day (the mean q398 shrinks is still outlier-
    fragile; these are the outlier-PROOF companions). Clip bounds are
    percentile_disc TABLE VALUES, so clipped counts stay pure
    integers and both means are ONE division each. One fact scan, one
    broadcast bound join, one reduce."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bounds = daily.groupBy("event_type").agg(
        F.expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY n)").alias(
            "p10"
        ),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n)").alias(
            "p90"
        ),
    )
    j = daily.join(F.broadcast(bounds), "event_type")
    clipped = F.greatest(
        F.col("p10"), F.least(F.col("p90"), F.col("n"))
    )
    inside = (F.col("n") >= F.col("p10")) & (F.col("n") <= F.col("p90"))
    agg = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("p10").alias("p10"),
        F.max("p90").alias("p90"),
        F.sum(clipped).cast("bigint").alias("wsum"),
        F.sum(F.when(inside, F.col("n"))).cast("bigint").alias("tsum"),
        F.sum(F.when(inside, 1).otherwise(0)).cast("bigint").alias("tm"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "p10",
        "p90",
        (
            F.col("wsum").cast("double") / F.col("n_days").cast("double")
        ).alias("winsorized_mean"),
        (
            F.col("tsum").cast("double") / F.col("tm").cast("double")
        ).alias("trimmed_mean"),
        F.col("tm").alias("n_kept"),
    )


def _q_wilson_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Wilson 95% score interval for each event type's non-null-value
    rate — the binomial CI that behaves at the extremes where the
    Wald interval collapses (the right way to read q373's proportions
    when n is modest). Successes/trials are pure integers; the
    interval is a FIXED double expression (z = 1.96 literal, sqrt is
    IEEE-exact), written in the identical op order on both engines.
    One fact scan, one 5-row reduce."""
    ev = read_table(spark, sf, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("s"),
    )
    z = F.lit(1.96)
    z2 = z * z
    nd = F.col("n").cast("double")
    p = F.col("s").cast("double") / nd
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (2 * nd)) / denom
    half = (
        z
        * F.sqrt(p * (F.lit(1.0) - p) / nd + z2 / (4 * nd * nd))
        / denom
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_events"),
        p.alias("p_hat"),
        (center - half).alias("wilson_lo"),
        (center + half).alias("wilson_hi"),
    )


def _q_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch-flavored readability per source: words/sentence,
    vowel-group "syllables"/word, and the 206.835 − 1.015·wps −
    84.6·spw score — the classic text-quality screen a curation
    pipeline runs next to q108's Gopher rules. Sentence and syllable
    proxies are regexp_count with engine-portable character classes;
    all per-doc counts are integers summed exactly, with THREE double
    divisions and one literal-coefficient epilogue per source."""
    docs = read_table(spark, sf, "documents")
    per_doc = docs.select(
        "source",
        token_count("text").cast("bigint").alias("w"),
        F.regexp_count(F.col("text"), F.lit(r"[.!?]"))
        .cast("bigint")
        .alias("sent"),
        F.regexp_count(F.col("text"), F.lit(r"[aeiouAEIOU]+"))
        .cast("bigint")
        .alias("vg"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("words"),
        F.sum("sent").cast("bigint").alias("sentences"),
        F.sum("vg").cast("bigint").alias("vowel_groups"),
    )
    # a source whose docs carry no terminal punctuation (or no
    # tokens) gets NULL rather than a division error — ANSI-safe on
    # both engines
    wps = F.when(
        F.col("sentences") > 0,
        F.col("words").cast("double") / F.col("sentences").cast("double"),
    )
    spw = F.when(
        F.col("words") > 0,
        F.col("vowel_groups").cast("double") / F.col("words").cast("double"),
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        wps.alias("words_per_sentence"),
        spw.alias("syllables_per_word"),
        (
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
        ).alias("flesch_score"),
    )


def _q_source_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source 5-gram contamination screen: for every source
    pair, how many DISTINCT 5-token shingles they share — the
    benchmark-leakage audit run before any eval split is trusted
    (a train source sharing long n-grams with an eval source is
    contamination, not coincidence). The inverted shingle index joins
    only within shingle buckets (never all-pairs), sources are
    deduped per shingle first, and the top-20 pairs use the
    deterministic (count DESC, pair ASC) order. Pure integers."""
    docs = read_table(spark, sf, "documents")
    # size >= 5 guard: Spark's sequence(1, 0) DESCENDS instead of
    # returning empty, so short docs must be filtered, not clamped
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
    src_sh = sh.distinct()
    pairs = (
        src_sh.alias("a")
        .join(
            src_sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_shingles"))
    )
    return (
        pairs.orderBy(
            F.col("shared_shingles").desc(),
            F.col("source_a").asc(),
            F.col("source_b").asc(),
        )
        .limit(20)
    )


def _q_heaps_law(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-token vocabulary
    and cumulative token count after ingesting the first 10%, 20%, …
    100% of docs (by doc_id) — the convergence read a crawl operator
    uses to decide "is new data still adding vocabulary". The trick
    that keeps it ONE pass: vocabulary at threshold k is the count of
    tokens whose FIRST-occurrence doc_id ≤ k, so a token-grain
    min(doc_id) frame and a doc-grain token-count frame are unioned
    and 10 conditional sums read the whole curve off one reduce —
    no per-threshold rescans, no crossJoin. Integers end-to-end."""
    docs = read_table(spark, sf, "documents")
    occ = docs.select(
        F.col("doc_id").cast("bigint").alias("did"),
        token_count("text").cast("bigint").alias("wt"),
        F.lit("occ").alias("kind"),
    )
    voc = (
        docs.select(
            F.col("doc_id").cast("bigint").alias("did"),
            F.explode(tokens("text")).alias("t"),
        )
        .groupBy("t")
        .agg(F.min("did").alias("did"))
        .select("did", F.lit(1).cast("bigint").alias("wt"),
                F.lit("voc").alias("kind"))
    )
    u = occ.unionByName(voc)
    # max(doc_id) is ONE scalar: collect it (tiny pushed-down agg on
    # the doc-grain frame) and inline as a literal, instead of a
    # global window that would single-partition the token-vocab-scale
    # union frame at 100 TB
    maxd = docs.agg(F.max(F.col("doc_id").cast("bigint"))).collect()[0][0]
    wide = u.groupBy().agg(
        F.lit(maxd).cast("bigint").alias("maxd"),
        *[
            F.sum(
                F.when(
                    (F.col("kind") == k)
                    & (10 * F.col("did") <= p * maxd),
                    F.col("wt"),
                ).otherwise(0)
            ).cast("bigint").alias(f"{k[0]}{p}")
            for p in range(1, 11)
            for k in ("voc", "occ")
        ],
    )
    rows = [
        F.struct(
            F.lit(p * 10).cast("int").alias("pct_docs"),
            F.col(f"o{p}").alias("tokens_seen"),
            F.col(f"v{p}").alias("vocab_size"),
        )
        for p in range(1, 11)
    ]
    return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def _q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level 3-gram novelty per source: the share of each
    source's shingle OCCURRENCES whose shingle appears exactly once
    in the whole corpus — high novelty = original text, low =
    boilerplate/templates (the n-gram flavor of q399's Good–Turing
    hapax mass, but cross-source so copy-paste between sources is
    penalized). Occurrence counts and the global-hapax flag are pure
    integers; ONE division per source."""
    docs = read_table(spark, sf, "documents")
    sh = (
        docs.withColumn("__toks", tokens("text"))
        .where(F.size("__toks") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__toks) - 2),"
                    " i -> concat_ws(' ', slice(__toks, i, 3)))"
                )
            ).alias("shingle"),
        )
    )
    per_cell = sh.groupBy("source", "shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wsh = Window.partitionBy("shingle")
    flagged = per_cell.withColumn(
        "g", F.sum("c").over(wsh).cast("bigint")
    )
    agg = flagged.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_shingles"),
        F.sum(F.when(F.col("g") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
    )
    return agg.select(
        "source",
        "n_shingles",
        "n_hapax",
        (
            F.col("n_hapax").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )


def _q_hour_chisq(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day χ² decomposition per event type: each (type, hour)
    cell's contribution to the independence χ² against the global
    hourly profile — WHICH hours make a type's daily rhythm deviate
    (q142 shows the profile; this scores it). The numerator
    (o·G − n_t·g_h)² and denominator G·n_t·g_h are exact integers via
    the common-denominator trick (expected counts never materialize
    as floats), one division per cell, and per-cell rows mean NO
    cross-cell float accumulation at all. Margins ride three windows
    on the 120-row cell frame."""
    ev = read_table(spark, sf, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    wt = Window.partitionBy("event_type")
    wh = Window.partitionBy("hod")
    wg = Window.partitionBy(F.lit(1))
    m = cells.select(
        "event_type",
        "hod",
        "o",
        F.sum("o").over(wt).cast("bigint").alias("nt"),
        F.sum("o").over(wh).cast("bigint").alias("gh"),
        F.sum("o").over(wg).cast("bigint").alias("gg"),
    )
    num = (
        F.col("o") * F.col("gg") - F.col("nt") * F.col("gh")
    ).cast("decimal(19,0)")
    den = (
        F.col("gg").cast("decimal(19,0)")
        * (F.col("nt") * F.col("gh")).cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    return m.select(
        "event_type",
        "hod",
        F.col("o").alias("observed"),
        (
            (F.col("nt") * F.col("gh")).cast("double")
            / F.col("gg").cast("double")
        ).alias("expected"),
        ((num * num).cast("double") / den.cast("double")).alias(
            "chi2_contrib"
        ),
    )


def _q_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-law fit over the corpus's top-50 token frequencies:
    log-log OLS slope and intercept of count ~ rank — the one-number
    "is this corpus natural-language-shaped" screen (natural text
    slopes ≈ −1; templated or synthetic text flattens). The top-50
    rank table is deterministic ((count DESC, token ASC) ties), the
    four OLS moments fold over ln(rank)/ln(count) DRIVER-SIDE in
    Python libm in rank order (q395's ln discipline — 50 rows, never
    data-scale), and the oracle replays the identical ordered folds
    with DuckDB's list_reduce."""
    import math

    docs = read_table(spark, sf, "documents")
    top = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("t").asc()))
            .cast("bigint")
            .alias("rk"),
        )
        .where(F.col("rk") <= 50)
        .collect()
    )
    rows = sorted(top, key=lambda r: r["rk"])
    n = len(rows)
    sx = sy = sxy = sx2 = None
    for r in rows:
        x = math.log(float(r["rk"]))
        y = math.log(float(r["c"]))
        sx = x if sx is None else sx + x
        sy = y if sy is None else sy + y
        sxy = x * y if sxy is None else sxy + x * y
        sx2 = x * x if sx2 is None else sx2 + x * x
    nd = float(n)
    slope = (nd * sxy - sx * sy) / (nd * sx2 - sx * sx)
    intercept = (sy - slope * sx) / nd
    return spark.createDataFrame(
        [(n, slope, intercept)],
        "n_ranks bigint, zipf_slope double, zipf_intercept double",
    )


def _q_audience_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Audience-overlap matrix: user-set Jaccard for every event-type
    pair — do clickers also purchase, or are the populations disjoint
    (the segmentation read behind every cross-sell plan; q375's
    Tanimoto scores per-USER similarity, this scores per-SEGMENT
    overlap)? Distinct (user, type) pairs self-join only on the user
    key (never all-pairs), degrees ride one aggregate, and jaccard =
    c/(da+db−c) is integer counts + ONE division."""
    ev = read_table(spark, sf, "events")
    ut = ev.select("event_type", "user_id").distinct()
    deg = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    pairs = (
        ut.alias("a")
        .join(
            ut.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_users"))
    )
    da = deg.select(
        F.col("event_type").alias("type_a"), F.col("d").alias("da")
    )
    db = deg.select(
        F.col("event_type").alias("type_b"), F.col("d").alias("db")
    )
    return (
        pairs.join(F.broadcast(da), "type_a")
        .join(F.broadcast(db), "type_b")
        .select(
            "type_a",
            "type_b",
            "common_users",
            (
                F.col("common_users").cast("double")
                / (
                    F.col("da") + F.col("db") - F.col("common_users")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


def _q_slew_alarm(spark: SparkSession, sf: str) -> DataFrame:
    """Slew-rate (rate-of-change) alarm census per event type: the
    share of consecutive same-user readings whose |Δvalue|/Δt exceeds
    50.00 units/second — the instrumentation-health check a sensor
    fleet runs for spikes the absolute-value limits (q51) never see.
    The comparison is CROSS-MULTIPLIED (|Δ¢|·10⁶ > 5000·Δt_µs), so no
    rate ever materializes as a float: pure integer arithmetic, with
    Δt = 0 pairs flagged iff Δv ≠ 0 (infinite slew, documented). One
    fact scan, one user-partitioned lag, one reduce."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("t"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "t", "event_id"
    )
    lagged = base.select(
        "event_type",
        (F.col("v") - F.lag("v").over(w)).alias("dv"),
        (F.col("t") - F.lag("t").over(w)).alias("dt"),
    ).where(F.col("dv").isNotNull())
    viol = F.when(
        F.abs(F.col("dv")) * 1000000 > 5000 * F.col("dt"), 1
    ).otherwise(0)
    agg = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(viol).cast("bigint").alias("n_violations"),
    )
    return agg.select(
        "event_type",
        "n_pairs",
        "n_violations",
        (
            F.col("n_violations").cast("double")
            / F.col("n_pairs").cast("double")
        ).alias("violation_rate"),
    )


def _q_twa(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average value per event type (trapezoidal
    integration over irregular sample times) — THE correct "average
    reading" for unevenly-sampled sensors, where the arithmetic mean
    over-weights bursts (the reference's resample-then-mean
    approximates this; the trapezoid is exact). Each term
    (v_i+v_{i+1})·Δt_µs is a pure integer in cent-microseconds,
    summed exactly in decimal(38,0); ONE double division by
    (2·span·100) converts back to value units. Order ties break on
    event_id (the q141 documented-tiebreak discipline)."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("t"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("t", "event_id")
    paired = base.select(
        "event_type",
        "t",
        "v",
        F.lead("v").over(w).alias("vn"),
        F.lead("t").over(w).alias("tn"),
    )
    term = (F.col("v") + F.col("vn")) * (F.col("tn") - F.col("t"))
    agg = paired.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum(term.cast("decimal(38,0)")).alias("num"),
        (F.max("t") - F.min("t")).cast("bigint").alias("span"),
    )
    return agg.select(
        "event_type",
        "n_points",
        (
            F.col("num").cast("double")
            / (2 * F.col("span") * 100).cast("double")
        ).alias("twa_value"),
    )


def _q_gap_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Feed-outage audit per event type: inter-arrival gaps vs the
    median cadence — how many gaps ran longer than 2× the typical
    spacing, and how much total time sat inside them (the "was the
    pipeline down" readout next to q109's NULL runs). Gaps are exact
    integer microseconds, the median is a percentile_disc TABLE
    VALUE, and the 2× threshold stays integer — counts and downtime
    are pure integers; no epilogue."""
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
    meds = gaps.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)"
        ).cast("bigint").alias("med")
    )
    j = gaps.join(F.broadcast(meds), "event_type")
    is_long = F.col("gap") > 2 * F.col("med")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.max("med").alias("med_gap_us"),
        F.sum(F.when(is_long, 1).otherwise(0))
        .cast("bigint")
        .alias("n_long"),
        F.sum(F.when(is_long, F.col("gap")).otherwise(0))
        .cast("bigint")
        .alias("downtime_us"),
    )


def _q_bucket_availability(spark: SparkSession, sf: str) -> DataFrame:
    """30-minute-bucket availability per event type: the share of the
    calendar's 1440 half-hour slots (30 days × 48) with at least one
    reading — the uptime SLO number (q419's gap audit measures HOW
    LONG outages ran; this scores coverage against the fixed
    calendar). Bucketing reuses q11's unix_micros div 1.8e9
    convention; distinct buckets are integers and the rate is ONE
    division by the literal 1440."""
    ev = read_table(spark, sf, "events")
    b = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 1800000000").alias("bucket"),
    ).distinct()
    agg = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets")
    )
    return agg.select(
        "event_type",
        "n_buckets",
        (F.col("n_buckets").cast("double") / F.lit(1440.0)).alias(
            "availability"
        ),
    )


def _q_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability-diagram bins for a hash-scored purchase model: the
    md5 'score' is uniform by construction, so a CALIBRATED readout
    must show every decile's observed purchase rate ≈ the base rate —
    the harness that catches a miscalibrated scorer the moment one
    bin drifts (same md5-threshold machinery as q125's A/B arms,
    widened to 10 bins). Bin membership is 9 string comparisons
    against literal hex thresholds; counts are integers and the
    observed rate is ONE division per bin."""
    ev = read_table(spark, sf, "events")
    sc = F.substring(
        F.md5(F.concat(F.lit("cal"), F.col("event_id").cast("string"))),
        1,
        8,
    )
    bin_col = sum(
        (
            F.when(sc > _thr(k / 10), 1).otherwise(0)
            for k in range(1, 10)
        ),
        F.lit(0),
    ).alias("bin")
    base = ev.select(
        bin_col,
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    agg = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    return agg.select(
        F.col("bin").cast("int").alias("bin"),
        "n_events",
        "n_pos",
        ((F.col("bin").cast("double") + 0.5) / F.lit(10.0)).alias(
            "bin_mid"
        ),
        (
            F.col("n_pos").cast("double") / F.col("n_events").cast("double")
        ).alias("obs_rate"),
    )


def _q_value_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-sum (Mann–Whitney) ROC-AUC of `value` as a purchase
    classifier: P(score_pos > score_neg) with exact midrank tie
    handling — the model-eval primitive every offline scorer reports.
    Doubled average ranks (q391's trick) keep the rank sum a PURE
    INTEGER even under heavy ties, so AUC = (ΣR₂⁺ − n₊(n₊+1)) /
    (2·n₊·n₋) is integer arithmetic with ONE division. The fact
    reduces to the VALUE-GRAIN frame first (never a row-grain global
    rank window): with C_v = rows below v, every tied row's doubled
    midrank is 2·C_v + n_v + 1, so ΣR₂⁺ = Σ pos_v·(2C_v + n_v + 1)
    comes off one bounded cumulative window + one reduce."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    base = ev.select(
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    grains = base.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("nv"),
        F.sum("y").cast("bigint").alias("posv"),
    )
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_c = grains.select(
        "nv",
        "posv",
        (F.sum("nv").over(wcum) - F.col("nv")).cast("bigint").alias("cv"),
    )
    agg = with_c.agg(
        F.sum("posv").cast("bigint").alias("np"),
        F.sum(F.col("nv") - F.col("posv")).cast("bigint").alias("nn"),
        F.sum(
            F.col("posv") * (2 * F.col("cv") + F.col("nv") + 1)
        ).cast("bigint").alias("sr2p"),
    )
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        (
            (F.col("sr2p") - F.col("np") * (F.col("np") + 1)).cast("double")
            / (2 * F.col("np") * F.col("nn")).cast("double")
        ).alias("auc"),
    )


def _q_event_gains_table(spark: SparkSession, sf: str) -> DataFrame:
    """Decile gains table (cumulative lift) for `value` as a purchase
    score: events sorted score-DESC, cut into 10 equal-count bins,
    with each prefix's purchase concentration over the base rate —
    the campaign-targeting readout ("top 20% of scores captures X%
    of buyers"). The decile cut ((rn−1)·10 div N) and all counts are
    integers; lift = cum_pos·N/(cum_n·P) is ONE division of integer
    products. Ties break on event_id so the cut is deterministic on
    every engine."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    base = ev.select(
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    wall = Window.partitionBy(F.lit(1))
    cut = base.select(
        "y",
        F.expr(
            "(cast(row_number() over (order by v desc, event_id asc)"
            " as bigint) - 1) * 10"
        ).alias("rn10"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("ntot"),
    ).select(
        "y",
        "ntot",
        F.expr("rn10 div ntot").cast("int").alias("decile"),
    )
    per = cut.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.max("ntot").alias("ntot"),
    )
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wp = Window.partitionBy(F.lit(1))
    cum = per.select(
        "decile",
        "n_events",
        "n_pos",
        "ntot",
        F.sum("n_events").over(wd).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(wd).cast("bigint").alias("cum_pos"),
        F.sum("n_pos").over(wp).cast("bigint").alias("ptot"),
    )
    return cum.select(
        "decile",
        "n_events",
        "n_pos",
        "cum_pos",
        (
            (F.col("cum_pos") * F.col("ntot")).cast("double")
            / (F.col("cum_n") * F.col("ptot")).cast("double")
        ).alias("cum_lift"),
    )


def _q_seasonal_mk(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal Mann–Kendall trend test per event type: the MK
    statistic computed WITHIN each day-of-week stratum and summed —
    the monotone-trend test that a weekly cycle cannot fool (plain MK,
    q191, reads the weekend dip as trend noise; Hirsch–Slack strata
    remove it). S is a pure integer pairwise sign sum over ≤⌈days/7⌉-
    row strata (the self-join is stratum-bounded, never cross-day at
    scale), the tie-corrected variance keeps its /18 as an exact
    integer numerator, and Z = (S∓1)/√(num/18) is a fixed two-op
    double epilogue."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    strat = daily.select(
        "event_type",
        F.dayofweek("d").cast("int").alias("dow"),
        "d",
        "n",
    )
    a = strat.alias("a")
    b = strat.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.dow") == F.col("b.dow"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.signum(
            (F.col("b.n") - F.col("a.n")).cast("double")
        ).cast("bigint").alias("sgn"),
    )
    s_stat = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("bigint").alias("s")
    )
    # variance: sum over strata of [m(m-1)(2m+5) - sum_t t(t-1)(2t+5)]
    # where t are tie-group sizes within the stratum
    ties = strat.groupBy("event_type", "dow", "n").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    var_num = ties.groupBy("event_type", "dow").agg(
        F.sum("t").cast("bigint").alias("m"),
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).cast("bigint").alias("tie_term"),
    ).select(
        "event_type",
        (
            F.col("m") * (F.col("m") - 1) * (2 * F.col("m") + 5)
            - F.col("tie_term")
        ).alias("vn"),
    ).groupBy("event_type").agg(
        F.sum("vn").cast("bigint").alias("var_num")
    )
    j = s_stat.join(var_num, "event_type")
    cont = F.when(F.col("s") > 0, F.col("s") - 1).when(
        F.col("s") < 0, F.col("s") + 1
    ).otherwise(F.lit(0))
    return j.select(
        "event_type",
        F.col("s").alias("s_stat"),
        "var_num",
        F.when(
            F.col("var_num") > 0,
            cont.cast("double")
            / F.sqrt(F.col("var_num").cast("double") / F.lit(18.0)),
        ).alias("z_stat"),
    )


def _q_partial_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Partial correlation of click vs purchase daily counts
    CONTROLLING for view volume: r_xy·z = (r_xy − r_xz·r_yz) /
    (√(1−r_xz²)·√(1−r_yz²)) — does the click→purchase link survive
    once overall traffic is held fixed, or was q188's raw correlation
    just both series riding the same tide? Every pairwise r comes
    from exact integer hat-moments (m·Σab − ΣaΣb); the epilogue is a
    fixed sequence of double products/sqrts written identically on
    both engines. One day-grain pivot, one reduce, one row."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wide = daily.groupBy("d").pivot(
        "event_type", ["click", "purchase", "view"]
    ).agg(F.max("n")).select(
        F.col("click").alias("x"),
        F.col("purchase").alias("y"),
        F.col("view").alias("z"),
    ).where(
        F.col("x").isNotNull()
        & F.col("y").isNotNull()
        & F.col("z").isNotNull()
    )
    agg = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("bigint").alias("syz"),
    )
    def _hat(ab: str, a: str, b: str) -> F.Column:
        return (
            F.col("m") * F.col(ab) - F.col(a) * F.col(b)
        ).cast("decimal(38,0)")

    hxy = _hat("sxy", "sx", "sy")
    hxz = _hat("sxz", "sx", "sz")
    hyz = _hat("syz", "sy", "sz")
    hxx = _hat("sxx", "sx", "sx")
    hyy = _hat("syy", "sy", "sy")
    hzz = _hat("szz", "sz", "sz")
    rxy = hxy.cast("double") / (
        F.sqrt(hxx.cast("double")) * F.sqrt(hyy.cast("double"))
    )
    rxz = hxz.cast("double") / (
        F.sqrt(hxx.cast("double")) * F.sqrt(hzz.cast("double"))
    )
    ryz = hyz.cast("double") / (
        F.sqrt(hyy.cast("double")) * F.sqrt(hzz.cast("double"))
    )
    return agg.select(
        F.col("m").alias("n_days"),
        rxy.alias("r_xy"),
        (
            (rxy - rxz * ryz)
            / (
                F.sqrt(F.lit(1.0) - rxz * rxz)
                * F.sqrt(F.lit(1.0) - ryz * ryz)
            )
        ).alias("r_xy_given_z"),
    )


def _q_hampel_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Hampel filter outlier days per event type: a day is flagged
    when its count sits more than 3 MADs from the ±3-day rolling
    MEDIAN — the robust despiking filter sensor pipelines run where a
    rolling-mean z-score (q50) would let one spike inflate its own
    threshold. Both the rolling median and the MAD are percentile_disc
    TABLE VALUES over integer counts, so the flag decision
    |n − med| > 3·MAD is pure integer arithmetic. Two neighbor joins
    keyed on event_type (day-grain frames — never fact-scale)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    c = daily.select(
        "event_type", F.col("d").alias("cd"), F.col("n").alias("cn")
    )
    nb = c.join(daily, "event_type").where(
        (F.col("d") >= F.date_sub(F.col("cd"), 3))
        & (F.col("d") <= F.date_add(F.col("cd"), 3))
    )
    med = nb.groupBy("event_type", "cd", "cn").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("med")
    )
    nb2 = nb.join(med.select("event_type", "cd", "med"),
                  ["event_type", "cd"])
    mad = nb2.groupBy("event_type", "cd").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(n - med))"
        ).cast("bigint").alias("mad")
    )
    j = med.join(mad, ["event_type", "cd"])
    return j.where(
        F.abs(F.col("cn") - F.col("med")) > 3 * F.col("mad")
    ).select(
        "event_type",
        F.col("cd").alias("d"),
        F.col("cn").alias("n"),
        "med",
        "mad",
    )


def _q_fold_cv(spark: SparkSession, sf: str) -> DataFrame:
    """5-fold cross-validation stability of the mean event value: md5
    folds (q125's machinery), per-fold exact decimal sums, then the
    mean-of-means and across-fold variance folded over the FIXED fold
    vocabulary 0..4 in literal order — the "is my metric stable or am
    I reading noise" harness every offline eval needs before trusting
    a point estimate. Integers/decimals distributed; a fixed 5-term
    double epilogue."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    sc = F.substring(
        F.md5(F.concat(F.lit("fold"), F.col("event_id").cast("string"))),
        1,
        8,
    )
    fold = sum(
        (F.when(sc > _thr(k / 5), 1).otherwise(0) for k in range(1, 5)),
        F.lit(0),
    ).alias("fold")
    per = ev.select(
        fold, F.col("value").cast("decimal(18,2)").alias("v")
    ).groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("v").cast(DEC)).cast("decimal(28,2)").alias("s"),
    )
    wide = per.groupBy().pivot("fold", list(range(5))).agg(
        F.max(F.struct("s", "n"))
    )
    mus = [
        F.col(f"{k}.s").cast("double") / F.col(f"{k}.n").cast("double")
        for k in range(5)
    ]
    msum = mus[0]
    for m in mus[1:]:
        msum = msum + m
    mbar = msum / F.lit(5.0)
    devs = [(m - mbar) * (m - mbar) for m in mus]
    dsum = devs[0]
    for dv in devs[1:]:
        dsum = dsum + dv
    return wide.select(
        F.lit(5).cast("int").alias("n_folds"),
        mbar.alias("mean_of_fold_means"),
        (dsum / F.lit(4.0)).alias("var_of_fold_means"),
    )


def _q_rev_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Largest-remainder allocation of each order's header total
    across its lineitems proportional to extended price — the exact
    penny-splitting algorithm financial pipelines need (floor division
    leaves T − Σ⌊T·eᵢ/E⌋ cents; the lines with the largest remainders
    T·eᵢ mod E each get one, ties broken by line number). Everything
    is integer cents; the audit columns prove Σalloc == header for
    every order. Per-order windows partition on the natural key — the
    co-partitioned layout every TPC-H-shaped warehouse buckets for.
    First 20 orders by key keep the output stable."""
    o = read_table(spark, sf, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("t"),
    )
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("e"),
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    wo = Window.partitionBy("l_orderkey")
    base = j.select(
        "l_orderkey",
        "l_linenumber",
        "t",
        "e",
        F.sum("e").over(wo).cast("bigint").alias("ee"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "t",
        F.expr("t * e div ee").cast("bigint").alias("fl"),
        (F.col("t") * F.col("e") % F.col("ee")).cast("bigint").alias("r"),
    )
    wrk = Window.partitionBy("l_orderkey").orderBy(
        F.col("r").desc(), F.col("l_linenumber").asc()
    )
    alloc = base.select(
        "l_orderkey",
        "t",
        "fl",
        F.row_number().over(wrk).cast("bigint").alias("rk"),
        (F.col("t") - F.sum("fl").over(wo)).cast("bigint").alias("rem"),
    ).select(
        "l_orderkey",
        "t",
        (
            F.col("fl") + F.when(F.col("rk") <= F.col("rem"), 1).otherwise(0)
        ).cast("bigint").alias("alloc"),
        F.when(F.col("rk") <= F.col("rem"), 1).otherwise(0).alias("bumped"),
    )
    per_order = alloc.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.max("t").alias("header_cents"),
        F.sum("alloc").cast("bigint").alias("allocated_cents"),
        F.sum("bumped").cast("bigint").alias("bumped_lines"),
    )
    return per_order.orderBy(F.col("l_orderkey").asc()).limit(20)


def _q_logrank(spark: SparkSession, sf: str) -> DataFrame:
    """Log-rank test between the md5 A/B arms' time-to-next-purchase
    survival curves — THE two-sample censored-data test (q400 draws
    one curve; this decides whether two differ): U = Σ(d_A −
    d·n_A/n), V = Σ d·(n_A/n)(1−n_A/n)(n−d)/(n−1) over the ordered
    distinct-duration life table, χ² = U²/V. The table is
    group-cardinality (≤ 30 rows), collected, and folded driver-side
    in duration order; the oracle replays the identical IEEE op
    sequence in a recursive CTE carrying (n_A, n_B, U, V) — the q400
    discipline with two risk sets."""
    ev = read_table(spark, sf, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("lr"), F.col("user_id").cast("string"))),
            1,
            8,
        )
        < _thr(0.5),
        "a",
    ).otherwise("b")
    pur = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            arm.alias("arm"),
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("pd"),
        )
        .distinct()
    )
    wu = Window.partitionBy("user_id", "arm").orderBy("pd")
    nxt = F.lead("pd").over(wu)
    spans = pur.select(
        "arm",
        F.when(
            nxt.isNotNull(), F.datediff(nxt, F.col("pd"))
        ).otherwise(
            F.datediff(F.lit("2024-01-30").cast("date"), F.col("pd"))
        ).cast("int").alias("dur"),
        F.when(nxt.isNotNull(), 1).otherwise(0).alias("obs"),
    )
    steps = spans.groupBy("dur").agg(
        F.sum(F.when(F.col("arm") == "a", F.col("obs")).otherwise(0))
        .cast("bigint")
        .alias("da"),
        F.sum(
            F.when(F.col("arm") == "a", 1 - F.col("obs")).otherwise(0)
        ).cast("bigint").alias("ca"),
        F.sum(F.when(F.col("arm") == "b", F.col("obs")).otherwise(0))
        .cast("bigint")
        .alias("db"),
        F.sum(
            F.when(F.col("arm") == "b", 1 - F.col("obs")).otherwise(0)
        ).cast("bigint").alias("cb"),
    ).collect()
    steps = sorted(steps, key=lambda r: r["dur"])
    na = sum(r["da"] + r["ca"] for r in steps)
    nb = sum(r["db"] + r["cb"] for r in steps)
    u = 0.0
    v = 0.0
    n_used = 0
    for r in steps:
        d = r["da"] + r["db"]
        n = na + nb
        if d > 0 and n > 1:
            u = u + (r["da"] - d * na / n)
            v = v + (
                d * (na / n) * (1.0 - na / n) * (n - d) / (n - 1)
            )
            n_used += 1
        na -= r["da"] + r["ca"]
        nb -= r["db"] + r["cb"]
    chi2 = u * u / v if v > 0 else None
    return spark.createDataFrame(
        [(n_used, u, v, chi2)],
        "n_steps int, u_stat double, v_stat double, "
        "logrank_chi2 double",
    )


def _q_mde(spark: SparkSession, sf: str) -> DataFrame:
    """Minimum detectable effect of the per-user total-value metric at
    the CURRENT sample size (α=0.05 two-sided, 80% power): MDE =
    (1.96+0.8416)·√(2s²/n̄) — the pre-experiment power readout that
    stops underpowered A/B tests before they run (pairs with q372's
    post-hoc Welch t). The pooled per-user variance comes from exact
    scale-2 decimal moments (q372's mechanism); the epilogue is a
    fixed literal-coefficient double expression. One fact reduce, one
    row."""
    ev = read_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast(DEC)).cast("decimal(18,2)").alias("total")
    ).where(F.col("total").isNotNull())
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("total").alias("s1"),
        F.sum(F.col("total") * F.col("total")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = (
        nd * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (F.col("n") * (F.col("n") - 1)).cast("double")
    half_n = nd / F.lit(2.0)
    mde = F.lit(1.96 + 0.8416) * F.sqrt(
        F.lit(2.0) * var / half_n
    )
    return mom.select(
        F.col("n").alias("n_users"),
        mean.alias("metric_mean"),
        var.alias("metric_var"),
        mde.alias("mde_abs"),
        (mde / mean).alias("mde_rel"),
    )


def _q_ece(spark: SparkSession, sf: str) -> DataFrame:
    """Expected calibration error over q421's md5-decile bins:
    Σ (n_b/N)·|obs_b − mid_b| — the ONE number a reliability diagram
    rolls up to, and the metric calibration papers report. Bin counts
    are integers; the 10 weighted-gap terms fold in literal bin order
    (empty bins contribute exactly 0 on both engines). One scan, one
    10-row reduce, one row out."""
    ev = read_table(spark, sf, "events")
    sc = F.substring(
        F.md5(F.concat(F.lit("cal"), F.col("event_id").cast("string"))),
        1,
        8,
    )
    bin_col = sum(
        (
            F.when(sc > _thr(k / 10), 1).otherwise(0)
            for k in range(1, 10)
        ),
        F.lit(0),
    ).alias("bin")
    base = ev.select(
        bin_col,
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    agg = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("y").cast("bigint").alias("pb"),
    )
    wide = agg.groupBy().pivot("bin", list(range(10))).agg(
        F.max(F.struct("nb", "pb"))
    )
    nn = sum(
        (F.coalesce(F.col(f"{b}.nb"), F.lit(0)) for b in range(10)),
        F.lit(0),
    ).cast("bigint")
    terms = []
    for b in range(10):
        nb = F.col(f"{b}.nb")
        obs = F.col(f"{b}.pb").cast("double") / nb.cast("double")
        mid = F.lit((b + 0.5) / 10.0)
        terms.append(
            F.when(
                nb.isNotNull(),
                (nb.cast("double") / nn.cast("double"))
                * F.abs(obs - mid),
            ).otherwise(F.lit(0.0))
        )
    ece = terms[0]
    for t in terms[1:]:
        ece = ece + t
    return wide.select(nn.alias("n_events"), ece.alias("ece"))


def _q_cohen_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's κ agreement between two deterministic event detectors
    (value > 50 vs morning-hour) — chance-corrected agreement, the
    pairwise sibling of q387's three-detector Cochran Q and the
    standard annotator-consistency readout for labeling pipelines.
    The confusion cells and both marginal products are exact
    integers; p_o, p_e, and κ = (p_o − p_e)/(1 − p_e) are three
    divisions in a fixed order."""
    ev = read_table(spark, sf, "events")
    d1 = F.when(
        F.col("value").isNotNull()
        & (F.col("value").cast("decimal(18,2)") > F.lit("50.00").cast(
            "decimal(18,2)"
        )),
        1,
    ).otherwise(0)
    d2 = F.when(F.hour("ts") < 12, 1).otherwise(0)
    agg = ev.select(d1.alias("a"), d2.alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)
        ).cast("bigint").alias("n11"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)
        ).cast("bigint").alias("n10"),
        F.sum(
            F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)
        ).cast("bigint").alias("n01"),
        F.sum(
            F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0)
        ).cast("bigint").alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n").cast(
        "double"
    )
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ).cast("double") / (F.col("n") * F.col("n")).cast("double")
    return agg.select(
        F.col("n").alias("n_events"),
        po.alias("p_observed"),
        pe.alias("p_expected"),
        ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def _q_mcc(spark: SparkSession, sf: str) -> DataFrame:
    """Confusion-matrix metrics for the value>50 detector predicting
    purchases: precision, recall, F1, and the Matthews correlation
    coefficient — the imbalanced-data-safe summary (MCC stays honest
    when 80% accuracy means 'predicted nothing'). Confusion cells are
    integers; MCC's radicand is ONE decimal(38) product of four
    marginals (HUGEINT in the oracle), so the epilogue is one sqrt +
    four divisions in fixed order."""
    ev = read_table(spark, sf, "events")
    pred = F.when(
        F.col("value").isNotNull()
        & (F.col("value").cast("decimal(18,2)") > F.lit("50.00").cast(
            "decimal(18,2)"
        )),
        1,
    ).otherwise(0)
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    agg = ev.select(pred.alias("p"), y.alias("y")).agg(
        F.sum(
            F.when((F.col("p") == 1) & (F.col("y") == 1), 1).otherwise(0)
        ).cast("bigint").alias("tp"),
        F.sum(
            F.when((F.col("p") == 1) & (F.col("y") == 0), 1).otherwise(0)
        ).cast("bigint").alias("fp"),
        F.sum(
            F.when((F.col("p") == 0) & (F.col("y") == 1), 1).otherwise(0)
        ).cast("bigint").alias("fn"),
        F.sum(
            F.when((F.col("p") == 0) & (F.col("y") == 0), 1).otherwise(0)
        ).cast("bigint").alias("tn"),
    )
    prec = F.col("tp").cast("double") / (
        F.col("tp") + F.col("fp")
    ).cast("double")
    rec = F.col("tp").cast("double") / (
        F.col("tp") + F.col("fn")
    ).cast("double")
    f1 = F.lit(2.0) * prec * rec / (prec + rec)
    d19 = "decimal(19,0)"
    rad = (
        (F.col("tp") + F.col("fp")).cast(d19)
        * (F.col("tp") + F.col("fn")).cast(d19)
        * (F.col("tn") + F.col("fp")).cast(d19)
        * (F.col("tn") + F.col("fn")).cast(d19)
    ).cast("decimal(38,0)")
    num = (
        F.col("tp").cast(d19) * F.col("tn").cast(d19)
        - F.col("fp").cast(d19) * F.col("fn").cast(d19)
    ).cast("decimal(38,0)")
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
        (num.cast("double") / F.sqrt(rad.cast("double"))).alias("mcc"),
    )


def _q_jsd(spark: SparkSession, sf: str) -> DataFrame:
    """Jensen–Shannon divergence between the first-half and
    second-half event-type mixes — the bounded, symmetric drift
    metric (PSI q395 diverges on empty bins; JSD never exceeds ln 2),
    the standard corpus-vs-corpus distance in dataset curation. The
    two 5-cell count vectors reduce distributed; the ln epilogue
    folds DRIVER-SIDE in Python libm over the literal EVENT_TYPES
    order (q395's discipline), exactly as the oracle writes its
    terms."""
    import math

    ev = read_table(spark, sf, "events")
    half = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    cells = ev.groupBy("event_type").agg(
        F.sum(F.when(half, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(half, 0).otherwise(1)).cast("bigint").alias("c2"),
    ).collect()
    by_t = {r["event_type"]: (r["c1"], r["c2"]) for r in cells}
    n1 = sum(v[0] for v in by_t.values())
    n2 = sum(v[1] for v in by_t.values())
    klp = None
    klq = None
    for t in EVENT_TYPES:
        c1, c2 = by_t.get(t, (0, 0))
        p = c1 / n1
        q = c2 / n2
        m = (p + q) / 2.0
        tp = p * math.log(p / m) if p > 0 else 0.0
        tq = q * math.log(q / m) if q > 0 else 0.0
        klp = tp if klp is None else klp + tp
        klq = tq if klq is None else klq + tq
    jsd = 0.5 * klp + 0.5 * klq
    return spark.createDataFrame(
        [(n1, n2, jsd)],
        "n_first bigint, n_second bigint, jsd double",
    )


def _q_staleness(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type data-freshness audit: the distribution of per-user
    last-seen age at the corpus horizon (p50/p90/max microseconds
    stale) — the "how cold is my fleet" readout an ingestion SLO is
    written against. Ages are exact integer µs from the fixed horizon
    literal; percentiles are percentile_disc TABLE VALUES. One fact
    reduce to (type, user) grain, one percentile reduce."""
    ev = read_table(spark, sf, "events")
    horizon = F.lit("2024-01-31").cast("timestamp")
    last = ev.groupBy("event_type", "user_id").agg(
        F.max(F.unix_micros(F.col("ts"))).cast("bigint").alias("t_last")
    )
    age = last.select(
        "event_type",
        (F.unix_micros(horizon) - F.col("t_last")).alias("age"),
    )
    return age.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY age)")
        .cast("bigint")
        .alias("p50_age_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY age)")
        .cast("bigint")
        .alias("p90_age_us"),
        F.max("age").cast("bigint").alias("max_age_us"),
    )


def _q_throughput_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type 30-minute throughput distribution: p50/p90/max events
    per bucket — the capacity-planning companion to q420 (that scores
    WHETHER slots were covered; this scores HOW HARD the hot ones
    ran, which is what you provision for). Buckets reuse q11's
    unix_micros div 1.8e9 convention; counts are integers and the
    percentiles are percentile_disc table values."""
    ev = read_table(spark, sf, "events")
    b = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 1800000000").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("p50_per_bucket"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("p90_per_bucket"),
        F.max("n").cast("bigint").alias("max_per_bucket"),
    )


def _q_ramp_extremes(spark: SparkSession, sf: str) -> DataFrame:
    """Steepest day-over-day ramp up and down per event type — the
    biggest single-day jump and drop, with the day each landed on
    (deterministic earliest-day tiebreak): the incident-review
    question "when did it spike" answered exactly. Deltas are pure
    integers; the two argmaxes are window top-1s on the day-grain
    frame."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    delta = daily.select(
        "event_type",
        "d",
        (F.col("n") - F.lag("n").over(wt)).alias("dn"),
    ).where(F.col("dn").isNotNull())
    wup = Window.partitionBy("event_type").orderBy(
        F.col("dn").desc(), F.col("d").asc()
    )
    wdn = Window.partitionBy("event_type").orderBy(
        F.col("dn").asc(), F.col("d").asc()
    )
    up = delta.withColumn("rk", F.row_number().over(wup)).where(
        F.col("rk") == 1
    ).select(
        "event_type",
        F.col("dn").alias("max_ramp_up"),
        F.col("d").alias("ramp_up_day"),
    )
    dn = delta.withColumn("rk", F.row_number().over(wdn)).where(
        F.col("rk") == 1
    ).select(
        "event_type",
        F.col("dn").alias("max_ramp_down"),
        F.col("d").alias("ramp_down_day"),
    )
    return up.join(dn, "event_type")


register_many(
    {
        'q408_winsorized_mean': _q_winsorized_daily,
        'q409_wilson_interval': _q_wilson_interval,
        'q410_readability': _q_readability,
        'q411_contamination': _q_source_contamination,
        'q412_heaps_law': _q_heaps_law,
        'q413_ngram_novelty': _q_ngram_novelty,
        'q414_hour_chisq': _q_hour_chisq,
        'q415_zipf_fit': _q_zipf_fit,
        'q416_audience_overlap': _q_audience_overlap,
        'q417_slew_alarm': _q_slew_alarm,
        'q418_twa': _q_twa,
        'q419_gap_audit': _q_gap_audit,
        'q420_availability': _q_bucket_availability,
        'q421_calibration_bins': _q_calibration_bins,
        'q422_auc': _q_value_auc,
        'q423_gains_table': _q_event_gains_table,
        'q424_seasonal_mk': _q_seasonal_mk,
        'q425_partial_corr': _q_partial_corr,
        'q426_hampel_outliers': _q_hampel_outliers,
        'q427_fold_cv': _q_fold_cv,
        'q429_rev_allocation': _q_rev_allocation,
        'q430_logrank': _q_logrank,
        'q431_mde': _q_mde,
        'q432_ece': _q_ece,
        'q433_cohen_kappa': _q_cohen_kappa,
        'q434_mcc': _q_mcc,
        'q435_jsd': _q_jsd,
        'q436_staleness': _q_staleness,
        'q437_throughput_percentiles': _q_throughput_percentiles,
        'q438_ramp_extremes': _q_ramp_extremes,
    },
    {
        'q408_winsorized_mean': """
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            bounds AS (
              SELECT event_type,
                percentile_disc(0.1) WITHIN GROUP (ORDER BY n) AS p10,
                percentile_disc(0.9) WITHIN GROUP (ORDER BY n) AS p90
              FROM daily GROUP BY event_type
            ),
            j AS (
              SELECT d.event_type, d.n, b.p10, b.p90,
                greatest(b.p10, least(b.p90, d.n)) AS clipped,
                d.n >= b.p10 AND d.n <= b.p90 AS inside
              FROM daily d JOIN bounds b USING (event_type)
            ),
            agg AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_days,
                CAST(max(p10) AS BIGINT) AS p10,
                CAST(max(p90) AS BIGINT) AS p90,
                CAST(sum(clipped) AS BIGINT) AS wsum,
                CAST(sum(CASE WHEN inside THEN n END) AS BIGINT)
                  AS tsum,
                CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END)
                  AS BIGINT) AS tm
              FROM j GROUP BY event_type
            )
            SELECT event_type, n_days, p10, p90,
              CAST(wsum AS DOUBLE) / CAST(n_days AS DOUBLE)
                AS winsorized_mean,
              CAST(tsum AS DOUBLE) / CAST(tm AS DOUBLE)
                AS trimmed_mean,
              tm AS n_kept
            FROM agg
        """,
        'q409_wilson_interval': """
            WITH agg AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0
                  END) AS BIGINT) AS s
              FROM events GROUP BY event_type
            ),
            e AS (
              SELECT event_type, n,
                CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE) AS denom,
                CAST(n AS DOUBLE) AS nd
              FROM agg
            ),
            f AS (
              SELECT event_type, n, p,
                (p + (1.96 * 1.96) / (2 * nd)) / denom AS center,
                1.96 * sqrt(p * (1.0 - p) / nd
                  + (1.96 * 1.96) / (4 * nd * nd)) / denom AS half
              FROM e
            )
            SELECT event_type, n AS n_events, p AS p_hat,
              center - half AS wilson_lo,
              center + half AS wilson_hi
            FROM f
        """,
        'q410_readability': r"""
            WITH per_doc AS (
              SELECT source,
                CAST(len(list_filter(
                  string_split_regex(trim(text), '\s+'),
                  x -> x <> '')) AS BIGINT) AS w,
                CAST(len(regexp_extract_all(text, '[.!?]'))
                  AS BIGINT) AS sent,
                CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+'))
                  AS BIGINT) AS vg
              FROM documents
            ),
            agg AS (
              SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(w) AS BIGINT) AS words,
                CAST(sum(sent) AS BIGINT) AS sentences,
                CAST(sum(vg) AS BIGINT) AS vowel_groups
              FROM per_doc GROUP BY source
            )
            SELECT source, n_docs, words, sentences,
              CASE WHEN sentences > 0 THEN
                CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)
              END AS words_per_sentence,
              CASE WHEN words > 0 THEN
                CAST(vowel_groups AS DOUBLE) / CAST(words AS DOUBLE)
              END AS syllables_per_word,
              206.835
                - 1.015 * (CASE WHEN sentences > 0 THEN
                    CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)
                  END)
                - 84.6 * (CASE WHEN words > 0 THEN
                    CAST(vowel_groups AS DOUBLE) / CAST(words AS DOUBLE)
                  END) AS flesch_score
            FROM agg
        """,
        'q411_contamination': r"""
            WITH toks AS (
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
              FROM toks WHERE len(tk) >= 5
            ),
            ss AS (SELECT DISTINCT source, shingle FROM sh),
            pairs AS (
              SELECT a.source AS source_a, b.source AS source_b,
                CAST(count(*) AS BIGINT) AS shared_shingles
              FROM ss a JOIN ss b
                ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY 1, 2
            )
            SELECT source_a, source_b, shared_shingles FROM pairs
            ORDER BY shared_shingles DESC, source_a ASC, source_b ASC
            LIMIT 20
        """,
        'q412_heaps_law': r"""
            WITH toks AS (
              SELECT CAST(doc_id AS BIGINT) AS did,
                list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '') AS tk
              FROM documents
            ),
            occ AS (
              SELECT did, CAST(len(tk) AS BIGINT) AS wt,
                'occ' AS kind
              FROM toks
            ),
            voc AS (
              SELECT CAST(min(did) AS BIGINT) AS did,
                CAST(1 AS BIGINT) AS wt, 'voc' AS kind
              FROM (SELECT did, unnest(tk) AS t FROM toks)
              GROUP BY t
            ),
            u AS (
              SELECT * FROM occ UNION ALL SELECT * FROM voc
            ),
            w AS (
              SELECT kind, wt, did, max(did) OVER () AS md FROM u
            ),
            wide AS (
              SELECT CAST(max(md) AS BIGINT) AS maxd,
                """ + ", ".join(
                    f"CAST(sum(CASE WHEN kind = '{k}' AND 10 * did <= {p} * md THEN wt ELSE 0 END) AS BIGINT) AS {k[0]}{p}"
                    for p in range(1, 11)
                    for k in ("voc", "occ")
                ) + """
              FROM w
            )
            """ + " UNION ALL ".join(
                f"SELECT CAST({p * 10} AS INT) AS pct_docs, o{p} AS tokens_seen, v{p} AS vocab_size FROM wide"
                for p in range(1, 11)
            ) + """
        """,
        'q413_ngram_novelty': r"""
            WITH toks AS (
              SELECT source,
                list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '') AS tk
              FROM documents
            ),
            sh AS (
              SELECT source,
                unnest(list_transform(range(1, len(tk) - 1),
                  i -> array_to_string(list_slice(tk, i, i + 2), ' ')))
                  AS shingle
              FROM toks WHERE len(tk) >= 3
            ),
            pc AS (
              SELECT source, shingle, CAST(count(*) AS BIGINT) AS c
              FROM sh GROUP BY 1, 2
            ),
            fl AS (
              SELECT source, c,
                CAST(sum(c) OVER (PARTITION BY shingle) AS BIGINT)
                  AS g
              FROM pc
            ),
            agg AS (
              SELECT source,
                CAST(sum(c) AS BIGINT) AS n_shingles,
                CAST(sum(CASE WHEN g = 1 THEN c ELSE 0 END)
                  AS BIGINT) AS n_hapax
              FROM fl GROUP BY source
            )
            SELECT source, n_shingles, n_hapax,
              CAST(n_hapax AS DOUBLE) / CAST(n_shingles AS DOUBLE)
                AS novelty
            FROM agg
        """,
        'q414_hour_chisq': """
            WITH cells AS (
              SELECT event_type, CAST(hour(ts) AS INT) AS hod,
                CAST(count(*) AS BIGINT) AS o
              FROM events GROUP BY 1, 2
            ),
            m AS (
              SELECT event_type, hod, o,
                CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT)
                  AS nt,
                CAST(sum(o) OVER (PARTITION BY hod) AS BIGINT) AS gh,
                CAST(sum(o) OVER () AS BIGINT) AS gg
              FROM cells
            )
            SELECT event_type, hod, o AS observed,
              CAST(nt * gh AS DOUBLE) / CAST(gg AS DOUBLE)
                AS expected,
              CAST(CAST(o * gg - nt * gh AS HUGEINT)
                  * CAST(o * gg - nt * gh AS HUGEINT) AS DOUBLE)
                / CAST(CAST(gg AS HUGEINT)
                  * CAST(nt * gh AS HUGEINT) AS DOUBLE)
                AS chi2_contrib
            FROM m
        """,
        'q415_zipf_fit': r"""
            WITH tok AS (
              SELECT unnest(list_filter(
                string_split_regex(trim(text), '\s+'),
                x -> x <> '')) AS t
              FROM documents
            ),
            tc AS (
              SELECT t, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY t
            ),
            top AS (
              SELECT c, rk FROM (
                SELECT c, CAST(row_number() OVER (
                  ORDER BY c DESC, t ASC) AS BIGINT) AS rk
                FROM tc
              ) WHERE rk <= 50
            ),
            mom AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                list_reduce(list(ln(CAST(rk AS DOUBLE))
                  ORDER BY rk), (a, b) -> a + b) AS sx,
                list_reduce(list(ln(CAST(c AS DOUBLE))
                  ORDER BY rk), (a, b) -> a + b) AS sy,
                list_reduce(list(ln(CAST(rk AS DOUBLE))
                  * ln(CAST(c AS DOUBLE))
                  ORDER BY rk), (a, b) -> a + b) AS sxy,
                list_reduce(list(ln(CAST(rk AS DOUBLE))
                  * ln(CAST(rk AS DOUBLE))
                  ORDER BY rk), (a, b) -> a + b) AS sx2
              FROM top
            )
            SELECT n AS n_ranks,
              (CAST(n AS DOUBLE) * sxy - sx * sy)
                / (CAST(n AS DOUBLE) * sx2 - sx * sx) AS zipf_slope,
              (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sx2 - sx * sx) * sx)
                / CAST(n AS DOUBLE) AS zipf_intercept
            FROM mom
        """,
        'q416_audience_overlap': """
            WITH ut AS (
              SELECT DISTINCT event_type, user_id FROM events
            ),
            deg AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS d
              FROM ut GROUP BY 1
            ),
            pairs AS (
              SELECT a.event_type AS type_a, b.event_type AS type_b,
                CAST(count(*) AS BIGINT) AS common_users
              FROM ut a JOIN ut b
                ON a.user_id = b.user_id
                AND a.event_type < b.event_type
              GROUP BY 1, 2
            )
            SELECT p.type_a, p.type_b, p.common_users,
              CAST(p.common_users AS DOUBLE)
                / CAST(da.d + db.d - p.common_users AS DOUBLE)
                AS jaccard
            FROM pairs p
            JOIN deg da ON da.event_type = p.type_a
            JOIN deg db ON db.event_type = p.type_b
        """,
        'q417_slew_alarm': """
            WITH base AS (
              SELECT event_type, user_id, event_id,
                epoch_us(ts) AS t,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS v
              FROM events WHERE value IS NOT NULL
            ),
            lagged AS (
              SELECT event_type,
                v - lag(v) OVER w AS dv,
                t - lag(t) OVER w AS dt
              FROM base
              WINDOW w AS (
                PARTITION BY event_type, user_id
                ORDER BY t, event_id)
            ),
            agg AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(CASE WHEN abs(dv) * 1000000 > 5000 * dt
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
              FROM lagged WHERE dv IS NOT NULL GROUP BY event_type
            )
            SELECT event_type, n_pairs, n_violations,
              CAST(n_violations AS DOUBLE) / CAST(n_pairs AS DOUBLE)
                AS violation_rate
            FROM agg
        """,
        'q418_twa': """
            WITH base AS (
              SELECT event_type, event_id, epoch_us(ts) AS t,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS v
              FROM events WHERE value IS NOT NULL
            ),
            paired AS (
              SELECT event_type, t, v,
                lead(v) OVER w AS vn,
                lead(t) OVER w AS tn
              FROM base
              WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id)
            ),
            agg AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_points,
                sum(CAST((v + vn) * (tn - t) AS HUGEINT)) AS num,
                CAST(max(t) - min(t) AS BIGINT) AS span
              FROM paired GROUP BY event_type
            )
            SELECT event_type, n_points,
              CAST(num AS DOUBLE) / CAST(2 * span * 100 AS DOUBLE)
                AS twa_value
            FROM agg
        """,
        'q419_gap_audit': """
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
            ),
            g2 AS (SELECT * FROM gaps WHERE gap IS NOT NULL),
            meds AS (
              SELECT event_type,
                CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)
                  AS BIGINT) AS med
              FROM g2 GROUP BY event_type
            )
            SELECT g.event_type,
              CAST(count(*) AS BIGINT) AS n_gaps,
              CAST(max(m.med) AS BIGINT) AS med_gap_us,
              CAST(sum(CASE WHEN g.gap > 2 * m.med THEN 1 ELSE 0 END)
                AS BIGINT) AS n_long,
              CAST(sum(CASE WHEN g.gap > 2 * m.med THEN g.gap
                ELSE 0 END) AS BIGINT) AS downtime_us
            FROM g2 g JOIN meds m USING (event_type)
            GROUP BY g.event_type
        """,
        'q420_availability': """
            WITH b AS (
              SELECT DISTINCT event_type,
                epoch_us(ts) // 1800000000 AS bucket
              FROM events
            ),
            agg AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_buckets
              FROM b GROUP BY event_type
            )
            SELECT event_type, n_buckets,
              CAST(n_buckets AS DOUBLE) / 1440.0 AS availability
            FROM agg
        """,
        'q421_calibration_bins': f"""
            WITH base AS (
              SELECT
                {" + ".join(f"(CASE WHEN substring(md5('cal' || CAST(event_id AS VARCHAR)), 1, 8) > '{_thr(k / 10)}' THEN 1 ELSE 0 END)" for k in range(1, 10))}
                  AS bin,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  AS y
              FROM events
            ),
            agg AS (
              SELECT bin, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(y) AS BIGINT) AS n_pos
              FROM base GROUP BY bin
            )
            SELECT CAST(bin AS INT) AS bin, n_events, n_pos,
              (CAST(bin AS DOUBLE) + 0.5) / 10.0 AS bin_mid,
              CAST(n_pos AS DOUBLE) / CAST(n_events AS DOUBLE)
                AS obs_rate
            FROM agg
        """,
        'q422_auc': """
            WITH base AS (
              SELECT
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS v,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  AS y
              FROM events WHERE value IS NOT NULL
            ),
            ranked AS (
              SELECT y,
                CAST(2 * rank() OVER (ORDER BY v)
                  + count(*) OVER (PARTITION BY v) - 1 AS BIGINT)
                  AS r2
              FROM base
            ),
            agg AS (
              SELECT CAST(sum(y) AS BIGINT) AS np,
                CAST(sum(1 - y) AS BIGINT) AS nn,
                CAST(sum(CASE WHEN y = 1 THEN r2 ELSE 0 END)
                  AS BIGINT) AS sr2p
              FROM ranked
            )
            SELECT np AS n_pos, nn AS n_neg,
              CAST(sr2p - np * (np + 1) AS DOUBLE)
                / CAST(2 * np * nn AS DOUBLE) AS auc
            FROM agg
        """,
        'q423_gains_table': """
            WITH base AS (
              SELECT event_id,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS v,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  AS y
              FROM events WHERE value IS NOT NULL
            ),
            cut AS (
              SELECT y, ntot,
                CAST(rn10 // ntot AS INT) AS decile
              FROM (
                SELECT y,
                  (CAST(row_number() OVER (
                    ORDER BY v DESC, event_id ASC) AS BIGINT) - 1)
                    * 10 AS rn10,
                  CAST(count(*) OVER () AS BIGINT) AS ntot
                FROM base
              )
            ),
            per AS (
              SELECT decile,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(y) AS BIGINT) AS n_pos,
                CAST(max(ntot) AS BIGINT) AS ntot
              FROM cut GROUP BY decile
            ),
            cum AS (
              SELECT decile, n_events, n_pos, ntot,
                CAST(sum(n_events) OVER (ORDER BY decile
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                CAST(sum(n_pos) OVER (ORDER BY decile
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
                CAST(sum(n_pos) OVER () AS BIGINT) AS ptot
              FROM per
            )
            SELECT decile, n_events, n_pos, cum_pos,
              CAST(cum_pos * ntot AS DOUBLE)
                / CAST(cum_n * ptot AS DOUBLE) AS cum_lift
            FROM cum
        """,
        'q424_seasonal_mk': """
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            strat AS (
              SELECT event_type,
                CAST(dayofweek(d) + 1 AS INT) AS dow, d, n
              FROM daily
            ),
            pairs AS (
              SELECT a.event_type AS event_type,
                CAST(sign(CAST(b.n - a.n AS DOUBLE)) AS BIGINT)
                  AS sgn
              FROM strat a JOIN strat b
                ON a.event_type = b.event_type
                AND a.dow = b.dow AND a.d < b.d
            ),
            s_stat AS (
              SELECT event_type, CAST(sum(sgn) AS BIGINT) AS s
              FROM pairs GROUP BY event_type
            ),
            ties AS (
              SELECT event_type, dow, n,
                CAST(count(*) AS BIGINT) AS t
              FROM strat GROUP BY 1, 2, 3
            ),
            per_stratum AS (
              SELECT event_type, dow,
                CAST(sum(t) AS BIGINT) AS m,
                CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                  AS tie_term
              FROM ties GROUP BY 1, 2
            ),
            var_num AS (
              SELECT event_type,
                CAST(sum(m * (m - 1) * (2 * m + 5) - tie_term)
                  AS BIGINT) AS var_num
              FROM per_stratum GROUP BY event_type
            )
            SELECT s.event_type, s.s AS s_stat, v.var_num,
              CASE WHEN v.var_num > 0 THEN
                CAST(CASE WHEN s.s > 0 THEN s.s - 1
                          WHEN s.s < 0 THEN s.s + 1
                          ELSE 0 END AS DOUBLE)
                  / sqrt(CAST(v.var_num AS DOUBLE) / 18.0)
              END AS z_stat
            FROM s_stat s JOIN var_num v USING (event_type)
        """,
        'q425_partial_corr': """
            WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                event_type, CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            wide AS (
              SELECT d,
                max(CASE WHEN event_type = 'click' THEN n END) AS x,
                max(CASE WHEN event_type = 'purchase' THEN n END)
                  AS y,
                max(CASE WHEN event_type = 'view' THEN n END) AS z
              FROM daily GROUP BY d
            ),
            f AS (
              SELECT * FROM wide
              WHERE x IS NOT NULL AND y IS NOT NULL
                AND z IS NOT NULL
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(z) AS BIGINT) AS sz,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(y * y) AS BIGINT) AS syy,
                CAST(sum(z * z) AS BIGINT) AS szz,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * z) AS BIGINT) AS sxz,
                CAST(sum(y * z) AS BIGINT) AS syz
              FROM f
            ),
            hat AS (
              SELECT m,
                CAST(m * sxy - sx * sy AS HUGEINT) AS hxy,
                CAST(m * sxz - sx * sz AS HUGEINT) AS hxz,
                CAST(m * syz - sy * sz AS HUGEINT) AS hyz,
                CAST(m * sxx - sx * sx AS HUGEINT) AS hxx,
                CAST(m * syy - sy * sy AS HUGEINT) AS hyy,
                CAST(m * szz - sz * sz AS HUGEINT) AS hzz
              FROM agg
            ),
            r AS (
              SELECT m,
                CAST(hxy AS DOUBLE) / (sqrt(CAST(hxx AS DOUBLE))
                  * sqrt(CAST(hyy AS DOUBLE))) AS rxy,
                CAST(hxz AS DOUBLE) / (sqrt(CAST(hxx AS DOUBLE))
                  * sqrt(CAST(hzz AS DOUBLE))) AS rxz,
                CAST(hyz AS DOUBLE) / (sqrt(CAST(hyy AS DOUBLE))
                  * sqrt(CAST(hzz AS DOUBLE))) AS ryz
              FROM hat
            )
            SELECT m AS n_days, rxy AS r_xy,
              (rxy - rxz * ryz)
                / (sqrt(1.0 - rxz * rxz)
                  * sqrt(1.0 - ryz * ryz)) AS r_xy_given_z
            FROM r
        """,
        'q426_hampel_outliers': """
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            c AS (
              SELECT event_type, d AS cd, n AS cn FROM daily
            ),
            nb AS (
              SELECT c.event_type, c.cd, c.cn, d2.d, d2.n
              FROM c JOIN daily d2 ON c.event_type = d2.event_type
              WHERE d2.d >= c.cd - 3 AND d2.d <= c.cd + 3
            ),
            med AS (
              SELECT event_type, cd, cn,
                CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n)
                  AS BIGINT) AS med
              FROM nb GROUP BY 1, 2, 3
            ),
            nb2 AS (
              SELECT nb.event_type, nb.cd, nb.n, m.med
              FROM nb JOIN med m
                ON m.event_type = nb.event_type AND m.cd = nb.cd
            ),
            mad AS (
              SELECT event_type, cd,
                CAST(percentile_disc(0.5) WITHIN GROUP (
                  ORDER BY abs(n - med)) AS BIGINT) AS mad
              FROM nb2 GROUP BY 1, 2
            )
            SELECT m.event_type, m.cd AS d, m.cn AS n, m.med, md.mad
            FROM med m JOIN mad md
              ON md.event_type = m.event_type AND md.cd = m.cd
            WHERE abs(m.cn - m.med) > 3 * md.mad
        """,
        'q427_fold_cv': f"""
            WITH per AS (
              SELECT
                {" + ".join(f"(CASE WHEN substring(md5('fold' || CAST(event_id AS VARCHAR)), 1, 8) > '{_thr(k / 5)}' THEN 1 ELSE 0 END)" for k in range(1, 5))}
                  AS fold,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(CAST(value AS DECIMAL(18,2))
                  AS DECIMAL(38,6))) AS DECIMAL(28,2)) AS s
              FROM events WHERE value IS NOT NULL GROUP BY 1
            ),
            wide AS (
              SELECT
                {", ".join(f"max(CASE WHEN fold = {k} THEN s END) AS s_{k}, max(CASE WHEN fold = {k} THEN n END) AS n_{k}" for k in range(5))}
              FROM per
            ),
            mus AS (
              SELECT
                {", ".join(f"CAST(s_{k} AS DOUBLE) / CAST(n_{k} AS DOUBLE) AS mu_{k}" for k in range(5))}
              FROM wide
            ),
            mb AS (
              SELECT *,
                ({" + ".join(f"mu_{k}" for k in range(5))}) / 5.0
                  AS mbar
              FROM mus
            )
            SELECT CAST(5 AS INT) AS n_folds,
              mbar AS mean_of_fold_means,
              ({" + ".join(f"(mu_{k} - mbar) * (mu_{k} - mbar)" for k in range(5))})
                / 4.0 AS var_of_fold_means
            FROM mb
        """,
        'q429_rev_allocation': """
            WITH o AS (
              SELECT o_orderkey,
                CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS t
              FROM orders
            ),
            li AS (
              SELECT l_orderkey, l_linenumber,
                CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS e
              FROM lineitem
            ),
            j AS (
              SELECT li.l_orderkey, li.l_linenumber, li.e, o.t
              FROM li JOIN o ON li.l_orderkey = o.o_orderkey
            ),
            base AS (
              SELECT l_orderkey, l_linenumber, t,
                CAST(t * e // sum(e) OVER (PARTITION BY l_orderkey)
                  AS BIGINT) AS fl,
                CAST(t * e % sum(e) OVER (PARTITION BY l_orderkey)
                  AS BIGINT) AS r
              FROM j
            ),
            alloc AS (
              SELECT l_orderkey, t, fl,
                CAST(row_number() OVER (PARTITION BY l_orderkey
                  ORDER BY r DESC, l_linenumber ASC) AS BIGINT)
                  AS rk,
                CAST(t - sum(fl) OVER (PARTITION BY l_orderkey)
                  AS BIGINT) AS rem
              FROM base
            ),
            a2 AS (
              SELECT l_orderkey, t,
                CAST(fl + (CASE WHEN rk <= rem THEN 1 ELSE 0 END)
                  AS BIGINT) AS alloc,
                CASE WHEN rk <= rem THEN 1 ELSE 0 END AS bumped
              FROM alloc
            )
            SELECT l_orderkey,
              CAST(count(*) AS BIGINT) AS n_lines,
              CAST(max(t) AS BIGINT) AS header_cents,
              CAST(sum(alloc) AS BIGINT) AS allocated_cents,
              CAST(sum(bumped) AS BIGINT) AS bumped_lines
            FROM a2 GROUP BY l_orderkey
            ORDER BY l_orderkey ASC LIMIT 20
        """,
        'q430_logrank': f"""
            WITH RECURSIVE pur AS (
              SELECT DISTINCT user_id,
                CASE WHEN substring(
                    md5('lr' || CAST(user_id AS VARCHAR)), 1, 8)
                  < '{_thr(0.5)}' THEN 'a' ELSE 'b' END AS arm,
                CAST(date_trunc('day', ts) AS DATE) AS pd
              FROM events WHERE event_type = 'purchase'
            ),
            sp AS (
              SELECT arm,
                CASE WHEN nxt IS NULL
                  THEN datediff('day', pd, DATE '2024-01-30')
                  ELSE datediff('day', pd, nxt) END AS dur,
                CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS obs
              FROM (
                SELECT arm, pd, lead(pd) OVER (
                  PARTITION BY user_id, arm ORDER BY pd) AS nxt
                FROM pur
              )
            ),
            steps AS (
              SELECT CAST(dur AS INT) AS dur,
                CAST(sum(CASE WHEN arm = 'a' THEN obs ELSE 0 END)
                  AS BIGINT) AS da,
                CAST(sum(CASE WHEN arm = 'a' THEN 1 - obs ELSE 0 END)
                  AS BIGINT) AS ca,
                CAST(sum(CASE WHEN arm = 'b' THEN obs ELSE 0 END)
                  AS BIGINT) AS db,
                CAST(sum(CASE WHEN arm = 'b' THEN 1 - obs ELSE 0 END)
                  AS BIGINT) AS cb
              FROM sp GROUP BY 1
            ),
            ord AS (
              SELECT *, CAST(row_number() OVER (ORDER BY dur)
                AS BIGINT) AS rn
              FROM steps
            ),
            init AS (
              SELECT CAST(sum(da + ca) AS BIGINT) AS na0,
                CAST(sum(db + cb) AS BIGINT) AS nb0
              FROM steps
            ),
            rec AS (
              SELECT CAST(0 AS BIGINT) AS rn,
                (SELECT na0 FROM init) AS na,
                (SELECT nb0 FROM init) AS nb,
                CAST(0.0 AS DOUBLE) AS u, CAST(0.0 AS DOUBLE) AS v,
                CAST(0 AS BIGINT) AS n_used
              UNION ALL
              SELECT o.rn,
                r.na - (o.da + o.ca),
                r.nb - (o.db + o.cb),
                CASE WHEN o.da + o.db > 0 AND r.na + r.nb > 1
                  THEN r.u + (CAST(o.da AS DOUBLE)
                    - CAST((o.da + o.db) * r.na AS DOUBLE)
                      / CAST(r.na + r.nb AS DOUBLE))
                  ELSE r.u END,
                CASE WHEN o.da + o.db > 0 AND r.na + r.nb > 1
                  THEN r.v + CAST(o.da + o.db AS DOUBLE)
                    * (CAST(r.na AS DOUBLE)
                      / CAST(r.na + r.nb AS DOUBLE))
                    * (1.0 - CAST(r.na AS DOUBLE)
                      / CAST(r.na + r.nb AS DOUBLE))
                    * CAST(r.na + r.nb - (o.da + o.db) AS DOUBLE)
                    / CAST(r.na + r.nb - 1 AS DOUBLE)
                  ELSE r.v END,
                r.n_used + CASE WHEN o.da + o.db > 0
                  AND r.na + r.nb > 1 THEN 1 ELSE 0 END
              FROM rec r JOIN ord o ON o.rn = r.rn + 1
            ),
            fin AS (
              SELECT * FROM rec ORDER BY rn DESC LIMIT 1
            )
            SELECT CAST(n_used AS INT) AS n_steps, u AS u_stat,
              v AS v_stat,
              CASE WHEN v > 0 THEN u * u / v END AS logrank_chi2
            FROM fin
        """,
        'q431_mde': """
            WITH per_user AS (
              SELECT CAST(sum(CAST(value AS DECIMAL(38,6)))
                AS DECIMAL(19,2)) AS total
              FROM events GROUP BY user_id
            ),
            f AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                sum(total) AS s1, sum(total * total) AS s2
              FROM per_user WHERE total IS NOT NULL
            ),
            e AS (
              SELECT n,
                CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / CAST(n * (n - 1) AS DOUBLE) AS var,
                CAST(n AS DOUBLE) / 2.0 AS half_n
              FROM f
            )
            SELECT n AS n_users, mean AS metric_mean,
              var AS metric_var,
              (1.96 + 0.8416) * sqrt(2.0 * var / half_n) AS mde_abs,
              ((1.96 + 0.8416) * sqrt(2.0 * var / half_n)) / mean
                AS mde_rel
            FROM e
        """,
        'q432_ece': f"""
            WITH base AS (
              SELECT
                {" + ".join(f"(CASE WHEN substring(md5('cal' || CAST(event_id AS VARCHAR)), 1, 8) > '{_thr(k / 10)}' THEN 1 ELSE 0 END)" for k in range(1, 10))}
                  AS bin,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  AS y
              FROM events
            ),
            agg AS (
              SELECT bin, CAST(count(*) AS BIGINT) AS nb,
                CAST(sum(y) AS BIGINT) AS pb
              FROM base GROUP BY bin
            ),
            wide AS (
              SELECT
                {", ".join(f"max(CASE WHEN bin = {b} THEN nb END) AS nb_{b}, max(CASE WHEN bin = {b} THEN pb END) AS pb_{b}" for b in range(10))}
              FROM agg
            ),
            e AS (
              SELECT
                CAST({" + ".join(f"coalesce(nb_{b}, 0)" for b in range(10))} AS BIGINT) AS nn,
                *
              FROM wide
            )
            SELECT nn AS n_events,
              {" + ".join(f"(CASE WHEN nb_{b} IS NOT NULL THEN (CAST(nb_{b} AS DOUBLE) / CAST(nn AS DOUBLE)) * abs(CAST(pb_{b} AS DOUBLE) / CAST(nb_{b} AS DOUBLE) - (CAST({b} AS DOUBLE) + 0.5) / 10.0) ELSE 0.0 END)" for b in range(10))}
                AS ece
            FROM e
        """,
        'q433_cohen_kappa': """
            WITH base AS (
              SELECT
                CASE WHEN value IS NOT NULL
                  AND CAST(value AS DECIMAL(18,2))
                    > CAST('50.00' AS DECIMAL(18,2))
                  THEN 1 ELSE 0 END AS a,
                CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END AS b
              FROM events
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11,
                CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
                CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
                CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00
              FROM base
            ),
            e AS (
              SELECT n,
                CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
                CAST((n11 + n10) * (n11 + n01)
                  + (n01 + n00) * (n10 + n00) AS DOUBLE)
                  / CAST(n * n AS DOUBLE) AS pe
              FROM agg
            )
            SELECT n AS n_events, po AS p_observed, pe AS p_expected,
              (po - pe) / (1.0 - pe) AS kappa
            FROM e
        """,
        'q434_mcc': """
            WITH base AS (
              SELECT
                CASE WHEN value IS NOT NULL
                  AND CAST(value AS DECIMAL(18,2))
                    > CAST('50.00' AS DECIMAL(18,2))
                  THEN 1 ELSE 0 END AS p,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  AS y
              FROM events
            ),
            agg AS (
              SELECT
                CAST(sum(CASE WHEN p = 1 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
                CAST(sum(CASE WHEN p = 1 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
                CAST(sum(CASE WHEN p = 0 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn,
                CAST(sum(CASE WHEN p = 0 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn
              FROM base
            ),
            e AS (
              SELECT *,
                CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                  AS prec,
                CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS rec
              FROM agg
            )
            SELECT tp, fp, fn, tn,
              prec AS precision, rec AS recall,
              2.0 * prec * rec / (prec + rec) AS f1,
              CAST(CAST(tp AS HUGEINT) * CAST(tn AS HUGEINT)
                  - CAST(fp AS HUGEINT) * CAST(fn AS HUGEINT)
                  AS DOUBLE)
                / sqrt(CAST(CAST(tp + fp AS HUGEINT)
                  * CAST(tp + fn AS HUGEINT)
                  * CAST(tn + fp AS HUGEINT)
                  * CAST(tn + fn AS HUGEINT) AS DOUBLE)) AS mcc
            FROM e
        """,
        'q435_jsd': f"""
            WITH cells AS (
              SELECT event_type,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                  THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                  THEN 0 ELSE 1 END) AS BIGINT) AS c2
              FROM events GROUP BY event_type
            ),
            wide AS (
              SELECT
                {", ".join(f"coalesce(max(CASE WHEN event_type = '{t}' THEN c1 END), 0) AS c1_{t}, coalesce(max(CASE WHEN event_type = '{t}' THEN c2 END), 0) AS c2_{t}" for t in EVENT_TYPES)},
                CAST(sum(c1) AS BIGINT) AS n1,
                CAST(sum(c2) AS BIGINT) AS n2
              FROM cells
            ),
            e AS (
              SELECT n1, n2,
                {" + ".join(f"(CASE WHEN c1_{t} > 0 THEN CAST(c1_{t} AS DOUBLE) / CAST(n1 AS DOUBLE) * ln((CAST(c1_{t} AS DOUBLE) / CAST(n1 AS DOUBLE)) / ((CAST(c1_{t} AS DOUBLE) / CAST(n1 AS DOUBLE) + CAST(c2_{t} AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2.0)) ELSE 0.0 END)" for t in EVENT_TYPES)}
                  AS klp,
                {" + ".join(f"(CASE WHEN c2_{t} > 0 THEN CAST(c2_{t} AS DOUBLE) / CAST(n2 AS DOUBLE) * ln((CAST(c2_{t} AS DOUBLE) / CAST(n2 AS DOUBLE)) / ((CAST(c1_{t} AS DOUBLE) / CAST(n1 AS DOUBLE) + CAST(c2_{t} AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2.0)) ELSE 0.0 END)" for t in EVENT_TYPES)}
                  AS klq
              FROM wide
            )
            SELECT n1 AS n_first, n2 AS n_second,
              0.5 * klp + 0.5 * klq AS jsd
            FROM e
        """,
        'q436_staleness': """
            WITH last AS (
              SELECT event_type, user_id,
                CAST(max(epoch_us(ts)) AS BIGINT) AS t_last
              FROM events GROUP BY 1, 2
            ),
            age AS (
              SELECT event_type,
                epoch_us(TIMESTAMP '2024-01-31') - t_last AS age
              FROM last
            )
            SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_users,
              CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY age)
                AS BIGINT) AS p50_age_us,
              CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY age)
                AS BIGINT) AS p90_age_us,
              CAST(max(age) AS BIGINT) AS max_age_us
            FROM age GROUP BY event_type
        """,
        'q437_throughput_percentiles': """
            WITH b AS (
              SELECT event_type,
                epoch_us(ts) // 1800000000 AS bucket,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_buckets,
              CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n)
                AS BIGINT) AS p50_per_bucket,
              CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n)
                AS BIGINT) AS p90_per_bucket,
              CAST(max(n) AS BIGINT) AS max_per_bucket
            FROM b GROUP BY event_type
        """,
        'q438_ramp_extremes': """
            WITH daily AS (
              SELECT event_type,
                CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            delta AS (
              SELECT event_type, d,
                n - lag(n) OVER (
                  PARTITION BY event_type ORDER BY d) AS dn
              FROM daily
            ),
            d2 AS (SELECT * FROM delta WHERE dn IS NOT NULL),
            up AS (
              SELECT event_type, dn AS max_ramp_up,
                d AS ramp_up_day
              FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY dn DESC, d ASC) AS rk
                FROM d2
              ) WHERE rk = 1
            ),
            dn_t AS (
              SELECT event_type, dn AS max_ramp_down,
                d AS ramp_down_day
              FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY dn ASC, d ASC) AS rk
                FROM d2
              ) WHERE rk = 1
            )
            SELECT u.event_type, u.max_ramp_up, u.ramp_up_day,
              t.max_ramp_down, t.ramp_down_day
            FROM up u JOIN dn_t t ON t.event_type = u.event_type
        """,
    },
)
