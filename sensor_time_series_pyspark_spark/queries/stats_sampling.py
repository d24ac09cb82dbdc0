"""Statistics and sampling estimators (q244 .. q283).

Shared helpers are in queries/common.py; queries/registry.py raises
on duplicate query names."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import token_count, tokens
from sensor_time_series_pyspark_spark.operators.sampling import (
    _threshold_hex as _thr,
)
from sensor_time_series_pyspark_spark.queries.common import (
    DEC,
    _REV_SQL,
    _dsum,
    _revenue,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_abc_classification(spark: SparkSession, sf: str) -> DataFrame:
    """ABC inventory classification: parts bucketed A/B/C at 80%/95%
    of cumulative revenue share (q91's Pareto mechanics with the
    classification epilogue) — the window runs over the aggregated
    part frame only; deterministic (revenue DESC, partkey) order."""
    li = read_table(spark, sf, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_revenue()).alias("__rev")
    )
    w = Window.orderBy(F.col("__rev").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    share = (
        F.sum("__rev").over(w).cast("double")
        / F.sum("__rev").over(wall).cast("double")
    )
    classified = per_part.select(
        "l_partkey",
        F.col("__rev").cast("double").alias("revenue"),
        share.alias("cum_share"),
    ).select(
        "l_partkey",
        "revenue",
        "cum_share",
        F.when(F.col("cum_share") <= 0.80, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return classified.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        _dsum(F.col("revenue")).alias("class_revenue"),
    )


def _q_vocab_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Source-level vocabulary overlap matrix: Jaccard between the
    distinct-token sets of every source pair — corpus-level similarity
    (are two crawls near-mirrors?) as opposed to document-level q19.
    The inverted (token, source) frame drives ONE self-join on token;
    set sizes come from one aggregate; integer counts, one division."""
    docs = read_table(spark, sf, "documents")
    st = docs.select(
        "source", F.explode(F.array_distinct(tokens("text"))).alias("t")
    ).distinct()
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    a = st.select(F.col("source").alias("sa"), "t")
    b = st.select(F.col("source").alias("sb"), "t")
    inter = (
        a.join(b, "t")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("source").alias("sa"), F.col("n_vocab").alias("na"))
    nb = sizes.select(F.col("source").alias("sb"), F.col("n_vocab").alias("nb"))
    j = inter.join(F.broadcast(na), "sa").join(F.broadcast(nb), "sb")
    return j.select(
        "sa",
        "sb",
        "inter",
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
        ).alias("vocab_jaccard"),
    )


def _q_growth_accounting(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly growth accounting — new / retained / resurrected /
    churned users per week, the canonical activity ledger (every
    week's actives partition into new+retained+resurrected; churned
    counts last week's actives who went silent). The weekly-actives
    reduction feeds ONE self-join on (user, week−1) plus the
    first-seen frame; identity new+retained+resurrected = WAU holds by
    construction."""
    ev = read_table(spark, sf, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    first = wk.groupBy("user_id").agg(F.min("w").alias("first_w"))
    prev = wk.select(
        F.col("user_id").alias("pu"),
        (F.col("w") + F.expr("INTERVAL 7 DAYS")).alias("nw"),
    )
    cur = (
        wk.join(first, "user_id")
        .join(
            prev,
            (F.col("user_id") == F.col("pu")) & (F.col("w") == F.col("nw")),
            "left",
        )
        .select(
            "w",
            (F.col("w") == F.col("first_w")).alias("is_new"),
            F.col("pu").isNotNull().alias("was_active"),
        )
    )
    per_week = cur.groupBy("w").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("bigint").alias("new_users"),
        F.sum(F.when(~F.col("is_new") & F.col("was_active"), 1).otherwise(0))
        .cast("bigint")
        .alias("retained"),
        F.sum(F.when(~F.col("is_new") & ~F.col("was_active"), 1).otherwise(0))
        .cast("bigint")
        .alias("resurrected"),
    )
    # churned for week w+1: users active in w with no activity in w+1
    nxt = wk.select(
        F.col("user_id").alias("cu"),
        (F.col("w") + F.expr("INTERVAL 7 DAYS")).alias("cw"),
    )
    churn = (
        nxt.join(
            wk,
            (F.col("cu") == F.col("user_id")) & (F.col("cw") == F.col("w")),
            "left_anti",
        )
        .groupBy(F.col("cw").alias("w"))
        .agg(F.count(F.lit(1)).alias("churned"))
    )
    return per_week.join(churn, "w", "left").na.fill({"churned": 0})


def _q_anomaly_ensemble(spark: SparkSession, sf: str) -> DataFrame:
    """Ensemble anomaly vote at the (type, day) grain — three
    independent detectors (trailing-average spike q240, Donchian
    break-up q241, cross-sectional |z|>1.5 q242) computed from ONE
    shared daily aggregate and combined by majority (≥2 votes). The
    composability capstone: every detector is a window over the same
    tiny day×type frame, so the ensemble costs one fact scan total."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    wd = Window.partitionBy("d")
    trailing = F.sum("n").over(wt).cast("double") / F.count(F.lit(1)).over(wt)
    chan_hi = F.max("n").over(wt)
    k = F.count(F.lit(1)).over(wd)
    s1 = F.sum("n").over(wd)
    s2 = F.sum(F.col("n") * F.col("n")).over(wd)
    var_num = (k * s2 - s1 * s1).cast("double")
    mean = s1.cast("double") / k.cast("double")
    std = F.sqrt(var_num) / k.cast("double")
    scored = daily.select(
        "event_type",
        "d",
        "n",
        F.when(
            trailing.isNotNull()
            & (F.col("n").cast("double") > F.lit(1.05) * trailing),
            1,
        ).otherwise(0).alias("v_spike"),
        F.when(chan_hi.isNotNull() & (F.col("n") > chan_hi), 1)
        .otherwise(0)
        .alias("v_break"),
        F.when(
            (var_num > 0)
            & (F.abs((F.col("n").cast("double") - mean) / std) > 1.5),
            1,
        ).otherwise(0).alias("v_z"),
    )
    return scored.select(
        "event_type",
        "d",
        "n",
        "v_spike",
        "v_break",
        "v_z",
        (F.col("v_spike") + F.col("v_break") + F.col("v_z")).alias("votes"),
    ).where(F.col("v_spike") + F.col("v_break") + F.col("v_z") >= 2)


def _q_bollinger(spark: SparkSession, sf: str) -> DataFrame:
    """Bollinger bands on the daily event-count series per type:
    trailing-7-day (self-exclusive) mean +/- 2 sigma from EXACT integer
    moments (k*S2 - S1^2), flags for breaks above/below the band. The
    named-indicator companion to q241's Donchian channel — variance
    band instead of min/max channel, same one-scan day*type frame."""
    from sensor_time_series_pyspark_spark.operators import bollinger

    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    return bollinger(
        daily, ["event_type"], "d", "n", lookback=7, n_sigma=2.0, min_points=3
    )


def _q_simpson_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Simpson diversity index of event types per user:
    D = 1 - sum(n_i^2)/N^2 — the log-free diversity measure (Shannon
    entropy needs libm log whose low bits differ across engines;
    Simpson is exact-integer moments + ONE double division, same
    screen: 0 = monoculture bot, ~1 = uniform organic mix)."""
    ev = read_table(spark, sf, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_type.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        (
            F.lit(1.0)
            - F.sum(F.col("n") * F.col("n")).cast("double")
            / (F.sum("n") * F.sum("n")).cast("double")
        ).alias("simpson"),
    )


def _q_ttr_hapax(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source lexical-richness profile: token total, vocabulary
    size, type-token ratio, and corpus-hapax share (fraction of the
    source's vocabulary whose CORPUS-wide frequency is 1 — high hapax
    share flags OCR noise / gibberish; low flags templated text).
    One explode feeds both the corpus frequency table and the
    per-source term frame; integer counts, two final divisions."""
    docs = read_table(spark, sf, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("t"))
    src_tok = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("n"))
    corpus = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cn"))
    j = src_tok.join(corpus, "t")
    return j.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("cn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax"),
        (F.count(F.lit(1)).cast("double") / F.sum("n").cast("double")).alias(
            "ttr"
        ),
        (
            F.sum(F.when(F.col("cn") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("hapax_share"),
    )


def _q_temperature_sampling(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based mixture sampling weights (alpha = 0.5): each
    source's sampling weight proportional to n_tokens^0.5 — the
    standard multilingual/domain rebalancing step (upsamples the tail
    without letting the head dominate). Reported RELATIVE to the
    largest source (sqrt(T_s)/sqrt(T_max)): sqrt is IEEE
    correctly-rounded in both engines and the ratio avoids a
    cross-row sum of irrational doubles whose order would differ.
    Complements q185's equalizing mixture_weights (alpha = 0)."""
    docs = read_table(spark, sf, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
    )
    wall = Window.partitionBy()
    tmax = F.max("n_tokens").over(wall)
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        (
            F.sqrt(F.col("n_tokens").cast("double"))
            / F.sqrt(tmax.cast("double"))
        ).alias("rel_weight"),
    )


def _q_lexical_complexity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language lexical complexity: chars per word and vowel-group
    ("syllable"-ish) count per word, totalled across the corpus with
    EXACT integer counts and two final divisions — the log-free
    readability screen (Flesch-style inputs without sentence
    segmentation, which this corpus's unpunctuated text cannot
    support). Vowel groups via one regexp_extract_all per doc."""
    docs = read_table(spark, sf, "documents")
    per_doc = docs.select(
        "lang",
        token_count("text").alias("words"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")).alias("chars"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("([aeiou]+)"), 1)
        ).alias("vgroups"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").alias("n_words"),
        (F.sum("chars").cast("double") / F.sum("words").cast("double")).alias(
            "chars_per_word"
        ),
        (F.sum("vgroups").cast("double") / F.sum("words").cast("double")).alias(
            "syllables_per_word"
        ),
    )


def _q_daily_mode(spark: SparkSession, sf: str) -> DataFrame:
    """Modal event type per day — the windowed-mode operator (most
    frequent value with a deterministic tiebreak: highest count, then
    lexicographically smallest type). One aggregate to (day, type)
    counts, one row_number over the tiny aggregated frame."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("d").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        daily.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("d", F.col("event_type").alias("mode_type"), "n")
    )


def _q_hour_weekday_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day x day-of-week activity heatmap with share-of-weekday
    — the seasonality fingerprint grid (bot traffic is flat; organic
    traffic has a work-hours ridge). One aggregate to the 7x24 cell
    frame; the share divides by a weekday-partition window sum.
    Spark dayofweek is 1=Sunday..7=Saturday; the oracle shifts
    DuckDB's 0-based convention to match."""
    ev = read_table(spark, sf, "events")
    cells = ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(F.count(F.lit(1)).alias("n"))
    wd = Window.partitionBy("dow")
    return cells.select(
        "dow",
        "hod",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wd).cast("double")).alias(
            "dow_share"
        ),
    )


def _q_pettitt(spark: SparkSession, sf: str) -> DataFrame:
    """Pettitt changepoint test per event type on the daily-count
    series: U_t = sum_{i<=t} sum_{j>t} sign(x_j - x_i); the change
    point maximizes |U_t|. Rank-based (no distribution assumption) and
    PURE INTEGER throughout — the engine-portable changepoint screen.

    Uses the identity U_t = -cumsum(r)_t where r_i = sum_j
    sign(x_i - x_j) over the whole series (the antisymmetric square
    cancels), so the cost is ONE within-series pair join for the net
    rank scores plus a window cumsum over the day frame — O(n^2)
    pairs per series on the tiny daily aggregate, never on the fact."""
    from sensor_time_series_pyspark_spark.operators import pettitt

    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    return pettitt(daily, ["event_type"], "d", "n").select(
        "event_type",
        F.col("change_point").alias("change_day"),
        "k_stat",
        "n_candidates",
    )


def _q_lang_purity(spark: SparkSession, sf: str) -> DataFrame:
    """Language purity per source: the dominant language (mode with a
    deterministic count-desc/lang-asc tiebreak), its share, and the
    off-dominant doc count — the crawl-hygiene screen for mislabelled
    or mixed-language sources. Two aggregates over the tiny
    (source, lang) frame."""
    docs = read_table(spark, sf, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("lang"))
    ws = Window.partitionBy("source")
    return (
        sl.withColumn("rk", F.row_number().over(w))
        .withColumn("total", F.sum("n").over(ws))
        .where(F.col("rk") == 1)
        .select(
            "source",
            F.col("lang").alias("dominant_lang"),
            F.col("total").alias("n_docs"),
            (F.col("n").cast("double") / F.col("total").cast("double")).alias(
                "purity"
            ),
            (F.col("total") - F.col("n")).alias("n_off_dominant"),
        )
    )


def _q_knn_label_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Label-noise screen via k-NN agreement: for each probe vector,
    the share of its top-3 cosine neighbors (excluding self) that carry
    the same label — low agreement flags probable mislabels (the
    classic Confident-Learning-style triage, done with the existing
    brute-force cosine machinery). Probe set bounded (vec_id < 50) as
    in q23; at scale the probe side is the small/broadcast side and the
    candidate side streams. Integer votes, one final division."""
    emb = read_table(spark, sf, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    )
    q = v.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("e"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.zip_with(c, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = (
        F.broadcast(q)
        .join(v, F.col("qid") != F.col("vec_id"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            (dot / (norm(F.col("qe")) * norm(F.col("e")))).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    top = scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3)
    return top.groupBy("qid", "qlabel").agg(
        F.sum(F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
        (
            F.sum(F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("agreement"),
    )


def _q_prefix_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix-duplicate groups: documents sharing an identical
    first-8-token prefix — the cheap templated-boilerplate /
    truncated-mirror detector that shingle Jaccard over-pays for
    (one slice + one hash aggregate, no pair join). Returns groups
    with >= 2 members: prefix key, member count, representative
    (smallest) doc_id."""
    docs = read_table(spark, sf, "documents")
    pre = docs.select(
        "doc_id",
        F.array_join(F.slice(tokens("text"), 1, 8), " ").alias("prefix"),
    )
    return (
        pre.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("rep_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


def _q_peak_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line operator:
    sessionized (30-min gap) user activity becomes +1/-1 boundary
    events, a global ordered running sum gives instantaneous
    concurrency, and a day-grain max reduces it. Capacity-planning's
    canonical query. The running sum orders by (ts, delta) so an end
    at time T releases before a start at T acquires (half-open
    sessions never double-count at the boundary). The global window
    runs over the tiny boundary frame (2 rows per session), not the
    fact; at 100 TB the same sweep shards by day first (sessions
    don't cross the 30-min-gap day boundary in practice)."""
    ev = read_table(spark, sf, "events")
    wlag = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(wlag)
    marked = ev.select("user_id", "ts").withColumn(
        "new_s",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    sid = marked.withColumn(
        "sid",
        F.sum("new_s").over(
            wlag.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sess = sid.groupBy("user_id", "sid").agg(
        F.min("ts").alias("t_start"), F.max("ts").alias("t_end")
    )
    bounds = sess.select(
        F.col("t_start").alias("t"), F.lit(1).alias("delta")
    ).unionByName(sess.select(F.col("t_end").alias("t"), F.lit(-1).alias("delta")))
    wsweep = Window.orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    conc = bounds.select(
        "t", F.sum("delta").over(wsweep).cast("bigint").alias("conc")
    )
    return conc.groupBy(F.date_trunc("day", F.col("t")).alias("d")).agg(
        F.max("conc").alias("peak_concurrency")
    )


def _q_weekend_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Weekend lift per event type: average daily event count on
    weekend days over the weekday average — the one-number seasonality
    summary behind q254's full heatmap. Exact integer totals, day
    counts from the calendar (distinct days present), three final
    divisions in a fixed order."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    flagged = daily.withColumn(
        "is_we", F.dayofweek("d").isin(1, 7)
    )
    agg = flagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_we"), F.col("n")).otherwise(0)).alias("we_n"),
        F.sum(F.when(F.col("is_we"), 1).otherwise(0)).alias("we_days"),
        F.sum(F.when(~F.col("is_we"), F.col("n")).otherwise(0)).alias("wd_n"),
        F.sum(F.when(~F.col("is_we"), 1).otherwise(0)).alias("wd_days"),
    )
    we_avg = F.col("we_n").cast("double") / F.col("we_days").cast("double")
    wd_avg = F.col("wd_n").cast("double") / F.col("wd_days").cast("double")
    return agg.select(
        "event_type",
        we_avg.alias("weekend_avg"),
        wd_avg.alias("weekday_avg"),
        (we_avg / wd_avg).alias("weekend_lift"),
    )


def _q_spc_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Western Electric SPC rules on the daily event-count series per
    type: rule 1 (|z| > 3), rule 2 (>= 2 of 3 consecutive points
    beyond 2 sigma on the same side), rule 4 (8 consecutive points on
    the same side of the mean) — the industrial control-chart screen,
    as window algebra over the day x type frame. Center line and sigma
    from EXACT whole-series integer moments; z is sqrt + one division
    (identical op order in the oracle). Returns every scored day with
    its rule flags (callers filter on the flags; returning the full
    chart keeps the oracle gate strong even when no rule fires)."""
    from sensor_time_series_pyspark_spark.operators import spc_rules

    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    return spc_rules(daily, ["event_type"], "d", "n")


def _q_wow_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Week-over-week audience overlap: Jaccard between consecutive
    weeks' active-user sets — the stability companion to q246's growth
    ledger (one number per week pair instead of a four-way split).
    The weekly-actives reduction feeds ONE self-join on (user, week+7d);
    set sizes come from the same reduction; integer counts, one
    division."""
    ev = read_table(spark, sf, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    sizes = wk.groupBy("w").agg(F.count(F.lit(1)).alias("n_users"))
    nxt = wk.select(
        F.col("user_id").alias("u2"),
        (F.col("w") - F.expr("INTERVAL 7 DAYS")).alias("pw"),
    )
    inter = (
        wk.join(
            nxt, (F.col("user_id") == F.col("u2")) & (F.col("w") == F.col("pw"))
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    a = sizes.select(F.col("w").alias("w"), F.col("n_users").alias("na"))
    b = sizes.select(
        (F.col("w") - F.expr("INTERVAL 7 DAYS")).alias("w"),
        F.col("n_users").alias("nb"),
    )
    j = a.join(b, "w").join(inter, "w", "left").na.fill({"inter": 0})
    return j.select(
        F.col("w").alias("week"),
        F.col("na").alias("users_this"),
        F.col("nb").alias("users_next"),
        F.col("inter").alias("retained"),
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
        ).alias("wow_jaccard"),
    )


def _q_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum drawdown of the daily event-count series per type:
    running peak, per-day drawdown (peak - n)/peak, and the worst
    day (deterministic worst-dd/earliest-day tiebreak) — the quant
    risk metric repurposed as a traffic-collapse detector. Running max
    is pure integer; ONE division per day in identical order."""
    from sensor_time_series_pyspark_spark.operators import max_drawdown

    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    return max_drawdown(daily, ["event_type"], "d", "n").select(
        "event_type",
        F.col("worst_point").alias("worst_day"),
        "trough",
        "peak",
        "max_drawdown",
    )


def _q_kfold_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified k-fold assignment audit: deterministic md5-bucket
    fold ids (k=5, the content-hash construction of q64 — stable
    across runs, engines, partitionings, and key-consistent per user)
    crossed with event_type, so fold x stratum counts expose any
    imbalance. The leakage-free CV-split primitive plus its balance
    check in one pass."""
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
    return (
        ev.withColumn("fold", fold)
        .groupBy("fold", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def _q_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Interarrival burstiness per user (Goh-Barabasi B =
    (sigma - mu)/(sigma + mu) over interarrival gaps): -1 = metronome,
    0 = Poisson, ->1 = bursty — the behavioral bot/human separator.
    Gaps are INTEGER seconds via lag; moments stay integer
    (n*S2 - S1^2); sigma is one sqrt, B two fixed-order divisions.
    Users with < 3 events (< 2 gaps) are excluded."""
    ev = read_table(spark, sf, "events")
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            (
                F.col("ts").cast("long")
                - F.lag(F.col("ts").cast("long")).over(wlag)
            ).alias("g"),
        )
        .where(F.col("g").isNotNull())
    )
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("g").alias("s1"),
        F.sum(F.col("g") * F.col("g")).alias("s2"),
    ).where(F.col("k") >= 2)
    mu = F.col("s1").cast("double") / F.col("k").cast("double")
    sigma = F.sqrt(
        (F.col("k") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    ) / F.col("k").cast("double")
    return agg.select(
        "user_id",
        F.col("k").alias("n_gaps"),
        mu.alias("mean_gap_s"),
        sigma.alias("std_gap_s"),
        ((sigma - mu) / (sigma + mu)).alias("burstiness"),
    )


def _q_tukey_fences(spark: SparkSession, sf: str) -> DataFrame:
    """Tukey boxplot fences per event type: exact Q1/Q3 (both engines
    interpolate a + (b-a)*frac over the same sorted doubles, the q60
    guarantee), 1.5xIQR fences, and the count of values outside — the
    distribution-free outlier census that complements q66's
    MAD-z-score per-row flags with a per-group summary."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
        F.count(F.lit(1)).alias("n"),
    )
    fenced = q.select(
        "event_type",
        "q1",
        "q3",
        "n",
        (F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    out = (
        ev.join(F.broadcast(fenced), "event_type")
        .where((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        fenced.join(out, "event_type", "left")
        .na.fill({"n_outliers": 0})
        .select("event_type", "n", "q1", "q3", "lo", "hi", "n_outliers")
    )


def _q_page_hinkley(spark: SparkSession, sf: str) -> DataFrame:
    """Page-Hinkley drift detector (offline form) on the daily count
    series per type: m_t = cumsum(n - mean), PH_t = m_t - min(m_1..t),
    alarm when PH_t > lambda = 0.5 * mean — the sequential
    mean-increase detector behind most stream-drift libraries, as two
    stacked window passes over the day x type frame (cumsum, then
    running min). Mean from exact integer moments; cumsum order is
    the window order, identical in both engines."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    wall = Window.partitionBy("event_type")
    mean = F.sum("n").over(wall).cast("double") / F.count(F.lit(1)).over(
        wall
    ).cast("double")
    base = daily.select(
        "event_type", "d", "n", mean.alias("mean_n")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = F.sum(F.col("n").cast("double") - F.col("mean_n")).over(wcum)
    stepped = base.withColumn("m", m)
    ph = F.col("m") - F.min("m").over(wcum)
    return stepped.select(
        "event_type",
        "d",
        "n",
        ph.alias("ph"),
        F.when(ph > F.lit(0.5) * F.col("mean_n"), 1).otherwise(0).alias(
            "alarm"
        ),
    )


def _q_capture_recapture(spark: SparkSession, sf: str) -> DataFrame:
    """Chapman capture-recapture estimate of the true active-user
    population from consecutive weekly sightings: N = (n1+1)(n2+1)/
    (m+1) - 1 with m = users seen in both weeks — the coverage
    estimator ecology lends to dataset-completeness audits ("how many
    users exist that we never see?"). Pure integer counts, ONE
    division; coverage = observed-union / N."""
    ev = read_table(spark, sf, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    sizes = wk.groupBy("w").agg(F.count(F.lit(1)).alias("n1"))
    nxt = wk.select(
        F.col("user_id").alias("u2"),
        (F.col("w") - F.expr("INTERVAL 7 DAYS")).alias("pw"),
    )
    m = (
        wk.join(
            nxt, (F.col("user_id") == F.col("u2")) & (F.col("w") == F.col("pw"))
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    n2 = sizes.select(
        (F.col("w") - F.expr("INTERVAL 7 DAYS")).alias("w"),
        F.col("n1").alias("n2"),
    )
    j = sizes.join(n2, "w").join(m, "w", "left").na.fill({"m": 0})
    nhat = (
        ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
        / (F.col("m") + 1).cast("double")
    ) - F.lit(1.0)
    union = (F.col("n1") + F.col("n2") - F.col("m")).cast("double")
    return j.select(
        F.col("w").alias("week"),
        "n1",
        "n2",
        "m",
        nhat.alias("n_hat"),
        (union / nhat).alias("coverage"),
    )


def _q_odds_ratio_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Distinctive vocabulary per language by Haldane-smoothed odds
    ratio: OR = (a+.5)(B-b+.5) / ((b+.5)(A-a+.5)) for token count a of
    A in-language tokens vs b of B out-of-language — the log-free
    enrichment score (log-odds is monotone in OR, so rankings agree)
    behind "what words characterize this slice" analyses. One explode,
    one (lang, token) aggregate, token totals by broadcast-sized
    joins; top-5 per lang by (OR desc, token asc). Tokens with a < 5
    are pruned before ranking (hapax OR noise)."""
    docs = read_table(spark, sf, "documents")
    tok = docs.select("lang", F.explode(tokens("text")).alias("t"))
    lt = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("a"))
    tot_l = tok.groupBy("lang").agg(F.count(F.lit(1)).alias("la"))
    tot_t = tok.groupBy("t").agg(F.count(F.lit(1)).alias("ct"))
    tot = tok.agg(F.count(F.lit(1)).alias("gn"))
    j = (
        lt.join(F.broadcast(tot_l), "lang")
        .join(tot_t, "t")
        .crossJoin(F.broadcast(tot))
        .where(F.col("a") >= 5)
    )
    b = F.col("ct") - F.col("a")
    bigB = F.col("gn") - F.col("la")
    orr = (
        (F.col("a").cast("double") + 0.5)
        * ((bigB - b).cast("double") + 0.5)
    ) / (
        (b.cast("double") + 0.5)
        * ((F.col("la") - F.col("a")).cast("double") + 0.5)
    )
    return (
        j.select(
            "lang",
            F.col("t").alias("token"),
            "a",
            orr.alias("odds_ratio"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.col("odds_ratio").desc(), F.col("token")
                )
            ),
        )
        .where(F.col("rk") <= 5)
        .select("lang", "token", "a", "odds_ratio", F.col("rk").cast("int").alias("rk"))
    )


def _q_emd_drift(spark: SparkSession, sf: str) -> DataFrame:
    """1-D earth mover's distance (Wasserstein-1) between each event
    type's first-half and second-half value distributions — the drift
    metric that sees HOW FAR mass moved where TVD (q81) only sees how
    much. Values bin to width-5 integer bins (the 100 TB contract:
    EMD over a bounded histogram, never raw points); EMD = sum over
    the bin grid of |cumsum(p_a - p_b)| * width. Bin counts are
    integers; shares and the cumsum are fixed-order doubles."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    mid = F.lit("2024-01-16")
    binned = ev.select(
        "event_type",
        F.when(F.col("ts") < mid, "a").otherwise("b").alias("half"),
        F.floor(F.col("value") / F.lit(5.0)).cast("bigint").alias("bin"),
    )
    counts = binned.groupBy("event_type", "half", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    wtot = Window.partitionBy("event_type", "half")
    shares = counts.select(
        "event_type",
        "half",
        "bin",
        (F.col("n").cast("double") / F.sum("n").over(wtot).cast("double")).alias(
            "p"
        ),
    )
    grid = (
        shares.groupBy("event_type", "bin")
        .pivot("half", ["a", "b"])
        .agg(F.first("p"))
        .na.fill({"a": 0.0, "b": 0.0})
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    diffs = grid.select(
        "event_type",
        "bin",
        F.sum(F.col("a") - F.col("b")).over(wcum).alias("cdf_gap"),
    )
    return diffs.groupBy("event_type").agg(
        (_dsum(F.abs(F.col("cdf_gap"))) * F.lit(5.0)).alias("emd"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )


def _q_bow_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Token-set duplicate groups: documents sharing an identical
    DISTINCT token set (md5 of the sorted distinct tokens) — the
    permutation- and multiplicity-invariant dedup layer that catches
    shuffled/reordered/repeated-template copies exact-hash dedup (q17)
    misses and shingle methods only partially score. One map-side
    fingerprint + one hash aggregate, no pair join. Returns groups
    >= 2 with member/source counts."""
    docs = read_table(spark, sf, "documents")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " "))
    return (
        docs.select("doc_id", "source", fp.alias("bow_fp"))
        .groupBy("bow_fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").alias("rep_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


def _q_stride_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Systematic (every k-th) per-user event sample, k=10 — the
    deterministic longitudinal thinning that preserves per-user
    temporal spread where uniform row sampling does not. One window
    rank per user (ts, event_id tiebreak), modulo filter; emits the
    kept rows so the oracle verifies exact membership, not just
    counts."""
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") % 10) == 1)
        .select("user_id", "event_id", F.col("rn").cast("int").alias("rn"))
    )


def _q_churn_risk(spark: SparkSession, sf: str) -> DataFrame:
    """Recency-vs-cadence churn screen: idle time since a user's last
    event (to the corpus horizon) over their own median interarrival
    gap — at_risk when idle > 3x median cadence. The per-user median
    personalizes the threshold (a daily user 4 days silent is at risk;
    a weekly user is not). Integer-second gaps, exact median, one
    ratio; users with < 2 gaps excluded."""
    ev = read_table(spark, sf, "events")
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        F.col("ts").cast("long")
        - F.lag(F.col("ts").cast("long")).over(wlag)
    )
    base = ev.select(
        "user_id", F.col("ts").cast("long").alias("tsec"), g.alias("g")
    )
    horizon = base.agg(F.max("tsec").alias("h"))
    per_user = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("tsec").alias("last_t"),
        F.median("g").alias("median_gap_s"),
        F.count("g").alias("n_gaps"),
    ).where(F.col("n_gaps") >= 2)
    j = per_user.crossJoin(F.broadcast(horizon))
    ratio = (F.col("h") - F.col("last_t")).cast("double") / F.col(
        "median_gap_s"
    )
    return j.select(
        "user_id",
        "n_events",
        (F.col("h") - F.col("last_t")).alias("idle_s"),
        "median_gap_s",
        ratio.alias("risk_ratio"),
        F.when(ratio > 3.0, 1).otherwise(0).alias("at_risk"),
    )


def _q_discount_elasticity(spark: SparkSession, sf: str) -> DataFrame:
    """Discount-quantity elasticity proxy per part brand: exact-moment
    Pearson correlation between l_discount and l_quantity
    (operators/profile.py:exact_corr — decimal moments, fixed IEEE
    epilogue) after a broadcast join to the part dimension. Positive
    corr = discounts move volume for that brand."""
    from sensor_time_series_pyspark_spark.operators import exact_corr

    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return exact_corr(j, "l_discount", "l_quantity", by=["p_brand"])


def _q_centroid_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space drift per label: cosine between the centroid of
    the first half of the corpus (vec_id < 250) and the second half —
    the embedding-health monitor (re-embedding or upstream featurizer
    changes show up as off-1.0 cosines before any model degrades).
    Same order-free decimal centroid accumulation as q157; cosine is
    scale-invariant so SUM vectors stand in for means (no division)."""
    e = read_table(spark, sf, "embeddings")
    comp = e.select(
        "label",
        F.when(F.col("vec_id") < 250, "a").otherwise("b").alias("half"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    cent = comp.groupBy("label", "half", "dim").agg(
        F.sum(F.col("v").cast("double").cast("decimal(20,8)")).alias("s")
    )
    vecs = (
        cent.groupBy("label", "half")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("arr"))
        .select(
            "label",
            "half",
            F.expr("transform(arr, x -> cast(x.s as double))").alias("vec"),
        )
    )
    a = vecs.where(F.col("half") == "a").select(
        "label", F.col("vec").alias("va")
    )
    b = vecs.where(F.col("half") == "b").select(
        F.col("label").alias("lb"), F.col("vec").alias("vb")
    )
    dot = lambda x, y: F.expr(  # noqa: E731
        f"aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0D, (acc, z) -> acc + z)"
    )
    return (
        a.join(b, F.col("label") == F.col("lb"))
        .select(
            "label",
            (
                dot("va", "vb")
                / (F.sqrt(dot("va", "va")) * F.sqrt(dot("vb", "vb")))
            ).alias("drift_cosine"),
        )
    )


def _q_matrix_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Matrix-profile discord and motif per event type (length-7
    windows over the daily count series): every window's distance to
    its nearest OTHER window; the DISCORD is the window farthest from
    all others (the anomalous week), the MOTIF the closest pair (the
    repeated week). Distances are unnormalized squared Euclidean on
    INTEGER counts — exact end to end, no z-norm float drift. The
    window-element frame joins on (type, position offset), so the
    O(w^2 * m) pair work runs over the tiny day x type frame, never
    the fact. Output: one row per type with both extrema."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    widx = Window.partitionBy("event_type").orderBy("d")
    idx = daily.withColumn("idx", F.row_number().over(widx))
    wcnt = Window.partitionBy("event_type")
    idx = idx.withColumn("cnt", F.count(F.lit(1)).over(wcnt))
    m = 7
    # window elements: (type, start s, pos p, val) for s in 1..cnt-m+1
    el = (
        idx.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.idx") >= F.col("a.idx"))
            & (F.col("b.idx") < F.col("a.idx") + m),
        )
        .where(F.col("a.idx") <= F.col("a.cnt") - m + 1)
        .select(
            F.col("a.event_type").alias("et"),
            F.col("a.idx").alias("s"),
            (F.col("b.idx") - F.col("a.idx")).alias("p"),
            F.col("b.n").alias("v"),
        )
    )
    e1 = el.select(
        F.col("et"), F.col("s").alias("s1"), "p", F.col("v").alias("v1")
    )
    e2 = el.select(
        F.col("et").alias("et2"),
        F.col("s").alias("s2"),
        F.col("p").alias("p2"),
        F.col("v").alias("v2"),
    )
    d2 = (
        e1.join(
            e2,
            (F.col("et") == F.col("et2"))
            & (F.col("p") == F.col("p2"))
            & (F.col("s1") != F.col("s2")),
        )
        .groupBy("et", "s1", "s2")
        .agg(
            F.sum(
                (F.col("v1") - F.col("v2")) * (F.col("v1") - F.col("v2"))
            ).alias("dist2")
        )
    )
    nn = d2.groupBy("et", "s1").agg(F.min("dist2").alias("nn_dist2"))
    wdis = Window.partitionBy("et").orderBy(
        F.col("nn_dist2").desc(), F.col("s1")
    )
    wmot = Window.partitionBy("et").orderBy(
        F.col("nn_dist2").asc(), F.col("s1")
    )
    ranked = nn.select(
        "et",
        "s1",
        "nn_dist2",
        F.row_number().over(wdis).alias("rd"),
        F.row_number().over(wmot).alias("rm"),
    )
    days = idx.select(
        F.col("event_type").alias("et"), F.col("idx").alias("s1"), "d"
    )
    dis = (
        ranked.where(F.col("rd") == 1)
        .join(days, ["et", "s1"])
        .select(
            "et",
            F.col("d").alias("discord_start"),
            F.col("nn_dist2").alias("discord_dist2"),
        )
    )
    mot = (
        ranked.where(F.col("rm") == 1)
        .join(days, ["et", "s1"])
        .select(
            F.col("et").alias("et_m"),
            F.col("d").alias("motif_start"),
            F.col("nn_dist2").alias("motif_dist2"),
        )
    )
    return dis.join(mot, F.col("et") == F.col("et_m")).select(
        F.col("et").alias("event_type"),
        "discord_start",
        "discord_dist2",
        "motif_start",
        "motif_dist2",
    )


def _q_rolling_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-7-day OLS slope of the daily count per type — the
    windowed trend gauge (q101's whole-series slope, localized).
    Day index and counts are integers, so the four window moments
    (k, St, Sx, Stx, Stt) stay exact; slope = (k*Stx - St*Sx) /
    (k*Stt - St^2), ONE division when the denominator is positive
    (needs >= 2 points)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    widx = Window.partitionBy("event_type").orderBy("d")
    base = daily.withColumn("t", F.row_number().over(widx).cast("bigint"))
    wt = Window.partitionBy("event_type").orderBy("t").rowsBetween(-6, 0)
    k = F.count(F.lit(1)).over(wt)
    st = F.sum("t").over(wt)
    sx = F.sum("n").over(wt)
    stx = F.sum(F.col("t") * F.col("n")).over(wt)
    stt = F.sum(F.col("t") * F.col("t")).over(wt)
    den = k * stt - st * st
    slope = F.when(
        den > 0,
        (k * stx - st * sx).cast("double") / den.cast("double"),
    )
    return base.select("event_type", "d", "n", slope.alias("slope7"))


def _q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-design coverage curve: share of the total corpus
    token mass covered by the top-k vocabulary entries for k in
    (5, 10, 20, 50) — the Zipf-coverage table that sizes vocab
    budgets. One explode + one vocab aggregate; rank and cumulative
    sums run over the tiny vocab frame (freq desc, token asc
    deterministic order); integer masses, one division per k."""
    docs = read_table(spark, sf, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wrank = Window.orderBy(F.col("c").desc(), F.col("t"))
    wall = Window.partitionBy()
    ranked = vocab.select(
        "t",
        "c",
        F.row_number().over(wrank).alias("rk"),
        F.sum("c").over(
            wrank.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("c").over(wall).alias("total"),
    )
    ks = spark.createDataFrame([(5,), (10,), (20,), (50,)], ["k"])
    hit = ranked.join(F.broadcast(ks), F.col("rk") == F.col("k"))
    return hit.select(
        F.col("k").cast("int").alias("k"),
        F.col("cum").alias("covered_tokens"),
        F.col("total").alias("total_tokens"),
        (F.col("cum").cast("double") / F.col("total").cast("double")).alias(
            "coverage"
        ),
    )


def _q_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Whitney U between every event-type pair's value
    distributions — the nonparametric two-sample location test (the
    rank-based companion to q199's KS). Kept EXACTLY INTEGER via the
    distinct-value formulation: for each distinct value v,
    2U += cntA(v) * (2 * cntLessB(v) + cntB(v)), where cntLessB is a
    cumulative sum over the value-sorted per-pair support frame — no
    average-rank halves, no floats until the final standardized z
    (one sqrt + one division). At 100 TB the same shape holds: the
    support frame is the per-(type, value) reduction, never raw rows."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    vc = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    # Stack each type's support once per OTHER type (constant-key
    # broadcast hash join onto the tiny distinct-type frame — never an
    # inequality join: the old `vb < v` formulation planned a
    # BroadcastNestedLoopJoin that compared every support row against
    # every other, O(|support|²) — 222 s at sf0.1). Grouping the stack
    # to the per-(pair, value) grain and running ONE cumulative-sum
    # window per pair computes cntLessB in O(|support| · n_types).
    types = vc.select(F.col("event_type").alias("t2")).distinct()
    # the stack key is a constant-0 EQUI key derived from the row
    # (pmod(xxhash64(...), 1)) — a literal key would constant-fold to
    # `true` and plan the BroadcastNestedLoopJoin this rewrite removes;
    # a per-row expression keeps ExtractEquiJoinKeys engaged, so the
    # fan-out is a BroadcastHashJoin probe of the 5-row type table
    k = lambda c: F.pmod(F.xxhash64(F.coalesce(c, F.lit(""))), F.lit(1))
    st = (
        vc.withColumn("__k", k(F.col("event_type")))
        .join(
            F.broadcast(types.withColumn("__k", k(F.col("t2")))), "__k"
        )
        .where(F.col("event_type") != F.col("t2"))
    )
    grid = st.groupBy(
        F.least("event_type", "t2").alias("ta"),
        F.greatest("event_type", "t2").alias("tb"),
        F.col("value").alias("v"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") < F.col("t2"), F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("ca"),
        F.sum(
            F.when(F.col("event_type") > F.col("t2"), F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("cb"),
    )
    w_less = (
        Window.partitionBy("ta", "tb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = grid.withColumn(
        "less_b", F.coalesce(F.sum("cb").over(w_less), F.lit(0))
    )
    # rows with ca = 0 (values present only in B) contribute 0 exactly
    # like the old formulation's absent rows; pairs whose every A value
    # has no B value at-or-below it summed to an empty frame before —
    # the u2 > 0 filter reproduces that presence rule bit-for-bit
    # (any eq/less hit forces u2 >= 1; see the oracle's contrib CTE).
    u2 = (
        contrib.groupBy("ta", "tb")
        .agg(
            F.sum(
                F.col("ca") * (F.lit(2) * F.col("less_b") + F.col("cb"))
            ).alias("u2")
        )
        .where(F.col("u2") > 0)
    )
    sizes = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col("event_type").alias("ta"), F.col("n").alias("na"))
    nb = sizes.select(F.col("event_type").alias("tb"), F.col("n").alias("nb"))
    j = u2.join(F.broadcast(na), "ta").join(F.broadcast(nb), "tb")
    mu2 = F.col("na") * F.col("nb")  # 2 * mean of U
    # z from the no-ties normal approximation (reported as a summary
    # statistic; exact inputs, fixed op order)
    z = (F.col("u2").cast("double") - mu2.cast("double")) / F.sqrt(
        (F.col("na") * F.col("nb") * (F.col("na") + F.col("nb") + 1)).cast(
            "double"
        )
        / F.lit(3.0)
    )
    return j.select(
        "ta",
        "tb",
        "na",
        "nb",
        F.col("u2").alias("u_doubled"),
        z.alias("z"),
    )


def _q_effect_size(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference) for every
    event-type pair — the effect-size companion to q125's proportion
    test: integer-scaled decimal moments per group (value has 2
    decimals), variance numerators exact, then a fixed IEEE epilogue
    d = (mA - mB) / sqrt(((nA-1)sA2 + (nB-1)sB2) / (nA+nB-2))."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    xi = (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi.cast("decimal(38,0)")).alias("sx"),
        F.sum((xi * xi).cast("decimal(38,0)")).alias("sxx"),
    )
    nd = F.col("n").cast("decimal(12,0)")
    var_num = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    mean = F.col("sx").cast("double") / F.col("n").cast("double")
    # sample variance * (n-1) = var_num / n  (in scaled units)
    s2n1 = var_num / F.col("n").cast("double")
    stats = s.select(
        "event_type", "n", mean.alias("m"), s2n1.alias("ssq")
    )
    a = stats.select(
        F.col("event_type").alias("ta"),
        F.col("n").alias("na"),
        F.col("m").alias("ma"),
        F.col("ssq").alias("ssa"),
    )
    b = stats.select(
        F.col("event_type").alias("tb"),
        F.col("n").alias("nb"),
        F.col("m").alias("mb"),
        F.col("ssq").alias("ssb"),
    )
    pooled = F.sqrt(
        (F.col("ssa") + F.col("ssb"))
        / (F.col("na") + F.col("nb") - 2).cast("double")
    )
    # d is scale-invariant: mean diff and pooled SD are both in the
    # x100 scaled units, so the ratio needs no rescale
    d = F.when(pooled > 0, (F.col("ma") - F.col("mb")) / pooled)
    return (
        a.join(b, F.col("ta") < F.col("tb"))
        .select("ta", "tb", "na", "nb", d.alias("cohens_d"))
    )


def _q_cm_frequency(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch frequency estimation
    (operators/sketches.py:cm_partials/cm_estimate): per-day CM
    partials over user ids (the persist-once pattern), merged across
    days by plain SUM, then probed for every user — answers "how often
    did THIS key occur" from kilobyte-scale cells without rescanning
    the fact. Promoted to a hash-gated oracle in round 10 (VERDICT r9
    #2) by running the sketch's PORTABLE md5 bucket hash
    (operators/sketches.py:_cm_bucket) — the DuckDB twin computes the
    identical depth x width cells, so the estimates (collisions and
    all) hash-match; the xxhash64 tier stays the scale default, and
    the no-undercount / additivity / exactness-when-sparse invariants
    remain pinned in tests/test_round4_ops.py."""
    from sensor_time_series_pyspark_spark.operators import (
        cm_estimate,
        cm_merge,
        cm_partials,
    )

    ev = read_table(spark, sf, "events")
    daily = ev.select(
        F.date_trunc("day", F.col("ts")).alias("d"), "user_id"
    )
    parts = cm_partials(
        daily, ["d"], "user_id", depth=4, width=1024, hash_fn="portable"
    )
    merged = cm_merge(parts, by=[])
    probes = ev.select("user_id").distinct()
    est = cm_estimate(
        merged, probes, "user_id", by=[], depth=4, width=1024,
        hash_fn="portable",
    )
    return est.select(
        F.col("item").alias("user_id"), "estimate"
    ).orderBy("user_id")


def _q_horvitz_thompson(spark: SparkSession, sf: str) -> DataFrame:
    """Horvitz-Thompson estimation from the deterministic md5 sample:
    a ~10% hash sample of lineitem (same key -> same decision on every
    engine) estimates the full-population revenue total as
    sum(x_i / p_i) = sum(x_i) / 0.1 — the survey-sampling estimator
    behind every "query the sample, report the population" dashboard.
    Reports estimate, exact truth, and relative error per return flag,
    so the query itself audits the estimator. Decimal sums; two fixed
    final divisions."""
    li = read_table(spark, sf, "lineitem")
    keep = (
        F.substring(
            F.md5(F.concat(F.lit("ht1"), F.col("l_orderkey").cast("string"),
                           F.lit("-"), F.col("l_linenumber").cast("string"))),
            1,
            8,
        )
        < _thr(0.1)
    )
    rev = _revenue().cast(DEC)
    agg = li.groupBy("l_returnflag").agg(
        F.sum(F.when(keep, rev).otherwise(F.lit(0).cast(DEC))).alias("__s"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.sum(rev).alias("__t"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    est = F.col("__s").cast("double") / F.lit(0.1)
    truth = F.col("__t").cast("double")
    return agg.select(
        "l_returnflag",
        "n_sampled",
        "n_rows",
        est.alias("ht_estimate"),
        truth.alias("exact_total"),
        ((est - truth) / truth).alias("rel_error"),
    )


def _q_half_sample_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic half-sample bootstrap CI for mean daily revenue:
    B = 50 replicates, each keeping orders whose md5(replicate || key)
    falls below 0.5 (doubling the kept mass) — the hash-seeded,
    engine-portable stand-in for the Poisson bootstrap (the standard
    at-scale resampling scheme; RNG-free so runs reproduce anywhere).
    The replicate frame is B x days rows; p5/p50/p95 of the replicate
    means give the interval. Decimal sums, exact percentiles over the
    50-value replicate frame."""
    o = read_table(spark, sf, "orders")
    reps = spark.range(50).select(F.col("id").cast("int").alias("rep"))
    j = o.crossJoin(F.broadcast(reps))
    keep = (
        F.substring(
            F.md5(
                F.concat(
                    F.lit("hs"),
                    F.col("rep").cast("string"),
                    F.lit("-"),
                    F.col("o_orderkey").cast("string"),
                )
            ),
            1,
            8,
        )
        < _thr(0.5)
    )
    kept = j.where(keep)
    per_rep = kept.groupBy("rep").agg(
        (
            F.lit(2.0)
            * F.sum(F.col("o_totalprice").cast(DEC)).cast("double")
            / F.count_distinct(F.to_date("o_orderdate")).cast("double")
        ).alias("mean_daily_rev")
    )
    return per_rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        F.percentile("mean_daily_rev", F.lit(0.05)).alias("ci_lo"),
        F.median("mean_daily_rev").alias("ci_mid"),
        F.percentile("mean_daily_rev", F.lit(0.95)).alias("ci_hi"),
    )


register_many(
    {
        'q244_abc_classification': _q_abc_classification,
        'q245_vocab_overlap': _q_vocab_overlap,
        'q246_growth_accounting': _q_growth_accounting,
        'q247_anomaly_ensemble': _q_anomaly_ensemble,
        'q248_bollinger': _q_bollinger,
        'q249_simpson_diversity': _q_simpson_diversity,
        'q250_ttr_hapax': _q_ttr_hapax,
        'q251_temperature_sampling': _q_temperature_sampling,
        'q252_lexical_complexity': _q_lexical_complexity,
        'q253_daily_mode': _q_daily_mode,
        'q254_hour_weekday_heatmap': _q_hour_weekday_heatmap,
        'q255_pettitt': _q_pettitt,
        'q256_lang_purity': _q_lang_purity,
        'q257_knn_label_agreement': _q_knn_label_agreement,
        'q258_prefix_dup': _q_prefix_dup,
        'q259_peak_concurrency': _q_peak_concurrency,
        'q260_weekend_lift': _q_weekend_lift,
        'q261_spc_rules': _q_spc_rules,
        'q262_wow_overlap': _q_wow_overlap,
        'q263_drawdown': _q_drawdown,
        'q264_kfold_balance': _q_kfold_balance,
        'q265_burstiness': _q_burstiness,
        'q266_tukey_fences': _q_tukey_fences,
        'q267_page_hinkley': _q_page_hinkley,
        'q268_capture_recapture': _q_capture_recapture,
        'q269_odds_ratio_terms': _q_odds_ratio_terms,
        'q270_emd_drift': _q_emd_drift,
        'q271_bow_dup': _q_bow_dup,
        'q272_stride_sample': _q_stride_sample,
        'q273_churn_risk': _q_churn_risk,
        'q274_discount_elasticity': _q_discount_elasticity,
        'q275_centroid_drift': _q_centroid_drift,
        'q276_matrix_profile': _q_matrix_profile,
        'q277_rolling_slope': _q_rolling_slope,
        'q278_vocab_coverage': _q_vocab_coverage,
        'q279_mann_whitney': _q_mann_whitney,
        'q280_effect_size': _q_effect_size,
        'q281_cm_frequency': _q_cm_frequency,
        'q282_horvitz_thompson': _q_horvitz_thompson,
        'q283_half_sample_ci': _q_half_sample_ci,
    },
    {
        'q244_abc_classification': f"""
            WITH per_part AS (
              SELECT l_partkey, sum({_REV_SQL}) AS rev
              FROM lineitem GROUP BY l_partkey
            ),
            classified AS (
              SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue,
                CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
                / CAST(sum(rev) OVER () AS DOUBLE) AS cum_share
              FROM per_part
            ),
            tagged AS (
              SELECT revenue,
                CASE WHEN cum_share <= 0.80E0 THEN 'A'
                     WHEN cum_share <= 0.95E0 THEN 'B'
                     ELSE 'C' END AS abc
              FROM classified
            )
            SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
              CAST(sum(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE)
                AS class_revenue
            FROM tagged GROUP BY abc
        """,
        'q245_vocab_overlap': r"""
            WITH st AS (
              SELECT DISTINCT source,
                unnest(list_distinct(list_filter(
                  string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS t
              FROM documents
            ),
            sizes AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_vocab
              FROM st GROUP BY source
            ),
            inter AS (
              SELECT a.source AS sa, b.source AS sb,
                CAST(count(*) AS BIGINT) AS inter
              FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
              GROUP BY 1, 2
            )
            SELECT sa, sb, inter,
              CAST(inter AS DOUBLE)
                / CAST(na.n_vocab + nb.n_vocab - inter AS DOUBLE)
                AS vocab_jaccard
            FROM inter
            JOIN sizes na ON sa = na.source
            JOIN sizes nb ON sb = nb.source
        """,
        'q246_growth_accounting': """
            WITH wk AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS w
              FROM events
            ),
            first_w AS (
              SELECT user_id, min(w) AS fw FROM wk GROUP BY user_id
            ),
            cur AS (
              SELECT wk.w,
                wk.w = fw AS is_new,
                p.user_id IS NOT NULL AS was_active
              FROM wk
              JOIN first_w USING (user_id)
              LEFT JOIN wk p ON p.user_id = wk.user_id
                AND p.w + INTERVAL 7 DAY = wk.w
            ),
            per_week AS (
              SELECT w,
                CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
                  AS new_users,
                CAST(sum(CASE WHEN NOT is_new AND was_active
                     THEN 1 ELSE 0 END) AS BIGINT) AS retained,
                CAST(sum(CASE WHEN NOT is_new AND NOT was_active
                     THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
              FROM cur GROUP BY w
            ),
            churn AS (
              SELECT a.w + INTERVAL 7 DAY AS w,
                CAST(count(*) AS BIGINT) AS churned
              FROM wk a
              WHERE NOT EXISTS (
                SELECT 1 FROM wk b
                WHERE b.user_id = a.user_id
                  AND b.w = a.w + INTERVAL 7 DAY
              )
              GROUP BY a.w + INTERVAL 7 DAY
            )
            SELECT per_week.w, new_users, retained, resurrected,
              coalesce(churned, 0) AS churned
            FROM per_week LEFT JOIN churn ON per_week.w = churn.w
        """,
        'q247_anomaly_ensemble': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            scored AS (
              SELECT event_type, d, n,
                CASE WHEN
                  CAST(sum(n) OVER wt AS DOUBLE) / count(*) OVER wt
                    IS NOT NULL
                  AND CAST(n AS DOUBLE) > 1.05E0
                    * (CAST(sum(n) OVER wt AS DOUBLE) / count(*) OVER wt)
                THEN 1 ELSE 0 END AS v_spike,
                CASE WHEN max(n) OVER wt IS NOT NULL
                  AND n > max(n) OVER wt THEN 1 ELSE 0 END AS v_break,
                CASE WHEN
                  CAST(count(*) OVER wd * sum(n * n) OVER wd
                    - sum(n) OVER wd * sum(n) OVER wd AS DOUBLE) > 0
                  AND abs((CAST(n AS DOUBLE)
                      - CAST(sum(n) OVER wd AS DOUBLE)
                        / CAST(count(*) OVER wd AS DOUBLE))
                    / (sqrt(CAST(count(*) OVER wd * sum(n * n) OVER wd
                        - sum(n) OVER wd * sum(n) OVER wd AS DOUBLE))
                      / CAST(count(*) OVER wd AS DOUBLE))) > 1.5E0
                THEN 1 ELSE 0 END AS v_z
              FROM daily
              WINDOW wt AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
              wd AS (PARTITION BY d)
            )
            SELECT event_type, d, n,
              CAST(v_spike AS INT) AS v_spike,
              CAST(v_break AS INT) AS v_break,
              CAST(v_z AS INT) AS v_z,
              CAST(v_spike + v_break + v_z AS INT) AS votes
            FROM scored
            WHERE v_spike + v_break + v_z >= 2
        """,
        'q248_bollinger': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            banded AS (
              SELECT event_type, d, n,
                count(*) OVER wt AS k,
                sum(n) OVER wt AS s1,
                sum(n * n) OVER wt AS s2
              FROM daily
              WINDOW wt AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            ),
            calc AS (
              SELECT event_type, d, n,
                CASE WHEN k >= 3 THEN
                  CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) END AS mid,
                CASE WHEN k >= 3 THEN
                  CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)
                  + 2E0 * (sqrt(CAST(k * s2 - s1 * s1 AS DOUBLE))
                           / CAST(k AS DOUBLE)) END AS hi,
                CASE WHEN k >= 3 THEN
                  CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)
                  - 2E0 * (sqrt(CAST(k * s2 - s1 * s1 AS DOUBLE))
                           / CAST(k AS DOUBLE)) END AS lo
              FROM banded
            )
            SELECT event_type, d, n, mid, hi, lo,
              CAST(CASE WHEN hi IS NOT NULL AND CAST(n AS DOUBLE) > hi
                THEN 1 ELSE 0 END AS INT) AS break_up,
              CAST(CASE WHEN lo IS NOT NULL AND CAST(n AS DOUBLE) < lo
                THEN 1 ELSE 0 END AS INT) AS break_dn
            FROM calc
        """,
        'q249_simpson_diversity': """
            WITH per_type AS (
              SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT user_id,
              CAST(sum(n) AS BIGINT) AS n_events,
              CAST(count(*) AS BIGINT) AS n_types,
              1E0 - CAST(sum(n * n) AS DOUBLE)
                / CAST(sum(n) * sum(n) AS DOUBLE) AS simpson
            FROM per_type GROUP BY user_id
        """,
        'q250_ttr_hapax': """
            WITH tok AS (
              SELECT source,
                unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x <> '')) AS t
              FROM documents
            ),
            src_tok AS (
              SELECT source, t, CAST(count(*) AS BIGINT) AS n
              FROM tok GROUP BY 1, 2
            ),
            corpus AS (
              SELECT t, CAST(count(*) AS BIGINT) AS cn FROM tok GROUP BY t
            )
            SELECT source,
              CAST(sum(n) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS vocab,
              CAST(sum(CASE WHEN cn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS hapax,
              CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS ttr,
              CAST(sum(CASE WHEN cn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS hapax_share
            FROM src_tok JOIN corpus USING (t)
            GROUP BY source
        """,
        'q251_temperature_sampling': """
            WITH per_src AS (
              SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(length(list_filter(
                  string_split_regex(trim(text), '\\s+'), x -> x <> '')))
                  AS BIGINT) AS n_tokens
              FROM documents GROUP BY source
            )
            SELECT source, n_docs, n_tokens,
              sqrt(CAST(n_tokens AS DOUBLE))
                / sqrt(CAST(max(n_tokens) OVER () AS DOUBLE)) AS rel_weight
            FROM per_src
        """,
        'q252_lexical_complexity': """
            WITH per_doc AS (
              SELECT lang,
                CAST(length(list_filter(
                  string_split_regex(trim(text), '\\s+'), x -> x <> ''))
                  AS BIGINT) AS words,
                CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                  AS BIGINT) AS chars,
                CAST(length(regexp_extract_all(text, '([aeiou]+)', 1))
                  AS BIGINT) AS vgroups
              FROM documents
            )
            SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(words) AS BIGINT) AS n_words,
              CAST(sum(chars) AS DOUBLE) / CAST(sum(words) AS DOUBLE)
                AS chars_per_word,
              CAST(sum(vgroups) AS DOUBLE) / CAST(sum(words) AS DOUBLE)
                AS syllables_per_word
            FROM per_doc GROUP BY lang
        """,
        'q253_daily_mode': """
            WITH daily AS (
              SELECT date_trunc('day', ts) AS d, event_type,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT d, event_type AS mode_type, n FROM (
              SELECT d, event_type, n,
                row_number() OVER (PARTITION BY d
                  ORDER BY n DESC, event_type) AS rk
              FROM daily
            ) WHERE rk = 1
        """,
        'q254_hour_weekday_heatmap': """
            WITH cells AS (
              SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
                CAST(hour(ts) AS INT) AS hod,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT dow, hod, n,
              CAST(n AS DOUBLE)
                / CAST(sum(n) OVER (PARTITION BY dow) AS DOUBLE) AS dow_share
            FROM cells
        """,
        'q255_pettitt': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            r AS (
              SELECT a.event_type, a.d AS di,
                CAST(sum(sign(a.n - b.n)) AS BIGINT) AS r
              FROM daily a JOIN daily b
                ON a.event_type = b.event_type AND a.d <> b.d
              GROUP BY 1, 2
            ),
            u AS (
              SELECT event_type, di,
                -sum(r) OVER (PARTITION BY event_type ORDER BY di
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u,
                max(di) OVER (PARTITION BY event_type) AS maxd
              FROM r
            ),
            cand AS (
              SELECT event_type, di, u,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY abs(u) DESC, di) AS rk,
                CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                  AS n_candidates
              FROM u WHERE di <> maxd
            )
            SELECT event_type, di AS change_day,
              CAST(abs(u) AS BIGINT) AS k_stat, n_candidates
            FROM cand WHERE rk = 1
        """,
        'q256_lang_purity': """
            WITH sl AS (
              SELECT source, lang, CAST(count(*) AS BIGINT) AS n
              FROM documents GROUP BY 1, 2
            ),
            ranked AS (
              SELECT source, lang, n,
                row_number() OVER (PARTITION BY source
                  ORDER BY n DESC, lang) AS rk,
                CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS total
              FROM sl
            )
            SELECT source, lang AS dominant_lang, total AS n_docs,
              CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS purity,
              CAST(total - n AS BIGINT) AS n_off_dominant
            FROM ranked WHERE rk = 1
        """,
        'q257_knn_label_agreement': """
            WITH v AS (
              SELECT vec_id, label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            scored AS (
              SELECT q.vec_id AS qid, q.label AS qlabel,
                c.vec_id AS vec_id, c.label AS label,
                list_dot_product(q.e, c.e)
                  / (sqrt(list_dot_product(q.e, q.e))
                     * sqrt(list_dot_product(c.e, c.e))) AS cosine
              FROM v q JOIN v c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 50
            ),
            top AS (
              SELECT qid, qlabel, label FROM (
                SELECT qid, qlabel, label,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rk
                FROM scored
              ) WHERE rk <= 3
            )
            SELECT qid, qlabel,
              CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
              CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS agreement
            FROM top GROUP BY qid, qlabel
        """,
        'q258_prefix_dup': """
            WITH pre AS (
              SELECT doc_id,
                array_to_string(list_slice(list_filter(
                  string_split_regex(trim(text), '\\s+'), x -> x <> ''),
                  1, 8), ' ') AS prefix
              FROM documents
            )
            SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
              min(doc_id) AS rep_doc
            FROM pre GROUP BY prefix HAVING count(*) >= 2
        """,
        'q259_peak_concurrency': """
            WITH marked AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sid AS (
              SELECT user_id, ts,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM marked
            ),
            sess AS (
              SELECT user_id, sid, min(ts) AS t_start, max(ts) AS t_end
              FROM sid GROUP BY 1, 2
            ),
            bounds AS (
              SELECT t_start AS t, 1 AS delta FROM sess
              UNION ALL
              SELECT t_end AS t, -1 AS delta FROM sess
            ),
            conc AS (
              SELECT t,
                CAST(sum(delta) OVER (ORDER BY t, delta
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS conc
              FROM bounds
            )
            SELECT date_trunc('day', t) AS d,
              max(conc) AS peak_concurrency
            FROM conc GROUP BY 1
        """,
        'q260_weekend_lift': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            agg AS (
              SELECT event_type,
                sum(CASE WHEN dayofweek(d) IN (0, 6) THEN n ELSE 0 END)
                  AS we_n,
                sum(CASE WHEN dayofweek(d) IN (0, 6) THEN 1 ELSE 0 END)
                  AS we_days,
                sum(CASE WHEN dayofweek(d) NOT IN (0, 6) THEN n ELSE 0 END)
                  AS wd_n,
                sum(CASE WHEN dayofweek(d) NOT IN (0, 6) THEN 1 ELSE 0 END)
                  AS wd_days
              FROM daily GROUP BY event_type
            )
            SELECT event_type,
              CAST(we_n AS DOUBLE) / CAST(we_days AS DOUBLE) AS weekend_avg,
              CAST(wd_n AS DOUBLE) / CAST(wd_days AS DOUBLE) AS weekday_avg,
              (CAST(we_n AS DOUBLE) / CAST(we_days AS DOUBLE))
                / (CAST(wd_n AS DOUBLE) / CAST(wd_days AS DOUBLE))
                AS weekend_lift
            FROM agg
        """,
        'q261_spc_rules': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            base AS (
              SELECT event_type, d, n,
                (CAST(n AS DOUBLE)
                  - CAST(sum(n) OVER wall AS DOUBLE)
                    / CAST(count(*) OVER wall AS DOUBLE))
                / (sqrt(CAST(count(*) OVER wall * sum(n * n) OVER wall
                    - sum(n) OVER wall * sum(n) OVER wall AS DOUBLE))
                  / CAST(count(*) OVER wall AS DOUBLE)) AS z
              FROM daily
              WINDOW wall AS (PARTITION BY event_type)
            ),
            scored AS (
              SELECT event_type, d, n, z,
                CASE WHEN abs(z) > 3E0 THEN 1 ELSE 0 END AS rule1,
                CASE WHEN
                  sum(CASE WHEN z > 2E0 THEN 1 ELSE 0 END) OVER w3 >= 2
                  OR sum(CASE WHEN z < -2E0 THEN 1 ELSE 0 END) OVER w3 >= 2
                THEN 1 ELSE 0 END AS rule2,
                CASE WHEN
                  sum(CASE WHEN z > 0E0 THEN 1 ELSE 0 END) OVER w8 = 8
                  OR sum(CASE WHEN z < 0E0 THEN 1 ELSE 0 END) OVER w8 = 8
                THEN 1 ELSE 0 END AS rule4
              FROM base
              WINDOW w3 AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
              w8 AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
            )
            SELECT event_type, d, n, z,
              CAST(rule1 AS INT) AS rule1,
              CAST(rule2 AS INT) AS rule2,
              CAST(rule4 AS INT) AS rule4
            FROM scored
        """,
        'q262_wow_overlap': """
            WITH wk AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS w
              FROM events
            ),
            sizes AS (
              SELECT w, CAST(count(*) AS BIGINT) AS n_users
              FROM wk GROUP BY w
            ),
            inter AS (
              SELECT a.w, CAST(count(*) AS BIGINT) AS inter
              FROM wk a JOIN wk b
                ON a.user_id = b.user_id AND b.w = a.w + INTERVAL 7 DAY
              GROUP BY a.w
            )
            SELECT a.w AS week,
              a.n_users AS users_this,
              b.n_users AS users_next,
              coalesce(inter, 0) AS retained,
              CAST(coalesce(inter, 0) AS DOUBLE)
                / CAST(a.n_users + b.n_users - coalesce(inter, 0) AS DOUBLE)
                AS wow_jaccard
            FROM sizes a
            JOIN sizes b ON b.w = a.w + INTERVAL 7 DAY
            LEFT JOIN inter ON inter.w = a.w
        """,
        'q263_drawdown': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            dd AS (
              SELECT event_type, d, n,
                max(n) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
              FROM daily
            ),
            scored AS (
              SELECT event_type, d, n, peak,
                CAST(peak - n AS DOUBLE) / CAST(peak AS DOUBLE) AS dd,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY CAST(peak - n AS DOUBLE) / CAST(peak AS DOUBLE)
                    DESC, d) AS rk
              FROM dd
            )
            SELECT event_type, d AS worst_day, n AS trough, peak,
              dd AS max_drawdown
            FROM scored WHERE rk = 1
        """,
        'q264_kfold_balance': """
            WITH assigned AS (
              SELECT user_id, event_type,
                CASE WHEN substr(md5('cv1' || CAST(user_id AS VARCHAR)), 1, 8)
                       < '33333333' THEN 0
                     WHEN substr(md5('cv1' || CAST(user_id AS VARCHAR)), 1, 8)
                       < '66666666' THEN 1
                     WHEN substr(md5('cv1' || CAST(user_id AS VARCHAR)), 1, 8)
                       < '99999999' THEN 2
                     WHEN substr(md5('cv1' || CAST(user_id AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 3
                     ELSE 4 END AS fold
              FROM events
            )
            SELECT CAST(fold AS INT) AS fold, event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM assigned GROUP BY fold, event_type
        """,
        'q265_burstiness': """
            WITH gaps AS (
              SELECT user_id,
                CAST(floor(epoch(ts)) AS BIGINT)
                  - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id))) AS BIGINT) AS g
              FROM events
            ),
            agg AS (
              SELECT user_id,
                CAST(count(*) AS BIGINT) AS k,
                CAST(sum(g) AS BIGINT) AS s1,
                CAST(sum(g * g) AS BIGINT) AS s2
              FROM gaps WHERE g IS NOT NULL
              GROUP BY user_id HAVING count(*) >= 2
            )
            SELECT user_id, k AS n_gaps,
              CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS mean_gap_s,
              sqrt(CAST(k * s2 - s1 * s1 AS DOUBLE)) / CAST(k AS DOUBLE)
                AS std_gap_s,
              (sqrt(CAST(k * s2 - s1 * s1 AS DOUBLE)) / CAST(k AS DOUBLE)
                - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
              / (sqrt(CAST(k * s2 - s1 * s1 AS DOUBLE)) / CAST(k AS DOUBLE)
                + CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)) AS burstiness
            FROM agg
        """,
        'q266_tukey_fences': """
            WITH q AS (
              SELECT event_type,
                quantile_cont(value, 0.25) AS q1,
                quantile_cont(value, 0.75) AS q3,
                CAST(count(*) AS BIGINT) AS n
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type
            ),
            fenced AS (
              SELECT event_type, q1, q3, n,
                q1 - 1.5E0 * (q3 - q1) AS lo,
                q3 + 1.5E0 * (q3 - q1) AS hi
              FROM q
            ),
            outliers AS (
              SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_outliers
              FROM events e JOIN fenced f ON e.event_type = f.event_type
              WHERE e.value IS NOT NULL
                AND (e.value < f.lo OR e.value > f.hi)
              GROUP BY e.event_type
            )
            SELECT f.event_type, n, q1, q3, lo, hi,
              coalesce(n_outliers, 0) AS n_outliers
            FROM fenced f LEFT JOIN outliers o
              ON f.event_type = o.event_type
        """,
        'q267_page_hinkley': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            base AS (
              SELECT event_type, d, n,
                CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)
                  / CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE)
                  AS mean_n
              FROM daily
            ),
            stepped AS (
              SELECT event_type, d, n, mean_n,
                sum(CAST(n AS DOUBLE) - mean_n) OVER (
                  PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
              FROM base
            )
            SELECT event_type, d, n,
              m - min(m) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
              CAST(CASE WHEN
                m - min(m) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                > 0.5E0 * mean_n
              THEN 1 ELSE 0 END AS INT) AS alarm
            FROM stepped
        """,
        'q268_capture_recapture': """
            WITH wk AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS w
              FROM events
            ),
            sizes AS (
              SELECT w, CAST(count(*) AS BIGINT) AS n1
              FROM wk GROUP BY w
            ),
            m AS (
              SELECT a.w, CAST(count(*) AS BIGINT) AS m
              FROM wk a JOIN wk b
                ON a.user_id = b.user_id AND b.w = a.w + INTERVAL 7 DAY
              GROUP BY a.w
            )
            SELECT a.w AS week, a.n1, b.n1 AS n2, coalesce(m, 0) AS m,
              CAST((a.n1 + 1) * (b.n1 + 1) AS DOUBLE)
                / CAST(coalesce(m, 0) + 1 AS DOUBLE) - 1E0 AS n_hat,
              CAST(a.n1 + b.n1 - coalesce(m, 0) AS DOUBLE)
                / (CAST((a.n1 + 1) * (b.n1 + 1) AS DOUBLE)
                   / CAST(coalesce(m, 0) + 1 AS DOUBLE) - 1E0) AS coverage
            FROM sizes a
            JOIN sizes b ON b.w = a.w + INTERVAL 7 DAY
            LEFT JOIN m ON m.w = a.w
        """,
        'q269_odds_ratio_terms': """
            WITH tok AS (
              SELECT lang,
                unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x <> '')) AS t
              FROM documents
            ),
            lt AS (
              SELECT lang, t, CAST(count(*) AS BIGINT) AS a
              FROM tok GROUP BY 1, 2
            ),
            tot_l AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS la
              FROM tok GROUP BY lang
            ),
            tot_t AS (
              SELECT t, CAST(count(*) AS BIGINT) AS ct FROM tok GROUP BY t
            ),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS gn FROM tok),
            j AS (
              SELECT lt.lang, lt.t, lt.a,
                (CAST(lt.a AS DOUBLE) + 0.5E0)
                  * (CAST((gn - la) - (ct - a) AS DOUBLE) + 0.5E0)
                / ((CAST(ct - a AS DOUBLE) + 0.5E0)
                  * (CAST(la - a AS DOUBLE) + 0.5E0)) AS odds_ratio
              FROM lt
              JOIN tot_l USING (lang)
              JOIN tot_t USING (t)
              CROSS JOIN tot
              WHERE lt.a >= 5
            )
            SELECT lang, t AS token, a, odds_ratio, CAST(rk AS INT) AS rk
            FROM (
              SELECT lang, t, a, odds_ratio,
                row_number() OVER (PARTITION BY lang
                  ORDER BY odds_ratio DESC, t) AS rk
              FROM j
            ) WHERE rk <= 5
        """,
        'q270_emd_drift': """
            WITH binned AS (
              SELECT event_type,
                CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a'
                     ELSE 'b' END AS half,
                CAST(floor(value / 5.0E0) AS BIGINT) AS bin
              FROM events WHERE value IS NOT NULL
            ),
            counts AS (
              SELECT event_type, half, bin, CAST(count(*) AS BIGINT) AS n
              FROM binned GROUP BY 1, 2, 3
            ),
            shares AS (
              SELECT event_type, half, bin,
                CAST(n AS DOUBLE) / CAST(sum(n) OVER (
                  PARTITION BY event_type, half) AS DOUBLE) AS p
              FROM counts
            ),
            grid AS (
              SELECT event_type, bin,
                coalesce(sum(CASE WHEN half = 'a' THEN p END), 0E0) AS pa,
                coalesce(sum(CASE WHEN half = 'b' THEN p END), 0E0) AS pb
              FROM shares GROUP BY 1, 2
            ),
            diffs AS (
              SELECT event_type, bin,
                sum(pa - pb) OVER (PARTITION BY event_type ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cdf_gap
              FROM grid
            )
            SELECT event_type,
              CAST(sum(CAST(abs(cdf_gap) AS DECIMAL(38,6))) AS DOUBLE)
                * 5E0 AS emd,
              CAST(count(*) AS BIGINT) AS n_bins
            FROM diffs GROUP BY event_type
        """,
        'q271_bow_dup': """
            WITH fp AS (
              SELECT doc_id, source,
                md5(array_to_string(list_sort(list_distinct(list_filter(
                  string_split_regex(trim(text), '\\s+'), x -> x <> ''))),
                  ' ')) AS bow_fp
              FROM documents
            )
            SELECT bow_fp,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              min(doc_id) AS rep_doc
            FROM fp GROUP BY bow_fp HAVING count(*) >= 2
        """,
        'q272_stride_sample': """
            SELECT user_id, event_id, CAST(rn AS INT) AS rn FROM (
              SELECT user_id, event_id,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn % 10 = 1
        """,
        'q273_churn_risk': """
            WITH base AS (
              SELECT user_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                CAST(floor(epoch(ts)) AS BIGINT)
                  - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id))) AS BIGINT) AS g
              FROM events
            ),
            horizon AS (SELECT max(tsec) AS h FROM base),
            per_user AS (
              SELECT user_id,
                CAST(count(*) AS BIGINT) AS n_events,
                max(tsec) AS last_t,
                quantile_cont(g, 0.5) AS median_gap_s,
                count(g) AS n_gaps
              FROM base GROUP BY user_id HAVING count(g) >= 2
            )
            SELECT user_id, n_events,
              CAST(h - last_t AS BIGINT) AS idle_s,
              median_gap_s,
              CAST(h - last_t AS DOUBLE) / median_gap_s AS risk_ratio,
              CAST(CASE WHEN CAST(h - last_t AS DOUBLE) / median_gap_s
                > 3E0 THEN 1 ELSE 0 END AS INT) AS at_risk
            FROM per_user CROSS JOIN horizon
        """,
        'q274_discount_elasticity': """
            WITH ints AS (
              SELECT p_brand,
                CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0)) AS xi,
                CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0)) AS yi
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
            ),
            s AS (
              SELECT p_brand, count(*) AS n,
                sum(CAST(xi AS DECIMAL(38,0))) AS sx,
                sum(CAST(yi AS DECIMAL(38,0))) AS sy,
                sum(CAST(xi * xi AS DECIMAL(38,0))) AS sxx,
                sum(CAST(yi * yi AS DECIMAL(38,0))) AS syy,
                sum(CAST(xi * yi AS DECIMAL(38,0))) AS sxy
              FROM ints GROUP BY p_brand
            ),
            e AS (
              SELECT p_brand, n,
                CAST(CAST(CAST(n AS DECIMAL(12,0)) * CAST(sxy AS DECIMAL(24,0)) AS DECIMAL(32,0))
                     - CAST(CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(32,0)) AS DOUBLE) AS cov_n,
                CAST(CAST(CAST(n AS DECIMAL(12,0)) * CAST(sxx AS DECIMAL(24,0)) AS DECIMAL(32,0))
                     - CAST(CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS DECIMAL(32,0)) AS DOUBLE) AS var_x,
                CAST(CAST(CAST(n AS DECIMAL(12,0)) * CAST(syy AS DECIMAL(24,0)) AS DECIMAL(32,0))
                     - CAST(CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(32,0)) AS DOUBLE) AS var_y
              FROM s
            )
            SELECT p_brand, n,
              CASE WHEN sqrt(var_x) * sqrt(var_y) > 0
                   THEN cov_n / (sqrt(var_x) * sqrt(var_y)) END AS corr
            FROM e
        """,
        'q275_centroid_drift': """
            WITH c AS (
              SELECT label,
                CASE WHEN vec_id < 250 THEN 'a' ELSE 'b' END AS half,
                i AS dim,
                sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,8)))
                  AS s
              FROM embeddings,
                unnest(generate_series(1, len(embedding))) AS t(i)
              GROUP BY 1, 2, 3
            ),
            v AS (
              SELECT label, half, list(CAST(s AS DOUBLE) ORDER BY dim)
                AS vec
              FROM c GROUP BY label, half
            )
            SELECT a.label,
              list_dot_product(a.vec, b.vec)
                / (sqrt(list_dot_product(a.vec, a.vec))
                   * sqrt(list_dot_product(b.vec, b.vec))) AS drift_cosine
            FROM v a JOIN v b
              ON a.label = b.label AND a.half = 'a' AND b.half = 'b'
        """,
        'q276_matrix_profile': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            idx AS (
              SELECT event_type, d, n,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY d) AS BIGINT) AS idx,
                CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                  AS cnt
              FROM daily
            ),
            el AS (
              SELECT a.event_type AS et, a.idx AS s,
                b.idx - a.idx AS p, b.n AS v
              FROM idx a JOIN idx b
                ON a.event_type = b.event_type
                AND b.idx >= a.idx AND b.idx < a.idx + 7
              WHERE a.idx <= a.cnt - 6
            ),
            d2 AS (
              SELECT e1.et, e1.s AS s1, e2.s AS s2,
                CAST(sum((e1.v - e2.v) * (e1.v - e2.v)) AS BIGINT)
                  AS dist2
              FROM el e1 JOIN el e2
                ON e1.et = e2.et AND e1.p = e2.p AND e1.s <> e2.s
              GROUP BY 1, 2, 3
            ),
            nn AS (
              SELECT et, s1, min(dist2) AS nn_dist2
              FROM d2 GROUP BY 1, 2
            ),
            ranked AS (
              SELECT et, s1, nn_dist2,
                row_number() OVER (PARTITION BY et
                  ORDER BY nn_dist2 DESC, s1) AS rd,
                row_number() OVER (PARTITION BY et
                  ORDER BY nn_dist2 ASC, s1) AS rm
              FROM nn
            )
            SELECT dis.et AS event_type,
              dd.d AS discord_start, dis.nn_dist2 AS discord_dist2,
              md.d AS motif_start, mot.nn_dist2 AS motif_dist2
            FROM ranked dis
            JOIN idx dd ON dis.et = dd.event_type AND dis.s1 = dd.idx
            JOIN ranked mot ON mot.et = dis.et AND mot.rm = 1
            JOIN idx md ON mot.et = md.event_type AND mot.s1 = md.idx
            WHERE dis.rd = 1
        """,
        'q277_rolling_slope': """
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
            )
            SELECT event_type, d, n,
              CASE WHEN count(*) OVER wt * sum(t * t) OVER wt
                     - sum(t) OVER wt * sum(t) OVER wt > 0
                THEN CAST(count(*) OVER wt * sum(t * n) OVER wt
                    - sum(t) OVER wt * sum(n) OVER wt AS DOUBLE)
                  / CAST(count(*) OVER wt * sum(t * t) OVER wt
                    - sum(t) OVER wt * sum(t) OVER wt AS DOUBLE)
              END AS slope7
            FROM base
            WINDOW wt AS (PARTITION BY event_type ORDER BY t
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        'q278_vocab_coverage': """
            WITH vocab AS (
              SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT unnest(list_filter(
                  string_split_regex(trim(text), '\\s+'), x -> x <> ''))
                  AS t
                FROM documents
              ) GROUP BY t
            ),
            ranked AS (
              SELECT t, c,
                CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT)
                  AS rk,
                CAST(sum(c) OVER (ORDER BY c DESC, t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(c) OVER () AS BIGINT) AS total
              FROM vocab
            )
            SELECT CAST(k AS INT) AS k,
              cum AS covered_tokens, total AS total_tokens,
              CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
            FROM ranked
            JOIN (VALUES (5), (10), (20), (50)) AS ks(k) ON rk = k
        """,
        'q279_mann_whitney': """
            WITH vc AS (
              SELECT event_type, value, CAST(count(*) AS BIGINT) AS c
              FROM events WHERE value IS NOT NULL
              GROUP BY 1, 2
            ),
            less AS (
              SELECT a.event_type AS ta, b.event_type AS tb,
                a.value AS v, a.c AS ca,
                CAST(sum(b.c) AS BIGINT) AS less_b
              FROM vc a JOIN vc b
                ON a.event_type < b.event_type AND b.value < a.value
              GROUP BY 1, 2, 3, 4
            ),
            eq AS (
              SELECT a.event_type AS ta, b.event_type AS tb,
                a.value AS v, b.c AS cb
              FROM vc a JOIN vc b
                ON a.event_type < b.event_type AND a.value = b.value
            ),
            contrib AS (
              SELECT e.ta, e.tb, a.c AS ca, e.cb AS eq_b,
                coalesce(l.less_b, 0) AS less_b
              FROM eq e
              JOIN vc a ON a.event_type = e.ta AND a.value = e.v
              LEFT JOIN less l
                ON l.ta = e.ta AND l.tb = e.tb AND l.v = e.v
              UNION ALL
              SELECT l.ta, l.tb, l.ca, 0 AS eq_b, l.less_b
              FROM less l
              WHERE NOT EXISTS (
                SELECT 1 FROM eq e
                WHERE e.ta = l.ta AND e.tb = l.tb AND e.v = l.v
              )
            ),
            u2 AS (
              SELECT ta, tb,
                CAST(sum(ca * (2 * less_b + eq_b)) AS BIGINT) AS u2
              FROM contrib GROUP BY 1, 2
            ),
            sizes AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1
            )
            SELECT ta, tb, na.n AS na, nb.n AS nb,
              u2 AS u_doubled,
              (CAST(u2 AS DOUBLE) - CAST(na.n * nb.n AS DOUBLE))
                / sqrt(CAST(na.n * nb.n * (na.n + nb.n + 1) AS DOUBLE)
                       / 3E0) AS z
            FROM u2
            JOIN sizes na ON ta = na.event_type
            JOIN sizes nb ON tb = nb.event_type
        """,
        'q280_effect_size': """
            WITH s AS (
              SELECT event_type, count(*) AS n,
                sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sx,
                sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0))
                  * CAST(CAST(value AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxx
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type
            ),
            stats AS (
              SELECT event_type, CAST(n AS BIGINT) AS n,
                CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                CAST(CAST(n AS DECIMAL(12,0)) * sxx - sx * sx AS DOUBLE)
                  / CAST(n AS DOUBLE) AS ssq
              FROM s
            )
            SELECT a.event_type AS ta, b.event_type AS tb,
              a.n AS na, b.n AS nb,
              CASE WHEN sqrt((a.ssq + b.ssq)
                  / CAST(a.n + b.n - 2 AS DOUBLE)) > 0
                THEN (a.m - b.m)
                  / sqrt((a.ssq + b.ssq) / CAST(a.n + b.n - 2 AS DOUBLE))
              END AS cohens_d
            FROM stats a JOIN stats b ON a.event_type < b.event_type
        """,
        'q281_cm_frequency': """
            WITH rows_r AS (
              SELECT unnest([0, 1, 2, 3]) AS r
            ),
            cells AS (
              SELECT r,
                CAST(('0x' || substr(md5(
                    CAST(user_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)
                  ), 1, 12)) AS BIGINT) % 1024 AS c,
                CAST(count(*) AS BIGINT) AS cnt
              FROM events, rows_r
              GROUP BY 1, 2
            ),
            probes AS (
              SELECT DISTINCT user_id FROM events
            ),
            pe AS (
              SELECT p.user_id, r.r,
                CAST(('0x' || substr(md5(
                    CAST(p.user_id AS VARCHAR) || ':' || CAST(r.r AS VARCHAR)
                  ), 1, 12)) AS BIGINT) % 1024 AS c
              FROM probes p, rows_r r
            )
            SELECT pe.user_id,
              CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS estimate
            FROM pe LEFT JOIN cells
              ON pe.r = cells.r AND pe.c = cells.c
            GROUP BY pe.user_id
            ORDER BY pe.user_id
        """,
        'q282_horvitz_thompson': """
            WITH flagged AS (
              SELECT l_returnflag,
                CAST({rev} AS DECIMAL(38,6)) AS rev,
                substr(md5('ht1' || CAST(l_orderkey AS VARCHAR) || '-'
                  || CAST(l_linenumber AS VARCHAR)), 1, 8)
                  < '19999999' AS keep
              FROM lineitem
            ),
            agg AS (
              SELECT l_returnflag,
                sum(CASE WHEN keep THEN rev
                    ELSE CAST(0 AS DECIMAL(38,6)) END) AS s,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_sampled,
                sum(rev) AS t,
                CAST(count(*) AS BIGINT) AS n_rows
              FROM flagged GROUP BY l_returnflag
            )
            SELECT l_returnflag, n_sampled, n_rows,
              CAST(s AS DOUBLE) / 0.1E0 AS ht_estimate,
              CAST(t AS DOUBLE) AS exact_total,
              (CAST(s AS DOUBLE) / 0.1E0 - CAST(t AS DOUBLE))
                / CAST(t AS DOUBLE) AS rel_error
            FROM agg
        """.format(rev=_REV_SQL),
        'q283_half_sample_ci': """
            WITH reps AS (
              SELECT CAST(r AS INT) AS rep
              FROM generate_series(0, 49) AS t(r)
            ),
            kept AS (
              SELECT rep, o_totalprice, o_orderdate
              FROM orders CROSS JOIN reps
              WHERE substr(md5('hs' || CAST(rep AS VARCHAR) || '-'
                || CAST(o_orderkey AS VARCHAR)), 1, 8) < '80000000'
            ),
            per_rep AS (
              SELECT rep,
                2E0 * CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                  AS DOUBLE)
                / CAST(count(DISTINCT CAST(o_orderdate AS DATE))
                  AS DOUBLE) AS mean_daily_rev
              FROM kept GROUP BY rep
            )
            SELECT CAST(count(*) AS BIGINT) AS n_reps,
              quantile_cont(mean_daily_rev, 0.05) AS ci_lo,
              quantile_cont(mean_daily_rev, 0.5) AS ci_mid,
              quantile_cont(mean_daily_rev, 0.95) AS ci_hi
            FROM per_rep
        """,
    },
)
