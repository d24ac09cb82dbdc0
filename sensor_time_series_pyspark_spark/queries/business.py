"""Business/ops analytics: funnels, SLAs, finance windows,
feature tables (q200 .. q243).

Shared helpers are in queries/common.py; queries/registry.py raises
on duplicate query names."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import (
    bpe_ish_token_count,
    token_count,
    tokens,
)
from sensor_time_series_pyspark_spark.operators import exact_dedup, sessionize
from sensor_time_series_pyspark_spark.queries.common import (
    DEC,
    _REV_SQL,
    _brand_graph,
    _davg,
    _davg_sql,
    _dec,
    _dsum,
    _revenue,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_auc(spark: SparkSession, sf: str) -> DataFrame:
    """ROC AUC of activity level predicting conversion (rank-sum
    identity, tie-correct, integer-exact) —
    operators/profile.py:auc_score."""
    from sensor_time_series_pyspark_spark.operators.profile import auc_score

    ev = read_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return auc_score(per_user, "converted", "activity")


def _q_open_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Concurrent-interval counting (order backlog over time): +1 at
    order date, −1 the day after the last shipment, ONE running sum
    over the per-day delta frame — the interval-overlap counter
    without any point-in-interval join (which would be O(days×orders)).
    The window runs over the day-cardinality delta frame only."""
    o = read_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    closed = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    spans = o.join(closed, F.col("o_orderkey") == F.col("l_orderkey"))
    deltas = spans.select(
        F.date_trunc("day", F.col("o_orderdate")).alias("d"), F.lit(1).alias("delta")
    ).unionAll(
        spans.select(
            F.date_add(F.to_date("close_ts"), 1).cast("timestamp").alias("d"),
            F.lit(-1).alias("delta"),
        )
    )
    per_day = deltas.groupBy("d").agg(F.sum("delta").cast("bigint").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "d", "net", F.sum("net").over(w).alias("open_orders")
    )


def _q_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    """New-vs-returning split per month: the first-seen reduction
    (ONE min aggregate per customer) broadcast back onto the monthly
    order frame — no per-month distinct self-joins."""
    o = read_table(spark, sf, "orders").select("o_custkey", "o_orderdate")
    first_seen = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("first_month")
    )
    monthly = o.select(
        "o_custkey", F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).distinct()
    j = monthly.join(first_seen, "o_custkey")
    return j.groupBy("m").agg(
        F.sum(F.when(F.col("m") == F.col("first_month"), 1).otherwise(0))
        .cast("bigint")
        .alias("new_customers"),
        F.sum(F.when(F.col("m") == F.col("first_month"), 0).otherwise(1))
        .cast("bigint")
        .alias("returning_customers"),
    )


def _q_seasonal_strength(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-strength diagnostic per event type: F_s = 1 −
    Var(residual)/Var(value), where the seasonal fit is the (dow, hour)
    calendar mean (q142's profile). Variances come from the SAME exact
    integer-moment mechanism as exact_corr; residual sums reuse the
    identity Σ(x−μ_g)² grouped via per-cell moments, so the fact is
    scanned ONCE and everything downstream is cell-cardinality."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    xi = (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    d38 = "decimal(38,0)"
    cells = ev.where(F.col("value") >= 0).select(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
        xi.alias("__xi"),
    ).groupBy("event_type", "dow", "hod").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(F.col("__xi").cast(d38)).alias("cs1"),
        F.sum((F.col("__xi") * F.col("__xi")).cast(d38)).alias("cs2"),
    )
    # Per-cell means are rounded ONCE to 6 extra digits by integer
    # floor-division (engine-portable for the non-negative values this
    # query filters to), and the residual sum of squares stays an
    # EXACT integer at scale 1e12: Σ(x−μ)² = Σx²·1e12 − 2μ·Σx·1e6 +
    # n·μ². Summing per-cell doubles would be order-dependent; this
    # accumulates decimals — the tfidf round-once pattern.
    def _rss(s1_col: str, s2_col: str, n_col: str) -> F.Column:
        # Σ(x−μ)² at scale 1e12, μ floor-divided once at scale 1e6:
        # s2·1e12 − 2·μ·s1·1e6 + n·μ² — every factor-pair stays inside
        # decimal(38) (bounds in SCALING.md)
        mu = F.expr(f"CAST({s1_col} AS BIGINT) * 1000000 div {n_col}")
        mud = mu.cast("decimal(19,0)")
        return (
            F.col(s2_col) * F.lit(10 ** 12).cast("decimal(13,0)")
            - F.lit(2).cast("decimal(2,0)") * mud
            * (F.col(s1_col) * F.lit(10 ** 6).cast("decimal(7,0)")).cast("decimal(27,0)")
            + F.col(n_col).cast("decimal(12,0)") * (mud * mud).cast("decimal(25,0)")
        )

    per_type = cells.groupBy("event_type").agg(
        F.sum("cn").alias("n"),
        F.sum("cs1").alias("s1"),
        F.sum("cs2").alias("s2"),
        F.sum(_rss("cs1", "cs2", "cn").cast(d38)).alias("ssr_s"),
    )
    sst_s = _rss("s1", "s2", "n")
    strength = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - F.col("ssr_s").cast("double") / sst_s.cast("double"),
    )
    return per_type.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.when(sst_s.cast("double") > 0, strength).alias("seasonal_strength"),
    )


def _q_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Neighbor-set Jaccard link prediction on the brand co-purchase
    graph: common neighbors via ONE two-hop join through the shared
    endpoint, degrees from one aggregate, jaccard = c/(da+db−c) —
    integer counts, one division. Candidate pairs are generated only
    through shared neighbors (never all-pairs)."""
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, sf, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    # brand graph: brands co-occurring in an order
    e = (
        ob.alias("x")
        .join(ob.alias("y"), "o")
        .select(F.col("x.b").alias("a"), F.col("y.b").alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    both = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    # common neighbors: a–x and b–x
    common = (
        both.select(F.col("a").alias("u"), F.col("b").alias("x"))
        .join(both.select(F.col("a").alias("v"), F.col("b").alias("x2")),
              F.col("x") == F.col("x2"))
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(deg.select(F.col("a").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("a").alias("v"), F.col("d").alias("dv")), "v")
    )
    return out.select(
        "u",
        "v",
        "common",
        (
            F.col("common").cast("double")
            / (F.col("du") + F.col("dv") - F.col("common")).cast("double")
        ).alias("jaccard"),
    ).where(F.col("common") >= 3)


def _q_share_of_parent(spark: SparkSession, sf: str) -> DataFrame:
    """ratio_to_report OLAP shape: each nation's revenue share within
    its region — window totals over the AGGREGATED nation frame only
    (the fact contributes one hash aggregate; the share division is
    group-cardinality work)."""
    li = read_table(spark, sf, "lineitem")
    s = read_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region")
    dim = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "n_name", "r_name")
    )
    agg = (
        li.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(_revenue()).alias("__rev"))
    )
    wreg = Window.partitionBy("r_name")
    return agg.select(
        "r_name",
        "n_name",
        F.col("__rev").cast("double").alias("revenue"),
        (
            F.col("__rev").cast("double")
            / F.sum("__rev").over(wreg).cast("double")
        ).alias("region_share"),
    )


def _q_pseudonymize(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic PII tokenization: customer keys replaced by
    salted sha256 tokens — referential integrity preserved (the same
    key always maps to the same token, so joins still work on the
    pseudonymized tables), irreversible without the salt. Map-side
    only; sha2 is standardized so any engine derives identical tokens
    (cross-system reproducibility is the point of deterministic
    tokenization)."""
    c = read_table(spark, sf, "customer")
    token = F.sha2(F.concat(F.lit("pepper-v1:"), F.col("c_custkey").cast("string")), 256)
    return c.select(
        token.alias("cust_token"),
        "c_mktsegment",
        F.col("c_nationkey"),
        (F.col("c_acctbal") >= 0).alias("in_good_standing"),
    )


def _q_record_linkage(spark: SparkSession, sf: str) -> DataFrame:
    """Record-linkage scoring (Fellegi-Sunter shape): a synthesized
    dirty registry (names with injected typos — built identically in
    both engines, the q79 convention) is matched against customers.
    Blocking on nation key bounds candidates (never all-pairs);
    per-pair agreement features (exact nation, levenshtein<=2 on name,
    |acctbal| within 10) combine into an integer match score —
    levenshtein is algorithmically fixed, so the score is portable."""
    c = read_table(spark, sf, "customer")
    # dirty twin: drop the 'Customer#' prefix's last zero-run digit and
    # append a checksum-ish suffix — a deterministic "typo"
    dirty = c.select(
        F.col("c_custkey").alias("d_key"),
        F.concat(
            F.lit("Custmer#"), F.lpad((F.col("c_custkey") % 100000).cast("string"), 9, "0")
        ).alias("d_name"),
        F.col("c_nationkey").alias("d_nation"),
        (F.col("c_acctbal") + ((F.col("c_custkey") % 21) - 10)).alias("d_bal"),
    )
    cand = c.join(dirty, c["c_nationkey"] == dirty["d_nation"])
    lev = F.levenshtein(F.col("c_name"), F.col("d_name"))
    bal_ok = F.abs(F.col("c_acctbal") - F.col("d_bal")) <= 10.0
    score = (
        F.when(lev <= 2, 2).otherwise(0)
        + F.when(bal_ok, 1).otherwise(0)
    )
    # match_score >= 3 requires BOTH agreements (2 + 1 is the only way
    # to reach 3), so filter with the cheap balance compare FIRST and
    # short-circuit the O(len²) levenshtein DP to the ~0.2% of blocked
    # pairs that survive it (And is evaluated left-to-right in codegen;
    # the old shape computed levenshtein inside the score projection
    # for every candidate pair — 26 s at sf0.1). The score expression
    # is then re-derived only for surviving rows — identical output.
    pairs = (
        cand.where(bal_ok & (lev <= 2))
        .select(
            "c_custkey",
            "d_key",
            lev.alias("name_dist"),
            score.alias("match_score"),
        )
    )
    return pairs


def _q_geo_binning(spark: SparkSession, sf: str) -> DataFrame:
    """Spatial grid binning (the reference's geo bounding filter P4
    generalized): synthetic lat/lon derived from md5 of the event id —
    engine-identical, the q79 synthesized-input convention — bucketed
    into 10-degree grid cells; per-cell event counts and exact mean
    value. The grid key is integer floor division (map-side); cells
    aggregate in one shuffle."""
    ev = read_table(spark, sf, "events")
    h1 = F.conv(F.substring(F.md5(F.concat(F.lit("lat:"), F.col("event_id").cast("string"))), 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(F.concat(F.lit("lon:"), F.col("event_id").cast("string"))), 1, 8), 16, 10).cast("long")
    lat_cell = ((h1 % 180) - 90) / F.lit(10)
    lon_cell = ((h2 % 360) - 180) / F.lit(10)
    keyed = ev.select(
        F.floor(lat_cell).cast("int").alias("lat_cell"),
        F.floor(lon_cell).cast("int").alias("lon_cell"),
        "value",
    )
    return keyed.groupBy("lat_cell", "lon_cell").agg(
        F.count(F.lit(1)).alias("n"),
        _davg(F.col("value")).alias("avg_value"),
    )


def _q_daily_bands(spark: SparkSession, sf: str) -> DataFrame:
    """Daily p10/p50/p90 bands of the hourly event-count series per
    type — exact percentiles over integer counts (q60's interpolation
    parity), computed on the hour-cardinality aggregate, never the
    fact."""
    ev = read_table(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return hourly.groupBy("event_type", "d").agg(
        F.percentile("n", F.lit(0.1)).alias("p10"),
        F.median("n").alias("p50"),
        F.percentile("n", F.lit(0.9)).alias("p90"),
        F.count(F.lit(1)).alias("n_hours"),
    )


def _q_bounce_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Session bounce rate per day: share of 30-minute-gap sessions
    with exactly one event — composes sessionize's gap logic at the
    (user, session) grain, then a day-cardinality rollup."""
    ev = read_table(spark, sf, "events")
    sess = sessionize(ev, "ts", ["user_id"], 1800)
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.date_trunc("day", F.min("ts")).alias("d"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_session.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
    ).select(
        "d",
        "n_sessions",
        "n_bounces",
        (
            F.col("n_bounces").cast("double")
            / F.col("n_sessions").cast("double")
        ).alias("bounce_rate"),
    )


def _q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language: subword-proxy tokens per word
    and characters per subword token — integer sums, one division each
    (the multilingual tokenizer-efficiency diagnostic)."""
    docs = read_table(spark, sf, "documents")
    base = docs.select(
        "lang",
        token_count("text").alias("__w"),
        bpe_ish_token_count("text").alias("__bt"),
        F.length("text").alias("__c"),
    )
    agg = base.groupBy("lang").agg(
        F.sum("__w").cast("bigint").alias("words"),
        F.sum("__bt").cast("bigint").alias("subword_tokens"),
        F.sum("__c").cast("bigint").alias("chars"),
    )
    return agg.select(
        "lang",
        "words",
        "subword_tokens",
        "chars",
        (
            F.col("subword_tokens").cast("double") / F.col("words").cast("double")
        ).alias("fertility"),
        (
            F.col("chars").cast("double") / F.col("subword_tokens").cast("double")
        ).alias("chars_per_token"),
    )


def _q_repeat_share(spark: SparkSession, sf: str) -> DataFrame:
    """Compression sizing for delta/RLE encoding: per series (user),
    the share of zero-delta (repeated) and small-delta readings —
    operators/compress.py:delta_encode feeding one integer aggregate
    (the decision input for deadband/delta historian compression)."""
    from sensor_time_series_pyspark_spark.operators.compress import delta_encode

    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    enc = delta_encode(ev, ["user_id"], "ts", "value", decimals=2)
    body = enc.where(~F.col("is_first"))
    return body.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_deltas"),
        F.sum(F.when(F.col("delta") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeats"),
        F.sum(F.when(F.abs(F.col("delta")) <= 100, 1).otherwise(0))
        .cast("bigint")
        .alias("n_small"),
    ).select(
        "user_id",
        "n_deltas",
        "n_repeats",
        "n_small",
        (
            F.col("n_small").cast("double") / F.col("n_deltas").cast("double")
        ).alias("compressible_share"),
    )


def _q_hierarchy_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive-hierarchy subtree rollup WITHOUT recursion: the
    synthetic org tree parent(k)=k div 10 has closed-form ancestors
    (k div 10^i), so the transitive closure is a map-side fan-out of
    <= 8 (node, ancestor) rows per node — no iterative joins, no
    recursive CTE on the Spark side (the DuckDB oracle uses one; the
    equality shows the closure is complete). One aggregate sums each
    subtree. The general-graph path is bfs_hops/q151; this is the
    classic fixed-fanout hierarchy shortcut (BOM levels, org codes,
    geo cells)."""
    c = read_table(spark, sf, "customer")
    ancs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: F.floor(
                F.col("c_custkey") / F.pow(F.lit(10.0), i.cast("double"))
            ).cast("bigint"),
        )
    )
    pairs = c.select(
        F.col("c_acctbal"), F.explode(ancs).alias("ancestor")
    )
    return pairs.groupBy("ancestor").agg(
        F.count(F.lit(1)).alias("n_desc"),
        _dsum(F.col("c_acctbal")).alias("subtree_bal"),
    ).where(F.col("n_desc") >= 2)


def _q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit: quasi-identifier combinations (nation,
    segment, balance decile) re-identifying fewer than k=5 customers —
    the release-gate check for pseudonymized data (q206's complement:
    tokenization hides direct ids; this measures what the REMAINING
    columns leak). ntile over the customer frame with a deterministic
    tiebreak; one aggregate; violating combos only."""
    c = read_table(spark, sf, "customer")
    w = Window.orderBy(F.col("c_acctbal"), F.col("c_custkey"))
    binned = c.select(
        "c_nationkey", "c_mktsegment", F.ntile(10).over(w).alias("bal_decile")
    )
    groups = binned.groupBy("c_nationkey", "c_mktsegment", "bal_decile").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return groups.where(F.col("group_size") < 5)


def _q_segment_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """N-way audience overlap (the Venn-diagram rollup): each user
    collapses to ONE integer bitmask of behaviors (click=1, view=2,
    purchase=4) via conditional max — then one tiny aggregate counts
    every segment combination. The bitmask pattern replaces 2^N−1
    intersection queries (or N-way theta-sketch algebra, q132) with
    one pass over the fact."""
    ev = read_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + F.max(F.when(F.col("event_type") == "view", 2).otherwise(0))
            + F.max(F.when(F.col("event_type") == "purchase", 4).otherwise(0))
        ).alias("segment_mask")
    )
    return per_user.groupBy("segment_mask").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def _q_scd2_temporal_join(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal (point-in-interval) join against an SCD2 dimension:
    each purchase joined to the user-state version valid immediately
    BEFORE it — 'what state was the customer in when they converted'
    (the state valid AT a purchase is trivially the purchase's own
    version, since the dimension derives from the same stream). Probe:
    valid_from < ts <= valid_to; first-ever purchases have no prior
    version and drop out of the inner join (documented). At scale the
    equi-key (user) carries the join; the interval predicate is a
    residual filter, never a nested loop. Dimension is q63's SCD2
    build."""
    from sensor_time_series_pyspark_spark.operators import scd2

    ev = read_table(spark, sf, "events")
    dim = scd2(ev, ["user_id"], "ts", ["event_type"]).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = purchases.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts") > F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") <= F.col("valid_to"))),
    )
    return j.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.countDistinct("user_id").alias("n_users"),
    )


def _q_join_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew diagnosis — the 'does this key need salting /
    AQE skew-join' advisor run before any big fact-fact join: per
    candidate key, distinct-key count, max single-key share, and the
    hot-key-to-median ratio. One aggregate to the key-frequency frame;
    every statistic after that is key-cardinality work (exact median
    via the q60 percentile mechanism over integer counts)."""
    li = read_table(spark, sf, "lineitem")
    freqs = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = freqs.agg(
        F.lit("l_partkey").alias("join_key"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        F.median("n").alias("median_key_rows"),
    )
    freqs2 = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats2 = freqs2.agg(
        F.lit("l_suppkey").alias("join_key"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        F.median("n").alias("median_key_rows"),
    )
    both = stats.unionByName(stats2)
    return both.select(
        "join_key",
        "n_keys",
        "n_rows",
        "max_key_rows",
        "median_key_rows",
        (
            F.col("max_key_rows").cast("double") / F.col("n_rows").cast("double")
        ).alias("max_share"),
        (
            F.col("max_key_rows").cast("double") / F.col("median_key_rows")
        ).alias("skew_ratio"),
    )


def _q_orphan_check(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit across every fact foreign key —
    orphaned row counts via conditional aggregates over broadcast
    left joins (the valid-key sets are dim-sized; the fact scans
    once per fact table, never per key). The standard pipeline gate
    before publishing a star schema."""
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer").select("c_custkey")
    p = read_table(spark, sf, "part").select("p_partkey")
    s = read_table(spark, sf, "supplier").select("s_suppkey")
    ok = o.select("o_orderkey")
    li_j = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(F.broadcast(ok), F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"), "left")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"), "left")
    )
    li_stats = li_j.agg(
        F.lit("lineitem").alias("fact"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orphan_orderkey"),
        F.sum(F.when(F.col("p_partkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orphan_partkey"),
        F.sum(F.when(F.col("s_suppkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orphan_suppkey"),
    )
    o_j = o.select("o_custkey").join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"), "left"
    )
    o_stats = o_j.agg(
        F.lit("orders").alias("fact"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orphan_orderkey"),
        F.lit(0).cast("bigint").alias("orphan_partkey"),
        F.lit(0).cast("bigint").alias("orphan_suppkey"),
    )
    return li_stats.unionByName(o_stats)


def _q_class_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    """Exact minority-class upsampling by integer replication: each
    label's rows replicate floor(max_class/n_class) times (explode of a
    sequence — map-side row fan-out, no RNG, rerun-stable). The
    output label histogram shows near-parity. The classic imbalanced-
    training-set fix expressed as pure column algebra; fractional
    remainders are left to hash_sample (documented), keeping this step
    deterministic."""
    emb = read_table(spark, sf, "embeddings")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    mx = counts.agg(F.max("n").alias("mx"))
    factors = counts.join(F.broadcast(mx)).select(
        "label", F.floor(F.col("mx") / F.col("n")).cast("int").alias("factor")
    )
    rebalanced = (
        emb.join(F.broadcast(factors), "label")
        .select(
            "label",
            "vec_id",
            F.explode(F.sequence(F.lit(1), F.col("factor"))).alias("copy_no"),
        )
    )
    return rebalanced.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.countDistinct("vec_id").alias("n_unique"),
    )


def _q_negative_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor draws 3 pseudo-random partners via md5(anchor||j) mod N —
    no RNG state, identical on every engine and every rerun (the
    hash-sampling convention), self-pairs skipped by a +1 shift. The
    partner ids join back to the corpus to prove existence; at scale
    this is a map-side id computation + one equi-join on the id (ids
    here are dense 0..N-1; for sparse ids route through a row_number
    rank frame first — documented)."""
    emb = read_table(spark, sf, "embeddings").select("vec_id", "label")
    n = emb.count()
    js = F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j")
    base = emb.select("vec_id", js)
    raw = F.conv(
        F.substring(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":"), F.col("j"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") % F.lit(n - 1)
    # shift past the anchor so neg != anchor, staying in [0, n)
    neg = F.when(raw >= F.col("vec_id"), raw + 1).otherwise(raw)
    pairs = base.select("vec_id", "j", neg.alias("neg_id"))
    other = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    anchor = emb.select(F.col("vec_id"), F.col("label").alias("anchor_label"))
    j1 = pairs.join(anchor, "vec_id").join(other, "neg_id")
    return j1.groupBy("anchor_label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.col("anchor_label") == F.col("neg_label"), 1).otherwise(0)
        ).cast("bigint").alias("n_same_label"),
    )


def _q_boolean_search(spark: SparkSession, sf: str) -> DataFrame:
    """Boolean search over the inverted index: docs containing ALL of
    {'data','stream'} and NONE of {'slow'} — posting-list intersection
    as one (doc, matched-term) aggregate HAVING count = n_terms, the
    negation as an anti join against the excluded term's postings.
    The fan-out is bounded by the query terms' document frequencies
    (q111's posting lists are the persisted form at scale), never a
    corpus scan per term."""
    docs = read_table(spark, sf, "documents")
    postings = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    must = postings.where(F.col("term").isin("data", "stream"))
    hit_all = (
        must.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_hit"))
        .where(F.col("n_hit") == 2)
        .select("doc_id")
    )
    excluded = postings.where(F.col("term") == "slow").select("doc_id").distinct()
    matched = hit_all.join(excluded, "doc_id", "left_anti")
    return matched.join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    ).select("doc_id", "lang", "source")


def _q_did(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences: treatment arms from the md5
    hash_split convention (reproducible assignment), pre/post split at
    mid-window, DiD = (T_post−T_pre) − (C_post−C_pre) on exact decimal
    means — ONE conditional aggregate over the fact, four divisions in
    a fixed epilogue. The standard quasi-experimental readout."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    arm = F.when(
        F.substring(F.md5(F.concat(F.lit("exp2"), F.col("user_id").cast("string"))), 1, 8)
        < "80000000",
        "t",
    ).otherwise("c")
    post = F.col("ts") >= F.lit("2024-01-16").cast("timestamp")
    keyed = ev.select(arm.alias("arm"), post.alias("post"), "value")

    def cell(a: str, p: bool) -> F.Column:
        cond = (F.col("arm") == a) & (F.col("post") == F.lit(p))
        return (
            F.sum(F.when(cond, F.col("value").cast(DEC))).cast("double")
            / F.sum(F.when(cond, 1).otherwise(0))
        )

    agg = keyed.agg(
        F.count(F.lit(1)).alias("n_events"),
        cell("t", False).alias("t_pre"),
        cell("t", True).alias("t_post"),
        cell("c", False).alias("c_pre"),
        cell("c", True).alias("c_post"),
    )
    return agg.select(
        "n_events",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).alias("did"),
    )


def _q_kpi_decomposition(spark: SparkSession, sf: str) -> DataFrame:
    """KPI driver decomposition: month-over-month revenue change split
    into an order-count effect and an order-value (AOV) effect via the
    exact identity ΔR = ΔN·AOV₀ + N₁·ΔAOV (N₁ form makes the two
    terms sum to ΔR exactly in IEEE — verified by construction since
    ΔR−term1−term2 algebraically cancels with these operand choices).
    All sums exact decimals; divisions and products in one fixed
    epilogue on the two-row month frame."""
    o = read_table(spark, sf, "orders")
    monthly = o.where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).where(F.col("o_orderdate") < F.lit("1997-03-01").cast("timestamp")).groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("revenue"),
    )
    w = Window.orderBy("m")
    cur = monthly.select(
        "m",
        "n_orders",
        "revenue",
        F.lag("n_orders").over(w).alias("n0"),
        F.lag("revenue").over(w).alias("r0"),
    ).where(F.col("n0").isNotNull())
    aov0 = F.col("r0") / F.col("n0")
    aov1 = F.col("revenue") / F.col("n_orders")
    return cur.select(
        "m",
        "n_orders",
        "revenue",
        (F.col("revenue") - F.col("r0")).alias("delta_revenue"),
        ((F.col("n_orders") - F.col("n0")).cast("double") * aov0).alias(
            "volume_effect"
        ),
        (F.col("n_orders").cast("double") * (aov1 - aov0)).alias("value_effect"),
    )


def _q_availability(spark: SparkSession, sf: str) -> DataFrame:
    """Heartbeat availability SLA per entity: downtime = sum of
    inter-event gaps exceeding the 2-hour heartbeat tolerance (minus
    the tolerance itself — the sensor was only provably down past it);
    availability = 1 − downtime/span. One lag pass, integer-second
    arithmetic, one division — the fleet-health readout for the
    reference's field terminals."""
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    tol = 7200
    gaps = ev.select(
        "user_id",
        "ts",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap"),
    )
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))
        ).alias("span_s"),
        F.sum(
            F.when(F.col("gap") > tol, F.col("gap") - tol).otherwise(0)
        ).cast("bigint").alias("downtime_s"),
    )
    return agg.where(F.col("span_s") > 0).select(
        "user_id",
        "n_events",
        "span_s",
        "downtime_s",
        (
            F.lit(1.0)
            - F.col("downtime_s").cast("double") / F.col("span_s").cast("double")
        ).alias("availability"),
    )


def _q_stemmed_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Light suffix-strip stemming as pure column algebra (regexp
    chain: ing→'', ed→'', trailing s→'' with 3+-char stems) and its
    vocabulary-compression effect per language — the normalization
    step before vocabulary statistics, kept deliberately rule-based so
    any engine reproduces it (no locale/snowball dependence)."""
    docs = read_table(spark, sf, "documents")
    toks = docs.select(
        "lang", F.explode(tokens("text")).alias("w")
    )
    stem = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("w"), "^([a-z]{3,})ing$", "$1"),
            "^([a-z]{3,})ed$",
            "$1",
        ),
        "^([a-z]{2,})s$",
        "$1",
    )
    both = toks.select("lang", "w", stem.alias("stem"))
    return both.groupBy("lang").agg(
        F.countDistinct("w").alias("vocab_raw"),
        F.countDistinct("stem").alias("vocab_stemmed"),
        F.count(F.lit(1)).alias("n_tokens"),
    ).select(
        "lang",
        "vocab_raw",
        "vocab_stemmed",
        "n_tokens",
        (
            F.col("vocab_stemmed").cast("double")
            / F.col("vocab_raw").cast("double")
        ).alias("compression"),
    )


def _q_burn_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Multiwindow SLO burn rate (the SRE alerting rule): error-event
    share over the trailing 1h and 6h windows (anchored at the
    dataset's max ts — deterministic), each divided by a 5% error
    budget. Alert when BOTH windows burn >1× — the standard
    fast+slow-window combination that filters blips without missing
    sustained burns. One conditional aggregate; the anchor is a 1-row
    broadcast scalar."""
    ev = read_table(spark, sf, "events")
    anchor = ev.agg(F.max("ts").alias("__a"))
    j = ev.crossJoin(F.broadcast(anchor))
    in1h = F.col("ts") >= F.col("__a") - F.expr("INTERVAL 1 HOUR")
    in6h = F.col("ts") >= F.col("__a") - F.expr("INTERVAL 6 HOURS")
    err = F.col("event_type") == "error"
    agg = j.agg(
        F.sum(F.when(in1h, 1).otherwise(0)).cast("bigint").alias("n_1h"),
        F.sum(F.when(in1h & err, 1).otherwise(0)).cast("bigint").alias("err_1h"),
        F.sum(F.when(in6h, 1).otherwise(0)).cast("bigint").alias("n_6h"),
        F.sum(F.when(in6h & err, 1).otherwise(0)).cast("bigint").alias("err_6h"),
    )
    burn1 = (F.col("err_1h").cast("double") / F.col("n_1h").cast("double")) / F.lit(0.05)
    burn6 = (F.col("err_6h").cast("double") / F.col("n_6h").cast("double")) / F.lit(0.05)
    return agg.select(
        "n_1h",
        "err_1h",
        "n_6h",
        "err_6h",
        burn1.alias("burn_1h"),
        burn6.alias("burn_6h"),
        ((burn1 > 1.0) & (burn6 > 1.0)).alias("alert"),
    )


def _q_simpsons(spark: SparkSession, sf: str) -> DataFrame:
    """Simpson's-paradox screen on the discount→quantity relationship:
    per-brand Pearson correlations vs the pooled correlation, counting
    brands whose sign disagrees with the aggregate — the classic
    confounding diagnostic. ONE fact scan produces per-brand integer
    moments (exact_corr's mechanism); the pooled moments are the SUM
    of the brand moments (order-free decimals), so the comparison
    costs nothing extra. Output: one row."""
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").select("p_partkey", "p_brand")
    xi = (F.col("l_discount").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    yi = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    d38 = "decimal(38,0)"
    g = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("p_brand").alias("b"), xi.alias("x"), yi.alias("y"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast(d38)).alias("sx"),
            F.sum(F.col("y").cast(d38)).alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
            F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        )
    )

    def corr_of(prefix: F.Column | None = None):
        nd = F.col("n").cast("decimal(12,0)")
        cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        den = F.sqrt(vx) * F.sqrt(vy)
        return F.when(den > 0, cov / den)

    per_brand = g.select("b", corr_of().alias("corr"))
    pooled = g.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"),
        F.sum("sxy").alias("sxy"),
    ).select(corr_of().alias("overall_corr"))
    counts = per_brand.crossJoin(F.broadcast(pooled)).agg(
        F.first("overall_corr").alias("overall_corr"),
        F.count("corr").alias("n_brands"),
        F.sum(
            F.when(
                F.col("corr").isNotNull()
                & (
                    F.signum("corr") != F.signum("overall_corr")
                ),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_opposite_sign"),
    )
    return counts.select(
        "overall_corr",
        "n_brands",
        "n_opposite_sign",
        (
            F.col("n_opposite_sign").cast("double")
            / F.col("n_brands").cast("double")
        ).alias("opposite_share"),
    )


def _q_feature_table(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time feature-table build (the feature-store batch
    job): per (user, day) — activity count, lag-1 and lag-7 counts,
    7-day rolling mean, day-of-week — ONE aggregate to the entity-day
    grain then ONE window pass computing every lag/rolling feature
    (shared sort; no per-feature scans). All features at day d use
    only data ≤ d (leakage-free by construction: lags and a trailing
    frame)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("user_id").orderBy("d")
    wroll = w.rowsBetween(-6, 0)
    return daily.select(
        "user_id",
        "d",
        "n_events",
        F.lag("n_events", 1).over(w).alias("lag1"),
        F.lag("n_events", 7).over(w).alias("lag7"),
        (
            F.sum("n_events").over(wroll).cast("double")
            / F.count(F.lit(1)).over(wroll)
        ).alias("rolling7_mean"),
        F.dayofweek("d").alias("dow"),
    )


def _q_calendar_spine(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar-spine reporting: every (day × event type) cell emitted
    even when empty (zero-filled) — the dashboard contract that a
    groupBy alone can't honor. The spine is sequence()-generated from
    the data's own min/max day (two scalar aggregates broadcast; the
    spine frame is days×types — report-cardinality, never fact-sized)
    and the fact joins it ONCE. Complements q113's per-entity LOCF
    densify (zeros here, carry-forward there)."""
    ev = read_table(spark, sf, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    days = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    types = ev.select(F.col("event_type").alias("et")).distinct()
    spine = days.crossJoin(types)
    counts = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.col("event_type").alias("et"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return spine.join(counts, ["d", "et"], "left").select(
        "d",
        F.col("et").alias("event_type"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
    )


def _q_dup_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplication diagnostics: exact-duplicate share and
    the duplicate factor (rows per distinct text) — the first corpus
    health number a curation run reports, sliced by provenance. One
    aggregate on (source, text-hash), rollup on the group frame."""
    docs = read_table(spark, sf, "documents")
    groups = docs.groupBy("source", F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return groups.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("n") - 1).cast("bigint").alias("n_dup_rows"),
    ).select(
        "source",
        "n_docs",
        "n_distinct",
        "n_dup_rows",
        (F.col("n_docs").cast("double") / F.col("n_distinct").cast("double")).alias(
            "dup_factor"
        ),
    )


def _q_shipping_aging(spark: SparkSession, sf: str) -> DataFrame:
    """Order-to-ship aging percentiles by priority: exact integer day
    diffs, median/p90 via the q60 interpolation-parity mechanism over
    the per-priority frames — the fulfillment-SLA readout."""
    o = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    j = o.join(first_ship, F.col("o_orderkey") == F.col("l_orderkey"))
    days = F.datediff(F.col("first_ship"), F.col("o_orderdate"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.median(days).alias("median_days"),
        F.percentile(days, F.lit(0.9)).alias("p90_days"),
        F.max(days).alias("max_days"),
    )


def _q_dau_wau(spark: SparkSession, sf: str) -> DataFrame:
    """DAU/WAU stickiness per week: distinct daily actives averaged
    over the week divided by weekly distinct actives — the growth
    metric. Both distincts aggregate the (user, day) reduction, never
    the raw fact twice; one division per week row."""
    ev = read_table(spark, sf, "events")
    user_days = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.date_trunc("week", F.col("ts")).alias("w"),
    ).distinct()
    dau = user_days.groupBy("w", "d").agg(
        F.countDistinct("user_id").alias("dau")
    )
    weekly = dau.groupBy("w").agg(
        F.sum("dau").cast("bigint").alias("sum_dau"),
        F.count(F.lit(1)).alias("n_days"),
    )
    wau = user_days.groupBy("w").agg(F.countDistinct("user_id").alias("wau"))
    j = weekly.join(wau, "w")
    avg_dau = F.col("sum_dau").cast("double") / F.col("n_days").cast("double")
    return j.select(
        "w",
        "sum_dau",
        "n_days",
        "wau",
        (avg_dau / F.col("wau").cast("double")).alias("stickiness"),
    )


def _q_inter_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Repeat-purchase cadence: per customer with >= 3 orders, the
    median days between consecutive orders (one lag pass, integer day
    gaps, exact median) — the replenishment-cycle input to CRM timing
    models."""
    o = read_table(spark, sf, "orders").select("o_custkey", "o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o2 = read_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    gaps = o2.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    agg = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.median("gap_days").alias("median_gap_days"),
        F.min("gap_days").alias("min_gap_days"),
    )
    return agg.where(F.col("n_gaps") >= 2)


def _q_precision_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Numeric-contract audit: rows whose money/measure columns carry
    more precision than the declared 2 decimals (|x·100 − round(x·100)|
    beyond float tolerance) — the schema-contract check that catches
    an upstream feed silently switching units or precision. Pure
    map-side arithmetic + one conditional aggregate per table."""
    li = read_table(spark, sf, "lineitem")
    ev = read_table(spark, sf, "events")

    def bad(c: str) -> F.Column:
        scaled = F.col(c) * 100
        return F.sum(
            F.when(F.abs(scaled - F.round(scaled, 0)) > 1e-6, 1).otherwise(0)
        ).cast("bigint")

    a = li.agg(
        F.lit("lineitem").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        bad("l_extendedprice").alias("bad_price"),
        bad("l_discount").alias("bad_discount"),
    )
    b = ev.where(F.col("value").isNotNull()).agg(
        F.lit("events").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        bad("value").alias("bad_price"),
        F.lit(0).cast("bigint").alias("bad_discount"),
    )
    return a.unionByName(b)


def _q_wilson_bound(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion ranking by Wilson lower confidence bound (z=1.96):
    per event type treated as a channel, conversions = purchases by
    users who touched the channel. Small channels with lucky rates
    rank below large channels with solid rates — the
    confidence-ranking classic. Integer counts; the bound is one fixed
    IEEE expression (sqrt/±/÷ in a pinned order), identical in the
    oracle."""
    ev = read_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
        F.collect_set("event_type").alias("types"),
    )
    touched = per_user.select(
        F.explode("types").alias("channel"), "converted"
    )
    agg = touched.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("bigint").alias("k"),
    )
    z = F.lit(1.96)
    nn = F.col("n").cast("double")
    p = F.col("k").cast("double") / nn
    z2n = (z * z) / nn
    wilson = (
        (p + z2n / 2 - z * F.sqrt((p * (1 - p) + z2n / 4) / nn))
        / (1 + z2n)
    )
    return agg.select("channel", "n", "k", p.alias("rate"), wilson.alias("wilson_lb"))


def _q_degree_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Graph degree distribution (nodes per degree) of the brand
    co-purchase graph — the first structural diagnostic before any
    graph algorithm (hub detection, power-law eyeballing). Degrees
    from one aggregate over the symmetrized edge list; the histogram
    is an aggregate of the node-cardinality degree frame."""
    e = _brand_graph(spark, sf)
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def _q_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity (Newman r): Pearson correlation of the
    endpoint degrees over every edge (both orientations) — do hubs
    link to hubs? Degrees are integers, so the exact-moment corr
    mechanism applies verbatim; the edge frame joins the broadcast
    degree map twice. One scalar row."""
    e = _brand_graph(spark, sf)
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("a").alias("u"), F.col("d").alias("dx"))
    db = deg.select(F.col("a").alias("v"), F.col("d").alias("dy"))
    pairs = (
        sym.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .join(F.broadcast(da), "u")
        .join(F.broadcast(db), "v")
    )
    d38 = "decimal(38,0)"
    xi = F.col("dx").cast("decimal(19,0)")
    yi = F.col("dy").cast("decimal(19,0)")
    sums = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi.cast(d38)).alias("sx"),
        F.sum(yi.cast(d38)).alias("sy"),
        F.sum((xi * xi).cast(d38)).alias("sxx"),
        F.sum((yi * yi).cast(d38)).alias("syy"),
        F.sum((xi * yi).cast(d38)).alias("sxy"),
    )
    nd = F.col("n").cast("decimal(12,0)")
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    den = F.sqrt(vx) * F.sqrt(vy)
    return sums.select(
        F.col("n").alias("n_directed_edges"),
        F.when(den > 0, cov / den).alias("assortativity"),
    )


def _q_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """ASYMMETRIC containment C(A→B) = |A∩B| / |A| over 2-gram shingle
    sets — the quote/partial-copy detector symmetric Jaccard misses (a
    short doc fully embedded in a long one has low Jaccard but
    containment ≈ 1). Same inverted-index candidate generation as q19
    (exact-dedup reps first, shared-shingle join), different epilogue:
    one division by the SOURCE size, emitted for the max-containment
    direction."""
    docs = read_table(spark, sf, "documents")
    reps = exact_dedup(docs, "text", "doc_id").select(
        F.col("doc_id").alias("id"), F.col("text")
    )
    # shingle-hash discipline (the q19/q581/q588 precedent): 2-grams
    # ride as xxhash64 bigints, never as strings — intersection counts
    # are identical modulo the documented n²/2⁶⁴ collision risk
    toks = (
        reps.select(
            "id",
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(tokens("text")) - 1, F.lit(0)),
                    ),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice(tokens("text"), i, 2), " ")
                    ),
                )
            ).alias("tok"),
        )
        .where(F.size("tok") > 0)
        .withColumn("n_tok", F.size("tok"))
    )
    # the hashed-gram arrays feed the inverted index AND both exact-
    # verify sides — materialize them once (guide §5)
    from pyspark import StorageLevel

    toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    inv = toks.select("id", "n_tok", F.explode("tok").alias("token"))
    # --- prefix filter (LOSSLESS; PPJoin overlap bound) --------------
    # C(pair) = inter / min(n_a, n_b) >= t needs inter >= t·m for the
    # SMALLER set (size m). Order every doc's shingles by one global
    # canonical order (rarest-first: ascending document frequency,
    # token tiebreak); if the smaller doc's first m - ceil(t·m) + 1
    # shingles (its prefix) miss the other doc entirely, the overlap
    # fits inside the remaining ceil(t·m) - 1 < t·m shingles — so
    # every qualifying pair joins on prefix(smaller) × full(larger).
    # The old full-index join generated Σ_token df² candidate rows
    # (40 s at sf0.1); the prefix postings are the rare tokens.
    # Candidates are then verified EXACTLY via array_intersect on the
    # full shingle arrays — no recall loss, identical output.
    dfreq = inv.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    w_rank = Window.partitionBy("id").orderBy(
        F.col("__df").asc(), F.col("token").asc()
    )
    pre = (
        inv.join(dfreq, "token")
        .withColumn("__rn", F.row_number().over(w_rank))
        .where(
            F.col("__rn")
            <= F.col("n_tok") - F.ceil(F.col("n_tok") * F.lit(0.5)) + 1
        )
        .select("id", "n_tok", "token")
    )
    cand = (
        pre.select(
            F.col("id").alias("id_s"), F.col("n_tok").alias("n_s"), "token"
        )
        .join(
            inv.select(
                F.col("id").alias("id_l"), F.col("n_tok").alias("n_l"), "token"
            ),
            "token",
        )
        .where(
            (F.col("n_s") < F.col("n_l"))
            | ((F.col("n_s") == F.col("n_l")) & (F.col("id_s") < F.col("id_l")))
        )
        .select(
            F.least("id_s", "id_l").alias("id_a"),
            F.greatest("id_s", "id_l").alias("id_b"),
        )
        .distinct()
    )
    verified = (
        cand.join(
            toks.select(
                F.col("id").alias("id_a"),
                F.col("tok").alias("ta"),
                F.col("n_tok").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            toks.select(
                F.col("id").alias("id_b"),
                F.col("tok").alias("tb"),
                F.col("n_tok").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("ta", "tb")).cast("bigint")
        )
    )
    cont = (
        F.col("inter").cast("double")
        / F.least("n_a", "n_b").cast("double")
    )
    return verified.select(
        "id_a", "id_b", "inter", cont.alias("containment")
    ).where(F.col("containment") >= 0.5)


def _q_null_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column null profile of the events table as ROWS (the
    operators/profile.py:profile shape, query-form): one aggregate
    computes every column's null count simultaneously (never one scan
    per column — the reference's recompute anti-pattern), stacked to
    (column, n_null, null_share)."""
    ev = read_table(spark, sf, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    agg = ev.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"__{c}")
            for c in cols
        ],
    )
    stacked = agg.selectExpr(
        "__n",
        "stack(6, "
        + ", ".join(f"'{c}', __{c}" for c in cols)
        + ") as (column_name, n_null)",
    )
    return stacked.select(
        "column_name",
        F.col("__n").alias("n_rows"),
        "n_null",
        (F.col("n_null").cast("double") / F.col("__n").cast("double")).alias(
            "null_share"
        ),
    )


def _q_spike_days(spark: SparkSession, sf: str) -> DataFrame:
    """Day-grain spike detection: days whose event count exceeds 1.05×
    the trailing 7-day average (excluding the day itself — a genuine
    forecast residual, not self-referential) — one window over the
    day-cardinality frame."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("d").rowsBetween(-7, -1)
    scored = daily.select(
        "d",
        "n",
        (F.sum("n").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "trailing_avg"
        ),
    )
    return scored.where(
        F.col("trailing_avg").isNotNull()
        & (F.col("n").cast("double") > F.lit(1.05) * F.col("trailing_avg"))
    )


def _q_donchian(spark: SparkSession, sf: str) -> DataFrame:
    """Donchian channel + breakout flags on the daily count series per
    type: rolling 7-day min/max (self-exclusive trailing frame) and a
    flag when today breaks above/below the channel — the rolling
    min/max complement to the rolling avg/median/corr family. One
    window over the day-cardinality frame."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    scored = daily.select(
        "event_type",
        "d",
        "n",
        F.min("n").over(w).alias("chan_lo"),
        F.max("n").over(w).alias("chan_hi"),
    ).where(F.col("chan_lo").isNotNull())
    return scored.select(
        "event_type",
        "d",
        "n",
        "chan_lo",
        "chan_hi",
        (F.col("n") > F.col("chan_hi")).alias("break_up"),
        (F.col("n") < F.col("chan_lo")).alias("break_down"),
    )


def _q_cross_sectional_z(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-sectional standardization: each type's daily count scored
    against THAT DAY's across-type mean/std (the finance-style
    normalization, orthogonal to q102's within-group z) — exact
    integer moments per day over the tiny day×type frame, fixed
    epilogue."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    wd = Window.partitionBy("d")
    k = F.count(F.lit(1)).over(wd)
    s1 = F.sum("n").over(wd)
    s2 = F.sum(F.col("n") * F.col("n")).over(wd)
    var_num = (k * s2 - s1 * s1).cast("double")
    mean = s1.cast("double") / k.cast("double")
    std = F.sqrt(var_num) / k.cast("double")
    return daily.select(
        "d",
        "event_type",
        "n",
        mean.alias("day_mean"),
        F.when(
            var_num > 0, (F.col("n").cast("double") - mean) / std
        ).alias("cs_z"),
    )


def _q_vwap(spark: SparkSession, sf: str) -> DataFrame:
    """Quantity-weighted average price per brand × month (the VWAP
    shape): exact decimal Σ(qty·price) and Σqty, ONE division — the
    weighted mean every pricing report needs, decimal-exact where a
    double accumulation would drift."""
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    wsum = F.sum(
        (_dec("l_quantity") * _dec("l_extendedprice")).cast(DEC)
    )
    qsum = F.sum(_dec("l_quantity").cast(DEC))
    agg = j.groupBy(
        "p_brand", F.date_trunc("month", F.col("l_shipdate")).alias("m")
    ).agg(
        wsum.alias("__ws"),
        qsum.alias("__qs"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return agg.select(
        "p_brand",
        "m",
        "n_lines",
        (F.col("__ws").cast("double") / F.col("__qs").cast("double")).alias(
            "vwap"
        ),
    )


register_many(
    {
        'q200_auc': _q_auc,
        'q201_open_orders': _q_open_orders,
        'q202_new_vs_returning': _q_new_vs_returning,
        'q203_seasonal_strength': _q_seasonal_strength,
        'q204_link_prediction': _q_link_prediction,
        'q205_share_of_parent': _q_share_of_parent,
        'q206_pseudonymize': _q_pseudonymize,
        'q207_record_linkage': _q_record_linkage,
        'q208_geo_binning': _q_geo_binning,
        'q209_daily_bands': _q_daily_bands,
        'q210_bounce_rate': _q_bounce_rate,
        'q211_tokenizer_fertility': _q_tokenizer_fertility,
        'q212_repeat_share': _q_repeat_share,
        'q213_hierarchy_rollup': _q_hierarchy_rollup,
        'q214_k_anonymity': _q_k_anonymity,
        'q215_segment_overlap': _q_segment_overlap,
        'q216_scd2_temporal_join': _q_scd2_temporal_join,
        'q217_join_key_skew': _q_join_key_skew,
        'q218_orphan_check': _q_orphan_check,
        'q219_class_rebalance': _q_class_rebalance,
        'q220_negative_samples': _q_negative_samples,
        'q221_boolean_search': _q_boolean_search,
        'q222_did': _q_did,
        'q223_kpi_decomposition': _q_kpi_decomposition,
        'q224_availability': _q_availability,
        'q225_stemmed_vocab': _q_stemmed_vocab,
        'q226_burn_rate': _q_burn_rate,
        'q227_simpsons': _q_simpsons,
        'q228_feature_table': _q_feature_table,
        'q229_calendar_spine': _q_calendar_spine,
        'q230_dup_rate_by_source': _q_dup_rate_by_source,
        'q231_shipping_aging': _q_shipping_aging,
        'q232_dau_wau': _q_dau_wau,
        'q233_inter_purchase': _q_inter_purchase,
        'q234_precision_audit': _q_precision_audit,
        'q235_wilson_bound': _q_wilson_bound,
        'q236_degree_distribution': _q_degree_distribution,
        'q237_assortativity': _q_assortativity,
        'q238_containment_pairs': _q_containment_pairs,
        'q239_null_profile': _q_null_profile,
        'q240_spike_days': _q_spike_days,
        'q241_donchian': _q_donchian,
        'q242_cross_sectional_z': _q_cross_sectional_z,
        'q243_vwap': _q_vwap,
    },
    {
        'q200_auc': """
            WITH per_user AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS s,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS label
              FROM events GROUP BY user_id
            ),
            per_s AS (
              SELECT s, CAST(sum(label) AS BIGINT) AS np,
                CAST(count(*) AS BIGINT) AS nt
              FROM per_user GROUP BY s
            ),
            ranked AS (
              SELECT np, nt,
                coalesce(sum(nt) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS prev
              FROM per_s
            ),
            agg AS (
              SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nt) - sum(np) AS BIGINT) AS n_neg,
                CAST(sum(np * (2 * prev + nt + 1)) AS BIGINT) AS r2
              FROM ranked
            )
            SELECT n_pos, n_neg,
              CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / (2.0E0 * CAST(n_pos * n_neg AS DOUBLE))
              END AS auc
            FROM agg
        """,
        'q201_open_orders': """
            WITH closed AS (
              SELECT l_orderkey, max(l_shipdate) AS close_ts
              FROM lineitem GROUP BY l_orderkey
            ),
            spans AS (
              SELECT o_orderdate, close_ts
              FROM orders JOIN closed ON o_orderkey = l_orderkey
            ),
            deltas AS (
              SELECT date_trunc('day', o_orderdate) AS d, 1 AS delta
              FROM spans
              UNION ALL
              SELECT CAST(CAST(close_ts AS DATE) + INTERVAL 1 DAY
                     AS TIMESTAMP), -1
              FROM spans
            ),
            per_day AS (
              SELECT d, CAST(sum(delta) AS BIGINT) AS net
              FROM deltas GROUP BY d
            )
            SELECT d, net,
              CAST(sum(net) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_orders
            FROM per_day
        """,
        'q202_new_vs_returning': """
            WITH first_seen AS (
              SELECT o_custkey,
                date_trunc('month', min(o_orderdate)) AS first_month
              FROM orders GROUP BY o_custkey
            ),
            monthly AS (
              SELECT DISTINCT o_custkey,
                date_trunc('month', o_orderdate) AS m
              FROM orders
            )
            SELECT m,
              CAST(sum(CASE WHEN m = first_month THEN 1 ELSE 0 END)
                AS BIGINT) AS new_customers,
              CAST(sum(CASE WHEN m = first_month THEN 0 ELSE 1 END)
                AS BIGINT) AS returning_customers
            FROM monthly JOIN first_seen USING (o_custkey)
            GROUP BY m
        """,
        'q203_seasonal_strength': """
            WITH ints AS (
              SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hod,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)) AS xi
              FROM events WHERE value IS NOT NULL AND value >= 0
            ),
            cells AS (
              SELECT event_type, dow, hod, count(*) AS cn,
                sum(CAST(xi AS DECIMAL(38,0))) AS cs1,
                sum(CAST(xi * xi AS DECIMAL(38,0))) AS cs2
              FROM ints GROUP BY 1, 2, 3
            ),
            cellr AS (
              SELECT event_type, cn, cs1, cs2,
                (CAST(cs1 AS BIGINT) * 1000000) // cn AS mu
              FROM cells
            ),
            per_type AS (
              SELECT event_type,
                CAST(sum(cn) AS BIGINT) AS n,
                sum(cs1) AS s1,
                sum(cs2) AS s2,
                sum(CAST(
                  CAST(cs2 * CAST(1000000000000 AS DECIMAL(13,0))
                       AS DECIMAL(38,0))
                  - CAST(CAST(2 AS DECIMAL(2,0)) * CAST(mu AS DECIMAL(19,0))
                      * CAST(CAST(cs1 AS DECIMAL(20,0))
                             * CAST(1000000 AS DECIMAL(7,0))
                             AS DECIMAL(27,0)) AS DECIMAL(38,0))
                  + CAST(CAST(cn AS DECIMAL(12,0))
                      * CAST(CAST(mu AS DECIMAL(19,0))
                             * CAST(mu AS DECIMAL(19,0)) AS DECIMAL(25,0))
                      AS DECIMAL(38,0))
                AS DECIMAL(38,0))) AS ssr_s
              FROM cellr GROUP BY event_type
            ),
            final AS (
              SELECT event_type, n, ssr_s,
                (CAST(s1 AS BIGINT) * 1000000) // n AS mug, s1, s2
              FROM per_type
            )
            SELECT event_type, n,
              CASE WHEN CAST(
                  CAST(s2 * CAST(1000000000000 AS DECIMAL(13,0))
                       AS DECIMAL(38,0))
                  - CAST(CAST(2 AS DECIMAL(2,0)) * CAST(mug AS DECIMAL(19,0))
                      * CAST(CAST(s1 AS DECIMAL(20,0))
                             * CAST(1000000 AS DECIMAL(7,0))
                             AS DECIMAL(27,0)) AS DECIMAL(38,0))
                  + CAST(CAST(n AS DECIMAL(12,0))
                      * CAST(CAST(mug AS DECIMAL(19,0))
                             * CAST(mug AS DECIMAL(19,0)) AS DECIMAL(25,0))
                      AS DECIMAL(38,0)) AS DOUBLE) > 0
              THEN greatest(0.0E0, 1.0E0 - CAST(ssr_s AS DOUBLE) / CAST(
                  CAST(s2 * CAST(1000000000000 AS DECIMAL(13,0))
                       AS DECIMAL(38,0))
                  - CAST(CAST(2 AS DECIMAL(2,0)) * CAST(mug AS DECIMAL(19,0))
                      * CAST(CAST(s1 AS DECIMAL(20,0))
                             * CAST(1000000 AS DECIMAL(7,0))
                             AS DECIMAL(27,0)) AS DECIMAL(38,0))
                  + CAST(CAST(n AS DECIMAL(12,0))
                      * CAST(CAST(mug AS DECIMAL(19,0))
                             * CAST(mug AS DECIMAL(19,0)) AS DECIMAL(25,0))
                      AS DECIMAL(38,0)) AS DOUBLE))
              END AS seasonal_strength
            FROM final
        """,
        'q204_link_prediction': """
            WITH ob AS (
              SELECT DISTINCT l_orderkey AS o, p_brand AS b
              FROM lineitem JOIN part ON l_partkey = p_partkey
            ),
            e AS (
              SELECT DISTINCT x.b AS a, y.b AS b
              FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b
            ),
            sym AS (
              SELECT a, b FROM e UNION ALL SELECT b, a FROM e
            ),
            deg AS (
              SELECT a, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a
            ),
            common AS (
              SELECT x.a AS u, y.a AS v, CAST(count(*) AS BIGINT) AS common
              FROM sym x JOIN sym y ON x.b = y.b AND x.a < y.a
              GROUP BY 1, 2
            )
            SELECT u, v, common,
              CAST(common AS DOUBLE)
                / CAST(du.d + dv.d - common AS DOUBLE) AS jaccard
            FROM common
            JOIN deg du ON u = du.a
            JOIN deg dv ON v = dv.a
            WHERE common >= 3
        """,
        'q205_share_of_parent': f"""
            WITH agg AS (
              SELECT r_name, n_name, sum({_REV_SQL}) AS rev
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name, n_name
            )
            SELECT r_name, n_name, CAST(rev AS DOUBLE) AS revenue,
              CAST(rev AS DOUBLE)
                / CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE)
                AS region_share
            FROM agg
        """,
        'q206_pseudonymize': """
            SELECT
              sha256('pepper-v1:' || CAST(c_custkey AS VARCHAR))
                AS cust_token,
              c_mktsegment, c_nationkey,
              c_acctbal >= 0 AS in_good_standing
            FROM customer
        """,
        'q207_record_linkage': """
            WITH dirty AS (
              SELECT c_custkey AS d_key,
                'Custmer#' || lpad(CAST(c_custkey % 100000 AS VARCHAR), 9, '0')
                  AS d_name,
                c_nationkey AS d_nation,
                c_acctbal + ((c_custkey % 21) - 10) AS d_bal
              FROM customer
            )
            SELECT c_custkey, d_key,
              CAST(levenshtein(c_name, d_name) AS INT) AS name_dist,
              CAST(CASE WHEN levenshtein(c_name, d_name) <= 2 THEN 2 ELSE 0 END
                + CASE WHEN abs(c_acctbal - d_bal) <= 10.0E0 THEN 1 ELSE 0 END
                AS INT) AS match_score
            FROM customer JOIN dirty ON c_nationkey = d_nation
            WHERE CASE WHEN levenshtein(c_name, d_name) <= 2 THEN 2 ELSE 0 END
                + CASE WHEN abs(c_acctbal - d_bal) <= 10.0E0 THEN 1 ELSE 0 END
                >= 3
        """,
        'q208_geo_binning': f"""
            WITH keyed AS (
              SELECT
                CAST(floor(((CAST(('0x' || substr(md5('lat:'
                    || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 180)
                    - 90) / 10) AS INT) AS lat_cell,
                CAST(floor(((CAST(('0x' || substr(md5('lon:'
                    || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 360)
                    - 180) / 10) AS INT) AS lon_cell,
                value
              FROM events
            )
            SELECT lat_cell, lon_cell, CAST(count(*) AS BIGINT) AS n,
              {_davg_sql('value')} AS avg_value
            FROM keyed GROUP BY 1, 2
        """,
        'q209_daily_bands': """
            WITH hourly AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                date_trunc('hour', ts) AS h,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2, 3
            )
            SELECT event_type, d,
              quantile_cont(n, 0.1) AS p10,
              median(n) AS p50,
              quantile_cont(n, 0.9) AS p90,
              CAST(count(*) AS BIGINT) AS n_hours
            FROM hourly GROUP BY event_type, d
        """,
        'q210_bounce_rate': """
            WITH flagged AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                     THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
              SELECT user_id, ts,
                CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
              FROM flagged
            ),
            per_session AS (
              SELECT user_id, session_seq,
                date_trunc('day', min(ts)) AS d,
                CAST(count(*) AS BIGINT) AS n_events
              FROM sess GROUP BY user_id, session_seq
            )
            SELECT d, CAST(count(*) AS BIGINT) AS n_sessions,
              CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bounces,
              CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS bounce_rate
            FROM per_session GROUP BY d
        """,
        'q211_tokenizer_fertility': r"""
            WITH base AS (
              SELECT lang,
                CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '')) AS BIGINT) AS w,
                CAST(coalesce(list_aggregate(
                  list_transform(
                    list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> ''),
                    t -> CAST(ceil(len(t) / 4.0) AS INT)
                  ), 'sum'), 0) AS BIGINT) AS bt,
                CAST(length(text) AS BIGINT) AS c
              FROM documents
            )
            SELECT lang,
              CAST(sum(w) AS BIGINT) AS words,
              CAST(sum(bt) AS BIGINT) AS subword_tokens,
              CAST(sum(c) AS BIGINT) AS chars,
              CAST(sum(bt) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS fertility,
              CAST(sum(c) AS DOUBLE) / CAST(sum(bt) AS DOUBLE)
                AS chars_per_token
            FROM base GROUP BY lang
        """,
        'q212_repeat_share': """
            WITH ints AS (
              SELECT user_id, ts,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xi
              FROM events WHERE value IS NOT NULL
            ),
            enc AS (
              SELECT user_id,
                xi - lag(xi) OVER (PARTITION BY user_id ORDER BY ts)
                  AS delta,
                lag(xi) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  AS is_first
              FROM ints
            )
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_deltas,
              CAST(sum(CASE WHEN delta = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_repeats,
              CAST(sum(CASE WHEN abs(delta) <= 100 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_small,
              CAST(sum(CASE WHEN abs(delta) <= 100 THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS compressible_share
            FROM enc WHERE NOT is_first
            GROUP BY user_id
        """,
        'q213_hierarchy_rollup': """
            WITH RECURSIVE anc AS (
              SELECT c_custkey AS node, c_custkey AS ancestor, c_acctbal
              FROM customer
              UNION ALL
              SELECT node, ancestor // 10, c_acctbal
              FROM anc WHERE ancestor > 0
            )
            SELECT ancestor, CAST(count(*) AS BIGINT) AS n_desc,
              CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                AS subtree_bal
            FROM anc
            GROUP BY ancestor
            HAVING count(*) >= 2
        """,
        'q214_k_anonymity': """
            WITH binned AS (
              SELECT c_nationkey, c_mktsegment,
                CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS INT)
                  AS bal_decile
              FROM customer
            )
            SELECT c_nationkey, c_mktsegment, bal_decile,
              CAST(count(*) AS BIGINT) AS group_size
            FROM binned
            GROUP BY 1, 2, 3
            HAVING count(*) < 5
        """,
        'q215_segment_overlap': """
            WITH per_user AS (
              SELECT user_id,
                max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                + max(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END)
                + max(CASE WHEN event_type = 'purchase' THEN 4 ELSE 0 END)
                  AS segment_mask
              FROM events GROUP BY user_id
            )
            SELECT CAST(segment_mask AS INT) AS segment_mask,
              CAST(count(*) AS BIGINT) AS n_users
            FROM per_user GROUP BY segment_mask
        """,
        'q216_scd2_temporal_join': """
            WITH ordered AS (
              SELECT user_id, ts, event_type,
                lag(event_type) OVER w AS prev_et,
                lag(ts) OVER w AS prev_ts
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            versions AS (
              SELECT user_id, ts, event_type FROM ordered
              WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_et
            ),
            dim AS (
              SELECT user_id AS d_user, event_type AS state,
                ts AS valid_from, lead(ts) OVER w2 AS valid_to
              FROM versions
              WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
            )
            SELECT state, CAST(count(*) AS BIGINT) AS n_purchases,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events e JOIN dim
              ON e.user_id = dim.d_user
             AND e.ts > dim.valid_from
             AND (dim.valid_to IS NULL OR e.ts <= dim.valid_to)
            WHERE e.event_type = 'purchase'
            GROUP BY state
        """,
        'q217_join_key_skew': """
            WITH f1 AS (
              SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1
            ),
            f2 AS (
              SELECT l_suppkey AS k, count(*) AS n FROM lineitem GROUP BY 1
            ),
            s1 AS (
              SELECT 'l_partkey' AS join_key,
                CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(n) AS BIGINT) AS n_rows,
                CAST(max(n) AS BIGINT) AS max_key_rows,
                median(n) AS median_key_rows
              FROM f1
            ),
            s2 AS (
              SELECT 'l_suppkey' AS join_key,
                CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(n) AS BIGINT) AS n_rows,
                CAST(max(n) AS BIGINT) AS max_key_rows,
                median(n) AS median_key_rows
              FROM f2
            ),
            u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
            SELECT join_key, n_keys, n_rows, max_key_rows, median_key_rows,
              CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)
                AS max_share,
              CAST(max_key_rows AS DOUBLE) / median_key_rows AS skew_ratio
            FROM u
        """,
        'q218_orphan_check': """
            SELECT 'lineitem' AS fact, CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS orphan_orderkey,
              CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS orphan_partkey,
              CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS orphan_suppkey
            FROM lineitem l
            LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            LEFT JOIN part p ON l.l_partkey = p.p_partkey
            LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
            UNION ALL
            SELECT 'orders', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
              CAST(0 AS BIGINT), CAST(0 AS BIGINT)
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        'q219_class_rebalance': """
            WITH counts AS (
              SELECT label, count(*) AS n FROM embeddings GROUP BY label
            ),
            factors AS (
              SELECT label,
                CAST(floor((SELECT max(n) FROM counts) / n) AS INT) AS factor
              FROM counts
            ),
            rebalanced AS (
              SELECT e.label, e.vec_id,
                unnest(generate_series(1, f.factor)) AS copy_no
              FROM embeddings e JOIN factors f USING (label)
            )
            SELECT label, CAST(count(*) AS BIGINT) AS n_after,
              CAST(count(DISTINCT vec_id) AS BIGINT) AS n_unique
            FROM rebalanced GROUP BY label
        """,
        'q220_negative_samples': """
            WITH n AS (SELECT count(*) AS n FROM embeddings),
            base AS (
              SELECT vec_id, label AS anchor_label,
                unnest(generate_series(1, 3)) AS j
              FROM embeddings
            ),
            drawn AS (
              SELECT vec_id, anchor_label, j,
                CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':'
                    || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                  % (SELECT n - 1 FROM n) AS raw
              FROM base
            ),
            pairs AS (
              SELECT vec_id, anchor_label,
                CASE WHEN raw >= vec_id THEN raw + 1 ELSE raw END AS neg_id
              FROM drawn
            )
            SELECT anchor_label, CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(sum(CASE WHEN anchor_label = o.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_label
            FROM pairs JOIN embeddings o ON pairs.neg_id = o.vec_id
            GROUP BY anchor_label
        """,
        'q221_boolean_search': r"""
            WITH postings AS (
              SELECT DISTINCT doc_id, unnest(list_distinct(
                list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> ''))) AS term
              FROM documents
            ),
            hit_all AS (
              SELECT doc_id FROM postings
              WHERE term IN ('data', 'stream')
              GROUP BY doc_id HAVING count(DISTINCT term) = 2
            ),
            excluded AS (
              SELECT DISTINCT doc_id FROM postings WHERE term = 'slow'
            )
            SELECT d.doc_id, d.lang, d.source
            FROM hit_all h
            JOIN documents d ON h.doc_id = d.doc_id
            WHERE h.doc_id NOT IN (SELECT doc_id FROM excluded)
        """,
        'q222_did': """
            WITH keyed AS (
              SELECT CASE WHEN substr(md5('exp2'
                       || CAST(user_id AS VARCHAR)), 1, 8) < '80000000'
                     THEN 't' ELSE 'c' END AS arm,
                ts >= TIMESTAMP '2024-01-16' AS post, value
              FROM events WHERE value IS NOT NULL
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CASE WHEN arm = 't' AND NOT post
                     THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)
                  / sum(CASE WHEN arm = 't' AND NOT post THEN 1 ELSE 0 END)
                  AS t_pre,
                CAST(sum(CASE WHEN arm = 't' AND post
                     THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)
                  / sum(CASE WHEN arm = 't' AND post THEN 1 ELSE 0 END)
                  AS t_post,
                CAST(sum(CASE WHEN arm = 'c' AND NOT post
                     THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)
                  / sum(CASE WHEN arm = 'c' AND NOT post THEN 1 ELSE 0 END)
                  AS c_pre,
                CAST(sum(CASE WHEN arm = 'c' AND post
                     THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)
                  / sum(CASE WHEN arm = 'c' AND post THEN 1 ELSE 0 END)
                  AS c_post
              FROM keyed
            )
            SELECT n_events, t_pre, t_post, c_pre, c_post,
              (t_post - t_pre) - (c_post - c_pre) AS did
            FROM agg
        """,
        'q223_kpi_decomposition': """
            WITH monthly AS (
              SELECT date_trunc('month', o_orderdate) AS m,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                  AS revenue
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1997-03-01'
              GROUP BY 1
            ),
            cur AS (
              SELECT m, n_orders, revenue,
                lag(n_orders) OVER (ORDER BY m) AS n0,
                lag(revenue) OVER (ORDER BY m) AS r0
              FROM monthly
            )
            SELECT m, n_orders, revenue,
              revenue - r0 AS delta_revenue,
              CAST(n_orders - n0 AS DOUBLE) * (r0 / n0) AS volume_effect,
              CAST(n_orders AS DOUBLE)
                * (revenue / n_orders - r0 / n0) AS value_effect
            FROM cur WHERE n0 IS NOT NULL
        """,
        'q224_availability': """
            WITH gaps AS (
              SELECT user_id, ts,
                CAST(floor(epoch(ts)) AS BIGINT)
                  - CAST(floor(epoch(lag(ts) OVER
                      (PARTITION BY user_id ORDER BY ts))) AS BIGINT) AS gap,
                CAST(floor(epoch(ts)) AS BIGINT) AS ep
              FROM events
            ),
            agg AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                CAST(max(ep) - min(ep) AS BIGINT) AS span_s,
                CAST(sum(CASE WHEN gap > 7200 THEN gap - 7200 ELSE 0 END)
                  AS BIGINT) AS downtime_s
              FROM gaps GROUP BY user_id
            )
            SELECT user_id, n_events, span_s, downtime_s,
              1.0E0 - CAST(downtime_s AS DOUBLE) / CAST(span_s AS DOUBLE)
                AS availability
            FROM agg WHERE span_s > 0
        """,
        'q225_stemmed_vocab': r"""
            WITH toks AS (
              SELECT lang, unnest(list_filter(
                string_split_regex(trim(text), '\s+'), x -> x <> '')) AS w
              FROM documents
            ),
            stemmed AS (
              SELECT lang, w,
                regexp_replace(regexp_replace(regexp_replace(w,
                  '^([a-z]{3,})ing$', ''),
                  '^([a-z]{3,})ed$', ''),
                  '^([a-z]{2,})s$', '') AS stem
              FROM toks
            )
            SELECT lang,
              CAST(count(DISTINCT w) AS BIGINT) AS vocab_raw,
              CAST(count(DISTINCT stem) AS BIGINT) AS vocab_stemmed,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(count(DISTINCT stem) AS DOUBLE)
                / CAST(count(DISTINCT w) AS DOUBLE) AS compression
            FROM stemmed GROUP BY lang
        """,
        'q226_burn_rate': """
            WITH anchor AS (SELECT max(ts) AS a FROM events),
            agg AS (
              SELECT
                CAST(sum(CASE WHEN ts >= a - INTERVAL 1 HOUR
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_1h,
                CAST(sum(CASE WHEN ts >= a - INTERVAL 1 HOUR
                     AND event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS err_1h,
                CAST(sum(CASE WHEN ts >= a - INTERVAL 6 HOUR
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_6h,
                CAST(sum(CASE WHEN ts >= a - INTERVAL 6 HOUR
                     AND event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS err_6h
              FROM events, anchor
            )
            SELECT n_1h, err_1h, n_6h, err_6h,
              (CAST(err_1h AS DOUBLE) / CAST(n_1h AS DOUBLE)) / 0.05E0
                AS burn_1h,
              (CAST(err_6h AS DOUBLE) / CAST(n_6h AS DOUBLE)) / 0.05E0
                AS burn_6h,
              ((CAST(err_1h AS DOUBLE) / CAST(n_1h AS DOUBLE)) / 0.05E0
                 > 1.0E0)
              AND ((CAST(err_6h AS DOUBLE) / CAST(n_6h AS DOUBLE)) / 0.05E0
                 > 1.0E0) AS alert
            FROM agg
        """,
        'q227_simpsons': """
            WITH ints AS (
              SELECT p_brand AS b,
                CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0)) AS x,
                CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0)) AS y
              FROM lineitem JOIN part ON l_partkey = p_partkey
            ),
            g AS (
              SELECT b, count(*) AS n,
                sum(CAST(x AS DECIMAL(38,0))) AS sx,
                sum(CAST(y AS DECIMAL(38,0))) AS sy,
                sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
                sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
              FROM ints GROUP BY b
            ),
            per_brand AS (
              SELECT b,
                CASE WHEN sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(sxx AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sx AS DECIMAL(19,0))
                        * CAST(sx AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE))
                    * sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(syy AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sy AS DECIMAL(19,0))
                        * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE)) > 0
                THEN CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(sxy AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sx AS DECIMAL(19,0))
                        * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE)
                  / (sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(sxx AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sx AS DECIMAL(19,0))
                        * CAST(sx AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE))
                    * sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(syy AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sy AS DECIMAL(19,0))
                        * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE)))
                END AS corr
              FROM g
            ),
            pooledsums AS (
              SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
                sum(sxx) AS sxx, sum(syy) AS syy, sum(sxy) AS sxy
              FROM g
            ),
            pooled AS (
              SELECT
                CASE WHEN sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(sxx AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sx AS DECIMAL(19,0))
                        * CAST(sx AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE))
                    * sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(syy AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sy AS DECIMAL(19,0))
                        * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE)) > 0
                THEN CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(sxy AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sx AS DECIMAL(19,0))
                        * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE)
                  / (sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(sxx AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sx AS DECIMAL(19,0))
                        * CAST(sx AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE))
                    * sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                        * CAST(syy AS DECIMAL(25,0)) AS DECIMAL(37,0))
                      - CAST(CAST(sy AS DECIMAL(19,0))
                        * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(37,0))
                      AS DOUBLE)))
                END AS overall_corr
              FROM pooledsums
            )
            SELECT overall_corr,
              CAST(count(corr) AS BIGINT) AS n_brands,
              CAST(sum(CASE WHEN corr IS NOT NULL
                   AND sign(corr) <> sign(overall_corr)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_opposite_sign,
              CAST(sum(CASE WHEN corr IS NOT NULL
                   AND sign(corr) <> sign(overall_corr)
                   THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(corr) AS DOUBLE) AS opposite_share
            FROM per_brand, pooled
            GROUP BY overall_corr
        """,
        'q228_feature_table': """
            WITH daily AS (
              SELECT user_id, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n_events
              FROM events GROUP BY 1, 2
            )
            SELECT user_id, d, n_events,
              lag(n_events, 1) OVER w AS lag1,
              lag(n_events, 7) OVER w AS lag7,
              CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY d
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                / count(*) OVER (PARTITION BY user_id ORDER BY d
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS rolling7_mean,
              CAST(dayofweek(d) + 1 AS INT) AS dow
            FROM daily
            WINDOW w AS (PARTITION BY user_id ORDER BY d)
        """,
        'q229_calendar_spine': """
            WITH bounds AS (
              SELECT date_trunc('day', min(ts)) AS lo,
                date_trunc('day', max(ts)) AS hi
              FROM events
            ),
            days AS (
              SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
              FROM bounds
            ),
            types AS (SELECT DISTINCT event_type AS et FROM events),
            counts AS (
              SELECT date_trunc('day', ts) AS d, event_type AS et,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT days.d, types.et AS event_type,
              CAST(coalesce(n, 0) AS BIGINT) AS n_events
            FROM days CROSS JOIN types
            LEFT JOIN counts ON days.d = counts.d AND types.et = counts.et
        """,
        'q230_dup_rate_by_source': """
            WITH groups AS (
              SELECT source, md5(text) AS fp, count(*) AS n
              FROM documents GROUP BY 1, 2
            )
            SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_distinct,
              CAST(sum(n - 1) AS BIGINT) AS n_dup_rows,
              CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_factor
            FROM groups GROUP BY source
        """,
        'q231_shipping_aging': """
            WITH first_ship AS (
              SELECT l_orderkey, min(l_shipdate) AS first_ship
              FROM lineitem GROUP BY l_orderkey
            ),
            j AS (
              SELECT o_orderpriority,
                date_diff('day', o_orderdate, first_ship) AS days
              FROM orders JOIN first_ship ON o_orderkey = l_orderkey
            )
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
              median(days) AS median_days,
              quantile_cont(days, 0.9) AS p90_days,
              CAST(max(days) AS INT) AS max_days
            FROM j GROUP BY o_orderpriority
        """,
        'q232_dau_wau': """
            WITH user_days AS (
              SELECT DISTINCT user_id, date_trunc('day', ts) AS d,
                date_trunc('week', ts) AS w
              FROM events
            ),
            dau AS (
              SELECT w, d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
              FROM user_days GROUP BY w, d
            ),
            weekly AS (
              SELECT w, CAST(sum(dau) AS BIGINT) AS sum_dau,
                CAST(count(*) AS BIGINT) AS n_days
              FROM dau GROUP BY w
            ),
            wau AS (
              SELECT w, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
              FROM user_days GROUP BY w
            )
            SELECT weekly.w, sum_dau, n_days, wau,
              (CAST(sum_dau AS DOUBLE) / CAST(n_days AS DOUBLE))
                / CAST(wau AS DOUBLE) AS stickiness
            FROM weekly JOIN wau ON weekly.w = wau.w
        """,
        'q233_inter_purchase': """
            WITH gaps AS (
              SELECT o_custkey,
                date_diff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
              FROM orders
            ),
            nn AS (SELECT * FROM gaps WHERE gap_days IS NOT NULL)
            SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
              median(gap_days) AS median_gap_days,
              CAST(min(gap_days) AS INT) AS min_gap_days
            FROM nn GROUP BY o_custkey
            HAVING count(*) >= 2
        """,
        'q234_precision_audit': """
            SELECT 'lineitem' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN abs(l_extendedprice * 100
                   - round(l_extendedprice * 100, 0)) > 1.0E-6
                   THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
              CAST(sum(CASE WHEN abs(l_discount * 100
                   - round(l_discount * 100, 0)) > 1.0E-6
                   THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount
            FROM lineitem
            UNION ALL
            SELECT 'events', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN abs(value * 100
                   - round(value * 100, 0)) > 1.0E-6
                   THEN 1 ELSE 0 END) AS BIGINT),
              CAST(0 AS BIGINT)
            FROM events WHERE value IS NOT NULL
        """,
        'q235_wilson_bound': """
            WITH per_user AS (
              SELECT user_id,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS converted
              FROM events GROUP BY user_id
            ),
            touched AS (
              SELECT DISTINCT e.event_type AS channel, e.user_id
              FROM events e
            ),
            agg AS (
              SELECT channel, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(converted) AS BIGINT) AS k
              FROM touched JOIN per_user USING (user_id)
              GROUP BY channel
            )
            SELECT channel, n, k,
              CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
              (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                 + (1.96E0 * 1.96E0) / CAST(n AS DOUBLE) / 2
                 - 1.96E0 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                     * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                     + (1.96E0 * 1.96E0) / CAST(n AS DOUBLE) / 4)
                     / CAST(n AS DOUBLE)))
               / (1 + (1.96E0 * 1.96E0) / CAST(n AS DOUBLE)) AS wilson_lb
            FROM agg
        """,
        'q236_degree_distribution': """
            WITH ob AS (
              SELECT DISTINCT l_orderkey AS o, p_brand AS b
              FROM lineitem JOIN part ON l_partkey = p_partkey
            ),
            e AS (
              SELECT DISTINCT x.b AS a, y.b AS b
              FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b
            ),
            sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
            deg AS (
              SELECT a, CAST(count(*) AS BIGINT) AS degree
              FROM sym GROUP BY a
            )
            SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY degree
        """,
        'q237_assortativity': """
            WITH ob AS (
              SELECT DISTINCT l_orderkey AS o, p_brand AS b
              FROM lineitem JOIN part ON l_partkey = p_partkey
            ),
            e AS (
              SELECT DISTINCT x.b AS a, y.b AS b
              FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b
            ),
            sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
            deg AS (SELECT a, count(*) AS d FROM sym GROUP BY a),
            pairs AS (
              SELECT CAST(da.d AS DECIMAL(19,0)) AS xi,
                CAST(db.d AS DECIMAL(19,0)) AS yi
              FROM sym
              JOIN deg da ON sym.a = da.a
              JOIN deg db ON sym.b = db.a
            ),
            s AS (
              SELECT count(*) AS n,
                sum(CAST(xi AS DECIMAL(38,0))) AS sx,
                sum(CAST(yi AS DECIMAL(38,0))) AS sy,
                sum(CAST(xi * xi AS DECIMAL(38,0))) AS sxx,
                sum(CAST(yi * yi AS DECIMAL(38,0))) AS syy,
                sum(CAST(xi * yi AS DECIMAL(38,0))) AS sxy
              FROM pairs
            )
            SELECT CAST(n AS BIGINT) AS n_directed_edges,
              CASE WHEN sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                      * CAST(sxx AS DECIMAL(25,0)) AS DECIMAL(37,0))
                    - CAST(CAST(sx AS DECIMAL(19,0))
                      * CAST(sx AS DECIMAL(19,0)) AS DECIMAL(37,0))
                    AS DOUBLE))
                  * sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                      * CAST(syy AS DECIMAL(25,0)) AS DECIMAL(37,0))
                    - CAST(CAST(sy AS DECIMAL(19,0))
                      * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(37,0))
                    AS DOUBLE)) > 0
              THEN CAST(CAST(CAST(n AS DECIMAL(12,0))
                      * CAST(sxy AS DECIMAL(25,0)) AS DECIMAL(37,0))
                    - CAST(CAST(sx AS DECIMAL(19,0))
                      * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(37,0))
                    AS DOUBLE)
                / (sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                      * CAST(sxx AS DECIMAL(25,0)) AS DECIMAL(37,0))
                    - CAST(CAST(sx AS DECIMAL(19,0))
                      * CAST(sx AS DECIMAL(19,0)) AS DECIMAL(37,0))
                    AS DOUBLE))
                  * sqrt(CAST(CAST(CAST(n AS DECIMAL(12,0))
                      * CAST(syy AS DECIMAL(25,0)) AS DECIMAL(37,0))
                    - CAST(CAST(sy AS DECIMAL(19,0))
                      * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(37,0))
                    AS DOUBLE)))
              END AS assortativity
            FROM s
        """,
        'q238_containment_pairs': r"""
            WITH reps AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents
                               GROUP BY text)
            ),
            toks AS (
              SELECT doc_id AS id,
                list_distinct(
                  list_transform(
                    generate_series(1, greatest(len(t) - 1, 0)),
                    i -> array_to_string(t[i:i+1], ' ')
                  )
                ) AS tok
              FROM (
                SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '') AS t
                FROM reps
              )
            ),
            inv AS (
              SELECT id, len(tok) AS n_tok, unnest(tok) AS token
              FROM toks WHERE len(tok) > 0
            ),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b,
                a.n_tok AS n_a, b.n_tok AS n_b,
                CAST(count(*) AS BIGINT) AS inter
              FROM inv a JOIN inv b ON a.token = b.token AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b, inter,
              CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE)
                AS containment
            FROM pairs
            WHERE CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE)
              >= 0.5E0
        """,
        'q239_null_profile': """
            WITH agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c4,
                CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c5,
                CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c6
              FROM events
            ),
            stacked AS (
              SELECT n, 'event_id' AS column_name, c1 AS n_null FROM agg
              UNION ALL SELECT n, 'ts', c2 FROM agg
              UNION ALL SELECT n, 'user_id', c3 FROM agg
              UNION ALL SELECT n, 'event_type', c4 FROM agg
              UNION ALL SELECT n, 'value', c5 FROM agg
              UNION ALL SELECT n, 'props', c6 FROM agg
            )
            SELECT column_name, n AS n_rows, n_null,
              CAST(n_null AS DOUBLE) / CAST(n AS DOUBLE) AS null_share
            FROM stacked
        """,
        'q240_spike_days': """
            WITH daily AS (
              SELECT date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1
            ),
            scored AS (
              SELECT d, n,
                CAST(sum(n) OVER (ORDER BY d
                  ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS DOUBLE)
                / count(*) OVER (ORDER BY d
                  ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trailing_avg
              FROM daily
            )
            SELECT d, n, trailing_avg
            FROM scored
            WHERE trailing_avg IS NOT NULL
              AND CAST(n AS DOUBLE) > 1.05E0 * trailing_avg
        """,
        'q241_donchian': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            scored AS (
              SELECT event_type, d, n,
                min(n) OVER w AS chan_lo,
                max(n) OVER w AS chan_hi
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT event_type, d, n,
              CAST(chan_lo AS BIGINT) AS chan_lo,
              CAST(chan_hi AS BIGINT) AS chan_hi,
              n > chan_hi AS break_up,
              n < chan_lo AS break_down
            FROM scored WHERE chan_lo IS NOT NULL
        """,
        'q242_cross_sectional_z': """
            WITH daily AS (
              SELECT date_trunc('day', ts) AS d, event_type,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            scored AS (
              SELECT d, event_type, n,
                count(*) OVER wd AS k,
                sum(n) OVER wd AS s1,
                sum(n * n) OVER wd AS s2
              FROM daily
              WINDOW wd AS (PARTITION BY d)
            )
            SELECT d, event_type, n,
              CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS day_mean,
              CASE WHEN CAST(k * s2 - s1 * s1 AS DOUBLE) > 0 THEN
                (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
                / (sqrt(CAST(k * s2 - s1 * s1 AS DOUBLE)) / CAST(k AS DOUBLE))
              END AS cs_z
            FROM scored
        """,
        'q243_vwap': """
            SELECT p_brand, date_trunc('month', l_shipdate) AS m,
              CAST(count(*) AS BIGINT) AS n_lines,
              CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2))
                   * CAST(l_extendedprice AS DECIMAL(12,2))
                   AS DECIMAL(38,6))) AS DOUBLE)
                / CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2))
                   AS DECIMAL(38,6))) AS DOUBLE) AS vwap
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2
        """,
    },
)
