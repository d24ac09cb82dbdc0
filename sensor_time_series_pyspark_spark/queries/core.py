"""Core relational, temporal, dedup/similarity/text and ML
surface queries (flagship .. q81).

Shared helpers are in queries/common.py; queries/registry.py raises
on duplicate query names."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint64,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
)
from sensor_time_series_pyspark_spark.ml import (
    classification_pipeline,
    decode_predictions,
    decompose,
    fit_forecast,
    grid_search_forecast,
    regression_pipeline,
    temporal_split,
)
from sensor_time_series_pyspark_spark.operators import (
    asof_join,
    dedup_clusters,
    exact_dedup,
    ffill,
    interpolate_linear,
    jaccard_pairs,
    lead_target,
    minhash_pairs,
    missing_buckets,
    pivot_wide,
    quantile_clip,
    resample,
    sessionize,
    spread,
    topk_cosine,
)
from sensor_time_series_pyspark_spark.plans import sensor_etl
from sensor_time_series_pyspark_spark.queries.common import (
    DEC,
    EVENT_TYPES,
    _NBPE_SQL,
    _PR_SQL,
    _QUALITY_Q_SQL,
    _SESSIONIZE_SQL,
    _STOPWORD_LIST,
    _SW_SQL,
    _davg,
    _davg_sql,
    _dec,
    _dsum,
    _minhash_sql,
    _nulled_events,
    _rep_docs,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _daily_series(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user daily mean value — the bounded per-series frame every
    forecasting query starts from (resample NATIVELY before any
    applyInPandas so Python groups stay small; ml/forecast.py)."""
    ev = read_table(spark, sf, "events")
    return ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        _davg(F.col("value")).alias("value")
    )


def _event_rules() -> dict[str, F.Column]:
    return {
        "value_in_range": (F.col("value") >= 0) & (F.col("value") <= 100),
        "ts_not_null": F.col("ts").isNotNull(),
        "known_event_type": F.col("event_type").isin(EVENT_TYPES),
    }


def _pivot_avg_sql(t: str) -> str:
    return "coalesce(" + _davg_sql("value", "event_type='" + t + "'") + ", 0)"


_FLAGSHIP_SQL = """
WITH filtered AS (
  SELECT * FROM events WHERE value IS NOT NULL AND value >= 0
),
joined AS (
  SELECT make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)*3600*1000000) AS bucket,
         c_nationkey, trim(event_type) AS event_type, value
  FROM filtered JOIN customer ON user_id = c_custkey
),
agg AS (
  SELECT bucket, c_nationkey,
    {click} AS click,
    {view} AS view,
    {purchase} AS purchase,
    {signup} AS signup,
    {error} AS error,
    max(value) AS severity,
    count(*) AS n_events
  FROM joined GROUP BY bucket, c_nationkey
)
SELECT agg.*, n_name FROM agg JOIN nation ON c_nationkey = n_nationkey
""".format(**{t: _pivot_avg_sql(t) for t in EVENT_TYPES})


_PIVOT_SQL = """
SELECT user_id,
  {click} AS click,
  {view} AS view,
  {purchase} AS purchase,
  {signup} AS signup,
  {error} AS error,
  count(*) AS n_events
FROM events GROUP BY user_id
""".format(**{t: _pivot_avg_sql(t) for t in EVENT_TYPES})


_DOC_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tok,
    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS total_chars
  FROM documents
)
SELECT doc_id,
  CAST(len(tok) AS INT) AS n_tokens,
  total_chars / len(tok) AS avg_token_len,
  CASE WHEN len(tok) > 0
       THEN len(list_filter(tok, t -> list_contains({_STOPWORD_LIST}, lower(t)))) / len(tok)
       ELSE 0 END AS stop_ratio
FROM toks
"""


def _srp_sql(dim: int = 64, n_bits: int = 16, scale_bits: int = 20) -> str:
    """DuckDB twin of srp_signature_portable: same seeded ±1 planes as
    literals; integer-scaled dots are exact doubles (< 2^33), so the
    sign — and therefore every signature bit — matches Spark exactly."""
    from sensor_time_series_pyspark_spark.operators import srp_planes_rademacher

    planes = srp_planes_rademacher(dim, n_bits)
    scale = float(1 << scale_bits)
    bit_terms = " + ".join(
        f"(CASE WHEN list_dot_product(s, {planes[b]}::DOUBLE[]) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )
    return f"""
WITH scaled AS (
  SELECT vec_id,
    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * {scale})) AS s
  FROM embeddings
)
SELECT vec_id, CAST({bit_terms} AS BIGINT) AS srp_sig FROM scaled
"""


def _simhash_sql(
    max_hamming: int = 6, n_bits: int = 48, n_bands: int = 8
) -> str:
    """DuckDB twin of simhash_pairs_portable: same md5-derived 48-bit
    shingle ids, same per-bit majority votes, same banding and
    bit_count(xor) verify."""
    width = n_bits // n_bands
    votes = ",\n    ".join(
        f"sum(CASE WHEN (sid >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(n_bits)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(n_bits)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT id, {i} AS band_id, (sig >> {i * width}) & {(1 << width) - 1} "
        "AS band_val FROM sigs"
        for i in range(n_bands)
    )
    return rf"""
WITH reps AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
),
toks AS (
  SELECT id, tok FROM (
    SELECT doc_id AS id,
      list_distinct(
        list_transform(
          generate_series(1, greatest(len(t) - 1, 0)),
          i -> array_to_string(t[i:i+1], ' ')
        )
      ) AS tok
    FROM (
      SELECT doc_id,
        list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      FROM reps
    )
  ) WHERE len(tok) > 0
),
ids AS (
  SELECT id, ('0x' || substr(md5(sh), 1, 12))::BIGINT AS sid
  FROM (SELECT id, unnest(tok) AS sh FROM toks)
),
votes AS (
  SELECT id,
    {votes}
  FROM ids GROUP BY id
),
sigs AS (
  SELECT id, CAST({sig_terms} AS BIGINT) AS sig FROM votes
),
bands AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.id < b.id
)
SELECT c.id_a, c.id_b,
  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS hamming
FROM cand c
JOIN sigs sa ON c.id_a = sa.id
JOIN sigs sb ON c.id_b = sb.id
WHERE bit_count(xor(sa.sig, sb.sig)) <= {max_hamming}
"""


def _q_flagship(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's full ETL pipeline (sensor_data_etl.py:24-104)
    re-expressed Spark-first: long events → repair → filter → dim join
    → ONE conditional pivot aggregate → impute → broadcast nation join
    (plans/sensor_etl.py; replaces the reference's two groupBys +
    3-key self-join + ≥6 DAG recomputations)."""
    df = sensor_etl(spark, sf)
    return df.select(
        "bucket", "c_nationkey", *EVENT_TYPES, "severity", "n_events", "n_name"
    )


def _q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: the reference's A1-style multi-agg groupBy at
    fact scale (hash aggregate, map-side partials, one shuffle)."""
    li = read_table(spark, sf, "lineitem")
    # Exact SCALED-LONG arithmetic: the three money columns carry <= 2
    # decimals and are non-negative, so (x*100 + 0.5)::long recovers
    # the exact cent integer with pure double ops — no per-row decimal
    # cast (the casts, not the sums, cost 3x: 0.885s -> 0.53s at
    # sf0.1). Products stay integers at scale 1e4/1e6; the largest
    # group sum (~6.6e16 at sf0.1) is far under 2^63, and ANSI mode
    # fails loudly (never wraps) at the ~8e7-rows-per-group point where
    # a 100 TB run must switch to the decimal form. Final values are
    # the same exact integers the decimal form produces, so the
    # cast-to-double + one division epilogue hash-matches the oracle's
    # decimal sums (verified at sf0.001/0.01/0.1).
    cents = lambda c: (F.col(c) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    qty, ext = cents("l_quantity"), cents("l_extendedprice")
    dis, tax = cents("l_discount"), cents("l_tax")
    disc_price = ext * (F.lit(100) - dis)           # scale 1e4
    charge = disc_price * (F.lit(100) + tax)        # scale 1e6
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty).cast("double") / F.lit(1e2)).alias("sum_qty"),
            (F.sum(ext).cast("double") / F.lit(1e2)).alias("sum_base_price"),
            (F.sum(disc_price).cast("double") / F.lit(1e4)).alias(
                "sum_disc_price"
            ),
            (F.sum(charge).cast("double") / F.lit(1e6)).alias("sum_charge"),
            (
                F.sum(qty).cast("double") / F.lit(1e2)
                / F.count(F.col("l_quantity"))
            ).alias("avg_qty"),
            (
                F.sum(ext).cast("double") / F.lit(1e2)
                / F.count(F.col("l_extendedprice"))
            ).alias("avg_price"),
            (
                F.sum(dis).cast("double") / F.lit(1e2)
                / F.count(F.col("l_discount"))
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_segment_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two fact joins → agg
    (reference J1/J4 composition). Catalyst broadcast-joins the filtered
    customer side under AQE."""
    c = read_table(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = read_table(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


def _q_region_supplier_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Snowflake dim chain with broadcast joins (reference J3)."""
    s = read_table(spark, sf, "supplier")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            _davg(F.col("s_acctbal")).alias("avg_acctbal"),
        )
    )


def _q_event_type_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Long→wide pivot via one-shuffle conditional aggregation
    (reference A2+A6, operators/pivot.py)."""
    ev = read_table(spark, sf, "events")
    wide = pivot_wide(
        ev,
        keys=["user_id"],
        pivot_col="event_type",
        pivot_values=EVENT_TYPES,
        value_col="value",
        agg="avg_decimal",
        extra_aggs=[F.count(F.lit(1)).alias("n_events")],
    ).na.fill({t: 0.0 for t in EVENT_TYPES})
    return wide.select("user_id", *EVENT_TYPES, "n_events")


def _q_customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Anti join (SURVEY.md §2.3: absent from the reference — part of a
    complete relational surface): customers with no orders since 1997.
    The date filter pushes to the parquet scan before the join."""
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


def _q_top_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K per group via row_number (deterministic tiebreak on key)."""
    o = read_table(spark, sf, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def _q_next_day_max(spark: SparkSession, sf: str) -> DataFrame:
    """Daily max + lead-as-label (reference A3+W1+J4 collapsed: the
    self-join at sensor_data_regression.py:46 is unnecessary — the lead
    window runs directly on the daily aggregate, partitioned by entity)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.max("value").alias("day_max"))
    return lead_target(
        daily, order_col="day", target_col="day_max",
        partition_by=["user_id"], out_col="next_day_max",
    )


def _q_resample_30min(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 30-minute resample (reference T1, native)."""
    ev = read_table(spark, sf, "events")
    return resample(
        ev,
        ts_col="ts",
        width="30 minutes",
        keys=["event_type"],
        aggs=[
            _davg(F.col("value")).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        ],
    )


def _q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap)."""
    ev = read_table(spark, sf, "events")
    sess = sessionize(ev, ts_col="ts", partition_by=["user_id"], gap_seconds=1800)
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup via content hash (north-star; md5 matches DuckDB)."""
    docs = read_table(spark, sf, "documents")
    return docs.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


def _q_doc_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Text-quality features, all JVM-side expressions (north-star)."""
    docs = spread(read_table(spark, sf, "documents"))
    total_chars = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
    n = token_count("text")
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        (total_chars / n).alias("avg_token_len"),
        stopword_ratio("text").alias("stop_ratio"),
    )


def _q_case_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar-expression surface: CASE WHEN / cast / string fn
    (reference P6/P7, sensor_data_etl.py:31-33)."""
    p = read_table(spark, sf, "part")
    band = (
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
    )
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand"),
        band.alias("size_band"),
        F.floor("p_retailprice").cast("long").alias("price_floor"),
    )


def _q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Set operations (SURVEY.md §2.6: absent from reference; needed by
    the dedup pipeline): customers placing URGENT but never LOW-priority
    orders."""
    o = read_table(spark, sf, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    low = o.where(F.col("o_orderpriority") == "5-LOW").select("o_custkey").distinct()
    return urgent.exceptAll(low)


def _q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY.md §2.4 'not present' list)."""
    o = read_table(spark, sf, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_revenue"),
    )


def _q_ffill(spark: SparkSession, sf: str) -> DataFrame:
    """Forward-fill per series (reference T2, native)."""
    out = ffill(
        _nulled_events(spark, sf),
        ["value"],
        order_col="ts",
        partition_by=["user_id"],
        tiebreak_col="event_id",
    )
    return out.select("event_id", "user_id", "ts", "value")


def _q_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Linear interpolation per series (reference T3, pure column
    algebra — no UDF)."""
    out = interpolate_linear(
        _nulled_events(spark, sf),
        "ts",
        "value",
        ["user_id"],
        tiebreak_col="event_id",
    )
    return out.select("event_id", "user_id", "ts", "value")


def _q_quantile_clip(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group [q20, q80] trim (reference T4) with exact interpolated
    percentile (matches DuckDB quantile_cont bit-for-bit)."""
    ev = read_table(spark, sf, "events")
    return quantile_clip(ev, "value", ["event_type"], 0.2, 0.8).select(
        "event_id", "event_type", "value"
    )


def _q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time as-of join (SURVEY.md §2.3 north star): each event
    picks up the customer's most recent order total at that instant."""
    ev = read_table(spark, sf, "events")
    o = read_table(spark, sf, "orders")
    # unique right rows per (key, ts) for determinism
    daily_orders = o.groupBy(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate")
    ).agg(F.max("o_totalprice").alias("last_order_price"))
    out = asof_join(
        ev, daily_orders, on=["user_id"], left_ts="ts", right_ts="o_orderdate",
        value_cols=["last_order_price"],
    )
    return out.select("event_id", "user_id", "ts", "last_order_price")


def _q_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join
    (never a cross join; operators/dedup.py), over exact-dedup reps.
    persist_index: the exact-dedup window upstream makes recompute
    expensive — materializing the (small) inverted index halves the
    steady-state cost (measured 2.2s → 1.2s at sf0.1)."""
    return jaccard_pairs(
        _rep_docs(spark, sf), "doc_id", "text", threshold=0.2, shingle_k=3,
        persist_index=True,
    )


def _q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs over exact-dedup reps
    (operators/dedup.py:minhash_pairs): md5-derived portable shingle
    ids + affine permutations mod 2^31-1 make every stage — signature,
    banding, candidate join, exact-Jaccard verify — reproducible in
    ANSI SQL, so this is oracle-gated."""
    return minhash_pairs(
        _rep_docs(spark, sf), "doc_id", "text",
        threshold=0.35, shingle_k=2, n_hashes=16, n_bands=8,
    )


def _q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash banded near-dup pairs over exact-dedup reps
    (operators/dedup.py:simhash_pairs_portable): per-bit majority votes
    over 48-bit md5-derived shingle ids — signature, banding, and the
    hamming verify all reproduce in ANSI SQL, so this is oracle-gated."""
    from sensor_time_series_pyspark_spark.operators import simhash_pairs_portable

    return simhash_pairs_portable(
        _rep_docs(spark, sf), "doc_id", "text", max_hamming=6, shingle_k=2
    )


def _q_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector (rank output only:
    DuckDB's list_cosine_similarity computes in float32, so scores
    aren't hash-comparable — ranks are stable, gaps ≫ float error)."""
    emb = read_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return topk_cosine(emb, queries, "vec_id", "vec_id", "embedding", k=5).select(
        "qid", "cid", "rank"
    )


def _q_embedding_norm_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding L2-norm stats — JVM-side higher-order
    functions over array<float> (functions/vectors.py)."""
    from sensor_time_series_pyspark_spark.functions.vectors import l2_norm

    emb = read_table(spark, sf, "embeddings")
    norms = emb.select("label", l2_norm("embedding").alias("norm"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        _davg(F.col("norm")).alias("avg_norm"),
    )


def _q_text_features(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID + quality scoring + BPE-ish token estimate — all
    JVM-side column algebra (functions/text.py), no Python worker in
    the 100 TB path. spread(): the tiny test file is one split — fan
    the expression work across cores (no-op decision at real scale)."""
    docs = spread(read_table(spark, sf, "documents"))
    return docs.select(
        "doc_id",
        lang_id("text").alias("lang_pred"),
        bpe_ish_token_count("text").cast("long").alias("n_bpe"),
        punct_ratio("text").alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


def _q_fingerprint_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint distinct-count: xxhash64 of normalized text
    equals text-level distinct modulo hash collisions (≈0 at these
    cardinalities) — the cheap dedup cardinality probe."""
    docs = spread(read_table(spark, sf, "documents"))
    return docs.agg(
        F.count_distinct(fingerprint64("text")).alias("n_unique"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _q_distinct_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct aggregation (SURVEY.md §2.4 'not present' list)."""
    o = read_table(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def _q_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets over two dims (SURVEY.md §2.4)."""
    ev = read_table(spark, sf, "events")
    return ev.cube("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("value")).alias("total_value"),
    )


def _q_approx_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """GK-sketch quantiles, all columns in ONE job (fixes reference
    bug #4: per-column approxQuantile re-ran the upstream DAG each call,
    sensor_data_etl.py:95-98). Output is flattened to one scalar row
    per column (the driver's comparator requires hashable — non-array
    — cells).

    Promoted to a hash-gated oracle in round 10 (VERDICT r9 #2): the
    GK guarantee returns the smallest element whose rank covers
    p*n +- eps*n, so at accuracy 1e7 (eps = 1e-7) the rank window is
    < 0.5 for every corpus under ~5e6 rows and the sketch DEGENERATES
    TO EXACT — the element DuckDB's quantile_disc picks (verified
    identical at all three SFs). Past ~5e6 rows the window reopens;
    that is the documented oracle-contract bound, and the SCALE
    configuration simply dials accuracy back to the sketch regime
    (the operator and plan are unchanged — one mergeable partial
    aggregate either way)."""
    from sensor_time_series_pyspark_spark.operators import approx_quantiles

    li = read_table(spark, sf, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    one_row = approx_quantiles(li, cols, [0.25, 0.5, 0.75], accuracy=10_000_000)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}_q")[0].alias("p25"),
            F.col(f"{c}_q")[1].alias("p50"),
            F.col(f"{c}_q")[2].alias("p75"),
        )
        for c in cols
    ]
    return one_row.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


def _q_dedup_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-lowest-id exact dedup (operators/dedup.py:exact_dedup) —
    one shuffle on the 64-bit content hash, deterministic survivor."""
    docs = read_table(spark, sf, "documents")
    return exact_dedup(docs, "text", "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


def _q_blob_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal metadata path (operators/multimodal.py): binary
    column + JVM-side size/format/md5 — no Python worker. Blobs are
    synthesized from text (container has no media files); the plumbing
    is identical for real image/audio bytes."""
    from sensor_time_series_pyspark_spark.operators import blob_metadata

    docs = read_table(spark, sf, "documents")
    blobs = docs.select("doc_id", F.encode("text", "utf-8").alias("blob"))
    out = blob_metadata(blobs, "blob")
    return out.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.format").alias("format"),
        F.col("meta.content_md5").alias("content_md5"),
    )


def _q_decode_features(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched decode seam (operators/multimodal.py:
    decode_features) with the ``bytestats`` stub: a REAL mapInPandas
    Python-worker pass whose integer byte-statistics output is also
    computable in ANSI SQL — so the full Arrow round trip (schema,
    batching, float32 transport) is oracle-gated (upgraded from round
    1's rows-only sha256-RNG stub, which remains as decoder='fake').
    Features flattened to exact longs for the comparator."""
    from sensor_time_series_pyspark_spark.operators import decode_features

    docs = read_table(spark, sf, "documents")
    blobs = docs.select("doc_id", F.encode("text", "utf-8").alias("blob"))
    feats = decode_features(blobs, "blob", ["doc_id"], dim=8, decoder="bytestats")
    names = [
        "n_bytes", "byte_sum", "byte_min", "byte_max",
        "n_ws", "n_hi", "first_byte", "last_byte",
    ]
    return feats.select(
        "doc_id",
        *[F.col("features")[i].cast("long").alias(n) for i, n in enumerate(names)],
    )


def _q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-duplicate pairs, exact cosine ≥ 0.45
    (operators/dedup.py:embedding_near_dup_pairs — the brute-force
    verifier; the scale path generates candidates with SRP-LSH first)."""
    from sensor_time_series_pyspark_spark.operators import embedding_near_dup_pairs

    emb = read_table(spark, sf, "embeddings").where(F.col("vec_id") < 1000)
    return embedding_near_dup_pairs(emb, "vec_id", "embedding", cosine_threshold=0.45)


def _q_srp_signature(spark: SparkSession, sf: str) -> DataFrame:
    """Signed-random-projection cosine-LSH signatures, engine-portable
    variant (operators/similarity.py:srp_signature_portable): ±1
    hyperplanes over integer-scaled components make every bit exact and
    SQL-reproducible, so this is oracle-gated. Bands of the signature
    feed the same candidate equi-join as SimHash."""
    from sensor_time_series_pyspark_spark.operators import srp_signature_portable

    emb = read_table(spark, sf, "embeddings")
    out = srp_signature_portable(emb, "embedding", dim=64, n_bits=16, seed=42)
    return out.select("vec_id", "srp_sig")


def _q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join (SURVEY.md §2.3 'not present' list): customers
    with at least one URGENT order, no row duplication."""
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


def _q_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """Full outer join: per-user daily click volume vs purchase volume
    (either side may be absent)."""
    ev = read_table(spark, sf, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return clicks.join(buys, ["user_id", "day"], "full_outer").select(
        "user_id", "day", "n_clicks", "n_purchases"
    )


def _q_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed range join (operators/interval.py): clicks within ±1
    hour of each error event by the same user — an equi-join on time
    buckets instead of a nested-loop inequality join."""
    from sensor_time_series_pyspark_spark.operators import interval_join

    ev = read_table(spark, sf, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    out = interval_join(
        errors, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts",
        lower_seconds=-3600, upper_seconds=3600,
    )
    return out.select("error_id", "user_id", "click_id")


def _q_holt_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """7-step Holt forecast per user (reference T5/T7 done per-series).
    Oracle-gated: the smoothing recursion is replicated bit-for-bit by
    a recursive CTE (models.py uses sequential folds precisely so a
    SQL engine can reproduce it); invariants in tests/test_forecast.py."""
    daily = _daily_series(spark, sf)
    return fit_forecast(
        daily, series_keys=["user_id"], ts_col="day", value_col="value",
        horizon=7, model="holt",
    )


def _q_holt_winters(spark: SparkSession, sf: str) -> DataFrame:
    """7-step Holt-Winters additive (weekly seasonal) forecast per
    event type on the daily count series — the triple-smoothing
    extension of q24 (level + trend + period-7 seasonal states; ml/
    models.py:holt_winters). Oracle-gated: the triple-smoothing
    recursion (including the seasonal-slot splice and the sequential
    two-pass sigma) is replicated bit-for-bit by a recursive CTE;
    invariants in tests/test_forecast.py."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("value"))
    return fit_forecast(
        daily,
        series_keys=["event_type"],
        ts_col="day",
        value_col="value",
        horizon=7,
        model="holt_winters",
        min_points=14,
    )


def _q_arima_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed (p,d,q) grid search (reference T6: the nested loop at
    pandas_timeseries_forecast.py:22-55 re-shaped so each series group
    scores every combo in one Python call and emits the winner)."""
    daily = _daily_series(spark, sf)
    grid = [
        {"p": 1, "d": 0, "q": 0},
        {"p": 1, "d": 1, "q": 0},
        {"p": 2, "d": 0, "q": 0},
        {"p": 0, "d": 1, "q": 1},
    ]
    return grid_search_forecast(
        daily, series_keys=["user_id"], ts_col="day", value_col="value",
        grid=grid, model="arima",
    )


def _q_seasonal_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly additive decomposition per user (reference T8)."""
    daily = _daily_series(spark, sf)
    return decompose(
        daily, series_keys=["user_id"], ts_col="day", value_col="value", period=7
    )


def _q_mlp_classification(spark: SparkSession, sf: str) -> DataFrame:
    """MLP event-profile → nation classifier (reference 3a re-shaped:
    4 gas readings → label becomes 5 event-type averages → n_name).
    Temporal split, seeded; returns per-class prediction counts."""
    wide = sensor_etl(spark, sf)
    train, test = temporal_split(wide, "bucket", "2024-01-25", cache=True)
    n_classes = 25
    pipe = classification_pipeline(
        EVENT_TYPES, "n_name", hidden=20, n_classes=n_classes, seed=42, max_iter=20
    )
    model = pipe.fit(train)
    preds = decode_predictions(model, model.transform(test))
    return preds.groupBy("predicted_label").agg(F.count(F.lit(1)).alias("n"))


def _q_gbt_regression(spark: SparkSession, sf: str) -> DataFrame:
    """GBT next-day-max regression (reference 3b: daily max + epoch
    features → lead-1 label, sensor_data_regression.py). Seeded."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max("value").alias("day_max")
    )
    labeled = lead_target(
        daily, order_col="day", target_col="day_max",
        partition_by=["user_id"], out_col="next_day_max",
    ).withColumn("epoch_day", F.unix_date("day").cast("double"))
    train, test = temporal_split(labeled, "day", "2024-01-25", cache=True)
    pipe = regression_pipeline(
        ["day_max", "epoch_day", "user_id"], "next_day_max", seed=42, max_iter=10
    )
    model = pipe.fit(train)
    return model.transform(test).select("user_id", "day", "next_day_max", "prediction")


def _q_sql_interface(spark: SparkSession, sf: str) -> DataFrame:
    """Full SQL surface (spark.sql over registered views) — TPC-H Q5
    shape: revenue by nation for one region/year, local-supplier
    constraint (c_nationkey = s_nationkey). Same Catalyst plan as the
    DataFrame API; proves the engine's SQL entry point."""
    for t in ["customer", "orders", "lineitem", "supplier", "nation", "region"]:
        read_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql("""
        SELECT n_name,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
            AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """)


def _q_char_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Character-5-gram Jaccard near-dups (tokenization-free variant).

    Round 11: dispatches to the PREFIX-FILTERED engine
    (operators/dedup.py:jaccard_pairs_prefix). Char 5-grams on this
    corpus are dense (2041-gram vocabulary, Σdf² = 1.53e9 — the full
    inverted-index join emitted ~767M candidate rows, 143 s at sf0.1),
    while the rarest-first prefix index cuts the join mass 9.2x and
    verifies candidates exactly via array_intersect: 26.5 s cold,
    identical output (the round-9 race verdict — inverted index wins —
    holds for sparse WORD shingles like q19/q53, not here)."""
    from sensor_time_series_pyspark_spark.operators.dedup import (
        jaccard_pairs_prefix,
    )

    return jaccard_pairs_prefix(
        _rep_docs(spark, sf), "doc_id", "text",
        threshold=0.35, shingle_k=5, unit="char",
    )


def _q_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-partitioned approximate top-k, ORACLE-GATED: the coarse
    quantizer is the engine-portable pivot variant
    (operators/similarity.py:ivf_topk_cosine_pivots) — pivots chosen
    by md5(id) order, cell assignment and probe ranking via EXACT
    integer squared distances on 2^20-quantized vectors, so the
    inverted lists are bit-identical across engines and ranks gate
    like q23 (cosine gaps ≫ float error within a candidate set). The
    pyspark.ml KMeans variant (ivf_topk_cosine) remains the library's
    learned-quantizer path with recall pinned in
    tests/test_similarity.py."""
    from sensor_time_series_pyspark_spark.operators import (
        ivf_topk_cosine_pivots,
    )

    emb = read_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_topk_cosine_pivots(
        emb, queries, "vec_id", "vec_id", "embedding", k=5, n_cells=8, n_probe=3
    ).select("qid", "cid", "rank")


def _q_validation_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Single-pass data-quality audit (operators/validate.py): n_rows +
    per-rule violation counters in one aggregate."""
    ev = read_table(spark, sf, "events")
    from sensor_time_series_pyspark_spark.operators import violation_counts

    return violation_counts(ev, _event_rules())


def _q_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """Constraint routing: bad rows with the array of failed rule
    names, exploded to (event_id, rule) pairs for the oracle."""
    ev = read_table(spark, sf, "events")
    from sensor_time_series_pyspark_spark.operators import quarantine

    good, bad = quarantine(ev, _event_rules())
    return bad.select("event_id", F.explode("failed_rules").alias("rule"))


def _q_rolling_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 1-hour mean per user over a rangeBetween frame keyed on
    epoch seconds (operators/windows.py:rolling_avg — handles irregular
    sampling, unlike row frames)."""
    from sensor_time_series_pyspark_spark.operators import rolling_avg

    ev = read_table(spark, sf, "events")
    out = rolling_avg(
        ev, ts_col="ts", value_col="value",
        partition_by=["user_id"], window_seconds=3600, exact=True,
    )
    return out.select("event_id", "user_id", "ts", "rolling_avg")


def _q_ewma_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series EWMA + z-score (streaming/stateful.py batch twin;
    stream==batch equivalence is pinned in tests). Oracle-gated: the
    sequential fold is replicated in a DuckDB recursive CTE with the
    identical IEEE op order (math.sqrt both sides), so even this
    stateful operator hash-matches bit-for-bit."""
    from sensor_time_series_pyspark_spark.streaming import ewma_anomaly_batch

    ev = read_table(spark, sf, "events")
    out = ewma_anomaly_batch(ev, "user_id", "ts", "value", alpha=0.2)
    return out.where(F.abs(F.col("zscore")) > 2).select(
        "user_id", "ts", "value", "zscore"
    )


def _q_correlated_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery: lineitems whose
    quantity is below 20% of their part's average. Catalyst de-correlates
    to an aggregate + join; no per-row subquery execution."""
    li = read_table(spark, sf, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (_davg(F.col("l_quantity")) * 0.2).alias("qty_threshold")
    )
    return (
        li.join(per_part, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small_orders"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("small_revenue"),
        )
    )


def _q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long melt (inverse of the pivot data model; narrow op, no
    shuffle beyond the upstream pivot's)."""
    from sensor_time_series_pyspark_spark.operators.pivot import unpivot

    wide = _q_event_type_pivot(spark, sf)
    long = unpivot(
        wide, ["user_id"], EVENT_TYPES, name_col="event_type", value_col="avg_value"
    )
    return long.where(F.col("avg_value") > 0)


def _q_model_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Evaluator + feature-importance surface (reference M8/M9,
    sensor_data_regression.py:80-88) as a one-row metrics frame.
    Rows-only: model internals aren't SQL-expressible."""
    from sensor_time_series_pyspark_spark.ml import (
        evaluate_regression,
        feature_importances,
    )

    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max("value").alias("day_max")
    )
    labeled = lead_target(
        daily, order_col="day", target_col="day_max",
        partition_by=["user_id"], out_col="next_day_max",
    ).withColumn("epoch_day", F.unix_date("day").cast("double"))
    train, test = temporal_split(labeled, "day", "2024-01-25", cache=True)
    pipe = regression_pipeline(
        ["day_max", "epoch_day", "user_id"], "next_day_max", seed=42, max_iter=10
    )
    model = pipe.fit(train)
    preds = model.transform(test)
    rmse = evaluate_regression(preds, "next_day_max", "rmse")
    r2 = evaluate_regression(preds, "next_day_max", "r2")
    imps = feature_importances(model)
    return spark.createDataFrame(
        [(float(rmse), float(r2), *[float(i) for i in imps])],
        "rmse double, r2 double, imp_day_max double, imp_epoch_day double, imp_user_id double",
    )


def _q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup cluster assignment: jaccard pairs → connected components
    (operators/dedup.py:connected_components, iterative min-label
    propagation; cluster id = lowest doc id in the component, so it is
    also the canonical keeper). Oracle: recursive CTE computing min
    reachable id over the same pair list."""
    pairs = jaccard_pairs(
        _rep_docs(spark, sf), "doc_id", "text", threshold=0.2, shingle_k=3,
        persist_index=True,
    )
    return dedup_clusters(pairs)


def _q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond q12 ROLLUP / q34 CUBE): the
    (priority, status) + (priority) + () lattice via the Spark 4
    DataFrame API — one pass, no self-union."""
    o = read_table(spark, sf, "orders")
    return o.groupingSets(
        [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], []],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_revenue"),
    )


def _q_window_rank_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking-window surface in one query: ntile / dense_rank /
    percent_rank / cume_dist per order-priority partition. ntile is
    row-order dependent, so its ORDER BY carries the unique key;
    the rank family is tie-stable and orders by price alone.

    Scale note: o_orderpriority has 5 distinct values, so each window
    partition is ~20% of the table in ONE task — exact global ranks
    within low-cardinality groups are inherently serial per group. At
    100 TB, either rank within a finer key, or use
    operators/quantiles.py:approx_ntile (percentile_approx cutpoints →
    broadcast bucket join), which restores full parallelism at bounded
    error."""
    o = read_table(spark, sf, "orders")
    w_det = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w_ties = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w_det).alias("quartile"),
        F.dense_rank().over(w_ties).alias("drank"),
        F.percent_rank().over(w_ties).alias("prank"),
        F.cume_dist().over(w_ties).alias("cdist"),
    )


def _q_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF-style top-3 terms per document via explode → tf counts →
    document-frequency join → per-doc ranking. Scoring is the integer
    ``tf * 1_000_000 DIV df`` instead of float log-idf: both engines do
    exact integer arithmetic (libm log bits are not guaranteed to match
    across engines), and the score is monotone in tf/df so the ranking
    semantics are the same."""
    reps = _rep_docs(spark, sf)
    term_tf = (
        reps.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    term_df = term_tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = term_tf.join(term_df, "term").withColumn(
        "score", F.expr("tf * 1000000 DIV df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def _q_missing_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series gap detection (operators/gaps.py): 30-min buckets in
    the series span with no observation — sequence+explode expected
    grid, left-anti join observed. The monitoring complement of
    q11_resample_30min."""
    ev = read_table(spark, sf, "events")
    return missing_buckets(ev, "ts", ["event_type"], width_seconds=1800)


def _q_exact_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact percentile aggregation (complement of q35's sketch): median
    and p90 of integral-valued l_quantity per return flag. Both engines
    interpolate a + (b-a)*frac over the same sorted doubles, so values
    hash-match (quantity is integer-valued — order stats are exact)."""
    li = read_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.9)).alias("p90_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension build (operators/scd.py): the event feed becomes
    a versioned per-user state dimension — consecutive identical states
    collapse, [valid_from, valid_to) intervals + is_current flag, one
    shuffle. The reference overwrites its dims losing history
    (read_sensor_configs.py:53,66)."""
    from sensor_time_series_pyspark_spark.operators import scd2

    ev = read_table(spark, sf, "events")
    return scd2(ev, ["user_id"], "ts", ["event_type"])


def _q_pca_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """PCA feature reduction over the embedding column (SURVEY.md §2.10
    M10 — the reference imports PCA but never runs it,
    sensor_data_regression.py:5,64; here it is a working operator).
    Output: per-label count and exact decimal-mean of the FIRST
    principal component's squared loading-projection (squares kill the
    eigenvector sign indeterminacy, so the values are stable). Rows-only
    gate + invariant tests: k components, orthonormality."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = read_table(spark, sf, "embeddings")
    vecs = emb.select(
        "vec_id", "label", array_to_vector(F.col("embedding")).alias("features")
    )
    pca = PCA(k=8, inputCol="features", outputCol="pc")
    model = pca.fit(vecs)
    out = model.transform(vecs).select(
        "label", vector_to_array("pc").alias("pc")
    )
    pc1_sq = F.col("pc")[0] * F.col("pc")[0]
    return out.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        _davg(pc1_sq).alias("mean_pc1_sq"),
    )


def _q_quantize_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 embedding quantization (functions/vectors.py:quantize_int8,
    4x storage cut for the widest column at 100 TB). Output is
    integer-exact per vector (code sum / min / max) plus the scale —
    floor-based half-up rounding makes both engines produce identical
    codes."""
    from sensor_time_series_pyspark_spark.functions.vectors import quantize_int8

    emb = read_table(spark, sf, "embeddings")
    qz = emb.select("vec_id", quantize_int8("embedding").alias("qs"))
    q = F.col("qs")["q"]
    return qz.select(
        "vec_id",
        F.col("qs")["scale"].alias("scale"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("code_sum"),
        F.array_min(q).cast("int").alias("code_min"),
        F.array_max(q).cast("int").alias("code_max"),
    )


def _q_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py) over the 5-value
    event_type key — the skew-mitigation shape: partials on
    (key, salt) split every hot group across reducers, then merge on
    the key alone. Result is identical to the direct groupBy (salting
    is algebra-invariant for re-aggregatable kinds), so it hash-matches
    the plain-SQL oracle."""
    from sensor_time_series_pyspark_spark.operators import salted_agg

    ev = read_table(spark, sf, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("count", F.lit(1)),
            "total_value": ("sum", F.col("value").cast(DEC)),
            "max_value": ("max", F.col("value")),
        },
        salt=8,
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "max_value",
    )


def _q_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch per group (rows-only gate:
    sketch estimates are engine-specific; tests/test_operators.py pins
    the estimate within 5% of exact)."""
    ev = read_table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _q_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic content-hash train/val/test assignment
    (operators/sampling.py): md5-bucket thresholds make the split
    stable across runs, engines, and partitionings, and key-consistent
    (every event of a user lands in the same split — no leakage).
    The portable alternative to randomSplit's partition-dependent RNG."""
    from sensor_time_series_pyspark_spark.operators import hash_split

    ev = read_table(spark, sf, "events")
    out = hash_split(
        ev, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1"
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


def _q_rate_of_change(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series discrete derivative (operators/windows.py:
    rate_of_change) — the drift/ramp-alarm primitive over the sensor
    stream; NULL-safe on series heads and duplicate timestamps."""
    from sensor_time_series_pyspark_spark.operators import rate_of_change

    ev = read_table(spark, sf, "events")
    out = rate_of_change(ev, "ts", "value", ["user_id"])
    return out.select("event_id", "user_id", "ts", "rate")


def _q_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-group outliers via median absolute deviation
    (operators/quantiles.py:mad_outliers, Hampel's rule — 50% breakdown
    point, immune to the masking that breaks mean/stddev z-scores)."""
    from sensor_time_series_pyspark_spark.operators import mad_outliers

    ev = read_table(spark, sf, "events")
    out = mad_outliers(ev, "value", ["event_type"], n_mads=5.0)
    return out.select("event_id", "event_type", "value", "med", "mad")


def _q_bm25_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-3 terms under BM25 weighting
    (operators/ranking.py:bm25_rank): rational-idf variant keeps every
    score a pure function of integers — engine-portable, no libm."""
    from sensor_time_series_pyspark_spark.operators import bm25_rank

    return bm25_rank(_rep_docs(spark, sf), "doc_id", "text", top_n=3)


def _q_pack_offsets(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/ranking.py:
    pack_offsets): per-language document streams cut into 2048-token
    training chunks; offsets/chunk ids are exact integer window
    algebra. The layout step between dedup/quality-filter and an LLM
    training run."""
    from sensor_time_series_pyspark_spark.operators import pack_offsets

    docs = read_table(spark, sf, "documents")
    return pack_offsets(
        docs, "doc_id", token_count("text"), budget=2048,
        partition_by=["lang"],
    )


def _q_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly OHLC bars per user (operators/resample.py:ohlc): the
    whole bar — open/close via min_by/max_by on ts, high/low, count —
    is ONE hash aggregate, no window sort. (user_id, ts) is unique in
    events, so the bars are deterministic."""
    from sensor_time_series_pyspark_spark.operators import ohlc

    ev = read_table(spark, sf, "events")
    return ohlc(ev, "ts", "value", "1 hour", keys=["user_id"])


def _q_time_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    """LOCF time-weighted hourly mean per user (operators/resample.py:
    time_weighted_avg) — the honest average for irregular sampling;
    integer-second weights + decimal weighted sums keep it
    engine-portable."""
    from sensor_time_series_pyspark_spark.operators import time_weighted_avg

    ev = read_table(spark, sf, "events")
    return time_weighted_avg(ev, "ts", "value", 3600, keys=["user_id"])


def _q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel view→click→purchase within 24h of the first view
    (operators/analytics.py:funnel — earliest-completion semantics, one
    conditional aggregate per step, no raw-stream window)."""
    from sensor_time_series_pyspark_spark.operators import funnel

    ev = read_table(spark, sf, "events")
    return funnel(
        ev, "user_id", "ts",
        steps=[
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        within_seconds=86400,
    )


def _q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """First-active-day cohorts with day-1/day-3/day-7 retention
    (operators/analytics.py:cohort_retention — two aggregates + one
    join, exact date arithmetic)."""
    from sensor_time_series_pyspark_spark.operators import cohort_retention

    ev = read_table(spark, sf, "events")
    return cohort_retention(ev, "user_id", "ts", offsets=[1, 3, 7])


def _q_levenshtein_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dup pairs over the distinct part-type
    vocabulary (operators/dedup.py:levenshtein_pairs — banded length
    join + threshold-bounded DP; the dedup tier for SHORT strings
    where shingle Jaccard is meaningless)."""
    from sensor_time_series_pyspark_spark.operators import levenshtein_pairs

    p = read_table(spark, sf, "part")
    types = p.select(F.col("p_type").alias("name")).distinct()
    return levenshtein_pairs(types, "name", "name", max_dist=6)


def _q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured payload path: a JSON string column parsed with
    from_json + explicit schema (the Spark-idiomatic JSON surface; the
    payload is synthesized with exact integer/string pieces so both
    engines build byte-identical JSON before parsing)."""
    ev = read_table(spark, sf, "events")
    js = F.concat(
        F.lit('{"t":"'), F.col("event_type"),
        F.lit('","v":'), F.floor("value").cast("long").cast("string"),
        F.lit(',"u":'), F.col("user_id").cast("string"),
        F.lit("}"),
    )
    parsed = F.from_json(js, "t string, v long, u long")
    return (
        ev.select("event_id", parsed.alias("p"))
        .select(
            "event_id",
            F.col("p.t").alias("jtype"),
            F.col("p.v").alias("jval"),
            F.col("p.u").alias("juser"),
        )
        .where(F.col("jval") >= 50)
    )


def _q_exact_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation from exact decimal moments
    (operators/profile.py:exact_corr) — the portable twin of F.corr:
    five order-independent decimal sums in ONE aggregate, then a fixed
    IEEE double epilogue, so the value hash-matches across engines."""
    from sensor_time_series_pyspark_spark.operators import exact_corr

    li = read_table(spark, sf, "lineitem")
    return exact_corr(li, "l_quantity", "l_extendedprice", by=["l_returnflag"])


def _q_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width value histogram with data-driven bounds
    (operators/profile.py:histogram): two full-parallel scans, one
    one-row-per-group bounds broadcast — no approxQuantile recompute
    storm (reference bug #4)."""
    from sensor_time_series_pyspark_spark.operators import histogram

    ev = read_table(spark, sf, "events")
    return histogram(ev, "value", n_bins=10, by=["event_type"])


def _q_chunk_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking (operators/chunking.py) — the
    training-sequence / RAG-passage constructor. 32-token chunks every
    16 tokens; pure column algebra, zero shuffle."""
    from sensor_time_series_pyspark_spark.operators import chunk_tokens

    docs = read_table(spark, sf, "documents")
    return chunk_tokens(docs, "doc_id", "text", chunk_size=32, stride=16)


def _q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval n-gram contamination (operators/contamination.py):
    every 5th document plays the eval set, the rest the training
    corpus; 3-gram overlap with portable md5 gram ids."""
    from sensor_time_series_pyspark_spark.operators import ngram_overlap

    docs = read_table(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    return ngram_overlap(train, test, "doc_id", "text", n=3, portable=True)


def _q_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (functions/text.py:redact_pii) over synthesized
    contact lines — email/SSN/IP/phone built deterministically from
    customer columns so both engines scrub byte-identical input with
    the same RE2-compatible patterns."""
    from sensor_time_series_pyspark_spark.functions.text import redact_pii

    c = read_table(spark, sf, "customer")
    k = F.col("c_custkey")
    raw = F.concat(
        F.lit("reach "), F.col("c_name"),
        F.lit(" at user"), k.cast("string"), F.lit("@example.com"),
        F.lit(" or +1-555-"),
        F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((k % 10000).cast("string"), 4, "0"),
        F.lit(" ssn "),
        F.lpad((k % 900 + 100).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((k % 90 + 10).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((k % 9000 + 1000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."), (k % 256).cast("string"), F.lit(".1 tel "),
        (k % 9 + 1).cast("string"),
        F.lit("."),
        F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lit("."),
        F.lpad((k * 3 % 1000).cast("string"), 3, "0"),
        F.lit("."),
        F.lpad((k % 10000).cast("string"), 4, "0"),
    )
    return c.select(
        "c_custkey",
        redact_pii(raw).alias("redacted"),
    )


def _q_repetition_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document bigram repetition (functions/text.py:
    repetition_stats) — the MassiveText-style repeated-phrase quality
    signal. Integer counts, one double division for the ratio."""
    from sensor_time_series_pyspark_spark.functions.text import repetition_stats

    docs = read_table(spark, sf, "documents")
    st = repetition_stats("text", n=2)
    return docs.select(
        "doc_id",
        st.getField("n_grams").alias("n_grams"),
        st.getField("n_distinct").alias("n_distinct"),
    ).select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.when(
            F.col("n_grams") > 0,
            F.lit(1.0)
            - F.col("n_distinct").cast("double") / F.col("n_grams").cast("double"),
        ).alias("rep_ratio"),
    )


def _q_tvd_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution drift per event type (operators/drift.py:
    tvd_drift): first half of the month is the reference snapshot,
    second half the current window; integer-exact total-variation
    distance over 10 reference-fit bins."""
    from sensor_time_series_pyspark_spark.operators import tvd_drift

    ev = read_table(spark, sf, "events")
    return tvd_drift(
        ev,
        "value",
        is_reference=F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        by=["event_type"],
        n_bins=10,
    )


register_many(
    {
        'flagship_hourly_wide': _q_flagship,
        'q01_pricing_summary': _q_pricing_summary,
        'q03_segment_revenue': _q_segment_revenue,
        'q04_region_supplier_stats': _q_region_supplier_stats,
        'q05_event_type_pivot': _q_event_type_pivot,
        'q06_customers_without_orders': _q_customers_without_orders,
        'q09_top_orders_per_customer': _q_top_orders_per_customer,
        'q10_next_day_max': _q_next_day_max,
        'q11_resample_30min': _q_resample_30min,
        'q15_sessionize': _q_sessionize,
        'q17_dedup_exact': _q_dedup_exact,
        'q22_doc_stats': _q_doc_stats,
        'q07_case_projection': _q_case_projection,
        'q08_set_ops': _q_set_ops,
        'q12_rollup': _q_rollup,
        'q13_ffill': _q_ffill,
        'q14_interpolate': _q_interpolate,
        'q16_quantile_clip': _q_quantile_clip,
        'q29_asof_join': _q_asof_join,
        'q19_jaccard_pairs': _q_jaccard_pairs,
        'q20_minhash_lsh': _q_minhash_lsh,
        'q21_simhash': _q_simhash,
        'q23_topk_cosine': _q_topk_cosine,
        'q30_embedding_norm_stats': _q_embedding_norm_stats,
        'q31_text_features': _q_text_features,
        'q32_fingerprint_cardinality': _q_fingerprint_cardinality,
        'q33_distinct_agg': _q_distinct_agg,
        'q34_cube': _q_cube,
        'q35_approx_quantiles': _q_approx_quantiles,
        'q18_dedup_keep_first': _q_dedup_keep_first,
        'q36_blob_metadata': _q_blob_metadata,
        'q37_decode_features': _q_decode_features,
        'q38_embedding_near_dup': _q_embedding_near_dup,
        'q39_srp_signature': _q_srp_signature,
        'q40_semi_join': _q_semi_join,
        'q41_outer_join': _q_outer_join,
        'q42_interval_join': _q_interval_join,
        'q24_holt_forecast': _q_holt_forecast,
        'q300_holt_winters': _q_holt_winters,
        'q25_arima_grid': _q_arima_grid,
        'q26_seasonal_decompose': _q_seasonal_decompose,
        'q27_mlp_classification': _q_mlp_classification,
        'q28_gbt_regression': _q_gbt_regression,
        'q44_sql_interface': _q_sql_interface,
        'q45_char_ngram_jaccard': _q_char_ngram_jaccard,
        'q47_ivf_topk': _q_ivf_topk,
        'q51_validation_counts': _q_validation_counts,
        'q52_quarantine': _q_quarantine,
        'q49_rolling_avg': _q_rolling_avg,
        'q50_ewma_anomaly': _q_ewma_anomaly,
        'q48_correlated_subquery': _q_correlated_subquery,
        'q46_unpivot': _q_unpivot,
        'q43_model_metrics': _q_model_metrics,
        'q53_dedup_clusters': _q_dedup_clusters,
        'q54_grouping_sets': _q_grouping_sets,
        'q55_window_rank_suite': _q_window_rank_suite,
        'q56_top_terms': _q_top_terms,
        'q58_missing_buckets': _q_missing_buckets,
        'q60_exact_percentiles': _q_exact_percentiles,
        'q63_scd2_dimension': _q_scd2,
        'q62_pca_embeddings': _q_pca_embeddings,
        'q61_quantize_embeddings': _q_quantize_embeddings,
        'q59_salted_agg': _q_salted_agg,
        'q57_approx_distinct': _q_approx_distinct,
        'q64_hash_split': _q_hash_split,
        'q65_rate_of_change': _q_rate_of_change,
        'q66_mad_outliers': _q_mad_outliers,
        'q67_bm25_terms': _q_bm25_terms,
        'q68_pack_offsets': _q_pack_offsets,
        'q69_ohlc_bars': _q_ohlc_bars,
        'q70_time_weighted_avg': _q_time_weighted_avg,
        'q71_funnel': _q_funnel,
        'q72_cohort_retention': _q_cohort_retention,
        'q73_levenshtein_pairs': _q_levenshtein_pairs,
        'q74_json_extract': _q_json_extract,
        'q75_exact_corr': _q_exact_corr,
        'q76_histogram': _q_histogram,
        'q77_chunk_tokens': _q_chunk_tokens,
        'q78_contamination': _q_contamination,
        'q79_redact_pii': _q_redact_pii,
        'q80_repetition_ratio': _q_repetition_ratio,
        'q81_tvd_drift': _q_tvd_drift,
    },
    {
        'flagship_hourly_wide': _FLAGSHIP_SQL,
        'q01_pricing_summary': f"""
            SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                   * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
              {_davg_sql('l_quantity')} AS avg_qty,
              {_davg_sql('l_extendedprice')} AS avg_price,
              {_davg_sql('l_discount')} AS avg_disc,
              count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        'q03_segment_revenue': """
            SELECT o_orderkey, o_orderdate, o_orderpriority,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
        """,
        'q04_region_supplier_stats': """
            SELECT r_name, n_name, count(*) AS n_suppliers,
              {avg_acctbal} AS avg_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """.format(avg_acctbal=_davg_sql("s_acctbal")),
        'q05_event_type_pivot': _PIVOT_SQL,
        'q06_customers_without_orders': """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '1997-01-01'
            )
        """,
        'q09_top_orders_per_customer': """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        'q10_next_day_max': """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS day_max
              FROM events GROUP BY 1, 2
            ),
            led AS (
              SELECT user_id, day, day_max,
                lead(day_max) OVER (PARTITION BY user_id ORDER BY day) AS next_day_max
              FROM daily
            )
            SELECT * FROM led WHERE next_day_max IS NOT NULL
        """,
        'q11_resample_30min': f"""
            SELECT event_type,
              {_davg_sql('value')} AS avg_value,
              count(*) AS n,
              make_timestamp(CAST(floor(epoch(ts)/1800) AS BIGINT)*1800*1000000) AS bucket
            FROM events GROUP BY event_type, bucket
        """,
        'q15_sessionize': _SESSIONIZE_SQL,
        'q17_dedup_exact': """
            SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1
        """,
        'q22_doc_stats': _DOC_STATS_SQL,
        'q07_case_projection': """
            SELECT p_partkey, upper(p_brand) AS brand,
              CASE WHEN p_size < 10 THEN 'small'
                   WHEN p_size < 30 THEN 'medium'
                   ELSE 'large' END AS size_band,
              CAST(floor(p_retailprice) AS BIGINT) AS price_floor
            FROM part
        """,
        'q08_set_ops': """
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        """,
        'q12_rollup': """
            SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue
            FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        'q13_ffill': """
            SELECT event_id, user_id, ts,
              last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
            FROM events
        """,
        'q14_interpolate': """
            WITH base AS (
              SELECT event_id, user_id, ts, epoch(ts) AS t,
                     CASE WHEN event_type <> 'error' THEN value END AS v
              FROM events
            ),
            w AS (
              SELECT event_id, user_id, ts, t, v,
                last_value(v IGNORE NULLS) OVER back AS prev_v,
                last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER back AS prev_t,
                first_value(v IGNORE NULLS) OVER fwd AS next_v,
                first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER fwd AS next_t
              FROM base
              WINDOW back AS (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     fwd AS (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_id, user_id, ts,
              CASE WHEN v IS NOT NULL THEN v
                   WHEN prev_v IS NULL THEN next_v
                   WHEN next_v IS NULL THEN prev_v
                   WHEN next_t = prev_t THEN prev_v
                   ELSE prev_v + (next_v - prev_v) * ((t - prev_t) / (next_t - prev_t))
              END AS value
            FROM w
        """,
        'q16_quantile_clip': """
            WITH bounds AS (
              SELECT event_type, quantile_cont(value, 0.2) AS lo,
                     quantile_cont(value, 0.8) AS hi
              FROM events GROUP BY event_type
            )
            SELECT event_id, e.event_type, value
            FROM events e JOIN bounds b ON e.event_type = b.event_type
            WHERE value >= lo AND value <= hi
        """,
        'q29_asof_join': """
            SELECT e.event_id, e.user_id, e.ts, d.last_order_price
            FROM events e
            ASOF LEFT JOIN (
              SELECT o_custkey AS user_id, o_orderdate,
                     max(o_totalprice) AS last_order_price
              FROM orders GROUP BY 1, 2
            ) d ON e.user_id = d.user_id AND e.ts >= d.o_orderdate
        """,
        'q19_jaccard_pairs': r"""
            WITH reps AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ),
            toks AS (
              SELECT doc_id AS id,
                list_distinct(
                  list_transform(
                    generate_series(1, greatest(len(t) - 2, 0)),
                    i -> array_to_string(t[i:i+2], ' ')
                  )
                ) AS tok
              FROM (
                SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
                FROM reps
              )
            ),
            inv AS (SELECT id, len(tok) AS n_tok, unnest(tok) AS token FROM toks),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b, a.n_tok AS n_a, b.n_tok AS n_b,
                     count(*) AS inter
              FROM inv a JOIN inv b ON a.token = b.token AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b, inter / (n_a + n_b - inter) AS jaccard
            FROM pairs WHERE inter / (n_a + n_b - inter) >= 0.2
        """,
        'q20_minhash_lsh': _minhash_sql(),
        'q21_simhash': _simhash_sql(),
        'q23_topk_cosine': """
            WITH v AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            scored AS (
              SELECT q.vec_id AS qid, c.vec_id AS cid,
                list_dot_product(q.e, c.e)
                  / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cosine
              FROM v q JOIN v c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 10
            )
            SELECT qid, cid, rank FROM (
              SELECT qid, cid,
                CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY cosine DESC, cid) AS INT) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        'q30_embedding_norm_stats': f"""
            WITH norms AS (
              SELECT label,
                sqrt(list_dot_product(
                  list_transform(embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(embedding, x -> CAST(x AS DOUBLE))
                )) AS norm
              FROM embeddings
            )
            SELECT label, count(*) AS n, {_davg_sql('norm')} AS avg_norm
            FROM norms GROUP BY label
        """,
        'q31_text_features': rf"""
            WITH toks AS (
              SELECT doc_id, text,
                list_transform(
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                  t -> lower(t)
                ) AS tok
              FROM documents
            ),
            feat AS (
              SELECT doc_id,
                list_aggregate([
                  {{'score': len(list_filter(tok, t -> list_contains(['the','and','of','is','to'], t))), 'lang': 'en'}},
                  {{'score': len(list_filter(tok, t -> list_contains(['el','la','los','es','una'], t))), 'lang': 'es'}},
                  {{'score': len(list_filter(tok, t -> list_contains(['der','die','und','ist','ein'], t))), 'lang': 'de'}},
                  {{'score': len(list_filter(tok, t -> list_contains(['le','les','est','une','dans'], t))), 'lang': 'fr'}}
                ], 'max') AS best,
                {_PR_SQL} AS pr,
                {_SW_SQL} AS sw,
                len(tok) AS n_tok,
                {_NBPE_SQL} AS n_bpe
              FROM toks
            )
            SELECT doc_id,
              CASE WHEN best.score > 0 THEN best.lang ELSE 'unknown' END AS lang_pred,
              n_bpe,
              pr AS punct_ratio,
              {_QUALITY_Q_SQL} AS quality
            FROM feat
        """,
        'q32_fingerprint_cardinality': r"""
            SELECT count(DISTINCT lower(array_to_string(
                     list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''), ' '
                   ))) AS n_unique,
                   count(*) AS n_docs
            FROM documents
        """,
        'q33_distinct_agg': """
            SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
                   count(*) AS n_orders
            FROM orders GROUP BY o_orderstatus
        """,
        'q34_cube': """
            SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
            FROM events GROUP BY CUBE (event_type, CAST(ts AS DATE))
        """,
        'q18_dedup_keep_first': """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        """,
        'q35_approx_quantiles': """
            SELECT 'l_quantity' AS "column",
              quantile_disc(l_quantity, 0.25) AS p25,
              quantile_disc(l_quantity, 0.50) AS p50,
              quantile_disc(l_quantity, 0.75) AS p75
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice',
              quantile_disc(l_extendedprice, 0.25),
              quantile_disc(l_extendedprice, 0.50),
              quantile_disc(l_extendedprice, 0.75)
            FROM lineitem
            UNION ALL
            SELECT 'l_discount',
              quantile_disc(l_discount, 0.25),
              quantile_disc(l_discount, 0.50),
              quantile_disc(l_discount, 0.75)
            FROM lineitem
        """,
        'q36_blob_metadata': """
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   'unknown' AS format, md5(text) AS content_md5
            FROM documents
        """,
        'q37_decode_features': """
            WITH codes AS (
              SELECT doc_id,
                list_transform(generate_series(1, len(text)), i -> ord(text[i])) AS c,
                len(text) AS n
              FROM documents
            )
            SELECT doc_id,
              CAST(n AS BIGINT) AS n_bytes,
              CAST(coalesce(list_sum(c), 0) AS BIGINT) AS byte_sum,
              CAST(coalesce(list_min(c), 0) AS BIGINT) AS byte_min,
              CAST(coalesce(list_max(c), 0) AS BIGINT) AS byte_max,
              CAST(len(list_filter(c, x -> x < 33)) AS BIGINT) AS n_ws,
              CAST(len(list_filter(c, x -> x > 127)) AS BIGINT) AS n_hi,
              CAST(coalesce(c[1], 0) AS BIGINT) AS first_byte,
              CAST(coalesce(c[n], 0) AS BIGINT) AS last_byte
            FROM codes
        """,
        'q38_embedding_near_dup': """
            WITH v AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings WHERE vec_id < 1000
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.45
        """,
        'q39_srp_signature': _srp_sql(),
        'q40_semi_join': """
            SELECT c_custkey, c_mktsegment FROM customer c
            WHERE EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
            )
        """,
        'q41_outer_join': """
            WITH clicks AS (
              SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_clicks
              FROM events WHERE event_type = 'click' GROUP BY 1, 2
            ),
            buys AS (
              SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_purchases
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            )
            SELECT coalesce(c.user_id, b.user_id) AS user_id,
                   coalesce(c.day, b.day) AS day,
                   n_clicks, n_purchases
            FROM clicks c FULL OUTER JOIN buys b
              ON c.user_id = b.user_id AND c.day = b.day
        """,
        'q42_interval_join': """
            SELECT e.event_id AS error_id, e.user_id, c.event_id AS click_id
            FROM events e JOIN events c
              ON e.user_id = c.user_id
             AND e.event_type = 'error' AND c.event_type = 'click'
             AND epoch(c.ts) >= epoch(e.ts) - 3600
             AND epoch(c.ts) <= epoch(e.ts) + 3600
        """,
        'q24_holt_forecast': """
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
            init AS (
              SELECT user_id, xs, n, CAST(1 AS BIGINT) AS i,
                xs[1] AS level, xs[2] - xs[1] AS trend,
                CAST([] AS DOUBLE[]) AS resid
              FROM series WHERE n >= 3
            ),
            rec AS (
              SELECT * FROM init
              UNION ALL
              SELECT r.user_id, r.xs, r.n, r.i + 1,
                t.nl,
                0.1 * (t.nl - r.level) + 0.9 * r.trend,
                list_append(r.resid, t.v - (r.level + r.trend))
              FROM rec r,
              LATERAL (
                SELECT r.xs[CAST(r.i AS INT) + 1] AS v,
                  0.3 * r.xs[CAST(r.i AS INT) + 1]
                    + 0.7 * (r.level + r.trend) AS nl
              ) t
              WHERE r.i < r.n
            ),
            fin AS (
              SELECT user_id, level, trend, resid,
                list_reduce(resid, (a, b) -> a + b) / len(resid) AS m
              FROM rec WHERE i = n
            ),
            sig AS (
              SELECT user_id, level, trend,
                sqrt(list_reduce(
                  list_transform(resid, r -> (r - m) * (r - m)),
                  (a, b) -> a + b) / len(resid)) AS sigma
              FROM fin
            ),
            steps AS (SELECT unnest(range(1, 8)) AS k)
            SELECT user_id, CAST(k AS INT) AS step,
              level + CAST(k AS DOUBLE) * trend AS forecast,
              (level + CAST(k AS DOUBLE) * trend)
                - 1.96 * (sigma * sqrt(CAST(k AS DOUBLE))) AS lo,
              (level + CAST(k AS DOUBLE) * trend)
                + 1.96 * (sigma * sqrt(CAST(k AS DOUBLE))) AS hi
            FROM sig, steps
        """,
        'q300_holt_winters': """
            WITH RECURSIVE daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2
            ),
            series AS (
              SELECT event_type, list(v ORDER BY d) AS xs,
                CAST(len(list(v ORDER BY d)) AS BIGINT) AS n
              FROM daily GROUP BY event_type
            ),
            init AS (
              SELECT event_type, xs, n,
                ((((((xs[1]+xs[2])+xs[3])+xs[4])+xs[5])+xs[6])+xs[7])
                  / 7.0 AS level0
              FROM series WHERE n >= 14
            ),
            init2 AS (
              SELECT event_type, xs, n, level0,
                (((((((xs[8]+xs[9])+xs[10])+xs[11])+xs[12])+xs[13])
                   +xs[14]) / 7.0 - level0) / 7.0 AS trend0,
                list_transform(xs[1:7], v -> v - level0) AS season0
              FROM init
            ),
            rec AS (
              SELECT event_type, xs, n, CAST(7 AS BIGINT) AS i,
                level0 AS level, trend0 AS trend, season0 AS season,
                CAST([] AS DOUBLE[]) AS resid
              FROM init2
              UNION ALL
              SELECT r.event_type, r.xs, r.n, r.i + 1,
                t.nl,
                0.1 * (t.nl - r.level) + 0.9 * r.trend,
                list_concat(list_concat(
                  r.season[1:CAST(r.i % 7 AS INT)],
                  [0.2 * (t.v - t.nl) + 0.8 * t.s]),
                  r.season[CAST(r.i % 7 AS INT) + 2:7]),
                list_append(r.resid,
                  t.v - ((r.level + r.trend) + t.s))
              FROM rec r,
              LATERAL (
                SELECT r.xs[CAST(r.i AS INT) + 1] AS v,
                  r.season[CAST(r.i % 7 AS INT) + 1] AS s,
                  0.3 * (r.xs[CAST(r.i AS INT) + 1]
                         - r.season[CAST(r.i % 7 AS INT) + 1])
                    + 0.7 * (r.level + r.trend) AS nl
              ) t
              WHERE r.i < r.n
            ),
            fin AS (
              SELECT event_type, n, level, trend, season, resid,
                list_reduce(resid, (a, b) -> a + b) / len(resid) AS m
              FROM rec WHERE i = n
            ),
            sig AS (
              SELECT event_type, n, level, trend, season,
                sqrt(list_reduce(
                  list_transform(resid, r -> (r - m) * (r - m)),
                  (a, b) -> a + b) / len(resid)) AS sigma
              FROM fin
            ),
            steps AS (SELECT unnest(range(1, 8)) AS k)
            SELECT s.event_type, CAST(k AS INT) AS step,
              (s.level + CAST(k AS DOUBLE) * s.trend)
                + s.season[CAST((s.n + k - 1) % 7 AS INT) + 1]
                AS forecast,
              ((s.level + CAST(k AS DOUBLE) * s.trend)
                + s.season[CAST((s.n + k - 1) % 7 AS INT) + 1])
                - 1.96 * (s.sigma * sqrt(CAST(k AS DOUBLE))) AS lo,
              ((s.level + CAST(k AS DOUBLE) * s.trend)
                + s.season[CAST((s.n + k - 1) % 7 AS INT) + 1])
                + 1.96 * (s.sigma * sqrt(CAST(k AS DOUBLE))) AS hi
            FROM sig s, steps
        """,
        'q26_seasonal_decompose': """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  / count(value) AS value
              FROM events GROUP BY 1, 2
            ),
            w AS (
              SELECT user_id, day, value,
                ((((((lag(value, 3) OVER win + lag(value, 2) OVER win)
                  + lag(value, 1) OVER win) + value)
                  + lead(value, 1) OVER win) + lead(value, 2) OVER win)
                  + lead(value, 3) OVER win) AS s7,
                (row_number() OVER win - 1) % 7 AS phase
              FROM daily
              WINDOW win AS (PARTITION BY user_id ORDER BY day)
            ),
            t AS (
              SELECT user_id, day, value, phase,
                s7 / 7 AS trend, value - s7 / 7 AS detrended
              FROM w
            ),
            pm AS (
              SELECT user_id, phase,
                CASE WHEN count(detrended) > 0 THEN
                  list_reduce(list(detrended ORDER BY day)
                                FILTER (WHERE detrended IS NOT NULL),
                              (a, b) -> a + b) / count(detrended)
                ELSE 0.0 END AS praw
              FROM t GROUP BY 1, 2
            ),
            j AS (
              SELECT t.user_id, t.day, t.value, t.trend, pm.praw
              FROM t JOIN pm
                ON t.user_id = pm.user_id AND t.phase = pm.phase
            ),
            om AS (
              SELECT user_id,
                list_reduce(list(praw ORDER BY day), (a, b) -> a + b)
                  / count(*) AS omean
              FROM j GROUP BY 1
            )
            SELECT j.user_id, j.day, j.value, j.trend,
              j.praw - om.omean AS seasonal,
              j.value - j.trend - (j.praw - om.omean) AS resid
            FROM j JOIN om ON j.user_id = om.user_id
        """,
        'q44_sql_interface': """
            SELECT n_name,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
                AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        'q45_char_ngram_jaccard': """
            WITH reps AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ),
            toks AS (
              SELECT doc_id AS id,
                list_distinct(
                  list_transform(
                    generate_series(1, greatest(len(text) - 4, 0)),
                    i -> text[i:i+4]
                  )
                ) AS tok
              FROM reps
            ),
            inv AS (SELECT id, len(tok) AS n_tok, unnest(tok) AS token FROM toks),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b, a.n_tok AS n_a, b.n_tok AS n_b,
                     count(*) AS inter
              FROM inv a JOIN inv b ON a.token = b.token AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b, inter / (n_a + n_b - inter) AS jaccard
            FROM pairs WHERE inter / (n_a + n_b - inter) >= 0.35
        """,
        'q47_ivf_topk': """
            WITH v AS (
              SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576)
                            AS BIGINT)) AS qv
              FROM embeddings
            ),
            piv AS (
              SELECT qv AS pq,
                CAST(row_number() OVER (ORDER BY h, pid) AS INT) AS cell
              FROM (
                SELECT v.qv, md5(CAST(vec_id AS VARCHAR)) AS h,
                  vec_id AS pid
                FROM v ORDER BY 2, 3 LIMIT 8
              )
            ),
            ad AS (
              SELECT v.vec_id AS cid, v.e AS cv, p.cell,
                list_sum(list_transform(list_zip(v.qv, p.pq),
                  s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d2
              FROM v, piv p
            ),
            assign AS (
              SELECT cid, cv, cell,
                sqrt(list_dot_product(cv, cv)) AS cn
              FROM (
                SELECT *, row_number() OVER (PARTITION BY cid
                  ORDER BY d2, cell) AS r
                FROM ad
              ) WHERE r = 1
            ),
            qd AS (
              SELECT v.vec_id AS qid, v.e AS qe, p.cell,
                list_sum(list_transform(list_zip(v.qv, p.pq),
                  s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d2
              FROM v, piv p
              WHERE v.vec_id < 10
            ),
            probes AS (
              SELECT qid, qe, cell,
                sqrt(list_dot_product(qe, qe)) AS qn
              FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY d2, cell) AS r
                FROM qd
              ) WHERE r <= 3
            ),
            scored AS (
              SELECT p.qid, a.cid,
                list_dot_product(p.qe, a.cv) / (p.qn * a.cn) AS cosine
              FROM probes p JOIN assign a ON p.cell = a.cell
              WHERE p.qid <> a.cid
            )
            SELECT qid, cid, rank FROM (
              SELECT qid, cid,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY cosine DESC, cid) AS INT) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        'q51_validation_counts': """
            SELECT count(*) AS n_rows,
              CAST(sum(CASE WHEN coalesce(value >= 0 AND value <= 100, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS value_in_range,
              CAST(sum(CASE WHEN ts IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS ts_not_null,
              CAST(sum(CASE WHEN coalesce(event_type IN ('click','view','purchase','signup','error'), FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS known_event_type
            FROM events
        """,
        'q52_quarantine': """
            WITH checks AS (
              SELECT event_id,
                coalesce(value >= 0 AND value <= 100, FALSE) AS c1,
                ts IS NOT NULL AS c2,
                coalesce(event_type IN ('click','view','purchase','signup','error'), FALSE) AS c3
              FROM events
            )
            SELECT event_id, rule FROM (
              SELECT event_id, 'value_in_range' AS rule FROM checks WHERE NOT c1
              UNION ALL
              SELECT event_id, 'ts_not_null' FROM checks WHERE NOT c2
              UNION ALL
              SELECT event_id, 'known_event_type' FROM checks WHERE NOT c3
            )
        """,
        'q49_rolling_avg': """
            SELECT event_id, user_id, ts,
              CAST(sum(CAST(value AS DECIMAL(38,6)))
                     OVER w AS DOUBLE)
                / count(value) OVER w AS rolling_avg
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        'q50_ewma_anomaly': """
            WITH RECURSIVE base AS (
              SELECT user_id, ts, value,
                CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts)
                     AS BIGINT) AS rn
              FROM events
            ),
            -- replicates streaming/stateful.py's fold with the SAME
            -- IEEE op order: delta = v - ewma; ewma += a*delta;
            -- var = (1-a)*(var + a*delta*delta); z uses the PRIOR state
            rec AS (
              SELECT user_id, ts, value, rn,
                CAST(NULL AS DOUBLE) AS zscore,
                value AS ewma,
                CAST(0 AS DOUBLE) AS ewm_var
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.user_id, b.ts, b.value, b.rn,
                CASE WHEN sqrt(r.ewm_var) > 0
                     THEN (b.value - r.ewma) / sqrt(r.ewm_var) END AS zscore,
                r.ewma + 0.2::DOUBLE * (b.value - r.ewma) AS ewma,
                (1 - 0.2::DOUBLE)
                  * (r.ewm_var
                     + 0.2::DOUBLE * (b.value - r.ewma) * (b.value - r.ewma))
                  AS ewm_var
              FROM rec r JOIN base b
                ON b.user_id = r.user_id AND b.rn = r.rn + 1
            )
            SELECT user_id, ts, value, zscore
            FROM rec WHERE abs(zscore) > 2
        """,
        'q48_correlated_subquery': f"""
            WITH per_part AS (
              SELECT l_partkey, {_davg_sql('l_quantity')} * 0.2 AS qty_threshold
              FROM lineitem GROUP BY l_partkey
            )
            SELECT l.l_partkey, count(*) AS n_small_orders,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS small_revenue
            FROM lineitem l JOIN per_part p ON l.l_partkey = p.l_partkey
            WHERE l.l_quantity < p.qty_threshold
            GROUP BY l.l_partkey
        """,
        'q46_unpivot': f"""
            SELECT user_id, event_type, avg_value
            FROM ({_PIVOT_SQL})
            UNPIVOT (avg_value FOR event_type IN (click, view, purchase, signup, error))
            WHERE avg_value > 0
        """,
        'q53_dedup_clusters': r"""
            WITH RECURSIVE reps AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ),
            tk AS (
              SELECT doc_id AS id,
                list_distinct(
                  list_transform(
                    generate_series(1, greatest(len(t) - 2, 0)),
                    i -> array_to_string(t[i:i+2], ' ')
                  )
                ) AS tok
              FROM (
                SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
                FROM reps
              )
            ),
            inv AS (SELECT id, len(tok) AS n_tok, unnest(tok) AS token FROM tk),
            cand AS (
              SELECT a.id AS id_a, b.id AS id_b, a.n_tok AS n_a, b.n_tok AS n_b,
                     count(*) AS inter
              FROM inv a JOIN inv b ON a.token = b.token AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            ),
            sim AS (
              SELECT id_a, id_b FROM cand
              WHERE inter / (n_a + n_b - inter) >= 0.2
            ),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM sim
              UNION ALL
              SELECT id_b, id_a FROM sim
            ),
            reach(u, lbl) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
            )
            SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u
        """,
        'q54_grouping_sets': """
            SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                    (o_orderpriority), ())
        """,
        'q55_window_rank_suite': """
            SELECT o_orderkey, o_orderpriority,
              CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile,
              CAST(dense_rank() OVER w AS INT) AS drank,
              percent_rank() OVER w AS prank,
              cume_dist() OVER w AS cdist
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        """,
        'q56_top_terms': r"""
            WITH reps AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ),
            term_tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM (
                SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                     x -> x <> '')) AS term
                FROM reps
              )
              GROUP BY doc_id, term
            ),
            term_df AS (
              SELECT term, count(*) AS df FROM term_tf GROUP BY term
            ),
            scored AS (
              SELECT t.doc_id, t.term, t.tf, d.df, (t.tf * 1000000) // d.df AS score
              FROM term_tf t JOIN term_df d ON t.term = d.term
            )
            SELECT doc_id, term, tf, df, score, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS INT) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        'q58_missing_buckets': """
            WITH b AS (
              SELECT DISTINCT event_type,
                CAST(floor(epoch(ts)/1800) AS BIGINT)*1800 AS bk
              FROM events
            ),
            spans AS (
              SELECT event_type, min(bk) AS lo, max(bk) AS hi
              FROM b GROUP BY event_type
            ),
            expected AS (
              SELECT event_type, unnest(generate_series(lo, hi, 1800)) AS bk
              FROM spans
            )
            SELECT e.event_type, make_timestamp(e.bk*1000000) AS bucket
            FROM expected e
            ANTI JOIN b ON e.event_type = b.event_type AND e.bk = b.bk
        """,
        'q60_exact_percentiles': """
            SELECT l_returnflag,
              median(l_quantity) AS median_qty,
              quantile_cont(l_quantity, 0.9) AS p90_qty,
              count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        'q63_scd2_dimension': """
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
            )
            SELECT user_id, event_type, ts AS valid_from,
              lead(ts) OVER w2 AS valid_to,
              (lead(ts) OVER w2) IS NULL AS is_current
            FROM versions
            WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
        """,
        'q61_quantize_embeddings': """
            WITH v AS (
              SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            s AS (
              SELECT vec_id, e,
                list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
              FROM v
            ),
            qz AS (
              SELECT vec_id, scale,
                CASE WHEN scale > 0
                  THEN list_transform(e, x -> CAST(floor(x/scale + 0.5) AS BIGINT))
                  ELSE list_transform(e, x -> CAST(0 AS BIGINT))
                END AS q
              FROM s
            )
            SELECT vec_id, scale,
              list_sum(q) AS code_sum,
              CAST(list_min(q) AS INT) AS code_min,
              CAST(list_max(q) AS INT) AS code_max
            FROM qz
        """,
        'q59_salted_agg': """
            SELECT event_type, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
              max(value) AS max_value
            FROM events GROUP BY event_type
        """,
        'q64_hash_split': """
            WITH assigned AS (
              SELECT user_id,
                CASE WHEN substr(md5('v1' || CAST(user_id AS VARCHAR)), 1, 8) < 'cccccccc'
                       THEN 'train'
                     WHEN substr(md5('v1' || CAST(user_id AS VARCHAR)), 1, 8) < 'e6666666'
                       THEN 'val'
                     ELSE 'test' END AS split
              FROM events
            )
            SELECT split, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM assigned GROUP BY split
        """,
        'q65_rate_of_change': """
            SELECT event_id, user_id, ts,
              CASE WHEN (CAST(floor(epoch(ts)) AS BIGINT)
                         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)) > 0
                   THEN (value - lag(value) OVER w)
                        / (CAST(floor(epoch(ts)) AS BIGINT)
                           - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT))
              END AS rate
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        'q66_mad_outliers': """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY event_type
            ),
            dev AS (
              SELECT e.event_id, e.event_type, e.value, m.med
              FROM events e JOIN med m ON e.event_type = m.event_type
            ),
            mad AS (
              SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
              FROM dev GROUP BY event_type
            )
            SELECT d.event_id, d.event_type, d.value, d.med, m2.mad
            FROM dev d JOIN mad m2 ON d.event_type = m2.event_type
            WHERE abs(d.value - d.med) > CAST(5.0 AS DOUBLE) * m2.mad
        """,
        'q67_bm25_terms': r"""
            WITH reps AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ),
            base AS (
              SELECT doc_id AS id,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tok
              FROM reps
            ),
            term_tf AS (
              SELECT id, dl, term, count(*) AS tf FROM (
                SELECT id, CAST(len(tok) AS INT) AS dl, unnest(tok) AS term FROM base
              ) GROUP BY id, dl, term
            ),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len(tok)) AS BIGINT) AS total_dl
              FROM base
            ),
            term_df AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM term_tf GROUP BY term
            ),
            scored AS (
              SELECT t.id, t.term, t.tf, d.df,
                (((s.n_docs - d.df) + CAST(0.5 AS DOUBLE)) / (d.df + CAST(0.5 AS DOUBLE)))
                * (t.tf * CAST(2.2 AS DOUBLE))
                / (t.tf + CAST(1.2 AS DOUBLE)
                   * (CAST(0.25 AS DOUBLE)
                      + (CAST(0.75 AS DOUBLE) * t.dl)
                        / (CAST(s.total_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
                  AS score
              FROM term_tf t JOIN term_df d ON t.term = d.term CROSS JOIN stats s
            )
            SELECT id, term, CAST(tf AS BIGINT) AS tf, df, score, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY id
                               ORDER BY score DESC, term ASC) AS INT) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        'q68_pack_offsets': r"""
            WITH base AS (
              SELECT doc_id AS id, lang,
                CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                     x -> x <> '')) AS BIGINT) AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT id, lang, n_tokens,
                CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM base
            )
            SELECT id, lang, n_tokens,
              (cum - n_tokens) AS "offset",
              CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS chunk_id
            FROM c
        """,
        'q69_ohlc_bars': """
            SELECT user_id,
              make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)*3600*1000000) AS bucket,
              arg_min(value, ts) AS open,
              max(value) AS high,
              min(value) AS low,
              arg_max(value, ts) AS close,
              count(*) AS n_samples
            FROM events GROUP BY user_id, bucket
        """,
        'q70_time_weighted_avg': """
            WITH base AS (
              SELECT user_id, value,
                CAST(floor(epoch(ts)) AS BIGINT) AS t,
                CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600) AS BIGINT)*3600 AS bs
              FROM events
            ),
            weighted AS (
              SELECT user_id, value, bs,
                least(coalesce(lead(t) OVER (PARTITION BY user_id ORDER BY t),
                               bs + 3600),
                      bs + 3600) - t AS w
              FROM base
            )
            SELECT user_id, make_timestamp(bs*1000000) AS bucket,
              CAST(sum(CAST(value * w AS DECIMAL(38,6))) AS DOUBLE)
                / CAST(sum(w) AS BIGINT) AS twa,
              CAST(sum(w) AS BIGINT) AS covered_seconds,
              count(*) AS n_samples
            FROM weighted GROUP BY user_id, bs
        """,
        'q71_funnel': """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ),
            s2 AS (
              SELECT e.user_id, min(s1.t1) AS t1, min(e.ts) AS t2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t1
                AND CAST(floor(epoch(e.ts)) AS BIGINT)
                    <= CAST(floor(epoch(s1.t1)) AS BIGINT) + 86400
              GROUP BY e.user_id
            ),
            s3 AS (
              SELECT e.user_id, min(s2.t1) AS t1, min(e.ts) AS t3
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                AND CAST(floor(epoch(e.ts)) AS BIGINT)
                    <= CAST(floor(epoch(s2.t1)) AS BIGINT) + 86400
              GROUP BY e.user_id
            )
            SELECT 0 AS step_idx, 'view' AS step_name, count(*) AS n_users FROM s1
            UNION ALL
            SELECT 1, 'click', count(*) FROM s2
            UNION ALL
            SELECT 2, 'purchase', count(*) FROM s3
        """,
        'q72_cohort_retention': """
            WITH firsts AS (
              SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
              FROM events GROUP BY user_id
            ),
            sizes AS (
              SELECT cohort_day, count(*) AS n_cohort
              FROM firsts GROUP BY cohort_day
            ),
            activity AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
            ),
            ret AS (
              SELECT f.cohort_day,
                     CAST(datediff('day', f.cohort_day, a.day) AS INT) AS day_offset,
                     count(*) AS n_active
              FROM activity a JOIN firsts f ON a.user_id = f.user_id
              WHERE datediff('day', f.cohort_day, a.day) IN (1, 3, 7)
              GROUP BY 1, 2
            )
            SELECT r.cohort_day, r.day_offset, r.n_active, s.n_cohort
            FROM ret r JOIN sizes s ON r.cohort_day = s.cohort_day
        """,
        'q73_levenshtein_pairs': """
            WITH t AS (SELECT DISTINCT p_type AS name FROM part)
            SELECT a.name AS id_a, b.name AS id_b,
              CAST(levenshtein(a.name, b.name) AS INT) AS dist
            FROM t a JOIN t b
              ON a.name < b.name
             AND abs(length(a.name) - length(b.name)) <= 6
            WHERE levenshtein(a.name, b.name) <= 6
        """,
        'q74_json_extract': """
            WITH j AS (
              SELECT event_id,
                '{"t":"' || event_type || '","v":'
                  || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)
                  || ',"u":' || CAST(user_id AS VARCHAR) || '}' AS js
              FROM events
            )
            SELECT event_id,
              json_extract_string(js, '$.t') AS jtype,
              CAST(json_extract(js, '$.v') AS BIGINT) AS jval,
              CAST(json_extract(js, '$.u') AS BIGINT) AS juser
            FROM j
            WHERE CAST(json_extract(js, '$.v') AS BIGINT) >= 50
        """,
        'q75_exact_corr': """
            WITH ints AS (
              SELECT l_returnflag,
                CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)) AS xi,
                CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)) AS yi
              FROM lineitem
              WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            ),
            s AS (
              SELECT l_returnflag, count(*) AS n,
                sum(CAST(xi AS DECIMAL(38,0))) AS sx,
                sum(CAST(yi AS DECIMAL(38,0))) AS sy,
                sum(CAST(xi * xi AS DECIMAL(38,0))) AS sxx,
                sum(CAST(yi * yi AS DECIMAL(38,0))) AS syy,
                sum(CAST(xi * yi AS DECIMAL(38,0))) AS sxy
              FROM ints GROUP BY l_returnflag
            ),
            e AS (
              SELECT l_returnflag, n,
                CAST(CAST(CAST(n AS DECIMAL(12,0)) * CAST(sxy AS DECIMAL(24,0)) AS DECIMAL(32,0))
                     - CAST(CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(32,0)) AS DOUBLE) AS cov_n,
                CAST(CAST(CAST(n AS DECIMAL(12,0)) * CAST(sxx AS DECIMAL(24,0)) AS DECIMAL(32,0))
                     - CAST(CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS DECIMAL(32,0)) AS DOUBLE) AS var_x,
                CAST(CAST(CAST(n AS DECIMAL(12,0)) * CAST(syy AS DECIMAL(24,0)) AS DECIMAL(32,0))
                     - CAST(CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DECIMAL(32,0)) AS DOUBLE) AS var_y
              FROM s
            )
            SELECT l_returnflag, n,
              CASE WHEN sqrt(var_x) * sqrt(var_y) > 0
                   THEN cov_n / (sqrt(var_x) * sqrt(var_y)) END AS corr
            FROM e
        """,
        'q76_histogram': """
            WITH b AS (
              SELECT event_type,
                CAST(min(value) AS DOUBLE) AS lo,
                CAST(max(value) AS DOUBLE) AS hi
              FROM events WHERE value IS NOT NULL GROUP BY event_type
            ),
            k AS (
              SELECT e.event_type, lo, hi,
                CASE WHEN hi = lo THEN 0
                     ELSE CAST(least(floor((CAST(value AS DOUBLE) - lo)
                                           / ((hi - lo) / 10.0)), 9) AS INT)
                END AS bin
              FROM events e JOIN b USING (event_type)
              WHERE value IS NOT NULL
            )
            SELECT event_type, bin,
              lo + CAST(bin AS DOUBLE) * (hi - lo) / 10.0 AS bin_lo,
              lo + (CAST(bin AS DOUBLE) + 1) * (hi - lo) / 10.0 AS bin_hi,
              count(*) AS n
            FROM k GROUP BY event_type, bin, lo, hi
        """,
        'q77_chunk_tokens': r"""
            WITH t AS (
              SELECT doc_id,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
              FROM documents
            ),
            s AS (
              SELECT doc_id, toks,
                unnest(generate_series(0, len(toks) - 1, 16)) AS start
              FROM t WHERE len(toks) > 0
            )
            SELECT doc_id AS id,
              CAST(start // 16 AS INT) AS chunk_id,
              array_to_string(toks[start + 1 : least(start + 32, len(toks))], ' ')
                AS chunk_text,
              CAST(least(start + 32, len(toks)) - start AS INT) AS n_tokens
            FROM s
        """,
        'q78_contamination': r"""
            WITH toks AS (
              SELECT doc_id,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                list_distinct(
                  list_transform(
                    generate_series(1, greatest(len(t) - 2, 0)),
                    i -> CAST(('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 12)) AS BIGINT)
                         % 2147483647
                  )
                ) AS g
              FROM toks
            ),
            tr AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 5 <> 0),
            te AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 5 = 0)
            SELECT te.doc_id AS id,
              count(DISTINCT te.gram) AS n_grams,
              count(DISTINCT CASE WHEN tr.doc_id IS NOT NULL THEN te.gram END)
                AS n_shared,
              count(DISTINCT tr.doc_id) AS n_train_docs
            FROM te LEFT JOIN tr USING (gram)
            GROUP BY te.doc_id
        """,
        'q79_redact_pii': r"""
            WITH raw AS (
              SELECT c_custkey,
                'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
                || '@example.com or +1-555-'
                || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                || ' ssn '
                || lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(c_custkey % 90 + 10 AS VARCHAR), 2, '0') || '-'
                || lpad(CAST(c_custkey % 9000 + 1000 AS VARCHAR), 4, '0')
                || ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.1 tel '
                || CAST(c_custkey % 9 + 1 AS VARCHAR) || '.'
                || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '.'
                || lpad(CAST(c_custkey * 3 % 1000 AS VARCHAR), 3, '0') || '.'
                || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS t
              FROM customer
            )
            SELECT c_custkey,
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(t,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
                  '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
                '\+?[0-9]{1,3}[- .]?\(?[0-9]{3}\)?[- .]?[0-9]{3}[- .]?[0-9]{4}',
                '[PHONE]', 'g') AS redacted
            FROM raw
        """,
        'q80_repetition_ratio': r"""
            WITH t AS (
              SELECT doc_id,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                CASE WHEN len(toks) >= 2
                  THEN list_transform(
                         generate_series(1, len(toks) - 1),
                         i -> array_to_string(toks[i:i+1], ' '))
                  ELSE CAST([] AS VARCHAR[]) END AS grams
              FROM t
            )
            SELECT doc_id,
              CAST(len(grams) AS INT) AS n_grams,
              CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
              CASE WHEN len(grams) > 0
                THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                           / CAST(len(grams) AS DOUBLE)
              END AS rep_ratio
            FROM g
        """,
        'q81_tvd_drift': """
            WITH base AS (
              SELECT event_type, CAST(value AS DOUBLE) AS v,
                (ts < TIMESTAMP '2024-01-16') AS is_ref
              FROM events WHERE value IS NOT NULL
            ),
            bounds AS (
              SELECT event_type, min(v) AS lo, max(v) AS hi
              FROM base WHERE is_ref GROUP BY 1
            ),
            binned AS (
              SELECT b.event_type,
                CASE WHEN hi = lo THEN 0
                     ELSE CAST(greatest(least(floor((v - lo) / ((hi - lo) / 10.0)), 9), 0) AS INT)
                END AS bin,
                sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS a,
                sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS bb
              FROM base b JOIN bounds USING (event_type)
              GROUP BY 1, 2
            ),
            tot AS (
              SELECT event_type,
                CAST(sum(a) AS BIGINT) AS n_ref, CAST(sum(bb) AS BIGINT) AS n_cur
              FROM binned GROUP BY 1
            )
            SELECT t.event_type, n_ref, n_cur,
              CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                CAST(sum(abs(a * n_cur - bb * n_ref)) AS DOUBLE)
                / ((2.0 * CAST(n_ref AS DOUBLE)) * CAST(n_cur AS DOUBLE))
              END AS tvd
            FROM binned b JOIN tot t USING (event_type)
            GROUP BY 1, 2, 3
        """,
    },
)
