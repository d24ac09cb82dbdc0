"""Shared context for the query-family modules: every import,
constant and helper the monolithic __spark_entry__.py defined at
module level, preserved verbatim and in original order. Family
modules do `from ...queries.common import *` (underscore helpers
are exported explicitly via __all__)."""

from __future__ import annotations

from sensor_time_series_pyspark_spark.queries.registry import register_many

from collections.abc import Callable

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
    STOPWORDS,
)
from sensor_time_series_pyspark_spark.operators import (
    asof_join,
    dedup_clusters,
    exact_dedup,
    missing_buckets,
    ffill,
    interpolate_linear,
    jaccard_pairs,
    lead_target,
    minhash_lsh_pairs,
    minhash_pairs,
    pivot_wide,
    quantile_clip,
    resample,
    sessionize,
    simhash_pairs,
    spread,
    topk_cosine,
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
from sensor_time_series_pyspark_spark.plans import sensor_etl
from sensor_time_series_pyspark_spark.sources.readers import read_table

SF0001 = "/root/testdata/sf0.001"

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# Deterministic aggregate helpers (see module docstring). DEC is wide
# enough for any testdata sum; 6 fractional digits covers 2-decimal
# money columns and their 3-factor products.
DEC = "decimal(38,6)"


def _dsum(col: F.Column) -> F.Column:
    """Exact, order-independent sum of a double column → double."""
    return F.sum(col.cast(DEC)).cast("double")


def _davg(col: F.Column) -> F.Column:
    """Deterministic mean: exact decimal sum, one double division."""
    return _dsum(col) / F.count(col)


def _dec(name: str) -> F.Column:
    """Column cast to decimal(12,2) for exact product arithmetic."""
    return F.col(name).cast("decimal(12,2)")


def _nulled_events(spark: SparkSession, sf: str) -> DataFrame:
    """events with value masked NULL on error rows — the gap-bearing
    series used by the ffill/interpolate queries."""
    ev = read_table(spark, sf, "events")
    return ev.withColumn(
        "value", F.when(F.col("event_type") != "error", F.col("value"))
    )


def _rep_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-dedup representatives (lowest doc_id per distinct text).
    Every near-dup query starts here: at 100 TB the duplicate groups
    are huge (sf0.1 already has ~100 copies per text), and running the
    pair-generation over raw rows squares that factor — dedup-first
    cuts the candidate space by dup_factor² with zero recall loss
    (identical texts are near-dups by definition).

    Every consumer reads only (doc_id, text), so project BEFORE the
    dedup: ``exact_dedup``'s whole-row ``min_by(struct(*))`` defeats
    column pruning (Catalyst cannot see inside the struct), so the
    unprojected form reads and aggregates every document column.
    Raced in one JVM at sf0.1 inside q19 (best-of-5): pruned struct
    2.68 s vs all-columns struct 3.32 s vs a two-scan
    hash-agg-on-ids + join-back 2.78 s vs groupBy(full text) worst —
    the single-scan sort-aggregate on the 8-byte content hash with a
    2-field struct is the winner, so that's the shape."""
    docs = read_table(spark, sf, "documents")
    return exact_dedup(docs.select("doc_id", "text"), "text", "doc_id")


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


def _partner_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 strongest-partner user graph (shared by q100/q139):
    co-activity counts over (event_type, 30-min bucket) cells, each
    user keeping its 3 highest-count partners (deterministic id
    tiebreak). Degree <= 6 after symmetrization → graph algorithms on
    it stay O(users) at any scale factor."""
    ev = read_table(spark, sf, "events")
    cell = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 1800000000").alias("bucket"),
        "user_id",
    ).distinct()
    a, b = cell.alias("a"), cell.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .where(F.col("a.user_id") < F.col("b.user_id"))
        .groupBy(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sym = pair_counts.unionByName(
        pair_counts.select(
            F.col("v").alias("u"), F.col("u").alias("v"), "n"
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("n").desc(), F.col("v").asc())
    return (
        sym.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= 3)
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )


def _revenue() -> F.Column:
    """Exact decimal l_extendedprice*(1-l_discount) (the TPC-H revenue
    term; decimal products are exact so Spark == DuckDB bitwise)."""
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))


def _brand_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Undirected brand co-purchase edge list (a < b, distinct) —
    shared by the graph-diagnostic queries."""
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, sf, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    return (
        ob.alias("x")
        .join(ob.alias("y"), "o")
        .select(F.col("x.b").alias("a"), F.col("y.b").alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )


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


# SPRT literal log-likelihood weights: H0 p0=0.20 vs H1 p1=0.25 for
# the purchase share, alpha=0.05 / beta=0.20 Wald boundaries. Computed
# ONCE here in Python and embedded as the same double literals in both
# engines — no libm call ever runs engine-side (the repo-wide rule
# that keeps log-based stats hash-stable).
import math as _math  # noqa: E402

_SPRT_P0, _SPRT_P1 = 0.20, 0.25
_SPRT_L1 = _math.log(_SPRT_P1 / _SPRT_P0)
_SPRT_L0 = _math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))
_SPRT_UP = _math.log((1.0 - 0.20) / 0.05)    # accept H1
_SPRT_LO = _math.log(0.20 / (1.0 - 0.05))    # accept H0


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------

_STOPWORD_LIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

# SQL twins of the functions/text.py quality features — defined ONCE so
# every oracle that scores quality (q31, q590, q595) tests the same
# formula; expressions expect `text` (raw) and `tok` (lowercased token
# list) to be in scope, and the quality expression expects `pr`/`sw`
# aliases from the two CASE fragments.
_PR_SQL = (
    r"CASE WHEN len(text) > 0 THEN (len(text) - len(regexp_replace("
    r"text, '[!-/:-@\[-`{-~]', '', 'g'))) / len(text) ELSE 0 END"
)
_SW_SQL = (
    "CASE WHEN len(tok) > 0 THEN len(list_filter(tok, "
    f"t -> list_contains({_STOPWORD_LIST}, t))) / len(tok) ELSE 0 END"
)
_NBPE_SQL = (
    "CAST(coalesce(list_aggregate(list_transform(tok, "
    "w -> CAST(ceil(len(w)/4.0) AS INT)), 'sum'), 0) AS BIGINT)"
)
_QUALITY_Q_SQL = (
    "(least(n_tok/20.0, 1.0) + (1.0 - least(pr*5, 1.0)) "
    "+ least(sw*4, 1.0)) / 3"
)

from sensor_time_series_pyspark_spark.operators.sampling import (  # noqa: E402
    _threshold_hex as _thr,
)


# DuckDB twin of _revenue(): exact decimal discounted price.
_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
)


def _davg_sql(col: str, filt: str | None = None) -> str:
    """DuckDB twin of _davg: exact decimal sum → double, one division."""
    f = f" FILTER (WHERE {filt})" if filt else ""
    return (
        f"CAST(sum(CAST({col} AS DECIMAL(38,6))){f} AS DOUBLE) / count({col}){f}"
    )


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

_SESSIONIZE_SQL = """
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
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY user_id, session_seq
"""

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


def _minhash_sql(threshold: float = 0.35, n_hashes: int = 16, n_bands: int = 8) -> str:
    """DuckDB twin of operators/dedup.py:minhash_pairs — same seeded
    (a,b) coefficients baked in as literals, same md5-derived shingle
    ids, same banding, same exact-Jaccard verify."""
    from sensor_time_series_pyspark_spark.operators import minhash_coeffs

    P = 2147483647
    r = n_hashes // n_bands
    a, b = minhash_coeffs(n_hashes)
    mins = ",\n    ".join(
        f"min(({a[i]}*sid + {b[i]}) % {P}) AS h{i}" for i in range(n_hashes)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT id, {band} AS band_id, concat_ws('|', "
        + ", ".join(f"h{band * r + j}" for j in range(r))
        + ") AS band_key FROM sig"
        for band in range(n_bands)
    )
    return rf"""
WITH reps AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
),
toks AS (
  SELECT id, tok, len(tok) AS n_tok FROM (
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
  SELECT id, n_tok,
    (('0x' || substr(md5(sh), 1, 12))::BIGINT % {P}) AS sid
  FROM (SELECT id, n_tok, unnest(tok) AS sh FROM toks)
),
sig AS (
  SELECT id, min(n_tok) AS n_tok,
    {mins}
  FROM ids GROUP BY id
),
bands AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.id < b.id
),
verified AS (
  SELECT c.id_a, c.id_b,
    len(list_intersect(ta.tok, tb.tok)) AS inter,
    ta.n_tok AS n_a, tb.n_tok AS n_b
  FROM cand c
  JOIN toks ta ON c.id_a = ta.id
  JOIN toks tb ON c.id_b = tb.id
)
SELECT id_a, id_b, inter / (n_a + n_b - inter) AS jaccard
FROM verified
WHERE inter / (n_a + n_b - inter) >= {threshold}
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

__all__ = [
    'Callable',
    'DataFrame',
    'SparkSession',
    'Window',
    'F',
    'bpe_ish_token_count',
    'fingerprint64',
    'lang_id',
    'punct_ratio',
    'quality_score',
    'stopword_ratio',
    'token_count',
    'tokens',
    'STOPWORDS',
    'asof_join',
    'dedup_clusters',
    'exact_dedup',
    'missing_buckets',
    'ffill',
    'interpolate_linear',
    'jaccard_pairs',
    'lead_target',
    'minhash_lsh_pairs',
    'minhash_pairs',
    'pivot_wide',
    'quantile_clip',
    'resample',
    'sessionize',
    'simhash_pairs',
    'spread',
    'topk_cosine',
    'classification_pipeline',
    'decode_predictions',
    'decompose',
    'fit_forecast',
    'grid_search_forecast',
    'regression_pipeline',
    'temporal_split',
    'sensor_etl',
    'read_table',
    'SF0001',
    'EVENT_TYPES',
    'DEC',
    '_dsum',
    '_davg',
    '_dec',
    '_nulled_events',
    '_rep_docs',
    '_daily_series',
    '_event_rules',
    '_partner_graph',
    '_revenue',
    '_brand_graph',
    '_NDCG_DISC',
    '_NDCG_CUM',
    '_NPV_DISC_SCALED',
    '_SPRT_L1',
    '_SPRT_L0',
    '_SPRT_UP',
    '_SPRT_LO',
    '_STOPWORD_LIST',
    '_PR_SQL',
    '_SW_SQL',
    '_NBPE_SQL',
    '_QUALITY_Q_SQL',
    '_thr',
    '_REV_SQL',
    '_davg_sql',
    '_FLAGSHIP_SQL',
    '_PIVOT_SQL',
    '_SESSIONIZE_SQL',
    '_DOC_STATS_SQL',
    '_minhash_sql',
    '_srp_sql',
    '_simhash_sql',
    'register_many',
]
