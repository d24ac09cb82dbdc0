"""Helpers that two or more query-family modules import.

- ``EVENT_TYPES`` and the Spark-side exact aggregates: ``DEC``,
  ``_dsum``/``_davg`` (decimal sum, one final double division — plain
  double sums differ in low bits between engines), ``_dec`` and
  ``_revenue`` (exact decimal products);
- shared source frames: ``_nulled_events``, ``_rep_docs`` (exact-dedup
  document representatives) and ``_brand_graph``;
- their DuckDB oracle twins: ``_davg_sql``, ``_REV_SQL``, the
  stopword and quality-feature fragments (``_STOPWORD_LIST``,
  ``_PR_SQL``, ``_SW_SQL``, ``_NBPE_SQL``, ``_QUALITY_Q_SQL``),
  ``_SESSIONIZE_SQL`` and ``_minhash_sql``.

A helper with a single consumer lives in that module instead."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import STOPWORDS
from sensor_time_series_pyspark_spark.operators import exact_dedup
from sensor_time_series_pyspark_spark.sources.readers import read_table


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


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------

_STOPWORD_LIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

# SQL twins of the functions/text.py quality features — defined ONCE so
# every oracle that scores quality (q31, q590, q595) tests the same
# formula; expressions expect `text` (raw) and `tok` (lowercased token
# list) to be in scope, and the quality expression expects `n_tok`
# (token count) and the `pr`/`sw` aliases of the two CASE fragments.
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


