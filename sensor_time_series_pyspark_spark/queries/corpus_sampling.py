"""Deterministic corpus sampling & augmentation planning (round 6):
the reproducibility-critical LLM-pipeline steps. Spark's own
``df.sample`` draws from partition-seeded RNGs — results change with
partitioning and retries, which is exactly what a training-data
pipeline cannot tolerate (a re-run must rebuild the SAME corpus).
These operators key every random decision on a portable md5 hash of
stable identity, so any engine — and any re-run — reproduces the
sample bit-for-bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import tokens
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table

# floor(rate * 2^48) thresholds, precomputed so both engines compare
# the SAME integer (the hash is uniform on [0, 2^48))
_RATE_20 = 56294995342131  # floor(0.2 * 2^48)
_RATE_15 = 42221246506598  # floor(0.15 * 2^48)


def _h48(col: F.Column, salt: str) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")


def _q_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 20% Bernoulli sample of the document corpus:
    keep doc iff md5('smp:' || doc_id)[:48 bits] < floor(0.2·2^48).
    Membership depends only on doc_id — stable under repartitioning,
    retries, engines, and incremental reprocessing (a doc's fate
    never changes when the corpus around it grows, unlike
    rank-based sampling). Reports per (source, lang): population,
    sampled count, achieved rate, and sampled char mass — the
    stratification audit run before accepting a sample. One map-side
    predicate + one aggregate; zero shuffles beyond the rollup."""
    docs = read_table(spark, sf, "documents")
    keep = _h48(F.col("doc_id"), "smp:") < F.lit(_RATE_20)
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        (
            F.sum(F.when(keep, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("rate"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("sampled_chars"),
    )


def _q_span_mask_plan(spark: SparkSession, sf: str) -> DataFrame:
    """T5-style span-corruption PLAN: deterministically mark ~15% of
    token positions as mask starts (md5('msk:' || doc_id || ':' || pos)
    under the 0.15·2^48 threshold), merge adjacent/overlapping 3-token
    spans with the islands pass (q513), and report per doc: tokens,
    mask spans, masked-token count and fraction — the corruption-rate
    audit a pretraining pipeline runs before materializing augmented
    text. The plan (not the text) is the expensive distributed part;
    rendering masked text afterwards is one map."""
    span = 3
    docs = read_table(spark, sf, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    base = docs.select("doc_id", F.size("t").alias("n_tok")).where(
        F.col("n_tok") >= span
    )
    pos = base.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.sequence(F.lit(1), F.col("n_tok") - (span - 1))
        ).alias("p"),
    )
    h = _h48(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("p").cast("string")
        ),
        "msk:",
    )
    starts = pos.where(h < F.lit(_RATE_15)).select("doc_id", "n_tok", "p")

    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = (
        starts.withColumn("e", F.col("p") + span)
        .withColumn("pm", F.max("e").over(w_prev))
        .withColumn(
            "ni",
            F.when(F.col("pm").isNull() | (F.col("p") > F.col("pm")), 1).otherwise(
                0
            ),
        )
        .withColumn(
            "island",
            F.sum("ni").over(
                Window.partitionBy("doc_id")
                .orderBy("p")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    per_island = isl.groupBy("doc_id", "n_tok", "island").agg(
        (F.max("e") - F.min("p")).alias("ilen")
    )
    return (
        per_island.groupBy("doc_id")
        .agg(
            F.max("n_tok").cast("bigint").alias("n_tok"),
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("ilen").cast("bigint").alias("masked_tokens"),
        )
        .withColumn(
            "mask_frac",
            F.col("masked_tokens").cast("double") / F.col("n_tok").cast("double"),
        )
    )


register_many(
    {
        "q531_hash_sample": _q_hash_sample,
        "q532_span_mask_plan": _q_span_mask_plan,
    },
    {
        "q531_hash_sample": f"""
            WITH flagged AS (
              SELECT source, lang, n_chars,
                CASE WHEN ('0x' || substr(md5('smp:'
                    || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                  < {_RATE_20} THEN 1 ELSE 0 END AS keep
              FROM documents
            )
            SELECT source, lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(keep) AS BIGINT) AS n_sampled,
              CAST(sum(keep) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                AS rate,
              CAST(sum(CASE WHEN keep = 1 THEN n_chars ELSE 0 END)
                AS BIGINT) AS sampled_chars
            FROM flagged GROUP BY 1, 2
        """,
        "q532_span_mask_plan": rf"""
            WITH base AS (
              SELECT doc_id,
                CAST(len(list_filter(
                  string_split_regex(trim(text), '\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tok
              FROM documents
            ),
            sized AS (SELECT * FROM base WHERE n_tok >= 3),
            pos AS (
              SELECT doc_id, n_tok, unnest(
                range(1, CAST(n_tok AS INT) - 1)) AS p
              FROM sized
            ),
            starts AS (
              SELECT doc_id, n_tok, p, p + 3 AS e
              FROM pos
              WHERE ('0x' || substr(md5('msk:' || CAST(doc_id AS VARCHAR)
                  || ':' || CAST(p AS VARCHAR)), 1, 12))::BIGINT
                < {_RATE_15}
            ),
            isl AS (
              SELECT doc_id, n_tok, p, e,
                CASE WHEN max(e) OVER prev IS NULL
                       OR p > max(e) OVER prev
                     THEN 1 ELSE 0 END AS ni
              FROM starts
              WINDOW prev AS (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            isl2 AS (
              SELECT doc_id, n_tok, p, e,
                sum(ni) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS island
              FROM isl
            ),
            per_island AS (
              SELECT doc_id, n_tok, island, max(e) - min(p) AS ilen
              FROM isl2 GROUP BY 1, 2, 3
            )
            SELECT doc_id, max(n_tok) AS n_tok,
              CAST(count(*) AS BIGINT) AS n_spans,
              CAST(sum(ilen) AS BIGINT) AS masked_tokens,
              CAST(sum(ilen) AS DOUBLE) / CAST(max(n_tok) AS DOUBLE)
                AS mask_frac
            FROM per_island GROUP BY doc_id
        """,
    },
)
