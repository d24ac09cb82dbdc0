"""Round-6 additions to the calibration and text-vectorization
families: Mondrian conformal intervals (group-conditional validity —
the production upgrade to q456's marginal split-conformal) and the
feature-hashing vectorizer (the fixed-width trick every large-scale
text pipeline uses when a fitted vocabulary is too big or too mutable
to broadcast)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import tokens
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_mondrian_conformal(spark: SparkSession, sf: str) -> DataFrame:
    """Mondrian (taxonomy-conditional) split conformal: q456's
    seasonal-naive forecaster and integer residuals, but the 0.9
    residual quantile is calibrated PER (event_type, day-of-week)
    CELL, and coverage is reported per cell — the conditional-validity
    guarantee marginal conformal can't give (Vovk's Mondrian CP).
    Same engine-exact machinery: percentile_disc on integer residuals,
    ONE division for coverage. Cells with an empty test half drop out
    (inner join), matching the judged-only convention."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    scored = (
        daily.select(
            "event_type",
            "d",
            "n",
            F.lag("n", 7).over(wt).alias("yhat"),
            F.row_number().over(wt).cast("bigint").alias("i"),
        )
        .where(F.col("yhat").isNotNull())
        .withColumn("abs_err", F.abs(F.col("n") - F.col("yhat")))
        .withColumn("dow", F.dayofweek("d").cast("int"))
    )
    cal = scored.where(F.col("i") <= 15)
    test = scored.where(F.col("i") > 15)
    qhat = cal.groupBy("event_type", "dow").agg(
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY abs_err)")
        .cast("bigint")
        .alias("qhat"),
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
    )
    j = test.join(qhat, ["event_type", "dow"])
    return j.groupBy("event_type", "dow").agg(
        F.max("qhat").cast("bigint").alias("qhat"),
        F.max("n_cal").cast("bigint").alias("n_cal"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        (
            F.sum(F.when(F.col("abs_err") <= F.col("qhat"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("coverage"),
    )


def _q_feature_hash_tf(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-hashing (hashing-trick) term frequencies over the
    document corpus: every token maps to one of 64 buckets via the
    repo's portable md5 integer (first 12 hex chars -> bigint mod 64
    — reproducible in any engine, unlike murmur/xxhash), giving the
    fixed-width vector a vocabulary-free text pipeline trains on.
    Output per bucket: total term mass, distinct tokens (collision
    load), and the dominant token with its share — the collision
    audit run before committing to a hash width. One explode + one
    aggregate; no vocabulary broadcast, no fitted state (the entire
    point of the trick at 100 TB)."""
    docs = read_table(spark, sf, "documents").select(
        F.explode(tokens("text")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10)
        .cast("bigint")
        % 64
    )
    per_tok = docs.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    bucketed = per_tok.select("tok", "n", bucket.alias("bucket"))
    w_top = Window.partitionBy("bucket").orderBy(
        F.col("n").desc(), F.col("tok").asc()
    )
    ranked = bucketed.withColumn("r", F.row_number().over(w_top))
    agg = bucketed.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("mass"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )
    top = ranked.where(F.col("r") == 1).select(
        "bucket", F.col("tok").alias("top_token"), F.col("n").alias("top_n")
    )
    return agg.join(top, "bucket").select(
        "bucket",
        "mass",
        "n_tokens",
        "top_token",
        (F.col("top_n").cast("double") / F.col("mass").cast("double")).alias(
            "top_share"
        ),
    )


register_many(
    {
        "q521_mondrian_conformal": _q_mondrian_conformal,
        "q522_feature_hash_tf": _q_feature_hash_tf,
    },
    {
        "q521_mondrian_conformal": """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            scored AS (
              SELECT event_type, d, n,
                lag(n, 7) OVER win AS yhat,
                CAST(row_number() OVER win AS BIGINT) AS i
              FROM daily
              WINDOW win AS (PARTITION BY event_type ORDER BY d)
            ),
            resid AS (
              SELECT event_type, d, i, abs(n - yhat) AS abs_err,
                CAST(dayofweek(d) + 1 AS INT) AS dow
              FROM scored WHERE yhat IS NOT NULL
            ),
            qhat AS (
              SELECT event_type, dow,
                CAST(percentile_disc(0.9)
                  WITHIN GROUP (ORDER BY abs_err) AS BIGINT) AS qhat,
                CAST(count(*) AS BIGINT) AS n_cal
              FROM resid WHERE i <= 15 GROUP BY 1, 2
            )
            SELECT t.event_type, t.dow, max(q.qhat) AS qhat,
              max(q.n_cal) AS n_cal,
              CAST(count(*) AS BIGINT) AS n_test,
              CAST(sum(CASE WHEN t.abs_err <= q.qhat THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
            FROM resid t
            JOIN qhat q ON t.event_type = q.event_type
              AND t.dow = q.dow
            WHERE t.i > 15
            GROUP BY 1, 2
        """,
        "q522_feature_hash_tf": r"""
            WITH toks AS (
              SELECT unnest(list_filter(
                string_split_regex(trim(text), '\s+'),
                x -> x <> '')) AS tok
              FROM documents
            ),
            per_tok AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS n
              FROM toks GROUP BY tok
            ),
            bucketed AS (
              SELECT tok, n,
                (('0x' || substr(md5(tok), 1, 12))::BIGINT) % 64
                  AS bucket
              FROM per_tok
            ),
            agg AS (
              SELECT bucket, CAST(sum(n) AS BIGINT) AS mass,
                CAST(count(*) AS BIGINT) AS n_tokens
              FROM bucketed GROUP BY bucket
            ),
            top AS (
              SELECT bucket, tok AS top_token, n AS top_n FROM (
                SELECT bucket, tok, n,
                  row_number() OVER (PARTITION BY bucket
                    ORDER BY n DESC, tok ASC) AS r
                FROM bucketed
              ) WHERE r = 1
            )
            SELECT a.bucket, a.mass, a.n_tokens, t.top_token,
              CAST(t.top_n AS DOUBLE) / CAST(a.mass AS DOUBLE)
                AS top_share
            FROM agg a JOIN top t ON a.bucket = t.bucket
        """,
    },
)
