"""Operational audits, hash-gated (round 6): the two census queries an
ingestion/ops team runs before setting knobs — event-time disorder
(sizes the streaming watermark lateness budget in streaming/ingest.py)
and ABC revenue classification (sizes hot/warm/cold storage tiers and
cache priorities)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_disorder_census(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time disorder per user stream: treating event_id as the
    arrival order (the generator's append sequence), how far do
    timestamps regress behind the running event-time maximum? Reports,
    per user: event count, out-of-order fraction, max regression
    (microseconds), and the p95 regression via percentile_disc over
    ONLY the late events (late_us > 0; on-time rows are excluded via
    a NULL-projecting CASE so both engines' NULL-ignoring
    percentile_disc see the same subset — users with zero late
    events report NULL) — exactly the numbers that size
    ``withWatermark``'s lateness budget (too small drops data, too
    large bloats state; see streaming/ingest.py). All integer
    microsecond arithmetic; one entity-partitioned window."""
    ev = read_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = (F.unix_micros(F.col("ts"))).alias("us")
    base = ev.select("user_id", "event_id", us)
    scored = base.select(
        "user_id",
        "event_id",
        "us",
        F.max("us").over(w).alias("wm"),
    ).withColumn(
        "late_us",
        F.when(
            F.col("wm").isNotNull() & (F.col("us") < F.col("wm")),
            F.col("wm") - F.col("us"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
        (
            F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("late_frac"),
        F.max("late_us").cast("bigint").alias("max_late_us"),
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP "
            "(ORDER BY CASE WHEN late_us > 0 THEN late_us END)"
        )
        .cast("bigint")
        .alias("p95_late_us"),
    )


def _q_abc_classes(spark: SparkSession, sf: str) -> DataFrame:
    """ABC classification of parts by revenue: rank parts by exact
    integer revenue cents (ties -> partkey asc), classify by
    cumulative revenue share — A up to 80%, B up to 95%, C the tail —
    with the share thresholds evaluated as exact wide-integer cross-
    multiplications (cum*100 <= total*80 in decimal(38,0) on Spark,
    HUGEINT in DuckDB), so class boundaries are bit-exact in any
    engine. The widening matters at scale: total lineitem revenue in
    cents is ~2.2e13 per TPC-H sf, so a raw BIGINT tot_c*95 would
    overflow int64 (~9.2e18) near sf~4500 — far below the 100 TB
    (sf~100k) target; decimal(38,0) holds ~1e38 and is exact. One aggregate to part grain, one global
    rank window over the part catalog (catalog-bounded, not
    fact-bounded). Output per class: part count, revenue, revenue
    share."""
    li = read_table(spark, sf, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
        ).alias("rev_c")
    )
    w_rank = Window.orderBy(F.col("rev_c").desc(), F.col("partkey").asc())
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    classed = (
        per_part.withColumn("cum_c", F.sum("rev_c").over(w_cum))
        .withColumn("tot_c", F.sum("rev_c").over(w_all))
        .withColumn("cum_w", F.col("cum_c").cast("decimal(38,0)"))
        .withColumn("tot_w", F.col("tot_c").cast("decimal(38,0)"))
        .withColumn(
            "abc",
            F.when(F.col("cum_w") * 100 <= F.col("tot_w") * 80, "A")
            .when(F.col("cum_w") * 100 <= F.col("tot_w") * 95, "B")
            .otherwise("C"),
        )
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("rev_c").cast("bigint").alias("rev_c"),
        (
            F.sum("rev_c").cast("double")
            / F.max("tot_c").cast("double")
        ).alias("rev_share"),
    )


register_many(
    {
        "q528_disorder_census": _q_disorder_census,
        "q530_abc_classes": _q_abc_classes,
    },
    {
        "q528_disorder_census": """
            WITH base AS (
              SELECT user_id, event_id,
                epoch_us(ts) AS us
              FROM events
            ),
            scored AS (
              SELECT user_id, event_id, us,
                max(us) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS wm
              FROM base
            ),
            late AS (
              SELECT user_id,
                CASE WHEN wm IS NOT NULL AND us < wm
                  THEN wm - us ELSE CAST(0 AS BIGINT) END AS late_us
              FROM scored
            )
            SELECT user_id,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
              CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS late_frac,
              CAST(max(late_us) AS BIGINT) AS max_late_us,
              CAST(percentile_disc(0.95)
                WITHIN GROUP (ORDER BY CASE WHEN late_us > 0
                  THEN late_us END) AS BIGINT)
                AS p95_late_us
            FROM late GROUP BY user_id
        """,
        "q530_abc_classes": """
            WITH per_part AS (
              SELECT l_partkey AS partkey,
                CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * 100 AS BIGINT)) AS BIGINT) AS rev_c
              FROM lineitem GROUP BY 1
            ),
            classed AS (
              SELECT partkey, rev_c,
                sum(rev_c) OVER (ORDER BY rev_c DESC, partkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum_c,
                sum(rev_c) OVER () AS tot_c
              FROM per_part
            ),
            abc AS (
              SELECT rev_c, tot_c,
                CASE WHEN CAST(cum_c AS HUGEINT) * 100
                       <= CAST(tot_c AS HUGEINT) * 80 THEN 'A'
                     WHEN CAST(cum_c AS HUGEINT) * 100
                       <= CAST(tot_c AS HUGEINT) * 95 THEN 'B'
                     ELSE 'C' END AS abc
              FROM classed
            )
            SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
              CAST(sum(rev_c) AS BIGINT) AS rev_c,
              CAST(sum(rev_c) AS DOUBLE) / CAST(max(tot_c) AS DOUBLE)
                AS rev_share
            FROM abc GROUP BY abc
        """,
    },
)
