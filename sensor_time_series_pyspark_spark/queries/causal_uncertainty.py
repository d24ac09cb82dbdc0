"""Causal-inference estimators and resampling-based uncertainty
(round 6): difference-in-differences and the delete-a-group jackknife.
Complements the experiments family (CUPED, MDE, sequential tests) with
the two workhorses an observational-data team reaches for when there
is no randomized assignment: a 2x2 DiD contrast and a grouped
jackknife standard error for a nonlinear (ratio) statistic.

Both are exact-decimal/integer inside the plan with the documented
one-division-per-cell epilogue, so they hash-gate like any relational
query. The jackknife is DELETE-A-GROUP (days), not delete-a-row: the
replicate frame is bounded by the date domain (|days|), never by event
rows, so the ordered double fold stays O(days) at any data scale —
the SCALING.md pair-estimator rule."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table

_CUTOFF = "2024-01-16"  # events span 2024-01-01 .. 2024-01-30


def _q_did_estimator(spark: SparkSession, sf: str) -> DataFrame:
    """2x2 difference-in-differences on event values: treatment =
    even user_id (the repo's deterministic synthetic assignment,
    matching the experiments family), post = ts on/after Jan 16 (the
    span midpoint). Four cell means as exact decimal sums with one
    double division each; DiD = (T_post - T_pre) - (C_post - C_pre).
    One aggregate over the fact table — no joins, no shuffle beyond
    the 4-cell rollup."""
    ev = read_table(spark, sf, "events")
    cells = ev.select(
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("treated"),
        F.when(F.to_date("ts") >= F.lit(_CUTOFF).cast("date"), 1)
        .otherwise(0)
        .alias("post"),
        F.col("value").cast("decimal(38,6)").alias("v"),
    )
    agg = cells.groupBy().agg(
        *[
            (
                F.sum(F.when((F.col("treated") == t) & (F.col("post") == p), F.col("v"))).cast("double")
                / F.count(F.when((F.col("treated") == t) & (F.col("post") == p), F.lit(1)))
            ).alias(f"m_{'t' if t else 'c'}_{'post' if p else 'pre'}")
            for t in (1, 0)
            for p in (1, 0)
        ],
        *[
            F.count(
                F.when((F.col("treated") == t) & (F.col("post") == p), F.lit(1))
            )
            .cast("bigint")
            .alias(f"n_{'t' if t else 'c'}_{'post' if p else 'pre'}")
            for t in (1, 0)
            for p in (1, 0)
        ],
    )
    return agg.withColumn(
        "did",
        (F.col("m_t_post") - F.col("m_t_pre"))
        - (F.col("m_c_post") - F.col("m_c_pre")),
    )


def _q_jackknife_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Delete-a-day jackknife SE for the ratio estimator R = total
    revenue / total quantity over lineitem. Per-day sums are exact
    integers (price in cents, quantity in integer units); each
    leave-one-day-out replicate R_d = (Sy - y_d)/(Sx - x_d) is one
    double division; the replicate mean and the jackknife variance
    (D-1)/D * sum((R_d - Rbar)^2) fold in day order — bounded by the
    ~2500-day ship-date domain, independent of row count. Output: one
    row with R, the replicate mean, jackknife SE, and D."""
    li = read_table(spark, sf, "lineitem")
    per_day = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
        ).alias("y"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("x"),
    )
    # totals via an unpartitioned window over the ~2500-row day frame
    # (bounded by the date domain, so no scalar crossJoin / BNLJ —
    # the plan-gate-clean way to attach grand totals to a tiny frame)
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    reps = per_day.select(
        "day",
        F.sum("y").over(w_all).alias("sy"),
        F.sum("x").over(w_all).alias("sx"),
        F.count(F.lit(1)).over(w_all).alias("d"),
        "y",
        "x",
    ).select(
        "day",
        (
            (F.col("sy") - F.col("y")).cast("double")
            / (F.col("sx") - F.col("x")).cast("double")
        ).alias("r_d"),
        "sy",
        "sx",
        "d",
    )
    out = reps.groupBy("sy", "sx", "d").agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("day", "r_d"))),
                lambda s: s["r_d"],
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        ).alias("r_sum"),
        F.collect_list(F.struct("day", "r_d")).alias("_rl"),
    )
    rbar = F.col("r_sum") / F.col("d").cast("double")
    ssq = F.aggregate(
        F.transform(F.sort_array(F.col("_rl")), lambda s: s["r_d"]),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + (v - rbar) * (v - rbar),
    )
    return out.select(
        (F.col("sy").cast("double") / F.col("sx").cast("double")).alias(
            "ratio"
        ),
        rbar.alias("r_jack_mean"),
        F.sqrt(
            (F.col("d") - 1).cast("double") / F.col("d").cast("double") * ssq
        ).alias("jack_se"),
        F.col("d").cast("bigint").alias("n_days"),
    )


register_many(
    {
        "q514_did_estimator": _q_did_estimator,
        "q515_jackknife_ratio": _q_jackknife_ratio,
    },
    {
        "q514_did_estimator": f"""
            WITH cells AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END
                  AS treated,
                CASE WHEN CAST(ts AS DATE) >= DATE '{_CUTOFF}'
                  THEN 1 ELSE 0 END AS post,
                CAST(value AS DECIMAL(38,6)) AS v
              FROM events
            ),
            agg AS (
              SELECT
                CAST(sum(v) FILTER (treated = 1 AND post = 1) AS DOUBLE)
                  / count(v) FILTER (treated = 1 AND post = 1)
                  AS m_t_post,
                CAST(sum(v) FILTER (treated = 1 AND post = 0) AS DOUBLE)
                  / count(v) FILTER (treated = 1 AND post = 0)
                  AS m_t_pre,
                CAST(sum(v) FILTER (treated = 0 AND post = 1) AS DOUBLE)
                  / count(v) FILTER (treated = 0 AND post = 1)
                  AS m_c_post,
                CAST(sum(v) FILTER (treated = 0 AND post = 0) AS DOUBLE)
                  / count(v) FILTER (treated = 0 AND post = 0)
                  AS m_c_pre,
                CAST(count(v) FILTER (treated = 1 AND post = 1)
                  AS BIGINT) AS n_t_post,
                CAST(count(v) FILTER (treated = 1 AND post = 0)
                  AS BIGINT) AS n_t_pre,
                CAST(count(v) FILTER (treated = 0 AND post = 1)
                  AS BIGINT) AS n_c_post,
                CAST(count(v) FILTER (treated = 0 AND post = 0)
                  AS BIGINT) AS n_c_pre
              FROM cells
            )
            SELECT m_t_post, m_t_pre, m_c_post, m_c_pre,
              n_t_post, n_t_pre, n_c_post, n_c_pre,
              (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did
            FROM agg
        """,
        "q515_jackknife_ratio": """
            WITH per_day AS (
              SELECT CAST(l_shipdate AS DATE) AS day,
                CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * 100 AS BIGINT)) AS BIGINT) AS y,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
              FROM lineitem GROUP BY 1
            ),
            tot AS (
              SELECT CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(count(*) AS BIGINT) AS d
              FROM per_day
            ),
            reps AS (
              SELECT p.day,
                CAST(t.sy - p.y AS DOUBLE) / CAST(t.sx - p.x AS DOUBLE)
                  AS r_d,
                t.sy, t.sx, t.d
              FROM per_day p, tot t
            ),
            fold AS (
              SELECT sy, sx, d,
                list_reduce(list(r_d ORDER BY day), (a, b) -> a + b)
                  AS r_sum,
                list(r_d ORDER BY day) AS rl
              FROM reps GROUP BY 1, 2, 3
            )
            SELECT CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS ratio,
              r_sum / CAST(d AS DOUBLE) AS r_jack_mean,
              sqrt(CAST(d - 1 AS DOUBLE) / CAST(d AS DOUBLE)
                * list_reduce(
                    list_transform(rl,
                      v -> (v - r_sum / CAST(d AS DOUBLE))
                         * (v - r_sum / CAST(d AS DOUBLE))),
                    (a, b) -> a + b)) AS jack_se,
              d AS n_days
            FROM fold
        """,
    },
)
