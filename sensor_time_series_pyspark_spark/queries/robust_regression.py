"""Robust regression, hash-gated (round 6): Huber IRLS and Theil-Sen —
the two standard robust-slope estimators, next to the family's RANSAC
(q449), Deming (q506) and isotonic (q363). Both run on the per-user
daily reduction (the resample-first contract): the fact table is
scanned once, and everything sequential happens on bounded day arrays
or day-pair frames.

Portability: index moments are closed-form integers; y-moments and
weighted moments are independent ordered folds (each moment is its own
left-fold chain, mirrored textually by DuckDB's ordered list_reduce);
the Huber cutoff and damping constants are E-notation literals; the
Theil-Sen median is a percentile_disc TABLE VALUE over identically-
computed double slopes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.queries.common import _davg
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _series(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        _davg(F.col("value")).alias("v")
    )
    return (
        daily.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("day", "v"))),
                lambda s: s["v"],
            ).alias("ys")
        )
        .where(F.size("ys") >= 5)
        .withColumn("n", F.size("ys").cast("bigint"))
    )


def _fold(col: F.Column) -> F.Column:
    return F.aggregate(
        col, F.lit(0.0).cast("double"), lambda a, x: a + x
    )


def _idx(n: F.Column) -> F.Column:
    return F.sequence(F.lit(0).cast("bigint"), n - 1)


def _q_huber_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Huber-loss trend per user (c = 1.345, the 95%-efficiency
    default), 2 IRLS steps from the OLS start: weights
    w = min(1, c/|r|) off the previous fit's residuals, each weighted
    moment (sw, swt, swy, swtt, swty) an independent index-ordered
    fold, each parameter one closed-form division. Unrolled IRLS keeps
    the plan static — the same contract as the unrolled power/Lloyd
    iterations. Output per user: n, ols_slope, huber_slope,
    huber_intercept."""
    s = _series(spark, sf)
    nD = F.col("n").cast("double")
    st = F.expr("(n * (n - 1)) div 2").cast("double")
    stt = F.expr("((n - 1) * n * (2 * n - 1)) div 6").cast("double")
    sy = _fold(F.col("ys"))
    sty = _fold(
        F.zip_with(
            F.col("ys"), _idx(F.col("n")), lambda y, i: i.cast("double") * y
        )
    )
    base = s.select(
        "user_id",
        "ys",
        "n",
        ((nD * sty - st * sy) / (nD * stt - st * st)).alias("b0"),
        sy.alias("sy"),
        st.alias("st"),
    ).withColumn("a0", (F.col("sy") - F.col("b0") * F.col("st")) / nD)

    c = F.lit(1.345)

    def irls(df: DataFrame, a: str, b: str, a_out: str, b_out: str) -> DataFrame:
        # w_i = min(1, c/|r_i|), r_i = y_i - (a + b*i); |r|=0 -> w=1
        def w(y, i):
            r = y - (F.col(a) + F.col(b) * i.cast("double"))
            return F.when(F.abs(r) <= c, F.lit(1.0)).otherwise(c / F.abs(r))

        ws = F.zip_with(F.col("ys"), _idx(F.col("n")), w)
        sw = _fold(ws)
        swt = _fold(
            F.zip_with(ws, _idx(F.col("n")), lambda wv, i: wv * i.cast("double"))
        )
        swy = _fold(F.zip_with(ws, F.col("ys"), lambda wv, y: wv * y))
        swtt = _fold(
            F.zip_with(
                ws,
                _idx(F.col("n")),
                lambda wv, i: wv * (i.cast("double") * i.cast("double")),
            )
        )
        swty = _fold(
            F.zip_with(
                F.zip_with(ws, F.col("ys"), lambda wv, y: wv * y),
                _idx(F.col("n")),
                lambda wy, i: wy * i.cast("double"),
            )
        )
        out = df.withColumn(
            b_out, (sw * swty - swt * swy) / (sw * swtt - swt * swt)
        )
        return out.withColumn(
            a_out, (swy - F.col(b_out) * swt) / sw
        )

    it1 = irls(base, "a0", "b0", "a1", "b1")
    it2 = irls(it1, "a1", "b1", "a2", "b2")
    return it2.select(
        "user_id",
        "n",
        F.col("b0").alias("ols_slope"),
        F.col("b2").alias("huber_slope"),
        F.col("a2").alias("huber_intercept"),
    )


def _q_theil_sen(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen slope per user: the (lower) median of all pairwise
    slopes (y_j - y_i)/(j - i) over the day-index pairs — 29.3%
    breakdown point, the robust complement to q524's soft-weighted
    Huber. The pair frame is an equi-join on user_id with rn_i < rn_j:
    bounded by days² per user (the q451/q468 calendar-pair contract),
    never by event rows. Median = percentile_disc(0.5), an ACTUAL
    slope value — engine-exact selection over identically-computed
    doubles."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        _davg(F.col("value")).alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    wp = Window.partitionBy("user_id")
    idx = daily.select(
        "user_id",
        "v",
        (F.row_number().over(w) - 1).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).where(F.col("n") >= 5)
    a = idx.select(
        "user_id", F.col("v").alias("vi"), F.col("rn").alias("i")
    )
    b = idx.select(
        "user_id", F.col("v").alias("vj"), F.col("rn").alias("j")
    )
    pairs = a.join(b, "user_id").where(F.col("i") < F.col("j"))
    slopes = pairs.select(
        "user_id",
        (
            (F.col("vj") - F.col("vi"))
            / (F.col("j") - F.col("i")).cast("double")
        ).alias("slope"),
    )
    return slopes.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)").alias(
            "ts_slope"
        ),
    )


register_many(
    {
        "q524_huber_slope": _q_huber_slope,
        "q525_theil_sen": _q_theil_sen,
    },
    {
        "q524_huber_slope": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  / count(value) AS v
              FROM events GROUP BY 1, 2
            ),
            series AS (
              SELECT user_id, list(v ORDER BY day) AS ys,
                CAST(len(list(v ORDER BY day)) AS BIGINT) AS n
              FROM daily GROUP BY user_id
            ),
            keep AS (SELECT * FROM series WHERE n >= 5),
            ols AS (
              SELECT user_id, ys, n,
                (CAST(n AS DOUBLE) * list_reduce(
                    list_transform(ys, (y, i)
                      -> CAST(i - 1 AS DOUBLE) * y), (a, b) -> a + b)
                 - CAST((n * (n - 1)) // 2 AS DOUBLE)
                   * list_reduce(ys, (a, b) -> a + b))
                / (CAST(n AS DOUBLE)
                   * CAST(((n - 1) * n * (2 * n - 1)) // 6 AS DOUBLE)
                   - CAST((n * (n - 1)) // 2 AS DOUBLE)
                     * CAST((n * (n - 1)) // 2 AS DOUBLE)) AS b0,
                list_reduce(ys, (a, b) -> a + b) AS sy,
                CAST((n * (n - 1)) // 2 AS DOUBLE) AS st
              FROM keep
            ),
            it0 AS (
              SELECT user_id, ys, n, b0, sy, st,
                (sy - b0 * st) / CAST(n AS DOUBLE) AS a0
              FROM ols
            ),
            w1 AS (
              SELECT user_id, ys, n, b0, a0,
                list_transform(ys, (y, i) -> CASE
                  WHEN abs(y - (a0 + b0 * CAST(i - 1 AS DOUBLE)))
                    <= 1.345e0 THEN 1.0e0
                  ELSE 1.345e0
                    / abs(y - (a0 + b0 * CAST(i - 1 AS DOUBLE)))
                END) AS ws
              FROM it0
            ),
            m1 AS (
              SELECT user_id, ys, n, b0, a0,
                list_reduce(ws, (a, b) -> a + b) AS sw,
                list_reduce(list_transform(ws, (w, i)
                  -> w * CAST(i - 1 AS DOUBLE)), (a, b) -> a + b)
                  AS swt,
                list_reduce(list_transform(list_zip(ws, ys),
                  s -> s[1] * s[2]), (a, b) -> a + b) AS swy,
                list_reduce(list_transform(ws, (w, i)
                  -> w * (CAST(i - 1 AS DOUBLE)
                          * CAST(i - 1 AS DOUBLE))), (a, b) -> a + b)
                  AS swtt,
                list_reduce(list_transform(
                  list_transform(list_zip(ws, ys), s -> s[1] * s[2]),
                  (wy, i) -> wy * CAST(i - 1 AS DOUBLE)),
                  (a, b) -> a + b) AS swty
              FROM w1
            ),
            it1 AS (
              SELECT user_id, ys, n, b0,
                (sw * swty - swt * swy) / (sw * swtt - swt * swt)
                  AS b1,
                (swy - ((sw * swty - swt * swy)
                        / (sw * swtt - swt * swt)) * swt) / sw AS a1
              FROM m1
            ),
            w2 AS (
              SELECT user_id, ys, n, b0, a1, b1,
                list_transform(ys, (y, i) -> CASE
                  WHEN abs(y - (a1 + b1 * CAST(i - 1 AS DOUBLE)))
                    <= 1.345e0 THEN 1.0e0
                  ELSE 1.345e0
                    / abs(y - (a1 + b1 * CAST(i - 1 AS DOUBLE)))
                END) AS ws
              FROM it1
            ),
            m2 AS (
              SELECT user_id, n, b0,
                list_reduce(ws, (a, b) -> a + b) AS sw,
                list_reduce(list_transform(ws, (w, i)
                  -> w * CAST(i - 1 AS DOUBLE)), (a, b) -> a + b)
                  AS swt,
                list_reduce(list_transform(list_zip(ws, ys),
                  s -> s[1] * s[2]), (a, b) -> a + b) AS swy,
                list_reduce(list_transform(ws, (w, i)
                  -> w * (CAST(i - 1 AS DOUBLE)
                          * CAST(i - 1 AS DOUBLE))), (a, b) -> a + b)
                  AS swtt,
                list_reduce(list_transform(
                  list_transform(list_zip(ws, ys), s -> s[1] * s[2]),
                  (wy, i) -> wy * CAST(i - 1 AS DOUBLE)),
                  (a, b) -> a + b) AS swty
              FROM w2
            )
            SELECT user_id, n, b0 AS ols_slope,
              (sw * swty - swt * swy) / (sw * swtt - swt * swt)
                AS huber_slope,
              (swy - ((sw * swty - swt * swy)
                      / (sw * swtt - swt * swt)) * swt) / sw
                AS huber_intercept
            FROM m2
        """,
        "q525_theil_sen": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  / count(value) AS v
              FROM events GROUP BY 1, 2
            ),
            idx AS (
              SELECT user_id, v,
                CAST(row_number() OVER (PARTITION BY user_id
                  ORDER BY day) - 1 AS BIGINT) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n
              FROM daily
            ),
            keep AS (SELECT * FROM idx WHERE n >= 5),
            slopes AS (
              SELECT a.user_id,
                (b.v - a.v) / CAST(b.rn - a.rn AS DOUBLE) AS slope
              FROM keep a JOIN keep b
                ON a.user_id = b.user_id AND a.rn < b.rn
            )
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
              percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)
                AS ts_slope
            FROM slopes GROUP BY user_id
        """,
    },
)
