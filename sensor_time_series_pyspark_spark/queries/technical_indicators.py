"""Rolling technical indicators, hash-gated (round 6): Bollinger
bands, stochastic %K, and on-balance volume — completing the
historian/monitoring family next to Donchian channels (q241), SAX
(q122) and the control charts (X̄-R, Westgard, CUSUM).

Portability: the indicator series is the exact-decimal DAILY TOTAL
(a pure sum — decimal DIVISION is off-limits cross-engine: Spark and
DuckDB assign different result scales to decimal/decimal, so a
"decimal mean" rounds differently); every rolling moment is an exact
DECIMAL window sum (order-independent — safe where running DOUBLE
sums are not); each band value is a fixed op chain off those moments;
OBV is an integer sum."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _daily(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user daily TOTAL value as decimal(18,6) — exact, division-
    free (see module docstring), plus the day's event count as the
    OBV volume."""
    ev = read_table(spark, sf, "events")
    return ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("vdec"),
        F.count("value").alias("vn"),
    )


def _q_bollinger(spark: SparkSession, sf: str) -> DataFrame:
    """7-day Bollinger bands per user over the daily total: middle =
    rolling mean, bands = ±2 rolling population stddev, both derived
    from exact decimal window sums of v and v² (the cancellation-safe
    moment form: n·Σv² − (Σv)² stays decimal until ONE double
    conversion; sqrt is IEEE-exact). Emits rows once the window is
    full; flags band breakouts. One entity-partitioned window."""
    d = _daily(spark, sf).withColumn("v", F.col("vdec").cast("double"))
    w7 = (
        Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    )
    wn = Window.partitionBy("user_id").orderBy("day")
    base = d.select(
        "user_id",
        "day",
        "v",
        F.sum("vdec").over(w7).alias("s1"),
        F.sum((F.col("vdec") * F.col("vdec")).cast("decimal(38,12)"))
        .over(w7)
        .alias("s2"),
        F.count("vdec").over(w7).alias("m"),
        F.row_number().over(wn).alias("rn"),
    )
    mid = F.col("s1").cast("double") / F.col("m").cast("double")
    var = (
        F.col("m").cast("decimal(38,0)") * F.col("s2").cast("decimal(38,6)")
        - (F.col("s1") * F.col("s1")).cast("decimal(38,6)")
    ).cast("double") / (F.col("m") * F.col("m")).cast("double")
    sd = F.sqrt(var)
    full = base.where(F.col("rn") >= 7)
    out = full.select(
        "user_id",
        "day",
        "v",
        mid.alias("mid"),
        (mid - F.lit(2.0) * sd).alias("lo"),
        (mid + F.lit(2.0) * sd).alias("hi"),
    )
    return out.select(
        "user_id",
        "day",
        "v",
        "mid",
        "lo",
        "hi",
        F.when(F.col("v") > F.col("hi"), 1)
        .when(F.col("v") < F.col("lo"), -1)
        .otherwise(0)
        .cast("int")
        .alias("breakout"),
    )


def _q_stochastic_k(spark: SparkSession, sf: str) -> DataFrame:
    """Stochastic %K (7-day) per user: 100·(v − min7)/(max7 − min7)
    off the exact-decimal daily total — min/max are order-free, the
    ratio is a fixed op chain; flat windows (max == min) emit NULL.
    Emits once the window is full."""
    d = _daily(spark, sf)
    w7 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    wn = Window.partitionBy("user_id").orderBy("day")
    base = d.select(
        "user_id",
        "day",
        "vdec",
        F.min("vdec").over(w7).alias("lo7"),
        F.max("vdec").over(w7).alias("hi7"),
        F.row_number().over(wn).alias("rn"),
    ).where(F.col("rn") >= 7)
    k = F.when(
        F.col("hi7") > F.col("lo7"),
        F.lit(100.0)
        * (F.col("vdec") - F.col("lo7")).cast("double")
        / (F.col("hi7") - F.col("lo7")).cast("double"),
    )
    return base.select(
        "user_id",
        "day",
        F.col("vdec").cast("double").alias("v"),
        k.alias("pct_k"),
    )


def _q_obv(spark: SparkSession, sf: str) -> DataFrame:
    """On-balance volume per user: daily event count (volume) added
    when the exact-decimal daily total rises day-over-day, subtracted
    when it falls — an INTEGER cumulative sum, order-free and
    engine-exact. Output: final OBV, day count, and up/down-day
    census per user."""
    d = _daily(spark, sf)
    w = Window.partitionBy("user_id").orderBy("day")
    base = d.select(
        "user_id",
        "day",
        "vn",
        (F.col("vdec") - F.lag("vdec").over(w)).alias("dv"),
    )
    signed = base.select(
        "user_id",
        F.when(F.col("dv") > 0, F.col("vn"))
        .when(F.col("dv") < 0, -F.col("vn"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("flow"),
        F.when(F.col("dv") > 0, 1).otherwise(0).alias("up"),
        F.when(F.col("dv") < 0, 1).otherwise(0).alias("down"),
    )
    return signed.groupBy("user_id").agg(
        F.sum("flow").cast("bigint").alias("obv"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("up").cast("bigint").alias("n_up"),
        F.sum("down").cast("bigint").alias("n_down"),
    )




def _q_rsi_wilder(spark: SparkSession, sf: str) -> DataFrame:
    """Wilder RSI(7) per user over the daily-total series: average
    gain/loss by Wilder smoothing (avg' = (6*avg + x)/7 — a fixed op
    chain per step), folded in-plan over the day-ordered diff array
    (q510 struct-fold template); RSI = 100 - 100/(1 + RS) computed
    once at the end. Seeds are the plain means of the first 7 diffs
    (ordered folds). Output per user: final avg gain/loss, RS, RSI.
    Recursive-CTE oracle replays the identical op sequence."""
    d = _daily(spark, sf)
    series = (
        d.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("day", "vdec"))),
                lambda s: s["vdec"].cast("double"),
            ).alias("xs")
        )
        .where(F.size("xs") >= 9)
        .withColumn("n", F.size("xs").cast("bigint"))
    )
    diffs = F.zip_with(
        F.slice(F.col("xs"), 2, F.size("xs") - 1),
        F.slice(F.col("xs"), 1, F.size("xs") - 1),
        lambda b, a: b - a,
    )
    gains = F.transform(
        diffs, lambda x: F.when(x > 0, x).otherwise(F.lit(0.0))
    )
    losses = F.transform(
        diffs, lambda x: F.when(x < 0, -x).otherwise(F.lit(0.0))
    )

    def _mean7(col):
        return (
            F.aggregate(
                F.slice(col, 1, 7),
                F.lit(0.0).cast("double"),
                lambda a, x: a + x,
            )
            / F.lit(7.0)
        )

    def _wilder(col):
        return F.aggregate(
            F.slice(col, 8, F.size(col) - 7),
            _mean7(col),
            lambda acc, x: (F.lit(6.0) * acc + x) / F.lit(7.0),
        )

    base = series.select(
        "user_id",
        "n",
        _wilder(gains).alias("avg_gain"),
        _wilder(losses).alias("avg_loss"),
    )
    rs = F.col("avg_gain") / F.col("avg_loss")
    rsi = F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + rs)
    return base.select(
        "user_id",
        "n",
        "avg_gain",
        "avg_loss",
        F.when(F.col("avg_loss") > 0, rs).alias("rs"),
        F.when(F.col("avg_loss") > 0, rsi).otherwise(F.lit(100.0)).alias(
            "rsi7"
        ),
    )


def _q_max_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative daily-total curve —
    entirely in exact decimals: running sum (order-fixed by the day
    window, decimal so segment-tree evaluation cannot drift), running
    max, drawdown = runmax - cum, and the max drawdown with its day.
    The equity-curve risk summary next to CVaR (q*cvar) and the
    volatility filters. Output per user: peak, max_dd, dd_day (first
    day attaining the max, deterministic tie-break)."""
    d = _daily(spark, sf)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = d.select(
        "user_id",
        "day",
        F.sum("vdec").over(w).alias("cum"),
    ).select(
        "user_id",
        "day",
        "cum",
        F.max("cum").over(w).alias("runmax"),
    )
    dd = curve.withColumn("dd", F.col("runmax") - F.col("cum"))
    w_pick = Window.partitionBy("user_id").orderBy(
        F.col("dd").desc(), F.col("day").asc()
    )
    return (
        dd.withColumn("r", F.row_number().over(w_pick))
        .where(F.col("r") == 1)
        .select(
            "user_id",
            F.col("runmax").cast("double").alias("peak"),
            F.col("dd").cast("double").alias("max_dd"),
            F.col("day").alias("dd_day"),
        )
    )


register_many(
    {
        "q533_bollinger": _q_bollinger,
        "q534_stochastic_k": _q_stochastic_k,
        "q535_obv": _q_obv,
        "q536_rsi_wilder": _q_rsi_wilder,
        "q537_max_drawdown": _q_max_drawdown,
    },
    {

        "q536_rsi_wilder": """
            WITH RECURSIVE daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS vdec
              FROM events GROUP BY 1, 2
            ),
            series AS (
              SELECT user_id,
                list(CAST(vdec AS DOUBLE) ORDER BY day) AS xs,
                CAST(len(list(vdec ORDER BY day)) AS BIGINT) AS n
              FROM daily GROUP BY user_id
            ),
            keep AS (SELECT * FROM series WHERE n >= 9),
            dz AS (
              SELECT user_id, n,
                list_transform(list_zip(xs[2:], xs[1:len(xs)-1]),
                  s -> s[1] - s[2]) AS df
              FROM keep
            ),
            gl AS (
              SELECT user_id, n,
                list_transform(df, x -> CASE WHEN x > 0 THEN x
                  ELSE 0.0e0 END) AS gains,
                list_transform(df, x -> CASE WHEN x < 0 THEN -x
                  ELSE 0.0e0 END) AS losses,
                CAST(len(df) AS BIGINT) AS nd
              FROM dz
            ),
            seed AS (
              SELECT user_id, n, gains, losses, nd,
                list_reduce(gains[1:7], (a, b) -> a + b) / 7.0e0
                  AS g0,
                list_reduce(losses[1:7], (a, b) -> a + b) / 7.0e0
                  AS l0
              FROM gl
            ),
            rec AS (
              SELECT user_id, n, gains, losses, nd,
                CAST(7 AS BIGINT) AS i, g0 AS ag, l0 AS al
              FROM seed
              UNION ALL
              SELECT r.user_id, r.n, r.gains, r.losses, r.nd, r.i + 1,
                (6.0e0 * r.ag + r.gains[CAST(r.i AS INT) + 1]) / 7.0e0,
                (6.0e0 * r.al + r.losses[CAST(r.i AS INT) + 1]) / 7.0e0
              FROM rec r WHERE r.i < r.nd
            ),
            fin AS (
              SELECT user_id, n, ag AS avg_gain, al AS avg_loss
              FROM rec WHERE i = nd
            )
            SELECT user_id, n, avg_gain, avg_loss,
              CASE WHEN avg_loss > 0 THEN avg_gain / avg_loss END
                AS rs,
              CASE WHEN avg_loss > 0 THEN
                1.0e2 - 1.0e2 / (1.0e0 + avg_gain / avg_loss)
              ELSE 1.0e2 END AS rsi7
            FROM fin
        """,
        "q537_max_drawdown": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS vdec
              FROM events GROUP BY 1, 2
            ),
            curve AS (
              SELECT user_id, day,
                sum(vdec) OVER (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum
              FROM daily
            ),
            dd AS (
              SELECT user_id, day, cum,
                max(cum) OVER (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS runmax
              FROM curve
            )
            SELECT user_id, CAST(runmax AS DOUBLE) AS peak,
              CAST(runmax - cum AS DOUBLE) AS max_dd, day AS dd_day
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY runmax - cum DESC, day ASC) AS r
              FROM dd
            ) WHERE r = 1
        """,
        "q533_bollinger": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS vdec,
                CAST(count(value) AS BIGINT) AS vn
              FROM events GROUP BY 1, 2
            ),
            d AS (
              SELECT user_id, day, vdec,
                CAST(vdec AS DOUBLE) AS v
              FROM daily
            ),
            base AS (
              SELECT user_id, day, v,
                sum(vdec) OVER w7 AS s1,
                sum(CAST(vdec * vdec AS DECIMAL(38,12))) OVER w7 AS s2,
                CAST(count(vdec) OVER w7 AS BIGINT) AS m,
                row_number() OVER wn AS rn
              FROM d
              WINDOW w7 AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
              wn AS (PARTITION BY user_id ORDER BY day)
            ),
            full7 AS (SELECT * FROM base WHERE rn >= 7),
            bands AS (
              SELECT user_id, day, v,
                CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE) AS mid,
                sqrt(CAST(CAST(m AS DECIMAL(38,0))
                    * CAST(s2 AS DECIMAL(38,6))
                    - CAST(s1 * s1 AS DECIMAL(38,6)) AS DOUBLE)
                  / CAST(m * m AS DOUBLE)) AS sd
              FROM full7
            )
            SELECT user_id, day, v, mid,
              mid - 2.0e0 * sd AS lo,
              mid + 2.0e0 * sd AS hi,
              CAST(CASE WHEN v > mid + 2.0e0 * sd THEN 1
                        WHEN v < mid - 2.0e0 * sd THEN -1
                        ELSE 0 END AS INT) AS breakout
            FROM bands
        """,
        "q534_stochastic_k": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS vdec,
                CAST(count(value) AS BIGINT) AS vn
              FROM events GROUP BY 1, 2
            ),
            base AS (
              SELECT user_id, day, vdec,
                min(vdec) OVER w7 AS lo7,
                max(vdec) OVER w7 AS hi7,
                row_number() OVER wn AS rn
              FROM daily
              WINDOW w7 AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
              wn AS (PARTITION BY user_id ORDER BY day)
            )
            SELECT user_id, day, CAST(vdec AS DOUBLE) AS v,
              CASE WHEN hi7 > lo7 THEN
                1.0e2 * CAST(vdec - lo7 AS DOUBLE)
                  / CAST(hi7 - lo7 AS DOUBLE)
              END AS pct_k
            FROM base WHERE rn >= 7
        """,
        "q535_obv": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS vdec,
                CAST(count(value) AS BIGINT) AS vn
              FROM events GROUP BY 1, 2
            ),
            base AS (
              SELECT user_id, vn,
                vdec - lag(vdec) OVER (PARTITION BY user_id
                  ORDER BY day) AS dv
              FROM daily
            )
            SELECT user_id,
              CAST(sum(CASE WHEN dv > 0 THEN vn
                            WHEN dv < 0 THEN -vn
                            ELSE 0 END) AS BIGINT) AS obv,
              CAST(count(*) AS BIGINT) AS n_days,
              CAST(sum(CASE WHEN dv > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_up,
              CAST(sum(CASE WHEN dv < 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_down
            FROM base GROUP BY user_id
        """,
    },
)
