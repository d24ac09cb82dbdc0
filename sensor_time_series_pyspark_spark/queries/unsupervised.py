"""Unsupervised structure discovery, hash-gated (round 6): k-means
(Lloyd), plus the sequence/segment operators that complete the
clustering story. pyspark.ml's KMeans stays available for the MLlib
surface (operators/similarity.py IVF); these queries are the
differentially-verified twins built on the portable-determinism
recipes (md5-ordered seeds, 2^20 integer quantization, fixed-order
double folds — see operators/clustering.py and q47)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.operators.clustering import kmeans_lloyd
from sensor_time_series_pyspark_spark.queries.common import _davg
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_kmeans_lloyd(spark: SparkSession, sf: str) -> DataFrame:
    """2-iteration Lloyd k-means over the 64-dim embeddings, k=8,
    md5-seeded: per final cluster, member count and WSS (squared
    distances folded in vec_id order — the cross-engine-safe double
    reduction). The whole clustering is 2 broadcast-assign passes +
    2 k·dim-cell integer aggregates; the corpus never self-joins."""
    emb = read_table(spark, sf, "embeddings")
    assigned = kmeans_lloyd(emb, "vec_id", "embedding", k=8, n_iter=2)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("vec_id", "d2"))),
                    lambda s: s["d2"],
                ),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            ).alias("wss"),
        )
        .select("cluster", "n", "wss")
    )


def _q_markov_stationary(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov chain over each user's event-type sequence:
    global (from, to) transition counts -> row-normalized transition
    matrix (exact integer counts, one double division per cell) ->
    3 unrolled power-iteration steps from the uniform vector, incoming
    mass folded in from-state order (the q445 pagerank fold recipe).
    The matrix frame is |event_types|^2 rows (constant, 25), so every
    join is an auto-broadcast on a constant-cardinality frame; the only
    data-sized pass is the lag window building transitions. Output per
    state: outgoing count, transition-probability mass sanity (row sum
    of P), and pi after 3 steps."""
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outdeg = trans.groupBy("src").agg(F.sum("n").alias("n_out"))
    p = trans.join(outdeg, "src").select(
        "src",
        "dst",
        "n",
        (F.col("n").cast("double") / F.col("n_out").cast("double")).alias("p"),
    )
    n_states = F.count(F.lit(1)).over(Window.partitionBy())
    pi = outdeg.select(
        F.col("src").alias("state"),
        (F.lit(1.0) / n_states.cast("double")).alias("pi"),
    )

    def step(pi_df: DataFrame) -> DataFrame:
        return (
            p.join(pi_df, p["src"] == pi_df["state"])
            .groupBy("dst")
            .agg(
                F.aggregate(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct("src", (F.col("pi") * F.col("p")).alias("t"))
                            )
                        ),
                        lambda s: s["t"],
                    ),
                    F.lit(0.0).cast("double"),
                    lambda acc, v: acc + v,
                ).alias("pi")
            )
            .select(F.col("dst").alias("state"), "pi")
        )

    pi3 = step(step(step(pi)))
    rowsum = p.groupBy("src").agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dst", "p"))),
                lambda s: s["p"],
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        ).alias("p_rowsum")
    )
    return (
        outdeg.select(F.col("src").alias("state"), F.col("n_out").cast("bigint").alias("n_out"))
        .join(rowsum.withColumnRenamed("src", "state"), "state")
        .join(pi3, "state")
        .select("state", "n_out", "p_rowsum", F.col("pi").alias("pi3"))
    )


def _q_paa_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Piecewise Aggregate Approximation (Keogh): each user's
    day-ordered daily-mean series divided into 8 equal-width index
    segments, one exact-decimal mean per segment — the dimensionality
    reduction upstream of SAX (q122) and DTW (q124). Segment id is
    pure integer arithmetic floor(rn*8/n), so boundaries are identical
    in any engine; one window for rn, one aggregate. Output: user_id,
    seg, n_pts, seg_mean."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        _davg(F.col("value")).alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    wp = Window.partitionBy("user_id")
    idx = daily.select(
        "user_id",
        "v",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).where(F.col("n") >= 8)
    # pure integer division: Spark `div` == DuckDB `//` (a double
    # division + cast would round differently across engines)
    seg = idx.withColumn("seg", F.expr("(rn * 8) div n").cast("bigint"))
    return seg.groupBy("user_id", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pts"),
        (
            F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
            / F.count("v").cast("double")
        ).alias("seg_mean"),
    )




def _q_seq_pattern_support(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential-pattern support for the 2-event patterns A -> B
    (A strictly before B somewhere in the user's stream) — the
    PrefixSpan-style complement to q512's ADJACENT transitions: a
    pattern holds if the user's FIRST A precedes their LAST B. One
    reduce to (user, type, first_us, last_us) grain, then a per-user
    type-pair join (|types|^2 = 25 pairs per user, constant fan-out).
    All integer microsecond comparisons. Output per (a, b): users
    having both, users supporting A->B, support fraction."""
    ev = read_table(spark, sf, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    a = ut.select(
        "user_id",
        F.col("event_type").alias("a"),
        F.col("first_us").alias("fa"),
    )
    b = ut.select(
        "user_id",
        F.col("event_type").alias("b"),
        F.col("last_us").alias("lb"),
    )
    pairs = a.join(b, "user_id").where(F.col("a") != F.col("b"))
    return pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both"),
        F.sum(F.when(F.col("fa") < F.col("lb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_support"),
        (
            F.sum(F.when(F.col("fa") < F.col("lb"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("support_frac"),
    )


register_many(
    {
        "q509_kmeans_lloyd": _q_kmeans_lloyd,
        "q512_markov_stationary": _q_markov_stationary,
        "q516_paa_segments": _q_paa_segments,
        "q529_seq_pattern_support": _q_seq_pattern_support,
    },
    {
        # Mirrors operators/clustering.kmeans_lloyd stage by stage:
        # md5-ordered integer pivots; round-1 assignment on EXACT
        # integer d2 (order-free list_sum == Spark integer fold);
        # centroid update = integer component sums, one double division
        # per cell, list re-assembled in position order; round-2
        # assignment + WSS on doubles folded in index order
        # (list_reduce == 0.0-init zip_with fold).


        "q529_seq_pattern_support": """
            WITH ut AS (
              SELECT user_id, event_type,
                min(epoch_us(ts)) AS first_us,
                max(epoch_us(ts)) AS last_us
              FROM events GROUP BY 1, 2
            ),
            pairs AS (
              SELECT x.user_id, x.event_type AS a, y.event_type AS b,
                x.first_us AS fa, y.last_us AS lb
              FROM ut x JOIN ut y ON x.user_id = y.user_id
              WHERE x.event_type <> y.event_type
            )
            SELECT a, b, CAST(count(*) AS BIGINT) AS n_both,
              CAST(sum(CASE WHEN fa < lb THEN 1 ELSE 0 END) AS BIGINT)
                AS n_support,
              CAST(sum(CASE WHEN fa < lb THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS support_frac
            FROM pairs GROUP BY 1, 2
        """,
        # q512: q445's ordered-fold power-iteration recipe on the
        # event-type transition matrix.
        "q512_markov_stationary": """
            WITH t0 AS (
              SELECT event_type AS src,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS dst
              FROM events
            ),
            trans AS (
              SELECT src, dst, CAST(count(*) AS BIGINT) AS n
              FROM t0 WHERE dst IS NOT NULL GROUP BY 1, 2
            ),
            outdeg AS (
              SELECT src, CAST(sum(n) AS BIGINT) AS n_out
              FROM trans GROUP BY src
            ),
            p AS (
              SELECT t.src, t.dst, t.n,
                CAST(t.n AS DOUBLE) / CAST(o.n_out AS DOUBLE) AS p
              FROM trans t JOIN outdeg o ON t.src = o.src
            ),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM outdeg),
            pi0 AS (
              SELECT src AS state,
                1.0e0 / CAST((SELECT ns FROM nn) AS DOUBLE) AS pi
              FROM outdeg
            ),
            pi1 AS (
              SELECT p.dst AS state,
                list_reduce(list(r.pi * p.p ORDER BY p.src),
                  (a, b) -> a + b) AS pi
              FROM p JOIN pi0 r ON p.src = r.state GROUP BY p.dst
            ),
            pi2 AS (
              SELECT p.dst AS state,
                list_reduce(list(r.pi * p.p ORDER BY p.src),
                  (a, b) -> a + b) AS pi
              FROM p JOIN pi1 r ON p.src = r.state GROUP BY p.dst
            ),
            pi3 AS (
              SELECT p.dst AS state,
                list_reduce(list(r.pi * p.p ORDER BY p.src),
                  (a, b) -> a + b) AS pi
              FROM p JOIN pi2 r ON p.src = r.state GROUP BY p.dst
            ),
            rowsum AS (
              SELECT src AS state,
                list_reduce(list(p ORDER BY dst), (a, b) -> a + b)
                  AS p_rowsum
              FROM p GROUP BY src
            )
            SELECT o.src AS state, o.n_out, rs.p_rowsum, p3.pi AS pi3
            FROM outdeg o
            JOIN rowsum rs ON rs.state = o.src
            JOIN pi3 p3 ON p3.state = o.src
        """,
        "q516_paa_segments": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  / count(value) AS v
              FROM events GROUP BY 1, 2
            ),
            idx AS (
              SELECT user_id, v,
                row_number() OVER (PARTITION BY user_id ORDER BY day)
                  - 1 AS rn,
                count(*) OVER (PARTITION BY user_id) AS n
              FROM daily
            )
            SELECT user_id, CAST((rn * 8) // n AS BIGINT) AS seg,
              CAST(count(*) AS BIGINT) AS n_pts,
              CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE)
                / count(v) AS seg_mean
            FROM idx WHERE n >= 8 GROUP BY 1, 2
        """,
        "q509_kmeans_lloyd": """
            WITH v AS (
              SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576)
                            AS BIGINT)) AS qv
              FROM embeddings
            ),
            vd AS (
              SELECT vec_id, qv,
                list_transform(qv, x -> CAST(x AS DOUBLE)) AS xd
              FROM v
            ),
            piv AS (
              SELECT qv AS cq,
                CAST(row_number() OVER (ORDER BY h, pid) AS INT) AS cl
              FROM (
                SELECT qv, md5(CAST(vec_id AS VARCHAR)) AS h,
                  vec_id AS pid
                FROM v ORDER BY 2, 3 LIMIT 8
              )
            ),
            a1 AS (
              SELECT vec_id, qv, xd, cl FROM (
                SELECT vd.vec_id, vd.qv, vd.xd, p.cl,
                  row_number() OVER (PARTITION BY vd.vec_id ORDER BY
                    list_sum(list_transform(list_zip(vd.qv, p.cq),
                      s -> (s[1] - s[2]) * (s[1] - s[2]))), p.cl) AS r
                FROM vd, piv p
              ) WHERE r = 1
            ),
            ex AS (
              SELECT cl, u.p AS p, u.x AS x
              FROM a1,
                UNNEST(list_transform(qv, (x, i) -> {'p': i, 'x': x}))
                  AS t(u)
            ),
            sums AS (
              SELECT cl, p, sum(x) AS s, count(*) AS n
              FROM ex GROUP BY 1, 2
            ),
            cent AS (
              SELECT cl,
                list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY p)
                  AS mu
              FROM sums GROUP BY cl
            ),
            a2 AS (
              SELECT vec_id, cl, d2 FROM (
                SELECT vd.vec_id, c.cl,
                  list_reduce(list_transform(list_zip(vd.xd, c.mu),
                    s -> (s[1] - s[2]) * (s[1] - s[2])),
                    (a, b) -> a + b) AS d2,
                  row_number() OVER (PARTITION BY vd.vec_id ORDER BY
                    list_reduce(list_transform(list_zip(vd.xd, c.mu),
                      s -> (s[1] - s[2]) * (s[1] - s[2])),
                      (a, b) -> a + b), c.cl) AS r
                FROM vd, cent c
              ) WHERE r = 1
            )
            SELECT cl AS cluster, CAST(count(*) AS BIGINT) AS n,
              list_reduce(list(d2 ORDER BY vec_id), (a, b) -> a + b)
                AS wss
            FROM a2 GROUP BY cl
        """,
    },
)
