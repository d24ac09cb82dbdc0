"""Ranking-quality evaluation, hash-gated (round 6): nDCG@10 for a
temporal-holdout brand recommendation, and the Markov next-event
argmax accuracy — the two offline metrics a recommender/sequence team
reports next to q443's threshold metrics and q197's ALS output.

Portability: the log2 discount table is precomputed in Python and
inlined as the SAME 17-digit scientific literals in both engines
(the repo's libm discipline — no in-plan log anywhere); relevance
grades are exact integer counts; DCG folds run in rank order."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table

# 1/log2(i+1) for ranks 1..10 — identical literal text in both engines
_DISC = [
    "1.00000000000000000e+00",
    "6.30929753571457530e-01",
    "5.00000000000000000e-01",
    "4.30676558073393057e-01",
    "3.86852807234541629e-01",
    "3.56207187108022183e-01",
    "3.33333333333333315e-01",
    "3.15464876785728765e-01",
    "3.01029995663981198e-01",
    "2.89064826317887880e-01",
]
_SPLIT = "1998-01-01"  # lineitem ship dates span 1995..2001


def _cust_brand_counts(spark: SparkSession, sf: str) -> DataFrame:
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", F.to_date("l_shipdate").alias("day")
    )
    o = read_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    p = read_table(spark, sf, "part").select("p_partkey", "p_brand")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.count(F.when(F.col("day") < F.lit(_SPLIT).cast("date"), 1))
            .cast("bigint")
            .alias("train_n"),
            F.count(F.when(F.col("day") >= F.lit(_SPLIT).cast("date"), 1))
            .cast("bigint")
            .alias("rel"),
        )
    )


def _q_ndcg_at_10(spark: SparkSession, sf: str) -> DataFrame:
    """nDCG@10 of the popularity recommender: rank each customer's
    brands by pre-1998 purchase count (ties -> brand asc), score
    against post-1998 purchase counts as integer relevance grades.
    DCG folds rel_i * disc_i in rank order; IDCG re-ranks the SAME
    judged set by (rel desc, brand asc). Customers with an empty
    holdout (IDCG = 0) are excluded — the standard judged-only
    convention. One shuffle on (cust, brand), two rank windows per
    customer; the discount table is a 10-element literal array."""
    cb = _cust_brand_counts(spark, sf)
    disc = F.array(*[F.lit(float(d)) for d in _DISC])
    w_pred = Window.partitionBy("cust").orderBy(
        F.col("train_n").desc(), F.col("brand").asc()
    )
    w_ideal = Window.partitionBy("cust").orderBy(
        F.col("rel").desc(), F.col("brand").asc()
    )
    ranked = cb.select(
        "cust",
        "rel",
        "train_n",
        F.row_number().over(w_pred).alias("pr"),
        F.row_number().over(w_ideal).alias("ir"),
    )
    dcg = (
        ranked.where((F.col("pr") <= 10) & (F.col("train_n") > 0))
        .groupBy("cust")
        .agg(
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pr", "rel"))),
                    lambda s: s["rel"].cast("double")
                    * F.element_at(disc, s["pr"]),
                ),
                F.lit(0.0).cast("double"),
                lambda a, v: a + v,
            ).alias("dcg")
        )
    )
    idcg = (
        ranked.where(F.col("ir") <= 10)
        .groupBy("cust")
        .agg(
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("ir", "rel"))),
                    lambda s: s["rel"].cast("double")
                    * F.element_at(disc, s["ir"]),
                ),
                F.lit(0.0).cast("double"),
                lambda a, v: a + v,
            ).alias("idcg")
        )
    )
    return (
        dcg.join(idcg, "cust")
        .where(F.col("idcg") > 0)
        .select(
            F.col("cust").alias("custkey"),
            "dcg",
            "idcg",
            (F.col("dcg") / F.col("idcg")).alias("ndcg10"),
        )
    )


def _q_markov_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Next-event-type prediction accuracy of the q512 Markov chain's
    argmax rule: per source state, the predicted next type is the
    transition-count argmax (ties -> type asc); accuracy is the
    integer ratio of correctly-predicted transitions. All integer
    counts, one division per row — the confusion-free summary a
    sequence team tracks per release."""
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
    w_top = Window.partitionBy("src").orderBy(F.col("n").desc(), F.col("dst").asc())
    top = trans.withColumn("r", F.row_number().over(w_top))
    tot = trans.groupBy("src").agg(F.sum("n").alias("n_total"))
    pred = top.where(F.col("r") == 1).select(
        "src", F.col("dst").alias("pred_dst"), F.col("n").alias("n_correct")
    )
    return (
        pred.join(tot, "src")
        .select(
            "src",
            "pred_dst",
            F.col("n_correct").cast("bigint").alias("n_correct"),
            F.col("n_total").cast("bigint").alias("n_total"),
            (
                F.col("n_correct").cast("double")
                / F.col("n_total").cast("double")
            ).alias("accuracy"),
        )
    )




def _q_markov_brier(spark: SparkSession, sf: str) -> DataFrame:
    """Multiclass Brier score of the q512 Markov chain used as a
    probabilistic next-event predictor, per source state:
    (1/n_s) * sum_dst n_sd * (sum_t p_st^2 - 2*p_sd + 1) — the exact
    closed form of mean ||p - onehot(dst)||^2 over the observed
    transitions. Probabilities are one division per cell off integer
    counts; the two sums fold in dst order. The proper-scoring-rule
    companion to q520's argmax accuracy."""
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
    wp = Window.partitionBy("src")
    cells = trans.select(
        "src",
        "dst",
        "n",
        F.sum("n").over(wp).alias("n_total"),
    ).withColumn(
        "p", F.col("n").cast("double") / F.col("n_total").cast("double")
    )
    persrc = cells.groupBy("src").agg(
        F.max("n_total").cast("bigint").alias("n_total"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dst", (F.col("p") * F.col("p")).alias("pp")))),
                lambda s: s["pp"],
            ),
            F.lit(0.0).cast("double"),
            lambda a, v: a + v,
        ).alias("sq"),
        F.collect_list(F.struct("dst", "n", "p")).alias("_cells"),
    )
    contrib = F.aggregate(
        F.transform(
            F.sort_array(F.col("_cells")),
            lambda s: s["n"].cast("double")
            * (F.col("sq") - F.lit(2.0) * s["p"] + F.lit(1.0)),
        ),
        F.lit(0.0).cast("double"),
        lambda a, v: a + v,
    )
    return persrc.select(
        "src",
        "n_total",
        (contrib / F.col("n_total").cast("double")).alias("brier"),
    )


_DISC_SQL = "[" + ", ".join(_DISC) + "]"



_RBO_W = [
    "9.99999999999999778e-02",
    "8.99999999999999828e-02",
    "8.09999999999999887e-02",
    "7.28999999999999926e-02",
    "6.56099999999999878e-02",
    "5.90489999999999973e-02",
    "5.31440999999999927e-02",
    "4.78296899999999942e-02",
    "4.30467210000000031e-02",
    "3.87420488999999993e-02",
]  # (1-p)*p^(d-1), p=0.9 — identical literals in both engines


def _q_rbo_rankings(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010), truncated at
    depth 10 with p=0.9, between each customer's pre-1998 and
    post-1998 top-10 brand rankings — the top-weighted ranking-
    similarity companion to q518's nDCG (nDCG scores one ranking
    against grades; RBO compares two rankings to each other, e.g.
    release-over-release recommender drift). Prefix overlaps are
    integer array-intersection sizes; the weighted sum folds in depth
    order with precomputed (1-p)p^(d-1) literals. Customers need full
    top-10 lists on both sides (truncated-RBO convention)."""
    cb = _cust_brand_counts(spark, sf)
    w_pred = Window.partitionBy("cust").orderBy(
        F.col("train_n").desc(), F.col("brand").asc()
    )
    w_hold = Window.partitionBy("cust").orderBy(
        F.col("rel").desc(), F.col("brand").asc()
    )
    pred = (
        cb.where(F.col("train_n") > 0)
        .withColumn("pr", F.row_number().over(w_pred))
        .where(F.col("pr") <= 10)
        .groupBy("cust")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pr", "brand"))),
                lambda s: s["brand"],
            ).alias("a")
        )
        .where(F.size("a") == 10)
    )
    hold = (
        cb.where(F.col("rel") > 0)
        .withColumn("hr", F.row_number().over(w_hold))
        .where(F.col("hr") <= 10)
        .groupBy("cust")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("hr", "brand"))),
                lambda s: s["brand"],
            ).alias("b")
        )
        .where(F.size("b") == 10)
    )
    j = pred.join(hold, "cust")
    terms = []
    for d in range(1, 11):
        ov = F.size(
            F.array_intersect(
                F.slice(F.col("a"), 1, d), F.slice(F.col("b"), 1, d)
            )
        )
        terms.append(
            F.lit(float(_RBO_W[d - 1]))
            * (ov.cast("double") / F.lit(float(d)))
        )
    rbo = terms[0]
    for t in terms[1:]:
        rbo = rbo + t
    ov10 = F.size(F.array_intersect(F.col("a"), F.col("b")))
    return j.select(
        F.col("cust").alias("custkey"),
        ov10.cast("int").alias("overlap10"),
        rbo.alias("rbo10"),
    )


register_many(
    {
        "q518_ndcg_at_10": _q_ndcg_at_10,
        "q520_markov_accuracy": _q_markov_accuracy,
        "q527_markov_brier": _q_markov_brier,
        "q541_rbo_rankings": _q_rbo_rankings,
    },
    {
        "q518_ndcg_at_10": f"""
            WITH cb AS (
              SELECT o.o_custkey AS cust, p.p_brand AS brand,
                CAST(count(*) FILTER (
                  CAST(l.l_shipdate AS DATE) < DATE '{_SPLIT}')
                  AS BIGINT) AS train_n,
                CAST(count(*) FILTER (
                  CAST(l.l_shipdate AS DATE) >= DATE '{_SPLIT}')
                  AS BIGINT) AS rel
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN part p ON l.l_partkey = p.p_partkey
              GROUP BY 1, 2
            ),
            ranked AS (
              SELECT cust, rel, train_n,
                row_number() OVER (PARTITION BY cust
                  ORDER BY train_n DESC, brand ASC) AS pr,
                row_number() OVER (PARTITION BY cust
                  ORDER BY rel DESC, brand ASC) AS ir
              FROM cb
            ),
            dcg AS (
              SELECT cust,
                list_reduce(
                  list(CAST(rel AS DOUBLE) * ({_DISC_SQL})[pr]
                    ORDER BY pr),
                  (a, b) -> a + b) AS dcg
              FROM ranked WHERE pr <= 10 AND train_n > 0
              GROUP BY cust
            ),
            idcg AS (
              SELECT cust,
                list_reduce(
                  list(CAST(rel AS DOUBLE) * ({_DISC_SQL})[ir]
                    ORDER BY ir),
                  (a, b) -> a + b) AS idcg
              FROM ranked WHERE ir <= 10
              GROUP BY cust
            )
            SELECT d.cust AS custkey, d.dcg, i.idcg,
              d.dcg / i.idcg AS ndcg10
            FROM dcg d JOIN idcg i ON d.cust = i.cust
            WHERE i.idcg > 0
        """,

        "q527_markov_brier": """
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
            cells AS (
              SELECT src, dst, n,
                CAST(sum(n) OVER (PARTITION BY src) AS BIGINT)
                  AS n_total,
                CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE)
                  AS p
              FROM trans
            ),
            persrc AS (
              SELECT src, max(n_total) AS n_total,
                list_reduce(list(p * p ORDER BY dst),
                  (a, b) -> a + b) AS sq,
                list(CAST(n AS DOUBLE) ORDER BY dst) AS ns,
                list(p ORDER BY dst) AS ps
              FROM cells GROUP BY src
            )
            SELECT src, n_total,
              list_reduce(
                list_transform(list_zip(ns, ps),
                  s -> s[1] * (sq - 2.0e0 * s[2] + 1.0e0)),
                (a, b) -> a + b) / CAST(n_total AS DOUBLE) AS brier
            FROM persrc
        """,

        "q541_rbo_rankings": """
            WITH cb AS (
              SELECT o.o_custkey AS cust, p.p_brand AS brand,
                CAST(count(*) FILTER (
                  CAST(l.l_shipdate AS DATE) < DATE '1998-01-01')
                  AS BIGINT) AS train_n,
                CAST(count(*) FILTER (
                  CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01')
                  AS BIGINT) AS rel
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN part p ON l.l_partkey = p.p_partkey
              GROUP BY 1, 2
            ),
            pred AS (
              SELECT cust, list(brand ORDER BY pr) AS a FROM (
                SELECT cust, brand, row_number() OVER (
                  PARTITION BY cust
                  ORDER BY train_n DESC, brand ASC) AS pr
                FROM cb WHERE train_n > 0
              ) WHERE pr <= 10 GROUP BY cust
              HAVING count(*) = 10
            ),
            hold AS (
              SELECT cust, list(brand ORDER BY hr) AS b FROM (
                SELECT cust, brand, row_number() OVER (
                  PARTITION BY cust
                  ORDER BY rel DESC, brand ASC) AS hr
                FROM cb WHERE rel > 0
              ) WHERE hr <= 10 GROUP BY cust
              HAVING count(*) = 10
            )
            SELECT p.cust AS custkey,
              CAST(len(list_intersect(a, b)) AS INT) AS overlap10,
              ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[1]
                * (CAST(len(list_intersect(a[1:1], b[1:1]))
                   AS DOUBLE) / 1.0e0)\n              + ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[2]
                * (CAST(len(list_intersect(a[1:2], b[1:2]))
                   AS DOUBLE) / 2.0e0)\n              + ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[3]
                * (CAST(len(list_intersect(a[1:3], b[1:3]))
                   AS DOUBLE) / 3.0e0)\n              + ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[4]
                * (CAST(len(list_intersect(a[1:4], b[1:4]))
                   AS DOUBLE) / 4.0e0)\n              + ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[5]
                * (CAST(len(list_intersect(a[1:5], b[1:5]))
                   AS DOUBLE) / 5.0e0)\n              + ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[6]
                * (CAST(len(list_intersect(a[1:6], b[1:6]))
                   AS DOUBLE) / 6.0e0)\n              + ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[7]
                * (CAST(len(list_intersect(a[1:7], b[1:7]))
                   AS DOUBLE) / 7.0e0)\n              + ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[8]
                * (CAST(len(list_intersect(a[1:8], b[1:8]))
                   AS DOUBLE) / 8.0e0)\n              + ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[9]
                * (CAST(len(list_intersect(a[1:9], b[1:9]))
                   AS DOUBLE) / 9.0e0)\n              + ([9.99999999999999778e-02, 8.99999999999999828e-02,
                   8.09999999999999887e-02, 7.28999999999999926e-02,
                   6.56099999999999878e-02, 5.90489999999999973e-02,
                   5.31440999999999927e-02, 4.78296899999999942e-02,
                   4.30467210000000031e-02, 3.87420488999999993e-02])[10]
                * (CAST(len(list_intersect(a[1:10], b[1:10]))
                   AS DOUBLE) / 10.0e0) AS rbo10
            FROM pred p JOIN hold h ON p.cust = h.cust
        """,
        "q520_markov_accuracy": """
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
            top AS (
              SELECT src, dst, n,
                row_number() OVER (PARTITION BY src
                  ORDER BY n DESC, dst ASC) AS r
              FROM trans
            ),
            tot AS (
              SELECT src, CAST(sum(n) AS BIGINT) AS n_total
              FROM trans GROUP BY src
            )
            SELECT p.src, p.dst AS pred_dst,
              CAST(p.n AS BIGINT) AS n_correct, t.n_total,
              CAST(p.n AS DOUBLE) / CAST(t.n_total AS DOUBLE)
                AS accuracy
            FROM top p JOIN tot t ON p.src = t.src
            WHERE p.r = 1
        """,
    },
)
