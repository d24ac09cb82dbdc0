"""Agreement/reliability statistics (q504+). Conventions: exact
integer cents moments; fixed-order double chains mirrored textually
in the oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import tokens
from sensor_time_series_pyspark_spark.queries.common import EVENT_TYPES
from sensor_time_series_pyspark_spark.queries.complexity_evt import (
    _type_daily_cents,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_cronbach_alpha(spark: SparkSession, sf: str) -> DataFrame:
    """Cronbach's α treating the five event-type daily series as
    items and days as subjects: α = k/(k−1)·(1 − Σvarᵢ/var_total) —
    the internal-consistency question "do the five streams move as
    one scale". Every variance is the sample form from exact integer
    moments; Σvarᵢ is a FIXED five-term sum in literal EVENT_TYPES
    order over the one-row wide frame (never a row-order-dependent
    aggregate), and var_total comes from the per-day cross-type
    totals. One daily reduce, one wide aggregate, one row."""
    daily = _type_daily_cents(spark, sf)
    wide = daily.groupBy("day").agg(
        *[
            F.max(F.when(F.col("event_type") == t, F.col("v")))
            .alias(f"v_{t}")
            for t in EVENT_TYPES
        ]
    )
    tot = sum(F.coalesce(F.col(f"v_{t}"), F.lit(0)) for t in EVENT_TYPES)
    g = wide.select(
        *[F.coalesce(F.col(f"v_{t}"), F.lit(0)).alias(f"v_{t}") for t in EVENT_TYPES],
        tot.alias("vt"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        *[
            c
            for t in EVENT_TYPES
            for c in (
                F.sum(f"v_{t}").cast("bigint").alias(f"s_{t}"),
                F.sum(F.col(f"v_{t}") * F.col(f"v_{t}"))
                .cast("bigint")
                .alias(f"q_{t}"),
            )
        ],
        F.sum("vt").cast("bigint").alias("s_tot"),
        F.sum(F.col("vt") * F.col("vt")).cast("bigint").alias("q_tot"),
    )
    m = F.col("m").cast("double")

    def svar(s: str, q: str) -> F.Column:
        return (
            m * F.col(q).cast("double")
            - F.col(s).cast("double") * F.col(s).cast("double")
        ) / (m * (F.col("m") - 1).cast("double"))

    item_sum = svar("s_click", "q_click")
    for t in EVENT_TYPES[1:]:
        item_sum = item_sum + svar(f"s_{t}", f"q_{t}")
    vtot = svar("s_tot", "q_tot")
    k = float(len(EVENT_TYPES))
    return g.select(
        F.lit(5).alias("k_items"),
        F.col("m").alias("n_days"),
        item_sum.alias("sum_item_var"),
        vtot.alias("total_var"),
        (
            F.lit(k / (k - 1.0)) * (F.lit(1.0) - item_sum / vtot)
        ).alias("cronbach_alpha"),
    )


def _q_lin_ccc(spark: SparkSession, sf: str) -> DataFrame:
    """Lin's concordance correlation between the click and purchase
    daily series: CCC = 2·cov/(var_x+var_y+(μx−μy)²) — AGREEMENT,
    not just correlation (a perfectly correlated but biased pair
    scores < 1), the method-comparison statistic q374's Bland-Altman
    plots and q75's Pearson each tell half of. The m² scale cancels,
    so CCC = 2(m·Sxy−SxSy) / ((m·Sxx−Sx²)+(m·Syy−Sy²)+(Sx−Sy)²) is
    a ratio of EXACT integers with ONE double division."""
    daily = _type_daily_cents(spark, sf)
    wide = daily.groupBy("day").agg(
        F.max(
            F.when(F.col("event_type") == "click", F.col("v"))
        ).alias("x"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("v"))
        ).alias("y"),
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    g = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = 2 * (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        + (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
        + (F.col("sx") - F.col("sy")) * (F.col("sx") - F.col("sy"))
    )
    return g.select(
        F.col("m").alias("n_days"),
        (num.cast("double") / den.cast("double")).alias("lin_ccc"),
    )


def _q_deming_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Deming (errors-in-variables, λ=1) regression of purchase on
    click daily totals: β = (Syy−Sxx+√((Syy−Sxx)²+4Sxy²))/(2Sxy) —
    the method-comparison slope that, unlike OLS (q75-family),
    doesn't attenuate when BOTH series carry noise. Centered moments
    are exact integers cast once to double (correctly rounded in
    both engines below 2^63), then one fixed sqrt chain; intercept
    in cents = (Sy − β·Sx)/m."""
    daily = _type_daily_cents(spark, sf)
    wide = daily.groupBy("day").agg(
        F.max(
            F.when(F.col("event_type") == "click", F.col("v"))
        ).alias("x"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("v"))
        ).alias("y"),
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    g = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    cxx = (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    cyy = (
        F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    ).cast("double")
    cxy = (
        F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    beta = (
        cyy - cxx + F.sqrt((cyy - cxx) * (cyy - cxx) + 4.0 * cxy * cxy)
    ) / (2.0 * cxy)
    return g.select(
        F.col("m").alias("n_days"),
        beta.alias("beta"),
        (
            (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
            / F.col("m").cast("double")
        ).alias("alpha_cents"),
    )


def _q_dedup_yield_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup yield curve: how many candidate pairs fire and how much
    of the corpus survives at EVERY Jaccard threshold 0.2..0.9 — the
    knob-setting sweep a curation team runs before committing to a
    near-dup cutoff (one threshold = one point on the
    recall/yield trade-off; this gives the whole curve from ONE pair
    frame). Pairs come from the shared-5-gram inverted-index
    equi-join (q467's shape, doc_a < doc_b, never a cross join);
    each threshold k/10 is the EXACT integer predicate
    10·|∩| ≥ k·|∪|; removed docs are the distinct doc_b per
    threshold (keep-lowest-id canonical); survival is one
    division."""
    docs = read_table(spark, sf, "documents")
    n_docs = docs.count()
    toks = tokens("text")
    sets = (
        docs.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(toks) >= 5,
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), F.size(toks) - 4),
                            lambda i: F.concat_ws(
                                " ", F.slice(toks, i, F.lit(5))
                            ),
                        )
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("shingle"),
        )
    )
    sizes = sets.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    a = sets.alias("a")
    b = sets.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    pairs = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias(
                "n_union"
            ),
        )
    )
    aggs = []
    for k in range(2, 10):
        hit = 10 * F.col("n_inter") >= k * F.col("n_union")
        aggs.append(
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("bigint")
            .alias(f"np_{k}")
        )
        aggs.append(
            F.countDistinct(F.when(hit, F.col("doc_b")))
            .cast("bigint")
            .alias(f"nd_{k}")
        )
    wide = pairs.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.col(f"np_{k}").alias("n_pairs"),
                F.col(f"nd_{k}").alias("n_removed"),
            )
            for k in range(2, 10)
        ]
    )
    ex = wide.select(F.explode(structs).alias("s")).select("s.*")
    return ex.select(
        (F.col("k").cast("double") / 10.0).alias("threshold"),
        "n_pairs",
        "n_removed",
        (
            (F.lit(n_docs) - F.col("n_removed")).cast("double")
            / F.lit(float(n_docs))
        ).alias("survival_frac"),
    )


def _dedup_yield_sql() -> str:
    aggs = []
    for k in range(2, 10):
        hit = f"10 * n_inter >= {k} * n_union"
        aggs.append(
            f"CAST(sum(CASE WHEN {hit} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS np_{k}"
        )
        aggs.append(
            f"CAST(count(DISTINCT CASE WHEN {hit} THEN doc_b END)"
            f" AS BIGINT) AS nd_{k}"
        )
    structs = ",\n                ".join(
        "{'k': %d, 'n_pairs': np_%d, 'n_removed': nd_%d}" % (k, k, k)
        for k in range(2, 10)
    )
    return rf"""
        WITH tk0 AS (
          SELECT doc_id,
            list_filter(string_split_regex(trim(text), '\s+'),
              x -> x <> '') AS tk
          FROM documents
        ),
        sets AS (
          SELECT doc_id,
            unnest(CASE WHEN len(tk) >= 5 THEN
              list_distinct(list_transform(range(1, len(tk) - 3),
                i -> array_to_string(list_slice(tk, i, i + 4), ' ')))
            ELSE [] END) AS shingle
          FROM tk0
        ),
        sizes AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM sets GROUP BY 1
        ),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(count(*) AS BIGINT) AS n_inter
          FROM sets a
          JOIN sets b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT i.doc_a, i.doc_b, i.n_inter,
            sa.n_sh + sb.n_sh - i.n_inter AS n_union
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
        ),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
        ),
        wide AS (
          SELECT {', '.join(aggs)} FROM pairs
        ),
        ex AS (
          SELECT unnest([
                {structs}
          ]) AS s FROM wide
        )
        SELECT CAST(s.k AS DOUBLE) / 10.0 AS threshold,
          s.n_pairs, s.n_removed,
          CAST(t.n_docs - s.n_removed AS DOUBLE)
            / CAST(t.n_docs AS DOUBLE) AS survival_frac
        FROM ex, tot t
    """


register_many(
    {
        'q504_cronbach_alpha': _q_cronbach_alpha,
        'q505_lin_ccc': _q_lin_ccc,
        'q506_deming_slope': _q_deming_slope,
        'q507_dedup_yield_curve': _q_dedup_yield_curve,
    },
    {
        'q507_dedup_yield_curve': _dedup_yield_sql(),
        # Twin of _q_cronbach_alpha: literal-order five-term item
        # variance sum, identical sample-variance casts.
        'q504_cronbach_alpha': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            wide AS (
              SELECT day,
                COALESCE(max(CASE WHEN event_type = 'click'
                  THEN v END), 0) AS v_click,
                COALESCE(max(CASE WHEN event_type = 'view'
                  THEN v END), 0) AS v_view,
                COALESCE(max(CASE WHEN event_type = 'purchase'
                  THEN v END), 0) AS v_purchase,
                COALESCE(max(CASE WHEN event_type = 'signup'
                  THEN v END), 0) AS v_signup,
                COALESCE(max(CASE WHEN event_type = 'error'
                  THEN v END), 0) AS v_error
              FROM daily GROUP BY day
            ),
            g AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                CAST(sum(v_click) AS BIGINT) AS s_click,
                CAST(sum(v_click * v_click) AS BIGINT) AS q_click,
                CAST(sum(v_view) AS BIGINT) AS s_view,
                CAST(sum(v_view * v_view) AS BIGINT) AS q_view,
                CAST(sum(v_purchase) AS BIGINT) AS s_purchase,
                CAST(sum(v_purchase * v_purchase) AS BIGINT)
                  AS q_purchase,
                CAST(sum(v_signup) AS BIGINT) AS s_signup,
                CAST(sum(v_signup * v_signup) AS BIGINT) AS q_signup,
                CAST(sum(v_error) AS BIGINT) AS s_error,
                CAST(sum(v_error * v_error) AS BIGINT) AS q_error,
                CAST(sum(v_click + v_view + v_purchase + v_signup
                  + v_error) AS BIGINT) AS s_tot,
                CAST(sum((v_click + v_view + v_purchase + v_signup
                  + v_error) * (v_click + v_view + v_purchase
                  + v_signup + v_error)) AS BIGINT) AS q_tot
              FROM wide
            )
            SELECT CAST(5 AS INT) AS k_items, m AS n_days,
              ((CAST(m AS DOUBLE) * CAST(q_click AS DOUBLE)
                 - CAST(s_click AS DOUBLE) * CAST(s_click AS DOUBLE))
                / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))
               + (CAST(m AS DOUBLE) * CAST(q_view AS DOUBLE)
                 - CAST(s_view AS DOUBLE) * CAST(s_view AS DOUBLE))
                / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))
               + (CAST(m AS DOUBLE) * CAST(q_purchase AS DOUBLE)
                 - CAST(s_purchase AS DOUBLE)
                   * CAST(s_purchase AS DOUBLE))
                / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))
               + (CAST(m AS DOUBLE) * CAST(q_signup AS DOUBLE)
                 - CAST(s_signup AS DOUBLE) * CAST(s_signup AS DOUBLE))
                / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))
               + (CAST(m AS DOUBLE) * CAST(q_error AS DOUBLE)
                 - CAST(s_error AS DOUBLE) * CAST(s_error AS DOUBLE))
                / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE)))
                AS sum_item_var,
              (CAST(m AS DOUBLE) * CAST(q_tot AS DOUBLE)
                 - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE))
                / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))
                AS total_var,
              1.25 * (1.0 -
                ((CAST(m AS DOUBLE) * CAST(q_click AS DOUBLE)
                   - CAST(s_click AS DOUBLE) * CAST(s_click AS DOUBLE))
                  / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))
                 + (CAST(m AS DOUBLE) * CAST(q_view AS DOUBLE)
                   - CAST(s_view AS DOUBLE) * CAST(s_view AS DOUBLE))
                  / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))
                 + (CAST(m AS DOUBLE) * CAST(q_purchase AS DOUBLE)
                   - CAST(s_purchase AS DOUBLE)
                     * CAST(s_purchase AS DOUBLE))
                  / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))
                 + (CAST(m AS DOUBLE) * CAST(q_signup AS DOUBLE)
                   - CAST(s_signup AS DOUBLE)
                     * CAST(s_signup AS DOUBLE))
                  / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))
                 + (CAST(m AS DOUBLE) * CAST(q_error AS DOUBLE)
                   - CAST(s_error AS DOUBLE) * CAST(s_error AS DOUBLE))
                  / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE)))
                / ((CAST(m AS DOUBLE) * CAST(q_tot AS DOUBLE)
                   - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE))
                  / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE))))
                AS cronbach_alpha
            FROM g
        """,
        # Twin of _q_lin_ccc: the m²-cancelled exact-integer ratio.
        'q505_lin_ccc': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            wide AS (
              SELECT day,
                max(CASE WHEN event_type = 'click' THEN v END) AS x,
                max(CASE WHEN event_type = 'purchase' THEN v END) AS y
              FROM daily GROUP BY day
              HAVING x IS NOT NULL AND y IS NOT NULL
            ),
            g AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(y * y) AS BIGINT) AS syy,
                CAST(sum(x * y) AS BIGINT) AS sxy
              FROM wide
            )
            SELECT m AS n_days,
              CAST(2 * (m * sxy - sx * sy) AS DOUBLE)
                / CAST((m * sxx - sx * sx) + (m * syy - sy * sy)
                       + (sx - sy) * (sx - sy) AS DOUBLE) AS lin_ccc
            FROM g
        """,
        # Twin of _q_deming_slope: once-cast centered moments, one
        # fixed sqrt chain.
        'q506_deming_slope': """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            wide AS (
              SELECT day,
                max(CASE WHEN event_type = 'click' THEN v END) AS x,
                max(CASE WHEN event_type = 'purchase' THEN v END) AS y
              FROM daily GROUP BY day
              HAVING x IS NOT NULL AND y IS NOT NULL
            ),
            g AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(y * y) AS BIGINT) AS syy,
                CAST(sum(x * y) AS BIGINT) AS sxy
              FROM wide
            ),
            c AS (
              SELECT m, sx, sy,
                CAST(m * sxx - sx * sx AS DOUBLE) AS cxx,
                CAST(m * syy - sy * sy AS DOUBLE) AS cyy,
                CAST(m * sxy - sx * sy AS DOUBLE) AS cxy
              FROM g
            )
            SELECT m AS n_days,
              (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                + 4.0 * cxy * cxy)) / (2.0 * cxy) AS beta,
              (CAST(sy AS DOUBLE)
                - ((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                    + 4.0 * cxy * cxy)) / (2.0 * cxy))
                  * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE)
                AS alpha_cents
            FROM c
        """,
    },
)
