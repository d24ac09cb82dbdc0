"""Span-level corpus dedup (round 6): exact duplicated-substring
statistics in the style of Lee et al., "Deduplicating Training Data
Makes Language Models Better" (ACL 2022) — the n-gram-span complement
to the document-level dedup family (q17-q21): instead of asking
"which documents are near-duplicates", ask "what fraction of each
document's TOKENS sits inside an exact 8-gram shared with another
document" — the quantity you threshold to strip boilerplate and
repeated passages before LM training."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import tokens
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table

K = 8  # n-gram width (Lee et al. use 50 on BPE tokens; 8 suits the fixture)


def _q_dup_span_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Per document: token count, number of positions whose 8-gram
    occurs in at least one OTHER document, and the merged-interval
    token coverage of those duplicated 8-grams (overlapping [p, p+8)
    spans merged via the running-max-end islands pass, so a long
    copied passage counts its length once, not once per position).

    Plan shape: one explode to (doc, pos, gram) — n·(len−7) rows, the
    same inverted-index grain as q19; duplicated grams found with a
    count-distinct-docs aggregate on the gram key (shuffles by gram,
    partial-aggregated map-side); a semi-join back; and two
    entity-partitioned windows for the interval merge. Grams join on
    the raw string here (exact at any scale); a production run at
    100 TB would key on xxhash64(gram) like q19's index — 64-bit
    collisions are immaterial at the q19 analysis's rate.

    Output: doc_id, n_tok, n_dup_pos, covered, dup_frac.
    """
    docs = read_table(spark, sf, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    base = docs.select(
        "doc_id", "t", F.size("t").alias("n_tok")
    ).where(F.col("n_tok") >= K)
    grams = base.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tok") - (K - 1)),
                lambda i: F.struct(
                    i.alias("p"),
                    F.array_join(
                        F.slice(F.col("t"), i, K), " "
                    ).alias("g"),
                ),
            )
        ).alias("pg"),
    ).select("doc_id", "n_tok", F.col("pg.p").alias("p"), F.col("pg.g").alias("g"))

    dup_grams = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    dup_pos = grams.join(dup_grams, "g").select("doc_id", "n_tok", "p")

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        dup_pos.withColumn("e", F.col("p") + K)
        .withColumn("prev_max_e", F.max("e").over(w_prev))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_max_e").isNull()
                | (F.col("p") > F.col("prev_max_e")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                Window.partitionBy("doc_id")
                .orderBy("p")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    per_island = islands.groupBy("doc_id", "n_tok", "island").agg(
        (F.max("e") - F.min("p")).alias("ilen"),
        F.count(F.lit(1)).alias("npos"),
    )
    return (
        per_island.groupBy("doc_id")
        .agg(
            F.max("n_tok").cast("bigint").alias("n_tok"),
            F.sum("npos").cast("bigint").alias("n_dup_pos"),
            F.sum("ilen").cast("bigint").alias("covered"),
        )
        .withColumn(
            "dup_frac",
            F.col("covered").cast("double") / F.col("n_tok").cast("double"),
        )
    )




def _q_within_doc_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-document repetition (Rae et al. 2021 use
    duplicate n-gram fractions as a generation-degeneracy filter): per
    document, the fraction of 3-gram POSITIONS whose 3-gram occurs
    more than once in the SAME document, and the fraction of TOKENS
    covered by such repeated 3-grams (merged intervals, the q513
    islands pass). Cross-doc duplication is q513; this is the
    within-doc axis — the two thresholds LM-corpus filters apply
    together. Grain: one explode to (doc, pos, gram), one in-doc
    gram count, two windows; no joins across documents at all (the
    dup test groups by (doc, gram), so the shuffle key is document-
    local — perfectly partition-parallel at any corpus size)."""
    k = 3
    docs = read_table(spark, sf, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    base = docs.select(
        "doc_id", "t", F.size("t").alias("n_tok")
    ).where(F.col("n_tok") >= k)
    grams = base.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tok") - (k - 1)),
                lambda i: F.struct(
                    i.alias("p"),
                    F.array_join(F.slice(F.col("t"), i, k), " ").alias("g"),
                ),
            )
        ).alias("pg"),
    ).select("doc_id", "n_tok", F.col("pg.p").alias("p"), F.col("pg.g").alias("g"))
    w_gram = Window.partitionBy("doc_id", "g")
    rep_pos = (
        grams.withColumn("gn", F.count(F.lit(1)).over(w_gram))
        .where(F.col("gn") >= 2)
        .select("doc_id", "n_tok", "p")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        rep_pos.withColumn("e", F.col("p") + k)
        .withColumn("prev_max_e", F.max("e").over(w_prev))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_max_e").isNull()
                | (F.col("p") > F.col("prev_max_e")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                Window.partitionBy("doc_id")
                .orderBy("p")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    per_island = islands.groupBy("doc_id", "n_tok", "island").agg(
        (F.max("e") - F.min("p")).alias("ilen"),
        F.count(F.lit(1)).alias("npos"),
    )
    return (
        per_island.groupBy("doc_id")
        .agg(
            F.max("n_tok").cast("bigint").alias("n_tok"),
            F.sum("npos").cast("bigint").alias("n_rep_pos"),
            F.sum("ilen").cast("bigint").alias("covered"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_rep_pos",
            (
                F.col("n_rep_pos").cast("double")
                / (F.col("n_tok") - (k - 1)).cast("double")
            ).alias("rep_pos_frac"),
            (
                F.col("covered").cast("double") / F.col("n_tok").cast("double")
            ).alias("rep_token_frac"),
        )
    )


register_many(
    {
        "q513_dup_span_coverage": _q_dup_span_coverage,
        "q517_within_doc_repetition": _q_within_doc_repetition,
    },
    {

        "q517_within_doc_repetition": r"""
            WITH base AS (
              SELECT doc_id,
                list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '') AS t
              FROM documents
            ),
            sized AS (
              SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tok
              FROM base WHERE len(t) >= 3
            ),
            grams AS (
              SELECT doc_id, n_tok, u['p'] AS p, u['g'] AS g FROM (
                SELECT doc_id, n_tok,
                  UNNEST(list_transform(
                    generate_series(1, len(t) - 2),
                    i -> struct_pack(p := i,
                      g := array_to_string(t[i:i+2], ' '))
                  )) AS u
                FROM sized
              )
            ),
            rep_pos AS (
              SELECT doc_id, n_tok, p, p + 3 AS e FROM (
                SELECT doc_id, n_tok, p,
                  count(*) OVER (PARTITION BY doc_id, g) AS gn
                FROM grams
              ) WHERE gn >= 2
            ),
            isl AS (
              SELECT doc_id, n_tok, p, e,
                CASE WHEN max(e) OVER prev IS NULL
                       OR p > max(e) OVER prev
                     THEN 1 ELSE 0 END AS new_island
              FROM rep_pos
              WINDOW prev AS (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            isl2 AS (
              SELECT doc_id, n_tok, p, e,
                sum(new_island) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS island
              FROM isl
            ),
            per_island AS (
              SELECT doc_id, n_tok, island,
                max(e) - min(p) AS ilen, count(*) AS npos
              FROM isl2 GROUP BY 1, 2, 3
            )
            SELECT doc_id, max(n_tok) AS n_tok,
              CAST(sum(npos) AS BIGINT) AS n_rep_pos,
              CAST(sum(npos) AS DOUBLE)
                / CAST(max(n_tok) - 2 AS DOUBLE) AS rep_pos_frac,
              CAST(sum(ilen) AS DOUBLE) / CAST(max(n_tok) AS DOUBLE)
                AS rep_token_frac
            FROM per_island GROUP BY doc_id
        """,
        "q513_dup_span_coverage": r"""
            WITH base AS (
              SELECT doc_id,
                list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '') AS t
              FROM documents
            ),
            sized AS (
              SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tok
              FROM base WHERE len(t) >= 8
            ),
            grams AS (
              SELECT doc_id, n_tok, u['p'] AS p, u['g'] AS g FROM (
                SELECT doc_id, n_tok,
                  UNNEST(list_transform(
                    generate_series(1, len(t) - 7),
                    i -> struct_pack(p := i,
                      g := array_to_string(t[i:i+7], ' '))
                  )) AS u
                FROM sized
              )
            ),
            dup_grams AS (
              SELECT g FROM grams
              GROUP BY g HAVING count(DISTINCT doc_id) >= 2
            ),
            dup_pos AS (
              SELECT gr.doc_id, gr.n_tok, gr.p, gr.p + 8 AS e
              FROM grams gr JOIN dup_grams d ON gr.g = d.g
            ),
            isl AS (
              SELECT doc_id, n_tok, p, e,
                CASE WHEN max(e) OVER prev IS NULL
                       OR p > max(e) OVER prev
                     THEN 1 ELSE 0 END AS new_island
              FROM dup_pos
              WINDOW prev AS (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            isl2 AS (
              SELECT doc_id, n_tok, p, e,
                sum(new_island) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS island
              FROM isl
            ),
            per_island AS (
              SELECT doc_id, n_tok, island,
                max(e) - min(p) AS ilen, count(*) AS npos
              FROM isl2 GROUP BY 1, 2, 3
            )
            SELECT doc_id, max(n_tok) AS n_tok,
              CAST(sum(npos) AS BIGINT) AS n_dup_pos,
              CAST(sum(ilen) AS BIGINT) AS covered,
              CAST(sum(ilen) AS DOUBLE) / CAST(max(n_tok) AS DOUBLE)
                AS dup_frac
            FROM per_island GROUP BY doc_id
        """,
    },
)
