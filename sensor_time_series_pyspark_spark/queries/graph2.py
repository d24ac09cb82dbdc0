"""Graph algorithms, continued (round 6; sketches_graph.py is at the
module cap): deterministic label propagation. Completes the graph
family (q98/q445 pagerank, q100 triangles, q151 BFS, q189 k-core,
dedup's connected components) with the community/component primitive
distributed engines actually ship: synchronous min-label propagation,
k unrolled supersteps — every step an equi-join + min aggregate on
integer labels, so it is EXACT in any engine (no floats anywhere) and
each superstep is one shuffle on the vertex key (the Pregel shape;
large-star/small-star in operators/dedup.py is the O(log n) variant
for full convergence)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """3 supersteps of min-label propagation over the brand
    co-purchase graph (brands linked when the same order contains
    both — the q445 graph): label(v) starts as the brand's own dense
    integer id (rank by name — portable), then each round becomes
    min(label(v), min over neighbors label(u)). After 3 rounds every
    vertex within graph distance 3 of a component's minimum carries
    that minimum — on this near-complete co-purchase graph that is
    full convergence, and the unrolled form keeps the plan static
    (production full-convergence path: dedup_components'
    large-star/small-star). Output per label: member count and the
    lexicographically smallest member brand (the canonical name)."""
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, sf, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    eh = (
        ob.alias("x")
        .join(ob.alias("y"), "o")
        .select(F.col("x.b").alias("a"), F.col("y.b").alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    edges = eh.select("a", "b").union(eh.select(F.col("b").alias("a"), F.col("a").alias("b")))
    verts = edges.select(F.col("a").alias("v")).distinct()
    # portable integer ids: dense rank by brand name
    from pyspark.sql import Window

    ids = verts.select(
        "v", F.dense_rank().over(Window.orderBy("v")).cast("bigint").alias("lbl")
    )

    lab = ids
    for _ in range(3):
        nbr_min = (
            edges.join(lab, edges["b"] == lab["v"])
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        lab = (
            lab.join(nbr_min, lab["v"] == nbr_min["a"], "left")
            .select(
                "v",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
        )
    return lab.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("v").alias("canonical_brand"),
    )


register_many(
    {
        "q523_label_propagation": _q_label_propagation,
    },
    {
        "q523_label_propagation": """
            WITH ob AS (
              SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            ),
            eh AS (
              SELECT DISTINCT x.b AS a, y.b AS b
              FROM ob x JOIN ob y ON x.o = y.o WHERE x.b < y.b
            ),
            edges AS (
              SELECT a, b FROM eh
              UNION ALL
              SELECT b AS a, a AS b FROM eh
            ),
            verts AS (SELECT DISTINCT a AS v FROM edges),
            ids AS (
              SELECT v,
                CAST(dense_rank() OVER (ORDER BY v) AS BIGINT) AS lbl
              FROM verts
            ),
            l1 AS (
              SELECT i.v,
                least(i.lbl, coalesce(m.nlbl, i.lbl)) AS lbl
              FROM ids i LEFT JOIN (
                SELECT e.a, min(x.lbl) AS nlbl
                FROM edges e JOIN ids x ON e.b = x.v GROUP BY e.a
              ) m ON i.v = m.a
            ),
            l2 AS (
              SELECT i.v,
                least(i.lbl, coalesce(m.nlbl, i.lbl)) AS lbl
              FROM l1 i LEFT JOIN (
                SELECT e.a, min(x.lbl) AS nlbl
                FROM edges e JOIN l1 x ON e.b = x.v GROUP BY e.a
              ) m ON i.v = m.a
            ),
            l3 AS (
              SELECT i.v,
                least(i.lbl, coalesce(m.nlbl, i.lbl)) AS lbl
              FROM l2 i LEFT JOIN (
                SELECT e.a, min(x.lbl) AS nlbl
                FROM edges e JOIN l2 x ON e.b = x.v GROUP BY e.a
              ) m ON i.v = m.a
            )
            SELECT lbl, CAST(count(*) AS BIGINT) AS n_members,
              min(v) AS canonical_brand
            FROM l3 GROUP BY lbl
        """,
    },
)
