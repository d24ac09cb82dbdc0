"""Round-11 OPTIMIZATION-round focused tests: internals changed for
performance keep their observable semantics.

- tfidf_cosine_pairs grew a Bayardo-style prefix filter (lossless by
  construction); pin the losslessness at a pruning threshold against
  the exhaustive pair set.
- weighted_median now pre-aggregates to the (group, value) grain; pin
  the selection on a fixture whose half-total is crossed MID-RUN of a
  repeated value (the case where row-level and value-level cumulative
  sums differ the most).
- the graph loop operators (and connected_components) must release
  their loop-invariant caches before returning — CacheManager entries
  are not GC-reclaimed, so a leak here accumulates executor memory in
  long-lived sessions (ADVICE r10).
- debounce_batch's NULL-timestamp contract is now explicit: NULL
  timestamps are dropped; all-NULL keys vanish.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# ------------------------------------------------------ tfidf prefix filter
def test_tfidf_prefix_filter_is_lossless(spark):
    """At a pruning threshold the prefix-filtered candidate path must
    return EXACTLY the pairs the exhaustive path (threshold=0.0, which
    indexes every posting) passes at that threshold — same pair set,
    same cosines."""
    from sensor_time_series_pyspark_spark.operators import tfidf_cosine_pairs

    docs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "alpha beta gamma epsilon"),
        (4, "alpha beta zeta eta"),
        (5, "theta iota kappa lambda"),
        (6, "theta iota kappa lambda"),
        (7, "alpha theta gamma kappa"),
        (8, "beta beta beta gamma"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exhaustive = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(df, "doc_id", "text", threshold=0.0).collect()
    }
    for t in (0.5, 0.7, 0.9):
        want = {p: c for p, c in exhaustive.items() if c >= t}
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in tfidf_cosine_pairs(
                df, "doc_id", "text", threshold=t
            ).collect()
        }
        assert got == want, (t, got, want)


# ------------------------------------------------------ weighted median
def test_weighted_median_mid_run_half_crossing(spark):
    """The half-total is reached in the MIDDLE of the 2.0-value run:
    the value-grain cumulative sum (run-end) must select the same
    value the old row-grain scan did."""
    from sensor_time_series_pyspark_spark.operators import weighted_median

    rows = [
        ("g", 1.0, 1.0),
        ("g", 2.0, 4.0),
        ("g", 2.0, 4.0),
        ("g", 3.0, 3.0),
    ]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    out = weighted_median(df, ["k"], "v", "w").collect()
    # total 12; cum at value 2.0 (run end) = 9, 2*9 >= 12 -> 2.0
    assert out[0]["w_median"] == 2.0


def test_weighted_median_value_grain_plan(spark):
    """The window input must be the (group, value) aggregate, not raw
    rows: exactly one partial+final aggregate pair BELOW the Window."""
    from sensor_time_series_pyspark_spark.operators import weighted_median

    df = spark.createDataFrame(
        [("a", 1.0, 2.0)], "k string, v double, w double"
    )
    plan = (
        weighted_median(df, ["k"], "v", "w")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    w_idx = plan.index("Window")
    assert "HashAggregate" in plan[w_idx:]


# ------------------------------------------------------ graph cache release
def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_graph_operators_release_their_caches(spark):
    from sensor_time_series_pyspark_spark.operators import (
        bfs_hops,
        connected_components,
        label_propagation,
        pagerank,
        triangle_count,
    )
    from sensor_time_series_pyspark_spark.operators.graph import (
        pagerank_fixedpoint,
    )

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (6, 7)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")

    assert pagerank(edges, n_iter=3).count() > 0
    assert _cache_empty(spark), "pagerank leaked cache entries"
    assert pagerank_fixedpoint(edges, n_iter=3).count() > 0
    assert _cache_empty(spark), "pagerank_fixedpoint leaked cache entries"
    assert triangle_count(edges).collect()[0]["n_triangles"] == 1
    assert _cache_empty(spark), "triangle_count leaked cache entries"
    assert label_propagation(edges, n_iter=2).count() > 0
    assert _cache_empty(spark), "label_propagation leaked cache entries"
    assert bfs_hops(edges, seeds, max_hops=3).count() >= 1
    assert _cache_empty(spark), "bfs_hops leaked cache entries"
    cc = connected_components(
        edges.select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
    )
    assert cc.count() == 7
    assert _cache_empty(spark), "connected_components leaked cache entries"


# ------------------------------------------------------ debounce NULL contract
def test_debounce_batch_drops_null_timestamps(spark):
    from sensor_time_series_pyspark_spark.streaming.stateful import (
        debounce_batch,
    )

    df = spark.createDataFrame(
        [
            ("k1", "2030-01-01 00:00:00"),
            ("k1", None),
            ("k1", "2030-01-01 00:00:30"),
            ("k2", None),
        ],
        "key string, ts string",
    ).select("key", F.col("ts").cast("timestamp").alias("ts"))
    out = debounce_batch(df, "key", "ts", cooldown_seconds=60).collect()
    keys = {r["key"] for r in out}
    assert keys == {"k1"}            # all-NULL key vanishes
    assert len(out) == 1             # 00:00:30 inside the cooldown
