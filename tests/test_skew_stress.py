"""Skew stress fixture (VERDICT r5 #3): the skew valves exist
(operators/skew.py salting, jaccard's max_token_df, AQE skew-join) but
were never exercised against actually skewed data. These tests build a
zipf-hot-key variant of the test tables under tmp and assert:

(a) the salted rewrites stay EXACT on skewed input (same rows as the
    plain plan — salting must never change results, only placement);
(b) AQE actually detects and splits the hot partition (the executed
    adaptive plan carries ``skew=true``) once the join is forced
    through sort-merge at test-scale thresholds;
(c) hot-key wall-time stays within a small factor of the uniform
    twin's for the two headline skew-sensitive paths — sessionize
    (per-user window) and jaccard_pairs with the max_token_df valve
    (ubiquitous-token candidate explosion).

This is the 100 TB claim the scaling docs make (SCALING.md): a hot key
degrades a partition, not the job.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.operators import (
    jaccard_pairs,
    salted_agg,
    salted_join,
    sessionize,
)
from sensor_time_series_pyspark_spark.sources.readers import read_table

SF = "/root/testdata/sf0.01"
HOT_USER = 777_777


@pytest.fixture(scope="module")
def skew_events(spark, tmp_path_factory):
    """events (10k rows) with ~50% of rows remapped to ONE hot user —
    a zipf-head approximation (the tail keeps its original uniform
    ids). Deterministic: membership = event_id % 2 == 0."""
    d = str(tmp_path_factory.mktemp("skew") / "events_skew")
    ev = read_table(spark, SF, "events")
    skewed = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(HOT_USER)).otherwise(
            F.col("user_id")
        ),
    )
    # 16 files -> 16 map tasks: AQE splits a skewed REDUCE partition at
    # map-output granularity, so a single-file source (1 map task)
    # leaves it one indivisible chunk and the skew rule can't fire —
    # the same reason tiny-file layouts defeat skew handling in prod
    skewed.repartition(16).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def skew_docs(spark, tmp_path_factory):
    """documents (500 docs) with a ubiquitous boilerplate sentence
    appended to EVERY doc — the hot-token pathology: each boilerplate
    shingle has df = n_docs, so the inverted-index join would generate
    O(n²) candidates from it without the max_token_df valve."""
    d = str(tmp_path_factory.mktemp("skew") / "docs_skew")
    boiler = " copyright acme corporation all rights reserved internal use only"
    docs = read_table(spark, SF, "documents")
    docs.withColumn("text", F.concat(F.col("text"), F.lit(boiler * 2))).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_salted_join_exact_on_skewed(spark, skew_events):
    ev = spark.read.parquet(skew_events).select("event_id", "user_id")
    dim = (
        read_table(spark, SF, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
        .union(
            spark.createDataFrame(
                [(HOT_USER, 99)], "user_id long, c_nationkey int"
            )
        )
    )
    plain = ev.join(dim, "user_id")
    salted = salted_join(ev, dim, ["user_id"], salt=8)
    cols = ["event_id", "user_id", "c_nationkey"]
    assert _rows(salted, cols) == _rows(plain, cols)


def test_salted_agg_exact_on_skewed(spark, skew_events):
    ev = spark.read.parquet(skew_events)
    plain = ev.groupBy("user_id").agg(
        F.count("value").alias("n"), F.max("value").alias("mx")
    )
    salted = salted_agg(
        ev,
        ["user_id"],
        {"n": ("count", F.col("value")), "mx": ("max", F.col("value"))},
        salt=8,
    )
    cols = ["user_id", "n", "mx"]
    assert _rows(salted, cols) == _rows(plain, cols)
    # the hot key really is hot (the fixture isn't vacuous)
    hot_n = dict((r["user_id"], r["n"]) for r in plain.collect())[HOT_USER]
    assert hot_n >= 2000


def test_aqe_splits_hot_partition(spark, skew_events):
    """Self-join on user_id: the hot user's shuffle partition dwarfs the
    median; with test-scale thresholds AQE must rewrite the sort-merge
    join with skew=true splits. (At production defaults the same logic
    fires at 256 MB partitions — thresholds scale, the mechanism is
    what's under test.)"""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2048"
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2048")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        ev = spark.read.parquet(skew_events).select("event_id", "user_id", "value")
        # the filter breaks exchange reuse: a ReusedExchange side cannot
        # be skew-split independently, masking the behavior under test
        right = ev.where(F.col("value") > -1e18).select(
            F.col("event_id").alias("eb"), "user_id"
        )
        joined = ev.join(right, "user_id")
        # collect a 1-row global agg OVER the join and read the executed
        # plan off that same DataFrame: AQE only finalizes (and marks
        # skew=true) the queryExecution an action actually ran
        probe = joined.groupBy().count()
        probe.collect()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


# Wall-clock assertions are load-sensitive on a shared box: a
# concurrent job can triple timings for reasons unrelated to skew. The
# two timing tests therefore alternate uniform and skewed runs and keep
# each side's best, so contention lands on both sides alike instead of
# on whichever side happened to run second.
def _best_of_interleaved(fn_a, fn_b, reps=3):
    best = [float("inf"), float("inf")]
    for _ in range(reps):
        for i, fn in enumerate((fn_a, fn_b)):
            t0 = time.perf_counter()
            fn()
            best[i] = min(best[i], time.perf_counter() - t0)
    return best[0], best[1]


def test_sessionize_walltime_bounded_under_skew(spark, skew_events):
    """q15's shape (per-user window sort): one user holding half of all
    events must not blow up wall-time — a window partition is a task,
    half of 10k rows in one task is noise. Generous 3x bound to keep
    the assertion robust on a shared machine (the failure mode being
    guarded against is 10-100x)."""

    def run(src_df):
        sess = sessionize(
            src_df, ts_col="ts", partition_by=["user_id"], gap_seconds=1800
        )
        sess.groupBy("user_id", "session_seq").agg(
            F.count(F.lit(1)).alias("n_events")
        ).write.format("noop").mode("overwrite").save()

    uniform = read_table(spark, SF, "events")
    skewed = spark.read.parquet(skew_events)
    t_uniform, t_skew = _best_of_interleaved(
        lambda: run(uniform), lambda: run(skewed)
    )
    assert t_skew <= 3 * t_uniform + 0.5, (t_skew, t_uniform)


def test_jaccard_valve_bounds_hot_tokens(spark, skew_docs):
    """Ubiquitous-token corpus: with the max_token_df valve the
    inverted-index join must stay near uniform-corpus cost; the
    boilerplate shingles (df = 500) get dropped before the self-join
    instead of generating 500²/2 candidates each."""
    uniform = read_table(spark, SF, "documents")
    skewed = spark.read.parquet(skew_docs)

    def run(df):
        jaccard_pairs(
            df, "doc_id", "text", threshold=0.2, shingle_k=3, max_token_df=50
        ).write.format("noop").mode("overwrite").save()

    t_uniform, t_skew = _best_of_interleaved(
        lambda: run(uniform), lambda: run(skewed)
    )
    assert t_skew <= 3 * t_uniform + 0.5, (t_skew, t_uniform)

    # and the valve changes nothing on the ORIGINAL corpus where no
    # token is hot: valve-on == valve-off (exactness when inactive)
    base = jaccard_pairs(uniform, "doc_id", "text", threshold=0.2, shingle_k=3)
    valved = jaccard_pairs(
        uniform, "doc_id", "text", threshold=0.2, shingle_k=3, max_token_df=10**6
    )
    cols = ["id_a", "id_b", "jaccard"]
    assert _rows(valved, cols) == _rows(base, cols)


def test_sessionize_split_exact_on_skewed_events(spark, skew_events):
    """VERDICT r7 #5: sessionize_split (range-split + boundary stitch)
    must be row-identical to the unsplit window on the skewed fixture
    (one user holds 50% of all events), for bucket widths both larger
    and smaller than the session gap — exactness must not depend on
    any bucket/gap relation."""
    from sensor_time_series_pyspark_spark.operators import sessionize_split

    ev = spark.read.parquet(skew_events)
    gap = 1800
    base = sessionize(ev, "ts", ["user_id"], gap).select(
        "event_id", F.col("session_seq").alias("want")
    )
    for bucket in (900, 1800, 86_400):
        got = sessionize_split(ev, "ts", ["user_id"], gap, bucket).select(
            "event_id", F.col("session_seq").alias("got")
        )
        diff = base.join(got, "event_id").where(
            F.col("want") != F.col("got")
        )
        assert diff.count() == 0, (
            f"bucket={bucket}: {diff.limit(5).collect()}"
        )
        assert got.count() == base.count()


ZIPF_DIR = "/tmp/scale_events/zipf"


@pytest.mark.skipif(
    not os.path.isdir(f"{ZIPF_DIR}/events.parquet"),
    reason="zipf scale fixture not generated (scripts/gen_scale_fixture.py)",
)
def test_sessionize_split_exact_and_faster_on_zipf_fixture(spark):
    """5M-row fixture with 90% of events remapped onto ONE user (the
    regime the split exists for — the base window serializes 4.5M
    rows through one task): the split path must return IDENTICAL
    session sequences and beat the unsplit wall time. On the milder
    23%-hot zipf head the gain (~1.2-1.5x best-of-3) is within
    single-shot noise, so the timing assertion uses the decisive
    fixture and SCALING.md records the zipf numbers."""
    from sensor_time_series_pyspark_spark.operators import sessionize_split

    ev = spark.read.parquet(f"{ZIPF_DIR}/events.parquet").withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 < 9, F.lit(7)).otherwise(
            F.col("user_id")
        ),
    )
    gap = 1800
    bucket = 6 * 3600

    t0 = time.perf_counter()
    base = sessionize(ev, "ts", ["user_id"], gap).select(
        "event_id", F.col("session_seq").alias("want")
    )
    base.write.format("noop").mode("overwrite").save()
    t_base = time.perf_counter() - t0

    t0 = time.perf_counter()
    split = sessionize_split(ev, "ts", ["user_id"], gap, bucket).select(
        "event_id", F.col("session_seq").alias("got")
    )
    split.write.format("noop").mode("overwrite").save()
    t_split = time.perf_counter() - t0

    mism = (
        base.join(split, "event_id")
        .where(F.col("want") != F.col("got"))
        .count()
    )
    assert mism == 0
    assert base.count() == split.count()
    # generous bound: the split must at minimum not LOSE to the
    # serialized window on a 23%-hot key (observed well under 1x)
    assert t_split <= t_base * 1.0, (t_split, t_base)


def test_asof_join_split_exact_on_skewed_events(spark, skew_events):
    """VERDICT r7 #5 (asof half): asof_join_split (bucketed window +
    carry-forward seeds) must be row-identical to asof_join on the
    skewed fixture, in BOTH directions, with and without tolerance,
    across bucket widths — the boundary seed must repair every row
    whose match lives in an earlier (later, going forward) bucket."""
    from sensor_time_series_pyspark_spark.operators import (
        asof_join,
        asof_join_split,
    )
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    ev = spark.read.parquet(skew_events)
    o = read_table(spark, SF, "orders")
    daily = o.groupBy(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate")
    ).agg(F.max("o_totalprice").alias("p"))
    # remap half the orders onto the hot user too so the right side
    # is skewed along with the left
    daily = daily.withColumn(
        "user_id",
        F.when(F.dayofmonth("o_orderdate") % 2 == 0, F.lit(HOT_USER))
        .otherwise(F.col("user_id")),
    ).groupBy("user_id", "o_orderdate").agg(F.max("p").alias("p"))

    for direction in ("backward", "forward"):
        for tol in (None, 30 * 86400.0):
            base = asof_join(
                ev, daily, on=["user_id"], left_ts="ts",
                right_ts="o_orderdate", value_cols=["p"],
                direction=direction, tolerance_seconds=tol,
                matched_ts_col="mts",
            ).select("event_id", F.col("p").alias("want"),
                     F.col("mts").alias("want_ts"))
            for bucket in (7 * 86400, 180 * 86400):
                got = asof_join_split(
                    ev, daily, on=["user_id"], left_ts="ts",
                    right_ts="o_orderdate", value_cols=["p"],
                    bucket_seconds=bucket, direction=direction,
                    tolerance_seconds=tol, matched_ts_col="mts",
                ).select("event_id", F.col("p").alias("got"),
                         F.col("mts").alias("got_ts"))
                j = base.join(got, "event_id")
                mism = j.where(
                    ~(
                        (F.col("want") == F.col("got"))
                        | (F.col("want").isNull() & F.col("got").isNull())
                    )
                    | ~(
                        (F.col("want_ts") == F.col("got_ts"))
                        | (
                            F.col("want_ts").isNull()
                            & F.col("got_ts").isNull()
                        )
                    )
                ).count()
                assert mism == 0, (direction, tol, bucket)
                assert got.count() == base.count(), (direction, tol, bucket)


@pytest.mark.skipif(
    not os.path.isdir(f"{ZIPF_DIR}/events.parquet"),
    reason="zipf scale fixture not generated (scripts/gen_scale_fixture.py)",
)
def test_asof_join_split_exact_and_faster_on_hot_key(spark):
    """q29's shape on the 5M-row fixture with 90% of events remapped
    to ONE user (the regime the split exists for — the base path's
    union-window serializes 4.5M rows through one task): identical
    values, and the split must beat the unsplit wall time. On the
    milder 23%-hot zipf head the split's constant overhead (~0.5s at
    this scale: one bucket-grain distinct + a broadcast patch join)
    roughly cancels the straggler gain — that crossover is recorded
    in SCALING.md; exactness on the zipf head itself is covered by
    the skewed-fixture test above."""
    from sensor_time_series_pyspark_spark.operators import (
        asof_join,
        asof_join_split,
    )
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    ev = spark.read.parquet(f"{ZIPF_DIR}/events.parquet").withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 < 9, F.lit(7)).otherwise(
            F.col("user_id")
        ),
    )
    o = read_table(ev.sparkSession, ZIPF_DIR, "orders")
    daily = o.groupBy(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate")
    ).agg(F.max("o_totalprice").alias("p"))

    t0 = time.perf_counter()
    base = asof_join(
        ev, daily, on=["user_id"], left_ts="ts", right_ts="o_orderdate",
        value_cols=["p"],
    ).select("event_id", F.col("p").alias("want"))
    base.write.format("noop").mode("overwrite").save()
    t_base = time.perf_counter() - t0

    t0 = time.perf_counter()
    split = asof_join_split(
        ev, daily, on=["user_id"], left_ts="ts", right_ts="o_orderdate",
        value_cols=["p"], bucket_seconds=86400,
    ).select("event_id", F.col("p").alias("got"))
    split.write.format("noop").mode("overwrite").save()
    t_split = time.perf_counter() - t0

    mism = (
        base.join(split, "event_id")
        .where(
            ~(
                (F.col("want") == F.col("got"))
                | (F.col("want").isNull() & F.col("got").isNull())
            )
        )
        .count()
    )
    assert mism == 0
    assert base.count() == split.count()
    assert t_split <= t_base * 1.0, (t_split, t_base)


def test_asof_join_split_per_column_carry_independence(spark):
    """The plain asof path carries each value column independently
    (last non-null PER COLUMN, not per row); the split path's seeds
    must mirror that. Right rows alternate which column is NULL, so a
    left row in a later bucket must pick the two columns from TWO
    different earlier right rows — a per-row seed would get one of
    them wrong."""
    from sensor_time_series_pyspark_spark.operators import (
        asof_join,
        asof_join_split,
    )

    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0, None),
            (1, "2024-01-02 00:00:00", None, 200.0),
            (1, "2024-01-03 00:00:00", 30.0, None),
        ],
        "k int, rts string, a double, b double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    left = spark.createDataFrame(
        [(1, "2024-01-10 00:00:00"), (1, "2024-01-02 12:00:00")],
        "k int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    for bucket in (3600, 86_400, 30 * 86_400):
        got = {
            (r["k"], str(r["ts"])): (r["a"], r["b"])
            for r in asof_join_split(
                left, right, on=["k"], left_ts="ts", right_ts="rts",
                value_cols=["a", "b"], bucket_seconds=bucket,
            ).collect()
        }
        want = {
            (r["k"], str(r["ts"])): (r["a"], r["b"])
            for r in asof_join(
                left, right, on=["k"], left_ts="ts", right_ts="rts",
                value_cols=["a", "b"],
            ).collect()
        }
        assert got == want, (bucket, got, want)
        # the late row must blend columns from rows 3 (a) and 2 (b)
        assert got[(1, "2024-01-10 00:00:00")] == (30.0, 200.0)
