"""Unit + invariant tests for the round-2 wave-3 operators: interval
merging, streaks, M4 downsample, deadband compression, Bloom-pruned
semi join, HLL mergeable rollup, PageRank, rolling correlation,
weighted median, stratified sampling, as-of tolerance/direction."""

from __future__ import annotations

import math
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.operators import (
    asof_join,
    bloom_prune,
    bloom_semi_join,
    deadband_compress,
    hll_partials,
    hll_rollup,
    m4_downsample,
    merge_intervals,
    rolling_corr,
    stratified_hash_sample,
    streaks,
    weighted_median,
)
from sensor_time_series_pyspark_spark.operators.graph import pagerank_fixedpoint


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


# ---------------------------------------------------------------- islands


def test_merge_intervals_basic(spark):
    rows = [
        # key a: [0,10] [5,12] touch [12,20] -> one island; [30,40] alone
        ("a", 0, 10), ("a", 5, 12), ("a", 12, 20), ("a", 30, 40),
        # key b: nested interval
        ("b", 0, 100), ("b", 10, 20),
    ]
    df = spark.createDataFrame(rows, "k string, s int, e int")
    out = {
        (r["k"], r["island_start"], r["island_end"]): r["n_intervals"]
        for r in merge_intervals(df, ["k"], "s", "e").collect()
    }
    assert out == {("a", 0, 20): 3, ("a", 30, 40): 1, ("b", 0, 100): 2}


def test_streaks_consecutive_days(spark):
    rows = [
        ("u1", "2024-01-01"), ("u1", "2024-01-02"), ("u1", "2024-01-03"),
        ("u1", "2024-01-05"),
        ("u1", "2024-01-02"),  # duplicate collapses
        ("u2", "2024-02-10"),
    ]
    df = spark.createDataFrame(rows, "u string, d string").select(
        "u", F.to_date("d").alias("d")
    )
    out = {
        (r["u"], str(r["streak_start"])): (str(r["streak_end"]), r["n_days"])
        for r in streaks(df, ["u"], "d").collect()
    }
    assert out[("u1", "2024-01-01")] == ("2024-01-03", 3)
    assert out[("u1", "2024-01-05")] == ("2024-01-05", 1)
    assert out[("u2", "2024-02-10")] == ("2024-02-10", 1)
    assert len(streaks(df, ["u"], "d", min_length=2).collect()) == 1


# ---------------------------------------------------------------- M4


def test_m4_downsample_selects_extremes_and_endpoints(spark):
    rows = [
        ("s", ts("2024-01-01 00:05:00"), 5.0, 1),
        ("s", ts("2024-01-01 00:10:00"), 99.0, 2),
        ("s", ts("2024-01-01 00:20:00"), -7.0, 3),
        ("s", ts("2024-01-01 00:50:00"), 13.0, 4),
        # identical timestamp tie broken by id: id=5 is later
        ("s", ts("2024-01-01 00:50:00"), 14.0, 5),
        ("s", ts("2024-01-01 01:10:00"), 1.0, 6),  # next bucket
    ]
    df = spark.createDataFrame(rows, "k string, t timestamp, v double, id long")
    out = {
        r["bucket_start"]: r
        for r in m4_downsample(df, ["k"], "t", "v", "id", "1 hour").collect()
    }
    b0 = out[ts("2024-01-01 00:00:00")]
    assert b0["v_min"] == -7.0 and b0["v_max"] == 99.0
    assert b0["v_first"] == 5.0 and b0["v_last"] == 14.0 and b0["n"] == 5
    b1 = out[ts("2024-01-01 01:00:00")]
    assert (b1["v_first"], b1["v_last"], b1["n"]) == (1.0, 1.0, 1)


# ---------------------------------------------------------------- deadband


def test_deadband_keeps_first_and_excursions(spark):
    rows = [
        ("g", ts("2024-01-01 00:00:00"), 21.0),
        ("g", ts("2024-01-01 00:01:00"), 21.2),   # within eps of 21.0
        ("g", ts("2024-01-01 00:02:00"), 21.6),   # |21.6-21| > 0.5 -> keep
        ("g", ts("2024-01-01 00:03:00"), 21.5),   # vs last kept 21.6 -> drop
        ("g", ts("2024-01-01 00:04:00"), 19.0),   # keep
        ("h", ts("2024-01-01 00:00:00"), 1.0),    # other series keeps first
    ]
    df = spark.createDataFrame(rows, "k string, t timestamp, v double")
    kept = sorted(
        (r["k"], r["v"])
        for r in deadband_compress(df, "k", "t", "v", epsilon=0.5).collect()
    )
    assert kept == [("g", 19.0), ("g", 21.0), ("g", 21.6), ("h", 1.0)]


# ---------------------------------------------------------------- bloom


def test_bloom_prune_no_false_negatives_and_semi_join_exact(spark):
    fact = spark.range(0, 2000).select(F.col("id").alias("k"))
    keys = spark.range(0, 2000, 17).select(F.col("id").alias("kk"))
    pruned = bloom_prune(fact, keys, "k", "kk")
    got = {r["k"] for r in pruned.collect()}
    expected = set(range(0, 2000, 17))
    assert expected <= got  # no false negatives
    # with 65536 bits / ~118 keys the FP rate is ~0 — pruning is real
    assert len(got) < 400
    exact = {r["k"] for r in bloom_semi_join(fact, keys, "k", "kk").collect()}
    assert exact == expected


# ---------------------------------------------------------------- hll


def test_hll_rollup_matches_exact_within_tolerance(spark, sf_dir):
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    partials = hll_partials(
        ev.withColumn("day", F.to_date("ts")), ["event_type", "day"], "user_id"
    )
    rolled = {
        r["event_type"]: r["n_distinct"]
        for r in hll_rollup(partials, ["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(rolled) == set(exact)
    for k, n in exact.items():
        assert abs(rolled[k] - n) <= max(2, 0.05 * n), (k, rolled[k], n)


# ---------------------------------------------------------------- pagerank


def test_pagerank_mass_conserved_and_sink_ranking(spark):
    # star graph: everyone links to 0; 0 dangles
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long"
    )
    ranks = {
        r["node"]: r["rank"]
        for r in pagerank_fixedpoint(edges, n_iter=15).collect()
    }
    assert abs(sum(ranks.values()) - 6.0) < 1e-6  # mass conserved
    assert all(ranks[0] > ranks[i] for i in range(1, 6))
    spokes = [ranks[i] for i in range(1, 6)]
    assert max(spokes) - min(spokes) < 1e-9  # symmetry


# ---------------------------------------------------------------- rolling corr


def test_rolling_corr_tracks_perfect_linear_series(spark):
    rows = [("a", i, float(2 * i), float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, i long, x double, y double")
    out = rolling_corr(
        df, ["k"], ["i"], "x", "y", n_rows=5, x_decimals=2, y_decimals=2
    ).collect()
    by_i = {r["i"]: r["r_corr"] for r in out}
    assert by_i[0] is None  # single-row window: degenerate
    for i in range(1, 10):
        assert by_i[i] == pytest.approx(1.0, abs=1e-12)


def test_rolling_corr_matches_f_corr(spark, sf_dir):
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    ref = ev.withColumn(
        "ref", F.corr(F.col("value"), F.col("event_id").cast("double")).over(w)
    )
    got = rolling_corr(
        ev, ["user_id"], ["ts", "event_id"], "value", "event_id",
        n_rows=10, x_decimals=2, y_decimals=0,
    )
    joined = (
        ref.select("event_id", "ref")
        .join(got.select("event_id", "r_corr"), "event_id")
        .collect()
    )
    assert joined
    for r in joined:
        if r["ref"] is None or math.isnan(r["ref"]):
            assert r["r_corr"] is None
        else:
            assert r["r_corr"] == pytest.approx(r["ref"], abs=1e-6)


# ---------------------------------------------------------------- weighted median


def test_weighted_median_hand_case(spark):
    rows = [
        ("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 10.0),
        ("h", 5.0, 1.0), ("h", 7.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    out = {
        r["k"]: r["w_median"]
        for r in weighted_median(df, ["k"], "v", "w").collect()
    }
    # g: total 12, first value with 2*cum >= 12 is 3.0 (cum 12)
    assert out["g"] == 3.0
    # h: equal weights -> lower median 5.0 (2*1 >= 2)
    assert out["h"] == 5.0


def test_weighted_median_unit_weights_is_lower_median(spark):
    df = spark.createDataFrame(
        [("a", float(v), 1.0) for v in [9, 1, 5, 3, 7]],
        "k string, v double, w double",
    )
    out = weighted_median(df, ["k"], "v", "w").collect()
    assert out[0]["w_median"] == 5.0


# ---------------------------------------------------------------- stratified


def test_stratified_sample_fractions_and_determinism(spark, sf_dir):
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    frac = {"en": 0.5, "de": 1.0}
    s1 = stratified_hash_sample(docs, "doc_id", "lang", frac)
    s2 = stratified_hash_sample(docs, "doc_id", "lang", frac)
    assert sorted(r["doc_id"] for r in s1.collect()) == sorted(
        r["doc_id"] for r in s2.collect()
    )
    kept = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert kept.get("de", 0) == totals.get("de", 0)  # keep-all stratum
    assert "fr" not in kept  # default fraction 0 drops unlisted strata
    if totals.get("en", 0) >= 20:
        ratio = kept.get("en", 0) / totals["en"]
        assert 0.25 < ratio < 0.75


# ---------------------------------------------------------------- as-of


def test_asof_forward_and_tolerance(spark):
    left = spark.createDataFrame(
        [("k", ts("2024-01-01 00:10:00"), 1)], "k string, t timestamp, i int"
    )
    right = spark.createDataFrame(
        [
            ("k", ts("2024-01-01 00:05:00"), 50.0),
            ("k", ts("2024-01-01 00:12:00"), 70.0),
            ("k", ts("2024-01-01 00:30:00"), 90.0),
        ],
        "k string, rt timestamp, v double",
    )
    back = asof_join(left, right, ["k"], "t", "rt", ["v"]).collect()[0]
    assert back["v"] == 50.0
    fwd = asof_join(
        left, right, ["k"], "t", "rt", ["v"], direction="forward"
    ).collect()[0]
    assert fwd["v"] == 70.0
    tight = asof_join(
        left, right, ["k"], "t", "rt", ["v"],
        tolerance_seconds=60, matched_ts_col="mt",
    ).collect()[0]
    assert tight["v"] is None and tight["mt"] is None
    loose = asof_join(
        left, right, ["k"], "t", "rt", ["v"],
        tolerance_seconds=600, matched_ts_col="mt",
    ).collect()[0]
    assert loose["v"] == 50.0 and loose["mt"] == ts("2024-01-01 00:05:00")


def test_asof_forward_coincident_right_visible(spark):
    left = spark.createDataFrame(
        [("k", ts("2024-01-01 00:10:00"), 1)], "k string, t timestamp, i int"
    )
    right = spark.createDataFrame(
        [("k", ts("2024-01-01 00:10:00"), 5.0)], "k string, rt timestamp, v double"
    )
    fwd = asof_join(
        left, right, ["k"], "t", "rt", ["v"], direction="forward"
    ).collect()[0]
    assert fwd["v"] == 5.0


# ---------------------------------------------------------------- SDT


def test_swinging_door_reconstruction_bound(spark):
    import numpy as np

    from sensor_time_series_pyspark_spark.operators import swinging_door_compress

    rng = np.random.default_rng(7)
    n = 400
    base = np.cumsum(rng.normal(0, 0.3, n)) + 10 * np.sin(np.arange(n) / 25)
    rows = [
        ("s", datetime(2024, 1, 1) + __import__("datetime").timedelta(seconds=30 * i), float(base[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k string, t timestamp, v double")
    eps = 1.0
    kept = (
        swinging_door_compress(df, "k", "t", "v", epsilon=eps)
        .orderBy("t")
        .collect()
    )
    # strong compression on a smooth-ish series
    assert 2 < len(kept) < n * 0.6
    kt = np.array([r["t"].timestamp() for r in kept])
    kv = np.array([r["v"] for r in kept])
    ot = np.array([r[1].timestamp() for r in rows])
    recon = np.interp(ot, kt, kv)
    # SDT chord-reconstruction guarantee (2ε worst case for the
    # archive-previous-point variant)
    assert float(np.max(np.abs(recon - base))) <= 2 * eps + 1e-9


def test_swinging_door_keeps_endpoints_and_line_compresses_to_two(spark):
    from sensor_time_series_pyspark_spark.operators import swinging_door_compress

    rows = [
        ("s", datetime(2024, 1, 1) + __import__("datetime").timedelta(minutes=i), float(i))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "k string, t timestamp, v double")
    kept = swinging_door_compress(df, "k", "t", "v", epsilon=0.5).collect()
    assert len(kept) == 2  # a perfect line needs only its endpoints
    assert {r["v"] for r in kept} == {0.0, 49.0}


# ---------------------------------------------------------------- top-k sketch


def test_topk_rollup_exact_under_capacity(spark, sf_dir):
    from sensor_time_series_pyspark_spark.sources.readers import read_table
    from sensor_time_series_pyspark_spark.operators import (
        topk_partials,
        topk_rollup,
    )

    ev = read_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    partials = topk_partials(ev, ["day"], "event_type")
    rolled = topk_rollup(partials, [], k=5)
    got = {(r["item"], r["est_count"]) for r in rolled.collect()}
    want = {
        (r["event_type"], r["n"])
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    # 5 distinct types < maxItemsTracked -> sketch counts are exact
    assert got == want
