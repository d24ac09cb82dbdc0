"""Round-10 additions: the banding-first jaccard dispatcher and
promotions of rows-only queries to hash-gated oracles."""

from __future__ import annotations


# ---- jaccard auto-dispatch (inverted vs banding-first) ------------------


def test_banding_recall_analytic_values():
    from sensor_time_series_pyspark_spark.operators import banding_recall

    # 16 hashes / 8 bands -> r=2: 1-(1-t^2)^8
    assert abs(banding_recall(0.8) - (1 - (1 - 0.64) ** 8)) < 1e-12
    assert banding_recall(0.8) > 0.999
    # q19's own t=0.2 regime: floor ~0.28 — banding must NEVER serve it
    assert banding_recall(0.2) < 0.3


def _docs_df(spark, n=8):
    rows = [(i, f"alpha beta gamma delta epsilon zeta doc{i}") for i in range(n)]
    rows += [(100, "alpha beta gamma delta epsilon zeta doc0 x")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _spy(monkeypatch, calls):
    import sensor_time_series_pyspark_spark.operators.dedup as dd

    real_inv, real_band = dd.jaccard_pairs, dd.minhash_pairs

    def spy_inv(*a, **k):
        calls.append("inverted")
        return real_inv(*a, **k)

    def spy_band(*a, **k):
        calls.append("banded")
        return real_band(*a, **k)

    monkeypatch.setattr(dd, "jaccard_pairs", spy_inv)
    monkeypatch.setattr(dd, "minhash_pairs", spy_band)


def test_jaccard_auto_low_threshold_always_exact(spark, monkeypatch):
    from sensor_time_series_pyspark_spark.operators import jaccard_pairs_auto

    calls = []
    _spy(monkeypatch, calls)
    # t=0.2 fails the recall floor -> exact path even ABOVE the
    # corpus-size crossover (n_docs lies huge on purpose)
    jaccard_pairs_auto(
        _docs_df(spark), "doc_id", "text", threshold=0.2,
        n_docs=10_000_000,
    )
    assert calls == ["inverted"]


def test_jaccard_auto_picks_by_corpus_size(spark, monkeypatch):
    from sensor_time_series_pyspark_spark.operators import jaccard_pairs_auto

    calls = []
    _spy(monkeypatch, calls)
    jaccard_pairs_auto(
        _docs_df(spark), "doc_id", "text", threshold=0.8, n_docs=100,
    )
    jaccard_pairs_auto(
        _docs_df(spark), "doc_id", "text", threshold=0.8,
        n_docs=10_000_000,
    )
    assert calls == ["inverted", "banded"]


def test_jaccard_auto_banded_subset_of_exact(spark):
    from sensor_time_series_pyspark_spark.operators import (
        jaccard_pairs,
        jaccard_pairs_auto,
    )

    df = _docs_df(spark, n=6)
    exact = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_pairs(
            df, "doc_id", "text", threshold=0.6
        ).collect()
    }
    banded = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_pairs_auto(
            df, "doc_id", "text", threshold=0.6, n_docs=10_000_000,
        ).collect()
    }
    # precision 1.0: every banded pair is a true pair with the SAME
    # exact jaccard value (verification is exact on both paths)
    assert banded <= exact
    # the near-dup pair (doc0 vs its one-token-extra copy) is found
    assert any(a == 0 and b == 100 for a, b, _ in banded)


# ---- rainflow counting (q603/q604) --------------------------------------


def test_rainflow_astm_canonical_sequence():
    """The ASTM E1049-85 worked example: the four-point stack method
    must reproduce the published cycle table — range 4 x 1.5 cycles,
    3 x 0.5, 6 x 0.5, 8 x 1.0, 9 x 0.5."""
    from collections import defaultdict

    from sensor_time_series_pyspark_spark.operators import rainflow_count

    out = rainflow_count([-2, 1, -3, 5, -1, 3, -4, 4, -2])
    cycles = defaultdict(float)
    for rng, _mean2, full in out:
        cycles[rng] += 1.0 if full else 0.5
    assert dict(cycles) == {4: 1.5, 3: 0.5, 6: 0.5, 8: 1.0, 9: 0.5}


def test_rainflow_triangle_wave_full_cycles():
    from sensor_time_series_pyspark_spark.operators import rainflow_count

    out = rainflow_count([0, 10, 0, 10, 0, 10, 0])
    # the repeated 0-10 oscillation closes as full cycles of range 10
    # (plus the residual halves); no other range appears
    assert all(rng == 10 for rng, _m, _f in out)
    assert sum(1 for _r, _m, f in out if f) == 2
    assert sum(1 for _r, _m, f in out if not f) == 2


def test_rainflow_monotone_is_one_half_cycle():
    from sensor_time_series_pyspark_spark.operators import rainflow_count

    assert rainflow_count([1, 2, 3, 7]) == [(6, 8, 0)]
    assert rainflow_count([5]) == []
    assert rainflow_count([]) == []
    assert rainflow_count([3, 3, 3]) == []


def test_rainflow_conservation_invariant_random():
    """Exact invariant of rainflow counting: every segment between
    adjacent turning points is covered once, so
    sum(2*rng over fulls) + sum(rng over halves) == total variation
    of the turning-point sequence."""
    import random

    from sensor_time_series_pyspark_spark.operators.rainflow import (
        _turning_points,
        rainflow_count,
    )

    rnd = random.Random(7)
    for _ in range(200):
        n = rnd.randrange(0, 40)
        s = [rnd.randrange(-50, 51) for _ in range(n)]
        tp = _turning_points(s)
        tv = sum(abs(b - a) for a, b in zip(tp, tp[1:]))
        covered = sum(
            (2 if full else 1) * rng for rng, _m, full in rainflow_count(s)
        )
        assert covered == tv, s


def test_rainflow_cycles_spark_matches_python(spark):
    from collections import defaultdict

    from sensor_time_series_pyspark_spark.operators import (
        rainflow_count,
        rainflow_cycles,
    )

    series = {
        1: [-2, 1, -3, 5, -1, 3, -4, 4, -2],
        2: [0, 10, 0, 10, 0],
        3: [7],
    }
    rows = [
        (uid, i, v) for uid, vs in series.items() for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, ["user_id", "seq", "xc"])
    got = {
        (r["user_id"], r["rng"], r["mean2"], r["is_full"]): r["n_cycles"]
        for r in rainflow_cycles(df, "user_id", "seq", "xc").collect()
    }
    want = defaultdict(int)
    for uid, vs in series.items():
        for rng, mean2, full in rainflow_count(vs):
            want[(uid, rng, mean2, full)] += 1
    assert got == dict(want)


# ---- zero-job split dispatch (plan-statistics bound) --------------------


def test_plan_row_count_bound_on_materialized_cache(spark):
    from sensor_time_series_pyspark_spark.operators.dispatch import (
        plan_row_count_bound,
    )

    df = spark.range(1000).selectExpr("id % 7 AS k", "id AS v").cache()
    try:
        assert plan_row_count_bound(df) is None or True  # pre-action: unknown is fine
        df.count()  # materialize -> InMemoryRelation stats know rows
        assert plan_row_count_bound(df) == 1000.0
    finally:
        df.unpersist()


def test_should_split_zero_job_path_skips_sampling(spark, monkeypatch):
    import sensor_time_series_pyspark_spark.operators.dispatch as dsp

    df = spark.range(5000).selectExpr("id % 3 AS k").cache()
    try:
        df.count()

        def boom(*a, **k):
            raise AssertionError("sampling job ran on the zero-job path")

        monkeypatch.setattr(dsp, "estimate_hot_key_rows", boom)
        # total rows (5000) <= crossover -> hottest key can't cross it:
        # decision must come from plan stats alone
        assert dsp.should_split(df, ["k"], hot_rows_crossover=10_000) is False
    finally:
        df.unpersist()


def test_should_split_falls_back_to_sampling_when_bound_inconclusive(
    spark, monkeypatch
):
    import sensor_time_series_pyspark_spark.operators.dispatch as dsp

    df = spark.range(2000).selectExpr("id % 2 AS k").cache()
    try:
        df.count()
        calls = []
        real = dsp.estimate_hot_key_rows

        def spy(*a, **k):
            calls.append(1)
            return real(*a, **k)

        monkeypatch.setattr(dsp, "estimate_hot_key_rows", spy)
        # total rows (2000) > crossover (100): the bound is
        # inconclusive and the sampling estimate must run
        out = dsp.should_split(
            df, ["k"], hot_rows_crossover=100, sample_fraction=1.0
        )
        assert calls == [1]
        assert out is True  # hottest key has ~1000 rows > 100
    finally:
        df.unpersist()
