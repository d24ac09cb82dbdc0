"""Round-3 batch-2 operators: winnowing, chunk dedup, token budget,
mixture weights, burst detection, peak detection, lag correlation,
k-core."""

import pytest
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.operators.analytics import (
    burst_detect,
    local_peaks,
)
from sensor_time_series_pyspark_spark.operators.contamination import (
    chunk_dup_share,
)
from sensor_time_series_pyspark_spark.operators.dedup import winnow_fingerprints
from sensor_time_series_pyspark_spark.operators.drift import lag_corr
from sensor_time_series_pyspark_spark.operators.graph import kcore
from sensor_time_series_pyspark_spark.operators.sampling import (
    mixture_weights,
    token_budget_select,
)


# --- winnowing -------------------------------------------------------------

def test_winnowing_shared_run_shares_fingerprint(spark):
    # two docs share a run of w+k-1 = 6 tokens -> must share >= 1 fp
    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, "one two three " + shared), (2, shared + " nine ten eleven")],
        ["doc_id", "text"],
    )
    # recompute fingerprint SETS via the operator's internals: compare
    # via equality of at least one window-min -> use pair intersection
    from sensor_time_series_pyspark_spark.operators.dedup import (
        shingle_id_portable,
    )
    from sensor_time_series_pyspark_spark.functions.text import tokens

    out = winnow_fingerprints(docs, "doc_id", "text", k=3, w=4)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["n_fingerprints"] >= 1 and rows[2]["n_fingerprints"] >= 1
    # direct set check: build fp sets per doc with a tiny local mirror
    import hashlib

    def fps(text, k=3, w=4):
        t = text.split()
        grams = [" ".join(t[i:i + k]) for i in range(len(t) - k + 1)]
        ids = [
            int(hashlib.md5(g.encode()).hexdigest()[:12], 16) % 2147483647
            for g in grams
        ]
        n = len(ids)
        if n == 0:
            return set()
        if n < w:
            return {min(ids)}
        return {min(ids[p:p + w]) for p in range(0, n - w + 1)}

    s1 = fps("one two three " + shared)
    s2 = fps(shared + " nine ten eleven")
    assert s1 & s2, "winnowing guarantee: shared 6-token run -> shared fp"
    # operator counts match the local mirror
    assert rows[1]["n_fingerprints"] == len(s1)
    assert rows[2]["n_fingerprints"] == len(s2)


def test_winnowing_short_and_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d"), (3, "")], ["doc_id", "text"]
    )
    out = {r["id"]: r for r in winnow_fingerprints(
        docs, "doc_id", "text", k=3, w=4
    ).collect()}
    assert out[1]["n_grams"] == 0 and out[1]["n_fingerprints"] == 0
    assert out[2]["n_grams"] == 2 and out[2]["n_fingerprints"] == 1
    assert out[3]["n_grams"] == 0 and out[3]["n_fingerprints"] == 0


# --- chunk dedup -----------------------------------------------------------

def test_chunk_dup_share_planted(spark):
    boiler = "the quick brown fox jumps over lazy dogs"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique one two three four five six seven"),
            (2, boiler + " other eight nine ten eleven twelve thirteen x"),
            (3, "totally different words with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in chunk_dup_share(
        docs, "doc_id", "text", chunk_size=8
    ).collect()}
    assert out[1]["n_dup_chunks"] == 1 and out[2]["n_dup_chunks"] == 1
    assert out[3]["n_dup_chunks"] == 0
    assert out[1]["dup_share"] == 0.5


def test_chunk_dup_self_repeat_not_dup(spark):
    eight = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, eight + " " + eight), (2, "x y z")], ["doc_id", "text"]
    )
    out = {r["id"]: r for r in chunk_dup_share(
        docs, "doc_id", "text", chunk_size=8
    ).collect()}
    # doc 1 repeats its own chunk; df counts DISTINCT docs -> not dup
    assert out[1]["n_dup_chunks"] == 0


# --- token budget ----------------------------------------------------------

def test_token_budget_select(spark):
    docs = spark.createDataFrame(
        [(i, 10, 100 - i) for i in range(10)], ["doc_id", "toks", "score"]
    )
    out = token_budget_select(docs, "doc_id", "toks", "score", budget=35)
    rows = sorted(r["id"] for r in out.collect())
    # 10 tokens each, budget 35 -> 3 docs, highest scores = ids 0,1,2
    assert rows == [0, 1, 2]
    cums = [r["cum_tokens"] for r in out.orderBy("cum_tokens").collect()]
    assert cums == [10, 20, 30]


# --- mixture weights -------------------------------------------------------

def test_mixture_weights_equalize(spark):
    df = spark.createDataFrame(
        [("a", 30), ("a", 30), ("b", 20), ("c", 20)], ["g", "toks"]
    )
    out = {r["g"]: r for r in mixture_weights(df, ["g"], "toks").collect()}
    assert out["a"]["tokens"] == 60
    assert abs(out["a"]["token_share"] - 0.6) < 1e-12
    # weight * share == 1/n_groups for every group
    for r in out.values():
        assert abs(r["weight"] * r["token_share"] - 1 / 3) < 1e-12


# --- burst detection -------------------------------------------------------

def test_burst_detect(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("bot", t0 + dt.timedelta(seconds=i)) for i in range(10)]
    rows += [("human", t0 + dt.timedelta(hours=3 * i)) for i in range(10)]
    df = spark.createDataFrame(rows, ["user", "ts"])
    out = burst_detect(df, "user", "ts", window_seconds=60, min_events=5)
    got = {r["entity"]: r["max_burst"] for r in out.collect()}
    assert got == {"bot": 10}


# --- peak detection --------------------------------------------------------

def test_local_peaks(spark):
    vals = [1, 3, 2, 5, 5, 4, 7, 1]  # strict peaks: 3 (idx1), 7 (idx6)
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)], ["k", "t", "v"]
    )
    out = local_peaks(df, ["k"], "t", "v")
    got = sorted((r["ts"], r["value"]) for r in out.collect())
    assert got == [(1, 3), (6, 7)]  # plateau 5,5 is NOT a peak


# --- lag correlation -------------------------------------------------------

def test_lag_corr_planted_lag(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    xs = [5, 1, 4, 2, 8, 3, 9, 2, 7, 1, 6, 4]
    # y lags x by exactly 2 steps -> corr at lag 2 == 1
    a = [( t0 + dt.timedelta(hours=i), x) for i, x in enumerate(xs)]
    b = [( t0 + dt.timedelta(hours=i + 2), x) for i, x in enumerate(xs)]
    dfa = spark.createDataFrame(a, ["ts", "v"])
    dfb = spark.createDataFrame(b, ["ts", "v"])
    out = {r["lag"]: r for r in lag_corr(
        dfa, dfb, "ts", "v", max_lag=3, step_seconds=3600, decimals=0
    ).collect()}
    assert abs(out[2]["corr"] - 1.0) < 1e-12
    assert out[0]["corr"] is None or abs(out[0]["corr"]) < 1.0


# --- k-core ----------------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_kcore_clique_survives(spark):
    # K4 is a 3-core; a pendant chain is peeled away entirely
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(4, 5), (5, 6), (3, 4)]
    out = kcore(_edges(spark, k4 + chain), k=3).collect()
    assert sorted(r["node"] for r in out) == [0, 1, 2, 3]
    assert all(r["degree"] == 3 for r in out)


def test_kcore_chain_empty(spark):
    chain = [(i, i + 1) for i in range(6)]
    assert kcore(_edges(spark, chain), k=2).count() == 0


def test_kcore_cycle_is_2core(spark):
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    out = kcore(_edges(spark, cyc), k=2).collect()
    assert sorted(r["node"] for r in out) == [0, 1, 2, 3, 4]


# --- product quantization --------------------------------------------------

def test_pq_topk_recall_vs_exact(spark):
    from sensor_time_series_pyspark_spark.operators.similarity import (
        pq_topk_cosine_pivots,
        topk_cosine,
    )
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["qid"], r["cid"])
        for r in topk_cosine(emb, q, "vec_id", "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["qid"], r["cid"])
        for r in pq_topk_cosine_pivots(
            emb, q, "vec_id", "vec_id", "embedding",
            k=5, m=16, ks=16, oversample=8,
        ).collect()
    }
    assert len(approx) == len(exact) == 50
    assert len(approx & exact) / len(exact) >= 0.5


# --- Mann-Kendall / Theil-Sen ---------------------------------------------

def test_mann_kendall_monotone(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    up = [("up", t0 + dt.timedelta(days=i), i) for i in range(10)]
    down = [("down", t0 + dt.timedelta(days=i), 10 - i) for i in range(10)]
    flat = [("flat", t0 + dt.timedelta(days=i), 5) for i in range(10)]
    from sensor_time_series_pyspark_spark.operators.profile import mann_kendall

    df = spark.createDataFrame(up + down + flat, ["k", "t", "v"])
    out = {r["k"]: r for r in mann_kendall(df, ["k"], "t", "v").collect()}
    assert out["up"]["tau"] == 1.0 and out["down"]["tau"] == -1.0
    assert out["flat"]["s"] == 0 and out["flat"]["tau"] == 0.0


def test_theil_sen_recovers_line_with_outlier(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # y = 3 per day, one wild outlier; Theil-Sen still ~3/day
    rows = [("s", t0 + dt.timedelta(days=i), 3.0 * i) for i in range(11)]
    rows[5] = ("s", t0 + dt.timedelta(days=5), 1000.0)
    from sensor_time_series_pyspark_spark.operators.profile import theil_sen

    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = theil_sen(df, ["k"], "t", "v").collect()[0]
    slope_per_day = out["slope"] * 86400
    assert abs(slope_per_day - 3.0) < 1e-9


# --- group skewness --------------------------------------------------------

def test_group_skewness_matches_spark_builtin(spark):
    from sensor_time_series_pyspark_spark.operators.profile import group_skewness
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    ours = {r["event_type"]: r["skewness"] for r in group_skewness(
        ev, "value", ["event_type"]
    ).collect()}
    builtin = {r["event_type"]: r["sk"] for r in ev.groupBy("event_type").agg(
        F.skewness("value").alias("sk")
    ).collect()}
    for k, v in builtin.items():
        assert abs(ours[k] - v) < 1e-9, (k, ours[k], v)


def test_group_skewness_signs(spark):
    # right tail -> positive, symmetric -> ~0
    right = [("r", float(v)) for v in [1, 1, 1, 2, 2, 10]]
    sym = [("s", float(v)) for v in [1, 2, 3, 4, 5]]
    from sensor_time_series_pyspark_spark.operators.profile import group_skewness

    df = spark.createDataFrame(right + sym, ["k", "v"])
    out = {r["k"]: r["skewness"] for r in group_skewness(
        df, "v", ["k"], decimals=0
    ).collect()}
    assert out["r"] > 1.0 and abs(out["s"]) < 1e-12


# --- FPGrowth --------------------------------------------------------------

def test_fpgrowth_pair_counts_exact(spark):
    from sensor_time_series_pyspark_spark.ml.pipelines import fpgrowth_itemsets

    baskets = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b"]), (3, ["a", "c"]), (4, ["b"])],
        ["id", "items"],
    )
    out = {r["itemset"]: r["freq"] for r in fpgrowth_itemsets(
        baskets, "items", min_support=0.5, max_size=2
    ).collect()}
    # support >= 2 baskets: a(3), b(3), c(2), a|b(2), a|c(2)
    assert out == {"a": 3, "b": 3, "c": 2, "a|b": 2, "a|c": 2}


# --- mergeable moments / KS / AUC -----------------------------------------

def test_moment_rollup_equals_direct(spark):
    from sensor_time_series_pyspark_spark.operators.profile import (
        moment_partials,
        moment_rollup,
    )
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "d", F.date_trunc("day", F.col("ts"))
    )
    merged = {r["event_type"]: r for r in moment_rollup(
        moment_partials(ev, ["event_type", "d"], "value"), ["event_type"]
    ).collect()}
    direct = {r["event_type"]: r for r in ev.groupBy("event_type").agg(
        F.avg("value").alias("mean"), F.var_pop("value").alias("var")
    ).collect()}
    for k, r in direct.items():
        assert abs(merged[k]["mean"] - r["mean"]) < 1e-9
        assert abs(merged[k]["variance"] - r["var"]) < 1e-6


def test_ks_statistic_known(spark):
    from sensor_time_series_pyspark_spark.operators.profile import ks_statistic

    # identical distributions -> D == 0; disjoint -> D == 1
    same = [("a", float(v)) for v in range(10)] + [
        ("b", float(v)) for v in range(10)
    ]
    out = ks_statistic(spark.createDataFrame(same, ["g", "v"]), "g", "v", "a", "b")
    assert out.collect()[0]["d"] == 0.0
    disj = [("a", float(v)) for v in range(10)] + [
        ("b", float(v + 100)) for v in range(10)
    ]
    out = ks_statistic(spark.createDataFrame(disj, ["g", "v"]), "g", "v", "a", "b")
    assert out.collect()[0]["d"] == 1.0


def test_auc_known_values(spark):
    from sensor_time_series_pyspark_spark.operators.profile import auc_score

    # perfect separation -> 1.0; reversed -> 0.0; with scipy-checkable ties
    perfect = [(1, 10.0), (1, 9.0), (0, 2.0), (0, 1.0)]
    df = spark.createDataFrame(perfect, ["y", "s"])
    assert auc_score(df, "y", "s").collect()[0]["auc"] == 1.0
    rev = [(0, 10.0), (0, 9.0), (1, 2.0), (1, 1.0)]
    assert auc_score(
        spark.createDataFrame(rev, ["y", "s"]), "y", "s"
    ).collect()[0]["auc"] == 0.0
    # ties: pos scores {1,2}, neg {1,2} -> AUC 0.5 exactly
    tied = [(1, 1.0), (1, 2.0), (0, 1.0), (0, 2.0)]
    assert auc_score(
        spark.createDataFrame(tied, ["y", "s"]), "y", "s"
    ).collect()[0]["auc"] == 0.5


def test_auc_matches_sklearn_formula(spark):
    # hand-computed rank-sum on a small mixed sample
    from sensor_time_series_pyspark_spark.operators.profile import auc_score

    data = [(1, 3.0), (1, 2.0), (1, 2.0), (0, 2.0), (0, 1.0), (0, 0.5)]
    # ranks (avg for ties): 0.5->1, 1->2, 2->(3+4+5)/3=4, 3->6
    # sum ranks pos = 6 + 4 + 4 = 14; U = 14 - 3*4/2 = 8; AUC = 8/9
    out = auc_score(spark.createDataFrame(data, ["y", "s"]), "y", "s")
    assert abs(out.collect()[0]["auc"] - 8.0 / 9.0) < 1e-12


# --- UDTF surface ----------------------------------------------------------

def test_chunk_spans_udtf_matches_chunk_tokens(spark):
    from sensor_time_series_pyspark_spark.functions.udtfs import register_udtfs
    from sensor_time_series_pyspark_spark.operators.chunking import chunk_tokens

    register_udtfs(spark)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "")], ["doc_id", "text"]
    )
    docs.createOrReplaceTempView("udtf_docs")
    via_udtf = spark.sql(
        "SELECT d.doc_id AS id, c.chunk_id, c.chunk_text, c.n_tokens "
        "FROM udtf_docs d, LATERAL chunk_spans(d.text, 3) c"
    )
    via_cols = chunk_tokens(docs, "doc_id", "text", chunk_size=3)
    a = {tuple(r) for r in via_udtf.collect()}
    b = {tuple(r) for r in via_cols.select(
        "id", "chunk_id", "chunk_text", "n_tokens"
    ).collect()}
    assert a == b and len(a) == 4  # doc1 -> 3 chunks, doc2 -> 1, doc3 -> 0


# --- edge hardening --------------------------------------------------------

def test_burst_detect_ignores_null_ts(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("u", t0 + dt.timedelta(seconds=i)) for i in range(6)]
    rows.append(("u", None))
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    out = burst_detect(df, "user", "ts", window_seconds=60, min_events=5)
    assert out.collect()[0]["max_burst"] == 6  # null row excluded


def test_ks_statistic_empty_group_null_d(spark):
    from sensor_time_series_pyspark_spark.operators.profile import ks_statistic

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], ["g", "v"])
    row = ks_statistic(df, "g", "v", "a", "b").collect()[0]
    assert row["n_b"] == 0 and row["d"] is None


def test_lag_corr_validates_params(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1,)], ["x"])
    with _pytest.raises(ValueError):
        lag_corr(df, df, "x", "x", max_lag=3, step_seconds=0)


def test_mixture_weights_zero_token_group(spark):
    df = spark.createDataFrame([("a", 10), ("b", 0)], ["g", "toks"])
    out = {r["g"]: r for r in mixture_weights(df, ["g"], "toks").collect()}
    assert out["b"]["weight"] is None and out["a"]["weight"] is not None


# --- plan diagnostics ------------------------------------------------------

def test_plan_summary_and_budget(spark):
    from sensor_time_series_pyspark_spark.functions.diagnostics import (
        assert_plan_budget,
        plan_summary,
    )
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    li = read_table(spark, "/root/testdata/sf0.001", "lineitem")
    agg = li.where(F.col("l_quantity") > 10).groupBy("l_returnflag").count()
    s = plan_summary(agg)
    assert s["n_exchanges"] == 1 and not s["python_eval"] and not s["cartesian"]
    assert any("l_quantity" in f for f in s["pushed_filters"])
    assert_plan_budget(agg, max_exchanges=1)
    import pytest as _p
    with _p.raises(AssertionError):
        assert_plan_budget(agg, max_exchanges=0)
    # cartesian detection
    cross = li.crossJoin(read_table(spark, "/root/testdata/sf0.001", "nation"))
    with _p.raises(AssertionError):
        assert_plan_budget(cross)
