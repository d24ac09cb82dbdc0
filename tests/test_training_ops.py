"""Unit + invariant tests for the training-pipeline operators added in
round 2: deterministic hash sampling/splits, rate-of-change, MAD
outliers, BM25 ranking, sequence packing, and the portable
MinHash/SRP variants (SURVEY.md §5 strategy #2/#3)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.operators import (
    bm25_rank,
    hash_sample,
    hash_split,
    jaccard_pairs,
    mad_outliers,
    minhash_pairs,
    pack_offsets,
    rate_of_change,
    srp_signature_portable,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


# ---------------------------------------------------------------- sampling


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.createDataFrame(
        [(i, i % 7) for i in range(2000)], "id long, grp int"
    )


def test_hash_sample_deterministic_and_sized(spark, keyed):
    a = hash_sample(keyed, "id", 0.25).collect()
    b = hash_sample(keyed, "id", 0.25, salt="").collect()
    assert sorted(r["id"] for r in a) == sorted(r["id"] for r in b)
    # uniform to 2^-32: 2000 draws at p=.25 → ±5σ ≈ ±97
    assert 400 <= len(a) <= 600
    # repartitioning must not change membership (unlike df.sample)
    c = hash_sample(keyed.repartition(13), "id", 0.25).collect()
    assert sorted(r["id"] for r in c) == sorted(r["id"] for r in a)


def test_hash_sample_salt_decorrelates(spark, keyed):
    a = {r["id"] for r in hash_sample(keyed, "id", 0.25, salt="s1").collect()}
    b = {r["id"] for r in hash_sample(keyed, "id", 0.25, salt="s2").collect()}
    assert a != b
    # independent samples: overlap ≈ p² = 6.25% of the frame
    assert len(a & b) < 2000 * 0.25


def test_hash_split_partition_and_consistency(spark, keyed):
    out = hash_split(keyed, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # same key ⇒ same split, always: a duplicated frame changes nothing
    dup = hash_split(keyed.union(keyed), "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert dup.select("id", "split").distinct().count() == 2000


def test_hash_split_rejects_bad_weights(keyed):
    with pytest.raises(ValueError):
        hash_split(keyed, "id", {"a": 0.5, "b": 0.2})


# ------------------------------------------------------------ rate of change


def test_rate_of_change_basic(spark):
    df = spark.createDataFrame(
        [
            (1, ts("2020-01-01T00:00:00"), 10.0),
            (1, ts("2020-01-01T00:00:10"), 15.0),
            (1, ts("2020-01-01T00:00:10"), 99.0),  # duplicate ts → NULL
            (2, ts("2020-01-01T00:00:00"), 1.0),
        ],
        "k int, t timestamp, v double",
    )
    out = {
        (r["k"], str(r["t"]), r["v"]): r["rate"]
        for r in rate_of_change(df, "t", "v", ["k"]).collect()
    }
    assert out[(1, "2020-01-01 00:00:00", 10.0)] is None  # series head
    assert out[(1, "2020-01-01 00:00:10", 15.0)] == pytest.approx(0.5)
    assert out[(2, "2020-01-01 00:00:00", 1.0)] is None
    # zero Δt yields NULL, not ±inf
    assert out[(1, "2020-01-01 00:00:10", 99.0)] is None


# ------------------------------------------------------------- MAD outliers


def test_mad_outliers_flags_only_the_spike(spark):
    rows = [("a", float(v)) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
    rows += [("b", float(v)) for v in range(10)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mad_outliers(df, "v", ["g"], n_mads=5.0).collect()
    assert [(r["g"], r["v"]) for r in out] == [("a", 1000.0)]
    # med/mad are the robust estimates of the CONTAMINATED group
    r = out[0]
    assert r["med"] == pytest.approx(5.5)
    assert r["mad"] == pytest.approx(2.5)


def test_mad_outliers_immune_to_variance_masking(spark):
    # classical 3σ misses this: the outlier inflates stddev to ~300
    # so |1000-mean| < 3σ fails to flag; MAD flags it
    vals = [float(v) for v in range(20)] + [1000.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    flagged = mad_outliers(df, "v", ["g"], n_mads=5.0).collect()
    assert [r["v"] for r in flagged] == [1000.0]


# --------------------------------------------------------------------- BM25


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "quantum entanglement of cat states"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_prefers_rare_terms(spark, docs):
    out = bm25_rank(docs, "doc_id", "text", top_n=2)
    top = {
        r["id"]: r["term"]
        for r in out.where(F.col("rank") == 1).collect()
    }
    # 'the' appears everywhere → low idf; the discriminative token wins
    assert top[1] in {"cat", "mat"}
    assert top[2] in {"dog", "log"}
    assert top[3] in {"quantum", "entanglement", "states"}
    # contract: top_n rows max per doc, ranks contiguous from 1
    per = out.groupBy("id").agg(F.max("rank").alias("mx"), F.count(F.lit(1)).alias("n"))
    assert all(r["mx"] == r["n"] <= 2 for r in per.collect())


# ------------------------------------------------------------------ packing


def test_pack_offsets_contiguous_layout(spark):
    df = spark.createDataFrame(
        [(1, "x", 5), (2, "x", 7), (3, "x", 4), (10, "y", 9)],
        "doc_id long, src string, n int",
    )
    out = {
        r["id"]: (r["offset"], r["chunk_id"])
        for r in pack_offsets(
            df, "doc_id", "n", budget=8, partition_by=["src"]
        ).collect()
    }
    # x-stream: offsets 0,5,12 → chunks 0,0,1 ; y restarts at 0
    assert out[1] == (0, 0)
    assert out[2] == (5, 0)
    assert out[3] == (12, 1)
    assert out[10] == (0, 0)


def test_pack_offsets_conservation(spark, sf_dir):
    # conservation law on real docs: last offset + last n_tokens ==
    # total tokens, per partition group
    from sensor_time_series_pyspark_spark.functions.text import token_count
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = pack_offsets(docs, "doc_id", token_count("text"), budget=512,
                       partition_by=["lang"])
    per = out.groupBy("lang").agg(
        F.max(F.col("offset") + F.col("n_tokens")).alias("end"),
        F.sum("n_tokens").alias("total"),
    )
    assert all(r["end"] == r["total"] for r in per.collect())


# ------------------------------------------- portable MinHash / SRP variants


def test_minhash_pairs_subset_of_exact_jaccard(spark, sf_dir):
    from sensor_time_series_pyspark_spark.operators import exact_dedup
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    reps = exact_dedup(read_table(spark, sf_dir, "documents"), "text", "doc_id")
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(reps, "doc_id", "text", threshold=0.35,
                               shingle_k=2).collect()
    }
    mh = minhash_pairs(reps, "doc_id", "text", threshold=0.35, shingle_k=2)
    got = {(r["id_a"], r["id_b"]) for r in mh.collect()}
    # precision 1.0 (exact verify); recall bounded by the S-curve —
    # at this corpus's similarity levels expect most pairs back
    assert got <= exact
    if exact:
        assert len(got) >= len(exact) * 0.5


def test_simhash_portable_near_dups_collide(spark):
    from sensor_time_series_pyspark_spark.operators import simhash_pairs_portable

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy", 1)),  # one shingle's difference
        (3, "completely different content about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs_portable(
            df, "doc_id", "text", max_hamming=10, shingle_k=2
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_bytestats_decoder_exact_values(spark):
    from sensor_time_series_pyspark_spark.operators import decode_features

    df = spark.createDataFrame([(1, bytearray(b"Az \n"))], "id long, blob binary")
    out = decode_features(df, "blob", ["id"], dim=8, decoder="bytestats").collect()
    feats = [int(x) for x in out[0]["features"]]
    # [n, sum, min, max, n<33, n>127, first, last] of b"Az \n"
    assert feats == [4, 65 + 122 + 32 + 10, 10, 122, 2, 0, 65, 10]


def test_srp_portable_hamming_tracks_cosine(spark):
    import math

    rows = [
        (1, [1.0] * 8 + [0.0] * 56),
        (2, [1.0] * 8 + [0.0] * 56),      # identical → hamming 0
        (3, [-1.0] * 8 + [0.0] * 56),     # opposite → hamming ≈ n_bits
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sig = {
        r["vec_id"]: r["srp_sig"]
        for r in srp_signature_portable(df, "embedding", dim=64, n_bits=16).collect()
    }
    assert sig[1] == sig[2]
    # opposite vectors flip every bit whose plane-dot ≠ 0; with ±1
    # planes over 8 active dims the dot is 0 with prob C(8,4)/2^8 ≈ 27%
    # (no flip), so expect ~11.7 of 16 flips — assert a safe floor
    assert bin(sig[1] ^ sig[3]).count("1") >= 8


# ---------------------------------------------------------- analytics


def test_funnel_ordered_semantics(spark):
    from sensor_time_series_pyspark_spark.operators import funnel

    rows = [
        # u1: full journey in order
        (1, ts("2024-01-01T00:00:00"), "view"),
        (1, ts("2024-01-01T00:10:00"), "click"),
        (1, ts("2024-01-01T00:20:00"), "purchase"),
        # u2: purchase BEFORE click — must not count as step 3
        (2, ts("2024-01-01T00:00:00"), "view"),
        (2, ts("2024-01-01T00:05:00"), "purchase"),
        (2, ts("2024-01-01T00:10:00"), "click"),
        # u3: view only
        (3, ts("2024-01-01T00:00:00"), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    from pyspark.sql import functions as F

    out = {
        r["step_name"]: r["n_users"]
        for r in funnel(
            df, "user_id", "ts",
            steps=[
                ("view", F.col("event_type") == "view"),
                ("click", F.col("event_type") == "click"),
                ("purchase", F.col("event_type") == "purchase"),
            ],
        ).collect()
    }
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_funnel_within_window(spark):
    from pyspark.sql import functions as F

    from sensor_time_series_pyspark_spark.operators import funnel

    rows = [
        (1, ts("2024-01-01T00:00:00"), "view"),
        (1, ts("2024-01-03T00:00:00"), "click"),  # 2 days later
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["step_name"]: r["n_users"]
        for r in funnel(
            df, "user_id", "ts",
            steps=[
                ("view", F.col("event_type") == "view"),
                ("click", F.col("event_type") == "click"),
            ],
            within_seconds=86400,
        ).collect()
    }
    assert out == {"view": 1, "click": 0}


def test_cohort_retention_counts(spark):
    from sensor_time_series_pyspark_spark.operators import cohort_retention

    rows = [
        (1, ts("2024-01-01T10:00:00")),  # cohort 01-01
        (1, ts("2024-01-02T10:00:00")),  # back on day 1
        (1, ts("2024-01-02T23:00:00")),  # same day twice -> counted once
        (2, ts("2024-01-01T11:00:00")),  # cohort 01-01, never returns
        (3, ts("2024-01-02T00:00:00")),  # cohort 01-02
        (3, ts("2024-01-09T00:00:00")),  # day 7
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (str(r["cohort_day"]), r["day_offset"]): (r["n_active"], r["n_cohort"])
        for r in cohort_retention(df, "user_id", "ts", offsets=[1, 7]).collect()
    }
    assert out == {
        ("2024-01-01", 1): (1, 2),
        ("2024-01-02", 7): (1, 1),
    }
