"""Round-10 OPTIMIZATION-round focused tests: internals changed for
performance keep their observable semantics.

- hashed_ngrams_from_tokens (the span-dedup family's gram identity)
  must preserve exactly the equality structure of the string grams it
  replaced: same gram count per doc, and hashes collide exactly where
  the gram strings are equal (on real data — the 2^-64 accidental
  collision is not reachable in a test).
- rainflow_cycles' Arrow-UDF rewrite must keep the empty-series
  contract of the applyInPandas original: entities whose series
  yields no cycles produce NO rows (explode, not explode_outer).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import (
    hashed_ngrams_from_tokens,
    ngrams_from_tokens,
    tokens,
)
from sensor_time_series_pyspark_spark.operators.rainflow import (
    rainflow_cycles,
)


DOCS = [
    (1, "a b c d e f g a b c d e"),
    (2, "x a b c d e y"),
    (3, "a b c d e"),            # exactly k tokens -> one gram (k=5)
    (4, "a b c d"),              # k-1 tokens -> no grams
    (5, ""),                     # empty -> no grams
    (6, "a a a a a a"),          # repeated token, distinct positions
]


@pytest.mark.parametrize("k", [1, 2, 5])
def test_hashed_ngrams_equality_structure_matches_strings(spark, k):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    both = df.select(
        "doc_id",
        ngrams_from_tokens(tokens("text"), k).alias("gs"),
        hashed_ngrams_from_tokens(tokens("text"), k).alias("gh"),
    )
    rows = both.collect()
    # same per-position count, and the hash sequence factors through
    # the string sequence: equal strings <-> equal hashes, across ALL
    # positions of ALL docs
    str_to_hash: dict[str, int] = {}
    hash_to_str: dict[int, str] = {}
    n_positions = 0
    for r in rows:
        gs = [str(g) for g in (r["gs"] or [])]
        gh = list(r["gh"] or [])
        assert len(gs) == len(gh), f"doc {r['doc_id']}: count mismatch"
        for s, h in zip(gs, gh):
            n_positions += 1
            assert str_to_hash.setdefault(s, h) == h, (
                f"same gram {s!r} hashed differently"
            )
            assert hash_to_str.setdefault(h, s) == s, (
                f"hash collision between {hash_to_str[h]!r} and {s!r}"
            )
    assert n_positions > 0


def test_hashed_ngrams_k1_is_token_hashes(spark):
    df = spark.createDataFrame([(1, "p q r")], "doc_id long, text string")
    got = df.select(
        hashed_ngrams_from_tokens(tokens("text"), 1).alias("gh"),
        F.transform(tokens("text"), lambda t: F.xxhash64(t)).alias("th"),
    ).first()
    assert list(got["gh"]) == list(got["th"])


def test_rainflow_empty_and_flat_series_emit_no_cycles(spark):
    # entity 1: constant series -> 1 turning point -> no cycles at all
    # entity 2: single sample -> no cycles
    # entity 3: a simple ramp -> exactly one residual half cycle
    rows = [
        (1, 0, 5), (1, 1, 5), (1, 2, 5),
        (2, 0, 7),
        (3, 0, 1), (3, 1, 9),
    ]
    df = spark.createDataFrame(rows, "uid long, t int, x long")
    out = rainflow_cycles(df, "uid", "t", "x").collect()
    by_uid = {}
    for r in out:
        by_uid.setdefault(r["uid"], []).append(r)
    assert 1 not in by_uid and 2 not in by_uid
    assert len(by_uid[3]) == 1
    (c,) = by_uid[3]
    assert (c["rng"], c["mean2"], c["is_full"], c["n_cycles"]) == (
        8, 10, 0, 1,
    )
