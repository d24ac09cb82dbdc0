"""Similarity-search operators not covered by the oracle gate:
BRP-LSH radius join (recall vs exact), SRP signatures (cosine-hamming
correlation), embedding near-dup equivalence."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.vectors import cosine_similarity, dot
from sensor_time_series_pyspark_spark.operators import (
    brp_lsh_join,
    embedding_near_dup_pairs,
    srp_signature_portable,
    topk_cosine,
)
from sensor_time_series_pyspark_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF, "embeddings").where(F.col("vec_id") < 200)


def test_brp_lsh_join_finds_close_pairs(spark, emb):
    """Every pair the LSH join emits must truly be within the radius
    (precision is exact by construction); and with enough hash tables
    it should find a decent share of the true pairs (recall)."""
    radius = 1.0
    got = brp_lsh_join(
        emb, emb, "vec_id", "vec_id", "embedding",
        distance_threshold=radius, num_hash_tables=8,
    ).where(F.col("id_a") < F.col("id_b"))
    rows = got.collect()
    for r in rows:
        assert r["euclidean_dist"] <= radius + 1e-9

    # exact truth via self-join
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    d2 = dot("va", "va") + dot("vb", "vb") - 2 * dot("va", "vb")
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(F.sqrt(F.greatest(d2, F.lit(0.0))) <= radius)
        .count()
    )
    if truth:
        assert len(rows) / truth >= 0.5, f"recall {len(rows)}/{truth} too low"


def test_srp_signature_tracks_cosine(spark, emb):
    """SRP theory: P(bit differs) = angle/pi, so signature hamming
    distance must correlate with angular distance. Check the mean
    normalized hamming of the 20 MOST similar pairs is lower than the
    20 LEAST similar."""
    sigs = srp_signature_portable(emb, "embedding", dim=64, n_bits=63, seed=7)
    a = sigs.select(F.col("vec_id").alias("ia"), F.col("srp_sig").alias("sa"),
                    F.col("embedding").alias("va"))
    b = sigs.select(F.col("vec_id").alias("ib"), F.col("srp_sig").alias("sb"),
                    F.col("embedding").alias("vb"))
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            cosine_similarity("va", "vb").alias("cos"),
            F.bit_count(F.expr("sa ^ sb")).alias("ham"),
        )
    )
    top = pairs.orderBy(F.col("cos").desc()).limit(20).agg(F.avg("ham")).first()[0]
    bottom = pairs.orderBy(F.col("cos").asc()).limit(20).agg(F.avg("ham")).first()[0]
    assert top < bottom, f"SRP hamming not tracking cosine: {top} !< {bottom}"


def test_embedding_near_dup_matches_topk_scores(spark, emb):
    """near-dup pairs at threshold t == the symmetric filter of the
    exact pairwise cosine — cross-check against an independent
    computation (topk with huge k)."""
    t = 0.4
    pairs = embedding_near_dup_pairs(emb, "vec_id", "embedding", cosine_threshold=t)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    scored = topk_cosine(emb, emb, "vec_id", "vec_id", "embedding", k=10**6)
    want = {
        (min(r["qid"], r["cid"]), max(r["qid"], r["cid"]))
        for r in scored.where(F.col("cosine") >= t).collect()
    }
    assert got == want


def test_ivf_topk_recall_vs_exact(spark, emb):
    """IVF with n_probe < n_cells must still recover most of the exact
    top-5 (random near-orthogonal vectors are the HARD case for IVF —
    cells barely separate, so demand a modest 60%); with
    n_probe == n_cells it must be EXACT."""
    from sensor_time_series_pyspark_spark.operators import ivf_topk_cosine

    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["qid"], r["cid"])
        for r in topk_cosine(emb, queries, "vec_id", "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["qid"], r["cid"])
        for r in ivf_topk_cosine(
            emb, queries, "vec_id", "vec_id", "embedding", k=5, n_cells=8, n_probe=4
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.6

    full = {
        (r["qid"], r["cid"])
        for r in ivf_topk_cosine(
            emb, queries, "vec_id", "vec_id", "embedding", k=5, n_cells=8, n_probe=8
        ).collect()
    }
    assert full == exact


def test_ivf_pivots_recall_and_exactness(spark, emb):
    """The engine-portable pivot IVF (q47's gated path) obeys the same
    contracts as the KMeans variant: n_probe == n_cells ⇒ exactly the
    brute-force top-5; n_probe < n_cells keeps modest recall on the
    near-orthogonal hard case; every cell id is within 1..n_cells."""
    from sensor_time_series_pyspark_spark.operators import (
        ivf_topk_cosine_pivots,
    )

    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["qid"], r["cid"])
        for r in topk_cosine(
            emb, queries, "vec_id", "vec_id", "embedding", k=5
        ).collect()
    }
    approx = {
        (r["qid"], r["cid"])
        for r in ivf_topk_cosine_pivots(
            emb, queries, "vec_id", "vec_id", "embedding",
            k=5, n_cells=8, n_probe=4,
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5

    full = {
        (r["qid"], r["cid"])
        for r in ivf_topk_cosine_pivots(
            emb, queries, "vec_id", "vec_id", "embedding",
            k=5, n_cells=8, n_probe=8,
        ).collect()
    }
    assert full == exact


def test_quantize_vec_exactness(spark):
    """quantize_vec must be floor(x·2^20) exactly (power-of-two scale:
    the multiply shifts the exponent, no rounding)."""
    import math

    from sensor_time_series_pyspark_spark.operators import quantize_vec

    vals = [0.1, -0.5252062082290649, 0.4583735167980194, 0.0, -1e-9]
    df = spark.createDataFrame([(vals,)], "v array<double>")
    out = df.select(quantize_vec("v").alias("q")).collect()[0]["q"]
    assert out == [math.floor(v * (1 << 20)) for v in vals]


def test_quantize_int8_reconstruction(spark, sf_dir):
    """Dequantized vectors must keep cosine >= 0.999 with the original
    and bound per-element error by scale/2 — the rerank-on-originals
    contract for quantized retrieval."""
    from pyspark.sql import functions as F

    from sensor_time_series_pyspark_spark.functions.vectors import (
        cosine_similarity,
        dequantize_int8,
        quantize_int8,
    )
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    qz = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("orig"),
        quantize_int8("embedding").alias("qs"),
    ).withColumn("recon", dequantize_int8("qs"))
    checked = qz.select(
        cosine_similarity("orig", "recon").alias("cos"),
        F.array_max(
            F.zip_with("orig", "recon", lambda a, b: F.abs(a - b))
        ).alias("max_err"),
        (F.col("qs")["scale"] / 2 + 1e-12).alias("bound"),
    ).collect()
    assert checked
    for r in checked:
        assert r.cos >= 0.999
        assert r.max_err <= r.bound
