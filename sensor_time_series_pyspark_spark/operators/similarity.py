"""Similarity search over embedding columns (north-star extension).

- ``topk_cosine``: exact brute-force top-k — the correctness baseline.
  Queries broadcast to every executor; corpus never shuffles; the
  per-query ranking is a window over (query, score). At 100 TB corpus ×
  few queries this is a single scan — the right plan.
- ``brp_lsh_join``: bucketed random-projection LSH (pyspark.ml) for
  radius joins at corpus×corpus scale.
- ``srp_signature_portable``: cosine-LSH signature (±1 hyperplane sign
  bits over integer-scaled components) as a column, for banded
  candidate generation — pairs with small signature hamming have high
  cosine w.h.p.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot, l2_norm


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k nearest corpus rows per query by cosine.

    Output: query_id, corpus_id, rank (1..k), cosine. Deterministic
    tiebreak on corpus id. The join is a broadcast nested loop
    (queries are small by construction); the heavy side streams.
    """
    # Precompute each side's L2 norm BEFORE the join: cosine needs
    # dot(a,b)/(|a||b|), and computing |a|,|b| per PAIR triples the
    # per-pair array work (the norms are per-row quantities — corpus
    # norms were being recomputed once per query and vice versa).
    # Post-join, each pair does exactly one dot product.
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
    )
    scored = c.join(F.broadcast(q), F.col("qid") != F.col("cid")).withColumn(
        "cosine", dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank", "cosine")
    )


def brp_lsh_join(
    a: DataFrame,
    b: DataFrame,
    id_a: str,
    id_b: str,
    vec_col: str,
    distance_threshold: float,
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Euclidean radius join via BucketedRandomProjectionLSH.
    Output: id_a, id_b, euclidean_dist (exact on matched candidates)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    va = a.select(F.col(id_a).alias("id"), array_to_vector(F.col(vec_col)).alias("v"))
    vb = b.select(F.col(id_b).alias("id"), array_to_vector(F.col(vec_col)).alias("v"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="sig", bucketLength=bucket_length,
        numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(va)
    joined = model.approxSimilarityJoin(va, vb, distance_threshold, distCol="euclidean_dist")
    return joined.select(
        F.col("datasetA.id").alias("id_a"),
        F.col("datasetB.id").alias("id_b"),
        F.col("euclidean_dist"),
    )


def srp_planes_rademacher(dim: int, n_bits: int, seed: int = 42) -> list[list[int]]:
    """Seeded ±1 (Rademacher) hyperplanes. Sign-projection with ±1
    entries is a standard SRP variant (Achlioptas-style sparse/signed
    projections preserve the cosine-LSH guarantee), and the constants
    are plain ints from ``random.Random`` — stable across library
    versions, bakeable into oracle SQL."""
    import random

    rnd = random.Random(seed)
    return [
        [1 if rnd.random() < 0.5 else -1 for _ in range(dim)]
        for _ in range(n_bits)
    ]


def srp_signature_portable(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_bits: int = 16,
    seed: int = 42,
    scale_bits: int = 20,
) -> DataFrame:
    """Engine-portable SRP signature: ±1 hyperplanes over INTEGER-scaled
    components, so every arithmetic step is exact and order-independent
    — the signature is reproducible in ANSI SQL bit-for-bit (q39's
    oracle), unlike float dot products whose low bits depend on
    summation order.

    Each float32 component x becomes floor(x * 2^scale_bits) (double
    multiply by a power of two is exact; floor is deterministic); the
    per-plane dot is a sum of 64-bit ints (< 2^33 total — no overflow);
    bit b of ``srp_sig`` is 1 iff the signed sum > 0. P(bit differs) ≈
    angle/π still holds — the quantization perturbs only dots within
    2^-scale_bits·dim of zero.
    """
    planes = srp_planes_rademacher(dim, n_bits, seed)
    v = F.col(vec_col)
    scaled = F.transform(
        v, lambda x: F.floor(x.cast("double") * F.lit(float(1 << scale_bits))).cast("long")
    )
    df = df.withColumn("__s", scaled)
    sig = F.lit(0).cast("long")
    for b in range(n_bits):
        plane = F.array(*[F.lit(p).cast("long") for p in planes[b]])
        dot = F.aggregate(
            F.zip_with(F.col("__s"), plane, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return df.withColumn("srp_sig", sig).drop("__s")


def ivf_topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine — the scale path
    when brute force's full corpus scan per query batch is too much.

    Build: seeded KMeans partitions the corpus into ``n_cells`` cells
    (one extra column on the corpus — amortized across queries; persist
    it in production). Search: each query scores only the ``n_probe``
    nearest cells' members — a fraction n_probe/n_cells of the corpus —
    via an equi-join on cell id, so the probe is a hash join, not a
    scan. Recall is tunable with n_probe (== n_cells ⇒ exact).

    Output: qid, cid, rank, cosine (same contract as topk_cosine).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c_vecs = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
        array_to_vector(F.col(vec_col)).alias("__mlvec"),
    )
    km = KMeans(k=n_cells, seed=seed, featuresCol="__mlvec", predictionCol="__cell")
    model = km.fit(c_vecs)
    assigned = model.transform(c_vecs).select("cid", "cv", "cn", "__cell")

    # centroids as a tiny DataFrame: query → n_probe nearest cells
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "__cell int, centroid array<double>",
    )
    q_vecs = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    q_cells = (
        q_vecs.join(F.broadcast(cents))
        .withColumn("__sim", cosine_similarity("qv", "centroid"))
    )
    w_probe = Window.partitionBy("qid").orderBy(F.col("__sim").desc(), F.col("__cell"))
    probes = (
        q_cells.withColumn("__pr", F.row_number().over(w_probe))
        .where(F.col("__pr") <= n_probe)
        .select("qid", "qv", "qn", "__cell")
    )

    # per-pair cost = one dot product; norms were computed per row above
    scored = (
        assigned.join(probes, "__cell")
        .where(F.col("qid") != F.col("cid"))
        .withColumn("cosine", dot("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank", "cosine")
    )


def quantize_vec(vec_col: str | F.Column, scale: int = 1 << 20) -> F.Column:
    """Integer-quantize a float vector: floor(x · 2^20) per component.

    The scale is a POWER OF TWO, so the double multiply only shifts the
    exponent (no mantissa rounding) and ``floor`` is exact — the
    quantized vector is bit-identical in every engine. |x| < 2 ⇒
    |xq| < 2^21 ⇒ a 64-dim squared distance ≤ 64·(2^22)² < 2^50, safely
    inside bigint."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * scale).cast("long")
    )


def _int_d2(a: str, b: str) -> F.Column:
    """Exact integer squared L2 distance between two long-vectors."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def ivf_topk_cosine_pivots(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """Engine-portable IVF top-k cosine: the coarse quantizer is
    "nearest of ``n_cells`` PIVOT vectors" instead of KMeans centroids.

    Pivots are the corpus vectors with the smallest md5(id) (the repo's
    deterministic-sampling convention — an order any engine reproduces),
    and BOTH the corpus→cell assignment and the query→probe ranking
    compare EXACT INTEGER squared distances on 2^20-quantized vectors
    (quantize_vec), so cell membership has no float tie-break ambiguity
    at all: the inverted lists are bit-identical across engines, which
    is what lets q47 gate ranks like q23 (cosine gaps ≫ float error
    within a fixed candidate set).

    Same search shape as ivf_topk_cosine (KMeans variant, kept for the
    pyspark.ml surface): broadcast the tiny pivot table, one map-side
    assignment pass over the corpus, probe via an equi-join on cell id
    — a fraction n_probe/n_cells of the corpus per query, never a full
    scan. Random-pivot coarse quantizers are a standard IVF variant
    (the k-means fit is an accuracy optimization, not a structural
    requirement); recall stays tunable with n_probe.

    Output: qid, cid, rank, cosine.
    """
    pivots = (
        corpus.select(
            F.col(corpus_id).alias("pid"),
            quantize_vec(vec_col).alias("pq_vec"),
            F.md5(F.col(corpus_id).cast("string")).alias("h"),
        )
        .orderBy("h", "pid")
        .limit(n_cells)
    )
    w_piv = Window.orderBy("h", "pid")
    pivots = pivots.withColumn(
        "cell", F.row_number().over(w_piv).cast("int")
    ).select("cell", "pq_vec")

    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
        quantize_vec(vec_col).alias("cq"),
    )
    w_assign = Window.partitionBy("cid").orderBy("d2", "cell")
    assigned = (
        c.join(F.broadcast(pivots))
        .withColumn("d2", _int_d2("cq", "pq_vec"))
        .withColumn("r", F.row_number().over(w_assign))
        .where(F.col("r") == 1)
        .select("cid", "cv", "cn", "cell")
    )

    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
        quantize_vec(vec_col).alias("qq"),
    )
    w_probe = Window.partitionBy("qid").orderBy("d2", "cell")
    probes = (
        q.join(F.broadcast(pivots))
        .withColumn("d2", _int_d2("qq", "pq_vec"))
        .withColumn("r", F.row_number().over(w_probe))
        .where(F.col("r") <= n_probe)
        .select("qid", "qv", "qn", "cell")
    )

    scored = (
        assigned.join(probes, "cell")
        .where(F.col("qid") != F.col("cid"))
        .withColumn("cosine", dot("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank", "cosine")
    )


def pq_topk_cosine_pivots(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int = 5,
    m: int = 16,
    ks: int = 16,
    oversample: int = 8,
) -> DataFrame:
    """Engine-portable product-quantization top-k: the ADC scan over
    INTEGER-quantized codebooks — the round-10 promotion path that
    gives q190 a hash-gated oracle, exactly as ivf_topk_cosine_pivots
    did for q47.

    Portability argument, stage by stage: the codebook is the ks
    corpus vectors with the smallest md5(id) (the repo's deterministic
    sampling convention), each 2^20-quantized (quantize_vec — floor of
    an exponent shift, bit-identical everywhere), and subspace s's
    centroid table is just those pivots' s-th slices. Encoding is an
    exact integer argmin (smallest code on ties) per subspace; the ADC
    score is a SUM OF INTEGER DOT PRODUCTS (query slice x centroid
    slice, |x|<2 so 64 terms < 2^48 — bigint-exact), so the
    k*oversample shortlist per query is bit-identical across engines;
    only the final exact-cosine re-rank of the tiny shortlist touches
    floats (cosine gaps >> float error within a fixed candidate set —
    the q23/q47-proven epilogue). Random/sampled codebooks are a
    standard PQ baseline: KMeans training is an accuracy optimization,
    not a structural requirement.

    Scale shape: codes build map-side against the broadcast pivot
    table, the scan is corpus-codes x
    broadcast per-query integer LUT (whole-stage codegen, no corpus
    shuffle), the re-rank joins only queries*k*oversample rows back to
    real vectors.

    Output: qid, cid, rank (ADC shortlist -> exact-cosine top-k).
    """
    d = len(corpus.select(vec_col).first()[0])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m

    w_piv = Window.orderBy("h", "pid")
    piv = (
        corpus.select(
            F.col(corpus_id).alias("pid"),
            quantize_vec(vec_col).alias("pvec"),
            F.md5(F.col(corpus_id).cast("string")).alias("h"),
        )
        .orderBy("h", "pid")
        .limit(ks)
        .withColumn("code", F.row_number().over(w_piv).cast("int"))
    )
    # one-row broadcast: pivots as an array of (code, pvec), code-th
    # element at position code (codes are 1..ks, array_sort by code)
    pivarr = piv.agg(
        F.array_sort(F.collect_list(F.struct("code", "pvec"))).alias("pv")
    )

    def _slice(col, s):
        return F.slice(col, s * F.lit(dsub) + 1, dsub)

    def _int_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    def _slice_d2(a, b, s):
        return F.aggregate(
            F.zip_with(
                _slice(a, s), _slice(b, s), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    c = corpus.select(
        F.col(corpus_id).alias("cid"), quantize_vec(vec_col).alias("cq")
    )
    codes_col = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.element_at(
            F.array_sort(
                F.transform(
                    F.col("pv"),
                    lambda p: F.struct(
                        _slice_d2(F.col("cq"), p["pvec"], s).alias("d2"),
                        p["code"].alias("code"),
                    ),
                )
            ),
            1,
        )["code"],
    )
    coded = c.crossJoin(F.broadcast(pivarr)).select(
        "cid", codes_col.alias("codes")
    )

    # per-query integer LUT: index = sub*ks + code (1-based element_at)
    q = queries.select(
        F.col(query_id).alias("qid"), quantize_vec(vec_col).alias("qq")
    )
    subs = q.crossJoin(F.broadcast(pivarr)).select(
        "qid",
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.transform(
                    F.col("pv"),
                    lambda p: _int_dot(
                        _slice(F.col("qq"), s), _slice(p["pvec"], s)
                    ),
                ),
            )
        ).alias("lut"),
    )
    scored = coded.crossJoin(F.broadcast(subs)).select(
        "qid",
        "cid",
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.element_at(
                F.col("lut"), s * ks + F.element_at(F.col("codes"), s + 1)
            ),
        ).alias("score"),
    ).where(F.col("qid") != F.col("cid"))
    w_short = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("cid")
    )
    shortlist = (
        scored.withColumn("r", F.row_number().over(w_short))
        .where(F.col("r") <= k * max(1, oversample))
        .select("qid", "cid")
    )
    cvf = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
    )
    qvf = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    exact = (
        shortlist.join(cvf, "cid")
        .join(F.broadcast(qvf), "qid")
        .withColumn("cosine", dot("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank")
    )


def kcenter_greedy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
) -> DataFrame:
    """Greedy k-center (Gonzalez 1985 farthest-point traversal — the
    coreset-selection baseline of Sener & Savarese 2018, "Active
    Learning for CNNs: A Core-Set Approach"): pick the min-id vector,
    then k-1 times the vector FARTHEST from the selected set (max over
    candidates of min over centers), giving a 2-approximation of the
    optimal k-center cover — the "most diverse k examples" primitive a
    training pipeline uses for seed-set / eval-set selection.

    Distributed shape: the selected set is tiny (k rows, driver-held),
    so each of the k-1 rounds is ONE job — candidates join the
    broadcast center table (constant-cardinality nested-loop fan-out,
    the q509 Lloyd-assignment shape), aggregate min distance per
    candidate, and take the exact-integer argmax (ties to the smaller
    id). O(N·k·dim) work total, no shuffle of the corpus beyond the
    per-round aggregate; at huge N the standard refinement is to carry
    the running min-distance column forward (halves each round's join
    to the single newest center) at the cost of caching an evolving
    frame. Distances are exact integers on 2^20-quantized vectors
    (quantize_vec), so the selection — argmax comparisons and tie
    breaks included — is bit-identical in any engine.

    Output: (rank, id, coverage_radius2) — the selection order and the
    exact squared max-min covering radius of the final set.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    v = df.select(
        F.col(id_col).alias("__id"), quantize_vec(vec_col).alias("__q")
    )
    first = v.agg(F.min("__id")).first()[0]
    if first is None:
        raise ValueError("empty input")
    selected: list = [first]
    for _ in range(k - 1):
        centers = F.broadcast(
            v.where(F.col("__id").isin(selected)).select(
                F.col("__id").alias("__cid"), F.col("__q").alias("__cq")
            )
        )
        nxt = (
            v.where(~F.col("__id").isin(selected))
            .join(centers)
            .select("__id", _int_d2("__q", "__cq").alias("__d2"))
            .groupBy("__id")
            .agg(F.min("__d2").alias("__dmin"))
            .orderBy(F.col("__dmin").desc(), F.col("__id").asc())
            .first()
        )
        if nxt is None:  # fewer than k distinct vectors
            break
        selected.append(nxt["__id"])
    centers = F.broadcast(
        v.where(F.col("__id").isin(selected)).select(
            F.col("__id").alias("__cid"), F.col("__q").alias("__cq")
        )
    )
    radius = (
        v.join(centers)
        .select("__id", _int_d2("__q", "__cq").alias("__d2"))
        .groupBy("__id")
        .agg(F.min("__d2").alias("__dmin"))
        .agg(F.max("__dmin"))
        .first()[0]
    )
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(i + 1, vid) for i, vid in enumerate(selected)],
        f"rank int, {id_col} long",
    )
    return out.withColumn(
        "coverage_radius2", F.lit(int(radius)).cast("long")
    )
