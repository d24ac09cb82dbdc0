"""Scale-path twins of the headline skew-sensitive operators
(q570+, round 8): the split variants of sessionize and asof_join run
through the SAME DuckDB oracles as their unsplit queries (q15/q29),
so the driver's hash gate certifies the boundary-stitching algebra —
not just a self-comparison test. See SCALING.md "Hot-series
stragglers" for the measured 90%-hot-key wins (4.6x / 3.2x) and the
crossover analysis."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.operators import (
    asof_join_auto,
    asof_join_split,
    sessionize_auto,
    sessionize_split,
)
from sensor_time_series_pyspark_spark.queries.common import (
    _SESSIONIZE_SQL,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_sessionize_split(spark: SparkSession, sf: str) -> DataFrame:
    """q15's 30-minute sessionization through sessionize_split
    (operators/sessionize.py): 6-hour range buckets, boundary
    sessions stitched on the bucket-grain summary. Hash-gated against
    the SAME oracle as q15 — the split must be indistinguishable from
    the single-window pass."""
    ev = read_table(spark, sf, "events")
    sess = sessionize_split(
        ev,
        ts_col="ts",
        partition_by=["user_id"],
        gap_seconds=1800,
        bucket_seconds=6 * 3600,
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _q_asof_join_split(spark: SparkSession, sf: str) -> DataFrame:
    """q29's as-of join through asof_join_split (operators/asof.py):
    1-day buckets, carry-forward seeds rolled over the right-side
    bucket summary. Hash-gated against the SAME ASOF LEFT JOIN oracle
    as q29."""
    ev = read_table(spark, sf, "events")
    o = read_table(spark, sf, "orders")
    daily_orders = o.groupBy(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate")
    ).agg(F.max("o_totalprice").alias("last_order_price"))
    out = asof_join_split(
        ev,
        daily_orders,
        on=["user_id"],
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["last_order_price"],
        bucket_seconds=86_400,
    )
    return out.select("event_id", "user_id", "ts", "last_order_price")


_Q20 = float(1 << 20)


def _q_semantic_dedup(
    spark: SparkSession, sf: str, n_cells: int = 32
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023: a
    coarse clustering bounds the candidate space, then near-identical
    embeddings within a cluster are pruned to one representative):
    vectors are assigned to ``n_cells`` pivot cells with q47's
    engine-portable quantizer (pivots = smallest md5(id), EXACT integer
    squared distances on 2^20-quantized components — cell membership
    has zero float ambiguity), then within each cell a vector is
    DROPPED iff a lower-id member sits at cosine >= 0.3 (the q17
    min-id survivor rule, pairwise). The cosine test is the exact
    integer predicate 100*dot^2 >= 9*|a|^2*|b|^2 AND dot > 0 in
    decimal(38,0) — no float compare anywhere, so the verdict
    hash-gates. At 100 TB the within-cell pair volume is N^2/n_cells
    like an LSH band; size ``n_cells`` by the corpus-scaling rule
    n_cells ≈ N / target_cell_size (SemDeDup uses cells of ~1e4-1e5
    vectors, i.e. n_cells ∝ corpus size — gated here at two cell
    counts, q572/q576, to prove the audit is cell-count-robust where
    the algebra says it should be). Output: one audit row per vector
    (cell, dropped)."""
    if n_cells <= 0:
        raise ValueError("n_cells must be positive")
    emb = read_table(spark, sf, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * _Q20)
    )
    v = emb.select(F.col("vec_id").alias("vid"), qv.alias("q"))
    piv = (
        v.select(
            F.col("q").alias("pq"),
            F.md5(F.col("vid").cast("string")).alias("h"),
            F.col("vid").alias("pid"),
        )
        .orderBy("h", "pid")
        .limit(int(n_cells))
    )
    from pyspark.sql import Window

    w_piv = Window.orderBy("h", "pid")
    piv = piv.withColumn(
        "cell", F.row_number().over(w_piv).cast("int")
    ).select("cell", "pq")

    d2 = F.aggregate(
        F.zip_with("q", "pq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w_assign = Window.partitionBy("vid").orderBy("d2", "cell")
    norm = F.aggregate(
        F.transform("q", lambda a: a * a),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    members = (
        v.join(F.broadcast(piv))
        .withColumn("d2", d2)
        .withColumn("r", F.row_number().over(w_assign))
        .where(F.col("r") == 1)
        .select("vid", "cell", "q", norm.alias("n2"))
    )
    # three consumers (both pair sides + the final audit join) would
    # each recompute the quantize + n_cells-way assignment pipeline —
    # persisting the assignment halves the wall time (2.23 -> 1.28 s
    # at sf0.1, measured round 9). members is corpus-row-grain but
    # only (vid, cell, q, n2): at 100 TB this is the IVF index you'd
    # materialize to storage anyway.
    from pyspark import StorageLevel

    members = members.persist(StorageLevel.MEMORY_AND_DISK)
    a = members.select(
        F.col("cell"),
        F.col("vid").alias("va"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na"),
    )
    b = members.select(
        F.col("cell"),
        F.col("vid").alias("vb"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d38 = "decimal(38,0)"
    pairs = (
        a.join(b, "cell")
        .where(F.col("va") < F.col("vb"))
        .withColumn("dot", dot)
        .where(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast(d38) * F.col("dot").cast(d38) * 100
                >= F.col("na").cast(d38) * F.col("nb").cast(d38) * 9
            )
        )
        .groupBy("vb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lower"))
    )
    # the audit join attaches per-victim counts back to the corpus:
    # `pairs` is (vb, n_lower) at DROPPED-candidate grain — the
    # SemDeDup hit set, orders of magnitude below corpus grain — so
    # broadcast it instead of letting the planner shuffle+sort the
    # (cached, corpus-grain) members side. Measured 2.02 -> 1.54 s at
    # sf0.1 (one-JVM best-of-5 race; SHUFFLE_HASH on the pair join was
    # raced too and LOST, 2.5 s). At a scale where the hit set itself
    # outgrows a broadcast, drop the hint and the join degrades to the
    # shuffled left join it was before — same result.
    return (
        members.join(F.broadcast(pairs), members.vid == pairs.vb, "left")
        .select(
            F.col("vid").alias("vec_id"),
            "cell",
            F.coalesce(F.col("n_lower") > 0, F.lit(False)).alias(
                "dropped"
            ),
        )
    )


def _q_cluster_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/eval split audit: the eval set must be
    sampled by DUP CLUSTER (content fingerprint), never by document —
    a doc-level split puts copies of the same text on both sides and
    the eval set silently measures memorization. Both splits are the
    same deterministic 90/10 hash rule ('split8:' salt, md5 low-48
    bits), applied to doc_id (naive) vs md5(text) (cluster-safe).
    Reports, per split policy: eval docs and the number of clusters
    LEAKED across sides (cluster-safe is zero BY CONSTRUCTION — the
    audit proves it, and measures how bad the naive rule actually
    is). Integer counts; one division for the eval fraction."""
    docs = read_table(spark, sf, "documents")
    lo48 = lambda col: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(F.lit("split8:"), col)), 1, 12),
        16,
        10,
    ).cast("bigint")
    base = docs.select(
        F.md5("text").alias("fp"),
        (lo48(F.col("doc_id").cast("string")) % 10 == 0).alias(
            "eval_doc"
        ),
        (lo48(F.md5("text")) % 10 == 0).alias("eval_cluster"),
    )
    per_fp = base.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("eval_doc"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_eval_doc"),
        F.sum(F.when(F.col("eval_cluster"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_eval_cl"),
    )
    return per_fp.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_eval_doc").cast("bigint").alias("eval_docs_naive"),
        F.sum(
            F.when(
                (F.col("n_eval_doc") > 0)
                & (F.col("n_eval_doc") < F.col("n_docs")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("leaked_clusters_naive"),
        F.sum("n_eval_cl").cast("bigint").alias("eval_docs_cluster"),
        # measured the same way as the naive rule — provably 0 because
        # the cluster hash is constant within fp, and the audit shows it
        F.sum(
            F.when(
                (F.col("n_eval_cl") > 0)
                & (F.col("n_eval_cl") < F.col("n_docs")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("leaked_clusters_cluster"),
    ).select(
        "n_docs",
        "n_clusters",
        "eval_docs_naive",
        "leaked_clusters_naive",
        "eval_docs_cluster",
        "leaked_clusters_cluster",
        (
            F.col("eval_docs_cluster").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("eval_frac_cluster"),
    )


def _q_expectation_suite2(spark: SparkSession, sf: str) -> DataFrame:
    """Round-8 expectation kinds over customer (q560's companion):
    name-format regex (partial-match, NULL=violation), exact
    decimal-mean band on acctbal, and composite-key uniqueness on
    (nation, name) — all still ONE conditional aggregate + one
    exploded projection; mean_between is the only kind that rides two
    aggregate slots (decimal sum + non-null count)."""
    from sensor_time_series_pyspark_spark.operators import (
        matches_regex,
        mean_between,
        run_expectations,
        unique_combo,
    )

    c = read_table(spark, sf, "customer")
    suite = [
        matches_regex("name_format", "c_name", "^Customer#[0-9]{9}$", 0.0),
        mean_between("acctbal_band", "c_acctbal", 0.0, 10_000.0),
        unique_combo("nation_name_key", ("c_nationkey", "c_name")),
    ]
    return run_expectations(c, suite)


def _q_hard_negative_margin(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining audit for retrieval training: per query
    vector, the hardest POSITIVE (highest-cosine corpus vector sharing
    its label) and hardest NEGATIVE (highest-cosine with a different
    label), and the margin between them — negative margins are the
    queries whose nearest neighbor is a wrong-label vector, exactly
    the pairs a contrastive trainer should mine. Dots and norms are
    exact integers on 2^20-quantized components; cosine is the same
    fixed double epilogue in both engines (one division of a product
    of two sqrt's), and argmax ties break on cid — the q23/q47
    discipline, so values hash-gate. Scale shape: 10 broadcast query
    rows scan the corpus once (the verification tier; the mining tier
    at 100 TB is the IVF/LSH candidate path of q47/q166)."""
    emb = read_table(spark, sf, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * _Q20)
    )
    n2 = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda a: a * a),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    corpus = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clab"),
        qv.alias("cq"),
    ).withColumn("cn2", n2("cq"))
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        qv.alias("qq"),
    ).withColumn("qn2", n2("qq"))
    dot = F.aggregate(
        F.zip_with("qq", "cq", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        corpus.join(F.broadcast(queries))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            (F.col("clab") == F.col("qlab")).alias("pos"),
            (
                dot.cast("double")
                / (
                    F.sqrt(F.col("qn2").cast("double"))
                    * F.sqrt(F.col("cn2").cast("double"))
                )
            ).alias("cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid", "pos").orderBy(
        F.col("cos").desc(), F.col("cid").asc()
    )
    best = scored.withColumn("r", F.row_number().over(w)).where(
        F.col("r") == 1
    )
    p = best.where(F.col("pos")).select(
        "qid",
        F.col("cid").alias("pos_cid"),
        F.col("cos").alias("pos_cos"),
    )
    ng = best.where(~F.col("pos")).select(
        "qid",
        F.col("cid").alias("neg_cid"),
        F.col("cos").alias("neg_cos"),
    )
    return p.join(ng, "qid").select(
        "qid",
        "pos_cid",
        "pos_cos",
        "neg_cid",
        "neg_cos",
        (F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
    )


def _q_sessionize_auto(spark: SparkSession, sf: str) -> DataFrame:
    """q15's sessionization through the round-9 SKEW DISPATCHER
    (operators/dispatch.py:sessionize_auto): the operator samples the
    user_id histogram and routes to sessionize vs sessionize_split by
    the measured 2M-hot-row crossover. Hash-gated against the SAME
    oracle as q15 — the dispatcher must be invisible in the result
    whichever path it picks (the testdata SFs sit below the crossover,
    so this certifies the sample+decision+unsplit path end-to-end in
    the driver's own gate; the split path's hash gate is q570)."""
    ev = read_table(spark, sf, "events")
    sess = sessionize_auto(
        ev,
        ts_col="ts",
        partition_by=["user_id"],
        gap_seconds=1800,
        bucket_seconds=6 * 3600,
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _q_asof_join_auto(spark: SparkSession, sf: str) -> DataFrame:
    """q29's as-of join through asof_join_auto (the left-side key
    histogram decides split vs unsplit; same oracle as q29/q571)."""
    ev = read_table(spark, sf, "events")
    o = read_table(spark, sf, "orders")
    daily_orders = o.groupBy(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate")
    ).agg(F.max("o_totalprice").alias("last_order_price"))
    out = asof_join_auto(
        ev,
        daily_orders,
        on=["user_id"],
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["last_order_price"],
        bucket_seconds=86_400,
    )
    return out.select("event_id", "user_id", "ts", "last_order_price")


def _q_distinct_n(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-n diversity per source (Li et al. 2016 "A
    Diversity-Promoting Objective Function for Neural Conversation
    Models"): distinct n-grams / total n-grams for n=1,2,3 — THE
    degenerate-repetition audit for synthetic/generated training data
    (a collapsing generator shows high volume with cratering
    distinct-2/3). One documents scan: the three n-gram arrays concat
    into tagged structs, ONE explode, one (source, n) aggregate —
    integer counts, one division. Complements q80 (within-doc
    repetition) and q250 (unigram TTR): this is corpus-level and
    n-gram-order-resolved."""
    from sensor_time_series_pyspark_spark.functions.text import (
        ngrams_from_tokens,
        tokens,
    )

    docs = read_table(spark, sf, "documents")
    toks = docs.select("source", tokens("text").alias("t"))
    tag = lambda n: F.transform(  # noqa: E731
        ngrams_from_tokens(F.col("t"), n),
        lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
    )
    exploded = toks.select(
        "source", F.explode(F.concat(tag(1), tag(2), tag(3))).alias("s")
    )
    return (
        exploded.groupBy("source", F.col("s.n").alias("n"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total_ngrams"),
            F.count_distinct(F.col("s.g"))
            .cast("bigint")
            .alias("distinct_ngrams"),
        )
        .select(
            "source",
            "n",
            "total_ngrams",
            "distinct_ngrams",
            (
                F.col("distinct_ngrams").cast("double")
                / F.col("total_ngrams").cast("double")
            ).alias("distinct_ratio"),
        )
    )


def _q_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf slope per source: OLS of ln(frequency) on ln(rank) over
    the top-25 unigrams — natural corpora sit near -1; a flat slope
    flags templated/synthetic text, a cliff flags boilerplate
    domination (the corpus-health companion to q278's coverage
    curve). Counts and ranks are exact integers distributed; the
    25-term ln folds run driver-side in ascending-rank order (libm
    discipline — DuckDB's ordered list_reduce replays the identical
    fold), epilogue = the fixed expression
    (k·Σxy − Σx·Σy) / (k·Σxx − Σx·Σx)."""
    import math

    from pyspark.sql import Window

    from sensor_time_series_pyspark_spark.functions.text import tokens

    k_top = 25
    docs = read_table(spark, sf, "documents")
    counts = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    w = Window.partitionBy("source").orderBy(F.col("f").desc(), "tok")
    top = (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= k_top)
        .select("source", "r", "f")
        .collect()
    )
    by_src: dict[str, dict[int, int]] = {}
    for row in top:
        by_src.setdefault(row["source"], {})[row["r"]] = row["f"]
    out = []
    for s in sorted(by_src):
        fs = by_src[s]
        k = len(fs)
        sx = sy = sxx = sxy = None
        for r in range(1, k + 1):
            x = math.log(float(r))
            y = math.log(float(fs[r]))
            sx = x if sx is None else sx + x
            sy = y if sy is None else sy + y
            sxx = x * x if sxx is None else sxx + x * x
            sxy = x * y if sxy is None else sxy + x * y
        slope = (
            (k * sxy - sx * sy) / (k * sxx - sx * sx) if k >= 2 else None
        )
        out.append((s, k, slope))
    return spark.createDataFrame(
        out, "source string, k int, zipf_slope double"
    )


def _q_semantic_dedup_cells16(spark: SparkSession, sf: str) -> DataFrame:
    """q572 at a second cell count (16): same SemDeDup audit, coarser
    cells — proves the operator is cell-count-robust (the verdicts
    differ only where the algebra says they may: pairs split across
    cells). See _q_semantic_dedup's corpus-scaling rule."""
    return _q_semantic_dedup(spark, sf, n_cells=16)


def _q_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicated-substring pairs (Lee et al. 2022 suffix-array
    dedup, re-expressed as distributed island algebra): per document
    pair the longest shared verbatim token run and total shared
    positional 5-grams, via operators/dedup.py:dup_span_pairs — ONE
    df-valved inverted-index equi-join (never cartesian; boilerplate
    grams pruned exactly like q19's valve) + a (pair, offset)-grain
    window for the pos-row_number island merge. The span-level upgrade
    of q19's set-level Jaccard: catches the 90-token verbatim quote
    two otherwise-different documents share, which set similarity
    dilutes below threshold."""
    from sensor_time_series_pyspark_spark.operators.dedup import (
        dup_span_pairs,
    )

    docs = read_table(spark, sf, "documents")
    return dup_span_pairs(
        docs, "doc_id", "text", k=5, max_token_df=50, min_span_tokens=8
    )


def _q_dup_token_fraction(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplicated-text mass (the Lee-et-al "fraction of
    corpus that is verbatim duplicate" table): token positions covered
    by any cross-document-shared 5-gram, counted exactly by a per-doc
    lag sweep over the shared-gram starts (union of [pos, pos+4]
    ranges), then rolled up to source grain against total token
    counts. Per-doc windows + one aggregate — parallel at any scale;
    the df valve bounds the shared inventory the same way q581's pair
    stage is bounded."""
    from sensor_time_series_pyspark_spark.functions.text import tokens
    from sensor_time_series_pyspark_spark.operators.dedup import (
        dup_token_coverage,
    )

    docs = read_table(spark, sf, "documents")
    per_doc = dup_token_coverage(
        docs, "doc_id", "text", k=5, max_token_df=50
    ).withColumnRenamed("id", "doc_id")
    tot = docs.select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tokens")
    )
    return (
        tot.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("dup_tokens").cast("bigint").alias("docs_with_dup"),
            F.coalesce(F.sum("dup_tokens"), F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "docs_with_dup",
            "dup_tokens",
            "total_tokens",
            (
                F.col("dup_tokens").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("dup_fraction"),
        )
    )


def _q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility audit per language (the mBERT/XLM-R
    fertility table: subword tokens per word — high-fertility
    languages are systematically over-charged per unit of text, so a
    token-budgeted mixture underweights them): exact integer sums of
    words, BPE-ish subword tokens (ceil(len/4) word pieces, the
    repo-wide deterministic proxy), and chars, with fertility and
    chars-per-token as the two final divisions. ONE scan, one 5-group
    aggregate."""
    from sensor_time_series_pyspark_spark.functions.text import (
        bpe_ish_token_count,
        tokens,
    )

    docs = read_table(spark, sf, "documents")
    base = docs.select(
        "lang",
        F.size(tokens("text")).cast("bigint").alias("n_words"),
        bpe_ish_token_count("text").cast("bigint").alias("n_bpe"),
        F.col("n_chars").cast("bigint").alias("nc"),
    )
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
            F.sum("nc").cast("bigint").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_words",
            "total_bpe_tokens",
            "total_chars",
            (
                F.col("total_bpe_tokens").cast("double")
                / F.col("total_words").cast("double")
            ).alias("fertility"),
            (
                F.col("total_chars").cast("double")
                / F.col("total_bpe_tokens").cast("double")
            ).alias("chars_per_token"),
        )
    )


def _q_kcenter_coreset(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center coreset selection (k=8) over the embedding
    corpus via operators/similarity.py:kcenter_greedy — the
    Sener-Savarese diverse-subset primitive (seed/eval-set selection),
    exact-integer distances on 2^20-quantized vectors so selection
    order, tie breaks, and the final covering radius are engine-
    portable. The DuckDB twin replays the identical greedy recursion
    as a RECURSIVE CTE — a k-step iterative algorithm certified by
    hash, not just row counts."""
    from sensor_time_series_pyspark_spark.operators.similarity import (
        kcenter_greedy,
    )

    emb = read_table(spark, sf, "embeddings")
    return kcenter_greedy(emb, "vec_id", "embedding", k=8)


_KCENTER_SQL = """
            WITH RECURSIVE v AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1048576)
                          AS BIGINT)) AS q
              FROM embeddings
            ),
            sel AS (
              SELECT 1 AS step, [(SELECT min(vec_id) FROM v)] AS ids
              UNION ALL
              SELECT step + 1, list_append(ids, (
                SELECT cand.vec_id FROM v cand
                WHERE NOT list_contains(ids, cand.vec_id)
                ORDER BY (
                  SELECT min(list_sum(list_transform(
                    list_zip(cand.q, c.q),
                    s -> (s[1]-s[2])*(s[1]-s[2]))))
                  FROM v c WHERE list_contains(ids, c.vec_id)
                ) DESC, cand.vec_id ASC
                LIMIT 1
              ))
              FROM sel WHERE step < 8
            ),
            final AS (SELECT ids FROM sel WHERE step = 8),
            ranked AS (
              SELECT CAST(i AS INT) AS rank,
                     CAST(ids[i] AS BIGINT) AS vec_id
              FROM final, unnest(generate_series(1, len(ids))) AS t(i)
            ),
            radius AS (
              SELECT CAST(max(dmin) AS BIGINT) AS coverage_radius2
              FROM (
                SELECT a.vec_id,
                  min(list_sum(list_transform(list_zip(a.q, c.q),
                    s -> (s[1]-s[2])*(s[1]-s[2])))) AS dmin
                FROM v a JOIN v c
                  ON list_contains((SELECT ids FROM final), c.vec_id)
                GROUP BY a.vec_id
              )
            )
            SELECT r.rank, r.vec_id, rad.coverage_radius2
            FROM ranked r, radius rad
"""


def _q_span_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Train→eval verbatim-span contamination (the span-level upgrade
    of the n-gram contamination ops, and the audit Lee et al. run
    between train shards and benchmarks): docs hash-split 90/10 like
    q573's doc split, then every (train, eval) pair sharing a >= 8
    token verbatim run is a contamination hit. Reuses q581's island
    algebra (dup_span_pairs) and filters the pair frame to cross-split
    pairs — the candidate stage is the SAME df-valved inverted-index
    equi-join, so the scale shape is q19's. Output: one audit row
    (eval docs, contaminated eval docs, hit pairs, worst span)."""
    from sensor_time_series_pyspark_spark.operators.dedup import (
        dup_span_pairs,
    )

    docs = read_table(spark, sf, "documents")
    split = docs.withColumn(
        "is_eval",
        F.conv(F.substring(F.md5(F.concat(F.lit("split8:"),
            F.col("doc_id").cast("string"))), 1, 12), 16, 10)
        .cast("bigint") % 10 == 0,
    )
    pairs = dup_span_pairs(
        docs, "doc_id", "text", k=5, max_token_df=50, min_span_tokens=8
    )
    ev = split.select("doc_id", "is_eval")
    lab = (
        pairs.join(
            ev.select(F.col("doc_id").alias("doc_a"),
                      F.col("is_eval").alias("ea")), "doc_a")
        .join(
            ev.select(F.col("doc_id").alias("doc_b"),
                      F.col("is_eval").alias("eb")), "doc_b")
        .where(F.col("ea") != F.col("eb"))
        .select(
            F.when(F.col("ea"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("eval_doc"),
            "max_span_tokens",
        )
    )
    n_eval = split.where("is_eval").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_docs")
    )
    hits = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("hit_pairs"),
        F.count_distinct("eval_doc").cast("bigint").alias(
            "contaminated_eval_docs"
        ),
        F.coalesce(F.max("max_span_tokens"), F.lit(0))
        .cast("bigint")
        .alias("worst_span_tokens"),
    )
    return n_eval.crossJoin(hits).select(
        "n_eval_docs", "contaminated_eval_docs", "hit_pairs",
        "worst_span_tokens",
    )


def _q_self_repeat(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document self-repetition audit per source (the span-level
    sibling of q579's distinct-n: a looping/templated generator shows
    LONG verbatim self-repeats, which n-gram ratios only see in
    aggregate): per doc the longest repeated token run via
    operators/dedup.py:self_repeat_spans (same island algebra as q581,
    grouped by (doc, offset); within-doc occurrence valve), rolled up
    to source grain (k=3 — the corpus has no within-doc repeats at
    k=5, so 3-grams are the live granularity here; k is an operator
    parameter). Integer counts, one division (share of docs with any
    repeated 3-gram run)."""
    from sensor_time_series_pyspark_spark.operators.dedup import (
        self_repeat_spans,
    )

    docs = read_table(spark, sf, "documents")
    spans = self_repeat_spans(
        docs, "doc_id", "text", k=3, max_occurrences=20
    ).withColumnRenamed("id", "rep_doc")
    return (
        docs.select("doc_id", "source")
        .join(
            spans, F.col("doc_id") == F.col("rep_doc"), "left"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("rep_doc").cast("bigint").alias(
                "docs_with_self_repeat"
            ),
            F.coalesce(F.max("max_self_span_tokens"), F.lit(0))
            .cast("bigint")
            .alias("worst_self_span_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "docs_with_self_repeat",
            "worst_self_span_tokens",
            (
                F.col("docs_with_self_repeat").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("self_repeat_share"),
        )
    )


def _q_source_span_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source verbatim-span matrix: q467's set-level source
    overlap upgraded to SPAN level — for each source pair, how many
    doc pairs share a >= 8-token verbatim run and the worst such run.
    This is the provenance question span dedup answers that set
    Jaccard cannot: 'which feeds are republishing each other's text
    verbatim'. Derived from q581's pair frame (dup_span_pairs) by two
    broadcast-able doc->source joins + one (src_a, src_b) aggregate —
    the candidate stage is unchanged, so the scale shape is q19's."""
    from sensor_time_series_pyspark_spark.operators.dedup import (
        dup_span_pairs,
    )

    docs = read_table(spark, sf, "documents")
    pairs = dup_span_pairs(
        docs, "doc_id", "text", k=5, max_token_df=50, min_span_tokens=8
    )
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"),
                       F.col("source").alias("sa")), "doc_a")
        .join(
            src.select(F.col("doc_id").alias("doc_b"),
                       F.col("source").alias("sb")), "doc_b")
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "max_span_tokens",
            "shared_grams",
        )
    )
    return lab.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_pairs"),
        F.max("max_span_tokens").cast("bigint").alias(
            "worst_span_tokens"
        ),
        F.sum("shared_grams").cast("bigint").alias("total_shared_grams"),
    )


# Shared-gram CTE prefix for the q581/q582 DuckDB twins: identical
# tokenization to the Spark tokens() (whitespace split, empties
# dropped), positional 5-grams, df valve [2, 50].
_SHARED_GRAMS_SQL = r"""
            WITH tk0 AS (
              SELECT doc_id, source,
                list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '') AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                unnest(list_transform(
                  generate_series(1, greatest(len(t) - 4, 0)),
                  i -> {'pos': i,
                        'g': array_to_string(t[i:i+4], ' ')}),
                  recursive := true)
              FROM tk0
            ),
            dfv AS (
              SELECT g FROM grams GROUP BY g
              HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50
            ),
            shared AS (
              SELECT gr.doc_id, gr.pos, gr.g
              FROM grams gr JOIN dfv USING (g)
            )
"""


def _semantic_dedup_sql(n_cells: int | None) -> str:
    """The shared SemDeDup twin. ``n_cells=None`` is the round-10
    AUTO variant: both engines derive n_cells = greatest(16,
    n_vecs // 62) from the corpus itself (62 ≈ the target cell size
    that reproduces the gated 32-cell config at sf0.1 and the
    measured-6.6x-faster 320-cell config at 10x), so the cell count —
    and with it the whole candidate set — stays engine-identical at
    ANY scale without a hand-tuned constant."""
    if n_cells is None:
        piv_sql = """
            nc AS (
              SELECT greatest(16, count(*) // 62) AS n FROM embeddings
            ),
            piv AS (
              SELECT q AS pq,
                CAST(row_number() OVER (ORDER BY h, pid) AS INT) AS cell
              FROM (
                SELECT v.q, md5(CAST(vid AS VARCHAR)) AS h, vid AS pid,
                  row_number() OVER (
                    ORDER BY md5(CAST(vid AS VARCHAR)), vid) AS rk
                FROM v
              ), nc WHERE rk <= nc.n
            ),"""
    else:
        piv_sql = """
            piv AS (
              SELECT q AS pq,
                CAST(row_number() OVER (ORDER BY h, pid) AS INT) AS cell
              FROM (
                SELECT v.q, md5(CAST(vid AS VARCHAR)) AS h, vid AS pid
                FROM v ORDER BY 2, 3 LIMIT {n_cells}
              )
            ),""".format(n_cells=int(n_cells))
    return """
            WITH v AS (
              SELECT vec_id AS vid,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576)
                            AS BIGINT)) AS q
              FROM embeddings
            ),""" + piv_sql + """
            ad AS (
              SELECT v.vid, v.q, p.cell,
                list_sum(list_transform(list_zip(v.q, p.pq),
                  s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d2
              FROM v, piv p
            ),
            members AS (
              SELECT vid, cell, q,
                CAST(list_sum(list_transform(q, x -> x * x))
                  AS BIGINT) AS n2
              FROM (
                SELECT *, row_number() OVER (PARTITION BY vid
                  ORDER BY d2, cell) AS r
                FROM ad
              ) WHERE r = 1
            ),
            pairs AS (
              SELECT b.vid AS vb, a.n2 AS na, b.n2 AS nb,
                CAST(list_sum(list_transform(list_zip(a.q, b.q),
                  s -> s[1] * s[2])) AS BIGINT) AS dot
              FROM members a JOIN members b ON a.cell = b.cell
                AND a.vid < b.vid
            ),
            hits AS (
              SELECT vb, CAST(count(*) AS BIGINT) AS n_lower
              FROM pairs
              WHERE dot > 0
                AND CAST(dot AS HUGEINT) * dot * 100
                  >= CAST(na AS HUGEINT) * nb * 9
              GROUP BY vb
            )
            SELECT m.vid AS vec_id, m.cell,
              coalesce(h.n_lower > 0, false) AS dropped
            FROM members m LEFT JOIN hits h ON m.vid = h.vb
        """


register_many(
    {
        "q570_sessionize_split": _q_sessionize_split,
        "q571_asof_join_split": _q_asof_join_split,
        "q572_semantic_dedup": _q_semantic_dedup,
        "q573_cluster_safe_split": _q_cluster_safe_split,
        "q574_expectation_suite2": _q_expectation_suite2,
        "q575_hard_negative_margin": _q_hard_negative_margin,
        "q576_semantic_dedup_cells16": _q_semantic_dedup_cells16,
        "q577_sessionize_auto": _q_sessionize_auto,
        "q578_asof_join_auto": _q_asof_join_auto,
        "q579_distinct_n": _q_distinct_n,
        "q580_zipf_slope": _q_zipf_slope,
        "q581_dup_spans": _q_dup_spans,
        "q582_dup_token_fraction": _q_dup_token_fraction,
        "q583_tokenizer_fertility": _q_tokenizer_fertility,
        "q584_kcenter_coreset": _q_kcenter_coreset,
        "q585_span_contamination": _q_span_contamination,
        "q586_self_repeat": _q_self_repeat,
        "q587_source_span_matrix": _q_source_span_matrix,
    },
    {
        "q587_source_span_matrix": _SHARED_GRAMS_SQL + """
            , pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.pos AS pa, a.pos - b.pos AS off
              FROM shared a JOIN shared b
                ON a.g = b.g AND a.doc_id < b.doc_id
            ),
            isl AS (
              SELECT doc_a, doc_b, off, pa,
                pa - row_number() OVER (PARTITION BY doc_a, doc_b, off
                  ORDER BY pa) AS grp
              FROM pairs
            ),
            runs AS (
              SELECT doc_a, doc_b, count(*) AS run
              FROM isl GROUP BY doc_a, doc_b, off, grp
            ),
            spans AS (
              SELECT doc_a, doc_b,
                CAST(sum(run) AS BIGINT) AS shared_grams,
                CAST(max(run) + 4 AS BIGINT) AS max_span_tokens
              FROM runs GROUP BY doc_a, doc_b
              HAVING max(run) + 4 >= 8
            ),
            lab AS (
              SELECT least(da.source, db.source) AS src_a,
                greatest(da.source, db.source) AS src_b,
                s.max_span_tokens, s.shared_grams
              FROM spans s
              JOIN documents da ON da.doc_id = s.doc_a
              JOIN documents db ON db.doc_id = s.doc_b
            )
            SELECT src_a, src_b,
              CAST(count(*) AS BIGINT) AS doc_pairs,
              CAST(max(max_span_tokens) AS BIGINT)
                AS worst_span_tokens,
              CAST(sum(shared_grams) AS BIGINT) AS total_shared_grams
            FROM lab GROUP BY src_a, src_b
        """,
        "q586_self_repeat": r"""
            WITH tk0 AS (
              SELECT doc_id, source,
                list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '') AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                unnest(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> {'pos': i,
                        'g': array_to_string(t[i:i+2], ' ')}),
                  recursive := true)
              FROM tk0
            ),
            rep AS (
              SELECT doc_id, g FROM grams GROUP BY doc_id, g
              HAVING count(*) BETWEEN 2 AND 20
            ),
            shared AS (
              SELECT gr.doc_id, gr.pos, gr.g
              FROM grams gr JOIN rep USING (doc_id, g)
            ),
            pairs AS (
              SELECT a.doc_id AS id, a.pos AS pa,
                a.pos - b.pos AS off
              FROM shared a JOIN shared b
                ON a.doc_id = b.doc_id AND a.g = b.g
                AND a.pos > b.pos
            ),
            isl AS (
              SELECT id, off, pa,
                pa - row_number() OVER (PARTITION BY id, off
                  ORDER BY pa) AS grp
              FROM pairs
            ),
            runs AS (
              SELECT id, count(*) AS run
              FROM isl GROUP BY id, off, grp
            ),
            spans AS (
              SELECT id AS doc_id,
                CAST(max(run) + 2 AS BIGINT) AS max_self_span_tokens
              FROM runs GROUP BY id
            )
            SELECT d.source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(s.doc_id) AS BIGINT) AS docs_with_self_repeat,
              CAST(coalesce(max(s.max_self_span_tokens), 0) AS BIGINT)
                AS worst_self_span_tokens,
              CAST(count(s.doc_id) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS self_repeat_share
            FROM tk0 d LEFT JOIN spans s USING (doc_id)
            GROUP BY d.source
        """,
        "q585_span_contamination": _SHARED_GRAMS_SQL + """
            , pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.pos AS pa, a.pos - b.pos AS off
              FROM shared a JOIN shared b
                ON a.g = b.g AND a.doc_id < b.doc_id
            ),
            isl AS (
              SELECT doc_a, doc_b, off, pa,
                pa - row_number() OVER (PARTITION BY doc_a, doc_b, off
                  ORDER BY pa) AS grp
              FROM pairs
            ),
            runs AS (
              SELECT doc_a, doc_b, count(*) AS run
              FROM isl GROUP BY doc_a, doc_b, off, grp
            ),
            spans AS (
              SELECT doc_a, doc_b,
                CAST(max(run) + 4 AS BIGINT) AS max_span_tokens
              FROM runs GROUP BY doc_a, doc_b
              HAVING max(run) + 4 >= 8
            ),
            ev AS (
              SELECT doc_id,
                (CAST(('0x' || substr(md5('split8:'
                    || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
                  % 10 = 0) AS is_eval
              FROM documents
            ),
            lab AS (
              SELECT CASE WHEN ea.is_eval THEN s.doc_a
                     ELSE s.doc_b END AS eval_doc,
                s.max_span_tokens
              FROM spans s
              JOIN ev ea ON ea.doc_id = s.doc_a
              JOIN ev eb ON eb.doc_id = s.doc_b
              WHERE ea.is_eval <> eb.is_eval
            )
            SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM ev WHERE is_eval)
                AS n_eval_docs,
              CAST(count(DISTINCT eval_doc) AS BIGINT)
                AS contaminated_eval_docs,
              CAST(count(*) AS BIGINT) AS hit_pairs,
              CAST(coalesce(max(max_span_tokens), 0) AS BIGINT)
                AS worst_span_tokens
            FROM lab
        """,
        "q583_tokenizer_fertility": r"""
            WITH base AS (
              SELECT lang,
                CAST(len(list_filter(
                  string_split_regex(trim(text), '\s+'),
                  x -> x <> '')) AS BIGINT) AS n_words,
                CAST(coalesce(list_aggregate(
                  list_transform(
                    list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> ''),
                    w -> CAST(ceil(len(w) / 4.0) AS INT)), 'sum'), 0)
                  AS BIGINT) AS n_bpe,
                CAST(n_chars AS BIGINT) AS nc
              FROM documents
            )
            SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_words) AS BIGINT) AS total_words,
              CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
              CAST(sum(nc) AS BIGINT) AS total_chars,
              CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
                AS fertility,
              CAST(sum(nc) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE)
                AS chars_per_token
            FROM base GROUP BY lang
        """,
        "q584_kcenter_coreset": _KCENTER_SQL,
        "q581_dup_spans": _SHARED_GRAMS_SQL + """
            , pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.pos AS pa, a.pos - b.pos AS off
              FROM shared a JOIN shared b
                ON a.g = b.g AND a.doc_id < b.doc_id
            ),
            isl AS (
              SELECT doc_a, doc_b, off, pa,
                pa - row_number() OVER (PARTITION BY doc_a, doc_b, off
                  ORDER BY pa) AS grp
              FROM pairs
            ),
            runs AS (
              SELECT doc_a, doc_b, count(*) AS run
              FROM isl GROUP BY doc_a, doc_b, off, grp
            )
            SELECT doc_a, doc_b,
              CAST(sum(run) AS BIGINT) AS shared_grams,
              CAST(max(run) + 4 AS BIGINT) AS max_span_tokens
            FROM runs GROUP BY doc_a, doc_b
            HAVING max(run) + 4 >= 8
        """,
        "q582_dup_token_fraction": _SHARED_GRAMS_SQL + """
            , cov AS (
              SELECT doc_id, pos,
                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM shared
            ),
            per_doc AS (
              SELECT doc_id,
                CAST(sum(CASE WHEN prev IS NULL THEN 5
                  ELSE least(5, pos - prev) END) AS BIGINT) AS dup_tokens
              FROM cov GROUP BY doc_id
            ),
            tot AS (
              SELECT doc_id, source,
                greatest(len(t), 0) AS n_tokens
              FROM tk0
            )
            SELECT t.source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(p.doc_id) AS BIGINT) AS docs_with_dup,
              CAST(coalesce(sum(p.dup_tokens), 0) AS BIGINT)
                AS dup_tokens,
              CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
              CAST(coalesce(sum(p.dup_tokens), 0) AS DOUBLE)
                / CAST(sum(t.n_tokens) AS DOUBLE) AS dup_fraction
            FROM tot t LEFT JOIN per_doc p USING (doc_id)
            GROUP BY t.source
        """,
        "q570_sessionize_split": _SESSIONIZE_SQL,
        "q577_sessionize_auto": _SESSIONIZE_SQL,
        "q578_asof_join_auto": """
            SELECT e.event_id, e.user_id, e.ts, d.last_order_price
            FROM events e
            ASOF LEFT JOIN (
              SELECT o_custkey AS user_id, o_orderdate,
                     max(o_totalprice) AS last_order_price
              FROM orders GROUP BY 1, 2
            ) d ON e.user_id = d.user_id AND e.ts >= d.o_orderdate
        """,
        "q571_asof_join_split": """
            SELECT e.event_id, e.user_id, e.ts, d.last_order_price
            FROM events e
            ASOF LEFT JOIN (
              SELECT o_custkey AS user_id, o_orderdate,
                     max(o_totalprice) AS last_order_price
              FROM orders GROUP BY 1, 2
            ) d ON e.user_id = d.user_id AND e.ts >= d.o_orderdate
        """,
        "q572_semantic_dedup": _semantic_dedup_sql(32),
        "q576_semantic_dedup_cells16": _semantic_dedup_sql(16),
        "q579_distinct_n": r"""
            WITH toks AS (
              SELECT source,
                list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '') AS t
              FROM documents
            ),
            g AS (
              SELECT source, 1 AS n, unnest(t) AS g FROM toks
              UNION ALL
              SELECT source, 2, unnest(list_transform(
                generate_series(1, greatest(len(t) - 1, 0)),
                i -> array_to_string(t[i:i+1], ' '))) FROM toks
              UNION ALL
              SELECT source, 3, unnest(list_transform(
                generate_series(1, greatest(len(t) - 2, 0)),
                i -> array_to_string(t[i:i+2], ' '))) FROM toks
            )
            SELECT source, n,
              CAST(count(*) AS BIGINT) AS total_ngrams,
              CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
              CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                AS distinct_ratio
            FROM g GROUP BY 1, 2
        """,
        "q580_zipf_slope": r"""
            WITH counts AS (
              SELECT source, tok, count(*) AS f FROM (
                SELECT source,
                  unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                     x -> x <> '')) AS tok
                FROM documents
              ) GROUP BY 1, 2
            ),
            top AS (
              SELECT source, r, f FROM (
                SELECT source, f,
                  row_number() OVER (PARTITION BY source
                    ORDER BY f DESC, tok) AS r
                FROM counts
              ) WHERE r <= 25
            ),
            folds AS (
              SELECT source, CAST(count(*) AS BIGINT) AS k,
                list_reduce(list(ln(CAST(r AS DOUBLE)) ORDER BY r),
                  (a, b) -> a + b) AS sx,
                list_reduce(list(ln(CAST(f AS DOUBLE)) ORDER BY r),
                  (a, b) -> a + b) AS sy,
                list_reduce(list(ln(CAST(r AS DOUBLE))
                  * ln(CAST(r AS DOUBLE)) ORDER BY r),
                  (a, b) -> a + b) AS sxx,
                list_reduce(list(ln(CAST(r AS DOUBLE))
                  * ln(CAST(f AS DOUBLE)) ORDER BY r),
                  (a, b) -> a + b) AS sxy
              FROM top GROUP BY source
            )
            SELECT source, CAST(k AS INT) AS k,
              CASE WHEN k >= 2 THEN
                (CAST(k AS DOUBLE) * sxy - sx * sy)
                  / (CAST(k AS DOUBLE) * sxx - sx * sx)
              ELSE NULL END AS zipf_slope
            FROM folds
        """,
        "q573_cluster_safe_split": """
            WITH base AS (
              SELECT md5(text) AS fp,
                (CAST(('0x' || substr(md5('split8:'
                    || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
                  % 10 = 0) AS eval_doc,
                (CAST(('0x' || substr(md5('split8:'
                    || md5(text)), 1, 12)) AS BIGINT)
                  % 10 = 0) AS eval_cluster
              FROM documents
            ),
            per_fp AS (
              SELECT fp,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN eval_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_eval_doc,
                CAST(sum(CASE WHEN eval_cluster THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_eval_cl
              FROM base GROUP BY fp
            )
            SELECT
              CAST(sum(n_docs) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_clusters,
              CAST(sum(n_eval_doc) AS BIGINT) AS eval_docs_naive,
              CAST(sum(CASE WHEN n_eval_doc > 0
                AND n_eval_doc < n_docs THEN 1 ELSE 0 END)
                AS BIGINT) AS leaked_clusters_naive,
              CAST(sum(n_eval_cl) AS BIGINT) AS eval_docs_cluster,
              CAST(sum(CASE WHEN n_eval_cl > 0
                AND n_eval_cl < n_docs THEN 1 ELSE 0 END)
                AS BIGINT) AS leaked_clusters_cluster,
              CAST(sum(n_eval_cl) AS DOUBLE)
                / CAST(sum(n_docs) AS DOUBLE) AS eval_frac_cluster
            FROM per_fp
        """,
        "q574_expectation_suite2": """
            WITH g AS (
              SELECT
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN c_name IS NULL
                  OR NOT regexp_matches(c_name, '^Customer#[0-9]{9}$')
                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_name,
                sum(CAST(c_acctbal AS DECIMAL(38,6))) AS bal_sum,
                CAST(count(c_acctbal) AS BIGINT) AS bal_n,
                CAST(count(DISTINCT (c_nationkey, c_name)) AS BIGINT)
                  AS combo
              FROM customer
            )
            SELECT 'name_format' AS name, 'matches_regex' AS kind,
              CAST(bad_name AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0
                AS passed,
              CAST(bad_name AS DOUBLE) / CAST(n AS DOUBLE) AS observed,
              0.0 AS threshold FROM g
            UNION ALL
            SELECT 'acctbal_band', 'mean_between',
              CASE WHEN bal_n > 0 THEN
                CAST(bal_sum AS DOUBLE) / CAST(bal_n AS DOUBLE) >= 0.0
                AND CAST(bal_sum AS DOUBLE) / CAST(bal_n AS DOUBLE)
                  <= 10000.0
              ELSE false END,
              CASE WHEN bal_n > 0 THEN
                CAST(bal_sum AS DOUBLE) / CAST(bal_n AS DOUBLE)
              ELSE 0.0 END,
              10000.0 FROM g
            UNION ALL
            SELECT 'nation_name_key', 'unique_combo', combo = n,
              CAST(combo AS DOUBLE), CAST(n AS DOUBLE) FROM g
        """,
        "q575_hard_negative_margin": """
            WITH v AS (
              SELECT vec_id, label,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576)
                            AS BIGINT)) AS q
              FROM embeddings
            ),
            n AS (
              SELECT vec_id, label, q,
                CAST(list_sum(list_transform(q, x -> x * x))
                  AS BIGINT) AS n2
              FROM v
            ),
            scored AS (
              SELECT a.vec_id AS qid, b.vec_id AS cid,
                (b.label = a.label) AS pos,
                CAST(list_sum(list_transform(list_zip(a.q, b.q),
                  s -> s[1] * s[2])) AS BIGINT) / 1.0e0
                  / (sqrt(CAST(a.n2 AS DOUBLE))
                     * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
              FROM n a JOIN n b ON b.vec_id <> a.vec_id
              WHERE a.vec_id < 10
            ),
            best AS (
              SELECT qid, cid, pos, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY qid, pos
                  ORDER BY cos DESC, cid ASC) AS r
                FROM scored
              ) WHERE r = 1
            )
            SELECT p.qid, p.cid AS pos_cid, p.cos AS pos_cos,
              g.cid AS neg_cid, g.cos AS neg_cos,
              p.cos - g.cos AS margin
            FROM best p JOIN best g ON p.qid = g.qid
            WHERE p.pos AND NOT g.pos
        """,
    },
)


def _q_jaccard_auto(spark: SparkSession, sf: str) -> DataFrame:
    """The round-10 set-similarity DISPATCHER surfaced through the
    driver gate (operators/dispatch.py:jaccard_pairs_auto): recall
    floor first (t=0.5 at 16/8 banding = 0.90 < 0.95 would force
    exact — so run t=0.6, floor 0.972), then the measured 150k-doc
    crossover decides inverted vs banding-first. At every tested SF
    the corpus sits below the crossover, so the dispatcher provably
    takes the EXACT path and the plain inverted-index SQL twin
    hash-gates the whole decision stack; the banded branch is
    race-verified (history/RACE_BANDING_r10.json) and subset-tested
    (tests/test_round10_ops.py)."""
    from sensor_time_series_pyspark_spark.operators.dispatch import (
        jaccard_pairs_auto,
    )
    from sensor_time_series_pyspark_spark.queries.common import _rep_docs

    return jaccard_pairs_auto(
        _rep_docs(spark, sf), "doc_id", "text",
        threshold=0.6, shingle_k=3,
    )


register_many(
    {"q605_jaccard_auto": _q_jaccard_auto},
    {
        "q605_jaccard_auto": r"""
            WITH reps AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ),
            toks AS (
              SELECT doc_id AS id,
                list_distinct(
                  list_transform(
                    generate_series(1, greatest(len(t) - 2, 0)),
                    i -> array_to_string(t[i:i+2], ' ')
                  )
                ) AS tok
              FROM (
                SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
                FROM reps
              )
            ),
            inv AS (SELECT id, len(tok) AS n_tok, unnest(tok) AS token FROM toks),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b, a.n_tok AS n_a, b.n_tok AS n_b,
                     count(*) AS inter
              FROM inv a JOIN inv b ON a.token = b.token AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b, inter / (n_a + n_b - inter) AS jaccard
            FROM pairs WHERE inter / (n_a + n_b - inter) >= 0.6
        """,
    },
)


def _q_semantic_dedup_auto(spark: SparkSession, sf: str) -> DataFrame:
    """q572 with the SemDeDup cell-count rule SELF-APPLYING (round 10:
    the fixed-cell configuration was the scaling curve's one steep
    entry — 19-22x per decade at pinned n_cells=32, vs the measured
    6.6x win at 320 cells on the 10x corpus). Both engines derive
    n_cells = greatest(16, n_vecs // 62) from the corpus itself (one
    metadata-cheap count), so the audit keeps hash-gating at ANY scale
    while the within-cell pair volume stays ~N x target_cell_size
    instead of N^2/constant."""
    emb = read_table(spark, sf, "embeddings")
    n_vecs = emb.select("vec_id").count()
    return _q_semantic_dedup(
        spark, sf, n_cells=max(16, n_vecs // 62)
    )


register_many(
    {"q606_semantic_dedup_auto": _q_semantic_dedup_auto},
    {"q606_semantic_dedup_auto": _semantic_dedup_sql(None)},
)
