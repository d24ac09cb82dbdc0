"""Corpus-curation planning ops (round 9, q588+): the decisions a
training-data pipeline makes AFTER the audits — what boilerplate a
line-dedup pass would strip (q588), what a fixed vocabulary fails to
cover per source (q589), what a quality-threshold filter retains
(q590), whom exact dedup disparately removes (q591), how close the
domains sit in embedding space (q592), and how a capped token budget
waterfills across sources (q593). The reference has no document
surface; these are north-star LLM-pipeline operators (BASELINE.json),
all exact column algebra with DuckDB oracle twins."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import (
    bpe_ish_token_count,
    quality_score,
    token_count,
)
from sensor_time_series_pyspark_spark.operators.dedup import segment_dup_stats
from sensor_time_series_pyspark_spark.operators.sampling import (
    waterfill_allocation,
)
from sensor_time_series_pyspark_spark.queries.common import (
    _NBPE_SQL,
    _PR_SQL,
    _QUALITY_Q_SQL,
    _SW_SQL,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_segment_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplicated-SEGMENT audit (operators/dedup.py:
    segment_dup_stats) — the CCNet/RefinedWeb line-dedup planning
    table: docs chopped into disjoint 10-token segments, a segment is
    boilerplate when its exact text occurs in >= 2 distinct docs;
    report how many docs a line-dedup pass would touch and what token
    mass it would strip. Two hash shuffles total (segment count +
    per-doc regroup), both on un-skewed keys."""
    docs = read_table(spark, sf, "documents")
    per_doc = segment_dup_stats(
        docs, "doc_id", "text", carry_cols=["source"], seg_tokens=10,
        min_docs=2,
    )
    touched = F.col("dup_seg") > 0
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(touched, 1).otherwise(0)).cast("bigint").alias(
            "docs_touched"
        ),
        F.sum("n_seg").cast("bigint").alias("n_segments"),
        F.sum("dup_seg").cast("bigint").alias("dup_segments"),
        (
            F.sum("dup_tok").cast("double")
            / F.sum("n_tok").cast("double")
        ).alias("dup_token_frac"),
    )


def _q_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-coverage audit per source: build the top-16 corpus
    vocabulary by occurrence count (ties broken by token — fully
    deterministic), then measure each source's out-of-vocabulary token
    share and distinct OOV types. The fixed-vocab sibling of q583's
    tokenizer fertility: a source with high OOV rate is systematically
    fragmented by a frequency-built subword vocab.

    Shape: one shuffle to (source, token) counts, a second tiny
    shuffle to token totals, top-k via TakeOrderedAndProject (never a
    global window), then a BROADCAST left join of the 16-row vocab
    back onto the per-source counts. Since round 10 the engine lives
    in operators/profile.py:oov_rate, which carries the
    ``persist_counts`` seam for the counts frame's two consumers
    (VERDICT r9 #3 — win measured at 10x in SCALING.md)."""
    docs = read_table(spark, sf, "documents")
    from sensor_time_series_pyspark_spark.operators.profile import oov_rate

    return oov_rate(docs, "source", "text", vocab_k=16)


_THRESHOLDS = [0.3, 0.5, 0.7, 0.9]


def _q_retention_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-filter threshold sweep: for each candidate quality
    cutoff, how many documents and BPE-ish tokens survive — the
    tradeoff curve read before committing a corpus-wide filter
    (complements q184's budget selection: there the budget picks the
    threshold, here the threshold is swept). Per-doc features are
    computed ONCE map-side; the 4-way threshold fan-out is a literal
    posexplode (no join), then one hash aggregate on the 4-value
    threshold key."""
    docs = read_table(spark, sf, "documents")
    per = docs.select(
        quality_score("text").alias("q"),
        bpe_ish_token_count("text").cast("bigint").alias("n_bpe"),
    )
    sw = per.select(
        "q",
        "n_bpe",
        F.explode(
            F.array(*[F.lit(t) for t in _THRESHOLDS])
        ).alias("threshold"),
    )
    kept = F.col("q") >= F.col("threshold")
    return sw.groupBy("threshold").agg(
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("docs_kept"),
        F.sum(F.when(kept, F.col("n_bpe")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tokens_kept"),
        (
            F.sum(F.when(kept, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("doc_retention"),
        (
            F.sum(F.when(kept, F.col("n_bpe")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("n_bpe").cast("double")
        ).alias("token_retention"),
    )


def _q_dedup_lang_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-fairness audit: exact dedup (keep the lowest doc_id per
    content fingerprint — q17's survivorship rule) measured per
    LANGUAGE: doc and token retention rates. Near-dup removal is known
    to fall unevenly across languages/domains; this is the table that
    makes the disparity visible before the filter ships. One
    fingerprint-partitioned window (parallel at any scale — the key is
    the content hash), one hash aggregate."""
    docs = read_table(spark, sf, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        token_count("text").cast("bigint").alias("n_tok"),
        F.md5(F.col("text")).alias("fp"),
    )
    w = Window.partitionBy("fp")
    keep = F.col("doc_id") == F.min("doc_id").over(w)
    marked = base.select("lang", "n_tok", keep.alias("k"))
    return marked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("k"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        (
            F.sum(F.when(F.col("k"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("doc_retention"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("k"), F.col("n_tok")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_tokens"),
        (
            F.sum(F.when(F.col("k"), F.col("n_tok")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("n_tok").cast("double")
        ).alias("token_retention"),
    )


_DEC0 = "decimal(38,0)"


def _q_label_centroid_sim(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-similarity map for mixture design: the pairwise cosine
    between per-LABEL embedding centroids (cosine of the mean equals
    cosine of the SUM — scale-invariant, so the exact integer sum
    vector is the centroid). Quantization to 2^20 integer cells (the
    q572/q575 idiom) keeps everything exact until the final double
    cosine: component sums are bigint, dot products accumulate in
    decimal(38,0) (a label sum can reach ~5e8 at sf0.1; squared and
    summed over 64 dims that overflows int64).

    Shape: posexplode to (label, dim) — map-side; ONE hash aggregate
    to the 10-label x 64-dim centroid frame; the pair join is a
    10x10 broadcast nested loop on the label-cardinality frame
    (constant at ANY corpus size — allowlisted in the cartesian gate
    with q157's centroid precedent)."""
    emb = read_table(spark, sf, "embeddings")
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1048576.0)).cast("long"),
    )
    ex = emb.select("label", F.posexplode(q).alias("pos", "qv"))
    cent = ex.groupBy("label", "pos").agg(F.sum("qv").alias("s"))
    vecs = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda st: st["s"],
        ).alias("v")
    )
    zero = F.lit(0).cast(_DEC0)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(
                a, b, lambda x, y: x.cast(_DEC0) * y.cast(_DEC0)
            ),
            zero,
            lambda acc, x: (acc + x).cast(_DEC0),
        )

    n2 = vecs.select(
        "label", "v", dot(F.col("v"), F.col("v")).alias("nn")
    )
    a, b = n2.alias("a"), n2.alias("b")
    return a.join(b, F.col("a.label") < F.col("b.label")).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        (
            dot(F.col("a.v"), F.col("b.v")).cast("double")
            / (
                F.sqrt(F.col("a.nn").cast("double"))
                * F.sqrt(F.col("b.nn").cast("double"))
            )
        ).alias("cos"),
    )


def _q_waterfill_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Capped-mixture waterfilling over sources
    (operators/sampling.py:waterfill_allocation): a token budget of
    half the corpus, equal target shares, no source above 2 epochs —
    the exact closed-form allocation (sorted capacities + first
    feasible waterline) that published mixture tables solve by hand.
    One fact aggregate; every window runs on the 20-source frame."""
    docs = read_table(spark, sf, "documents")
    per = docs.select(
        "source", token_count("text").cast("bigint").alias("n_tok")
    )
    return waterfill_allocation(
        per, ["source"], "n_tok", budget_frac=0.5, max_epochs=2.0
    )


_TOK_SQL = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"


register_many(
    {
        "q588_segment_dedup": _q_segment_dedup,
        "q589_oov_rate": _q_oov_rate,
        "q590_retention_sweep": _q_retention_sweep,
        "q591_dedup_lang_retention": _q_dedup_lang_retention,
        "q592_label_centroid_sim": _q_label_centroid_sim,
        "q593_waterfill_mixture": _q_waterfill_mixture,
    },
    {
        "q588_segment_dedup": rf"""
            WITH toks AS (
              SELECT doc_id, source, {_TOK_SQL} AS t FROM documents
            ),
            segs AS (
              SELECT doc_id, source, n_tok,
                u['seg'] AS seg, u['sl'] AS seg_len
              FROM (
                SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tok,
                  UNNEST(list_transform(
                    range(0, CAST(ceil(len(t) / 10.0) AS BIGINT)),
                    i -> struct_pack(
                      seg := array_to_string(t[(i*10+1):(i*10+10)], ' '),
                      sl  := least(10, len(t) - i*10)))) AS u
                FROM toks WHERE len(t) > 0
              )
            ),
            cnt AS (
              SELECT seg, count(DISTINCT doc_id) AS nd
              FROM segs GROUP BY seg
            ),
            per_doc AS (
              SELECT s.doc_id,
                count(*) AS n_seg,
                sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS dup_seg,
                sum(CASE WHEN c.nd >= 2 THEN s.seg_len ELSE 0 END)
                  AS dup_tok
              FROM segs s JOIN cnt c ON s.seg = c.seg
              GROUP BY s.doc_id
            ),
            full_docs AS (
              SELECT a.doc_id, a.source,
                CAST(len(a.t) AS BIGINT) AS n_tok,
                coalesce(p.n_seg, 0) AS n_seg,
                coalesce(p.dup_seg, 0) AS dup_seg,
                coalesce(p.dup_tok, 0) AS dup_tok
              FROM toks a LEFT JOIN per_doc p ON a.doc_id = p.doc_id
            )
            SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN dup_seg > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_touched,
              CAST(sum(n_seg) AS BIGINT) AS n_segments,
              CAST(sum(dup_seg) AS BIGINT) AS dup_segments,
              CAST(sum(dup_tok) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)
                AS dup_token_frac
            FROM full_docs GROUP BY source
        """,
        "q589_oov_rate": rf"""
            WITH tok AS (
              SELECT source, UNNEST({_TOK_SQL}) AS tok FROM documents
            ),
            st AS (
              SELECT source, tok, CAST(count(*) AS BIGINT) AS n
              FROM tok GROUP BY source, tok
            ),
            vocab AS (
              SELECT tok FROM (
                SELECT tok, sum(n) AS nt FROM st GROUP BY tok
                ORDER BY nt DESC, tok ASC LIMIT 16
              )
            )
            SELECT source,
              CAST(sum(n) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN v.tok IS NULL THEN n ELSE 0 END)
                AS BIGINT) AS oov_tokens,
              CAST(count(DISTINCT CASE WHEN v.tok IS NULL THEN st.tok END)
                AS BIGINT) AS oov_types,
              CAST(sum(CASE WHEN v.tok IS NULL THEN n ELSE 0 END)
                  AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS oov_rate
            FROM st LEFT JOIN vocab v ON st.tok = v.tok
            GROUP BY source
        """,
        "q590_retention_sweep": rf"""
            WITH toks AS (
              SELECT doc_id, text,
                list_transform({_TOK_SQL}, t -> lower(t)) AS tok
              FROM documents
            ),
            feat AS (
              SELECT doc_id,
                {_PR_SQL} AS pr,
                {_SW_SQL} AS sw,
                len(tok) AS n_tok,
                {_NBPE_SQL} AS n_bpe
              FROM toks
            ),
            scored AS (
              SELECT n_bpe, {_QUALITY_Q_SQL} AS q
              FROM feat
            )
            SELECT t.threshold,
              CAST(sum(CASE WHEN q >= t.threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_kept,
              CAST(sum(CASE WHEN q >= t.threshold THEN n_bpe ELSE 0 END)
                AS BIGINT) AS tokens_kept,
              CAST(sum(CASE WHEN q >= t.threshold THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS doc_retention,
              CAST(sum(CASE WHEN q >= t.threshold THEN n_bpe ELSE 0 END)
                  AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE)
                AS token_retention
            FROM scored, (VALUES (0.3), (0.5), (0.7), (0.9))
              AS t(threshold)
            GROUP BY t.threshold
        """,
        "q591_dedup_lang_retention": rf"""
            WITH base AS (
              SELECT doc_id, lang,
                CAST(len({_TOK_SQL}) AS BIGINT) AS n_tok,
                md5(text) AS fp
              FROM documents
            ),
            marked AS (
              SELECT lang, n_tok,
                (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS k
              FROM base
            )
            SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              CAST(sum(CASE WHEN k THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS doc_retention,
              CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN k THEN n_tok ELSE 0 END) AS BIGINT)
                AS kept_tokens,
              CAST(sum(CASE WHEN k THEN n_tok ELSE 0 END) AS DOUBLE)
                / CAST(sum(n_tok) AS DOUBLE) AS token_retention
            FROM marked GROUP BY lang
        """,
        "q592_label_centroid_sim": """
            WITH v AS (
              SELECT label,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576)
                            AS BIGINT)) AS q
              FROM embeddings
            ),
            ex AS (
              SELECT label, u['p'] AS pos, u['qv'] AS qv FROM (
                SELECT label,
                  UNNEST(list_transform(range(1, len(q) + 1),
                    i -> struct_pack(p := i, qv := q[i]))) AS u
                FROM v
              )
            ),
            cent AS (
              SELECT label, pos, CAST(sum(qv) AS BIGINT) AS s
              FROM ex GROUP BY label, pos
            ),
            vecs AS (
              SELECT label, list(s ORDER BY pos) AS vv
              FROM cent GROUP BY label
            ),
            n2 AS (
              SELECT label, vv,
                list_sum(list_transform(vv,
                  x -> CAST(x AS HUGEINT) * CAST(x AS HUGEINT))) AS nn
              FROM vecs
            )
            SELECT a.label AS label_a, b.label AS label_b,
              CAST(list_sum(list_transform(list_zip(a.vv, b.vv),
                  s -> CAST(s[1] AS HUGEINT) * CAST(s[2] AS HUGEINT)))
                AS DOUBLE)
                / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE)))
                AS cos
            FROM n2 a JOIN n2 b ON a.label < b.label
        """,
        "q593_waterfill_mixture": rf"""
            WITH g AS (
              SELECT source,
                CAST(sum(len({_TOK_SQL})) AS BIGINT) AS tokens
              FROM documents GROUP BY source
            ),
            r AS (
              SELECT source, tokens,
                CAST(tokens AS DOUBLE) * 2.0 AS capacity,
                CAST(sum(tokens) OVER () AS DOUBLE) * 0.5 AS budget,
                row_number() OVER ord AS k,
                coalesce(sum(CAST(tokens AS DOUBLE) * 2.0) OVER (
                  ord ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0.0) AS prefix,
                count(*) OVER () AS n
              FROM g
              WINDOW ord AS (ORDER BY CAST(tokens AS DOUBLE) * 2.0 ASC,
                source ASC)
            ),
            w AS (
              SELECT *,
                (budget - prefix) / CAST(n - k + 1 AS DOUBLE) AS wk
              FROM r
            ),
            fk AS (
              SELECT *,
                min(CASE WHEN wk <= capacity THEN k END) OVER () AS f
              FROM w
            ),
            l AS (
              SELECT *,
                max(CASE WHEN k = f THEN wk END) OVER () AS waterline
              FROM fk
            )
            SELECT source, tokens, capacity, waterline,
              least(capacity, coalesce(waterline, capacity))
                AS allocation,
              CASE WHEN tokens > 0 THEN
                least(capacity, coalesce(waterline, capacity))
                  / CAST(tokens AS DOUBLE)
              ELSE 0.0E0 END AS epochs,
              (waterline IS NULL OR capacity <= waterline) AS capped
            FROM l
        """,
    },
)


_JT = [0.2, 0.35, 0.5, 0.65, 0.8]


def _q_jaccard_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup threshold calibration: q19's exact Jaccard pair frame
    computed ONCE at the loosest threshold (0.2), then swept across
    candidate cutoffs — pairs surviving and distinct docs involved per
    threshold, the table read before committing a dedup threshold.
    The pair frame is tiny (true near-dups only); the sweep is a
    literal fan-out on it, never a recompute of the inverted index."""
    from sensor_time_series_pyspark_spark.operators.dedup import (
        jaccard_pairs,
    )
    from sensor_time_series_pyspark_spark.queries.common import _rep_docs

    pairs = jaccard_pairs(
        _rep_docs(spark, sf), "doc_id", "text", threshold=0.2, shingle_k=3
    )
    stacked = pairs.select(
        "jaccard", F.explode(F.array("id_a", "id_b")).alias("id")
    ).select(
        "jaccard",
        "id",
        F.explode(F.array(*[F.lit(t) for t in _JT])).alias("threshold"),
    )
    surv = F.col("jaccard") >= F.col("threshold")
    return stacked.groupBy("threshold").agg(
        (F.sum(F.when(surv, 1).otherwise(0)) / 2).cast("bigint").alias(
            "n_pairs"
        ),
        F.count_distinct(F.when(surv, F.col("id")))
        .cast("bigint")
        .alias("n_docs"),
    )


def _q_quality_band_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-band x language composition — the fairness companion of
    q590's retention sweep: for each fixed quality band (0.25/0.5/0.75
    cuts) and language, doc and BPE-ish token counts plus the share of
    that LANGUAGE's tokens sitting in the band (a filter at 0.5 removes
    the bottom two bands; a language with most of its mass there is
    disparately removed). Fixed-threshold bands, not deciles — no
    fact-grain global window; the per-lang share is a window over the
    ~20-row aggregate."""
    docs = read_table(spark, sf, "documents")
    per = docs.select(
        "lang",
        quality_score("text").alias("q"),
        bpe_ish_token_count("text").cast("bigint").alias("n_bpe"),
    )
    band = (
        F.when(F.col("q") < 0.25, "q0_low")
        .when(F.col("q") < 0.5, "q1_mid_low")
        .when(F.col("q") < 0.75, "q2_mid_high")
        .otherwise("q3_high")
    )
    g = per.select(band.alias("band"), "lang", "n_bpe").groupBy(
        "band", "lang"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("n_tokens"),
    )
    wl = Window.partitionBy("lang")
    return g.select(
        "band",
        "lang",
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(wl).cast("double")
        ).alias("lang_token_share"),
    )


def _q_dup_cluster_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Duplication profile: exact-dup clusters (identical text) bucketed
    by size — how much of the corpus sits in singletons vs heavy
    clusters, the shape that decides whether dedup is worth a pass and
    how skewed the survivorship workload is. One fingerprint aggregate
    (hash-partitioned, no skew beyond true duplication) + one 4-row
    regroup."""
    docs = read_table(spark, sf, "documents")
    cl = docs.select(
        F.md5(F.col("text")).alias("fp"),
        token_count("text").cast("bigint").alias("n_tok"),
    ).groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.sum("n_tok").cast("bigint").alias("toks"),
    )
    bucket = (
        F.when(F.col("sz") == 1, "1_singleton")
        .when(F.col("sz") == 2, "2_pair")
        .when(F.col("sz") <= 5, "3_to_5")
        .otherwise("6_plus")
    )
    return cl.select(bucket.alias("size_bucket"), "sz", "toks").groupBy(
        "size_bucket"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.max("sz").cast("bigint").alias("max_cluster"),
    )


_CTX = [128, 512, 2048]


def _q_packing_ctx_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Context-length decision table for concat-and-chop packing: the
    per-language token stream is laid out ONCE (q68's pack_offsets
    cumsum — the offsets don't depend on the context length), then for
    each candidate length the boundary metrics are pure arithmetic on
    (offset, n_tokens): documents split across contexts, total
    fragments, contexts needed, and tail waste. ONE per-lang window
    pass + a 3-way literal fan-out + one tiny aggregate."""
    from sensor_time_series_pyspark_spark.operators.ranking import (
        pack_offsets,
    )

    docs = read_table(spark, sf, "documents")
    base = docs.select(
        "doc_id", "lang", token_count("text").alias("n_raw")
    )
    # zero-token docs occupy no context: excluded from the fragment
    # accounting on BOTH sides (they also make floor vs integer-div
    # diverge across engines on the (offset + n - 1) term). They still
    # pass through pack_offsets first — a 0-token doc shifts no
    # offsets, so the layout is unchanged.
    off = (
        pack_offsets(
            base, "doc_id", "n_raw", budget=1, partition_by=["lang"]
        )
        .where(F.col("n_tokens") > 0)
        .select("lang", "n_tokens", "offset")
    )
    sw = off.select(
        "lang",
        "n_tokens",
        "offset",
        F.explode(F.array(*[F.lit(c) for c in _CTX])).alias("ctx"),
    )
    frags = (
        F.floor((F.col("offset") + F.col("n_tokens") - 1) / F.col("ctx"))
        - F.floor(F.col("offset") / F.col("ctx"))
        + 1
    )
    g = sw.groupBy("lang", "ctx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(frags > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("crossing_docs"),
        F.sum(frags).cast("bigint").alias("total_fragments"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    n_ctx = F.ceil(F.col("total_tokens") / F.col("ctx")).cast("bigint")
    return g.select(
        "lang",
        F.col("ctx").cast("bigint").alias("ctx"),
        "n_docs",
        "crossing_docs",
        "total_fragments",
        n_ctx.alias("n_contexts"),
        (n_ctx * F.col("ctx") - F.col("total_tokens"))
        .cast("bigint")
        .alias("waste_tokens"),
        (
            (n_ctx * F.col("ctx") - F.col("total_tokens")).cast("double")
            / (n_ctx * F.col("ctx")).cast("double")
        ).alias("waste_frac"),
    )


register_many(
    {
        "q594_jaccard_threshold_sweep": _q_jaccard_threshold_sweep,
        "q595_quality_band_lang": _q_quality_band_lang,
        "q596_dup_cluster_profile": _q_dup_cluster_profile,
        "q597_packing_ctx_sweep": _q_packing_ctx_sweep,
    },
    {
        "q594_jaccard_threshold_sweep": r"""
            WITH reps AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents
                               GROUP BY text)
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
                  list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x <> '') AS t
                FROM reps
              )
            ),
            inv AS (
              SELECT id, len(tok) AS n_tok, unnest(tok) AS token FROM toks
            ),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     a.n_tok AS n_a, b.n_tok AS n_b, count(*) AS inter
              FROM inv a JOIN inv b ON a.token = b.token AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            ),
            jac AS (
              SELECT id_a, id_b, inter / (n_a + n_b - inter) AS jaccard
              FROM pairs WHERE inter / (n_a + n_b - inter) >= 0.2
            ),
            stacked AS (
              SELECT jaccard, id_a AS id FROM jac
              UNION ALL
              SELECT jaccard, id_b AS id FROM jac
            )
            SELECT t.threshold,
              CAST(sum(CASE WHEN jaccard >= t.threshold THEN 1 ELSE 0 END)
                / 2 AS BIGINT) AS n_pairs,
              CAST(count(DISTINCT CASE WHEN jaccard >= t.threshold
                THEN id END) AS BIGINT) AS n_docs
            FROM stacked,
              (VALUES (0.2), (0.35), (0.5), (0.65), (0.8)) AS t(threshold)
            GROUP BY t.threshold
        """,
        "q595_quality_band_lang": rf"""
            WITH toks AS (
              SELECT lang, text,
                list_transform({_TOK_SQL}, t -> lower(t)) AS tok
              FROM documents
            ),
            feat AS (
              SELECT lang,
                {_PR_SQL} AS pr,
                {_SW_SQL} AS sw,
                len(tok) AS n_tok,
                {_NBPE_SQL} AS n_bpe
              FROM toks
            ),
            scored AS (
              SELECT lang, n_bpe, {_QUALITY_Q_SQL} AS q
              FROM feat
            ),
            banded AS (
              SELECT lang, n_bpe,
                CASE WHEN q < 0.25 THEN 'q0_low'
                     WHEN q < 0.5  THEN 'q1_mid_low'
                     WHEN q < 0.75 THEN 'q2_mid_high'
                     ELSE 'q3_high' END AS band
              FROM scored
            ),
            g AS (
              SELECT band, lang,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_bpe) AS BIGINT) AS n_tokens
              FROM banded GROUP BY band, lang
            )
            SELECT band, lang, n_docs, n_tokens,
              CAST(n_tokens AS DOUBLE)
                / CAST(sum(n_tokens) OVER (PARTITION BY lang) AS DOUBLE)
                AS lang_token_share
            FROM g
        """,
        "q596_dup_cluster_profile": rf"""
            WITH cl AS (
              SELECT md5(text) AS fp,
                CAST(count(*) AS BIGINT) AS sz,
                CAST(sum(len({_TOK_SQL})) AS BIGINT) AS toks
              FROM documents GROUP BY md5(text)
            )
            SELECT
              CASE WHEN sz = 1 THEN '1_singleton'
                   WHEN sz = 2 THEN '2_pair'
                   WHEN sz <= 5 THEN '3_to_5'
                   ELSE '6_plus' END AS size_bucket,
              CAST(count(*) AS BIGINT) AS n_clusters,
              CAST(sum(sz) AS BIGINT) AS n_docs,
              CAST(sum(toks) AS BIGINT) AS n_tokens,
              CAST(max(sz) AS BIGINT) AS max_cluster
            FROM cl GROUP BY 1
        """,
        "q597_packing_ctx_sweep": rf"""
            WITH base AS (
              SELECT doc_id, lang,
                CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens
              FROM documents
            ),
            off AS (
              SELECT lang, n_tokens,
                sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS o
              FROM base
            ),
            sw AS (
              SELECT lang, n_tokens, o, c.ctx,
                (o + n_tokens - 1) // c.ctx - o // c.ctx + 1 AS frags
              FROM off, (VALUES (128), (512), (2048)) AS c(ctx)
              WHERE n_tokens > 0
            ),
            g AS (
              SELECT lang, ctx,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN frags > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS crossing_docs,
                CAST(sum(frags) AS BIGINT) AS total_fragments,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens
              FROM sw GROUP BY lang, ctx
            )
            SELECT lang, CAST(ctx AS BIGINT) AS ctx, n_docs,
              crossing_docs, total_fragments,
              CAST(ceil(CAST(total_tokens AS DOUBLE) / ctx) AS BIGINT)
                AS n_contexts,
              CAST(ceil(CAST(total_tokens AS DOUBLE) / ctx) AS BIGINT)
                * ctx - total_tokens AS waste_tokens,
              CAST(CAST(ceil(CAST(total_tokens AS DOUBLE) / ctx)
                    AS BIGINT) * ctx - total_tokens AS DOUBLE)
                / CAST(CAST(ceil(CAST(total_tokens AS DOUBLE) / ctx)
                    AS BIGINT) * ctx AS DOUBLE) AS waste_frac
            FROM g
        """,
    },
)


def _normed_quantized(spark: SparkSession, sf: str):
    """(vec_id, label, qn): embeddings L2-normalized then quantized to
    2^20 integer cells — floor((x / ||x||) * 2^20). The norm is the
    ONE double in the pipeline (sqrt of a left-fold square sum, op
    order pinned to the DuckDB twin); everything after is exact
    integer algebra."""
    emb = read_table(spark, sf, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("__e"),
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col("__e"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n = e.select("vec_id", "label", "__e", nrm.alias("__n")).where(
        F.col("__n") > 0
    )
    qn = F.transform(
        F.col("__e"),
        lambda x: F.floor(x / F.col("__n") * F.lit(1048576.0)).cast("long"),
    )
    return n.select("vec_id", "label", qn.alias("qn"))


def _q_anisotropy(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space anisotropy (Ethayarajh 2019): the mean pairwise
    cosine across the WHOLE corpus — a high value means all vectors
    crowd a narrow cone and cosine similarity stops being informative
    (the health check before any cosine-based dedup/retrieval op).

    The scale trick: with unit vectors, sum of all pairwise dots =
    ||S||^2 - sum(||x||^2) where S is the component-wise SUM vector —
    so the audit is ONE aggregate over (dim) cells, never an n^2 pair
    frame (at 100 TB the pair frame is impossible; the sum vector is
    64 numbers). Quantized integers keep it exact: per-dim sums and
    square sums accumulate in decimal(38,0) (a dim sum reaches ~5e9 at
    sf0.1; squared is past int64)."""
    qd = _normed_quantized(spark, sf)
    ex = qd.select("vec_id", F.posexplode("qn").alias("pos", "v"))
    per_dim = ex.groupBy("pos").agg(
        F.sum("v").alias("s"),
        F.sum((F.col("v") * F.col("v")).cast(_DEC0)).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    g = per_dim.agg(
        F.sum(F.col("s").cast(_DEC0) * F.col("s").cast(_DEC0)).alias("s2"),
        F.sum("d").alias("dd"),
        F.max("n").cast("bigint").alias("n_vecs"),
    )
    n = F.col("n_vecs").cast("double")
    q2 = F.lit(1099511627776.0)  # 2^40: undo the 2^20 quantization
    return g.select(
        "n_vecs",
        (
            (F.col("s2").cast("double") - F.col("dd").cast("double"))
            / (n * (n - 1))
            / q2
        ).alias("mean_cos"),
    )


def _q_domain_cohesion(spark: SparkSession, sf: str) -> DataFrame:
    """Domain cohesion/separation per label: mean within-label cosine
    vs mean cosine to the REST of the corpus, from the same sum-vector
    identity as q599 (within: ||S_g||^2 - D_g over n_g(n_g-1); cross:
    S_g . (S_tot - S_g) over n_g(n - n_g)) — the clustering-quality
    readout (does 'domain' mean anything in embedding space?) with no
    pair frame anywhere: one (label, dim) aggregate, a per-dim window
    for the corpus sum, one per-label aggregate."""
    qd = _normed_quantized(spark, sf)
    ex = qd.select("label", F.posexplode("qn").alias("pos", "v"))
    cent = ex.groupBy("label", "pos").agg(
        F.sum("v").alias("s"),
        F.sum((F.col("v") * F.col("v")).cast(_DEC0)).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    wp = Window.partitionBy("pos")
    cent2 = cent.withColumn("st", F.sum("s").over(wp))
    per_label = cent2.groupBy("label").agg(
        F.sum(F.col("s").cast(_DEC0) * F.col("s").cast(_DEC0)).alias("s2"),
        F.sum("d").alias("dd"),
        F.sum(
            F.col("s").cast(_DEC0)
            * (F.col("st") - F.col("s")).cast(_DEC0)
        ).alias("xc"),
        F.max("n").cast("bigint").alias("n_g"),
    )
    wall = Window.partitionBy()
    tot = F.sum("n_g").over(wall).cast("double")
    ng = F.col("n_g").cast("double")
    q2 = F.lit(1099511627776.0)
    within = (
        (F.col("s2").cast("double") - F.col("dd").cast("double"))
        / (ng * (ng - 1))
        / q2
    )
    cross = F.col("xc").cast("double") / (ng * (tot - ng)) / q2
    return per_label.select(
        "label",
        "n_g",
        within.alias("within_cos"),
        cross.alias("cross_cos"),
        (within - cross).alias("separation"),
    )


def _q_label_mmd(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise label MMD^2 under the quadratic kernel k(x,y)=(x.y)^2 —
    distribution drift BETWEEN label groups beyond what the centroid
    (q592) sees: the quadratic kernel compares second moments, so two
    groups with identical means but different spreads get a nonzero
    MMD.

    The scale identity: sum over pairs of (x.y)^2 equals the Frobenius
    inner product of the groups' second-moment matrices <M_A, M_B>
    (M = sum of x x^T, 64x64 integers) — so the n^2 pair sum becomes a
    per-(label, cell) aggregate (4096 cells per vector, map-side
    fan-out) and a 45-pair equi-join ON CELL of the tiny
    10-label x 4096-cell frame. V-statistic (diagonal included) by
    declaration. Products of moment entries reach ~1e31 and their
    4096-cell sums ~1e35: decimal(38,0) here, HUGEINT in the twin —
    exact until the final double epilogue.

    Exactness headroom, explicitly: per-cell sums accumulate in
    decimal(38,0) (NOT a plain int64 sum, which would wrap/NULL
    silently past ~8e6 vectors per label while the HUGEINT twin errs
    loudly), so the binding stage is the Frobenius products, which
    grow ~n^2 (decimal(38,0)/HUGEINT-safe to ~1e7 per label — one
    decade above the tested scale). Past that, Spark's non-ANSI
    decimal sum NULLs silently, so the SCALE configuration is to drop
    the quantization step (2^20 -> 2^12 buys 16 bits per product,
    ~250x more vectors): the identity holds at ANY quantization and
    only the audit's resolution degrades."""
    emb = read_table(spark, sf, "embeddings")
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1048576.0)).cast("long"),
    )
    base = emb.select("label", q.alias("__q"))
    # M is symmetric (M_ij = Σ x_i·x_j = M_ji), so only the upper
    # triangle i <= j is materialized — 2080 cells per vector instead
    # of 4096 (the map-side fan-out is the whole cost here) — and the
    # Frobenius stages weight off-diagonal products by 2. The weighted
    # sums are the SAME exact decimals as the full-grid sums, so the
    # epilogue (and the oracle) are untouched.
    cells = F.flatten(
        F.transform(
            F.col("__q"),
            lambda xa, i: F.transform(
                F.slice(F.col("__q"), i + 1, F.lit(64) - i),
                lambda xb, jj: F.struct(
                    (i * F.lit(65) + jj).alias("cell"),
                    (xa * xb).alias("p"),
                ),
            ),
        )
    )
    ex = base.select("label", F.explode(cells).alias("c")).select(
        "label", F.col("c.cell").alias("cell"), F.col("c.p").alias("p")
    )
    m = ex.groupBy("label", "cell").agg(
        F.sum(F.col("p").cast(_DEC0)).alias("s")
    )
    # cell = i*65 + (j - i) encodes the upper-triangle pair; the
    # diagonal is exactly cell % 65 == 0
    diag = F.col("cell") % 65 == 0
    counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    self_f = m.groupBy("label").agg(
        F.sum(
            F.when(diag, F.lit(1)).otherwise(F.lit(2)).cast(_DEC0)
            * F.col("s").cast(_DEC0)
            * F.col("s").cast(_DEC0)
        ).alias("ff")
    )
    a = m.alias("a")
    b = m.alias("b")
    cross_f = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(
                F.when(F.col("a.cell") % 65 == 0, F.lit(1))
                .otherwise(F.lit(2))
                .cast(_DEC0)
                * F.col("a.s").cast(_DEC0)
                * F.col("b.s").cast(_DEC0)
            ).alias("fab")
        )
    )
    fa = self_f.select(
        F.col("label").alias("label_a"), F.col("ff").alias("faa")
    )
    fb = self_f.select(
        F.col("label").alias("label_b"), F.col("ff").alias("fbb")
    )
    na = counts.select(F.col("label").alias("label_a"), F.col("n").alias("na"))
    nb = counts.select(F.col("label").alias("label_b"), F.col("n").alias("nb"))
    j = (
        cross_f.join(F.broadcast(fa), "label_a")
        .join(F.broadcast(fb), "label_b")
        .join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
    )
    q4 = F.lit(1.2089258196146292e24)  # 2^80: undo quantization^4
    naf = F.col("na").cast("double")
    nbf = F.col("nb").cast("double")
    mmd2 = (
        F.col("faa").cast("double") / (naf * naf)
        + F.col("fbb").cast("double") / (nbf * nbf)
        - F.lit(2.0) * F.col("fab").cast("double") / (naf * nbf)
    ) / q4
    return j.select("label_a", "label_b", "na", "nb", mmd2.alias("mmd2"))


register_many(
    {
        "q598_label_mmd": _q_label_mmd,
        "q599_anisotropy": _q_anisotropy,
        "q600_domain_cohesion": _q_domain_cohesion,
    },
    {
        "q598_label_mmd": """
            WITH v AS (
              SELECT label,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576)
                            AS BIGINT)) AS q
              FROM embeddings
            ),
            cells AS (
              SELECT label, u['cell'] AS cell, u['p'] AS p FROM (
                SELECT label,
                  UNNEST(flatten(list_transform(range(1, len(q) + 1),
                    i -> list_transform(range(1, len(q) + 1),
                      j -> struct_pack(
                        cell := (i - 1) * 64 + (j - 1),
                        p := q[i] * q[j]))))) AS u
                FROM v
              )
            ),
            m AS (
              SELECT label, cell, CAST(sum(p) AS BIGINT) AS s
              FROM cells GROUP BY label, cell
            ),
            counts AS (
              SELECT label, CAST(count(*) AS BIGINT) AS n
              FROM embeddings GROUP BY label
            ),
            self_f AS (
              SELECT label,
                sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS ff
              FROM m GROUP BY label
            ),
            cross_f AS (
              SELECT a.label AS label_a, b.label AS label_b,
                sum(CAST(a.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS fab
              FROM m a JOIN m b
                ON a.cell = b.cell AND a.label < b.label
              GROUP BY a.label, b.label
            )
            SELECT c.label_a, c.label_b, na.n AS na, nb.n AS nb,
              (CAST(fa.ff AS DOUBLE)
                 / (CAST(na.n AS DOUBLE) * CAST(na.n AS DOUBLE))
               + CAST(fb.ff AS DOUBLE)
                 / (CAST(nb.n AS DOUBLE) * CAST(nb.n AS DOUBLE))
               - 2.0 * CAST(c.fab AS DOUBLE)
                 / (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)))
              / 1.2089258196146292e24 AS mmd2
            FROM cross_f c
            JOIN self_f fa ON fa.label = c.label_a
            JOIN self_f fb ON fb.label = c.label_b
            JOIN counts na ON na.label = c.label_a
            JOIN counts nb ON nb.label = c.label_b
        """,
        "q599_anisotropy": """
            WITH e AS (
              SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            nn AS (
              SELECT vec_id, e,
                sqrt(list_reduce(list_transform(e, x -> x * x),
                  (a, b) -> a + b)) AS nrm
              FROM e
            ),
            q AS (
              SELECT vec_id,
                list_transform(e,
                  x -> CAST(floor(x / nrm * 1048576.0) AS BIGINT)) AS qn
              FROM nn WHERE nrm > 0
            ),
            ex AS (
              SELECT vec_id, u['pos'] AS pos, u['v'] AS v FROM (
                SELECT vec_id,
                  UNNEST(list_transform(range(1, len(qn) + 1),
                    i -> struct_pack(pos := i, v := qn[i]))) AS u
                FROM q
              )
            ),
            per_dim AS (
              SELECT pos,
                CAST(sum(v) AS BIGINT) AS s,
                sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM ex GROUP BY pos
            ),
            g AS (
              SELECT
                sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS s2,
                sum(d) AS dd,
                CAST(max(n) AS BIGINT) AS n_vecs
              FROM per_dim
            )
            SELECT n_vecs,
              (CAST(s2 AS DOUBLE) - CAST(dd AS DOUBLE))
                / (CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1))
                / 1099511627776.0 AS mean_cos
            FROM g
        """,
        "q600_domain_cohesion": """
            WITH e AS (
              SELECT label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            nn AS (
              SELECT label, e,
                sqrt(list_reduce(list_transform(e, x -> x * x),
                  (a, b) -> a + b)) AS nrm
              FROM e
            ),
            q AS (
              SELECT label,
                list_transform(e,
                  x -> CAST(floor(x / nrm * 1048576.0) AS BIGINT)) AS qn
              FROM nn WHERE nrm > 0
            ),
            ex AS (
              SELECT label, u['pos'] AS pos, u['v'] AS v FROM (
                SELECT label,
                  UNNEST(list_transform(range(1, len(qn) + 1),
                    i -> struct_pack(pos := i, v := qn[i]))) AS u
                FROM q
              )
            ),
            cent AS (
              SELECT label, pos,
                CAST(sum(v) AS BIGINT) AS s,
                sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM ex GROUP BY label, pos
            ),
            cent2 AS (
              SELECT *, CAST(sum(s) OVER (PARTITION BY pos) AS BIGINT)
                AS st
              FROM cent
            ),
            per_label AS (
              SELECT label,
                sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS s2,
                sum(d) AS dd,
                sum(CAST(s AS HUGEINT) * CAST(st - s AS HUGEINT)) AS xc,
                CAST(max(n) AS BIGINT) AS n_g
              FROM cent2 GROUP BY label
            ),
            tot AS (
              SELECT *, CAST(sum(n_g) OVER () AS DOUBLE) AS nt
              FROM per_label
            )
            SELECT label, n_g,
              (CAST(s2 AS DOUBLE) - CAST(dd AS DOUBLE))
                / (CAST(n_g AS DOUBLE) * (CAST(n_g AS DOUBLE) - 1))
                / 1099511627776.0 AS within_cos,
              CAST(xc AS DOUBLE)
                / (CAST(n_g AS DOUBLE) * (nt - CAST(n_g AS DOUBLE)))
                / 1099511627776.0 AS cross_cos,
              (CAST(s2 AS DOUBLE) - CAST(dd AS DOUBLE))
                / (CAST(n_g AS DOUBLE) * (CAST(n_g AS DOUBLE) - 1))
                / 1099511627776.0
              - CAST(xc AS DOUBLE)
                / (CAST(n_g AS DOUBLE) * (nt - CAST(n_g AS DOUBLE)))
                / 1099511627776.0 AS separation
            FROM tot
        """,
    },
)


def _q_effective_exposure(spark: SparkSession, sf: str) -> DataFrame:
    """Effective duplication exposure per source (Lee et al. 2022's
    motivation table): training ONE pass over the raw corpus shows a
    unique text cluster_size times, so per source we report the
    doc-weighted and TOKEN-weighted mean cluster size plus the worst
    offender — the over-sampling factor duplication alone imposes
    before any deliberate mixture weighting. exposure = 1.0 everywhere
    means dedup would not change what the model sees from that source.
    One fp-partitioned window (the q591 shape) + one hash aggregate."""
    docs = read_table(spark, sf, "documents")
    base = docs.select(
        "source",
        token_count("text").cast("bigint").alias("n_tok"),
        F.md5(F.col("text")).alias("fp"),
    )
    w = Window.partitionBy("fp")
    sized = base.select(
        "source", "n_tok", F.count(F.lit(1)).over(w).alias("cs")
    )
    return sized.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.sum("cs").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_exposure"),
        (
            F.sum(F.col("cs") * F.col("n_tok")).cast("double")
            / F.sum("n_tok").cast("double")
        ).alias("token_weighted_exposure"),
        F.max("cs").cast("bigint").alias("max_exposure"),
    )


def _q_dedup_mixture_shift(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture drift caused by exact dedup: per-source token SHARE of
    the corpus before vs after the q17 keep-min-id pass, and the
    multiplicative shift — the table a mixture designer must apply
    AFTER deduping, because dedup removes tokens unevenly across
    sources (the source-grain companion of q591's per-language
    retention). One fp window + one aggregate; the shares are windows
    over the 20-source frame."""
    docs = read_table(spark, sf, "documents")
    base = docs.select(
        "source",
        "doc_id",
        token_count("text").cast("bigint").alias("n_tok"),
        F.md5(F.col("text")).alias("fp"),
    )
    w = Window.partitionBy("fp")
    keep = F.col("doc_id") == F.min("doc_id").over(w)
    g = base.select("source", "n_tok", keep.alias("k")).groupBy(
        "source"
    ).agg(
        F.sum("n_tok").cast("bigint").alias("tok_before"),
        F.sum(F.when(F.col("k"), F.col("n_tok")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tok_after"),
    )
    wall = Window.partitionBy()
    share_b = F.col("tok_before").cast("double") / F.sum(
        "tok_before"
    ).over(wall).cast("double")
    share_a = F.col("tok_after").cast("double") / F.sum("tok_after").over(
        wall
    ).cast("double")
    return g.select(
        "source",
        "tok_before",
        "tok_after",
        share_b.alias("share_before"),
        share_a.alias("share_after"),
        (share_a / share_b).alias("share_shift"),
    )


register_many(
    {
        "q601_effective_exposure": _q_effective_exposure,
        "q602_dedup_mixture_shift": _q_dedup_mixture_shift,
    },
    {
        "q601_effective_exposure": rf"""
            WITH base AS (
              SELECT source,
                CAST(len({_TOK_SQL}) AS BIGINT) AS n_tok,
                md5(text) AS fp
              FROM documents
            ),
            sized AS (
              SELECT source, n_tok,
                CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS cs
              FROM base
            )
            SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(cs) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                AS mean_exposure,
              CAST(sum(cs * n_tok) AS DOUBLE)
                / CAST(sum(n_tok) AS DOUBLE) AS token_weighted_exposure,
              CAST(max(cs) AS BIGINT) AS max_exposure
            FROM sized GROUP BY source
        """,
        "q602_dedup_mixture_shift": rf"""
            WITH base AS (
              SELECT source, doc_id,
                CAST(len({_TOK_SQL}) AS BIGINT) AS n_tok,
                md5(text) AS fp
              FROM documents
            ),
            marked AS (
              SELECT source, n_tok,
                (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS k
              FROM base
            ),
            g AS (
              SELECT source,
                CAST(sum(n_tok) AS BIGINT) AS tok_before,
                CAST(sum(CASE WHEN k THEN n_tok ELSE 0 END) AS BIGINT)
                  AS tok_after
              FROM marked GROUP BY source
            )
            SELECT source, tok_before, tok_after,
              CAST(tok_before AS DOUBLE)
                / CAST(sum(tok_before) OVER () AS DOUBLE)
                AS share_before,
              CAST(tok_after AS DOUBLE)
                / CAST(sum(tok_after) OVER () AS DOUBLE) AS share_after,
              (CAST(tok_after AS DOUBLE)
                / CAST(sum(tok_after) OVER () AS DOUBLE))
              / (CAST(tok_before AS DOUBLE)
                / CAST(sum(tok_before) OVER () AS DOUBLE))
                AS share_shift
            FROM g
        """,
    },
)
