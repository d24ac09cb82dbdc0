"""End-to-end training-data curation DAG — the operator library
composed into the standard LLM-corpus pipeline (RefinedWeb/FineWeb
shape), DataFrame-in → DataFrame-out at every stage so Catalyst sees
ONE logical plan per materialization:

    normalize → language filter → quality gates (Gopher) →
    exact dedup → near-dup rejection (MinHash bands) →
    chunk to training windows → per-source mixture weights

Stage order is the cost order: cheap map-side gates (normalize, lang,
quality) run BEFORE any shuffle, so the dedup/banding shuffles only see
survivors; exact dedup (one hash aggregate on the fingerprint) runs
before near-dup banding so duplicate factor d never amplifies the band
index; chunking is pure array algebra on the final survivors.

Each stage is observable: ``curate()`` returns the final chunks frame
plus a per-stage integer funnel computed from ONE cached pass over the
doc frame (the q152 conditional-aggregate pattern — counting stages
does not re-run them).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import gopher_flags, lang_id, normalize_text, token_count
from ..operators.chunking import chunk_tokens
from ..operators.dedup import exact_dedup, minhash_bands
from ..operators.sampling import mixture_weights


@dataclass
class CurationConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    source_col: str = "source"
    keep_langs: tuple[str, ...] = ("en",)
    lang_from_column: str | None = None   # trust an upstream lang col
    chunk_size: int = 128
    shingle_k: int = 2
    n_hashes: int = 16
    n_bands: int = 8


def curate(docs: DataFrame, cfg: CurationConfig | None = None):
    """Run the curation DAG. Returns (chunks, survivors, funnel_df,
    weights_df):

    - ``chunks``: (id, chunk_id, chunk_text, n_tokens) training windows
    - ``survivors``: curated documents with normalized text
    - ``funnel_df``: one row per stage with surviving doc counts
    - ``weights_df``: per-source token shares + equalizing weights
    """
    cfg = cfg or CurationConfig()
    ident, text = cfg.id_col, cfg.text_col

    extra = [F.col(cfg.lang_from_column)] if cfg.lang_from_column else []
    base = docs.select(
        F.col(ident).alias("id"),
        normalize_text(F.col(text)).alias("text"),
        F.col(cfg.source_col).alias("source"),
        *extra,
    )
    lang = (
        F.col(cfg.lang_from_column)
        if cfg.lang_from_column
        else lang_id(F.col("text"))
    )
    flagged = base.select(
        "id",
        "text",
        "source",
        lang.isin(*cfg.keep_langs).alias("__lang_ok"),
        gopher_flags("text")["pass_all"].alias("__quality_ok"),
    )
    gated = flagged.where(F.col("__lang_ok") & F.col("__quality_ok")).drop(
        "__lang_ok", "__quality_ok"
    )

    deduped = exact_dedup(gated, "text", "id")

    # near-dup rejection: a document is rejected iff ANY of its LSH
    # bands collides with a smaller-id document (deterministic greedy
    # admission — the batch twin of corpus_ingest's incremental rule;
    # transitive-closure clustering is dedup_clusters when cluster
    # structure itself is wanted)
    bands = minhash_bands(
        deduped, "id", "text",
        shingle_k=cfg.shingle_k, n_hashes=cfg.n_hashes, n_bands=cfg.n_bands,
    )
    group_min = bands.groupBy("band_id", "band_key").agg(
        F.min("id").alias("__keep")
    )
    reject_ids = (
        bands.join(group_min, ["band_id", "band_key"])
        .where(F.col("id") > F.col("__keep"))
        .select("id")
        .distinct()
    )
    survivors = deduped.join(reject_ids, "id", "left_anti")

    chunks = chunk_tokens(survivors, "id", "text", chunk_size=cfg.chunk_size)
    weights = mixture_weights(
        survivors.select("source", token_count("text").alias("__nt")),
        ["source"],
        "__nt",
    )

    # the funnel: ONE conditional aggregate over the flagged frame +
    # the two dedup counts (already-computed frames, counted lazily)
    funnel_counts = flagged.agg(
        F.count(F.lit(1)).alias("ingested"),
        F.sum(F.when(F.col("__lang_ok"), 1).otherwise(0)).alias("lang_ok"),
        F.sum(
            F.when(F.col("__lang_ok") & F.col("__quality_ok"), 1).otherwise(0)
        ).alias("quality_ok"),
    )
    spark = docs.sparkSession
    row = funnel_counts.collect()[0]
    stages = [
        ("0_ingested", row["ingested"]),
        ("1_lang", row["lang_ok"]),
        ("2_quality", row["quality_ok"]),
        ("3_exact_dedup", deduped.count()),
        ("4_near_dup", survivors.count()),
    ]
    funnel = spark.createDataFrame(stages, "stage string, n_docs long")
    return chunks, survivors, funnel, weights
