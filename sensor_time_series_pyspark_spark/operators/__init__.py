"""Relational/dataflow operators — DataFrame-in → DataFrame-out."""

from .pivot import impute_defaults, pivot_wide, unpivot
from .windows import (
    ffill,
    interpolate_linear,
    lead_target,
    rate_of_change,
    rolling_avg,
    rolling_median,
)
from .resample import hopping_resample, ohlc, resample, time_weighted_avg
from .chunking import chunk_tokens
from .contamination import ngram_overlap
from .drift import acf, cusum, tvd_drift
from .gaps import missing_buckets
from .dispatch import (
    asof_join_auto,
    banding_recall,
    estimate_hot_key_rows,
    jaccard_pairs_auto,
    sessionize_auto,
    should_split,
)
from .sessionize import sessionize, sessionize_split
from .scd import scd2
from .asof import asof_join, asof_join_split
from .analytics import cohort_retention, funnel
from .quantiles import approx_ntile, approx_quantiles, mad_outliers, quantile_clip
from .ranking import bm25_rank, pack_offsets
from .sampling import hash_sample, hash_split
from .dedup import (
    connected_components,
    connected_components_star,
    dedup_clusters,
    embedding_near_dup_pairs,
    exact_dedup,
    jaccard_pairs,
    jaccard_pairs_prefix,
    levenshtein_pairs,
    minhash_coeffs,
    minhash_pairs,
    shingle_id_portable,
    simhash_pairs_portable,
    spread,
)
from .similarity import (
    brp_lsh_join,
    ivf_topk_cosine,
    ivf_topk_cosine_pivots,
    quantize_vec,
    srp_planes_rademacher,
    srp_signature_portable,
    topk_cosine,
)
from .interval import interval_join
from .multimodal import blob_metadata, decode_features, frame_sample_plan, sniff_format
from .skew import salted_agg, salted_join
from .profile import (
    category_concentration,
    exact_corr,
    histogram,
    profile,
    top_categories,
)
from .validate import observe_violations, quarantine, violation_counts
from .bucketing import read_bucketed, write_bucketed
from .islands import merge_intervals, streaks
from .viz import m4_downsample
from .compress import deadband_compress, swinging_door_compress
from .bloomjoin import bloom_bitmap, bloom_prune, bloom_semi_join
from .sketches import hll_partials, hll_rollup, topk_partials, topk_rollup
from .windows import rolling_corr
from .quantiles import weighted_median
from .sampling import stratified_hash_sample

__all__ = [
    "pivot_wide",
    "unpivot",
    "impute_defaults",
    "lead_target",
    "rolling_avg",
    "ffill",
    "interpolate_linear",
    "resample",
    "hopping_resample",
    "chunk_tokens",
    "ngram_overlap",
    "acf",
    "cusum",
    "tvd_drift",
    "ohlc",
    "time_weighted_avg",
    "missing_buckets",
    "asof_join_auto",
    "banding_recall",
    "estimate_hot_key_rows",
    "jaccard_pairs_auto",
    "sessionize_auto",
    "sessionize",
    "sessionize_split",
    "should_split",
    "scd2",
    "asof_join",
    "asof_join_split",
    "funnel",
    "cohort_retention",
    "approx_ntile",
    "approx_quantiles",
    "mad_outliers",
    "quantile_clip",
    "bm25_rank",
    "pack_offsets",
    "hash_sample",
    "hash_split",
    "rate_of_change",
    "exact_dedup",
    "connected_components",
    "connected_components_star",
    "dedup_clusters",
    "jaccard_pairs",
    "jaccard_pairs_prefix",
    "minhash_coeffs",
    "minhash_pairs",
    "shingle_id_portable",
    "simhash_pairs_portable",
    "spread",
    "embedding_near_dup_pairs",
    "topk_cosine",
    "ivf_topk_cosine",
    "ivf_topk_cosine_pivots",
    "quantize_vec",
    "brp_lsh_join",
    "srp_planes_rademacher",
    "srp_signature_portable",
    "interval_join",
    "blob_metadata",
    "decode_features",
    "frame_sample_plan",
    "sniff_format",
    "salted_join",
    "salted_agg",
    "write_bucketed",
    "read_bucketed",
    "violation_counts",
    "observe_violations",
    "profile",
    "histogram",
    "exact_corr",
    "top_categories",
    "category_concentration",
    "rolling_median",
    "levenshtein_pairs",
    "quarantine",
    "merge_intervals",
    "streaks",
    "m4_downsample",
    "deadband_compress",
    "bloom_bitmap",
    "bloom_prune",
    "bloom_semi_join",
    "hll_partials",
    "hll_rollup",
    "rolling_corr",
    "weighted_median",
    "stratified_hash_sample",
    "swinging_door_compress",
    "topk_partials",
    "topk_rollup",
]
from .graph import triangle_count
from .profile import group_zscore, trend_slope
from .analytics import running_distinct, transition_matrix
from .contamination import dup_ngram_rate
from .islands import null_runs
from .ranking import collocation_lift
from .diff import snapshot_diff
from .ranking import ngram_lm, posting_lists
from .analytics import time_in_state
from .profile import minmax_scale
from .resample import densify_locf
from .profile import benford_digits, chisq_cells, spearman_corr
from .sax import sax_symbols
from .sampling import weighted_hash_sample
from .dtw import dtw_pairs
from .analytics import ab_proportion_test
from .windows import capped_running_sum
from .analytics import market_basket_pairs
from .sketches import kll_partials, kll_rollup, theta_overlap, theta_partials
from .sketches import cm_estimate, cm_merge, cm_partials
from .graph import label_propagation
from .validate import table_checksum
from .graph import bfs_hops
from .windows import bfill
from .multimodal import frame_byte_stats
from .dedup import tfidf_cosine_pairs
from .analytics import funnel_strict
from .changepoint import bollinger, max_drawdown, pettitt, spc_rules
from .expectations import (
    Expectation,
    accepted_values,
    between,
    matches_regex,
    mean_between,
    monotonic_id,
    not_null,
    row_count_between,
    run_expectations,
    unique,
    unique_combo,
)

from .dedup import segment_dup_stats
from .sampling import waterfill_allocation

__all__ += ["segment_dup_stats", "waterfill_allocation"]

from .dedup import shingle_id_fast
from .rainflow import rainflow_count, rainflow_cycles

__all__ += ["shingle_id_fast", "rainflow_count", "rainflow_cycles"]
