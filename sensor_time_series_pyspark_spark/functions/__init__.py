"""Column-expression helpers — pure ``pyspark.sql.functions`` compositions
(JVM-side, whole-stage-codegen'd; no Python in the hot path)."""

from .cleaning import coalesce_labels, repair_label
from .temporal import epoch_seconds, time_bucket, to_day
from .vectors import (
    cosine_similarity,
    dequantize_int8,
    dot,
    l2_norm,
    quantize_int8,
)
from .text import (
    char_ngrams,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)

__all__ = [
    "repair_label",
    "coalesce_labels",
    "time_bucket",
    "to_day",
    "epoch_seconds",
    "dot",
    "l2_norm",
    "cosine_similarity",
    "quantize_int8",
    "dequantize_int8",
    "tokens",
    "token_count",
    "punct_ratio",
    "stopword_ratio",
    "word_shingles",
    "char_ngrams",
]
