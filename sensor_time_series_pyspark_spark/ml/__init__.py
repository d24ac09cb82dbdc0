"""Forecasting (applyInPandas harness + numpy models) and pyspark.ml
pipelines (classification / regression), mirroring SURVEY.md §2.8/§2.10."""

from .forecast import decompose, fit_forecast, grid_search_forecast
from .models import MODELS, seasonal_decompose_additive, walk_forward_mse
from .pipelines import (
    classification_pipeline,
    decode_predictions,
    evaluate_classifier,
    evaluate_regression,
    feature_importances,
    regression_pipeline,
    temporal_split,
)

__all__ = [
    "fit_forecast",
    "grid_search_forecast",
    "decompose",
    "MODELS",
    "walk_forward_mse",
    "seasonal_decompose_additive",
    "classification_pipeline",
    "decode_predictions",
    "regression_pipeline",
    "temporal_split",
    "evaluate_classifier",
    "evaluate_regression",
    "feature_importances",
]
from .stats import correlation_matrix, dimension_stats
