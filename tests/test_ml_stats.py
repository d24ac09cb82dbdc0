"""ml/stats.py: exact per-dimension stats vs numpy, and the
pyspark.ml.stat surface (Correlation) vs numpy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.ml import (
    correlation_matrix,
    dimension_stats,
)
from sensor_time_series_pyspark_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = read_table(spark, SF, "embeddings")
    rows = df.select("embedding").collect()
    return df, np.array([r["embedding"] for r in rows], dtype=np.float64)


def test_dimension_stats_match_numpy(spark, emb):
    df, mat = emb
    out = {r["dim"]: r for r in dimension_stats(df, "embedding").collect()}
    assert len(out) == mat.shape[1]
    for d in range(mat.shape[1]):
        # operator rounds components to 6 decimals before the moments
        col = np.round(mat[:, d], 6)
        assert out[d]["n"] == len(col)
        assert abs(out[d]["mean"] - col.mean()) < 1e-9
        assert abs(out[d]["std"] - col.std(ddof=1)) < 1e-9
        assert out[d]["min_val"] == pytest.approx(mat[:, d].min(), abs=1e-12)
        assert out[d]["max_val"] == pytest.approx(mat[:, d].max(), abs=1e-12)


def test_correlation_matrix_matches_numpy(spark, emb):
    df, mat = emb
    out = correlation_matrix(df, "embedding").collect()
    ref = np.corrcoef(mat, rowvar=False)
    for r in out:
        assert abs(r["corr"] - ref[r["i"], r["j"]]) < 1e-6
    # upper triangle only, diagonal ones
    d = mat.shape[1]
    assert len(out) == d * (d + 1) // 2
    assert all(r["corr"] == pytest.approx(1.0) for r in out if r["i"] == r["j"])
