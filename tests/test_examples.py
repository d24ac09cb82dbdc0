"""Every example main() runs end-to-end on sf0.001 (the reference's
scripts were unrunnable-by-default: hard-coded paths/credentials and
three shipped bugs, SURVEY.md §8)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "examples"))

SF = "/root/testdata/sf0.001"


def test_etl_example(spark, tmp_path):
    import etl

    assert etl.main(SF, str(tmp_path / "etl")) == 0


def test_ingest_dims_example(spark, tmp_path):
    import ingest_dims

    assert ingest_dims.main(SF, str(tmp_path / "dims")) == 0


def test_regress_example(spark):
    import regress

    assert regress.main(SF) == 0


def test_classify_example(spark):
    import classify

    assert classify.main(SF) == 0


def test_forecast_single_example(spark):
    import forecast_single

    assert forecast_single.main(SF, user_id=1) == 0


def test_forecast_distributed_example(spark):
    import forecast_distributed

    assert forecast_distributed.main(SF) == 0


def test_streaming_example(spark, tmp_path):
    import streaming_ingest

    assert streaming_ingest.main(SF, str(tmp_path / "stream")) == 0


def test_train_data_pipeline_example(spark, tmp_path):
    import train_data_pipeline

    out = str(tmp_path / "curated")
    assert train_data_pipeline.main(SF, out) == 0
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert {"doc_id", "lang_pred", "quality", "n_tokens"} <= set(got.columns)


def test_similarity_search_example(spark):
    import similarity_search

    assert similarity_search.main(SF) == 0


def test_telemetry_analytics_example(spark):
    import telemetry_analytics

    assert telemetry_analytics.main(SF) == 0


def test_historian_example(spark):
    import historian

    assert historian.main(SF) == 0


def test_drift_monitor_example(spark):
    import drift_monitor

    assert drift_monitor.main(SF) == 0


def test_get_spark_leaves_the_running_session_alone(spark):
    """get_spark() returns the session already running with its runtime
    confs untouched: the tests' 8 shuffle partitions stay, whatever the
    host's CPU count or the partition count the caller asks for."""
    from sensor_time_series_pyspark_spark.session import get_spark

    assert get_spark() is spark
    assert get_spark("example-etl", shuffle_partitions=3) is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
