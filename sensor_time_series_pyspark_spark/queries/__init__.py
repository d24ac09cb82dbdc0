"""Query families. Importing this package imports every family
module, whose register_many() calls populate QUERIES/ORACLE_SQL —
and raise on any duplicate name."""

from sensor_time_series_pyspark_spark.queries.registry import (  # noqa: F401
    ORACLE_SQL,
    QUERIES,
    register_many,
)

from sensor_time_series_pyspark_spark.queries import core  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import windows_signal  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import sketches_graph  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import business  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import stats_sampling  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import ml_analytics  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import drift_stats  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import experiments  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import stats_ts  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import quality_ops  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import inference  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import complexity_evt  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import robust_business  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import agreement  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import forecast_backtest  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import unsupervised  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import corpus_spans  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import causal_uncertainty  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import graph2  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import ranking_eval  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import conformal_hashing  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import robust_regression  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import ops_audit  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import corpus_sampling  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import technical_indicators  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import audits_experiments  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import scale_ops  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import corpus_curation  # noqa: F401,E402
from sensor_time_series_pyspark_spark.queries import rainflow_ops  # noqa: F401,E402
