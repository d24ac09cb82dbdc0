"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship sensor-ETL analog on sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ north-star extensions); ``oracle_sql()`` gives the
DuckDB-equivalent SQL for each SQL-expressible query.

Conventions (keep these or the value-hash comparison breaks):
- every computed/aggregate column is aliased identically on both sides;
- SUMs/AVGs over double columns are computed EXACTLY: operands are cast
  to decimal, summed (exact, order-independent), cast back to double,
  and averages do one final double division. Plain double sums differ
  in low bits between engines (summation order), and rounding can't fix
  half-boundary cases — decimal arithmetic makes both engines
  bit-identical with no rounding at all;
- DuckDB ``count(*)``/``sum(int)``/``row_number`` are cast to Spark's types;
- timestamps: Spark session TZ is UTC; DuckDB buckets are built with
  ``make_timestamp`` (naive) to match.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sensor_time_series_pyspark_spark.plans import sensor_etl
from sensor_time_series_pyspark_spark.queries import ORACLE_SQL, QUERIES

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return sensor_etl(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
