"""JDBC source (reference S1/S5, read_sensor_configs.py:26-58).

The reference embeds SQL Server credentials in source
(read_sensor_configs.py:8-19) and reads dimension tables through
pushed-down subqueries with ``numPartitions=20``. This module keeps the
good part (server-side subquery pushdown — the dim join at
read_sensor_configs.py:32-34 runs in the database, which is correct for
small dims) and parameterizes the rest.

Live-verified against a file-backed DuckDB through the duckdb_jdbc
driver (tests/test_jdbc_live.py): pushed subquery in the physical plan,
Spark-side PushedFilters on plain table reads, and hash-identical
results vs the same SQL run directly in DuckDB, on both the
single-connection and the partitioned range-scan path. The Cassandra
path stays environment-blocked (no connector jar anywhere in the image
— probe recorded in history/PROBES_r08.md).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class JdbcConfig:
    url: str
    properties: dict[str, str] = field(default_factory=dict)
    num_partitions: int | None = None
    partition_column: str | None = None
    lower_bound: str | None = None
    upper_bound: str | None = None


def read_jdbc_query(spark: SparkSession, cfg: JdbcConfig, query: str) -> DataFrame:
    """Run ``query`` server-side and read the result. For big tables set
    partition_column/bounds so the read splits into num_partitions range
    scans instead of one connection.

    Spark's JDBC source rejects ``query`` combined with
    ``partitionColumn``, so the partitioned path wraps the query in a
    ``dbtable`` subquery alias instead (the documented workaround)."""
    reader = spark.read.format("jdbc").option("url", cfg.url)
    for k, v in cfg.properties.items():
        reader = reader.option(k, v)
    if cfg.num_partitions and cfg.partition_column:
        if cfg.lower_bound is None or cfg.upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound"
            )
        reader = (
            reader.option("dbtable", f"({query}) spark_jdbc_subq")
            .option("numPartitions", str(cfg.num_partitions))
            .option("partitionColumn", cfg.partition_column)
            .option("lowerBound", cfg.lower_bound)
            .option("upperBound", cfg.upper_bound)
        )
    else:
        reader = reader.option("query", query)
    return reader.load()


def cassandra_source(spark: SparkSession, keyspace: str, table: str) -> DataFrame:
    """Cassandra scan (reference S2, sensor_data_train.py:35-36). Needs
    the spark-cassandra-connector jar on the classpath; raises a clear
    error when absent rather than failing deep inside the DataSource
    lookup."""
    try:
        return (
            spark.read.format("org.apache.spark.sql.cassandra")
            .options(table=table, keyspace=keyspace)
            .load()
        )
    except Exception as exc:  # pragma: no cover - connector not in image
        raise NotImplementedError(
            "Cassandra connector jar not on classpath; add "
            "com.datastax.spark:spark-cassandra-connector to spark.jars.packages"
        ) from exc
