"""The flagship ETL — the reference's sensor_data_etl.py:24-104 pipeline
re-expressed Spark-first over the driver testdata star schema
(events = the long/EAV fact, customer = the per-entity config dim,
nation = the tiny broadcast dim; see FIXTURES.md mapping notes).

Reference shape (SURVEY.md §3.1): scan → label repair → filter →
compound-key dim join → TWO groupBys over the same input (max-agg +
pivot-agg) → 3-key self-join → fillna → broadcast dim join → drops,
with ≥6 full recomputations from uncached multi-action probes.

Rebuild shape: scan → repair → filter → dim join → ONE conditional
aggregation (pivot columns + the max/count scalars in the same pass) →
one na.fill → broadcast dim join. One shuffle for the fact join, one
for the aggregate; zero recomputation (single action at the sink).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import repair_label
from ..operators.pivot import impute_defaults, pivot_wide
from ..sources.readers import read_table


@dataclass
class EtlConfig:
    """Everything the reference hard-codes, injected (SURVEY.md §8 bug 9)."""

    bucket_width: str = "1 hour"
    pivot_values: tuple[str, ...] = ("click", "view", "purchase", "signup", "error")
    # analog of the gas-specific defaults (0 for CO/LEL/H2S, 21 for O2;
    # sensor_data_etl.py:83-84)
    imputation: dict[str, float] = field(
        default_factory=lambda: {
            "click": 0.0,
            "view": 0.0,
            "purchase": 0.0,
            "signup": 0.0,
            "error": 0.0,
        }
    )
    min_value: float = 0.0


def sensor_etl(spark: SparkSession, sf_dir: str, cfg: EtlConfig | None = None) -> DataFrame:
    """events (long) → hourly wide table per (bucket, nation).

    Output: one row per (bucket, n_name) with a column per event type
    (avg value), plus severity (max value) and n_events — the exact
    analog of the reference's sensor_data_ts table (datetime/lat/lon ×
    gas columns × max message_code), in one aggregate pass.
    """
    cfg = cfg or EtlConfig()
    events = read_table(spark, sf_dir, "events")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")

    # 1. label repair (reference P6, sensor_data_etl.py:31-33)
    cleaned = events.withColumn("event_type", repair_label("event_type"))

    # 2. predicate right after scan — Catalyst pushes it into the
    #    parquet scan (reference P4 geo-filter analog)
    filtered = cleaned.where(
        F.col("value").isNotNull() & (F.col("value") >= cfg.min_value)
    )

    # 3. fact ⋈ entity-config dim (reference J1). customer is small
    #    here but grows with SF → leave strategy to Catalyst/AQE.
    joined = filtered.join(
        customer.select("c_custkey", "c_nationkey"),
        filtered["user_id"] == F.col("c_custkey"),
        "inner",
    )

    # 4. ONE aggregate: pivot columns + scalar aggs in the same pass
    #    (replaces reference A1 + A2 + J2 self-join)
    bucket = F.window("ts", cfg.bucket_width)
    wide = pivot_wide(
        joined.withColumn("bucket", bucket["start"]),
        keys=["bucket", "c_nationkey"],
        pivot_col="event_type",
        pivot_values=list(cfg.pivot_values),
        value_col="value",
        agg="avg_decimal",
        extra_aggs=[
            F.max("value").alias("severity"),
            F.count(F.lit(1)).alias("n_events"),
        ],
    )

    # 5. per-column defaults, one pass (reference P10)
    imputed = impute_defaults(wide, cfg.imputation)

    # 6. tiny-dim broadcast join (reference J3, explicit hint — the dim
    #    is 25 rows; post-aggregate Spark can't always see that)
    named = imputed.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        imputed["c_nationkey"] == F.col("n_nationkey"),
    ).drop("n_nationkey")

    return named
