"""Quantile operators.

Fixes reference bug #4 (SURVEY.md §8): sensor_data_etl.py:95-98 probes
the 'H2S' column for all four gases AND re-runs the whole upstream DAG
per call (approxQuantile is driver-side, one job each). Here both
variants are single-pass DataFrame aggregates that Catalyst folds into
one job for any number of columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def approx_quantiles(
    df: DataFrame,
    cols: Sequence[str],
    probs: Sequence[float],
    accuracy: int = 10000,
) -> DataFrame:
    """One row; one array<double> column per input column. Uses the
    KLL/GK sketch (``percentile_approx``) — mergeable, so it scales as a
    normal partial aggregate. ``accuracy`` ≈ 1/relativeError."""
    probs_arr = F.array(*[F.lit(p) for p in probs])
    return df.agg(
        *[
            F.percentile_approx(c, probs_arr, F.lit(accuracy)).alias(f"{c}_q")
            for c in cols
        ]
    )


def quantile_clip(
    df: DataFrame,
    value_col: str,
    partition_by: Sequence[str],
    lower: float = 0.2,
    upper: float = 0.8,
    exact: bool = True,
) -> DataFrame:
    """Keep rows whose value lies within the per-group [q_lower, q_upper]
    band (reference T4, spark_pandas_timeseries_forecast.py:37).

    Exact mode uses ``percentile`` (interpolated, matches ANSI
    quantile_cont) — fine when groups fit an aggregate buffer. At very
    large per-group cardinality flip ``exact=False`` for the sketch.
    Implementation: per-group bounds via one aggregate, then a join back
    (auto-broadcast: the bounds table is |groups| rows) + range filter.
    """
    fn = "percentile" if exact else "percentile_approx"
    bounds = df.groupBy(*partition_by).agg(
        F.expr(f"{fn}({value_col}, {lower})").alias("__lo"),
        F.expr(f"{fn}({value_col}, {upper})").alias("__hi"),
    )
    joined = df.join(F.broadcast(bounds), list(partition_by))
    return (
        joined.where((F.col(value_col) >= F.col("__lo")) & (F.col(value_col) <= F.col("__hi")))
        .drop("__lo", "__hi")
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    partition_by: Sequence[str],
    n_mads: float = 5.0,
    exact: bool = True,
) -> DataFrame:
    """Robust per-group outlier flagging via median absolute deviation:
    keep rows with |value - median| > n_mads * MAD. Unlike mean/stddev
    z-scores, both location and spread estimates have a 50% breakdown
    point — the outliers being hunted cannot mask themselves by
    inflating the spread (Hampel's rule, the robust-statistics
    standard; classical 3σ fails exactly when contamination is heavy).

    Two aggregate passes (median, then median of |x - median|), each a
    per-group aggregate + auto-broadcast join back — same shuffle
    shape as quantile_clip, keyed on the group columns. ``exact=False``
    flips both percentiles to the mergeable sketch for very large
    groups.

    Output: input rows flagged as outliers, plus ``med`` and ``mad``.
    """
    fn = "percentile" if exact else "percentile_approx"
    keys = list(partition_by)
    med = df.groupBy(*keys).agg(
        F.expr(f"{fn}({value_col}, 0.5)").alias("med")
    )
    with_med = df.join(F.broadcast(med), keys)
    mad = (
        with_med.withColumn("__adev", F.abs(F.col(value_col) - F.col("med")))
        .groupBy(*keys)
        .agg(F.expr(f"{fn}(__adev, 0.5)").alias("mad"))
    )
    flagged = with_med.join(F.broadcast(mad), keys)
    return flagged.where(
        F.abs(F.col(value_col) - F.col("med")) > F.lit(float(n_mads)) * F.col("mad")
    )


def approx_ntile(
    df: DataFrame,
    value_col: str,
    n: int,
    by: Sequence[str] = (),
    accuracy: int = 10000,
    out_col: str = "bucket",
) -> DataFrame:
    """Fully-parallel approximate ntile: assign each row to one of
    ``n`` quantile buckets (1..n) of ``value_col``, optionally per
    ``by`` group.

    Why not ``F.ntile``: an exact ntile window funnels each partition
    through ONE task — with a low-cardinality (or empty) partition key
    that is the whole table on one core (the q55 scale hazard). Here
    the cutpoints come from a percentile_approx aggregation (map-side
    partials, bounded sketch state), broadcast back, and the bucket is
    a pure projection — every stage is parallel, error is bounded by
    the sketch accuracy, and ties get a deterministic bucket (first
    cutpoint not below the value).

    Buckets are near-equal-sized rather than exactly equal-sized —
    the honest contract of any sketch-based ranking.
    """
    probs = [i / n for i in range(1, n)]
    keys = list(by)
    cuts = df.groupBy(*keys).agg(
        F.percentile_approx(value_col, probs, accuracy).alias("__cuts")
    )
    joined = df.join(F.broadcast(cuts), keys) if keys else df.crossJoin(
        F.broadcast(cuts)
    )
    v = F.col(value_col)
    bucket = F.lit(1)
    for i in range(n - 1):
        bucket = bucket + F.when(v > F.col("__cuts")[i], 1).otherwise(0)
    return joined.withColumn(out_col, bucket.cast("int")).drop("__cuts")


def weighted_median(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    weight_col: str,
    out_col: str = "w_median",
) -> DataFrame:
    """Exact weighted median (lower weighted median): the smallest value
    whose cumulative weight reaches half the group's total weight.

    Weights accumulate as exact decimals (order-independent), and the
    half-total comparison is ``2*cumw >= total`` in decimal arithmetic —
    no division, no doubles, so any engine reproduces the selection
    bit-for-bit.

    Shape (guide §2.3): weights are pre-aggregated to the
    (group, value) grain FIRST — the per-group window then sorts the
    reduced two-column support frame, not full-width input rows. The
    selected value is identical: a value qualifies iff the cumulative
    weight at the END of its run reaches half the total, which is
    exactly the per-value aggregated cumulative sum. (The old shape
    ran the cumulative window over raw rows ordered by
    (value, tiebreak) and dragged every input column through the
    per-group sort — 13.6 s at sf0.1 on 3-partition skew; the value
    grain cuts both the row count and the row width.) No tiebreak is
    needed: the (group, value) grain is already a total order.

    Two narrow shuffles: the (group, value) partial+final aggregate,
    then the per-group window + min reusing one hashpartitioning(by)
    exchange. Output: [*by], w_median.
    """
    wdec = F.col(weight_col).cast("decimal(28,6)")
    keys = [F.col(k) for k in by]
    pre = df.groupBy(*by, value_col).agg(F.sum(wdec).alias("__w"))
    cum = (
        Window.partitionBy(*keys)
        .orderBy(F.col(value_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy(*keys)
    qualified = (
        pre.withColumn("__cumw", F.sum("__w").over(cum))
        .withColumn("__totw", F.sum("__w").over(tot))
        .where(F.col("__cumw") * 2 >= F.col("__totw"))
    )
    return qualified.groupBy(*by).agg(F.min(value_col).alias(out_col))
