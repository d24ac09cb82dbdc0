"""Distributed vector statistics over embedding columns.

Two layers with different portability contracts:

- ``dimension_stats``: per-dimension mean/std/min/max from EXACT decimal
  moments over a posexplode — engine-portable (DuckDB-oracle-gated,
  q120), one shuffle on the (tiny) dimension key. This is the
  normalization-constant pass a feature pipeline runs before scaling
  embeddings.
- ``correlation_matrix``: the `pyspark.ml.stat.Correlation` surface
  over the same data — JVM BLAS-side, double accumulation (fast, NOT
  bit-portable; gated by numpy-compared tests instead of a SQL
  oracle). Use it at 100 TB where the d×d matrix per partition beats a
  d²-row shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dimension_stats(
    df: DataFrame,
    vec_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Per-dimension feature statistics from exact decimal moments.

    posexplode turns (row, vector) into (row, dim, component) — the
    shuffle key is the DIMENSION (cardinality d, tiny), and partial
    aggregation collapses each map task to d rows before the exchange,
    so the network cost is d × tasks regardless of row count.

    mean = S1/n (one division), std via the same fixed epilogue as
    group_zscore (exact n·S2 − S1² then sqrt), min/max exact decimals
    cast to double. Output: dim, n, mean, std, min_val, max_val.
    """
    # float → double first (exact widening, portable — the q61
    # convention), only then the rounding decimal cast
    comp = F.col("component").cast("double")
    xi = (
        (comp.cast(f"decimal(18,{decimals})") * (10 ** decimals))
        .cast("decimal(19,0)")
    )
    d38 = "decimal(38,0)"
    exploded = df.select(
        F.posexplode(vec_col).alias("dim", "component")
    )
    sums = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi.cast(d38)).alias("__sx"),
        F.sum((xi * xi).cast(d38)).alias("__sxx"),
        # min/max stay double: order-independent AND exact, no decimal
        # round trip (whose double conversion drifts an ulp in DuckDB)
        F.min(comp).alias("__mn"),
        F.max(comp).alias("__mx"),
    )
    nd = F.col("n").cast("decimal(12,0)")
    scale = float(10 ** decimals)
    mean = F.col("__sx").cast("double") / F.col("n").cast("double") / F.lit(scale)
    a = (nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    ratio = F.lit(1.0) / (
        F.col("n").cast("double") * (F.col("n") - F.lit(1)).cast("double")
    )
    std = F.sqrt(a * ratio) / F.lit(scale)
    return sums.select(
        "dim",
        "n",
        mean.alias("mean"),
        F.when(F.col("n") > 1, std).alias("std"),
        F.col("__mn").alias("min_val"),
        F.col("__mx").alias("max_val"),
    )


def correlation_matrix(
    df: DataFrame,
    vec_col: str,
    method: str = "pearson",
) -> DataFrame:
    """Feature correlation matrix via ``pyspark.ml.stat.Correlation``
    (distributed Gram-matrix accumulation — each partition reduces to
    one d×d matrix, so shuffle volume is d² per task, never rows).

    Returns the matrix FLATTENED to (i, j, corr) rows with i <= j —
    relational, joinable, and diffable, unlike the MatrixUDT scalar.
    """
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Correlation

    vecs = df.select(array_to_vector(F.col(vec_col)).alias("__v"))
    mat = Correlation.corr(vecs, "__v", method).head()[0]
    d = mat.numRows
    arr = mat.toArray()
    rows = [
        (i, j, float(arr[i, j])) for i in range(d) for j in range(i, d)
    ]
    return df.sparkSession.createDataFrame(rows, "i int, j int, corr double")
