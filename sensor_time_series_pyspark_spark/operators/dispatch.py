"""Skew-aware auto-dispatch for the hot-key split operators
(VERDICT r8 #3): round 8 proved `sessionize_split` / `asof_join_split`
exact and 4.6x / 3.2x faster on a 90%-hot key, but the caller had to
KNOW the key was hot. These wrappers sample the key histogram with one
sample-sized aggregation job and pick split vs unsplit by the measured
crossover from SCALING.md ("Hot-series stragglers"): the split pays a
constant ~0.5 s (bucket summary + stitch join), the unsplit path pays
the hottest key's full single-task window — breakeven sat between the
23%-hot leg (~1.15M hot rows, +-11%) and the 90%-hot leg (~4.5M hot
rows, 3-5x), so the default crossover is 2M estimated hot-key rows.

At 100 TB the same dispatch holds: a cluster-scale hot key is hours of
single-task work, the sample job is one scan of a fraction of the key
column, and the decision cost amortizes to nothing. The sample reads
ONLY the key columns (column pruning reaches the parquet scan), so the
decision job never touches the wide fact payload.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.operators.asof import (
    asof_join,
    asof_join_split,
)
from sensor_time_series_pyspark_spark.operators.sessionize import (
    sessionize,
    sessionize_split,
)

#: measured breakeven (SCALING.md round 8): ~1.15M hot rows was wash,
#: ~4.5M was a 3-5x win — 2M splits the bracket.
DEFAULT_HOT_ROWS_CROSSOVER = 2_000_000


def estimate_hot_key_rows(
    df: DataFrame,
    keys: Sequence[str],
    sample_fraction: float = 0.01,
    seed: int = 7,
) -> float:
    """Estimated row count of the HOTTEST key, from one aggregation
    over a Bernoulli sample of the key columns (scaled back up by the
    sampling fraction). 0.0 for an empty frame. fraction >= 1 reads
    the full key column (exact)."""
    if not 0.0 < sample_fraction:
        raise ValueError("sample_fraction must be positive")
    s = df.select(*[F.col(k) for k in keys])
    frac = min(float(sample_fraction), 1.0)
    if frac < 1.0:
        s = s.sample(fraction=frac, seed=seed)
    row = (
        s.groupBy(*keys)
        .count()
        .agg(F.max("count").alias("top"))
        .collect()[0]
    )
    top = row["top"]
    return 0.0 if top is None else float(top) / frac


def plan_row_count_bound(df: DataFrame) -> float | None:
    """Total-row count from Catalyst plan statistics — FREE, no job.
    Defined when the frame sits on a materialized cache
    (InMemoryRelation tracks exact rows after the first action), on
    ANALYZE'd/CBO-visible tables, or any plan whose stats carry a
    rowCount. None when the optimizer doesn't know. Because the
    hottest key's row count can never exceed the TOTAL row count,
    this is a sound upper bound for the split decision (round-10
    zero-job path, VERDICT r9 #4).

    The probe goes through a FRESH QueryExecution (``select("*")`` —
    a noop the optimizer strips) rather than ``df``'s own: Catalyst
    memoizes plan statistics per QueryExecution, so probing the
    original before its cache materializes would pin rowCount=None
    forever; the fresh plan re-resolves against the CacheManager and
    sees the post-materialization statistics."""
    try:
        qe = df.select("*")._jdf.queryExecution()
        rc = qe.optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return float(str(rc.get()))
    except Exception:
        return None
    return None


def should_split(
    df: DataFrame,
    keys: Sequence[str],
    hot_rows_crossover: float = DEFAULT_HOT_ROWS_CROSSOVER,
    sample_fraction: float = 0.01,
    seed: int = 7,
) -> bool:
    """True when the estimated hottest-key row count crosses the
    measured split-operator breakeven.

    Zero-job fast path first: when Catalyst plan statistics already
    know the TOTAL row count (materialized cache, ANALYZE'd table)
    and that total sits at or under the crossover, the hottest key —
    bounded above by the total — cannot cross it either, so the
    decision costs NOTHING. Only an inconclusive bound pays the
    one-sample-aggregation job."""
    bound = plan_row_count_bound(df)
    if bound is not None and bound <= hot_rows_crossover:
        return False
    return (
        estimate_hot_key_rows(df, keys, sample_fraction, seed)
        > hot_rows_crossover
    )


def sessionize_auto(
    df: DataFrame,
    ts_col: str,
    partition_by: Sequence[str],
    gap_seconds: int,
    bucket_seconds: int,
    session_col: str = "session_seq",
    tiebreak_col: str | None = None,
    hot_rows_crossover: float = DEFAULT_HOT_ROWS_CROSSOVER,
    sample_fraction: float = 0.01,
    seed: int = 7,
) -> DataFrame:
    """``sessionize`` that self-selects the split path on hot keys.
    Row-identical either way (the split is exact for any bucket
    width); the sample job is the only added cost on the unsplit
    path."""
    if should_split(
        df, partition_by, hot_rows_crossover, sample_fraction, seed
    ):
        return sessionize_split(
            df,
            ts_col,
            partition_by,
            gap_seconds,
            bucket_seconds,
            session_col=session_col,
            tiebreak_col=tiebreak_col,
        )
    return sessionize(
        df,
        ts_col,
        partition_by,
        gap_seconds,
        session_col=session_col,
        tiebreak_col=tiebreak_col,
    )


#: measured corpus-size breakeven for the set-similarity join
#: (history/RACE_BANDING_r10.json): the exact inverted index wins every leg up
#: to 50k distinct docs (1.4-2.0x), the banding-first pipeline wins at
#: 500k (2.1x at t=0.5, 1.35x at t=0.8); log-log interpolation of the
#: two growth exponents puts the crossing at ~105k docs (t=0.5) and
#: ~250k (t=0.8) — 150k splits the bracket.
DEFAULT_JACCARD_DOCS_CROSSOVER = 150_000


def banding_recall(
    threshold: float, n_hashes: int = 16, n_bands: int = 8
) -> float:
    """Analytic LSH recall floor at the decision threshold: a pair
    with jaccard exactly ``threshold`` collides in at least one band
    with probability 1-(1-t^r)^b (r = rows per band). Pairs ABOVE the
    threshold collide more often, so this is the worst case over the
    reported set."""
    r = n_hashes // n_bands
    return 1.0 - (1.0 - float(threshold) ** r) ** n_bands


def jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 1,
    max_token_df: int | None = None,
    n_hashes: int = 16,
    n_bands: int = 8,
    recall_floor: float = 0.95,
    docs_crossover: int = DEFAULT_JACCARD_DOCS_CROSSOVER,
    n_docs: int | None = None,
) -> DataFrame:
    """Set-similarity join that self-selects between the exact
    inverted index (``jaccard_pairs``) and the banding-first pipeline
    (``minhash_pairs`` with the fast sid: signatures -> banded-LSH
    candidates -> exact verify) by the measured corpus-size crossover
    (history/RACE_BANDING_r10.json — the round-9 scaling curve's steepest
    headline, closed by racing the two at 5k/50k/500k docs).

    The contract guard comes FIRST: banding bounds recall by
    ``banding_recall(threshold)`` (precision is 1.0 either way — the
    banded path verifies exact Jaccard before reporting), so when the
    analytic floor at this threshold is below ``recall_floor`` the
    exact path runs no matter the corpus size. Low-threshold sweeps
    (q19's own t=0.2: floor 0.28) therefore always stay exact; the
    banded path only ever serves the high-threshold dedup regime the
    S-curve was tuned for.

    ``n_docs`` short-circuits the sizing job when the caller already
    knows the corpus size (e.g. from a prior ``observe()`` counter or
    catalog stats); otherwise ONE count over the id column decides —
    at 100 TB that count is a metadata/column-pruned scan, amortized
    against a candidate join that runs minutes.
    """
    from sensor_time_series_pyspark_spark.operators.dedup import (
        jaccard_pairs,
        minhash_pairs,
    )

    exact = lambda: jaccard_pairs(  # noqa: E731
        df,
        id_col,
        text_col,
        threshold=threshold,
        shingle_k=shingle_k,
        max_token_df=max_token_df,
    )
    if banding_recall(threshold, n_hashes, n_bands) < recall_floor:
        return exact()
    n = n_docs if n_docs is not None else df.select(id_col).count()
    if n <= docs_crossover:
        return exact()
    return minhash_pairs(
        df,
        id_col,
        text_col,
        threshold=threshold,
        shingle_k=shingle_k,
        n_hashes=n_hashes,
        n_bands=n_bands,
        sid="fast",
    )


def asof_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    bucket_seconds: int,
    suffix: str = "",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    matched_ts_col: str | None = None,
    tiebreak_col: str | None = None,
    hot_rows_crossover: float = DEFAULT_HOT_ROWS_CROSSOVER,
    sample_fraction: float = 0.01,
    seed: int = 7,
) -> DataFrame:
    """``asof_join`` that self-selects the split path when the LEFT
    side's hottest key crosses the breakeven (the left facts dominate
    the union window; the right side is typically dim-grain)."""
    if should_split(
        left, on, hot_rows_crossover, sample_fraction, seed
    ):
        return asof_join_split(
            left,
            right,
            on,
            left_ts,
            right_ts,
            value_cols,
            bucket_seconds,
            suffix=suffix,
            direction=direction,
            tolerance_seconds=tolerance_seconds,
            matched_ts_col=matched_ts_col,
            tiebreak_col=tiebreak_col,
        )
    return asof_join(
        left,
        right,
        on,
        left_ts,
        right_ts,
        value_cols,
        suffix=suffix,
        direction=direction,
        tolerance_seconds=tolerance_seconds,
        matched_ts_col=matched_ts_col,
        tiebreak_col=tiebreak_col,
    )
