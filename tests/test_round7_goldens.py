"""Round-7 golden-value pins for the remaining rows-only queries
(VERDICT r6 next-round #2): q25, q121, q281, q98, q139, q189, q190.

Like the round-6 pins (q27/q28/q62/q197), each value was frozen only
after measuring determinism: every query below was digested in
independent JVMs at shuffle_partitions=8 AND =32 —

- q25 (ARIMA grid), q121 (MLlib correlation), q281 (count-min),
  q139 (label propagation), q189 (k-core), q190 (PQ top-k) are
  partition-count-INVARIANT (identical digest at 8 and 32), so they
  pin in-session against the conftest fixture.
- q98 (PageRank) historically was NOT (double mass sums folded in
  shuffle order); since round 10 it runs the integer fixed-point
  variant and is partition-count-invariant too (verified 8 == 32).
  Its pin keeps the fresh-subprocess form as a cross-JVM determinism
  witness.

q25's pin covers exactly what the grid search promises: the winning
(p,d,q) combo and walk-forward MSE per series (three explicit sample
rows plus the full-output digest). q190 additionally pins recall@5
against the exact brute-force top-5 (operators/similarity.topk_cosine)
— the metric a PQ index is FOR — at its frozen value 38/50.

Any legitimate change (Spark version bump, operator rewrite) may move
these digests; re-freeze only after confirming cross-JVM stability.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

SF_001 = "/root/testdata/sf0.01"


def _queries():
    import __spark_entry__ as m

    return m.queries()


def _digest(df):
    rows = sorted(tuple(r) for r in df.collect())
    txt = "\n".join(repr(r) for r in rows)
    return len(rows), hashlib.sha256(txt.encode()).hexdigest()[:16]


def test_q25_arima_grid_golden(spark):
    df = _queries()["q25_arima_grid"](spark, SF_001)
    assert _digest(df) == (150, "c50a2d0c32f9c0ac")
    rows = {r["user_id"]: r for r in df.collect()}
    # explicit winner + MSE spot pins for the three lowest series ids
    assert rows[0]["best_params"] == '{"p": 1, "d": 0, "q": 0}'
    assert rows[0]["mse"] == 5694.172132463855
    assert rows[1]["best_params"] == '{"p": 1, "d": 0, "q": 0}'
    assert rows[1]["mse"] == 809.7642168000285
    assert rows[2]["best_params"] == '{"p": 2, "d": 0, "q": 0}'
    assert rows[2]["mse"] == 1225.3954946180784


def test_q25_equals_walk_forward_mse_in_process(spark):
    """Every q25 row is the grid winner and MSE that
    ``models.walk_forward_mse`` gives in this process on the same daily
    series, bit for bit. The digest and MSE pins above hold for one
    BLAS build on one CPU: ``lstsq`` runs the OpenBLAS kernel chosen for
    the host, and its last bits may differ elsewhere (two pins frozen
    on another host read a few ulp apart on a 4-CPU AVX-512 host with
    numpy 1.26.4). This check holds on any host."""
    import json

    from sensor_time_series_pyspark_spark.ml.forecast import (
        _best_combo,
        _series_values,
    )
    from sensor_time_series_pyspark_spark.ml.models import walk_forward_mse
    from sensor_time_series_pyspark_spark.queries.core import _daily_series

    grid = [
        {"p": 1, "d": 0, "q": 0},
        {"p": 1, "d": 1, "q": 0},
        {"p": 2, "d": 0, "q": 0},
        {"p": 0, "d": 1, "q": 1},
    ]
    got = {
        r["user_id"]: (r["best_params"], r["mse"])
        for r in _queries()["q25_arima_grid"](spark, SF_001).collect()
    }
    want = {}
    for uid, pdf in _daily_series(spark, SF_001).toPandas().groupby("user_id"):
        x = _series_values(pdf, "day", "value")
        mses = [walk_forward_mse(x, "arima", g) for g in grid]
        best = _best_combo(mses)
        want[uid] = (json.dumps(grid[best]), mses[best])
    assert got == want

def test_q121_mllib_corr_golden(spark):
    assert _digest(_queries()["q121_mllib_corr"](spark, SF_001)) == (
        2080,
        "4789bc44cf7aa1d2",
    )


def test_q281_cm_frequency_golden(spark):
    assert _digest(_queries()["q281_cm_frequency"](spark, SF_001)) == (
        150,
        "b2f12835b3716d23",
    )


def test_q139_communities_golden(spark):
    assert _digest(_queries()["q139_communities"](spark, SF_001)) == (
        15,
        "5e073db7df14be0f",
    )


def test_q189_kcore_golden(spark):
    assert _digest(_queries()["q189_kcore"](spark, SF_001)) == (
        2000,
        "cc4f28fc72a8167f",
    )


def test_q190_pq_topk_golden_and_recall(spark):
    from sensor_time_series_pyspark_spark.operators.similarity import (
        topk_cosine,
    )
    from sensor_time_series_pyspark_spark.sources.readers import read_table

    df = _queries()["q190_pq_topk"](spark, SF_001)
    # re-pinned in round 10: q190 switched to the deterministic
    # integer-pivot codebooks (pq_topk_cosine_pivots) when it was
    # promoted to a hash-gated oracle
    assert _digest(df) == (50, "374334e0cf9501a4")
    emb = read_table(spark, SF_001, "embeddings")
    qs = emb.where(F.col("vec_id") < 10)
    exact = topk_cosine(emb, qs, "vec_id", "vec_id", "embedding", k=5)
    truth = {(r["qid"], r["cid"]) for r in exact.collect()}
    got = {(r["qid"], r["cid"]) for r in df.collect()}
    assert len(truth) == 50
    # recall@5 = 0.76 with the md5-pivot codebook — identical to the
    # learned KMeans codebook's frozen 0.76 at this scale (the
    # portability switch cost no recall here; frozen)
    assert len(truth & got) == 38


def test_q98_pagerank_golden_isolated_session():
    """PageRank digests differ by shuffle partitioning (double mass
    sums fold in shuffle order), so pin in a fresh subprocess JVM at
    shuffle_partitions=8 — immune to cached upstream plans from other
    tests shifting the fold order."""
    import subprocess
    import sys

    code = """
import sys, hashlib
sys.path.insert(0, "/root/repo")
import __spark_entry__ as m
from sensor_time_series_pyspark_spark.session import get_spark
spark = get_spark("goldens", shuffle_partitions=8)
rows = sorted(tuple(r) for r in m.queries()["q98_pagerank"](spark, "/root/testdata/sf0.01").collect())
txt = "\\n".join(repr(r) for r in rows)
print("GOLDEN", len(rows), hashlib.sha256(txt.encode()).hexdigest()[:16])
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=900,
        cwd="/root/repo",
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("GOLDEN")]
    assert lines, out.stderr[-2000:]
    _, n, h = lines[0].split()
    # re-pinned in round 10: q98 switched to integer fixed-point
    # pagerank on promotion. The digest is now partition-independent
    # by construction (integer sums commute), but the isolated-session
    # pin is kept as the cheapest cross-JVM determinism witness.
    assert (int(n), h) == (100, "3fbb9824d11f9437")


def test_q43_model_metrics_golden_isolated_session():
    """q43 (GBT evaluator metrics + feature importances) is seeded but
    folds floats in data-partition order like q27/q28, so it pins in a
    fresh subprocess JVM at shuffle_partitions=8 (digest verified
    stable across two independent JVMs before freezing). This empties
    the unpinned rows-only class entirely."""
    import subprocess
    import sys

    code = """
import sys, hashlib
sys.path.insert(0, "/root/repo")
import __spark_entry__ as m
from sensor_time_series_pyspark_spark.session import get_spark
spark = get_spark("goldens", shuffle_partitions=8)
rows = sorted(tuple(r) for r in m.queries()["q43_model_metrics"](spark, "/root/testdata/sf0.01").collect())
txt = "\\n".join(repr(r) for r in rows)
print("GOLDEN", len(rows), hashlib.sha256(txt.encode()).hexdigest()[:16])
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=900,
        cwd="/root/repo",
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("GOLDEN")]
    assert lines, out.stderr[-2000:]
    _, n, h = lines[0].split()
    assert (int(n), h) == (1, "4c36cced83301777")
