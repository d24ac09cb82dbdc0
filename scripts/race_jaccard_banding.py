"""Race the exact inverted-index set-similarity join (``jaccard_pairs``,
q19's headline implementation) against the banding-FIRST pipeline
(``minhash_pairs``: MinHash signatures -> banded-LSH candidates ->
exact-Jaccard verify) — VERDICT r9 ask #1.

Why this race matters: q19's inverted index is the steepest headline
on the scaling curve (~5x/decade) because its candidate mass grows
with sum(df^2) over shingle document frequencies, while the banding
pipeline's candidate mass grows with the number of TRUE near-dup
pairs (collision probability s^r per band) — at some corpus size the
banded path must win whenever its recall is acceptable. The two
differ in contract: inverted is exact (recall 1.0); banding bounds
recall by 1-(1-t^r)^b at the threshold (verification keeps precision
at 1.0), so the race also RECORDS measured recall per leg — the
dispatcher (operators/dispatch.py:jaccard_pairs_auto) refuses the
banded path when the analytic recall floor fails, no matter the size.

Methodology matches scripts/race_jaccard.py: load-gated legs, warm-up
pass doubles as the recall check (banded pairs must be a subset of
inverted pairs), best-of-N wall time to a noop sink.

Usage: python scripts/race_jaccard_banding.py [--repeats N] [--out FILE]
"""

from __future__ import annotations

import json
import os
import sys
import time

from sensor_time_series_pyspark_spark.operators import (
    jaccard_pairs,
    minhash_pairs,
)
from sensor_time_series_pyspark_spark.queries.common import _rep_docs
from sensor_time_series_pyspark_spark.session import get_spark

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from race_jaccard import wait_for_idle  # noqa: E402

LEGS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("scale10", "/tmp/scale10"),
    ("scale_big", "/tmp/scale_big"),
]
THRESHOLDS = [0.5, 0.8]
SHINGLE_K = 3
N_HASHES, N_BANDS = 16, 8


def expected_recall(t: float) -> float:
    r = N_HASHES // N_BANDS
    return 1.0 - (1.0 - t**r) ** N_BANDS


def build(strategy, spark, sf_dir, t):
    reps = _rep_docs(spark, sf_dir)
    if strategy == "inverted":
        return jaccard_pairs(
            reps, "doc_id", "text", threshold=t, shingle_k=SHINGLE_K,
            persist_index=True,
        )
    return minhash_pairs(
        reps, "doc_id", "text", threshold=t, shingle_k=SHINGLE_K,
        n_hashes=N_HASHES, n_bands=N_BANDS, sid="fast",
    )


def main() -> None:
    args = sys.argv[1:]
    repeats = int(args[args.index("--repeats") + 1]) if "--repeats" in args else 3
    out_file = args[args.index("--out") + 1] if "--out" in args else None
    spark = get_spark("race_jaccard_banding")
    result = {
        "metric": "jaccard_banding_race",
        "repeats": repeats,
        "n_hashes": N_HASHES,
        "n_bands": N_BANDS,
        "shingle_k": SHINGLE_K,
        "legs": {},
    }
    for leg, sf_dir in LEGS:
        if not os.path.exists(sf_dir):
            print(f"skip {leg}: {sf_dir} missing", file=sys.stderr)
            continue
        load1 = wait_for_idle(2.0, 600.0)
        n_docs = _rep_docs(spark, sf_dir).count()
        leg_out = {"load1": load1, "n_docs": n_docs}
        for t in THRESHOLDS:
            times = {}
            pair_sets = {}
            for strategy in ("inverted", "banded"):
                df = build(strategy, spark, sf_dir, t)
                # warm-up (untimed) collects the pair KEYS so the race
                # doubles as the subset/recall check per leg
                pair_sets[strategy] = {
                    (r["id_a"], r["id_b"]) for r in df.select(
                        "id_a", "id_b"
                    ).collect()
                }
                best = float("inf")
                for _ in range(repeats):
                    t0 = time.perf_counter()
                    build(strategy, spark, sf_dir, t).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
                times[strategy] = round(best, 3)
                spark.catalog.clearCache()
            missed = pair_sets["banded"] - pair_sets["inverted"]
            assert not missed, (leg, t, sorted(missed)[:5])
            n_exact = len(pair_sets["inverted"])
            recall = (
                len(pair_sets["banded"]) / n_exact if n_exact else 1.0
            )
            leg_out[f"t{t}"] = {
                **times,
                "n_pairs_exact": n_exact,
                "n_pairs_banded": len(pair_sets["banded"]),
                "recall": round(recall, 4),
                "expected_recall_at_t": round(expected_recall(t), 4),
                "banded_over_inverted": round(
                    times["banded"] / times["inverted"], 2
                ),
            }
        result["legs"][leg] = leg_out
    blob = json.dumps(result)
    print(blob)
    if out_file:
        with open(out_file, "w") as f:
            f.write(blob + "\n")


if __name__ == "__main__":
    main()
