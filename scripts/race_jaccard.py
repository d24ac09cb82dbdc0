"""Race the two exact set-similarity join strategies (VERDICT r8 #2):
``jaccard_pairs`` (full inverted index, overlap counted inside the
join — q19's headline implementation) vs ``jaccard_pairs_prefix``
(PPJoin prefix filtering: only each doc's rarest n-ceil(t*n)+1
shingles enter the index, candidates verified exactly against the
full arrays).

Theory says prefix wins at HIGH threshold (prefix ~ (1-t) of
postings, candidate volume ~(1-t)^2) and loses at low threshold
(prefix ~ whole doc + two extra joins for verification). q19 runs at
t=0.2 where the prefix keeps ~80% of postings; the open question from
round 8 was whether the 10x/second-decade corpora flip the verdict at
either threshold. Both strategies return identical rows (equivalence
pinned by tests/test_dedup_clusters.py), so only wall time is raced.

Methodology: load-gated legs (each waits for load1 < 2), one warm-up
per dataset, best-of-N noop sinks.

Usage: python scripts/race_jaccard.py [--repeats N] [--out FILE]
"""

from __future__ import annotations

import json
import os
import sys
import time

from sensor_time_series_pyspark_spark.operators import (
    jaccard_pairs,
    jaccard_pairs_prefix,
)
from sensor_time_series_pyspark_spark.queries.common import _rep_docs
from sensor_time_series_pyspark_spark.session import get_spark

LEGS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("scale10", "/tmp/scale10"),
    ("scale_big", "/tmp/scale_big"),
]
THRESHOLDS = [0.2, 0.5]  # q19's own setting + the high-t regime
SHINGLE_K = 3


def wait_for_idle(max_load: float, timeout_s: float) -> float:
    """Block until load1 < max_load (or timeout); return the load1 the
    leg actually ran at, so legs stay comparable across runs."""
    deadline = time.monotonic() + timeout_s
    load1 = os.getloadavg()[0]
    while load1 >= max_load and time.monotonic() < deadline:
        time.sleep(10.0)
        load1 = os.getloadavg()[0]
    if load1 >= max_load:
        print(
            f"WARNING leg starting at load1={load1:.2f} >= {max_load} "
            f"after {timeout_s:.0f}s wait",
            file=sys.stderr,
        )
    return round(load1, 2)


def build(strategy, spark, sf_dir, t):
    reps = _rep_docs(spark, sf_dir)
    if strategy == "inverted":
        return jaccard_pairs(
            reps, "doc_id", "text", threshold=t, shingle_k=SHINGLE_K,
            persist_index=True,
        )
    return jaccard_pairs_prefix(
        reps, "doc_id", "text", threshold=t, shingle_k=SHINGLE_K
    )


def main() -> None:
    args = sys.argv[1:]
    repeats = int(args[args.index("--repeats") + 1]) if "--repeats" in args else 3
    out_file = args[args.index("--out") + 1] if "--out" in args else None
    spark = get_spark("race_jaccard")
    result = {"metric": "jaccard_race", "repeats": repeats, "legs": {}}
    for leg, sf_dir in LEGS:
        if not os.path.exists(sf_dir):
            print(f"skip {leg}: {sf_dir} missing", file=sys.stderr)
            continue
        load1 = wait_for_idle(2.0, 600.0)
        leg_out = {"load1": load1}
        for t in THRESHOLDS:
            times = {}
            n_pairs = {}
            for strategy in ("inverted", "prefix"):
                df = build(strategy, spark, sf_dir, t)
                # warm-up (untimed) also records the row count so the
                # race doubles as an output-equality check per leg
                n_pairs[strategy] = df.count()
                best = float("inf")
                for _ in range(repeats):
                    t0 = time.perf_counter()
                    build(strategy, spark, sf_dir, t).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
                times[strategy] = round(best, 3)
                spark.catalog.clearCache()
            assert n_pairs["inverted"] == n_pairs["prefix"], (
                leg, t, n_pairs,
            )
            leg_out[f"t{t}"] = {
                **times,
                "n_pairs": n_pairs["inverted"],
                "prefix_over_inverted": round(
                    times["prefix"] / times["inverted"], 2
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
