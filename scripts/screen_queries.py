"""Screen registered queries through the noop sink, one timed run each
(cache cleared between queries), and write a {name: seconds} JSON.

Usage:
  python scripts/screen_queries.py out.json [names...]   # default: all

Environment: $SPARK_GRAFT_SF_DIR picks the dataset directory and
$SPARK_GRAFT_CPUS the local core count.
Single-repeat numbers: good for ranking offenders, not for A/B calls
(see history/OPTIMIZATION_r11.md's noise discipline).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sensor_time_series_pyspark_spark.queries import QUERIES
from sensor_time_series_pyspark_spark.session import get_spark


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    out_path = sys.argv[1]
    names = sys.argv[2:] or list(QUERIES)
    names = [n for n in names if n in QUERIES]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("screen_queries")
    # warm the JVM + parquet caches on the first query (untimed)
    QUERIES[names[0]](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()
    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(f"screen:{name}")
        t0 = time.perf_counter()
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 - record and continue
            timings[name] = -1.0
            print(f"FAILED {name}: {exc}", file=sys.stderr)
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        if (i + 1) % 25 == 0:
            print(f"{i + 1}/{len(names)}", flush=True)
    timings["__load1"] = round(os.getloadavg()[0], 2)
    with open(out_path, "w") as fh:
        json.dump(timings, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
