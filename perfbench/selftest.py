"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # all checks (a few minutes)
    python3 perfbench/selftest.py --quick    # no Spark runs

1. The same seed gives an identical input digest; another seed gives
   a different one (every stage, tiny sizes).
2. Every metric name matches ``[A-Za-z0-9_.-]+`` and BENCHMARK.json
   lists exactly the metrics and workloads the benchmark reports.
3. A tiny-scale smoke run of every workload reports every metric with
   no failed operation; the two BENCHMARK.json workloads run traced,
   the single-stage ones untraced.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import layers
import run
import stages

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def check_digests(work: str) -> None:
    for name, cls in stages.STAGES.items():
        digests = []
        for i, seed in enumerate((1, 1, 2)):
            stage = cls(os.path.join(work, f"digest{i}"), seed, tiny=True)
            digests.append(stage.generate())
        assert digests[0] == digests[1], f"{name}: same seed, different inputs"
        assert digests[0] != digests[2], f"{name}: different seeds, same inputs"
    print("ok   digests: same seed -> same inputs, new seed -> new inputs")


def check_names() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END, f"end_to_end differs: {e2e} vs {run.END_TO_END}"
    assert per == {n: u for n, u, _, _ in layers.PER_LAYER}, "per_layer differs from layers.PER_LAYER"
    for name in list(e2e) + list(per):
        assert METRIC_NAME.fullmatch(name), f"bad metric name {name!r}"
    for w in bench["workloads"]:
        assert w["name"] in run.WORKLOADS, f"unknown workload {w['name']}"
    print(f"ok   names: {len(e2e)} end-to-end + {len(per)} per-layer metrics match BENCHMARK.json")


def smoke(workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=run.ROOT, timeout=600)
    assert proc.returncode == 0, f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    want = {n for n, *_ in layers.PER_LAYER} if trace else set(run.END_TO_END)
    assert set(result["metrics"]) == want, f"{workload}: metrics {sorted(result['metrics'])}"
    assert result["correct"] and result["failed"] == 0, f"{workload}: {proc.stdout[-3000:]}"
    print(f"ok   smoke {workload} trace={trace}: {result['attempted']} ops, ops_failed_frac=0")


def main(argv: list[str]) -> int:
    work = os.path.join(run.ROOT, ".bench_work", "selftest")
    try:
        check_digests(work)
        check_names()
        if "--quick" not in argv:
            for w in ("etl_batch", "model_fit", "query_mix", "stream_ingest"):
                smoke(w, 0)
            for w in ("pipeline", "online"):
                smoke(w, 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
