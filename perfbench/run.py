"""Seeded sensor-pipeline benchmark.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs
from ``--seed`` under ``.bench_work/``, starts one Spark session on
``local[nproc]``, warms every stage up, then runs its workload as a
closed loop with one client for at least ``--seconds`` seconds of
complete cycles. Afterwards it checks every stage's outputs against an
independent reference and prints the metrics: human-readable lines
first, then one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs at
least two cycles, traces every other op (spans + Spark job tags + the
event log), and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import layers
import stages as st
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sensor_time_series_pyspark_spark"

WORKLOADS = {
    # the workloads BENCHMARK.json lists
    "pipeline": ("etl", "model"),
    "online": ("query", "stream"),
    # single stages, for drilling into one of the two
    "etl_batch": ("etl",),
    "model_fit": ("model",),
    "query_mix": ("query",),
    "stream_ingest": ("stream",),
}
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_gmean_ms": "ms",
}


def machine() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "load1": os.getloadavg()[0],
    }


def configure_env(work: str, env: dict) -> None:
    """Fit Spark to this machine before the JVM starts: all cores,
    local dirs inside the checkout, and a driver heap that leaves room
    for the Python workers (a quarter of RAM, at most 2 GiB)."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    heap_gb = max(1, min(2, int(env["ram_gb"] // 4)))
    os.environ["SPARK_GRAFT_CPUS"] = str(env["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    env["driver_mem"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]


def import_package():
    """The package must come from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        pkg = __import__(PACKAGE)
    except ImportError as exc:
        raise SystemExit(f"benchmark: cannot import {PACKAGE} from {ROOT}: {exc}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"benchmark: {PACKAGE} resolved outside the checkout: {pkg.__file__}")
    return pkg


class Ctx:
    """What the stages need: the session, the tracer and the registry."""

    def __init__(self, spark, tracer, queries, oracle_sql):
        self.spark = spark
        self.tracer = tracer
        self.span = tracer.span
        self.queries = queries
        self.oracle_sql = oracle_sql


def generate(stages) -> tuple[float, str]:
    """Generate every stage's inputs once (``selftest`` checks that the
    same seed gives the same digest). Returns (s, digest)."""
    sw = tracing.Stopwatch()
    digest = "".join(s.generate() for s in stages)
    return sw.read()[1], digest


def warm_up(ctx, stages, workers: int) -> None:
    """A cold pass of every op, then a warm pass (``Stage.warm_ops``). The
    cold cost is mostly driver-side planning, code generation and JIT, so
    the ops of each pass run concurrently on ``workers`` threads."""
    for s in stages:
        s.prepare(ctx)
    for ops in ([fn for s in stages for _, fn in s.setup_ops(ctx)],
                [fn for s in stages for _, fn in s.warm_ops(ctx)]):
        with ThreadPoolExecutor(workers) as pool:
            for f in [pool.submit(fn) for fn in ops]:
                f.result()
        ctx.spark.catalog.clearCache()


def timed_loop(ctx, stages, seconds, rng, traced):
    """Closed loop, one client: ops in a seeded order, cycle after cycle,
    until ``seconds`` have passed and every op ran at least once. A
    cycle is every stage's ops once. An untraced run stops at the first
    op boundary after that. A traced run keeps whole cycles, at least
    two, and traces every other op, each op in every other cycle: every
    op type runs both ways, and the warm-up trend across cycles falls on
    both sides. Returns (samples, whole cycles)."""
    samples, cycles = [], 0
    t_start = time.perf_counter()
    min_cycles = 2 if traced else 1

    def over() -> bool:
        return time.perf_counter() - t_start >= seconds and cycles >= min_cycles

    while not over():
        ops = [(s.name, name, fn) for s in stages for name, fn in s.cycle(ctx)]
        for i in rng.permutation(len(ops)):
            stage, name, fn = ops[i]
            ctx.tracer.active = traced and (i + cycles) % 2 == 1
            ctx.tracer.op_id = len(samples)
            sw = tracing.Stopwatch()
            try:
                rows, ok = fn(), True
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rows, ok = 0, False
            raw, adjusted = sw.read()
            samples.append(st.Sample(stage, name, adjusted, raw, rows, ok, ctx.tracer.active))
            # no op inherits another's persisted frames
            ctx.spark.catalog.clearCache()
            if not traced and over():
                break
        else:
            cycles += 1
    ctx.tracer.active = False
    return samples, cycles


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    forked, and wait until every one of them has exited."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    pids = tracing.descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def end_to_end(ok: list, clock: str = "wall_s") -> dict[str, float]:
    """One cycle as the user sees it, from per-op medians: every op type
    counts once however many times the loop happened to run it.
    ``clock`` picks the steal-adjusted (``wall_s``) or raw (``raw_s``)
    op times."""
    walls: dict[tuple, list[float]] = {}
    rows: dict[tuple, int] = {}
    for s in ok:
        walls.setdefault((s.stage, s.op), []).append(getattr(s, clock))
        rows[(s.stage, s.op)] = s.rows
    med = {k: statistics.median(v) for k, v in walls.items()}
    return {
        "rows_per_s": sum(rows.values()) / sum(med.values()),
        # a geometric mean, not the median: with one or two samples per
        # op type, the median jumps between neighbouring op types
        "op_gmean_ms": statistics.geometric_mean(med.values()) * 1000.0,
    }


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool = False) -> dict:
    env = machine()
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{workload}-s{seed}-t{int(trace)}-p{os.getpid()}")
    import_package()
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, env)
    from sensor_time_series_pyspark_spark.queries import ORACLE_SQL, QUERIES
    from sensor_time_series_pyspark_spark.session import get_spark

    stages = [st.STAGES[n](work, seed, tiny) for n in WORKLOADS[workload]]
    try:
        gen_s, digest = generate(stages)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
        }
        if trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            })
        sw = tracing.Stopwatch()
        spark = get_spark(f"perfbench-{workload}", extra_conf=conf)
        session_s = sw.read()[1]
        try:
            env.update(spark=spark.version, java=spark.sparkContext._jvm.System.getProperty("java.version"))
            ctx = Ctx(spark, tracing.Tracer(spark.sparkContext), dict(QUERIES), dict(ORACLE_SQL))
            sw = tracing.Stopwatch()
            warm_up(ctx, stages, env["nproc"])
            warm_s = sw.read()[1]
            jvm_pid = spark.sparkContext._gateway.proc.pid
            sw = tracing.Stopwatch()
            with tracing.RssSampler(jvm_pid) as rss:
                samples, cycles = timed_loop(ctx, stages, seconds, np.random.default_rng(seed), trace)
            loop_wall, loop_adjusted = sw.read()
            sw = tracing.Stopwatch()
            failures: dict[str, list[str]] = {}
            for s in stages:
                try:
                    failures[s.name] = s.check(ctx)
                except Exception as exc:
                    traceback.print_exc(file=sys.stderr)
                    failures[s.name] = [f"{s.name}: check raised {exc!r}"]
            models_us = 0.0
            if trace:
                models_us = next((s.models_us_per_series() for s in stages if s.name == "model"), 0.0)
            check_s = sw.read()[1]
        finally:
            stop_spark(spark)

        plain = [s for s in samples if not s.traced]
        ok = [s for s in plain if s.ok]
        # an operation is one timed op or one stage's output check
        attempted = len(samples) + len(stages)
        failed = sum(not s.ok for s in samples) + sum(bool(f) for f in failures.values())
        result = {
            "workload": workload, "seed": seed, "digest": digest[:16], "env": env,
            "cycles": cycles, "ops": len(samples),
            "failures": [f for fs in failures.values() for f in fs],
            "stage_metrics": {}, "end_to_end": {}, "per_layer": {},
            "attempted": attempted, "failed": failed,
            "setup": {"gen_s": gen_s, "session_s": session_s, "warm_s": warm_s, "check_s": check_s},
        }
        for s in stages:
            if all(x.ok for x in plain if x.stage == s.name):
                result["stage_metrics"].update(s.summary([x for x in plain if x.stage == s.name]))
        result["stage_metrics"]["ops_failed_frac"] = (failed / attempted, "ratio")
        result["stage_metrics"]["peak_rss_mb"] = (rss.peak_kb / 1024.0, "MB")
        if ok:
            result["end_to_end"] = {
                "setup_s": gen_s + session_s + warm_s,
                **end_to_end(ok),
            }
            result["raw"] = {**end_to_end(ok, "raw_s"), "steal_frac": 1.0 - loop_adjusted / loop_wall}
        if trace:
            jobs = tracing.read_event_log(log_dir)
            result["per_layer"] = layers.per_layer(
                ctx.tracer, jobs, stages, samples, session_s, rss.peak_kb / 1024.0, env["nproc"], models_us
            )
            ctx.tracer.dump(os.path.join(work_root, f"spans-{workload}-s{seed}.json"))
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(result: dict, trace: bool) -> dict:
    """Human-readable lines, then the result object."""
    env = result["env"]
    print(
        f"# env nproc={env['nproc']} ram_gb={env['ram_gb']} load1={env['load1']:.2f} "
        f"spark={env.get('spark')} java={env.get('java')} driver_mem={env['driver_mem']} "
        f"python={platform.python_version()}"
    )
    print(
        f"# workload={result['workload']} seed={result['seed']} digest={result['digest']} "
        f"cycles={result['cycles']} ops={result['ops']} closed-loop clients=1 "
        + " ".join(f"{k}={v:.3f}" for k, v in result["setup"].items())
    )
    if "raw" in result:
        print("# wall clock, steal included: " + " ".join(f"{k}={v:.6g}" for k, v in result["raw"].items()))
    for f in result["failures"]:
        print(f"# FAIL {f}")
    row = " ".join(f"{k}={v:.6g}{u}" for k, (v, u) in result["stage_metrics"].items())
    print(f"{result['workload']}: {row}")
    if trace:
        units = {n: u for n, u, _, _ in layers.PER_LAYER}
        values = result["per_layer"]
    else:
        units, values = END_TO_END, result["end_to_end"]
    for name, value in values.items():
        print(f"  {name:<40} {value:>16.6g} {units[name]}")
    metrics = {n: {"value": v, "unit": units[n]} for n, v in values.items()}
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: minute inputs, for the benchmark's self-test")
    a = p.parse_args(argv)
    result = run(a.workload, a.seed, a.seconds, bool(a.trace), a.scale == "tiny")
    out = report(result, bool(a.trace))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
