"""Per-layer metrics of a traced run.

Each entry of ``PER_LAYER`` is (name, unit, better, end-to-end metric
it should move, or None). A layer a workload does not call reports 0:
that is the prediction for the workload that bypasses it.
"""

from __future__ import annotations

import statistics

import tracing as tr
from stages import QUERY_MIX

PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s"),
    ("session.peak_rss_mb", "MB", "lower", None),
    ("session.gc_s", "s", "lower", "rows_per_s"),
    ("session.cpu_busy_frac", "ratio", "higher", "rows_per_s"),
    ("sources.read_table.calls", "count", "lower", "op_gmean_ms"),
    ("sources.read_table.ms", "ms", "lower", "op_gmean_ms"),
    ("sources.scan.bytes", "bytes", "lower", "rows_per_s"),
    ("sources.scan.rows", "count", "lower", "rows_per_s"),
    ("sources.sink.write_s", "s", "lower", "rows_per_s"),
    ("sources.sink.files", "count", "lower", "rows_per_s"),
    ("sources.sink.bytes", "bytes", "lower", "rows_per_s"),
    ("plans.sensor_etl.build_ms", "ms", "lower", "rows_per_s"),
    ("plans.sensor_etl.rows_out", "count", "higher", "rows_per_s"),
    ("queries.build_ms", "ms", "lower", "op_gmean_ms"),
    ("queries.jobs_per_query", "count", "lower", "op_gmean_ms"),
    *[(f"queries.{q}.p50_ms", "ms", "lower", "op_gmean_ms") for q in QUERY_MIX],
    ("operators.shuffle_bytes", "bytes", "lower", "rows_per_s"),
    ("operators.spill_bytes", "bytes", "lower", "rows_per_s"),
    ("operators.tasks", "count", "lower", "op_gmean_ms"),
    ("operators.task_skew", "ratio", "lower", "op_gmean_ms"),
    ("ml.forecast.python_rows", "count", "lower", "rows_per_s"),
    ("ml.forecast.arrow_bytes", "bytes", "lower", "rows_per_s"),
    ("ml.forecast.tasks", "count", "higher", "rows_per_s"),
    ("ml.forecast.cpu_busy_frac", "ratio", "higher", "rows_per_s"),
    ("ml.models.fit_us_per_series", "us", "lower", "rows_per_s"),
    ("ml.grid_search.fits", "count", "lower", "rows_per_s"),
    ("ml.grid_search.useful_frac", "ratio", "higher", "rows_per_s"),
    ("ml.pipelines.mlp_fit_s", "s", "lower", "op_gmean_ms"),
    ("ml.pipelines.gbt_fit_s", "s", "lower", "op_gmean_ms"),
    ("ml.pipelines.jobs", "count", "lower", "op_gmean_ms"),
    ("streaming.batches", "count", "lower", "rows_per_s"),
    ("streaming.add_batch_ms", "ms", "lower", "op_gmean_ms"),
    ("streaming.wal_commit_ms", "ms", "lower", "op_gmean_ms"),
    ("streaming.commit_offsets_ms", "ms", "lower", "op_gmean_ms"),
    ("streaming.query_planning_ms", "ms", "lower", "op_gmean_ms"),
    ("streaming.state_rows", "count", "lower", "rows_per_s"),
    ("streaming.state_bytes", "bytes", "lower", "rows_per_s"),
    ("streaming.late_rows_dropped", "count", "higher", "rows_per_s"),
    *[(f"{layer}.self_ms", "ms", "lower", "op_gmean_ms")
      for layer in ("sources", "plans", "queries", "operators", "ml", "streaming")],
    ("trace.overhead_frac", "ratio", "lower", None),
]


def _med(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def per_layer(tracer, jobs, stages, samples, session_start_s, peak_rss_mb, nproc, models_us) -> dict[str, float]:
    """Per-layer metrics from the spans of the traced ops, the event log
    jobs attributed to them and the stream progress of traced runs.

    ``samples`` are the loop's op samples, traced and untraced.
    """
    spans = tracer.spans
    by_span = tr.attribute(jobs, tracer)
    self_t = tracer.self_times()
    traced = [s for s in samples if s.traced]
    traced_wall = sum(s.wall_s for s in traced) or 1.0
    # traced ops in units of whole cycles
    n_traced = len(traced) / len({(s.stage, s.op) for s in samples}) or 1.0

    def named(prefix):
        return [sp for sp in spans if sp.name.startswith(prefix)]

    def jobs_of(sps):
        return [j for sp in sps for j in by_span.get(sp.id, [])]

    all_jobs = [j for js in by_span.values() for j in js]
    all_tasks = tr.tasks_of(all_jobs)
    m: dict[str, float] = {
        "session.start_s": session_start_s,
        "session.peak_rss_mb": peak_rss_mb,
        "session.gc_s": sum(t.gc_ms for t in all_tasks) / 1000.0,
        "session.cpu_busy_frac": sum(t.cpu_ns for t in all_tasks) / 1e9 / (traced_wall * nproc),
    }

    rt = named("sources.read_table")
    sinks = named("sources.sink.")
    streams = named("streaming.write_parquet_stream")
    runs = [r for s in stages if s.name == "stream" for r in s.runs if r[2]]
    batches = [p for _, prog, _ in runs for p in prog if p.get("numInputRows", 0) > 0]
    m.update({
        "sources.read_table.calls": float(len(rt)),
        "sources.read_table.ms": sum(sp.duration for sp in rt) * 1000.0,
        "sources.scan.bytes": float(sum(t.input_bytes for t in all_tasks)),
        "sources.scan.rows": float(sum(t.input_rows for t in all_tasks)),
        "sources.sink.write_s": sum(sp.duration for sp in sinks)
        + sum(p["durationMs"].get("addBatch", 0) for p in batches) / 1000.0,
        "sources.sink.files": float(sum(sp.attrs.get("files", 0) for sp in sinks + streams)),
        "sources.sink.bytes": float(sum(sp.attrs.get("bytes", 0) for sp in sinks + streams)),
        "plans.sensor_etl.build_ms": _med(sp.duration * 1000.0 for sp in named("plans.sensor_etl")),
        "plans.sensor_etl.rows_out": _med(sp.attrs["rows_out"] for sp in sinks if "rows_out" in sp.attrs),
    })

    builds = [sp for sp in named("queries.") if sp.name.endswith(".build")]
    q_runs = [sp for sp in named("queries.") if sp.name.endswith(".run")]
    m["queries.build_ms"] = _med(sp.duration * 1000.0 for sp in builds)
    m["queries.jobs_per_query"] = len(jobs_of(builds + q_runs)) / len(q_runs) if q_runs else 0.0
    # a query's time is its build span plus its run span
    for q in QUERY_MIX:
        pairs = [b.duration + r.duration for b, r in zip(
            [sp for sp in builds if sp.name.split(".")[1] == q],
            [sp for sp in q_runs if sp.name.split(".")[1] == q])]
        m[f"queries.{q}.p50_ms"] = _med(pairs) * 1000.0

    op_spans = named("plans.") + sinks + builds + q_runs + named("operators.")
    op_tasks = tr.tasks_of(jobs_of(op_spans))
    # the stream runs count too: their zipf keys land in the state
    # store's shuffle partitions
    skews = [s for s in (tr.task_skew(by_span.get(sp.id, [])) for sp in op_spans + streams)
             if s is not None]
    m.update({
        "operators.shuffle_bytes": float(sum(t.shuffle_write_bytes for t in op_tasks)),
        "operators.spill_bytes": float(sum(t.spill_bytes for t in op_tasks)),
        "operators.tasks": float(len(op_tasks)),
        "operators.task_skew": _med(skews),
    })

    fc_spans = named("ml.forecast.")
    py_tasks = [t for t in tr.tasks_of(jobs_of(fc_spans)) if t.py_sent or t.py_received]
    grid = named("ml.forecast.grid_search")
    fits = sum(sp.attrs.get("fits", 0) for sp in grid)
    mlp, gbt = named("ml.pipelines.mlp_fit"), named("ml.pipelines.gbt_fit")
    m.update({
        "ml.forecast.python_rows": float(sum(t.shuffle_read_rows for t in py_tasks)),
        "ml.forecast.arrow_bytes": float(sum(t.py_sent + t.py_received for t in py_tasks)),
        "ml.forecast.tasks": float(len(py_tasks)),
        "ml.forecast.cpu_busy_frac": sum(t.run_ms for t in py_tasks) / 1000.0
        / ((sum(sp.duration for sp in fc_spans) or 1.0) * nproc),
        "ml.models.fit_us_per_series": models_us,
        "ml.grid_search.fits": float(fits),
        "ml.grid_search.useful_frac": sum(sp.attrs.get("series", 0) for sp in grid) / fits if fits else 0.0,
        "ml.pipelines.mlp_fit_s": _med(sp.duration for sp in mlp),
        "ml.pipelines.gbt_fit_s": _med(sp.duration for sp in gbt),
        "ml.pipelines.jobs": len(jobs_of(mlp + gbt)) / len(mlp + gbt) if mlp + gbt else 0.0,
    })

    def dur(key):
        return _med(p["durationMs"].get(key, 0) for p in batches)

    state = [op for p in batches for op in p.get("stateOperators", [])]
    m.update({
        "streaming.batches": len(batches) / len(runs) if runs else 0.0,
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.state_rows": float(max((op.get("numRowsTotal", 0) for op in state), default=0)),
        "streaming.state_bytes": float(max((op.get("memoryUsedBytes", 0) for op in state), default=0)),
        "streaming.late_rows_dropped": sum(
            op.get("numRowsDroppedByWatermark", 0) for _, prog, _ in runs
            for p in prog for op in p.get("stateOperators", [])
        ) / len(runs) if runs else 0.0,
    })

    for layer in ("sources", "plans", "queries", "operators", "ml", "streaming"):
        m[f"{layer}.self_ms"] = sum(self_t[sp.id] for sp in spans if sp.layer == layer) * 1000.0 / n_traced
    # per op type, the median time traced over untraced; the geometric
    # mean of these ratios, so that the ops traced in the later (warmer)
    # cycle offset those traced in the earlier one, whatever their length
    both = {}
    for s in samples:
        both.setdefault((s.stage, s.op), ([], []))[s.traced].append(s.wall_s)
    ratios = [_med(t) / _med(u) for u, t in both.values() if u and t]
    m["trace.overhead_frac"] = statistics.geometric_mean(ratios) - 1.0 if ratios else 0.0
    return m
