"""Tracing from outside the package: spans around the benchmark's own
calls into each layer, Spark job tags per span, event-log attribution,
and a peak-RSS sampler.

Nothing here reaches into the package: a span times one call the
benchmark makes, and ``SparkContext.addJobTag`` labels the Spark jobs
that call starts, so the event log can be attributed back to it.
Micro-batch jobs run on the stream's own thread, so they carry the
query id instead of a span tag.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "pbspan"
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds so far, summed over the machine's CPUs."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return (user + nice + system + irq + softirq) / CLK_TCK, steal / CLK_TCK


class Stopwatch:
    """Wall time, and wall time with the hypervisor's steal taken out.

    On a virtual machine the host can withhold a vCPU that has work to
    do; /proc/stat counts that time as steal. Over an interval, busy /
    (busy + steal) is the share of the CPU time the machine wanted that
    it got, and ``read`` scales the wall time by it. Without steal both
    readings are the wall time.
    """

    def __init__(self):
        self.t0 = time.perf_counter()
        self.busy0, self.steal0 = _cpu_s()

    def read(self) -> tuple[float, float]:
        """(wall s, steal-adjusted s) since the stopwatch started."""
        wall = time.perf_counter() - self.t0
        busy, steal = _cpu_s()
        busy, steal = busy - self.busy0, steal - self.steal0
        return wall, (wall * busy / (busy + steal) if busy + steal > 0 else wall)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op_id: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory until the run ends. While ``active`` is
    false, ``span`` records nothing and tags no job."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.active = False
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span's attribute dict (a throwaway one while
        inactive), so callers can attach what they observed."""
        if not self.active:
            yield dict(attrs)
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.op_id, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.addJobTag(sp.tag)
        try:
            yield sp.attrs
        finally:
            sp.end = time.perf_counter()
            self.sc.removeJobTag(sp.tag)
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its children cover (children of
        one client thread never overlap)."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.duration
        return {sp.id: sp.duration - child[sp.id] for sp in self.spans}

    def dump(self, path: str) -> None:
        self_t = self.self_times()
        rows = [
            {
                "id": sp.id, "name": sp.name, "parent": sp.parent, "op_id": sp.op_id,
                "start": sp.start, "end": sp.end, "self_s": self_t[sp.id], **sp.attrs,
            }
            for sp in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


@dataclass
class TaskStats:
    run_ms: float
    cpu_ns: float
    gc_ms: float
    input_bytes: int
    input_rows: int
    shuffle_read_bytes: int
    shuffle_read_rows: int
    shuffle_write_bytes: int
    spill_bytes: int
    output_bytes: int
    py_sent: int
    py_received: int


@dataclass
class JobStats:
    job_id: int
    tags: set[str]
    stream_query: str | None
    stages: dict[int, list[TaskStats]] = field(default_factory=dict)


def _task_stats(ev: dict) -> TaskStats:
    m = ev.get("Task Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in ev["Task Info"].get("Accumulables", [])}
    sr = m.get("Shuffle Read Metrics", {})
    return TaskStats(
        run_ms=float(m.get("Executor Run Time", 0)),
        cpu_ns=float(m.get("Executor CPU Time", 0)),
        gc_ms=float(m.get("JVM GC Time", 0)),
        input_bytes=int(m.get("Input Metrics", {}).get("Bytes Read", 0)),
        input_rows=int(m.get("Input Metrics", {}).get("Records Read", 0)),
        shuffle_read_bytes=int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0)),
        shuffle_read_rows=int(sr.get("Total Records Read", 0)),
        shuffle_write_bytes=int(m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)),
        spill_bytes=int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0)),
        output_bytes=int(m.get("Output Metrics", {}).get("Bytes Written", 0)),
        py_sent=int(acc.get("data sent to Python workers") or 0),
        py_received=int(acc.get("data returned from Python workers") or 0),
    )


def read_event_log(log_dir: str) -> list[JobStats]:
    """Jobs with their tags and per-stage task metrics, from the
    (rolling, uncompressed) event log of a stopped session."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, JobStats] = {}
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = set(filter(None, props.get("spark.job.tags", "").split(",")))
                    job = JobStats(ev["Job ID"], tags, props.get("sql.streaming.queryId"))
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    if job is not None:
                        job.stages.setdefault(ev["Stage ID"], []).append(_task_stats(ev))
    return list(jobs.values())


def attribute(jobs: list[JobStats], tracer: Tracer) -> dict[int, list[JobStats]]:
    """Each job goes to the innermost span whose tag it carries (nested
    spans start later, so the highest span id); micro-batch jobs go to
    the span that recorded their query id."""
    by_query = {sp.attrs["query_id"]: sp.id for sp in tracer.spans if "query_id" in sp.attrs}
    out: dict[int, list[JobStats]] = defaultdict(list)
    n = len(TAG_PREFIX)
    for job in jobs:
        ids = [int(t[n:]) for t in job.tags if t.startswith(TAG_PREFIX) and t[n:].isdigit()]
        if ids:
            out[max(ids)].append(job)
        elif job.stream_query in by_query:
            out[by_query[job.stream_query]].append(job)
    return out


def tasks_of(jobs: list[JobStats]) -> list[TaskStats]:
    return [t for j in jobs for tasks in j.stages.values() for t in tasks]


def task_skew(jobs: list[JobStats]) -> float | None:
    """max / median task run time in the longest stage (by summed task
    time) of these jobs; None without a multi-task stage."""
    stages = [tasks for j in jobs for tasks in j.stages.values() if len(tasks) > 1]
    if not stages:
        return None
    longest = max(stages, key=lambda ts: sum(t.run_ms for t in ts))
    times = [max(t.run_ms, 1.0) for t in longest]
    return max(times) / statistics.median(times)


def _proc_kb(path: str, key: str) -> int:
    """The ``key:`` field (kB) of a /proc file; 0 once the process is gone."""
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                text = fh.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        ppid = int(text.rsplit(")", 1)[1].split()[1])
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory of one process (the driver JVM), sampled on
    a background thread."""

    INTERVAL_S = 0.2

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _proc_kb(f"/proc/{self.pid}/status", "VmRSS:"))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
