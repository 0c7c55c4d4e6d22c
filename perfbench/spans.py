"""Spans recorded around calls into each layer, a py4j call counter,
and the fold of Spark's own event log onto those spans.

Spans live in memory for the whole run and are folded once at the end.
Each span records wall time, driver-process CPU time and the py4j call
count at its start and end. Spark jobs are attributed to spans by time
window: the workloads make one call at a time, so the innermost span
open when a job was submitted is the one that launched it (this also
catches jobs a library call launches from its own driver threads,
which a job group set on the calling thread would miss).
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    kind: str  # "op", "build" (plan building), "exec" (runs Spark jobs)
    pass_no: int
    t0: float
    cpu0: float
    calls0: int
    t1: float = 0.0
    cpu1: float = 0.0
    calls1: int = 0
    parent: int | None = None
    work_cpu: float = 0.0  # process-tree CPU over the span (top-level ops)

    @property
    def s(self) -> float:
        return self.t1 - self.t0


class Py4jCounter:
    """Counts py4j commands the driver sends to the JVM. Memory
    (garbage-collection) commands are skipped: their timing follows the
    Python collector, so counting them would make the figure vary
    between identical runs."""

    def __init__(self) -> None:
        self.n = 0
        self._lock = threading.Lock()
        self._client = None
        self._orig = None

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith("m\n"):
                with self._lock:
                    self.n += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command
        self._client, self._orig = client, orig

    def uninstall(self) -> None:
        if self._client is not None:
            self._client.send_command = self._orig
            self._client = None


class Tracer:
    def __init__(self, counter: Py4jCounter | None = None) -> None:
        self.spans: list[Span] = []
        self.counter = counter
        self.pass_no = -1  # warm-up; measured passes count from 0
        self._open: list[int] = []
        # read just outside a top-level op span, so its cost stays out
        # of the span's wall time
        self.cpu_probe = None

    def _calls(self) -> int:
        return self.counter.n if self.counter else 0

    @contextmanager
    def span(self, name: str, kind: str = "op"):
        probe = self.cpu_probe if not self._open else None
        w0 = probe() if probe else 0.0
        sp = Span(
            name, kind, self.pass_no, time.time(), time.process_time(),
            self._calls(), parent=self._open[-1] if self._open else None,
        )
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.t1, sp.cpu1, sp.calls1 = (
                time.time(), time.process_time(), self._calls()
            )
            self._open.pop()
            if probe:
                sp.work_cpu = probe() - w0


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_TASK_SUMS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_read_remote": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_read_local": ("Shuffle Read Metrics", "Local Bytes Read"),
    "fetch_wait_ms": ("Shuffle Read Metrics", "Fetch Wait Time"),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
    "mem_spill": ("Memory Bytes Spilled",),
    "disk_spill": ("Disk Bytes Spilled",),
}


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    succeeded: bool = False


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    sums: dict = field(default_factory=lambda: dict.fromkeys(_TASK_SUMS, 0))
    task_run_ms: list[int] = field(default_factory=list)


def _get(d: dict, path: tuple) -> int:
    for k in path:
        d = d.get(k) or {}
    return d if isinstance(d, (int, float)) else 0


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and per-stage task sums from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"], stage_ids=list(ev["Stage IDs"])
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                job = jobs[ev["Job ID"]]
                job.end_ms = ev["Completion Time"]
                job.succeeded = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, Stage(sid))
            tm = ev.get("Task Metrics") or {}
            st.tasks += 1
            for key, path in _TASK_SUMS.items():
                st.sums[key] += _get(tm, path)
            st.task_run_ms.append(_get(tm, ("Executor Run Time",)))
    return jobs, stages


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    with open(path, encoding="utf-8") as f:
        return parse_event_log(f)


def attribute_jobs(jobs: dict[int, Job], spans: list[Span]) -> dict[int, int]:
    """job id -> index of the innermost span open at its submission."""
    out = {}
    for job in jobs.values():
        t = job.submit_ms / 1000.0
        best = None
        for i, sp in enumerate(spans):
            # event-log times are whole milliseconds
            if sp.t0 - 0.001 <= t <= sp.t1 + 0.001:
                if best is None or sp.t0 >= spans[best].t0:
                    best = i
        if best is not None:
            out[job.job_id] = best
    return out


def self_s(spans: list[Span], i: int) -> float:
    """Span ``i``'s duration minus the part its child spans cover."""
    kids = [(sp.t0, sp.t1) for sp in spans if sp.parent == i]
    return spans[i].s - _union_s(kids)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold(jobs: dict[int, Job], stages: dict[int, Stage], spans: list[Span],
         span_ids: list[int]) -> dict:
    """Spark totals over the jobs launched inside ``span_ids`` (and
    their descendants); job time is the union of job intervals clipped
    to those spans."""
    chosen = set(span_ids)
    owner = attribute_jobs(jobs, spans)

    def rooted(i: int) -> bool:
        while i is not None:
            if i in chosen:
                return True
            i = spans[i].parent
        return False

    sel = [j for j in jobs.values() if j.job_id in owner and rooted(owner[j.job_id])]
    stage_ids = sorted({s for j in sel for s in j.stage_ids if s in stages})
    sums = dict.fromkeys(_TASK_SUMS, 0)
    tasks, skew = 0, 1.0
    for sid in stage_ids:
        st = stages[sid]
        tasks += st.tasks
        for k, v in st.sums.items():
            sums[k] += v
        if len(st.task_run_ms) >= 2:
            med = statistics.median(st.task_run_ms)
            if med > 0:
                skew = max(skew, max(st.task_run_ms) / med)
    intervals = [(j.submit_ms / 1000.0, (j.end_ms or j.submit_ms) / 1000.0) for j in sel]
    return {
        "jobs": sum(j.succeeded for j in sel),
        "jobs_cancelled": sum(not j.succeeded for j in sel),
        "stages": len(stage_ids),
        "tasks": tasks,
        "job_s": _union_s(intervals),
        "executor_run_s": sums["run_ms"] / 1000.0,
        "executor_cpu_s": sums["cpu_ns"] / 1e9,
        "gc_s": sums["gc_ms"] / 1000.0,
        "shuffle_write_bytes": sums["shuffle_write_bytes"],
        "shuffle_read_bytes": sums["shuffle_read_remote"] + sums["shuffle_read_local"],
        "fetch_wait_s": sums["fetch_wait_ms"] / 1000.0,
        "input_bytes": sums["input_bytes"],
        "output_bytes": sums["output_bytes"],
        "spill_bytes": sums["mem_spill"] + sums["disk_spill"],
        "task_skew": skew,
    }
