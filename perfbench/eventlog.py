"""Spans around public calls, folded with Spark's event log.

The benchmark wraps each public call in a :class:`Span`. A traced run
also enables Spark's event log; :func:`fold` then attributes every job
and task to the span whose time window holds its submission (job) or
launch (task). Windows, not job groups: the program runs some jobs on
its own threads, which do not inherit a job group set by the caller,
and with one client in a closed loop the windows do not overlap.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Per-span statistics the folder produces, in print order.
STATS = (
    "wall_s", "jobs", "tasks", "driver_s", "executor_run_s",
    "executor_cpu_s", "cpu_share", "gc_s", "input_bytes",
    "shuffle_write_bytes", "peak_exec_mem_bytes",
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    phase: str = ""
    cycle: int = -1

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Collects spans in memory; ``phase`` and ``cycle`` tag the spans
    that follow."""

    phase: str = ""
    cycle: int = -1
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(
                Span(name, start, time.time(), self.phase, self.cycle))

    def walls(self, name: str, phase: str) -> list[float]:
        return [s.wall_s for s in self.spans
                if s.name == name and s.phase == phase]

    def cycle_walls(self, phase: str) -> list[float]:
        """Per cycle of ``phase``: the summed wall time of its spans."""
        total: dict[int, float] = {}
        for s in self.spans:
            if s.phase == phase:
                total[s.cycle] = total.get(s.cycle, 0.0) + s.wall_s
        return list(total.values())


@dataclass
class Job:
    submit_ms: int
    end_ms: int


@dataclass
class Task:
    launch_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    shuffle_write_bytes: int
    peak_mem_bytes: int


def _applications(log_dir: str) -> list[list[str]]:
    """The event-log files of each application under ``log_dir``: the
    parts of a rolling ``eventlog_v2_*`` directory in index order, or a
    single-file log."""
    apps = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            apps.append(sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1])))
        elif not entry.startswith("."):
            apps.append([path])
    return apps


def read_log(log_dir: str) -> tuple[list[Job], list[Task]]:
    """Jobs and tasks from every application logged under ``log_dir``."""
    jobs: list[Job] = []
    tasks: list[Task] = []
    for parts in _applications(log_dir):
        starts: dict[int, int] = {}  # a job may end in a later part
        for path in parts:
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        starts[e["Job ID"]] = e["Submission Time"]
                    elif kind == "SparkListenerJobEnd":
                        jobs.append(Job(starts.pop(e["Job ID"]),
                                        e["Completion Time"]))
                    elif kind == "SparkListenerTaskEnd" and "Task Metrics" in e:
                        m = e["Task Metrics"]
                        tasks.append(Task(
                            launch_ms=e["Task Info"]["Launch Time"],
                            run_ms=m["Executor Run Time"],
                            cpu_ns=m["Executor CPU Time"],
                            gc_ms=m["JVM GC Time"],
                            input_bytes=m["Input Metrics"]["Bytes Read"],
                            shuffle_write_bytes=m["Shuffle Write Metrics"][
                                "Shuffle Bytes Written"],
                            peak_mem_bytes=m["Peak Execution Memory"],
                        ))
    return jobs, tasks


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_stats(span: Span, jobs: list[Job], tasks: list[Task]) -> dict:
    """One span's statistics. Job intervals are clipped to the span, so
    ``driver_s`` plus the job union is exactly ``wall_s``; the job time
    the clipping cut off is ``job_outside_s``, which is 0 when every job
    the span submitted also ended inside it."""
    lo, hi = span.start * 1000.0, span.end * 1000.0
    mine = [j for j in jobs if lo <= j.submit_ms <= hi]
    union_ms = _union_ms([(max(j.submit_ms, lo), min(j.end_ms, hi))
                          for j in mine])
    full_ms = _union_ms([(j.submit_ms, j.end_ms) for j in mine])
    ts = [t for t in tasks if lo <= t.launch_ms <= hi]
    run_s = sum(t.run_ms for t in ts) / 1e3
    cpu_s = sum(t.cpu_ns for t in ts) / 1e9
    return {
        "wall_s": span.wall_s,
        "jobs": len(mine),
        "tasks": len(ts),
        "driver_s": span.wall_s - union_ms / 1e3,
        "job_union_s": union_ms / 1e3,
        "job_outside_s": (full_ms - union_ms) / 1e3,
        "executor_run_s": run_s,
        "executor_cpu_s": cpu_s,
        "cpu_share": cpu_s / run_s if run_s else 0.0,
        "gc_s": sum(t.gc_ms for t in ts) / 1e3,
        "input_bytes": sum(t.input_bytes for t in ts),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in ts),
        "peak_exec_mem_bytes": max((t.peak_mem_bytes for t in ts), default=0),
    }


def fold(spans: list[Span], jobs: list[Job], tasks: list[Task]
         ) -> dict[str, list[dict]]:
    """Span name -> the statistics of each of its occurrences."""
    out: dict[str, list[dict]] = {}
    for s in spans:
        out.setdefault(s.name, []).append(span_stats(s, jobs, tasks))
    return out


def unattributed_jobs(spans: list[Span], jobs: list[Job]) -> list[Job]:
    """Jobs submitted between the first span's start and the last
    span's end that no span's window holds: work the per-span figures
    miss. Empty when every call's jobs run inside its span."""
    if not spans:
        return []
    lo = min(s.start for s in spans) * 1000.0
    hi = max(s.end for s in spans) * 1000.0
    return [j for j in jobs if lo <= j.submit_ms <= hi and not any(
        s.start * 1000.0 <= j.submit_ms <= s.end * 1000.0 for s in spans)]
