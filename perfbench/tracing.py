"""Spans around the benchmark's calls into each layer, and Spark counters
from the event log attributed to them by time window.

Spans are kept in memory and turned into metrics when the run ends.
Only the traced run (``--trace 1``) records spans and enables the event
log; the untraced runs use ``NullTracer`` and keep the event log off.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield Span(name, 0.0)


class Tracer:
    """Records spans (name, start, end, parent) in wall-clock seconds, the
    clock Spark stamps its events with."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def self_seconds(self, i: int) -> float:
        """Span ``i``'s duration minus the part of it its children cover."""
        s = self.spans[i]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == i
        )
        return s.seconds - _union_length(kids, s.start, s.end)

    def by_name(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]


def _union_length(intervals, lo: float, hi: float) -> float:
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


# ---------------------------------------------------------------------------
# Spark event log


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class SparkActivity:
    jobs: list = field(default_factory=list)   # (submit_s, end_s)
    tasks: list = field(default_factory=list)  # dicts, times in seconds


def read_eventlog(log_dir: str) -> SparkActivity:
    """Jobs and task metrics from the (single, uncompressed) event log
    Spark wrote under ``log_dir``."""
    act = SparkActivity()
    submit: dict[int, float] = {}
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    submit[ev["Job ID"]] = ev["Submission Time"] / 1000
                elif kind == "SparkListenerJobEnd":
                    s = submit.pop(ev["Job ID"], None)
                    if s is not None:
                        act.jobs.append((s, ev["Completion Time"] / 1000))
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    act.tasks.append(
                        {
                            "launch": info["Launch Time"] / 1000,
                            "finish": info["Finish Time"] / 1000,
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        }
                    )
    return act


SPARK_COUNTERS = (
    "jobs", "tasks", "shuffle_write_mb", "busy_share", "idle_gap_s", "task_skew",
)


def spark_counters(act: SparkActivity, windows: list[tuple[float, float]], cores: int) -> dict:
    """Counters of the jobs submitted and tasks launched inside any of
    ``windows``. ``busy_share``: task time over the cores' time;
    ``idle_gap_s``: window time with no job running; ``task_skew``:
    slowest task over the median task."""
    def inside(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in windows)

    jobs = [(s, e) for s, e in act.jobs if inside(s)]
    tasks = [t for t in act.tasks if inside(t["launch"])]
    span_s = sum(hi - lo for lo, hi in windows)
    busy = sum(t["finish"] - t["launch"] for t in tasks)
    job_cover = sum(
        _union_length(sorted(jobs), lo, hi) for lo, hi in windows
    )
    durs = [t["finish"] - t["launch"] for t in tasks]
    med = statistics.median(durs) if durs else 0.0
    mb = 1024 * 1024
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb,
        "busy_share": busy / (cores * span_s) if span_s > 0 else 0.0,
        "idle_gap_s": max(0.0, span_s - job_cover),
        "task_skew": max(durs) / med if med > 0 else 0.0,
    }
