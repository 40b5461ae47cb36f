"""Statistics the benchmark reports: latency percentiles, span self time,
the Spark event-log fold and /proc CPU and memory readings.

Pure Python with no Spark import, so the tests in ``lakebench/tests`` run
without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

FAILED = math.inf  # latency recorded for a failed operation


# ---------------------------------------------------------------- percentiles

def percentile(values: list[float], q: float, min_beyond: int = 0) -> float | None:
    """Nearest-rank ``q`` percentile of ``values``, or the highest percentile
    below it that has at least ``min_beyond`` samples beyond it: a tail
    percentile backed by a handful of samples is one outlier away from a
    different value.  None when no rank has ``min_beyond`` samples beyond.
    Failed operations carry ``FAILED`` (+inf), so they rank as slower than
    any success.
    """
    k = min(max(1, math.ceil(q * len(values))), len(values) - min_beyond)
    if k < 1:
        return None
    return sorted(values)[k - 1]


def quartiles(values: list[float]) -> dict[str, float]:
    """Median, first and third quartile, and the quartile spread as a share
    of the median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else math.inf,
    }


# ---------------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    start: float
    end: float
    op: int  # id shared by all spans of one operation
    parent: int | None  # index of the parent span in Tracer.spans


@dataclass
class Tracer:
    """In-memory span recorder.  Spans nest through a stack; each top-level
    span opens a new operation id that its descendants share.  Nothing is
    written until the caller dumps ``spans`` at the end of the run."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _ops: int = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._ops += 1
        op = self._ops if parent is None else self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), math.nan, op, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part of
    it its direct children cover (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s.end - s.start) - _covered(children.get(i, []))
        out[s.name] = out.get(s.name, 0.0) + own
    return out


# ------------------------------------------------------------- event-log fold

_MB = 1024 * 1024


def fold_event_log(lines, group_of=lambda g: g) -> dict[str, dict[str, float]]:
    """Fold an uncompressed Spark event log into per-group totals.

    ``lines`` iterates JSON event lines.  A job belongs to the group
    ``group_of(spark.jobGroup.id)``; untagged jobs fold into ``""``.
    Stages and tasks inherit their job's group.  Totals per group: jobs,
    stages (submitted, so skipped stages do not count), tasks, task CPU
    seconds, GC seconds, shuffle bytes written and bytes spilled to disk
    (both in MiB).
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(
            ("jobs", "stages", "tasks", "task_cpu_s", "gc_s",
             "shuffle_write_mb", "spill_mb"), 0.0))

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = group_of((ev.get("Properties") or {}).get("spark.jobGroup.id") or "")
            acc(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            acc(stage_group.get(sid, ""))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            a = acc(stage_group.get(ev.get("Stage ID"), ""))
            a["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
    return out


def read_event_log(directory: str) -> list[str]:
    """Lines of every event-log file under ``directory`` (recursively)."""
    lines: list[str] = []
    for root, _, names in sorted(os.walk(directory)):
        for name in sorted(names):
            with open(os.path.join(root, name)) as f:
                lines.extend(ln for ln in f if ln.strip())
    return lines


# ----------------------------------------------------------------------- /proc

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it are space-separated.
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (the JVM's Python workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def worker_cpu_seconds(jvm_pid: int) -> float:
    """CPU of the Python workers the JVM's pyspark daemon forked: each live
    worker with its reaped children, plus the workers the daemon already
    reaped.  The daemon's own 1 s select loop is left out."""
    total = 0.0
    for pid in descendants(jvm_pid):
        st = _stat(pid)
        if st and _comm(pid).startswith("python"):
            fields = st[13:15] if int(st[1]) == jvm_pid else st[11:15]
            total += sum(int(x) for x in fields) / _TICK
    return total


def reaped_child_cpu_seconds(pid: int) -> float:
    """CPU of the children ``pid`` has reaped: for the JVM, mostly the shell
    commands Hadoop's local file system runs without its native library."""
    st = _stat(pid)
    return sum(int(x) for x in st[13:15]) / _TICK if st else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024
