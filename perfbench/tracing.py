"""Measurement from outside the program: spans around calls into each
module, Spark job tags, the local event log, and /proc sampling.

Spans are kept in memory and written out once at the end.  Every span
sets the Spark job group (and a job tag) to its own id, so each job the
program starts inside the span is attributed to it when the event log
is parsed after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            total += int(f[21]) * _PAGE  # rss, in pages
    return total


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_s(root: int) -> float:
    """User+system CPU seconds of the PySpark Python worker processes
    (the daemon and its forked workers) under ``root``."""
    total = 0
    for p in process_tree(root):
        if p == root or "pyspark" not in _cmdline(p):
            continue
        f = _stat_fields(p)
        if f is not None:
            total += int(f[11]) + int(f[12])  # utime, stime
    return total / _TICK


class RssSampler:
    """Peak of the summed resident set of this process and every
    descendant (JVM, Python daemon and workers), sampled every
    ``interval`` seconds on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(process_tree(root)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the program's modules.

    ``enabled=False`` keeps the same call sites but touches neither
    the job group nor the tags, so the untraced run measures the
    program alone."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.clearJobTags()
        else:
            sc.setJobGroup(span.id, span.name)
            sc.clearJobTags()
            sc.addJobTag(span.id)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "run_id": s.run_id, "start": s.start, "end": s.end,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1].id if t._stack else None
        s = Span(f"{t.run_id}-{len(t.spans)}", self.name, parent, t.run_id, 0.0)
        t.spans.append(s)
        t._stack.append(s)
        if t.enabled:
            t._tag(s)
        s.start = time.perf_counter()
        return s

    def __exit__(self, *exc) -> None:
        t = self.t
        s = t._stack.pop()
        s.end = time.perf_counter()
        if t.enabled:
            t._tag(t._stack[-1] if t._stack else None)


# ------------------------------------------------------------ event log


@dataclass
class SpanCost:
    jobs: int = 0
    task_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0


def parse_event_log(log_dir: str) -> dict[str, SpanCost]:
    """Cost per job group (= span id) from Spark's JSON event log:
    JobStart records map stages to the job's group, TaskEnd records
    carry each task's CPU, shuffle, spill and GC figures."""
    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                   + glob.glob(os.path.join(log_dir, "local-*")),
                   key=lambda f: (len(f), f))
    stage_group: dict[int, str] = {}
    out: dict[str, SpanCost] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out.setdefault(group, SpanCost()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    c = out.setdefault(group, SpanCost())
                    c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    c.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                    c.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
    return out
