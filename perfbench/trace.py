"""Measurement primitives: percentiles, open-loop latency, spans and
Spark's own status store.

Everything here observes the program from outside.  Spans wrap calls
into the program's public functions; Spark numbers come from the
status store (filtered by the job group each span sets) and from
``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1] of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def highest_supported_percentile(
    n: int, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
) -> Optional[float]:
    """The highest of ``candidates`` with at least ``MIN_TAIL`` of ``n``
    samples beyond it, or None when even the lowest has fewer."""
    for p in sorted(candidates, reverse=True):
        if n * (100.0 - p) / 100.0 >= MIN_TAIL:
            return p
    return None


def tail_report(values, want: float = 95.0) -> dict:
    """Sample count, median and a tail: the ``want`` percentile when the
    sample supports it, else the highest supported percentile under its
    own name, so a short run never passes off a thin tail as p95."""
    out = {"n": len(values), "p50": median(values)}
    p = highest_supported_percentile(len(values))
    if p is not None and p > 50.0:
        p = min(p, want)
        out[f"p{p:g}"] = quantile(values, p / 100.0)
    return out


def open_loop_latency(due: float, done: float) -> float:
    """Latency of a request timed from when it was DUE, not when it was
    sent: a stall delays every later request, and that wait counts."""
    return done - due


class Schedule:
    """Fixed-rate open-loop schedule: request ``i`` is due at
    ``start + i / rate`` whatever happened to earlier requests."""

    def __init__(self, start: float, rate: float):
        self.start = start
        self.period = 1.0 / rate
        self.late_max = 0.0

    def due(self, i: int) -> float:
        return self.start + i * self.period

    def wait_until(self, i: int, stop: Optional[threading.Event] = None) -> float:
        """Sleep until request ``i`` is due; returns the due time and
        records how late the caller reached it."""
        due = self.due(i)
        delay = due - time.perf_counter()
        if delay > 0:
            if stop is not None:
                stop.wait(delay)
            else:
                time.sleep(delay)
        self.late_max = max(self.late_max, time.perf_counter() - due)
        return due


# -- spans -------------------------------------------------------------------


@contextmanager
def untraced(*_args, **_kwargs):
    """Stands in for ``Tracer.span`` where a call must not be traced."""
    yield None


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    trace_id: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of it that its direct
    children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.dur - _covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory span recorder.  With ``spark`` given, each span runs
    under its own Spark job group so status-store metrics attribute to
    it; the parent's group is restored on exit.  A disabled tracer
    records nothing and touches no job group."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, trace_id: Optional[str] = None,
             **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        s = Span(sid, name, layer,
                 trace_id or (parent.trace_id if parent else f"t{sid}"),
                 parent.sid if parent else None, time.perf_counter(),
                 group=f"pb-{sid}", attrs=dict(attrs))
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(s.group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(s)

    def record(self, name: str, layer: str, start: float, end: float,
               trace_id: Optional[str] = None, group: str = "",
               **attrs) -> None:
        """Record a span that already ended, observed after the fact
        (e.g. a micro-batch trigger from query progress), as a child of
        the calling thread's open span."""
        if not self.enabled:
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        s = Span(sid, name, layer, trace_id or f"t{sid}",
                 parent.sid if parent else None, start, end, group,
                 dict(attrs))
        with self._lock:
            self.spans.append(s)

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {"id": s.sid, "name": s.name, "layer": s.layer,
             "trace": s.trace_id, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "self_s": round(st[s.sid], 6), "group": s.group, **s.attrs}
            for s in sorted(self.spans, key=lambda s: s.sid)
        ]


# -- Spark status store -------------------------------------------------------

_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size_metric(text: str) -> float:
    """Bytes from a formatted SQL size metric ("total (min, med, max)\\n
    12.3 KiB (...)" or plain "12.3 KiB"): the first size is the total."""
    m = _SIZE.search(text or "")
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class SparkStats:
    """Reads job, stage and SQL metrics for a set of job groups."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def drain_listener_bus(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def job_ids(self, groups) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def stage_totals(self, job_ids) -> dict:
        """Summed stage metrics over every attempt of the jobs' stages."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "input_mb": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        if not stage_ids:
            return out
        store = self._jsc.statusStore()
        quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        stages = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.stageList(None, False, False, quantiles, None))
        seen = set()
        mb = 1 << 20
        for sd in stages:
            sid = sd.stageId()
            if sid not in stage_ids:
                continue
            seen.add(sid)
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_mb"] += sd.inputBytes() / mb
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / mb
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
            out["spill_mb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / mb
        out["stages"] = len(seen)
        return out

    def python_boundary_mb(self, job_ids) -> tuple[float, float]:
        """Arrow/Python boundary bytes (sent, received) from the SQL
        metrics of executions that ran any of ``job_ids``."""
        jobs = set(job_ids)
        if not jobs:
            return 0.0, 0.0
        store = self.spark._jsparkSession.sharedState().statusStore()
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        sent = recv = 0.0
        for ex in conv.asJava(store.executionsList()):
            if not {int(j) for j in conv.asJava(ex.jobs().keySet())} & jobs:
                continue
            names = {}
            for m in conv.asJava(ex.metrics()):
                if m.name() in ("data sent to Python workers",
                                "data returned from Python workers"):
                    names[int(m.accumulatorId())] = m.name()
            if not names:
                continue
            values = conv.asJava(store.executionMetrics(ex.executionId()))
            for e in values.entrySet():
                name = names.get(int(e.getKey()))
                if name is None:
                    continue
                b = parse_size_metric(e.getValue())
                if name.startswith("data sent"):
                    sent += b
                else:
                    recv += b
        return sent / (1 << 20), recv / (1 << 20)

    def pinned_mb(self) -> float:
        """Block-manager bytes held by persisted and checkpointed RDDs."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)


# -- host -------------------------------------------------------------------


def proc_stat() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user nice system idle
    iowait irq softirq steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_env(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    idle = d[3] + d[4]
    return {"steal_pct": 100.0 * d[7] / total,
            "busy_pct": 100.0 * (total - idle - d[7]) / total}


def rss_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int:
    """Process id of the Spark driver JVM, which runs the local
    executors."""
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime jiffies) of every live
    process."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # ended while we looked
            continue
        out[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live process below
    it, each with its reaped children: the JVM's Python daemon and
    workers count too, as do workers that have already exited."""
    stats = _proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_seconds(spark) -> float:
    """User+system CPU seconds of this Python process, the Spark driver
    JVM and the JVM's Python daemon and workers."""
    return sum(os.times()[:2]) + tree_cpu_seconds(jvm_pid(spark))
