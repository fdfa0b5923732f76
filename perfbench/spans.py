"""Spans, self time, the tail-percentile rule and Spark's status store.

A traced run records spans in memory (name, start, end, parent) at each
call the benchmark makes into a layer, and reads the stage rows Spark's
status store kept for the same interval once the timed region is over.
Nothing here runs inside Spark or the package; the untraced run records
no spans at all.
"""

from __future__ import annotations

import contextlib
import gc
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    """In-memory span recorder. `enabled=False` makes `span` a no-op.

    An enabled tracer also records each collection of Python's cyclic
    garbage collector on the thread that made it as a `py.gc` span, under
    the span it interrupted: it lands wherever an allocation triggers it,
    between layer calls as often as inside them."""

    def __init__(self, enabled: bool, gc_spans: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        self._gc_start = 0.0
        if enabled and gc_spans:
            gc.callbacks.append(self._gc)

    def _gc(self, phase: str, info: dict) -> None:
        if threading.get_ident() != self._thread or not self._stack:
            return
        if phase == "start":
            self._gc_start = time.time()
        else:
            self.spans.append(Span("py.gc", self._gc_start, time.time(), self._stack[-1]))

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()


def union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children clipped to the parent; overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return [s.end - s.start - union_length(kids.get(i, [])) for i, s in enumerate(spans)]


def self_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


def span_cost(spans: list[Span], pairs: set[tuple[str, str]]) -> float:
    """Seconds one span costs to record where the run records it.

    The median gap between a span and the sibling that follows it with no
    code in between, over the (first, second) name `pairs` the workload
    writes back to back, is one span's exit plus the next one's entry,
    measured in place: cold caches after a call into the JVM make it
    several times what it is in a loop. The rest of a span's cost falls
    inside the span; `_full_per_gap` scales the gap to the whole cost by
    the ratio the two have in a loop (≈1.5)."""
    return boundary_gap(spans, pairs) * _full_per_gap()


def _full_per_gap(reps: int = 2000) -> float:
    """(empty span + back-to-back gap) / gap, medians over a loop."""
    probe = Tracer(True, gc_spans=False)
    with probe.span("parent"):
        for _ in range(reps):
            with probe.span("a"):
                pass
            with probe.span("b"):
                pass
    inside = sorted(s.end - s.start for s in probe.spans[1:])[reps]
    gap = boundary_gap(probe.spans, {("a", "b")})
    return (inside + gap) / gap


def boundary_gap(spans: list[Span], pairs: set[tuple[str, str]]) -> float:
    """Median gap between a span and the next sibling, over the sibling
    name `pairs`; 0 when no pair occurs."""
    last: dict[int | None, Span] = {}
    gaps = []
    for s in spans:
        prev = last.get(s.parent)
        if prev is not None and (prev.name, s.name) in pairs:
            gaps.append(s.start - prev.end)
        if s.name != "py.gc":
            last[s.parent] = s
    gaps.sort()
    return gaps[len(gaps) // 2] if gaps else 0.0


def count_within(spans: list[Span], outer: Span) -> int:
    """Spans that start inside `outer`, itself included."""
    return sum(1 for s in spans if outer.start <= s.start < outer.end)


def total_within(spans: list[Span], name: str, outer: Span) -> float:
    """Total duration of the `name` spans that start inside `outer`."""
    return sum(s.end - s.start for s in spans
               if s.name == name and outer.start <= s.start < outer.end)


def total_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) of the highest nearest-rank percentile with at
    least `beyond` samples above it. With fewer than `beyond + 1` samples
    it is the minimum (percentile 0)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    rank = max(len(xs) - beyond, 1)  # 1-based rank of the reported sample
    return 100.0 * (rank - 1) / max(len(xs) - 1, 1), xs[rank - 1]


# -- Spark's status store --------------------------------------------------

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_s": "executorRunTime",
    "executor_cpu_s": "executorCpuTime",
    "gc_s": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
_SECONDS = {"executor_run_s": 1e-3, "executor_cpu_s": 1e-9, "gc_s": 1e-3}


def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def status_rows(spark, since: float) -> tuple[list[dict], list[float]]:
    """(stage rows, job submission times) of the jobs submitted at or
    after `since`, from the live status store (filled with the UI
    disabled too). A stage row holds its submission time and the
    STAGE_FIELDS totals; skipped stages (never submitted) are left out."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages, jobs, seen = [], [], set()
    it = store.jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        t = _epoch_s(job.submissionTime())
        if t is None or t < since:
            continue
        jobs.append(t)
        ids = job.stageIds().iterator()
        while ids.hasNext():
            sid = ids.next()
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            t = _epoch_s(st.submissionTime())
            if t is None:
                continue
            row = {"submitted": t}
            for k, getter in STAGE_FIELDS.items():
                row[k] = getattr(st, getter)() * _SECONDS.get(k, 1)
            stages.append(row)
    return stages, jobs


def within(times: list[float], spans: list[Span]) -> int:
    return sum(1 for t in times if any(s.start <= t < s.end for s in spans))


def stage_totals(stages: list[dict], spans: list[Span]) -> dict[str, float]:
    """Totals of the stages submitted inside any of `spans`."""
    out = {k: 0.0 for k in STAGE_FIELDS}
    out["stages"] = 0
    for st in stages:
        if any(s.start <= st["submitted"] < s.end for s in spans):
            out["stages"] += 1
            for k in STAGE_FIELDS:
                out[k] += st[k]
    return out


# -- memory ------------------------------------------------------------------

def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _pids(spark) -> tuple[int, int]:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()), os.getpid()


def peak_rss_mb(spark) -> tuple[float, float]:
    """(JVM, Python) resident-set high-water marks in MiB."""
    jvm, py = _pids(spark)
    return _hwm_mb(jvm), _hwm_mb(py)


def heap_peak_mb(spark) -> float:
    """The JVM's heap high-water mark in MiB: the sum of its heap
    pools' peak usage (each pool's own peak, so an upper bound of the
    simultaneous peak)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def jvm_gc_s(spark) -> float:
    """Seconds the Spark JVM's garbage collectors have run so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()) / 1e3
