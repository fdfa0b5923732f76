"""`headline`: the 20 headline queries at sf0.05, warm, executed in full to
a noop sink, in whole passes whose query order the seed shuffles.

Set-up (repeated SETUP_REPS times, median reported): a fresh session and
a first read of every input table. Then one untimed pass collects every
output and checks it against DuckDB, and one untimed pass runs to the
noop sink, both THREADS queries at a time. Timed passes follow, once the
JIT has settled, while less than `--seconds` has passed since the first
began.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import spans
from harness import closure, end_to_end, per_layer_defaults
from querytable import HEADLINE, headline_calls

SF = 0.05
SETUP_REPS = 3
THREADS = 4


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_pass(r, calls, sf_dir: str, order, tr) -> list[float]:
    """Build and execute each query of `order` to the noop sink, in turn;
    returns each one's seconds. A query that raises is a failed operation."""
    times = []
    for name in order:
        q0 = time.perf_counter()
        problem = None
        with tr.span(f"q.{name}"):
            try:
                with tr.span("queries.build"):
                    df = calls[name](r.spark, sf_dir)
                with tr.span("spark.exec"):
                    _noop(df)
            except Exception as e:
                problem = f"{type(e).__name__}: {e}"
        times.append(time.perf_counter() - q0)
        r.op(f"run {name}", problem)
    return times


@contextlib.contextmanager
def _traced_load_table(tracer):
    """Wrap `load_table` in every loaded package module with a span."""
    from f1_data_pipeline_spark.sources import tables

    orig = tables.load_table

    def load_table(*a, **kw):
        with tracer.span("sources.load_table"):
            return orig(*a, **kw)

    mods = [m for n, m in list(sys.modules.items())
            if n.startswith("f1_data_pipeline_spark") and m is not None
            and getattr(m, "load_table", None) is orig]
    for m in mods:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in mods:
            m.load_table = orig


def run(r) -> dict[str, float]:
    from f1_data_pipeline_spark.sources import load_table

    from checks import Oracle

    sf_dir = os.path.join(r.work, f"sf{SF}")
    gen.write_tables(sf_dir, SF, r.seed)
    calls = headline_calls()
    rng = random.Random(r.seed)

    setups, session_s = [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        session_s.append(r.start_session())
        for t in gen.TABLES:
            load_table(r.spark, sf_dir, t).count()
        setups.append(time.perf_counter() - t0)
    spark = r.spark
    r.log(f"set-up done: {setups}")

    # the check pass and a warm-up pass to the noop sink, whose write path
    # the check pass's collect does not run; most queries are too small to
    # fill the cores alone, so several run at once
    def check(name: str) -> str | None:
        try:
            return Oracle(sf_dir).check(name, calls[name](spark, sf_dir))
        except Exception as e:  # a failing query is a failed operation
            return f"{type(e).__name__}: {e}"

    def warm(name: str) -> str | None:
        try:
            _noop(calls[name](spark, sf_dir))
        except Exception as e:
            return f"{type(e).__name__}: {e}"
        return None

    with ThreadPoolExecutor(THREADS) as pool:
        for what, fn in (("check", check), ("warm", warm)):
            order = rng.sample(HEADLINE, len(HEADLINE))
            for name, problem in zip(order, pool.map(fn, order)):
                r.op(f"{what} {name}", problem)
    r.log(f"check and warm-up passes done; JIT settled in {r.settle():.1f}s")
    tr = r.tracer
    passes, per_query, gcs = [], [], []
    t_start = time.perf_counter()
    with _traced_load_table(tr) if r.traced else contextlib.nullcontext():
        while True:
            order = rng.sample(HEADLINE, len(HEADLINE))
            gc0 = spans.jvm_gc_s(spark)
            t0 = time.perf_counter()
            with tr.span("pass"):
                times = _run_pass(r, calls, sf_dir, order, tr)
            passes.append(time.perf_counter() - t0)
            gcs.append(spans.jvm_gc_s(spark) - gc0)
            per_query.extend(times)
            r.log(", ".join(f"{n} {t:.3f}s" for n, t in zip(order, times)))
            if time.perf_counter() - t_start >= r.seconds:
                break

    r.log(f"timed passes: {passes}, JVM GC {gcs}")
    if not r.traced:
        return end_to_end(r, setups, passes, per_query)
    return layers(r, session_s, passes, gcs)


def layers(r, session_s: list[float], passes: list[float],
           gcs: list[float]) -> dict[str, float]:
    """Per-layer metrics of the traced passes, averaged per pass."""
    tr = r.tracer
    ss = tr.spans
    self_t = spans.self_by_name(ss)
    by = lambda n: [s for s in ss if s.name == n]  # noqa: E731
    stages, jobs = spans.status_rows(r.spark, min(s.start for s in ss))
    n = len(passes)
    loads, builds, execs = by("sources.load_table"), by("queries.build"), by("spark.exec")
    st = spans.stage_totals(stages, execs)
    exec_s = sum(s.end - s.start for s in execs)
    slots = r.spark.sparkContext.defaultParallelism
    out = per_layer_defaults()
    out.update({
        "session.start_s": statistics.median(session_s),
        "sources.load_table.calls": len(loads) / n,
        "sources.load_table.s": sum(s.end - s.start for s in loads) / n,
        "sources.load_table.jobs": spans.within(jobs, loads) / n,
        "queries.build_s": self_t.get("queries.build", 0.0) / n,
        "queries.build_jobs": (spans.within(jobs, builds) - spans.within(jobs, loads)) / n,
        "spark.exec_s": exec_s / n,
        "spark.jobs": spans.within(jobs, execs) / n,
        "spark.stages": st["stages"] / n,
        "spark.tasks": st["tasks"] / n,
        "spark.executor_run_s": st["executor_run_s"] / n,
        "spark.executor_cpu_s": st["executor_cpu_s"] / n,
        "spark.gc_s": st["gc_s"] / n,
        "jvm.gc_s": statistics.median(gcs),
        "spark.input_bytes": st["input_bytes"] / n,
        "spark.shuffle_read_bytes": st["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": st["shuffle_write_bytes"] / n,
        "spark.spill_bytes": (st["memory_spill_bytes"] + st["disk_spill_bytes"]) / n,
        "spark.slot_util": st["executor_run_s"] / (exec_s * slots) if exec_s else 0.0,
    })
    totals = spans.total_by_name(ss)
    out["py.gc_s"] = totals.get("py.gc", 0.0) / n
    for name, t in totals.items():
        if name.startswith("q."):
            out[f"{name}.s"] = t / n
    jvm, py = spans.peak_rss_mb(r.spark)
    out.update({
        "proc.jvm_rss_mb": jvm, "proc.py_rss_mb": py,
        "trace.unit_s": statistics.median(passes),
        "proc.jvm_heap_peak_mb": spans.heap_peak_mb(r.spark),
        "trace.overhead_s": spans.span_cost(ss, {("queries.build", "spark.exec")})
        * len(ss) / n,
        # time on the blocking path outside every layer span
        "trace.unattributed_s": sum(
            t for k, t in self_t.items() if k == "pass" or k.startswith("q.")) / n,
    })
    closure(r, out)
    return out
