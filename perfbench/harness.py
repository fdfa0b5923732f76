"""What a benchmark run shares with its workload: the metric tables,
the run context (paths, session, tracer, operation tally) and the
isolation of everything Spark writes."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

END_TO_END = {"setup_s": "s", "pass_s": "s"}


def _per_layer() -> dict[str, str]:
    from querytable import HEADLINE

    units = {"session.start_s": "s"}
    units.update(dict.fromkeys(
        ("sources.load_table.calls", "sources.load_table.jobs",
         "queries.build_jobs", "spark.jobs", "spark.stages", "spark.tasks",
         "sinks.rows_rewritten", "sinks.files_added", "sinks.partitions_touched",
         "sinks.table_files", "feed.rows"), "count"))
    units.update(dict.fromkeys(
        ("spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
         "spark.spill_bytes", "sinks.bytes_written", "sinks.table_bytes"), "B"))
    for k in ("sources.load_table.s", "queries.build_s", "spark.exec_s",
              "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "jvm.gc_s",
              "structured.drain_s", "structured.start_s", "structured.add_batch_s",
              "structured.offsets_s", "feed.lag_s", "feed.batch_s",
              "incremental.gate_s", "incremental.complete_s",
              "land.write_s", "py.gc_s",
              "trace.unit_s", "trace.overhead_s", "trace.unattributed_s"):
        units[k] = "s"
    for read in ("watermark", "day_count", "point", "star"):
        units[f"catalog.{read}.build_s"] = units[f"catalog.{read}.exec_s"] = "s"
    for name in HEADLINE:
        units[f"q.{name}.s"] = "s"
    units.update({"spark.slot_util": "ratio", "sinks.write_amp_bytes": "B/B",
                  "proc.jvm_rss_mb": "MiB", "proc.py_rss_mb": "MiB",
                  "proc.jvm_heap_peak_mb": "MiB", "trace.closed": "bool"})
    return units


PER_LAYER = _per_layer()


def per_layer_defaults() -> dict[str, float]:
    """Every per-layer metric at 0: the layers a workload never reaches."""
    return dict.fromkeys(PER_LAYER, 0.0)


class Run:
    """What one benchmark run shares with its workload: paths, the
    session, the tracer and the operation tally."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 traced: bool):
        import spans

        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.traced = seconds, traced
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.tracer = spans.Tracer(traced)
        self.spark = None
        self.attempted = self.failed = 0
        self._t0 = time.perf_counter()

    def log(self, what: str) -> None:
        """Progress on stderr: seconds since the run started."""
        print(f"[{time.perf_counter() - self._t0:7.1f}s] {what}", file=sys.stderr, flush=True)

    def op(self, what: str, problem: str | None) -> None:
        """Tally one operation; `problem` (an error or a wrong output)
        marks it failed."""
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            print(f"FAILED {what}: {problem}", file=sys.stderr, flush=True)

    def start_session(self) -> float:
        """Stop any live session and build a fresh one; returns seconds."""
        from f1_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def settle(self, quiet_ms: int = 20, max_s: float = 20.0) -> float:
        """Wait until the JVM's JIT compilers have gone quiet (less than
        `quiet_ms` of compilation in half a second) and collect Python's
        garbage, so the timed region starts from the same state in every
        run. The JVM is left to its own collector: a forced full
        collection took ~2 s and slowed the increment after it. Returns
        the seconds waited."""
        import gc

        jvm = self.spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        t0 = time.perf_counter()
        prev = mx.getTotalCompilationTime()
        while time.perf_counter() - t0 < max_s:
            time.sleep(0.5)
            cur = mx.getTotalCompilationTime()
            if cur - prev < quiet_ms:
                break
            prev = cur
        gc.collect()
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


def isolate(run: Run) -> None:
    """Keep every file Spark and its workers write under the run's work
    directory, and put the repository on the Python workers' path."""
    for d in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(run.work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (run.root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # collected timestamps are rendered in the local zone; the expected
    # values are naive UTC wall clocks
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(os.path.join(run.work, "cwd"))  # spark-warehouse, derby.log


def end_to_end(run: Run, setups: list[float], units: list[float],
               queries: list[float]) -> dict[str, float]:
    """The end-to-end metrics. Single-query latency and memory are logged,
    not reported: a run holds too few queries for a steady median or tail,
    and the JVM's resident size follows its garbage collector's timing."""
    import spans

    pct, tail = spans.tail(queries)
    run.log(f"query latency: {len(queries)} samples, p50 "
            f"{statistics.median(queries):.3f}s, p{pct:.0f} {tail:.3f}s "
            "(highest percentile with 10 samples beyond)")
    jvm, py = spans.peak_rss_mb(run.spark)
    run.log(f"peak rss: jvm {jvm:.0f} MiB, python {py:.0f} MiB, "
            f"jvm heap peak {spans.heap_peak_mb(run.spark):.0f} MiB")
    return {"setup_s": statistics.median(setups), "pass_s": statistics.median(units)}


def closure(run: Run, out: dict[str, float]) -> None:
    """Whether the layer self times account for the traced unit time to
    within the tracing overhead; logged and reported as trace.closed."""
    ok = out["trace.unattributed_s"] <= out["trace.overhead_s"]
    out["trace.closed"] = float(ok)
    run.log(f"trace: unit {out['trace.unit_s']:.4f}s, unattributed "
            f"{out['trace.unattributed_s'] * 1e3:.3f}ms, overhead "
            f"{out['trace.overhead_s'] * 1e3:.3f}ms: "
            + ("within" if ok else "NOT within") + " the overhead")
