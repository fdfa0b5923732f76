"""`daily_increments`: the post-race run as a closed loop of seeded
increments over sf0.1 events, one client, runs never overlapping.

Inputs: the events of the first 20 days merged into the manifest table
`events_t` (partitioned by `day`) and a users dimension — the history a
daily run starts from. Set-up (repeated SETUP_REPS times, median
reported; the last one is kept): both tables cataloged, a watermark
store opened, and the live change feed (`read_change_stream` →
`start_manifest_append_stream`, continuous trigger, from the first
increment's commit on) started and waiting for data. Each increment
then runs, timed from gate to reads current:

1. gate: `WatermarkStore.get` + `should_load_postrace`;
2. land one parquet file of new, late and updated rows;
3. drain it with `start_merge_sink(commit="manifest", partition_col="day")`;
4. wait until the change feed has landed the commit in the curated table;
5. `WatermarkStore.complete`;
6. four `catalog_sql` reads: watermark, per-day count, point lookup,
   star join with users.

The first WARM_INCREMENTS increments are untimed warm-up; timed ones
follow while less than `--seconds` has passed since the first began.
Every read is checked when its increment is over, and the target,
curated table and sync_status once the loop ends.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import spans
from checks import fingerprint
from harness import closure, end_to_end, per_layer_defaults

SF = 0.1
SETUP_REPS = 3
WARM_INCREMENTS = 2
KEYS = ["event_id"]
COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
READS = {
    "watermark": "SELECT MAX(ts) AS max_ts FROM events_t",
    "day_count": "SELECT day, COUNT(*) AS n FROM events_t GROUP BY day",
    "point": "SELECT event_id, ts, user_id, event_type, value, props "
             "FROM events_t WHERE event_id = {point}",
    "star": "SELECT COUNT(*) AS n, SUM(CAST(e.value AS DECIMAL(18,2))) AS v "
            "FROM events_t e JOIN users u ON e.user_id = u.user_id "
            "WHERE u.plan = 'pro'",
}


def _write_events(pdf, path: str) -> int:
    """Land `pdf` as one parquet file with UTC timestamps; returns bytes."""
    t = pa.Table.from_pandas(pdf[COLS], preserve_index=False)
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t["ts"].cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(t, path)
    return os.path.getsize(path)


def _offset_version(progress) -> int:
    """The manifest version a change-feed batch ended at."""
    end = progress["sources"][0]["endOffset"]
    if isinstance(end, dict):
        return int(end["version"])
    return int(re.search(r"version\W+(\d+)", str(end)).group(1))


def _wait_feed(feed, version: int, timeout: float = 120.0) -> dict:
    """Block until the feed has run a batch ending at `version` or later;
    returns that batch's progress."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        for p in reversed(feed.recentProgress):
            if p["numInputRows"] and _offset_version(p) >= version:
                return p
        if feed.exception() is not None:
            raise RuntimeError(f"change feed failed: {feed.exception()}")
        time.sleep(0.005)
    raise TimeoutError(f"change feed did not reach version {version}")


def _wait_idle(query, timeout: float = 120.0) -> None:
    """Block until a started query has planned its first trigger and is
    waiting for data (its source is up)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"{query.name} failed: {query.exception()}")
        if query.status["message"] == "Waiting for data to arrive":
            return
        time.sleep(0.005)
    raise TimeoutError("query did not come up")


def _commit_stats(path: str, before: dict | None, after: dict) -> dict:
    """Files, bytes and rows a manifest commit added, and the partitions
    it touched."""
    old = (before or {}).get("partitions", {})
    out = {"partitions": 0, "files": 0, "bytes": 0, "rows": 0}
    for key, e in after["partitions"].items():
        if key in old and old[key]["prefix"] == e["prefix"]:
            continue
        out["partitions"] += 1
        for f in e.get("files") or ():
            out["files"] += 1
            out["rows"] += f["rows"]
            out["bytes"] += os.path.getsize(os.path.join(path, e["prefix"], f["name"]))
    return out


def _table_size(path: str, m: dict) -> tuple[int, int]:
    files = [os.path.join(path, e["prefix"], f["name"])
             for e in m["partitions"].values() for f in e.get("files") or ()]
    return len(files), sum(os.path.getsize(f) for f in files)


def _prepare(r, inc: gen.Increments, users) -> tuple[str, str]:
    """The history the post-race run starts from: the base events merged
    into `events_t` (partitioned by `day`) and the users dimension.
    Returns their paths."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.operators import sinks

    spark = r.spark
    target, users_path = (os.path.join(r.work, t) for t in ("events_t", "users"))
    base_file = os.path.join(r.work, "base.parquet")
    _write_events(inc.base, base_file)
    base = spark.read.parquet(base_file).withColumn("day", F.to_date("ts"))
    # two independent cold first writes: overlapping them shortens the run
    with ThreadPoolExecutor(1) as pool:
        dim = pool.submit(sinks.merge_upsert_manifest, spark,
                          spark.createDataFrame(users), users_path, ["user_id"], "plan")
        sinks.merge_upsert_manifest(spark, base, target, KEYS, "day")
        dim.result()
    return target, users_path


class Pipeline:
    """One set-up of the post-race pipeline under `rep_dir`, over the
    prepared tables: catalog, watermark store, and the live change feed
    started and waiting for data."""

    def __init__(self, r, rep_dir: str, target: str, users_path: str):
        from f1_data_pipeline_spark.operators import catalog, sinks
        from f1_data_pipeline_spark.plans.incremental import WatermarkStore
        from f1_data_pipeline_spark.streaming.manifest_sink import (
            start_manifest_append_stream,
        )
        from f1_data_pipeline_spark.streaming.manifest_source import read_change_stream

        spark = r.spark
        p = lambda *a: os.path.join(rep_dir, *a)  # noqa: E731
        self.target, self.curated, self.cat = target, p("curated"), p("catalog")
        self.landing, self.ckpt = p("landing"), p("ckpt_merge")
        os.makedirs(self.landing)
        catalog.catalog_create_table(self.cat, "events_t", target)
        catalog.catalog_create_table(self.cat, "users", users_path)
        self.store = WatermarkStore(spark, p("wm"))
        # a race that ended on the real today: the gate's cutoffs compare
        # against the wall-clock last_successful_sync `complete` records
        self.races = spark.createDataFrame([(dt.date.today(),)], "date date")
        # the feed carries changes from the first increment on; the base
        # is history, not a change
        first = sinks.manifest_versions(target)[-1] + 1
        self.feed = start_manifest_append_stream(
            read_change_stream(spark, target, KEYS, starting_version=first),
            self.curated, p("ckpt_feed"), trigger_available_now=False)
        _wait_idle(self.feed)


def run(r) -> dict[str, float]:
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.operators import catalog, sinks
    from f1_data_pipeline_spark.plans.incremental import should_load_postrace
    from f1_data_pipeline_spark.streaming.structured import (
        read_event_stream,
        start_merge_sink,
    )

    events = gen.events_frame(SF, r.seed)
    users = gen.users_frame(events, r.seed)
    inc = gen.Increments(events, r.seed)
    session_s = [r.start_session()]
    r.log("session started")
    target, users_path = _prepare(r, inc, users)
    r.log("history prepared")
    setups = []
    for k in range(SETUP_REPS):
        if k:
            pipe.feed.stop()
        t0 = time.perf_counter()
        pipe = Pipeline(r, os.path.join(r.work, f"setup{k}"), target, users_path)
        setups.append(time.perf_counter() - t0)
    spark = r.spark
    r.log(f"set-up done: {setups}")
    rng = random.Random(r.seed)
    add_day = lambda b: b.withColumn("day", F.to_date("ts"))  # noqa: E731
    tr = r.tracer
    plan_of = users.set_index("user_id")["plan"]

    incs, units, reads, per = [], [], [], []
    t_start = None
    i = 0
    while i < inc.count:
        timed = i >= WARM_INCREMENTS
        if timed and t_start is None:
            r.log(f"JIT settled in {r.settle():.1f}s")
            t_start = time.perf_counter()
        if timed and units and time.perf_counter() - t_start >= r.seconds:
            break
        pdf = inc.next(i)
        incs.append(pdf["event_id"].tolist())
        state = inc.state
        point = int(state.index[rng.randrange(len(state))])
        today = dt.date.today() + dt.timedelta(days=2)
        if r.traced:
            m_before = sinks.read_manifest(target)
            c_before = sinks.read_manifest(pipe.curated)
        got, rt = {}, {}
        problem = None
        gc0 = spans.jvm_gc_s(spark)
        t0 = time.perf_counter()
        with tr.span("increment") as inc_span:
            try:
                with tr.span("incremental.gate"):
                    wm = pipe.store.get("events")
                    gate = should_load_postrace(wm, pipe.races, today)
                if not gate:
                    raise RuntimeError("post-race gate refused the increment")
                with tr.span("land"):
                    in_bytes = _write_events(
                        pdf, os.path.join(pipe.landing, f"inc-{i:05d}.parquet"))
                with tr.span("structured.drain"):
                    d0 = time.time()
                    q = start_merge_sink(
                        read_event_stream(spark, pipe.landing, watermark=None),
                        target, KEYS, pipe.ckpt, transform=add_day,
                        partition_col="day", commit="manifest")
                    q.awaitTermination()
                    d1 = time.time()
                    if q.exception() is not None:
                        raise RuntimeError(f"merge drain failed: {q.exception()}")
                    version = sinks.manifest_versions(target)[-1]  # the commit it made
                with tr.span("feed.wait"):
                    fp = _wait_feed(pipe.feed, version)
                with tr.span("incremental.complete"):
                    pipe.store.complete("events", len(pdf))
                for name, sql in READS.items():
                    r0 = time.perf_counter()
                    with tr.span(f"catalog.{name}.build"):
                        df = catalog.catalog_sql(spark, pipe.cat, sql.format(point=point))
                    with tr.span(f"catalog.{name}.exec"):
                        got[name] = df.collect()
                    rt[name] = time.perf_counter() - r0
            except Exception as e:  # a failing increment is a failed operation
                problem = f"{type(e).__name__}: {e}"
        unit = time.perf_counter() - t0
        gc_s = spans.jvm_gc_s(spark) - gc0
        r.op(f"increment {i}", problem)
        r.log(f"increment {i}: {unit:.2f}s, reads {[round(x, 2) for x in rt.values()]}, "
              f"JVM GC {gc_s:.3f}s")
        for name in READS:
            r.op(f"read {name} {i}", "not run" if name not in got else
                 _check_read(name, got[name], state, point, plan_of))
        if problem is None and timed:
            units.append(unit)
            reads.extend(rt.values())
        if problem is None and timed and r.traced:
            per.append(_increment_layers(
                q, fp, d0, d1, inc_span, target, pipe.curated,
                m_before, c_before, in_bytes, len(pdf)))
            per[-1]["jvm.gc_s"] = gc_s
        i += 1

    _check_final(r, pipe, inc, incs)
    r.log("checked final state")
    if not units:
        raise RuntimeError("no increment completed")
    r.log(f"timed increments: {units}")
    if not r.traced:
        return end_to_end(r, setups, units, reads)
    return _layers(r, session_s, units, per)


def _check_read(name: str, rows, state, point: int, plan_of) -> str | None:
    if name == "watermark":
        want = state["ts"].max().to_pydatetime()
        got = rows[0][0]
        return None if got == want else f"max(ts) {got}, expected {want}"
    if name == "day_count":
        want = state.groupby(state["ts"].dt.date).size().to_dict()
        got = {r[0]: r[1] for r in rows}
        return None if got == want else "per-day counts differ"
    if name == "point":
        s = state.loc[point]
        want = [(point, s["ts"].to_pydatetime(), int(s["user_id"]), s["event_type"],
                 float(s["value"]), s["props"])]
        got = [tuple(r) for r in rows]
        return None if got == want else f"point row {got}, expected {want}"
    pro = state[state["user_id"].map(plan_of) == "pro"]
    cents = int(np.round(pro["value"].to_numpy() * 100).astype(np.int64).sum())
    n, v = rows[0]
    if n != len(pro) or v is None or int(v * 100) != cents:
        return f"star ({n}, {v}), expected ({len(pro)}, {cents / 100:.2f})"
    return None


def _state_rows(state) -> list[tuple]:
    return list(zip(
        state["event_id"].tolist(),
        [t.to_pydatetime() for t in state["ts"]],
        state["user_id"].tolist(), state["event_type"].tolist(),
        state["value"].tolist(), state["props"].tolist(),
    ))


def _check_final(r, pipe: Pipeline, inc: gen.Increments, landed: list) -> None:
    """The target and curated tables and sync_status against the state the
    generator expects (last write wins per event_id). `landed` holds the
    event_ids of each landed increment."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.operators import sinks

    spark = r.spark
    state = inc.state
    target = sinks.read_manifest_table(spark, pipe.target).select(*COLS)
    got = fingerprint(COLS, [tuple(x) for x in target.collect()])
    r.op("final target", None if got == fingerprint(COLS, _state_rows(state))
         else "target differs from expected state")

    changed = state.loc[sorted({k for ids in landed for k in ids})]
    cur = sinks.read_manifest_table(spark, pipe.curated)
    n = cur.count()
    latest = (cur.withColumn("_rn", F.row_number().over(
        Window.partitionBy("event_id").orderBy(F.desc("_commit_version"))))
        .filter("_rn = 1").select(*COLS))
    got = fingerprint(COLS, [tuple(x) for x in latest.collect()])
    kinds = {x[0] for x in cur.select("_change").distinct().collect()}
    records = sum(len(ids) for ids in landed)
    problem = None
    if n != records:
        problem = f"{n} change rows, expected {records}"
    elif kinds - {"insert", "update_postimage"}:
        problem = f"unexpected change kinds {sorted(kinds)}"
    elif got != fingerprint(COLS, _state_rows(changed)):
        problem = "latest change per key differs from expected state"
    r.op("final curated", problem)

    want = records
    total = pipe.store.get("events").total_records
    r.op("final sync_status", None if total == want else
         f"total_records {total}, expected {want}")


def _increment_layers(q, fp, d0, d1, inc_span, target, curated, m_before,
                      c_before, in_bytes, n_rows) -> dict:
    """Per-increment layer figures from progress reports and manifests."""
    from f1_data_pipeline_spark.operators import sinks

    prog = q.recentProgress
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in prog) / 1000.0  # noqa: E731
    m_after = sinks.read_manifest(target)
    t = _commit_stats(target, m_before, m_after)
    c = _commit_stats(curated, c_before, sinks.read_manifest(curated))
    files, size = _table_size(target, m_after)
    return {
        "span": inc_span,
        "structured.drain_s": d1 - d0,
        "structured.start_s": (d1 - d0) - dur("triggerExecution"),
        "structured.add_batch_s": dur("addBatch"),
        "structured.offsets_s": dur("latestOffset") + dur("walCommit") + dur("commitOffsets"),
        "sinks.bytes_written": t["bytes"] + c["bytes"],
        "sinks.rows_rewritten": t["rows"] - n_rows,
        "sinks.files_added": t["files"] + c["files"],
        "sinks.partitions_touched": t["partitions"],
        "sinks.table_files": files,
        "sinks.table_bytes": size,
        "sinks.write_amp_bytes": (t["bytes"] + c["bytes"]) / in_bytes,
        "feed.batch_s": fp["durationMs"].get("triggerExecution", 0) / 1000.0,
        "feed.rows": fp["numInputRows"],
    }


def _layers(r, session_s, units, per) -> dict[str, float]:
    """Per-layer metrics: the median over timed increments of each."""
    tr = r.tracer
    ss = tr.spans
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    incs = [p["span"] for p in per]
    self_t = spans.self_times(ss)
    idx = {id(s): k for k, s in enumerate(ss)}

    def child_total(inc_span, name: str) -> float:
        k = idx[id(inc_span)]
        return sum(s.end - s.start for s in ss if s.parent == k and s.name == name)

    stages, jobs = spans.status_rows(r.spark, min(s.start for s in incs))
    st = [spans.stage_totals(stages, [s]) for s in incs]
    slots = r.spark.sparkContext.defaultParallelism
    out = per_layer_defaults()
    out["session.start_s"] = med(session_s)
    for k in per[0]:
        if k != "span":
            out[k] = med([p[k] for p in per])
    out["land.write_s"] = med([child_total(s, "land") for s in incs])
    out["py.gc_s"] = med([spans.total_within(ss, "py.gc", s) for s in incs])
    out["feed.lag_s"] = med([child_total(s, "feed.wait") for s in incs])
    out["incremental.gate_s"] = med([child_total(s, "incremental.gate") for s in incs])
    out["incremental.complete_s"] = med([child_total(s, "incremental.complete") for s in incs])
    for name in READS:
        for part in ("build", "exec"):
            out[f"catalog.{name}.{part}_s"] = med(
                [child_total(s, f"catalog.{name}.{part}") for s in incs])
    # Spark executing a query the increment started: the drain and the
    # reads' collects (the feed's batches run beside them, as feed.*)
    def executing(inc_span) -> float:
        k = idx[id(inc_span)]
        return spans.union_length([
            (s.start, s.end) for s in ss if s.parent == k and (
                s.name == "structured.drain"
                or s.name.startswith("catalog.") and s.name.endswith(".exec"))])

    walls = [s.end - s.start for s in incs]
    out["spark.exec_s"] = med([executing(s) for s in incs])
    out["spark.jobs"] = med([spans.within(jobs, [s]) for s in incs])
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"):
        out[f"spark.{k}"] = med([x[k] for x in st])
    out["spark.spill_bytes"] = med([x["memory_spill_bytes"] + x["disk_spill_bytes"] for x in st])
    out["spark.slot_util"] = med([x["executor_run_s"] / (w * slots) for x, w in zip(st, walls)])
    jvm, py = spans.peak_rss_mb(r.spark)
    out.update({
        "proc.jvm_rss_mb": jvm, "proc.py_rss_mb": py,
        "trace.unit_s": med(units),
        "proc.jvm_heap_peak_mb": spans.heap_peak_mb(r.spark),
        "trace.overhead_s": spans.span_cost(
            ss, {(f"catalog.{n}.build", f"catalog.{n}.exec") for n in READS})
        * med([spans.count_within(ss, s) for s in incs]),
        # time on the blocking path outside every layer span
        "trace.unattributed_s": med([self_t[idx[id(s)]] for s in incs]),
    })
    closure(r, out)
    return out
