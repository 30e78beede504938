"""The benchmark workloads. Each drives the shipped program from outside,
through the same public builders a user calls, and returns its end-to-end
figures, its correctness counts and (when tracing) the per-layer numbers.

- ``audit_windows_drain``: closed loop over a backlog; throughput. Its
  traced run also runs the frozen batch query panel for the batch layers.
- ``clickstream_open_loop``: fixed-rate arrivals; per-event freshness.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import check
import gen
from spans import Tracer, backlog_series, median, progress_start_s

HERE = os.path.dirname(os.path.abspath(__file__))

#: Workload sizes. ``SIZES`` is the benchmark; ``TINY`` is the self-test.
SIZES = {
    "audit_windows_drain": {"records": 240_000, "users": 10_000, "files": 40,
                            "files_per_trigger": 20, "panel_scale": 1.0},
    "clickstream_open_loop": {"keys": 100, "warmup_s": 6.0},
}
TINY = {
    "audit_windows_drain": {"records": 2_000, "users": 500, "files": 10,
                            "files_per_trigger": 4, "panel_scale": 0.2},
    "clickstream_open_loop": {"keys": 50, "warmup_s": 1.0},
}

#: The frozen batch panel, in execution order, run by the traced drain.
#: Later registry additions do not change it.
PANEL_PASSES = 2
PANEL = {
    "plans": ["q1_pricing_summary", "q3_shipping_priority",
              "q18_large_quantity_orders"],
    "operators": ["p1_parse_csv", "a4_session_agg_1h", "j3_interval_join",
                  "st2_action_durations"],
    "functions": ["x_minhash_lsh", "x_bm25_topk"],
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    sizes: dict
    tamper: bool = False
    rss: object = None
    listener: object = None
    layer: dict = field(default_factory=dict)


@dataclass
class Result:
    expected: int
    failed: int
    throughput_per_s: float
    latency_samples_ms: list
    extra: dict  # human-readable figures named by the workload


# --- per-layer figures from Spark's progress reports -----------------------

def _is_python_state(op: dict) -> bool:
    return "pandas" in op.get("operatorName", "").lower() or \
        "flatmapgroups" in op.get("operatorName", "").lower()


def streaming_layers(ctx: Ctx, progress: list[dict]) -> None:
    """Fill the micro-batch, source and state-store figures from progress
    records (all queries of the workload)."""
    lay = ctx.layer
    dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in progress)
    lay["sources.latest_offset_ms"] = dur("latestOffset")
    lay["sources.get_batch_ms"] = dur("getBatch")
    lay["sources.input_rows"] = sum(p.get("numInputRows", 0) for p in progress)
    lay["streaming.batches"] = len(progress)
    lay["streaming.batch_p50_ms"] = median(
        [p["durationMs"].get("triggerExecution", 0) for p in progress])
    lay["streaming.add_batch_ms"] = dur("addBatch")
    lay["streaming.query_planning_ms"] = dur("queryPlanning")
    lay["streaming.wal_commit_ms"] = dur("walCommit")
    lay["streaming.commit_offsets_ms"] = dur("commitOffsets")
    for prefix, pick in (("pipelines", lambda o: not _is_python_state(o)),
                         ("stateful", _is_python_state)):
        rows = mem = upd = rem = com = hit = miss = drop = parts = 0
        for p in progress:
            ops = [o for o in p.get("stateOperators", []) if pick(o)]
            rows = max(rows, sum(o.get("numRowsTotal", 0) for o in ops))
            mem = max(mem, sum(o.get("memoryUsedBytes", 0) for o in ops))
            for o in ops:
                upd += o.get("allUpdatesTimeMs", 0)
                rem += o.get("allRemovalsTimeMs", 0)
                com += o.get("commitTimeMs", 0)
                drop += o.get("numRowsDroppedByWatermark", 0)
                cm = o.get("customMetrics", {})
                hit += cm.get("loadedMapCacheHitCount", 0)
                miss += cm.get("loadedMapCacheMissCount", 0)
                parts = max(parts, o.get("numShufflePartitions", 0))
        lay[f"{prefix}.state_rows"] = rows
        lay[f"{prefix}.state_memory_bytes"] = mem
        lay[f"{prefix}.state_update_ms"] = upd
        lay[f"{prefix}.state_commit_ms"] = com
        if prefix == "pipelines":
            lay["pipelines.state_removal_ms"] = rem
            lay["pipelines.state_cache_hit_ratio"] = hit / (hit + miss) \
                if hit + miss else 0.0
            lay["pipelines.rows_dropped_by_watermark"] = drop
        lay["streaming.state_partitions"] = max(
            lay.get("streaming.state_partitions", 0), parts)


def _progress(ctx: Ctx, q) -> list[dict]:
    """All progress records of a finished query: from the listener when
    tracing, else from the query's own recent-progress buffer."""
    recent = [json.loads(p.json) for p in q.recentProgress]
    if ctx.listener is None or not recent:
        return recent
    return ctx.listener.wait_for(q.name, recent[-1]["batchId"])


def parse_rate(ctx: Ctx, lines: list[str], schema) -> float:
    """Rows per second of one batch ``parse_csv_lines`` call over the
    workload's own generated lines (parsed twice; the second is timed)."""
    from flink_realtime_data_eng_spark.operators.projections import \
        parse_csv_lines
    df = ctx.spark.createDataFrame([(ln,) for ln in lines], "value string")
    df = df.repartition(ctx.spark.sparkContext.defaultParallelism).cache()
    df.count()
    parsed = parse_csv_lines(df, schema)
    parsed.write.mode("overwrite").format("noop").save()
    t0 = time.perf_counter()
    parsed.write.mode("overwrite").format("noop").save()
    rate = len(lines) / (time.perf_counter() - t0)
    df.unpersist()
    return rate


# --- audit_windows_drain ---------------------------------------------------

def _drain_writers(ctx: Ctx, backlog: dict, tag: str, views) -> dict:
    from flink_realtime_data_eng_spark import jobs, kafka_standin, sinks, sources
    sz, sp, tr = ctx.sizes, ctx.spark, ctx.tracer
    out = {}
    with tr.span("jobs.build"):
        if {"sliding", "session"} & set(views):
            with tr.span("sources.file_text_stream"):
                values = sources.file_text_stream(
                    sp, backlog["audit_dir"], sz["files_per_trigger"])
            with tr.span("jobs.windowing_operations"):
                out["sliding"], out["session"] = jobs.windowing_operations(values)
        if "join" in views:
            with tr.span("sources.kafka_standin.read_stream"):
                kv = sources.kafka_values(kafka_standin.read_stream(
                    sp, backlog["topic_dir"], sz["files_per_trigger"]))
            with tr.span("jobs.window_joins"):
                out["join"] = jobs.window_joins(sp, backlog["audit_dir"], kv)
        writers = {}
        for v in views:
            with tr.span("sinks.file_sink"):
                writers[v] = sinks.file_sink(
                    out[v], os.path.join(ctx.work, f"out_{tag}", v),
                    os.path.join(ctx.work, f"ckpt_{tag}", v), fmt="csv"
                ).queryName(f"drain_{tag}_{v}")
    return writers


def _drain(ctx: Ctx, backlog: dict, tag: str, views) -> tuple:
    """Run each view's query to completion, one at a time. Returns
    (wall seconds per view, per-record waits in ms, progress records)."""
    from flink_realtime_data_eng_spark import sinks
    writers = _drain_writers(ctx, backlog, tag, views)
    walls, samples, progress = {}, [], []
    for v in views:
        t0 = time.time()
        with ctx.tracer.span(f"drain.{v}"):
            with ctx.tracer.span("sinks.run_available_now"):
                q = sinks.run_available_now(writers[v])
            if not q.awaitTermination(150):
                q.stop()
                raise TimeoutError(f"drain view {v} did not finish")
            if q.exception() is not None:
                raise RuntimeError(f"drain view {v} failed: {q.exception()}")
        walls[v] = time.time() - t0
        prog = _progress(ctx, q)
        progress.extend(prog)
        print(f"perfbench: drain {tag}/{v}: {walls[v]:.2f} s, "
              f"{len(prog)} batches", file=sys.stderr)
        for p in prog:  # a record waits from its query's start to its batch's end
            end = progress_start_s(p) + \
                p["durationMs"].get("triggerExecution", 0) / 1000.0
            samples.extend([(end - t0) * 1000.0] * p.get("numInputRows", 0))
    return walls, samples, progress


def audit_windows_drain(ctx: Ctx) -> Result:
    sz = ctx.sizes
    with ctx.tracer.span("gen.backlog"):
        backlog = gen.audit_backlog(os.path.join(ctx.work, "in"), ctx.seed,
                                    sz["records"], sz["users"], sz["files"])
    views = ("sliding", "session", "join")
    t0 = time.time()
    walls, samples, progress = _drain(ctx, backlog, "main", views)
    total = time.time() - t0
    with ctx.tracer.span("check"):
        expected, failed = check.check_drain(
            backlog, {v: os.path.join(ctx.work, "out_main", v) for v in views},
            ctx.tamper)
    rate = sz["records"] / total
    if ctx.tracer.enabled:
        from flink_realtime_data_eng_spark.schemas import AUDIT_TRAIL
        lay = ctx.layer
        streaming_layers(ctx, progress)
        for v in views:
            lay[f"pipelines.{v}_s"] = walls[v]
        out_rows = sum(len(check.read_csv_rows(
            os.path.join(ctx.work, "out_main", v))) for v in views)
        lay["sinks.output_rows"] = out_rows
        lay["sinks.files_written"] = sum(
            len([f for f in os.listdir(os.path.join(ctx.work, "out_main", v))
                 if f.startswith("part-")]) for v in views)
        lay["projections.parse_rows_per_s"] = parse_rate(
            ctx, backlog["lines"], AUDIT_TRAIL)
        with ctx.tracer.span("panel"):
            n_q, bad_q = batch_query_panel(ctx)
        expected, failed = expected + n_q, failed + bad_q
        lay["streaming.speedup_vs_1cpu"] = _speedup_vs_1cpu(
            ctx, backlog, walls["sliding"])  # last: leaves a one-core session
    return Result(expected, failed, rate, samples,
                  {"drain_events_per_s": rate, "drain_s": total,
                   "latency_samples": len(samples)})


def _speedup_vs_1cpu(ctx: Ctx, backlog: dict, sliding_s: float) -> float:
    """Drain the sliding view again on a one-core session; returns its
    wall time over the full-width one. The session is rebuilt as shipped,
    with only ``SPARK_GRAFT_CPUS`` changed."""
    from flink_realtime_data_eng_spark.session import get_spark
    old, listener = os.environ["SPARK_GRAFT_CPUS"], ctx.listener
    ctx.spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    ctx.listener = None  # the listener stays with the stopped session
    try:
        ctx.spark = get_spark("perfbench-1cpu")
        ctx.spark.sparkContext.setLogLevel("ERROR")
        walls, _, _ = _drain(ctx, backlog, "one_cpu", ("sliding",))
    finally:
        os.environ["SPARK_GRAFT_CPUS"], ctx.listener = old, listener
    return walls["sliding"] / sliding_s


# --- clickstream_open_loop -------------------------------------------------

def clickstream_open_loop(ctx: Ctx) -> Result:
    from flink_realtime_data_eng_spark import jobs, sinks
    sz, tr = ctx.sizes, ctx.tracer
    in_dir = os.path.join(ctx.work, "clicks")
    os.makedirs(in_dir)
    lock = threading.Lock()
    held: list[tuple[float, list]] = []  # (sink hold time, ST2 rows)
    counts: list = []

    def on_durations(batch_id, rows):
        t = time.time()
        with lock:
            held.append((t, [tuple(r) for r in rows]))

    def on_counts(batch_id, rows):
        with lock:
            counts.extend(tuple(r) for r in rows)

    with tr.span("jobs.build"):
        with tr.span("jobs.course_use_case"):
            counts_df, durations_df = jobs.course_use_case(ctx.spark, in_dir)
        with tr.span("sinks.log_sink"):
            w_d = sinks.log_sink(durations_df, on_durations)
        with tr.span("sinks.log_sink"):
            w_c = sinks.log_sink(counts_df, on_counts)
    q_d = w_d.option("checkpointLocation", os.path.join(ctx.work, "ckpt_d")) \
        .queryName("open_loop_durations").start()
    q_c = w_c.option("checkpointLocation", os.path.join(ctx.work, "ckpt_c")) \
        .queryName("open_loop_counts").start()

    warm = sz["warmup_s"]
    total_s = warm + ctx.seconds
    start = time.time() + 1.0
    events = gen.openloop_events(ctx.seed, total_s, sz["keys"], start)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "openloop",
         "--out", in_dir, "--seed", str(ctx.seed),
         "--total-s", str(total_s), "--keys", str(sz["keys"]),
         "--start", repr(start)],
        stdout=subprocess.PIPE, text=True)
    if ctx.rss is not None:
        ctx.rss.exclude.add(proc.pid)
    try:
        gen_out, _ = proc.communicate(timeout=total_s + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError("open-loop generator failed")
    gen_stats = json.loads(gen_out.strip().splitlines()[-1])

    n = len(events)
    deadline = time.time() + 60
    while time.time() < deadline:
        with lock:
            got = sum(len(r) for _, r in held)
            counted = sum(r[3] for r in counts if r[1] != gen.FLUSH_USER)
        if got >= n + 1 and counted >= n:
            break
        if q_d.exception() or q_c.exception():
            break
        time.sleep(0.05)
    for q in (q_d, q_c):
        q.stop()
        q.awaitTermination(30)

    lo, hi = (start + warm) * 1000.0, (start + total_s) * 1000.0
    samples, last_hold = [], start + warm
    for t, rows in held:
        for r in rows:
            if r[0] != gen.FLUSH_USER and lo <= r[1] < hi:
                samples.append(t * 1000.0 - r[1])
                last_hold = max(last_hold, t)
    measured = sum(1 for e in events if lo <= e[3] < hi)
    thr = measured / max(last_hold - (start + warm), 1e-9)
    with tr.span("check"):
        expected, failed = check.check_open_loop(
            events, [r for _, rows in held for r in rows], counts, ctx.tamper)
    late_p99 = gen_stats["late_p99_ms"]
    if late_p99 > 1000.0:
        raise RuntimeError(f"open-loop generator fell behind (p99 lateness "
                           f"{late_p99:.0f} ms): the run is void")
    if tr.enabled:
        from flink_realtime_data_eng_spark.schemas import BROWSER_EVENT
        lay = ctx.layer
        prog_d, prog_c = _progress(ctx, q_d), _progress(ctx, q_c)
        streaming_layers(ctx, prog_d + prog_c)
        due = sorted(e[3] for e in events)
        consumed, acc = [], 0
        for p in prog_d:
            acc += p.get("numInputRows", 0)
            end = progress_start_s(p) + p["durationMs"].get(
                "triggerExecution", 0) / 1000.0
            if end <= start + total_s:
                consumed.append((end, acc))
        lay["sources.backlog_events"], lay["sources.backlog_slope_per_s"] = \
            backlog_series(due, consumed)
        lay["sinks.output_rows"] = sum(len(r) for _, r in held) + len(counts)
        lay["sinks.foreach_batch_ms"] = sum(
            p["durationMs"].get("addBatch", 0) for p in prog_d + prog_c)
        lay["gen.late_p99_ms"] = late_p99
        lay["gen.events"] = gen_stats["events"]
        lay["projections.parse_rows_per_s"] = parse_rate(
            ctx, [gen.quoted(e) for e in events], BROWSER_EVENT)
    return Result(expected, failed, thr, samples,
                  {"latency_samples": len(samples),
                   "gen_late_p99_ms": late_p99})


# --- batch_query_panel -----------------------------------------------------

def batch_query_panel(ctx: Ctx) -> tuple[int, int]:
    """Run the frozen batch panel: a cold pass that checks every query
    against its DuckDB oracle, then ``PANEL_PASSES`` warm passes, each
    query written with ``format("noop")``. Fills the batch-layer figures
    and returns (queries checked, queries wrong)."""
    import duckdb

    import __spark_entry__
    from flink_realtime_data_eng_spark import registry
    from tools.verify_local import TABLES, value_hash
    data = os.path.join(ctx.work, "panel")
    with ctx.tracer.span("gen.panel_tables"):
        gen.panel_tables(data, ctx.seed, ctx.sizes["panel_scale"])
    names = [n for group in PANEL.values() for n in group]
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t)}.parquet')")

    failed = 0
    with ctx.tracer.span("check"):  # cold pass, outside the timed passes
        for name in names:
            sdf = registry.QUERIES[name](ctx.spark, data)
            srows = [tuple(r) for r in sdf.collect()]
            if ctx.tamper and name == names[0]:
                srows = srows[1:]
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            if len(srows) != len(orows) or sorted(sdf.columns) != sorted(ocols) \
                    or value_hash(sdf.columns, srows) != value_hash(ocols, orows):
                failed += 1
                print(f"perfbench: panel query {name} differs from its oracle",
                      file=sys.stderr)
    con.close()

    sc = ctx.spark.sparkContext
    group = f"perfbench-panel-{ctx.tracer.run_id}"
    sc.setJobGroup(group, "timed panel passes")
    passes, per_group = [], {g: 0.0 for g in PANEL}
    for _ in range(PANEL_PASSES):
        t0 = time.time()
        for g, qs in PANEL.items():
            for name in qs:
                q0 = time.time()
                with ctx.tracer.span(f"registry.{name}"):
                    registry.QUERIES[name](ctx.spark, data).write.mode(
                        "overwrite").format("noop").save()
                per_group[g] += time.time() - q0
        passes.append(time.time() - t0)
    sc.setJobGroup("", "")
    lay = ctx.layer
    lay["registry.panel_s"] = median(passes)
    lay["plans.tpch_s"] = per_group["plans"] / PANEL_PASSES
    lay["operators.batch_forms_s"] = per_group["operators"] / PANEL_PASSES
    lay["functions.llm_s"] = per_group["functions"] / PANEL_PASSES
    tracker = sc.statusTracker()
    tasks = failed_tasks = 0
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        for st in (tracker.getStageInfo(s) for s in (info.stageIds if info else [])):
            if st:
                tasks += st.numTasks
                failed_tasks += st.numFailedTasks
    lay["registry.tasks"] = tasks
    lay["registry.failed_tasks"] = failed_tasks
    return len(names), failed


WORKLOADS = {
    "audit_windows_drain": audit_windows_drain,
    "clickstream_open_loop": clickstream_open_loop,
}
