"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload audit_windows_drain --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root (the directory holding
``flink_realtime_data_eng_spark``). The session is the shipped
``session.get_spark`` with no conf overrides and ``SPARK_GRAFT_CPUS`` set to
the usable core count. Everything the run writes (generated inputs, Spark
scratch space, checkpoints, sink output) lives under ``.perfbench/`` in the
root and is removed at exit, except the span file of the latest traced run
of each workload (``.perfbench/traces/<workload>.json``).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer ones. A summary line with the workload's own figures (drain
rate, peak memory, error rate, latency sample count) precedes it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time


def _process_start_s() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T_PROCESS = _process_start_s()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def warmup(spark) -> None:
    """Pay JVM code generation and Python worker start-up once: a shuffled
    aggregate, then an Arrow ``mapInPandas`` on every core."""
    n = spark.sparkContext.defaultParallelism

    def _identity(batches):
        yield from batches

    (spark.range(0, 200_000, 1, n).selectExpr("id % 97 AS k", "id")
     .groupBy("k").count().write.mode("overwrite").format("noop").save())
    (spark.range(0, 8 * n, 1, n).mapInPandas(_identity, "id long")
     .write.mode("overwrite").format("noop").save())


def setup(tracer, layer: dict):
    """Build and warm the session, timed from process start: interpreter,
    imports, JVM launch and warm-up. Returns the session and the seconds."""
    from flink_realtime_data_eng_spark.session import get_spark
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    with tracer.span("session.warmup"):
        warmup(spark)
    t2 = time.time()
    layer["session.start_s"] = t1 - T_PROCESS
    layer["session.warmup_s"] = t2 - t1
    return spark, t2 - T_PROCESS


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    from spans import process_tree
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    started = process_tree(proc.pid)
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while left := [p for p in started if _alive(p)]:
        if time.time() > deadline:  # 30 s of grace, then kill
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if time.time() > deadline + 5:
                break
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    """Whether ``pid`` runs (an exited, unreaped process does not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test sizes (not the benchmark)")
    ap.add_argument("--tamper", action="store_true",
                    help="drop one output row before checking (self-test)")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "flink_realtime_data_eng_spark")):
        print("perfbench: the program (flink_realtime_data_eng_spark/) is not "
              f"next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path[:0] = [HERE, ROOT]
    import workloads
    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    import tempfile
    tempfile.tempdir = tmp
    # a terminated run still stops Spark and its generator and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = execute(a.workload, a.seed, a.seconds, bool(a.trace), work,
                      tiny=a.tiny, tamper=a.tamper)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(out["summary"])
    print(json.dumps(out["result"]))
    return 0


def execute(workload: str, seed: int, seconds: float, trace: bool, work: str,
            tiny: bool = False, tamper: bool = False) -> dict:
    import workloads
    from spans import RssSampler, Tracer, make_progress_listener, percentile
    tracer = Tracer(trace)
    rss = RssSampler(os.getpid()).start()
    layer: dict = {}
    spark, setup_s = setup(tracer, layer)
    listener = None
    if trace:
        listener = make_progress_listener(tracer)
        spark.streams.addListener(listener)
    ctx = workloads.Ctx(spark=spark, work=work, seed=seed, seconds=seconds,
                        tracer=tracer,
                        sizes=(workloads.TINY if tiny else workloads.SIZES)[workload],
                        tamper=tamper, rss=rss, listener=listener, layer=layer)
    t0 = time.time()
    try:
        res = workloads.WORKLOADS[workload](ctx)
        wall = time.time() - t0
    finally:
        stop_spark(ctx.spark)
        peak_mb = rss.stop()
    print(f"perfbench: workload {wall:.2f} s, total {time.time() - T_PROCESS:.2f} s",
          file=sys.stderr)

    p50 = percentile(res.latency_samples_ms, 50)
    p99 = percentile(res.latency_samples_ms, 99)
    e2e = {"setup_s": setup_s, "throughput_per_s": res.throughput_per_s,
           "latency_p50_ms": p50, "latency_p99_ms": p99}
    layer["process.peak_rss_mb"] = peak_mb
    error_rate = res.failed / res.expected if res.expected else 1.0
    figures = {"workload": workload, "seed": seed, **e2e,
               "peak_rss_mb": peak_mb, "error_rate": error_rate, **res.extra}
    summary = "perfbench " + " ".join(
        f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}"
        for k, v in figures.items())

    if trace:
        per_layer = _metric_units("per_layer")
        for name, ms in tracer.self_times_ms().items():
            key = f"self.{name.split('.')[0]}_ms"
            if key in per_layer:
                layer[key] = layer.get(key, 0.0) + ms
        layer["jobs.build_ms"] = sum(
            (s["end"] - s["start"]) * 1000.0 for s in tracer.spans
            if s["name"] == "jobs.build")
        layer["trace.overhead_frac"] = tracer.overhead_s / wall
        # one span file per workload, replaced by the next traced run
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                 f"{workload}.json"))
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in _metric_units("end_to_end").items()}
    return {"summary": summary,
            "result": {"correct": res.failed == 0, "attempted": res.expected,
                       "failed": res.failed, "metrics": metrics}}


if __name__ == "__main__":
    sys.exit(main())
