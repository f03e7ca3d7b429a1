"""Seeded end-to-end benchmark of atlas_upscaling_dask_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload volume_export --seed 1 --seconds 6 --trace 0

Workloads: volume_export, atlas_lookup, corpus_prep (see BENCHMARK.json and
perfbench/README.md).  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run.  The last line of
standard output is one JSON object; the exit code is 1 when an output
check failed and 2 when the benchmark could not run.
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

ROOT = os.getcwd()
PACKAGE = "atlas_upscaling_dask_spark"

END_TO_END = ("setup_s", "op_p50_ms", "peak_rss_gb")


def pin_host(work: str) -> dict:
    """Environment every Spark process of the run inherits.  Set before
    the JVM starts; recorded in the output."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # the package defaults the driver heap to 32g; keep it well below RAM
    heap_mb = min(2048, mem_kb // 1024 // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return {**env, "mem_total_gb": round(mem_kb / 2**20, 1), "loadavg_start": os.getloadavg()}


def start_session(work: str, trace: bool):
    from atlas_upscaling_dask_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
                "spark.eventLog.logStageExecutorMetrics": "true",
                "spark.executor.processTreeMetrics.enabled": "true",
                "spark.executor.metrics.pollingInterval": "100ms",
            }
        )
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t


def stop_session() -> None:
    """Stop the SparkSession and its context; the JVM stays up."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait until the JVM and
    every Python worker it forked have exited."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    gw = SparkContext._gateway
    stop_session()
    if gw is None:
        return
    pids = [p for p in descendants(gw.proc.pid) if p != os.getpid()]
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def measure_loop(spark, wl, seconds: float):
    """Closed loop: operations back to back until ``seconds`` have passed
    and at least ``wl.min_ops`` operations are done.  Returns the per-op
    step timings and outputs."""
    steps, outputs = [], []
    t0 = time.perf_counter()
    i = 0
    while i < wl.min_ops or time.perf_counter() - t0 < seconds:
        s, out = wl.op(spark, i)
        steps.append(s)
        outputs.append(out)
        i += 1
    return steps, outputs


def op_medians(wl, steps) -> dict:
    """Median milliseconds of a whole operation (``"op"``) and of each of
    the workload's steps."""
    from perfbench.measure import median

    out = {"op": median([sum(s.values()) for s in steps]) * 1e3}
    for name in wl.steps:
        vals = [s[name] for s in steps if name in s]
        if not vals:
            raise RuntimeError(f"no {name} samples in the measured window")
        out[name] = median(vals) * 1e3
    return out


def run_once(args, work, trace_spans=None):
    """Session start, set-up, warm pass, measured loop.  Returns
    (workload, setup figures, steps, outputs, peak rss)."""
    from pyspark import SparkContext

    from perfbench.measure import RssSampler
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    t0 = time.perf_counter()
    spark, session_s = start_session(work, trace=trace_spans is not None)
    sampler = RssSampler(SparkContext._gateway.proc.pid).start()
    try:
        props = wl.setup(spark)
        # one untimed warm pass: the first pass pays JIT, worker start-up
        # and first-touch costs that a user's later calls do not
        t_warm = time.perf_counter()
        wl.warm(spark)
        setup_s = time.perf_counter() - t0
        props["warm_s"] = round(time.perf_counter() - t_warm, 3)
        props["session_s"] = round(session_s, 3)
        wl.spans, wl.measuring = trace_spans, True
        sampler.reset()
        steps, outputs = measure_loop(spark, wl, args.seconds)
        peak = {"total": sampler.peak, "python": sampler.peak_python}
    finally:
        sampler.stop()
    return wl, {"setup_s": setup_s, "session_s": session_s, "props": props}, steps, outputs, peak


def check_all(wl, outputs, oracle_cache: dict) -> list[list[str]]:
    """Problems found in each operation's output (outside any timing).
    An oracle depends only on the seeded inputs, so it is computed once."""
    if hasattr(wl, "oracle"):
        if "oracle" not in oracle_cache:
            oracle_cache["oracle"] = wl.oracle()
        return [wl.check(o, oracle_cache["oracle"]) for o in outputs]
    return [wl.check(o) for o in outputs]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: run from a checkout root holding {PACKAGE}/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.measure import Spans, find_event_log, group_metrics, read_event_log
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = pin_host(work)
    os.chdir(work)  # spark-warehouse / derby.log land in the work dir
    try:
        oracle_cache: dict = {}
        spans = Spans(f"{args.workload}-{args.seed}") if args.trace else None
        # the traced run traces the first session, which starts the JVM
        # cold like every untraced run does
        wl, setup, steps, outputs, peak = run_once(args, work, trace_spans=spans)
        problems = check_all(wl, outputs, oracle_cache)
        medians = op_medians(wl, steps)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "host": host,
            "inputs": setup["props"],
            "ops": len(steps),
            "op_ms": [round(sum(s.values()) * 1e3, 1) for s in steps],
            "step_p50_ms": {k: round(v, 1) for k, v in medians.items() if k != "op"},
            **wl.summary(outputs),
        }
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "op_p50_ms": (medians["op"], "ms"),
            "peak_rss_gb": (peak["total"] / 1e9, "GB"),
        }
        if set(metrics) != set(END_TO_END):
            raise RuntimeError(f"end-to-end metrics {sorted(metrics)} != {sorted(END_TO_END)}")
        if args.trace:
            stop_session()  # finishes the event log
            spans.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
            groups = group_metrics(read_event_log(find_event_log(os.path.join(work, "events"))))
            # the same operations untraced, in a second session of the same
            # (now warmer) JVM: traced minus untraced is the overhead, an
            # upper bound
            uwl, _, usteps, uouts, _ = run_once(args, work)
            problems += check_all(uwl, uouts, oracle_cache)
            metrics = layer_metrics(
                wl, spans, groups, outputs, setup, steps, peak, op_medians(uwl, usteps)
            )
        stop_jvm()
    except BaseException:
        stop_jvm()
        raise
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for p in problems if p)
    for p in (p for ps in problems for p in ps):
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    report["host"]["loadavg_end"] = os.getloadavg()
    print(json.dumps(report, default=str))
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(problems),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 1 if failed else 0


#: per-layer metrics and units; a layer a workload does not touch reports 0
LAYER_UNITS = {
    "session.start_s": "s",
    "volume.gen_s": "s",
    "volume.chunks": "count",
    "volume.zero_chunk_frac": "frac",
    "upscale.busy_s": "s",
    "upscale.python_s": "s",
    "upscale.to_python_bytes": "bytes",
    "upscale.from_python_bytes": "bytes",
    "pyramid.busy_s": "s",
    "zarr3.write_s": "s",
    "zarr3.objects_written": "count",
    "zarr3.bytes_written": "bytes",
    "zarr3.chunks_skipped": "count",
    "zarr3.scan_s": "s",
    "zarr3.update_s": "s",
    "zarr3.shards_rewritten": "count",
    "zarr3.update_bytes_written": "bytes",
    "writer.write_s": "s",
    "writer.bytes_on_disk": "bytes",
    "lookup.plan_ms": "ms",
    "lookup.exec_ms": "ms",
    "lookup.jobs": "count",
    "lookup.tasks": "count",
    "lookup.files_read": "count",
    "lookup.bytes_read": "bytes",
    "lookup.rows_scanned_per_hit": "count",
    "pipeline.busy_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.docs_kept_frac": "frac",
    "dedup.busy_s": "s",
    "dedup.pairs_found": "count",
    "dedup.recall": "frac",
    "dedup.precision": "frac",
    "similarity.busy_s": "s",
    "similarity.python_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.scheduler_delay_s": "s",
    "spark.tasks": "count",
    "spark.jvm_heap_peak_bytes": "bytes",
    "spark.python_rss_peak_bytes": "bytes",
    "trace.overhead_ms": "ms",
}


def layer_metrics(wl, spans, groups, outputs, setup, steps, peak, untraced) -> dict:
    """Per-layer figures of the traced session, per operation.  Spark
    engine figures sum the job groups of the measured operations."""
    values = dict.fromkeys(LAYER_UNITS, 0.0)
    values["session.start_s"] = setup["session_s"]
    values.update(wl.layers(spans, groups, outputs))
    op_groups = [
        g for name, g in groups.items() if name and name != "check" and not name.startswith("setup:")
    ]
    n = len(outputs)
    for field in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "scheduler_delay_s", "tasks"):
        values[f"spark.{field}"] = sum(g.get(field, 0) for g in op_groups) / n
    values["spark.jvm_heap_peak_bytes"] = max(
        (g.get("jvm_heap_peak_bytes", 0) for g in op_groups), default=0
    )
    # Spark's process-tree metrics miss the forked workers in local mode;
    # the /proc sampler sees them
    values["spark.python_rss_peak_bytes"] = peak["python"]
    values["trace.overhead_ms"] = op_medians(wl, steps)["op"] - untraced["op"]
    unknown = set(values) - set(LAYER_UNITS)
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
    return {k: (float(v), LAYER_UNITS[k]) for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
