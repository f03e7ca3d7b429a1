"""Measurement helpers: percentiles, the /proc memory sampler, spans, and
the Spark event-log reader.  No Spark import, so the tests run without a
session."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

import numpy as np

#: a percentile is reported only with at least this many samples beyond it
MIN_TAIL_SAMPLES = 10


def percentile(samples, q: float) -> float:
    """The ``q``-th percentile (0 < q < 100, linear interpolation).  Refuses
    a tail percentile that has fewer than ``MIN_TAIL_SAMPLES`` samples
    beyond it: such a number is set by one or two outliers."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    if q > 50 and n * (100 - q) / 100 < MIN_TAIL_SAMPLES:
        raise ValueError(
            f"p{q:g} of {n} samples has fewer than {MIN_TAIL_SAMPLES} beyond it"
        )
    return float(np.percentile(np.asarray(samples, dtype=float), q))


def median(samples) -> float:
    return percentile(samples, 50)


# ---------------------------------------------------------------------------
# resident memory of a process tree, from /proc (psutil is not available)
# ---------------------------------------------------------------------------


def _rss_bytes(pid: int) -> tuple[int, bool]:
    """(resident bytes, is a Python process) of one process; (0, False)
    once it has exited."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            rss = int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/comm") as fh:
            return rss, fh.read().startswith("python")
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return 0, False


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Samples the summed RSS of a process tree (the driver JVM and the
    Python workers it forks) from one helper thread.  ``peak`` is the
    highest sum seen since the last :meth:`reset`, ``peak_python`` the
    highest sum over the tree's Python processes alone."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = self.peak_python = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            sizes = [_rss_bytes(p) for p in descendants(self.root_pid)]
            total = sum(rss for rss, _ in sizes)
            python = sum(rss for rss, is_py in sizes if is_py)
            with self._lock:
                self.peak = max(self.peak, total)
                self.peak_python = max(self.peak_python, python)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = self.peak_python = 0

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("rss sampler did not stop")
        return self.peak


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Spans:
    """In-memory span log: (name, start, end, parent, run id).  Written out
    once, at exit, by :meth:`dump`."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.records)
        self.records.append(
            {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "run": self.run_id,
            }
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.records[idx]["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(path: str) -> list[dict]:
    """Events of one Spark application log: a single file, or a rolling
    ``eventlog_v2_*`` directory whose ``events_<n>_*`` files are read in
    order.  zstd-compressed files (Spark's ``.zstd`` suffix) are read
    through pyarrow."""
    import pyarrow as pa

    if os.path.isdir(path):
        parts = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        return [ev for f in parts for ev in read_event_log(os.path.join(path, f))]
    with pa.OSFile(path, "rb") as raw:
        stream = pa.CompressedInputStream(raw, "zstd") if path.endswith(".zstd") else raw
        data = stream.read()
    return [json.loads(line) for line in data.splitlines() if line.strip()]


def group_metrics(events: list[dict]) -> dict[str, dict[str, float]]:
    """Sum task metrics, SQL accumulators and executor-memory peaks per
    job group (``spark.jobGroup.id``).  Jobs outside any group are
    summed under ``""``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # driver-side SQL metrics (files read, ...) arrive per SQL execution;
    # their names are in the execution's plan tree
    exec_group: dict[int, str] = {}
    acc_name: dict[int, str] = {}

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", ()):
            acc_name[m["accumulatorId"]] = m["name"]
        for child in node.get("children", ()):
            plan_metrics(child)

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            plan_metrics(ev.get("sparkPlanInfo") or {})
            if kind.endswith("Start"):
                exec_group[int(ev["executionId"])] = ev.get("jobGroupId") or ""
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            g = out[exec_group.get(int(ev["executionId"]), "")]
            for acc_id, value in ev.get("accumUpdates", ()):
                if acc_id in acc_name:
                    g["acc:" + acc_name[acc_id]] += value
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[group] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            g = out[group]
            g["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            g["executor_run_s"] += run_ms / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rd = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            inp = m.get("Input Metrics") or {}
            g["input_bytes"] += inp.get("Bytes Read", 0)
            g["input_records"] += inp.get("Records Read", 0)
            if info.get("Finish Time") and info.get("Launch Time"):
                wall = info["Finish Time"] - info["Launch Time"]
                busy = (
                    run_ms
                    + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + info.get("Getting Result Time", 0)
                )
                g["scheduler_delay_s"] += max(0, wall - busy) / 1e3
            for acc in info.get("Accumulables", ()):
                # SQL metrics log their update as a decimal string
                name, value = acc.get("Name"), acc.get("Update")
                if isinstance(value, str) and value.isdigit():
                    value = int(value)
                if name and isinstance(value, (int, float)) and not isinstance(value, bool):
                    g["acc:" + name] += value
            heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
            g["jvm_heap_peak_bytes"] = max(g["jvm_heap_peak_bytes"], heap)
        elif kind == "SparkListenerStageExecutorMetrics":
            g = out[stage_group.get(ev.get("Stage ID"), "")]
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
            g["jvm_heap_peak_bytes"] = max(g["jvm_heap_peak_bytes"], heap)
    for group, n in jobs.items():
        out[group]["jobs"] = n
    return {k: dict(v) for k, v in out.items()}


def find_event_log(directory: str) -> str:
    """The single application log in ``directory`` (file or rolling dir)."""
    logs = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(logs) != 1 or logs[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {directory}, got {logs}")
    return os.path.join(directory, logs[0])
