"""Measurement plumbing: in-memory spans, process-tree CPU/memory sampling,
and the per-layer summaries read from Spark's event log and
``StreamingQueryProgress``.

Spans are recorded only from the benchmark's own files, around its calls
into the program's layers. A span is (id, name, start, end, parent,
attrs); a layer's self time is its span's duration minus the part of that
interval its children cover.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def percentile_report(xs):
    """Median, p90, and the highest whole percentile with at least ten
    samples beyond it (``top_pct``; None below 11 samples), with the
    sample count."""
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return {"p50": 0.0, "p90": 0.0, "n": 0, "top_pct": None, "top": None}

    def pct(p):
        return xs[min(n - 1, int(p / 100.0 * n))]

    top = int(100 * (n - 10) / n) if n > 10 else None
    return {"p50": statistics.median(xs), "p90": pct(90), "n": n, "top_pct": top,
            "top": pct(top) if top is not None else None}


# ---------------------------------------------------------------- spans
class Tracer:
    """Collects spans in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self) -> dict:
        """Summed self time per span name, in seconds."""
        kids: dict = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict = {}
        for s in self.spans:
            if not s["end"]:
                continue
            covered, cur = 0.0, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur is None or a > cur[1]:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur:
                covered += cur[1] - cur[0]
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


# ---------------------------------------------------------------- processes
def _children_map() -> dict:
    kids: dict = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(st.split("/")[2]))
    return kids


def engine_pids() -> list[int]:
    """The Spark driver JVM started by this process and every process below it
    (the PySpark daemon and its Python workers)."""
    kids = _children_map()
    jvms = []
    for pid in kids.get(os.getpid(), []):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    jvms.append(pid)
        except OSError:
            pass
    out, todo = [], list(jvms)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_seconds(pids) -> float:
    """utime + stime of the processes plus what their reaped children used."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def memory_mb(pids) -> float:
    """Resident set of the Spark driver JVM plus the summed proportional
    set size of the Python processes among ``pids``: pages shared between
    forked Python workers are counted once in total. The JVM's RSS comes
    from ``status`` because ``smaps_rollup`` walks every page of its heap
    (~80 ms of kernel time for 8 GB), which would load the host it
    measures. Helpers the JVM forks are skipped: a fork read half-way
    would count the JVM's heap one and a half times."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                comm, fields = f.read().split(" (", 1)[1].rsplit(")", 1)
            if comm == "java" and int(fields.split()[1]) == os.getpid():
                path, key = f"/proc/{pid}/status", "VmRSS:"
            elif comm.startswith("python"):
                path, key = f"/proc/{pid}/smaps_rollup", "Pss:"
            else:
                continue
            with open(path) as f:
                total += next(int(line.split()[1]) for line in f if line.startswith(key))
        except (OSError, StopIteration):
            continue
    return total / 1024


class ProcSampler:
    """Samples the engine's memory (``memory_mb``) on a thread; peak is reported."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, memory_mb(engine_pids()))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class CpuMeter:
    """CPU seconds the engine processes spend between start() and stop()."""

    def start(self):
        self._pids = engine_pids()
        self._c0 = cpu_seconds(self._pids)
        return self

    def stop(self) -> float:
        pids = sorted(set(self._pids) | set(engine_pids()))
        return max(0.0, cpu_seconds(pids) - self._c0)


# ---------------------------------------------------------------- event log
_PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
             "ArrowEvalPython", "BatchEvalPython", "MapInArrow")


def _walk(node, depth=0):
    yield node, depth
    for c in node.get("children", []):
        yield from _walk(c, depth + 1)


def event_log_summary(log_dir: str, t0: float, t1: float) -> dict:
    """Task metrics of tasks launched in [t0, t1] (epoch seconds), plus
    Python-node SQL metrics split by the node's depth in its plan (the
    deepest Python node of a plan is reported as ``python_nodes[0]``)."""
    tasks = []
    stage_tasks: dict = {}
    acc_updates: dict = {}
    py_acc: dict = {}  # accumulator id -> (rank, metric name)
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plan = e.get("sparkPlanInfo") or {}
                    nodes = [(n, d) for n, d in _walk(plan) if n.get("nodeName") in _PY_NODES]
                    nodes.sort(key=lambda nd: -nd[1])
                    for rank, (n, _d) in enumerate(nodes):
                        for m in n.get("metrics", []):
                            py_acc[m["accumulatorId"]] = (rank, m["name"])
                elif ev == "SparkListenerTaskEnd":
                    info = e["Task Info"]
                    if not (t0 * 1000 <= info["Launch Time"] <= t1 * 1000):
                        continue
                    m = e.get("Task Metrics") or {}
                    tasks.append(m)
                    stage_tasks.setdefault(e["Stage ID"], []).append(m.get("Executor Run Time", 0))
                    for a in info.get("Accumulables", []):
                        if isinstance(a.get("Update"), (int, float)) or str(a.get("Update", "")).lstrip("-").isdigit():
                            acc_updates[a["ID"]] = acc_updates.get(a["ID"], 0) + int(a["Update"])
    py: dict = {}
    for aid, (rank, name) in py_acc.items():
        if aid in acc_updates:
            d = py.setdefault(rank, {})
            d[name] = d.get(name, 0) + acc_updates[aid]

    def tsum(*path):
        tot = 0
        for m in tasks:
            v = m
            for p in path:
                v = (v or {}).get(p, 0)
            tot += v or 0
        return tot

    skew = 1.0
    for runs in stage_tasks.values():
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skew = max(skew, max(runs) / statistics.median(runs))
    return {
        "executor_run_s": tsum("Executor Run Time") / 1e3,
        "executor_cpu_s": tsum("Executor CPU Time") / 1e9,
        "jvm_gc_s": tsum("JVM GC Time") / 1e3,
        "scan_bytes": tsum("Input Metrics", "Bytes Read"),
        "shuffle_write_bytes": tsum("Shuffle Write Metrics", "Shuffle Bytes Written"),
        "shuffle_read_bytes": tsum("Shuffle Read Metrics", "Remote Bytes Read")
        + tsum("Shuffle Read Metrics", "Local Bytes Read"),
        "spill_bytes": tsum("Memory Bytes Spilled") + tsum("Disk Bytes Spilled"),
        "task_skew": skew,
        "stages": len(stage_tasks),
        "tasks": len(tasks),
        "python_nodes": [py[r] for r in sorted(py)],
    }


# ---------------------------------------------------------------- progress
def progress_summary(progress: list[dict], shuffle_partitions: int) -> dict:
    """Per-micro-batch source, state and trigger numbers from
    ``StreamingQueryProgress`` JSON (data batches only for the p50s)."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0] or progress

    def dur(k):
        return median([p.get("durationMs", {}).get(k) for p in data])

    ops = [op for p in progress for op in p.get("stateOperators", [])]
    last_ops = progress[-1].get("stateOperators", []) if progress else []
    stores = sum(
        op.get("numStateStoreInstances", 0) for op in last_ops
    ) / max(1, shuffle_partitions)
    return {
        "batches": len(progress),
        "latest_offset_ms_p50": dur("latestOffset"),
        "get_batch_ms_p50": dur("getBatch"),
        "trigger_ms_p50": dur("triggerExecution"),
        "query_planning_ms_p50": dur("queryPlanning"),
        "wal_commit_ms_p50": dur("walCommit"),
        "commit_offsets_ms_p50": dur("commitOffsets"),
        "add_batch_ms_p50": dur("addBatch"),
        "rows_per_batch_p50": median([p.get("numInputRows", 0) for p in data]),
        "state_operators": len(last_ops),
        "state_stores": stores,
        "state_commit_ms_p50": median(
            [sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", [])) for p in data]
        ),
        "state_update_ms_p50": median(
            [sum(op.get("allUpdatesTimeMs", 0) for op in p.get("stateOperators", [])) for p in data]
        ),
        "state_rows_total": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "state_rows_updated": sum(op.get("numRowsUpdated", 0) for op in ops),
        "state_mem_bytes_max": max(
            [sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", [])) for p in progress]
            or [0]
        ),
        "state_rows_dropped_by_watermark": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }
