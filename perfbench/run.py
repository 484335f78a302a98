"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload json_frame_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (cached
under ``perfbench/.work``), the program runs on this host with
``SPARK_GRAFT_CPUS`` = the CPUs this process may use and on-disk
``SPARK_LOCAL_DIRS`` (memory settings stay the program's defaults), and
every output is checked against a reference computed outside the engine.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (``{name: {value, unit}}``). ``--trace 0`` gives
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` gives the
per-layer metrics and writes spans, self times and the layer table to
``perfbench/.work/trace-<workload>-s<seed>.json``. The line before it is
a diagnostic JSON record (sample counts, host, failure share).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# layer -> (metrics, end-to-end metrics it should move, workloads it is mostly on / ~none on)
LAYERS = [
    ("session", ["session.get_spark_s"], "setup_s, peak_rss_mb", "all equally"),
    ("engine.spec", ["engine.spec.lint_s", "engine.spec.compile_s", "engine.spec.frame_mode",
                     "engine.spec.output_bytes"],
     "setup_s; docs_per_s via frame_mode", "json_frame_etl / neardup_stream"),
    ("engine.spark_exec", [f"engine.spark_exec.{m}" for m in (
        "action_s", "executor_run_s", "executor_cpu_s", "jvm_gc_s", "scan_bytes",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_skew", "stages", "tasks")],
     "docs_per_s, cpu_s_per_mdoc", "neardup_stream (agg, join, state) / json_frame_etl"),
    ("engine.spark_exec frame kernel", [f"engine.spark_exec.{m}" for m in (
        "frame_kernel_s", "frame_kernel_rows", "python_bytes_sent", "python_bytes_received",
        "python_boot_s")],
     "docs_per_s, cpu_s_per_mdoc", "json_frame_etl / neardup_stream"),
    ("streaming.source", [f"streaming.source.{m}" for m in (
        "latest_offset_ms_p50", "get_batch_ms_p50", "lag_files_max", "rows_per_batch_p50",
        "split_kernel_s")],
     "latency_p50_s; docs_per_s on json", "neardup_stream, json_frame_etl / -"),
    ("streaming.state", [f"streaming.state.{m}" for m in (
        "operators", "stores", "commit_ms_p50", "update_ms_p50", "rows_total", "rows_updated",
        "mem_bytes_max", "rows_dropped_by_watermark")],
     "latency_p50_s, docs_per_s, peak_rss_mb", "neardup_stream / json_frame_etl"),
    ("streaming.neardup kernel", ["streaming.neardup.kernel_s", "streaming.neardup.kernel_rows",
                                  "streaming.neardup.band_rows_out"],
     "docs_per_s, latency_p90_s", "neardup_stream / json_frame_etl"),
    ("streaming.sink", [f"streaming.sink.run_to_sink.{m}" for m in (
        "batches", "trigger_ms_p50", "query_planning_ms_p50", "wal_commit_ms_p50",
        "commit_offsets_ms_p50", "add_batch_ms_p50")] + [f"streaming.sink.{m}" for m in (
            "write_batch_ms_p50", "write_data_ms_p50", "rows_written", "bytes_written",
            "partition_skew")],
     "latency_p50_s, docs_per_s", "neardup_stream / json_frame_etl"),
    ("benchmark", ["bench.generator_late_ms_max", "bench.tracing_overhead_frac",
                   "bench.local1.docs_per_s", "bench.local1.records",
                   "bench.localN.docs_per_s", "bench.localN.records"],
     "validity of the latency metrics; 1->N scaling", "neardup_stream"),
]


def pin_host() -> int:
    """Pin the program to this host the way the Tier-1 command does and
    make the checkout importable by this process and Spark's Python workers."""
    n = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # temporary files of Python, the JVM and its native libraries stay in the checkout
    # (-UsePerfData: the JVM would keep its perf counters under /tmp)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return n


def host_record(spark, cpus: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "cpus": cpus, "mem_total_mb": mem_kb // 1024, "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
    }


def stop_engine(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(res: dict, get_spark_s: float, peak_mb: float) -> dict:
    lat = res["latency"]
    return {
        "setup_s": (get_spark_s + res["setup_compile_s"], "s"),
        "docs_per_s": (res["docs_per_s"], "docs/s"),
        "latency_p50_s": (lat["p50"], "s"),
        "latency_p90_s": (lat["p90"], "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "cpu_s_per_mdoc": (res["cpu_s"] / max(1, res["docs"]) * 1e6, "s/Mdoc"),
    }


def lag_files_max(res: dict) -> int:
    """Most open-loop files already due but not yet read, seen at any
    micro-batch commit."""
    due, fb = res["released"], res["file_batch"]
    return max([sum(1 for n, d in due.items() if d <= t and fb.get(n, 1 << 60) > b)
                for b, t in res["commits"].items()] or [0])


# SQL metric of a Python plan node (MapInPandas, MapInArrow, ...) with its run time in ms
PY_RUN = "time to run Python workers"


def per_layer(name, res_u, res_t, res_1, tracer, get_spark_s, shuffle_partitions) -> tuple:
    import tracing as tr

    ev = tr.event_log_summary(os.path.join(WORK, "eventlog"), *res_t["t_measure"])
    py = ev.pop("python_nodes")
    kernel = py[-1] if py else {}  # the outermost Python node: the frame or near-dup kernel
    split = py[0] if name == "json_frame_etl" and len(py) > 1 else {}
    prog = tr.progress_summary(res_t.get("progress", []), shuffle_partitions)
    sink = res_t.get("sink_metrics", [])
    skews = [max(v.values()) / tr.median(list(v.values())) for v in
             (m["rows_per_partition"] for m in sink) if v and tr.median(list(v.values())) > 0]
    stream = name.endswith("_stream")

    def py_metric(d, *names):
        return sum(d.get(n, 0) for n in names)

    kernel_ms = py_metric(kernel, PY_RUN)
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "engine.spec.lint_s": (tr.median(tracer.durations("engine.spec.lint_spec")), "s"),
        "engine.spec.compile_s": (tr.median(tracer.durations("engine.spec.Stream")), "s"),
        "engine.spec.frame_mode": (res_t["frame_mode"], "flag"),
        "engine.spec.output_bytes": (res_t["output_bytes"], "bytes"),
        "engine.spark_exec.action_s": (
            prog["add_batch_ms_p50"] / 1e3 if stream else tr.median(tracer.durations("engine.spark_exec.action")), "s"),
        **{f"engine.spark_exec.{k}": (v, u) for k, v, u in (
            ("executor_run_s", ev["executor_run_s"], "s"), ("executor_cpu_s", ev["executor_cpu_s"], "s"),
            ("jvm_gc_s", ev["jvm_gc_s"], "s"), ("scan_bytes", ev["scan_bytes"], "bytes"),
            ("shuffle_write_bytes", ev["shuffle_write_bytes"], "bytes"),
            ("shuffle_read_bytes", ev["shuffle_read_bytes"], "bytes"),
            ("spill_bytes", ev["spill_bytes"], "bytes"), ("task_skew", ev["task_skew"], "ratio"),
            ("stages", ev["stages"], "count"), ("tasks", ev["tasks"], "count"))},
        "engine.spark_exec.frame_kernel_s": (kernel_ms / 1e3 if name == "json_frame_etl" else 0.0, "s"),
        "engine.spark_exec.frame_kernel_rows": (
            py_metric(kernel, "number of output rows") if name == "json_frame_etl" else 0, "count"),
        "engine.spark_exec.python_bytes_sent": (sum(py_metric(d, "data sent to Python workers") for d in py), "bytes"),
        "engine.spark_exec.python_bytes_received": (
            sum(py_metric(d, "data returned from Python workers") for d in py), "bytes"),
        "engine.spark_exec.python_boot_s": (
            sum(py_metric(d, "time to initialize Python workers") for d in py) / 1e3, "s"),
        "streaming.source.latest_offset_ms_p50": (prog["latest_offset_ms_p50"], "ms"),
        "streaming.source.get_batch_ms_p50": (prog["get_batch_ms_p50"], "ms"),
        "streaming.source.lag_files_max": (lag_files_max(res_t) if stream else 0, "count"),
        "streaming.source.rows_per_batch_p50": (prog["rows_per_batch_p50"], "count"),
        "streaming.source.split_kernel_s": (
            py_metric(split, PY_RUN) / 1e3, "s"),
        "streaming.state.operators": (prog["state_operators"], "count"),
        "streaming.state.stores": (prog["state_stores"], "count"),
        "streaming.state.commit_ms_p50": (prog["state_commit_ms_p50"], "ms"),
        "streaming.state.update_ms_p50": (prog["state_update_ms_p50"], "ms"),
        "streaming.state.rows_total": (prog["state_rows_total"], "count"),
        "streaming.state.rows_updated": (prog["state_rows_updated"], "count"),
        "streaming.state.mem_bytes_max": (prog["state_mem_bytes_max"], "bytes"),
        "streaming.state.rows_dropped_by_watermark": (prog["state_rows_dropped_by_watermark"], "count"),
        "streaming.neardup.kernel_s": (kernel_ms / 1e3 if name == "neardup_stream" else 0.0, "s"),
        "streaming.neardup.kernel_rows": (
            res_t["docs_admitted"] if name == "neardup_stream" else 0, "count"),
        "streaming.neardup.band_rows_out": (
            py_metric(kernel, "number of output rows") if name == "neardup_stream" else 0, "count"),
        "streaming.sink.run_to_sink.batches": (prog["batches"] if stream else 0, "count"),
        "streaming.sink.run_to_sink.trigger_ms_p50": (prog["trigger_ms_p50"], "ms"),
        "streaming.sink.run_to_sink.query_planning_ms_p50": (prog["query_planning_ms_p50"], "ms"),
        "streaming.sink.run_to_sink.wal_commit_ms_p50": (prog["wal_commit_ms_p50"], "ms"),
        "streaming.sink.run_to_sink.commit_offsets_ms_p50": (prog["commit_offsets_ms_p50"], "ms"),
        "streaming.sink.run_to_sink.add_batch_ms_p50": (prog["add_batch_ms_p50"], "ms"),
        "streaming.sink.write_batch_ms_p50": (
            1e3 * tr.median(tracer.durations("streaming.sink.write_batch")), "ms"),
        "streaming.sink.write_data_ms_p50": (
            1e3 * tr.median(tracer.durations("streaming.sink._write_data")), "ms"),
        "streaming.sink.rows_written": (sum(x["rows"] for x in sink), "count"),
        "streaming.sink.bytes_written": (res_t["output_bytes"] if stream else 0, "bytes"),
        "streaming.sink.partition_skew": (tr.median(skews), "ratio"),
        "bench.generator_late_ms_max": (res_t.get("generator_late_ms_max", 0.0), "ms"),
        "bench.tracing_overhead_frac": (1.0 - res_t["docs_per_s"] / res_u["docs_per_s"], "frac"),
        "bench.local1.docs_per_s": (res_1["docs_per_s"], "docs/s"),
        "bench.local1.records": (res_1["records"], "count"),
        "bench.localN.docs_per_s": (res_u["docs_per_s"], "docs/s"),
        "bench.localN.records": (res_u["records"], "count"),
    }
    detail = {"event_log": ev, "python_nodes": py, "progress": prog, "lag_basis": "open-loop files"}
    return m, detail


def run_workload(w, seconds, tracer, spark, setup_repeats=None, **kw) -> dict:
    """Measure the prepared workload ``w`` once, in a fresh run directory."""
    import workloads as wl

    w.r = wl.Run(w.r.name, w.r.seed, seconds, WORK, tracer, setup_repeats or wl.SETUP_REPEATS)
    w.r.spark = spark
    return w.measure(seconds, **kw)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = pin_host()
    try:
        import benthos_spark
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2
    if not os.path.abspath(benthos_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: benthos_spark imported from outside {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import tracing as tr
    import workloads as wl
    from benthos_spark.session import get_spark

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    tracer = tr.Tracer(bool(args.trace))
    untraced = tr.Tracer(False)
    app = f"perfbench_{args.workload}"

    with tr.ProcSampler() as sampler:
        # generate inputs and references before the engine exists
        w = wl.WORKLOADS[args.workload](wl.Run(args.workload, args.seed, args.seconds, WORK, untraced))
        w.prepare()
        # the traced run's session also writes Spark's event log
        eventlog = wl._fresh(os.path.join(WORK, "eventlog"))
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + eventlog,
                "spark.eventLog.compress": "false"} if args.trace else None
        with tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            spark = get_spark(app, extra_conf=conf)
            get_spark_s = time.perf_counter() - t0
        host = host_record(spark, cpus)
        try:
            if not args.trace:
                res = run_workload(w, args.seconds, untraced, spark)
            else:
                # Every session of this process runs in one JVM, so only its
                # first run meets a cold JIT. That run, a short one, only
                # warms the JVM; the traced, untraced and local[1] runs
                # compared in the per-layer table all follow it. Set-up is
                # timed only in the traced run, so the others set up once.
                # Short runs: streams drain a quarter of the backlog with no
                # open loop; batch makes two passes after two warm ones.
                stream = args.workload.endswith("_stream")
                short = {"open_loop": False, "backlog_share": 0.25} if stream else {"min_passes": 2, "warm_passes": 2}
                res_w = run_workload(w, 0, untraced, spark, setup_repeats=1, **short)
                res = run_workload(w, args.seconds, tracer, spark)
                shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
                spark.stop()
                spark = get_spark(app)
                res_u = run_workload(w, args.seconds, untraced, spark, setup_repeats=1)
                spark.stop()
                spark = get_spark(app, master="local[1]")
                res_1 = run_workload(w, 0, untraced, spark, setup_repeats=1, **short)
        finally:
            stop_engine(spark)

    if args.trace:
        metrics, detail = per_layer(args.workload, res_u, res, res_1, tracer, get_spark_s, shuffle_partitions)
        out = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        with open(out, "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "host": host,
                "layers": [{"layer": layer, "metrics": {n: metrics[n][0] for n in names},
                            "moves": moves, "mostly_on_vs_none_on": where}
                           for layer, names, moves, where in LAYERS],
                "self_times_s": tracer.self_times(), "spans": tracer.spans, **detail,
            }, f, indent=1, default=str)
        failed = sum(r["failed"] for r in (res_w, res_u, res, res_1))
        attempted = sum(r["attempted"] for r in (res_w, res_u, res, res_1))
    else:
        metrics = end_to_end(res, get_spark_s, sampler.peak_mb)
        failed, attempted = res["failed"], res["attempted"]
        out = None
    lat = res["latency"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host, "failed_frac": failed / max(1, attempted),
        "latency_samples": lat["n"], "latency_top_pct": lat["top_pct"], "latency_top_s": lat["top"],
        "trace_file": out, "docs": res["docs"], "samples_s": [round(x, 4) for x in res["samples"]],
        "checked_outputs": getattr(w, "checked", None),
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
