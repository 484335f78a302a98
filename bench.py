#!/usr/bin/env python3
"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": docs_per_sec, "unit": ..., "queries": {...}, "sf": ...}

The headline metric is sustained docs/sec through the flagship windowed
dedupe+aggregate pages pipeline (BASELINE.md row 1): deterministic synthetic
pages (seeded, FIXTURES.md F1) -> host mapping -> exact dedupe on url ->
salted tumbling-window aggregate, forced to full execution with the noop
sink. Scaling evidence across parallelism levels is produced by
scripts/scaling_bench.py (writes BENCH.md).

Usage: python bench.py [--flagship-only] [--rows N]
"""

from __future__ import annotations

import json
import os
import sys
import time


def _pages_rows_for_sf(sf_dir: str) -> int:
    # sf0.1 ~= 600k lineitem rows; flagship pages sized to 2M rows at sf0.1
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(name.replace("sf", ""))
    except ValueError:
        sf = 0.1
    return max(100_000, int(sf * 20_000_000))


def force(df) -> int:
    """Force FULL execution including every output column; returns the row
    count. A bare count() lets Catalyst prune unused columns — and even
    eliminate whole Window operators, since they never change the row
    count — which overstates ops whose outputs don't affect cardinality
    (round-3 methodology fix; per-query numbers before/after are not
    directly comparable and BENCH.md says so)."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in df.columns]
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")
    ).collect()[0]
    return row["n"]


def flagship_pages_pipeline(spark, n_rows: int):
    """mapping -> exact dedupe -> tumbling window agg per host (see
    benthos_spark.pipelines for the plan discipline notes)."""
    from benthos_spark.fixtures import pages
    from benthos_spark.pipelines import pages_windowed_dedupe_agg

    df = pages(spark, n_rows, n_hosts=1000, rows_per_sec=100)
    return pages_windowed_dedupe_agg(df, window_size="10 minutes", hash_key=True)


# r5 note: registry consolidation merged several former entries —
# window_tumbling+window_sliding -> window_tumbling_sliding,
# dedup_simhash+simhash_pairs -> simhash_family,
# token_count/quality_score/fingerprint (+3 more) -> textstats_wide,
# ann_topk+ann_lsh(+ivf, r5) -> ann_methods. Bench timings for merged queries cover
# the union of their members' work (compare r4 names accordingly).
HEADLINE = [
    "window_tumbling_sliding",
    "window_session",
    "dedupe_first_seen",
    "group_by_value",
    "switch_route",
    "tpch_q1_agg",
    "enrich_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "simhash_family",
    "textstats_wide",
    "ann_methods",
    "neardup_lsh",
    "avro_roundtrip",
    "awk_text_stats",
    "grok_apache",
    "asof_join",
    "range_join",
    "rollup_hourly",
    "group_quantiles",
    "funnel",
    "duplicate_spans",
    "salted_skew_agg",
    "streaming_dedupe_window",
    "streaming_neardup",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    flagship_only = "--flagship-only" in sys.argv
    n_rows = _pages_rows_for_sf(sf_dir)
    if "--rows" in sys.argv:
        n_rows = int(sys.argv[sys.argv.index("--rows") + 1])
    repeat = 1
    if "--repeat" in sys.argv:
        repeat = int(sys.argv[sys.argv.index("--repeat") + 1])

    from benthos_spark.session import get_spark

    spark = get_spark(app_name="benthos_spark_bench")

    timings: dict[str, float] = {}

    # warm the JVM/codegen once with a tiny run (not timed)
    force(flagship_pages_pipeline(spark, 10_000))

    flagship_sec = float("inf")  # best-of-N: the machine is shared/noisy
    for _ in range(repeat):
        t0 = time.perf_counter()
        force(flagship_pages_pipeline(spark, n_rows))
        flagship_sec = min(flagship_sec, time.perf_counter() - t0)
    timings["flagship_pages_pipeline"] = round(flagship_sec, 3)
    docs_per_sec = n_rows / flagship_sec

    # streaming-mode flagship: readStream over chunked parquet of the same
    # fixture -> watermark dedupe -> tumbling window agg -> idempotent sink
    if "--streaming" in sys.argv or not flagship_only:
        import shutil
        import tempfile

        from benthos_spark.pipelines import pages_windowed_dedupe_agg
        from benthos_spark.streaming.sink import IdempotentSink, run_to_sink
        from benthos_spark.streaming.source import pages_file_stream, write_pages_input

        stream_rows = min(n_rows, 1_000_000)

        def _stream_run(rows: int, chunks: int) -> float:
            workdir = tempfile.mkdtemp(prefix="bench_stream_")
            try:
                write_pages_input(
                    spark, f"{workdir}/in", rows, n_chunks=chunks,
                    n_hosts=1000, rows_per_sec=100,
                )
                sink = IdempotentSink(f"{workdir}/sink")
                t0 = time.perf_counter()
                run_to_sink(
                    pages_windowed_dedupe_agg(
                        pages_file_stream(spark, f"{workdir}/in"),
                        window_size="10 minutes",
                        watermark="1 hour",
                    ),
                    sink,
                    f"{workdir}/ckpt",
                )
                return time.perf_counter() - t0
            finally:
                shutil.rmtree(workdir, ignore_errors=True)

        # warm the streaming machinery (state-store provider load, sink and
        # checkpoint codepaths) with a small untimed run: the first
        # streaming query in a JVM is reproducibly ~2x slower, which made
        # two rounds of driver numbers look like regressions
        # (scripts/regression_ab.py fresh-JVM A/B, round 5)
        _stream_run(50_000, 2)
        stream_sec = _stream_run(stream_rows, 8)
        timings["flagship_streaming"] = round(stream_sec, 3)
        timings["flagship_streaming_docs_per_sec"] = round(stream_rows / stream_sec, 1)

    if not flagship_only:
        import __spark_entry__ as entry_mod

        queries = entry_mod.queries()
        for name in HEADLINE:
            fn = queries[name]
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 3)
        # second pass, cheapest-first within a fixed budget: the shared host
        # shows 3x minute-scale noise, and min-of-2 mostly removes it for the
        # queries where a stall dominates the reading
        budget = 240.0
        for name in sorted(HEADLINE, key=lambda n: timings[n]):
            if budget <= 0:
                break
            t0 = time.perf_counter()
            force(queries[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            budget -= dt
            timings[name] = min(timings[name], round(dt, 3))

    result = {
        "metric": "flagship_docs_per_sec",
        "value": round(docs_per_sec, 1),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "flagship_rows": n_rows,
        "cpus": spark.sparkContext.defaultParallelism,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
