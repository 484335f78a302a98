#!/usr/bin/env python3
"""Round-6 optimization harness (bench.py is FROZEN; this file holds the
extra measurements the optimization round needs — per-query isolated
timings with the same force() methodology, optional repeats, and
.explain("formatted") capture into plans/r06/).

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 [--queries a,b,c]
      [--repeat N] [--explain-dir plans/r06 --suffix _before]
      [--flagship-rows N] [--json out.json]

Timing methodology matches bench.py exactly: force() = count + xor of
xxhash64 over every output column, so nothing is pruned; each query is
re-built per repetition (no cached results; the harness-level input cache
of __spark_entry__._t is shared, as in the frozen bench).
"""

from __future__ import annotations

import json
import os
import sys
import time


def force(df) -> int:
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in df.columns]
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")
    ).collect()[0]
    return row["n"]


def main() -> None:
    args = sys.argv[1:]

    def opt(name, default=None):
        return args[args.index(name) + 1] if name in args else default

    sf_dir = opt("--sf", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    repeat = int(opt("--repeat", "1"))
    explain_dir = opt("--explain-dir")
    suffix = opt("--suffix", "")
    out_json = opt("--json")

    from benthos_spark.session import get_spark

    spark = get_spark(app_name="benthos_spark_bench_extra")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    names = opt("--queries")
    if names:
        names = names.split(",")
    else:
        import bench as bench_mod

        names = list(bench_mod.HEADLINE)

    timings: dict[str, list] = {}
    rows: dict[str, int] = {}

    if "--flagship-rows" in args:
        n_rows = int(opt("--flagship-rows"))
        import bench as bench_mod

        force(bench_mod.flagship_pages_pipeline(spark, 10_000))  # warm
        samples = []
        for _ in range(repeat):
            t0 = time.perf_counter()
            n = force(bench_mod.flagship_pages_pipeline(spark, n_rows))
            samples.append(round(time.perf_counter() - t0, 3))
        timings["flagship_pages_pipeline"] = samples
        rows["flagship_pages_pipeline"] = n
        print(json.dumps({"q": "flagship_pages_pipeline", "sec": samples, "rows": n}),
              flush=True)

    for name in names:
        if name not in queries:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"r6:{name}")
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            try:
                plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            except Exception:  # streaming plans can't always explain pre-start
                import io
                from contextlib import redirect_stdout

                buf = io.StringIO()
                try:
                    with redirect_stdout(buf):
                        fn(spark, sf_dir).explain("formatted")
                    plan = buf.getvalue()
                except Exception as e:  # noqa: BLE001
                    plan = f"(explain unavailable: {e})"
            with open(os.path.join(explain_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(plan)
        samples = []
        for _ in range(repeat):
            t0 = time.perf_counter()
            n = force(fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
        timings[name] = samples
        rows[name] = n
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({"q": name, "sec": samples, "rows": n}), flush=True)

    result = {
        "sf": sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "timings": timings,
        "rows": rows,
    }
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(result, fh, indent=1)
    print(json.dumps({"summary": {k: min(v) for k, v in timings.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
