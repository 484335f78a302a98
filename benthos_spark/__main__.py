"""Config-driven CLI — the reference's ``benthos -c config.yaml`` surface
(cmd/benthos/main.go behavior: run a YAML pipeline; ``--lint`` validates
and exits, the reference's ``benthos lint``).

    python -m benthos_spark -c pipeline.yaml            # run
    python -m benthos_spark -c pipeline.yaml --lint     # validate only
    python -m benthos_spark -c p.yaml --master local[8] --show 20

Batch pipelines with a ``memory`` output print up to ``--show`` rows;
``parquet``/``sink`` outputs write and exit. Streaming pipelines drain
under availableNow semantics through their configured sink.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="python -m benthos_spark")
    ap.add_argument("-c", "--config", required=True, help="pipeline YAML")
    ap.add_argument("--lint", action="store_true", help="validate and exit")
    ap.add_argument("--master", default=None,
                    help="Spark master (default: sized from the host)")
    ap.add_argument("--show", type=int, default=20,
                    help="rows to print for memory outputs")
    args = ap.parse_args(argv)

    with open(args.config) as fh:
        spec_text = fh.read()

    from .engine.spec import lint_spec

    errs = lint_spec(spec_text)
    if errs:
        for e in errs:
            print(f"lint: {e}", file=sys.stderr)
        return 1
    if args.lint:
        print("config ok")
        return 0

    from .engine.spec import run_spec
    from .session import get_spark

    spark = get_spark("benthos-spark", master=args.master)
    try:
        out = run_spec(spark, spec_text)
        if out is not None:
            out.show(args.show, truncate=False)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
