#!/usr/bin/env python3
"""Scale probe for the round-3 operator family: run each op at two input
sizes (default 2M and 10M synthetic rows, generated in-plan — no files) and
report rows/sec at both plus the throughput ratio. A ratio near 1.0 means
cost grew linearly with input — the op's plan holds its shape as N grows,
which is the property that matters for the 100 TB projection. Results are
appended to BENCH.md.

Inputs are deterministic functions of ``spark.range`` ids, so both levels
measure identical logical work per row and reruns are reproducible.

Usage: python scripts/ops_scale_probe.py [--rows-small N] [--rows-big N]
       [--cpus N]
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_events(spark, n):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 100_000).alias("user_id"),
            # ~37 events/user-hour spread over ~n/1000 seconds of event time
            F.timestamp_seconds(F.lit(1704067200) + (F.col("id") * 7919) % (n // 100 + 3600)).alias("ts"),
            F.element_at(
                F.array(*[F.lit(x) for x in ("click", "view", "purchase", "signup", "error")]),
                (F.col("id") % 5 + 1).cast("int"),
            ).alias("event_type"),
            ((F.col("id") * 2654435761) % 100_000 / 100.0).alias("value"),
        )
    )


def probes(spark, n):
    """name -> (build() -> DataFrame) thunks; forcing is count() downstream."""
    from pyspark.sql import functions as F

    from benthos_spark.ops.asof import asof_join
    from benthos_spark.ops.boilerplate import boilerplate_stats
    from benthos_spark.ops.rangejoin import range_join
    from benthos_spark.ops.redact import pii_redact
    from benthos_spark.ops.rollup import rollup_cascade
    from benthos_spark.ops.sampling import stratified_sample
    from benthos_spark.ops.topk import top_k_per_group
    from benthos_spark.ops.urltools import url_canonicalize

    ev = build_events(spark, n)
    t_ev = ev.withColumn("t", F.unix_micros("ts"))

    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "zh")]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.lit("A real sentence with enough words ends here.\nBuy now!\nuser"),
            F.col("id").cast("string"),
            F.lit("@example.com from 10.0.0."),
            (F.col("id") % 250).cast("string"),
            F.lit(" visits http://WWW.Site"),
            (F.col("id") % 1000).cast("string"),
            F.lit(".com:80/p?b=1&utm_source=x every day."),
        ).alias("text"),
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://WWW.Site"), (F.col("doc_id") % 1000).cast("string"),
            F.lit(".co.uk:80/p"), (F.col("doc_id") % 97).cast("string"),
            F.lit("?b=2&utm_source=x&a=1#f"),
        ).alias("url"),
    )

    def asof():
        clicks = t_ev.where(F.col("event_type") == "click").select("event_id", "user_id", "t")
        purchases = t_ev.where(F.col("event_type") == "purchase").select("user_id", "t", "value")
        return asof_join(clicks, purchases, on="t", by="user_id", right_cols=("value",))

    def rjoin():
        points = t_ev.where(F.col("event_type") == "click").select("event_id", "t")
        iv = (
            t_ev.where(F.col("event_id") % 100 == 0)
            .select(
                F.col("event_id").alias("iv_id"),
                F.col("t").alias("t_start"),
                (F.col("t") + 5_000_000).alias("t_end"),
            )
        )
        return range_join(points, iv, point_col="t", start_col="t_start",
                          end_col="t_end", bucket_width=10_000_000)

    return {
        "asof_join": asof,
        "range_join": rjoin,
        "rollup_cascade": lambda: rollup_cascade(
            ev.withColumn("cents", F.floor(F.col("value") * 100).cast("long")),
            ts_col="ts", keys=("event_type",), value_col="cents",
        ),
        "top_k_per_group": lambda: top_k_per_group(
            docs.select("lang", (F.col("doc_id") % 1000).cast("string").alias("token")),
            ("lang",), "token", k=10,
        ),
        "stratified_sample": lambda: stratified_sample(
            docs.select("doc_id", "lang"), ("lang",), 1000, "doc_id", salt="probe"
        ),
        "pii_redact": lambda: pii_redact(docs),
        "boilerplate": lambda: boilerplate_stats(docs),
        "url_canonicalize": lambda: url_canonicalize(urls),
    }


def _dup_docs(spark, n):
    """Synthetic corpus where duplicate structure grows LINEARLY with n:
    every 3 consecutive doc ids share byte-identical 14-word text.

    xxhash64 mixing, NOT a linear-congruential word id: (g*C + i*D) mod P
    cycles every P groups, which silently makes ~n/P whole GROUPS share
    identical text — bucket sizes then grow with n and the pair joins go
    quadratic (measured: the 10M level exhausted 80 GB of shuffle disk)."""
    from pyspark.sql import functions as F

    group = F.floor(F.col("id") / 3)
    words = [
        F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(group, F.lit(i)), F.lit(1_000_000)).cast("string"),
        )
        for i in range(12)
    ]
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("the"), *words, F.lit("end")).alias("text"),
    )


def quality_probes(spark, n):
    """The round-5 corpus-quality family: bigram_lm_score (train + score
    passes, model table ~n distinct bigrams at this vocab) and
    dsir_weights (fixed 4096-bucket model, broadcast score join). Same
    linear-duplicate corpus as the dedup family."""
    from pyspark.sql import functions as F

    from benthos_spark.ops.dsir import dsir_weights
    from benthos_spark.ops.lmscore import bigram_lm_score

    from benthos_spark.ops.gopher import gopher_flags, gopher_repetition
    from benthos_spark.ops.mixer import mix_sources
    from benthos_spark.ops.packer import pack_assignments, pack_sequences
    from benthos_spark.ops.unitdedup import unit_dedup

    docs = _dup_docs(spark, n)
    return {
        "bigram_lm_score": lambda: bigram_lm_score(docs),
        # target = every 1000th doc: target feature table ~n/1000
        "dsir_weights": lambda: dsir_weights(
            docs, docs.filter(F.col("doc_id") % 1000 == 0)
        ),
        # one projection — the linearity floor for the family
        "gopher_flags": lambda: gopher_flags(docs),
        # shuffle-free in-row sort-fold (v2; v1 explode+groupBy hit 0.67)
        "gopher_repetition": lambda: gopher_repetition(docs),
        # explode -> packed-min winner -> join-back -> reassembly; the
        # '. ' injection splits each doc into two sentences so both the
        # drop path (linear dup structure) and reassembly are exercised
        "unit_dedup_sentence": lambda: unit_dedup(
            docs.withColumn("text", F.regexp_replace("text", " end$", ". end")),
            unit="sentence", min_len=3,
        ),
        # 1000 sources -> per-source window sort + broadcast quota join
        "mix_sources": lambda: mix_sources(
            docs.withColumn(
                "source",
                F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id"), F.lit(1000))),
            ),
            frac=0.5,
        ),
        # global running-sum spans (range exchange + K-row offset collect)
        # and the per-sequence explode on top of them
        "pack_sequences": lambda: pack_sequences(docs, seq_len=2048),
        "pack_assignments": lambda: pack_assignments(
            pack_sequences(docs, seq_len=2048), seq_len=2048
        ),
    }


def dedup_probes(spark, n):
    """The heavy dedup family (round-4 verdict ask #6): minhash_wide,
    minhash_lsh_pairs, duplicate_spans, simhash_pairs, neardup_anchor,
    dedup_clusters.

    Input shape is chosen so duplicate structure grows LINEARLY with n:
    every 3 consecutive doc ids share byte-identical text (cluster size is a
    constant 3), so LSH/simhash/span candidate pairs are ~n per level and a
    sub-1.0 ratio reflects plan-shape degradation, not a quadratic pair
    blowup baked into the data. simhash is probed at 64 bits: half-band keys
    are then ~2^28-distinct, so random cross-group half collisions stay
    O(n^2/2^28) — thousands of junk pairs at 20M rows vs ~n real ones."""
    from pyspark.sql import functions as F

    from benthos_spark.ops.decontaminate import decontaminate
    from benthos_spark.ops.dedup import (
        minhash_lsh_pairs, minhash_wide, neardup_anchor, simhash_pairs,
    )
    from benthos_spark.ops.graph import dedup_clusters
    from benthos_spark.ops.spans import duplicate_span_stats

    docs = _dup_docs(spark, n)

    return {
        "minhash_wide": lambda: minhash_wide(docs),
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs),
        "duplicate_spans": lambda: duplicate_span_stats(docs),
        "simhash_pairs": lambda: simhash_pairs(docs, bits=64),
        "neardup_anchor": lambda: neardup_anchor(docs),
        "dedup_clusters": lambda: dedup_clusters(docs, minhash_lsh_pairs(docs)),
        # benchmark = every 1000th doc: bench n-gram set grows ~n/1000
        # (broadcast stays small), hits stay ~3 per bench doc (its 3-group)
        "decontaminate": lambda: decontaminate(
            docs, docs.filter(F.col("doc_id") % 1000 == 0), n=4
        ),
    }


def _force(df):
    """Hash-aggregate every output column: a bare count() lets Catalyst
    prune projections and even whole Window operators (they never change
    the row count), which would make this probe measure nothing."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in df.columns]
    df.select(F.bit_xor(F.xxhash64(*cols))).collect()


def run_level(spark, n, repeat=2, probes_fn=probes):
    out = {}
    for name, build in probes_fn(spark, n).items():
        best = float("inf")
        for _ in range(repeat):
            t0 = time.perf_counter()
            _force(build())
            best = min(best, time.perf_counter() - t0)
            # Drop dead shuffle files NOW: the async ContextCleaner only
            # removes them on JVM GC, and back-to-back multi-GB pair joins
            # can exhaust local disk before a natural GC happens.
            spark.sparkContext._jvm.System.gc()
        out[name] = {"sec": round(best, 3), "rows_per_sec": round(n / best)}
        print(f"  {name}: {best:.2f}s ({n / best:,.0f} rows/s)")
    return out


def main():
    small = 2_000_000
    big = 10_000_000
    if "--rows-small" in sys.argv:
        small = int(sys.argv[sys.argv.index("--rows-small") + 1])
    if "--rows-big" in sys.argv:
        big = int(sys.argv[sys.argv.index("--rows-big") + 1])
    cpus = sys.argv[sys.argv.index("--cpus") + 1] if "--cpus" in sys.argv else "32"
    family = sys.argv[sys.argv.index("--family") + 1] if "--family" in sys.argv else "core"
    base_fn = {"dedup": dedup_probes, "quality": quality_probes}.get(family, probes)
    only = sys.argv[sys.argv.index("--only") + 1].split(",") if "--only" in sys.argv else None
    if only:
        probes_fn = lambda spark, n: {  # noqa: E731
            k: v for k, v in base_fn(spark, n).items() if k in only
        }
        family = f"{family}:{','.join(only)}"
    else:
        probes_fn = base_fn

    from benthos_spark.session import get_spark

    spark = get_spark("ops_scale_probe", master=f"local[{cpus}]")
    print(f"level {small:,}:")
    a = run_level(spark, small, probes_fn=probes_fn)
    print(f"level {big:,}:")
    b = run_level(spark, big, probes_fn=probes_fn)
    spark.stop()

    stamp = datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
    lines = [
        "",
        f"## Operator scale probe [{family}] {stamp} (local[{cpus}], in-plan synthetic input)",
        "",
        f"Each op at {small:,} and {big:,} rows, min-of-2; `ratio` = big-level",
        "rows/sec over small-level rows/sec — near 1.0 means cost grew linearly",
        "with input (the plan holds its shape as N grows).",
        "",
        "| op | sec @small | rows/s @small | sec @big | rows/s @big | ratio |",
        "|---|---|---|---|---|---|",
    ]
    for name in a:
        ra, rb = a[name]["rows_per_sec"], b[name]["rows_per_sec"]
        lines.append(
            f"| {name} | {a[name]['sec']} | {ra:,} | {b[name]['sec']} | {rb:,} | "
            f"{rb / ra:.2f} |"
        )
    lines.append("")
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write("\n".join(lines))
    print(json.dumps({"small": a, "big": b}))


if __name__ == "__main__":
    main()
