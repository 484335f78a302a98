"""Streaming MinHash-LSH near-dup dedupe (streaming/neardup.py).

The stateless kernel must reproduce the batch k-lanes signature exactly;
the stateful bucket op must detect near-dups ACROSS micro-batches and
yield the batch "min earlier band partner" semantics end to end through
the exactly-once sink.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from benthos_spark.ops.dedup import minhash_wide
from benthos_spark.streaming.neardup import (
    finalize_neardup,
    minhash_band_rows,
    streaming_neardup,
)
from benthos_spark.streaming.sink import IdempotentSink, run_to_sink

DOCS = [
    # two exact near-dup families + singletons; text normalization is
    # exercised (case, punctuation)
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "The quick brown fox JUMPS over the lazy dog today!!"),
    (3, "completely different text about spark structured streaming state"),
    (4, "the quick brown fox jumps over the lazy dog today folks"),
    (5, "another unrelated document mentioning iceberg sinks and lineage"),
    (6, "completely different text about spark structured streaming state"),
    (7, "short"),
]


def _docs_df(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return df.withColumn(
        "ts", F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id"))
    )


class TestSignatureParity:
    def test_band_keys_match_batch_minhash(self, spark):
        docs = _docs_df(spark)
        k, bands, n = 16, 4, 2
        r = k // bands
        wide = minhash_wide(docs, k=k, n=n).collect()
        expected = set()
        for row in wide:
            for b in range(bands):
                key = ",".join(str(row[f"m{h}"]) for h in range(b * r, (b + 1) * r))
                expected.add((row["id"], b, key))
        got = {
            (r2["id"], r2["band"], r2["band_key"])
            for r2 in minhash_band_rows(docs, k=k, bands=bands, n=n).collect()
        }
        assert got == expected

    def test_short_doc_has_no_bands(self, spark):
        docs = _docs_df(spark)
        got = minhash_band_rows(docs).where(F.col("id") == 7).count()
        assert got == 0


class TestStreamingNearDup:
    def _run(self, spark, split_at):
        """Feed docs as two files split at doc_id < split_at (cross-batch
        dup pairs prove state survives micro-batch boundaries)."""
        docs = _docs_df(spark)
        src = tempfile.mkdtemp(prefix="bs_nd_src_")
        for i, pred in enumerate(
            [F.col("doc_id") < split_at, F.col("doc_id") >= split_at]
        ):
            tmp = tempfile.mkdtemp(prefix="bs_nd_part_")
            docs.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            import glob

            part = sorted(glob.glob(tmp + "/part-*.parquet"))[0]
            shutil.copy(part, f"{src}/{i}_docs.parquet")
        schema = docs.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        bands = minhash_band_rows(stream)
        out = streaming_neardup(bands, watermark="1 hour")
        sink = IdempotentSink(tempfile.mkdtemp(prefix="bs_nd_sink_"))
        run_to_sink(out, sink, tempfile.mkdtemp(prefix="bs_nd_ckpt_"))
        return finalize_neardup(sink.read(spark), docs).collect()

    def test_matches_batch_semantics_cross_batch(self, spark):
        rows = {r["doc_id"]: (r["anchor"], r["is_keeper"]) for r in self._run(spark, 3)}
        # family {1,2,4}: 1 keeper, 2 and 4 anchor to 1 (4 arrives in the
        # SECOND micro-batch — cross-batch state)
        assert rows[1] == (None, True)
        assert rows[2] == (1, False)
        assert rows[4] == (1, False)
        # family {3,6}: split across batches too
        assert rows[3] == (None, True)
        assert rows[6] == (3, False)
        # singletons + short doc are keepers
        assert rows[5] == (None, True)
        assert rows[7] == (None, True)
        assert len(rows) == 7

    def test_single_batch_same_result(self, spark):
        rows = {r["doc_id"]: (r["anchor"], r["is_keeper"]) for r in self._run(spark, 100)}
        assert rows[2] == (1, False) and rows[4] == (1, False)
        assert rows[6] == (3, False)


class TestPlan:
    def test_stateless_stage_has_no_shuffle(self, spark):
        docs = _docs_df(spark)
        plan = (
            minhash_band_rows(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "MapInPandas" in plan


class TestBatchTwin:
    def test_batch_neardup_anchor_equals_streaming(self, spark):
        from benthos_spark.ops.dedup import neardup_anchor

        docs = _docs_df(spark)
        batch = {
            r["id"]: (r["anchor"], r["is_keeper"])
            for r in neardup_anchor(docs).collect()
        }
        streaming = {
            r["doc_id"]: (r["anchor"], r["is_keeper"])
            for r in TestStreamingNearDup()._run(spark, 3)
        }
        assert batch == streaming

    def test_spec_stage_batch(self, spark):
        from benthos_spark.engine.spec import run_spec

        out = run_spec(
            spark,
            {
                "input": {"parquet": {"path": "/root/testdata/sf0.001/documents.parquet"}},
                "pipeline": {"processors": [{"neardup": {"k": 16, "bands": 4, "n": 2}}]},
                "output": {"memory": {}},
            },
        )
        rows = out.collect()
        assert {c for c in out.columns} == {"id", "anchor", "is_keeper"}
        assert len(rows) == 500
        assert any(not r["is_keeper"] for r in rows)  # sf0.001 has dups

    def test_spec_lint_accepts_neardup(self):
        from benthos_spark.engine.spec import lint_spec

        errs = lint_spec(
            {
                "input": {"parquet": {"path": "/x"}},
                "pipeline": {"processors": [{"neardup": {"k": 16}}]},
                "output": {"memory": {}},
            }
        )
        assert errs == []


class TestCheckpointRestart:
    def test_bucket_state_survives_restart(self, spark):
        """Kill-and-resume: file 0 drains in run 1; file 1 arrives while
        the query is down; run 2 restarts from the SAME checkpoint. Dup
        pairs spanning the restart must still anchor — the bucket min-ids
        live in the state store, not the JVM."""
        import glob

        docs = _docs_df(spark)
        src = tempfile.mkdtemp(prefix="bs_ndr_src_")
        sink = IdempotentSink(tempfile.mkdtemp(prefix="bs_ndr_sink_"))
        ckpt = tempfile.mkdtemp(prefix="bs_ndr_ckpt_")

        def stage(i, pred):
            tmp = tempfile.mkdtemp(prefix="bs_ndr_part_")
            docs.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = sorted(glob.glob(tmp + "/part-*.parquet"))[0]
            shutil.copy(part, f"{src}/{i}_docs.parquet")

        def drain():
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            out = streaming_neardup(
                minhash_band_rows(stream), watermark="1 hour"
            )
            run_to_sink(out, sink, ckpt)

        stage(0, F.col("doc_id") < 3)
        drain()                      # run 1: docs 1, 2
        stage(1, F.col("doc_id") >= 3)
        drain()                      # RESTART from checkpoint: docs 3..7
        rows = {
            r["doc_id"]: (r["anchor"], r["is_keeper"])
            for r in finalize_neardup(sink.read(spark), docs).collect()
        }
        # doc 4 (arrived after restart) must anchor to doc 1 (state from
        # run 1); doc 6 anchors to 3 within run 2
        assert rows[4] == (1, False)
        assert rows[2] == (1, False)
        assert rows[6] == (3, False)
        assert rows[1] == (None, True) and rows[7] == (None, True)


def _stage_files(spark, docs, preds, src=None):
    """Write docs as one parquet file per predicate into one stream dir."""
    import glob

    src = src or tempfile.mkdtemp(prefix="bs_ndj_src_")
    for i, pred in enumerate(preds):
        tmp = tempfile.mkdtemp(prefix="bs_ndj_part_")
        docs.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = sorted(glob.glob(tmp + "/part-*.parquet"))[0]
        shutil.copy(part, f"{src}/{i}_docs.parquet")
    return src


def _sentinels_df(spark, base=1735689600):
    """Two far-future docs that advance the watermark past every real
    window (two files because the watermark lags one batch and
    availableNow need not run a trailing no-data batch). finalize's docs
    join drops them from results."""
    return spark.createDataFrame(
        [
            (901, "first watermark flush sentinel document entirely unique"),
            (902, "second watermark flush sentinel document also unique"),
        ],
        "doc_id long, text string",
    ).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(base) + F.lit(30 * 86400) * (F.col("doc_id") - 900)
        ),
    )


class TestJvmVariant:
    """streaming_neardup_jvm: all-JVM, min-id-exact under any partitioning."""

    def _run_jvm(self, spark, docs, preds, repartition=None, window="6 hours"):
        from benthos_spark.streaming.neardup import streaming_neardup_jvm

        sent = _sentinels_df(spark)
        src = _stage_files(spark, docs, preds)
        # sentinel files appended AFTER the data files (file-source arrival
        # order); two files so the lagging watermark flushes every real
        # window during a DATA batch
        import glob as _g

        n = len(preds)
        for j, pred in enumerate([F.col("doc_id") == 901, F.col("doc_id") == 902]):
            tmp = tempfile.mkdtemp(prefix="bs_ndj_sp_")
            sent.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = sorted(_g.glob(tmp + "/part-*.parquet"))[0]
            shutil.copy(part, f"{src}/{n + j}_docs.parquet")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        if repartition:
            stream = stream.repartition(repartition)
        out = streaming_neardup_jvm(
            minhash_band_rows(stream), watermark="1 hour", window=window
        )
        sink = IdempotentSink(tempfile.mkdtemp(prefix="bs_ndj_sink_"))
        run_to_sink(out, sink, tempfile.mkdtemp(prefix="bs_ndj_ckpt_"))
        return {
            r["doc_id"]: (r["anchor"], r["is_keeper"])
            for r in finalize_neardup(sink.read(spark), docs).collect()
        }

    def test_jvm_equals_python_stateful_cross_batch(self, spark):
        docs = _docs_df(spark)
        got = self._run_jvm(
            spark, docs, [F.col("doc_id") < 3, F.col("doc_id") >= 3]
        )
        want = {
            r["doc_id"]: (r["anchor"], r["is_keeper"])
            for r in TestStreamingNearDup()._run(spark, 3)
        }
        assert got == want

    def test_jvm_exact_under_parallel_arrival(self, spark):
        """Many same-bucket rows in ONE micro-batch, shuffled across 8
        partitions: dropDuplicates' first-arrived keeper is arbitrary here,
        the windowed min is not — results must equal the batch twin."""
        from benthos_spark.ops.dedup import neardup_anchor

        rows = [
            (i, "the quick brown fox jumps over the lazy dog today")
            for i in range(10, 26)
        ] + [
            (i, "some other family of nearly identical web page text here")
            for i in range(40, 52)
        ] + [(70, "a lone singleton document about nothing in particular")]
        docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "ts", F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id"))
        )
        got = self._run_jvm(
            spark, docs, [F.lit(True)], repartition=8
        )
        want = {
            r["id"]: (r["anchor"], r["is_keeper"])
            for r in neardup_anchor(docs).collect()
        }
        assert got == want
        assert got[11] == (10, False) and got[41] == (40, False)
        assert got[70] == (None, True)

    def test_jvm_partner_across_agg_windows(self, spark):
        """Dup family spread over several agg windows: later members must
        still anchor to the global bucket min via earlier windows."""
        from benthos_spark.ops.dedup import neardup_anchor

        rows = [
            (1, "repeated family text that lands in multiple time windows"),
            (8, "repeated family text that lands in multiple time windows"),
            (25, "repeated family text that lands in multiple time windows"),
            (12, "an unrelated filler document to keep the stream honest"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "ts", F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") * 10)
        )
        got = self._run_jvm(
            spark, docs, [F.lit(True)], window="1 minute"
        )
        want = {
            r["id"]: (r["anchor"], r["is_keeper"])
            for r in neardup_anchor(docs).collect()
        }
        assert got == want
        assert got[8] == (1, False) and got[25] == (1, False)

    def test_spec_stage_default_has_no_python_state(self, spark):
        """The neardup spec stage's DEFAULT streaming impl is the all-JVM
        variant — no applyInPandasWithState anywhere in the plan (r4
        verdict ask #2)."""
        from benthos_spark.engine.spark_exec import NativePipeline

        docs = _docs_df(spark)
        src = tempfile.mkdtemp(prefix="bs_ndj_spec_")
        docs.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        np_ = NativePipeline(
            [{"neardup": {"streaming": True, "watermark": "1 hour"}}],
            dict(stream.dtypes),
        )
        plan = np_(stream)._jdf.queryExecution().logical().toString()
        assert "applyInPandasWithState" not in plan
        assert plan.lower().count("mapinpandas") <= 2

    def test_jvm_stateful_path_is_jvm_only(self, spark):
        from benthos_spark.streaming.neardup import streaming_neardup_jvm

        docs = _docs_df(spark)
        src = tempfile.mkdtemp(prefix="bs_ndj_plan_")
        docs.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = streaming_neardup_jvm(minhash_band_rows(stream))
        plan = q._jdf.queryExecution().logical().toString()
        assert "applyInPandasWithState" not in plan
        # the only Python is the stateless signature kernel
        assert plan.lower().count("mapinpandas") <= 2


class TestSentinelStaging:
    def test_single_sentinel_staging(self, spark):
        """r6: the registered query stages ONE far-future sentinel file;
        output must equal the original TWO-sentinel staging (the lagging
        watermark is advanced once; availableNow's final no-data batch
        flushes the agg->join chain). Pins the optimization's equivalence
        at the driver's correctness SF."""
        import glob
        import os

        import __spark_entry__ as entry
        from benthos_spark.streaming.neardup import streaming_neardup_jvm

        sf_dir = "/root/testdata/sf0.01"
        docs = entry._t(spark, sf_dir, "documents")

        # reference: the pre-r6 two-sentinel staging, inline
        med = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
        base = 1735689600
        with_ts = docs.withColumn(
            "ts", F.timestamp_seconds(F.lit(base) + F.col("doc_id"))
        )
        sentinels = (
            spark.createDataFrame(
                [(10**9 + 1, "watermark flush sentinel one"),
                 (10**9 + 2, "watermark flush sentinel two")],
                "doc_id long, text string",
            )
            .withColumn(
                "ts",
                F.timestamp_seconds(
                    F.lit(base) + F.lit(30 * 86400) * (F.col("doc_id") - 10**9)
                ),
            )
            .select(
                *[
                    F.col(c) if c in ("doc_id", "text", "ts")
                    else F.lit(None).cast(t).alias(c)
                    for c, t in with_ts.dtypes
                ]
            )
        )
        src = tempfile.mkdtemp(prefix="bs_nd2s_src_")
        stages = [
            (with_ts, F.col("doc_id") <= F.lit(med)),
            (with_ts, F.col("doc_id") > F.lit(med)),
            (sentinels, F.col("doc_id") == 10**9 + 1),
            (sentinels, F.col("doc_id") == 10**9 + 2),
        ]
        for i, (frame, pred) in enumerate(stages):
            tmp = tempfile.mkdtemp(prefix="bs_nd2s_part_")
            frame.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = sorted(glob.glob(tmp + "/part-*.parquet"))[0]
            shutil.copy(part, os.path.join(src, f"{i}_docs.parquet"))
        stream = (
            spark.readStream.schema(with_ts.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        bands = minhash_band_rows(
            stream.repartition(spark.sparkContext.defaultParallelism),
            k=16, bands=4, n=2,
        )
        out = streaming_neardup_jvm(bands, watermark="1 hour")
        sink = IdempotentSink(tempfile.mkdtemp(prefix="bs_nd2s_sink_"))
        with entry._state_partitions(spark, 8):
            run_to_sink(out, sink, tempfile.mkdtemp(prefix="bs_nd2s_ckpt_"))
        ref = sorted(
            (r["doc_id"], r["anchor"], r["is_keeper"])
            for r in finalize_neardup(sink.read(spark), docs).collect()
        )

        got = sorted(
            (r["doc_id"], r["anchor"], r["is_keeper"])
            for r in entry.q_streaming_neardup(spark, sf_dir).collect()
        )
        assert got == ref
