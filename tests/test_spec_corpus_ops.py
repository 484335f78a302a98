"""Corpus ops on the YAML spec surface: the ops/ suite is reachable as
native pipeline stages (pii_redact, url_canonicalize, boilerplate,
stratified_sample, top_k, rollup, asof_join) without dropping to Python."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from benthos_spark.engine.spec import lint_spec, run_spec

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")


@pytest.mark.spark
class TestSpecCorpusOps:
    def test_redact_then_boilerplate_chain(self, spark):
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [
                    [1, "Contact bob@x.com for the full story today.\nBuy now!"],
                    [2, "Server 10.0.0.1 answered every request we sent it.\nHome | About"],
                ],
                "schema": "doc_id long, text string",
            }},
            "pipeline": {"processors": [
                {"pii_redact": {"column": "text"}},
                {"boilerplate": {"column": "text"}},
            ]},
            "output": {"memory": {}},
        })
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["n_emails"] == 1 and rows[1]["n_ips"] == 0
        assert rows[1]["text"] == "Contact <EMAIL> for the full story today."
        assert rows[2]["n_ips"] == 1
        assert rows[2]["text"] == "Server <IP> answered every request we sent it."
        assert rows[2]["n_lines"] == 2 and rows[2]["n_kept"] == 1

    def test_url_canonicalize_stage(self, spark):
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [[1, "HTTP://WWW.Example.COM:80/a?b=1&utm_source=x#f"]],
                "schema": "doc_id long, url string",
            }},
            "pipeline": {"processors": [{"url_canonicalize": {"column": "url"}}]},
            "output": {"memory": {}},
        })
        r = out.collect()[0]
        assert r["url_norm"] == "http://www.example.com/a?b=1"
        assert r["registered_domain"] == "example.com"

    def test_stratified_sample_stage(self, spark):
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [[i, "en" if i % 2 else "de"] for i in range(40)],
                "schema": "doc_id long, lang string",
            }},
            "pipeline": {"processors": [
                {"stratified_sample": {"group_by": ["lang"], "n": 3,
                                       "id_column": "doc_id", "salt": "t"}},
            ]},
            "output": {"memory": {}},
        })
        rows = out.collect()
        assert len(rows) == 6
        assert {r["lang"] for r in rows} == {"en", "de"}

    def test_top_k_terminal_stage_and_downstream_cols(self, spark):
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [["en", "a"], ["en", "a"], ["en", "b"], ["de", "x"]],
                "schema": "lang string, token string",
            }},
            "pipeline": {"processors": [
                {"top_k": {"group_by": ["lang"], "item_column": "token", "k": 1}},
                # downstream stage sees the aggregated schema (col tracking)
                {"filter_parts": {"bloblang": "n >= 1"}},
            ]},
            "output": {"memory": {}},
        })
        got = {(r["lang"], r["token"], r["n"]) for r in out.collect()}
        assert got == {("en", "a", 2), ("de", "x", 1)}

    def test_rollup_terminal_stage(self, spark):
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [
                    [dt.datetime(2024, 1, 1, 10, 0, 10), "a", 5],
                    [dt.datetime(2024, 1, 1, 10, 30, 0), "a", 7],
                    [dt.datetime(2024, 1, 1, 11, 0, 0), "a", 1],
                ],
                "schema": "ts timestamp, event_type string, v long",
            }},
            "pipeline": {"processors": [
                {"rollup": {"ts_col": "ts", "keys": ["event_type"],
                            "value_column": "v", "grains": ["minute", "hour"]}},
            ]},
            "output": {"memory": {}},
        })
        got = {(r["g_start"].hour, r["n"], r["sum_v"]) for r in out.collect()}
        assert got == {(10, 2, 12), (11, 1, 1)}

    def test_asof_join_stage(self, spark, tmp_path):
        right = str(tmp_path / "rates")
        spark.createDataFrame(
            [(1, 100, 2.5), (1, 300, 3.5)], "user_id long, ts long, value double"
        ).write.parquet(right)
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [[7, 1, 200], [8, 1, 400]],
                "schema": "event_id long, user_id long, ts long",
            }},
            "pipeline": {"processors": [
                {"asof_join": {"path": right, "on": "ts", "by": "user_id",
                               "right_cols": ["value"]}},
            ]},
            "output": {"memory": {}},
        })
        rows = {r["event_id"]: r for r in out.collect()}
        assert rows[7]["r_value"] == 2.5 and rows[8]["r_value"] == 3.5

    def test_parquet_output_partition_by(self, spark, tmp_path):
        import os

        out_dir = str(tmp_path / "bylang")
        run_spec(spark, {
            "input": {"inline": {
                "rows": [[i, "en" if i % 2 else "de"] for i in range(10)],
                "schema": "doc_id long, lang string",
            }},
            "output": {"parquet": {"path": out_dir, "partition_by": ["lang"],
                                   "repartition_by": ["lang"]}},
        })
        subdirs = {d for d in os.listdir(out_dir) if d.startswith("lang=")}
        assert subdirs == {"lang=en", "lang=de"}
        back = spark.read.parquet(out_dir)
        assert back.count() == 10
        # partition pruning reaches the scan
        q = back.filter("lang = 'en'")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
        assert q.count() == 5

    def test_corpus_ops_are_stream_safe(self, spark, tmp_path):
        """pii_redact/boilerplate are pure projections, so the same spec
        stages run unchanged inside Structured Streaming through the
        exactly-once sink (the north-rule surface)."""
        from benthos_spark.streaming.sink import IdempotentSink
        from benthos_spark.streaming.source import write_pages_input

        in_dir = str(tmp_path / "in")
        write_pages_input(spark, in_dir, 500, n_chunks=2, n_hosts=5)
        run_spec(spark, {
            "input": {"stream": {"path": in_dir}},
            "pipeline": {"processors": [
                {"bloblang": 'text = text + " mail me at a@b.co today ok."'},
                {"pii_redact": {"column": "text"}},
                {"boilerplate": {"column": "text", "min_words": 2}},
            ]},
            "output": {"sink": {
                "path": str(tmp_path / "out"),
                "checkpoint": str(tmp_path / "ckpt"),
            }},
        })
        got = IdempotentSink(str(tmp_path / "out")).read(spark)
        assert got.count() == 500
        r = got.select("text", "n_emails").limit(1).collect()[0]
        assert r["n_emails"] == 1 and "<EMAIL>" in r["text"]

    def test_quantiles_and_funnel_stages(self, spark):
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [["a", float(v)] for v in range(1, 101)],
                "schema": "k string, v double",
            }},
            "pipeline": {"processors": [
                {"quantiles": {"group_by": ["k"], "value_column": "v",
                               "qs": [0.5]}},
            ]},
            "output": {"memory": {}},
        })
        r = out.collect()[0]
        assert r["n"] == 100 and r["p50"] == 50.5

        fun = run_spec(spark, {
            "input": {"inline": {
                "rows": [
                    [1, dt.datetime(2024, 1, 1, 10, 0), "A"],
                    [1, dt.datetime(2024, 1, 1, 10, 5), "B"],
                ],
                "schema": "user_id long, ts timestamp, event_type string",
            }},
            "pipeline": {"processors": [
                {"funnel": {"steps": ["A", "B"], "key": "user_id"}},
            ]},
            "output": {"memory": {}},
        })
        fr = fun.collect()[0]
        assert fr["completed"] and fr["duration_s"] == 300

    def test_duplicate_spans_stage(self, spark):
        shared = "one two three four five six seven eight"
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [[1, shared + " x"], [2, "y " + shared]],
                "schema": "doc_id long, text string",
            }},
            "pipeline": {"processors": [
                {"duplicate_spans": {"column": "text", "k": 8}},
            ]},
            "output": {"memory": {}},
        })
        rows = {r["id"]: r for r in out.collect()}
        assert rows[1]["n_dup_spans"] == 1 and rows[2]["n_dup_spans"] == 1

    def test_streaming_funnel_spec(self, spark, tmp_path):
        from benthos_spark.streaming.sink import IdempotentSink

        in_dir = str(tmp_path / "in")
        rows = [
            (1, dt.datetime(2024, 1, 1, 10, 0), "A"),
            (1, dt.datetime(2024, 1, 1, 10, 5), "B"),
            (2, dt.datetime(2024, 1, 1, 10, 1), "A"),
        ]
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string"
        ).coalesce(1).write.parquet(in_dir)
        run_spec(spark, {
            "input": {"stream": {
                "path": in_dir,
                "schema": "user_id long, ts timestamp, event_type string",
            }},
            "pipeline": {"processors": [
                {"funnel": {"steps": ["A", "B"], "key": "user_id",
                            "streaming": True, "watermark": "1 minute"}},
            ]},
            "output": {"sink": {
                "path": str(tmp_path / "out"),
                "checkpoint": str(tmp_path / "ckpt"),
            }},
        })
        got = IdempotentSink(str(tmp_path / "out")).read(spark).collect()
        assert len(got) == 1 and got[0]["user_id"] == 1
        assert got[0]["duration_s"] == 300

    def test_example_specs_lint_clean(self):
        for name in ("corpus_curation", "cep_funnel", "streaming_neardup"):
            with open(os.path.join(EXAMPLES, f"{name}.yaml")) as f:
                assert lint_spec(f.read()) == [], name

    def test_example_streaming_neardup_runs(self, spark, tmp_path):
        import glob
        import shutil

        import yaml

        from benthos_spark.streaming.neardup import finalize_neardup
        from benthos_spark.streaming.sink import IdempotentSink

        with open(os.path.join(EXAMPLES, "streaming_neardup.yaml")) as f:
            spec = yaml.safe_load(f)
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today"),
             (2, "The quick brown fox JUMPS over the lazy dog today!!"),
             (3, "a completely different document about yaml pipelines")],
            "doc_id long, text string",
        ).withColumn("ts", F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id")))
        src = str(tmp_path / "in")
        (tmp_path / "in").mkdir()
        stage = str(tmp_path / "stage")
        docs.coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(sorted(glob.glob(stage + "/part-*.parquet"))[0],
                    src + "/0_docs.parquet")
        # the jvm default's windowed min only flushes once the watermark
        # passes a window's end — bounded replays append far-future
        # sentinel files exactly as the example yaml documents (finalize's
        # docs join drops them from results)
        sent_stage = str(tmp_path / "sent_stage")
        for i, (sid, stext) in enumerate(
            [(901, "first watermark flush sentinel document entirely unique"),
             (902, "second watermark flush sentinel document also unique")]
        ):
            spark.createDataFrame(
                [(sid, stext)], "doc_id long, text string",
            ).withColumn(
                "ts",
                F.timestamp_seconds(F.lit(1735689600 + (i + 1) * 30 * 86400)),
            ).coalesce(1).write.mode("overwrite").parquet(sent_stage)
            shutil.copy(sorted(glob.glob(sent_stage + "/part-*.parquet"))[0],
                        src + f"/{i + 1}_sentinel.parquet")
        spec["input"]["stream"]["path"] = src
        spec["output"]["sink"]["path"] = str(tmp_path / "out")
        spec["output"]["sink"]["checkpoint"] = str(tmp_path / "ckpt")
        run_spec(spark, spec)
        out = IdempotentSink(str(tmp_path / "out")).read(spark)
        rows = {r["doc_id"]: (r["anchor"], r["is_keeper"])
                for r in finalize_neardup(out, docs).collect()}
        assert rows[1] == (None, True)
        assert rows[2] == (1, False)
        assert rows[3] == (None, True)

    def test_example_corpus_curation_runs(self, spark, tmp_path):
        import yaml

        with open(os.path.join(EXAMPLES, "corpus_curation.yaml")) as f:
            spec = yaml.safe_load(f)
        out_dir = str(tmp_path / "curated")
        spec["output"]["parquet"]["path"] = out_dir
        run_spec(spark, spec)
        back = spark.read.parquet(out_dir)
        sizes = {r["lang"]: r["n"] for r in
                 back.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert all(v == 50 for v in sizes.values()) and len(sizes) == 5
        assert "n_emails" in back.columns and "kept_ratio" in back.columns

    def test_lint_accepts_native_only_stages(self):
        assert lint_spec({
            "input": {"inline": {"rows": [[1]], "schema": "x long"}},
            "pipeline": {"processors": [
                {"pii_redact": {}},
                {"top_k": {"group_by": ["x"], "item_column": "x"}},
            ]},
            "output": {"memory": {}},
        }) == []

    def test_lint_still_rejects_unknown(self):
        errs = lint_spec({
            "input": {"inline": {"rows": [[1]], "schema": "x long"}},
            "pipeline": {"processors": [{"definitely_not_a_processor": {}}]},
            "output": {"memory": {}},
        })
        assert len(errs) == 1 and "unknown processor type" in errs[0]


class TestRound4Chains:
    def test_subprocess_then_grok_frame_chain(self, spark):
        import json

        from benthos_spark.engine.spark_exec import run_frame_pipeline, frame_from_strings

        frame = frame_from_strings(spark, [
            b'10.0.0.1 - alice [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.1" 200 123',
            b'10.0.0.2 - bob [10/Oct/2000:13:55:36 -0700] "GET /b HTTP/1.1" 500 77',
        ])
        piped = run_frame_pipeline(frame, [
            {"subprocess": {"name": "sed", "args": ["s/alice/carol/", "-u"]}},
            {"grok": {"patterns": ["%{COMMONAPACHELOG}"]}},
        ])
        auth = sorted(
            json.loads(bytes(r["content"]))["auth"] for r in piped.collect()
        )
        assert auth == ["bob", "carol"]

    def test_redact_then_neardup_typed_chain(self, spark):
        out = run_spec(spark, {
            "input": {"parquet": {"path": "/root/testdata/sf0.001/documents.parquet"}},
            "pipeline": {"processors": [
                {"pii_redact": {"column": "text", "counts": False}},
                {"neardup": {"k": 16, "bands": 4, "n": 2}},
            ]},
            "output": {"memory": {}},
        })
        rows = out.collect()
        assert len(rows) == 500
        assert any(not r["is_keeper"] for r in rows)

    def test_decontaminate_stage(self, spark, tmp_path):
        bench_path = str(tmp_path / "benchmark.parquet")
        spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "bench_id long, text string",
        ).write.parquet(bench_path)
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [
                    [1, "the quick brown fox jumps over the lazy dog"],
                    [2, "unrelated text about catalyst query planning"],
                ],
                "schema": "doc_id long, text string",
            }},
            "pipeline": {"processors": [
                {"decontaminate": {"path": bench_path, "n": 3}},
            ]},
            "output": {"memory": {}},
        })
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["contaminated"] and rows[1]["hit_ratio"] == 1.0
        assert not rows[2]["contaminated"] and rows[2]["n_hit"] == 0
        assert rows[1]["text"].startswith("the quick")  # original cols kept

    def test_decontaminate_drop_policy(self, spark, tmp_path):
        bench_path = str(tmp_path / "benchmark2.parquet")
        spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "bench_id long, text string",
        ).write.parquet(bench_path)
        out = run_spec(spark, {
            "input": {"inline": {
                "rows": [
                    [1, "the quick brown fox jumps over the lazy dog"],
                    [2, "unrelated text about catalyst query planning"],
                ],
                "schema": "doc_id long, text string",
            }},
            "pipeline": {"processors": [
                {"decontaminate": {"path": bench_path, "n": 3, "drop": True}},
            ]},
            "output": {"memory": {}},
        })
        assert [r["doc_id"] for r in out.collect()] == [2]

    def test_lint_accepts_decontaminate(self):
        assert lint_spec({
            "input": {"inline": {"rows": [[1]], "schema": "doc_id long"}},
            "pipeline": {"processors": [{"decontaminate": {"path": "/x"}}]},
            "output": {"memory": {}},
        }) == []

    def test_semantic_dedup_stage(self, spark):
        out = run_spec(spark, {
            "input": {"parquet": {"path": "/root/testdata/sf0.001/embeddings.parquet"}},
            "pipeline": {"processors": [
                {"semantic_dedup": {"k": 4, "iters": 2, "threshold": 0.35,
                                    "drop": True}},
            ]},
            "output": {"memory": {}},
        })
        rows = out.collect()
        assert 0 < len(rows)
        assert all(r["is_keeper"] for r in rows)
        assert "embedding" in out.columns  # original cols kept

    def test_lint_accepts_semantic_dedup(self):
        assert lint_spec({
            "input": {"inline": {"rows": [[1]], "schema": "vec_id long"}},
            "pipeline": {"processors": [{"semantic_dedup": {"k": 4}}]},
            "output": {"memory": {}},
        }) == []

    # doc 1: 60 varied words (every n-gram distinct — passes repetition
    # too); doc 3 is a repeated phrase that passes the quality rules but
    # fails the duplicate-n-gram gates
    GOPHER_ROWS = [
        [1, " ".join(f"the w{i:03d} and v{i:03d}" for i in range(15))],
        [2, "too short to pass the word gate"],
        [3, " ".join(["ping pong the dog with it"] * 12)],  # heavy repetition
    ]

    def test_gopher_stage_annotates_and_drops(self, spark):
        out = run_spec(spark, {
            "input": {"inline": {"rows": self.GOPHER_ROWS,
                                 "schema": "doc_id long, text string"}},
            "pipeline": {"processors": [{"gopher": {}}]},
            "output": {"memory": {}},
        })
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["gopher_pass"] is True and rows[1]["n_words"] == 60
        assert rows[2]["gopher_pass"] is False
        assert "text" in out.columns  # original cols kept

        dropped = run_spec(spark, {
            "input": {"inline": {"rows": self.GOPHER_ROWS,
                                 "schema": "doc_id long, text string"}},
            "pipeline": {"processors": [
                {"gopher": {"repetition": True, "drop": True}},
            ]},
            "output": {"memory": {}},
        })
        kept = [r["doc_id"] for r in dropped.collect()]
        assert kept == [1]  # 2 fails word gate, 3 fails repetition gates

    def test_gopher_stage_is_stream_safe(self, spark, tmp_path):
        """Both gopher passes are shuffle-free projections (the repetition
        metrics fold in-row over sorted arrays), so the FULL 21-metric
        filter runs on a live stream through the exactly-once sink."""
        from benthos_spark.streaming.sink import IdempotentSink
        from benthos_spark.streaming.source import write_pages_input

        in_dir = str(tmp_path / "in")
        write_pages_input(spark, in_dir, 200, n_chunks=2, n_hosts=5)
        run_spec(spark, {
            "input": {"stream": {"path": in_dir}},
            "pipeline": {"processors": [
                {"gopher": {"min_words": 1, "min_stop_hits": 0,
                            "id_column": "url", "repetition": True,
                            "drop": True}},
            ]},
            "output": {"sink": {
                "path": str(tmp_path / "out"),
                "checkpoint": str(tmp_path / "ckpt"),
            }},
        })
        got = IdempotentSink(str(tmp_path / "out")).read(spark)
        assert got.count() > 0
        assert got.filter(~F.col("gopher_pass")).count() == 0
        assert got.filter(~F.col("gopher_rep_pass")).count() == 0
        assert "dup_5gram_char_frac" in got.columns

    def test_unit_dedup_stage(self, spark):
        out = run_spec(spark, {
            "input": {"inline": {"rows": [
                [1, "alpha beta\n\ngamma delta"],
                [2, "gamma delta\n\nfresh text"],
            ], "schema": "doc_id long, text string"}},
            "pipeline": {"processors": [
                {"unit_dedup": {"unit": "paragraph"}},
            ]},
            "output": {"memory": {}},
        })
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["text"] == "alpha beta\n\ngamma delta"
        assert rows[2]["text"] == "fresh text"          # dup para removed
        assert rows[2]["n_units"] == 2 and rows[2]["n_kept"] == 1

    def test_mix_sources_stage(self, spark):
        rows = [[i, "a" if i < 4 else "b",
                 " ".join(f"w{j}" for j in range(10))] for i in range(8)]
        out = run_spec(spark, {
            "input": {"inline": {"rows": rows,
                                 "schema": "doc_id long, source string, text string"}},
            "pipeline": {"processors": [
                {"mix_sources": {"frac": 0.5, "weights": {"a": 3.0, "b": 1.0},
                                 "drop": True}},
            ]},
            "output": {"memory": {}},
        })
        got = out.collect()
        # quota_a = 30 tokens -> 3 docs; quota_b = 10 -> 1 doc
        assert len(got) == 4
        assert sum(1 for r in got if r["source"] == "a") == 3
        assert all(r["kept"] for r in got)

    def test_lint_accepts_gopher(self):
        assert lint_spec({
            "input": {"inline": {"rows": [[1, "x"]],
                                 "schema": "doc_id long, text string"}},
            "pipeline": {"processors": [{"gopher": {"drop": True}}]},
            "output": {"memory": {}},
        }) == []


@pytest.mark.spark
class TestTrainingDataPipelineExample:
    def test_example_runs_end_to_end(self, spark, tmp_path):
        import yaml

        with open(os.path.join(EXAMPLES, "training_data_pipeline.yaml")) as f:
            spec = yaml.safe_load(f)
        assert lint_spec(spec) == []
        out_dir = str(tmp_path / "tdp")
        spec["output"]["parquet"]["path"] = out_dir
        run_spec(spark, spec)
        back = spark.read.parquet(out_dir)
        n = back.count()
        # dedupe + decontamination drop a few; the bulk survives with the
        # full quality-column complement
        assert 400 < n < 500
        assert {"bits_per_bigram", "dsir_weight", "contaminated",
                "kept_ratio"} <= set(back.columns)
        assert back.filter(F.col("contaminated")).count() == 0
        assert back.filter(F.col("bits_per_bigram") > 12.0).count() == 0
        # partitioned-by-lang layout
        assert back.select("lang").distinct().count() == 5


class TestBatchOnlyStreamingLint:
    """r6 (r5 verdict #5): mix_sources / unit_dedup are corpus-wide-state
    ops with no bounded streaming formulation — a streaming spec naming
    them must fail at LINT time (no Spark session), not at runtime."""

    def _spec(self, proc):
        return {
            "input": {"stream": {"path": "/tmp/in"}},
            "pipeline": {"processors": [proc]},
            "output": {"memory": {}},
        }

    def test_lint_rejects_mix_sources_in_streaming_spec(self):
        errs = lint_spec(self._spec({"mix_sources": {"frac": 0.5}}))
        assert any("mix_sources is batch-only" in e for e in errs)

    def test_lint_rejects_unit_dedup_in_streaming_spec(self):
        errs = lint_spec(self._spec({"unit_dedup": {"unit": "sentence"}}))
        assert any("unit_dedup is batch-only" in e for e in errs)

    def test_lint_accepts_both_in_batch_spec(self):
        for proc in ({"mix_sources": {"frac": 0.5}},
                     {"unit_dedup": {"unit": "sentence"}}):
            spec = self._spec(proc)
            spec["input"] = {"parquet": {"path": "/tmp/in"}}
            assert lint_spec(spec) == []

    def test_lint_accepts_streaming_safe_ops_in_streaming_spec(self):
        errs = lint_spec(self._spec({"bloblang": "root = this"}))
        assert errs == []
