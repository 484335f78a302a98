"""Frame mode over a ``file`` input runs in one Python pass per file.

``engine.spec.Stream`` compiles a file-input spec whose chain falls back to
the frame interpreter to one mapInPandas over the binaryFile rows: each
file is framed into batches (``streaming.source.LineFramer``) and every
batch runs through the chain inside that one kernel. These tests pin its
output to the grouped path that other frame sources keep
(``run_frame_pipeline(file_lines_input(...))``), its plan shape, and the
file input's failure on a path that matches nothing.
"""

from __future__ import annotations

import json
import os

import pytest
import yaml

from benthos_spark.engine.spark_exec import run_frame_pipeline
from benthos_spark.engine.spec import Stream
from benthos_spark.streaming.source import file_lines_input

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# interpolation and mapping functions that read the whole batch
BATCH_CONTEXT = [
    {"bloblang": "root.c = content().string()\nroot.i = batch_index()\n"
                 "root.n = batch_size()\nroot.all = content().string().from_all()"},
    {"metadata": {"operator": "set", "key": "pos", "value": "${! batch_index() }/${! batch_size() }"}},
]
DROPS = [{"bloblang": "root = if batch_index() % 2 == 1 { deleted() }"}]
FANS_OUT = [{"split": {"size": 2}}, {"bloblang": "root.c = content().string()\nroot.i = batch_index()"}]


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(
        (r["batch_id"], r["out_batch"], r["seq"], bytes(r["content"]), tuple(sorted(r["meta"].items())))
        for r in df.collect()
    )


def fused_rows(spark, path, procs, delimiter="\n", multipart=True):
    spec = {"input": {"file": {"path": path, "delimiter": delimiter, "multipart": multipart}},
            "pipeline": {"processors": procs}}
    stream = Stream(spark, spec)
    assert stream.mode == "frame"
    return _rows(stream.df)


def fused_and_grouped(spark, path, procs, delimiter="\n", multipart=True):
    grouped = run_frame_pipeline(file_lines_input(spark, path, delimiter, multipart), procs)
    assert "Exchange" in plan_of(grouped)  # the batch_id-grouped path
    return fused_rows(spark, path, procs, delimiter, multipart), _rows(grouped)


def _write(d, name, text):
    p = os.path.join(d, name)
    with open(p, "w") as f:
        f.write(text)
    return p


@pytest.fixture()
def log_dir(tmp_path):
    d = str(tmp_path)
    _write(d, "a.txt", "a1\na2\n\nb1\n\n\nc1\nc2\nc3\n")
    _write(d, "b.txt", "")  # empty file
    _write(d, "c.txt", "d1\nd2\nd3\n\ne1")  # no trailing newline
    _write(d, "d.txt", "\n\nf1\n")
    return d


@pytest.mark.spark
class TestFusedMatchesGrouped:
    @pytest.mark.parametrize(
        "procs,n_out,max_out_batch",
        [(BATCH_CONTEXT, 11, 0), (DROPS, 8, 0), (FANS_OUT, 11, 1)],  # DROPS: a2, c2, d2
        ids=["batch_context", "drops", "fans_out"],
    )
    def test_multipart(self, spark, log_dir, procs, n_out, max_out_batch):
        fused, grouped = fused_and_grouped(spark, log_dir, procs)
        assert fused == grouped
        assert len(fused) == n_out
        assert max(r[1] for r in fused) == max_out_batch

    def test_batch_context_values(self, spark, log_dir):
        fused = fused_rows(spark, log_dir, BATCH_CONTEXT)
        docs = {json.loads(c)["c"]: (json.loads(c), dict(m)) for _b, _o, _s, c, m in fused}
        assert docs["c3"][0]["i"] == 2 and docs["c3"][0]["n"] == 3
        assert docs["c3"][0]["all"] == ["c1", "c2", "c3"]
        assert docs["c3"][1]["pos"] == "2/3"
        assert docs["e1"][0]["n"] == 1  # the trailing unterminated batch
        assert docs["d1"][1]["path"].endswith("c.txt")
        assert len(docs) == 11  # the empty file adds nothing

    def test_not_multipart(self, spark, log_dir):
        fused, grouped = fused_and_grouped(spark, log_dir, BATCH_CONTEXT, multipart=False)
        assert fused == grouped
        assert len(fused) == 11 and len({r[0] for r in fused}) == 11

    def test_custom_delimiter(self, spark, tmp_path):
        d = str(tmp_path)
        _write(d, "x.txt", "a|b||c|d|e")
        _write(d, "y.txt", "f|")
        for multipart in (True, False):
            fused, grouped = fused_and_grouped(spark, d, BATCH_CONTEXT, delimiter="|", multipart=multipart)
            assert fused == grouped
            assert len(fused) == 6

    def test_small_files_in_one_partition(self, spark, tmp_path):
        d = str(tmp_path)
        for i in range(6):
            _write(d, f"f{i}.txt", "".join(f"{i}-{j}\n" + ("\n" if j % 3 == 2 else "") for j in range(7)))
        keys = ("spark.sql.files.minPartitionNum", "spark.sql.files.openCostInBytes")
        old = {k: spark.conf.get(k, None) for k in keys}
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        spark.conf.set("spark.sql.files.openCostInBytes", "1")
        try:
            stream = Stream(spark, {"input": {"file": {"path": d, "multipart": True}},
                                    "pipeline": {"processors": BATCH_CONTEXT}})
            assert stream.file_input.files.rdd.getNumPartitions() == 1
            fused, grouped = fused_and_grouped(spark, d, BATCH_CONTEXT)
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert fused == grouped
        assert len(fused) == 42 and len({r[0] >> 32 for r in fused}) == 6

    def test_one_record_per_arrow_batch(self, spark, log_dir):
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "1")
        try:
            fused, grouped = fused_and_grouped(spark, log_dir, FANS_OUT)
        finally:
            spark.conf.set(key, old)
        assert fused == grouped


@pytest.mark.spark
class TestFusedPlan:
    def test_one_python_node_no_exchange(self, spark, log_dir):
        stream = Stream(spark, {"input": {"file": {"path": log_dir, "multipart": True}},
                                "pipeline": {"processors": DROPS + BATCH_CONTEXT}})
        plan = plan_of(stream.df)
        assert "Exchange" not in plan, plan
        assert plan.count("MapInPandas") == 1, plan
        assert "FlatMapGroupsInPandas" not in plan, plan

    def test_multipart_log_etl_example(self, spark, tmp_path):
        from benthos_spark.formats.avro import binary_decode, parse_schema

        ok = [f'10.0.0.{i} - u{i} [10/Oct/2000:13:55:{i:02d} -0700] "GET /p{i} HTTP/1.0" 200 {100 + i}'
              for i in range(9)]
        lines = ok[:3] + ["not a log line"] + [""] + ok[3:7] + [""] + ["garbage"] + ok[7:] + [""]
        log = _write(str(tmp_path), "access_logs.txt", "\n".join(lines) + "\n")
        with open(os.path.join(ROOT, "examples", "multipart_log_etl.yaml")) as f:
            spec = yaml.safe_load(f)
        spec["input"]["file"]["path"] = log
        stream = Stream(spark, spec)
        assert stream.mode == "frame"
        plan = plan_of(stream.df)
        assert "Exchange" not in plan and plan.count("MapInPandas") == 1, plan
        schema = parse_schema(spec["pipeline"]["processors"][3]["avro"]["schema"])
        got = [binary_decode(bytes(r["content"]), schema)[0] for r in stream.run().collect()]
        assert sorted(r["request"] for r in got) == sorted(f"/p{i}" for i in range(9))
        assert {r["clientip"] for r in got} == {f"10.0.0.{i}" for i in range(9)}
        assert all(r["verb"] == "GET" and r["response"] == "200" for r in got)


@pytest.mark.spark
class TestFileInputMatchesNothing:
    @pytest.mark.parametrize("pattern", ["nope/*.jsonl", "empty_dir", "missing.txt"])
    def test_raises_naming_the_path(self, spark, tmp_path, pattern):
        os.makedirs(tmp_path / "empty_dir")
        path = str(tmp_path / pattern)
        with pytest.raises(ValueError, match="no file matches") as exc:
            Stream(spark, {"input": {"file": {"path": path}},
                           "pipeline": {"processors": BATCH_CONTEXT}})
        assert path in str(exc.value)
