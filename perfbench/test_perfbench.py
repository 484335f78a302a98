"""Checks of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The output checks are exercised without Spark: a reference-equal output
passes and a corrupted one is caught. The smoke test runs every workload
of BENCHMARK.json for one second (plus traced runs of the stream and the
frame-interpreter workload) and requires exactly the named metrics with
their units; it starts one JVM per run, so it takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference as ref  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_corrupted_anchors_are_caught():
    rng = np.random.default_rng(3)
    vocab = gen._vocab(rng, 2000)
    docs = gen.docs_table(rng, vocab, [], 400, 0, gen.BASE_EPOCH, gen.BASE_EPOCH + 3600, 0.3)
    anchors = ref.neardup_anchors(docs)
    assert anchors["anchor"].notna().sum() > 20
    sink = pd.DataFrame({"id": anchors["doc_id"], "partner": anchors["anchor"]})
    assert ref.compare_anchors(sink, anchors, anchors["doc_id"]) == set()
    dup = anchors.index[anchors["anchor"].notna()][0]
    bad = sink.copy()
    bad.loc[dup, "partner"] = None
    assert ref.compare_anchors(bad, anchors, anchors["doc_id"]) == {anchors.loc[dup, "doc_id"]}


def test_corrupted_frames_are_caught(tmp_path):
    manifest = gen.build_json(1, 50, 10)(str(tmp_path), np.random.default_rng(5))
    path = str(tmp_path / manifest["files"][0]["name"])
    expected = ref.json_expected(path)
    table = pa.table(
        {"content": [c.encode() for c, _m in expected],
         "meta": [list(json.loads(m).items()) for _c, m in expected]},
        schema=pa.schema([("content", pa.binary()), ("meta", pa.map_(pa.string(), pa.string()))]),
    )
    assert ref.digest(ref.frames_canonical(table)) == ref.digest(expected)
    content = table.column("content").to_pylist()
    content[0] = content[0].replace(b'"total_cents": ', b'"total_cents": 1')
    corrupted = table.set_column(0, "content", pa.array(content, pa.binary()))
    assert ref.digest(ref.frames_canonical(corrupted)) != ref.digest(expected)


def test_files_map_to_the_micro_batch_that_read_them(tmp_path):
    import workloads as wl

    def write(path, lines):
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("\n".join(["v1", *lines]) + "\n")

    def listed(name, offset):
        return json.dumps({"path": f"file:///in/{name}", "timestamp": 0, "batchId": offset})

    write(tmp_path / "sources" / "0" / "0", [listed("a", 0), listed("b", 0)])
    write(tmp_path / "sources" / "0" / "1", [listed("c", 1)])
    # micro-batch 1 ran without new files (a watermark advance), so the
    # source offset 1 is read by micro-batch 2
    for batch, offset in enumerate([0, 0, 1]):
        write(tmp_path / "offsets" / str(batch), ["{}", json.dumps({"logOffset": offset})])
    write(tmp_path / "offsets" / ".3.tmp", ["{}", json.dumps({"logOffset": 2})])
    assert wl.source_log(str(tmp_path)) == {"a": 0, "b": 0, "c": 2}


def _run(args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(["--workload", BENCH["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_end_to_end_metrics(workload):
    res = _result(_run(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0"]))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())


# spans each traced workload must record, and per-layer metrics that must
# be measured on it (non-zero)
TRACED = {
    "neardup_stream": ({"streaming.sink.run_to_sink", "streaming.sink.write_batch", "streaming.sink._write_data"},
                       ["streaming.neardup.kernel_s", "streaming.state.stores", "streaming.sink.rows_written"]),
    "json_frame_etl": ({"engine.spark_exec.action"},
                       ["engine.spark_exec.frame_kernel_s", "engine.spark_exec.frame_kernel_rows",
                        "streaming.source.split_kernel_s", "engine.spec.frame_mode"]),
}


@pytest.mark.parametrize("workload", sorted(TRACED))
def test_smoke_per_layer_metrics(workload):
    spans, measured = TRACED[workload]
    res = _result(_run(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "1"]))
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert all(res["metrics"][n]["value"] > 0 for n in measured)
    with open(os.path.join(HERE, ".work", f"trace-{workload}-s1.json")) as f:
        trace = json.load(f)
    assert {s["name"] for s in trace["spans"]} >= {"session.get_spark", "engine.spec.lint_spec",
                                                  "engine.spec.Stream"} | spans
    assert all(trace["self_times_s"][s] > 0 for s in spans)
