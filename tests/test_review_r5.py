"""Round-5 self-review regression tests.

Covers the findings of the r5 code-review pass: frame-mode comparison of
two dynamic JSON refs (lexicographic-vs-numeric divergence), statements
after a whole-root content replacement reading the replaced document,
malformed-PNG exception coverage in the pixel paths, neardup ``impl``
validation (and the pre-r5 ``exact`` spelling), the spec runner
surfacing the original CompileError for typed non-compilable pipelines,
the row-local fan-out seq overflow guard, and the ann_topk_ivf nprobe
clamp.
"""

import struct
import zlib

import pandas as pd
import pytest
from pyspark.sql import Row

from benthos_spark.engine.spark_exec import (
    FRAME_SCHEMA,
    _rowlocal_kernel,
    compile_or_frame,
    run_frame_pipeline,
)


def frame(spark, parts):
    rows = [(0, i, c.encode(), m or {}) for i, (c, m) in enumerate(parts)]
    return spark.createDataFrame(rows, FRAME_SCHEMA)


def surviving(df):
    out = df.orderBy("seq").select("content", "meta").collect()
    return [(bytes(r["content"]).decode(), dict(r["meta"] or {})) for r in out]


@pytest.mark.spark
class TestDynamicVsDynamicComparison:
    def test_falls_back_and_compares_numerically(self, spark):
        # {"a":9,"b":10}: native string compare would give "9" > "10" =
        # true and delete the doc; the interpreter computes 9 > 10 = false.
        # Both sides dynamic => must NOT compile natively.
        parts = [('{"a":9,"b":10}', {}), ('{"a":11,"b":10}', {})]
        conf = [{"bloblang": "root = match { a > b => deleted() }"}]
        df = frame(spark, parts)
        _out, mode = compile_or_frame(df, conf)
        assert mode == "frame"
        interp = surviving(run_frame_pipeline(frame(spark, parts), conf))
        assert [c for c, _m in interp] == ['{"a":9,"b":10}']

    def test_dynamic_vs_static_still_native(self, spark):
        # one statically-numeric side keeps the coerced native path
        parts = [('{"n":10}', {}), ('{"n":9}', {})]
        conf = [{"bloblang": "root = match { n > 9 => deleted() }"}]
        _out, mode = compile_or_frame(frame(spark, parts), conf)
        assert mode == "native"


@pytest.mark.spark
class TestStatementsAfterRootReplacement:
    def test_falls_back_to_interpreter(self, spark):
        # compiled get_json_object after the content withColumn would read
        # the REPLACED content ("redacted" has no title); the interpreter
        # resolves against the input doc throughout
        parts = [('{"title":"hello"}', {})]
        conf = [{"bloblang": 'root = "redacted"\nmeta orig = title.uppercase()'}]
        df = frame(spark, parts)
        _out, mode = compile_or_frame(df, conf)
        assert mode == "frame"
        interp = surviving(run_frame_pipeline(frame(spark, parts), conf))
        assert interp == [("redacted", {"orig": "HELLO"})]

    def test_sole_root_replacement_still_native(self, spark):
        parts = [("example content", {})]
        conf = [{"bloblang": 'root = content().uppercase().string()'}]
        _out, mode = compile_or_frame(frame(spark, parts), conf)
        assert mode == "native"


def _corrupt_png() -> bytes:
    """Valid signature + IHDR, garbage zlib in IDAT -> zlib.error inside
    decode_png (not ValueError)."""

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"\x00not zlib at all")
        + chunk(b"IEND", b"")
    )


class TestMalformedPngPassthrough:
    def test_decode_raises_in_decode_errors(self):
        from benthos_spark.formats.pngcodec import DECODE_ERRORS, decode_png

        with pytest.raises(DECODE_ERRORS):
            decode_png(_corrupt_png())

    def test_pixel_decoder_falls_back_to_header(self):
        from benthos_spark.formats.pngcodec import pixel_decoder

        feats = pixel_decoder(_corrupt_png())
        assert feats.get("decoder") != "pixels"

    @pytest.mark.spark
    def test_apply_resize_nulls_not_crash(self, spark):
        from benthos_spark.ops.multimodal import apply_resize

        df = spark.createDataFrame(
            [Row(url="bad", payload=bytearray(_corrupt_png()))]
        )
        rows = apply_resize(df, 2, 2).collect()
        assert len(rows) == 1
        assert rows[0]["out_w"] is None


class TestNeardupImplValidation:
    def _pipe(self, impl):
        from benthos_spark.engine.spark_exec import NativePipeline

        return NativePipeline(
            [{"neardup": {"streaming": True, "impl": impl}}],
            {"doc_id": "string", "text": "string", "ts": "timestamp"},
        )

    # "builtin" and "exact" name no implementation: retired spellings must
    # fail at build, not fall through to a default
    @pytest.mark.parametrize("impl", ["extact_py", "builtin", "exact"])
    def test_unknown_impl_rejected_at_build(self, impl):
        with pytest.raises(ValueError, match="neardup impl"):
            self._pipe(impl)


class TestFanoutSeqOverflowGuard:
    def _run(self, seqs):
        import json

        conf = json.dumps(
            [{"bloblang": 'root = match { content() == "drop" => deleted() }'}]
        )
        pdf = pd.DataFrame(
            {
                "batch_id": [0] * len(seqs),
                "seq": pd.array(seqs, dtype="int64"),
                "content": [b"drop", b"keep"][: len(seqs)],
                "meta": [{}] * len(seqs),
            }
        )
        return pd.concat(list(_rowlocal_kernel(conf)(iter([pdf]))))

    def test_small_seqs_fan_out_fine(self):
        out = self._run([0, 1])
        assert list(out["content"]) == [b"keep"]

    def test_mono_id_scale_seq_raises_clear_error(self):
        # monotonically_increasing_id past partition 1023: seq >= 2^43 —
        # the old code emitted a Python bigint that killed the Arrow cast
        with pytest.raises(RuntimeError, match="grouped mode"):
            self._run([1 << 50, (1 << 50) + 1])


@pytest.mark.spark
class TestIvfNprobeClamp:
    def test_nprobe_beyond_cells_is_brute_force(self, spark):
        from benthos_spark.ops.similarity import ann_topk_ivf

        vecs = [
            Row(vec_id=f"v{i}", embedding=[float((i * 7 + j) % 5) for j in range(8)])
            for i in range(12)
        ]
        emb = spark.createDataFrame(vecs)
        q = spark.createDataFrame(vecs[:2])
        over = ann_topk_ivf(
            emb, q, k=3, n_centroids=4, nprobe=99, dim=8
        ).collect()
        allcells = ann_topk_ivf(
            emb, q, k=3, n_centroids=4, nprobe=4, dim=8
        ).collect()
        key = lambda r: (r["q_id"], r["rk"])  # noqa: E731
        assert sorted(over, key=key) == sorted(allcells, key=key)
        assert len(over) > 0
