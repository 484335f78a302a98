"""Unit tests for the training-data operator suite on crafted near-dup data."""

import os

import pytest
from pyspark.sql import functions as F

from benthos_spark.ops.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from benthos_spark.ops.multimodal import (
    decode_strict,
    extract_media_features,
    frame_sample_plan,
)
from benthos_spark.ops.similarity import ann_topk_bruteforce, ann_topk_lsh
from benthos_spark.ops.textstats import lang_id, quality_score, token_count

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")

BASE = "the quick brown fox jumps over the lazy dog again and again today"
DOCS = [
    (0, BASE),
    (1, BASE),                                  # exact dup of 0
    (2, BASE.replace("lazy", "sleepy")),        # near dup
    (3, "completely different words entirely unrelated to anything else"),
    (4, BASE + " with a small suffix added"),   # near dup
    (5, "der hund und die katze und das haus und der baum und die nicht"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.mark.spark
class TestDedup:
    def test_exact_dedup_groups(self, spark, docs):
        out = {r["keep_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
        assert out[0] == 2  # docs 0,1 merged
        assert sum(out.values()) == 6

    def test_ngram_jaccard_finds_near_dups(self, spark, docs):
        pairs = {
            (r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5, n=2).collect()
        }
        assert (0, 1) in pairs
        assert (0, 2) in pairs or (1, 2) in pairs
        assert not any(3 in p for p in pairs)

    def test_minhash_lsh_candidates_superset_of_exact_dups(self, spark, docs):
        pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, k=16, bands=4, n=2).collect()}
        assert (0, 1) in pairs  # identical docs always collide in every band
        assert not any(3 in p for p in pairs)

    def test_simhash_near_for_near_dups(self, spark, docs):
        vals = {r["id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
        assert vals[0] == vals[1]
        ham02 = bin(vals[0] ^ vals[2]).count("1")
        ham03 = bin(vals[0] ^ vals[3]).count("1")
        assert ham02 < ham03

    def test_simhash_pairs_banding_complete_for_small_hamming(self, spark, docs):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_pairs(docs, bits=16, max_hamming=2).collect()
        }
        # brute-force oracle
        vals = {r["id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
        want = {}
        ids = sorted(vals)
        for i in ids:
            for j in ids:
                if i < j:
                    h = bin(vals[i] ^ vals[j]).count("1")
                    if h <= 2:
                        want[(i, j)] = h
        assert got == want and (0, 1) in got


@pytest.mark.spark
class TestSimilarity:
    def test_ann_bruteforce_self_similarity(self, spark):
        import random

        rng = random.Random(42)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(16)], 0) for i in range(50)]
        # vec 40 = copy of vec 0 -> must be each other's top neighbor
        rows[40] = (40, rows[0][1], 0)
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        out = ann_topk_bruteforce(emb, emb.filter("vec_id = 0"), k=3).collect()
        top = [r["n_id"] for r in sorted(out, key=lambda r: r["rk"])]
        assert top[0] == 40

    def test_ann_lsh_candidates_share_bucket(self, spark):
        import random

        rng = random.Random(7)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(16)], 0) for i in range(80)]
        rows[70] = (70, rows[1][1], 0)
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        out = ann_topk_lsh(
            emb, emb.filter("vec_id = 1"), k=3, bands=8, planes_per_band=4, dim=16
        ).collect()
        assert any(r["n_id"] == 70 and r["rk"] == 1 for r in out)

    def test_ann_ivf_exact_copy_found_and_recall_scales_with_nprobe(self, spark):
        """IVF with the deterministic random codebook: an exact copy of the
        query must surface (it lands in the same cell by construction), and
        recall@5 vs brute force must grow with nprobe (measured 0.56 / 0.74 /
        0.94 at nprobe 4/8/12 on the sf0.001 embeddings — floors set with
        margin)."""
        import os

        from benthos_spark.ops.similarity import ann_topk_ivf

        emb = spark.read.parquet(
            os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
            + "/embeddings.parquet"
        )
        q = emb.filter("vec_id < 10")
        truth = {
            (r["q_id"], r["n_id"])
            for r in ann_topk_bruteforce(emb, q, k=5, dim=64).collect()
        }
        recalls = {}
        for nprobe in (4, 12):
            got = {
                (r["q_id"], r["n_id"])
                for r in ann_topk_ivf(emb, q, k=5, nprobe=nprobe, dim=64).collect()
            }
            recalls[nprobe] = len(truth & got) / len(truth)
        assert recalls[4] >= 0.4, recalls
        assert recalls[12] >= 0.85, recalls
        assert recalls[12] >= recalls[4], recalls

    def test_ann_ivf_assignment_is_shuffle_free(self, spark):
        """Cell assignment must be a pure projection: no Exchange between
        the embeddings scan and the cid column (array_max over
        (score,-cid,cid) structs — never a per-row window)."""
        import os

        from benthos_spark.ops.similarity import ann_topk_ivf, ivf_centroids
        from pyspark.sql import functions as F

        emb = spark.read.parquet(
            os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
            + "/embeddings.parquet"
        )
        from benthos_spark.ops.similarity import _ivf_score_structs

        assigned = emb.select(
            "vec_id",
            F.array_max(
                _ivf_score_structs(F.col("embedding"), ivf_centroids(64, 16))
            ).getField("cid").alias("cid"),
        )
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


@pytest.mark.spark
class TestTextStats:
    def test_lang_id_german_stopwords(self, spark, docs):
        out = {r["doc_id"]: r["lang_guess"] for r in lang_id(docs).collect()}
        assert out[5] == "de"
        assert out[0] == "en"

    def test_token_count(self, spark, docs):
        out = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
        assert out[0] == len(BASE.split())

    def test_quality_monotone_in_length(self, spark, docs):
        out = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
        assert 0 <= min(out.values()) and max(out.values()) <= 1


@pytest.mark.spark
class TestMultimodal:
    def test_fake_featurizer_deterministic(self, spark, docs):
        payloads = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.encode("text", "utf-8").alias("bin"),
        )
        out1 = {
            r["media_id"]: (r["features"]["n_bytes"], r["features"]["head_hex"], r["features"]["byte_entropy"])
            for r in extract_media_features(payloads, "bin", "doc_id").collect()
        }
        out2 = {
            r["media_id"]: (r["features"]["n_bytes"], r["features"]["head_hex"], r["features"]["byte_entropy"])
            for r in extract_media_features(payloads, "bin", "doc_id").collect()
        }
        assert out1 == out2
        assert out1["0"][0] == len(BASE.encode())
        assert out1["0"][1] == BASE.encode()[:8].hex()

    def test_strict_decoder_is_a_stub(self):
        with pytest.raises(NotImplementedError):
            decode_strict(b"\x89PNG...")

    def test_frame_sample_plan_fanout(self, spark, docs):
        plan = frame_sample_plan(
            docs.select(F.col("doc_id").cast("string").alias("url")), every_n=4
        )
        assert plan.count() == 6 * 4


@pytest.mark.spark
class TestSpecRunner:
    def test_yaml_spec_end_to_end(self, spark, tmp_path):
        from benthos_spark.engine.spec import run_spec

        spec = f"""
input:
  generate: {{rows: 5000, fixture: pages, n_hosts: 20}}
pipeline:
  processors:
    - bloblang: |
        url_host = url.split("/").index(2)
        text_len = text.length()
        root = match {{
          text.length() < 40 => deleted()
        }}
    - dedupe: {{key: '${{! json("url") }}'}}
output:
  memory: {{}}
"""
        df = run_spec(spark, spec)
        assert df.count() == df.select("url").distinct().count()
        assert "url_host" in df.columns

    def test_yaml_spec_streaming_to_sink(self, spark, tmp_path):
        from benthos_spark.engine.spec import run_spec
        from benthos_spark.streaming.sink import IdempotentSink
        from benthos_spark.streaming.source import write_pages_input

        in_dir = str(tmp_path / "in")
        write_pages_input(spark, in_dir, 2000, n_chunks=2, n_hosts=10)
        spec = {
            "input": {"stream": {"path": in_dir}},
            "pipeline": {
                "processors": [
                    {"bloblang": 'url_host = url.split("/").index(2)'},
                ]
            },
            "output": {
                "sink": {
                    "path": str(tmp_path / "out"),
                    "checkpoint": str(tmp_path / "ckpt"),
                }
            },
        }
        run_spec(spark, spec)
        got = IdempotentSink(str(tmp_path / "out")).read(spark)
        assert got.count() == 2000


@pytest.mark.spark
class TestSpecWindowDedupe:
    def test_yaml_window_dedupe_batch(self, spark):
        from benthos_spark.engine.spec import run_spec

        with open(os.path.join(EXAMPLES, "batch_dedup_report.yaml")) as f:
            spec = f.read()
        df = run_spec(spark, spec)
        rows = df.collect()
        assert rows
        assert {"win_start", "url_host", "n_pages"} <= set(df.columns)

    def test_yaml_streaming_window_dedupe(self, spark, tmp_path):
        import yaml as _yaml

        from benthos_spark.engine.spec import run_spec
        from benthos_spark.streaming.sink import IdempotentSink
        from benthos_spark.streaming.source import write_pages_input

        with open(os.path.join(EXAMPLES, "flagship_streaming.yaml")) as f:
            spec = _yaml.safe_load(f)
        in_dir = str(tmp_path / "in")
        # ~83 minutes of event time so several 10-minute windows pass the
        # watermark and finalize in append mode
        write_pages_input(spark, in_dir, 5000, n_chunks=2, n_hosts=20, rows_per_sec=1)
        spec["input"]["stream"]["path"] = in_dir
        spec["pipeline"]["processors"][1]["dedupe"]["watermark"] = "1 minute"
        spec["pipeline"]["processors"][2]["window"]["watermark"] = "1 minute"
        spec["output"]["sink"]["path"] = str(tmp_path / "out")
        spec["output"]["sink"]["checkpoint"] = str(tmp_path / "ckpt")
        run_spec(spark, spec)
        got = IdempotentSink(str(tmp_path / "out")).read(spark)
        assert {"win_start", "url_host", "n_pages"} <= set(got.columns)
        assert got.count() > 0


@pytest.mark.spark
class TestGraph:
    def test_connected_components_multi_hop(self, spark):
        from benthos_spark.ops.graph import connected_components

        # chain 0-1-2-3, pair 10-11, self-contained triangle 20-21-22
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
            "id_a long, id_b long",
        )
        got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_dedup_clusters_keeps_singletons(self, spark):
        from benthos_spark.ops.graph import dedup_clusters

        docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        pairs = spark.createDataFrame([(1, 4), (4, 5)], "id_a long, id_b long")
        got = {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in dedup_clusters(docs, pairs).collect()}
        assert got == {0: (0, True), 1: (1, True), 2: (2, True), 3: (3, True),
                       4: (1, False), 5: (1, False)}


@pytest.mark.spark
class TestMultimodalPlans:
    def test_resize_plan_aspect(self, spark):
        from benthos_spark.ops.multimodal import resize_plan

        df = spark.createDataFrame(
            [("a", 1920, 1080), ("b", 100, 100), ("c", 256, 256)],
            "url string, width int, height int",
        )
        got = {r["url"]: (r["out_w"], r["out_h"], r["is_noop"])
               for r in resize_plan(df, 256, 256).collect()}
        assert got["a"] == (256, 144, False)
        assert got["b"] == (256, 256, False)
        assert got["c"] == (256, 256, True)

    def test_audio_chunk_plan(self, spark):
        from benthos_spark.ops.multimodal import audio_chunk_plan

        df = spark.createDataFrame([("a", 65_000), ("b", 10_000)], "url string, duration_ms long")
        rows = audio_chunk_plan(df, chunk_ms=30_000).collect()
        a = sorted((r["chunk_idx"], r["offset_ms"], r["length_ms"]) for r in rows if r["media_id"] == "a")
        assert a == [(0, 0, 30000), (1, 30000, 30000), (2, 60000, 5000)]
        b = [(r["offset_ms"], r["length_ms"]) for r in rows if r["media_id"] == "b"]
        assert b == [(0, 10000)]

    def test_kafka_source_mapping_gated(self, spark):
        """Without the kafka connector jar, construction must fail with a
        clear data-source error (the mapping itself is exercised on real
        clusters via --packages)."""
        from benthos_spark.streaming.source import kafka_frame_stream

        try:
            df = kafka_frame_stream(spark, ["localhost:9092"], ["t"])
        except Exception as exc:
            assert "kafka" in str(exc).lower()
            return
        assert set(df.columns) == {"batch_id", "seq", "content", "meta"}


class TestLintSpec:
    def test_clean_spec_lints_empty(self):
        from benthos_spark.engine.spec import lint_spec

        assert lint_spec("""
input: {parquet: {path: /tmp/x}}
pipeline:
  processors:
    - bloblang: "a = b"
output: {memory: {}}
""") == []

    def test_errors_collected(self):
        from benthos_spark.engine.spec import lint_spec

        errs = lint_spec({
            "input": {"quantum_entanglement": {}},
            "pipeline": {"processors": [
                {"bloblang": "root = match {"},
                {"avro": {"operator": "to_json", "schema": '{"type":"nope"}'}},
                {"frobnicate": {}},
            ]},
            "output": {"memory": {}},
        })
        assert len(errs) == 4
        assert any("quantum" in e for e in errs)
        assert any("processors[0]" in e for e in errs)
        assert any("nope" in e for e in errs)
        assert any("frobnicate" in e for e in errs)


class TestLshSelectivityRegime:
    def test_derive_banding_points(self):
        """Charikar-formula derivation: more planes per band as the
        threshold rises (precision), bands chosen for >= 0.95 recall."""
        from benthos_spark.ops.similarity import derive_banding

        assert derive_banding(0.35) == (20, 4)
        assert derive_banding(0.95) == (15, 16)
        # planes grow monotonically with the threshold
        planes = [derive_banding(t)[1] for t in (0.35, 0.6, 0.85, 0.95)]
        assert planes == sorted(planes)

    def _planted(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        base = rng.normal(size=(50, 64))
        rows = []
        for i, v in enumerate(base):
            rows.append((i, (v / np.linalg.norm(v)).tolist()))
        for j in range(25):
            v = base[j] + rng.normal(scale=0.05, size=64)
            rows.append((100 + j, (v / np.linalg.norm(v)).tolist()))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def _candidate_pairs(self, spark, emb, bands, planes):
        from pyspark.sql import functions as F

        from benthos_spark.ops.similarity import srp_band_buckets

        b = srp_band_buckets(
            emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")),
            "v", 64, bands, planes,
        )
        l, r = b.alias("l"), b.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
            .distinct()
            .collect()
        )
        return {(r2["a"], r2["b"]) for r2 in cand}

    def test_derived_banding_high_threshold_prunes_and_recalls(self, spark):
        """DERIVED banding at the 0.95 regime (r4 verdict ask #5): hard
        pruning with ~full recall on planted cos~0.99 dups."""
        from benthos_spark.ops.similarity import derive_banding

        bands, planes = derive_banding(0.95)
        pairs = self._candidate_pairs(spark, self._planted(spark), bands, planes)
        all_pairs = 75 * 74 // 2
        assert len(pairs) < 0.10 * all_pairs, (len(pairs), all_pairs)
        planted = {(j, 100 + j) for j in range(25)}
        assert len(planted & pairs) >= 24, f"recall {len(planted & pairs)}/25"

    def test_derived_banding_low_threshold_keeps_recall(self, spark):
        """DERIVED banding at the 0.35 regime: recall stays full for the
        planted dups; the candidate rate is high by design — that is what
        recall at theta ~ 69 deg costs (documented, not a flaw)."""
        from benthos_spark.ops.similarity import derive_banding

        bands, planes = derive_banding(0.35)
        pairs = self._candidate_pairs(spark, self._planted(spark), bands, planes)
        planted = {(j, 100 + j) for j in range(25)}
        assert planted <= pairs, "derived low-threshold banding lost a dup"

    def test_rerank_uses_derived_defaults(self, spark):
        """neardup_lsh_rerank without explicit banding derives it from the
        threshold and still returns exactly the planted >= 0.95 pairs."""
        from benthos_spark.ops.similarity import neardup_lsh_rerank

        out = neardup_lsh_rerank(self._planted(spark), threshold=0.95)
        got = {(r["id_a"], r["id_b"]) for r in out.collect()}
        planted = {(j, 100 + j) for j in range(25)}
        # all planted pairs found modulo the ~0.95 recall target
        assert len(planted & got) >= 24

    def test_high_threshold_banding_prunes_and_recalls(self, spark):
        """At true near-dup thresholds the banding must PRUNE (candidate
        rate << all-pairs) while keeping ~full recall — the 100 TB claim.
        Synthetic set: 50 base vectors + 25 jittered dups (cos ~0.99)."""
        import math
        import random

        import numpy as np
        from pyspark.sql import functions as F

        from benthos_spark.ops.similarity import srp_band_buckets

        rng = np.random.default_rng(7)
        base = rng.normal(size=(50, 64))
        rows = []
        for i, v in enumerate(base):
            rows.append((i, (v / np.linalg.norm(v)).tolist()))
        for j in range(25):  # dup of base[j] with small jitter
            v = base[j] + rng.normal(scale=0.05, size=64)
            rows.append((100 + j, (v / np.linalg.norm(v)).tolist()))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        b = srp_band_buckets(
            emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")),
            "v", 64, 24, 12,
        )
        l, r = b.alias("l"), b.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
            .distinct()
            .collect()
        )
        pairs = {(r2["a"], r2["b"]) for r2 in cand}
        n = 75
        all_pairs = n * (n - 1) // 2
        # prunes: way below the cross product
        assert len(pairs) < 0.15 * all_pairs, (len(pairs), all_pairs)
        # recalls: every planted dup pair is a candidate
        planted = {(j, 100 + j) for j in range(25)}
        found = planted & pairs
        assert len(found) >= 24, f"recall {len(found)}/25"


def test_minhash_lane_extraction_equivalence():
    """r6: py_minhash_signature reads lanes from digest() bytes; pin the
    byte-slice arithmetic to the original hexdigest-slice formula."""
    import hashlib

    from benthos_spark.ops.textprep import _LANE_EXTRACT

    for s in (b"hello", b"0|a b c", b"3|lorem ipsum", b"", b"\x00\xff"):
        h = hashlib.md5(s)
        hx, db = h.hexdigest(), h.digest()
        for lane, ex in enumerate(_LANE_EXTRACT):
            assert ex(db) == int(hx[7 * lane : 7 * lane + 7], 16), (s, lane)


def test_minhash_signature_matches_naive_formula():
    """r6: the optimized kernel equals the straightforward spec text."""
    import hashlib
    import re

    from benthos_spark.ops.textprep import MINHASH_LANES, py_minhash_signature

    def naive(text, k, n):
        norm = re.sub(r"[^a-z0-9]+", " ", (text or "").lower()).strip()
        toks = norm.split(" ") if norm else []
        if len(toks) < n:
            return None
        sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        sig = [None] * k
        for s in sh:
            digests = [
                hashlib.md5(f"{salt}|{s}".encode()).hexdigest()
                for salt in range((k + MINHASH_LANES - 1) // MINHASH_LANES)
            ]
            for hh in range(k):
                salt, lane = divmod(hh, MINHASH_LANES)
                v = int(digests[salt][7 * lane : 7 * lane + 7], 16)
                if sig[hh] is None or v < sig[hh]:
                    sig[hh] = v
        return sig

    texts = [
        "The quick brown fox jumps over the lazy dog",
        "lorem ipsum DOLOR sit amet, consectetur!!",
        "a b",
        "",
        None,
        "one-token",
        "x " * 200 + "tail words here",
    ]
    for t in texts:
        for k, n in ((16, 3), (16, 2), (6, 2), (4, 3)):
            assert py_minhash_signature(t, k, n) == naive(t, k, n), (t, k, n)


def test_ivf_score_structs_sql_equals_column_form(spark):
    """r6: the F.expr fast path of _ivf_score_structs must be
    value-identical to the original Column-tree construction (exact
    comparison of every rounded score/struct)."""
    import os

    from pyspark.sql import functions as F

    from benthos_spark.ops.similarity import (
        _ivf_score_structs,
        _ivf_score_structs_column,
        ivf_centroids,
    )

    emb = spark.read.parquet(
        os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
        + "/embeddings.parquet"
    )
    cents = ivf_centroids(64, 16, seed=7)
    new = _ivf_score_structs(F.col("embedding"), cents)
    old = _ivf_score_structs_column(F.col("embedding"), cents)
    assert emb.select((new != old).alias("neq")).filter("neq").count() == 0
    # a non-trivial Column expression must take the fallback and stay valid
    fb = _ivf_score_structs(F.transform(F.col("embedding"), lambda x: x * 2), cents[:2])
    assert emb.select(fb.alias("s")).limit(1).count() == 1
