"""Plan-shape regression guards: the physical plans the scale story depends
on must not silently degrade (SortAggregate creep, lost pushdown, lost
broadcast)."""

import pytest
from pyspark.sql import functions as F

from benthos_spark.fixtures import pages
from benthos_spark.pipelines import pages_windowed_dedupe_agg


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.spark
class TestPlanShape:
    def test_flagship_has_no_sort_aggregate(self, spark):
        df = pages_windowed_dedupe_agg(pages(spark, 1000, rows_per_sec=100))
        plan = plan_of(df)
        assert "SortAggregate" not in plan, plan
        assert "HashAggregate" in plan
        df2 = pages_windowed_dedupe_agg(
            pages(spark, 1000, rows_per_sec=100), hash_key=True
        )
        assert "SortAggregate" not in plan_of(df2)

    def test_flagship_prunes_html_column(self, spark):
        # html (the fattest column) must never be generated or shuffled
        df = pages_windowed_dedupe_agg(pages(spark, 1000, rows_per_sec=100))
        assert "html" not in optimized_of(df)

    def test_parquet_scan_pushdown(self, spark, tmp_path):
        p = str(tmp_path / "li")
        pages(spark, 5000, rows_per_sec=100).write.parquet(p)
        df = (
            spark.read.parquet(p)
            .filter(F.col("lang") == "en")
            .select("url", "lang")
        )
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan
        assert "ReadSchema: struct<url:string,lang:string>" in plan, plan

    def test_enrich_join_broadcasts_dim(self, spark):
        from benthos_spark.fixtures import enrich_side
        from benthos_spark.streaming.enrich import enrich_static

        df = pages(spark, 1000).withColumn("host", F.split("url", "/")[2])
        out = enrich_static(df, enrich_side(spark, 10), on="host")
        assert "BroadcastHashJoin" in plan_of(out)

    def test_minhash_signatures_has_no_exchange(self, spark):
        from benthos_spark.ops.dedup import minhash_signatures

        docs = spark.createDataFrame(
            [(0, "a b c d e"), (1, "b c d e f")], "doc_id long, text string"
        )
        # the Arrow kernel folds the per-shingle min in the row: no
        # aggregation, so no exchange below the long-form stack
        plan = plan_of(minhash_signatures(docs, k=8, n=2))
        assert "Exchange" not in plan.split("Generate")[0], plan


@pytest.mark.spark
class TestEngineStagePlans:
    """Round-2 scale-killer guards: the engine stages behind the oracle
    queries must keep the distributed plan shapes."""

    def _docs(self, spark):
        import os
        return spark.read.parquet(os.path.join("/root/testdata/sf0.001", "documents.parquet"))

    def test_split_has_no_single_partition_exchange(self, spark):
        from benthos_spark.engine.spark_exec import NativePipeline

        docs = self._docs(spark)
        pipe = NativePipeline([{"split": {"size": 10, "order_by": ["doc_id"]}}], dict(docs.dtypes))
        plan = plan_of(pipe(docs))
        assert "Exchange SinglePartition" not in plan, plan
        # the range exchange that globally orders the data runs inside
        # global_row_number's localCheckpoint job (r5: persist -> checkpoint
        # to un-pin the CacheManager), so the visible plan starts at the
        # checkpointed scan; the offset join must still be broadcast and the
        # only visible data shuffle is the _pid window's ENSURE_REQUIREMENTS
        # hash exchange
        assert "Scan ExistingRDD" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert plan.count("Exchange hashpartitioning") <= 1, plan

    def test_archive_is_two_level_hash_agg(self, spark):
        from benthos_spark.engine.spark_exec import NativePipeline

        docs = self._docs(spark)
        pipe = NativePipeline(
            [{"archive": {"group_by": ["lang"], "order_col": "doc_id",
                          "text_col": "text", "chunk": 64}}],
            dict(docs.dtypes),
        )
        plan = plan_of(pipe(docs))
        assert "Exchange SinglePartition" not in plan, plan
        # level-1 agg keyed by (lang, _chunk): raw text buffers bounded by chunk
        assert "_chunk" in plan, plan
        assert "ObjectHashAggregate" in plan or "HashAggregate" in plan

    def test_extracted_text_byte_identical_per_url(self, spark):
        """North-rule per-row invariant (BASELINE.json input_hint): text
        extracted from the html column must be byte-identical to the
        reference text per url — on BOTH execution surfaces (compiled
        strip_html and the Python interpreter), which must agree with each
        other (reference: bluemonday strict policy — tags stripped,
        entities decoded then re-escaped to the Go html.EscapeString set,
        see htmlstrip.py)."""
        from benthos_spark.bloblang.interp import Interpreter, Part
        from benthos_spark.bloblang.parser import parse_mapping
        from benthos_spark.engine.spark_exec import NativePipeline

        df = pages(spark, 3000, n_hosts=50)
        pipe = NativePipeline(
            [{"bloblang": "extracted = html.string().strip_html()"}], dict(df.dtypes)
        )
        out = pipe(df)
        assert out.filter(F.col("extracted") != F.col("text")).count() == 0
        # interpreter surface agrees byte-for-byte on sample rows
        interp = Interpreter()
        mapping = parse_mapping('root.extracted = this.html.strip_html()')
        import json as _json

        for r in df.select("html", "text").limit(20).collect():
            part = Part(_json.dumps({"html": bytes(r["html"]).decode()}).encode(), {})
            res = interp.map_part(mapping, [part], 0)
            assert _json.loads(res.content)["extracted"] == r["text"]

    def test_rowlocal_frame_chain_has_no_exchange(self, spark):
        # part-local codec chains (avro/encode/hash/...) must run via
        # mapInPandas over natural partitions — no shuffle (r2 verdict #3)
        from benthos_spark.engine.spark_exec import frame_from_strings, run_frame_pipeline

        frame = frame_from_strings(spark, [b"hello", b"world"])
        out = run_frame_pipeline(
            frame,
            [{"encode": {"scheme": "base64"}}, {"hash": {"algorithm": "sha256"}}],
        )
        plan = plan_of(out)
        assert "Exchange" not in plan, plan
        assert "MapInPandas" in plan, plan
        assert out.count() == 2
        # a batch-scoped stage in the chain still routes through grouped mode
        grouped = run_frame_pipeline(frame, [{"split": {"size": 1}}])
        assert "MapInPandas" not in plan_of(grouped)

    def test_rowlocal_frame_chain_matches_grouped_mode(self, spark):
        # the two execution surfaces must agree part-for-part
        import json as _json

        from benthos_spark.engine.spark_exec import (
            _kernel, frame_from_strings, FRAME_OUT_SCHEMA, run_frame_pipeline,
        )

        # dense per-batch seq — the invariant every frame source guarantees;
        # row-local mode passes (batch_id, seq) through, grouped mode
        # renumbers densely, so they agree exactly on dense input
        frame = (
            frame_from_strings(spark, [f"msg-{i}".encode() for i in range(7)])
            .withColumn("batch_id", (F.col("seq") / 3).cast("long"))
            .withColumn("seq", F.col("seq") % 3)
        )
        conf = [{"encode": {"scheme": "base64"}}]
        fast = run_frame_pipeline(frame, conf)
        slow = frame.groupBy("batch_id").applyInPandas(
            _kernel(_json.dumps(conf)), FRAME_OUT_SCHEMA
        )
        key = lambda r: (r["batch_id"], r["seq"], bytes(r["content"]))
        assert sorted(map(key, fast.collect())) == sorted(map(key, slow.collect()))

    def test_select_parts_uses_window_group_limit(self, spark):
        from benthos_spark.engine.spark_exec import NativePipeline

        docs = self._docs(spark)
        pipe = NativePipeline(
            [{"select_parts": {"parts": [0, 1, 2], "group_by": ["lang"], "order_col": "doc_id"}}],
            dict(docs.dtypes),
        )
        plan = plan_of(pipe(docs))
        assert "WindowGroupLimit" in plan, plan

    def test_global_row_number_matches_global_sort(self, spark):
        from pyspark.sql import Window

        from benthos_spark.ops.indexing import global_row_number

        docs = self._docs(spark).select("doc_id")
        fast = {r["doc_id"]: r["rn"] for r in global_row_number(docs, ["doc_id"]).collect()}
        slow = {
            r["doc_id"]: r["rn"]
            for r in docs.withColumn(
                "rn", F.row_number().over(Window.orderBy("doc_id")) - 1
            ).collect()
        }
        assert fast == slow


@pytest.mark.spark
class TestNearDupScalePaths:
    """Round-2: the oracle-checked near-dup defaults must be bucketed
    (equi-join plans, no nested-loop/cartesian), and the LSH variants must
    hold a recall floor against their exact baselines."""

    def _emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_lsh_plans_have_no_nested_loop(self, spark):
        from benthos_spark.ops.dedup import simhash_pairs
        from benthos_spark.ops.similarity import ann_topk_lsh, neardup_lsh_rerank

        emb = self._emb(spark)
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        for df in (
            neardup_lsh_rerank(emb, threshold=0.35, dim=64),
            ann_topk_lsh(emb, emb.filter(F.col("vec_id") < 10), k=5, dim=64),
            simhash_pairs(docs, bits=16, max_hamming=2),
        ):
            plan = plan_of(df)
            assert "BroadcastNestedLoopJoin" not in plan, plan
            assert "CartesianProduct" not in plan, plan

    def test_ann_lsh_recall_floor(self, spark):
        from benthos_spark.ops.similarity import ann_topk_bruteforce, ann_topk_lsh

        emb = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 10)
        exact = {(r["q_id"], r["n_id"]) for r in ann_topk_bruteforce(emb, q, k=5, dim=64).collect()}
        approx = {(r["q_id"], r["n_id"]) for r in ann_topk_lsh(emb, q, k=5, dim=64).collect()}
        # cosine values of returned pairs are oracle-hash-checked by the
        # driver; here: seeded recall@5 vs brute force (measured 1.0 at the
        # default bands=32/planes=4; floor leaves headroom for data drift)
        assert len(approx & exact) / len(exact) >= 0.9

    def test_neardup_lsh_is_subset_with_recall(self, spark):
        from benthos_spark.ops.similarity import embedding_neardup_pairs, neardup_lsh_rerank

        emb = self._emb(spark)
        exact = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(emb, threshold=0.35, dim=64).collect()}
        lsh = {(r["id_a"], r["id_b"]) for r in neardup_lsh_rerank(emb, threshold=0.35, dim=64).collect()}
        assert lsh <= exact  # exact re-rank -> no false positives
        assert len(lsh & exact) / max(len(exact), 1) >= 0.9
