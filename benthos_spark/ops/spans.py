"""Exact substring-span dedup — the k-token-window family of corpus
deduplication (the Lee et al. 2022 "Deduplicating Training Data Makes
Language Models Better" recipe, public), distributively.

MinHash/SimHash find near-duplicate DOCUMENTS; C4 line dedup finds repeated
LINES; this finds verbatim k-token SPANS repeated across documents —
boilerplate sentences, licence blocks, templated passages — even when the
containing documents are otherwise unrelated. Per document: slide a k-token
window, hash each span (md5 — engine-portable, so the DuckDB oracle shares
the exact formula), mark spans whose hash occurs in MORE THAN ONE document,
and report per-doc counts plus the duplicated fraction.

Scale shape: tokenization and span hashing run in one Arrow-batched
kernel (hashlib's C md5); only (doc_id, 16-byte span hash) rows shuffle —
one hash aggregation over span hashes plus one hash join back, the same
discipline as the C4 duplicate-line op (`textstats.duplicate_line_stats`).
Text never shuffles. At 100 TB the span-hash table is the working set;
k controls its size (bigger k -> fewer, more-specific spans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _span_hash_rows_arrow(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, h) span-hash rows via an Arrow-batched kernel — hashlib's C md5
    instead of interpreted collection lambdas (~12 us/span measured for a
    Catalyst HOF path vs ~2 us here). The 16-byte digest BYTES, not the
    32-char hexdigest, are the key: the hash is internal (only counts leave
    the op), so the shuffled key is half as wide at identical collision
    safety. NULL h for docs shorter than k tokens (mirrors explode_outer)."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("h", T.BinaryType())]
    )

    def kernel(it):
        for pdf in it:
            ids, hs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in (text or "").lower().split(" ") if t != ""]
                if len(toks) >= k:
                    for i in range(len(toks) - k + 1):
                        ids.append(did)
                        hs.append(
                            hashlib.md5(" ".join(toks[i : i + k]).encode()).digest()
                        )
                else:
                    ids.append(did)
                    hs.append(None)
            if ids:
                yield pd.DataFrame({"id": ids, "h": hs})

    return docs.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).mapInPandas(kernel, schema)


def duplicate_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """(id, n_spans, n_dup_spans, dup_fraction): per-document count of
    k-token spans, how many of them also occur verbatim in at least one
    OTHER document, and the duplicated fraction (0.0 for docs shorter
    than k tokens)."""
    spans = _span_hash_rows_arrow(docs, text_col, id_col, k)
    # r6: the span frame feeds BOTH the cross-doc count agg and the
    # join-back — without materialization the hashing kernel runs twice
    # (2 MapInPandas nodes in the plan). (id, 16-byte hash) rows are the
    # op's declared working set ("the span-hash table is the working set"
    # — module docstring), so checkpointing them is the standard shape;
    # lazy, so construction/explain stay job-free.
    spans = spans.localCheckpoint(eager=False)
    # hashes seen in >1 distinct doc; only (h, id) pairs ever shuffle
    cross = (
        spans.where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("h")
    )
    marked = spans.join(cross.withColumn("dup", F.lit(1)), on="h", how="left")
    return marked.groupBy("id").agg(
        F.count("h").alias("n_spans"),
        F.count("dup").alias("n_dup_spans"),
        F.when(F.count("h") > 0,
               F.count("dup") / F.count("h")).otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )


def sql_span_ctes(text_expr: str, src: str, id_expr: str = "doc_id", k: int = 8) -> str:
    """DuckDB CTE chain mirroring :func:`duplicate_span_stats`; emits
    relation ``c`` with columns (id, n_spans, n_dup_spans, dup_fraction)."""
    return f"""
t as (select {id_expr} as id,
  list_filter(string_split(lower({text_expr}), ' '), x -> x <> '') as toks
  from {src}),
sp as (select id,
  unnest(list_transform(range(1, greatest(len(toks) - {k} + 2, 1)),
                        i -> md5(array_to_string(toks[i:i+{k}-1], ' ')))) as h
  from t),
cross_h as (select h from sp group by h having count(distinct id) > 1),
per as (select sp.id,
  count(*)::BIGINT as n_spans,
  count(cross_h.h)::BIGINT as n_dup_spans
  from sp left join cross_h on sp.h = cross_h.h
  group by sp.id),
c as (select t.id,
  coalesce(per.n_spans, 0)::BIGINT as n_spans,
  coalesce(per.n_dup_spans, 0)::BIGINT as n_dup_spans,
  case when coalesce(per.n_spans, 0) > 0
       then coalesce(per.n_dup_spans, 0)::DOUBLE / per.n_spans::DOUBLE
       else 0.0 end as dup_fraction
  from t left join per on t.id = per.id)"""
