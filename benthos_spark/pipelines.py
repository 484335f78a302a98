"""Canonical pipelines (the north-rule flagship shape).

``pages_windowed_dedupe_agg`` is the engine's flagship: mapping -> exact
dedupe on url (keep first by seq) -> tumbling window aggregate per host.

Plan discipline (verified with .explain — every aggregate is a
HashAggregate, zero sorts):
- project to the slim frame before any exchange (html/text never shuffle)
- dedupe exploits the north-rule invariant (duplicate urls carry
  byte-identical payload): winner timestamp travels as one packed LONG
  (seq << 34 | epoch) through ``min``; payload columns via ``min`` over
  identical values; host re-derived from the group key. All primitive
  buffers -> pure hash aggregation with map-side combine.
  (``min_by(struct)``/``first(string)`` would silently force SortAggregate —
  a full sort of the table at 100 TB.)
- the window aggregate is algebraic, so partial aggregation absorbs
  hot-host skew map-side; salting is reserved for non-algebraic aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_TS_BITS = 34  # epoch seconds < 2^34 until year 2514


def pages_windowed_dedupe_agg(
    df: DataFrame,
    window_size: str = "10 minutes",
    min_text_len: int = 40,
    watermark: str | None = None,
    hash_key: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, seq) -> per-(window, host) aggregate.

    Batch and streaming: pass a watermark for streaming append mode (the
    dedupe step then uses dropDuplicatesWithinWatermark instead of the
    packed-min batch aggregation, which needs finite groups).

    hash_key=True dedupes on xxhash64(url) instead of the url string — the
    reference's own ``dedupe.hash: xxhash`` mode (lib/processor/dedupe.go
    hash option): ~60% less shuffle/agg-key memory at billions of keys, at
    the documented risk of 64-bit collisions.

    Precomputed-length contract (r6): an input that already carries a
    ``text_len`` column (== length(text); ingestion layouts routinely
    materialize n_chars — the harness documents table does, and the pages
    fixture now does, equality test-pinned) is trusted, skipping the
    per-row re-count. A NULL text_len falls back to length(text), so a
    partially populated column (or a pre-text_len parquet dir read through
    PAGES_DDL, which surfaces it as all-NULL) loses no rows; a populated
    one costs one null check per row. Computing
    length() of a ~500-char string per row was
    60% of flagship wall time at 20M rows — and because the length filter
    sits below the projection, Catalyst's filter pushdown re-inlined the
    expression and evaluated the substring+walk TWICE per surviving row
    (the §4.4 duplicate-evaluation shape, with plain expressions). A
    precomputed column is a plain attribute: one cheap comparison, no
    double eval."""
    text_len = F.length("text")
    if "text_len" in df.columns:
        text_len = F.coalesce(F.col("text_len"), text_len)
    slim = (
        df.withColumn("text_len", text_len)
        .filter(F.col("text_len") >= min_text_len)
        .select("url", "warc_ts", "seq", "text_len")
    )
    if df.isStreaming:
        deduped = (
            slim.withWatermark("warc_ts", watermark or "30 minutes")
            .dropDuplicatesWithinWatermark(["url"])
            .select(
                F.split("url", "/")[2].alias("url_host"), "warc_ts", "text_len"
            )
        )
        agg_src = deduped
    else:
        packed = F.shiftleft(F.col("seq"), _TS_BITS) + F.unix_timestamp("warc_ts")
        if hash_key:
            keyed = slim.withColumn("url_host", F.split("url", "/")[2])
            g = keyed.groupBy(F.xxhash64("url").alias("__uh"), "url_host").agg(
                F.min(packed).alias("__p"),
                F.min("text_len").alias("text_len"),
            )
            agg_src = g.select(
                "url_host",
                F.timestamp_seconds(
                    F.col("__p").bitwiseAND(F.lit((1 << _TS_BITS) - 1))
                ).alias("warc_ts"),
                "text_len",
            )
        else:
            g = slim.groupBy("url").agg(
                F.min(packed).alias("__p"),
                # identical across duplicates of a url (north-rule invariant)
                F.min("text_len").alias("text_len"),
            )
            agg_src = g.select(
                F.split("url", "/")[2].alias("url_host"),
                F.timestamp_seconds(
                    F.col("__p").bitwiseAND(F.lit((1 << _TS_BITS) - 1))
                ).alias("warc_ts"),
                "text_len",
            )
    return (
        agg_src.groupBy(F.window("warc_ts", window_size).alias("win"), "url_host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("text_len").alias("total_chars"),
            F.max("warc_ts").alias("max_ts"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "url_host",
            "n_pages",
            "total_chars",
            "max_ts",
        )
    )
