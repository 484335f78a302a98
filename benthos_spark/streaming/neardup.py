"""Streaming near-duplicate dedupe: incremental MinHash-LSH over a
document stream — the streaming-ingest counterpart of the batch
``ops.dedup.minhash_lsh_pairs`` (the reference's dedupe processor covers
exact keys only; near-dup ingest dedupe is the capability a 10^12-doc
web-crawl pipeline actually runs).

Semantics (first-seen keeper): a document is a near-duplicate iff it
shares at least one LSH band with an EARLIER document; its ``anchor`` is
the smallest earlier doc id among those band partners. With in-order
ingest (event-time ordered, the harness contract) this is byte-equal to
the batch/SQL formulation "anchor = min earlier id sharing a band".

Physical plan, stream-shaped end to end:
1. ``minhash_band_rows`` — STATELESS signature computation per row via an
   Arrow-batched ``mapInPandas`` kernel (hashlib's C md5; the identical
   k-lanes-per-digest formula as ``ops.dedup.minhash_wide``, so the DuckDB
   oracle can recompute it). The batch op's groupBy-over-shingles cannot
   run mid-stream; the kernel folds the per-shingle min inside the row.
   Emits ``bands`` rows per doc: (id, ts, band, band_key).
2. one stateful stage, two interchangeable implementations emitting the
   same (id, band, partner) shape:
   - ``streaming_neardup_jvm`` (DEFAULT, the 100 TB path) — all-JVM and
     min-id-exact under any partitioning: built-in windowed min(id)
     aggregation per bucket + stream-stream join.
   - ``streaming_neardup`` — applyInPandasWithState reference
     implementation (exact running-min state; the semantics oracle, and
     the only variant whose per-row emission needs no watermark flush).
3. ``finalize_neardup`` — stateless read-side view over the sink:
   per-doc min(partner) -> (doc_id, anchor, is_keeper).

Scale: the only shuffle is the groupBy on (band, band_key) — the same key
the batch op joins on; state is O(#distinct buckets) longs; documents
never shuffle (only id+band rows do).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..ops.textprep import py_minhash_signature

BAND_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("band_key", T.StringType()),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("min_id", T.LongType())])

OUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("partner", T.LongType()),
    ]
)


# the one shared pure-Python signature formula (ops/textprep.py)
_signature = py_minhash_signature


def minhash_band_rows(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateless (id, ts, band, band_key) rows — ``bands`` per document
    with >= n tokens, none for shorter docs (they can't near-dup, exactly
    like the batch op's empty shingle set). Streaming-safe: a pure
    mapInPandas projection, no aggregation, no shuffle."""
    r = k // bands

    def kernel(it: Iterable[pd.DataFrame]):
        for pdf in it:
            ids, tss, bnd, keys = [], [], [], []
            for did, ts, text in zip(pdf[id_col], pdf[ts_col], pdf[text_col]):
                sig = _signature(text, k, n)
                if sig is None:
                    continue
                for b in range(bands):
                    ids.append(did)
                    tss.append(ts)
                    bnd.append(b)
                    keys.append(",".join(str(sig[h]) for h in range(b * r, (b + 1) * r)))
            if not ids:
                continue  # empty frame would infer float64 for ts (Arrow cast error)
            yield pd.DataFrame(
                {"id": ids, "ts": tss, "band": bnd, "band_key": keys}
            )

    cols = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(text_col).alias(text_col),
    )
    return cols.mapInPandas(kernel, BAND_SCHEMA)


def _bucket_fn(gc_idle_s: float):
    def fn(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        (min_seen,) = state.get if state.exists else (None,)
        rows = []
        last_ts = None
        for pdf in pdf_iter:
            pdf = pdf.sort_values("id")
            for did, ts, band in zip(pdf["id"], pdf["ts"], pdf["band"]):
                did = int(did)
                partner = min_seen if (min_seen is not None and min_seen < did) else None
                rows.append((did, int(band), partner))
                if min_seen is None or did < min_seen:
                    min_seen = did
                t = ts.timestamp() if hasattr(ts, "timestamp") else float(ts)
                last_ts = t if last_ts is None else max(last_ts, t)
        state.update((int(min_seen),))
        if last_ts is not None:
            state.setTimeoutTimestamp(int((last_ts + gc_idle_s) * 1000))
        if rows:
            yield pd.DataFrame(rows, columns=["id", "band", "partner"]).astype(
                {"id": "int64", "band": "int32", "partner": "Int64"}
            )

    return fn


def streaming_neardup(
    band_rows: DataFrame,
    watermark: str | None = "30 minutes",
    ts_col: str = "ts",
    gc_idle_s: float = 86400.0,
) -> DataFrame:
    """Append-mode stream of (id, band, partner): ``partner`` is the
    smallest EARLIER doc id previously seen in this (band, band_key)
    bucket, NULL when the document is first into the bucket. State is one
    long per live bucket, GC'd ``gc_idle_s`` of event time after the
    bucket's last arrival. ``watermark=None`` when an upstream stage
    already defined it."""
    if watermark is not None:
        band_rows = band_rows.withWatermark(ts_col, watermark)
    return band_rows.groupBy("band", "band_key").applyInPandasWithState(
        _bucket_fn(gc_idle_s),
        outputStructType=OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_neardup_jvm(
    band_rows: DataFrame,
    watermark: str = "30 minutes",
    window: str = "6 hours",
    lookback: str = "24 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """All-JVM **exact** variant of :func:`streaming_neardup` — the default
    scale path: no Python anywhere in the stateful chain, and min-id-exact
    under ANY partitioning.

    Formulation: a per-bucket **windowed min aggregation** feeds a
    stream-stream join. ``min(id)`` per (band, band_key, event-time window)
    is a built-in streaming aggregation (hash agg with partial map-side
    combine; one long of state per live bucket-window); each band row then
    joins every window of its bucket whose start lies within ``lookback``
    before it, emitting (id, band, partner = window_min if < id). The
    read-side ``finalize_neardup`` min-aggregates partners per doc exactly
    as for the other variants.

    Exactness (under the in-order ingest contract ts order == id order,
    the same contract the Python op's docstring states): the true anchor
    of doc d is the smallest id e < d sharing a bucket; e lies in some
    window with start <= d's ts, and that window's min m <= e is itself a
    valid earlier partner, so min over matched window-mins == e. Within-
    micro-batch encounter order never matters because ``min`` is
    order-insensitive — a first-arrived keeper (``dropDuplicates``) would
    not be.

    State & output bounds: agg state is one long per live (bucket, window),
    GC'd when the watermark passes the window end; join state is bounded by
    ``lookback`` + ``watermark``. Each band row emits at most
    ceil(lookback/window) rows (one per matched window) — ``window`` is the
    knob trading agg-state granularity against output fan (default 6 h /
    24 h lookback = fan <= 5).

    Emission timing (inherent to append-mode aggregation): a window's min
    emits once the watermark passes its end, so the final windows of a
    bounded replay only flush after later data advances the watermark —
    drive harnesses append a far-future sentinel row (dropped by
    ``finalize_neardup``'s docs join) to flush the tail."""
    wm = band_rows.withWatermark(ts_col, watermark)
    bmins = wm.groupBy(
        "band", "band_key", F.window(ts_col, window).alias("__win")
    ).agg(F.min("id").alias("m_id"))
    mins = bmins.select(
        F.col("band").alias("k_band"),
        F.col("band_key").alias("k_band_key"),
        F.col("__win.start").alias("w_start"),
        "m_id",
    )
    joined = wm.join(
        mins,
        F.expr(
            f"band = k_band AND band_key = k_band_key "
            f"AND w_start <= {ts_col} "
            f"AND w_start >= {ts_col} - interval {lookback}"
        ),
        "inner",
    )
    return joined.select(
        "id",
        "band",
        F.when(F.col("m_id") < F.col("id"), F.col("m_id")).alias("partner"),
    )


def finalize_neardup(
    band_out: DataFrame, docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Read-side view: (doc_id, anchor, is_keeper). ``min(partner)``
    ignores NULLs, so a doc whose every bucket it opened itself (or with
    no bands at all) is a keeper."""
    partners = band_out.groupBy(F.col("id").alias(id_col)).agg(
        F.min("partner").alias("anchor")
    )
    return (
        docs.select(F.col(id_col).cast("long").alias(id_col))
        .join(partners, id_col, "left")
        .select(
            id_col,
            "anchor",
            F.col("anchor").isNull().alias("is_keeper"),
        )
    )
