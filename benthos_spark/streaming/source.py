"""Streaming sources.

The reference's connector zoo (lib/input/constructor.go:65-98) collapses to
two canonical Spark sources (SURVEY.md §2.1): a table/file stream (the
Iceberg-style path — here a parquet directory stream, format-swappable) and
a deterministic generated stream for tests/bench. Offsets live in the
checkpoint (the analogue of commit-after-ack, lib/input/reader/kafka.go).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..fixtures import pages

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "seq long, text_len int"  # r6: fixture materializes length(text)
)


def pages_file_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream a directory of pages parquet files (the micro-batch admission
    knob maxFilesPerTrigger is the analogue of the input batcher/rate limit)."""
    r = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def read_until(query, condition_fn, poll_s: float = 0.5, timeout_s: float = 300.0) -> None:
    """read_until (lib/input/read_until.go behavior): stop a running
    streaming query once ``condition_fn()`` is true — e.g. a sink row-count
    or metrics threshold. The Spark-native form of condition-gated input."""
    import time

    deadline = time.monotonic() + timeout_s
    while query.isActive and time.monotonic() < deadline:
        if condition_fn():
            query.stop()
            break
        time.sleep(poll_s)
    query.awaitTermination(timeout=timeout_s)


def fan_in(*dfs) -> "DataFrame":
    """input broker fan-in (lib/broker/fan_in.go) = unionByName."""
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def write_pages_input(
    spark: SparkSession,
    path: str,
    n_rows: int,
    n_chunks: int = 4,
    **pages_kw,
) -> None:
    """Materialize the deterministic pages fixture as n_chunks parquet files
    so a file stream sees multiple micro-batches deterministically."""
    os.makedirs(path, exist_ok=True)
    per = n_rows // n_chunks
    full = pages(spark, n_rows, **pages_kw)
    for c in range(n_chunks):
        lo, hi = c * per, (c + 1) * per if c < n_chunks - 1 else n_rows
        full.filter(f"seq >= {lo} AND seq < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(path)


def read_warc(
    spark: SparkSession,
    path: str,
    stream: bool = False,
    max_files_per_trigger: int | None = None,
    split_bytes: int | None = None,
    emit_chunk_rows: int = 2048,
) -> DataFrame:
    """Read WARC archives (the actual Common Crawl container, ISO 28500 —
    plain or per-record-gzip ``.warc.gz``) into the engine's page shape:
    (url, warc_ts, html, text NULL, lang NULL, seq) — text extraction and
    language ID are downstream stages (strip_html / lang_id), exactly as
    with parquet input.

    Files arrive whole through Spark's built-in ``binaryFile`` source (the
    standard WARC-on-Spark layout: one task per archive, records exploded
    inside the task via an Arrow-batched mapInPandas — record bytes never
    shuffle). Memory contract: one WARC file per task in memory at once —
    crawl archives are written ~1 GiB for exactly this reason; set
    ``spark.sql.files.maxPartitionBytes`` has no effect here (binaryFile
    is one-row-per-file), parallelism = number of archive files.
    ``stream=True`` gives the Structured Streaming variant (new archives
    land in the directory -> micro-batches; offsets in the checkpoint).
    ``split_bytes=N`` (batch only, r6) splits each archive across tasks at
    gzip-member/record boundaries in ~N-byte ranges — a two-pass plan
    (index, then ranged reads) that keeps per-task memory at one range and
    gives a few huge archives full-cluster parallelism; (warc_path, seq)
    output identity is byte-identical to the unsplit path (test-pinned).
    ``emit_chunk_rows`` caps the Arrow frame size either way.

    EMPTY archives (zero bytes) yield zero rows; ANY unparseable file —
    non-WARC bytes, truncated records, a stray temp file matched by the
    ``*.warc*`` glob — fails the whole task loudly (corrupt crawl data
    should be quarantined upstream, not silently skipped; r6 ADVICE fix:
    the old wording claimed undecodable archives also yielded zero rows,
    which the kernel never did). ``seq`` is the record
    ordinal within its archive — with the archive path it forms the same
    deterministic identity the parquet fixtures carry."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampNTZType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("warc_path", T.StringType()),
            T.StructField("http_status", T.IntegerType()),
        ]
    )
    cols = [f.name for f in out_schema.fields]

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..formats.warc import warc_pages

        for pdf in it:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                rows = []
                for i, page in enumerate(warc_pages(bytes(content))):
                    rows.append(
                        (
                            page["url"], page["warc_ts"], page["html"],
                            None, None, i, str(fpath), page["status"],
                        )
                    )
                    # r6 (r5 verdict #4b): emit every N records instead of
                    # one frame per archive — peak task memory follows the
                    # chunk, not the archive's page count
                    if len(rows) >= emit_chunk_rows:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    if split_bytes:
        # r6 (r5 verdict #4): SPLIT an archive across tasks. Pass 1
        # indexes each archive's gzip-member/record boundaries into
        # ~split_bytes ranges (formats/warc.plan_warc_splits — per-record
        # gzip members are independent deflate streams, which is exactly
        # what makes Common Crawl archives splittable); pass 2 reads each
        # [offset, offset+length) slice independently, carrying the
        # whole-file page ordinal so (warc_path, seq) identity is
        # byte-identical to the unsplit path (test-pinned). Ranges are
        # collected to the driver — one row per ~split_bytes of input, a
        # bounded plan table. Ranged reads use local file APIs (the
        # sandbox's storage); an object-store deployment would swap the
        # open() for a ranged GET, the plan/kernel shape is unchanged.
        if stream:
            raise ValueError(
                "split_bytes is a batch option (a stream admits whole "
                "archives per trigger via maxFilesPerTrigger)"
            )

        def index_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from ..formats.warc import plan_warc_splits

            for pdf in it:
                for fpath, content in zip(pdf["path"], pdf["content"]):
                    rows = [
                        (str(fpath), off, ln, seq0)
                        for off, ln, seq0 in plan_warc_splits(
                            bytes(content), split_bytes
                        )
                    ]
                    if rows:
                        yield pd.DataFrame(
                            rows, columns=["path", "off", "len", "seq0"]
                        )

        ranges = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc*")
            .load(path)
            .select("path", "content")
            .mapInPandas(index_kernel, "path string, off long, len long, seq0 long")
        ).collect()
        n_part = max(1, min(len(ranges), spark.sparkContext.defaultParallelism * 2))
        rdf = spark.createDataFrame(
            ranges, "path string, off long, len long, seq0 long"
        ).repartition(n_part)

        def range_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from urllib.parse import unquote, urlparse

            from ..formats.warc import warc_pages

            for pdf in it:
                for fpath, off, ln, seq0 in zip(
                    pdf["path"], pdf["off"], pdf["len"], pdf["seq0"]
                ):
                    u = urlparse(str(fpath))
                    local = unquote(u.path) if u.scheme in ("file", "") else None
                    if local is None:
                        raise ValueError(
                            f"ranged WARC read needs a local path, got {fpath!r}"
                        )
                    with open(local, "rb") as fh:
                        fh.seek(int(off))
                        blob = fh.read(int(ln))
                    rows = []
                    for j, page in enumerate(warc_pages(blob)):
                        rows.append(
                            (
                                page["url"], page["warc_ts"], page["html"],
                                None, None, int(seq0) + j, str(fpath),
                                page["status"],
                            )
                        )
                        if len(rows) >= emit_chunk_rows:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                    if rows:
                        yield pd.DataFrame(rows, columns=cols)

        return rdf.mapInPandas(range_kernel, out_schema)

    reader = spark.readStream if stream else spark.read
    r = reader.format("binaryFile").option("pathGlobFilter", "*.warc*")
    if stream:
        # file-stream sources require an explicit schema; binaryFile's is fixed
        r = r.schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        if max_files_per_trigger:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    files = r.load(path).select("path", "content")
    return files.mapInPandas(kernel, out_schema)


def _matched_files(path: str) -> list[str]:
    """The files a ``file`` input reads, in the order that numbers them: a
    directory's regular files, a glob's matches, or the one named file.
    Raises ``ValueError`` naming ``path`` when nothing matches — an input
    that silently reads zero messages hides a typo in the config."""
    import glob as _glob

    if os.path.isdir(path):
        paths = [p for p in _glob.glob(os.path.join(path, "*")) if os.path.isfile(p)]
    elif any(ch in path for ch in "*?["):
        paths = [p for p in _glob.glob(path) if os.path.isfile(p)]
    else:
        paths = [path] if os.path.isfile(path) else []
    if not paths:
        raise ValueError(f"file input: no file matches {path!r}")
    return sorted(paths)


class LineFramer:
    """The file input's framing rules (lib/input/file.go:38-89 +
    lib/input/reader/lines.go:185-215), applied to one whole file: the
    payload splits on ``delimiter``; without multipart every non-empty
    segment is its own single-part batch (empty segments skipped); with
    multipart an empty segment flushes the current batch, and a trailing
    unterminated batch flushes at EOF.

    Batch ids are ``file ordinal << 32 | batch index within the file`` —
    a pure function of the sorted file list and the file's bytes, so they
    do not depend on how files are packed into tasks or Arrow batches.
    Holds no Spark objects: it ships to the Python workers."""

    def __init__(self, paths: list[str], delimiter: str = "\n", multipart: bool = False):
        self.fid = {os.path.abspath(p): i for i, p in enumerate(paths)}
        self.delimiter = delimiter.encode("utf-8")
        self.multipart = multipart

    def __call__(self, uri, content: bytes):
        """Yield ``(batch_id, local_path, parts)`` for each batch of the file
        at ``uri`` (a ``binaryFile`` path) whose bytes are ``content``."""
        from urllib.parse import unquote, urlparse

        local = unquote(urlparse(str(uri)).path)
        base = self.fid[os.path.abspath(local)] << 32
        segs = bytes(content).split(self.delimiter)
        if segs and segs[-1] == b"":
            segs.pop()  # trailing delimiter, not an empty segment
        if not self.multipart:
            for i, seg in enumerate(s for s in segs if s):
                yield base + i, local, [seg]
            return
        bidx, batch = 0, []
        for seg in segs:
            if seg:
                batch.append(seg)
            elif batch:
                yield base + bidx, local, batch
                bidx, batch = bidx + 1, []
        if batch:
            yield base + bidx, local, batch


class FileInput:
    """A ``file``/``files`` input: the matched files as ``binaryFile`` rows
    ``(path, content)`` — one row holds one whole file, so a batch never
    spans rows — plus the framer that cuts each file into batches.

    ``frames()`` gives the standalone message frames; frame mode over a
    file input instead runs the framer and the processor chain in one
    Python pass per file (``engine.spark_exec.run_file_frame_pipeline``)."""

    def __init__(self, spark: SparkSession, path: str, delimiter: str = "\n", multipart: bool = False):
        paths = _matched_files(path)
        self.framer = LineFramer(paths, delimiter, multipart)
        self.files = spark.read.format("binaryFile").load(paths).select("path", "content")

    def frames(self) -> DataFrame:
        """The message frames ``(batch_id, seq, content, meta)``, one row per
        part, with ``meta['path']`` = the source file."""
        from ..engine.spark_exec import FRAME_SCHEMA

        framer = self.framer

        def split_files(pdf_iter):
            import pandas as pd

            for pdf in pdf_iter:
                rows = [
                    (batch_id, seq, seg, {"path": local})
                    for uri, content in zip(pdf["path"], pdf["content"])
                    for batch_id, local, segs in framer(uri, content)
                    for seq, seg in enumerate(segs)
                ]
                yield pd.DataFrame(rows, columns=FRAME_SCHEMA.fieldNames())

        return self.files.mapInPandas(split_files, FRAME_SCHEMA)


def file_lines_input(
    spark: SparkSession,
    path: str,
    delimiter: str = "\n",
    multipart: bool = False,
) -> DataFrame:
    """file input with custom delimiter + multipart batching, as message
    frames (batch_id, seq, content, meta) — framing rules and batch ids in
    ``LineFramer``, ``meta['path']`` = the source file. Parallelism unit =
    one file per task (the reference reads one file in one goroutine).

    The native and frame-native compile paths read these frames. When a
    chain falls back to the frame interpreter, ``engine.spec.Stream`` does
    not use them: it runs ``FileInput.framer`` and the chain in one
    ``mapInPandas`` over the files, with no batch_id shuffle. Raises
    ``ValueError`` when ``path`` matches no file."""
    return FileInput(spark, path, delimiter, multipart).frames()


def has_kafka(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector jar is on the classpath
    (same jar-gating pattern as sink.has_iceberg)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def kafka_frame_stream(
    spark: SparkSession,
    addresses: list[str],
    topics: list[str],
    start_oldest: bool = True,
    extra_options: dict | None = None,
) -> DataFrame:
    """kafka input (lib/input/reader/kafka.go:28-103) mapped to Structured
    Streaming's kafka source, emitting the schemaless message frame:
    value -> content, headers+topic/partition/offset -> meta. Offsets live
    in the CHECKPOINT, not the broker (commit-after-ack upgraded to
    exactly-once; consumer_group is therefore not mapped). Requires the
    spark-sql-kafka connector jar (--packages on a real cluster; absent in
    this container — construction raises a clear error at load())."""
    from pyspark.sql import functions as F

    r = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", ",".join(addresses))
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", "earliest" if start_oldest else "latest")
    )
    for k, v in (extra_options or {}).items():
        r = r.option(k, v)
    raw = r.load()
    return raw.select(
        F.xxhash64("topic", "partition", "offset").alias("batch_id"),
        F.lit(0).alias("seq"),
        F.col("value").alias("content"),
        F.map_from_arrays(
            F.array(F.lit("kafka_topic"), F.lit("kafka_partition"), F.lit("kafka_offset")),
            F.array(F.col("topic"), F.col("partition").cast("string"), F.col("offset").cast("string")),
        ).alias("meta"),
    )
