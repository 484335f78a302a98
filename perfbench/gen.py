"""Seeded input generators for the benchmark.

Every input the program reads is written here with pyarrow (never with
Spark), from ``numpy.random.default_rng(seed)``: the same (seed, size)
gives byte-identical files. Datasets are cached on disk by (kind, seed,
size) so repeated runs of one seed skip generation; only the newest few
per kind are kept.

Two shapes:

- docs: (doc_id, text, ts) word documents; a fixed share are near copies
  (one word changed) of a recent earlier document. doc_id order equals ts
  order, the near-dup operator's in-order ingest contract.
- json: JSON lines in the shape of Benthos cookbook traffic (nested user,
  item list, tags, free-text body, a spam type to filter), in batches: a
  blank line ends each batch (the file input's ``multipart`` framing).

Event time of a stream file follows its due time: file ``i`` covers
``[BASE + i * span_s, BASE + (i + 1) * span_s)``, so windows close as the
open loop advances.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = 1_735_689_600  # 2025-01-01T00:00:00Z
KEEP_CACHED = 3


def _vocab(rng: np.random.Generator, n: int) -> list[bytes]:
    letters = rng.integers(97, 123, size=(n, 10), dtype=np.uint8)
    lens = rng.integers(2, 11, size=n)
    words = {bytes(row[:ln]) for row, ln in zip(letters, lens)}
    return sorted(words)


def _word_blob(rng: np.random.Generator, n_bytes: int) -> np.ndarray:
    vocab = _vocab(rng, 4000)
    idx = rng.integers(0, len(vocab), size=n_bytes // 6 + 64)
    return np.frombuffer(b" ".join(vocab[i] for i in idx), dtype=np.uint8)


def _texts(rng: np.random.Generator, blob: np.ndarray, lens: np.ndarray) -> pa.Array:
    """String array of consecutive slices of the blob (cycled from a
    random start) with the given lengths: one memcpy, no per-row work."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if len(ends) else 0
    start = int(rng.integers(0, len(blob)))
    data = np.tile(blob, total // len(blob) + 2)[start : start + total]
    offsets = np.concatenate([[0], ends]).astype(np.int32)
    return pa.StringArray.from_buffers(
        len(lens), pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())
    )


def _ts(epoch_s: np.ndarray) -> pa.Array:
    return pa.array((epoch_s * 1e6).astype(np.int64), pa.timestamp("us", tz="UTC"))


# ---------------------------------------------------------------- docs
def docs_table(
    rng: np.random.Generator,
    vocab: list[bytes],
    recent: list[list[bytes]],
    n: int,
    id0: int,
    t0: float,
    t1: float,
    dup_share: float,
) -> pa.Table:
    """``n`` documents with ids id0.. and increasing ts in [t0, t1). A
    ``dup_share`` of them copy a document from ``recent`` (the last few
    hundred generated, carried across files) with one word replaced."""
    texts = []
    for _ in range(n):
        if recent and rng.random() < dup_share:
            words = list(recent[int(rng.integers(max(0, len(recent) - 300), len(recent)))])
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(12, 40)))]
        recent.append(words)
        texts.append(b" ".join(words).decode())
    del recent[:-400]
    ts = t0 + (t1 - t0) * (np.arange(n) + 0.5) / n
    return pa.table(
        {
            "doc_id": pa.array(id0 + np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "ts": _ts(ts),
        }
    )


# ---------------------------------------------------------------- json
_TYPES = ["order", "order", "order", "refund", "spam"]
_TIERS = ["free", "silver", "gold"]
_REGIONS = ["eu-west", "eu-central", "us-east", "us-west", "ap-south"]


def json_lines(rng: np.random.Generator, blob: np.ndarray, n: int, id0: int) -> bytes:
    """``n`` JSON lines, integer-valued so every serializer agrees."""
    vocab = [w.decode() for w in _vocab(rng, 600)]
    body = _texts(rng, blob, rng.integers(60, 360, n)).to_pylist()
    kind, region, name, tier, n_items, n_tags = (
        rng.integers(0, hi, n).tolist()
        for hi in (len(_TYPES), len(_REGIONS), len(vocab), len(_TIERS), 5, 4)
    )
    draws = iter(rng.integers(0, 1 << 30, 3 * 4 * n).tolist())
    tag_ix = iter(rng.integers(0, len(vocab), 3 * n).tolist())
    enc = json.JSONEncoder(separators=(",", ":")).encode
    out = []
    for i in range(n):
        rec = {
            "id": id0 + i,
            "type": _TYPES[kind[i]],
            "region": _REGIONS[region[i]],
            "user": {"name": vocab[name[i]], "tier": _TIERS[tier[i]]},
            "items": [
                {"sku": f"SKU-{next(draws) % 5000}", "qty": 1 + next(draws) % 5,
                 "price_cents": 99 + next(draws) % 19901}
                for _ in range(1 + n_items[i] % 4)
            ],
            "tags": [vocab[next(tag_ix)].upper() for _ in range(n_tags[i])],
            "body": body[i],
        }
        out.append(enc(rec))
    return ("\n".join(out) + "\n").encode()


# ---------------------------------------------------------------- cache
class Dataset:
    """A generated directory of numbered files plus a JSON manifest."""

    def __init__(self, path: str):
        self.path = path
        with open(os.path.join(path, "_manifest.json")) as f:
            self.manifest = json.load(f)

    @property
    def files(self) -> list[str]:
        return [os.path.join(self.path, f["name"]) for f in self.manifest["files"]]


def cached(work: str, kind: str, seed: int, size: str, build) -> Dataset:
    """Return the dataset (kind, seed, size) under ``work``, building it
    with ``build(tmp_dir, rng) -> manifest`` when absent. The rename makes
    a half-built directory impossible to mistake for a finished one."""
    root = os.path.join(work, "data")
    path = os.path.join(root, f"{kind}-s{seed}-{size}")
    if not os.path.exists(os.path.join(path, "_manifest.json")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = build(tmp, np.random.default_rng([seed, sum(map(ord, kind))]))
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    os.utime(path)
    olds = sorted(
        (os.path.getmtime(os.path.join(root, d)), d)
        for d in os.listdir(root)
        if d.startswith(kind + "-s") and not d.endswith(".tmp")
    )
    for _, d in olds[:-KEEP_CACHED]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return Dataset(path)


def write_parquet_files(tmp: str, tables) -> dict:
    files = []
    for i, t in enumerate(tables):
        name = f"f{i:05d}.parquet"
        pq.write_table(t, os.path.join(tmp, name))
        files.append({"name": name, "rows": t.num_rows})
    return {"files": files}


def build_docs(n_files: int, docs_per_file: int, span_s: float, dup_share: float):
    def build(tmp, rng):
        vocab = _vocab(rng, 20000)
        recent: list = []
        return write_parquet_files(
            tmp,
            (
                docs_table(
                    rng, vocab, recent, docs_per_file, i * docs_per_file,
                    BASE_EPOCH + i * span_s, BASE_EPOCH + (i + 1) * span_s, dup_share,
                )
                for i in range(n_files)
            ),
        )

    return build


def build_json(n_files: int, lines_per_file: int, batch_lines: int):
    def build(tmp, rng):
        blob = _word_blob(rng, 1 << 20)
        files = []
        for i in range(n_files):
            name = f"f{i:05d}.jsonl"
            lines = json_lines(rng, blob, lines_per_file, i * lines_per_file).splitlines(keepends=True)
            with open(os.path.join(tmp, name), "wb") as f:
                for j in range(0, len(lines), batch_lines):
                    f.write(b"".join(lines[j : j + batch_lines]) + b"\n")
            files.append({"name": name, "rows": lines_per_file})
        return {"files": files}

    return build


def table_of(ds: Dataset) -> pa.Table:
    """All parquet files of a dataset as one table, with a ``file`` column."""
    parts = []
    for f in ds.manifest["files"]:
        t = pq.read_table(os.path.join(ds.path, f["name"]))
        parts.append(t.append_column("file", pa.array([f["name"]] * t.num_rows)))
    return pa.concat_tables(parts)
