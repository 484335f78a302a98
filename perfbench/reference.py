"""Reference results computed outside the engine, and the comparisons.

- near-dup: the k-lane MinHash-LSH formula of the repository's DuckDB
  oracle (``__spark_entry__.oracle_sql()["streaming_neardup"]``): anchor
  = smallest earlier doc id sharing any band. The oracle evaluates md5
  once per hex digit; here md5 runs once per (salt, shingle) and each lane
  reads its 7 hex digits with one cast, the same numbers ~30x faster.
- JSON frames: the three Bloblang mappings restated in plain Python.

Every compare function returns the set of keys that mismatched, so a
stream can charge the failure to the input files behind them.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow as pa

NEARDUP_WINDOW_S = 6 * 3600
NEARDUP_LOOKBACK_S = 24 * 3600


def _con(**tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for name, t in tables.items():
        con.register(name, t)
    return con


def _epoch_us(s: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.astype("datetime64[us]").astype("int64")
    return s.astype("int64")


# ---------------------------------------------------------------- near-dup
_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
NEARDUP_SQL = f"""
with t as (select doc_id, epoch(ts) as ts_s,
                  (case when {_NORM} = '' then [] else str_split({_NORM}, ' ') end) as toks
           from documents),
sh as (select distinct doc_id, s from t,
         unnest([toks[i] || ' ' || toks[i+1] for i in range(1, greatest(len(toks), 1))]) u(s)),
dg as (select doc_id, salt, md5(salt::VARCHAR || '|' || s) as d from sh, range(0, 4) r(salt)),
hs as (select doc_id, salt * 4 + lane as h,
              min(('0x' || substring(d, 1 + 7 * lane, 7))::BIGINT) as sig
       from dg, range(0, 4) l(lane) group by all),
band as (select doc_id, h // 4 as band, string_agg(sig::VARCHAR, ',' order by h) as band_key
         from hs group by doc_id, h // 4),
bt as (select band.*, t.ts_s from band join t using (doc_id))
select d.doc_id, p.anchor
from t d left join (
  select b.doc_id, min(a.doc_id) as anchor
  from bt b join bt a
    on a.band = b.band and a.band_key = b.band_key and a.doc_id < b.doc_id
   and a.ts_s - a.ts_s % {NEARDUP_WINDOW_S} >= b.ts_s - {NEARDUP_LOOKBACK_S}
  group by b.doc_id) p using (doc_id)
"""


def neardup_anchors(docs: pa.Table) -> pd.DataFrame:
    """(doc_id, anchor) for every document; anchor NULL for keepers. The
    lookback condition mirrors the stream's join bound (a partner's 6-hour
    window must start within 24 hours before the document)."""
    return _con(documents=docs).execute(NEARDUP_SQL).fetchdf()


def compare_anchors(sink_rows: pd.DataFrame, ref: pd.DataFrame, required: pd.Series) -> set:
    """doc_ids among ``required`` whose streamed anchor (min partner over
    the sink's (id, band, partner) rows; NULL when none) differs."""
    got = sink_rows.groupby("id")["partner"].min() if len(sink_rows) else pd.Series(dtype="float64")
    r = ref[ref["doc_id"].isin(required)].set_index("doc_id")["anchor"]
    g = got.reindex(r.index)
    same = (g.isna() & r.isna()) | (g == r)
    return set(r.index[~same])


# ---------------------------------------------------------------- json
def json_expected(path: str) -> list[tuple]:
    """The frame pipeline restated: drop spam, set meta region/tier, then
    restructure. Returns (canonical content, canonical meta) pairs."""
    out = []
    with open(path, "rb") as f:
        for line in f:
            if not line.strip():
                continue
            doc = json.loads(line)
            if doc.get("type") == "spam":
                continue
            meta = {"path": os.path.basename(path), "region": doc["region"], "tier": doc["user"]["tier"]}
            content = {
                "id": doc["id"],
                "user": doc["user"]["name"].upper(),
                "n_items": len(doc["items"]),
                "total_cents": sum(i["qty"] * i["price_cents"] for i in doc["items"]),
                "tags": [t.lower() for t in doc["tags"]],
                "body": doc["body"],
            }
            out.append((json.dumps(content, sort_keys=True), json.dumps(meta, sort_keys=True)))
    return out


def frames_canonical(table: pa.Table) -> list[tuple]:
    """(canonical content, canonical meta) pairs of an output frame table."""
    out = []
    for content, meta in zip(table.column("content").to_pylist(), table.column("meta").to_pylist()):
        m = dict(meta or [])
        if "path" in m:
            m["path"] = os.path.basename(m["path"])
        out.append((json.dumps(json.loads(content), sort_keys=True), json.dumps(m, sort_keys=True)))
    return out


def digest(pairs) -> str:
    h = hashlib.sha256()
    for c, m in sorted(pairs):
        h.update(c.encode() + b"\t" + m.encode() + b"\n")
    return h.hexdigest()
