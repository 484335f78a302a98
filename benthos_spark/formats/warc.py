"""Pure-Python WARC reader — the actual Common Crawl container format
(ISO 28500 / WARC 1.0-1.1, public specification), so the engine's
"Common-Crawl-style pages" pipelines can start from real crawl archives
instead of pre-extracted parquet.

Supported: plain ``.warc`` and ``.warc.gz`` (including Common Crawl's
per-record gzip members — each record its own deflate stream, which is
what makes WARC splittable by offset index); record types response /
request / warcinfo / metadata / revisit (non-response types are parsed
and skipped by the page extractor); HTTP/1.x response payload split
(status line + headers + body), with Transfer-Encoding: chunked bodies
de-chunked.

``warc_pages`` yields exactly the engine's page shape
(url, warc_ts, html, text=None, lang=None) per the input-hint schema:
url from WARC-Target-URI, warc_ts from WARC-Date (ISO 8601), html = the
HTTP response body bytes. Text extraction/language ID are downstream
stages (strip_html, lang_id), not the reader's job.

Spark integration lives in ``ops.multimodal``-style mapInPandas plumbing:
see ``streaming.source.read_warc`` — files arrive whole via the built-in
``binaryFile`` source and records never pass through a shuffle.

``encode_warc`` builds spec-conformant fixtures (optionally with
per-record gzip members) for tests.
"""

from __future__ import annotations

import datetime
import gzip
import struct
import zlib
from typing import Iterator, List, Tuple

# everything a malformed-but-plausible WARC payload can raise
DECODE_ERRORS = (ValueError, struct.error, IndexError, zlib.error, EOFError)

_CRLF = b"\r\n"


_GZ_CHUNK = 1 << 20  # bounded feed per decompress call (see note below)


def _iter_member_spans(b) -> Iterator[Tuple[int, int, bytes]]:
    """(compressed_offset, compressed_length, decompressed_bytes) per gzip
    member, feeding the decompressor BOUNDED chunks of a memoryview.

    r6 scale fix: the old loop passed ``b[i:]`` — a copy of the whole
    remaining archive — to EVERY member's decompressobj, making multi-
    member decode O(members x archive_bytes): a 244 MiB / 3000-member
    Common-Crawl-style archive implied ~700 GB of slicing and effectively
    hung. Chunked feeding is linear and holds one member in memory."""
    mv = memoryview(b)
    i = 0
    n = len(b)
    while i < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)  # gzip wrapper
        out = bytearray()
        start = i
        while True:
            if i >= n:
                raise ValueError("truncated gzip member in WARC stream")
            chunk = mv[i : i + _GZ_CHUNK]
            out += d.decompress(chunk)
            if d.eof:
                i += len(chunk) - len(d.unused_data)
                break
            i += len(chunk)
        if i <= start:
            raise ValueError("gzip member consumed no bytes")
        yield start, i - start, bytes(out)


def _gunzip_members(b: bytes) -> bytes:
    """Decompress ALL concatenated gzip members (Common Crawl writes one
    member per record); chunk-fed via _iter_member_spans — linear in
    archive size regardless of member count."""
    out = bytearray()
    for _off, _clen, raw in _iter_member_spans(b):
        out += raw
    return bytes(out)


def _parse_headers(block: bytes) -> dict:
    """WARC (and HTTP) header block -> {lower-name: value} with
    continuation-line folding per the spec."""
    headers: dict = {}
    last = None
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            continue  # tolerate stray lines (the version line is handled upstream)
        last = name.strip().decode("latin-1").lower()
        headers[last] = value.strip().decode("latin-1")
    return headers


def iter_warc_records(b: bytes) -> Iterator[Tuple[dict, bytes]]:
    """Yield (warc_headers, payload_bytes) for each record in a WARC byte
    stream (plain or gzip). Framing per ISO 28500: version line, header
    block, blank line, Content-Length payload bytes, CRLF CRLF."""
    if b[:2] == b"\x1f\x8b":
        b = _gunzip_members(b)
    i = 0
    n = len(b)
    while i < n:
        # skip inter-record CRLFs
        while i < n and b[i : i + 2] == _CRLF:
            i += 2
        if i >= n:
            return
        eol = b.find(_CRLF, i)
        if eol < 0:
            raise ValueError("truncated WARC version line")
        version = b[i:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(f"expected WARC version line, got {version[:20]!r}")
        hdr_end = b.find(_CRLF + _CRLF, eol)
        if hdr_end < 0:
            raise ValueError("truncated WARC header block")
        headers = _parse_headers(b[eol + 2 : hdr_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("missing/invalid Content-Length in WARC record")
        start = hdr_end + 4
        if start + length > n:
            raise ValueError("truncated WARC payload")
        yield headers, b[start : start + length]
        i = start + length


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-encoded body."""
    out = bytearray()
    i = 0
    while True:
        eol = body.find(_CRLF, i)
        if eol < 0:
            raise ValueError("truncated chunk size line")
        size_token = body[i:eol].split(b";")[0].strip()
        size = int(size_token, 16)
        i = eol + 2
        if size == 0:
            return bytes(out)
        out += body[i : i + size]
        i += size + 2  # skip chunk-data CRLF


def parse_http_response(payload: bytes) -> Tuple[int, dict, bytes]:
    """HTTP response payload -> (status_code, headers, body). De-chunks
    Transfer-Encoding: chunked; leaves Content-Encoding (gzip bodies) to
    the caller — metadata worth preserving at scale, not silently undone."""
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0:
        raise ValueError("no HTTP header/body separator")
    head = payload[:sep]
    body = payload[sep + 4 :]
    eol = head.find(_CRLF)
    status_line = head[:eol] if eol >= 0 else head
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"not an HTTP response: {status_line[:30]!r}")
    status = int(parts[1])
    headers = _parse_headers(head[eol + 2 :] if eol >= 0 else b"")
    if headers.get("transfer-encoding", "").lower() == "chunked":
        body = _dechunk(body)
    return status, headers, body


def warc_pages(b: bytes) -> Iterator[dict]:
    """Extract pages from one WARC file's bytes: one dict per *response*
    record — {url, warc_ts (datetime), html (bytes), status}. Request/
    warcinfo/metadata/revisit records are skipped; response records whose
    HTTP payload fails to parse yield status=None with the raw payload as
    html (kept, not dropped — accounting stays exact)."""
    for headers, payload in iter_warc_records(b):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        ts = None
        raw_ts = headers.get("warc-date")
        if raw_ts:
            try:
                ts = datetime.datetime.fromisoformat(raw_ts.replace("Z", "+00:00"))
                ts = ts.replace(tzinfo=None)  # engine uses TIMESTAMP_NTZ (UTC)
            except ValueError:
                ts = None
        try:
            status, _http_headers, body = parse_http_response(payload)
        except DECODE_ERRORS:
            status, body = None, payload
        yield {"url": url, "warc_ts": ts, "html": body, "status": status}


def _iter_record_spans(b: bytes) -> Iterator[Tuple[int, int, bool]]:
    """(offset, length, is_response) per record of a PLAIN warc byte
    stream — framing walk only, payloads skipped via Content-Length."""
    i = 0
    n = len(b)
    while i < n:
        while i < n and b[i : i + 2] == _CRLF:
            i += 2
        if i >= n:
            return
        start = i
        eol = b.find(_CRLF, i)
        if eol < 0 or not b[i:eol].startswith(b"WARC/"):
            raise ValueError("bad WARC framing in split index pass")
        hdr_end = b.find(_CRLF + _CRLF, eol)
        if hdr_end < 0:
            raise ValueError("truncated WARC header block")
        headers = _parse_headers(b[eol + 2 : hdr_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("missing/invalid Content-Length in WARC record")
        end = hdr_end + 4 + length
        if end > n:
            raise ValueError("truncated WARC payload")
        # consume the trailing CRLF CRLF into this record's span
        while end < n and b[end : end + 2] == _CRLF:
            end += 2
        yield start, end - start, headers.get("warc-type") == "response"
        i = end


def plan_warc_splits(b: bytes, target_bytes: int) -> List[Tuple[int, int, int]]:
    """r6 (r5 verdict ask #4): split plan for ONE archive —
    ``[(offset, length, first_page_seq), ...]`` such that reading each
    [offset, offset+length) slice independently and concatenating the
    page streams reproduces ``warc_pages(b)`` exactly, seq ordinals
    included. Splits align to gzip MEMBER boundaries for Common Crawl
    style per-record-gzip archives (each member is its own deflate
    stream, so a slice at a member boundary is itself a valid .warc.gz)
    and to RECORD boundaries for plain archives. The index pass holds
    one member in memory at a time; page ordinals are counted from the
    record headers only."""
    units: List[Tuple[int, int, int]] = []  # (off, len, n_pages_in_unit)
    if b[:2] == b"\x1f\x8b":
        try:
            for off, clen, raw in _iter_member_spans(b):
                n_pages = sum(
                    1 for _, _, is_resp in _iter_record_spans(raw) if is_resp
                )
                units.append((off, clen, n_pages))
        except DECODE_ERRORS:
            # members are not record-aligned (e.g. bgzip-style block
            # recompression: records span members) — such an archive is
            # readable but not splittable; fall back to ONE whole-file
            # unit so read_warc(split_bytes=...) degrades to the unsplit
            # behavior for this file instead of failing it
            return [(0, len(b), 0)]
    else:
        for off, rlen, is_resp in _iter_record_spans(b):
            units.append((off, rlen, 1 if is_resp else 0))
    splits: List[Tuple[int, int, int]] = []
    cur_off = cur_len = cur_seq = seq = 0
    for off, ulen, n_pages in units:
        if cur_len and cur_len + ulen > target_bytes:
            splits.append((cur_off, cur_len, cur_seq))
            cur_off, cur_len, cur_seq = off, 0, seq
        if not cur_len:
            cur_off, cur_seq = off, seq
        cur_len = off + ulen - cur_off
        seq += n_pages
    if cur_len:
        splits.append((cur_off, cur_len, cur_seq))
    return splits


def encode_warc(
    records: List[dict],
    gzip_members: bool = False,
) -> bytes:
    """Build a spec-conformant WARC fixture. Each record dict:
    {type: 'response'|'request'|..., url, date (ISO str), payload (bytes)}
    — for type='response' pass http_status/http_headers/body instead of a
    raw payload to get a well-formed HTTP payload built for you.
    ``gzip_members=True`` writes one gzip member per record (the Common
    Crawl layout)."""
    out = bytearray()
    for rid, r in enumerate(records):
        if "payload" in r:
            payload = r["payload"]
        else:
            status = int(r.get("http_status", 200))
            body = r.get("body", b"")
            lines = [f"HTTP/1.1 {status} OK".encode()]
            lines += [
                f"{k}: {v}".encode()
                for k, v in (r.get("http_headers") or {}).items()
            ]
            lines.append(f"Content-Length: {len(body)}".encode())
            payload = _CRLF.join(lines) + _CRLF + _CRLF + body
        hdr = [
            b"WARC/1.0",
            f"WARC-Type: {r.get('type', 'response')}".encode(),
            f"WARC-Record-ID: <urn:uuid:fixture-{rid}>".encode(),
            f"WARC-Date: {r.get('date', '2017-01-01T00:00:00Z')}".encode(),
        ]
        if r.get("url"):
            hdr.append(f"WARC-Target-URI: {r['url']}".encode())
        hdr.append(f"Content-Length: {len(payload)}".encode())
        rec = _CRLF.join(hdr) + _CRLF + _CRLF + payload + _CRLF + _CRLF
        out += gzip.compress(bytes(rec)) if gzip_members else rec
    return bytes(out)
