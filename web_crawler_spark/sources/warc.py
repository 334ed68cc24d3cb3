"""WARC / WET read path (ISO 28500, the Common Crawl container) on the
stdlib — the ingest half of the engine's Common-Crawl interop (the export
half is ``plans/report.py``'s WARC/WET/WAT record writers).

The reference crawler fetches live HTTP (pacong/core/engine.py:60-96); a
100 TB-corpus engine ingests the same pages from WARC archives instead, so
this module parses real WARC/1.0 record streams:

* record framing by ``Content-Length`` octets (payloads may legally contain
  the ``CRLF CRLF`` separator, so splitting on it would be wrong),
* ``response`` records whose payload is a full HTTP message
  (``Content-Type: application/http``) — the HTTP header block is split
  off, the status code surfaced, and the entity body returned,
* ``conversion`` records (WET extracted-text files) and bare
  ``text/html`` payloads (this engine's own export) returned as-is,
* gzip transport, including the Common-Crawl layout of one gzip member
  per record — stdlib ``GzipFile`` reads concatenated members as one
  stream, and decompression is bounded so a hostile archive cannot OOM
  an executor (same discipline as ``sources/sitemap.py``).

``warc_scan`` distributes the parse exactly like ``sitemap_scan``: archive
files load as ``binaryFile`` rows and each parses inside an Arrow-batched
``mapInPandas`` stage with per-file error isolation (one corrupt archive
yields a single warc_type='error' row instead of failing the stage — the
F5 discipline, engine.py:83-90 in the reference).
"""

from __future__ import annotations

import gzip
import io

# Decompressed-size ceiling per archive file. Common Crawl caps .warc.gz
# shards at ~1 GiB compressed / <5 GiB raw; a single binaryFile task must
# hold the decompressed shard, so the bound is a memory contract, not a
# format limit. Callers ingesting bigger shards lower the split size
# upstream instead of raising this blindly.
MAX_WARC_BYTES = 1024 * 1024 * 1024


def _gunzip_bounded(data: bytes, max_bytes: int) -> bytes:
    """Decompress (possibly multi-member) gzip with a hard output bound."""
    out, total = [], 0
    with gzip.GzipFile(fileobj=io.BytesIO(data)) as gf:
        while True:
            chunk = gf.read(1 << 20)
            if not chunk:
                break
            total += len(chunk)
            if total > max_bytes:
                raise ValueError(f"WARC exceeds {max_bytes} decompressed bytes")
            out.append(chunk)
    return b"".join(out)


def _dechunk(body: bytes) -> bytes:
    """Decode a Transfer-Encoding: chunked entity body (RFC 9112 §7.1):
    hex size line (chunk extensions after ';' ignored) + CRLF + data +
    CRLF, terminated by a 0-size chunk (trailer section dropped). Real
    Common-Crawl WARCs store the raw response bytes, so chunked bodies
    appear verbatim. On any framing violation the ORIGINAL bytes are
    returned — better a raw-but-present payload than a dropped record."""
    out, i, n = [], 0, len(body)
    try:
        while True:
            eol = body.index(b"\r\n", i)
            size = int(body[i:eol].split(b";", 1)[0].strip() or b"0", 16)
            i = eol + 2
            if size == 0:
                return b"".join(out)
            if i + size + 2 > n or body[i + size:i + size + 2] != b"\r\n":
                return body
            out.append(body[i:i + size])
            i += size + 2
    except (ValueError, IndexError):
        return body


def _split_http_payload(payload: bytes):
    """HTTP message → (status code or None, entity body). Tolerates a
    missing header block (returns the payload unchanged); chunked
    transfer coding is decoded so downstream text extraction sees the
    entity bytes, not the wire framing."""
    if not payload.startswith(b"HTTP/"):
        return None, payload
    cut = payload.find(b"\r\n\r\n")
    if cut == -1:
        return None, payload
    head = payload[:cut].decode("latin-1", "replace")
    status = None
    first = head.split("\r\n", 1)[0].split()
    if len(first) >= 2 and first[1].isdigit():
        status = int(first[1])
    body = payload[cut + 4 :]
    for line in head.lower().split("\r\n")[1:]:
        if line.startswith("transfer-encoding") and "chunked" in line:
            body = _dechunk(body)
            break
    return status, body


def parse_warc(data: bytes, max_bytes: int = MAX_WARC_BYTES) -> list[dict]:
    """WARC bytes (optionally gzipped) → record dicts in document order:
    ``{warc_type, url, warc_date, content_type, http_status, payload}``.
    ``payload`` for response records is the HTTP entity body (headers
    stripped); for everything else the raw record block. A malformed
    record raises — per-FILE isolation lives in the scan stage, keeping
    this function an honest parser for tests and fixtures."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_bounded(data, max_bytes)
    records, pos, n = [], 0, len(data)
    while pos < n:
        # inter-record gap: CRLF pairs per spec, plus bare LFs (this
        # engine's own text-sink export emits one per row)
        while pos < n and data[pos] in b"\r\n":
            pos += 1
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(f"expected WARC version line at offset {pos}")
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end == -1:
            raise ValueError("truncated WARC header block")
        headers = {}
        for line in data[pos:hdr_end].decode("utf-8", "replace").split("\r\n")[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get("content-length", "0"))
        except ValueError as exc:
            raise ValueError(f"bad Content-Length: {exc}") from exc
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError("truncated WARC payload")
        payload = data[body_start : body_start + clen]
        pos = body_start + clen
        warc_type = headers.get("warc-type", "")
        content_type = headers.get("content-type", "")
        status = None
        if content_type.lower().startswith("application/http"):
            status, payload = _split_http_payload(payload)
        url = headers.get("warc-target-uri") or None
        if url and url.startswith("<") and url.endswith(">"):
            url = url[1:-1]  # some writers angle-bracket the URI
        records.append(
            {
                "warc_type": warc_type,
                "url": url,
                "warc_date": headers.get("warc-date"),
                "content_type": content_type or None,
                "http_status": status,
                "payload": payload,
            }
        )
    return records


def warc_record_bytes(
    url: str,
    date: str,
    body: bytes,
    warc_type: str = "response",
    content_type: str = "application/http; msgtype=response",
    http_status: int = 200,
) -> bytes:
    """One WARC/1.0 record as bytes — fixture/export helper mirroring the
    column-side writers in ``plans/report.py``. response records wrap
    the body in a minimal HTTP/1.1 message (the Common Crawl shape);
    other types carry the body raw."""
    if warc_type == "response" and content_type.lower().startswith("application/http"):
        payload = (
            f"HTTP/1.1 {http_status} OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
    else:
        payload = body
    head = (
        f"WARC/1.0\r\nWARC-Type: {warc_type}\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\nContent-Type: {content_type}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def warc_gz_bytes(records: list[bytes]) -> bytes:
    """Concatenate records as one gzip member each — the Common Crawl
    .warc.gz layout (readers can seek to a member boundary and start)."""
    return b"".join(gzip.compress(r, mtime=0) for r in records)


def warc_rows_stage(df):
    """(path, content binary) → (warc_path, warc_type, url, warc_date,
    content_type, http_status, payload binary) — one archive per task-row,
    Arrow-batched. A corrupt/oversized archive isolates to a single
    warc_type='error' row carrying the exception text in ``url``."""
    import pandas as pd

    from pyspark.sql import types as ST

    schema = ST.StructType(
        [
            ST.StructField("warc_path", ST.StringType()),
            ST.StructField("warc_type", ST.StringType()),
            ST.StructField("url", ST.StringType()),
            ST.StructField("warc_date", ST.StringType()),
            ST.StructField("content_type", ST.StringType()),
            ST.StructField("http_status", ST.IntegerType()),
            ST.StructField("payload", ST.BinaryType()),
        ]
    )
    cols = ("warc_type", "url", "warc_date", "content_type", "http_status", "payload")

    def gen(batches):
        for pdf in batches:
            out = {"warc_path": []}
            out.update({k: [] for k in cols})
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    recs = parse_warc(bytes(content))
                except Exception as exc:  # noqa: BLE001 — isolate any bad file
                    recs = [{
                        "warc_type": "error",
                        "url": f"{type(exc).__name__}: {exc}",
                        "warc_date": None, "content_type": None,
                        "http_status": None, "payload": None,
                    }]
                for r in recs:
                    out["warc_path"].append(path)
                    for k in cols:
                        out[k].append(r[k])
            yield pd.DataFrame(out)

    return df.select("path", "content").mapInPandas(gen, schema)


def warc_scan(spark, path: str):
    return warc_rows_stage(
        spark.read.format("binaryFile").load(path).select("path", "content")
    )


# --------------------------------------------------------------------------
# ARC v1/v2 — the legacy Internet Archive / pre-2008 Common Crawl container
# --------------------------------------------------------------------------


def parse_arc(data: bytes, max_bytes: int = MAX_WARC_BYTES) -> list[dict]:
    """ARC bytes (optionally gzipped, incl. the member-per-record .arc.gz
    layout) → record dicts in document order: ``{arc_type, url, ip,
    arc_date, mime, http_status, payload}``. The format every pre-WARC
    web archive shipped (Internet Archive ARC_IA spec; Common Crawl's
    2008–2012 corpora): a space-separated header line
    ``url ip date mime length`` (v1, 5 fields) or the 10-field v2 variant
    (result code 5th, archive-length last), then exactly ``length``
    payload bytes. HTTP payloads get the same header-split +
    chunked-decode treatment as WARC response records; the leading
    ``filedesc://`` version block surfaces as arc_type='filedesc' so
    callers can filter it without losing archive provenance. Malformed
    records raise — per-FILE isolation lives in the scan stage.
    """
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_bounded(data, max_bytes)
    records, pos, n = [], 0, len(data)
    while pos < n:
        while pos < n and data[pos] in b"\r\n":
            pos += 1
        if pos >= n:
            break
        eol = data.find(b"\n", pos)
        if eol == -1:
            raise ValueError(f"truncated ARC header line at offset {pos}")
        fields = data[pos:eol].decode("latin-1").rstrip("\r").split(" ")
        if len(fields) not in (5, 10):
            raise ValueError(
                f"ARC header has {len(fields)} fields at offset {pos}"
            )
        url, ip, ts, mime = fields[0], fields[1], fields[2], fields[3]
        try:
            length = int(fields[-1])
        except ValueError as exc:
            raise ValueError(f"bad ARC length: {exc}") from exc
        body_start = eol + 1
        if body_start + length > n:
            raise ValueError("truncated ARC payload")
        body = data[body_start : body_start + length]
        pos = body_start + length
        if url.startswith("filedesc://"):
            records.append({
                "arc_type": "filedesc", "url": url, "ip": ip,
                "arc_date": ts, "mime": mime, "http_status": None,
                "payload": body,
            })
            continue
        status, payload = _split_http_payload(body)
        if status is None and len(fields) == 10 and fields[4].isdigit():
            status = int(fields[4])
        records.append({
            "arc_type": "response", "url": url, "ip": ip, "arc_date": ts,
            "mime": mime, "http_status": status, "payload": payload,
        })
    return records


def arc_record_bytes(
    url: str,
    ip: str,
    ts14: str,
    body: bytes,
    mime: str = "text/html",
    http_status: int = 200,
) -> bytes:
    """One ARC v1 record as bytes — fixture/export helper mirroring
    ``warc_record_bytes``. The body is wrapped in a minimal HTTP/1.1
    message (how real ARC http captures are stored)."""
    payload = (
        f"HTTP/1.1 {http_status} OK\r\nContent-Type: {mime}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    head = f"{url} {ip} {ts14} {mime} {len(payload)}\n".encode()
    return head + payload + b"\n"


def arc_filedesc_bytes(name: str = "archive.arc") -> bytes:
    """The leading ARC version block (v1)."""
    meta = b"1 0 InternetArchive\nURL IP-address Archive-date Content-type Archive-length\n"
    head = (
        f"filedesc://{name} 0.0.0.0 20080101000000 text/plain {len(meta)}\n"
    ).encode()
    return head + meta + b"\n"


def arc_rows_stage(df):
    """(path, content binary) → (arc_path, arc_type, url, ip, arc_date,
    mime, http_status, payload binary) — the warc_rows_stage shape for
    the legacy container, same Arrow batching and per-file isolation."""
    import pandas as pd

    from pyspark.sql import types as ST

    schema = ST.StructType(
        [
            ST.StructField("arc_path", ST.StringType()),
            ST.StructField("arc_type", ST.StringType()),
            ST.StructField("url", ST.StringType()),
            ST.StructField("ip", ST.StringType()),
            ST.StructField("arc_date", ST.StringType()),
            ST.StructField("mime", ST.StringType()),
            ST.StructField("http_status", ST.IntegerType()),
            ST.StructField("payload", ST.BinaryType()),
        ]
    )
    cols = ("arc_type", "url", "ip", "arc_date", "mime", "http_status",
            "payload")

    def gen(batches):
        for pdf in batches:
            out = {"arc_path": []}
            out.update({k: [] for k in cols})
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    recs = parse_arc(bytes(content))
                except Exception as exc:  # noqa: BLE001 — isolate bad file
                    recs = [{
                        "arc_type": "error",
                        "url": f"{type(exc).__name__}: {exc}",
                        "ip": None, "arc_date": None, "mime": None,
                        "http_status": None, "payload": None,
                    }]
                for r in recs:
                    out["arc_path"].append(path)
                    for k in cols:
                        out[k].append(r[k])
            yield pd.DataFrame(out)

    return df.select("path", "content").mapInPandas(gen, schema)


def arc_scan(spark, path: str):
    """Distributed ARC ingest: binaryFile rows → arc_rows_stage."""
    return arc_rows_stage(
        spark.read.format("binaryFile").load(path).select("path", "content")
    )
