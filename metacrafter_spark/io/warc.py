"""Clean-room WARC reader/writer + Spark scans (ISO 28500 / WARC 1.0).

WARC is the container format of Common Crawl — the north rule's input
("Common-Crawl-style web pages") ships as ``*.warc.gz`` files whose
records are each an independent gzip member, paired with CDXJ index
lines carrying ``(filename, offset, length)`` so any record is
range-fetchable without touching the rest of the file.  The reference
engine has no WARC source (its scans stop at csv/json/parquet/...,
``metacrafter/core.py``); this module exists for the web-corpus input
shape, built from the public ISO 28500 spec and the documented Common
Crawl layout only.

Two Spark scan strategies, both Arrow-batched ``mapInPandas`` (no
per-row Python):

* :func:`scan_warc` — ``binaryFile`` datasource, one task per WARC
  file.  Right when files are plentiful and ~100 MB–1 GB each (the
  Common Crawl shard shape: a crawl is ~80k files, far more than any
  cluster's cores, so file-level parallelism saturates executors).
* :func:`scan_warc_cdx` — the CDX index is plain text, which Spark
  splits by LINE; each task range-reads only its records (seek +
  bounded read of one gzip member).  Parallelism is per-record, not
  per-file, and column pruning/pushdown on the index happens before
  any WARC byte is read — the shape of a real CC range-fetch job.

The writer (:func:`write_warc_shards`) is the distributed inverse:
each shard group writes one ``.warc.gz`` (warcinfo head + one gzip
member per response record, mtime pinned to 0 so bytes are
deterministic) and its ``.cdx`` sidecar, atomically via rename.

``Content-Encoding: br`` decodes through pyarrow's bundled brotli; a
corrupt or truncated br body, member, record or chunk raises
``ValueError`` (with offsets where the container has them).
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import io
import os
import uuid
import zlib
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterator
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metacrafter_spark.util import sql_string

SCAN_SCHEMA = ("file string, offset long, url string, warc_ts timestamp, "
               "http_status int, mime string, html binary, "
               "x_robots string")

_CDX_LINE_RE = r"^\S+ (\d{14}) (\{.*\})$"
_CDX_JSON_SCHEMA = ("url string, filename string, offset string, "
                    "length string, status string, mime string, "
                    "digest string")


# ---------------------------------------------------------------------------
# record model + stream parsing
# ---------------------------------------------------------------------------

@dataclass
class WarcRecord:
    version: str
    headers: dict          # lower-cased header name -> value
    payload: bytes
    offset: int            # byte offset within the (decompressed) stream

    @property
    def rtype(self) -> str:
        return self.headers.get("warc-type", "")

    @property
    def target_uri(self) -> str | None:
        u = self.headers.get("warc-target-uri")
        # WARC 1.1 permits <uri> bracketing; strip it.
        if u and u.startswith("<") and u.endswith(">"):
            u = u[1:-1]
        return u

    @property
    def date(self) -> datetime | None:
        v = self.headers.get("warc-date")
        if not v:
            return None
        return parse_warc_date(v)


def parse_warc_date(v: str) -> datetime:
    """``2025-01-01T00:12:34Z`` (optionally fractional) → naive UTC."""
    v = v.strip()
    if v.endswith("Z"):
        v = v[:-1]
    fmt = "%Y-%m-%dT%H:%M:%S.%f" if "." in v else "%Y-%m-%dT%H:%M:%S"
    return datetime.strptime(v, fmt)


def format_warc_date(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def iter_gzip_members(buf: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Yield ``(offset, compressed_length, decompressed)`` per gzip
    member of a member-concatenated ``.warc.gz`` buffer."""
    pos, n = 0, len(buf)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out = d.decompress(buf[pos:])
        out += d.flush()
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        consumed = (n - pos) - len(d.unused_data)
        yield pos, consumed, out
        pos += consumed


def parse_warc_stream(data: bytes, base_offset: int = 0,
                      ) -> Iterator[WarcRecord]:
    """Parse an uncompressed WARC stream into records.

    Header block is UTF-8 lines CRLF-terminated, ended by a blank line;
    payload is exactly ``Content-Length`` bytes; records are separated
    by two CRLFs (tolerated if absent at EOF).  Folded continuation
    lines (leading SP/HT) are unfolded per the spec's ABNF.
    """
    pos, n = 0, len(data)
    while pos < n:
        while pos < n and data[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        end = data.find(b"\r\n\r\n", pos)
        if end < 0:
            raise ValueError(f"WARC header block not terminated "
                             f"(offset {base_offset + pos})")
        head = data[pos:end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"not a WARC record at offset "
                             f"{base_offset + pos}: {lines[0][:40]!r}")
        headers: dict[str, str] = {}
        last = None
        for ln in lines[1:]:
            if ln[:1] in (" ", "\t") and last is not None:
                headers[last] += " " + ln.strip()
                continue
            k, sep, v = ln.partition(":")
            if not sep:
                raise ValueError(f"malformed WARC header line {ln!r}")
            last = k.strip().lower()
            headers[last] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("WARC record missing valid Content-Length"
                             ) from e
        body_start = end + 4
        payload = data[body_start:body_start + length]
        if len(payload) < length:
            raise ValueError(f"truncated WARC payload at offset "
                             f"{base_offset + pos}: need {length}, "
                             f"have {len(payload)}")
        yield WarcRecord(lines[0], headers, payload, base_offset + pos)
        pos = body_start + length


def iter_warc_file(data: bytes) -> Iterator[tuple[int, WarcRecord]]:
    """Records of a WARC file buffer, gzipped (member offsets reported,
    the CC/CDX convention) or plain (stream offsets)."""
    if data[:2] == b"\x1f\x8b":
        for off, _clen, raw in iter_gzip_members(data):
            for rec in parse_warc_stream(raw):
                yield off, rec
    else:
        for rec in parse_warc_stream(data):
            yield rec.offset, rec


# ---------------------------------------------------------------------------
# HTTP response payloads
# ---------------------------------------------------------------------------

def _dechunk(body: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("chunked body: missing chunk-size line")
        size_tok = body[pos:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as e:
            raise ValueError(f"chunked body: bad size {size_tok!r}") from e
        pos = nl + 2
        if size == 0:
            return bytes(out)        # trailers (if any) are ignored
        if pos + size > len(body):
            raise ValueError("chunked body: truncated chunk data")
        out += body[pos:pos + size]
        pos += size + 2              # trailing CRLF of the chunk


def parse_http_response(payload: bytes) -> tuple[int, dict, bytes]:
    """``(status, headers, decoded_body)`` of an HTTP/1.x response.

    Handles chunked transfer-encoding and gzip/deflate/br
    content-encoding (``br`` via the in-repo RFC 7932 decoder when no
    native brotli wheel is installed).
    """
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("HTTP response: head/body separator not found")
    head = payload[:sep].decode("latin-1")
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"not an HTTP response: {lines[0][:40]!r}")
    status = int(parts[1])
    headers: dict[str, str] = {}
    last = None
    for ln in lines[1:]:
        if ln[:1] in (" ", "\t") and last is not None:
            headers[last] += " " + ln.strip()
            continue
        k, sep2, v = ln.partition(":")
        if not sep2:
            continue                 # be lenient on junk header lines
        last = k.strip().lower()
        if last in headers:
            headers[last] += ", " + v.strip()
        else:
            headers[last] = v.strip()
    body = payload[sep + 4:]
    te = headers.get("transfer-encoding", "").lower()
    if "chunked" in te:
        body = _dechunk(body)
    ce = headers.get("content-encoding", "").lower()
    if ce in ("gzip", "x-gzip"):
        body = gzip.decompress(body)
    elif ce == "deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:
            body = zlib.decompress(body, -15)   # raw-deflate servers
    elif ce == "br":
        import pyarrow as pa

        from metacrafter_spark.io.sources import codec_errors

        with codec_errors("Content-Encoding: br"):
            body = pa.CompressedInputStream(
                pa.BufferReader(body), "brotli").read()
    elif ce not in ("", "identity"):
        raise NotImplementedError(f"Content-Encoding: {ce}")
    return status, headers, body


def charset_of(headers: dict, default: str = "utf-8") -> str:
    ct = headers.get("content-type", "")
    for piece in ct.split(";")[1:]:
        k, _, v = piece.strip().partition("=")
        if k.strip().lower() == "charset" and v:
            return v.strip().strip('"').strip("'")
    return default


# ---------------------------------------------------------------------------
# building records (writer side)
# ---------------------------------------------------------------------------

def build_http_response(body: bytes, *, status: int = 200,
                        reason: str = "OK",
                        content_type: str = "text/html; charset=utf-8",
                        chunked: bool = False,
                        content_encoding: str | None = None,
                        extra_headers: tuple = ()) -> bytes:
    if content_encoding == "gzip":
        body = gzip_member(body)
    elif content_encoding == "deflate":
        body = zlib.compress(body)
    elif content_encoding:
        raise NotImplementedError(f"writer content-encoding "
                                  f"{content_encoding}")
    lines = [f"HTTP/1.1 {status} {reason}",
             f"Content-Type: {content_type}"]
    if content_encoding:
        lines.append(f"Content-Encoding: {content_encoding}")
    for k, v in extra_headers:
        lines.append(f"{k}: {v}")
    if chunked:
        lines.append("Transfer-Encoding: chunked")
        chunks = [body[i:i + 1024] for i in range(0, len(body), 1024)]
        wire = b"".join(b"%x\r\n%s\r\n" % (len(c), c) for c in chunks)
        wire += b"0\r\n\r\n"
    else:
        lines.append(f"Content-Length: {len(body)}")
        wire = body
    return ("\r\n".join(lines) + "\r\n\r\n").encode("latin-1") + wire


def build_record(rtype: str, payload: bytes, *, url: str | None = None,
                 date: datetime | None = None,
                 content_type: str = "application/http; msgtype=response",
                 record_id: str | None = None,
                 extra: tuple = ()) -> bytes:
    """One uncompressed WARC record (headers + payload + separator).

    Record IDs are deterministic (uuid5 of type|uri|date) so identical
    inputs yield identical bytes — golden-hash friendly, and still
    unique per record as the spec requires.
    """
    date = date or datetime(2025, 1, 1)
    if record_id is None:
        seed = f"{rtype}|{url or ''}|{format_warc_date(date)}"
        record_id = str(uuid.uuid5(uuid.NAMESPACE_URL, seed))
    lines = [
        "WARC/1.0",
        f"WARC-Type: {rtype}",
        f"WARC-Record-ID: <urn:uuid:{record_id}>",
        f"WARC-Date: {format_warc_date(date)}",
    ]
    if url is not None:
        lines.append(f"WARC-Target-URI: {url}")
    if rtype == "response":
        # payload digest over the HTTP body, the Common Crawl convention
        sep = payload.find(b"\r\n\r\n")
        digest = base64.b32encode(
            hashlib.sha1(payload[sep + 4:]).digest()).decode("ascii")
        lines.append(f"WARC-Payload-Digest: sha1:{digest}")
    lines.append(f"Content-Type: {content_type}")
    for k, v in extra:
        lines.append(f"{k}: {v}")
    lines.append(f"Content-Length: {len(payload)}")
    head = ("\r\n".join(lines) + "\r\n\r\n").encode("utf-8")
    return head + payload + b"\r\n\r\n"


def gzip_member(data: bytes) -> bytes:
    """Deterministic gzip (mtime=0, no filename) — byte-stable output."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(data)
    return buf.getvalue()


def surt(url: str) -> str:
    """Sort-friendly URI Reordering Transform key (the CDX sort key):
    ``https://news.example.org/a?b=1`` → ``org,example,news)/a?b=1``."""
    u = urlsplit(url)
    host = ",".join(reversed((u.hostname or "").split(".")))
    path = u.path or "/"
    q = f"?{u.query}" if u.query else ""
    return f"{host}){path}{q}".lower()


def cdx_line(url: str, ts: datetime, filename: str, offset: int,
             length: int, *, status: int = 200, mime: str = "text/html",
             digest: str = "") -> str:
    """One CDXJ index line (the Common Crawl cdx-*.gz shape)."""
    import json
    fields = {"url": url, "mime": mime, "status": str(status),
              "digest": digest, "length": str(length),
              "offset": str(offset), "filename": filename}
    return (f"{surt(url)} {ts.strftime('%Y%m%d%H%M%S')} "
            f"{json.dumps(fields, separators=(', ', ': '))}")


def write_warc(records: list[dict], warc_path: str,
               cdx_path: str | None = None) -> int:
    """Write response ``records`` (dicts with url/ts/html and optional
    status/mime) as a warcinfo-headed, member-per-record ``.warc.gz``
    plus an optional CDXJ sidecar.  Returns the number of records.
    Single-file helper — the distributed path is
    :func:`write_warc_shards`."""
    name = os.path.basename(warc_path)
    info_payload = (b"software: metacrafter-spark warc writer\r\n"
                    b"format: WARC File Format 1.0\r\n")
    chunks = [gzip_member(build_record(
        "warcinfo", info_payload, date=datetime(2025, 1, 1),
        content_type="application/warc-fields",
        extra=(("WARC-Filename", name),)))]
    offset = len(chunks[0])
    cdx_lines = []
    for r in records:
        body = bytes(r["html"])
        http = build_http_response(
            body, status=int(r.get("status", 200)),
            content_type=r.get("content_type",
                               "text/html; charset=utf-8"))
        member = gzip_member(build_record(
            "response", http, url=r["url"], date=r["ts"]))
        digest = "sha1:" + base64.b32encode(
            hashlib.sha1(body).digest()).decode("ascii")
        cdx_lines.append(cdx_line(
            r["url"], r["ts"], name, offset, len(member),
            status=int(r.get("status", 200)),
            mime=r.get("mime", "text/html"), digest=digest))
        chunks.append(member)
        offset += len(member)
    tmp = warc_path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(b"".join(chunks))
    os.replace(tmp, warc_path)
    if cdx_path:
        tmpc = cdx_path + ".tmp"
        with open(tmpc, "w", encoding="utf-8") as f:
            f.write("\n".join(cdx_lines) + ("\n" if cdx_lines else ""))
        os.replace(tmpc, cdx_path)
    return len(records)


# ---------------------------------------------------------------------------
# Spark scans + distributed writer
# ---------------------------------------------------------------------------

def _response_rows(path: str, data: bytes, strict: bool) -> list[tuple]:
    rows = []
    for off, rec in iter_warc_file(data):
        if rec.rtype != "response":
            continue                 # warcinfo/request/metadata records
        try:
            status, headers, body = parse_http_response(rec.payload)
            mime = headers.get("content-type", "").split(";")[0].strip()
            # X-Robots-Tag is crawl policy the page SERVED (the header
            # sibling of <meta name=robots>); repeated headers arrive
            # pre-joined with ", " by parse_http_response
            rows.append((path, off, rec.target_uri, rec.date, status,
                         mime, body, headers.get("x-robots-tag", "")))
        except (ValueError, NotImplementedError):
            if strict:
                raise
            rows.append((path, off, rec.target_uri, rec.date, None,
                         None, None))
    return rows


_SCAN_COLS = ["file", "offset", "url", "warc_ts", "http_status", "mime",
              "html", "x_robots"]


def scan_warc(spark: SparkSession, path_glob: str, *,
              strict: bool = True) -> DataFrame:
    """Whole-file WARC scan: ``binaryFile`` datasource → one task per
    file → record rows.  At CC scale (~80k files/crawl) file count far
    exceeds cluster cores, so this saturates executors without
    intra-file splits; for record-level parallelism over few huge
    files use :func:`scan_warc_cdx`."""
    files = (spark.read.format("binaryFile").load(path_glob)
             .select("path", "content"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows: list[tuple] = []
            for path, content in zip(b["path"], b["content"]):
                rows.extend(_response_rows(path, bytes(content), strict))
            yield pd.DataFrame(rows, columns=_SCAN_COLS)

    return files.mapInPandas(kernel, SCAN_SCHEMA)


def cdx_parse(lines: DataFrame) -> DataFrame:
    """CDXJ text lines → (url, filename, offset, length), parsed
    JVM-side (``from_json``) — works on batch AND streaming frames."""
    return (lines
            .selectExpr("regexp_extract(value, "
                        f"{sql_string(_CDX_LINE_RE)}, 2) AS js")
            .filter("js != ''")
            .selectExpr(f"from_json(js, {sql_string(_CDX_JSON_SCHEMA)}) AS c")
            .selectExpr("c.url AS url", "c.filename AS filename",
                        "CAST(c.offset AS BIGINT) AS offset",
                        "CAST(c.length AS BIGINT) AS length"))


def cdx_fetch(parsed: DataFrame, warc_dir: str, *,
              strict: bool = True) -> DataFrame:
    """Range-fetch kernel over a parsed CDX frame: each task seeks to
    its records' ``(offset, length)`` and inflates exactly one gzip
    member.  Map-side only — batch and streaming alike."""

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict[str, io.BufferedReader] = {}
        try:
            for b in batches:
                rows: list[tuple] = []
                for fn, off, ln in zip(b["filename"], b["offset"],
                                       b["length"]):
                    fh = handles.get(fn)
                    if fh is None:
                        fh = open(os.path.join(warc_dir, fn), "rb")
                        handles[fn] = fh
                    fh.seek(int(off))
                    member = fh.read(int(ln))
                    raw = gzip.decompress(member)
                    for r in _response_rows(
                            os.path.join(warc_dir, fn), raw, strict):
                        # report the member offset (the CDX truth)
                        rows.append((r[0], int(off)) + r[2:])
                yield pd.DataFrame(rows, columns=_SCAN_COLS)
        finally:
            for fh in handles.values():
                fh.close()

    return parsed.mapInPandas(fetch, SCAN_SCHEMA)


def scan_warc_cdx(spark: SparkSession, cdx_glob: str, warc_dir: str, *,
                  strict: bool = True) -> DataFrame:
    """CDX-indexed WARC scan.

    The index is plain text → Spark splits it by line (parallelism =
    records, not files, with no driver-side listing beyond the index
    glob); JSON fields parse JVM-side; the fetch kernel inflates one
    gzip member per record — a local-filesystem stand-in for the HTTP
    Range fetch a real Common-Crawl job issues.  Predicates on url /
    status / mime can be applied to the returned frame *before* any
    byte of WARC is read by filtering the index columns first."""
    return cdx_fetch(cdx_parse(spark.read.text(cdx_glob)), warc_dir,
                     strict=strict)


def write_warc_shards(df: DataFrame, out_dir: str, num_shards: int, *,
                      url_col: str = "url", ts_col: str = "warc_ts",
                      html_col: str = "html",
                      mime_col: str | None = None,
                      prefix: str = "part") -> DataFrame:
    """Distributed WARC export: shard by ``crc32(url) mod num_shards``
    (deterministic across partitionings), each group writes one
    ``.warc.gz`` + ``.cdx`` atomically (tmp + rename), records sorted
    by url within the shard so shard bytes are reproducible.  Returns
    the (shard, n_records, warc_bytes) summary frame — an action on it
    performs the write.  ``out_dir`` must be a filesystem every
    executor can reach (true in local mode; a shared FS on a cluster).
    """
    keyed = df.withColumn(
        "__shard",
        F.pmod(F.crc32(F.col(url_col).cast("string")),
               F.lit(num_shards)).cast("int"))

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["__shard"].iloc[0])
        pdf = pdf.sort_values(url_col, kind="mergesort")
        name = f"{prefix}-{shard:05d}.warc.gz"
        mimes = (list(pdf[mime_col]) if mime_col is not None
                 else [None] * len(pdf))
        recs = []
        for u, ts, h, mime in zip(pdf[url_col], pdf[ts_col],
                                  pdf[html_col], mimes):
            r = {"url": u, "ts": ts.to_pydatetime()
                 if hasattr(ts, "to_pydatetime") else ts,
                 "html": bytes(h)}
            if mime:
                r["content_type"] = str(mime)
                r["mime"] = str(mime).split(";")[0].strip()
            recs.append(r)
        path = os.path.join(out_dir, name)
        n = write_warc(recs, path, os.path.join(
            out_dir, f"{prefix}-{shard:05d}.cdx"))
        return pd.DataFrame([{"shard": shard, "n_records": n,
                              "warc_bytes": os.path.getsize(path)}])

    return (keyed.groupBy("__shard")
            .applyInPandas(write_group,
                           "shard int, n_records long, warc_bytes long"))


# ---------------------------------------------------------------------------
# WET (extracted-text "conversion" records — the CC *.warc.wet.gz shape)
# ---------------------------------------------------------------------------

def _response_record_id(url: str, ts: datetime) -> str:
    """The deterministic record id :func:`build_record` assigns to the
    response record of (url, ts) — WET conversion records cite it via
    WARC-Refers-To, so a WET shard written from the same corpus
    references the matching response ids by construction."""
    return str(uuid.uuid5(uuid.NAMESPACE_URL,
                          f"response|{url}|{format_warc_date(ts)}"))


def write_wet(records: list[dict], wet_path: str) -> int:
    """Write extracted-text ``records`` (dicts with url/ts/text) as a
    warcinfo-headed, member-per-record WET file (``WARC-Type:
    conversion`` + ``Content-Type: text/plain`` — ISO 28500 §6.8, the
    Common Crawl ``*.warc.wet.gz`` layout).  Deterministic bytes, same
    as :func:`write_warc`.  Single-file helper — the distributed path
    is :func:`write_wet_shards`."""
    name = os.path.basename(wet_path)
    info_payload = (b"software: metacrafter-spark wet writer\r\n"
                    b"format: WARC File Format 1.0\r\n"
                    b"isPartOf: metacrafter-extract\r\n")
    chunks = [gzip_member(build_record(
        "warcinfo", info_payload, date=datetime(2025, 1, 1),
        content_type="application/warc-fields",
        extra=(("WARC-Filename", name),)))]
    for r in records:
        body = r["text"].encode("utf-8")
        ts = r["ts"]
        extra = [("WARC-Refers-To",
                  f"<urn:uuid:{_response_record_id(r['url'], ts)}>")]
        if r.get("lang"):
            # ISO 28500-2 WARC-Identified-Content-Language (CC emits it)
            extra.append(("WARC-Identified-Content-Language", r["lang"]))
        chunks.append(gzip_member(build_record(
            "conversion", body, url=r["url"], date=ts,
            content_type="text/plain", extra=tuple(extra))))
    tmp = wet_path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(b"".join(chunks))
    os.replace(tmp, wet_path)
    return len(records)


_WET_COLS = ["file", "offset", "url", "warc_ts", "lang", "text"]
WET_SCHEMA = ("file string, offset long, url string, warc_ts timestamp, "
              "lang string, text string")


def _conversion_rows(path: str, data: bytes, strict: bool) -> list[tuple]:
    rows = []
    for off, rec in iter_warc_file(data):
        if rec.rtype != "conversion":
            continue                 # warcinfo/metadata records
        try:
            rows.append((path, off, rec.target_uri, rec.date,
                         rec.headers.get(
                             "warc-identified-content-language") or None,
                         rec.payload.decode("utf-8")))
        except (ValueError, UnicodeDecodeError):
            if strict:
                raise
            rows.append((path, off, rec.target_uri, rec.date, None, None))
    return rows


def scan_wet(spark: SparkSession, path_glob: str, *,
             strict: bool = True) -> DataFrame:
    """Whole-file WET scan → (file, offset, url, warc_ts, lang, text).
    Same parallelism model as :func:`scan_warc`: one task per file,
    which saturates a cluster at CC file counts (~80k WET files per
    crawl); WET members are indexed by the same CDXJ shape when
    record-level splits are needed."""
    files = (spark.read.format("binaryFile").load(path_glob)
             .select("path", "content"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows: list[tuple] = []
            for path, content in zip(b["path"], b["content"]):
                rows.extend(_conversion_rows(path, bytes(content), strict))
            yield pd.DataFrame(rows, columns=_WET_COLS)

    return files.mapInPandas(kernel, WET_SCHEMA)


def write_wet_shards(df: DataFrame, out_dir: str, num_shards: int, *,
                     url_col: str = "url", ts_col: str = "warc_ts",
                     text_col: str = "text", lang_col: str | None = None,
                     prefix: str = "part") -> DataFrame:
    """Distributed WET export — the extracted-text sibling of
    :func:`write_warc_shards` (same crc32(url) sharding, url-sorted
    members, atomic tmp+rename, deterministic bytes; an ingest→extract
    →WET job emits shards any WET consumer can read).  Returns the
    (shard, n_records, wet_bytes) summary frame; an action on it
    performs the write."""
    cols = [url_col, ts_col, text_col] + ([lang_col] if lang_col else [])
    keyed = df.select(*cols).withColumn(
        "__shard",
        F.pmod(F.crc32(F.col(url_col).cast("string")),
               F.lit(num_shards)).cast("int"))

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["__shard"].iloc[0])
        pdf = pdf.sort_values(url_col, kind="mergesort")
        name = f"{prefix}-{shard:05d}.warc.wet.gz"
        recs = [{"url": r[url_col],
                 "ts": (r[ts_col].to_pydatetime()
                        if hasattr(r[ts_col], "to_pydatetime")
                        else r[ts_col]),
                 "text": r[text_col],
                 **({"lang": r[lang_col]} if lang_col else {})}
                for _, r in pdf.iterrows()]
        path = os.path.join(out_dir, name)
        n = write_wet(recs, path)
        return pd.DataFrame([{"shard": shard, "n_records": n,
                              "wet_bytes": os.path.getsize(path)}])

    return (keyed.groupBy("__shard")
            .applyInPandas(write_group,
                           "shard int, n_records long, wet_bytes long"))
