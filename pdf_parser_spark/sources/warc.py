"""A1 — WARC source: Common-Crawl-style archives → the pages table.

The north-star input is "an Iceberg table of Common-Crawl-style web pages";
upstream of that table sits the crawl archive itself, which Common Crawl
publishes as WARC (ISO 28500 — public spec). This module is a from-scratch
stdlib implementation of the subset a crawl-extraction pipeline needs:

- a RECORD READER for WARC/1.0 and WARC/1.1: header block (CRLF-terminated
  name:value lines) + Content-Length payload + CRLF CRLF separator, either
  as one plain stream, as concatenated per-record GZIP MEMBERS (the
  Common Crawl layout — each record its own gzip member so readers can
  seek; zlib.decompressobj's unused_data walks the members), or as
  per-record ZSTD FRAMES (the IIPC ``.warc.zst`` layout — decoded by the
  from-scratch RFC 8878 codec in zstd_codec.py, skippable frames such as
  the seek-index/dictionary carriers skipped);
- HTTP RESPONSE UNWRAPPING: records whose Content-Type is
  ``application/http`` carry a full HTTP response; the status line +
  headers are split off, and a ``Content-Encoding: gzip/deflate/zstd/br``
  body is decompressed (Transfer-Encoding: chunked is de-chunked first);
- the TRANSPORT CHARSET: the pages table keeps ``html`` as BINARY (bytes
  are ground truth for byte-identity) and ``charset`` records only what
  the HTTP Content-Type header said (lowercased label, or null). The
  decode decision is made once, at extraction, by charset.sniff_decode
  with that label as its transport step.
- a RECORD WRITER (tests + fixtures): emits spec-shaped warcinfo/response
  records, optionally per-record-gzipped — the reader's round-trip oracle.

Spark side: WARC files arrive via the ``binaryFile`` source (one row per
file — matching how crawl archives are actually partitioned: ~1 GB files,
one task each; parallelism = file count, so at 10^12 documents the unit of
work is the archive file, never the record) and a mapInPandas splitter
emits pages rows. No driver-side parsing, no per-record Python round-trips
outside the Arrow batch.
"""

from __future__ import annotations

import gzip
import io
import re
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

from pdf_parser_spark import zstd_codec

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"

_CHARSET_HTTP_RE = re.compile(rb"charset\s*=\s*\"?([A-Za-z0-9_.:-]+)", re.I)

# ---------------------------------------------------------------- writer


def _warc_record(warc_type: str, headers: dict[str, str], payload: bytes) -> bytes:
    head = ["WARC/1.0"]
    head.append(f"WARC-Type: {warc_type}")
    for k, v in headers.items():
        head.append(f"{k}: {v}")
    head.append(f"Content-Length: {len(payload)}")
    return (
        "\r\n".join(head).encode("utf-8") + _HDR_END + payload + _CRLF + _CRLF
    )


def write_warc(
    pages: list[tuple[str, "datetime | str", bytes]],
    compression: str = "gzip",
    content_type: str = "text/html; charset=utf-8",
    http_wrap: bool = True,
) -> bytes:
    """Build a WARC archive from (url, timestamp, html_bytes) rows.

    With http_wrap the payload is a full HTTP/1.1 200 response (the
    Common-Crawl response-record shape); without, a raw resource record.
    compression picks the member layout: 'gzip' (per-record gzip members,
    mtime pinned to 0 so output is deterministic), 'zstd' (per-record
    zstd frames — the IIPC .warc.zst layout), or 'none' for a plain stream.
    """
    out = []
    info = _warc_record(
        "warcinfo",
        {"Content-Type": "application/warc-fields"},
        b"software: pdf_parser_spark warc writer\r\n",
    )
    out.append(info)
    for url, ts, html in pages:
        if isinstance(ts, datetime):
            if ts.tzinfo is None:  # naive timestamps are UTC by convention
                ts_s = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            else:
                ts_s = ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
        else:
            ts_s = str(ts)
        if http_wrap:
            payload = (
                b"HTTP/1.1 200 OK\r\nContent-Type: "
                + content_type.encode()
                + b"\r\nContent-Length: "
                + str(len(html)).encode()
                + _HDR_END
                + html
            )
            ctype = 'application/http; msgtype=response'
        else:
            payload = html
            ctype = content_type
        out.append(
            _warc_record(
                "response",
                {
                    "WARC-Target-URI": url,
                    "WARC-Date": ts_s,
                    "Content-Type": ctype,
                },
                payload,
            )
        )
    if compression == "none":
        return b"".join(out)
    if compression == "zstd":
        return b"".join(zstd_codec.compress(rec, level="lz") for rec in out)
    if compression != "gzip":
        raise ValueError(f"unknown WARC compression {compression!r}")
    gzipped = []
    for rec in out:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(rec)
        gzipped.append(buf.getvalue())
    return b"".join(gzipped)


# ---------------------------------------------------------------- reader


_GZ_CHUNK = 1 << 20


def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress concatenated gzip members one by one — LINEAR in archive
    size: input is fed as fixed 1 MiB memoryview slices (zero-copy), so
    neither the per-member `decompress(data[pos:])` slice nor its
    `unused_data` tail ever copies the remaining archive (the old shape
    was quadratic: tens of TB of memcpy on a real ~1 GB crawl archive).

    Corruption tolerance: a corrupt member (bit flip, garbage between
    members, partial upload) ENDS the iteration instead of raising —
    every record already parsed from the archive survives, and the
    partial member is dropped rather than yielded (a truncated payload
    would silently mis-extract downstream).
    """
    mv = memoryview(data)
    n = len(data)
    pos = 0
    while pos < n:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out = []
        try:
            while pos < n and not d.eof:
                nxt = min(pos + _GZ_CHUNK, n)
                out.append(d.decompress(mv[pos:nxt]))
                pos = nxt
            out.append(d.flush())
        except zlib.error:
            return  # corrupt member: keep what already parsed, drop the rest
        if not d.eof:  # truncated final member: drop it
            return
        yield b"".join(out)
        pos -= len(d.unused_data)  # rewind to the next member's start


def _decode_header(raw: bytes) -> str:
    """WARC headers are UTF-8 (URIs may carry non-ASCII); HTTP headers are
    latin-1 — try strict UTF-8 first, fall back to latin-1 (lossless)."""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[_decode_header(k.strip()).lower()] = _decode_header(v.strip())
    return headers


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Yield {'headers': {...lowercased...}, 'payload': bytes} per record.

    Accepts a plain WARC stream or concatenated per-record gzip members
    (sniffed from the magic bytes).
    """
    if data[:2] == b"\x1f\x8b":
        streams: Iterator[bytes] = _gzip_members(data)
    elif data[:4] == b"\x28\xb5\x2f\xfd" or (
        len(data) >= 4
        and zstd_codec.SKIPPABLE_MAGIC_MIN
        <= int.from_bytes(data[:4], "little")
        <= zstd_codec.SKIPPABLE_MAGIC_MAX
    ):
        # .warc.zst: per-record zstd frames; a leading skippable frame
        # may carry the shared compression dictionary (IIPC layout) —
        # extract it, then decode members against it; the seek-index
        # skippable frame is skipped; corrupt tail tolerated exactly
        # like _gzip_members
        zdict = zstd_codec.extract_warc_dictionary(data)
        streams = zstd_codec.iter_frames(data, dict_content=zdict, tolerant=True)
    else:
        streams = iter([data])
    for stream in streams:
        pos = 0
        n = len(stream)
        while pos < n:
            # startswith with an offset — stream[pos:] would copy the
            # remaining stream per record (quadratic on plain .warc files)
            if not stream.startswith(b"WARC/", pos):
                nxt = stream.find(b"WARC/", pos)
                if nxt < 0:
                    break
                pos = nxt
            hdr_end = stream.find(_HDR_END, pos)
            if hdr_end < 0:
                break
            headers = _parse_headers(stream[pos:hdr_end])
            try:
                length = int(headers.get("content-length", "0"))
            except ValueError:
                break
            body_start = hdr_end + len(_HDR_END)
            payload = stream[body_start : body_start + length]
            yield {"headers": headers, "payload": payload}
            pos = body_start + length
            # consume the record separator (two CRLFs), tolerantly
            while stream[pos : pos + 2] == _CRLF:
                pos += 2


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 Transfer-Encoding: chunked."""
    out = []
    pos = 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            break
        size_s = body[pos:eol].split(b";")[0].strip()
        try:
            size = int(size_s, 16)
        except ValueError:
            break
        if size == 0:
            break
        start = eol + 2
        out.append(body[start : start + size])
        pos = start + size + 2
    return b"".join(out)


# Decompression-bomb bound for one HTTP body: a crawl archive is
# adversarial input, and a 1 KB payload claiming to inflate to tens of
# GB must not take down the executor. 256 MiB is far beyond any honest
# web page; oversized bodies keep their raw bytes (degrade, don't die).
MAX_BODY_BYTES = 256 << 20


def _bounded_zlib(body: bytes, wbits: int, cap: int) -> bytes:
    d = zlib.decompressobj(wbits=wbits)
    out = d.decompress(body, cap + 1)
    if len(out) > cap or (not d.eof and d.unconsumed_tail):
        raise ValueError("decompressed body exceeds cap")
    if not d.eof:
        raise ValueError("truncated compressed body")
    return out


def split_http_response(
    payload: bytes, max_body: int = MAX_BODY_BYTES
) -> tuple[dict[str, str], bytes]:
    """HTTP response bytes → (lowercased headers incl. ':status', body).

    Applies Transfer-Encoding: chunked and Content-Encoding: gzip /
    deflate / zstd / br so the returned body is the actual entity bytes.
    Every decompressor is bounded by max_body (bomb guard): an oversized
    or corrupt body degrades to its raw bytes rather than raising.
    """
    hdr_end = payload.find(_HDR_END)
    if hdr_end < 0 or not payload[:5].startswith(b"HTTP/"):
        return {}, payload
    lines = payload[:hdr_end].split(_CRLF)
    headers = _parse_headers(_CRLF.join(lines[1:]))
    # split on whitespace RUNS: sloppy servers emit 'HTTP/1.1  200 OK'
    # (double space), which a single-space split turns into status ''
    status = lines[0].split()
    headers[":status"] = status[1].decode("latin-1") if len(status) > 1 else ""
    body = payload[hdr_end + len(_HDR_END) :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    enc = headers.get("content-encoding", "").lower()
    try:
        if "gzip" in enc:
            body = _bounded_zlib(body, zlib.MAX_WBITS | 16, max_body)
        elif "deflate" in enc:
            # RFC 9110 'deflate' is the zlib-WRAPPED format; some broken
            # servers send raw deflate — try spec-compliant first
            try:
                body = _bounded_zlib(body, zlib.MAX_WBITS, max_body)
            except zlib.error:
                body = _bounded_zlib(body, -zlib.MAX_WBITS, max_body)
        elif "zstd" in enc:  # RFC 9659
            body = zstd_codec.decompress(body, max_output=max_body)
        elif "br" in enc:  # RFC 7932
            from pdf_parser_spark import brotli_codec

            body = brotli_codec.decompress(body, max_output=max_body)
    except Exception:
        pass  # keep raw bytes; charset/extraction layers degrade gracefully
    return headers, body


def _transport_charset(http_headers: dict[str, str]) -> str | None:
    """The charset label of the HTTP Content-Type header, lowercased, or
    None when the header carries none."""
    # header values may have been decoded as UTF-8 (non-latin-1 chars):
    # 'replace' keeps a garbage charset param from killing the whole
    # archive's task — the label just fails to name a codec downstream
    m = _CHARSET_HTTP_RE.search(
        http_headers.get("content-type", "").encode("latin-1", "replace")
    )
    return m.group(1).decode("latin-1").lower() if m else None


def warc_to_page_rows(data: bytes) -> Iterator[dict]:
    """One WARC archive's bytes → pages-table rows (response records only).

    Emits {'url', 'warc_ts' (ISO string), 'html' (entity BYTES — ground
    truth preserved), 'charset' (the HTTP-declared label or None),
    'http_status'}.
    """
    for rec in iter_warc_records(data):
        h = rec["headers"]
        if h.get("warc-type") != "response":
            continue
        payload = rec["payload"]
        if h.get("content-type", "").lower().startswith("application/http"):
            http_h, body = split_http_response(payload)
        else:
            http_h, body = {}, payload
        yield {
            "url": h.get("warc-target-uri", ""),
            "warc_ts": h.get("warc-date", ""),
            "html": body,
            "charset": _transport_charset(http_h),
            "http_status": http_h.get(":status", ""),
        }


# ---------------------------------------------------------------- spark


WARC_PAGES_SCHEMA = (
    "url string, warc_ts string, html binary, charset string, "
    "http_status string"
)


_SPLIT_ROWS = 2000
_SPLIT_BYTES = 64 << 20


def warc_split_batches(batches, rows_per_batch: int = _SPLIT_ROWS,
                       bytes_per_batch: int = _SPLIT_BYTES):
    """THE mapInPandas splitter, shared by the batch reader and the
    streaming source so their behavior cannot drift.

    Emits bounded Arrow batches (row- and byte-capped) instead of one
    DataFrame per archive: a ~1 GB gzipped archive decompresses to
    several GB of html, and materializing all of it as one list + one
    pandas frame + one Arrow batch holds three copies concurrently in one
    Python worker — an executor OOM at exactly the production file size.
    """
    import pandas as pd

    rows: list[dict] = []
    acc_bytes = 0
    for batch in batches:
        for content in batch["content"]:
            for row in warc_to_page_rows(bytes(content)):
                rows.append(row)
                acc_bytes += len(row.get("html") or b"")
                if len(rows) >= rows_per_batch or acc_bytes >= bytes_per_batch:
                    yield pd.DataFrame(rows)
                    rows, acc_bytes = [], 0
    if rows:
        yield pd.DataFrame(rows)


def read_warc(spark, path: str, glob: str = "*.warc*"):
    """WARC files on disk → pages rows, one Spark task per archive file.

    binaryFile gives (path, content) per file; the Arrow-batched splitter
    runs entirely executor-side. At crawl scale (~1 GB archives) the file
    IS the parallelism unit — exactly how the archives are produced — so
    there is no shuffle anywhere in this source.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
    )
    return files.mapInPandas(warc_split_batches, schema=WARC_PAGES_SCHEMA)
