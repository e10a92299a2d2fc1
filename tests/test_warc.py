"""WARC source: writer→reader round-trip, HTTP unwrap, transport charset,
malformed-input tolerance, and the Spark binaryFile ingestion path."""

from __future__ import annotations

import gzip
from datetime import datetime, timezone

import pytest

from pdf_parser_spark.sources import warc


def _pages():
    return [
        ("https://a.com/p1", "2024-01-01T00:00:00Z", b"<html><p>hello</p></html>"),
        # binary payload with CRLFCRLF inside — Content-Length framing must win
        ("https://a.com/p2", "2024-01-01T00:01:00Z", b"%PDF-\r\n\r\nbinary\x00stuff"),
        # unicode + datetime timestamp
        (
            "https://b.org/café",
            datetime(2024, 3, 1, 12, tzinfo=timezone.utc),
            "café ☃".encode("utf-8"),
        ),
        ("https://c.net/empty", "2024-01-02T00:00:00Z", b""),
    ]


def test_roundtrip_plain_and_gzipped():
    for comp in ("none", "gzip"):
        blob = warc.write_warc(_pages(), compression=comp)
        rows = list(warc.warc_to_page_rows(blob))
        assert [r["url"] for r in rows] == [u for u, _, _ in _pages()]
        assert [r["html"] for r in rows] == [h for _, _, h in _pages()]
        assert all(r["http_status"] == "200" for r in rows)


def test_roundtrip_no_http_wrap():
    blob = warc.write_warc(_pages(), compression="none", http_wrap=False)
    rows = list(warc.warc_to_page_rows(blob))
    assert [r["html"] for r in rows] == [h for _, _, h in _pages()]


def test_warcinfo_record_skipped():
    blob = warc.write_warc(_pages()[:1], compression="none")
    recs = list(warc.iter_warc_records(blob))
    assert recs[0]["headers"]["warc-type"] == "warcinfo"
    assert len(list(warc.warc_to_page_rows(blob))) == 1


def test_http_unwrap_content_encoding_gzip():
    body = b"<html>compressed body</html>"
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + gzip.compress(body)
    )
    headers, got = warc.split_http_response(payload)
    assert got == body
    assert headers[":status"] == "200"


def test_http_unwrap_chunked():
    payload = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
    )
    _, got = warc.split_http_response(payload)
    assert got == b"hello world"


def test_malformed_inputs_dont_raise():
    assert list(warc.warc_to_page_rows(b"")) == []
    assert list(warc.warc_to_page_rows(b"garbage no records")) == []
    # truncated record: header promises more bytes than exist
    blob = warc.write_warc(_pages()[:1], compression="none")
    rows = list(warc.warc_to_page_rows(blob[: len(blob) - 10]))
    assert len(rows) <= 1  # degrades, never raises
    # leading junk before the first WARC/ magic is skipped
    assert len(list(warc.warc_to_page_rows(b"JUNK" + blob))) == 1


def test_read_warc_spark(spark, tmp_path):
    pages = _pages()
    (tmp_path / "part0.warc.gz").write_bytes(
        warc.write_warc(pages[:2], compression="gzip")
    )
    (tmp_path / "part1.warc").write_bytes(
        warc.write_warc(pages[2:], compression="none")
    )
    df = warc.read_warc(spark, str(tmp_path)).orderBy("url")
    got = df.collect()
    want = sorted(pages, key=lambda p: p[0])
    assert [r["url"] for r in got] == [u for u, _, _ in want]
    assert [bytes(r["html"]) for r in got] == [h for _, _, h in want]


def test_warc_streaming_ingest_exactly_once(spark, tmp_path):
    """Incremental drain + replayed-batch idempotence for WarcIngest."""
    from pdf_parser_spark.streaming.warc_stream import WarcIngest

    src = tmp_path / "landing"
    src.mkdir()
    pages = _pages()
    (src / "a.warc.gz").write_bytes(warc.write_warc(pages[:2]))
    (src / "b.warc.gz").write_bytes(warc.write_warc(pages[2:3]))

    ing = WarcIngest(
        spark,
        str(src),
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        n_buckets=4,
    )
    out1 = ing.run_available_now()
    assert out1["batches_committed"] >= 1
    got = {r["url"] for r in ing.output().select("url").collect()}
    assert got == {u for u, _, _ in pages[:3]}

    # a new archive lands; only IT is ingested on the next drain
    (src / "c.warc.gz").write_bytes(warc.write_warc(pages[3:]))
    out2 = ing.run_available_now()
    assert out2["snapshot_version"] > out1["snapshot_version"]
    table_rows = ing.output().collect()
    assert {r["url"] for r in table_rows} == {u for u, _, _ in pages}
    assert len(table_rows) == len(pages)  # no duplicates across drains

    # replayed micro-batch (failure between sink commit and checkpoint
    # advance): same batch id → the snapshot log detects it → no-op
    replay_id = max(ing.committed_batches())
    before = ing.table.current_version()
    df = spark.createDataFrame(
        [("dup://u", "2024-01-01T00:00:00Z", b"<p>dup</p>", "utf-8", "200")],
        warc.WARC_PAGES_SCHEMA,
    )
    ing._commit_batch(df, replay_id)
    assert ing.table.current_version() == before
    assert ing.output().count() == len(pages)


def test_warc_ingest_with_extraction_transform(spark, tmp_path):
    """crawl → text, incremental end to end: the ingest transform runs the
    extraction pipeline, so the snapshot table holds extracted documents
    whose text is byte-identical to the fixture ground truth."""
    from pdf_parser_spark.fixtures import pages_pandas
    from pdf_parser_spark.operators import extract as extract_op
    from pdf_parser_spark.streaming.warc_stream import WarcIngest

    pdf = pages_pandas(24)  # covers html, raw-text .pdf and %PDF- modes
    src = tmp_path / "landing"
    src.mkdir()
    for arc in range(2):
        part = pdf.iloc[arc * 12 : (arc + 1) * 12]
        rows = [
            (r.url, r.warc_ts.to_pydatetime(), bytes(r.html))
            for r in part.itertuples()
        ]
        (src / f"{arc}.warc.gz").write_bytes(warc.write_warc(rows))

    ing = WarcIngest(
        spark,
        str(src),
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        n_buckets=4,
        transform=lambda df: extract_op.extract_documents(df, keep_text=True),
    )
    ing.run_available_now()
    got = {r["url"]: r["extracted_text"] for r in ing.output().collect()}
    want = dict(zip(pdf["url"], pdf["text"]))
    assert set(got) == set(want)
    mismatch = [u for u in want if got[u] != want[u]]
    assert mismatch == []


def test_http_declared_charset_reaches_extraction(spark, tmp_path):
    """A page whose charset is declared only in the HTTP header (no BOM, no
    <meta>) extracts to its source text: the reader records the label in
    the ``charset`` column, extraction decodes with it. A header without a
    charset leaves the column null; the page then decodes from its bytes."""
    from pdf_parser_spark.operators import extract as extract_op

    text = "Выписка по счёту: кофе 120 руб., хлеб 45 руб. — итого 165 руб."
    html = f"<html><body><p>{text}</p></body></html>"
    (tmp_path / "ru.warc.gz").write_bytes(warc.write_warc(
        [("https://ru.example/p", "2024-01-01T00:00:00Z", html.encode("cp1251"))],
        content_type="text/html; charset=windows-1251",
    ))
    (tmp_path / "en.warc.gz").write_bytes(warc.write_warc(
        [("https://en.example/p", "2024-01-01T00:00:00Z", html.encode("utf-8"))],
        content_type="text/html",
    ))
    pages = warc.read_warc(spark, str(tmp_path))
    assert {r["url"]: r["charset"] for r in pages.collect()} == {
        "https://ru.example/p": "windows-1251",
        "https://en.example/p": None,
    }
    got = extract_op.extract_documents(pages, keep_text=True).collect()
    assert {r["url"]: r["extracted_text"] for r in got} == {
        "https://ru.example/p": text,
        "https://en.example/p": text,
    }


# ------------------------------------------- review-fix regression tests


def test_corrupt_gzip_member_keeps_prior_records():
    """Garbage between/inside per-record gzip members ends parsing
    tolerantly — the records already decoded survive, nothing raises."""
    good = warc.write_warc(_pages()[:2], compression="gzip")
    blob = good + b"\x1f\x8b\x08\x00GARBAGE-NOT-A-MEMBER" + b"\xff" * 64
    rows = list(warc.warc_to_page_rows(blob))
    assert {r["url"] for r in rows} == {"https://a.com/p1", "https://a.com/p2"}
    # truncated final member: same tolerance
    blob2 = good + warc.write_warc(_pages()[2:3], compression="gzip")[:20]
    assert len(list(warc.warc_to_page_rows(blob2))) == 2


def test_zlib_wrapped_deflate_body():
    """RFC 9110 'deflate' is zlib-wrapped; raw-deflate-only decoding
    stored compressed bytes as html."""
    import zlib

    entity = b"<html><p>deflated</p></html>"
    for body, label in ((zlib.compress(entity), "zlib-wrapped"),
                        (zlib.compress(entity)[2:-4], "raw")):
        payload = (
            b"HTTP/1.1 200 OK\r\ncontent-encoding: deflate\r\n\r\n" + body
        )
        headers, got = warc.split_http_response(payload)
        assert got == entity, label


def test_sloppy_status_line_double_space():
    payload = b"HTTP/1.1  200 OK\r\ncontent-type: text/html\r\n\r\nx"
    headers, _ = warc.split_http_response(payload)
    assert headers[":status"] == "200"


def test_split_batches_are_bounded():
    """The shared splitter emits capped Arrow batches, never one
    DataFrame per archive."""
    pages = [
        (f"https://a.com/{i}", "2024-01-01T00:00:00Z", b"x" * 100)
        for i in range(25)
    ]
    blob = warc.write_warc(pages, compression="none")

    class FakeBatch(dict):
        pass

    batches = [{"content": [blob]}]
    out = list(warc.warc_split_batches(iter(batches), rows_per_batch=10))
    assert [len(b) for b in out] == [10, 10, 5]
    # byte cap triggers too
    out2 = list(warc.warc_split_batches(iter(batches), bytes_per_batch=500))
    assert all(len(b) <= 5 for b in out2) and sum(len(b) for b in out2) == 25


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    from pdf_parser_spark.streaming.warc_stream import WarcIngest

    src = tmp_path / "src3"
    src.mkdir()
    pages = _pages()
    (src / "a.warc.gz").write_bytes(warc.write_warc(pages[:2]))
    (src / "b.warc.gz").write_bytes(warc.write_warc(pages[2:3]))
    ing = WarcIngest(
        spark, str(src), str(tmp_path / "tbl3"), str(tmp_path / "ck3"),
        n_buckets=2, max_files_per_trigger=1,
    )
    r = ing.run_available_now(timeout_s=120.0)
    assert r["batches_committed"] == 2  # one archive per micro-batch
    assert ing.output().count() == 3


def test_drain_timeout_stops_and_next_drain_finishes(spark, tmp_path):
    """A drain that misses its deadline is stopped and raises instead of
    reporting a half-filled table; the next drain on the same checkpoint
    finishes it, and no url lands twice."""
    from pdf_parser_spark.streaming.warc_stream import WarcIngest

    src = tmp_path / "src4"
    src.mkdir()
    pages = _pages()
    for i, page in enumerate(pages):
        (src / f"{i}.warc.gz").write_bytes(warc.write_warc([page]))
    ing = WarcIngest(
        spark, str(src), str(tmp_path / "tbl4"), str(tmp_path / "ck4"),
        n_buckets=2, max_files_per_trigger=1,
    )
    with pytest.raises(TimeoutError, match="WARC drain still running"):
        ing.run_available_now(timeout_s=0.001)
    r = ing.run_available_now(timeout_s=120.0)
    assert r["batches_committed"] == len(pages)  # one archive per batch
    urls = [row["url"] for row in ing.output().select("url").collect()]
    assert sorted(urls) == sorted(u for u, _, _ in pages)


def test_roundtrip_warc_zst():
    """IIPC .warc.zst layout: per-record zstd frames, skippable frames
    (seek index / dictionary carrier slots) skipped, truncation tolerated."""
    from pdf_parser_spark import zstd_codec

    blob = warc.write_warc(_pages(), compression="zstd")
    assert blob[:4] == b"\x28\xb5\x2f\xfd"
    rows = list(warc.warc_to_page_rows(blob))
    assert [r["url"] for r in rows] == [u for u, _, _ in _pages()]
    assert [r["html"] for r in rows] == [h for _, _, h in _pages()]
    # a leading skippable frame (where warc.zst stores its index) is skipped
    prefixed = zstd_codec.write_skippable_frame(b"seek index bytes", 0xE) + blob
    assert len(list(warc.warc_to_page_rows(prefixed))) == len(_pages())
    # truncated final frame: records already decoded survive
    cut = list(warc.warc_to_page_rows(blob[:-7]))
    assert len(cut) == len(_pages()) - 1


def test_http_unwrap_content_encoding_zstd():
    from pdf_parser_spark import zstd_codec

    body = b"<html>zstd-encoded body bytes</html>" * 20
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: zstd\r\n\r\n" + zstd_codec.compress(body)
    )
    headers, got = warc.split_http_response(payload)
    assert got == body
    # corrupt zstd body degrades to raw bytes, never raises
    payload_bad = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n\r\n" + b"\x28\xb5\x2f\xfdJUNK"
    )
    _, raw = warc.split_http_response(payload_bad)
    assert raw == b"\x28\xb5\x2f\xfdJUNK"


def test_http_unwrap_content_encoding_br():
    from pdf_parser_spark import brotli_codec

    body = b"<html>brotli-encoded page body</html>" * 15
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: br\r\n\r\n" + brotli_codec.compress(body)
    )
    _, got = warc.split_http_response(payload)
    assert got == body
    # corrupt br body degrades to raw bytes, never raises
    payload_bad = b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n\xff\xffJUNK"
    _, raw = warc.split_http_response(payload_bad)
    assert raw == b"\xff\xffJUNK"


def test_decompression_bombs_degrade_to_raw():
    """A body claiming to inflate past the cap keeps its raw bytes; the
    task survives. Covers all four content encodings."""
    import gzip as _gzip

    from pdf_parser_spark import brotli_codec, zstd_codec

    bomb_plain = b"\x00" * (1 << 20)  # 1 MiB of zeros compresses tiny
    cases = {
        "gzip": _gzip.compress(bomb_plain),
        "deflate": __import__("zlib").compress(bomb_plain),
        "zstd": zstd_codec.compress(bomb_plain, level="rle"),
        "br": brotli_codec.compress(bomb_plain),
    }
    for enc, comp in cases.items():
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: " + enc.encode() + b"\r\n\r\n" + comp
        )
        # generous cap: decodes fine
        _, ok_body = warc.split_http_response(payload, max_body=2 << 20)
        assert ok_body == bomb_plain, enc
        # tight cap: raw bytes come back, nothing raises
        _, raw = warc.split_http_response(payload, max_body=1024)
        assert raw == comp, enc


def test_warc_zst_with_shared_dictionary():
    """IIPC layout: a leading skippable frame (magic 0x184D2A5D) carries
    a trained dictionary; member records are compressed against it."""
    import ctypes

    import pytest as _pytest

    from pdf_parser_spark import zstd_codec

    try:
        lib = ctypes.CDLL("libzstd.so.1")
    except OSError:
        _pytest.skip("libzstd not loadable")
    lib.ZDICT_trainFromBuffer.restype = ctypes.c_size_t
    lib.ZDICT_trainFromBuffer.argtypes = [
        ctypes.c_void_p, ctypes.c_size_t, ctypes.c_char_p,
        ctypes.POINTER(ctypes.c_size_t), ctypes.c_uint,
    ]
    lib.ZDICT_isError.restype = ctypes.c_uint
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_compressBound.restype = ctypes.c_size_t
    lib.ZSTD_compress_usingDict.restype = ctypes.c_size_t
    lib.ZSTD_compress_usingDict.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_size_t, ctypes.c_char_p,
        ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t, ctypes.c_int,
    ]
    lib.ZSTD_isError.restype = ctypes.c_uint

    pages = [
        (f"https://d{i}.example/p", "2026-01-01T00:00:00Z",
         f"<html><body><p>shared boilerplate page {i}</p></body></html>".encode())
        for i in range(40)
    ]
    plain = warc.write_warc(pages, compression="none")
    # train on the record bytes themselves
    recs = [r.start() for r in __import__("re").finditer(b"WARC/1.0", plain)] + [len(plain)]
    samples = [plain[a:b] for a, b in zip(recs, recs[1:])]
    blob = b"".join(samples)
    sizes = (ctypes.c_size_t * len(samples))(*[len(s) for s in samples])
    buf = ctypes.create_string_buffer(8192)
    r = lib.ZDICT_trainFromBuffer(buf, 8192, blob, sizes, len(samples))
    if lib.ZDICT_isError(r):
        _pytest.skip("dictionary training failed on this corpus size")
    zdict = buf.raw[:r]

    def comp_dict(msg: bytes) -> bytes:
        cctx = lib.ZSTD_createCCtx()
        bound = lib.ZSTD_compressBound(len(msg))
        out = ctypes.create_string_buffer(bound)
        n = lib.ZSTD_compress_usingDict(
            ctypes.c_void_p(cctx), ctypes.cast(out, ctypes.c_void_p), bound,
            msg, len(msg), zdict, len(zdict), 3,
        )
        lib.ZSTD_freeCCtx(ctypes.c_void_p(cctx))
        assert not lib.ZSTD_isError(n)
        return out.raw[:n]

    archive = zstd_codec.write_skippable_frame(zdict, 0xD) + b"".join(
        comp_dict(s) for s in samples
    )
    rows = list(warc.warc_to_page_rows(archive))
    assert [r["url"] for r in rows] == [u for u, _, _ in pages]
    assert [r["html"] for r in rows] == [h for _, _, h in pages]
