"""Charset sniffing: BOM / transport / declared / utf-8 / latin-1 cascade,
lying labels, and the Spark decode-provenance column."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.charset import declared_charset, sniff_decode


def test_bom_wins():
    text, enc, src = sniff_decode("héllo".encode("utf-16-le") and b"\xff\xfe" + "héllo".encode("utf-16-le"))
    assert (text, enc, src) == ("héllo", "utf-16-le", "bom")
    text, enc, src = sniff_decode(b"\xef\xbb\xbf" + "héllo".encode("utf-8"))
    assert (text, enc, src) == ("héllo", "utf-8-sig", "bom")


def test_declared_meta_charset():
    body = "<html><head><meta charset='windows-1252'></head><body>caf\xe9</body></html>"
    raw = body.encode("cp1252")
    text, enc, src = sniff_decode(raw)
    assert src == "declared" and enc == "cp1252" and "café" in text

    httpequiv = (
        b'<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">'
        b"caf\xe9"
    )
    text, enc, src = sniff_decode(httpequiv)
    assert src == "declared" and enc == "iso8859-1" and "café" in text


def test_xml_prolog():
    raw = '<?xml version="1.0" encoding="ISO-8859-15"?><r>café</r>'.encode("iso8859-15")
    text, enc, src = sniff_decode(raw)
    assert src == "declared" and "café" in text


def test_lying_declaration_falls_through():
    # declares ascii but carries a non-ascii byte: declared fails, utf-8
    # fails, latin-1 lands it
    raw = b"<meta charset='ascii'>caf\xe9"
    text, enc, src = sniff_decode(raw)
    assert src == "latin-1" and "café" in text

    # unknown codec name
    raw = b"<meta charset='x-not-a-codec'>plain ascii"
    text, enc, src = sniff_decode(raw)
    assert src == "utf-8" and "plain ascii" in text


def test_utf8_then_latin1():
    assert sniff_decode("plain".encode())[1:] == ("utf-8", "utf-8")
    text, enc, src = sniff_decode(b"caf\xe9 raw bytes")
    assert (enc, src) == ("latin-1", "latin-1") and "café" in text
    assert sniff_decode(None) == ("", "utf-8", "empty")
    assert sniff_decode(b"") == ("", "utf-8", "empty")


def test_declared_charset_parsing():
    assert declared_charset(b"<meta charset=UTF-8>") == "utf-8"
    assert declared_charset(b'<META CHARSET="Shift_JIS">') == "shift_jis"
    assert declared_charset(b"<p>nothing</p>") is None


def test_spark_decode_provenance_column(spark):
    rows = [
        ("u1", "utf8 café".encode("utf-8")),
        ("u2", b"\xef\xbb\xbfbom text"),
        ("u3", "<meta charset='cp1252'>caf\xe9".encode("cp1252")),
        ("u4", b"raw \xe9 latin"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")

    from pdf_parser_spark.charset import with_decoded_text

    out = with_decoded_text(pages)
    got = {r["url"]: (r["source"], r["text"]) for r in out.collect()}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" in plan
    assert got["u1"][0] == "utf-8" and "café" in got["u1"][1]
    assert got["u2"][0] == "bom"
    assert got["u3"][0] == "declared" and "café" in got["u3"][1]
    assert got["u4"][0] == "latin-1" and "é" in got["u4"][1]


def test_declared_utf16_without_bom_remapped_to_utf8():
    """WHATWG encoding sniffing: a DECLARED utf-16/utf-32 with no matching
    BOM cannot be honest (the declaration itself parsed as ASCII) — decode
    as utf-8, never as even-length mojibake labeled source='declared'."""
    raw = b"<meta charset='utf-16'>hello web"  # even length: utf-16 "works"
    text, enc, src = sniff_decode(raw)
    assert (enc, src) == ("utf-8", "utf-8") and "hello web" in text

    raw = b"<meta charset='utf-16le'>abc"  # odd length
    text, enc, src = sniff_decode(raw)
    assert src == "utf-8" and "abc" in text

    # a REAL utf-16 payload still decodes via its BOM, before declarations
    raw = "﻿réal utf-16".encode("utf-16-le")
    bom_raw = b"\xff\xfe" + "réal utf-16".encode("utf-16-le")
    text, enc, src = sniff_decode(bom_raw)
    assert src == "bom" and "réal utf-16" in text


def test_charset_sniffing_order():
    """BOM → transport label → declared → utf-8 → latin-1. A transport
    label obeys the declaration rule: an unknown codec, a BOM-less
    utf-16/32 label, or bytes that fail a strict decode fall through."""
    cases = [
        # (raw, transport) → (text, encoding, source)
        ((b"\xef\xbb\xbfhi", "iso-8859-1"), ("hi", "utf-8-sig", "bom")),
        ((b"x", "ISO-8859-1"), ("x", "iso8859-1", "transport")),
        (
            (b'<html><meta charset="Shift_JIS"><body>', None),
            ('<html><meta charset="Shift_JIS"><body>', "shift_jis", "declared"),
        ),
        ((b"<html>plain</html>", None), ("<html>plain</html>", "utf-8", "utf-8")),
        # the transport label outranks the document's own declaration
        (
            (b"<meta charset='shift_jis'>caf\xe9", "windows-1252"),
            ("<meta charset='shift_jis'>café", "cp1252", "transport"),
        ),
        # lying or unknown transport labels fall through
        (
            (b"<meta charset='cp1252'>caf\xe9", "x-no-such-codec"),
            ("<meta charset='cp1252'>café", "cp1252", "declared"),
        ),
        ((b"caf\xe9", "ascii"), ("café", "latin-1", "latin-1")),
        ((b"caf\xe9", "utf-8"), ("café", "latin-1", "latin-1")),
        ((b"hello web", "utf-16"), ("hello web", "utf-8", "utf-8")),
    ]
    for (raw, transport), want in cases:
        assert sniff_decode(raw, transport) == want, (raw, transport)
