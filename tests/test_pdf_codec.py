"""From-scratch PDF codec: writer↔decoder round trip, operator coverage,
engine-chain dispatch, and the real-%PDF- fixture path."""

from __future__ import annotations

import zlib

import pytest

from pdf_parser_spark import pdf_codec, pdf_layout
from pdf_parser_spark.fixtures import page_row, statement_text


# ---------------------------------------------------------------------------
# writer → decoder → layout round trip (byte identity)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("doc_id", [0, 3, 6, 16, 26, 36, 46])
def test_statement_roundtrip_byte_identical(doc_id):
    text = statement_text(doc_id)
    pdf = pdf_codec.write_pdf(text)
    assert pdf.startswith(b"%PDF-") and pdf.rstrip().endswith(b"%%EOF")
    assert pdf_codec.extract_text(pdf) == text


def test_multipage_roundtrip():
    text = "\n".join(f"row {i} of a long (multi) page\\statement" for i in range(150))
    pdf = pdf_codec.write_pdf(text)
    chars = pdf_codec.decode_pdf_chars(pdf)
    assert {c[0] for c in chars} == {0, 1, 2}  # 150 lines / 60 per page
    assert pdf_codec.extract_text(pdf) == text


def test_blank_lines_and_escapes_roundtrip():
    text = "first (parens) and \\slashes\\\n\n\nafter three blanks\ttab stays"
    # tabs are not expressible on the grid writer: normalize like fixtures do
    text = text.replace("\t", " ")
    assert pdf_codec.extract_text(pdf_codec.write_pdf(text)) == text


def test_uncompressed_stream_roundtrip():
    text = statement_text(1)
    pdf = pdf_codec.write_pdf(text, compress=False)
    assert b"/FlateDecode" not in pdf
    assert pdf_codec.extract_text(pdf) == text


def test_latin1_and_unicode_fallback():
    # Latin-1 chars survive via octal escapes; astral chars degrade to '?'
    text = "caf\xe9 r\xe9sum\xe9 ¥100"
    assert pdf_codec.extract_text(pdf_codec.write_pdf(text)) == text
    assert pdf_codec.extract_text(pdf_codec.write_pdf("emoji \U0001f600")) == "emoji ?"


# ---------------------------------------------------------------------------
# decoder generality: a hand-built "foreign" PDF using Td/TD/T*/'/TJ and an
# embedded /Widths array — operators our writer never emits
# ---------------------------------------------------------------------------


def _foreign_pdf() -> bytes:
    content = b"""BT
/F1 10 Tf
14 TL
0 780 Td
(first line) Tj
0 -14 Td
(second via Td) Tj
T*
(third via T-star) Tj
(fourth via quote) '
T*
[(fif) 10 (th via TJ)] TJ
ET"""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/FirstChar 32 /LastChar 122 /Widths [" +
            b" ".join(b"600" for _ in range(91)) + b"] >>"
        ),
        4: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 800 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"
        ),
        5: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    }
    buf = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref = len(buf)
    buf += b"xref\n0 6\n0000000000 65535 f \n"
    for num in range(1, 6):
        buf += b"%010d 00000 n \n" % offsets[num]
    buf += b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref
    return bytes(buf)


def test_foreign_pdf_text_operators():
    text = pdf_codec.extract_text(_foreign_pdf())
    lines = text.split("\n")
    assert lines[0] == "first line"
    assert lines[1] == "second via Td"
    assert lines[2] == "third via T-star"
    assert lines[3] == "fourth via quote"
    assert lines[4].startswith("fif") and lines[4].endswith("th via TJ")


def test_out_of_scope_inputs_raise():
    with pytest.raises(ValueError):
        pdf_codec.decode_pdf_chars(b"not a pdf at all")
    fake_encrypted = b"%PDF-1.4\ntrailer << /Encrypt 9 0 R >>"
    with pytest.raises(ValueError):
        pdf_codec.decode_pdf_chars(fake_encrypted)


# ---------------------------------------------------------------------------
# Type0 / Identity-H composite fonts (2-byte CIDs + ToUnicode CMap)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("doc_id", [0, 6, 26])
def test_type0_roundtrip_byte_identical(doc_id):
    text = statement_text(doc_id)
    pdf = pdf_codec.write_pdf_type0(text)
    assert b"/Subtype /Type0" in pdf and b"/Encoding /Identity-H" in pdf
    assert b"/CIDToGIDMap /Identity" in pdf
    assert pdf_codec.extract_text(pdf) == text


def test_type0_multipage_and_full_unicode_roundtrip():
    # Identity-H has no Latin-1 limit: CJK and astral chars survive intact
    # (the simple-font writer degrades them to '?')
    lines = [f"row {i} caf\xe9 日本語 \U0001f600" for i in range(70)]
    text = "\n".join(lines)
    pdf = pdf_codec.write_pdf_type0(text)
    chars = pdf_codec.decode_pdf_chars(pdf)
    assert {c[0] for c in chars} == {0, 1}
    assert pdf_codec.extract_text(pdf) == text


def test_type0_cmap_is_load_bearing():
    """CIDs are first-appearance ordinals, NOT code points: stripping the
    ToUnicode reference must scramble the decoded text, proving the decoder
    really reads the CMap rather than shortcutting cid→chr(cid)."""
    text = "hello type zero world"
    pdf = pdf_codec.write_pdf_type0(text)
    stripped = pdf.replace(b"/ToUnicode 5 0 R ", b"")
    assert stripped != pdf
    assert pdf_codec.extract_text(stripped) != text
    assert pdf_codec.extract_text(pdf) == text


def test_type0_non_identity_encoding_raises():
    pdf = pdf_codec.write_pdf_type0("some text")
    broken = pdf.replace(b"/Encoding /Identity-H", b"/Encoding /UniJIS-UCS2-H")
    with pytest.raises(ValueError, match="out of scope"):
        pdf_codec.decode_pdf_chars(broken)


def test_tounicode_bfchar_and_bfrange_forms():
    cmap = (
        b"begincmap\n"
        b"2 beginbfchar\n<0001> <0041>\n<0002> <00660066>\nendbfchar\n"
        b"2 beginbfrange\n"
        b"<0010> <0012> <0061>\n"               # base form: a b c
        b"<0020> <0021> [<005A> <D83DDE00>]\n"  # array form incl. surrogates
        b"endbfrange\nendcmap"
    )
    got = pdf_codec._parse_tounicode(cmap)
    assert got[1] == "A" and got[2] == "ff"     # ligature: multi-unit dst
    assert (got[0x10], got[0x11], got[0x12]) == ("a", "b", "c")
    assert got[0x20] == "Z" and got[0x21] == "\U0001f600"


def test_cid_w_array_both_row_forms():
    class _FakeDoc:
        def resolve(self, v):
            return v

    w = [1, [600.0, 500.0], 10, 12, 250.0]
    got = pdf_codec._parse_cid_widths(_FakeDoc(), w)
    assert got == {1: 600.0, 2: 500.0, 10: 250.0, 11: 250.0, 12: 250.0}


# ---------------------------------------------------------------------------
# object scan robustness: `N 0 obj` bytes inside a stream body are data
# ---------------------------------------------------------------------------


def test_obj_pattern_inside_stream_body_is_ignored():
    """Text containing '5 0 obj' lands verbatim in the uncompressed content
    stream; the scanner must not parse it as a header that clobbers the
    real object 5 (this document's page object)."""
    text = "hello\n5 0 obj << /Type /Garbage >> endobj\nworld"
    pdf = pdf_codec.write_pdf(text, compress=False)
    assert b"(5 0 obj" in pdf  # the trap is really in the stream body
    assert pdf_codec.extract_text(pdf) == text


# ---------------------------------------------------------------------------
# decode entry point + fixture integration
# ---------------------------------------------------------------------------


def test_engine_chain_reaches_builtin():
    """pdf_layout.decode_pdf_chars is the builtin codec — no import-gated
    engine in front of it — and decodes real %PDF- bytes."""
    text = statement_text(6)
    chars = pdf_layout.decode_pdf_chars(pdf_codec.write_pdf(text))
    assert pdf_layout.extract_layout_text(chars)[0] == text


def test_fixture_pdf_rows_carry_real_pdf_bytes():
    row = page_row(6)
    assert row["url"].endswith(".pdf")
    assert bytes(row["html"][:5]) == b"%PDF-"
    # the full extraction invariant for the real-PDF slice
    chars = pdf_layout.decode_pdf_chars(bytes(row["html"]))
    assert pdf_layout.extract_layout_text(chars)[0] == row["text"]
    # the text-bytes PDF slice is unchanged
    row5 = page_row(5)
    assert row5["url"].endswith(".pdf")
    assert bytes(row5["html"][:5]) != b"%PDF-"


def test_flate_streams_actually_compressed():
    pdf = pdf_codec.write_pdf(statement_text(0))
    assert b"/FlateDecode" in pdf
    # decoder really inflates: corrupting the stream must fail loudly
    i = pdf.find(b"stream\n") + len(b"stream\n")
    corrupted = pdf[:i] + b"\x00\x00" + pdf[i + 2 :]
    with pytest.raises(zlib.error):
        pdf_codec.decode_pdf_chars(corrupted)


def test_objstm_modern_layout_round_trip():
    """PDF 1.5 object streams (ISO 32000-1 §7.5.7): the catalog/page tree
    packed in a compressed, PNG-predictored /Type /ObjStm with a
    cross-reference STREAM — the layout most real-web PDFs use. The
    decoder must expand it and lay out identically to the classic file."""
    txt = statement_text(3)
    modern = pdf_codec.write_pdf_objstm(txt)
    assert modern.startswith(b"%PDF-1.5")
    assert b"/Type /ObjStm" in modern and b"/Type /XRef" in modern
    # the page tree is INSIDE the compressed ObjStm: the direct object
    # scan alone cannot see it — this file genuinely requires expansion
    assert b"/Type /Page" not in modern and b"/Type /Catalog" not in modern
    got = pdf_layout.extract_layout_text(pdf_codec.decode_pdf_chars(modern))
    classic = pdf_layout.extract_layout_text(
        pdf_codec.decode_pdf_chars(pdf_codec.write_pdf(txt))
    )
    assert got == classic

    # multi-page documents walk /Kids out of the expanded tree
    big = "\n".join(f"line {i}" for i in range(130))
    got2 = pdf_layout.extract_layout_text(
        pdf_codec.decode_pdf_chars(pdf_codec.write_pdf_objstm(big))
    )
    want2 = pdf_layout.extract_layout_text(
        pdf_codec.decode_pdf_chars(pdf_codec.write_pdf(big))
    )
    assert got2 == want2


def test_png_predictors_all_filter_types():
    """_png_unpredict inverts every PNG row filter (known-answer per the
    PNG spec's reconstruction functions)."""
    cols = 4
    raw_rows = [bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45])]
    # build filtered data per type, then assert un-predict restores raw
    def filt(ft):
        out = bytearray()
        prev = bytes(cols)
        for row in raw_rows:
            if ft == 0:
                enc = row
            elif ft == 1:  # Sub (bpp=1)
                enc = bytes([(row[i] - (row[i - 1] if i else 0)) & 0xFF for i in range(cols)])
            elif ft == 2:  # Up
                enc = bytes([(row[i] - prev[i]) & 0xFF for i in range(cols)])
            elif ft == 3:  # Average
                enc = bytes([(row[i] - (((row[i - 1] if i else 0) + prev[i]) >> 1)) & 0xFF for i in range(cols)])
            else:  # Paeth
                enc = bytearray()
                for i in range(cols):
                    a = row[i - 1] if i else 0
                    b = prev[i]
                    c = prev[i - 1] if i else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc.append((row[i] - pred) & 0xFF)
                enc = bytes(enc)
            out += bytes([ft]) + enc
            prev = row
        return bytes(out)

    for ft in range(5):
        assert pdf_codec._png_unpredict(filt(ft), cols) == b"".join(raw_rows), ft
    with pytest.raises(ValueError, match="unknown PNG predictor"):
        pdf_codec._png_unpredict(b"\x09AAAA", 4)


def test_fixture_rotates_all_three_pdf_layouts():
    """The real-PDF fixture slice must exercise classic, Type0, and
    object-stream layouts — each decoding back to its statement text."""
    seen = set()
    for doc_id in (6, 16, 26):
        row = page_row(doc_id)
        payload = bytes(row["html"])
        assert payload.startswith(b"%PDF-")
        if b"/Type /ObjStm" in payload:
            seen.add("objstm")
        elif b"/Type0" in payload or b"/Identity-H" in payload:
            seen.add("type0")
        else:
            seen.add("classic")
        chars = pdf_layout.decode_pdf_chars(payload)
        assert pdf_layout.extract_layout_text(chars)[0] == row["text"]
    assert seen == {"classic", "type0", "objstm"}
