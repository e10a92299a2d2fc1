"""pdfminer-style layout analysis tests — synthesize→extract round-trips."""

from __future__ import annotations

import pytest

from pdf_parser_spark import fixtures, pdf_layout
from pdf_parser_spark.pdf_layout import (
    decode_pdf_chars,
    detect_columns,
    extract_layout_text,
    group_chars_to_lines,
    group_lines_to_blocks,
    reading_order,
    synthesize_char_boxes,
)


def test_single_column_round_trip_fixture_corpus():
    for doc_id in range(0, 120):
        text = fixtures.statement_text(doc_id)
        chars = synthesize_char_boxes(text)
        out, spans = extract_layout_text(chars)
        assert out == text, f"doc {doc_id} layout round-trip failed"


def test_two_column_round_trip():
    text = "\n".join(f"line number {i} of the column test" for i in range(20))
    chars = synthesize_char_boxes(text, two_column=True)
    out, _ = extract_layout_text(chars)
    assert out == text


def test_multi_space_and_indent_preserved():
    text = "col1  col2   col3\n  indented line\nplain line"
    out, _ = extract_layout_text(synthesize_char_boxes(text))
    assert out == text


def test_blank_lines_reconstructed():
    text = "first\n\n\nfourth line here"
    out, _ = extract_layout_text(synthesize_char_boxes(text))
    assert out == text


def test_multi_page_round_trip():
    text = "\n".join(f"row {i:04d} content" for i in range(150))  # 3 pages
    chars = synthesize_char_boxes(text)
    assert max(c[0] for c in chars) == 2
    out, _ = extract_layout_text(chars)
    assert out == text


def test_reading_order_two_columns():
    text = "\n".join(f"L{i}" for i in range(10))
    chars = synthesize_char_boxes(text, two_column=True)
    lines = group_chars_to_lines(chars)
    splits = detect_columns(lines)
    assert splits  # split detected on page 0
    assert [ln.text for ln in reading_order(lines, splits)] == [f"L{i}" for i in range(10)]


def test_table_region_detection():
    text = (
        "DATE        DESCRIPTION        AMOUNT\n"
        "01/05/2024  COFFEE             4.50\n"
        "01/06/2024  BOOKS              12.00"
    )
    lines = group_chars_to_lines(synthesize_char_boxes(text))
    splits = detect_columns(lines)
    blocks = group_lines_to_blocks(reading_order(lines, splits), splits)
    assert any(b.region == "table" for b in blocks)


def test_prose_not_table():
    text = (
        "This is an ordinary paragraph of text\n"
        "with no aligned columns at all in it\n"
        "just flowing prose across the lines"
    )
    lines = group_chars_to_lines(synthesize_char_boxes(text))
    splits = detect_columns(lines)
    blocks = group_lines_to_blocks(reading_order(lines, splits), splits)
    assert all(b.region == "text" for b in blocks)


def test_columns_detected_once_per_document(monkeypatch):
    # reading order, indentation origins and block grouping share one split
    calls = []
    detect = pdf_layout.detect_columns
    monkeypatch.setattr(pdf_layout, "detect_columns", lambda lines: calls.append(1) or detect(lines))
    text = "\n".join(f"line number {i} of the column test" for i in range(20))
    out, spans = extract_layout_text(synthesize_char_boxes(text, two_column=True))
    assert out == text
    assert {s["column"] for s in spans} == {0, 1}
    assert len(calls) == 1


def test_block_spans_metadata():
    text = fixtures.statement_text(0)
    out, spans = extract_layout_text(synthesize_char_boxes(text))
    assert spans
    assert all(s["region"] in ("text", "table") for s in spans)
    assert all(s["n_lines"] >= 1 for s in spans)


def test_decode_pdf_chars_engine_chain():
    # decode_pdf_chars IS the builtin codec: undecodable input raises its
    # ValueError, which the extract stage turns into a parse_failed row
    with pytest.raises(ValueError, match="no page objects"):
        decode_pdf_chars(b"%PDF-1.4 no objects at all")
    # real bytes decode through the same codec
    from pdf_parser_spark.pdf_codec import write_pdf

    boxes = decode_pdf_chars(write_pdf("hello real pdf"))
    assert boxes and extract_layout_text(boxes)[0] == "hello real pdf"


def test_empty_chars():
    assert extract_layout_text([]) == ("", [])
