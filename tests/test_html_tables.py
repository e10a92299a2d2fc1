"""HTML table extraction: scalar semantics over messy real-world markup
(implicit closes, nesting, spans, entities) and the Spark mapInPandas
round-trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.html_tables import extract_tables, with_tables


def _grid(cells):
    """(table, row, col) → text for easy assertions."""
    return {(t, r, c): text for t, r, c, _h, _cs, _rs, text in cells}


def test_basic_table_with_headers():
    html = b"""<html><body><table>
      <tr><th>Name</th><th>Age</th></tr>
      <tr><td>Ada</td><td>36</td></tr>
      <tr><td>Alan</td><td>41</td></tr>
    </table></body></html>"""
    cells = extract_tables(html)
    g = _grid(cells)
    assert g[(0, 0, 0)] == "Name" and g[(0, 0, 1)] == "Age"
    assert g[(0, 1, 0)] == "Ada" and g[(0, 2, 1)] == "41"
    headers = {(r, c) for t, r, c, h, *_ in cells if h}
    assert headers == {(0, 0), (0, 1)}


def test_implicit_closes_and_entities():
    # real-world sloppy markup: no </td>, no </tr>, entity refs
    html = b"<table><tr><td>a &amp; b<td>c<tr><td>d</table>"
    g = _grid(extract_tables(html))
    assert g == {(0, 0, 0): "a & b", (0, 0, 1): "c", (0, 1, 0): "d"}


def test_nested_tables_get_own_identity():
    html = b"""<table><tr><td>outer
      <table><tr><td>inner</td></tr></table>
    </td></tr></table>"""
    cells = extract_tables(html)
    g = _grid(cells)
    # inner cell belongs to table 1 only; outer cell keeps its own text
    assert g[(1, 0, 0)] == "inner"
    assert g[(0, 0, 0)] == "outer"


def test_spans_and_br():
    html = b'<table><tr><td colspan="2" rowspan="3">wide<br>tall</td></tr></table>'
    cells = extract_tables(html)
    (t, r, c, h, cs, rs, text) = cells[0]
    assert (cs, rs) == (2, 3) and text == "wide tall"


def test_td_without_tr_and_garbage():
    assert _grid(extract_tables(b"<table><td>x</td></table>")) == {(0, 0, 0): "x"}
    assert extract_tables(None) == []
    assert extract_tables(b"\xff\xfe\x00bad") == []
    assert extract_tables(b"no tables here <td>stray</td>") == []
    # a non-UTF-8 page decodes through its declared charset
    cp1252 = (
        '<html><head><meta charset="windows-1252"></head><body>'
        "<table><tr><td>café</td><td>€5</td></tr></table></body></html>"
    ).encode("cp1252")
    assert _grid(extract_tables(cp1252)) == {(0, 0, 0): "café", (0, 0, 1): "€5"}


def test_spark_roundtrip_no_shuffle(spark):
    rows = [
        ("u1", b"<table><tr><th>h</th></tr><tr><td>v1</td></tr></table>"),
        ("u2", b"<p>no table</p>"),
        ("u3", b"<table><tr><td>a</td><td>b</td></tr></table>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = with_tables(pages)
    got = {(r["url"], r["row_idx"], r["col_idx"]): r["cell_text"] for r in out.collect()}
    assert got == {
        ("u1", 0, 0): "h",
        ("u1", 1, 0): "v1",
        ("u3", 0, 0): "a",
        ("u3", 0, 1): "b",
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" in plan


def test_script_and_style_content_excluded():
    html = (
        b"<table><tr>"
        b"<td>Price<script>trackClick(42)</script></td>"
        b"<td><style>.x{color:red}</style>9.99</td>"
        b"<td><noscript>enable js</noscript>ok</td>"
        b"</tr></table>"
    )
    g = _grid(extract_tables(html))
    assert g == {(0, 0, 0): "Price", (0, 0, 1): "9.99", (0, 0, 2): "ok"}
