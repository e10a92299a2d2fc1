"""HTML table extraction: <table> markup → relational (row, col, text) cells.

The structured-data counterpart of html_extract's main-text pass: table-QA
and table-pretraining corpora (public lineage: TaPas/TableFormer-style
pipelines over Common Crawl) need every <table> as rows and columns, not
as flattened prose. The scalar core is a stdlib-HTMLParser walker with the
implicit-close rules real web tables rely on (a <td> terminates the
previous cell, a <tr> terminates the previous row, nested tables get
their own identity and own cells); the Spark operator is one
`mapInPandas` pass — Arrow-batched, zero shuffles, embarrassingly
parallel over page partitions, exactly like operators/extract.py.

Limitations (documented, deliberate): colspan/rowspan are recorded as
attributes of the cell they appear on, not expanded into grid
positions — expansion is a presentation concern the consumer can apply;
cells inside a nested table belong to the INNER table only.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

from pyspark.sql import DataFrame

from pdf_parser_spark.charset import sniff_decode

TABLE_SCHEMA = (
    "url string, table_idx int, row_idx int, col_idx int, "
    "is_header boolean, col_span int, row_span int, cell_text string"
)


class _TableCtx:
    __slots__ = ("table_idx", "row_idx", "col_idx", "in_cell", "is_header",
                 "col_span", "row_span", "parts")

    def __init__(self, table_idx: int) -> None:
        self.table_idx = table_idx
        self.row_idx = -1
        self.col_idx = -1
        self.in_cell = False
        self.is_header = False
        self.col_span = 1
        self.row_span = 1
        self.parts: list[str] = []


# character data inside these never belongs in a cell's text — the same
# exclusion html_extract applies to the main-text pass
_SKIP_TAGS = frozenset(("script", "style", "noscript", "template", "svg"))


class _TableParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.cells: list[tuple[int, int, int, bool, int, int, str]] = []
        self._stack: list[_TableCtx] = []
        self._next_id = 0
        self._skip_depth = 0

    # -- cell lifecycle ------------------------------------------------------

    def _close_cell(self) -> None:
        ctx = self._stack[-1]
        if not ctx.in_cell:
            return
        text = " ".join(" ".join(ctx.parts).split())
        self.cells.append(
            (ctx.table_idx, max(ctx.row_idx, 0), ctx.col_idx,
             ctx.is_header, ctx.col_span, ctx.row_span, text)
        )
        ctx.in_cell = False
        ctx.parts = []

    @staticmethod
    def _span(attrs, name: str) -> int:
        for k, v in attrs:
            if k == name and v is not None:
                try:
                    return max(1, int(v.strip()))
                except ValueError:
                    return 1
        return 1

    # -- parser events -------------------------------------------------------

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "table":
            ctx = _TableCtx(self._next_id)
            self._next_id += 1
            self._stack.append(ctx)
            return
        if not self._stack:
            return
        ctx = self._stack[-1]
        if tag == "tr":
            self._close_cell()
            ctx.row_idx += 1
            ctx.col_idx = -1
        elif tag in ("td", "th"):
            self._close_cell()
            if ctx.row_idx < 0:  # td without tr: implicit first row
                ctx.row_idx = 0
            ctx.col_idx += 1
            ctx.in_cell = True
            ctx.is_header = tag == "th"
            ctx.col_span = self._span(attrs, "colspan")
            ctx.row_span = self._span(attrs, "rowspan")
        elif tag == "br" and ctx.in_cell:
            ctx.parts.append(" ")

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if not self._stack:
            return
        if tag in ("td", "th", "tr"):
            self._close_cell()
        elif tag == "table":
            self._close_cell()
            self._stack.pop()

    def handle_data(self, data):
        if (
            self._skip_depth == 0
            and self._stack
            and self._stack[-1].in_cell
            and data
        ):
            self._stack[-1].parts.append(data)

    def finish(self) -> None:
        while self._stack:
            self._close_cell()
            self._stack.pop()


def extract_tables(html_bytes: bytes | None) -> list[tuple]:
    """Scalar core: html bytes → [(table_idx, row_idx, col_idx, is_header,
    col_span, row_span, cell_text)]. The bytes decode through
    charset.sniff_decode, as in extract_main_text; missing payloads → []."""
    p = _TableParser()
    try:
        p.feed(sniff_decode(html_bytes)[0])
        p.finish()
    except Exception:
        return []
    return p.cells


def with_tables(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """One row per table cell over the pages table — a single
    mapInPandas stage (no shuffle; parallel over input partitions)."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: dict[str, list] = {
                "url": [], "table_idx": [], "row_idx": [], "col_idx": [],
                "is_header": [], "col_span": [], "row_span": [], "cell_text": [],
            }
            for url, payload in zip(pdf[url_col], pdf[html_col]):
                for t, r, c, h, cs, rs, text in extract_tables(payload):
                    out["url"].append(url)
                    out["table_idx"].append(t)
                    out["row_idx"].append(r)
                    out["col_idx"].append(c)
                    out["is_header"].append(h)
                    out["col_span"].append(cs)
                    out["row_span"].append(rs)
                    out["cell_text"].append(text)
            yield pd.DataFrame(out)

    return pages.select(url_col, html_col).mapInPandas(gen, TABLE_SCHEMA)


__all__ = ["extract_tables", "with_tables", "TABLE_SCHEMA"]
