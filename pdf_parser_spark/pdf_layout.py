"""pdfminer-style PDF layout analysis (pure Python, deterministic).

The north-star pipeline (BASELINE.json north_star) requires "a pdfminer-style
layout analysis pass (char-to-line-to-block grouping, reading-order sort,
table/region detection) for PDF payloads". This module is that pass, written
from scratch against the public pdfminer.six layout algorithm description
(LAParams-style grouping: chars cluster into lines by baseline proximity,
lines into text boxes by vertical adjacency, boxes sorted into reading order).

Real ``%PDF-`` bytes become char boxes through ONE decoder,
`decode_pdf_chars`, which is the from-scratch `pdf_codec.decode_pdf_chars`
re-exported: no engine is picked by what an executor can import, so a url
decodes to the same char boxes — and the same text — on every executor. An
undecodable document raises (ValueError for an empty or out-of-scope file),
and the extract stage turns the error into a parse_failed row. Fixtures
synthesize deterministic char boxes via `synthesize_char_boxes`, and
`extract_layout_text(synthesize_char_boxes(t))` round-trips t
byte-identically (asserted in tests/test_pdf_layout.py).

Geometry model: origin bottom-left (PDF convention), y grows upward.
A char box is the tuple ``(page:int, ch:str, x0, y0, x1, y1)``.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass

from pdf_parser_spark.pdf_codec import decode_pdf_chars  # noqa: F401 — re-export

# Synthesis constants (shared with fixtures; all integers → exact floats).
CHAR_W = 6.0
LINE_H = 12.0
PAGE_TOP = 780.0
LINES_PER_PAGE = 60
COLUMN_X = (0.0, 600.0)  # left/right column origins for two-column synthesis

# LAParams-style tolerances.
Y_TOL = 3.0          # chars within this baseline distance share a line
SPACE_FACTOR = 0.5   # x-gap > SPACE_FACTOR*char_w ⇒ inferred space(s)
CHAR_MARGIN = 24     # x-gap > CHAR_MARGIN*char_w ⇒ separate line segment
BLOCK_GAP_FACTOR = 1.8  # line gap > factor*line_h ⇒ new block


@dataclass
class Line:
    page: int
    y: float          # baseline (y0)
    x0: float
    x1: float
    text: str
    char_w: float = CHAR_W  # median glyph width (for indent reconstruction)


@dataclass
class LayoutBlock:
    page: int
    column: int
    y_top: float
    y_bottom: float
    x0: float
    x1: float
    lines: list[Line]
    region: str = "text"  # 'text' | 'table'


# ---------------------------------------------------------------------------
# char → line
# ---------------------------------------------------------------------------


_X0 = operator.itemgetter(2)
_Y0 = operator.itemgetter(3)


def group_chars_to_lines(chars: list[tuple]) -> list[Line]:
    """Cluster char boxes into lines by (page, baseline-y) proximity.

    Chars whose y0 differ by <= Y_TOL join the same baseline cluster; within
    a cluster chars sort by x0, split into separate line segments at gaps
    wider than CHAR_MARGIN char widths (pdfminer's char_margin — this is what
    keeps two-column gutters from fusing into one line), and spaces are
    inferred from smaller x-gaps (gap of k missing char widths → k spaces, so
    runs of spaces survive the round trip).
    """
    by_page: dict[int, list[tuple]] = {}
    for c in chars:
        by_page.setdefault(c[0], []).append(c)

    lines: list[Line] = []
    for page in sorted(by_page):
        # sort by descending y (top of page first), then x — two stable
        # C-level passes (x asc, then y desc) order identically to the
        # tuple key (-y, x) including full-tie input order, without a
        # Python lambda per comparison in the per-char hot path
        page_chars = sorted(by_page[page], key=_X0)
        page_chars.sort(key=_Y0, reverse=True)
        cluster: list[tuple] = []
        cluster_y = None
        for c in page_chars:
            if cluster_y is None or abs(c[3] - cluster_y) <= Y_TOL:
                cluster.append(c)
                cluster_y = c[3] if cluster_y is None else cluster_y
            else:
                lines.extend(_finish_cluster(page, cluster))
                cluster = [c]
                cluster_y = c[3]
        if cluster:
            lines.extend(_finish_cluster(page, cluster))
    return lines


def _finish_cluster(page: int, cluster: list[tuple]) -> list[Line]:
    cluster.sort(key=_X0)
    widths = sorted(c[4] - c[2] for c in cluster)
    char_w = widths[len(widths) // 2] if widths else CHAR_W
    if char_w <= 0:
        char_w = CHAR_W
    segments: list[list[tuple]] = [[]]
    prev_x1 = None
    for c in cluster:
        if prev_x1 is not None and (c[2] - prev_x1) > CHAR_MARGIN * char_w:
            segments.append([])
        segments[-1].append(c)
        prev_x1 = c[4]
    return [_finish_line(page, seg, char_w) for seg in segments if seg]


def _finish_line(page: int, cluster: list[tuple], char_w: float) -> Line:
    parts: list[str] = []
    prev_x1 = None
    for c in cluster:
        if prev_x1 is not None:
            gap = c[2] - prev_x1
            if gap > SPACE_FACTOR * char_w:
                parts.append(" " * max(1, round(gap / char_w)))
        parts.append(c[1])
        prev_x1 = c[4]
    return Line(
        page=page,
        y=cluster[0][3],
        x0=cluster[0][2],
        x1=cluster[-1][4],
        text="".join(parts),
        char_w=char_w,
    )


# ---------------------------------------------------------------------------
# line → column assignment + reading order
# ---------------------------------------------------------------------------


def detect_columns(lines: list[Line]) -> dict[int, float]:
    """Per page: x-split point if the page is two-column (absent otherwise).

    A page is two-column when a vertical gutter (no line crosses it) separates
    two non-empty line populations. Deterministic gutter probe at midpoints of
    the sorted distinct x-extents; the result does not depend on line order.
    """
    splits: dict[int, float] = {}
    by_page: dict[int, list[Line]] = {}
    for ln in lines:
        by_page.setdefault(ln.page, []).append(ln)
    for page, pls in by_page.items():
        if len(pls) < 2:
            continue
        # candidate gutters: midpoints between each line-end and the next line-start
        edges = sorted({ln.x0 for ln in pls} | {ln.x1 for ln in pls})
        best = None
        for i in range(len(edges) - 1):
            mid = (edges[i] + edges[i + 1]) / 2.0
            left = [ln for ln in pls if ln.x1 <= mid]
            right = [ln for ln in pls if ln.x0 >= mid]
            if (
                len(left) + len(right) == len(pls)
                and left
                and right
                and edges[i + 1] - edges[i] >= 2 * CHAR_W
            ):
                best = mid
                break
        if best is not None:
            splits[page] = best
    return splits


def column_of(ln: Line, splits: dict[int, float]) -> int:
    """0 for the left (or only) column of the line's page, 1 for the right."""
    split = splits.get(ln.page)
    return 0 if split is None or ln.x1 <= split else 1


def reading_order(lines: list[Line], splits: dict[int, float]) -> list[Line]:
    """Reading-order sort: page asc → column (left first) → y desc → x asc.

    ``splits`` is ``detect_columns(lines)``.
    """
    return sorted(lines, key=lambda ln: (ln.page, column_of(ln, splits), -ln.y, ln.x0))


# ---------------------------------------------------------------------------
# line → block + table/region detection
# ---------------------------------------------------------------------------


def group_lines_to_blocks(ordered: list[Line], splits: dict[int, float]) -> list[LayoutBlock]:
    """Vertically-adjacent same-column lines form a block (pdfminer textbox).

    ``splits`` is ``detect_columns(ordered)``.
    """
    blocks: list[LayoutBlock] = []
    cur: list[Line] = []

    def flush() -> None:
        if not cur:
            return
        blocks.append(
            LayoutBlock(
                page=cur[0].page,
                column=column_of(cur[0], splits),
                y_top=cur[0].y,
                y_bottom=cur[-1].y,
                x0=min(ln.x0 for ln in cur),
                x1=max(ln.x1 for ln in cur),
                lines=list(cur),
                region=_detect_region(cur),
            )
        )
        cur.clear()

    prev: Line | None = None
    for ln in ordered:
        if prev is not None and (
            ln.page != prev.page
            or column_of(ln, splits) != column_of(prev, splits)
            or (prev.y - ln.y) > BLOCK_GAP_FACTOR * LINE_H
        ):
            flush()
        cur.append(ln)
        prev = ln
    flush()
    return blocks


def _detect_region(lines: list[Line]) -> str:
    """'table' when ≥2 lines share ≥2 internal column stops (aligned gaps)."""
    if len(lines) < 2:
        return "text"
    stop_sets = []
    for ln in lines:
        stops = set()
        x = ln.x0
        run = 0
        for ch in ln.text:
            if ch == " ":
                run += 1
            else:
                if run >= 2:
                    stops.add(round(x, 1))
                run = 0
            x += CHAR_W
        if stops:
            stop_sets.append(stops)
    if len(stop_sets) < 2:
        return "text"
    common = set.intersection(*stop_sets) if stop_sets else set()
    aligned = sum(1 for s in stop_sets if common & s)
    return "table" if len(common) >= 1 and aligned >= max(2, int(0.6 * len(lines))) else "text"


# ---------------------------------------------------------------------------
# top-level: chars → text (+ layout metadata)
# ---------------------------------------------------------------------------


def extract_layout_text(
    chars: list[tuple], return_pages: bool = False
) -> tuple[str, list[dict]] | tuple[str, list[dict], list[str]]:
    """Full layout pass: chars → reading-ordered text + block span records.

    Blank source lines are reconstructed from vertical gaps (gap of k line
    heights → k-1 empty lines), so synthesize→extract round-trips
    byte-identically, including blank lines.

    With ``return_pages=True`` also returns the per-page texts (reading
    order within each page), which downstream per-page semantics need —
    the reference's source-account loop runs `page.extract_text()` per page
    (strategies/amex_multiline.py:33-41). ``"\\n".join(page_texts) == text``
    because pages are contiguous in reading order and blank-line
    reconstruction never crosses a page boundary.
    """
    if not chars:
        return ("", [], []) if return_pages else ("", [])
    lines = group_chars_to_lines(chars)
    splits = detect_columns(lines)
    lines = reading_order(lines, splits)

    # column text origin = leftmost line start in that (page, column);
    # leading indentation is reconstructed from x0 relative to it
    origins: dict[tuple[int, int], float] = {}
    for ln in lines:
        key = (ln.page, column_of(ln, splits))
        origins[key] = min(origins.get(key, ln.x0), ln.x0)

    out: list[str] = []
    page_of_line: list[int] = []
    prev: Line | None = None
    for ln in lines:
        col = column_of(ln, splits)
        if prev is not None and ln.page == prev.page and col == column_of(prev, splits):
            n_blank = max(0, round((prev.y - ln.y) / LINE_H) - 1)
            out.extend([""] * n_blank)
            page_of_line.extend([ln.page] * n_blank)
        indent = max(0, round((ln.x0 - origins[(ln.page, col)]) / ln.char_w))
        out.append(" " * indent + ln.text)
        page_of_line.append(ln.page)
        prev = ln
    text = "\n".join(out)

    blocks = group_lines_to_blocks(lines, splits)
    spans = [
        {
            "page": b.page,
            "column": b.column,
            "y_top": b.y_top,
            "y_bottom": b.y_bottom,
            "x0": b.x0,
            "x1": b.x1,
            "n_lines": len(b.lines),
            "region": b.region,
        }
        for b in blocks
    ]
    if not return_pages:
        return text, spans
    page_texts: list[str] = []
    cur_page: int | None = None
    cur_lines: list[str] = []
    for line_text, page in zip(out, page_of_line):
        if cur_page is not None and page != cur_page:
            page_texts.append("\n".join(cur_lines))
            cur_lines = []
        cur_page = page
        cur_lines.append(line_text)
    if cur_lines:
        page_texts.append("\n".join(cur_lines))
    return text, spans, page_texts


# ---------------------------------------------------------------------------
# deterministic synthesis (fixture renderer) + gated real decode
# ---------------------------------------------------------------------------


def synthesize_char_boxes(
    text: str, two_column: bool = False
) -> list[tuple]:
    """Deterministic fake renderer: text → char boxes on a page grid.

    Single-column: lines stack top-down at LINE_H, page-break every
    LINES_PER_PAGE lines. Two-column: each page's lines are split half/half
    into left and right columns (reading order restores the original order).
    Space chars emit no box (layout must re-infer them from gaps) — this is
    what makes the round-trip test meaningful.
    """
    src_lines = text.split("\n")
    boxes: list[tuple] = []
    pages: list[list[str]] = [
        src_lines[i : i + LINES_PER_PAGE] for i in range(0, len(src_lines), LINES_PER_PAGE)
    ] or [[]]
    for page_no, page_lines in enumerate(pages):
        if two_column and len(page_lines) > 1:
            half = (len(page_lines) + 1) // 2
            placements = [(ln, COLUMN_X[0], i) for i, ln in enumerate(page_lines[:half])] + [
                (ln, COLUMN_X[1], i) for i, ln in enumerate(page_lines[half:])
            ]
        else:
            placements = [(ln, COLUMN_X[0], i) for i, ln in enumerate(page_lines)]
        for line_text, x_origin, row in placements:
            y0 = PAGE_TOP - row * LINE_H
            x = x_origin
            for ch in line_text:
                if ch != " ":
                    boxes.append((page_no, ch, x, y0, x + CHAR_W, y0 + LINE_H * 0.75))
                x += CHAR_W
    return boxes
