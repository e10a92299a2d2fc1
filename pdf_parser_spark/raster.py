"""Rasterizer + template-matching OCR engine (pure numpy, deterministic).

The reference's OCR fallback ((pyc) main.extract_text_lines_with_ocr) shells
out to pdf2image + Tesseract — neither ships in this container. This module
makes the raster path REAL in-container instead of environment-gated:

- ``rasterize_pdf(pdf_bytes)`` — the pdf2image analog: decode the PDF's char
  boxes (pdf_codec) and render each page to a binary pixel image by stamping
  a deterministic 5x7 bitmap glyph per character at its box position.
- ``ocr_image(img)`` / ``images_to_text(imgs)`` — a genuine (if small) OCR
  engine over PIXELS ONLY: row-projection line segmentation, column-run
  glyph segmentation, nearest-template classification with a confidence
  score, word grouping by inter-glyph gaps, and word ordering by vertical
  position (``top``) — the same output structure as Tesseract's
  ``image_to_data(Output.DICT)`` that the reference sorts on.

Honesty note: the glyph templates are a deterministic synthetic bitmap font
(hash-derived patterns with guaranteed row/column coverage and pairwise
Hamming distance >= MIN_GLYPH_DISTANCE — checked at import), shared by the
rasterizer and the recognizer. This is therefore template-match OCR against
a KNOWN font: the segmentation/classification/ordering machinery is real
(and provably noise-tolerant up to (MIN_GLYPH_DISTANCE-1)//2 flipped pixels
per glyph), but recognizing arbitrary scanned fonts still requires a real
engine; operators/ocr_fallback.py runs this one for every ``%PDF-`` payload.

Geometry matches the writer grid (pdf_codec: 6pt advance, 12pt leading), at
1 px/pt: a 5x7 glyph in a 6x12 cell, so inter-word gaps are exact multiples
of the advance and space runs reconstruct exactly — OCR round-trips the
writer's pages byte-identically (asserted in tests/test_raster_ocr.py).
"""

from __future__ import annotations

from hashlib import blake2b

import numpy as np

GLYPH_W, GLYPH_H = 5, 7
CELL_W = 6            # writer advance (pdf_codec.CHAR_W) at 1 px/pt
PAGE_W, PAGE_H = 800, 792
MIN_GLYPH_DISTANCE = 9

# characters with precomputed templates: printable ASCII + printable Latin-1
_CHARSET = [chr(c) for c in range(0x21, 0x7F)] + [chr(c) for c in range(0xA1, 0x100)]
UNKNOWN_CHAR = "?"


def _candidate(ch: str, salt: int) -> np.ndarray:
    """35-bit hash-derived 7x5 pattern for one char."""
    h = blake2b(f"glyph:{salt}:{ch}".encode(), digest_size=8).digest()
    bits = np.unpackbits(np.frombuffer(h, dtype=np.uint8))[: GLYPH_H * GLYPH_W]
    return bits.reshape(GLYPH_H, GLYPH_W).astype(bool)


def _has_isolated_pixel(g: np.ndarray) -> bool:
    """True if any ink pixel has zero 8-neighbors (despeckle would eat it)."""
    p = np.pad(g, 1)
    n = np.zeros_like(p, dtype=np.int8)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if dr == 0 and dc == 0:
                continue
            n += np.roll(np.roll(p, dr, axis=0), dc, axis=1)
    return bool((p & (n == 0)).any())


def _build_glyphs() -> dict[str, np.ndarray]:
    """Deterministic font: every row AND column of each glyph carries ink
    (so segmentation runs never split a glyph), no isolated pixels (so
    despeckle provably preserves every glyph), and every pair of glyphs is
    >= MIN_GLYPH_DISTANCE pixels apart (so classification tolerates up to
    (MIN_GLYPH_DISTANCE-1)//2 flipped pixels). Greedy salt search in fixed
    char order — identical on every process."""
    glyphs: dict[str, np.ndarray] = {}
    accepted: list[np.ndarray] = []
    for ch in _CHARSET:
        for salt in range(10_000):
            g = _candidate(ch, salt)
            if not (g.any(axis=0).all() and g.any(axis=1).all()):
                continue
            if _has_isolated_pixel(g):
                continue
            if all((g ^ a).sum() >= MIN_GLYPH_DISTANCE for a in accepted):
                glyphs[ch] = g
                accepted.append(g)
                break
        else:  # pragma: no cover — 35-bit space never exhausts in practice
            raise RuntimeError(f"no glyph found for {ch!r}")
    return glyphs


GLYPHS = _build_glyphs()
_TEMPLATES = np.stack([GLYPHS[ch] for ch in _CHARSET]).reshape(len(_CHARSET), -1)


def rasterize_boxes(
    boxes: list[tuple], width: int = PAGE_W, height: int = PAGE_H
) -> np.ndarray:
    """Char boxes of ONE page → binary image (row 0 = top of page).

    Boxes are ``(ch, x0, y0, x1, y1)`` in PDF coords (y up, y0 = baseline);
    the glyph is stamped on rows [y0, y0+GLYPH_H) bottom-up. Characters
    without a precomputed template are stamped as UNKNOWN_CHAR, exactly
    what a rasterizer's .notdef glyph does.
    """
    img = np.zeros((height, width), dtype=bool)
    for ch, x0, y0, _x1, _y1 in boxes:
        for k, c in enumerate(str(ch)):  # multi-char show-texts stamp seq.
            g = GLYPHS.get(c, GLYPHS[UNKNOWN_CHAR])
            x = int(round(x0)) + k * CELL_W
            y = int(round(y0))
            r1 = height - 1 - y           # image row of glyph bottom
            r0 = r1 - GLYPH_H + 1
            if r0 < 0 or r1 >= height or x < 0 or x + GLYPH_W > width:
                continue
            img[r0 : r1 + 1, x : x + GLYPH_W] |= g
    return img


def rasterize_pdf(pdf_bytes: bytes) -> list[np.ndarray]:
    """PDF bytes → one binary image per page (the pdf2image analog)."""
    from pdf_parser_spark import pdf_codec

    chars = pdf_codec.decode_pdf_chars(pdf_bytes)
    n_pages = max((c[0] for c in chars), default=-1) + 1
    pages: list[list[tuple]] = [[] for _ in range(max(n_pages, 1))]
    for page_no, ch, x0, y0, x1, y1 in chars:
        pages[page_no].append((ch, x0, y0, x1, y1))
    return [rasterize_boxes(b) for b in pages]


def despeckle(img: np.ndarray) -> np.ndarray:
    """Drop ink pixels with zero 8-neighbors (classic binarized-scan
    despeckle; every glyph pixel pattern is connected enough to survive
    because each glyph row/column carries ink)."""
    n = np.zeros(img.shape, dtype=np.int8)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if dr == 0 and dc == 0:
                continue
            n += np.roll(np.roll(img, dr, axis=0), dc, axis=1)
    return img & (n > 0)


_MIN_CELL_INK = 5  # smallest ink count that can be a glyph, not a noise cluster


def _classify(cell: np.ndarray) -> tuple[str, float]:
    """5x7 pixel cell → (char, confidence) by nearest template (Hamming)."""
    flat = cell.reshape(-1)
    dists = (_TEMPLATES ^ flat).sum(axis=1)
    i = int(dists.argmin())
    return _CHARSET[i], 1.0 - float(dists[i]) / flat.size


def _classify_shifted(band: np.ndarray, x: int):
    """Classify the glyph near column x, tolerating +-2 px jitter.

    Noise fused to a glyph's edge (or a dropped edge column) shifts the
    detected run start off the true cell; trying the window at small column
    offsets and keeping the best match recovers the alignment. Returns
    (char, confidence, corrected_x), or None if no candidate window holds
    enough ink to be a glyph (a residual noise cluster).
    """
    best = None
    for dx in (0, -1, 1, -2, 2):
        x2 = x + dx
        if x2 < 0 or x2 + GLYPH_W > band.shape[1]:
            continue
        cell = band[:GLYPH_H, x2 : x2 + GLYPH_W]
        if cell.shape[0] < GLYPH_H:
            pad = np.zeros((GLYPH_H, GLYPH_W), dtype=bool)
            pad[: cell.shape[0]] = cell
            cell = pad
        if int(cell.sum()) < _MIN_CELL_INK:
            continue
        ch, conf = _classify(cell)
        if best is None or conf > best[1]:
            best = (ch, conf, x2)
    return best


def ocr_image(img: np.ndarray) -> list[dict]:
    """Binary page image → word dicts {text, left, top, conf} from pixels.

    Mirrors the shape of Tesseract's image_to_data(Output.DICT) fields the
    reference consumes ('text', 'top'): line bands from the row projection,
    glyph cells from column-ink runs inside each band, nearest-template
    classification, words split on gaps wider than one cell advance.
    """
    img = despeckle(img)
    words: list[dict] = []
    row_ink = img.any(axis=1)
    r = 0
    H = img.shape[0]
    while r < H:
        if not row_ink[r]:
            r += 1
            continue
        band0 = r
        while r < H and row_ink[r]:
            r += 1
        seg = img[band0:r]
        if int(seg.sum()) < _MIN_CELL_INK:
            continue  # residual noise cluster, not a text line
        if seg.shape[0] > GLYPH_H:
            # refine to the GLYPH_H-row window with maximum ink: surviving
            # noise adjacent to a line can stretch the coarse band by a row
            sums = seg.sum(axis=1)
            win = np.convolve(sums, np.ones(GLYPH_H, dtype=int), "valid")
            band0 += int(win.argmax())
        band = img[band0 : band0 + GLYPH_H]
        col_ink = band.any(axis=0)
        # glyph cells: runs of inked columns (every glyph column has ink)
        starts, widths = [], []
        c, W = 0, band.shape[1]
        while c < W:
            if not col_ink[c]:
                c += 1
                continue
            run0 = c
            while c < W and col_ink[c]:
                c += 1
            starts.append(run0)
            widths.append(c - run0)
        cur_text, cur_left, confs = "", None, []
        prev_end = None

        def _flush():
            nonlocal cur_text, cur_left, confs
            if cur_text:
                words.append(
                    {"text": cur_text, "left": cur_left, "top": band0,
                     "conf": round(min(confs), 4)}
                )
            cur_text, cur_left, confs = "", None, []

        for run0, w in zip(starts, widths):
            # a run may span several adjacent glyphs (foreign PDFs can place
            # chars at arbitrary x; on the writer grid every run is 1 glyph
            # unless noise bridges the advance gap)
            n_glyphs = max(1, round((w + 1) / CELL_W)) if w > GLYPH_W else 1
            for k in range(n_glyphs):
                x = run0 + k * CELL_W
                got = _classify_shifted(band, x)
                if got is None:
                    continue  # noise cluster, not a glyph; spacing keeps
                    # counting from the last REAL glyph
                ch, conf, x = got
                if prev_end is not None and x - (prev_end - CELL_W) < 4:
                    continue  # window overlaps the previously accepted
                    # glyph: a phantom cell from a noise-bridged run
                gap_cells = 0 if prev_end is None else round((x - prev_end) / CELL_W)
                if gap_cells >= 1:
                    _flush()  # any whitespace gap ends the word (Tesseract-like)
                if cur_left is None:
                    cur_left = x
                cur_text += ch
                confs.append(conf)
                prev_end = x + CELL_W
        _flush()
    # F5: order words by vertical position, then horizontal — the
    # reference's sort key on image_to_data output
    words.sort(key=lambda w: (w["top"], w["left"]))
    return words


def image_to_lines(img: np.ndarray) -> list[tuple[int, str]]:
    """(top, line_text) pairs; words on one band joined with exact spacing."""
    lines: dict[int, list[dict]] = {}
    for w in ocr_image(img):
        lines.setdefault(w["top"], []).append(w)
    out = []
    for top in sorted(lines):
        ws = sorted(lines[top], key=lambda w: w["left"])
        # leading indentation: offset from the grid origin in cell units
        text = " " * max(0, round(ws[0]["left"] / CELL_W))
        prev_end = None
        for w in ws:
            if prev_end is not None:
                # exact space-run reconstruction from pixel gaps (grid
                # advance CELL_W): this is what makes OCR round-trips of
                # writer pages byte-identical
                gap = round((w["left"] - prev_end) / CELL_W)
                text += " " * max(gap, 1)
            text += w["text"]
            prev_end = w["left"] + len(w["text"]) * CELL_W
        out.append((top, text))
    return out


def images_to_text(imgs: list[np.ndarray]) -> str:
    """Full-document OCR: per-page lines re-joined on the writer grid.

    Consecutive line bands sit CELL-aligned (12 px leading); blank source
    lines appear as 12-px gaps and are reinserted, so grid documents
    round-trip exactly.
    """
    LINE_H = 12
    page_texts = []
    for img in imgs:
        lines = image_to_lines(img)
        if not lines:
            page_texts.append("")
            continue
        rows = []
        prev_top = None
        for top, text in lines:
            if prev_top is not None:
                for _ in range(max(0, round((top - prev_top) / LINE_H) - 1)):
                    rows.append("")
            rows.append(text)
            prev_top = top
        page_texts.append("\n".join(rows))
    return "\n".join(page_texts)
