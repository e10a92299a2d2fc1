"""A4 — two-pass OCR fallback (the expensive pass runs only where needed).

Reference behavior ((pyc) main.parse_pdf: "No transactions from text. Trying
OCR fallback."): the raster+Tesseract path runs ONLY for documents whose
text-layer pass produced zero transactions. At 10^12 documents this two-pass
split is the difference between rasterizing everything (ruinous) and
rasterizing the failed tail (typically <1%).

Spark shape:
    pass 1: extract_documents(pages)                — cheap, all docs
    pass 2: pages ⨝ (pass1 where n_txns=0, left_semi) → ocr_extract — rare

One engine: ``%PDF-`` payloads go to the builtin raster OCR
(pdf_parser_spark/raster.py: rasterize the PDF to page bitmaps, then
template-match segmentation/classification over pixels, words ordered by
'top' exactly like the reference's pdf2image+Tesseract image_to_data sort),
so a document OCRs the same on every executor; a raster error marks the row
failed. ``fake=True`` keeps the deterministic pseudo-OCR read for NON-PDF
payloads (drops the last line, re-joins with OCR-typical single newlines —
a plausible lossy scan) so the two-pass plumbing is exercisable on
text-byte fixtures too.
Word ordering by vertical position ((pyc) main.extract_text_lines_with_ocr
sorts by 'top') is real in the raster engine and preserved in the fake via
line order.

The fake read stays on purpose: raster.rasterize_pdf rasterizes the
DECODED text layer, so on a real ``%PDF-`` the OCR pass cannot find rows
pass 1 missed, and the fake read is the only input that reaches the
OCR-result merge in extract_with_ocr_fallback.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark import extraction_core as core
from pdf_parser_spark.operators import extract as extract_op

OCR_SCHEMA = (
    "url string, ocr_text string, ocr_n_txns int, ocr_failed boolean, "
    f"ocr_txns {extract_op.TXN_TYPE}"
)


def _fake_ocr(payload: bytes) -> str:
    """Deterministic pseudo-OCR: decode bytes, words re-read top-to-bottom.

    Emulates image_to_data(Output.DICT) + sort-by-'top': line structure
    survives, trailing content is lost (scans clip), runs of spaces collapse.
    """
    text = (payload or b"").decode("utf-8", errors="replace")
    lines = [" ".join(ln.split()) for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    return "\n".join(lines[:-1]) if len(lines) > 1 else "\n".join(lines)


def _builtin_raster_ocr(payload: bytes) -> str:
    """In-container engine: raster the PDF, then recognize from pixels only."""
    from pdf_parser_spark import raster

    return raster.images_to_text(raster.rasterize_pdf(payload))


def ocr_extract(pages: DataFrame, fake: bool = False) -> DataFrame:
    """Rasterize+OCR the given pages and re-run the transaction parser.

    ``%PDF-`` payloads go to the builtin raster engine; non-PDF payloads
    use the deterministic pseudo-OCR only under ``fake=True`` and are
    marked failed otherwise.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                raw = bytes(payload) if payload is not None else b""
                text = None
                if raw.startswith(b"%PDF-"):
                    try:
                        text = _builtin_raster_ocr(raw)
                    except Exception:
                        text = None
                elif fake:
                    text = _fake_ocr(raw)
                if text is None:
                    rows.append(
                        {"url": url, "ocr_text": "", "ocr_n_txns": 0,
                         "ocr_failed": True, "ocr_txns": []}
                    )
                    continue
                # (pyc) main.parse_pdf re-runs the STATEMENT parser over the
                # OCR'd lines — it does not re-dispatch strategies (the 'ocr'
                # strategy itself emits no rows, ref strategies/ocr_parser.py:11-14)
                parsed = core.parse_amex_text(text)
                rows.append(
                    {
                        "url": url,
                        "ocr_text": text,
                        "ocr_n_txns": len(parsed),
                        "ocr_failed": False,
                        "ocr_txns": core.txn_records(parsed),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["url", "ocr_text", "ocr_n_txns", "ocr_failed", "ocr_txns"]
            )

    return pages.select("url", "html").mapInPandas(run, schema=OCR_SCHEMA)


def extract_with_ocr_fallback(pages: DataFrame, fake_ocr: bool = False) -> DataFrame:
    """Two-pass extraction: text layer for all, OCR only for the empty tail.

    Returns the pass-1 schema with txns/extracted_text replaced by the OCR
    result where the fallback fired, plus an ``ocr_used`` flag.
    """
    pass1 = extract_op.extract_documents(pages, keep_text=True).persist()
    empty = pass1.filter(F.col("n_txns") == 0).select("url")
    # semi-join routes ONLY failed docs into the expensive pass
    ocr_input = pages.join(empty, "url", "left_semi")
    ocr = ocr_extract(ocr_input, fake=fake_ocr)

    joined = pass1.join(ocr, "url", "left")
    use_ocr = F.col("ocr_n_txns").isNotNull() & (F.col("ocr_n_txns") > 0)
    return (
        joined.withColumn("ocr_used", F.coalesce(use_ocr, F.lit(False)))
        .withColumn("txns", F.when(use_ocr, F.col("ocr_txns")).otherwise(F.col("txns")))
        .withColumn("n_txns", F.when(use_ocr, F.col("ocr_n_txns")).otherwise(F.col("n_txns")))
        .withColumn(
            "extracted_text",
            F.when(use_ocr, F.col("ocr_text")).otherwise(F.col("extracted_text")),
        )
        .drop("ocr_text", "ocr_n_txns", "ocr_txns")
    )
