"""A2-A4/B4/E1 — the extraction stage: pages → extracted text + transactions.

One `mapInPandas` pass over the pages table does everything per document
(route by payload kind, extract main text, dispatch parser strategy, parse
transaction blocks, compute per-doc metrics) and emits ONE row per document
with the transactions nested as an array<struct>. Downstream stages explode
it. This mirrors the reference lifecycle (SURVEY.md §3.1: bytes → text →
strategy → rows) but vectorized: the Python work is amortized over Arrow
batches, imports happen once per executor, and there is NO shuffle in this
stage — extraction is embarrassingly parallel over input partitions, which is
what makes the N→4N scaling criterion achievable (the stage's scaling is
bounded only by input-split balance; the pages table's bucket(N, url)
layout, sources/pages.with_bucket, spreads a skewed host over every bucket).

Reference lineage: text-layer scan universal_parser.py:19-23, strategy
dispatch universal_parser.py:26-37, block parse strategies/amex_multiline.py,
two-pass OCR fallback (pyc) main.parse_pdf.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from pdf_parser_spark import extraction_core as core
from pdf_parser_spark import html_extract, pdf_layout

# One row per input document; txns nested, exploded downstream.
# Span-struct caveat: the HTML path fills real char offsets (start/end into
# extracted_text, n_chars = block size); the PDF layout path reuses the
# struct as a GEOMETRIC region record (start=end=0, n_chars = the region's
# LINE count, tag = region kind) — consumers computing offsets must scope
# themselves to payload_kind='html' (the r20 span audit does exactly that).
# TXN_TYPE is the txn struct both the extraction and the OCR stages emit.
TXN_TYPE = (
    "array<struct<txn_index:int, date:string, dateKey:string, memo:string, "
    "amount:double, source:string>>"
)
EXTRACT_SCHEMA = (
    "url string, lang string, source_type_hint string, payload_kind string, strategy string, "
    "source_account string, closing_date string, extracted_text string, "
    "bytes_in long, chars_out long, n_blocks int, n_txns int, parse_failed boolean, "
    f"txns {TXN_TYPE}, "
    "spans array<struct<block:int, start:int, end:int, tag:string, n_chars:int, "
    "link_density:double>>"
)


def _payload_kind(url: str, payload: bytes | None) -> str:
    """Magic bytes first, url suffix second: a PDF served at a non-.pdf
    url (query-string download endpoints, 'a.pdf?sig=x') must not be
    regex-parsed as HTML — that path returns mangled text with
    parse_failed=False, a silent mis-extraction. The suffix keeps routing
    fixture-convention .pdf payloads (raw text bytes, no magic) into the
    synthesized-char-box layout path."""
    if payload is not None and bytes(payload[:5]) == b"%PDF-":
        return "pdf"
    return "pdf" if url.endswith(".pdf") else "html"


_FAIL_KEYS = dict(
    strategy="", source_account="", closing_date="", extracted_text="",
    chars_out=0, n_blocks=0, n_txns=0, parse_failed=True, txns=[], spans=[],
)


def _extract_one(url: str, html: bytes, keep_text: bool,
                 charset: str | None = None) -> dict:
    """One document through the full extraction; NEVER raises.

    Any per-document failure — PDF bytes the codec cannot decode,
    pathological markup tripping the layout pass, a malformed payload — returns a
    parse_failed=True record instead of propagating: at corpus scale one
    poisoned document must land in the failure funnel (extraction_metrics
    parse_failures), not kill the job after four task retries. ``charset``
    is the row's transport label (the WARC pages ``charset`` column).
    """
    bytes_in = len(html) if html is not None else 0
    try:
        return _extract_one_inner(url, html, keep_text, bytes_in, charset)
    except Exception:
        return {"url": url, "payload_kind": _payload_kind(url, html),
                "bytes_in": bytes_in, **_FAIL_KEYS}


def _extract_one_inner(url: str, html: bytes, keep_text: bool,
                       bytes_in: int, charset: str | None) -> dict:
    kind = _payload_kind(url, html)
    page_texts: list[str] | None = None
    if kind == "pdf":
        # pdfminer-style layout pass; real `%PDF-` payloads decode through
        # the builtin pdf_codec (a decode error becomes the _FAIL_KEYS row
        # in _extract_one), the fixture convention carries raw text bytes
        # for .pdf urls
        if html is not None and bytes(html[:5]) == b"%PDF-":
            chars = pdf_layout.decode_pdf_chars(bytes(html))
        else:
            chars = pdf_layout.synthesize_char_boxes(
                (html or b"").decode("utf-8", errors="replace")
            )
        text, layout_spans, page_texts = pdf_layout.extract_layout_text(
            chars, return_pages=True
        )
        spans = [
            {
                "block": i,
                "start": 0,
                "end": 0,
                "tag": s["region"],
                "n_chars": s["n_lines"],
                "link_density": 0.0,
            }
            for i, s in enumerate(layout_spans)
        ]
    else:
        text, spans = html_extract.extract_main_text(html, charset)

    rows, meta = core.extract_transactions_from_text(text, page_texts)
    closing = core.extract_closing_date(text) if text else None
    txns = core.txn_records(rows)
    return {
        "url": url,
        "payload_kind": kind,
        "strategy": meta["strategy"],
        "source_account": meta["source_account"],
        "closing_date": closing or "",
        "extracted_text": text if keep_text else "",
        "bytes_in": bytes_in,
        "chars_out": len(text),
        "n_blocks": len(spans),
        "n_txns": len(txns),
        "parse_failed": False,
        "txns": txns,
        "spans": spans,
    }


def extract_documents(pages: DataFrame, keep_text: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) → one extraction row per doc.

    Column pruning matters at 100 TB: only url/html/lang/source_type_hint/
    charset are consumed, so the select ahead of mapInPandas lets Parquet
    skip the heavy `text` column. An optional column the table lacks is
    selected as a typed null — fresh-crawl pages (the WARC source) carry
    no lang label or hint, and only the WARC source carries the
    HTTP-declared charset — so the UDF sees one shape for every table.
    """
    pruned = pages.selectExpr(
        "url",
        "html",
        *[
            c if c in pages.columns else f"CAST(NULL AS STRING) AS {c}"
            for c in ("lang", "source_type_hint", "charset")
        ],
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, html, lang, hint, charset in zip(
                pdf["url"], pdf["html"], pdf["lang"],
                pdf["source_type_hint"], pdf["charset"],
            ):
                rec = _extract_one(url, html, keep_text, charset)
                rec["lang"] = lang
                rec["source_type_hint"] = hint
                out.append(rec)
            yield pd.DataFrame(out)

    return pruned.mapInPandas(run, schema=EXTRACT_SCHEMA)


def extracted_transactions(extracted: DataFrame) -> DataFrame:
    """Explode nested txns → one row per transaction (flagship F3 shape).

    txn_id is deterministic f"{url}#{txn_index}" (FIXTURES.md F3 — replaces
    the reference's uuid4/Firestore auto-ids so results are reproducible);
    uid is the batch label 'batch'. The plan is built from SQL text, a few
    Python→JVM round trips per operation instead of one or more per
    expression node.
    """
    return extracted.selectExpr(
        "url", "lang", "source_type_hint", "explode(txns) AS t"
    ).selectExpr(
        "concat_ws('#', url, CAST(t.txn_index AS STRING)) AS txn_id",
        "url",
        "lang",
        "source_type_hint",
        "t.date AS date",
        "t.dateKey AS dateKey",
        "t.memo AS memo",
        "t.amount AS amount",
        "t.source AS source",
        "url AS uploadId",
        "'batch' AS uid",
    )


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """A8 — the failure funnel of an extraction frame as ONE row: docs,
    txns, bytes in/out and parse failures (north star: docs/sec,
    parse-failure rate). The extraction job records it per commit as
    lineage (mirrors the per-upload metadata row, ref main.py:235-245)."""
    return extracted.selectExpr(
        "count(*) AS docs",
        "sum(n_txns) AS txns",
        "sum(bytes_in) AS bytes_in",
        "sum(chars_out) AS chars_out",
        "sum(CAST(parse_failed AS BIGINT)) AS parse_failures",
    )
