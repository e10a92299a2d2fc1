"""Python cost of each extraction layer, timed in-process on a doc sample.

The extraction UDF runs, per document, the same public functions called
here: routing on the payload, then HTML main text *or* PDF decode plus
the layout pass, then the ``extraction_core`` parse. The benchmark times
each call from the outside and adds the pandas-frame + Arrow hand-off of
the whole batch: records with the same keys the UDF emits, framed and
converted against the arrow form of ``operators.extract.EXTRACT_SCHEMA``.
Nothing in the package is instrumented.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd
import pyarrow as pa

from pdf_parser_spark import extraction_core as core
from pdf_parser_spark import html_extract, pdf_layout

from corpus import TXN_TYPE

LAYERS = ("html_extract", "pdf_codec", "pdf_layout", "extraction_core")

SPAN_TYPE = pa.struct([
    ("block", pa.int32()),
    ("start", pa.int32()),
    ("end", pa.int32()),
    ("tag", pa.string()),
    ("n_chars", pa.int32()),
    ("link_density", pa.float64()),
])
# operators.extract.EXTRACT_SCHEMA, the type the UDF's frames convert to
EXTRACT_ARROW = pa.schema([
    ("url", pa.string()),
    ("payload_kind", pa.string()),
    ("strategy", pa.string()),
    ("source_account", pa.string()),
    ("closing_date", pa.string()),
    ("extracted_text", pa.string()),
    ("bytes_in", pa.int64()),
    ("chars_out", pa.int64()),
    ("n_blocks", pa.int32()),
    ("n_txns", pa.int32()),
    ("parse_failed", pa.bool_()),
    ("txns", pa.list_(TXN_TYPE)),
    ("spans", pa.list_(SPAN_TYPE)),
    ("lang", pa.string()),
    ("source_type_hint", pa.string()),
])


def _extract(row: dict, spent: dict) -> dict:
    url, payload = row["url"], row["html"]
    page_texts = None
    clock = time.perf_counter
    kind = "pdf" if payload[:5] == b"%PDF-" or url.endswith(".pdf") else "html"
    if kind == "pdf":
        t = clock()
        if payload[:5] == b"%PDF-":
            chars = pdf_layout.decode_pdf_chars(payload)
            spent["pdf_codec"] += clock() - t
            t = clock()
        else:
            chars = pdf_layout.synthesize_char_boxes(payload.decode("utf-8", errors="replace"))
        text, layout_spans, page_texts = pdf_layout.extract_layout_text(chars, return_pages=True)
        spans = [
            {"block": i, "start": 0, "end": 0, "tag": s["region"], "n_chars": s["n_lines"],
             "link_density": 0.0}
            for i, s in enumerate(layout_spans)
        ]
        spent["pdf_layout"] += clock() - t
    else:
        t = clock()
        text, spans = html_extract.extract_main_text(payload)
        spent["html_extract"] += clock() - t
    t = clock()
    strategy = core.dispatch_strategy(text) if text else ""
    rows, meta = core.extract_transactions_from_text(text, page_texts)
    closing = core.extract_closing_date(text) if text else None
    txns = [
        {"txn_index": i, "date": r["date"], "dateKey": core.parse_date_key(r["date"]),
         "memo": r["memo"], "amount": r["amount"], "source": r["source"]}
        for i, r in enumerate(rows)
    ]
    spent["extraction_core"] += clock() - t
    return {
        "url": url, "payload_kind": kind, "strategy": strategy,
        "source_account": meta.get("source_account") or "", "closing_date": closing or "",
        "extracted_text": text, "bytes_in": len(payload), "chars_out": len(text),
        "n_blocks": len(spans), "n_txns": len(txns), "parse_failed": False,
        "txns": txns, "spans": spans,
        "lang": row["lang"], "source_type_hint": row["source_type_hint"],
    }


def _pass(rows: list[dict]) -> dict:
    spent = dict.fromkeys(LAYERS, 0.0)
    records = [_extract(r, spent) for r in rows]
    t = time.perf_counter()
    pa.Table.from_pandas(pd.DataFrame(records), schema=EXTRACT_ARROW, preserve_index=False)
    spent["frame"] = time.perf_counter() - t
    spent["txns"] = sum(r["n_txns"] for r in records)
    return spent


def measure(rows: list[dict], repeats: int = 3) -> dict:
    """Per-layer metrics over ``rows``: median of ``repeats`` warm passes."""
    _pass(rows)  # warm: imports, compiled regexes, first-use caches
    passes = [_pass(rows) for _ in range(repeats)]
    spent = {k: statistics.median(p[k] for p in passes) for k in (*LAYERS, "frame")}
    is_pdf = [r["html"][:5] == b"%PDF-" or r["url"].endswith(".pdf") for r in rows]
    docs = {
        "html_extract": is_pdf.count(False),
        "pdf_codec": sum(r["html"][:5] == b"%PDF-" for r in rows),
        "pdf_layout": is_pdf.count(True),
        "extraction_core": len(rows),
    }
    n = len(rows)
    out = {
        "extract.frame_ms_per_doc": 1000.0 * spent["frame"] / n,
        "extract.python_ms_per_doc": 1000.0 * sum(spent[k] for k in LAYERS) / n,
        "extraction_core.txns": passes[0]["txns"],
    }
    for layer in LAYERS:
        out[f"{layer}.ms_per_doc"] = 1000.0 * spent[layer] / docs[layer] if docs[layer] else 0.0
        if layer != "extraction_core":
            out[f"{layer}.docs"] = docs[layer]
    return out
