"""Workload corpora: seeded fixture doc ids → pages table + expected records.

The benchmark process builds every input itself, in one process, from
``fixtures.page_row``; the program under test only ever sees the parquet
tables written here. The seed chooses which fixture doc ids a workload
uses and in which order they are written.

Doc ids are drawn as whole *blocks* ``[10j, 10j + 10)`` restricted to the
workload's payload modes (``doc_id % 10``). Keeping a block together keeps
the fixture's cross-document transfer pairs (docs ``2k`` and ``2k + 1``)
in the same corpus, so pairing has real work on every seed.

The expected record of a url is computed from the fixture's ground-truth
``text`` column through ``extraction_core`` alone: it is what the
extraction stage must emit if ``extract_main_text(html) == text`` (and the
PDF layout round trip) holds byte for byte.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark import extraction_core as core
from pdf_parser_spark.fixtures import page_row


@dataclass(frozen=True)
class Workload:
    name: str
    modes: tuple[int, ...]  # fixture payload modes (doc_id % 10) it draws from
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "html_statements",
            (0, 1, 2, 3, 4),
            "HTML statement pages that all carry transactions: no PDF work, "
            "the most rows per doc into pairing, classification and the joins",
        ),
        Workload(
            "crawl_mix",
            tuple(range(10)),
            "the fixture's natural crawl mix: 70% HTML incl. zero-row pages, "
            "20% PDF (raw-text and real %PDF- in three writer layouts)",
        ),
    )
}

ID_BLOCKS = 20_000  # doc ids come from blocks j < ID_BLOCKS
PAGES_FILES = 16  # files in the written pages table

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source_type_hint", pa.string()),
])

TXN_TYPE = pa.struct([
    ("txn_index", pa.int32()),
    ("date", pa.string()),
    ("dateKey", pa.string()),
    ("memo", pa.string()),
    ("amount", pa.float64()),
    ("source", pa.string()),
])

# The extraction columns the expected record pins. `spans` and `n_blocks`
# describe the text extractor's internal segmentation, which the
# ground-truth text does not determine, so the digest leaves them out.
EXPECTED_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("lang", pa.string()),
    ("source_type_hint", pa.string()),
    ("payload_kind", pa.string()),
    ("strategy", pa.string()),
    ("source_account", pa.string()),
    ("closing_date", pa.string()),
    ("extracted_text", pa.string()),
    ("bytes_in", pa.int64()),
    ("chars_out", pa.int64()),
    ("n_txns", pa.int32()),
    ("parse_failed", pa.bool_()),
    ("txns", pa.list_(TXN_TYPE)),
])
DIGEST_COLUMNS = EXPECTED_SCHEMA.names


def doc_ids(workload: str, seed: int, n_docs: int) -> list[int]:
    """The seeded, ordered fixture doc ids of one workload corpus."""
    modes = WORKLOADS[workload].modes
    rng = random.Random(f"{workload}:{seed}")
    blocks = rng.sample(range(ID_BLOCKS), -(-n_docs // len(modes)))
    ids = [10 * j + m for j in blocks for m in modes][:n_docs]
    rng.shuffle(ids)
    return ids


def expected_record(row: dict) -> dict:
    """What extraction must emit for one pages row (keep_text=True)."""
    text, url, payload = row["text"], row["url"], row["html"]
    rows, meta = core.extract_transactions_from_text(text)
    closing = core.extract_closing_date(text) if text else None
    return {
        "url": url,
        "lang": row["lang"],
        "source_type_hint": row["source_type_hint"],
        # routing contract: %PDF- magic first, then the .pdf suffix
        "payload_kind": "pdf" if payload[:5] == b"%PDF-" or url.endswith(".pdf") else "html",
        "strategy": core.dispatch_strategy(text) if text else "",
        "source_account": meta.get("source_account") or "",
        "closing_date": closing or "",
        "extracted_text": text,
        "bytes_in": len(payload),
        "chars_out": len(text),
        "n_txns": len(rows),
        "parse_failed": False,
        "txns": [
            {
                "txn_index": i,
                "date": r["date"],
                "dateKey": core.parse_date_key(r["date"]),
                "memo": r["memo"],
                "amount": r["amount"],
                "source": r["source"],
            }
            for i, r in enumerate(rows)
        ],
    }


def _write(rows: list[dict], schema: pa.Schema, path: str, n_files: int) -> None:
    os.makedirs(path)
    for i in range(n_files):
        part = rows[i::n_files]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def build(workload: str, seed: int, n_docs: int, out_dir: str) -> dict:
    """Write the ``pages/`` and ``expected/`` tables under out_dir."""
    ids = doc_ids(workload, seed, n_docs)
    pages = [page_row(i) for i in ids]
    expected = [expected_record(r) for r in pages]
    _write(pages, PAGES_SCHEMA, os.path.join(out_dir, "pages"), PAGES_FILES)
    _write(expected, EXPECTED_SCHEMA, os.path.join(out_dir, "expected"), 1)
    pages_dir = os.path.join(out_dir, "pages")
    return {
        "n_docs": len(pages),
        "n_txns": sum(e["n_txns"] for e in expected),
        "pdf_docs": sum(e["payload_kind"] == "pdf" for e in expected),
        "pages_bytes": sum(
            os.path.getsize(os.path.join(pages_dir, f)) for f in os.listdir(pages_dir)
        ),
        "rows": pages,
    }
