"""A4 two-pass OCR fallback: routing, gating, schema-preserving merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.fixtures import pages_spark
from pdf_parser_spark.operators import extract as extract_op
from pdf_parser_spark.operators import ocr_fallback


@pytest.fixture(scope="module")
def pages(spark):
    return pages_spark(spark, n_docs=80, partitions=4)


def test_fake_ocr_is_deterministic_and_lossy():
    t = b"line one  with   spaces\nline two\nline three"
    out = ocr_fallback._fake_ocr(t)
    assert out == "line one with spaces\nline two"
    assert ocr_fallback._fake_ocr(t) == out
    assert ocr_fallback._fake_ocr(b"") == ""


def test_ocr_runs_only_on_empty_docs(spark, pages):
    pass1 = extract_op.extract_documents(pages)
    n_empty = pass1.filter(F.col("n_txns") == 0).count()
    assert n_empty > 0  # fixture modes 7/8/9 yield no txns from pass 1
    out = ocr_fallback.extract_with_ocr_fallback(pages, fake_ocr=True).persist()
    assert out.count() == 80
    # every doc that pass 1 solved is untouched
    assert out.filter(F.col("ocr_used") & (F.col("strategy") == "amex")).count() == 0
    # the fallback only fires where OCR actually found transactions
    assert out.filter(F.col("ocr_used") & (F.col("n_txns") == 0)).count() == 0
    out.unpersist()


def test_production_engine_chain(spark, pages):
    """fake=False: %PDF- payloads go through the REAL builtin raster engine
    and succeed; non-PDF payloads are marked failed — the honest
    production gate."""
    sub = pages.limit(10)
    rows = {r["url"]: r for r in ocr_fallback.ocr_extract(sub, fake=False).collect()}
    assert len(rows) == 10
    pdf_urls = {u for u in rows if u.endswith("/stmt/6.pdf")}
    assert pdf_urls  # doc 6 carries real %PDF- bytes
    for u, r in rows.items():
        if u in pdf_urls:
            assert not r["ocr_failed"] and r["ocr_n_txns"] > 0, u
        else:
            assert r["ocr_failed"] and r["ocr_n_txns"] == 0, u


def test_fallback_merge_preserves_pass1_schema(spark, pages):
    base_cols = set(
        extract_op.extract_documents(pages, keep_text=True).columns
    )
    out_cols = set(ocr_fallback.extract_with_ocr_fallback(pages, fake_ocr=True).columns)
    assert out_cols == base_cols | {"ocr_failed", "ocr_used"}
