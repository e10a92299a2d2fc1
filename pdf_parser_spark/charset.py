"""Charset sniffing for web payloads: bytes → text with the real-crawl
decode cascade.

Common-Crawl HTML is NOT uniformly UTF-8: pages declare encodings in the
HTTP ``Content-Type`` header, a BOM, a `<meta charset=…>`, a `<meta
http-equiv="Content-Type" content="…; charset=…">`, or an XML prolog —
and plenty declare nothing (or lie). This module is the package's ONE
page-bytes → text decode: html_extract.extract_main_text and
html_tables.extract_tables decode through ``sniff_decode``, and the WARC
reader (sources/warc.py) only records the transport label, which
extraction passes back in here as ``transport``.

Cascade (WHATWG encoding-sniffing shape, trimmed to stdlib codecs):

1. BOM (UTF-8-sig / UTF-16 LE/BE / UTF-32 LE/BE) — authoritative.
2. Transport label (the HTTP Content-Type charset the fetcher saw).
3. Declared charset in the first 2 KiB (meta charset, meta http-equiv,
   XML prolog).
4. Strict UTF-8 (the dominant real-world case).
5. latin-1 — total (every byte sequence decodes), the crawl-pipeline
   standard last resort.

Steps 2 and 3 obey one rule: a label is used only if Python knows the
codec, it is not utf-16/32 (without a BOM the payload cannot be; the
label itself was readable as ASCII), and the bytes decode strictly under
it — otherwise it falls through rather than erroring.

Returns which step decided, so pipelines can track decode provenance as
a metric column (parse-failure-rate cousin).
"""

from __future__ import annotations

import codecs
import re

__all__ = ["sniff_decode", "declared_charset", "with_decoded_text"]

_BOMS: list[tuple[bytes, str]] = [
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
]

# declarations are looked for in this many leading bytes
_HEAD_BYTES = 2048

_META_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9._:-]+)""", re.IGNORECASE
)
_XML_PROLOG_RE = re.compile(
    rb"""<\?xml[^>]+encoding\s*=\s*["']([A-Za-z0-9._:-]+)["']""", re.IGNORECASE
)


def declared_charset(head: bytes) -> str | None:
    """The encoding the document CLAIMS (meta/XML prolog), or None."""
    m = _META_RE.search(head) or _XML_PROLOG_RE.search(head)
    if not m:
        return None
    try:
        return m.group(1).decode("ascii").strip().lower()
    except UnicodeDecodeError:
        return None


def _decode_as(b: bytes, label: str | None) -> tuple[str, str] | None:
    """(text, codec name) if ``label`` is usable for ``b``, else None."""
    if not label:
        return None
    try:
        name = codecs.lookup(label).name
        if name.startswith(("utf-16", "utf-32")):
            return None
        return b.decode(name), name
    except (LookupError, ValueError):  # unknown codec or lying label
        return None


def sniff_decode(
    raw: bytes | None, transport: str | None = None
) -> tuple[str, str, str]:
    """Decode web-payload bytes: returns (text, encoding, source) where
    source ∈ {bom, transport, declared, utf-8, latin-1, empty}.
    ``transport`` is the charset label the payload was served with (per
    row, e.g. the WARC pages ``charset`` column). Never raises."""
    if not raw:
        return "", "utf-8", "empty"
    b = bytes(raw)

    for bom, enc in _BOMS:
        if b.startswith(bom):
            try:
                # utf-8-sig strips its BOM itself; the UTF-16/32 LE/BE
                # codecs do not, so slice it off
                body = b if enc == "utf-8-sig" else b[len(bom):]
                return body.decode(enc), enc, "bom"
            except UnicodeDecodeError:
                break  # lying BOM: fall through the cascade

    got = _decode_as(b, transport)
    if got:
        return *got, "transport"
    got = _decode_as(b, declared_charset(b[:_HEAD_BYTES]))
    if got:
        return *got, "declared"

    try:
        return b.decode("utf-8"), "utf-8", "utf-8"
    except UnicodeDecodeError:
        return b.decode("latin-1"), "latin-1", "latin-1"


def with_decoded_text(pages, html_col: str = "html", url_col: str = "url"):
    """Spark operator: pages → (url, text, encoding, source) via the
    cascade — one Arrow-batched mapInPandas stage, zero shuffles (the
    same embarrassing parallelism as operators/extract.py). ``source``
    is the decode provenance, a per-batch quality metric at crawl scale
    (a latin-1 spike means a broken upstream fetcher)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            decoded = [sniff_decode(b) for b in pdf[html_col]]
            yield pd.DataFrame(
                {
                    "url": pdf[url_col],
                    "text": [d[0] for d in decoded],
                    "encoding": [d[1] for d in decoded],
                    "source": [d[2] for d in decoded],
                }
            )

    return pages.select(url_col, html_col).mapInPandas(
        gen, "url string, text string, encoding string, source string"
    )
