"""Readability-style HTML main-content extraction (pure Python, stdlib only).

The north-star pipeline (BASELINE.json north_star) runs "batched DOM parsing
with text-density/link-density boilerplate classification (readability-style
block scoring) on html bytes" — this module is that engine, built from
scratch on stdlib ``html.parser`` (no external deps; lxml/bs4 are not in the
container). It is deliberately deterministic: same bytes in → same text out,
byte-for-byte, which is the pipeline's per-url invariant.

Design (public-knowledge lineage: Readability/Arc90 heuristics, boilerpipe's
text-density + link-density features — Kohlschütter et al., WSDM 2010):

1. Parse the DOM stream once, segmenting character data into *blocks* at
   block-level element boundaries.
2. Per block, record: total chars, anchor-text chars, ancestor hints
   (nav/footer/aside/... and class/id keyword hits), and whether the block
   is whitespace-verbatim (<pre>).
3. Classify by ancestry, link density (link_chars/chars) and length: a
   block is content iff it is not inside a structural-boilerplate or hinted
   ancestor and (verbatim, or (chars >= MIN_CONTENT_CHARS and link_density
   <= MAX_LINK_DENSITY), or it continues an accepted content run (short
   link-free follow-on paragraphs survive, per boilerpipe's sequence
   smoothing)).
4. Emit extracted text = accepted blocks joined by '\n', plus span records
   (block index, char offsets into the output, source tag, char count,
   link density).

<pre> blocks are emitted verbatim (no whitespace collapsing) — this is what
makes the synthetic statement corpus round-trip byte-identically.

The per-row API is wrapped by a vectorized pandas UDF in
pdf_parser_spark/operators/extract.py; keep this module Spark-free.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape
from html.parser import HTMLParser

from pdf_parser_spark.charset import sniff_decode

# Elements that open/close a text block.
BLOCK_TAGS = frozenset(
    """address article aside blockquote body caption dd div dl dt fieldset
    figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr li main nav ol
    p pre section table tbody td tfoot th thead title tr ul""".split()
)

# Subtrees whose character data is never content.
SKIP_TAGS = frozenset("script style noscript template svg iframe object".split())

# Ancestors that mark a block as structural boilerplate regardless of score.
BOILERPLATE_TAGS = frozenset("nav footer header aside form".split())

# class/id keyword hints (Arc90 negative list, trimmed to unambiguous ones).
_HINT_RE = re.compile(
    r"(nav|menu|footer|header|sidebar|side-bar|advert|banner|promo|cookie|"
    r"breadcrumb|comment|share|social|related|widget|copyright)",
    re.IGNORECASE,
)

VOID_TAGS = frozenset("br hr img input meta link area base col embed source track wbr".split())

MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 0.33
_WS_RE = re.compile(r"\s+")


@dataclass
class Block:
    """One candidate text block with its boilerplate features."""

    index: int
    tag: str
    text: str = ""
    link_chars: int = 0
    verbatim: bool = False
    boiler_ancestor: bool = False
    hint_ancestor: bool = False

    @property
    def n_chars(self) -> int:
        return len(self.text)

    @property
    def link_density(self) -> float:
        return self.link_chars / self.n_chars if self.n_chars else 0.0


@dataclass
class _OpenBlock:
    tag: str
    parts: list[str] = field(default_factory=list)
    link_chars: int = 0
    verbatim: bool = False
    boiler: bool = False
    hint: bool = False


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._stack: list[tuple[str, bool]] = []  # (tag, hinted) open elements
        self._skip_depth = 0
        self._anchor_depth = 0
        self._pre_depth = 0
        self._boiler_depth = 0
        self._hint_depth = 0
        self._open: _OpenBlock | None = None

    # -- block lifecycle ---------------------------------------------------

    def _flush(self) -> None:
        ob = self._open
        self._open = None
        if ob is None:
            return
        raw = "".join(ob.parts)
        text = raw if ob.verbatim else _WS_RE.sub(" ", raw).strip()
        if not text:
            return
        self.blocks.append(
            Block(
                index=len(self.blocks),
                tag=ob.tag,
                text=text,
                link_chars=min(ob.link_chars, len(text)),
                verbatim=ob.verbatim,
                boiler_ancestor=ob.boiler,
                hint_ancestor=ob.hint,
            )
        )

    def _ensure_open(self, tag: str) -> _OpenBlock:
        if self._open is None:
            self._open = _OpenBlock(
                tag=tag,
                verbatim=self._pre_depth > 0,
                boiler=self._boiler_depth > 0,
                hint=self._hint_depth > 0,
            )
        return self._open

    # -- parser callbacks ----------------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        hinted = any(
            v and _HINT_RE.search(v) for k, v in attrs if k in ("class", "id", "role")
        )
        if tag in BLOCK_TAGS:
            self._flush()
            if tag in BOILERPLATE_TAGS:
                self._boiler_depth += 1
            if hinted:
                self._hint_depth += 1
            if tag == "pre":
                self._pre_depth += 1
            self._stack.append((tag, hinted))
            self._ensure_open(tag)
        else:
            if tag == "a":
                self._anchor_depth += 1
            if tag in VOID_TAGS:
                if tag == "br" and self._open is not None:
                    self._open.parts.append("\n" if self._pre_depth else " ")
                return
            self._stack.append((tag, hinted))
            if hinted:
                self._hint_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        # unwind the open-element stack to the matching tag (lenient HTML)
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][0] == tag:
                for pbase, phinted in self._stack[i:]:
                    if phinted:
                        self._hint_depth = max(0, self._hint_depth - 1)
                    if pbase in BOILERPLATE_TAGS:
                        self._boiler_depth = max(0, self._boiler_depth - 1)
                    if pbase == "pre":
                        self._pre_depth = max(0, self._pre_depth - 1)
                del self._stack[i:]
                break
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._skip_depth or not data:
            return
        ob = self._ensure_open(self._stack[-1][0] if self._stack else "body")
        ob.parts.append(data)
        if self._anchor_depth > 0:
            ob.link_chars += len(_WS_RE.sub(" ", data).strip() if not ob.verbatim else data)

    def close(self) -> None:  # noqa: D102 - flush trailing block
        super().close()
        self._flush()


# --- fast tokenizer ---------------------------------------------------------
#
# stdlib html.parser spends most of its time in goahead/parse_starttag
# machinery the extractor never consumes (line/offset tracking via
# updatepos on every chunk, starttag-text capture, feed-boundary charref
# buffering, per-construct method dispatch). _fast_feed is a single-shot
# reimplementation of HTMLParser.goahead(end=1) for the callbacks the
# extractor actually uses (handle_starttag/handle_endtag/handle_data with
# convert_charrefs=True; comments/decls/PIs discarded). The tokenizer
# regexes below are byte-for-byte the tolerant patterns of CPython 3.11
# html/parser.py:36-59 and _markupbase.py:10-18, and the control flow
# mirrors goahead/parse_starttag/check_for_whole_start_tag/parse_endtag/
# parse_html_declaration case by case, so the emitted callback stream is
# identical — pinned by a differential pytest (stdlib vs fast) over the
# fixture corpus plus an adversarial battery. Any fast-path exception
# falls back to the stdlib parser at runtime (parse_blocks below).

_TAGFIND_RE = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND_RE = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_LOCATESTARTTAGEND_RE = re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    re.VERBOSE,
)
_ENDTAGFIND_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_SIMPLETAG_RE = re.compile(r"([a-zA-Z][-.a-zA-Z0-9:_]*)\s*(/?)>")
_COMMENTCLOSE_RE = re.compile(r"--\s*>")
_DECLNAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKEDSECTIONCLOSE_RE = re.compile(r"]\s*]\s*>")
_MSMARKEDSECTIONCLOSE_RE = re.compile(r"]\s*>")
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}
_ASCII_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _fast_feed(p: _Extractor, rawdata: str) -> None:
    """Single-pass tokenizer emitting the stdlib parser's callback stream."""
    i, n = 0, len(rawdata)
    handle_data = p.handle_data
    cdata_elem: str | None = None

    def _parse_starttag(i: int) -> int:
        nonlocal cdata_elem
        # attr-free fast path (~56% of start tags in web text): `<tag>`,
        # `<tag >`, `<tag/>` need none of the tolerant attr machinery and
        # behave identically through it — one simple match instead of the
        # LOCATESTARTTAGEND VERBOSE regex + the attr loop
        sm = _SIMPLETAG_RE.match(rawdata, i + 1)
        if sm:
            tag = sm.group(1).lower()
            if sm.group(2):
                p.handle_starttag(tag, [])
                p.handle_endtag(tag)
            else:
                p.handle_starttag(tag, [])
                if tag in ("script", "style"):
                    cdata_elem = tag
            return sm.end()
        # parse_starttag + check_for_whole_start_tag (html/parser.py:300-377)
        m = _LOCATESTARTTAGEND_RE.match(rawdata, i)
        j = m.end()
        nxt = rawdata[j : j + 1]
        if nxt == ">":
            endpos = j + 1
        elif nxt == "/":
            if rawdata.startswith("/>", j):
                endpos = j + 2
            else:
                return -1
        elif nxt == "":
            return -1
        elif nxt in _ASCII_LETTERS or nxt in "=/":
            return -1
        else:
            endpos = j if j > i else i + 1
        tm = _TAGFIND_RE.match(rawdata, i + 1)
        tag = tm.group(1).lower()
        k = tm.end()
        attrs: list[tuple[str, str | None]] = []
        while k < endpos:
            am = _ATTRFIND_RE.match(rawdata, k)
            if not am:
                break
            attrname, rest, attrvalue = am.group(1, 2, 3)
            if not rest:
                attrvalue = None
            elif attrvalue[:1] == "'" == attrvalue[-1:] or attrvalue[:1] == '"' == attrvalue[-1:]:
                attrvalue = attrvalue[1:-1]
            if attrvalue:
                attrvalue = unescape(attrvalue)
            attrs.append((attrname.lower(), attrvalue))
            k = am.end()
        end = rawdata[k:endpos].strip()
        if end not in (">", "/>"):
            handle_data(rawdata[i:endpos])
            return endpos
        if end.endswith("/>"):
            p.handle_starttag(tag, attrs)
            p.handle_endtag(tag)
        else:
            p.handle_starttag(tag, attrs)
            if tag in ("script", "style"):
                cdata_elem = tag
        return endpos

    def _parse_endtag(i: int) -> int:
        # parse_endtag (html/parser.py:381-415); cdata handled by caller
        gt = rawdata.find(">", i + 1)
        if gt < 0:
            return -1
        gtpos = gt + 1
        m = _ENDTAGFIND_RE.match(rawdata, i)
        if not m:
            nm = _TAGFIND_RE.match(rawdata, i + 2)
            if not nm:
                if rawdata[i : i + 3] == "</>":
                    return i + 3
                pos = rawdata.find(">", i + 2)  # bogus comment, not reported
                return -1 if pos == -1 else pos + 1
            tagname = nm.group(1).lower()
            gtpos = rawdata.find(">", nm.end()) + 1
            p.handle_endtag(tagname)
            return gtpos
        p.handle_endtag(m.group(1).lower())
        return gtpos

    def _parse_html_declaration(i: int) -> int:
        # parse_html_declaration + parse_marked_section/_scan_name
        # (html/parser.py:252-269, _markupbase.py:160-184)
        if rawdata[i : i + 3] == "<![":
            if i + 3 == n:
                return -1  # _scan_name at end of buffer
            nm = _DECLNAME_RE.match(rawdata, i + 3)
            if not nm:
                raise ValueError("malformed marked section")  # stdlib error()s
            if nm.end() == n:
                return -1
            name = nm.group().strip().lower()
            if name in ("temp", "cdata", "ignore", "include", "rcdata"):
                m = _MARKEDSECTIONCLOSE_RE.search(rawdata, i + 3)
            elif name in ("if", "else", "endif"):
                m = _MSMARKEDSECTIONCLOSE_RE.search(rawdata, i + 3)
            else:
                raise ValueError("unknown status keyword")  # stdlib error()s
            return -1 if not m else m.end()
        if rawdata[i : i + 9].lower() == "<!doctype":
            gt = rawdata.find(">", i + 9)
            return -1 if gt == -1 else gt + 1
        pos = rawdata.find(">", i + 2)  # bogus comment, not reported
        return -1 if pos == -1 else pos + 1

    while i < n:
        if cdata_elem is None:
            j = rawdata.find("<", i)
            if j < 0:
                j = n
            if i < j:
                data = rawdata[i:j]
                handle_data(unescape(data) if "&" in data else data)
            i = j
            if i == n:
                break
        else:
            # CDATA content mode (script/style): only the matching close tag
            # is markup; trailing unterminated content is dropped, exactly as
            # goahead does (html/parser.py:152-157 with the cdata interesting)
            m = _CDATA_CLOSE[cdata_elem].search(rawdata, i)
            if m is None:
                return
            if i < m.start():
                handle_data(rawdata[i : m.start()])
            p.handle_endtag(cdata_elem)
            cdata_elem = None
            i = m.end()
            continue
        c2 = rawdata[i + 1 : i + 2]
        if c2 in _ASCII_LETTERS:
            k = _parse_starttag(i)
        elif c2 == "/":
            k = _parse_endtag(i)
        elif rawdata.startswith("<!--", i):
            cm = _COMMENTCLOSE_RE.search(rawdata, i + 4)
            k = -1 if not cm else cm.end()
        elif c2 == "?":
            gt = rawdata.find(">", i + 2)
            k = -1 if gt == -1 else gt + 1
        elif c2 == "!":
            k = _parse_html_declaration(i)
        elif i + 1 < n:
            handle_data("<")
            k = i + 1
        else:
            break
        if k < 0:
            # incomplete construct at end of input (goahead's end=1 branch,
            # html/parser.py:185-198): emit through the next > / < as data
            k = rawdata.find(">", i + 1)
            if k < 0:
                k = rawdata.find("<", i + 1)
                if k < 0:
                    k = i + 1
            else:
                k += 1
            data = rawdata[i:k]
            handle_data(unescape(data) if "&" in data else data)
        i = k
    if i < n and cdata_elem is None:
        data = rawdata[i:n]
        handle_data(unescape(data) if "&" in data else data)


def parse_blocks(html: str) -> list[Block]:
    """DOM → scored candidate blocks (single streaming pass)."""
    try:
        p = _Extractor()
        _fast_feed(p, html)
        p._flush()
        return p.blocks
    except Exception:
        pass
    p = _Extractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        # malformed-input fallback: strip tags crudely, one block
        text = _WS_RE.sub(" ", re.sub(r"<[^>]*>", " ", unescape(html))).strip()
        return [Block(index=0, tag="body", text=text)] if text else []
    return p.blocks


def classify_blocks(blocks: list[Block]) -> list[bool]:
    """Per-block content/boilerplate decision (readability-style scoring)."""
    decisions: list[bool] = []
    prev_content = False
    for b in blocks:
        if b.boiler_ancestor or b.hint_ancestor or b.tag in ("title",):
            decisions.append(False)
            prev_content = False
            continue
        if b.verbatim:
            decisions.append(True)
            prev_content = True
            continue
        if b.link_density > MAX_LINK_DENSITY:
            decisions.append(False)
            prev_content = False
            continue
        if b.n_chars >= MIN_CONTENT_CHARS:
            decisions.append(True)
            prev_content = True
            continue
        # short block: survives only as continuation of a content run
        # (boilerpipe-style sequence smoothing for short paragraphs)
        decisions.append(prev_content and b.n_chars > 0 and b.link_density == 0.0)
    return decisions


def extract_main_text(
    html_bytes: bytes | None, transport: str | None = None
) -> tuple[str, list[dict]]:
    """html bytes → (extracted main text, span records).

    The bytes decode through charset.sniff_decode; ``transport`` is the
    charset label the page was served with (the pages ``charset`` column,
    None when unknown). Spans are `{block, start, end, tag, n_chars,
    link_density}` with start/end as char offsets into the returned text.
    Deterministic: the same bytes and label always yield the same
    (text, spans).
    """
    if not html_bytes:
        return "", []
    html = sniff_decode(html_bytes, transport)[0]
    blocks = parse_blocks(html)
    keep = classify_blocks(blocks)
    out_parts: list[str] = []
    spans: list[dict] = []
    offset = 0
    for b, k in zip(blocks, keep):
        if not k:
            continue
        if out_parts:
            offset += 1  # the joining '\n'
        out_parts.append(b.text)
        spans.append(
            {
                "block": b.index,
                "start": offset,
                "end": offset + b.n_chars,
                "tag": b.tag,
                "n_chars": b.n_chars,
                "link_density": round(b.link_density, 4),
            }
        )
        offset += b.n_chars
    return "\n".join(out_parts), spans
