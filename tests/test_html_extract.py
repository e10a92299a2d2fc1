"""Readability-style HTML extraction tests — the per-url byte-identity gate."""

from __future__ import annotations

from pdf_parser_spark import fixtures
from pdf_parser_spark.html_extract import (
    classify_blocks,
    extract_main_text,
    parse_blocks,
)


def test_fixture_round_trip_byte_identity():
    """extract_main_text(wrap_html(text)) == text for every HTML fixture row."""
    for doc_id in range(0, 120):
        row = fixtures.page_row(doc_id)
        if row["url"].endswith(".pdf"):
            continue
        extracted, spans = extract_main_text(row["html"])
        assert extracted == row["text"], f"doc {doc_id} not byte-identical"
        assert spans and spans[0]["start"] == 0


def test_boilerplate_stripped():
    row = fixtures.page_row(1)  # doc_id % 4 != 0 → full boilerplate wrapper
    extracted, _ = extract_main_text(row["html"])
    for frag in ("Home", "Logout", "Special offers", "Terms", "Privacy", "© 2024"):
        assert frag not in extracted
    assert "Statement 1" not in extracted  # <title> dropped


def test_link_density_drops_link_farms():
    html = (
        b"<html><body>"
        b'<p><a href="/a">aaaa aaaa</a> <a href="/b">bbbb bbbb</a> '
        b'<a href="/c">cccc cccc</a></p>'
        b"<p>This paragraph is genuine readable content with enough characters"
        b" to stand on its own as main text.</p>"
        b"</body></html>"
    )
    text, spans = extract_main_text(html)
    assert "genuine readable content" in text
    assert "aaaa" not in text


def test_short_continuation_survives():
    html = (
        b"<html><body>"
        b"<p>A long opening paragraph that is certainly over the minimum"
        b" character threshold for content blocks.</p>"
        b"<p>Short tail.</p>"
        b"</body></html>"
    )
    text, _ = extract_main_text(html)
    assert "Short tail." in text


def test_isolated_short_block_dropped():
    html = b"<html><body><div>menu</div><p>%s</p></body></html>" % (
        b"Long enough paragraph of body content to pass the threshold easily."
    )
    text, _ = extract_main_text(html)
    assert "menu" not in text


def test_pre_verbatim_whitespace():
    payload = "line one\n  indented   line\n\nafter blank"
    html = f"<html><body><pre>{payload}</pre></body></html>".encode()
    text, _ = extract_main_text(html)
    assert text == payload


def test_script_style_skipped():
    html = (
        b"<html><head><script>var x = 'DATE DESCRIPTION AMOUNT';</script>"
        b"<style>p{color:red}</style></head>"
        b"<body><p>Real content paragraph long enough to pass the filter.</p>"
        b"</body></html>"
    )
    text, _ = extract_main_text(html)
    assert "DATE DESCRIPTION" not in text and "color" not in text


def test_entities_unescaped():
    html = b"<html><body><p>Packaging &amp; Shipping costs rose by 4% this quarter overall.</p></body></html>"
    text, _ = extract_main_text(html)
    assert "Packaging & Shipping" in text


def test_malformed_html_fallback():
    text, spans = extract_main_text(b"<p>unclosed <b>bold text and trailing")
    assert "unclosed" in text


def test_empty_input():
    assert extract_main_text(None) == ("", [])
    assert extract_main_text(b"") == ("", [])


def test_spans_offsets_consistent():
    row = fixtures.page_row(2)
    text, spans = extract_main_text(row["html"])
    for s in spans:
        assert text[s["start"] : s["end"]] != ""
        assert s["end"] - s["start"] == s["n_chars"]


def test_block_features():
    blocks = parse_blocks(
        '<html><body><nav><a href="/">x</a></nav><p>content paragraph of '
        "sufficient length to be kept around here</p></body></html>"
    )
    keep = classify_blocks(blocks)
    kept = [b for b, k in zip(blocks, keep) if k]
    assert len(kept) == 1 and kept[0].tag == "p"


def test_charset_sniffed_decode():
    """Pages decode through the charset cascade (BOM, declared charset,
    utf-8, latin-1) instead of mangling every non-ASCII char; unknown
    labels fall through."""
    from pdf_parser_spark.html_extract import extract_main_text

    latin = (
        '<html><head><meta charset="iso-8859-1"></head><body>'
        "<p>Caf\xe9 au lait costs three euros fifty in the old quarter.</p>"
        "</body></html>"
    ).encode("iso-8859-1")
    text, _ = extract_main_text(latin)
    assert "Café au lait" in text

    # same bytes WITHOUT the meta tag: not valid utf-8, so latin-1
    bare = (
        "<html><body><p>Caf\xe9 au lait costs three euros fifty today."
        "</p></body></html>"
    ).encode("iso-8859-1")
    text2, _ = extract_main_text(bare)
    assert "Café au lait" in text2

    # unknown charset label → utf-8 fallback, no crash
    weird = (
        '<html><head><meta charset="no-such-encoding"></head>'
        "<body><p>plain ascii body long enough to keep</p></body></html>"
    ).encode("ascii")
    text3, _ = extract_main_text(weird)
    assert "plain ascii body" in text3

    # utf-16 declared on an ASCII page cannot be honest: utf-8
    utf16_meta = (
        '<html><head><meta charset="utf-16"></head>'
        "<body><p>plain ascii body long enough to keep</p></body></html>"
    ).encode("ascii")
    text4, _ = extract_main_text(utf16_meta)
    assert "plain ascii body long enough to keep" in text4

    # a UTF-32 BOM is not read as a UTF-16 one
    utf32 = b"\xff\xfe\x00\x00" + (
        "<html><body><p>Café crème costs three euros fifty today.</p>"
        "</body></html>"
    ).encode("utf-32-le")
    text5, _ = extract_main_text(utf32)
    assert text5 == "Café crème costs three euros fifty today."

    # XML-prolog declaration
    prolog = (
        '<?xml version="1.0" encoding="ISO-8859-15"?><html><body>'
        "<p>Prix: 5 € le café, servi en terrasse tous les jours.</p>"
        "</body></html>"
    ).encode("iso8859-15")
    text6, _ = extract_main_text(prolog)
    assert "5 € le café" in text6


def _stdlib_blocks(html: str):
    from pdf_parser_spark.html_extract import _Extractor

    p = _Extractor()
    p.feed(html)
    p.close()
    return p.blocks


def _fast_blocks(html: str):
    from pdf_parser_spark.html_extract import _Extractor, _fast_feed

    p = _Extractor()
    _fast_feed(p, html)
    p._flush()
    return p.blocks


def test_fast_feed_matches_stdlib_parser_battery():
    """The fast tokenizer's callback stream is pinned to stdlib html.parser:
    identical Block lists (or identical exception outcomes) on an
    adversarial battery covering every goahead construct — tolerant start
    tags, raw-text (CDATA) script/style, comments/decls/PIs/marked
    sections, incomplete constructs at EOF, charref conversion."""
    battery = [
        '<div class="nav">x</div><p>hello &amp; goodbye</p>',
        "<p>unclosed",
        "plain text only & < > stray",
        '<script>var a = "<div>not a tag</div>";</script><p>after</p>',
        "<style>p > a { color: red }</style><p>content here</p>",
        "<SCRIPT SRC=x>ignored</SCRIPT><P CLASS=MENU>caps</P>",
        '<br/><br /><hr><div/>text<div a="1"/>more',
        "<div class=nav/>odd</div>",
        "<!-- comment <p>not parsed</p> --><p>real</p>",
        "<!DOCTYPE html><html><body><p>doc</p></body></html>",
        "<![CDATA[ <p>raw</p> ]]><p>post</p>",
        '<?php echo "<p>hi</p>"; ?><p>after pi</p>',
        '<a href="x">link text</a> outside',
        '<p title="class=nav">tricky attr</p>',
        "<div class=\"a\" ' broken>text</div>",
        "<input type=checkbox checked/><p>after void</p>",
        "<td>a<td>b<tr>c",
        "<pre>  spaced   text\nline2  </pre>",
        "<p>&lt;escaped&gt; &#65; &#x42; &nbsp;x</p>",
        "<!-- unterminated comment <p>x</p>",
        '<div class="a',
        "<p>text<",
        "<",
        "</",
        "</>",
        "<!",
        "<![",
        "<![CDATA[ unterminated",
        "<![if gte IE 8]><p>ie</p><![endif]>",
        "<?unterminated pi",
        "<!doctype unterminated",
        '<p class="x > y">gt in quoted attr</p>',
        '<p "x > y">gt in bare quoted junk</p>',
        "<div =junk>eq start</div>",
        "<div/ class=nav>slash not end</div>",
        "<script>a</script junk><p>after</p>",
        "<script>a</scriptx></script><p>b</p>",
        '<style>@import "a.css";</style  ><p>c</p>',
        "<p>&#9731; &#x2603; &#badref; &unknownentity; &amp</p>",
        "<p>a &am",
        "<div class=>empty val</div>",
        "<div class>no val</div>",
        "<p>x</p><!--->short comment--><p>y</p>",
        "</ div><p>after sloppy end</p>",
        "<p>a</p junk><p>b</p>",
        "<script><!-- </script> --></script><p>tail</p>",
    ]
    from pdf_parser_spark import fixtures

    for i in range(100):
        h = fixtures.page_row(i)["html"]
        battery.append(h.decode("utf-8", errors="replace"))
    for h in battery:
        try:
            a = _stdlib_blocks(h)
        except Exception as e:
            a = ("EXC", type(e).__name__)
        try:
            b = _fast_blocks(h)
        except Exception as e:
            b = ("EXC", type(e).__name__)
        assert a == b, f"fast tokenizer diverged on {h[:80]!r}"


def test_fast_feed_matches_stdlib_parser_fuzz():
    """Deterministic tag-soup fuzz: 1500 random atom concatenations parse
    to identical Block lists under both tokenizers."""
    import random

    rng = random.Random(20260818)
    atoms = [
        "<div>", "</div>", "<p ", 'class="nav"', "id='x'", ">", "text ",
        "&amp;", "&#65;", "&", "<", '"', "'", "/", "<!--", "-->",
        "<script>", "</script>", "<style>", "</style>", "<br/>",
        "<a href=x>", "</a>", "<![CDATA[", "]]>", "<!doctype html>",
        "<?pi?>", "=", " ", "\n", "tag", "<p>longer content chunk here ",
        "</ p>", "<!", "<![if]>", "<td>", "\t", "é", "&#x1F600;",
        "&bogus;", "<DIV CLASS=MENU>", "<input checked/>", "<pre>", "</pre>",
    ]
    for _ in range(1500):
        h = "".join(rng.choice(atoms) for _ in range(rng.randint(1, 40)))
        try:
            a = _stdlib_blocks(h)
        except Exception as e:
            a = ("EXC", type(e).__name__)
        try:
            b = _fast_blocks(h)
        except Exception as e:
            b = ("EXC", type(e).__name__)
        assert a == b, f"fast tokenizer diverged on {h!r}"
