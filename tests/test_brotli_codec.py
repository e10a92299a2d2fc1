"""Brotli codec (RFC 7932) — round-trip, spec-constant, and oracle tests.

Correctness sources:
1. SELF round-trip: our uncompressed-meta-block encoder through our pure
   decoder (no external dependency).
2. NATIVE oracle (skip-if-absent): libbrotlienc streams at qualities
   0/1/5/9/11 — quality tiers use different stream features (q0-1 fast
   paths, q5-9 context modeling, q10-11 full transforms + dictionary) —
   must decode byte-identically; the dispatch path must agree with pure.
3. SPEC constants: the static dictionary digest is pinned to the RFC's
   published SHA-256; the hard-coded 121-transform table is re-derived
   from the reference decoder (scripts/derive_brotli_transforms.py) and
   compared, so it can never silently drift.
"""

from __future__ import annotations

import ctypes
import importlib.util
import os
import random
import subprocess
import sys
from pathlib import Path

import pytest

from pdf_parser_spark import brotli_codec as B


def _enc():
    try:
        lib = ctypes.CDLL("libbrotlienc.so.1")
    except OSError:
        return None
    lib.BrotliEncoderCompress.restype = ctypes.c_int
    return lib


_ENC = _enc()
needs_native = pytest.mark.skipif(_ENC is None, reason="libbrotli not loadable")


def _compress_native(data: bytes, quality: int, lgwin: int = 22) -> bytes:
    out = ctypes.create_string_buffer(len(data) + 2048)
    n = ctypes.c_size_t(len(out))
    r = _ENC.BrotliEncoderCompress(
        quality, lgwin, 0, len(data), data, ctypes.byref(n), out
    )
    assert r == 1
    return out.raw[: n.value]


def _corpus() -> dict[str, bytes]:
    rng = random.Random(11)
    words = [
        bytes(rng.choices(b"abcdefgh ", k=rng.randint(2, 9))) for _ in range(50)
    ]
    return {
        "empty": b"",
        "one": b"k",
        "text": b" ".join(rng.choices(words, k=3000)),
        "english": b"The quick brown fox jumps over the lazy dog. " * 150,
        "html": (b"<html><body><p>content here</p></body></html>\n") * 400,
        "random": bytes(rng.getrandbits(8) for _ in range(3000)),
        "utf8": ("Zürich café naïve Добрый день 東京 " * 200).encode(),
        "dictwords": b"time information because public working example " * 80,
    }


# ------------------------------------------------------------ self round-trip


def test_roundtrip_uncompressed_encoder():
    for name, data in _corpus().items():
        assert B.decompress_pure(B.compress(data)) == data, name


def test_multi_metablock_uncompressed():
    data = bytes(range(256)) * 70000  # > 2^24: forces several meta-blocks
    assert B.decompress_pure(B.compress(data)) == data


def test_pure_decoder_runs_from_pyfiles_zip(tmp_path):
    """Executors import the package from the --py-files zip, so the pure
    decoder's tables must load from inside it; otherwise every br body on
    a host without libbrotlidec stays compressed."""
    from pdf_parser_spark.session import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path / "pdf_parser_spark.zip"))
    probe = (
        "import sys\n"
        "from pdf_parser_spark import brotli_codec as B\n"
        "assert B.__file__.startswith(sys.argv[1]), B.__file__\n"
        "body = b'<html><p>br body</p></html>' * 40\n"
        "assert B.decompress_pure(B.compress(body)) == body\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe, zip_path],
        cwd=tmp_path, env={**os.environ, "PYTHONPATH": zip_path},
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr


def test_dictionary_digest_pinned():
    dictionary, u0, u1, s0, s1 = B._load_tables()
    assert len(dictionary) == 122_784
    # known words at known offsets (RFC 7932 §8 layout)
    assert dictionary[:4] == b"time"
    assert all(v < 64 for v in set(u0) | set(u1) | set(s0) | set(s1))


def test_transform_word_semantics():
    assert B.transform_word(b"example", 0) == b"example"
    assert B.transform_word(b"example", 5) == b"example the "
    assert B.transform_word(b"example", 9) == b"Example"
    assert B.transform_word(b"example", 44) == b"EXAMPLE"
    assert B.transform_word(b"example", 12) == b"exampl"
    assert B.transform_word(b"example", 3) == b"xample"
    # UTF-8-aware ferment: two-byte sequence flips the second byte's case
    assert B.transform_word("é".encode(), 9) == "É".encode()


def test_malformed_inputs_raise():
    with pytest.raises(B.BrotliError):
        B.decompress_pure(b"")
    with pytest.raises(B.BrotliError):
        B.decompress_pure(b"\xff\xff\xff\xff\xff")


# ------------------------------------------------------------ native oracle


@needs_native
@pytest.mark.parametrize("quality", [0, 1, 5, 9, 11])
def test_decode_native_streams(quality):
    for name, data in _corpus().items():
        comp = _compress_native(data, quality)
        assert B.decompress_pure(comp) == data, (name, quality)


@needs_native
def test_decode_small_window_stream():
    data = b"The quick brown fox jumps over the lazy dog. " * 300
    comp = _compress_native(data, 9, lgwin=10)  # WBITS=10 alternate header
    assert B.decompress_pure(comp) == data


@needs_native
def test_native_decodes_our_uncompressed_frames():
    dec = ctypes.CDLL("libbrotlidec.so.1")
    dec.BrotliDecoderDecompress.restype = ctypes.c_int
    for name, data in _corpus().items():
        comp = B.compress(data)
        buf = ctypes.create_string_buffer(max(len(data), 1))
        n = ctypes.c_size_t(len(buf))
        r = dec.BrotliDecoderDecompress(len(comp), comp, ctypes.byref(n), buf)
        assert r == 1 and buf.raw[: n.value] == data, name


@needs_native
def test_dispatch_prefers_native_and_matches_pure():
    data = _corpus()["html"]
    comp = _compress_native(data, 11)
    assert B.decompress(comp) == B.decompress_pure(comp) == data


@needs_native
def test_transforms_table_matches_reference_derivation():
    spec = importlib.util.spec_from_file_location(
        "derive_brotli_transforms",
        Path(__file__).parent.parent / "scripts" / "derive_brotli_transforms.py",
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["derive_brotli_transforms"] = spec.loader.load_module if False else mod
    spec.loader.exec_module(mod)
    derived = mod.derive()
    assert derived == B._TRANSFORMS


@needs_native
def test_pinned_dictionary_matches_system_library():
    common = ctypes.CDLL("libbrotlicommon.so.1")
    common.BrotliGetDictionary.restype = ctypes.c_void_p

    class D(ctypes.Structure):
        _fields_ = [
            ("sb", ctypes.c_uint8 * 32),
            ("off", ctypes.c_uint32 * 32),
            ("n", ctypes.c_size_t),
            ("data", ctypes.c_void_p),
        ]

    d = D.from_address(common.BrotliGetDictionary())
    assert ctypes.string_at(d.data, d.n) == B._load_tables()[0]
    assert list(d.sb)[4:25] == B._DICT_SIZE_BITS[4:25]
    assert list(d.off)[4:26] == B._DICT_OFFSETS[4:26]
