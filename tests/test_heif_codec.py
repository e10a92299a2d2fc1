"""HEIC — from-scratch HEIF item/hvcC layer + libheif dispatch tests.

Correctness sources:
1. EMBEDDED fixtures (parse runs without any codec library): a libheif/
   x265-written plain 'hvc1' file and a 1x1-'grid' file (the structure
   iPhone multi-tile HEICs use) — container fields pinned against the
   encoder's known configuration; decoded RGB pinned by SHA-256 (HEVC
   reconstruction is normative, and the RGB step is libheif's own).
2. ROUND TRIP (skip-if-absent): encode_heic_native → parse (field
   exactness) → decode (closeness on smooth content; the bundled x265
   plugin's lossless flag is a no-op, so bit-exact is unavailable).
3. The shared item layer is additionally pinned by test_avif_codec's
   dual libavif oracles — same walk, different config box.
"""

from __future__ import annotations

import base64
import hashlib

import numpy as np
import pytest

import pdf_parser_spark.heif_codec as HC

_PLAIN_B64 = (
    "AAAAHGZ0eXBoZWljAAAAAG1pZjFoZWljbWlhZgAAAUJtZXRhAAAAAAAAACFoZGxyAAAAAAAA"
    "AABwaWN0AAAAAAAAAAAAAAAAAAAAAA5waXRtAAAAAAABAAAAImlsb2MAAAAAREAAAQABAAAA"
    "AAFmAAEAAAAAAAAEMAAAACNpaW5mAAAAAAABAAAAFWluZmUCAAAAAAEAAGh2YzEAAAAAwmlw"
    "cnAAAACkaXBjbwAAAHhodmNDAQNwAAAAAAAAAAAAHvAA/P34+AAADwMgAAEAGEABDAH//wNw"
    "AAADAJAAAAMAAAMAHroCQCEAAQArQgEBA3AAAAMAkAAAAwAAAwAeoDCBBZbqSSmubgQEDAgA"
    "AAMACAAAAwAIQCIAAQAHRAHBcrAiQAAAABRpc3BlAAAAAAAAAGAAAABAAAAAEHBpeGkAAAAA"
    "AwgICAAAABZpcG1hAAAAAAAAAAEAAQOBAoMAAAQ4bWRhdAAABCwoAa8GuOfIpE+roN7RBtMG"
    "bpVMXnXV0z0BW7+z0kTcjSLf+Y6x7nNwEnojGQcKJm4008XdMMuwfy77qnqz7M0UlISA8i9U"
    "Zq8Ruw1tKkYudtAaMqUe/vt8yvpu8K4e2K/PH37qEj/Vrlmv/6NFrA5/+MQXVovgJgguK8zk"
    "Xsxq/JRjaUOYu8qsy26eJ4aQxRrMPKpyKx1uYGUYOxQ7nzuoDJU+6lTO+rmqvM6BfdGzxkr6"
    "fRBPTHBaG9u4CH/IkGAEYVMatFx7YqXIGRdYqAoDzJNQwosnTNhyQ9ABXbBhEKAIXAOSZor1"
    "Fs+Nq/NL4dwsl8+73KrmrkA44f7MHmttz+ViTKC7wL8JZe7krgvo2mNSjAF2VKHznEN4jLRn"
    "0BScxQrlgsk1iSjDugSHFxLWPcnqXaK/wuBuEJHro4UYIx7YO9dmBL8TQ/byqoRJRw2XMljO"
    "lhh8wYHt0Bou5gWleToxNGtdU6xaYYjnWPK7pLNCFGtWjBQpbWwNxlTfePx5XFW6c29Mh+o0"
    "TXa6MSwbqZuS6HSnXyxd4guOhbgCKsny97V7SpG4Lzm2qH0ZspQmTo9mbEiI7eogUFibZ92L"
    "QDmarKjCwfOodyYt3+H5EEBvwzvlX80/dR3qlvx1S+RqtjHWo+w2Du4v9XkLvxt6nN8AM3I2"
    "6jVAoluD55AAzc9CR2BPPuWOpQTj+5brv4F5jytXMl/zbOE6H3H90L8ZWN+3dENTlO3f+UKo"
    "oFqdZre7hCUuU8nG7WjddKJ00s1e9pBP4EL/jL4sgU63sJqI2O4wgMYjDA07ewlFTQyg+jW7"
    "asrpbXCtJkvuxlpSEWIbDT/CfxT6MTaa/r6Uged2TmkpUr+GWbX+4Fev24Uj3SXo5ZN9voOw"
    "J156EENdSklNrngLN1Wyv//ZbS2M8oAPs5t5aEUv4h+H0LeVRiesbDeOueB8ihbiB0EPXFEm"
    "C13y4MC28uhFkKEzybonjJpriKOLlOieo89bvdsMkNb20SQVm86M8FXsp3I04gty6iH9HtIF"
    "Y/nVzn6/epE5wjmwbd7RSRAcvM6APKKmdEpP643UnX1cs2vFqwytMsta+wVdm9ioEnNWgopT"
    "BpgV5oVDw+pYezRZ4ClGYjddJAWrXZ4uDvTPWS/ScMfCgJ5b2IwtghYINER+1tldMBwaxcAk"
    "S/iqICq2GFZIrWTwD0fz/xP93/zj95taOIwjT+EjonpRlzU8crwS8uek+srqx2HTc9+ZMnJW"
    "drgAuIQtopHs4euwURBoYIwtQakfaTaHvHgC2+huDKN6YxCGrrqf+AsNrLUz4tiV5//5H+zf"
    "/Q3/gu/5E1nO0J50gyad5L/hJhE0t2v4daV6iXkc0MBVsNFx42YsZ26m0WU3RTE1iKpd6b9f"
    "idWwrScRMA2F3syAKetn4cKjnia+uk/Ufng="
)
_GRID_B64 = (
    "AAAAHGZ0eXBoZWljAAAAAG1pZjFoZWljbWlhZgAAAa1tZXRhAAAAAAAAACFoZGxyAAAAAAAA"
    "AABwaWN0AAAAAAAAAAAAAAAAAAAAAA5waXRtAAAAAAACAAAAEGlkYXQAAAAAADAAIAAAADhp"
    "bG9jAQAAAERAAAIAAQAAAAAAAAHRAAEAAAAAAAAAqgACAAEAAAAAAAAAAQAAAAAAAAAIAAAA"
    "OGlpbmYAAAAAAAIAAAAVaW5mZQIAAAEAAQAAaHZjMQAAAAAVaW5mZQIAAAAAAgAAZ3JpZAAA"
    "AADYaXBycAAAALZpcGNvAAAAdmh2Y0MBA3AAAAAAAAAAAAAe8AD8/fj4AAAPAyAAAQAYQAEM"
    "Af//A3AAAAMAkAAAAwAAAwAeugJAIQABACpCAQEDcAAAAwCQAAADAAADAB6gIIEFlurkprm4"
    "EBAwIAAAAwAgAAADACEiAAEABkQBwXPAiQAAABRpc3BlAAAAAAAAAEAAAABAAAAAFGlzcGUA"
    "AAAAAAAAMAAAACAAAAAQcGl4aQAAAAADCAgIAAAAGmlwbWEAAAAAAAAAAgABAoECAAICA4QA"
    "AAAaaXJlZgAAAAAAAAAOZGltZwACAAEAAQAAALJtZGF0AAAApigBrwW4hZLJadgHS/sp7k1O"
    "B47Q1pQdIgNcC7bMh9Sh8qiGfWM1hl53EWCtvDxrdllO77EHB1JwKWJ96NeI7XfVRI0L2UbC"
    "Q5RNh57NGnRIPDBuG0aue01boCzveW6O6X+ADHSdqPUfoNcZeYb1GAbifvTQ3LwNthfjv/Dv"
    "/gN/6LqYx2JVJWWRJfilaFDY+tkoodpf/9d9BMO7s4CjTFvmwjf00fw="
)
_PLAIN = base64.b64decode("".join(_PLAIN_B64))
_GRID = base64.b64decode("".join(_GRID_B64))
_PLAIN_SHA = "0f632e95b2834bd8a5afcf988a12c64aed1d91883210fd20ae67577c9d8922f6"
_GRID_SHA = "55c32cfaedaf763a7e90beefc829ecf1707126a794c043b27a2c82205f62c947"

_CAN_DECODE, _CAN_ENCODE = HC.have_native_codec()
needs_decoder = pytest.mark.skipif(not _CAN_DECODE, reason="no HEVC decoder")
needs_encoder = pytest.mark.skipif(not _CAN_ENCODE, reason="no HEVC encoder")


# ---------------------------------------------------------------------------
# pure container layer
# ---------------------------------------------------------------------------


def test_plain_fixture_parses():
    assert HC.is_heic(_PLAIN)
    info = HC.parse_heic(_PLAIN)
    assert info["item_type"] == "hvc1" and info["grid"] is None
    assert (info["width"], info["height"]) == (96, 64)
    hv = info["hvcc"]
    assert hv["profile_idc"] == 3 and hv["chroma_format"] == 1
    assert hv["bit_depth_luma"] == 8 and hv["length_size"] == 4
    # VPS(32)/SPS(33)/PPS(34) parameter sets all present
    assert set(hv["nal_arrays"]) == {32, 33, 34}
    assert len(info["payload"]) > 0


def test_grid_fixture_parses():
    """The iPhone-style structure: primary 'grid' item over hidden hvc1
    tiles linked by 'dimg' references, payload in the meta idat box."""
    info = HC.parse_heic(_GRID)
    assert info["item_type"] == "grid"
    assert (info["width"], info["height"]) == (48, 32)
    assert info["grid"]["n_tiles"] == 1
    assert info["grid"]["rows"] == 1 and info["grid"]["cols"] == 1
    assert info["hvcc"]["profile_idc"] == 3  # inherited from the tile
    assert len(info["payload"]) > 0


def test_is_heic_rejects_others():
    assert not HC.is_heic(b"")
    assert not HC.is_heic(b"\x89PNG\r\n\x1a\n" + b"x" * 24)
    from pdf_parser_spark import mp4_demux

    raw = mp4_demux.encode_mp4_raw(np.zeros((1, 8, 8, 3), np.uint8))
    assert not HC.is_heic(raw)
    with pytest.raises(ValueError, match="HEVC-image brand"):
        HC.parse_heic(raw)


def test_parse_hvcc_malformed():
    with pytest.raises(ValueError, match="shorter"):
        HC.parse_hvcc(b"\x01" * 10)
    with pytest.raises(ValueError, match="configurationVersion"):
        HC.parse_hvcc(b"\x07" + b"\x00" * 30)


def test_parse_truncated_raises_typed():
    with pytest.raises(ValueError):
        HC.parse_heic(_PLAIN[:-50])
    rng = np.random.default_rng(17)
    for _ in range(60):
        mut = bytearray(_GRID)
        for _ in range(rng.integers(1, 5)):
            mut[rng.integers(0, len(mut))] ^= 1 << rng.integers(0, 8)
        try:
            HC.parse_heic(bytes(mut))
        except (ValueError, NotImplementedError):
            pass


# ---------------------------------------------------------------------------
# native reconstruction
# ---------------------------------------------------------------------------


@needs_decoder
def test_fixture_decode_pinned():
    plain = HC.decode_heic(_PLAIN)
    assert plain.shape == (64, 96, 3) and plain.dtype == np.uint8
    assert hashlib.sha256(plain.tobytes()).hexdigest() == _PLAIN_SHA
    grid = HC.decode_heic(_GRID)
    assert grid.shape == (32, 48, 3)
    assert hashlib.sha256(grid.tobytes()).hexdigest() == _GRID_SHA


@needs_decoder
@needs_encoder
def test_round_trip_close_on_smooth_content():
    h, w = 64, 96
    x = np.linspace(0, 255, w)[None, :]
    y = np.linspace(0, 255, h)[:, None]
    rgb = np.stack([x + 0 * y, 0 * x + y, (x + y) / 2], axis=-1).astype(
        np.uint8
    )
    blob = HC.encode_heic_native(rgb, quality=95)
    info = HC.parse_heic(blob)
    assert (info["width"], info["height"]) == (w, h)
    out = HC.decode_heic(blob)
    diff = int(np.abs(out.astype(int) - rgb.astype(int)).max())
    assert diff <= 12, f"quality-95 HEVC drifted by {diff} on a gradient"


@needs_decoder
def test_probe_and_operator_dispatch():
    from pdf_parser_spark import media_probe

    p = media_probe.probe_bytes(_PLAIN)
    assert (p["format"], p["codec"]) == ("heic", "hevc")
    assert (p["width"], p["height"], p["bit_depth"]) == (96, 64, 8)
    p = media_probe.probe_bytes(_GRID)
    assert (p["format"], p["width"], p["height"]) == ("heic", 48, 32)

    from pdf_parser_spark.operators import multimodal as mm

    arr = mm._decode(_PLAIN, "image")
    assert arr.shape == (64, 96, 3)


@needs_decoder
@needs_encoder
def test_compose_grid_writer_against_libheif():
    """From-scratch multi-tile writer: single-tile HEICs assembled into
    the iPhone grid structure must (a) parse back with the grid geometry
    and (b) decode — through libheif, a reader we did not write — to
    exactly the side-by-side composition of the individually decoded
    tiles."""

    def tile_rgb(seed, h=64, w=64):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack(
            [(xx * 3 + seed * 40) % 256, (yy * 3 + seed * 80) % 256,
             (xx + yy + seed * 20) % 256],
            axis=-1,
        ).astype(np.uint8)

    tile_files = [
        HC.encode_heic_native(tile_rgb(i), quality=95) for i in range(4)
    ]
    grid = HC.compose_heic_grid(tile_files, rows=2, cols=2)
    info = HC.parse_heic(grid)
    assert info["item_type"] == "grid"
    assert (info["width"], info["height"]) == (128, 128)
    assert info["grid"]["n_tiles"] == 4
    assert (info["grid"]["rows"], info["grid"]["cols"]) == (2, 2)
    dec = HC.decode_heic(grid)
    parts = [HC.decode_heic(t) for t in tile_files]
    expect = np.vstack([np.hstack(parts[0:2]), np.hstack(parts[2:4])])
    assert np.array_equal(dec, expect)

    from pdf_parser_spark import media_probe

    p = media_probe.probe_bytes(grid)
    assert (p["format"], p["codec"], p["width"], p["height"]) == (
        "heic", "hevc", 128, 128,
    )
    with pytest.raises(ValueError, match="rows\\*cols"):
        HC.compose_heic_grid(tile_files, rows=2, cols=1)


_ALPHA_B64 = (
    "AAAAHGZ0eXBoZWljAAAAAG1pZjFoZWljbWlhZgAAAvxtZXRhAAAAAAAAACFoZGxyAAAAAAAA"
    "AABwaWN0AAAAAAAAAAAAAAAAAAAAAA5waXRtAAAAAAACAAAAGGlkYXQAAAAAADAAIAAAAAAA"
    "MAAgAAAAYGlsb2MBAAAAREAABAABAAAAAAAAAyAAAQAAAAAAAAEmAAIAAQAAAAAAAAABAAAA"
    "AAAAAAgAAwAAAAAAAARGAAEAAAAAAAAAjAAEAAEAAAAAAAAAAQAAAAgAAAAIAAAAYmlpbmYA"
    "AAAAAAQAAAAVaW5mZQIAAAEAAQAAaHZjMQAAAAAVaW5mZQIAAAAAAgAAZ3JpZAAAAAAVaW5m"
    "ZQIAAAEAAwAAaHZjMQAAAAAVaW5mZQIAAAAABAAAZ3JpZAAAAAGxaXBycAAAAYRpcGNvAAAA"
    "dmh2Y0MBA3AAAAAAAAAAAAAe8AD8/fj4AAAPAyAAAQAYQAEMAf//A3AAAAMAkAAAAwAAAwAe"
    "ugJAIQABACpCAQEDcAAAAwCQAAADAAADAB6gIIEFlurkprm4EBAwIAAAAwAgAAADACEiAAEA"
    "BkQBwXPAiQAAABRpc3BlAAAAAAAAAEAAAABAAAAAFGlzcGUAAAAAAAAAMAAAACAAAAAQcGl4"
    "aQAAAAADCAgIAAAAcWh2Y0MBBAgAAAAAAAAAAAAe8AD8/Pj4AAAPAyAAAQAXQAEMAf//BAgA"
    "AAMAn/gAAAMAAB66AkAhAAEAJkIBAQQIAAADAJ/4AAADAAAewIIEFlurkprmwIAAAAMAgAAA"
    "AwCEIgABAAZEAcFzwIkAAAAUaXNwZQAAAAAAAABAAAAAQAAAABRpc3BlAAAAAAAAADAAAAAg"
    "AAAADnBpeGkAAAAAAQgAAAAnYXV4QwAAAAB1cm46bXBlZzpoZXZjOjIwMTU6YXV4aWQ6MQAA"
    "AAAlaXBtYQAAAAAAAAAEAAECgQIAAgIDhAADAoUGAAQDB4iJAAAANmlyZWYAAAAAAAAADmRp"
    "bWcAAgABAAEAAAAOZGltZwAEAAEAAwAAAA5hdXhsAAQAAQACAAABum1kYXQAAAEiKAGvBjiJ"
    "EWGbpEkdAXa53xupqMInHbOgPB+J7gsZGu9kfsZehtUaiNwQ+BH9T2T3Z/8E+3+59z13GIHX"
    "vG1rmSgf7XQeYO8fFuzbdI0pord4H4JfcdE7oje8lW+h5DQcmS899JDVOQEjZIz/b/F/4x/z"
    "t9FQyYVnePmcdAkOzUkudBT0Isd/1sAclLS5BFow7r9CEXwn6XlO6gC6uYLPkwqMEBEsl8Me"
    "VarvEbmJci3UmfW9MhMUUeDl+5DcKmcBHbXegH1MAkT4IlFB1oE7E29boVGUD+tsk51xY+S6"
    "bgBwGfig8H+I/wX/T7Gphm3YdD6zIBBaO8eKiy3kb2SKkzYb1y7Sw99musK3nGB4KxRZ5CXX"
    "3yjKxUJB9Z9WlZ0UnsAAAACIKAGuDHDw3KRI7wt0xlMTBCX86yc/Pj9b7/TRWiI14Q718z35"
    "bR/fTeRhXFOuVzdsQ0L9/1tNNc0CUgy6t6zqwMcmSIRrztDfMtRRoOzTt8AGs7ob8FR/e8Cl"
    "nel1GNy/+fxZc/4+8c9Qf9T+wAQp3rw2jNxnwpdWB/v6UTmU6oUsAMuCaQ8DyA=="
)
_ALPHA = base64.b64decode("".join(_ALPHA_B64))
_ALPHA_SHA = "46d7570183b158a8d6b56943f4dbad90bd60ed8093c5c479f3f7f97979814ed3"


def test_alpha_heic_parses():
    # the color item still parses; the alpha aux item rides alongside
    info = HC.parse_heic(_ALPHA)
    assert info["item_type"] in ("hvc1", "grid")
    assert (info["width"], info["height"]) == (48, 32)


@needs_decoder
def test_alpha_heic_decodes_rgba_pinned():
    rgba = HC.decode_heic(_ALPHA)
    assert rgba.shape == (32, 48, 4)
    assert hashlib.sha256(rgba.tobytes()).hexdigest() == _ALPHA_SHA
    # alpha ramp close to source (x265 encodes the aux plane lossily)
    expect = np.tile(np.linspace(0, 255, 48).astype(np.uint8), (32, 1))
    assert int(np.abs(rgba[:, :, 3].astype(int) - expect.astype(int)).max()) <= 4
    # opaque files keep 3 channels
    assert HC.decode_heic(_PLAIN).shape[2] == 3
