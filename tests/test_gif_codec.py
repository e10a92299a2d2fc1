"""From-scratch GIF codec (pdf_parser_spark/gif_codec.py): exact-palette
round trips through real LZW (variable code widths, table resets),
interlacing, animation compositing with disposal methods, transparency,
and loud refusals — all from the public GIF89a specification."""

from __future__ import annotations

import numpy as np
import pytest

from pdf_parser_spark import gif_codec


def _pal_image(h, w, n_colors=16, seed=5):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    return pal[rng.integers(0, n_colors, (h, w))]


def test_single_frame_exact_round_trip():
    img = _pal_image(37, 53)
    frames, delays = gif_codec.decode_gif(gif_codec.encode_gif(img))
    assert frames.shape == (1, 37, 53, 4)
    assert np.array_equal(frames[0, :, :, :3], img)
    assert (frames[0, :, :, 3] == 255).all()
    assert delays == [0]


def test_animation_frames_and_delays():
    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    f = np.stack([pal[rng.integers(0, 8, (24, 40))] for _ in range(5)])
    dec, delays = gif_codec.decode_gif(
        gif_codec.encode_gif(f, delays_ms=[100, 50, 0, 20, 30]))
    assert dec.shape == (5, 24, 40, 4)
    for i in range(5):
        assert np.array_equal(dec[i, :, :, :3], f[i]), i
    assert delays == [100, 50, 0, 20, 30]


def test_interlaced_round_trip():
    """Interlaced images store rows in the 4-pass order (8/8, 8/8+4, 4/2,
    2/1) — the decoder must reassemble raster order exactly."""
    img = _pal_image(29, 31, seed=13)  # odd height: uneven pass sizes
    dec, _ = gif_codec.decode_gif(gif_codec.encode_gif(img, interlace=True))
    assert np.array_equal(dec[0, :, :, :3], img)


def test_lzw_code_growth_and_table_reset():
    """A large frame forces the code width through 12 bits and at least
    one CLEAR-code table reset on the encode side; decode must track both."""
    img = _pal_image(200, 300, n_colors=16, seed=3)
    dec, _ = gif_codec.decode_gif(gif_codec.encode_gif(img))
    assert np.array_equal(dec[0, :, :, :3], img)


def test_two_color_minimum_code_size():
    bw = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)[
        np.random.default_rng(1).integers(0, 2, (9, 11))]
    dec, _ = gif_codec.decode_gif(gif_codec.encode_gif(bw))
    assert np.array_equal(dec[0, :, :, :3], bw)


def test_transparency_and_disposal_background():
    """Hand-built two-frame GIF: frame 2 is a small patch with disposal
    'restore to background' and a transparent index — compositing must
    overlay frame 2 on frame 1, then clear the patch region afterward."""
    import struct

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]],
                   np.uint8)
    base = pal[np.zeros((8, 8), int)]          # red screen
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 8, 8, 0x80 | 0x01, 0, 0)  # 4-entry GCT
    out += pal.tobytes()
    # frame 1: full red
    idx1 = np.zeros(64, np.uint8)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 8, 8, 0)
    out.append(2)
    lzw = gif_codec._lzw_encode(2, idx1)
    out.append(len(lzw)); out += lzw; out.append(0)
    # frame 2: 2x2 green patch at (3,3), transparent index 3, disposal 2
    out += b"\x21\xf9\x04" + struct.pack("<BHB", (2 << 2) | 1, 5, 3) + b"\x00"
    out += b"\x2c" + struct.pack("<HHHHB", 3, 3, 2, 2, 0)
    idx2 = np.array([1, 3, 3, 1], np.uint8)  # green/transparent checker
    out.append(2)
    lzw = gif_codec._lzw_encode(2, idx2)
    out.append(len(lzw)); out += lzw; out.append(0)
    out += b"\x3b"

    frames, delays = gif_codec.decode_gif(bytes(out))
    assert frames.shape == (2, 8, 8, 4)
    assert np.array_equal(frames[0, :, :, :3], base)
    # frame 2: green at (3,3) and (4,4); red shows through transparency
    assert tuple(frames[1, 3, 3, :3]) == (0, 255, 0)
    assert tuple(frames[1, 3, 4, :3]) == (255, 0, 0)
    assert tuple(frames[1, 4, 4, :3]) == (0, 255, 0)
    assert delays == [0, 50]


def test_refusals():
    with pytest.raises(ValueError, match="signature"):
        gif_codec.decode_gif(b"\x89PNG not a gif")
    rng = np.random.default_rng(2)
    with pytest.raises(ValueError, match="exact-palette"):
        gif_codec.encode_gif(rng.integers(0, 256, (40, 40, 3), dtype=np.uint8))
    # truncated LZW chain
    data = gif_codec.encode_gif(_pal_image(16, 16))
    with pytest.raises(ValueError):
        gif_codec.decode_gif(data[: len(data) // 2])


def test_multimodal_gate_decodes_gif():
    from pdf_parser_spark.operators.multimodal import _decode

    img = _pal_image(20, 24, seed=8)
    single = gif_codec.encode_gif(img)
    got = _decode(single, "image")
    assert got.shape == (20, 24, 4)
    anim = gif_codec.encode_gif(np.stack([img, img[::-1]]))
    vid = _decode(anim, "video")
    assert vid.shape == (2, 20, 24, 4)
