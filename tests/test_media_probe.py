"""Header-level media probe — identification without decode.

Ground truth: every probe field that overlaps with the full decoders is
cross-checked against the actual decoded arrays over the ENTIRE real
synthetic corpus (every format the engine mints), plus format-specific
spot checks, gated-bitstream independence, and per-row degrade through
the Spark operator.
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf_parser_spark import media_probe
from pdf_parser_spark.operators import multimodal as mm


def test_probe_matches_decode_over_whole_corpus():
    """For all 96 corpus rows: probed dims/frame counts equal the decoded
    arrays' — the probe never lies about what decode would produce."""
    for i in range(96):
        kind = ("image", "audio", "video")[i % 3]
        payload, mime = mm._real_payload(i, kind)
        p = media_probe.probe_bytes(payload)
        arr = mm._decode(payload, kind, fake=False)
        if kind == "image":
            assert (p["height"], p["width"]) == arr.shape[:2], (i, mime, p)
            assert p["n_frames"] == 1
        elif kind == "audio":
            assert p["n_frames"] == arr.shape[0], (i, mime, p)
            assert p["sample_rate"] == 16000
        else:
            assert (p["n_frames"], p["height"], p["width"]) == arr.shape[:3], (
                i, mime, p,
            )
        assert p["format"] is not None and p["codec"] is not None


def test_probe_specific_fields():
    # FLAC: 16-bit STREAMINFO fields
    payload, _ = mm._real_payload(4, "audio")
    p = media_probe.probe_bytes(payload)
    assert (p["format"], p["codec"], p["bit_depth"]) == ("flac", "flac", 16)
    assert p["duration_ms"] == p["n_frames"] * 1000 // p["sample_rate"]
    # WAV duration arithmetic
    payload, _ = mm._real_payload(1, "audio")
    p = media_probe.probe_bytes(payload)
    assert (p["format"], p["bit_depth"]) == ("wav", 16)
    assert p["duration_ms"] == p["n_frames"] * 1000 // 16000
    # progressive JPEG is distinguished from baseline
    payload, _ = mm._real_payload(27, "image")  # s=(27//3)%10 == 9
    p = media_probe.probe_bytes(payload)
    assert (p["format"], p["codec"]) == ("jpeg", "progressive")
    payload, _ = mm._real_payload(3, "image")  # s == 1
    p = media_probe.probe_bytes(payload)
    assert (p["format"], p["codec"]) == ("jpeg", "baseline")


@pytest.mark.skipif(
    not __import__(
        "pdf_parser_spark.av1_codec", fromlist=["have_native_encoder"]
    ).have_native_encoder(),
    reason="librav1e absent",
)
def test_probe_av1_paths():
    from pdf_parser_spark import av1_codec, avif_codec, mkv_demux, mp4_demux
    from rav1e_util import encode_av1, planes_420

    stream = encode_av1(planes_420(48, 64, 3), quantizer=120)
    p = media_probe.probe_bytes(stream)
    assert (p["format"], p["codec"]) == ("av1-obu", "av1")
    assert (p["width"], p["height"], p["n_frames"]) == (64, 48, 3)
    assert p["n_keyframes"] == 3 and p["bit_depth"] == 8

    p = media_probe.probe_bytes(mp4_demux.encode_mp4_av1(stream))
    assert (p["format"], p["codec"], p["n_frames"]) == ("mp4", "av1", 3)
    assert p["bit_depth"] == 8

    p = media_probe.probe_bytes(mkv_demux.encode_mkv_av1(stream))
    assert (p["format"], p["codec"], p["n_frames"]) == ("mkv", "av1", 3)

    p = media_probe.probe_bytes(
        avif_codec.encode_avif(encode_av1(planes_420(32, 48, 1)))
    )
    assert (p["format"], p["codec"]) == ("avif", "av1")
    assert (p["width"], p["height"]) == (48, 32)


def test_probe_gated_bitstreams_still_probe():
    """Classification is independent of reconstruction: an mp4 whose
    track decode is gated (h264 fourcc) still probes fully."""
    frames = np.zeros((3, 16, 16, 3), np.uint8)
    from pdf_parser_spark import mp4_demux

    blob = mp4_demux.encode_mp4_raw(frames).replace(b"raw ", b"avc1")
    with pytest.raises(NotImplementedError):
        mp4_demux.decode_mp4(blob)  # the decode gate
    p = media_probe.probe_bytes(blob)  # the probe does not care
    assert (p["format"], p["codec"]) == ("mp4", "avc1")
    assert (p["width"], p["height"], p["n_frames"]) == (16, 16, 3)


def test_probe_malformed_raises_typed():
    with pytest.raises(ValueError):
        media_probe.probe_bytes(b"")
    with pytest.raises(ValueError):
        media_probe.probe_bytes(b"certainly not media bytes")
    good, _ = mm._real_payload(0, "image")
    with pytest.raises(ValueError):
        media_probe.probe_bytes(good[:20])  # truncated PNG
    # fuzz: random bytes and bit-flipped real payloads → ValueError only
    rng = np.random.default_rng(3)
    for _ in range(150):
        blob = rng.integers(0, 256, rng.integers(12, 80)).astype(np.uint8)
        try:
            media_probe.probe_bytes(blob.tobytes())
        except ValueError:
            pass


def test_probe_media_operator_degrades_per_row(spark):
    from pyspark.sql import functions as F

    media = mm.media_table(spark, n_rows=24, partitions=2, real_payloads=True)
    # corrupt one row's payload
    corrupt = media.withColumn(
        "payload",
        F.when(F.col("media_id") == 3, F.lit(b"broken")).otherwise(
            F.col("payload")
        ),
    )
    rows = {r["media_id"]: r for r in mm.probe_media(corrupt).collect()}
    assert len(rows) == 24
    bad = rows[3]
    assert not bad["ok"] and bad["err"] and bad["format"] is None
    for mid, r in rows.items():
        if mid == 3:
            continue
        assert r["ok"], (mid, r["err"])
        assert r["n_bytes"] > 0 and r["format"]
    # spot-check one against ground truth through the operator path
    payload, _ = mm._real_payload(0, "image")
    direct = media_probe.probe_bytes(payload)
    assert rows[0]["width"] == direct["width"]
    assert rows[0]["height"] == direct["height"]


# ---------------------------------------------------------------------------
# probe-only formats: mp3 frame walk, IVF, VP9 uncompressed header
# ---------------------------------------------------------------------------


def _mp3_frame(version_bits, layer, bitrate_idx, samplerate_idx, padding=0):
    """Hand-build one MPEG audio frame (header per ISO 11172-3 §2.4.1.3,
    zeroed payload — the probe never reads past the 4 header bytes)."""
    h = (0x7FF << 21) | (version_bits << 19) | ((4 - layer) << 17) | (1 << 16)
    h |= (bitrate_idx << 12) | (samplerate_idx << 10) | (padding << 9)
    hdr = h.to_bytes(4, "big")
    parsed = media_probe._mp3_frame_header(hdr + b"\x00" * 8000, 0)
    assert parsed is not None
    return hdr + b"\x00" * (parsed[0] - 4)


def test_probe_mp3_cbr_with_id3():
    # MPEG-1 Layer III, 128 kbit/s, 44100 Hz; ID3v2 prefix + ID3v1 suffix
    frames = b"".join(_mp3_frame(3, 3, 9, 0) for _ in range(5))
    id3v2 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100
    id3v1 = b"TAG" + b"\x00" * 125
    p = media_probe.probe_bytes(id3v2 + frames + id3v1)
    assert (p["format"], p["codec"]) == ("mp3", "mp3")
    assert p["sample_rate"] == 44100
    assert p["n_frames"] == 5
    assert p["duration_ms"] == round(5 * 1152 * 1000 / 44100)
    # frame length arithmetic: 144 * 128000 / 44100 = 417 (floored)
    assert len(_mp3_frame(3, 3, 9, 0)) == 417
    assert len(_mp3_frame(3, 3, 9, 0, padding=1)) == 418


def test_probe_mp3_mpeg25_and_vbr():
    # MPEG-2.5 Layer III (8 kHz, 576 samples/frame) — and a VBR stream:
    # mixed bitrate indices must still walk exactly frame-by-frame
    lo = _mp3_frame(0, 3, 1, 2)   # 8 kbit/s @ 8000 Hz
    hi = _mp3_frame(0, 3, 10, 2)  # 96 kbit/s @ 8000 Hz
    p = media_probe.probe_bytes(lo + hi + lo)
    assert p["sample_rate"] == 8000
    assert p["n_frames"] == 3
    assert p["duration_ms"] == round(3 * 576 * 1000 / 8000)


def test_probe_mp3_truncation_and_garbage():
    frames = b"".join(_mp3_frame(3, 3, 9, 0) for _ in range(3))
    # truncated final frame: only complete frames are counted
    p = media_probe.probe_bytes(frames + _mp3_frame(3, 3, 9, 0)[:100])
    assert p["n_frames"] == 3
    # mid-stream sync loss is a typed refusal, not a silent undercount
    with pytest.raises(ValueError):
        media_probe.probe_bytes(frames + b"\x00" * 400 + frames)
    # free-format (bitrate_index 0) refuses loudly
    h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) | (0 << 12)
    with pytest.raises(ValueError):
        media_probe.probe_bytes(h.to_bytes(4, "big") + b"\x00" * 400)


def test_unconfirmed_free_format_sync_is_unrecognized():
    """A non-mp3 payload that opens 0xFF 0xE0-0xFF with bitrate_index 0
    reads as unrecognized media, not as a "free-format mp3": the sniff's
    two-header confirmation decides, not the first header alone."""
    with pytest.raises(ValueError, match="unrecognized media magic"):
        media_probe.probe_bytes(b"\xff\xfb\x00\x00" + b"JUNK" * 100)
    # behind an ID3 tag the payload IS declared mp3: free-format stays loud
    id3v2 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100
    with pytest.raises(ValueError, match="free-format"):
        media_probe.probe_bytes(id3v2 + b"\xff\xfb\x00\x00" + b"\x00" * 400)


class _BitWriter:
    def __init__(self):
        self.bits = []

    def put(self, value, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def bytes(self):
        while len(self.bits) % 8:
            self.bits.append(0)
        return bytes(
            int("".join(map(str, self.bits[i:i + 8])), 2)
            for i in range(0, len(self.bits), 8)
        )


def _vp9_keyframe(width, height, profile=0, bit_depth=8, color_space=1,
                  subsampling=(0, 0), reserved=0):
    """Hand-build a VP9 keyframe uncompressed header (spec §6.2).
    ``subsampling`` is (subsampling_x, subsampling_y), written only for
    profiles 1 and 3 (0 and 2 are always 4:2:0)."""
    w = _BitWriter()
    w.put(2, 2)                      # frame_marker
    w.put(profile & 1, 1)            # profile_low_bit
    w.put(profile >> 1, 1)           # profile_high_bit
    if profile == 3:
        w.put(0, 1)                  # reserved_zero
    w.put(0, 1)                      # show_existing_frame
    w.put(0, 1)                      # frame_type = KEY
    w.put(1, 1)                      # show_frame
    w.put(0, 1)                      # error_resilient_mode
    w.put(0x498342, 24)              # frame_sync_code
    if profile >= 2:
        w.put(1 if bit_depth == 12 else 0, 1)
    w.put(color_space, 3)
    if color_space != 7:
        w.put(0, 1)                  # color_range
        if profile in (1, 3):
            w.put(subsampling[0], 1)  # subsampling_x
            w.put(subsampling[1], 1)  # subsampling_y
            w.put(reserved, 1)        # reserved_zero
    w.put(width - 1, 16)
    w.put(height - 1, 16)
    return w.bytes() + b"\x00" * 32  # probe never reads the tail


def _ivf(fourcc, width, height, frames):
    hdr = (b"DKIF" + (0).to_bytes(2, "little") + (32).to_bytes(2, "little")
           + fourcc + width.to_bytes(2, "little") + height.to_bytes(2, "little")
           + (30).to_bytes(4, "little") + (1).to_bytes(4, "little")
           + len(frames).to_bytes(4, "little") + b"\x00" * 4)
    body = b"".join(
        len(f).to_bytes(4, "little") + (i).to_bytes(8, "little") + f
        for i, f in enumerate(frames)
    )
    return hdr + body


def test_probe_ivf_vp9():
    key = _vp9_keyframe(161, 97)
    # inter frame: marker(2)=2, profile 0, show_existing=0, frame_type=1,
    # show_frame=1, err=0 → bits 10 0 0 0 1 1 0 = 0x86
    inter = b"\x86" + b"\x00" * 16
    p = media_probe.probe_bytes(_ivf(b"VP90", 161, 97, [key, inter, inter, key]))
    assert (p["format"], p["codec"]) == ("ivf", "vp9")
    assert (p["width"], p["height"]) == (161, 97)
    assert p["n_frames"] == 4 and p["n_keyframes"] == 2
    assert p["bit_depth"] == 8
    # profile-2 10-bit keyframe carries its depth
    p10 = media_probe.probe_bytes(
        _ivf(b"VP90", 64, 64, [_vp9_keyframe(64, 64, profile=2, bit_depth=10)])
    )
    assert p10["bit_depth"] == 10
    # header parser agrees with itself at the field level
    fh = media_probe._vp9_frame_header(_vp9_keyframe(320, 240, profile=2,
                                                     bit_depth=12))
    assert (fh["key"], fh["width"], fh["height"], fh["bit_depth"]) == (
        True, 320, 240, 12)


def test_vp9_profile_1_3_subsampling():
    # 4:2:2 and 4:4:0 are legal in profiles 1/3; only the reserved bit
    # after the subsampling pair must be zero
    for profile, depth, sub in [(1, 8, (1, 0)), (1, 8, (0, 1)),
                                (3, 12, (1, 0)), (3, 10, (0, 0))]:
        fh = media_probe._vp9_frame_header(_vp9_keyframe(
            320, 240, profile=profile, bit_depth=depth, subsampling=sub))
        assert (fh["profile"], fh["width"], fh["height"], fh["bit_depth"]) == (
            profile, 320, 240, depth)
    with pytest.raises(ValueError, match="reserved"):
        media_probe._vp9_frame_header(
            _vp9_keyframe(320, 240, profile=1, subsampling=(1, 0), reserved=1))


def test_vp9_bit_depth_from_first_keyframe():
    """mkv V_VP9 and mp4 vp09 without a vpcC box take the bit depth from
    the first keyframe, not frame 0 (here an inter frame, then a
    show-existing frame)."""
    from pdf_parser_spark import mkv_demux, mp4_demux

    inter = b"\x86" + b"\x00" * 16
    show_existing = b"\x88" + b"\x00" * 16
    frames = [inter, show_existing, _vp9_keyframe(64, 48, profile=2, bit_depth=10),
              _vp9_keyframe(64, 48)]
    keys = [False, False, True, True]
    mkv = mkv_demux._mux_mkv(frames, 64, 48, "V_VP9", None, keys, 33, 8, "webm")
    entry = mp4_demux._visual_sample_entry(b"vp09", 64, 48, 24)
    mp4 = mp4_demux._mux_mp4(frames, 64, 48, entry, (30, 1), 8, keys)
    for blob, fmt in [(mkv, "mkv"), (mp4, "mp4")]:
        p = media_probe.probe_bytes(blob)
        assert (p["format"], p["codec"], p["bit_depth"]) == (fmt, "vp9", 10)
    # no keyframe at all: no depth to report
    only_inter = mkv_demux._mux_mkv([inter], 64, 48, "V_VP9", None, [False],
                                    33, 8, "webm")
    assert media_probe.probe_bytes(only_inter)["bit_depth"] is None


def test_probe_ivf_vp8():
    # VP8 frame tag (RFC 6386 §9.1): bit 0 = frame type (0 = keyframe)
    key = b"\x00\x00\x00" + b"\x9d\x01\x2a" + b"\x00" * 16
    inter = b"\x01\x00\x00" + b"\x00" * 16
    p = media_probe.probe_bytes(_ivf(b"VP80", 48, 32, [key, inter, inter]))
    assert (p["format"], p["codec"]) == ("ivf", "vp8")
    assert p["n_frames"] == 3 and p["n_keyframes"] == 1
    with pytest.raises(ValueError):
        media_probe.probe_bytes(_ivf(b"XXXX", 2, 2, [b"\x00"]))
