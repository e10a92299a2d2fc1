"""Header-level media probe: codec identification WITHOUT pixel decode.

The triage stage a 100 TB crawl runs before any expensive work: walk the
container/header bytes of a payload and report what it is — format,
codec, dimensions, frame count, duration, sample rate, bit depth,
keyframes — in microseconds per row instead of the milliseconds-to-
seconds a full decode costs. Every parser here is a *light* walk of the
same public formats the full codecs implement (magic bytes, fixed
headers, length-prefixed chunk/box/segment skips); none touches
entropy-coded data and none needs a native library, so the probe runs on
ANY payload the engine can name, including ones whose bitstream decode
is gated (h264/vp9 mp4 tracks still probe fine — that is the point:
classification is cheaper than, and independent of, reconstruction).

``probe_bytes`` raises ValueError on unknown/malformed input; the Spark
operator (operators/multimodal.probe_media) catches per row and reports
``ok=False`` with the error, so one adversarial payload can never kill a
task — the same degrade-per-row contract as the decoders.

These are PARSERS, not a DataFrame API: operators/multimodal.py calls
them inside its Arrow-batched mapInPandas stages.
"""

from __future__ import annotations

import io
import re
import struct
import wave

from pdf_parser_spark.media_codecs import format_boundary, parse_y4m

__all__ = ["probe_bytes", "sniff"]

_EMPTY = {
    "format": None, "codec": None, "width": None, "height": None,
    "n_frames": None, "duration_ms": None, "sample_rate": None,
    "bit_depth": None, "n_keyframes": None,
}


def _out(**kw) -> dict:
    d = dict(_EMPTY)
    d.update(kw)
    return d


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------


def _probe_png(data: bytes) -> dict:
    if data[12:16] != b"IHDR":
        raise ValueError("PNG without leading IHDR")
    w, h = struct.unpack_from(">II", data, 16)
    depth, color = data[24], data[25]
    return _out(
        format="png", codec="png", width=w, height=h, n_frames=1,
        bit_depth=depth,
        # color types 0/2/3/4/6 → gray/rgb/palette/gray+a/rgba
        n_keyframes=1,
    )


def _probe_jpeg(data: bytes) -> dict:
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG marker sync lost at {pos}")
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        length = struct.unpack_from(">H", data, pos + 2)[0]
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):  # SOF0-3
            precision = data[pos + 4]
            h, w = struct.unpack_from(">HH", data, pos + 5)
            return _out(
                format="jpeg",
                codec="progressive" if marker == 0xC2 else "baseline",
                width=w, height=h, n_frames=1, bit_depth=precision,
                n_keyframes=1,
            )
        pos += 2 + length
    raise ValueError("JPEG without a SOF marker")


def _probe_gif(data: bytes) -> dict:
    w, h, flags, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    if flags & 0x80:
        pos += 3 * (2 << (flags & 0x07))  # global color table

    def skip_subblocks(p: int) -> int:
        while p < len(data) and data[p]:
            p += 1 + data[p]
        return p + 1

    frames = 0
    duration_cs = 0
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[pos + 1]
            if label == 0xF9 and data[pos + 2] >= 4:  # graphic control
                duration_cs += struct.unpack_from("<H", data, pos + 4)[0]
            pos = skip_subblocks(pos + 2)
        elif b == 0x2C:  # image descriptor
            lflags = data[pos + 9]
            pos += 10
            if lflags & 0x80:
                pos += 3 * (2 << (lflags & 0x07))
            pos = skip_subblocks(pos + 1)  # +1: LZW minimum code size
            frames += 1
        else:
            raise ValueError(f"GIF: unknown block {b:#04x}")
    if not frames:
        raise ValueError("GIF without image data")
    return _out(
        format="gif", codec="lzw", width=w, height=h, n_frames=frames,
        duration_ms=duration_cs * 10 if frames > 1 else None,
        bit_depth=8, n_keyframes=frames,
    )


def _probe_webp(data: bytes) -> dict:
    pos = 12
    out = _out(format="webp", bit_depth=8)
    frames = 0
    duration = 0
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = pos + 8
        if tag == b"VP8X":
            out["width"] = 1 + int.from_bytes(data[body + 4:body + 7], "little")
            out["height"] = 1 + int.from_bytes(data[body + 7:body + 10], "little")
        elif tag == b"VP8 " and out["codec"] is None:
            # key-frame header: 3-byte frame tag, start code 9d 01 2a,
            # then 14-bit width/height
            if data[body + 3:body + 6] != b"\x9d\x01\x2a":
                raise ValueError("WebP VP8 chunk without key-frame start code")
            w = struct.unpack_from("<H", data, body + 6)[0] & 0x3FFF
            h = struct.unpack_from("<H", data, body + 8)[0] & 0x3FFF
            out["codec"] = "vp8"
            if out["width"] is None:  # no VP8X canvas seen
                out["width"], out["height"] = w, h
        elif tag == b"VP8L" and out["codec"] is None:
            if data[body] != 0x2F:
                raise ValueError("WebP VP8L chunk without signature byte")
            bits = int.from_bytes(data[body + 1:body + 5], "little")
            out["codec"] = "vp8l"
            if out["width"] is None:
                out["width"] = (bits & 0x3FFF) + 1
                out["height"] = ((bits >> 14) & 0x3FFF) + 1
        elif tag == b"ANMF":
            frames += 1
            duration += int.from_bytes(data[body + 12:body + 15], "little")
        pos = body + size + (size & 1)
    if out["codec"] is None and not frames:
        raise ValueError("WebP without an image chunk")
    out["n_frames"] = frames or 1
    out["n_keyframes"] = frames or 1
    if frames > 1:
        out["duration_ms"] = duration
    if out["codec"] is None:
        out["codec"] = "anim"
    return out


def _probe_bmp(data: bytes) -> dict:
    dib = struct.unpack_from("<I", data, 14)[0]
    if dib == 12:  # BITMAPCOREHEADER
        w, h = struct.unpack_from("<HH", data, 18)
        bits = struct.unpack_from("<H", data, 24)[0]
    else:
        w, h = struct.unpack_from("<ii", data, 18)
        bits = struct.unpack_from("<H", data, 28)[0]
        h = abs(h)
    return _out(
        format="bmp", codec="bmp", width=w, height=h, n_frames=1,
        bit_depth=bits, n_keyframes=1,
    )


def _probe_ico(data: bytes) -> dict:
    n = struct.unpack_from("<H", data, 4)[0]
    if not n:
        raise ValueError("ICO with zero entries")
    best = (0, 0)
    for i in range(n):
        off = 6 + 16 * i
        w = data[off] or 256
        h = data[off + 1] or 256
        if w * h > best[0] * best[1]:
            best = (w, h)
    return _out(
        format="ico", codec="ico", width=best[0], height=best[1],
        n_frames=n, bit_depth=8, n_keyframes=n,
    )


def _probe_tiff(data: bytes) -> dict:
    bo = "<" if data[:2] == b"II" else ">"
    ifd = struct.unpack_from(bo + "I", data, 4)[0]
    n = struct.unpack_from(bo + "H", data, ifd)[0]
    w = h = None
    bits = None
    for i in range(n):
        tag, typ, count = struct.unpack_from(bo + "HHI", data, ifd + 2 + 12 * i)
        voff = ifd + 2 + 12 * i + 8
        if typ == 3:  # SHORT (inlined)
            val = struct.unpack_from(bo + "H", data, voff)[0]
        elif typ == 4:
            val = struct.unpack_from(bo + "I", data, voff)[0]
        else:
            continue
        if tag == 256:
            w = val
        elif tag == 257:
            h = val
        elif tag == 258:
            # count > 1 means the value is an offset; per-channel bits are
            # equal in baseline TIFF, read the first
            bits = (
                struct.unpack_from(bo + "H", data, val)[0] if count > 1 else val
            )
    if w is None or h is None:
        raise ValueError("TIFF without ImageWidth/ImageLength")
    return _out(
        format="tiff", codec="tiff", width=w, height=h, n_frames=1,
        bit_depth=bits or 8, n_keyframes=1,
    )


def _probe_avif(data: bytes) -> dict:
    from pdf_parser_spark import avif_codec

    info = avif_codec.parse_avif(data)
    seq = info["seq"] or {}
    return _out(
        format="avif", codec="av1", width=info["width"], height=info["height"],
        n_frames=1, bit_depth=seq.get("bit_depth"), n_keyframes=1,
    )


def _probe_heic(data: bytes) -> dict:
    from pdf_parser_spark import heif_codec

    info = heif_codec.parse_heic(data)
    hv = info["hvcc"] or {}
    return _out(
        format="heic", codec="hevc", width=info["width"],
        height=info["height"], n_frames=1,
        bit_depth=hv.get("bit_depth_luma"), n_keyframes=1,
    )


# ---------------------------------------------------------------------------
# audio
# ---------------------------------------------------------------------------


def _probe_wav(data: bytes) -> dict:
    with wave.open(io.BytesIO(data), "rb") as fh:
        rate = fh.getframerate()
        n = fh.getnframes()
        return _out(
            format="wav", codec="pcm", sample_rate=rate,
            n_frames=n, duration_ms=n * 1000 // max(1, rate),
            bit_depth=8 * fh.getsampwidth(),
        )


def _probe_flac(data: bytes) -> dict:
    # first metadata block must be STREAMINFO (34 bytes)
    btype = data[4] & 0x7F
    if btype != 0:
        raise ValueError("FLAC without leading STREAMINFO")
    si = data[8:42]
    rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
    # bits-per-sample-1 is 5 bits: low bit of si[12], then high 4 of si[13]
    bits = (((si[12] & 0x01) << 4) | (si[13] >> 4)) + 1
    total = ((si[13] & 0x0F) << 32) | int.from_bytes(si[14:18], "big")
    return _out(
        format="flac", codec="flac", sample_rate=rate, n_frames=total,
        duration_ms=total * 1000 // max(1, rate), bit_depth=bits,
    )


# ---------------------------------------------------------------------------
# video
# ---------------------------------------------------------------------------


def _probe_y4m(data: bytes) -> dict:
    y4m = parse_y4m(data)
    frames = len(y4m.offsets)
    num, den = y4m.fps
    return _out(
        format="y4m", codec="raw", width=y4m.width, height=y4m.height,
        n_frames=frames, duration_ms=frames * 1000 * den // max(1, num),
        bit_depth=8, n_keyframes=frames,
    )


def _probe_mp4(data: bytes) -> dict:
    from pdf_parser_spark import av1_codec, mp4_demux

    track = mp4_demux.demux_mp4(data)
    codec = track.codec.strip()
    bit_depth = 8 if codec in ("raw", "av01") else None
    if codec == "vp09":
        codec = "vp9"
        if track.codec_config and len(track.codec_config) >= 7:
            # vpcC VPCodecConfigurationRecord: FullBox(4) then profile u8,
            # level u8, bitDepth(4)|chromaSubsampling(3)|videoFullRange(1)
            bit_depth = track.codec_config[6] >> 4
        else:
            bit_depth = _vp9_keyframe_bit_depth(
                data[s.offset:s.offset + s.size] for s in track.samples
            )
    if codec == "av01" and track.codec_config:
        cfg = av1_codec.parse_av1c(track.codec_config)
        seq = (
            av1_codec.find_sequence_header(cfg["config_obus"])
            if cfg["config_obus"] else None
        )
        if seq:
            bit_depth = seq["bit_depth"]
        codec = "av1"
    last = track.samples[-1].ts_ms if track.samples else 0
    return _out(
        format="mp4", codec=codec, width=track.width, height=track.height,
        n_frames=len(track.samples), duration_ms=last,
        n_keyframes=sum(1 for s in track.samples if s.is_sync),
        bit_depth=bit_depth,
    )


def _probe_mkv(data: bytes) -> dict:
    from pdf_parser_spark import av1_codec, mkv_demux

    track = mkv_demux.demux_mkv(data)
    codec = track.codec
    bit_depth = 8 if codec in ("V_UNCOMPRESSED", "V_AV1") else None
    if codec == "V_AV1" and track.codec_private:
        cfg = av1_codec.parse_av1c(track.codec_private)
        seq = (
            av1_codec.find_sequence_header(cfg["config_obus"])
            if cfg["config_obus"] else None
        )
        if seq:
            bit_depth = seq["bit_depth"]
    if codec == "V_VP9":
        bit_depth = _vp9_keyframe_bit_depth(
            data[f.offset:f.offset + f.size] for f in track.frames
        )
    name = {
        "V_UNCOMPRESSED": "raw", "V_AV1": "av1", "V_VP9": "vp9",
        "V_VP8": "vp8", "V_MPEG4/ISO/AVC": "h264", "V_MPEGH/ISO/HEVC": "h265",
    }.get(codec, codec)
    last = track.frames[-1].ts_ms if track.frames else 0
    return _out(
        format="mkv", codec=name, width=track.width, height=track.height,
        n_frames=len(track.frames), duration_ms=last,
        n_keyframes=sum(1 for f in track.frames if f.is_key),
        bit_depth=bit_depth,
    )


def _probe_av1_stream(data: bytes) -> dict:
    from pdf_parser_spark import av1_codec

    seq = av1_codec.find_sequence_header(data)
    if seq is None:
        raise ValueError("AV1 stream without a sequence header")
    fts = av1_codec.frame_types(data)
    shown = [f for f in fts if f["show_frame"]]
    return _out(
        format="av1-obu", codec="av1", width=seq["max_width"],
        height=seq["max_height"], n_frames=len(shown),
        bit_depth=seq["bit_depth"],
        n_keyframes=sum(1 for f in fts if f["key"]),
    )


# ---------------------------------------------------------------------------
# mp3 / ivf / vp9 headers — probe-only formats (no decoder in this engine)
# ---------------------------------------------------------------------------

# ISO/IEC 11172-3 §2.4.2.3 (MPEG-1) and ISO/IEC 13818-3 (MPEG-2 / the
# de-facto MPEG-2.5 extension) frame-header tables. Index = the 4-bit
# bitrate_index field; values in kbit/s; index 0 is "free format" (refused
# loudly below), index 15 is forbidden.
_MP3_BITRATE = {
    # (version_group, layer) → table; version_group: 1 = MPEG-1, 2 = MPEG-2/2.5
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_SAMPLERATE = {  # version_bits (header bits 19-20) → table
    3: [44100, 48000, 32000],   # MPEG-1
    2: [22050, 24000, 16000],   # MPEG-2
    0: [11025, 12000, 8000],    # MPEG-2.5
}


def _mp3_frame_header(b: bytes, off: int) -> tuple[int, int, int] | None:
    """Parse one MPEG audio frame header at ``off``.

    Returns (frame_length_bytes, samples_per_frame, sample_rate) or None
    if the 4 bytes are not a valid header. Raises ValueError for
    free-format frames (bitrate_index 0: the frame length is not derivable
    from the header — a declared probe gate, not a silent guess)."""
    if off + 4 > len(b):
        return None
    h = int.from_bytes(b[off:off + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    version_bits = (h >> 19) & 3          # 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    layer_bits = (h >> 17) & 3            # 0=reserved, 1=III, 2=II, 3=I
    if version_bits == 1 or layer_bits == 0:
        return None
    layer = 4 - layer_bits                # 1/2/3
    bitrate_idx = (h >> 12) & 0xF
    samplerate_idx = (h >> 10) & 3
    if bitrate_idx == 15 or samplerate_idx == 3:
        return None
    if bitrate_idx == 0:
        raise ValueError("free-format mp3 (bitrate_index 0): frame size "
                         "not derivable from the header")
    vgroup = 1 if version_bits == 3 else 2
    bitrate = _MP3_BITRATE[(vgroup, layer)][bitrate_idx] * 1000
    sample_rate = _MP3_SAMPLERATE[version_bits][samplerate_idx]
    padding = (h >> 9) & 1
    if layer == 1:
        frame_len = (12 * bitrate // sample_rate + padding) * 4
        spf = 384
    else:
        spf = 1152 if (layer == 2 or vgroup == 1) else 576
        frame_len = spf // 8 * bitrate // sample_rate + padding
    return frame_len, spf, sample_rate


def _probe_mp3(data: bytes) -> dict:
    """MPEG audio (mp3) probe: ID3v2 skip + full frame-header walk.

    Frame lengths are derived from each header's bitrate/samplerate
    fields, so VBR streams get exact frame counts and durations without
    relying on a Xing/VBRI header. The sample DECODE stays a declared
    gate (no decoder, no in-container oracle); this walk never touches
    the entropy-coded payload — the same header-only contract as the
    rest of this module."""
    off = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = 0
        for byte in data[6:10]:  # syncsafe u28
            if byte & 0x80:
                raise ValueError("mp3: non-syncsafe ID3v2 size")
            size = (size << 7) | byte
        off = 10 + size + (10 if data[5] & 0x10 else 0)  # footer flag
    n_frames = 0
    total_samples = 0
    sample_rate = None
    while off < len(data):
        if data[off:off + 3] == b"TAG" and len(data) - off == 128:
            break  # trailing ID3v1 tag
        parsed = _mp3_frame_header(data, off)
        if parsed is None:
            if n_frames == 0:
                raise ValueError("mp3: no frame sync where a frame was expected")
            if len(data) - off < 4:
                break  # sub-header trailing bytes
            raise ValueError(f"mp3: lost frame sync at offset {off}")
        frame_len, spf, rate = parsed
        if off + frame_len > len(data):
            break  # truncated final frame: count only complete frames
        if sample_rate is None:
            sample_rate = rate
        n_frames += 1
        total_samples += spf
        off += frame_len
    if n_frames == 0:
        raise ValueError("mp3: no complete audio frame")
    return _out(
        format="mp3", codec="mp3", n_frames=n_frames,
        sample_rate=sample_rate,
        duration_ms=int(round(total_samples * 1000 / sample_rate)),
    )


def _vp9_frame_header(b: bytes) -> dict:
    """VP9 uncompressed frame header (VP9 Bitstream & Decoding Process
    Specification §6.2) — the few fixed-position fields ahead of the
    compressed header. Never touches the arithmetic-coded payload.

    Returns {key, show, profile, bit_depth, width, height}; width/height
    (and bit_depth for inter frames) are None when the header does not
    carry them (inter frames repeat reference dimensions)."""
    bitpos = 0

    def bits(n: int) -> int:
        nonlocal bitpos
        v = 0
        for _ in range(n):
            byte = b[bitpos >> 3]
            v = (v << 1) | ((byte >> (7 - (bitpos & 7))) & 1)
            bitpos += 1
        return v

    if bits(2) != 2:
        raise ValueError("vp9: bad frame_marker")
    profile = bits(1) | (bits(1) << 1)
    if profile == 3 and bits(1):
        raise ValueError("vp9: reserved profile bit set")
    if bits(1):  # show_existing_frame
        return {"key": False, "show": True, "profile": profile,
                "bit_depth": None, "width": None, "height": None}
    key = bits(1) == 0
    show = bits(1) == 1
    bits(1)  # error_resilient_mode
    if not key:
        return {"key": False, "show": show, "profile": profile,
                "bit_depth": None, "width": None, "height": None}
    if bits(24) != 0x498342:
        raise ValueError("vp9: bad frame_sync_code")
    bit_depth = 8
    if profile >= 2:
        bit_depth = 12 if bits(1) else 10
    color_space = bits(3)
    if color_space != 7:  # CS_RGB
        bits(1)  # color_range
        if profile in (1, 3):
            bits(2)  # subsampling_x, subsampling_y (4:4:4, 4:2:2, 4:4:0)
            if bits(1):
                raise ValueError("vp9: reserved bit after subsampling")
    else:
        if profile in (1, 3) and bits(1):
            raise ValueError("vp9: reserved bit after CS_RGB")
    width = bits(16) + 1
    height = bits(16) + 1
    return {"key": True, "show": show, "profile": profile,
            "bit_depth": bit_depth, "width": width, "height": height}


def _vp9_keyframe_bit_depth(frames) -> int | None:
    """Bit depth from the first keyframe header among ``frames`` (payload
    bytes in stream order); inter and show-existing frames carry none."""
    for frame in frames:
        fh = _vp9_frame_header(frame)
        if fh["key"]:
            return fh["bit_depth"]
    return None


def _probe_ivf(data: bytes) -> dict:
    """IVF (the raw VP8/VP9/AV1 stream container: 32-byte header +
    length-prefixed frames). Dimensions come from the header; keyframe
    detection per codec from each frame's first bytes (VP8: keyframe bit
    in the frame tag, RFC 6386 §9.1; VP9: uncompressed header above; AV1:
    the OBU frame-type walk)."""
    if len(data) < 32:
        raise ValueError("ivf: truncated header")
    hdr_len = int.from_bytes(data[6:8], "little")
    fourcc = data[8:12]
    width = int.from_bytes(data[12:14], "little")
    height = int.from_bytes(data[14:16], "little")
    codec = {b"VP80": "vp8", b"VP90": "vp9", b"AV01": "av1"}.get(fourcc)
    if codec is None:
        raise ValueError(f"ivf: unknown fourcc {fourcc!r}")
    off = hdr_len
    n_frames = 0
    n_key = 0
    bit_depth = 8 if codec != "av1" else None
    while off + 12 <= len(data):
        size = int.from_bytes(data[off:off + 4], "little")
        frame = data[off + 12:off + 12 + size]
        if len(frame) < size:
            raise ValueError("ivf: truncated frame payload")
        n_frames += 1
        if codec == "vp8":
            if frame and not frame[0] & 1:
                n_key += 1
        elif codec == "vp9":
            fh = _vp9_frame_header(frame)
            if fh["key"]:
                n_key += 1
                bit_depth = fh["bit_depth"]
        else:
            from pdf_parser_spark import av1_codec

            fts = av1_codec.frame_types(frame)
            if any(f["key"] for f in fts):
                n_key += 1
            if bit_depth is None:
                seq = av1_codec.find_sequence_header(frame)
                if seq:
                    bit_depth = seq["bit_depth"]
        off += 12 + size
    return _out(
        format="ivf", codec=codec, width=width, height=height,
        n_frames=n_frames, n_keyframes=n_key, bit_depth=bit_depth,
    )


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

# Format names by leading bytes, tried in this order (the first match
# wins). An ISO BMFF ``ftyp`` is split into avif / heic / mp4 by its
# brands; bare mp3 frame sync has no magic and is tried last.
_MAGIC = re.compile(
    b"|".join(b"(?P<%s>%s)" % (name, pattern) for name, pattern in (
        (b"png", rb"\x89PNG\r\n\x1a\n"),
        (b"jpeg", rb"\xff\xd8"),
        (b"gif", rb"GIF8[79]a"),
        (b"webp", rb"RIFF....WEBP"),
        (b"wav", rb"RIFF....WAVE"),
        (b"bmp", rb"BM"),
        (b"ico", rb"\x00\x00[\x01\x02]\x00"),
        (b"tiff", rb"II\x2a\x00|MM\x00\x2a"),
        (b"flac", rb"fLaC"),
        (b"y4m", rb"YUV4MPEG2"),
        (b"mp4", rb"....ftyp"),
        (b"mkv", rb"\x1a\x45\xdf\xa3"),
        (b"ivf", rb"DKIF"),
        # low-overhead AV1 OBU stream: a TD or sequence header first
        (b"av1", rb"[\x12\x0a]"),
        (b"mp3", rb"ID3"),
    )),
    re.DOTALL,
)


def sniff(data: bytes) -> str:
    """The format name of a media payload, from its leading bytes alone:
    png, jpeg, gif, webp, wav, bmp, ico, tiff, flac, y4m, avif, heic, mp4,
    mkv, ivf, av1 or mp3. Raises ValueError for a payload under 12 bytes
    or with no known magic. The one magic-byte table of the engine:
    probe_bytes and the multimodal decoders dispatch on its name."""
    if len(data) < 12:
        raise ValueError("payload too short to identify")
    m = _MAGIC.match(data)
    if m is None:
        if _is_bare_mp3(data):
            return "mp3"
        raise ValueError(f"unrecognized media magic {data[:8]!r}")
    if m.lastgroup == "mp4":
        from pdf_parser_spark import avif_codec, heif_codec

        if avif_codec.is_avif(data):
            return "avif"
        if heif_codec.is_heic(data):
            return "heic"
    return m.lastgroup


def _is_bare_mp3(data: bytes) -> bool:
    """Bare mp3 sync is promiscuous (11 set bits): only a header whose own
    frame length lands exactly on a second valid header counts. Free-format
    bits (bitrate_index 0) in an unconfirmed sync are no evidence of mp3
    either: such a payload is unrecognized, not a "free-format mp3"."""
    try:
        first = _mp3_frame_header(data, 0)
        return first is not None and _mp3_frame_header(data, first[0]) is not None
    except ValueError:
        return False


_PROBES = {
    "png": _probe_png, "jpeg": _probe_jpeg, "gif": _probe_gif,
    "webp": _probe_webp, "wav": _probe_wav, "bmp": _probe_bmp,
    "ico": _probe_ico, "tiff": _probe_tiff, "flac": _probe_flac,
    "y4m": _probe_y4m, "avif": _probe_avif, "heic": _probe_heic,
    "mp4": _probe_mp4, "mkv": _probe_mkv, "ivf": _probe_ivf,
    "av1": _probe_av1_stream, "mp3": _probe_mp3,
}


@format_boundary("media payload")
def probe_bytes(data: bytes) -> dict:
    """Identify a media payload from its header bytes alone.

    Returns {format, codec, width, height, n_frames, duration_ms,
    sample_rate, bit_depth, n_keyframes} (absent fields None); ``format``
    is the sniff name, except "av1-obu" for a bare AV1 stream. Raises
    ValueError for unknown or malformed payloads — never decodes pixels
    or samples, so gated-bitstream payloads (h264/vp9 tracks) still
    probe."""
    return _PROBES[sniff(data)](data)
