"""From-scratch stdlib media codecs: PNG (image) and WAV/PCM (audio).

The container has no imaging/audio libraries (no PIL, no soundfile, no
ffmpeg), which previously left operators/multimodal.py's real-decode branch
permanently env-gated. PNG and WAV are both fully decodable with the
standard library alone — PNG is zlib (stdlib) + per-scanline byte filters
(ISO/IEC 15948 / RFC 2083, public spec), WAV is a RIFF header + raw PCM
(public Microsoft/IBM spec, readable via the stdlib ``wave`` module) — so
these codecs are implemented here from the specs and the multimodal
operators run their REAL branch for image/audio payloads. Video:
YUV4MPEG2 (.y4m, the mjpegtools raw interchange format — a text header
plus raw planar frames) is implemented below; the mp4 and mkv/webm
CONTAINERS are demuxed from scratch too (mp4_demux.py, mkv_demux.py), and
decode_track below turns either demuxed track's raw-RGB or AV1 samples
into frames — only compressed video bitstreams (h264/vp9) stay gated, at
the codec layer, after a real demux.

Scope (everything the synthetic corpus and tests produce, plus the common
real-world cases): 8-bit depth, color types 0 (grayscale), 2 (RGB),
4 (gray+alpha), 6 (RGBA); all five scanline filters on decode; encode
always writes filter 0. No interlacing (Adam7 raises), no palette, no
16-bit — each raises a clear error rather than mis-decoding.

These are CODECS, not a DataFrame API: operators/multimodal.py calls them
inside its Arrow-batched mapInPandas stages.
"""

from __future__ import annotations

import functools
import io
import itertools
import struct
import wave
import zlib
from typing import NamedTuple

import numpy as np


def format_boundary(fmt: str, exc_cls=ValueError):
    """Decorator for public DECODE entry points: any internal failure on
    malformed bytes (struct underruns, index walks off a table, zlib
    errors, division by a zero field...) surfaces as the codec's typed
    error instead of an accidental exception class. A 100 TB crawl feeds
    decoders adversarial bytes; callers must get ONE exception family.
    """
    internal = (
        struct.error,
        IndexError,
        KeyError,
        ZeroDivisionError,
        OverflowError,
        zlib.error,
        EOFError,
        UnicodeDecodeError,
        wave.Error,
        RuntimeError,  # stdlib wave raises a bare RuntimeError on bad seeks
    )

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except (exc_cls, NotImplementedError):
                raise
            except internal as exc:
                raise exc_cls(
                    f"malformed {fmt}: {type(exc).__name__}: {exc}"
                ) from exc

        return wrapper

    return deco

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(arr: "np.ndarray") -> bytes:
    """8-bit PNG bytes from an (H, W) gray or (H, W, {2,3,4}) array.

    Filter 0 (None) on every scanline — simplest valid stream; zlib does
    the compression. Output round-trips bit-exactly through decode_png.
    """
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 2, 3, 4):
        raise ValueError(f"unsupported array shape for PNG: {arr.shape}")
    h, w, ch = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: bytes, h: int, w: int, ch: int) -> "np.ndarray":
    """Reverse the PNG scanline filters → (H, W, ch) uint8.

    Filters None(0)/Up(2) reconstruct as whole-row numpy ops; Sub(1),
    Average(3) and Paeth(4) have a left-neighbour data dependency, so those
    rows fall back to a per-byte loop (spec-exact; rows are short relative
    to decode cost, and the in-repo encoder emits only filter 0).
    """
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos:pos + stride], dtype=np.uint8).copy()
        pos += stride
        if ftype == 0:
            rec = line
        elif ftype == 2:  # Up
            rec = line + prev
        elif ftype in (1, 3, 4):
            rec = line
            li = rec.astype(np.int32)
            for x in range(stride):
                a = int(rec[x - ch]) if x >= ch else 0
                b = int(prev[x])
                if ftype == 1:  # Sub
                    li[x] = (li[x] + a) & 0xFF
                elif ftype == 3:  # Average
                    li[x] = (li[x] + (a + b) // 2) & 0xFF
                else:  # Paeth
                    c = int(prev[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    li[x] = (li[x] + pred) & 0xFF
                rec[x] = li[x]
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = rec
        prev = rec
    return out.reshape(h, w, ch)


@format_boundary("PNG")
def decode_png(data: bytes) -> "np.ndarray":
    """(H, W, channels) uint8 from 8-bit non-interlaced PNG bytes."""
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth} (only 8)")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    raw = zlib.decompress(b"".join(idat))
    return _unfilter(raw, h, w, _CHANNELS[color_type])


def encode_wav(samples: "np.ndarray", sample_rate: int = 16000) -> bytes:
    """16-bit PCM WAV bytes from an (N,) or (N, channels) int16 array."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2:
        raise ValueError(f"unsupported sample shape for WAV: {samples.shape}")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as fh:
        fh.setnchannels(s.shape[1])
        fh.setsampwidth(2)
        fh.setframerate(sample_rate)
        fh.writeframes(s.tobytes())
    return buf.getvalue()


@format_boundary("WAV")
def decode_wav(data: bytes) -> tuple["np.ndarray", int]:
    """((N, channels) int16 samples, sample_rate) from 16-bit PCM WAV."""
    if not data.startswith(b"RIFF"):
        raise ValueError("not a WAV (bad RIFF signature)")
    with wave.open(io.BytesIO(data), "rb") as fh:
        if fh.getsampwidth() != 2:
            raise ValueError(
                f"unsupported WAV sample width {fh.getsampwidth()} (only 16-bit)"
            )
        n = fh.getnframes()
        frames = fh.readframes(n)
        arr = np.frombuffer(frames, dtype=np.int16).reshape(n, fh.getnchannels())
        return arr, fh.getframerate()


_Y4M_SIG = b"YUV4MPEG2"


def encode_y4m(frames: "np.ndarray", fps: tuple[int, int] = (25, 1),
               colorspace: str = "C444") -> bytes:
    """YUV4MPEG2 stream from (n_frames, h, w, 3) uint8 YUV frames.

    Y4M (the mjpegtools interchange format, public spec) is the one video
    format that needs NO demuxer: a text header, then raw planar frames
    each preceded by a FRAME marker — so the multimodal video branch can
    run REAL decode in this container, like PNG/WAV do for image/audio.
    C444 writes full-resolution planes; C420jpeg subsamples chroma 2x2 by
    plain block averaging (h and w must be even).
    """
    f = np.asarray(frames)
    if f.ndim != 4 or f.shape[3] != 3 or f.dtype != np.uint8:
        raise ValueError("frames must be (n, h, w, 3) uint8")
    n, h, w, _ = f.shape
    if colorspace not in ("C444", "C420jpeg"):
        raise ValueError(f"unsupported colorspace {colorspace}")
    out = [b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 %s\n"
           % (w, h, fps[0], fps[1], colorspace.encode())]
    for i in range(n):
        out.append(b"FRAME\n")
        y, u, v = f[i, :, :, 0], f[i, :, :, 1], f[i, :, :, 2]
        if colorspace == "C444":
            out += [y.tobytes(), u.tobytes(), v.tobytes()]
        else:
            if h % 2 or w % 2:
                raise ValueError("C420 needs even dimensions")
            def sub(p):
                q = p.reshape(h // 2, 2, w // 2, 2).astype(np.uint16)
                return (q.sum(axis=(1, 3)) // 4).astype(np.uint8)
            out += [y.tobytes(), sub(u).tobytes(), sub(v).tobytes()]
    return b"".join(out)


class Y4mLayout(NamedTuple):
    width: int
    height: int
    colorspace: str
    fps: tuple[int, int]
    frame_bytes: int
    offsets: tuple  # body offset of each frame, in stream order


def parse_y4m(data: bytes) -> Y4mLayout:
    """The stream header and the FRAME walk of a YUV4MPEG2 stream.

    The one place the Y4M layout is read: decode_y4m and the header
    probe (media_probe) both start here. C444 and the C420 family
    (C420 / C420jpeg / C420mpeg2 / C420paldv share the plane layout);
    parameters after a FRAME marker are skipped. Odd C420 dimensions and a
    truncated last frame are left to the decoder, so a probe still counts
    such frames.
    """
    if not data.startswith(_Y4M_SIG):
        raise ValueError("not a Y4M stream (bad signature)")
    nl = data.index(b"\n")
    w = h = None
    fps = (25, 1)
    cs = "C420jpeg"  # the spec's default when no C tag is present
    for p in data[len(_Y4M_SIG):nl].split():
        if p[:1] == b"W":
            w = int(p[1:])
        elif p[:1] == b"H":
            h = int(p[1:])
        elif p[:1] == b"F":
            num, den = p[1:].split(b":")
            fps = (int(num), int(den))
        elif p[:1] == b"C":
            cs = p.decode()
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if cs == "C444":
        frame_bytes = 3 * w * h
    elif cs.startswith("C420"):
        frame_bytes = w * h + 2 * ((w // 2) * (h // 2))
    else:
        raise ValueError(f"unsupported Y4M colorspace {cs}")
    offsets = []
    pos = nl + 1
    while pos < len(data):
        if data[pos:pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at offset {pos}")
        pos = data.index(b"\n", pos) + 1
        offsets.append(pos)
        pos += frame_bytes
    return Y4mLayout(w, h, cs, fps, frame_bytes, tuple(offsets))


def _picks(indices, n: int):
    """Frame numbers to decode out of ``n``: all of them for None, else
    the ascending, non-negative ``indices`` up to the last frame (so
    ``range(k)`` asks for at most the first k frames)."""
    if indices is None:
        return range(n)
    return list(itertools.takewhile(lambda i: i < n, indices))


def _stack(frames: list, h: int, w: int) -> "np.ndarray":
    return np.stack(frames) if frames else np.zeros((0, h, w, 3), np.uint8)


@format_boundary("Y4M")
def decode_y4m(data: bytes, indices=None) -> "np.ndarray":
    """(n_frames, h, w, 3) uint8 YUV frames from a YUV4MPEG2 stream.

    4:2:0 chroma is upsampled 2x2 nearest-neighbor back to full
    resolution. ``indices`` picks the frames to decode (None: all of
    them; ascending, numbers past the last frame are skipped). Raises on
    odd C420 dimensions and on a truncated frame it is asked to decode,
    rather than mis-decoding.
    """
    y4m = parse_y4m(data)
    w, h = y4m.width, y4m.height
    if y4m.colorspace == "C444":
        plane_c = h * w
    elif h % 2 or w % 2:
        raise ValueError("C420 stream with odd dimensions")
    else:
        plane_c = (h // 2) * (w // 2)
    plane_y = h * w
    frames = []
    for i in _picks(indices, len(y4m.offsets)):
        pos = y4m.offsets[i]
        if pos + y4m.frame_bytes > len(data):
            raise ValueError("truncated Y4M frame")
        y = np.frombuffer(data, np.uint8, plane_y, pos).reshape(h, w)
        u = np.frombuffer(data, np.uint8, plane_c, pos + plane_y)
        v = np.frombuffer(data, np.uint8, plane_c, pos + plane_y + plane_c)
        if y4m.colorspace == "C444":
            u, v = u.reshape(h, w), v.reshape(h, w)
        else:
            u = u.reshape(h // 2, w // 2).repeat(2, 0).repeat(2, 1)
            v = v.reshape(h // 2, w // 2).repeat(2, 0).repeat(2, 1)
        frames.append(np.stack([y, u, v], axis=2))
    return _stack(frames, h, w)


def decode_track(data: bytes, container: str, codec: str, width: int,
                 height: int, samples: list, av1c: bytes | None,
                 indices=None) -> "np.ndarray":
    """(n_frames, h, w, 3) uint8 frames of one demuxed video track.

    The sample decoder mp4_demux and mkv_demux share. ``samples`` lists
    each frame's (offset, size, is_key) in ``data``; ``codec`` is "raw"
    (each sample is h*w*3 RGB bytes) or "av1" (each sample is one temporal
    unit carried without its TD OBU, as the AV1-ISOBMFF and Matroska
    bindings store it, with the sequence header in the ``av1c`` record;
    frames come back as YUV, see av1_codec.decode_av1). ``indices`` picks
    the frames to decode (None: all; ascending, numbers past the last
    frame are skipped); an AV1 frame then decodes from the nearest
    preceding key frame through itself, so unrequested samples stay
    untouched.
    """
    picks = _picks(indices, len(samples))
    if codec == "raw":
        want = height * width * 3
        frames = []
        for i in picks:
            off, size, _key = samples[i]
            if size != want:
                raise ValueError(
                    f"{container} raw sample size {size} != {want} for "
                    f"{width}x{height} RGB"
                )
            frames.append(
                np.frombuffer(data[off:off + size], np.uint8)
                .reshape(height, width, 3)
            )
        return _stack(frames, height, width)
    from pdf_parser_spark import av1_codec

    if av1c is None:
        raise ValueError(
            f"{container}: AV1 track without its av1C record "
            "(the mp4 av1C box, the mkv CodecPrivate)"
        )
    config = av1_codec.parse_av1c(av1c)["config_obus"]

    def tu(i: int) -> bytes:  # reinsert the TD so the stream splits per frame
        off, size, _key = samples[i]
        chunk = data[off:off + size]
        return chunk if chunk.startswith(b"\x12") else b"\x12\x00" + chunk

    if indices is None:
        return av1_codec.decode_av1(
            b"".join(tu(i) for i in picks), config_obus=config
        )
    frames = []
    for i in picks:
        start = i
        while start > 0 and not samples[start][2]:
            start -= 1
        frames.append(av1_codec.decode_av1(
            b"".join(tu(k) for k in range(start, i + 1)), config_obus=config
        )[-1])
    return _stack(frames, height, width)
