"""From-scratch Matroska/WebM (EBML) demuxer + raw-video muxer.

Companion to mp4_demux.py: the same container-vs-codec split for the EBML
family. EBML (RFC 8794, public IETF spec) plus the public Matroska element
registry define mkv/webm; walking them needs variable-length integers and
an element tree — no codec library. ``decode_mkv`` fully decodes tracks
whose CodecID is ``V_UNCOMPRESSED`` (raw interleaved RGB, the Matroska
uncompressed-video codec id) and raises NotImplementedError for compressed
codecs (V_MPEG4/ISO/AVC, V_VP8/9…) — AFTER demuxing — while ``V_AV1``
decodes for real (av1_codec: from-scratch OBU layer + the system
decoder); either way callers
still get the real frame table (byte ranges, timestamps, keyframe flags)
for any mkv/webm.

Elements understood (the mandatory spine every muxer emits):

    EBML (DocType)
    Segment
      Info / TimestampScale            ns per timestamp tick (default 10^6)
      Tracks / TrackEntry / TrackNumber, TrackType (1=video), CodecID,
                            Video / PixelWidth, PixelHeight
      Cluster / Timestamp              cluster-relative base timestamp
              / SimpleBlock            track vint + s16 relative ts +
                                       flags (0x80 = keyframe) + frame bytes

Lacing (multiple frames per SimpleBlock) is rejected loudly rather than
mis-parsed — no raw-video muxer emits it and the flag is explicit.
Unknown-size elements (streaming Matroska) are rejected the same way.

The muxer writes V_UNCOMPRESSED RGB so the fixture corpus carries REAL
self-contained mkv payloads asserted byte-identical through a mux→demux
round trip — the encoder/decoder-pair pattern of media_codecs.py /
jpeg_codec.py / mp4_demux.py. These are CODECS, not a DataFrame API:
operators/multimodal.py calls them inside Arrow-batched mapInPandas.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from pdf_parser_spark.media_codecs import decode_track, format_boundary

# Matroska element IDs (public registry), as the raw on-disk byte strings
_ID_EBML = b"\x1a\x45\xdf\xa3"
_ID_DOCTYPE = b"\x42\x82"
_ID_SEGMENT = b"\x18\x53\x80\x67"
_ID_INFO = b"\x15\x49\xa9\x66"
_ID_TIMESTAMP_SCALE = b"\x2a\xd7\xb1"
_ID_DURATION = b"\x44\x89"
_ID_TRACKS = b"\x16\x54\xae\x6b"
_ID_TRACK_ENTRY = b"\xae"
_ID_TRACK_NUMBER = b"\xd7"
_ID_TRACK_TYPE = b"\x83"
_ID_CODEC_ID = b"\x86"
_ID_CODEC_PRIVATE = b"\x63\xa2"
_ID_VIDEO = b"\xe0"
_ID_PIXEL_WIDTH = b"\xb0"
_ID_PIXEL_HEIGHT = b"\xba"
_ID_CLUSTER = b"\x1f\x43\xb6\x75"
_ID_CLUSTER_TS = b"\xe7"
_ID_SIMPLE_BLOCK = b"\xa3"

_RAW_CODEC_ID = "V_UNCOMPRESSED"


# ---------------------------------------------------------------------------
# EBML plumbing
# ---------------------------------------------------------------------------


def _vint_encode(n: int) -> bytes:
    """EBML variable-length size: length marker bit + value bits."""
    if n < 0:
        raise ValueError("EBML size must be non-negative")
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:  # all-ones is reserved ("unknown")
            marker = 1 << (8 - width)
            raw = n.to_bytes(width, "big")
            return bytes([raw[0] | marker]) + raw[1:]
    raise ValueError("EBML size too large")


def _vint_decode(data: bytes, pos: int) -> tuple[int, int, bool]:
    """→ (value, next_pos, is_unknown_size)."""
    if pos >= len(data):
        raise ValueError("EBML: truncated vint")
    first = data[pos]
    if first == 0:
        raise ValueError("EBML: invalid vint leading byte 0x00")
    width = 8 - first.bit_length() + 1
    if pos + width > len(data):
        raise ValueError("EBML: truncated vint body")
    value = first & ((1 << (8 - width)) - 1)
    for i in range(1, width):
        value = (value << 8) | data[pos + i]
    unknown = value == (1 << (7 * width)) - 1
    return value, pos + width, unknown


def _element(eid: bytes, payload: bytes) -> bytes:
    return eid + _vint_encode(len(payload)) + payload


def _uint_payload(n: int) -> bytes:
    if n == 0:
        return b"\x00"
    return n.to_bytes((n.bit_length() + 7) // 8, "big")


def _iter_elements(data: bytes, start: int, end: int):
    """Yield (element_id, body_start, body_end) across [start, end)."""
    pos = start
    while pos < end:
        # element ID is a vint whose marker bits stay IN the bytes
        first = data[pos]
        if first == 0:
            raise ValueError("EBML: invalid element id")
        id_width = 8 - first.bit_length() + 1
        if id_width > 4 or pos + id_width > end:
            raise ValueError("EBML: bad element id width")
        eid = data[pos : pos + id_width]
        size, body, unknown = _vint_decode(data, pos + id_width)
        if unknown:
            raise ValueError(
                "EBML: unknown-size element (streaming Matroska) not supported"
            )
        if body + size > end:
            raise ValueError(f"EBML: element {eid.hex()} overruns its parent")
        yield eid, body, body + size
        pos = body + size


def _find(data: bytes, start: int, end: int, eid: bytes) -> tuple[int, int]:
    for e, b, en in _iter_elements(data, start, end):
        if e == eid:
            return b, en
    raise ValueError(f"EBML: mandatory element {eid.hex()} missing")


def _uint(data: bytes, b: int, e: int) -> int:
    return int.from_bytes(data[b:e], "big")


# ---------------------------------------------------------------------------
# demux
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class MkvFrame:
    offset: int     # absolute file offset of the frame's first byte
    size: int       # bytes
    ts_ms: int      # cluster timestamp + block relative ts, scaled to ms
    is_key: bool    # SimpleBlock keyframe flag


@dataclass(frozen=True)
class MkvTrack:
    codec: str      # CodecID, e.g. 'V_UNCOMPRESSED' / 'V_AV1' / 'V_VP9'
    width: int
    height: int
    timescale_ns: int  # TimestampScale (ns per tick)
    frames: tuple   # tuple[MkvFrame, ...]
    codec_private: bytes | None = None  # e.g. the av1C record for V_AV1


def demux_mkv(data: bytes) -> MkvTrack:
    """Parse the first video track's frame table → MkvTrack.

    Codec-independent: byte ranges, timestamps, and keyframe flags come
    from the container alone, for webm and mkv alike (webm IS Matroska
    with a restricted codec set and DocType 'webm')."""
    if not data.startswith(_ID_EBML):
        raise ValueError("not an EBML file (no EBML header)")
    header = _vint_decode(data, len(_ID_EBML))
    seg = _find(data, header[1] + header[0], len(data), _ID_SEGMENT)

    scale = 1_000_000  # Matroska default: 1 tick = 1 ms
    for eid, b, e in _iter_elements(data, *seg):
        if eid == _ID_INFO:
            for i2, b2, e2 in _iter_elements(data, b, e):
                if i2 == _ID_TIMESTAMP_SCALE:
                    scale = _uint(data, b2, e2)

    track_no, codec, width, height, codec_private = None, None, 0, 0, None
    tracks = _find(data, *seg, _ID_TRACKS)
    for eid, b, e in _iter_elements(data, *tracks):
        if eid != _ID_TRACK_ENTRY:
            continue
        num, ttype, cid, w, h, priv = None, None, None, 0, 0, None
        for i2, b2, e2 in _iter_elements(data, b, e):
            if i2 == _ID_TRACK_NUMBER:
                num = _uint(data, b2, e2)
            elif i2 == _ID_TRACK_TYPE:
                ttype = _uint(data, b2, e2)
            elif i2 == _ID_CODEC_ID:
                cid = data[b2:e2].decode("ascii", "replace").rstrip("\x00")
            elif i2 == _ID_CODEC_PRIVATE:
                priv = data[b2:e2]
            elif i2 == _ID_VIDEO:
                for i3, b3, e3 in _iter_elements(data, b2, e2):
                    if i3 == _ID_PIXEL_WIDTH:
                        w = _uint(data, b3, e3)
                    elif i3 == _ID_PIXEL_HEIGHT:
                        h = _uint(data, b3, e3)
        if ttype == 1 and num is not None:  # video track
            track_no, codec, width, height = num, cid, w, h
            codec_private = priv
            break
    if track_no is None:
        raise ValueError("mkv: no video track")

    frames: list[MkvFrame] = []
    for eid, b, e in _iter_elements(data, *seg):
        if eid != _ID_CLUSTER:
            continue
        cluster_ts = 0
        for i2, b2, e2 in _iter_elements(data, b, e):
            if i2 == _ID_CLUSTER_TS:
                cluster_ts = _uint(data, b2, e2)
            elif i2 == _ID_SIMPLE_BLOCK:
                tnum, pos, _ = _vint_decode(data, b2)
                if tnum != track_no:
                    continue
                rel = struct.unpack_from(">h", data, pos)[0]
                flags = data[pos + 2]
                if flags & 0x06:
                    raise ValueError("mkv: laced SimpleBlock not supported")
                start = pos + 3
                ticks = cluster_ts + rel
                frames.append(
                    MkvFrame(
                        offset=start,
                        size=e2 - start,
                        ts_ms=ticks * scale // 1_000_000,
                        is_key=bool(flags & 0x80),
                    )
                )
    return MkvTrack(
        codec=codec or "", width=width, height=height,
        timescale_ns=scale, frames=tuple(frames),
        codec_private=codec_private,
    )


@format_boundary("mkv")
def decode_mkv(data: bytes, indices=None) -> "np.ndarray":
    """mkv/webm → (n_frames, h, w, 3) uint8 frame stack.

    Real decode for ``V_UNCOMPRESSED`` RGB frames and ``V_AV1`` (the
    from-scratch OBU layer rebuilds the stream from the CodecPrivate av1C
    record + block frames; reconstruction via the system decoder — frames
    come back as YUV, see media_codecs.decode_track). ``indices`` picks
    the frames to decode (None: all). Other compressed codecs
    demux fine but raise here — those bitstream decoders are out of
    from-scratch scope AND absent from this container (demux_mkv still
    returns the full frame table)."""
    track = demux_mkv(data)
    codec = {_RAW_CODEC_ID: "raw", "V_AV1": "av1"}.get(track.codec)
    if codec is None:
        raise NotImplementedError(
            f"mkv codec {track.codec!r}: compressed bitstream decode needs a "
            "codec library not present in this container (demux_mkv still "
            "returns the full frame table)"
        )
    return decode_track(
        data, "mkv", codec, track.width, track.height,
        [(f.offset, f.size, f.is_key) for f in track.frames],
        track.codec_private, indices,
    )


# ---------------------------------------------------------------------------
# mux (raw RGB fixture writer)
# ---------------------------------------------------------------------------


def encode_mkv_raw(
    frames: "np.ndarray",
    frame_ms: int = 40,
    frames_per_cluster: int = 4,
    key_every: int = 4,
    doctype: str = "matroska",
) -> bytes:
    """(n, h, w, 3) uint8 → self-contained V_UNCOMPRESSED mkv/webm bytes.

    Frames are spread over multiple Clusters (``frames_per_cluster``) with
    cluster-relative block timestamps, so a round trip exercises the
    Cluster/Timestamp/SimpleBlock reassembly; every ``key_every``-th frame
    sets the keyframe flag so flag parsing is exercised too. ``doctype``
    'webm' writes a WebM-flagged file with identical structure.
    """
    arr = np.ascontiguousarray(frames, dtype=np.uint8)
    if arr.ndim != 4 or arr.shape[3] != 3:
        raise ValueError("frames must be (n, h, w, 3) uint8")
    n, h, w, _ = arr.shape
    if n == 0:
        raise ValueError("mkv: need at least one frame")
    payloads = [arr[i].tobytes() for i in range(n)]
    keys = [i % max(1, key_every) == 0 for i in range(n)]
    return _mux_mkv(
        payloads, w, h, _RAW_CODEC_ID, None, keys, frame_ms,
        frames_per_cluster, doctype,
    )


def encode_mkv_av1(
    stream: bytes,
    frame_ms: int = 40,
    frames_per_cluster: int = 4,
    doctype: str = "matroska",
) -> bytes:
    """Encoded AV1 OBU stream → self-contained ``V_AV1`` mkv/webm bytes.

    Mirrors encode_mp4_av1: temporal units become SimpleBlocks, the
    sequence header moves into CodecPrivate as an av1C record, TD and
    sequence-header OBUs are stripped from blocks, and keyframe flags
    come from the from-scratch frame-type peek."""
    from pdf_parser_spark import av1_codec

    av1c = av1_codec.build_av1c(stream)
    config_obus = av1_codec.parse_av1c(av1c)["config_obus"]
    seq = av1_codec.find_sequence_header(stream)
    payloads, keys = [], []
    for tu in av1_codec.split_temporal_units(stream):
        keep = [
            o.raw for o in av1_codec.parse_obus(tu)
            if o.type not in (
                av1_codec.OBU_TEMPORAL_DELIMITER, av1_codec.OBU_SEQUENCE_HEADER
            )
        ]
        if not keep:
            continue
        payloads.append(b"".join(keep))
        fts = av1_codec.frame_types(config_obus + b"".join(keep))
        keys.append(bool(fts) and fts[0]["key"])
    if not payloads:
        raise ValueError("AV1 stream has no frame-carrying temporal units")
    return _mux_mkv(
        payloads, seq["max_width"], seq["max_height"], "V_AV1", av1c, keys,
        frame_ms, frames_per_cluster, doctype,
    )


def _mux_mkv(
    payloads: list[bytes],
    w: int,
    h: int,
    codec_id: str,
    codec_private: bytes | None,
    keys: list[bool],
    frame_ms: int,
    frames_per_cluster: int,
    doctype: str,
) -> bytes:
    n = len(payloads)
    ebml = _element(
        _ID_EBML, _element(_ID_DOCTYPE, doctype.encode("ascii"))
    )
    info = _element(
        _ID_INFO,
        _element(_ID_TIMESTAMP_SCALE, _uint_payload(1_000_000))
        + _element(_ID_DURATION, struct.pack(">f", float(n * frame_ms))),
    )
    video = _element(
        _ID_VIDEO,
        _element(_ID_PIXEL_WIDTH, _uint_payload(w))
        + _element(_ID_PIXEL_HEIGHT, _uint_payload(h)),
    )
    entry = (
        _element(_ID_TRACK_NUMBER, _uint_payload(1))
        + _element(_ID_TRACK_TYPE, _uint_payload(1))
        + _element(_ID_CODEC_ID, codec_id.encode("ascii"))
    )
    if codec_private is not None:
        entry += _element(_ID_CODEC_PRIVATE, codec_private)
    tracks = _element(_ID_TRACKS, _element(_ID_TRACK_ENTRY, entry + video))
    clusters = []
    fpc = max(1, frames_per_cluster)
    for c0 in range(0, n, fpc):
        base_ts = c0 * frame_ms
        body = _element(_ID_CLUSTER_TS, _uint_payload(base_ts))
        for i in range(c0, min(c0 + fpc, n)):
            rel = (i - c0) * frame_ms
            flags = 0x80 if keys[i] else 0x00
            block = (
                _vint_encode(1)                 # track number (vint)
                + struct.pack(">h", rel)
                + bytes([flags])
                + payloads[i]
            )
            body += _element(_ID_SIMPLE_BLOCK, block)
        clusters.append(_element(_ID_CLUSTER, body))
    segment = _element(_ID_SEGMENT, info + tracks + b"".join(clusters))
    return ebml + segment
