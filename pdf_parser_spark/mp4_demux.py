"""From-scratch ISO BMFF (MP4) demuxer + raw-video muxer.

Implements the container layer of ISO/IEC 14496-12 (the public ISO base
media file format spec) with the standard library alone, closing the last
env-gated multimodal branch: mp4 payloads previously raised
NotImplementedError because demuxing "needs ffmpeg" — but the container
is just a box tree plus four integer tables, and walking it needs no
codec at all. ``decode_mp4`` fully decodes tracks whose sample entry is
uncompressed RGB (fourcc ``raw ``, the QuickTime/ISO uncompressed video
sample entry) or ``av01`` (AV1 — from-scratch OBU/av1C carriage via
av1_codec, reconstruction through the system dav1d/libaom decoder) and
raises NotImplementedError for the remaining compressed fourccs
(H.264/VP9 macroblock decode, honestly out of from-scratch scope and
without an in-container library) — AFTER demuxing, so callers still get
the real sample table (frame byte ranges, timestamps, sync flags) for
any mp4.

Layout understood (the mandatory hierarchy every mp4 writer emits):

    ftyp
    mdat                          sample payload bytes
    moov / mvhd
         / trak / tkhd
                / mdia / mdhd     media timescale
                       / hdlr     handler ('vide' selects the video track)
                       / minf / stbl / stsd   sample description (fourcc, w, h)
                                     / stts   decode-time deltas (run-length)
                                     / stsc   sample→chunk (run-length)
                                     / stsz   sample sizes (constant or table)
                                     / stco | co64   chunk file offsets
                                     / stss   sync (key-frame) sample numbers

The demuxer resolves the classic indirection — stsc runs expanded over the
stco chunk list, per-sample offsets accumulated within each chunk — into a
flat per-sample table. 64-bit ``largesize`` boxes, ``co64`` offsets, and
``size == 0`` (box extends to end of file) are handled; tracks other than
the first video track are skipped, and missing mandatory boxes raise
ValueError naming the box.

The muxer writes raw-RGB video mp4s (one box per section above) so the
fixture corpus can carry REAL, self-contained mp4 payloads whose decoded
frames are asserted byte-identical through a mux→demux round trip — the
same encoder/decoder-pair pattern as media_codecs.py (PNG/WAV/Y4M) and
jpeg_codec.py. ``mdat`` precedes ``moov`` so chunk offsets are independent
of the metadata size.

These are CODECS, not a DataFrame API: operators/multimodal.py calls them
inside its Arrow-batched mapInPandas stages.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from pdf_parser_spark.media_codecs import decode_track, format_boundary

_RAW_FOURCC = b"raw "  # ISO/QuickTime uncompressed RGB video sample entry


# ---------------------------------------------------------------------------
# box plumbing
# ---------------------------------------------------------------------------


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


def _full(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + body)


def _iter_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", data, pos)[0]
        tag = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize follows the fourcc
            if pos + 16 > end:
                raise ValueError("mp4: truncated largesize box header")
            size = struct.unpack_from(">Q", data, pos + 8)[0]
            body = pos + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"mp4: box {tag!r} overruns its container")
        yield tag, body, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, tag: bytes) -> tuple[int, int]:
    for t, b, e in _iter_boxes(data, start, end):
        if t == tag:
            return b, e
    raise ValueError(f"mp4: mandatory box {tag.decode('latin-1')!r} missing")


# ---------------------------------------------------------------------------
# demux
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Mp4Sample:
    offset: int     # absolute file offset of the sample's first byte
    size: int       # bytes
    dts: int        # decode timestamp in media-timescale ticks
    ts_ms: int      # dts converted to integer milliseconds
    is_sync: bool   # key frame (stss; absent table ⇒ every sample)


@dataclass(frozen=True)
class Mp4Track:
    codec: str      # sample-entry fourcc, e.g. 'raw ' / 'av01' / 'avc1'
    width: int
    height: int
    timescale: int  # media timescale (mdhd)
    samples: tuple  # tuple[Mp4Sample, ...]
    codec_config: bytes | None = None  # av1C/avcC… box body, if present

    @property
    def duration_ms(self) -> int:
        if not self.samples:
            return 0
        last = self.samples[-1]
        return last.ts_ms + 0  # dts of the last sample; delta beyond it unknown


def _parse_stbl(data: bytes, b: int, e: int) -> dict:
    tables: dict = {}
    for tag, tb, te in _iter_boxes(data, b, e):
        if tag == b"stsd":
            # entry_count, then the first sample entry: size, fourcc,
            # 6 reserved + 2 data_ref_index, 16 pre_defined/reserved,
            # width(2), height(2)
            n = struct.unpack_from(">I", data, tb + 4)[0]
            if n < 1:
                raise ValueError("mp4: empty stsd")
            ent = tb + 8
            tables["codec"] = data[ent + 4 : ent + 8].decode("latin-1")
            tables["width"] = struct.unpack_from(">H", data, ent + 32)[0]
            tables["height"] = struct.unpack_from(">H", data, ent + 34)[0]
            # codec-config child boxes (av1C/avcC/hvcC…) trail the fixed
            # 78-byte VisualSampleEntry body; the entry's own size bounds
            # the walk
            ent_size = struct.unpack_from(">I", data, ent)[0]
            ent_end = min(ent + ent_size, te)
            if ent + 86 < ent_end:
                for ctag, cb, ce in _iter_boxes(data, ent + 86, ent_end):
                    if ctag in (b"av1C", b"avcC", b"hvcC", b"vpcC"):
                        tables["codec_config"] = data[cb:ce]
                        break
        elif tag == b"stts":
            n = struct.unpack_from(">I", data, tb + 4)[0]
            tables["stts"] = [
                struct.unpack_from(">II", data, tb + 8 + 8 * i) for i in range(n)
            ]
        elif tag == b"stsc":
            n = struct.unpack_from(">I", data, tb + 4)[0]
            tables["stsc"] = [
                struct.unpack_from(">III", data, tb + 8 + 12 * i) for i in range(n)
            ]
        elif tag == b"stsz":
            const, n = struct.unpack_from(">II", data, tb + 4)
            if const:
                tables["stsz"] = (const, n)
            else:
                tables["stsz"] = list(
                    struct.unpack_from(f">{n}I", data, tb + 12)
                )
        elif tag == b"stco":
            n = struct.unpack_from(">I", data, tb + 4)[0]
            tables["stco"] = list(struct.unpack_from(f">{n}I", data, tb + 8))
        elif tag == b"co64":
            n = struct.unpack_from(">I", data, tb + 4)[0]
            tables["stco"] = list(struct.unpack_from(f">{n}Q", data, tb + 8))
        elif tag == b"stss":
            n = struct.unpack_from(">I", data, tb + 4)[0]
            tables["stss"] = set(struct.unpack_from(f">{n}I", data, tb + 8))
    for req in ("codec", "stts", "stsc", "stsz", "stco"):
        if req not in tables:
            raise ValueError(f"mp4: mandatory box {req!r} missing from stbl")
    return tables


def demux_mp4(data: bytes) -> Mp4Track:
    """Parse the first video track's sample table → Mp4Track.

    Works for ANY codec (the sample table is codec-independent): the
    returned samples give each frame's absolute byte range, decode
    timestamp, and sync flag — the real demux work sample_frames needs.
    """
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF file (no ftyp)")
    moov = _find(data, 0, len(data), b"moov")
    track = None
    for tag, tb, te in _iter_boxes(data, *moov):
        if tag != b"trak":
            continue
        mdia = _find(data, tb, te, b"mdia")
        hb, he = _find(data, *mdia, b"hdlr")
        if data[hb + 8 : hb + 12] != b"vide":
            continue
        track = mdia
        break
    if track is None:
        raise ValueError("mp4: no video track")
    mh = _find(data, *track, b"mdhd")
    version = data[mh[0]]
    timescale = struct.unpack_from(
        ">I", data, mh[0] + (20 if version == 1 else 12)
    )[0]
    minf = _find(data, *track, b"minf")
    stbl_b, stbl_e = _find(data, *minf, b"stbl")
    t = _parse_stbl(data, stbl_b, stbl_e)

    # expand sizes
    if isinstance(t["stsz"], tuple):
        const, n_samples = t["stsz"]
        sizes = [const] * n_samples
    else:
        sizes = t["stsz"]
        n_samples = len(sizes)

    # expand decode timestamps (stts run-length)
    dts, clock = [], 0
    for count, delta in t["stts"]:
        for _ in range(count):
            dts.append(clock)
            clock += delta
    if len(dts) != n_samples:
        raise ValueError("mp4: stts sample count disagrees with stsz")

    # expand sample→chunk (stsc runs over the stco chunk list)
    chunks = t["stco"]
    stsc = t["stsc"]
    per_chunk: list[int] = []
    for i, (first, spc, _sdi) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else len(chunks)
        per_chunk.extend([spc] * (last - first + 1))
    if len(per_chunk) != len(chunks):
        raise ValueError("mp4: stsc runs disagree with stco chunk count")

    sync = t.get("stss")
    samples, si = [], 0
    for chunk_off, spc in zip(chunks, per_chunk):
        off = chunk_off
        for _ in range(spc):
            if si >= n_samples:
                break
            samples.append(
                Mp4Sample(
                    offset=off,
                    size=sizes[si],
                    dts=dts[si],
                    ts_ms=dts[si] * 1000 // max(1, timescale),
                    is_sync=(sync is None) or (si + 1 in sync),
                )
            )
            off += sizes[si]
            si += 1
    if si != n_samples:
        raise ValueError("mp4: chunk map covers fewer samples than stsz")
    return Mp4Track(
        codec=t["codec"], width=t["width"], height=t["height"],
        timescale=timescale, samples=tuple(samples),
        codec_config=t.get("codec_config"),
    )


@format_boundary("mp4")
def decode_mp4(data: bytes, indices=None) -> "np.ndarray":
    """mp4 → (n_frames, h, w, 3) uint8 frame stack.

    Real decode for two sample entries: uncompressed ``raw `` (each sample
    is h*w*3 RGB bytes) and ``av01`` (AV1 — the from-scratch OBU layer
    rebuilds the stream from the av1C config + samples, reconstruction via
    the system decoder; frames come back as YUV like decode_y4m's, see
    media_codecs.decode_track). ``indices`` picks the frames to decode
    (None: all). Other compressed codecs (H.264/VP9) demux fine
    but raise here — those bitstream decoders are genuinely out of
    from-scratch scope AND absent from this container; the sample table
    above is still available via demux_mp4.
    """
    track = demux_mp4(data)
    codec = {_RAW_FOURCC.decode("latin-1"): "raw", "av01": "av1"}.get(track.codec)
    if codec is None:
        raise NotImplementedError(
            f"mp4 codec {track.codec!r}: compressed bitstream decode needs a "
            "codec library not present in this container (demux_mp4 still "
            "returns the full sample table)"
        )
    return decode_track(
        data, "mp4", codec, track.width, track.height,
        [(s.offset, s.size, s.is_sync) for s in track.samples],
        track.codec_config, indices,
    )


# ---------------------------------------------------------------------------
# mux (raw RGB fixture writer)
# ---------------------------------------------------------------------------


def _visual_sample_entry(fourcc: bytes, w: int, h: int, depth: int,
                         children: bytes = b"") -> bytes:
    return _box(
        fourcc,
        b"\x00" * 6 + struct.pack(">H", 1)          # data_ref_index
        + b"\x00" * 16                                # pre_defined/reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)                        # frame_count
        + b"\x00" * 32                                # compressorname
        + struct.pack(">hh", depth, -1)               # depth, pre_defined
        + children,
    )


def encode_mp4_raw(
    frames: "np.ndarray",
    fps: tuple[int, int] = (25, 1),
    samples_per_chunk: int = 2,
    sync_every: int = 4,
) -> bytes:
    """(n, h, w, 3) uint8 → self-contained raw-video mp4 bytes.

    Chunking is deliberately non-trivial (``samples_per_chunk`` frames per
    chunk, a shorter final chunk when n is not a multiple) so a round trip
    exercises the stsc run expansion, and every ``sync_every``-th frame is
    marked sync so stss parsing is exercised too.
    """
    arr = np.ascontiguousarray(frames, dtype=np.uint8)
    if arr.ndim != 4 or arr.shape[3] != 3:
        raise ValueError("frames must be (n, h, w, 3) uint8")
    n, h, w, _ = arr.shape
    if n == 0:
        raise ValueError("mp4: need at least one frame")
    samples = [arr[i].tobytes() for i in range(n)]
    sync = [i % max(1, sync_every) == 0 for i in range(n)]
    entry = _visual_sample_entry(_RAW_FOURCC, w, h, 24)
    return _mux_mp4(samples, w, h, entry, fps, samples_per_chunk, sync)


def encode_mp4_av1(
    stream: bytes,
    fps: tuple[int, int] = (25, 1),
    samples_per_chunk: int = 2,
) -> bytes:
    """Encoded AV1 OBU stream → self-contained ``av01`` mp4 bytes.

    The from-scratch OBU layer does the carriage work: the stream splits
    into temporal units (one mp4 sample each), the sequence header moves
    out-of-band into the av1C box (built by av1_codec.build_av1c), and
    TD/sequence-header OBUs are stripped from samples per the
    AV1-ISOBMFF binding. Sync flags come from the frame-type peek."""
    from pdf_parser_spark import av1_codec

    av1c = av1_codec.build_av1c(stream)
    config_obus = av1_codec.parse_av1c(av1c)["config_obus"]
    seq = av1_codec.find_sequence_header(stream)
    units = av1_codec.split_temporal_units(stream)
    samples, sync = [], []
    for tu in units:
        obus = av1_codec.parse_obus(tu)
        keep = [
            o.raw for o in obus
            if o.type not in (
                av1_codec.OBU_TEMPORAL_DELIMITER, av1_codec.OBU_SEQUENCE_HEADER
            )
        ]
        if not keep:
            continue
        samples.append(b"".join(keep))
        # frame-type peek needs sequence-header context → prepend config
        fts = av1_codec.frame_types(config_obus + b"".join(keep))
        sync.append(bool(fts) and fts[0]["key"])
    if not samples:
        raise ValueError("AV1 stream has no frame-carrying temporal units")
    entry = _visual_sample_entry(
        b"av01", seq["max_width"], seq["max_height"], 24, _box(b"av1C", av1c)
    )
    return _mux_mp4(
        samples, seq["max_width"], seq["max_height"], entry, fps,
        samples_per_chunk, sync,
    )


def _mux_mp4(
    samples: list[bytes],
    w: int,
    h: int,
    sample_entry: bytes,
    fps: tuple[int, int],
    samples_per_chunk: int,
    sync: list[bool],
) -> bytes:
    n = len(samples)
    timescale, delta = int(fps[0]), int(fps[1])
    sizes = [len(s) for s in samples]

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp41")
    # chunk layout: full chunks of samples_per_chunk, then the remainder
    spc = max(1, samples_per_chunk)
    chunk_sizes = [spc] * (n // spc)
    if n % spc:
        chunk_sizes.append(n % spc)
    mdat_body_off = len(ftyp) + 8  # mdat header is 8 bytes
    chunk_offsets, pos, si = [], mdat_body_off, 0
    for cs in chunk_sizes:
        chunk_offsets.append(pos)
        pos += sum(sizes[si:si + cs])
        si += cs
    mdat = _box(b"mdat", b"".join(samples))

    # --- stbl ---------------------------------------------------------
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, delta))
    stss_samples = [i + 1 for i, k in enumerate(sync) if k]
    stss = _full(
        b"stss", 0, 0,
        struct.pack(f">I{len(stss_samples)}I", len(stss_samples), *stss_samples),
    )
    stsc_entries = [(1, spc, 1)]
    if n % spc:
        stsc_entries.append((len(chunk_sizes), n % spc, 1))
    stsc = _full(
        b"stsc", 0, 0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", *e) for e in stsc_entries),
    )
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(f">II{n}I", 0, n, *sizes),
    )
    stco = _full(
        b"stco", 0, 0,
        struct.pack(f">I{len(chunk_offsets)}I", len(chunk_offsets), *chunk_offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stss + stsc + stsz + stco)

    # --- the rest of the moov spine ------------------------------------
    url = _full(b"url ", 0, 1, b"")  # flag 1: media is in this file
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + url)
    dinf = _box(b"dinf", dref)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _box(b"minf", vmhd + dinf + stbl)
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"raw video\x00",
    )
    duration = n * delta
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),  # 'und'
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(
        b"tkhd", 0, 7,  # enabled | in movie | in preview
        struct.pack(">IIII", 0, 0, 1, 0)            # times, track id, reserved
        + struct.pack(">I", duration)
        + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate, volume
        + b"\x00" * 8
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),                       # next track id
    )
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
