"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Training-data pipelines carry media payloads through the same tables as text:
an opaque ``binary`` column plus a typed metadata struct, with
decode / feature-extract / resize / frame-sample implemented as Arrow-batched
pandas UDFs over ``mapInPandas``.

Decode paths: image, audio AND video REALLY decode — PNG, JPEG, GIF,
WebP, BMP/ICO, TIFF, 16-bit PCM WAV, FLAC, YUV4MPEG2 raw video, raw-RGB
mp4 (ISO BMFF container demux, mp4_demux.py), and raw-RGB mkv/webm (EBML
container demux, mkv_demux.py) are implemented from their public specs
(stdlib + numpy), so every operator runs one genuine
bytes→pixels/samples/frames→features/resize pipeline. What raises
``NotImplementedError`` is the compressed BITSTREAM layer with no
in-container decoder (mp3, h264/vp9; AV1 decodes via the system
dav1d/libaom) — the mp4/mkv/webm containers themselves demux for any
codec. Such rows come back ``decoded=False`` (or drop out of the frame
fan-out), never with made-up features.

Format-coverage table (the one place to size real-crawl media coverage;
each row names its implementing module and what happens OUTSIDE scope —
"refuses" means a loud ValueError/NotImplementedError, never a silent
mis-decode). Every payload's format is named in one place, the magic
table of media_probe.sniff; the decode dispatch (_decode, _decode_pcm,
_decode_sampled) and resize_images' re-encoder are lookups keyed by that
name, and a name with no entry for the row's kind raises
NotImplementedError:

    kind   format / layer                  real decode?  out-of-scope behavior
    -----  ------------------------------  ------------  -------------------------------
    image  PNG (all standard bit depths)   yes           media_codecs.py
    image  JPEG baseline (SOF0/1) AND      yes           jpeg_codec.py; arithmetic
           progressive (SOF2) DCT, 8-bit                 coding, lossless/hierarchical,
           gray/YCbCr, any sampling,                     12-bit, CMYK → ValueError
           restart markers, EOBn +
           successive approximation
    image  GIF87a/89a (incl. animation,    yes           gif_codec.py (LZW, local
           interlace, transparency,                      palettes, disposal methods;
           disposal compositing)                         animated GIFs as video rows
                                                         return the full frame stack)
    image  WebP lossless (VP8L: all four   yes           webp_codec.py
           transforms, color cache, meta
           prefix groups, LZ77 dist map)
    image  WebP lossy (VP8 key frame:      yes           vp8_codec.py (RFC 6386;
           full RFC 6386 intra decode,                   YUV planes bit-identical to
           token trees, IDCT/IWHT, all                   libwebp; RGB via documented
           prediction modes, loop filter)                BT.601 fixed-point step)
    image  WebP extended (VP8X): ALPH      yes           webp_codec.decode_alpha
           alpha (raw + VP8L-compressed,                 (alpha byte-identical to
           all 4 prediction filters) and                 libwebp); animated WebP as
           ANIM/ANMF animation (blend,                   video rows returns the frame
           disposal, offsets, bg colour)                 stack, mirroring GIF
    image  BMP (core/info/V4/V5 headers,   yes           bmp_codec.py
           1/4/8/16/24/32-bit, bitfield
           masks, RLE4/RLE8, top-down)
    image  ICO favicons (PNG and BMP       yes           bmp_codec.py (largest entry;
           entries, AND-mask alpha)                      decode_ico_all for every size)
    image  TIFF baseline (strips, none/    yes           tiff_codec.py; tiles, planar-2,
           LZW/PackBits/Deflate, gray/                   16-bit, JPEG-in-TIFF → TiffError
           palette/RGB/RGBA, predictor,
           both byte orders, 1/4/8-bit)
    image  AVIF (AV1 still image, incl.    yes           avif_codec.py (from-scratch
           grid/tiled items + alpha)                     BMFF item layer incl. grid
                                                         composition done by OUR code
                                                         and auxl alpha items; AV1
                                                         frames via system dav1d/
                                                         libaom, cross-checked vs
                                                         libavif in both roles)
    image  HEIC (HEVC still image,         yes           heif_codec.py (from-scratch
           incl. grid/tiled items)                       HEIF item + hvcC + grid/iref
                                                         layer shared with avif_codec;
                                                         HEVC frames + grid compose
                                                         via system libheif/libde265)
    audio  WAV 16-bit PCM                  yes           media_codecs.py
    audio  FLAC (all subframe types,       yes           flac_codec.py (CRC-8/16 +
           stereo decorrelation modes,                   stream MD5 verified)
           rice residuals)
    audio  mp3 / AAC bitstreams            no            NotImplementedError at the
                                                         codec layer (no "mp3" entry
                                                         in multimodal.py's decoder
                                                         tables); mp3 HEADER
                                                         probe (frame walk: exact
                                                         frame count/duration/rate,
                                                         VBR included) works without
                                                         decode (media_probe.py)
    video  YUV4MPEG2 (raw frames)          yes           media_codecs.py (one header
                                                         parser, parse_y4m, for the
                                                         decoder and the probe)
    video  mp4/ISO-BMFF container          demux: yes    mp4_demux.py; raw RGB and
           (any codec inside)              decode: raw   av01 (AV1 via av1_codec +
                                           RGB + AV1     system decoder) decode fully
                                                         or per requested frame
                                                         (media_codecs.decode_track,
                                                         shared with mkv);
                                                         h264/h265/vp9 fourccs →
                                                         NotImplementedError AFTER
                                                         a real demux (stsz/stco/stts
                                                         tables, frame offsets/pts all
                                                         returned)
    video  mkv/webm EBML container         demux: yes    mkv_demux.py; raw RGB and
                                           decode: raw   V_AV1 decode fully;
                                           RGB + AV1     V_MPEG4/V_VP9 codec ids →
                                                         NotImplementedError after
                                                         demux (VP9 keyframe
                                                         headers still parse for
                                                         probe: dims/bit depth/
                                                         keyframe map)
    video  IVF raw-stream container        probe: yes    media_probe.py (VP8/VP9/AV1
           (VP8/VP9/AV1)                                 fourccs, per-frame keyframe
                                                         detection from each codec's
                                                         own header layer)

A production 100 TB media pipeline attaches ffmpeg/libjpeg at exactly the
gated seams above; everything up to them (container demux, schema,
partitioning, batch shaping, feature plumbing) is real and tested here.

Scale notes:
- media rows are 10^3-10^6× wider than text rows: batches are capped via
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (session.py sets 2048;
  jobs that decode video should drop it to O(16)) and
  ``maxPartitionBytes`` keeps input splits bounded;
- all stages are shuffle-free maps — media never needs co-location, so the
  bucket(url) layout of the text tables applies unchanged;
- feature vectors come back as ``array<float>`` and flow into the
  similarity/dedup operators (cosine near-dup over image embeddings is the
  same code path as text embeddings).
"""

from __future__ import annotations

import functools
import importlib
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, url string, kind string, payload binary, "
    "meta struct<mime:string, width:int, height:int, duration_ms:int, sample_rate:int>"
)

FEATURE_DIM = 16


@functools.lru_cache(maxsize=256)
def _real_payload(i: int, kind: str) -> tuple[bytes, str]:
    """Deterministic REAL (payload, mime): a valid file in one of the
    from-scratch-decodable formats, a pure function of i.

    Image rows rotate PNG / JPEG (baseline + progressive) / WebP
    (lossless + lossy VP8) / GIF / BMP / ICO / TIFF / AVIF / HEIC, audio
    rows alternate WAV and FLAC, video rows rotate raw mp4 / raw mkv-webm /
    Y4M / animated WebP / AV1-in-mp4 / AV1-in-webm — so the operators
    exercise EVERY real decoder end to end, including in the benched
    contract entries. The AV1/HEIC slots need the optional
    librav1e / libheif encoders and fall back to PNG/Y4M where absent.
    lru_cached: payloads are pure functions of (i, kind) and Spark
    reuses python workers across jobs, so the bench's many media entries
    mint each payload once per worker instead of once per entry."""
    from pdf_parser_spark import media_codecs

    rng = np.random.default_rng(i * 2654435761 % (1 << 32))
    if kind == "image":
        # image rows are exactly the i ≡ 0 (mod 3) ids, so the
        # sub-rotation keys on s = i // 3 — residues of i itself can be
        # unreachable for this kind (the dead-slot bug the video branch
        # had) and are not used for format selection here
        h, w = 48 + (i % 8) * 12, 64 + (i % 8) * 16
        s = (i // 3) % 11
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        if s == 1:  # baseline JFIF
            from pdf_parser_spark import jpeg_codec

            return jpeg_codec.encode_jpeg(rgb, quality=90), "image/jpeg"
        if s == 9:  # progressive (SOF2); alternate gray/RGB content
            from pdf_parser_spark import jpeg_codec

            ch = 1 if (i // 30) % 2 else 3
            arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
            return jpeg_codec.encode_jpeg_progressive(arr, quality=90), "image/jpeg"
        if s == 2:
            from pdf_parser_spark import webp_codec

            rgba = np.concatenate(
                [rgb, np.full((h, w, 1), 255, np.uint8)], axis=-1
            )
            return webp_codec.encode_webp_lossless(rgba), "image/webp"
        if s == 3:
            from pdf_parser_spark import gif_codec

            pal = rng.integers(0, 256, size=(12, 3), dtype=np.uint8)
            return gif_codec.encode_gif(
                pal[rng.integers(0, 12, size=(h, w))]
            ), "image/gif"
        if s == 4:
            from pdf_parser_spark import bmp_codec

            return bmp_codec.encode_bmp(rgb), "image/bmp"
        if s == 5:
            from pdf_parser_spark import tiff_codec

            return tiff_codec.encode_tiff(rgb, compression="lzw"), "image/tiff"
        if s == 6:  # h, w <= 132 here, within ICO's 256 cap
            from pdf_parser_spark import bmp_codec

            rgba = np.concatenate(
                [rgb, np.full((h, w, 1), 255, np.uint8)], axis=-1
            )
            return bmp_codec.encode_ico([rgba]), "image/x-icon"
        if s == 7:  # lossy VP8 key frame via the from-scratch encoder
            from pdf_parser_spark import vp8_codec, webp_codec

            mb_w, mb_h = (w + 15) // 16, (h + 15) // 16
            modes = [
                {
                    "ymode": int(rng.integers(0, 4)),
                    "uvmode": int(rng.integers(0, 4)),
                    "y2": rng.integers(-40, 41, 16).tolist(),
                }
                for _ in range(mb_w * mb_h)
            ]
            payload = vp8_codec.encode_vp8_frame(
                mb_w, mb_h, modes, qi=int(rng.integers(0, 64)),
                filter_level=int(rng.integers(0, 40)),
                width=w, height=h,
            )
            riff = b"WEBP" + webp_codec._riff_chunk(b"VP8 ", payload)
            return (
                b"RIFF" + len(riff).to_bytes(4, "little") + riff,
                "image/webp",
            )
        if s == 8:  # AVIF (AV1 still image; needs the optional encoder)
            from pdf_parser_spark import av1_codec, avif_codec

            if av1_codec.have_native_encoder():
                y = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
                u = rng.integers(0, 256, size=(h // 2, w // 2), dtype=np.uint8)
                v = rng.integers(0, 256, size=(h // 2, w // 2), dtype=np.uint8)
                stream = av1_codec.encode_av1_native(
                    [(y, u, v)], quantizer=160
                )
                return avif_codec.encode_avif(stream), "image/avif"
        if s == 10:  # HEIC (HEVC still image; needs libheif's encoder)
            from pdf_parser_spark import heif_codec

            if heif_codec.have_native_codec() == (True, True):
                # smooth content: HEVC at this quality keeps the decoded
                # pixels near the source, like real photos would be
                yy, xx = np.mgrid[0:h, 0:w]
                smooth = np.stack(
                    [(xx * 255 // max(1, w - 1)),
                     (yy * 255 // max(1, h - 1)),
                     ((xx + yy) * 127 // max(1, h + w - 2))],
                    axis=-1,
                ).astype(np.uint8)
                return heif_codec.encode_heic_native(
                    smooth, quality=90, preset="ultrafast"
                ), "image/heic"
        ch = (1, 3, 4)[(i // 3) % 3]
        arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        return media_codecs.encode_png(arr), "image/png"
    if kind == "audio":
        n = 1600 * (i % 30 + 1)  # duration_ms/1000 * 16 kHz
        samples = (rng.integers(-(1 << 14), 1 << 14, size=n)).astype(np.int16)
        if i % 6 == 4:
            from pdf_parser_spark import flac_codec

            return flac_codec.encode_flac(samples, 16000), "audio/flac"
        return media_codecs.encode_wav(samples, sample_rate=16000), "audio/wav"
    # video rows rotate through every real video path (one frame per
    # second of duration). Video ids are exactly the i ≡ 2 (mod 3) rows,
    # so the sub-rotation keys on v = i // 3 — a residue of i itself
    # (like the old i % 9) would silently skip slots whose residue can
    # never coincide with the video kind.
    n_frames = i % 30 + 1
    h, w = 48 + (i % 8) * 12, 64 + (i % 8) * 16
    frames = rng.integers(0, 256, size=(n_frames, h, w, 3), dtype=np.uint8)
    v = (i // 3) % 6
    if v == 0:
        from pdf_parser_spark import mp4_demux

        return mp4_demux.encode_mp4_raw(frames, fps=(1, 1)), "video/mp4"
    if v == 1:
        from pdf_parser_spark import mkv_demux

        return (
            mkv_demux.encode_mkv_raw(
                frames, frame_ms=1000, doctype="webm" if i % 2 else "matroska"
            ),
            "video/webm",
        )
    if v == 3:  # animated WebP (VP8X/ANIM/ANMF, lossless frames)
        from pdf_parser_spark import webp_codec

        # cap frames like the AV1 slots: the pure-Python VP8L encoder at
        # 30 frames is corpus-minting cost, not test value
        k = min(n_frames, 8)
        rgba = np.concatenate(
            [frames[:k], np.full((k, h, w, 1), 255, np.uint8)], axis=-1
        )
        return (
            webp_codec.encode_webp_anim(rgba, durations_ms=[1000] * k),
            "image/webp",
        )
    if v in (4, 5):  # AV1 bitstream in mp4 (av01) / webm (V_AV1)
        from pdf_parser_spark import av1_codec, mkv_demux, mp4_demux

        if av1_codec.have_native_encoder():
            # cap the encoded frame count: the sampling rule already caps
            # at the container's frame count, and 30 rav1e encodes per
            # corpus row is bench cost without test value
            planes = [
                (f[:, :, 0], f[::2, ::2, 1], f[::2, ::2, 2])
                for f in frames[:10]
            ]
            stream = av1_codec.encode_av1_native(planes, quantizer=200)
            if v == 4:
                return mp4_demux.encode_mp4_av1(stream, fps=(1, 1)), "video/mp4"
            return (
                mkv_demux.encode_mkv_av1(
                    stream, frame_ms=1000,
                    doctype="webm" if i % 2 else "matroska",
                ),
                "video/webm",
            )
    return (
        media_codecs.encode_y4m(frames, colorspace="C444" if i % 2 else "C420jpeg"),
        "video/x-yuv4mpeg",
    )


def media_table(spark, n_rows: int = 64, partitions: int = 4) -> DataFrame:
    """Deterministic media table (pure function of media_id): every
    payload is a valid file minted by _real_payload, so the operators
    run their actual decoders end to end."""
    ids = spark.range(0, n_rows, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                kind = ("image", "audio", "video")[i % 3]
                payload, mime = _real_payload(i, kind)
                rows.append(
                    {
                        "media_id": i,
                        "url": f"https://host{i % 5}.example/media/{i}",
                        "kind": kind,
                        "payload": payload,
                        "meta": {
                            "mime": mime,
                            "width": 64 + (i % 8) * 16 if kind != "audio" else None,
                            "height": 48 + (i % 8) * 12 if kind != "audio" else None,
                            "duration_ms": (i % 30 + 1) * 1000 if kind != "image" else None,
                            "sample_rate": 16000 if kind == "audio" else None,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return ids.mapInPandas(gen, schema=MEDIA_SCHEMA)


def _codec(path: str):
    """The function ``module.name`` of pdf_parser_spark, imported on first
    use so a worker loads only the codecs its rows need."""
    module, name = path.split(".")
    return getattr(importlib.import_module(f"pdf_parser_spark.{module}"), name)


# Decoders by the format name media_probe.sniff gives a payload, one
# table per kind a format decodes as.
_IMAGE = {
    "png": "media_codecs.decode_png",
    "jpeg": "jpeg_codec.decode_jpeg",
    "bmp": "bmp_codec.decode_bmp",
    "ico": "bmp_codec.decode_ico",  # favicons: the largest entry
    "tiff": "tiff_codec.decode_tiff",
    "avif": "avif_codec.decode_avif",
    "heic": "heif_codec.decode_heic",
}
# (frames, durations) decoders: an image row takes the first composited
# frame, a video row the whole (n, H, W, 4) stack. Every frame composites
# from frame 0, so these always decode in full.
_ANIMATED = {
    "gif": "gif_codec.decode_gif",
    "webp": "webp_codec.decode_webp_frames",
}
# video containers whose decoders take the frame numbers to decode
_VIDEO = {
    "y4m": "media_codecs.decode_y4m",
    "mp4": "mp4_demux.decode_mp4",
    "mkv": "mkv_demux.decode_mkv",
}
_AUDIO = {
    "wav": "media_codecs.decode_wav",
    "flac": "flac_codec.decode_flac",
}


def _sniff(data: bytes) -> str | None:
    """media_probe.sniff's format name, or None for bytes it cannot name."""
    from pdf_parser_spark import media_probe

    try:
        return media_probe.sniff(data)
    except ValueError:
        return None


def _decode_pcm(data: bytes) -> tuple[np.ndarray, int]:
    """WAV or FLAC payload → (int16 samples (n, channels), sample rate)."""
    path = _AUDIO.get(_sniff(data))
    if path is None:
        raise NotImplementedError("audio decode supports WAV and FLAC only")
    return _codec(path)(data)


def _decode(payload: bytes, kind: str) -> np.ndarray:
    """Decode a media payload to an array.

    Image payloads decode as PNG, JPEG, GIF, WebP, BMP, ICO, TIFF, AVIF
    or HEIC, audio as 16-bit PCM WAV or FLAC, and video as YUV4MPEG2
    frame stacks, mp4 (raw RGB or av01/AV1), mkv/webm (raw RGB or V_AV1)
    or animated GIF/WebP, dispatched on media_probe.sniff's format name
    to the from-scratch codecs (audio samples re-biased to uint8 so every
    kind feeds the same feature kernel). AV1 reconstruction dispatches to
    the system dav1d/libaom, HEVC to libheif; formats with neither a
    from-scratch decoder nor an in-container library (mp3; h264/vp9
    video BITSTREAMS — the mp4/mkv containers themselves demux fine) and
    a format outside its kind raise NotImplementedError.
    """
    data = payload or b""
    if kind == "audio":
        samples, _rate = _decode_pcm(data)
        # int16 → uint8 (offset binary): keeps the moment-profile
        # feature kernel shared across kinds, and a FLAC and a WAV of the
        # same recording produce identical features
        return ((samples.astype(np.int32) + (1 << 15)) >> 8).astype(
            np.uint8
        ).reshape(-1)
    fmt = _sniff(data)
    if kind == "image" and fmt in _IMAGE:
        return _codec(_IMAGE[fmt])(data)
    if kind == "video" and fmt in _VIDEO:
        return _codec(_VIDEO[fmt])(data)
    if kind in ("image", "video") and fmt in _ANIMATED:
        frames, _durations = _codec(_ANIMATED[fmt])(data)
        return frames[0] if kind == "image" else frames
    raise NotImplementedError(
        f"no {kind} decoder for this payload: unknown format, or a "
        "compressed bitstream (mp3, h264, vp9) that needs a codec library "
        "not present in this container"
    )


def extract_features(media: DataFrame) -> DataFrame:
    """decode → fixed-dim feature vector per media row (mapInPandas).

    The feature is a deterministic moment-profile of the decoded array
    (a stand-in for a CNN/CLAP embedding): mean/std per channel slice padded
    to FEATURE_DIM. Output feeds the similarity operators unchanged.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, ok = [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                try:
                    arr = _decode(bytes(payload), kind).astype(np.float64)
                    flat = arr.reshape(-1)
                    chunks = np.array_split(flat, FEATURE_DIM // 2)
                    v = np.concatenate(
                        [[c.mean() / 255.0, c.std() / 255.0] for c in chunks]
                    )[:FEATURE_DIM]
                    feats.append([round(float(x), 6) for x in v])
                    ok.append(True)
                except (ValueError, NotImplementedError):
                    feats.append(None)
                    ok.append(False)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"].values, "feature": feats, "decoded": ok}
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema="media_id long, feature array<double>, decoded boolean"
    )


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (type-II, 'ortho' norm — the public
    JPEG/pHash transform): D[k, m] = c_k * cos(pi * (2m + 1) * k / (2n)),
    c_0 = sqrt(1/n), c_k = sqrt(2/n). D @ x applies the 1-D DCT; the 2-D
    transform of an image A is D @ A @ D.T."""
    k = np.arange(n).reshape(-1, 1).astype(np.float64)
    m = np.arange(n).reshape(1, -1).astype(np.float64)
    d = np.cos(np.pi * (2.0 * m + 1.0) * k / (2.0 * n)) * np.sqrt(2.0 / n)
    d[0, :] *= np.sqrt(0.5)
    return d


def _phash_bits(arr: np.ndarray, hash_size: int = 8, resample: int = 32) -> int:
    """64-bit perceptual hash of a decoded image array (classic DCT pHash).

    grayscale (channel mean) → nearest-neighbour resample to
    resample×resample → 2-D DCT-II → keep the top-left hash_size×hash_size
    low-frequency block EXCLUDING the DC term [0,0] (63 coefficients at the
    default) → each bit = coefficient > median(coefficients).

    Dropping DC makes the hash exactly invariant to global brightness
    shifts (a constant offset only moves the DC coefficient), and leaves
    bit 63 permanently 0 so the packed value is always a non-negative
    int64 — no sign wrapping in the Spark `long` column.
    """
    if hash_size * hash_size - 1 > 64:
        raise ValueError(
            f"hash_size={hash_size} needs {hash_size * hash_size - 1} bits; "
            "the packed hash is one 64-bit long"
        )
    a = arr.astype(np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    elif a.ndim != 2:
        raise ValueError(f"image array must be HxW or HxWxC, got shape {a.shape}")
    ys = np.arange(resample) * a.shape[0] // resample
    xs = np.arange(resample) * a.shape[1] // resample
    small = a[ys][:, xs]
    d = _dct_matrix(resample)
    coef = d @ small @ d.T
    block = coef[:hash_size, :hash_size].reshape(-1)[1:]  # drop DC at [0,0]
    bits = block > np.median(block)
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def image_phash(media: DataFrame, hash_size: int = 8,
                resample: int = 32) -> DataFrame:
    """(media_id, phash long, decoded boolean) — DCT perceptual hash per image.

    Shuffle-free map over the image rows only (non-image rows are filtered
    before the UDF, so the pushed-down predicate keeps video payloads out
    of the Arrow transfer entirely). The 64-bit hash has the same Hamming
    geometry as a SimHash signature, so near-duplicate candidate
    generation reuses the AND-of-block-combinations banding from
    operators/dedupe.py unchanged — recall 1.0 by pigeonhole, never
    all-pairs.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes, ok = [], []
            for payload in pdf["payload"]:
                try:
                    arr = _decode(bytes(payload), "image")
                    hashes.append(_phash_bits(arr, hash_size, resample))
                    ok.append(True)
                except (ValueError, NotImplementedError):
                    hashes.append(0)
                    ok.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "phash": pd.array(hashes, dtype="int64"),
                    "decoded": ok,
                }
            )

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(run, schema="media_id long, phash long, decoded boolean")
    )


def image_near_duplicates(media: DataFrame, max_hamming: int = 6,
                          n_blocks: int | None = None) -> DataFrame:
    """(a_id, b_id, hamming) image near-dup pairs by pHash Hamming distance.

    The multimodal twin of dedupe.simhash_near_duplicates: pHash the image
    rows (one shuffle-free map), then generate candidates through the SAME
    sound pigeonhole banding (_simhash_band_keys — max_hamming flipped bits
    leave at least one full block-combination key shared), and keep only
    pairs whose exact popcount distance is within max_hamming. Recall is
    1.0 by construction; cost is the banded equi-join, never all-pairs —
    the image-dedup shape that survives a 10^9-image corpus.
    """
    from pdf_parser_spark.operators import dedupe

    sig = image_phash(media).filter(F.col("decoded")).select(
        F.col("media_id").alias("doc_id"), F.col("phash").alias("simhash")
    )
    cand = dedupe.simhash_candidates(sig, max_hamming, n_blocks)
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def video_frame_phashes(media: DataFrame, every_ms: int = 1000,
                        hash_size: int = 8, resample: int = 32) -> DataFrame:
    """(media_id, frame_index, phash long) — DCT pHash per sampled frame.

    Same metadata-driven sampling rule as sample_frames (one frame per
    ``every_ms`` of meta.duration_ms, capped at the decoded frame count),
    but emitting the 63-bit perceptual hash instead of raw bytes — the
    narrow shape video dedup joins on. Shuffle-free map over video rows.
    """
    videos = media.filter(F.col("kind") == "video").select(
        "media_id", "payload", F.col("meta.duration_ms").alias("duration_ms")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                try:
                    sampled = _decode_sampled(bytes(payload), dur, every_ms)
                except (ValueError, NotImplementedError):
                    continue  # corrupt/undecodable video: drop the row
                for j, frame in sampled:
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_index": j,
                            "phash": _phash_bits(frame, hash_size, resample),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_index", "phash"])

    return videos.mapInPandas(
        run, schema="media_id long, frame_index int, phash long"
    )


def video_near_duplicates(media: DataFrame, min_shared: int = 2,
                          every_ms: int = 1000,
                          max_frame_freq: int = 1024) -> DataFrame:
    """(a_id, b_id, n_shared) video pairs sharing ≥ min_shared frame hashes.

    Video dedup as a composition: sampled-frame pHashes (exact 64-bit
    equality — re-encodes of the same frames hash identically), one
    equi-join on the hash value, then a pair count. Never all-pairs: only
    videos sharing a concrete frame hash meet in the join.

    The skew guard matters at scale: a near-constant frame (black, white,
    station logo) appears in millions of videos and would make the
    self-join quadratic in its frequency. Hashes seen in more than
    ``max_frame_freq`` videos are dropped before the join — the stop-gram
    trick from text passage dedup — and hashes seen in only one video
    cannot form a pair, so both tails are pruned by the same frequency
    aggregate.
    """
    per_video = (
        video_frame_phashes(media, every_ms=every_ms)
        .select("media_id", "phash")
        .distinct()
    )
    freq = per_video.groupBy("phash").agg(F.count("*").alias("n_videos"))
    joinable = freq.filter(
        (F.col("n_videos") >= 2) & (F.col("n_videos") <= max_frame_freq)
    ).select("phash")
    narrowed = per_video.join(joinable, "phash")
    a = narrowed.select(F.col("media_id").alias("a_id"), "phash")
    b = narrowed.select(F.col("media_id").alias("b_id"), "phash")
    return (
        a.join(b, "phash")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def audio_spectrogram_features(media: DataFrame, n_bands: int = 16,
                               frame_len: int = 512, hop: int = 256) -> DataFrame:
    """(media_id, feature array<double>, n_frames int, peak_hz double, decoded)
    — real signal-level audio features via framed FFT (mapInPandas).

    Per audio row: decode to mono float in [-1, 1] (int16 PCM straight
    from the WAV or FLAC — not the uint8 rebias the shared moment kernel
    uses), slice into Hann-windowed frames of ``frame_len``
    samples every ``hop``, take the real FFT power spectrum per frame,
    pool the frame_len/2+1 bins into ``n_bands`` contiguous bands, and
    emit log10 band energies: per-band mean over frames concatenated with
    per-band std (feature dim = 2*n_bands, feeds the similarity/dedup
    operators like any embedding). ``peak_hz`` is the frequency of the
    strongest non-DC bin of the frame-averaged spectrum — a cheap,
    testable tone detector.

    Scale: shuffle-free map over audio rows only; frames are a strided
    view (no copy), FFT batched as one (n_frames, frame_len) rfft call.
    """
    eps = 1e-12

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        window = np.hanning(frame_len)
        for pdf in batches:
            feats, nfr, peaks, ok = [], [], [], []
            for payload in pdf["payload"]:
                try:
                    samples, rate = _decode_pcm(bytes(payload))
                    mono = samples.astype(np.float64).mean(axis=1) / 32768.0
                    if len(mono) < frame_len:
                        mono = np.pad(mono, (0, frame_len - len(mono)))
                    n_frames = 1 + (len(mono) - frame_len) // hop
                    idx = (
                        np.arange(frame_len)[None, :]
                        + hop * np.arange(n_frames)[:, None]
                    )
                    power = np.abs(np.fft.rfft(mono[idx] * window, axis=1)) ** 2
                    bands = np.stack(
                        [b.mean(axis=1) for b in np.array_split(power, n_bands, axis=1)],
                        axis=1,
                    )
                    logb = np.log10(bands + eps)
                    v = np.concatenate([logb.mean(axis=0), logb.std(axis=0)])
                    mean_spec = power.mean(axis=0)
                    peak_bin = 1 + int(np.argmax(mean_spec[1:]))
                    feats.append([round(float(x), 9) for x in v])
                    nfr.append(n_frames)
                    peaks.append(peak_bin * float(rate) / frame_len)
                    ok.append(True)
                except (ValueError, NotImplementedError):
                    feats.append(None)
                    nfr.append(0)
                    peaks.append(None)
                    ok.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "feature": feats,
                    "n_frames": pd.array(nfr, dtype="int32"),
                    "peak_hz": pd.array(peaks, dtype="float64"),
                    "decoded": ok,
                }
            )

    return (
        media.filter(F.col("kind") == "audio")
        .select("media_id", "payload")
        .mapInPandas(
            run,
            schema=(
                "media_id long, feature array<double>, n_frames int, "
                "peak_hz double, decoded boolean"
            ),
        )
    )


def probe_media(media: DataFrame) -> DataFrame:
    """Header-level codec identification — NO pixel decode (media_probe).

    The crawl-triage stage: format/codec/dims/frames/duration/keyframes
    from header walks alone, microseconds per row, independent of whether
    the bitstream is decodable here (h264/vp9 mp4 tracks probe fine).
    Per-row degrade: malformed payloads report ok=False with the typed
    error, never kill the task. Shuffle-free map; at 100 TB this runs as
    a projection over (media_id, kind, payload) with nothing else read.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_parser_spark import media_probe

        cols = [
            "media_id", "kind", "format", "codec", "width", "height",
            "n_frames", "duration_ms", "sample_rate", "bit_depth",
            "n_keyframes", "n_bytes", "ok", "err",
        ]
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                data = bytes(payload) if payload is not None else b""
                rec = {
                    "media_id": int(mid), "kind": kind, "n_bytes": len(data),
                }
                try:
                    rec.update(media_probe.probe_bytes(data))
                    rec["ok"], rec["err"] = True, None
                except (ValueError, NotImplementedError) as exc:
                    rec.update(
                        {k: None for k in (
                            "format", "codec", "width", "height", "n_frames",
                            "duration_ms", "sample_rate", "bit_depth",
                            "n_keyframes",
                        )}
                    )
                    rec["ok"], rec["err"] = False, str(exc)[:200]
                rows.append(rec)
            out = pd.DataFrame(rows, columns=cols)
            # object dtype keeps None → null through Arrow for the
            # nullable integer columns (pandas would otherwise float them)
            for c in ("width", "height", "n_frames", "duration_ms",
                      "sample_rate", "bit_depth", "n_keyframes"):
                out[c] = out[c].astype(object)
            yield out

    return media.select("media_id", "kind", "payload").mapInPandas(
        run,
        schema=(
            "media_id long, kind string, format string, codec string, "
            "width int, height int, n_frames long, duration_ms long, "
            "sample_rate int, bit_depth int, n_keyframes long, "
            "n_bytes long, ok boolean, err string"
        ),
    )


def resize_images(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Image resize stage: decode → nearest-neighbour resample → re-encode.

    Format-preserving: every corpus image format re-encodes
    in its own container, picked by the input's sniff name (PNG/JPEG/GIF/
    BMP/TIFF/ICO via the from-scratch codecs; WebP back as WebP in the
    lossless flavor; AVIF and HEIC via the optional native encoders, PNG
    where an encoder is absent or refuses the size, e.g. under rav1e's
    16x16 floor) — output payloads are themselves decodable, so resize
    chains compose.
    Undecodable images pass through as they are; non-image rows pass
    through untouched (filter pushdown keeps them out of the UDF
    entirely).
    """
    images = media.filter(F.col("kind") == "image")
    other = media.filter(F.col("kind") != "image")

    def reencode(fmt: str | None, arr: np.ndarray) -> bytes:
        from pdf_parser_spark import (
            avif_codec, bmp_codec, gif_codec, heif_codec, jpeg_codec,
            media_codecs, tiff_codec, webp_codec,
        )

        a = arr[:, :, None] if arr.ndim == 2 else arr
        rgb = np.repeat(a, 3, axis=2) if a.shape[2] == 1 else a[:, :, :3]
        alpha = (
            arr[:, :, 3:4] if arr.ndim == 3 and arr.shape[2] == 4
            else np.full(rgb.shape[:2] + (1,), 255, np.uint8)
        )
        rgba = np.concatenate([rgb, alpha], axis=-1)

        def native(encode):
            try:
                return encode(rgb)
            except (NotImplementedError, ValueError):
                # no encoder here, or a size under its floor (rav1e 16x16)
                return media_codecs.encode_png(arr)

        encoders = {
            "jpeg": lambda: jpeg_codec.encode_jpeg(
                arr if arr.ndim == 2 or arr.shape[2] in (1, 3) else rgb,
                quality=90,
            ),
            # resize adds no colors, so the exact-palette writer fits
            "gif": lambda: gif_codec.encode_gif(rgb),
            "bmp": lambda: bmp_codec.encode_bmp(rgb),
            "tiff": lambda: tiff_codec.encode_tiff(rgb, compression="lzw"),
            "ico": lambda: bmp_codec.encode_ico([rgba]),
            "webp": lambda: webp_codec.encode_webp_lossless(rgba),
            "avif": lambda: native(avif_codec.encode_avif_rgb),
            "heic": lambda: native(heif_codec.encode_heic_native),
        }
        return encoders.get(fmt, lambda: media_codecs.encode_png(arr))()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload = []
            for payload in pdf["payload"]:
                data = bytes(payload)
                try:
                    arr = _decode(data, "image")
                except (ValueError, NotImplementedError):
                    out_payload.append(data)  # undecodable: pass through
                    continue
                ys = (np.arange(height) * arr.shape[0] // height)
                xs = (np.arange(width) * arr.shape[1] // width)
                out_payload.append(reencode(_sniff(data), arr[ys][:, xs]))
            pdf = pdf.assign(payload=out_payload)
            yield pdf

    resized = images.mapInPandas(run, schema=media.schema)
    return resized.unionByName(other)


def _decode_sampled(data: bytes, duration_ms, every_ms: int):
    """The shared sampling rule: [(j, frame j)] for the first
    max(1, duration_ms // every_ms) frames, capped at the frame count.
    Y4M/mp4/mkv rows are parsed once and decode only those frames (a
    2-hour mp4 sampled every minute decodes ~120 frames, not ~200k); GIF
    and animated WebP composite every frame from frame 0, so they decode
    in full."""
    n = max(1, int(duration_ms or 0) // every_ms)
    path = _VIDEO.get(_sniff(data))
    if path is None:
        return list(enumerate(_decode(data, "video")[:n]))
    return list(enumerate(_codec(path)(data, indices=range(n))))


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling: one output row per sampled frame (fan-out map).

    Frame count derives from meta.duration_ms, and the decode is
    SELECTIVE (_decode_sampled): sample-table byte ranges for raw
    mp4/mkv, per-temporal-unit AV1 decode from the nearest sync frame,
    frame offsets for y4m — so a 2h video decodes once per sampled
    frame, not whole-file (composited GIF/animated-WebP rows take the
    full decode their format requires)."""
    videos = media.filter(F.col("kind") == "video").select(
        "media_id", "payload", F.col("meta.duration_ms").alias("duration_ms")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, dur in zip(pdf["media_id"], pdf["payload"], pdf["duration_ms"]):
                try:
                    sampled = _decode_sampled(bytes(payload), dur, every_ms)
                except (ValueError, NotImplementedError):
                    continue  # corrupt/undecodable video: drop the row
                for j, frame in sampled:
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_index": j,
                            "ts_ms": j * every_ms,
                            "frame_bytes": zlib.compress(frame.tobytes()),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_index", "ts_ms", "frame_bytes"]
            )

    return videos.mapInPandas(
        run, schema="media_id long, frame_index int, ts_ms int, frame_bytes binary"
    )
