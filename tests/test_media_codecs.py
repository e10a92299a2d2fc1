"""From-scratch PNG/WAV/Y4M/mp4 codecs + the multimodal operators' REAL
decode branch (round 4: previously env-gated behind absent PIL/ffmpeg, now
executed for image/audio/video via stdlib codecs — video through raw
YUV4MPEG2 and raw-RGB mp4 (ISO BMFF demux); only compressed BITSTREAMS
(h264/vp9/av1, mp3) stay gated, at the codec layer, after a real demux)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from pdf_parser_spark import media_codecs


def _rng(seed=0):
    return np.random.default_rng(seed)


@pytest.mark.parametrize("shape", [(5, 7), (5, 7, 1), (4, 6, 2), (8, 3, 3), (2, 2, 4)])
def test_png_round_trip(shape):
    arr = _rng(1).integers(0, 256, size=shape, dtype=np.uint8)
    out = media_codecs.decode_png(media_codecs.encode_png(arr))
    want = arr if arr.ndim == 3 else arr[:, :, None]
    assert np.array_equal(out, want)


def test_png_rejects_non_png():
    with pytest.raises(ValueError, match="signature"):
        media_codecs.decode_png(b"JFIF not a png")


def test_png_decodes_all_filter_types():
    """Hand-build an IDAT using every filter type; verify against a scalar
    reference reconstruction of the spec's recurrences."""
    h, w, ch = 5, 4, 3
    arr = _rng(2).integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    stride = w * ch

    # reference filtering (spec 'filter' direction), one type per row
    flat = arr.reshape(h, stride).astype(np.int32)
    raws = []
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        up = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        line = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = up[x]
            c = up[x - ch] if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[x] = (cur[x] - pred) & 0xFF
        raws.append(bytes([ftype]) + bytes(line.astype(np.uint8)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + media_codecs._chunk(b"IHDR", ihdr)
        + media_codecs._chunk(b"IDAT", zlib.compress(b"".join(raws)))
        + media_codecs._chunk(b"IEND", b"")
    )
    assert np.array_equal(media_codecs.decode_png(data), arr)


def test_png_rejects_unsupported_features():
    arr = _rng(3).integers(0, 256, size=(3, 3, 3), dtype=np.uint8)
    good = media_codecs.encode_png(arr)
    # flip the interlace byte inside IHDR (offset: sig 8 + len 4 + tag 4 + 12)
    bad = bytearray(good)
    bad[8 + 4 + 4 + 12] = 1
    with pytest.raises(ValueError, match="interlaced"):
        media_codecs.decode_png(bytes(bad))


@pytest.mark.parametrize("channels", [1, 2])
def test_wav_round_trip(channels):
    samples = _rng(4).integers(-(1 << 15), 1 << 15, size=(300, channels)).astype(np.int16)
    data = media_codecs.encode_wav(samples, sample_rate=22050)
    out, rate = media_codecs.decode_wav(data)
    assert rate == 22050
    assert np.array_equal(out, samples)


def test_wav_rejects_non_wav():
    with pytest.raises(ValueError, match="RIFF"):
        media_codecs.decode_wav(b"\x89PNG not audio")


# --- Spark: the multimodal operators' real branch -------------------------


def test_extract_features_real_branch(spark):
    from pdf_parser_spark.operators import multimodal

    media = multimodal.media_table(spark, n_rows=24)
    rows = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    kinds = {i: ("image", "audio", "video")[i % 3] for i in range(24)}
    for i, r in rows.items():
        # every kind decodes for real now: PNG / WAV / Y4M stdlib codecs
        assert r["decoded"], f"{kinds[i]} {i} failed real decode"
        assert len(r["feature"]) == multimodal.FEATURE_DIM
    # features are real functions of the pixel/sample content: distinct
    # payloads must not collapse to one vector
    img_feats = {tuple(r["feature"]) for i, r in rows.items() if kinds[i] == "image"}
    assert len(img_feats) > 1


def test_resize_images_real_produces_decodable_output(spark):
    """Resize is format-preserving: PNG rows stay PNG, JFIF rows stay JFIF,
    and every output payload decodes at the requested size."""
    from pyspark.sql import functions as F

    from pdf_parser_spark import jpeg_codec
    from pdf_parser_spark.operators import multimodal

    media = multimodal.media_table(spark, n_rows=30)
    in_fmt = {r["media_id"]: bytes(r["payload"])[:2]
              for r in media.filter(F.col("kind") == "image").collect()}
    out = multimodal.resize_images(media, width=16, height=10)
    imgs = out.filter(F.col("kind") == "image").select("media_id", "payload").collect()
    assert imgs
    seen_fmts = set()
    for r in imgs:
        data = bytes(r["payload"])
        # format-preserving: same container magic in and out, and the
        # output itself decodes at the requested size through the same
        # dispatch the pipeline uses. Exception: AVIF inputs (ftyp size
        # prefix \x00\x00) fall back to PNG under rav1e's 16x16 encode
        # floor — the 10px target here is exactly that case.
        if in_fmt[r["media_id"]] == b"\x00\x00":
            assert data[:2] in (b"\x00\x00", b"\x89P")
        else:
            assert data[:2] == in_fmt[r["media_id"]]
        arr = multimodal._decode(data, "image")
        assert arr.shape[:2] == (10, 16)
        seen_fmts.add(bytes(in_fmt[r["media_id"]]))
    # the 30-row corpus spans PNG, JPEG, WebP, GIF, BMP, TIFF, ICO,
    # AVIF (ftyp size prefix \x00\x00), progressive JPEG
    assert len(seen_fmts) >= 6, seen_fmts
    # non-image rows pass through byte-identical
    audio_in = {r["media_id"]: bytes(r["payload"])
                for r in media.filter(F.col("kind") == "audio").collect()}
    audio_out = {r["media_id"]: bytes(r["payload"])
                 for r in out.filter(F.col("kind") == "audio").collect()}
    assert audio_in == audio_out


# --- Y4M (YUV4MPEG2) -------------------------------------------------------


@pytest.mark.parametrize("cs", ["C444", "C420jpeg"])
def test_y4m_round_trip(cs):
    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, size=(3, 12, 16, 3), dtype=np.uint8)
    data = media_codecs.encode_y4m(frames, colorspace=cs)
    got = media_codecs.decode_y4m(data)
    assert got.shape == frames.shape and got.dtype == np.uint8
    # luma survives byte-exact in both colorspaces
    assert np.array_equal(got[..., 0], frames[..., 0])
    if cs == "C444":
        assert np.array_equal(got, frames)
    else:
        # 2x2 averaged then nearest-upsampled chroma: within quantization
        assert np.max(np.abs(got[..., 1:].astype(int) - frames[..., 1:].astype(int))) <= 192
        # every 2x2 block is constant after the round trip
        u = got[..., 1]
        assert np.array_equal(u[:, ::2, :], u[:, 1::2, :])


def test_y4m_rejects_bad_input():
    with pytest.raises(ValueError):
        media_codecs.decode_y4m(b"not a y4m")
    frames = np.zeros((1, 4, 4, 3), dtype=np.uint8)
    data = media_codecs.encode_y4m(frames)
    with pytest.raises(ValueError):
        media_codecs.decode_y4m(data[:-5])  # truncated frame
    with pytest.raises(ValueError):
        media_codecs.encode_y4m(np.zeros((1, 4, 4), dtype=np.uint8))


def test_y4m_zero_frames():
    data = media_codecs.encode_y4m(np.zeros((0, 4, 6, 3), dtype=np.uint8))
    got = media_codecs.decode_y4m(data)
    assert got.shape == (0, 4, 6, 3)


def test_sample_frames_real_branch(spark):
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators import multimodal

    media = multimodal.media_table(spark, n_rows=12)
    out = multimodal.sample_frames(media, every_ms=1000).collect()
    assert out
    vids = {r["media_id"] for r in out}
    assert vids == {i for i in range(12) if i % 3 == 2}
    # frame bytes decompress to full-res YUV frames of the advertised size
    import zlib as _z

    meta = {r["media_id"]: r for r in media.filter(F.col("kind") == "video")
            .select("media_id", "meta.width", "meta.height").collect()}
    for r in out[:8]:
        m = meta[r["media_id"]]
        arr = np.frombuffer(_z.decompress(bytes(r["frame_bytes"])), np.uint8)
        assert arr.size == m["width"] * m["height"] * 3


# --- mp4 (ISO BMFF) ---------------------------------------------------------


@pytest.mark.parametrize("n_frames,spc", [(1, 2), (6, 3), (9, 2), (5, 1)])
def test_mp4_round_trip(n_frames, spc):
    from pdf_parser_spark import mp4_demux

    frames = _rng(n_frames * 31 + spc).integers(
        0, 256, size=(n_frames, 6, 8, 3), dtype=np.uint8
    )
    data = mp4_demux.encode_mp4_raw(frames, fps=(30, 1), samples_per_chunk=spc)
    got = mp4_demux.decode_mp4(data)
    assert got.shape == frames.shape
    assert np.array_equal(got, frames)  # byte-identical through the container


def test_mp4_sample_table_semantics():
    from pdf_parser_spark import mp4_demux

    frames = np.zeros((9, 4, 4, 3), dtype=np.uint8)
    data = mp4_demux.encode_mp4_raw(
        frames, fps=(25, 1), samples_per_chunk=2, sync_every=4
    )
    track = mp4_demux.demux_mp4(data)
    assert track.codec == "raw " and (track.width, track.height) == (4, 4)
    assert len(track.samples) == 9
    # stts: constant 1-tick delta at timescale 25 -> 40 ms cadence (int floor)
    assert [s.ts_ms for s in track.samples] == [i * 1000 // 25 for i in range(9)]
    # stss: every 4th sample is sync, starting at sample 1
    assert [s.is_sync for s in track.samples] == [i % 4 == 0 for i in range(9)]
    # stsc/stco: 2-per-chunk with a short last chunk; offsets tile mdat
    sizes = {s.size for s in track.samples}
    assert sizes == {4 * 4 * 3}
    offs = [s.offset for s in track.samples]
    assert offs == sorted(offs)
    for s in track.samples:  # every byte range lies inside the file
        assert 0 < s.offset and s.offset + s.size <= len(data)


def test_mp4_compressed_codec_demuxes_but_gates_decode():
    from pdf_parser_spark import mp4_demux

    frames = np.zeros((4, 4, 4, 3), dtype=np.uint8)
    data = bytearray(mp4_demux.encode_mp4_raw(frames))
    i = data.find(b"raw ", data.find(b"stsd"))
    data[i : i + 4] = b"avc1"  # pretend the track is H.264
    track = mp4_demux.demux_mp4(bytes(data))  # demux is codec-independent
    assert track.codec == "avc1" and len(track.samples) == 4
    with pytest.raises(NotImplementedError):
        mp4_demux.decode_mp4(bytes(data))


def test_mp4_rejects_bad_input():
    from pdf_parser_spark import mp4_demux

    with pytest.raises(ValueError):
        mp4_demux.demux_mp4(b"not an mp4 at all")
    frames = np.zeros((2, 4, 4, 3), dtype=np.uint8)
    data = mp4_demux.encode_mp4_raw(frames)
    with pytest.raises(ValueError):
        mp4_demux.demux_mp4(data[: len(data) // 2])  # moov truncated away
    with pytest.raises(ValueError):
        mp4_demux.encode_mp4_raw(np.zeros((0, 4, 4, 3), dtype=np.uint8))


def test_mp4_real_video_rows_flow_through_operators(spark):
    """media_table real video rows mix mp4 and y4m; both decode for real
    through extract_features and sample_frames."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators import multimodal

    media = multimodal.media_table(spark, n_rows=24)
    vids = media.filter(F.col("kind") == "video").collect()
    sigs = {int(r["media_id"]): bytes(r["payload"])[:12] for r in vids}
    assert any(sig[4:8] == b"ftyp" for sig in sigs.values())
    assert any(sig.startswith(b"YUV4MPEG2") for sig in sigs.values())
    feats = {r["media_id"]: r for r in
             multimodal.extract_features(media).collect()}
    for i in sigs:
        assert feats[i]["decoded"], f"video {i} failed real decode"
    frames = multimodal.sample_frames(media, every_ms=1000).collect()
    assert {r["media_id"] for r in frames} == set(sigs)


# --- mkv / webm (EBML) -------------------------------------------------------


@pytest.mark.parametrize("doctype", ["matroska", "webm"])
@pytest.mark.parametrize("n_frames,fpc", [(1, 4), (8, 4), (9, 2)])
def test_mkv_round_trip(doctype, n_frames, fpc):
    from pdf_parser_spark import mkv_demux

    frames = _rng(n_frames * 17 + fpc).integers(
        0, 256, size=(n_frames, 5, 7, 3), dtype=np.uint8
    )
    data = mkv_demux.encode_mkv_raw(
        frames, frame_ms=40, frames_per_cluster=fpc, doctype=doctype
    )
    got = mkv_demux.decode_mkv(data)
    assert got.shape == frames.shape
    assert np.array_equal(got, frames)  # byte-identical through the container


def test_mkv_frame_table_semantics():
    from pdf_parser_spark import mkv_demux

    frames = np.zeros((9, 4, 6, 3), dtype=np.uint8)
    data = mkv_demux.encode_mkv_raw(
        frames, frame_ms=40, frames_per_cluster=4, key_every=3
    )
    t = mkv_demux.demux_mkv(data)
    assert t.codec == "V_UNCOMPRESSED" and (t.width, t.height) == (6, 4)
    assert len(t.frames) == 9
    # cluster base + block-relative timestamps reassemble to the cadence
    assert [f.ts_ms for f in t.frames] == [i * 40 for i in range(9)]
    assert [f.is_key for f in t.frames] == [i % 3 == 0 for i in range(9)]
    for f in t.frames:
        assert 0 < f.offset and f.offset + f.size <= len(data)


def test_mkv_compressed_codec_demuxes_but_gates_decode():
    from pdf_parser_spark import mkv_demux

    frames = np.zeros((3, 4, 4, 3), dtype=np.uint8)
    data = bytearray(mkv_demux.encode_mkv_raw(frames))
    i = data.find(b"V_UNCOMPRESSED")
    data[i : i + 14] = b"V_VP9" + b"\x00" * 9  # pretend the track is VP9
    t = mkv_demux.demux_mkv(bytes(data))
    assert t.codec == "V_VP9" and len(t.frames) == 3
    with pytest.raises(NotImplementedError):
        mkv_demux.decode_mkv(bytes(data))


def test_mkv_rejects_bad_input():
    from pdf_parser_spark import mkv_demux

    with pytest.raises(ValueError):
        mkv_demux.demux_mkv(b"RIFF not matroska")
    frames = np.zeros((2, 4, 4, 3), dtype=np.uint8)
    data = mkv_demux.encode_mkv_raw(frames)
    with pytest.raises(ValueError):
        mkv_demux.demux_mkv(data[: len(data) - 10])  # truncated cluster
    with pytest.raises(ValueError):
        mkv_demux.encode_mkv_raw(np.zeros((0, 4, 4, 3), dtype=np.uint8))


def test_all_three_video_containers_flow_through_operators(spark):
    """Real video rows rotate mp4 / mkv-webm / y4m; all decode for real."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators import multimodal

    media = multimodal.media_table(spark, n_rows=27)
    vids = media.filter(F.col("kind") == "video").collect()
    sigs = {int(r["media_id"]): bytes(r["payload"])[:12] for r in vids}
    assert any(s[4:8] == b"ftyp" for s in sigs.values())
    assert any(s.startswith(b"\x1a\x45\xdf\xa3") for s in sigs.values())
    assert any(s.startswith(b"YUV4MPEG2") for s in sigs.values())
    feats = {r["media_id"]: r for r in
             multimodal.extract_features(media).collect()}
    for i in sigs:
        assert feats[i]["decoded"], f"video {i} failed real decode"
    mimes = {r["media_id"]: r["meta"]["mime"] for r in vids}
    for i, sig in sigs.items():
        want = ("video/mp4" if sig[4:8] == b"ftyp"
                else "video/webm" if sig.startswith(b"\x1a\x45\xdf\xa3")
                else "image/webp" if sig[:4] == b"RIFF"
                else "video/x-yuv4mpeg")
        assert mimes[i] == want


# --- selective frame decode --------------------------------------------------


def test_selective_decode_equals_full_decode():
    """_decode_sampled must emit byte-identical frames to the full-decode
    sampling rule for every video container the corpus mints."""
    from pdf_parser_spark.operators import multimodal as mm

    for i in range(2, 38, 3):  # one pass over all six video sub-slots
        payload, mime = mm._real_payload(i, "video")
        dur = (i % 30 + 1) * 1000
        for ev in (700, 1500):
            sel = mm._decode_sampled(payload, dur, ev)
            frames = mm._decode(payload, "video")
            n = max(1, dur // ev)
            ref = [(j, frames[j % len(frames)]) for j in range(min(n, len(frames)))]
            assert len(sel) == len(ref), (i, mime, ev)
            for (ja, fa), (jb, fb) in zip(sel, ref):
                assert ja == jb and np.array_equal(fa, fb), (i, mime, ev, ja)


def test_selective_decode_does_not_touch_unrequested_samples():
    """Corrupt the LAST temporal unit of an av01 mp4: the full decode
    dies in the OBU layer, but sampling earlier frames still works —
    proof the selective path decodes only what it was asked for."""
    from pdf_parser_spark import mp4_demux
    from pdf_parser_spark.av1_codec import encode_av1_native, have_native_encoder
    from pdf_parser_spark.operators import multimodal as mm

    if not have_native_encoder():
        pytest.skip("librav1e absent")
    rng = np.random.default_rng(0)
    planes = [
        (
            rng.integers(0, 256, (32, 48), np.uint8),
            rng.integers(0, 256, (16, 24), np.uint8),
            rng.integers(0, 256, (16, 24), np.uint8),
        )
        for _ in range(4)
    ]
    blob = bytearray(
        mp4_demux.encode_mp4_av1(encode_av1_native(planes, quantizer=120))
    )
    track = mp4_demux.demux_mp4(bytes(blob))
    blob[track.samples[-1].offset] |= 0x80  # OBU forbidden bit
    blob = bytes(blob)
    with pytest.raises(ValueError, match="forbidden bit"):
        mm._decode(blob, "video")
    assert len(mp4_demux.decode_mp4(blob, indices=[0, 1, 2])) == 3
    # and the sampling rule rides the selective path for those frames
    sampled = mm._decode_sampled(blob, 3000, 1000)
    assert [j for j, _ in sampled] == [0, 1, 2]


def test_container_decoders_take_the_frames_to_decode():
    """decode_y4m / decode_mp4 / decode_mkv with ``indices`` return exactly
    those frames of the full decode; numbers past the end are skipped."""
    from pdf_parser_spark import media_codecs, mkv_demux, mp4_demux

    frames = np.random.default_rng(3).integers(
        0, 256, size=(5, 8, 12, 3), dtype=np.uint8
    )
    for decode, blob in (
        (media_codecs.decode_y4m, media_codecs.encode_y4m(frames)),
        (mp4_demux.decode_mp4, mp4_demux.encode_mp4_raw(frames)),
        (mkv_demux.decode_mkv, mkv_demux.encode_mkv_raw(frames)),
    ):
        full = decode(blob)
        assert np.array_equal(decode(blob, indices=[1, 3]), full[[1, 3]])
        assert np.array_equal(decode(blob, indices=range(9)), full)
        assert decode(blob, indices=[]).shape == (0, 8, 12, 3)


def test_decode_sampled_demuxes_each_container_row_once(monkeypatch):
    """Sampling an mp4 or mkv row walks its container once: the frame
    count and the frames come from the same demux."""
    from pdf_parser_spark import mkv_demux, mp4_demux
    from pdf_parser_spark.operators import multimodal as mm

    calls = []
    for module, name in ((mp4_demux, "demux_mp4"), (mkv_demux, "demux_mkv")):
        def counted(data, _real=getattr(module, name), _name=name):
            calls.append(_name)
            return _real(data)

        monkeypatch.setattr(module, name, counted)
    for i, name in ((2, "demux_mp4"), (5, "demux_mkv")):  # raw mp4, raw mkv
        payload, _mime = mm._real_payload(i, "video")
        calls.clear()
        assert [j for j, _ in mm._decode_sampled(payload, 3000, 1000)] == [0, 1, 2]
        assert calls == [name]
