"""Image perceptual-hash near-dup + framed-FFT audio features.

Round-4 additions to the multimodal operator set: image dedup via DCT
pHash (Hamming-banded candidates through the SimHash pigeonhole machinery)
and real signal-level audio features (Hann-windowed rfft band energies).
Everything here is deterministic and from public formulas (DCT-II 'ortho'
basis, classic pHash recipe, short-time power spectrum).
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf_parser_spark import media_codecs
from pdf_parser_spark.operators import multimodal as mm

MEDIA_COLS = ["media_id", "url", "kind", "payload", "meta"]


def _media_row(i: int, kind: str, payload: bytes, sample_rate=None):
    return (
        i,
        f"https://host/{i}",
        kind,
        payload,
        {"mime": None, "width": None, "height": None,
         "duration_ms": None, "sample_rate": sample_rate},
    )


def _image_df(spark, arrays):
    rows = [
        _media_row(i, "image", media_codecs.encode_png(a))
        for i, a in enumerate(arrays)
    ]
    return spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)


# ---------------------------------------------------------------- DCT basis


def test_dct_matrix_matches_direct_formula():
    n = 8
    d = mm._dct_matrix(n)
    # direct O(n^2) evaluation of the orthonormal DCT-II definition
    want = np.zeros((n, n))
    for k in range(n):
        ck = np.sqrt(1.0 / n) if k == 0 else np.sqrt(2.0 / n)
        for m_ in range(n):
            want[k, m_] = ck * np.cos(np.pi * (2 * m_ + 1) * k / (2 * n))
    assert np.allclose(d, want, atol=1e-12)
    # orthonormal: D @ D.T == I
    assert np.allclose(d @ d.T, np.eye(n), atol=1e-12)


def test_phash_bits_is_deterministic_and_64bit_safe():
    arr = np.random.default_rng(7).integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
    h1 = mm._phash_bits(arr)
    h2 = mm._phash_bits(arr.copy())
    assert h1 == h2
    assert 0 <= h1 < (1 << 63)  # DC dropped -> top bit always clear


def test_phash_rejects_oversized_hash():
    arr = np.zeros((32, 32), dtype=np.uint8)
    with pytest.raises(ValueError, match="64-bit"):
        mm._phash_bits(arr, hash_size=9)


def test_phash_brightness_shift_invariant():
    # constant brightness offset only moves the DC coefficient, which the
    # hash drops -> identical hash (pixels kept clip-free)
    rng = np.random.default_rng(11)
    base = rng.integers(20, 200, size=(48, 64, 3), dtype=np.uint8)
    assert mm._phash_bits(base) == mm._phash_bits(base + 20)


def test_phash_separates_unrelated_images():
    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
    b = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
    dist = bin(mm._phash_bits(a) ^ mm._phash_bits(b)).count("1")
    assert dist > 10  # expected ~31.5 for independent hashes


# ------------------------------------------------------------- Spark pHash


def test_image_phash_matches_local_kernel(spark):
    rng = np.random.default_rng(5)
    arrays = [
        rng.integers(0, 256, size=(40 + 4 * i, 56 + 4 * i, 3), dtype=np.uint8)
        for i in range(6)
    ]
    got = {
        r["media_id"]: r["phash"]
        for r in mm.image_phash(_image_df(spark, arrays)).collect()
    }
    want = {i: mm._phash_bits(a) for i, a in enumerate(arrays)}
    assert got == want


def test_image_phash_filters_to_images_only(spark):
    media = mm.media_table(spark, n_rows=24, partitions=2)
    out = mm.image_phash(media)
    rows = out.collect()
    image_ids = {i for i in range(24) if i % 3 == 0}
    assert {r["media_id"] for r in rows} == image_ids
    assert all(r["decoded"] for r in rows)


def test_image_near_duplicates_brute_force_parity(spark):
    # corpus: 12 base images + a perturbed near-copy of each (small pixel
    # noise on a few sites) + brightness-shifted exact twins
    rng = np.random.default_rng(9)
    arrays = []
    for _ in range(12):
        base = rng.integers(20, 200, size=(48, 64, 3), dtype=np.uint8)
        near = base.copy()
        ys = rng.integers(0, 48, size=30)
        xs = rng.integers(0, 64, size=30)
        near[ys, xs] = rng.integers(0, 256, size=(30, 3), dtype=np.uint8)
        arrays.extend([base, near, base + 20])
    max_h = 10
    pairs = mm.image_near_duplicates(
        _image_df(spark, arrays), max_hamming=max_h
    ).collect()
    got = {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs}
    # brute force over the same hashes
    hashes = [mm._phash_bits(a) for a in arrays]
    want = {}
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            d = bin(hashes[i] ^ hashes[j]).count("1")
            if d <= max_h:
                want[(i, j)] = d
    assert got == want  # recall 1.0 by pigeonhole, precision exact by popcount
    # the construction planted each (base, +20-twin) pair at distance 0
    n = len(arrays)
    assert all(want.get((i, i + 2), 99) == 0 for i in range(0, n, 3))


# ------------------------------------------------------------- audio FFT


def _wav_df(spark, rows):
    """rows: list of (media_id, int16 mono samples, rate)."""
    data = [
        _media_row(i, "audio", media_codecs.encode_wav(s, sample_rate=r), r)
        for i, s, r in rows
    ]
    return spark.createDataFrame(data, schema=mm.MEDIA_SCHEMA)


def test_spectrogram_peak_finds_pure_tone(spark):
    rate, f = 16000, 2000.0
    t = np.arange(rate) / rate  # 1 second
    tone = (10000 * np.sin(2 * np.pi * f * t)).astype(np.int16)
    out = mm.audio_spectrogram_features(_wav_df(spark, [(0, tone, rate)])).collect()
    assert len(out) == 1 and out[0]["decoded"]
    # bin resolution = rate / frame_len = 31.25 Hz
    assert abs(out[0]["peak_hz"] - f) <= 16000 / 512
    assert out[0]["n_frames"] == 1 + (rate - 512) // 256
    assert len(out[0]["feature"]) == 32


def test_spectrogram_matches_numpy_twin(spark):
    rng = np.random.default_rng(21)
    samples = rng.integers(-20000, 20000, size=4096).astype(np.int16)
    rate, frame_len, hop, n_bands = 16000, 512, 256, 16
    row = mm.audio_spectrogram_features(
        _wav_df(spark, [(0, samples, rate)]),
        n_bands=n_bands, frame_len=frame_len, hop=hop,
    ).collect()[0]
    # direct per-frame recomputation (loop form, no strided view)
    mono = samples.astype(np.float64) / 32768.0
    window = np.hanning(frame_len)
    n_frames = 1 + (len(mono) - frame_len) // hop
    power = np.stack([
        np.abs(np.fft.rfft(mono[k * hop:k * hop + frame_len] * window)) ** 2
        for k in range(n_frames)
    ])
    logb = np.log10(np.stack(
        [b.mean(axis=1) for b in np.array_split(power, n_bands, axis=1)], axis=1
    ) + 1e-12)
    want = np.concatenate([logb.mean(axis=0), logb.std(axis=0)])
    assert np.allclose(np.array(row["feature"]), want, atol=1e-8)


def test_spectrogram_short_clip_pads_to_one_frame(spark):
    samples = (np.ones(100) * 5000).astype(np.int16)
    row = mm.audio_spectrogram_features(
        _wav_df(spark, [(0, samples, 16000)])
    ).collect()[0]
    assert row["decoded"] and row["n_frames"] == 1


def test_spectrogram_covers_audio_rows_only(spark):
    media = mm.media_table(spark, n_rows=30, partitions=3)
    rows = mm.audio_spectrogram_features(media).collect()
    audio_ids = {i for i in range(30) if i % 3 == 1}
    assert {r["media_id"] for r in rows} == audio_ids
    assert all(r["decoded"] and len(r["feature"]) == 32 for r in rows)
    # deterministic: same table twice -> same features
    again = mm.audio_spectrogram_features(media).collect()
    assert {r["media_id"]: r["feature"] for r in rows} == {
        r["media_id"]: r["feature"] for r in again
    }


# ---------------------------------------------------------- video near-dup


def _video_df(spark, rows):
    """rows: list of (media_id, (n,h,w,3) uint8 frames) — 1 fps Y4M."""
    data = []
    for i, frames in rows:
        r = _media_row(i, "video", media_codecs.encode_y4m(frames, colorspace="C444"))
        r[4]["duration_ms"] = len(frames) * 1000
        data.append(r)
    return spark.createDataFrame(data, schema=mm.MEDIA_SCHEMA)


def _frames(seed, n, h=32, w=32):
    return np.random.default_rng(seed).integers(
        0, 256, size=(n, h, w, 3), dtype=np.uint8
    )


def test_video_frame_phashes_sampling_and_determinism(spark):
    fa = _frames(1, 6)
    out = mm.video_frame_phashes(_video_df(spark, [(0, fa)])).collect()
    assert sorted(r["frame_index"] for r in out) == list(range(6))
    want = {j: mm._phash_bits(fa[j]) for j in range(6)}
    assert {r["frame_index"]: r["phash"] for r in out} == want


def test_video_near_duplicates_shared_frames(spark):
    fa = _frames(1, 6)
    fb = np.concatenate([fa[:3], _frames(2, 3)])  # shares 3 frames with A
    fc = _frames(3, 6)                            # shares none
    df = _video_df(spark, [(0, fa), (1, fb), (2, fc)])
    pairs = mm.video_near_duplicates(df, min_shared=2).collect()
    assert [(r["a_id"], r["b_id"], r["n_shared"]) for r in pairs] == [(0, 1, 3)]


def test_video_near_duplicates_stop_frame_guard(spark):
    # 5 videos all containing the same constant frame + one unique frame:
    # without the frequency guard the constant frame pairs everything
    black = np.zeros((1, 32, 32, 3), dtype=np.uint8)
    rows = [
        (i, np.concatenate([black, _frames(100 + i, 1)])) for i in range(5)
    ]
    df = _video_df(spark, rows)
    unguarded = mm.video_near_duplicates(
        df, min_shared=1, max_frame_freq=1024
    ).count()
    guarded = mm.video_near_duplicates(
        df, min_shared=1, max_frame_freq=3
    ).count()
    assert unguarded == 10  # C(5,2) via the stop frame
    assert guarded == 0     # stop frame dropped, unique frames pair nothing


def test_video_frame_phashes_cover_video_rows(spark):
    from pdf_parser_spark import media_probe

    media = mm.media_table(spark, n_rows=30, partitions=3)
    out = mm.video_frame_phashes(media).collect()
    video_ids = {i for i in range(30) if i % 3 == 2}
    assert {r["media_id"] for r in out} == video_ids
    # sampling caps at min(duration_s, the payload's frame count)
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_index"])
    n_frames = {
        r["media_id"]: media_probe.probe_bytes(bytes(r["payload"]))["n_frames"]
        for r in media.where("kind = 'video'").collect()
    }
    assert all(
        len(v) == min((i % 30) + 1, n_frames[i]) for i, v in by_id.items()
    )


def test_decode_dispatch_webp_matches_png():
    """A lossless-WebP payload decodes to the same pixels as the PNG of
    the same image, so pHash and every downstream feature agree."""
    from pdf_parser_spark import webp_codec

    rng = np.random.default_rng(21)
    rgb = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    rgba = np.dstack([rgb, np.full((24, 32, 1), 255, dtype=np.uint8)])
    via_webp = mm._decode(webp_codec.encode_webp_lossless(rgba), "image")
    via_png = mm._decode(media_codecs.encode_png(rgb), "image")
    assert np.array_equal(via_webp[:, :, :3], via_png[:, :, :3])
    # a truncated lossy VP8 chunk fails typed AFTER a real container
    # parse; real lossy frames decode via vp8_codec (test_vp8_codec.py)
    lossy = (b"RIFF" + (20).to_bytes(4, "little") + b"WEBP" + b"VP8 "
             + (4).to_bytes(4, "little") + b"\x00" * 4)
    with pytest.raises(ValueError):
        mm._decode(lossy, "image")


def test_decode_dispatch_flac_matches_wav():
    """A FLAC payload and a WAV of the same samples produce identical
    decoded arrays (and therefore identical audio features)."""
    from pdf_parser_spark import flac_codec

    t = np.arange(12000)
    pcm = (9000 * np.sin(t * 0.02) + 800 * np.sin(t * 0.31)).astype(np.int16)
    via_flac = mm._decode(flac_codec.encode_flac(pcm, 16000), "audio")
    via_wav = mm._decode(media_codecs.encode_wav(pcm, 16000), "audio")
    assert np.array_equal(via_flac, via_wav)


def test_decode_dispatch_bmp_and_ico():
    from pdf_parser_spark import bmp_codec

    rng = np.random.default_rng(8)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    rgba = np.dstack([rgb, np.full((16, 16, 1), 255, dtype=np.uint8)])
    via_bmp = mm._decode(bmp_codec.encode_bmp(rgba), "image")
    via_png = mm._decode(media_codecs.encode_png(rgb), "image")
    assert np.array_equal(via_bmp[:, :, :3], via_png[:, :, :3])
    via_ico = mm._decode(bmp_codec.encode_ico([rgba]), "image")
    assert np.array_equal(via_ico, rgba)


def test_decode_dispatch_tiff():
    from pdf_parser_spark import tiff_codec

    rng = np.random.default_rng(12)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    via_tiff = mm._decode(tiff_codec.encode_tiff(rgb, compression="lzw"),
                          "image")
    via_png = mm._decode(media_codecs.encode_png(rgb), "image")
    assert np.array_equal(via_tiff, via_png[:, :, :3])


def test_corrupt_payloads_degrade_per_row(spark):
    """A corrupt payload must drop/flag its OWN row, never kill the task
    — the crawl-robustness contract for every media operator."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    good = media_codecs.encode_png(img)
    bad = bytearray(good)
    bad[40] ^= 0xFF  # corrupt IDAT
    meta = {"mime": None, "width": None, "height": None,
            "duration_ms": None, "sample_rate": None}
    rows = [(0, "u0", "image", good, meta),
            (1, "u1", "image", bytes(bad), meta)]
    df = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    got = mm.extract_features(df).orderBy("media_id").collect()
    assert [r["decoded"] for r in got] == [True, False]
    hashed = mm.image_phash(df).orderBy("media_id").collect()
    assert [r["decoded"] for r in hashed] == [True, False]  # row flagged


def test_audio_features_accept_flac(spark):
    from pdf_parser_spark import flac_codec

    t = np.arange(8000)
    pcm = (8000 * np.sin(t * 0.04)).astype(np.int16)
    meta = {"mime": None, "width": None, "height": None,
            "duration_ms": None, "sample_rate": 16000}
    rows = [(0, "u0", "audio", flac_codec.encode_flac(pcm, 16000), meta),
            (1, "u1", "audio", media_codecs.encode_wav(pcm, 16000), meta)]
    df = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    got = (
        mm.audio_spectrogram_features(df)
        .orderBy("media_id")
        .collect()
    )
    assert all(r["decoded"] for r in got)
    assert np.allclose(got[0]["feature"], got[1]["feature"])
