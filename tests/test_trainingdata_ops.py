"""Training-data operators: BPE tokens, winnowing, cosine near-dup, multimodal."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators import dedupe
from pdf_parser_spark.operators import multimodal as mm
from pdf_parser_spark.operators import similarity, textstats

# ---------------------------------------------------------------------------
# pure functions
# ---------------------------------------------------------------------------


def test_bpe_pattern_tokenizes_contractions_and_runs():
    toks = re.findall(textstats.BPE_TOKEN_PATTERN, "It's 42 well-known cafes!")
    assert toks == ["It", "'s", " 42", " well", "-", "known", " cafes", "!"]


def test_winnowing_properties():
    h = textstats.rolling_kgram_hashes("the quick brown fox jumps over the lazy dog", k=8)
    fp = textstats.winnow(h, w=4)
    assert fp, "non-empty text must fingerprint"
    assert set(fp) <= set(h)
    # winnowing guarantee: every window of w grams contributes a selection,
    # so density is bounded below by 1/w
    assert len(fp) >= (len(h) - 4 + 1) // 4 / 2
    # deterministic
    assert fp == textstats.winnowing_fingerprint("the quick  brown fox jumps over the lazy dog".replace("  ", " "), 8, 4)


def test_winnowing_whitespace_insensitive():
    a = textstats.winnowing_fingerprint("hello   world\n\tfoo", 5, 3)
    b = textstats.winnowing_fingerprint("hello world foo", 5, 3)
    assert a == b


def test_winnowing_edge_cases():
    assert textstats.winnowing_fingerprint(None) == []
    assert textstats.winnowing_fingerprint("") == []
    # shorter-than-k text hashes whole (one fingerprint)
    assert len(textstats.winnowing_fingerprint("ab")) == 1


def test_winnowing_numpy_kernel_matches_scalar_golden():
    cases = [
        None,
        "",
        "ab",
        "exactly8",
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaaaaaaaaaa",  # constant hashes: rightmost-min tie rule
        "abab" * 30,
        "statement 统计 mixed 中文 text with unicode ¥ and emoji",
        "  collapse\t\twhitespace\n\nplease  ",
    ]
    for t in cases:
        scalar = textstats.winnowing_fingerprint(t, 8, 4)
        vec = list(textstats.winnowing_fingerprint_np(t, 8, 4))
        assert vec == scalar, t
    # and at other (k, w) shapes
    for t in cases:
        assert list(textstats.winnowing_fingerprint_np(t, 5, 3)) == (
            textstats.winnowing_fingerprint(t, 5, 3)
        ), t


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"doc {i} " + "the quick brown fox " * (i % 5 + 1)) for i in range(20)],
        schema="doc_id long, text string",
    )


def test_bpe_token_count_col(spark, docs):
    rows = docs.select(
        "doc_id", "text", textstats.bpe_token_count_col(F.col("text")).alias("n")
    ).collect()
    for r in rows:
        assert r["n"] == len(re.findall(textstats.BPE_TOKEN_PATTERN, r["text"]))


def test_with_winnowing_matches_pure_function(spark, docs):
    rows = textstats.with_winnowing(docs).collect()
    for r in rows:
        assert list(r["fingerprints"]) == textstats.winnowing_fingerprint(r["text"], 8, 4)


def _embeddings(spark, n=40, dim=8):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((n, dim))
    base[1] = base[0] + 0.01  # a genuine near-dup pair
    base[3] = base[2] * 1.5  # exact-direction pair (cosine 1.0)
    return spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        schema="vec_id long, embedding array<float>",
    )


def test_cosine_near_duplicates_exact(spark):
    e = _embeddings(spark)
    got = {(r["a_id"], r["b_id"]) for r in similarity.cosine_near_duplicates(e, 0.99).collect()}
    assert (0, 1) in got and (2, 3) in got
    # brute-force numpy oracle
    pdf = e.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray))
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    expect = {
        (int(a), int(b))
        for a in range(len(mat))
        for b in range(a + 1, len(mat))
        if round(sims[a, b], 6) >= 0.99
    }
    assert got == expect


def test_cosine_near_duplicates_lsh_subset_of_exact(spark):
    e = _embeddings(spark)
    exact = {(r["a_id"], r["b_id"]) for r in similarity.cosine_near_duplicates(e, 0.9).collect()}
    lsh = {
        (r["a_id"], r["b_id"])
        for r in similarity.cosine_near_duplicates_lsh(e, 0.9, dim=8, n_planes=2).collect()
    }
    assert lsh <= exact
    # near-identical vectors land in the same bucket with very high prob
    assert (0, 1) in lsh


# ---------------------------------------------------------------------------
# SimHash LSH: exact-recall guarantee (pigeonhole soundness)
# ---------------------------------------------------------------------------


def _neardup_docs(spark, n=50):
    """Families of near-identical docs: doc i flips i%4 words of a shared base."""
    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "every morning while birds sing softly in the old oak trees"
    ).split()
    rows = []
    for i in range(n):
        words = list(base)
        for j in range(i % 4):
            words[(i * 3 + j * 5) % len(words)] = f"tok{i}_{j}"
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


@pytest.mark.parametrize(
    "max_hamming,n_blocks",
    [(3, None), (8, None), (3, 5), (8, 10), (8, 11)],
)
def test_simhash_near_duplicates_brute_force_parity(spark, max_hamming, n_blocks):
    """The LSH pair set must EQUAL the all-pairs brute-force set for both
    the single-block pigeonhole (n_blocks=None → max_hamming+1 blocks, the
    round-1 bug was 4 fixed blocks with max_hamming=8 — silently lossy) AND
    the AND-of-block-combinations scheme (n_blocks > max_hamming+1, the
    wide-key web-scale configuration)."""
    docs_df = _neardup_docs(spark, 50)
    sigs = {r["doc_id"]: dedupe.simhash64(r["text"]) for r in docs_df.collect()}
    expect = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and _hamming(sigs[a], sigs[b]) <= max_hamming
    }
    got = {
        (r["a_id"], r["b_id"])
        for r in dedupe.simhash_near_duplicates(
            docs_df, max_hamming=max_hamming, n_blocks=n_blocks
        ).collect()
    }
    assert got == expect
    assert expect, "corpus must actually contain near-dup pairs for the test to bite"


def test_simhash_rejects_lossy_block_count(spark):
    docs_df = _neardup_docs(spark, 4)
    with pytest.raises(ValueError):
        dedupe.simhash_near_duplicates(docs_df, max_hamming=8, n_blocks=4)


def test_simhash_combination_banding_is_subquadratic(spark):
    """At max_hamming=8 the default 9-block split joins on ~7-bit keys —
    ~n^2/2^7 candidates. The 10-block combination scheme packs 2-block
    (12-14 bit) keys; on 10^4 random signatures it must generate an order
    of magnitude fewer candidate pairs while keeping recall 1.0 (parity
    test above). This is the at-scale configuration r04 ships."""
    rng = np.random.RandomState(42)
    sigs = rng.randint(-(1 << 63), 1 << 63, size=10_000, dtype=np.int64)
    t = spark.createDataFrame(
        [(int(i), int(s)) for i, s in enumerate(sigs)], "doc_id long, simhash long"
    )
    narrow = dedupe.simhash_candidates(t, max_hamming=8).count()
    wide = dedupe.simhash_candidates(t, max_hamming=8, n_blocks=10).count()
    assert wide * 8 < narrow, (narrow, wide)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_media_table_schema_and_determinism(spark):
    m1 = mm.media_table(spark, n_rows=30, partitions=3)
    assert m1.schema.simpleString().startswith(
        "struct<media_id:bigint,url:string,kind:string,payload:binary,meta:struct<"
    )
    a = sorted((r["media_id"], bytes(r["payload"])) for r in m1.collect())
    b = sorted(
        (r["media_id"], bytes(r["payload"]))
        for r in mm.media_table(spark, n_rows=30, partitions=5).collect()
    )
    assert a == b  # partitioning never changes content


def test_extract_features_decodes_every_minted_row(spark):
    media = mm.media_table(spark, n_rows=24, partitions=4)
    feats = mm.extract_features(media).collect()
    assert len(feats) == 24
    for r in feats:
        assert r["decoded"] and len(r["feature"]) == mm.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
    # determinism across runs
    again = mm.extract_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_extract_features_default_is_the_png_moment_profile(spark):
    """With default arguments the feature is the moment profile of the
    pixels media_codecs.decode_png returns — never a synthetic stand-in."""
    from pdf_parser_spark import media_codecs

    png = media_codecs.encode_png(
        np.random.default_rng(4).integers(0, 256, size=(20, 28, 3), dtype=np.uint8)
    )
    meta = {"mime": "image/png", "width": 28, "height": 20,
            "duration_ms": None, "sample_rate": None}
    df = spark.createDataFrame([(0, "u0", "image", png, meta)], schema=mm.MEDIA_SCHEMA)
    (row,) = mm.extract_features(df).collect()
    flat = media_codecs.decode_png(png).astype(np.float64).reshape(-1)
    want = []
    for c in np.array_split(flat, mm.FEATURE_DIM // 2):
        want += [round(float(c.mean() / 255.0), 6), round(float(c.std() / 255.0), 6)]
    assert row["decoded"] and row["feature"] == want


def test_extract_features_real_decode_is_gated(spark):
    # bytes no decoder recognises, labelled with each kind's usual mime
    meta = {"mime": None, "width": None, "height": None,
            "duration_ms": None, "sample_rate": None}
    rows = [
        (i, f"u{i}", ("image", "audio", "video")[i % 3],
         (f"media-{i}-" * (i % 7 + 1)).encode(), meta)
        for i in range(6)
    ]
    media = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    rows = mm.extract_features(media).collect()
    assert len(rows) == 6
    assert all(not r["decoded"] and r["feature"] is None for r in rows)


def test_resize_images_only_touches_images(spark):
    from pdf_parser_spark import media_probe

    media = mm.media_table(spark, n_rows=30, partitions=3)
    out = mm.resize_images(media, 16, 16)
    assert out.count() == 30
    imgs = out.filter(F.col("kind") == "image").collect()
    for r in imgs:
        assert mm._decode(bytes(r["payload"]), "image").shape[:2] == (16, 16)
    # format-preserving: each resized image sniffs as its input did, save
    # AVIF/HEIC rows under the native encoders' size floor (PNG fallback)
    fmt_in = {
        r["media_id"]: media_probe.sniff(bytes(r["payload"]))
        for r in media.filter(F.col("kind") == "image").collect()
    }
    for r in imgs:
        got, want = media_probe.sniff(bytes(r["payload"])), fmt_in[r["media_id"]]
        assert got == want or (want in ("avif", "heic") and got == "png"), (
            r["media_id"], want, got,
        )
    # non-images untouched
    others = {r["media_id"]: bytes(r["payload"]) for r in out.filter(F.col("kind") != "image").collect()}
    orig = {r["media_id"]: bytes(r["payload"]) for r in media.filter(F.col("kind") != "image").collect()}
    assert others == orig


def test_sample_frames_fanout_driven_by_metadata(spark):
    from pdf_parser_spark import media_probe

    media = mm.media_table(spark, n_rows=30, partitions=3)
    frames = mm.sample_frames(media, every_ms=1000)
    pdf = frames.toPandas()
    vids = media.filter(F.col("kind") == "video").select(
        "media_id", "payload", F.col("meta.duration_ms").alias("d")
    ).collect()
    # one frame per second of duration, capped at the payload's frame count
    expect = {
        r["media_id"]: min(
            max(1, r["d"] // 1000),
            media_probe.probe_bytes(bytes(r["payload"]))["n_frames"],
        )
        for r in vids
    }
    got = pdf.groupby("media_id").size().to_dict()
    assert got == expect
    assert (pdf["ts_ms"] == pdf["frame_index"] * 1000).all()


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------


def test_ivf_train_is_deterministic(spark):
    e = _embeddings(spark, n=60, dim=8)
    c1 = similarity.ivf_train(e, n_centroids=4, dim=8, iters=2)
    c2 = similarity.ivf_train(e, n_centroids=4, dim=8, iters=2)
    assert (c1 == c2).all()
    # centroids are unit vectors (cosine quantizer)
    norms = np.linalg.norm(c1, axis=1)
    assert np.allclose(norms[norms > 0], 1.0)


def test_ann_lsh_recall_quantified(spark):
    """Hyperplane-LSH ANN: results ⊆ exact ranking and recall@10 ≥ bound.

    Deterministic corpus + seeded planes ⇒ the recall number is stable; it
    is printed so SURVEY §8 can cite it."""
    e = _embeddings(spark, n=120, dim=8)
    exact10 = [r["vec_id"] for r in similarity.cosine_topk(e, 0, 10).collect()]
    lsh10 = [
        r["vec_id"]
        for r in similarity.ann_topk_lsh(e, 0, 10, dim=8, n_planes=3).collect()
    ]
    all_ranked = [r["vec_id"] for r in similarity.cosine_topk(e, 0, 119).collect()]
    assert set(lsh10) <= set(all_ranked)
    recall = len(set(lsh10) & set(exact10)) / 10
    print(f"\nANN LSH recall@10 (n=120, dim=8, 3 planes): {recall}")
    assert recall >= 0.5
    assert 1 in lsh10  # the engineered near-dup of the query never escapes


def test_cosine_neardup_lsh_recall_quantified(spark):
    """Banded embedding near-dup: pair recall vs the exact kernel, printed."""
    e = _embeddings(spark, n=120, dim=8)
    exact = {
        (r["a_id"], r["b_id"])
        for r in similarity.cosine_near_duplicates(e, 0.9).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"])
        for r in similarity.cosine_near_duplicates_lsh(e, 0.9, dim=8, n_planes=2).collect()
    }
    assert lsh <= exact
    recall = len(lsh & exact) / max(1, len(exact))
    print(f"\ncosine near-dup LSH pair recall (θ=0.9, 2 planes): {recall} of {len(exact)}")
    assert recall >= 0.6


def test_ivf_topk_subset_of_exact_with_high_recall(spark):
    e = _embeddings(spark, n=60, dim=8)
    exact = [r["vec_id"] for r in similarity.cosine_topk(e, 0, 10).collect()]
    ivf = [r["vec_id"] for r in similarity.ann_topk_ivf(
        e, 0, 10, dim=8, n_centroids=4, n_probe=2, iters=2).collect()]
    # every IVF hit is a genuine neighbour, and probing half the clusters
    # recovers the immediate near-dup at minimum
    assert set(ivf) <= set(r["vec_id"] for r in similarity.cosine_topk(e, 0, 60).collect())
    assert 1 in ivf  # vec 1 = vec 0 + epsilon
    assert len(set(ivf) & set(exact)) >= 5


# --------------------------------------------------------- product quantization


def test_pq_train_shape_and_determinism(spark):
    e = _embeddings(spark, n=60, dim=8)
    b1 = similarity.pq_train(e, m=4, n_codes=4, dim=8, iters=2)
    b2 = similarity.pq_train(e, m=4, n_codes=4, dim=8, iters=2)
    assert b1.shape == (4, 4, 2)
    assert np.allclose(b1, b2)


def test_pq_encode_matches_numpy_twin(spark):
    e = _embeddings(spark, n=40, dim=8)
    books = similarity.pq_train(e, m=4, n_codes=4, dim=8, iters=2)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(e, books).collect()
    }
    pdf = e.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for vid, vec in zip(pdf["vec_id"], mat):
        sub = vec.reshape(4, 2)
        want = [
            int(np.argmin(((books[s] - sub[s]) ** 2).sum(axis=1)))
            for s in range(4)
        ]
        assert got[int(vid)] == want, vid


def test_pq_adc_recall_with_exact_rerank(spark):
    e = _embeddings(spark, n=60, dim=8)
    exact = [r["vec_id"] for r in similarity.cosine_topk(e, 0, 10).collect()]
    pq = [r["vec_id"] for r in similarity.ann_topk_pq(
        e, 0, 10, m=4, n_codes=8, dim=8, iters=2, rerank=3).collect()]
    # re-rank is exact cosine, so every hit is a genuine neighbour ordering
    full = [r["vec_id"] for r in similarity.cosine_topk(e, 0, 60).collect()]
    assert set(pq) <= set(full)
    assert 1 in pq  # the planted near-dup survives quantization
    recall = len(set(pq) & set(exact)) / 10
    print(f"\nPQ recall@10 (m=4, 8 codes, rerank 3x): {recall}")
    assert recall >= 0.5


def test_zero_norm_embeddings_do_not_poison_pairs(spark):
    """An all-zero embedding (failed embedder) must not NaN-out the
    comparisons of OTHER rows, and must not land in every IVF cluster 0
    by argmax-over-NaN."""
    import numpy as np

    from pdf_parser_spark.operators import similarity as sim

    rows = [(0, [0.0] * 8)]
    base = np.eye(8).tolist()
    rows += [(i + 1, base[i]) for i in range(8)]
    rows += [(100, (np.array(base[0]) * 0.999 + 0.001).tolist())]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["a_id"], r["b_id"])
             for r in sim.cosine_near_duplicates(emb, threshold=0.9).collect()}
    assert (1, 100) in pairs            # the real near-pair is found
    assert all(0 not in p for p in pairs)  # zero vector pairs with nothing
    cents = sim.ivf_train(emb, n_centroids=4, dim=8)
    assigned = sim.ivf_assign(emb, cents)
    assert assigned.count() == 10       # no NaN row dropped
