"""Bloom-pruned join: byte-identical to the plain join, with the shuffle
restricted to possible members.

The filter must be CONSERVATIVE (no false negatives) for the pruned join to
be exact — these tests assert exact parity against the plain anti/semi join
on corpora engineered to exercise false positives (tiny bitmap) and the
empty / null / all-member edges.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from pdf_parser_spark.operators import bloom


def _keys(spark, values):
    return spark.createDataFrame([(v,) for v in values], "k string")


def _corpus(spark, n=500):
    # hosts h0..h49, ~10 rows each; a handful of nulls
    rows = [(i, f"h{i % 50}") for i in range(n)] + [(n + j, None) for j in range(3)]
    return spark.createDataFrame(rows, "id long, k string")


def test_positions_shape_and_range():
    h = np.array([0, 1, 2**63, 2**64 - 1], dtype=np.uint64)
    pos = bloom._positions(h, n_bits=1 << 10, k=7)
    assert pos.shape == (4, 7)
    assert pos.min() >= 0 and pos.max() < (1 << 10)


def test_build_bloom_no_false_negatives(spark):
    members = [f"h{i}" for i in range(0, 50, 5)]
    bitmap = bloom.build_bloom(_keys(spark, members), "k", n_bits=1 << 12)
    probed = bloom.with_bloom_probe(_keys(spark, members), "k", bitmap)
    assert all(r["_bloom_maybe"] for r in probed.collect())


def test_build_bloom_distributed_equals_single_partition(spark):
    members = [f"h{i}" for i in range(40)]
    many = bloom.build_bloom(
        _keys(spark, members).repartition(8), "k", n_bits=1 << 12
    )
    one = bloom.build_bloom(
        _keys(spark, members).coalesce(1), "k", n_bits=1 << 12
    )
    assert np.array_equal(many, one)


def _parity(spark, how, n_bits):
    big = _corpus(spark)
    small = _keys(spark, [f"h{i}" for i in range(0, 50, 7)] + ["absent"]).withColumnRenamed("k", "k")
    got = (
        bloom.bloom_pruned_join(big, small, on="k", how=how, n_bits=n_bits)
        .orderBy("id")
        .collect()
    )
    want = big.join(small, "k", how).orderBy("id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_anti_join_parity_roomy_bitmap(spark):
    _parity(spark, "left_anti", 1 << 14)


def test_semi_join_parity_roomy_bitmap(spark):
    _parity(spark, "left_semi", 1 << 14)


def test_parity_survives_heavy_false_positives(spark):
    # 64-bit bitmap with k=7 → nearly every probe is a "maybe"; the exact
    # join downstream must still produce the identical result.
    _parity(spark, "left_anti", 64)
    _parity(spark, "left_semi", 64)


def test_empty_filter_side(spark):
    big = _corpus(spark)
    small = spark.createDataFrame([], "k string")
    kept = bloom.bloom_pruned_join(big, small, on="k", how="left_anti")
    assert kept.count() == big.count()
    assert bloom.bloom_pruned_join(big, small, on="k", how="left_semi").count() == 0


def test_null_keys_kept_by_anti_join(spark):
    big = _corpus(spark)
    small = _keys(spark, ["h0"])
    got = bloom.bloom_pruned_join(big, small, on="k", how="left_anti")
    assert got.filter(F.col("k").isNull()).count() == 3


def test_pruning_actually_prunes(spark):
    # With a well-sized bitmap, the maybe-set is close to the true-member
    # set — the point of the operator: FPR·|big| stragglers, not |big|.
    big = _corpus(spark)
    members = ["h0", "h1", "h2"]
    bitmap = bloom.build_bloom(_keys(spark, members), "k", n_bits=1 << 14)
    probed = bloom.with_bloom_probe(big, "k", bitmap)
    n_maybe = probed.filter(F.col("_bloom_maybe")).count()
    n_true = big.filter(F.col("k").isin(members)).count()
    # allow a few false positives (incl. the null rows hashing to a maybe)
    assert n_true <= n_maybe <= n_true + 25


def test_rejects_unsupported_join_type(spark):
    big = _corpus(spark)
    small = _keys(spark, ["h0"])
    try:
        bloom.bloom_pruned_join(big, small, on="k", how="inner")
    except ValueError:
        pass
    else:
        raise AssertionError("expected ValueError for how='inner'")


def test_build_bloom_tree_reduce_sublinear_collect(spark):
    """The driver must receive ~sqrt(P) partials, not P (VERDICT r3 #1)."""
    members = [f"h{i}" for i in range(200)]
    stats = {}
    bitmap = bloom.build_bloom(
        _keys(spark, members).repartition(64), "k", n_bits=1 << 12,
        _stats=stats,
    )
    assert stats["n_input_partitions"] == 64
    # sqrt(64) = 8 intermediate reducers; empties may yield fewer rows
    assert stats["n_partials_collected"] <= 8
    # and the tree-reduced bitmap is still exact
    one = bloom.build_bloom(_keys(spark, members).coalesce(1), "k", n_bits=1 << 12)
    assert np.array_equal(bitmap, one)


def test_build_bloom_few_partitions_skips_tree_level(spark):
    stats = {}
    bloom.build_bloom(
        _keys(spark, ["a", "b"]).coalesce(1), "k", n_bits=1 << 9, _stats=stats
    )
    assert stats["n_input_partitions"] == 1
    assert stats["n_partials_collected"] == 1


def test_false_positive_rate_matches_sizing(spark):
    """10k keys in 2^17 bits (13 bits/key, k=7) should pass ~0.2% of
    disjoint probes. Double hashing over the raw key with a power-of-two
    bitmap made both hashes depend on the key's low bits only and passed
    ~7.5%."""
    bitmap = bloom.build_bloom(
        _keys(spark, [f"member-{i}" for i in range(10_000)]), "k", n_bits=1 << 17
    )
    probed = bloom.with_bloom_probe(
        _keys(spark, [f"probe-{i}" for i in range(50_000)]), "k", bitmap
    )
    n_maybe = probed.filter(F.col("_bloom_maybe")).count()
    assert n_maybe / 50_000 <= 0.005


def test_manifest_bloom_layout_pinned():
    """Snapshot manifests persist their per-file Blooms in metadata JSON:
    the bitmap written for a fixed key set, and the answers it gives, must
    never change."""
    from pdf_parser_spark.plans import snapshots

    values = np.array(
        [-(2**63), -123456789012, -42, -1, 0, 1, 7, 42, 1000003, 2**40 + 17,
         2**63 - 1, 314159265358979],
        dtype=np.int64,
    )
    b = snapshots._bloom_build(values)
    assert b == {"bits": 256, "b64": "AAAUBFkAAACCAALAgAEQCCBKYQCgwgAEUgihSBIAIhQ="}
    assert all(snapshots._bloom_any_maybe(b, [v]) for v in values.tolist())
    members = set(values.tolist())
    maybe = [
        p for p in range(-2000, 2000)
        if p not in members and snapshots._bloom_any_maybe(b, [p])
    ]
    assert maybe == [-1463, 278, 589, 878, 1309, 1488]
    assert snapshots._bloom_any_maybe(b, [5, 6, 278])
    assert not snapshots._bloom_any_maybe(b, [5, 6, 8])
