"""IncrementalNearDup: cross-batch dedup against the persisted index,
in-batch predecessor rule, exactly-once replay, partial-commit recovery."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pdf_parser_spark.plans.incremental_dedup import IncrementalNearDup


def _text(seed: int, n: int = 60) -> str:
    rng = random.Random(seed)
    return " ".join(f"w{rng.randrange(500)}" for _ in range(n))


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _decisions(df):
    return {
        r["doc_id"]: (r["is_dup"], r["matched_id"]) for r in df.collect()
    }


def test_in_batch_predecessor_rule(spark, tmp_path):
    idx = IncrementalNearDup(spark, str(tmp_path / "idx"))
    batch = _df(
        spark,
        [(1, _text(1)), (2, _text(2)), (3, _text(1)), (4, _text(1))],
    )
    got = _decisions(idx.dedup_batch(batch, batch_id=100))
    assert got[1] == (False, None)
    assert got[2] == (False, None)
    assert got[3] == (True, 1)  # min predecessor, not 4
    assert got[4] == (True, 1)
    # survivors only reach the index
    assert sorted(
        r["doc_id"] for r in idx.sigs.read().select("doc_id").collect()
    ) == [1, 2]


def test_cross_batch_dedup_via_index(spark, tmp_path):
    idx = IncrementalNearDup(spark, str(tmp_path / "idx"))
    idx.dedup_batch(_df(spark, [(1, _text(1)), (2, _text(2))]), 1)
    got = _decisions(
        idx.dedup_batch(
            _df(spark, [(10, _text(2)), (11, _text(3))]), 2
        )
    )
    assert got[10] == (True, 2)   # dup of an INDEXED doc
    assert got[11] == (False, None)
    assert sorted(
        r["doc_id"] for r in idx.sigs.read().select("doc_id").collect()
    ) == [1, 2, 11]


def test_replay_is_a_noop(spark, tmp_path):
    idx = IncrementalNearDup(spark, str(tmp_path / "idx"))
    idx.dedup_batch(_df(spark, [(1, _text(1))]), 7)
    vb, vs = idx.bands.current_version(), idx.sigs.current_version()
    assert idx.dedup_batch(_df(spark, [(1, _text(1))]), 7) is None
    assert (idx.bands.current_version(), idx.sigs.current_version()) == (vb, vs)
    assert idx.committed_batches() == {7}


def test_committed_batches_survive_expiry(spark, tmp_path):
    """A reopened index whose tables were both expired to their heads
    still knows every committed batch, and still replays as a no-op."""
    path = str(tmp_path / "idx")
    idx = IncrementalNearDup(spark, path)
    idx.dedup_batch(_df(spark, [(1, _text(1))]), 1)
    idx.dedup_batch(_df(spark, [(10, _text(2))]), 2)
    idx.bands.expire_snapshots(keep_last=1)
    idx.sigs.expire_snapshots(keep_last=1)
    again = IncrementalNearDup(spark, path)
    assert again.committed_batches() == {1, 2}
    assert again.dedup_batch(_df(spark, [(1, _text(1))]), 1) is None


def test_partial_commit_converges(spark, tmp_path):
    """Crash between the two appends: bands committed, sigs not. The
    replayed batch must produce the SAME decisions (band rows without a
    committed signature cannot match) and complete the sigs commit
    without duplicating band rows."""
    idx = IncrementalNearDup(spark, str(tmp_path / "idx"))
    idx.dedup_batch(_df(spark, [(1, _text(1))]), 1)

    batch = _df(spark, [(10, _text(1)), (11, _text(5))])
    # simulate the crash: commit ONLY the bands half of batch 2
    signed = idx._sign(batch, "doc_id", "text").persist()
    surv = signed.filter(F.col("doc_id") == 11)  # what a full run would keep
    surv_bands = surv.select(
        "doc_id", F.posexplode("bands").alias("band", "band_hash")
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("band_hash"), F.lit(16)).cast("int")
    )
    idx._append_once(idx.bands, surv_bands, 2)
    assert idx.committed_batches() == {1}  # not FULLY committed

    got = _decisions(idx.dedup_batch(batch, 2))
    assert got[10] == (True, 1)
    assert got[11] == (False, None)
    assert idx.committed_batches() == {1, 2}
    # band rows for doc 11 were not appended twice
    n = (
        idx.bands.read()
        .filter(F.col("doc_id") == 11)
        .groupBy("band")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert n == 1


def test_index_side_never_shuffles(spark, tmp_path):
    """The candidate join must broadcast the batch side: the index scan
    feeds a BroadcastHashJoin, with no Exchange between them."""
    idx = IncrementalNearDup(spark, str(tmp_path / "idx"))
    idx.dedup_batch(_df(spark, [(i, _text(i)) for i in range(20)]), 1)
    batch = idx._sign(_df(spark, [(100, _text(1))]), "doc_id", "text")
    bands = batch.select(
        "doc_id", F.posexplode("bands").alias("band", "band_hash")
    )
    idx_bands = idx.bands.read().select(
        "band", "band_hash", F.col("doc_id").alias("idx_id")
    )
    plan = (
        idx_bands.join(F.broadcast(bands), ["band", "band_hash"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_banding_is_pinned_index_geometry(spark, tmp_path):
    """The banding is derived from the threshold on first open, written
    to the meta file, and a reopen with conflicting bands refuses."""
    import pytest

    path = str(tmp_path / "idx")
    idx = IncrementalNearDup(spark, path, threshold=0.9)
    assert idx.n_bands == 8  # lsh_plan(0.9) -> 8x8
    # reopen without bands: adopts the committed geometry even though the
    # threshold default would pick differently
    again = IncrementalNearDup(spark, path)
    assert again.n_bands == 8
    with pytest.raises(ValueError, match="banding cannot change"):
        IncrementalNearDup(spark, path, bands=16)


def test_premeta_index_adopts_legacy_banding(spark, tmp_path):
    """An index with committed rows but no meta file (built before the
    geometry pin existed) must keep the old fixed banding — re-deriving
    from the threshold would stop matching every persisted row."""
    import os

    path = str(tmp_path / "legacy")
    # legacy geometry: the old code's fixed 16 bands
    idx = IncrementalNearDup(spark, path, threshold=0.6, bands=16)
    m1 = spark.createDataFrame(
        [(i, f"some document body number {i} with plenty of words "
              f"unique{i} filler{i}") for i in range(4)],
        "doc_id long, text string",
    )
    idx.dedup_batch(m1, 1)
    os.remove(os.path.join(path, "_index_meta.json"))  # pre-upgrade state
    again = IncrementalNearDup(spark, path, threshold=0.6)  # would derive 32
    assert again.n_bands == 16
    # cross-batch dedup against the legacy rows still works
    m2 = spark.createDataFrame(
        [(100, "zz some document body number 0 with plenty of words "
               "unique0 filler0")],
        "doc_id long, text string",
    )
    dec = {r["doc_id"]: r["is_dup"] for r in again.dedup_batch(m2, 2).collect()}
    assert dec[100] is True


def test_index_scan_bloom_pruned_by_candidate_bands(spark, tmp_path):
    """As history accumulates, a batch's index scan must read files
    proportional to its CANDIDATE bands, not the index size: the manifest
    Bloom over band_hash prunes every historical file holding none of the
    batch's exact band hashes. Here months 1-4 commit disjoint docs; a
    month-5 batch overlapping only month-3's docs must plan a scan that
    skips the other months' band files — and decide identically to an
    unpruned index."""
    idx = IncrementalNearDup(spark, str(tmp_path / "idx"))
    for m in range(1, 5):
        idx.dedup_batch(
            _df(spark, [(m * 100 + i, _text(m * 100 + i)) for i in range(6)]),
            batch_id=m,
        )
    total_files = len(idx.bands.plan_files())

    batch = _df(spark, [(900, _text(302)), (901, _text(999))])
    got = _decisions(idx.dedup_batch(batch, batch_id=5))
    assert got[900] == (True, 302)  # cross-batch dup still found
    assert got[901] == (False, None)

    # replicate the probe the operator ran: files planned for month-5's
    # bands are a strict subset — pruning scales with candidates
    sigs = idx._sign(batch, "doc_id", "text")
    hashes = [
        r[0]
        for r in sigs.select(F.explode("bands").alias("h"))
        .distinct()
        .collect()
    ]
    planned = len(idx.bands.plan_files(version=4, bloom_probe={"band_hash": hashes}))
    assert planned < total_files, (planned, total_files)
    # disjoint probe values plan an empty scan
    assert idx.bands.plan_files(version=4, bloom_probe={"band_hash": [123456789]}) == []


def test_bloom_probe_conservative_without_blooms(spark, tmp_path):
    """Files committed before bloom_cols existed (no 'bloom' entry) are
    always kept — pruning must stay conservative on legacy manifests."""
    from pdf_parser_spark.plans.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))  # no bloom_cols
    t.append(
        spark.createDataFrame([(0, 1), (1, 2)], "bucket int, k long")
    )
    assert len(t.plan_files(bloom_probe={"k": [999]})) == len(t.plan_files())
