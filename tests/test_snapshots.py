"""Iceberg-style snapshot log: append / overwrite / time travel / rollback /
optimistic-concurrency conflict / stats pruning / expiry."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.plans.snapshots import CommitConflict, SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "bucket int, k string, n long")


def _data(tbl, version=None):
    return {(r["bucket"], r["k"], r["n"]) for r in tbl.read(version).collect()}


def test_append_and_read(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=("n",))
    assert t.current_version() == 0
    v1 = t.append(_df(spark, [(0, "a", 1), (1, "b", 2)]))
    v2 = t.append(_df(spark, [(1, "c", 3)]))
    assert (v1, v2) == (1, 2)
    assert _data(t) == {(0, "a", 1), (1, "b", 2), (1, "c", 3)}
    assert _data(t, version=1) == {(0, "a", 1), (1, "b", 2)}  # time travel


def test_overwrite_partitions_exact(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # buckets 1 and 2 written TOGETHER (can share a write task): the
    # single-partition file invariant is what keeps the later bucket-1
    # overwrite from dropping or duplicating bucket 2
    t.append(_df(spark, [(1, "old1", 1), (2, "old2", 2), (3, "old3", 3)]))
    t.overwrite_partitions(_df(spark, [(1, "new1", 10)]))
    assert _data(t) == {(1, "new1", 10), (2, "old2", 2), (3, "old3", 3)}
    # idempotent re-run (the checkpoint resume story)
    t.overwrite_partitions(_df(spark, [(1, "new1", 10)]))
    assert _data(t) == {(1, "new1", 10), (2, "old2", 2), (3, "old3", 3)}


def test_rollback_creates_new_version(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(0, "keep", 1)]))
    t.overwrite_partitions(_df(spark, [(0, "oops", 9)]))
    v = t.rollback(1)
    assert v == 3  # history preserved, rollback is a NEW snapshot
    assert _data(t) == {(0, "keep", 1)}
    assert _data(t, version=2) == {(0, "oops", 9)}  # still inspectable


def test_committed_ids_carry_forward(spark, tmp_path):
    """Every snapshot carries the ids committed so far: commits without
    ids keep them, expiry keeps them, a rollback restores its version's."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    assert t.committed_ids() == {}
    t.append(_df(spark, [(0, "a", 1)]), ids=[7])
    t.overwrite_partitions(_df(spark, [(1, "b", 2)]), ids=[8, 9])
    t.compact(min_files_per_partition=1)  # commits no ids of its own
    assert t.committed_ids() == {7: 1, 8: 2, 9: 2}
    t.expire_snapshots(keep_last=1)
    assert t.committed_ids() == {7: 1, 8: 2, 9: 2}
    t.append(_df(spark, [(2, "c", 3)]), ids=[10])
    t.rollback(3)
    assert t.committed_ids() == {7: 1, 8: 2, 9: 2}
    assert _data(t) == {(0, "a", 1), (1, "b", 2)}


def test_pin_meta_first_publish_wins(tmp_path):
    from pdf_parser_spark.plans.snapshots import pin_meta

    path = str(tmp_path / "sub" / "_meta.json")
    assert pin_meta(path, {"n": 1}) == {"n": 1}
    assert pin_meta(path, {"n": 2}) == {"n": 1}
    assert os.listdir(tmp_path / "sub") == ["_meta.json"]  # no tmp debris


def test_commit_conflict(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(0, "a", 1)]))
    base = t.current_version()
    # a racing writer publishes base+1 INSIDE our commit window (after we
    # read the base, before we publish) — the exclusive link must lose
    with open(t._snapshot_path(base + 1), "w") as fh:
        fh.write('{"version": 2, "operation": "append", "files": [], "ts": 0}')
    with pytest.raises(CommitConflict):
        t._publish("append", [], base)
    # a writer that instead re-reads the log rebases cleanly past the racer
    t.append(_df(spark, [(0, "b", 2)]))
    assert t.current_version() == base + 2


def test_stats_pruning(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=("n",))
    t.append(_df(spark, [(0, "lo", 1), (0, "lo2", 5)]))
    t.append(_df(spark, [(1, "hi", 100), (1, "hi2", 200)]))
    # manifest pruning: only the file overlapping [90, 300] is planned
    assert len(t.plan_files(min_max={"n": (90, 300)})) == 1
    assert len(t.plan_files()) == 2
    # partition pruning via the same mechanism
    assert len(t.plan_files(min_max={"bucket": (1, 1)})) == 1
    # pruned read == full read filtered (pruning is conservative, never lossy)
    got = {r["k"] for r in t.read(min_max={"n": (90, 300)})
           .filter(F.col("n").between(90, 300)).collect()}
    assert got == {"hi", "hi2"}
    # pruned-to-nothing keeps the schema
    empty = t.read(min_max={"n": (10**6, 10**7)})
    assert empty.count() == 0 and set(empty.columns) == {"bucket", "k", "n"}


def test_expire_snapshots_gc(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(0, "a", 1)]))
    t.overwrite_partitions(_df(spark, [(0, "b", 2)]))  # v1's file now orphan
    old_file = t.snapshot(1)["files"][0]["path"]
    assert os.path.exists(old_file)
    out = t.expire_snapshots(keep_last=1)
    assert out == {"snapshots": 1, "files": 1}
    assert not os.path.exists(old_file)
    assert _data(t) == {(0, "b", 2)}  # current snapshot untouched
    assert t.snapshots().count() == 1


def test_snapshots_metadata_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(0, "a", 1), (1, "b", 2)]))
    t.overwrite_partitions(_df(spark, [(1, "c", 3)]))
    rows = {r["version"]: r for r in t.snapshots().collect()}
    assert rows[1]["operation"] == "append" and rows[1]["n_rows"] == 2
    assert rows[2]["operation"] == "overwrite_partitions"
    assert rows[2]["n_rows"] == 2  # bucket 0 kept + bucket 1 replaced


def test_compact_rewrites_fragmented_partitions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # three appends fragment bucket 0 into three files
    t.append(_df(spark, [(0, "a", 1)]))
    t.append(_df(spark, [(0, "b", 2), (1, "x", 9)]))
    t.append(_df(spark, [(0, "c", 3)]))
    before = _data(t)
    n_files_b0 = sum(
        1 for f in t.snapshot()["files"] if f["min"]["bucket"] == 0
    )
    assert n_files_b0 == 3
    v = t.compact(min_files_per_partition=2)
    assert v == 4 and t.snapshot()["operation"] == "compact"
    assert _data(t) == before  # bit-identical data
    after = [f for f in t.snapshot()["files"] if f["min"]["bucket"] == 0]
    assert len(after) == 1  # one file per compacted partition
    # untouched partition keeps its original file
    b1 = [f for f in t.snapshot()["files"] if f["min"]["bucket"] == 1]
    assert len(b1) == 1 and "snap-v2" in b1[0]["path"]
    # nothing fragmented anymore → no-op
    assert t.compact(min_files_per_partition=2) is None
    # old layout still time-travelable until expiry
    assert _data(t, version=3) == before
    out = t.expire_snapshots(keep_last=1)
    assert out["snapshots"] == 3 and out["files"] == 3
    assert _data(t) == before


def test_expire_keeps_files_rereferenced_by_rollback(spark, tmp_path):
    """A rollback snapshot re-references OLD files: expiring history must
    GC only files no retained snapshot uses, not the re-published ones."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(0, "keep", 1)]))
    t.overwrite_partitions(_df(spark, [(0, "oops", 9)]))
    t.rollback(1)  # current version points at v1's file again
    out = t.expire_snapshots(keep_last=1)
    assert out == {"snapshots": 2, "files": 1}  # only the 'oops' file dies
    assert _data(t) == {(0, "keep", 1)}


def test_merge_rows_upsert(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(0, "a", 1), (0, "b", 2), (1, "c", 3)]))
    # upsert: replace key 'b', insert 'd' (bucket 0); bucket 1 untouched
    t.merge_rows(_df(spark, [(0, "b", 20), (0, "d", 4)]), key_cols=("k",))
    assert _data(t) == {(0, "a", 1), (0, "b", 20), (0, "d", 4), (1, "c", 3)}
    assert t.snapshot()["operation"] == "overwrite_partitions"
    # bucket 1's file carried over by reference, not rewritten
    b1 = [f for f in t.snapshot()["files"] if f["min"]["bucket"] == 1]
    assert len(b1) == 1 and "snap-v1" in b1[0]["path"]
    # merge into an empty partition is a plain insert
    t.merge_rows(_df(spark, [(2, "e", 5)]), key_cols=("k",))
    assert (2, "e", 5) in _data(t)
    # idempotent re-merge
    before = _data(t)
    t.merge_rows(_df(spark, [(0, "b", 20)]), key_cols=("k",))
    assert _data(t) == before


def test_additive_schema_evolution_on_read(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(0, "a", 1)]))
    t.append(
        spark.createDataFrame(
            [(1, "b", 2, "fresh")], "bucket int, k string, n long, extra string"
        )
    )
    got = {(r["bucket"], r["k"], r["n"], r["extra"]) for r in t.read().collect()}
    assert got == {(0, "a", 1, None), (1, "b", 2, "fresh")}


def test_string_partition_values_roundtrip(spark, tmp_path):
    """Hive-escaped chars and digit-like strings must survive the
    manifest round trip — '03' stays '03', 'a:b' matches itself."""
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_col="part")
    df = spark.createDataFrame(
        [("a:b", "x", 1), ("03", "y", 2), ("plain", "z", 3)],
        "part string, k string, n long",
    )
    t.append(df)
    vals = {f["min"]["part"] for f in t.snapshot()["files"]}
    assert vals == {"a:b", "03", "plain"}
    # merge into the escaped partition keeps its other rows
    t.append(spark.createDataFrame([("a:b", "w", 4)], "part string, k string, n long"))
    t.merge_rows(
        spark.createDataFrame([("a:b", "x", 10)], "part string, k string, n long"),
        key_cols=("k",),
    )
    got = {(r["part"], r["k"], r["n"]) for r in t.read().collect()}
    assert got == {("a:b", "x", 10), ("a:b", "w", 4), ("03", "y", 2), ("plain", "z", 3)}


def test_vacuum_orphans(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(0, "a", 1)]))
    # simulate a crashed writer: data files written, snapshot never published
    orphan_entries = t._write_data_files(_df(spark, [(1, "zzz", 9)]), 99)
    assert all(os.path.exists(f["path"]) for f in orphan_entries)
    assert t.vacuum_orphans(min_age_s=0.0) == len(orphan_entries)
    assert not any(os.path.exists(f["path"]) for f in orphan_entries)
    # referenced files untouched
    assert _data(t) == {(0, "a", 1)}
    assert t.vacuum_orphans(min_age_s=0.0) == 0


def test_append_refuses_null_partition_values(spark, tmp_path):
    """Rows with a null partition value must fail the commit loudly, not
    vanish from the manifest (ADVICE r3)."""
    import pytest as _pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    rows = spark.createDataFrame(
        [(0, "a", 1), (None, "b", 2), (1, "c", 3)], "bucket int, k string, n long"
    )
    with _pytest.raises(ValueError, match="null"):
        t.append(rows)
    # nothing was published; the table is still empty and writable
    assert t.current_version() == 0
    t.append(_df(spark, [(0, "a", 1)]))
    assert _data(t) == {(0, "a", 1)}


# ----------------------------------------------------------- changes (CDC)


def test_changes_reads_only_appended_rows(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    _df = lambda rows: spark.createDataFrame(rows, "bucket int, k long, v string")
    v1 = t.append(_df([(0, 1, "a"), (1, 2, "b")]))
    v2 = t.append(_df([(0, 3, "c")]))
    got = t.changes(v1, v2).collect()
    assert [(r["k"], r["_change_version"]) for r in got] == [(3, v2)]
    # full range: both appends, stamped with their versions
    allc = sorted(
        (r["k"], r["_change_version"]) for r in t.changes(0).collect()
    )
    assert allc == [(1, v1), (2, v1), (3, v2)]


def test_changes_merge_is_an_upsert_image(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    _df = lambda rows: spark.createDataFrame(rows, "bucket int, k long, v string")
    v1 = t.append(_df([(0, 1, "a"), (0, 2, "b"), (1, 9, "z")]))
    v2 = t.merge_rows(_df([(0, 2, "B")]), key_cols=("k",))
    got = sorted((r["k"], r["v"]) for r in t.changes(v1, v2).collect())
    # the rewritten partition's FULL contents (k=1 re-added, k=2 updated);
    # the untouched partition (k=9) does not appear
    assert got == [(1, "a"), (2, "B")]


def test_changes_skips_layout_only_snapshots(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    _df = lambda rows: spark.createDataFrame(rows, "bucket int, k long, v string")
    t.append(_df([(0, 1, "a")]))
    v1 = t.append(_df([(0, 2, "b")]))
    v2 = t.compact(min_files_per_partition=2)
    assert v2 is not None and v2 > v1
    assert t.changes(v1).count() == 0  # compaction rewrites, adds nothing
    v3 = t.rollback(v1)
    assert t.changes(v2, v3).count() == 0
    assert "_change_version" in t.changes(v2, v3).columns  # schema kept


# ----------------------------------------------- concurrency & safety fixes


def _kv(spark, rows):
    return spark.createDataFrame(rows, "bucket int, k long, v string")


def test_overwrite_pinned_base_raises_on_racing_commit(spark, tmp_path):
    """A commit landing between a merge's base read and its publish must
    CommitConflict, never be silently overwritten (lost update)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = t.append(_kv(spark, [(0, 1, "a")]))
    t.append(_kv(spark, [(0, 2, "b")]))  # the racing writer
    with pytest.raises(CommitConflict):
        t.overwrite_partitions(_kv(spark, [(0, 1, "A")]), base=base)
    # the racing writer's rows survived
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_publish_exclusive_is_thread_safe(tmp_path):
    """Two threads in ONE process racing to publish the same version:
    exactly one wins and the published payload is the winner's own —
    pid-only tmp naming used to let the loser overwrite it."""
    import threading

    from pdf_parser_spark.plans.snapshots import _publish_exclusive

    target = str(tmp_path / "v5.json")
    results = {}
    barrier = threading.Barrier(2)

    def go(name):
        barrier.wait()
        try:
            _publish_exclusive(target, name)
            results[name] = "won"
        except CommitConflict:
            results[name] = "lost"

    ts = [threading.Thread(target=go, args=(f"T{i}",)) for i in range(2)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert sorted(results.values()) == ["lost", "won"]
    winner = next(k for k, v in results.items() if v == "won")
    with open(target) as fh:
        assert fh.read() == winner


def test_vacuum_survives_path_respelling(spark, tmp_path):
    """A table written under one root spelling and vacuumed under another
    (same directory, different path string) must not see live files as
    orphans — the manifests store the writer's spelling verbatim."""
    spelled = str(tmp_path / "sub" / ".." / "t")  # un-normalized spelling
    t = SnapshotTable(spark, spelled)
    t.append(_kv(spark, [(0, 1, "a"), (1, 2, "b")]))
    plain = SnapshotTable(spark, str(tmp_path / "t"))  # normalized spelling
    assert plain.vacuum_orphans(min_age_s=0.0) == 0
    assert plain.read().count() == 2


def test_partition_type_guard(spark, tmp_path):
    """Non-integral, non-string partition layouts round-trip through Hive
    directory names differently than Python equality — refuse them."""
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_col="day")
    df = spark.createDataFrame(
        [("2026-08-19", 1)], "day string, k long"
    ).select(F.to_date("day").alias("day"), "k")
    with pytest.raises(ValueError, match="integral or string"):
        t.append(df)


def test_expire_keep_last_zero_refused(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_kv(spark, [(0, 1, "a")]))
    with pytest.raises(ValueError, match="keep_last"):
        t.expire_snapshots(keep_last=0)
    assert t.read().count() == 1  # nothing was destroyed


def test_read_of_empty_table_raises_clearly(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_col="part")
    with pytest.raises(ValueError, match="no committed data"):
        t.read()


def test_changes_after_expiry_raises_clearly(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_kv(spark, [(0, 1, "a")]))
    t.append(_kv(spark, [(0, 2, "b")]))
    t.append(_kv(spark, [(0, 3, "c")]))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="CDC window expired"):
        t.changes(1).count()


def test_binary_stats_cols_skip_pruning(spark, tmp_path):
    """Binary footer stats have no faithful JSON form: record none and
    keep the file under any min_max filter (conservative)."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=("payload",))
    df = spark.createDataFrame(
        [(0, bytearray(b"\xff\x01")), (0, bytearray(b"\x00\x02"))],
        "bucket int, payload binary",
    )
    t.append(df)
    entries = t.plan_entries()
    assert all("payload" not in f["min"] for f in entries)
    assert t.read(min_max={"payload": ("zzz", "zzzz")}).count() == 2


def test_current_version_survives_corrupt_hint(spark, tmp_path):
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_kv(spark, [(0, 1, "a")]))
    v2 = t.append(_kv(spark, [(0, 2, "b")]))
    hint = os.path.join(str(tmp_path / "t"), "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("not a number")
    assert t.current_version() == v2
    with open(hint, "w") as fh:
        fh.write("1")  # stale-low: forward probe must still find the head
    assert t.current_version() == v2
