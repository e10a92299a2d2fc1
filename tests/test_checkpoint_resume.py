"""S1 resume semantics: kill-and-restart yields exactly the one-shot result.

SURVEY.md §5.5 — kill the job after k partition-group commits, rerun,
assert no duplicate output rows and an identical final table.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.fixtures import pages_spark
from pdf_parser_spark.plans import pipeline
from pdf_parser_spark.plans.checkpoint import SnapshotExtractionJob
from pdf_parser_spark.sources import pages as pages_src
from pdf_parser_spark.streaming.incremental import IncrementalSync, apply_changes

N_DOCS = 120
N_BUCKETS = 8


@pytest.fixture(scope="module")
def pages(spark):
    return pages_spark(spark, n_docs=N_DOCS, partitions=4)


def _job(spark, out, n_buckets=N_BUCKETS, buckets_per_commit=2):
    return SnapshotExtractionJob(
        spark, out, n_buckets=n_buckets, buckets_per_commit=buckets_per_commit
    )


def _data_files(job) -> set[str]:
    return {
        os.path.join(root, n)
        for root, _, names in os.walk(job.table.data_dir)
        for n in names if n.endswith(".parquet")
    }


def test_resume_after_partial_run(spark, pages, tmp_path_factory):
    """Kill after 2 group commits, restart: exactly the one-shot result."""
    out = str(tmp_path_factory.mktemp("resume"))
    job = _job(spark, out)

    # first run "dies" after 2 group commits (4 of 8 buckets)
    summary1 = job.run(lambda: pages, max_commits=2)
    assert summary1["group_commits_this_run"] == 2
    assert len(job.committed()) == 4

    # restart: picks up only the uncommitted buckets
    job2 = _job(spark, out)
    summary2 = job2.run(lambda: pages)
    assert summary2["committed"] == N_BUCKETS
    assert summary2["group_commits_this_run"] == 2

    got = job2.output()
    # no duplicates despite the restart
    assert got.count() == got.select("txn_id").distinct().count()

    # byte-identical to the one-shot pipeline's extraction output
    expect = (
        pipeline.transactions_pipeline(pages)
        .select("txn_id", "date", "memo", "amount", "source")
        .orderBy("txn_id")
        .toPandas()
    )
    got_pd = got.select("txn_id", "date", "memo", "amount", "source").orderBy("txn_id").toPandas()
    pd.testing.assert_frame_equal(got_pd, expect)


def test_snapshot_job_resume_matches_one_shot(spark, pages, tmp_path_factory):
    """The snapshot-log side of the kill-and-restart contract: each group
    commit is one table snapshot; resume reads the snapshot summaries."""
    out = str(tmp_path_factory.mktemp("snapresume"))
    job = _job(spark, out)

    summary1 = job.run(lambda: pages, max_commits=2)
    assert summary1["group_commits_this_run"] == 2
    assert summary1["snapshot_version"] == 2  # one snapshot per group commit
    assert len(job.committed()) == 4

    job2 = _job(spark, out)
    summary2 = job2.run(lambda: pages)
    assert summary2["committed"] == N_BUCKETS
    assert summary2["snapshot_version"] == 4

    got = job2.output()
    assert got.count() == got.select("txn_id").distinct().count()
    expect = (
        pipeline.transactions_pipeline(pages)
        .select("txn_id", "date", "memo", "amount", "source")
        .orderBy("txn_id")
        .toPandas()
    )
    got_pd = (
        got.select("txn_id", "date", "memo", "amount", "source")
        .orderBy("txn_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got_pd, expect)

    # rerunning a fully-committed job is a no-op (no new snapshots)
    summary3 = job2.run(lambda: pages)
    assert summary3["group_commits_this_run"] == 0
    assert summary3["snapshot_version"] == 4

    # the lineage table comes straight from the snapshot summaries
    lin = job2.lineage()
    assert lin.count() == 4
    assert lin.agg(F.sum("docs")).first()[0] == N_DOCS

    # time travel still sees the half-done table: exactly the first two
    # groups' buckets ({0,1,2,3}), row-for-row what the final table holds
    # for those buckets
    half = job2.table.read(version=2)
    half_buckets = {r["bucket"] for r in half.select("bucket").distinct().collect()}
    assert half_buckets <= {0, 1, 2, 3}
    assert half.count() == got.filter(F.col("bucket") < 4).count()


def test_rerun_of_committed_bucket_is_idempotent(spark, pages, tmp_path_factory):
    """A crash between the data write and the snapshot publish: the rerun
    redoes the group without duplicates, and the crashed attempt's files
    are exactly the debris vacuum_orphans removes."""
    out = str(tmp_path_factory.mktemp("idem"))
    job = _job(spark, out, n_buckets=4, buckets_per_commit=2)
    job.run(lambda: pages)
    n1 = job.output().count()
    # simulate the crash: the head snapshot was never published
    head = job.table.current_version()
    debris = {f["path"] for f in job.table.snapshot(head)["files"]} - {
        f["path"] for f in job.table.snapshot(head - 1)["files"]
    }
    assert debris
    os.remove(os.path.join(out, "metadata", f"v{head}.json"))
    assert job.run(lambda: pages)["group_commits_this_run"] == 1
    assert job.output().count() == n1
    assert job.output().select("txn_id").distinct().count() == n1
    before = _data_files(job)
    assert job.table.vacuum_orphans(min_age_s=0) == len(debris)
    assert before - _data_files(job) == debris
    assert job.output().count() == n1


def test_rerun_after_expire_commits_nothing(spark, pages, tmp_path_factory):
    """The committed buckets survive expire_snapshots: a finished job whose
    history was expired to its head reruns as a no-op."""
    out = str(tmp_path_factory.mktemp("expired"))
    job = _job(spark, out)
    job.run(lambda: pages)
    n1 = job.output().count()
    job.table.expire_snapshots(keep_last=1)
    rerun = _job(spark, out).run(lambda: pages)
    assert rerun["group_commits_this_run"] == 0
    assert rerun["committed"] == N_BUCKETS
    assert job.output().count() == n1


def test_lineage_metrics(spark, pages, tmp_path_factory):
    """One lineage row per group commit, metrics from the snapshot summary."""
    out = str(tmp_path_factory.mktemp("lineage"))
    job = _job(spark, out, n_buckets=4, buckets_per_commit=2)
    job.run(lambda: pages)
    lin = job.lineage().toPandas()
    assert len(lin) == 2
    assert sorted(b for bs in lin["buckets"] for b in bs) == [0, 1, 2, 3]
    assert sorted(lin["version"]) == [1, 2]
    assert lin["docs"].sum() == N_DOCS
    assert (lin["group_docs_per_sec"] > 0).all()
    assert (lin["group_wall_s"] > 0).all()
    assert lin["txns"].sum() == job.output().count()
    assert lin["bytes_in"].sum() > 0
    assert lin["chars_out"].sum() > 0
    # fixture corpus has no undecodable payloads
    assert lin["parse_failures"].sum() == 0


# ---------------------------------------------------------------------------
# incremental sync (S1 cursor + S3 late/duplicate handling)
# ---------------------------------------------------------------------------


def _write_changes(spark, src, seq, rows):
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "op", "seq", "value"]),
        schema="id string, op string, seq long, value double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{src}/changes-{seq}.parquet")


def test_incremental_sync_cursor_and_merge(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("changes"))
    tgt = str(tmp_path_factory.mktemp("target"))
    _write_changes(spark, src, 1, [("a", "upsert", 1, 1.0), ("b", "upsert", 1, 2.0)])
    sync = IncrementalSync(spark, src, tgt, key="id")
    r = sync.sync()
    assert r == {"applied_files": 1, "cursor": 1}
    assert {x["id"]: x["value"] for x in sync.table().collect()} == {"a": 1.0, "b": 2.0}

    # modified + removed + late duplicate of an old change
    _write_changes(
        spark, src, 2,
        [("a", "upsert", 2, 9.0), ("b", "remove", 2, 0.0), ("c", "upsert", 2, 3.0)],
    )
    r = sync.sync()
    assert r["cursor"] == 2
    assert {x["id"]: x["value"] for x in sync.table().collect()} == {"a": 9.0, "c": 3.0}

    # no pending → no-op (cursor holds)
    assert sync.sync() == {"applied_files": 0, "cursor": 2}


def test_incremental_sync_replay_is_idempotent(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("changes2"))
    tgt = str(tmp_path_factory.mktemp("target2"))
    _write_changes(spark, src, 1, [("a", "upsert", 1, 1.0), ("b", "upsert", 1, 2.0)])
    _write_changes(spark, src, 2, [("a", "upsert", 2, 5.0)])
    sync = IncrementalSync(spark, src, tgt, key="id")
    sync.sync()
    state1 = sorted((x["id"], x["value"]) for x in sync.table().collect())
    # every applied change redelivered in one later file: no effect
    _write_changes(
        spark, src, 3,
        [("a", "upsert", 1, 1.0), ("b", "upsert", 1, 2.0), ("a", "upsert", 2, 5.0)],
    )
    assert sync.sync() == {"applied_files": 1, "cursor": 3}
    state2 = sorted((x["id"], x["value"]) for x in sync.table().collect())
    assert state1 == state2 == [("a", 5.0), ("b", 2.0)]
    # and a fresh object on the same target resumes from the committed cursor
    assert IncrementalSync(spark, src, tgt, key="id").sync() == {
        "applied_files": 0, "cursor": 3
    }


def test_apply_changes_keep_latest_window(spark):
    batch = spark.createDataFrame(
        [("a", "upsert", 3, 30.0), ("a", "upsert", 1, 10.0), ("a", "remove", 2, 0.0)],
        schema="id string, op string, seq long, value double",
    )
    out = apply_changes(None, batch, "id").collect()
    assert [(r["id"], r["value"]) for r in out] == [("a", 30.0)]


def test_bucket_pruned_read(spark, pages, tmp_path_factory):
    """write_table produces a bucket layout whose scan prunes by bucket."""
    out = str(tmp_path_factory.mktemp("buckets")) + "/pages"
    pages_src.write_table(pages.select("url", "lang"), out, n_buckets=8)
    one = spark.read.parquet(out).where(F.col("bucket") == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    n_all = spark.read.parquet(out).count()
    assert 0 < one.count() < n_all
    # partition filter must reach the scan (pruning, not post-filter)
    assert "PartitionFilters: [isnotnull(bucket" in plan or "bucket#" in plan


# ------------------------------------------- review-fix regression tests


def test_late_redelivery_cannot_regress_committed_state(spark, tmp_path_factory):
    """A redelivered OLD change row must lose to newer committed state
    across sync boundaries (the seq is persisted, not reset to -1)."""
    src = str(tmp_path_factory.mktemp("late_src"))
    tgt = str(tmp_path_factory.mktemp("late_tgt"))
    sync = IncrementalSync(spark, src, tgt, key="id")
    _write_changes(spark, src, 1, [("a", "upsert", 1, 1.0)])
    sync.sync()
    _write_changes(spark, src, 2, [("a", "upsert", 2, 9.0), ("b", "upsert", 2, 2.0)])
    sync.sync()
    # seq-1 row redelivered in a LATER file (out-of-order delivery)
    _write_changes(spark, src, 3, [("a", "upsert", 1, 1.0)])
    sync.sync()
    assert {x["id"]: x["value"] for x in sync.table().collect()} == {
        "a": 9.0, "b": 2.0
    }


def test_tombstone_blocks_resurrection(spark, tmp_path_factory):
    """A redelivered old upsert must not resurrect a key removed at a
    newer seq — removes persist as tombstones."""
    src = str(tmp_path_factory.mktemp("tomb_src"))
    tgt = str(tmp_path_factory.mktemp("tomb_tgt"))
    sync = IncrementalSync(spark, src, tgt, key="id")
    _write_changes(spark, src, 1, [("a", "upsert", 1, 1.0)])
    sync.sync()
    _write_changes(spark, src, 2, [("a", "remove", 2, 0.0)])
    sync.sync()
    _write_changes(spark, src, 3, [("a", "upsert", 1, 1.0)])  # stale replay
    sync.sync()
    assert sync.table().count() == 0


def test_change_feed_schema_evolution(spark, tmp_path_factory):
    """A column added to the change feed reaches the target (old rows
    null-filled); an old-schema redelivery neither wedges nor drops it."""
    src = str(tmp_path_factory.mktemp("evo_src"))
    tgt = str(tmp_path_factory.mktemp("evo_tgt"))
    sync = IncrementalSync(spark, src, tgt, key="id")
    _write_changes(spark, src, 1, [("a", "upsert", 1, 1.0)])
    sync.sync()
    spark.createDataFrame(
        [("b", "upsert", 2, 2.0, "EUR")],
        "id string, op string, seq long, value double, currency string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/changes-2.parquet")
    sync.sync()
    got = {x["id"]: (x["value"], x["currency"]) for x in sync.table().collect()}
    assert got == {"a": (1.0, None), "b": (2.0, "EUR")}
    _write_changes(spark, src, 3, [("c", "upsert", 3, 3.0)])  # old schema again
    sync.sync()
    assert sync.table().count() == 3


def test_half_written_change_dir_is_not_consumed(spark, tmp_path_factory):
    """A directory-shaped change file without _SUCCESS (in-flight writer)
    must not be admitted — consuming it would advance the cursor past
    rows that land after the read."""
    import os

    src = str(tmp_path_factory.mktemp("half_src"))
    tgt = str(tmp_path_factory.mktemp("half_tgt"))
    sync = IncrementalSync(spark, src, tgt, key="id")
    _write_changes(spark, src, 1, [("a", "upsert", 1, 1.0)])
    os.remove(os.path.join(src, "changes-1.parquet", "_SUCCESS"))
    assert sync.sync() == {"applied_files": 0, "cursor": -1}
    with open(os.path.join(src, "changes-1.parquet", "_SUCCESS"), "w"):
        pass  # writer finished
    assert sync.sync()["applied_files"] == 1


def test_layout_guard_refuses_changed_n_buckets(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("layout"))
    job = _job(spark, out, buckets_per_commit=4)
    job.run(lambda: pages, max_commits=1)
    with pytest.raises(ValueError, match="n_buckets"):
        _job(spark, out, n_buckets=4)
    # the pin is published before any commit, so even a job that never
    # committed keeps its layout
    fresh = str(tmp_path_factory.mktemp("layout_fresh"))
    _job(spark, fresh)
    with pytest.raises(ValueError, match="n_buckets"):
        _job(spark, fresh, n_buckets=4)


def test_empty_rerun_clears_crashed_bucket_debris(spark, pages, tmp_path_factory):
    """Bucket whose rerun yields ZERO txns: a crashed attempt's data for
    it must not survive under the fresh commit."""
    out = str(tmp_path_factory.mktemp("debris"))
    job = _job(spark, out, buckets_per_commit=N_BUCKETS // 2)
    job.run(lambda: pages)
    # pick a bucket of the LAST commit with rows; simulate "crashed
    # before the publish" by removing that snapshot
    head = job.table.current_version()
    last = job.table.snapshot(head)["summary"]["buckets"]
    counts = {
        r["bucket"]: r["count"]
        for r in job.output().groupBy("bucket").count().collect()
    }
    victim = next(b for b in last if counts.get(b, 0) > 0)
    os.remove(os.path.join(out, "metadata", f"v{head}.json"))
    assert victim not in job.committed()
    # rerun with an input that yields nothing for the victim bucket
    job.run(lambda: pages.limit(0))
    assert victim in job.committed()
    out_df = job.output()
    assert out_df.filter(F.col("bucket") == victim).count() == 0
    assert out_df.count() == sum(
        n for b, n in counts.items() if b not in last
    )
