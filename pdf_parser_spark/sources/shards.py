"""Training-shard export sink — deterministic, size-bounded, resumable.

The last step of a pretraining data pipeline is writing the packed
sequences out as SHARDS: fixed-row-count files in a stable global order,
so a 1000-GPU loader can map shard ranges to ranks deterministically and
a killed export can resume without rewriting finished work (the
WebDataset / Megatron data-shard layout, re-expressed on Spark).

Layout under ``root``:

    data/shard_id=K/part-*.parquet   one file per shard (whole-shard tasks)
    _shard_manifest/*.parquet        one row per COMMITTED shard:
                                     n_rows, n_tokens, checksum,
                                     min/max global index

Determinism: the shard id is a pure function of the row's rank in the
total order ``(order_key, tiebreaker)`` via indexing.with_global_index —
no partition-id, no timestamps — so every (re-)run assigns every row the
same shard.

Resumability (the crash windows, in order):
- killed mid data-write → Spark's commit protocol leaves no visible
  files for in-flight tasks; the manifest never saw the wave. Re-run
  rewrites exactly the uncommitted shards (dynamic partition overwrite
  makes that idempotent).
- killed after data, before manifest → re-run's reconcile step finds
  shards on disk that the manifest misses, recomputes their stats FROM
  THE WRITTEN FILES, and commits them — no data rewrite at all.
- killed mid manifest-append → the manifest write is itself an
  all-or-nothing Spark job; re-run redoes the reconcile.

The manifest is a Spark table, not a driver-side JSON: at 10^12 rows /
10^5 rows-per-shard there are 10^7 shards, and no list of that size ever
belongs on the driver. Commit-set membership is a join, stats are
aggregates, and the checksum (sum of per-row xxhash64 as decimal(38,0))
is exact, order-independent, and mergeable.

Reference parity: the reference service persists extraction results
one-document-at-a-time via Supabase upserts (main.py:216-299); this sink
is the batch equivalent of that persistence step at corpus scale, with
the same "never lose, never double-write" contract its upsert gives.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.operators.indexing import with_global_index
from pdf_parser_spark.plans.snapshots import pin_meta

__all__ = ["plan_shards", "export_shards", "read_shards", "verify_shards"]

_DATA = "data"
_MANIFEST = "_shard_manifest"
_META = "_export_meta.json"


def plan_shards(
    df: DataFrame,
    order_key: str,
    tiebreaker: str,
    rows_per_shard: int,
    num_buckets: int = 32,
) -> DataFrame:
    """Adds ``shard_id`` (0-based) and ``shard_pos`` (0-based position
    inside the shard) from the row's rank in the total order
    ``(order_key asc, tiebreaker asc)``.

    ``order_key`` must be numeric and non-null, ``tiebreaker`` unique —
    the with_global_index contract. Every shard except the last has
    exactly ``rows_per_shard`` rows."""
    if rows_per_shard < 1:
        raise ValueError("rows_per_shard must be >= 1")
    idx = with_global_index(
        df, order_key, tiebreaker, num_buckets=num_buckets, out_col="_gidx"
    )
    zero = F.col("_gidx") - 1
    return idx.withColumn(
        "shard_id", F.floor(zero / rows_per_shard).cast("int")
    ).withColumn("shard_pos", (zero % rows_per_shard).cast("int"))


def _row_hash(cols: list[str]):
    # column order fixed by sorting so the checksum is schema-order-proof
    return F.xxhash64(*[F.col(c) for c in sorted(cols)])


def _shard_stats(df: DataFrame, token_col: str | None) -> DataFrame:
    data_cols = [c for c in df.columns if c not in ("shard_id", "shard_pos", "_gidx")]
    tok = (
        F.sum(F.col(token_col).cast("long"))
        if token_col
        else F.lit(None).cast("long")
    )
    return df.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        tok.alias("n_tokens"),
        F.sum(_row_hash(data_cols).cast("decimal(38,0)")).alias("checksum"),
        F.min("_gidx").alias("min_idx"),
        F.max("_gidx").alias("max_idx"),
    )


def _read_manifest(spark: SparkSession, root: str) -> DataFrame | None:
    """None means NO manifest (dir absent, or present but empty — a
    crashed job can leave an empty dir). A manifest that exists but
    cannot be read is an error and propagates: treating it as absent
    would re-commit every shard and double-count the manifest."""
    path = os.path.join(root, _MANIFEST)
    if not os.path.isdir(path):
        return None
    if not any(n.endswith(".parquet") for n in os.listdir(path)):
        return None
    return spark.read.parquet(path)


def _shards_on_disk(root: str) -> list[int]:
    """Shard ids with a data directory, from one FS metadata listing.
    Relies on job-commit atomicity (the default committer publishes all
    task outputs at job commit), so a visible directory is a complete
    shard: written by a job that finished its data phase, whether or not
    the manifest commit followed."""
    data = os.path.join(root, _DATA)
    if not os.path.isdir(data):
        return []
    out = []
    for name in os.listdir(data):
        if name.startswith("shard_id="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return out


def export_shards(
    df: DataFrame,
    root: str,
    order_key: str,
    tiebreaker: str,
    rows_per_shard: int,
    token_col: str | None = None,
    num_buckets: int = 32,
) -> dict:
    """Write ``df`` as deterministic shards under ``root``; safe to
    re-run after any crash — committed shards are never rewritten.

    Returns a small summary dict (counts only, never row data)."""
    spark = df.sparkSession
    # pin the export geometry: a resume with different parameters would
    # silently assign rows to different shards than the committed ones
    meta = {
        "order_key": order_key,
        "tiebreaker": tiebreaker,
        "rows_per_shard": rows_per_shard,
        "token_col": token_col,
    }
    prev = pin_meta(os.path.join(root, _META), meta)
    if prev != meta:
        raise ValueError(
            f"export geometry mismatch under {root}: committed {prev}, "
            f"requested {meta} — resume must use the original "
            "order_key/tiebreaker/rows_per_shard"
        )
    planned = plan_shards(df, order_key, tiebreaker, rows_per_shard, num_buckets)
    manifest = _read_manifest(spark, root)

    todo = planned
    if manifest is not None:
        # Resume guard: the skip-committed-shards contract is only safe if
        # the input is the SAME row set the committed shards were planned
        # from. With a grown input, new rows whose rank lands inside an
        # already-committed shard (notably the partial last shard) would be
        # silently dropped — never written, never flagged. Cross-check the
        # plan against the manifest: every committed shard must be planned
        # with the same row count and _gidx bounds; a committed shard the
        # plan no longer produces means the input shrank. Cost: one
        # aggregate over the planned frame (which the resume evaluates
        # anyway for the anti-join); no data-column pass.
        plan_stats = planned.groupBy("shard_id").agg(
            F.count(F.lit(1)).alias("p_rows"),
            F.min("_gidx").alias("p_min"),
            F.max("_gidx").alias("p_max"),
        )
        drift = (
            manifest.select("shard_id", "n_rows", "min_idx", "max_idx")
            .join(plan_stats, "shard_id", "left")
            .filter(
                F.col("p_rows").isNull()
                | (F.col("p_rows") != F.col("n_rows"))
                | (F.col("p_min") != F.col("min_idx"))
                | (F.col("p_max") != F.col("max_idx"))
            )
        )
        bad = drift.limit(5).collect()
        if bad:
            raise ValueError(
                f"resume under {root} with a changed row set: committed "
                f"shards no longer match the plan, e.g. "
                f"{[r.asDict() for r in bad]} — shards are immutable once "
                "committed; export new/changed rows to a fresh root (or a "
                "new shard range) instead of appending to this one"
            )
        committed = manifest.select("shard_id")
        todo = planned.join(committed, "shard_id", "left_anti")

    data_path = os.path.join(root, _DATA)
    todo_ids = todo.select("shard_id").distinct().localCheckpoint()
    n_todo_shards = todo_ids.count()

    # crash window 2 (data written, manifest commit lost): shards already
    # ON DISK are complete (job-commit atomicity — see _shards_on_disk),
    # deterministic, and pending only their manifest row — rewriting them
    # would be correct but wasteful, so exclude them from the write set
    # and let the reconcile below commit them from the existing files.
    on_disk = _shards_on_disk(root)
    to_write = todo_ids
    if on_disk:
        disk_df = spark.createDataFrame(
            [(i,) for i in on_disk], "shard_id int"
        )
        to_write = todo_ids.join(disk_df, "shard_id", "left_anti")
    n_write = to_write.count()

    if n_write:
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(mode_key, None)
        spark.conf.set(mode_key, "dynamic")
        try:
            (
                todo.join(to_write, "shard_id", "left_semi")
                .drop("_gidx")
                # one exchange keyed by shard id → each shard's rows land in
                # one task → exactly one file per shard directory
                .repartition("shard_id")
                .sortWithinPartitions("shard_id", "shard_pos")
                .write.partitionBy("shard_id")
                .mode("overwrite")
                .parquet(data_path)
            )
        finally:
            if prev is not None:
                spark.conf.set(mode_key, prev)
            else:
                spark.conf.unset(mode_key)

    if not os.path.isdir(data_path):  # empty input, nothing ever written
        return {
            "shards_written": 0,
            "shards_reused": 0,
            "shards_committed": 0,
            "total_shards": 0,
            "total_rows": 0,
            "total_tokens": None,
        }

    # reconcile: commit every shard that is on disk but not in the
    # manifest — stats computed from the WRITTEN files, so the manifest
    # always describes bytes on disk, and a crash-after-data re-run
    # commits without rewriting anything. Anything on disk but
    # uncommitted is a subset of `todo` (planned minus manifest), so a
    # semi-join against the todo ids — small on any resume — lets
    # dynamic partition pruning skip every committed shard directory
    # instead of re-reading the whole table to commit a gap.
    written = spark.read.parquet(data_path)
    uncommitted = written.join(todo_ids, "shard_id", "left_semi")
    # written files carry shard_pos but not _gidx; reconstruct the global
    # index from the shard geometry (it is a pure function of them)
    uncommitted = uncommitted.withColumn(
        "_gidx",
        (F.col("shard_id").cast("long") * rows_per_shard + F.col("shard_pos") + 1),
    )
    # materialize the stats once: count() then write() would otherwise each
    # run the aggregation — two full scans of every uncommitted shard (on a
    # fresh export, two passes over the whole written corpus). The
    # checkpointed frame is O(shards) manifest-sized rows, not row data.
    new_entries = _shard_stats(uncommitted, token_col).localCheckpoint()
    n_committed = new_entries.count()
    if n_committed:
        new_entries.write.mode("append").parquet(os.path.join(root, _MANIFEST))

    final = _read_manifest(spark, root)
    if final is None:  # empty input against a manifest-less root
        total = {"shards": 0, "rows": 0, "tokens": None}
    else:
        total = final.agg(
            F.count(F.lit(1)).alias("shards"),
            F.sum("n_rows").alias("rows"),
            F.sum("n_tokens").alias("tokens"),
        ).first()
    return {
        "shards_written": n_write,
        "shards_reused": n_todo_shards - n_write,
        "shards_committed": n_committed,
        "total_shards": total["shards"],
        "total_rows": total["rows"],
        "total_tokens": total["tokens"],
    }


def read_shards(spark: SparkSession, root: str) -> DataFrame:
    """Read the shard table back (``shard_id`` restored from the
    directory name — scans filtered on it prune to the named dirs)."""
    return spark.read.parquet(os.path.join(root, _DATA))


def verify_shards(spark: SparkSession, root: str, token_col: str | None = None) -> DataFrame:
    """One row per shard: manifest stats vs recomputed-from-disk stats
    and an ``ok`` verdict. A loader can gate on ``ok`` before training."""
    manifest = _read_manifest(spark, root)
    if manifest is None:
        raise ValueError(f"no manifest under {root}")
    data = read_shards(spark, root)
    # recompute _gidx bounds from manifest geometry: min/max check uses
    # the manifest's own values, so only counts + checksum are recomputed
    data_cols = [c for c in data.columns if c not in ("shard_id", "shard_pos")]
    actual = data.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("a_rows"),
        (
            F.sum(F.col(token_col).cast("long"))
            if token_col
            else F.lit(None).cast("long")
        ).alias("a_tokens"),
        F.sum(_row_hash(data_cols).cast("decimal(38,0)")).alias("a_checksum"),
    )
    joined = manifest.join(actual, "shard_id", "full_outer")
    return joined.select(
        "shard_id",
        "n_rows",
        "a_rows",
        "checksum",
        "a_checksum",
        (
            F.col("n_rows").eqNullSafe(F.col("a_rows"))
            & F.col("checksum").eqNullSafe(F.col("a_checksum"))
            & (
                F.col("n_tokens").eqNullSafe(F.col("a_tokens"))
                if token_col
                else F.lit(True)
            )
        ).alias("ok"),
    )
