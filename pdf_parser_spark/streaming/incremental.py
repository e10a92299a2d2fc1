"""S1-S3 — cursor-checkpointed incremental ingestion (the Plaid-sync shape).

Reference semantics (routes/plaid.py:213-346): pull pages of
added/modified/removed records from a cursored source, upsert/delete into the
store with deterministic ids, and persist the cursor only after the whole
item is applied — crash ⇒ re-pull ⇒ idempotent.

`IncrementalSync` is that loop as incremental *batch*: the source is a
directory that accumulates change files (`changes-<seq>.parquet`, each row
carries ``op ∈ {upsert, remove}`` and a monotonically increasing ``seq``);
the cursor is the last fully-applied seq. The merged state and the cursor
are published in ONE snapshot of a plans/snapshots.SnapshotTable (the
cursor is that snapshot's committed id), so there is no crash window
between the data commit and the cursor advance. The merge itself is D3's
keep-latest window — on an Iceberg cluster this is `MERGE INTO target USING
batch ON target.id = batch.id WHEN MATCHED ... WHEN NOT MATCHED ...`, same
dataframe, one snapshot.

Late/duplicate safety (S3) is seq-based and DURABLE: the stored target keeps
every key's applied ``seq`` and keeps removes as TOMBSTONE rows, so a change
row only wins if its seq is strictly newer than the committed state — a
redelivered old upsert can neither regress a newer value nor resurrect a
deleted key, across any sync() boundary and in any delivery order.
``table()`` serves the live view (tombstones and bookkeeping columns
dropped).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pdf_parser_spark.plans.snapshots import SnapshotTable
from pdf_parser_spark.sources.pages import bucket_of

CHANGE_RE = re.compile(r"changes-(\d+)\.parquet$")

# the stored state's layout key: a hash bucket of the merge key
_BUCKET = "_bucket"
_N_BUCKETS = 16


def apply_changes(target: DataFrame | None, batch: DataFrame, key: str = "id") -> DataFrame:
    """MERGE semantics on DataFrames; returns the new STORED state.

    `batch` columns: key, op ('upsert'|'remove'), seq (monotone), payload...
    The output still carries ``op`` and ``seq``: removes persist as
    tombstones and seq persists per key, so a later merge of a REDELIVERED
    old change row loses to the committed state instead of clobbering it
    (filter with :func:`live_rows` for the payload view).

    Ties on seq are broken toward 'remove' — deterministic, and
    conservative for the undefined same-seq-conflicting-ops case. Columns
    new to either side null-fill on the other (additive schema evolution,
    both directions).
    """
    allrows = (
        batch if target is None
        else target.unionByName(batch, allowMissingColumns=True)
    )
    w = W.partitionBy(key).orderBy(F.col("seq").desc(), F.col("op").asc())
    return (
        allrows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def live_rows(stored: DataFrame) -> DataFrame:
    """The payload view of a stored state: tombstones out, bookkeeping off."""
    return stored.filter(F.col("op") != "remove").drop("op", "seq")


class IncrementalSync:
    """Cursor-checkpointed incremental batch sync into a snapshot table."""

    def __init__(self, spark: SparkSession, source_dir: str, target_dir: str, key: str = "id"):
        self.spark = spark
        self.source_dir = source_dir
        self.key = key
        self.store = SnapshotTable(spark, target_dir, partition_col=_BUCKET)

    def cursor(self) -> int:
        return max(self.store.committed_ids(), default=-1)

    def pending_files(self) -> list[tuple[int, str]]:
        """Pending change files in seq order — only COMPLETE ones.

        A directory-shaped change file is admitted only once its _SUCCESS
        marker exists (Spark's committer writes it last): listing a
        half-written directory, reading its partial rows, and advancing
        the cursor past it would silently drop the rows that landed after
        the read. Plain-file changes (atomic rename producers) are always
        complete by construction.
        """
        cur = self.cursor()
        out = []
        if not os.path.isdir(self.source_dir):
            return out
        for f in os.listdir(self.source_dir):
            m = CHANGE_RE.search(f)
            if not m or int(m.group(1)) <= cur:
                continue
            full = os.path.join(self.source_dir, f)
            if os.path.isdir(full) and not os.path.exists(
                os.path.join(full, "_SUCCESS")
            ):
                continue  # in-flight writer — picked up by a later sync
            out.append((int(m.group(1)), full))
        return sorted(out)

    def sync(self) -> dict:
        """Apply all pending change files in seq order in one commit.

        All pending files are applied as ONE merge (keep-latest over seq
        is associative and order-free) and published as one snapshot
        carrying the new cursor — idempotent re-run after any crash
        point. The merged state keeps every stored key (tombstones
        included), so it rewrites every bucket the base held.
        """
        base = self.store.current_version()
        pending = self.pending_files()
        if not pending:
            return {"applied_files": 0, "cursor": self.cursor()}
        batch = self.spark.read.parquet(*[p for _, p in pending])
        stored = self.store.read(base) if base else None
        merged = apply_changes(stored, batch, self.key).withColumn(
            _BUCKET, bucket_of(self.key, _N_BUCKETS)
        )
        self.store.overwrite_partitions(merged, base=base, ids=[pending[-1][0]])
        return {"applied_files": len(pending), "cursor": self.cursor()}

    def table(self) -> DataFrame | None:
        if self.store.current_version() == 0:
            return None
        return live_rows(self.store.read()).drop(_BUCKET)
