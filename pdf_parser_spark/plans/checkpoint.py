"""S1 — resumable extraction job that commits through the snapshot log.

The reference's Plaid sync persists its cursor only after an item's pages are
fully applied (routes/plaid.py:345): crash ⇒ cursor not advanced ⇒ re-pull,
idempotent because doc ids are deterministic (plaid.py:279). This module is
that commit-last pattern at table scale, in the north rule's literal shape —
"resumes from the last committed snapshot":

- the input is split into ``bucket(N, url)`` hash buckets (sources/pages.py);
- buckets are processed in groups; each group becomes ONE
  ``overwrite_partitions`` commit on a plans/snapshots.SnapshotTable, so a
  re-run of a bucket replaces its files and never appends duplicates (the
  deterministic ``txn_id = url#index`` plays the role of the reference's
  deterministic doc id);
- the group's bucket ids ride in that same atomic publish as the snapshot's
  committed ids, and its extraction metrics (docs/sec, parse failures,
  bytes in/out) in the snapshot SUMMARY — Iceberg snapshots carry exactly
  such a summary map;
- a restarted job reads the committed ids from the head snapshot and
  processes only the other buckets. A crash between the data write and the
  publish leaves only files no snapshot references, never a half-committed
  bucket; ``job.table.vacuum_orphans()`` deletes them.

On an Iceberg cluster the commit is ``writeTo(...).overwritePartitions()``
and ``lineage()`` reads the snapshot metadata table — the driver loop is
unchanged.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.operators import extract as extract_op
from pdf_parser_spark.plans.snapshots import SnapshotTable, pin_meta
from pdf_parser_spark.sources import pages as pages_src


class SnapshotExtractionJob:
    """pages → transactions, one table snapshot per bucket-group commit."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_buckets: int = 16,
        buckets_per_commit: int = 4,
    ) -> None:
        # Pin the bucket layout: resuming with a different n_buckets would
        # hash every url into a different bucket than the committed ids
        # claim — uncommitted urls of renumbered buckets would be skipped
        # FOREVER and two hash layouts would mix in one table.
        committed = pin_meta(
            os.path.join(out_dir, "_layout.json"), {"n_buckets": n_buckets}
        )["n_buckets"]
        if committed != n_buckets:
            raise ValueError(
                f"job at {out_dir} was committed with n_buckets={committed}, "
                f"got n_buckets={n_buckets} — the bucket layout cannot change "
                "across resumes"
            )
        self.spark = spark
        self.n_buckets = n_buckets
        self.buckets_per_commit = buckets_per_commit
        self.table = SnapshotTable(spark, out_dir, partition_col="bucket")

    # -- lineage state ------------------------------------------------------

    def committed(self) -> set[int]:
        """Buckets the head snapshot has committed (zero-output buckets
        commit too, which file listings could not express)."""
        return set(self.table.committed_ids())

    def lineage(self) -> DataFrame:
        """Per-commit lineage/metrics straight from the snapshot log."""
        rows = []
        v = self.table.current_version()
        while v > 0:
            try:
                snap = self.table.snapshot(v)
            except FileNotFoundError:  # expired history
                break
            s = snap["summary"]
            if "buckets" in s:
                rows.append((
                    snap["version"],
                    s["lineage_id"],
                    [int(b) for b in s["buckets"]],
                    int(s["docs"]), int(s["txns"]), int(s["bytes_in"]),
                    int(s["chars_out"]),
                    int(s["parse_failures"]),
                    float(s["group_wall_s"]), float(s["group_docs_per_sec"]),
                ))
            v = snap.get("base_version", v - 1)
        return self.spark.createDataFrame(
            rows,
            "version int, lineage_id string, buckets array<int>, docs long, "
            "txns long, bytes_in long, chars_out long, parse_failures long, "
            "group_wall_s double, group_docs_per_sec double",
        )

    # -- the job ------------------------------------------------------------

    def run(self, get_pages, max_commits: int | None = None) -> dict:
        """Process every uncommitted bucket group; return a run summary.

        ``get_pages``: () -> DataFrame — re-evaluated per group so a restart
        never depends on driver-side cached plans. ``max_commits`` caps the
        number of group commits (the resume tests use it to simulate a kill
        mid-job).
        """
        todo = sorted(set(range(self.n_buckets)) - self.committed())
        groups = [
            todo[i : i + self.buckets_per_commit]
            for i in range(0, len(todo), self.buckets_per_commit)
        ][:max_commits]
        for group in groups:
            t0 = time.perf_counter()
            pages = pages_src.with_bucket(get_pages(), "url", self.n_buckets)
            pages = pages.where(F.col("bucket").isin(group))
            extracted = extract_op.extract_documents(
                pages.drop("bucket")
            ).persist()
            txns = pages_src.with_bucket(
                extract_op.extracted_transactions(extracted),
                "url", self.n_buckets,
            )
            stats = extract_op.extraction_metrics(extracted).first().asDict()
            stats = {k: int(n or 0) for k, n in stats.items()}

            def _summary() -> dict:
                # called AFTER the data write (overwrite_partitions), so the
                # wall clock — and the docs/sec the north star reads from
                # lineage() — includes the write
                wall = time.perf_counter() - t0
                return {
                    "lineage_id": f"extract:{self.n_buckets}:"
                    + ",".join(str(b) for b in group),
                    "buckets": group,
                    **stats,
                    "group_wall_s": round(wall, 3),
                    "group_docs_per_sec": (
                        round(stats["docs"] / wall, 2) if wall else 0.0
                    ),
                }

            self.table.overwrite_partitions(txns, ids=group, summary=_summary)
            extracted.unpersist()
        return {
            "n_buckets": self.n_buckets,
            "committed": len(self.committed()),
            "group_commits_this_run": len(groups),
            "snapshot_version": self.table.current_version(),
        }

    def output(self) -> DataFrame:
        return self.table.read()
