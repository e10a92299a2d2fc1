"""S1/S3 at crawl scale: streaming WARC ingestion with exactly-once commits.

New archive files land in a directory (the crawl's delivery bucket); a
Structured Streaming ``binaryFile`` source discovers them incrementally, the
WARC splitter (sources/warc) turns each archive into pages rows inside the
executors, and ``foreachBatch`` commits every micro-batch to an
Iceberg-style SnapshotTable (plans/snapshots).

Exactly-once is the standard idempotent-foreachBatch recipe with the
snapshot log as the transactional sink: the stream's batch id is one of
the snapshot's committed ids, so a batch replayed after a failure between
the sink commit and the source-checkpoint advance is detected in the log
and skipped. One stream checkpoint directory pairs with one table — batch ids
are only unique within a checkpoint lineage (resetting the checkpoint while
keeping the table would replay ids; that pairing is the caller's contract,
same as with any idempotent foreachBatch sink).

At crawl scale the unit of streaming work is the ARCHIVE FILE (~1 GB), so
``maxFilesPerTrigger`` is the batch-size knob; there is no shuffle between
the file source and the snapshot write except the bucket repartition the
table itself performs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdf_parser_spark.plans.snapshots import SnapshotTable
from pdf_parser_spark.sources import pages as pages_src
from pdf_parser_spark.sources import warc as warc_src

# binaryFile's fixed schema — streaming sources cannot infer it
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_warc_stream(spark: SparkSession, path: str, glob: str = "*.warc*",
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming twin of sources/warc.read_warc: archives → pages rows.

    The splitter IS sources/warc.warc_split_batches — one implementation
    for batch and stream, bounded Arrow batches included."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(path).select("content")
    return files.mapInPandas(
        warc_src.warc_split_batches, schema=warc_src.WARC_PAGES_SCHEMA
    )


class WarcIngest:
    """Directory of WARC archives → bucketed SnapshotTable, exactly once."""

    def __init__(self, spark: SparkSession, src_path: str, table_path: str,
                 checkpoint_dir: str, n_buckets: int = 16,
                 glob: str = "*.warc*", transform=None,
                 max_files_per_trigger: int | None = None) -> None:
        """``transform``: optional DataFrame→DataFrame applied to each
        batch's pages BEFORE the bucket/commit — pass the extraction
        pipeline here and the table holds extracted documents instead of
        raw pages (crawl → text, incremental end to end). Must keep a
        ``url`` column (the bucket key).

        ``max_files_per_trigger`` bounds each micro-batch's archive count
        — without it a 10k-archive drain runs as ONE monolithic batch,
        and any failure loses all progress (replay protection is
        per-batch)."""
        self.spark = spark
        self.src_path = src_path
        self.checkpoint_dir = checkpoint_dir
        self.n_buckets = n_buckets
        self.glob = glob
        self.transform = transform
        self.max_files_per_trigger = max_files_per_trigger
        self.table = SnapshotTable(spark, table_path, partition_col="bucket")

    def committed_batches(self) -> set[int]:
        return set(self.table.committed_ids())

    def _commit_batch(self, df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in self.table.committed_ids():
            return  # replayed batch: the snapshot log already has it
        if self.transform is not None:
            df = self.transform(df)
        # one Spark action per batch, the write: row counts come from the
        # snapshot's parquet footers (SnapshotTable.snapshots().n_rows)
        out = pages_src.with_bucket(df, "url", self.n_buckets)
        self.table.append(out, ids=[batch_id])

    def run_available_now(self, timeout_s: float = 120.0) -> dict:
        """Drain everything currently in the directory, then stop.

        Raises TimeoutError if the drain does not finish within timeout_s
        (after stopping the query) — returning stats for a half-finished
        drain would let a caller read an incomplete table as complete.
        """
        pages = read_warc_stream(
            self.spark, self.src_path, self.glob,
            max_files_per_trigger=self.max_files_per_trigger,
        )
        q = (
            pages.writeStream.foreachBatch(self._commit_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"WARC drain still running after {timeout_s}s; committed "
                f"batches so far: {sorted(self.committed_batches())}"
            )
        return {
            "snapshot_version": self.table.current_version(),
            "batches_committed": len(self.committed_batches()),
        }

    def output(self) -> DataFrame:
        return self.table.read()


__all__ = ["read_warc_stream", "WarcIngest"]
