"""Structured Streaming drains shared by the exactly-once stream sinks.

Every sink here (warc_stream, dedup_stream, rollup_stream) commits each
micro-batch through ``foreachBatch`` into a SnapshotTable and is driven
the same way: drain what the source holds now (``availableNow``), then
stop. ``drain_available_now`` is that one driver; ``read_parquet_drops``
is the one reader for directories of parquet document drops.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession


def read_parquet_drops(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Streaming read of a directory of parquet drops, one file per
    micro-batch (a drop is the unit of replay protection)."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)


def drain_available_now(
    stream: DataFrame,
    commit_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    timeout_s: float,
    name: str,
    committed: Callable[[], Iterable[int]],
) -> None:
    """Run ``commit_batch`` over every micro-batch available now, then stop.

    Raises TimeoutError if the drain does not finish within timeout_s
    (after stopping the query) — returning stats for a half-finished drain
    would let a caller read an incomplete table as complete. ``committed``
    names the batches committed so far, for the error message.
    """
    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"{name} drain still running after {timeout_s}s; committed "
            f"batches so far: {sorted(committed())}"
        )
