"""Streaming corpus-statistics maintenance: document drops → live rollup.

The streaming twin of plans/corpus_report (same pairing as
incremental_dedup → dedup_stream): a Structured Streaming foreachBatch
sink that ingests every micro-batch of delivered documents into the
sketch-rollup table, so per-language corpus statistics (distinct
tokens, length quantiles, token counts) stay current as a crawl
arrives — report() at any moment reflects every committed batch, and
never re-reads one.

Exactly-once is the one-table special case of dedup_stream's argument:
the rollup append is a single all-or-nothing snapshot commit stamped
with the stream's batch id, so every crash window is either
"not committed → replay redoes it" or "committed → replay skips it"
(CorpusRollup.ingest is idempotent per batch id). No partial sketch can
ever be double-merged.

Scale: per micro-batch cost is the batch's own token scan; the rollup
table grows by O(groups) KB-sized rows per batch and the report stays a
broadcast-scale aggregation regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdf_parser_spark.plans.corpus_report import CorpusRollup
from pdf_parser_spark.streaming import drain_available_now, read_parquet_drops


class StreamingCorpusRollup:
    """Directory of parquet document drops → continuously-updated
    sketch rollup, exactly once per micro-batch."""

    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        root: str,
        checkpoint_dir: str,
        schema: str,
        group_col: str = "lang",
        p: int = 12,
        alpha: float = 0.01,
        kmv_k: int = 256,
    ) -> None:
        self.spark = spark
        self.src_path = src_path
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.rollup = CorpusRollup(
            spark, root, group_col=group_col, p=p, alpha=alpha, kmv_k=kmv_k
        )

    def _commit_batch(self, df: DataFrame, batch_id: int) -> None:
        self.rollup.ingest(df, int(batch_id))

    def run_available_now(self, timeout_s: float = 180.0) -> dict:
        """Drain all currently-delivered drops, then stop.
        ``batches_committed`` counts THIS drain's commits;
        ``total_batches`` the table's lifetime total."""
        before = set(self.rollup.ingested_batches())
        docs = read_parquet_drops(self.spark, self.src_path, self.schema)
        drain_available_now(docs, self._commit_batch, self.checkpoint_dir,
                            timeout_s, "rollup", self.rollup.ingested_batches)
        after = self.rollup.ingested_batches()
        return {
            "rollup_version": self.rollup.table.current_version(),
            "batches_committed": len(after - before),
            "total_batches": len(after),
        }

    def report(self) -> DataFrame:
        return self.rollup.report()


__all__ = ["StreamingCorpusRollup"]
