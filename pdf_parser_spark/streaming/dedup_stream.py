"""Streaming dedup ingest: document drops → near-dup-free corpus table.

The operational composition of plans/incremental_dedup (persisted MinHash
index) and plans/snapshots (exactly-once sink), under Structured
Streaming's foreachBatch — the shape a continuously-delivered crawl
needs: every micro-batch is deduped against EVERYTHING EVER KEPT (and
against itself, predecessor rule) before it lands in the corpus.

Exactly-once across THREE tables (bands, sigs, corpus) without a joint
transaction: each commit is independently idempotent per batch id, and
the commit ORDER (index first, corpus last) makes every crash window
safe to replay:

- crash before any commit → plain replay;
- crash between the index halves → incremental_dedup's convergence
  argument (band rows without a committed signature cannot match);
- crash after the index, before the corpus → the replayed batch's
  decisions are recovered FROM the index itself: a batch doc survived
  iff its id is in the sigs table (ids are globally unique and only
  survivors are ever appended), so the corpus commit completes with the
  same rows the first attempt computed.

Scale: per batch, the index contributes one broadcast-probed columnar
scan (see incremental_dedup); the corpus append shuffles only the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.plans.incremental_dedup import IncrementalNearDup
from pdf_parser_spark.plans.snapshots import SnapshotTable
from pdf_parser_spark.streaming import drain_available_now, read_parquet_drops


class StreamingDedupIngest:
    """Directory of parquet document drops → deduped corpus, exactly once."""

    def __init__(self, spark: SparkSession, src_path: str, root: str,
                 checkpoint_dir: str, schema: str,
                 threshold: float = 0.7, n_buckets: int = 16,
                 id_col: str = "doc_id", text_col: str = "text") -> None:
        self.spark = spark
        self.src_path = src_path
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.id_col = id_col
        self.text_col = text_col
        self.n_buckets = n_buckets
        self.index = IncrementalNearDup(
            spark, f"{root}/index", threshold=threshold, n_buckets=n_buckets
        )
        self.corpus = SnapshotTable(
            spark, f"{root}/corpus", partition_col="bucket"
        )

    def _corpus_batches(self) -> set[int]:
        return set(self.corpus.committed_ids())

    def _commit_batch(self, df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        if bid in self._corpus_batches():
            return  # fully committed; replayed after checkpoint loss
        decisions = self.index.dedup_batch(
            df, bid, id_col=self.id_col, text_col=self.text_col
        )
        if decisions is not None:
            keep = decisions.filter(~F.col("is_dup")).select(
                F.col("doc_id").alias(self.id_col)
            )
        else:
            # index already had this batch (crash after the index commit,
            # before the corpus commit): survivors are exactly the batch
            # ids present in the sigs table
            keep = (
                self.index.sigs.read()
                .select(F.col("doc_id").alias(self.id_col))
                .join(
                    F.broadcast(df.select(self.id_col)), self.id_col, "semi"
                )
            )
        survivors = df.join(keep, self.id_col).withColumn(
            "bucket",
            F.pmod(F.xxhash64(self.id_col), F.lit(self.n_buckets)).cast("int"),
        )
        n = survivors.persist().count()
        self.corpus.append(
            survivors,
            summary={"docs_kept": int(n)},
            ids=[bid],
        )
        survivors.unpersist()

    def run_available_now(self, timeout_s: float = 180.0) -> dict:
        """Drain all currently-delivered drops, then stop."""
        docs = read_parquet_drops(self.spark, self.src_path, self.schema)
        drain_available_now(docs, self._commit_batch, self.checkpoint_dir,
                            timeout_s, "dedup", self._corpus_batches)
        return {
            "corpus_version": self.corpus.current_version(),
            "batches_committed": len(self._corpus_batches()),
        }

    def output(self) -> DataFrame:
        return self.corpus.read()


__all__ = ["StreamingDedupIngest"]
