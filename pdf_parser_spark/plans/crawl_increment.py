"""Monthly-crawl increment — the production loop over the whole engine.

Each crawl month arrives as one batch of documents; the corpus that
trainers read must only ever GROW by curated, globally-deduplicated,
shard-packed data, and a killed ingest must resume without double
work or double counting. This plan chains the package's four
idempotent-per-batch pieces into that loop:

    batch → near-dup vs ALL history + within batch   plans/incremental_dedup
          → curate → gate → decontam → chunk → pack  plans/pretrain (via deliver)
          → loader-ready shard files (per-batch root) sources/shards
          → per-(group, batch) stats rollup           plans/corpus_report

Exactly-once WITHOUT a cross-step transaction: every leg is
independently idempotent keyed by ``batch_id`` —

- the near-dup index replays as a no-op (batch id in both tables'
  committed ids) and the batch's survivor set is recovered from the index's
  own commit via the snapshot log's CDC read, so a replay makes the
  SAME survivor decisions the original run committed, even though the
  index has since absorbed those very survivors (re-running the dedup
  against the updated index would flag them all as self-duplicates);
- the curation→pack chain is a pure function of (survivors, params,
  seed), so its outputs are byte-identical on replay;
- export_shards never rewrites a committed shard (per-batch shard
  root: shard ranks are a pure function of one batch's rows, so later
  months never reshuffle earlier months' files);
- the rollup append is a no-op for an ingested batch id.

A crash between any two legs therefore converges on replay: finished
legs skip, unfinished legs redo deterministically.

Reference parity: this is the corpus-scale analog of the reference's
incremental transaction sync (routes/plaid.py cursor loop — fetch new,
skip known, commit last), restated over batches instead of cursors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.plans.corpus_report import CorpusRollup
from pdf_parser_spark.plans.deliver import deliver_training_data
from pdf_parser_spark.plans.incremental_dedup import IncrementalNearDup

__all__ = ["MonthlyCrawl"]


class MonthlyCrawl:
    """One object per corpus root; ``ingest_month`` per arriving batch.

    ``group_col`` is the rollup's grouping (must exist on the CURATED
    docs — ``lang_pred`` is added by curation's language filter, so it
    is the natural default)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        threshold: float = 0.7,
        group_col: str = "lang_pred",
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.spark = spark
        self.root = root
        self.id_col = id_col
        self.text_col = text_col
        self.index = IncrementalNearDup(
            spark, os.path.join(root, "neardup_index"), threshold=threshold
        )
        self.rollup = CorpusRollup(
            spark, os.path.join(root, "rollup"), group_col=group_col
        )

    def _shard_root(self, batch_id: int) -> str:
        return os.path.join(self.root, "shards", f"batch={int(batch_id)}")

    def _committed_survivor_ids(self, batch_id: int) -> DataFrame:
        """Survivor doc_ids of an already-committed batch, recovered from
        the signature table's OWN commit for that batch (CDC read of one
        snapshot) — the replay path; scan cost is that batch's files only."""
        sigs = self.index.sigs
        v = sigs.committed_ids().get(int(batch_id))
        if v is None:
            raise ValueError(
                f"batch {batch_id} is marked committed but has no signature "
                "snapshot — index corrupted"
            )
        return sigs.changes(v - 1, v).select(F.col("doc_id").alias(self.id_col))

    def ingest_month(
        self,
        docs: DataFrame,
        batch_id: int,
        **deliver_kwargs,
    ) -> dict:
        """Process one crawl batch end to end; safe to re-run after any
        crash. Returns {"survivors": n, "shards": export summary,
        "rollup_version": v, "funnel": DataFrame}.

        ``docs`` must carry globally-unique, batch-monotone ``id_col``
        keys (the index's predecessor rule needs them) plus ``text_col``.
        ``deliver_kwargs`` pass through to deliver_training_data /
        pretrain_corpus (thresholds, gates, seq_len, ...).
        """
        decisions = self.index.dedup_batch(
            docs, batch_id, id_col=self.id_col, text_col=self.text_col
        )
        if decisions is None:  # replay: decisions live in the index commit
            surv_ids = self._committed_survivor_ids(batch_id)
        else:
            surv_ids = decisions.filter(~F.col("is_dup")).select(
                F.col("doc_id").alias(self.id_col)
            )
        survivors = docs.join(surv_ids, self.id_col, "left_semi")

        # curation's own within-batch near-dup re-verifies what the index
        # already removed — a no-op on survivor sets, kept because curate
        # is used as-is (one audited chain, not a special variant)
        delivered = deliver_training_data(
            survivors, shard_root=self._shard_root(batch_id), **deliver_kwargs
        )
        rollup_v = self.rollup.ingest(delivered["kept"], batch_id)
        return {
            "survivors": survivors.count(),
            "shards": delivered["shards"],
            "rollup_version": rollup_v,
            "funnel": delivered["funnel"],
        }

    def report(self) -> DataFrame:
        """Corpus-to-date statistics (all ingested batches merged)."""
        return self.rollup.report()
