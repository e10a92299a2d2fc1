"""Incremental near-dup against a persisted MinHash index — the monthly
crawl shape: dedup each NEW batch against everything ever kept WITHOUT
rescanning or re-signing the historical corpus.

Two snapshot tables (plans/snapshots.SnapshotTable) under one root:
- ``bands/``: (bucket, band, band_hash, doc_id) — the LSH equi-join keys,
  partitioned by a band-hash bucket;
- ``sigs/``:  (bucket, doc_id, sig array<long>) — the full 64-permutation
  MinHash signature per kept doc, partitioned by a doc-id bucket.

A batch is processed as:
1. sign the batch once (one Arrow pass → signature + band hashes under
   the index's pinned banding — derived from the threshold via
   dedupe.lsh_plan on first open, then geometry-guarded);
2. candidates vs the index: the batch's band table (small) BROADCASTS
   against a columnar scan of ``bands/`` — the index is never shuffled
   and never re-signed; verification joins the candidates to ``sigs/``
   and estimates Jaccard natively (``zip_with`` equality fraction — the
   standard MinHash estimator, no text fetch, no Python);
3. candidates within the batch: the usual LSH self-join, batch-sized;
4. the PREDECESSOR RULE flags duplicates: a doc is a duplicate iff it has
   a near-duplicate with a smaller key — an indexed doc, or an
   earlier-keyed doc of the same batch. Deterministic, order-free, and
   exactly the keep-first contract of the batch dedup operators;
5. survivors only are appended to both tables, stamped with the batch id.

Exactly-once: each table append is idempotent per batch id (the id is one
of the snapshot's committed ids, as in streaming/warc_stream). The two commits
are not atomic together, but a crash between them converges on replay:
decisions are UNCHANGED under a bands-committed/sigs-missing partial
state because index candidates only count after an inner join to
``sigs/`` — a band row whose signature was never committed cannot match.

Scale shape at 10^12 indexed docs: per batch the index contributes one
projection-pruned columnar scan of ``bands/`` (3 narrow columns) probed
by a broadcast hash of the batch's bands, plus a scan of ``sigs/`` probed
by the (tiny) candidate set; nothing index-sized ever shuffles, and the
bucket layout keeps compaction and a future storage-bucketed sort-merge
join available if batches outgrow broadcast.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.operators.dedupe import (
    N_HASHES,
    band_hashes,
    minhash_signature,
)
from pdf_parser_spark.plans.snapshots import SnapshotTable, pin_meta
from pdf_parser_spark.sources.pages import bucket_of

# bound on the driver-side manifest Bloom probe (see dedup_batch): batches
# whose distinct band-hash count exceeds this fall back to the unpruned
# index scan — correct either way, pruning is a pure optimization
_MAX_PROBE_HASHES = 200_000


def _est_jaccard(a: str, b: str):
    """Native MinHash Jaccard estimate: equal-component fraction."""
    eq = F.zip_with(F.col(a), F.col(b), lambda x, y: x == y)
    return F.size(F.filter(eq, lambda v: v)) / F.lit(float(N_HASHES))


class IncrementalNearDup:
    """Persisted-index near-dup for append-only corpora (see module doc)."""

    def __init__(self, spark: SparkSession, path: str,
                 threshold: float = 0.7, n_buckets: int = 16,
                 bands: int | None = None) -> None:
        self.spark = spark
        self.threshold = threshold
        self.n_buckets = n_buckets
        # banding is INDEX GEOMETRY: band hashes computed under one split
        # never equi-join against another's, so a resume with different
        # banding would silently stop matching the persisted rows. Derive
        # it from the threshold (dedupe.lsh_plan) on first open, then pin
        # it in a meta file and refuse mismatched reopens — the same
        # guard sources/shards applies to its shard geometry.
        from pdf_parser_spark.operators.dedupe import N_BANDS, lsh_plan

        requested = bands if bands is not None else lsh_plan(threshold)["bands"]
        self.bands = SnapshotTable(
            spark, os.path.join(path, "bands"), stats_cols=("band_hash",),
            # per-file Bloom over band_hash: min/max stats cannot prune a
            # uniform hash key, but a batch only matches files that hold
            # its EXACT band hashes — file-sparse by construction — so the
            # Bloom bounds each batch's index scan by its candidate bands
            # instead of all history (year-3 fix: 36 months of bands were
            # re-read per monthly batch before this)
            bloom_cols=("band_hash",),
        )
        self.sigs = SnapshotTable(
            spark, os.path.join(path, "sigs"), stats_cols=("doc_id",)
        )
        meta_path = os.path.join(path, "_index_meta.json")
        if not os.path.exists(meta_path) and (
            self.bands.current_version() > 0 or self.sigs.current_version() > 0
        ):
            # pre-meta index: rows were committed by code with the fixed
            # module-constant banding — adopt it, never re-derive from the
            # threshold (a different split would silently stop matching
            # every persisted row)
            requested = N_BANDS if bands is None else bands
        # exclusive publish: two writers racing to create the index cannot
        # both win and commit mixed-banding rows — the loser gets the
        # winner's geometry back and must agree with it
        committed = pin_meta(
            meta_path, {"bands": requested, "n_hashes": N_HASHES}
        )["bands"]
        if bands is not None and bands != committed:
            raise ValueError(
                f"index at {path} was built with bands={committed}, "
                f"got bands={bands} — banding cannot change after rows "
                "are committed"
            )
        self.n_bands = committed

    # -- exactly-once bookkeeping -------------------------------------------

    def committed_batches(self) -> set[int]:
        """Batches fully committed (present in BOTH tables)."""
        return set(self.bands.committed_ids()) & set(self.sigs.committed_ids())

    # -- signing --------------------------------------------------------------

    def _sign(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        n_bands = self.n_bands  # bind locally: the UDF must not close over self

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for did, text in zip(pdf[id_col], pdf[text_col]):
                    sig = minhash_signature(text)
                    rows.append(
                        {"doc_id": did, "sig": sig,
                         "bands": band_hashes(sig, n_bands)}
                    )
                yield pd.DataFrame(rows, columns=["doc_id", "sig", "bands"])

        return docs.select(id_col, text_col).mapInPandas(
            run, schema="doc_id long, sig array<long>, bands array<long>"
        )

    # -- the batch step -------------------------------------------------------

    def dedup_batch(self, docs: DataFrame, batch_id: int,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame | None:
        """Flag near-duplicates in ``docs`` vs the index and each other;
        append the survivors' signatures/bands to the index.

        Returns (doc_id, is_dup, matched_id, est_jaccard) — matched_id is
        the SMALLEST near-duplicate predecessor key, null for survivors —
        or None if ``batch_id`` is already fully committed (replay no-op).
        Doc keys must be globally unique and monotone across batches
        (e.g. (crawl_month << 40) | row_index).
        """
        if int(batch_id) in self.committed_batches():
            return None

        batch = self._sign(docs, id_col, text_col).persist()
        bands = batch.select(
            "doc_id", F.posexplode("bands").alias("band", "band_hash")
        )

        dup_parts = []
        if self.sigs.current_version() > 0:
            # scan-prune the index by the batch's band hashes: the batch's
            # band table already broadcasts (driver-sized by assumption),
            # so collecting its distinct hashes for the manifest Bloom
            # probe costs nothing new. _MAX_PROBE_HASHES bounds the probe
            # (past it, fall back to the full scan — never wrong, just
            # unpruned); at cluster scale the same probe runs as a
            # distributed manifest join instead of a driver loop.
            probe_rows = (
                bands.select("band_hash").distinct()
                .limit(_MAX_PROBE_HASHES + 1).collect()
            )
            bloom_probe = None
            if len(probe_rows) <= _MAX_PROBE_HASHES:
                bloom_probe = {"band_hash": [r[0] for r in probe_rows]}
            idx_bands = self.bands.read(bloom_probe=bloom_probe).select(
                "band", "band_hash", F.col("doc_id").alias("idx_id")
            )
            cand = (
                idx_bands.join(F.broadcast(bands), ["band", "band_hash"])
                .filter(F.col("idx_id") != F.col("doc_id"))  # replay safety
                .select("doc_id", "idx_id")
                .distinct()
                # pinned: consumed twice below (sigs range-prune + join)
                .localCheckpoint()
            )
            # candidate ids are batch-bounded and doc ids are batch-monotone
            # (the predecessor-rule contract), so each sigs file covers a
            # narrow id range: one min/max range-prunes the signature scan
            # to the candidates' batches instead of all history.
            id_range = cand.agg(
                F.min("idx_id").alias("lo"), F.max("idx_id").alias("hi")
            ).first()
            if id_range["lo"] is not None:
                idx_sigs = self.sigs.read(
                    min_max={"doc_id": (id_range["lo"], id_range["hi"])}
                ).select(
                    F.col("doc_id").alias("idx_id"),
                    F.col("sig").alias("idx_sig"),
                )
                dup_parts.append(
                    cand.join(idx_sigs, "idx_id")
                    .join(batch.select("doc_id", "sig"), "doc_id")
                    .withColumn("est", _est_jaccard("sig", "idx_sig"))
                    .filter(F.col("est") >= self.threshold)
                    .select(
                        "doc_id", F.col("idx_id").alias("matched_id"), "est"
                    )
                )
            # no index candidates at all: skip the sigs scan entirely

        a = bands.select("band", "band_hash", F.col("doc_id").alias("a_id"))
        b = bands.select("band", "band_hash", F.col("doc_id").alias("b_id"))
        in_pairs = (
            a.join(b, ["band", "band_hash"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
        sig_a = batch.select(F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig"))
        sig_b = batch.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig"))
        dup_parts.append(
            in_pairs.join(sig_a, "a_id")
            .join(sig_b, "b_id")
            .withColumn("est", _est_jaccard("a_sig", "b_sig"))
            .filter(F.col("est") >= self.threshold)
            .select(
                F.col("b_id").alias("doc_id"),
                F.col("a_id").alias("matched_id"),
                "est",
            )
        )

        dups = dup_parts[0]
        for part in dup_parts[1:]:
            dups = dups.unionByName(part)
        dups = (
            dups.groupBy("doc_id")
            .agg(
                F.min("matched_id").alias("matched_id"),
                F.round(F.max("est"), 6).alias("est_jaccard"),
            )
        )

        decisions = (
            batch.select("doc_id")
            .join(dups, "doc_id", "left")
            .select(
                "doc_id",
                F.col("matched_id").isNotNull().alias("is_dup"),
                "matched_id",
                "est_jaccard",
            )
            .persist()
        )
        decisions.count()  # pin decisions BEFORE the index mutates below

        survivors = batch.join(
            decisions.filter(~F.col("is_dup")).select("doc_id"), "doc_id"
        )
        surv_bands = survivors.select(
            "doc_id", F.posexplode("bands").alias("band", "band_hash")
        ).withColumn("bucket", bucket_of("band_hash", self.n_buckets))
        surv_sigs = survivors.select("doc_id", "sig").withColumn(
            "bucket", bucket_of("doc_id", self.n_buckets)
        )
        self._append_once(self.bands, surv_bands, batch_id)
        self._append_once(self.sigs, surv_sigs, batch_id)
        batch.unpersist()
        return decisions

    def _append_once(self, table: SnapshotTable, df: DataFrame,
                     batch_id: int) -> None:
        if int(batch_id) in table.committed_ids():
            return
        table.append(df, ids=[batch_id])
