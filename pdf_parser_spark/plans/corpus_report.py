"""Incremental corpus-statistics rollup — sketch columns in the snapshot log.

The reporting question at 10^12 documents: "how many distinct tokens,
what doc-length distribution, how much overlap with last month — per
language, updated per crawl batch, without ever re-reading old batches."
Exact answers need a full-corpus pass per refresh; this plan appends ONE
row per (group, batch) holding exact counters plus mergeable sketch
columns (operators/sketches), and the report merges rows at read time:

    ingest(batch) → per-group row: n_docs, n_tokens (exact longs),
                    hll (distinct tokens), kmv (token set),
                    hist (doc-length distribution)
                  → SnapshotTable.append  (atomic, versioned, CDC-able)
    report()      → groupBy(group): sums + sketch merges + estimates

Because every sketch merge is EXACT (sketch(A) ⊕ sketch(B) ==
sketch(A ∪ B) — per-register max / bottom-k / per-bin sum), the merged
report equals the report of a one-shot build over all batches, row for
row; tests/test_corpus_report.py asserts exactly that. The rollup table
itself is tiny — O(groups x batches) rows of KB-sized columns — so the
report is a broadcast-scale aggregation no matter how big the corpus
the rows summarize.

Reference parity: the reference keeps per-user aggregate state it
recomputes from raw rows per request (routes/journal.py:29-51); this is
that reporting layer rebuilt for a corpus where "recompute from raw" is
a multi-hour job you only want to pay once per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_parser_spark.operators import sketches as sk
from pdf_parser_spark.plans.snapshots import SnapshotTable
from pdf_parser_spark.sources.pages import bucket_of

__all__ = ["CorpusRollup"]


class CorpusRollup:
    """A SnapshotTable of per-(group, batch) sketch rows with an
    incremental ``ingest`` and a merge-at-read ``report``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_col: str = "lang",
        p: int = 12,
        alpha: float = 0.01,
        kmv_k: int = 256,
        n_buckets: int = 8,
        cache_tokens: bool = True,
        token_pattern: str = r"[^\p{L}\p{N}]+",
    ) -> None:
        self.spark = spark
        self.group_col = group_col
        # split on anything that is not a Unicode letter/number, so
        # Cyrillic/Arabic/accented words tokenize as words (an ASCII-only
        # class would shred every non-Latin script into noise). Unspaced
        # CJK still arrives as one run per sentence — pass a script-aware
        # pattern here if CJK token stats matter.
        self.token_pattern = token_pattern
        self.p = p
        self.alpha = alpha
        self.kmv_k = kmv_k
        self.n_buckets = n_buckets
        # cache_tokens materializes the exploded token stream once for the
        # three sketch builds — right for batch-sized ingests. At full
        # corpus scale set False: re-scanning the batch three times is
        # cheaper than writing the token stream (~10x the text bytes) to
        # executor-local storage, and each build still gets map-side
        # partials on the re-scan.
        self.cache_tokens = cache_tokens
        self.table = SnapshotTable(spark, path, partition_col="bucket")

    # -- write side ----------------------------------------------------------

    def _rollup_rows(self, docs: DataFrame, batch_id: int) -> DataFrame:
        g = self.group_col
        toks = docs.select(
            g, F.explode(F.split(F.lower(F.col("text")), self.token_pattern)).alias("tok")
        ).filter(F.length("tok") > 0)
        if self.cache_tokens:  # see __init__ — batch-sized ingests only
            toks = toks.localCheckpoint()
        counts = docs.groupBy(g).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text").cast("long")).alias("n_chars"),
        )
        ntok = toks.groupBy(g).agg(F.count(F.lit(1)).alias("n_tokens"))
        hll = sk.hll_build(toks, [g], "tok", p=self.p)
        kmv = sk.kmv_build(toks, [g], "tok", k=self.kmv_k)
        hist = sk.hist_build(
            docs.select(g, F.length("text").cast("double").alias("_len")),
            [g],
            "_len",
            alpha=self.alpha,
        )
        # token-derived frames join LEFT with typed empty defaults: a group
        # whose batch produced no tokens (all-CJK under an ASCII pattern,
        # empty texts) must still keep its exact n_docs/n_chars counters —
        # an inner join would silently drop it from the rollup.
        empty_map = F.map_from_arrays(
            F.array().cast("array<int>"), F.array().cast("array<int>")
        )
        return (
            counts.join(ntok, g, "left")
            .join(hll, g, "left")
            .join(kmv, g, "left")
            .join(hist, g, "left")
            .select(
                g,
                "n_docs",
                "n_chars",
                F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
                F.coalesce(F.col("hll"), empty_map).alias("hll"),
                F.coalesce(F.col("kmv"), F.array().cast("array<bigint>")).alias("kmv"),
                F.coalesce(
                    F.col("hist"),
                    F.map_from_arrays(
                        F.array().cast("array<int>"), F.array().cast("array<bigint>")
                    ),
                ).alias("hist"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("bucket", bucket_of(g, self.n_buckets))
        )

    def ingested_batches(self) -> set[int]:
        """Batch ids already committed (the head snapshot's ids)."""
        return set(self.table.committed_ids())

    def ingest(self, docs: DataFrame, batch_id: int) -> int:
        """Summarize one batch and append its rollup rows atomically.
        Returns the new snapshot version. The batch's raw rows are read
        once, here, and never again. Idempotent per batch id: a replay
        of an already-committed batch is a no-op (the snapshot append is
        all-or-nothing, so a crash mid-ingest leaves no partial state to
        double-count)."""
        if int(batch_id) in self.ingested_batches():
            return self.table.current_version()
        rows = self._rollup_rows(docs, batch_id)
        return self.table.append(rows, ids=[batch_id])

    # -- read side -----------------------------------------------------------

    def _merged(self, version: int | None = None) -> DataFrame:
        g = self.group_col
        rows = self.table.read(version=version)

        counts = rows.groupBy(g).agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_batches"),
        )
        hll = sk.hll_merge(rows.select(g, "hll"), [g])
        hist = sk.hist_merge(rows.select(g, "hist"), [g], hist_col="hist")
        # KMV row merge: bottom-k of the union of the per-batch bottom-k
        # sets — identical shape to the build (distinct hash, group-limit)
        kmv = (
            rows.select(g, F.explode("kmv").alias("_h"))
            .distinct()
            .withColumn(
                "_rk",
                F.row_number().over(Window.partitionBy(g).orderBy(F.col("_h").asc())),
            )
            .filter(F.col("_rk") <= self.kmv_k)
            .groupBy(g)
            .agg(F.array_sort(F.collect_list("_h")).alias("kmv"))
        )
        # left joins + typed defaults: a group whose every batch row holds
        # empty sketches (token-less batches) has no rows to explode, so
        # the merge frames lack it — the exact counters must survive anyway
        return (
            counts.join(hll, g, "left")
            .join(kmv, g, "left")
            .join(hist, g, "left")
            .select(
                g,
                "n_docs",
                "n_chars",
                "n_tokens",
                "n_batches",
                F.coalesce(
                    F.col("hll"),
                    F.map_from_arrays(
                        F.array().cast("array<int>"), F.array().cast("array<int>")
                    ),
                ).alias("hll"),
                F.coalesce(F.col("kmv"), F.array().cast("array<bigint>")).alias("kmv"),
                F.coalesce(
                    F.col("hist"),
                    F.map_from_arrays(
                        F.array().cast("array<int>"), F.array().cast("array<bigint>")
                    ),
                ).alias("hist"),
            )
        )

    def report(self, version: int | None = None) -> DataFrame:
        """One row per group over ALL ingested batches: exact counters
        plus sketch estimates (distinct tokens, doc-length p50/p99)."""
        m = self._merged(version)
        return m.select(
            self.group_col,
            "n_batches",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.round(sk.hll_estimate_expr(F.col("hll"), self.p), 1).alias(
                "distinct_tokens_est"
            ),
            F.round(sk.kmv_distinct_expr(F.col("kmv"), self.kmv_k), 1).alias(
                "distinct_tokens_kmv"
            ),
            F.round(sk.hist_quantile_expr(F.col("hist"), 0.5, self.alpha), 1).alias(
                "len_p50"
            ),
            F.round(sk.hist_quantile_expr(F.col("hist"), 0.99, self.alpha), 1).alias(
                "len_p99"
            ),
        )

    def overlap(self, other: "CorpusRollup", version: int | None = None,
                other_version: int | None = None) -> DataFrame:
        """Per-group token-set overlap vs another rollup (e.g. last
        month's crawl): Jaccard + estimated shared-distinct count, read
        entirely from the two rollups' KMV columns — neither corpus's
        raw rows are touched."""
        g = self.group_col
        a = self._merged(version).select(g, F.col("kmv").alias("_ka"))
        b = other._merged(other_version).select(g, F.col("kmv").alias("_kb"))
        k = min(self.kmv_k, other.kmv_k)
        return a.join(b, g).select(
            g,
            F.round(sk.kmv_jaccard_expr(F.col("_ka"), F.col("_kb"), k), 4).alias(
                "jaccard_est"
            ),
            F.round(sk.kmv_intersect_expr(F.col("_ka"), F.col("_kb"), k), 1).alias(
                "shared_distinct_est"
            ),
        )
