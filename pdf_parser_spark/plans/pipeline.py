"""End-to-end pipeline assembly (SURVEY.md §3.1 lifecycle, set-based).

pages → extract (mapInPandas, no shuffle)
      → transactions (explode) + sourceType        [single cached barrier]
      → { C2 bank-match flags | C1 pairing legs }  (independent banded
           self-joins branching off the barrier, each a keyed side-table)
      → ONE wide join pass on txn_id attaching both side-tables
      → G10 display amount + classification cascade (narrow projections)
      → journal (H1 explode, operators/journal.journal_entries)

Scale notes baked in:
- Extraction is a per-document map over the input splits, keyed by nothing,
  so Zipfian Common-Crawl hosts cannot skew it (north rule skew handling).
- Every stage after extraction is relational; shuffles happen only at the
  C2/C1 banded joins and the final aggregate, all on bounded-fanout keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators import classify as classify_op
from pdf_parser_spark.operators import extract as extract_op
from pdf_parser_spark.operators import normalize as normalize_op
from pdf_parser_spark.operators import pairing as pairing_op


def release_pipeline_caches() -> None:
    """Unpersist the barrier caches of every transactions_pipeline call
    made since the last release. Loops that rebuild the pipeline in one
    SparkSession (bench repeats, per-group checkpoint runs, the monthly
    ingest) should call this between iterations — the barrier handle is
    internal, and without a release each call pins another serialized
    copy of the transactions table until LRU eviction."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


_PERSISTED: list[DataFrame] = []


def transactions_pipeline(pages: DataFrame) -> DataFrame:
    """pages → fully-decorated transactions table (FIXTURES.md F3 shape).

    ONE materialization barrier, always persisted and counted, after the
    explode + sourceType assignment: the C2 probe and the C1 pairing
    self-join each reference the transactions table on both sides — without a barrier
    Catalyst re-executes the pandas-UDF extraction once per DAG branch,
    ~6× the Python cost. In the resumable production job the same barrier
    is a per-bucket table commit (plans/checkpoint.py); persist is its
    in-memory, spill-to-disk analog for single-job runs.

    The chain is FUSED around that single barrier. Both relational
    decorations — the C2 has_bank_match flag and the C1 pairing legs —
    depend only on (txn_id, amount, dateKey, sourceType), none of each
    other's output, so they are built as independent keyed side-tables
    from the same cached base and joined back in two consecutive left
    joins on txn_id: the wide table crosses ONE exchange (the second join
    reuses the first's hash partitioning — EnsureRequirements inserts no
    new shuffle; G10/classify columns are narrow projections in between
    and preserve it). The earlier staged formulation persisted a second
    full copy after classification and shuffled the wide table by txn_id
    twice (once per decoration); fusing removed the second barrier's
    write+read of every wide row and one full-width exchange — measured
    at 100k docs/local[4], the post-extraction chain's serial floor was
    ~6.2s of its ~11.7s wall (two-point Amdahl fit), dominated by exactly
    those stage boundaries. At 10^12 rows the same fusion halves the
    widest shuffle in the chain.

    Every tail expression is Spark SQL text (operators/banding,
    normalize, pairing, classify): the plan is built in this Python
    process after the barrier fills, while executors wait, and an
    operation over expression text costs a handful of Python→JVM round
    trips where the same expressions built from `F.*` Column calls cost
    thousands per pass.
    The barrier itself must never be bound to a `{t}` placeholder of
    SparkSession.sql's DataFrame formatter: the formatter registers a temp
    view and drops it afterwards, and dropping the view UNCACHES every
    cache entry with the same plan — every branch would re-run extraction
    (tests/test_pipeline_spark guards the 5 cached barrier reads).

    Storage level is SERIALIZED memory-and-disk, not the deserialized
    default: the barriers hold wide string-heavy rows (memo/url/source), and
    deserialized JVM string objects inflate 3-5× — at millions of rows per
    executor that turns both caches into old-gen heap pressure and GC churn
    (measured: repeat full-pipeline runs at 600k docs degraded 112→193s
    deserialized vs staying ~flat serialized). Serialized blocks trade a
    little per-read CPU for a bounded, compact footprint — the right side of
    that trade at 100 TB, where cache working sets must stay predictable.
    """
    from pyspark import StorageLevel

    # keep_text stays False unconditionally: extracted_transactions never
    # reads extracted_text, so carrying it would only inflate the Arrow
    # transfer out of the extraction UDF (callers who want the text use
    # extract_documents directly)
    extracted = extract_op.extract_documents(pages, keep_text=False)
    txns = extract_op.extracted_transactions(extracted)
    base = normalize_op.assign_source_type(txns)
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(base)
    # Materialize the barrier NOW, not lazily under the final action:
    # AQE submits the downstream branches (the C2 flags subtree, the C1
    # banded self-join, and the base side of the wide join) as
    # CONCURRENT stage jobs, and concurrent scans of a still-cold cache
    # do not wait for each other — Spark's block manager lets late
    # readers of an in-flight partition recompute it uncached, so the
    # pandas-UDF extraction ran up to once PER BRANCH. Measured at 600k
    # docs: executor CPU 712s lazy vs ~300s of actual work, wall
    # 116→88s at local[16]; the duplication grows with parallelism, so
    # it taxed exactly the high side of the N→4N scaling ratio. One
    # count() serializes the fill (extraction runs once, into cache)
    # and every branch reads hits. count(), not localCheckpoint: the
    # logical plan must stay intact for plan audits and for callers
    # that re-optimize over the full lineage.
    base.count()
    flags = normalize_op.bank_match_flags(base)
    decorations = pairing_op.pair_decorations(base)
    # Joins back-to-back, scalar decorations after: the wide exchange stays
    # narrower — account/vendor columns are computed post-shuffle.
    out = (
        base.join(flags, "txn_id", "left")
        .join(decorations, "txn_id", "left")
        .withColumn("has_bank_match", F.expr("coalesce(has_bank_match, false)"))
    )
    out = normalize_op.with_display_amount(out)
    out = classify_op.classify(out)
    # restore the FIXTURES.md F3 column order (pair legs last)
    pair_cols = pairing_op.PAIR_COLS
    return out.selectExpr(
        *[f"`{c}`" for c in out.columns if c not in pair_cols], *pair_cols
    )


def flagship_summary(txns: DataFrame) -> DataFrame:
    """The flagship analytic query: per-source rollup of extracted spend.

    Equivalent of the reference's upload summary + transaction listing
    (main.py:235-245): volume, net spend, pairing and classification rates.
    """
    return (
        txns.groupBy("source", "sourceType")
        .agg(
            F.count("*").alias("n_txns"),
            F.round(F.sum("amount"), 2).alias("total_amount"),
            F.round(F.sum("displayAmount"), 2).alias("total_display"),
            F.sum(F.col("pairId").isNotNull().cast("int")).alias("n_paired"),
            F.sum((F.col("classificationSource") == "ai").cast("int")).alias("n_ai"),
        )
        .orderBy("source", "sourceType")
    )
