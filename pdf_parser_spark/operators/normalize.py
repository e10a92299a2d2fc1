"""Normalization stage: sourceType assignment + display-amount (C2 + G10).

The reference computes displayAmount per row with a Firestore range probe per
transaction (utils/display_amount.py:41-55 — an RPC per row). Here the probe
becomes ONE banded self-join producing a has_bank_match flag, then G10 is a
native CASE expression (whole-stage codegen, no Python).

Column expressions are Spark SQL text (`DISPLAY_AMOUNT`, the banding keys
of operators/banding.py) placed with `selectExpr`/`where`/`F.expr`, so
building the plan costs a few Python→JVM round trips per operation
instead of one or more per expression node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators import banding

_SOURCE = "lower(trim(coalesce(sourceType, '')))"
_AMOUNT = "coalesce(amount, 0.0D)"
# G10 (ref: utils/display_amount.py:57-79)
DISPLAY_AMOUNT = f"""CASE
    WHEN {_SOURCE} = 'bank' THEN
        CASE WHEN {_AMOUNT} >= 0 THEN abs({_AMOUNT}) ELSE -abs({_AMOUNT}) END
    WHEN {_SOURCE} = 'card' THEN
        CASE WHEN {_AMOUNT} > 0 THEN abs({_AMOUNT})
             WHEN has_bank_match THEN abs({_AMOUNT})
             ELSE -abs({_AMOUNT}) END
    ELSE {_AMOUNT} END"""


def assign_source_type(txns: DataFrame) -> DataFrame:
    """sourceType column: the row's source_type_hint (fixtures cycle
    bank/card/loan per doc — FIXTURES.md F3), else the reference default
    'bank' (main.py:230). extracted_transactions always carries the hint
    column, null where the pages table had none.
    """
    return txns.selectExpr("*", "coalesce(source_type_hint, 'bank') AS sourceType")


def bank_match_flags(txns: DataFrame) -> DataFrame:
    """C2 probe output as a standalone keyed table: (txn_id, has_bank_match).

    The banded probe itself, without the decoration join — callers that
    fuse several txn_id-keyed decorations into one wide join (the
    single-barrier pipeline, plans/pipeline.py) build each flag table
    independently from the SAME cached base and pay the wide txn_id
    exchange once, not once per decoration.

    Ref: utils/display_amount.py:41-55 (_has_bank_match). Batch re-spec
    (FIXTURES.md): the probe sees the whole dataset except the row itself
    (the reference saw only previously-persisted rows — arrival-order
    dependent, not reproducible).

    Plan shape: bank-side build table is aggregated to distinct
    (cents, bucket, txn ids) keys; probe side fans out 9×; the join is a
    plain equi-join + residual. Only card-outflow rows need the probe (G10
    uses it only there), so the probe side is pre-filtered — at scale this
    is a small fraction of rows.
    """
    probe = (
        txns.where("sourceType = 'card' AND amount < 0")
        .selectExpr("txn_id", f"{banding.CENTS} AS _cents", f"{banding.DAY} AS _day")
        .selectExpr("txn_id", banding.PROBES, "_cents", "_day")
    )

    # aggregate the build side to DISTINCT (cents, bucket, day) keys — the
    # flag only asks "does ANY bank row match", so thousands of identical
    # recurring amounts in one week must collapse to one build row instead
    # of fanning the join |probe-hits| x |duplicates| wide before the final
    # distinct. (The old txn_id != b_txn_id predicate was vacuous: the
    # probe side is card-only, the build side bank-only.)
    bank = (
        txns.where("sourceType = 'bank'")
        .selectExpr(f"{banding.CENTS} AS b_cents", f"{banding.DAY} AS b_day")
        # b_bucket over b_day in its own projection: with DAY repeated in
        # one projection the planner sizes this side differently and the
        # broadcast join builds on the bank side instead of the probe side
        .selectExpr("*", f"{banding.bucket('b_day')} AS b_bucket")
        .distinct()
    )

    return (
        probe.join(bank, F.expr("_cents_p = b_cents AND _bucket_p = b_bucket"), "inner")
        .where(banding.within_tolerance("b_cents", "b_day"))
        .selectExpr("txn_id")
        .distinct()
        .selectExpr("txn_id", "true AS has_bank_match")
    )


def with_bank_match(txns: DataFrame) -> DataFrame:
    """C2 — has_bank_match: a *bank* txn within ±5 days and ±$0.01 exists.

    `bank_match_flags` builds the keyed flag table; this decorates every
    row with it (missing rows → False).
    """
    matched = bank_match_flags(txns)
    # matched ids are the card-outflow rows with a bank twin. Default is NO
    # hint: AQE sees the true built size at runtime and broadcasts only when
    # the set is genuinely small — a forced broadcast is a driver-serial
    # collect+rebroadcast that costs the same at every cluster size (pure
    # Amdahl fraction) and is unbounded on adversarial data at 100 TB.
    return txns.join(matched, "txn_id", "left").withColumn(
        "has_bank_match", F.expr("coalesce(has_bank_match, false)")
    )


def with_display_amount(txns: DataFrame) -> DataFrame:
    """G10 as a native expression (ref: utils/display_amount.py:57-79)."""
    return txns.withColumn("displayAmount", F.expr(DISPLAY_AMOUNT))
