"""C1 — transfer pairing as a banded self-join with deterministic matching.

Reference semantics (utils/transfer_pairing.py:60-107, invoked per-ingested
row): a transaction pairs with a counterpart having |Δamount| ≤ 0.01 and
|Δdate| ≤ 5 days, with role constraints. Normalizing the three ingest-side
branches into one batch rule, every pair is

    leader  L: sourceType='bank', amount ≥ 0        (the inflow leg)
    shadow  S: amount < 0, sourceType ∈ {card, loan, bank}

with pairReason = card_payment | loan_payment (S on card/loan) |
bank_transfer (S on bank), pairId = f"pair:{min(id)}:{max(id)}", leader leg
eventLeader=True, shadow leg pairReason='shadow' on its own row
(transfer_pairing.py:83-84,94-95,103-104).

The reference is greedy in arrival order — irreproducible in a distributed
batch. Canonical re-spec (FIXTURES.md): *mutual-best matching* — each leader
ranks its candidate shadows by (day distance, cents distance, txn_id), each
shadow ranks its candidate leaders the same way, and a pair forms iff both
rank each other first. This is deterministic, order-free, exclusive (each txn
in ≤ 1 pair), and symmetric; property tests assert those invariants rather
than arrival-order equivalence (SURVEY.md §7 hard part 2).

Plan shape: pre-filtered leader/shadow sides → collapse each side to one
min-id representative per exact (cents, day) group (map-side-combinable;
result-identical — see _banded_candidates) → 9× banded probe fan-out over
GROUP rows → equi-join on (cents band, date bucket) → residual filter →
explode each group-pair candidate into a leader-keyed and a shadow-keyed
row → ONE min_by aggregate computes both argmins in a single pass over the
join output → unordered-pair regroup keeps pairs where both sides chose
each other. No cartesian, no window sort over the candidate fan-out, no
per-band quadratic blow-up under repeated amounts, no Python.

Every operator's expressions are Spark SQL text (`selectExpr`, `where`,
`F.expr` inside `agg`/`groupBy`; the band keys come from banding.py), so
the pairing subtree costs a few Python→JVM round trips per operation at
plan-build time rather than one or more per expression node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators import banding

PAIR_COLS = ["pairId", "eventLeader", "pairedWith", "pairReason"]


def _banded_candidates(txns: DataFrame) -> DataFrame:
    """GROUP-level banded-join candidates: one row per (leader-group,
    shadow-group) band pair, where a group is an exact (cents, day) key and
    each side is pre-collapsed to its minimum-txn_id representative.

    Why this is result-identical to the per-transaction join it replaces:
    the mutual-best ordering is (day_dist, cents_dist, other_id), and both
    distances are functions of the two (cents, day) keys ALONE. So every
    leader in one (cents, day) group ranks the candidate shadows
    identically, and among shadows sharing a (cents, day) key only the
    lexicographically smallest s_id can ever be chosen (the ordering's
    final tiebreak is the id). Symmetrically for leaders. Pairs can
    therefore only ever form between group representatives, and the
    group-level mutual-best over representatives IS the transaction-level
    mutual-best (the q13 DuckDB oracle — still the per-transaction
    row_number formulation — proves the equivalence every round, as does
    the greedy-reference property suite).

    Why it matters at scale: the per-transaction join fanned out
    |leaders| x |shadows| within each band — quadratic under repeated
    amounts. Statement corpora are EXACTLY that (thousands of $9.99 rows
    on the same day); measured at 600k synthetic docs the candidate
    stream was ~10^8 rows feeding a struct-ordered min_by that compiles
    to SortAggregate (mutable-buffer rules exclude string-bearing
    structs from HashAggregate), i.e. an external sort of the whole
    stream — 14.7 GB spilled, ~700 s of CPU, the single largest stage in
    the fused chain at every parallelism level. The group collapse is a
    map-side-combinable pre-aggregation (the exchange carries one row per
    group) and bounds the join output at one row per band pair, which
    also removes the banded join's worst-case skew: a hot (cents, bucket)
    key now meets 1x1 per group pair, not |L|x|S|.

    Each group pair may still appear up to 3x (one per matching probe
    band); duplicates carry identical ordering structs, so the downstream
    argmin is unaffected and the dedupe shuffle is skipped."""
    keys = f"{banding.CENTS} AS _cents", f"{banding.DAY} AS _day"
    probes = (
        txns.where("sourceType = 'bank' AND amount >= 0")
        .selectExpr("txn_id AS l_id", *keys)
        .groupBy("_cents", "_day")
        .agg(F.expr("min(l_id) AS l_id"))
        .selectExpr("l_id", "_cents", "_day", banding.PROBES)
    )

    shadows = (
        txns.where("amount < 0 AND sourceType IN ('card', 'loan', 'bank')")
        .selectExpr("txn_id AS s_id", "sourceType AS s_type", *keys)
        .groupBy("_cents", "_day")
        # representative = min s_id; struct min is lexicographic and s_id
        # is unique, so this is (min s_id, its own sourceType)
        .agg(F.expr("min(struct(s_id, s_type)) AS _m"))
        .selectExpr(
            "_cents AS s_cents",
            "_day AS s_day",
            f"{banding.bucket('_day')} AS s_bucket",
            "_m.s_id AS s_id",
            "_m.s_type AS s_type",
        )
    )

    return (
        probes.join(
            shadows, F.expr("_cents_p = s_cents AND _bucket_p = s_bucket"), "inner"
        )
        .where(banding.within_tolerance("s_cents", "s_day"))
        .selectExpr(
            "l_id",
            "s_id",
            "s_type",
            "abs(_day - s_day) AS day_dist",
            "abs(_cents - s_cents) AS cents_dist",
        )
    )


def matched_pairs(txns: DataFrame) -> DataFrame:
    """Mutual-best selection → one row per formed pair.

    Each side's best candidate is an ARGMIN per key — computed with
    `min_by` aggregations instead of row_number windows. A window rank-1
    must shuffle and fully sort every candidate row per key; min_by is
    partially aggregable, so the map side collapses each partition to one
    row per key before the exchange — the shuffle carries only the
    distinct leader/shadow representative ids. The candidate stream
    itself is group-level (one row per band pair of (cents, day) groups —
    see _banded_candidates), so the aggregate's input is bounded by the
    number of co-banded group pairs, not by transaction multiplicity.

    Both argmins come from ONE pass over the banded join: each candidate
    explodes into a leader-keyed and a shadow-keyed row and a single
    groupBy(role, key) computes best-shadow-per-leader and
    best-leader-per-shadow together. The previous formulation aggregated
    the join output twice (one branch per direction), which re-executed
    the banded join + map-side partial agg per branch and doubled the AQE
    stage count — measured at 100k docs: 6 jobs → 4 and ~20% less wall
    time for the pairing stage. Result-identical to the window formulation
    (the ordering struct (day_dist, cents_dist, id) is unique per key, so
    the argmin is deterministic); the q13 DuckDB oracle — still the
    row_number formulation — proves the equivalence every round.

    Band-duplicate candidates (the 3×3 probe fan-out can emit one pair up
    to three times) carry identical ordering structs, so they cannot change
    either argmin — the pre-aggregation dropDuplicates shuffle is skipped.
    """
    base = _banded_candidates(txns)
    both = base.selectExpr(
        "inline(array("
        "named_struct('role', 'L', 'key', l_id, 'other', s_id, 's_type', s_type,"
        " 'day_dist', day_dist, 'cents_dist', cents_dist),"
        "named_struct('role', 'S', 'key', s_id, 'other', l_id, 's_type', s_type,"
        " 'day_dist', day_dist, 'cents_dist', cents_dist)))"
    )
    best = both.groupBy("role", "key").agg(
        F.expr(
            "min_by(struct(other, s_type), struct(day_dist, cents_dist, other)) AS b"
        )
    )
    # Mutuality without a self-join of `best`: leader ids and shadow ids are
    # disjoint (amount >= 0 vs < 0), so an unordered pair {a, b} receives at
    # most one L-row (a's best shadow is b) and at most one S-row (b's best
    # leader is a); exactly two rows <=> both chose each other. One tiny
    # exchange on the pair key replaces the join of the two argmin branches.
    return (
        best.groupBy(
            F.expr("least(key, b.other) AS p_lo"),
            F.expr("greatest(key, b.other) AS p_hi"),
        )
        .agg(
            F.expr("count(1) AS n"),
            F.expr("max(CASE WHEN role = 'L' THEN key END) AS l_id"),
            F.expr("max(CASE WHEN role = 'L' THEN b.other END) AS s_id"),
            F.expr("max(CASE WHEN role = 'L' THEN b.s_type END) AS s_type"),
        )
        .where("n = 2")
        .selectExpr(
            "l_id",
            "s_id",
            "concat('pair:', least(l_id, s_id), ':', greatest(l_id, s_id)) AS pairId",
            "CASE WHEN s_type = 'card' THEN 'card_payment'"
            " WHEN s_type = 'loan' THEN 'loan_payment'"
            " ELSE 'bank_transfer' END AS pairReason",
        )
    )


def pair_decorations(txns: DataFrame) -> DataFrame:
    """Pairing decorations as a standalone keyed table:
    (txn_id, pairId, eventLeader, pairedWith, pairReason) — one row per
    paired LEG. Callers left-join it on txn_id, fused with the other
    txn_id-keyed decorations into one wide join (plans/pipeline.py
    single-barrier chain); unpaired rows keep NULLs (FIXTURES.md F3)."""
    pairs = matched_pairs(txns)
    # One generator pass instead of a 2-branch union: a union of two
    # projections of `pairs` makes Catalyst re-execute the whole pairing
    # subtree once per branch (only the last exchange is AQE-reusable);
    # exploding each pair into its leader and shadow legs keeps the
    # decoration build a single linear plan.
    return pairs.selectExpr(
        "inline(array("
        "named_struct('txn_id', l_id, 'pairId', pairId, 'eventLeader', true,"
        " 'pairedWith', s_id, 'pairReason', pairReason),"
        "named_struct('txn_id', s_id, 'pairId', pairId, 'eventLeader', false,"
        " 'pairedWith', l_id, 'pairReason', 'shadow')))"
    )
