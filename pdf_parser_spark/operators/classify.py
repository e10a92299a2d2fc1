"""C3/D1/D4/G15/U1 — the classification cascade, set-based.

Reference cascade (utils/classify_transaction.py:139-155): per row, user
memory → global memory → structural (no-op) → LLM, with per-row Firestore
reads and an OpenAI call per miss. Rebuild: two broadcast left joins + a
native `when` chain; the LLM stage is replaced by the deterministic keyword
ruleset (G15) pre-mapped onto the allowed chart via the reference's own
_force_map_to_allowed (D4) at plan-build time — so the hot path has ZERO
Python; even the vendor key (G1) is a native expression, parity-tested
against the reference's Python `re` chain (core.vendor_key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark import extraction_core as core

# G15 keyword → raw target accounts ((pyc) parse.classify_transaction_type)
_KEYWORD_TARGETS = {
    "interest": "7100 - Interest Expense",
    "fee": "7110 - Loan Fees",
    "payment": "Credit Card Payment",
    "credit": "4090 - Refunds and Discounts (Contra-Revenue)",
}
# ...resolved through D4 once at import time with the reference's own
# mapping function (utils/classify_transaction.py:15-37) for the default
# chart; runtime charts resolve in keyword_account_col.
_KEYWORD_ACCOUNTS = {
    kw: core.force_map_to_allowed(acct, core.ALLOWED_ACCOUNTS)
    for kw, acct in _KEYWORD_TARGETS.items()
}
FALLBACK_ACCOUNT = core.fallback_account(core.ALLOWED_ACCOUNTS)


def vendor_key_col(memo_col):
    """G1 vendor key as a NATIVE column expression — no Python stage.

    This was the fused transaction chain's only post-extraction Python
    stage (ArrowEvalPython): it broke whole-stage codegen between the
    decoration joins and the classification projections and added a
    Python-worker launch per task per run — a fixed driver/executor-serial
    cost that showed up directly in the full-chain scaling floor.

    Parity with core.vendor_key (ref utils/clean_vendor_name.py:3-18),
    clause by clause, using Java regex with embedded (?U) so \\s matches
    Python's Unicode whitespace:
    - email strip: identical ASCII-class pattern;
    - url strip: ``https?://\\S+`` with (?U) (Python \\S is Unicode);
    - non-alpha → space: ``[^A-Za-z\\s]`` with (?U);
    - Python's collapse+strip+split() ≡ split on ``(?U)\\s+`` with empty
      tokens dropped (the length>2 filter drops them);
    - tokens are pure A-Za-z runs by construction, so Python's
      ``w.isalpha()`` is vacuously true and ``.title().lower()`` over the
      joined key is just lower(join) — applied directly.
    """
    s = F.coalesce(memo_col, F.lit(""))
    s = F.regexp_replace(s, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "")
    s = F.regexp_replace(s, r"(?U)https?://\S+", "")
    s = F.regexp_replace(s, r"(?U)[^A-Za-z\s]", " ")
    words = F.filter(F.split(s, r"(?U)\s+"), lambda w: F.length(w) > 2)
    key = F.lower(F.array_join(F.slice(words, 1, 5), " "))
    return F.when(key == "", F.lit("unknown vendor")).otherwise(key)


def keyword_account_col(memo_col, accounts: list[str] | None = None):
    """G15 rules as a native when-chain (ref: (pyc) parse.classify_transaction_type).

    Word-boundary 'fee' matching per the extraction_core re-spec. The
    keyword→account targets are literals, so a runtime-supplied chart is
    resolved through the SAME D4 cascade (extraction_core
    force_map_to_allowed — the golden twin of functions/scalar's
    mapped_account_col) at plan-build time: one shared implementation, no
    per-row work for a compile-time-constant mapping.
    """
    if accounts is None:
        mapped = _KEYWORD_ACCOUNTS
    else:
        mapped = {
            kw: core.force_map_to_allowed(acct, accounts)
            for kw, acct in _KEYWORD_TARGETS.items()
        }
    lo = F.lower(F.coalesce(memo_col, F.lit("")))
    return (
        F.when(lo.contains("interest"), F.lit(mapped["interest"]))
        .when(lo.rlike(r"\bfees?\b"), F.lit(mapped["fee"]))
        .when(
            lo.contains("payment") | lo.contains("thank you"),
            F.lit(mapped["payment"]),
        )
        .when(
            lo.contains("credit") | lo.contains("refund"),
            F.lit(mapped["credit"]),
        )
        .otherwise(F.lit(None).cast("string"))
    )


# Recency columns recognized on memory tables, in preference order. An
# append-style memory table (re-mappings appended, not upserted) carries
# one of these; latest-wins dedup then matches the reference's upsert
# semantics (Firestore set() at routes/transactions.py memory writes).
_MEMORY_SEQ_COLS = ("seq", "updated_at", "updatedAt", "ts")


def _latest_per_key(memory: DataFrame, keys: list[str]) -> DataFrame:
    """One (key → account) row per key. With a recency column present,
    keep the most-recent mapping (max_by, ties broken by account to stay
    deterministic); without one, duplicate keys fall back to max(account)
    — deterministic but order-blind, so append-style tables SHOULD carry
    a seq/updated_at column. Dedup runs before the broadcast so duplicate
    key rows can never fan out transactions (double-counted journal legs)."""
    seq = next((c for c in _MEMORY_SEQ_COLS if c in memory.columns), None)
    if seq is None:
        return memory.groupBy(*keys).agg(F.max("account").alias("account"))
    return memory.groupBy(*keys).agg(
        F.max_by(
            "account", F.struct(F.col(seq), F.col("account"))
        ).alias("account")
    )


def classify(
    txns: DataFrame,
    user_memory: DataFrame | None = None,
    global_memory: DataFrame | None = None,
    accounts: list[str] | None = None,
) -> DataFrame:
    """Full cascade → account + classificationSource columns.

    user_memory(uid, vendor_key, account) and global_memory(vendor_key,
    account) are small dimensions → broadcast (ref per-row lookups at
    utils/classify_transaction.py:91-116 become C3 broadcast joins).
    `accounts` overrides the chart of accounts (default: the reference's
    static chart); keyword targets and the fallback resolve against it.
    """
    t = txns.withColumn("vendor_key", vendor_key_col(F.col("memo")))
    # Absent memory tables join nothing: emit the null column directly
    # instead of a broadcast join against an empty frame. Each skipped join
    # removes a broadcast exchange (a driver-side build + job) from the
    # critical path — pure fixed cost that a small-corpus run pays without
    # any benefit. Callers with real memory tables get the broadcast joins.
    if user_memory is not None:
        u = F.broadcast(
            _latest_per_key(user_memory, ["uid", "vendor_key"])
            .select(
                F.col("uid").alias("u_uid"),
                F.col("vendor_key").alias("u_vk"),
                F.col("account").alias("user_account"),
            )
        )
        t = t.join(
            u, (t["uid"] == u["u_uid"]) & (t["vendor_key"] == u["u_vk"]), "left"
        ).drop("u_uid", "u_vk")
    else:
        t = t.withColumn("user_account", F.lit(None).cast("string"))
    if global_memory is not None:
        g = F.broadcast(
            _latest_per_key(global_memory, ["vendor_key"]).select(
                F.col("vendor_key").alias("g_vk"),
                F.col("account").alias("global_account"),
            )
        )
        t = t.join(g, t["vendor_key"] == g["g_vk"], "left").drop("g_vk")
    else:
        t = t.withColumn("global_account", F.lit(None).cast("string"))

    kw = keyword_account_col(F.col("memo"), accounts)
    fb = (
        FALLBACK_ACCOUNT if accounts is None else core.fallback_account(accounts)
    )
    account = F.coalesce(
        F.col("user_account"), F.col("global_account"), kw, F.lit(fb)
    )
    source = (
        F.when(F.col("user_account").isNotNull(), F.lit("memory:user"))
        .when(F.col("global_account").isNotNull(), F.lit("memory:global"))
        .otherwise(F.lit("ai"))  # deterministic LLM replacement (SURVEY §2.11 U1)
    )
    return (
        t.withColumn("account", account)
        .withColumn("classificationSource", source)
        .drop("user_account", "global_account")
    )


def learning_aggregate(
    classified: DataFrame, include_users: bool = False
) -> DataFrame:
    """D1 — per-vendor learning aggregate (ref: utils/classify_transaction.py:121-137).

    total, byAccount counts, distinct-user count; top_account via a
    deterministic argmax (count desc, account asc — canonical tie-break
    re-spec; the reference's dict-insertion-order argmax is arrival-order
    dependent).

    Scale shape: the promotion rule only needs `countDistinct(uid)`, which
    Spark executes as a two-phase aggregate (per-partition partial distinct,
    then merge) — a hot vendor key with 10^7 distinct users never
    materializes a 10^7-element array in one aggregation buffer, which the
    round-2 `collect_set(uid)` + flatten form did. The reference's `users`
    array (utils/classify_transaction.py:131-133) is available behind
    ``include_users=True`` for callers that truly need it; the default path
    has no unbounded per-key state. top_account is a map-side-combinable
    `min_by` over the tiny (vendor_key, account) pre-aggregate — no window
    sort.
    """
    per_acct = classified.groupBy("vendor_key", "account").agg(
        F.count("*").alias("cnt")
    )
    # min over (-cnt, account) == argmax cnt with account-asc tie-break
    order = F.struct((-F.col("cnt")).alias("nc"), F.col("account").alias("a"))
    agg = per_acct.groupBy("vendor_key").agg(
        F.sum("cnt").alias("total"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("account", "cnt")))
        ).alias("byAccount"),
        F.min_by(F.col("account"), order).alias("top_account"),
    )
    user_aggs = [F.countDistinct("uid").alias("n_users")]
    if include_users:
        user_aggs.append(F.sort_array(F.collect_set("uid")).alias("users"))
    users = classified.groupBy("vendor_key").agg(*user_aggs)
    return agg.join(users, "vendor_key")


def promotions(agg: DataFrame, min_total: int = 5, min_users: int = 3) -> DataFrame:
    """Promotion rule: total≥5 AND distinct users≥3 → global memory rows.

    Ref: utils/classify_transaction.py:134-137 (_bump_vendor_aggregate).
    """
    return agg.filter(
        (F.col("total") >= min_total) & (F.col("n_users") >= min_users)
    ).select("vendor_key", F.col("top_account").alias("account"))
