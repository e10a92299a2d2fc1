"""C3/D1/D4/G15/U1 — the classification cascade, set-based.

Reference cascade (utils/classify_transaction.py:139-155): per row, user
memory → global memory → structural (no-op) → LLM, with per-row Firestore
reads and an OpenAI call per miss. Rebuild: two broadcast left joins + a
native CASE chain; the LLM stage is replaced by the deterministic keyword
ruleset (G15) pre-mapped onto the allowed chart via the reference's own
_force_map_to_allowed (D4) at plan-build time — so the hot path has ZERO
Python; even the vendor key (G1) is a native expression, parity-tested
against the reference's Python `re` chain (core.vendor_key).

The vendor key, the keyword chain and the cascade are Spark SQL text
(`vendor_key_sql`, `keyword_account_sql`, placed with `F.expr`/
`selectExpr`): building them costs a few Python→JVM round trips instead of
one or more per expression node. Account names are runtime data and reach
that text only through `_sql_string`.
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
# chart; runtime charts resolve in keyword_account_sql.
_KEYWORD_ACCOUNTS = {
    kw: core.force_map_to_allowed(acct, core.ALLOWED_ACCOUNTS)
    for kw, acct in _KEYWORD_TARGETS.items()
}
FALLBACK_ACCOUNT = core.fallback_account(core.ALLOWED_ACCOUNTS)

# D1 promotion thresholds (ref: utils/classify_transaction.py:134-137)
PROMOTE_MIN_TOTAL = 5
PROMOTE_MIN_USERS = 3


def _sql_string(value: str) -> str:
    """`value` as a Spark SQL string literal. Account names are runtime
    data (a caller's chart), so they reach expression text only through
    this quoting: backslash first, then the quote, per the parser's
    default escape rules."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def vendor_key_sql(memo: str) -> str:
    r"""G1 vendor key of the column `memo` as a NATIVE SQL expression — no
    Python stage.

    This was the fused transaction chain's only post-extraction Python
    stage (ArrowEvalPython): it broke whole-stage codegen between the
    decoration joins and the classification projections and added a
    Python-worker launch per task per run — a fixed driver/executor-serial
    cost that showed up directly in the full-chain scaling floor.

    Parity with core.vendor_key (ref utils/clean_vendor_name.py:3-18),
    clause by clause, using Java regex with embedded (?U) so \s matches
    Python's Unicode whitespace (the patterns are raw r'' literals, so the
    SQL parser passes their backslashes through):
    - email strip: identical ASCII-class pattern;
    - url strip: ``https?://\S+`` with (?U) (Python \S is Unicode);
    - non-alpha → space: ``[^A-Za-z\s]`` with (?U);
    - Python's collapse+strip+split() ≡ split on ``(?U)\s+`` with empty
      tokens dropped (the length>2 filter drops them);
    - tokens are pure A-Za-z runs by construction, so Python's
      ``w.isalpha()`` is vacuously true and ``.title().lower()`` over the
      joined key is just lower(join) — applied directly.
    """
    s = f"coalesce({memo}, '')"
    s = rf"regexp_replace({s}, r'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '')"
    s = rf"regexp_replace({s}, r'(?U)https?://\S+', '')"
    s = rf"regexp_replace({s}, r'(?U)[^A-Za-z\s]', ' ')"
    key = rf"lower(array_join(slice(filter(split({s}, r'(?U)\s+'), w -> length(w) > 2), 1, 5), ' '))"
    return f"CASE WHEN {key} = '' THEN 'unknown vendor' ELSE {key} END"


def keyword_account_sql(memo: str, accounts: list[str] | None = None) -> str:
    """G15 rules over the column `memo` as a native CASE chain (ref: (pyc)
    parse.classify_transaction_type); null when no keyword fires.

    Re-spec vs the reference's constant pool: 'fee' matches on a word
    boundary, since a plain substring would misfire on e.g. 'COFFEE'. The
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
    lo = f"lower(coalesce({memo}, ''))"
    return (
        f"CASE WHEN contains({lo}, 'interest') THEN {_sql_string(mapped['interest'])}"
        rf" WHEN {lo} RLIKE r'\bfees?\b' THEN {_sql_string(mapped['fee'])}"
        f" WHEN contains({lo}, 'payment') OR contains({lo}, 'thank you')"
        f" THEN {_sql_string(mapped['payment'])}"
        f" WHEN contains({lo}, 'credit') OR contains({lo}, 'refund')"
        f" THEN {_sql_string(mapped['credit'])} END"
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
    latest = "max(account)" if seq is None else f"max_by(account, struct({seq}, account))"
    return memory.groupBy(*keys).agg(F.expr(f"{latest} AS account"))


def classify(
    txns: DataFrame,
    user_memory: DataFrame | None = None,
    global_memory: DataFrame | None = None,
    accounts: list[str] | None = None,
) -> DataFrame:
    """Full cascade → vendor_key + account + classificationSource columns;
    the G1 vendor key comes from `memo`, then `memory_cascade` runs."""
    return memory_cascade(
        txns.withColumn("vendor_key", F.expr(vendor_key_sql("memo"))),
        user_memory,
        global_memory,
        accounts,
    )


def memory_cascade(
    keyed: DataFrame,
    user_memory: DataFrame | None = None,
    global_memory: DataFrame | None = None,
    accounts: list[str] | None = None,
) -> DataFrame:
    """C3 cascade over a frame that already carries `vendor_key` (plus
    `uid` when user memory is given, and `memo` for the keyword stage):
    user memory → global memory → G15 keywords → fallback account.

    user_memory(uid, vendor_key, account) and global_memory(vendor_key,
    account) are small dimensions → broadcast (ref per-row lookups at
    utils/classify_transaction.py:91-116 become C3 broadcast joins).
    `accounts` overrides the chart of accounts (default: the reference's
    static chart); keyword targets and the fallback resolve against it.
    """
    # Absent memory tables join nothing: the cascade reads a null literal
    # instead of a broadcast join against an empty frame. Each skipped join
    # removes a broadcast exchange (a driver-side build + job) from the
    # critical path — pure fixed cost that a small-corpus run pays without
    # any benefit. Callers with real memory tables get the broadcast joins.
    user = glob = "CAST(NULL AS STRING)"
    if user_memory is not None:
        u = F.broadcast(
            _latest_per_key(user_memory, ["uid", "vendor_key"]).selectExpr(
                "uid AS u_uid", "vendor_key AS u_vk", "account AS user_account"
            )
        )
        keyed = keyed.join(
            u, F.expr("uid = u_uid AND vendor_key = u_vk"), "left"
        ).drop("u_uid", "u_vk")
        user = "user_account"
    if global_memory is not None:
        g = F.broadcast(
            _latest_per_key(global_memory, ["vendor_key"]).selectExpr(
                "vendor_key AS g_vk", "account AS global_account"
            )
        )
        keyed = keyed.join(g, F.expr("vendor_key = g_vk"), "left").drop("g_vk")
        glob = "global_account"

    kw = keyword_account_sql("memo", accounts)
    fb = (
        FALLBACK_ACCOUNT if accounts is None else core.fallback_account(accounts)
    )
    return keyed.withColumns({
        "account": F.expr(f"coalesce({user}, {glob}, {kw}, {_sql_string(fb)})"),
        # 'ai': the deterministic LLM replacement (SURVEY §2.11 U1)
        "classificationSource": F.expr(
            f"CASE WHEN {user} IS NOT NULL THEN 'memory:user'"
            f" WHEN {glob} IS NOT NULL THEN 'memory:global' ELSE 'ai' END"
        ),
    }).drop("user_account", "global_account")


def learning_aggregate(classified: DataFrame) -> DataFrame:
    """D1 — per-vendor learning aggregate (ref: utils/classify_transaction.py:121-137).

    total, byAccount counts, distinct-user count; top_account via a
    deterministic argmax (count desc, account asc — canonical tie-break
    re-spec; the reference's dict-insertion-order argmax is arrival-order
    dependent).

    Scale shape: the promotion rule only needs `countDistinct(uid)`, which
    Spark executes as a two-phase aggregate (per-partition partial distinct,
    then merge) — a hot vendor key with 10^7 distinct users never
    materializes a 10^7-element array in one aggregation buffer, which the
    round-2 `collect_set(uid)` + flatten form did; there is no unbounded
    per-key state. top_account is a map-side-combinable `min_by` over the
    tiny (vendor_key, account) pre-aggregate — no window sort.
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
    users = classified.groupBy("vendor_key").agg(
        F.countDistinct("uid").alias("n_users")
    )
    return agg.join(users, "vendor_key")


def promotions(agg: DataFrame) -> DataFrame:
    """Promotion rule: total ≥ PROMOTE_MIN_TOTAL AND distinct users ≥
    PROMOTE_MIN_USERS → global memory rows.

    Ref: utils/classify_transaction.py:134-137 (_bump_vendor_aggregate).
    """
    return agg.filter(
        (F.col("total") >= PROMOTE_MIN_TOTAL)
        & (F.col("n_users") >= PROMOTE_MIN_USERS)
    ).select("vendor_key", F.col("top_account").alias("account"))
