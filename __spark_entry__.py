"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship pipeline on /root/testdata/sf0.001.
queries()       — one callable per implemented operator (SURVEY.md §2).
oracle_sql()    — matching DuckDB ANSI SQL for every SQL-expressible query;
                  parse-UDF / LSH operators are rows-only (documented below).

Column names are aliased identically in both engines; float aggregates are
rounded in both; integer aggregates cast to BIGINT in the SQL (DuckDB SUM on
INTEGER yields HUGEINT otherwise).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

SF_DEFAULT = "/root/testdata/sf0.001"

_REPO = __import__("os").path.dirname(__import__("os").path.abspath(__file__))


def _ship_package(spark: SparkSession) -> None:
    """Make pdf_parser_spark importable inside Spark python workers.

    The harness may build its own SparkSession without /root/repo on the
    workers' PYTHONPATH; mapInPandas closures reference package functions by
    module name, so workers must be able to import the package. addPyFile of
    a zip works regardless of when the context was created (the local-mode
    equivalent of `spark-submit --py-files dist/pdf_parser_spark.zip`).
    """
    sc = spark.sparkContext
    if getattr(sc, "_pdf_parser_spark_shipped", False):
        return
    import os

    from pdf_parser_spark.session import build_pyfiles_zip, package_files

    zip_path = os.path.join(_REPO, "dist", "pdf_parser_spark.zip")
    # rebuild whenever any module or data file is newer than the zip (stale
    # workers silently running old code would be far worse than a rebuild)
    stale = not os.path.exists(zip_path) or any(
        os.path.getmtime(p) > os.path.getmtime(zip_path) for p in package_files()
    )
    if stale:
        build_pyfiles_zip(zip_path)
    sc.addPyFile(zip_path)
    sc._pdf_parser_spark_shipped = True


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ship_package(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# shared derived tables (must match the CTEs inside oracle_sql exactly)
# ---------------------------------------------------------------------------


def _event_txns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactions-shaped view of `events` (the C1/C2/G10 oracle substrate).

    txn_id zero-padded so string order == numeric order in both engines.
    Carries `ts` through so event-time consumers (q27) never re-join the
    base table just to recover the timestamp their projection dropped.
    """
    return _t(spark, sf_dir, "events").select(
        F.format_string("%08d", F.col("event_id")).alias("txn_id"),
        F.when(F.col("event_id") % 2 == 0, F.col("value"))
        .otherwise(-F.col("value"))
        .alias("amount"),
        F.when(F.col("event_id") % 3 == 0, F.lit("bank"))
        .when(F.col("event_id") % 3 == 1, F.lit("card"))
        .otherwise(F.lit("loan"))
        .alias("sourceType"),
        F.date_format("ts", "yyyyMMdd").alias("dateKey"),
        F.col("ts"),
    )

_EVENT_TXNS_SQL = """
txns AS (
  SELECT printf('%08d', event_id) AS txn_id,
         CASE WHEN event_id % 2 = 0 THEN value ELSE -value END AS amount,
         CASE event_id % 3 WHEN 0 THEN 'bank' WHEN 1 THEN 'card' ELSE 'loan' END AS sourceType,
         strftime(ts, '%Y%m%d') AS dateKey,
         ts
  FROM events),
keyed AS (
  SELECT txn_id, amount, sourceType,
         CAST(round(abs(amount) * 100) AS BIGINT) AS cents,
         datediff('day', DATE '1970-01-01', CAST(strptime(dateKey, '%Y%m%d') AS DATE)) AS day
  FROM txns)
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q01_flagship_rollup(spark, sf_dir):
    """D-family aggregate (TPC-H Q1 shape): partial-agg-friendly rollup."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_order_listing(spark, sf_dir):
    """B12/F1/F2 — order-by + offset/limit pagination UNION top-k listing
    (ref: main.py:202-213, main.py:167; round-4 merge of q02+q03 so both
    stay on the driver's 50-entry correctness record)."""
    o = _t(spark, sf_dir, "orders")
    page = (
        o.orderBy("o_orderdate", "o_orderkey")
        .select(
            F.lit("page").alias("src"),
            "o_orderkey",
            "o_totalprice",
            F.lit(None).cast("string").alias("o_orderstatus"),
        )
        .offset(100)
        .limit(50)
    )
    topk = (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select(
            F.lit("topk").alias("src"),
            "o_orderkey",
            "o_totalprice",
            "o_orderstatus",
        )
        .limit(10)
    )
    return page.unionByName(topk)


def q04_keep_latest(spark, sf_dir):
    """D3/E2 — keep-latest-row per key (ref: routes/plaid.py:434-459)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q05_union_dedupe(spark, sf_dir):
    """D5 — union of two scans deduped by id (ref: routes/plaid.py:356-362)."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("event_id")
    b = e.filter(F.col("value") > 400).select("event_id")
    return a.unionByName(b).dropDuplicates(["event_id"])


def q06_order_windows(spark, sf_dir):
    """E3 + B8 + B7 — per-order window suite on one orderkey-grain spine
    (round-4 merge of q06+q18+q19): max-date within the R group, latest
    A-flag line, and the 45-day closing-window count (ref: (pyc) parse's
    old-interest-charge filter, semantic_extractor.extract_transactions).
    Three aggregates over ONE lineitem scan, all keyed by l_orderkey — the
    joins reuse the same exchange."""
    li = _t(spark, sf_dir, "lineitem")
    w45 = W.partitionBy("l_orderkey")
    spine = (
        li.withColumn("_max_ship", F.max("l_shipdate").over(w45))
        .filter(F.col("l_shipdate") >= F.date_sub(F.col("_max_ship"), 45))
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_in_window"))
    )
    r_group = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship_r"),
            F.count("*").alias("n_lines_r"),
        )
    )
    wa = W.partitionBy("l_orderkey").orderBy(
        F.col("l_shipdate").desc(), F.col("l_linenumber").desc()
    )
    latest_a = (
        li.filter(F.col("l_returnflag") == "A")
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", F.col("l_linenumber").alias("latest_a_line"))
    )
    return (
        spine.join(r_group, "l_orderkey", "left")
        .join(latest_a, "l_orderkey", "left")
        .select("l_orderkey", "n_in_window", "last_ship_r", "n_lines_r",
                "latest_a_line")
    )


def q07_memory_cascade(spark, sf_dir):
    """C3 — two-level memory lookup with precedence + source label
    (ref: utils/classify_transaction.py:91-116), run through
    classify.memory_cascade: vendor key = lang, one user, and a null memo so
    no keyword fires and a miss falls back to the uncategorized account."""
    from pdf_parser_spark.operators import classify as classify_op

    d = _t(spark, sf_dir, "documents")

    def memory(langs, prefix):
        return d.filter(F.col("lang").isin(*langs)).select(
            F.lit(0).alias("uid"),
            F.col("lang").alias("vendor_key"),
            F.concat(F.lit(prefix), "lang").alias("account"),
        )

    keyed = d.select(
        "doc_id",
        F.lit(0).alias("uid"),
        F.col("lang").alias("vendor_key"),
        F.lit(None).cast("string").alias("memo"),
    )
    return classify_op.memory_cascade(
        keyed, memory(["en", "de"], "user:"), memory(["de", "fr", "es"], "global:")
    ).select("doc_id", "account", "classificationSource")


def q08_learning_aggregate(spark, sf_dir):
    """D1 — vendor learning aggregate + promotion rule
    (ref: utils/classify_transaction.py:121-137), through
    classify.learning_aggregate and its promotion thresholds."""
    from pdf_parser_spark.operators import classify as classify_op

    d = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("vendor_key"),
        F.col("lang").alias("account"),
        (F.col("doc_id") % 7).alias("uid"),
    )
    return classify_op.learning_aggregate(d).select(
        "vendor_key",
        "total",
        "n_users",
        "top_account",
        (
            (F.col("total") >= classify_op.PROMOTE_MIN_TOTAL)
            & (F.col("n_users") >= classify_op.PROMOTE_MIN_USERS)
        ).alias("promoted"),
    )


def q09_journal_explode(spark, sf_dir):
    """H1 — journal debit/credit explosion (ref: routes/journal.py:29-51)."""
    from pdf_parser_spark.operators import journal as journal_op

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("txn_id"),
        F.date_format("o_orderdate", "MM/dd/yyyy").alias("date"),
        F.col("o_orderpriority").alias("memo"),
        F.when(F.col("o_orderstatus") == "F", -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("amount"),
        F.col("o_orderpriority").alias("account"),
        F.lit("Offset").alias("source"),
        F.lit(None).cast("boolean").alias("eventLeader"),
        F.lit(None).cast("string").alias("pairReason"),
    )
    j = journal_op.journal_entries(o)
    return j.select(
        "id", "txnId", "date", "memo", "account", "type", F.round("amount", 2).alias("amount")
    )


def q10_account_type(spark, sf_dir):
    """G11 — account-type classification chain (ref: routes/journal_detail.py:21-37)."""
    from pdf_parser_spark.operators.journal import account_type_col

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat(F.col("p_size").cast("string"), F.lit("00 - "), F.col("p_type")).alias("acct_coded"),
        F.col("p_brand").alias("acct_trailing"),
        F.col("p_type").alias("acct_none"),
    )
    return p.select(
        "p_partkey",
        account_type_col(F.col("acct_coded")).alias("type_coded"),
        account_type_col(F.col("acct_trailing")).alias("type_trailing"),
        account_type_col(F.col("acct_none")).alias("type_none"),
    )


def q11_txn_scalars(spark, sf_dir):
    """G4/G5 + B9 + B10 — event-grain scalar suite (round-4 merge of
    q11+q29+q30): date key & US-date formatting (ref: main.py:90-99,
    plaid.py:108-113), the statement-summary interest heuristic (ref:
    (pyc) parse.looks_like_summary_interest_row), and the
    abs(amount) >= 0.01 sanity predicate as a value column (ref: (pyc)
    parse.is_valid_amount). One projection, zero exchanges, all codegen."""
    from pdf_parser_spark.functions import scalar as fns

    e = _t(spark, sf_dir, "events")
    d = e.select(
        "event_id",
        F.date_format("ts", "yyyyMMdd").alias("dateKey"),
        F.date_format("ts", "MM/dd/yyyy").alias("us_date"),
        _pick(_Q29_MEMOS, F.col("event_id")).alias("memo"),
        F.date_format(
            F.date_sub(F.to_date("ts"), ((F.col("event_id") * 37) % 700).cast("int")),
            "MM/dd/yyyy",
        ).alias("date"),
        F.round(F.col("value") - 150.0, 2).alias("amount"),
        F.round((F.col("event_id") % 401 - 200) / 100.0, 2).alias("amount2"),
    )
    return d.select(
        "event_id",
        "dateKey",
        "us_date",
        "memo",
        "date",
        "amount",
        fns.summary_interest_col(
            F.col("memo"), F.col("date"), F.col("amount")
        ).alias("is_summary"),
        "amount2",
        fns.valid_amount_col(F.col("amount2")).alias("amount2_valid"),
    )


def q13_transfer_pairing(spark, sf_dir):
    """C1 — transfer pairing: banded self-join + mutual-best matching
    (ref: utils/transfer_pairing.py:38-107; canonical re-spec FIXTURES.md)."""
    from pdf_parser_spark.operators import pairing as pairing_op

    txns = _event_txns(spark, sf_dir)
    return pairing_op.matched_pairs(txns).select(
        F.col("l_id").alias("leader_id"),
        F.col("s_id").alias("shadow_id"),
        F.col("pairId").alias("pair_id"),
        F.col("pairReason").alias("pair_reason"),
    )


def q14_dedup_exact(spark, sf_dir):
    """Exact dedupe by normalized-text fingerprint (training-data op)."""
    from pdf_parser_spark.operators import dedupe as dedupe_op

    return dedupe_op.exact_duplicates(_t(spark, sf_dir, "documents"))


def q15_token_stats(spark, sf_dir):
    """Text quality/statistics + md5 fingerprint + BPE-ish pre-tokenizer
    counts (round-4 merge of q15+q20; shared Java/RE2 regex). Still one
    doc-grain projection, zero exchanges."""
    from pdf_parser_spark.operators import textstats as textstats_op

    d = _t(spark, sf_dir, "documents")
    return textstats_op.with_text_stats(d).select(
        "doc_id",
        "n_tokens",
        "n_chars_text",
        "mean_token_len",
        "alpha_ratio",
        "digit_ratio",
        "punct_ratio",
        "stopword_ratio",
        "fingerprint",
        textstats_op.bpe_token_count_col(F.col("text")).alias("n_bpe_tokens"),
    )


def q16_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-k over the embedding column (ANN baseline)."""
    from pdf_parser_spark.operators import similarity as similarity_op

    e = _t(spark, sf_dir, "embeddings")
    return similarity_op.cosine_topk(e, query_id=0, k=10)


def q17_display_amount(spark, sf_dir):
    """G10 + C2 — display-amount sign logic over the bank-match probe, with
    the probe's own verdict exposed as a column (round-4 merge of q17+q12;
    ref: utils/display_amount.py:41-79). card_neg_matched is q12's filter
    as a boolean: card outflows with a bank txn within ±5 days / ±$0.01."""
    from pdf_parser_spark.operators import normalize as normalize_op

    txns = _event_txns(spark, sf_dir)
    out = normalize_op.with_display_amount(normalize_op.with_bank_match(txns))
    return out.select(
        "txn_id",
        F.round("displayAmount", 2).alias("displayAmount"),
        (
            (F.col("sourceType") == "card")
            & (F.col("amount") < 0)
            & F.col("has_bank_match")
        ).alias("card_neg_matched"),
    )


def q21_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact baseline (training-data op)."""
    from pdf_parser_spark.operators import similarity as similarity_op

    e = _t(spark, sf_dir, "embeddings")
    return similarity_op.cosine_near_duplicates(e, threshold=0.4)


def q22_journal_typed(spark, sf_dir):
    """H2 — double-entry legs by account type (ref: routes/journal_detail.py:100-111)."""
    from pdf_parser_spark.operators import journal as journal_op

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("txn_id"),
        F.date_format("o_orderdate", "MM/dd/yyyy").alias("date"),
        F.col("o_orderpriority").alias("memo"),
        F.when(F.col("o_orderstatus") == "F", -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("amount"),
        F.concat((F.col("o_orderkey") % 9 + 1).cast("string"), F.lit("400 - Acct")).alias("account"),
        F.lit("1000 - Cash").alias("source"),
    )
    j = journal_op.journal_entries_typed(o)
    return j.select("id", "txnId", "account", "type", F.round("amount", 2).alias("amount"))


def q23_salted_hoststats(spark, sf_dir):
    """Skew-salted two-phase aggregate — identical result to a plain GROUP BY
    (north rule: salting for skewed hosts; physical plan has two balanced
    exchanges instead of one hot reducer)."""
    from pdf_parser_spark.operators import skew as skew_op

    d = _t(spark, sf_dir, "documents")
    return skew_op.salted_aggregate(
        d,
        key="source",
        partial_aggs=[F.count("*").alias("c"), F.sum("n_chars").alias("nc")],
        final_aggs=[F.sum("c").alias("n_docs"), F.sum("nc").alias("total_chars")],
        entropy_col="doc_id",
    )


def q24_fingerprint_join(spark, sf_dir):
    """C4 — exact (date, amount, memo) fingerprint equi-join for bulk
    reclassify (ref: main.py:592-609)."""
    li = _t(spark, sf_dir, "lineitem")
    txns = li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.date_format("l_shipdate", "MM/dd/yyyy").alias("date"),
        F.round(F.col("l_extendedprice"), 2).alias("amount"),
        F.concat(F.col("l_returnflag"), F.col("l_linestatus")).alias("memo"),
    )
    # the "reclassify request" side: first line of every 100th order
    req = txns.filter((F.col("l_orderkey") % 100 == 0) & (F.col("l_linenumber") == 1)).select(
        "date", "amount", "memo", F.lit("9999 - Reclassified").alias("new_account")
    )
    return (
        txns.join(req, ["date", "amount", "memo"])
        .select("l_orderkey", "l_linenumber", "new_account")
    )


def q25_tolerance_lookup(spark, sf_dir):
    """C5 — dateKey equality + abs-amount tolerance lookup
    (ref: routes/transactions_detail.py:43-63)."""
    txns = _event_txns(spark, sf_dir)
    target_amount, target_datekey = 250.0, "20240115"
    return txns.filter(
        (F.col("dateKey") >= target_datekey[:6] + "01")
        & (F.abs(F.abs(F.col("amount")) - target_amount) <= 25.0)
    ).select("txn_id", F.round("amount", 2).alias("amount"), "dateKey")


def q26_derived_uid_join(spark, sf_dir):
    """C7/G14 — equi-join on the derived txn uid
    f"{date}-{memo[:24]}-{amount}" (ref: routes/transactions_detail.py:13-20,
    65-80 — the reference's O(n) scan becomes a hash join)."""
    o = _t(spark, sf_dir, "orders")
    txns = o.select(
        "o_orderkey",
        F.concat_ws(
            "-",
            F.split(F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"), "T").getItem(0),
            F.substring(F.col("o_orderpriority"), 1, 24),
            F.round(F.col("o_totalprice"), 2).cast("string"),
        ).alias("uid"),
    )
    wanted = txns.filter(F.col("o_orderkey") % 97 == 0).select(F.col("uid").alias("w_uid"))
    return (
        txns.join(F.broadcast(wanted), txns["uid"] == wanted["w_uid"], "left_semi")
        .select("o_orderkey", "uid")
    )


def q27_windowed_stats(spark, sf_dir):
    """Event-time tumbling-window aggregate (streaming/windows.py run in
    batch mode — Spark's unified API; the stream variant adds the watermark)."""
    from pdf_parser_spark.streaming.windows import windowed_txn_stats

    txns = _event_txns(spark, sf_dir)
    out = windowed_txn_stats(txns, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "sourceType",
        "n_txns",
        "total_amount",
        "total_abs",
    )


def q28_account_map_join(spark, sf_dir):
    """C6 — broadcast account-map join: txn.account_id → display name
    "Name ****mask" + sourceType (ref: routes/plaid.py:239-252,271-273)."""
    e = _t(spark, sf_dir, "events")
    acct_map = (
        e.select((F.col("user_id") % 20).alias("account_id")).distinct()
        .select(
            "account_id",
            F.concat(
                F.lit("Account "), F.col("account_id"),
                F.lit(" ****"), F.lpad((F.col("account_id") * 37 % 10000).cast("string"), 4, "0"),
            ).alias("display_name"),
            F.when(F.col("account_id") % 3 == 0, F.lit("bank"))
            .when(F.col("account_id") % 3 == 1, F.lit("card"))
            .otherwise(F.lit("loan"))
            .alias("sourceType"),
        )
    )
    return (
        e.select("event_id", (F.col("user_id") % 20).alias("account_id"))
        .join(F.broadcast(acct_map), "account_id")
        .select("event_id", "display_name", "sourceType")
    )


# shared literal pools for the scalar-function queries (q29-q33): the same
# lists feed the Spark plan and the DuckDB oracle, so both engines see
# identical inputs derived purely from the shared tables.

_Q29_MEMOS = [
    "Interest charge summary",
    "Pay Over Time balance",
    "APR adjustment for period",
    "regular purchase at neighborhood store number nine",
    "summary of account activity for the period shown",
    "Monthly SUMMARY",
]

_Q31_CHOSEN = [
    "6220 - Meals & Entertainment",
    "meals & entertainment",
    "Legal Fees",
    "travel lodging expense",
    "bank fees software",
    "zzz qqq unmatched tokens",
    "",
    "7090 - Uncategorized Expense",
    "consulting",
    "shipping supplies packaging",
]

_Q32_LABELS = [
    "Accumulated Depreciation (Contra Asset)",
    "Sales - Contra revenue adjustments",
    "Refunds and Discounts (Contra-Revenue)",
    "Plain Operating Account",
    "Foo - (Contra X) Bar",
    "Gross Revenue (contra) - net of returns",
    "A (contra one) (contra two) B",
    "Allowance  -  doubtful (no strip here)",
]

_Q33_STRINGS = [
    "$1,234.56",
    "(45.00)",
    "refund",
    "",
    "12.3.4",
    "USD 99",
    "-0.5",
    "1-2",
    "balance due 42.10 now",
    "($ 1,000.00 )",
]


def _pick(values: list[str], key, modulus: int | None = None):
    """values[key % len] as a native expression (1-based element_at)."""
    n = modulus if modulus is not None else len(values)
    return F.element_at(
        F.array(*[F.lit(v) for v in values]), (key % n + 1).cast("int")
    )


def q31_account_mapping(spark, sf_dir):
    """D4 — best-token-overlap mapping onto the chart of accounts as a
    broadcast join + argmax window (ref: utils/classify_transaction.py:15-37)."""
    from pdf_parser_spark.functions import scalar as fns

    p = _t(spark, sf_dir, "part")
    d = p.select(
        "p_partkey", _pick(_Q31_CHOSEN, F.col("p_partkey")).alias("chosen")
    )
    return fns.force_map_to_allowed(d, "chosen").select(
        "p_partkey", "chosen", "mapped_account"
    )


def q32_scalar_cleaners(spark, sf_dir):
    """G12 + G13/G13b — contra-label cleaning, numeric coercion, and the
    (..)-negated fragment parser as native regexp expressions (round-4
    merge of q32+q33; ref: routes/coa.py:33-59, routes/journal.py:7-18,
    journal_detail.py:45-58). One event-grain projection."""
    from pdf_parser_spark.functions import scalar as fns

    e = _t(spark, sf_dir, "events")
    d = e.select(
        "event_id",
        _pick(_Q32_LABELS, F.col("event_id")).alias("label"),
        _pick(_Q33_STRINGS, F.col("event_id")).alias("raw"),
    )
    return d.select(
        "event_id",
        "label",
        fns.clean_contra_col(F.col("label")).alias("cleaned"),
        "raw",
        fns.to_number_col(F.col("raw")).alias("num"),
        fns.amount_fragment_col(F.col("raw")).alias("fragment"),
    )


def q34_quality_gate(spark, sf_dir):
    """Curation quality gate: native stats → composite score → filter →
    per-lang rollup (plans/curation.py quality_gate; all codegen)."""
    from pdf_parser_spark.plans import curation

    d = _t(spark, sf_dir, "documents")
    gated = curation.quality_gate(d, min_quality=0.5)
    return gated.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


def q35_tfidf_terms(spark, sf_dir):
    """Corpus TF-IDF top-term ranking over `documents`: explode → one hash
    aggregation keyed by term → top-k of the tiny term table
    (operators/textstats.tfidf_top_terms)."""
    from pdf_parser_spark.operators import textstats as textstats_op

    d = _t(spark, sf_dir, "documents")
    return textstats_op.tfidf_top_terms(d, k=50)


def q36_stratified_sample(spark, sf_dir):
    """Deterministic hash-ranked stratified sample — 5 docs per
    (lang, source), stable under row order and cluster size
    (operators/sampling.stratified_sample)."""
    from pdf_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(d, ["lang", "source"], k=5, id_col="doc_id").select(
        "doc_id", "lang", "source", F.col("sample_rank").cast("long").alias("sample_rank")
    )


def q37_sessionization(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) + exact-cents session
    rollup over `events` (operators/sessions)."""
    from pdf_parser_spark.operators import sessions

    e = _t(spark, sf_dir, "events")
    s = sessions.sessionize(e, gap_seconds=1800)
    return sessions.session_rollup(s)


def q38_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals per document — dup-line and
    top-bigram fractions (operators/textstats.repetition_signals)."""
    from pdf_parser_spark.operators import textstats as textstats_op

    return textstats_op.repetition_signals(_t(spark, sf_dir, "documents"))


_Q39_SNIPPETS = [
    " Contact alice.smith@example.com for details.",
    " Call +1 (555) 123-4567 or (555) 987-6543 now!",
    " No pii here, just prose.",
    " Email bob_jones+spam@mail.example.org and carol@example.co.uk.",
    " Phone: 555-867-5309; alt 1-555-867-5309.",
    " Reach ops@EXAMPLE.COM or 555.321.7654 after hours.",
    " v1.2.3 build 2024 released.",
    " DM @handle (not an email) and ext. 4567.",
]


def q39_pii_scrub(spark, sf_dir):
    """PII detection + redaction (emails, NANP phones) over documents with
    deterministic injected PII snippets (operators/pii.scrub_pii)."""
    from pdf_parser_spark.operators import pii

    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            _pick(_Q39_SNIPPETS, F.col("doc_id")),
        ).alias("text"),
    )
    out = pii.scrub_pii(injected)
    return out.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("redacted_md5"),
    )


_Q40_BASES = [
    "HTTP://Example.COM:80",
    "https://example.com",
    "https://News.Site.org:443",
    "http://blog.example.com:8080",
    "https://shop.example.com",
    "HTTPS://Docs.Example.com:443",
    "http://example.com",
]
_Q40_SUFFIXES = [
    "?utm_source=feed&utm_medium=rss&id=",
    "?id=",
    "?gclid=abc123&page=2&id=",
    "#section-3?notaquery=",
    "?fbclid=XYZ&ref=tw&id=",
    "?a=1&utm_campaign=x&b=2&id=",
]


def _q40_urls(spark, sf_dir):
    """Deterministic messy-url synthesis shared by q40 and q43."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.concat(
            _pick(_Q40_BASES, F.col("event_id")),
            F.lit("/Articles/"),
            (F.col("event_id") % 7).cast("string"),
            _pick(_Q40_SUFFIXES, F.col("event_id")),
            (F.col("event_id") % 13).cast("string"),
        ).alias("url"),
    )




def q42_length_percentiles(spark, sf_dir):
    """Exact linear-interpolation percentiles of document length per lang —
    native F.percentile (sort-based exact, map-side partials)."""
    d = _t(spark, sf_dir, "documents")
    pct = F.percentile(
        F.col("n_chars"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(pct[0], 4).alias("p50"),
        F.round(pct[1], 4).alias("p90"),
        F.round(pct[2], 4).alias("p99"),
    )


_Q43_BLOCKLIST = ["example.com", "news.site.org"]


def q43_host_crawl(spark, sf_dir):
    """URL canonicalization (case, default ports, fragments, tracking
    params) + per-host crawl rollup + host-blocklist filtering as a
    broadcast LEFT ANTI join (round-4 merge of q40+q43;
    operators/weburls). Host grain: the full crawl rollup left-joined with
    the post-blocklist kept counts — blocked hosts read NULL n_kept, so
    the anti-join's verdict is value-checked per host."""
    from pdf_parser_spark.operators import weburls

    urls = _q40_urls(spark, sf_dir)
    rollup = weburls.host_rollup(urls)
    c = weburls.with_canonical_url(urls)
    bl = spark.createDataFrame([(h,) for h in _Q43_BLOCKLIST], "host string")
    kept = weburls.filter_blocked_hosts(c, bl).groupBy("host").agg(
        F.count("*").alias("n_kept")
    )
    return rollup.join(kept, "host", "left").select(
        "host", "n_fetches", "n_pages", "n_kept"
    )


def q44_chunk_index(spark, sf_dir):
    """Sliding-window token chunking (50 tokens, 10 overlap — one Generate,
    zero shuffles) + the doc's contiguous global row id via the two-phase
    range scheme (round-4 merge of q44+q45; operators/chunking +
    operators/indexing). Chunk grain, each chunk annotated with its doc's
    global index — identical to row_number() OVER (ORDER BY …) without
    the single-partition window bottleneck."""
    from pdf_parser_spark.operators import chunking, indexing

    d = _t(spark, sf_dir, "documents")
    ch = chunking.chunk_documents(d, chunk_tokens=50, overlap=10).select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5(F.encode(F.col("chunk_text"), "UTF-8")).alias("chunk_md5"),
    )
    idx = indexing.with_global_index(
        d, key="n_chars", tiebreaker="doc_id", ascending=False, num_buckets=8
    ).select("doc_id", "global_idx")
    return ch.join(idx, "doc_id").select(
        "doc_id", "chunk_idx", "n_chunk_tokens", "chunk_md5", "global_idx"
    )


def q41_asof_join(spark, sf_dir):
    """As-of join: each event matched to the user's most recent signup at or
    before it — single-shuffle merge formulation, no range join
    (operators/asof.asof_join)."""
    from pdf_parser_spark.operators import asof
    from pdf_parser_spark.operators.sessions import epoch_seconds

    e = _t(spark, sf_dir, "events")
    signups = e.filter(F.col("event_type") == "signup")
    out = asof.asof_join(
        e.select("event_id", "user_id", "ts"),
        signups.select("user_id", "ts", "event_id"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_id="event_id",
        payload_cols=["ts", "event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_seconds(F.col("asof_ts")).alias("last_signup_s"),
        F.col("asof_event_id").alias("signup_event_id"),
    )


def q46_decontamination(spark, sf_dir):
    """Benchmark decontamination: fraction of each doc's distinct 5-word
    grams that appear in the eval slice (doc_id % 97 == 0) — broadcast gram
    join, corpus never shuffled by gram (operators/decontam)."""
    from pdf_parser_spark.operators import decontam

    d = _t(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    out = decontam.contamination(d, eval_docs, k=5, threshold=0.2)
    return out.withColumn("is_contaminated", F.col("is_contaminated").cast("int"))


def q47_lm_quality(spark, sf_dir):
    """Unigram-LM quality scores + CCNet head/middle/tail perplexity
    buckets per language (round-4 merge of q47+q51;
    operators/lm_quality). Doc grain: add-one smoothed self-fit model,
    mean token log-prob + perplexity, and the exact ntile bucket (the
    approximate percentile mode is the 10^12-row shape)."""
    from pdf_parser_spark.operators import lm_quality

    d = _t(spark, sf_dir, "documents")
    out = lm_quality.ppl_buckets(
        d, n_buckets=3, by=("lang",),
        keep_score_cols=("n_tokens", "avg_logprob"),
    )
    return out.select(
        "doc_id", "lang", "n_tokens", "avg_logprob", "ppl", "bucket_id",
        "bucket"
    )


def q48_mixing_weights(spark, sf_dir):
    """Temperature-scaled (alpha=0.5) domain mixing weights per (lang,
    source): token shares, normalized s^alpha weights, and the up/down
    sampling factor (operators/sampling.domain_mixing_weights)."""
    from pdf_parser_spark.operators import sampling
    from pdf_parser_spark.operators import textstats as textstats_op

    d = _t(spark, sf_dir, "documents")
    return sampling.domain_mixing_weights(
        d, ["lang", "source"], textstats_op.token_count_col(F.col("text")), alpha=0.5
    )


def q49_dup_passages(spark, sf_dir):
    """Corpus-internal duplicated-passage stats: fraction of each doc's
    distinct 8-word grams occurring in >= 2 distinct documents (the fixed-k
    form of exact-substring dedup; operators/dedupe.duplicate_passage_stats).
    hash_grams=False here so the oracle joins the same exact gram strings;
    the contract asserts separately that the xxhash64 default agrees."""
    from pdf_parser_spark.operators import dedupe

    d = _t(spark, sf_dir, "documents")
    return dedupe.duplicate_passage_stats(d, k=8, min_docs=2, hash_grams=False)


def q50_weighted_sample(spark, sf_dir):
    """Priority sampling: top-100 docs by priority = n_chars / u with u the
    deterministic md5-derived uniform — bit-exact across engines, planned
    as TakeOrderedAndProject (operators/sampling.weighted_priority_sample)."""
    from pdf_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    out = sampling.weighted_priority_sample(
        d, weight_col="n_chars", k=100, id_col="doc_id", seed=7
    )
    return out.select(
        "doc_id", "n_chars", F.round(F.col("priority"), 4).alias("priority")
    )


def q52_corpus_shuffle(spark, sf_dir):
    """Deterministic pretraining-order shuffle: contiguous 1-based positions
    in md5(seed:id) order via the order-aligned bucket ranking — no
    single-partition window (operators/indexing.deterministic_shuffle)."""
    from pdf_parser_spark.operators import indexing

    d = _t(spark, sf_dir, "documents")
    out = indexing.deterministic_shuffle(d, id_col="doc_id", seed=3, num_buckets=8)
    return out.select("doc_id", "shuffle_idx")


# -- rows-only queries (non-SQL-expressible: Python-UDF extraction / LSH) ----


def r01_pipeline_flagship(spark, sf_dir):
    """Full statement pipeline on the deterministic synthetic pages corpus."""
    _ship_package(spark)
    from pdf_parser_spark.fixtures import pages_spark
    from pdf_parser_spark.plans import pipeline

    n = 200 if "0.001" in sf_dir else 1000
    pages = pages_spark(spark, n_docs=n, partitions=8)
    txns = pipeline.transactions_pipeline(pages)
    return pipeline.flagship_summary(txns)


def r02_extraction_identity(spark, sf_dir):
    """Per-url byte-identity audit: Spark-extracted text vs the `text` column."""
    _ship_package(spark)
    from pdf_parser_spark.fixtures import pages_spark
    from pdf_parser_spark.operators import extract as extract_op

    n = 200 if "0.001" in sf_dir else 1000
    pages = pages_spark(spark, n_docs=n, partitions=8)
    extracted = extract_op.extract_documents(pages, keep_text=True)
    joined = extracted.join(pages.select("url", "text"), "url")
    return joined.select(
        "url", (F.col("extracted_text") == F.col("text")).alias("byte_identical")
    ).filter(~F.col("byte_identical"))  # MUST be empty


def r03_minhash_neardup(spark, sf_dir):
    """MinHash+LSH near-duplicate pairs over documents."""
    from pdf_parser_spark.operators import dedupe as dedupe_op

    return dedupe_op.near_duplicates_minhash(
        _t(spark, sf_dir, "documents"), threshold=0.5
    )


def r04_simhash_neardup(spark, sf_dir):
    """SimHash hamming-LSH near-duplicate pairs over documents.

    Ships the at-scale banding: 10 blocks → C(10,2)=45 AND-combination keys
    of 12-14 bits, not the 9-block single-block split whose ~7-bit keys
    hash the whole corpus into ~2^7 buckets (near-quadratic candidates at
    web scale). Recall is 1.0 either way (pigeonhole, brute-force-parity
    tested); the result set is identical."""
    from pdf_parser_spark.operators import dedupe as dedupe_op

    return dedupe_op.simhash_near_duplicates(
        _t(spark, sf_dir, "documents"), max_hamming=8, n_blocks=10
    )


def r05_lang_id(spark, sf_dir):
    """Heuristic language-ID vs the table's lang label (confusion counts)."""
    from pdf_parser_spark.operators import textstats as textstats_op

    d = _t(spark, sf_dir, "documents")
    return (
        textstats_op.with_lang_id(d)
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


def r06_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbours (scale path of q16)."""
    from pdf_parser_spark.operators import similarity as similarity_op

    e = _t(spark, sf_dir, "embeddings")
    return similarity_op.ann_topk_lsh(e, query_id=0, k=10, dim=64, n_planes=6)


def r07_winnowing(spark, sf_dir):
    """Winnowing rolling-hash fingerprints (SWA'03) over documents.

    The array column is scalarized to a CSV string for the contract: the
    driver's canonicalizer sorts result columns with pandas, which cannot
    hash array cells. pytest keeps the array-typed variant."""
    from pdf_parser_spark.operators import textstats as textstats_op

    d = _t(spark, sf_dir, "documents")
    return textstats_op.with_winnowing(d).select(
        "doc_id",
        "n_fingerprints",
        F.concat_ws(",", F.col("fingerprints").cast("array<string>")).alias(
            "fingerprints_csv"
        ),
    )


def r08_media_features(spark, sf_dir):
    """Multimodal features: binary media table (every minted format) →
    real decode → moment-profile feature vectors.

    The array<double> feature is scalarized (md5 of its CSV form) for the
    driver canonicalizer; pytest covers the array-typed values."""
    _ship_package(spark)
    from pdf_parser_spark.operators import multimodal as mm

    media = mm.media_table(spark, n_rows=96, partitions=8)
    out = mm.extract_features(media)
    return out.select(
        "media_id",
        "decoded",
        F.md5(F.concat_ws(",", F.col("feature").cast("array<string>"))).alias(
            "feature_md5"
        ),
    )


def r09_frame_sample(spark, sf_dir):
    """Video frame-sampling fan-out: metadata-driven frame count, each
    sampled frame decoded from the real video payload."""
    _ship_package(spark)
    from pdf_parser_spark.operators import multimodal as mm

    media = mm.media_table(spark, n_rows=96, partitions=8)
    return mm.sample_frames(media, every_ms=1000)


def r10_cosine_neardup_lsh(spark, sf_dir):
    """LSH-bucketed embedding near-dup (scale path of q21; recall<1 by design)."""
    from pdf_parser_spark.operators import similarity as similarity_op

    e = _t(spark, sf_dir, "embeddings")
    return similarity_op.cosine_near_duplicates_lsh(e, threshold=0.4, dim=64, n_planes=4)


def r11_ann_ivf(spark, sf_dir):
    """IVF-clustered approximate nearest neighbours (second ANN layout;
    iterative Lloyd training → rows-only)."""
    from pdf_parser_spark.operators import similarity as similarity_op

    e = _t(spark, sf_dir, "embeddings")
    return similarity_op.ann_topk_ivf(e, query_id=0, k=10, dim=64, n_centroids=8, n_probe=3)


def r12_embedding_source(spark, sf_dir):
    """A9/U2 — embedding source: batched client plumbing in deterministic
    stub mode (the real HTTP path is pytest-exercised against a localhost
    server), feeding the similarity operator. Rows-only: the pseudo-embedding
    is an rng construction DuckDB cannot reproduce."""
    _ship_package(spark)
    from pdf_parser_spark.operators import similarity as similarity_op
    from pdf_parser_spark.sources import embedding_http as emb

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    e = emb.embed_documents(d, dim=32, batch_size=128).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return similarity_op.cosine_topk(e, query_id=0, k=10)


def r13_curation_pipeline(spark, sf_dir):
    """Full corpus-curation chain: quality gate → predicted-language filter →
    exact dedup → MinHash near-dup removal → per-language summary
    (plans/curation.py; rows-only: lang-ID and MinHash are Python-UDF)."""
    _ship_package(spark)
    from pdf_parser_spark.plans import curation

    d = _t(spark, sf_dir, "documents")
    curated = curation.curate(
        d, min_quality=0.4, allowed_langs=("en", "de", "es", "fr"),
        neardup_threshold=0.8,
    )
    return curation.curation_summary(curated)


def r14_ocr_identity(spark, sf_dir):
    """A4/F5 — raster-OCR identity audit: the %PDF- fixture slice is
    rasterized to page bitmaps and read back by the builtin template-match
    OCR engine (pdf_parser_spark/raster.py — despeckle, line/glyph
    segmentation, nearest-template classify, words ordered by 'top'); the
    recognized text must equal the source text per url. Returns the
    mismatching urls — 0 rows IS the pass condition, like r02."""
    _ship_package(spark)
    from pdf_parser_spark.fixtures import pages_spark
    from pdf_parser_spark.operators import ocr_fallback

    n = 200 if "0.001" in sf_dir else 1000
    pages = pages_spark(spark, n_docs=n, partitions=8).filter(
        F.col("url").endswith(".pdf")
    )
    pdf_pages = pages.filter(F.substring(F.col("html"), 1, 5) == b"%PDF-")
    ocr = ocr_fallback.ocr_extract(pdf_pages)  # fake=False: REAL raster engine
    joined = ocr.join(pdf_pages.select("url", "text"), "url")
    return joined.select(
        "url",
        (~F.col("ocr_failed") & (F.col("ocr_text") == F.col("text"))).alias(
            "byte_identical"
        ),
    ).filter(~F.col("byte_identical"))  # MUST be empty


def r15_semdedup(spark, sf_dir):
    """SemDeDup over the embeddings table: k-means clusters (distributed
    Lloyd) then within-cluster greedy near-dup removal — iterative training
    makes it rows-only. Returns the per-cluster rollup (kept/dropped)."""
    from pdf_parser_spark.operators import similarity as similarity_op

    e = _t(spark, sf_dir, "embeddings")
    marked = similarity_op.semdedup(
        e, threshold=0.92, n_centroids=8, dim=64, iters=2
    )
    return (
        marked.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
        )
        .withColumn("n_dropped", F.col("n_vecs") - F.col("n_kept"))
        .orderBy("cluster")
    )


def q53_bloom_antijoin(spark, sf_dir):
    """q43's blocklist filter through the Bloom-pruned join: distributed
    bitmap build → broadcast numpy probe → exact anti-join over possible
    hits only (operators/bloom.bloom_pruned_join). Same semantics and the
    SAME oracle as q43 — deliberately: this is the physical-plan twin for
    blocklists too large to broadcast-hash (the 10^8-host case), the way
    q23 is the salted twin of the host rollup."""
    from pdf_parser_spark.operators import bloom, weburls

    c = weburls.with_canonical_url(_q40_urls(spark, sf_dir))
    bl = spark.createDataFrame([(h,) for h in _Q43_BLOCKLIST], "host string")
    kept = bloom.bloom_pruned_join(c, bl, on="host", how="left_anti",
                                   n_bits=1 << 12)
    return kept.groupBy("host").agg(F.count("*").alias("n_kept"))


def r16_pretrain_pipeline(spark, sf_dir):
    """Full pretraining-data pipeline: curation → duplicate-passage gate →
    decontamination vs an eval slice → CCNet perplexity gate (approximate
    cutoffs) → mixing weights → deterministic shuffle → token chunks
    (plans/pretrain.py). Returns the stage funnel (stage, n) — a stable,
    deterministic audit trail. Rows-only: lang-ID/MinHash are Python-UDF."""
    _ship_package(spark)
    from pdf_parser_spark.plans import pretrain

    d = _t(spark, sf_dir, "documents")
    out = pretrain.pretrain_corpus(
        d,
        eval_docs=d.filter(F.col("doc_id") % 97 == 0),
        min_quality=0.4,
        allowed_langs=("en", "de", "es", "fr"),
        neardup_threshold=0.8,
        seed=1,
    )
    return out["funnel"]


def q54_passage_dedup(spark, sf_dir):
    """C4-style cross-corpus passage dedup WITH reassembly: non-overlapping
    8-word passages, global first-occurrence-wins, documents rebuilt from
    their surviving passages (operators/dedupe.passage_dedup). The removal
    counterpart of q49's stats: the dedup exchange is xxhash64-narrowed and
    min(struct)-partial-aggregated, reassembly groups survivors by doc."""
    from pdf_parser_spark.operators import dedupe

    d = _t(spark, sf_dir, "documents")
    return dedupe.passage_dedup(d, k=8).orderBy("doc_id")


def _q55_pages(spark, sf_dir):
    """Deterministic synthetic web pages: own url + html with three hrefs
    (nav link, article link, tag link) drawn from the q40 messy-url bases.
    Synthesized identically in the oracle SQL so link extraction is
    value-checkable without shipping html through parquet."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.concat(
            _pick(_Q40_BASES, F.col("event_id")),
            F.lit("/Articles/"),
            (F.col("event_id") % 7).cast("string"),
        ).alias("url"),
        F.concat(
            F.lit('<html><body><nav><a href="'),
            _pick(_Q40_BASES, F.col("event_id") + 3),
            F.lit('/nav">home</a></nav><p>story text</p><a href="'),
            _pick(_Q40_BASES, F.col("event_id")),
            F.lit("/Articles/"),
            ((F.col("event_id") + 1) % 7).cast("string"),
            F.lit('">read</a><a href="'),
            _pick(_Q40_BASES, F.col("event_id") * 5 + 1),
            F.lit("/tag/"),
            (F.col("event_id") % 11).cast("string"),
            F.lit('">tag</a></body></html>'),
        ).alias("html"),
    )


def q55_linkgraph_hosts(spark, sf_dir):
    """Outlink extraction + per-host in-degree + inbound anchor-text
    profile over synthetic web pages (round-4 merge of q55+q58;
    operators/linkgraph): native regexp extraction (zero Python), one
    host-keyed exchange per aggregate, anchors capped at top_k per host
    (the round-4 WindowGroupLimit cap — the oracle expresses the same
    top-k-by-count contract)."""
    from pdf_parser_spark.operators import linkgraph

    pages = _q55_pages(spark, sf_dir)
    indeg = linkgraph.host_indegree(linkgraph.extract_outlinks(pages))
    anchors = linkgraph.host_anchor_rollup(
        linkgraph.extract_anchors(pages), top_k=64
    )
    return indeg.join(anchors, "host").orderBy("host").select(
        "host", "n_links", "n_src_pages", "n_anchors", "n_distinct_anchors",
        "anchors_csv"
    )


def r17_pagerank(spark, sf_dir):
    """Host-graph PageRank over the q55 outlink corpus: distinct
    (src_host, dst_host) edges, 10 damped power iterations with uniform
    dangling-mass redistribution (operators/linkgraph.pagerank). Iterative
    (driver loop + localCheckpoint per step) ⇒ rows-only; numpy parity is
    pytest-asserted in tests/test_linkgraph.py."""
    from pdf_parser_spark.operators import linkgraph

    links = linkgraph.extract_outlinks(_q55_pages(spark, sf_dir))
    edges = linkgraph.host_edges(links)
    ranks = linkgraph.pagerank(edges, n_iter=10)
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy(
        F.desc("rank"), "node"
    )


def q56_postings(spark, sf_dir):
    """Capped inverted-index postings over the documents corpus: per term,
    document frequency + the top-3 documents by term frequency
    (operators/indexing.postings — one full-corpus (term, doc) aggregate,
    WindowGroupLimit-pruned per-term top-k)."""
    from pdf_parser_spark.operators import indexing

    d = _t(spark, sf_dir, "documents")
    return indexing.postings(d, top_k=3).orderBy("term", "rank")


def q57_bigram_pmi(spark, sf_dir):
    """Top-20 adjacent-word collocations by pointwise mutual information
    (operators/textstats.bigram_pmi): row-local bigram Generate, map-side
    partial counts, |vocab|-sized unigram decorations, TakeOrdered top-k."""
    from pdf_parser_spark.operators import textstats as textstats_op

    d = _t(spark, sf_dir, "documents")
    return textstats_op.bigram_pmi(d, top_k=20, min_count=5)


def q61_neardup_components(spark, sf_dir):
    """Weakly connected components over a deterministic doc-pair graph —
    the transitive near-dup clustering step, now oracle-checked (round-4:
    the large-star/small-star rewrite of
    operators/linkgraph.connected_components vs a DuckDB recursive-CTE
    closure). Pairs chain doc_id → doc_id+1 inside 20-id blocks, so
    components are short chains with min-id canonical labels."""
    from pdf_parser_spark.operators import linkgraph

    d = _t(spark, sf_dir, "documents")
    pairs = (
        d.select(F.col("doc_id").alias("a_id"))
        .filter(F.col("a_id") % 20 < 7)
        .select("a_id", (F.col("a_id") + 1).alias("b_id"))
    )
    return linkgraph.connected_components(
        pairs, src="a_id", dst="b_id", strict=True
    ).select("node", "component")


def q62_bigram_logprob(spark, sf_dir):
    """Bigram-LM quality scores — the word-ORDER-aware step up from q47's
    unigram gate (operators/lm_quality.bigram_scores): self-fit add-one
    conditional model, mean adjacent-pair log-prob + perplexity per doc.
    Row-local bigram Generate; the (a, b) model aggregate has map-side
    partials; scoring is one equi-join on the pair key."""
    from pdf_parser_spark.operators import lm_quality

    d = _t(spark, sf_dir, "documents")
    return lm_quality.bigram_scores(d)


def q59_page_metadata(spark, sf_dir):
    """Per-url page metadata (title / meta description / canonical link) —
    the CC-index-style derivative — extracted with native regexps over
    deterministically synthesized head sections; absent tags exercise the
    empty-string default (operators/weburls.with_page_metadata)."""
    from pdf_parser_spark.operators import weburls

    e = _t(spark, sf_dir, "events")
    pages = e.select(
        "event_id",
        F.concat(
            F.lit("<html><head><title>Article "),
            (F.col("event_id") % 7).cast("string"),
            F.lit("</title>"),
            F.when(
                F.col("event_id") % 3 != 0,
                F.concat(
                    F.lit('<meta name="description" content="summary '),
                    (F.col("event_id") % 5).cast("string"),
                    F.lit('">'),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("event_id") % 4 != 1,
                F.concat(
                    F.lit('<link rel="canonical" href="'),
                    _pick(_Q40_BASES, F.col("event_id")),
                    F.lit("/Articles/"),
                    (F.col("event_id") % 7).cast("string"),
                    F.lit('">'),
                ),
            ).otherwise(F.lit("")),
            F.lit("</head><body><p>text</p></body></html>"),
        ).alias("html"),
    )
    return weburls.with_page_metadata(pages).select(
        "event_id", "title", "meta_description", "canonical_url"
    ).orderBy("event_id")


_Q60_RULE_HOSTS = [
    "example.com", "news.site.org", "blog.example.com",
    "shop.example.com", "docs.example.com",
]
_Q60_RULE_PREFIXES = ["/Articles/", "/Articles/1", "/tag/", "/"]


def q60_robots_rules(spark, sf_dir):
    """RFC 9309 robots evaluation as a relational argmax: per distinct
    crawl url, the longest matching (host, prefix) rule decides allowed,
    ties toward allow, no rule ⇒ allowed
    (operators/weburls.robots_decisions — broadcast rules, residual
    prefix predicate on the host equi-join, max_by winner)."""
    from pdf_parser_spark.operators import weburls

    e = _t(spark, sf_dir, "events")
    urls = e.select(
        F.concat(
            _pick(_Q40_BASES, F.col("event_id")),
            F.lit("/Articles/"),
            (F.col("event_id") % 13).cast("string"),
        ).alias("url")
    ).distinct()
    n = _t(spark, sf_dir, "nation")
    rules = n.select(
        _pick(_Q60_RULE_HOSTS, F.col("n_nationkey")).alias("host"),
        _pick(_Q60_RULE_PREFIXES, F.col("n_nationkey")).alias("prefix"),
        (F.col("n_nationkey") % 2 == 0).alias("allow"),
    )
    return weburls.robots_decisions(urls, rules).orderBy("url")


def r18_warc_roundtrip(spark, sf_dir):
    """WARC source audit (sources/warc): synthesize pages, pack them into
    per-record-gzipped WARC archives EXECUTOR-side (one applyInPandas group
    per archive — the write→read round-trip never touches the driver),
    parse them back with the from-scratch ISO 28500 reader (gzip members →
    record split → HTTP response unwrap), and emit any (archive, url) whose
    html bytes fail byte-identity. 0 rows = pass, r02-style."""
    _ship_package(spark)
    import pandas as pd

    from pdf_parser_spark.fixtures import pages_spark

    n = 200 if "0.001" in sf_dir else 1000
    pages = pages_spark(spark, n_docs=n, partitions=8).select(
        "url", "warc_ts", "html",
        F.pmod(F.xxhash64("url"), F.lit(8)).alias("_arc"),
    )

    def roundtrip(key, pdf):
        from pdf_parser_spark.sources import warc as warc_src

        pdf = pdf.sort_values("url")
        rows = [
            (u, t, bytes(h))
            for u, t, h in zip(pdf["url"], pdf["warc_ts"], pdf["html"])
        ]
        blob = warc_src.write_warc(rows)
        got = {r["url"]: r["html"] for r in warc_src.warc_to_page_rows(blob)}
        bad = [
            {"archive": int(key[0]), "url": u}
            for u, _, h in rows
            if got.get(u) != h
        ]
        if len(got) != len(rows):
            bad.append({"archive": int(key[0]), "url": "__count_mismatch__"})
        return pd.DataFrame(bad, columns=["archive", "url"])

    return pages.groupBy("_arc").applyInPandas(
        roundtrip, schema="archive int, url string"
    )


def r19_snapshot_log(spark, sf_dir):
    """Iceberg-style snapshot-log audit (plans/snapshots.SnapshotTable):
    append the documents table bucketed by doc-id hash, overwrite one
    bucket, roll back, and return the resulting snapshot history (version,
    operation, n_files, n_rows). Exercises atomic exclusive publish,
    manifest-based reads, and single-partition data files; rows-only
    (filesystem side effects), full semantics pytest-covered in
    tests/test_snapshots.py."""
    import tempfile

    from pdf_parser_spark.plans.snapshots import SnapshotTable
    from pdf_parser_spark.sources.pages import bucket_of

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", bucket_of("doc_id", 8).alias("bucket"),
    )
    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="snaplog-"), stats_cols=("n_chars",)
    )
    t.append(d)
    t.overwrite_partitions(d.filter(F.col("bucket") == 3))
    t.rollback(1)
    # sanity INSIDE the query: rollback must reproduce v1 exactly
    assert t.read().count() == t.read(version=1).count()
    return t.snapshots().select(
        "version", "operation", "n_files", "n_rows"
    ).orderBy("version")


def r21_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training over the documents corpus
    (operators/bpe_train.learn_bpe): ONE corpus aggregate to the word-
    frequency table, then every merge round is a |vocab|-table pair count
    + a 1-row TakeOrdered + a native fold — the corpus is read once.
    Iterative driver loop ⇒ rows-only; parity with a pure-Python
    reference BPE is asserted in tests/test_bpe_train.py. Returns the
    learned merge table in order."""
    from pdf_parser_spark.operators import bpe_train

    d = _t(spark, sf_dir, "documents")
    merges = bpe_train.learn_bpe(d, n_merges=12, min_count=5)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "merge_idx int, a string, b string, merged string",
    )


def r20_span_invariants(spark, sf_dir):
    """Span-audit of the extraction output: the Python engines PRODUCE
    (text, spans); a fully NATIVE expression audits them — per doc, every
    span's width matches its offsets, spans tile the text exactly (start 0,
    consecutive, joined by one '\\n', last end == length), and substring
    reconstruction over the span offsets rebuilds the extracted text
    byte-for-byte. Emits violating urls; 0 rows = pass.

    Scope: the HTML path — char-offset spans are html_extract's contract.
    PDF-path spans are GEOMETRIC layout records (page/column/y-range,
    pdf_layout.extract_layout_text), deliberately a different shape, and
    are audited in their own terms by tests/test_pdf_layout.py."""
    _ship_package(spark)
    from pdf_parser_spark.fixtures import pages_spark
    from pdf_parser_spark.operators import extract as extract_op

    n = 200 if "0.001" in sf_dir else 1000
    docs = extract_op.extract_documents(
        pages_spark(spark, n_docs=n, partitions=8), keep_text=True
    ).filter(F.col("payload_kind") == "html")
    ok = F.expr(
        """
        forall(spans, s -> s.end - s.start = s.n_chars)
        AND (size(spans) = 0 OR element_at(spans, 1).start = 0)
        AND (size(spans) = 0
             OR element_at(spans, -1).end = length(extracted_text))
        AND (size(spans) < 2 OR forall(
              zip_with(slice(spans, 1, size(spans) - 1),
                       slice(spans, 2, size(spans) - 1),
                       (a, b) -> b.start = a.end + 1),
              x -> x))
        AND concat_ws('\n', transform(
              spans,
              s -> substring(extracted_text, s.start + 1, s.n_chars)))
            = extracted_text
        """
    )
    return docs.select("url", ok.alias("spans_ok")).filter(~F.col("spans_ok"))


def r22_quality_classifier(spark, sf_dir):
    """Trained quality filter (operators/quality_train): logistic
    regression over hashed bag-of-words by pure relational algebra —
    margins via broadcast-joined weights + doc-keyed sum, gradients via
    feat-keyed sum, driver holds only the sparse weight vector. Weak
    labels: text mentions 'vector' (a text-derived, linearly-learnable
    stand-in for 'looks like the curated corpus' — the fixture corpus's
    lang/source columns are independent of the text, so they would be
    honest-but-unlearnable labels). Iterative driver loop ⇒ rows-only;
    numpy-twin parity (1e-9) asserted in tests/test_quality_train.py.
    Returns per-class probability summaries."""
    from pdf_parser_spark.operators import quality_train as qt

    d = _t(spark, sf_dir, "documents").limit(2000)
    feats = qt.hashed_features(d, n_features=1 << 14, binary=True)
    labels = d.select(
        "doc_id", F.col("text").contains("vector").cast("double").alias("label")
    )
    w = qt.train_quality_classifier(feats, labels, iters=20, lr=2.0)
    scored = qt.score_documents(feats, w)
    return (
        scored.join(labels, "doc_id")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("prob"), 4).alias("avg_prob"),
            F.sum((F.col("prob") > 0.5).cast("long")).alias("n_above_half"),
        )
        .orderBy("label")
    )


def r23_dsir_resample(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023; operators/
    quality_train): hashed-unigram target/raw models (broadcast tables),
    per-token log-likelihood-ratio weights, deterministic priority
    sampling. Target = English documents, raw = the full corpus; the raw
    corpus is never shuffled wider than doc_id. Rows-only (xxhash64
    feature hashing is not DuckDB-reproducible); model math + bias +
    determinism asserted in tests/test_quality_train.py."""
    from pdf_parser_spark.operators import quality_train as qt

    d = _t(spark, sf_dir, "documents")
    target = d.filter(F.col("lang") == "en")
    kept = qt.dsir_resample(d, target, k=200, n_features=1 << 14, seed=41)
    return kept.select("doc_id", "n_tokens", F.round("log_ratio", 4).alias("log_ratio"))


def r24_sequence_packing(spark, sf_dir):
    """GPT-style concat-and-cut sequence packing
    (operators/chunking.pack_sequences): documents → token chunks →
    deterministic corpus shuffle (indexing.deterministic_shuffle, no
    SinglePartition window) → fixed-length packs via the order-aligned
    bucket prefix sum (exact long arithmetic). Every pack but the last
    carries exactly seq_len tokens; the mapping is a pure function of
    (ids, lengths, order) — python-twin parity + tiling + partition
    invariance in tests/test_chunking_indexing.py. Returns a stable
    per-pack summary of the first 50 packs."""
    from pdf_parser_spark.operators import chunking, indexing

    d = _t(spark, sf_dir, "documents").limit(1000)
    chunks = chunking.chunk_documents(d, chunk_tokens=40, overlap=0)
    chunks = chunks.withColumn(
        "chunk_uid",
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).cast("long"),
    )
    shuffled = indexing.deterministic_shuffle(chunks, "chunk_uid", seed=17, num_buckets=8)
    packed = chunking.pack_sequences(
        shuffled, seq_len=256, order_col="shuffle_idx", id_col="chunk_uid",
        num_buckets=8,
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_slices"),
            F.sum("slice_len").alias("n_tokens"),
            F.min("offset_in_pack").alias("first_offset"),
        )
        .orderBy("pack_id")
        .limit(50)
    )


def r25_image_phash_neardup(spark, sf_dir):
    """Image near-duplicate pairs by DCT perceptual hash
    (operators/multimodal.image_near_duplicates): real PNG/JPEG decode →
    grayscale → 32×32 resample → 2-D DCT-II → 63-bit median-threshold
    hash (DC dropped ⇒ brightness-shift invariant), then Hamming
    candidates through the SAME AND-of-block-combinations pigeonhole
    banding SimHash uses (recall 1.0, never all-pairs) and an exact
    popcount filter. Brute-force parity + planted-twin recovery in
    tests/test_multimodal_signals.py. Emits each image's hash plus its
    within-threshold partner count."""
    _ship_package(spark)
    from pdf_parser_spark.operators import multimodal as mm

    media = mm.media_table(spark, n_rows=96, partitions=8)
    sig = mm.image_phash(media)
    pairs = mm.image_near_duplicates(media, max_hamming=16)
    partners = (
        pairs.select(F.col("a_id").alias("media_id"))
        .unionAll(pairs.select(F.col("b_id").alias("media_id")))
        .groupBy("media_id")
        .agg(F.count("*").alias("n_neardups"))
    )
    return (
        sig.join(partners, "media_id", "left")
        .select(
            "media_id",
            "phash",
            F.coalesce("n_neardups", F.lit(0)).alias("n_neardups"),
        )
        .orderBy("media_id")
    )


def r26_audio_spectrogram(spark, sf_dir):
    """Framed-FFT audio features (operators/multimodal.
    audio_spectrogram_features): real 16-bit PCM WAV decode → Hann-windowed
    512-sample frames every 256 → rfft power spectrum → 16 log band
    energies, mean+std over frames (dim 32), plus the peak frequency of the
    frame-averaged spectrum. Pure-tone peak recovery and a loop-form numpy
    twin (1e-8) in tests/test_multimodal_signals.py. Arrays are scalarized
    (md5 of CSV) for the driver canonicalizer."""
    _ship_package(spark)
    from pdf_parser_spark.operators import multimodal as mm

    media = mm.media_table(spark, n_rows=96, partitions=8)
    out = mm.audio_spectrogram_features(media)
    return out.select(
        "media_id",
        "n_frames",
        F.round("peak_hz", 3).alias("peak_hz"),
        "decoded",
        F.md5(F.concat_ws(",", F.col("feature").cast("array<string>"))).alias(
            "feature_md5"
        ),
    )


def r27_span_dedup(spark, sf_dir):
    """ExactSubstr-style span dedup (operators/dedupe.span_dedup): every
    duplicated sliding 8-word span keeps its global first (doc, position)
    occurrence; later occurrences are cut at word resolution (overlapping
    windows merged into maximal spans row-locally via F.aggregate). The
    position-resolved counterpart of q54's tiled passage dedup — Lee et
    al. 2022's suffix-array formulation reduced to anchor grams. Parity
    vs a single-process reference in tests/test_span_dedup.py."""
    from pdf_parser_spark.operators import dedupe

    d = _t(spark, sf_dir, "documents")
    return dedupe.span_dedup(d, k=8).orderBy("doc_id")


def r28_incremental_neardup(spark, sf_dir):
    """Incremental near-dup against a persisted MinHash index
    (plans/incremental_dedup.IncrementalNearDup): batch 1 indexes the
    even-id half of `documents`; batch 2 mixes re-keyed copies of batch-1
    texts (must be flagged vs the INDEX, never re-signing it) with the
    odd-id half (mostly novel). The index side is a columnar scan probed
    by a broadcast of the batch — no index shuffle; signatures verify via
    the native zip_with MinHash estimator. Exactly-once per batch id;
    crash-between-commits convergence in tests/test_incremental_dedup.py."""
    import shutil
    import tempfile

    from pdf_parser_spark.plans.incremental_dedup import IncrementalNearDup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="incr-neardup-")
    try:
        idx = IncrementalNearDup(spark, root, threshold=0.7)
        idx.dedup_batch(d.filter(F.col("doc_id") % 2 == 0), batch_id=1)
        copies = (
            d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 10 == 0))
            .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
        batch2 = d.filter(F.col("doc_id") % 2 == 1).unionByName(copies)
        out = idx.dedup_batch(batch2, batch_id=2)
        return (
            out.groupBy("is_dup")
            .agg(
                F.count("*").alias("n_docs"),
                F.count("matched_id").alias("n_matched"),
            )
            .orderBy("is_dup")
            .localCheckpoint()  # sever lineage from the temp index files
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def r29_per_host_cap(spark, sf_dir):
    """RefinedWeb-style per-domain cap (operators/sampling.per_group_cap):
    keep at most 5 documents per source, best quality first (ties to the
    smaller doc_id). The rank<=k filter compiles to WindowGroupLimit, so
    each map partition prunes to its local top-5 per source BEFORE the
    one host-keyed exchange — the mega-host skew the cap exists to solve
    never reaches the shuffle (plan-asserted in tests)."""
    from pdf_parser_spark.operators import textstats as textstats_op
    from pdf_parser_spark.operators.sampling import per_group_cap

    d = textstats_op.with_text_stats(
        _t(spark, sf_dir, "documents")
    ).withColumn("quality", textstats_op.quality_score_col())
    capped = per_group_cap(d, "source", 5, "quality", "doc_id")
    return (
        capped.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.min("quality"), 4).alias("min_kept_quality"),
        )
        .orderBy("source")
    )


def r30_zorder_layout(spark, sf_dir):
    """Z-order file clustering (operators/layout): bucket `events` along
    the Morton interleave of (amount_cents, event_ts rank space), write
    one snapshot-table file per curve range, then PROVE the layout by
    scan-planning a narrow predicate on EACH column — both prune most
    files, which a single-column sort cannot do. Emits per-bucket row
    counts plus the two pruned file counts as audit columns."""
    import shutil
    import tempfile

    from pdf_parser_spark.operators.layout import zorder_bucket_col
    from pdf_parser_spark.plans.snapshots import SnapshotTable

    e = (
        _t(spark, sf_dir, "events")
        # a deterministic 10% slice — the layout proof doesn't need the
        # whole table, just enough rows for 16 real files
        .filter(F.col("event_id") % 10 == 0)
        .select(
            F.col("value").cast("double").alias("amount"),
            F.col("ts").cast("timestamp").cast("long").cast("double").alias("ts"),
            "event_id",
        )
    )
    root = tempfile.mkdtemp(prefix="zorder-")
    try:
        t = SnapshotTable(
            spark, root, partition_col="bucket", stats_cols=("amount", "ts")
        )
        t.append(
            e.withColumn(
                "bucket", zorder_bucket_col(e, ["amount", "ts"], num_buckets=16)
            )
        )
        lo_a, hi_a = e.stat.approxQuantile("amount", [0.4, 0.5], 0.001)
        lo_t, hi_t = e.stat.approxQuantile("ts", [0.4, 0.5], 0.001)
        n_total = len(t.plan_entries())
        n_amount = len(t.plan_entries(min_max={"amount": (lo_a, hi_a)}))
        n_ts = len(t.plan_entries(min_max={"ts": (lo_t, hi_t)}))
        per_bucket = (
            t.read()
            .groupBy("bucket")
            .agg(F.count("*").alias("n_rows"))
            .withColumn("files_total", F.lit(n_total))
            .withColumn("files_amount_slice", F.lit(n_amount))
            .withColumn("files_ts_slice", F.lit(n_ts))
            .orderBy("bucket")
            .localCheckpoint()  # sever lineage from the temp files
        )
        return per_bucket
    finally:
        shutil.rmtree(root, ignore_errors=True)


def r31_snapshot_changes(spark, sf_dir):
    """Incremental CDC reads on the snapshot log (plans/snapshots.
    SnapshotTable.changes): three commits over `documents` (two appends,
    one MERGE rewriting a slice), then each delta read back by version
    range — append deltas are exact, the merge delta is the rewritten
    partitions' upsert image, and the scan touches only the changed
    files (manifest-diff on the driver). Returns per-version delta
    row counts plus the upsert image size."""
    import shutil
    import tempfile

    from pdf_parser_spark.plans.snapshots import SnapshotTable
    from pdf_parser_spark.sources.pages import bucket_of

    d = _t(spark, sf_dir, "documents").withColumn("bucket", bucket_of("doc_id", 8))
    root = tempfile.mkdtemp(prefix="cdc-")
    try:
        t = SnapshotTable(spark, root, stats_cols=("doc_id",))
        v1 = t.append(d.filter(F.col("doc_id") % 2 == 0))
        v2 = t.append(d.filter(F.col("doc_id") % 2 == 1))
        v3 = t.merge_rows(
            d.filter(F.col("doc_id") % 100 == 0).withColumn(
                "text", F.concat(F.col("text"), F.lit(" [edited]"))
            ),
            key_cols=("doc_id",),
        )
        rows = [
            ("append_1", v1, t.changes(0, v1).count()),
            ("append_2", v2, t.changes(v1, v2).count()),
            ("merge_upsert_image", v3, t.changes(v2, v3).count()),
            ("edited_rows_in_image", v3,
             t.changes(v2, v3).filter(F.col("text").endswith("[edited]")).count()),
        ]
        return spark.createDataFrame(
            rows, "step string, version int, n_rows long"
        ).localCheckpoint()  # sever lineage from the temp table files
    finally:
        shutil.rmtree(root, ignore_errors=True)


def r32_ann_pq(spark, sf_dir):
    """Product-quantization ANN (third ANN layout, Jégou et al. 2011;
    operators/similarity.pq_train/pq_encode/ann_topk_pq): per-subspace
    codebooks trained by the same distributed Lloyd shape as IVF, the
    corpus encoded to m ints per vector (a 32-64x scan-width cut), the
    query answered by an asymmetric-distance lookup scan over the CODES
    table plus an exact-cosine re-rank of rerank*k candidates (precision
    1.0 over the candidate set; recall vs brute force asserted in
    tests/test_trainingdata_ops.py). Rows-only: iterative training."""
    from pdf_parser_spark.operators import similarity as similarity_op

    e = _t(spark, sf_dir, "embeddings")
    return similarity_op.ann_topk_pq(
        e, query_id=0, k=10, m=8, n_codes=16, dim=64, iters=2
    )


def r33_sketches(spark, sf_dir):
    """Mergeable sketch columns (operators/sketches): per-language
    HyperLogLog distinct-token estimates vs the exact count (sparse
    map<int,int> registers, per-key-max merge — build over two document
    halves, merge, estimate), a KMV bottom-k corpus-overlap estimate
    between the even/odd doc_id halves' token sets (Jaccard + distinct
    from two KB-sized arrays, no join), and count-min probes for three
    known tokens (one-sided error asserted in tests/test_sketches.py).
    Rows-only: estimates are approximate by design; exactness of the
    MERGE (sketch(A) ⊕ sketch(B) == sketch(A∪B)) is pytest-asserted."""
    from pdf_parser_spark.operators import sketches as sk

    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            "lang",
            (F.col("doc_id") % 2 == 0).cast("int").alias("half"),
            F.explode(F.split(F.lower(F.col("text")), r"[^a-z0-9]+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        # five consumers (two sketch builds + CMS + two exact references)
        # would each re-run the explode; materialize the token stream once
        .localCheckpoint()
    )

    # HLL: build per (lang, half), merge halves → one sketch per lang
    p = 12
    halves = sk.hll_build(toks, ["lang", "half"], "tok", p=p)
    merged = sk.hll_merge(halves.drop("half"), ["lang"])
    exact = toks.groupBy("lang").agg(F.countDistinct("tok").alias("exact_distinct"))
    hll_rows = (
        merged.select(
            "lang",
            F.round(sk.hll_estimate_expr(F.col("hll"), p), 1).alias("estimate"),
        )
        .join(exact, "lang")
        .select(
            F.concat(F.lit("hll_"), F.col("lang")).alias("probe"),
            F.col("estimate"),
            F.col("exact_distinct").cast("double").alias("reference"),
        )
    )

    # KMV: token-set overlap between the two halves, no join
    k = 256
    kv = sk.kmv_build(toks.withColumn("g", F.lit("all")), ["g", "half"], "tok", k=k)
    a = kv.filter(F.col("half") == 0).select(F.col("kmv").alias("ka"))
    b = kv.filter(F.col("half") == 1).select(F.col("kmv").alias("kb"))
    kmv_rows = a.crossJoin(b).select(
        F.lit("kmv_token_jaccard").alias("probe"),
        F.round(sk.kmv_jaccard_expr(F.col("ka"), F.col("kb"), k), 4).alias("estimate"),
        F.round(
            sk.kmv_distinct_expr(sk.kmv_merge_expr(F.col("ka"), F.col("kb"), k), k), 1
        ).alias("reference"),  # union-distinct estimate alongside
    )

    # CMS: probe three common tokens against per-corpus counters
    width, depth = 1024, 4
    cms = sk.cms_build(
        toks.withColumn("g", F.lit("all")), ["g"], "tok", width=width, depth=depth
    ).localCheckpoint()
    probes = spark.createDataFrame([("the",), ("of",), ("data",)], "tok string")
    truth = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    cms_rows = (
        probes.crossJoin(F.broadcast(cms.drop("g")))
        .select(
            F.concat(F.lit("cms_"), F.col("tok")).alias("probe"),
            sk.cms_count_expr(F.col("cms"), F.col("tok"), width, depth)
            .cast("double")
            .alias("estimate"),
            F.col("tok"),
        )
        .join(truth, "tok", "left")
        .select("probe", "estimate", F.coalesce(F.col("n"), F.lit(0)).cast("double").alias("reference"))
    )

    # DDSketch histogram: doc-length quantiles vs the exact percentile
    docs = _t(spark, sf_dir, "documents").withColumn("g", F.lit("all"))
    alpha = 0.01
    hist = sk.hist_build(docs, ["g"], "n_chars", alpha=alpha)
    p50x, p99x = docs.stat.approxQuantile("n_chars", [0.5, 0.99], 0.0)
    hist_rows = hist.select(
        F.round(sk.hist_quantile_expr(F.col("hist"), 0.5, alpha), 1).alias("e50"),
        F.round(sk.hist_quantile_expr(F.col("hist"), 0.99, alpha), 1).alias("e99"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("hist_len_p50").alias("probe"),
                    F.col("e50").alias("estimate"),
                    F.lit(float(p50x)).alias("reference"),
                ),
                F.struct(
                    F.lit("hist_len_p99").alias("probe"),
                    F.col("e99").alias("estimate"),
                    F.lit(float(p99x)).alias("reference"),
                ),
            )
        ).alias("s")
    ).select("s.*")

    return (
        hll_rows.unionByName(kmv_rows)
        .unionByName(cms_rows)
        .unionByName(hist_rows)
        .orderBy("probe")
    )


def r34_shard_export(spark, sf_dir):
    """Deterministic resumable training-shard sink (sources/shards):
    documents planned into fixed-row shards by global rank (order-aligned
    bucketing, no SinglePartition window), written one file per shard
    with a Spark-table manifest (n_rows, token sum, decimal checksum),
    then a simulated crash (one shard's data deleted, manifest dropped)
    and a resume run — the audit returns per-shard manifest rows joined
    with the recomputed-from-disk verification, every row ok=true.
    Rows-only: filesystem side effects; crash windows are pytest-covered
    (tests/test_shards.py)."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import shards as sh

    # a deterministic slice keeps the audit at ~8 shards at every sf —
    # the semantics (geometry, crash, resume, verify) are scale-free
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "n_chars")
        .filter(F.col("doc_id") < 1024)
    )
    root = tempfile.mkdtemp(prefix="shards-")
    try:
        sh.export_shards(d, root, "doc_id", "doc_id", rows_per_shard=128,
                         token_col="n_chars")
        # crash: lose one shard's data and the whole manifest, then resume
        shutil.rmtree(f"{root}/data/shard_id=0")
        shutil.rmtree(f"{root}/_shard_manifest")
        summary = sh.export_shards(d, root, "doc_id", "doc_id",
                                   rows_per_shard=128, token_col="n_chars")
        out = (
            sh.verify_shards(spark, root, token_col="n_chars")
            .select(
                "shard_id",
                "n_rows",
                F.col("checksum").cast("string").alias("checksum"),
                "ok",
            )
            .withColumn("resumed_shards", F.lit(summary["shards_written"]))
            .orderBy("shard_id")
            .localCheckpoint()  # sever lineage from the temp files
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def r35_corpus_rollup(spark, sf_dir):
    """Incremental sketch-rollup reporting (plans/corpus_report): the
    documents table ingested as two batches (even/odd doc_id) into a
    SnapshotTable of per-(lang, batch) rows — exact counters + HLL/KMV/
    DDSketch columns — then the merged report read back, plus a
    KMV-powered token-overlap row between two rollups, with NO re-read
    of raw batch rows. Merged == one-shot equality is pytest-asserted
    (tests/test_corpus_report.py). Rows-only: filesystem side effects."""
    import shutil
    import tempfile

    from pdf_parser_spark.plans.corpus_report import CorpusRollup

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    root = tempfile.mkdtemp(prefix="rollup-")
    try:
        roll = CorpusRollup(spark, f"{root}/main")
        roll.ingest(d.filter(F.col("doc_id") % 2 == 0), batch_id=1)
        roll.ingest(d.filter(F.col("doc_id") % 2 != 0), batch_id=2)
        other = CorpusRollup(spark, f"{root}/other")
        other.ingest(d.filter(F.col("doc_id") % 3 == 0), batch_id=1)
        rep = roll.report()
        metrics = [c for c in rep.columns if c != "lang"]
        long_rep = rep.select(
            F.lit("report").alias("kind"),
            "lang",
            F.explode(
                F.map_from_arrays(
                    F.array(*[F.lit(m) for m in metrics]),
                    F.array(*[F.col(m).cast("double") for m in metrics]),
                )
            ).alias("metric", "value"),
        )
        long_ov = roll.overlap(other).select(
            F.lit("overlap").alias("kind"),
            "lang",
            F.explode(
                F.map_from_arrays(
                    F.array(F.lit("jaccard_est"), F.lit("shared_distinct_est")),
                    F.array(F.col("jaccard_est"), F.col("shared_distinct_est")),
                )
            ).alias("metric", "value"),
        )
        return (
            long_rep.unionByName(long_ov)
            .orderBy("kind", "lang", "metric")
            .localCheckpoint()  # sever lineage from the temp tables
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def r36_gopher_gate(spark, sf_dir):
    """Gopher document-shape quality rules (Rae et al. 2021 §A1.1;
    operators/textstats.gopher_rules): the published heuristic gate as
    zero-exchange native array expressions — per-rule pass counts over
    the documents table plus the conjunction. Rows-only: exact parity
    with a row-local Python reference is pytest-asserted
    (tests/test_gopher_rules.py), incl. the no-Exchange plan contract."""
    from pdf_parser_spark.operators.textstats import gopher_rules

    d = _t(spark, sf_dir, "documents")
    rules = gopher_rules(d, min_words=20)
    rule_cols = [c for c in rules.columns if c != "doc_id"]
    return rules.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in rule_cols]),
                F.array(*[F.col(c).cast("int") for c in rule_cols]),
            )
        ).alias("rule", "passed")
    ).groupBy("rule").agg(
        F.sum("passed").alias("n_pass"),
        F.count(F.lit(1)).alias("n_docs"),
    ).orderBy("rule")


def r37_bm25(spark, sf_dir):
    """BM25 lexical retrieval (operators/indexing.bm25_search — Robertson
    & Zaragoza 2009, Lucene idf variant): top-10 documents for a fixed
    bag-of-words query. The token stream is filtered to the query terms
    BEFORE any exchange (the vocabulary never shuffles), doc lengths are
    computed only for candidates, and the top-k is a
    TakeOrderedAndProject. Rows-only: float scoring; exact parity with a
    plain-Python BM25 is pytest-asserted (tests/test_chunking_indexing)."""
    from pdf_parser_spark.operators.indexing import bm25_search

    d = _t(spark, sf_dir, "documents")
    return bm25_search(d, ["data", "spark", "query"], k=10)


def r38_html_tables(spark, sf_dir):
    """HTML table extraction (html_tables.with_tables): deterministic
    synthetic pages carrying a header row + two data rows (one sloppy,
    no closing tags — the implicit-close path) are reduced to relational
    (url, table, row, col, cell) rows in ONE mapInPandas stage, then
    rolled up per column. Rows-only: Python-UDF extraction; scalar
    semantics (nesting, spans, entities, implicit closes) are
    pytest-asserted (tests/test_html_tables.py)."""
    from pdf_parser_spark.html_tables import with_tables

    e = _t(spark, sf_dir, "events").limit(2000)
    pages = e.select(
        F.concat(F.lit("https://t.example/"), F.col("event_id")).alias("url"),
        F.concat(
            F.lit("<html><body><table><tr><th>user</th><th>type</th><th>value</th></tr>"),
            F.lit("<tr><td>u"), F.col("user_id"), F.lit("<td>"), F.col("event_type"),
            F.lit("<td>"), F.round(F.col("value"), 2),
            F.lit("<tr><td>u"), F.col("user_id"), F.lit("</td><td>dup</td><td>0</td></tr>"),
            F.lit("</table></body></html>"),
        ).cast("binary").alias("html"),
    )
    cells = with_tables(pages)
    return (
        cells.groupBy("col_idx", "is_header")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.countDistinct("cell_text").alias("n_distinct"),
        )
        .orderBy("col_idx", "is_header")
    )


def r39_charset_decode(spark, sf_dir):
    """Charset-sniffed decoding (charset.with_decoded_text — WHATWG-shaped
    cascade: BOM → declared meta/XML charset → UTF-8 → latin-1): pages
    synthesized in four encodings (plain UTF-8, UTF-8 BOM, declared
    cp1252, bare latin-1 bytes) decode in ONE mapInPandas stage; the
    audit returns counts + a content probe per decode source. Rows-only:
    Python-UDF decode; cascade semantics pytest-asserted
    (tests/test_charset.py)."""
    from pdf_parser_spark.charset import with_decoded_text

    e = _t(spark, sf_dir, "events").limit(1000)
    enc = (F.col("event_id") % 4).cast("int")
    body = F.concat(F.lit("page café body "), F.col("event_id").cast("string"))
    utf8 = F.encode(body, "UTF-8")
    pages = e.select(
        F.concat(F.lit("https://c.example/"), F.col("event_id")).alias("url"),
        F.when(enc == 0, utf8)
        .when(enc == 1, F.concat(F.lit(b"\xef\xbb\xbf"), utf8))
        .when(
            enc == 2,
            F.concat(
                F.encode(F.lit("<meta charset='iso-8859-1'>"), "UTF-8"),
                F.encode(body, "ISO-8859-1"),
            ),
        )
        .otherwise(F.encode(body, "ISO-8859-1"))  # undeclared legacy bytes
        .alias("html"),
    )
    out = with_decoded_text(pages)
    return (
        out.groupBy("source", "encoding")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.col("text").contains("café").cast("long")).alias("n_cafe"),
        )
        .orderBy("source", "encoding")
    )


def r40_mirror_hosts(spark, sf_dir):
    """Mirror-site detection (operators/mirrors.mirror_hosts): documents
    assigned to hosts by their source column, plus a planted 90% mirror
    of one host under a second name — candidate pairs come from shared
    bottom-m sketch minima (banded equi-join, never all-pairs; buckets
    wider than the guard are dropped), Jaccard estimated from the two
    KB-sized host sketches. Rows-only: estimate thresholds; planted-
    mirror recall, band sub-quadraticity, and the wide-bucket guard are
    pytest-asserted (tests/test_mirrors.py)."""
    from pdf_parser_spark.operators.mirrors import mirror_hosts

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.col("source"), F.lit(".example")).alias("host"), "text", "doc_id"
    )
    # sources are assigned round-robin (src0 gets doc_ids ≡ 0 mod 20), so
    # drop 1-in-5 of src0's pages via mod 100 → an 80% mirror
    mirrored = d.filter(F.col("host") == "src0.example").filter(
        F.col("doc_id") % 100 != 20
    ).withColumn("host", F.lit("src0-mirror.example"))
    return mirror_hosts(
        d.unionByName(mirrored), k=64, m=8, threshold=0.5
    )


def r41_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (operators/cdc_chunking — FastCDC-shaped
    gear rolling hash, min/max clamps, utf-8-safe seams): documents plus
    a planted one-edit near-duplicate of each are chunked in ONE
    mapInPandas stage and grouped by chunk hash; the audit returns the
    storage-dedup stats (duplicated-byte fraction a content-addressable
    store saves — high, because CDC boundaries re-align after an edit
    where fixed strides shift every chunk). Rows-only: Python boundary
    scan; re-alignment and clamps pytest-asserted
    (tests/test_cdc_chunking.py)."""
    from pdf_parser_spark.operators.cdc_chunking import (
        chunk_dedup_stats,
        with_cdc_chunks,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    edited = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("edited prefix "), F.col("text")).alias("text"),
    )
    chunks = with_cdc_chunks(d.unionByName(edited), avg_size=64)
    return chunk_dedup_stats(chunks)


def r42_host_boilerplate(spark, sf_dir):
    """Cross-document host-boilerplate strip (operators/boilerplate —
    CCNet-style document-frequency rule, one (host,line_hash) exchange,
    top-k-capped per-host sets, native order-preserving strip): every
    document is wrapped in deterministic per-source chrome (nav + cookie
    + footer lines keyed by `source`), the operator strips it, and the
    audit reports per-source recovery — n_not_recovered counts documents
    whose clean_text differs from the original body and MUST be 0 for
    every source with >= 3 pages. Rows-only: frequency-threshold /
    tie-break / null-host semantics pytest-asserted against a pure-Python
    simulation (tests/test_boilerplate.py)."""
    from pdf_parser_spark.operators.boilerplate import strip_host_boilerplate

    d = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("host"), "doc_id", F.col("text").alias("body")
    )
    wrapped = d.withColumn(
        "text",
        F.concat(
            F.lit("Home | Shop | About "), F.col("host"), F.lit("\n"),
            F.lit("We use cookies on "), F.col("host"), F.lit("\n"),
            F.col("body"),
            F.lit("\n(c) 2026 "), F.col("host"), F.lit(" All rights reserved."),
        ),
    )
    stripped = strip_host_boilerplate(wrapped, min_docs=3, frac=0.5)
    return (
        stripped.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_stripped_lines").alias("n_stripped"),
            F.sum(
                F.when(F.col("clean_text") != F.col("body"), 1).otherwise(0)
            ).alias("n_not_recovered"),
        )
        .orderBy("host")
    )


def r43_monthly_crawl(spark, sf_dir):
    """Monthly-crawl increment (plans/crawl_increment.MonthlyCrawl —
    incremental near-dup vs all history, curate→chunk→pack, per-batch
    shard roots, rollup stats; every leg idempotent per batch id): two
    crawl "months" cut from the documents table, month 2 carrying
    near-copies of month-1 docs, then a full replay of month 1. The
    audit returns one row per step with the survivor count, shards
    written, and corpus-to-date doc total — the replay row MUST show
    zero shards written and an unchanged total. Rows-only: filesystem
    side effects; crash-window convergence is pytest-covered
    (tests/test_crawl_increment.py)."""
    import shutil
    import tempfile

    from pdf_parser_spark.plans.crawl_increment import MonthlyCrawl

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m1 = d.filter(F.col("doc_id") < 150)
    # month 2: fresh docs + near-copies of 30 month-1 docs
    fresh = d.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 280)).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    copies = m1.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 200_000).alias("doc_id"),
        F.concat(F.lit("zz "), F.col("text")).alias("text"),
    )
    m2 = fresh.unionByName(copies)
    kw = dict(
        min_quality=0.0, allowed_langs=("en", "de", "es", "fr"),
        neardup_threshold=0.6, dup_frac_max=0.95, ppl_keep_buckets=(1, 2, 3),
        seq_len=64, rows_per_shard=32, seed=3,
    )
    root = tempfile.mkdtemp(prefix="crawl-")
    try:
        mc = MonthlyCrawl(spark, root, threshold=0.6)
        steps = []
        for label, docs, bid in (("month1", m1, 1), ("month2", m2, 2),
                                 ("month1_replay", m1, 1)):
            r = mc.ingest_month(docs, batch_id=bid, **kw)
            total = mc.report().agg(F.sum("n_docs")).first()[0]
            steps.append(
                (label, r["survivors"], int(r["shards"]["shards_written"]),
                 int(total))
            )
        return spark.createDataFrame(
            steps,
            "step string, survivors long, shards_written long, corpus_docs long",
        ).orderBy("step")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def r44_fetch_schedule(spark, sf_dir):
    """Politeness-aware fetch scheduling (weburls.schedule_fetches): the
    q40 messy-url corpus canonicalized, each host given a deterministic
    crawl delay (5·(xxhash64(host) mod 4) + 1 seconds), ranked per host
    under a 50-url cap (WindowGroupLimit prune) and spread into 60 s
    waves. The audit returns per-(host, wave) request counts — by
    construction no (host, wave) may exceed ceil(60/delay) requests, the
    politeness invariant a fetcher relies on. Rows-only: DuckDB parity
    for the schedule arithmetic is pytest-asserted
    (tests/test_weburls_pii_asof.py)."""
    from pdf_parser_spark.operators import weburls

    c = weburls.with_canonical_url(_q40_urls(spark, sf_dir))
    urls = c.select(F.col("canonical_url").alias("url")).distinct()
    hosts = urls.select(
        weburls.host_col(F.col("url")).alias("host")
    ).distinct()
    delays = hosts.select(
        "host",
        (F.pmod(F.xxhash64("host"), F.lit(4)) * 5 + 1)
        .cast("double")
        .alias("crawl_delay_s"),
    )
    sched = weburls.schedule_fetches(urls, delays, per_host_cap=50, cycle_s=60.0)
    return (
        sched.groupBy("host", "wave")
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .orderBy("host", "wave")
    )


def r45_media_probe(spark, sf_dir):
    """Header-level codec identification over the real media corpus
    (operators/multimodal.probe_media → media_probe.probe_bytes): format,
    codec, dimensions, frame counts, duration, sample rate, bit depth and
    keyframes from container/header walks alone — NO pixel decode, no
    native library — so it also classifies payloads whose bitstream
    decode is gated. Probe fields are cross-checked against the full
    decoders over the whole corpus in tests/test_media_probe.py; this
    audit records the per-row identification of all 96 rows (every
    minted format: png/jpeg×2/webp×2/gif/bmp/ico/tiff/avif, wav/flac,
    mp4×2/mkv×2/y4m/animated-webp). Rows-only."""
    _ship_package(spark)
    from pdf_parser_spark.operators import multimodal as mm

    media = mm.media_table(spark, n_rows=96, partitions=8)
    return mm.probe_media(media).orderBy("media_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # 49 oracle-checked entries — the driver's correctness record caps at
    # 50 rows (r01: 39, r02: 47, r03: exactly the first 50 of 80), so the
    # round-3 q's were consolidated by merging same-grain queries
    # (q02+q03, q06+q18+q19, q11+q29+q30, q12+q17, q15+q20, q32+q33,
    # q40+q43, q44+q45, q47+q51, q55+q58 — every merged operator keeps its
    # oracle-checked columns) and q61 adds WCC to the oracle set.
    return {
        "q01_flagship_rollup": q01_flagship_rollup,
        "q02_order_listing": q02_order_listing,
        "q04_keep_latest": q04_keep_latest,
        "q05_union_dedupe": q05_union_dedupe,
        "q06_order_windows": q06_order_windows,
        "q07_memory_cascade": q07_memory_cascade,
        "q08_learning_aggregate": q08_learning_aggregate,
        "q09_journal_explode": q09_journal_explode,
        "q10_account_type": q10_account_type,
        "q11_txn_scalars": q11_txn_scalars,
        "q13_transfer_pairing": q13_transfer_pairing,
        "q14_dedup_exact": q14_dedup_exact,
        "q15_token_stats": q15_token_stats,
        "q16_similarity_topk": q16_similarity_topk,
        "q17_display_amount": q17_display_amount,
        "q21_embedding_neardup": q21_embedding_neardup,
        "q22_journal_typed": q22_journal_typed,
        "q23_salted_hoststats": q23_salted_hoststats,
        "q24_fingerprint_join": q24_fingerprint_join,
        "q25_tolerance_lookup": q25_tolerance_lookup,
        "q26_derived_uid_join": q26_derived_uid_join,
        "q27_windowed_stats": q27_windowed_stats,
        "q28_account_map_join": q28_account_map_join,
        "q31_account_mapping": q31_account_mapping,
        "q32_scalar_cleaners": q32_scalar_cleaners,
        "q34_quality_gate": q34_quality_gate,
        "q35_tfidf_terms": q35_tfidf_terms,
        "q36_stratified_sample": q36_stratified_sample,
        "q37_sessionization": q37_sessionization,
        "q38_repetition_signals": q38_repetition_signals,
        "q39_pii_scrub": q39_pii_scrub,
        "q41_asof_join": q41_asof_join,
        "q42_length_percentiles": q42_length_percentiles,
        "q43_host_crawl": q43_host_crawl,
        "q44_chunk_index": q44_chunk_index,
        "q46_decontamination": q46_decontamination,
        "q47_lm_quality": q47_lm_quality,
        "q48_mixing_weights": q48_mixing_weights,
        "q49_dup_passages": q49_dup_passages,
        "q50_weighted_sample": q50_weighted_sample,
        "q52_corpus_shuffle": q52_corpus_shuffle,
        "q53_bloom_antijoin": q53_bloom_antijoin,
        "q54_passage_dedup": q54_passage_dedup,
        "q55_linkgraph_hosts": q55_linkgraph_hosts,
        "q56_postings": q56_postings,
        "q57_bigram_pmi": q57_bigram_pmi,
        "q59_page_metadata": q59_page_metadata,
        "q60_robots_rules": q60_robots_rules,
        "q61_neardup_components": q61_neardup_components,
        "q62_bigram_logprob": q62_bigram_logprob,
        "r01_pipeline_flagship": r01_pipeline_flagship,
        "r02_extraction_identity": r02_extraction_identity,
        "r03_minhash_neardup": r03_minhash_neardup,
        "r04_simhash_neardup": r04_simhash_neardup,
        "r05_lang_id": r05_lang_id,
        "r06_ann_lsh": r06_ann_lsh,
        "r07_winnowing": r07_winnowing,
        "r08_media_features": r08_media_features,
        "r09_frame_sample": r09_frame_sample,
        "r10_cosine_neardup_lsh": r10_cosine_neardup_lsh,
        "r11_ann_ivf": r11_ann_ivf,
        "r12_embedding_source": r12_embedding_source,
        "r13_curation_pipeline": r13_curation_pipeline,
        "r14_ocr_identity": r14_ocr_identity,
        "r15_semdedup": r15_semdedup,
        "r16_pretrain_pipeline": r16_pretrain_pipeline,
        "r17_pagerank": r17_pagerank,
        "r18_warc_roundtrip": r18_warc_roundtrip,
        "r19_snapshot_log": r19_snapshot_log,
        "r20_span_invariants": r20_span_invariants,
        "r21_bpe_train": r21_bpe_train,
        "r22_quality_classifier": r22_quality_classifier,
        "r23_dsir_resample": r23_dsir_resample,
        "r24_sequence_packing": r24_sequence_packing,
        "r25_image_phash_neardup": r25_image_phash_neardup,
        "r26_audio_spectrogram": r26_audio_spectrogram,
        "r27_span_dedup": r27_span_dedup,
        "r28_incremental_neardup": r28_incremental_neardup,
        "r29_per_host_cap": r29_per_host_cap,
        "r30_zorder_layout": r30_zorder_layout,
        "r31_snapshot_changes": r31_snapshot_changes,
        "r32_ann_pq": r32_ann_pq,
        "r33_sketches": r33_sketches,
        "r34_shard_export": r34_shard_export,
        "r35_corpus_rollup": r35_corpus_rollup,
        "r36_gopher_gate": r36_gopher_gate,
        "r37_bm25": r37_bm25,
        "r38_html_tables": r38_html_tables,
        "r39_charset_decode": r39_charset_decode,
        "r40_mirror_hosts": r40_mirror_hosts,
        "r41_cdc_chunks": r41_cdc_chunks,
        "r42_host_boilerplate": r42_host_boilerplate,
        "r43_monthly_crawl": r43_monthly_crawl,
        "r44_fetch_schedule": r44_fetch_schedule,
        "r45_media_probe": r45_media_probe,
    }


def _sql_list(values: list[str]) -> str:
    """Python string list → DuckDB list literal (quotes doubled)."""
    inner = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return "[" + inner + "]"


def oracle_sql() -> dict[str, str]:
    from pdf_parser_spark.extraction_core import ALLOWED_ACCOUNTS

    stop_list = "'the','a','of','and','to','in','is','it'"
    allowed_values = ", ".join(
        f"({i}, '" + a.replace("'", "''") + "')" for i, a in enumerate(ALLOWED_ACCOUNTS)
    )
    q33_num = (
        "coalesce(TRY_CAST(regexp_replace(raw, '[^0-9.-]', '', 'g') AS DOUBLE), 0.0)"
    )
    contra_re = r"'\s*-?\s*\([^()]*contra[^()]*\)'"
    sql = {
        "q01_flagship_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   round(avg(l_discount), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q02_order_listing": """
            SELECT 'page' AS src, o_orderkey, o_totalprice,
                   CAST(NULL AS VARCHAR) AS o_orderstatus
            FROM (SELECT o_orderkey, o_totalprice FROM orders
                  ORDER BY o_orderdate, o_orderkey LIMIT 50 OFFSET 100)
            UNION ALL
            SELECT 'topk' AS src, o_orderkey, o_totalprice, o_orderstatus
            FROM (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
        """,
        "q04_keep_latest": """
            SELECT user_id, event_id, event_type FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
              FROM events) WHERE rn = 1
        """,
        "q05_union_dedupe": """
            SELECT DISTINCT event_id FROM (
              SELECT event_id FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT event_id FROM events WHERE value > 400)
        """,
        "q06_order_windows": """
            WITH spine AS (
              SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_in_window FROM (
                SELECT l_orderkey, l_shipdate,
                       max(l_shipdate) OVER (PARTITION BY l_orderkey) AS max_ship
                FROM lineitem)
              WHERE l_shipdate >= max_ship - INTERVAL 45 DAY
              GROUP BY l_orderkey),
            r_group AS (
              SELECT l_orderkey,
                     strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship_r,
                     CAST(count(*) AS BIGINT) AS n_lines_r
              FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey),
            latest_a AS (
              SELECT l_orderkey, l_linenumber AS latest_a_line FROM (
                SELECT l_orderkey, l_linenumber,
                       row_number() OVER (PARTITION BY l_orderkey
                                          ORDER BY l_shipdate DESC, l_linenumber DESC) rn
                FROM lineitem WHERE l_returnflag = 'A')
              WHERE rn = 1)
            SELECT s.l_orderkey, s.n_in_window, r.last_ship_r, r.n_lines_r,
                   a.latest_a_line
            FROM spine s
            LEFT JOIN r_group r USING (l_orderkey)
            LEFT JOIN latest_a a USING (l_orderkey)
        """,
        "q07_memory_cascade": """
            WITH user_mem AS (
              SELECT DISTINCT lang AS vk, 'user:' || lang AS user_account
              FROM documents WHERE lang IN ('en','de')),
            global_mem AS (
              SELECT DISTINCT lang AS vk, 'global:' || lang AS global_account
              FROM documents WHERE lang IN ('de','fr','es'))
            SELECT d.doc_id,
                   coalesce(u.user_account, g.global_account, '7090 - Uncategorized Expense') AS account,
                   CASE WHEN u.user_account IS NOT NULL THEN 'memory:user'
                        WHEN g.global_account IS NOT NULL THEN 'memory:global'
                        ELSE 'ai' END AS classificationSource
            FROM documents d
            LEFT JOIN user_mem u ON d.lang = u.vk
            LEFT JOIN global_mem g ON d.lang = g.vk
        """,
        "q08_learning_aggregate": """
            WITH base AS (
              SELECT source AS vendor_key, lang AS account, doc_id % 7 AS uid FROM documents),
            by_acct AS (
              SELECT vendor_key, account, count(*) AS cnt FROM base GROUP BY 1, 2),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY vendor_key ORDER BY cnt DESC, account) rn
              FROM by_acct),
            totals AS (
              SELECT vendor_key, CAST(count(*) AS BIGINT) AS total,
                     CAST(count(DISTINCT uid) AS BIGINT) AS n_users
              FROM base GROUP BY 1)
            SELECT t.vendor_key, t.total, t.n_users, r.account AS top_account,
                   (t.total >= 5 AND t.n_users >= 3) AS promoted
            FROM totals t JOIN ranked r ON r.vendor_key = t.vendor_key AND r.rn = 1
        """,
        "q09_journal_explode": """
            WITH t AS (
              SELECT CAST(o_orderkey AS VARCHAR) AS txn_id,
                     strftime(o_orderdate, '%m/%d/%Y') AS date,
                     o_orderpriority AS memo,
                     CASE WHEN o_orderstatus = 'F' THEN -o_totalprice ELSE o_totalprice END AS amount,
                     o_orderpriority AS account,
                     'Offset' AS source
              FROM orders)
            SELECT txn_id || '-debit' AS id, txn_id AS txnId, date, memo,
                   CASE WHEN amount >= 0 THEN account ELSE source END AS account,
                   'Debit' AS type, round(abs(amount), 2) AS amount
            FROM t
            UNION ALL
            SELECT txn_id || '-credit' AS id, txn_id AS txnId, date, memo,
                   CASE WHEN amount < 0 THEN account ELSE source END AS account,
                   'Credit' AS type, round(abs(amount), 2) AS amount
            FROM t
        """,
        "q10_account_type": f"""
            WITH p AS (
              SELECT p_partkey,
                     CAST(p_size AS VARCHAR) || '00 - ' || p_type AS acct_coded,
                     p_brand AS acct_trailing,
                     p_type AS acct_none
              FROM part)
            SELECT p_partkey,
                   {_ACCOUNT_TYPE_SQL.format(col='acct_coded')} AS type_coded,
                   {_ACCOUNT_TYPE_SQL.format(col='acct_trailing')} AS type_trailing,
                   {_ACCOUNT_TYPE_SQL.format(col='acct_none')} AS type_none
            FROM p
        """,
        "q11_txn_scalars": f"""
            WITH d AS (
              SELECT event_id,
                     strftime(ts, '%Y%m%d') AS dateKey,
                     strftime(ts, '%m/%d/%Y') AS us_date,
                     ({_sql_list(_Q29_MEMOS)})[CAST(event_id % 6 + 1 AS INT)] AS memo,
                     strftime(CAST(ts AS DATE) - to_days(CAST((event_id * 37) % 700 AS INT)),
                              '%m/%d/%Y') AS date,
                     round(value - 150.0, 2) AS amount,
                     round((event_id % 401 - 200) / 100.0, 2) AS amount2
              FROM events)
            SELECT event_id, dateKey, us_date, memo, date, amount,
                   CASE WHEN (lower(memo) LIKE '%interest%'
                           OR lower(memo) LIKE '%pay over time%'
                           OR lower(memo) LIKE '%apr%'
                           OR lower(memo) LIKE '%summary%')
                         AND len(string_split_regex(trim(lower(memo)), '\\s+')) <= 6
                         AND abs(amount) >= 100.0
                         AND try_strptime(date, '%m/%d/%Y') < TIMESTAMP '2023-10-01'
                        THEN TRUE ELSE FALSE END AS is_summary,
                   amount2,
                   abs(amount2) >= 0.01 AS amount2_valid
            FROM d
        """,
        "q13_transfer_pairing": f"""
            WITH {_EVENT_TXNS_SQL},
            cand AS (
              SELECT l.txn_id AS l_id, s.txn_id AS s_id, s.sourceType AS s_type,
                     abs(l.day - s.day) AS day_dist, abs(l.cents - s.cents) AS cents_dist
              FROM keyed l JOIN keyed s
                ON l.sourceType = 'bank' AND l.amount >= 0 AND s.amount < 0
               AND s.sourceType IN ('card','loan','bank')
               AND abs(l.cents - s.cents) <= 1 AND abs(l.day - s.day) <= 5
               AND l.txn_id <> s.txn_id),
            ranked AS (
              SELECT *,
                row_number() OVER (PARTITION BY l_id ORDER BY day_dist, cents_dist, s_id) AS l_rank,
                row_number() OVER (PARTITION BY s_id ORDER BY day_dist, cents_dist, l_id) AS s_rank
              FROM cand)
            SELECT l_id AS leader_id, s_id AS shadow_id,
                   'pair:' || least(l_id, s_id) || ':' || greatest(l_id, s_id) AS pair_id,
                   CASE s_type WHEN 'card' THEN 'card_payment'
                               WHEN 'loan' THEN 'loan_payment'
                               ELSE 'bank_transfer' END AS pair_reason
            FROM ranked WHERE l_rank = 1 AND s_rank = 1
        """,
        "q14_dedup_exact": """
            SELECT md5(lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')))) AS fingerprint,
                   CAST(min(doc_id) AS BIGINT) AS keeper_id,
                   CAST(count(*) AS BIGINT) AS group_size
            FROM documents
            GROUP BY 1
        """,
        "q15_token_stats": f"""
            WITH s AS (
              SELECT doc_id, coalesce(text, '') AS text,
                     CASE WHEN trim(coalesce(text,'')) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                     length(coalesce(text, '')) AS n_chars_text
              FROM documents)
            SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
                   CAST(n_chars_text AS INT) AS n_chars_text,
                   round(CASE WHEN n_tokens > 0
                         THEN length(regexp_replace(trim(text), '\\s', '', 'g')) * 1.0 / n_tokens
                         ELSE 0.0 END, 4) AS mean_token_len,
                   round(CASE WHEN n_chars_text > 0
                         THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / n_chars_text
                         ELSE 0.0 END, 4) AS alpha_ratio,
                   round(CASE WHEN n_chars_text > 0
                         THEN length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / n_chars_text
                         ELSE 0.0 END, 4) AS digit_ratio,
                   round(CASE WHEN n_chars_text > 0
                         THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / n_chars_text
                         ELSE 0.0 END, 4) AS punct_ratio,
                   round(CASE WHEN n_tokens > 0
                         THEN len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                              x -> x IN ({stop_list}))) * 1.0 / n_tokens
                         ELSE 0.0 END, 4) AS stopword_ratio,
                   md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
                   CAST(len(regexp_extract_all(text,
                        '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'))
                        AS INT) AS n_bpe_tokens
            FROM s
        """,
        "q16_similarity_topk": """
            WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, round(list_cosine_similarity(e.embedding, q.embedding), 6) AS cosine
            FROM embeddings e, q
            WHERE e.vec_id <> 0
            ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC, e.vec_id
            LIMIT 10
        """,
        "q17_display_amount": f"""
            WITH {_EVENT_TXNS_SQL},
            flagged AS (
              SELECT t.*,
                     (t.sourceType = 'card' AND t.amount < 0
                      AND EXISTS (SELECT 1 FROM keyed b
                                  WHERE b.sourceType = 'bank' AND b.txn_id <> t.txn_id
                                    AND abs(b.cents - t.cents) <= 1
                                    AND abs(b.day - t.day) <= 5)) AS card_neg_matched
              FROM keyed t)
            SELECT txn_id,
                   round(CASE
                     WHEN sourceType = 'bank' THEN
                       CASE WHEN amount >= 0 THEN abs(amount) ELSE -abs(amount) END
                     WHEN sourceType = 'card' THEN
                       CASE WHEN amount > 0 THEN abs(amount)
                            WHEN card_neg_matched THEN abs(amount)
                            ELSE -abs(amount) END
                     ELSE amount END, 2) AS displayAmount,
                   card_neg_matched
            FROM flagged
        """,
        "q21_embedding_neardup": """
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
        """,
        "q22_journal_typed": f"""
            WITH t AS (
              SELECT CAST(o_orderkey AS VARCHAR) AS txn_id,
                     CASE WHEN o_orderstatus = 'F' THEN -o_totalprice ELSE o_totalprice END AS amount,
                     CAST(o_orderkey % 9 + 1 AS VARCHAR) || '400 - Acct' AS account,
                     '1000 - Cash' AS source
              FROM orders),
            typed AS (
              SELECT *, ({_ACCOUNT_TYPE_SQL.format(col='account')}
                         IN ('Expense','COGS','Asset')) AS primary_debit
              FROM t)
            SELECT txn_id || '-1' AS id, txn_id AS txnId, account,
                   CASE WHEN primary_debit THEN 'Debit' ELSE 'Credit' END AS type,
                   round(abs(amount), 2) AS amount
            FROM typed
            UNION ALL
            SELECT txn_id || '-2' AS id, txn_id AS txnId, source AS account,
                   CASE WHEN primary_debit THEN 'Credit' ELSE 'Debit' END AS type,
                   round(abs(amount), 2) AS amount
            FROM typed
        """,
        # the salted two-phase plan must equal the naive GROUP BY exactly
        "q23_salted_hoststats": """
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY source
        """,
        "q24_fingerprint_join": """
            WITH txns AS (
              SELECT l_orderkey, l_linenumber,
                     strftime(l_shipdate, '%m/%d/%Y') AS date,
                     round(l_extendedprice, 2) AS amount,
                     l_returnflag || l_linestatus AS memo
              FROM lineitem),
            req AS (
              SELECT date, amount, memo, '9999 - Reclassified' AS new_account
              FROM txns WHERE l_orderkey % 100 = 0 AND l_linenumber = 1)
            SELECT t.l_orderkey, t.l_linenumber, r.new_account
            FROM txns t JOIN req r USING (date, amount, memo)
        """,
        "q25_tolerance_lookup": f"""
            WITH {_EVENT_TXNS_SQL}
            SELECT txn_id, round(amount, 2) AS amount, dateKey FROM txns
            WHERE dateKey >= '20240101' AND abs(abs(amount) - 250.0) <= 25.0
        """,
        "q26_derived_uid_join": """
            WITH txns AS (
              SELECT o_orderkey,
                     strftime(o_orderdate, '%Y-%m-%d') || '-' ||
                     substr(o_orderpriority, 1, 24) || '-' ||
                     CAST(round(o_totalprice, 2) AS VARCHAR) AS uid
              FROM orders)
            SELECT t.o_orderkey, t.uid
            FROM txns t
            WHERE EXISTS (SELECT 1 FROM txns w
                          WHERE w.o_orderkey % 97 = 0 AND w.uid = t.uid)
        """,
        "q27_windowed_stats": f"""
            WITH {_EVENT_TXNS_SQL}
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   sourceType,
                   CAST(count(*) AS BIGINT) AS n_txns,
                   round(sum(amount), 2) AS total_amount,
                   round(sum(abs(amount)), 2) AS total_abs
            FROM txns GROUP BY 1, 2
        """,
        "q28_account_map_join": """
            WITH acct AS (
              SELECT DISTINCT user_id % 20 AS account_id FROM events),
            acct_map AS (
              SELECT account_id,
                     'Account ' || account_id || ' ****' ||
                     lpad(CAST(account_id * 37 % 10000 AS VARCHAR), 4, '0') AS display_name,
                     CASE account_id % 3 WHEN 0 THEN 'bank' WHEN 1 THEN 'card'
                          ELSE 'loan' END AS sourceType
              FROM acct)
            SELECT e.event_id, m.display_name, m.sourceType
            FROM events e JOIN acct_map m ON e.user_id % 20 = m.account_id
        """,
        "q31_account_mapping": f"""
            WITH allowed(idx, account) AS (VALUES {allowed_values}),
            inp AS (
              SELECT p_partkey,
                     ({_sql_list(_Q31_CHOSEN)})[CAST(p_partkey % {len(_Q31_CHOSEN)} + 1 AS INT)] AS chosen
              FROM part),
            scored AS (
              SELECT i.p_partkey, i.chosen, a.idx, a.account,
                     CASE WHEN lower(trim(i.chosen)) = lower(a.account) THEN 0
                          WHEN contains(lower(a.account), lower(trim(i.chosen)))
                            OR contains(lower(trim(i.chosen)), lower(a.account)) THEN 1
                          ELSE 2 END AS tier,
                     len(list_filter(
                           list_filter(string_split(lower(trim(i.chosen)), ' '), t -> t <> ''),
                           t -> list_contains(
                                  list_filter(string_split(lower(a.account), ' '), x -> x <> ''),
                                  t))) AS hits
              FROM inp i CROSS JOIN allowed a),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY p_partkey
                ORDER BY tier, CASE WHEN tier = 2 THEN -hits ELSE 0 END, idx) AS rn
              FROM scored)
            SELECT p_partkey, chosen,
                   CASE WHEN chosen = '' THEN '7090 - Uncategorized Expense'
                        ELSE account END AS mapped_account
            FROM ranked WHERE rn = 1
        """,
        "q32_scalar_cleaners": f"""
            WITH d AS (
              SELECT event_id,
                     ({_sql_list(_Q32_LABELS)})[CAST(event_id % 8 + 1 AS INT)] AS label,
                     ({_sql_list(_Q33_STRINGS)})[CAST(event_id % 10 + 1 AS INT)] AS raw
              FROM events),
            pass1 AS (
              SELECT event_id, label, raw,
                     regexp_replace(regexp_replace(label, {contra_re}, ' ', 'gi'),
                                    {contra_re}, ' ', 'gi') AS t
              FROM d),
            dashed AS (
              SELECT event_id, label, raw,
                     CASE WHEN strpos(t, ' - ') > 0
                           AND contains(lower(substr(t, strpos(t, ' - ') + 3)), 'contra')
                          THEN rtrim(substr(t, 1, strpos(t, ' - ') - 1))
                          ELSE t END AS t
              FROM pass1)
            SELECT event_id, label,
                   trim(regexp_replace(t, ' {{2,}}', ' ', 'g')) AS cleaned,
                   raw,
                   {q33_num} AS num,
                   CASE WHEN contains(raw, '(') AND contains(raw, ')')
                         AND {q33_num} > 0
                        THEN -{q33_num} ELSE {q33_num} END AS fragment
            FROM dashed
        """,
        # quality formula over the SAME rounded intermediates as the Spark
        # columns (with_text_stats rounds to 4 before the composite score)
        "q34_quality_gate": f"""
            WITH s AS (
              SELECT doc_id, lang, coalesce(text, '') AS text,
                     CASE WHEN trim(coalesce(text,'')) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                     length(coalesce(text, '')) AS n_chars
              FROM documents),
            r AS (
              SELECT doc_id, lang, n_tokens,
                     round(CASE WHEN n_chars > 0
                           THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / n_chars
                           ELSE 0.0 END, 4) AS alpha_ratio,
                     round(CASE WHEN n_tokens > 0
                           THEN len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                                x -> x IN ({stop_list}))) * 1.0 / n_tokens
                           ELSE 0.0 END, 4) AS stopword_ratio
              FROM s),
            g AS (
              SELECT *, round(
                       0.4 * (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
                     + 0.3 * least(alpha_ratio * 1.25, 1.0)
                     + 0.3 * least(stopword_ratio * 5, 1.0), 4) AS quality
              FROM r)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   round(avg(quality), 4) AS avg_quality,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens
            FROM g WHERE quality >= 0.5 GROUP BY lang
        """,
        "q35_tfidf_terms": """
            WITH t AS (
              SELECT doc_id AS _doc, u.term
              FROM documents, unnest(string_split_regex(lower(coalesce(text, '')), '\\s+')) AS u(term)
              WHERE u.term <> ''),
            a AS (
              SELECT term, CAST(count(*) AS BIGINT) AS total_occurrences,
                     CAST(count(DISTINCT _doc) AS BIGINT) AS doc_freq
              FROM t GROUP BY term),
            d AS (SELECT count(*) AS n FROM documents)
            SELECT term, total_occurrences, doc_freq,
                   round(total_occurrences * ln((SELECT n FROM d) * 1.0 / doc_freq), 4) AS tfidf
            FROM a ORDER BY tfidf DESC, term ASC LIMIT 50
        """,
        "q36_stratified_sample": """
            SELECT doc_id, lang, source, CAST(sample_rank AS BIGINT) AS sample_rank
            FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
              FROM documents)
            WHERE sample_rank <= 5
        """,
        "q37_sessionization": """
            WITH e AS (
              SELECT user_id, event_id, value, ts,
                     CAST(floor(epoch(ts)) AS BIGINT) AS sec
              FROM events),
            f AS (
              SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM e),
            s AS (
              SELECT *, CAST(sum(CASE WHEN prev IS NULL OR sec - prev > 1800
                                      THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM f)
            SELECT user_id, session_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(min(sec) AS BIGINT) AS session_start_s,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM s GROUP BY user_id, session_id
        """,
        "q38_repetition_signals": """
            WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
            l0 AS (
              SELECT doc_id, trim(x) AS line
              FROM base, unnest(string_split(t, chr(10))) AS u(x)
              WHERE trim(x) <> ''),
            pl AS (SELECT doc_id, line, count(*) AS cnt FROM l0 GROUP BY 1, 2),
            ls AS (
              SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
                     round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1.0 / sum(cnt), 4)
                       AS dup_line_frac,
                     round(CASE WHEN sum(length(line) * cnt) > 0
                           THEN sum(CASE WHEN cnt > 1 THEN length(line) * cnt ELSE 0 END)
                                * 1.0 / sum(length(line) * cnt)
                           ELSE 0.0 END, 4) AS dup_line_char_frac
              FROM pl GROUP BY doc_id),
            w AS (SELECT doc_id,
                         list_filter(string_split_regex(lower(t), '\\s+'), x -> x <> '') AS ws
                  FROM base),
            g0 AS (
              SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS gram
              FROM w, unnest(range(1, len(ws))) AS r(i)
              WHERE len(ws) >= 2),
            pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g0 GROUP BY 1, 2),
            gs AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
                          round(max(cnt) * 1.0 / sum(cnt), 4) AS top_bigram_frac
                   FROM pg GROUP BY doc_id)
            SELECT b.doc_id,
                   coalesce(n_lines, 0) AS n_lines,
                   coalesce(dup_line_frac, 0.0) AS dup_line_frac,
                   coalesce(dup_line_char_frac, 0.0) AS dup_line_char_frac,
                   coalesce(n_bigrams, 0) AS n_bigrams,
                   coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
            FROM base b LEFT JOIN ls USING (doc_id) LEFT JOIN gs USING (doc_id)
        """,
        "q39_pii_scrub": """
            WITH d AS (
              SELECT doc_id,
                     coalesce(text, '') || (__SNIPPETS__)[CAST(doc_id % 8 + 1 AS INT)] AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '__EMAIL__')) AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '__PHONE__')) AS INT) AS n_phones,
                   md5(regexp_replace(regexp_replace(text, '__EMAIL__', '[EMAIL]', 'g'),
                                      '__PHONE__', '[PHONE]', 'g')) AS redacted_md5
            FROM d
        """,
        "q43_host_crawl": """
            WITH d AS (
              SELECT event_id,
                     (__BASES__)[CAST(event_id % 7 + 1 AS INT)] || '/Articles/' ||
                     CAST(event_id % 7 AS VARCHAR) ||
                     (__SUFFIXES__)[CAST(event_id % 6 + 1 AS INT)] ||
                     CAST(event_id % 13 AS VARCHAR) AS url
              FROM events),
            q AS (
              SELECT event_id, trim(url) AS u,
                     regexp_replace(trim(url), '#.*', '') AS pre,
                     lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
                     regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1) AS authority
              FROM d),
            r AS (
              SELECT *, lower(regexp_replace(authority, ':[0-9]+$', '')) AS host,
                     regexp_extract(authority, ':([0-9]+)$', 1) AS port,
                     regexp_extract(pre, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS path,
                     regexp_extract(pre, '\\?([^#]*)', 1) AS query
              FROM q),
            s AS (
              SELECT *, list_filter(string_split(query, '&'),
                         x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)(=|$)')) AS kept
              FROM r),
            c AS (
              SELECT event_id, host,
                     scheme || '://' || host ||
                     CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                                   OR (scheme = 'https' AND port = '443'))
                          THEN ':' || port ELSE '' END ||
                     CASE WHEN path = '' THEN '/' ELSE path END ||
                     CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
                       AS canonical_url
              FROM s),
            roll AS (
              SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
                     CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_pages
              FROM c GROUP BY host),
            kept AS (
              SELECT host, CAST(count(*) AS BIGINT) AS n_kept
              FROM c WHERE host NOT IN (__BLOCKLIST__) GROUP BY host)
            SELECT r.host, r.n_fetches, r.n_pages, k.n_kept
            FROM roll r LEFT JOIN kept k USING (host)
        """,
        "q41_asof_join": """
            WITH l AS (SELECT event_id, user_id, ts FROM events),
            r AS (SELECT user_id, ts AS rts, event_id AS rid
                  FROM events WHERE event_type = 'signup'),
            j AS (
              SELECT l.event_id, l.user_id, r.rts, r.rid,
                     row_number() OVER (PARTITION BY l.event_id
                                        ORDER BY r.rts DESC, r.rid DESC) AS rn
              FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.rts <= l.ts)
            SELECT event_id, user_id,
                   CAST(floor(epoch(rts)) AS BIGINT) AS last_signup_s,
                   rid AS signup_event_id
            FROM j WHERE rn = 1
        """,
        "q42_length_percentiles": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90,
                   round(quantile_cont(n_chars, 0.99), 4) AS p99
            FROM documents GROUP BY lang
        """,
        # q53 keeps the plain blocklist anti-join contract (it is the
        # Bloom-pruned physical twin of q43's kept-host leg)
        "q53_bloom_antijoin": """
            WITH d AS (
              SELECT event_id,
                     (__BASES__)[CAST(event_id % 7 + 1 AS INT)] || '/Articles/' ||
                     CAST(event_id % 7 AS VARCHAR) ||
                     (__SUFFIXES__)[CAST(event_id % 6 + 1 AS INT)] ||
                     CAST(event_id % 13 AS VARCHAR) AS url
              FROM events),
            h AS (
              SELECT event_id,
                     lower(regexp_replace(
                       regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1),
                       ':[0-9]+$', '')) AS host
              FROM d)
            SELECT host, CAST(count(*) AS BIGINT) AS n_kept
            FROM h WHERE host NOT IN (__BLOCKLIST__)
            GROUP BY host
        """,
        "q44_chunk_index": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents),
            c AS (
              SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                     ws[CAST(i * 40 + 1 AS INT) : CAST(i * 40 + 50 AS INT)] AS chunk
              FROM w, unnest(range(0,
                     CASE WHEN len(ws) > 50
                          THEN CAST(floor((len(ws) - 10 - 1) / 40) AS BIGINT)
                          ELSE 0 END + 1)) AS r(i)
              WHERE len(ws) > 0),
            gi AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY n_chars DESC, doc_id) AS global_idx
              FROM documents)
            SELECT c.doc_id, c.chunk_idx,
                   CAST(len(c.chunk) AS INT) AS n_chunk_tokens,
                   md5(array_to_string(c.chunk, ' ')) AS chunk_md5,
                   gi.global_idx
            FROM c JOIN gi USING (doc_id)
        """,
        "q46_decontamination": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     array_to_string(ws[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS gram
              FROM base, unnest(range(1, len(ws) - 3)) AS r(i)
              WHERE len(ws) >= 5),
            ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
            m AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_matched
                  FROM g JOIN ev USING (gram) GROUP BY 1)
            SELECT b.doc_id,
                   coalesce(tot.n_grams, 0) AS n_grams,
                   coalesce(m.n_matched, 0) AS n_matched,
                   round(CASE WHEN coalesce(tot.n_grams, 0) > 0
                         THEN coalesce(m.n_matched, 0) * 1.0 / tot.n_grams
                         ELSE 0.0 END, 4) AS contamination_frac,
                   CAST(round(CASE WHEN coalesce(tot.n_grams, 0) > 0
                        THEN coalesce(m.n_matched, 0) * 1.0 / tot.n_grams
                        ELSE 0.0 END, 4) >= 0.2 AS INT) AS is_contaminated
            FROM base b LEFT JOIN tot USING (doc_id) LEFT JOIN m USING (doc_id)
        """,
        "q47_lm_quality": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents),
            tok AS (SELECT doc_id, x AS word FROM w, unnest(ws) AS u(x)),
            counts AS (SELECT word, count(*) AS cnt FROM tok GROUP BY 1),
            tv AS (SELECT sum(cnt) AS n, count(*) AS v FROM counts),
            model AS (SELECT word, ln((cnt + 1) * 1.0 / (n + v)) AS logp
                      FROM counts, tv),
            scored AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                     avg(logp) AS a
              FROM tok JOIN model USING (word) GROUP BY 1),
            s AS (
              SELECT d.doc_id, d.lang,
                     coalesce(n_tokens, 0) AS n_tokens,
                     round(coalesce(a, 0.0), 4) AS avg_logprob,
                     round(exp(-coalesce(a, 0.0)), 4) AS ppl
              FROM documents d LEFT JOIN scored USING (doc_id))
            SELECT doc_id, lang, n_tokens, avg_logprob, ppl, bucket_id,
                   CASE WHEN bucket_id = 1 THEN 'head'
                        WHEN bucket_id = 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM (SELECT *,
                         CAST(ntile(3) OVER (PARTITION BY lang
                                             ORDER BY ppl, doc_id) AS INT)
                           AS bucket_id
                  FROM s)
        """,
        "q48_mixing_weights": """
            WITH t AS (
              SELECT lang, source, count(*) AS n_docs,
                     CAST(sum(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                              ELSE len(string_split_regex(trim(text), '\\s+'))
                              END) AS BIGINT) AS n_tokens
              FROM documents GROUP BY 1, 2),
            tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                           sum(pow(n_tokens, 0.5)) AS ssum FROM t)
            SELECT lang, source, n_docs, n_tokens,
                   round(n_tokens * 1.0 / total, 6) AS token_share,
                   round(pow(n_tokens, 0.5) / ssum, 6) AS mix_weight,
                   round((pow(n_tokens, 0.5) / ssum) / (n_tokens * 1.0 / total), 4)
                     AS sampling_factor
            FROM t, tot
        """,
        # q50/q52 fold the first 13 md5 hex digits into the exact 52-bit
        # integer (every term and partial sum is an exactly-representable
        # double), mirroring Spark's conv(substring(md5(..),1,13),16,10).
        "q49_dup_passages": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS gram
              FROM base, unnest(range(1, len(ws) - 6)) AS r(i)
              WHERE len(ws) >= 8),
            dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
            m AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_dup
                  FROM g JOIN dup USING (gram) GROUP BY 1)
            SELECT b.doc_id,
                   coalesce(tot.n_grams, 0) AS n_grams,
                   coalesce(m.n_dup, 0) AS n_dup_grams,
                   round(CASE WHEN coalesce(tot.n_grams, 0) > 0
                         THEN coalesce(m.n_dup, 0) * 1.0 / tot.n_grams
                         ELSE 0.0 END, 4) AS dup_frac
            FROM base b LEFT JOIN tot USING (doc_id) LEFT JOIN m USING (doc_id)
        """,
        "q50_weighted_sample": """
            WITH p AS (
              SELECT doc_id, n_chars,
                CAST(n_chars AS DOUBLE) /
                  ((list_sum(list_transform(range(1, 14),
                      i -> (strpos('0123456789abcdef',
                                   substr(md5('7:' || CAST(doc_id AS VARCHAR)),
                                          CAST(i AS INT), 1)) - 1)
                           * pow(16, 13 - i))) + 1.0) / 4503599627370496.0)
                  AS priority
              FROM documents)
            SELECT doc_id, n_chars, round(priority, 4) AS priority
            FROM p ORDER BY p.priority DESC, doc_id LIMIT 100
        """,
        "q52_corpus_shuffle": """
            WITH k AS (
              SELECT doc_id,
                list_sum(list_transform(range(1, 14),
                  i -> (strpos('0123456789abcdef',
                               substr(md5('3:' || CAST(doc_id AS VARCHAR)),
                                      CAST(i AS INT), 1)) - 1)
                       * pow(16, 13 - i))) AS key
              FROM documents)
            SELECT doc_id,
                   row_number() OVER (ORDER BY key, doc_id) AS shuffle_idx
            FROM k
        """,
        "q54_passage_dedup": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents),
            c AS (
              SELECT doc_id, CAST(i AS BIGINT) AS idx,
                     array_to_string(
                       ws[CAST(i * 8 + 1 AS INT):CAST(i * 8 + 8 AS INT)], ' ')
                       AS passage
              FROM base,
                   unnest(range(0, CAST(floor((len(ws) - 1) / 8) AS BIGINT) + 1))
                     AS r(i)
              WHERE len(ws) > 0),
            f AS (
              SELECT doc_id, idx, passage FROM (
                SELECT doc_id, idx, passage,
                       row_number() OVER (PARTITION BY passage
                                          ORDER BY doc_id, idx) AS rn
                FROM c) WHERE rn = 1),
            t AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages
                  FROM c GROUP BY 1),
            reasm AS (
              SELECT doc_id,
                     string_agg(passage, ' ' ORDER BY idx) AS dedup_text,
                     CAST(count(*) AS BIGINT) AS n_kept
              FROM f GROUP BY 1)
            SELECT b.doc_id,
                   coalesce(reasm.dedup_text, '') AS dedup_text,
                   coalesce(t.n_passages, 0) AS n_passages,
                   coalesce(reasm.n_kept, 0) AS n_kept
            FROM base b
            LEFT JOIN t USING (doc_id) LEFT JOIN reasm USING (doc_id)
            ORDER BY doc_id
        """,
        "q55_linkgraph_hosts": """
            WITH d AS (
              SELECT (__BASES__)[CAST(event_id % 7 + 1 AS INT)] || '/Articles/' ||
                     CAST(event_id % 7 AS VARCHAR) AS url,
                     '<html><body><nav><a href="' ||
                     (__BASES__)[CAST((event_id + 3) % 7 + 1 AS INT)] ||
                     '/nav">home</a></nav><p>story text</p><a href="' ||
                     (__BASES__)[CAST(event_id % 7 + 1 AS INT)] || '/Articles/' ||
                     CAST((event_id + 1) % 7 AS VARCHAR) ||
                     '">read</a><a href="' ||
                     (__BASES__)[CAST((event_id * 5 + 1) % 7 + 1 AS INT)] ||
                     '/tag/' || CAST(event_id % 11 AS VARCHAR) ||
                     '">tag</a></body></html>' AS html
              FROM events),
            l AS (
              SELECT url, u AS out_url
              FROM d, unnest(regexp_extract_all(html, 'href="([^"]*)"', 1))
                   AS t(u)),
            h AS (
              SELECT url AS _src,
                     lower(regexp_replace(
                       regexp_extract(out_url,
                         '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1),
                       ':[0-9]+$', '')) AS host
              FROM l),
            indeg AS (
              SELECT host, CAST(count(*) AS BIGINT) AS n_links,
                     CAST(count(DISTINCT _src) AS BIGINT) AS n_src_pages
              FROM h WHERE host <> '' GROUP BY host),
            la AS (
              SELECT url,
                     regexp_extract_all(html,
                       '<a[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS us,
                     regexp_extract_all(html,
                       '<a[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS ts
              FROM d),
            p AS (
              SELECT url, us[CAST(i AS INT)] AS out_url,
                     ts[CAST(i AS INT)] AS anchor
              FROM la, unnest(range(1, len(us) + 1)) AS r(i)),
            ha AS (
              SELECT lower(regexp_replace(
                       regexp_extract(out_url,
                         '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1),
                       ':[0-9]+$', '')) AS host,
                     anchor
              FROM p),
            per AS (
              SELECT host, anchor, count(*) AS n
              FROM ha WHERE host <> '' GROUP BY 1, 2),
            tot AS (
              SELECT host, CAST(sum(n) AS BIGINT) AS n_anchors,
                     CAST(count(*) AS BIGINT) AS n_distinct_anchors
              FROM per GROUP BY host),
            topk AS (
              SELECT host, anchor FROM (
                SELECT host, anchor,
                       row_number() OVER (PARTITION BY host
                                          ORDER BY n DESC, anchor) AS rk
                FROM per) WHERE rk <= 64),
            csv AS (
              SELECT host, string_agg(anchor, ',' ORDER BY anchor) AS anchors_csv
              FROM topk GROUP BY host)
            SELECT i.host, i.n_links, i.n_src_pages,
                   t.n_anchors, t.n_distinct_anchors, c.anchors_csv
            FROM indeg i JOIN tot t USING (host) JOIN csv c USING (host)
            ORDER BY host
        """,
        "q56_postings": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(coalesce(text, '')),
                                                    '\\s+'), x -> x <> '') AS ws
              FROM documents),
            tok AS (SELECT doc_id, x AS term FROM w, unnest(ws) AS u(x)),
            tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
                   FROM tok GROUP BY 1, 2),
            d AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs
                  FROM tf GROUP BY 1),
            r AS (SELECT term, doc_id, tf,
                         row_number() OVER (PARTITION BY term
                                            ORDER BY tf DESC, doc_id) AS rnk
                  FROM tf)
            SELECT r.term, d.df_docs, CAST(r.rnk AS INT) AS rank,
                   r.doc_id, r.tf
            FROM r JOIN d USING (term) WHERE r.rnk <= 3
            ORDER BY term, rank
        """,
        "q57_bigram_pmi": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(coalesce(text, '')),
                                                    '\\s+'), x -> x <> '') AS ws
              FROM documents),
            uni AS (
              SELECT x AS word, CAST(count(*) AS BIGINT) AS c
              FROM w, unnest(ws) AS u(x) GROUP BY 1),
            bi AS (
              SELECT ws[CAST(i AS INT)] AS a, ws[CAST(i + 1 AS INT)] AS b,
                     CAST(count(*) AS BIGINT) AS c_ab
              FROM w, unnest(range(1, len(ws))) AS r(i)
              WHERE len(ws) >= 2 GROUP BY 1, 2
              HAVING count(*) >= 5),
            tot AS (
              SELECT (SELECT sum(c) FROM uni) AS n_uni,
                     (SELECT sum(greatest(len(ws) - 1, 0)) FROM w) AS n_bi)
            SELECT a, b, c_ab,
                   round(ln((c_ab * 1.0 / n_bi) /
                            ((ua.c * 1.0 / n_uni) * (ub.c * 1.0 / n_uni))),
                         4) AS pmi
            FROM bi
            JOIN uni ua ON ua.word = a
            JOIN uni ub ON ub.word = b, tot
            ORDER BY pmi DESC, a, b LIMIT 20
        """,
        "q59_page_metadata": """
            WITH d AS (
              SELECT event_id,
                     '<html><head><title>Article ' ||
                     CAST(event_id % 7 AS VARCHAR) || '</title>' ||
                     CASE WHEN event_id % 3 <> 0
                          THEN '<meta name="description" content="summary ' ||
                               CAST(event_id % 5 AS VARCHAR) || '">'
                          ELSE '' END ||
                     CASE WHEN event_id % 4 <> 1
                          THEN '<link rel="canonical" href="' ||
                               (__BASES__)[CAST(event_id % 7 + 1 AS INT)] ||
                               '/Articles/' || CAST(event_id % 7 AS VARCHAR) ||
                               '">'
                          ELSE '' END ||
                     '</head><body><p>text</p></body></html>' AS html
              FROM events)
            SELECT event_id,
                   coalesce(regexp_extract(html,
                     '<title[^>]*>([^<]*)</title>', 1), '') AS title,
                   coalesce(regexp_extract(html,
                     '<meta[^>]*name="description"[^>]*content="([^"]*)"', 1),
                     '') AS meta_description,
                   coalesce(regexp_extract(html,
                     '<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1),
                     '') AS canonical_url
            FROM d ORDER BY event_id
        """,
        "q60_robots_rules": """
            WITH urls AS (
              SELECT DISTINCT
                     (__BASES__)[CAST(event_id % 7 + 1 AS INT)] || '/Articles/' ||
                     CAST(event_id % 13 AS VARCHAR) AS url
              FROM events),
            u AS (
              SELECT url,
                     lower(regexp_replace(
                       regexp_extract(url,
                         '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1),
                       ':[0-9]+$', '')) AS host,
                     CASE WHEN regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) = ''
                          THEN '/'
                          ELSE regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1)
                     END AS path
              FROM urls),
            rules AS (
              SELECT (__RULE_HOSTS__)[CAST(n_nationkey % 5 + 1 AS INT)] AS host,
                     (__RULE_PREFIXES__)[CAST(n_nationkey % 4 + 1 AS INT)] AS prefix,
                     n_nationkey % 2 = 0 AS allow
              FROM nation),
            cand AS (
              SELECT u.url, u.path, r.prefix, r.allow
              FROM u LEFT JOIN rules r
                ON u.host = r.host AND starts_with(u.path, r.prefix)),
            w AS (
              SELECT url, path, prefix, allow,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY len(prefix) DESC NULLS LAST,
                                                 allow DESC NULLS LAST) AS rn
              FROM cand)
            SELECT url, path,
                   coalesce(prefix, '') AS matched_prefix,
                   coalesce(allow, true) AS allowed
            FROM w WHERE rn = 1 ORDER BY url
        """,
        # WCC as a DuckDB recursive-CTE transitive closure: every node's
        # component is the MIN over its closure — tractable because the
        # q61 pair graph is short chains by construction
        "q61_neardup_components": """
            WITH RECURSIVE
            pairs AS (
              SELECT doc_id AS a_id, doc_id + 1 AS b_id
              FROM documents WHERE doc_id % 20 < 7),
            edges AS (
              SELECT a_id AS u, b_id AS v FROM pairs
              UNION
              SELECT b_id AS u, a_id AS v FROM pairs),
            reach(node, comp) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.node)
            SELECT node, CAST(min(comp) AS BIGINT) AS component
            FROM reach GROUP BY node
        """,
        "q62_bigram_logprob": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents),
            bi AS (
              SELECT doc_id, ws[CAST(i AS INT)] AS a, ws[CAST(i + 1 AS INT)] AS b
              FROM w, unnest(range(1, len(ws))) AS r(i)
              WHERE len(ws) >= 2),
            uni AS (
              SELECT x AS a, count(*) AS c_a
              FROM w, unnest(ws) AS u(x) GROUP BY 1),
            v AS (SELECT count(DISTINCT x) AS v FROM w, unnest(ws) AS u(x)),
            model AS (
              SELECT bi.a, bi.b,
                     ln((count(*) + 1) * 1.0 / (any_value(uni.c_a) + any_value(v.v))) AS logp
              FROM bi JOIN uni USING (a), v
              GROUP BY bi.a, bi.b),
            scored AS (
              SELECT bi.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     avg(m.logp) AS a
              FROM bi JOIN model m ON bi.a = m.a AND bi.b = m.b
              GROUP BY bi.doc_id)
            SELECT d.doc_id,
                   coalesce(s.n_bigrams, 0) AS n_bigrams,
                   round(coalesce(s.a, 0.0), 4) AS avg_logprob2,
                   round(exp(-coalesce(s.a, 0.0)), 4) AS ppl2
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
    }
    from pdf_parser_spark.operators.pii import EMAIL_RE, PHONE_RE

    subs = {
        "__SNIPPETS__": _sql_list(_Q39_SNIPPETS),
        "__BASES__": _sql_list(_Q40_BASES),
        "__RULE_HOSTS__": _sql_list(_Q60_RULE_HOSTS),
        "__RULE_PREFIXES__": _sql_list(_Q60_RULE_PREFIXES),
        "__SUFFIXES__": _sql_list(_Q40_SUFFIXES),
        "__BLOCKLIST__": ", ".join("'" + h + "'" for h in _Q43_BLOCKLIST),
        "__EMAIL__": EMAIL_RE,
        "__PHONE__": PHONE_RE,
    }
    for name in ("q39_pii_scrub", "q43_host_crawl", "q53_bloom_antijoin",
                 "q55_linkgraph_hosts",
                 "q59_page_metadata", "q60_robots_rules"):
        for k, v in subs.items():
            sql[name] = sql[name].replace(k, v)
    return sql


# G11 as a DuckDB CASE chain (kept adjacent to q10; {col} substituted)
_ACCOUNT_TYPE_SQL = """
    CASE substr(regexp_extract(trim(coalesce({col}, '')), '^([0-9]+)', 1), 1, 1)
      WHEN '1' THEN 'Asset' WHEN '2' THEN 'Liability' WHEN '3' THEN 'Equity'
      WHEN '4' THEN 'Income' WHEN '5' THEN 'COGS'
      WHEN '6' THEN 'Expense' WHEN '7' THEN 'Expense'
      WHEN '8' THEN 'Expense' WHEN '9' THEN 'Expense'
      ELSE CASE WHEN regexp_matches(right(trim(coalesce({col}, '')), 6), '[0-9]')
                THEN 'Liability' ELSE 'Expense' END
    END
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: text-analytics + dedup + classification rollup over the
    sf0.001 documents table (the webtext substrate), per (lang, source)."""
    from pdf_parser_spark.operators import textstats as textstats_op

    d = _t(spark, SF_DEFAULT, "documents")
    stats = textstats_op.with_text_stats(d)
    stats = stats.withColumn("quality", textstats_op.quality_score_col())
    return (
        stats.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.countDistinct("fingerprint").alias("n_unique"),
        )
        .orderBy("lang", "source")
    )
