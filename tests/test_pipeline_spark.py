"""End-to-end Spark pipeline tests on the tiny fixture corpus.

The per-url byte-identity gate: the Spark extraction output must equal the
pure-Python oracle (extraction_core over the `text` column) for EVERY url.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark import extraction_core as core
from pdf_parser_spark import fixtures
from pdf_parser_spark.operators import extract as extract_op
from pdf_parser_spark.operators import journal as journal_op
from pdf_parser_spark.operators import pairing as pairing_op
from pdf_parser_spark.plans import pipeline

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def extracted(pages_tiny):
    df = extract_op.extract_documents(pages_tiny, keep_text=True).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def txns(pages_tiny):
    df = pipeline.transactions_pipeline(pages_tiny).cache()
    df.count()
    return df


def test_extracted_text_byte_identity(extracted):
    """Spark-extracted text == pages.text for every url (north-rule invariant)."""
    rows = extracted.select("url", "extracted_text").collect()
    assert len(rows) == 100
    mismatches = []
    for r in rows:
        doc_id = int(r["url"].rstrip(".pdf").split("/")[-1].split(".")[0])
        expected = fixtures.statement_text(doc_id)
        if r["extracted_text"] != expected:
            mismatches.append(r["url"])
    assert not mismatches, f"non-identical extraction for {mismatches[:5]}"


def test_transactions_match_pure_oracle(extracted):
    """Per-url txn rows == extraction_core oracle rows, field by field."""
    got = {
        r["url"]: r["txns"]
        for r in extracted.select("url", "txns").collect()
    }
    for doc_id in range(100):
        row = fixtures.page_row(doc_id)
        oracle_rows, _ = core.extract_transactions_from_text(row["text"])
        spark_rows = got[row["url"]]
        assert len(spark_rows) == len(oracle_rows), f"doc {doc_id} count"
        for s, o in zip(spark_rows, oracle_rows):
            assert s["date"] == o["date"] and s["memo"] == o["memo"]
            assert s["amount"] == o["amount"] and s["source"] == o["source"]


def test_strategy_dispatch_coverage(extracted):
    strategies = {r["strategy"] for r in extracted.select("strategy").distinct().collect()}
    assert {"amex", "tabular", "ocr", ""} <= strategies
    # non-amex docs yield zero transactions (placeholder parsers, B2/B3)
    bad = extracted.filter((F.col("strategy") != "amex") & (F.col("n_txns") > 0)).count()
    assert bad == 0


def test_extraction_metrics(extracted):
    m = extract_op.extraction_metrics(extracted)
    agg = m.agg(
        F.sum("docs").alias("docs"), F.sum("parse_failures").alias("fails")
    ).collect()[0]
    assert agg["docs"] == 100 and agg["fails"] == 0


def test_transactions_schema_and_datekey(txns):
    cols = set(txns.columns)
    assert {
        "txn_id", "url", "date", "dateKey", "memo", "amount", "source",
        "sourceType", "displayAmount", "account", "classificationSource",
        "pairId", "eventLeader", "pairedWith", "pairReason", "vendor_key",
    } <= cols
    # dateKey is YYYYMMDD or '' (2-digit-year dates are unparseable, G4)
    bad = txns.filter(~F.col("dateKey").rlike(r"^(\d{8})?$")).count()
    assert bad == 0
    some_empty = txns.filter(F.col("dateKey") == "").count()
    assert some_empty > 0  # fixture includes %m/%d/%y dates


def test_display_amount_semantics(txns):
    rows = txns.select("amount", "sourceType", "displayAmount", "has_bank_match").collect()
    for r in rows:
        expect = core.compute_display_amount(r["amount"], r["sourceType"], r["has_bank_match"])
        assert r["displayAmount"] == expect


def test_classification_cascade(txns):
    src = {r["classificationSource"] for r in txns.select("classificationSource").distinct().collect()}
    assert src <= {"memory:user", "memory:global", "ai"}
    # every account lands in the allowed chart (D4 force-map invariant)
    accounts = {r["account"] for r in txns.select("account").distinct().collect()}
    assert accounts <= set(core.ALLOWED_ACCOUNTS)
    # keyword rule fires for payment rows
    pay = txns.filter(F.lower("memo").contains("payment")).select("account").distinct().collect()
    assert pay and all(r["account"] == core.force_map_to_allowed(
        "Credit Card Payment", core.ALLOWED_ACCOUNTS) for r in pay)


def test_classification_memory_precedence(spark, txns):
    from pdf_parser_spark.operators import classify as classify_op

    vk = txns.select("vendor_key").first()["vendor_key"]
    user_mem = spark.createDataFrame(
        [("batch", vk, "6310 - Bank Fees")], "uid string, vendor_key string, account string"
    )
    global_mem = spark.createDataFrame(
        [(vk, "6110 - Utilities")], "vendor_key string, account string"
    )
    base = txns.drop("account", "classificationSource", "vendor_key")
    out = classify_op.classify(base, user_mem, global_mem)
    hit = out.filter(F.col("vendor_key") == vk).select("account", "classificationSource").distinct().collect()
    assert hit == [("6310 - Bank Fees", "memory:user")] or (
        len(hit) == 1 and hit[0]["account"] == "6310 - Bank Fees"
    )


def test_classify_runtime_chart(spark):
    """A runtime-supplied chart resolves through the same D4 cascade as the
    default chart — keyword targets and fallback land on the custom list,
    byte-equal, also when the names carry SQL string-literal metacharacters
    (they reach the plan as literals in expression text)."""
    from pdf_parser_spark.operators import classify as classify_op

    charts = [
        ["100 - Interest Paid", "900 - Uncategorized Expense", "200 - Fees"],
        ["300 - Owner's Draw", "400 - A\\B Fees", "900 - Uncategorized \\'Other\\'"],
    ]
    targets = {
        "interest charge": "7100 - Interest Expense",
        "monthly fee": "7110 - Loan Fees",
        "totally unknown merchant": None,
    }
    txns = spark.createDataFrame(
        [("u1", memo) for memo in targets], "uid string, memo string"
    )
    for chart in charts:
        out = {r["memo"]: r["account"]
               for r in classify_op.classify(txns, accounts=chart).collect()}
        for memo, target in targets.items():
            want = (core.force_map_to_allowed(target, chart) if target
                    else core.fallback_account(chart))
            assert out[memo] == want, (chart, memo)
    # every hostile name came back through the plan: two keyword targets
    # and the fallback
    assert set(out.values()) == set(charts[1])


def test_learning_aggregate_skewed_uids(spark):
    """D1 scale-safety: on a hot vendor key with 10^4 distinct uids the
    aggregate counts users without a materialized users array (NO
    collect_set in its plan) and promotes the argmax account."""
    from pdf_parser_spark.operators import classify as classify_op

    hot = spark.range(10_000).select(
        F.lit("hot vendor").alias("vendor_key"),
        F.when(F.col("id") % 3 == 0, "6310 - Bank Fees")
        .otherwise("6110 - Utilities")
        .alias("account"),
        F.concat(F.lit("u"), F.col("id")).alias("uid"),  # every row a new uid
    )
    cold = spark.range(4).select(
        F.lit("cold vendor").alias("vendor_key"),
        F.lit("6110 - Utilities").alias("account"),
        F.lit("u0").alias("uid"),  # one uid → never promotable
    )
    classified = hot.unionByName(cold)

    agg = classify_op.learning_aggregate(classified)
    assert "collect_set" not in agg._jdf.queryExecution().optimizedPlan().toString()
    rows = {r["vendor_key"]: r for r in agg.collect()}
    assert rows["hot vendor"]["total"] == 10_000
    assert rows["hot vendor"]["n_users"] == 10_000
    assert rows["hot vendor"]["top_account"] == "6110 - Utilities"
    assert rows["hot vendor"]["byAccount"]["6310 - Bank Fees"] == 3334
    assert rows["cold vendor"]["n_users"] == 1

    promoted = {r["vendor_key"]: r["account"]
                for r in classify_op.promotions(agg).collect()}
    assert promoted == {"hot vendor": "6110 - Utilities"}


def test_pairing_properties(txns):
    paired = txns.filter(F.col("pairId").isNotNull()).cache()
    n = paired.count()
    assert n > 0 and n % 2 == 0
    # exclusivity: each txn at most one pair row
    assert paired.select("txn_id").distinct().count() == n
    # each pairId has exactly one leader and one shadow
    per_pair = paired.groupBy("pairId").agg(
        F.count("*").alias("c"),
        F.sum(F.col("eventLeader").cast("int")).alias("leaders"),
    ).collect()
    for r in per_pair:
        assert r["c"] == 2 and r["leaders"] == 1
    # legs within tolerance and window; leader is the bank inflow
    joined = (
        paired.alias("a")
        .join(paired.alias("b"), F.col("a.pairedWith") == F.col("b.txn_id"))
        .filter(F.col("a.eventLeader"))
        .select("a.amount", "a.sourceType", "a.dateKey", "b.amount", "b.dateKey", "b.sourceType", "a.pairReason")
        .collect()
    )
    for r in joined:
        assert r[1] == "bank" and r[0] >= 0 and r[3] < 0
        assert abs(abs(r[0]) - abs(r[3])) <= 0.011
        reason = {"card": "card_payment", "loan": "loan_payment", "bank": "bank_transfer"}[r[5]]
        assert r[6] == reason


def test_pairing_symmetry(txns):
    paired = txns.filter(F.col("pairId").isNotNull())
    a = paired.select("txn_id", "pairedWith")
    b = paired.select(F.col("pairedWith").alias("txn_id"), F.col("txn_id").alias("pairedWith"))
    assert a.exceptAll(b).count() == 0


def test_journal_explode(txns):
    j = journal_op.journal_entries(txns).cache()
    base = journal_op.filter_shadows(txns)
    assert j.count() == 2 * base.count()
    # books balance per txn: debit amount == credit amount
    per_txn = j.groupBy("txnId").agg(
        F.count("*").alias("c"), F.countDistinct("amount").alias("d")
    ).collect()
    for r in per_txn:
        assert r["c"] == 2 and r["d"] == 1
    # negative txns put account on the credit leg (H1 sign logic)
    neg = txns.filter((F.col("amount") < 0) & F.col("pairId").isNull()).first()
    if neg:
        legs = {r["type"]: r["account"] for r in j.filter(F.col("txnId") == neg["txn_id"]).collect()}
        assert legs["Credit"] == neg["account"] and legs["Debit"] == neg["source"]


def test_journal_matches_pure_oracle(txns):
    sample = txns.orderBy("txn_id").limit(50).collect()
    as_dicts = [
        {
            "id": r["txn_id"], "date": r["date"], "memo": r["memo"],
            "amount": r["amount"], "account": r["account"], "source": r["source"],
            "eventLeader": r["eventLeader"], "pairReason": r["pairReason"],
        }
        for r in sample
    ]
    oracle = core.journal_entries(as_dicts)
    spark_j = journal_op.journal_entries(
        txns.orderBy("txn_id").limit(50)
    ).orderBy("txnId", "type").collect()
    oracle_sorted = sorted(oracle, key=lambda x: (x["txnId"], x["type"]))
    assert len(spark_j) == len(oracle_sorted)
    for s, o in zip(spark_j, oracle_sorted):
        assert (s["account"], s["type"], s["amount"]) == (o["account"], o["type"], o["amount"])


def test_flagship_summary(txns):
    s = pipeline.flagship_summary(txns).collect()
    assert len(s) > 0
    assert sum(r["n_txns"] for r in s) == txns.count()


def test_pairing_plan_single_join_subtree(spark):
    """Regression guard for the one-pass argmin formulation: the physical
    plan of matched_pairs must contain exactly ONE banded join (the
    candidate self-join) — the old two-branch argmin re-executed it once
    per direction — and no row_number window over the candidate fan-out.

    Input is a fresh createDataFrame (not the cached pipeline output) so
    the formatted plan contains only pairing's own operators, not the
    cached upstream chain's."""
    import io
    from contextlib import redirect_stdout

    txns = spark.createDataFrame(
        [
            ("t1", 50.0, "20240101", "bank"),
            ("t2", -50.0, "20240102", "card"),
            ("t3", 20.0, "20240105", "bank"),
            ("t4", -20.0, "20240104", "loan"),
        ],
        "txn_id string, amount double, dateKey string, sourceType string",
    )
    df = pairing_op.matched_pairs(txns)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue().split("\n\n")[0]
    joins = [
        ln
        for ln in plan.splitlines()
        if ("HashJoin" in ln or "SortMergeJoin" in ln) and "Reused" not in ln
    ]
    assert len(joins) == 1, f"expected 1 join in matched_pairs plan, got:\n{plan}"
    assert "Window" not in plan


def _barrier_reads(plan) -> int:
    """InMemoryRelation leaves of a logical plan that read the pipeline's
    barrier (the only cached relation carrying sourceType)."""
    if plan.nodeName() == "InMemoryRelation":
        out = plan.output()
        return int(any(out.apply(i).name() == "sourceType" for i in range(out.size())))
    kids = plan.children()
    return sum(_barrier_reads(kids.apply(i)) for i in range(kids.size()))


def test_pipeline_reads_barrier_from_cache(pages_tiny):
    """Every branch of the tail reads the ONE persisted barrier: the wide
    join's base side, the flags probe and build sides, and pairing's
    leaders and shadows — 5 cached reads, no re-run of extraction. Building
    a branch through spark.sql's {t} DataFrame formatter drops the temp
    view it registers, which uncaches every entry with the barrier's plan.

    The input is filtered so that its plan differs from the `txns`
    fixture's, whose cached output would otherwise stand in for the whole
    pipeline."""
    out = pipeline.transactions_pipeline(pages_tiny.where("html IS NOT NULL"))
    assert _barrier_reads(out._jdf.queryExecution().withCachedData()) == 5


def test_pipeline_plan_build_round_trips(pages_tiny, monkeypatch):
    """Building the plan is a fixed Python-side cost per chain pass, paid
    while every executor waits: the tail's expressions are SQL text, so a warm
    transactions_pipeline call costs ~750–950 Python→JVM round trips
    (py4j's release of garbage proxies adds up to ~200 of them); the same
    chain built from F.* Column calls costs ~5,500–6,800."""
    import gc

    from py4j.clientserver import ClientServerConnection

    pipeline.transactions_pipeline(pages_tiny)
    gc.collect()
    sent = 0
    send = ClientServerConnection.send_command

    def counting(self, command):
        nonlocal sent
        sent += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    pipeline.transactions_pipeline(pages_tiny)
    monkeypatch.undo()
    assert 0 < sent <= 1600, sent


def test_pdf_magic_routes_regardless_of_url(spark):
    """PDF bytes at a non-.pdf url must take the PDF path (or fail into
    the funnel) — never be regex-parsed as HTML with parse_failed=False."""
    from pdf_parser_spark.operators import extract as extract_op

    rows = [
        ("https://x.com/statement?id=7", bytearray(b"%PDF-1.4\ngarbage")),
        ("https://x.com/page.html", bytearray(b"<html><p>hello world</p></html>")),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r for r in extract_op.extract_documents(pages).collect()}
    assert got["https://x.com/statement?id=7"]["payload_kind"] == "pdf"
    assert got["https://x.com/page.html"]["payload_kind"] == "html"
    # truncated pdf: funnel, not silent html mis-parse — the codec's decode
    # error yields the empty failure row, field by field
    bad = got["https://x.com/statement?id=7"]
    assert bad["parse_failed"] is True
    assert bad["n_txns"] == 0 and bad["txns"] == []
    assert bad["extracted_text"] == "" and bad["spans"] == []
    assert bad["strategy"] == ""
    assert bad["source_account"] == "" and bad["closing_date"] == ""


def test_poison_document_lands_in_funnel_not_job_failure(monkeypatch):
    """Any per-document exception must produce a parse_failed=True record,
    not propagate (a task failure would kill the whole job). _extract_one
    is exercised in-process — the same function the worker runs."""
    from pdf_parser_spark import html_extract
    from pdf_parser_spark.operators import extract as extract_op

    def boom(payload):
        raise IndexError("pathological markup")

    monkeypatch.setattr(html_extract, "extract_main_text", boom)
    rec = extract_op._extract_one("https://bad.com/b", b"<html>x</html>", False)
    assert rec["parse_failed"] is True
    assert rec["txns"] == [] and rec["extracted_text"] == ""
    assert rec["url"] == "https://bad.com/b" and rec["bytes_in"] == 14
    # schema completeness: the failure record must satisfy EXTRACT_SCHEMA
    # (missing keys would fail the Arrow conversion for the whole batch)
    rec["lang"] = None
    rec["source_type_hint"] = None
    fields = [f.split(":")[0].strip().split(" ")[0]
              for f in ("url,lang,source_type_hint,payload_kind,strategy,"
                        "source_account,closing_date,extracted_text,bytes_in,"
                        "chars_out,n_blocks,n_txns,parse_failed,txns,spans"
                        ).split(",")]
    assert set(fields) <= set(rec.keys())


def test_classify_memory_latest_wins_with_seq(spark, txns):
    """Append-style memory tables (re-mappings appended, not upserted)
    carrying a recency column resolve to the NEWEST mapping — matching the
    reference's upsert semantics — not the lexicographically greatest."""
    from pdf_parser_spark.operators import classify as classify_op

    vk = txns.select("vendor_key").first()["vendor_key"]
    # newest mapping ("6110 - Utilities") sorts BEFORE the stale one
    # ("6310 - Bank Fees"), so max(account) would wrongly pick the stale row
    user_mem = spark.createDataFrame(
        [("batch", vk, "6310 - Bank Fees", 1), ("batch", vk, "6110 - Utilities", 2)],
        "uid string, vendor_key string, account string, seq int",
    )
    base = txns.drop("account", "classificationSource", "vendor_key")
    out = classify_op.classify(base, user_mem)
    hit = out.filter(F.col("vendor_key") == vk).select("account").distinct().collect()
    assert [r["account"] for r in hit] == ["6110 - Utilities"]
    # no fan-out: duplicate memory rows must not duplicate transactions
    assert out.count() == base.count()

    # without a recency column the dedup stays deterministic (max)
    no_seq = user_mem.drop("seq")
    out2 = classify_op.classify(base, no_seq)
    hit2 = out2.filter(F.col("vendor_key") == vk).select("account").distinct().collect()
    assert [r["account"] for r in hit2] == ["6310 - Bank Fees"]
    assert out2.count() == base.count()


def test_vendor_key_native_parity(spark):
    """The native vendor_key_sql must agree byte-for-byte with the Python
    reference twin (core.vendor_key) — it replaced the chain's only
    post-extraction Python stage, so its parity IS the byte-identity story
    for classification keys. Cases cover every clause: emails, urls,
    digits/punct, short words, unicode whitespace (nbsp, ideographic),
    casing, empties, None, and statement-shaped memos."""
    from pdf_parser_spark.operators import classify as classify_op

    memos = [
        None, "", "  ", "ab", "abc", "AMAZON MKTPL*2K3LL0", "Foo-Bar_baz 99",
        "pay bob@example.com now", "see https://x.co/abc?q=1 details",
        "CHECKCARD 0712 STARBUCKS #1234 SEATTLE WA",
        "a big gap", "tab\tsep\tmemo", "newline\nmemo",
        " leading nbsp", "trailing nbsp ",
        "ideographic　space", "mixed   separators   here",
        "ALL CAPS VENDOR NAME HERE MORE WORDS",
        "über café naïve",  # non-ASCII letters → stripped to spaces
        "one two three four five six seven",
        "aa bb cc",  # all short → unknown vendor
        "x" * 300, "$12.34 (45.00) #tag",
        "email@bad@double.com stray",
        "http://lone.url", "https://end.with.ws after",
    ]
    from pdf_parser_spark import extraction_core as core

    df = spark.createDataFrame([(m,) for m in memos], "memo string")
    got = {
        r["memo"]: r["vk"]
        for r in df.select(
            "memo", F.expr(classify_op.vendor_key_sql("memo")).alias("vk")
        ).collect()
    }
    for m in memos:
        assert got[m] == core.vendor_key(m), repr(m)


def test_vendor_key_native_parity_hypothesis(spark):
    """Property check over adversarial unicode memos, one Spark job."""
    from hypothesis import given, settings, HealthCheck, strategies as st
    from pdf_parser_spark.operators import classify as classify_op
    from pdf_parser_spark import extraction_core as core

    collected = []

    @settings(max_examples=300, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.text(
        alphabet=st.characters(
            codec="utf-8",
            categories=("L", "N", "P", "S", "Z", "C"),
        ),
        max_size=60,
    ))
    def gather(s):
        collected.append(s)

    gather()
    # lone surrogates can't round-trip through Arrow; utf-8 codec above
    # already excludes them
    df = spark.createDataFrame([(m,) for m in collected], "memo string")
    rows = df.select(
        "memo", F.expr(classify_op.vendor_key_sql("memo")).alias("vk")
    ).collect()
    for r in rows:
        assert r["vk"] == core.vendor_key(r["memo"]), repr(r["memo"])
