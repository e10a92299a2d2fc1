"""Physical-plan audit: assert the plans we want, record them in PLANS.md.

For each audited query: capture .explain("formatted"), check structural
properties (filter/column pushdown reaching the parquet scan, broadcast
joins where intended, whole-stage codegen coverage, absence of cartesian
products), and write a summary + evidence excerpts. Exit code 1 if any
assertion fails — this is a test of plan shape, not of results.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pdf_parser_spark.session import get_spark

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name, df, require=(), forbid=("CartesianProduct", "BroadcastNestedLoopJoin")):
    plan = plan_of(df)
    problems = []
    for pat in require:
        if not re.search(pat, plan):
            problems.append(f"MISSING {pat}")
    for pat in forbid:
        if re.search(pat, plan):
            problems.append(f"FORBIDDEN {pat}")
    return plan, problems


def stable_ids(text: str) -> str:
    """Renumber expression ids (``#123``, ``#123L``) and ``[plan_id=N]`` in
    order of first appearance. Spark draws both from session-wide
    counters, so an unchanged plan prints different numbers on every run;
    renumbered, a clean rerun leaves PLANS.md as it was while references
    inside one plan still line up."""
    for pat in (r"(?<=#)\d+", r"(?<=plan_id=)\d+"):
        seen: dict[str, int] = {}
        text = re.sub(
            pat, lambda m: str(seen.setdefault(m.group(), len(seen) + 1)), text
        )
    return text


def section(name: str, status: str, plan: str) -> str:
    """PLANS.md section: the first 40 plan lines, ids renumbered."""
    head = stable_ids("\n".join(plan.splitlines()[:40]))
    return f"## {name} — {status}\n\n```\n{head}\n```\n"


def main() -> None:
    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="plan-audit")
    qs = entrymod.queries()
    failures = 0
    sections = []

    checks = {
        # D-family rollup: partial agg before the shuffle + codegen + pruned scan
        # note: under AQE the formatted plan is pre-finalization and shows no
        # codegen annotations; codegen coverage is asserted on the non-AQE
        # single-stage plans (q09/q20) where the * / [codegen id] marks appear
        "q01_flagship_rollup": dict(
            require=[
                r"partial_sum",                     # map-side combine
                r"ReadSchema: struct<l_quantity",   # column pruning at scan
            ],
        ),
        # pushdown: the filter must reach the parquet scan
        # the merged window suite still pushes the R filter to its branch scan
        "q06_order_windows": dict(
            # the join adds IsNotNull(l_orderkey) to the pushed list
            require=[r"PushedFilters: \[IsNotNull\(l_returnflag\), EqualTo\(l_returnflag,R\)"],
        ),
        # memory cascade: both dimension joins broadcast
        "q07_memory_cascade": dict(require=[r"BroadcastHashJoin.*\n(.|\n)*BroadcastHashJoin"]),
        # banded pairing: equi-joins only, no cartesian/nested-loop
        "q13_transfer_pairing": dict(require=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"]),
        # bank-match probe inside the display-amount merge: banded
        # equi-join, no cartesian
        "q17_display_amount": dict(require=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
                                   forbid=[r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
        # journal explode: pure generate, single stage, codegen
        "q09_journal_explode": dict(require=[r"Generate", r"codegen id : \d"]),
        # exact dedupe: partial agg on md5 before shuffle
        "q14_dedup_exact": dict(require=[r"partial_min|partial_first|partial_count"]),
        # text stats + BPE tokens: native regexps in codegen, no python udf
        "q15_token_stats": dict(require=[r"codegen id : \d"], forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # scalar-function suites: fully native, zero Python in the plan
        "q11_txn_scalars": dict(forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        "q32_scalar_cleaners": dict(forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # D4 mapping: cascade computed once per DISTINCT normalized input
        # (higher-order-function projection is interpreted, so per-row cost
        # must be paid #distinct times, not #rows times), then an equi-join
        # back on the semantic key — AQE broadcasts the tiny mapping; the
        # big side is never shuffled (the only Exchanges carry the distinct
        # single-column aggregate) and carries no Python
        "q31_account_mapping": dict(
            require=[r"BroadcastHashJoin", r"HashAggregate"],
            forbid=[
                r"SortMergeJoin", r"CartesianProduct",
                r"BatchEvalPython", r"ArrowEvalPython",
            ],
        ),
        # TF-IDF: partial aggregation below both exchanges + top-k as
        # TakeOrderedAndProject (never a global sort), all JVM-side
        "q35_tfidf_terms": dict(
            require=[r"partial_count", r"TakeOrderedAndProject"],
            forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
        ),
        # stratified sample: rank-limit pushdown prunes to k rows per
        # stratum BEFORE the shuffle (WindowGroupLimit), one exchange total
        "q36_stratified_sample": dict(
            require=[r"(?s)WindowGroupLimit.*Exchange \(\d+\)"],
            forbid=[
                r"(?s)Exchange \(\d+\).*Exchange \(\d+\)",
                r"BatchEvalPython", r"ArrowEvalPython",
            ],
        ),
        # sessionization: the rollup reuses the window's hash partitioning
        # on user_id — exactly one exchange in the whole plan
        "q37_sessionization": dict(
            require=[r"Window"],
            forbid=[
                r"(?s)Exchange \(\d+\).*Exchange \(\d+\)",
                r"BatchEvalPython", r"ArrowEvalPython",
            ],
        ),
        # repetition signals: explode → per-doc-keyed hash aggs, no Python
        # repetition signals: row-local sorted-array fold — a pure
        # projection; no explode, no aggregation exchange, no Python
        "q38_repetition_signals": dict(
            forbid=[
                r"Exchange",
                r"Generate",
                r"BatchEvalPython",
                r"ArrowEvalPython",
                r"CartesianProduct",
            ],
        ),
        # PII scrub: a pure projection — zero exchanges, zero Python
        "q39_pii_scrub": dict(
            forbid=[r"Exchange", r"BatchEvalPython", r"ArrowEvalPython"],
        ),

        # exact percentiles: map-side sketch partials before the exchange
        "q42_length_percentiles": dict(
            require=[r"partial_percentile"],
            forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
        ),
        # canonicalize + rollup + blocklist merge: map-side partials and a
        # broadcast LEFT ANTI — the corpus never shuffles through the join
        "q43_host_crawl": dict(
            require=[r"partial_count", r"BroadcastHashJoin", r"LeftAnti"],
            forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
        ),
        # chunking + global index merge: one Generate for the chunks, the
        # index via hash-bucketed window + broadcast offset join — and
        # NEVER the single-partition window the naive form would emit
        "q44_chunk_index": dict(
            require=[r"Generate", r"hashpartitioning\(_bucket", r"BroadcastHashJoin"],
            forbid=[
                r"SinglePartition", r"rangepartitioning",
                r"BatchEvalPython", r"ArrowEvalPython",
            ],
        ),
        # decontamination: eval grams broadcast to the corpus side — the
        # corpus is never shuffled by gram, and nothing is Python
        "q46_decontamination": dict(
            require=[r"BroadcastHashJoin", r"Generate"],
            forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
        ),
        # unigram LM + ppl buckets merge: vocab-sized model broadcast back
        # to the token stream (corpus never shuffled by word beyond the
        # partial-agg count); the bucket ntile is the only per-lang window
        "q47_lm_quality": dict(
            require=[r"BroadcastHashJoin", r"partial_count", r"Window"],
            forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
        ),
        # mixing weights: corpus collapses to |domains| rows via map-side
        # partials; the 1-row total is a broadcast, never a shuffle
        "q48_mixing_weights": dict(
            require=[r"partial_count|partial_sum"],
            forbid=[r"BatchEvalPython", r"ArrowEvalPython"],
        ),
        # duplicate passages: the one dedup op that must shuffle by gram —
        # but grams stay native (Generate), counting is map-side-combinable,
        # and no Python runs anywhere
        "q49_dup_passages": dict(
            require=[r"Generate", r"partial_count"],
            forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
        ),
        # priority sampling: per-partition top-k merge — NEVER a global sort
        # or single-partition window
        "q50_weighted_sample": dict(
            require=[r"TakeOrderedAndProject"],
            forbid=[
                r"Exchange", r"Window", r"SinglePartition",
                r"BatchEvalPython", r"ArrowEvalPython",
            ],
        ),

        # corpus shuffle: same bucket-ranked shape as q45 — no
        # single-partition window, no range partitioning
        "q52_corpus_shuffle": dict(
            require=[r"hashpartitioning\(_bucket", r"BroadcastHashJoin"],
            forbid=[
                r"SinglePartition", r"rangepartitioning",
                r"SortMergeJoin", r"BatchEvalPython", r"ArrowEvalPython",
            ],
        ),
        # bloom-pruned blocklist: Arrow-batched bitmap probe (MapInPandas)
        # routes only possible members into the exact anti-join. The join
        # itself stays SHUFFLE-shaped on purpose — the operator's premise is
        # a filter side too big to broadcast-HASH (10^8 keys), so the
        # at-scale plan is an equi-SMJ over |members| + FPR·|big| rows, not
        # a broadcast; at sf0.01 AQE converts it to broadcast at runtime.
        # Assert: probe present, anti-join is an equi-join, zero row-Python.
        "q53_bloom_antijoin": dict(
            require=[
                r"MapInPandas",
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) LeftAnti",
            ],
            forbid=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                    r"BatchEvalPython"],
        ),
        # passage dedup: passages built row-local (Generate, codegen); the
        # dedup exchange carries a partial min(struct) keyed by the passage
        # hash; no window over the full chunk table, no cartesian
        "q54_passage_dedup": dict(
            require=[r"Generate", r"partial_min"],
            forbid=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                    r"BatchEvalPython", r"ArrowEvalPython", r"MapInPandas"],
        ),
        # linkgraph host merge: regexp extraction in codegen, host-keyed
        # aggregates with partials, and the anchor top-k prunes pre-shuffle
        # (WindowGroupLimit, the round-4 cap); zero Python
        "q55_linkgraph_hosts": dict(
            require=[r"Generate", r"partial_count", r"WindowGroupLimit"],
            forbid=[r"BatchEvalPython", r"ArrowEvalPython", r"MapInPandas",
                    r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        # postings: per-term top-k must prune pre-shuffle (WindowGroupLimit),
        # the (term, doc) aggregate must have map-side partials
        "q56_postings": dict(
            require=[r"WindowGroupLimit", r"partial_count"],
            forbid=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                    r"BatchEvalPython", r"ArrowEvalPython", r"MapInPandas"],
        ),
        # bigram PMI: row-local Generate + top-k as TakeOrdered, never a
        # global sort; unigram decorations are joins but no row-Python
        "q57_bigram_pmi": dict(
            require=[r"Generate", r"TakeOrderedAndProject"],
            forbid=[r"CartesianProduct", r"BatchEvalPython",
                    r"ArrowEvalPython", r"MapInPandas"],
        ),

        # page metadata: pure native-regexp projection, zero Python, no joins
        "q59_page_metadata": dict(
            forbid=[r"Join", r"CartesianProduct", r"BatchEvalPython",
                    r"ArrowEvalPython", r"MapInPandas"],
        ),
        # robots rules: broadcast rules side with a residual prefix
        # predicate on the host equi-join; the winner is a partial+final
        # SortAggregate (max_by over struct), never a corpus-wide window
        "q60_robots_rules": dict(
            require=[r"BroadcastHashJoin LeftOuter"],
            forbid=[r"SortMergeJoin", r"CartesianProduct",
                    r"BroadcastNestedLoopJoin", r"BatchEvalPython",
                    r"ArrowEvalPython", r"MapInPandas"],
        ),
        # span dedup: gram fan-out is a Generate; the dedup argmin carries
        # a map-side partial_min; interval merge/stitch are higher-order
        # projections — no Python, no cartesian anywhere
        "r27_span_dedup": dict(
            require=[r"Generate", r"partial_min"],
            forbid=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                    r"BatchEvalPython", r"ArrowEvalPython"],
        ),
        # per-domain cap: rank<=k compiles to WindowGroupLimit (per-mapper
        # top-k pruning BEFORE the host exchange); no Python in the plan
        "r29_per_host_cap": dict(
            require=[r"WindowGroupLimit"],
            forbid=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                    r"BatchEvalPython", r"ArrowEvalPython"],
        ),
        # as-of join: merge formulation — union + ONE exchange + window;
        # no join operator at all, so no range-join blowup is possible
        "q41_asof_join": dict(
            require=[r"Union", r"Window"],
            forbid=[
                r"(?s)Exchange \(\d+\).*Exchange \(\d+\)",
                r"SortMergeJoin", r"BroadcastNestedLoopJoin", r"CartesianProduct",
                r"BatchEvalPython", r"ArrowEvalPython",
            ],
        ),
    }

    for name, spec in checks.items():
        if name == "q57_bigram_pmi":
            # the contract entry checkpoints its tiny result (cache
            # lifecycle); audit the still-lazy plan instead
            from pdf_parser_spark.operators import textstats as _ts

            df = _ts.bigram_pmi(
                spark.read.parquet(os.path.join(SF, "documents.parquet")),
                top_k=20, min_count=5, materialize=False,
            )
        else:
            df = qs[name](spark, SF)
        plan, problems = audit(name, df, **spec)
        status = "OK" if not problems else "FAIL " + "; ".join(problems)
        print(f"{status:60s} {name}")
        if problems:
            failures += 1
        sections.append(section(name, status, plan))

    # ad-hoc: sequence packing (r24) — the global prefix sum must use the
    # order-aligned bucket scheme, never a SinglePartition window, and the
    # pack fan-out is a Generate, not a join.
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators import chunking as chunking_op

    docs_tbl = spark.read.parquet(f"{SF}/documents.parquet")
    pk = chunking_op.pack_sequences(
        chunking_op.chunk_documents(docs_tbl, chunk_tokens=40, overlap=0)
        .withColumn("ord", (F.col("doc_id") * 1000 + F.col("chunk_idx")).cast("long")),
        seq_len=256, order_col="ord", id_col="ord", num_buckets=8,
    )
    plan, problems = audit(
        "r24_sequence_packing", pk,
        require=[
            r"Generate",                      # pack fan-out is a Generate, not a join
            r"hashpartitioning\(_bucket",     # prefix sum shuffles by order bucket
        ],
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition"),
    )
    status = "OK" if not problems else "FAIL " + "; ".join(problems)
    print(f"{status:60s} r24_sequence_packing")
    if problems:
        failures += 1
    sections.append(section("r24_sequence_packing", status, plan))

    # ad-hoc: mergeable sketches (r33) — the HLL build must partial-max
    # map-side before its (group, register) exchange; the KMV build must
    # prune each mapper to its local bottom-k (WindowGroupLimit) before
    # the window exchange; neither may drop into Python.
    from pdf_parser_spark.operators import sketches as sketches_op

    toks_df = docs_tbl.select(
        "lang", F.explode(F.split(F.lower("text"), r"[^a-z0-9]+")).alias("tok")
    ).filter(F.length("tok") > 0)
    for name, df, require in (
        (
            "sketch_hll_build",
            sketches_op.hll_build(toks_df, ["lang"], "tok"),
            [r"partial_max", r"hashpartitioning\(lang"],
        ),
        (
            "sketch_kmv_build",
            sketches_op.kmv_build(toks_df, ["lang"], "tok", k=32),
            [r"WindowGroupLimit"],
        ),
        (
            "mirror_hosts_banded",
            __import__(
                "pdf_parser_spark.operators.mirrors", fromlist=["mirror_hosts"]
            ).mirror_hosts(
                docs_tbl.select(
                    F.concat(F.col("source"), F.lit(".x")).alias("host"), "text"
                ),
                k=16,
                m=4,
            ),
            # candidates must come from an equi-join on the shared minimum
            [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        ),
        (
            "gopher_rules_rowlocal",
            __import__(
                "pdf_parser_spark.operators.textstats", fromlist=["gopher_rules"]
            ).gopher_rules(docs_tbl),
            [],
        ),
        (
            # fetch scheduling: the per-host cap must prune as
            # WindowGroupLimit before the host exchange — a megahost may
            # not widen the shuffle past the cap
            "fetch_schedule_capped",
            __import__(
                "pdf_parser_spark.operators.weburls",
                fromlist=["schedule_fetches"],
            ).schedule_fetches(
                docs_tbl.select(
                    F.concat(
                        F.lit("https://"), F.col("source"), F.lit(".com/d/"),
                        F.col("doc_id").cast("string"),
                    ).alias("url")
                ),
                spark.createDataFrame(
                    [("src1.com", 5.0)], "host string, crawl_delay_s double"
                ),
                per_host_cap=50,
            ),
            [r"WindowGroupLimit"],
        ),
        (
            # host-boilerplate strip: the top_k rank filter must prune as
            # WindowGroupLimit before the host window's exchange, and the
            # whole operator stays native (no Python eval anywhere)
            "host_boilerplate_strip",
            __import__(
                "pdf_parser_spark.operators.boilerplate",
                fromlist=["strip_host_boilerplate"],
            ).strip_host_boilerplate(
                docs_tbl.select(F.col("source").alias("host"), "text")
            ),
            [r"WindowGroupLimit"],
        ),
    ):
        forbid = ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]
        if name == "gopher_rules_rowlocal":
            forbid.append("Exchange")  # zero-exchange contract
        plan, problems = audit(name, df, require=require, forbid=tuple(forbid))
        status = "OK" if not problems else "FAIL " + "; ".join(problems)
        print(f"{status:60s} {name}")
        if problems:
            failures += 1
        sections.append(section(name, status, plan))

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write(
            "# PLANS — physical-plan audit (scripts/explain_audit.py)\n\n"
            "Structural assertions on the executed plans: predicate/column\n"
            "pushdown reaches the parquet scans, small dimensions broadcast,\n"
            "hot expressions stay in whole-stage codegen, and no tolerance\n"
            "join degenerates to a cartesian product. First 40 plan lines\n"
            "per query recorded as evidence.\n\n" + "\n".join(sections)
        )
    print(f"FAILURES: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
