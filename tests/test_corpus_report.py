"""CorpusRollup semantics: the merged-across-batches report must EQUAL
the one-shot report over the union (exact sketch mergeability end to
end through the snapshot table), estimates must track exact values, and
overlap reads must touch only rollup rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.plans.corpus_report import CorpusRollup


def _docs(spark, lo, hi):
    # deterministic docs over 2 langs; vocabulary grows with id so
    # distinct-token counts are nontrivial
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        F.concat(
            F.lit("common words plus unique"),
            F.lit(" w"), (F.col("id") % 500).cast("string"),
            F.lit(" x"), (F.col("id") % 97).cast("string"),
            F.lit(" filler "),
            F.repeat(F.lit("pad "), (F.col("id") % 13).cast("int")),
        ).alias("text"),
    )


def test_incremental_equals_oneshot(spark, tmp_path):
    a, b = _docs(spark, 0, 600), _docs(spark, 600, 1200)

    inc = CorpusRollup(spark, str(tmp_path / "inc"))
    inc.ingest(a, batch_id=1)
    inc.ingest(b, batch_id=2)

    oneshot = CorpusRollup(spark, str(tmp_path / "one"))
    oneshot.ingest(a.unionAll(b), batch_id=99)

    ri = {r["lang"]: r.asDict() for r in inc.report().collect()}
    ro = {r["lang"]: r.asDict() for r in oneshot.report().collect()}
    assert set(ri) == {"en", "de"}
    for lang in ri:
        for col in ("n_docs", "n_tokens", "n_chars", "distinct_tokens_est",
                    "distinct_tokens_kmv", "len_p50", "len_p99"):
            assert ri[lang][col] == ro[lang][col], (lang, col)
    assert ri["en"]["n_batches"] == 2 and ro["en"]["n_batches"] == 1


def test_replay_after_expiry_is_a_noop(spark, tmp_path):
    """A rollup reopened after expire_snapshots still treats a replayed
    batch id as committed: no new snapshot, no double counting."""
    path = str(tmp_path / "r")
    roll = CorpusRollup(spark, path)
    roll.ingest(_docs(spark, 0, 100), batch_id=1)
    v = roll.ingest(_docs(spark, 100, 200), batch_id=2)
    roll.table.expire_snapshots(keep_last=1)
    again = CorpusRollup(spark, path)
    assert again.ingested_batches() == {1, 2}
    assert again.ingest(_docs(spark, 0, 100), batch_id=1) == v
    assert again.table.current_version() == v
    assert sum(r["n_docs"] for r in again.report().collect()) == 200


def test_direct_double_ingest_is_noop(spark, tmp_path):
    roll = CorpusRollup(spark, str(tmp_path / "r"))
    docs = _docs(spark, 0, 80)
    v1 = roll.ingest(docs, batch_id=7)
    v2 = roll.ingest(docs, batch_id=7)  # crash-replay of a committed batch
    assert v1 == v2
    total = roll.report().agg(F.sum("n_docs")).first()[0]
    assert total == 80  # not 160


def test_estimates_track_exact(spark, tmp_path):
    docs = _docs(spark, 0, 1200)
    roll = CorpusRollup(spark, str(tmp_path / "r"))
    roll.ingest(docs, batch_id=1)
    rep = {r["lang"]: r.asDict() for r in roll.report().collect()}

    toks = docs.select(
        "lang", F.explode(F.split(F.lower("text"), r"[^a-z0-9]+")).alias("tok")
    ).filter(F.length("tok") > 0)
    exact = {
        r["lang"]: r.asDict()
        for r in toks.groupBy("lang")
        .agg(F.countDistinct("tok").alias("d"), F.count("*").alias("n"))
        .collect()
    }
    for lang in rep:
        assert rep[lang]["n_tokens"] == exact[lang]["n"]  # counters are exact
        d = exact[lang]["d"]
        assert abs(rep[lang]["distinct_tokens_est"] - d) / d < 0.05
        assert abs(rep[lang]["distinct_tokens_kmv"] - d) / d < 0.15
    # length quantiles within DDSketch tolerance of the true percentile
    for lang in rep:
        lens = docs.filter(F.col("lang") == lang).select(
            F.length("text").cast("double").alias("L")
        )
        p50, p99 = lens.stat.approxQuantile("L", [0.5, 0.99], 0.0)
        assert abs(rep[lang]["len_p50"] - p50) / p50 < 0.02
        assert abs(rep[lang]["len_p99"] - p99) / p99 < 0.02


def test_overlap_between_rollups(spark, tmp_path):
    # two corpora sharing the id%500 vocabulary slice but not the id%97+offset
    a = CorpusRollup(spark, str(tmp_path / "a"))
    b = CorpusRollup(spark, str(tmp_path / "b"))
    a.ingest(_docs(spark, 0, 600), batch_id=1)
    b.ingest(_docs(spark, 300, 900), batch_id=1)
    out = {r["lang"]: r.asDict() for r in a.overlap(b).collect()}
    for lang in ("en", "de"):
        assert 0.3 < out[lang]["jaccard_est"] <= 1.0
        assert out[lang]["shared_distinct_est"] > 0


def test_report_reads_only_rollup_rows(spark, tmp_path):
    """The report must scan the rollup table, never the raw batch — the
    raw frame is unpersisted/deleted after ingest, so a report that
    re-reads it would fail."""
    roll = CorpusRollup(spark, str(tmp_path / "r2"))
    raw = _docs(spark, 0, 300).localCheckpoint()  # sever from Range
    roll.ingest(raw, batch_id=1)
    # report depends only on table files on disk
    assert roll.report().count() == 2
    # version pinning: a second batch doesn't change a v1-pinned report
    v1 = roll.table.current_version()
    roll.ingest(_docs(spark, 300, 600), batch_id=2)
    rep_v1 = roll.report(version=v1).agg(F.sum("n_docs")).first()[0]
    rep_v2 = roll.report().agg(F.sum("n_docs")).first()[0]
    assert rep_v1 == 300 and rep_v2 == 600


def test_cache_tokens_off_is_identical(spark, tmp_path):
    a = CorpusRollup(spark, str(tmp_path / "c1"), cache_tokens=True)
    b = CorpusRollup(spark, str(tmp_path / "c2"), cache_tokens=False)
    docs = _docs(spark, 0, 400)
    a.ingest(docs, batch_id=1)
    b.ingest(docs, batch_id=1)
    ra = sorted(tuple(r) for r in a.report().collect())
    rb = sorted(tuple(r) for r in b.report().collect())
    assert ra == rb


def test_tokenless_group_keeps_exact_counters(spark, tmp_path):
    """A group whose batch yields zero tokens (punctuation-only text)
    must keep its exact n_docs/n_chars in the rollup and the merged
    report — inner joins would silently drop it."""
    rows = [
        (1, "xx", "!!! ??? ..."),       # no letters/digits → no tokens
        (2, "xx", "@@@@"),
        (3, "en", "real words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    roll = CorpusRollup(spark, str(tmp_path / "t"))
    roll.ingest(docs, batch_id=1)
    roll.ingest(docs.filter(F.col("doc_id") == 1), batch_id=2)  # xx again
    rep = {r["lang"]: r.asDict() for r in roll.report().collect()}
    assert rep["xx"]["n_docs"] == 3 and rep["xx"]["n_tokens"] == 0
    assert rep["xx"]["n_chars"] == len("!!! ??? ...") + len("@@@@") + len("!!! ??? ...")
    assert rep["xx"]["distinct_tokens_est"] == 0.0
    assert rep["en"]["n_docs"] == 1 and rep["en"]["n_tokens"] == 3


def test_unicode_tokenization(spark, tmp_path):
    """Cyrillic/accented words tokenize as words under the default
    Unicode letter/number pattern."""
    rows = [(1, "ru", "слово и ещё слово"), (2, "fr", "café déjà café")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    roll = CorpusRollup(spark, str(tmp_path / "u"))
    roll.ingest(docs, batch_id=1)
    rep = {r["lang"]: r.asDict() for r in roll.report().collect()}
    assert rep["ru"]["n_tokens"] == 4 and rep["ru"]["distinct_tokens_kmv"] == 3.0
    assert rep["fr"]["n_tokens"] == 3 and rep["fr"]["distinct_tokens_kmv"] == 2.0
