"""Benchmark decontamination — flag training docs that overlap an eval set.

Before a web corpus is used for training, documents sharing long word
n-grams with evaluation benchmarks must be flagged/removed, or downstream
eval numbers are meaningless (the standard n-gram-collision rule: GPT-3
appendix C, Dodge et al. 2021 C4 analysis — public methodology). The rule
here: a document is contaminated in proportion to the fraction of its
DISTINCT k-word-grams that appear anywhere in the eval set.

Scale shape (10^12 docs vs ~10^4-10^6 eval grams):
- The eval side is tiny by construction (benchmarks are small): its
  distinct-gram table is broadcast — the corpus is NEVER shuffled by gram.
- The corpus side explodes distinct k-grams (a Generate, row-local),
  broadcast-left-joins the eval grams, and counts grams and matches in one
  doc_id-keyed aggregate — the only exchange carries ~one partial row per
  doc, keyed by doc_id (uniform).
- Gram construction materializes the words array into a bound column before
  slicing (an element_at/slice over an unmaterialized split() inside a
  lambda re-evaluates the split per element — O(words²) regex work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _words_col(text_col: str):
    # THE shared tokenizer (textstats.words_expr) — a tokenization fix
    # there must reach decontamination grams too
    from pdf_parser_spark.operators.textstats import words_expr

    return words_expr(F.col(text_col))


def with_kgrams(docs: DataFrame, k: int, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, _grams) — DISTINCT k-word-grams per document, row-local.

    Gram construction is the CPU-heavy stage of every caller, so the input
    is parallelism-guarded (operators/parallelism): a single-row-group
    parquet scan must not serialize it on one core."""
    from pdf_parser_spark.operators.parallelism import ensure_parallelism

    docs = ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
    tokenized = docs.select(
        F.col(id_col).alias("doc_id"), _words_col(text_col).alias("_w")
    )
    wcol = F.col("_w")
    grams = F.when(
        F.size(wcol) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(wcol) - (k - 1)),
            lambda i: F.array_join(F.slice(wcol, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tokenized.select("doc_id", F.array_distinct(grams).alias("_grams"))


def contamination(docs: DataFrame, eval_docs: DataFrame, k: int = 5,
                  threshold: float = 0.2, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document contamination vs the eval set's k-gram inventory.

    Returns (doc_id, n_grams, n_matched, contamination_frac,
    is_contaminated). ``n_grams`` counts the doc's distinct k-grams;
    ``n_matched`` those also present in ANY eval document;
    ``is_contaminated`` applies the fraction threshold.

    The eval gram inventory broadcasts as a hash table — benchmarks are
    small (a few million grams at most). ONE gram pass: hits are decorated
    by the broadcast LEFT join and counted in the same doc-keyed aggregate
    as the totals. An eval inventory too large to broadcast would go
    through operators/bloom.bloom_pruned_join(how='left_semi') on the
    exploded grams instead.
    """
    corpus = with_kgrams(docs, k, text_col, id_col)
    eval_grams = (
        with_kgrams(eval_docs, k, text_col, id_col)
        .select(F.explode("_grams").alias("gram"))
        .distinct()
    )
    exploded = corpus.select("doc_id", F.explode("_grams").alias("gram"))
    scored = exploded.join(
        F.broadcast(eval_grams.withColumn("_hit", F.lit(1))), "gram", "left"
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_matched"),
    )
    # docs with zero grams (shorter than k words) never explode a row
    base = docs.select(F.col(id_col).alias("doc_id"))
    out = base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_matched"),
    )
    frac = F.when(
        F.col("n_grams") > 0, F.col("n_matched") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        "n_grams",
        "n_matched",
        F.round(frac, 4).alias("contamination_frac"),
        (F.round(frac, 4) >= threshold).alias("is_contaminated"),
    )
