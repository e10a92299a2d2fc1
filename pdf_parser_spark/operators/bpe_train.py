"""Distributed BPE merge learning — tokenizer TRAINING, not just counting.

Byte-pair-encoding vocabulary induction (Sennrich, Haddow & Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units" — public
methodology): repeatedly merge the most frequent adjacent symbol pair.
textstats.bpe_token_count_col applies a FIXED pre-tokenizer; this module
LEARNS the merge table from the corpus, which is what an LLM data pipeline
actually runs before tokenizing 100 TB.

The scale insight that makes this a one-corpus-pass job: BPE statistics
live on the WORD-FREQUENCY table, not the corpus. One corpus-wide
aggregate produces (word, count) — |vocab| rows, ~10^6-10^7 even at
crawl scale — and every merge round after that touches only the vocab
table:

- pair counts: adjacent symbol pairs per word (native arrays_zip of two
  slices), exploded and hash-aggregated with count weights — map-side
  partials, |symbol-vocab| result;
- best pair: a 1-row TakeOrdered (count desc, then lexicographic pair —
  fully deterministic under any partitioning);
- merge application: a native F.aggregate fold over each word's symbol
  array (greedy left-to-right non-overlapping, exactly the reference
  semantics) — zero Python, zero shuffle;
- localCheckpoint per round keeps the plan O(1)-deep (the pagerank/WCC
  pattern), so round i does not re-plan rounds 1..i-1.

Iterative driver loop (one collected row per round) ⇒ rows-only contract
entry; parity with a pure-Python reference BPE is pytest-asserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators.textstats import words_expr

END = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text",
                min_count: int = 1) -> DataFrame:
    """(word, count) over lowercase whitespace tokens — the ONLY
    corpus-wide exchange in BPE training."""
    wc = (
        docs.select(F.explode(words_expr(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )
    if min_count > 1:
        wc = wc.filter(F.col("count") >= min_count)
    return wc


def _with_symbols(wc: DataFrame) -> DataFrame:
    """Adds syms: the word split to characters plus the end-of-word marker."""
    chars = F.filter(
        F.split(F.col("word"), "(?!^)"),  # every char boundary
        lambda c: c != "",  # the split leaves one trailing empty string
    )
    return wc.withColumn("syms", F.concat(chars, F.array(F.lit(END))))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-symbol pair frequencies weighted by word count."""
    n = F.size("syms")
    pairs = F.arrays_zip(
        F.slice(F.col("syms"), 1, n - 1).alias("a"),
        F.expr("slice(syms, 2, size(syms) - 1)").alias("b"),
    )
    return (
        vocab.filter(n >= 2)
        .select(F.explode(pairs).alias("p"), "count")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("count").alias("n"))
    )


def _apply_merge(vocab: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy left-to-right non-overlapping merge of (a, b) → a+b inside
    every symbol array — a native fold, no Python."""
    la, lb = F.lit(a), F.lit(b)
    merged = F.aggregate(
        F.col("syms"),
        F.expr("CAST(array() AS array<string>)"),
        # try_element_at: ANSI mode raises on out-of-bounds element_at and
        # And() does not guarantee short-circuit, so the size guard alone
        # is not safe on the first (empty-accumulator) step
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == la) & (x == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(la, lb)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return vocab.withColumn("syms", merged)


def learn_bpe(docs: DataFrame, n_merges: int = 50, text_col: str = "text",
              min_count: int = 1) -> list[tuple[str, str]]:
    """The learned merge table, in order — the tokenizer artifact.

    Stops early when no pair occurs twice (merging singleton pairs is
    noise). Each round: one |vocab|-table aggregate + a 1-row TakeOrdered
    to the driver + a native fold; the corpus is read exactly once.
    """
    vocab = _with_symbols(word_counts(docs, text_col, min_count)).select(
        "count", "syms"
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        vocab = _apply_merge(vocab, a, b).localCheckpoint()
    return merges


def segment_words(wc: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(word, count, pieces): each word segmented by the learned merge
    table — merge rules applied in learned order, each as a native fold."""
    vocab = _with_symbols(wc)
    for a, b in merges:
        vocab = _apply_merge(vocab, a, b)
    return vocab.select("word", "count", F.col("syms").alias("pieces"))


def tokenize_corpus(docs: DataFrame, merges: list[tuple[str, str]],
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pieces, n_pieces): every document tokenized with the
    learned merge table — the train→tokenize loop closed.

    Scale shape: segmentation is computed ONCE PER DISTINCT WORD (the
    word-frequency table again, not the corpus) and joined back — the
    corpus-side cost is one explode + one join + one doc-keyed reassembly,
    and AQE broadcasts the piece map when the vocabulary is small. Word
    order is preserved via posexplode + a position-sorted rebuild.
    """
    pieces = segment_words(word_counts(docs, text_col), merges).select(
        "word", "pieces"
    )
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode_outer(words_expr(F.col(text_col))).alias("pos", "word"),
    )
    joined = exploded.join(pieces, "word", "left")
    rebuilt = (
        joined.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "pieces"))
                    ),
                    lambda s: s["pieces"],
                )
            ).alias("pieces")
        )
        .withColumn(
            "pieces",
            F.coalesce(F.col("pieces"), F.expr("CAST(array() AS array<string>)")),
        )
        .withColumn("n_pieces", F.size("pieces"))
    )
    return rebuilt
