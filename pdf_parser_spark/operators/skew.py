"""Skew handling: salted two-phase aggregation for hot keys.

North rule (BASELINE.json): "salting for skewed hosts". Common-Crawl host
distribution is Zipfian — a single host can own a double-digit share of a
crawl (the synthetic corpus reproduces this: host0 ≈ 30% of urls). Extraction
itself is immune (a per-document map over input splits, keyed by nothing),
and AQE splits skewed JOIN partitions, but a host-keyed groupBy still sends
every host0 row to one reducer. This module is the standard fix:

    phase 1: groupBy(key, salt = pmod(xxhash64(url), S)) — partial aggregate,
             S-way parallel even for a single hot key;
    phase 2: groupBy(key) over the S partials — S rows per key, trivially
             cheap, produces the exact same result as the unsalted aggregate.

Only algebraic aggregates decompose this way (count/sum/min/max and anything
built from them, e.g. avg = sum/count); the API takes the decomposition
explicitly so misuse is impossible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 32


def host_of(url) -> Column:
    """url → host — THE canonical extraction (weburls.host_col): scheme
    case-insensitive, authority cut at /?#, lowercased, port stripped.
    A local regexp here had silently diverged (uppercase schemes collapsed
    to '', ports/query fragments kept), fragmenting per-host stats into
    several groups per real host."""
    from pdf_parser_spark.operators.weburls import host_col

    return host_col(url)


def with_salt(df: DataFrame, entropy_col: str = "url",
              n_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Deterministic salt from a high-entropy column (never a random())."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(entropy_col)), F.lit(n_buckets)).cast("int")
    )


def salted_aggregate(
    df: DataFrame,
    key: str,
    partial_aggs: list[Column],
    final_aggs: list[Column],
    entropy_col: str = "url",
    n_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """Two-phase aggregate: groupBy(key, salt) → groupBy(key).

    partial_aggs run per (key, salt); final_aggs combine the partials and
    must be written over the partial alias names, e.g.::

        salted_aggregate(pages, "host",
            partial_aggs=[F.count("*").alias("c"), F.sum("bytes").alias("b")],
            final_aggs=[F.sum("c").alias("n_pages"), F.sum("b").alias("total_bytes")])
    """
    phase1 = with_salt(df, entropy_col, n_buckets).groupBy(key, "_salt").agg(*partial_aggs)
    return phase1.groupBy(key).agg(*final_aggs)


def host_stats_salted(pages: DataFrame, n_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Per-host crawl statistics, skew-safe (the A8-adjacent rollup).

    Exactly equal to the naive groupBy(host) — the salting changes the
    physical plan (two exchanges, both balanced), never the result.
    """
    with_host = pages.withColumn("host", host_of(F.col("url")))
    return salted_aggregate(
        with_host,
        "host",
        partial_aggs=[
            F.count("*").alias("c"),
            F.sum(F.length(F.col("html"))).alias("b"),
            F.sum(F.length(F.col("text"))).alias("t"),
        ],
        final_aggs=[
            F.sum("c").alias("n_pages"),
            F.sum("b").alias("total_bytes"),
            F.sum("t").alias("total_chars"),
        ],
    )
