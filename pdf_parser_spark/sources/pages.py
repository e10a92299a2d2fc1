"""A1/A6/A7 — sources and sinks for the pages/transactions tables.

The production target is an Iceberg table partitioned by
``bucket(N_BUCKETS, url)`` (north rule: explicit bucket-by-url-hash
partitioning). This sandbox has no Iceberg runtime jar, so the same layout is
realized as a hash-bucketed parquet directory tree
(``bucket=K/part-*.parquet``) — the data layout and pruning behavior
Iceberg would give; commits go through the snapshot log
(plans/snapshots.py), the one commit protocol. On a
real cluster the write becomes
``df.writeTo(name).partitionedBy(bucket(N, col('url'))).createOrReplace()``
— a catalog write this sandbox cannot express, so ``write_table`` refuses
``fmt='iceberg'`` rather than silently producing a different layout.

Reference lineage: HTTP byte source main.py:217-226; Firestore scan
main.py:167; 450-doc batched sink main.py:234-274 (the batching concern maps
to parquet target file sizing, not hand-rolled chunking).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS_DEFAULT = 64

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def read_pages_table(spark: SparkSession, path: str) -> DataFrame:
    """Scan the Common-Crawl-style pages table (BASELINE.json input hint).

    A plain `spark.read.parquet` — column pruning and predicate pushdown are
    Catalyst's job; callers select only what they consume so the binary
    `html` column is skipped for metadata-only queries.
    """
    return spark.read.parquet(path)


def bucket_of(key: str | Column, n_buckets: int) -> Column:
    """Iceberg bucket(N, key) transform: int pmod(xxhash64(key), N) — the
    one definition every bucketed table of the package is laid out by."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, col: str = "url", n_buckets: int = N_BUCKETS_DEFAULT) -> DataFrame:
    """Iceberg bucket(N, url) transform as the ``bucket`` column.

    Key by url hash, never by host — Common-Crawl hosts are Zipfian and a
    host-keyed layout would put 30% of bytes in one partition (the fixture
    corpus reproduces exactly that skew on host0).
    """
    return df.withColumn("bucket", bucket_of(col, n_buckets))


def write_table(
    df: DataFrame,
    path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    bucket_col: str = "url",
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Bucketed table write (A7).

    parquet mode: partitionBy('bucket') directory layout — readers prune by
    bucket exactly as Iceberg's bucket transform would, and a downstream
    bucket-to-bucket join of two tables written with the same (col, N) spec
    shuffles nothing but the bucket ids.
    """
    if fmt == "iceberg":
        # the documented cluster path is df.writeTo(name).partitionedBy(
        # bucket(N, col)).createOrReplace() — a CATALOG write with Iceberg's
        # murmur3 bucket transform. Routing 'iceberg' through the path-based
        # .format().save() below would silently produce a different,
        # non-interoperable layout (literal xxhash64 bucket column), so
        # refuse rather than lie.
        raise ValueError(
            "fmt='iceberg' needs a catalog + the Iceberg runtime: use "
            "df.writeTo(table).partitionedBy(bucket(N, col(url))) on a "
            "cluster; this sandbox writes the equivalent parquet layout"
        )
    out = with_bucket(df, bucket_col, n_buckets)
    # one RANGE exchange on the bucket id: contiguous ranges give ~one bucket
    # per task (a plain hash repartition sends murmur3(bucket) % n, which
    # collides multiple buckets into one task and leaves ~1/e of tasks empty
    # — 2-3x write stragglers). Ranges come from a sample pass; either way
    # partitionBy splits the task output per bucket dir, so file count stays
    # one per bucket.
    out = out.repartitionByRange(n_buckets, "bucket")
    out.write.partitionBy("bucket").mode(mode).format(fmt).save(path)
