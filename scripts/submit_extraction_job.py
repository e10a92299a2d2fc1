"""spark-submit entrypoint for the resumable extraction job.

Cluster usage (the north-rule launch shape):

    python scripts/package_pyfiles.py                 # → dist/pdf_parser_spark.zip
    spark-submit \
        --py-files dist/pdf_parser_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        scripts/submit_extraction_job.py \
        --input  /path/to/pages_table \
        --output /path/to/out \
        --n-buckets 4096 --buckets-per-commit 64

Local smoke (same code path, local master):

    python scripts/submit_extraction_job.py --synthetic 2000 \
        --output /tmp/extract_out --n-buckets 16

The job is resumable: each bucket group is one snapshot commit of the table
at --output, and re-submitting with the same --output continues from the
last committed snapshot (plans/checkpoint.py). The table is read back with
plans/snapshots.SnapshotTable(spark, output).read(). At 10^12 documents,
n-buckets should put O(10^8) docs per bucket group commit; each group is an
independent retry unit.
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="pages table path (parquet/Iceberg) or WARC dir")
    p.add_argument("--input-format", choices=("parquet", "warc"),
                   default="parquet",
                   help="warc: --input is a directory of WARC archives "
                        "(sources/warc.read_warc — one task per archive)")
    p.add_argument("--synthetic", type=int, default=0,
                   help="use N synthetic pages instead of --input")
    p.add_argument("--output", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--buckets-per-commit", type=int, default=8)
    p.add_argument("--max-commits", type=int, default=None)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the session is preconfigured by the launcher; the
    # builder here only fills local-run defaults
    spark = (
        SparkSession.builder.appName("extraction-job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from pdf_parser_spark.plans.checkpoint import SnapshotExtractionJob
    from pdf_parser_spark.sources.pages import read_pages_table

    if args.synthetic:
        from pdf_parser_spark.fixtures import pages_spark

        def get_pages():
            return pages_spark(spark, n_docs=args.synthetic,
                               partitions=spark.sparkContext.defaultParallelism)
    else:
        if not args.input:
            p.error("--input or --synthetic required")

        if args.input_format == "warc":
            from pdf_parser_spark.sources.warc import read_warc

            def get_pages():
                return read_warc(spark, args.input)
        else:
            def get_pages():
                return read_pages_table(spark, args.input)

    job = SnapshotExtractionJob(
        spark, args.output,
        n_buckets=args.n_buckets,
        buckets_per_commit=args.buckets_per_commit,
    )
    summary = job.run(get_pages, max_commits=args.max_commits)
    metrics = job.lineage().toPandas()
    summary["total_docs"] = int(metrics["docs"].sum())
    summary["total_txns"] = int(metrics["txns"].sum())
    summary["parse_failure_rate"] = (
        round(float(metrics["parse_failures"].sum()) / max(1, summary["total_docs"]), 6)
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
