"""Driver-mimic: run every queries() entry in Spark and its oracle_sql() in
DuckDB at sf0.01, compare row count + column names + order-insensitive
values. Usage: python scripts/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from pdf_parser_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def frame_key(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(",".join(norm_cell(r[i]) for i in order) for r in rows)
    return lines


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        except Exception:
            pass

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only check)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            failures += 1
            continue
        problems = []
        if sorted(map(str.lower, scols)) != sorted(map(str.lower, ocols)):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            sk = frame_key(scols, [[r[c] for c in scols] for r in srows])
            okey = frame_key(ocols, orows)
            if sk != okey:
                diff = [(a, b) for a, b in zip(sk, okey) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK    {name}: {len(srows)} rows")
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
