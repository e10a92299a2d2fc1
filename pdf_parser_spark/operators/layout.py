"""Z-order (Morton-curve) data layout — multi-column file clustering.

At 100 TB the scan you avoid is the fastest scan: footer min/max pruning
(plans/snapshots.plan_entries, parquet row-group stats) only prunes on
columns the FILE LAYOUT is clustered by. A linear sort clusters one
column perfectly and leaves every other column's per-file range full-
width; interleaving the bits of several rank-normalized columns (the
Z-order curve — public methodology, Morton 1966; the same layout Delta
Lake's OPTIMIZE ZORDER BY and Iceberg's sort-order rewrite expose) makes
every clustered column's per-file range ~|domain| / files^(1/d), so a
selective predicate on ANY of them prunes most files.

Everything is native Spark SQL and costs ONE expression evaluation per
row: quantile boundaries come from one approxQuantile pass per column
(the driver receives 2^bits floats, never rows), the bucket id is the
usual sorted-boundary count (the with_global_index idiom), and the bit
interleave is a single ``element_at`` into a precomputed 2^bits-entry
spread table per column — NOT a per-bit shift chain, which Catalyst's
collapsed projections would re-evaluate the whole bucket expression for
(measured 25x slower at sf0.1). No UDF, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _spread(v: int, stride: int) -> int:
    """Bit j of v moved to position j * stride (Morton spread)."""
    out = 0
    j = 0
    while v:
        out |= (v & 1) << (j * stride)
        v >>= 1
        j += 1
    return out


def zorder_key_col(df: DataFrame, cols: list[str], bits: int = 8):
    """Column: the Morton interleave of the rank-normalized ``cols``.

    Each column is mapped to a ``bits``-bit bucket id by its own
    approxQuantile boundaries (rank space, so skewed distributions still
    spread evenly across buckets); bit j of column c lands at position
    j * len(cols) + c. Null values bucket to 0 (sort first). Returns a
    long column valid for up to bits * len(cols) <= 63 total bits.
    """
    d = len(cols)
    if bits * d > 63:
        raise ValueError("bits * len(cols) must fit in a signed long")
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    spread_table = F.array(
        *[F.lit(_spread(v, d)) for v in range(n_buckets)]
    )
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        bounds = sorted(
            set(df.stat.approxQuantile(c, probs, 1.0 / (4 * n_buckets)))
        )
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        v = F.col(c).cast("double")
        key = F.coalesce(
            F.size(F.filter(barr, lambda b: v > b)), F.lit(0)
        ).cast("int")
        # low-cardinality columns dedup to fewer than 2^bits - 1 bounds;
        # rescale the rank id to fill the full bit range so the curve's
        # TOP bits stay populated (zorder_bucket_col cuts buckets there)
        if len(bounds) + 1 < n_buckets:
            key = F.floor(
                key * F.lit(n_buckets - 1) / F.lit(max(len(bounds), 1))
            ).cast("int")
        z = z.bitwiseOR(
            F.shiftleft(F.element_at(spread_table, key + 1), ci)
        )
    return z


def zorder_bucket_col(df: DataFrame, cols: list[str], num_buckets: int,
                      bits: int = 8):
    """Column: a balanced bucket id (0..num_buckets-1) along the Z-curve.

    ``num_buckets`` must be a power of two: the bucket is the TOP
    log2(num_buckets) bits of the Morton key, which is rank-uniform by
    construction (each column key is an equal-population quantile id), so
    no second quantile pass over the key expression is needed. Writing
    with this column as the partition key (SnapshotTable partition_col /
    partitionBy) pins file boundaries to contiguous curve ranges exactly,
    so footer min/max stay tight on every clustered column no matter how
    the write is tasked or coalesced.
    """
    k = num_buckets.bit_length() - 1
    if 1 << k != num_buckets:
        raise ValueError("num_buckets must be a power of two")
    total_bits = bits * len(cols)
    if k > total_bits:
        raise ValueError("num_buckets exceeds the curve's resolution")
    z = zorder_key_col(df, cols, bits)
    return F.shiftright(z, total_bits - k).cast("int")
