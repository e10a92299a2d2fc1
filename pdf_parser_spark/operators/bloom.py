"""Bloom-filter-pruned joins — the huge-small-side filter pattern.

A broadcast anti/semi join stops working when the "small" side is merely
smaller, not small: a 10^8-host blocklist or a 10^9-gram inventory is too
big for a broadcast HASH table (per-row object overhead) but fits
comfortably as a Bloom BITMAP (~10 bits/key ⇒ 125 MB for 10^8 keys at 1%
FPR). The pattern (Bloom-pruned join; the same idea Spark's own runtime
row-group filtering uses, Kirsch–Mitzenmacher double hashing — public
methodology):

1. build the bitmap from the filter side DISTRIBUTED: each partition emits
   its local bitmap, a √P-wide intermediate reduce level ORs those, and
   the driver ORs only the ~√P survivors (true two-level tree reduction —
   no per-key collect, and the driver's share is O(√P · n_bits/8) bytes
   instead of O(P · n_bits/8));
2. broadcast the bitmap; an Arrow-batched probe marks each big-side row
   "possibly in" / "definitely not in" — vectorized numpy, no join;
3. rows that are definitely-not-in bypass the join entirely; ONLY the
   possible hits (true members + FPR·n stragglers) go through the exact
   join, so the result is byte-identical to the plain join at a fraction
   of the shuffle.

Keys are Spark-side xxhash64 (computed natively, so the Python layer only
ever sees int64s), split into k bit positions by double hashing over two
splitmix64 finalizations of the key. The same bit layout backs the
per-file Blooms of the snapshot manifests (plans/snapshots), which persist
it in their metadata JSON.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_HASH_COL = "_bloom_h"
_MAYBE_COL = "_bloom_maybe"
_K = 7  # optimal near the ~10 bits/key sizing build_bloom documents


def _splitmix64(v: "np.ndarray") -> "np.ndarray":
    v = v + np.uint64(0x9E3779B97F4A7C15)
    v = (v ^ (v >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    v = (v ^ (v >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return v ^ (v >> np.uint64(31))


def _positions(h: "np.ndarray", n_bits: int, k: int) -> "np.ndarray":
    """(len(h), k) bit positions via Kirsch–Mitzenmacher double hashing.

    h1 and h2 are splitmix64 of the key and of the key ^ 0xA5A5…, so both
    mix all 64 key bits and stay independent under a power-of-two n_bits.
    Position i is (h1 + i·h2) mod n_bits (h2 forced odd).
    """
    v = h.astype(np.uint64)
    h1 = _splitmix64(v)
    h2 = _splitmix64(v ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(n_bits)).astype(
        np.int64
    )


def _set_bits(bits: "np.ndarray", pos: "np.ndarray") -> None:
    """Set every position of ``pos`` in the packed (LSB-first) bitmap."""
    pos = pos.ravel()
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bits: "np.ndarray", pos: "np.ndarray") -> "np.ndarray":
    """Per row of ``pos``: True iff all its bits are set (the key may be in)."""
    return ((bits[pos >> 3] >> (pos & 7)) & 1).astype(bool).all(axis=1)


def build_bloom(small: DataFrame, col: str, n_bits: int = 1 << 20,
                _stats: dict | None = None) -> "np.ndarray":
    """Bitmap (packed uint8 array of n_bits/8 bytes) over xxhash64(col),
    k=7 positions per key from the splitmix64 double hashing of _positions.

    Two-level tree reduction: each of the P input partitions reduces to ONE
    bitmap row (mapInPandas), those partials are repartitioned to ~√P
    intermediate reducers that each OR their share down to one row, and
    the driver ORs only the ~√P survivors. The driver therefore receives
    O(√P · n_bits/8) bytes instead of O(P · n_bits/8). At the module's
    motivating scale (10^8 keys ⇒ 125 MB bitmap, P = 10^4 input
    partitions): a flat collect would ship 10^4 × 125 MB = 1.25 TB to the
    driver; the tree ships ≤ 100 partials × 125 MB = 12.5 GB, with each
    intermediate reducer holding a single 125 MB accumulator while it
    streams its ~100 inputs. Size n_bits ≈ 10 × expected distinct keys
    for ~1% FPR (k=7 is optimal near that load factor; 13 bits/key measures
    ~0.2%).

    ``_stats`` (tests only): records ``n_input_partitions`` and
    ``n_partials_collected`` so sub-linearity is assertable.
    """
    if n_bits % 8 != 0:
        raise ValueError("n_bits must be a multiple of 8")
    hashed = small.select(F.xxhash64(F.col(col)).alias(_HASH_COL))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        any_rows = False
        for batch in batches:
            if len(batch) == 0:
                continue
            any_rows = True
            _set_bits(bits, _positions(batch[_HASH_COL].to_numpy(), n_bits, _K))
        if any_rows:
            yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    def or_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        any_rows = False
        for batch in batches:
            for buf in batch["bitmap"]:
                any_rows = True
                bits |= np.frombuffer(buf, dtype=np.uint8)
        if any_rows:
            yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    partials = hashed.mapInPandas(partial, schema="bitmap binary")
    n_parts = hashed.rdd.getNumPartitions()
    fan_in = max(1, int(n_parts ** 0.5))
    if fan_in < n_parts:
        # intermediate OR level: ≤ fan_in rows reach the driver
        partials = partials.repartition(fan_in).mapInPandas(
            or_partials, schema="bitmap binary"
        )
    rows = partials.collect()
    if _stats is not None:
        _stats["n_input_partitions"] = n_parts
        _stats["n_partials_collected"] = len(rows)
    out = np.zeros(n_bits // 8, dtype=np.uint8)
    for row in rows:
        out |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return out


def with_bloom_probe(df: DataFrame, col: str, bitmap: "np.ndarray") -> DataFrame:
    """Adds boolean ``_bloom_maybe``: False ⇒ definitely not in the filter set."""
    n_bits = int(bitmap.shape[0]) * 8
    bc = df.sparkSession.sparkContext.broadcast(bitmap)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        for batch in batches:
            if len(batch) == 0:
                yield batch.assign(**{_MAYBE_COL: pd.Series([], dtype=bool)})
                continue
            pos = _positions(batch[_HASH_COL].to_numpy(), n_bits, _K)
            yield batch.assign(**{_MAYBE_COL: _test_bits(bits, pos)})

    hashed = df.withColumn(_HASH_COL, F.xxhash64(F.col(col)))
    # fresh StructType — StructType.add mutates in place, and mutating
    # hashed.schema would poison the DataFrame's own column list
    schema = T.StructType(
        list(hashed.schema.fields) + [T.StructField(_MAYBE_COL, T.BooleanType())]
    )
    return hashed.mapInPandas(probe, schema=schema).drop(_HASH_COL)


def bloom_pruned_join(big: DataFrame, small: DataFrame, on: str,
                      how: str = "left_anti", n_bits: int = 1 << 20) -> DataFrame:
    """Exact ``big.join(small, on, how)`` with a Bloom pre-filter.

    how='left_anti': definitely-not-in rows bypass the join (they are in
    the result by definition); only possible hits join. how='left_semi':
    definitely-not-in rows are dropped outright. Either way the output is
    EXACTLY the plain join's (the filter is conservative; pytest asserts
    parity) — what changes is how much of `big` reaches the shuffle:
    |true members| + FPR·|big| instead of |big|.
    """
    if how not in ("left_anti", "left_semi"):
        raise ValueError("bloom_pruned_join supports left_anti / left_semi")
    probed = with_bloom_probe(big, on, build_bloom(small, on, n_bits))
    maybe = probed.filter(F.col(_MAYBE_COL)).drop(_MAYBE_COL)
    joined = maybe.join(small, on, how)
    # match the plain USING-join's column order (key first) so callers can
    # swap this in for big.join(small, on, how) without a select
    order = [on] + [c for c in big.columns if c != on]
    if how == "left_anti":
        clean = probed.filter(~F.col(_MAYBE_COL)).drop(_MAYBE_COL)
        return clean.unionByName(joined).select(*order)
    return joined.select(*order)
