"""Banded equi-join keys for tolerance/range matching (C1/C2 backbone).

The reference does tolerance matching as client-side linear scans under a
dateKey range query (utils/transfer_pairing.py:38-57, utils/
display_amount.py:41-55). At 10^12 rows that must become an equi-join, so we
band both dimensions:

- amount: cents = round(abs(amount)*100) (amounts are round(x,2) doubles, so
  cents are exact ints); tolerance ±0.01 ⇒ |centsA − centsB| ≤ 1 ⇒ probe side
  fans out to cents + {-1,0,1}.
- date: day = days-since-epoch of dateKey; window ±5 days ⇒ bucket = day//6;
  any pair ≤5 days apart is in the same or an adjacent bucket ⇒ probe side
  fans out to bucket + {-1,0,1}.

Probe rows explode 3×3 = 9×, build side stays 1× — a bounded-fanout equi-join
Catalyst can hash/sort-merge and AQE can skew-split, instead of a cartesian
with a residual filter. The exact predicate (`within_tolerance`) is
re-applied as a residual.

The tolerance is FIXED (±1 cent, ±5 days) because the band keys are: the
±1-cent probe fan-out and the width-6 day buckets guarantee every pair
within this tolerance meets in the equi-join — a wider tolerance applied
only in the residual would silently MISS pairs the bands never co-locate
(the old tunable tol_cents/window_days parameters were exactly that trap,
and no caller used them).

Every key is a Spark SQL expression string, defined once here and placed
into the plan by the callers' own `selectExpr`/`where` projections: an
operation over expression text costs a handful of Python→JVM round trips
at plan-build time, where the same expression built from `F.*` Column
calls costs one or more per node. `CENTS`/`DAY` read the columns `amount`
and `dateKey`; `PROBES` reads an already-keyed row's `_cents` and `_day`.
"""

from __future__ import annotations

OFFSETS = (-1, 0, 1)

CENTS = "CAST(round(abs(amount) * 100) AS BIGINT)"
# try_to_date: '' dateKeys (unparseable dates, G4 fallback) → null day →
# the row never matches any band, mirroring the reference's early return
# (transfer_pairing.py:76-77: no datekey → no pairing)
DAY = "datediff(try_to_date(dateKey, 'yyyyMMdd'), '1970-01-01')"


def bucket(day: str) -> str:
    """The width-6 date bucket of the day expression `day`."""
    return f"CAST(floor({day} / 6) AS BIGINT)"


# the 9-way probe fan-out of a row carrying (_cents, _day): a generator
# emitting one row per (cents±δ, bucket±δ) band, as columns _cents_p and
# _bucket_p
PROBES = "inline(array({}))".format(", ".join(
    f"named_struct('_cents_p', _cents + ({dc}), '_bucket_p', {bucket('_day')} + ({db}))"
    for dc in OFFSETS
    for db in OFFSETS
))


def within_tolerance(cents: str, day: str) -> str:
    """The exact residual predicate between the probe row's (_cents, _day)
    and the build row's (`cents`, `day`) columns."""
    return f"abs(_cents - {cents}) <= 1 AND abs(_day - {day}) <= 5"
