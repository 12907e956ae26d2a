"""Exact money arithmetic on codegen-friendly longs.

The TPC-H-shaped entries aggregate money as exact DECIMAL(12,2)
products cast to DOUBLE at the end (registry float policy: identical
values on both engines, division last). That is value-correct but
slow at the aggregate buffer: a Spark SUM over DECIMAL(12,2) carries a
DECIMAL(22,2) buffer, and any precision above 18 leaves the compact
long representation — every buffer update serializes a BigDecimal
(measured r14: the q1 aggregate alone cost ~0.85 s of a 1.1 s query
at sf0.1, vs ~0.05 s for the identical sums over longs).

This module respells the SAME values as integer "micro" units
(guide §1.2 per-task work, §2.3 narrower types — only when provably
safe, which this is by construction):

- ``money_micro(col, scale)`` returns the UNSCALED value of
  ``CAST(col AS DECIMAL(p, s))`` as a plain LONG:
  ``floor(|x|*scale + 0.5)`` with the sign reapplied — exactly
  HALF_UP rounding (round half away from zero), the rounding both
  Spark and DuckDB use for double→decimal casts.

  DOMAIN: the identity with the decimal cast is
  property-pinned on the domain the engine actually uses — exact-2dp
  money doubles at money magnitudes — NOT claimed for every finite
  double:
  * magnitude: near 2**53/scale doubles are spaced wider than a cent
    and floor(|x|*scale + 0.5) stops being a faithful HALF_UP — a
    pinned counterexample at ~9.007e13 diverges by one unit
    (tests/test_money_micro.py). TPC-H money (<~1.1e5) sits ~9 orders
    of magnitude below.
  * ties: for values whose shortest decimal repr runs PAST the target
    scale (x.xx5 and its ulp neighborhood) the two paths can genuinely
    disagree — the r15 directed fuzz found live
    counterexamples in both directions (37478.825 floors low on the
    float path; nextafter(56720.035, 0) rounds high), now pinned in
    tests/test_money_micro.py. Such values are NOT exact-2dp doubles,
    so they cannot appear in the engine's money columns: the live
    domain (every cent value in ±110000.00, i.e. k/100 for integer k)
    is verified EXHAUSTIVELY in the same test file, and the oracle
    gates at three SFs pin the end-to-end behavior.
- products of micros are exact integer products of the decimal
  unscaled values (2dp × 2dp = exact 4dp micro, etc.).
- ``micro_to_double(col, scale)`` converts an exact micro total back:
  ``CAST(CAST(m AS DECIMAL(38,0)) / scale AS DOUBLE)`` — the same
  nearest-double the decimal-sum-then-cast path produces, because
  both round the SAME exact rational m/scale once.

Overflow discipline (the reason the decimal path existed): a LONG sum
of per-row micros overflows at 2^63. Callers must either
(a) bound the per-group row count structurally (e.g. per-order sums:
    lineitems per order), or
(b) run the TWO-LEVEL pattern (guide §2.5): level 1 groups by
    ``(keys..., spark_partition_id())`` and sums longs — bounded by
    rows per scan partition (a 128 MB split is ~1e6 rows; the worst
    6-dp micro is ~1.2e11/row, so the per-partition bound holds to
    ~8e7 rows/partition, a 60x margin) — level 2 re-aggregates the
    tiny (groups x partitions) table in exact DECIMAL(38,0).
Spark 4 runs ANSI arithmetic, so a violated bound THROWS rather than
silently wrapping.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money_micro(col: Column, scale: int = 100) -> Column:
    """Unscaled value of CAST(col AS DECIMAL(_, log10(scale))) as LONG.

    HALF_UP (round half away from zero), sign-safe, NULL-propagating.
    """
    mag = ((F.abs(col) * scale) + F.lit(0.5)).cast("long")
    return F.when(col < 0, -mag).otherwise(mag)


def micro_to_double(col: Column, scale: int) -> Column:
    """Exact micro total -> the same DOUBLE the decimal path yields."""
    return (col.cast("decimal(38,0)") / scale).cast("double")


def micro_sum_to_double(col: Column, scale: int) -> Column:
    """SUM a small column of exact micro subtotals (level 2 of the
    two-level pattern) in DECIMAL(38,0) — overflow-free — and convert.
    """
    return micro_to_double(F.sum(col.cast("decimal(38,0)")), scale)
