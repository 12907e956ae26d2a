"""Measure-column hygiene: non-finite readings are failed readings.

Instrumentation emits NaN (0/0 rates) and Inf (overflowed counters)
into metric columns as routinely as failed fetches emit NULL text —
the null mirror's corruption axis 8 (tools/nulls_mirror.py) plants
them in ~10% of `events.value`. The engines diverge hard on them:

- the repo's fixed-point exactness policy multiplies measures into
  integer cents, and a non-finite double breaks the cast on BOTH
  engines, DIFFERENTLY: Spark raises ARITHMETIC_OVERFLOW (ANSI) or
  silently wraps (non-ANSI), DuckDB raises a ConversionException;
- DuckDB VAR_SAMP/STDDEV/CORR raise "is out of range!" where Spark
  returns NaN;
- both engines sort NaN GREATEST, so order statistics (median CI,
  winsorize percentiles) shift instead of failing — the silent kind.

Policy: map non-finite → NULL at the entry's events scan, on both
engines. Every events entry already proved its NULL-value semantics
against the r9 null mirror, so "failed reading = NULL reading" reuses
verified behavior and — unlike a row filter — preserves row topology
(sessionization, counts, and window frames keep every event; only the
measure is marked unavailable).

SCOPE BOUNDARY (the complete census of
`events.value` consumers that intentionally DON'T clean, and why each
is acceptable; everything else cleans or was fixed):

- stream_tumbling_window / stream_session_window /
  stream_static_enrich — windowed SUMs where a poisoned window is
  VISIBLY NaN on both engines (loud, not silently biased; the honest
  streaming semantics for "this window contained a failed reading").
- window_running_user_value / window_lag_lead_delta /
  window_ignore_nulls_last_purchase — per-user navigation/prefix
  VIEWS, not estimators: a NaN propagates visibly from the failed
  reading onward, exactly like the raw timeline it presents.
- snapshot_diff_reconcile — reconciliation compares old-vs-new with
  null-safe equality; a reading corrupt in BOTH snapshots compares
  "unchanged", which is correct reconcile semantics (the value did
  not change between snapshots; its corruption is a measure-quality
  question the hygiene entries own).

Entries whose outputs are STATISTICS over value (thresholded counts,
CIs, ECDFs, folds feeding estimates) must clean: the silent-bias
class (non-finite sorts greatest on both engines, so `value >= t`
quietly counts failed readings as successes) was fixed in
proportion_wilson_ci / drift_ks_two_sample / ewma_user_value
 and join_nullsafe_eq's grade counts (r11 census).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def finite_or_null(col: Column | str) -> Column:
    """The measure with NaN/±Inf mapped to NULL (NULL stays NULL)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(~F.isnan(c) & (F.abs(c) != float("inf")), c)


def clean_measures(df: DataFrame, *cols: str) -> DataFrame:
    """Apply finite_or_null to the named measure columns."""
    out = df
    for c in cols:
        out = out.withColumn(c, finite_or_null(c))
    return out


# The oracle-side twin: a DuckDB scan of `events` with the same
# hygiene. EVENTS_FINITE_BARE is the subquery alone (alias it
# yourself: `FROM {EVENTS_FINITE_BARE} e`); EVENTS_FINITE_SQL is
# pre-aliased back to `events` so oracles swap it in for the bare
# table name (`FROM events` -> `FROM {EVENTS_FINITE_SQL}`). Every
# clean_measures oracle INTERPOLATES one of these (no
# hand-inlined copies, so the hygiene expression has a single source
# of truth on the oracle side too).
# isfinite(NULL) is NULL, so NULLs stay NULL through the CASE.
EVENTS_FINITE_BARE = (
    "(SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END AS value) "
    "FROM events)"
)
EVENTS_FINITE_SQL = f"{EVENTS_FINITE_BARE} events"
