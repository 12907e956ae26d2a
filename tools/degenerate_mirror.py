"""Build DEGENERATE-DISTRIBUTION mirrors of an sf dir and sweep every
registry entry against them with FULL materialization.

Complements tools/nulls_mirror.py (corrupted values: NULLs, malformed
JSON, non-finites): here every value is individually VALID but the
distribution is degenerate — shapes a 100 TB corpus absolutely
contains somewhere (a constant-valued shard, a boilerplate corpus
with no rare n-grams), and exactly the shapes the per-SF oracle gates
cannot reach. Spark ANSI throws DIVIDE_BY_ZERO for double division,
so any variance/proportion/histogram-bin denominator that collapses
to 0 kills the whole job instead of yielding an undefined-statistic
NULL.

Found in the r13 sweep (all fixed + regression-tested):
- lm_kneser_ney_bigrams: KN discount n1/(n1+2*n2) is 0/0 when no
  bigram type occurs exactly once or twice (TRUE of the real sf0.1
  documents table).
- stats_chi2_independence: Cramer's V divides by min(nr-1, nc-1) = 0
  on a 1 x k contingency table (constant value -> one bin).
- stats_aggregates: Spark's built-in corr() final expression has no
  zero-variance guard, and a CaseWhen over the aggregate does NOT
  protect it (codegen subexpression elimination evaluates eagerly).
- stats_corr_exact_moments: manual corr / covar_samp denominators.
- similarity_lsh_tuned: data-calibrated radius of 0.0 is an invalid
  BucketedRandomProjectionLSH bucketLength.

Axes:
1. constant: every numeric measure column is one constant (types
   preserved exactly); embeddings all equal. Zero variance
   everywhere, one histogram bin, all pairwise distances 0.
2. norare  : documents.text rewritten so every token (and so every
   n-gram) distribution keeps its shape but, at the sf0.1 scale the
   synthetic tables already exhibit it, no bigram type is rare —
   here we simply suffix every token uniformly, which preserves the
   real corpus's already-degenerate n1=n2=0 structure under a
   changed vocabulary.
3. constant_ts (r14): degenerate clock — every event in ONE
   microsecond, every order/shipment on ONE day; measures untouched.
   Time-delta denominators (TWAP gaps, session gaps, LOCF spines,
   funnel windows, seasonal MASE) all collapse to 0.
4. empty (r14): zero rows, schema preserved — the limiting case of a
   filter selecting nothing. Flushes driver-side collects / ML fits
   that assume >=1 row.

Usage:
  python tools/degenerate_mirror.py /tmp/mirror_dir [--sf SRC]
      [--sweep] [--axis NAME]

--sweep runs every registry entry against each axis dir with a noop
write (full materialization — a .count() would let column pruning
hide a throwing expression, which is how the KN throw stayed latent)
and reports entries that raise. Expect zero.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

DEFAULT_SF = "/root/testdata/sf0.01"

# measure columns replaced per table on the `constant` axis; every
# replacement CASTs to the source column's exact type so type-shape
# tests (e.g. unpivot/stack) behave identically
CONSTANT_PLANS = {
    "region": "SELECT * FROM t",
    "nation": "SELECT * FROM t",
    "customer": "SELECT * REPLACE (CAST(50.0 AS DOUBLE) AS c_acctbal) FROM t",
    "supplier": "SELECT * REPLACE (CAST(50.0 AS DOUBLE) AS s_acctbal) FROM t",
    "part": "SELECT * REPLACE (CAST(20.0 AS DOUBLE) AS p_retailprice) FROM t",
    "orders": "SELECT * REPLACE (CAST(1000.0 AS DOUBLE) AS o_totalprice) FROM t",
    "lineitem": (
        "SELECT * REPLACE (CAST(10.0 AS DOUBLE) AS l_quantity,"
        " CAST(100.0 AS DOUBLE) AS l_extendedprice,"
        " CAST(0.05 AS DOUBLE) AS l_discount,"
        " CAST(0.02 AS DOUBLE) AS l_tax) FROM t"
    ),
    "events": "SELECT * REPLACE (CAST(5.0 AS DOUBLE) AS value) FROM t",
    "documents": "SELECT * FROM t",
    "embeddings": (
        "SELECT * REPLACE (list_transform(embedding,"
        " x -> CAST(0.5 AS FLOAT)) AS embedding) FROM t"
    ),
}

NORARE_PLANS = dict(
    CONSTANT_PLANS,
    **{
        # uniform token suffix: vocabulary changes, token-count and
        # n-gram-count SHAPE is preserved exactly (same positions)
        "documents": (
            "SELECT * REPLACE (array_to_string(list_transform("
            "string_split(text, ' '), tk -> tk || '~1'), ' ') AS text,"
            " CAST(LENGTH(array_to_string(list_transform("
            "string_split(text, ' '), tk -> tk || '~1'), ' '))"
            " AS BIGINT) AS n_chars) FROM t"
        ),
    },
)

# r14 axis: degenerate CLOCK. Every event lands in
# ONE microsecond and the whole calendar collapses to one day —
# time-delta denominators (TWAP gap weights, session gaps, LOCF
# spines, funnel windows, EWMA/KS orderings, seasonal-naive MASE
# under a collapsed calendar) all become 0 while every row is still
# individually valid. Measures are left REAL (untouched) so this axis
# isolates the clock: a throw here is a time-denominator bug, not a
# variance bug. Found in the r14 sweep (fixed + regression-tested):
# twap_event_type — sum of LEAD-gap weights is 0 on a same-us burst,
# ANSI DIVIDE_BY_ZERO at the final division (the r13 verdict's
# reproduced defect; now try_divide -> NULL, oracle CASE WHEN).
CONSTANT_TS_PLANS = {
    "region": "SELECT * FROM t",
    "nation": "SELECT * FROM t",
    "customer": "SELECT * FROM t",
    "supplier": "SELECT * FROM t",
    "part": "SELECT * FROM t",
    "orders": (
        "SELECT * REPLACE (CAST('1995-06-15 12:00:00' AS TIMESTAMP)"
        " AS o_orderdate) FROM t"
    ),
    "lineitem": (
        "SELECT * REPLACE (CAST('1995-06-15 12:00:00' AS TIMESTAMP)"
        " AS l_shipdate) FROM t"
    ),
    "events": (
        "SELECT * REPLACE (CAST('2024-03-01 12:00:00.000001' AS "
        "TIMESTAMP) AS ts) FROM t"
    ),
    "documents": "SELECT * FROM t",
    "embeddings": "SELECT * FROM t",
}

# r14 axis: the EMPTY shard. Zero rows, schema preserved exactly —
# the limiting case of a pushed-down filter selecting nothing, which
# a 100 TB run hits on some shard/date-range every day. Relational
# plans are trivially total on empty input (groupBy/join/window over
# 0 rows -> 0 rows); the throw risk is DRIVER-SIDE logic: vocab /
# calibration collects assuming >=1 row, MLlib fits requiring
# non-empty data, head()[0] patterns. Policy: empty in -> empty (or
# schema-stable constant) out, never a throw.
EMPTY_PLANS = {t: "SELECT * FROM t WHERE 1=0" for t in CONSTANT_PLANS}

AXES = {
    "constant": CONSTANT_PLANS,
    "norare": NORARE_PLANS,
    "constant_ts": CONSTANT_TS_PLANS,
    "empty": EMPTY_PLANS,
}


def build(
    dst_root: str, src: str, only_axis: str | None = None
) -> dict[str, str]:
    con = duckdb.connect()
    dirs = {}
    for axis, plans in AXES.items():
        if only_axis and axis != only_axis:
            continue
        d = Path(dst_root) / axis
        d.mkdir(parents=True, exist_ok=True)
        for t, q in plans.items():
            con.execute(
                f"CREATE OR REPLACE VIEW t AS "
                f"SELECT * FROM '{src}/{t}.parquet'"
            )
            con.execute(
                f"COPY ({q}) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        dirs[axis] = str(d)
        print(f"built axis {axis}: {d}")
    return dirs


def sweep(dirs: dict[str, str]) -> int:
    from ethiopia_legal_etl_spark.operators.registry import all_queries
    from ethiopia_legal_etl_spark.session import get_spark

    spark = get_spark(app_name="degenerate-mirror-sweep")
    spark.sparkContext.setLogLevel("FATAL")
    qs = all_queries()
    n_fail = 0
    for axis, d in dirs.items():
        fails = []
        for name, q in qs.items():
            t0 = time.time()
            try:
                q.builder(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001 — report, don't die
                fails.append(name)
                print(
                    json.dumps(
                        {
                            "axis": axis,
                            "entry": name,
                            "error": f"{type(e).__name__}: {str(e)[:160]}",
                            "sec": round(time.time() - t0, 1),
                        }
                    ),
                    flush=True,
                )
        print(f"axis {axis}: {len(qs) - len(fails)}/{len(qs)} ok")
        n_fail += len(fails)
    return n_fail


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("dst", help="output root for the mirror dirs")
    ap.add_argument("--sf", default=DEFAULT_SF)
    ap.add_argument("--sweep", action="store_true")
    ap.add_argument("--axis", default=None, choices=sorted(AXES))
    args = ap.parse_args()
    dirs = build(args.dst, args.sf, args.axis)
    if args.sweep:
        raise SystemExit(1 if sweep(dirs) else 0)


if __name__ == "__main__":
    main()
