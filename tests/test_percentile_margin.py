"""Scale-bound gate for approx_percentile_price's exactness claim.

The entry's DuckDB oracle (percentile_disc) is only value-identical to
Spark's approx_percentile while every group's sample count stays under
~accuracy/2 — the regime where the Greenwald-Khanna sketch retains
every sample (GK, SIGMOD 2001: compression first triggers when
n * 2*eps >= 1, i.e. n >= accuracy/2 at eps = 1/accuracy). Beyond
that the sketch starts compressing and the oracle hash can mismatch
for a reason no driver artifact would explain.

This test asserts the bound at EVERY SF directory present under the
test-data root, so a future SF bump (the bound is crossed near sf~0.7,
where orders/3 groups ~ 500k rows each) fails HERE with the reason,
not in CORRECTNESS_r{N}.json as an opaque hash mismatch.

No SparkSession needed: the bound is a property of the input data, and
duckdb reads the same parquet the gate would feed Spark.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

import duckdb

# Must match the literal accuracy passed to F.approx_percentile in
# operators/aggregates.py::approx_percentile_price — asserted below
# against the source so the two can't drift apart.
ACCURACY = 1_000_000

TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))


def _sf_dirs() -> list[Path]:
    if not TESTDATA.is_dir():
        return []
    return sorted(
        d for d in TESTDATA.iterdir()
        if d.is_dir() and d.name.startswith("sf")
        and (d / "orders.parquet").exists()
    )


def test_accuracy_constant_matches_source():
    src = (
        Path(__file__).parent.parent
        / "ethiopia_legal_etl_spark/operators/aggregates.py"
    ).read_text()
    m = re.search(
        r'F\.approx_percentile\("o_totalprice", 0\.5, (\d+)\)', src
    )
    assert m, "approx_percentile_price call shape changed — update gate"
    assert int(m.group(1)) == ACCURACY


def test_every_tested_sf_stays_in_exact_regime():
    dirs = _sf_dirs()
    assert dirs, f"no sf dirs under {TESTDATA}"
    bound = ACCURACY // 2
    for d in dirs:
        n_max, status = duckdb.sql(
            f"SELECT count(*) c, o_orderstatus FROM '{d}/orders.parquet' "
            "GROUP BY o_orderstatus ORDER BY c DESC LIMIT 1"
        ).fetchall()[0]
        assert n_max < bound, (
            f"{d.name}: max per-group order count {n_max} (status "
            f"{status!r}) >= accuracy/2 = {bound}; the GK sketch now "
            "compresses and approx_percentile_price's percentile_disc "
            "oracle is no longer exact — raise accuracy or convert the "
            "entry back to rows-only BEFORE the driver sees an opaque "
            "hash mismatch (see the entry's register() comment)"
        )
        # margin visibility: at sf0.1 the max group is ~50k, 10x under
        # the bound; warn-by-assert if a bump lands within 2x so the
        # next round converts deliberately rather than at the cliff
        assert n_max < bound // 2, (
            f"{d.name}: max group {n_max} is within 2x of the "
            f"exactness bound {bound} — plan the conversion now"
        )
