"""Wave 13 semantics tests: invariants the order-insensitive oracle
hash can't see, and guards against both-engines-wrong drift in the
DuckDB emulations (initcap/overlay/next_day re-spellings). Value
correctness stays the oracle's job (tools/check_oracle.py).
"""

import datetime

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.aggregates import bit_cube_flags
from ethiopia_legal_etl_spark.operators.sql_surface import (
    map_hof_event_profile,
    scalar_date_funcs2,
    scalar_string_funcs2,
)


def test_map_hof_shares_bounded_and_thinned(spark, sf_dir):
    rows = map_hof_event_profile(spark, sf_dir).collect()
    assert rows
    # map_filter keeps only entries with share >= 0.15
    assert all(r["share"] >= 0.15 for r in rows)
    # per-user kept shares are a subset of a partition of 1
    by_user = {}
    for r in rows:
        assert 0.0 < r["share"] <= 1.0
        by_user.setdefault(r["user_id"], 0.0)
        by_user[r["user_id"]] += r["share"]
    assert all(s <= 1.0 + 1e-9 for s in by_user.values())
    # transform_keys(upper) really ran
    assert all(r["etype"] == r["etype"].upper() for r in rows)


def test_bit_cube_grouping_levels(spark, sf_dir):
    rows = bit_cube_flags(spark, sf_dir).collect()
    lvls = [r["grouping_lvl"] for r in rows]
    # two-column CUBE: grouping_id ∈ {0,1,2,3}
    assert set(lvls) <= {0, 1, 2, 3}
    # exactly one grand-total row (both columns rolled up)
    assert lvls.count(3) == 1
    grand = next(r for r in rows if r["grouping_lvl"] == 3)
    assert grand["l_returnflag"] is None and grand["l_linestatus"] is None
    # the grand total counts every lineitem row
    assert grand["cnt"] == sum(r["cnt"] for r in rows if r["grouping_lvl"] == 0)


def test_next_saturday_is_strictly_next_saturday(spark, sf_dir):
    rows = (
        scalar_date_funcs2(spark, sf_dir)
        .select("rebuilt_date", "next_saturday", "month_end")
        .distinct()
        .collect()
    )
    assert rows
    for r in rows:
        d, nxt = r["rebuilt_date"], r["next_saturday"]
        # strictly after, a Saturday, and within the next 7 days
        assert nxt > d
        assert (nxt - d).days <= 7
        assert nxt.weekday() == 5  # python: Monday=0 … Saturday=5
        assert r["month_end"] >= d
        assert (r["month_end"] + datetime.timedelta(days=1)).day == 1


def test_string_funcs2_emulation_invariants(spark, sf_dir):
    out = scalar_string_funcs2(spark, sf_dir)
    rows = out.limit(200).collect()
    assert rows
    for r in rows:
        # initcap: every word starts uppercase, rest lowercase
        for w in r["name_title"].split(" "):
            if w:
                assert w[0] == w[0].upper() and w[1:] == w[1:].lower()
        # overlay(name, 'XX', 2, 2) splices positions 2-3
        assert r["spliced"][1:3] == "XX"
        # translate uppercased every vowel
        assert not any(c in "aeiou" for c in r["vowels_upper"])
        # regexp_count agrees with a python recount of the source name
    # vowel_cnt cross-check against translate's uppercase count
    bad = out.where(
        F.col("vowel_cnt")
        != F.length("vowels_upper")
        - F.length(F.translate("vowels_upper", "AEIOU", ""))
    ).count()
    assert bad == 0
