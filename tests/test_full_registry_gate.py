"""Hard CI gate over the FULL registry: the
driver's external harness checks only the first 50 entries
(registry.DRIVER_WINDOW — disclosed in COVERAGE.md and README), which
means a regression in any of the 232 entries outside the window would
be invisible to the driver. This test closes that hole: every
registered query runs against its DuckDB oracle at sf0.001 on every
pytest run, so the unchecked remainder cannot silently regress. The
same sweep runs on the nulls, constant and constant_ts mirrors of
sf0.001 (tools/mirrors.py); the empty axis, with its pinned
divergences, is in test_empty_inputs.py.

sf0.001 keeps each sweep near 1.5 min (86-96 s measured at local[4],
with check_oracle.run collecting four entries at once); the sf0.01
replica (tools/check_oracle.py) remains the pre-commit deep check.
"""

from __future__ import annotations

import pytest


def test_checker_rejects_driver_unsafe_oracle_types(check_oracle):
    """Round-5 postmortem: 5 driver hash failures on value-correct
    results because DuckDB promoted SUM(BIGINT) to HUGEINT and the
    driver's fetch rendered it as float. The checker now hard-fails
    any oracle whose result schema contains a driver-unsafe type, so
    the bug class cannot re-enter the registry."""
    import duckdb

    con = duckdb.connect()
    # HUGEINT via SUM over BIGINT — the exact shape that shipped 5 failures
    rel = con.sql("SELECT SUM(x) AS s FROM (SELECT CAST(1 AS BIGINT) AS x)")
    assert check_oracle.unsafe_oracle_types(rel) == [("s", "HUGEINT")]
    # DECIMAL (including a bare 1.5 literal, which DuckDB types as
    # DECIMAL(2,1)) and unsigned are equally unsafe
    rel = con.sql("SELECT 1.5 AS d, CAST(1 AS UINTEGER) AS u")
    assert {c for c, _ in check_oracle.unsafe_oracle_types(rel)} == {"d", "u"}
    # the casts the registry uses are safe
    rel = con.sql(
        "SELECT CAST(SUM(x) AS BIGINT) AS s, 'a' AS v, CAST(1.5 AS DOUBLE) AS f,"
        " DATE '2024-01-01' AS d, TRUE AS b, [1,2] AS arr"
        " FROM (SELECT CAST(1 AS BIGINT) AS x)"
    )
    assert check_oracle.unsafe_oracle_types(rel) == []


def test_checker_rejects_nonscalar_window_output(spark, check_oracle):
    """r7 postmortem: dedup_cluster_jaccard emitted an array<bigint>
    column and the DRIVER's pandas canonicalizer crashed
    (TypeError: unhashable numpy.ndarray) while our replica's
    cell-stringification passed — the replica was LAXER than the
    driver. The checker now flags non-scalar top-level columns from
    the Spark SCHEMA, so a window entry can never again pass locally
    and err externally."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        "id",
        F.array(F.lit(1), F.lit(2)).alias("arr"),
        F.create_map(F.lit("k"), F.lit(1)).alias("mp"),
        F.struct(F.lit(1).alias("a")).alias("st"),
    )
    bad = check_oracle.nonscalar_spark_columns(df.schema)
    assert [c for c, _ in bad] == ["arr", "mp", "st"]
    ok = df.select("id", F.array_join(F.col("arr").cast("array<string>"), ",").alias("arr"))
    assert check_oracle.nonscalar_spark_columns(ok.schema) == []


def test_driver_window_entries_emit_scalar_columns_only(spark, sf_dir, check_oracle):
    """Static sweep of every DRIVER_WINDOW entry's output schema —
    cheap at sf0.001 and closes the class independently of whether
    the full oracle run reaches the entry."""
    from ethiopia_legal_etl_spark.operators.registry import (
        DRIVER_WINDOW,
        all_queries,
    )

    qs = all_queries()
    offenders = {}
    for name in DRIVER_WINDOW:
        bad = check_oracle.nonscalar_spark_columns(
            qs[name].builder(spark, sf_dir).schema
        )
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"DRIVER_WINDOW entries emit non-scalar columns (the driver's "
        f"canonicalizer will crash): {offenders}"
    )


def test_full_registry_matches_oracles(oracle_gate):
    from ethiopia_legal_etl_spark.operators.registry import DRIVER_WINDOW, all_queries

    ordered = list(all_queries())
    names = sorted(ordered)
    # sanity: the window the driver samples is a strict subset — the
    # point of this gate is everything OUTSIDE it
    assert set(DRIVER_WINDOW) <= set(names)
    assert len(names) > len(DRIVER_WINDOW)
    # and the window IS the first 50 in registration order — the
    # property the driver's index-0..49 sampling depends on (r11: a
    # rotation edit that broke the ordering would otherwise surface
    # only in CORRECTNESS_r{N})
    assert ordered[: len(DRIVER_WINDOW)] == list(DRIVER_WINDOW)

    failures, warns = oracle_gate()
    assert not failures, f"registry entries diverged from their oracles: {failures}"
    # Strict raw-repr parity reached 0 warnings in r6 (after the BIGINT
    # casts): every oracle result is identical BEFORE normalization, so
    # correctness no longer depends on the driver normalizing the way
    # the replica does. Lock that in — a new entry that only passes
    # via normalization (int-vs-float, -0.0) must be fixed, not shipped.
    assert warns == 0, f"{warns} entries rely on normalization (raw reprs differ)"


def test_full_registry_matches_oracles_on_nulls_mirror(oracle_gate):
    """The same gate over the nulls mirror (tools/mirrors.py): ~10%
    NULLs in nullable non-key columns, truncated JSON, short and
    non-finite embeddings, non-finite measures. Every divergence this
    mirror has caught was a null-semantics difference between the
    engines (see the mirror's docstring); running it on every pytest
    run keeps the fixes from regressing silently."""
    failures, warns = oracle_gate("nulls")
    assert not failures, f"entries diverged on the nulls mirror: {failures}"
    assert warns == 0, f"{warns} entries rely on normalization on the nulls mirror"


@pytest.mark.parametrize("axis", ["constant", "constant_ts"])
def test_full_registry_matches_oracles_on_degenerate_mirror(oracle_gate, axis):
    """The same gate over a degenerate-distribution mirror: every value
    valid, the distribution not. ``constant``: zero variance, one
    histogram bin, equal embeddings, no rare bigram. ``constant_ts``:
    one event microsecond, one order day. A collapsed denominator must
    yield the oracle's NULL, not an ANSI DIVIDE_BY_ZERO throw."""
    failures, warns = oracle_gate(axis)
    assert not failures, f"entries diverged on the {axis} mirror: {failures}"
    assert warns == 0, f"{warns} entries rely on normalization on the {axis} mirror"
