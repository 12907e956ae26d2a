"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ethiopia_legal_etl_spark/ (SURVEY.md §7
layout); this file only adapts the registry to the driver contract.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ethiopia_legal_etl_spark.operators.registry import all_queries  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q1 pricing summary: scan → pushed filter → hash aggregate —
    exercises the whole-stage-codegen relational core. The registry
    builder applies the engine's session confs itself.
    """
    return all_queries()["q1_pricing_summary"].builder(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.builder for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query; omitted entries (LSH,
    pandas-UDF stubs, engine-specific sketches) get rows-only checks.
    """
    return {
        name: q.oracle for name, q in all_queries().items() if q.oracle is not None
    }
