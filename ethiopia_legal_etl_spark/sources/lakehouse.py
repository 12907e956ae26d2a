"""Lakehouse-format connectors (Delta / Iceberg / Hudi), gated behind
import-try per the deployment guidance: the jars are not on this
image's classpath, so each reader raises a clear, actionable error
instead of a Py4J stack trace. On a cluster with the jars present the
same calls work unchanged.

MERGE INTO-style upserts without these formats are emulated with the
semi/anti-join + union pattern — see joins.scd2_merge_emulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_FORMAT_HINTS = {
    "delta": "io.delta:delta-spark_2.13:<version> on spark.jars.packages",
    "iceberg": "org.apache.iceberg:iceberg-spark-runtime-*:<version>",
    "hudi": "org.apache.hudi:hudi-spark3-bundle_2.13:<version>",
}


class LakehouseFormatUnavailable(RuntimeError):
    pass


def read_lakehouse(spark: SparkSession, fmt: str, path: str) -> DataFrame:
    """Read a Delta/Iceberg/Hudi table if the connector jar is present;
    raise a clear error naming the missing package otherwise."""
    if fmt not in _FORMAT_HINTS:
        raise ValueError(f"unknown lakehouse format: {fmt!r}")
    try:
        return spark.read.format(fmt).load(path)
    except Exception as exc:  # jar missing → DATA_SOURCE_NOT_FOUND
        if "DATA_SOURCE_NOT_FOUND" in str(exc) or "Failed to find" in str(exc):
            raise LakehouseFormatUnavailable(
                f"{fmt} connector not on classpath; add "
                f"{_FORMAT_HINTS[fmt]} to enable. "
                f"For MERGE/upsert semantics without it, use the "
                f"anti-join+union emulation (scd2_merge_emulation)."
            ) from exc
        raise
