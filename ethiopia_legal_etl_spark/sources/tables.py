"""Parquet / JSON / text / binary sources with explicit schemas.

Reference sources re-expressed (SURVEY.md §2.A):
- A-4  pdf_links.json array read/write  -> spark.read.json w/ schema
- A-18 multi-pattern binary file scan   -> binaryFile + pathGlobFilter union
Plus the driver's synthetic parquet tables (TESTDATA.md).

All readers pass an explicit schema (no inference) — the engine's
single-declaration fix for the reference's copy-pasted implicit schema
(SURVEY.md §1.1). Explicit schemas also skip the inference scan, which
matters when the 'file listing' is 100 TB of objects.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ethiopia_legal_etl_spark.schemas import (
    PDF_LINKS_SCHEMA,
    TABLE_NAMES,
    TESTDATA_SCHEMAS,
)


def _stores_nanos(path: str, column: str) -> bool:
    """True when ``column`` of the parquet file (or, for a directory, its
    first data file) is INT64 TIMESTAMP(NANOS). Reads one footer on the
    driver; launches no Spark job."""
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if not f.startswith(("_", "."))
        )
        if not parts:
            return False
        path = os.path.join(path, parts[0])
    schema = pq.read_metadata(path).schema
    col = schema.column(schema.names.index(column))
    return (
        col.physical_type == "INT64"
        and json.loads(col.logical_type.to_json()).get("timeUnit") == "nanoseconds"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver synthetic table from ``{sf_dir}/{name}.parquet``
    with its declared schema, ``schemas.TESTDATA_SCHEMAS[name]``.

    Declaring the schema skips Spark's footer-inference job, so a load
    schedules no Spark job; the vectorized reader, column pruning and
    predicate pushdown engage as before.

    ``events.ts`` is the one column whose read depends on how the file
    stores it, so its footer is checked on the driver first. INT64
    microseconds and INT96 read as the declared ``TIMESTAMP_NTZ``.
    INT64 nanoseconds cannot be read as a timestamp: it is read as a
    long (``spark.sql.legacy.parquet.nanosAsLong``) and converted to
    ``TIMESTAMP`` by exact integer division to µs (a double division
    rounds up near 1e18 ns). DuckDB keeps ns, so queries must never emit
    raw ts (see operators/etl.py).
    """
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    schema = TESTDATA_SCHEMAS[name]
    if name == "events" and _stores_nanos(path, "ts"):
        schema = StructType(
            [StructField("ts", LongType()) if f.name == "ts" else f for f in schema]
        )
        df = spark.read.schema(schema).parquet(path)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver table; keys match DuckDB's pre-registered views."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def read_pdf_links(spark: SparkSession, path: str) -> DataFrame:
    """A-4: read the scraper's URL hand-off as DataFrame[url: string].

    The reference writes a bare JSON array (scrape_pdf_links.py:17-18)
    and the consumer exits if it is missing (fetch_legal_docs.py:14-19).
    Spark's json source wants one object per line, so accept both: try
    JSONL `{"url": ...}` first, fall back to parsing a bare array via
    the text source (still distributed — no driver-side json.load).
    """
    df = spark.read.schema(PDF_LINKS_SCHEMA).json(path)
    # A bare-array file yields all-null urls under the object schema;
    # detect cheaply and reparse from text.
    if df.where("url IS NOT NULL").limit(1).count() == 0:
        raw = spark.read.text(path, wholetext=True)
        df = (
            raw.select(
                F.explode(F.from_json("value", "array<string>")).alias("url")
            )
        )
    return df


def write_pdf_links(df: DataFrame, path: str) -> None:
    """A-4 sink: persist the links stage table (JSONL, idiomatic)."""
    df.write.mode("overwrite").json(path)


def read_binary_files(
    spark: SparkSession, root: str, patterns: tuple[str, ...] = ("*",)
) -> DataFrame:
    """A-18: multi-pattern binary scan, one union branch per glob.

    Mirrors auto_ingest.yml:24's ``find vol*.pdf ∪ *.docx ∪ statutes/**``
    as `binaryFile` reads with pathGlobFilter, unioned. Returns
    (path, modificationTime, length, content: binary).
    """
    dfs = [
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pat)
        .option("recursiveFileLookup", "true")
        .load(root)
        for pat in patterns
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    # identical file may match two globs; the reference's `find` dedups
    return out.dropDuplicates(["path"])
