"""Explicit schemas, declared once.

The reference repeats its document dict literal in three places
(``fetch_legal_docs.py:74-85``, ``import requests.py:90-101``,
``mcp_server.py:32-41``) and never loads its own ``schema.json``.
The engine's improvement is a single authoritative ``StructType``
applied at every source — fixed schema, no inference.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# --- Layer A: the reference's canonical document record ---------------
# schema.json:1-22; construction at fetch_legal_docs.py:74-85.
# `year` stays a STRING with '' sentinel (not null, not int) — reference
# semantics per fetch_legal_docs.py:29-30 (SURVEY.md §2.C-1).
DOCUMENT_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("year", StringType()),
        StructField("sourceURL", StringType()),
        StructField("dateIngested", StringType()),  # ISO-8601 date string
        StructField("category", StringType()),
        StructField("tags", ArrayType(StringType())),
        StructField("content", StringType()),
        StructField(
            "caseFields",
            StructType(
                [
                    StructField("issue", StringType()),
                    StructField("holding", StringType()),
                    StructField("ratio", StringType()),
                ]
            ),
        ),
        StructField(
            "legisFields",
            StructType(
                [
                    StructField("scope", StringType()),
                    StructField("keyArticles", ArrayType(StringType())),
                    StructField("effectiveDate", StringType()),
                ]
            ),
        ),
        StructField(
            "templateFields",
            StructType([StructField("placeholders", ArrayType(StringType()))]),
        ),
    ]
)

# --- Layer A secondary shapes ------------------------------------------
# scrape_pdf_links.py:17-18 / fetch_legal_docs.py:14-19 hand-off file.
PDF_LINKS_SCHEMA = StructType([StructField("url", StringType())])

# --- Layer B: driver synthetic tables (TESTDATA.md / FIXTURES.md §1) ----
# The tables store tz-naive parquet timestamps, which Spark reads as
# TIMESTAMP_NTZ (tests/test_sources.py checks load_table against this).
TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampNTZType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampNTZType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)
