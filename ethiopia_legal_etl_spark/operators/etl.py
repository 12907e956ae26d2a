"""Layer A — reference-parity document ETL as DataFrame transforms.

Re-expresses every operator the reference performs (SURVEY.md §2.A)
as column expressions / DataFrame ops over a `documents`-shaped table:

  A-3  URL absolutization          -> functions.text.absolutize_url
  A-10 filename/title derivation   -> functions.text.base_name_from_url
  A-13 bounded year regex          -> functions.text.extract_year
  A-14 document record projection  -> build_document_record()
  A-16 log tail retention          -> log_tail_events query
  A-17 resource-type routing       -> functions.text.resource_type
  A-6  incremental skip anti-join  -> incremental_skip query
  A-12 empty-document filter       -> non_empty filter + rejects split

The registered queries run these semantics over the driver's
`documents`/`events` tables so the DuckDB oracle can check them.
Reference behavior anchors cited per function.

Scale: every transform here is a pure Catalyst expression — runs in
whole-stage codegen, no shuffle except where noted, trivially valid at
100 TB (embarrassingly parallel per row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.text import (
    base_name_from_url,
    extract_year,
    resource_type,
    title_from_base_name,
)
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

# Fixed ingest date for deterministic golden/oracle runs — SURVEY.md
# §2.C-7: the reference calls datetime.date.today() per record
# (fetch_legal_docs.py:78); the engine makes the date injectable and
# plan-constant.
DEFAULT_INGEST_DATE = "2025-08-15"


def build_document_record(
    df: DataFrame,
    url_col: str = "sourceURL",
    content_col: str = "content",
    ingest_date: str | None = DEFAULT_INGEST_DATE,
) -> DataFrame:
    """A-14: the reference's document construction
    (fetch_legal_docs.py:74-85) as one nested projection.

    ingest_date=None uses current_date() (production); tests inject a
    constant (§2.C-7).
    """
    base = base_name_from_url(F.col(url_col))
    date_expr = (
        F.date_format(F.current_date(), "yyyy-MM-dd")
        if ingest_date is None
        else F.lit(ingest_date)
    )
    return df.select(
        title_from_base_name(base).alias("title"),
        extract_year(F.col(content_col)).alias("year"),
        F.col(url_col).alias("sourceURL"),
        date_expr.alias("dateIngested"),
        F.lit("CassationDecision").alias("category"),
        F.array(F.lit("CassationDecision")).alias("tags"),
        F.col(content_col).alias("content"),
        F.struct(
            F.lit("").alias("issue"),
            F.lit("").alias("holding"),
            F.lit("").alias("ratio"),
        ).alias("caseFields"),
        F.struct(
            F.lit("").alias("scope"),
            F.array().cast("array<string>").alias("keyArticles"),
            F.lit("").alias("effectiveDate"),
        ).alias("legisFields"),
        F.struct(
            F.array().cast("array<string>").alias("placeholders")
        ).alias("templateFields"),
    )


# ---------------------------------------------------------------------
# Registered oracle-checked queries over the driver tables
# ---------------------------------------------------------------------

@register(
    "doc_year_extract",
    oracle="""
    SELECT doc_id,
           REGEXP_EXTRACT(SUBSTRING(text, 1, 1000),
                          '\\b(19[5-9]\\d|20\\d{2})\\b', 1) AS year,
           LENGTH(text) AS text_len
    FROM documents
    """,
    doc="A-13 bounded year regex: 1950-2099, first 1000 chars, '' sentinel",
)
def doc_year_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        extract_year(F.col("text")).alias("year"),
        F.length("text").alias("text_len"),
    )


@register(
    "doc_record_projection",
    oracle=f"""
    SELECT
      REPLACE(REGEXP_REPLACE(REGEXP_EXTRACT(
          CONCAT('https://fsc.example.et/files/', COALESCE(source, ''), '/vol%20',
                 CAST(doc_id AS VARCHAR), '.pdf'),
          '([^/]+)\\z', 1), '([^.])\\.[^.]*\\z', '\\1'), '%20', '_')  AS base_name,
      REPLACE(REPLACE(REGEXP_REPLACE(REGEXP_EXTRACT(
          CONCAT('https://fsc.example.et/files/', COALESCE(source, ''), '/vol%20',
                 CAST(doc_id AS VARCHAR), '.pdf'),
          '([^/]+)\\z', 1), '([^.])\\.[^.]*\\z', '\\1'), '%20', '_'), '_', ' ') AS title,
      REGEXP_EXTRACT(SUBSTRING(text, 1, 1000),
                     '\\b(19[5-9]\\d|20\\d{{2}})\\b', 1)          AS year,
      '{DEFAULT_INGEST_DATE}'                                     AS dateIngested,
      'CassationDecision'                                         AS category,
      'CassationDecision'                                         AS tags_joined
    FROM documents
    WHERE TRIM(text) <> ''
    """,
    doc="A-14 document construction + A-10 two-step naming + A-12 filter "
    "(flattened for hashing; nested-struct variant in tests)",
)
def doc_record_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # synthesize a reference-shaped URL so the A-10 chain (basename →
    # splitext → %20→_, fetch_legal_docs.py:35-38) has real work to do
    # COALESCE the nullable source on BOTH sides: Spark's concat
    # null-propagates while DuckDB's skips nulls — make the '' explicit
    url = F.concat(
        F.lit("https://fsc.example.et/files/"),
        F.coalesce(F.col("source"), F.lit("")),
        F.lit("/vol%20"),
        F.col("doc_id").cast("string"),
        F.lit(".pdf"),
    )
    base = base_name_from_url(url)
    return (
        docs.where(F.trim(F.col("text")) != "")  # A-12 empty filter
        .select(
            base.alias("base_name"),
            title_from_base_name(base).alias("title"),
            extract_year(F.col("text")).alias("year"),
            F.lit(DEFAULT_INGEST_DATE).alias("dateIngested"),
            F.lit("CassationDecision").alias("category"),
            F.array_join(F.array(F.lit("CassationDecision")), ",").alias(
                "tags_joined"
            ),
        )
    )


@register(
    "doc_resource_routing",
    oracle="""
    SELECT doc_id,
           CASE WHEN source LIKE 'vol%' THEN 'cassation_decision'
                ELSE 'statute' END AS resource_type,
           source
    FROM documents
    """,
    doc="A-17 resource-type routing (auto_ingest.yml:24-29)",
)
def doc_resource_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        resource_type(F.col("source")).alias("resource_type"),
        "source",
    )


@register(
    "incremental_skip_docs",
    oracle="""
    SELECT d.doc_id, d.source FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM documents done
      WHERE done.doc_id % 10 = 0 AND done.doc_id = d.doc_id
    )
    """,
    doc="A-6 incremental skip: anti-join against the sink listing "
    "(fetch_legal_docs.py:41-43 keys on JSON output name, §2.C-6)",
)
def incremental_skip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # stand-in for "already in the sink": every 10th document
    done = docs.where(F.col("doc_id") % 10 == 0).select("doc_id")
    return docs.join(done, "doc_id", "left_anti").select("doc_id", "source")


@register(
    "log_tail_events",
    oracle="""
    SELECT event_id, event_type,
           STRFTIME(DATE_TRUNC('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_sec
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 50
    """,
    doc="A-16 log tail: keep only the newest 50 entries "
    "(deploy-gh-pages.yml:19-20, LOG_MAX_LINES=50)",
)
def log_tail_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # ts is ns in parquet; Spark truncates to µs and DuckDB keeps ns —
    # ordering by raw ts matches because sub-µs never reorders events
    # minutes apart, but output only second-truncated strings.
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(50)
        .select(
            "event_id",
            "event_type",
            F.date_format(F.date_trunc("second", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "ts_sec"
            ),
        )
    )


@register(
    "doc_empty_filter_rejects",
    oracle="""
    SELECT doc_id, (TRIM(text) <> '') AS ok, lang
    FROM documents
    """,
    doc="A-12/A-19: empty-doc predicate + rejects routing flag",
)
def doc_empty_filter_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", (F.trim(F.col("text")) != "").alias("ok"), "lang"
    )
