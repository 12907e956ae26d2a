"""Data profiling and declarative data-quality constraints — the
Deequ family (Schelter et al., VLDB 2018 "Automating large-scale data
quality verification"; Great Expectations' expectation suites).

A training-data pipeline at 100 TB ships a PROFILE with every corpus
snapshot (per-column completeness, cardinality, bounds) and gates
promotion on a CONSTRAINT SUITE (uniqueness, ranges, referential
order). Both are single-scan aggregate plans here: every metric is an
algebraic aggregate with a map-side partial, so the scan cost is one
pass over the table regardless of how many metrics ride on it, and
the result is O(#columns) / O(#constraints) rows — never data-sized.

Reference tie: the reference validates documents only implicitly
(empty-text filter, `fetch_legal_docs.py:66-69`); this operator is the
engine-grade generalization the SURVEY's curation pipeline needs.

Scale notes:
- profile: COUNT(DISTINCT col) per column is the one non-algebraic
  metric; Spark plans multiple distinct aggregates via EXPAND (one
  shuffle, rows × #distinct-metrics). At 100 TB swap in
  approx_count_distinct (HLL, algebraic) — the switch is one line and
  the output contract keeps the column. The profile here uses EXACT
  distinct so the oracle can check it.
- expectations: every constraint is SUM(CASE WHEN violated) — pure
  map-side arithmetic, one global 1-row reduce per table scanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


@register(
    "profile_table_stats",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_rows FROM documents)
    SELECT * FROM (
      SELECT 'doc_id' AS col_name, (SELECT n_rows FROM n) AS n_rows,
             CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_null,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
             CASE WHEN COUNT(*) = 0 THEN NULL
                  ELSE CAST(COUNT(doc_id) AS DOUBLE) / COUNT(*) END AS completeness,
             CAST(MIN(doc_id) AS VARCHAR) AS min_repr,
             CAST(MAX(doc_id) AS VARCHAR) AS max_repr
      FROM documents
      UNION ALL
      SELECT 'text', (SELECT n_rows FROM n),
             CAST(COUNT(*) - COUNT(text) AS BIGINT),
             CAST(COUNT(DISTINCT text) AS BIGINT),
             CASE WHEN COUNT(*) = 0 THEN NULL
                  ELSE CAST(COUNT(text) AS DOUBLE) / COUNT(*) END,
             CAST(MIN(LENGTH(text)) AS VARCHAR),
             CAST(MAX(LENGTH(text)) AS VARCHAR)
      FROM documents
      UNION ALL
      SELECT 'lang', (SELECT n_rows FROM n),
             CAST(COUNT(*) - COUNT(lang) AS BIGINT),
             CAST(COUNT(DISTINCT lang) AS BIGINT),
             CASE WHEN COUNT(*) = 0 THEN NULL
                  ELSE CAST(COUNT(lang) AS DOUBLE) / COUNT(*) END,
             MIN(lang), MAX(lang)
      FROM documents
      UNION ALL
      SELECT 'source', (SELECT n_rows FROM n),
             CAST(COUNT(*) - COUNT(source) AS BIGINT),
             CAST(COUNT(DISTINCT source) AS BIGINT),
             CASE WHEN COUNT(*) = 0 THEN NULL
                  ELSE CAST(COUNT(source) AS DOUBLE) / COUNT(*) END,
             MIN(source), MAX(source)
      FROM documents
      UNION ALL
      SELECT 'n_chars', (SELECT n_rows FROM n),
             CAST(COUNT(*) - COUNT(n_chars) AS BIGINT),
             CAST(COUNT(DISTINCT n_chars) AS BIGINT),
             CASE WHEN COUNT(*) = 0 THEN NULL
                  ELSE CAST(COUNT(n_chars) AS DOUBLE) / COUNT(*) END,
             CAST(MIN(n_chars) AS VARCHAR),
             CAST(MAX(n_chars) AS VARCHAR)
      FROM documents
    )
    """,
    doc="Deequ-style column profile (Schelter et al. VLDB'18) of the "
    "documents table: per column, row/null counts, EXACT distinct "
    "cardinality, completeness ratio, and min/max rendered as VARCHAR "
    "(string columns profile min/max of LENGTH for `text` so the "
    "repr stays bounded). One row per column, computed in one logical "
    "pass; the distinct metrics are the only shuffle (Spark EXPAND "
    "plan) and swap to approx_count_distinct at 100 TB.",
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def metric(col: str, minmax_col=None) -> DataFrame:
        mm = F.col(col) if minmax_col is None else minmax_col
        return docs.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.count_distinct(F.col(col)).alias("n_distinct"),
            # try_divide: an EMPTY shard (filter selecting nothing)
            # still produces one global-agg row with count 0, so
            # completeness is 0/0 — undefined -> NULL, never an ANSI
            # DIVIDE_BY_ZERO job kill (found by the empty-axis sweep)
            F.try_divide(
                F.count(col).cast("double"), F.count(F.lit(1))
            ).alias("completeness"),
            F.min(mm).cast("string").alias("min_repr"),
            F.max(mm).cast("string").alias("max_repr"),
        )
    parts = [
        metric("doc_id"),
        metric("text", minmax_col=F.length("text")),
        metric("lang"),
        metric("source"),
        metric("n_chars"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "expectations_check",
    oracle="""
    SELECT * FROM (
      SELECT 'orders.o_orderkey is unique' AS constraint_name,
             CAST(COUNT(*) AS BIGINT) AS n_checked,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS n_violations,
             COUNT(*) = COUNT(DISTINCT o_orderkey) AS passed
      FROM orders
      UNION ALL
      SELECT 'orders.o_orderstatus in (O,F,P)',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           OR o_orderstatus IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT),
             SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                      OR o_orderstatus IS NULL
                 THEN 1 ELSE 0 END) = 0
      FROM orders
      UNION ALL
      SELECT 'orders.o_totalprice > 0',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
                  AS BIGINT),
             SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) = 0
      FROM orders
      UNION ALL
      SELECT 'lineitem.l_quantity in [1, 50]',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50
                      THEN 0 ELSE 1 END) AS BIGINT),
             SUM(CASE WHEN l_quantity BETWEEN 1 AND 50
                 THEN 0 ELSE 1 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_shipdate in [1992, 1999)',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1992-01-01'
                           AND l_shipdate < TIMESTAMP '1999-01-01'
                      THEN 0 ELSE 1 END) AS BIGINT),
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1992-01-01'
                      AND l_shipdate < TIMESTAMP '1999-01-01'
                 THEN 0 ELSE 1 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_discount in [0, 0.1]',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_discount BETWEEN 0 AND 0.1
                      THEN 0 ELSE 1 END) AS BIGINT),
             SUM(CASE WHEN l_discount BETWEEN 0 AND 0.1
                 THEN 0 ELSE 1 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'documents.text is complete',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(text) AS BIGINT),
             COUNT(*) = COUNT(text)
      FROM documents
    )
    """,
    doc="Deequ/Great-Expectations-style constraint suite: uniqueness, "
    "domain containment, range, ordering, and completeness checks "
    "(status domain, price > 0, quantity/discount ranges, shipdate "
    "window, text completeness) over orders/lineitem/documents, one "
    "result row per constraint "
    "with checked/violation counts and a pass bit. Every check is an "
    "algebraic SUM(CASE) aggregate — map-side partials, one 1-row "
    "reduce per table, so the whole suite costs one scan per table at "
    "any scale. The uniqueness check is the one COUNT(DISTINCT) "
    "(exact here; sketch-based at 100 TB).",
)
def expectations_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")

    def suite(df, name: str, n_viol):
        viol = n_viol.cast("long")
        return df.agg(
            F.lit(name).alias("constraint_name"),
            F.count(F.lit(1)).alias("n_checked"),
            viol.alias("n_violations"),
            (viol == 0).alias("passed"),
        )

    def n_bad(cond) -> F.Column:
        # violations = rows where cond is NOT true (null counts as bad)
        return F.sum(F.when(cond, 0).otherwise(1))

    checks = [
        suite(
            orders,
            "orders.o_orderkey is unique",
            F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey")),
        ),
        suite(
            orders,
            "orders.o_orderstatus in (O,F,P)",
            n_bad(F.col("o_orderstatus").isin("O", "F", "P")),
        ),
        suite(orders, "orders.o_totalprice > 0", n_bad(F.col("o_totalprice") > 0)),
        suite(
            li,
            "lineitem.l_quantity in [1, 50]",
            n_bad(F.col("l_quantity").between(1, 50)),
        ),
        suite(
            li,
            "lineitem.l_shipdate in [1992, 1999)",
            n_bad(
                (F.col("l_shipdate") >= F.lit("1992-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            ),
        ),
        suite(
            li,
            "lineitem.l_discount in [0, 0.1]",
            n_bad(F.col("l_discount").between(0, 0.1)),
        ),
        suite(
            docs,
            "documents.text is complete",
            F.count(F.lit(1)) - F.count(F.col("text")),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@register(
    "privacy_k_anonymity",
    oracle="""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT CASE
               WHEN c_acctbal IS NULL THEN NULL
               WHEN c_acctbal < 0 THEN 'neg'
               WHEN c_acctbal < 5000 THEN 'mid'
               ELSE 'high' END) AS BIGINT) AS l_div
      FROM customer
      GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(n) AS BIGINT) AS k_anonymity,
           CAST(MIN(l_div) AS BIGINT) AS l_diversity,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_suppressed,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE) AS suppressed_frac
    FROM cls
    """,
    doc="K-ANONYMITY / L-DIVERSITY audit of a release candidate "
    "(Sweeney 2002; Machanavajjhala et al. 2007) — the privacy gate "
    "a training-data pipeline runs before shipping a table whose "
    "quasi-identifiers could re-identify people: group by the "
    "QI tuple (c_nationkey, c_mktsegment), k-anonymity = the "
    "smallest equivalence-class size, l-diversity = the least "
    "number of distinct sensitive values (acctbal bucket) inside "
    "any class, plus the row count and fraction that a "
    "suppress-classes-below-k=5 policy would redact. All exact "
    "integers + one final division. NULL QI values form their own "
    "class in both engines (GROUP BY groups NULLs together) and "
    "NULL sensitive values are skipped by COUNT(DISTINCT) in both — "
    "no divergence under the null mirror. Plan: one "
    "map-side-combined aggregate to |QI classes| rows (the "
    "distinct-sensitive count rides the same shuffle via EXPAND), "
    "then a tiny class-level reduce; the table itself never "
    "re-shuffles. At 100 TB with a high-cardinality QI the class "
    "table is still orders of magnitude smaller than the data, and "
    "the suppression JOIN-BACK (not emitted here) would be an "
    "equi-join on the QI key against the small flagged-class list — "
    "broadcast under AQE.",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # NULL balance stays NULL (skipped by the distinct count) rather
    # than falling through the CASE into 'high': no value is
    # fabricated for a missing reading
    sens = (
        F.when(F.col("c_acctbal").isNull(), F.lit(None))
        .when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(sens).alias("l_div"),
    )
    supp = F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
    return cls.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("n").alias("k_anonymity"),
        F.min("l_div").alias("l_diversity"),
        supp.alias("n_suppressed"),
        (supp.cast("double") / F.sum("n").cast("double")).alias(
            "suppressed_frac"
        ),
    )
