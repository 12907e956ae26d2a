"""The SQL and function surface: scalar families (string, date, math,
bitwise, try_* arithmetic, predicates), JSON and VARIANT access, array,
map and higher-order functions, explode/posexplode, recursive CTEs, SQL
scripting (BEGIN/DECLARE/END), DataFrame.transpose, the UDF surface
(SQL-registered pandas UDF, grouped-agg pandas UDF, applyInPandas,
mapInArrow), HTML link and main-text extraction, multi-format source
round-trips and z-order layout pruning stats.

Reference anchors: the string families generalize the A-10/A-13/A-14
string ops to the driver tables; ``html_link_extraction`` is the A-2
link scrape as pure SQL (regexp_extract_all + explode). Everything else
is Layer-B engine surface (SURVEY.md §2.B). The recursive CTE and
scripting queries run the same SQL text on Spark and DuckDB, pinning
dialect-level parity, not just result parity.

Scale notes: the scalar families are row-local projections —
whole-stage codegen, zero shuffles, scan-bound at any scale. UDF
entries pay the Python/Arrow boundary and exist for genuinely non-SQL
logic; built-ins stay preferred in hot paths.

NOTE: no ``from __future__ import annotations`` here — pandas_udf
resolves real type-hint objects, not postponed strings.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.measures import (
    EVENTS_FINITE_SQL,
    clean_measures,
)
from ethiopia_legal_etl_spark.functions.text import absolutize_url
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------
# Scalar function families (string / date / json / math + predicates).
# All whole-stage-codegen expressions — the A-10/A-13/A-14 string ops
# generalized to the driver tables.
# --------------------------------------------------------------------
@register(
    "scalar_string_part",
    oracle="""
    SELECT p_partkey,
           LOWER(p_name)                                  AS name_lower,
           UPPER(p_brand)                                 AS brand_upper,
           SUBSTRING(p_type, 1, 5)                        AS type_prefix,
           LENGTH(p_name)                                 AS name_len,
           REGEXP_EXTRACT(p_type, '([a-z]+)$', 1)         AS type_last_word,
           CONCAT_WS('|', p_brand, p_type)                AS brand_type,
           TRIM(CONCAT(' ', p_name, ' '))                 AS name_trimmed,
           REPLACE(p_name, ' ', '_')                      AS name_snake
    FROM part
    WHERE p_name LIKE '%a%' AND p_size BETWEEN 1 AND 40
    """,
    doc="string scalar family over part (A-10 generalized)",
)
def scalar_string_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.where(
        F.col("p_name").like("%a%") & F.col("p_size").between(1, 40)
    ).select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_type", r"([a-z]+)$", 1).alias("type_last_word"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias(
            "name_trimmed"
        ),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
    )


@register(
    "scalar_date_orders",
    oracle="""
    SELECT o_orderkey,
           YEAR(o_orderdate)                                   AS order_year,
           MONTH(o_orderdate)                                  AS order_month,
           DAY(o_orderdate)                                    AS order_day,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE)     AS month_start,
           DATE_DIFF('day', o_orderdate, TIMESTAMP '1999-01-01') AS days_to_1999,
           STRFTIME(o_orderdate, '%Y-%m-%d')                   AS order_date_str
    FROM orders
    """,
    doc="date scalar family over orders",
)
def scalar_date_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(
            F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("long").alias("days_to_1999"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
    )


@register(
    "scalar_math_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4)  AS net_price,
           ROUND(ABS(l_discount - l_tax), 4)             AS disc_tax_gap,
           CAST(FLOOR(l_quantity / 10) AS BIGINT)        AS qty_decile,
           ROUND(SQRT(l_extendedprice), 4)               AS price_sqrt,
           CAST(FLOOR(l_quantity) AS INTEGER) % 7        AS qty_mod7
    FROM lineitem
    WHERE l_quantity > 5
    """,
    doc="math scalar family over lineitem",
)
def scalar_math_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.where("l_quantity > 5").select(
        "l_orderkey",
        "l_linenumber",
        # round at 4dp: the exact product has ≤4 decimals (2dp × 2dp),
        # so no round-tie can occur (a tie would need a 5th decimal)
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
        F.round(F.abs(F.col("l_discount") - F.col("l_tax")), 4).alias(
            "disc_tax_gap"
        ),
        F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_decile"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        # FLOOR before the int cast: DuckDB's double→int cast rounds,
        # Spark's truncates — floor on both sides pins the semantics
        (F.floor("l_quantity").cast("int") % 7).alias("qty_mod7"),
    )


@register(
    "scalar_json_events",
    oracle="""
    -- json_valid guard: DuckDB's json_extract RAISES on malformed
    -- JSON where Spark's get_json_object returns NULL; a truncated
    -- instrumentation payload must degrade to NULL on both sides
    -- (null-mirror corruption axis)
    WITH e AS (
      SELECT event_type,
             CASE WHEN json_valid(props)
                  THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
             END AS k
      FROM events
    )
    SELECT event_type,
           CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k,
           MAX(k)                            AS max_k,
           COUNT(*)                          AS cnt
    FROM e
    GROUP BY event_type
    """,
    doc="JSON extraction over events.props (get_json_object); malformed "
    "payloads extract as NULL on both engines",
)
def scalar_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        # exact integer sum / non-null count — identical on both engines
        (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "predicates_null_in_like",
    oracle="""
    SELECT c_custkey,
           COALESCE(c_mktsegment, 'UNKNOWN')    AS segment,
           (c_acctbal IS NULL)                  AS bal_is_null,
           (c_mktsegment IN ('BUILDING', 'AUTOMOBILE')) AS in_two_segments,
           (c_name LIKE 'Customer%')            AS name_prefixed
    FROM customer
    WHERE c_acctbal BETWEEN -500 AND 10000 OR c_acctbal IS NULL
    """,
    doc="predicate family: BETWEEN / IN / LIKE / IS NULL / COALESCE",
)
def predicates_null_in_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.where(
        F.col("c_acctbal").between(-500, 10000) | F.col("c_acctbal").isNull()
    ).select(
        "c_custkey",
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        F.col("c_acctbal").isNull().alias("bal_is_null"),
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE").alias(
            "in_two_segments"
        ),
        F.col("c_name").like("Customer%").alias("name_prefixed"),
    )


# --------------------------------------------------------------------
# posexplode: token with position (A-11's page list generalized).
# --------------------------------------------------------------------
@register(
    "posexplode_doc_tokens",
    oracle="""
    SELECT doc_id,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
           unnest(string_split(text, ' '))                     AS token
    FROM documents
    WHERE doc_id < 50
    """,
    doc="posexplode: ordinal-position token expansion",
)
def posexplode_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


# --------------------------------------------------------------------
# Array scalar family (slice/sort/contains/index) over split tokens.
# --------------------------------------------------------------------
@register(
    "array_ops_doc_tokens",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1]                                   AS first_token,
           ARRAY_TO_STRING(list_sort(string_split(text, ' ')[1:5]), '|') AS first5_sorted,
           LIST_CONTAINS(string_split(text, ' '), 'query')              AS has_query,
           LEN(string_split(text, ' '))                                 AS n_tokens
    FROM documents
    WHERE doc_id < 100
    """,
    doc="array scalar family: index, slice, sort, contains",
)
def array_ops_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        toks.getItem(0).alias("first_token"),
        F.array_join(F.array_sort(F.slice(toks, 1, 5)), "|").alias("first5_sorted"),
        F.array_contains(toks, "query").alias("has_query"),
        F.size(toks).alias("n_tokens"),
    )


# --------------------------------------------------------------------
# SQL-registered UDF surface: a pandas UDF registered for SQL use,
# oracle-checked against the pure-SQL regexp equivalent (proving the
# UDF reproduces the reference year semantics, fetch_legal_docs.py:21-30).
# --------------------------------------------------------------------
@register(
    "sql_udf_year_extract",
    oracle="""
    -- COALESCE mirrors the UDF's (t or '') null handling: a null
    -- text yields year = '', not NULL (text-null mirror)
    SELECT doc_id,
           REGEXP_EXTRACT(SUBSTRING(COALESCE(text, ''), 1, 1000),
                          '\\b(19[5-9]\\d|20\\d{2})\\b', 1) AS year
    FROM documents WHERE doc_id < 200
    """,
    doc="spark.udf.register + SQL invocation (Arrow-vectorized pandas "
    "UDF mirroring the A-13 year regex)",
)
def sql_udf_year_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    year_re = re.compile(r"\b(19[5-9]\d|20\d{2})\b")

    @pandas_udf("string")
    def py_extract_year(texts: pd.Series) -> pd.Series:
        def one(t):
            m = year_re.search((t or "")[:1000])
            return m.group(1) if m else ""

        return texts.map(one)

    spark.udf.register("py_extract_year", py_extract_year)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("v_documents_udf")
    return spark.sql(
        "SELECT doc_id, py_extract_year(text) AS year "
        "FROM v_documents_udf WHERE doc_id < 200"
    )


@register(
    "map_ops_user_stats",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events WHERE event_type IS NOT NULL
      GROUP BY user_id, event_type
    )
    SELECT user_id,
           MAX(CASE WHEN event_type = 'error'    THEN cnt END) AS error_cnt,
           MAX(CASE WHEN event_type = 'purchase' THEN cnt END) AS purchase_cnt,
           COUNT(*) AS n_types
    FROM per_type
    GROUP BY user_id
    """,
    doc="map-typed column: per-user event_type→count map built with "
    "map_from_entries, read back with element_at (oracle = the "
    "engine-portable CASE pivot of the same lookup)",
)
def map_ops_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # map keys cannot be null (NULL_MAP_KEY): null event types are
    # excluded on BOTH sides — an unknown type is absent, not a key
    per_type = (
        ev.where(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("type_counts")
    )
    return as_map.select(
        "user_id",
        F.element_at("type_counts", "error").alias("error_cnt"),
        F.element_at("type_counts", "purchase").alias("purchase_cnt"),
        F.size("type_counts").alias("n_types"),
    )


@register(
    "html_link_extraction",
    oracle="""
    WITH pages AS (
      SELECT doc_id,
             CONCAT('<html><body>',
                    '<a href="/files/doc', CAST(doc_id AS VARCHAR), '.pdf">d</a>',
                    '<a href="https://cdn.example.et/x', CAST(doc_id AS VARCHAR), '.pdf">x</a>',
                    '<a href="/about.html">about</a>',
                    '</body></html>') AS html
      FROM documents WHERE doc_id < 100
    ),
    hrefs AS (
      SELECT doc_id, UNNEST(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS href
      FROM pages
    )
    SELECT doc_id,
           CASE WHEN href LIKE 'http%' THEN href
                ELSE CONCAT('https://fsc.example.et', href) END AS url
    FROM hrefs
    WHERE href LIKE '%.pdf'
    """,
    doc="A-2/A-3 as pure SQL: extract hrefs from HTML with "
    "regexp_extract_all + explode, keep *.pdf, absolutize relatives "
    "(scrape_pdf_links.py:12-14 re-expressed without a parser UDF)",
)
def html_link_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><a href="/files/doc'),
            F.col("doc_id").cast("string"),
            F.lit('.pdf">d</a><a href="https://cdn.example.et/x'),
            F.col("doc_id").cast("string"),
            F.lit('.pdf">x</a><a href="/about.html">about</a></body></html>'),
        ).alias("html"),
    )
    hrefs = pages.select(
        "doc_id",
        F.explode(F.regexp_extract_all("html", F.lit(r'href="([^"]*)"'), 1)).alias(
            "href"
        ),
    )
    return hrefs.where(F.col("href").endswith(".pdf")).select(
        "doc_id",
        absolutize_url(F.col("href"), "https://fsc.example.et").alias("url"),
    )


@register(
    "applyinpandas_user_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT)
               - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    )
    SELECT user_id,
           COUNT(gap_s)                        AS n_gaps,
           ROUND(quantile_cont(gap_s, 0.5), 1) AS median_gap_s,
           MAX(gap_s)                          AS max_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
    doc="grouped-map applyInPandas: per-user inter-event gap stats "
    "computed in pandas (Arrow batch per group), oracle-checked "
    "against the pure-SQL window formulation. Second-floor epoch "
    "diffs are ns/µs-truncation-safe.",
)
def applyinpandas_user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    def gap_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        # floor to whole epoch seconds, unit-independent (datetime64[s]
        # truncation works for ns- or µs-backed series alike)
        sec = pdf["ts"].astype("datetime64[s]").astype("int64")
        gaps = sec.diff().dropna()
        if len(gaps) == 0:
            return pd.DataFrame(
                columns=["user_id", "n_gaps", "median_gap_s", "max_gap_s"]
            )
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_gaps": [int(len(gaps))],
                "median_gap_s": [round(float(gaps.median()), 1)],
                "max_gap_s": [int(gaps.max())],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        gap_stats,
        schema="user_id long, n_gaps long, median_gap_s double, max_gap_s long",
    )


@register(
    "explode_outer_rare_tokens",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             LIST_FILTER(string_split(text, ' '), t -> t = 'query') AS hits
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, UNNEST(hits) AS token FROM d WHERE LEN(hits) > 0
    UNION ALL
    -- explode_outer also emits a null row for a NULL array (null
    -- text), not just an empty one (text-null mirror)
    SELECT doc_id, NULL AS token FROM d
    WHERE LEN(hits) = 0 OR hits IS NULL
    """,
    doc="explode_outer + higher-order filter: docs without the token "
    "survive as a null row (LEFT JOIN LATERAL semantics)",
)
def explode_outer_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    hits = F.filter(F.split("text", " "), lambda t: t == "query")
    return docs.select(
        "doc_id", F.explode_outer(hits).alias("token")
    )


@register(
    "scalar_string_extras",
    oracle="""
    SELECT p_partkey,
           LPAD(CAST(p_partkey AS VARCHAR), 8, '0')     AS padded_key,
           REVERSE(p_brand)                             AS brand_rev,
           REPEAT('-', p_size % 5)                      AS size_bar,
           POSITION('o' IN p_name)                      AS first_o,
           LEFT(p_type, 3)                              AS type3,
           RIGHT(p_name, 4)                             AS name_tail,
           CASE WHEN p_size IS NULL THEN 'none'
                WHEN p_size > 25 THEN 'big' ELSE 'small' END AS size_class,
           GREATEST(p_size, 10)                         AS size_floor10,
           LEAST(p_size, 40)                            AS size_cap40,
           NULLIF(p_brand, 'Brand#00')                  AS brand_nullable
    FROM part
    """,
    doc="string/conditional scalar extras: pad, reverse, repeat, "
    "position, left/right, CASE, greatest/least, nullif",
)
def scalar_string_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.lit("-"), F.col("p_size") % 5).alias("size_bar"),
        F.instr("p_name", "o").alias("first_o"),
        F.substring("p_type", 1, 3).alias("type3"),
        F.substring("p_name", -4, 4).alias("name_tail"),
        F.when(F.col("p_size").isNull(), "none")
        .when(F.col("p_size") > 25, "big")
        .otherwise("small")
        .alias("size_class"),
        F.greatest("p_size", F.lit(10)).alias("size_floor10"),
        F.least("p_size", F.lit(40)).alias("size_cap40"),
        F.nullif(F.col("p_brand"), F.lit("Brand#00")).alias("brand_nullable"),
    )


@register(
    "scalar_bitwise_keys",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255                       AS low_byte,
           l_orderkey | 1                         AS odd_key,
           XOR(l_orderkey, l_linenumber)          AS xored,
           l_linenumber << 4                      AS shifted
    FROM lineitem
    WHERE l_orderkey < 500
    """,
    doc="bitwise scalar family (the SimHash banding primitives, "
    "oracle-checked standalone)",
)
def scalar_bitwise_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("l_orderkey").bitwiseOR(F.lit(1)).alias("odd_key"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_linenumber").cast("long")).alias("xored"),
        F.shiftleft(F.col("l_linenumber"), 4).alias("shifted"),
    )


@register(
    "source_roundtrip_formats",
    # ORACLE-CHECKED: the scratch
    # files themselves are invisible to DuckDB, but the entry's OUTPUT
    # is per-format row-count reconciliation — and the oracle can
    # recompute the expected count from the source table externally.
    # A format that drops or duplicates rows on write or read now
    # hash-mismatches instead of passing a rows-only "ran" check.
    oracle="""
    WITH n AS (SELECT COUNT(*) AS c FROM documents WHERE doc_id < 100)
    SELECT t.fmt, n.c AS n_rows, n.c AS n_src, TRUE AS roundtrip_ok
    FROM (VALUES ('csv'), ('json'), ('orc'), ('text'), ('xml'))
         AS t(fmt), n
    """,
    doc="CSV + JSONL + ORC + text + XML (Spark 4 native) source/sink "
    "round-trip: documents subset written and re-read in each format "
    "with explicit schemas, counts reconciled (SURVEY §2.B scans/sinks "
    "row). Oracle-checked: the oracle recomputes the "
    "expected count externally, so a row-dropping format sink/source "
    "fails the hash instead of passing a rows-only check",
)
def source_roundtrip_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "lang", "n_chars")
    )
    base = tempfile.mkdtemp(prefix="elel_spark_rt_")
    docs.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    docs.write.mode("overwrite").json(f"{base}/json")
    docs.write.mode("overwrite").orc(f"{base}/orc")
    docs.select(F.col("doc_id").cast("string")).write.mode("overwrite").text(
        f"{base}/text"
    )
    csv_n = (
        spark.read.schema("doc_id long, lang string, n_chars long")
        .option("header", True)
        .csv(f"{base}/csv")
        .count()
    )
    json_n = (
        spark.read.schema("doc_id long, lang string, n_chars long")
        .json(f"{base}/json")
        .count()
    )
    docs.write.mode("overwrite").option("rowTag", "doc").format("xml").save(
        f"{base}/xml"
    )
    orc_n = spark.read.orc(f"{base}/orc").count()
    text_n = spark.read.text(f"{base}/text").count()
    xml_n = (
        spark.read.schema("doc_id long, lang string, n_chars long")
        .option("rowTag", "doc")
        .format("xml")
        .load(f"{base}/xml")
        .count()
    )
    src_n = docs.count()
    return spark.createDataFrame(
        [
            ("csv", csv_n, src_n),
            ("json", json_n, src_n),
            ("orc", orc_n, src_n),
            ("text", text_n, src_n),
            ("xml", xml_n, src_n),
        ],
        "fmt string, n_rows long, n_src long",
    ).withColumn("roundtrip_ok", F.col("n_rows") == F.col("n_src"))


@register(
    "html_main_text",
    oracle="""
    WITH pages AS (
      SELECT doc_id,
             '<html><head><title>Doc</title><style>.x{color:red}</style>'
             || '</head><body><script>var k="' || doc_id
             || '";</script><nav>Home &amp; About</nav><p>' || text
             || '</p><div>&lt;tag&gt; &quot;quoted&quot;'
             || '&#39;s &nbsp;end</div></body></html>' AS html
      FROM documents
    ),
    stripped AS (
      SELECT doc_id,
             TRIM(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gs'),
                     '<style[^>]*>.*?</style>', ' ', 'gs'),
                   '<[^>]+>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '[ \t\r\n\f]+', ' ', 'g')) AS main_text
      FROM pages
    )
    SELECT doc_id,
           main_text,
           LENGTH(main_text) AS text_len,
           CASE WHEN main_text = '' THEN 0
                ELSE LENGTH(main_text)
                     - LENGTH(replace(main_text, ' ', '')) + 1 END
             AS n_tokens
    FROM stripped
    """,
    doc="HTML -> main-text extraction, the strip-markup stage every "
    "web-corpus pipeline runs before dedup/quality (C4/CCNet start "
    "from WET text; this produces it from raw HTML): drop script and "
    "style blocks (non-greedy dotall), strip remaining tags, decode "
    "the core character entities (&lt; &gt; &quot; &#39; &nbsp; and "
    "&amp; LAST, so earlier decodes cannot manufacture new entities), "
    "collapse whitespace with an explicit [ \\t\\r\\n\\f] class "
    "(Java \\s and RE2 \\s disagree on \\x0B — the one cross-engine "
    "regex trap here, avoided by never writing \\s). Pure JVM "
    "regexp_replace/replace chain — zero Python, shuffle-free, "
    "whole-stage codegen — and the oracle re-runs the identical chain "
    "in DuckDB, comparing the EXTRACTED TEXT ITSELF, not just "
    "counts. Token count derives from collapsed single spaces "
    "(spaces+1), exact in both engines.",
)
def html_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit(
                '<html><head><title>Doc</title><style>.x{color:red}</style>'
                '</head><body><script>var k="'
            ),
            F.col("doc_id").cast("string"),
            F.lit('";</script><nav>Home &amp; About</nav><p>'),
            F.col("text"),
            F.lit(
                "</p><div>&lt;tag&gt; &quot;quoted&quot;"
                "&#39;s &nbsp;end</div></body></html>"
            ),
        ).alias("html"),
    )
    from ethiopia_legal_etl_spark.functions.text import strip_html

    out = pages.select("doc_id", strip_html(F.col("html")).alias("main_text"))
    return out.select(
        "doc_id",
        "main_text",
        F.length("main_text").cast("long").alias("text_len"),
        F.when(F.col("main_text") == "", F.lit(0))
        .otherwise(
            F.length("main_text")
            - F.length(F.replace(F.col("main_text"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("long")
        .alias("n_tokens"),
    )


@register(
    "variant_event_props",
    oracle="""
    -- json_valid guard: DuckDB json_extract RAISES on malformed JSON;
    -- Spark's try_parse_json yields a NULL variant (corruption axis)
    WITH e AS (
      SELECT event_id,
             CASE WHEN json_valid(props)
                  THEN CAST(json_extract(props, '$.k') AS INT)
             END AS k_val
      FROM events
    )
    SELECT event_id, k_val, k_val % 10 AS k_bucket
    FROM e WHERE k_val >= 50
    """,
    doc="Spark 4 VARIANT type: parse_json once, variant_get typed "
    "paths — the open-schema column pattern for event/telemetry "
    "tables. Unlike get_json_object (string re-parse per access), "
    "VARIANT parses once into a binary-encoded tree; at 100 TB the "
    "parse cost is paid at ingest and every downstream access is a "
    "cheap path walk. Oracle = DuckDB json_extract casts.",
)
def variant_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: a truncated/partial telemetry
    # payload must become a NULL variant, not a MALFORMED_RECORD error
    # that kills the job at corpus scale (corruption axis)
    v = F.try_parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.select("event_id", k.alias("k_val"))
        .where(F.col("k_val") >= 50)
        .select("event_id", "k_val", (F.col("k_val") % 10).alias("k_bucket"))
    )


@register(
    "hof_token_metrics",
    oracle="""
    SELECT doc_id,
           LEN(list_filter(string_split(text, ' '), t -> LENGTH(t) > 3))
             AS n_long_tokens,
           list_reduce(
             list_prepend(0, list_transform(string_split(text, ' '),
                                            t -> LENGTH(t))),
             (acc, x) -> acc + x) AS total_chars,
           LEN(list_filter(string_split(text, ' '),
                           t -> t LIKE '%ing')) > 0 AS has_ing
    FROM documents WHERE LENGTH(text) > 0
    """,
    doc="higher-order array lambdas end-to-end: transform -> filter "
    "-> aggregate -> exists, all JVM-side Catalyst expressions (no "
    "UDF, no explode/re-group shuffle). The explode spelling of "
    "total_chars would shuffle token rows; the lambda spelling is "
    "a map-side expression — the difference at 100 TB.",
)
def hof_token_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 3)).alias("n_long_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.exists(toks, lambda t: t.endswith("ing")).alias("has_ing"),
    )


@register(
    "zorder_pruning_stats",
    oracle=None,  # writes scratch files, reads parquet footers -> rows-only
    doc="z-order clustered write evidence (sources/zorder.py): lineitem "
    "rewritten as 16 files under three layouts (hash, single-column "
    "range, Morton z-order on partkey+suppkey); for each layout and "
    "each key column, counts how many files a quarter-range predicate "
    "must read according to the parquet footer min/max — the exact "
    "stats a scan's file pruning consults. Expected shape: hash prunes "
    "nothing, single-column range prunes only its sort column, z-order "
    "prunes BOTH (~6-8/16). At 100 TB this is the difference between "
    "a two-dimension filter reading ~6% of files and reading all of "
    "them when the predicate misses the sort column."
    " Rows-only verdict: NOT convertible — the entry reads "
    "parquet footer min/max of files written to a scratch dir; oracle "
    "views are the pre-registered testdata tables only and DuckDB "
    "never sees the scratch layouts. Ground truth: layout-ordering "
    "assertions (z-order prunes both keys) in tests.",
)
def zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    import pyarrow.parquet as pq

    from ethiopia_legal_etl_spark.sources.zorder import write_zorder_clustered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    maxes = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    if maxes[0] is None:  # empty input: nothing to lay out or compare
        return spark.createDataFrame(
            [], "layout string, col string, files_total long, files_hit long"
        )

    base = tempfile.mkdtemp(prefix="elel_spark_z_")
    li.repartition(16).write.mode("overwrite").parquet(f"{base}/hash")
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(f"{base}/single")
    )
    write_zorder_clustered(li, f"{base}/zorder", ["l_partkey", "l_suppkey"], 16)

    def file_ranges(path: str, column: str):
        out = []
        for f in sorted(Path(path).glob("*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            idx = md.schema.names.index(column)
            lo = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            out.append((lo, hi))
        return out

    rows = []
    for layout in ("hash", "single", "zorder"):
        for col, qhi in (("l_partkey", maxes[0] // 4), ("l_suppkey", maxes[1] // 4)):
            rs = file_ranges(f"{base}/{layout}", col)
            hit = sum(1 for lo, hi in rs if lo <= qhi and 0 <= hi)
            rows.append((layout, col, len(rs), hit))
    return spark.createDataFrame(
        rows, "layout string, col string, files_total long, files_hit long"
    )


_RECURSIVE_SPINE_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT CAST('1995-01-01' AS DATE)
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
  WHERE m < CAST('2001-08-01' AS DATE)
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT months.m AS month, COALESCE(n_orders, 0) AS n_orders, revenue
FROM months LEFT JOIN monthly ON months.m = monthly.m
"""


@register(
    "recursive_monthly_spine",
    oracle=_RECURSIVE_SPINE_SQL,
    doc="WITH RECURSIVE month spine (Spark 4 recursive CTE) left-joined "
    "to monthly order aggregates — the recursive sibling of "
    "timeseries_gapfill_locf's sequence() spine; months with no orders "
    "surface as zero rows instead of disappearing. The EXACT same SQL "
    "text runs on DuckDB as the oracle: dialect-level parity. "
    "Termination is structural (monotone month, bounded above). Scale: "
    "recursion produces 80 driver-side rows then joins the distributed "
    "aggregate — recursion depth never touches the big table.",
)
def recursive_monthly_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_SPINE_SQL)


_SCRIPT_SQL = """
BEGIN
  DECLARE cutoff DOUBLE DEFAULT 0;
  SET cutoff = (SELECT CAST(avg(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                FROM orders);
  SELECT o_orderpriority,
         COUNT(*) AS n_above_avg,
         CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
  FROM orders WHERE o_totalprice > cutoff
  GROUP BY o_orderpriority;
END
"""


@register(
    "scripting_above_avg_orders",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_above_avg,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
    FROM orders
    WHERE o_totalprice > (
      SELECT CAST(avg(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      FROM orders)
    GROUP BY o_orderpriority
    """,
    doc="SQL scripting (Spark 4.1 BEGIN/DECLARE/SET/END): a session "
    "variable captures a scalar aggregate, the final statement filters "
    "on it; the script's result is the last SELECT. Oracle is the "
    "equivalent single-statement scalar subquery — proving the "
    "procedural form computes exactly the declarative answer. avg is "
    "decimal-sum/count per the float policy so both engines divide "
    "identical doubles.",
)
def scripting_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SCRIPT_SQL)


@register(
    "transpose_nation_metrics",
    oracle="""
    WITH per_region AS (
      SELECT r_name,
             CAST(COUNT(*) AS DOUBLE) AS n_nations,
             CAST(MIN(n_nationkey) AS DOUBLE) AS min_key,
             CAST(MAX(n_nationkey) AS DOUBLE) AS max_key
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
    )
    SELECT 'n_nations' AS key,
           MAX(CASE WHEN r_name = 'AFRICA' THEN n_nations END) AS "AFRICA",
           MAX(CASE WHEN r_name = 'AMERICA' THEN n_nations END) AS "AMERICA",
           MAX(CASE WHEN r_name = 'ASIA' THEN n_nations END) AS "ASIA",
           MAX(CASE WHEN r_name = 'EUROPE' THEN n_nations END) AS "EUROPE",
           MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN n_nations END) AS "MIDDLE EAST"
    FROM per_region
    UNION ALL
    SELECT 'min_key',
           MAX(CASE WHEN r_name = 'AFRICA' THEN min_key END),
           MAX(CASE WHEN r_name = 'AMERICA' THEN min_key END),
           MAX(CASE WHEN r_name = 'ASIA' THEN min_key END),
           MAX(CASE WHEN r_name = 'EUROPE' THEN min_key END),
           MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN min_key END)
    FROM per_region
    UNION ALL
    SELECT 'max_key',
           MAX(CASE WHEN r_name = 'AFRICA' THEN max_key END),
           MAX(CASE WHEN r_name = 'AMERICA' THEN max_key END),
           MAX(CASE WHEN r_name = 'ASIA' THEN max_key END),
           MAX(CASE WHEN r_name = 'EUROPE' THEN max_key END),
           MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN max_key END)
    FROM per_region
    """,
    doc="DataFrame.transpose (Spark 4): a 5-region × 3-metric summary "
    "flipped so metrics become rows and regions become columns — the "
    "report-shaping dual of pivot. Metrics pre-cast to a common DOUBLE "
    "type (transpose requires a least-common type across the row). "
    "Oracle spells the transpose as conditional aggregation per region "
    "name. Driver-safe: transpose collects the FIRST column only to "
    "name output columns; the 5-row input here makes that trivial.",
)
def transpose_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    per_region = (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_nations"),
            F.min("n_nationkey").cast("double").alias("min_key"),
            F.max("n_nationkey").cast("double").alias("max_key"),
        )
        .orderBy("r_name")
    )
    return per_region.transpose()


@register(
    "arrow_token_count",
    oracle="""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
             AS n_tokens_ws
    FROM documents
    """,
    doc="mapInArrow (Spark 4 Arrow-native batch UDF): whitespace token "
    "counts computed with pyarrow.compute kernels on RecordBatches — "
    "no pandas materialization, no per-row Python. The zero-copy tier "
    "of the UDF ladder (built-ins > mapInArrow > pandas_udf > row "
    "UDF); oracle is the pure-SQL length-difference spelling, proving "
    "the Arrow kernel path computes exactly what the JVM expression "
    "would.",
)
def arrow_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def count_tokens(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column(1)
            spaces = pc.count_substring(text, " ")
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pc.add(spaces, 1).cast(pa.int64())],
                ["doc_id", "n_tokens_ws"],
            )

    return docs.mapInArrow(count_tokens, "doc_id long, n_tokens_ws long")


@register(
    "grouped_agg_weighted_price",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_discount) / SUM(l_discount), 4)
             AS disc_weighted_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="GROUPED_AGG pandas UDF: discount-weighted mean price per "
    "return flag, the one UDF variant the other queries don't cover "
    "(scalar pandas_udf -> sql_udf_year_extract, grouped-map "
    "applyInPandas -> applyinpandas_user_gap_stats, mapInPandas -> "
    "ingest, mapInArrow -> arrow_token_count). The UDF receives each group's columns as whole pandas "
    "Series and returns one scalar; usable in groupBy().agg and as a "
    "window aggregate. Scale note: unlike built-in aggs there is NO "
    "map-side partial aggregation — every group's rows ship to one "
    "task — so built-ins stay preferred in hot paths; this exists for "
    "genuinely non-SQL group reductions. Oracle is the declarative "
    "weighted-mean spelling (4dp round absorbs double summation-order "
    "differences).",
)
def grouped_agg_weighted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmean(price: pd.Series, disc: pd.Series) -> float:
        return float((price * disc).sum() / disc.sum())

    # Spark disallows mixing GROUPED_AGG UDFs with built-in aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT) -> count via a second
    # pandas aggregate
    @pandas_udf("long")
    def n_rows(price: pd.Series) -> int:
        return int(len(price))

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wmean("l_extendedprice", "l_discount"), 4).alias(
            "disc_weighted_price"
        ),
        n_rows("l_extendedprice").alias("n_rows"),
    )


@register(
    "arrow_grouped_user_stats",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_sum,
           CAST(MIN(event_id) AS BIGINT) AS first_event,
           CAST(MAX(event_id) AS BIGINT) AS last_event
    FROM {EVENTS_FINITE_SQL} GROUP BY user_id
    """,
    doc="grouped applyInArrow (Spark 4's Arrow-native grouped-map — "
    "the LAST unexercised entry in the pandas-API family: scalar "
    "pandas_udf, GROUPED_AGG, grouped applyInPandas, cogrouped "
    "applyInPandas, mapInPandas, mapInArrow, and now grouped "
    "applyInArrow): per-user event stats computed with "
    "pyarrow.compute kernels on each group's Table — no pandas "
    "materialization, exact integer outputs (cents quantized with "
    "the engine-agreed FLOOR(x*100 + 0.5)), so the hash matches with "
    "no float policy at all. Scale note: like every grouped-map, no "
    "map-side partials — each user's rows ship whole to one task; "
    "built-in aggs stay preferred in hot paths, this pins the API "
    "for genuinely non-SQL per-group Arrow compute.",
)
def arrow_grouped_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value").select(
        "user_id", "event_id", "value"
    )

    def stats(table):
        import pyarrow as pa
        import pyarrow.compute as pc

        cents = pc.cast(
            pc.floor(pc.add(pc.multiply(table.column("value"), 100.0), 0.5)),
            pa.int64(),
        )
        return pa.Table.from_pydict(
            {
                "user_id": [table.column("user_id")[0].as_py()],
                "n_events": [table.num_rows],
                "cents_sum": [pc.sum(cents).as_py()],
                "first_event": [pc.min(table.column("event_id")).as_py()],
                "last_event": [pc.max(table.column("event_id")).as_py()],
            }
        )

    return ev.groupBy("user_id").applyInArrow(
        stats,
        schema=(
            "user_id long, n_events long, cents_sum long, "
            "first_event long, last_event long"
        ),
    )


# --------------------------------------------------------------------
# try_* family: NULL-on-error arithmetic instead of job-killing throws.
# --------------------------------------------------------------------
@register(
    "try_arithmetic_orders",
    oracle="""
    SELECT o_orderkey,
           ROUND(CASE WHEN o_custkey % 7 = 0 THEN NULL
                      ELSE CAST(o_totalprice AS DOUBLE) / (o_custkey % 7) END,
                 6) AS safe_ratio,
           CASE WHEN o_orderkey > 7 THEN NULL
                ELSE o_orderkey + 9223372036854775800 END AS safe_sum,
           TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN '12x'
                         ELSE CAST(o_custkey AS VARCHAR) END AS INTEGER)
             AS safe_int
    FROM orders
    WHERE o_custkey < 500
    """,
    doc="try_divide / try_add / try_cast: division by zero, bigint "
    "overflow, and malformed casts yield NULL instead of throwing — "
    "the semantics a 100 TB batch needs (one poisoned row must not "
    "kill a 10k-task stage; the NULLs stay auditable downstream, the "
    "per-record error-isolation story of SURVEY §2.C applied to "
    "arithmetic). DuckDB spells them as guarded CASE / TRY_CAST. "
    "Narrow per-row projection: no shuffle, pushed filter.",
)
def try_arithmetic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 500)
    return orders.select(
        "o_orderkey",
        F.round(
            F.try_divide(
                F.col("o_totalprice").cast("double"),
                (F.col("o_custkey") % 7).cast("double"),
            ),
            6,
        ).alias("safe_ratio"),
        F.try_add(F.col("o_orderkey"), F.lit(9223372036854775800)).alias(
            "safe_sum"
        ),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("12x"))
        .otherwise(F.col("o_custkey").cast("string"))
        .try_cast("int")
        .alias("safe_int"),
    )


# --------------------------------------------------------------------
# String scalar family 2.
# --------------------------------------------------------------------
@register(
    "scalar_string_funcs2",
    oracle="""
    SELECT p_partkey,
           split_part(p_name, ' ', 1) AS first_word,
           array_to_string(list_transform(string_split(p_name, ' '),
               x -> upper(x[1:1]) || lower(x[2:])), ' ') AS name_title,
           translate(p_name, 'aeiou', 'AEIOU') AS vowels_upper,
           substr(p_name, 1, 1) || 'XX' || substr(p_name, 4) AS spliced,
           length(regexp_extract_all(p_name, '[aeiou]')) AS vowel_cnt
    FROM part
    """,
    doc="split_part / initcap / translate / overlay / regexp_count in "
    "one projection. DuckDB has no initcap or overlay: the oracle "
    "rebuilds initcap with a per-word list lambda and overlay with "
    "substr splicing — independent spellings, identical values. Pure "
    "codegen projection: no shuffle, scan-bound at any scale.",
)
def scalar_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.initcap("p_name").alias("name_title"),
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_upper"),
        F.overlay(F.col("p_name"), F.lit("XX"), F.lit(2), F.lit(2)).alias(
            "spliced"
        ),
        F.regexp_count(F.col("p_name"), F.lit("[aeiou]")).alias("vowel_cnt"),
    )


# --------------------------------------------------------------------
# Date scalar family 2.
# --------------------------------------------------------------------
@register(
    "scalar_date_funcs2",
    oracle="""
    SELECT o_orderkey,
           make_date(CAST(EXTRACT(year FROM o_orderdate) AS INTEGER),
                     CAST(EXTRACT(month FROM o_orderdate) AS INTEGER),
                     CAST(EXTRACT(day FROM o_orderdate) AS INTEGER))
             AS rebuilt_date,
           CAST(o_orderdate AS DATE)
             + CAST((7 + 6 - isodow(CAST(o_orderdate AS DATE))) % 7
                    AS INTEGER)
             + CASE WHEN (7 + 6 - isodow(CAST(o_orderdate AS DATE))) % 7 = 0
                    THEN 7 ELSE 0 END AS next_saturday,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(DATEDIFF('month', DATE '1992-01-01',
                         CAST(DATE_TRUNC('month', o_orderdate) AS DATE))
                AS DOUBLE) AS months_since_1992,
           week(CAST(o_orderdate AS DATE)) AS iso_week,
           quarter(CAST(o_orderdate AS DATE)) AS qtr
    FROM orders
    """,
    doc="make_date / next_day / last_day / months_between / weekofyear "
    "/ quarter. next_day has no DuckDB twin — the oracle derives the "
    "strictly-next Saturday from ISO day-of-week arithmetic. "
    "months_between is evaluated on month-aligned dates so its "
    "31-day-month fraction rule degenerates to the integer both "
    "engines agree on. Pure codegen projection: no shuffle.",
)
def scalar_date_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.make_date(F.year(d), F.month(d), F.dayofmonth(d)).alias("rebuilt_date"),
        F.next_day(d, "Sat").alias("next_saturday"),
        F.last_day(d).alias("month_end"),
        F.months_between(
            F.date_trunc("month", "o_orderdate").cast("date"),
            F.lit("1992-01-01").cast("date"),
        ).alias("months_since_1992"),
        F.weekofyear(d).alias("iso_week"),
        F.quarter(d).alias("qtr"),
    )


# --------------------------------------------------------------------
# Map higher-order functions: per-user event-type profile.
# --------------------------------------------------------------------
@register(
    "map_hof_event_profile",
    oracle=f"""
    WITH per AS (
      -- null map keys are illegal in Spark (map_ops_user_stats
      -- precedent): null event types excluded on BOTH sides (caught
      -- by the full null-mirror sweep)
      SELECT user_id, event_type, COUNT(*) AS cnt,
             SUM(CAST(value AS DECIMAL(14,2))) AS sumv
      FROM {EVENTS_FINITE_SQL} WHERE event_type IS NOT NULL
      GROUP BY user_id, event_type
    ), tot AS (
      SELECT user_id, event_type, cnt, sumv,
             SUM(cnt) OVER (PARTITION BY user_id) AS total
      FROM per
    )
    SELECT user_id, UPPER(event_type) AS etype, cnt,
           CAST(sumv AS DOUBLE) / cnt AS avg_value,
           CAST(cnt AS DOUBLE) / total AS share
    FROM tot
    WHERE CAST(cnt AS DOUBLE) / total >= 0.15
    """,
    doc="the whole map-HOF surface in one flow: per-user (type→count) "
    "and (type→sum) maps via map_from_entries(collect_list(struct)), "
    "combined with map_zip_with into (cnt, avg, share) structs (raw "
    "double divisions per the registry float policy — identical "
    "dividends on both engines, no round-tie surface), "
    "thinned with map_filter (share ≥ 0.15), keys rewritten with "
    "transform_keys(upper), then map_entries+explode back to rows. "
    "The maps are built AFTER the (user,type) reduction, so each map "
    "holds ≤5 entries regardless of event volume; the oracle computes "
    "the same numbers relationally, never touching a map.",
)
def map_hof_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value")
    # null map keys are illegal in Spark ([NULL_MAP_KEY]) — null event
    # types excluded on both sides, the map_ops_user_stats precedent
    per = ev.where(F.col("event_type").isNotNull()).groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(14,2)")).alias("sumv"),
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("cnt_map"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "sumv"))
        ).alias("sum_map"),
        F.sum("cnt").alias("total"),
    )
    profile = F.map_zip_with(
        "cnt_map",
        "sum_map",
        lambda k, c, s: F.struct(
            c.alias("cnt"),
            (s.cast("double") / c).alias("avg_value"),
            (c.cast("double") / F.col("total")).alias("share"),
        ),
    )
    thinned = F.map_filter(profile, lambda k, v: v["share"] >= 0.15)
    upper = F.transform_keys(thinned, lambda k, v: F.upper(k))
    return (
        maps.select("user_id", F.explode(F.map_entries(upper)).alias("e"))
        .select(
            "user_id",
            F.col("e.key").alias("etype"),
            F.col("e.value.cnt").alias("cnt"),
            F.col("e.value.avg_value").alias("avg_value"),
            F.col("e.value.share").alias("share"),
        )
    )


@register(
    "recursive_cte_walk",
    oracle="""
    WITH RECURSIVE walk(seed, node, depth) AS (
      SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
             CAST(0 AS BIGINT)
      FROM nation
      UNION ALL
      SELECT seed, (node * 7 + 13) % 50, depth + 1
      FROM walk WHERE depth < 7
    )
    SELECT seed, depth, node FROM walk
    """,
    doc="table-seeded PARALLEL recursion (Spark 4 RECURSIVE CTE, "
    "SPARK-24497): an 8-step walk over the functional graph "
    "node -> (7*node + 13) mod 50 carrying all 25 nation-seeded "
    "chains simultaneously — the multi-row-frontier shape "
    "recursive_monthly_spine's scalar date spine does not exercise "
    "(each iteration must keep per-seed state distinct through UNION "
    "ALL). Pure integer arithmetic, so every row is bit-reproducible "
    "cross-engine. The functional graph (out-degree 1) keeps the "
    "frontier at exactly |seeds| rows per step — the recursion never "
    "expands, so the declared plan is safe at any seed cardinality; "
    "8 iterations = 8 bounded stages.",
)
def recursive_cte_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_rcte_v"
    )
    return spark.sql(
        """
        WITH RECURSIVE walk(seed, node, depth) AS (
          SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
                 CAST(0 AS BIGINT)
          FROM nation_rcte_v
          UNION ALL
          SELECT seed, (node * 7 + 13) % 50, depth + 1
          FROM walk WHERE depth < 7
        )
        SELECT seed, depth, node FROM walk
        """
    )
