"""Text-analysis operators over the `documents` table (SURVEY.md §2.B
"text analysis" + the driver mandate: language-ID, quality scoring,
token counting, fingerprinting, tf-idf).

All hot-path logic is built-in column expressions (split/explode/
aggregate/transform) — JVM-side, whole-stage codegen, no Python UDFs.
At 100 TB the explode-based term queries shuffle on the token key;
partial aggregation collapses per-partition counts first, and token
skew (stopwords) is handled by AQE skew handling on the groupBy.

Generalizes the reference's string pipeline (A-10/A-13 regex and
string normalization, fetch_legal_docs.py:21-38).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

FP_MOD = 1_000_000_007  # fingerprint modulus (fits BIGINT under *31)


def tokens(col):
    """Whitespace tokenizer, single-space semantics — matches DuckDB
    string_split(text, ' ') exactly (empty tokens preserved)."""
    return F.split(col, " ")


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           LEN(string_split(text, ' '))                     AS n_tokens,
           LEN(list_distinct(string_split(text, ' ')))      AS n_distinct,
           ROUND(LIST_AGGREGATE(LIST_TRANSFORM(string_split(text, ' '),
                 t -> LENGTH(t)), 'avg'), 4)                AS avg_token_len
    FROM documents
    """,
    doc="token counting: total, distinct, mean length per document",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.round(total_len / F.size(toks), 4).alias("avg_token_len"),
    )


@register(
    "text_lang_stats",
    oracle="""
    SELECT lang,
           COUNT(*)                                          AS n_docs,
           ROUND(AVG(n_chars), 4)                            AS avg_chars,
           ROUND(AVG(LEN(string_split(text, ' '))), 4)       AS avg_tokens,
           MIN(n_chars)                                      AS min_chars,
           MAX(n_chars)                                      AS max_chars
    FROM documents
    GROUP BY lang
    """,
    doc="per-language corpus stats",
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(tokens(F.col("text")))), 4).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_term_frequency",
    oracle="""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 20
    """,
    doc="corpus term frequency via explode + groupBy (top 20)",
)
def text_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(20)
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM toks GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df
      FROM toks GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, token, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rn
      FROM scored
    )
    SELECT doc_id, token, tfidf FROM ranked
    WHERE rn <= 3 AND doc_id < 100
    """,
    doc="tf-idf: top-3 distinguishing terms per document (doc_id<100)",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a broadcast 1-row aggregate, NOT a driver-side
    # .count(): keeps the whole plan lazy — no extra eager scan of a
    # 100 TB table just to get N
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "token", "tfidf")
    )


@register(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           LEN(string_split(text, ' '))   AS n_tokens,
           ROUND(CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / LEN(string_split(text, ' ')), 4)  AS distinct_ratio,
           ROUND(CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))
                 AS DOUBLE) / LENGTH(text), 4)       AS space_ratio,
           ROUND(
             0.5 * LEAST(CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 50, 1.0)
           + 0.5 * (CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / LEN(string_split(text, ' '))), 4) AS quality
    FROM documents
    WHERE LENGTH(text) > 0
    """,
    doc="quality scoring: length + lexical-diversity heuristic",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    space_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    ).cast("double") / F.length("text")
    quality = 0.5 * F.least(
        n_tokens.cast("double") / 50, F.lit(1.0)
    ) + 0.5 * distinct_ratio
    return docs.where(F.length("text") > 0).select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(space_ratio, 4).alias("space_ratio"),
        F.round(quality, 4).alias("quality"),
    )


@register(
    "text_lang_id_heuristic",
    oracle="""
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN LENGTH(text) - LENGTH(REPLACE(text, 'the', '')) >= 3
               OR LENGTH(text) - LENGTH(REPLACE(text, 'and', '')) >= 3
             THEN 'en' ELSE 'unknown'
           END AS guessed_lang
    FROM documents
    """,
    doc="language-ID n-gram heuristic (marker-token scoring). The test "
    "corpus is English word soup, so the heuristic mostly says 'en'; "
    "the mechanism (marker counts -> argmax) is the deliverable.",
)
def text_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def marker_count(marker: str):
        return (
            F.length("text") - F.length(F.regexp_replace("text", marker, ""))
        ) / len(marker)

    guessed = F.when(
        (marker_count("the") >= 1) | (marker_count("and") >= 1), F.lit("en")
    ).otherwise(F.lit("unknown"))
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), guessed.alias("guessed_lang")
    )


@register(
    "text_bpe_token_count",
    oracle="""
    SELECT doc_id,
           LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS bpe_ish_tokens,
           LEN(string_split(text, ' '))                                       AS ws_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT)                           AS byte_estimate
    FROM documents
    """,
    doc="token counting, BPE-ish: pre-tokenizer regex (letter runs / "
    "digit runs / punctuation runs — the GPT-2-style split classes) "
    "vs whitespace count vs the chars/4 heuristic",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bpe_re = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(bpe_re), 0)).alias(
            "bpe_ish_tokens"
        ),
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("byte_estimate"),
    )


@register(
    "tokenizer_fertility_stats",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             LEN(regexp_extract_all(text,
                 '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS subword,
             LEN(string_split(text, ' ')) AS ws,
             strlen(text) AS bytes
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(subword) AS BIGINT) AS subword_tokens,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           ROUND(CAST(SUM(subword) AS DOUBLE)
                 / CAST(NULLIF(SUM(ws), 0) AS DOUBLE), 6) AS fertility,
           ROUND(CAST(SUM(bytes) AS DOUBLE)
                 / CAST(NULLIF(SUM(subword), 0) AS DOUBLE), 6)
             AS bytes_per_token
    FROM per_doc GROUP BY lang
    """,
    doc="tokenizer fertility accounting per language: subword tokens "
    "(GPT-2-style pre-tokenizer classes) per whitespace word, and "
    "UTF-8 bytes per subword token — the numbers that decide "
    "per-language token budgets and flag languages a tokenizer "
    "under-serves (high fertility = more tokens per word = higher "
    "training cost per sentence). One scan, one small shuffle to "
    "|langs| rows; each ratio is ONE IEEE division of exact integer "
    "sums, so cross-engine parity needs no float policy beyond "
    "round(6).",
)
def tokenizer_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bpe_re = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"
    per_doc = docs.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(bpe_re), 0)).alias("subword"),
        F.size(tokens(F.col("text"))).alias("ws"),
        F.octet_length("text").alias("bytes"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("subword").alias("subword_tokens"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("bytes").alias("total_bytes"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "subword_tokens",
        "ws_tokens",
        "total_bytes",
        F.round(
            F.col("subword_tokens").cast("double")
            / F.nullif(F.col("ws_tokens"), F.lit(0)).cast("double"),
            6,
        ).alias("fertility"),
        F.round(
            F.col("total_bytes").cast("double")
            / F.nullif(F.col("subword_tokens"), F.lit(0)).cast("double"),
            6,
        ).alias("bytes_per_token"),
    )


@register(
    "dedup_keep_first_window",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    doc="dedup via window row_number()==1 (keep-first; the variant "
    "that preserves the full surviving row without a re-join)",
)
def dedup_keep_first_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("doc_id", "lang")
    )


@register(
    "doc_fingerprint_rolling",
    oracle=f"""
    -- CASE mirrors Spark exactly: aggregate() over a NULL token
    -- array is NULL, while LIST_PREPEND(0, NULL) would fold to 0
    -- (r9 text-null mirror)
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
           LIST_REDUCE(
             LIST_PREPEND(CAST(0 AS BIGINT),
               LIST_TRANSFORM(string_split(text, ' '),
                 t -> CAST(ASCII(t) + LENGTH(t) AS BIGINT))),
             (a, b) -> (a * 31 + b) % {FP_MOD}
           ) END AS fingerprint
    FROM documents
    """,
    doc="document fingerprint: rolling polynomial hash over tokens "
    "(engine-portable: no murmur dependence)",
)
def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    codes = F.transform(
        tokens(F.col("text")),
        lambda t: (F.ascii(t) + F.length(t)).cast("long"),
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


@register(
    "cooccurrence_pmi_bigrams",
    oracle="""
    WITH d AS (
      SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ),
    dd AS (SELECT toks FROM d WHERE LEN(toks) >= 2),
    uni AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT unnest(toks) AS tok FROM dd) GROUP BY tok
    ),
    bi AS (
      SELECT z[1] AS a, z[2] AS b, COUNT(*) AS c_ab
      FROM (
        SELECT unnest(list_zip(toks[1:LEN(toks)-1], toks[2:LEN(toks)]))
          AS z
        FROM dd
      ) GROUP BY a, b
    ),
    tot AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n,
             (SELECT CAST(SUM(c_ab) AS BIGINT) FROM bi) AS m
    )
    SELECT bi.a, bi.b,
           CAST(bi.c_ab AS BIGINT) AS c_ab,
           CAST(CAST(ROUND(LN(CAST(bi.c_ab * tot.n * tot.n AS DOUBLE)
                    / CAST(tot.m * ua.c * ub.c AS DOUBLE)), 4)
                AS DECIMAL(12,4)) AS DOUBLE) AS pmi
    FROM bi
    JOIN uni ua ON ua.tok = bi.a
    JOIN uni ub ON ub.tok = bi.b
    CROSS JOIN tot
    WHERE bi.c_ab >= 5
    """,
    doc="bigram co-occurrence PMI (Church & Hanks 1990) — the "
    "collocation statistic behind phrase mining and the word2vec-era "
    "co-occurrence matrix build: PMI(a,b) = ln(p(a,b)/(p(a)p(b))) "
    "over adjacent token pairs. Spark shape: ONE corpus pass "
    "produces bigrams via arrays_zip(slice, slice) — no self-join on "
    "positions, the trap formulation that shuffles the token stream "
    "twice and explodes at 100 TB — then two Zipf-bounded aggregates "
    "(unigram + bigram vocab tables) joined broadcast. The PMI "
    "argument is formed as ONE integer-product ratio "
    "(c_ab*N^2)/(M*c_a*c_b) — exact BIGINT products, a single IEEE "
    "division, one LN — with the registry's 4dp policy absorbing "
    "libm last-ulp variance (the text_unigram_logprob convention). "
    "min-count 5 filters the unstable low-count tail PMI is known "
    "for.",
)
def cooccurrence_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    dd = docs.select(toks.alias("toks")).where(F.size("toks") >= 2)
    # localCheckpoint, not cache: Spark's CacheManager matches plans,
    # so a cached table left
    # behind is silently REUSED by the next identically-built run — a
    # cross-run intermediate in any repeated-run harness (the unigram
    # r14 finding). Checkpointed blocks die with the DataFrame ref and
    # never plan-match; intra-query compute-once reuse is identical.
    dd = dd.localCheckpoint()  # both aggregates read it; one corpus scan each
    # materialize the two Zipf-bounded vocab tables: each is referenced
    # 2-3 times (totals + the broadcast joins) and without this every
    # reference re-runs its CORPUS-scan aggregate (measured 7 data
    # shuffles -> 4, all vocab-bounded after the fix)
    uni = (
        dd.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    bi = (
        dd.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(toks, 1, size(toks) - 1)").alias("a"),
                    F.expr("slice(toks, 2, size(toks) - 1)").alias("b"),
                )
            ).alias("z")
        )
        .select(F.col("z.a").alias("a"), F.col("z.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint()
    )
    tot = uni.agg(F.sum("c").alias("n")).crossJoin(
        bi.agg(F.sum("c_ab").alias("m"))
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    return (
        bi.where(F.col("c_ab") >= 5)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "c_ab",
            # DECIMAL-mediated 4dp round: both engines quantize to the
            # identical decimal, then the identical nearest double —
            # plain ROUND(double,4) reprs can differ in the last ulp
            F.round(
                F.log(
                    (F.col("c_ab") * F.col("n") * F.col("n")).cast("double")
                    / (F.col("m") * F.col("c_a") * F.col("c_b")).cast(
                        "double"
                    )
                ),
                4,
            )
            .cast("decimal(12,4)")
            .cast("double")
            .alias("pmi"),
        )
    )


_BM25_QUERIES = [
    (0, ["hash", "join"]),
    (1, ["sort", "merge", "join"]),
    (2, ["window", "agg"]),
    (3, ["stream", "batch"]),
    (4, ["table", "scan", "filter"]),
]


@register(
    "retrieval_bm25_topk",
    oracle="""
    WITH q(query_id, term) AS (
      VALUES (0, 'hash'), (0, 'join'),
             (1, 'sort'), (1, 'merge'), (1, 'join'),
             (2, 'window'), (2, 'agg'),
             (3, 'stream'), (3, 'batch'),
             (4, 'table'), (4, 'scan'), (4, 'filter')
    ),
    toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ),
    g AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
             (SELECT CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE)
                     / COUNT(*) FROM dl) AS avgdl
    ),
    terms AS (
      SELECT q.query_id, tf.doc_id,
             ROUND(
               LN(CAST(1 AS DOUBLE)
                  + (CAST(g.n_docs - df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                    / (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
               * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
               / (CAST(tf.tf AS DOUBLE)
                  + CAST(1.2 AS DOUBLE)
                    * (CAST(0.25 AS DOUBLE)
                       + CAST(0.75 AS DOUBLE)
                         * (CAST(dl.dl AS DOUBLE) / g.avgdl))),
             6) AS s
      FROM q
      JOIN tf ON tf.term = q.term
      JOIN df ON df.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN g
    ),
    scored AS (
      SELECT query_id, doc_id,
             SUM(CAST(s AS DECIMAL(18,6))) AS sd,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM terms GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, n_terms_hit,
             CAST(sd AS DOUBLE) AS score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sd DESC, doc_id) AS rank
      FROM scored
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(rank AS BIGINT) AS rank, n_terms_hit, score
    FROM ranked WHERE rank <= 10
    """,
    doc="Okapi BM25 top-10 retrieval (Robertson/Sparck Jones; "
    "Lucene-style always-positive idf = ln(1+(N-df+0.5)/(df+0.5)), "
    "k1=1.2, b=0.75) for a fixed 5-query workload — the IR primitive "
    "behind RAG corpus retrieval and hard-negative mining, one level "
    "up from text_tfidf_top_terms. Spark shape: the query-term table "
    "(12 rows) and the per-term df stats broadcast against the "
    "(doc,term) tf aggregate, per-doc length joined on doc_id, the "
    "1-row (N, avgdl) global broadcast; per-term scores ROUND(6) -> "
    "DECIMAL(18,6) EXACT sum per (query,doc) -> ordering and the "
    "top-10 cut both happen on the exact decimal, so rank order is "
    "deterministic cross-engine (no float-sum-order or round-tie "
    "ordering risk); ROW_NUMBER partitions by query_id — |queries| "
    "partitions each bounded by matching-doc count; at 100 TB the "
    "window becomes a per-partition top-k heap + merge on the same "
    "key, same semantics.",
)
def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        "query_id long, term string",
    )
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # cache dl: it feeds both the avgdl global AND the per-doc join —
    # uncached, the corpus scan + doc-length aggregate runs twice
    # localCheckpoint, not cache (r15 cache-scoping sweep): no
    # plan-matched CacheManager entry may outlive the query run
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")).localCheckpoint()
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    g = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl")
        )
    )
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    s = F.round(
        idf
        * (F.col("tf").cast("double") * F.lit(2.2))
        / (
            F.col("tf").cast("double")
            + F.lit(1.2)
            * (
                F.lit(0.25)
                + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl"))
            )
        ),
        6,
    )
    terms = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .select("query_id", "doc_id", s.alias("s"))
    )
    scored = terms.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("s").cast("decimal(18,6)")).alias("sd"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sd").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "n_terms_hit",
            F.col("sd").cast("double").alias("score"),
        )
    )


@register(
    "winnowing_fingerprints",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             LEN(toks) - 2 AS m,
             list_transform(range(1, LEN(toks) - 1),
               i -> CAST(('0x' || substr(md5(
                      array_to_string(toks[i:i+2], ' ')), 1, 12)) AS BIGINT)
             ) AS hs
      FROM d WHERE LEN(toks) >= 3
    ),
    w AS (SELECT doc_id, m, hs, LEAST(4, m) AS wlen FROM g),
    sel AS (
      -- (pos, hash) packed into ONE BIGINT pos*2^48 + hash (hash is 48
      -- bits by construction; pos bounded by doc length << 2^15):
      -- list_distinct/list_sort on STRUCT lists is unimplemented in
      -- DuckDB, and the packing sorts by pos-then-hash either way
      SELECT doc_id, m,
             list_sort(list_distinct(list_transform(
               range(1, m - wlen + 2),
               j -> CAST(j + (wlen - list_position(
                      list_reverse(hs[j:j+wlen-1]),
                      list_min(hs[j:j+wlen-1]))) AS BIGINT)
                    * 281474976710656 + list_min(hs[j:j+wlen-1])
             ))) AS fps
      FROM w
    )
    SELECT doc_id,
           CAST(m AS BIGINT) AS n_grams,
           CAST(LEN(fps) AS BIGINT) AS n_fps,
           ROUND(CAST(LEN(fps) AS DOUBLE) / m, 4) AS density,
           array_to_string(list_transform(fps, s -> s // 281474976710656),
                           ',') AS fp_pos,
           array_to_string(list_transform(fps, s -> s % 281474976710656),
                           ',') AS fp_hash
    FROM sel
    """,
    doc="winnowing document fingerprints (Schleimer, Wilkerson, Aiken "
    "SIGMOD 2003 — the MOSS algorithm): 3-token k-gram hashes, "
    "sliding window w=4, select the RIGHTMOST minimal hash per "
    "window (robust winnowing's tie rule), dedupe to the fingerprint "
    "set. Guarantees every shared substring of >= w+k-1 tokens "
    "yields a shared fingerprint — the local-selection property that "
    "makes position-aware partial-overlap detection work where "
    "MinHash (whole-doc similarity) cannot. Expected density 2/(w+1). "
    "Engine-portable hash: first 12 hex chars of md5 as BIGINT "
    "(Spark conv(substr(md5),16,10) == DuckDB '0x'||substr cast — "
    "verified equal). Spark shape: pure JVM array expressions "
    "(transform/slice/array_min/reverse/array_position), shuffle-"
    "free, one pass, whole-stage codegen — per-row cost O(m*w) with "
    "zero Python. Short docs (< k tokens) drop; docs with fewer "
    "grams than w use one full-span window (standard).",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    K, W = 3, 4
    docs = load_table(spark, sf_dir, "documents")
    # token array materialized under an alias BEFORE the k-gram lambda
    # (r13): HOF lambdas evaluate interpreted, so an inline tokens()
    # referenced inside the lambda re-tokenizes per gram — O(tokens^2)
    # per doc. As an attribute it's a row-field read; the hs/pick pass
    # below already used this shape.
    tok_df = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    m = (n - F.lit(K - 1)).alias("m")
    grams = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.array_join(F.slice(toks, i, K), " "),
    )
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 12), 16, 10).cast("long"),
    )
    d = tok_df.where(n >= K).select(
        "doc_id", m, hashes.alias("hs"), F.least(F.lit(W), m).alias("wlen")
    )

    PACK = 281474976710656  # 2^48: hash is 48 bits, pos takes the high bits

    def pick(j):
        win = F.slice("hs", j, F.col("wlen"))
        mn = F.array_min(win)
        revpos = F.array_position(F.reverse(win), mn)
        pos = j.cast("long") + (F.col("wlen").cast("long") - revpos)
        return pos * F.lit(PACK) + mn

    sel = d.select(
        "doc_id",
        "m",
        F.sort_array(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.col("m") - F.col("wlen") + 1), pick
                )
            )
        ).alias("fps"),
    )
    # fp_pos/fp_hash as comma-joined STRINGS, not arrays: the driver's
    # canonicalizer (pandas sort_values) crashes on array-typed cells
    # (unhashable ndarray), so driver-window entries must be scalar-
    # only (r10 rotation prep; same fix as dedup_cluster_jaccard r7).
    return sel.select(
        "doc_id",
        F.col("m").cast("long").alias("n_grams"),
        F.size("fps").cast("long").alias("n_fps"),
        F.round(F.size("fps").cast("double") / F.col("m"), 4).alias("density"),
        F.expr(
            f"array_join(transform(fps, s -> CAST(s div {PACK}L AS STRING)), ',')"
        ).alias("fp_pos"),
        F.expr(
            f"array_join(transform(fps, s -> CAST(s % {PACK}L AS STRING)), ',')"
        ).alias("fp_hash"),
    )
