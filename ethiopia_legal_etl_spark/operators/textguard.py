"""Training-corpus guard operators: PII scrubbing, repetition / quality
gating, benchmark-contamination detection, and a unigram-LM scoring
proxy — the curation stages a large-scale LLM data pipeline runs after
dedup (driver mandate "operations a large-scale training-data pipeline
would need"; complements operators/dedup.py and textstats.py).

All hot-path logic is built-in column expressions (regexp_*, split,
transform/sequence, explode + groupBy) — JVM-side, whole-stage
codegen, zero Python. Every query is DuckDB-oracle-checked; regexes
stay inside the Java∩RE2 common dialect so both engines match the
same spans.

Scale notes (100 TB):
- PII scrub is embarrassingly parallel (per-row regexp_replace, no
  shuffle at all — the whole query is one scan).
- repetition metrics shuffle on (doc_id, bigram): doc_id spreads the
  key space, so stopword-bigram skew cannot concentrate (contrast a
  global bigram count); partial aggregation collapses per-partition.
- contamination joins the corpus n-gram stream against the BENCHMARK
  n-gram set — benchmarks are tiny (MMLU+GSM8K+… ≈ 1e6 n-grams), so
  the build side broadcasts and the 100 TB corpus side never shuffles
  (explode → broadcast-hash-join → per-doc partial count).
- unigram scoring joins tokens against the vocabulary frequency
  table; natural-language vocab is Zipf-bounded (≪ corpus), so the
  frequency table broadcasts after a (token)-keyed aggregate whose
  skew is handled by partial aggregation + AQE.
"""

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

# Java-and-RE2-compatible PII patterns (no lookaround, no backrefs)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"
IP_RE = r"\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _ngrams(toks: Column, n: int) -> Column:
    """n-grams as space-joined strings via sequence+element_at (pure
    column expressions; guarded so short docs yield an empty array —
    Spark's sequence(1, k) turns DESCENDING for k < 1)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + off) for off in range(n)]
    )
    return F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
               AS t
      FROM documents
    )
    SELECT doc_id,
           LEN(regexp_extract_all(t, '{EMAIL_RE}'))  AS n_emails,
           LEN(regexp_extract_all(t, '{PHONE_RE}'))  AS n_phones,
           LEN(regexp_extract_all(t, '{IP_RE}'))     AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{IP_RE}', '<IP>', 'g'),
             '{PHONE_RE}', '<PHONE>', 'g')           AS scrubbed
    FROM aug
    """,
    doc="PII scrubbing: redact emails/phones/IPv4s with typed "
    "placeholders and count redactions per document. The fixture "
    "plants one of each deterministically (doc_id-derived) so the "
    "regexes are provably exercised; patterns are in the Java∩RE2 "
    "common dialect. No shuffle — a pure per-row scan stage.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # F.concat, not concat_ws: NULL text must propagate to NULL output
    # exactly like the oracle's `||` (concat_ws would skip the NULL)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, F.lit(EMAIL_RE), F.lit("<EMAIL>")),
            F.lit(IP_RE),
            F.lit("<IP>"),
        ),
        F.lit(PHONE_RE),
        F.lit("<PHONE>"),
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(aug, F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_count(aug, F.lit(IP_RE)).alias("n_ips"),
        scrub.alias("scrubbed"),
    )


@register(
    "text_repetition_filter",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM d
    ),
    cnt AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
    ),
    per AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS tot FROM cnt GROUP BY doc_id
    )
    SELECT d.doc_id,
           LEN(toks) AS n_tokens,
           ROUND(1 - CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks), 4)
             AS dup_token_frac,
           ROUND(COALESCE(CAST(top_c AS DOUBLE) / tot, 0), 4)
             AS top_bigram_frac,
           (LEN(toks) BETWEEN 10 AND 10000
             AND COALESCE(CAST(top_c AS DOUBLE) / tot, 0) < 0.2
             AND 1 - CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks) < 0.8)
             AS passes
    FROM d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
    doc="Gopher/C4-style repetition gate: duplicate-token fraction, "
    "most-frequent-bigram fraction, and a pass/fail flag (length in "
    "[10,10000], top-bigram < 0.2, dup-fraction < 0.8). Shuffles on "
    "(doc_id, bigram) — doc_id in the key spreads stopword-bigram "
    "skew; partial aggregation collapses per-partition counts first.",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("toks"))
    per = (
        d.select("doc_id", F.explode(_ngrams(F.col("toks"), 2)).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("tot"))
    )
    dup_frac = 1 - F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
    top_frac = F.coalesce(F.col("top_c").cast("double") / F.col("tot"), F.lit(0.0))
    return (
        d.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.round(dup_frac, 4).alias("dup_token_frac"),
            F.round(top_frac, 4).alias("top_bigram_frac"),
            (
                F.size("toks").between(10, 10000)
                & (top_frac < 0.2)
                & (dup_frac < 0.8)
            ).alias("passes"),
        )
    )


@register(
    "contamination_ngram_overlap",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    tg AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
               AS trigram
      FROM d
    ),
    bench AS (SELECT DISTINCT trigram FROM tg WHERE doc_id % 97 = 0),
    corp  AS (SELECT * FROM tg WHERE doc_id % 97 <> 0)
    SELECT corp.doc_id, COUNT(*) AS n_overlap
    FROM corp JOIN bench USING (trigram)
    GROUP BY corp.doc_id
    """,
    doc="train/test contamination check: flag corpus documents sharing "
    "any trigram with the held-out benchmark set (doc_id %% 97 == 0 "
    "stands in for the benchmark; trigrams because the synthetic docs "
    "are short — production uses 8-13-grams). The benchmark n-gram "
    "set is tiny and BROADCAST, so the corpus side is scan → "
    "broadcast-hash-join → partial count: no corpus shuffle at 100 TB.",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # token array aliased before _ngrams: its per-gram lambda
    # would otherwise re-split the text per trigram (interpreted HOF,
    # O(tokens^2) per doc); the doc_frequent_bigrams caller at
    # :155 already passes an attribute.
    tg = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams(F.col("toks"), 3))).alias(
            "trigram"
        ),
    )
    bench = (
        tg.where(F.col("doc_id") % 97 == 0).select("trigram").distinct()
    )
    corp = tg.where(F.col("doc_id") % 97 != 0)
    return (
        corp.join(F.broadcast(bench), "trigram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    tot  AS (SELECT SUM(c) AS t FROM freq)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(-LN(CAST(c AS DOUBLE) / t)), 4) AS avg_neg_logp
    FROM tok JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="unigram-LM scoring proxy (CCNet-style quality bucketing): "
    "corpus unigram distribution, then per-document mean negative "
    "log-probability — low = commodity text, high = rare-token-heavy. "
    "The vocabulary aggregate is Zipf-bounded (vocab ≪ corpus) so the "
    "frequency table broadcasts back onto the token stream; the "
    "1-row total joins via broadcast crossJoin. round(4) absorbs "
    "double summation-order differences (irrational ln outputs).",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    return (
        tok.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("t"))), 4
            ).alias("avg_neg_logp"),
        )
    )


@register(
    "dedup_chunk_boilerplate",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CAST(CEIL(LEN(toks) / 10.0) AS INT)),
               i -> array_to_string(toks[i*10+1 : (i+1)*10], ' '))) AS chunk
      FROM d
    ),
    freq AS (
      SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs FROM ch GROUP BY chunk
    )
    SELECT ch.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN freq.n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           ROUND(SUM(CASE WHEN freq.n_docs >= 3 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS boilerplate_frac
    FROM ch JOIN freq USING (chunk)
    GROUP BY ch.doc_id
    """,
    doc="chunk-level boilerplate detection (C4's 'drop any line seen "
    "3+ times in the corpus', adapted to 10-token chunks since the "
    "synthetic docs have no line structure): global chunk document-"
    "frequency, joined back per doc -> boilerplate fraction. Shuffles "
    "on the chunk hash (uniform) for the frequency agg and the "
    "join-back; both are partial-aggregated. At 100 TB the frequency "
    "table is corpus-sized, so the join stays a shuffle join by "
    "design — never collected or broadcast.",
)
def dedup_chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # aliased token array before the per-chunk lambda (same
    # interpreted-HOF re-split hazard as dedup_substring_fraction)
    tok_docs = docs.select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
    )
    ch = tok_docs.select(
        "doc_id",
        F.explode(F.when(n_chunks >= 1, chunks).otherwise(F.array())).alias(
            "chunk"
        ),
    )
    freq = ch.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("n_docs_with_chunk")
    )
    is_bp = (F.col("n_docs_with_chunk") >= 3).cast("long")
    return (
        ch.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(is_bp).alias("n_boilerplate"),
            F.round(
                F.sum(is_bp) / F.count(F.lit(1)).cast("double"), 4
            ).alias("boilerplate_frac"),
        )
    )


@register(
    "pack_sequences_offsets",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             doc_id % 16 AS shard,
             LEN(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, shard, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
             AS BIGINT) AS pack_id
    FROM d
    """,
    doc="pretraining sequence packing (concat-and-chunk): within each "
    "shard, documents are concatenated in doc_id order and split every "
    "2048 tokens; emits each document's global token start_offset and "
    "the pack (training sequence) it starts in. Pure shard-partitioned "
    "window arithmetic — 16 shards here, thousands at 100 TB, so the "
    "running sum parallelizes per shard and no global window exists. "
    "This is the exact offsets computation a tokenize-and-pack job "
    "needs before writing fixed-length training sequences.",
)
def pack_sequences_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        (F.col("doc_id") % 16).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / 2048).cast("long").alias("pack_id"),
    )


@register(
    "corpus_perplexity_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    tot  AS (SELECT SUM(c) AS t FROM freq),
    scored AS (
      SELECT tk.doc_id,
             COUNT(*) AS n_tokens,
             ROUND(AVG(-LN(CAST(c AS DOUBLE) / t)), 4) AS score
      FROM tok tk JOIN freq USING (tok) CROSS JOIN tot
      GROUP BY tk.doc_id
    ),
    bucketed AS (
      SELECT s.doc_id, d.lang, s.n_tokens, s.score,
             NTILE(3) OVER (PARTITION BY d.lang
                            ORDER BY s.score, s.doc_id) AS bucket
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CAST(bucket AS BIGINT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(MIN(score), 4) AS min_score,
           ROUND(MAX(score), 4) AS max_score
    FROM bucketed GROUP BY lang, bucket
    """,
    doc="CCNet's head/middle/tail perplexity bucketing (Wenzek et al., "
    "arXiv:1911.00359: score each document with a language-specific "
    "LM, sort, and cut the corpus into terciles — 'head' trains, "
    "'tail' is discarded or down-weighted): per-document unigram-LM "
    "mean negative log-prob (the text_unigram_logprob scorer, 4dp "
    "policy), then per-language NTILE(3) over the TOTAL order "
    "(score, doc_id) — deterministic cut, identical NTILE remainder "
    "semantics in both engines — and per-(lang, bucket) doc/token "
    "accounting. Scale: the window sorts ONE ROW PER DOCUMENT (not "
    "per token) partitioned by language — the same corpus-sort CCNet "
    "itself performs; at 100 TB the exact-tercile sort can be swapped "
    "for approx_percentile cutoffs at the cost of boundary exactness, "
    "but the registry entry keeps the exact spec semantics. Shuffles: "
    "token freq agg, score agg, lang window, final group — each "
    "partial-aggregated or doc-level.",
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    scored = (
        tok.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("t"))), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    bucketed = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang", "n_tokens", "score", F.ntile(3).over(w).alias("bucket")
    )
    return bucketed.groupBy("lang", F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.min("score"), 4).alias("min_score"),
        F.round(F.max("score"), 4).alias("max_score"),
    )


_MOJIBAKE_SUFFIX = " café Ωmega 中文"


@register(
    "text_mojibake_repair",
    oracle="""
    -- NULL text is a no-op passthrough (nothing to corrupt or
    -- repair): corruption set = every 3rd doc WITH text
    -- (text-null mirror)
    SELECT doc_id,
           doc_id % 3 = 0 AND text IS NOT NULL AS was_corrupted,
           doc_id % 3 = 0 AND text IS NOT NULL AS detected,
           TRUE AS exact_after_repair,
           CAST(CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL
                THEN 1 ELSE 0 END AS BIGINT) AS n_passes,
           CAST(CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL
                THEN strlen(text || ' café Ωmega 中文')
                     - LENGTH(text || ' café Ωmega 中文')
                ELSE 0 END AS BIGINT) AS len_delta
    FROM documents
    """,
    doc="ftfy-style mojibake repair (UTF-8 misread as cp1252: "
    "'Ã©' -> 'é') — the encoding-damage gate every web-scale text "
    "pipeline runs before tokenization. Every third doc is corrupted "
    "executor-side (text + a non-ASCII suffix, UTF-8 bytes re-read "
    "through the sloppy-cp1252 map), then repaired by "
    "functions.text.fix_mojibake, whose two hard gates (cp1252 "
    "re-encode must be VALID UTF-8 and must strictly shrink) make "
    "clean text — including genuinely accented text — a no-op. The "
    "oracle states the exact-recovery contract in SQL: detection "
    "equals the known corruption set, EVERY row is byte-exact after "
    "repair (clean rows untouched, corrupted rows restored to the "
    "original), and the char-count delta equals the UTF-8 "
    "byte-vs-char length difference of the original (the expansion a "
    "misread causes). Vectorized pandas UDF stage, map-only, "
    "shuffle-free; double-encoded mojibake and precision properties "
    "pinned in tests/test_textguard.py.",
)
def text_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.text import (
        fix_mojibake,
        sloppy_cp1252_decode,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stage(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # no text -> nothing to corrupt or repair; the
                    # stage passes the row through instead of crashing
                    rows.append((int(doc_id), False, False, True, 0, 0))
                    continue
                corrupted = doc_id % 3 == 0
                original = text + _MOJIBAKE_SUFFIX if corrupted else text
                incoming = (
                    sloppy_cp1252_decode(original.encode("utf-8"))
                    if corrupted
                    else text
                )
                fixed, passes = fix_mojibake(incoming)
                rows.append(
                    (
                        int(doc_id),
                        corrupted,
                        passes > 0,
                        fixed == original,
                        passes,
                        len(incoming) - len(fixed),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "was_corrupted", "detected",
                    "exact_after_repair", "n_passes", "len_delta",
                ],
            )

    return docs.mapInPandas(
        stage,
        schema=(
            "doc_id long, was_corrupted boolean, detected boolean, "
            "exact_after_repair boolean, n_passes long, len_delta long"
        ),
    )


_SB_TRAIN = "('src0', 'src1', 'src2', 'src3', 'src4')"


@register(
    "lm_stupid_backoff",
    oracle=f"""
    WITH tr AS (
      SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents WHERE source IN {_SB_TRAIN}
    ),
    uni AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT unnest(toks) AS tok FROM tr) GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT z[1] AS a, z[2] AS b, COUNT(*) AS c_ab
      FROM (
        SELECT unnest(list_zip(toks[1:LEN(toks)-1], toks[2:LEN(toks)]))
          AS z
        FROM tr WHERE LEN(toks) >= 2
      ) GROUP BY a, b
    ),
    d AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, z[1] AS a, z[2] AS b
      FROM (
        SELECT doc_id,
               unnest(list_zip(toks[1:LEN(toks)-1], toks[2:LEN(toks)]))
                 AS z
        FROM d WHERE LEN(toks) >= 2
      )
    ),
    scored AS (
      SELECT p.doc_id,
             CASE
               WHEN bi.c_ab IS NOT NULL
                 THEN LN(CAST(bi.c_ab AS DOUBLE) / ua.c)
               WHEN ub.c IS NOT NULL
                 THEN LN(CAST(0.4 AS DOUBLE) * ub.c / tot.n)
               ELSE LN(CAST(0.4 AS DOUBLE) / tot.n)
             END AS lp,
             CASE WHEN bi.c_ab IS NULL AND ub.c IS NOT NULL
                  THEN 1 ELSE 0 END AS backoff,
             CASE WHEN bi.c_ab IS NULL AND ub.c IS NULL
                  THEN 1 ELSE 0 END AS oov
      FROM pairs p
      LEFT JOIN bi ON bi.a = p.a AND bi.b = p.b
      LEFT JOIN uni ua ON ua.tok = p.a
      LEFT JOIN uni ub ON ub.tok = p.b
      CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(backoff) AS BIGINT) AS n_backoff,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(SUM(CAST(ROUND(lp, 4) AS DECIMAL(18,4))) AS DOUBLE)
             AS logscore
    FROM scored GROUP BY doc_id
    """,
    doc="Stupid Backoff bigram LM scoring (Brants et al. 2007, 'Large "
    "Language Models in Machine Translation' — THE distributed-LM "
    "paper: score without normalized discounting because at corpus "
    "scale the unnormalized backoff S(w|w') = c(w'w)/c(w') else "
    "0.4*c(w)/N is as good and infinitely cheaper). LM trained on the "
    "src0-src4 quarter of the corpus, every document scored against "
    "it — so unseen-bigram backoff and OOV genuinely fire. Spark "
    "shape: the bigram/unigram tables are Zipf/Heaps-bounded "
    "aggregates broadcast back onto the single bigram-position pass "
    "(arrays_zip(slice,slice), never a positional self-join); Brants "
    "et al. shard the LM and ship n-grams to it — at 100 TB the LEFT "
    "broadcast joins become shuffle joins on the bigram key, same "
    "plan shape. Float policy: every LN argument is one IEEE "
    "expression of exact integers evaluated in the same op order in "
    "both engines; per-bigram terms ROUND(4) -> DECIMAL(18,4) exact "
    "sum -> DOUBLE, so the per-doc total is summation-order-free.",
)
def lm_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    train_srcs = [s.strip(" '") for s in _SB_TRAIN.strip("()").split(",")]

    def bigrams(df: DataFrame, *keep: str) -> DataFrame:
        z = F.explode(
            F.arrays_zip(
                F.expr("slice(toks, 1, size(toks) - 1)").alias("a"),
                F.expr("slice(toks, 2, size(toks) - 1)").alias("b"),
            )
        ).alias("z")
        return df.where(F.size("toks") >= 2).select(*keep, z).select(
            *keep, F.col("z.a").alias("a"), F.col("z.b").alias("b")
        )

    tr = docs.where(F.col("source").isin(train_srcs)).select(
        toks.alias("toks")
    )
    uni = (
        tr.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        # localCheckpoint, not cache (cache-scoping sweep): no
        # plan-matched CacheManager entry may outlive the query run
        .localCheckpoint()  # feeds tot + both context/backoff joins
    )
    tot = uni.agg(F.sum("c").alias("n"))
    bi = bigrams(tr).groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))

    pairs = bigrams(docs.select("doc_id", toks.alias("toks")), "doc_id")
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    scored = (
        pairs.join(F.broadcast(bi), ["a", "b"], "left")
        .join(F.broadcast(ua), "a", "left")
        .join(F.broadcast(ub), "b", "left")
        .crossJoin(F.broadcast(tot))
    )
    lp = (
        F.when(
            F.col("c_ab").isNotNull(),
            F.log(F.col("c_ab").cast("double") / F.col("c_a")),
        )
        .when(
            F.col("c_b").isNotNull(),
            F.log(F.lit(0.4) * F.col("c_b") / F.col("n")),
        )
        .otherwise(F.log(F.lit(0.4) / F.col("n")))
    )
    backoff = (F.col("c_ab").isNull() & F.col("c_b").isNotNull()).cast("long")
    oov = (F.col("c_ab").isNull() & F.col("c_b").isNull()).cast("long")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(backoff).alias("n_backoff"),
        F.sum(oov).alias("n_oov"),
        F.sum(F.round(lp, 4).cast("decimal(18,4)"))
        .cast("double")
        .alias("logscore"),
    )


@register(
    "lm_good_turing_counts",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      WHERE text IS NOT NULL AND text <> ''
    ),
    cnt AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tok
    ),
    fof AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS n_types
      FROM cnt GROUP BY c
    )
    SELECT f.c,
           f.n_types,
           CAST(COALESCE(g.n_types, 0) AS BIGINT) AS n_types_next,
           CASE WHEN g.n_types IS NOT NULL
                THEN CAST((f.c + 1) * g.n_types AS DOUBLE)
                     / CAST(f.n_types AS DOUBLE)
                ELSE NULL END AS gt_count
    FROM fof f LEFT JOIN fof g ON g.c = f.c + 1
    """,
    doc="GOOD-TURING frequency-of-frequencies over the corpus "
    "vocabulary (Good 1953; Gale & Sampson 1995 'Good-Turing "
    "frequency estimation without tears') — the count-of-counts "
    "table N_c = #types seen exactly c times and the adjusted count "
    "c* = (c+1) N_{c+1} / N_c, the classical smoothing that "
    "reallocates mass to unseen events (P0 = N_1/N follows from row "
    "c=1); the same count-of-counts shape the entropy fold uses. "
    "c* is one IEEE division of exact BIGINTs (raw-double "
    "identical); rows where N_{c+1} = 0 (a GAP in the count "
    "spectrum, where vanilla GT is undefined and Gale-Sampson "
    "switches to the log-log smooth) emit NULL, not a fabricated "
    "zero. Plan: (token) count shuffle with map-side combine, then "
    "a count-of-counts aggregate to O(sqrt(corpus-tokens)) rows and "
    "a self-join on c+1 over that tiny frame — broadcast under AQE; "
    "the corpus streams through once.",
)
def lm_good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.where(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fof = cnt.groupBy("c").agg(F.count(F.lit(1)).alias("n_types"))
    nxt = fof.select(
        (F.col("c") - 1).alias("c"), F.col("n_types").alias("n_next")
    )
    return (
        fof.join(nxt, "c", "left")
        .select(
            "c",
            "n_types",
            F.coalesce(F.col("n_next"), F.lit(0)).cast("long").alias(
                "n_types_next"
            ),
            F.when(
                F.col("n_next").isNotNull(),
                ((F.col("c") + 1) * F.col("n_next")).cast("double")
                / F.col("n_types").cast("double"),
            ).alias("gt_count"),
        )
    )


@register(
    "lm_kneser_ney_bigrams",
    oracle="""
    WITH d AS (
      SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ),
    bi AS (
      SELECT z[1] AS a, z[2] AS b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM (
        SELECT unnest(list_zip(toks[1:LEN(toks)-1], toks[2:LEN(toks)]))
          AS z
        FROM d WHERE LEN(toks) >= 2
      ) GROUP BY a, b
    ),
    disc AS (
      SELECT CAST(SUM(CASE WHEN c_ab = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN c_ab = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM bi
    ),
    ctx AS (
      SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a,
             CAST(COUNT(*) AS BIGINT) AS n1p_a
      FROM bi GROUP BY a
    ),
    cont AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n1m_b
      FROM bi GROUP BY b
    )
    SELECT bi.a, bi.b, bi.c_ab, ctx.c_a, ctx.n1p_a, cont.n1m_b,
           CASE WHEN disc.n1 + 2 * disc.n2 > 0
                THEN CAST(disc.n1 AS DOUBLE) / (disc.n1 + 2 * disc.n2)
                ELSE 0.0 END AS d,
           (GREATEST(CAST(bi.c_ab AS DOUBLE)
                     - CASE WHEN disc.n1 + 2 * disc.n2 > 0
                            THEN CAST(disc.n1 AS DOUBLE)
                                 / (disc.n1 + 2 * disc.n2)
                            ELSE 0.0 END, 0.0)
            + CASE WHEN disc.n1 + 2 * disc.n2 > 0
                   THEN CAST(disc.n1 AS DOUBLE)
                        / (disc.n1 + 2 * disc.n2)
                   ELSE 0.0 END
              * n1p_a
              * (CAST(n1m_b AS DOUBLE) / disc.n_types))
           / CAST(ctx.c_a AS DOUBLE) AS p_kn
    FROM bi
    JOIN ctx ON ctx.a = bi.a
    JOIN cont ON cont.b = bi.b
    CROSS JOIN disc
    ORDER BY bi.c_ab DESC, bi.a, bi.b
    LIMIT 20
    """,
    doc="INTERPOLATED KNESER-NEY bigram probabilities (Kneser & Ney "
    "1995; Chen & Goodman 1999 eq. 4.25): p_kn(b|a) = max(c(ab)-D,0)"
    "/c(a) + D*N1+(a.)/c(a) * N1+(.b)/|bigram types|, with the "
    "absolute discount D = n1/(n1+2*n2) estimated from the count-of-"
    "counts (the leave-one-out estimate). Completes the smoothing "
    "family next to lm_good_turing_counts (count re-estimation) and "
    "lm_stupid_backoff (unnormalized backoff scoring): KN's novelty "
    "is the CONTINUATION count N1+(.b) — how many distinct contexts "
    "precede b — which is exactly the quantity a distributed engine "
    "gets for free as a second groupBy over the bigram table. "
    "Exactness: every count is an exact BIGINT; D and p_kn are "
    "per-row IEEE expressions written with the identical op tree in "
    "both engines (no float aggregation anywhere). Top-20 by count "
    "(a, b tiebreak) via TakeOrderedAndProject, never a global sort. "
    "Scale: the bigram table is Heaps-bounded; ctx/cont are "
    "aggregates OF that table, broadcast back here — at 100 TB all "
    "three joins become shuffle joins on the n-gram key (the Brants "
    "et al. 2007 sharded-LM shape, same note as lm_stupid_backoff).",
)
def lm_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    d = docs.select(toks.alias("toks")).where(F.size("toks") >= 2)
    z = F.explode(
        F.arrays_zip(
            F.expr("slice(toks, 1, size(toks) - 1)").alias("a"),
            F.expr("slice(toks, 2, size(toks) - 1)").alias("b"),
        )
    ).alias("z")
    bi = (
        d.select(z)
        .select(F.col("z.a").alias("a"), F.col("z.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint()  # feeds disc + ctx + cont + final projection
    )
    disc = bi.agg(
        F.sum((F.col("c_ab") == 1).cast("long")).alias("n1"),
        F.sum((F.col("c_ab") == 2).cast("long")).alias("n2"),
        F.count(F.lit(1)).alias("n_types"),
    )
    ctx = bi.groupBy("a").agg(
        F.sum("c_ab").alias("c_a"), F.count(F.lit(1)).alias("n1p_a")
    )
    cont = bi.groupBy("b").agg(F.count(F.lit(1)).alias("n1m_b"))
    # D = n1/(n1+2*n2), repeated inline so the op tree matches the
    # oracle's exactly (no CTE-level rounding point exists).
    # Degenerate-corpus guard: a corpus where NO bigram type
    # occurs exactly once or twice (observed on the real sf0.1
    # documents table — min type count is 3) makes the denominator 0,
    # and Spark ANSI throws DIVIDE_BY_ZERO even for double division
    # (the sf0.01 gates never saw it because singletons exist there;
    # a .count() prunes the column away, which is why the entry
    # *looked* fine at sf0.1). Convention when n1 = n2 = 0: D := 0 —
    # no rare types means there is no discount mass to reallocate,
    # and p_kn collapses to the MLE c_ab/c_a, the correct limit.
    denom = F.col("n1") + 2 * F.col("n2")
    big_d = F.when(
        denom > 0, F.col("n1").cast("double") / denom
    ).otherwise(F.lit(0.0))
    p_kn = (
        F.greatest(F.col("c_ab").cast("double") - big_d, F.lit(0.0))
        + big_d * F.col("n1p_a") * (F.col("n1m_b").cast("double") / F.col("n_types"))
    ) / F.col("c_a").cast("double")
    return (
        bi.join(F.broadcast(ctx), "a")
        .join(F.broadcast(cont), "b")
        .crossJoin(F.broadcast(disc))
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "n1p_a",
            "n1m_b",
            big_d.alias("d"),
            p_kn.alias("p_kn"),
        )
        .orderBy(F.col("c_ab").desc(), "a", "b")
        .limit(20)
    )
