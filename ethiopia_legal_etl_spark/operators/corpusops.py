"""Corpus-construction operators a 100 TB pretraining pipeline runs
between raw ingest and tokenization: paragraph-level exact dedup with
document reconstruction (the Lee-et-al "deduplicating training data"
rule at chunk granularity), per-host document caps (RefinedWeb-style
domain balancing), overlapping context-window chunking (RAG / long-doc
training prep), and token-distribution entropy gating (Gopher-style
quality rule). Complements operators/dedup.py (whole-doc dedup),
textguard.py (PII / repetition / contamination), and pipeline.py
(mixture weights, stratified sampling).

All hot-path logic is built-in column expressions (split, transform,
slice, explode, window, groupBy) — JVM-side, whole-stage codegen, zero
Python. Every query is DuckDB-oracle-checked.

Scale notes (100 TB):
- paragraph dedup shuffles the exploded block stream twice: once on
  the block text (uniform key — block content hashes spread evenly;
  AQE splits any residual hot block) and once on doc_id to
  reassemble. The block text must travel regardless: reconstruction
  needs the bytes at the reducer. A digest-first variant (shuffle
  32-byte hashes, rejoin winners) trades one extra shuffle for
  smaller payloads and wins only when blocks are long; with ~50-byte
  blocks the direct plan moves less total data.
- host caps use a per-host window; host key skew (one giant domain)
  is the known hazard, handled by AQE skew-split plus the fact that
  the rank predicate truncates each host's output at K rows. For
  pathological hosts a pre-filter on hash-bucket < ~4K/|host|·M can
  shrink the sort input probabilistically before the exact rank.
- overlap chunking is shuffle-free: pure per-row transform+explode
  inside the scan's codegen span; output is ~n_tokens/stride larger
  than input, which is the operator's intrinsic cost.
- token entropy shuffles (doc_id, token) pairs; doc_id in the key
  spreads stopword skew exactly like textguard's repetition metrics,
  and partial aggregation collapses per-partition duplicates.
"""

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

_BLK = 8  # paragraph-dedup block size (tokens); docs are 10-99 tokens
_KNUTH = 2654435761  # multiplicative hash constant, exact in int64
_HOST_CAP = 15  # max docs kept per source
_WIN = 32  # chunk window (tokens)
_STRIDE = 24  # chunk stride (tokens) -> 8-token overlap


@register(
    "dedup_paragraph_exact",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    blocks AS (
      SELECT doc_id,
             CAST(CEIL(LEN(toks) / {_BLK}.0) AS BIGINT) AS total_blocks,
             i AS blk_idx,
             array_to_string(toks[i*{_BLK}+1 : (i+1)*{_BLK}], ' ') AS blk
      FROM d, LATERAL (
        SELECT unnest(range(0, CAST(CEIL(LEN(toks) / {_BLK}.0) AS INT)))
      ) AS g(i)
    ),
    ranked AS (
      SELECT doc_id, total_blocks, blk_idx, blk,
             ROW_NUMBER() OVER (PARTITION BY blk
                                ORDER BY doc_id, blk_idx) AS rn
      FROM blocks
    )
    SELECT doc_id,
           COALESCE(string_agg(blk, ' ' ORDER BY blk_idx)
                    FILTER (WHERE rn = 1), '') AS clean_text,
           COUNT(*) FILTER (WHERE rn = 1) AS kept_blocks,
           MAX(total_blocks) AS total_blocks
    FROM ranked
    GROUP BY doc_id
    """,
    doc="paragraph-level exact dedup with reconstruction (Lee et al. "
    "'Deduplicating Training Data Makes Language Models Better', "
    "arXiv:2107.06499, at fixed 8-token block granularity since the "
    "synthetic docs have no line structure): every block that already "
    "appeared earlier in the corpus — ordered by (doc_id, blk_idx) — "
    "is dropped, and each document's text is reassembled from its "
    "surviving blocks (possibly empty). Keep-first is deterministic "
    "and order-independent: the winner per block value is the "
    "lexicographic minimum, not an arrival-order artifact. Two "
    "shuffles: block-value window (uniform key), doc_id regroup.",
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup(load_table(spark, sf_dir, "documents"))


def paragraph_dedup(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Core of dedup_paragraph_exact over any (doc_id, text) frame —
    separated so the corpus pipelines and tests can run it on any frame.
    `carry` names per-doc columns to thread through the regroup (rides
    the grouping key — functionally dependent on doc_id — instead of
    costing a second join against the input)."""
    # token array aliased BEFORE the per-block lambda: an inline
    # split referenced inside an interpreted HOF lambda re-splits the
    # text per block — O(tokens^2/_BLK) per doc; as an attribute it is
    # a row-field read and blocking is linear.
    tok_docs = docs.select("doc_id", *carry, F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    n_blocks = F.ceil(F.size(toks) / F.lit(float(_BLK))).cast("bigint")
    blocks_arr = F.transform(
        F.sequence(F.lit(0), (n_blocks - 1).cast("int")),
        lambda i: F.array_join(F.slice(toks, i * _BLK + 1, _BLK), " "),
    )
    blocks = tok_docs.select(
        "doc_id",
        *carry,
        n_blocks.alias("total_blocks"),
        F.posexplode(blocks_arr).alias("blk_idx", "blk"),
    )
    w_blk = Window.partitionBy("blk").orderBy("doc_id", "blk_idx")
    ranked = blocks.withColumn("rn", F.row_number().over(w_blk))
    kept = F.col("rn") == 1
    kept_struct = F.when(kept, F.struct("blk_idx", "blk"))
    return ranked.groupBy("doc_id", *carry, "total_blocks").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["blk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.when(kept, 1)).alias("kept_blocks"),
    ).select("doc_id", *carry, "clean_text", "kept_blocks", "total_blocks")


@register(
    "corpus_host_cap",
    oracle=f"""
    SELECT doc_id, source, host_rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (doc_id % 1000000007) * {_KNUTH} % 1000000,
                        doc_id) AS host_rank
      FROM documents)
    WHERE host_rank <= {_HOST_CAP}
    """,
    doc="per-host document cap (RefinedWeb/CCNet-style domain "
    "balancing: no single host may dominate the corpus): keep at most "
    f"{_HOST_CAP} documents per source, chosen by deterministic "
    "Knuth-hash order rather than doc_id order so the kept subset is "
    "an unbiased, reproducible sample of each host — first-K-by-id "
    "would systematically prefer whatever the crawler fetched first. "
    "One shuffle on the host key; the rank predicate truncates each "
    "host at K rows so output is bounded by K·|hosts|.",
)
def corpus_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return host_capped(load_table(spark, sf_dir, "documents"), "doc_id", "source")


def knuth_bucket(key: Column, m: int) -> Column:
    """Knuth multiplicative hash of an integer key into [0, m):
    `(key % 1000000007) * _KNUTH % m`, exact in int64, so a DuckDB
    oracle evaluates the same expression in SQL."""
    return (key % 1000000007) * F.lit(_KNUTH) % m


def host_capped(docs: DataFrame, *cols: str) -> DataFrame:
    """`cols` plus `host_rank` of the first _HOST_CAP documents of each
    source in Knuth-hash order (ties by doc_id)."""
    bucket = knuth_bucket(F.col("doc_id"), 1000000)
    w = Window.partitionBy("source").orderBy(bucket.asc(), F.col("doc_id"))
    return docs.select(*cols, F.row_number().over(w).alias("host_rank")).where(
        F.col("host_rank") <= _HOST_CAP
    )


@register(
    "chunk_overlap_windows",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             LEN(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    wins AS (
      SELECT doc_id, n_tok,
             CASE WHEN n_tok <= {_WIN} THEN 1
                  ELSE 1 + CAST(CEIL((n_tok - {_WIN}) / {_STRIDE}.0) AS INT)
             END AS n_win
      FROM d
    )
    SELECT d.doc_id,
           i AS win_idx,
           i * {_STRIDE} AS start_tok,
           LEN(d.toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_WIN}]) AS win_len,
           array_to_string(d.toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_WIN}], ' ')
             AS win_text
    FROM d JOIN wins USING (doc_id),
         LATERAL (SELECT unnest(range(0, wins.n_win))) AS g(i)
    """,
    doc="overlapping context-window chunking (training/RAG prep): "
    f"each document becomes windows of {_WIN} tokens at stride "
    f"{_STRIDE} ({_WIN - _STRIDE}-token overlap so no span is split "
    "across a boundary without also appearing whole in a neighbor); "
    "the final window is the ragged tail. Shuffle-free: per-row "
    "sequence+transform+posexplode inside the scan's codegen span — "
    "the ~n_tok/stride output amplification is the operator's "
    "intrinsic cost, not a plan artifact.",
)
def chunk_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # aliased token array before the per-window lambda (see
    # paragraph_dedup — same interpreted-HOF re-split hazard)
    tok_docs = docs.select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    n_tok = F.size(toks)
    n_win = F.when(n_tok <= _WIN, F.lit(1)).otherwise(
        (F.ceil((n_tok - _WIN) / F.lit(float(_STRIDE))) + 1).cast("int")
    )
    wins_arr = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.slice(toks, i * _STRIDE + 1, _WIN),
    )
    return tok_docs.select(
        "doc_id",
        F.posexplode(wins_arr).alias("win_idx", "win_toks"),
    ).select(
        "doc_id",
        "win_idx",
        (F.col("win_idx") * _STRIDE).alias("start_tok"),
        F.size("win_toks").alias("win_len"),
        F.array_join("win_toks", " ").alias("win_text"),
    )


@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH capped AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               ROW_NUMBER() OVER (
                 PARTITION BY source
                 ORDER BY (doc_id % 1000000007) * {_KNUTH} % 1000000,
                          doc_id) AS host_rank
        FROM documents)
      WHERE host_rank <= {_HOST_CAP}
    ),
    d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM capped
    ),
    blocks AS (
      SELECT doc_id, lang, i AS blk_idx,
             array_to_string(toks[i*{_BLK}+1 : (i+1)*{_BLK}], ' ') AS blk
      FROM d, LATERAL (
        SELECT unnest(range(0, CAST(CEIL(LEN(toks) / {_BLK}.0) AS INT)))
      ) AS g(i)
    ),
    ranked AS (
      SELECT doc_id, lang, blk_idx, blk,
             ROW_NUMBER() OVER (PARTITION BY blk
                                ORDER BY doc_id, blk_idx) AS rn
      FROM blocks
    ),
    cleaned AS (
      SELECT doc_id, lang,
             COALESCE(string_agg(blk, ' ' ORDER BY blk_idx)
                      FILTER (WHERE rn = 1), '') AS clean_text,
             COUNT(*) FILTER (WHERE rn = 1) AS kept_blocks
      FROM ranked GROUP BY doc_id, lang
    ),
    tok AS (
      SELECT doc_id, lang, unnest(string_split(clean_text, ' ')) AS tok
      FROM cleaned WHERE kept_blocks > 0
    ),
    cnt AS (
      SELECT doc_id, lang, tok, COUNT(*) AS c
      FROM tok GROUP BY doc_id, lang, tok
    ),
    byc AS (
      SELECT doc_id, lang, c, CAST(COUNT(*) AS BIGINT) AS m
      FROM cnt GROUP BY doc_id, lang, c
    ),
    tot AS (
      SELECT doc_id, lang,
             CAST(SUM(m * c) AS BIGINT) AS n_tokens,
             LN(CAST(SUM(m * c) AS DOUBLE))
               - list_reduce(
                   list_prepend(0.0, list_transform(
                     list_sort(LIST({{'c': c,
                       'term': CAST(m * c AS DOUBLE)
                               * LN(CAST(c AS DOUBLE))}})),
                     x -> x.term)),
                   (acc, x) -> acc + x)
                 / CAST(SUM(m * c) AS DOUBLE) AS h
      FROM byc GROUP BY doc_id, lang
    ),
    gated AS (
      SELECT doc_id, lang, n_tokens, ROUND(h, 4) AS h4
      FROM tot WHERE ROUND(h, 4) >= 2.0
    )
    SELECT lang,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
           ROUND(CAST(SUM(CAST(h4 AS DECIMAL(14,4))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_entropy
    FROM gated GROUP BY lang
    """,
    doc="composed curation pipeline over the new corpus operators: "
    "per-host cap (unbiased hash order) → paragraph-level exact dedup "
    "with reconstruction → token-entropy quality gate → per-language "
    "accounting. One plan, seven necessary shuffles (host window; "
    "block window; doc regroup; (doc,token) agg; count-of-counts "
    "regroup — sqrt(n)-sized; doc agg; lang agg) — no "
    "intermediate materialization, so at 100 TB the corpus streams "
    "through once. Float policy: the c*ln(c) term sum is an ORDERED "
    "FOLD over count-of-counts (regroup by the integer count value, "
    "then fold in c-order — reassociation-free in both engines and "
    "bounded at sqrt(2n) terms/doc), the entropy gate "
    "compares h ROUNDED to 4dp in both engines (an unrounded "
    "comparison could flip for a doc whose h sits within an ulp of "
    "2.0); the reported average sums "
    "per-doc entropies ROUNDED to 4dp as exact DECIMALs "
    "(order-independent), then divides by the count — no "
    "float-accumulation divergence.",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    capped = host_capped(docs, "doc_id", "lang", "text").drop("host_rank")
    cleaned = paragraph_dedup(capped, carry=("lang",))
    kept = cleaned.where(F.col("kept_blocks") > 0)
    cnt = (
        kept.select(
            "doc_id", "lang", F.explode(F.split("clean_text", " ")).alias("tok")
        )
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # count-of-counts regroup + ordered fold: the sum
    # of c*ln(c) terms must not be a float SUM (its value would depend
    # on partial-aggregation grouping, hence on the caller's
    # shuffle-partition count). Grouping by the INTEGER count value c
    # first keeps both heavy aggregations map-side combinable and
    # bounds the folded list at sqrt(2*n_tokens) entries per doc
    # (distinct positive integers summing to n), so the
    # reassociation-free fold costs O(sqrt n), not O(n_distinct).
    byc = cnt.groupBy("doc_id", "lang", "c").agg(
        F.count(F.lit(1)).alias("m")
    )
    term = (F.col("m") * F.col("c")).cast("double") * F.log(
        F.col("c").cast("double")
    )
    tot = byc.groupBy("doc_id", "lang").agg(
        F.sum(F.col("m") * F.col("c")).alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("c"), term.alias("term")))
                ),
                lambda x: x["term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_clnc"),
    )
    h = F.log(F.col("n_tokens").cast("double")) - F.col("sum_clnc") / F.col(
        "n_tokens"
    ).cast("double")
    gated = tot.where(F.round(h, 4) >= 2.0).select(
        "lang", "n_tokens", F.round(h, 4).alias("h4")
    )
    return gated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("n_tokens_kept"),
        F.round(
            F.sum(F.col("h4").cast("decimal(14,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_entropy"),
    )


@register(
    "text_token_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
    ),
    byc AS (
      SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS m
      FROM cnt GROUP BY doc_id, c
    ),
    tot AS (
      SELECT doc_id,
             CAST(SUM(m * c) AS BIGINT) AS n_tokens,
             CAST(SUM(m) AS BIGINT) AS n_distinct,
             -- ordered fold over the count-of-counts terms: the float
             -- sum is reassociation-free in both engines
             list_reduce(
               list_prepend(0.0, list_transform(
                 list_sort(LIST({'c': c,
                   'term': CAST(m * c AS DOUBLE)
                           * LN(CAST(c AS DOUBLE))})),
                 x -> x.term)),
               (acc, x) -> acc + x) AS sum_clnc
      FROM byc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           ROUND(LN(CAST(n_tokens AS DOUBLE))
                 - sum_clnc / CAST(n_tokens AS DOUBLE), 4) AS entropy,
           ROUND(LN(CAST(n_tokens AS DOUBLE))
                 - sum_clnc / CAST(n_tokens AS DOUBLE), 4) >= 2.0
             AS passes_gate
    FROM tot
    """,
    doc="token-distribution Shannon entropy per document plus a "
    "quality gate (Gopher-style repetition rule: near-zero entropy = "
    "one token repeated = garbage): H = ln(n) - sum(c*ln(c))/n, the "
    "algebraically-stable form that needs one ln per DISTINCT token "
    "instead of one division+ln per token — fewer irrational ops, "
    "less float divergence (ROUND 4dp per the registry float "
    "policy; the gate compares the ROUNDED value in both engines so "
    "an ulp-of-2.0 doc cannot flip between them). The "
    "term sum itself is an ORDERED FOLD over count-of-counts "
    ": regrouping by the integer count value c makes "
    "the fold list sqrt(2n)-bounded while the (doc,token) and "
    "(doc,c) aggregations stay map-side partial — the sum no longer "
    "depends on partial-aggregation grouping or the caller's "
    "shuffle-partition count. "
    "Shuffles (doc_id, token) pairs — doc_id in the key spreads "
    "stopword skew — then per-doc aggregation; both partial-agg "
    "collapse map-side.",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # count-of-counts regroup + ordered fold: see
    # corpus_curation_pipeline — removes the last
    # grouping-order-dependent float SUM while keeping the big
    # (doc,token) aggregation map-side partial; the folded list is
    # bounded at sqrt(2*n_tokens) entries per doc.
    byc = cnt.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("m"))
    term = (F.col("m") * F.col("c")).cast("double") * F.log(
        F.col("c").cast("double")
    )
    tot = byc.groupBy("doc_id").agg(
        F.sum(F.col("m") * F.col("c")).alias("n_tokens"),
        F.sum("m").alias("n_distinct"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("c"), term.alias("term")))
                ),
                lambda x: x["term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_clnc"),
    )
    h = F.log(F.col("n_tokens").cast("double")) - F.col("sum_clnc") / F.col(
        "n_tokens"
    ).cast("double")
    return tot.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(h, 4).alias("entropy"),
        (F.round(h, 4) >= 2.0).alias("passes_gate"),
    )


_VOCAB_V = 20  # top-V vocabulary (the synthetic corpus has 31 distinct
# tokens, so V=20 leaves a real OOV tail; at 100 TB V would be 32k-256k)


@register(
    "corpus_vocab_oov",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT {_VOCAB_V}),
    per AS (
      SELECT t.doc_id, t.lang, COUNT(*) AS n,
             COUNT(*) FILTER (WHERE v.tok IS NULL) AS oov
      FROM tok t LEFT JOIN vocab v USING (tok)
      GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(oov) AS BIGINT) AS total_oov,
           ROUND(CAST(SUM(oov) AS DOUBLE) / SUM(n), 6) AS oov_rate
    FROM per GROUP BY lang
    """,
    doc="tokenizer-prep vocabulary coverage: induce the top-V corpus "
    "vocabulary (count-desc, token-asc — a TOTAL order, so the cut is "
    "deterministic in both engines even at count ties), then measure "
    "each language's out-of-vocabulary token rate — the metric that "
    "sizes a tokenizer's vocab and exposes which languages a shared "
    "vocab under-serves. Plan: one (token) agg for counts; top-V via "
    "orderBy+limit (TakeOrderedAndProject, bounded, never a global "
    "sort of the corpus); vocab is V rows → broadcast join against "
    "the token stream; exact-integer OOV tallies per doc, one final "
    "division per lang. The corpus-scale work is 2 shuffles (token "
    "agg, doc agg) + the lang agg.",
)
def corpus_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(_VOCAB_V)
        .select("tok")
    )
    per = (
        tok.join(F.broadcast(vocab.withColumn("in_v", F.lit(1))), "tok", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("in_v").isNull(), 1)).alias("oov"),
        )
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum("oov").alias("total_oov"),
        F.round(
            F.sum("oov").cast("double") / F.sum("n"), 6
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------
# BPE tokenizer TRAINING (merge learning) — the sentencepiece/GPT-2
# formulation that scales IN BOTH AXES:
#   corpus axis: the corpus is touched exactly once — ONE shuffle
#     builds the (word, freq) table, whose size follows Heaps' law
#     (~n^0.5, not n) and is further bounded by min_freq/max_words;
#   vocab axis: the merge loop runs driver-side on that bounded table
#     with INCREMENTAL pair-count maintenance (Sennrich et al. 2016,
#     arXiv:1508.07909 §3 — only words containing the merged pair are
#     touched per iteration), so 32k merges = 32k cheap dict updates,
#     NOT 64k sequential Spark jobs like an earlier design.
# Driver round-trips: exactly ONE collect total, independent of
# n_merges — the property an earlier design lacked.
# ---------------------------------------------------------------------

_EOW = "</w>"  # end-of-word marker (standard BPE)


def _collect_word_freqs(
    spark: SparkSession,
    sf_dir: str,
    min_freq: int = 1,
    max_words: int | None = None,
) -> list[tuple[str, int]]:
    """ONE Spark job: corpus -> (word, freq), Zipf/Heaps-bounded and
    optionally capped. At 100 TB you set min_freq >= 2 (drops the long
    hapax tail — the standard trainer setting) and/or max_words (top-K
    by count via TakeOrderedAndProject, never a global sort); the
    driver then holds millions of rows, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_freq > 1:
        wf = wf.where(F.col("freq") >= min_freq)
    if max_words is not None:
        # count desc, word asc: total order -> deterministic cut
        wf = wf.orderBy(F.col("freq").desc(), F.col("w")).limit(max_words)
    return [(r["w"], r["freq"]) for r in wf.collect()]


def _bpe_merge_loop(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Driver-side incremental BPE trainer over a word-frequency table.

    Maintains pair -> weighted count and pair -> {word indices}; each
    merge touches only the words that contain the argmax pair (their
    old pairs are subtracted, the merge applied left-to-right, the new
    pairs added), so per-merge cost is O(words containing the pair),
    not O(vocabulary). The argmax is a LAZY MAX-HEAP keyed
    (-count, '<left>\\x1f<right>') — the deterministic tie-break as a
    total order. Every count update pushes a fresh entry; a popped
    entry whose recorded count disagrees with the live dict (or whose
    pair is dead) is stale and discarded. Per-merge argmax cost is
    O(stale pops · log H), not O(#distinct pairs) — the shape a
    32k-merge training over millions of distinct pairs needs.
    Differential safety net: merge-for-merge equality with the naive
    recount model at 8/20/256 merges incl. randomized hypothesis
    tables (order-independence included).

    Stale indices in pair->words (a word edited by a later merge) are
    harmless: the update subtracts the word's CURRENT pairs and
    re-adds its post-merge pairs, which cancels exactly for a no-op.
    """
    import heapq

    words: list[list] = [
        [list(w) + [_EOW], f] for w, f in word_freqs
    ]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, f) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(idx)

    heap = [
        (-c, p[0] + "\x1f" + p[1], p) for p, c in pair_counts.items()
    ]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best_pair, best_count = None, 0
        while heap:
            negc, _key, p = heap[0]
            live = pair_counts.get(p, 0)
            if live <= 0 or -negc != live:
                heapq.heappop(heap)  # dead pair or stale count
                continue
            best_pair, best_count = p, live
            break
        if best_pair is None:
            break
        left, right = best_pair
        merged = left + right
        merges.append((rank, left, right, merged, best_count))
        touched: set = set()
        for idx in pair_words.get(best_pair, ()):  # only affected words
            syms, f = words[idx]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= f
                touched.add(p)
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[idx][0] = out
            for p in zip(out, out[1:]):
                pair_counts[p] = pair_counts.get(p, 0) + f
                pair_words.setdefault(p, set()).add(idx)
                touched.add(p)
        pair_counts.pop(best_pair, None)
        pair_words.pop(best_pair, None)
        touched.discard(best_pair)
        for p in touched:  # one fresh heap entry per touched pair
            c = pair_counts.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p[0] + "\x1f" + p[1], p))
    return merges


def bpe_train_list(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 8,
    min_freq: int = 1,
    max_words: int | None = None,
) -> list[tuple[int, str, str, str, int]]:
    """Learn the first `n_merges` BPE merges; returns the merge list
    (rank, left, right, merged, pair_count). One Spark collect total."""
    return _bpe_merge_loop(
        _collect_word_freqs(spark, sf_dir, min_freq, max_words), n_merges
    )


def bpe_train_merges(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 8,
    min_freq: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """DataFrame wrapper over `bpe_train_list`. Deterministic: ties on
    pair count break by lexicographic pair order (the same total order
    the differential Python model uses), so the learned merge table is
    reproducible run-to-run and partition-independent."""
    return spark.createDataFrame(
        bpe_train_list(spark, sf_dir, n_merges, min_freq, max_words),
        "rank int, left string, right string, merged string, pair_count long",
    )


register(
    "bpe_train_merges",
    oracle=None,  # iterative argmax chain — not SQL-expressible; the
    # independent ground truth is the pure-Python differential test
    # (same corpus, same tie-break; recount-from-scratch model vs this
    # incremental trainer, at 8 and 256 merges) in
    # tests/test_corpusops.py
    doc="BPE tokenizer TRAINING in the formulation that scales in "
    "BOTH axes: ONE corpus shuffle builds the Heaps-bounded "
    "(word, freq) table (min_freq/max_words caps for 100 TB), then "
    "the merge loop runs driver-side with incremental pair-count "
    "maintenance (Sennrich arXiv:1508.07909 — each merge touches "
    "only words containing the pair). Exactly one collect "
    "regardless of merge count (job-count pinned in tests); an earlier "
    "design's 2-jobs-per-merge chain is gone. Deterministic "
    "tie-break: count desc, then lexicographic pair."
    " Rows-only verdict: NOT convertible — each merge round's "
    "argmax pair depends on all prior merges (data-dependent "
    "iterative chain); a recursive-CTE oracle would re-implement the "
    "trainer, not independently check it. Ground truth: pure-Python "
    "recount-from-scratch differential at 8 and 256 merges "
    "(tests/test_corpusops.py).",
)(bpe_train_merges)


_BPE_COMPILE_THRESHOLD = 64  # merges; above this, regex-chain codegen
# would blow up (one sequential regex pass per merge), so the encode
# switches to the broadcast-merge-table vectorized path


def bpe_encode_tokens(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 4,
    compile_threshold: int = _BPE_COMPILE_THRESHOLD,
) -> DataFrame:
    """Apply learned BPE merges to the corpus: per-document token count
    under the trained tokenizer vs the untrained (character) baseline.

    Two physical strategies, picked by merge count:
    - <= compile_threshold: the merge table is COMPILED INTO the column
      expression — one lookaround regexp_replace per merge applied per
      word inside a transform() lambda. Zero Python, whole plan in the
      scan's codegen span. Only viable for small tables: the chain is
      one sequential regex pass per merge.
    - > compile_threshold (the real-vocab path): the ranks dict is a
      Spark BROADCAST read by an Arrow-vectorized pandas UDF running
      the standard lowest-rank-first merge loop with a per-batch
      distinct-word cache. At 32k merges this is one broadcast + one
      dict lookup per candidate pair — the map-only shape tokenizing
      100 TB requires, with no codegen blowup. Differential-tested
      against the pure-Python sequential-merge model at 256 merges.
    Both paths are shuffle-free in the per-document plan."""
    import re as _re

    merges = [
        (left, right, merged)
        for _rank, left, right, merged, _c in bpe_train_list(
            spark, sf_dir, n_merges
        )
    ]
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    char_tokens = F.aggregate(
        F.transform(words, lambda w: F.length(w) + 1),
        F.lit(0),
        lambda acc, x: acc + x,
    )

    if len(merges) <= compile_threshold:

        def encode_word(w):
            sym = F.concat_ws(
                " ", F.array_join(F.split(w, ""), " "), F.lit(_EOW)
            )
            for left, right, merged in merges:
                pat = (
                    r"(?<=^|\s)"
                    + _re.escape(left)
                    + r" "
                    + _re.escape(right)
                    + r"(?=$|\s)"
                )
                repl = merged.replace("\\", "\\\\").replace("$", r"\$")
                sym = F.regexp_replace(sym, pat, repl)
            return F.size(F.split(sym, " "))

        bpe_tokens = F.aggregate(
            F.transform(words, encode_word), F.lit(0), lambda acc, x: acc + x
        )
    else:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        ranks_bc = spark.sparkContext.broadcast(
            {(left, right): i for i, (left, right, _m) in enumerate(merges)}
        )

        @pandas_udf("long")
        def bpe_count(texts: pd.Series) -> pd.Series:
            ranks = ranks_bc.value
            cache: dict = {}

            def doc_len(t):
                if t is None:
                    return None
                return sum(
                    len(_bpe_word_syms(w, ranks, cache))
                    for w in t.split(" ")
                    if w
                )

            return texts.map(doc_len)

        bpe_tokens = bpe_count("text")

    return docs.select(
        "doc_id",
        bpe_tokens.alias("bpe_tokens"),
        char_tokens.alias("char_tokens"),
    )


def bpe_vocab(
    merges: list[tuple[str, str, str]],
    alphabet: "list[str]",
) -> dict[str, int]:
    """Standard BPE vocabulary: base symbols first (the sorted
    alphabet — fixed INDEPENDENTLY of the merges, exactly like GPT-2
    fixes all 256 bytes, so rare characters that appear in no merge
    still get ids), then the end-of-word marker, then one id per
    merge in rank order — ids are stable under vocab growth (adding
    merges never renumbers existing tokens)."""
    vocab = {s: i for i, s in enumerate(sorted(set(alphabet)))}
    vocab.setdefault(_EOW, len(vocab))
    for _left, _right, merged in merges:
        if merged not in vocab:
            vocab[merged] = len(vocab)
    return vocab


def _bpe_word_syms(word: str, ranks: dict, cache: dict) -> list:
    """Symbol sequence of one word under the trained merges: repeatedly
    merge the lowest-rank adjacent pair present (the GPT-2 encode
    loop). Equivalent to applying merges sequentially in rank order —
    merging rank k only creates pairs involving the new symbol, whose
    merges necessarily have rank > k, so no earlier merge can become
    applicable. Per-batch `cache` encodes each distinct word once."""
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word) + [_EOW]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, p
        if best_pair is None:
            break
        left, right = best_pair
        merged = left + right
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    cache[word] = syms
    return syms


def _corpus_alphabet(docs: DataFrame) -> list:
    """Base alphabet from the corpus itself (one tiny distinct-chars
    aggregate — the vocab-build step, run once per tokenizer), so
    every in-corpus character has an id regardless of merge
    coverage."""
    return [
        r["ch"]
        for r in docs.select(
            F.explode(
                F.split(F.regexp_replace("text", " ", ""), "")
            ).alias("ch")
        )
        .where(F.col("ch") != "")
        .distinct()
        .collect()  # bounded: distinct characters, not tokens
    ]


def _encode_ids_df(
    spark: SparkSession, docs: DataFrame, ranks: dict, vocab: dict
) -> DataFrame:
    """Encode (doc_id, text) to token-ID arrays with a given trained
    tokenizer: broadcast (ranks, vocab) → ONE Arrow-vectorized pandas
    UDF with a per-batch distinct-word cache; shuffle-free map-only
    job at any corpus size."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast((ranks, vocab))

    @pandas_udf("array<int>")
    def encode_ids(texts: pd.Series) -> pd.Series:
        rk, vb = bc.value
        cache: dict = {}

        def doc_ids(t):
            if t is None:
                return None
            out = []
            for w in t.split(" "):
                if not w:
                    continue
                out.extend(
                    vb.get(s, -1) for s in _bpe_word_syms(w, rk, cache)
                )
            return out

        return texts.map(doc_ids)

    # encode ONCE (same single-evaluation discipline as
    # text_unicode_nfc); n_tokens derives from the materialized column
    return (
        docs.withColumn("token_ids", encode_ids("text"))
        .select(
            "doc_id",
            "token_ids",
            F.size("token_ids").alias("n_tokens"),
        )
    )


def bpe_encode_ids(
    spark: SparkSession, sf_dir: str, n_merges: int = 32
) -> DataFrame:
    """The pipeline-ready tokenizer APPLY: per-document token-ID
    arrays under the trained merges — what a tokenize-and-pack job
    actually feeds `pack_sequences_offsets`, vs the count-only view of
    bpe_encode_tokens. Unknown symbols (characters never seen at
    train time) fall back to id -1, the honest placeholder for a
    byte-fallback tier. Trains in-line; a production pipeline trains
    once, persists with `save_bpe_tokenizer`, and encodes any corpus
    with `bpe_encode_ids_pretrained`."""
    merges3 = [
        (left, right, merged)
        for _rank, left, right, merged, _c in bpe_train_list(
            spark, sf_dir, n_merges
        )
    ]
    ranks = {(lf, rt): i for i, (lf, rt, _m) in enumerate(merges3)}
    docs = load_table(spark, sf_dir, "documents")
    vocab = bpe_vocab(merges3, _corpus_alphabet(docs))
    return _encode_ids_df(spark, docs, ranks, vocab)


BPE_MERGES_SCHEMA = (
    "rank int, left string, right string, merged string, pair_count long"
)
BPE_ALPHABET_SCHEMA = "ch string"


def save_bpe_tokenizer(
    spark: SparkSession, sf_dir: str, path: str, n_merges: int = 32
) -> dict:
    """Train on `sf_dir` and persist the tokenizer ARTIFACT — the
    thing a production pipeline ships between the train job and every
    encode job: `<path>/merges.parquet` (rank, left, right, merged,
    pair_count) + `<path>/alphabet.parquet` (ch). Parquet via the
    session's filesystem, so it lands on HDFS/S3A like any other
    table. Returns {n_merges, vocab_size}."""
    merges = bpe_train_list(spark, sf_dir, n_merges)
    spark.createDataFrame(merges, BPE_MERGES_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/merges.parquet")
    docs = load_table(spark, sf_dir, "documents")
    alphabet = _corpus_alphabet(docs)
    spark.createDataFrame(
        [(c,) for c in sorted(alphabet)], BPE_ALPHABET_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/alphabet.parquet"
    )
    vocab = bpe_vocab([(m[1], m[2], m[3]) for m in merges], alphabet)
    return {"n_merges": len(merges), "vocab_size": len(vocab)}


def load_bpe_tokenizer(spark: SparkSession, path: str) -> tuple:
    """Load a persisted tokenizer artifact -> (ranks, vocab), ready
    for `_encode_ids_df`. Bounded collects: merges + alphabet are
    artifact-sized, never corpus-sized. Both reads use the schemas
    `save_bpe_tokenizer` writes with, so neither infers one."""
    mrows = (
        spark.read.schema(BPE_MERGES_SCHEMA)
        .parquet(f"{path}/merges.parquet")
        .orderBy("rank")
        .collect()
    )
    merges3 = [(r["left"], r["right"], r["merged"]) for r in mrows]
    alphabet = [
        r["ch"]
        for r in spark.read.schema(BPE_ALPHABET_SCHEMA)
        .parquet(f"{path}/alphabet.parquet")
        .collect()
    ]
    ranks = {(lf, rt): i for i, (lf, rt, _m) in enumerate(merges3)}
    return ranks, bpe_vocab(merges3, alphabet)


def bpe_encode_ids_pretrained(
    spark: SparkSession, sf_dir: str, tokenizer_path: str
) -> DataFrame:
    """Encode a corpus with a PERSISTED tokenizer (no retraining) —
    the steady-state shape of a production tokenize job: load the
    artifact once on the driver, broadcast, map the corpus."""
    ranks, vocab = load_bpe_tokenizer(spark, tokenizer_path)
    return _encode_ids_df(
        spark, load_table(spark, sf_dir, "documents"), ranks, vocab
    )


register(
    "bpe_encode_ids",
    oracle=None,  # trained-merge-dependent; differential ground truth:
    # pure-Python vocab + sequential-merge encode on the same merges,
    # per-document id-sequence equality (tests/test_corpusops.py)
    doc="BPE tokenizer APPLY producing token-ID arrays (GPT-2 vocab "
    "construction: base chars, then merges in rank order — ids stable "
    "under vocab growth), the form pack_sequences_offsets consumes. "
    "Broadcast (ranks, vocab) + one Arrow-vectorized pandas UDF with "
    "a distinct-word cache; shuffle-free map-only plan. Unknown "
    "symbols -> -1 (byte-fallback tier placeholder)."
    " Rows-only verdict: NOT convertible — encoding applies the "
    "TRAINED merge table lowest-rank-first with unbounded passes per "
    "word, and the table itself is the non-SQL-expressible training "
    "artifact. Ground truth: pure-Python sequential-merge encode on "
    "the same merges, per-document id equality "
    "(tests/test_corpusops.py).",
)(bpe_encode_ids)


register(
    "bpe_encode_tokens",
    oracle=None,  # depends on the trained merge list (iterative);
    # differential ground truth: pure-Python encode with the SAME
    # merges, per-document equality at 4 merges (regex path) AND 256
    # merges (broadcast path) — tests/test_corpusops.py
    doc="BPE tokenizer APPLY, strategy picked by vocab size: small "
    "merge tables compile into a JVM regexp_replace chain (zero "
    "Python, codegen span); above ~64 merges the table is a Spark "
    "broadcast read by an Arrow-vectorized pandas UDF running the "
    "lowest-rank-first merge loop with a distinct-word cache — the "
    "map-only, no-codegen-blowup shape a 32k-merge vocab needs "
    ". Reports per-doc token count under the trained "
    "tokenizer vs the untrained character baseline."
    " Rows-only verdict: NOT convertible — same trained-merge "
    "dependency and per-word merge loop as bpe_encode_ids. Ground "
    "truth: pure-Python encode differential at 4 merges (regex path) "
    "AND 256 merges (broadcast path).",
)(bpe_encode_tokens)


@register(
    "text_unicode_nfc",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' cafe' || chr(769) || ' No' || chr(776) || 'el '
                  || chr(7840) AS raw
      FROM documents
    )
    SELECT doc_id,
           LENGTH(raw) AS len_before,
           LENGTH(nfc_normalize(raw)) AS len_after,
           nfc_normalize(raw) AS norm_text,
           nfc_normalize(raw) <> raw AS changed
    FROM aug
    """,
    doc="Unicode NFC normalization — the canonicalization a "
    "multilingual pipeline runs BEFORE hashing/dedup (the decomposed "
    "'e'+U+0301 and composed U+00E9 are different bytes but the same "
    "text; unnormalized corpora silently miss exact duplicates). The "
    "corpus is ASCII, so decomposed sequences are PLANTED per doc "
    "(combining acute, combining diaeresis, and a precomposed char "
    "that NFC keeps) — same pattern as text_pii_scrub's planted PII. "
    "Spark side is a vectorized pandas UDF over unicodedata (Java "
    "has java.text.Normalizer but no Catalyst function; Arrow "
    "batches keep it off the slow path); the oracle is DuckDB's "
    "native nfc_normalize — two independent UAX#15 implementations "
    "agreeing codepoint-for-codepoint. Shuffle-free scan-span plan.",
)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(col: pd.Series) -> pd.Series:
        import unicodedata

        return col.map(
            lambda s: unicodedata.normalize("NFC", s) if s is not None else None
        )

    docs = load_table(spark, sf_dir, "documents")
    planted = " cafe\u0301 No\u0308el \u1EA0"  # U+1EA0 NFC-stable precomposed
    aug = docs.select(
        "doc_id", F.concat("text", F.lit(planted)).alias("raw")
    )
    # normalize ONCE: the three downstream uses (len_after, norm_text,
    # changed) all reference the single `norm_text` column. Catalyst's
    # UDF extraction dedups the (now textually identical) expression
    # into one ArrowEvalPython evaluation — pinned by
    # test_plans.py::test_nfc_single_arrow_eval, so a plan-extraction
    # change can never silently normalize the corpus 3x.
    normed = aug.withColumn("norm_text", nfc("raw"))
    return normed.select(
        "doc_id",
        F.length("raw").alias("len_before"),
        F.length("norm_text").alias("len_after"),
        "norm_text",
        (F.col("norm_text") != F.col("raw")).alias("changed"),
    )


def pack_token_sequences(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 32,
    seq_len: int = 64,
    n_shards: int = 16,
) -> DataFrame:
    """Materialize fixed-length training sequences from the tokenized
    corpus — the concat-and-chunk packing step that turns per-document
    token-ID arrays into the (pack_id, token_ids[seq_len]) rows a
    pretraining data loader reads. Completes the tokenize→pack chain:
    bpe_train → bpe_encode_ids → THIS (pack_sequences_offsets computes
    the same layout's offsets without materializing sequences).

    Distributed shape (the part that matters at 100 TB): documents
    never concatenate into one giant per-shard array. A per-shard
    running-sum window assigns each document its global start offset;
    posexplode gives every token its global position; tokens regroup
    by (shard, floor(gpos/seq_len)) and reassemble via slot-sorted
    collect_list, so the largest in-memory object anywhere is ONE
    seq_len-sized pack. 2 data shuffles (shard window; pack regroup)
    plus the tokenizer's own broadcast-UDF map stage.

    Deterministic: shard = doc_id % n_shards, order by doc_id — two
    runs produce byte-identical packs (the property a resumable
    training job needs). The final pack per shard may be short
    (n_filled < seq_len); a loader drops or pads it — kept here so
    the accounting is lossless."""
    ids = bpe_encode_ids(spark, sf_dir, n_merges)
    d = ids.withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    # materialize the per-DOCUMENT offset BEFORE exploding: a window
    # expression in the same select as a generator would be evaluated
    # over the exploded rows (one n_tokens per token, not per doc)
    offs = d.select("shard", "token_ids", start.alias("start"))
    tok = offs.select(
        "shard",
        "start",
        F.posexplode("token_ids").alias("pos", "tid"),
    )
    gpos = F.col("start") + F.col("pos")
    packed = tok.select(
        "shard",
        F.floor(gpos / seq_len).cast("long").alias("pack_id"),
        (gpos % seq_len).alias("slot"),
        "tid",
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("slot", "tid"))),
            lambda s: s["tid"].cast("int"),
        ).alias("token_ids"),
        F.count(F.lit(1)).cast("int").alias("n_filled"),
    )


register(
    "pack_token_sequences",
    oracle=None,  # trained-merge-dependent ids; differential ground
    # truth: pure-Python packing of the (already differential-tested)
    # bpe_encode_ids output, pack-for-pack equality + lossless-
    # concatenation property (tests/test_corpusops.py)
    doc="concat-and-chunk packing of BPE token-ID arrays into fixed "
    "seq_len training sequences: per-shard running-sum offsets -> "
    "global token positions -> regroup by (shard, pack) with "
    "slot-sorted reassembly, so nothing larger than one pack ever "
    "materializes. 2 shuffles; deterministic (doc_id order) so two "
    "runs produce byte-identical packs."
    " Rows-only verdict: NOT convertible as composed — inputs "
    "are bpe_encode_ids token arrays (trained-artifact dependency); "
    "the packing ALGEBRA itself IS oracle-checked via "
    "pack_sequences_offsets (whitespace-token twin, driver-green). "
    "Ground truth: pack-for-pack pure-Python differential + "
    "lossless-concatenation property.",
)(pack_token_sequences)


@register(
    "span_corruption_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE LENGTH(text) > 0
    ),
    pos AS (
      SELECT doc_id, i,
             ((doc_id * 31 + i * 17) % 100) < 15 AS masked
      FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)
    ),
    runs AS (
      SELECT doc_id, i, masked,
             CASE WHEN masked AND NOT COALESCE(
                    LAG(masked) OVER (PARTITION BY doc_id ORDER BY i), FALSE)
                  THEN 1 ELSE 0 END AS span_start
      FROM pos
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_masked,
           CAST(SUM(span_start) AS BIGINT) AS n_spans,
           CASE WHEN SUM(span_start) > 0
                THEN CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS DOUBLE)
                     / SUM(span_start)
                ELSE 0.0 END AS mean_span_len
    FROM runs GROUP BY doc_id
    """,
    doc="SPAN-CORRUPTION masking accounting (the T5 / UL2 denoising-"
    "objective prep step: ~15% of tokens masked, contiguous runs "
    "become single sentinel spans): a deterministic integer mask "
    "((doc_id*31 + pos*17) mod 100 < 15 — reproducible across runs "
    "and partitionings, no RNG state), with span boundaries found by "
    "the masked-and-prev-unmasked lag test. Outputs per doc the token "
    "count, masked count, SPAN count, and mean span length (one IEEE "
    "division of exact integers) — the statistics that size the "
    "encoder/decoder sequence budget for a denoising objective. "
    "Plan: posexplode inside codegen, one doc-hash shuffle shared by "
    "the lag window and the aggregate.",
)
def span_corruption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("i0", "tok"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        (((F.col("doc_id") * 31 + (F.col("i0") + 1) * 17) % 100) < 15).alias(
            "masked"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    runs = pos.withColumn(
        "span_start",
        F.when(
            F.col("masked")
            & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
            1,
        ).otherwise(0),
    )
    n_masked = F.sum(F.when(F.col("masked"), 1).otherwise(0))
    n_spans = F.sum("span_start")
    return runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        n_masked.alias("n_masked"),
        n_spans.alias("n_spans"),
        F.when(
            n_spans > 0, n_masked.cast("double") / n_spans
        ).otherwise(F.lit(0.0)).alias("mean_span_len"),
    )


@register(
    "batch_padding_waste",
    oracle="""
    WITH toks AS (
      -- docs with NULL text are not batchable subjects: excluded on
      -- BOTH sides (Spark's inner offset-join would drop them while
      -- an unfiltered oracle ranks them NULLS LAST -- text-null
      -- mirror)
      SELECT doc_id,
             CAST(LEN(list_filter(string_split(text, ' '), x -> x != ''))
               AS BIGINT) AS n_tok
      FROM documents WHERE text IS NOT NULL
    ),
    ordered AS (
      SELECT doc_id, n_tok,
             (ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1) // 8
               AS batch_id
      FROM toks
    ),
    batches AS (
      SELECT batch_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MAX(n_tok) AS BIGINT) AS max_len,
             CAST(SUM(n_tok) AS BIGINT) AS tok_sum
      FROM ordered GROUP BY batch_id
    )
    SELECT batch_id, n_docs, max_len, tok_sum,
           n_docs * max_len - tok_sum AS pad_tokens,
           CAST(n_docs * max_len - tok_sum AS DOUBLE)
             / NULLIF(n_docs * max_len, 0) AS pad_frac
    FROM batches
    """,
    doc="LENGTH-BUCKETED BATCH PADDING-WASTE accounting: documents "
    "ranked by (token length, doc_id), grouped into batches of 8, and "
    "each batch's padding overhead measured as n*max_len - sum(len) — "
    "the throughput metric that justifies length bucketing over "
    "random batching in a training data loader. All integers; the "
    "fraction is one IEEE division. Scale shape (the "
    "pack_token_sequences prefix-offset pattern): the global rank is "
    "DECOMPOSED as prefix(count of shorter docs) + rank within the "
    "doc's own length. The prefix runs over the per-length COUNT "
    "table (one row per distinct n_tok — bounded by max doc length, "
    "not corpus size), the within-length rank is a WindowExec "
    "PARTITIONED by n_tok, and the offsets broadcast back — so no "
    "corpus-grain row ever crosses a single-partition window. "
    "Sibling: pack_token_sequences ELIMINATES padding by "
    "concat-and-chunk; this MEASURES what padding costs when "
    "sequence boundaries must be respected.",
)
def batch_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-text docs are not batchable subjects — excluded explicitly
    # on both sides (they'd otherwise fall out implicitly via the
    # offset equi-join while the oracle ranked them NULLS LAST)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast(
            "long"
        ).alias("n_tok"),
    )
    # within-length rank is PARTITIONED by n_tok (distributed); the
    # global rank is reassembled map-side from the broadcast offsets
    win = Window.partitionBy("n_tok").orderBy("doc_id")
    ranked = toks.select("doc_id", "n_tok", F.row_number().over(win).alias("r"))
    # per-length counts: one row per DISTINCT token length. Catalyst
    # prunes the window from this branch and re-plans it as its own
    # scan + partial-agg; the exchange it adds carries map-side
    # per-length COUNTS (<= |distinct n_tok| rows per task), so the
    # only corpus-sized shuffle in the whole plan stays the n_tok
    # window exchange
    cnts = ranked.groupBy("n_tok").agg(F.count(F.lit(1)).alias("cnt"))
    # bounded: ordered prefix over the per-length count table only
    # (|distinct n_tok| <= max document length — thousands of rows at
    # any corpus size, never corpus-grain)
    wpre = Window.orderBy("n_tok").rowsBetween(Window.unboundedPreceding, -1)
    offs = cnts.select(
        "n_tok", F.coalesce(F.sum("cnt").over(wpre), F.lit(0)).alias("n_before")
    )
    gr = F.col("n_before") + F.col("r")  # == row_number over (n_tok, doc_id)
    ordered = ranked.join(F.broadcast(offs), "n_tok").select(
        "n_tok", ((gr - 1).cast("long") / 8).cast("long").alias("batch_id")
    )
    batches = ordered.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tok").alias("max_len"),
        F.sum("n_tok").alias("tok_sum"),
    )
    pad = F.col("n_docs") * F.col("max_len") - F.col("tok_sum")
    return batches.select(
        "batch_id",
        "n_docs",
        "max_len",
        "tok_sum",
        pad.alias("pad_tokens"),
        (
            pad.cast("double")
            / F.nullif(F.col("n_docs") * F.col("max_len"), F.lit(0))
        ).alias("pad_frac"),
    )
