"""Model-based document quality classifier — the trained "quality
model" stage of CCNet/RefinedWeb-style corpus pipelines (the
canonical stage that sits next to the heuristic gates in
textguard.py).

A fastText-style LINEAR model over a hashed bag-of-words, reduced to
its SQL-expressible core so the whole scorer is a column expression:

    bucket(tok) = ((hex1*16 + hex2) mod 64)   of md5(tok)'s first two
                                              lowercase hex digits
    x_b  = (# tokens in bucket b) / n_tokens  (L1-normalized counts)
    z    = w . x + bias
    score = sigmoid(z);  is_quality = z > 0

Why this shape at 100 TB:
- the model is 64 frozen DECIMAL(10,6) weights — a LITERAL ARRAY in
  the plan (element_at per token), so scoring is map-only work inside
  the scan's codegen span: no join, no shuffle except the per-doc
  aggregation, no Python;
- the bucket hash uses md5 hex digits via instr/strpos arithmetic —
  the same engine-portable construction as dedup.py's md5-MinHash —
  so DuckDB can score identically (full oracle parity, unlike a
  typical opaque-model stage);
- per-doc weight sums are EXACT decimal arithmetic, so the
  `is_quality` gate (z > 0  <=>  sum_w + bias*n > 0, all decimal)
  cannot flip between engines; only the reported sigmoid is float,
  rounded 6dp per the registry float policy.

Weights were trained offline by tools/train_quality_weights.py
(logistic regression; positives = the synthetic documents table,
negatives = three garbage regimes: random-character noise, repetition
spam, digit spam; held-out accuracy 0.96, 6dp-quantized full-set
accuracy 0.977) and frozen here as public literals. Retrain by
re-running the tool and pasting its output.

Reference note: /root/reference has no model-based filter (its 297-LoC
ETL keeps every non-empty PDF text, fetch_legal_docs.py:74-89); this
is Layer-B corpus-pipeline completeness, not reference parity.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

BIAS = "-2.766715"
WEIGHTS = [
    "-2.804447", "-3.075831", "-2.902849", "-3.129166",
    "-2.673376", "2.050676", "-2.968682", "-2.843753",
    "9.199512", "-3.178860", "2.519124", "-2.802033",
    "2.059038", "9.108366", "-2.999295", "6.066890",
    "-3.075289", "1.582785", "2.667112", "4.335365",
    "-3.649898", "-2.721972", "-2.945189", "-3.414438",
    "2.960094", "-2.854474", "3.998063", "5.683736",
    "-3.104867", "-2.323154", "-3.274591", "-3.513299",
    "4.021560", "-2.779338", "-2.838792", "-2.905364",
    "2.599653", "2.169730", "-3.188548", "-2.614414",
    "-3.097499", "-2.933387", "3.698639", "17.747027",
    "-3.697485", "-3.129988", "-2.257598", "-3.075588",
    "1.247635", "6.542284", "8.339128", "2.100288",
    "2.531472", "-2.742681", "-2.921959", "2.592071",
    "-2.454407", "-2.813657", "-2.304969", "-2.596162",
    "2.430609", "-2.564736", "4.180678", "-2.714167",
]
_D = len(WEIGHTS)  # 64 buckets

# engine-portable bucket of one token: md5 -> first two lowercase hex
# digits -> value mod 64 (Spark instr == DuckDB strpos, both 1-based)
_BUCKET_SQL = (
    "pmod((instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1), "
    f"{_D})"
)


def score_documents(docs: DataFrame) -> DataFrame:
    """Score any (doc_id, text) DataFrame with the frozen model.
    Returns (doc_id, n_tokens, score, is_quality); documents with no
    tokens are dropped (nothing to featurize). One shuffle (the
    per-doc aggregation); everything else is scan-span map work."""
    warr = F.array(
        *[F.lit(w).cast("decimal(10,6)") for w in WEIGHTS]
    )
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    contrib = tok.select(
        "doc_id",
        F.element_at(warr, F.expr(_BUCKET_SQL) + 1).alias("w"),
    )
    per = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("w").alias("sum_w"),
    )
    bias_dec = F.lit(BIAS).cast("decimal(10,6)")
    z = (
        F.col("sum_w").cast("double") / F.col("n_tokens")
        + F.lit(float(BIAS))
    )
    return per.select(
        "doc_id",
        "n_tokens",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        # exact-decimal gate: z > 0  <=>  sum_w + bias * n > 0
        (
            (F.col("sum_w") + bias_dec * F.col("n_tokens"))
            > F.lit(0).cast("decimal(10,6)")
        ).alias("is_quality"),
    )


_WLIST_SQL = "[" + ", ".join(WEIGHTS) + "]::DECIMAL(10,6)[]"


@register(
    "text_quality_model_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
      WHERE tok <> ''
    ),
    b AS (
      SELECT doc_id,
             ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))
               % {_D} AS bkt
      FROM tok
    ),
    per AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             SUM(({_WLIST_SQL})[bkt + 1]) AS sum_w
      FROM b GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(1.0 / (1.0 + EXP(-(CAST(sum_w AS DOUBLE) / n_tokens
                                    + ({BIAS})))), 6) AS score,
           (sum_w + CAST({BIAS} AS DECIMAL(10,6)) * n_tokens) > 0
             AS is_quality
    FROM per
    """,
    doc="model-based quality classifier (CCNet/RefinedWeb 'quality "
    "model' stage): frozen logistic-regression weights over a hashed "
    "bag-of-words, scored entirely as a column expression — literal "
    "64-weight DECIMAL array indexed per token by an md5-derived "
    "bucket (the engine-portable instr-on-hex construction from "
    "dedup.py), ZERO shuffles (the stateless row-expression path: "
    "transform/aggregate over the token array with exact-decimal "
    "sums, proven bit-equal to the explode+groupBy formulation in "
    "tests/test_quality.py), zero Python, zero joins. The is_quality "
    "gate compares exact decimals (sum_w + bias*n > 0), so it cannot "
    "flip between engines; the sigmoid score is ROUND 6dp per the "
    "registry float policy. Weights trained offline by "
    "tools/train_quality_weights.py (held-out acc 0.96) on "
    "documents-vs-synthetic-garbage.",
)
def text_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # registered path = the stateless zero-shuffle scorer; the
    # aggregation formulation (score_documents) stays as the
    # independent differential anchor
    return score_documents_stateless(
        load_table(spark, sf_dir, "documents")
    )


# ---------------------------------------------------------------------
# Composed curation with the MODEL gate — the full RefinedWeb-shaped
# chain: per-host cap -> paragraph-level exact dedup -> trained quality
# model -> per-language accounting, in ONE plan. Same skeleton as
# corpusops.corpus_curation_pipeline but the heuristic entropy gate is
# replaced by the trained classifier, which is how production corpus
# pipelines stage it (heuristics first, model last).
# ---------------------------------------------------------------------


def _curation_oracle() -> str:
    from ethiopia_legal_etl_spark.operators.corpusops import (
        _BLK,
        _HOST_CAP,
        _KNUTH,
    )

    wlist = "[" + ", ".join(WEIGHTS) + "]::DECIMAL(10,6)[]"
    return f"""
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
      SELECT doc_id, lang, tok FROM (
        SELECT doc_id, lang,
               unnest(string_split(clean_text, ' ')) AS tok
        FROM cleaned WHERE kept_blocks > 0)
      WHERE tok <> ''
    ),
    b AS (
      SELECT doc_id, lang,
             ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))
               % {_D} AS bkt
      FROM tok
    ),
    per AS (
      SELECT doc_id, lang, COUNT(*) AS n_tokens,
             SUM(({wlist})[bkt + 1]) AS sum_w
      FROM b GROUP BY doc_id, lang
    ),
    gated AS (
      SELECT doc_id, lang, n_tokens,
             ROUND(1.0 / (1.0 + EXP(-(CAST(sum_w AS DOUBLE) / n_tokens
                                      + ({BIAS})))), 4) AS s4
      FROM per
      WHERE (sum_w + CAST({BIAS} AS DECIMAL(10,6)) * n_tokens) > 0
    )
    SELECT lang,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
           ROUND(CAST(SUM(CAST(s4 AS DECIMAL(14,4))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_score
    FROM gated GROUP BY lang
    """


@register(
    "corpus_quality_curation",
    oracle=_curation_oracle(),
    doc="the full RefinedWeb-shaped curation chain with the TRAINED "
    "model as the final gate: per-host cap (unbiased hash order) -> "
    "paragraph-level exact dedup with reconstruction -> quality-model "
    "gate (exact-decimal sum_w + bias*n > 0, flip-proof between "
    "engines) -> per-language accounting. ONE plan, FIVE necessary "
    "shuffles (host window; block window; doc regroup; lang agg — "
    "the stateless scorer removed the (doc,token) shuffle: "
    "scoring is now a zero-shuffle row expression over clean_text) — "
    "the corpus streams through once; the 64-weight model is a "
    "literal array, zero Python, zero joins. Float policy: the gate "
    "compares exact decimals; reported avg_score sums 4dp-rounded "
    "per-doc sigmoids as exact DECIMALs (order-independent) then "
    "divides by the count.",
)
def corpus_quality_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ethiopia_legal_etl_spark.operators.corpusops import (
        host_capped,
        paragraph_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    capped = host_capped(docs, "doc_id", "lang", "text").drop("host_rank")
    cleaned = paragraph_dedup(capped, carry=("lang",))
    kept = cleaned.where(F.col("kept_blocks") > 0)
    # stateless row-expression scorer over the reconstructed text —
    # no (doc,token) shuffle; the per-doc decimal sum is exact either
    # way, so the oracle (which uses the explode formulation in SQL)
    # matches value-for-value
    n, s4, is_q = row_score_columns(F.col("clean_text"), score_dp=4)
    gated = (
        kept.select(
            "lang",
            n.alias("n_tokens"),
            s4.alias("s4"),
            is_q.alias("q"),
        )
        .where(F.col("n_tokens") > 0)
        .where(F.col("q"))
    )
    return gated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("n_tokens_kept"),
        F.round(
            F.sum(F.col("s4").cast("decimal(14,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_score"),
    )


# ---------------------------------------------------------------------
# STATELESS row-expression scorer + streaming surface. The explode/
# groupBy scorer above shuffles once; this variant computes the same
# exact-decimal sum per row with array expressions (transform +
# aggregate over the token array), so scoring is a ZERO-shuffle
# projection — which is what lets it run in Structured Streaming
# append mode with no state at all (and lets batch pipelines score
# inside the scan's span). Decimal math keeps it bit-equal to the
# aggregation path: both sum the same exact DECIMAL(10,6) weights.
# ---------------------------------------------------------------------


def _row_weight(w):
    """Weight of one token as a lambda-safe column expression (the
    SQL-string bucket above can't reference a lambda variable):
    array_position over the literal hex alphabet replaces instr."""
    hexarr = F.array(*[F.lit(c) for c in "0123456789abcdef"])
    warr = F.array(*[F.lit(x).cast("decimal(10,6)") for x in WEIGHTS])
    h = F.md5(w)
    v1 = F.array_position(hexarr, F.substring(h, 1, 1)) - 1
    v2 = F.array_position(hexarr, F.substring(h, 2, 1)) - 1
    bkt = F.pmod(v1 * 16 + v2, F.lit(_D))
    return F.element_at(warr, (bkt + 1).cast("int"))


def row_score_columns(textcol, score_dp: int = 6):
    """(n_tokens, score, is_quality) as pure per-row expressions."""
    words = F.filter(F.split(textcol, " "), lambda w: w != "")
    sum_w = F.aggregate(
        F.transform(words, _row_weight),
        F.lit("0").cast("decimal(20,6)"),
        lambda a, x: (a + x).cast("decimal(20,6)"),
    )
    n = F.size(words)
    bias_dec = F.lit(BIAS).cast("decimal(10,6)")
    z = sum_w.cast("double") / n + F.lit(float(BIAS))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), score_dp)
    is_q = (sum_w + bias_dec * n) > F.lit(0).cast("decimal(10,6)")
    return n, score, is_q


def score_documents_stateless(docs: DataFrame) -> DataFrame:
    """Same contract as score_documents (docs with no tokens dropped)
    but ZERO shuffles — a pure projection. Proven equal to the
    aggregation path in tests/test_quality.py."""
    n, score, is_q = row_score_columns(F.col("text"))
    return (
        docs.select(
            "doc_id",
            n.alias("n_tokens"),
            score.alias("score"),
            is_q.alias("is_quality"),
        )
        .where(F.col("n_tokens") > 0)
    )


def streaming_quality_scores(docs_stream: DataFrame) -> DataFrame:
    """True Structured Streaming scorer: stateless append-mode
    projection (no watermark, no state store) — every micro-batch is
    scored exactly like the batch path because it IS the batch
    expression. The steady-state shape of a quality gate in a
    streaming ingest pipeline."""
    return score_documents_stateless(docs_stream)


@register(
    "stream_quality_twin",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, tok FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
      WHERE tok <> ''
    ),
    b AS (
      SELECT doc_id, lang,
             ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))
               % {_D} AS bkt
      FROM tok
    ),
    per AS (
      SELECT doc_id, lang, COUNT(*) AS n_tokens,
             SUM(({_WLIST_SQL})[bkt + 1]) AS sum_w
      FROM b GROUP BY doc_id, lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (
             WHERE sum_w + CAST({BIAS} AS DECIMAL(10,6)) * n_tokens > 0
           ) AS n_quality
    FROM per GROUP BY lang
    """,
    doc="streaming quality gate, batch twin: per-language document "
    "and accepted-document counts under the trained model, computed "
    "through the STATELESS row-expression scorer (zero-shuffle "
    "projection + one lang agg). The true-stream variant "
    "(streaming_quality_scores) is the identical expression running "
    "append-mode with NO state store — per-doc equality with the "
    "batch scorer is asserted in tests/test_streaming.py. The "
    "acceptance gate is exact-decimal, so batch, stream, and oracle "
    "cannot disagree on any document.",
)
def stream_quality_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n, _score, is_q = row_score_columns(F.col("text"))
    per = docs.select(
        "lang", n.alias("n_tokens"), is_q.alias("is_quality")
    ).where(F.col("n_tokens") > 0)
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("is_quality"), 1)).alias("n_quality"),
    )
