"""The composed training-data pipeline: the single query a corpus
builder actually runs — filter → language gate → exact dedup →
quality gate → token accounting — expressed as ONE declarative plan
so Catalyst fuses the narrow stages into a single scan pass.

Reference parity: the reference's pipeline is the same shape run one
document at a time (fetch → extract → filter empty → write,
fetch_legal_docs.py:32 loop); here every per-doc step is a column
expression and the only wide operation is the dedup shuffle.

Scale shape (100 TB): length/lang/quality are map-side expressions
fused into the parquet scan stage (one WholeStageCodegen span, no
materialization between "stages"); the sha2-keyed window is the one
shuffle, and its key space is uniform by construction (crypto hash),
so no salting is needed. Output is immediately writable partitioned
by lang without a second shuffle (lang is constant per row).
"""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.corpusops import _KNUTH, knuth_bucket
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


@register(
    "pipeline_training_corpus",
    oracle="""
    WITH nonempty AS (
      SELECT doc_id, text FROM documents WHERE LENGTH(text) > 0
    ),
    lang_gated AS (
      SELECT doc_id, text FROM nonempty
      WHERE LENGTH(text) - LENGTH(REPLACE(text, 'the', '')) >= 3
         OR LENGTH(text) - LENGTH(REPLACE(text, 'and', '')) >= 3
    ),
    hashed AS (
      SELECT doc_id, text, sha256(text) AS digest,
             ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id)
               AS rn
      FROM lang_gated
    ),
    deduped AS (
      SELECT doc_id, text, digest FROM hashed WHERE rn = 1
    ),
    scored AS (
      SELECT doc_id, digest,
             LEN(string_split(text, ' ')) AS n_tokens,
             ROUND(
               0.5 * LEAST(CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 50,
                           1.0)
             + 0.5 * (CAST(LEN(list_distinct(string_split(text, ' ')))
                           AS DOUBLE)
                      / LEN(string_split(text, ' '))), 4) AS quality
      FROM deduped
    )
    SELECT doc_id, n_tokens, quality, digest
    FROM scored WHERE quality >= 0.5
    """,
    doc="The full corpus-construction pipeline as one plan: non-empty "
    "filter -> marker-based language gate -> sha2 exact dedup "
    "(keep-lowest-doc_id) -> quality gate -> token accounting. "
    "Filters and hash fuse into the scan stage; the dedup window is "
    "the single shuffle, keyed on a uniform crypto digest.",
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_corpus(load_table(spark, sf_dir, "documents"))


def training_corpus(docs: DataFrame) -> DataFrame:
    """The pipeline over a `documents` frame: (doc_id, n_tokens,
    quality, digest) of each kept document."""

    def marker_count(marker: str):
        return (
            F.length("text") - F.length(F.regexp_replace("text", marker, ""))
        ) / len(marker)

    lang_gated = docs.where(F.length("text") > 0).where(
        (marker_count("the") >= 1) | (marker_count("and") >= 1)
    )
    digest = F.sha2(F.col("text"), 256)
    w = Window.partitionBy(digest).orderBy("doc_id")
    deduped = (
        lang_gated.withColumn("digest", digest)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    quality = F.round(
        0.5 * F.least(n_tokens.cast("double") / 50, F.lit(1.0))
        + 0.5 * (F.size(F.array_distinct(toks)).cast("double") / n_tokens),
        4,
    )
    return (
        deduped.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            quality.alias("quality"),
            "digest",
        )
        .where(F.col("quality") >= 0.5)
    )


@register(
    "corpus_mixture_weights",
    oracle="""
    WITH stats AS (
      SELECT lang, source,
             COUNT(*) AS n_docs,
             CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source
    ),
    shares AS (
      SELECT lang, source, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS share,
             CAST(SQRT(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ())
                  AS DECIMAL(20,12)) AS wdec
      FROM stats
    )
    SELECT lang, source, n_docs, n_tokens,
           ROUND(share, 6) AS token_share,
           ROUND(CAST(wdec AS DOUBLE)
                 / CAST(SUM(wdec) OVER () AS DOUBLE), 6) AS sample_weight
    FROM shares
    """,
    doc="pretraining mixture weighting: per-(lang, source) token "
    "accounting plus temperature-scaled sampling weights (w ∝ "
    "share^0.5, multilingual rebalancing — rare languages oversampled "
    "relative to their token share). Cross-engine-deterministic by "
    "construction: integer token sums are exact; share is one IEEE "
    "division; the temperature uses sqrt (correctly rounded per "
    "IEEE-754, unlike libm pow); weights are quantized to "
    "DECIMAL(20,12) and summed EXACTLY (order-independent — a double "
    "window-sum would depend on row arrival order). The global "
    "windows run on the POST-AGGREGATION frame (|langs|×|sources| "
    "rows, bounded regardless of corpus size), never on the corpus — "
    "the only corpus-sized work is the one groupBy shuffle.",
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w_all = Window.partitionBy()  # bounded: |langs|-row aggregated frame
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w_all)
    shares = stats.withColumn("share", share).withColumn(
        "wdec", F.sqrt(F.col("share")).cast("decimal(20,12)")
    )
    return shares.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round("share", 6).alias("token_share"),
        F.round(
            F.col("wdec").cast("double")
            / F.sum("wdec").over(w_all).cast("double"),
            6,
        ).alias("sample_weight"),
    )


# mixture downsampling rates by language (en is the dominant lang in
# the corpus -> downsampled hardest; zh kept whole)
_STRATA_RATES = {"en": 0.25, "zh": 1.0}
_STRATA_DEFAULT = 0.5


@register(
    "corpus_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE (doc_id % 1000000007) * {_KNUTH} % 1000000
          < CAST(1000000 * (CASE WHEN lang = 'en' THEN 0.25
                                 WHEN lang = 'zh' THEN 1.0
                                 ELSE 0.5 END) AS BIGINT)
    """,
    doc="deterministic stratified downsampling for mixture control: "
    "keep each document iff knuth_hash(doc_id) mod 1e6 falls under "
    "its language's rate. Pure integer arithmetic (exact in both "
    "engines, no RNG state), so the sample is reproducible, "
    "order-independent, and partition-count-independent — the "
    "properties a resumable 100 TB sampling job needs. Shuffle-free: "
    "the predicate evaluates map-side inside the scan's "
    "WholeStageCodegen span (arithmetic predicates don't reach "
    "PushedFilters; only the IsNotNull guard does).",
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = knuth_bucket(F.col("doc_id"), 1000000)
    rate = F.when(F.col("lang") == "en", F.lit(_STRATA_RATES["en"]))
    for lang, r in _STRATA_RATES.items():
        if lang != "en":
            rate = rate.when(F.col("lang") == lang, F.lit(r))
    rate = rate.otherwise(F.lit(_STRATA_DEFAULT))
    threshold = (F.lit(1000000) * rate).cast("bigint")
    return docs.where(bucket < threshold).select("doc_id", "lang", "source")


def observed_training_corpus(spark: SparkSession, sf_dir: str):
    """The pipeline instrumented with df.observe() CollectMetrics:
    per-run data-quality counters (rows in, survivors, quality mass)
    computed INSIDE the job — no second pass over the data, which at
    100 TB is the difference between free metrics and a re-scan.
    Returns (result_df, input_observation, output_observation); read
    `.get` after an action completes."""
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")
    obs_in = Observation("corpus_in")
    obs_out = Observation("corpus_out")
    observed = docs.observe(
        obs_in,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.length("text") == 0, 1).otherwise(0)).alias("n_empty"),
    )
    result = training_corpus(observed).observe(
        obs_out,
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return result, obs_in, obs_out


@register(
    "corpus_unimax_budget",
    oracle="""
    WITH lt AS (
      SELECT lang,
             CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    ord AS (
      SELECT lang, n_tokens,
             n_tokens * 2 AS cap,
             ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS k,
             COUNT(*) OVER () AS L,
             (SUM(n_tokens) OVER () * 3) // 2 AS budget,
             COALESCE(SUM(n_tokens * 2) OVER (
               ORDER BY n_tokens, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prefix_cap
      FROM lt
    ),
    flg AS (
      SELECT *,
             CASE WHEN CAST(cap AS DOUBLE)
                       <= CAST(budget - prefix_cap AS DOUBLE)
                          / CAST(L - k + 1 AS DOUBLE)
                  THEN 1 ELSE 0 END AS fits
      FROM ord
    ),
    pref AS (
      SELECT *,
             MIN(fits) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS capped
      FROM flg
    )
    SELECT lang,
           n_tokens,
           CAST(capped AS BOOLEAN) AS epoch_capped,
           CASE WHEN capped = 1 THEN CAST(cap AS DOUBLE)
                ELSE CAST(budget - SUM(cap * capped) OVER () AS DOUBLE)
                     / CAST(L - SUM(capped) OVER () AS DOUBLE)
           END AS alloc_tokens,
           (CASE WHEN capped = 1 THEN CAST(cap AS DOUBLE)
                 ELSE CAST(budget - SUM(cap * capped) OVER () AS DOUBLE)
                      / CAST(L - SUM(capped) OVER () AS DOUBLE)
            END) / CAST(n_tokens AS DOUBLE) AS epochs
    FROM pref
    """,
    doc="UniMax language-budget allocation (Chung et al. 2023, "
    "arXiv:2304.09151): distribute a token budget (here 1.5x the "
    "corpus) across languages as uniformly as possible subject to a "
    "per-language epoch cap (2 epochs — never repeat a language's "
    "data more than twice). The paper's sequential waterfill has a "
    "closed form over the size-ASCENDING order — a language is "
    "epoch-capped iff its cap fits under the running fair share "
    "computed from the prefix of caps; every uncapped language gets "
    "an equal split of what the capped prefix leaves — so the whole "
    "allocation is window functions over the |langs|-row aggregate: "
    "NO driver loop, no UDF, and the only corpus-sized work is the "
    "one token-count shuffle. Cross-engine-deterministic: every "
    "prefix/total is an exact integer window; the fair shares are "
    "single IEEE divisions of exact operands; comparisons are on "
    "identical doubles. The small-corpus regime both branches "
    "exercise here: the two smallest languages cap at 2 epochs, the "
    "rest split the remainder evenly (the fairness UniMax buys over "
    "temperature sampling, corpus_mixture_weights' family).",
)
def corpus_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    max_epochs = 2
    lt = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    # bounded: |langs| rows (per-language token-total frame)
    w_ord = Window.orderBy("n_tokens", "lang")
    w_all = Window.partitionBy()
    w_prefix = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    base = (
        lt.withColumn("cap", F.col("n_tokens") * max_epochs)
        .withColumn("k", F.row_number().over(w_ord))
        .withColumn("L", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "budget", F.expr("(SUM(n_tokens) OVER () * 3) DIV 2")
        )
        .withColumn(
            "prefix_cap",
            F.coalesce(F.sum("cap").over(w_prefix), F.lit(0)),
        )
        .withColumn(
            "fits",
            (
                F.col("cap").cast("double")
                <= (F.col("budget") - F.col("prefix_cap")).cast("double")
                / (F.col("L") - F.col("k") + 1).cast("double")
            ).cast("int"),
        )
        .withColumn("capped", F.min("fits").over(w_run))
    )
    alloc = F.when(
        F.col("capped") == 1, F.col("cap").cast("double")
    ).otherwise(
        (F.col("budget") - F.sum(F.col("cap") * F.col("capped")).over(w_all))
        .cast("double")
        / (F.col("L") - F.sum("capped").over(w_all)).cast("double")
    )
    return base.select(
        "lang",
        "n_tokens",
        F.col("capped").cast("boolean").alias("epoch_capped"),
        alloc.alias("alloc_tokens"),
        (alloc / F.col("n_tokens").cast("double")).alias("epochs"),
    )
