"""Data-selection operators for training-corpus construction: DSIR
importance resampling, incremental snapshot dedup, balanced shard
export, and product-quantization ANN.

These extend the reference's single-shot ETL (fetch_legal_docs.py:32
fetches everything every run; its only selection is the empty-text
filter at fetch_legal_docs.py:47) with the selection machinery a
recurring 100 TB corpus build needs: choose WHICH documents to keep
(DSIR), skip what a prior snapshot already has (incremental dedup),
and export the survivors in balanced shards (sharded write).

Papers: Xie et al. 2023 "Data Selection for Language Models via
Importance Resampling" (DSIR); Jégou et al. 2011 "Product Quantization
for Nearest Neighbor Search" (PQ/ADC); Lee et al. 2022 / Common Crawl
recrawl practice for snapshot-incremental dedup.

Scale notes:
- DSIR is two-pass by nature (learn feature weights, then score); the
  learned state here is a 64-row fixed-point weight table, broadcast
  into a map-side score pass — the corpus is never shuffled, only the
  per-(lang) accounting aggregate is.
- Incremental dedup shuffles 32-byte sha256 digests, never documents;
  the anti-join key is uniform by construction (crypto hash), so no
  salting is needed.
- Shard export assigns by multiplicative hash (map-side, no corpus
  shuffle); balance is verified on the 8-row aggregate.
- PQ encodes 64-dim float vectors into m=8 4-bit codes (32×
  compression); encode is an equi-join against a broadcast 128-row
  codebook with map-side partial min, query is ADC against a broadcast
  640-row lookup table plus an exact re-rank over a 50-candidate
  shortlist. The raw vectors never shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.corpusops import _KNUTH, knuth_bucket
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.operators.similarity import (
    EMB_OK_SQL,
    as_double,
    emb_ok,
)
from ethiopia_legal_etl_spark.sources.tables import load_table

# --------------------------------------------------------------------
# DSIR-style importance selection (fixed-point)
# --------------------------------------------------------------------

_DSIR_BUCKETS = 64
_DSIR_SCALE = 1_000_000
_DSIR_TARGET_SOURCES = ("src0", "src1")  # the "trusted" target domain


def _dsir_bucket(tok):
    """Portable hashed-feature bucket: the same closed-form arithmetic
    evaluates identically in Spark and DuckDB (ascii = Unicode code
    point of the first char in both; all operands positive)."""
    return (
        F.ascii(tok) * 31 + F.length(tok) * 7 + F.ascii(F.right(tok, F.lit(1)))
    ) % _DSIR_BUCKETS


@register(
    "dsir_importance_select",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source, tok
      FROM (SELECT doc_id, lang, source,
                   UNNEST(string_split(LOWER(text), ' ')) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    b AS (
      SELECT doc_id, lang, source,
             (ascii(tok) * 31 + LENGTH(tok) * 7 + ascii(right(tok, 1)))
               % {_DSIR_BUCKETS} AS bucket
      FROM toks
    ),
    stats AS (
      SELECT bucket, COUNT(*) AS cr,
             COUNT(*) FILTER (source IN ('src0', 'src1')) AS ct
      FROM b GROUP BY bucket
    ),
    wts AS (
      SELECT bucket,
             CAST(ct * {_DSIR_SCALE} // cr AS BIGINT) AS w_fp,
             SUM(ct) OVER () * {_DSIR_SCALE} // SUM(cr) OVER () AS thresh
      FROM stats
    ),
    scored AS (
      SELECT doc_id, lang,
             CAST(SUM(w_fp) AS BIGINT) AS score,
             COUNT(*) AS n_toks,
             MAX(thresh) AS thresh
      FROM b JOIN wts USING (bucket) GROUP BY doc_id, lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN score // n_toks > thresh
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(SUM(score) AS BIGINT) AS importance_mass
    FROM scored GROUP BY lang
    """,
    doc="DSIR-style importance selection in fixed-point integer "
    "arithmetic (Xie et al. 2023, adapted): hash word features into "
    f"{_DSIR_BUCKETS} buckets with a portable closed-form hash, learn "
    "per-bucket importance weights w = target_count*1e6 DIV raw_count "
    "(exact integer division — the float log-ratio formulation could "
    "not be hash-compared cross-engine), score each document as the "
    "sum of its tokens' weights, and select documents whose MEAN "
    "token weight exceeds the corpus-wide target share (importance "
    "ratio > 1: more target-like than the average document — DSIR's "
    "resampling-acceptance region). Both sides of the selection "
    "predicate are integer divisions of exact operands, so the gate "
    "is bit-identical cross-engine. TWO corpus scans — DSIR's "
    "theoretical minimum (one stats pass learning cr/ct per bucket "
    "AND the global share threshold via a window over the 64-row "
    "aggregate, one scoring pass against the broadcast weight "
    "table); the corpus itself never shuffles — only hashed-bucket "
    "counts and the per-lang accounting aggregate do.",
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_doc_scores(docs)
    # importance ratio > 1: mean token weight above the corpus target
    # share, compared as truncated integer divisions on both sides
    selected = F.expr("score DIV n_toks") > F.col("thresh")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(selected, 1).otherwise(0)).alias("n_selected"),
        F.sum("score").alias("importance_mass"),
    )


def dsir_doc_scores(docs: DataFrame) -> DataFrame:
    """Per-doc DSIR fixed-point scores over any documents frame:
    (doc_id, lang, score, n_toks, thresh).  ONE stats pass (per-bucket
    raw/target counts plus the global target-share threshold via a
    window over the 64-row aggregate) and ONE scoring pass against the
    broadcast weight table — DSIR's two-pass theoretical minimum."""
    is_target = F.col("source").isin(*_DSIR_TARGET_SOURCES)
    toks = (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .withColumn("bucket", _dsir_bucket(F.col("tok")))
    )
    stats = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count_if(is_target).alias("ct"),
    )
    # integer division (DIV) keeps weights and threshold exact in
    # both engines
    wts = stats.select(
        "bucket",
        F.expr(f"CAST((ct * {_DSIR_SCALE}) DIV cr AS BIGINT)").alias("w_fp"),
        F.expr(
            f"SUM(ct) OVER () * {_DSIR_SCALE} DIV SUM(cr) OVER ()"
        ).alias("thresh"),
    )
    return (
        toks.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("w_fp").alias("score"),
            F.count(F.lit(1)).alias("n_toks"),
            F.max("thresh").alias("thresh"),  # constant across rows
        )
    )


# --------------------------------------------------------------------
# Incremental snapshot dedup
# --------------------------------------------------------------------


@register(
    "dedup_incremental_snapshot",
    oracle="""
    WITH snapshot AS (
      SELECT sha256(text) AS digest FROM documents WHERE doc_id % 3 <> 0
    ),
    incoming AS (
      SELECT doc_id, sha256(text) AS digest FROM documents
      WHERE doc_id % 3 = 0
    ),
    fresh AS (
      SELECT i.doc_id, i.digest FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM snapshot s WHERE s.digest = i.digest)
    )
    SELECT doc_id, digest
    FROM (SELECT doc_id, digest,
                 ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
          FROM fresh)
    WHERE rn = 1
    """,
    doc="recrawl-incremental dedup: drop incoming documents whose "
    "sha256 digest already exists in the prior snapshot (left-anti "
    "join on digests), then keep-lowest-doc_id within the incoming "
    "batch itself. The snapshot/incoming split is doc_id mod 3 — a "
    "deterministic stand-in for crawl dates. Extends the reference's "
    "filename-level skip (fetch_legal_docs.py:40 `if not "
    "pdf_path.exists()`) to content-level: a re-uploaded PDF with a "
    "new URL is still skipped. Scale: only 32-byte digests shuffle; "
    "the anti-join key is uniform (crypto hash), no salting needed; "
    "the snapshot side would be a digest-only parquet index at 100 TB.",
)
def dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.col("text"), 256)
    snapshot = docs.where(F.col("doc_id") % 3 != 0).select(
        digest.alias("digest")
    )
    incoming = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", digest.alias("digest")
    )
    fresh = incoming.join(snapshot, "digest", "left_anti")
    w = Window.partitionBy("digest").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "digest")
    )


# --------------------------------------------------------------------
# Balanced shard export
# --------------------------------------------------------------------

_N_SHARDS = 8


@register(
    "shard_export_balance",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             LEN(string_split(text, ' ')) AS n_tokens,
             (doc_id % 1000000007) * {_KNUTH} % {_N_SHARDS} AS shard
      FROM documents
    ),
    per_shard AS (
      SELECT shard,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens
      FROM sized GROUP BY shard
    )
    SELECT shard, n_docs, total_tokens, max_doc_tokens,
           ROUND(CAST(total_tokens AS DOUBLE) * {_N_SHARDS}
                 / CAST(SUM(total_tokens) OVER () AS DOUBLE), 6)
             AS balance_ratio
    FROM per_shard
    """,
    doc="deterministic balanced shard assignment for training-data "
    f"export: shard = knuth_hash(doc_id) mod {_N_SHARDS}, evaluated "
    "map-side inside the scan (no corpus shuffle, "
    "partition-count-independent, resumable). Per-shard doc/token "
    "accounting plus a balance_ratio (shard tokens / ideal share) "
    "computed on the 8-row aggregate — the verification a sharded "
    "writer runs before handing shards to a trainer. At 100 TB this "
    "is `df.write.partitionBy(shard)` with the same hash column; "
    "multiplicative hashing balances token mass to the law of large "
    "numbers without a global sort (a row_number round-robin would "
    "need a corpus-wide ordered window — a single-partition sort at "
    "scale).",
)
def shard_export_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard = knuth_bucket(F.col("doc_id"), _N_SHARDS)
    sized = docs.select(
        shard.alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    per_shard = sized.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_doc_tokens"),
    )
    w_all = Window.partitionBy()  # bounded: 8-row aggregated frame
    return per_shard.select(
        "shard",
        "n_docs",
        "total_tokens",
        "max_doc_tokens",
        F.round(
            F.col("total_tokens").cast("double")
            * _N_SHARDS
            / F.sum("total_tokens").over(w_all).cast("double"),
            6,
        ).alias("balance_ratio"),
    )


# --------------------------------------------------------------------
# Product-quantization ANN (Jégou et al. 2011)
# --------------------------------------------------------------------

_PQ_M = 8  # subspaces (64-dim -> 8 x 8-dim)
_PQ_SUBDIM = 8
_PQ_K = 16  # codewords per subspace -> 8 x 4 bits/vector, 32x compression
_PQ_TOPK = 10
_PQ_SHORTLIST = 50  # ADC candidates per query before exact re-rank
_PQ_QUERIES = 5


def train_pq_codebooks(spark: SparkSession, emb: DataFrame):
    """Train per-subspace k-means codebooks (seeded, deterministic).
    Returns a list of _PQ_M codebooks, each _PQ_K centroids of
    _PQ_SUBDIM doubles.  Each of the _PQ_M subspaces is one Spark ML
    KMeans fit over EVERY non-null embedding, so training runs _PQ_M
    full-table fits one after another (no sampling; at 100 TB a
    bounded sample would be needed)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    books = []
    # NULL embeddings crash array_to_vector (JVM NPE) — excluded
    feats = emb.where(F.col("embedding").isNotNull()).select(
        as_double(F.col("embedding")).alias("e")
    )
    for m in range(_PQ_M):
        sub = feats.select(
            array_to_vector(
                F.slice("e", m * _PQ_SUBDIM + 1, _PQ_SUBDIM)
            ).alias("features")
        )
        model = KMeans(
            k=_PQ_K, seed=42 + m, featuresCol="features", predictionCol="code"
        ).fit(sub)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def _codebook_df(spark: SparkSession, books) -> DataFrame:
    rows = [
        (m, c, books[m][c])
        for m in range(len(books))
        for c in range(len(books[m]))
    ]
    return spark.createDataFrame(rows, "m int, code int, centroid array<double>")


def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(emb: DataFrame, codebook: DataFrame) -> DataFrame:
    """Encode each vector as _PQ_M codes: explode into subvectors,
    equi-join the broadcast codebook on the subspace id, take the
    per-(vec, m) argmin by squared L2.  The 16x candidate blowup is
    map-side; partial-min aggregation means only N*m tiny rows
    shuffle — the raw vectors never do."""
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(
                        as_double(F.col("embedding")),
                        m * _PQ_SUBDIM + 1,
                        _PQ_SUBDIM,
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("m", "sub"),
    )
    cand = subs.join(F.broadcast(codebook), "m").select(
        "vec_id",
        "m",
        F.struct(_sq_l2(F.col("sub"), F.col("centroid")).alias("dist"), "code")
        .alias("dc"),
    )
    # struct-min is deterministic under distance ties (lowest code wins)
    return (
        cand.groupBy("vec_id", "m")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", "m", F.col("best.code").alias("code"))
    )


_MRL_DIM = 16  # Matryoshka truncation prefix (of 64)


@register(
    "embedding_matryoshka_overlap",
    oracle=f"""
    WITH ok AS (SELECT * FROM embeddings WHERE {EMB_OK_SQL}),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM ok
          WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, e.vec_id,
             LIST_COSINE_SIMILARITY(
               LIST_TRANSFORM(q.q_emb, x -> CAST(x AS DOUBLE)),
               LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)))
               AS cos_full,
             LIST_COSINE_SIMILARITY(
               LIST_TRANSFORM(q.q_emb[1:{_MRL_DIM}], x -> CAST(x AS DOUBLE)),
               LIST_TRANSFORM(e.embedding[1:{_MRL_DIM}],
                              x -> CAST(x AS DOUBLE))) AS cos_trunc
      FROM q CROSS JOIN ok e
      WHERE e.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_full DESC, vec_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_trunc DESC, vec_id) AS rt
      FROM scored
    )
    SELECT q_id,
           CAST(SUM(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS overlap_top10
    FROM ranked GROUP BY q_id
    """,
    doc="Matryoshka-style truncation quality probe (Kusupati et al. "
    f"2022 MRL): rank the corpus by full 64-dim cosine and by the "
    f"first-{_MRL_DIM}-dims cosine (truncation is renormalization-free "
    "for cosine), and report per-query top-10 set overlap — the "
    "measurement that decides whether a 4x-cheaper truncated index is "
    "good enough before committing a 100 TB re-embed. One corpus "
    "scan, both rankings in the same window pass; output is an exact "
    "integer so the gate is float-tie-free.",
)
def embedding_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ethiopia_legal_etl_spark.operators.similarity import (
        dot,
        emb_ok_basic,
        l2norm,
        with_norm,
    )

    # failed-encoder rows (NULL / wrong-dim / non-finite) out — same
    # set as emb_ok(), via the basic guard + reusable norm column
    # (EMB_DIM policy). Both the full and the
    # truncated cosine reuse precomputed norms: full `nrm` doubles as
    # the finiteness guard; `n16` over the prefix slice is finite
    # whenever nrm is, so it carries no guard duty.
    d = (
        with_norm(load_table(spark, sf_dir, "embeddings").where(emb_ok_basic()))
        .withColumn("e16", F.slice("e", 1, _MRL_DIM))
        .withColumn("n16", l2norm(F.col("e16")))
        .select("vec_id", "e", "nrm", "e16", "n16")
    )
    q = d.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("e16").alias("qe16"),
        F.col("n16").alias("qn16"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(d)
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))).alias(
                "cos_full"
            ),
            (
                dot(F.col("qe16"), F.col("e16"))
                / (F.col("qn16") * F.col("n16"))
            ).alias("cos_trunc"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("cos_full"), "vec_id")
    wt = Window.partitionBy("q_id").orderBy(F.desc("cos_trunc"), "vec_id")
    ranked = scored.select(
        "q_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    return ranked.groupBy("q_id").agg(
        F.sum(
            F.when((F.col("rf") <= 10) & (F.col("rt") <= 10), 1).otherwise(0)
        ).alias("overlap_top10")
    )


def pq_adc_scores(spark: SparkSession, emb: DataFrame, books) -> DataFrame:
    """ADC distances (q_id, vec_id, adc_raw): each query's 8x16 LUT of
    query-subvector-to-codeword squared distances is a broadcast
    640-row table; a corpus vector's approximate distance is the sum
    of 8 lookups.  The only corpus-sized shuffle carries (vec_id,
    code) pairs."""
    codebook = _codebook_df(spark, books)
    codes = pq_encode(emb, codebook)
    queries = emb.where(F.col("vec_id") < _PQ_QUERIES).select(
        F.col("vec_id").alias("q_id"), as_double(F.col("embedding")).alias("q")
    )
    lut = (
        F.broadcast(queries)
        .crossJoin(F.broadcast(codebook))
        .select(
            "q_id",
            "m",
            "code",
            _sq_l2(
                F.slice(F.col("q"), F.col("m") * _PQ_SUBDIM + 1, _PQ_SUBDIM),
                F.col("centroid"),
            ).alias("part_dist"),
        )
    )
    partials = codes.join(F.broadcast(lut), ["m", "code"]).where(
        F.col("vec_id") != F.col("q_id")
    )
    return partials.groupBy("q_id", "vec_id").agg(
        F.sum("part_dist").alias("adc_raw")
    )


@register(
    "similarity_pq_adc",
    oracle=None,  # learned codebooks drive the ranking -> rows-only
    doc="product-quantization ANN (Jégou et al. 2011, ADC+R): 64-dim "
    "vectors encoded as 8 4-bit codes via per-subspace seeded k-means "
    "(32x memory compression — the property that lets a 100 TB "
    "vector corpus fit a cluster's RAM), queried by asymmetric "
    "distance (sum of 8 broadcast-LUT lookups) to a 50-candidate "
    "shortlist, then EXACT L2 re-rank of the shortlist against the "
    "raw vectors — the standard two-stage shape: the compressed scan "
    "does the heavy pruning, exact math touches only candidates. "
    "Encode is a broadcast equi-join with map-side partial min; "
    "corpus-sized shuffles carry only (vec_id, code) pairs; the "
    "re-rank join fetches 50 raw vectors per query. "
    "Differential-tested against a NumPy PQ model and a recall floor "
    "vs exact L2 (tests/test_selection.py)."
    " Rows-only verdict: NOT convertible — per-subspace "
    "codebooks are seeded-k-means artifacts (same class as "
    "similarity_ivf_kmeans). Ground truth: shortlist-recall + exact- "
    "re-rank properties.",
)
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # failed-encoder rows out (EMB_DIM policy): a truncated vector
    # crashes the per-subspace k-means fit and the fixed-offset slices
    emb = load_table(spark, sf_dir, "embeddings").where(emb_ok())
    if emb.isEmpty():  # KMeans.fit requires rows
        return spark.createDataFrame(
            [], "q_id bigint, vec_id bigint, l2_dist double, rn int"
        )
    books = train_pq_codebooks(spark, emb)
    return pq_query(spark, emb, books)


def pq_query(spark: SparkSession, emb: DataFrame, books) -> DataFrame:
    """The query path given trained codebooks: ADC shortlist + exact
    re-rank.  Split from the registry entry so a deployment can train
    once on a bounded sample and query many times."""
    adc = pq_adc_scores(spark, emb, books)
    w = Window.partitionBy("q_id").orderBy("adc_raw", "vec_id")
    shortlist = (
        adc.withColumn("srn", F.row_number().over(w))
        .where(F.col("srn") <= _PQ_SHORTLIST)
        .select("q_id", "vec_id")
    )
    queries = emb.where(F.col("vec_id") < _PQ_QUERIES).select(
        F.col("vec_id").alias("q_id"), as_double(F.col("embedding")).alias("q")
    )
    exact = (
        shortlist.join(
            emb.select("vec_id", as_double(F.col("embedding")).alias("v")),
            "vec_id",
        )
        .join(F.broadcast(queries), "q_id")
        .select("q_id", "vec_id", _sq_l2(F.col("q"), F.col("v")).alias("d"))
    )
    w2 = Window.partitionBy("q_id").orderBy("d", "vec_id")
    return (
        exact.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= _PQ_TOPK)
        .select("q_id", "vec_id", F.round("d", 4).alias("l2_dist"), "rn")
    )


# --------------------------------------------------------------------
# Composed selection pipeline
# --------------------------------------------------------------------


@register(
    "corpus_dsir_pipeline",
    oracle=f"""
    WITH nonempty AS (
      SELECT doc_id, text, lang, source FROM documents
      WHERE LENGTH(text) > 0
    ),
    deduped AS (
      SELECT doc_id, text, lang, source FROM (
        SELECT doc_id, text, lang, source,
               ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                  ORDER BY doc_id) AS rn
        FROM nonempty)
      WHERE rn = 1
    ),
    toks AS (
      SELECT doc_id, lang, source, tok
      FROM (SELECT doc_id, lang, source,
                   UNNEST(string_split(LOWER(text), ' ')) AS tok
            FROM deduped)
      WHERE tok <> ''
    ),
    b AS (
      SELECT doc_id, lang, source,
             (ascii(tok) * 31 + LENGTH(tok) * 7 + ascii(right(tok, 1)))
               % {_DSIR_BUCKETS} AS bucket
      FROM toks
    ),
    stats AS (
      SELECT bucket, COUNT(*) AS cr,
             COUNT(*) FILTER (source IN ('src0', 'src1')) AS ct
      FROM b GROUP BY bucket
    ),
    wts AS (
      SELECT bucket,
             CAST(ct * {_DSIR_SCALE} // cr AS BIGINT) AS w_fp,
             SUM(ct) OVER () * {_DSIR_SCALE} // SUM(cr) OVER () AS thresh
      FROM stats
    ),
    scored AS (
      SELECT doc_id, lang,
             CAST(SUM(w_fp) AS BIGINT) AS score,
             COUNT(*) AS n_toks,
             MAX(thresh) AS thresh
      FROM b JOIN wts USING (bucket) GROUP BY doc_id, lang
    ),
    kept AS (
      SELECT doc_id, lang, n_toks FROM scored
      WHERE score // n_toks > thresh
    )
    SELECT (doc_id % 1000000007) * {_KNUTH} % {_N_SHARDS} AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens_kept,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM kept GROUP BY shard
    """,
    doc="the composed SELECTION pipeline a corpus build runs end to "
    "end, as ONE declarative plan: non-empty filter -> sha256 exact "
    "dedup (keep-lowest-doc_id) -> DSIR importance gate (weights "
    "learned on the DEDUPED corpus, so duplicate mass cannot skew "
    "the feature distribution — the order Xie et al. assume) -> "
    "deterministic hash shard assignment -> per-shard doc/token/lang "
    "accounting. Shuffle budget: dedup window (digest-keyed, "
    "uniform), bucket-stats aggregate (64 rows), per-doc score "
    "aggregate, final 8-row shard aggregate — the corpus text itself "
    "crosses the wire exactly once (the dedup shuffle); scoring "
    "re-reads the deduped scan rather than re-shuffling documents.",
)
def corpus_dsir_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nonempty = docs.where(F.length("text") > 0)
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    deduped = (
        nonempty.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    scored = dsir_doc_scores(deduped)
    kept = scored.where(F.expr("score DIV n_toks") > F.col("thresh"))
    shard = knuth_bucket(F.col("doc_id"), _N_SHARDS)
    return kept.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens_kept"),
        F.countDistinct("lang").alias("n_langs"),
    )


@register(
    "preference_pairs_quality",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             ROUND(
               0.5 * LEAST(CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 50,
                           1.0)
             + 0.5 * (CAST(LEN(list_distinct(string_split(text, ' ')))
                           AS DOUBLE)
                      / LEN(string_split(text, ' '))), 4) AS q
      FROM documents WHERE LENGTH(text) > 0
    ),
    ranked AS (
      SELECT doc_id, lang, q,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id)
               AS r_best,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q ASC, doc_id)
               AS r_worst,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM scored
    )
    SELECT b.lang, CAST(b.r_best AS BIGINT) AS pair_rank,
           b.doc_id AS chosen_doc, w.doc_id AS rejected_doc,
           b.q AS chosen_q, w.q AS rejected_q,
           b.q - w.q AS margin
    FROM ranked b JOIN ranked w
      ON b.lang = w.lang AND b.r_best = w.r_worst
    WHERE b.r_best <= b.n // 2
      AND b.q - w.q > 0.05
      AND b.doc_id <> w.doc_id
    """,
    doc="PREFERENCE-PAIR construction for DPO/RLHF-style training "
    "(pair the i-th BEST document with the i-th WORST of the same "
    "language, keep pairs with a quality margin > 0.05): the "
    "deterministic rank-pairing scheme that yields maximally-"
    "separated, non-overlapping pairs without an O(n^2) candidate "
    "join. Quality is the corpus quality score (length + lexical "
    "diversity — the pipeline_training_corpus formula), "
    "ranks tie-break on doc_id, and the margin is one subtraction of "
    "two exactly-agreed rounded doubles. Plan: one lang-hash shuffle "
    "shared by both window ranks and the self-join (co-partitioned — "
    "zero extra exchanges); i <= n/2 caps pairs at half the corpus. "
    "At 100 TB: langs are the natural partition; a skewed dominant "
    "language ranks within AQE-split partitions of one key — the "
    "global-per-lang rank is the semantics, so the scale path is the "
    "range-partitioned two-pass rank, same as the Gini note.",
)
def preference_pairs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    q = F.round(
        0.5 * F.least(n_tokens.cast("double") / 50, F.lit(1.0))
        + 0.5 * (F.size(F.array_distinct(toks)).cast("double") / n_tokens),
        4,
    )
    scored = docs.select("doc_id", "lang", q.alias("q"))
    w_best = Window.partitionBy("lang").orderBy(F.desc("q"), "doc_id")
    w_worst = Window.partitionBy("lang").orderBy(F.asc("q"), "doc_id")
    w_n = Window.partitionBy("lang")
    ranked = scored.select(
        "doc_id",
        "lang",
        "q",
        F.row_number().over(w_best).alias("r_best"),
        F.row_number().over(w_worst).alias("r_worst"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    b = ranked.alias("b")
    w = ranked.alias("w")
    return (
        b.join(
            w,
            (F.col("b.lang") == F.col("w.lang"))
            & (F.col("b.r_best") == F.col("w.r_worst")),
        )
        .where(
            (F.col("b.r_best") <= F.floor(F.col("b.n") / 2))
            & (F.col("b.q") - F.col("w.q") > 0.05)
            & (F.col("b.doc_id") != F.col("w.doc_id"))
        )
        .select(
            F.col("b.lang").alias("lang"),
            F.col("b.r_best").cast("long").alias("pair_rank"),
            F.col("b.doc_id").alias("chosen_doc"),
            F.col("w.doc_id").alias("rejected_doc"),
            F.col("b.q").alias("chosen_q"),
            F.col("w.q").alias("rejected_q"),
            (F.col("b.q") - F.col("w.q")).alias("margin"),
        )
    )


@register(
    "contrastive_negative_sample",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    anchors AS (
      SELECT doc_id, lang FROM documents WHERE doc_id < 200
    ),
    negs AS (
      SELECT a.doc_id AS anchor_id, a.lang AS anchor_lang, j.j,
             (a.doc_id * 2654435761 + (j.j + 1) * 40503) % n.n_docs
               AS raw_neg
      FROM anchors a
      CROSS JOIN n
      CROSS JOIN (SELECT unnest(range(4)) AS j) j
    ),
    fixed AS (
      SELECT anchor_id, anchor_lang, j,
             CASE WHEN raw_neg = anchor_id
                  THEN (raw_neg + 1) % (SELECT n_docs FROM n)
                  ELSE raw_neg END AS neg_id
      FROM negs
    )
    SELECT f.anchor_id, f.j, f.neg_id,
           d.lang = f.anchor_lang AS hard_negative
    FROM fixed f JOIN documents d ON d.doc_id = f.neg_id
    """,
    doc="DETERMINISTIC negative sampling for contrastive / embedding "
    "training (the data-construction step behind InfoNCE-style "
    "objectives): 4 negatives per anchor via the Knuth multiplicative "
    "hash (anchor * 2654435761 + (j+1) * 40503) mod corpus-size — "
    "pure integer arithmetic, so the sample is reproducible, "
    "order-independent, and partition-count-independent (the "
    "corpus_stratified_sample property, extended to PAIR "
    "construction). Self-collisions are repaired deterministically "
    "(+1 mod n). Negatives sharing the anchor's language are flagged "
    "hard_negative — the curriculum signal a contrastive trainer "
    "weights up. Plan: 1-row corpus-count broadcast, 4-way explode, "
    "one equi-join back to documents for the negative's metadata. "
    "At 100 TB the join shuffles on doc_id — the dimension lookup "
    "shape, salting-free because the hash spreads anchors uniformly.",
)
def contrastive_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    anchors = docs.where(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("anchor_id"), F.col("lang").alias("anchor_lang")
    )
    negs = (
        anchors.crossJoin(F.broadcast(n))
        .select(
            "anchor_id",
            "anchor_lang",
            "n_docs",
            F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"),
        )
        .withColumn(
            "raw_neg",
            (F.col("anchor_id") * 2654435761 + (F.col("j") + 1) * 40503)
            % F.col("n_docs"),
        )
        .withColumn(
            "neg_id",
            F.when(
                F.col("raw_neg") == F.col("anchor_id"),
                (F.col("raw_neg") + 1) % F.col("n_docs"),
            ).otherwise(F.col("raw_neg")),
        )
    )
    return negs.join(
        docs.select(F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang")),
        "neg_id",
    ).select(
        "anchor_id",
        "j",
        "neg_id",
        (F.col("neg_lang") == F.col("anchor_lang")).alias("hard_negative"),
    )


@register(
    "sample_weighted_aes",
    oracle="""
    WITH keyed AS (
      SELECT o_orderpriority, o_orderkey,
             LN((CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                      1, 12)) AS BIGINT) + 1)
                / 281474976710656.0) / o_totalprice AS aes_key
      FROM orders
      WHERE o_totalprice > 0
    ),
    ranked AS (
      SELECT o_orderpriority, o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY aes_key DESC, o_orderkey) AS rk
      FROM keyed
    )
    SELECT o_orderpriority, o_orderkey, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """,
    doc="WEIGHTED sampling WITHOUT replacement, k=5 per group "
    "(Efraimidis & Spirakis 2006 'Weighted random sampling with a "
    "reservoir', the A-ES scheme): each item draws u in (0,1] and "
    "the k items with the largest u^(1/w) win — the one-pass, "
    "merge-able way to take a weight-proportional sample of a 100 TB "
    "corpus (weight = quality score, dollars, token count...). "
    "Engine-portable determinism: u = (md5_48(o_orderkey)+1)/2^48 "
    "(the registry's conv(substr(md5))==='0x'||substr cast recipe — "
    "an exact dyadic rational, identical doubles both engines), and "
    "the rank key is the MONOTONE transform ln(u)/w of u^(1/w) "
    "(strictly increasing in u for w>0, so the top-k set is "
    "identical while replacing the cross-engine-risky pow() with "
    "the already-probed ln + one division). Ties are impossible "
    "short of a 48-bit md5 collision inside one group, and "
    "o_orderkey breaks even those. The rank key stays internal "
    "(irrational — emitting it would need a rounding policy); the "
    "output is the exact (group, item, rank) selection. Plan: one "
    "per-group window over md5-keyed rows; at 100 TB the window is "
    "replaced by the same expression under a groupBy-top-k "
    "(TakeOrderedAndProject per group) — the selection function is "
    "associative and merge-able per the paper, which is the point "
    "of A-ES over rejection sampling.",
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    u48 = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12), 16, 10
    ).cast("long")
    aes_key = F.log((u48 + 1) / F.lit(281474976710656.0)) / F.col(
        "o_totalprice"
    )
    keyed = orders.where(F.col("o_totalprice") > 0).select(
        "o_orderpriority", "o_orderkey", aes_key.alias("aes_key")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("aes_key").desc(), "o_orderkey"
    )
    return (
        keyed.select(
            "o_orderpriority",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 5)
    )


@register(
    "sample_quota_apportion",
    oracle="""
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT event_type, c,
             CAST(SUM(c) OVER () AS BIGINT) AS n
      FROM counts
    ),
    base AS (
      SELECT event_type, c, n,
             (1000 * c) // n AS base_quota,
             (1000 * c) % n AS rem
      FROM tot
    ),
    ranked AS (
      SELECT event_type, c, base_quota, rem,
             CAST(1000 - SUM(base_quota) OVER () AS BIGINT) AS leftover,
             ROW_NUMBER() OVER (ORDER BY rem DESC, event_type)
               AS rem_rank
      FROM base
    )
    SELECT event_type, c AS n_events, base_quota, rem,
           CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS got_extra,
           base_quota
             + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS quota
    FROM ranked
    """,
    doc="LARGEST-REMAINDER (Hamilton) APPORTIONMENT of a fixed sample "
    "budget: distribute exactly 1000 sample slots across event_types "
    "proportional to their counts — base quota floor(K*c/n) by pure "
    "INTEGER division (never a float floor: floor(double(K*c/n)) can "
    "land on the wrong side when the true quotient is near an "
    "integer), leftover slots to the largest remainders K*c mod n "
    "with a deterministic event_type tiebreak, so sum(quota) == K "
    "EXACTLY (the property float-proportional rounding violates, and "
    "the reason stratified samplers under-/over-fill their budget). "
    "Sibling: corpus_unimax_budget CAPS budgets (UniMax); this "
    "ROUNDS a proportional allocation to integers with zero slack. "
    "Everything is BIGINT end to end. Scale: one map-side-combined "
    "groupBy; both windows run over the |event_type|-row aggregate.",
)
def sample_quota_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    # bounded: windows below run over the |event_type|-row aggregate
    tot = counts.withColumn("n", F.sum("c").over(Window.partitionBy()))
    base = tot.select(
        "event_type",
        "c",
        "n",
        F.expr("(1000 * c) DIV n").alias("base_quota"),
        ((1000 * F.col("c")) % F.col("n")).alias("rem"),
    )
    # bounded: leftover/rank windows over the same tiny frame
    ranked = base.select(
        "event_type",
        "c",
        "base_quota",
        "rem",
        (1000 - F.sum("base_quota").over(Window.partitionBy())).alias(
            "leftover"
        ),
        F.row_number()
        # bounded: global rank over the |event_type|-row aggregate
        .over(Window.orderBy(F.col("rem").desc(), "event_type"))
        .alias("rem_rank"),
    )
    got = F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "event_type",
        F.col("c").alias("n_events"),
        "base_quota",
        "rem",
        got.alias("got_extra"),
        (F.col("base_quota") + got).alias("quota"),
    )
