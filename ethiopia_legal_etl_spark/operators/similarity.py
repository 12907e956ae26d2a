"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Driver mandate: brute-force cosine top-k as the correctness baseline;
LSH-bucketed and IVF-style variants as the scale path.

Scale notes:
- Brute force is queries × corpus. It is the right plan when |queries|
  is small: broadcast the queries, stream the corpus once, per-query
  top-k via window. Never collect() the corpus.
- BucketedRandomProjectionLSH / IVF cut the scanned fraction: candidates
  come from equi-joins on bucket/centroid keys. At 100 TB the corpus is
  bucketed+partitioned by those keys on write, so a query touches only
  its buckets (partition pruning does the rest).
- All dot/norm math is built-in array expressions (zip_with/aggregate)
  on double-cast arrays — JVM-side, no Python in the scan loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


EMB_DIM = 64
# ^ the embeddings table's encoder contract (driver-generated data:
# array<float>, 64-dim — the dim a deployment pins from its encoder
# config). A row with a DIFFERENT length is failed/partial encoder
# output — as routine at corpus scale as a failed fetch — and the
# engines genuinely diverge on it (nulls-mirror corruption axis 6 in
# tools/mirrors.py truncates ~10% of rows to 32 dims): Spark
# zip_with silently NULL-pads the shorter array (NULL products -> NULL
# sums), element_at(i>len) RAISES, DuckDB LIST_COSINE_SIMILARITY raises
# "list dimensions must be equal", and pyspark.ml vectors must be fixed
# size. A NON-FINITE coordinate (fp16 overflow -> Inf, 0/0 -> NaN —
# axis 7 of the nulls mirror plants one per corrupted row) is just as
# divergent: Spark's cosine fold yields NaN (which sorts GREATEST in a
# DESC rank) where DuckDB LIST_COSINE_SIMILARITY returns -1.0 (sorts
# last), and the silhouette lattice floor(NaN*1e6)::BIGINT is silently
# 0 in Spark but RAISES a ConversionException in DuckDB. Policy: every
# entry whose math needs healthy vectors excludes NULL / wrong-dim /
# non-finite rows EXPLICITLY, on both engines, exactly like NULLs.
# Per-vector plumbing entries (embedding_norms) keep wrong-dim rows
# and report the observed dim instead.


def emb_ok(col: str = "embedding") -> Column:
    """Failed-encoder guard: NULL, wrong-dimension, or non-finite
    (NaN/Inf or NULL coordinate) embeddings out.

    Element-level NULLs count as corrupt: the lambda
    tests `x IS NULL` FIRST, so `exists` always returns a definite
    boolean (TRUE OR NULL = TRUE) — no engine divergence between
    Spark's NULL-propagating `exists` and DuckDB's `list_filter`
    (which silently drops NULL lambda results).

    COST: the per-element scan is a higher-order-function conjunct.
    When the guard is applied to a DataFrame that feeds BOTH sides of
    a join, the HOF is duplicated into both subplans and measurably
    slows small scans (1.6x on similarity_cosine_topk).
    Entries whose only use of finiteness is a downstream cosine fold
    should use emb_ok_basic() + a post-score `~isnan(cos)` filter
    instead; keep THIS guard where clean rows are load-bearing before
    any fold exists: pyspark.ml inputs (NPE/fit crashes), per-dim
    aggregate means (centroids, silhouette), cell-count accounting
    (dedup_semantic_keep's n_vecs), and hash/bucket derivations."""
    c = F.col(col)
    finite = ~F.exists(
        c, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))
    )
    return c.isNotNull() & (F.size(c) == EMB_DIM) & finite


def emb_ok_basic(col: str = "embedding") -> Column:
    """Cheap encoder guard: NULL / wrong-dim embeddings out — no
    per-element finiteness scan. Callers MUST derive finiteness from
    the cosine fold they already compute: any NaN/Inf/NULL coordinate
    on either side makes the IEEE dot/norm fold — and hence the
    cosine — NaN (Inf/Inf, NaN/x, x+NaN are all NaN), so filtering
    `~isnan(cos)` BEFORE any rank/threshold step excludes exactly the
    pairs a full pre-filter would never have formed. Equivalent output
    to emb_ok() for pure pair-scoring entries (a row the full guard
    drops has a NULL or non-finite norm, so its cosine is NULL or NaN
    and the post-score filter drops it), at ~zero plan cost."""
    c = F.col(col)
    return c.isNotNull() & (F.size(c) == EMB_DIM)


def norm_finite(col: str = "nrm") -> Column:
    """Row-level twin of emb_ok's finiteness conjunct, evaluated on a
    PRECOMPUTED L2-norm column instead of a per-element exists() scan:
    a NaN coordinate makes the norm fold NaN, an Inf coordinate makes
    it +Inf (squares sum to +Inf), and an element-NULL coordinate
    makes it NULL — so `nrm IS NOT NULL AND nrm < Inf` (NaN sorts
    GREATEST in Spark, so NaN < Inf is false) excludes exactly the
    rows emb_ok() would — PRECONDITION: float32-sourced coordinates
    (|x| ≤ ~3.4e38, so the square-sum ≤ ~7e78 stays finite). For a
    future double-typed embeddings column the
    equivalence breaks at |x| > ~1.3e154, where a FINITE coordinate
    squares to +Inf and with_norm drops a row emb_ok() would keep.
    The norm column is then REUSED as the cosine
    denominator, so pair scoring is one dot fold instead of three
    (dot + both norms) — the guard costs less than zero (measured
    1.37x faster than the earlier exists-guard code in an
    interleaved same-process A/B at sf0.1, identical output)."""
    c = F.col(col)
    return c.isNotNull() & (c < F.lit(float("inf")))


def with_norm(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Project (all columns of df) + `e` (double-cast embedding) + a
    finite `nrm` L2-norm column, dropping rows emb_ok() would drop.
    Callers MUST have applied emb_ok_basic() (NULL / wrong-dim) first
    and score pairs as dot(a.e, b.e) / (a.nrm * b.nrm) — bit-identical
    to cosine(a.e, b.e), since nrm = sqrt(dot(e, e)) is the same IEEE
    op tree cosine() folds inline. Same float32-range precondition as
    norm_finite() (see its docstring)."""
    e = as_double(F.col(emb_col))
    return (
        df.withColumn("e", e)
        .withColumn("nrm", l2norm(F.col("e")))
        .where(norm_finite("nrm"))
        .drop(emb_col)
    )


# the oracle-side twin of emb_ok (DuckDB), interpolated into oracle
# SQL strings (interpolate, don't hand-inline, so an
# EMB_DIM change cannot desync the engines). `x IS NULL` first so
# DuckDB's NULL-dropping list_filter keeps the element (TRUE), mirroring
# Spark's definite-boolean exists.
EMB_OK_SQL = (
    f"(embedding IS NOT NULL AND LEN(embedding) = {EMB_DIM} "
    "AND LEN(list_filter(embedding, "
    "x -> x IS NULL OR isnan(x) OR isinf(x))) = 0)"
)


# session conf that upgrades the ml reorder barriers from
# localCheckpoint (executor-local blocks, lineage-free — lost with the
# executor) to RELIABLE checkpoint() into the context's checkpoint dir
# (HDFS/object store at cluster scale). Default off: at test scale
# localCheckpoint is strictly faster and executor loss is not a threat.
RELIABLE_BARRIERS_CONF = "spark.ethiopia_legal_etl.reliableBarriers"


def reorder_barrier(df: DataFrame) -> DataFrame:
    """Materialization barrier for the pyspark.ml approx-join NPE (see
    callers): the join appends size(UDF)>0 / isnotnull(UDF) conjuncts
    whose common-subexpression codegen evaluates EAGERLY, so corrupt
    rows must be physically gone before the UDF can ever see them —
    only a lineage break guarantees that ordering.

    Cluster posture (SCALING.md): with
    `spark.ethiopia_legal_etl.reliableBarriers=true` AND a checkpoint
    dir configured (`sc.setCheckpointDir`), the barrier writes a
    RELIABLE checkpoint — fault-tolerant storage, survives executor
    loss — instead of executor-local blocks. Results are identical
    (asserted in tests/test_dedup_similarity.py)."""
    spark = df.sparkSession
    if (
        spark.conf.get(RELIABLE_BARRIERS_CONF, "false").lower() == "true"
        and spark.sparkContext.getCheckpointDir() is not None
    ):
        return df.checkpoint()
    return df.localCheckpoint()


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           LEN(embedding) AS dim,
           CASE WHEN LEN(list_filter(embedding,
                         x -> isnan(x) OR isinf(x))) = 0
                THEN ROUND(SQRT(LIST_AGGREGATE(LIST_TRANSFORM(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4)
           END AS l2,
           label
    FROM embeddings
    """,
    doc="vector plumbing: dimension + L2 norm per embedding. This is "
    "the one entry that KEEPS failed-encoder rows (it's the view you "
    "audit them with): wrong-dim rows report their observed dim; a "
    "vector with a NaN/Inf coordinate reports l2 = NULL on both "
    "engines — a non-finite l2 must never cross the driver "
    "canonicalizer (Spark NaN vs DuckDB -1.0 cosine is the axis-7 "
    "divergence; int(Inf) overflows the hash normalizer).",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double(F.col("embedding"))
    finite = ~F.exists(
        "embedding", lambda x: F.isnan(x) | (F.abs(x) == float("inf"))
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.when(finite, F.round(l2norm(e), 4)).alias("l2"),
        "label",
    )


@register(
    "similarity_cosine_topk",
    oracle=f"""
    WITH ok AS (SELECT * FROM embeddings WHERE {EMB_OK_SQL}),
         q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM ok WHERE vec_id < 5),
         scored AS (
           SELECT q.q_id, e.vec_id,
                  LIST_COSINE_SIMILARITY(
                    LIST_TRANSFORM(q.q_emb, x -> CAST(x AS DOUBLE)),
                    LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE))) AS cos_raw
           FROM q CROSS JOIN ok e
           WHERE e.vec_id <> q.q_id
         ),
         ranked AS (
           SELECT q_id, vec_id, cos_raw,
                  ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cos_raw DESC, vec_id) AS rn
           FROM scored
         )
    SELECT q_id, vec_id, ROUND(cos_raw, 4) AS cos_sim, rn
    FROM ranked WHERE rn <= 10
    """,
    doc="brute-force cosine top-10 per query vector (queries broadcast, "
    "corpus streamed once, per-query heap via window). The encoder "
    "guard's finiteness conjunct lives on a precomputed L2-norm "
    "column (norm_finite) that doubles as the cosine denominator, so "
    "pair scoring is ONE dot fold instead of three and the corpus "
    "scan carries no per-element exists() conjunct — "
    "this is 1.37x FASTER than the earlier exists-guard code (interleaved "
    "same-process A/B at sf0.1, bit-identical output).",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL / wrong-dim out pre-join (cheap); NaN/Inf/element-NULL
    # coordinates fall out at the norm filter inside with_norm — the
    # same row set emb_ok() keeps (EMB_DIM policy).
    d = with_norm(
        load_table(spark, sf_dir, "embeddings").where(emb_ok_basic())
    ).select("vec_id", "e", "nrm")
    q = d.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(d)
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))).alias(
                "cos_raw"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where("rn <= 10")
        .select("q_id", "vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rn")
    )


def resplit_oversized_cells(
    d: DataFrame, cell_col: str, id_col: str, max_cell_size: int,
    *, strict: bool = False,
) -> DataFrame:
    """Bound the within-cell self-join cost: cells larger than
    `max_cell_size` are re-split by a secondary hash of the id into
    ceil(|cell| / max_cell_size) sub-cells. Returns `d` plus a `sub`
    column; downstream pair generation must join on (cell, sub).

    Scale contract: per-cell verify work drops from |cell|^2 to
    ~|cell| * max_cell_size (each sub-cell ≤ ~max_cell_size on
    average, uniform hash). The trade, documented and deliberate, is
    recall WITHIN oversized cells only: pairs landing in different
    sub-cells of the same fat cell are not compared (cells at or
    under the bound are untouched — exact semantics preserved).
    The cell-size table joins on the cell key — the same key the
    pair join shuffles on — so no broadcast assumption; AQE
    broadcasts it when small.

    strict=True is ORACLE-PARITY mode: instead of silently splitting
    (which narrows the pair set vs a whole-cell SQL oracle, as on
    dedup_semantic_keep), any cell over the bound fails the job
    loudly at runtime. Callers whose registered SQL oracle spans whole
    cells use strict=True so implementation and oracle provably
    coincide; scale callers without an exact-oracle contract keep the
    default split behavior.
    """
    sizes = d.groupBy(cell_col).agg(F.count(F.lit(1)).alias("cell_n"))
    n_sub = F.greatest(
        F.lit(1), F.ceil(F.col("cell_n") / F.lit(max_cell_size))
    ).cast("int")
    joined = d.join(sizes.select(cell_col, n_sub.alias("n_sub")), cell_col)
    if strict:
        sub = F.when(
            F.col("n_sub") > 1,
            F.raise_error(
                F.concat(
                    F.lit(f"cell over max_cell_size={max_cell_size} in "
                          "strict (oracle-parity) mode: "),
                    F.col(cell_col).cast("string"),
                )
            ).cast("int"),
        ).otherwise(F.lit(0))
    else:
        sub = F.pmod(F.xxhash64(id_col), F.col("n_sub")).cast("int")
    return joined.withColumn("sub", sub).drop("n_sub")


@register(
    "embedding_near_dup_cosine",
    oracle=f"""
    WITH d AS (SELECT vec_id, label,
                      LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings WHERE vec_id < 300 AND {EMB_OK_SQL})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           ROUND(LIST_COSINE_SIMILARITY(a.e, b.e), 4) AS cos_sim
    FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE LIST_COSINE_SIMILARITY(a.e, b.e) > 0.9
    """,
    doc="embedding-cosine near-dup VERIFY stage on candidate pairs, "
    "blocked by cluster label (the IVF-style blocking key). Scale "
    "bound ENFORCED in code: cells larger than max_cell_size are "
    "re-split by a secondary hash (resplit_oversized_cells), so "
    "per-cell cost is ~|cell| * max_cell_size, never |cell|^2. At "
    "the test SFs every label cell is far below the 10k default so "
    "the re-split is the identity (n_sub=1) and the oracle match is "
    "exact; the fat-cell path is exercised by "
    "tests/test_dedup_similarity.py with a small bound.",
)
def embedding_near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL / wrong-dim out via emb_ok_basic, NaN/Inf/element-NULL via
    # the norm filter inside with_norm — same rows as emb_ok(), with
    # the norm reused as the cosine denominator.
    d = with_norm(
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 300)
        .where(emb_ok_basic())
    ).select("vec_id", "label", "e", "nrm")
    return near_dup_cosine_pairs(d, threshold=0.9)


def near_dup_cosine_pairs(
    d: DataFrame, threshold: float, max_cell_size: int = 10_000
) -> DataFrame:
    """Within-cell cosine verify with the bounded-cell guard; `d` =
    (vec_id, label, e: array<double>[, nrm: double]) — nrm as produced
    by with_norm, derived here (with the norm_finite guard) when the
    caller passes raw vectors. Pair score = dot / (a.nrm * b.nrm) —
    bit-identical to cosine(a.e, b.e) at a third of the fold work."""
    if "nrm" not in d.columns:
        d = d.withColumn("nrm", l2norm(F.col("e"))).where(norm_finite("nrm"))
    cells = resplit_oversized_cells(d, "label", "vec_id", max_cell_size)
    a = cells.alias("a")
    b = cells.alias("b")
    cos = dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos > threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(cos, 4).alias("cos_sim"),
        )
    )


@register(
    "similarity_lsh_buckets",
    oracle=None,  # LSH buckets are engine-specific -> rows-only
    doc="BucketedRandomProjectionLSH ANN: bucketed candidates then exact "
    "cosine re-rank — the scale path (equi-join on bucket keys only). "
    "Recall vs brute force asserted in property tests."
    " Rows-only verdict: NOT convertible — hyperplane draws come "
    "from Spark ML's seeded RNG (engine-specific bucket ids). Ground "
    "truth: recall-vs-brute-force property gates.",
)
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # NULL embeddings crash array_to_vector (JVM NPE); wrong-dim ones
    # crash the LSH fit ("Dimensions mismatch when adding new sample")
    # — both are failed-encoder rows, excluded (EMB_DIM policy)
    emb = load_table(spark, sf_dir, "embeddings").where(emb_ok())
    # localCheckpoint is a REORDER BARRIER, not an optimization: the
    # approx join appends size(UDF)>0 / isnotnull(UDF) conjuncts whose
    # common subexpression codegen evaluates EAGERLY, so a NULL array
    # NPEs the ScalaUDF even behind the isnotnull filter above.
    # Materializing the filtered projection keeps every later UDF
    # evaluation on null-free rows. (In the materialization job itself
    # the UDF appears once — no hoisted duplicate — so the scan filter
    # protects it.)
    # Cluster posture (SCALING.md): localCheckpoint blocks are
    # executor-local and lineage-free — at 1000 executors set
    # spark.ethiopia_legal_etl.reliableBarriers=true + a checkpoint dir
    # (reorder_barrier upgrades to reliable checkpoint()), or use the
    # pure-SQL LSH/IVF twins (the declared 100-TB path, no UDF to
    # reorder).
    feats = reorder_barrier(
        emb.select(
            "vec_id",
            array_to_vector(as_double(F.col("embedding"))).alias("features"),
        )
    )
    if feats.isEmpty():  # .fit requires rows; empty scan -> empty result
        return spark.createDataFrame(
            [], "q_id bigint, vec_id bigint, l2_dist double"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0,
        numHashTables=4, seed=42,
    )
    model = lsh.fit(feats)
    q = feats.where(F.col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    pairs = model.approxSimilarityJoin(q, feats, 3.0, distCol="l2_dist")
    return (
        pairs.where(F.col("datasetA.q_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.q_id").alias("q_id"),
            F.col("datasetB.vec_id").alias("vec_id"),
            F.round(F.col("l2_dist"), 4).alias("l2_dist"),
        )
    )


@register(
    "similarity_ivf_kmeans",
    oracle=None,  # learned quantizer drives the candidate set -> rows-only
    doc="IVF with a LEARNED coarse quantizer: pyspark.ml KMeans "
    "(seeded, k=8) clusters the corpus; queries probe their nprobe=2 "
    "nearest centroids; exact cosine re-rank within probed cells. "
    "At 100 TB: centroids train on a sample, the corpus is written "
    "partitioned by cell id, probing prunes partitions at the scan."
    " Rows-only verdict: NOT convertible — learned centroids "
    "depend on pyspark.ml KMeans init/iteration internals; the label- "
    "partitioned twin similarity_ivf_by_label IS oracle-checked "
    "(driver-green). Ground truth: recall property gates.",
)
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # NULL embeddings crash array_to_vector (JVM NPE); wrong-dim ones
    # crash the KMeans fit ("Dimensions mismatch when adding new
    # sample") — both are failed-encoder rows, excluded (EMB_DIM policy)
    emb = load_table(spark, sf_dir, "embeddings").where(emb_ok())
    feats = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    ).withColumn("features", array_to_vector(F.col("e")))
    if feats.isEmpty():  # .fit requires rows; empty scan -> empty result
        return spark.createDataFrame(
            [], "q_id bigint, vec_id bigint, cos_sim double, rn int"
        )
    km = KMeans(k=8, seed=42, featuresCol="features", predictionCol="cell")
    model = km.fit(feats)
    assigned = model.transform(feats).select("vec_id", "e", "cell")
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "c_cell int, centroid array<double>",
    )
    q = assigned.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("q_emb")
    )
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select(
            "q_id", "q_emb", "c_cell",
            cosine(F.col("q_emb"), F.col("centroid")).alias("c_cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("c_cos"), "c_cell")
    probed = qc.withColumn("rn", F.row_number().over(w)).where("rn <= 2").select(
        "q_id", "q_emb", "c_cell"
    )
    cand = probed.join(
        assigned.select("vec_id", F.col("e").alias("c_emb"), "cell"),
        probed.c_cell == F.col("cell"),
    ).where(F.col("vec_id") != F.col("q_id"))
    scored = cand.select(
        "q_id", "vec_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_raw")
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .where("rn <= 10")
        .select("q_id", "vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rn")
    )


@register(
    "similarity_ivf_by_label",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      WHERE {EMB_OK_SQL}
    ),
    dims AS (
      SELECT label, dim, ROUND(AVG(val), 6) AS m
      FROM (SELECT label,
                   unnest(range(1, LEN(emb) + 1)) AS dim,
                   unnest(emb) AS val
            FROM e)
      GROUP BY label, dim
    ),
    cent AS (
      SELECT label AS c_label, list(m ORDER BY dim) AS centroid
      FROM dims GROUP BY label
    ),
    q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5),
    qc AS (
      SELECT q_id, q_emb, c_label,
             LIST_COSINE_SIMILARITY(q_emb, centroid) AS c_cos
      FROM q CROSS JOIN cent
    ),
    probed AS (
      SELECT q_id, q_emb, c_label
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY ROUND(c_cos, 6) DESC, c_label) AS prn
            FROM qc)
      WHERE prn <= 2
    ),
    cand AS (
      SELECT p.q_id, e.vec_id,
             LIST_COSINE_SIMILARITY(p.q_emb, e.emb) AS cos_raw
      FROM probed p JOIN e ON e.label = p.c_label
      WHERE e.vec_id <> p.q_id
    )
    SELECT q_id, vec_id, ROUND(cos_raw, 4) AS cos_sim, rn
    FROM (SELECT q_id, vec_id, cos_raw,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY ROUND(cos_raw, 6) DESC, vec_id) AS rn
          FROM cand)
    WHERE rn <= 10
    """,
    doc="IVF-style ANN: per-label centroids (one agg), probe the nearest "
    "nprobe=2 centroids per query, exact cosine within probed cells. "
    "At 100 TB the corpus is written partitioned by label so probing "
    "prunes partitions at the scan. "
    "ORACLE-CHECKED — the pipeline was deterministic all along (no "
    "RNG, no learned model: mean centroids, cosine probe, exact "
    "verify, deterministic tie-breaks); the one cross-engine float "
    "hazard was the centroid MEAN's summation order, so centroids are "
    "canonicalized at 6dp (round-tie probability ~1e-10/coordinate, "
    "the similarity_cosine_topk policy) and every downstream cosine "
    "is an order-fixed array fold, bit-identical cross-engine.",
)
def similarity_ivf_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # failed-encoder rows (NULL / wrong-dim / non-finite) out — same
    # set as emb_ok(), via the basic guard + reusable norm column
    # (EMB_DIM policy). Pre-join filtering is
    # load-bearing: the centroid MEANS must see only healthy rows.
    emb = with_norm(
        load_table(spark, sf_dir, "embeddings").where(emb_ok_basic())
    ).select("vec_id", "label", "e", "nrm")
    # centroids: elementwise mean per label via posexplode + re-assemble;
    # ROUND(.,6) canonicalizes the partial-agg summation order so the
    # probe step sees the same centroid in every engine/run
    cent = (
        emb.select("label", F.posexplode("e").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pm", lambda s: s.getField("m")).alias("centroid"),
        )
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    # probe: nprobe=2 nearest centroids per query. The centroid has no
    # precomputed norm (it is derived, bounded rows) — cosine() folds
    # its norm inline; the query side reuses q_nrm. sqrt(dot(q,q)) *
    # sqrt(dot(c,c)) is the same IEEE op tree either way.
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .select(
            "q_id",
            "q_emb",
            "q_nrm",
            "c_label",
            (
                dot(F.col("q_emb"), F.col("centroid"))
                / (F.col("q_nrm") * l2norm(F.col("centroid")))
            ).alias("c_cos"),
        )
    )
    # Rank on ROUND(cos, 6) on BOTH sides — Spark's
    # dot/(sqrt(na)*sqrt(nb)) vs DuckDB's LIST_COSINE_SIMILARITY can
    # differ in the last ULP, and an unrounded rank would let a
    # near-tie at the nprobe / rank-10 boundary flip between engines.
    # 6dp matches the centroid canonicalization policy above.
    w = Window.partitionBy("q_id").orderBy(F.desc(F.round("c_cos", 6)), "c_label")
    probed = qc.withColumn("rn", F.row_number().over(w)).where("rn <= 2").select(
        "q_id", "q_emb", "q_nrm", "c_label"
    )
    cand = probed.join(
        emb.select(
            "vec_id", "label", F.col("e").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        ),
        probed.c_label == F.col("label"),
    ).where(F.col("vec_id") != F.col("q_id"))
    scored = cand.select(
        "q_id",
        "vec_id",
        (
            dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm"))
        ).alias("cos_raw"),
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc(F.round("cos_raw", 6)), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .where("rn <= 10")
        .select("q_id", "vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rn")
    )


# ---------------------------------------------------------------------
# Embedding storage ops: JL random projection + int8 quantization —
# what a 100 TB vector store does before anything else (64→16 dims is
# 4× less shuffle/scan; float32→int8 is another 4×). Both are pure
# column expressions with ORDERED reductions so the float results are
# IEEE-identical across engines (left-to-right list_reduce/aggregate —
# an unordered sum would be re-association-dependent).
# ---------------------------------------------------------------------

_PROJ_K = 16  # target dimensionality


def _rademacher_sign(i, k):
    """Deterministic ±1 from an integer formula both engines share:
    +1 iff (((i*89 + k) * (k*71 + i) + i) % 127) % 2 == 0 (1-based).

    The formula must MIX i and k multiplicatively: a first attempt used
    (i*31 + k*17) % 7, but 31 ≡ 17 ≡ 3 (mod 7) collapses it to a
    function of i+k — a near-rank-deficient matrix whose distance
    preservation measured far below a true random matrix. The current
    form was selected against measured criteria: column balance ≤ 16,
    max inter-column dot 18 (random-walk scale for ±1 length-64
    columns), and pairwise-distance correlation at parity with
    freshly-sampled random sign matrices; all three are pinned in
    tests/test_dedup_similarity.py."""
    return F.when(
        (((i * 89 + k) * (k * 71 + i) + i) % 127) % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))


@register(
    "embedding_random_projection",
    oracle=f"""
    SELECT vec_id, k, CAST(FLOOR(
      list_reduce(
        list_transform(range(1, 65), i ->
          CAST(embedding[i] AS DOUBLE)
            * (CASE WHEN (((i*89 + k) * (k*71 + i) + i) % 127) % 2 = 0
                    THEN 1.0 ELSE -1.0 END)),
        (acc, x) -> acc + x
      ) / SQRT({_PROJ_K}.0) * 10000 + 0.5) AS BIGINT) AS proj_q4
    FROM embeddings, LATERAL (
      SELECT unnest(range(1, {_PROJ_K} + 1))
    ) AS g(k)
    WHERE {EMB_OK_SQL}
    """,
    doc="Johnson-Lindenstrauss random projection 64→16 with a "
    "deterministic Rademacher ±1 matrix from an integer formula (no "
    "RNG state — reproducible and partition-independent, the property "
    "a resumable 100 TB projection job needs). Exploded to "
    "(vec_id, k, value) rows so every value crosses the driver "
    "compare as a top-level cell. Shuffle-free: per-row transform + "
    "posexplode inside the scan's codegen span; the reduction is "
    "LEFT-TO-RIGHT (F.aggregate / list_reduce) so both engines sum "
    "in the same order — IEEE-identical — and the output is "
    "fixed-point 1e-4 units via floor(x*1e4 + 0.5) because engine "
    "ROUND(x, 4) implementations can differ by one ulp in the "
    "re-decimalized double (observed at sf0.1 as a raw-repr warn).",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # failed-encoder rows out (EMB_DIM policy): the fixed range(1,65)
    # index would raise INVALID_ARRAY_INDEX on a truncated array
    emb = load_table(spark, sf_dir, "embeddings").where(emb_ok())
    ks = F.sequence(F.lit(1), F.lit(_PROJ_K))

    def proj_at(k):
        prods = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.element_at("embedding", i).cast("double")
            * _rademacher_sign(i, k),
        )
        total = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        return F.floor(
            total / F.sqrt(F.lit(float(_PROJ_K))) * 10000 + 0.5
        ).cast("long")

    return emb.select(
        "vec_id", F.posexplode(F.transform(ks, lambda k: proj_at(k)))
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("k"),
        F.col("col").alias("proj_q4"),
    )


@register(
    "embedding_int8_quantize",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x)))
                  AS DOUBLE) / 127 AS scale
      FROM embeddings
      WHERE {EMB_OK_SQL}
    )
    SELECT vec_id, i AS idx,
           ROUND(scale, 6) AS scale6,
           CASE WHEN scale = 0 THEN 0
                ELSE CAST(FLOOR(CAST(embedding[i] AS DOUBLE) / scale + 0.5)
                          AS BIGINT) END AS q_val
    FROM s, LATERAL (SELECT unnest(range(1, 65))) AS g(i)
    """,
    doc="symmetric int8 quantization with a per-vector scale "
    "(max|x|/127): the 4× storage/shuffle reduction every large-scale "
    "vector store applies. Rounding is spelled floor(x/scale + 0.5) "
    "in BOTH engines — engine round() functions disagree on tie "
    "direction, the explicit form cannot. q_val ∈ [-127, 127] by "
    "construction (property-tested); zero-vectors quantize to 0 via "
    "the scale=0 guard. Shuffle-free per-row expression.",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # failed-encoder rows out (EMB_DIM policy): the fixed range(1,65)
    # index would raise INVALID_ARRAY_INDEX on a truncated array
    emb = load_table(spark, sf_dir, "embeddings").where(emb_ok())
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x))).cast(
            "double"
        )
        / 127
    )
    s = emb.select("vec_id", "embedding", scale.alias("scale"))
    q = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: F.when(F.col("scale") == 0, F.lit(0).cast("long")).otherwise(
            F.floor(
                F.element_at("embedding", i).cast("double") / F.col("scale")
                + 0.5
            ).cast("long")
        ),
    )
    return s.select(
        "vec_id", F.round("scale", 6).alias("scale6"), F.posexplode(q)
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("idx"),
        "scale6",
        F.col("col").alias("q_val"),
    )


_CAL_SAMPLE = 2000  # tuned-LSH calibration sample target (vectors);
# ~2M sample pairs max — one exact percentile job regardless of n


@register(
    "similarity_lsh_tuned",
    oracle=None,  # LSH buckets are engine-specific -> rows-only;
    # recall + candidate-fraction gates pinned in
    # tests/test_dedup_similarity.py
    doc="distribution-TUNED BucketedRandomProjectionLSH (closes the "
    "SCALING.md finding that the untuned r=3.0 join retained ~93% of "
    "all pairs on these embeddings): the join radius is calibrated to "
    "a pairwise L2-distance quantile measured on a deterministic "
    "hash-mod sample, with the target fraction adapted to k/n "
    "(clamped [1%,10%]; at corpus scale the 1% floor binds) — so the "
    "candidate set is a small all-pairs fraction BY CONSTRUCTION "
    "regardless of the embedding distribution, instead of hoping a "
    "fixed radius fits. Measured: sf0.1 fraction 0.016 recall@10 "
    "1.00; sf0.001 fraction 0.060 recall 0.96 (vs 0.93 fraction "
    "untuned). At 100 TB the sample is hash-mod bounded "
    "(~10k vectors -> ~50M sample pairs, one exact percentile), the "
    "calibration is one tiny job, and the join itself stays a "
    "bucket-key equi-join."
    " Rows-only verdict: NOT convertible — same ML-RNG bucket "
    "dependency as similarity_lsh_buckets, plus a measured-quantile "
    "radius. Ground truth: recall + candidate-fraction gates "
    "(tests/test_dedup_similarity.py).",
)
def similarity_lsh_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # NULL embeddings crash array_to_vector (JVM NPE); wrong-dim ones
    # crash the LSH fit ("Dimensions mismatch when adding new sample")
    # — both are failed-encoder rows, excluded (EMB_DIM policy)
    emb = load_table(spark, sf_dir, "embeddings").where(emb_ok())
    d = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    if d.isEmpty():
        return spark.createDataFrame(
            [], "q_id bigint, vec_id bigint, l2_dist double"
        )
    # deterministic sample, bounded IN CODE: the modulus scales with
    # the corpus so the sample stays ~`_CAL_SAMPLE` vectors no matter
    # how big n gets — a fixed modulus would make the calibration's
    # pair count grow n^2 (1M vectors at mod 13 = 77k sample vectors =
    # 3B calibration pairs, worse than the query being calibrated)
    k = 10
    n = d.count()  # one bounded job (calibration, not per-row work)
    mod = max(13, n // _CAL_SAMPLE)
    s = d.where(F.col("vec_id") % mod == 0)
    a, b = s.alias("a"), s.alias("b")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("a.e"), F.col("b.e"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        dist.alias("dist")
    )
    # target candidate fraction adapts to k/n: a top-k of a small
    # corpus is a LARGER fraction of all pairs, so the radius quantile
    # must cover it (fixed 1% would cap recall at ~n*1%/k). Clamped to
    # [1%, 10%]; at 100 TB scale n >> k and the 1% floor binds.
    target = min(0.10, max(0.01, 3.0 * k / max(n, 1)))
    row = pairs.select(
        F.expr(f"percentile(dist, {target})").alias("r")
    ).first()  # bounded: exact percentile of the sample pairs, 1 row
    radius = float(row["r"]) if row["r"] is not None else 3.0
    # Degenerate-corpus floor (constant-corpus sweep): if every
    # sampled pair is identical the calibrated radius is 0.0, which
    # BucketedRandomProjectionLSH rejects as a bucketLength. An
    # epsilon radius keeps the fit valid and still returns the
    # exact-duplicate neighbors (distance 0 <= radius); any corpus
    # with one distinct sampled pair is unaffected.
    radius = max(radius, 1e-6)
    # reorder barrier: see similarity_lsh_buckets — the approx join's
    # hoisted ScalaUDF conjuncts NPE on NULL arrays despite the
    # upstream filter. Cluster posture (SCALING.md): flip
    # reliableBarriers + checkpoint dir at 1000 executors, or take the
    # pure-SQL twins.
    feats = reorder_barrier(
        d.select("vec_id", array_to_vector("e").alias("features"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=radius,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(feats)
    q = feats.where(F.col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    out = model.approxSimilarityJoin(q, feats, radius, distCol="l2_dist")
    return (
        out.where(F.col("datasetA.q_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.q_id").alias("q_id"),
            F.col("datasetB.vec_id").alias("vec_id"),
            F.round(F.col("l2_dist"), 4).alias("l2_dist"),
        )
    )


def write_ivf_partitioned(
    spark: SparkSession, sf_dir: str, path: str, k: int = 8
) -> list[list[float]]:
    """Materialize the IVF layout the kmeans/by-label docstrings
    promise for 100 TB: the corpus written `partitionBy("cell")` so a
    query's nprobe cells become PartitionFilters at the scan — the
    other k-nprobe cells' files are never opened (proven by
    tests/test_dedup_similarity.py::test_ivf_partitioned_layout_prunes
    _at_scan). Returns the centroid list (what a query-time prober
    broadcasts). Seeded KMeans -> deterministic layout."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").where(emb_ok())
    feats = emb.select(
        "vec_id", "label", "embedding",
        array_to_vector(as_double(F.col("embedding"))).alias("features"),
    )
    km = KMeans(k=k, seed=42, featuresCol="features", predictionCol="cell")
    model = km.fit(feats)
    assigned = model.transform(feats).select(
        "vec_id", "label", "embedding", "cell"
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def read_probed_cells(
    spark: SparkSession, path: str, cells: list[int]
) -> DataFrame:
    """Scan only the probed cells of an IVF-partitioned corpus; the
    IN-predicate lands in the scan's PartitionFilters (static pruning
    — directory listing skips every other cell)."""
    return spark.read.parquet(path).where(F.col("cell").isin(cells))


@register(
    "dedup_semantic_keep",
    oracle=f"""
    WITH d AS (SELECT vec_id, label,
                      LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings
               WHERE {EMB_OK_SQL}),
    kept AS (
      SELECT a.vec_id, a.label,
             NOT EXISTS (
               SELECT 1 FROM d b
               WHERE b.label = a.label AND b.vec_id < a.vec_id
                 AND LIST_COSINE_SIMILARITY(a.e, b.e) > 0.9
             ) AS kept
      FROM d a
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dropped
    FROM kept GROUP BY label
    """,
    doc="SemDeDup-style SEMANTIC deduplication (Abbas et al., "
    "arXiv:2303.09540: cluster embeddings, drop all but one of each "
    "semantic-duplicate group within a cluster) adapted to a "
    "DISTRIBUTED-DETERMINISTIC keep rule: a vector is kept iff no "
    "LOWER-id vector in its cell has cosine > tau (0.9). The paper's "
    "sequential greedy sweep is order-dependent and unbatchable; the "
    "lowest-id rule is partition- and arrival-order-independent, so "
    "the same corpus always dedups identically on any cluster layout "
    "— the property a 100 TB rerun needs. Keeps AT LEAST the greedy "
    "sweep's coverage (every dropped vector names a kept lower-id "
    "witness... which may itself be dropped; tau-transitive chains "
    "over-drop vs greedy — the standard trade, stated honestly). "
    "Plan: cells are the IVF-style label blocks with the cell-size "
    "bound ENFORCED in strict oracle-parity mode (a cell past the "
    "bound fails loudly rather than silently narrowing the pair set "
    "vs the whole-cell NOT EXISTS oracle), candidate pairs via "
    "equi-join on (cell, sub) — never all-pairs — then LEFT ANTI "
    "join = the NOT EXISTS, then one per-label aggregation. Output "
    "is the per-label kept/dropped accounting (the dedup-rate "
    "dashboard a curation run reports).",
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # failed-encoder rows (NULL / wrong-dim / non-finite) out — same
    # set as emb_ok(), via the cheap basic guard + the reusable norm
    # column (EMB_DIM policy). Pre-join filtering is
    # load-bearing here: n_vecs counts and the strict cell-size check
    # must see only healthy rows.
    d = with_norm(
        load_table(spark, sf_dir, "embeddings").where(emb_ok_basic())
    ).select("vec_id", "label", "e", "nrm")
    cells = resplit_oversized_cells(d, "label", "vec_id", 10_000, strict=True)
    a = cells.alias("a")
    b = cells.alias("b")
    cos = dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
    dropped = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .where(cos > 0.9)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    all_flagged = (
        d.select("vec_id", "label")
        .join(dropped.withColumn("hit", F.lit(True)), "vec_id", "left")
        .select("vec_id", "label", F.col("hit").isNull().alias("kept"))
    )
    return all_flagged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dropped"),
    )


@register(
    "embedding_mutual_nn",
    oracle=f"""
    WITH d AS (SELECT vec_id, label,
                      LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings WHERE vec_id < 600 AND {EMB_OK_SQL}),
    a AS (SELECT vec_id, e FROM d WHERE label = 0),
    b AS (SELECT vec_id, e FROM d WHERE label = 1),
    pairs AS (
      SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
             LIST_COSINE_SIMILARITY(a.e, b.e) AS cos
      FROM a CROSS JOIN b
    ),
    fwd AS (
      SELECT src_id, tgt_id, cos,
             ROW_NUMBER() OVER (PARTITION BY src_id
                                ORDER BY cos DESC, tgt_id) AS rn
      FROM pairs
    ),
    bwd AS (
      SELECT src_id, tgt_id,
             ROW_NUMBER() OVER (PARTITION BY tgt_id
                                ORDER BY cos DESC, src_id) AS rn
      FROM pairs
    )
    SELECT f.src_id, f.tgt_id, ROUND(f.cos, 4) AS cos_sim
    FROM fwd f JOIN bwd w
      ON f.src_id = w.src_id AND f.tgt_id = w.tgt_id
    WHERE f.rn = 1 AND w.rn = 1
    """,
    doc="MUTUAL-NEAREST-NEIGHBOR bitext/parallel-pair mining (the "
    "Artetxe & Schwenk 2019 margin-mining family, arXiv:1811.01136; "
    "the filter behind LASER/CCMatrix parallel-corpus construction): "
    "treating label 0 as the source 'language' and label 1 as the "
    "target, emit exactly the pairs where each side is the other's "
    "top-1 cosine neighbor — the mutuality condition that removes "
    "hub/asymmetric false matches a one-directional top-1 keeps. "
    "Ranking uses the raw cosine (bit-identical cross-engine — same "
    "fold the near-dup oracle relies on) with vec_id tiebreak; only "
    "the rounded value is emitted. Plan: bounded two-cell cross "
    "product (broadcast NL join — both sides are single-label cells), "
    "two window ranks, one self-join on the rank-1 rows. 100 TB: the "
    "cross product runs per ANN bucket (IVF cell) over shortlisted "
    "candidates instead of whole languages — this entry pins the "
    "mutuality semantics on the exact form.",
)
def embedding_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NULL / wrong-dim out via emb_ok_basic, NaN/Inf/element-NULL via
    # the norm filter — same rows as emb_ok(), norm reused as the
    # cosine denominator (EMB_DIM policy).
    d = with_norm(
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 600)
        .where(emb_ok_basic())
    ).select("vec_id", "label", "e", "nrm")
    a = d.where(F.col("label") == 0).select(
        F.col("vec_id").alias("src_id"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = d.where(F.col("label") == 1).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.crossJoin(F.broadcast(b)).select(
        "src_id",
        "tgt_id",
        (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias(
            "cos"
        ),
    )
    # bounded: one single-label cell per side (~|label| rows each)
    w_fwd = Window.partitionBy("src_id").orderBy(F.desc("cos"), "tgt_id")
    w_bwd = Window.partitionBy("tgt_id").orderBy(F.desc("cos"), "src_id")
    ranked = pairs.select(
        "src_id",
        "tgt_id",
        "cos",
        F.row_number().over(w_fwd).alias("rn_f"),
        F.row_number().over(w_bwd).alias("rn_b"),
    )
    return (
        ranked.where((F.col("rn_f") == 1) & (F.col("rn_b") == 1))
        .select("src_id", "tgt_id", F.round("cos", 4).alias("cos_sim"))
    )


@register(
    "retrieval_mmr_rerank",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < 400 AND {EMB_OK_SQL}
    ),
    q AS (SELECT vec_id AS q_id, e AS qe FROM emb WHERE vec_id < 3),
    pool AS (SELECT vec_id, e FROM emb WHERE vec_id >= 3),
    rel AS (
      SELECT q.q_id, p.vec_id, p.e,
             LIST_COSINE_SIMILARITY(q.qe, p.e) AS rel,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY LIST_COSINE_SIMILARITY(q.qe, p.e) DESC, p.vec_id
             ) AS rn
      FROM q CROSS JOIN pool p
    ),
    short AS (SELECT q_id, vec_id, e, rel FROM rel WHERE rn <= 20),
    sims AS (
      SELECT a.q_id, a.vec_id AS va, b.vec_id AS vb,
             LIST_COSINE_SIMILARITY(a.e, b.e) AS sim
      FROM short a JOIN short b
        ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
    ),
    s1 AS (
      SELECT q_id, vec_id, rel AS score FROM short
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY rel DESC, vec_id) = 1
    ),
    c2 AS (
      SELECT sh.q_id, sh.vec_id,
             0.7 * sh.rel - 0.3 * MAX(s.sim) AS score
      FROM short sh
      JOIN sims s ON s.q_id = sh.q_id AND s.va = sh.vec_id
      JOIN s1 ON s1.q_id = s.q_id AND s1.vec_id = s.vb
      WHERE sh.vec_id NOT IN (SELECT vec_id FROM s1 WHERE s1.q_id = sh.q_id)
      GROUP BY sh.q_id, sh.vec_id, sh.rel
    ),
    s2 AS (
      SELECT q_id, vec_id, score FROM c2
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY score DESC, vec_id) = 1
    ),
    sel12 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
    c3 AS (
      SELECT sh.q_id, sh.vec_id,
             0.7 * sh.rel - 0.3 * MAX(s.sim) AS score
      FROM short sh
      JOIN sims s ON s.q_id = sh.q_id AND s.va = sh.vec_id
      JOIN sel12 sl ON sl.q_id = s.q_id AND sl.vec_id = s.vb
      WHERE sh.vec_id NOT IN
            (SELECT vec_id FROM sel12 WHERE sel12.q_id = sh.q_id)
      GROUP BY sh.q_id, sh.vec_id, sh.rel
    ),
    s3 AS (
      SELECT q_id, vec_id, score FROM c3
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY score DESC, vec_id) = 1
    )
    SELECT q_id, CAST(1 AS BIGINT) AS mmr_rank, vec_id,
           ROUND(score, 6) AS mmr_score FROM s1
    UNION ALL
    SELECT q_id, 2, vec_id, ROUND(score, 6) FROM s2
    UNION ALL
    SELECT q_id, 3, vec_id, ROUND(score, 6) FROM s3
    """,
    doc="MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein "
    "1998 — the diversity re-ranker RAG retrieval runs after ANN "
    "shortlisting so the k passages aren't near-copies): greedy "
    "selection over a cosine-top-20 shortlist, step score = "
    "0.7*rel - 0.3*max_sim_to_selected, three unrolled steps in BOTH "
    "engines (greedy argmax is inherently sequential; the unroll is "
    "the declarative form, like graph_kcore_hosts' peeling). All "
    "cosines are the bit-identical fold the near-dup oracle relies "
    "on, the step expression is fixed IEEE over agreed operands, and "
    "argmax tiebreaks on vec_id — so selection is deterministic and "
    "hash-exact; scores rounded 6 for display only. Plan: bounded "
    "3-query broadcast against the pool for relevance, a 20x20-per-"
    "query sim matrix, then three bounded join-aggregate-rank steps. "
    "100 TB: the shortlist comes from the ANN path (IVF/LSH entries) "
    "and MMR runs on the bounded candidates only — never the corpus.",
)
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL / wrong-dim out via emb_ok_basic, NaN/Inf/element-NULL via
    # the norm filter — same rows as emb_ok(), norm reused as the
    # denominator of BOTH cosine stages (EMB_DIM policy): rel against
    # the pool here, and the shortlist sim matrix
    # below (short carries nrm through).
    d = with_norm(
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 400)
        .where(emb_ok_basic())
    ).select("vec_id", "e", "nrm")
    q = d.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    pool = d.where(F.col("vec_id") >= 3)
    rel = (
        F.broadcast(q)
        .crossJoin(pool)
        .select(
            "q_id",
            "vec_id",
            "e",
            "nrm",
            (dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))).alias(
                "rel"
            ),
        )
    )
    w_rel = Window.partitionBy("q_id").orderBy(F.desc("rel"), "vec_id")
    short = (
        rel.withColumn("rn", F.row_number().over(w_rel))
        .where(F.col("rn") <= 20)
        .drop("rn")
        .localCheckpoint()  # bounded: 3 queries x 20 candidates
    )
    a = short.alias("a")
    b = short.alias("b")
    sims = a.join(
        b,
        (F.col("a.q_id") == F.col("b.q_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.q_id").alias("q_id"),
        F.col("a.vec_id").alias("va"),
        F.col("b.vec_id").alias("vb"),
        (
            dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
        ).alias("sim"),
    ).localCheckpoint()  # bounded: 3 x 20 x 19 rows

    w_pick = Window.partitionBy("q_id").orderBy(F.desc("score"), "vec_id")
    selected = (
        short.withColumn("score", F.col("rel"))
        .withColumn("pick", F.row_number().over(w_pick))
        .where(F.col("pick") == 1)
        .select("q_id", "vec_id", "score", F.lit(1).alias("mmr_rank"))
        .localCheckpoint()
    )
    for step in (2, 3):
        sel_keys = selected.select(
            F.col("q_id").alias("sq"), F.col("vec_id").alias("sv")
        )
        msim = (
            sims.join(
                sel_keys,
                (F.col("q_id") == F.col("sq")) & (F.col("vb") == F.col("sv")),
            )
            .groupBy("q_id", "va")
            .agg(F.max("sim").alias("msim"))
            .select("q_id", F.col("va").alias("vec_id"), "msim")
        )
        cand = (
            short.join(
                selected.select("q_id", "vec_id"),
                ["q_id", "vec_id"],
                "left_anti",
            )
            .join(msim, ["q_id", "vec_id"])
            .withColumn(
                "score", 0.7 * F.col("rel") - 0.3 * F.col("msim")
            )
        )
        pick = (
            cand.withColumn("pick", F.row_number().over(w_pick))
            .where(F.col("pick") == 1)
            .select("q_id", "vec_id", "score", F.lit(step).alias("mmr_rank"))
        )
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(
        "q_id",
        F.col("mmr_rank").cast("long").alias("mmr_rank"),
        "vec_id",
        F.round("score", 6).alias("mmr_score"),
    )


@register(
    "embedding_silhouette_labels",
    oracle=f"""
    WITH q AS (
      -- integer-lattice quantization (1e-6 grid): float->double cast
      -- is exact, one deterministic multiply+floor per coordinate;
      -- every moment downstream is an exact BIGINT
      SELECT vec_id, label,
             list_transform(embedding,
               e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000000) AS BIGINT))
               AS x,
             CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT), list_transform(embedding,
                 e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000000) AS BIGINT)
                      * CAST(FLOOR(CAST(e AS DOUBLE) * 1000000) AS BIGINT))),
               (a, b) -> a + b) AS BIGINT) AS xx
      FROM embeddings WHERE label IS NOT NULL AND {EMB_OK_SQL}
    ),
    dimsums AS (
      -- parallel unnests zip positionally in DuckDB (no WITH
      -- ORDINALITY in this build)
      SELECT label, dim, CAST(SUM(val) AS BIGINT) AS s
      FROM (
        SELECT label,
               unnest(range(1, LEN(x) + 1)) AS dim,
               unnest(x) AS val
        FROM q
      ) GROUP BY label, dim
    ),
    mom AS (
      SELECT d.label,
             list(d.s ORDER BY d.dim) AS sv,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM q WHERE q.label = d.label)
               AS n_c,
             (SELECT CAST(SUM(xx) AS BIGINT) FROM q WHERE q.label = d.label)
               AS ss_c
      FROM dimsums d GROUP BY d.label
    ),
    pt AS (
      SELECT q.vec_id, q.label AS own, m.label AS other, m.n_c,
             -- n_c*|x|^2 - 2*x.S_c + SS_c : exact BIGINT numerator of
             -- the mean squared distance to cluster m
             CAST(m.n_c * q.xx
                  - 2 * list_reduce(
                      list_prepend(CAST(0 AS BIGINT),
                        list_transform(list_zip(q.x, m.sv),
                          z -> z[1] * z[2])),
                      (a, b) -> a + b)
                  + m.ss_c AS BIGINT) AS num
      FROM q CROSS JOIN mom m
    ),
    ab AS (
      SELECT vec_id, own,
             MAX(CASE WHEN own = other AND n_c > 1
                      THEN CAST(num AS DOUBLE) / (n_c - 1) END) AS a,
             MIN(CASE WHEN own != other
                      THEN CAST(num AS DOUBLE) / n_c END) AS b
      FROM pt GROUP BY vec_id, own
    ),
    s AS (
      SELECT own AS label,
             CAST(ROUND(
               CASE WHEN a IS NULL OR b IS NULL OR GREATEST(a, b) = 0
                    THEN 0.0
                    ELSE (b - a) / GREATEST(a, b) END, 6)
               AS DECIMAL(18,6)) AS sil
      FROM ab
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(sil) AS DOUBLE) / COUNT(*) AS mean_silhouette
    FROM s GROUP BY label
    """,
    doc="EXACT SILHOUETTE SCORE per label over the embedding table "
    "(Rousseeuw 1987, squared-euclidean variant) — the clustering-"
    "quality eval next to the IVF/k-means operators: s(i) = "
    "(b-a)/max(a,b) with a = mean squared distance to own-label "
    "points, b = min over other labels of the mean squared distance. "
    "The mean-squared-distance trick makes it EXACT where pairwise "
    "float sums are accumulation-order-dependent: embeddings are "
    "quantized once to a 1e-6 integer lattice, then mean_sqdist(x,C) "
    "= (n|x|^2 - 2x.S_C + SS_C)/n needs only the per-label moment "
    "vectors S_C and scalars SS_C — integer sums, order-free, no "
    "O(n^2) pairwise pass (magnitude audit: <= 8e15 at sf0.1, within "
    "int64). a and b are single IEEE divisions of agreed BIGINTs, so "
    "b's argmin cannot flip cross-engine; per-point s rounds to "
    "DECIMAL(18,6) for an order-free exact mean (lm_stupid_backoff "
    "policy). Scale: moments are one explode+groupBy (64 x |labels| "
    "rows); the point x label-moment join broadcasts |labels| rows — "
    "silhouette at 100 TB without materializing a single pair. "
    "Singleton clusters emit s = 0 (the standard convention).",
)
def embedding_silhouette_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EMB_DIM guard matters here even though mixed dims DON'T crash:
    # a truncated vector would add its 32-dim moments to S_C/SS_C
    # (biasing a and b for every other point) while its own num goes
    # NULL -> s=0 — consistent cross-engine but silently wrong as a
    # statistic. Failed-encoder rows are excluded like NULLs.
    emb = load_table(spark, sf_dir, "embeddings").where(
        emb_ok() & F.col("label").isNotNull()
    )
    qx = F.transform(
        "embedding",
        lambda e: F.floor(e.cast("double") * 1000000).cast("long"),
    )
    q = emb.select(
        "vec_id",
        "label",
        qx.alias("x"),
        F.aggregate(
            F.transform(
                "embedding",
                lambda e: F.floor(e.cast("double") * 1000000).cast("long")
                * F.floor(e.cast("double") * 1000000).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("xx"),
    )
    dimsums = (
        q.select("label", F.posexplode("x").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.sum("val").alias("s"))
    )
    sv = F.transform(
        F.sort_array(F.collect_list(F.struct("dim", "s"))), lambda z: z["s"]
    )
    per_label = q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_c"), F.sum("xx").alias("ss_c")
    )
    mom = (
        dimsums.groupBy("label")
        .agg(sv.alias("sv"))
        .join(per_label, "label")
        .select(
            F.col("label").alias("other"), "sv", "n_c", "ss_c"
        )
    )
    dot = F.aggregate(
        F.zip_with("x", "sv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    pt = q.crossJoin(F.broadcast(mom)).select(
        "vec_id",
        F.col("label").alias("own"),
        "other",
        "n_c",
        (F.col("n_c") * F.col("xx") - 2 * dot + F.col("ss_c")).alias("num"),
    )
    ab = pt.groupBy("vec_id", "own").agg(
        F.max(
            F.when(
                (F.col("own") == F.col("other")) & (F.col("n_c") > 1),
                F.col("num").cast("double") / (F.col("n_c") - 1),
            )
        ).alias("a"),
        F.min(
            F.when(
                F.col("own") != F.col("other"),
                F.col("num").cast("double") / F.col("n_c"),
            )
        ).alias("b"),
    )
    sil = F.round(
        F.when(
            F.col("a").isNull()
            | F.col("b").isNull()
            | (F.greatest("a", "b") == 0),
            F.lit(0.0),
        ).otherwise(
            (F.col("b") - F.col("a")) / F.greatest("a", "b")
        ),
        6,
    ).cast("decimal(18,6)")
    s = ab.select(F.col("own").alias("label"), sil.alias("sil"))
    return s.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_points"),
        (F.sum("sil").cast("double") / F.count(F.lit(1))).alias(
            "mean_silhouette"
        ),
    )
