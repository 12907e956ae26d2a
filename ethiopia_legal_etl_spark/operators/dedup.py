"""Deduplication operators over `documents` (driver mandate: exact,
MinHash+LSH, SimHash, n-gram Jaccard; embedding near-dup lives in
similarity.py).

Scale notes (the 100 TB story):
- exact dedup: hash-groupBy on sha2(text) — one shuffle keyed by a
  uniformly distributed 256-bit digest; zero skew by construction.
  Never dropDuplicates on the raw text column at scale (wide shuffle
  rows); shuffle the 32-byte digest, keep doc_id, re-join if the
  payload is needed.
- MinHash LSH: shingle → sparse vector → banded min-hash; candidate
  pairs come from equi-joins on band buckets (pyspark.ml's
  approxSimilarityJoin), so cost is ~|bucket collisions|, not n².
- SimHash: vectorized pandas UDF producing a 64-bit signature; near-
  dup = signatures within small Hamming distance, found by banding
  the 64 bits into 4×16-bit equi-join keys (exactly how one survives
  100 TB: only equi-join shuffles, no pairwise scan).
- n-gram Jaccard: exact verification metric, run on candidate pairs
  (here: bounded id window) — never as a full cross join.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


@register(
    "dedup_exact_text",
    oracle="""
    SELECT MIN(doc_id) AS keeper_doc_id, COUNT(*) AS dup_cnt
    FROM documents
    GROUP BY text
    """,
    doc="exact dedup by full text: keep lowest doc_id per group",
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("dup_cnt"),
    ).select("keeper_doc_id", "dup_cnt")


@register(
    "dedup_exact_hash",
    oracle="""
    SELECT SHA256(text)  AS text_sha,
           MIN(doc_id)   AS keeper_doc_id,
           COUNT(*)      AS dup_cnt
    FROM documents
    GROUP BY SHA256(text)
    """,
    doc="exact dedup by content digest — the 100 TB variant (shuffle "
    "32-byte digests, not documents)",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2(F.col("text").cast("binary"), 256).alias("text_sha"), "doc_id")
        .groupBy("text_sha")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


@register(
    "dedup_distinct_pairs",
    oracle="SELECT DISTINCT lang, source FROM documents",
    doc="dropDuplicates on a column subset",
)
def dedup_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select("lang", "source").distinct()


# Deterministic MinHash banding, expressible identically in Spark and
# DuckDB. Each token is md5-hashed ONCE; seed-hash i is the hex string
# rotated left by 4*i characters (the leading 16 bits of rotation i are
# independent bits of the digest, so the 8 per-seed minima behave like
# independent hash functions at ~1/8 the hashing cost of hashing per
# seed). Signature i = MIN over distinct tokens of rotate_i(md5(tok)),
# banded r=2 rows x b=4 bands. Candidates come from an equi-join on
# (band, band_sig) — never an all-pairs block — then exact token-set
# Jaccard verifies each candidate (so precision is exact by
# construction; banding only affects recall). Both engines run the SAME
# generator, so the oracle match is exact (recall at s=0.5 is
# 1-(1-s^2)^4 ~ 0.68 by construction — the banding trade-off,
# identically applied; an independent precision/recall gate vs exact
# all-pairs lives in tests/test_dedup_similarity.py).
_MINHASH_BANDS = 4  # r = 2 signatures per band


def banded_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, materialize: bool = False
) -> DataFrame:
    """The reusable pipeline behind dedup_ngram_jaccard: deterministic
    md5-MinHash banding over (doc_id, text) -> equi-join candidates ->
    exact-Jaccard verify.

    materialize=True localCheckpoints the token table and the band
    table so each is computed ONCE: the band
    self-join otherwise evaluates the md5+minhash signature pass once
    PER SIDE (broadcast build sides get no ReusedExchange), and the
    verify stage re-tokenizes the corpus twice more — 4 corpus passes
    where 1 suffices. Only callers that TIME the builder may pass True
    (dedup_cluster_jaccard's secondary-bench methodology is
    build+write): for write-only-timed entries (dedup_ngram_jaccard)
    a builder-side materialization would move compute out of the timed
    region, which is measurement gaming, not optimization."""
    d = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    if materialize:
        d = d.localCheckpoint()
    # single hashing pass: one md5 per distinct token
    hashed = d.withColumn("hs", F.transform("toks", lambda t: F.md5(t)))

    def min_hash(seed: int):
        # seed-hash = md5 hex rotated left by 4*seed chars; seed 0 is
        # the digest itself. substring len 32 clips at end-of-string in
        # both engines, so concat(substr(h, 4s+1, 32), substr(h, 1, 4s))
        # is the exact rotation.
        if seed == 0:
            return F.array_min("hs")
        return F.array_min(
            F.transform(
                "hs",
                lambda h: F.concat(
                    F.substring(h, 4 * seed + 1, 32), F.substring(h, 1, 4 * seed)
                ),
            )
        )

    bands = hashed.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.array(min_hash(i), min_hash(i + 4)).alias("band_sig"),
                    )
                    for i in range(_MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_sig").alias("band_sig"))
    if materialize:
        bands = bands.localCheckpoint()

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return jaccard_verify(cand, d, threshold)


def jaccard_verify(
    cand: DataFrame, d: DataFrame, threshold: float
) -> DataFrame:
    """Exact token-set Jaccard on candidate pairs; `d` = (doc_id, toks).

    |A∪B| is derived as |A|+|B|−|A∩B| (exact for the distinct-token
    sets `d` carries) so the hot per-pair path builds ONE intersection
    array instead of an intersection plus a union — the verify stage's
    cost is candidate-volume-proportional, so halving per-pair array
    construction is the lever that matters at 100 TB."""
    da = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.size("toks").alias("n_a"),
    )
    db = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.size("toks").alias("n_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.col("n_a") + F.col("n_b") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def allpairs_jaccard_blocked(
    docs: DataFrame, block_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard over all pairs within a block (n²/|blocks|
    candidates — the cost banding exists to avoid): the exact truth
    that the banded and MinHash-LSH recall tests in
    tests/test_dedup_similarity.py measure against."""
    d = docs.select(
        "doc_id", block_col, F.array_distinct(F.split("text", " ")).alias("toks")
    )
    a, b = d.alias("a"), d.alias("b")
    cand = a.join(
        b,
        (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )
    return jaccard_verify(cand, d.select("doc_id", "toks"), threshold)


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents WHERE doc_id < 300
    ),
    h AS (
      SELECT doc_id, toks, list_transform(toks, t -> md5(t)) AS hs FROM d
    ),
    sigs AS (
      SELECT doc_id,
             [list_min(list_transform(hs, x -> substr(x, 4*i + 1, 32) || substr(x, 1, 4*i))),
              list_min(list_transform(hs, x -> substr(x, 4*(i+4) + 1, 32) || substr(x, 1, 4*(i+4))))]
               AS band_sig,
             i AS band
      FROM h, UNNEST([0, 1, 2, 3]) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(LEN(list_intersect(da.toks, db.toks)) AS DOUBLE)
                 / LEN(list_distinct(list_concat(da.toks, db.toks))), 4) AS jaccard
    FROM cand c
    JOIN d da ON da.doc_id = c.doc_a
    JOIN d db ON db.doc_id = c.doc_b
    WHERE CAST(LEN(list_intersect(da.toks, db.toks)) AS DOUBLE)
          / LEN(list_distinct(list_concat(da.toks, db.toks))) >= 0.5
    """,
    doc="near-dup pipeline with equi-join-bounded candidate generation: "
    "deterministic MinHash (md5-based, engine-portable) banded 4x2, "
    "candidates = equi-join on (band, band_key), then exact token-set "
    "Jaccard >= 0.5 verify on candidates only. The shuffle key is the "
    "band value — never an all-pairs block — so candidate cost is "
    "~|bucket collisions| at 100 TB. Oracle mirrors the generator "
    "exactly (same md5 min-hash), so the match is exact.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return banded_jaccard_pairs(docs)


@register(
    "dedup_minhash_lsh",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\s+'), x -> x != '')) AS toks
      FROM documents WHERE doc_id < 300
    ),
    nz AS (SELECT doc_id, toks FROM d WHERE LEN(toks) > 0),
    h AS (
      SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs FROM nz
    ),
    sigs AS (
      SELECT doc_id, i AS band,
             list_min(list_transform(
               hs, x -> substr(x, 4*i + 1, 32) || substr(x, 1, 4*i))) AS sig
      FROM h, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard_dist FROM (
      SELECT c.doc_a, c.doc_b,
             1.0 - CAST(LEN(list_intersect(da.toks, db.toks)) AS DOUBLE)
                   / (LEN(da.toks) + LEN(db.toks)
                      - LEN(list_intersect(da.toks, db.toks))) AS jaccard_dist
      FROM cand c
      JOIN nz da ON da.doc_id = c.doc_a
      JOIN nz db ON db.doc_id = c.doc_b
    ) WHERE jaccard_dist <= 0.4
    """,
    doc="MinHash LSH near-dup pairs at pyspark.ml MinHashLSH's "
    "operating point (numHashTables=8 -> b=8 bands of r=1 row; "
    "approxSimilarityJoin threshold 0.4 on exact Jaccard DISTANCE), "
    "re-expressed with the deterministic md5-rotation MinHash so the "
    "candidate generation is engine-portable and the whole pipeline "
    "is oracle-checked. Tokenizer semantics mirror ml.feature.Tokenizer "
    "(lowercase, split on whitespace runs). Candidates come from an "
    "equi-join on (band, sig) — O(bucket collisions) at 100 TB, "
    "never all-pairs — then the exact token-set distance verifies "
    "each candidate, so precision is exact and banding only affects "
    "recall (miss prob at s>=0.6 is (1-s)^8 <= 0.07%; recall gate vs "
    "exact all-pairs in tests/test_dedup_similarity.py). Sibling "
    "dedup_ngram_jaccard is the r=2,b=4 SIMILARITY-threshold variant "
    "(case-sensitive tokens, emits jaccard); this entry is the "
    "DISTANCE-threshold twin at the ml.MinHashLSH config. The "
    "jaccard_dist output is raw-repr exact: one integer intersection, "
    "|A|+|B|-|A∩B| union, a single IEEE division and subtraction — "
    "no rounding step. The pyspark.ml original is kept as "
    "minhash_lsh_ml (below) for ML-surface coverage.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    d = docs.select(
        "doc_id",
        F.array_distinct(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("toks"),
    ).where(F.size("toks") > 0)
    hashed = d.withColumn("hs", F.transform("toks", lambda t: F.md5(t)))

    def rot_min(seed: int):
        # seed-hash = md5 hex rotated left by 4*seed chars (seed 0 is
        # the digest itself) — same rotation family as
        # banded_jaccard_pairs, but b=8 bands of r=1 row each.
        if seed == 0:
            return F.array_min("hs")
        return F.array_min(
            F.transform(
                "hs",
                lambda h: F.concat(
                    F.substring(h, 4 * seed + 1, 32), F.substring(h, 1, 4 * seed)
                ),
            )
        )

    bands = hashed.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), rot_min(i).alias("sig"))
                    for i in range(8)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    dist = F.lit(1.0) - inter.cast("double") / union
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .where(dist <= 0.4)
        .select("doc_a", "doc_b", dist.alias("jaccard_dist"))
    )


def minhash_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pyspark.ml MinHashLSH original (unregistered: its seeded
    random hash family is engine-specific, so it can never carry a
    DuckDB oracle). Kept as the ML-surface exercise for
    ml.feature.{Tokenizer, HashingTF, MinHashLSH}; the registered
    dedup_minhash_lsh above re-expresses the same operating point
    (8 hash tables, 0.4 distance threshold) deterministically."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    tok = Tokenizer(inputCol="text", outputCol="words")
    words = tok.transform(docs)
    tf = HashingTF(inputCol="words", outputCol="features", numFeatures=1 << 16, binary=True)
    feats = tf.transform(words).where(F.size("words") > 0)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.4, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(F.col("jaccard_dist"), 4).alias("jaccard_dist"),
        )
    )


# The shared DuckDB re-derivation of the SimHash pipeline (used by the
# dedup_simhash_band oracle and, extended with a recursive-CTE closure,
# by dedup_cluster_components' oracle): FNV-1a 64-bit per token
# INSTANCE, recomputed from the published spec (Fowler/Noll/Vo, IETF
# draft-eastlake-fnv) — fold over the token's utf-8 bytes
# (hex(encode(tok)) pairs) in HUGEINT with mod-2^64 wraparound; xor
# only touches the low 8 bits so it runs on BIGINT. Bit-identical to
# the Spark UDF's Python fold (probed: 'the' -> 10851507214873907462).
# Then the per-bit ±1 majority vote, the unsigned→signed wrap, and the
# 4×16-bit band keys computed from the unsigned form (mirroring
# Spark's arithmetic shiftright + 0xFFFF mask).
def fnv1a64_sql(expr: str) -> str:
    """DuckDB SQL computing FNV-1a 64-bit of a VARCHAR expression's
    utf-8 bytes, as an unsigned value carried in HUGEINT: fold over
    the hex(encode(x)) byte pairs with mod-2^64 wraparound; the xor
    only touches the low 8 bits so it runs on BIGINT. Bit-identical
    to the simhash UDF's Python fold (unit-fuzzed incl. non-ASCII in
    tests/test_property_differential.py)."""
    return f"""list_reduce(
          list_prepend(CAST(1469598103934665603 AS HUGEINT),
            list_transform(range(1, LEN(hex(encode({expr}))) // 2 + 1),
              i -> CAST(strpos('0123456789ABCDEF', substr(hex(encode({expr})), 2*i - 1, 1)) * 16
                      + strpos('0123456789ABCDEF', substr(hex(encode({expr})), 2*i, 1)) - 17 AS HUGEINT))),
          (h, b) -> ((h - h % 256 + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)))
                     * CAST(1099511628211 AS HUGEINT))
                    % CAST(18446744073709551616 AS HUGEINT))"""


_SIMHASH_SQL_CTE = rf"""
    d AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
      FROM documents WHERE doc_id < 300
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    th AS (
      SELECT doc_id, {fnv1a64_sql('tok')} AS h
      FROM tok
    ),
    bits AS (
      SELECT doc_id, bitpos,
             SUM(CASE WHEN CAST(h // CAST(POWER(2, bitpos) AS HUGEINT) AS HUGEINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS acc
      FROM th, UNNEST(range(0, 64)) AS u(bitpos)
      GROUP BY doc_id, bitpos
    ),
    sig AS (
      SELECT doc_id,
             SUM(CASE WHEN acc > 0 THEN CAST(POWER(2, bitpos) AS HUGEINT)
                      ELSE CAST(0 AS HUGEINT) END) AS u_sig
      FROM bits GROUP BY doc_id
    ),
    ss AS (
      SELECT doc_id, u_sig,
             CAST(CASE WHEN u_sig >= CAST(9223372036854775808 AS HUGEINT)
                       THEN u_sig - CAST(18446744073709551616 AS HUGEINT)
                       ELSE u_sig END AS BIGINT) AS simhash
      FROM sig
    ),
    bands AS (
      SELECT doc_id, simhash, band,
             CAST((u_sig // CAST(POWER(2, 16 * band) AS HUGEINT)) % 65536 AS BIGINT) AS key
      FROM ss, UNNEST([0, 1, 2, 3]) AS u(band)
    )
"""



def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    rounds_out: list[int] | None = None,
    jump_after: int = 3,
) -> DataFrame:
    """Iterative min-label propagation with ADAPTIVE pointer jumping:
    resolve near-dup PAIRS into duplicate CLUSTERS (transitive
    closure). Returns (node, component) where component = min doc_id
    reachable.

    The iterative-algorithm pattern done Spark-side:
    - the first `jump_after` rounds are plain 1-hop propagation (one
      join + aggregate per round): near-dup clusters are shallow
      (diameter ~2-3), so the common case converges here at exactly
      the plain-propagation cost — an A/B showed an unconditional jump join
      costs ~3x on the shallow benched graph (the jump key is
      concentrated on cluster-min ids, a skewed shuffle), pure
      overhead when propagation alone converges in 2-3 rounds.
    - any round AFTER that adds the POINTER-JUMP step — labels are
      node ids, so follow the proposed label one more step through
      the label table (component <- label(label(node))), the classic
      path-halving step of MapReduce CC (cf. Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC 2014).
      Jumping halves pointer-chain depth every round, so convergence
      is jump_after + O(log diameter) rounds instead of O(diameter) —
      max_iter=20 covers diameter ~2^16, where the plain propagation
      alone silently STOPPED at a 20-hop radius: a boilerplate
      chain of sliding near-dups deeper than 20 (plausible for
      templated pages at 100 TB) would have split one cluster into
      several without any error. The skewed jump join only runs on
      graphs deep enough to need it — where the alternative was a
      wrong answer, and where AQE skew-join splitting applies at
      cluster scale. The rounds bound on a chain deeper than max_iter
      is pinned by test_connected_components_deep_chain_pointer_jump
      (per-round rates on planted chains: SCALING.md §fixpoint).
    - `localCheckpoint` truncates lineage every round so plan depth
      stays O(1) instead of O(iterations). Cluster posture (SCALING.md):
      checkpointed blocks are executor-local and lineage-free —
      at 1000 executors, reliable `checkpoint()` of the (small,
      edge-list-sized) frontier every few rounds survives executor loss

    rounds_out: test hook — when a list is passed, the number of
    executed rounds (including the final no-change verify round) is
    appended.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # Materialize the edge list ONCE before fanning it out:
    # a/b/self_loop reference `edges` four times,
    # and without this checkpoint each union branch re-evaluated the
    # whole upstream candidate-generation pipeline — measured 1.6-2.7 s
    # of dedup_cluster_jaccard's ~3.6 s at sf0.1 was the banded-MinHash
    # edge pipeline running 4x inside the adj build (guide §5:
    # localCheckpoint to cut repeated lineage).
    edges = edges.localCheckpoint()
    a = edges.selectExpr("src AS node", "dst AS nbr")
    b = edges.selectExpr("dst AS node", "src AS nbr")
    # No inner distinct on the self-loop branch: the outer
    # distinct on (node, nbr) already dedupes self-loops, so the extra
    # exchange+aggregate bought nothing — the union feeds 2|E| loop
    # rows (heavily duplicated, collapsed map-side by the partial
    # aggregate) instead of |V|, one whole stage cheaper.
    self_loop = (
        edges.selectExpr("src AS node").union(edges.selectExpr("dst AS node"))
        .withColumn("nbr", F.col("node"))
    )
    adj = a.union(b).union(self_loop).distinct().localCheckpoint()

    # Monotone change detection: because adj
    # carries a self-loop for every node, the per-round propagated min
    # ALREADY includes the node's own start-of-round label, so
    # new(v) <= old(v) elementwise and the old merged-join-with-least
    # per round was redundant — its only job was detecting "anything
    # changed". The exact label-sum (DECIMAL(38,0), overflow-free) is
    # strictly decreasing while any label moves and constant exactly at
    # the fixpoint.
    #
    # The sum rides the
    # checkpoint job as an OBSERVED METRIC instead of a separate
    # scalar-agg job — `observe()` plants a CollectMetrics node that
    # accumulates while the eager localCheckpoint materializes the
    # round's labels, so the per-round job budget drops from
    # {join+agg+checkpoint, sum} (two actions) to ONE action per round
    # (round count and labels are unchanged — pinned by the deep-chain
    # test).
    def checkpoint_with_sum(df: DataFrame):
        obs = Observation()
        ck = df.observe(
            obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint()
        return ck, obs.get["s"]

    labels, prev_sum = checkpoint_with_sum(
        adj.groupBy("node")
        .agg(F.min("nbr").alias("component"))
        .withColumnRenamed("node", "lnode")
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # (1) push the smallest known component label across every
        # edge; distinct column names throughout (self-join
        # disambiguation)
        propagated = (
            adj.join(labels, adj.nbr == labels.lnode)
            .groupBy("node")
            .agg(F.min("component").alias("hop"))
            .withColumnRenamed("node", "pnode")
        )
        if rounds <= jump_after:
            shortcut = propagated.select(
                F.col("pnode").alias("lnode"), F.col("hop").alias("component")
            )
        else:
            # (2) pointer jump: hop is itself a node id — follow it
            # once more through the start-of-round label table. Left
            # join + least() is defensive (every hop value IS an
            # lnode key, but a dropped node would be silent
            # corruption; least() skips NULL).
            lmap = labels.select(
                F.col("lnode").alias("jnode"),
                F.col("component").alias("jcomp"),
            )
            shortcut = propagated.join(
                lmap, propagated.hop == lmap.jnode, "left"
            ).select(
                F.col("pnode").alias("lnode"),
                F.least(F.col("hop"), F.col("jcomp")).alias("component"),
            )
        labels, new_sum = checkpoint_with_sum(shortcut)
        if prev_sum is not None and new_sum is not None and new_sum > prev_sum:
            # Monotonicity precondition guard: the
            # equal-sum fixpoint test is only sound because the
            # self-loop in adj forces new(v) <= old(v) elementwise. A
            # future edit that drops the self-loop or changes the
            # propagated min would let equal sums coincide with changed
            # labels — fail loudly instead of converging wrong.
            raise AssertionError(
                "connected_components: label sum increased "
                f"({prev_sum} -> {new_sum}); the self-loop monotonicity "
                "invariant is broken"
            )
        if new_sum == prev_sum:
            # An observed metric is an accumulator: under speculative
            # execution a duplicate task attempt could perturb it, and a
            # stale equal sum would stop the loop before the fixpoint.
            # Confirm the first equal reading with one exact aggregate
            # over the checkpointed labels (one extra job at
            # convergence, none per round); keep iterating if it
            # disagrees.
            exact = labels.agg(
                F.sum(F.col("component").cast("decimal(38,0)"))
            ).first()[0]
            if exact == new_sum:
                break
            new_sum = exact
        prev_sum = new_sum
    if rounds_out is not None:
        rounds_out.append(rounds)
    return labels.select(F.col("lnode").alias("node"), "component")


@register(
    "dedup_cluster_components",
    oracle="WITH RECURSIVE "
    + _SIMHASH_SQL_CTE
    + r"""
    ,
    edges AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    )
    SELECT component AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM comp GROUP BY component
    """,
    doc="near-dup cluster resolution: SimHash candidate pairs → "
    "connected components (iterative min-label propagation) → one "
    "keeper per cluster. The iterative-algorithm class: per-round "
    "join+agg, lineage truncated via localCheckpoint, O(diameter) "
    "rounds. ORACLE-CHECKED — with "
    "the SimHash signatures now re-derivable from the FNV-1a spec in "
    "DuckDB (dedup_simhash_band's oracle), the whole chain gains an "
    "independent fixpoint check: the oracle rebuilds the edge set "
    "from the spec and closes it with a recursive-CTE transitive "
    "closure (the dedup_cluster_jaccard pattern), so the iterative "
    "min-label propagation is value-checked end-to-end against a "
    "different algorithm.",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_simhash_band(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .withColumnRenamed("component", "keeper_doc_id")
    )


@register(
    "dedup_cluster_jaccard",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents WHERE doc_id < 300
    ),
    h AS (
      SELECT doc_id, toks, list_transform(toks, t -> md5(t)) AS hs FROM d
    ),
    sigs AS (
      SELECT doc_id,
             [list_min(list_transform(hs, x -> substr(x, 4*i + 1, 32) || substr(x, 1, 4*i))),
              list_min(list_transform(hs, x -> substr(x, 4*(i+4) + 1, 32) || substr(x, 1, 4*(i+4))))]
               AS band_sig,
             i AS band
      FROM h, UNNEST([0, 1, 2, 3]) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN d da ON da.doc_id = c.doc_a
      JOIN d db ON db.doc_id = c.doc_b
      WHERE CAST(LEN(list_intersect(da.toks, db.toks)) AS DOUBLE)
            / LEN(list_distinct(list_concat(da.toks, db.toks))) >= 0.9
    ),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           array_to_string(list_sort(list(node)), ',') AS members
    FROM comp GROUP BY component
    """,
    doc="near-dup CLUSTER resolution, oracle-checked end-to-end: the "
    "engine-portable banded-Jaccard pairs (dedup_ngram_jaccard's "
    "generator, same md5 min-hash both engines) resolved into "
    "duplicate clusters by iterative min-label propagation — the "
    "transitive-closure step every real MinHash dedup needs between "
    "'pairs found' and 'one keeper per group' (Lee et al. "
    "arXiv:2107.06499 §3.2; Kiveris et al. 'Connected Components in "
    "MapReduce and Beyond' is the O(log n)-round variant if cluster "
    "diameter ever grows beyond the shallow near-dup regime). The "
    "oracle computes the SAME fixpoint independently via a DuckDB "
    "recursive-CTE transitive closure — so the iterative-algorithm "
    "class, previously rows-only (dedup_cluster_components), gets a "
    "full cross-engine value check: component = min reachable "
    "doc_id, per-cluster size and sorted member list. Spark shape: "
    "each round is one join+min-agg on the (node,label) table, "
    "lineage truncated per round; rounds = O(cluster diameter).",
)
def dedup_cluster_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    # 0.9 (not the pair entry's 0.5): the synthetic corpus is near-clique
    # at 0.5 — everything merges into ONE component and the gate shows no
    # structure; at 0.9 the closure resolves 7 clusters at sf0.001
    # materialize=True: this entry is timed build+write (secondary
    # methodology), so computing the token/band tables once inside the
    # builder is inside the timed region — the signature pass ran 2x
    # and the tokenizer 3x without it (see banded_jaccard_pairs)
    edges = banded_jaccard_pairs(docs, threshold=0.9, materialize=True).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(edges)
    # members stringified (house rule: DRIVER_WINDOW outputs are
    # scalar-only — the driver's pandas canonicalizer cannot sort
    # array-typed cells; oracle mirrors with array_to_string)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("node")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members"),
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """SimHash 64-bit signatures via a vectorized pandas UDF (Arrow
    batches, numpy bit-twiddling — the sanctioned Python path).

    Used by dedup_simhash_band below and directly testable.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash64(texts: pd.Series) -> pd.Series:
        import numpy as np

        mask = (1 << 64) - 1
        shifts = np.arange(64, dtype=np.uint64)
        # per-batch memo: real corpora repeat tokens heavily, so each
        # distinct token is hashed once per Arrow batch, not per use
        bit_memo: dict = {}

        def token_bits(tok: str):
            bits = bit_memo.get(tok)
            if bits is None:
                h = 1469598103934665603  # FNV-1a 64-bit, portable
                for ch in tok.encode("utf-8"):
                    h = ((h ^ ch) * 1099511628211) & mask
                bits = np.where(
                    ((np.uint64(h) >> shifts) & np.uint64(1)) == 1, 1, -1
                ).astype(np.int64)
                bit_memo[tok] = bits
            return bits

        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            acc = np.zeros(64, dtype=np.int64)
            for tok in (t or "").split(" "):
                acc += token_bits(tok)
            sig = int(((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
            out[i] = sig - (1 << 64) if sig >= (1 << 63) else sig  # wrap to signed
        return pd.Series(out)

    # asNondeterministic: the
    # band join's inferred isnotnull(simhash) filter was pushed BELOW
    # the projection that computes the UDF, so Catalyst evaluated the
    # signature TWICE per side (two ArrowEvalPython nodes per scan,
    # four per plan in dedup_simhash_band). Marking the UDF
    # non-reorderable pins one evaluation per side; the function
    # itself is pure, so results are unchanged (oracle re-verified).
    return docs.withColumn(
        "simhash", simhash64.asNondeterministic()(F.col("text"))
    )


@register(
    "dedup_simhash_band",
    oracle="WITH "
    + _SIMHASH_SQL_CTE
    + r"""
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-dup: 64-bit FNV-1a-weighted signature (pandas "
    "UDF — Arrow batches, numpy bit-twiddling), banded into 4×16-bit "
    "keys, candidates = equi-join on any band, verified by Hamming "
    "distance ≤ 3. Equi-join banding is what scales: the shuffle key "
    "is the band value, never a pairwise comparison. ORACLE-CHECKED "
    "— FNV-1a is a "
    "published, byte-deterministic hash (Fowler/Noll/Vo; IETF "
    "draft-eastlake-fnv), so DuckDB re-derives every signature from "
    "the spec via a HUGEINT mod-2^64 byte fold, then mirrors the "
    "banding, the arithmetic-shift+mask band keys (computed from the "
    "unsigned form) and the popcount verify. The oracle shares no "
    "code path with the UDF — it is an independent from-spec "
    "reimplementation, so a transcription bug in either side "
    "hash-fails the gate.",
)
def dedup_simhash_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    sigs = simhash_signatures(docs).select("doc_id", "simhash")
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .distinct()
    )


@register(
    "dedup_substring_fraction",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             array_to_string(t[i:i + 7], ' ') AS gram
      FROM toks,
           LATERAL unnest(generate_series(1, len(t) - 7)) AS u(i)
      WHERE len(t) >= 8
    ),
    cnt AS (SELECT gram, COUNT(*) AS c FROM grams GROUP BY gram)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_fraction
    FROM grams g JOIN cnt c ON g.gram = c.gram
    GROUP BY g.doc_id
    """,
    doc="EXACT-SUBSTRING duplication accounting (Lee et al. 2022, "
    "arXiv:2107.06499 'Deduplicating Training Data Makes Language "
    "Models Better', the ExactSubstr variant): every 8-token window "
    "of every document, counted corpus-wide; a window position is "
    "duplicated iff its exact token sequence occurs >= 2 times "
    "anywhere in the corpus (including within the same document — "
    "the paper's definition). Output per doc: window count, "
    "duplicated-window count, and the duplicated fraction (one IEEE "
    "division of exact integers — raw-double identical cross-"
    "engine). The paper builds a suffix array; an 8-token fixed "
    "window over a hash-grouped corpus is the shuffle-native "
    "equivalent for fixed k (a suffix array finds variable-length "
    "matches >= k, which the fixed-k windows cover positionally: "
    "any duplicated span of >= 8 tokens makes all its windows "
    "duplicated). Plan: windows via transform(sequence)+slice inside "
    "codegen (no Python), then every shuffle carries the 8-byte "
    "xxhash64 DIGEST of the window, never the 8-token string "
    "(the dedup_exact_hash pattern) — the count "
    "groupBy and the join back are both keyed on the digest, so at "
    "100 TB the gram shuffle is ~8 bytes/row + doc_id instead of "
    "~50-100 bytes of token text. A digest collision would merge two "
    "distinct grams' counts (never drop a window): P[any collision] "
    "~ G^2/2^65, ~3e-7 at G = 10^9 distinct grams and still <0.3 at "
    "the full 10^13-gram/100 TB scale for this 0/1-threshold use "
    "(c>=2), where a merge only matters if BOTH merged grams were "
    "singletons. The oracle counts the raw strings — identical "
    "results absent collision, which the sf gates confirm. Gram-key "
    "SKEW (a boilerplate sentence repeated across millions of docs "
    "makes one digest hot): the count groupBy collapses map-side "
    "(<= one partial row per partition per key), and the join back "
    "is an SMJ whose hot key is split at runtime by the AQE skew "
    "join (skewedJoin probed in SCALING.md on a planted-skew "
    "corpus) — no static salting needed, and the per-doc accounting "
    "is untouched by the split. Volume-measured (SCALING.md "
    "§substr-volume): end-to-end ~0.17-0.22 MB/s/core of raw text at "
    "the 10-40x-doc-length plateau, linear in grams -> size scan "
    "partitions at ~2-8 MB of text for 10-35 s tasks. The token array "
    "is aliased BEFORE the per-gram lambda, or split() re-evaluates "
    "per gram (an interpreted-HOF quadratic).",
)
def dedup_substring_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    k = 8
    # Materialize the token array under an ALIAS before the per-gram
    # lambda: higher-order functions evaluate interpreted, so an
    # expression referenced inside the lambda re-evaluates PER ELEMENT
    # — with `F.split(text)` inline that made gram-gen O(tokens^2) per
    # doc (measured 14.5x wall for 4x bytes
    # at 40x doc length; aliased, the lambda reads an attribute and
    # the same point is ~linear, 3.4x faster already at 10x). The
    # extra projection collapses into the scan stage; plan shape,
    # shuffle count and results are unchanged.
    tok_df = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).where(F.size("toks") >= k)
    toks = F.col("toks")
    grams = (
        tok_df.select(
            "doc_id",
            # hash INSIDE the projection that owns the explode: the
            # string gram exists only within whole-stage codegen of
            # the scan stage — every exchange downstream carries the
            # 8-byte digest
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice(toks, i, k))
                    ),
                )
            ).alias("g"),
        )
    )
    cnt = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    return (
        grams.join(cnt, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias(
                "n_dup_grams"
            ),
            (
                F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_fraction"),
        )
    )


@register(
    "split_leakage_audit",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents WHERE doc_id < 300
    ),
    h AS (
      SELECT doc_id, toks, list_transform(toks, t -> md5(t)) AS hs FROM d
    ),
    sigs AS (
      SELECT doc_id,
             [list_min(list_transform(hs, x -> substr(x, 4*i + 1, 32) || substr(x, 1, 4*i))),
              list_min(list_transform(hs, x -> substr(x, 4*(i+4) + 1, 32) || substr(x, 1, 4*(i+4))))]
               AS band_sig,
             i AS band
      FROM h, UNNEST([0, 1, 2, 3]) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN d da ON da.doc_id = c.doc_a
      JOIN d db ON db.doc_id = c.doc_b
      WHERE CAST(LEN(list_intersect(da.toks, db.toks)) AS DOUBLE)
            / LEN(list_distinct(list_concat(da.toks, db.toks))) >= 0.5
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 12)) AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'eval' END AS split
      FROM d
    ),
    lab AS (
      SELECT v.doc_a, v.doc_b, sa.split AS split_a, sb.split AS split_b,
             CASE WHEN sa.split = sb.split
                  THEN sa.split || '-' || sb.split
                  ELSE 'eval-train' END AS pair_class
      FROM ver v
      JOIN sp sa ON sa.doc_id = v.doc_a
      JOIN sp sb ON sb.doc_id = v.doc_b
    ),
    np AS (
      SELECT pair_class, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM lab GROUP BY pair_class
    ),
    sides AS (
      SELECT pair_class, doc_a AS doc, split_a AS split FROM lab
      UNION ALL
      SELECT pair_class, doc_b AS doc, split_b AS split FROM lab
    ),
    ne AS (
      SELECT pair_class, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_eval_docs
      FROM sides WHERE split = 'eval' GROUP BY pair_class
    )
    SELECT np.pair_class, np.n_pairs,
           COALESCE(ne.n_eval_docs, 0) AS n_eval_docs
    FROM np LEFT JOIN ne ON ne.pair_class = np.pair_class
    """,
    doc="CROSS-SPLIT LEAKAGE AUDIT: the decontamination check an eval "
    "pipeline runs before trusting a benchmark — near-duplicate "
    "document pairs (the sibling dedup_ngram_jaccard generator "
    "verbatim: banded md5-MinHash candidates, exact token-Jaccard "
    ">= 0.5 verify) classified by whether they stay inside the "
    "train/eval split or STRADDLE it. The split is the engine-"
    "portable md5_48 recipe (sample_weighted_aes): u48 % 10 < 8 -> "
    "train, so both engines assign identical splits with no RNG. "
    "Output per pair class: pair count + distinct eval docs involved "
    "— 'eval-train' rows are eval documents whose near-twin is in "
    "the training set (contaminated: their eval score measures "
    "memorization). Distinct from contamination_ngram_overlap (doc "
    "vs an external benchmark SET); this audits an internal split "
    "against the corpus's own duplicate structure. Scale: candidate "
    "generation is the banded equi-join (never all-pairs); the split "
    "label is a row-local hash; the classification adds two "
    "broadcast-size joins on doc_id against the tiny verified-pair "
    "set.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    u48 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    sp = docs.select(
        "doc_id",
        F.when(u48 % 10 < 8, F.lit("train")).otherwise(F.lit("eval")).alias("split"),
    )
    pairs = banded_jaccard_pairs(docs, 0.5).select("doc_a", "doc_b")
    lab = (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")),
            "doc_b",
        )
        .withColumn(
            "pair_class",
            F.when(
                F.col("split_a") == F.col("split_b"),
                F.concat_ws("-", "split_a", "split_b"),
            ).otherwise(F.lit("eval-train")),
        )
    )
    np_ = lab.groupBy("pair_class").agg(F.count(F.lit(1)).alias("n_pairs"))
    sides = lab.select(
        "pair_class", F.col("doc_a").alias("doc"), F.col("split_a").alias("split")
    ).unionByName(
        lab.select(
            "pair_class", F.col("doc_b").alias("doc"), F.col("split_b").alias("split")
        )
    )
    ne = (
        sides.where(F.col("split") == "eval")
        .groupBy("pair_class")
        .agg(F.countDistinct("doc").alias("n_eval_docs"))
    )
    return np_.join(ne, "pair_class", "left").select(
        "pair_class",
        "n_pairs",
        F.coalesce("n_eval_docs", F.lit(0)).alias("n_eval_docs"),
    )
