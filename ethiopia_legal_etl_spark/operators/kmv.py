"""KMV (k-minimum-values) distinct sketch with SET ALGEBRA — the
sketch family that answers what HLL cannot: intersection estimates
(Beyer et al. SIGMOD 2007, "On synopses for distinct-value estimation
under multiset operations"; Dasu et al.'s min-hash set-resemblance).

An HLL can union but famously cannot intersect without
inclusion-exclusion blowup; a KMV sketch — the k smallest hash values
of a set — supports union (k smallest of the merged sketches ARE the
k smallest of the true union, since every union minimum survives in
its side's sketch) and from the union sketch a Jaccard-style
intersection estimate: rho = |hashes present in both sides among the
union's k minima| / k, est_inter = rho * est_union, with the KMV
cardinality estimator est = (k-1)/u_k (u_k = k-th smallest hash
normalized to (0,1)).

Why oracle-checkable when HLL/CMS are rows-only: every ingredient is
deterministic and engine-portable — md5 of the member id (hex string
order == numeric order), a window top-k per set, exact integer flags,
and two IEEE divisions of exactly-reproducible operands. Both engines
compute the SAME sketch bit-for-bit, so the driver hash gate applies
to a sketch estimator end-to-end.

At 100 TB: per-set sketches are k rows regardless of set size, built
with one (set, hash)-keyed window; every downstream set-algebra
question (union/intersection across any set pair) runs on k-row
inputs — the full membership table is touched exactly once. The
exact co-occurrence column here exists as in-result accuracy
evidence; a production deployment drops it (that's the point of the
sketch).

Reference tie: generalizes A-5's link counting (import requests.py)
to the set-cardinality regime the reference's serial ETL never
reaches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

_KMV_K = 128  # est rel-std ~ 1/sqrt(k-2) ~ 9%; all 10 pairs draw from
# nearly the SAME doc population on this corpus, so their estimator
# errors are CORRELATED — one population-level hash fluctuation moves
# every pair together (documented; the accuracy test bounds it)
_KMV_TOKENS = ("join", "hash", "scan", "window", "stream")
_POW48 = 281474976710656  # 2^48: md5 12-hex-char prefix normalizer


@register(
    "sketch_kmv_cooccurrence",
    oracle=f"""
    WITH mem AS (
      SELECT DISTINCT tok, doc_id
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
      )
      WHERE tok IN ('join', 'hash', 'scan', 'window', 'stream')
    ),
    h AS (
      SELECT tok, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hash FROM mem
    ),
    kmv AS (
      SELECT tok, hash
      FROM (
        SELECT tok, hash,
               ROW_NUMBER() OVER (PARTITION BY tok ORDER BY hash) AS rn
        FROM h
      ) WHERE rn <= {_KMV_K}
    ),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b
      FROM (SELECT DISTINCT tok FROM mem) a
      JOIN (SELECT DISTINCT tok FROM mem) b ON a.tok < b.tok
    ),
    merged AS (
      SELECT p.tok_a, p.tok_b, k.hash,
             MAX(CASE WHEN k.tok = p.tok_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN k.tok = p.tok_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p
      JOIN kmv k ON k.tok IN (p.tok_a, p.tok_b)
      GROUP BY 1, 2, 3
    ),
    topk AS (
      SELECT tok_a, tok_b, hash, in_a, in_b,
             ROW_NUMBER() OVER (PARTITION BY tok_a, tok_b
                                ORDER BY hash) AS rn
      FROM merged
    ),
    est AS (
      SELECT tok_a, tok_b,
             COUNT(*) AS kk,
             MAX(hash) AS u_k_hex,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
      FROM topk WHERE rn <= {_KMV_K}
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b,
             COUNT(*) AS exact_cooccur
      FROM mem a JOIN mem b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
    )
    SELECT e.tok_a, e.tok_b,
           CAST(e.kk AS BIGINT) AS k_used,
           CASE WHEN e.kk < {_KMV_K} THEN CAST(e.kk AS DOUBLE)
                ELSE ({_KMV_K} - 1)
                     / (CAST(('0x' || substr(e.u_k_hex, 1, 12)) AS BIGINT)
                        / CAST({_POW48} AS DOUBLE)) END AS est_union,
           e.n_both,
           (CAST(e.n_both AS DOUBLE) / e.kk)
           * (CASE WHEN e.kk < {_KMV_K} THEN CAST(e.kk AS DOUBLE)
                   ELSE ({_KMV_K} - 1)
                        / (CAST(('0x' || substr(e.u_k_hex, 1, 12)) AS BIGINT)
                           / CAST({_POW48} AS DOUBLE)) END)
             AS est_intersection,
           CAST(COALESCE(x.exact_cooccur, 0) AS BIGINT) AS exact_cooccur
    FROM est e
    LEFT JOIN exact x ON x.tok_a = e.tok_a AND x.tok_b = e.tok_b
    """,
    doc="KMV k-minimum-values sketch with SET ALGEBRA (Beyer et al. "
    "SIGMOD'07): per-token document-set sketches (k=128 smallest "
    "md5(doc_id) values), pairwise UNION sketches (k smallest of the "
    "merged minima — provably the true union's k minima), and the "
    "intersection estimate rho*est_union the HLL family cannot give. "
    "Estimated document co-occurrence per token pair with the exact "
    "count alongside as accuracy evidence. The driver corpus is "
    "dense (every token set exceeds k at both SFs) so the estimator "
    "branch fires everywhere; the degenerate branch (set smaller "
    "than k -> estimate exact) is pinned by a synthetic-corpus test. "
    "Fully "
    "deterministic cross-engine: hex order == numeric order, "
    "normalizer 2^48 exact, two IEEE divisions. Spark shape: ONE "
    "(tok,hash) window builds all sketches; all set algebra runs on "
    "5*k-row broadcastable inputs; the exact column's membership "
    "self-join is df-bounded and exists only as the gate.",
)
def sketch_kmv_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    mem = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.col("tok").isin(*_KMV_TOKENS))
        .distinct()
        # localCheckpoint, not cache (cache-scoping sweep): no
        # plan-matched CacheManager entry may outlive the query run
        .localCheckpoint()  # df-bounded; feeds sketch window + exact gate
    )
    h = mem.select("tok", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hash"))
    rn = F.row_number().over(Window.partitionBy("tok").orderBy("hash"))
    kmv = (
        h.select("tok", "hash", rn.alias("rn"))
        .where(F.col("rn") <= _KMV_K)
        .drop("rn")
        .localCheckpoint()  # 5*k rows
    )
    toks = mem.select("tok").distinct()
    pairs = (
        toks.alias("a")
        .join(toks.alias("b"), F.col("a.tok") < F.col("b.tok"))
        .select(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
    )
    merged = (
        pairs.join(
            F.broadcast(kmv),
            F.col("tok").isin(F.col("tok_a"), F.col("tok_b")),
        )
        .groupBy("tok_a", "tok_b", "hash")
        .agg(
            F.max((F.col("tok") == F.col("tok_a")).cast("int")).alias("in_a"),
            F.max((F.col("tok") == F.col("tok_b")).cast("int")).alias("in_b"),
        )
    )
    rn2 = F.row_number().over(
        Window.partitionBy("tok_a", "tok_b").orderBy("hash")
    )
    est = (
        merged.select("tok_a", "tok_b", "hash", "in_a", "in_b", rn2.alias("rn"))
        .where(F.col("rn") <= _KMV_K)
        .groupBy("tok_a", "tok_b")
        .agg(
            F.count(F.lit(1)).alias("kk"),
            F.max("hash").alias("u_k_hex"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
    )
    u_k = F.conv(F.substring("u_k_hex", 1, 12), 16, 10).cast("long") / F.lit(
        float(_POW48)
    )
    est_union = F.when(
        F.col("kk") < _KMV_K, F.col("kk").cast("double")
    ).otherwise(F.lit(_KMV_K - 1) / u_k)
    exact = (
        mem.alias("x")
        .join(
            mem.alias("y"),
            (F.col("x.doc_id") == F.col("y.doc_id"))
            & (F.col("x.tok") < F.col("y.tok")),
        )
        .groupBy(
            F.col("x.tok").alias("tok_a"), F.col("y.tok").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).alias("exact_cooccur"))
    )
    return (
        est.join(F.broadcast(exact), ["tok_a", "tok_b"], "left")
        .select(
            "tok_a",
            "tok_b",
            F.col("kk").cast("long").alias("k_used"),
            est_union.alias("est_union"),
            "n_both",
            ((F.col("n_both").cast("double") / F.col("kk")) * est_union).alias(
                "est_intersection"
            ),
            F.coalesce("exact_cooccur", F.lit(0))
            .cast("long")
            .alias("exact_cooccur"),
        )
    )
