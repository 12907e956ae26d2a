"""Model-evaluation aggregates for the curation-classifier loop —
exact AUC via the Mann-Whitney rank-sum identity, thresholded
confusion metrics, and Cohen's kappa inter-labeler agreement.

A quality-model gate (CCNet / RefinedWeb style, `operators/quality.py`)
is only trustworthy with an eval harness next to it; at 100 TB that
harness must itself be a distributed aggregate, not a scikit call on a
driver-side collect. All three operators here are pure aggregates:

- AUC: the rank-sum identity AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻)
  with AVERAGE ranks for ties (Mann-Whitney U; Hanley & McNeil 1982).
  Grouping by DISTINCT SCORE first makes the rank table domain-bounded
  (#distinct scores, not #rows), and doubling the ranks keeps every
  intermediate an exact BIGINT: 2·avg_rank of a tie group =
  2·cum_before + n_group + 1. The ONLY float op is one final division
  of two exactly-agreed integers — so the AUC is oracle-hash-checkable
  to the last bit, no epsilon.
- Confusion/precision/recall/F1 at a fixed threshold: SUM(CASE)
  algebraic aggregates, one map-side-combined scan; F1 computed as
  2tp/(2tp+fp+fn) — again one division of exact integers.
- Cohen's kappa (Cohen 1960): with integer cell counts, kappa =
  (n·agree − Σ_k a_k·b_k) / (n² − Σ_k a_k·b_k) — a single division of
  two exact BIGINTs (the po/pe rationals cleared of denominators).

Scale notes: the AUC rank table is one shuffle on score (domain-
bounded) plus one ordered prefix-sum window; at 100 TB with a
continuous score, bucketize scores first (the fixed-width-bin AUC is
the standard large-scale approximation) — the plan shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


@register(
    "model_auc_exact",
    oracle="""
    WITH base AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    by_score AS (
      SELECT score,
             CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(SUM(pos) AS BIGINT) AS pos_s
      FROM base GROUP BY score
    ),
    ranked AS (
      SELECT pos_s, n_s,
             CAST(COALESCE(SUM(n_s) OVER (
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before
      FROM by_score
    ),
    tot AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n,
             CAST(SUM(pos_s) AS BIGINT) AS n_pos,
             CAST(SUM(pos_s * (2 * cum_before + n_s + 1)) AS BIGINT)
               AS rank_sum_x2
      FROM ranked
    )
    SELECT n_pos,
           n - n_pos AS n_neg,
           rank_sum_x2 - n_pos * (n_pos + 1) AS u_stat_x2,
           CAST(rank_sum_x2 - n_pos * (n_pos + 1) AS DOUBLE)
             / CAST(2 * n_pos * (n - n_pos) AS DOUBLE) AS auc
    FROM tot
    """,
    doc="EXACT ROC-AUC of a document scorer (score = n_chars) against "
    "a binary label (lang = 'en') via the Mann-Whitney rank-sum "
    "identity with average-rank tie handling — every intermediate is "
    "an exact BIGINT (ranks doubled to clear the .5 of tied averages) "
    "and the single float op is the final division, so the AUC is "
    "hash-checked cross-engine with no tolerance. Rank table is "
    "grouped by distinct score (domain-bounded, not row-bounded).",
)
def model_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    by_score = base.groupBy("score").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("pos").alias("pos_s")
    )
    # bounded: |distinct scores| rows (post-aggregate frame), not raw docs
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_score.select(
        "pos_s",
        "n_s",
        F.coalesce(F.sum("n_s").over(w), F.lit(0)).alias("cum_before"),
    )
    tot = ranked.agg(
        F.sum("n_s").alias("n"),
        F.sum("pos_s").alias("n_pos"),
        F.sum(
            F.col("pos_s") * (2 * F.col("cum_before") + F.col("n_s") + 1)
        ).alias("rank_sum_x2"),
    )
    u2 = F.col("rank_sum_x2") - F.col("n_pos") * (F.col("n_pos") + 1)
    n_neg = F.col("n") - F.col("n_pos")
    return tot.select(
        F.col("n_pos"),
        n_neg.alias("n_neg"),
        u2.alias("u_stat_x2"),
        (
            u2.cast("double") / (2 * F.col("n_pos") * n_neg).cast("double")
        ).alias("auc"),
    )


_THRESH = 300  # fixed decision threshold on the n_chars score


@register(
    "model_confusion_threshold",
    oracle=f"""
    WITH c AS (
      SELECT
        CAST(SUM(CASE WHEN n_chars >= {_THRESH} AND lang = 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN n_chars >= {_THRESH} AND lang <> 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN n_chars < {_THRESH} AND lang = 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN n_chars < {_THRESH} AND lang <> 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM documents
    )
    SELECT tp, fp, fn, tn,
           CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
             AS accuracy,
           CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision_,
           CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall_,
           CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
    FROM c
    """,
    doc=f"Confusion matrix + accuracy/precision/recall/F1 for the "
    f"thresholded scorer (predict en iff n_chars >= {_THRESH}) vs the "
    "lang label. Pure SUM(CASE) algebraic aggregates (map-side "
    "partials, one 1-row reduce); each metric is one division of "
    "exact integers (F1 as 2tp/(2tp+fp+fn)) so all four are "
    "hash-checked with no tolerance.",
)
def model_confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = F.col("n_chars") >= _THRESH
    actual = F.col("lang") == "en"

    def n(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    c = docs.agg(
        n(pred & actual).alias("tp"),
        n(pred & ~actual).alias("fp"),
        n(~pred & actual).alias("fn"),
        n(~pred & ~actual).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        ((tp + tn).cast("double") / (tp + fp + fn + tn).cast("double")).alias(
            "accuracy"
        ),
        (tp.cast("double") / (tp + fp).cast("double")).alias("precision_"),
        (tp.cast("double") / (tp + fn).cast("double")).alias("recall_"),
        ((2 * tp).cast("double") / (2 * tp + fp + fn).cast("double")).alias(
            "f1"
        ),
    )


@register(
    "agreement_cohen_kappa",
    oracle="""
    WITH lab AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
             CASE WHEN LENGTH(text) - LENGTH(REPLACE(text, 'the', '')) >= 3
                    OR LENGTH(text) - LENGTH(REPLACE(text, 'and', '')) >= 3
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
             CAST(SUM(a) AS BIGINT) AS a_pos,
             CAST(SUM(b) AS BIGINT) AS b_pos
      FROM lab
    )
    SELECT n, n_agree, a_pos, b_pos,
           CAST(n * n_agree - (a_pos * b_pos + (n - a_pos) * (n - b_pos))
                AS DOUBLE)
           / CAST(n * n - (a_pos * b_pos + (n - a_pos) * (n - b_pos))
                  AS DOUBLE) AS kappa
    FROM c
    """,
    doc="Cohen's kappa (Cohen 1960) between the dataset lang label and "
    "the marker-token lang-ID heuristic (same rule as "
    "text_lang_id_heuristic) as binary en/not-en labelers. The "
    "po/pe rationals are cleared of denominators so kappa = "
    "(n·agree − Σ a_k b_k) / (n² − Σ a_k b_k) is ONE division of two "
    "exact BIGINTs — hash-checked, no tolerance. One scan, 1-row "
    "algebraic reduce; inter-annotator agreement is the standard "
    "gate before trusting weak labels at corpus scale.",
)
def agreement_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def marker_count(marker: str):
        return (
            F.length("text") - F.length(F.regexp_replace("text", marker, ""))
        ) / len(marker)

    a = F.when(F.col("lang") == "en", 1).otherwise(0)
    b = F.when(
        (marker_count("the") >= 1) | (marker_count("and") >= 1), 1
    ).otherwise(0)
    c = docs.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias(
            "n_agree"
        ),
        F.sum("a").alias("a_pos"),
        F.sum("b").alias("b_pos"),
    )
    n, agree, ap, bp = (
        F.col(x) for x in ("n", "n_agree", "a_pos", "b_pos")
    )
    chance = ap * bp + (n - ap) * (n - bp)
    return c.select(
        "n",
        "n_agree",
        "a_pos",
        "b_pos",
        (
            (n * agree - chance).cast("double")
            / (n * n - chance).cast("double")
        ).alias("kappa"),
    )


@register(
    "model_ece_calibration",
    oracle="""
    WITH base AS (
      SELECT LEAST(n_chars, 1000) AS cm,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
    ),
    bins AS (
      SELECT LEAST(CAST(FLOOR(cm / 100) AS BIGINT), 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(pos) AS BIGINT) AS sp,
             CAST(SUM(cm) AS BIGINT) AS sc,
             CAST(SUM((cm - 1000 * pos) * (cm - 1000 * pos)) AS BIGINT)
               AS ssq
      FROM base GROUP BY bin
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n_b) AS BIGINT) AS n,
           CAST(SUM(ABS(1000 * sp - sc)) AS DOUBLE)
             / CAST(1000 * SUM(n_b) AS DOUBLE) AS ece,
           MAX(CAST(ABS(1000 * sp - sc) AS DOUBLE)
               / CAST(1000 * n_b AS DOUBLE)) AS mce,
           CAST(SUM(ssq) AS DOUBLE)
             / CAST(1000000 * SUM(n_b) AS DOUBLE) AS brier
    FROM bins
    """,
    doc="EXPECTED CALIBRATION ERROR of a [0,1]-confidence scorer "
    "(Naeini et al. 2015 AAAI; the standard reliability summary for "
    "a quality/filter model before its scores gate a corpus): "
    "10 equal-width confidence bins, ECE = sum_b (n_b/N)|acc_b - "
    "conf_b|, plus MCE (max bin gap) and the Brier score. The proxy "
    "confidence is LEAST(n_chars,1000)/1000 against the lang='en' "
    "label (the model_auc_exact pairing). EXACT-ARITHMETIC form: "
    "confidence is carried as integer millis, so each bin gap "
    "numerator |1000*sum(pos) - sum(conf_milli)| and the Brier "
    "numerator sum((conf_milli - 1000*pos)^2) are exact BIGINTs; "
    "ECE/Brier are ONE final IEEE division each and MCE is a MAX "
    "over per-bin single divisions of agreed integers — raw-double "
    "identical cross-engine, no rounding policy needed. NULL "
    "n_chars/lang rows are excluded (no NULL bin is "
    "fabricated). Plan: one map-side-combined aggregate to 10 bin "
    "rows, then a 10-row aggregate — no window, no join; at 100 TB "
    "this is a single streaming pass.",
)
def model_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    ).select(
        F.least(F.col("n_chars"), F.lit(1000)).cast("long").alias("cm"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias(
            "pos"
        ),
    )
    dev = F.col("cm") - 1000 * F.col("pos")
    bins = base.groupBy(
        F.least(F.floor(F.col("cm") / 100), F.lit(9)).cast("long").alias(
            "bin"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum("pos").alias("sp"),
        F.sum("cm").alias("sc"),
        F.sum(dev * dev).alias("ssq"),
    )
    gap_num = F.abs(1000 * F.col("sp") - F.col("sc"))
    return bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_b").alias("n"),
        (
            F.sum(gap_num).cast("double")
            / (1000 * F.sum("n_b")).cast("double")
        ).alias("ece"),
        F.max(
            gap_num.cast("double") / (1000 * F.col("n_b")).cast("double")
        ).alias("mce"),
        (
            F.sum("ssq").cast("double")
            / (1000000 * F.sum("n_b")).cast("double")
        ).alias("brier"),
    )


@register(
    "retrieval_rank_metrics",
    oracle="""
    WITH base AS (
      -- query = source; system ranking = n_chars DESC (doc_id tiebreak);
      -- graded relevance from lang (en=2, fr=1, else 0)
      SELECT source,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS rnk,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CASE lang WHEN 'en' THEN 2 WHEN 'fr' THEN 1
                        ELSE 0 END DESC, doc_id
             ) AS irnk,
             CASE lang WHEN 'en' THEN 2 WHEN 'fr' THEN 1 ELSE 0 END AS rel
      FROM documents
    ),
    cum AS (
      SELECT source, rnk, irnk, rel,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) OVER (
               PARTITION BY source ORDER BY rnk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS tp
      FROM base
    ),
    per_q AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel,
             MIN(CASE WHEN rel > 0 THEN rnk END) AS first_rel,
             CAST(SUM(CASE WHEN rnk <= 10 AND rel > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp10,
             COALESCE(list_reduce(
               list_prepend(0.0, list_transform(
                 list_sort(LIST({'k': rnk,
                                 't': CAST(tp AS DOUBLE) / rnk})
                           FILTER (rnk <= 10 AND rel > 0)),
                 x -> x.t)),
               (acc, x) -> acc + x), 0.0) AS ap_num,
             list_reduce(
               list_prepend(0.0, list_transform(
                 list_sort(LIST({'k': rnk,
                                 't': CAST(CASE rel WHEN 2 THEN 3
                                           WHEN 1 THEN 1 ELSE 0 END
                                           AS DOUBLE)
                                      / LOG2(CAST(rnk + 1 AS DOUBLE))})
                           FILTER (rnk <= 5)),
                 x -> x.t)),
               (acc, x) -> acc + x) AS dcg5,
             list_reduce(
               list_prepend(0.0, list_transform(
                 list_sort(LIST({'k': irnk,
                                 't': CAST(CASE rel WHEN 2 THEN 3
                                           WHEN 1 THEN 1 ELSE 0 END
                                           AS DOUBLE)
                                      / LOG2(CAST(irnk + 1 AS DOUBLE))})
                           FILTER (irnk <= 5)),
                 x -> x.t)),
               (acc, x) -> acc + x) AS idcg5
      FROM cum GROUP BY source
    )
    SELECT source, n_docs, n_rel,
           CAST(1.0 AS DOUBLE) / first_rel AS rr,
           CAST(tp10 AS DOUBLE) / 10 AS p_at_10,
           CAST(tp10 AS DOUBLE) / NULLIF(n_rel, 0) AS recall_at_10,
           ap_num / NULLIF(LEAST(n_rel, 10), 0) AS ap_at_10,
           ROUND(dcg5 / NULLIF(idcg5, 0.0), 6) + 0 AS ndcg_at_5
    FROM per_q
    """,
    doc="RETRIEVAL RANKING METRICS per query — MRR, precision@10, "
    "recall@10, AP@10, nDCG@5 — the eval harness next to the "
    "retrieval operators (retrieval_bm25_topk / retrieval_mmr_rerank "
    "produce rankings; this grades one). Query = source, system "
    "ranking = n_chars DESC, graded relevance from lang (en=2, fr=1). "
    "Exactness: rr / p@10 / recall@10 are single divisions of exact "
    "BIGINTs; AP@10 folds its precision-at-hit terms (each one exact "
    "division tp_k/k) in rank order, reassociation-free; nDCG is cut "
    "at 5, NOT the usual 10, because the discount LOG2(k+1) is only "
    "bit-identical between the JVM and libm for k+1 <= 8 (probed: "
    "log2 of 9, 10, 11 differ in the last ULP between Java's and C's "
    "libm) — gains 2^rel - 1 are exact integers and each term is one "
    "IEEE division, folded in rank order; ideal ranking for IDCG is "
    "rel DESC with the same fold. No-relevant-doc queries emit NULL "
    "rr/ap/ndcg (NULLIF guards), not fabricated zeros. Scale: one "
    "row_number window partitioned BY QUERY (millions of partitions "
    "at corpus scale — the right shape), one grouped fold over "
    "top-10 structs.",
)
def retrieval_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rel = (
        F.when(F.col("lang") == "en", 2)
        .when(F.col("lang") == "fr", 1)
        .otherwise(0)
    )
    base = docs.select(
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        )
        .alias("rnk"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(rel.desc(), "doc_id")
        )
        .alias("irnk"),
        rel.alias("rel"),
    )
    cum = base.withColumn(
        "tp",
        F.sum((F.col("rel") > 0).cast("long")).over(
            Window.partitionBy("source")
            .orderBy("rnk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    gain = (
        F.when(F.col("rel") == 2, 3)
        .when(F.col("rel") == 1, 1)
        .otherwise(0)
        .cast("double")
    )

    def fold(k_col, term, cond):
        return F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(cond, F.struct(k_col.alias("k"), term.alias("t")))
                    )
                ),
                lambda x: x["t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    ap_num = fold(
        F.col("rnk"),
        F.col("tp").cast("double") / F.col("rnk"),
        (F.col("rnk") <= 10) & (F.col("rel") > 0),
    )
    dcg5 = fold(
        F.col("rnk"),
        gain / F.log2((F.col("rnk") + 1).cast("double")),
        F.col("rnk") <= 5,
    )
    idcg5 = fold(
        F.col("irnk"),
        gain / F.log2((F.col("irnk") + 1).cast("double")),
        F.col("irnk") <= 5,
    )
    per_q = cum.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("rel") > 0).cast("long")).alias("n_rel"),
        F.min(F.when(F.col("rel") > 0, F.col("rnk"))).alias("first_rel"),
        F.sum(
            ((F.col("rnk") <= 10) & (F.col("rel") > 0)).cast("long")
        ).alias("tp10"),
        ap_num.alias("ap_num"),
        dcg5.alias("dcg5"),
        idcg5.alias("idcg5"),
    )
    return per_q.select(
        "source",
        "n_docs",
        "n_rel",
        (F.lit(1.0) / F.col("first_rel")).alias("rr"),
        (F.col("tp10").cast("double") / 10).alias("p_at_10"),
        (
            F.col("tp10").cast("double") / F.nullif(F.col("n_rel"), F.lit(0))
        ).alias("recall_at_10"),
        (
            F.col("ap_num")
            / F.nullif(F.least(F.col("n_rel"), F.lit(10)), F.lit(0))
        ).alias("ap_at_10"),
        (
            F.round(
                F.col("dcg5") / F.nullif(F.col("idcg5"), F.lit(0.0)), 6
            )
            + 0
        ).alias("ndcg_at_5"),
    )


@register(
    "markov_next_event_accuracy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS nxt
      FROM events WHERE ts IS NOT NULL
    ),
    trans AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    pred AS (
      -- top-1 predictor per state, deterministic tiebreak on the
      -- successor name
      SELECT cur, nxt AS pred_next
      FROM (
        SELECT cur, nxt,
               ROW_NUMBER() OVER (
                 PARTITION BY cur ORDER BY c DESC, nxt
               ) AS rk
        FROM trans
      ) WHERE rk = 1
    )
    SELECT s.cur,
           p.pred_next,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(CASE WHEN s.nxt = p.pred_next THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN s.nxt = p.pred_next THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS top1_accuracy
    FROM seq s JOIN pred p ON p.cur = s.cur
    WHERE s.nxt IS NOT NULL
    GROUP BY s.cur, p.pred_next
    """,
    doc="TOP-1 MARKOV NEXT-EVENT PREDICTOR ACCURACY: train the "
    "first-order transition model (event_transition_matrix's counts) "
    "and EVALUATE it in the same pass — per current state, the "
    "argmax successor (count tiebreak -> successor name, "
    "deterministic) and its in-sample top-1 accuracy. This is the "
    "sequence-model twin of model_confusion_threshold: the registry "
    "had the transition MODEL but no predictive-quality readout; "
    "accuracy is the quantity that says whether next-event "
    "prediction is better than the majority-class baseline. Counts "
    "exact BIGINT, accuracy one IEEE division. Scale: one user-hash "
    "shuffle for the LEAD window, one tiny transition aggregate "
    "broadcast back onto the transition stream.",
)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seq = ev.where(F.col("ts").isNotNull()).select(
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    pred = (
        trans.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cur").orderBy(F.col("c").desc(), "nxt")
            ),
        )
        .where(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("pred_next"))
    )
    return (
        seq.join(F.broadcast(pred), "cur")
        .groupBy("cur", "pred_next")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum(
                F.when(F.col("nxt") == F.col("pred_next"), 1).otherwise(0)
            ).alias("n_correct"),
            (
                F.sum(
                    F.when(F.col("nxt") == F.col("pred_next"), 1).otherwise(
                        0
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("top1_accuracy"),
        )
    )
