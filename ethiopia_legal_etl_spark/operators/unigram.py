"""Unigram-LM subword tokenizer (SentencePiece-style; Kudo,
arXiv:1804.10959) — the EM-trained counterpart of the BPE trainer in
`operators/corpusops.py`, completing the two dominant subword
families a training-data pipeline tokenizes with.

Engine-side extension (the 297-line reference ETL tokenizes nothing;
see SURVEY.md §2 LLM-pipeline rows): train a piece vocabulary by
expectation-maximization over segmentation lattices, then
Viterbi-encode the corpus.

Scale architecture — deliberately DIFFERENT from the BPE trainer's
collect-the-word-table shape, to cover the other scaling regime:

- The (word, freq) table NEVER reaches the driver. It is built with
  one corpus shuffle (Zipf/Heaps-bounded, `min_freq`/`max_words`
  caps), cached, and every E-step runs ON it as an Arrow-batched
  mapInPandas with the current piece log-probs as a broadcast
  (V-bounded, e.g. 32k entries). Per EM iteration: one map over the
  word table + one V-bounded aggregate. The driver only ever holds
  the vocabulary.
- Seed-vocabulary extraction is a JVM-side double explode of word
  substrings (bounded: ≤ max_piece_len per start position) with a
  TakeOrderedAndProject top-K — never a global sort, never a
  driver-side substring scan.
- All cross-partition accumulation is EXACT-INTEGER: per-word
  expected counts are computed in float64 but emitted as fixed-point
  micro-units (×1e6, rounded once per (word, piece)), so the
  aggregate is order-independent and the trained vocabulary is
  bit-identical run-to-run and partition-count-independent — the same
  fixed-point discipline as `dsir_importance_select` and
  `host_rank_fixed_point`. The only float ops are per-word lattice
  math (deterministic scalar code) and one final log per piece on
  exact integers.

Simplification vs Kudo §3.2, stated honestly: pruning keeps the
top-`vocab_size` pieces by final expected count (single-character
pieces always kept, so every word stays segmentable) instead of the
likelihood-loss shrink loop; the EM estimation itself is the paper's
algorithm. Ground truth: a brute-force ENUMERATION model (all 2^(n-1)
segmentations per word — corpus words are ≤8 chars) must agree with
the lattice forward-backward within 2 micro-units per piece, and
Viterbi must return the enumeration argmax (tests/test_unigram.py).
"""

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

_SCALE = 1_000_000  # fixed-point micro-units for expected counts


# ---------------------------------------------------------------------
# Pure per-word lattice math (runs inside Arrow batches; identical
# scalar code drives the differential model's tolerance check)
# ---------------------------------------------------------------------


def _logsumexp2(a: float, b: float) -> float:
    if a == float("-inf"):
        return b
    if b == float("-inf"):
        return a
    m = a if a > b else b
    return m + math.log(math.exp(a - m) + math.exp(b - m))


def word_expected_counts(
    word: str, logp: dict[str, float], max_piece_len: int
) -> dict[str, float]:
    """E-step for ONE word: forward-backward over the segmentation
    lattice. Returns piece -> expected occurrence count under the
    current unigram model, conditioned on the word (sums over all
    segmentations weighted by their posterior). Single-char pieces are
    always in `logp`, so the lattice is never disconnected."""
    n = len(word)
    neg = float("-inf")
    alpha = [neg] * (n + 1)
    beta = [neg] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            lp = logp.get(word[j:i])
            if lp is not None and alpha[j] != neg:
                alpha[i] = _logsumexp2(alpha[i], alpha[j] + lp)
    beta[n] = 0.0
    for i in range(n - 1, -1, -1):
        for j in range(i + 1, min(n, i + max_piece_len) + 1):
            lp = logp.get(word[i:j])
            if lp is not None and beta[j] != neg:
                beta[i] = _logsumexp2(beta[i], lp + beta[j])
    z = alpha[n]
    out: dict[str, float] = {}
    if z == neg:  # unreachable (cannot happen with char coverage)
        return out
    for i in range(n):
        for j in range(i + 1, min(n, i + max_piece_len) + 1):
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is not None and alpha[i] != neg and beta[j] != neg:
                e = math.exp(alpha[i] + lp + beta[j] - z)
                out[piece] = out.get(piece, 0.0) + e
    return out


def word_viterbi(
    word: str, logp: dict[str, float], max_piece_len: int
) -> list[str]:
    """Best segmentation of one word (max total log-prob). Tie rule
    (matters only for exact-tie lattices, but must be fixed for
    determinism): j scans DOWNWARD from i-1, and strict `>` keeps the
    first maximum seen — so on an exact score tie the SHORTEST last
    piece wins. The differential model shares the same rule."""
    n = len(word)
    neg = float("-inf")
    best = [neg] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        # j descending from i-1: shortest last piece wins exact ties
        for j in range(i - 1, max(0, i - max_piece_len) - 1, -1):
            lp = logp.get(word[j:i])
            if lp is not None and best[j] != neg and best[j] + lp > best[i]:
                best[i] = best[j] + lp
                back[i] = j
    pieces: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    return pieces


# ---------------------------------------------------------------------
# Distributed training
# ---------------------------------------------------------------------


def _word_freq_df(
    spark: SparkSession,
    sf_dir: str,
    min_freq: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """(word, freq) as a cached DataFrame — the E-step's input. Unlike
    the BPE trainer's `_collect_word_freqs` this NEVER collects: at
    100 TB the distinct-word table can exceed driver memory, and the
    unigram E-step doesn't need it centralized."""
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
        wf = wf.orderBy(F.col("freq").desc(), F.col("w")).limit(max_words)
    return wf


def _seed_pieces(
    wf: DataFrame, max_piece_len: int, seed_size: int
) -> list[tuple[str, int]]:
    """Seed vocabulary: every substring of every distinct word up to
    `max_piece_len` chars, weighted by word freq — JVM-side double
    explode + one shuffle + TakeOrderedAndProject top-K for the
    multi-char pieces, plus ALL single characters (coverage: the
    lattice must never disconnect). Returns [(piece, weight)] with the
    deterministic (weight desc, piece asc) cut order."""
    subs = (
        wf.select(
            "w",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"),
        )
        .select(
            "w",
            "freq",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len), F.length("w") - F.col("i") + 1
                    ),
                )
            ).alias("len"),
        )
        .select(
            F.expr("substring(w, i, len)").alias("piece"),
            "freq",
            F.col("len"),
        )
        .groupBy("piece", "len")
        .agg(F.sum("freq").alias("weight"))
    )
    # ONE collect for both slices: the char slice and the top-K multi
    # slice share the substring-aggregate subtree, so unioning them
    # lets AQE reuse the (piece, len) exchange — the double explode
    # over the word table runs once instead of once per slice.
    # BOUNDS: chars = |alphabet| rows (Unicode-bounded,
    # corpus-size-independent), multi <= seed_size rows
    # (TakeOrderedAndProject — the only top-K that reaches the
    # driver).
    chars_df = subs.where(F.col("len") == 1).select("piece", "weight")
    multi_df = (
        subs.where(F.col("len") > 1)
        .orderBy(F.col("weight").desc(), F.col("piece"))
        .limit(seed_size)
        .select("piece", "weight")
    )
    return sorted(
        (r["piece"], r["weight"]) for r in chars_df.unionAll(multi_df).collect()
    )


def _normalize_logp(counts: dict[str, int]) -> dict[str, float]:
    """Micro-count table -> log-probs: log(c) - log(total), one
    transcendental per piece on EXACT integers — deterministic.
    Empty table -> empty model (the pruned-to-nothing corpus case)."""
    total = sum(counts.values())
    if total == 0:
        return {}
    lt = math.log(total)
    return {p: math.log(c) - lt for p, c in counts.items() if c > 0}


def unigram_train_table(
    spark: SparkSession,
    sf_dir: str,
    vocab_size: int = 48,
    max_piece_len: int = 5,
    seed_size: int = 64,
    n_iters: int = 2,
    min_freq: int = 1,
    max_words: int | None = None,
) -> list[tuple[str, int]]:
    """Train the unigram vocabulary; returns [(piece, micro_count)]
    sorted by (micro_count desc, piece asc), len <= vocab_size (+
    however many single chars exist). Spark-job budget: 2 seed jobs +
    n_iters E-step aggregates, independent of corpus size. Every
    driver collect is vocabulary-bounded (<= alphabet + seed_size
    rows), never corpus-bounded."""
    sc = spark.sparkContext
    wf = _word_freq_df(spark, sf_dir, min_freq, max_words).cache()
    seed = _seed_pieces(wf, max_piece_len, seed_size)
    if not seed:  # empty / pruned-to-nothing corpus: empty vocabulary
        wf.unpersist(blocking=False)
        return []
    # initial model: probs proportional to substring weight
    logp = _normalize_logp({p: int(w) * _SCALE for p, w in seed})

    counts: dict[str, int] = {}
    for _ in range(n_iters):
        bc = sc.broadcast((logp, max_piece_len))

        def estep(batches):
            lp, mpl = bc.value
            import pandas as pd

            for pdf in batches:
                acc: dict[str, int] = {}
                for w, f in zip(pdf["w"], pdf["freq"]):
                    for piece, e in word_expected_counts(w, lp, mpl).items():
                        # ONE round per (word, piece): exact-int emit
                        acc[piece] = acc.get(piece, 0) + int(
                            round(e * int(f) * _SCALE)
                        )
                yield pd.DataFrame(
                    {
                        "piece": list(acc.keys()),
                        "micro": list(acc.values()),
                    }
                )

        agg = (
            wf.mapInPandas(estep, "piece string, micro long")
            .groupBy("piece")
            .agg(F.sum("micro").alias("micro"))
        )
        # BOUND: |rows| <= |model| = |seed| <= alphabet + seed_size —
        # the E-step only emits pieces already in the broadcast model
        # (word_expected_counts walks the model lattice), so the
        # per-round collect is VOCAB-bounded, never corpus-bounded
        counts = {r["piece"]: int(r["micro"]) for r in agg.collect()}
        logp = _normalize_logp(counts)

    # Drop the word-table cache now that EM is done: Spark's
    # CacheManager matches by logical plan, so a cache
    # left behind would be REUSED by the next identically-built run —
    # a persisted cross-run intermediate the bench must not carry
    # (every invocation computes from the parquet inputs). Intra-run
    # reuse (seed + each E-step) is unaffected.
    wf.unpersist(blocking=False)

    # prune: keep single chars unconditionally + top multi-char pieces
    # by (count desc, piece asc) — every word stays segmentable
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )
    keep_multi = multi[: max(0, vocab_size - len(chars))]
    kept = dict(chars)
    kept.update(dict(keep_multi))
    return sorted(kept.items(), key=lambda t: (-t[1], t[0]))


def unigram_train_vocab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = unigram_train_table(spark, sf_dir)
    return spark.createDataFrame(
        [(i, p, c) for i, (p, c) in enumerate(table)],
        "rank int, piece string, micro_count long",
    )


register(
    "unigram_train_vocab",
    oracle=None,  # iterative EM — not SQL-expressible; ground truth is
    # the brute-force segmentation-enumeration differential + exact
    # rerun determinism (tests/test_unigram.py)
    doc="unigram-LM (SentencePiece) tokenizer TRAINING: JVM-side "
    "substring-explode seed vocab (TakeOrderedAndProject top-K + all "
    "chars), then EM where each E-step is one Arrow mapInPandas over "
    "the CACHED distributed word table with broadcast piece probs and "
    "fixed-point micro-count emission — exact-integer aggregation, "
    "bit-identical across runs and partition counts; the driver holds "
    "only the V-bounded vocabulary (contrast: the BPE trainer "
    "collects the word table). Kudo arXiv:1804.10959; count-based "
    "prune simplification documented in the module docstring."
    " Rows-only verdict (r12): NOT convertible — iterative EM "
    "fixpoint; a SQL oracle would re-implement EM rather than check "
    "it. Ground truth: brute-force segmentation-enumeration "
    "differential + bit-identical rerun determinism across partition "
    "counts (tests/test_unigram.py).",
)(unigram_train_vocab)


def unigram_encode_tokens(
    spark: SparkSession, sf_dir: str, max_piece_len: int = 5
) -> DataFrame:
    """Viterbi-encode the corpus under the trained unigram model:
    per-document unigram token count vs whitespace word count —
    broadcast vocab, one Arrow-vectorized pandas UDF with a per-batch
    distinct-word cache; shuffle-free map-only apply at any corpus
    size (same shape as bpe_encode_tokens' scale path)."""
    from pyspark.sql.functions import pandas_udf

    table = unigram_train_table(spark, sf_dir, max_piece_len=max_piece_len)
    logp = _normalize_logp(dict(table))
    bc = spark.sparkContext.broadcast((logp, max_piece_len))

    @pandas_udf("long")
    def uni_count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # iterator form (guide §4.5): the distinct-word Viterbi cache
        # lives once per TASK and amortizes across every Arrow batch in
        # the partition, instead of resetting every ~10k rows
        lp, mpl = bc.value
        cache: dict[str, int] = {}
        # The per-task cache is otherwise unbounded — on a
        # partition with very high word cardinality it would grow for
        # the task's lifetime (a Python-worker RSS regression at 100 TB
        # scale). 2M entries ≈ low hundreds of MB worst case; clearing
        # only resets amortization, never correctness.
        _CACHE_CAP = 2_000_000

        def doc_len(t):
            if t is None:
                return None
            total = 0
            for w in t.split(" "):
                if not w:
                    continue
                hit = cache.get(w)
                if hit is None:
                    if len(cache) >= _CACHE_CAP:
                        cache.clear()
                    hit = len(word_viterbi(w, lp, mpl))
                    cache[w] = hit
                total += hit
            return total

        for texts in batches:
            yield texts.map(doc_len)

    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    return docs.select(
        "doc_id",
        uni_count("text").alias("unigram_tokens"),
        n_words.alias("word_tokens"),
    )


register(
    "unigram_encode_tokens",
    oracle=None,  # trained-vocab-dependent; ground truth: Viterbi vs
    # brute-force best-segmentation enumeration per distinct corpus
    # word, plus concatenation round-trip (tests/test_unigram.py)
    doc="unigram tokenizer APPLY: Viterbi segmentation under the "
    "EM-trained vocabulary via broadcast table + Arrow pandas UDF "
    "with per-batch word cache — map-only, shuffle-free; emits "
    "per-document subword count vs whitespace-word baseline."
    " Rows-only verdict (r12): NOT convertible — Viterbi under the EM- "
    "trained vocabulary (training-artifact dependency). Ground truth: "
    "Viterbi vs brute-force best-segmentation per distinct word + "
    "concatenation round-trip.",
)(unigram_encode_tokens)
