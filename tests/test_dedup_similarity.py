"""Property tests for the non-oracle-checkable operators (SURVEY.md §7
hard-part (e)): dedup candidate generation and ANN quality, asserted
against exact baselines computed by the engine itself."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_simhash_band,
    simhash_signatures,
)
from ethiopia_legal_etl_spark.operators.similarity import (
    similarity_cosine_topk,
    similarity_ivf_by_label,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
        (4, "completely different text about query engines and shuffles"),
        (5, "another unrelated document mentioning parquet and arrow"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_simhash_identical_texts_identical_signatures(spark, dup_docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(dup_docs).collect()}
    assert sigs[1] == sigs[2]
    # near-dup within small Hamming distance; unrelated far away
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(sigs[1], sigs[3]) <= 12
    assert ham(sigs[1], sigs[4]) > 12


def test_simhash_band_finds_exact_dup_pair(spark, dup_docs, monkeypatch, sf_dir):
    import ethiopia_legal_etl_spark.operators.dedup as dd

    monkeypatch.setattr(
        dd, "load_table", lambda spark_, _dir, _name: dup_docs
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup_simhash_band(spark, sf_dir).collect()}
    assert (1, 2) in pairs


def test_minhash_lsh_pairs_are_plausible(spark, dup_docs, monkeypatch, sf_dir):
    import ethiopia_legal_etl_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "load_table", lambda *_: dup_docs)
    rows = dedup_minhash_lsh(spark, sf_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard_dist"] for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] == 0.0  # exact dup distance 0
    assert all(a < b for a, b in pairs)  # canonical ordering
    assert all(0.0 <= d <= 0.4 for d in pairs.values())  # threshold respected


def test_minhash_lsh_ml_variant_agrees_on_dups(spark, dup_docs, monkeypatch, sf_dir):
    """The unregistered pyspark.ml MinHashLSH original (engine-specific
    hash family, so no oracle) must agree with the registered
    deterministic twin on the planted dup/near-dup pairs."""
    import ethiopia_legal_etl_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "load_table", lambda *_: dup_docs)
    ml = {(r["doc_a"], r["doc_b"]): r["jaccard_dist"]
          for r in dd.minhash_lsh_ml(spark, sf_dir).collect()}
    assert (1, 2) in ml and ml[(1, 2)] == 0.0  # exact dup
    assert (1, 3) in ml and (2, 3) in ml  # near dup (1-token mutation)
    det = {(r["doc_a"], r["doc_b"]) for r in dd.dedup_minhash_lsh(spark, sf_dir).collect()}
    # r10 (ADVICE): don't assert exact pair-set equality — banding
    # recall is <1 (miss prob (1-s)^bands per pair) and the ml hash
    # family is seed/version-derivation dependent, so set(ml) == det
    # could break on a fixture or Spark upgrade with both sides
    # correct. Assert the planted pairs in BOTH plus mutual recall
    # bounds at the shared operating point instead.
    assert {(1, 2), (1, 3), (2, 3)} <= det
    true_pairs = {(1, 2), (1, 3), (2, 3)}
    assert len(ml.keys() & true_pairs) == len(true_pairs)
    # both pair sets live in the same thresholded space; at this tiny
    # fixture they should overlap heavily even if not identically
    overlap = len(set(ml) & det)
    assert overlap >= max(1, int(0.8 * min(len(ml), len(det))))


def test_planted_near_dup_recall(spark, sf_dir, monkeypatch):
    """Plant near-duplicates (2-token mutations of real corpus docs)
    and verify each near-dup method recovers most planted pairs:
    recall is the metric that matters for a dedup pipeline."""
    import ethiopia_legal_etl_spark.operators.dedup as dd
    from ethiopia_legal_etl_spark.sources.tables import load_table

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 50)
        .select("doc_id", "text", "lang")
        .collect()
    )
    rows = []
    planted = set()
    for r in base:
        rows.append((r["doc_id"], r["text"], r["lang"]))
        toks = r["text"].split(" ")
        toks[0], toks[-1] = "mutated", "tokens"  # 2-token mutation
        dup_id = r["doc_id"] + 100  # stays inside the ops' doc_id<300 window
        rows.append((dup_id, " ".join(toks), r["lang"]))
        planted.add((r["doc_id"], dup_id))
    planted_docs = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string"
    )
    monkeypatch.setattr(dd, "load_table", lambda *_: planted_docs)

    # SimHash banding (Hamming ≤ 3 after 2-token mutation of ~25 tokens)
    sim_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.dedup_simhash_band(spark, sf_dir).collect()
    }
    sim_recall = len(planted & sim_pairs) / len(planted)

    # MinHash LSH at 0.4 Jaccard-distance threshold
    mh_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    mh_recall = len(planted & mh_pairs) / len(planted)

    # exact token-set Jaccard >= 0.5
    jc_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    jc_recall = len(planted & jc_pairs) / len(planted)

    assert jc_recall >= 0.9, f"jaccard recall {jc_recall}"
    assert mh_recall >= 0.8, f"minhash recall {mh_recall}"
    assert sim_recall >= 0.5, f"simhash recall {sim_recall}"


def test_banded_jaccard_vs_exact_allpairs_ground_truth(spark, sf_dir):
    """Independent ground truth for the banded generator (the oracle
    mirrors the generator, so a shared banding bug would pass both
    engines — this test does NOT). Exact all-pairs Jaccard over the
    same corpus is the truth set; assertions:
    - banded output ⊆ exact pairs at the same threshold (precision
      100%: every emitted pair truly has Jaccard ≥ 0.5 — guaranteed
      by the verify stage, checked here against an INDEPENDENT path)
    - per-pair jaccard values agree exactly with the all-pairs path
    - recall pinned at measured-minus-5pts (0.9334 measured at
      sf0.001, r=2 b=4 banding; theory floor at s=0.5 is ~0.68 but
      this corpus's true pairs skew high-similarity)
    """
    import ethiopia_legal_etl_spark.operators.dedup as dd
    from ethiopia_legal_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.allpairs_jaccard_blocked(
            docs.withColumn("blk", F.lit(1)), "blk"
        ).collect()
    }
    banded = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.banded_jaccard_pairs(docs).collect()
    }
    assert set(banded) <= set(exact), "banded emitted a pair below threshold"
    assert all(abs(banded[k] - exact[k]) < 1e-9 for k in banded)
    recall = len(banded) / len(exact)
    assert recall >= 0.88, f"banded recall regressed: {recall:.4f} (was 0.9334)"


def test_minhash_lsh_recall_vs_exact_allpairs(spark, sf_dir):
    """Recall gate for the rows-only MinHashLSH entry: candidates at
    Jaccard-distance ≤ 0.4 must recover ≥ 0.91 of the exact all-pairs
    truth at Jaccard ≥ 0.6 (measured 0.9679 at sf0.001; LSH word
    tokenization differs slightly from split-on-space, hence the
    recall < 1 even before banding loss)."""
    import ethiopia_legal_etl_spark.operators.dedup as dd
    from ethiopia_legal_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    exact06 = {
        (r["doc_a"], r["doc_b"])
        for r in dd.allpairs_jaccard_blocked(
            docs.withColumn("blk", F.lit(1)), "blk", threshold=0.6
        ).collect()
    }
    mh = {(r["doc_a"], r["doc_b"]) for r in dd.dedup_minhash_lsh(spark, sf_dir).collect()}
    recall = len(mh & exact06) / max(1, len(exact06))
    assert recall >= 0.91, f"minhash-LSH recall regressed: {recall:.4f} (was 0.9679)"


def test_connected_components_transitive_closure(spark):
    """Known graph: {1-2, 2-3} ∪ {10-11} ∪ isolated-by-selfloop 20-20.
    Components must be the transitive closure with min-id labels."""
    from ethiopia_legal_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 20)], "src: long, dst: long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_chain_converges(spark):
    # a 12-node path graph stresses multi-round propagation (diameter 11)
    from ethiopia_legal_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src: long, dst: long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 12


def test_connected_components_deep_chain_pointer_jump(spark):
    """r14: a chain DEEPER than max_iter hops (diameter 119 >> 20).
    Plain 1-hop min-label propagation (r1-r13) would stop at the
    20-round cap with the cluster silently SPLIT into segments — a
    correctness hazard for boilerplate chains of sliding near-dups at
    100 TB. Pointer jumping (label(label(node)) path halving) must
    resolve it to ONE component in O(log diameter) rounds."""
    from ethiopia_legal_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "src: long, dst: long"
    )
    rounds: list[int] = []
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, rounds_out=rounds).collect()
    }
    assert len(comp) == 120
    assert set(comp.values()) == {0}
    # 3 plain warm-up rounds + ~log2(119) doubling rounds (+1
    # no-change verify); far under the max_iter=20 cap
    assert rounds[0] <= 12


def test_connected_components_stale_observed_sum_keeps_iterating(
    spark, monkeypatch
):
    """The fixpoint test reads the label sum from an observe() metric.
    If that metric reads stale once (a speculative duplicate attempt
    perturbing the accumulator), the loop sees an equal sum before the
    fixpoint. The exact confirmation aggregate must catch it and keep
    iterating to the correct labels."""
    import pyspark.sql

    from ethiopia_legal_etl_spark.operators.dedup import connected_components

    real = pyspark.sql.Observation
    made: list = []

    class StaleOnce(real):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            made.append(self)

        @property
        def get(self):
            # the first round's checkpoint reports the initial sum
            if len(made) >= 2 and self is made[1]:
                return real.get.fget(made[0])
            return real.get.fget(self)

    monkeypatch.setattr(pyspark.sql, "Observation", StaleOnce)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src: long, dst: long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {i: 0 for i in range(12)}
    assert len(made) >= 3, "the loop stopped on the stale reading"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF probes 2 of 10 cells. The synthetic embeddings are isotropic
    (labels barely correlate with cosine neighborhoods — measured mean
    intra-label cosine ≈0.14), so the information-theoretic recall
    ceiling here is ≈ nprobe/ncells ≈ 0.2. Assert recall is consistent
    with probing (≫ the 10/500 random-draw baseline) and that rank
    ordering within the probed cells is exact."""
    exact = similarity_cosine_topk(spark, sf_dir)
    approx = similarity_ivf_by_label(spark, sf_dir)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a_rows = approx.collect()
    a = {(r["q_id"], r["vec_id"]) for r in a_rows}
    recall = len(e & a) / len(e)
    # pinned at measured-minus-5pts (0.22 measured at sf0.001); the
    # old 0.08 probed-fraction floor let a silent halving pass
    assert recall >= 0.17, f"IVF recall regressed: {recall} (was 0.22)"
    # per-query: exactly 10 results, ranked by descending similarity
    by_q: dict = {}
    for r in a_rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rn"])]
        assert sims == sorted(sims, reverse=True)


def test_ivf_kmeans_recall_and_structure(spark, sf_dir):
    """KMeans-learned IVF (k=8, nprobe=2): recall floor = probed
    fraction on isotropic data; rank order within probed cells exact."""
    from ethiopia_legal_etl_spark.operators.similarity import similarity_ivf_kmeans

    exact = {(r["q_id"], r["vec_id"]) for r in similarity_cosine_topk(spark, sf_dir).collect()}
    rows = similarity_ivf_kmeans(spark, sf_dir).collect()
    approx = {(r["q_id"], r["vec_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    # pinned at measured-minus-5pts (0.58 measured at sf0.001, seeded
    # KMeans is deterministic on fixed data)
    assert recall >= 0.53, f"kmeans-IVF recall regressed: {recall} (was 0.58)"
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for rs in by_q.values():
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rn"])]
        assert sims == sorted(sims, reverse=True)


def test_lsh_buckets_recall_vs_brute_force(spark, sf_dir):
    """Recall@10 gate for the rows-only similarity_lsh_buckets entry
    vs the exact cosine top-k ground truth; pinned at
    measured-minus-5pts (0.96 measured at sf0.001)."""
    from ethiopia_legal_etl_spark.operators.similarity import similarity_lsh_buckets

    exact = {(r["q_id"], r["vec_id"]) for r in similarity_cosine_topk(spark, sf_dir).collect()}
    approx = {(r["q_id"], r["vec_id"]) for r in similarity_lsh_buckets(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.91, f"LSH-bucket recall regressed: {recall} (was 0.96)"


def test_brute_force_topk_selfconsistency(spark, sf_dir):
    rows = similarity_cosine_topk(spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == 10
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rn"])]
        assert sims == sorted(sims, reverse=True)  # rank order == sim order
        assert all(-1.0001 <= s <= 1.0001 for s in sims)


def test_oversized_cell_resplit_bounds_verify_work(spark):
    """The bounded-cell guard for the embedding near-dup verify stage:
    a fat label cell (200 vectors, bound 50) must be re-split into
    sub-cells so pair-generation work is ~|cell| * bound, never
    |cell|^2; small cells must be untouched (exact semantics)."""
    from ethiopia_legal_etl_spark.operators.similarity import (
        near_dup_cosine_pairs,
        resplit_oversized_cells,
    )

    # 200 "hot"-label vectors in 10 direction-groups (within-group
    # cosine ~1 -> plenty of true near-dup pairs), 20 "cold" vectors
    rows = []
    for i in range(220):
        label = "hot" if i < 200 else "cold"
        g = i % 10
        e = [0.0] * 12
        e[g] = 1.0
        e[(g + 1) % 12] = 0.01 * (i % 7)  # small within-group jitter
        rows.append((i, label, e))
    d = spark.createDataFrame(rows, "vec_id: long, label: string, e: array<double>")

    split = resplit_oversized_cells(d, "label", "vec_id", max_cell_size=50)
    by_cell = {
        (r["label"], r["sub"]): r["n"]
        for r in split.groupBy("label", "sub").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    hot_subs = {k: v for k, v in by_cell.items() if k[0] == "hot"}
    cold_subs = {k: v for k, v in by_cell.items() if k[0] == "cold"}
    assert len(hot_subs) == 4, f"200/50 must give 4 sub-cells, got {hot_subs}"
    assert cold_subs == {("cold", 0): 20}  # under the bound: untouched
    # bounded work: candidate pairs sum(n_i choose 2) << 200 choose 2
    cand_bounded = sum(n * (n - 1) // 2 for n in hot_subs.values())
    assert cand_bounded < 0.40 * (200 * 199 // 2), f"{cand_bounded} pairs"

    unbounded = {
        (r["vec_a"], r["vec_b"])
        for r in near_dup_cosine_pairs(d, 0.9, max_cell_size=10_000).collect()
    }
    bounded = {
        (r["vec_a"], r["vec_b"])
        for r in near_dup_cosine_pairs(d, 0.9, max_cell_size=50).collect()
    }
    assert bounded <= unbounded  # never invents pairs
    # cells at/under the bound keep exact semantics
    cold_pairs_ub = {p for p in unbounded if p[0] >= 200}
    cold_pairs_b = {p for p in bounded if p[0] >= 200}
    assert cold_pairs_b == cold_pairs_ub and len(cold_pairs_ub) > 0
    # re-split still finds the within-sub-cell share of true pairs
    assert len(bounded) > 0


def test_resplit_strict_mode_fails_loudly_on_oversized_cell(spark):
    """strict=True (oracle-parity mode, r6 ADVICE on dedup_semantic_keep):
    a cell past the bound must FAIL the job, never silently narrow the
    pair set vs a whole-cell SQL oracle; cells under the bound pass
    through with sub == 0."""
    import pyspark.errors

    from ethiopia_legal_etl_spark.operators.similarity import (
        resplit_oversized_cells,
    )

    rows = [(i, "hot" if i < 80 else "cold", [float(i)]) for i in range(100)]
    d = spark.createDataFrame(rows, "vec_id: long, label: string, e: array<double>")

    ok = resplit_oversized_cells(d, "label", "vec_id", 200, strict=True)
    assert {r["sub"] for r in ok.select("sub").distinct().collect()} == {0}

    bad = resplit_oversized_cells(d, "label", "vec_id", 50, strict=True)
    with pytest.raises(Exception) as exc:
        bad.collect()
    assert "max_cell_size" in str(exc.value)


def test_hll_sketch_merge_matches_exact(spark, sf_dir):
    """Merged per-day HLL sketches estimate the global distinct user
    count within HLL's error envelope (lgK=12 default → ~1.6% rse;
    assert 5% to be safe), and per-day event counts reconcile."""
    from ethiopia_legal_etl_spark.operators.aggregates import sketch_hll_daily_users
    from ethiopia_legal_etl_spark.sources.tables import load_table

    row = sketch_hll_daily_users(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    exact = ev.select("user_id").distinct().count()
    assert abs(row["est_distinct_users"] - exact) <= max(1, 0.05 * exact)
    assert row["n_events"] == ev.count()


# ---------- embedding storage ops (JL projection, int8 quantize) ----------


def test_int8_quantize_bounds_and_reconstruction(spark, sf_dir):
    from ethiopia_legal_etl_spark.operators.similarity import (
        embedding_int8_quantize,
    )
    from ethiopia_legal_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    q = embedding_int8_quantize(spark, sf_dir)
    bad = q.where((F.col("q_val") < -127) | (F.col("q_val") > 127)).count()
    assert bad == 0
    # dequantized value within half a quantization step of the original
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select("vec_id", (F.col("pos") + 1).alias("idx"), "x")
    joined = q.join(emb, ["vec_id", "idx"])
    err = joined.select(
        F.max(
            F.abs(
                F.col("q_val") * F.col("scale6") - F.col("x").cast("double")
            )
        ).alias("m"),
        F.max(F.col("scale6")).alias("s"),
    ).first()
    assert err["m"] <= err["s"] * 0.51 + 1e-6  # half-step + scale6 rounding


def test_random_projection_preserves_distances(spark, sf_dir):
    """The JL property this operator exists for: pairwise squared
    distances in the 16-dim projection approximate the 64-dim ones.
    Checked as a strong positive correlation on a 40-vector sample."""
    from ethiopia_legal_etl_spark.operators.similarity import (
        embedding_random_projection,
    )
    from ethiopia_legal_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    orig = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 40)
        .collect()
    }
    proj_rows = (
        embedding_random_projection(spark, sf_dir)
        .where(F.col("vec_id") < 40)
        .collect()
    )
    proj = {}
    for r in proj_rows:
        proj.setdefault(r["vec_id"], {})[r["k"]] = r["proj_q4"] / 1e4
    ids = sorted(orig)
    d_o, d_p = [], []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = orig[ids[i]], orig[ids[j]]
            d_o.append(sum((x - y) ** 2 for x, y in zip(a, b)))
            pa, pb = proj[ids[i]], proj[ids[j]]
            d_p.append(
                sum((pa[k] - pb[k]) ** 2 for k in range(1, 17))
            )
    n = len(d_o)
    mo, mp = sum(d_o) / n, sum(d_p) / n
    cov = sum((a - mo) * (b - mp) for a, b in zip(d_o, d_p)) / n
    vo = sum((a - mo) ** 2 for a in d_o) / n
    vp = sum((b - mp) ** 2 for b in d_p) / n
    corr = cov / (vo**0.5 * vp**0.5)
    # Calibration: freshly-sampled true-random ±1 matrices measure
    # corr 0.32-0.40 at k=16 on this dataset (distance concentration
    # at 64-dim caps it) — the deterministic matrix must be at parity,
    # and far above the 0.15 a degenerate (rank-collapsed) formula
    # scored before the i*k mixing fix.
    assert corr > 0.25, corr


def test_random_projection_matrix_is_not_degenerate():
    """Pin the Rademacher formula's matrix quality so a future edit
    cannot silently reintroduce a rank-collapsed sign pattern (the
    original (i*31+k*17)%7 formula collapsed to a function of i+k)."""
    sign = lambda i, k: (  # noqa: E731 — mirror of _rademacher_sign
        1 if (((i * 89 + k) * (k * 71 + i) + i) % 127) % 2 == 0 else -1
    )
    cols = {k: [sign(i, k) for i in range(1, 65)] for k in range(1, 17)}
    assert max(abs(sum(c)) for c in cols.values()) <= 24  # balanced
    cross = max(
        abs(sum(a * b for a, b in zip(cols[k1], cols[k2])))
        for k1 in range(1, 17)
        for k2 in range(k1 + 1, 17)
    )
    assert cross <= 32  # near-orthogonal columns (random-walk scale)


def test_lsh_tuned_recall_and_candidate_fraction(spark, sf_dir):
    """similarity_lsh_tuned closes the SCALING.md finding (untuned
    r=3.0 retained ~93% of all pairs): the calibrated radius must keep
    the candidate set a small fraction of all pairs WHILE preserving
    top-k recall. Gates at measured-minus-margin: recall 0.96 -> 0.90,
    fraction 0.060 -> 0.15 (sf0.001)."""
    from ethiopia_legal_etl_spark.operators.similarity import (
        similarity_cosine_topk,
        similarity_lsh_tuned,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    truth = {
        (r["q_id"], r["vec_id"])
        for r in similarity_cosine_topk(spark, sf_dir).collect()
    }
    cand = {
        (r["q_id"], r["vec_id"])
        for r in similarity_lsh_tuned(spark, sf_dir).collect()
    }
    recall = len(truth & cand) / len(truth)
    frac = len(cand) / (n * 5)
    assert recall >= 0.90, f"tuned-LSH recall regressed: {recall:.3f}"
    assert frac <= 0.15, f"tuned-LSH candidate fraction blew up: {frac:.3f}"


def test_ivf_partitioned_layout_prunes_at_scan(spark, sf_dir, tmp_path):
    """The IVF operators' 100 TB claim, materialized: the corpus
    written partitionBy(cell) + a probed-cells read must show the cell
    predicate in the scan's PartitionFilters (files of unprobed cells
    never open) and return exactly the probed cells' vectors."""
    from ethiopia_legal_etl_spark.operators.similarity import (
        read_probed_cells,
        write_ivf_partitioned,
    )
    from ethiopia_legal_etl_spark.plans.explain import formatted_plan

    path = str(tmp_path / "ivf")
    cents = write_ivf_partitioned(spark, sf_dir, path, k=8)
    assert len(cents) == 8
    probed = read_probed_cells(spark, path, [1, 3])
    plan = formatted_plan(probed)
    pf = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf and any("cell" in ln for ln in pf), plan
    rows = probed.select("vec_id", "cell").collect()
    assert rows and {r["cell"] for r in rows} <= {1, 3}
    # and the full layout is lossless: union of all cells == corpus
    n_all = spark.read.parquet(path).count()
    n_src = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert n_all == n_src


def test_semantic_dedup_matches_bruteforce_model(spark, sf_dir):
    """dedup_semantic_keep (SemDeDup-adapted lowest-id-witness rule)
    vs an independent brute-force Python model over the same vectors:
    per-label kept/dropped counts must agree exactly, and the rule's
    two invariants hold (every dropped vec has a lower-id same-label
    witness with cos > tau; no kept vec has one)."""
    import math
    from collections import defaultdict

    from ethiopia_legal_etl_spark.operators.similarity import dedup_semantic_keep

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    by_label = defaultdict(list)
    for r in sorted(rows, key=lambda r: r["vec_id"]):
        by_label[r["label"]].append((r["vec_id"], [float(x) for x in r["embedding"]]))

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    want = {}
    for label, vecs in by_label.items():
        kept = dropped = 0
        for i, (vid, e) in enumerate(vecs):
            if any(cos(e, e2) > 0.9 for _, e2 in vecs[:i]):
                dropped += 1
            else:
                kept += 1
        want[label] = (len(vecs), kept, dropped)

    got = {
        r["label"]: (r["n_vecs"], r["n_kept"], r["n_dropped"])
        for r in dedup_semantic_keep(spark, sf_dir).collect()
    }
    assert got == want


def test_cluster_jaccard_partitions_edge_nodes(spark, sf_dir):
    """dedup_cluster_jaccard must be a PARTITION of the banded-edge node
    set: every node in exactly one cluster, component = min(members),
    n_docs/n_dropped consistent with the member list, and members must
    reproduce the independent transitive closure of the edge set."""
    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.operators.dedup import (
        banded_jaccard_pairs,
        dedup_cluster_jaccard,
    )
    from ethiopia_legal_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    pairs = banded_jaccard_pairs(docs, threshold=0.9).collect()
    # independent closure: pure-Python union-find over the same pairs
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["doc_a"]), find(r["doc_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want: dict = {}
    for n in list(parent):
        want.setdefault(find(n), set()).add(n)

    rows = dedup_cluster_jaccard(spark, sf_dir).collect()
    got = {r["component"]: r for r in rows}
    assert set(got) == set(want)
    seen = set()
    for comp, r in got.items():
        # members is a comma-joined STRING (house rule: DRIVER_WINDOW
        # outputs are scalar-only — r7 postmortem)
        assert isinstance(r["members"], str)
        members = [int(x) for x in r["members"].split(",")]
        assert members == sorted(members)
        assert comp == min(members)
        assert r["n_docs"] == len(members)
        assert r["n_dropped"] == len(members) - 1
        assert not (set(members) & seen), "clusters overlap"
        seen |= set(members)
        assert set(members) == want[comp]


def test_substring_fraction_planted_duplicate_span(spark, tmp_path):
    """Plant a 12-token span shared by two docs in otherwise-unique
    text: all 5 of its 8-token windows must be flagged in BOTH docs,
    and a doc of globally unique tokens must have dup_fraction 0."""
    from ethiopia_legal_etl_spark.operators.dedup import (
        dedup_substring_fraction,
    )

    span = " ".join(f"S{j}" for j in range(12))
    rows = [
        (1, "A0 A1 A2 " + span + " A3 A4 A5"),
        (2, "B0 B1 " + span + " B2 B3 B4 B5"),
        (3, " ".join(f"C{j}" for j in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r
        for r in dedup_substring_fraction(spark, str(tmp_path)).collect()
    }
    # doc 1: 18 tokens -> 11 windows; the shared 12-token span yields
    # exactly 5 fully-inside windows, duplicated in doc 2
    assert got[1]["n_grams"] == 11 and got[1]["n_dup_grams"] == 5
    assert got[2]["n_grams"] == 11 and got[2]["n_dup_grams"] == 5
    assert got[3]["n_dup_grams"] == 0 and got[3]["dup_fraction"] == 0.0
    assert got[1]["dup_fraction"] == 5 / 11


def test_mutual_nn_mutuality_property(spark, sf_dir):
    """Every emitted pair must be mutually top-1 under brute-force
    cosine; and no src or tgt appears twice (top-1 each way is a
    partial matching)."""
    from ethiopia_legal_etl_spark.operators.similarity import (
        embedding_mutual_nn,
    )

    pairs = [
        (r["src_id"], r["tgt_id"])
        for r in embedding_mutual_nn(spark, sf_dir).collect()
    ]
    assert pairs
    srcs = [a for a, _ in pairs]
    tgts = [b for _, b in pairs]
    assert len(set(srcs)) == len(srcs) and len(set(tgts)) == len(tgts)

    emb = {
        r["vec_id"]: (r["label"], [float(x) for x in r["embedding"]])
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") < 600)
        .collect()
    }
    import math

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v)))

    a_side = {i: e for i, (lab, e) in emb.items() if lab == 0}
    b_side = {i: e for i, (lab, e) in emb.items() if lab == 1}
    for s, t in pairs:
        best_t = min(
            ((-cos(a_side[s], e), j) for j, e in b_side.items())
        )[1]
        best_s = min(
            ((-cos(b_side[t], e), j) for j, e in a_side.items())
        )[1]
        assert best_t == t and best_s == s, (s, t)


def test_mmr_matches_greedy_python_replay(spark, sf_dir):
    """Bit-exact replay of the MMR greedy selection in Python: same
    shortlist, same step expression 0.7*rel - 0.3*max_sim, same
    tiebreaks — and diversity actually engages (rank-2 is NOT always
    the rank-2 by pure relevance)."""
    import math

    from ethiopia_legal_etl_spark.operators.similarity import (
        retrieval_mmr_rerank,
    )

    got = {}
    for r in retrieval_mmr_rerank(spark, sf_dir).collect():
        got[(r["q_id"], r["mmr_rank"])] = r["vec_id"]

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") < 400)
        .collect()
    }

    def cos(u, v):
        return sum(a * b for a, b in zip(u, v)) / (
            math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v))
        )

    for q_id in (0, 1, 2):
        qe = emb[q_id]
        rels = sorted(
            ((-cos(qe, e), vid) for vid, e in emb.items() if vid >= 3)
        )[:20]
        short = [(vid, -negrel) for negrel, vid in rels]
        sel = [min(short, key=lambda t: (-t[1], t[0]))[0]]
        for _ in (2, 3):
            best = None
            for vid, rel in short:
                if vid in sel:
                    continue
                msim = max(cos(emb[vid], emb[s]) for s in sel)
                score = 0.7 * rel - 0.3 * msim
                key = (-score, vid)
                if best is None or key < best[0]:
                    best = (key, vid)
            sel.append(best[1])
        assert [got[(q_id, k)] for k in (1, 2, 3)] == sel, q_id
        # diversity engaged for at least one query overall is asserted
        # outside the loop
    pure_rank2 = {}
    for q_id in (0, 1, 2):
        qe = emb[q_id]
        rels = sorted(
            ((-cos(qe, e), vid) for vid, e in emb.items() if vid >= 3)
        )
        pure_rank2[q_id] = rels[1][1]
    assert any(
        got[(q, 2)] != pure_rank2[q] for q in (0, 1, 2)
    ), "MMR never diverged from pure relevance — diversity term inert"


def test_reliable_barrier_mode_matches_localcheckpoint(
    spark, sf_dir, tmp_path_factory
):
    """SCALING.md checkpoint posture: with
    spark.ethiopia_legal_etl.reliableBarriers=true AND a checkpoint dir
    set, the ml reorder barriers write a RELIABLE checkpoint
    (fault-tolerant storage — survives executor loss) instead of
    executor-local blocks, with IDENTICAL results. Default stays
    localCheckpoint (strictly faster at test scale), so this flips the
    conf for one run and restores it."""
    from ethiopia_legal_etl_spark.operators.similarity import (
        RELIABLE_BARRIERS_CONF,
        similarity_lsh_buckets,
    )

    base = {
        (r["q_id"], r["vec_id"])
        for r in similarity_lsh_buckets(spark, sf_dir).collect()
    }
    ckpt = tmp_path_factory.mktemp("reliable_ckpt")
    spark.sparkContext.setCheckpointDir(str(ckpt))
    spark.conf.set(RELIABLE_BARRIERS_CONF, "true")
    try:
        reliable = {
            (r["q_id"], r["vec_id"])
            for r in similarity_lsh_buckets(spark, sf_dir).collect()
        }
    finally:
        # restore BOTH pieces of leaked session state: the
        # conf flag AND the checkpoint dir — a later test flipping
        # reliableBarriers (or any code reading getCheckpointDir) must
        # see the shared fixture as it found it. Scala's
        # setCheckpointDir wraps the arg in Option(), so null clears it.
        spark.conf.set(RELIABLE_BARRIERS_CONF, "false")
        spark.sparkContext.setCheckpointDir(None)
    assert spark.sparkContext.getCheckpointDir() is None
    assert reliable == base
    assert any(ckpt.rglob("*")), "barrier wrote no reliable checkpoint files"
