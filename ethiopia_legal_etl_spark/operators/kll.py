"""From-scratch mergeable quantile sketch (KLL-style; Karnin, Lang,
Liberty, FOCS 2016) — completes the sketch trio next to the built-in
HLL (`sketch_hll_daily_users`) and CMS (`heavy_hitters_cms`) entries:
quantiles are the one sketch family Spark exposes only as a one-shot
aggregate (`approx_percentile`), with no persistable, incrementally
mergeable sketch object. This module provides that object.

Why it matters at 100 TB: the sketch is a few KB regardless of input
size and merges associatively, so per-partition sketches reduce a
full-table quantile question to kilobytes of shuffle-free partials;
persisted per-day sketches answer any-date-range quantile queries
WITHOUT rescanning history (the same incremental-analytics story the
HLL/CMS entries tell, now for percentiles — p99 latency dashboards,
length-distribution drift over corpus snapshots).

Honest simplifications, stated:
- Per-level capacity is a FIXED k (the MRL-style simplification)
  rather than KLL's geometrically decaying capacities — size is
  O(k log(n/k)) instead of O(k), same compaction mechanics.
- Compaction parity ALTERNATES deterministically per level instead of
  a coin flip, so sketch contents are bit-reproducible for a fixed
  input order (partition-indexed merge order pins the distributed
  build). The randomized error guarantee (±ε·n ranks w.h.p.,
  ε ≈ O(log(n/k)/k)) becomes a measured-error gate in
  tests/test_kll.py: worst observed rank error vs exact ranks on
  real + adversarial (sorted / reverse / constant-heavy) inputs must
  stay within the bound with margin.

Distributed shape: one Arrow mapInPandas pass builds a sketch per
partition and emits it as (level, items) rows — bounded:
#partitions × O(k log n) values, never the data. The driver merges
partials in partition order (deterministic) and answers quantile
queries from the merged sketch. At 1000 executors you'd tree-merge
the same rows with a groupBy before the driver step; the merge
operator is associative so both shapes agree.
"""

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


class KLLSketch:
    """Quantile sketch over float64 values. Level h holds items of
    weight 2**h; each level's capacity is `k`. Compacting a full
    level sorts it and promotes every other item (alternating start
    parity) to level h+1; an odd leftover stays behind."""

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError("k too small for a meaningful sketch")
        self.k = k
        self.levels: list[list[float]] = [[]]
        self.parity: list[int] = [0]
        self.n = 0

    def update(self, v: float) -> None:
        self.levels[0].append(float(v))
        self.n += 1
        if len(self.levels[0]) >= self.k:
            self._compress()

    def _compress(self) -> None:
        h = 0
        while h < len(self.levels):
            level = self.levels[h]
            if len(level) >= self.k:
                level.sort()
                start = self.parity[h]
                self.parity[h] ^= 1
                promoted = level[start::2]
                # the odd leftover (when start=0 and len is odd, the
                # last unpaired item would be dropped with its pair
                # weight unaccounted) — classic KLL drops/keeps via the
                # pairing; keep exact weight accounting by leaving an
                # odd tail item at this level un-compacted
                leftover = []
                if len(level) % 2 == 1:
                    # re-run pairing on an even prefix; tail stays
                    tail = level[-1]
                    promoted = level[:-1][start::2]
                    leftover = [tail]
                if h + 1 == len(self.levels):
                    self.levels.append([])
                    self.parity.append(0)
                self.levels[h + 1].extend(promoted)
                self.levels[h] = leftover
            h += 1

    def merge(self, other: "KLLSketch") -> "KLLSketch":
        if other.k != self.k:
            raise ValueError("cannot merge sketches with different k")
        while len(self.levels) < len(other.levels):
            self.levels.append([])
            self.parity.append(0)
        for h, items in enumerate(other.levels):
            self.levels[h].extend(items)
        self.n += other.n
        # restore capacity invariant level by level
        changed = True
        while changed:
            changed = False
            for h in range(len(self.levels)):
                if len(self.levels[h]) >= self.k:
                    self._compress()
                    changed = True
                    break
        return self

    def weighted_items(self) -> list[tuple[float, int]]:
        out = []
        for h, items in enumerate(self.levels):
            w = 1 << h
            out.extend((v, w) for v in items)
        out.sort()
        return out

    def quantile(self, q: float) -> float:
        """Smallest sketched value whose cumulative weight reaches
        q * n (rank-lower-bound convention, matching
        percentile_disc-style semantics up to sketch error)."""
        if not 0.0 <= q <= 1.0:
            raise ValueError("q outside [0, 1]")
        items = self.weighted_items()
        if not items:
            raise ValueError("empty sketch")
        target = q * self.n
        cum = 0
        for v, w in items:
            cum += w
            if cum >= target:
                return v
        return items[-1][0]

    def size_items(self) -> int:
        return sum(len(lv) for lv in self.levels)


def build_partition_sketches(
    df: DataFrame, col: str, k: int = 200
) -> DataFrame:
    """One Arrow pass: per-partition KLL sketches emitted as bounded
    (pid, level, items, n) rows — the only thing that leaves the
    executors. Null values are skipped (SQL aggregate convention)."""

    def sketch_partition(batches):
        sk = KLLSketch(k)
        pid = None
        for pdf in batches:
            if pid is None and len(pdf):
                pid = int(pdf["__pid__"].iloc[0])
            for v in pdf[col]:
                if v is not None and not (
                    isinstance(v, float) and math.isnan(v)
                ):
                    sk.update(float(v))
        if sk.n == 0:
            return
        yield pd.DataFrame(
            {
                "pid": [pid if pid is not None else -1] * len(sk.levels),
                "level": list(range(len(sk.levels))),
                "items": [list(lv) for lv in sk.levels],
                "n": [sk.n] + [0] * (len(sk.levels) - 1),
            }
        )

    return df.select(
        F.col(col), F.spark_partition_id().alias("__pid__")
    ).mapInPandas(
        sketch_partition, "pid int, level int, items array<double>, n long"
    )


def merged_sketch_from_rows(rows, k: int = 200) -> KLLSketch:
    """Driver-side associative merge of partition sketches, in
    partition order (deterministic for a fixed file layout)."""
    by_pid: dict[int, KLLSketch] = {}
    ns: dict[int, int] = {}
    for r in sorted(rows, key=lambda r: (r["pid"], r["level"])):
        sk = by_pid.setdefault(r["pid"], KLLSketch(k))
        while len(sk.levels) <= r["level"]:
            sk.levels.append([])
            sk.parity.append(0)
        sk.levels[r["level"]].extend(r["items"])
        ns[r["pid"]] = ns.get(r["pid"], 0) + int(r["n"])
    merged = KLLSketch(k)
    for pid in sorted(by_pid):
        part = by_pid[pid]
        part.n = ns[pid]
        merged.merge(part)
    return merged


QUANTILES = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)


def sketch_kll_order_prices(
    spark: SparkSession, sf_dir: str, k: int = 200
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rows = build_partition_sketches(orders, "o_totalprice", k).collect()
    sk = merged_sketch_from_rows(rows, k)
    # pruned-to-nothing input: no quantiles, empty result (schema kept)
    out = [] if sk.n == 0 else [(q, sk.quantile(q)) for q in QUANTILES]
    return spark.createDataFrame(out, "quantile double, estimate double")


register(
    "sketch_kll_order_prices",
    oracle=None,  # sketch estimates are engine-specific -> rows-only;
    # ground truth is the measured rank-error gate vs exact ranks and
    # the merge-associativity/determinism properties in
    # tests/test_kll.py
    doc="from-scratch mergeable KLL quantile sketch over "
    "orders.o_totalprice: one mapInPandas pass emits per-partition "
    "sketches as bounded (level, items) rows (KBs, never data), the "
    "driver merges associatively in partition order and answers 7 "
    "quantiles. The persistable/incremental percentile story "
    "approx_percentile (one-shot aggregate) cannot give: per-day "
    "sketches answer any-range quantiles without rescanning history. "
    "Deterministic alternating compaction parity -> bit-reproducible."
    " Rows-only verdict: NOT convertible — KLL compactions are "
    "sequential and level-structured, so the surviving samples depend "
    "on partition-merge order; no closed-form SQL re-derivation "
    "exists. Ground truth: measured rank-error gate vs exact ranks + "
    "merge-associativity/determinism properties (tests/test_kll.py).",
)(sketch_kll_order_prices)
