"""Materialize an sfN-equivalent dataset by key-consistent replication
of an existing sf dir (default: sf0.1 ×10 ≈ sf1). The driver provides
no sf1 parquet, and /root/testdata is read-only, so the only honest way
to give the bench a 10×-data point is derived data in scratch.

Key domains shift CONSISTENTLY across tables (copy i adds i×|domain|
to orderkey/custkey/partkey/suppkey on every table referencing them),
so join cardinalities scale like a real bigger database instead of
degenerating. Fixed-size dims (nation, region) are copied verbatim —
exactly how TPC-H itself scales.

`replicate_sf` is the repo's one table replicator (tools/scale_probe.py
runs registry queries on its output); `write_copies` is the
union-of-copies writer under it.

Usage: python tools/make_sf_replica.py OUT_DIR [--factor 10] [--src /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import functools
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ethiopia_legal_etl_spark.session import get_spark  # noqa: E402

# table -> {column: key_domain}; domains owned by the dim that defines them
SHIFTS = {
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
DOMAIN_OWNER = {
    "orderkey": ("orders", "o_orderkey"),
    "custkey": ("customer", "c_custkey"),
    "partkey": ("part", "p_partkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}
VERBATIM = ("nation", "region")


def write_copies(base: DataFrame, factor: int, copy, path: str) -> None:
    """Write the union of `factor` copies of `base` (copy i is
    `copy(base, i)`) to parquet at `path` as max(8, 2×factor) files, so
    scans of the copy parallelize like a real table's."""
    functools.reduce(
        DataFrame.unionByName, (copy(base, i) for i in range(factor))
    ).repartition(max(8, factor * 2)).write.mode("overwrite").parquet(path)


def replicate_sf(spark, src: str, out_dir: str, factor: int) -> str:
    """Key-consistent `factor`-fold copy of every table of sf dir `src`
    into `out_dir`; returns `out_dir`."""
    offsets = {
        dom: spark.read.parquet(f"{src}/{t}.parquet").agg(F.max(c)).first()[0] + 1
        for dom, (t, c) in DOMAIN_OWNER.items()
    }
    for t in (*VERBATIM, *SHIFTS):
        base = spark.read.parquet(f"{src}/{t}.parquet")
        path = f"{out_dir}/{t}.parquet"
        if t in VERBATIM:
            base.write.mode("overwrite").parquet(path)
            continue
        cols = SHIFTS[t]
        write_copies(base, factor, lambda df, i: df.withColumns(
            {c: F.col(c) + F.lit(i * offsets[dom]) for c, dom in cols.items()}
        ), path)
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    spark = get_spark(app_name="make-sf-replica")
    replicate_sf(spark, args.src, args.out_dir, args.factor)
    print(f"x{args.factor} of {args.src} -> {args.out_dir}")


if __name__ == "__main__":
    main()
