"""Scale probe: measure how the engine behaves as data grows beyond
sf0.1.

The default run times the registry queries in SWEEP on key-consistent
replicas of sf0.1 (tools/make_sf_replica.py) at each of --factors
(default 1×/10×/30×, 600k → 18M lineitem rows), then a manufactured
hot-key skew-join stress with AQE on vs off. Each `--<probe>` flag
(one per PROBES entry: --big-skew, --scanfidelity) adds one
experiment. Every timing goes through bench.run_query; all times are
build+write seconds of one run after a discarded warm run unless a
probe says otherwise.

Writes derived data to a scratch dir (never touches /root/testdata)
and prints one JSON line per record. Results are summarized in
SCALING.md.

Usage: python tools/scale_probe.py [--factors 1,10,30] [--keep]
       [--big-skew] [--scanfidelity]
"""

from __future__ import annotations

import argparse
import itertools
import json
import multiprocessing
import shutil
import sys
import tempfile
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bench import run_query  # noqa: E402
from ethiopia_legal_etl_spark.session import get_spark  # noqa: E402
from tools.make_sf_replica import replicate_sf  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

# Registry entries the default run times at every --factors point: the
# scan aggregate, the join, the per-key window and the hash dedup.
SWEEP = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_rank_orders",
    "dedup_exact_hash",
)

# AQE skew-join settings: SMALL_SKEW scales the split threshold down so
# a local hot partition (tens of MB) exercises the skew-split path;
# DEFAULT_SKEW restores Spark's cluster-sized defaults.
SMALL_SKEW = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
}
DEFAULT_SKEW = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
}


def aqe(on: str) -> dict[str, str]:
    return {
        "spark.sql.adaptive.enabled": on,
        "spark.sql.adaptive.skewJoin.enabled": on,
    }


def set_confs(spark, confs: dict[str, str]) -> None:
    for k, v in confs.items():
        spark.conf.set(k, v)


def sec(spark, name: str, build=None, sf_dir: str | None = None) -> float:
    """Build+write seconds of one bench.run_query run of `name` (a
    registry entry over `sf_dir`, or the zero-argument `build`), after
    one discarded warm run."""
    run_query(spark, name, sf_dir, True, build)
    return round(run_query(spark, name, sf_dir, True, build), 3)


def sweep(spark, scratch: str, factors: list[int]):
    for factor in factors:
        d = SF_DIR if factor == 1 else replicate_sf(
            spark, SF_DIR, f"{scratch}/x{factor}", factor
        )
        for name in SWEEP:
            yield {"exp": name, "factor": factor, "sec": sec(spark, name, sf_dir=d)}


def skew_stress(spark, scratch: str):
    """Hot-key join: 50% of a 6M-row fact hits ONE key. Compare AQE
    skew-join on vs off."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    fact = li.withColumn(
        "k",
        F.when(F.rand(42) < 0.5, F.lit(0)).otherwise(
            (F.rand(43) * 100000).cast("long")
        ),
    ).select("k", "l_quantity")
    fact = fact.unionByName(fact).unionByName(fact)  # ~1.8M rows @ sf0.1 x3
    dim = spark.range(100001).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    fact.write.mode("overwrite").parquet(f"{scratch}/skew_fact.parquet")
    dim.write.mode("overwrite").parquet(f"{scratch}/skew_dim.parquet")
    f_ = spark.read.parquet(f"{scratch}/skew_fact.parquet")
    d_ = spark.read.parquet(f"{scratch}/skew_dim.parquet")

    def join():
        return (
            f_.join(d_.hint("merge"), "k")  # force SMJ so skew matters
            .groupBy("grp")
            .agg(F.sum("l_quantity").alias("s"))
        )

    times = {}
    for on in ("true", "false"):
        set_confs(spark, {**aqe(on), **(SMALL_SKEW if on == "true" else {})})
        times[f"aqe_{on}"] = sec(spark, "skew_join", join)
    set_confs(spark, {**aqe("true"), **DEFAULT_SKEW})
    yield {"exp": "skew_join", **times}


def big_skew(spark, scratch: str):
    """60M-row hot-key AQE skew-split experiment (~5 min).

    50% of the fact on ONE key (~480 MB hot partition — above the
    DEFAULT 256 MB AQE skew threshold). SMJ + groupBy, AQE on vs off.
    Measured 2026-08-13: aqe_true 6.3s vs aqe_false 13.7s (2.2×), with
    `skew=true` on the join in the executed adaptive plan."""
    fact = spark.range(60_000_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 1_000_000)
        .alias("k"),
        (F.rand(7) * 100).alias("v"),
    )
    fact.write.mode("overwrite").parquet(f"{scratch}/bigfact")
    dim = spark.range(1_000_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    dim.write.mode("overwrite").parquet(f"{scratch}/bigdim")
    f_ = spark.read.parquet(f"{scratch}/bigfact")
    d_ = spark.read.parquet(f"{scratch}/bigdim")

    def join():
        return f_.join(d_.hint("merge"), "k").groupBy("grp").agg(F.sum("v").alias("s"))

    res = {}
    for on in ("true", "false"):
        set_confs(spark, aqe(on))
        res[f"aqe_{on}"] = sec(spark, "big_skew", join)
    set_confs(spark, aqe("true"))
    joined = f_.join(d_.hint("merge"), "k").select("grp", "v")
    joined.foreach(lambda r: None)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    res["skew_marker"] = "skew=true" in plan
    yield {"exp": "big_skew", **res}


def _scanfidelity_run(conn, cores: int, d: str, mode: str) -> None:
    """One scanfidelity measurement in a fresh local[cores] session
    (run in a spawned process, so each gets its own JVM): 4 write-only
    runs of `mode` over lineitem in `d`, sent back through `conn` as
    (runs, None), or (None, traceback) on failure."""
    try:
        spark = get_spark(
            app_name="scanfid-worker",
            master=f"local[{cores}]",
            # emulate the 100 TB condition where every parquet file
            # meets or exceeds the split size (there: >=128m files
            # under the default maxPartitionBytes): the probe's 90x
            # table is ~2GB in 32 x ~60MB files, which the default 128m
            # split would PACK into fewer tasks (openCost 4m) and the
            # cores axis would saturate for packing reasons, not plan
            # reasons (at 30x the default split gives ~7 tasks).
            extra_conf={
                "spark.sql.files.maxPartitionBytes": "16m",
                "spark.sql.files.openCostInBytes": "0",
            },
        )

        # cpu mode: a compute-dominated aggregate over the same scan
        # (one sha2 per row) — separates task-fan-out capacity from
        # q1's memory-bandwidth-bound decode+sum
        def sha2_control():
            li = spark.read.parquet(f"{d}/lineitem.parquet")
            return (
                li.select(F.sha2(F.concat_ws(
                    "|", "l_orderkey", "l_linenumber", "l_shipdate"), 256).alias("h"))
                .groupBy((F.crc32(F.col("h")) % 7).alias("b")).count()
            )

        name, build = (
            ("q1_pricing_summary", None) if mode == "q1"
            else ("scanfidelity_cpu", sha2_control)
        )
        conn.send(([round(run_query(spark, name, d, build=build), 3)
                    for _ in range(4)], None))
    except BaseException:
        conn.send((None, traceback.format_exc()))
        raise


def scanfidelity_probe(spark, scratch: str):
    """Core-scaling of q1's aggregate on splittable (32-file) vs single-file 90x lineitem, fresh local[8]/local[32] sessions (~4 min).

    Scan-parallelism fidelity: every bench base table is ONE
    single-row-group parquet file, so each scan stage is
    ONE task regardless of core count and the TPC-H heads read
    core-count-flat in the driver's c8/c32 block — a testdata-layout
    artifact, not a plan property. This probe rewrites a 90x lineitem
    into (a) a single file (the testdata layout) and (b) 32 files (a
    real table's splittable layout) and runs the REGISTERED
    q1_pricing_summary in FRESH spawned-process sessions at local[8]
    and local[32] against each. Fidelity claim: on the splittable
    layout the 8->32 speedup is >= 0.5 x the cores ratio; on the
    single-file layout it stays ~flat. Curves pinned in SCALING.md
    §scanfidelity.
    """
    # 90x (54M rows): at 10x the whole aggregate is ~4 core-seconds
    # and saturates by 8 cores on any layout; at 30x the
    # c8 split run is ~0.9 s, of which ~0.5 s is fixed multi-stage/AQE
    # floor, so the cores axis still reads ~1.1x. 90x puts ~2.5 s of
    # work at c8 so the compute term dominates the floor.
    base = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    big = base.crossJoin(spark.range(90).select(F.col("id").alias("_dup"))).drop(
        "_dup"
    )
    layouts = {
        "single_file": (f"{scratch}/scanfid_1", 1),
        "split_32": (f"{scratch}/scanfid_32", 32),
    }
    for d, n in layouts.values():
        big.repartition(n).write.mode("overwrite").parquet(
            f"{d}/lineitem.parquet"
        )
    ctx = multiprocessing.get_context("spawn")
    meds: dict[tuple[str, str, int], float] = {}
    jobs = [("q1", layout) for layout in layouts] + [("cpu", "split_32")]
    for mode, layout in jobs:
        for cores in (8, 32):
            recv, send = ctx.Pipe(duplex=False)
            p = ctx.Process(
                target=_scanfidelity_run,
                args=(send, cores, layouts[layout][0], mode),
            )
            p.start()
            send.close()  # the child now holds the only write end
            try:
                runs, err = (
                    recv.recv() if recv.poll(900) else (None, "no result in 900 s")
                )
            except EOFError:  # the child died before sending
                runs, err = None, None
            p.join(60)
            if p.is_alive():
                p.kill()
                p.join()
            if runs is None or p.exitcode != 0:
                raise RuntimeError(
                    f"scanfidelity worker {mode}/{layout}/local[{cores}] "
                    f"failed (exit {p.exitcode}):\n{(err or '')[-2000:]}"
                )
            meds[(mode, layout, cores)] = sorted(runs[1:])[1]
            yield {
                "exp": f"scanfidelity_{mode}",
                "layout": layout,
                "cores": cores,
                "runs": runs,
                "median": meds[(mode, layout, cores)],
            }
    for mode, layout in jobs:
        c8 = meds[(mode, layout, 8)]
        c32 = meds[(mode, layout, 32)]
        yield {
            "exp": f"scanfidelity_{mode}_ratio",
            "layout": layout,
            "speedup_8_to_32": round(c8 / c32, 2) if c32 else None,
            "cores_ratio": 4.0,
        }


# `--<name>` flag -> probe; drives both the argument parser (help text
# is the probe's docstring summary line) and the run loop, in this order.
PROBES = {
    "big-skew": big_skew,
    "scanfidelity": scanfidelity_probe,
}


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--factors", default="1,10,30")
    ap.add_argument("--keep", action="store_true")
    for name, probe in PROBES.items():
        ap.add_argument(f"--{name}", action="store_true",
                        help=probe.__doc__.split("\n")[0])
    return ap


def main() -> None:
    args = parser().parse_args()
    factors = [int(x) for x in args.factors.split(",")]
    chosen = [p for n, p in PROBES.items() if getattr(args, n.replace("-", "_"))]
    spark = get_spark(app_name="scale-probe")
    scratch = tempfile.mkdtemp(prefix="elel_scale_")
    try:
        for rec in itertools.chain(
            sweep(spark, scratch, factors),
            skew_stress(spark, scratch),
            *(probe(spark, scratch) for probe in chosen),
        ):
            print(json.dumps(rec), flush=True)
    finally:
        if not args.keep:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
