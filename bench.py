"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full compute, no
driver collect overhead). One warm-up run of a trivial count first so
JVM/codegen startup isn't billed to the first query.

Self-attribution (neighbor contention on a shared VM can masquerade
as a code regression, so every run carries its own contention
readings):
- every RUN records its /proc/stat CPU-steal delta and the 1-min
  loadavg at run end (detail line: "steal_pct" / "load1" aligned with
  "detail_runs"; summary line: max/mean steal over all runs), so a
  contended reading is diagnosable from the JSON alone;
- `python bench.py --ab REF_DIR` interleaves THIS tree with a pinned
  prior tree (e.g. a git worktree at an old commit) query-by-query:
  two persistent `bench.py --worker TREE SF_DIR` subprocesses (one
  SparkSession each, timed by this tree's run_query, so JVM
  startup is paid once per tree) alternate cur/ref runs minutes —
  actually seconds — apart, which cancels host drift the way the
  judge's manual A/B did. Output: one JSON line with per-query
  cur/ref medians and ratios.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

# Package imports stay inside functions: `--worker TREE` must import
# ethiopia_legal_etl_spark from TREE, not from this checkout.
REPO = str(Path(__file__).resolve().parent)

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "sql_q6_forecast_revenue",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_revenue",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q21_sole_return_supplier",
    "window_running_user_value",
    "window_range_7day_frame",
    "topk_orders_by_price",
    "asof_error_prev_purchase",
    "interval_join_error_purchase",
    "dedup_exact_hash",
    "dedup_ngram_jaccard",
    "dedup_simhash_band",
    "text_term_frequency",
    "text_tfidf_top_terms",
    "similarity_cosine_topk",
    "timeseries_gapfill_locf",
    "stream_tumbling_window",
    "stream_session_window",
    "doc_record_projection",
    "multimodal_decode_stub",
    "pipeline_training_corpus",
]

# Secondary (non-headline) section: the r5 Python-stage heavyweights.
# NOT part of the frozen headline total — the 27-query set predates
# them and stays comparable across rounds — but timed and reported
# each round so perf regressions in the mapInPandas codec/archive
# operators are visible. r6 is their baseline.
SECONDARY = [
    "warc_to_text_pipeline",
    "multimodal_decode_audio_compressed",
    # r6: the Layer I decoder is the round's Python-stage heavyweight
    "multimodal_decode_mpeg1",
    # r6 (late): the two-pass DSIR scorer is the round's heaviest new
    # relational plan (corpus explode x2 + broadcast weight join)
    "dsir_importance_select",
    # r6 (late): EM train + Viterbi encode in one entry — the
    # mapInPandas E-step/encode heavyweight (operators/unigram.py)
    "unigram_encode_tokens",
    # r7: the two most expensive r6-late shapes with no
    # round-over-round tracking — distributed EM over the word table,
    # and the iterative min-label fixpoint closure. r7 is their baseline.
    "unigram_train_vocab",
    "dedup_cluster_jaccard",
    # r7: corpus-wide 8-token-gram count + join back — the heaviest
    # new shuffle shape this round. r7 is its baseline.
    "dedup_substring_fraction",
]


LOAD_START = os.getloadavg()


def read_cpu_times() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat's aggregate cpu line.
    Steal only counts hypervisor-withheld time; memory-bandwidth
    contention is invisible here (r10's confound), which is exactly
    why the A/B mode below exists — but an episodic steal burst (like
    the 49 s dedup_substring_fraction outlier the r10 judge hit) shows
    up per-run instead of being argued from medians."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    vals = [int(x) for x in fields[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / dt, 2) if dt > 0 else 0.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = open_session("ethiopia-legal-etl-spark-bench", sf_dir)

    # 4 runs per query: run 1 pays one-time codegen/JIT and is dropped;
    # report the MEDIAN of the remaining 3 (robust to one noisy run)
    # plus the spread (max-min of those 3) so ±15% machine noise is
    # visible instead of masquerading as a perf change across rounds.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    min_timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    run_steal: dict[str, list[float]] = {}
    run_load1: dict[str, list[float]] = {}

    def time_query(name: str, include_build: bool = False) -> None:
        runs: list[float] = []
        steals: list[float] = []
        loads: list[float] = []
        for _ in range(4):
            cpu0 = read_cpu_times()
            runs.append(run_query(spark, name, sf_dir, include_build))
            steals.append(steal_pct(cpu0, read_cpu_times()))
            loads.append(round(os.getloadavg()[0], 2))
        all_runs[name] = [round(r, 3) for r in runs]
        run_steal[name] = steals
        run_load1[name] = loads
        steady = sorted(runs[1:])
        timings[name] = round(steady[len(steady) // 2], 3)
        spreads[name] = round(steady[-1] - steady[0], 3)
        min_timings[name] = round(steady[0], 3)

    for name in HEADLINE:
        time_query(name)
    for name in SECONDARY:
        time_query(name, include_build=True)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_end = os.getloadavg()
    # Detail line first (full per-run raw timings + spreads + per-run
    # steal/load vectors — for a human or the repo's own round notes),
    # THEN the compact summary as the FINAL stdout line: the driver
    # keeps only the last ~2000 bytes of stdout, so everything the
    # cross-round comparison needs must fit in that one last line.
    # Per-run steal vectors live HERE, never in the summary: putting
    # them in the summary line pushed it past 4 KB in r11 and the
    # driver's tail cut off the headline value — build_summary()
    # enforces the byte budget.
    print(
        json.dumps(
            {
                "detail_runs": all_runs,
                "spread": spreads,
                # full per-query per-run steal vectors — this IS the
                # r11 "steal_pct_runs" attribution, relocated out of
                # the summary line; the >0.5%-filtered duplicate that
                # briefly sat beside it was dropped
                "steal_pct": run_steal,
                "load1": run_load1,
            }
        )
    )
    print(
        build_summary(
            timings, min_timings, all_runs, run_steal, run_load1,
            sf, LOAD_START, load_end,
        )
    )


def open_session(app_name: str, sf_dir: str):
    """The engine's SparkSession with one trivial job already run, so
    JVM start, the parquet footer cache and codegen warm-up are not
    billed to the first timed query."""
    from ethiopia_legal_etl_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    return spark


def run_query(
    spark, name: str, sf_dir: str | None = None, include_build: bool = False,
    build=None,
) -> float:
    """Seconds for one run of a query: the only timing loop behind
    bench.py, its A/B workers, tools/microbench.py and
    tools/scale_probe.py.

    Sets the Spark job description to `name` (outside the timed span),
    builds the DataFrame, forces it through the noop sink, and returns
    the write time, or the build+write time with `include_build`.
    HEADLINE builders are pure lazy plan construction, so the frozen
    headline times only the write; SECONDARY entries run iterative
    work eagerly inside the builder (localCheckpoint fixpoints,
    distributed EM), so they must be timed build+write.

    The builder is registry entry `name` over `sf_dir` unless `build`,
    a zero-argument callable returning a DataFrame, is given.
    """
    if build is None:
        from ethiopia_legal_etl_spark.operators.registry import all_queries

        build = functools.partial(all_queries()[name].builder, spark, sf_dir)
    spark.sparkContext.setJobDescription(name)
    t0 = time.perf_counter()
    df = build()
    if not include_build:
        t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# Hard budget for the final stdout line. The driver records only the
# last ~2000 bytes of stdout; BENCH_r11.json came back "parsed": null
# because the summary line grew past 4 KB. r10's line
# was 1462 bytes, so 1800 leaves headroom for timing-digit drift while
# still fitting the 2000-byte tail. tests/test_bench_contract.py
# builds a worst-case summary and asserts this budget.
SUMMARY_MAX_BYTES = 1800


def build_summary(
    timings: dict[str, float],
    min_timings: dict[str, float],
    all_runs: dict[str, list[float]],
    run_steal: dict[str, list[float]],
    run_load1: dict[str, list[float]],
    sf: str,
    load_start: tuple[float, float, float],
    load_end: tuple[float, float, float],
) -> str:
    """The ONE machine-readable line the driver parses. Everything
    per-run or per-query-vector goes in the detail line instead —
    this line carries only scalars plus the two frozen per-query
    median dicts, and is size-asserted at < SUMMARY_MAX_BYTES."""
    headline_t = {n: timings[n] for n in HEADLINE}
    flat_steal = [s for v in run_steal.values() for s in v]
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": round(sum(headline_t.values()), 3),
            "unit": "sec",
            "queries": headline_t,
            "n_runs": 4,
            "stat": "median_of_last_3",
            # per-run totals over the frozen headline set: run 1
            # includes one-time codegen; a noisy-box episode shows
            # as disagreement among runs 2-4
            "run_totals": [
                round(sum(all_runs[n][i] for n in HEADLINE), 3)
                for i in range(4)
            ],
            # r2 and earlier reported best-of-3; emitted alongside
            # so cross-round diffs don't read the r3 methodology
            # change as a perf change
            "value_min_of_runs": round(
                sum(min_timings[n] for n in HEADLINE), 3
            ),
            # non-headline heavyweights (frozen total excludes them);
            # timed as build+write since r7 (iterative ops compute
            # eagerly inside builder)
            "secondary_stat": "build_plus_write",
            "secondary": {n: timings[n] for n in SECONDARY},
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            # host load at start/end of the measured window
            # (BENCH_r04's uniform +13% diagnosis)
            "load_avg_start": [round(x, 2) for x in load_start],
            "load_avg_end": [round(x, 2) for x in load_end],
            # steal aggregates only — the per-run vectors are in the
            # detail line; a nonzero max still flags
            # an episodic contention burst from this line alone
            "steal_pct_max": max(flat_steal) if flat_steal else 0.0,
            "steal_pct_mean": round(
                sum(flat_steal) / len(flat_steal), 2
            ) if flat_steal else 0.0,
            "load1_max": max(
                (x for v in run_load1.values() for x in v), default=0.0
            ),
        }
    )
    if len(line.encode()) >= SUMMARY_MAX_BYTES:
        # Never let the full summary overflow the driver's tail the
        # way r11's did: degrade to an ultra-compact core that always
        # fits. The unit test treats reaching this branch as a
        # failure, so in-repo growth is caught before the driver runs.
        line = json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(headline_t.values()), 3),
                "unit": "sec",
                "run_totals": [
                    round(sum(all_runs[n][i] for n in HEADLINE), 3)
                    for i in range(4)
                ],
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "steal_pct_max": max(flat_steal) if flat_steal else 0.0,
                "truncated": True,
            }
        )
    return line


def worker(tree: str, sf_dir: str) -> None:
    """`bench.py --worker TREE SF_DIR`: one A/B side. Imports
    ethiopia_legal_etl_spark from TREE (this checkout is taken off
    sys.path, so a TREE without the package fails loudly instead of
    timing this checkout), prints READY once its session is warm, then
    answers each stdin line `RUN name [build]` with `T <seconds>` or
    `E <exception type>`, timed by this checkout's run_query, until
    `EXIT` or end of input."""
    sys.path[:] = [tree] + [
        p for p in sys.path if os.path.realpath(p or ".") != REPO
    ]
    spark = open_session("bench-ab-worker", sf_dir)
    print("READY", flush=True)
    for line in sys.stdin:
        parts = line.split()
        if not parts or parts[0] == "EXIT":
            break
        try:
            t = run_query(spark, parts[1], sf_dir, parts[2:] == ["build"])
            print(f"T {t:.3f}", flush=True)
        except Exception as e:
            print(f"E {type(e).__name__}", flush=True)


def main_ab(ref_dir: str, only: list[str] | None = None) -> None:
    """Interleaved A/B: this tree vs a pinned prior tree, one
    persistent worker subprocess (and SparkSession/JVM) per tree,
    alternating cur/ref runs per query so host drift hits both sides
    equally. The r10 dispute (a +27% 'regression' that was 90% host)
    needed a judge-side manual worktree A/B; this automates it.

    `only` (CLI: --only name1,name2) restricts to a subset — re-checking
    ONE anomalous entry shouldn't cost the full ~15-minute sweep (the
    r12 audio-entry artifact chase motivated this). The headline-ratio
    summary value is then computed over the subset's headline members
    and labeled ab_subset_ratio so a partial ratio can't be read as
    the frozen headline number."""
    # validate the subset BEFORE spawning workers — a SystemExit after
    # spawn orphans two JVMs (caught by driving the error path during
    # the r12 --only smoke test)
    all_names = HEADLINE + SECONDARY
    if only:
        unknown = [n for n in only if n not in all_names]
        if unknown:
            raise SystemExit(f"--only names not benched: {unknown}")
        all_names = [n for n in all_names if n in set(only)]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ref_dir = str(Path(ref_dir).resolve())

    def spawn(tree: str, timeout_s: float = 300.0) -> subprocess.Popen:
        import select

        # stderr goes to a file, not a pipe: nobody drains it during a
        # long sweep, and a full pipe would block the worker
        err = tempfile.TemporaryFile("w+")
        p = subprocess.Popen(
            [sys.executable, str(Path(__file__).resolve()), "--worker", tree,
             sf_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=err, text=True, cwd=tree,
        )

        def failed(why: str) -> RuntimeError:
            p.kill()
            p.wait()
            err.seek(0)
            tail = err.read()[-2000:]
            return RuntimeError(f"worker for {tree} {why}; stderr tail:\n{tail}")

        deadline = time.monotonic() + timeout_s
        buf = ""
        while time.monotonic() < deadline:
            if p.poll() is not None:
                raise failed(f"died before READY (exit {p.returncode})")
            r, _, _ = select.select([p.stdout], [], [], 1.0)
            if not r:
                continue
            buf += p.stdout.readline()
            if "READY" in buf:
                return p
        raise failed(f"not READY within {timeout_s:.0f}s")

    # spawn both under a guard: if the ref tree's worker fails (bad
    # path, missing package, hung Spark startup), the already-running
    # cur worker's JVM must not be orphaned (r11 self-review)
    workers: dict[str, subprocess.Popen] = {}
    try:
        workers["cur"] = spawn(REPO)
        workers["ref"] = spawn(ref_dir)
    except BaseException:
        for w in workers.values():
            w.kill()
        raise

    def run_one(side: str, name: str, build: bool) -> float | None:
        # A worker that dies mid-benchmark (e.g. Spark OOM) surfaces
        # as BrokenPipeError on write or an empty readline — return
        # None so the query is recorded as failed on THIS side instead
        # of aborting the whole A/B with an uncaught exception and an
        # orphaned surviving JVM.
        w = workers[side]
        try:
            w.stdin.write(f"RUN {name}{' build' if build else ''}\n")
            w.stdin.flush()
            out = w.stdout.readline().split()
        except (OSError, BrokenPipeError, ValueError):
            return None
        # a worker dying mid-write can emit a bare "T" with no number,
        # or a garbled token ("T 1.2x" from an interleaved/partial
        # write) — parse inside the guard so malformed output is a
        # per-side failure, not an A/B-aborting ValueError
        if len(out) >= 2 and out[0] == "T":
            try:
                return float(out[1])
            except ValueError:
                return None
        return None

    result: dict[str, dict] = {}
    steals: list[float] = []
    try:
        for name in all_names:
            build = name in SECONDARY
            runs: dict[str, list[float]] = {"cur": [], "ref": []}
            # which side returned None, so a cur-side failure isn't
            # misattributed to the ref tree
            failed: set[str] = set()
            for side in ("cur", "ref"):  # warm-up: codegen/JIT, dropped
                if run_one(side, name, build) is None:
                    failed.add(side)
            cpu0 = read_cpu_times()
            for _ in range(3 if not failed else 0):
                for side in ("cur", "ref"):
                    t = run_one(side, name, build)
                    if t is None:
                        failed.add(side)
                        break
                    runs[side].append(t)
                if failed:
                    break
            steals.append(steal_pct(cpu0, read_cpu_times()))
            if not failed and runs["cur"] and runs["ref"]:
                med = {s: sorted(r)[len(r) // 2] for s, r in runs.items()}
                result[name] = {
                    "cur": round(med["cur"], 3),
                    "ref": round(med["ref"], 3),
                    "ratio": round(med["cur"] / med["ref"], 3)
                    if med["ref"] > 0 else None,
                    "runs_cur": [round(x, 3) for x in runs["cur"]],
                    "runs_ref": [round(x, 3) for x in runs["ref"]],
                }
            else:
                sides = "+".join(sorted(failed)) or "unknown"
                result[name] = {"error": f"{sides} run failed"}
    finally:
        # EXIT/kill both workers even when the query loop raises — the
        # spawn-phase guard alone left them running on mid-benchmark
        # failures
        for w in workers.values():
            try:
                w.stdin.write("EXIT\n")
                w.stdin.flush()
                w.wait(timeout=30)
            except Exception:
                w.kill()
    summary = build_ab_summary(result, steals, ref_dir, sf_dir, only)
    print(json.dumps(summary))
    if only:
        # A --only re-measurement is the evidence that closes a perf
        # watch, so it must ALWAYS land on disk, not only in prose.
        # Round number inferred from the banked BENCH_r{N}.json series.
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"AB_r{_current_round()}_only_{_only_slug(only)}.json",
        )
        with open(path, "w") as f:
            json.dump(summary, f)
            f.write("\n")
        print(f"wrote {path}", file=sys.stderr)


def _current_round() -> int:
    """Round in progress = 1 + the newest banked BENCH_r{N}.json (the
    driver writes that file at round CLOSE, so during a round the max
    is the previous round's)."""
    import glob as _glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    ns = [
        int(m.group(1))
        for p in _glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := _re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(ns) + 1) if ns else 0


def _only_slug(only: list[str]) -> str:
    """Filesystem-safe tag for the artifact name: first entry (others
    abbreviated by count) keeps names short and greppable."""
    import re as _re

    head = _re.sub(r"[^A-Za-z0-9]+", "_", only[0])[:40].strip("_")
    return head if len(only) == 1 else f"{head}_plus{len(only) - 1}"


def build_ab_summary(
    result: dict[str, dict],
    steals: list[float],
    ref_dir: str,
    sf_dir: str,
    only: list[str] | None,
) -> dict:
    """The --ab stdout object — judge-consumed evidence (preserved as
    AB_r{N}_vs_r{M}.json), so its shape is frozen by
    tests/test_bench_contract.py. Every per-query
    value carries EITHER {cur, ref, ratio, runs_cur, runs_ref} or
    {error} with per-side attribution; the headline 'value' is null
    (never 0.0) when no headline member produced a ratio."""
    ok_names = [n for n in HEADLINE if "ratio" in result.get(n, {})]
    return {
        "metric": "ab_subset_ratio" if only else "ab_headline_ratio",
        "value": round(
            sum(result[n]["cur"] for n in ok_names)
            / max(sum(result[n]["ref"] for n in ok_names), 1e-9),
            3,
        ) if ok_names else None,
        "unit": "cur/ref",
        "ref_dir": ref_dir,
        "sf": sf_dir,
        "queries": result,
        "steal_pct_max": max(steals) if steals else 0.0,
        "load_avg_start": [round(x, 2) for x in LOAD_START],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
    }


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--worker":
        worker(sys.argv[2], sys.argv[3])
    elif len(sys.argv) > 2 and sys.argv[1] == "--ab":
        only: list[str] | None = None
        rest = sys.argv[3:]
        if rest and rest[0] == "--only":
            if len(rest) < 2:
                raise SystemExit("--only needs a comma-separated list")
            only = [n for n in rest[1].split(",") if n]
        main_ab(sys.argv[2], only=only)
    else:
        main()
