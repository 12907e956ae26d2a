"""The repository benchmark: one command that runs a workload, checks its
outputs and prints every metric by name with its unit.

    python3 perfbench/run.py --workload tpch_star --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--workload all`` runs the three workloads
one after another in one driver process. Spark runs at ``local[N]``, N the
CPUs this process may use.

One run: set up a session (process start to one finished job), generate
the seeded inputs in a child process, run one cold pass, then as many warm
passes as fill ``--seconds`` on a quiet host (at least two; a fixed number
per workload), then time one more set-up in a fresh process; ``setup_s``
is the median of the two. Every query or job result is checked: query
results against the registry's DuckDB oracle, ingest output against the
corpus's expected outcomes.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the warm passes alternate untraced and traced, and the last
line carries the per-layer metrics read from the traced ones. The spans
are written to ``.perfbench_out/``. The lines before it print every
metric, the error rate and the host's steal and load, and a ``CONTENDED``
line when steal passed ``CONTENDED_STEAL_PCT``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tpch_star", "corpus_llm", "ingest_pdf")
MIN_WARM_PASSES = 2
# a warm pass's length on a quiet 4-core host; a run makes --seconds worth
# of them, the same number however fast the host runs, so every run's
# median is taken over the same pass positions
NOMINAL_PASS_S = {"tpch_star": 9.0, "corpus_llm": 8.0, "ingest_pdf": 5.0}
SETUP_PROBES = 1
# steal share of host CPU above which a run flags itself as contended: its
# times then show other tenants as much as the code
CONTENDED_STEAL_PCT = 2.0
# cold_pass_s and peak_rss_mb are printed too, but spread too widely across
# runs to carry a regression bound: the cold pass is one sample per run, and
# the JVM's resident heap is set by G1's timing-driven heap growth
END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s", "session.ensure_confs_s": "s",
    "sources.load_table_calls": "count", "sources.load_table_s": "s",
    "operators.build_s": "s", "operators.execute_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.busy_ratio": "ratio", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.gc_s": "s", "exec.scan_nodes": "count", "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "exec.python_bytes_sent": "B", "exec.python_bytes_recv": "B",
    "ingest.fetch_calls_per_url": "count", "pdftext.extract_calls_per_pdf": "count",
    "pdftext.extract_s": "s", "pdftext.ms_per_pdf": "ms",
    "ingest.docs_write_s": "s", "ingest.rejects_write_s": "s",
    "trace.overhead_s": "s", "host.steal_pct": "%", "host.load1": "load",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=(*WORKLOADS, "all"), default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0,
                   help="warm-pass time on a quiet host (at least two passes run)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.01, help="input scale factor")
    return p.parse_args(argv)


def make_workload(name: str, work_dir: str, sf: float, seed: int):
    from perfbench import workloads

    data_dir = os.path.join(work_dir, "data")
    if name == "ingest_pdf":
        return workloads.IngestWorkload(data_dir, work_dir, sf, seed)
    queries = workloads.TPCH_STAR if name == "tpch_star" else workloads.CORPUS_LLM
    return workloads.QueryWorkload(queries, data_dir, sf, seed)


def prepare_in_child(workload, work_dir: str):
    """Run ``workload.prepare()`` in a fresh Python process, so input
    generation and the oracle never count toward the engine's memory."""
    os.makedirs(work_dir, exist_ok=True)
    src, dst = os.path.join(work_dir, "workload.pkl"), os.path.join(work_dir, "prepared.pkl")
    with open(src, "wb") as fh:
        pickle.dump(workload, fh)
    subprocess.run([sys.executable, "-m", "perfbench.workloads", src, dst],
                   cwd=ROOT, check=True, timeout=170)
    with open(dst, "rb") as fh:
        return pickle.load(fh)


def trace_layers(tracer) -> None:
    """Record spans around the session and sources calls; must run before
    the registry imports ``load_table``."""
    from ethiopia_legal_etl_spark import session
    from ethiopia_legal_etl_spark.sources import tables

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(session, "ensure_session_confs", "session.ensure_session_confs")
    tracer.wrap(tables, "load_table", "sources.load_table")
    tracer.wrap(tables, "read_pdf_links", "sources.read_pdf_links")


def measure(name: str, spark, args, work_dir: str, tracer) -> dict:
    """Cold pass, then ``args.seconds`` worth of warm passes; returns the
    workload's metrics and operation counts."""
    from perfbench.observe import HostLoad, ProcTree, StatusReader

    workload = make_workload(name, work_dir, args.sf, args.seed)
    prepared = prepare_in_child(workload, work_dir)
    workload.install(prepared, tracer)
    reader = StatusReader(spark) if tracer is not None else None
    tree, host = ProcTree(), HostLoad()
    cores = len(os.sched_getaffinity(0))

    def one_pass(traced: bool):
        if tracer is not None:
            tracer.enabled = traced
        mark = len(tracer.spans) if tracer is not None else 0
        cpu0 = tree.cpu_s()
        res = workload.run_pass(spark, tracer if traced else None, reader if traced else None)
        cpu = tree.cpu_s() - cpu0
        tree.sample()
        if reader is not None and not traced:
            reader.read()  # skip the untraced pass's jobs
        if traced:
            res.layers["sources.load_table_calls"], res.layers["sources.load_table_s"] = (
                tracer.total("sources.load_table", mark))
        workload.check(res)
        return res, cpu

    cold, _ = one_pass(tracer is not None)
    n_warm = max(MIN_WARM_PASSES, int(args.seconds // NOMINAL_PASS_S[name]))
    # traced and untraced passes interleave as U T T U T U U T ..., so a
    # steady speed-up over the run (JIT warm-up) cancels in the overhead
    kinds = [tracer is not None and bin(k).count("1") % 2 == 1
             for k in range(n_warm if tracer is None else 2 * n_warm)]
    warm = [one_pass(traced) for traced in kinds]
    plain = [p for p, k in zip(warm, kinds) if not k]
    passes = [cold] + [r for r, _ in warm]
    report = {
        "attempted": sum(r.attempted for r in passes),
        "failed": sum(r.failed for r in passes),
        "errors": [e for r in passes for e in r.errors],
        "warm_passes": [round(r.seconds, 3) for r, _ in plain],
        "cold_pass_s": cold.seconds,
        "pass_s": statistics.median(r.seconds for r, _ in plain),
        "cpu_s": sum(c for _, c in plain) / len(plain),
        "peak_rss_mb": tree.peak_rss_mb(),
        **host.report(),
    }
    if name == "ingest_pdf":
        report["docs_per_s"] = sum(e.kind == "doc" for e in prepared.expected.values()) / report["pass_s"]
    if tracer is not None:
        traced = [r for (r, _), k in zip(warm, kinds) if k]
        for key in PER_LAYER:
            values = [r.layers[key] for r in traced if key in r.layers]
            if values:
                report[key] = statistics.median(values)
        busy_base = report.get("operators.execute_s") or statistics.median(r.seconds for r in traced)
        report["exec.busy_ratio"] = report.get("exec.executor_run_s", 0.0) / (busy_base * cores)
        report["trace.overhead_s"] = statistics.median(r.seconds for r in traced) - report["pass_s"]
        if name == "ingest_pdf":
            report["pdftext.ms_per_pdf"] = prepared.extract_ms_per_pdf
    return report


def setup_samples(first: dict) -> dict:
    """Median of this process's set-up and ``SETUP_PROBES`` fresh ones."""
    samples = [first]
    for _ in range(SETUP_PROBES):
        out = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "setup_probe.py")],
                             cwd=ROOT, check=True, timeout=170, capture_output=True, text=True)
        samples.append(json.loads(out.stdout.strip().splitlines()[-1]))
    return {k: statistics.median(s[k] for s in samples) for k in first}


def run(args, work_dir: str) -> dict:
    from perfbench.observe import Tracer
    from perfbench.setup_probe import ready_session, shutdown

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        trace_layers(tracer)
    spark, first_setup = ready_session(T0)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    try:
        reports = {n: measure(n, spark, args, os.path.join(work_dir, n), tracer) for n in names}
    finally:
        shutdown(spark)
    setup = setup_samples(first_setup)
    if tracer is not None:
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"))

    declared = PER_LAYER if args.trace else END_TO_END
    metrics = {}
    for name, report in reports.items():
        report.update(setup)
        for key, unit in declared.items():
            value = report.get(key, 0.0)
            print(f"{name:<11} {key:<30} {value:>14.4f} {unit}")
            metrics[f"{name}.{key}" if len(names) > 1 else key] = {"value": value, "unit": unit}
        rate = report["failed"] / report["attempted"]
        print(f"{name:<11} {'error_rate':<30} {rate:>14.4f} ({report['failed']}/{report['attempted']})")
        if "docs_per_s" in report:
            print(f"{name:<11} {'docs_per_s':<30} {report['docs_per_s']:>14.4f} 1/s")
        print(f"{name:<11} warm passes (s) {report['warm_passes']},"
              f" steal {report['host.steal_pct']:.1f}%, load1 {report['host.load1']:.2f}")
        if report["host.steal_pct"] > CONTENDED_STEAL_PCT:
            print(f"{name:<11} CONTENDED: steal {report['host.steal_pct']:.1f}%"
                  f" > {CONTENDED_STEAL_PCT}%, times of this run are suspect")
        print(f"{name:<11} {'cold_pass_s':<30} {report['cold_pass_s']:>14.4f} s")
        print(f"{name:<11} {'peak_rss_mb':<30} {report['peak_rss_mb']:>14.4f} MB")
        for err in report["errors"][:10]:
            print(f"{name:<11} error: {err}")
    attempted = sum(r["attempted"] for r in reports.values())
    failed = sum(r["failed"] for r in reports.values())
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ethiopia_legal_etl_spark", "__init__.py")):
        print("perfbench: no ethiopia_legal_etl_spark package beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.setup_probe import configure_env

    work_dir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    configure_env(ROOT, work_dir)
    try:
        result = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
