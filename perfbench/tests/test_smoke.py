"""Tiny-scale runs of every workload through the real command: outputs
check clean and every declared metric is printed."""

import json
import subprocess
import sys

from perfbench import run


def _run(*args):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--sf", "0.001", "--seconds", "1", *args],
        cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_all_workloads_untraced():
    result = _run("--workload", "all", "--seed", "3", "--trace", "0")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == {f"{w}.{m}" for w in run.WORKLOADS for m in run.END_TO_END}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_ingest_traced_counts_fetch_and_extract_calls():
    result = _run("--workload", "ingest_pdf", "--seed", "4", "--trace", "1")
    assert result["correct"]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(metrics) == set(run.PER_LAYER)
    # the job fetches every URL and extracts every PDF at least once
    assert metrics["ingest.fetch_calls_per_url"] >= 1
    assert metrics["pdftext.extract_calls_per_pdf"] >= 1
    assert metrics["exec.python_bytes_sent"] > 0


def test_tpch_traced_reads_the_status_store():
    result = _run("--workload", "tpch_star", "--seed", "5", "--trace", "1")
    assert result["correct"]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["sources.load_table_calls"] > 0
    assert metrics["exec.jobs"] > 0 and metrics["exec.tasks"] >= metrics["exec.stages"] > 0
    assert metrics["operators.build_s"] > 0 and metrics["operators.execute_s"] > 0
