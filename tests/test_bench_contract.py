"""Driver-contract tests for bench.py's stdout protocol.

The driver records only the last ~2000 bytes of bench stdout and
parses the FINAL line as JSON. BENCH_r11.json came back
`"parsed": null` because the summary line grew past 4 KB when the
r11 per-run steal vectors were added to it. These
tests freeze the contract: the summary line — built with worst-case
realistic digit widths for every field — must stay under
bench.SUMMARY_MAX_BYTES (< the driver's tail), must parse, and must
never silently fall back to the truncated core form.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402

# Worst-case-but-realistic digit widths: every per-query median at
# 88.888 s (5 significant digits — 10× anything ever recorded; the
# heaviest real entry is ~4.5 s), 4-run vectors at 99.999, steal and
# load at their widest observed shapes.
_NAMES = bench.HEADLINE + bench.SECONDARY
_TIMINGS = {n: 88.888 for n in _NAMES}
_ALL_RUNS = {n: [99.999] * 4 for n in _NAMES}
_RUN_STEAL = {n: [10.64, 9.88, 10.12, 8.7] for n in _NAMES}
_RUN_LOAD1 = {n: [31.99] * 4 for n in _NAMES}


def _build() -> str:
    return bench.build_summary(
        _TIMINGS, dict(_TIMINGS), _ALL_RUNS, _RUN_STEAL, _RUN_LOAD1,
        "0.1", (30.07, 29.5, 28.12), (31.99, 30.08, 29.44),
    )


def test_summary_line_fits_driver_tail():
    line = _build()
    size = len(line.encode())
    assert size < bench.SUMMARY_MAX_BYTES, (
        f"summary line is {size}B, budget {bench.SUMMARY_MAX_BYTES}B — "
        "a new field belongs in the detail line, not here"
    )
    # the budget itself must clear the driver's ~2000-byte tail with
    # margin for the line to be the LAST of several
    assert bench.SUMMARY_MAX_BYTES <= 1900


def test_summary_line_is_full_form_and_parses():
    parsed = json.loads(_build())
    # reaching the ultra-compact fallback inside build_summary is a
    # contract failure in-repo, even though it keeps the driver fed
    assert "truncated" not in parsed
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["unit"] == "sec"
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert set(parsed["secondary"]) == set(bench.SECONDARY)
    assert len(parsed["run_totals"]) == 4
    assert parsed["sf"] == 0.1
    # steal attribution stays as aggregates only — the per-run
    # vectors that sank r11 live in the detail line
    assert "steal_pct_max" in parsed and "steal_pct_mean" in parsed
    assert "steal_pct_runs" not in parsed


def test_bench_names_exist_in_registry():
    """Every name bench.py times must resolve in the registry: a
    rename/removal that misses bench.py would otherwise surface as a
    KeyError in the DRIVER's bench run (a lost BENCH_r{N} headline),
    not in any test. Same gate for scale_probe's sweep and flags:
    every `scale_probe[.py] --<flag>` the package, tools, tests and
    docs mention must be a flag its parser accepts."""
    from ethiopia_legal_etl_spark.operators.registry import all_queries

    qs = all_queries()
    missing = [n for n in bench.HEADLINE + bench.SECONDARY if n not in qs]
    assert not missing, f"bench.py names not in registry: {missing}"

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scale_probe", Path(bench.__file__).parent / "tools/scale_probe.py"
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)
    # the default sweep runs registry entries by name on the replicas
    assert len(sp.SWEEP) >= 4
    missing = [n for n in sp.SWEEP if n not in qs]
    assert not missing, f"scale_probe sweep names not in registry: {missing}"
    # PROBES drives the parser: every key must parse as its --flag
    parser = sp.parser()
    for key in sp.PROBES:
        args = parser.parse_args([f"--{key}"])
        assert getattr(args, key.replace("-", "_")) is True, key
    # a flag mentioned after `scale_probe[.py]` on the same line (up to
    # a closing backtick or paren) must still exist; `<rev>:tools/...`
    # names a past revision of the script, so its flags are exempt
    import re

    known = {a for action in parser._actions for a in action.option_strings}
    root = Path(bench.__file__).parent
    sources = [root / "README.md", root / "SCALING.md",
               root / ".claude/skills/verify/SKILL.md"]
    for d in ("ethiopia_legal_etl_spark", "tools", "tests"):
        sources += sorted((root / d).rglob("*.py"))
    mention = re.compile(r"(?<!:tools/)\bscale_probe(?:\.py)?([^`)\n]*)")
    dangling, n_mentions = [], 0
    for path in sources:
        for tail in mention.findall(path.read_text(encoding="utf-8")):
            for flag in re.findall(r"(?<![\w-])--[a-z][\w-]*", tail):
                n_mentions += 1
                if flag not in known:
                    dangling.append(f"{path.relative_to(root)}: {flag}")
    assert n_mentions >= 3  # the docs moved? gate must not go vacuous
    assert not dangling, f"scale_probe flags that no longer exist: {dangling}"


def test_ab_only_rejects_unknown_names_before_spawning():
    """--only validation must run BEFORE the worker JVMs spawn: a
    SystemExit after spawn orphans two SparkSessions and leaks the
    worker tempfile (observed when driving the error path in r12).
    An unknown name must exit fast — JVM startup takes >5 s, so the
    3 s wall bound also proves nothing was spawned."""
    import subprocess
    import time

    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, str(Path(bench.__file__)), "--ab", "/nope",
         "--only", "definitely_not_a_query"],
        capture_output=True, text=True, timeout=30,
    )
    assert p.returncode != 0
    assert "not benched" in (p.stderr + p.stdout)
    assert time.monotonic() - t0 < 3.0


def test_worker_protocol_times_runs_and_reports_errors(sf_dir):
    """`bench.py --worker TREE SF_DIR` is both sides of --ab: READY
    once warm, `T <seconds>` per timed RUN (write-only, or
    build+write with `build`), `E <type>` for a failing query without
    dying, clean exit on EXIT."""
    import subprocess

    p = subprocess.run(
        [sys.executable, str(Path(bench.__file__)), "--worker",
         str(Path(bench.__file__).parent), sf_dir],
        input="RUN q1_pricing_summary\nRUN q1_pricing_summary build\n"
              "RUN not_a_query\nEXIT\n",
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.split("\n")
    times = [ln for ln in lines if ln.startswith("T ")]
    assert len(times) == 2, p.stdout
    assert all(float(ln.split()[1]) > 0 for ln in times)
    assert len([ln for ln in lines if ln.startswith("E ")]) == 1, p.stdout


def test_ab_worker_failure_reports_its_cause(tmp_path, sf_dir):
    """A ref tree without the package must fail the A/B fast and say
    why (the worker's returncode and stderr tail), not hang or report
    a bare 'died before READY'."""
    import os
    import subprocess
    import time

    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, str(Path(bench.__file__)), "--ab", str(tmp_path),
         "--only", "q1_pricing_summary"],
        capture_output=True, text=True, timeout=120,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
    )
    assert p.returncode != 0
    out = p.stdout + p.stderr
    assert "No module named 'ethiopia_legal_etl_spark'" in out, out[-2000:]
    assert time.monotonic() - t0 < 60


def test_fallback_core_always_fits():
    # if a future field pushes the full form over budget anyway, the
    # runtime fallback must itself be far under the tail limit
    huge = {n: 88.888 for n in _NAMES}
    # simulate overflow by shrinking the budget temporarily
    orig = bench.SUMMARY_MAX_BYTES
    bench.SUMMARY_MAX_BYTES = 10
    try:
        line = bench.build_summary(
            huge, dict(huge), _ALL_RUNS, _RUN_STEAL, _RUN_LOAD1,
            "0.1", (1.0, 1.0, 1.0), (1.0, 1.0, 1.0),
        )
    finally:
        bench.SUMMARY_MAX_BYTES = orig
    parsed = json.loads(line)
    assert parsed.get("truncated") is True
    assert "value" in parsed and "run_totals" in parsed
    assert len(line.encode()) < 400


# ------------------------------------------------------------------
# A/B artifact contract: the --ab stdout object is
# judge-consumed evidence, preserved as AB_r{N}_vs_r{M}.json. Freeze
# its shape via build_ab_summary and validate the recorded artifact.
# ------------------------------------------------------------------

def _ab_query_value_ok(v: dict) -> bool:
    if "error" in v:
        # per-side failure attribution: "cur run failed" etc.
        return isinstance(v["error"], str) and "failed" in v["error"]
    return (
        {"cur", "ref", "ratio", "runs_cur", "runs_ref"} <= set(v)
        and isinstance(v["runs_cur"], list)
        and isinstance(v["runs_ref"], list)
        and (v["ratio"] is None or isinstance(v["ratio"], float))
    )


def _assert_ab_schema(obj: dict) -> None:
    assert obj["metric"] in ("ab_headline_ratio", "ab_subset_ratio")
    assert obj["unit"] == "cur/ref"
    assert obj["value"] is None or isinstance(obj["value"], float)
    assert isinstance(obj["queries"], dict) and obj["queries"]
    for name, v in obj["queries"].items():
        assert _ab_query_value_ok(v), f"{name}: bad A/B entry {v}"
    assert "steal_pct_max" in obj
    assert len(obj["load_avg_start"]) == 3
    assert len(obj["load_avg_end"]) == 3


def test_ab_summary_schema_and_null_value_rules():
    result = {
        bench.HEADLINE[0]: {
            "cur": 1.0, "ref": 2.0, "ratio": 0.5,
            "runs_cur": [1.0] * 3, "runs_ref": [2.0] * 3,
        },
        bench.SECONDARY[0]: {"error": "ref run failed"},
    }
    obj = bench.build_ab_summary(result, [0.1, 0.2], "/ref", "/sf", None)
    _assert_ab_schema(obj)
    assert obj["metric"] == "ab_headline_ratio"
    assert obj["value"] == 0.5
    json.dumps(obj)  # serializable as the single stdout line

    # --only over secondary entries: no headline ratio -> value null,
    # never 0.0 (a 0.0 would read as an absurdly good ratio)
    only_obj = bench.build_ab_summary(
        {bench.SECONDARY[0]: {"error": "cur run failed"}},
        [], "/ref", "/sf", [bench.SECONDARY[0]],
    )
    _assert_ab_schema(only_obj)
    assert only_obj["metric"] == "ab_subset_ratio"
    assert only_obj["value"] is None


def test_recorded_ab_artifacts_match_schema():
    """Every AB_r*.json the repo has banked must parse and satisfy the
    same schema the code now freezes — the artifact IS the judge's
    perf evidence, so a drift here is a broken evidence chain."""
    root = Path(bench.__file__).parent
    # AB_r* covers both full-sweep artifacts (AB_r{N}_vs_r{M}.json)
    # and --only subset re-measurements (AB_r{N}_only_*.json, written
    # automatically): EVERY banked A/B
    # artifact is judge-consumed evidence and must satisfy the schema.
    artifacts = sorted(root.glob("AB_r*.json"))
    assert artifacts, "no recorded A/B artifacts found"
    assert any("_only_" in p.name for p in artifacts), (
        "subset artifacts must be banked too (AB_r*_only_*.json)"
    )
    for p in artifacts:
        obj = json.loads(p.read_text())
        _assert_ab_schema(obj)
        # artifact stays far under any plausible file-size concern but
        # must never balloon to detail-line scale (full steal vectors
        # belong in bench default mode's detail line)
        assert p.stat().st_size < 64_000, f"{p.name} oversized"


def test_only_artifact_naming_helpers():
    """--ab --only auto-banks its summary; the name is
    AB_r{N}_only_{slug}.json with N inferred from the newest banked
    BENCH_r{N}.json (driver writes it at round close -> +1)."""
    root = Path(bench.__file__).parent
    # match bench._current_round's strict pattern: the driver also
    # banks suffixed artifacts (BENCH_r14_c8.json, the low-core
    # scaling run) that the round series must ignore — the test's old
    # split("_r") parser crashed on the first such file (found at r15
    # open: the c8 artifact lands AFTER the round's last pytest run)
    import re

    banked = [
        int(m.group(1))
        for p in root.glob("BENCH_r*.json")
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", p.name))
    ]
    assert banked, "driver BENCH series missing"
    newest = max(banked)
    assert bench._current_round() == newest + 1
    assert bench._only_slug(["q5_region_revenue"]) == "q5_region_revenue"
    assert (
        bench._only_slug(["dedup_substring_fraction", "q1", "q5"])
        == "dedup_substring_fraction_plus2"
    )
