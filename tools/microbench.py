"""Quick per-query timing for optimization iteration (guide §1: measure
first). Times the named queries N times in ONE SparkSession with
bench.run_query and prints a JSON line of per-query run vectors +
medians. NOT the frozen bench methodology (bench.py is); this is the
inner-loop tool — same timing function, same noop sink, built for
fast single-query iteration.

Usage: python tools/microbench.py [--runs N] [--build] query [query ...]
  --build: time builder+write (the SECONDARY methodology) instead of
           write-only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import open_session, run_query  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--build", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    spark = open_session("microbench", SF_DIR)
    out: dict[str, dict] = {}
    for name in args.names:
        vec = [
            round(run_query(spark, name, SF_DIR, args.build), 3)
            for _ in range(args.runs)
        ]
        steady = sorted(vec[1:]) or vec
        out[name] = {"runs": vec, "median": steady[len(steady) // 2]}
        print(f"{name}: {vec} median={steady[len(steady) // 2]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
