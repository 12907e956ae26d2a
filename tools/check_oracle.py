"""Local replica of the driver's correctness gate: run every registered
query in Spark and its oracle in DuckDB at a given sf_dir; compare
row-count + column names + order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ethiopia_legal_etl_spark.operators.registry import (  # noqa: E402
    DRIVER_WINDOW,
    all_queries,
)
from ethiopia_legal_etl_spark.schemas import TABLE_NAMES  # noqa: E402
from ethiopia_legal_etl_spark.session import (  # noqa: E402
    ensure_session_confs,
    get_spark,
)

# Entries whose Spark side runs concurrently in ``run``.
COLLECT_THREADS = 4


def normalize_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:  # NaN
            return "NaN"
        if v in (float("inf"), float("-inf")):  # int(inf) raises
            return "Inf" if v > 0 else "-Inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


# DuckDB result types the driver's fetch path is known to normalize the
# same way Spark's collect() does.  Everything else — HUGEINT (SUM over
# BIGINT), UHUGEINT, DECIMAL, unsigned ints — is rendered as float/Decimal
# by the driver's pandas/arrow fetch and hash-mismatches value-identical
# integer results.
_SAFE_TYPE_RE = __import__("re").compile(
    r"^(BIGINT|INTEGER|SMALLINT|TINYINT|DOUBLE|FLOAT|VARCHAR|BOOLEAN"
    r"|DATE|TIMESTAMP(?: WITH TIME ZONE)?|BLOB"
    r"|(?:BIGINT|INTEGER|SMALLINT|DOUBLE|FLOAT|VARCHAR|BOOLEAN)\[\])$"
)


def unsafe_oracle_types(rel) -> list[tuple[str, str]]:
    """Return (column, type) pairs whose DuckDB type the driver cannot
    hash faithfully.  Empty list = safe."""
    return [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if not _SAFE_TYPE_RE.match(str(t).upper())
    ]


def nonscalar_spark_columns(schema) -> list[tuple[str, str]]:
    """(column, type) pairs whose Spark type the DRIVER's canonicalizer
    cannot handle.  The driver sorts the collected result with pandas
    ``sort_values`` over object columns, which raises
    ``TypeError: unhashable type: 'numpy.ndarray'`` on array cells
    (postmortem: dedup_cluster_jaccard recorded ``err`` on a
    value-correct result).  Our own normalize_cell() stringifies
    anything, i.e. the replica is LAXER than the driver — so window
    entries must be gated on SCHEMA, not on whether the replica's
    hash happens to match."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        (f.name, f.dataType.simpleString())
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(normalize_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def run(sf_dir: str, only: list[str], spark=None) -> tuple[dict[str, str], int]:
    """Check ``only`` (or every registry entry) at ``sf_dir``. Returns
    the FAIL reason of each failing entry, keyed by name, and the count
    of raw-repr warnings.

    An existing session (e.g. the pytest fixture) can be passed in so
    the gate tests reuse it instead of building their own."""
    spark = spark if spark is not None else get_spark()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir.rstrip('/')}/{t}.parquet'"
        )
    failures: dict[str, str] = {}

    def fail(name: str, reason: str) -> None:
        print(f"FAIL {name}: {reason}")
        failures[name] = reason

    warns = 0
    qs = all_queries()
    names = only or sorted(qs)

    def collect(name: str):
        try:
            sdf = qs[name].builder(spark, sf_dir)
            return sdf.columns, [tuple(r) for r in sdf.collect()], sdf.schema
        except Exception as exc:
            return exc

    # At test scale an entry's Spark side is mostly single-threaded
    # driver work (analysis, optimization, code generation), so several
    # entries collect at once to use the cores; the DuckDB side and the
    # comparison stay sequential, in name order. The confs and package
    # zip are applied once up front, not by racing builders.
    ensure_session_confs(spark)
    with ThreadPoolExecutor(max_workers=COLLECT_THREADS) as pool:
        results = list(pool.map(collect, names))
    for name, collected in zip(names, results):
        q = qs[name]
        if isinstance(collected, Exception):
            fail(name, f"spark error: {collected}")
            continue
        s_cols, s_rows, s_schema = collected
        if name in DRIVER_WINDOW:
            # driver-canon gate: the external harness pandas-sorts the
            # collected frame, which crashes on array/map/struct cells
            # even when the values are correct (dedup_cluster_jaccard)
            bad_cols = nonscalar_spark_columns(s_schema)
            if bad_cols:
                fail(
                    name,
                    f"DRIVER_WINDOW entry emits non-scalar "
                    f"columns {bad_cols} (stringify with array_join/"
                    f"concat_ws; oracle mirrors with array_to_string)",
                )
                continue
        if q.oracle is None:
            print(f"rows-only {name}: {len(s_rows)} rows")
            continue
        try:
            rel = con.sql(q.oracle)
            d_cols = [c.lower() for c in rel.columns]
            bad_types = unsafe_oracle_types(rel)
            d_rows = rel.fetchall()
        except Exception as exc:
            fail(name, f"duckdb error: {exc}")
            continue
        if bad_types:
            # Hard gate, not a warning: the driver's fetch path renders
            # HUGEINT/DECIMAL as float (10 -> 10.0), so a value-identical
            # result hash-mismatches.  fetchall() here yields Python ints
            # and would green-light the bug (postmortem: 5 driver
            # hash failures on value-correct results).  Driver-unsafe
            # result types must be impossible to register, not unlikely.
            fail(name, f"driver-unsafe oracle column types {bad_types} "
                       f"(cast to BIGINT/DOUBLE in the oracle SQL)")
            continue
        s_cnt, s_hash = frame_hash([c.lower() for c in s_cols], s_rows)
        d_cnt, d_hash = frame_hash(d_cols, d_rows)
        if sorted(c.lower() for c in s_cols) != sorted(d_cols):
            fail(name, f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        elif s_cnt != d_cnt:
            fail(name, f"rowcount spark={s_cnt} duckdb={d_cnt}")
        elif s_hash != d_hash:
            fail(name, f"value hash mismatch ({s_cnt} rows)")
            # print a tiny diff sample
            s_set = {
                "\x1f".join(
                    normalize_cell(r[i])
                    for i in sorted(range(len(s_cols)), key=lambda i: s_cols[i].lower())
                )
                for r in s_rows
            }
            d_set = {
                "\x1f".join(
                    normalize_cell(r[i])
                    for i in sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                )
                for r in d_rows
            }
            for line in list(s_set - d_set)[:3]:
                print(f"  spark-only: {line!r}")
            for line in list(d_set - s_set)[:3]:
                print(f"  duck-only:  {line!r}")
        else:
            # strict secondary check: raw (unnormalized) reprs. A WARN
            # here means correctness depends on the driver normalizing
            # the same way we do (e.g. -0.0, int vs float types).
            s_raw = sorted(
                str(tuple(r[i] for i in sorted(range(len(s_cols)), key=lambda i: s_cols[i].lower())))
                for r in s_rows
            )
            d_raw = sorted(
                str(tuple(r[i] for i in sorted(range(len(d_cols)), key=lambda i: d_cols[i])))
                for r in d_rows
            )
            strict = "" if s_raw == d_raw else "  [WARN: raw reprs differ]"
            if strict:
                warns += 1
            print(f"OK   {name}: {s_cnt} rows hash={s_hash}{strict}")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed, {warns} raw-repr warnings")
    return failures, warns


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = args[1:] if args and "/" in args[0] else args
    failures, _ = run(sf_dir, only)
    sys.exit(1 if failures else 0)
