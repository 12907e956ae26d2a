"""Robustness mirrors: copies of the driver tables whose values are
corrupt or degenerate, for the full oracle gate to run against.

    python tools/mirrors.py AXIS SRC_DIR DEST_DIR   # build one mirror
    python tools/check_oracle.py DEST_DIR           # full cross-engine gate

Axes (``AXES``); every one keeps the table schemas and the join keys:

- ``nulls``: ~10% deterministic NULLs in nullable non-key columns, plus
  malformed JSON, wrong-dimension and non-finite embeddings and
  non-finite measures. Catches the cross-engine null and corruption
  semantics the clean testdata can't see.
- ``constant``: every measure column one constant, every embedding
  equal, and every document token suffixed so no bigram type is rare.
  Zero variance, one histogram bin, all pairwise distances 0.
- ``constant_ts``: every event in one microsecond, every order and
  shipment on one day; measures untouched, so a throw here is a
  time-denominator bug, not a variance bug.
- ``empty``: zero rows, the limiting case of a pushed-down filter
  selecting nothing.

Spark ANSI throws DIVIDE_BY_ZERO for double division, so a variance,
proportion, histogram-bin or time-delta denominator that collapses to
0 kills the whole job instead of yielding an undefined-statistic NULL.
The gate collects every column, so column pruning cannot hide a
throwing expression (a ``.count()`` sweep missed the Kneser-Ney throw).

Divergences these mirrors caught, each fixed by making the semantics
explicit on BOTH sides (see git history for the fixes):

- nulls: Spark concat() null-propagates, DuckDB concat() skips nulls
  (doc_record_projection); default null sort order, Spark ASC NULLS
  FIRST vs DuckDB NULLS LAST (window_ntile_percent_rank); null map
  keys are illegal in Spark (map_ops_user_stats); a day whose values
  are all NULL is a gap, not an observed null, under IGNORE-NULLS LOCF
  (timeseries_gapfill_locf); a NULL sketch key can be neither counted
  nor queried (heavy_hitters_cms); None-payload UDF crashes, an
  f-string rendering "None", aggregate(NULL) folds, explode_outer's
  null row, regexp over NULL; pyspark.ml array_to_vector NPEs from
  eager subexpression elimination (fixed with a localCheckpoint
  barrier after the filtered projection).
- nulls, corruption: Spark get_json_object / try_parse_json yield NULL
  where DuckDB json_extract raises (oracles carry a json_valid guard);
  a wrong-dimension embedding null-pads in Spark zip_with, raises in
  element_at, pyspark.ml fits and DuckDB LIST_COSINE_SIMILARITY, and a
  NaN/Inf coordinate makes Spark's cosine NaN where DuckDB returns
  -1.0 (both fixed by the EMB_DIM=64 plus finiteness guard,
  similarity.emb_ok); a NaN/Inf measure breaks the fixed-point-cents
  policy differently per engine (fixed by functions/measures.py:
  non-finite -> NULL at the scan on both engines).
- constant: lm_kneser_ney_bigrams' discount n1/(n1+2*n2) is 0/0 when
  no bigram type occurs once or twice; stats_chi2_independence's
  Cramer's V divides by min(nr-1, nc-1) = 0; Spark's built-in corr()
  has no zero-variance guard, and a CaseWhen over it does not protect
  it (stats_aggregates); stats_corr_exact_moments' manual
  denominators; similarity_lsh_tuned's calibrated radius of 0.0 is an
  invalid bucketLength.
- constant_ts: twap_event_type's sum of LEAD-gap weights is 0 on a
  same-microsecond burst (now try_divide -> NULL, oracle CASE WHEN).
- empty: builders that collect on the driver or fit MLlib models must
  not assume a row. Six entries still diverge from their oracles on
  this axis by design of the engines, never by a throw; they are
  pinned in tests/test_empty_inputs.py.

Deliberate scope boundaries: ``events.ts`` stays intact on ``nulls``
(time-keyed operators would degenerate to empty output rather than
exercise divergent semantics); the TPC-H money columns stay finite
(ledger data; a NaN there is a corrupt file, and the NULL bucket
already covers the missing measure). Truncated binary payloads live
at the transport boundary instead (functions/transport.py), since the
media payloads are synthesized executor-side from doc_id.

Each table is written by DuckDB as a single parquet FILE, since the
oracle registers ``<dir>/<table>.parquet`` as one file.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ethiopia_legal_etl_spark.schemas import TABLE_NAMES  # noqa: E402

# nulls axis: nullable non-key columns only; join keys and identity
# columns stay intact so query topology is preserved
NULLABLE = {
    "lineitem": ["l_returnflag", "l_linestatus", "l_tax", "l_discount",
                 "l_quantity", "l_extendedprice"],
    "orders": ["o_orderpriority", "o_totalprice"],
    "customer": ["c_acctbal", "c_mktsegment"],
    "supplier": ["s_name"],
    "part": ["p_brand", "p_type", "p_size", "p_container", "p_retailprice"],
    "documents": ["lang", "source", "text"],
    "events": ["event_type", "value", "props"],
    "embeddings": ["embedding", "label"],
}

# nulls axis, corruption classes: extra CASE arms after the NULL arm
# (bucket 0). {b} is the row's bucket abs(hash(key || column)) % 10,
# {c} the column and {k} the table's first (key) column; each class
# owns its own bucket so the classes never overlap on a row. The
# numbers are the corruption-axis names other modules cite; axis 9
# (truncated binary payloads) lives in functions/transport.py.
CORRUPT = {
    # malformed JSON: the value cut at half length loses the closing
    # brace of an object payload
    ("events", "props"): [
        "WHEN {b} = 1 THEN substr({c}, 1, "
        "GREATEST(1, CAST(LEN({c}) // 2 AS INT)))",
    ],
    ("embeddings", "embedding"): [
        # wrong dimension (axis 6): a failed encoder's 32-dim prefix
        "WHEN {b} = 2 THEN list_slice({c}, 1, "
        "GREATEST(1, CAST(LEN({c}) // 2 AS INT)))",
        # non-finite coordinate (axis 7): one, at a hashed position,
        # NaN or +Inf
        "WHEN {b} = 3 THEN list_transform(range(1, LEN({c}) + 1), "
        "i -> CASE WHEN i = 1 + abs(hash({k} :: VARCHAR || '{c}' || 'pos'))"
        " % LEN({c}) THEN (CASE WHEN abs(hash({k} :: VARCHAR || '{c}' "
        "|| 'pos')) % 2 = 0 THEN 'NaN' ELSE 'Infinity' END) :: FLOAT "
        "ELSE {c}[i] END)",
    ],
    # non-finite measure (axis 8): 0/0 rates and overflowed counters
    ("events", "value"): [
        "WHEN {b} = 2 THEN (CASE WHEN abs(hash({k} :: VARCHAR || '{c}' "
        "|| 'nf')) % 2 = 0 THEN 'NaN' ELSE 'Infinity' END) :: DOUBLE",
    ],
}


def _nulls(table: str, cols: list[str]) -> str:
    def xform(c: str) -> str:
        if c not in NULLABLE.get(table, []):
            return c
        b = f"abs(hash({cols[0]} :: VARCHAR || '{c}')) % 10"
        arms = " ".join(
            arm.format(b=b, c=c, k=cols[0])
            for arm in CORRUPT.get((table, c), [])
        )
        return f"CASE WHEN {b} = 0 THEN NULL {arms} ELSE {c} END AS {c}"

    return f"SELECT {', '.join(xform(c) for c in cols)} FROM t"


def _replace(**per_table: str):
    """Per-table ``SELECT * REPLACE`` lists; other tables copy as is.
    Every replacement casts to the source column's exact type so
    type-shape entries (unpivot, stack) behave identically."""
    return lambda table, cols: (
        f"SELECT * REPLACE ({per_table[table]}) FROM t"
        if table in per_table else "SELECT * FROM t"
    )


# the suffixed documents.text keeps every token position, so the
# token-count and n-gram-count shape is preserved exactly
_SUFFIXED_TEXT = (
    "array_to_string(list_transform(string_split(text, ' '),"
    " tk -> tk || '~1'), ' ')"
)

AXES = {
    "nulls": _nulls,
    "constant": _replace(
        customer="CAST(50.0 AS DOUBLE) AS c_acctbal",
        supplier="CAST(50.0 AS DOUBLE) AS s_acctbal",
        part="CAST(20.0 AS DOUBLE) AS p_retailprice",
        orders="CAST(1000.0 AS DOUBLE) AS o_totalprice",
        lineitem="CAST(10.0 AS DOUBLE) AS l_quantity,"
        " CAST(100.0 AS DOUBLE) AS l_extendedprice,"
        " CAST(0.05 AS DOUBLE) AS l_discount,"
        " CAST(0.02 AS DOUBLE) AS l_tax",
        events="CAST(5.0 AS DOUBLE) AS value",
        documents=f"{_SUFFIXED_TEXT} AS text,"
        f" CAST(LENGTH({_SUFFIXED_TEXT}) AS BIGINT) AS n_chars",
        embeddings="list_transform(embedding, x -> CAST(0.5 AS FLOAT))"
        " AS embedding",
    ),
    "constant_ts": _replace(
        orders="CAST('1995-06-15 12:00:00' AS TIMESTAMP) AS o_orderdate",
        lineitem="CAST('1995-06-15 12:00:00' AS TIMESTAMP) AS l_shipdate",
        events="CAST('2024-03-01 12:00:00.000001' AS TIMESTAMP) AS ts",
    ),
    "empty": lambda table, cols: "SELECT * FROM t WHERE 1=0",
}


def build(dst: str, src: str, axis: str) -> None:
    """Write every driver table of ``src`` through ``AXES[axis]`` to
    ``dst/<table>.parquet``."""
    plan = AXES[axis]
    Path(dst).mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{src}/{t}.parquet'"
        )
        cols = [r[0] for r in con.execute("DESCRIBE t").fetchall()]
        con.execute(
            f"COPY ({plan(t, cols)}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in AXES:
        sys.exit(f"usage: mirrors.py {{{'|'.join(AXES)}}} SRC_DIR DEST_DIR")
    build(sys.argv[3], sys.argv[2], sys.argv[1])
    print(sys.argv[3])
