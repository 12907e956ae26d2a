"""Null-injection robustness mirror: copy the driver tables with ~10%
deterministic NULLs in nullable non-key columns, then run the full
oracle gate against the mirror:

    python tools/nulls_mirror.py [dest_dir]      # build the mirror
    python tools/check_oracle.py <dest_dir>      # full cross-engine gate

This catches the cross-engine null-semantics divergences the clean
testdata can't see. Divergences it has already caught (each fixed by
making the semantics explicit on BOTH sides — see git history):
- Spark concat() null-propagates, DuckDB concat() skips nulls
  (doc_record_projection: COALESCE made explicit);
- default null sort order: Spark ASC NULLS FIRST, DuckDB NULLS LAST
  (window_ntile_percent_rank: NULLS FIRST pinned in both);
- null map keys are illegal in Spark (map_ops_user_stats: null event
  types excluded on both sides);
- a day whose values are all NULL is a GAP, not an observed null, under
  IGNORE-NULLS LOCF (timeseries_gapfill_locf: null values filtered);
- a NULL sketch key can be neither counted nor queried
  (heavy_hitters_cms: nulls excluded from the key list);
- r10 truncation axis: a WRONG-DIMENSION embedding (failed encoder)
  silently NULL-pads in Spark zip_with, RAISES in Spark element_at
  (fixed-index math) and pyspark.ml fit ("Dimensions mismatch when
  adding new sample"), and RAISES in DuckDB LIST_COSINE_SIMILARITY —
  13 entries fixed + 1 silent-bias case (silhouette moments) with the
  shared EMB_DIM=64 encoder-contract guard (similarity.py:emb_ok),
  mirrored as LEN(embedding) = 64 in every oracle;
- r10 non-finite axis: a NaN/Inf COORDINATE (fp16 overflow, 0/0
  normalization) makes Spark's cosine fold NaN (sorts GREATEST under
  DESC rank) where DuckDB LIST_COSINE_SIMILARITY returns -1.0 (sorts
  last), and Spark floor(NaN*1e6)::long is silently 0 where DuckDB's
  cast raises — emb_ok extended with a finiteness conjunct
  (NOT exists(isnan|isinf)), and embedding_norms (the one entry that
  deliberately KEEPS failed-encoder rows) reports l2 = NULL for a
  non-finite vector on both engines so no non-finite cell ever
  crosses the driver canonicalizer;
- r10 non-finite MEASURE axis (events.value): the fixed-point-cents
  exactness policy breaks on a NaN/Inf measure DIFFERENTLY per engine
  (Spark ANSI ARITHMETIC_OVERFLOW / USER_RAISED bound guards vs
  DuckDB "DOUBLE with value nan can't be cast" ConversionException),
  DuckDB VAR_SAMP/STDDEV/CORR RAISE "out of range!" where Spark
  returns NaN, and order statistics shift SILENTLY (both engines sort
  NaN greatest) — 21 entries fixed with the shared
  functions/measures.py hygiene: non-finite -> NULL at the scan on
  both engines ("failed reading = NULL reading"), reusing the
  r9-verified NULL semantics and preserving row topology.

The mirror is built with DuckDB so each table stays a single parquet
FILE (the oracle registers `<dir>/<table>.parquet` as one file).
"""

from __future__ import annotations

import sys

import duckdb

SRC = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# nullable non-key columns only: join keys and identity columns stay
# intact so query topology is preserved
NULLABLE = {
    # l_quantity/l_extendedprice and the part attributes joined in r9
    # (the MEASURES dimension): the sweep passed 282/282 with ZERO
    # fixes — the registry's decimal-exact sum / explicit-count float
    # policy was already null-consistent cross-engine.
    "lineitem": ["l_returnflag", "l_linestatus", "l_tax", "l_discount",
                 "l_quantity", "l_extendedprice"],
    "orders": ["o_orderpriority", "o_totalprice"],
    "customer": ["c_acctbal", "c_mktsegment"],
    "supplier": ["s_name"],
    "part": ["p_brand", "p_type", "p_size", "p_container", "p_retailprice"],
    # text joined the nullable set in r9 (failed extraction is routine
    # at corpus scale); the first text-null sweep caught 8 divergences:
    # 3 UDF crashes on None payloads (decode stub, fake embed,
    # mojibake), an f-string rendering the literal "None" (WARC
    # builder), implicit-vs-NULLS-LAST batch membership
    # (batch_padding_waste), aggregate(NULL) vs LIST_PREPEND folds
    # (fingerprint), explode_outer's null row, and regexp over NULL
    # (year extract) — all made explicit on both sides.
    "documents": ["lang", "source", "text"],
    "events": ["event_type", "value", "props"],
    # embedding/label joined in r9 (failed encoder rows): the sweep
    # caught 4 pyspark.ml entries NPE-ing in array_to_vector — the
    # approx-join machinery duplicates the ScalaUDF into size>0 /
    # isnotnull conjuncts and codegen's common-subexpression
    # elimination evaluates it EAGERLY, so an upstream isnotnull
    # filter cannot short-circuit it; fixed with a localCheckpoint
    # reorder barrier after the filtered projection.
    "embeddings": ["embedding", "label"],
}

# r10 corruption axis: MALFORMED values, not just
# NULLs — a partial instrumentation payload (truncated JSON) is as
# routine as a failed fetch, and the engines genuinely diverge on it:
# Spark get_json_object/try_parse_json yield NULL where DuckDB's
# json_extract RAISES (oracles need an explicit json_valid guard).
# Rows with hash%10==1 (disjoint from the NULL bucket %10==0) get the
# value truncated at half length — guaranteed-invalid JSON for object
# payloads since the closing brace is lost.
CORRUPT_JSON = {
    "events": ["props"],
}

# r10 corruption axis 6: WRONG-DIMENSION embeddings — a failed/partial
# encoder emits short vectors as routinely as a failed fetch emits null
# text, and the engines genuinely diverge on them: Spark zip_with
# null-pads the shorter array (NULL products -> NULL sums), DuckDB
# LIST_COSINE_SIMILARITY RAISES "list dimensions must be equal", and
# pyspark.ml KMeans/LSH require a fixed vector size. Rows with
# hash%10==2 (disjoint from NULL %10==0 and JSON-corrupt %10==1) get
# the list truncated to half length (64 -> 32 dims).
CORRUPT_TRUNC_LIST = {
    "embeddings": ["embedding"],
}

# r10 corruption axis 7: NON-FINITE coordinates — fp16 overflow emits
# Inf and a 0/0 normalization emits NaN in real encoders. The engines
# diverge HARD: Spark's cosine fold yields NaN (sorts GREATEST under
# DESC rank) where DuckDB LIST_COSINE_SIMILARITY returns -1.0 (sorts
# last); Spark floor(NaN*1e6)::long is silently 0 / Inf is Long.MAX
# where DuckDB's cast RAISES a ConversionException. Rows with
# hash%10==3 (disjoint from the NULL/%10==0, JSON-corrupt/%10==1 and
# truncation/%10==2 buckets) get ONE coordinate (position = a second
# hash % len, so it varies per row) replaced by NaN or +Inf
# (alternating on the same second hash) — a partial corruption,
# sneakier than a fully-poisoned vector.
CORRUPT_NONFINITE_LIST = {
    "embeddings": ["embedding"],
}

# r11 corruption axis 9: TRUNCATED BINARY PAYLOADS (bytes cut
# mid-stream — a failed object-store GET / partial multipart upload).
# This axis does NOT live in this mirror: the engine's media payloads
# are synthesized executor-side as deterministic functions of doc_id
# (these driver tables have no binary column to corrupt), so the cut
# is applied at the transport boundary instead —
# functions/transport.py's conf-gated deterministic truncation
# (spark.ethiopia_legal_etl.corruptTransport), default OFF so clean
# runs and this oracle gate see byte-identical payloads.
# tests/test_transport_truncation.py fuzzes every decoder over EVERY
# cut offset (ValueError-only contract, sentinels pinned — the sweep
# hardened decode_bmp, which accepted header-only payloads and
# reported declared-size metadata for missing pixel bytes) and runs
# every media entry end-to-end at 10% truncation, asserting error-row
# accounting (doc_id + all-NULL metadata), full doc_id retention, and
# byte-identical healthy rows.

# Deliberate scope boundaries (stated so the coverage is honest):
# - events.ts stays intact — the mirror's standing design rule: every
#   time-keyed operator (windows, sessions, as-of) would degenerate to
#   empty output rather than exercise divergent semantics;
# - the TPC-H money columns (l_extendedprice, o_totalprice, ...) stay
#   finite — they model LEDGER data whose source of truth is decimal
#   arithmetic; a NaN there is a corrupt file, not a routine failed
#   reading, and the r9 NULL sweep already covers the
#   missing-measure case for them. Float-typed INSTRUMENTATION
#   metrics (events.value) are where non-finite values occur in
#   practice, and that axis is covered below.

# r10 corruption axis 8: NON-FINITE MEASURES — instrumentation emits
# NaN (0/0 rates) and Inf (overflowed counters) into metric columns as
# routinely as encoders do into vectors. Rows with hash%10==2 on
# events.value (bucket 2 is free there — the truncation axis only
# applies to list columns) get the scalar replaced by NaN or +Inf
# (alternating on a second hash). The aggregate/window/stats entries
# over `value` must either propagate NaN identically cross-engine or
# exclude non-finite measures explicitly on both sides.
CORRUPT_NONFINITE_SCALAR = {
    "events": ["value"],
}


def build(dst: str, src: str = SRC) -> None:
    con = duckdb.connect()
    for t in TABLES:
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'"
            ).fetchall()
        ]
        first = cols[0]

        def xform(c: str) -> str:
            if c not in NULLABLE.get(t, []):
                return c
            bucket = f"abs(hash({first} :: VARCHAR || '{c}')) % 10"
            corrupt = ""
            if c in CORRUPT_JSON.get(t, []):
                corrupt = (
                    f"WHEN {bucket} = 1 THEN substr({c}, 1, "
                    f"GREATEST(1, CAST(LEN({c}) // 2 AS INT))) "
                )
            if c in CORRUPT_TRUNC_LIST.get(t, []):
                corrupt += (
                    f"WHEN {bucket} = 2 THEN list_slice({c}, 1, "
                    f"GREATEST(1, CAST(LEN({c}) // 2 AS INT))) "
                )
            if c in CORRUPT_NONFINITE_LIST.get(t, []):
                h2 = f"abs(hash({first} :: VARCHAR || '{c}' || 'pos'))"
                corrupt += (
                    f"WHEN {bucket} = 3 THEN list_transform("
                    f"range(1, LEN({c}) + 1), i -> CASE "
                    f"WHEN i = 1 + {h2} % LEN({c}) THEN "
                    f"(CASE WHEN {h2} % 2 = 0 THEN 'NaN' "
                    f"ELSE 'Infinity' END) :: FLOAT "
                    f"ELSE {c}[i] END) "
                )
            if c in CORRUPT_NONFINITE_SCALAR.get(t, []):
                h2 = f"abs(hash({first} :: VARCHAR || '{c}' || 'nf'))"
                corrupt += (
                    f"WHEN {bucket} = 2 THEN "
                    f"(CASE WHEN {h2} % 2 = 0 THEN 'NaN' "
                    f"ELSE 'Infinity' END) :: DOUBLE "
                )
            return (
                f"CASE WHEN {bucket} = 0 THEN NULL {corrupt}"
                f"ELSE {c} END AS {c}"
            )

        sel = [xform(c) for c in cols]
        con.execute(
            f"COPY (SELECT {', '.join(sel)} FROM '{src}/{t}.parquet') "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )


if __name__ == "__main__":
    import os

    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/elel_nulls_sf0.001"
    os.makedirs(dest, exist_ok=True)
    build(dest)
    print(dest)
