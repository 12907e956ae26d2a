"""Empty-input robustness: every registered query must run (not throw)
and match its oracle when every source table has zero rows — exactly what a
partition-pruned-to-nothing scan produces at scale (a date predicate
outside the data range, an empty ingest increment). Schemas are
preserved; only rows are removed (the ``empty`` axis of
tools/mirrors.py).
"""

# Entries whose empty-input result differs from the oracle's by the
# engines' semantics, not by a throw; the choice between them is an
# open ROADMAP item. Each must fail as a row-count or column
# divergence; every other entry must pass.
EMPTY_INPUT_DIVERGENCES = {
    # Spark returns no rows; DuckDB returns the SQL-standard
    # grand-total row over zero input rows
    "rollup_lineitem_flags": "rowcount",
    "cube_orders_status_priority": "rowcount",
    "sql_grouping_sets": "rowcount",
    "df_groupingsets_region_nation": "rowcount",
    "bit_cube_flags": "rowcount",
    # Spark's transpose takes its output columns from the data rows,
    # so no rows gives only `key`; the oracle's region columns are fixed
    "transpose_nation_metrics": "columns",
}


def test_every_query_survives_empty_tables(oracle_gate):
    failures, warns = oracle_gate("empty")
    assert sorted(failures) == sorted(EMPTY_INPUT_DIVERGENCES), failures
    for name, kind in EMPTY_INPUT_DIVERGENCES.items():
        assert failures[name].startswith(f"{kind} "), (name, failures[name])
    assert warns == 0, f"{warns} entries rely on normalization on the empty mirror"


def test_null_text_payload_rows_survive(spark, sf_dir, tmp_path_factory, monkeypatch):
    """Text-null mirror class: a document row with NULL text (failed
    fetch/extraction — routine at corpus scale) must pass through the
    Python-stage operators without crashing an executor, with pinned
    no-op semantics. (The cross-engine VALUE checks live in the nulls
    mirror gate — tools/mirrors.py nullifies text; this pins the
    no-crash contract.)"""
    import pyspark.sql.functions as F

    import ethiopia_legal_etl_spark.operators.multimodal as mm
    import ethiopia_legal_etl_spark.operators.textguard as tg
    import ethiopia_legal_etl_spark.operators.webarchive as wa

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(6)
    docs = base.withColumn(
        "text", F.when(F.col("doc_id") % 2 == 0, F.col("text"))
    )  # every even doc keeps text, every odd doc gets NULL
    for mod in (mm, tg, wa):
        monkeypatch.setattr(mod, "load_table", lambda *_, **__: docs)

    # decode stub: NULL payload -> all-null metadata row, not a crash
    meta = mm.extract_media_metadata(mm.media_table(spark, sf_dir)).collect()
    assert len(meta) == 6
    assert all(r["byte_len"] is None for r in meta if r["doc_id"] % 2 == 1)

    # fake embed: NULL payload -> NULL embedding, avg skips it
    assert mm.multimodal_fake_embed(spark, sf_dir).count() > 0

    # mojibake: NULL text -> untouched no-op row
    rows = {r["doc_id"]: r for r in tg.text_mojibake_repair(spark, sf_dir).collect()}
    assert len(rows) == 6
    for d, r in rows.items():
        if d % 2 == 1:
            assert (r["was_corrupted"], r["n_passes"], r["len_delta"]) == (False, 0, 0)

    # WARC builder: NULL text -> empty page body, never the str "None"
    out = {r["doc_id"]: r for r in wa.warc_to_text_pipeline(spark, sf_dir).collect()}
    assert len(out) == 6
    for d, r in out.items():
        if d % 2 == 1:
            # each record strips to "Page {i} & more" (13 chars for
            # single-digit i); an f-string "None" body would add 5
            assert r["total_len"] == 13 * r["n_records"], (d, r)
