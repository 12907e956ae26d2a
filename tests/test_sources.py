"""Source/sink tests: pdf_links JSON (bare array + JSONL), binaryFile
multi-pattern scan (A-18), partitioned parquet round-trip."""

from __future__ import annotations

import json

from ethiopia_legal_etl_spark.sources.tables import (
    read_binary_files,
    read_pdf_links,
    write_pdf_links,
)


def test_read_bare_json_array(spark, tmp_path):
    # the reference writes a bare JSON array (scrape_pdf_links.py:17-18)
    p = tmp_path / "pdf_links.json"
    p.write_text(json.dumps(["https://x/a.pdf", "https://x/b.pdf"]))
    df = read_pdf_links(spark, str(p))
    assert {r["url"] for r in df.collect()} == {"https://x/a.pdf", "https://x/b.pdf"}


def test_links_roundtrip_jsonl(spark, tmp_path):
    df = spark.createDataFrame([("https://x/a.pdf",)], "url: string")
    out = str(tmp_path / "links_out")
    write_pdf_links(df, out)
    back = read_pdf_links(spark, out)
    assert [r["url"] for r in back.collect()] == ["https://x/a.pdf"]


def test_binary_multi_pattern_scan(spark, tmp_path):
    # A-18: vol*.pdf ∪ *.docx ∪ nested statutes/ (auto_ingest.yml:24)
    (tmp_path / "vol01.pdf").write_bytes(b"%PDF-1")
    (tmp_path / "notes.docx").write_bytes(b"DOCX")
    (tmp_path / "statutes").mkdir()
    (tmp_path / "statutes" / "civil.pdf").write_bytes(b"%PDF-2")
    (tmp_path / "ignore.txt").write_text("nope")
    df = read_binary_files(spark, str(tmp_path), patterns=("vol*.pdf", "*.docx", "civil.pdf"))
    names = {r["path"].rsplit("/", 1)[-1] for r in df.collect()}
    assert names == {"vol01.pdf", "notes.docx", "civil.pdf"}


def test_lakehouse_connectors_gated(spark, tmp_path):
    import pytest

    from ethiopia_legal_etl_spark.sources.lakehouse import (
        LakehouseFormatUnavailable,
        read_lakehouse,
    )

    with pytest.raises(LakehouseFormatUnavailable, match="delta connector"):
        read_lakehouse(spark, "delta", str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="unknown lakehouse format"):
        read_lakehouse(spark, "excel", str(tmp_path))


def test_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet batches (mergeSchema): an added
    column appears, old rows read it as null — how a 100 TB table
    grows columns without rewrite."""
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v2 = spark.createDataFrame([(2, "b", 9.5)], "id long, name string, score double")
    v1.write.parquet(str(tmp_path / "t"), mode="append")
    v2.write.parquet(str(tmp_path / "t"), mode="append")
    merged = spark.read.option("mergeSchema", True).parquet(str(tmp_path / "t"))
    rows = {r["id"]: r for r in merged.collect()}
    assert set(merged.columns) == {"id", "name", "score"}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_corrupt_json_routed_not_fatal(spark, tmp_path):
    """A-19 at the source boundary: PERMISSIVE mode with a corrupt-
    record column — bad rows become reject rows, the scan survives
    (Spark analog of the reference's per-record try/except)."""
    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"url": "https://x/a.pdf", "n": 1}\n'
        "{not json at all}\n"
        '{"url": "https://x/b.pdf", "n": 2}\n'
    )
    df = (
        spark.read.schema("url string, n long, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(str(p))
    )
    rows = df.collect()
    good = [r for r in rows if r["_corrupt"] is None]
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert {r["url"] for r in good} == {"https://x/a.pdf", "https://x/b.pdf"}
    assert len(bad) == 1 and "{not json at all}" in bad[0]["_corrupt"]


def test_partitioned_parquet_sink_prunes(spark, sf_dir, tmp_path):
    from ethiopia_legal_etl_spark.sources.tables import load_table
    from ethiopia_legal_etl_spark.plans.explain import formatted_plan

    out = str(tmp_path / "docs_by_lang")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.partitionBy("lang").parquet(out)
    back = spark.read.parquet(out)
    one_lang = docs.select("lang").first()["lang"]
    q = back.where(back.lang == one_lang)
    # partition pruning: non-matching lang dirs never scanned
    assert q.count() == docs.where(docs.lang == one_lang).count()
    assert "PartitionFilters: [isnotnull(lang" in formatted_plan(q)


def test_legalfeed_custom_writer_roundtrip_with_manifest(spark, sf_dir, tmp_path):
    """Writer half of the custom Python DataSource: per-task JSONL
    part files + a driver-side _MANIFEST commit. Round trip must be
    exact and the manifest must account for every row."""
    import json
    import os

    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.sources.pydatasource import (
        LegalFeedDataSource,
    )

    spark.dataSource.register(LegalFeedDataSource)
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .where(F.col("doc_id") < 100)
        .repartition(4)
    )
    out = str(tmp_path / "feed_out")
    docs.write.format("legalfeed").option("path", out).mode("append").save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST")))
    assert manifest["total_rows"] == 100
    assert len(manifest["parts"]) >= 1
    listed = {p["file"] for p in manifest["parts"]}
    on_disk = {f for f in os.listdir(out) if f.startswith("part-")}
    assert listed == on_disk  # manifest names exactly the staged parts

    back = spark.read.schema("doc_id long, lang string, n_chars long").json(
        f"{out}/part-*.jsonl"
    )
    assert back.count() == 100
    orig = {(r["doc_id"], r["lang"], r["n_chars"]) for r in docs.collect()}
    got = {(r["doc_id"], r["lang"], r["n_chars"]) for r in back.collect()}
    assert got == orig


def test_legalfeed_writer_overwrite_and_append_modes(spark, sf_dir, tmp_path):
    """The writer used to ignore the overwrite flag, so a
    second write left stale part files that glob readers would mix
    with the new ones. Now overwrite removes pre-existing parts at
    commit, and append into a committed target is rejected."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.sources.pydatasource import (
        LegalFeedDataSource,
    )

    spark.dataSource.register(LegalFeedDataSource)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "feed_out")
    first = docs.where(F.col("doc_id") < 60).repartition(4)
    first.write.format("legalfeed").option("path", out).mode("append").save()
    old_parts = {f for f in os.listdir(out) if f.startswith("part-")}
    assert old_parts

    # append into a committed target: rejected up front
    with pytest.raises(Exception, match="non-empty target"):
        first.write.format("legalfeed").option("path", out).mode(
            "append"
        ).save()

    # overwrite: directory ends up holding EXACTLY the new parts
    second = docs.where(F.col("doc_id") < 25).repartition(2)
    second.write.format("legalfeed").option("path", out).mode(
        "overwrite"
    ).save()
    manifest = json.load(open(os.path.join(out, "_MANIFEST")))
    assert manifest["total_rows"] == 25
    listed = {p["file"] for p in manifest["parts"]}
    on_disk = {f for f in os.listdir(out) if f.startswith("part-")}
    assert listed == on_disk
    assert not (old_parts & on_disk)
    back = spark.read.schema("doc_id long, lang string, n_chars long").json(
        f"{out}/part-*.jsonl"
    )
    assert back.count() == 25


def _vanilla_session(spark):
    """A session whose modifiable ``spark.sql.*`` confs are unset and then
    ``ensure_session_confs``-ed, as an externally built session is."""
    from ethiopia_legal_etl_spark.session import ensure_session_confs

    session = spark.newSession()
    for key, _ in spark.sparkContext.getConf().getAll():
        if key.startswith("spark.sql.") and session.conf.isModifiable(key):
            session.conf.unset(key)
    return ensure_session_confs(session)


def test_load_table_matches_declared_schemas(spark, sf_dir):
    """Every testdata scale's files carry the column names and Spark types
    that schemas.TESTDATA_SCHEMAS declares (nullability aside), as Spark's
    own footer inference reads them; and load_table returns them. The
    session carries only ensure_session_confs, so the check covers what
    load_table reads on its own. load_table reads with the declaration, so
    this inference comparison is what catches a declaration that drifts
    from the files."""
    from pathlib import Path

    from ethiopia_legal_etl_spark.schemas import TESTDATA_SCHEMAS
    from ethiopia_legal_etl_spark.sources.tables import load_table

    session = _vanilla_session(spark)

    def names_and_types(schema):
        return [(f.name, f.dataType) for f in schema]

    sf_dirs = sorted(p for p in Path(sf_dir).parent.glob("sf*") if p.is_dir())
    assert sf_dirs
    drift = {}
    for d in sf_dirs:
        for name, declared in TESTDATA_SCHEMAS.items():
            want = names_and_types(declared)
            inferred = names_and_types(session.read.parquet(f"{d}/{name}.parquet").schema)
            loaded = names_and_types(load_table(session, str(d), name).schema)
            if inferred != want or loaded != want:
                drift[f"{d.name}/{name}"] = {
                    "inferred": inferred, "loaded": loaded, "declared": want,
                }
    assert not drift, drift


def test_load_table_runs_no_spark_job(spark, sf_dir):
    """A declared-schema read schedules no footer-inference job: loading
    every table adds no job to the status store."""
    from ethiopia_legal_etl_spark.schemas import TABLE_NAMES
    from ethiopia_legal_etl_spark.sources.tables import load_table

    sc = spark.sparkContext
    group = "test_load_table_runs_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        for name in TABLE_NAMES:
            load_table(spark, sf_dir, name)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _events_in_four_layouts(spark, tmp_path):
    """One events table written as pyarrow timestamp[ns] and timestamp[us],
    a DuckDB COPY and a Spark-written (INT96) directory; returns
    {layout: path of the sf dir} and the ns values in event_id order."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ns = [1_000_000_000_000_000_999, 1_600_000_000_123_456_789, 1_700_000_000_000_001_000]
    table = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
        "user_id": pa.array([7, 8, 9], pa.int64()),
        "event_type": ["view", "click", "purchase"],
        "value": [1.5, None, 3.0],
        "props": ['{"a": 1}', None, "{}"],
    })
    dirs = {k: tmp_path / k for k in ("ns", "us", "duckdb", "int96")}
    for d in dirs.values():
        d.mkdir()
    pq.write_table(table, dirs["ns"] / "events.parquet")
    us = table.set_column(1, "ts", table.column("ts").cast(pa.timestamp("us"), safe=False))
    pq.write_table(us, dirs["us"] / "events.parquet")
    duckdb.from_arrow(us).write_parquet(str(dirs["duckdb"] / "events.parquet"))
    prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        (
            spark.read.parquet(str(dirs["us"] / "events.parquet"))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.parquet(str(dirs["int96"] / "events.parquet"))
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
    return {k: str(d) for k, d in dirs.items()}, ns


def test_load_table_reads_every_events_ts_layout(spark, tmp_path):
    """events.ts loads to the same values as an inferring read whether the
    file stores INT64 ns, INT64 µs (pyarrow or DuckDB) or INT96; ns comes
    out as TIMESTAMP truncated to µs, the others as the declared
    TIMESTAMP_NTZ. The ...999 ns value is one a double division by 1000
    rounds up to the next µs."""
    import glob
    from datetime import datetime, timedelta

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.sources.tables import load_table

    session = _vanilla_session(spark)
    dirs, ns = _events_in_four_layouts(session, tmp_path)
    int96_part = glob.glob(f"{dirs['int96']}/events.parquet/part-*")[0]
    md = pq.read_metadata(int96_part).schema
    assert md.column(md.names.index("ts")).physical_type == "INT96"

    def ts_strings(df):  # formatted in the UTC session zone, not the host's
        ts = F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        return [r[0] for r in df.orderBy("event_id").select(ts).collect()]

    epoch = datetime(1970, 1, 1)
    floored = [
        (epoch + timedelta(microseconds=v // 1000)).strftime("%Y-%m-%d %H:%M:%S.%f")
        for v in ns
    ]
    for layout, d in dirs.items():
        inferred = session.read.parquet(f"{d}/events.parquet")
        if dict(inferred.dtypes)["ts"] == "bigint":
            inferred = inferred.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        loaded = load_table(session, d, "events")
        assert ts_strings(loaded) == ts_strings(inferred), layout
        want_type = "timestamp" if layout == "ns" else "timestamp_ntz"
        assert dict(loaded.dtypes)["ts"] == want_type, layout
        assert ts_strings(loaded) == floored, layout


def test_read_pdf_links_without_urls_yields_no_rows(spark, tmp_path):
    """An empty links file and JSONL lines lacking ``url`` both fall to the
    bare-array reparse and yield no rows."""
    empty = tmp_path / "empty.json"
    empty.write_text("")
    no_url = tmp_path / "no_url.jsonl"
    no_url.write_text('{"link": "https://x/a.pdf"}\n{"n": 2}\n')
    for p in (empty, no_url):
        df = read_pdf_links(spark, str(p))
        assert df.columns == ["url"]
        assert df.collect() == [], p.name
