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
    """ADVICE r7: the writer used to ignore the overwrite flag, so a
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


def test_load_table_matches_declared_schemas(spark, sf_dir):
    """Every testdata scale loads with the column names and Spark types
    that schemas.TESTDATA_SCHEMAS declares (nullability aside). The
    session carries only ensure_session_confs, as an externally built
    session does, so the check covers what load_table reads on its own.
    This is the guard a switch to explicit read schemas needs."""
    from pathlib import Path

    from ethiopia_legal_etl_spark.schemas import TESTDATA_SCHEMAS
    from ethiopia_legal_etl_spark.session import ensure_session_confs
    from ethiopia_legal_etl_spark.sources.tables import load_table

    session = spark.newSession()
    for key, _ in spark.sparkContext.getConf().getAll():
        if key.startswith("spark.sql.") and session.conf.isModifiable(key):
            session.conf.unset(key)
    session = ensure_session_confs(session)

    sf_dirs = sorted(p for p in Path(sf_dir).parent.glob("sf*") if p.is_dir())
    assert sf_dirs
    drift = {}
    for d in sf_dirs:
        for name, declared in TESTDATA_SCHEMAS.items():
            got = [(f.name, f.dataType) for f in load_table(session, str(d), name).schema]
            want = [(f.name, f.dataType) for f in declared]
            if got != want:
                drift[f"{d.name}/{name}"] = {"loaded": got, "declared": want}
    assert not drift, drift
