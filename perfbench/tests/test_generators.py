"""The seeded input generators: determinism, and PDFs whose text the
engine's extractor reads back exactly."""

import json
import os

import numpy as np
import pytest

from ethiopia_legal_etl_spark.functions.pdftext import extract_pages
from perfbench import datagen, pdfcorpus


def test_tables_repeat_for_a_seed_and_change_with_it():
    a, b, c = (datagen.make_tables(0.001, s) for s in (7, 7, 8))
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_tables_match_the_engine_schemas(tmp_path):
    from ethiopia_legal_etl_spark.schemas import TESTDATA_SCHEMAS

    tables = datagen.make_tables(0.001, 1)
    for name, schema in TESTDATA_SCHEMAS.items():
        assert tables[name].column_names == schema.fieldNames(), name
    texts = tables["documents"].column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == (len(texts) - 1) // 20
    assert tables["events"].schema.field("ts").type == "timestamp[ns]"
    assert tables["orders"].schema.field("o_orderdate").type == "timestamp[ms]"
    assert tables["lineitem"].schema.field("l_shipdate").type == "timestamp[ms]"


def test_load_table_converts_the_nanosecond_events_ts(tmp_path):
    """events.ts reaches Spark as bigint nanoseconds, so ``load_table``
    adds its bigint -> timestamp projection, as it does on real input."""
    from ethiopia_legal_etl_spark.session import get_spark
    from ethiopia_legal_etl_spark.sources.tables import load_table
    from perfbench.setup_probe import shutdown

    tables = datagen.write_tables(str(tmp_path), 0.001, 1)
    spark = get_spark(master="local[1]")
    try:
        raw = spark.read.parquet(str(tmp_path / "events.parquet"))
        assert dict(raw.dtypes)["ts"] == "bigint"
        events = load_table(spark, str(tmp_path), "events")
        assert dict(events.dtypes)["ts"] == "timestamp"
        first = events.orderBy("event_id").first()["ts"]
        assert first == tables["events"].column("ts")[0].as_py()
        orders = load_table(spark, str(tmp_path), "orders")
        assert dict(orders.dtypes)["o_orderdate"].startswith("timestamp")
    finally:
        shutdown(spark)


def test_pdf_round_trips_page_text():
    pages = [["Cassation Decision 1987", "a (b) c \\ d"], [], ["x y z"]]
    assert extract_pages(pdfcorpus.make_pdf(pages)) == ["\n".join(p) for p in pages]


def test_corpus_outcomes_cover_every_share(tmp_path):
    texts = datagen.document_texts(np.random.default_rng(0), 50)
    corpus = pdfcorpus.build_corpus(str(tmp_path), texts, n_docs=100, n_pages=4, seed=3)
    kinds = [e.kind for e in corpus.expected.values()]
    assert {k: kinds.count(k) for k in set(kinds)} == {
        "doc": 80, "skip": 10, "not_pdf": 5, "corrupt": 3, "empty": 2}
    with open(corpus.links_path) as fh:
        assert json.load(fh) == list(corpus.expected)
    done = sorted(os.listdir(corpus.done_dir))
    assert done == sorted(pdfcorpus.base_name(u) + ".json"
                          for u, e in corpus.expected.items() if e.kind == "skip")
    fetch = pdfcorpus.FileFetcher(corpus.root)
    for url, exp in corpus.expected.items():
        if exp.kind == "skip":
            continue
        status, ctype, body = fetch(url)
        assert status == 200
        assert ("application/pdf" in ctype) == (exp.kind != "not_pdf")
        if exp.kind == "doc":
            assert "\n".join(extract_pages(body)) == exp.content
            assert exp.content.startswith(f"Cassation Decision {exp.year}\n")
        elif exp.kind == "corrupt":
            with pytest.raises(ValueError):
                extract_pages(body)
        elif exp.kind == "empty":
            assert not any(extract_pages(body))
    assert corpus.extract_ms_per_pdf > 0


def test_corpus_repeats_for_a_seed(tmp_path):
    texts = datagen.document_texts(np.random.default_rng(0), 30)
    a = pdfcorpus.build_corpus(str(tmp_path / "a"), texts, 60, 2, seed=5)
    b = pdfcorpus.build_corpus(str(tmp_path / "b"), texts, 60, 2, seed=5)
    assert a.expected == b.expected


def test_ingest_check_flags_wrong_outcomes(tmp_path):
    from perfbench.workloads import check_ingest_output

    exp = {
        "u1": pdfcorpus.Expected("doc", "t", "1999", "text"),
        "u2": pdfcorpus.Expected("not_pdf"),
        "u3": pdfcorpus.Expected("skip"),
    }
    (tmp_path / "docs").mkdir()
    (tmp_path / "rejects").mkdir()
    doc = {"sourceURL": "u1", "title": "t", "year": "1999", "content": "text"}
    (tmp_path / "docs" / "part-0").write_text(json.dumps(doc) + "\n")
    (tmp_path / "rejects" / "part-0").write_text(
        json.dumps({"url": "u2", "stage": "fetch/content-type"}) + "\n")
    assert check_ingest_output(exp, str(tmp_path)) == []
    (tmp_path / "rejects" / "part-1").write_text(
        json.dumps({"url": "u3", "stage": "extract/empty"}) + "\n"
        + json.dumps({"url": "u1", "stage": "extract/empty"}) + "\n")
    assert sorted(check_ingest_output(exp, str(tmp_path))) == [
        ("u1", "written 2 times"), ("u3", "skipped url was written")]
