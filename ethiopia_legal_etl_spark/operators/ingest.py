"""The reference's ingest pipeline re-architected as one DataFrame graph
(SURVEY.md §3 entry points 1-3):

  links → anti-join(done) → one per-URL pass: fetch → content-type check
        → extract → empty check → documents | rejects (routed, not deleted)

The reference iterates URLs one at a time in a single thread
(`fetch_legal_docs.py:32`, `import requests.py:120-121`); here the
link set is a DataFrame and that per-URL loop is an Arrow-batched
mapInPandas stage — parallelism is the partition count.

Fetch and extract run in the same task, once per URL, and the pass
emits one outcome row per URL. PDF bodies never leave the Python
worker, and the outcome rows are materialized once (localCheckpoint),
so writing documents and rejects re-runs neither side effect.

Network and PDF-codec access are injectable (fetcher/extractor
callables) so the pipeline is offline-testable (FIXTURES.md §2.3) and
codec-agnostic (pdfplumber vs PyMuPDF, both in the reference's
requirements.txt, may be absent here — SURVEY.md §7 hard-part (a)).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.text import base_name_from_url
from ethiopia_legal_etl_spark.operators.etl import build_document_record

FETCHED_SCHEMA = "url string, status int, content_type string, body binary, error string"
# one row per URL; stage is null for a document, else the reject's stage
OUTCOME_SCHEMA = "url string, content string, stage string, error string"
REJECT_STAGES = ("fetch/content-type", "extract/empty")

# fetcher: url -> (status, content_type, body bytes); raises on error
Fetcher = Callable[[str], tuple[int, str, bytes]]
# extractor: pdf bytes -> list of page texts; raises on parse error
Extractor = Callable[[bytes], list[str]]


def default_fetcher(url: str) -> tuple[int, str, bytes]:
    """Production fetcher (requests, 60s timeout like
    import requests.py:64)."""
    import requests  # deferred: executors only

    resp = requests.get(url, timeout=60)
    resp.raise_for_status()
    return resp.status_code, resp.headers.get("Content-Type", ""), resp.content


def default_extractor(body: bytes) -> list[str]:
    """pdfplumber first, PyMuPDF second (reference requirements.txt has
    both), then the engine's dependency-free pure-Python extractor
    (functions/pdftext.py — FlateDecode text objects + ToUnicode CMaps,
    sufficient for the reference's own fixtures vol01/vol02.pdf and
    golden-tested against them)."""
    try:
        import io

        import pdfplumber

        with pdfplumber.open(io.BytesIO(body)) as pdf:
            return [p.extract_text() or "" for p in pdf.pages]
    except ImportError:
        pass
    try:
        import fitz  # PyMuPDF

        with fitz.open(stream=body, filetype="pdf") as doc:
            return [page.get_text() for page in doc]
    except ImportError:
        pass
    from ethiopia_legal_etl_spark.functions.pdftext import extract_pages

    return extract_pages(body)


def incremental_skip(links: DataFrame, done_base_names: DataFrame) -> DataFrame:
    """A-6: drop links whose JSON output already exists. Keys on the
    SINK name (base_name), not the PDF — §2.C-6: a downloaded-but-
    unparsed PDF is re-fetched, exactly like the reference."""
    keyed = links.withColumn("base_name", base_name_from_url(F.col("url")))
    return keyed.join(done_base_names, "base_name", "left_anti")


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def _fetch_one(fetch: Fetcher, url: str) -> tuple:
    """A-7: (status, content_type, body, error) for one URL. A failed
    fetch becomes an error string instead of killing the job (per-record
    isolation, A-19 — fetch_legal_docs.py:93-96)."""
    try:
        status, ctype, body = fetch(url)
    except Exception as exc:
        return None, None, None, _error(exc)
    return status, ctype, body, None


def _map_urls(links: DataFrame, outcome: Callable[[str], tuple]) -> DataFrame:
    """One OUTCOME_SCHEMA row per URL of ``links``: ``outcome(url)``,
    run once per URL inside a mapInPandas task."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [outcome(url) for url in pdf["url"]],
                columns=["url", "content", "stage", "error"],
            )

    return links.select("url").mapInPandas(run, schema=OUTCOME_SCHEMA)


def polite_fetch_stage(
    links: DataFrame,
    fetcher: Fetcher | None = None,
    min_interval_s: float = 0.0,
    n_partitions: int | None = None,
) -> DataFrame:
    """Crawler-politeness fetch: URLs are repartitioned BY HOST so each
    host's requests run inside one task (strictly serial per host), with
    a minimum inter-request interval enforced task-side. Different hosts
    still fetch in parallel. Returns FETCHED_SCHEMA rows, with the same
    per-record error isolation as the batch pipeline.

    Why this exists: the reference fetches serially from one process
    (fetch_legal_docs.py:32 loop) and is accidentally polite; naively
    distributing that loop over 1000 executors turns the crawler into
    a DDoS against the source site. Partition-by-host is the standard
    Spark shape for per-key serialization — hash collisions may place
    several hosts in one task (still polite, just less parallel),
    never one host across several tasks (which would break the rate
    contract).

    The host repartition uses an EXPLICIT partition count
    (REPARTITION_BY_NUM): a plain repartition(col) is subject to AQE
    partition coalescing, which on a small batch merges every host
    into one task and silently serializes the whole crawl — measured
    by the politeness tests before this was pinned."""
    import pandas as pd

    fetch = fetcher or default_fetcher
    host_col = F.regexp_extract("url", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time
        from urllib.parse import urlsplit

        last: dict[str, float] = {}
        for pdf in batches:
            rows = []
            for url in pdf["url"]:
                host = urlsplit(url).netloc
                if min_interval_s > 0:
                    prev = last.get(host)
                    if prev is not None:
                        wait = min_interval_s - (time.monotonic() - prev)
                        if wait > 0:
                            time.sleep(wait)
                    last[host] = time.monotonic()
                rows.append((url, *_fetch_one(fetch, url)))
            yield pd.DataFrame(
                rows, columns=["url", "status", "content_type", "body", "error"]
            )

    n = n_partitions or int(
        links.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return (
        links.select("url")
        .repartition(n, host_col)
        .mapInPandas(run, schema=FETCHED_SCHEMA)
    )


class IngestResult(tuple):
    """``(docs, rejects)``, plus ``counts``: the outcome counts observed
    during the single pass — ``docs`` and one entry per reject stage."""

    counts: dict[str, int]

    def __new__(cls, docs: DataFrame, rejects: DataFrame, counts: dict[str, int]):
        result = super().__new__(cls, (docs, rejects))
        result.counts = counts
        return result


def ingest_pipeline(
    links: DataFrame,
    done_base_names: DataFrame,
    fetcher: Fetcher | None = None,
    extractor: Extractor | None = None,
    ingest_date: str | None = None,
    fetch_partitions: int | None = None,
) -> IngestResult:
    """Full A-pipeline; returns (documents, rejects).

    Every URL left after the incremental skip is fetched and, if it is a
    PDF, extracted exactly once: the per-URL pass runs eagerly here and
    its outcome rows are localCheckpointed, so both returned DataFrames
    read the materialized rows. Each URL lands in exactly one of them.

    rejects carries (url, stage, error) — the engine's replacement for
    the reference's silent drop (§2.C-8). stage is "fetch/content-type"
    (network error, or "not pdf: <type>") or "extract/empty" (parse
    error, or "empty document").
    """
    fetch = fetcher or default_fetcher
    extract = extractor or default_extractor

    def outcome(url: str) -> tuple:
        # the batch script's loop body (fetch_legal_docs.py:32-96)
        _, ctype, body, error = _fetch_one(fetch, url)
        # A-8: Content-Type CONTAINS application/pdf (substring, §2.C-5)
        if error is None and "application/pdf" not in (ctype or ""):
            error = f"not pdf: {ctype or ''}"
        if error is not None:
            return url, None, "fetch/content-type", error
        try:
            # A-11: drop EMPTY pages before the \n join
            # (fetch_legal_docs.py:62-64), unlike the mcp variant (§2.C-3)
            content = "\n".join(p for p in extract(bytes(body)) if p)
        except Exception as exc:
            return url, None, "extract/empty", _error(exc)
        # A-12: SQL trim() semantics, which strip only U+0020: a text of
        # tabs, newlines or NBSP is a document
        if not content.strip(" "):
            return url, None, "extract/empty", "empty document"
        return url, content, None, None

    todo = incremental_skip(links, done_base_names)
    if fetch_partitions:
        # spread network/CPU work; the reference's loop is n=1
        todo = todo.repartition(fetch_partitions, "url")

    stage = F.col("stage")
    obs = Observation()
    outcomes = (
        _map_urls(todo, outcome)
        .observe(
            obs,
            F.count(F.when(stage.isNull(), 1)).alias("docs"),
            *(F.count(F.when(stage == s, 1)).alias(s) for s in REJECT_STAGES),
        )
        .localCheckpoint()
    )
    docs = build_document_record(
        outcomes.where(stage.isNull()).withColumnRenamed("url", "sourceURL"),
        ingest_date=ingest_date,
    )
    rejects = outcomes.where(stage.isNotNull()).select("url", "stage", "error")
    return IngestResult(docs, rejects, obs.get)


def write_binary_files(df: DataFrame, out_dir: str,
                       name_col: str = "base_name", body_col: str = "body") -> None:
    """A-9 binary sink: persist payload bytes one file per row
    (downloaded_pdfs/ analog, fetch_legal_docs.py:56-57) via
    foreachPartition — executor-side writes, no driver collect."""

    def write_partition(rows) -> None:
        import os

        os.makedirs(out_dir, exist_ok=True)
        for row in rows:
            with open(os.path.join(out_dir, f"{row[name_col]}.pdf"), "wb") as fh:
                fh.write(bytes(row[body_col]))

    df.select(name_col, body_col).foreachPartition(write_partition)


def ingest_single(
    spark,
    volume: str,
    pdf_url: str,
    fetcher: Fetcher | None = None,
    extractor: Extractor | None = None,
    ingest_date: str | None = None,
) -> dict:
    """A-20 service parity: POST /ingest semantics (mcp_server.py:17-43)
    — ONE request through a one-row DataFrame pass like the batch path's.

    Variant semantics preserved (§2.C-3 and mcp_server.py:17-43):
    - keeps empty pages as '' before the newline join
      (`page.extract_text() or ""`, mcp_server.py:28), unlike batch;
    - NO content-type check and no timeout guard (weaker than batch —
      mcp_server.py:20-22);
    - returns an error OBJECT on failure rather than dropping the
      record (mcp_server.py:24,30);
    - response record has NO year and NO tags fields (mcp_server.py:32-41).
    """
    fetch = fetcher or default_fetcher
    extract = extractor or default_extractor

    def outcome(url: str) -> tuple:
        _, _, body, error = _fetch_one(fetch, url)
        if error is not None:
            return url, None, "fetch", error
        try:
            return url, "\n".join(p or "" for p in extract(bytes(body))), None, None
        except Exception as exc:
            return url, None, "extract", _error(exc)

    links = spark.createDataFrame([(pdf_url,)], "url: string")
    row = _map_urls(links, outcome).collect()[0]  # single row: collect IS the response
    if row["stage"] == "fetch":
        return {"error": "Download failed"}
    if row["stage"] == "extract":
        return {"error": f"PDF parse failed: {row['error']}"}
    doc_row = (
        build_document_record(
            spark.createDataFrame(
                [(pdf_url, row["content"])], "sourceURL string, content string"
            ),
            ingest_date=ingest_date,
        )
        .collect()[0]
        .asDict(recursive=True)
    )
    doc_row["title"] = volume  # mcp_server uses the request's volume as title
    del doc_row["year"], doc_row["tags"]  # absent from the mcp response shape
    return doc_row


def write_documents_json(docs: DataFrame, path: str) -> None:
    """A-15 sink: JSONL (idiomatic Spark; the reference writes one
    pretty-printed file per doc, fetch_legal_docs.py:88-89 — same
    records, distributed layout)."""
    docs.write.mode("overwrite").json(path)


def write_documents_json_files(
    docs: DataFrame, out_dir: str, name_col: str = "base_name"
) -> None:
    """A-15 byte-parity sink: one pretty-printed UTF-8 JSON file per
    document, byte-identical to the reference's
    `json.dump(doc, f, ensure_ascii=False, indent=2)`
    (fetch_legal_docs.py:88-89). File name = `<base_name>.json`
    (fetch_legal_docs.py:36-38).

    Executor-side writes via foreachPartition (same pattern as
    write_binary_files, A-9): no driver collect, each partition
    serializes its own rows. Byte parity relies on two stable facts:
    Row.asDict(recursive=True) preserves schema field order, and
    build_document_record projects fields in the reference dict's
    literal order — json.dumps then reproduces the exact bytes.

    Rows sharing a base_name (two URLs whose paths end in the same
    file name) can land in different partitions; each write goes to a
    task-unique temp file and is published with an atomic os.replace,
    so concurrent writers can never interleave bytes into one file —
    the outcome is a last-wins whole file (the reference's serial loop
    is first-wins via its exists-check; dedupe base_name upstream with
    incremental_skip if that distinction matters).
    """

    def write_partition(rows) -> None:
        import json
        import os
        import uuid

        os.makedirs(out_dir, exist_ok=True)
        tag = uuid.uuid4().hex  # task-unique; avoids cross-writer tmp collisions
        for row in rows:
            d = row.asDict(recursive=True)
            name = d.pop(name_col)
            final = os.path.join(out_dir, f"{name}.json")
            tmp = f"{final}.{tag}.tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(d, fh, ensure_ascii=False, indent=2)
            os.replace(tmp, final)

    docs.foreachPartition(write_partition)
