"""The three workloads: what one pass runs and how its outputs are checked.

Each workload is a closed loop with one caller: a query or job is issued
only after the previous one returned.

- ``tpch_star``: relational, window and time-series queries over the
  TPC-H-ish tables and ``events``. Table loading, plan building and job
  scheduling do most of the work; the Python boundary barely runs.
- ``corpus_llm``: LLM-data operators over ``documents``/``embeddings``:
  wide strings, token explodes and Arrow/pandas stages. ``lineitem`` is
  never read.
- ``ingest_pdf``: the ``cli ingest`` job over an offline PDF corpus. The
  only workload that writes output, and the one where fetch and PDF text
  extraction run.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

TPCH_STAR = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "sql_q6_forecast_revenue", "q8_market_share", "q9_product_profit",
    "q10_returned_revenue", "q18_large_orders", "q19_disjunctive_revenue",
    "q21_sole_return_supplier", "window_running_user_value",
    "window_range_7day_frame", "topk_orders_by_price",
    "asof_error_prev_purchase", "interval_join_error_purchase",
    "timeseries_gapfill_locf", "stream_tumbling_window", "stream_session_window",
)
CORPUS_LLM = (
    "dedup_exact_hash", "dedup_ngram_jaccard", "dedup_simhash_band",
    "dedup_cluster_jaccard", "dedup_substring_fraction", "text_term_frequency",
    "text_tfidf_top_terms", "similarity_cosine_topk", "doc_record_projection",
    "multimodal_decode_stub", "pipeline_training_corpus", "warc_to_text_pipeline",
)
# row counts for registry entries without oracle SQL
PINNED_ROWS = {"multimodal_decode_stub": 3}
INGEST_DOCS_PER_SF = 40_000
INGEST_PAGES = 16


# ---------------------------------------------------------------------------
# result fingerprints (row count + order-insensitive hash)
# ---------------------------------------------------------------------------


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    return str(v)


def fingerprint(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Columns are matched by lower-cased name and rows compared as a
    multiset, so column order and row order do not matter."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    header = "\x1f".join(sorted(c.lower() for c in columns))
    return len(rows), hashlib.sha256("\n".join([header, *lines]).encode()).hexdigest()[:16]


def oracle_fingerprints(names: tuple[str, ...], data_dir: str) -> dict[str, tuple]:
    """Expected result per query from the registry's DuckDB oracle SQL;
    ``("rows", n)`` where the entry has no oracle."""
    import duckdb

    from ethiopia_legal_etl_spark.operators.registry import all_queries
    from ethiopia_legal_etl_spark.schemas import TABLE_NAMES

    queries = all_queries()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in names:
            sql = queries[name].oracle
            if sql is None:
                out[name] = ("rows", PINNED_ROWS[name])
            else:
                rel = con.sql(sql)
                out[name] = ("hash", fingerprint(rel.columns, rel.fetchall()))
        return out
    finally:
        con.close()


def matches(expected: tuple, columns: list[str], rows: list[tuple]) -> bool:
    kind, value = expected
    if kind == "rows":
        return len(rows) == value
    return fingerprint(columns, rows) == value


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


@dataclass
class PassResult:
    seconds: float
    attempted: int
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)


class QueryWorkload:
    """A fixed list of registry queries; one pass builds and collects each
    once, in an order drawn from the seed."""

    def __init__(self, queries: tuple[str, ...], data_dir: str, sf: float, seed: int):
        self.queries = queries
        self.data_dir = data_dir
        self.sf = sf
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.expected: dict[str, tuple] = {}
        self._pending: list[tuple[str, list[str], list[tuple]]] = []

    def prepare(self) -> dict[str, tuple]:
        """Write the tables; return the oracle result of every query. Run it
        in a child process, so DuckDB's memory is not counted as the engine's."""
        from perfbench.datagen import write_tables

        write_tables(self.data_dir, self.sf, self.seed)
        return oracle_fingerprints(self.queries, self.data_dir)

    def install(self, expected: dict[str, tuple], tracer=None) -> None:
        self.expected = expected

    def run_pass(self, spark, tracer=None, reader=None) -> PassResult:
        from ethiopia_legal_etl_spark.operators.registry import all_queries

        registry = all_queries()
        res = PassResult(0.0, attempted=len(self.queries))
        for name in self.rng.permutation(self.queries):
            t0 = time.perf_counter()
            try:
                with _span(tracer, "operators.build", query=name):
                    df = registry[name].builder(spark, self.data_dir)
                t1 = time.perf_counter()
                with _span(tracer, "operators.execute", query=name):
                    rows = df.collect()
                t2 = time.perf_counter()
            except Exception as exc:  # a failed query counts; the pass goes on
                res.failed += 1
                res.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            res.seconds += t2 - t0
            _add(res.layers, "operators.build_s", t1 - t0)
            _add(res.layers, "operators.execute_s", t2 - t1)
            if reader is not None:
                for k, v in reader.read().items():
                    _add(res.layers, k, v)
            self._pending.append((name, df.columns, rows))
        return res

    def check(self, res: PassResult) -> None:
        """Compare the results of the last pass with the oracle."""
        for name, columns, rows in self._pending:
            if not matches(self.expected[name], columns, [tuple(r) for r in rows]):
                res.failed += 1
                res.errors.append(f"{name}: result differs from the oracle")
        self._pending.clear()


class IngestWorkload:
    """One pass is the ``cli ingest`` job: read the links hand-off, skip
    the done set, fetch, extract, write documents and rejects as JSONL."""

    def __init__(self, data_dir: str, work_dir: str, sf: float, seed: int):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.sf = sf
        self.seed = seed
        self.corpus = None
        self.passes = 0
        self.fetch_log = None
        self.extract_log = None
        self._plain = self._logged = None  # (fetcher, extractor) pairs
        self._out = None

    def prepare(self):
        """Write the tables and the PDF corpus; return the corpus. Run it in
        a child process, like ``QueryWorkload.prepare``."""
        from perfbench import pdfcorpus
        from perfbench.datagen import write_tables

        texts = write_tables(self.data_dir, self.sf, self.seed)["documents"]
        return pdfcorpus.build_corpus(
            os.path.join(self.work_dir, "corpus"), texts.column("text").to_pylist(),
            max(40, round(INGEST_DOCS_PER_SF * self.sf)), INGEST_PAGES, self.seed)

    def install(self, corpus, tracer=None) -> None:
        """Point the job at the offline corpus. With a tracer, traced passes
        also count fetch and extract calls and time the two JSON writes;
        untraced passes keep the plain fetcher and extractor."""
        import ethiopia_legal_etl_spark.operators.ingest as ingest
        from perfbench import pdfcorpus

        self.corpus = corpus
        self._plain = (pdfcorpus.FileFetcher(corpus.root), ingest.default_extractor)
        if tracer is None:
            return
        self.fetch_log = os.path.join(self.work_dir, "fetch_calls.log")
        self.extract_log = os.path.join(self.work_dir, "extract_calls.log")
        self._logged = (pdfcorpus.FileFetcher(corpus.root, self.fetch_log),
                        pdfcorpus.CountingExtractor(ingest.default_extractor, self.extract_log))
        tracer.wrap(ingest, "ingest_pipeline", "ingest.ingest_pipeline")
        tracer.wrap(ingest, "write_documents_json", "ingest.write_documents_json")
        from pyspark.sql.readwriter import DataFrameWriter

        json_writer = DataFrameWriter.json

        def traced_json(writer, path, *args, **kwargs):
            kind = "rejects" if path.endswith("rejects") else "docs"
            with _span(tracer, f"ingest.{kind}_write"):
                return json_writer(writer, path, *args, **kwargs)

        DataFrameWriter.json = traced_json

    def run_pass(self, spark, tracer=None, reader=None) -> PassResult:
        import ethiopia_legal_etl_spark.operators.ingest as ingest
        from ethiopia_legal_etl_spark import cli
        from perfbench import pdfcorpus

        # the job looks both up when it builds its plan
        ingest.default_fetcher, ingest.default_extractor = (
            self._logged if tracer is not None else self._plain)
        self._out = os.path.join(self.work_dir, f"out{self.passes}")
        self.passes += 1
        args = argparse.Namespace(
            links=self.corpus.links_path, out=os.path.join(self._out, "docs"),
            rejects=os.path.join(self._out, "rejects"), done=self.corpus.done_dir,
            partitions=len(os.sched_getaffinity(0)))
        for log in (self.fetch_log, self.extract_log):
            if log and os.path.exists(log):
                os.remove(log)
        mark = len(tracer.spans) if tracer is not None else 0
        res = PassResult(0.0, attempted=len(self.corpus.expected))
        t0 = time.perf_counter()
        try:
            with _span(tracer, "ingest.cmd_ingest") as job:
                cli.cmd_ingest(args)
        except Exception as exc:  # every URL of a failed job counts as failed
            res.failed = res.attempted
            res.errors.append(f"cmd_ingest: {type(exc).__name__}: {exc}"[:300])
            self._out = None
            return res
        res.seconds = time.perf_counter() - t0
        if tracer is not None:
            fetches = pdfcorpus.read_spans(self.fetch_log)
            extracts = pdfcorpus.read_spans(self.extract_log)
            for name, calls in (("ingest.fetch", fetches), ("pdftext.extract_pages", extracts)):
                for start, end in calls:
                    tracer.add(name, start, end, job["id"])
            res.layers.update({
                "ingest.fetch_calls_per_url": len(fetches) / len(self.corpus.fetched_urls),
                "pdftext.extract_calls_per_pdf": len(extracts) / len(self.corpus.pdf_urls),
                "pdftext.extract_s": sum(end - start for start, end in extracts),
                "ingest.docs_write_s": tracer.total("ingest.docs_write", mark)[1],
                "ingest.rejects_write_s": tracer.total("ingest.rejects_write", mark)[1],
            })
        if reader is not None:
            res.layers.update(reader.read())
        return res

    def check(self, res: PassResult) -> None:
        """Compare the last pass's output with the expected outcomes; every
        URL whose outcome is missing, duplicated or wrong fails."""
        import shutil

        if self._out is None:
            return
        bad = check_ingest_output(self.corpus.expected, self._out)
        res.failed += len(bad)
        res.errors.extend(f"{u}: {why}" for u, why in bad[:5])
        shutil.rmtree(self._out, ignore_errors=True)
        self._out = None


def _read_jsonl(directory: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(os.path.join(directory, "part-*"))):
        with open(path, encoding="utf-8") as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def check_ingest_output(expected: dict, out_dir: str) -> list[tuple[str, str]]:
    """(url, reason) for every URL whose written outcome is wrong."""
    seen: dict[str, list[tuple[str, dict]]] = {}
    for doc in _read_jsonl(os.path.join(out_dir, "docs")):
        seen.setdefault(doc.get("sourceURL"), []).append(("doc", doc))
    for rej in _read_jsonl(os.path.join(out_dir, "rejects")):
        seen.setdefault(rej.get("url"), []).append(("reject", rej))
    bad = [(u, "unexpected url") for u in seen if u not in expected]
    for url, exp in expected.items():
        got = seen.get(url, [])
        if exp.kind == "skip":
            if got:
                bad.append((url, "skipped url was written"))
        elif len(got) != 1:
            bad.append((url, f"written {len(got)} times"))
        elif exp.kind == "doc":
            kind, doc = got[0]
            if kind != "doc" or (doc.get("title"), doc.get("year"), doc.get("content")) != (
                    exp.title, exp.year, exp.content):
                bad.append((url, "document differs"))
        elif got[0][0] != "reject" or got[0][1].get("stage") != exp.stage:
            bad.append((url, f"expected a {exp.stage} reject"))
    return bad


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer is not None else nullcontext()


def _add(d: dict[str, float], key: str, value: float) -> None:
    d[key] = d.get(key, 0.0) + value


if __name__ == "__main__":
    # python3 -m perfbench.workloads IN OUT: unpickle a workload from IN (a
    # file the benchmark wrote), prepare it, pickle the result to OUT
    import pickle
    import sys

    with open(sys.argv[1], "rb") as fh:
        workload = pickle.load(fh)
    with open(sys.argv[2], "wb") as fh:
        pickle.dump(workload.prepare(), fh)
