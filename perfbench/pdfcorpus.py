"""Seeded offline PDF corpus for the ``ingest_pdf`` workload.

``build_corpus`` writes what the ``cli ingest`` job reads:

- ``pdf_links.json``: the scraper hand-off, a bare JSON array of URLs;
- ``done/<base_name>.json``: documents a previous run already wrote
  (the incremental-skip share);
- ``bodies/pdf/*`` and ``bodies/html/*``: the response bodies that
  ``FileFetcher`` serves in place of HTTP.

Every URL gets an expected outcome: a document (title, year, content), a
reject at a named stage, or a skip. PDFs are multi-page, FlateDecode
content streams with one Type1/WinAnsi font, their page text taken from
``documents.text``. Corrupt PDFs have a header but no objects; empty PDFs
have pages that draw but show no text.
"""

from __future__ import annotations

import json
import os
import time
import zlib
from dataclasses import dataclass
from urllib.parse import urlsplit

import numpy as np

BASE_URL = "https://cassation.example.et/files"
PDF_TYPE = "application/pdf"
HTML_TYPE = "text/html; charset=utf-8"
WORDS_PER_LINE = 12
# Share of URLs per outcome; the rest become documents. The outcome kinds
# are the reference job's branches (incremental skip, content-type filter,
# empty-text reject; FIXTURES.md 2.3, SURVEY.md A-6/A-8/A-12), but the
# shares are an assumption, not measured traffic: nothing in the reference
# records how often each branch fires. They are small so documents carry
# most of a pass, and non-zero so every branch runs in every pass.
SHARES = {"skip": 0.10, "not_pdf": 0.05, "corrupt": 0.03, "empty": 0.02}
# stage names the engine writes into rejects.stage
REJECT_STAGE = {"not_pdf": "fetch/content-type", "corrupt": "extract/empty",
                "empty": "extract/empty"}


@dataclass(frozen=True)
class Expected:
    """What the job must produce for one URL."""

    kind: str  # "doc" | "skip" | "not_pdf" | "corrupt" | "empty"
    title: str = ""
    year: str = ""
    content: str = ""

    @property
    def stage(self) -> str | None:
        return REJECT_STAGE.get(self.kind)


def url_for(i: int) -> str:
    return f"{BASE_URL}/vol%20{i:05d}.pdf"


def base_name(url: str) -> str:
    """The engine's sink name: basename, extension stripped, %20 -> _."""
    return os.path.splitext(os.path.basename(urlsplit(url).path))[0].replace("%20", "_")


def _pdf_string(text: str) -> bytes:
    raw = text.encode("cp1252")
    return b"(" + raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)") + b")"


def _text_stream(lines: list[str]) -> bytes:
    ops = [b"BT /F1 10 Tf 14 TL 72 760 Td"]
    for k, line in enumerate(lines):
        ops.append((b"T* " if k else b"") + _pdf_string(line) + b" Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


_DRAWING = b"0.5 w 72 72 m 540 720 l S 72 720 m 540 72 l S"


def make_pdf(pages: list[list[str]]) -> bytes:
    """A PDF with one page per entry; each entry is that page's text lines
    (an empty list draws lines but shows no text)."""
    n = len(pages)
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids ["
        + b" ".join(b"%d 0 R" % (4 + 2 * k) for k in range(n))
        + b"] /Count %d >>" % n,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>",
    ]
    for k, lines in enumerate(pages):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % (5 + 2 * k)
        )
        body = zlib.compress(_text_stream(lines) if lines else _DRAWING)
        objs.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(body)
            + body + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def page_lines(text: str) -> list[str]:
    words = text.split()
    return [" ".join(words[k:k + WORDS_PER_LINE]) for k in range(0, len(words), WORDS_PER_LINE)]


@dataclass(frozen=True)
class Corpus:
    root: str
    links_path: str
    done_dir: str
    expected: dict[str, Expected]
    extract_ms_per_pdf: float  # single-thread extract_pages time per PDF body

    @property
    def fetched_urls(self) -> list[str]:
        return [u for u, e in self.expected.items() if e.kind != "skip"]

    @property
    def pdf_urls(self) -> list[str]:
        return [u for u, e in self.expected.items() if e.kind in ("doc", "corrupt", "empty")]


def build_corpus(root: str, texts: list[str], n_docs: int, n_pages: int, seed: int) -> Corpus:
    """Write the corpus under ``root`` and check that ``extract_pages``
    returns each generated page's text; raises ``ValueError`` if not."""
    from ethiopia_legal_etl_spark.functions.pdftext import extract_pages

    rng = np.random.default_rng(seed)
    kinds = ["doc"] * n_docs
    order = rng.permutation(n_docs)
    at = 0
    for kind, share in SHARES.items():
        k = max(1, round(share * n_docs))
        for i in order[at:at + k]:
            kinds[i] = kind
        at += k
    for sub in ("bodies/pdf", "bodies/html", "done"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)

    expected: dict[str, Expected] = {}
    extract_s = 0.0
    n_extracted = 0
    for i, kind in enumerate(kinds):
        url = url_for(i)
        name = os.path.basename(urlsplit(url).path)
        title = base_name(url).replace("_", " ")
        if kind == "skip":
            with open(os.path.join(root, "done", base_name(url) + ".json"), "w") as fh:
                json.dump({"title": title, "sourceURL": url}, fh)
            expected[url] = Expected(kind)
            continue
        if kind == "not_pdf":
            with open(os.path.join(root, "bodies/html", name), "wb") as fh:
                fh.write(b"<html><body>Login required</body></html>")
            expected[url] = Expected(kind)
            continue
        if kind == "corrupt":
            body = b"%PDF-1.4\n" + bytes(rng.integers(97, 123, 256, dtype=np.uint8))
            pages: list[list[str]] = []
        elif kind == "empty":
            pages = [[] for _ in range(n_pages)]
            body = make_pdf(pages)
        else:
            year = str(int(rng.integers(1950, 2100)))
            pages = [[f"Cassation Decision {year}"] + page_lines(texts[(i * n_pages) % len(texts)])]
            pages += [page_lines(texts[(i * n_pages + k) % len(texts)]) for k in range(1, n_pages)]
            body = make_pdf(pages)
            expected[url] = Expected(kind, title, year, "\n".join("\n".join(p) for p in pages))
        with open(os.path.join(root, "bodies/pdf", name), "wb") as fh:
            fh.write(body)
        t0 = time.perf_counter()
        try:
            got = extract_pages(body)
        except ValueError:
            got = None
        extract_s += time.perf_counter() - t0
        n_extracted += 1
        if kind == "corrupt":
            if got is not None:
                raise ValueError(f"corrupt PDF {url} parsed")
            expected[url] = Expected(kind)
            continue
        if got != ["\n".join(p) for p in pages]:
            raise ValueError(f"extract_pages does not round-trip {url}")
        if kind == "empty":
            expected[url] = Expected(kind)

    links_path = os.path.join(root, "pdf_links.json")
    with open(links_path, "w") as fh:
        json.dump(list(expected), fh)
    return Corpus(root, links_path, os.path.join(root, "done"), expected,
                  1000.0 * extract_s / max(1, n_extracted))


class FileFetcher:
    """Serves ``bodies/pdf/<name>`` as a PDF and ``bodies/html/<name>`` as
    HTML, in place of the production HTTP fetcher. Picklable, so Spark
    ships it to the Python workers.

    With ``log_path`` set, each call appends ``<start> <end>`` (wall-clock
    seconds) to that file; ``O_APPEND`` writes of one short line are
    atomic, so workers in several processes can share it."""

    def __init__(self, root: str, log_path: str | None = None):
        self.root = root
        self.log_path = log_path

    def __call__(self, url: str) -> tuple[int, str, bytes]:
        start = time.time()
        try:
            return self._serve(os.path.basename(urlsplit(url).path))
        finally:
            if self.log_path:
                append_line(self.log_path, f"{start:.6f} {time.time():.6f}")

    def _serve(self, name: str) -> tuple[int, str, bytes]:
        for sub, ctype in (("pdf", PDF_TYPE), ("html", HTML_TYPE)):
            path = os.path.join(self.root, "bodies", sub, name)
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    return 200, ctype, fh.read()
        raise FileNotFoundError(name)


class CountingExtractor:
    """Wraps the production extractor; logs ``<start> <end>`` per call
    like ``FileFetcher``, for the traced run's pdftext counters."""

    def __init__(self, inner, log_path: str):
        self.inner = inner
        self.log_path = log_path

    def __call__(self, body: bytes) -> list[str]:
        start = time.time()
        try:
            return self.inner(body)
        finally:
            append_line(self.log_path, f"{start:.6f} {time.time():.6f}")


def read_spans(path: str) -> list[tuple[float, float]]:
    """The ``(start, end)`` pairs a fetcher or extractor logged."""
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [tuple(float(x) for x in line.split()) for line in fh if line.strip()]


def append_line(path: str, line: str) -> None:
    fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        os.write(fd, (line + "\n").encode())
    finally:
        os.close(fd)
