"""Drive the CLI entry point end-to-end (argparse → pipeline → JSONL
sinks) with the network/codec stages monkeypatched to offline doubles."""

from __future__ import annotations

import json

import ethiopia_legal_etl_spark.operators.ingest as ingest_mod
from ethiopia_legal_etl_spark.cli import main

BASE = "https://fsc.example.et/files"


def test_cli_ingest_end_to_end(spark, tmp_path, monkeypatch):
    links_file = tmp_path / "pdf_links.json"
    links_file.write_text(json.dumps([f"{BASE}/vol01.pdf", f"{BASE}/broken.pdf"]))

    def fetcher(url):
        if "broken" in url:
            raise ConnectionError("nope")
        return 200, "application/pdf", b"%PDF-X"

    monkeypatch.setattr(ingest_mod, "default_fetcher", fetcher)
    monkeypatch.setattr(
        ingest_mod, "default_extractor", lambda body: ["ውሳኔ 1999", "ገጽ"]
    )

    out = str(tmp_path / "docs")
    rej = str(tmp_path / "rejects")
    rc = main(
        [
            "ingest",
            "--links", str(links_file),
            "--out", out,
            "--rejects", rej,
            "--partitions", "2",
        ]
    )
    assert rc == 0

    docs = [json.loads(line) for line in _read_jsonl(out)]
    assert len(docs) == 1
    assert docs[0]["title"] == "vol01"
    assert docs[0]["year"] == "1999"
    assert docs[0]["content"] == "ውሳኔ 1999\nገጽ"

    rejects = [json.loads(line) for line in _read_jsonl(rej)]
    assert len(rejects) == 1
    assert rejects[0]["url"].endswith("broken.pdf")
    assert rejects[0]["error"].startswith("ConnectionError")


class CallLog:
    """Wraps a fetcher or extractor and appends one line per call to a
    file: the calls run in Spark's Python workers, not in this process."""

    def __init__(self, inner, path):
        self.inner, self.path = inner, path

    def __call__(self, arg):
        key = arg if isinstance(arg, str) else bytes(arg).decode()
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(key + "\n")
        return self.inner(arg)


# file name -> content type; None: the fetch raises
MIX = {
    "vol01.pdf": "application/pdf",  # already done: skipped
    "ok.pdf": "application/pdf",
    "page.pdf": "text/html",
    "corrupt.pdf": "application/pdf",
    "empty.pdf": "application/pdf",
    "down.pdf": None,
}


def mix_fetcher(url):
    name = url.rsplit("/", 1)[1]
    if MIX[name] is None:
        raise ConnectionError("refused")
    return 200, MIX[name], f"%PDF-{name}".encode()


def mix_extractor(body):
    if b"corrupt" in body:
        raise ValueError("parse failure")
    if b"empty" in body:
        return ["", " "]
    return ["ውሳኔ 1999"]


def test_cli_ingest_fetches_and_extracts_each_url_once(
    spark, tmp_path, monkeypatch, capsys
):
    """The whole `cli ingest` job fetches every non-skipped URL once,
    extracts every PDF body once, writes every URL to exactly one of
    docs or rejects, and prints the outcome counts it observed."""
    fetch_log, extract_log = tmp_path / "fetch.log", tmp_path / "extract.log"
    monkeypatch.setattr(ingest_mod, "default_fetcher", CallLog(mix_fetcher, fetch_log))
    monkeypatch.setattr(
        ingest_mod, "default_extractor", CallLog(mix_extractor, extract_log)
    )
    urls = [f"{BASE}/{name}" for name in MIX]
    links_file = tmp_path / "pdf_links.jsonl"
    links_file.write_text("\n".join(json.dumps({"url": u}) for u in urls))
    done = tmp_path / "done"
    done.mkdir()
    (done / "vol01.json").write_text("{}")
    out, rej = str(tmp_path / "docs"), str(tmp_path / "rejects")

    rc = main(
        [
            "ingest",
            "--links", str(links_file),
            "--out", out,
            "--rejects", rej,
            "--done", str(done),
            "--partitions", "2",
        ]
    )
    assert rc == 0

    todo = urls[1:]
    assert sorted(fetch_log.read_text().split()) == sorted(todo)
    assert sorted(extract_log.read_text().split()) == [
        "%PDF-corrupt.pdf", "%PDF-empty.pdf", "%PDF-ok.pdf"
    ]
    docs = [json.loads(line)["sourceURL"] for line in _read_jsonl(out)]
    rejects = {
        r["url"]: r["stage"] for r in map(json.loads, _read_jsonl(rej))
    }
    assert docs == [f"{BASE}/ok.pdf"]
    assert rejects == {
        f"{BASE}/page.pdf": "fetch/content-type",
        f"{BASE}/down.pdf": "fetch/content-type",
        f"{BASE}/corrupt.pdf": "extract/empty",
        f"{BASE}/empty.pdf": "extract/empty",
    }
    assert len(_read_jsonl(rej)) == len(rejects)
    assert sorted(docs + list(rejects)) == sorted(todo)

    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts == {"docs": 1, "fetch/content-type": 2, "extract/empty": 2}


def _read_jsonl(d: str):
    import glob

    lines = []
    for f in glob.glob(f"{d}/part-*"):
        lines += [ln for ln in open(f) if ln.strip()]
    return lines
