"""Spark-free tests of the pure-Python PDF extractor on PDFs built here.

The golden tests in test_pdftext_golden.py need the reference PDFs; these
cover the same paths (Type0 CID fonts with 2-byte ToUnicode CMaps,
simple fonts with a partial 1-byte ToUnicode, the string and
text-showing syntax, corrupt input) on small documents whose text is
known exactly.
"""

from __future__ import annotations

import random
import time
import zlib

import pytest

from ethiopia_legal_etl_spark.functions import pdftext
from ethiopia_legal_etl_spark.functions.pdftext import extract_pages

# a Type0 font's 2-byte ToUnicode: bfchar, an incrementing bfrange (one
# with a 2-unit target, which increments only its last unit), an array
# bfrange (one target a surrogate pair); CID 0x0099 is left unmapped
CID_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin begincmap
1 begincodespacerange <0000> <FFFF> endcodespacerange
3 beginbfchar
<0003> <0020>
<0011> <1200>
<0040> <00660069>
endbfchar
3 beginbfrange
<0020> <0025> <1208>
<0030> <0032> [<0041> <00E9> <D83DDE00>]
<0050> <0051> <00660066>
endbfrange
endcmap CMapName currentdict /CMap defineresource pop end end"""

# a simple font's 1-byte ToUnicode covering A and a-c only
SIMPLE_CMAP = b"""begincmap
1 begincodespacerange <00> <FF> endcodespacerange
1 beginbfchar <41> <1200> endbfchar
1 beginbfrange <61> <63> <03B1> endbfrange
endcmap"""


def _stream(data: bytes) -> bytes:
    data = zlib.compress(data)
    return b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (
        len(data), data)


def _objstm(objs: dict[int, bytes]) -> bytes:
    """An object stream (PDF 1.5) packing ``objs``."""
    header, body = [], b""
    for num, obj in objs.items():
        header.append(b"%d %d" % (num, len(body)))
        body += obj + b"\n"
    head = b" ".join(header) + b"\n"
    payload = zlib.compress(head + body)
    return b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>\n" \
        b"stream\n%s\nendstream" % (len(objs), len(head), len(payload), payload)


def _pdf(objs: list[bytes | None]) -> bytes:
    """A PDF whose object k (1-based) is ``objs[k-1]`` (``None``: no
    top-level object of that number); object 1 must be the catalog."""
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    xref_rows = []
    for num, obj in enumerate(objs, start=1):
        if obj is None:
            xref_rows.append(b"0000000000 65535 f \n")
            continue
        xref_rows.append(b"%010d 00000 n \n" % len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (num, obj)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(xref_rows)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def _doc(contents: list[bytes], fonts: bytes, extra: list[bytes | None]) -> bytes:
    """Catalog (1), page tree (2), one page + content stream per entry of
    ``contents`` (from 3), then ``extra`` objects; every page uses the
    font resource dict ``fonts``, whose refs must point into ``extra``."""
    n = len(contents)
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [%s] /Count %d >>"
            % (b" ".join(b"%d 0 R" % (3 + 2 * k) for k in range(n)), n)]
    for k, content in enumerate(contents):
        objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                    b" /Resources << /Font %s >> /Contents %d 0 R >>" % (fonts, 4 + 2 * k))
        objs.append(_stream(content))
    return _pdf(objs + extra)


def _fonts_at(first: int) -> tuple[bytes, list[bytes]]:
    """Four fonts as objects ``first``.. : /C (Type0 + CID_CMAP), /S
    (TrueType + SIMPLE_CMAP), /P (Type1, no ToUnicode), /Z (Type0, no
    ToUnicode); returns (font resource dict, objects)."""
    c, s, p, z, cu, su = range(first, first + 6)
    objs = [
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Abyssinica /Encoding /Identity-H"
        b" /ToUnicode %d 0 R >>" % cu,
        b"<< /Type /Font /Subtype /TrueType /BaseFont /Arial"
        b" /Encoding /WinAnsiEncoding /ToUnicode %d 0 R >>" % su,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /NoMap /Encoding /Identity-H >>",
        _stream(CID_CMAP),
        _stream(SIMPLE_CMAP),
    ]
    return b"<< /C %d 0 R /S %d 0 R /P %d 0 R /Z %d 0 R >>" % (c, s, p, z), objs


def _extract(contents: list[bytes]) -> list[str]:
    fonts, objs = _fonts_at(3 + 2 * len(contents))
    return extract_pages(_doc(contents, fonts, objs))


def test_type0_tounicode_bfchar_bfrange_and_unmapped_cid():
    got = _extract([
        b"BT /C 12 Tf 72 700 Td <00110003 0020 0021> Tj 0 -14 Td"
        b" [<0022> -120 <0030 0031 0032> 50 <0099 0040> 10 <0050 0051>] TJ ET"
    ])
    assert got == ["ሀ ለሉ\nሊAé\U0001F600fifffg"]


def test_type0_without_tounicode_drops_every_code():
    assert _extract([b"BT /Z 12 Tf <0041 0042> Tj (AB) Tj ET"]) == [""]


def test_simple_font_partial_tounicode_falls_back_to_cp1252():
    got = _extract([b"BT /S 10 Tf 14 TL (A\\101ab\\143d) Tj T* <80 81 E9 41> Tj ET"])
    assert got == ["ሀሀαβγd\n€�éሀ"]


def test_simple_font_without_tounicode_is_cp1252():
    got = _extract([b"BT /P 10 Tf <80818d E9 4> Tj (\\200\\351) Tj ET"])
    assert got == ["€��é@€é"]


def test_string_syntax_and_text_showing_operators():
    got = _extract([
        b"BT /P 10 Tf 14 TL (one) Tj (two) ' 2 0 (three) \" ET\n"
        b"BT /P 10 Tf (a\\(b\\)c) Tj ((nested) parens) Tj (oct\\0533\\7x\\q) Tj"
        b" (line\\\ncont\\\r\ninued) Tj (esc\\n\\t\\\\) Tj 100 0 Td (same) Tj"
        b" [(k) -250 (e) 3.5 <726e> ] TJ ET",
        b"BT /P 10 Tf % a comment (not text) Tj\n (after) Tj ET",
    ])
    assert got == [
        "one\ntwo\nthree\na(b)c(nested) parensoct+3\x07xqlinecontinuedesc\n\t\\samekern",
        "after",
    ]


def test_pages_follow_the_page_tree_order():
    fonts, objs = _fonts_at(7)
    contents = [b"BT /P 10 Tf (first) Tj ET", b"BT /P 10 Tf (second) Tj ET"]
    body = _doc(contents, fonts, objs)
    # page-tree order, not object order: swap the two kids
    body = body.replace(b"[3 0 R 5 0 R]", b"[5 0 R 3 0 R]")
    assert extract_pages(body) == ["second", "first"]


def test_fonts_inside_an_object_stream():
    fonts, objs = _fonts_at(5)
    packed = _objstm({5 + k: obj for k, obj in enumerate(objs[:4])})
    body = _doc([b"BT /C 9 Tf <0011 0040> Tj /S 9 Tf (Ab) Tj ET"], fonts,
                [None] * 4 + objs[4:] + [packed])
    assert extract_pages(body) == ["ሀfiሀβ"]


def _fuzz_body() -> bytes:
    return _doc(
        [b"BT /C 12 Tf <0011 0020 0030> Tj 0 -14 Td [(x) -5 <0040>] TJ ET",
         b"BT /S 10 Tf (Abc\\101\\(\\)) Tj T* (p) ' 1 2 (q) \" ET",
         b"BT /P 10 Tf <80 E9> Tj ET"],
        *_fonts_at(9))


def test_corrupt_pdfs_raise_only_valueerror_promptly():
    """Truncations and byte flips of a generated PDF either extract or
    raise ValueError, each well within a second."""
    body = _fuzz_body()
    assert extract_pages(body) == [
        "ሀለA\nfi", "ሀβγሀ()\np\nq", "€é"]
    rng = random.Random(10)
    cases = [body[:k] for k in range(0, len(body), max(1, len(body) // 64))]
    for _ in range(300):
        flipped = bytearray(body)
        for _ in range(rng.randint(1, 3)):
            flipped[rng.randrange(len(body))] = rng.randrange(256)
        cases.append(bytes(flipped))
    for k, corrupt in enumerate(cases):
        t0 = time.perf_counter()
        try:
            assert isinstance(extract_pages(corrupt), list)
        except ValueError:
            pass
        assert time.perf_counter() - t0 < 1.0, f"case {k} too slow"


def _decode_oracle(code_bytes: int, cmap: dict[int, str] | None, simple: bool,
                   raw: bytes) -> str:
    """The per-code decode loop, one cp1252 decode per unmapped byte."""
    out = []
    w = code_bytes
    for k in range(0, len(raw) - (len(raw) % w), w):
        code = int.from_bytes(raw[k:k + w], "big")
        if cmap is not None and code in cmap:
            out.append(cmap[code])
        elif simple:
            out.append(bytes([code & 0xFF]).decode("cp1252", "replace"))
    return "".join(out)


@pytest.mark.parametrize("code_bytes", [1, 2])
@pytest.mark.parametrize("simple", [True, False])
@pytest.mark.parametrize("mapped", [None, "partial", "tounicode"])
def test_fontmap_decode_matches_per_code_loop(code_bytes, simple, mapped):
    rng = random.Random(code_bytes * 7 + simple * 3 + len(mapped or ""))
    if mapped is None:
        cmap = None
    elif mapped == "partial":
        # some codes, the lowest and highest, multi-character and empty
        # targets, codes above the code width
        top = (1 << (8 * code_bytes)) - 1
        codes = rng.sample(range(1, top), 40) + [0, top, 0x1FF, 0x10000]
        cmap = {c: "".join(chr(rng.randrange(0x20, 0x3000)) for _ in range(rng.randint(0, 2)))
                for c in codes}
    else:
        code_bytes_parsed, cmap = pdftext._parse_tounicode(
            CID_CMAP if code_bytes == 2 else SIMPLE_CMAP)
        assert code_bytes_parsed == code_bytes
    fm = pdftext._FontMap(code_bytes, cmap, simple)
    for n in [0, 1, 2, 3, 17, 256, 1001]:
        raw = bytes(rng.randrange(256) for _ in range(n))
        assert fm.decode(raw) == _decode_oracle(code_bytes, cmap, simple, raw)
    everything = bytes(range(256))
    assert fm.decode(everything) == _decode_oracle(code_bytes, cmap, simple, everything)


def test_tounicode_parsed_once_per_font_per_document(monkeypatch):
    calls = []
    parse = pdftext._parse_tounicode

    def counting(cmap_bytes):
        calls.append(len(cmap_bytes))
        return parse(cmap_bytes)

    monkeypatch.setattr(pdftext, "_parse_tounicode", counting)
    font = (b"<< /Type /Font /Subtype /Type0 /BaseFont /Abyssinica"
            b" /Encoding /Identity-H /ToUnicode 36 0 R >>")
    body = _doc([b"BT /C 12 Tf <%04x> Tj ET" % (0x20 + k % 6) for k in range(16)],
                b"<< /C 35 0 R >>", [font, _stream(CID_CMAP)])
    pages = extract_pages(body)
    assert pages == [chr(0x1208 + k % 6) for k in range(16)]
    assert len(calls) == 1
    extract_pages(body)
    assert len(calls) == 2  # one per document: nothing is cached across calls


def test_default_extractor_resolves_its_backend_once(monkeypatch):
    """The pdfplumber / PyMuPDF imports are tried once per process, not
    once per PDF (a failed import is not cached by Python)."""
    import builtins

    from ethiopia_legal_etl_spark.operators import ingest

    tried = []
    real_import = builtins.__import__

    def spy(name, *args, **kwargs):
        if name in ("pdfplumber", "fitz"):
            tried.append(name)
        return real_import(name, *args, **kwargs)

    ingest._extractor_backend.cache_clear()
    monkeypatch.setattr(builtins, "__import__", spy)
    body = _fuzz_body()
    pages = [ingest.default_extractor(body) for _ in range(3)]
    assert pages[0] == pages[1] == pages[2]
    assert tried and len(tried) == len(set(tried))
