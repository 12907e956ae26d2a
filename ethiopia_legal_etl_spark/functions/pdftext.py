"""Dependency-free PDF text extraction (pure Python + zlib).

Third fallback for `operators/ingest.py default_extractor` (A-11): the
reference extracts text with pdfplumber (`fetch_legal_docs.py:57-64`),
but this container ships neither pdfplumber nor PyMuPDF, so the real
reference fixtures (`/root/reference/vol01.pdf`, `vol02.pdf` — PDF 1.5,
FlateDecode content streams, one ObjStm, simple WinAnsi TrueType fonts
plus Type0 CID fonts carrying ToUnicode CMaps for Amharic text) could
never be processed end-to-end. This module implements the minimal
subset those files need, from the public PDF 1.7 spec (ISO 32000-1):

- object scan (`N G obj … endobj`) + ObjStm expansion (§7.5.7)
- a recursive parser for dicts/arrays/strings/names/refs (§7.3)
- FlateDecode (zlib) stream decoding (§7.4.4)
- page-tree walk for document page order (§7.7.3)
- content-stream tokenizer for BT/ET text blocks and the text-showing
  operators Tj ' " TJ with the Tf font state (§9.4)
- ToUnicode CMap mapping (bfchar/bfrange, codespace-derived code width,
  UTF-16BE targets, §9.10.3); WinAnsi (cp1252) fallback for simple
  fonts without a CMap

Not a general PDF library: no encryption, no LZW/ASCII filters, no
predictors on content streams, no Type3 fonts — none of which the
reference corpus uses. Scale note: runs inside the ingest pipeline's
Arrow-batched per-URL pass (mapInPandas), one document per row, so the
cost model is identical to the injected-extractor path; nothing here
touches the driver.
"""

from __future__ import annotations

import re
import zlib

# ---------------------------------------------------------------------
# low-level object parsing
# ---------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Ref({self.num})"


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment to EOL
            while i < n and data[i] not in b"\r\n":
                i += 1
        else:
            break
    return i


def _parse_value(data: bytes, i: int):
    """Parse one PDF object value at offset i; return (value, next_i)."""
    i = _skip_ws(data, i)
    c = data[i : i + 1]
    if c == b"<":
        if data[i : i + 2] == b"<<":
            return _parse_dict(data, i)
        j = data.index(b">", i)
        hexs = re.sub(rb"\s", b"", data[i + 1 : j])
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii")), j + 1
    if c == b"[":
        out = []
        i += 1
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 1] == b"]":
                return out, i + 1
            v, i = _parse_value(data, i)
            out.append(v)
    if c == b"/":
        j = i + 1
        while j < len(data) and data[j] not in _WS and data[j] not in _DELIM:
            j += 1
        name = data[i + 1 : j]
        # #xx hex escapes in names
        name = re.sub(
            rb"#([0-9A-Fa-f]{2})", lambda m: bytes.fromhex(m.group(1).decode()), name
        )
        return ("/", name.decode("latin-1")), j
    if c == b"(":
        return _parse_literal_string(data, i)
    if data[i : i + 4] == b"true":
        return True, i + 4
    if data[i : i + 5] == b"false":
        return False, i + 5
    if data[i : i + 4] == b"null":
        return None, i + 4
    # number, possibly an `N G R` indirect reference
    m = re.match(rb"[+-]?\d*\.?\d+", data[i:])
    if not m:
        raise ValueError(f"pdf parse error at {i}: {data[i:i+20]!r}")
    tok = m.group(0)
    j = i + len(tok)
    if b"." not in tok:
        r = re.match(rb"\s+(\d+)\s+R\b", data[j : j + 16])
        if r:
            return _Ref(int(tok)), j + r.end()
        return int(tok), j
    return float(tok), j


def _parse_dict(data: bytes, i: int):
    d: dict = {}
    i += 2  # <<
    while True:
        i = _skip_ws(data, i)
        if data[i : i + 2] == b">>":
            return d, i + 2
        key, i = _parse_value(data, i)
        if not (isinstance(key, tuple) and key[0] == "/"):
            raise ValueError(f"dict key not a name at {i}")
        val, i = _parse_value(data, i)
        d[key[1]] = val


def _parse_literal_string(data: bytes, i: int):
    assert data[i : i + 1] == b"("
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            nxt = data[i + 1]
            if nxt in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[nxt])
                i += 2
            elif nxt in b"()\\":
                out.append(nxt)
                i += 2
            elif 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                j = i + 1
                oct_digits = b""
                while j < n and len(oct_digits) < 3 and 0x30 <= data[j] <= 0x37:
                    oct_digits += data[j : j + 1]
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
            elif nxt in b"\r\n":  # line continuation
                i += 2
                if nxt == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(nxt)
                i += 2
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise ValueError("unterminated string")


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


def _scan_objects(data: bytes) -> dict[int, tuple[dict | object, bytes | None]]:
    """All `N G obj` bodies -> {num: (value, stream_bytes|None)},
    including objects packed inside ObjStm object streams."""
    objects: dict[int, tuple[object, bytes | None]] = {}
    # pass 1: values + raw stream extents (Length may be an indirect
    # reference to an object we have not scanned yet)
    extents: dict[int, int] = {}  # num -> stream start offset
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        i = m.end()
        try:
            val, j = _parse_value(data, i)
        except (ValueError, IndexError, RecursionError):
            continue
        stream = None
        j2 = _skip_ws(data, j)
        if data[j2 : j2 + 6] == b"stream":
            j2 += 6
            if data[j2 : j2 + 2] == b"\r\n":
                j2 += 2
            elif data[j2 : j2 + 1] in (b"\n", b"\r"):
                j2 += 1
            end = data.find(b"endstream", j2)
            # byte-scan fallback; an in-stream literal `endstream` is
            # repaired in pass 2 when /Length resolves
            stream = data[j2:end] if end >= 0 else None
            extents[num] = j2
        objects[num] = (val, stream)
    # pass 2: /Length is authoritative now that every object is known —
    # it both trims trailing EOL junk and survives compressed payloads
    # that happen to contain the literal bytes `endstream`
    for num, j2 in extents.items():
        val, _stream = objects[num]
        if not isinstance(val, dict):
            continue
        length = val.get("Length")
        if isinstance(length, _Ref):
            length = objects.get(length.num, (None, None))[0]
        if isinstance(length, int) and 0 <= length <= len(data) - j2:
            objects[num] = (val, data[j2 : j2 + length])
    # expand object streams (PDF 1.5 §7.5.7)
    for num in list(objects):
        val, stream = objects[num]
        if (
            isinstance(val, dict)
            and val.get("Type") == ("/", "ObjStm")
            and stream is not None
        ):
            try:
                payload = zlib.decompress(stream)
            except zlib.error:
                continue
            first = val["First"]
            header = payload[:first].split()
            for k in range(0, len(header) - 1, 2):
                onum, off = int(header[k]), int(header[k + 1])
                try:
                    oval, _ = _parse_value(payload, first + off)
                except (ValueError, IndexError):
                    continue
                objects.setdefault(onum, (oval, None))
    return objects


class _Doc:
    def __init__(self, data: bytes):
        self.objects = _scan_objects(data)

    def resolve(self, v):
        seen = 0
        while isinstance(v, _Ref):
            v = self.objects.get(v.num, (None, None))[0]
            seen += 1
            if seen > 32:
                return None
        return v

    def stream_bytes(self, ref) -> bytes:
        """Decoded stream content of a (reference to a) stream object."""
        if isinstance(ref, _Ref):
            val, stream = self.objects.get(ref.num, (None, None))
        else:
            return b""
        if stream is None or not isinstance(val, dict):
            return b""
        filt = val.get("Filter")
        filters = [filt] if not isinstance(filt, list) else filt
        out = stream
        for f in filters:
            if f is None:
                continue
            if f == ("/", "FlateDecode"):
                try:
                    out = zlib.decompress(out)
                except zlib.error:
                    out = zlib.decompressobj().decompress(out)
            else:  # unsupported filter -> give up on this stream
                return b""
        return out

    def pages(self) -> list[dict]:
        """Page dicts in document order via the /Root page tree; falls
        back to object-number order if the tree is unreachable."""
        root = None
        for _num, (val, _s) in self.objects.items():
            if isinstance(val, dict) and val.get("Type") == ("/", "Catalog"):
                root = val
                break
        ordered: list[dict] = []

        def walk(node):
            node = self.resolve(node)
            if not isinstance(node, dict):
                return
            t = node.get("Type")
            if t == ("/", "Pages"):
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(kid)
            elif t == ("/", "Page"):
                ordered.append(node)

        if root is not None:
            walk(root.get("Pages"))
        if not ordered:
            for _num in sorted(self.objects):
                val, _s = self.objects[_num]
                if isinstance(val, dict) and val.get("Type") == ("/", "Page"):
                    ordered.append(val)
        return ordered


# ---------------------------------------------------------------------
# ToUnicode CMaps
# ---------------------------------------------------------------------

_BF_HEX = re.compile(rb"<([0-9A-Fa-f]+)>")


class _FontMap:
    """code(int) -> str mapping plus the code width in bytes."""

    def __init__(self, code_bytes: int, cmap: dict[int, str] | None, simple: bool):
        self.code_bytes = code_bytes
        self.cmap = cmap
        self.simple = simple

    def decode(self, raw: bytes) -> str:
        out: list[str] = []
        w = self.code_bytes
        for k in range(0, len(raw) - (len(raw) % w), w):
            code = int.from_bytes(raw[k : k + w], "big")
            if self.cmap is not None and code in self.cmap:
                out.append(self.cmap[code])
            elif self.simple:
                out.append(bytes([code & 0xFF]).decode("cp1252", "replace"))
            # unmapped CID: drop (no glyph-name fallback in scope)
        return "".join(out)


def _parse_tounicode(cmap_bytes: bytes) -> tuple[int, dict[int, str]]:
    """Parse bfchar/bfrange sections -> (code width, code->text)."""
    code_bytes = 2
    m = re.search(
        rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", cmap_bytes
    )
    if m:
        code_bytes = max(1, len(m.group(1)) // 2)
    table: dict[int, str] = {}

    def utf16(hexs: bytes) -> str:
        return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be", "replace")

    for sect in re.findall(rb"beginbfchar(.*?)endbfchar", cmap_bytes, re.S):
        toks = _BF_HEX.findall(sect)
        for k in range(0, len(toks) - 1, 2):
            table[int(toks[k], 16)] = utf16(toks[k + 1])
    for sect in re.findall(rb"beginbfrange(.*?)endbfrange", cmap_bytes, re.S):
        # entries are  <lo> <hi> <dst>   or   <lo> <hi> [<d0> <d1> ...]
        for lo, hi, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(<[0-9A-Fa-f]+>|\[[^\]]*\])",
            sect,
        ):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if dst.startswith(b"["):
                dsts = _BF_HEX.findall(dst)
                for off, d in enumerate(dsts):
                    if lo_i + off <= hi_i:
                        table[lo_i + off] = utf16(d)
            else:
                base_hex = dst[1:-1]
                base = bytes.fromhex(base_hex.decode("ascii"))
                # increment applies to the LAST code unit (spec §9.10.3)
                prefix, last = base[:-2], int.from_bytes(base[-2:], "big")
                for off in range(hi_i - lo_i + 1):
                    table[lo_i + off] = (
                        prefix + ((last + off) & 0xFFFF).to_bytes(2, "big")
                    ).decode("utf-16-be", "replace")
    return code_bytes, table


def _font_maps(doc: _Doc, page: dict) -> dict[str, _FontMap]:
    res = doc.resolve(page.get("Resources")) or {}
    fonts = doc.resolve(res.get("Font")) or {}
    out: dict[str, _FontMap] = {}
    for name, fref in fonts.items():
        fdict = doc.resolve(fref)
        if not isinstance(fdict, dict):
            continue
        subtype = fdict.get("Subtype")
        is_type0 = subtype == ("/", "Type0")
        tounicode = fdict.get("ToUnicode")
        if tounicode is not None:
            raw = doc.stream_bytes(tounicode)
            code_bytes, table = _parse_tounicode(raw)
            out[name] = _FontMap(code_bytes, table, simple=not is_type0)
        else:
            out[name] = _FontMap(2 if is_type0 else 1, None, simple=not is_type0)
    return out


# ---------------------------------------------------------------------
# content-stream text extraction
# ---------------------------------------------------------------------

_OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")


def _page_text(doc: _Doc, page: dict, fonts: dict[str, _FontMap]) -> str:
    contents = doc.resolve(page.get("Contents"))
    refs = (
        page.get("Contents")
        if isinstance(page.get("Contents"), _Ref)
        else None
    )
    if isinstance(contents, list):
        data = b"\n".join(doc.stream_bytes(r) for r in contents)
    elif refs is not None:
        data = doc.stream_bytes(refs)
    else:
        data = b""
    out: list[str] = []
    cur: _FontMap | None = None
    stack: list = []  # operand stack
    i, n = 0, len(data)
    in_text = False
    while i < n:
        i = _skip_ws(data, i)
        if i >= n:
            break
        c = data[i : i + 1]
        if c == b"(":
            s, i = _parse_literal_string(data, i)
            stack.append(s)
            continue
        if c == b"<" and data[i : i + 2] != b"<<":
            j = data.index(b">", i)
            hexs = re.sub(rb"\s", b"", data[i + 1 : j])
            if len(hexs) % 2:
                hexs += b"0"
            stack.append(bytes.fromhex(hexs.decode("ascii")))
            i = j + 1
            continue
        if c == b"<" or c == b"[" or c == b"/":
            v, i = _parse_value(data, i)
            stack.append(v)
            continue
        m = re.match(rb"[+-]?\d*\.?\d+", data[i:])
        if m:
            tok = m.group(0)
            stack.append(float(tok) if b"." in tok else int(tok))
            i += len(tok)
            continue
        m = _OP_RE.match(data, i)
        if not m:
            i += 1
            continue
        op = m.group(0)
        i = m.end()
        if op == b"BT":
            in_text = True
        elif op == b"ET":
            in_text = False
            out.append("\n")
        elif op == b"Tf" and len(stack) >= 2:
            fname = stack[-2]
            if isinstance(fname, tuple) and fname[0] == "/":
                cur = fonts.get(fname[1])
        elif op in (b"Td", b"TD") and in_text:
            # newline only on a vertical move; same-baseline repositions
            # (ty == 0) must not split words mid-line
            ty = stack[-1] if stack else 0
            if isinstance(ty, (int, float)) and ty != 0:
                out.append("\n")
        elif op == b"T*" and in_text:
            out.append("\n")
        elif in_text and op in (b"Tj", b"'", b'"'):
            s = stack[-1] if stack else b""
            if op == b"'" or op == b'"':
                out.append("\n")
            if isinstance(s, bytes) and cur is not None:
                out.append(cur.decode(s))
        elif in_text and op == b"TJ":
            arr = stack[-1] if stack else []
            if isinstance(arr, list) and cur is not None:
                for el in arr:
                    if isinstance(el, bytes):
                        out.append(cur.decode(el))
        elif op == b"BI":
            # inline image: skip to EI
            end = data.find(b"EI", i)
            i = n if end < 0 else end + 2
        stack.clear()
    # collapse the newline-per-Td artifacts: runs of blank lines -> one
    text = "".join(out)
    text = re.sub(r"\n{2,}", "\n", text)
    return text.strip("\n")


def extract_pages(body: bytes) -> list[str]:
    """Extract text per page from raw PDF bytes (the Extractor
    signature used by operators/ingest.py).

    Raises ValueError if the bytes are not a parseable PDF (per-record
    error isolation upstream turns that into an `error` column, A-19).
    """
    import zlib

    if not body.lstrip()[:5].startswith(b"%PDF-"):
        raise ValueError("not a PDF: missing %PDF- header")
    # malformed structures surface as IndexError (e.g. a trailing
    # backslash in a literal string reading past the end), ValueError
    # (bytes.index misses) or zlib.error (corrupt FlateDecode) in the
    # parsing internals — normalize all of them to the documented
    # ValueError so the error-column taxonomy holds for direct callers
    try:
        doc = _Doc(body)
        pages = doc.pages()
        if not pages:
            raise ValueError("no pages found")
        out = []
        for page in pages:
            fonts = _font_maps(doc, page)
            out.append(_page_text(doc, page, fonts))
        return out
    except ValueError:
        raise
    except (
        IndexError,
        KeyError,
        AssertionError,
        AttributeError,  # e.g. /Resources or /Font resolving to a non-dict
        TypeError,  # e.g. /Kids resolving to a non-list
        zlib.error,
    ) as e:
        raise ValueError(f"unparseable PDF: {type(e).__name__}: {e}") from e
