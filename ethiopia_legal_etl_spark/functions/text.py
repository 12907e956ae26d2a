"""Pure column-expression re-implementations of the reference's scalar
logic (SURVEY.md §2.A / §2.C). Everything here is a Catalyst expression
— whole-stage-codegen'd, no Python in the hot path, and 1:1 translatable
to ANSI SQL for the DuckDB oracle.

Correctness traps preserved (SURVEY.md §2.C):
  1. year regex is range-bounded 1950-2099 (fetch_legal_docs.py:27)
  2. searched only within text[:1000]; first match wins
  3. no-match yields '' (string sentinel), never null
  4. %20→_ after splitext, then _→' ' for the title — two steps, ordered
  5. content-type check is substring containment, not equality
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# fetch_legal_docs.py:27 — 1950-2099 only. A naive \d{4} is wrong.
YEAR_REGEX = r"\b(19[5-9]\d|20\d{2})\b"
YEAR_SCAN_LIMIT = 1000  # fetch_legal_docs.py:27 searches text[:1000]


def extract_year(text: Column) -> Column:
    """A-13: first in-range year within the first 1000 chars, '' if none.

    regexp_extract returns '' on no-match — exactly the reference's
    empty-string sentinel (fetch_legal_docs.py:29-30).
    """
    return F.regexp_extract(
        F.substring(text, 1, YEAR_SCAN_LIMIT), YEAR_REGEX, 1
    )


def base_name_from_url(url: Column) -> Column:
    """A-10: basename → splitext → %20→_  (order matters, §2.C-4).

    fetch_legal_docs.py:35-38: basename(urlparse(url).path), strip the
    extension, then replace('%20','_') on the base only.

    Regex notes (hypothesis-differential-tested vs os.path semantics):
    - `\\z` not `$`: Java/RE2 `$` can match before a trailing newline;
      `\\z` is true end-of-text in both engines.
    - extension strip requires a NON-DOT char before the dot (capture,
      not lookbehind — RE2 has no lookbehind): splitext('.pdf') keeps
      the hidden-file name whole.
    - `(?s)` so query/fragment stripping crosses newlines.
    """
    # urlparse strips tab/CR/LF before parsing (WHATWG unsafe chars)
    clean = F.regexp_replace(url, r"[\t\r\n]", "")
    path = F.regexp_replace(clean, r"(?s)[?#].*", "")  # urlparse().path: drop query/fragment
    seg = F.regexp_extract(path, r"([^/]+)\z", 1)
    # urlparse also splits `;params` (RFC 1808) off the LAST segment —
    # which is exactly the basename
    base = F.regexp_replace(seg, r"(?s);.*", "")
    stem = F.regexp_replace(base, r"([^.])\.[^.]*\z", r"$1")
    return F.regexp_replace(stem, "%20", "_")


def title_from_base_name(base_name: Column) -> Column:
    """A-14 title: underscores → spaces (fetch_legal_docs.py:75)."""
    return F.regexp_replace(base_name, "_", " ")


def absolutize_url(href: Column, base_url: str) -> Column:
    """A-3: prefix relative hrefs (scrape_pdf_links.py:14)."""
    return F.when(href.startswith("http"), href).otherwise(
        F.concat(F.lit(base_url), href)
    )


def resource_type(filename: Column) -> Column:
    """A-17: vol* → cassation_decision, else statute (auto_ingest.yml:24-29)."""
    return F.when(filename.startswith("vol"), F.lit("cassation_decision")).otherwise(
        F.lit("statute")
    )


def is_pdf_content_type(content_type: Column) -> Column:
    """A-8: substring containment, not equality (fetch_legal_docs.py:52).

    'application/pdf;charset=binary' must pass.
    """
    return content_type.contains("application/pdf")


def strip_html(col: Column) -> Column:
    """HTML -> plain text as a pure JVM expression chain (zero Python,
    codegen-friendly): drop script/style blocks (non-greedy dotall),
    strip remaining tags, decode the core character entities with
    &amp; LAST (so earlier decodes cannot manufacture new entities),
    collapse whitespace. The whitespace class is written explicitly as
    [ \\t\\r\\n\\f] because Java \\s and RE2 \\s disagree on \\x0B —
    the one cross-engine regex trap between Spark and the DuckDB
    oracles. Shared by html_main_text and warc_to_text_pipeline so
    both run the identical semantics the oracles replicate."""
    t = F.regexp_replace(col, r"(?s)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?s)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, "[ \t\r\n\f]+", " "))


_URL_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_DEFAULT_PORTS = {"http": 80, "https": 443}


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 section 5.2.4 dot-segment removal — the spec's buffer
    algorithm verbatim (a segment-split shortcut gets the trailing
    '/.' and '/..' cases wrong: they must leave a trailing slash)."""
    inp, out = path, []
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            inp = "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            if out:
                out.pop()
        elif inp == "/..":
            inp = "/"
            if out:
                out.pop()
        elif inp in (".", ".."):
            inp = ""
        else:
            start = 1 if inp.startswith("/") else 0
            j = inp.find("/", start)
            if j < 0:
                out.append(inp)
                inp = ""
            else:
                out.append(inp[:j])
                inp = inp[j:]
    return "".join(out)


def _normalize_percent(s: str) -> str:
    """RFC 3986 section 6.2.2: decode percent-escapes of unreserved
    characters; uppercase the hex of every remaining escape."""
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "%" and len(s) >= i + 3:
            hex2 = s[i + 1 : i + 3]
            try:
                ch = chr(int(hex2, 16))
            except ValueError:
                out.append(c)
                i += 1
                continue
            if ch in _URL_UNRESERVED:
                out.append(ch)
            else:
                out.append("%" + hex2.upper())
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def canonicalize_url(url: str) -> str:
    """RFC 3986 section 6 URL normalization for URL-level dedup
    (RefinedWeb dedups on canonical URLs before content dedup):
    lowercase scheme+host, strip default ports, remove dot segments,
    normalize percent-escapes (decode unreserved, uppercase the
    rest), drop the fragment, empty path -> '/'. The query string is
    kept verbatim (parameter order can be semantic). Userinfo is
    preserved as-is."""
    from urllib.parse import urlsplit

    parts = urlsplit(url)
    scheme = parts.scheme.lower()
    netloc = parts.netloc
    userinfo, _, hostport = netloc.rpartition("@")
    host = (parts.hostname or "").lower()
    if ":" in host:
        # urlsplit().hostname strips IPv6 brackets; re-bracket or the
        # rebuilt authority ('http://::1/') is invalid and splits
        # one IPv6 host into distinct dedup keys
        host = "[" + host + "]"
    try:
        port = parts.port
    except ValueError:
        # malformed port ('http://h:7x/'): don't crash URL-level dedup
        # on crawl-frontier noise — but still normalize the host part
        # (lowercase + IPv6 re-bracket) so 'HTTP://Host:7x/' and
        # 'http://host:7x/' share one dedup key (a
        # verbatim-authority fallback would split them)
        _, _, port_text = hostport.rpartition(":")
        hostport = f"{host}:{port_text}"
    else:
        if port is None or port == _DEFAULT_PORTS.get(scheme):
            hostport = host
        else:
            hostport = f"{host}:{port}"
    netloc = f"{userinfo}@{hostport}" if userinfo else hostport
    path = _normalize_percent(_remove_dot_segments(parts.path)) or "/"
    out = f"{scheme}://{netloc}{path}"
    if parts.query:
        out += "?" + _normalize_percent(parts.query)
    return out


# ---------------------------------------------------------------------
# Mojibake repair (ftfy-style, UTF-8-misread-as-cp1252)
# ---------------------------------------------------------------------

# cp1252's five unassigned bytes; the "sloppy" variant maps them to
# their Latin-1 control chars so any byte sequence round-trips (the
# same convention ftfy's sloppy-windows-1252 codec uses, and what
# real-world decoders emit for these bytes)
_CP1252_UNMAPPED = frozenset((0x81, 0x8D, 0x8F, 0x90, 0x9D))


def sloppy_cp1252_decode(data: bytes) -> str:
    """Decode bytes the way a cp1252-assuming reader would — the
    CORRUPTION direction of mojibake (UTF-8 bytes misread as
    cp1252). Total: every byte maps to exactly one char."""
    out = []
    for b in data:
        if b in _CP1252_UNMAPPED:
            out.append(chr(b))
        else:
            out.append(bytes((b,)).decode("cp1252"))
    return "".join(out)


def sloppy_cp1252_encode(s: str) -> bytes:
    """Inverse of sloppy_cp1252_decode. Raises ValueError for chars
    with no cp1252/Latin-1 byte (true non-Western text cannot be the
    product of a cp1252 misread, so repair must not apply)."""
    out = bytearray()
    for ch in s:
        try:
            out += ch.encode("cp1252")
        except UnicodeEncodeError:
            o = ord(ch)
            if o < 256 and o in _CP1252_UNMAPPED:
                out.append(o)
            else:
                raise ValueError(
                    f"char U+{o:04X} has no cp1252 byte"
                ) from None
    return bytes(out)


def fix_mojibake(s: str, max_passes: int = 2) -> tuple[str, int]:
    """Repair UTF-8-misread-as-cp1252 mojibake ('Ã©' -> 'é'),
    iterating for double-encoded text. A pass applies only when ALL
    of: every char has a cp1252 byte; those bytes decode as valid
    UTF-8; and the decode strictly SHRINKS the text (a genuine
    misread always expands, so requiring shrinkage plus UTF-8
    validity keeps clean Western text intact — ftfy's fuller
    heuristics reduced to the two hard gates). Returns
    (fixed_text, passes_applied)."""
    cur = s
    passes = 0
    for _ in range(max_passes):
        try:
            b = sloppy_cp1252_encode(cur)
        except ValueError:
            break
        try:
            dec = b.decode("utf-8")
        except UnicodeDecodeError:
            break
        if dec == cur or len(dec) >= len(cur):
            break
        cur = dec
        passes += 1
    return cur, passes
