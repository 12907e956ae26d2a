"""Dependency-free PNG codec (RFC 2083 / ISO 15948): the LOSSLESS
compressed-image format, implemented from the public spec on top of
stdlib zlib (a genuine DEFLATE inflate — the container has no codec
libraries but does have the compression primitive PNG builds on).
Because PNG is lossless, the registry oracle for this codec is
value-exact over ARBITRARY images — the DuckDB side recomputes full
per-channel pixel sums from the synth formulas — which is a stronger
cross-engine check than baseline JPEG's flat-block exactness.

Implemented: 8-bit grayscale (color type 0) and truecolor RGB (color
type 2); all five scanline filters (None/Sub/Up/Average/Paeth) in
both directions; chunk CRC verification. Out of scope and REJECTED
with ValueError (never mis-decoded): palette, alpha, 16-bit,
Adam7 interlace.

Parity note: generalizes the reference's opaque-binary handling to
the image formats a multimodal training pipeline carries; the codec
family pattern (real decode + mirror encoder so tests can verify
against analytic expectations) matches functions/jpeg.py.
"""

from __future__ import annotations

import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels: list[list], grayscale: bool = False) -> bytes:
    """rows of pixels -> PNG bytes. Each pixel is an int (grayscale)
    or an (r, g, b) triple. Scanline filters cycle 0..4 row-by-row so
    every filter path is exercised on every image."""
    h = len(pixels)
    if h == 0 or len(pixels[0]) == 0:
        raise ValueError("empty image")
    w = len(pixels[0])
    bpp = 1 if grayscale else 3
    raw = bytearray()
    prev = bytes(w * bpp)
    for y, row in enumerate(pixels):
        if len(row) != w:
            raise ValueError("ragged rows")
        line = bytes(
            (v % 256 for v in row)
            if grayscale
            else (c % 256 for px in row for c in px)
        )
        f = y % 5
        raw.append(f)
        if f == 0:
            raw += line
        elif f == 1:  # Sub
            raw += bytes(
                (line[i] - (line[i - bpp] if i >= bpp else 0)) % 256
                for i in range(len(line))
            )
        elif f == 2:  # Up
            raw += bytes((line[i] - prev[i]) % 256 for i in range(len(line)))
        elif f == 3:  # Average
            raw += bytes(
                (line[i] - ((line[i - bpp] if i >= bpp else 0) + prev[i]) // 2)
                % 256
                for i in range(len(line))
            )
        else:  # Paeth
            raw += bytes(
                (
                    line[i]
                    - _paeth(
                        line[i - bpp] if i >= bpp else 0,
                        prev[i],
                        prev[i - bpp] if i >= bpp else 0,
                    )
                )
                % 256
                for i in range(len(line))
            )
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if grayscale else 2, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> dict:
    """PNG bytes -> {width, height, n_channels, pixels} with pixels as
    rows of ints (grayscale) or (r, g, b) tuples. ValueError on
    non-PNG bytes, CRC mismatch, or out-of-scope features."""
    if len(payload) < 8 or payload[:8] != _SIG:
        raise ValueError("not a PNG payload")
    i, ihdr, idat, ended = 8, None, bytearray(), False
    while i + 8 <= len(payload):
        ln = struct.unpack(">I", payload[i : i + 4])[0]
        ctype = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + ln]
        if len(data) < ln or i + 12 + ln > len(payload):
            raise ValueError("truncated chunk")
        crc = struct.unpack(">I", payload[i + 8 + ln : i + 12 + ln])[0]
        if zlib.crc32(ctype + data) != crc:
            raise ValueError(f"CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            ended = True
            break
        i += 12 + ln
    if ihdr is None or not ended:
        raise ValueError("missing IHDR or IEND")
    if len(ihdr) != 13:
        # a short IHDR with a VALID CRC would otherwise leak
        # struct.error past the except-ValueError isolation — the
        # fuzzers can't reach this (they can't forge CRCs), so it
        # needs an explicit guard (decoder audit)
        raise ValueError("malformed IHDR: wrong length")
    w, h, depth, ctype_n, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if w == 0 or h == 0:
        raise ValueError("zero image dimension")
    if w * h > (1 << 26):
        # decode-bomb guard: a 13-byte IHDR can declare 2^32-square
        # dims; cap materialized pixels (64 MPx) so a hostile header
        # rejects instead of exhausting executor memory
        raise ValueError("image too large to decode")
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth}")
    if ctype_n not in (0, 2):
        raise ValueError(f"unsupported color type {ctype_n}")
    if comp != 0 or filt != 0:
        raise ValueError("unsupported compression/filter method")
    if interlace != 0:
        raise ValueError("Adam7 interlace not supported")
    bpp = 1 if ctype_n == 0 else 3
    stride = w * bpp
    expected = h * (stride + 1)
    # bounded inflate: IHDR fixes the exact decompressed size, so cap
    # the inflate at expected+1 — a decompression bomb (tiny IDAT,
    # huge expansion) is rejected without ever materializing, and
    # corrupt DEFLATE surfaces as the parser's ValueError
    d = zlib.decompressobj()
    try:
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt IDAT stream: {exc}") from exc
    if len(raw) != expected or d.unconsumed_tail:
        raise ValueError("IDAT length does not match dimensions")
    rows: list[bytes] = []
    prev = bytes(stride)
    pos = 0
    for _y in range(h):
        f = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if f == 1:  # Sub
            for i2 in range(bpp, stride):
                line[i2] = (line[i2] + line[i2 - bpp]) % 256
        elif f == 2:  # Up
            for i2 in range(stride):
                line[i2] = (line[i2] + prev[i2]) % 256
        elif f == 3:  # Average
            for i2 in range(stride):
                left = line[i2 - bpp] if i2 >= bpp else 0
                line[i2] = (line[i2] + (left + prev[i2]) // 2) % 256
        elif f == 4:  # Paeth
            for i2 in range(stride):
                left = line[i2 - bpp] if i2 >= bpp else 0
                ul = prev[i2 - bpp] if i2 >= bpp else 0
                line[i2] = (line[i2] + _paeth(left, prev[i2], ul)) % 256
        elif f != 0:
            raise ValueError(f"unknown scanline filter {f}")
        prev = bytes(line)
        rows.append(prev)
    if ctype_n == 0:
        pixels = [list(r) for r in rows]
    else:
        pixels = [
            [tuple(r[x * 3 : x * 3 + 3]) for x in range(w)] for r in rows
        ]
    return {"width": w, "height": h, "n_channels": bpp, "pixels": pixels}
