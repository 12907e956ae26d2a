"""Dependency-free baseline JPEG codec (grayscale, single component,
sequential DCT — ITU-T T.81 baseline subset), closing the earlier "JPEG
remains stubbed pending PIL" gap the same way functions/pdftext.py
closed PDF extraction: a from-scratch byte-level implementation of the
public spec, exercised end-to-end in-container.

Scope (deliberate, rejected-not-ignored): single-component 8-bit
baseline only. Progressive (SOF2), multi-component color, restart
markers, and arithmetic coding raise ValueError — a corpus pipeline
must REJECT what it cannot decode, not mis-decode it. The full
pipeline that IS implemented: marker segments (SOI/DQT/SOF0/DHT/SOS/
EOI), canonical Huffman table construction, entropy decode with byte
unstuffing, DC prediction + JPEG value extension, AC run-length /
ZRL / EOB, dequantization, de-zigzag, float IDCT, level shift, edge
crop. The encoder implements the mirror image (forward DCT, quantize,
zigzag, RLE, Huffman, byte stuffing) so tests can verify the decoder
against ANALYTIC expectations (flat blocks) and an INDEPENDENT numpy
DCT/quant/IDCT model — not just against the encoder's own opinion.

All tables are public: zigzag is generated programmatically from the
diagonal-walk definition; Huffman tables are the T.81 Annex K typical
luminance tables; the quantization table is caller-supplied (uniform
by default, which at q=1 makes the codec near-lossless and the
round-trip analytically predictable).
"""

from __future__ import annotations

import math
import struct

# ---------------------------------------------------------------- tables


def _zigzag_order() -> list[tuple[int, int]]:
    """The 64 (row, col) coordinates in JPEG zigzag order, generated
    from the definition (anti-diagonals, alternating direction)."""
    out = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        diag = [(s - c, c) for c in rng]  # row-decreasing walk
        if s % 2 == 1:
            diag.reverse()  # odd anti-diagonals run row-increasing
        out.extend(diag)
    return out


ZIGZAG = _zigzag_order()

# ITU-T T.81 Annex K "typical" luminance Huffman tables (public spec).
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
assert sum(DC_BITS) == len(DC_VALS) and sum(AC_BITS) == len(AC_VALS)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical construction of
    T.81 Annex C."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS)

_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
    for x in range(8)
]
_C = [1.0 / math.sqrt(2)] + [1.0] * 7


# ---------------------------------------------------------------- encoder


def _fdct_block(block: list[list[float]]) -> list[list[float]]:
    out = [[0.0] * 8 for _ in range(8)]
    for u in range(8):
        for v in range(8):
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += block[x][y] * _COS[x][u] * _COS[y][v]
            out[u][v] = 0.25 * _C[u] * _C[v] * s
    return out


def _idct_block(coef: list[list[float]]) -> list[list[float]]:
    out = [[0.0] * 8 for _ in range(8)]
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    s += _C[u] * _C[v] * coef[u][v] * _COS[x][u] * _COS[y][v]
            out[x][y] = 0.25 * s
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-pad per spec


def _size_cat(v: int) -> int:
    return 0 if v == 0 else v.bit_length() if v > 0 else (-v).bit_length()


def _value_bits(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


def encode_baseline_jpeg(
    pixels: list[list[int]], quant: int = 1
) -> bytes:
    """Encode a grayscale image (rows of 0-255 ints) as baseline JPEG
    with a uniform quantization table of `quant`."""
    h = len(pixels)
    w = len(pixels[0])
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qtab = [max(1, min(255, quant))] * 64

    seg = bytearray(b"\xff\xd8")  # SOI
    # DQT (length 67 = 2 + 1 id byte + 64 entries)
    seg += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes(qtab)
    # SOF0
    seg += (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 11, 8, h, w, 1)
        + bytes([1, 0x11, 0])
    )
    # DHT (DC then AC)
    seg += (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(DC_VALS))
        + bytes([0x00])
        + bytes(DC_BITS)
        + bytes(DC_VALS)
    )
    seg += (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(AC_VALS))
        + bytes([0x10])
        + bytes(AC_BITS)
        + bytes(AC_VALS)
    )
    # SOS
    seg += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])

    bw = _BitWriter()
    pred = 0
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            block = [
                [
                    float(
                        pixels[min(by + x, h - 1)][min(bx + y, w - 1)]
                    )
                    - 128.0
                    for y in range(8)
                ]
                for x in range(8)
            ]
            coef = _fdct_block(block)
            q = [
                [
                    int(round(coef[u][v] / qtab[u * 8 + v]))
                    for v in range(8)
                ]
                for u in range(8)
            ]
            zz = [q[r][c] for r, c in ZIGZAG]
            # DC
            diff = zz[0] - pred
            pred = zz[0]
            size = _size_cat(diff)
            code, ln = _DC_ENC[size]
            bw.write(code, ln)
            if size:
                bw.write(_value_bits(diff, size), size)
            # AC
            run = 0
            for k in range(1, 64):
                v = zz[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = _AC_ENC[0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                size = _size_cat(v)
                code, ln = _AC_ENC[(run << 4) | size]
                bw.write(code, ln)
                bw.write(_value_bits(v, size), size)
                run = 0
            if run:
                code, ln = _AC_ENC[0x00]  # EOB
                bw.write(code, ln)
    bw.flush()
    return bytes(seg) + bytes(bw.out) + b"\xff\xd9"


# ---------------------------------------------------------------- decoder


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; raises
    ValueError at any non-RST marker inside entropy data."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated marker in entropy data")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed FF
            else:
                raise ValueError("unexpected marker inside entropy data")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _build_decode_table(bits: list[int], vals: list[int]) -> dict:
    enc = _canonical_codes(bits, vals)
    return {(ln, code): sym for sym, (code, ln) in enc.items()}


def _read_symbol(br: _BitReader, table: dict) -> int:
    code, ln = 0, 0
    while ln <= 16:
        code = (code << 1) | br.read_bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(payload: bytes) -> dict:
    """Decode a single-component baseline JPEG. Returns {width,
    height, n_components, byte_len, pixels} (pixels = rows of 0-255
    ints). Raises ValueError on anything outside the supported
    baseline-grayscale subset."""
    d = payload
    if len(d) < 4 or d[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    w = h = None
    comp_qtab = None
    dc_id = ac_id = None
    while True:
        if pos + 4 > len(d):
            raise ValueError("truncated segment stream")
        if d[pos] != 0xFF:
            raise ValueError("expected marker")
        marker = d[pos + 1]
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        ln = struct.unpack(">H", d[pos + 2 : pos + 4])[0]
        body = d[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if i + 65 > len(body):
                    raise ValueError("malformed DQT: truncated table")
                qtabs[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC0:  # SOF0 baseline
            if len(body) < 9:
                raise ValueError("malformed SOF0: truncated")
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            if w == 0 or h == 0:
                raise ValueError("zero image dimension")
            if w * h > (1 << 26):
                # decode-bomb guard: SOF0 can declare 65535×65535; cap
                # materialized pixels (64 MPx) so a hostile header
                # rejects instead of exhausting executor memory on the
                # pre-scan image allocation (decoder audit)
                raise ValueError("image too large to decode")
            if ncomp != 1:
                raise ValueError("only single-component (grayscale) supported")
            sampling, comp_qtab = body[7], body[8]
            if sampling != 0x11:
                raise ValueError("subsampling unsupported")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("non-baseline SOF unsupported")
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                # Validate the table header BEFORE building codes:
                # _canonical_codes indexes vals[k] for k < sum(bits) and
                # assumes each length's codes fit in `length` bits — a
                # spliced/corrupt DHT must reject here (ValueError), never
                # leak IndexError past the A-19 per-record isolation.
                if len(bits) != 16:
                    raise ValueError("malformed DHT: truncated bits array")
                nv = sum(bits)
                if nv == 0 or nv > 256 or i + 17 + nv > len(body):
                    raise ValueError("malformed DHT: value count out of range")
                code = 0
                for length in range(1, 17):
                    code += bits[length - 1]
                    if code > (1 << length):
                        raise ValueError("malformed DHT: over-subscribed code space")
                    code <<= 1
                vals = list(body[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _build_decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            if len(body) < 3:
                raise ValueError("malformed SOS: truncated")
            ncomp_s = body[0]
            if ncomp_s != 1:
                raise ValueError("only single-component scans supported")
            dc_id, ac_id = body[2] >> 4, body[2] & 0xF
            pos = pos + 2 + ln
            break
        pos = pos + 2 + ln
    if w is None or h is None:
        raise ValueError("no SOF0 before SOS")
    if comp_qtab not in qtabs:
        raise ValueError("missing quant table")
    if (0, dc_id) not in huff or (1, ac_id) not in huff:
        raise ValueError("missing Huffman table")
    qtab = qtabs[comp_qtab]
    dct_t, act_t = huff[(0, dc_id)], huff[(1, ac_id)]

    bw_blocks = (w + 7) // 8
    bh_blocks = (h + 7) // 8
    img = [[0] * w for _ in range(h)]
    br = _BitReader(d, pos)
    pred = 0
    for by in range(bh_blocks):
        for bx in range(bw_blocks):
            zz = [0] * 64
            size = _read_symbol(br, dct_t)
            diff = _extend(br.read_bits(size), size) if size else 0
            pred += diff
            zz[0] = pred
            k = 1
            while k < 64:
                sym = _read_symbol(br, act_t)
                if sym == 0x00:  # EOB
                    break
                run, size = sym >> 4, sym & 0xF
                if size == 0:
                    if run != 15:
                        raise ValueError("invalid AC symbol")
                    k += 16  # ZRL
                    continue
                k += run
                if k > 63:
                    raise ValueError("AC coefficient index overflow")
                zz[k] = _extend(br.read_bits(size), size)
                k += 1
            coef = [[0.0] * 8 for _ in range(8)]
            for idx, (r, c) in enumerate(ZIGZAG):
                coef[r][c] = zz[idx] * qtab[idx]
            blk = _idct_block(coef)
            for x in range(8):
                yy = by * 8 + x
                if yy >= h:
                    break
                for y in range(8):
                    xx = bx * 8 + y
                    if xx >= w:
                        break
                    v = int(round(blk[x][y] + 128.0))
                    img[yy][xx] = 0 if v < 0 else 255 if v > 255 else v
    return {
        "width": w,
        "height": h,
        "n_components": 1,
        "byte_len": len(payload),
        "pixels": img,
    }


def synth_jpeg(doc_id: int) -> bytes:
    """Deterministic real JPEG: gradient-ish pattern, size derived from
    doc_id (deliberately NOT multiples of 8, exercising pad + crop)."""
    w = 9 + doc_id % 23
    h = 10 + (doc_id // 5) % 19
    pixels = [
        [((x * (3 + doc_id % 7) + y * 5 + doc_id) % 256) for x in range(w)]
        for y in range(h)
    ]
    return encode_baseline_jpeg(pixels, quant=1)
