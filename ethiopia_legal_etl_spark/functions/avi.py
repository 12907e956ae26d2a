"""Dependency-free AVI (RIFF) container codec for Motion-JPEG video —
the VIDEO tier of the multimodal mandate, made real in-container by
composing this container parser with the from-scratch baseline JPEG
codec (functions/jpeg.py): write genuine playable MJPEG AVI bytes,
parse them back, FRAME-SAMPLE every k-th frame, and decode the sampled
frames to pixels. Perceptual codecs (H.264/H.265) remain honestly out
of scope — MJPEG is the classic intra-only format whose frames are
independently-decodable JPEGs, which is also exactly what makes it the
scale-correct shape: at 100 TB, frame extraction parallelizes with no
inter-frame state, like IMA ADPCM's self-contained audio blocks.

Format: the public Microsoft 'AVI RIFF File Reference' layout —
RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
'00dc'...) 'idx1'), with MainAVIHeader / AVIStreamHeader /
BITMAPINFOHEADER packed per the spec. The parser cross-checks avih's
dwTotalFrames against the movi chunk count and rejects (ValueError,
never a wrong answer) non-MJPEG streams, audio-only files, and
truncated containers.
"""

from __future__ import annotations

import struct

AVIIF_KEYFRAME = 0x10


def write_mjpeg_avi(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """JPEG frame payloads -> a canonical single-stream MJPEG AVI
    (hdrl + movi + idx1, all sizes and offsets per the RIFF spec)."""
    if not frames:
        raise ValueError("an AVI needs at least one frame")
    max_sz = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_sz * fps,      # dwMaxBytesPerSec
        0,                 # dwPaddingGranularity
        0x10,              # dwFlags: AVIF_HASINDEX
        len(frames), 0, 1, max_sz, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4h",
            0, 0, 0, 0,
            1, fps,            # dwScale / dwRate -> fps
            0, len(frames),    # dwStart / dwLength (in frames)
            max_sz, 0xFFFF, 0,
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<Iii2H4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    strl = _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf))
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + strl)

    movi_body, idx, off = b"", b"", 4  # offsets count from 'movi' fourcc
    for f in frames:
        movi_body += _chunk(b"00dc", f)
        idx += b"00dc" + struct.pack("<III", AVIIF_KEYFRAME, off, len(f))
        off += 8 + len(f) + (len(f) & 1)
    movi = _list(b"movi", movi_body)

    body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))


def _list(kind: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", kind + body)


def parse_avi(payload: bytes) -> dict:
    """Parse an MJPEG AVI -> {width, height, fps, n_frames, frames}
    where frames are the raw per-frame JPEG payloads (decode them with
    functions/jpeg.decode_jpeg). ValueError on anything that is not a
    well-formed single-video-stream MJPEG AVI."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    meta: dict = {}
    frames: list[bytes] = []
    _walk(payload[12 : 12 + struct.unpack("<I", payload[4:8])[0] - 4], meta, frames)
    if "n_frames" not in meta:
        raise ValueError("no avih header")
    if meta.pop("_handler", None) not in (b"MJPG", b"mjpg"):
        raise ValueError("not an MJPEG video stream")
    if meta["n_frames"] != len(frames):
        raise ValueError(
            f"avih declares {meta['n_frames']} frames, movi has {len(frames)}"
        )
    meta["frames"] = frames
    return meta


def _walk(body: bytes, meta: dict, frames: list[bytes], depth: int = 0) -> None:
    if depth > 16:
        # real AVIs nest 2-3 LISTs deep; a crafted deep nest must be
        # rejected with the parser's error type, not a RecursionError
        raise ValueError("LIST nesting too deep")
    i = 0
    while i + 8 <= len(body):
        cid = body[i : i + 4]
        sz = struct.unpack("<I", body[i + 4 : i + 8])[0]
        data = body[i + 8 : i + 8 + sz]
        if len(data) < sz:
            raise ValueError("truncated chunk")
        if cid == b"LIST":
            _walk(data[4:], meta, frames, depth + 1)  # recurse past the kind
        elif cid == b"avih":
            if len(data) < 56:
                # struct.error would escape the pipeline's
                # except-ValueError isolation
                raise ValueError("short avih chunk")
            vals = struct.unpack("<14I", data[:56])
            meta.update(
                fps=1_000_000 // vals[0] if vals[0] else 0,
                n_frames=vals[4], width=vals[8], height=vals[9],
            )
        elif cid == b"strh":
            if data[:4] == b"vids":
                meta["_handler"] = data[4:8]
        elif cid == b"00dc":
            frames.append(data)
        i += 8 + sz + (sz & 1)


def sample_frames(frames: list[bytes], stride: int) -> list[bytes]:
    """Every stride-th frame, always including the first — the
    frame-sampling policy a video training pipeline applies before
    per-frame decode/feature-extract."""
    if stride < 1:
        raise ValueError("stride must be >= 1")
    return frames[::stride]
