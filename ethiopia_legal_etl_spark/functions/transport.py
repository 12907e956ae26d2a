"""Transport-corruption model: deterministic mid-stream payload cuts.

Corruption axis 9: at 100 TB, binary media arrives
from an object store, and a failed GET / partial multipart upload
hands the decoder bytes cut mid-stream as routinely as a failed fetch
hands the text pipeline a NULL. The other corruption axes live in the
MIRRORED PARQUET (the nulls mirror in tools/mirrors.py), but this engine's media
payloads are not table data — they are synthesized executor-side as
deterministic functions of doc_id (the driver testdata has no binary
column to corrupt) — so the truncation axis lives at the one place
the bytes actually cross a transport boundary: the synth stage's
output. A session conf gates it:

    spark.ethiopia_legal_etl.corruptTransport = 0.1

Default unset/0 = OFF: clean runs, the driver's oracle gate, and the
bench see byte-identical payloads (the branch below is the only cost).
When on, rows whose mixed-hash bucket falls under frac*10 have their
payload cut at a second-hash-derived offset — mid-magic, mid-header,
mid-frame, anywhere — and the decode stages must account them as
error rows (doc_id + all-NULL metadata), never crash an executor.
tests/test_transport_truncation.py flips the conf and sweeps every
media entry end-to-end, and fuzzes every decoder over EVERY cut
offset directly (the decoder contract: any truncation raises
ValueError — no IndexError/struct.error/KeyError escapes, no hangs,
no silently-wrong metadata).

The hash is a shared integer formula (LCG-style multiply-add mod
2^31), not xxhash64, for the same reason as similarity's Rademacher
signs: a plain formula both an executor closure and (if an oracle
ever models this axis) a SQL engine can evaluate identically.
"""

from __future__ import annotations

TRANSPORT_TRUNC_CONF = "spark.ethiopia_legal_etl.corruptTransport"


def trunc_fraction(spark) -> float:
    """Read the conf driver-side (builders capture the float in their
    mapInPandas closures — executors never touch the conf)."""
    return float(spark.conf.get(TRANSPORT_TRUNC_CONF, "0") or "0")


def _mix(key: int, salt: int) -> int:
    """Murmur3-style finalizer over (key, salt): multiply-xorshift so
    ALL output bits are well mixed — a plain LCG's low bits are
    parity-locked (key*2*odd + odd is always odd), which made bucket 0
    unreachable in the first cut of this function."""
    h = ((key + 1) * 2654435761 + salt * 40503) & 0xFFFFFFFF
    h ^= h >> 16
    h = (h * 2246822519) & 0xFFFFFFFF
    h ^= h >> 13
    return h


def maybe_truncate(
    payload: bytes | None, key: int, frac: float, salt: int = 0
) -> bytes | None:
    """Deterministically cut ~frac of payloads. `salt` decorrelates
    multiple payload columns of the same row (a mu-law object and an
    ADPCM object fail independently in a real store)."""
    if not frac or payload is None:
        return payload
    # mille buckets, not deca: (h % 10) >= frac*10 quantized every
    # frac in (0, 0.1] up to 10% — a corruptTransport=0.01 setting
    # silently over-corrupted 10x (caught in a self-review)
    if (_mix(key, salt) % 1000) >= frac * 1000:
        return payload
    return payload[: _mix(key, salt + 101) % max(1, len(payload))]


def row_or_nulls(doc_id, n_fields: int, fn):
    """Decode-stage error isolation: run fn() -> tuple of metadata
    fields; the decoder contract's ValueError (corrupt / truncated
    payload) yields an error row — doc_id + all-NULL metadata — so
    one bad object never kills a 100 TB decode job. Any other
    exception type still propagates: it would be a decoder BUG (the
    fuzz sweep pins the ValueError-only contract), and masking bugs
    as error rows is how silent data loss happens."""
    try:
        return (doc_id, *fn())
    except ValueError:
        return (doc_id,) + (None,) * n_fields
