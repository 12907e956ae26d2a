"""Seeded generator for the engine's input tables.

Writes one parquet file per table (``{out_dir}/{name}.parquet``) with the
column names and types the operator registry reads: the TPC-H-ish star
schema, the ``events`` stream table, ``documents`` and ``embeddings``.
Column types and value domains follow the engine's documented fixtures
(FIXTURES.md): order/ship dates are day-granular ``timestamp[ms]``,
``events.ts`` is ``timestamp[ns]`` (so ``load_table`` takes its
nanoseconds-as-long conversion, as on the engine's real input), 2dp money,
a 30-word text vocabulary with 5% near-duplicate documents, 64-dim unit
embeddings in 10 labels.

Row counts scale with ``sf`` like TPC-H (lineitem = 6M x sf). The text and
vector tables keep a floor of 500 rows so tiny scales still exercise
dedup and similarity.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "us")


def _days_us(start: str, end: str, rng: np.random.Generator, n: int) -> np.ndarray:
    lo = (np.datetime64(start, "us") - _EPOCH).astype(np.int64) // _DAY_US
    hi = (np.datetime64(end, "us") - _EPOCH).astype(np.int64) // _DAY_US
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ts(us: np.ndarray, unit: str) -> pa.Array:
    """Microseconds since the epoch as a ``timestamp[unit]`` array; the
    values are whole milliseconds or finer, so no cast truncates."""
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us")).cast(pa.timestamp(unit))


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1500, round(1_500_000 * sf)),
        "lineitem": max(6000, round(6_000_000 * sf)),
        "events": max(1000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-soup texts; every 20th one copies an earlier text plus ' dup'."""
    lengths = rng.integers(8, 97, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    for i in range(20, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; the same (sf, seed) gives equal tables."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": _pick(rng, SEGMENTS, k),
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": _pick(rng, names, k),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(k) % 1000) / 10.0,
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", rng, k), "ms"),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", rng, k), "ms"),
    })
    k = n["events"]
    start = (np.datetime64("2024-01-01", "us") - _EPOCH).astype(np.int64)
    span = 30 * _DAY_US
    gaps = rng.exponential(1.0, k)
    ts = start + (np.cumsum(gaps) / gaps.sum() * (span - 1)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(ts, "ns"),
        "user_id": rng.integers(0, max(150, round(15_000 * sf)), k),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = document_texts(rng, k)
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, k, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    k = n["embeddings"]
    vecs = rng.standard_normal((k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, k).astype(np.int32),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, pa.Table]:
    """Generate the tables and write ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(sf, seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
