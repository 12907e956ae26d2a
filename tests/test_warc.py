"""Tests for the WARC source (sources/warc.py): format round trips,
the gzip per-record-member splittability property (the Common Crawl
scale contract), and rejected-not-mis-parsed malformed input."""

from __future__ import annotations

import gzip

import pytest

from ethiopia_legal_etl_spark.sources.warc import (
    parse_warc,
    write_warc,
    write_warc_record,
)


def _recs(n: int, seed: int = 0):
    return [
        {
            "type": "response",
            "uri": f"http://site{(seed + i) % 10}.example/{i}",
            "date": "2026-01-01T00:00:00Z",
            "payload": bytes((seed * 7 + i + j) % 256 for j in range(30 + i)),
            "record_id": f"{seed}-{i}",
        }
        for i in range(n)
    ]


def test_plain_round_trip():
    recs = _recs(5, 3)
    parsed = parse_warc(write_warc(recs))
    assert len(parsed) == 5
    for p, r in zip(parsed, recs):
        assert p["type"] == r["type"]
        assert p["uri"] == r["uri"]
        assert p["date"] == r["date"]
        assert p["record_id"] == r["record_id"]
        assert p["payload"] == r["payload"]


def test_gzip_round_trip_equals_plain():
    recs = _recs(4, 9)
    assert parse_warc(write_warc(recs, compress=True)) == parse_warc(
        write_warc(recs)
    )


def test_gzip_members_are_record_parallel():
    # the Common Crawl splittability contract: each record is its own
    # gzip member, so parsing can START at any member boundary without
    # the preceding bytes — prove it by chopping the file at the first
    # member boundary and parsing only the tail
    recs = _recs(6, 1)
    gz = write_warc(recs, compress=True)
    first = gzip.compress(
        write_warc_record(
            recs[0]["type"], recs[0]["uri"], recs[0]["date"],
            recs[0]["payload"], recs[0]["record_id"],
        ),
        mtime=0,
    )
    assert gz[: len(first)] == first  # writer emits per-record members
    tail = parse_warc(gz[len(first) :])
    assert [t["uri"] for t in tail] == [r["uri"] for r in recs[1:]]


def test_deterministic_compressed_bytes():
    recs = _recs(3, 7)
    assert write_warc(recs, compress=True) == write_warc(recs, compress=True)


def test_binary_payloads_with_crlf_content_survive():
    # Content-Length framing (not delimiter scanning) must carry
    # payloads that contain CRLFCRLF and fake WARC headers
    evil = b"\r\n\r\nWARC/1.0\r\nContent-Length: 9999\r\n\r\n" + bytes(range(256))
    recs = [
        {
            "type": "response",
            "uri": "http://x.example/evil",
            "date": "2026-01-01T00:00:00Z",
            "payload": evil,
            "record_id": "evil-1",
        }
    ] + _recs(2, 5)
    parsed = parse_warc(write_warc(recs, compress=True))
    assert parsed[0]["payload"] == evil
    assert len(parsed) == 3


def test_malformed_rejected_not_misparsed():
    good = write_warc(_recs(2, 2))
    with pytest.raises(ValueError, match="version"):
        parse_warc(b"HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n")
    with pytest.raises(ValueError):
        parse_warc(good[:-40])  # truncated block
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\n\r\n")
    with pytest.raises(ValueError, match="gzip"):
        parse_warc(write_warc(_recs(2, 2), compress=True)[:-10])
    # A negative Content-Length once moved pos backwards and
    # looped the executor task forever; must reject, not hang
    with pytest.raises(ValueError, match="negative"):
        parse_warc(
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"Content-Length: -33\r\n\r\nx\r\n\r\n"
        )


def test_corrupt_gzip_member_rejected_as_valueerror():
    # corrupt DEFLATE (not just truncation) must surface as ValueError
    # so the pipeline's per-record isolation can catch it
    gz = bytearray(write_warc(_recs(2, 4), compress=True))
    gz[20] ^= 0xFF  # flip a byte inside the first member's deflate data
    with pytest.raises(ValueError):
        parse_warc(bytes(gz))


# ---------------------------------------------------------- hypothesis fuzz

from hypothesis import given, settings
from hypothesis import strategies as hst


@settings(max_examples=150, deadline=None)
@given(hst.binary(max_size=600))
def test_fuzz_arbitrary_bytes_reject_cleanly(payload):
    """Hostile-archive contract: arbitrary bytes either parse or raise
    ValueError — never hang (the r5 negative-Content-Length bug moved
    the cursor backwards and looped forever; this fuzz pins the whole
    class), never leak other exception types past the per-record
    isolation boundary."""
    try:
        parse_warc(payload)
    except ValueError:
        pass


@settings(max_examples=80, deadline=None)
@given(hst.binary(max_size=120), hst.integers(0, 400))
def test_fuzz_spliced_noise_rejects_or_parses(noise, cut):
    good = write_warc(_recs(2, 3), compress=True)
    cut = min(cut, len(good))
    mutated = good[:cut] + noise + good[cut + len(noise):]
    try:
        parse_warc(mutated)
    except ValueError:
        pass


@settings(max_examples=60, deadline=None)
@given(hst.integers(-10**6, 10**6))
def test_fuzz_content_length_field_bounds(n):
    """Any declared Content-Length that disagrees with the actual body
    (negative, overlong) must reject; only the true length parses."""
    body = b"x" * 7
    raw = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        + f"Content-Length: {n}\r\n\r\n".encode()
        + body + b"\r\n\r\n"
    )
    try:
        recs = parse_warc(raw)
        # if it parsed, the declared length must have been consistent
        # with the framing (payload is a prefix of body + terminators)
        assert 0 <= n <= len(body) + 4
        assert recs[0]["payload"] == (body + b"\r\n\r\n")[:n]
    except ValueError:
        pass


def test_host_rank_fixed_point_matches_python_model(spark, sf_dir):
    """host_rank_fixed_point vs an independent pure-Python fixed-point
    PageRank over the same edge list: final micro-unit ranks must be
    integer-identical (the entry's whole claim is bit-exact
    determinism), and total mass stays within the documented
    truncation leak (<= 1 micro-unit per edge per step + damping
    floor)."""
    from collections import defaultdict

    from ethiopia_legal_etl_spark.operators.webarchive import (
        host_rank_fixed_point,
    )

    ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    edges = set()
    for d in ids:
        src = d % 50
        for i in range(1 + d % 3):
            edges.add((src, (src * 7 + i * 13 + 1) % 50))
    hosts = sorted({s for s, _ in edges})
    outdeg = defaultdict(int)
    incoming = defaultdict(list)
    for s, t in edges:
        outdeg[s] += 1
        incoming[t].append(s)
    n = len(hosts)
    rank = {h: 1_000_000 // n for h in hosts}
    for _ in range(3):
        rank = {
            h: 150_000 // n
            + (85 * sum(rank[s] // outdeg[s] for s in incoming.get(h, []))) // 100
            for h in hosts
        }
    got = {
        r["host"]: r["rank_microunits"]
        for r in host_rank_fixed_point(spark, sf_dir).collect()
    }
    assert got == rank
    # mass conservation up to the documented truncation leak
    assert sum(got.values()) <= 1_000_000
    assert sum(got.values()) >= 1_000_000 - (len(edges) + 2 * n) * 3


def test_frontier_bloom_no_false_negatives_and_accounting(spark, sf_dir):
    from ethiopia_legal_etl_spark.operators.webarchive import (
        frontier_bloom_seen,
    )

    (r,) = frontier_bloom_seen(spark, sf_dir).collect()
    assert r["n_false_negatives"] == 0  # a Bloom filter never forgets
    assert r["n_flagged_seen"] == r["n_prior"] + r["n_false_positives"]
    assert r["n_passed"] == r["n_candidates"] - r["n_flagged_seen"]
    # at m=2^16 / k=5 / n=250 the FPR envelope is ~1e-9: expect none
    assert r["n_false_positives"] == 0
    (again,) = frontier_bloom_seen(spark, sf_dir).collect()
    assert again == r  # deterministic


def test_frontier_bloom_small_filter_fpr_within_envelope(spark):
    """Undersized filter (m=1024, k=3, n=200): false positives MUST
    appear (the stress regime) but stay within 3x the standard
    (1 - e^(-kn/m))^k envelope; false negatives stay impossible."""
    import math

    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.operators.webarchive import (
        bloom_probe_frontier,
    )

    m, k, n_prior, n_new = 1024, 3, 200, 800
    urls = spark.range(n_prior + n_new).select(
        F.concat(F.lit("https://x.et/u"), F.col("id").cast("string")).alias(
            "url"
        ),
        (F.col("id") < n_prior).alias("prior"),
    )
    rows = bloom_probe_frontier(urls, m=m, k=k).collect()
    fn = sum(1 for r in rows if r["prior"] and not r["flagged_seen"])
    fp = sum(1 for r in rows if not r["prior"] and r["flagged_seen"])
    assert fn == 0
    envelope = (1 - math.exp(-k * n_prior / m)) ** k
    assert 0 < fp <= 3 * envelope * n_new, (fp, envelope * n_new)


def test_frontier_bloom_probe_is_broadcast_no_sort_merge(spark, sf_dir):
    from ethiopia_legal_etl_spark.operators.webarchive import (
        frontier_bloom_seen,
    )

    plan = frontier_bloom_seen(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 5  # one per hash probe
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
