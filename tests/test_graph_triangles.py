"""Behavioral tests for graph_triangle_count (oracle parity is
covered by check_oracle)."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.webarchive import graph_triangle_count


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    """Independent model: enumerate ALL 3-subsets of the <=50-node host
    graph in Python and count per-host triangle membership + degree."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = set()
    for r in docs.select("doc_id").collect():
        d = r["doc_id"]
        src = d % 50
        for i in range(1 + d % 3):
            dst = (src * 7 + i * 13 + 1) % 50
            if src != dst:
                edges.add((min(src, dst), max(src, dst)))
    nodes = sorted({n for e in edges for n in e})
    tri_of = {n: 0 for n in nodes}
    n_tri = 0
    for a, b, c in combinations(nodes, 3):
        if (a, b) in edges and (b, c) in edges and (a, c) in edges:
            n_tri += 1
            tri_of[a] += 1
            tri_of[b] += 1
            tri_of[c] += 1
    deg = {n: sum(1 for e in edges if n in e) for n in nodes}

    rows = {r["host"]: r for r in graph_triangle_count(spark, sf_dir).collect()}
    assert set(rows) == set(nodes)
    assert sum(r["n_triangles"] for r in rows.values()) == 3 * n_tri
    for n in nodes:
        assert rows[n]["n_triangles"] == tri_of[n]
        assert rows[n]["degree"] == deg[n]
        if deg[n] >= 2:
            assert rows[n]["clustering"] == 2 * tri_of[n] / (
                deg[n] * (deg[n] - 1)
            )
            assert 0 <= rows[n]["clustering"] <= 1



def test_event_pattern_funnels_semantics(spark, tmp_path):
    """Pin the CEP matching rules on a crafted stream: leftmost
    NON-OVERLAPPING matches, greedy [vc]* absorption, error letters
    break a funnel, cross-day sequences never join."""
    import datetime as dt

    from ethiopia_legal_etl_spark.operators.analytics import event_pattern_funnels

    base = dt.datetime(2026, 1, 5, 8, 0, 0)
    rows = []

    def add(uid, day_off, minute, etype):
        rows.append(
            (
                len(rows),
                base + dt.timedelta(days=day_off, minutes=minute),
                uid,
                etype,
                1.0,
                "{}",
            )
        )

    # user 1 day 0: s v c p v s c p  -> two funnels (svcp, scp), longest 4
    for m, e in enumerate(
        ["signup", "view", "click", "purchase", "view", "signup", "click", "purchase"]
    ):
        add(1, 0, m, e)
    # user 2 day 0: s v ERROR p -> error breaks the run, zero funnels
    for m, e in enumerate(["signup", "view", "error", "purchase"]):
        add(2, 0, m, e)
    # user 3: signup on day 0, purchase on day 1 -> day split, no funnel
    add(3, 0, 0, "signup")
    add(3, 1, 0, "purchase")

    d = str(tmp_path / "cep")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        (r["user_id"], str(r["day"])): r
        for r in event_pattern_funnels(spark, d).collect()
    }
    r1 = got[(1, "2026-01-05")]
    assert r1["seq"] == "svcpvscp"
    assert r1["n_funnels"] == 2 and r1["longest_funnel"] == 4
    r2 = got[(2, "2026-01-05")]
    assert r2["seq"] == "svep" and r2["n_funnels"] == 0
    assert r2["longest_funnel"] == 0
    assert got[(3, "2026-01-05")]["n_funnels"] == 0
    assert got[(3, "2026-01-06")]["n_funnels"] == 0


def test_kcore_matches_independent_peeler_and_reaches_fixpoint(spark, sf_dir):
    """Independent union-peeling ground truth for graph_kcore_hosts:
    (a) the unrolled rounds equal true k-core (fixpoint reached within
    the unroll, with >= 2 rounds of margin), (b) real peeling happened
    (some nodes removed), (c) every survivor keeps >= k surviving
    neighbors and every peeled node would not."""
    from ethiopia_legal_etl_spark.operators.webarchive import (
        _KCORE_K,
        _KCORE_ROUNDS,
        graph_kcore_hosts,
    )

    got = {
        r["host"]: r["core_degree"]
        for r in graph_kcore_hosts(spark, sf_dir).collect()
    }

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    adj: dict[int, set[int]] = {}

    def add(a_, b_):
        if a_ != b_:
            adj.setdefault(a_, set()).add(b_)
            adj.setdefault(b_, set()).add(a_)

    for r in docs.collect():
        src = r["doc_id"] % 50
        for i in range(1 + r["doc_id"] % 3):
            add(src, (src * src + i * 13 + 1) % 50)
    for i in range(4):
        add(50 + i, 51 + i)
    for i in range(5):
        add(50 + i, (2 * i) % 10)
        add(50 + i, (2 * i + 1) % 10)
    a = {n: set(v) for n, v in adj.items()}
    rounds = 0
    while True:
        dead = [n for n, v in a.items() if len(v) < _KCORE_K]
        if not dead:
            break
        rounds += 1
        for n in dead:
            for m in a.get(n, ()):
                a[m].discard(n)
            del a[n]
    assert rounds >= 4, "graph must exercise a multi-round peel cascade"
    assert rounds <= _KCORE_ROUNDS - 2, "need >= 2 rounds of fixpoint margin"
    assert 0 < len(a) < len(adj), "peeling must remove some but not all"
    assert got == {n: len(v) for n, v in a.items()}
    assert all(d >= _KCORE_K for d in got.values())
