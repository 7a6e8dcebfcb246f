"""Luby MIS (analytics.maximal_independent_set): exact agreement with a
sequential replay under the identical md5 priorities, plus the two
defining properties (independence, maximality)."""

import hashlib

import pytest
from conftest import call_with_fixtures


def _pri(v, rnd):
    key = f"{v}" if rnd is None else f"{v}:{rnd}"
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def _luby_replay(edge_list, max_rounds=40):
    adj = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    active = set(adj)
    mis = set()
    rnd = 0
    while active and rnd < max_rounds:
        rnd += 1
        sel = set()
        for v in active:
            nb = [u for u in adj[v] if u in active]
            key = (_pri(v, rnd), v)
            if all(key < (_pri(u, rnd), u) for u in nb):
                sel.add(v)
        mis |= sel
        removed = set(sel)
        for v in sel:
            removed |= {u for u in adj[v] if u in active}
        active -= removed
    return mis


EDGES = [
    (1, 2), (2, 3), (3, 4), (4, 1), (1, 3),   # clique-ish square
    (5, 6), (6, 7),                            # path
    (8, 8),                                    # self-loop: ignored
    (9, 10),
    (2, 5),                                    # bridge
]


def _spark_mis(spark, threshold):
    from torcdb_spark.analytics import maximal_independent_set

    e = spark.createDataFrame(EDGES, "src long, dst long")
    return {
        r["id"]
        for r in maximal_independent_set(
            e, local_threshold=threshold
        ).collect()
    }


def test_mis_matches_sequential_replay(spark):
    # threshold high -> small-core finisher; 0 -> distributed Luby loop.
    # Both must select the identical set.
    assert _spark_mis(spark, 10_000) == _luby_replay(EDGES)
    assert _spark_mis(spark, 0) == _luby_replay(EDGES)


def test_mis_is_independent_and_maximal(spark):
    mis = _spark_mis(spark, 0)
    adj = {}
    for a, b in EDGES:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # independence: no edge inside the set
    for a, b in EDGES:
        assert not (a != b and a in mis and b in mis)
    # maximality: every non-member has a member neighbor
    for v in adj:
        assert v in mis or adj[v] & mis


def _coloring_replay(edge_list):
    """Sequential greedy coloring in fixed md5-priority order — exactly
    what Jones-Plassmann computes in parallel."""
    adj = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    order = sorted(adj, key=lambda v: (_pri(v, None), v))
    colors = {}
    for v in order:
        used = {colors[u] for u in adj[v] if u in colors}
        c = 1
        while c in used:
            c += 1
        colors[v] = c
    return colors


def test_coloring_matches_sequential_replay(spark):
    from torcdb_spark.analytics import greedy_coloring

    e = spark.createDataFrame(EDGES, "src long, dst long")
    expect = _coloring_replay(EDGES)
    for threshold in (10_000, 0):  # finisher AND distributed JP loop
        got = {
            r["id"]: r["color"]
            for r in greedy_coloring(
                e, local_threshold=threshold
            ).collect()
        }
        assert got == expect, threshold


def test_coloring_is_proper_and_total(spark):
    from torcdb_spark.analytics import greedy_coloring

    e = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r["id"]: r["color"]
        for r in greedy_coloring(e, local_threshold=0).collect()
    }
    verts = {v for a, b in EDGES if a != b for v in (a, b)}
    assert set(got) == verts          # total
    for a, b in EDGES:
        if a != b:
            assert got[a] != got[b]   # proper


@pytest.mark.parametrize(
    "name",
    ("test_coloring_matches_sequential_replay", "test_coloring_is_proper_and_total"),
)
def test_shuffle_regime_parity(name, request, shuffle_regime):
    call_with_fixtures(globals()[name], request)
