"""Distributed Borůvka MST vs a sequential Kruskal reference with the
identical (w, src, dst) tie-break — exact edge-set equality
(analytics.py boruvka_mst)."""

import pytest
from conftest import call_with_fixtures

from torcdb_spark.analytics import boruvka_mst


def _kruskal(edges):
    """Sequential reference: Kruskal under the same strict total order."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    chosen = []
    for w, u, v in sorted((w, u, v) for u, v, w in edges):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            chosen.append((u, v, w))
    return sorted(chosen)


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    # both paths: small-core Kruskal finisher AND the distributed
    # Borůvka loop must choose the identical unique forest
    for threshold in (200_000, 0):
        got = sorted(
            (r.src, r.dst, r.w)
            for r in boruvka_mst(df, local_threshold=threshold).collect()
        )
        assert got == _kruskal(edges), threshold
    return got


def test_mst_simple_triangle(spark):
    # triangle: MST drops the heaviest edge
    _run(spark, [(1, 2, 1.0), (2, 3, 2.0), (1, 3, 3.0)])


def test_mst_equal_weights_deterministic(spark):
    # all weights equal: the (w, src, dst) order fixes a unique forest
    _run(spark, [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0), (3, 4, 1.0),
                 (2, 4, 1.0)])


def test_mst_two_components(spark):
    # spanning FOREST: two disconnected components
    edges = [(1, 2, 5.0), (2, 3, 4.0), (1, 3, 6.0),
             (10, 11, 1.0), (11, 12, 2.0), (10, 12, 9.0)]
    got = _run(spark, edges)
    assert len(got) == 4  # |V|-1 per component: 2 + 2


def test_mst_chain_contraction(spark):
    # long chain of strictly decreasing weights exercises multi-hop
    # pointer doubling within one round
    n = 12
    edges = [(i, i + 1, float(n - i)) for i in range(n)]
    got = _run(spark, edges)
    assert len(got) == n  # a tree keeps every chain edge


def test_mst_random_graph_matches_kruskal(spark):
    # deterministic pseudo-random dense-ish graph, duplicate weights
    edges = []
    x = 7
    for u in range(20):
        for v in range(u + 1, 20):
            x = (x * 1103515245 + 12345) % (1 << 31)
            if x % 3 == 0:
                edges.append((u, v, float(x % 7)))
    _run(spark, edges)


@pytest.mark.parametrize("name", ("test_mst_random_graph_matches_kruskal",))
def test_shuffle_regime_parity(name, request, shuffle_regime):
    call_with_fixtures(globals()[name], request)
