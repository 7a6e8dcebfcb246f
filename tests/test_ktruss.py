"""k-truss peeling (analytics.k_truss) vs a sequential replay."""

import pytest
from conftest import call_with_fixtures

from torcdb_spark.analytics import k_truss


def _replay(edge_list, k):
    e = {tuple(sorted(p)) for p in edge_list if p[0] != p[1]}
    while True:
        adj = {}
        for a, b in e:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {
            (a, b): len(adj[a] & adj[b]) for a, b in e
        }
        kept = {p for p in e if sup[p] >= k - 2}
        if kept == e:
            return e
        e = kept


EDGES = [
    (1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4),   # K4: a 4-truss
    (4, 5), (5, 6), (4, 6),                            # triangle tail
    (6, 7), (7, 8),                                    # path
]


def test_k_truss_matches_replay(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    for k in (3, 4, 5):
        for threshold in (10_000, 0):  # finisher AND distributed loop
            got = {
                (r["a"], r["b"])
                for r in k_truss(
                    df, k=k, local_threshold=threshold
                ).collect()
            }
            assert got == _replay(EDGES, k), (k, threshold)


def test_k4_is_the_4_truss(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {(r["a"], r["b"]) for r in k_truss(df, k=4).collect()}
    assert got == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4)}


def test_double_sweep_diameter_exact_on_path_and_tree(spark):
    from torcdb_spark.analytics import double_sweep_diameter

    # path 1-2-3-4-5: diameter 4; seed mid-path
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seed = spark.createDataFrame([(3,)], "id long")
    for threshold in (10_000, 0):  # finisher AND distributed sweeps
        r = double_sweep_diameter(
            path, seed, local_threshold=threshold
        ).collect()[0]
        assert r["diameter_lb"] == 4, threshold
        assert r["sweep1_ecc"] == 2, threshold
        assert r["peripheral_id"] in (1, 5)
    # star: diameter 2 from any seed
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    for threshold in (10_000, 0):
        r2 = double_sweep_diameter(
            star, spark.createDataFrame([(0,)], "id long"),
            local_threshold=threshold,
        ).collect()[0]
        assert r2["diameter_lb"] == 2, threshold


def test_double_sweep_seed_deterministic_across_partitionings(spark):
    """The small-core finisher truncates the seed frame to 1000 ids;
    without an orderBy before the limit the kept subset would depend on
    partition order. Pin: a >1000-id seed frame produces the identical
    result whether delivered as 1 partition or 16 shuffled ones."""
    from torcdb_spark.analytics import double_sweep_diameter

    # path 0-1-...-40 — diameter 40; seed with 1200 ids, most of them
    # absent from the graph, so only the ordered-first-1000 subset
    # (which contains all real vertices) matters
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    ids = list(range(1200))
    rows = [(i,) for i in ids]
    one = spark.createDataFrame(rows, "id long").coalesce(1)
    many = (
        spark.createDataFrame(list(reversed(rows)), "id long")
        .repartition(16)
    )
    r_one = double_sweep_diameter(path, one).collect()[0]
    r_many = double_sweep_diameter(path, many).collect()[0]
    assert r_one == r_many
    assert r_one["diameter_lb"] == 40


def test_ifub_exact_on_path_star_tripartite(spark):
    """iFUB certifies exactness (lb == ub, exact=True) on the three
    fixture shapes, on BOTH the small-core and the distributed path."""
    from torcdb_spark.analytics import ifub_diameter

    cases = [
        # path 1-..-7: diameter 6
        ([(i, i + 1) for i in range(1, 7)], [(4,)], 6),
        # star: diameter 2
        ([(0, i) for i in range(1, 8)], [(0,)], 2),
        # complete tripartite K_{2,2,2}: diameter 2
        (
            [
                (a, b)
                for a in (1, 2)
                for b in (3, 4)
            ]
            + [(a, b) for a in (1, 2) for b in (5, 6)]
            + [(a, b) for a in (3, 4) for b in (5, 6)],
            [(1,)],
            2,
        ),
    ]
    for pairs, seed_rows, want in cases:
        edges = spark.createDataFrame(pairs, "src long, dst long")
        seed = spark.createDataFrame(seed_rows, "id long")
        for threshold in (10_000, 0):  # finisher AND distributed loop
            r = ifub_diameter(
                edges, seed, local_threshold=threshold
            ).collect()[0]
            assert r["exact"] is True, (pairs[:2], threshold)
            assert r["diameter_lb"] == r["diameter_ub"] == want, (
                want, threshold, dict(r.asDict()),
            )


def test_ifub_budget_exhaustion_keeps_valid_bounds(spark):
    """With a probe budget too small to certify, iFUB still returns
    valid bounds (lb <= true diameter <= ub) and exact=False."""
    from torcdb_spark.analytics import ifub_diameter

    # 4x4 grid: diameter 6, midpoint fringes need several probes
    edges = []
    for r_ in range(4):
        for c in range(4):
            v = r_ * 4 + c
            if c < 3:
                edges.append((v, v + 1))
            if r_ < 3:
                edges.append((v, v + 4))
    df = spark.createDataFrame(edges, "src long, dst long")
    seed = spark.createDataFrame([(5,)], "id long")
    r = ifub_diameter(df, seed, local_threshold=0, max_ecc_bfs=4).collect()[0]
    assert r["diameter_lb"] <= 6 <= r["diameter_ub"]
    if not r["exact"]:
        assert r["diameter_lb"] < r["diameter_ub"]


def test_ifub_exact_beyond_old_depth_cap(spark):
    """A graph wider than any fixed BFS depth cap still certifies its
    EXACT diameter on the distributed path: eccentricity probes run to
    frontier exhaustion (bfs_distances max_depth=None), so ub=2*ecc_w
    is a valid bound however wide the graph is. (Regression: a silent
    depth-32 cap once truncated every probe, certifying 'exact' wrong
    diameters on long paths.)"""
    from torcdb_spark.analytics import ifub_diameter

    # path 0-..-36: diameter 36 > the old 32-superstep cap
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(36)], "src long, dst long"
    )
    seed = spark.createDataFrame([(18,)], "id long")
    r = ifub_diameter(edges, seed, local_threshold=0).collect()[0]
    assert r["exact"] is True
    assert r["diameter_lb"] == r["diameter_ub"] == 36


def test_ifub_local_honors_probe_budget(spark):
    """The small-core finisher gets the caller's max_ecc_bfs (no silent
    10k default) and skips a fringe level it cannot fully cover — the
    same budget semantics as the distributed loop."""
    from torcdb_spark.analytics import ifub_diameter

    edges = []
    for r_ in range(4):
        for c in range(4):
            v = r_ * 4 + c
            if c < 3:
                edges.append((v, v + 1))
            if r_ < 3:
                edges.append((v, v + 4))
    df = spark.createDataFrame(edges, "src long, dst long")
    seed = spark.createDataFrame([(5,)], "id long")
    loc = ifub_diameter(
        df, seed, local_threshold=10_000, max_ecc_bfs=4
    ).collect()[0]
    dist = ifub_diameter(
        df, seed, local_threshold=0, max_ecc_bfs=4
    ).collect()[0]
    # identical bounds, exactness, and probe count on both paths
    assert dict(loc.asDict()) == dict(dist.asDict())
    assert loc["n_bfs"] <= 4
    assert loc["diameter_lb"] <= 6 <= loc["diameter_ub"]


@pytest.mark.parametrize("name", ("test_k_truss_matches_replay",))
def test_shuffle_regime_parity(name, request, shuffle_regime):
    call_with_fixtures(globals()[name], request)
