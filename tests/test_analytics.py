"""DataFrame-Pregel analytics tests on tiny graphs with known answers."""

import pytest
from conftest import call_with_fixtures

from torcdb_spark.analytics import (
    bfs_distances,
    connected_components,
    pagerank,
    triangle_count,
)


@pytest.fixture(scope="module")
def chain(spark):
    # 0→1→2→3, plus isolated pair 10→11
    return spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )


def test_connected_components(chain):
    comp = {r.id: r.component for r in connected_components(chain).collect()}
    assert comp[0] == comp[1] == comp[2] == comp[3] == 0
    assert comp[10] == comp[11] == 10


def test_bfs_distances(spark, chain):
    sources = spark.createDataFrame([(0,)], ["id"])
    d = {r.id: r.distance for r in bfs_distances(chain, sources).collect()}
    assert d == {0: 0, 1: 1, 2: 2, 3: 3}


def test_pagerank_sums_to_n(spark):
    # star graph: everyone points to 0
    edges = spark.createDataFrame([(i, 0) for i in range(1, 6)], ["src", "dst"])
    pr = pagerank(edges, num_iter=15)
    ranks = {r.id: r.rank for r in pr.collect()}
    assert abs(sum(ranks.values()) - len(ranks)) < 1e-6
    assert ranks[0] == max(ranks.values())


def test_pagerank_cycle_uniform(spark):
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["src", "dst"])
    ranks = [r.rank for r in pagerank(edges, num_iter=20).collect()]
    assert all(abs(r - 1.0) < 1e-6 for r in ranks)


def test_triangle_count(spark):
    # triangle 0-1-2 plus a pendant 2-3
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], ["src", "dst"]
    )
    t = {r.id: r.triangles for r in triangle_count(edges).collect()}
    assert t == {0: 1, 1: 1, 2: 1}


def test_triangle_count_skewed_hub_and_orientation(spark):
    """A hub with the LOWEST id and highest degree: raw-id orientation
    would open every wedge at the hub (O(deg^2) fan-out); degree-ordered
    orientation opens wedges at the low-degree endpoints instead. Counts
    must be identical either way — verified against hand-enumeration."""
    # hub 0 connected to 1..20; ring edges (1,2),(3,4),...,(19,20) close
    # 10 triangles through the hub
    hub = [(0, i) for i in range(1, 21)]
    ring = [(i, i + 1) for i in range(1, 20, 2)]
    edges = spark.createDataFrame(hub + ring, ["src", "dst"])
    t = {r.id: r.triangles for r in triangle_count(edges).collect()}
    assert t[0] == 10  # hub is in every triangle
    assert all(t[i] == 1 for i in range(1, 21))
    # orientation is by (degree, id): the analyzed plan must rank on a
    # degree aggregate, not compare raw ids
    plan = triangle_count(edges)._jdf.queryExecution().analyzed().toString()
    assert "_ra" in plan and "_deg" in plan


def test_shortest_paths_rejects_negative_weights(spark):
    import pytest
    from torcdb_spark.analytics import shortest_paths

    edges = spark.createDataFrame(
        [("s", "a", 1.0), ("a", "b", -2.0)],
        "src string, dst string, weight double",
    )
    seeds = spark.createDataFrame([("s",)], "id string")
    with pytest.raises(ValueError, match="non-negative"):
        shortest_paths(edges, seeds)


def test_shortest_paths_relaxation(spark):
    """Min-plus SSSP on a hand graph with a longer-but-lighter path:
    the relaxation must prefer total weight over hop count."""
    import pyspark.sql.functions as F
    from torcdb_spark.analytics import shortest_paths

    edges = spark.createDataFrame(
        [("s", "a", 10.0), ("s", "b", 1.0), ("b", "c", 1.0),
         ("c", "a", 1.0), ("a", "t", 1.0)],
        "src string, dst string, weight double",
    )
    seeds = spark.createDataFrame([("s",)], "id string")
    got = {r.id: r.dist for r in shortest_paths(edges, seeds).collect()}
    # s->b->c->a (3) beats s->a (10)
    assert got["a"] == 3.0
    assert got["t"] == 4.0
    assert got["s"] == 0.0
    assert got["b"] == 1.0


def test_k_core_peels_tails_and_keeps_cycles(spark):
    from torcdb_spark.analytics import k_core

    # triangle a-b-c with a tail c-d-e: 2-core = the triangle only
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    got = {(r.id, r.degree) for r in k_core(edges, 2).collect()}
    assert got == {("a", 2), ("b", 2), ("c", 2)}
    # k=3 empties it (no vertex has 3 in-core neighbors)
    assert k_core(edges, 3).count() == 0
    # k=1 keeps everything with its full degree
    got1 = {(r.id, r.degree) for r in k_core(edges, 1).collect()}
    assert got1 == {("a", 2), ("b", 2), ("c", 3), ("d", 2), ("e", 1)}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        k_core(edges, 0)


def test_shortest_path_pair_reconstructs_exact_path(spark):
    """Diamond graph with two equal-length paths: the min-parent rule must
    pick the lexicographically smaller intermediate deterministically; an
    unreachable pair returns empty; src==dst returns the single vertex."""
    from torcdb_spark.analytics import shortest_path_pair

    def b(i):
        return bytes([0] * 15 + [i])

    # 1-2, 1-3, 2-4, 3-4 (diamond), 5 isolated; undirected
    edges = spark.createDataFrame(
        [(b(1), b(2), "e"), (b(1), b(3), "e"), (b(2), b(4), "e"),
         (b(3), b(4), "e"), (b(5), b(6), "e")],
        "src binary, dst binary, label string",
    )
    path = shortest_path_pair(edges, b(1), b(4), max_depth=5)
    got = [r["id"][-1] for r in path.orderBy("step").collect()]
    assert got == [1, 2, 4]  # via min(2,3) = 2

    empty = shortest_path_pair(edges, b(1), b(5), max_depth=5)
    assert empty.count() == 0

    self_path = shortest_path_pair(edges, b(1), b(1), max_depth=5)
    assert [r["id"][-1] for r in self_path.collect()] == [1]


def test_shortest_path_pair_directed_respects_direction(spark):
    from torcdb_spark.analytics import shortest_path_pair

    def b(i):
        return bytes([0] * 15 + [i])

    edges = spark.createDataFrame(
        [(b(1), b(2), "e"), (b(3), b(2), "e")],
        "src binary, dst binary, label string",
    )
    # directed: 1->2 exists but 2->3 does not (edge points 3->2)
    assert shortest_path_pair(edges, b(1), b(3), max_depth=4,
                              directed=True).count() == 0
    undirected = shortest_path_pair(edges, b(1), b(3), max_depth=4)
    assert [r["id"][-1] for r in undirected.orderBy("step").collect()] == [1, 2, 3]


def test_cc_doubling_matches_label_propagation(spark, sf_dir):
    """The O(log n)-round star-contraction CC must produce the identical
    (id, component=min-id) partition as label propagation, on a
    constructed multi-component graph including a long PATH (the
    high-diameter case star contraction exists for) and on the fixture
    geography subgraph."""
    import pyspark.sql.functions as F

    from torcdb_spark.analytics import (
        connected_components,
        connected_components_doubling,
    )

    def b(i):
        return bytes([0] * 14 + [i // 256, i % 256])

    # component A: path 1-2-3-...-12 (diameter 11); component B: triangle
    # 100,101,102; component C: pair 200-201
    path = [(b(i), b(i + 1), "e") for i in range(1, 12)]
    tri = [(b(100), b(101), "e"), (b(101), b(102), "e"), (b(102), b(100), "e")]
    pair = [(b(200), b(201), "e")]
    edges = spark.createDataFrame(
        path + tri + pair, "src binary, dst binary, label string"
    )
    lp = {r["id"]: r["component"]
          for r in connected_components(edges, max_iter=30).collect()}
    db = {r["id"]: r["component"]
          for r in connected_components_doubling(edges).collect()}
    assert lp == db
    assert db[b(12)] == b(1)      # far end of the path reaches the min
    assert db[b(102)] == b(100)
    assert db[b(201)] == b(200)

    from torcdb_spark.graph import PropertyGraph

    g = PropertyGraph.open(spark, sf_dir)
    geo = g.edges.where(F.col("label") == "inRegion")
    lp2 = {r["id"]: r["component"]
           for r in connected_components(geo).collect()}
    db2 = {r["id"]: r["component"]
           for r in connected_components_doubling(geo).collect()}
    assert lp2 == db2


def test_personalized_pagerank_properties(spark):
    """PPR invariants on a constructed graph: total rank conserved at |S|
    (reset + dangling both return to sources), vertices unreachable FROM
    the sources get exactly 0, source-adjacent beats distant, and the run
    is deterministic."""
    import pyspark.sql.functions as F

    from torcdb_spark.analytics import personalized_pagerank

    def b(i):
        return bytes([0] * 15 + [i])

    # chain 1->2->3->4 plus separate pair 10->11
    edges = spark.createDataFrame(
        [(b(1), b(2), "e"), (b(2), b(3), "e"), (b(3), b(4), "e"),
         (b(10), b(11), "e")],
        "src binary, dst binary, label string",
    )
    srcs = spark.createDataFrame([(b(1),)], ["id"])
    # unpruned: unreachable vertices present with exactly 0 rank
    pr_full = personalized_pagerank(
        edges, srcs, num_iter=20, prune_unreachable=False
    )
    full = {r["id"][-1]: r["rank"] for r in pr_full.collect()}
    assert full[10] == 0.0 and full[11] == 0.0
    # pruned (default): identical ranks on the reachable set, unreachable
    # vertices absent — the locality that makes PPR cheap at scale
    pr = personalized_pagerank(edges, srcs, num_iter=20)
    ranks = {r["id"][-1]: r["rank"] for r in pr.collect()}
    assert set(ranks) == {1, 2, 3, 4}
    for k, v in ranks.items():
        assert abs(v - full[k]) < 1e-12
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # |S| = 1 conserved
    assert ranks[1] > ranks[2] > ranks[3] > ranks[4] > 0
    pr2 = personalized_pagerank(edges, srcs, num_iter=20)
    ranks2 = {r["id"][-1]: r["rank"] for r in pr2.collect()}
    assert ranks == ranks2

    import pytest

    with pytest.raises(ValueError):
        personalized_pagerank(edges, srcs.limit(0), num_iter=2)


def test_hits_matches_numpy_power_iteration(spark):
    import numpy as np

    from torcdb_spark.analytics import hits

    edges = [(0, 3), (0, 4), (1, 3), (2, 4), (2, 5), (3, 0)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r.id: (r.hub, r.auth) for r in hits(df, num_iter=4).collect()}

    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    h = np.ones(len(ids))
    a = np.ones(len(ids))
    for _ in range(4):
        a = A.T @ h
        a = a / np.linalg.norm(a)
        h = A @ a
        h = h / np.linalg.norm(h)
    for v in ids:
        assert out[v][0] == pytest.approx(h[idx[v]], abs=1e-9)
        assert out[v][1] == pytest.approx(a[idx[v]], abs=1e-9)


def test_betweenness_matches_pure_python_brandes(spark):
    from collections import defaultdict, deque

    from torcdb_spark.analytics import betweenness_sampled

    edges = [
        (0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (1, 4), (4, 5), (2, 6),
        (6, 4),
    ]
    sources = [0, 1]

    def brandes(edge_list, srcs):
        adj = defaultdict(list)
        for s, d in edge_list:
            adj[s].append(d)
        bc = defaultdict(float)
        for s in srcs:
            dist = {s: 0}
            sigma = defaultdict(float)
            sigma[s] = 1.0
            order = []
            q = deque([s])
            while q:
                v = q.popleft()
                order.append(v)
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        q.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
            delta = defaultdict(float)
            for v in reversed(order):
                for w in adj[v]:
                    if dist.get(w) == dist[v] + 1:
                        delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
                if v != s:
                    bc[v] += delta[v]
        return bc

    expected = brandes(edges, sources)
    df = spark.createDataFrame(edges, ["src", "dst"])
    sdf = spark.createDataFrame([(s,) for s in sources], ["id"])
    got = {r.id: r.bc for r in betweenness_sampled(df, sdf).collect()}
    assert set(got) == {v for v in expected if expected[v] > 0} | {
        v for v in got
    }
    for v, b in got.items():
        assert b == pytest.approx(expected[v], abs=1e-9), v


def test_betweenness_integer_grid_matches_pure_python(spark):
    """scale= mode: the dependency push-back on the 10^6 integer grid has
    exactly one possible trajectory (σ exact BIGINT, per-successor term
    (σ_v·(SCALE+Δ_w)) div σ_w with truncating division) — the Spark run
    must equal a pure-Python replay bit-for-bit, no approx."""
    from collections import defaultdict, deque

    from torcdb_spark.analytics import betweenness_sampled

    SCALE = 1_000_000
    edges = [
        (0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (1, 4), (4, 5), (2, 6),
        (6, 4),
    ]
    sources = [0, 1]

    def brandes_grid(edge_list, srcs):
        adj = defaultdict(list)
        for s, d in edge_list:
            adj[s].append(d)
        bc = defaultdict(int)
        for s in srcs:
            dist = {s: 0}
            sigma = defaultdict(int)
            sigma[s] = 1
            order = []
            q = deque([s])
            while q:
                v = q.popleft()
                order.append(v)
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        q.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
            delta = defaultdict(int)
            for v in reversed(order):
                for w in adj[v]:
                    if dist.get(w) == dist[v] + 1:
                        delta[v] += (sigma[v] * (SCALE + delta[w])) // sigma[w]
                if v != s:
                    bc[v] += delta[v]
        return bc

    expected = brandes_grid(edges, sources)
    df = spark.createDataFrame(edges, ["src", "dst"])
    sdf = spark.createDataFrame([(s,) for s in sources], ["id"])
    got = {
        r.id: r.bc
        for r in betweenness_sampled(df, sdf, scale=SCALE).collect()
    }
    for v, b in got.items():
        assert isinstance(b, int)
        assert b == expected[v], v


def test_label_propagation_matches_pure_python(spark):
    from collections import Counter

    from torcdb_spark.analytics import label_propagation

    # Two dense clusters (triangles) joined by one bridge edge, plus a
    # pendant vertex: LPA should keep the clusters as separate
    # communities where min-label CC would merge everything.
    edges = [
        (0, 1), (1, 2), (0, 2),          # cluster A
        (10, 11), (11, 12), (10, 12),    # cluster B
        (2, 10),                         # bridge
        (12, 20),                        # pendant
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])

    def reference(edge_list, iters):
        adj = {}
        for a, b in edge_list:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        label = {v: v for v in adj}
        for _ in range(iters):
            nxt = {}
            for v in adj:
                votes = Counter(label[u] for u in adj[v])
                top = max(votes.values())
                nxt[v] = min(l for l, c in votes.items() if c == top)
            label = nxt
        return label

    for iters in (1, 2, 5):
        got = {
            r.id: r.community
            for r in label_propagation(df, max_iter=iters).collect()
        }
        assert got == reference(edges, iters), f"iters={iters}"

    # Structural check on disjoint triangles (no bridge): each converges
    # to its own min label and the communities stay distinct.
    disjoint = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    final = {
        r.id: r.community
        for r in label_propagation(
            spark.createDataFrame(disjoint, ["src", "dst"]), max_iter=3
        ).collect()
    }
    assert final[0] == final[1] == final[2] == 0
    assert final[10] == final[11] == final[12] == 10


def test_adamic_adar_matches_python_reference_property(spark):
    """Property: for arbitrary small (item, basket) relations — with
    duplicates, size-1 baskets, and over-cap baskets — adamic_adar equals
    a brute-force dictionary computation of Σ 1/ln(|basket|) over common
    baskets with 2 <= |basket| <= max_basket."""
    import math

    from hypothesis import given, settings, strategies as st

    from torcdb_spark.analytics import adamic_adar

    max_basket = 4

    def reference(pairs):
        baskets = {}
        for i, b in set(pairs):
            baskets.setdefault(b, set()).add(i)
        out = {}
        for b, items in baskets.items():
            if not (2 <= len(items) <= max_basket):
                continue
            w = 1.0 / math.log(len(items))
            its = sorted(items)
            for x in range(len(its)):
                for y in range(x + 1, len(its)):
                    key = (its[x], its[y])
                    n, s = out.get(key, (0, 0.0))
                    out[key] = (n + 1, s + w)
        return {k: (n, round(s, 4)) for k, (n, s) in out.items()}

    @settings(max_examples=6, deadline=None)
    @given(
        pairs=st.lists(
            st.tuples(st.integers(0, 6), st.integers(0, 4)),
            min_size=1, max_size=40,
        )
    )
    def check(pairs):
        df = spark.createDataFrame(pairs, ["item", "basket"])
        got = {
            (r.item_a, r.item_b): (r.n_common, r.aa_score)
            for r in adamic_adar(df, max_basket=max_basket).collect()
        }
        assert got == reference(pairs), (pairs, got)

    check()


def test_lpa_small_core_finisher_matches_distributed(spark):
    """label_propagation's sequential finisher and the distributed loop
    must produce the IDENTICAL assignment (same synchronous update, same
    min-label tie-break) — pinned on a two-community barbell."""
    from torcdb_spark.analytics import label_propagation

    # two triangles bridged by one edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    a = sorted(
        (r["id"], r["community"])
        for r in label_propagation(edges, max_iter=5,
                                   local_threshold=10_000).collect()
    )
    b = sorted(
        (r["id"], r["community"])
        for r in label_propagation(edges, max_iter=5,
                                   local_threshold=0).collect()
    )
    assert a == b
    comm = dict(a)
    # the two triangles resolve to distinct communities
    assert comm[1] == comm[2] == comm[3]
    assert comm[4] == comm[5] == comm[6]


def test_pagerank_fixedpoint_matches_python_replay(spark):
    from torcdb_spark.analytics import pagerank_fixedpoint

    E = [(1, 10), (1, 11), (2, 10), (3, 11), (10, 1), (11, 3)]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = {
        r.id: r.rank_fp
        for r in pagerank_fixedpoint(edges, num_iter=3).collect()
    }

    import math
    nodes = sorted({x for e in E for x in e})
    deg = {}
    for s, _ in E:
        deg[s] = deg.get(s, 0) + 1
    r = {v: 1_000_000 for v in nodes}
    for _ in range(3):
        nxt = {v: 150_000 for v in nodes}
        for s, d in E:
            nxt[d] += int(math.floor((85 * r[s]) / (100 * deg[s])))
        r = nxt
    assert got == r


def test_hits_integer_matches_python_replay_and_float_ranking(spark):
    from torcdb_spark.analytics import hits, hits_integer

    E = [(1, 10), (1, 11), (2, 10), (3, 11), (3, 12), (4, 12), (4, 10)]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = {
        r.id: (r.hub, r.auth)
        for r in hits_integer(edges, num_iter=2).collect()
    }
    # python replay
    h = {s: 1 for s, _ in E}
    a = {}
    for _ in range(2):
        a = {}
        for s, d in E:
            a[d] = a.get(d, 0) + h.get(s, 0)
        h = {}
        for s, d in E:
            h[s] = h.get(s, 0) + a.get(d, 0)
    want = {
        v: (h.get(v, 0), a.get(v, 0))
        for v in set(h) | set(a)
    }
    assert got == want
    # ordering agreement with the normalized float iteration
    fa = {
        r.id: r.auth
        for r in hits(edges, num_iter=2).collect()
        if r.auth > 0
    }
    int_order = sorted(
        (v for v in want if want[v][1] > 0),
        key=lambda v: (-want[v][1], v),
    )
    float_order = sorted(fa, key=lambda v: (-fa[v], v))
    assert int_order == float_order


def test_hits_integer_zero_iterations_returns_the_start(spark):
    from torcdb_spark.analytics import hits, hits_integer

    edges = spark.createDataFrame([(1, 10), (2, 10), (2, 11)], "src long, dst long")
    got = {r.id: (r.hub, r.auth) for r in hits_integer(edges, num_iter=0).collect()}
    assert got == {v: (1, 1) for v in (1, 2, 10, 11)}
    assert {r.id: (r.hub, r.auth) for r in hits(edges, num_iter=0).collect()} == got


def test_k_core_raises_when_max_iter_runs_out(spark):
    from torcdb_spark.analytics import k_core

    # path a-b-c-d: the 2-core is empty, but one peel only strips the ends
    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    assert k_core(path, 2).count() == 0
    with pytest.raises(RuntimeError):
        k_core(path, 2, max_iter=1)


def test_cc_doubling_distributed_path_and_round_budget(spark):
    from torcdb_spark.analytics import connected_components_doubling

    # path 1..9 plus a pair 20-21, with the single-task finisher disabled
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)] + [(20, 21)], "src long, dst long"
    )
    got = {
        r.id: r.component
        for r in connected_components_doubling(edges, local_threshold=0).collect()
    }
    assert got == {**{i: 1 for i in range(1, 10)}, 20: 20, 21: 20}
    with pytest.raises(RuntimeError):
        connected_components_doubling(edges, max_rounds=1, local_threshold=0)


# The tests above of the loops that run on analytics._supersteps, run
# again in the forced shuffle regime.
SHUFFLE_PARITY = (
    "test_connected_components",
    "test_bfs_distances",
    "test_pagerank_sums_to_n",
    "test_pagerank_cycle_uniform",
    "test_shortest_paths_relaxation",
    "test_cc_doubling_matches_label_propagation",
    "test_personalized_pagerank_properties",
    "test_hits_matches_numpy_power_iteration",
    "test_betweenness_matches_pure_python_brandes",
    "test_betweenness_integer_grid_matches_pure_python",
    "test_label_propagation_matches_pure_python",
    "test_lpa_small_core_finisher_matches_distributed",
    "test_k_core_peels_tails_and_keeps_cycles",
    "test_k_core_raises_when_max_iter_runs_out",
    "test_shortest_path_pair_reconstructs_exact_path",
    "test_shortest_path_pair_directed_respects_direction",
    "test_cc_doubling_distributed_path_and_round_budget",
    "test_pagerank_fixedpoint_matches_python_replay",
    "test_hits_integer_matches_python_replay_and_float_ranking",
    "test_hits_integer_zero_iterations_returns_the_start",
)


@pytest.mark.parametrize("name", SHUFFLE_PARITY)
def test_shuffle_regime_parity(name, request, shuffle_regime):
    call_with_fixtures(globals()[name], request)
