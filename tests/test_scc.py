"""analytics.strongly_connected_components vs pure-Python Tarjan."""

import pytest

from torcdb_spark.analytics import strongly_connected_components


def _tarjan(edges):
    import collections

    nodes = sorted({x for e in edges for x in e})
    adj = collections.defaultdict(list)
    for s, d in edges:
        if s != d:
            adj[s].append(d)
    index, low, onstk, stk, comps = {}, {}, {}, [], []
    cnt = [0]
    for v0 in nodes:
        if v0 in index:
            continue
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = cnt[0]
                cnt[0] += 1
                stk.append(v)
                onstk[v] = True
            descend = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descend = True
                    break
                elif onstk.get(w):
                    low[v] = min(low[v], index[w])
            if descend:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk[w] = False
                    comp.append(w)
                    if w == v:
                        break
                comps.append(comp)
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    return sorted((v, min(c)) for c in comps for v in c)


CASES = [
    # two 3-cycles bridged by a DAG edge + dangling tail
    [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (6, 7)],
    # pure DAG (every SCC a singleton) — exercises the trim path
    [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)],
    # one big cycle with chords + self-loop
    [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4), (3, 3)],
    # nested: cycle feeding a cycle feeding back — all one SCC
    [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (4, 1)],
    # path of 2-cycles (several nontrivial SCCs in a chain)
    [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (4, 5), (5, 6), (6, 5)],
]


@pytest.mark.parametrize("edges", CASES)
def test_matches_tarjan(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["id"], r["scc_id"])
        for r in strongly_connected_components(df).collect()
    )
    assert got == _tarjan(edges)


@pytest.mark.parametrize("edges", CASES)
def test_distributed_path_matches_tarjan(spark, edges):
    # local_threshold=0 disables the single-task Tarjan finisher, forcing
    # the trim + fused-FW/BW-propagation + peel loop to resolve everything.
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["id"], r["scc_id"])
        for r in strongly_connected_components(
            df, local_threshold=0
        ).collect()
    )
    assert got == _tarjan(edges)


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert strongly_connected_components(df).count() == 0


@pytest.mark.parametrize("edges", CASES)
def test_shuffle_regime_parity(spark, edges, shuffle_regime):
    test_distributed_path_matches_tarjan(spark, edges)
