"""Time-respecting earliest-arrival (analytics.temporal_min_arrival) vs a
sequential Dijkstra-style replay, plus journey-validity properties."""

import heapq

import pytest
from conftest import call_with_fixtures
from pyspark.sql import functions as F

from torcdb_spark.analytics import temporal_min_arrival


def _replay(edges, seed_ids):
    """Earliest arrival per node under strictly-increasing edge times."""
    NEG = -(1 << 62)
    best = {s: NEG for s in seed_ids}
    pq = [(NEG, s) for s in seed_ids]
    heapq.heapify(pq)
    while pq:
        t, u = heapq.heappop(pq)
        if t > best.get(u, 1 << 63):
            continue
        for (a, b, ts) in edges:
            if a == u and ts > t and ts < best.get(b, 1 << 63):
                best[b] = ts
                heapq.heappush(pq, (ts, b))
    return best


EDGES = [
    # diamond where the "short" path arrives too late to continue
    (1, 2, 10), (2, 4, 20),      # 1->2->4 arrives 20
    (1, 3, 50), (3, 4, 60),      # alternative arrives 60
    (4, 5, 15),                  # usable ONLY via arrival < 15 — never
    (4, 6, 30),                  # usable via arrival 20
    (2, 4, 5),                   # too early: needs arrival@2 < 5, has 10
    (7, 8, 99),                  # disconnected from seed
]


def test_temporal_arrival_matches_replay(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, tsm long")
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {
        r["id"]: r["arr"]
        for r in temporal_min_arrival(df, seeds).collect()
    }
    assert got == _replay(EDGES, {1})
    # 5 unreachable: its only in-edge departs before any journey arrives
    assert 5 not in got and 7 not in got and 8 not in got
    assert got[4] == 20 and got[6] == 30


def test_temporal_vs_static_reachability(spark):
    """Static BFS would reach 5; temporal semantics must not."""
    df = spark.createDataFrame(EDGES, "src long, dst long, tsm long")
    seeds = spark.createDataFrame([(1,)], "id long")
    reached = {r["id"] for r in temporal_min_arrival(df, seeds).collect()}
    static = {1, 2, 3, 4, 5, 6}  # ignoring time, 5 IS reachable
    assert reached == static - {5}


@pytest.mark.parametrize(
    "name",
    ("test_temporal_arrival_matches_replay", "test_temporal_vs_static_reachability"),
)
def test_shuffle_regime_parity(name, request, shuffle_regime):
    call_with_fixtures(globals()[name], request)
