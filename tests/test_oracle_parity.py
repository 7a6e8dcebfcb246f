"""Replicates the driver's correctness gate locally: run every declared
query in Spark AND its DuckDB oracle on the same parquet, compare row count,
column names, and exact values order-insensitively (columns sorted by name,
rows sorted by all columns) — the strictest local approximation of the
driver's value-hash."""

import hashlib
import json
import math
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


# Queries without an oracle (rows-only) are checked against the sha256
# digest of their normalized result, pinned per scale in this file
# (regenerate it with tools/rows_only_digests.py).
DIGEST_FILE = Path(__file__).with_name("rows_only_digests.json")


def result_digest(rows, cols):
    """sha256 over the order-insensitive normalized result of a query."""
    norm = _normalize(rows, cols)
    return hashlib.sha256(repr((sorted(cols), norm)).encode()).hexdigest()


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()
DIGESTS = json.loads(DIGEST_FILE.read_text())


def check_rows_only(name, rows, cols, sf_dir):
    pinned = DIGESTS.get(Path(sf_dir).name)
    if pinned is None:
        return  # no digests pinned at this scale: the run itself is the check
    assert name in pinned, f"{name}: no digest pinned in {DIGEST_FILE.name}"
    got = result_digest([tuple(r) for r in rows], cols)
    assert got == pinned[name], f"{name}: result digest changed"


def check_oracle(name, rows, cols, ddb):
    ocur = ddb.sql(ORACLES[name])
    ocols = [d[0] for d in ocur.description]
    orows = ocur.fetchall()
    assert sorted(cols) == sorted(ocols), f"{name}: column names differ"
    assert len(rows) == len(orows), f"{name}: row count {len(rows)} != {len(orows)}"
    got = _normalize([tuple(r) for r in rows], cols)
    exp = _normalize(orows, ocols)
    mismatches = [(g, e) for g, e in zip(got, exp) if g != e][:5]
    assert got == exp, f"{name}: first mismatches {mismatches}"


def check_query(name, spark, sf_dir, ddb):
    sdf = QUERIES[name](spark, sf_dir)
    srows = sdf.collect()
    if name in ORACLES:
        check_oracle(name, srows, sdf.columns, ddb)
    else:
        check_rows_only(name, srows, sdf.columns, sf_dir)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, ddb):
    check_query(name, spark, sf_dir, ddb)


# Declared queries that reach the superstep loops (analytics._supersteps).
SHUFFLE_QUERIES = (
    "g_pagerank_exact",
    "g_connected_components",
    "d13_dedup_clusters",
    "g_bfs_counts",
    "g_shortest_paths",
    "g_lpa2_integer_votes",
    "tg1_temporal_reachability",
    "g_pagerank",
    "g_ppr_recommend",
    "g_hits_parts",
    "g_lpa_communities",
    "l2_domain_pagerank",
    "g_betweenness",
    "g_kcore",
    "g_path_pair",
    "ldbc_ic_like_weighted_path",
    "g_cc_doubling",
    "e16_semantic_dedup_exact",
    "g_ktruss",
    "gc1_graph_coloring",
    "scc1_navigation_core",
    "g_mst",
    "g_mst2_kruskal_witness",
    "g_pr3_fixedpoint",
    "g_ppr2_fixedpoint",
    "g_hits2_integer",
)


@pytest.mark.parametrize("name", SHUFFLE_QUERIES)
def test_query_matches_in_shuffle_regime(name, spark, sf_dir, ddb, shuffle_regime):
    """The same result with the broadcast regime forced off."""
    check_query(name, spark, sf_dir, ddb)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["s_suppkey", "s_name", "n_paths"]
