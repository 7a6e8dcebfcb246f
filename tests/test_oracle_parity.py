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


# Declared queries that reach a decomposition operator's single-task
# finisher (a ``local_threshold`` operator in analytics).
FINISHER_QUERIES = (
    "g_connected_components",
    "d13_dedup_clusters",
    "g_cc_doubling",
    "g_mst",
    "g_mst2_kruskal_witness",
    "g_lpa_communities",
    "g_lpa2_integer_votes",
    "scc1_navigation_core",
    "mis1_independent_set",
    "gc1_graph_coloring",
    "g_ktruss",
    "g_diameter",
    "e16_semantic_dedup_exact",
)


@pytest.mark.parametrize("name", FINISHER_QUERIES)
def test_query_matches_with_finishers_off(name, spark, sf_dir, ddb, finishers_off):
    """The same result with every default single-task finisher off."""
    check_query(name, spark, sf_dir, ddb)
    assert finishers_off, f"{name} never reached a local_threshold operator"


def test_query_matches_in_salt_regime(spark, sf_dir, ddb, salt_regime):
    """q_salted_join's result through the salt-replicated shuffle join."""
    sdf = QUERIES["q_salted_join"](spark, sf_dir)
    assert "_salt" in sdf._jdf.queryExecution().analyzed().toString()
    check_oracle("q_salted_join", sdf.collect(), sdf.columns, ddb)


# Declared queries that call regime.spread, directly or in an operator.
SPREAD_QUERIES = (
    "ai1_arrow_ipc_ingest",
    "d14_simhash_near_dups",
    "d16_repetition_signals",
    "d26_containment_join",
    "d29_winnowing_md5",
    "d30_minhash_md5",
    "d31_simhash_md5",
    "d4_simhash_groups",
    "d7_embedding_near_dups",
    "d8_winnowing",
    "e10_mmr_rerank",
    "e11_matryoshka_topk",
    "e12_knn_graph",
    "e13_ivf_exact_cells",
    "e14_lsh_rademacher",
    "e15_pq_adc_exact",
    "e16_semantic_dedup_exact",
    "e1_cosine_topk",
    "e2_cosine_lsh",
    "e4_ivf_topk",
    "e7_pq_topk",
    "e9_hard_negatives",
    "ic1_iceberg_snapshot",
    "km2_kmeans_lloyd",
    "m11_progressive_jpeg",
    "m13_webp_roundtrip",
    "m1_media_features",
    "m20_ogg_page_census",
    "m3_image_decode",
    "m3b_image_decode_census",
    "m6_jpeg_roundtrip",
    "m7_phash_near_dups",
    "m7b_whash_exact",
    "m8_video_frames",
    "m9_gif_roundtrip",
    "mime1_magic_sniff",
    "p2_pdf_text_extract",
    "p3_epub_extract",
    "p6_docx_extract",
    "p7_xlsx_census",
    "p8_pptx_extract",
    "p9_markdown_extract",
    "pm1_parquet_footer_census",
    "pm2_page_census",
    "x_minhash_near_dups",
)


@pytest.mark.parametrize("name", SPREAD_QUERIES)
def test_query_matches_with_spread_off(name, spark, sf_dir, ddb, spread_off):
    """The same result on the scan's own partitioning."""
    check_query(name, spark, sf_dir, ddb)
    assert spread_off, f"{name} never called regime.spread"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["s_suppkey", "s_name", "n_paths"]
