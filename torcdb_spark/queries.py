"""Declared query inventory: every operator from SURVEY.md §2 exposed as a
(spark_fn, oracle_sql) pair for the driver's DuckDB correctness gate.

Naming convention follows SURVEY §2's operator ids: ``s*`` sources,
``t*`` traversal, ``a*`` set algebra (TorcHelper), ``q*`` relational/OLAP
(the Gremlin-library-level surface §2.4), ``d*``/``e*``/``x*`` the
LLM-pipeline extension operators (§2.5). Graph queries run on the
FIXTURES.md §4 property-graph view and are oracled by the equivalent
foreign-key SQL — that equivalence IS the semantic claim being verified.

Determinism rules (driver hashes values order-insensitively but exactly):
- every aggregate/computed column aliased identically in Spark and SQL;
- doubles rounded (2dp money, 3-4dp ratios) on BOTH sides;
- timestamps rendered as strings on both sides;
- counts cast to BIGINT on both sides;
- top-k ranks ordered by rounded measures with unique-key tiebreaks.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from torcdb_spark import algebra, regime
from torcdb_spark.functions.payload import payload_rows, synth_udf
from torcdb_spark.graph import PropertyGraph
from torcdb_spark.ids import id_lower
from torcdb_spark.operators.dedup import exact_dedup, minhash_lsh_dedup
from torcdb_spark.operators.similarity import cosine_topk_bruteforce
from torcdb_spark.operators.text import text_stats
from torcdb_spark.operators.topk import topk_per_group
from torcdb_spark.sources.tables import load_table
from torcdb_spark.traverse import (
    Direction,
    fill_properties,
    remove_edge_if,
    traverse,
    v_map,
    v_set,
)

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# Fixture-synthesis constants shared by the OOXML and text-extraction
# queries: the JAVA \s class (not Python's all-of-Unicode str.split(),
# so a no-break space stays inside its word on both sides of a round
# trip) and the one-line [Content_Types].xml part.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_OOXML_TYPES = (
    '<?xml version="1.0"?><Types><Default Extension="xml" '
    'ContentType="application/xml"/></Types>'
)


def _graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    return PropertyGraph.open(spark, sf_dir)


def _customers(g: PropertyGraph) -> DataFrame:
    return g.vertices.where(F.col("label") == "customer").select("id")


def _synth_media(docs: DataFrame, encode, *params) -> DataFrame:
    """One synthesized payload per document, ``(doc_id AS media_id,
    encode(*params) AS payload)``, computed by the Arrow synth UDF: the
    media frame the census and audio kernels read."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        synth_udf(encode)(*params).alias("payload"),
    )


def _zero_dims(parse):
    """``parse`` with a missing width/height (no video track) read as 0."""

    def row(payload: bytes) -> dict:
        c = parse(payload)
        return {**c, "width": c["width"] or 0, "height": c["height"] or 0}

    return row


# ---------------------------------------------------------------------------
# §2.1 sources — point lookup (S5); full scan is the trivial case
# ---------------------------------------------------------------------------


@_register(
    "s5_vertex_lookup",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
       WHERE c_custkey BETWEEN 1 AND 10""",
)
def s5_vertex_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup vertices by id (TorcGraph.vertices, TorcGraph.java:327-373)
    + property projection, mapped back to business keys."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    ids = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 11)]
    v = g.vertices_by_id(ids, label="customer")
    return v.select(
        id_lower(F.col("id")).alias("c_custkey"),
        F.col("props")["c_name"].alias("c_name"),
        F.col("props")["c_mktsegment"].alias("c_mktsegment"),
    )


# ---------------------------------------------------------------------------
# §2.2 traversal operators (T1, T2, T3)
# ---------------------------------------------------------------------------


@_register(
    "t1_traverse_out",
    "SELECT o_custkey AS src_key, o_orderkey AS dst_key FROM orders",
)
def t1_traverse_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop OUT expansion (TorcGraph.traverse, TorcGraph.java:479-585):
    all customers --placed--> orders."""
    g = _graph(spark, sf_dir)
    tr = traverse(_customers(g), g.edges, "placed", Direction.OUT,
                  neighbor_labels=["order"], broadcast_frontier=False)
    return tr.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
    )


@_register(
    "t1_traverse_in",
    "SELECT o_orderkey AS src_key, o_custkey AS dst_key FROM orders",
)
def t1_traverse_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop IN expansion: orders --placed(IN)--> their customer."""
    g = _graph(spark, sf_dir)
    frontier = g.vertices.where(F.col("label") == "order").select("id")
    tr = traverse(frontier, g.edges, "placed", Direction.IN,
                  neighbor_labels=["customer"], broadcast_frontier=False)
    return tr.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
    )


@_register(
    "t1_traverse_both",
    """SELECT CAST(c_nationkey AS BIGINT) AS src_key, c_custkey AS dst_key
       FROM customer""",
)
def t1_traverse_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH-direction semantics (TorcGraph.java:74-81: edges are
    bidirectional): nations --fromNation(BOTH)--> customers resolves via the
    IN orientation since the stored direction is customer→nation."""
    g = _graph(spark, sf_dir)
    frontier = g.vertices.where(F.col("label") == "nation").select("id")
    tr = traverse(frontier, g.edges, "fromNation", Direction.BOTH,
                  broadcast_frontier=False)
    return tr.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
    )


@_register(
    "t2_fill_properties",
    """SELECT o_custkey AS src_key, o_orderkey AS dst_key,
              round(o_totalprice, 2) AS totalprice, o_orderstatus
       FROM orders""",
)
def t2_fill_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """traverse + fillProperties (TorcGraph.java:587-734): hydrate the
    neighbor orders with projected properties (key-filtered, :693-697)."""
    g = _graph(spark, sf_dir)
    tr = traverse(_customers(g), g.edges, "placed", Direction.OUT,
                  broadcast_frontier=False)
    hyd = fill_properties(
        tr.select(F.col("dst").alias("id")).dropDuplicates(["id"]),
        g.vertices,
        keys=["o_totalprice", "o_orderstatus"],
        labels=["order"],
    )
    joined = tr.join(hyd.withColumnRenamed("id", "dst"), "dst")
    return joined.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
        F.round(F.col("props")["o_totalprice"].cast("double"), 2).alias("totalprice"),
        F.col("props")["o_orderstatus"].alias("o_orderstatus"),
    )


@_register(
    "t3_vertex_neighbors",
    """SELECT o_custkey AS src_key, CAST(count(*) AS BIGINT) AS n_neighbors
       FROM orders GROUP BY o_custkey""",
)
def t3_vertex_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk vertexNeighbors (TorcGraph.java:833-939) → vMap view
    (TraversalResult.vMap): per-source neighbor list sizes."""
    g = _graph(spark, sf_dir)
    tr = traverse(_customers(g), g.edges, "placed", Direction.OUT,
                  broadcast_frontier=False)
    vm = v_map(tr)
    return vm.select(
        id_lower(F.col("src")).alias("src_key"),
        F.size(F.col("neighbors")).cast("long").alias("n_neighbors"),
    )


@_register(
    "t8_degree_out",
    """SELECT c_custkey AS v_key,
              CAST(1 + count(o_orderkey) AS BIGINT) AS degree
       FROM customer LEFT JOIN orders ON o_custkey = c_custkey
       GROUP BY c_custkey""",
)
def t8_degree_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree per customer vertex (placed orders + its fromNation edge)
    — the degree view over the edge table (map-side partial agg)."""
    g = _graph(spark, sf_dir)
    deg = g.degrees("OUT", vertex_label="customer")
    cust = g.vertices.where(F.col("label") == "customer").select("id")
    return deg.join(cust, deg["v"] == cust["id"], "inner").select(
        id_lower(F.col("v")).alias("v_key"),
        F.col("degree").cast("long").alias("degree"),
    )


# ---------------------------------------------------------------------------
# §2.3 set algebra on traversal results (A1-A4)
# ---------------------------------------------------------------------------


@_register(
    "a1_fuse",
    """SELECT o_custkey AS src_key, CAST(count(*) AS BIGINT) AS n_lineitems
       FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       GROUP BY o_custkey""",
)
def a1_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuse (TorcHelper.java:407-456): 2-hop path join customer→order→
    lineitem, grouped to per-customer path counts."""
    g = _graph(spark, sf_dir)
    h1 = traverse(_customers(g), g.edges, "placed", Direction.OUT,
                  broadcast_frontier=False)
    h2 = traverse(h1.select(F.col("dst").alias("id")).dropDuplicates(["id"]),
                  g.edges, "contains", Direction.OUT, broadcast_frontier=False)
    fused = algebra.fuse(h1, h2)
    return fused.groupBy("src").agg(F.count("*").alias("n_lineitems")).select(
        id_lower(F.col("src")).alias("src_key"),
        F.col("n_lineitems").cast("long").alias("n_lineitems"),
    )


@_register(
    "a2_intersect",
    """SELECT o_custkey AS src_key, o_orderkey AS dst_key
       FROM orders WHERE o_totalprice > 300000""",
)
def a2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect (TorcHelper.java:458-539): customers' order-neighbors
    ∩ {high-value orders} as a left-semi join."""
    g = _graph(spark, sf_dir)
    tr = traverse(_customers(g), g.edges, "placed", Direction.OUT,
                  broadcast_frontier=False)
    keep = g.vertices.where(
        (F.col("label") == "order")
        & (F.col("props")["o_totalprice"].cast("double") > 300000)
    ).select("id")
    out = algebra.intersect(tr, keep)
    return out.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
    )


@_register(
    "a3_subtract",
    """SELECT o_custkey AS src_key, o_orderkey AS dst_key
       FROM orders WHERE NOT (o_totalprice > 300000)""",
)
def a3_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """subtract (TorcHelper.java:541-592): the anti-join complement of
    a2_intersect."""
    g = _graph(spark, sf_dir)
    tr = traverse(_customers(g), g.edges, "placed", Direction.OUT,
                  broadcast_frontier=False)
    remove = g.vertices.where(
        (F.col("label") == "order")
        & (F.col("props")["o_totalprice"].cast("double") > 300000)
    ).select("id")
    out = algebra.subtract(tr, remove)
    return out.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
    )


@_register(
    "a4_remove_edge_if",
    """SELECT o_custkey AS src_key, o_orderkey AS dst_key
       FROM orders WHERE NOT (o_totalprice < 250000)""",
)
def a4_remove_edge_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """removeEdgeIf (TorcHelper.java:594-638): θ-filter over edge
    properties of the traversal result."""
    g = _graph(spark, sf_dir)
    tr = traverse(_customers(g), g.edges, "placed", Direction.OUT,
                  fill_edge=True, broadcast_frontier=False)
    kept = remove_edge_if(
        tr, lambda dst, props: props["totalprice"].cast("double") < 250000
    )
    return kept.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
    )


# ---------------------------------------------------------------------------
# §2.4 relational / OLAP surface (Gremlin-library level → Spark SQL)
# ---------------------------------------------------------------------------


@_register(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
              round(avg(l_quantity), 2) AS avg_qty,
              round(avg(l_extendedprice), 2) AS avg_price,
              round(avg(l_discount), 4) AS avg_disc,
              CAST(count(*) AS BIGINT) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan → filter (pushed to parquet)
    → partial+final hash aggregate. One shuffle on the 2-col group key."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "q3_shipping_priority",
    """SELECT o_orderkey,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
              strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              o_orderpriority
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY o_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, o_orderkey
       LIMIT 10""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter (broadcast join), fact join,
    agg, global top-10 (TakeOrderedAndProject — no full sort)."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_register(
    "q5_nation_revenue",
    """SELECT n_name,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY n_name""",
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier revenue: 6-way join with broadcast
    dims; Catalyst reorders, AQE re-plans at runtime."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), (li["l_suppkey"] == s["s_suppkey"])
              & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@_register(
    "q_topk_orders_per_customer",
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             FROM orders)
       WHERE rnk <= 3""",
)
def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (Gremlin order/limit per group): one shuffle on the
    group key, sort within partitions only."""
    o = load_table(spark, sf_dir, "orders")
    out = topk_per_group(
        o,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    )
    return out.select(
        "o_custkey", "o_orderkey", "o_totalprice", F.col("rnk").cast("long").alias("rnk")
    )


@_register(
    "q_rollup_region_nation",
    """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers,
              round(sum(c_acctbal), 2) AS sum_acctbal
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY ROLLUP(r_name, n_name)""",
)
def q_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (region → nation → grand total) — stock
    ``rollup`` (SURVEY §2.5: absent in reference, free in Spark)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


@_register(
    "q_events_tumbling",
    """SELECT strftime(time_bucket(INTERVAL '15 minutes', ts),
                       '%Y-%m-%d %H:%M:%S') AS window_start,
              event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1, 2""",
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream (batch form; the
    identical transformation runs under readStream — see
    torcdb_spark/streaming)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@_register(
    "q_events_sessions",
    """SELECT user_id,
              CAST(sum(is_new) AS BIGINT) AS n_sessions,
              CAST(count(*) AS BIGINT) AS n_events
       FROM (SELECT user_id,
                    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL THEN 1
                         WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                              > 1800000 THEN 1
                         ELSE 0 END AS is_new
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts))
       GROUP BY user_id""",
)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via lag + conditional count —
    the batch analogue of session_window() in streaming. Session counts are
    invariant to tie-ordering of equal timestamps."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    ms = F.unix_millis("ts")  # ts normalized to TIMESTAMP by load_table
    lag_ms = F.lag(ms).over(w)
    is_new = F.when(lag_ms.isNull() | (ms - lag_ms > 1800000), 1).otherwise(0)
    return (
        ev.select("user_id", is_new.alias("is_new"))
        .groupBy("user_id")
        .agg(
            F.sum("is_new").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 extension operators: dedup / text / similarity (LLM pipeline)
# ---------------------------------------------------------------------------


@_register(
    "d1_dedup_exact",
    """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS group_size
       FROM documents
       GROUP BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))""",
)
def d1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint (hash-groupBy; map-side
    partial agg, one shuffle on the 64-bit key)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


@_register(
    "d2_text_stats",
    """SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars,
              CAST(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                   AS BIGINT) AS n_tokens,
              CAST(len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9[:space:]]')) AS BIGINT)
                   AS n_bpe_tokens,
              CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   AS BIGINT) AS n_alpha,
              CAST(length(regexp_replace(text, '[A-Za-z0-9[:space:]]', '', 'g'))
                   AS BIGINT) AS n_punct
       FROM documents""",
)
def d2_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics — pure JVM expressions, zero
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return text_stats(docs)


@_register(
    "e1_cosine_topk",
    """WITH q AS (SELECT vec_id AS query_id,
                         CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT query_id, e.vec_id AS neighbor_id,
                     round(list_dot_product(qv, CAST(e.embedding AS DOUBLE[]))
                           / (sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                      CAST(e.embedding AS DOUBLE[])))),
                           3) AS score
              FROM q, embeddings e WHERE e.vec_id <> query_id)
       SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id) AS rnk
             FROM scored)
       WHERE rnk <= 5""",
)
def e1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search: broadcast query batch ×
    corpus, JVM-side dot products, per-query window top-k."""
    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 10)
    out = cosine_topk_bruteforce(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rnk").cast("long").alias("rnk")
    )


@_register("x_minhash_near_dups")  # non-SQL-expressible: hash family is Spark-side
def x_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs (rows-only check: the xxhash64-based
    permutation family has no DuckDB equivalent). 32 permutations / 8 bands
    — same band width as the 64/16 default at half the signature cost."""
    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    return minhash_lsh_dedup(docs, num_perm=32, bands=8, jaccard_threshold=0.5)


# The driver's correctness gate evaluates the FIRST 50 entries of queries()
# in iteration order, so the order leads with staleness_head(50).


def staleness_head(n: int = 50) -> list[str]:
    """The n oracled queries checked longest ago: rank every query with a
    DuckDB oracle by the newest round that lists it in a committed
    CORRECTNESS_r{K}.json (never recorded sorts first as -1), tie-break by
    name. Computed at call time, so each new CORRECTNESS record rotates
    the head with no edit here."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for p in _glob.glob(_os.path.join(repo, "CORRECTNESS_r*.json")):
        r = int(_re.search(r"r(\d+)", _os.path.basename(p)).group(1))
        try:
            with open(p) as f:
                rec = _json.load(f)
        except (OSError, ValueError):
            continue
        for name in rec:
            last[name] = max(last.get(name, -1), r)
    return sorted(_ORACLES, key=lambda nm: (last.get(nm, -1), nm))[:n]


def _priority_order(mapping: dict[str, object]) -> dict[str, object]:
    head = {n: mapping[n] for n in staleness_head(50) if n in mapping}
    tail = {n: v for n, v in mapping.items() if n not in head}
    return {**head, **tail}


def queries() -> dict[str, SparkQuery]:
    return _priority_order(dict(_QUERIES))


def oracle_sql() -> dict[str, str]:
    # Same priority order as queries() so the driver pairs them 1:1.
    return _priority_order(dict(_ORACLES))


# ---------------------------------------------------------------------------
# §2.4 G4 graph analytics (the GraphComputer TorcDB refuses: TorcGraph.java:
# 315-324) + gremlin fluent surface
# ---------------------------------------------------------------------------


@_register(
    "g_bfs_counts",
    """WITH o AS (SELECT o_orderkey FROM orders WHERE o_custkey = 1),
            li AS (SELECT l_partkey, l_suppkey FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM o))
       SELECT * FROM (
         SELECT 'customer' AS label, CAST(0 AS BIGINT) AS distance,
                CAST(1 AS BIGINT) AS n
         UNION ALL SELECT 'nation', 1, 1
         UNION ALL SELECT 'order', 1,
                (SELECT CAST(count(*) AS BIGINT) FROM o)
         UNION ALL SELECT 'region', 2, 1
         UNION ALL SELECT 'lineitem', 2,
                (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                 WHERE l_orderkey IN (SELECT o_orderkey FROM o))
         UNION ALL SELECT 'part', 3,
                (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM li)
         UNION ALL SELECT 'supplier', 3,
                (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) FROM li)
       ) WHERE n > 0""",
)
def g_bfs_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (analytics.bfs_distances) from customer 1 over the
    whole edge set, depth ≤ 3, aggregated to (label, distance, n) — the
    frontier-expansion loop with visited-set anti-joins."""
    from torcdb_spark.analytics import bfs_distances
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    src = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], 1),)], ["id"]
    )
    vis = bfs_distances(g.edges, src, max_depth=3)
    return (
        vis.join(g.vertices.select("id", "label"), "id")
        .groupBy("label", F.col("distance").cast("long").alias("distance"))
        .agg(F.count("*").alias("n"))
    )


@_register(
    "g_connected_components",
    """SELECT CAST(r_regionkey AS BIGINT) AS component_key,
              CAST(1 + count(n_nationkey) AS BIGINT) AS size
       FROM region LEFT JOIN nation ON n_regionkey = r_regionkey
       GROUP BY r_regionkey""",
)
def g_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (label-propagation Pregel loop) on the
    nation--inRegion-->region subgraph; component id = min vertex id =
    the region (region label-tag sorts lowest), so components map exactly
    to regions."""
    from torcdb_spark.analytics import connected_components

    g = _graph(spark, sf_dir)
    cc = connected_components(g.edges.where(F.col("label") == "inRegion"))
    return cc.groupBy("component").agg(F.count("*").alias("size")).select(
        id_lower(F.col("component")).alias("component_key"),
        F.col("size").cast("long").alias("size"),
    )


@_register("g_pagerank")  # iterative float fixpoint: rows-only check
def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (DataFrame-Pregel, 10 supersteps, checkpointed lineage)
    over the geography subgraph (customer→nation→region + supplier→nation)."""
    from torcdb_spark.analytics import pagerank

    g = _graph(spark, sf_dir)
    geo = g.edges.where(
        F.col("label").isin(["fromNation", "suppFromNation", "inRegion"])
    )
    pr = pagerank(geo, num_iter=10)
    return pr.select(
        id_lower(F.col("id")).alias("v_key"), F.round(F.col("rank"), 4).alias("rank")
    )


@_register(
    "g_gremlin_2hop",
    """SELECT c_custkey AS src_key, CAST(count(*) AS BIGINT) AS n
       FROM customer
       JOIN orders ON o_custkey = c_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
       GROUP BY c_custkey""",
)
def g_gremlin_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gremlin fluent surface (§2.4 G1-G3): V().hasLabel(customer)
    .has(mktsegment, BUILDING).out(placed).out(contains) compiled to one
    Catalyst plan; per-start path counts."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g)
        .V()
        .has_label("customer")
        .has("c_mktsegment", "BUILDING")
        .out("placed")
        .out("contains")
        .to_df()
    )
    return t.groupBy("start").agg(F.count("*").alias("n")).select(
        id_lower(F.col("start")).alias("src_key"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# more §2.5 extension coverage
# ---------------------------------------------------------------------------


@_register(
    "d3_ngram_jaccard",
    """WITH n AS (SELECT doc_id,
                         lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                  FROM documents WHERE doc_id <= 30),
            sh AS (SELECT doc_id,
                          list_distinct([substring(t, i, 5)
                            for i in generate_series(1, greatest(len(t)-4, 1))]) AS s
                   FROM n)
       SELECT id_a, id_b, jaccard FROM (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       WHERE jaccard >= 0.2""",
)
def d3_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at exact 5-gram Jaccard ≥ 0.2, produced by the
    PRODUCTION pipeline shape end to end: MinHash signatures → LSH
    banded equi-join candidates → exact-Jaccard verification — no
    crossJoin anywhere in the plan. Banding runs one row per band
    (64 bands × 1 row), so a true pair is missed only if all 64
    minhashes disagree: recall ≥ 1−(1−J)^64 ≥ 1−6.3e−7 at J = 0.2.
    The oracle is the BRUTE-FORCE all-pairs filter — the hash match
    certifies that the banded candidate set lost nothing on these
    fixtures (the fixture bound doc_id ≤ 30 keeps the oracle's
    quadratic side tractable; the Spark side never goes quadratic)."""
    from torcdb_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 30)
    sigs = minhash_signatures(docs, num_perm=64)
    cand = minhash_lsh_candidates(sigs, bands=64, rows=1)
    return ngram_jaccard_pairs(docs, cand).where(F.col("jaccard") >= 0.2)


@_register("d4_simhash_groups")  # xxhash64-based: rows-only check
def d4_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucketing (64-bit sign-vote hash over shingle hashes)."""
    from torcdb_spark.operators.dedup import simhash_dedup

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    return simhash_dedup(docs)


@_register("e2_cosine_lsh")  # approximate by design: rows-only check
def e2_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH cosine top-k (bucketed candidate generation +
    exact re-ranking) — the scale path for similarity search."""
    from torcdb_spark.operators.similarity import cosine_topk_lsh

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk_lsh(emb, queries, k=5, num_bits=8, num_tables=4)


@_register(
    "q_distinct_users",
    """SELECT event_type,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
              CAST(count(*) AS BIGINT) AS n_events
       FROM events GROUP BY event_type""",
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (Gremlin dedup+groupCount composed): exact
    count-distinct per group (two-phase partial aggregation)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# widened coverage: remaining §2.2/§2.3 operators, window frames, cube,
# sliding windows, as-of join, language ID, quality scoring, multimodal
# ---------------------------------------------------------------------------


@_register(
    "t4_vertex_edges",
    """SELECT o_custkey AS src_key, o_orderkey AS dst_key,
              round(o_totalprice, 2) AS totalprice FROM orders""",
)
def t4_vertex_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk incident-edge fetch WITH edge properties (vertexEdges,
    TorcGraph.java:953-1053; fillEdge flag of traverse): customers'
    `placed` edges carrying the totalprice edge property."""
    g = _graph(spark, sf_dir)
    tr = traverse(_customers(g), g.edges, "placed", Direction.OUT,
                  fill_edge=True, broadcast_frontier=False)
    return tr.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
        F.round(F.col("props")["totalprice"].cast("double"), 2).alias("totalprice"),
    )


@_register(
    "t6_edge_vertices",
    """SELECT n_name AS src_name, r_name AS dst_name
       FROM nation JOIN region ON n_regionkey = r_regionkey""",
)
def t6_edge_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve edge endpoints to vertices (edgeVertices,
    TorcGraph.java:1532-1579): both ends of every `inRegion` edge hydrated
    to their name properties. Two joins against the vertex table; the
    region side is broadcast by AQE (tiny dimension)."""
    g = _graph(spark, sf_dir)
    e = g.edges.where(F.col("label") == "inRegion")
    v = g.vertices
    src_v = v.select(F.col("id").alias("src"),
                     v["props"]["n_name"].alias("src_name"))
    dst_v = v.select(F.col("id").alias("dst"),
                     v["props"]["r_name"].alias("dst_name"))
    return (e.join(src_v, "src").join(dst_v, "dst")
            .select("src_name", "dst_name"))


@_register(
    "t7_label_counts",
    """SELECT * FROM (
         SELECT 'region' AS label, CAST(count(*) AS BIGINT) AS n FROM region
         UNION ALL SELECT 'nation', count(*) FROM nation
         UNION ALL SELECT 'customer', count(*) FROM customer
         UNION ALL SELECT 'supplier', count(*) FROM supplier
         UNION ALL SELECT 'part', count(*) FROM part
         UNION ALL SELECT 'order', count(*) FROM orders
         UNION ALL SELECT 'lineitem', count(*) FROM lineitem
         UNION ALL SELECT 'user', count(DISTINCT user_id) FROM events
         UNION ALL SELECT 'document', count(*) FROM documents)""",
)
def t7_label_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label read for every vertex (getLabel, TorcGraph.java:1175-1196),
    aggregated per label — validates the whole property-graph build (every
    base row became exactly one vertex)."""
    g = _graph(spark, sf_dir)
    return g.vertices.groupBy("label").agg(F.count("*").alias("n"))


@_register(
    "a5_keylist",
    "SELECT DISTINCT o_custkey AS src_key FROM orders",
)
def a5_keylist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-key projection of a traversal (TorcHelper.keylist,
    TorcHelper.java:640-646): customers with at least one order."""
    g = _graph(spark, sf_dir)
    tr = traverse(_customers(g), g.edges, "placed", Direction.OUT,
                  broadcast_frontier=False)
    return algebra.keylist(tr).select(id_lower(F.col("id")).alias("src_key"))


@_register(
    "d5_lang_id",
    """SELECT doc_id,
              CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de
                        AND s_en >= s_fr THEN 'en'
                   WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
                   WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
                   WHEN s_fr > 0 THEN 'fr'
                   ELSE 'und' END AS predicted
       FROM (SELECT doc_id,
         CAST((length(p)-length(replace(p,' the ','')))/5
              + (length(p)-length(replace(p,' a ','')))/3 AS BIGINT) AS s_en,
         CAST((length(p)-length(replace(p,' el ','')))/4
              + (length(p)-length(replace(p,' la ','')))/4 AS BIGINT) AS s_es,
         CAST((length(p)-length(replace(p,' der ','')))/5
              + (length(p)-length(replace(p,' und ','')))/5 AS BIGINT) AS s_de,
         CAST((length(p)-length(replace(p,' le ','')))/4
              + (length(p)-length(replace(p,' et ','')))/4 AS BIGINT) AS s_fr
         FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p
               FROM documents))""",
)
def d5_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via marker-stopword counting (n-gram heuristic) — the
    declared deterministic heuristic IS the verified contract (the fixture
    text is synthetic, so ground-truth recovery is not the claim)."""
    from torcdb_spark.operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("predicted"))


@_register(
    "d6_quality_score",
    # Portable round-half-up (floor(x*1e4 + 0.5)/1e4) with every literal
    # cast to DOUBLE: DuckDB otherwise evaluates 0.4/0.3 in DECIMAL and
    # its double round() disagrees with Java's within 1 ulp of the .5
    # boundary — both bit-level traps hit real sf0.1 fixture docs.
    """SELECT doc_id,
              floor(((CASE WHEN length(text) BETWEEN 100 AND 20000
                          THEN CAST(0.4 AS DOUBLE)
                          ELSE CAST(0.0 AS DOUBLE) END)
                  + (CASE WHEN n_tokens > 0
                               AND length(text)/n_tokens >= 3.0
                               AND length(text)/n_tokens <= 12.0
                          THEN CAST(0.3 AS DOUBLE)
                          ELSE CAST(0.0 AS DOUBLE) END)
                  + (CASE WHEN length(text) > 0
                          THEN CAST(length(regexp_replace(text,
                                    '[^A-Za-z]', '', 'g')) AS DOUBLE)
                               / length(text)
                          ELSE CAST(0.0 AS DOUBLE) END)
                    * CAST(0.3 AS DOUBLE)) * 10000
                    + CAST(0.5 AS DOUBLE)) / 10000 AS quality
       FROM (SELECT doc_id, text,
                    CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                         END AS n_tokens
             FROM documents)""",
)
def d6_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score (length band + mean-token band +
    alpha ratio) — the cheap pre-filter stage of a training-data pipeline."""
    from torcdb_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs)


@_register(
    "q_running_total",
    """SELECT o_orderkey,
              round(sum(o_totalprice) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
              AS running_spend
       FROM orders""",
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME coverage (rowsBetween): per-customer running spend in
    order-date order. One shuffle on o_custkey, per-key sort — identical
    accumulation order on both engines makes the doubles bit-stable."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@_register(
    "q_cube_status_priority",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus)*2
                   + GROUPING(o_orderpriority) AS BIGINT) AS gid,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(o_totalprice), 2) AS total
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
)
def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE / grouping-sets coverage (SURVEY §2.5): all 4 grouping
    combinations in one pass with explicit grouping flags."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
            .cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
    )


@_register(
    "q_events_sliding",
    """SELECT strftime(time_bucket(INTERVAL '30 minutes', ts)
                       - k * INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S')
                  AS window_start,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM events, (SELECT unnest([0, 1]) AS k) ks
       GROUP BY 1""",
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (1h width, 30m slide) — each event lands
    in 2 overlapping windows; Spark's window() expansion vs the oracle's
    explicit bucket arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@_register(
    "e3_events_asof",
    """SELECT p.event_id, p.user_id,
              strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
              strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
              round(c.click_value, 2) AS click_value
       FROM (SELECT event_id, user_id, ts FROM events
             WHERE event_type = 'purchase') p
       ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS click_value
                       FROM events WHERE event_type = 'click'
                       GROUP BY 1, 2) c
         ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def e3_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase matched to the user's most recent click
    at-or-before it (operators/asof.py — union + ordered window, one
    shuffle; no range cross-join)."""
    from torcdb_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    j = asof_join(purchases, clicks, on=["user_id"],
                  right_cols=["click_value"])
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.round("asof_click_value", 2).alias("click_value"),
    )


@_register("m1_media_features")  # binary plumbing; rows-only check
def m1_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents as opaque binary payloads
    → Arrow-batched mapInPandas feature extraction (decode kernel stubbed,
    operators/multimodal.py)."""
    from torcdb_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
    )

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    feats = extract_features(documents_as_media(docs))
    return feats.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.round("byte_mean", 3).alias("byte_mean"),
        F.round(F.element_at("feature", 1).cast("double"), 4).alias("f0"),
    )


# ---------------------------------------------------------------------------
# relational breadth: semi/anti subqueries, grouping sets, approx distinct
# ---------------------------------------------------------------------------


@_register(
    "q4_priority_semijoin",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
       FROM orders
       WHERE EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
       GROUP BY o_orderpriority""",
)
def q4_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: orders having at least one returned lineitem,
    counted per priority — a left-semi join feeding a partial+final agg
    (the A2 intersect pattern on relational keys)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@_register(
    "q22_no_orders_antijoin",
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
              round(sum(c_acctbal), 2) AS sum_acctbal
       FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderstatus = 'F')
       GROUP BY c_mktsegment""",
)
def q22_no_orders_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped NOT EXISTS: customers with no completed ('F')
    order, per segment — a left-anti join (the A3 subtract pattern on
    relational keys)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_custkey")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


@_register(
    "q_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus)*2
                   + GROUPING(o_orderpriority) AS BIGINT) AS gid,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(o_totalprice), 2) AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the non-cube/rollup shape: two independent
    dimensions + grand total in one pass)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """SELECT o_orderstatus, o_orderpriority,
                  CAST(GROUPING(o_orderstatus)*2
                       + GROUPING(o_orderpriority) AS BIGINT) AS gid,
                  CAST(count(*) AS BIGINT) AS n,
                  round(sum(o_totalprice), 2) AS total
           FROM _gs_orders
           GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
    )


@_register("q_approx_distinct")  # rows-only: HLL sketches differ per engine
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event type — the
    constant-memory distinct-count path for 100 TB cardinality estimation
    (exact distinct = full shuffle of the key space; the sketch merges
    map-side). Tests assert relative error < 5% vs the exact count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        )
        .select("event_type", F.col("approx_users").cast("long").alias("approx_users"))
    )


@_register(
    "d7_embedding_near_dups",
    """SELECT * FROM (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[]))
                      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                               CAST(a.embedding AS DOUBLE[])))
                         * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])))),
                      3) AS score
         FROM embeddings a, embeddings b
         WHERE a.vec_id < b.vec_id
       ) WHERE score >= 0.3""",
)
def d7_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup by embedding): exact
    all-pairs baseline; the scale path LSH-blocks candidates first
    (operators/similarity.py cosine_topk_lsh) and applies this scoring
    within buckets only."""
    from torcdb_spark.operators.similarity import cosine_near_dup_pairs

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    return cosine_near_dup_pairs(emb, threshold=0.3)


@_register("d8_winnowing")  # rows-only: xxhash64 has no DuckDB equivalent
def d8_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling k-gram hashes → per-window minima):
    the overlap-detection sketch; (doc_id, fp) pairs."""
    from torcdb_spark.operators.text import winnowing_fingerprints

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    return winnowing_fingerprints(docs)


@_register("e4_ivf_topk")  # rows-only: IVF recall < 1 has no SQL oracle
def e4_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors: hash-seeded
    centroid cells + nprobe probing — the second ANN layout besides
    hyperplane LSH (e2). Tests assert recall ≥ 0.5 vs the exact top-k."""
    from torcdb_spark.operators.similarity import ivf_topk

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, num_centroids=16, nprobe=4)


# ---------------------------------------------------------------------------
# scalar-function / subquery / set-op breadth (§2.4 library-level surface)
# ---------------------------------------------------------------------------


@_register(
    "q_json_extract",
    """SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) // 10
                   AS BIGINT) AS k_bucket,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1""",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events.props column (get_json_object —
    SURVEY §2.4's scalar-function checklist), bucketed aggregation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select(F.floor(k / 10).cast("long").alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@_register(
    "q_string_predicates",
    """SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END)
                   AS BIGINT) AS with_one,
              min(upper(substring(c_name, 1, 8))) AS first_prefix
       FROM customer
       WHERE starts_with(c_name, 'Customer')
       GROUP BY c_mktsegment""",
)
def q_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions: prefix predicate, LIKE, substring, case
    transforms (SURVEY §2.4 checklist: substring/startswith)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.where(F.col("c_name").startswith("Customer"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("c_name").like("%1%"), 1).otherwise(0))
            .cast("long").alias("with_one"),
            F.min(F.upper(F.substring("c_name", 1, 8))).alias("first_prefix"),
        )
    )


@_register(
    "q_date_parts",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
              CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(o_totalprice), 2) AS total
       FROM orders GROUP BY 1, 2""",
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction and calendar aggregation (epoch-millis dates in
    the reference's LDBC data; real timestamps here, UTC-pinned session)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@_register(
    "q_scalar_subquery",
    """SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
       FROM orders o
       WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders
                                 WHERE o_custkey = o.o_custkey)""",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders above 2× their customer's
    average) — expressed as a window so the whole query is ONE pass with a
    single shuffle on the correlation key instead of a self-join."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("_avg", F.avg("o_totalprice").over(w))
        .where(F.col("o_totalprice") > 2 * F.col("_avg"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@_register(
    "q_set_ops",
    """WITH f AS (SELECT DISTINCT o_custkey AS k FROM orders
                  WHERE o_orderstatus = 'F'),
            p AS (SELECT DISTINCT o_custkey AS k FROM orders
                  WHERE o_orderstatus = 'P')
       SELECT 'both' AS grp, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT k FROM f INTERSECT SELECT k FROM p)
       UNION ALL
       SELECT 'f_only', CAST(count(*) AS BIGINT)
         FROM (SELECT k FROM f EXCEPT SELECT k FROM p)
       UNION ALL
       SELECT 'either', CAST(count(*) AS BIGINT)
         FROM (SELECT k FROM f UNION SELECT k FROM p)""",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over key sets — the relational face of
    the A2/A3 set algebra."""
    o = load_table(spark, sf_dir, "orders")
    f = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    p = o.where(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    rows = [
        ("both", f.intersect(p)),
        ("f_only", f.exceptAll(p).distinct()),
        ("either", f.union(p).distinct()),
    ]
    out = None
    for grp, df in rows:
        one = df.agg(F.count("*").alias("n")).select(
            F.lit(grp).alias("grp"), F.col("n").cast("long").alias("n")
        )
        out = one if out is None else out.unionByName(one)
    return out


@_register(
    "g_gremlin_edge_filter",
    """SELECT c_custkey AS src_key, CAST(count(*) AS BIGINT) AS n_big_orders
       FROM customer
       JOIN orders ON o_custkey = c_custkey
       WHERE c_mktsegment = 'MACHINERY' AND o_totalprice > 150000
       GROUP BY c_custkey""",
)
def g_gremlin_edge_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gremlin edge-valued steps (outE → has(edge prop) → inV): MACHINERY
    customers' placed edges filtered on the totalprice edge property —
    the removeEdgeIf/θ-filter surface through the fluent layer."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g)
        .V()
        .has_label("customer")
        .has("c_mktsegment", "MACHINERY")
        .out_e("placed")
        .has_edge("totalprice", lambda p: p.cast("double") > 150000)
        .in_v()
        .to_df()
    )
    return (
        t.groupBy("start")
        .agg(F.count("*").alias("n_big_orders"))
        .select(
            id_lower(F.col("start")).alias("src_key"),
            F.col("n_big_orders").cast("long").alias("n_big_orders"),
        )
    )


@_register(
    "m2_frame_sample",
    """SELECT doc_id AS media_id, CAST(UNNEST(generate_series(
                0, greatest(CAST(n_chars % 100 AS INT) - 1, 0), 10))
              AS BIGINT) AS frame_idx
       FROM documents""",
)
def m2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (operators/multimodal.py frame_sample):
    every 10th frame index per media item. Frame counts are a deterministic
    function of the fixture (n_chars % 100) so the explode/generate_series
    equivalence is oracle-checked."""
    from torcdb_spark.operators.multimodal import documents_as_media, frame_sample

    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs).withColumn(
        "n_frames", (F.length(F.decode("payload", "utf-8")) % 100).cast("int")
    )
    return frame_sample(media, every_n=10).select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


@_register(
    "q2_min_cost_supplier",
    """SELECT p.p_partkey, s.s_suppkey, s.s_name,
              round(l.l_extendedprice, 2) AS min_price
       FROM part p
       JOIN lineitem l ON l.l_partkey = p.p_partkey
       JOIN supplier s ON s.s_suppkey = l.l_suppkey
       WHERE l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                                  FROM lineitem l2
                                  WHERE l2.l_partkey = p.p_partkey)
       GROUP BY 1, 2, 3, 4""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated-min subquery: for each part, the
    supplier(s) quoting its minimum extended price. The correlated subquery
    is planned as ONE window min over the correlation key (l_partkey) —
    a single shuffle instead of a lineitem self-join — then a broadcast
    join to supplier (small dim)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    w = Window.partitionBy("l_partkey")
    cheapest = (
        l.withColumn("_min", F.min("l_extendedprice").over(w))
        .where(F.col("l_extendedprice") == F.col("_min"))
        .select("l_partkey", "l_suppkey",
                F.round("l_extendedprice", 2).alias("min_price"))
    )
    return (
        cheapest.join(F.broadcast(p), cheapest.l_partkey == p.p_partkey)
        .join(F.broadcast(s), cheapest.l_suppkey == s.s_suppkey)
        .select("p_partkey", "s_suppkey", "s_name", "min_price")
        .distinct()
    )


@_register(
    "q_pivot",
    """SELECT o_orderpriority,
              CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   AS BIGINT) AS st_f,
              CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                   AS BIGINT) AS st_o,
              CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                   AS BIGINT) AS st_p
       FROM orders GROUP BY o_orderpriority""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (status columns per priority row). Explicit pivot values keep
    the plan a single map-side-combinable hash aggregate — no extra pass to
    discover the value domain, and a stable output schema at any SF."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("st_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("st_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("st_p"),
    )


@_register(
    "q_percentiles",
    """SELECT o_orderpriority,
              round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
              round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
              round(quantile_cont(o_totalprice, 0.75), 2) AS p75
       FROM orders GROUP BY o_orderpriority""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (the OpTester p25/p50/p75
    latency report shape, OpTester.java:175-226). Spark's `percentile`
    matches DuckDB's quantile_cont interpolation exactly."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 2).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 2).alias("p75"),
    )


@_register(
    "q_lead_lag",
    """SELECT o_custkey, o_orderkey,
              CAST(date_diff('day',
                   lag(CAST(o_orderdate AS DATE)) OVER w,
                   CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey)
       QUALIFY gap_days IS NOT NULL""",
)
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() over an event sequence: days between a customer's consecutive
    orders. One shuffle on the partition key; o_orderkey tie-break makes the
    frame deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn(
            "gap_days",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).cast("long"),
        )
        .where(F.col("gap_days").isNotNull())
        .select("o_custkey", "o_orderkey", "gap_days")
    )


@_register(
    "g_gremlin_repeat",
    """SELECT c1.c_custkey AS src_key, CAST(count(*) AS BIGINT) AS n
       FROM customer c1 JOIN customer c2
         ON c2.c_nationkey = c1.c_nationkey
       WHERE c1.c_custkey BETWEEN 1 AND 200
       GROUP BY c1.c_custkey""",
)
def g_gremlin_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repeat(both(fromNation)).times(2): customer → nation → same-nation
    customers (self included — bag semantics). The bounded repeat unrolls
    to a linear 2-join chain in one Catalyst plan (TinkerPop RepeatStep,
    reference executes via TorcVertexStep batching TorcVertexStep.java:83-166)."""
    from torcdb_spark.gremlin import G
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    ids = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 201)]
    t = (
        G(g)
        .V(*ids)
        .repeat(lambda tr: tr.both("fromNation"), 2)
        .to_df()
    )
    return t.groupBy("start").agg(F.count("*").alias("n")).select(
        id_lower(F.col("start")).alias("src_key"),
        F.col("n").cast("long").alias("n"),
    )


@_register(
    "g_gremlin_union",
    """SELECT c_custkey AS src_key, CAST(count(*) AS BIGINT) AS n
       FROM (SELECT o_custkey AS c_custkey FROM orders
             UNION ALL
             SELECT c_custkey FROM customer) u
       WHERE c_custkey BETWEEN 1 AND 500
       GROUP BY c_custkey""",
)
def g_gremlin_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union(out(placed), out(fromNation)): pooled traversers from two
    sub-traversals (TinkerPop UnionStep) — per start, orders placed + the
    one nation edge. Compiles to UNION ALL of two label-pruned hop joins."""
    from torcdb_spark.gremlin import G
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    ids = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 501)]
    t = (
        G(g)
        .V(*ids)
        .union(
            lambda tr: tr.out("placed"),
            lambda tr: tr.out("fromNation"),
        )
        .to_df()
    )
    return t.groupBy("start").agg(F.count("*").alias("n")).select(
        id_lower(F.col("start")).alias("src_key"),
        F.col("n").cast("long").alias("n"),
    )


@_register(
    "g_gremlin_simple_path",
    """SELECT c1.c_custkey AS src_key, CAST(count(*) AS BIGINT) AS n
       FROM customer c1 JOIN customer c2
         ON c2.c_nationkey = c1.c_nationkey
        AND c2.c_custkey <> c1.c_custkey
       WHERE c1.c_custkey BETWEEN 1 AND 200
       GROUP BY c1.c_custkey""",
)
def g_gremlin_simple_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """with_path().both(fromNation).both(fromNation).simple_path(): the
    2-hop neighborhood minus cycles back through the start — per-traverser
    path state is an O(depth) array column, shuffled with the frame (no
    driver state), matching TinkerPop simplePath()."""
    from torcdb_spark.gremlin import G
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    ids = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 201)]
    t = (
        G(g)
        .V(*ids)
        .with_path()
        .both("fromNation")
        .both("fromNation")
        .simple_path()
        .to_df()
    )
    return t.groupBy("start").agg(F.count("*").alias("n")).select(
        id_lower(F.col("start")).alias("src_key"),
        F.col("n").cast("long").alias("n"),
    )


@_register(
    "q6_forecast_revenue",
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
       FROM lineitem
       WHERE l_shipdate >= DATE '1994-01-01'
         AND l_shipdate < DATE '1995-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate. Every predicate reaches the
    parquet scan as a pushed filter and only 4 columns are read
    (plan-asserted in tests/test_plans.py) — at 100 TB this is the
    io-bound shape where pushdown+pruning dominate."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
            .alias("revenue")
        )
    )


@_register(
    "q_exists_subquery",
    """SELECT s_suppkey, s_name
       FROM supplier s
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_suppkey = s.s_suppkey
                       AND l.l_returnflag = 'R'
                       AND l.l_quantity > 45)""",
)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS: suppliers with at least one high-quantity return.
    Planned as a LEFT SEMI join (one pass over lineitem, no duplicate
    explosion, map-side broadcast of the small supplier side is left to
    AQE since lineitem is the probe)."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45)
    )
    return (
        s.join(l, s.s_suppkey == l.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@_register(
    "q_having",
    """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_items,
              round(sum(l_extendedprice), 2) AS total
       FROM lineitem
       GROUP BY l_suppkey
       HAVING count(*) > 600""",
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING — post-aggregation predicate; partial (map-side)
    aggregation still applies, the HAVING filter runs after the final
    merge so it cannot be pushed below the shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
        .where(F.col("n_items") > 600)
    )


# ---------------------------------------------------------------------------
# S6 / T8 element APIs: edge point-lookup, setProperty with cardinality,
# five-type serde round-trip (TorcGraph.java:376-402, 1468-1526;
# TorcHelper.java:92-215)
# ---------------------------------------------------------------------------


@_register(
    "s6_edges_by_key",
    """SELECT o_custkey AS c_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice
       FROM orders WHERE o_orderkey <= 100""",
)
def s6_edges_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk edge point-lookup (TorcGraph.edges, TorcGraph.java:376-402):
    fetch exactly the keyed (customer)-[placed]->(order) edges and read an
    edge property back. The key set travels as a broadcast join against the
    label-pruned edge scan — the set-at-a-time form of the reference's
    multiread edge fetch."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import id_col

    g = _graph(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 100)
    keys = o.select(
        id_col(LABEL_TAGS["customer"], F.col("o_custkey")).alias("src"),
        id_col(LABEL_TAGS["order"], F.col("o_orderkey")).alias("dst"),
        F.lit("placed").alias("label"),
    )
    return g.edges_by_key(keys).select(
        id_lower(F.col("src")).alias("c_custkey"),
        id_lower(F.col("dst")).alias("o_orderkey"),
        F.round(F.col("props")["totalprice"].cast("double"), 2).alias("totalprice"),
    )


@_register(
    "t9_props_list_roundtrip",
    """SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS n_orders,
              CAST(min(o_orderkey) AS BIGINT) AS min_ok,
              CAST(max(o_orderkey) AS BIGINT) AS max_ok
       FROM orders GROUP BY o_custkey""",
)
def t9_props_list_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIST-cardinality setProperty round-trip through the five-type serde
    (TorcGraph.java:1468-1526; TorcHelper LIST codec, TorcHelper.java:166-181):
    append every order key to its customer's ``order_keys`` LIST property,
    then hydrate via fill_properties and decode — the aggregate of the
    decoded lists must equal the aggregate of the source table, proving the
    values survived encode → merge → store → decode exactly."""
    from torcdb_spark import serde
    from torcdb_spark.graph import Cardinality, LABEL_TAGS
    from torcdb_spark.ids import id_col

    g = _graph(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    upd = o.select(
        id_col(LABEL_TAGS["customer"], F.col("o_custkey")).alias("id"),
        F.col("o_orderkey").alias("value"),
    )
    g2 = g.set_vertex_property(upd, "order_keys", Cardinality.LIST)
    hydrated = fill_properties(
        upd.select("id").dropDuplicates(["id"]), g2.vertices,
        keys=["order_keys"], labels=["customer"],
    )
    ok = F.explode(
        serde.prop_list_col(F.col("props")["order_keys"])
    ).alias("ok")
    return (
        hydrated.select(id_lower(F.col("id")).alias("c_custkey"), ok)
        .select("c_custkey", F.col("ok").cast("long").alias("ok"))
        .groupBy("c_custkey")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("ok").alias("min_ok"),
            F.max("ok").alias("max_ok"),
        )
    )


@_register(
    "t10_props_map_roundtrip",
    """SELECT o_custkey AS c_custkey, o_orderstatus, CAST(count(*) AS BIGINT) AS n
       FROM orders GROUP BY o_custkey, o_orderstatus""",
)
def t10_props_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-valued property round-trip (TorcHelper MAP codec,
    TorcHelper.java:183-215): store each customer's per-status order counts
    as one MAP property, hydrate, decode, explode back to rows — must equal
    the relational GROUP BY it was built from."""
    from torcdb_spark import serde
    from torcdb_spark.graph import Cardinality, LABEL_TAGS
    from torcdb_spark.ids import id_col

    g = _graph(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey", "o_orderstatus").agg(F.count("*").alias("cnt"))
    upd = (
        per.groupBy("o_custkey")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("o_orderstatus", "cnt")))
            ).alias("value")
        )
        .select(
            id_col(LABEL_TAGS["customer"], F.col("o_custkey")).alias("id"),
            "value",
        )
    )
    g2 = g.set_vertex_property(upd, "status_counts", Cardinality.SINGLE)
    hydrated = fill_properties(
        upd.select("id"), g2.vertices, keys=["status_counts"], labels=["customer"]
    )
    kv = F.explode(serde.prop_map_col(F.col("props")["status_counts"]))
    return hydrated.select(
        id_lower(F.col("id")).alias("c_custkey"), kv.alias("o_orderstatus", "n")
    ).select("c_custkey", "o_orderstatus", F.col("n").cast("long").alias("n"))


# ---------------------------------------------------------------------------
# Gremlin step completeness: bothE, where/not, as/select, order().by(prop),
# path() across union (TorcVertexStep.java:59-66; TinkerPop filter/select
# semantics)
# ---------------------------------------------------------------------------


@_register(
    "g_gremlin_both_e",
    """SELECT n_nationkey AS start_key, n_regionkey AS far_key FROM nation
       UNION ALL
       SELECT n_regionkey AS start_key, n_nationkey AS far_key FROM nation""",
)
def g_gremlin_both_e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bothE from the nation ∪ region vertex set over inRegion edges: every
    nation sees its edge from the src side, every region from the dst side
    (TorcVertexStep BOTH edge mode, TorcVertexStep.java:59-66)."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = G(g).V().has_label("nation", "region").both_e("inRegion")
    return t._df.select(
        id_lower(F.col("_cur")).alias("start_key"),
        id_lower(F.col("_edst")).alias("far_key"),
    )


@_register(
    "g_gremlin_where_not",
    """SELECT c.c_custkey, CASE WHEN EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         THEN 'has_orders' ELSE 'no_orders' END AS bucket
       FROM customer c""",
)
def g_gremlin_where_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """where(out('placed')) and not(out('placed')) partition the customer
    set — the traversal-filter composition TinkerPop's WhereTraversalStep
    provides; compiled to one LEFT SEMI and one LEFT ANTI join against the
    same distinct-seed sub-traversal."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    base = G(g).V().has_label("customer")
    with_orders = base.where_(lambda t: t.out("placed")).to_df().select(
        id_lower(F.col("current")).alias("c_custkey"),
        F.lit("has_orders").alias("bucket"),
    )
    without = base.not_(lambda t: t.out("placed")).to_df().select(
        id_lower(F.col("current")).alias("c_custkey"),
        F.lit("no_orders").alias("bucket"),
    )
    return with_orders.unionByName(without)


@_register(
    "g_gremlin_select",
    """SELECT o_custkey AS c_custkey, o_orderkey FROM orders""",
)
def g_gremlin_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as('c').out('placed').as('o').select('c','o') — step labels survive
    the hop as frame columns; the terminal select projects the bindings
    (TinkerPop SelectStep)."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    sel = (
        G(g).V().has_label("customer").as_("c")
        .out("placed").as_("o")
        .select("c", "o")
    )
    return sel.select(
        id_lower(F.col("c")).alias("c_custkey"),
        id_lower(F.col("o")).alias("o_orderkey"),
    )


@_register(
    "g_gremlin_order_by_prop",
    """SELECT c_custkey, round(CAST(c_acctbal AS DOUBLE), 2) AS acctbal
       FROM customer
       ORDER BY CAST(c_acctbal AS DOUBLE) DESC, c_custkey ASC LIMIT 10""",
)
def g_gremlin_order_by_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order().by('c_acctbal', desc).limit(10) — property-valued ordering
    with an id tiebreak so the selected top-k set is deterministic."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g).V().has_label("customer")
        .order_by_values("c_acctbal", ascending=False, cast="double")
        .limit(10)
    )
    hydrated = fill_properties(
        t._df.select(F.col("_cur").alias("id")), g.vertices,
        keys=["c_acctbal"], labels=["customer"],
    )
    return hydrated.select(
        id_lower(F.col("id")).alias("c_custkey"),
        F.round(F.col("props")["c_acctbal"].cast("double"), 2).alias("acctbal"),
    )


@_register(
    "g_gremlin_group",
    """SELECT o_orderstatus AS group_key, CAST(count(*) AS BIGINT) AS n
       FROM orders WHERE o_custkey BETWEEN 1 AND 100
       GROUP BY o_orderstatus""",
)
def g_gremlin_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group().by('o_orderstatus').by(count()) composed over an out() hop —
    the TinkerPop group step as one hydration join + one shuffle on the
    group key (gremlin.py group_by_values)."""
    from torcdb_spark.gremlin import G
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    ids = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 101)]
    return G(g).V(*ids).out("placed").group_by_values("o_orderstatus")


@_register(
    "g_gremlin_value_stats",
    """SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE), 2) AS sum_v,
              round(CAST(min(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE), 2) AS min_v,
              round(CAST(max(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE), 2) AS max_v,
              round(CAST(avg(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE), 4) AS mean_v
       FROM orders WHERE o_custkey BETWEEN 1 AND 100""",
)
def g_gremlin_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum()/min()/max()/mean() terminals over a hop's property values —
    one global aggregate with map-side partials; DECIMAL accumulation so
    the sum is association-order-independent (oracle-hashable)."""
    from torcdb_spark.gremlin import G
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    ids = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 101)]
    stats = (
        G(g).V(*ids).out("placed")
        .values_stats("o_totalprice", cast="decimal(18,2)")
    )
    return stats.select(
        F.round(F.col("sum_v").cast("double"), 2).alias("sum_v"),
        F.round(F.col("min_v").cast("double"), 2).alias("min_v"),
        F.round(F.col("max_v").cast("double"), 2).alias("max_v"),
        F.round(F.col("mean_v").cast("double"), 4).alias("mean_v"),
    )


@_register(
    "g_gremlin_range",
    """SELECT o_orderkey, round(CAST(o_totalprice AS DOUBLE), 2) AS totalprice
       FROM orders WHERE o_custkey BETWEEN 1 AND 100
       ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey ASC
       LIMIT 15 OFFSET 10""",
)
def g_gremlin_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order().by('o_totalprice', desc).range(10, 25): deterministic slice
    of the ordered traversal — distributed top-25 then a 25-row window,
    never a full single-partition sort (gremlin.py range_)."""
    from torcdb_spark.gremlin import G
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    ids = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 101)]
    t = (
        G(g).V(*ids).out("placed")
        .order_by_values("o_totalprice", ascending=False, cast="double")
        .range_(10, 25)
    )
    return t._df.select(
        id_lower(F.col("_cur")).alias("o_orderkey"),
        F.round(F.col("_ordval"), 2).alias("totalprice"),
    )


@_register(
    "g_gremlin_union_path",
    """SELECT c_nationkey AS n_nationkey, c_custkey AS member_key,
              CAST(2 AS BIGINT) AS path_len
       FROM customer
       UNION ALL
       SELECT s_nationkey, s_suppkey, CAST(2 AS BIGINT) FROM supplier""",
)
def g_gremlin_union_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """path() AFTER union(): path tracking must survive the branch pooling
    (the round-1 implementation dropped `_path` across union). Each nation
    fans out to its customers and its suppliers; every traverser's path is
    (nation, member)."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g).V().has_label("nation").with_path()
        .union(
            lambda x: x.in_("fromNation"),
            lambda x: x.in_("suppFromNation"),
        )
    )
    p = t.path()
    return p.select(
        id_lower(F.col("path")[0]).alias("n_nationkey"),
        id_lower(F.col("path")[1]).alias("member_key"),
        F.size(F.col("path")).cast("long").alias("path_len"),
    )


@_register(
    "g_pagerank_exact",
    """WITH RECURSIVE
       it(iter, n, a, bs) AS (
         SELECT 0,
                (SELECT CAST(count(*) AS DOUBLE) FROM nation)
                  + (SELECT count(*) FROM region),
                CAST(1.0 AS DOUBLE),
                (SELECT list(struct_pack(rkey := rkey, cnt := cnt,
                                         b := CAST(1.0 AS DOUBLE))
                             ORDER BY rkey)
                 FROM (SELECT n_regionkey AS rkey,
                              CAST(count(*) AS DOUBLE) AS cnt
                       FROM nation GROUP BY 1))
         UNION ALL
         SELECT iter + 1, n,
                0.15 + 0.85 * (t.D / n),
                list_transform(bs, x -> struct_pack(
                    rkey := x.rkey, cnt := x.cnt,
                    b := 0.15 + 0.85 * (x.cnt * it.a + t.D / it.n)))
         FROM it, LATERAL (SELECT list_sum(list_transform(bs, y -> y.b)) AS D) t
         WHERE iter < 10
       )
       SELECT CAST(2 AS BIGINT) AS tag, CAST(n_nationkey AS BIGINT) AS key,
              round((SELECT a FROM it WHERE iter = 10), 4) AS rank
       FROM nation
       UNION ALL
       SELECT 1, u.rkey, round(u.b, 4)
       FROM (SELECT unnest(bs, recursive := true)
             FROM it WHERE iter = 10) u""",
)
def g_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, HASH-matched against a closed-form oracle.

    The inRegion subgraph (nation → region) has out-degree 1 for every
    nation and 0 for every region, so the power iteration collapses to a
    scalar recurrence — all nations share one rank a(t), each region's rank
    is b_j(t+1) = 0.15 + 0.85·(c_j·a(t) + D(t)/n) with D the dangling
    (region) mass. The oracle runs that exact recurrence as a DuckDB
    recursive CTE over the same base tables, proving the general Pregel
    implementation (analytics.pagerank — joins, dangling redistribution,
    damping) computes the mathematically-correct fixpoint iterates, not
    merely 'some converging numbers'. Ranks rounded to 4dp on both sides
    (float association order differs between engines at ~1e-15)."""
    from torcdb_spark.analytics import pagerank
    from torcdb_spark.ids import id_upper

    g = _graph(spark, sf_dir)
    e = g.edges.where(F.col("label") == "inRegion")
    pr = pagerank(e, num_iter=10)
    return pr.select(
        id_upper(F.col("id")).alias("tag"),
        id_lower(F.col("id")).alias("key"),
        F.round(F.col("rank"), 4).alias("rank"),
    )


@_register("m3_image_decode")  # rows-only: byte-level PPM decode has no SQL analogue
def m3_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the multimodal path: each document's text
    bytes are framed as a 16×8 P6 PPM payload (deterministic, JVM-side
    construction), decoded by the pure-numpy PPM kernel inside
    mapInPandas, and reduced to per-image dimension/channel statistics.
    Exercises decode_image end-to-end on fixture-derived binary payloads —
    the decode itself is exact-tested in tests/test_operators.py against
    known pixel arrays."""
    from torcdb_spark.operators.multimodal import decode_and_featurize

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    w, h = 16, 8
    header = F.encode(F.lit(f"P6\n{w} {h}\n255\n"), "utf-8")
    body = F.encode(F.rpad(F.col("text"), w * h * 3, " "), "utf-8")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, body).alias("payload"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"),
    )
    feats = decode_and_featurize(media)
    return feats.select(
        "media_id", "width", "height", "channels",
        "mean_r", "mean_g", "mean_b", "decode_err",
    )


# ---------------------------------------------------------------------------
# Text analysis: TF-IDF (SURVEY §2.5 north-star text operator)
# ---------------------------------------------------------------------------


@_register(
    "d9_tfidf",
    """WITH toks AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
         FROM documents WHERE trim(text) <> ''
       ),
       tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY 1, 2),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents)
       SELECT doc_id, term, tf,
              round(tf * ln((SELECT nd FROM n) / df), 4) AS tfidf
       FROM (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                    row_number() OVER (PARTITION BY tf.doc_id
                        ORDER BY tf.tf * ln((SELECT nd FROM n) / dfreq.df) DESC,
                                 tf.term ASC) AS rk
             FROM tf JOIN dfreq USING (term))
       WHERE rk <= 5""",
)
def d9_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (operators/text.tfidf): tf from one
    explode+groupBy, df over the vocabulary-sized term table, N as a
    broadcast scalar — three bounded-key shuffles, no driver collect."""
    from torcdb_spark.operators.text import tfidf

    docs = load_table(spark, sf_dir, "documents")
    return tfidf(docs, top_terms=5)


# ---------------------------------------------------------------------------
# Skew-handling salted join (SURVEY §7.2 M8 scale lever)
# ---------------------------------------------------------------------------


@_register(
    "q_salted_join",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
              round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
                    2) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority""",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders through the salt-replicated join (operators/skew):
    the hot-key-proof formulation whose output must be IDENTICAL to the
    plain join — which is exactly what the oracle asserts. Aggregation runs
    after de-salting, so revenue per priority matches to the cent."""
    from torcdb_spark.operators.skew import salted_join

    l = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "okey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(l, o, on="okey", salt_buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
            ).cast("double"),
            2,
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# TPC-H adaptations q9/q10/q18 (profit rollup, returned-item revenue,
# large-volume customers) — fitted to the fixture schema
# ---------------------------------------------------------------------------


@_register(
    "q9_profit_by_nation_year",
    """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
              round(CAST(sum(l_rev) AS DOUBLE), 2) AS profit
       FROM (SELECT l_orderkey, l_suppkey,
                    CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4))) AS l_rev
             FROM lineitem) li
       JOIN orders ON o_orderkey = l_orderkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN nation ON n_nationkey = s_nationkey
       GROUP BY n_name, year(o_orderdate)""",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit measure): revenue attributed to
    the supplier's nation per order year. lineitem is the probe side; the
    supplier→nation dimension chain broadcasts (both under the 64 MB
    threshold at any SF — nation is constant-sized, supplier ~SF·10k)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
                ).cast("double"),
                2,
            ).alias("profit")
        )
    )


@_register(
    "q10_returned_revenue",
    """SELECT c_custkey, c_name,
              round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
                    2) AS revenue
       FROM customer
       JOIN orders ON o_custkey = c_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE l_returnflag = 'R'
       GROUP BY c_custkey, c_name
       ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns. The
    returnflag filter is pushed into the lineitem scan; custkey tiebreak
    makes the top-20 set deterministic."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
                ).cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_register(
    "q18_large_volume_customers",
    """SELECT c_custkey, o_orderkey,
              round(o_totalprice, 2) AS totalprice,
              CAST(sum(l_quantity) AS BIGINT) AS total_qty
       FROM customer
       JOIN orders ON o_custkey = c_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       GROUP BY c_custkey, o_orderkey, o_totalprice
       HAVING sum(l_quantity) > 270""",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): the HAVING over a grouped
    scalar subquery plans as one aggregation over the joined fact — the
    per-order quantity sum is map-side combined before the group shuffle."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .where(F.col("total_qty") > 270)
        .select(
            "c_custkey", "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# Streaming path, oracle-checked: the declared query runs the ACTUAL
# Structured Streaming pipeline (file source → watermark → windowed agg →
# memory sink) and its result must hash-match the batch SQL oracle —
# stream/batch equivalence as a correctness-gate entry, not just a pytest.
# ---------------------------------------------------------------------------


@_register(
    "st_events_tumbling_stream",
    """SELECT strftime(time_bucket(INTERVAL '15 minutes', ts),
                       '%Y-%m-%d %H:%M:%S') AS window_start,
              event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1, 2""",
)
def st_events_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts computed BY THE STREAMING ENGINE: readStream
    over the fixture file, 1-hour watermark, incremental state-store
    aggregation, availableNow drain to a memory sink. Hash-matching the
    batch oracle proves the watermark/window/state machinery produces
    byte-identical aggregates to the batch plan (Structured Streaming's
    core contract)."""
    import os
    import tempfile

    from torcdb_spark.streaming import events_stream, windowed_counts
    from torcdb_spark.streaming.jobs import run_to_memory

    slug = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"torcdb_stream_src_{slug}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    stream = events_stream(spark, d)
    run_to_memory(windowed_counts(stream), "st_wc", output_mode="complete")
    return spark.table("st_wc")


@_register(
    "e5_label_centroids",
    """WITH dims AS (
         SELECT label, t.i AS dim, avg(CAST(embedding[t.i] AS DOUBLE)) AS m
         FROM embeddings,
              (SELECT unnest(range(1,
                 (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i) t
         GROUP BY label, t.i
       ),
       cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
               FROM embeddings GROUP BY label)
       SELECT label, n_vecs, round(sqrt(sum(m * m)), 4) AS centroid_norm
       FROM dims JOIN cnt USING (label)
       GROUP BY label, n_vecs""",
)
def e5_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via the grouped-aggregate Pandas UDF
    (functions.vector_mean — the engine's UDAF surface): one shuffle on
    label, Arrow-batched numpy mean per group, then a JVM-side norm
    reduction over the centroid array. The oracle recomputes the same
    centroid dimension-wise via 1-indexed list extraction over a
    generated dimension range."""
    from torcdb_spark.functions import vector_mean

    emb = load_table(spark, sf_dir, "embeddings")
    # grouped-agg pandas UDFs cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — count rides in a second aggregate
    # joined on the 5-row label key
    cents = emb.groupBy("label").agg(
        vector_mean()(F.col("embedding")).alias("_c")
    )
    counts = emb.groupBy("label").agg(F.count("*").cast("long").alias("n_vecs"))
    norm = F.sqrt(
        F.aggregate(F.col("_c"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return cents.join(counts, "label").select(
        "label", "n_vecs", F.round(norm, 4).alias("centroid_norm")
    )


@_register(
    "p2_pdf_text_extract",
    """SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars,
              TRUE AS exact
       FROM documents WHERE text IS NOT NULL""",
)
def p2_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF→text extraction (operators/pdf.py): each document's text is
    written into a real single-page PDF — correct xref/trailer, literal
    strings with the paren/backslash escaping, FlateDecode content
    streams for odd doc ids — and extracted back inside one
    Arrow-batched mapInPandas kernel (BT/ET scan, Tj/TJ/quote
    operators, full string unescaping). Extraction is exact on this
    shape, so the oracle replays character counts and the match flag
    straight from the documents table — the pdf-corpus ingestion stage
    every pre-training pipeline runs, with the m13/m9 lossless
    verification contract. (Reference has no document-format surface;
    LLM-pipeline extension, SURVEY §2.5.)"""
    import pandas as pd

    from torcdb_spark.operators.pdf import encode_pdf_text, extract_pdf_text

    docs = (
        regime.spread(load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())  # symmetric with the oracle
        .select("doc_id", "text"))
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                t = str(text)
                payload = encode_pdf_text(
                    [[t]], compress=bool(int(did) % 2)
                )
                out = extract_pdf_text(payload)
                rows.append(
                    {
                        "doc_id": int(did),
                        "n_chars": len(out),
                        "exact": out == t,
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(kernel, "doc_id long, n_chars long, exact boolean")


@_register(
    "p4_srt_cues",
    r"""WITH w AS (
         SELECT doc_id,
                len(regexp_split_to_array(
                      trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                  AS nw,
                length(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS L
         FROM documents WHERE text IS NOT NULL)
       SELECT doc_id,
              CAST(ceil(nw / 8.0) AS BIGINT) AS n_cues,
              CAST(1500 * ceil(nw / 8.0) AS BIGINT) AS total_dur_ms,
              CAST(L - (ceil(nw / 8.0) - 1) AS BIGINT) AS parsed_chars,
              CAST(2000 * (ceil(nw / 8.0) - 1) + 1500 AS BIGINT)
                AS last_end_ms
       FROM w""",
)
def p4_srt_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle/caption ingestion (video-text corpora ship as .srt/.vtt
    next to the media): each document's words become a REAL SubRip file
    — 8-word cues, ``HH:MM:SS,mmm --> …`` timestamp lines, blank-line
    separators, all built JVM-side (text.srt_timestamp) — and
    text.parse_srt parses it back with zero Python: blank-line split,
    one cue regex, timestamp→ms arithmetic, whole-stage codegen
    throughout. The per-document census (cue count, summed durations,
    summed cue-text lengths, last end timestamp) is replayed by the
    oracle in closed form from the word counts, so the hash pins the
    builder AND the parser (a timestamp-conversion bug shifts
    total_dur_ms; a cue-split bug shifts parsed_chars)."""
    from torcdb_spark.operators.text import parse_srt, srt_timestamp

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())  # symmetric with the oracle
        .select("doc_id", "text")
    )
    words = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    n_cues = F.ceil(F.size(words) / F.lit(8)).cast("int")
    cue = lambda i: F.concat(  # noqa: E731
        (i + 1).cast("string"),
        F.lit("\n"),
        srt_timestamp(i.cast("long") * 2000),
        F.lit(" --> "),
        srt_timestamp(i.cast("long") * 2000 + 1500),
        F.lit("\n"),
        F.array_join(F.slice(words, i * 8 + 1, 8), " "),
    )
    srt = docs.select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_cues - 1), cue), "\n\n"
        ).alias("srt"),
    )
    cues = parse_srt(srt)
    return cues.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_cues"),
        F.sum(F.col("end_ms") - F.col("start_ms"))
        .cast("long")
        .alias("total_dur_ms"),
        F.sum(F.length("cue_text")).cast("long").alias("parsed_chars"),
        F.max("end_ms").cast("long").alias("last_end_ms"),
    )


@_register(
    "p3_epub_extract",
    r"""SELECT doc_id,
              CAST(length(trim(regexp_replace(text, '\s+', ' ', 'g')))
                AS BIGINT) AS n_chars,
              TRUE AS exact
       FROM documents WHERE text IS NOT NULL""",
)
def p3_epub_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB ingestion as OPERATOR COMPOSITION — the book-corpus stage of
    a pre-training pipeline built from three existing layers with no new
    kernel: each document becomes a real EPUB (a ZIP with stored
    mimetype, META-INF/container.xml, an OPF manifest, and an XHTML
    chapter with entity-escaped text and a <style> block), fans out
    through sources.warc.zip_members (stdlib zipfile over Arrow
    batches), and the chapter extracts through text.html_to_text (the
    JVM-regex trafilatura-lite chain: style-drop, tag-strip, entity
    decode, whitespace collapse). Escape → archive → unzip → de-markup
    is lossless up to whitespace collapse, so the oracle replays
    character counts with one regexp from the documents table."""
    from html import escape

    from torcdb_spark.operators.text import html_to_text
    from torcdb_spark.sources.warc import write_zip, zip_members

    docs = (
        regime.spread(load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())  # symmetric with the oracle
        .select("doc_id", "text"))
    )

    def epub(text):
        return write_zip([
            ("mimetype", "application/epub+zip"),
            ("META-INF/container.xml",
             '<?xml version="1.0"?><container><rootfiles>'
             '<rootfile full-path="OEBPS/content.opf"/>'
             "</rootfiles></container>"),
            ("OEBPS/content.opf",
             '<package><manifest><item href="text.xhtml"/>'
             "</manifest></package>"),
            ("OEBPS/text.xhtml",
             "<html><head><title></title>"
             "<style>p { margin: 0 }</style></head>"
             f"<body><p>{escape(text, quote=False)}</p></body></html>"),
        ])

    archives = docs.select(
        F.format_string("doc_%d.epub", "doc_id").alias("path"),
        synth_udf(epub)("text").alias("content"),
    )
    chapters = zip_members(archives).where(
        F.col("member").endswith(".xhtml")
    )
    texts = chapters.select(
        F.regexp_extract("path", r"doc_(\d+)\.epub", 1)
        .cast("long")
        .alias("doc_id"),
        html_to_text(F.decode("payload", "utf-8")).alias("extracted"),
    )
    orig = docs.select(
        "doc_id",
        F.trim(F.regexp_replace("text", r"\s+", " ")).alias("norm"),
    )
    return texts.join(orig, "doc_id").select(
        "doc_id",
        F.length("extracted").cast("long").alias("n_chars"),
        (F.col("extracted") == F.col("norm")).alias("exact"),
    )


# ---------------------------------------------------------------------------
# End-to-end training-data pipeline composition: quality filter → language
# filter → exact dedup → surviving-doc stats. One lazy Catalyst plan across
# four operators — the composition story the LLM-pipeline operators exist
# for.
# ---------------------------------------------------------------------------


@_register(
    "p1_clean_corpus",
    # quality CTE mirrors d6's portable-round formulation (see d6's
    # oracle comment for the DECIMAL-literal / round() bit-level traps)
    """WITH q AS (
         SELECT doc_id,
                floor(((CASE WHEN length(text) BETWEEN 100 AND 20000
                            THEN CAST(0.4 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                    + (CASE WHEN n_tokens > 0
                                 AND length(text)/n_tokens >= 3.0
                                 AND length(text)/n_tokens <= 12.0
                            THEN CAST(0.3 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                    + (CASE WHEN length(text) > 0
                            THEN CAST(length(regexp_replace(text,
                                      '[^A-Za-z]', '', 'g')) AS DOUBLE)
                                 / length(text)
                            ELSE CAST(0.0 AS DOUBLE) END)
                      * CAST(0.3 AS DOUBLE)) * 10000
                      + CAST(0.5 AS DOUBLE)) / 10000 AS quality,
                n_tokens
         FROM (SELECT doc_id, text,
                      CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                           END AS n_tokens
               FROM documents)
       ),
       filt AS (
         SELECT d.doc_id, d.text
         FROM documents d JOIN q USING (doc_id)
         WHERE q.quality >= 0.4 AND d.lang = 'en'
       ),
       ded AS (
         SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS group_size
         FROM filt
         GROUP BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
       )
       SELECT ded.doc_id, ded.group_size,
              CAST(q.n_tokens AS BIGINT) AS n_tokens, q.quality
       FROM ded JOIN q USING (doc_id)""",
)
def p1_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning as one composed lazy plan: quality_score ≥ 0.4 AND
    lang='en' → exact_dedup (lowest-id survivor per normalized text) →
    per-survivor token counts. Catalyst pushes the lang filter into the
    scan and fuses the quality projection with it; the only shuffles are
    the dedup groupBy and the final survivor joins. This is the shape of a
    real pretraining-data prep job at 100 TB — every stage is one of the
    declared operators, none of them driver-side."""
    from torcdb_spark.operators.dedup import exact_dedup
    from torcdb_spark.operators.text import quality_score, text_stats

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs)
    filt = (
        docs.join(q, "doc_id")
        .where((F.col("quality") >= 0.4) & (F.col("lang") == "en"))
    )
    ded = exact_dedup(filt.select("doc_id", "text"))
    stats = text_stats(docs).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )
    return (
        ded.join(stats, "doc_id")
        .join(q, "doc_id")
        .select("doc_id", "group_size", "n_tokens", "quality")
    )


@_register(
    "q_range_frame_trailing",
    """SELECT o_custkey AS c_custkey, o_orderkey,
              round(sum(o_totalprice) OVER (
                  PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
                  RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW), 2)
                AS trailing_30d
       FROM orders""",
)
def q_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-customer trailing-30-day order revenue —
    a VALUE-range frame (all orders within 30 days of the current row's
    date), not a row-count frame. The frame is expressed over epoch
    millis on both engines; ties on the sort key share a frame, so the
    result is deterministic regardless of physical row order."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_millis(F.col("o_orderdate")))
        .rangeBetween(-2592000000, Window.currentRow)
    )
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d"),
    )


@_register(
    "q_udtf_top_terms",
    """WITH toks AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
         FROM documents WHERE trim(text) <> ''
       ),
       tf AS (SELECT doc_id, term, CAST(count(*) AS INTEGER) AS n
              FROM toks GROUP BY 1, 2)
       SELECT doc_id, term, n
       FROM (SELECT doc_id, term, n,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY n DESC, term ASC) AS rk
             FROM tf)
       WHERE rk <= 3""",
)
def q_udtf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join (the table-function extension surface):
    top-3 terms per document. Oracle recomputes the same top-3 with
    window functions — semantic parity of the lateral fan-out, documented
    as the slow path (row-at-a-time Python) next to the vectorized
    equivalents."""
    from torcdb_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.where(F.trim(F.col("text")) != "").createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, s.term, s.n "
        "FROM _udtf_docs d, LATERAL top_terms(d.text, 3) s"
    )


# ---------------------------------------------------------------------------
# LDBC-SNB-interactive-style graph queries (the reference's target
# workload, README "Running LDBC SNB Validation"): seeded multi-hop
# expansion + aggregation + composite-key ordering + top-k.
# ---------------------------------------------------------------------------


@_register(
    "ldbc_ic_like_top_parts",
    """SELECT l_partkey AS part_key, CAST(count(*) AS BIGINT) AS n_lines
       FROM lineitem
       JOIN orders ON o_orderkey = l_orderkey
       WHERE o_custkey BETWEEN 1 AND 50
       GROUP BY l_partkey
       ORDER BY n_lines DESC, part_key ASC LIMIT 20""",
)
def ldbc_ic_like_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC5-shaped: from a seed set of 50 customers, expand
    customer→orders→lineitems→parts through the PROPERTY GRAPH (three
    traverse hops over the materialized edge store, frontier broadcast at
    each hop), then rank parts by incidence with a composite
    (count desc, key asc) order and top-20 cut — the LDBC interactive
    pattern of seeded expansion + ordered aggregation."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 51)]
    cust = g.vertices_by_id(seeds, label="customer")
    h1 = traverse(cust, g.edges, "placed", Direction.OUT)
    h2 = traverse(h1.select(F.col("dst").alias("id")).dropDuplicates(["id"]),
                  g.edges, "contains", Direction.OUT)
    h3 = traverse(h2.select(F.col("dst").alias("id")).dropDuplicates(["id"]),
                  g.edges, "ofPart", Direction.OUT)
    return (
        h3.groupBy(F.col("dst"))
        .agg(F.count("*").cast("long").alias("n_lines"))
        .select(id_lower(F.col("dst")).alias("part_key"), "n_lines")
        .orderBy(F.desc("n_lines"), F.asc("part_key"))
        .limit(20)
    )


@_register(
    "ldbc_ic_like_recent_orders",
    """SELECT o_custkey AS c_custkey, o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              round(o_totalprice, 2) AS totalprice
       FROM orders
       WHERE o_custkey BETWEEN 1 AND 20
         AND o_orderdate >= TIMESTAMP '2000-01-01'
       ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 30""",
)
def ldbc_ic_like_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC2-shaped: seed vertices' recent activity — date-range predicate on
    the traversal's EDGE property (orderdate rides on the placed edge),
    ordered newest-first with key tiebreak, top-30. The date filter is
    applied to the edge frame via remove_edge_if's θ-filter form."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 21)]
    cust = g.vertices_by_id(seeds, label="customer")
    tr = traverse(cust, g.edges, "placed", Direction.OUT, fill_edge=True)
    recent = remove_edge_if(
        tr, lambda dst, props: props["orderdate"] < "2000-01-01"
    )
    return (
        recent.select(
            id_lower(F.col("src")).alias("c_custkey"),
            id_lower(F.col("dst")).alias("o_orderkey"),
            F.date_format(
                F.col("props")["orderdate"].cast("timestamp"), "yyyy-MM-dd"
            ).alias("orderdate"),
            F.round(F.col("props")["totalprice"].cast("double"), 2).alias(
                "totalprice"
            ),
        )
        .orderBy(F.desc("orderdate"), F.asc("o_orderkey"))
        .limit(30)
    )


@_register(
    "ldbc_ic_like_foaf_copurchase",
    """WITH seed_parts AS (
         SELECT DISTINCT l_partkey
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         WHERE o_custkey BETWEEN 1 AND 10
       )
       SELECT o_custkey AS c_custkey,
              CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_shared_parts
       FROM lineitem
       JOIN orders ON o_orderkey = l_orderkey
       JOIN seed_parts USING (l_partkey)
       WHERE o_custkey NOT BETWEEN 1 AND 10
       GROUP BY o_custkey
       ORDER BY n_shared_parts DESC, c_custkey ASC
       LIMIT 20""",
)
def ldbc_ic_like_foaf_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC1/IC9-shaped friend-of-friend expansion, on the co-purchase
    relation: from 10 seed customers walk OUT three hops to their purchased
    parts, then BACK three IN hops (part→lineitem→order→customer) to find
    the other customers sharing those parts — the reference's batched
    traverse + fuse + subtract composition (TorcGraph.java:479-585,
    TorcHelper.java:407-592) over a 6-hop path. The backward frames are
    fused with dedup so the final count is exactly |distinct shared parts|
    per co-purchaser, and the seed set is removed with subtract (anti-join)
    just as LDBC IC1 excludes the start person. At 100 TB every hop is an
    equi-join on the 16-byte id with the frontier broadcast while small and
    dedup'd between hops, so the plan never carries path multiplicity."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 11)]
    cust = g.vertices_by_id(seeds, label="customer")
    h1 = traverse(cust, g.edges, "placed", Direction.OUT)
    h2 = traverse(v_set(h1), g.edges, "contains", Direction.OUT)
    h3 = traverse(v_set(h2), g.edges, "ofPart", Direction.OUT)
    parts = v_set(h3)
    b1 = traverse(parts, g.edges, "ofPart", Direction.IN,
                  broadcast_frontier=False)
    b2 = traverse(v_set(b1), g.edges, "contains", Direction.IN,
                  broadcast_frontier=False)
    b3 = traverse(v_set(b2), g.edges, "placed", Direction.IN,
                  broadcast_frontier=False)
    part_cust = algebra.fuse(algebra.fuse(b1, b2, dedup=True), b3, dedup=True)
    others = algebra.subtract(part_cust, cust.select("id"))
    return (
        others.groupBy("dst")
        .agg(F.count("*").cast("long").alias("n_shared_parts"))
        .select(id_lower(F.col("dst")).alias("c_custkey"), "n_shared_parts")
        .orderBy(F.desc("n_shared_parts"), F.asc("c_custkey"))
        .limit(20)
    )


@_register(
    "ldbc_ic_like_region_suppliers",
    """SELECT s_suppkey, s_name, n_name,
              CAST(COUNT(*) AS BIGINT) AS n_lines
       FROM lineitem
       JOIN orders ON o_orderkey = l_orderkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN nation ON n_nationkey = s_nationkey
       JOIN region ON r_regionkey = n_regionkey
       WHERE o_custkey BETWEEN 1 AND 30 AND r_name = 'ASIA'
       GROUP BY s_suppkey, s_name, n_name
       ORDER BY n_lines DESC, s_suppkey ASC
       LIMIT 25""",
)
def ldbc_ic_like_region_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC3/IC11-shaped 'located-in' filter: suppliers serving 30 seed
    customers, restricted to a region by walking the supplier→nation→region
    location chain and intersecting (left-semi) back — the reference's
    intersect/keylist composition (TorcHelper.java:458-539, 640-646)
    instead of a relational 5-way join. Hops from the supplier side run on
    frontiers of ≤ |suppliers| ids (broadcast); the region predicate is a
    partition-pruned vertex scan on the label-partitioned store."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 31)]
    cust = g.vertices_by_id(seeds, label="customer")
    h1 = traverse(cust, g.edges, "placed", Direction.OUT)
    h2 = traverse(v_set(h1), g.edges, "contains", Direction.OUT)
    h3 = traverse(v_set(h2), g.edges, "suppliedBy", Direction.OUT)
    sn = traverse(v_set(h3), g.edges, "suppFromNation", Direction.OUT)
    nr = traverse(v_set(sn), g.edges, "inRegion", Direction.OUT)
    asia = g.vertices.where(
        (F.col("label") == "region") & (F.col("props")["r_name"] == "ASIA")
    ).select("id")
    asia_nations = algebra.keylist(algebra.intersect(nr, asia))
    sn_asia = algebra.intersect(sn, asia_nations)
    h3_asia = algebra.intersect(h3, algebra.keylist(sn_asia))
    counts = h3_asia.groupBy(F.col("dst").alias("s_id")).agg(
        F.count("*").cast("long").alias("n_lines")
    )
    sv = g.vertices.where(F.col("label") == "supplier").select(
        F.col("id").alias("s_id"), F.col("props")["s_name"].alias("s_name")
    )
    nv = g.vertices.where(F.col("label") == "nation").select(
        F.col("id").alias("n_id"), F.col("props")["n_name"].alias("n_name")
    )
    s_nation = sn_asia.select(
        F.col("src").alias("s_id"), F.col("dst").alias("n_id")
    )
    return (
        counts.join(s_nation, "s_id")
        .join(F.broadcast(sv), "s_id")
        .join(F.broadcast(nv), "n_id")
        .select(
            id_lower(F.col("s_id")).alias("s_suppkey"),
            "s_name", "n_name", "n_lines",
        )
        .orderBy(F.desc("n_lines"), F.asc("s_suppkey"))
        .limit(25)
    )


@_register(
    "ldbc_ic_like_brand_cooccur",
    """WITH ob AS (
         SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
         FROM lineitem
         JOIN part ON p_partkey = l_partkey
         JOIN orders ON o_orderkey = l_orderkey
         WHERE o_custkey BETWEEN 1 AND 40
       )
       SELECT a.brand AS brand_a, b.brand AS brand_b,
              CAST(COUNT(*) AS BIGINT) AS n_orders
       FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
       GROUP BY a.brand, b.brand
       ORDER BY n_orders DESC, brand_a ASC, brand_b ASC
       LIMIT 15""",
)
def ldbc_ic_like_brand_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC6-shaped tag co-occurrence: for 40 seed customers' orders, count
    order-level co-occurrence of part brands (the 'tags' of this schema) —
    traverse to (order, part), hydrate the brand property via v_map-style
    broadcast join, distinct-ify, then a bounded self-join keyed on the
    order id (each order holds ≤ a handful of brands, so the per-key
    fan-out is tiny and the join is shuffle-partitioned on okey — no
    crossJoin). LDBC IC6 is exactly this shape over Post→Tag."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 41)]
    cust = g.vertices_by_id(seeds, label="customer")
    h1 = traverse(cust, g.edges, "placed", Direction.OUT)
    h2 = traverse(v_set(h1), g.edges, "contains", Direction.OUT)
    h3 = traverse(v_set(h2), g.edges, "ofPart", Direction.OUT)
    order_part = algebra.fuse(h2, h3, dedup=True)
    pv = g.vertices.where(F.col("label") == "part").select(
        F.col("id").alias("dst"), F.col("props")["p_brand"].alias("brand")
    )
    ob = (
        order_part.join(F.broadcast(pv), "dst")
        .select(F.col("src").alias("okey"), "brand")
        .dropDuplicates(["okey", "brand"])
    )
    a = ob.select("okey", F.col("brand").alias("brand_a"))
    b = ob.select("okey", F.col("brand").alias("brand_b"))
    return (
        a.join(b, "okey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(15)
    )


@_register(
    "st_events_sessions_stream",
    """WITH marked AS (
         SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                     THEN 1 ELSE 0 END AS is_new
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       ),
       sess AS (
         SELECT user_id, ts, value,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
         FROM marked
       )
       SELECT user_id,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              strftime(max(ts) + INTERVAL 30 MINUTE,
                       '%Y-%m-%d %H:%M:%S') AS session_end,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM sess GROUP BY user_id, sid""",
)
def st_events_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows computed BY THE STREAMING ENGINE
    (session_window + watermark state store, availableNow drain): each
    per-user session's [start, last_event + gap) boundaries, count, and
    value sum must hash-match the batch lag/cumsum sessionization the
    oracle runs — the strongest equivalence statement for the dynamic-gap
    session operator."""
    import os
    import tempfile

    from torcdb_spark.streaming import events_stream, sessionized_stream
    from torcdb_spark.streaming.jobs import run_to_memory

    slug = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"torcdb_stream_src_{slug}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    stream = events_stream(spark, d)
    run_to_memory(sessionized_stream(stream), "st_sess", output_mode="complete")
    return spark.table("st_sess")


# ---------------------------------------------------------------------------
# Corpus-prep operators: chunking, PII scrubbing, deterministic sampling
# ---------------------------------------------------------------------------


@_register(
    "d10_chunking",
    """WITH s AS (
         SELECT doc_id, text,
                unnest(range(1, greatest(length(text) - 64, 1) + 1, 448))
                  AS start
         FROM documents WHERE length(text) > 0
       )
       SELECT doc_id,
              CAST((start - 1) / 448 AS INTEGER) AS chunk_idx,
              substr(text, CAST(start AS INTEGER), 512) AS chunk
       FROM s""",
)
def d10_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width overlapping chunking (512 chars, 64 overlap) — pure JVM
    sequence+posexplode+substring, the pre-embedding segmentation stage.
    The oracle regenerates identical chunk starts with range()."""
    from torcdb_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_chars=512, overlap=64)


@_register(
    "d11_redact_pii",
    """SELECT doc_id,
              regexp_replace(
                regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                '\\d{7,}', '<NUMBER>', 'g') AS clean_text,
              CAST(len(regexp_split_to_array(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) - 1
                 + len(regexp_split_to_array(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                     '\\d{7,}')) - 1 AS BIGINT) AS n_redactions
       FROM documents""",
)
def d11_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII scrub (emails + long digit runs → typed
    placeholders) with per-document redaction counts — both engines run
    the identical regex pipeline."""
    from torcdb_spark.operators.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    return redact_pii(docs)


@_register("d12_hash_sample")  # rows-only: xxhash64 has no DuckDB analogue
def d12_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: 10% per language via
    xxhash64(lang, doc_id) mod 100 — reproducible across runs and
    partitionings (unlike sample()); determinism and per-stratum rate
    bounds are pytest-asserted."""
    from torcdb_spark.operators.text import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    out = hash_sample(docs, rate_pct=10, strata_col="lang")
    return out.select("doc_id", "lang")


@_register(
    "q7_volume_shipping",
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
              CAST(year(o_orderdate) AS BIGINT) AS o_year,
              round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
                    2) AS volume
       FROM lineitem
       JOIN orders   ON o_orderkey = l_orderkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN customer ON c_custkey = o_custkey
       JOIN nation sn ON sn.n_nationkey = s_nationkey
       JOIN nation cn ON cn.n_nationkey = c_nationkey
       WHERE sn.n_nationkey < 3 AND cn.n_nationkey < 3
         AND sn.n_nationkey <> cn.n_nationkey
       GROUP BY sn.n_name, cn.n_name, year(o_orderdate)""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border trade volume between nation pairs per
    year. Two broadcast dimension joins against the same nation table
    under different aliases; the nationkey predicates push into the
    supplier/customer scans before the fact joins. Revenue through
    DECIMAL(18,4) for cent-exact parity."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = n.where(F.col("n_nationkey") < 3).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.where(F.col("n_nationkey") < 3).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(F.col("sn_key") != F.col("cn_key"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("volume"))
    )


@_register(
    "g_triangle_count",
    """WITH und AS (
         SELECT a, b FROM (
           SELECT o_custkey AS a, 1000000 + o_orderkey AS b FROM orders
           UNION ALL
           SELECT 1000000 + o_orderkey AS a, o_custkey AS b FROM orders
           UNION ALL
           SELECT o_custkey AS a, 2000000 + o_orderpriority_rank AS b
           FROM (SELECT o_custkey,
                        CAST(dense_rank() OVER (ORDER BY o_orderpriority)
                             AS BIGINT) AS o_orderpriority_rank
                 FROM orders)
           UNION ALL
           SELECT 2000000 + o_orderpriority_rank AS a, o_custkey AS b
           FROM (SELECT o_custkey,
                        CAST(dense_rank() OVER (ORDER BY o_orderpriority)
                             AS BIGINT) AS o_orderpriority_rank
                 FROM orders)
           UNION ALL
           SELECT 1000000 + o_orderkey AS a,
                  2000000 + o_orderpriority_rank AS b
           FROM (SELECT o_orderkey,
                        CAST(dense_rank() OVER (ORDER BY o_orderpriority)
                             AS BIGINT) AS o_orderpriority_rank
                 FROM orders)
           UNION ALL
           SELECT 2000000 + o_orderpriority_rank AS a,
                  1000000 + o_orderkey AS b
           FROM (SELECT o_orderkey,
                        CAST(dense_rank() OVER (ORDER BY o_orderpriority)
                             AS BIGINT) AS o_orderpriority_rank
                 FROM orders)
         ) GROUP BY a, b
       ),
       canon AS (SELECT a, b FROM und WHERE a < b),
       tri AS (
         SELECT ab.a AS x, ab.b AS y, bc.b AS z
         FROM canon ab
         JOIN canon bc ON bc.a = ab.b
         JOIN canon ac ON ac.a = ab.a AND ac.b = bc.b
       )
       SELECT id, CAST(count(*) AS BIGINT) AS triangles
       FROM (SELECT x AS id FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
       GROUP BY id""",
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (analytics.triangle_count: canonical
    orientation + two joins) on a deliberately triangle-rich synthetic
    tripartite graph — customer / order / priority-class vertices with
    edges customer↔order, customer↔priority, order↔priority, so every
    order closes a triangle. The oracle recomputes the same wedges-then-
    close join in SQL. Vertex ids are namespaced longs (the oracle's
    1e6/2e6 offsets mirror the engine's label-tagged id packing)."""
    from torcdb_spark.analytics import triangle_count
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    # dense_rank over the 5 DISTINCT priorities (broadcast back), not over
    # the full table — an unpartitioned window on 150k+ rows collapses to
    # one task and is a scale-killer at 100 TB; the distinct side is O(5).
    prio_map = (
        o.select("o_orderpriority")
        .distinct()
        .withColumn(
            "prio",
            F.dense_rank().over(W.orderBy("o_orderpriority")).cast("long")
            + 2000000,
        )
    )
    ranked = o.join(F.broadcast(prio_map), "o_orderpriority").withColumn(
        "okey", F.col("o_orderkey") + 1000000
    )
    # ONE orders scan: the three edge kinds explode out of each row.
    # The previous 3-way unionByName pasted the scan+window subtree into
    # the plan three times (no cross-branch CSE in Catalyst), which the
    # operator's symmetrization then doubled to SIX scans of orders.
    edges = ranked.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("o_custkey").alias("src"), F.col("okey").alias("dst")
                ),
                F.struct(
                    F.col("o_custkey").alias("src"), F.col("prio").alias("dst")
                ),
                F.struct(
                    F.col("okey").alias("src"), F.col("prio").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    return triangle_count(edges).select("id", "triangles")


@_register(
    "q8_market_share",
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
              round(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                                  THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                       * (1 - CAST(l_discount AS DECIMAL(18,4)))
                                  ELSE 0 END)
                         / sum(CAST(l_extendedprice AS DECIMAL(18,4))
                               * (1 - CAST(l_discount AS DECIMAL(18,4))))
                         AS DOUBLE), 4) AS mkt_share
       FROM lineitem
       JOIN orders   ON o_orderkey = l_orderkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN nation sn ON sn.n_nationkey = s_nationkey
       JOIN part     ON p_partkey = l_partkey
       WHERE p_type = 'STANDARD'
       GROUP BY year(o_orderdate)""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of revenue in a part-type
    market per year — ratio of a conditional sum to the total in ONE
    aggregation pass (no self-join, no second scan). The p_type
    filter pushes into the part scan; part and the supplier→nation chain
    broadcast. Decimal sums keep the ratio exact before the final
    4dp round."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == "STANDARD"
    ).select("p_partkey")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    nat_rev = F.when(F.col("n_name") == "NATION_3", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                (F.sum(nat_rev) / F.sum(rev)).cast("double"), 4
            ).alias("mkt_share")
        )
    )


@_register(
    "g_shortest_paths",
    """SELECT l_partkey AS part_key,
              CAST(min(2 + l_linenumber) AS DOUBLE) AS dist
       FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       WHERE o_custkey BETWEEN 1 AND 10
       GROUP BY l_partkey""",
)
def g_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP (analytics.shortest_paths, Pregel min-plus) from a
    10-customer seed set over the layered customer→order→lineitem→part
    graph with weights (placed=1, contains=linenumber, ofPart=1). On this
    DAG the fixpoint is min(2 + linenumber) per reachable part, which the
    oracle computes directly — proving the general relaxation loop finds
    exact minimal path weights, not just connectivity."""
    from torcdb_spark.analytics import shortest_paths
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    w = (
        F.when(F.col("label") == "contains",
               F.col("props")["linenumber"].cast("double"))
        .otherwise(F.lit(1.0))
    )
    e = g.edges.where(
        F.col("label").isin(["placed", "contains", "ofPart"])
    ).select("src", "dst", w.alias("weight"))
    seeds = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], k),) for k in range(1, 11)],
        "id binary",
    )
    dist = shortest_paths(e, seeds, max_iter=6)
    parts = g.vertices.where(F.col("label") == "part").select("id")
    return dist.join(parts, "id", "left_semi").select(
        id_lower(F.col("id")).alias("part_key"), "dist"
    )


# ---------------------------------------------------------------------------
# TPC-H shape completion (q11-q21): the fixture lacks partsupp, l_shipmode,
# and l_commitdate/l_receiptdate, so the shapes substitute the nearest
# available columns (noted per query) while keeping each query's defining
# plan structure — the point of parity is the OPERATOR shape, not the spec
# constants.
# ---------------------------------------------------------------------------


@_register(
    "q11_important_parts",
    """WITH vpp AS (
         SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS val
         FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
         WHERE s_nationkey = 7
         GROUP BY l_partkey)
       SELECT l_partkey AS p_partkey,
              round(CAST(val AS DOUBLE), 2) AS part_value
       FROM vpp
       WHERE CAST(val AS DOUBLE) >
             (SELECT CAST(sum(val) AS DOUBLE) * 0.001 FROM vpp)""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value restricted to one
    nation's suppliers, kept if above a fraction of the nation total.
    partsupp is absent from the fixture, so value = lineitem revenue per
    part (same plan: filtered agg reused against its own global total via
    a 1-row broadcast — NOT two scans)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 7)
    vpp = (
        l.join(F.broadcast(s.select("s_suppkey")),
               l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("val"))
        .persist()  # feeds both the filter and its own total
    )
    total = vpp.agg((F.sum("val").cast("double") * 0.001).alias("_thr"))
    return (
        vpp.crossJoin(F.broadcast(total))
        .where(F.col("val").cast("double") > F.col("_thr"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("val").cast("double"), 2).alias("part_value"),
        )
    )


@_register(
    "q12_priority_by_linestatus",
    """SELECT l_linestatus,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       WHERE l_shipdate >= DATE '1996-01-01'
         AND l_shipdate < DATE '1997-01-01'
       GROUP BY l_linestatus""",
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode priority split; l_linestatus substitutes
    for the absent l_shipmode): date-filtered join + conditional counts —
    the filter is pushed to the lineitem scan, the CASE sums are one
    map-side partial aggregation."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long")
            .alias("low_line_count"),
        )
    )


@_register(
    "q13_order_count_distribution",
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
             FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             GROUP BY c_custkey)
       GROUP BY c_count""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count histogram — left join preserving
    zero-order customers, then a second aggregation over the counts (two
    shuffles, the second over a tiny key domain)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
    )


@_register(
    "q14_promo_revenue",
    """SELECT round(CAST(100.00 * sum(CASE WHEN p_type = 'PROMO'
                                           THEN rev ELSE 0 END) AS DOUBLE)
                    / CAST(sum(rev) AS DOUBLE), 4) AS promo_revenue
       FROM (SELECT l_partkey,
                    CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev
             FROM lineitem
             WHERE l_shipdate >= DATE '1996-03-01'
               AND l_shipdate < DATE '1996-04-01')
       JOIN part ON p_partkey = l_partkey""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share in one month — conditional fraction
    over a broadcast part join; DECIMAL partials so numerator and
    denominator are association-order-exact before the one double division."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
    )
    promo = F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.select("l_partkey", rev.alias("rev"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum("rev").cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


@_register(
    "q15_top_supplier",
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                sum(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
         FROM lineitem
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name,
              round(CAST(total_rev AS DOUBLE), 2) AS total_revenue
       FROM supplier JOIN revenue ON s_suppkey = supplier_no
       WHERE total_rev = (SELECT max(total_rev) FROM revenue)""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the quarter's top revenue supplier(s) — the revenue view
    is computed once (persisted) and compared against its own max via a
    1-row broadcast, the same reuse discipline as q11."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
            ).alias("total_rev")
        )
        .persist()
    )
    mx = revenue.agg(F.max("total_rev").alias("_mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("total_rev").cast("double"), 2)
            .alias("total_revenue"),
        )
    )


@_register(
    "q16_supplier_part_counts",
    """SELECT p_brand, p_type, p_size,
              CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
       FROM part JOIN lineitem ON l_partkey = p_partkey
       WHERE p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
         AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
         AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size""",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier diversity per part class; lineitem
    substitutes for the absent partsupp, negative-balance suppliers for
    the complaints filter): anti-join the excluded suppliers (broadcast),
    then count distinct suppliers per (brand, type, size)."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@_register(
    "q17_small_quantity_avg_yearly",
    """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                    AS DOUBLE) / 7.0, 2) AS avg_yearly
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand = 'Brand#12'
         AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                           WHERE l2.l_partkey = p_partkey)""",
)
def q17_small_quantity_avg_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue of below-average-quantity orders. The correlated
    avg subquery decorrelates to one per-part aggregate joined back to the
    probe — lineitem is scanned for the brand's parts only (broadcast
    semi-filter), never twice over the full table."""
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#12"
    ).select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_q = (
        l.groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("_thr"))
        .withColumnRenamed("l_partkey", "_pk")
    )
    return (
        l.join(F.broadcast(avg_q), F.col("l_partkey") == F.col("_pk"))
        .where(F.col("l_quantity") < F.col("_thr"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                .cast("double") / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


@_register(
    "q19_or_predicate_revenue",
    """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (1 - CAST(l_discount AS DECIMAL(18,4))))
                    AS DOUBLE), 2) AS revenue
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
              AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
              AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 20 AND 30)""",
)
def q19_or_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive multi-attribute predicates across the join —
    the per-side conjuncts (p_size ranges, l_quantity ranges) are derivable
    pushdowns; Catalyst pushes the union of each side's bounds below the
    join while the full OR evaluates post-join."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    l = load_table(spark, sf_dir, "lineitem")
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.where(cond).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
            ).cast("double"),
            2,
        ).alias("revenue")
    )


@_register(
    "q20_bulk_shippers",
    """SELECT s_suppkey, s_name
       FROM supplier
       WHERE s_nationkey = 3
         AND s_suppkey IN (
           SELECT l_suppkey
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE p_type = 'SMALL'
             AND l_shipdate >= DATE '1996-01-01'
             AND l_shipdate < DATE '1997-01-01'
           GROUP BY l_suppkey
           HAVING sum(l_quantity) > 100)""",
)
def q20_bulk_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty threshold → shipped-quantity threshold,
    partsupp being absent): a HAVING-filtered aggregate drives a semi-join
    against the nation's suppliers — the aggregate output (supplier keys)
    is the broadcast side."""
    s = load_table(spark, sf_dir, "supplier").where(
        F.col("s_nationkey") == 3
    ).select("s_suppkey", "s_name")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == "SMALL"
    ).select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    bulk = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .where(F.col("_qty") > 100)
        .select("l_suppkey")
    )
    return s.join(
        F.broadcast(bulk), s.s_suppkey == F.col("l_suppkey"), "left_semi"
    )


@_register(
    "q21_last_shipper_wait",
    """WITH per AS (
         SELECT l_orderkey, l_suppkey, max(l_shipdate) AS s_max
         FROM lineitem GROUP BY l_orderkey, l_suppkey),
       flagged AS (
         SELECT l_orderkey, l_suppkey, s_max,
                max(s_max) OVER (PARTITION BY l_orderkey) AS o_max,
                count(*) OVER (PARTITION BY l_orderkey) AS n_supp
         FROM per),
       counted AS (
         SELECT *, sum(CASE WHEN s_max = o_max THEN 1 ELSE 0 END)
                     OVER (PARTITION BY l_orderkey) AS n_at_max
         FROM flagged)
       SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
       FROM counted
       JOIN orders ON o_orderkey = l_orderkey
       JOIN supplier ON s_suppkey = l_suppkey
       WHERE s_max = o_max AND n_supp > 1 AND n_at_max = 1
         AND o_orderstatus = 'F' AND s_nationkey = 1
       GROUP BY s_name""",
)
def q21_last_shipper_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (the sole blocking shipper; l_shipdate substitutes
    for the absent commit/receipt dates): per-(order, supplier) max ship
    date, then order-partitioned windows replace the EXISTS / NOT EXISTS
    pair — one shuffle on l_orderkey serves both window passes and the
    orders join."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier").where(
        F.col("s_nationkey") == 1
    ).select("s_suppkey", "s_name")
    per = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("s_max")
    )
    w = Window.partitionBy("l_orderkey")
    counted = (
        per.withColumn("o_max", F.max("s_max").over(w))
        .withColumn("n_supp", F.count("*").over(w))
        .withColumn(
            "n_at_max",
            F.sum(F.when(F.col("s_max") == F.col("o_max"), 1).otherwise(0))
            .over(w),
        )
    )
    return (
        counted.where(
            (F.col("s_max") == F.col("o_max"))
            & (F.col("n_supp") > 1)
            & (F.col("n_at_max") == 1)
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Streaming surface completion: watermark-bounded dedup and stream-stream
# interval join, each hash-matched against the batch-semantics oracle.
# ---------------------------------------------------------------------------


def _stream_src(sf_dir: str) -> str:
    """Stable single-file stream source dir for the fixture events table
    (one file → one availableNow micro-batch, so streaming results are
    batch-deterministic — the same contract st_events_tumbling_stream
    relies on)."""
    import os
    import tempfile

    slug = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"torcdb_stream_src_{slug}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    return d


@_register(
    "st_events_dedup_stream",
    """SELECT DISTINCT user_id, event_type FROM events""",
)
def st_events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark)
    on (user_id, event_type), drained with availableNow: state is bounded
    by the watermark horizon instead of growing forever. The fixture
    arrives as one micro-batch, so every duplicate falls inside the
    horizon and the stream's output hash-matches batch DISTINCT — the
    deterministic contract being verified."""
    from torcdb_spark.streaming import events_stream
    from torcdb_spark.streaming.jobs import run_to_memory, streaming_dedup

    stream = events_stream(spark, _stream_src(sf_dir))
    deduped = streaming_dedup(
        stream, keys=["user_id", "event_type"]
    ).select("user_id", "event_type")
    run_to_memory(deduped, "st_dd", output_mode="append")
    return spark.table("st_dd")


@_register(
    "st_interval_join_stream",
    """SELECT p.event_id AS purchase_id, p.user_id,
              strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
              c.event_id AS click_id,
              strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
              round(c.value, 2) AS click_value
       FROM events p JOIN events c
         ON c.user_id = p.user_id
        AND p.event_type = 'purchase' AND c.event_type = 'click'
        AND c.ts <= p.ts
        AND c.ts >= p.ts - INTERVAL '30 minutes'""",
)
def st_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream interval join (purchase ⋈ preceding clicks) run
    by the streaming engine with watermarks on both sides — the join state
    store evicts rows older than watermark + lookback. Inner-join matches
    emit immediately, so the availableNow drain hash-matches the batch
    interval-join oracle."""
    from torcdb_spark.streaming import events_stream
    from torcdb_spark.streaming.jobs import (
        purchase_click_interval_join,
        run_to_memory,
    )

    stream = events_stream(spark, _stream_src(sf_dir))
    joined = purchase_click_interval_join(stream)
    run_to_memory(joined, "st_ij", output_mode="append")
    return spark.table("st_ij")


@_register(
    "d13_dedup_clusters",
    """WITH RECURSIVE
       n AS (SELECT doc_id,
                    lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
             FROM documents WHERE doc_id <= 30),
       sh AS (SELECT doc_id,
                     list_distinct([substring(t, i, 5)
                       for i in generate_series(1, greatest(len(t)-4, 1))]) AS s
              FROM n),
       pairs AS (
         SELECT a.doc_id AS pa, b.doc_id AS pb
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.2),
       edges AS (
         SELECT pa AS a, pb AS b FROM pairs
         UNION SELECT pb, pa FROM pairs
         UNION SELECT doc_id, doc_id FROM n),
       reach(s, t) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a)
       SELECT s AS doc_id, CAST(min(t) AS BIGINT) AS cluster_id
       FROM reach GROUP BY s""",
)
def d13_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING — the end deliverable of dedup: exact 5-gram
    Jaccard pairs (bounded candidate set, threshold 0.2) become an edge
    list, connected_components assigns each doc its min-doc-id cluster
    representative (the label flood: dup graphs here are shallow near-
    cliques, its best case; singletons restored by a left join). At
    100 TB the candidate stage is the LSH bucket join
    (x_minhash_near_dups) and the CC stage is the same operator e8 uses —
    this query verifies the composition exactly against a recursive-CTE
    transitive closure."""
    from torcdb_spark.analytics import connected_components
    from torcdb_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 30)
    ids = docs.select("doc_id")
    # production candidate stage: LSH banded equi-join (64 bands × 1 row
    # ⇒ recall ≥ 1−(1−J)^64; see d3), NOT a crossJoin — the oracle's
    # brute-force transitive closure certifies nothing was lost
    sigs = minhash_signatures(docs, num_perm=64)
    cand = minhash_lsh_candidates(sigs, bands=64, rows=1)
    edges = (
        ngram_jaccard_pairs(docs, cand)
        .where(F.col("jaccard") >= 0.2)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    cc = connected_components(edges)
    return ids.join(cc, ids["doc_id"] == cc["id"], "left").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("component"), F.col("doc_id"))
        .cast("long")
        .alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# §2.5 temporal extensions: batch range join + hypertable rollup/gap-fill
# ---------------------------------------------------------------------------


@_register(
    "rj1_attribution_window",
    """SELECT a.user_id,
              CAST(count(*) AS BIGINT) AS n_attributed,
              CAST(count(DISTINCT a.event_id) AS BIGINT) AS n_windows
       FROM events a JOIN events b
         ON a.user_id = b.user_id
        AND a.event_type = 'purchase' AND b.event_type = 'click'
        AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 2 HOUR
       GROUP BY a.user_id""",
)
def rj1_attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed range join (attribution): clicks landing inside a [purchase,
    purchase+2h) window of the same user. Uses the bin-bucketed range_join
    operator — an EQUI-join on (user_id, 2h-bin) instead of the
    BroadcastNestedLoopJoin Spark would plan for the raw BETWEEN predicate
    (operators/range_join.py documents the 100 TB rationale)."""
    from torcdb_spark.operators.range_join import range_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    windows = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
        F.col("event_id").alias("purchase_id"),
    )
    joined = range_join(
        clicks,
        windows,
        point_col="click_ts",
        start_col="w_start",
        end_col="w_end",
        bin_width=7200,
        on=["user_id"],
        include_end=False,
    )
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_attributed"),
        F.countDistinct("purchase_id").alias("n_windows"),
    )


@_register(
    "rj2_value_bands",
    """SELECT n_nationkey AS band_id,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(e.value), 2) AS sum_value
       FROM nation n JOIN events e
         ON e.value >= CAST(n_nationkey AS DOUBLE) * CAST(20.0 AS DOUBLE)
        AND e.value <= CAST(n_nationkey AS DOUBLE) * CAST(20.0 AS DOUBLE)
                       + CAST(19.99 AS DOUBLE)
       GROUP BY 1""",
)
def rj2_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS range join: every event binned into a value band derived
    from the nation table — no equality column at all, the case where the
    naive BETWEEN join is a guaranteed nested-loop/cartesian plan. The
    binned formulation stays a shuffled equi-join on the band bin, which
    is the only shape that survives when neither side broadcasts."""
    from torcdb_spark.operators.range_join import range_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    bands = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 20.0).alias("lo"),
        (F.col("n_nationkey") * 20.0 + 19.99).alias("hi"),
    )
    joined = range_join(
        ev, bands, point_col="value", start_col="lo", end_col="hi", bin_width=20.0
    )
    return joined.groupBy("band_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@_register(
    "ts1_rollup_hourly",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
              event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1, 2""",
)
def ts1_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly time_bucket ×
    event_type, one partial-aggregated shuffle (operators/timeseries.py).
    The TimescaleDB time_bucket surface over a Catalyst groupBy."""
    from torcdb_spark.operators.timeseries import rollup

    ev = load_table(spark, sf_dir, "events")
    return rollup(
        ev,
        "ts",
        3600,
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    ).select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n_events",
        "sum_value",
    )


@_register(
    "ts2_gap_fill_locf",
    """WITH rolled AS (
         SELECT event_type, date_trunc('day', ts) AS bucket,
                round(avg(value), 2) AS avg_value
         FROM events WHERE event_type = 'purchase' AND value > 200
         GROUP BY 1, 2),
       bounds AS (SELECT event_type, min(bucket) lo, max(bucket) hi
                  FROM rolled GROUP BY 1),
       spine AS (SELECT event_type,
                        unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
                 FROM bounds)
       SELECT s.event_type, strftime(s.bucket, '%Y-%m-%d') AS day,
              last_value(r.avg_value IGNORE NULLS) OVER (
                PARTITION BY s.event_type ORDER BY s.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value
       FROM spine s LEFT JOIN rolled r
         ON s.event_type = r.event_type AND s.bucket = r.bucket""",
)
def ts2_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily series with last-observation-carried-forward
    (TimescaleDB time_bucket_gapfill + locf): the bucket spine is generated
    DISTRIBUTIVELY from each key's own min/max bounds (sequence+explode, no
    driver-side calendar), LOCF is a running last(ignorenulls) window —
    per-key sort, no self-join (operators/timeseries.py gap_fill)."""
    from torcdb_spark.operators.timeseries import gap_fill, rollup

    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & (F.col("value") > 200)
    )
    rolled = rollup(
        ev, "ts", 86400, ["event_type"], [F.round(F.avg("value"), 2).alias("avg_value")]
    )
    dense = gap_fill(
        rolled, "bucket", 86400, ["event_type"], ["avg_value"], method="locf"
    )
    return dense.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "avg_value",
    )


# ---------------------------------------------------------------------------
# SQL entry point + stream-static enrichment
# ---------------------------------------------------------------------------


_SQL1 = """SELECT c_mktsegment,
              round(sum(o_totalprice), 2) AS revenue,
              CAST(count(*) AS BIGINT) AS n_orders
       FROM customer JOIN orders ON o_custkey = c_custkey
       GROUP BY c_mktsegment"""


@_register("sql1_adhoc_views", _SQL1)
def sql1_adhoc_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL entry point (torcdb_spark/sql.py): register the fixture
    tables + graph projections as temp views and run a SQL string through
    ``spark.sql``. The SPARK QUERY AND THE ORACLE ARE THE SAME STRING —
    demonstrating that the engine's SQL surface is ANSI-portable and that
    Catalyst applies the same pushdown/broadcast plan as the DataFrame
    API (the reference has no SQL surface at all; this is the switch path
    for relational users)."""
    from torcdb_spark.sql import sql

    return sql(spark, _SQL1, sf_dir)


@_register(
    "st_stream_static_join",
    """SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY c_mktsegment""",
)
def st_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-static join run by the streaming engine: the event
    stream enriched per micro-batch against the static customer dimension
    (auto-broadcast, NO state store — streaming/jobs.py enrich_with_dim),
    then aggregated by market segment. Hash-matches the equivalent batch
    join oracle."""
    from torcdb_spark.streaming import events_stream
    from torcdb_spark.streaming.jobs import enrich_with_dim, run_to_memory

    stream = events_stream(spark, _stream_src(sf_dir))
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = enrich_with_dim(stream, dim, "user_id", "c_custkey")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    run_to_memory(agg, "st_ssj", output_mode="complete")
    return spark.table("st_ssj")


@_register(
    "g_gremlin_choose",
    """WITH seeds AS (SELECT c_custkey FROM customer
                      WHERE c_custkey BETWEEN 1 AND 200),
       f AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderstatus = 'F' AND o_custkey BETWEEN 1 AND 200)
       SELECT label, n FROM (
         SELECT 'order' AS label, CAST(count(*) AS BIGINT) AS n FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM seeds
                             WHERE c_custkey IN (SELECT o_custkey FROM f))
         UNION ALL
         SELECT 'customer' AS label, CAST(count(*) AS BIGINT) AS n FROM seeds
         WHERE c_custkey NOT IN (SELECT o_custkey FROM f)
       ) WHERE n > 0""",
)
def g_gremlin_choose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """choose(out('placed').has('o_orderstatus','F'), out('placed'),
    identity) over customers 1-200: traversers with a finished order expand
    to ALL their orders, the rest stay put — the TinkerPop if/else branch
    step as one semi/anti join split with each branch run set-at-a-time
    (gremlin.py choose_), aggregated to per-label counts."""
    from torcdb_spark.gremlin import G
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    ids = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 201)]
    t = G(g).V(*ids).choose_(
        lambda s: s.out("placed").has("o_orderstatus", "F"),
        lambda s: s.out("placed"),
        lambda s: s,
    )
    cur = t.to_df().select(F.col("current").alias("id"))
    return (
        cur.join(g.vertices.select("id", "label"), "id")
        .groupBy("label")
        .agg(F.count("*").alias("n"))
    )


@_register(
    "g_gremlin_tail",
    """SELECT c_custkey, round(CAST(c_acctbal AS DOUBLE), 2) AS acctbal
       FROM customer
       ORDER BY CAST(c_acctbal AS DOUBLE) DESC, c_custkey DESC LIMIT 10""",
)
def g_gremlin_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order().by('c_acctbal', asc).tail(10) — the last 10 of the
    ascending order, executed as a distributed top-n on the REVERSED key
    (gremlin.py tail_), never a single-partition pass. Mirror of
    g_gremlin_order_by_prop's limit()."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g).V().has_label("customer")
        .order_by_values("c_acctbal", ascending=True, cast="double")
        .tail_(10)
    )
    hydrated = fill_properties(
        t._df.select(F.col("_cur").alias("id")), g.vertices,
        keys=["c_acctbal"], labels=["customer"],
    )
    return hydrated.select(
        id_lower(F.col("id")).alias("c_custkey"),
        F.round(F.col("props")["c_acctbal"].cast("double"), 2).alias("acctbal"),
    )


@_register(
    "st_stateful_totals",
    """SELECT user_id,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM events GROUP BY user_id""",
)
def st_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL custom stateful streaming operator (applyInPandasWithState):
    per-user running totals carried in an explicit per-key state store
    across micro-batches (streaming/jobs.py stateful_user_totals). The
    bounded drain's final update per user hash-matches the batch groupBy
    oracle — verifying the state fold, not just the plumbing."""
    from torcdb_spark.streaming import events_stream
    from torcdb_spark.streaming.jobs import run_to_memory, stateful_user_totals

    stream = events_stream(spark, _stream_src(sf_dir))
    totals = stateful_user_totals(stream)
    run_to_memory(totals, "st_totals", output_mode="update")
    return spark.table("st_totals")


@_register(
    "g_kcore",
    """WITH cp AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders),
       kept AS (SELECT o_custkey FROM cp
                GROUP BY o_custkey HAVING count(*) >= 3),
       core AS (SELECT c.o_custkey, c.o_orderpriority
                FROM cp c JOIN kept k ON c.o_custkey = k.o_custkey),
       prio AS (SELECT o_orderpriority,
                       2000000 + dense_rank() OVER (ORDER BY o_orderpriority)
                         AS pid
                FROM (SELECT DISTINCT o_orderpriority FROM orders))
       SELECT o_custkey AS id, CAST(count(*) AS BIGINT) AS degree
       FROM core GROUP BY o_custkey
       UNION ALL
       SELECT CAST(p.pid AS BIGINT) AS id, CAST(count(*) AS BIGINT) AS degree
       FROM core c JOIN prio p ON c.o_orderpriority = p.o_orderpriority
       GROUP BY p.pid""",
)
def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core decomposition (analytics.k_core: simultaneous iterative
    peeling) on the same tripartite customer/order/priority graph as
    g_triangle_count. The oracle exploits that graph's CLOSED-FORM core:
    order vertices have degree exactly 2 so they always peel, leaving
    {customers with >= 3 distinct priorities} ∪ {priorities} — k-core is
    order-independent (unique maximal subgraph), so the general peeling
    loop must land exactly on that fixpoint, with in-core degrees."""
    from torcdb_spark.analytics import k_core
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    prio_map = (
        o.select("o_orderpriority")
        .distinct()
        .withColumn(
            "prio",
            F.dense_rank().over(W.orderBy("o_orderpriority")).cast("long")
            + 2000000,
        )
    )
    ranked = o.join(F.broadcast(prio_map), "o_orderpriority").withColumn(
        "okey", F.col("o_orderkey") + 1000000
    )
    e1 = ranked.select(F.col("o_custkey").alias("src"), F.col("okey").alias("dst"))
    e2 = ranked.select(F.col("o_custkey").alias("src"), F.col("prio").alias("dst"))
    e3 = ranked.select(F.col("okey").alias("src"), F.col("prio").alias("dst"))
    edges = e1.unionByName(e2).unionByName(e3)
    return k_core(edges, k=3).select(F.col("id").cast("long").alias("id"), "degree")


@_register("d14_simhash_near_dups")  # rows-only: simhash (xxhash64 shingle
# votes) has no DuckDB equivalent; exactness is pytest-verified on
# constructed near-dup pairs (tests/test_operators.py)
def d14_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at hamming <= 3 via 4-band pigeonhole
    blocking (operators/dedup.py simhash_near_dup_pairs) — candidate
    generation is an equi-join on (band, bits), verification one
    bit_count(xor) expression; complements d4's exact-hash grouping with
    the Manku-Jain-Sarma web-scale layout."""
    from torcdb_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_hamming=3, bands=4)


@_register(
    "e6_quantized_topk",
    """WITH qz AS (
         SELECT vec_id,
                CASE WHEN nrm > 0
                     THEN list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) / nrm * 127) AS BIGINT))
                     ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
                END AS qv
         FROM (
           SELECT vec_id, embedding,
                  sqrt(list_reduce(
                    list_transform(embedding,
                      x -> CAST(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS REAL)
                                AS DOUBLE)),
                    (a, b) -> a + b)) AS nrm
           FROM embeddings)),
       scored AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                round(
                  CAST(list_reduce(
                    list_transform(list_zip(q.qv, c.qv),
                      s -> s[1] * s[2]),
                    (a, b) -> a + b) AS DOUBLE) / (127.0 * 127.0),
                  3) AS score
         FROM (SELECT * FROM qz WHERE vec_id < 10) q, qz c
         WHERE q.vec_id <> c.vec_id)
       SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id ASC) AS rnk
             FROM scored)
       WHERE rnk <= 5""",
)
def e6_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) cosine top-k over the embeddings table
    (operators/similarity.py cosine_topk_quantized): the 4×-smaller
    integer scan path for 100 TB vector corpora, same broadcast×corpus
    plan as e1 with recall pytest-asserted >= 0.9 against it.

    EXACT-oracled (upgraded from rows-only): the L2 norm is a SEQUENTIAL
    array fold, not an unordered SUM — and sequential folds are
    bit-exact cross-engine (DuckDB list_reduce == Spark F.aggregate when
    the first step is 0.0+x). The oracle replays the exact pipeline:
    float32-rounded squares (CAST..AS REAL — the product of two float32s
    is exactly representable in double, so the double-rounding is a
    no-op), double-summed fold, sqrt (IEEE correctly rounded), the
    q=round(x/norm*127) int8 grid, integer dot products via zipped
    list_reduce, and /127² scores that can never land on a .5e-3
    boundary (16129 is coprime to 2000). Verified at all three SFs."""
    from torcdb_spark.operators.similarity import cosine_topk_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    queries_side = emb.where(F.col("vec_id") < 10)
    out = cosine_topk_quantized(emb, queries_side, k=5)
    return out.select(
        "query_id", "neighbor_id", "score",
        F.col("rnk").cast("long").alias("rnk"),
    )


@_register(
    "m4_audio_features",
    """SELECT doc_id AS media_id,
              8000 AS sample_rate,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
              CAST((octet_length(encode(text)) * 1000) // 8000 AS BIGINT)
                AS duration_ms
       FROM documents""",
)
def m4_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features over RIFF/WAVE payloads (operators/multimodal.py
    audio_features over decode_wav): each document's UTF-8 bytes are
    wrapped as 8-bit 8 kHz mono PCM by encode_wav_pcm and decoded back.
    The oracle checks the structural columns (sample_rate, n_samples,
    floor-division duration_ms); rms and zcr are exact-tested in
    pytest on hand-computed waveforms."""
    from torcdb_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(docs, mm.encode_wav_pcm, F.encode("text", "utf-8"))
    return mm.audio_features(media).select(
        "media_id", "sample_rate", "n_samples", "duration_ms"
    )


@_register(
    "g_gremlin_project",
    """SELECT c.c_custkey, round(CAST(c.c_acctbal AS DOUBLE), 2) AS acctbal,
              CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
       FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
       WHERE CAST(c.c_acctbal AS DOUBLE) > 9000
       GROUP BY c.c_custkey, c.c_acctbal""",
)
def g_gremlin_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """has('c_acctbal', P.gt(9000)).project('acctbal', 'n_orders')
    .by('c_acctbal').by(out('placed').count()) — the predicate-valued has
    (gremlin.py has_p) composed with the project step (gremlin.py
    project_): property clauses share one hydration join, the count clause
    runs its sub-traversal once over the distinct seed set."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    proj = (
        G(g).V().has_label("customer")
        .has_p("c_acctbal", "gt", 9000, cast="double")
        .project_(
            acctbal="c_acctbal:double",
            n_orders=lambda s: s.out("placed"),
        )
    )
    return proj.select(
        id_lower(F.col("current")).alias("c_custkey"),
        F.round(F.col("acctbal"), 2).alias("acctbal"),
        "n_orders",
    )


@_register(
    "q_hll_mergeable_sketch",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY 1
       UNION ALL
       SELECT 'TOTAL' AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events""",
)
def q_hll_mergeable_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-AGGREGATABLE distinct counting via Datasketches HLL: per-day
    sketches (hll_sketch_agg) are UNION-merged (hll_union_agg) into the
    grand total WITHOUT re-touching the raw data — the pattern that makes
    100 TB rollups maintainable (store a sketch column per partition,
    merge on demand; exact count(DISTINCT) cannot re-aggregate). The
    oracle is the exact count: Datasketches HLL keeps an exact coupon
    set below promotion to dense mode (~k/8 items), so with lgK=16
    (8192-coupon exact regime; 32 KB/sketch) the estimates ARE exact at
    every fixture cardinality (150 users at sf0.01, 1500 at sf0.1) — the
    query verifies the sketch build/merge path end-to-end, not a
    tolerance. Above the exact regime the estimate degrades gracefully
    to ±~0.8% (the lgK=16 HLL bound); size lgK to the cardinality band
    whose exactness matters."""
    ev = load_table(spark, sf_dir, "events")
    daily_sk = (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.hll_sketch_agg("user_id", 16).alias("sk"))
        .persist()
    )
    per_day = daily_sk.select(
        "day", F.hll_sketch_estimate("sk").cast("long").alias("n_users")
    )
    total = daily_sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("n_users")
    ).select(F.lit("TOTAL").alias("day"), "n_users")
    return per_day.unionByName(total)


@_register(
    "d15_bm25_rank",
    """WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
              FROM documents WHERE trim(text) <> ''),
       dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
              FROM toks GROUP BY 1),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
                 FROM dl),
       tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
              WHERE term IN ('hash', 'join', 'stream') GROUP BY 1, 2),
       dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       scored AS (
         SELECT t.doc_id,
                round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                      * (t.tf * 2.2)
                      / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))),
                      4) AS bm25
         FROM tf t JOIN dft d USING (term) JOIN dl l USING (doc_id)
         CROSS JOIN stats s
         GROUP BY t.doc_id)
       SELECT doc_id, bm25,
              CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
                AS rnk
       FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10""",
)
def d15_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for the query {hash, join, stream} over the
    documents corpus (operators/text.py bm25_rank — Robertson/Lucene idf,
    k1=1.2, b=0.75): the tf frame is bounded by the query terms, df/stats
    broadcast, top-10 by score with doc-id tie-break. Oracle recomputes
    the identical formula in SQL."""
    from torcdb_spark.operators.text import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    return bm25_rank(docs, ["hash", "join", "stream"], top_k=10)


@_register(
    "zo1_zorder_cells",
    # oracle generated by the SAME formula spelled in SQL bit-ops — built
    # at import time so operator and oracle can't drift
    __import__("torcdb_spark.operators.zorder", fromlist=["zorder_oracle_sql"])
    .zorder_oracle_sql("lineitem", ["l_partkey", "l_suppkey"], bits=8),
)
def zo1_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering cells over (l_partkey, l_suppkey)
    (operators/zorder.py): integer min-max scale to 8 bits, bit-interleave
    JVM-side, truncate to cells, and report per-cell count + per-dimension
    min/max — the inspectable form of the multi-dim data-skipping layout
    that zorder_write bakes into parquet footers. One scan + one 1-row
    broadcast bounds aggregate + one groupBy; no UDF."""
    from torcdb_spark.operators.zorder import zorder_cell_stats

    li = load_table(spark, sf_dir, "lineitem")
    return zorder_cell_stats(li, ["l_partkey", "l_suppkey"], bits=8)


@_register(
    "h1_histogram_price",
    __import__(
        "torcdb_spark.operators.histogram", fromlist=["histogram_oracle_sql"]
    ).histogram_oracle_sql("lineitem", "l_extendedprice", 0.0, 110000.0, 64),
)
def h1_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram sketch of l_extendedprice
    (operators/histogram.py): 64 clamped bins, one partial-aggregated
    shuffle, ≤ 64 output rows at any input scale — the numeric-distribution
    summary a 100 TB pipeline maintains incrementally (counts add across
    partial sketches; mergeability pytest-proven). Oracle generated from
    the same binning formula."""
    from torcdb_spark.operators.histogram import histogram_sketch

    li = load_table(spark, sf_dir, "lineitem")
    return histogram_sketch(li, "l_extendedprice", 0.0, 110000.0, 64)


@_register(
    "gs1_neighbor_sample",
    __import__(
        "torcdb_spark.operators.sampling",
        fromlist=["neighbor_sample_oracle_sql"],
    ).neighbor_sample_oracle_sql(
        fanout=3,
        seed=42,
        label_tag_src=3,
        label_tag_dst=6,
        src_table_key="c_custkey",
        edge_sql="SELECT o_custkey AS src_key, o_orderkey AS dst_key FROM orders",
        frontier_pred="src_key BETWEEN 1 AND 100",
    ),
)
def gs1_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style bounded neighbor sampling (operators/sampling.py):
    ≤3 'placed' neighbors per seed customer, chosen by deterministic
    md5(src:dst:seed) ranking — reproducible (same seed → same sample,
    the lineage property a training pipeline needs) and therefore exactly
    SQL-verifiable, unlike rand() sampling. One hop join + one per-src
    window; a hub vertex emits at most fanout rows past the rank filter."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair
    from torcdb_spark.operators.sampling import neighbor_sample

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 101)]
    cust = g.vertices_by_id(seeds, label="customer")
    samp = neighbor_sample(cust, g.edges, "placed", fanout=3, seed=42)
    return samp.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
        "rk",
    )


@_register(
    "gs2_random_walks",
    """SELECT c_custkey AS walk_id, CAST(0 AS BIGINT) AS step,
              CAST(3 AS BIGINT) AS vtag, c_custkey AS vkey
       FROM customer WHERE c_custkey BETWEEN 1 AND 200
       UNION ALL
       SELECT c_custkey, CAST(1 AS BIGINT), CAST(2 AS BIGINT), c_nationkey
       FROM customer WHERE c_custkey BETWEEN 1 AND 200
       UNION ALL
       SELECT c_custkey, CAST(2 AS BIGINT), CAST(1 AS BIGINT), n_regionkey
       FROM customer JOIN nation ON n_nationkey = c_nationkey
       WHERE c_custkey BETWEEN 1 AND 200""",
)
def gs2_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks (operators/sampling.py) through the
    location chain customer→nation→region with walk_len=3: per step one
    frontier⋈edges join + md5-argmin min_by; region is a sink so every walk
    stops at step 2 (the oracle enumerates the unique path — md5 choice
    among >1 candidates is exact-tested in pytest on a constructed fanout
    graph). Frontier never exceeds |starts|; walk state is (walk_id,
    vertex), no path arrays ride the shuffles."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import id_upper, uint128_pair
    from torcdb_spark.operators.sampling import random_walks

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 201)]
    cust = g.vertices_by_id(seeds, label="customer")
    walks = random_walks(
        cust, g.edges, ["fromNation", "inRegion"], walk_len=3, seed=1
    )
    return walks.select(
        id_lower(F.col("walk_id")).alias("walk_id"),
        "step",
        id_upper(F.col("vertex")).alias("vtag"),
        id_lower(F.col("vertex")).alias("vkey"),
    )


@_register("e7_pq_topk")  # rows-only: ADC shortlist depends on float
# codebook means; recall >= 0.8 vs the exact operator and determinism are
# pytest-asserted (tests/test_operators.py pq recall test)
def e7_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ANN (operators/similarity.py pq_topk): ADC
    candidate scan over m uint8 codes per vector (64×-smaller than float32
    at D=64) + exact re-rank of the shortlist — the memory-bandwidth-bound
    scan path for 100 TB vector corpora, deterministic build (hash-seeded
    codebooks + one Lloyd step, no random init)."""
    from torcdb_spark.operators.similarity import pq_topk

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    qs = emb.where(F.col("vec_id") < 10)
    return pq_topk(
        emb, qs, k=5, m_subspaces=4, k_sub=64, rerank_factor=20,
        train_fraction=0.5,
    )


@_register(
    "cd1_snapshot_diff",
    """WITH old_v AS (
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
       ),
       new_v AS (
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                     ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 13 <> 0
       ),
       classified AS (
         SELECT CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                     WHEN n.o_orderkey IS NULL THEN 'deleted'
                     WHEN o.o_totalprice <> n.o_totalprice THEN 'updated'
                     ELSE 'unchanged' END AS change
         FROM old_v o FULL OUTER JOIN new_v n ON o.o_orderkey = n.o_orderkey
       )
       SELECT change, CAST(COUNT(*) AS BIGINT) AS n
       FROM classified GROUP BY change""",
)
def cd1_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff (operators/diff.py): two deterministic
    versions of orders (drop keys %10=0 in old, drop %13=0 and bump
    totalprice on %7=0 in new) classified inserted/deleted/updated/
    unchanged in ONE full-outer join on (key, xxhash64 fingerprint) — the
    shuffle carries 16 bytes/row regardless of row width. The oracle
    classifies by direct value compare, verifying the fingerprint
    semantics end-to-end."""
    from torcdb_spark.operators.diff import diff_summary

    orders = load_table(spark, sf_dir, "orders")
    old_v = orders.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    new_v = orders.where(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    return diff_summary(old_v, new_v, ["o_orderkey"], ["o_totalprice"])


@_register(
    "sg1_subgraph_counts",
    """WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
       SELECT label, CAST(COUNT(*) AS BIGINT) AS n_edges
       FROM (
         SELECT 'fromNation' AS label FROM customer
         JOIN rich USING (c_custkey)
         UNION ALL
         SELECT 'inRegion' FROM nation
       ) GROUP BY label""",
)
def sg1_subgraph_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex-induced subgraph extraction (graph.py
    vertex_induced_subgraph — TinkerPop SubgraphStep closure semantics):
    keep geography labels + only customers with acctbal > 5000; surviving
    edges are those with BOTH endpoints alive (two left-semi joins).
    Edge-label counts verify the closure: fromNation shrinks to the rich
    customers, inRegion survives whole, and every other label (placed,
    contains, ...) vanishes because its endpoints were filtered out."""
    g = _graph(spark, sf_dir)
    sub = g.vertex_induced_subgraph(
        (F.col("label").isin("nation", "region"))
        | (
            (F.col("label") == "customer")
            & (F.col("props")["c_acctbal"].cast("double") > 5000.0)
        )
    )
    return sub.edges.groupBy("label").agg(
        F.count("*").cast("long").alias("n_edges")
    )


@_register(
    "g_path_pair",
    """WITH RECURSIVE und AS (
         SELECT 3 AS st, c_custkey AS sk, 2 AS dt, c_nationkey AS dk FROM customer
         UNION ALL SELECT 2, c_nationkey, 3, c_custkey FROM customer
         UNION ALL SELECT 2, n_nationkey, 1, n_regionkey FROM nation
         UNION ALL SELECT 1, n_regionkey, 2, n_nationkey FROM nation
       ),
       bfs(t, k, d) AS (
         SELECT 3, 3, 0
         UNION
         SELECT und.dt, und.dk, bfs.d + 1
         FROM bfs JOIN und ON und.st = bfs.t AND und.sk = bfs.k
         WHERE bfs.d < 4
       ),
       dmin AS (SELECT t, k, MIN(d) AS d FROM bfs GROUP BY 1, 2),
       target AS (SELECT t, k, d FROM dmin WHERE t = 3 AND k = 8),
       walk(step, t, k) AS (
         SELECT d, t, k FROM target
         UNION ALL
         SELECT w.step - 1, p.t, p.k
         FROM walk w, LATERAL (
           SELECT m.t, m.k FROM und u JOIN dmin m ON m.t = u.st AND m.k = u.sk
           WHERE u.dt = w.t AND u.dk = w.k AND m.d = w.step - 1
           ORDER BY m.t, m.k LIMIT 1
         ) p
         WHERE w.step > 0
       )
       SELECT CAST(step AS BIGINT) AS step, CAST(t AS BIGINT) AS vtag,
              CAST(k AS BIGINT) AS vkey
       FROM walk""",
)
def g_path_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LDBC IC13-shaped pairwise shortest path WITH path reconstruction
    (analytics.py shortest_path_pair): undirected BFS customer3→customer8
    over the location chain, parent = min id per discovered vertex (so the
    path is deterministic), early stop on target, backward parent walk.
    The oracle recomputes min-parent BFS as a recursive CTE with a LATERAL
    argmin backwalk — the full path is exact-checked, not just the
    distance."""
    from torcdb_spark.analytics import shortest_path_pair
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import id_upper, uint128_pair

    g = _graph(spark, sf_dir)
    loc = g.edges.where(F.col("label").isin("fromNation", "inRegion"))
    path = shortest_path_pair(
        loc,
        uint128_pair(LABEL_TAGS["customer"], 3),
        uint128_pair(LABEL_TAGS["customer"], 8),
        max_depth=4,
    )
    return path.select(
        F.col("step").cast("long").alias("step"),
        id_upper(F.col("id")).alias("vtag"),
        id_lower(F.col("id")).alias("vkey"),
    )


@_register(
    "m5_audio_spectral",
    """WITH pcm AS (
         SELECT doc_id AS media_id, 8000 AS sample_rate
         FROM documents WHERE length(trim(text)) >= 4
       )
       SELECT media_id, CAST(sample_rate AS BIGINT) AS sample_rate
       FROM pcm""",
)
def m5_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFT spectral audio features (operators/multimodal.py
    audio_spectral_features) over WAV payloads synthesized from document
    bytes (the encode_wav_pcm fixture of m4): dominant frequency, spectral
    centroid and bandwidth via numpy rfft inside the Arrow-batched kernel.
    The oracle checks the STRUCTURAL columns (which rows decode, their
    sample rate); the spectral math itself is pytest-exact against a pure
    sine (tests/test_operators.py)."""
    from torcdb_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs, mm.encode_wav_pcm, F.encode(F.trim(F.col("text")), "utf-8")
    )
    return mm.audio_spectral_features(media).select("media_id", "sample_rate")


@_register(
    "g_gremlin_match",
    """SELECT c_custkey, o_orderkey, n.n_nationkey AS nationkey
       FROM customer
       JOIN orders ON o_custkey = c_custkey
       JOIN nation n ON n.n_nationkey = c_nationkey
       WHERE n.n_name = 'CHINA' AND o_totalprice > 100000""",
)
def g_gremlin_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match() conjunctive pattern solving (gremlin.py match_): bind 'c',
    then patterns c-placed->o and c-fromNation->n, constrain n by name and
    o by totalprice via where_ sub-traversals on the bound variables.
    TinkerPop runs this with a backtracking MatchStep; here each pattern
    is a distinct-seeded pair frame and the solver IS Catalyst's join
    reorderer (pattern joins are equi-joins over binder columns)."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g).V().has_label("customer").as_("c")
        .match_(
            ("c", lambda s: s.out("placed"), "o"),
            ("c", lambda s: s.out("fromNation"), "n"),
        )
    )
    # constrain bound variables: o.totalprice > 100000, n.name = CHINA
    nv = g.vertices.where(
        (F.col("label") == "nation") & (F.col("props")["n_name"] == "CHINA")
    ).select(F.col("id").alias("_nid"))
    ov = g.vertices.where(
        (F.col("label") == "order")
        & (F.col("props")["o_totalprice"].cast("double") > 100000.0)
    ).select(F.col("id").alias("_oid"))
    sel = t.select("c", "o", "n")
    out = (
        sel.join(F.broadcast(nv), sel["n"] == F.col("_nid"), "left_semi")
        .join(ov, F.col("o") == F.col("_oid"), "left_semi")
    )
    return out.select(
        id_lower(F.col("c")).alias("c_custkey"),
        id_lower(F.col("o")).alias("o_orderkey"),
        id_lower(F.col("n")).alias("nationkey"),
    )


@_register(
    "ldbc_ic_like_new_parts",
    """WITH seedlines AS (
         SELECT l_partkey, o_orderdate
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         WHERE o_custkey BETWEEN 1 AND 60
       )
       SELECT l_partkey AS part_key,
              CAST(COUNT(*) AS BIGINT) AS n_in_window
       FROM seedlines
       WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         AND l_partkey NOT IN (
           SELECT l_partkey FROM seedlines
           WHERE o_orderdate < TIMESTAMP '1997-01-01'
         )
       GROUP BY 1
       ORDER BY n_in_window DESC, part_key ASC
       LIMIT 20""",
)
def ldbc_ic_like_new_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC4-shaped novelty query: parts the 60 seed customers ordered IN a
    date window but never BEFORE it — the 'new tags in window' pattern.
    Traversal form: one seeded expansion to (order, part) incidence with
    the order date carried on the placed edge (remove_edge_if θ-filters,
    TorcHelper.java:594-638), split into window/before frames, composed
    with subtract (anti-join) — the window partition of one traversal
    rather than two scans."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 61)]
    cust = g.vertices_by_id(seeds, label="customer")
    placed = traverse(cust, g.edges, "placed", Direction.OUT, fill_edge=True)
    h2 = traverse(v_set(placed), g.edges, "contains", Direction.OUT)
    h3 = traverse(v_set(h2), g.edges, "ofPart", Direction.OUT)
    order_part = algebra.fuse(h2, h3)  # (order, part) incidence per line
    in_window = remove_edge_if(
        placed, lambda dst, props: props["orderdate"] < "1997-01-01"
    ).select(F.col("dst").alias("src"))
    before = remove_edge_if(
        placed, lambda dst, props: props["orderdate"] >= "1997-01-01"
    ).select(F.col("dst").alias("src"))
    op_window = order_part.join(in_window, "src", "left_semi")
    op_before = order_part.join(before, "src", "left_semi")
    novel = algebra.subtract(
        op_window, op_before.select(F.col("dst").alias("id")).dropDuplicates(["id"])
    )
    return (
        novel.groupBy("dst")
        .agg(F.count("*").cast("long").alias("n_in_window"))
        .select(id_lower(F.col("dst")).alias("part_key"), "n_in_window")
        .orderBy(F.desc("n_in_window"), F.asc("part_key"))
        .limit(20)
    )


@_register(
    "g_cc_doubling",
    """SELECT CAST(r_regionkey AS BIGINT) AS component_key,
              CAST(1 + count(n_nationkey) AS BIGINT) AS size
       FROM region LEFT JOIN nation ON n_regionkey = r_regionkey
       GROUP BY r_regionkey""",
)
def g_cc_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via O(log n)-round large-star/small-star
    contraction (analytics.py connected_components_doubling) on the
    nation--inRegion-->region subgraph — same closed-form oracle as
    g_connected_components (components = regions, id = min vertex id),
    but the algorithm that survives HIGH-DIAMETER graphs where label
    propagation needs diameter supersteps; cross-checked equal to label
    propagation on a diameter-11 path in pytest."""
    from torcdb_spark.analytics import connected_components_doubling

    g = _graph(spark, sf_dir)
    cc = connected_components_doubling(
        g.edges.where(F.col("label") == "inRegion")
    )
    return cc.groupBy("component").agg(F.count("*").alias("size")).select(
        id_lower(F.col("component")).alias("component_key"),
        F.col("size").cast("long").alias("size"),
    )


@_register(
    "cms1_frequency_estimates",
    __import__("torcdb_spark.operators.cms", fromlist=["cms_oracle_sql"])
    .cms_oracle_sql(
        "lineitem", "l_partkey",
        "SELECT DISTINCT l_partkey AS k FROM lineitem "
        "WHERE l_partkey BETWEEN 1 AND 40",
        d=4, w=2048, seed=0,
    ),
)
def cms1_frequency_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates (operators/cms.py): d×w md5-
    bucketed counter grid over lineitem part keys, probed for 40 keys with
    min-over-rows readback. md5 bucketing makes the sketch deterministic
    and the ORACLE reproduces its exact cell values — approximation means
    bounded overcount, not nondeterminism (no-underestimate + merge==union
    pytest-proven). The sketch is ≤ d*w rows at any input scale; probes
    broadcast-join it."""
    from torcdb_spark.operators.cms import cms_estimate, cms_sketch

    li = load_table(spark, sf_dir, "lineitem")
    sk = cms_sketch(li, "l_partkey", d=4, w=2048, seed=0)
    keys = (
        li.where(F.col("l_partkey").between(1, 40))
        .select(F.col("l_partkey").alias("k"))
        .dropDuplicates()
    )
    return cms_estimate(sk, keys, "k", d=4, w=2048, seed=0)


@_register("g_ppr_recommend")  # iterative float fixpoint: rows-only check
# (invariants — mass conservation at |S|, zero rank off the reachable set,
# determinism — are pytest-proven in tests/test_analytics.py)
def g_ppr_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank recommendation (analytics.py
    personalized_pagerank): reset mass pinned to 10 seed customers, pushed
    6 supersteps through the purchase DAG (placed→contains→ofPart), top-20
    parts by proximity — LDBC-style 'people/products you may know' ranking,
    the graph-native complement of the co-purchase count in
    ldbc_ic_like_foaf_copurchase."""
    from torcdb_spark.analytics import personalized_pagerank
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    purchase = g.edges.where(
        F.col("label").isin("placed", "contains", "ofPart")
    )
    seeds = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], k),) for k in range(1, 11)],
        "id binary",
    )
    pr = personalized_pagerank(purchase, seeds, num_iter=4)
    parts = g.vertices.where(F.col("label") == "part").select("id")
    return (
        pr.join(parts, "id", "left_semi")
        .select(
            id_lower(F.col("id")).alias("part_key"),
            F.round(F.col("rank"), 6).alias("ppr"),
        )
        .orderBy(F.desc("ppr"), F.asc("part_key"))
        .limit(20)
    )


@_register(
    "g_gremlin_edge_start",
    """SELECT o_orderkey
       FROM orders WHERE CAST(o_totalprice AS DOUBLE) > 150000""",
)
def g_gremlin_edge_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g.E('placed').has(totalprice > 150k).inV() — the edge-first
    traversal entry (TinkerPop GraphStep over edges; gremlin.py G.E):
    edge-property filter on the label-pruned edge scan, then the hop to
    the far endpoint. Oracle is the equivalent order-table predicate."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g).E("placed")
        .has_edge("totalprice", lambda v: v.cast("double") > 150000.0)
        .in_v()
    )
    return t._df.select(id_lower(F.col("_cur")).alias("o_orderkey"))


@_register(
    "cd2_snapshot_diff_rows",
    """WITH old_v AS (
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
       ),
       new_v AS (
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                     ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 13 <> 0
       )
       SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
              CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                   WHEN n.o_orderkey IS NULL THEN 'deleted'
                   ELSE 'updated' END AS change
       FROM old_v o FULL OUTER JOIN new_v n ON o.o_orderkey = n.o_orderkey
       WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
          OR o.o_totalprice <> n.o_totalprice""",
)
def cd2_snapshot_diff_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC classification (operators/diff.py table_diff): the
    per-key change feed itself — what an incremental scheduler consumes to
    re-embed only updated docs / re-dedup only inserts — same synthetic
    two-version setup as cd1, exact-checked per key."""
    from torcdb_spark.operators.diff import table_diff

    orders = load_table(spark, sf_dir, "orders")
    old_v = orders.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    new_v = orders.where(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    return table_diff(old_v, new_v, ["o_orderkey"], ["o_totalprice"])


def _ws1_oracle() -> str:
    """A-Res weighted-sample oracle: identical md5-uniform + pow keys in
    SQL (operators/sampling.py weighted_neighbor_sample)."""
    def hexid(tag: int, key: str) -> str:
        return (
            f"UPPER(LPAD(TO_HEX({tag}), 16, '0') || "
            f"LPAD(TO_HEX(CAST({key} AS BIGINT)), 16, '0'))"
        )

    src_hex = hexid(3, "o_custkey")
    dst_hex = hexid(6, "o_orderkey")
    u = (
        f"(CAST(('0x' || substring(md5({src_hex} || ':' || {dst_hex} "
        f"|| ':' || '7'), 1, 13)) AS BIGINT) + 1.0) / {float((1 << 52) + 1)}"
    )
    return f"""WITH scored AS (
         SELECT o_custkey AS src_key, o_orderkey AS dst_key,
                pow({u}, 1.0 / o_totalprice) AS k,
                {dst_hex} AS dst_hex
         FROM orders
         WHERE o_custkey BETWEEN 1 AND 100 AND o_totalprice > 0
       ),
       ranked AS (
         SELECT src_key, dst_key,
                row_number() OVER (PARTITION BY src_key
                                   ORDER BY k DESC, dst_hex) AS rk
         FROM scored
       )
       SELECT src_key, dst_key, CAST(rk AS BIGINT) AS rk
       FROM ranked WHERE rk <= 3"""


@_register("ws1_weighted_sample", _ws1_oracle())
def ws1_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted neighbor sampling without replacement (operators/
    sampling.py weighted_neighbor_sample): ≤3 'placed' neighbors per seed
    customer drawn ∝ the order's totalprice via Efraimidis–Spirakis keys
    u^(1/w) on md5 uniforms — deterministic (data-lineage reproducible)
    AND exactly SQL-verified, while remaining a faithful weighted sample
    across seeds (statistical bias pytest-asserted)."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair
    from torcdb_spark.operators.sampling import weighted_neighbor_sample

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 101)]
    cust = g.vertices_by_id(seeds, label="customer")
    samp = weighted_neighbor_sample(
        cust, g.edges, "placed", fanout=3,
        weight=F.col("props")["totalprice"].cast("double"), seed=7,
    )
    return samp.select(
        id_lower(F.col("src")).alias("src_key"),
        id_lower(F.col("dst")).alias("dst_key"),
        "rk",
    )


@_register(
    "d16_repetition_signals",
    r"""WITH base AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w,
                length(regexp_replace(trim(text), '\s', '', 'g')) AS nsc
         FROM documents
       ),
       b2 AS (SELECT doc_id, CASE WHEN nsc > 0 THEN w ELSE [] END AS w, nsc
              FROM base),
       g2 AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
              FROM b2, UNNEST(generate_series(1, len(w)-1)) AS t(i)),
       c2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
       t2 AS (SELECT doc_id, gram, c,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY c DESC, gram DESC) AS rn FROM c2),
       g5 AS (SELECT doc_id,
                     w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
                       AS gram
              FROM b2, UNNEST(generate_series(1, len(w)-4)) AS t(i)),
       c5 AS (SELECT doc_id, gram, COUNT(*) AS c,
                     length(replace(gram, ' ', '')) AS ln
              FROM g5 GROUP BY 1, 2),
       a5 AS (SELECT doc_id, SUM(c*ln) AS tot5,
                     SUM(CASE WHEN c > 1 THEN c*ln ELSE 0 END) AS dup5
              FROM c5 GROUP BY 1)
       SELECT b2.doc_id,
              CAST(len(w) AS BIGINT) AS n_words,
              CASE WHEN len(w) > 0
                   THEN round((len(w) - len(list_distinct(w)))
                              / CAST(len(w) AS DOUBLE), 6)
                   ELSE 0.0 END AS word_rep_ratio,
              t2.gram AS top2_gram,
              CASE WHEN nsc > 0 AND t2.gram IS NOT NULL
                   THEN round(t2.c * length(replace(t2.gram, ' ', ''))
                              / CAST(nsc AS DOUBLE), 6)
                   ELSE 0.0 END AS top2_frac,
              CASE WHEN COALESCE(a5.tot5, 0) > 0
                   THEN round(a5.dup5 / CAST(a5.tot5 AS DOUBLE), 6)
                   ELSE 0.0 END AS dup5_frac
       FROM b2
       LEFT JOIN t2 ON t2.doc_id = b2.doc_id AND t2.rn = 1
       LEFT JOIN a5 ON a5.doc_id = b2.doc_id""",
)
def d16_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (operators/text.py
    repetition_signals): word-repetition ratio, top word-2-gram character
    fraction, duplicated-5-gram character fraction — the pre-training
    corpus quality heuristics (Rae et al. 2021). Per-row array expressions
    only (zero shuffle, no corpus state); the oracle regenerates every
    measure relationally via UNNEST + GROUP BY."""
    from torcdb_spark.operators.text import repetition_signals

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    return repetition_signals(docs)


# ---------------------------------------------------------------------------
# round-4 extension families: behavioral analytics (funnel/cohort/anomaly),
# membership + theta sketches, blocked entity resolution, HITS
# ---------------------------------------------------------------------------


@_register(
    "fu1_funnel_stages",
    """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY 1),
       t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
              JOIN t1 ON e.user_id = t1.user_id
              WHERE e.event_type = 'click' AND e.ts > t1.t1
                AND e.ts <= t1.t1 + INTERVAL 1 DAY GROUP BY 1),
       t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
              JOIN t2 ON e.user_id = t2.user_id
              JOIN t1 ON e.user_id = t1.user_id
              WHERE e.event_type = 'purchase' AND e.ts > t2.t2
                AND e.ts <= t1.t1 + INTERVAL 1 DAY GROUP BY 1)
       SELECT 'view' AS stage, CAST(1 AS BIGINT) AS stage_idx,
              (SELECT CAST(count(*) AS BIGINT) FROM t1) AS users
       UNION ALL SELECT 'click', 2, (SELECT count(*) FROM t2)
       UNION ALL SELECT 'purchase', 3, (SELECT count(*) FROM t3)""",
)
def fu1_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase within 1 day of the
    first view (operators/funnel.py funnel_stages): chained conditional
    window-mins over ONE user-key exchange — no event-table self-joins.
    The oracle spells the same earliest-qualifying-event semantics as
    chained min-aggregate CTEs."""
    from torcdb_spark.operators.funnel import funnel_stages

    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(ev, ["view", "click", "purchase"])


@_register(
    "co1_cohort_retention",
    """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
       c AS (SELECT user_id, CAST(date_trunc('week', first_ts) AS DATE)
                    AS cohort_week FROM f),
       a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
                    AS wk FROM events),
       j AS (SELECT cohort_week,
                    CAST(FLOOR(date_diff('day', cohort_week, wk) / 7.0)
                         AS BIGINT) AS week_offset,
                    a.user_id
             FROM a JOIN c ON a.user_id = c.user_id)
       SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
              CAST(count(DISTINCT user_id) AS BIGINT) AS users
       FROM j WHERE week_offset <= 8 GROUP BY 1, 2""",
)
def co1_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/funnel.py
    cohort_retention): cohort = Monday-week of a user's first event,
    retention = distinct users active k weeks later. Integer-exact
    (both endpoints week-truncated, offsets are whole weeks). The cohort
    week is rendered as a string in the declared output (header rule:
    temporal values as strings on both sides of the hash compare)."""
    from torcdb_spark.operators.funnel import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev).withColumn(
        "cohort_week", F.date_format("cohort_week", "yyyy-MM-dd")
    )


@_register(
    "ts3_zscore_anomalies",
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                             round(sum(value), 2) AS total
                      FROM events GROUP BY 1, 2),
       w AS (SELECT event_type, day, total,
                    avg(total) OVER tw AS mu,
                    stddev_samp(total) OVER tw AS sd,
                    count(total) OVER tw AS n
             FROM daily
             WINDOW tw AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
       SELECT event_type, strftime(day, '%Y-%m-%d') AS day, total,
              CASE WHEN n = 7 AND sd > 0
                   THEN round((total - mu) / sd, 4) END AS z,
              COALESCE(abs(CASE WHEN n = 7 AND sd > 0
                                THEN round((total - mu) / sd, 4) END) > 2.0,
                       FALSE) AS is_anomaly
       FROM w""",
)
def ts3_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection (operators/timeseries.py
    trailing_zscore): per event type, each day's total scored against the
    trailing 7 observations (exclusive) — z NULL until a full window
    exists. One shuffle to the daily grain + one window sort per key; the
    streaming-state analogue holds 7 floats per key. The day is rendered
    as a string in the declared output (header rule: temporal values as
    strings on both sides — Spark DATE vs DuckDB date_trunc TIMESTAMP
    would otherwise diverge at the driver's schema/hash compare)."""
    from torcdb_spark.operators.timeseries import trailing_zscore

    ev = load_table(spark, sf_dir, "events")
    return trailing_zscore(ev, ["event_type"]).withColumn(
        "day", F.date_format("day", "yyyy-MM-dd")
    )


@_register(
    "er1_part_name_pairs",
    """WITH reps AS (SELECT min(p_partkey) AS id, p_name AS name
                     FROM part GROUP BY p_name)
       SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
              CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
       FROM reps a JOIN reps b
         ON split_part(a.name, ' ', 2) = split_part(b.name, ' ', 2)
        AND a.id < b.id
       WHERE levenshtein(a.name, b.name) <= 2""",
)
def er1_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution over part names (operators/er.py
    blocked_levenshtein_pairs): canonicalize to one representative per
    distinct name (min key), block on the name's noun (second token), and
    verify candidates with Levenshtein ≤ 2 — 'cold plate' ↔ 'old plate'.
    The block key bounds the quadratic verify to within-noun pairs; the
    oracle replays the identical blocking + distance relationally."""
    from torcdb_spark.operators.er import blocked_levenshtein_pairs

    part = load_table(spark, sf_dir, "part")
    reps = part.groupBy(F.col("p_name").alias("name")).agg(
        F.min("p_partkey").alias("id")
    )
    return blocked_levenshtein_pairs(
        reps, "id", "name", F.split(F.col("name"), " ")[1], max_distance=2
    )


@_register(
    "bl1_bloom_semijoin",
    __import__("torcdb_spark.operators.bloom", fromlist=["bloom_oracle_sql"])
    .bloom_oracle_sql(
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
        "c_custkey",
        "SELECT DISTINCT o_custkey FROM orders",
        "o_custkey",
        m_bits=65536, d=3, seed=0,
    ),
)
def bl1_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join audit (operators/bloom.py): build a 64 Kbit
    d=3 filter over BUILDING customers' keys, probe every distinct
    order-placing customer, and report (n_probed, n_pass, n_true,
    n_false_pos) — proving the no-false-negative contract and the exact
    filter contents against an oracle that rebuilds the identical bit
    array in SQL. At 100 TB the filter rides a broadcast and prunes the
    big side map-side before the real join's shuffle."""
    from torcdb_spark.operators.bloom import bloom_build, bloom_might_contain

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    probes = orders.select(F.col("o_custkey")).dropDuplicates()
    bloom = bloom_build(build, "c_custkey", m_bits=65536, d=3)
    checked = bloom_might_contain(bloom, probes, "o_custkey", m_bits=65536, d=3)
    truth = checked.join(
        build.dropDuplicates().withColumn("_actual", F.lit(True)),
        checked["o_custkey"] == F.col("c_custkey"),
        "left",
    ).select(
        "might_contain", F.coalesce(F.col("_actual"), F.lit(False)).alias("_actual")
    )
    return truth.agg(
        F.count("*").cast("long").alias("n_probed"),
        F.sum(F.col("might_contain").cast("int")).cast("long").alias("n_pass"),
        F.sum(F.col("_actual").cast("int")).cast("long").alias("n_true"),
        F.sum(
            (F.col("might_contain") & ~F.col("_actual")).cast("int")
        ).cast("long").alias("n_false_pos"),
    )


def _kmv_u_sql(key: str, seed: int = 0) -> str:
    return (
        f"(CAST(('0x' || substring(md5(CAST({key} AS VARCHAR) || ':{seed}'), "
        f"1, 13)) AS BIGINT) + 1.0) / 4503599627370497.0"
    )


@_register(
    "th1_kmv_distinct",
    f"""WITH hashed AS (SELECT DISTINCT c_mktsegment,
                               {_kmv_u_sql('c_custkey')} AS u
                        FROM customer),
       rk AS (SELECT c_mktsegment, u,
                     row_number() OVER (PARTITION BY c_mktsegment
                                        ORDER BY u) AS rk
              FROM hashed),
       sk AS (SELECT * FROM rk WHERE rk <= 128),
       agg AS (SELECT c_mktsegment, count(*) AS n, max(u) AS uk
               FROM sk GROUP BY 1)
       SELECT c_mktsegment,
              round(CASE WHEN n < 128 THEN CAST(n AS DOUBLE)
                         ELSE 127 / uk END, 4) AS est_distinct
       FROM agg""",
)
def th1_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per market segment (operators/theta.py):
    k=128 minimum md5-hash values per segment → (k-1)/u_k estimate
    (exact count when unsaturated — the sf0.001 fixture exercises that
    path, sf0.1 the saturated one). Deterministic hashing makes the
    ESTIMATE itself oracle-reproducible, not merely its error bound."""
    from torcdb_spark.operators.theta import kmv_estimate, kmv_sketch

    cust = load_table(spark, sf_dir, "customer")
    sk = kmv_sketch(cust, "c_custkey", ["c_mktsegment"], k=128)
    return kmv_estimate(sk, ["c_mktsegment"], k=128)


@_register(
    "th2_kmv_intersection",
    f"""WITH a_h AS (SELECT DISTINCT {_kmv_u_sql('o_custkey')} AS u
                     FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
       b_h AS (SELECT DISTINCT {_kmv_u_sql('o_custkey')} AS u
               FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
       a_s AS (SELECT u FROM (SELECT u, row_number() OVER (ORDER BY u) AS rk
                              FROM a_h) WHERE rk <= 128),
       b_s AS (SELECT u FROM (SELECT u, row_number() OVER (ORDER BY u) AS rk
                              FROM b_h) WHERE rk <= 128),
       th AS (SELECT least(
                (SELECT CASE WHEN count(*) >= 128 THEN max(u) ELSE 1.0 END
                 FROM a_s),
                (SELECT CASE WHEN count(*) >= 128 THEN max(u) ELSE 1.0 END
                 FROM b_s)) AS theta),
       common AS (SELECT u FROM a_s WHERE u IN (SELECT u FROM b_s))
       SELECT round(
                (SELECT count(*) FROM common, th WHERE u < theta)
                / (SELECT theta FROM th), 4) AS est_intersection""",
)
def th2_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set intersection (operators/theta.py
    kmv_intersect_estimate): estimated overlap between customers ordering
    before vs since 1998, from two k=128 KMV sketches — θ = min of the
    sketch thresholds, |common below θ| / θ. The 100 TB answer to
    'how many users are in both cohorts' without a distinct-join of the
    full sets; deterministic hashing → exact-value oracle."""
    from torcdb_spark.operators.theta import kmv_intersect_estimate, kmv_sketch

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    a = kmv_sketch(
        orders.where(F.col("o_orderdate") < cutoff), "o_custkey", k=128
    )
    b = kmv_sketch(
        orders.where(F.col("o_orderdate") >= cutoff), "o_custkey", k=128
    )
    return kmv_intersect_estimate(a, b, k=128)


@_register("g_hits_parts")  # iterative float fixpoint: rows-only check
# (exact agreement with a dense numpy power iteration is pytest-proven on a
# constructed graph, tests/test_analytics.py)
def g_hits_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (analytics.py hits) on the part→supplier
    supply graph derived from lineitem: parts that buy from well-connected
    suppliers score as hubs, suppliers covering many strong parts as
    authorities — the classic bipartite ranking that plain degree
    counting misses. Top-10 authorities (score rounded, key tie-break)."""
    from torcdb_spark.analytics import hits

    li = load_table(spark, sf_dir, "lineitem")
    # materialize the DERIVED graph once (the distinct is a shuffle that
    # six message joins would otherwise each re-run), and key it with
    # DISJOINT LONGS (part→2k, supplier→2k+1) — integer equi-joins, not
    # string-concat keys, in the six half-step joins
    e = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).dropDuplicates().localCheckpoint(eager=True)
    hs = hits(e, num_iter=3)
    return (
        hs.select(
            F.concat(
                F.when(F.col("id") % 2 == 0, F.lit("p")).otherwise(F.lit("s")),
                F.floor(F.col("id") / 2).cast("long").cast("string"),
            ).alias("id"),
            F.round(F.col("auth"), 6).alias("auth"),
        )
        .orderBy(F.desc("auth"), F.asc("id"))
        .limit(10)
    )


@_register(
    "scd1_event_type_history",
    """WITH feed AS (SELECT user_id, event_type, ts FROM events
                     WHERE user_id < 100),
       ordered AS (SELECT user_id, event_type, ts,
                          lag(event_type) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_type)
                            AS prev_et,
                          row_number() OVER (PARTITION BY user_id
                                             ORDER BY ts, event_type) AS rn
                   FROM feed),
       changed AS (SELECT user_id, event_type, ts FROM ordered
                   WHERE rn = 1 OR prev_et IS DISTINCT FROM event_type),
       final AS (SELECT user_id, event_type, ts AS valid_from,
                        lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_type) AS valid_to
                 FROM changed)
       SELECT user_id, event_type, valid_from, valid_to,
              (valid_to IS NULL) AS is_current
       FROM final""",
)
def scd1_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build (operators/scd.py scd2_build): each user's
    event-type change feed collapsed to versioned validity intervals
    (valid_from/valid_to, open current row) with consecutive no-op changes
    dropped — the lakehouse dimension-history pattern. One key-partitioned
    window; the oracle replays the identical lag/lead algebra."""
    from torcdb_spark.operators.scd import scd2_build

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    return scd2_build(ev, ["user_id"], ["event_type"], "ts")


@_register(
    "se1_event_sessions",
    """WITH feed AS (SELECT user_id, ts FROM events WHERE user_id < 50),
       tagged AS (SELECT user_id, ts,
                         CASE WHEN lag(ts) OVER w IS NULL
                                OR date_diff('microsecond',
                                             lag(ts) OVER w, ts)
                                   > CAST(120 AS BIGINT) * 60 * 1000000
                              THEN 1 ELSE 0 END AS brk
                  FROM feed
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       sess AS (SELECT user_id, ts,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING)
                         AS session_id
                FROM tagged)
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              min(ts) AS session_start, max(ts) AS session_end,
              CAST(count(*) AS BIGINT) AS n_events
       FROM sess GROUP BY 1, 2""",
)
def se1_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/funnel.py sessionize): a
    2-hour inactivity gap opens a new session; running-sum session ids,
    per-session aggregates. The batch complement of the session_window
    streaming aggregate (st_events_sessions_stream) that also yields
    event→session MEMBERSHIP. Integer-microsecond gap arithmetic keeps
    engine and oracle bit-identical."""
    from torcdb_spark.operators.funnel import sessionize

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    return sessionize(ev, gap_minutes=120)


@_register("g_betweenness")  # float dependency accumulation: rows-only
# (exact agreement with a pure-Python Brandes on a constructed DAG is
# pytest-proven, tests/test_analytics.py)
def g_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-sampled Brandes betweenness centrality (analytics.py
    betweenness_sampled) on the purchase DAG from 8 seed customers:
    which orders/lineitems sit on the most shortest paths — the
    bottleneck-detection centrality degree counting can't express.
    Top-20 by score, rounded, key tie-break."""
    from torcdb_spark.analytics import betweenness_sampled
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    purchase = g.edges.where(
        F.col("label").isin("placed", "contains", "ofPart")
    )
    seeds = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], k),) for k in range(1, 9)],
        "id binary",
    )
    bc = betweenness_sampled(purchase, seeds, max_depth=6)
    return (
        bc.select(
            id_lower(F.col("id")).alias("vertex_key"),
            F.round(F.col("bc"), 6).alias("bc"),
        )
        .orderBy(F.desc("bc"), F.asc("vertex_key"))
        .limit(20)
    )


@_register(
    "gs3_node2vec_walks",
    """WITH li AS (
         SELECT l_orderkey, l_partkey,
                l_orderkey * 65536 + row_number() OVER (
                  PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                           l_extendedprice) AS l_linekey
         FROM lineitem),
       e AS (
         SELECT DISTINCT upper(printf('%016x%016x', 3, o_custkey)) AS src,
                         upper(printf('%016x%016x', 6, o_orderkey)) AS dst
         FROM orders
         UNION ALL
         SELECT DISTINCT upper(printf('%016x%016x', 6, l_orderkey)),
                         upper(printf('%016x%016x', 7, l_linekey))
         FROM li
         UNION ALL
         SELECT DISTINCT upper(printf('%016x%016x', 7, l_linekey)),
                         upper(printf('%016x%016x', 5, l_partkey))
         FROM li),
       seeds AS (
         SELECT c_custkey AS walk_key,
                upper(printf('%016x%016x', 3, c_custkey)) AS v0
         FROM customer WHERE c_custkey BETWEEN 1 AND 50),
       s1c AS (
         SELECT walk_key, v0, e.dst AS cand,
                pow(
                  (list_reduce(
                     list_transform(
                       regexp_extract_all(substr(md5('-' || ':' || v0 || ':' || e.dst || ':' || '1:11'), 1, 13), '.'),
                       c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                     (x, y) -> x * 16 + y) + 1.0) / 4503599627370497.0,
                  1.0 / 0.5) AS k
         FROM seeds JOIN e ON e.src = seeds.v0),
       s1 AS (
         SELECT walk_key, v0, cand AS v1 FROM (
           SELECT *, row_number() OVER (PARTITION BY walk_key ORDER BY k DESC, cand DESC) AS rn
           FROM s1c) WHERE rn = 1),
       s2c AS (
         SELECT walk_key, v0, v1, e.dst AS cand,
                pow(
                  (list_reduce(
                     list_transform(
                       regexp_extract_all(substr(md5(v0 || ':' || v1 || ':' || e.dst || ':' || '2:11'), 1, 13), '.'),
                       c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                     (x, y) -> x * 16 + y) + 1.0) / 4503599627370497.0,
                  CASE WHEN e.dst = v0 THEN 1.0 / 2.0
                       WHEN EXISTS (SELECT 1 FROM e pe WHERE pe.src = v0 AND pe.dst = s2c_e.dst) THEN 1.0
                       ELSE 1.0 / 0.5 END) AS k
         FROM s1 JOIN e AS s2c_e ON s2c_e.src = s1.v1, LATERAL (SELECT s2c_e.dst AS dst) e),
       s2 AS (
         SELECT walk_key, v1, cand AS v2 FROM (
           SELECT *, row_number() OVER (PARTITION BY walk_key ORDER BY k DESC, cand DESC) AS rn
           FROM s2c) WHERE rn = 1),
       s3c AS (
         SELECT walk_key, v1, v2, e.dst AS cand,
                pow(
                  (list_reduce(
                     list_transform(
                       regexp_extract_all(substr(md5(v1 || ':' || v2 || ':' || e.dst || ':' || '3:11'), 1, 13), '.'),
                       c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                     (x, y) -> x * 16 + y) + 1.0) / 4503599627370497.0,
                  CASE WHEN e.dst = v1 THEN 1.0 / 2.0
                       WHEN EXISTS (SELECT 1 FROM e pe WHERE pe.src = v1 AND pe.dst = s3c_e.dst) THEN 1.0
                       ELSE 1.0 / 0.5 END) AS k
         FROM s2 JOIN e AS s3c_e ON s3c_e.src = s2.v2, LATERAL (SELECT s3c_e.dst AS dst) e),
       s3 AS (
         SELECT walk_key, cand AS v3 FROM (
           SELECT *, row_number() OVER (PARTITION BY walk_key ORDER BY k DESC, cand DESC) AS rn
           FROM s3c) WHERE rn = 1)
       SELECT walk_key, CAST(0 AS BIGINT) AS step, v0 AS vertex_hex FROM seeds
       UNION ALL SELECT walk_key, 1, v1 FROM s1
       UNION ALL SELECT walk_key, 2, v2 FROM s2
       UNION ALL SELECT walk_key, 3, v3 FROM s3""",
)
def gs3_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec-style second-order biased walks (operators/sampling.py
    node2vec_walks): p=0.5 (return-friendly), q=2 (breadth-leaning) over
    the purchase DAG from 50 seed customers, walk length 3 — the
    embedding-training corpus generator. Deterministic md5/Efraimidis
    draw: reproducible walks, per-step cost = one candidate hop join +
    one neighbor-flag join.

    EXACT-oracled (upgraded from rows-only): the oracle replays all
    three steps as unrolled SQL — rebuilds the binary-id hex space
    (printf %016x%016x incl. the l_linekey surrogate window), recomputes
    the md5 52-bit uniform (Horner hex parse) and the Efraimidis
    pow(u, 1/w) key with the p/q CASE weights, and takes the identical
    (key, hex) argmax per walk per step. pow() feeds only an argmax, so
    cross-libm last-ulp drift cannot flip a pick unless two md5 keys
    collide to within 1 ulp; verified value-exact at all three SFs."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair
    from torcdb_spark.operators.sampling import node2vec_walks

    g = _graph(spark, sf_dir)
    seeds = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], k),) for k in range(1, 51)],
        "id binary",
    )
    walks = node2vec_walks(
        seeds, g.edges, ["placed", "contains", "ofPart"],
        walk_len=3, p=0.5, q=2.0, seed=11,
    )
    return walks.select(
        id_lower(F.col("walk_id")).alias("walk_key"),
        "step",
        F.hex(F.col("vertex")).alias("vertex_hex"),
    ).orderBy("walk_key", "step")


@_register(
    "d17_vocab_oov",
    r"""WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
              FROM documents WHERE trim(text) <> ''),
       vocab AS (SELECT term FROM (
                   SELECT term,
                          row_number() OVER (ORDER BY count(*) DESC, term)
                            AS rk
                   FROM toks GROUP BY term) WHERE rk <= 16),
       flagged AS (SELECT t.doc_id, t.term,
                          (v.term IS NOT NULL) AS in_vocab
                   FROM toks t LEFT JOIN vocab v ON t.term = v.term)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              round(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END)
                    / CAST(count(*) AS DOUBLE), 6) AS oov_frac
       FROM flagged GROUP BY doc_id""",
)
def d17_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate diagnostic (operators/text.py
    vocab_oov): top-16 corpus vocabulary (count desc, term tie-break) via
    distributed TakeOrdered — never a full sort — broadcast into per-doc
    out-of-vocabulary scoring. The go/no-go check before fixing a
    tokenizer vocab on a new corpus."""
    from torcdb_spark.operators.text import vocab_oov

    docs = load_table(spark, sf_dir, "documents")
    return vocab_oov(docs, vocab_size=16)


def _aqp_u_sql() -> str:
    key = (
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)"
        " || ':' || CAST(l_suppkey AS VARCHAR) || ':' ||"
        " CAST(l_linenumber AS VARCHAR)"
    )
    return (
        f"(CAST(('0x' || substring(md5({key} || ':17'), 1, 13)) AS BIGINT)"
        f" + 1.0) / 4503599627370497.0"
    )


@_register(
    "q_aqp_sampled_revenue",
    f"""WITH sampled AS (
         SELECT l_suppkey,
                CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev
         FROM lineitem WHERE {_aqp_u_sql()} < 0.1
       ),
       full_t AS (
         SELECT l_suppkey,
                CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev
         FROM lineitem
       ),
       est AS (SELECT n_name, CAST(sum(rev) AS DOUBLE) / 0.1 AS est_rev
               FROM sampled
               JOIN supplier ON l_suppkey = s_suppkey
               JOIN nation ON s_nationkey = n_nationkey
               GROUP BY n_name),
       ex AS (SELECT n_name, CAST(sum(rev) AS DOUBLE) AS exact_rev
              FROM full_t
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              GROUP BY n_name)
       SELECT ex.n_name, round(est.est_rev, 2) AS est_revenue,
              round(ex.exact_rev, 2) AS exact_revenue,
              round(abs(est.est_rev - ex.exact_rev) / ex.exact_rev, 4)
                AS rel_err
       FROM ex JOIN est ON ex.n_name = est.n_name""",
)
def q_aqp_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing on a deterministic 10% hash sample:
    per-nation supplier revenue estimated from the sample (scaled 1/rate)
    next to the exact aggregate and the realized relative error — the
    sample-first pattern that answers dashboard queries over 100 TB with
    a 10× cheaper scan. md5-uniform row sampling (operators/text.py
    hash_sample idiom) makes the SAMPLE itself — hence the estimate —
    exactly reproducible in the oracle; DECIMAL accumulation keeps the
    sums bit-stable across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    key = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    u = (
        F.conv(F.substring(F.md5(F.concat(key, F.lit(":17"))), 1, 13), 16, 10)
        .cast("double") + 1.0
    ) / F.lit(float((1 << 52) + 1))
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    base = li.select("l_suppkey", rev.alias("rev"), u.alias("_u"))
    dims = sup.select("s_suppkey", "s_nationkey").join(
        nat.select("n_nationkey", "n_name"),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    est = (
        base.where(F.col("_u") < 0.1)
        .join(F.broadcast(dims), base["l_suppkey"] == dims["s_suppkey"])
        .groupBy("n_name")
        .agg((F.sum("rev").cast("double") / 0.1).alias("est_rev"))
    )
    exact = (
        base.join(F.broadcast(dims), base["l_suppkey"] == dims["s_suppkey"])
        .groupBy("n_name")
        .agg(F.sum("rev").cast("double").alias("exact_rev"))
    )
    return exact.join(est, "n_name").select(
        "n_name",
        F.round(F.col("est_rev"), 2).alias("est_revenue"),
        F.round(F.col("exact_rev"), 2).alias("exact_revenue"),
        F.round(
            F.abs(F.col("est_rev") - F.col("exact_rev")) / F.col("exact_rev"),
            4,
        ).alias("rel_err"),
    )


@_register(
    "ev2_error_bursts",
    """WITH seq AS (SELECT user_id, ts, event_type,
                           lag(event_type, 1) OVER w AS p1,
                           lag(ts, 1) OVER w AS t1
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       bursts AS (SELECT user_id FROM seq
                  WHERE event_type = 'error' AND p1 = 'error'
                    AND date_diff('microsecond', t1, ts)
                        <= CAST(7 AS BIGINT) * 24 * 3600 * 1000000)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_bursts
       FROM bursts GROUP BY user_id""",
)
def ev2_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (MATCH_RECOGNIZE-shaped): two
    consecutive 'error' events per user within 7 days — the lag-window
    formulation of run detection; one user-key exchange, lag projections
    over it, integer-microsecond gap arithmetic. Counts burst-completing
    events per user. (Run length 2 keeps the match set non-empty at every
    fixture SF; the operator shape generalizes to any run length by
    adding lag terms.)"""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("ts", 1).over(w).alias("t1"),
    )
    bursts = seq.where(
        (F.col("event_type") == "error")
        & (F.col("p1") == "error")
        & (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("t1"))
            <= 7 * 24 * 3600 * 1_000_000
        )
    )
    return bursts.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_bursts")
    )


@_register(
    "d18_bpe_merges",
    __import__("torcdb_spark.operators.bpe", fromlist=["bpe_oracle_sql"])
    .bpe_oracle_sql("documents", "text", num_merges=8),
)
def d18_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-vocabulary training (operators/bpe.py bpe_train):
    8 merge rounds over the corpus word dictionary — per round one
    pair-count aggregate over the dictionary (bounded by vocabulary, not
    corpus size), a deterministic argmax, and a JVM string-replace merge.
    The oracle unrolls the SAME 8 rounds as materialized SQL CTEs, so the
    learned merge table is verified exactly, end to end."""
    from torcdb_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    out = bpe_train(docs, num_merges=8)
    return out.select(
        "merge_rank",
        F.col("left").alias("left_sym"),
        F.col("right").alias("right_sym"),
        "merged",
        "pair_count",
    )


@_register("g_mst")  # rows-only: MST needs union-find/contraction — not
# SQL-expressible; exact edge-set agreement with a sequential Kruskal
# under the identical (w, src, dst) tie-break is pytest-proven
# (tests/test_mst.py, incl. equal-weight determinism + forest semantics)
def g_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka (analytics.py
    boruvka_mst) over the part–supplier supply graph (edge weight = the
    cheapest observed lineitem price for the pair): components halve per
    round — ≤ log₂V rounds of joins/aggs + pointer-doubling contraction,
    the only MST formulation with a dataflow shape. Returns the forest
    summary (deterministic: the strict edge order makes the MST
    unique)."""
    from torcdb_spark.analytics import boruvka_mst

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("w")
    )
    edges = pairs.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(10_000_000)).alias("dst"),
        "w",
    )
    mst = boruvka_mst(edges)
    return mst.agg(
        F.count("*").cast("long").alias("n_mst_edges"),
        F.round(F.sum("w"), 2).alias("total_weight"),
        F.round(F.max("w"), 2).alias("max_edge_weight"),
    )


@_register(
    "tp1_token_budget_selection",
    """WITH q AS (
         SELECT doc_id, n_tokens,
                floor(((CASE WHEN length(text) BETWEEN 100 AND 20000
                            THEN CAST(0.4 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                    + (CASE WHEN n_tokens > 0
                                 AND length(text)/n_tokens >= 3.0
                                 AND length(text)/n_tokens <= 12.0
                            THEN CAST(0.3 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                    + (CASE WHEN length(text) > 0
                            THEN CAST(length(regexp_replace(text,
                                      '[^A-Za-z]', '', 'g')) AS DOUBLE)
                                 / length(text)
                            ELSE CAST(0.0 AS DOUBLE) END)
                      * CAST(0.3 AS DOUBLE)) * 10000
                      + CAST(0.5 AS DOUBLE)) / 10000 AS quality
         FROM (SELECT doc_id, text,
                      CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                           END AS n_tokens
               FROM documents)
       ),
       r AS (
         SELECT doc_id, quality, n_tokens,
                SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                SUM(n_tokens) OVER () AS tot
         FROM q)
       SELECT CAST(count(*) AS BIGINT) AS n_kept,
              CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
              CAST(max(tot) AS BIGINT) AS total_tokens,
              min(quality) AS min_quality_kept,
              CAST(sum(doc_id) AS BIGINT) AS sum_ids
       FROM r
       WHERE cum <= floor(tot * CAST(0.5 AS DOUBLE))
          OR cum = n_tokens""",
)
def tp1_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted corpus selection (operators/rank.py
    top_p_by_weight): walk documents best-quality-first and keep the
    prefix covering 50% of all corpus tokens — the curation step that
    spends a fixed training budget on the best data. The inclusive
    running token sum is the distributed prefix-sum (no single-task
    window); weights are integral token counts, so the budget comparison
    is bit-exact. The oracle replays the selection with DuckDB's global
    window."""
    from torcdb_spark.operators.rank import top_p_by_weight
    from torcdb_spark.operators.text import quality_score, text_stats

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).join(
        text_stats(docs).select("doc_id", "n_tokens"), "doc_id"
    ).select(
        "doc_id", "quality", "n_tokens",
        (-F.col("quality")).alias("_nq"),
    )
    kept = top_p_by_weight(scored, ["_nq", "doc_id"], "n_tokens", p=0.5)
    return kept.agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
        F.min("quality").alias("min_quality_kept"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    ).crossJoin(
        F.broadcast(
            text_stats(docs).agg(
                F.sum("n_tokens").cast("long").alias("total_tokens")
            )
        )
    ).select(
        "n_kept", "tokens_kept", "total_tokens",
        "min_quality_kept", "sum_ids",
    )


@_register(
    "cur1_curriculum_stages",
    """WITH q AS (
         SELECT doc_id,
                floor(((CASE WHEN length(text) BETWEEN 100 AND 20000
                            THEN CAST(0.4 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                    + (CASE WHEN n_tokens > 0
                                 AND length(text)/n_tokens >= 3.0
                                 AND length(text)/n_tokens <= 12.0
                            THEN CAST(0.3 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                    + (CASE WHEN length(text) > 0
                            THEN CAST(length(regexp_replace(text,
                                      '[^A-Za-z]', '', 'g')) AS DOUBLE)
                                 / length(text)
                            ELSE CAST(0.0 AS DOUBLE) END)
                      * CAST(0.3 AS DOUBLE)) * 10000
                      + CAST(0.5 AS DOUBLE)) / 10000 AS quality
         FROM (SELECT doc_id, text,
                      CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                           END AS n_tokens
               FROM documents)
       ),
       r AS (
         SELECT doc_id, quality,
                row_number() OVER (ORDER BY quality, doc_id) AS rn,
                count(*) OVER () AS n
         FROM q)
       SELECT CAST(floor((rn - 1) * 4.0 / n) AS BIGINT) AS stage,
              CAST(count(*) AS BIGINT) AS n_docs,
              min(quality) AS min_q,
              max(quality) AS max_q,
              CAST(sum(doc_id) AS BIGINT) AS sum_ids
       FROM r GROUP BY 1""",
)
def cur1_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: rank the whole corpus by quality score (total
    order: quality, doc_id) and cut it into 4 equal stages — the
    easy-to-hard data ordering a curriculum-learning pipeline feeds the
    trainer. The ranking is the EXACT global row number computed with the
    distributed prefix-sum (operators/rank.py global_rank: range
    partition → partitioned window → tiny offset table), NOT Spark's
    single-task global window; the oracle recomputes it with DuckDB's
    global window — same numbers, scale-opposite physical plans."""
    from torcdb_spark.operators.rank import rank_buckets
    from torcdb_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs)
    staged = rank_buckets(
        scored, ["quality", "doc_id"], num_buckets=4, bucket_col="stage"
    )
    return staged.groupBy("stage").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("quality").alias("min_q"),
        F.max("quality").alias("max_q"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@_register(
    "sp1_stratified_split",
    """WITH tagged AS (
         SELECT source, doc_id,
                substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 13) AS u
         FROM documents)
       SELECT source,
              CASE WHEN u < 'ccccccccccccd' THEN 'train'
                   WHEN u < 'e666666666666' THEN 'val'
                   ELSE 'test' END AS split,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(doc_id) AS BIGINT) AS sum_ids
       FROM tagged GROUP BY 1, 2""",
)
def sp1_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment (operators/
    sampling.py stratified_split): md5-hash uniforms against
    config-time hex-threshold literals — a codegen CASE, zero joins,
    stable under corpus growth (a doc's split never changes when new
    data lands). The oracle inlines the IDENTICAL thresholds
    (split_thresholds), so every document's assignment is hash-checked
    via the per-(source, split) census."""
    from torcdb_spark.operators.sampling import stratified_split

    docs = load_table(spark, sf_dir, "documents")
    return stratified_split(docs, seed=0).groupBy("source", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@_register(
    "ivm1_view_maintenance",
    """SELECT o_custkey % 100 AS bucket,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                AS revenue_cents
       FROM orders
       WHERE o_orderkey % 13 = 0 OR o_orderkey % 7 <> 0
       GROUP BY 1""",
)
def ivm1_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py maintain_agg):
    a revenue-per-bucket view built on a base snapshot is maintained
    through a signed-multiplicity delta — inserts (orderkey%13=0, the
    rows missing from the base) and retractions (orderkey%7=0 rows of the
    base). The maintenance path touches the DELTA plus one outer merge;
    the oracle recomputes the view directly from the post-change table —
    two different computation paths that must agree bit-for-bit (measures
    are integral cents, so incremental subtraction is exact). Groups
    fully retracted by the delta must vanish, which the row count
    checks."""
    from torcdb_spark.operators.ivm import maintain_agg

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    keyed = orders.select(
        (F.col("o_custkey") % 100).alias("bucket"),
        cents.alias("revenue_cents"),
        "o_orderkey",
    )
    base = keyed.where(F.col("o_orderkey") % 13 != 0)
    view = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("revenue_cents").cast("long").alias("revenue_cents"),
    )
    inserts = keyed.where(F.col("o_orderkey") % 13 == 0).withColumn(
        "__m", F.lit(1)
    )
    deletes = base.where(F.col("o_orderkey") % 7 == 0).withColumn(
        "__m", F.lit(-1)
    )
    delta = inserts.unionByName(deletes).select(
        "bucket", "revenue_cents", "__m"
    )
    return maintain_agg(view, delta, ["bucket"], ["revenue_cents"])


@_register(
    "pf1_table_profile",
    __import__("torcdb_spark.operators.profile", fromlist=["profile_oracle_sql"])
    .profile_oracle_sql(
        "lineitem",
        ["l_orderkey", "l_quantity", "l_discount", "l_extendedprice"],
        ["l_returnflag", "l_linestatus"],
    ),
)
def pf1_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-statistics profiling (operators/profile.py table_profile):
    null counts, NDV, and typed min/max for 6 lineitem columns in ONE
    aggregate over ONE scan (Catalyst Expand for the multi-distinct),
    unpivoted in-plan to one row per column. The oracle computes the
    same stats the naive way — one pass per column — proving the fused
    single-scan plan loses nothing."""
    from torcdb_spark.operators.profile import table_profile

    return table_profile(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_quantity", "l_discount", "l_extendedprice"],
        ["l_returnflag", "l_linestatus"],
    )


@_register(
    "jl1_jsonl_roundtrip",
    """SELECT source,
              CAST(count(*) AS BIGINT) AS n_records,
              CAST(sum(doc_id) AS BIGINT) AS sum_ids,
              CAST(sum(length(text)) AS BIGINT) AS text_chars,
              CAST(0 AS BIGINT) AS n_parse_errors
       FROM documents GROUP BY source""",
)
def jl1_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus serde round-trip — the interchange format every LLM
    data pipeline writes and reads. Each fixture source becomes one
    newline-delimited shard (``to_json`` per record + concat framing:
    JSON escapes embedded newlines, so the framing is unambiguous), then
    the shard is fanned back out (split + explode) and parsed with
    ``from_json`` under an explicit schema — all JVM expressions, no
    Python in the loop. The oracle pins the parsed census per source:
    record count, id sum, text length sum, and zero parse failures —
    a wrong escape anywhere surfaces as a lost record or a null parse."""
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "source",
        F.to_json(F.struct("doc_id", "text", "lang")).alias("line"),
    )
    shards = lines.groupBy("source").agg(
        F.concat_ws("\n", F.collect_list("line")).alias("content")
    )
    rec_schema = "doc_id bigint, text string, lang string"
    parsed = shards.select(
        "source",
        F.explode(F.split("content", "\n")).alias("line"),
    ).select("source", "line", F.from_json("line", rec_schema).alias("r"))
    # PERMISSIVE-mode from_json returns a row of NULL FIELDS (never a
    # NULL struct) for malformed input since Spark 3.0, so testing
    # r IS NULL can never fire. A parse failure is a non-empty line
    # whose required doc_id came back NULL.
    return parsed.groupBy("source").agg(
        F.count("*").cast("long").alias("n_records"),
        F.sum(F.col("r.doc_id")).cast("long").alias("sum_ids"),
        F.sum(F.length("r.text")).cast("long").alias("text_chars"),
        F.sum(
            F.when(
                (F.length("line") > 0) & F.col("r.doc_id").isNull(), 1
            ).otherwise(0)
        )
        .cast("long").alias("n_parse_errors"),
    )


@_register(
    "jl2_jsonl_gz_ingest",
    """SELECT source,
              CAST(CEIL(count(*) / 5.0) AS BIGINT) AS n_members,
              CAST(count(*) AS BIGINT) AS n_records,
              CAST(sum(doc_id) AS BIGINT) AS sum_ids,
              CAST(sum(length(text)) AS BIGINT) AS text_chars,
              CAST(0 AS BIGINT) AS n_parse_errors
       FROM documents GROUP BY source""",
)
def jl2_jsonl_gz_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-member ``.jsonl.gz`` ingestion (RFC 1952 §2.2 allows a gzip
    file to be a series of members): one shard per source, every 5 JSONL
    lines an independent gzip member (sources/ingest.py jsonl_gz_shard).
    sources/ingest.py gzip_member_lines recovers every member with its
    index, where a single-member gunzip would read only the first; the
    JVM then splits, explodes and parses the records under an explicit
    schema.  The oracle replays ceil(n/5) members and the parsed census
    per source."""
    from torcdb_spark.sources import ingest

    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "source",
        F.to_json(F.struct("doc_id", "text", "lang")).alias("line"),
    )
    shards = lines.groupBy("source").agg(
        F.concat_ws("\n", F.collect_list("line")).alias("blob")
    ).select(
        F.concat(F.lit("src_"), F.col("source")).alias("path"),
        synth_udf(ingest.jsonl_gz_shard)(F.col("blob")).alias("content"),
    )
    members = ingest.gzip_member_lines(shards)
    rec_schema = "doc_id bigint, text string, lang string"
    parsed = members.select(
        F.regexp_replace("path", "^src_", "").alias("source"),
        "member_idx",
        F.explode(F.split("payload", "\n")).alias("line"),
    ).select(
        "source", "member_idx", "line",
        F.from_json("line", rec_schema).alias("r"),
    )
    return parsed.groupBy("source").agg(
        F.count_distinct("member_idx").cast("long").alias("n_members"),
        F.count("*").cast("long").alias("n_records"),
        F.sum(F.col("r.doc_id")).cast("long").alias("sum_ids"),
        F.sum(F.length("r.text")).cast("long").alias("text_chars"),
        F.sum(
            F.when(
                (F.length("line") > 0) & F.col("r.doc_id").isNull(), 1
            ).otherwise(0)
        )
        .cast("long").alias("n_parse_errors"),
    )


@_register(
    "dr1_distribution_drift",
    """WITH vals AS (
         SELECT o_totalprice AS v, o_orderpriority = '1-URGENT' AS is_a
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
       counts AS (
         SELECT v,
                SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
         FROM vals GROUP BY v),
       ns AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                     CAST(SUM(cb) AS BIGINT) AS n_b FROM counts),
       cums AS (
         SELECT SUM(ca) OVER (ORDER BY v) AS cum_a,
                SUM(cb) OVER (ORDER BY v) AS cum_b
         FROM counts),
       ks AS (
         SELECT round(MAX(ABS(CAST(cum_a AS DOUBLE) / n_a
                             - CAST(cum_b AS DOUBLE) / n_b)), 6) AS ks_d
         FROM cums, ns),
       bins AS (
         SELECT LEAST(GREATEST(CAST(FLOOR(v / 60000.0) AS BIGINT), 0), 9)
                  AS bin,
                SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
         FROM vals GROUP BY 1),
       p AS (
         SELECT round(SUM((pa - pb) * ln(pa / pb)), 6) AS psi
         FROM (SELECT (ca + 1.0) / (n_a + 10) AS pa,
                      (cb + 1.0) / (n_b + 10) AS pb
               FROM bins, ns))
       SELECT n_a, n_b, ks_d, psi FROM ns, ks, p""",
)
def dr1_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two order populations (operators/
    drift.py): two-sample Kolmogorov–Smirnov D over o_totalprice via the
    distributed prefix-sum ECDF (range partition → within-partition
    window cumsum → tiny per-partition offset table; NO single-task
    global-order window), plus Laplace-smoothed PSI over 10 fixed bins.
    The oracle recomputes both statistics with DuckDB's global window —
    same numbers, different physical strategy, which is exactly the
    point: the Spark formulation is the one that survives 100 TB."""
    from torcdb_spark.operators.drift import ecdf_max_gap, psi

    orders = load_table(spark, sf_dir, "orders")
    two_pop = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_a"),
    )
    ks = ecdf_max_gap(two_pop, "v", "is_a")
    ps = psi(two_pop, "v", "is_a", bin_width=60000.0, num_bins=10)
    return ks.join(ps, ["n_a", "n_b"]).select("n_a", "n_b", "ks_d", "psi")


@_register(
    "dq1_constraint_audit",
    """WITH ord AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
            li  AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
            rows_out AS (
         SELECT 'not_null(o_custkey)' AS rule,
                (SELECT n FROM ord) AS n_checked,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                  WHERE o_custkey IS NULL) AS n_violations
         UNION ALL
         SELECT 'in_set(o_orderstatus)', (SELECT n FROM ord),
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                  WHERE o_orderstatus IS NULL
                     OR o_orderstatus NOT IN ('F','O','P'))
         UNION ALL
         SELECT 'matches(o_orderpriority)', (SELECT n FROM ord),
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                  WHERE o_orderpriority IS NULL
                     OR NOT regexp_matches(o_orderpriority, '^[1-5]-'))
         UNION ALL
         SELECT 'in_range(o_totalprice)', (SELECT n FROM ord),
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                  WHERE o_totalprice IS NULL
                     OR o_totalprice < 0 OR o_totalprice > 100000)
         UNION ALL
         SELECT 'unique(o_orderkey)', (SELECT n FROM ord),
                (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                   FROM orders)
         UNION ALL
         SELECT 'in_range(l_quantity)', (SELECT n FROM li),
                (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                  WHERE l_quantity IS NULL
                     OR l_quantity < 1 OR l_quantity > 50)
         UNION ALL
         SELECT 'in_range(l_discount)', (SELECT n FROM li),
                (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                  WHERE l_discount IS NULL
                     OR l_discount < 0 OR l_discount > 0.1)
         UNION ALL
         SELECT 'unique(l_orderkey,l_linenumber)', (SELECT n FROM li),
                (SELECT CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                        AS BIGINT) FROM lineitem)
         UNION ALL
         SELECT 'foreign_key(l_orderkey)', (SELECT n FROM li),
                (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
       SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
       FROM rows_out""",
)
def dq1_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/audit.py constraint_audit):
    9 rules across two tables — not-null, set membership, regex, range,
    key uniqueness, composite uniqueness, and referential integrity.
    Every row-level + uniqueness rule folds into ONE aggregate per table
    (one scan each, whatever the rule count); the FK rule is one
    broadcast anti-join. The in_range(o_totalprice) rule fires ~12k real
    violations on the fixture, so the hash also verifies violation
    COUNTING, not just all-green paths."""
    from torcdb_spark.operators import audit as A

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    ord_audit = A.constraint_audit(orders, [
        A.not_null("o_custkey"),
        A.in_set("o_orderstatus", ["F", "O", "P"]),
        A.matches("o_orderpriority", "^[1-5]-"),
        A.in_range("o_totalprice", 0, 100000),
        A.unique("o_orderkey"),
    ])
    li_audit = A.constraint_audit(lineitem, [
        A.in_range("l_quantity", 1, 50),
        A.in_range("l_discount", 0, 0.1),
        A.unique("l_orderkey", "l_linenumber"),
        A.foreign_key("l_orderkey", orders, "o_orderkey"),
    ])
    return ord_audit.unionAll(li_audit)


@_register(
    "d20_bpe_encode",
    __import__("torcdb_spark.operators.bpe", fromlist=["bpe_encode_oracle_sql"])
    .bpe_encode_oracle_sql("documents", "text", "doc_id", num_merges=8),
)
def d20_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization end-to-end (operators/bpe.py bpe_train →
    bpe_encode): train 8 merges on the corpus, then apply them to every
    document — the merge table is driver-small by construction (it IS the
    vocabulary artifact) and folds into the plan as a chain of literal
    JVM replaces: zero joins, zero shuffles, whole-stage codegen across
    the whole encode. The oracle re-derives the merge table with the SAME
    relational training program and re-applies it per word, so token
    counts verify train AND apply in one hash — merge-order errors
    anywhere change the counts."""
    from torcdb_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=8)
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        "n_bpe_tokens",
        F.element_at("tokens", 1).alias("head_token"),
    )


@_register(
    "m6_jpeg_roundtrip",
    """SELECT doc_id AS media_id, CAST(16 AS BIGINT) AS width,
              CAST(16 AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels,
              TRUE AS within_tol
       FROM documents WHERE doc_id < 200""",
)
def m6_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG codec through the Spark multimodal path
    (operators/jpeg.py): per document a deterministic 16×16 smooth RGB
    test image is synthesized from its id, ENCODED to real baseline-JPEG
    bytes and DECODED back inside one Arrow-batched mapInPandas kernel;
    the query reports decoded dimensions plus a bounded-error check
    against the source image (|err|max ≤ 12 at quality 90 — the
    quantization-table bound, with margin; exactness of the codec itself
    is pytest-proven per path: 4:4:4/4:2:0/gray/restart). The oracle pins
    the structural fields and the tolerance contract — the same
    verification shape as m4/m5's audio features."""
    import pandas as pd

    from torcdb_spark.operators.jpeg import decode_jpeg, encode_jpeg_baseline

    docs = regime.spread(load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    ).select("doc_id"))

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                yy, xx = np.mgrid[0:16, 0:16]
                img = np.stack(
                    [
                        128 + 100 * np.sin((xx + d) / 5.0) * np.cos(yy / 7.0),
                        128 + 100 * np.sin((yy + d) / 6.0),
                        128 + 100 * np.cos((xx + yy + d) / 9.0),
                    ],
                    axis=-1,
                )
                img = np.clip(np.round(img), 0, 255).astype(np.uint8)
                dec = decode_jpeg(encode_jpeg_baseline(img, quality=90))
                err = int(
                    np.abs(dec.astype(int) - img.astype(int)).max()
                )
                rows.append(
                    {
                        "media_id": d,
                        "width": dec.shape[1],
                        "height": dec.shape[0],
                        "channels": dec.shape[2],
                        "within_tol": err <= 12,
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        "media_id long, width long, height long, channels long, "
        "within_tol boolean",
    )


@_register(
    "m13_webp_roundtrip",
    """SELECT doc_id AS media_id,
              CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
              CAST(3 AS BIGINT) AS channels,
              CAST(sum((3 * doc_id + 7 * x.i + 11 * y.i) % 256) AS BIGINT)
                AS sum_r,
              CAST(sum((5 * doc_id + 13 * x.i + 3 * y.i) % 256) AS BIGINT)
                AS sum_g,
              CAST(sum((doc_id + x.i * y.i) % 256) AS BIGINT) AS sum_b,
              TRUE AS exact
       FROM documents, range(16) x(i), range(16) y(i)
       WHERE doc_id < 200 GROUP BY doc_id""",
)
def m13_webp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-WebP (VP8L) codec through the Spark multimodal path
    (operators/webp.py): per document a deterministic 16×16 integer RGB
    image ((3d+7x+11y)%256, (5d+13x+3y)%256, (d+xy)%256) is ENCODED to
    real VP8L bytes and DECODED back inside one Arrow-batched
    mapInPandas kernel — with the transform set rotating by doc_id
    (plain literals / subtract-green / per-mode predictor / color cache
    + LZ77), so the driver hash pins every encoder-decoder path, not
    one. Because VP8L is lossless the decode is bit-exact, and the
    oracle replays the per-channel byte sums of the SOURCE grid in pure
    SQL — a stronger contract than m6's bounded-error JPEG check.
    (Reference media-column surface; this engine's multimodal suite —
    SURVEY §2 m-family.)"""
    import pandas as pd

    from torcdb_spark.operators.webp import (
        decode_webp,
        encode_webp_lossless,
    )

    docs = regime.spread(load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    ).select("doc_id"))

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                yy, xx = np.mgrid[0:16, 0:16]
                img = np.stack(
                    [
                        (3 * d + 7 * xx + 11 * yy) % 256,
                        (5 * d + 13 * xx + 3 * yy) % 256,
                        (d + xx * yy) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                variant = d % 4
                if variant == 1:
                    payload = encode_webp_lossless(
                        img, use_subtract_green=True
                    )
                elif variant == 2:
                    payload = encode_webp_lossless(
                        img, predictor_mode=d % 14
                    )
                elif variant == 3:
                    payload = encode_webp_lossless(
                        img, cache_bits=4, use_rle=True
                    )
                else:
                    payload = encode_webp_lossless(img)
                dec = decode_webp(payload)
                s = dec.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    {
                        "media_id": d,
                        "width": dec.shape[1],
                        "height": dec.shape[0],
                        "channels": dec.shape[2],
                        "sum_r": int(s[0]),
                        "sum_g": int(s[1]),
                        "sum_b": int(s[2]),
                        "exact": bool(np.array_equal(dec, img)),
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        "media_id long, width long, height long, channels long, "
        "sum_r long, sum_g long, sum_b long, exact boolean",
    )


@_register(
    "d33_unicode_nfc",
    """WITH deco AS (
         SELECT doc_id,
                replace(text, 'e', 'e' || chr(769)) AS d
         FROM documents)
       SELECT doc_id,
              CAST(length(d) AS BIGINT) AS n_chars_in,
              CAST(length(nfc_normalize(d)) AS BIGINT) AS n_chars_nfc,
              d <> nfc_normalize(d) AS changed
       FROM deco""",
)
def d33_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization census (operators/text.py unicode_nfc):
    the fixtures are pure ASCII (already NFC), so the query first
    synthesizes canonically-decomposed text deterministically — every
    'e' becomes 'e' + U+0301 COMBINING ACUTE — then normalizes; NFC
    composes each pair back to 'é', so code-point counts and the
    changed flag are exactly replayable by DuckDB's nfc_normalize.
    (Text-hygiene family alongside d11 PII scrub / d28 Gopher rules:
    the pass that makes canonically-equivalent strings hash identically
    before dedup.)"""
    from torcdb_spark.operators.text import unicode_nfc

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # decomposed sequence: 'e' + U+0301 COMBINING ACUTE
        F.regexp_replace(F.col("text"), "e", "e\u0301").alias("text"),
    )
    return unicode_nfc(docs).select(
        "doc_id", "n_chars_in", "n_chars_nfc", "changed"
    )


# ---------------------------------------------------------------------------
# Decontamination + cross-document span duplication (SURVEY §2.5 text
# hygiene: the two corpus-vs-corpus exact-overlap passes every pre-training
# pipeline runs — benchmark leakage detection and keep-first span dedup)
# ---------------------------------------------------------------------------


@_register(
    "dc1_benchmark_decontam",
    """WITH toks AS (
         SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         FROM documents
       ),
       spans AS (
         SELECT DISTINCT doc_id,
                array_to_string(t[i : i + 2], ' ') AS shingle
         FROM (SELECT doc_id, t,
                      unnest(generate_series(1, len(t) - 2)) AS i
               FROM toks WHERE len(t) >= 3)
       ),
       bench AS (
         SELECT DISTINCT shingle FROM spans WHERE doc_id % 29 = 0
       )
       SELECT s.doc_id,
              CAST(count(*) AS BIGINT) AS n_shingles,
              CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_matched,
              round(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    * 1.0 / count(*), 4) AS contamination
       FROM spans s LEFT JOIN bench b USING (shingle)
       WHERE s.doc_id % 29 <> 0
       GROUP BY s.doc_id""",
)
def dc1_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents corpus: docs with
    doc_id % 29 == 0 stand in for the held-out benchmark; every other
    document is scored by the fraction of its distinct word trigrams that
    appear anywhere in the benchmark set (operators/text.benchmark_overlap
    — broadcast benchmark shingles, map-side probe, one id-keyed agg; the
    corpus side is never shuffled). Production runs 13-grams; trigrams
    make overlap observable on the synthetic fixture vocabulary."""
    from torcdb_spark.operators.text import benchmark_overlap

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 29 != 0)
    bench = docs.where(F.col("doc_id") % 29 == 0)
    return benchmark_overlap(corpus, bench, n=3)


@_register(
    "d19_span_dedup_stats",
    """WITH toks AS (
         SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         FROM documents
       ),
       spans AS (
         SELECT DISTINCT doc_id,
                array_to_string(t[i : i + 2], ' ') AS span
         FROM (SELECT doc_id, t,
                      unnest(generate_series(1, len(t) - 2)) AS i
               FROM toks WHERE len(t) >= 3)
       ),
       owners AS (SELECT span, min(doc_id) AS owner FROM spans GROUP BY span)
       SELECT s.doc_id,
              CAST(count(*) AS BIGINT) AS n_spans,
              CAST(sum(CASE WHEN o.owner < s.doc_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_foreign_dups,
              round(sum(CASE WHEN o.owner < s.doc_id THEN 1 ELSE 0 END)
                    * 1.0 / count(*), 4) AS dup_frac
       FROM spans s JOIN owners o USING (span)
       GROUP BY s.doc_id""",
)
def d19_span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact span duplication (C4/ExactSubstr-style
    keep-first retention signal): each distinct word trigram is owned by
    its lowest doc_id; other carriers hold foreign duplicates
    (operators/text.cross_doc_span_stats — span-keyed min-owner aggregate
    whose exchange Catalyst reuses for the join back, then one id-keyed
    agg; no corpus-wide window, no driver state)."""
    from torcdb_spark.operators.text import cross_doc_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return cross_doc_span_stats(docs, n=3)


@_register("g_lpa_communities")  # iterative frequency vote: rows-only check
def g_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label-propagation (5 fixed
    supersteps, min-label tie-break — deterministic, exact pure-Python
    agreement pytest-proven) over the geography subgraph; reports
    community sizes. Unlike g_connected_components' min-label flood, the
    frequency vote keeps dense nation neighborhoods distinct."""
    from torcdb_spark.analytics import label_propagation

    g = _graph(spark, sf_dir)
    geo = g.edges.where(
        F.col("label").isin(["fromNation", "suppFromNation", "inRegion"])
    )
    lpa = label_propagation(geo, max_iter=5)
    return (
        lpa.groupBy("community")
        .agg(F.count("*").alias("size"))
        .select(
            id_lower(F.col("community")).alias("community_key"),
            F.col("size").cast("long").alias("size"),
        )
    )


@_register("m7_phash_near_dups")  # rows-only: pHash rides the Python
# decode+DCT kernel; exactness (hash values AND the pair set) is
# pytest-verified against brute-force numpy on constructed images
def m7_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs: each document's text bytes
    are framed as a 16×8 P6 PPM payload (the m3 decode fixture — exact
    duplicate texts become pixel-identical images), pHashed through the
    real decode path (operators/multimodal.image_phash: luma → 32×32 →
    DCT → median threshold), and paired at hamming <= 3 by the banded
    pigeonhole equi-join shared with d14. Reports per-hamming pair
    counts — the image-dedup census."""
    from torcdb_spark.operators.multimodal import phash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    w, h = 16, 8
    header = F.encode(F.lit(f"P6\n{w} {h}\n255\n"), "utf-8")
    body = F.encode(F.rpad(F.col("text"), w * h * 3, " "), "utf-8")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, body).alias("payload"),
    )
    pairs = phash_near_dup_pairs(media, max_hamming=3, bands=4)
    return (
        pairs.groupBy("hamming")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .select("hamming", "n_pairs")
    )


@_register("e8_semantic_dedup")  # rows-only: k-means cells + float cosine
# + iterative CC; group semantics are pytest-exact vs brute-force numpy
def e8_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embeddings table
    (operators/similarity.semantic_dedup): k-means cells bound the
    quadratic, within-cell cosine >= 0.95 pairs, connected-components
    closure, min-id representative per duplicate group. Returns the
    per-vector keep/drop verdict a cleaned corpus applies."""
    from torcdb_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.95, num_cells=8, kmeans_iters=1)


@_register(
    "lp1_adamic_adar",
    """WITH b AS (
         SELECT DISTINCT l_partkey AS i, l_orderkey AS o FROM lineitem
       ),
       deg AS (
         SELECT o, count(*) AS d FROM b GROUP BY o
         HAVING count(*) BETWEEN 2 AND 1000
       ),
       co AS (
         SELECT x.i AS item_a, y.i AS item_b, deg.d
         FROM b x JOIN b y ON x.o = y.o AND x.i < y.i
         JOIN deg ON deg.o = x.o
       ),
       agg AS (
         SELECT item_a, item_b,
                CAST(count(*) AS BIGINT) AS n_common,
                round(sum(1.0 / ln(d)), 4) AS aa_score
         FROM co GROUP BY 1, 2
       )
       SELECT item_a, item_b, n_common, aa_score
       FROM agg
       ORDER BY aa_score DESC, item_a ASC, item_b ASC
       LIMIT 20""",
)
def lp1_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the part↔order co-purchase
    bipartite relation (analytics.adamic_adar): part pairs sharing
    orders, each common order weighted 1/ln(#parts in it) — top 20
    predicted links. The pair blow-up is bounded by basket size (max 13
    parts/order in the fixture; mega-baskets capped at 1000), every step
    an equi-join/aggregate keyed on order or pair."""
    from torcdb_spark.analytics import adamic_adar

    li = load_table(spark, sf_dir, "lineitem")
    aa = adamic_adar(
        li.select(
            F.col("l_partkey").alias("item"), F.col("l_orderkey").alias("basket")
        ),
        item_col="item",
        basket_col="basket",
    )
    return (
        aa.select(
            F.col("item_a").cast("long").alias("item_a"),
            F.col("item_b").cast("long").alias("item_b"),
            "n_common",
            "aa_score",
        )
        .orderBy(F.desc("aa_score"), F.asc("item_a"), F.asc("item_b"))
        .limit(20)
    )


@_register(
    "m8_video_frames",
    """WITH f(frame_idx) AS (VALUES (CAST(0 AS BIGINT)), (CAST(2 AS BIGINT)))
       SELECT doc_id AS media_id, frame_idx,
              CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
              TRUE AS decoded_ok
       FROM documents CROSS JOIN f
       WHERE doc_id % 10 = 0""",
)
def m8_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame sampling end-to-end: per document a deterministic
    4-frame 16×16 MJPEG-in-AVI payload is synthesized executor-side
    (encode_avi_mjpeg — RIFF hdrl/movi/idx1 + baseline JPEG frames), then
    operators/multimodal.video_frame_features parses the container and
    JPEG-decodes every 2nd frame (unsampled frames are never decoded —
    the container-aware seek that makes frame sampling viable at 100 TB).
    The oracle pins the structural contract (each doc yields exactly
    frames 0 and 2 at 16×16, cleanly decoded); frame pixel fidelity is
    pytest-exact (tests/test_operators.py)."""
    import numpy as np

    from torcdb_spark.operators.multimodal import (
        encode_avi_mjpeg,
        video_frame_features,
    )

    # deterministic 10% sample: frame-sampling a video corpus SAMPLE is
    # the production shape (the full-corpus pass is the same plan at 10×
    # the Python-codec cost — the pure-numpy baseline JPEG coder prices
    # each 16×16 frame at ~1 ms where a native lib is ~10 µs)
    docs = regime.spread(
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )

    def avi(d):
        yy, xx = np.mgrid[0:16, 0:16]
        frames = []
        for fi in range(4):
            img = np.stack(
                [
                    128 + 100 * np.sin((xx + d + 3 * fi) / 5.0),
                    128 + 80 * np.cos((yy + fi) / 4.0),
                    128 + 60 * np.sin((xx + yy + d) / 7.0),
                ],
                axis=-1,
            )
            frames.append(np.clip(np.round(img), 0, 255).astype(np.uint8))
        return encode_avi_mjpeg(frames, quality=90)

    media = _synth_media(docs, avi, "doc_id")
    feats = video_frame_features(media, every_n=2)
    return feats.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        (F.col("decode_err").isNull() & F.col("mean_luma").isNotNull()).alias(
            "decoded_ok"
        ),
    )


@_register(
    "pk1_sequence_packing",
    """WITH toks AS (
         SELECT doc_id, doc_id % 8 AS shard,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                END AS n_tokens
         FROM documents
       ),
       packed AS (
         SELECT doc_id, shard, n_tokens,
                COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS off
         FROM toks
       )
       SELECT shard, CAST(off // 128 AS BIGINT) AS seq_id,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              round(sum(n_tokens) / 128.0, 4) AS fill_rate
       FROM packed
       GROUP BY shard, off // 128""",
)
def pk1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training sequence-packing plan (operators/text.pack_sequences +
    packing_stats): documents hash-sharded, concatenated in id order per
    shard, sliced into 128-token sequences (greedy contiguous / GPT-style
    concatenate-and-slice). The running sum windows BY SHARD — the
    formulation that parallelizes where a corpus-wide cumsum would be one
    serial window. Shard key is id % 8 here so the DuckDB oracle replays
    the plan hash-free; production uses the default xxhash64 shard."""
    from torcdb_spark.operators.text import pack_sequences, packing_stats

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs, capacity=128, n_shards=8, shard=F.col("doc_id") % 8
    )
    return packing_stats(packed, capacity=128)


@_register(
    "m9_gif_roundtrip",
    """SELECT doc_id AS media_id,
              CAST(24 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
              TRUE AS lossless
       FROM documents WHERE doc_id % 10 = 0""",
)
def m9_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF codec through the multimodal decode path: per sampled document
    a deterministic 16-color paletted 24×16 image is encoded as GIF89a
    (operators/gif.py — real variable-code-width LZW with CLEAR handling)
    and decoded back via decode_image's dispatch. Paletted GIF is
    LOSSLESS, so the oracle pins an exact pixel round-trip (lossless =
    decoded == palette[indices]) plus dimensions — a harder contract than
    the quantization-bounded JPEG one (m6)."""
    from torcdb_spark.operators.gif import encode_gif
    from torcdb_spark.operators.multimodal import decode_image

    docs = (
        regime.spread(load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id"))
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            yy, xx = np.mgrid[0:16, 0:24]
            for d in pdf["doc_id"]:
                pal = np.stack(
                    [
                        (np.arange(16) * 17) % 256,
                        (np.arange(16) * 31 + int(d)) % 256,
                        (np.arange(16) * 13) % 256,
                    ],
                    axis=1,
                ).astype(np.uint8)
                idx = ((xx + yy + int(d)) % 16).astype(np.uint8)
                dec = decode_image(encode_gif(idx, pal))
                rows.append(
                    {
                        "media_id": d,
                        "width": dec.shape[1],
                        "height": dec.shape[0],
                        "lossless": bool((dec == pal[idx]).all()),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "lossless"]
            )

    return docs.mapInPandas(
        kernel, "media_id long, width long, height long, lossless boolean"
    )


@_register(
    "d21_lm_perplexity",
    """WITH ref AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         FROM documents WHERE doc_id % 29 = 0
       ),
       vocab AS (SELECT DISTINCT unnest(t) AS term FROM ref),
       v AS (SELECT count(*) + 1 AS vs FROM vocab),
       refbi AS (
         SELECT CASE WHEN i = 1 THEN '<s>' ELSE t[i - 1] END AS prev,
                t[i] AS cur
         FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
               FROM ref)
       ),
       bigc AS (SELECT prev, cur, count(*) AS c_bi FROM refbi GROUP BY 1, 2),
       ctxc AS (SELECT prev, count(*) AS c_ctx FROM refbi GROUP BY 1),
       corp AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         FROM documents
       ),
       corpbi0 AS (
         SELECT doc_id,
                CASE WHEN i = 1 THEN '<s>' ELSE t[i - 1] END AS prev0,
                t[i] AS cur0
         FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
               FROM corp)
       ),
       corpbi AS (
         SELECT doc_id,
                CASE WHEN prev0 = '<s>'
                          OR prev0 IN (SELECT term FROM vocab)
                     THEN prev0 ELSE '<unk>' END AS prev,
                CASE WHEN cur0 IN (SELECT term FROM vocab)
                     THEN cur0 ELSE '<unk>' END AS cur
         FROM corpbi0
       ),
       lp AS (
         SELECT doc_id,
                ln((COALESCE(c_bi, 0) + 0.5)
                   / (COALESCE(c_ctx, 0) + 0.5 * (SELECT vs FROM v))) AS l
         FROM corpbi
         LEFT JOIN bigc USING (prev, cur)
         LEFT JOIN ctxc USING (prev)
       )
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              round(exp(-sum(l) / count(*)), 4) AS ppl
       FROM lp GROUP BY doc_id""",
)
def d21_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (operators/text.bigram_perplexity):
    an add-0.5-smoothed bigram LM is trained on the doc_id % 29 == 0
    reference split (two map-side-combinable aggregates over the small
    reference), broadcast into one scan of the full corpus, and every
    document scored by perplexity. The oracle replays the entire model —
    counts, unk mapping, smoothing, log-sum — relationally."""
    from torcdb_spark.operators.text import bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return bigram_perplexity(docs, docs.where(F.col("doc_id") % 29 == 0))


@_register(
    "mx1_domain_mixture",
    """WITH base AS (
         SELECT doc_id, source,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                END AS n_tokens
         FROM documents
       ),
       totals AS (
         SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS tot
         FROM base GROUP BY source
       ),
       rates AS (
         SELECT source, (SELECT min(tot) FROM totals) / tot AS rate
         FROM totals
       ),
       kept AS (
         SELECT b.doc_id, b.source, b.n_tokens, r.rate
         FROM base b JOIN rates r USING (source)
         WHERE rate >= 1.0
            OR substr(md5(CAST(b.doc_id AS VARCHAR) || ':0'), 1, 13)
               < printf('%013x', CAST(floor(rate * 4503599627370496) AS BIGINT))
       )
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
              round(any_value(rate), 6) AS rate
       FROM kept GROUP BY source""",
)
def mx1_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training domain-mixture flattening
    (operators/sampling.mixture_downsample): every source downsampled by
    deterministic md5 selection to ~the smallest source's TOKEN budget —
    per-source rates computed in-plan from one broadcast totals
    aggregate, corpus never shuffled. The oracle replays the exact kept
    set, hex thresholds included."""
    from torcdb_spark.operators.sampling import mixture_downsample
    from torcdb_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_downsample(
        docs.select("doc_id", "source", "text"),
        source_col="source",
        weight_col=token_count(F.col("text")),
    ).withColumn("n_tokens", token_count(F.col("text")))
    return kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
        F.round(F.first("rate"), 6).alias("rate"),
    )


@_register(
    "st_docs_history_dedup",
    """WITH hist AS (
         SELECT DISTINCT lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
                  AS nt
         FROM documents WHERE doc_id % 3 = 0
       )
       SELECT source, CAST(count(*) AS BIGINT) AS n_new
       FROM documents
       WHERE lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
             NOT IN (SELECT nt FROM hist)
       GROUP BY source""",
)
def st_docs_history_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming ingest dedup: the documents table replayed as a
    file stream (crawl-batch shape), each micro-batch fingerprinted
    (xxhash64 of normalized text, the d1 key) and LEFT-ANTI joined
    against the static historical fingerprint set (doc_id % 3 == 0) —
    streaming/jobs.dedup_against_history: stream-static anti join, no
    state store, history never evicted. Counts surviving docs per
    source; the oracle replays the same dedup on normalized text."""
    import os
    import tempfile

    from torcdb_spark.operators.text import fingerprint
    from torcdb_spark.streaming.jobs import (
        dedup_against_history,
        docs_stream,
        run_to_memory,
    )

    slug = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"torcdb_stream_docs_{slug}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/documents.parquet", link)

    stream = docs_stream(spark, d).withColumn("fp", fingerprint(F.col("text")))
    history = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 == 0)
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    kept = dedup_against_history(stream, history, "fp")
    agg = kept.groupBy("source").agg(F.count("*").cast("long").alias("n_new"))
    run_to_memory(agg, "st_hist_dedup", output_mode="complete")
    return spark.table("st_hist_dedup")


@_register(
    "e9_hard_negatives",
    """WITH a AS (SELECT vec_id AS anchor_id, label AS al,
                         CAST(embedding AS DOUBLE[]) AS av
                  FROM embeddings WHERE vec_id < 20),
       scored AS (
         SELECT anchor_id, e.vec_id AS neighbor_id,
                round(list_dot_product(av, CAST(e.embedding AS DOUBLE[]))
                      / (sqrt(list_dot_product(av, av))
                         * sqrt(list_dot_product(
                               CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))),
                      3) AS score
         FROM a, embeddings e
         WHERE e.vec_id <> anchor_id AND e.label <> al)
       SELECT anchor_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                          ORDER BY score DESC, neighbor_id)
                       AS rnk
             FROM scored)
       WHERE rnk <= 3""",
)
def e9_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/similarity.hard_negative_mining): per anchor (vec_id <
    20) the 3 most-similar DIFFERENT-label vectors — anchors broadcast
    into a partition-parallel corpus scan, JVM cosine, windowed top-k."""
    from torcdb_spark.operators.similarity import hard_negative_mining

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    anchors = emb.where(F.col("vec_id") < 20)
    return hard_negative_mining(emb, anchors, k=3)


@_register(
    "w1_warc_ingest",
    """SELECT source AS path,
              CAST(count(*) AS BIGINT) AS n_records,
              CAST(sum(octet_length(encode(text))) AS BIGINT) AS payload_bytes
       FROM documents GROUP BY source""",
)
def w1_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive ingestion end-to-end (sources/warc.py): each
    fixture source becomes one .warc.gz archive (independent gzip member
    per record — the splittable CommonCrawl layout, written by the real
    serializer), then warc_records fans the archives back out to one row
    per record inside one Arrow pass. The oracle pins the full record
    census: every document must come back as exactly one response record
    with its byte-exact payload length."""
    from torcdb_spark.sources.warc import warc_records, write_warc

    docs = load_table(spark, sf_dir, "documents")

    def build(pdf):
        import pandas as pd

        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://fixture/{int(r.doc_id)}",
                },
                r.text.encode(),
            )
            for r in pdf.sort_values("doc_id").itertuples()
        ]
        return pd.DataFrame(
            {"path": [pdf["source"].iloc[0]], "content": [write_warc(recs)]}
        )

    archives = docs.select("doc_id", "source", "text").groupBy("source").applyInPandas(
        build, "path string, content binary"
    )
    recs = warc_records(archives)
    return recs.groupBy("path").agg(
        F.count("*").cast("long").alias("n_records"),
        F.sum("content_length").cast("long").alias("payload_bytes"),
    )


@_register(
    "h2_html_extract",
    """WITH pages AS (
         SELECT doc_id,
                '<html><head><title>t</title>'
                || '<script type="text/javascript">var x = 1 < 2;</script>'
                || '<style>.c { color: red; }</style></head>'
                || '<body><!-- nav --><h1>Doc ' || doc_id || '</h1><p>'
                || text
                || '</p><div>&amp;copy; &lt;fixture&gt; &#39;' || source
                || '&#39;</div></body></html>' AS html
         FROM documents
       ),
       ext AS (
         SELECT doc_id,
                trim(regexp_replace(
                  replace(replace(replace(replace(replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(html,
                            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                        '(?s)<!--.*?-->', ' ', 'g'),
                      '(?s)<[^>]+>', ' ', 'g'),
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&#39;', ''''), '&amp;', '&'),
                  '\\s+', ' ', 'g')) AS extracted
         FROM pages
       )
       SELECT doc_id,
              CAST(length(extracted) AS BIGINT) AS n_chars,
              substr(extracted, 1, 40) AS head
       FROM ext""",
)
def h2_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction over synthesized crawl pages: each document
    is wrapped in a realistic page (script with a '<' in code, style
    block, comment, entities), then operators/text.html_to_text strips it
    back out as a pure JVM regex chain. The oracle replays the identical
    extraction in RE2 — the patterns are chosen for byte-identical
    semantics across engines, and the result is compared on length AND a
    40-char prefix of the extracted text."""
    from torcdb_spark.operators.text import html_to_text

    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>t</title>"),
            F.lit('<script type="text/javascript">var x = 1 < 2;</script>'),
            F.lit("<style>.c { color: red; }</style></head>"),
            F.lit("<body><!-- nav --><h1>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p><div>&amp;copy; &lt;fixture&gt; &#39;"),
            F.col("source"),
            F.lit("&#39;</div></body></html>"),
        ).alias("html"),
    )
    ext = pages.select("doc_id", html_to_text(F.col("html")).alias("extracted"))
    return ext.select(
        "doc_id",
        F.length("extracted").cast("long").alias("n_chars"),
        F.substring("extracted", 1, 40).alias("head"),
    )


@_register(
    "u1_url_domain_stats",
    """WITH urls AS (
         SELECT doc_id,
                'https://' || lang || '.' || source
                || '.example.com:8443/docs/' || doc_id
                || '?ref=abc#frag' AS url
         FROM documents
       ),
       parts AS (
         SELECT doc_id,
                lower(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS rawhost,
                regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path
         FROM urls
       ),
       hosts AS (
         SELECT doc_id, regexp_replace(rawhost, ':[0-9]+$', '') AS host, path
         FROM parts
       )
       SELECT regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS registered_domain,
              CAST(count(*) AS BIGINT) AS n_pages,
              CAST(count(DISTINCT path) AS BIGINT) AS n_paths
       FROM hosts GROUP BY 1""",
)
def u1_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl census over synthesized page URLs (scheme +
    subdomains + port + query + fragment all exercised):
    operators/text.url_parts — one JVM regex pass, RE2-identical
    patterns — grouped by registered domain. The primitive behind
    domain blocklists (operators/text.domain_filter) and URL-keyed
    dedup."""
    from torcdb_spark.operators.text import url_parts

    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("lang"), F.lit("."), F.col("source"),
            F.lit(".example.com:8443/docs/"), F.col("doc_id").cast("string"),
            F.lit("?ref=abc#frag"),
        ).alias("url"),
    )
    p = urls.select("doc_id", url_parts(F.col("url")).alias("u"))
    return p.groupBy(F.col("u")["registered_domain"].alias("registered_domain")).agg(
        F.count("*").cast("long").alias("n_pages"),
        F.countDistinct(F.col("u")["path"]).cast("long").alias("n_paths"),
    )


@_register(
    "v1_npy_ingest",
    """SELECT 'label_' || label AS path,
              CAST(count(*) AS BIGINT) AS n_vecs,
              CAST(max(len(embedding)) AS BIGINT) AS dim,
              CAST(count(*) AS BIGINT) AS n_exact
       FROM embeddings GROUP BY label""",
)
def v1_npy_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tensor-dump ingestion end-to-end (sources/tensors.py): each label's
    embedding matrix is packed as a REAL .npy dump (vec_id order, NumPy
    format v1 — the parser also reads np.save output, pytest-proven),
    fanned back out one row per vector, and joined against the original
    table by (label, rank): ``n_exact`` counts vectors that came back
    BIT-IDENTICAL, and the oracle pins n_exact == n_vecs — byte fidelity
    through the whole pack→parse→fan-out path."""
    from pyspark.sql.window import Window as W

    from torcdb_spark.sources.tensors import vectors_from_npy, write_npy

    emb = load_table(spark, sf_dir, "embeddings")

    def pack(pdf):
        import numpy as np
        import pandas as pd

        p = pdf.sort_values("vec_id")
        mat = np.asarray(p["embedding"].tolist(), dtype=np.float32)
        return pd.DataFrame(
            {
                "path": [f"label_{int(p['label'].iloc[0])}"],
                "content": [write_npy(mat)],
            }
        )

    dumps = emb.select("vec_id", "label", "embedding").groupBy("label").applyInPandas(
        pack, "path string, content binary"
    )
    vecs = vectors_from_npy(dumps)
    ranked = emb.select(
        F.concat(F.lit("label_"), F.col("label").cast("string")).alias("path"),
        (
            F.row_number().over(
                W.partitionBy("label").orderBy("vec_id")
            )
            - 1
        ).alias("row_idx"),
        "embedding",
    )
    joined = vecs.join(ranked, ["path", "row_idx"])
    return joined.groupBy("path").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.max(F.size("vec")).cast("long").alias("dim"),
        F.sum(F.when(F.col("vec") == F.col("embedding"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
    )


@_register(
    "cv1_conversation_assembly",
    """WITH tagged AS (
         SELECT user_id, ts, event_id, event_type,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             > 30 * 60 * 1000000
                     THEN 1 ELSE 0 END AS brk
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ),
       sess AS (
         SELECT *, SUM(brk) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS session_id
         FROM tagged
       )
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              CAST(count(*) AS BIGINT) AS n_turns,
              string_agg(event_type, '>' ORDER BY ts, event_id) AS turns
       FROM sess GROUP BY user_id, session_id""",
)
def cv1_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation assembly for instruction-data prep
    (operators/funnel.assemble_conversations): the events log
    gap-sessionized per user (30-min boundary, (ts, event_id)-ordered so
    ties are deterministic) with each session materialized as its ordered
    '>'-joined turn sequence. The oracle replays boundaries AND the exact
    turn strings via ordered string_agg."""
    from torcdb_spark.operators.funnel import assemble_conversations

    ev = load_table(spark, sf_dir, "events")
    return assemble_conversations(ev, gap_minutes=30)


@_register(
    "ar1_zip_ingest",
    """SELECT source AS path,
              CAST(count(*) AS BIGINT) AS n_members,
              CAST(sum(octet_length(encode(text))) AS BIGINT) AS payload_bytes
       FROM documents GROUP BY source""",
)
def ar1_zip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP bundle ingestion end-to-end (sources/warc.zip_members): each
    fixture source zipped into one DEFLATE archive (stdlib zipfile, one
    member per document), then fanned back out per member. The oracle
    pins the member census with byte-exact payload sizes — the same
    contract as w1's WARC path, over the other archive format document
    drops actually use."""
    import io
    import zipfile

    from torcdb_spark.sources.warc import zip_members

    docs = load_table(spark, sf_dir, "documents")

    def build(pdf):
        import pandas as pd

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for r in pdf.sort_values("doc_id").itertuples():
                zf.writestr(f"{int(r.doc_id)}.txt", r.text)
        return pd.DataFrame(
            {"path": [pdf["source"].iloc[0]], "content": [buf.getvalue()]}
        )

    archives = docs.select("doc_id", "source", "text").groupBy("source").applyInPandas(
        build, "path string, content binary"
    )
    members = zip_members(archives)
    return members.groupBy("path").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("n_bytes").cast("long").alias("payload_bytes"),
    )


@_register(
    "l1_link_graph",
    """WITH pages AS (
         SELECT doc_id,
                lower(lang) || '.' || source || '.example.com' AS src_host,
                '<html><body>'
                || '<a HREF="https://' || source || '.partner.org/p/'
                || doc_id || '">x</a>'
                || '<a href="https://hub.example.net/t?d=' || doc_id
                || '">y</a>'
                || CASE WHEN doc_id % 2 = 0
                        THEN '<a href="https://' || lang
                             || '.mirror.io/m">z</a>'
                        ELSE '' END
                || '</body></html>' AS html
         FROM documents
       ),
       links AS (
         SELECT doc_id, src_host,
                unnest(regexp_extract_all(html,
                    '(?i)href\\s*=\\s*"([^"]*)"', 1)) AS href
         FROM pages
       ),
       edges AS (
         SELECT regexp_extract(src_host, '([^.]+\\.[^.]+)$', 1) AS src_domain,
                regexp_extract(
                  regexp_replace(
                    lower(regexp_extract(href,
                        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                    ':[0-9]+$', ''),
                  '([^.]+\\.[^.]+)$', 1) AS dst_domain
         FROM links
       )
       SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links
       FROM edges GROUP BY 1, 2""",
)
def l1_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph construction from crawl pages: hrefs extracted with
    operators/text.extract_links (one RE2-identical regex pass), targets
    parsed by url_parts, aggregated to (src_domain, dst_domain, n_links)
    — the edge list domain-level PageRank and link-spam analyses run on.
    The synthesized pages exercise case-insensitive HREF, query strings,
    and a parity-dependent third link; the oracle replays extraction and
    parsing exactly."""
    from torcdb_spark.operators.text import extract_links, url_parts

    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lower(F.col("lang")), F.lit("."), F.col("source"),
            F.lit(".example.com"),
        ).alias("src_host"),
        F.concat(
            F.lit('<html><body><a HREF="https://'), F.col("source"),
            F.lit('.partner.org/p/'), F.col("doc_id").cast("string"),
            F.lit('">x</a><a href="https://hub.example.net/t?d='),
            F.col("doc_id").cast("string"), F.lit('">y</a>'),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit('<a href="https://'), F.lower(F.col("lang")),
                    F.lit('.mirror.io/m">z</a>'),
                ),
            ).otherwise(F.lit("")),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    links = pages.select(
        "src_host", F.explode(extract_links(F.col("html"))).alias("href")
    )
    edges = links.select(
        F.regexp_extract(F.col("src_host"), r"([^.]+\.[^.]+)$", 1).alias(
            "src_domain"
        ),
        url_parts(F.col("href"))["registered_domain"].alias("dst_domain"),
    )
    return edges.groupBy("src_domain", "dst_domain").agg(
        F.count("*").cast("long").alias("n_links")
    )


@_register(
    "l2_domain_pagerank",
    """WITH RECURSIVE pages AS (
         SELECT doc_id,
                lower(lang) || '.' || source || '.example.com' AS src_host,
                '<html><body>'
                || '<a HREF="https://' || source || '.partner.org/p/'
                || doc_id || '">x</a>'
                || '<a href="https://hub.example.net/t?d=' || doc_id
                || '">y</a>'
                || CASE WHEN doc_id % 2 = 0
                        THEN '<a href="https://' || lang
                             || '.mirror.io/m">z</a>'
                        ELSE '' END
                || '</body></html>' AS html
         FROM documents
       ),
       links AS (
         SELECT src_host,
                unnest(regexp_extract_all(html,
                    '(?i)href\\s*=\\s*"([^"]*)"', 1)) AS href
         FROM pages
       ),
       eg AS (
         SELECT regexp_extract(src_host, '([^.]+\\.[^.]+)$', 1)
                  AS src_domain,
                regexp_extract(
                  regexp_replace(
                    lower(regexp_extract(href,
                        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                    ':[0-9]+$', ''),
                  '([^.]+\\.[^.]+)$', 1) AS dst_domain
         FROM links
       ),
       e AS (SELECT DISTINCT src_domain, dst_domain FROM eg),
       p AS (SELECT CAST((SELECT count(DISTINCT dst_domain) FROM e)
                      AS DOUBLE) AS s),
       it(iter, a, b) AS (
         SELECT 0, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
         UNION ALL
         SELECT iter + 1,
                (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                  + CAST(0.85 AS DOUBLE)
                    * ((SELECT s FROM p) * b / ((SELECT s FROM p) + 1)),
                (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                  + CAST(0.85 AS DOUBLE)
                    * (a / (SELECT s FROM p)
                       + (SELECT s FROM p) * b / ((SELECT s FROM p) + 1))
         FROM it WHERE iter < 8
       )
       SELECT src_domain AS domain,
              floor(a * 10000 + 0.5) / 10000 AS rank
       FROM (SELECT DISTINCT src_domain FROM e),
            (SELECT a FROM it WHERE iter = 8)
       UNION ALL
       SELECT dst_domain, floor(b * 10000 + 0.5) / 10000
       FROM (SELECT DISTINCT dst_domain FROM e),
            (SELECT b FROM it WHERE iter = 8)""",
)
def l2_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level PageRank over the crawl link graph: l1_link_graph's
    (src_domain, dst_domain) edges fed straight into the DataFrame-Pregel
    pagerank (string vertex keys — the operator is key-type agnostic).
    The composition every crawl ranker runs: extract → parse → aggregate
    → iterate, all in one engine.

    EXACT-oracled (upgraded from rows-only): the synthesized corpus's
    domain graph is a single-source star — every src_host registers under
    example.com, fanning out to s sink domains — so the general power
    iteration collapses to a two-scalar recurrence (a = source rank,
    b = the symmetric sink rank, dangling mass s·b/(s+1)) that the
    oracle replays as a DuckDB recursive CTE over the SAME extraction
    pipeline, g_pagerank_exact's closed-form technique. Term order and
    constant construction (1.0-0.85, s·b as one multiply) mirror the
    operator's float evaluation; ranks rounded 4dp via the portable
    floor(x·1e4+0.5) on both sides."""
    from torcdb_spark.analytics import pagerank

    # Pin the extracted domain graph before iterating: pagerank's
    # superstep loop re-references the edge frame every iteration, and
    # without the checkpoint every superstep re-runs the full href-regex
    # extraction over documents. Locally the win is modest (~10% — the
    # 8 supersteps' fixed job-barrier overhead dominates on a 4-domain
    # graph), but at 100 TB the un-pinned form re-scans the entire
    # corpus 8 times, so the checkpoint is the scale-correct shape.
    edges = l1_link_graph(spark, sf_dir).select(
        F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
    ).localCheckpoint(eager=True)
    pr = pagerank(edges, num_iter=8)
    return pr.select(
        F.col("id").alias("domain"),
        (F.floor(F.col("rank") * 10000 + F.lit(0.5)) / 10000).alias("rank"),
    )


@_register(
    "m10_gif_animation",
    """WITH f(frame_idx) AS (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)),
                                  (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT)))
       SELECT doc_id AS media_id, frame_idx, TRUE AS lossless
       FROM documents CROSS JOIN f
       WHERE doc_id % 10 = 0""",
)
def m10_gif_animation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF decode through the real codec: per sampled document a
    4-frame paletted animation (NETSCAPE loop + per-frame GCE, written by
    operators/gif.encode_gif_animated), decoded frame-by-frame with
    do-not-dispose compositing. Paletted GIF is lossless, so the oracle
    pins every (doc, frame) as an exact pixel round-trip."""
    from torcdb_spark.operators.gif import decode_gif_frames, encode_gif_animated

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            yy, xx = np.mgrid[0:10, 0:12]
            for d in pdf["doc_id"]:
                pal = np.stack(
                    [
                        (np.arange(16) * 17) % 256,
                        (np.arange(16) * 29 + int(d)) % 256,
                        (np.arange(16) * 11) % 256,
                    ],
                    axis=1,
                ).astype(np.uint8)
                frames = [
                    ((xx + yy + int(d) + 3 * fi) % 16).astype(np.uint8)
                    for fi in range(4)
                ]
                dec = decode_gif_frames(encode_gif_animated(frames, pal))
                for fi, (f_idx, f_rgb) in enumerate(zip(frames, dec)):
                    rows.append(
                        {
                            "media_id": d,
                            "frame_idx": fi,
                            "lossless": bool((f_rgb == pal[f_idx]).all()),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "lossless"]
            )

    return docs.mapInPandas(
        kernel, "media_id long, frame_idx long, lossless boolean"
    )


@_register(
    "fe1_feature_hash_embed",
    """WITH toks AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                  AS term
         FROM documents
       ),
       b AS (
         SELECT doc_id,
                ('0x' || substr(md5(term), 1, 8))::BIGINT % 64 AS bucket,
                CASE WHEN ('0x' || substr(md5(term), 9, 1))::BIGINT % 2 = 0
                     THEN 1 ELSE -1 END AS s
         FROM toks
       )
       SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS weight
       FROM b GROUP BY doc_id, bucket""",
)
def fe1_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorization (operators/text.hash_embed_sparse):
    every document embedded into 64 signed md5 buckets — the model-free,
    vocabulary-free first-pass text vectorizer; the dense form
    (hash_embed) drops straight into the similarity/ANN operators. The
    oracle reproduces EVERY weight (md5 bucket + sign parity are
    engine-exact), making this the rare vectorizer whose output is
    value-verifiable."""
    from torcdb_spark.operators.text import hash_embed_sparse

    docs = load_table(spark, sf_dir, "documents")
    return hash_embed_sparse(docs, dim=64)


@_register(
    "cdc3_content_chunks",
    """WITH base AS (
         SELECT doc_id, text AS t FROM documents WHERE length(text) >= 1
       ),
       pos AS (
         SELECT doc_id, t, unnest(generate_series(1, length(t))) AS i
         FROM base
       ),
       tagged AS (
         SELECT doc_id, i,
                CASE WHEN i >= 8
                          AND ('0x' || substr(
                                md5(substr(t, i - 7, 8)), 1, 8))::BIGINT
                              % 64 = 0
                     THEN 1 ELSE 0 END AS brk
         FROM pos
       ),
       chunks AS (
         SELECT doc_id, i,
                COALESCE(SUM(brk) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS chunk_id
         FROM tagged
       )
       SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
              CAST(count(*) AS BIGINT) AS chunk_len
       FROM chunks GROUP BY doc_id, chunk_id""",
)
def cdc3_content_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over the documents corpus
    (operators/text.content_defined_chunks, k=8, divisor=64): rolling
    md5-boundary chunks whose positions move WITH the content — the
    chunk-level-dedup complement of d10's fixed windows. The oracle
    replays every boundary decision and chunk length exactly."""
    from torcdb_spark.operators.text import content_defined_chunks

    docs = load_table(spark, sf_dir, "documents")
    return content_defined_chunks(docs, k=8, divisor=64)


_CL1_EPOCH = """,
       m{e} AS (
         SELECT f.doc_id, SUM(f.v * w{p}.w) AS margin
         FROM cl_feats f JOIN w{p} ON f.j = w{p}.j GROUP BY f.doc_id
       ),
       mis{e} AS (
         SELECT l.doc_id, l.y FROM m{e} JOIN cl_lab l USING (doc_id)
         WHERE l.y * m{e}.margin <= 0
       ),
       u{e} AS (
         SELECT f.j, CAST(SUM(mis{e}.y * f.v) AS BIGINT) AS g
         FROM mis{e} JOIN cl_feats f USING (doc_id) GROUP BY f.j
       ),
       w{e} AS (
         SELECT w{p}.j, CAST(w{p}.w + COALESCE(u{e}.g, 0) AS BIGINT) AS w
         FROM w{p} LEFT JOIN u{e} ON w{p}.j = u{e}.j
       ),
       n{e} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM mis{e})"""

_CL1_ORACLE = (
    """WITH cl_toks AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                  AS term
         FROM documents
       ),
       cl_feats AS (
         SELECT doc_id,
                ('0x' || substr(md5(term), 1, 8))::BIGINT % 8 AS j,
                CAST(SUM(CASE WHEN ('0x' || substr(md5(term), 9, 1))::BIGINT
                                   % 2 = 0
                              THEN 1 ELSE -1 END) AS BIGINT) AS v
         FROM cl_toks GROUP BY doc_id, j
         UNION ALL
         SELECT doc_id, 8 AS j, CAST(1 AS BIGINT) AS v FROM documents
       ),
       cl_lab AS (
         SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
         FROM documents
       ),
       w0 AS (
         SELECT unnest(generate_series(0, 8)) AS j, CAST(0 AS BIGINT) AS w
       )"""
    + _CL1_EPOCH.format(e=1, p=0)
    + _CL1_EPOCH.format(e=2, p=1)
    + _CL1_EPOCH.format(e=3, p=2)
    + """
       SELECT CAST(e.epoch AS BIGINT) AS epoch,
              CAST(t.j AS BIGINT) AS feature, t.w AS weight,
              e.n AS n_mistakes
       FROM (SELECT 1 AS epoch, * FROM w1
             UNION ALL SELECT 2, * FROM w2
             UNION ALL SELECT 3, * FROM w3) t(epoch, j, w)
       JOIN (SELECT 1 AS epoch, n FROM n1
             UNION ALL SELECT 2, n FROM n2
             UNION ALL SELECT 3, n FROM n3) e USING (epoch)"""
)


@_register("cl1_perceptron_train", _CL1_ORACLE)
def cl1_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine classifier training (operators/classifier): a batch
    perceptron learning English-vs-rest over 8 hashing-trick features +
    bias, 3 epochs. Integer-exact by construction, so the oracle unrolls
    every epoch as CTEs and verifies the ENTIRE training trajectory —
    every weight after every epoch and every misclassification count.
    The distributed-training allreduce shape: corpus scanned per epoch,
    only the (dim+1)-vector crosses stages."""
    from torcdb_spark.operators.classifier import perceptron_train

    docs = load_table(spark, sf_dir, "documents")
    label = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1))
    return perceptron_train(spark, docs, label, dim=8, epochs=3)


@_register(
    "scc1_navigation_core",
    """WITH seq AS (
         SELECT user_id,
                CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                ts, event_id
         FROM events
       ),
       tr AS (
         SELECT k AS src,
                LEAD(k) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS dst
         FROM seq
       ),
       cnts AS (
         SELECT src, dst, COUNT(*) AS n FROM tr
         WHERE dst IS NOT NULL GROUP BY src, dst
       ),
       e AS (
         SELECT src, dst FROM cnts
         ORDER BY n DESC, src, dst LIMIT 175
       ),
       nodes AS (
         SELECT DISTINCT src AS id FROM e
         UNION SELECT DISTINCT dst FROM e
       ),
       reach AS (
         WITH RECURSIVE r(a, b) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src
         ) SELECT a, b FROM r
       )
       SELECT id AS node, CAST(MIN(x) AS BIGINT) AS scc_id
       FROM (
         SELECT id, id AS x FROM nodes
         UNION ALL
         SELECT r1.a AS id, r1.b AS x
         FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
       ) GROUP BY id""",
)
def scc1_navigation_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the user-navigation graph
    (analytics.strongly_connected_components — FW-BW-MIN peeling): per
    user, consecutive events' JSON ``props.k`` pages form directed
    transitions; the TOP-175 transitions by support (count desc,
    (src, dst) tie-break — a distributed TakeOrdered over the
    aggregated pair table, which is bounded by the page vocabulary
    squared, never by the event count) are the edge set, so the graph
    keeps the same high-support structure at every SF (an absolute
    count threshold saturates once every frequent pair is seen). The
    SCCs are the site's "core loops" — the mutual-reachability
    structure no undirected component operator can see. The oracle
    computes mutual reachability directly: a recursive-CTE transitive
    closure self-joined on (a,b)=(b,a), min id per closure class."""
    from torcdb_spark.analytics import strongly_connected_components

    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = seq.select(
        F.col("k").alias("src"), F.lead("k").over(w).alias("dst")
    ).where(F.col("dst").isNotNull())
    cnts = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    edges = (
        cnts.orderBy(F.desc("n"), F.asc("src"), F.asc("dst"))
        .limit(175)
        .select("src", "dst")
    )
    return strongly_connected_components(edges).select(
        F.col("id").alias("node"), F.col("scc_id")
    )


@_register(
    "ssj1_jaccard_join",
    """WITH w AS (
         SELECT doc_id,
                string_split_regex(lower(trim(text)), '\\s+') AS ws
         FROM documents WHERE trim(text) <> ''
       ),
       pos AS (
         SELECT doc_id, unnest(generate_series(1, len(ws) - 2)) AS i, ws
         FROM w WHERE len(ws) >= 3
       ),
       toks AS (
         SELECT DISTINCT doc_id,
                ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
         FROM pos
       ),
       sz AS (SELECT doc_id, COUNT(*) AS s FROM toks GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
         FROM toks a JOIN toks b
           ON a.term = b.term AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       )
       SELECT ia AS id_a, ib AS id_b,
              CAST(i AS BIGINT) AS inter_size,
              CAST(sa.s + sb.s - i AS BIGINT) AS union_size
       FROM inter
       JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
       WHERE i * 2 >= (sa.s + sb.s - i) * 1""",
)
def ssj1_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs set-similarity self-join
    (operators/setjoin.jaccard_pairs_exact): every document pair whose
    3-gram-shingle Jaccard ≥ 1/2, found via rarest-first prefix
    filtering (vocabulary totally ordered by rank.global_rank's
    distributed prefix-sum — no single-task window) — the EXACT ground
    truth the MinHash-LSH family (x_minhash/d13) approximates, with the
    τ test in cross-multiplied integers so every decision is
    engine-exact. The oracle computes brute-force all-pairs Jaccard
    directly, so a hash match also certifies the prefix-filter theorem
    (no candidate the prefixes missed)."""
    from torcdb_spark.operators.setjoin import jaccard_pairs_exact

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_exact(
        docs, tau_num=1, tau_den=2, shingle=3
    )


_CL2_TOKENS = """SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                  AS term
         FROM {split}"""

_CL2_ORACLE = (
    """WITH tr AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
       te AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
       tr_terms AS (
         SELECT t.doc_id, d.lang AS c, t.term,
                CAST(count(*) AS BIGINT) AS cnt
         FROM ("""
    + _CL2_TOKENS.format(split="tr")
    + """) t JOIN tr d USING (doc_id)
         WHERE t.term <> '' GROUP BY 1, 2, 3),
       ct AS (SELECT c, term, CAST(SUM(cnt) AS BIGINT) AS c_ct
              FROM tr_terms GROUP BY 1, 2),
       cls AS (SELECT c, CAST(SUM(cnt) AS BIGINT) AS n_c
               FROM tr_terms GROUP BY 1),
       pri AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS n_docs_c
               FROM tr GROUP BY 1),
       v AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v_size
             FROM tr_terms),
       nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM tr),
       te_terms AS (
         SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
         FROM ("""
    + _CL2_TOKENS.format(split="te")
    + """)
         WHERE term <> '' GROUP BY 1, 2),
       sc AS (
         SELECT t.doc_id, k.c,
                round(ln(p.n_docs_c / (SELECT n_docs FROM nd))
                      + SUM(t.cnt
                            * ln((COALESCE(m.c_ct, 0)
                                  + CAST(1.0 AS DOUBLE))
                                 / (k.n_c + (SELECT v_size FROM v)))),
                      4) AS score
         FROM te_terms t
         CROSS JOIN cls k
         JOIN pri p ON p.c = k.c
         LEFT JOIN ct m ON m.c = k.c AND m.term = t.term
         GROUP BY t.doc_id, k.c, p.n_docs_c, k.n_c),
       best AS (
         SELECT doc_id, c AS predicted, score,
                row_number() OVER (
                  PARTITION BY doc_id ORDER BY score DESC, c ASC) AS rk
         FROM sc)
       SELECT b.doc_id, d.lang AS actual, b.predicted, b.score
       FROM best b JOIN te d USING (doc_id) WHERE b.rk = 1"""
)


@_register("cl2_naive_bayes", _CL2_ORACLE)
def cl2_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine multinomial Naive Bayes (operators/classifier
    naive_bayes_classify): train a 5-way language classifier on the
    2/3 train split of documents, classify the held-out 1/3, emit
    (doc_id, actual, predicted, score). The model is three
    map-side-combinable aggregates over one train scan; scoring is a
    bounded |classes|× fan-out + vocabulary-sized broadcast join — the
    canonical distributed NB dataflow. The oracle replays training AND
    inference relationally, so every posterior and every argmax is
    value-checked."""
    from torcdb_spark.operators.classifier import naive_bayes_classify

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 3 != 0)
    test = docs.where(F.col("doc_id") % 3 == 0)
    return naive_bayes_classify(train, test)


@_register(
    "ts4_ewma_smoothing",
    """WITH packed AS (
         SELECT user_id, list(value ORDER BY ts, event_id) AS xs
         FROM events GROUP BY user_id
       ),
       folded AS (
         -- dev is assigned BEFORE y: DuckDB 1.0's list_reduce mutates
         -- acc.<field> in place as struct_pack fields evaluate, so any
         -- field reading the PREVIOUS y must come before the field that
         -- overwrites it.
         SELECT user_id, xs,
                list_reduce(
                  list_prepend(
                    struct_pack(dev := CAST(0.0 AS DOUBLE), y := xs[1]),
                    list_transform(
                      xs[2:],
                      x -> struct_pack(dev := CAST(0.0 AS DOUBLE), y := x))),
                  (acc, s) -> struct_pack(
                    dev := greatest(
                      acc.dev,
                      abs(s.y - (CAST(0.25 AS DOUBLE) * s.y
                                 + CAST(0.75 AS DOUBLE) * acc.y))),
                    y := CAST(0.25 AS DOUBLE) * s.y
                         + CAST(0.75 AS DOUBLE) * acc.y)
                ) AS f
         FROM packed)
       SELECT user_id, CAST(len(xs) AS BIGINT) AS n_points,
              floor(xs[-1] * 1000000 + CAST(0.5 AS DOUBLE)) / 1000000
                AS last_raw,
              floor(f.y * 1000000 + CAST(0.5 AS DOUBLE)) / 1000000
                AS last_ewma,
              floor(f.dev * 1000000 + CAST(0.5 AS DOUBLE)) / 1000000
                AS max_abs_dev
       FROM folded""",
)
def ts4_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA smoothing of the event value series (operators/
    timeseries.ewma, α=0.25): the inherently-sequential recursion runs
    as a per-key JVM array fold after ONE groupBy shuffle — evaluation
    order is fixed by construction, so the oracle's ``list_reduce``
    reproduces every double bit-for-bit. Emits per user the series
    length, last raw value, last smoothed value, and the max smoothing
    residual (the anomaly signal)."""
    from torcdb_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    return ewma(
        ev, ["user_id"], "ts", "value", alpha=0.25, order_tiebreak="event_id"
    )


@_register(
    "pp1_preference_pairs",
    """WITH q AS (
         SELECT doc_id, source, lang,
                floor(((CASE WHEN length(text) BETWEEN 100 AND 20000
                            THEN CAST(0.4 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                    + (CASE WHEN n_tokens > 0
                                 AND length(text)/n_tokens >= 3.0
                                 AND length(text)/n_tokens <= 12.0
                            THEN CAST(0.3 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                    + (CASE WHEN length(text) > 0
                            THEN CAST(length(regexp_replace(text,
                                      '[^A-Za-z]', '', 'g')) AS DOUBLE)
                                 / length(text)
                            ELSE CAST(0.0 AS DOUBLE) END)
                      * CAST(0.3 AS DOUBLE)) * 10000
                      + CAST(0.5 AS DOUBLE)) / 10000 AS quality
         FROM (SELECT doc_id, source, lang, text,
                      CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                           END AS n_tokens
               FROM documents)
       ),
       top AS (
         SELECT source, lang, doc_id AS chosen_id,
                quality AS chosen_score,
                row_number() OVER (PARTITION BY source, lang
                    ORDER BY quality DESC, doc_id ASC) AS rk
         FROM q),
       bot AS (
         SELECT source, lang, doc_id AS rejected_id,
                quality AS rejected_score,
                row_number() OVER (PARTITION BY source, lang
                    ORDER BY quality ASC, doc_id ASC) AS rk
         FROM q)
       SELECT t.source, t.lang, t.chosen_id, b.rejected_id,
              t.chosen_score, b.rejected_score,
              floor((t.chosen_score - b.rejected_score) * 10000
                    + CAST(0.5 AS DOUBLE)) / 10000 AS margin
       FROM top t JOIN bot b
         ON t.source = b.source AND t.lang = b.lang
       WHERE t.rk <= 3 AND b.rk <= 3
         AND t.chosen_score - b.rejected_score >= CAST(0.05 AS DOUBLE)""",
)
def pp1_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reward-model preference-pair construction (operators/rank
    preference_pairs): within every (source, lang) group, pair the 3
    best quality-scored documents against the 3 worst with margin
    ≥ 0.05 — the extremes-vs-extremes pairing every RLHF data builder
    uses instead of O(n²) all-pairs. Two same-shuffle windows + a
    k²-bounded group self-join; quality uses the portable
    floor(x·10⁴+0.5)/10⁴ rounding so the pair set is engine-exact."""
    from torcdb_spark.operators.rank import preference_pairs
    from torcdb_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).join(
        docs.select("doc_id", "source", "lang"), "doc_id"
    )
    out = preference_pairs(
        scored, ["source", "lang"], "doc_id", "quality", k=3, min_margin=0.05
    )
    # portable margin rounding (see quality_score's rounding note)
    return out.withColumn(
        "margin",
        F.floor(
            (F.col("chosen_score") - F.col("rejected_score")) * 10000
            + F.lit(0.5)
        )
        / F.lit(10000.0),
    )


@_register(
    "orc1_roundtrip",
    """SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(doc_id) AS BIGINT) AS sum_ids,
              CAST(sum(length(text)) AS BIGINT) AS text_chars,
              CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
       FROM documents GROUP BY lang""",
)
def orc1_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip (sources/io.write_table_partitioned,
    fmt='orc'): write the documents corpus as a lang-partitioned ORC
    table — Spark's second first-class columnar format, the
    Hive-ecosystem interchange the parquet path doesn't cover — read it
    back, and emit the per-lang census. The oracle computes the same
    census from the ORIGINAL parquet, so any value lost or mangled by
    the ORC encode/decode (strings with embedded newlines, negative
    ids, NULLs) breaks the hash. Partition pruning on lang comes free
    from the directory layout."""
    import os
    import tempfile

    from torcdb_spark.sources.io import write_table_partitioned

    docs = load_table(spark, sf_dir, "documents")
    slug = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"torcdb_orc_docs_{slug}")
    write_table_partitioned(docs, path, ["lang"], fmt="orc")
    back = spark.read.orc(path)
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
        F.sum("n_chars").cast("long").alias("sum_n_chars"),
    )


@_register(
    "pt1_partition_prune",
    """SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS order_year,
              CAST(count(*) AS BIGINT) AS n_orders,
              round(sum(o_totalprice), 2) AS revenue
       FROM orders
       WHERE o_orderpriority = '1-URGENT'
       GROUP BY 1""",
)
def pt1_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partition pruning end-to-end: land orders as a
    directory-partitioned table on o_orderpriority (sources/io
    write_table_partitioned), then run a priority-filtered yearly
    rollup against the LANDED table. The filter never touches data —
    it resolves to directory selection (PartitionFilters in the scan;
    plan-asserted in tests/test_plans.py), which at 100 TB is the
    difference between scanning one priority class and the whole fact
    table. The oracle replays the rollup from the original parquet, so
    the pruned scan is also value-verified."""
    import os
    import tempfile

    from torcdb_spark.sources.io import write_table_partitioned

    orders = load_table(spark, sf_dir, "orders")
    slug = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"torcdb_part_orders_{slug}")
    write_table_partitioned(orders, path, ["o_orderpriority"])
    back = spark.read.parquet(path)
    pruned = back.where(F.col("o_orderpriority") == "1-URGENT")
    return pruned.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@_register(
    "mis1_independent_set",
    """WITH RECURSIVE seq AS (
         SELECT user_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                ts, event_id
         FROM events),
       tr AS (
         SELECT k AS src, lead(k) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS dst
         FROM seq),
       cnts AS (SELECT src, dst, count(*) AS n FROM tr
                WHERE dst IS NOT NULL GROUP BY 1, 2),
       top AS (SELECT src, dst FROM cnts
               ORDER BY n DESC, src ASC, dst ASC LIMIT 175),
       sym AS (SELECT DISTINCT a, b FROM (
                 SELECT src AS a, dst AS b FROM top
                 UNION ALL SELECT dst AS a, src AS b FROM top)
               WHERE a <> b),
       it(rnd, active, mis) AS (
         SELECT 0, (SELECT list(DISTINCT a ORDER BY a) FROM sym),
                CAST([] AS BIGINT[])
         UNION ALL
         SELECT rnd + 1,
                list_filter(it.active, v -> NOT list_contains(t.removed, v)),
                list_concat(it.mis, t.sel)
         FROM it,
              (SELECT list(struct_pack(a := a, b := b)) AS es FROM sym) eg,
              LATERAL (
           SELECT s.sel AS sel,
                  flatten([s.sel,
                    list_transform(
                      list_filter(eg.es,
                        e -> list_contains(s.sel, e.a)
                             AND list_contains(it.active, e.b)),
                      e -> e.b)]) AS removed
           FROM (
             SELECT list_filter(it.active, v ->
               len(list_filter(eg.es, e ->
                     e.a = v AND list_contains(it.active, e.b)
                     AND struct_pack(
                           p := list_reduce(
                             list_transform(
                               regexp_extract_all(
                                 substr(md5(e.b::VARCHAR || ':'
                                            || (it.rnd+1)::VARCHAR), 1, 15),
                                 '.'),
                               c -> CAST(strpos('0123456789abcdef', c) - 1
                                         AS BIGINT)),
                             (x, y) -> x * 16 + y),
                           i := e.b)
                         <= struct_pack(
                           p := list_reduce(
                             list_transform(
                               regexp_extract_all(
                                 substr(md5(v::VARCHAR || ':'
                                            || (it.rnd+1)::VARCHAR), 1, 15),
                                 '.'),
                               c -> CAST(strpos('0123456789abcdef', c) - 1
                                         AS BIGINT)),
                             (x, y) -> x * 16 + y),
                           i := v)
                   )) = 0
             ) AS sel
           ) s
         ) t
         WHERE len(it.active) > 0 AND it.rnd < 40
       )
       SELECT CAST(len(mis) AS BIGINT) AS n_mis_vertices,
              CAST(list_aggregate(mis, 'sum') AS BIGINT) AS sum_ids,
              CAST(list_aggregate(mis, 'min') AS BIGINT) AS min_id,
              CAST(list_aggregate(mis, 'max') AS BIGINT) AS max_id
       FROM it WHERE len(active) = 0""",
)
def mis1_independent_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set via deterministic Luby (analytics
    maximal_independent_set) over the undirected user-navigation core
    (the scc1/gc1/g_ktruss scale-stable top-support construction): the
    distributed symmetry-breaking primitive (coloring, matching,
    landmark selection). Expected O(log n) rounds, each one edge-keyed
    aggregate + two anti-joins; priorities are md5-derived so the set
    is unique and engine-replayable. Returns the MIS summary.

    EXACT-oracled (upgraded from rows-only): the 175-edge core is small
    enough for DuckDB to REPLAY Luby round by round — a recursive CTE
    carries the active-vertex list, recomputes the identical
    md5-hex15→BIGINT priorities per round (Horner list_reduce — DuckDB
    has no conv()), applies the same strict-(priority, id)-local-min
    selection and neighbor deactivation, and aggregates the final set.
    An iterative symmetry-breaking algorithm, hash-checked end to end.

    The first cut ran on the full part–supplier bipartite graph (75k
    edges at sf0.1) — correct, but 17+ Luby rounds of fixed job
    overhead (18s); the high-support core keeps the operator's shape
    with a bench-honest footprint (pytest covers the big-graph path)."""
    from torcdb_spark.analytics import maximal_independent_set

    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = seq.select(
        F.col("k").alias("src"), F.lead("k").over(w).alias("dst")
    ).where(F.col("dst").isNotNull())
    cnts = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    edges = (
        cnts.orderBy(F.desc("n"), F.asc("src"), F.asc("dst"))
        .limit(175)
        .select("src", "dst")
    )
    mis = maximal_independent_set(edges)
    return mis.agg(
        F.count("*").cast("long").alias("n_mis_vertices"),
        F.sum("id").cast("long").alias("sum_ids"),
        F.min("id").cast("long").alias("min_id"),
        F.max("id").cast("long").alias("max_id"),
    )


@_register(
    "d23_kneser_ney",
    """WITH toks AS (
         SELECT doc_id, unnest(tk) AS t,
                generate_subscripts(tk, 1) AS i
         FROM (SELECT doc_id,
                      regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
               FROM documents)
         WHERE len(tk) >= 2
       ),
       bi AS (
         SELECT a.t AS context, b.t AS cur
         FROM toks a JOIN toks b
           ON a.doc_id = b.doc_id AND b.i = a.i + 1
         WHERE a.t <> '' AND b.t <> ''
       ),
       c_bi AS (
         SELECT context, cur, CAST(count(*) AS BIGINT) AS c_bi
         FROM bi GROUP BY 1, 2
       ),
       model AS (
         SELECT context, cur, c_bi,
                CAST(SUM(c_bi) OVER (PARTITION BY context) AS BIGINT)
                  AS c_ctx,
                CAST(COUNT(*) OVER (PARTITION BY context) AS BIGINT)
                  AS n_follow_types,
                CAST(COUNT(*) OVER (PARTITION BY cur) AS BIGINT)
                  AS n_prec_types
         FROM c_bi
       ),
       tot AS (SELECT CAST(count(*) AS DOUBLE) AS total_types FROM c_bi),
       scored AS (
         SELECT context, cur AS next_word, c_bi, c_ctx,
                n_follow_types, n_prec_types,
                floor((greatest(c_bi - CAST(0.75 AS DOUBLE),
                                CAST(0.0 AS DOUBLE)) / c_ctx
                       + CAST(0.75 AS DOUBLE) * n_follow_types / c_ctx
                         * (n_prec_types
                            / (SELECT total_types FROM tot))) * 1000000
                      + CAST(0.5 AS DOUBLE)) / 1000000 AS p_kn
         FROM model
       ),
       top_ctx AS (
         SELECT context, c_ctx,
                row_number() OVER (
                  ORDER BY c_ctx DESC, context ASC) AS ctx_rank
         FROM (SELECT DISTINCT context, c_ctx FROM scored)
         QUALIFY ctx_rank <= 20
       )
       SELECT s.context, s.next_word, s.c_bi, s.c_ctx,
              s.n_follow_types, s.n_prec_types, s.p_kn,
              CAST(r.wrank AS BIGINT) AS word_rank
       FROM (SELECT *, row_number() OVER (
                PARTITION BY context
                ORDER BY c_bi DESC, next_word ASC) AS wrank
             FROM scored) r
       JOIN scored s
         ON s.context = r.context AND s.next_word = r.next_word
       JOIN top_ctx t ON t.context = s.context
       WHERE r.wrank <= 3""",
)
def d23_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (operators/text
    kneser_ney_bigram, D=0.75): absolute discounting + continuation-
    count backoff, the smoothing add-α models lack. The query surfaces
    the model head — for the 20 highest-mass contexts, the top-3
    predicted next words with their KN probabilities. Ranking is on
    INTEGER counts (ties by word), so ordering is engine-exact; the
    probability itself is value-checked via the portable rounding. The
    oracle recomputes the entire model relationally."""
    from pyspark.sql.window import Window as W

    from torcdb_spark.operators.text import kneser_ney_bigram

    docs = load_table(spark, sf_dir, "documents")
    m = kneser_ney_bigram(docs, discount=0.75)
    top_ctx = (
        m.select("context", "c_ctx")
        .distinct()
        .withColumn(
            "_cr",
            F.row_number().over(
                W.orderBy(F.desc("c_ctx"), F.asc("context"))
            ),
        )
        .where(F.col("_cr") <= 20)
        .select("context")
    )
    ranked = m.join(F.broadcast(top_ctx), "context").withColumn(
        "word_rank",
        F.row_number().over(
            W.partitionBy("context").orderBy(
                F.desc("c_bi"), F.asc("next_word")
            )
        ).cast("long"),
    )
    return ranked.where(F.col("word_rank") <= 3).select(
        "context", "next_word", "c_bi", "c_ctx",
        "n_follow_types", "n_prec_types", "p_kn", "word_rank",
    )


@_register(
    "gc1_graph_coloring",
    """WITH RECURSIVE seq AS (
         SELECT user_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                ts, event_id
         FROM events),
       tr AS (
         SELECT k AS src, lead(k) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS dst
         FROM seq),
       cnts AS (SELECT src, dst, count(*) AS n FROM tr
                WHERE dst IS NOT NULL GROUP BY 1, 2),
       top AS (SELECT src, dst FROM cnts
               ORDER BY n DESC, src ASC, dst ASC LIMIT 175),
       sym AS (SELECT DISTINCT a, b FROM (
                 SELECT src AS a, dst AS b FROM top
                 UNION ALL SELECT dst AS a, src AS b FROM top)
               WHERE a <> b),
       ordv AS (
         SELECT list(a ORDER BY list_reduce(
                  list_transform(
                    regexp_extract_all(substr(md5(a::VARCHAR), 1, 15), '.'),
                    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                  (x, y) -> x * 16 + y) ASC, a ASC) AS l
         FROM (SELECT DISTINCT a FROM sym)),
       it(i, colors) AS (
         SELECT 0, CAST([] AS STRUCT(v BIGINT, c BIGINT)[])
         UNION ALL
         SELECT it.i + 1,
                list_append(it.colors, struct_pack(v := t.cur, c := t.mex))
         FROM it,
              (SELECT list(struct_pack(a := a, b := b)) AS es FROM sym) eg,
              ordv,
              LATERAL (
                SELECT cur,
                       list_filter(range(1, len(used) + 2),
                                   c -> NOT list_contains(used, c))[1] AS mex
                FROM (
                  SELECT cur,
                         list_transform(
                           list_filter(it.colors,
                             x -> list_contains(
                                    list_transform(
                                      list_filter(eg.es, e -> e.a = cur),
                                      e -> e.b),
                                    x.v)),
                           x -> x.c) AS used
                  FROM (SELECT ordv.l[it.i + 1] AS cur)
                )
              ) t
         WHERE it.i < len(ordv.l)
       )
       SELECT c.c AS color, CAST(count(*) AS BIGINT) AS n_vertices,
              CAST(sum(c.v) AS BIGINT) AS sum_ids
       FROM (SELECT unnest(colors) AS c
             FROM it, ordv WHERE i = len(ordv.l))
       GROUP BY 1""",
)
def gc1_graph_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proper vertex coloring (analytics.greedy_coloring — iterated
    deterministic Luby MIS, Jones-Plassmann family) of the user-
    navigation transition core (same scale-stable top-175-support edge
    construction as scc1): the distributed scheduling primitive —
    vertices sharing an edge never share a color, so each color class
    is a conflict-free update round. Emits per-color class size + id
    checksum (deterministic: the full assignment is unique under the
    md5 priorities).
    EXACT-oracled (upgraded from rows-only): with a FIXED priority
    order JP equals the sequential greedy coloring in that order, so
    the oracle replays it one vertex per recursive-CTE step — same
    md5-hex15 priorities, same mex rule — and reproduces every
    (color, count, id-sum) row.
    """
    from torcdb_spark.analytics import greedy_coloring

    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = seq.select(
        F.col("k").alias("src"), F.lead("k").over(w).alias("dst")
    ).where(F.col("dst").isNotNull())
    cnts = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    edges = (
        cnts.orderBy(F.desc("n"), F.asc("src"), F.asc("dst"))
        .limit(175)
        .select("src", "dst")
    )
    colored = greedy_coloring(edges)
    return colored.groupBy("color").agg(
        F.count("*").cast("long").alias("n_vertices"),
        F.sum("id").cast("long").alias("sum_ids"),
    )


@_register(
    "d24_span_scrub",
    """WITH toks AS (
         SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         FROM documents
       ),
       pos AS (
         SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
         FROM toks
       ),
       spans AS (
         SELECT doc_id, i, array_to_string(t[i : i + 2], ' ') AS span
         FROM (SELECT doc_id, t,
                      unnest(generate_series(1, len(t) - 2)) AS i
               FROM toks WHERE len(t) >= 3)
       ),
       owners AS (SELECT span, min(doc_id) AS owner FROM spans GROUP BY span),
       foreign_spans AS (
         SELECT DISTINCT s.doc_id, s.i
         FROM spans s JOIN owners o USING (span)
         WHERE o.owner < s.doc_id
       ),
       covered AS (
         SELECT DISTINCT doc_id, i + unnest(generate_series(0, 2)) AS p
         FROM foreign_spans
       ),
       kept AS (
         SELECT pos.doc_id, pos.p, pos.tok
         FROM pos LEFT JOIN covered c
           ON c.doc_id = pos.doc_id AND c.p = pos.p
         WHERE c.p IS NULL
       ),
       agg AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                md5(string_agg(tok, ' ' ORDER BY p)) AS kept_md5
         FROM kept GROUP BY doc_id
       ),
       census AS (
         SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
       )
       SELECT c.doc_id, c.n_tokens,
              CAST(c.n_tokens - COALESCE(a.n_kept, 0) AS BIGINT)
                AS n_removed,
              CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
              COALESCE(a.kept_md5, md5('')) AS kept_md5
       FROM census c LEFT JOIN agg a USING (doc_id)""",
)
def d24_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span scrubbing (operators/text.scrub_duplicate_spans,
    word-trigram spans): the REWRITE behind d19's retention signal —
    keep-first ownership cuts every foreign duplicated span's token
    positions from the carrier documents (ExactSubstr dedup, Lee et al.
    2022). The oracle replays ownership, coverage, AND the reconstructed
    post-scrub text (md5 of the kept tokens in order), so the transform
    itself — not just its counts — is value-verified."""
    from torcdb_spark.operators.text import scrub_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return scrub_duplicate_spans(docs, n=3)


@_register(
    "e10_mmr_rerank",
    __import__(
        "torcdb_spark.operators.similarity", fromlist=["mmr_oracle_sql"]
    ).mmr_oracle_sql("embeddings", "vec_id < 6", k=4, pool=10, lam=0.7),
)
def e10_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval (operators/similarity.mmr_rerank,
    λ=0.7): greedy relevance-vs-redundancy selection over a 10-candidate
    pool per query — the RAG context-assembly operator that plain top-k
    (e1) lacks when near-duplicate chunks dominate. One brute-force
    candidate pass, then pool-sized frames only; rel/sim round portably
    before every comparison, so the oracle unrolls the full 4-pick
    greedy trajectory and value-checks every selection."""
    from torcdb_spark.operators.similarity import mmr_rerank

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 6)
    return mmr_rerank(emb, queries, k=4, pool=10, lam=0.7)


@_register(
    "tg1_temporal_reachability",
    """WITH seq AS (
         SELECT user_id,
                CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                ts, event_id
         FROM events
       ),
       tr AS (
         SELECT k AS src,
                LEAD(k) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS dst,
                CAST(epoch_us(LEAD(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT)
                  AS tsm
         FROM seq
       ),
       edges AS (SELECT src, dst, tsm FROM tr WHERE dst IS NOT NULL),
       seeds AS (
         SELECT src AS id FROM (
           SELECT src, count(*) AS n FROM edges GROUP BY src
           ORDER BY n DESC, src ASC LIMIT 2)
       ),
       reach AS (
         WITH RECURSIVE r(node, t) AS (
           SELECT e.dst, e.tsm FROM edges e
           WHERE e.src IN (SELECT id FROM seeds)
           UNION
           SELECT e.dst, e.tsm
           FROM r JOIN edges e ON e.src = r.node AND e.tsm > r.t
         )
         SELECT node, t FROM r
       )
       SELECT node AS page, CAST(min(t) AS BIGINT) AS arrival_us
       FROM reach
       WHERE node NOT IN (SELECT id FROM seeds)
       GROUP BY node""",
)
def tg1_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting earliest-arrival reachability (analytics
    temporal_min_arrival) over the user-navigation transition stream:
    from the 2 highest-traffic pages, which pages are reachable along
    journeys whose transition timestamps strictly increase, and when
    does the earliest journey arrive — the temporal-network question
    static BFS/CC/SCC cannot pose. All-integer label-correcting
    relaxation to the exact fixpoint (convergence-checked, never
    truncated), so the recursive-CTE oracle replays every arrival
    value-for-value — a fully exact-oracled ITERATIVE graph operator."""
    from torcdb_spark.analytics import temporal_min_arrival

    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = seq.select(
        F.col("k").alias("src"),
        F.lead("k").over(w).alias("dst"),
        F.unix_micros(F.lead("ts").over(w)).alias("tsm"),
    ).where(F.col("dst").isNotNull()).localCheckpoint(eager=True)
    # one window pass over events: seeds AND the packed edge table both
    # derive from the checkpointed transition frame
    seeds = (
        tr.groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("src"))
        .limit(2)
        .select(F.col("src").alias("id"))
    )
    arrival = temporal_min_arrival(tr, seeds)
    return (
        arrival.join(seeds, "id", "left_anti")
        .select(
            F.col("id").alias("page"),
            F.col("arr").cast("long").alias("arrival_us"),
        )
    )


@_register(
    "g_ktruss",
    """WITH RECURSIVE seq AS (
         SELECT user_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                ts, event_id
         FROM events),
       tr AS (
         SELECT k AS src, lead(k) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS dst
         FROM seq),
       cnts AS (SELECT src, dst, count(*) AS n FROM tr
                WHERE dst IS NOT NULL GROUP BY 1, 2),
       top AS (SELECT src, dst FROM cnts
               ORDER BY n DESC, src ASC, dst ASC LIMIT 175),
       canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM top WHERE src <> dst),
       it(rnd, es, changed) AS (
         SELECT 0, (SELECT list(struct_pack(a := a, b := b) ORDER BY a, b)
                    FROM canon), TRUE
         UNION ALL
         SELECT it.rnd + 1, t.kept, len(t.kept) < len(it.es)
         FROM it, LATERAL (
           SELECT list_filter(it.es, e ->
                    len(list_intersect(
                      list_transform(
                        list_filter(it.es, f -> f.a = e.a OR f.b = e.a),
                        f -> IF(f.a = e.a, f.b, f.a)),
                      list_transform(
                        list_filter(it.es, f -> f.a = e.b OR f.b = e.b),
                        f -> IF(f.a = e.b, f.b, f.a))
                    )) >= 1
                  ) AS kept
         ) t
         WHERE it.changed AND it.rnd < 30
       )
       SELECT CAST(len(es) AS BIGINT) AS n_edges,
              CAST(list_aggregate(list_transform(es, e -> e.a + e.b), 'sum')
                AS BIGINT) AS edge_id_sum,
              CAST(len(list_distinct(flatten(
                list_transform(es, e -> [e.a, e.b])))) AS BIGINT)
                AS n_vertices
       FROM it WHERE NOT changed""",
)
def g_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss (k=3) of the undirected user-navigation core (analytics
    k_truss; same scale-stable top-support edge construction as scc1/
    gc1): the truss keeps only edges backed by a triangle within the
    surviving subgraph — the edge-wise, triangle-witnessed refinement
    of g_kcore's vertex-wise bound. Per round one canonical wedge-join
    support count over a shrinking edge set. Emits the truss census.

    EXACT-oracled (upgraded from rows-only): peeling is a FIXPOINT —
    drop order cannot matter — so DuckDB replays it as a recursive CTE
    over the packed edge list: per round each edge's support is the
    adjacency-list intersection (|adj(a) ∩ adj(b)| via list_intersect),
    edges under k−2 fall, until a round removes nothing. An iterative
    aggregate-in-the-loop operator, hash-checked end to end."""
    from torcdb_spark.analytics import k_truss

    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = seq.select(
        F.col("k").alias("src"), F.lead("k").over(w).alias("dst")
    ).where(F.col("dst").isNotNull())
    cnts = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    edges = (
        cnts.orderBy(F.desc("n"), F.asc("src"), F.asc("dst"))
        .limit(175)
        .select("src", "dst")
    )
    truss = k_truss(edges, k=3)
    verts = truss.select(F.col("a").alias("v")).unionByName(
        truss.select(F.col("b").alias("v"))
    ).distinct()
    return truss.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum(F.col("a") + F.col("b")).cast("long").alias("edge_id_sum"),
    ).crossJoin(
        verts.agg(F.count("*").cast("long").alias("n_vertices"))
    )


@_register(
    "sm1_schema_evolution",
    """SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(n_chars) AS BIGINT) AS n_with_chars,
              CAST(sum(COALESCE(n_chars, 0)) AS BIGINT) AS chars_total,
              CAST(sum(doc_id) AS BIGINT) AS sum_ids
       FROM (
         SELECT doc_id, lang,
                CASE WHEN doc_id % 2 = 0 THEN n_chars END AS n_chars
         FROM documents)
       GROUP BY lang""",
)
def sm1_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest: land the corpus as TWO parquet batches
    with different schemas — an old batch without the n_chars column
    (doc_id odd) and a new batch with it (doc_id even) — then read the
    table with ``mergeSchema``: the union schema resolves by NAME, old
    rows surface NULL for the added column (never a misaligned value),
    and per-file column pruning still applies. The append-only column-
    add migration every long-lived 100 TB table goes through; the
    oracle replays the null pattern and census from the original
    parquet."""
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    slug = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"torcdb_schemev_{slug}")
    old = docs.where(F.col("doc_id") % 2 != 0).select(
        "doc_id", "text", "lang", "source"
    )
    new = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "b=old"))
    new.write.mode("overwrite").parquet(os.path.join(path, "b=new"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "b=old"), os.path.join(path, "b=new")
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count("n_chars").cast("long").alias("n_with_chars"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
        .cast("long")
        .alias("chars_total"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@_register(
    "ns1_negative_sampling",
    """WITH terms AS (
         SELECT term, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
                                                   '\\s+')) AS term
               FROM documents)
         WHERE term <> '' GROUP BY term
       ),
       top AS (
         SELECT term, c,
                CAST(floor(sqrt(c * sqrt(c)) * 1000000) AS BIGINT) AS w
         FROM terms
         ORDER BY c DESC, term ASC LIMIT 200
       )
       SELECT term, c, w,
              CAST(SUM(w) OVER (ORDER BY c DESC, term ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - w AS BIGINT) AS cum_lo,
              CAST(SUM(w) OVER (ORDER BY c DESC, term ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_hi
       FROM top""",
)
def ns1_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table: unigram counts raised to
    the 3/4 power (computed as sqrt(c·sqrt(c)) — sqrt is IEEE
    correctly-rounded in every engine, pow() is not), quantized to
    integral weights, and laid out as [cum_lo, cum_hi) bucket ranges by
    the distributed prefix-sum (operators/rank.global_cumsum — range
    partition + offset table, no single-task window even for a 100 TB
    vocabulary). A sampler then draws u ~ Uniform[0, Σw) and
    range-joins into the table. Top-200 head shown; integral weights
    keep every cumulative value engine-exact."""
    from torcdb_spark.operators.rank import global_cumsum
    from torcdb_spark.operators.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select(
            F.explode(word_tokens(F.col("text"))).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top = (
        terms.orderBy(F.desc("c"), F.asc("term"))
        .limit(200)
        .withColumn(
            "w",
            F.floor(
                F.sqrt(F.col("c") * F.sqrt(F.col("c"))) * 1_000_000
            ).cast("long"),
        )
        .withColumn("_negc", -F.col("c"))
    )
    cum = global_cumsum(top, ["_negc", "term"], "w", cum_col="cum_hi")
    return cum.select(
        "term",
        "c",
        "w",
        (F.col("cum_hi") - F.col("w")).cast("long").alias("cum_lo"),
        F.col("cum_hi").cast("long").alias("cum_hi"),
    )


@_register(
    "km1_kmeans_assign",
    """WITH qv AS (
         SELECT vec_id,
                list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(floor(x * 1000) AS BIGINT)) AS v
         FROM embeddings
       ),
       seeds AS (
         SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
         FROM (SELECT vec_id, v FROM qv ORDER BY vec_id LIMIT 8)
       ),
       dists AS (
         SELECT q.vec_id, s.cid,
                list_sum(list_transform(
                  list_zip(q.v, s.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         FROM qv q CROSS JOIN seeds s
       ),
       assign AS (
         SELECT vec_id, cid, d2,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2 ASC, cid ASC) AS rk
         FROM dists
       )
       SELECT cid AS cluster,
              CAST(count(*) AS BIGINT) AS n_members,
              CAST(sum(d2) AS BIGINT) AS ssd,
              CAST(sum(vec_id) AS BIGINT) AS member_id_sum
       FROM assign WHERE rk = 1
       GROUP BY cid""",
)
def km1_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-verified k-means assignment step over integer-quantized
    embeddings: vectors quantize to floor(x·1000) BIGINT grids, the 8
    lowest-id vectors seed the codebook (broadcast as a tiny dimension
    table), and every vector takes its argmin squared-L2 cell with
    (distance, cell) tie-breaks — ALL integer arithmetic, so the
    assignment is value-verified cell by cell. It is round zero of
    kmeans_lloyd_quantized (iters=0), the trainer km2, e13, e15 and e16
    share: one broadcast nested-loop scan + one per-vector argmin + one
    cell-keyed aggregate, the canonical distributed k-means round shape
    at any scale."""
    from torcdb_spark.operators.similarity import kmeans_lloyd_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_lloyd_quantized(emb, k=8, iters=0)
    return out.groupBy(F.col("cid").alias("cluster")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("d2").cast("long").alias("ssd"),
        F.sum("id").cast("long").alias("member_id_sum"),
    )


@_register(
    "ab1_welch_ttest",
    """WITH assigned AS (
         SELECT event_type, value,
                (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                         1, 8)) AS BIGINT) % 2) = 0 AS is_a
         FROM events
       ),
       stats AS (
         SELECT event_type,
                CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
                SUM(CASE WHEN is_a THEN value ELSE 0 END) AS s_a,
                SUM(CASE WHEN is_a THEN 0 ELSE value END) AS s_b,
                SUM(CASE WHEN is_a THEN value * value ELSE 0 END) AS q_a,
                SUM(CASE WHEN is_a THEN 0 ELSE value * value END) AS q_b
         FROM assigned GROUP BY event_type
       ),
       derived AS (
         SELECT event_type, n_a, n_b,
                s_a / n_a AS m_a, s_b / n_b AS m_b,
                (q_a - s_a * s_a / n_a) / (n_a - 1) AS v_a,
                (q_b - s_b * s_b / n_b) / (n_b - 1) AS v_b
         FROM stats WHERE n_a >= 2 AND n_b >= 2
       )
       SELECT event_type, n_a, n_b,
              floor(m_a * 10000 + CAST(0.5 AS DOUBLE)) / 10000 AS mean_a,
              floor(m_b * 10000 + CAST(0.5 AS DOUBLE)) / 10000 AS mean_b,
              floor((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) * 10000
                    + CAST(0.5 AS DOUBLE)) / 10000 AS t_stat,
              floor((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
                    / (v_a * v_a / (n_a * n_a * (n_a - 1))
                       + v_b * v_b / (n_b * n_b * (n_b - 1))) * 100
                    + CAST(0.5 AS DOUBLE)) / 100 AS welch_df
       FROM derived""",
)
def ab1_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically md5-assigned to
    arms, per event_type the Welch unequal-variance t statistic and
    Welch-Satterthwaite degrees of freedom over the event value metric.
    One map-side-combinable aggregate per group computes (n, Σx, Σx²)
    for both arms in a single scan — the sufficient statistics, so the
    test costs the same as a count at any scale. Variances derive from
    the SAME Σ/Σ² formula in both engines (never the built-in var_samp,
    whose summation differs); final statistics round portably."""
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16, 10,
        ).cast("long") % 2 == 0
    )
    ev = load_table(spark, sf_dir, "events").withColumn("is_a", arm)
    stats = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1))
        .cast("long").alias("n_b"),
        F.sum(F.when(F.col("is_a"), F.col("value")).otherwise(0.0))
        .alias("s_a"),
        F.sum(F.when(F.col("is_a"), 0.0).otherwise(F.col("value")))
        .alias("s_b"),
        F.sum(
            F.when(F.col("is_a"), F.col("value") * F.col("value"))
            .otherwise(0.0)
        ).alias("q_a"),
        F.sum(
            F.when(F.col("is_a"), 0.0)
            .otherwise(F.col("value") * F.col("value"))
        ).alias("q_b"),
    ).where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    m_a = F.col("s_a") / F.col("n_a")
    m_b = F.col("s_b") / F.col("n_b")
    v_a = (F.col("q_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    v_b = (F.col("q_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    se2 = v_a / F.col("n_a") + v_b / F.col("n_b")
    t = (m_a - m_b) / F.sqrt(se2)
    df = (se2 * se2) / (
        v_a * v_a / (F.col("n_a") * F.col("n_a") * (F.col("n_a") - 1))
        + v_b * v_b / (F.col("n_b") * F.col("n_b") * (F.col("n_b") - 1))
    )

    def _r(c, d):
        return F.floor(c * (10 ** d) + F.lit(0.5)) / F.lit(float(10 ** d))

    return stats.select(
        "event_type",
        "n_a",
        "n_b",
        _r(m_a, 4).alias("mean_a"),
        _r(m_b, 4).alias("mean_b"),
        _r(t, 4).alias("t_stat"),
        _r(df, 2).alias("welch_df"),
    )


@_register(
    "e11_matryoshka_topk",
    """WITH half AS (
         SELECT vec_id,
                CAST(embedding AS DOUBLE[])[1 : len(embedding) / 2] AS v
         FROM embeddings
       ),
       q AS (SELECT vec_id AS query_id, v AS qv FROM half
             WHERE vec_id < 10),
       scored AS (
         SELECT query_id, h.vec_id AS neighbor_id,
                (floor((list_dot_product(qv, h.v)
                        / (sqrt(list_dot_product(qv, qv))
                           * sqrt(list_dot_product(h.v, h.v)))) * 1000000
                       + CAST(0.5 AS DOUBLE)) / 1000000) AS score
         FROM q, half h WHERE h.vec_id <> query_id)
       SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rnk
             FROM scored)
       WHERE rnk <= 5""",
)
def e11_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval (Kusupati et al. 2022 MRL): score
    with only the FIRST HALF of each embedding's dimensions — the
    coarse-pass trick MRL-trained models enable, halving the ANN scan's
    bandwidth and memory before an optional full-dim re-rank (e1/e10
    are the refiners). Same broadcast-queries × corpus shape as e1; the
    truncation is a zero-copy array slice in the scan projection.
    Portable rounding keeps every score engine-exact."""
    from pyspark.sql.window import Window as W

    from torcdb_spark.functions.vector import cosine_similarity

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    half = emb.select(
        "vec_id",
        F.slice(
            F.col("embedding").cast("array<double>"),
            1,
            (F.size("embedding") / 2).cast("int"),
        ).alias("v"),
    )
    q = half.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = half.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.floor(
                    cosine_similarity(F.col("qv"), F.col("cv")) * 1_000_000
                    + F.lit(0.5)
                )
                / F.lit(1_000_000.0)
            ).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "score",
                F.col("rnk").cast("long").alias("rnk"))
    )


@_register(
    "g_diameter",
    """WITH seq AS (
         SELECT user_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                ts, event_id
         FROM events),
       tr AS (
         SELECT k AS src,
                lead(k) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS dst
         FROM seq),
       cnts AS (SELECT src, dst, count(*) AS n FROM tr
                WHERE dst IS NOT NULL GROUP BY 1, 2),
       top AS (SELECT src, dst FROM cnts
               ORDER BY n DESC, src ASC, dst ASC LIMIT 175),
       sym AS (SELECT DISTINCT a, b FROM (
                 SELECT src AS a, dst AS b FROM top
                 UNION ALL SELECT dst AS a, src AS b FROM top)
               WHERE a <> b),
       seedv AS (SELECT min(v) AS v FROM (
                   SELECT src AS v FROM top UNION ALL SELECT dst FROM top)),
       comp AS (
         WITH RECURSIVE reach(v) AS (
           SELECT v FROM seedv
           UNION
           SELECT sym.b FROM reach JOIN sym ON sym.a = reach.v)
         SELECT v FROM reach),
       dist AS (
         WITH RECURSIVE walk(s, t, d) AS (
           SELECT v, v, 0 FROM comp
           UNION
           SELECT walk.s, sym.b, walk.d + 1
           FROM walk JOIN sym ON sym.a = walk.t
           WHERE walk.d < 64)
         SELECT s, t, min(d) AS md FROM walk GROUP BY 1, 2)
       SELECT CAST(max(md) AS BIGINT) AS diameter_lb,
              CAST(max(md) AS BIGINT) AS diameter_ub,
              TRUE AS exact
       FROM dist""",
)
def g_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iFUB-certified diameter (analytics.ifub_diameter) of the
    undirected navigation core: double sweep for the lower bound, then
    the iFUB fringe descent from the sweep-path midpoint until the
    bound certifies exactness (lb, ub, exact) — a handful of BFS
    fixpoints instead of the O(V) sweeps exact diameter naively costs.
    Seed = smallest page id (deterministic).

    EXACT-oracled (upgraded from rows-only): the navigation core is
    capped at 175 edges, so DuckDB can afford the brute-force ground
    truth — a depth-bounded recursive-CTE all-pairs closure over the
    seed's component whose max min-distance IS the diameter. iFUB must
    then certify (exact=TRUE) AND land on that exact value; the probe
    count n_bfs stays an operator-level detail (pytest-pinned), not a
    declared column. Certifies at sf0.001/0.01/0.1 (diameters 7/8/10)."""
    from torcdb_spark.analytics import ifub_diameter

    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = seq.select(
        F.col("k").alias("src"), F.lead("k").over(w).alias("dst")
    ).where(F.col("dst").isNotNull())
    cnts = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    edges = (
        cnts.orderBy(F.desc("n"), F.asc("src"), F.asc("dst"))
        .limit(175)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    seed = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    ).agg(F.min("id").alias("id"))
    return ifub_diameter(edges, seed).select(
        "diameter_lb", "diameter_ub", "exact"
    )


@_register(
    "ivm2_join_view_maintenance",
    """WITH orders2 AS (
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 37 = 0 THEN 'X-NEW'
                     ELSE o_orderpriority END AS prio
         FROM orders
       ),
       lineitem2 AS (
         SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty
         FROM lineitem
         WHERE NOT (l_orderkey % 53 = 0 AND l_linenumber % 2 = 0)
       )
       SELECT o.prio,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(l.qty) AS BIGINT) AS qty
       FROM orders2 o JOIN lineitem2 l ON l.l_orderkey = o.o_orderkey
       GROUP BY o.prio""",
)
def ivm2_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-AGGREGATE view (operators/ivm
    delta_join ∘ maintain_agg): the view GROUP BY priority over
    orders ⋈ lineitem is maintained under simultaneous deltas on BOTH
    base tables — an UPDATE on orders (retract + insert with a new
    priority, the Z-set spelling of UPDATE) and DELETEs on lineitem —
    via the bilinear rule Δ(A⋈B) = ΔA⋈B ⊎ A⋈ΔB ⊎ ΔA⋈ΔB. Refresh cost
    scales with the deltas, never the join. The oracle RECOMPUTES the
    view from the post-change tables: maintain(base, Δ) ≡
    recompute(base ⊎ Δ), bit-exact (integral measures)."""
    from torcdb_spark.operators.ivm import delta_join, maintain_agg

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("prio")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_linenumber",
    )
    a0, b0 = orders, li.select("o_orderkey", "qty")
    touched = orders.where(F.col("o_orderkey") % 37 == 0)
    d_a = touched.withColumn("__m", F.lit(-1)).unionByName(
        touched.withColumn("prio", F.lit("X-NEW")).withColumn(
            "__m", F.lit(1)
        )
    )
    d_b = (
        li.where(
            (F.col("o_orderkey") % 53 == 0) & (F.col("l_linenumber") % 2 == 0)
        )
        .select("o_orderkey", "qty")
        .withColumn("__m", F.lit(-1))
    )
    view0 = (
        a0.join(b0, "o_orderkey")
        .groupBy("prio")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("qty").cast("long").alias("qty"),
        )
    )
    dj = delta_join(a0, d_a, b0, d_b, ["o_orderkey"]).select(
        "prio", "qty", "__m"
    )
    return maintain_agg(view0, dj, ["prio"], ["qty"])


# ---------------------------------------------------------------------------
# Round-6: the remaining LDBC SNB Interactive shapes. The reference's entire
# validation story is LDBC SNB (reference README.md "Running LDBC SNB
# Validation", validation_params.csv golden outputs); these close the IC
# workload-parity gap on the fixture schema's analog mapping:
# person→customer, knows→same-nation, forum→supplier, message→order,
# comment/like→lineitem, tag→part, tagClass→p_type root word.
# ---------------------------------------------------------------------------


_FRIENDS_SQL = """
  SELECT DISTINCT f.c_custkey
  FROM customer s JOIN customer f ON f.c_nationkey = s.c_nationkey
  WHERE s.c_custkey BETWEEN 1 AND {hi} AND f.c_custkey NOT BETWEEN 1 AND {hi}
"""


def _friend_set(g, spark, lo: int, hi: int):
    """Shared 'knows' analog: customers sharing a nation with any seed in
    [lo, hi], seeds excluded — seed→fromNation OUT→fromNation IN, then
    subtract (the reference's traverse+subtract composition,
    TorcHelper.java:560-592). Frontier stays ≤|nations| between hops."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(lo, hi + 1)]
    cust = g.vertices_by_id(seeds, label="customer")
    n1 = traverse(cust, g.edges, "fromNation", Direction.OUT)
    back = traverse(v_set(n1), g.edges, "fromNation", Direction.IN,
                    broadcast_frontier=True)
    friends = algebra.subtract(back, cust.select("id"))
    return cust, v_set(friends)


@_register(
    "ldbc_ic_like_friend_orders",
    """WITH friends AS ({friends})
       SELECT o_custkey AS c_custkey, o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              round(o_totalprice, 2) AS totalprice
       FROM orders JOIN friends ON o_custkey = c_custkey
       WHERE o_orderdate < TIMESTAMP '1998-01-01'
       ORDER BY orderdate DESC, o_orderkey ASC LIMIT 20""".replace(
        "{friends}", _FRIENDS_SQL.format(hi=5)
    ),
)
def ldbc_ic_like_friend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC2-shaped (recent messages by your FRIENDS, before a date): for
    seed customers 1-5, expand to the same-nation friend set, then the
    friends' orders strictly before the cutoff — date predicate on the
    placed EDGE property via remove_edge_if's θ-filter — newest first
    with key tiebreak, top-20. Differs from ldbc_ic_like_recent_orders
    (the seed's OWN activity): IC2's defining shape is the knows-hop
    BEFORE the message scan."""
    g = _graph(spark, sf_dir)
    _, friends = _friend_set(g, spark, 1, 5)
    tr = traverse(friends, g.edges, "placed", Direction.OUT, fill_edge=True)
    kept = remove_edge_if(
        tr, lambda dst, props: props["orderdate"] >= "1998-01-01"
    )
    return (
        kept.select(
            id_lower(F.col("src")).alias("c_custkey"),
            id_lower(F.col("dst")).alias("o_orderkey"),
            F.date_format(
                F.col("props")["orderdate"].cast("timestamp"), "yyyy-MM-dd"
            ).alias("orderdate"),
            F.round(F.col("props")["totalprice"].cast("double"), 2).alias(
                "totalprice"
            ),
        )
        .orderBy(F.desc("orderdate"), F.asc("o_orderkey"))
        .limit(20)
    )


@_register(
    "ldbc_ic_like_new_groups",
    """WITH friends AS ({friends})
       SELECT l_suppkey AS s_suppkey, s_name,
              CAST(COUNT(*) AS BIGINT) AS n_lines
       FROM lineitem
       JOIN orders ON o_orderkey = l_orderkey
       JOIN friends ON o_custkey = c_custkey
       JOIN supplier ON s_suppkey = l_suppkey
       WHERE o_orderdate >= TIMESTAMP '1999-06-01'
       GROUP BY l_suppkey, s_name
       ORDER BY n_lines DESC, s_suppkey ASC LIMIT 20""".replace(
        "{friends}", _FRIENDS_SQL.format(hi=10)
    ),
)
def ldbc_ic_like_new_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC5-shaped (new groups your friends joined since a date): forums
    map to suppliers, membership to a friend's recent order containing a
    lineitem suppliedBy that supplier. Friend set → placed (edge-date
    filter ≥ cutoff) → contains → suppliedBy, then rank suppliers by
    incidence. Every hop is an id equi-join; the date predicate prunes
    the order frontier BEFORE the two fan-out hops."""
    g = _graph(spark, sf_dir)
    _, friends = _friend_set(g, spark, 1, 10)
    tr = traverse(friends, g.edges, "placed", Direction.OUT, fill_edge=True)
    recent = remove_edge_if(
        tr, lambda dst, props: props["orderdate"] < "1999-06-01"
    )
    h2 = traverse(v_set(recent), g.edges, "contains", Direction.OUT)
    h3 = traverse(v_set(h2), g.edges, "suppliedBy", Direction.OUT)
    sv = g.vertices.where(F.col("label") == "supplier").select(
        F.col("id").alias("dst"), F.col("props")["s_name"].alias("s_name")
    )
    return (
        h3.groupBy("dst")
        .agg(F.count("*").cast("long").alias("n_lines"))
        .join(F.broadcast(sv), "dst")
        .select(
            id_lower(F.col("dst")).alias("s_suppkey"), "s_name", "n_lines"
        )
        .orderBy(F.desc("n_lines"), F.asc("s_suppkey"))
        .limit(20)
    )


@_register(
    "ldbc_ic_like_recent_likers",
    """WITH likes AS (
         SELECT o_custkey AS ck, o_orderdate AS od, o_orderkey AS ok,
                l_linenumber AS ln
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         WHERE l_suppkey = 1
       ),
       latest AS (
         SELECT ck, od, ok, ln,
                row_number() OVER (PARTITION BY ck
                                   ORDER BY od DESC, ok DESC, ln DESC) AS rn
         FROM likes
       ),
       sup_nation AS (
         SELECT c_custkey FROM customer
         JOIN supplier ON c_nationkey = s_nationkey
         WHERE s_suppkey = 1
       )
       SELECT ck AS c_custkey, strftime(od, '%Y-%m-%d') AS like_date,
              ok AS o_orderkey, CAST(ln AS BIGINT) AS linenumber,
              ck NOT IN (SELECT c_custkey FROM sup_nation) AS is_new
       FROM latest WHERE rn = 1
       ORDER BY like_date DESC, c_custkey ASC LIMIT 20""",
)
def ldbc_ic_like_recent_likers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC7-shaped (recent likers of your content, with the is-new flag):
    seed supplier 1's lineitems are the likes, the placing customer the
    liker. Walk supplier←suppliedBy←lineitem←contains←order←placed←
    customer, keep each liker's MOST RECENT like — max(struct(date, key,
    lineno)) per customer, the lexicographic argmax IC7 computes with its
    latest-like window — and flag likers outside the supplier's own
    nation (the 'stranger' bit IC7 derives from the knows edge)."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    sup = g.vertices_by_id(
        [uint128_pair(LABEL_TAGS["supplier"], 1)], label="supplier"
    )
    b1 = traverse(sup, g.edges, "suppliedBy", Direction.IN)
    b2 = traverse(v_set(b1), g.edges, "contains", Direction.IN,
                  fill_edge=True)
    b3 = traverse(v_set(b2), g.edges, "placed", Direction.IN, fill_edge=True)
    likes = (
        b2.select(
            F.col("src").alias("l"), F.col("dst").alias("o"),
            F.col("props")["linenumber"].cast("long").alias("ln"),
        )
        .join(
            b3.select(
                F.col("src").alias("o"), F.col("dst").alias("c"),
                F.col("props")["orderdate"].cast("timestamp").alias("od"),
            ),
            "o",
        )
    )
    latest = likes.groupBy("c").agg(
        F.max(
            F.struct(F.col("od"), id_lower(F.col("o")).alias("ok"), "ln")
        ).alias("m")
    )
    # the supplier's co-nation customers (the 'not new' set)
    sn = traverse(sup, g.edges, "suppFromNation", Direction.OUT)
    conat = traverse(v_set(sn), g.edges, "fromNation", Direction.IN)
    flag = v_set(conat).withColumn("_old", F.lit(True))
    return (
        latest.join(flag, latest["c"] == flag["id"], "left")
        .select(
            id_lower(F.col("c")).alias("c_custkey"),
            F.date_format(F.col("m.od"), "yyyy-MM-dd").alias("like_date"),
            F.col("m.ok").alias("o_orderkey"),
            F.col("m.ln").alias("linenumber"),
            F.col("_old").isNull().alias("is_new"),
        )
        .orderBy(F.desc("like_date"), F.asc("c_custkey"))
        .limit(20)
    )


@_register(
    "ldbc_ic_like_recent_replies",
    """SELECT o_custkey AS c_custkey, o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              CAST(l_linenumber AS BIGINT) AS linenumber,
              l_suppkey AS s_suppkey
       FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       WHERE o_custkey BETWEEN 1 AND 5
       ORDER BY orderdate DESC, o_orderkey ASC, linenumber ASC,
                s_suppkey ASC LIMIT 20""",
)
def ldbc_ic_like_recent_replies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC8-shaped (recent replies to your content): for seed customers
    1-5, the lineitems of their orders are the replies and the supplying
    supplier the replier. Three hops with the order date and line number
    riding the placed/contains edge props, newest-order first with full
    key tiebreaks, top-20. All emitted columns participate in the sort,
    so the limit cut is value-deterministic even though (orderkey,
    linenumber) is not unique in the fixtures."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 6)]
    cust = g.vertices_by_id(seeds, label="customer")
    h1 = traverse(cust, g.edges, "placed", Direction.OUT, fill_edge=True)
    h2 = traverse(v_set(h1), g.edges, "contains", Direction.OUT,
                  fill_edge=True)
    h3 = traverse(v_set(h2), g.edges, "suppliedBy", Direction.OUT)
    chain = (
        h1.select(
            F.col("src").alias("c"), F.col("dst").alias("o"),
            F.col("props")["orderdate"].cast("timestamp").alias("od"),
        )
        .join(
            h2.select(
                F.col("src").alias("o"), F.col("dst").alias("l"),
                F.col("props")["linenumber"].cast("long").alias("ln"),
            ),
            "o",
        )
        .join(
            h3.select(F.col("src").alias("l"), F.col("dst").alias("s")), "l"
        )
    )
    return (
        chain.select(
            id_lower(F.col("c")).alias("c_custkey"),
            id_lower(F.col("o")).alias("o_orderkey"),
            F.date_format(F.col("od"), "yyyy-MM-dd").alias("orderdate"),
            F.col("ln").alias("linenumber"),
            id_lower(F.col("s")).alias("s_suppkey"),
        )
        .orderBy(
            F.desc("orderdate"), F.asc("o_orderkey"), F.asc("linenumber"),
            F.asc("s_suppkey"),
        )
        .limit(20)
    )


@_register(
    "ldbc_ic_like_friend_recommend",
    """WITH sn AS (SELECT DISTINCT c_nationkey
                   FROM customer WHERE c_custkey BETWEEN 1 AND 5),
       sr AS (SELECT DISTINCT n_regionkey
              FROM nation JOIN sn ON n_nationkey = c_nationkey),
       fofn AS (SELECT n_nationkey FROM nation JOIN sr USING (n_regionkey)
                WHERE n_nationkey NOT IN (SELECT c_nationkey FROM sn)),
       fof AS (SELECT c_custkey FROM customer
               JOIN fofn ON c_nationkey = n_nationkey
               WHERE c_mktsegment = 'BUILDING'
                 AND c_custkey NOT BETWEEN 1 AND 5),
       seed_parts AS (SELECT DISTINCT l_partkey
                      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                      WHERE o_custkey BETWEEN 1 AND 5),
       fof_parts AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
                     FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                     JOIN fof ON o_custkey = c_custkey)
       SELECT ck AS c_custkey,
              CAST(SUM(CASE WHEN sp.l_partkey IS NOT NULL
                            THEN 1 ELSE -1 END) AS BIGINT) AS score,
              CAST(SUM(CASE WHEN sp.l_partkey IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_common
       FROM fof_parts LEFT JOIN seed_parts sp ON pk = sp.l_partkey
       GROUP BY ck
       ORDER BY score DESC, c_custkey ASC LIMIT 10""",
)
def ldbc_ic_like_friend_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC10-shaped friend recommendation: friends-of-friends (same
    REGION, different nation — one knows-hop beyond the same-nation
    friend ring), gated by a profile predicate (mktsegment = BUILDING,
    the birthday-window analog), scored common − uncommon interests:
    (+1 per distinct part also bought by a seed, −1 per part not) —
    exactly IC10's commonInterestScore. Candidate set is bounded by the
    region fan-out; the scoring join is (fof, part) DISTINCT pairs
    against a seed-part set, an equi-join on the part id."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 6)]
    cust = g.vertices_by_id(seeds, label="customer")
    ns = traverse(cust, g.edges, "fromNation", Direction.OUT)
    rs = traverse(v_set(ns), g.edges, "inRegion", Direction.OUT)
    nr = traverse(v_set(rs), g.edges, "inRegion", Direction.IN)
    fof_nations = algebra.subtract(nr, v_set(ns))
    fof_cust = traverse(v_set(fof_nations), g.edges, "fromNation",
                        Direction.IN)
    seg = g.vertices.where(
        (F.col("label") == "customer")
        & (F.col("props")["c_mktsegment"] == "BUILDING")
    ).select("id")
    fof = (
        v_set(fof_cust)
        .join(seg, "id", "left_semi")
        .join(cust.select("id"), "id", "left_anti")
    )
    # seed interests: distinct parts over the 3-hop purchase chain
    s1 = traverse(cust, g.edges, "placed", Direction.OUT)
    s2 = traverse(v_set(s1), g.edges, "contains", Direction.OUT)
    s3 = traverse(v_set(s2), g.edges, "ofPart", Direction.OUT)
    seed_parts = (
        s3.select(F.col("dst").alias("p")).dropDuplicates(["p"])
        .withColumn("_seed", F.lit(True))
    )
    # fof interests, with the fof id carried through the chain joins
    f1 = traverse(fof, g.edges, "placed", Direction.OUT)
    f2 = traverse(v_set(f1), g.edges, "contains", Direction.OUT)
    f3 = traverse(v_set(f2), g.edges, "ofPart", Direction.OUT)
    pairs = (
        f1.select(F.col("src").alias("c"), F.col("dst").alias("o"))
        .join(f2.select(F.col("src").alias("o"), F.col("dst").alias("l")),
              "o")
        .join(f3.select(F.col("src").alias("l"), F.col("dst").alias("p")),
              "l")
        .select("c", "p")
        .dropDuplicates(["c", "p"])
    )
    return (
        pairs.join(F.broadcast(seed_parts), "p", "left")
        .groupBy("c")
        .agg(
            F.sum(
                F.when(F.col("_seed"), 1).otherwise(-1)
            ).cast("long").alias("score"),
            F.sum(
                F.when(F.col("_seed"), 1).otherwise(0)
            ).cast("long").alias("n_common"),
        )
        .select(
            id_lower(F.col("c")).alias("c_custkey"), "score", "n_common"
        )
        .orderBy(F.desc("score"), F.asc("c_custkey"))
        .limit(10)
    )


@_register(
    "ldbc_ic_like_expert_search",
    """WITH friends AS ({friends}),
       fp AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              JOIN friends ON o_custkey = c_custkey
              JOIN part ON p_partkey = l_partkey
              WHERE p_type LIKE 'PROMO%')
       SELECT ck AS c_custkey, CAST(COUNT(*) AS BIGINT) AS n_expert_parts
       FROM fp GROUP BY ck
       ORDER BY n_expert_parts DESC, c_custkey ASC LIMIT 20""".replace(
        "{friends}", _FRIENDS_SQL.format(hi=10)
    ),
)
def ldbc_ic_like_expert_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC12-shaped expert search via the tag-class hierarchy: p_type's
    root word is the tag class (PROMO ANODIZED … → class PROMO, the
    analog of IC12's tagClass subtree match); rank same-nation friends
    of seeds 1-10 by how many DISTINCT class-PROMO parts they bought.
    The class filter lands on the part VERTEX scan (startswith prunes
    before the join); the per-friend identity rides the hop chain as
    id equi-joins, never a window."""
    g = _graph(spark, sf_dir)
    _, friends = _friend_set(g, spark, 1, 10)
    h1 = traverse(friends, g.edges, "placed", Direction.OUT)
    h2 = traverse(v_set(h1), g.edges, "contains", Direction.OUT)
    h3 = traverse(v_set(h2), g.edges, "ofPart", Direction.OUT)
    promo = g.vertices.where(
        (F.col("label") == "part")
        & F.col("props")["p_type"].startswith("PROMO")
    ).select(F.col("id").alias("p"))
    pairs = (
        h1.select(F.col("src").alias("c"), F.col("dst").alias("o"))
        .join(h2.select(F.col("src").alias("o"), F.col("dst").alias("l")),
              "o")
        .join(h3.select(F.col("src").alias("l"), F.col("dst").alias("p")),
              "l")
        .join(F.broadcast(promo), "p", "left_semi")
        .select("c", "p")
        .dropDuplicates(["c", "p"])
    )
    return (
        pairs.groupBy("c")
        .agg(F.count("*").cast("long").alias("n_expert_parts"))
        .select(id_lower(F.col("c")).alias("c_custkey"), "n_expert_parts")
        .orderBy(F.desc("n_expert_parts"), F.asc("c_custkey"))
        .limit(20)
    )


@_register(
    "ldbc_ic_like_weighted_path",
    """WITH RECURSIVE und AS (
         SELECT 3 AS st, c_custkey AS sk, 2 AS dt, c_nationkey AS dk FROM customer
         UNION ALL SELECT 2, c_nationkey, 3, c_custkey FROM customer
         UNION ALL SELECT 2, n_nationkey, 1, n_regionkey FROM nation
         UNION ALL SELECT 1, n_regionkey, 2, n_nationkey FROM nation
       ),
       bfs(t, k, d) AS (
         SELECT 3, 3, 0
         UNION
         SELECT und.dt, und.dk, bfs.d + 1
         FROM bfs JOIN und ON und.st = bfs.t AND und.sk = bfs.k
         WHERE bfs.d < 4
       ),
       dmin AS (SELECT t, k, MIN(d) AS d FROM bfs GROUP BY 1, 2),
       target AS (SELECT t, k, d FROM dmin WHERE t = 3 AND k = 8),
       walk(step, t, k) AS (
         SELECT d, t, k FROM target
         UNION ALL
         SELECT w.step - 1, p.t, p.k
         FROM walk w, LATERAL (
           SELECT m.t, m.k FROM und u JOIN dmin m ON m.t = u.st AND m.k = u.sk
           WHERE u.dt = w.t AND u.dk = w.k AND m.d = w.step - 1
           ORDER BY m.t, m.k LIMIT 1
         ) p
         WHERE w.step > 0
       ),
       wpath AS (
         SELECT step, t, k,
                CASE t
                  WHEN 3 THEN (SELECT count(*) FROM orders o
                               WHERE o.o_custkey = k)
                  WHEN 2 THEN (SELECT count(*) FROM customer c
                               WHERE c.c_nationkey = k)
                  WHEN 1 THEN (SELECT count(*) FROM nation n
                               WHERE n.n_regionkey = k)
                END AS w
         FROM walk
       )
       SELECT CAST(step AS BIGINT) AS step, CAST(t AS BIGINT) AS vtag,
              CAST(k AS BIGINT) AS vkey, CAST(w AS BIGINT) AS weight,
              CAST(SUM(w) OVER () AS BIGINT) AS path_score
       FROM wpath""",
)
def ldbc_ic_like_weighted_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC14-shaped weighted path score on top of the IC13 reconstruction
    (g_path_pair; reference README's validation workload): the exact
    shortest path customer3→customer8 over the location chain, each path
    vertex weighted by its interaction count — orders placed (customer),
    customers resident (nation), nations contained (region) — and the
    whole-path score summed, IC14's sum-of-pair-weights shape. Weight
    lookup is one unioned groupBy over the three edge labels joined to
    the ≤max_depth+1 path rows; the window sum runs over that bounded
    frame only."""
    from torcdb_spark.analytics import shortest_path_pair
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import id_upper, uint128_pair

    g = _graph(spark, sf_dir)
    loc = g.edges.where(F.col("label").isin("fromNation", "inRegion"))
    path = shortest_path_pair(
        loc,
        uint128_pair(LABEL_TAGS["customer"], 3),
        uint128_pair(LABEL_TAGS["customer"], 8),
        max_depth=4,
    )
    w_cust = (
        g.edges.where(F.col("label") == "placed")
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("w"))
    )
    w_nation = (
        g.edges.where(F.col("label") == "fromNation")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.count("*").alias("w"))
    )
    w_region = (
        g.edges.where(F.col("label") == "inRegion")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.count("*").alias("w"))
    )
    weights = w_cust.unionByName(w_nation).unionByName(w_region)
    scored = path.join(weights, "id", "left").withColumn(
        "w", F.coalesce(F.col("w"), F.lit(0))
    )
    # whole-frame window is safe: the frame is ≤ max_depth+1 rows
    return scored.select(
        F.col("step").cast("long").alias("step"),
        id_upper(F.col("id")).alias("vtag"),
        id_lower(F.col("id")).alias("vkey"),
        F.col("w").cast("long").alias("weight"),
        F.sum("w").over(Window.partitionBy()).cast("long").alias(
            "path_score"
        ),
    )


@_register(
    "g_gremlin_cyclic_path",
    """SELECT c_custkey, n_regionkey AS r_regionkey,
              c_nationkey AS n_nationkey
       FROM customer JOIN nation ON n_nationkey = c_nationkey""",
)
def g_gremlin_cyclic_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cyclicPath() step (gremlin.py cyclic_path — the exact complement
    of simple_path; gremlin-core 3.2.4 CyclicPathStep): walk customer
    →fromNation→nation→inRegion→region→inRegion(IN)→nation with path
    tracking; the cyclic survivors are exactly the walks that return to
    the start nation, so each customer yields one path and the emitted
    (customer, region, nation) triple — read out of the path ARRAY, not
    re-joined — must reproduce the customer⋈nation table."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g).V().has_label("customer").with_path()
        .out("fromNation").out("inRegion").in_("inRegion")
        .cyclic_path()
    )
    return t._df.select(
        id_lower(F.col("_path")[0]).alias("c_custkey"),
        id_lower(F.col("_path")[2]).alias("r_regionkey"),
        id_lower(F.col("_path")[3]).alias("n_nationkey"),
    )


@_register(
    "g_gremlin_sack",
    """SELECT o_custkey AS c_custkey,
              CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                       + l_linenumber) AS BIGINT) AS sack_cents,
              CAST(COUNT(*) AS BIGINT) AS n_traversers
       FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       GROUP BY o_custkey""",
)
def g_gremlin_sack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sack() step family (gremlin.py with_sack/sack_/sack — TinkerPop
    SackValueStep, gremlin-core 3.2.4): per-traverser accumulator
    folded along a 2-hop edge walk. Each customer traverser walks
    placed→order→contains→lineitem summing the placed edge's totalprice
    (in integer CENTS — float sums across engines diverge; cents don't)
    and the contains edge's linenumber into its sack; the terminal
    groups sacks per start. The sack is a frame column updated by
    codegen expressions — per-traverser state with zero extra shuffles."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g).V().has_label("customer")
        .with_sack(F.lit(0).cast("long"))
        .out_e("placed")
        .sack_(
            "sum",
            F.round(
                F.col("_eprops")["totalprice"].cast("double") * 100, 0
            ).cast("long"),
        )
        .in_v()
        .out_e("contains")
        .sack_("sum", F.col("_eprops")["linenumber"].cast("long"))
        .in_v()
    )
    return (
        t.sack()
        .groupBy("start")
        .agg(
            F.sum("sack").cast("long").alias("sack_cents"),
            F.count("*").cast("long").alias("n_traversers"),
        )
        .select(
            id_lower(F.col("start")).alias("c_custkey"),
            "sack_cents",
            "n_traversers",
        )
    )


@_register(
    "sh1_epoch_shuffle",
    """WITH h AS (
         SELECT doc_id,
                md5('epoch7:' || CAST(doc_id AS VARCHAR)) AS hx
         FROM documents),
       s AS (
         SELECT doc_id, hx,
                ('0x' || substr(hx, 1, 8))::BIGINT % 8 AS shard
         FROM h)
       SELECT doc_id, CAST(shard AS BIGINT) AS shard,
              CAST(row_number() OVER (PARTITION BY shard
                                      ORDER BY hx, doc_id) AS BIGINT) AS pos
       FROM s""",
)
def sh1_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle — the reproducible global
    permutation every data-loader epoch needs: md5('epoch<N>:'||id)
    assigns each document a shard (hash prefix mod n_shards) and a
    within-shard position (hash order, id tiebreak). Same seed → same
    permutation on any engine and any partitioning; a new epoch seed is
    a full reshuffle with zero state.

    Scale shape: the per-shard position comes from rank.global_rank
    over (shard, hx, id) — the distributed range-partitioned prefix
    sum — with the shard's start offset subtracted via one broadcast
    8-row aggregate. NEVER a window partitioned by shard: 8 shards at
    100 TB would mean 8 single-task sorts of 12.5 TB each."""
    from torcdb_spark.operators.rank import global_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hx = F.md5(F.concat(F.lit("epoch7:"), F.col("doc_id").cast("string")))
    scored = docs.select(
        "doc_id",
        hx.alias("hx"),
        (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % 8).alias(
            "shard"
        ),
    )
    ranked = global_rank(scored, ["shard", "hx", "doc_id"], "grk")
    starts = ranked.groupBy("shard").agg(F.min("grk").alias("_start"))
    return (
        ranked.join(F.broadcast(starts), "shard")
        .select(
            "doc_id",
            F.col("shard").cast("long").alias("shard"),
            (F.col("grk") - F.col("_start") + 1).cast("long").alias("pos"),
        )
    )


@_register(
    "pca1_embedding_covariance",
    """WITH dims AS (SELECT i FROM generate_series(1, 64) t(i)),
       st AS (
         SELECT d1.i AS i, d2.i AS j,
                COUNT(*) AS n,
                SUM(CAST(embedding[d1.i] AS DOUBLE)) AS si,
                SUM(CAST(embedding[d2.i] AS DOUBLE)) AS sj,
                SUM(CAST(embedding[d1.i] AS DOUBLE)
                    * CAST(embedding[d2.i] AS DOUBLE)) AS sij
         FROM embeddings, dims d1, dims d2
         GROUP BY d1.i, d2.i)
       SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
              round((sij - si * sj / n) / (n - 1), 6)
                + CAST(0.0 AS DOUBLE) AS cov
       FROM st""",
)
def pca1_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance — the one data pass behind PCA/whitening
    (operators/similarity.py embedding_moments → embedding_pca): each
    partition's Arrow kernel accumulates one float64 outer-product
    partial (d²+d+1 values), partials combine in a d²-row groupBy — the
    rank-2 allreduce shape; the data never crosses the wire more than
    once and no stage ever holds more than #partitions × d² values.
    The oracle recomputes all 64×64 moments by brute-force dimension
    cross join. The eigensolve/projection downstream is pytest-verified
    against numpy PCA (sign-conventioned)."""
    from torcdb_spark.operators.similarity import embedding_moments

    emb = load_table(spark, sf_dir, "embeddings")
    m = embedding_moments(emb, "embedding")
    return m.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        # + 0.0 normalizes IEEE -0.0 to +0.0 (a round()-of-tiny-negative
        # artifact that hashes differently from DuckDB's) on both sides
        (
            F.round(
                (
                    F.col("sum_ij")
                    - F.col("sum_i") * F.col("sum_j") / F.col("n")
                )
                / (F.col("n") - 1),
                6,
            )
            + F.lit(0.0)
        ).alias("cov"),
    )


# ---------------------------------------------------------------------------
# LDBC SNB interactive SHORT READS (IS1-IS7) — the reference's validation
# workload (reference README.md "Running LDBC SNB Validation") comprises
# complex reads (ldbc_ic_like_*), short reads, and updates; these are the
# short-read analogues: point lookups + 1-2-hop expansions with composite
# order, composed from the S5/T1/T2/T4 operator surface over the FIXTURES
# property graph. Each has an exact FK-join oracle.
# ---------------------------------------------------------------------------


@_register(
    "ldbc_is_like_profile",
    """SELECT c_custkey, c_name,
              round(CAST(c_acctbal AS DOUBLE), 2) AS acctbal,
              c_mktsegment, CAST(c_nationkey AS BIGINT) AS n_nationkey
       FROM customer WHERE c_custkey BETWEEN 1 AND 10""",
)
def ldbc_is_like_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS1-shaped: person profile — point lookup of the seed vertices'
    properties (S5, TorcGraph.java:327-373) plus the 1-hop location
    (customer --fromNation--> nation), LDBC IS1's person+city composite
    (reference README.md, SNB validation workload)."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 11)]
    cust = g.vertices_by_id(seeds, label="customer")
    nat = traverse(cust, g.edges, "fromNation", Direction.OUT)
    return (
        cust.join(nat, cust["id"] == nat["src"])
        .select(
            id_lower(F.col("id")).alias("c_custkey"),
            F.col("props")["c_name"].alias("c_name"),
            F.round(F.col("props")["c_acctbal"].cast("double"), 2).alias(
                "acctbal"
            ),
            F.col("props")["c_mktsegment"].alias("c_mktsegment"),
            id_lower(F.col("dst")).alias("n_nationkey"),
        )
    )


@_register(
    "ldbc_is_like_recent_msgs",
    """WITH recent AS (
         SELECT o_custkey AS c_custkey, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC,
                                            o_orderkey DESC) AS rk
         FROM orders WHERE o_custkey BETWEEN 1 AND 20),
       root AS (
         SELECT l_orderkey,
                CAST(l_linenumber AS BIGINT) AS root_line,
                CAST(l_suppkey AS BIGINT) AS root_supp,
                row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber ASC,
                                            l_suppkey ASC) AS rn
         FROM lineitem)
       SELECT c_custkey, o_orderkey, orderdate, root_line, root_supp
       FROM recent JOIN root ON l_orderkey = o_orderkey
       WHERE rk <= 10 AND rn = 1""",
)
def ldbc_is_like_recent_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS2-shaped: seed persons' 10 most recent messages, each joined to
    the root post of its thread and that root's author — here: each seed
    customer's 10 newest orders (edge-property window, newest-first with
    key tiebreak), each joined to its FIRST lineitem (min linenumber,
    supplier tiebreak — lineitem has no unique natural key, so the
    arg-min window carries the full tiebreak on both sides) and that
    lineitem's supplier (the 'root author'). Three 1-hop traverses
    (T1+T2's fill_edge) + two per-group windows; Catalyst's
    WindowGroupLimit keeps the top-10 cut inside the shuffle."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 21)]
    cust = g.vertices_by_id(seeds, label="customer")
    placed = traverse(cust, g.edges, "placed", Direction.OUT, fill_edge=True)
    w = Window.partitionBy("src").orderBy(
        F.col("props")["orderdate"].desc(), id_lower(F.col("dst")).desc()
    )
    recent = (
        placed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select(
            F.col("src").alias("cust_id"),
            F.col("dst").alias("order_id"),
            F.date_format(
                F.col("props")["orderdate"].cast("timestamp"), "yyyy-MM-dd"
            ).alias("orderdate"),
        )
    )
    contains = traverse(
        recent.select(F.col("order_id").alias("id")), g.edges, "contains",
        Direction.OUT, fill_edge=True,
    ).select(
        F.col("src").alias("order_id"),
        F.col("dst").alias("line_id"),
        F.col("props")["linenumber"].cast("long").alias("root_line"),
    )
    supplied = traverse(
        contains.select(F.col("line_id").alias("id")), g.edges, "suppliedBy",
        Direction.OUT,
    ).select(
        F.col("src").alias("line_id"), id_lower(F.col("dst")).alias("root_supp")
    )
    lines = contains.join(supplied, "line_id")
    wr = Window.partitionBy("order_id").orderBy(
        F.col("root_line").asc(), F.col("root_supp").asc()
    )
    roots = (
        lines.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
    )
    return recent.join(roots, "order_id").select(
        id_lower(F.col("cust_id")).alias("c_custkey"),
        id_lower(F.col("order_id")).alias("o_orderkey"),
        "orderdate",
        "root_line",
        "root_supp",
    )


@_register(
    "ldbc_is_like_friends",
    """WITH fr AS (
         SELECT c1.c_custkey AS c_custkey, c2.c_custkey AS friend_custkey,
                c2.c_name AS friend_name,
                round(CAST(c2.c_acctbal AS DOUBLE), 2) AS friend_acctbal
         FROM customer c1 JOIN customer c2
           ON c1.c_nationkey = c2.c_nationkey
          AND c1.c_custkey <> c2.c_custkey
         WHERE c1.c_custkey BETWEEN 1 AND 10)
       SELECT c_custkey, friend_custkey, friend_name, friend_acctbal,
              CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
                       ORDER BY friend_acctbal DESC,
                                friend_custkey ASC) AS rnk
             FROM fr)
       WHERE rnk <= 20""",
)
def ldbc_is_like_friends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS3-shaped: seed persons' friends ordered by friendship recency —
    here: co-located customers (2-hop customer→nation→customer over
    fromNation OUT then IN, self excluded), hydrated (T2) and ranked per
    seed by account balance (rounded, key tiebreak), top-20. The rank
    column rides in the output so the composite ORDER of IS3 is itself
    hash-checked, not just the row set."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 11)]
    cust = g.vertices_by_id(seeds, label="customer")
    nat = traverse(cust, g.edges, "fromNation", Direction.OUT)
    friends = traverse(
        nat.select(F.col("dst").alias("id")), g.edges, "fromNation",
        Direction.IN,
    ).select(F.col("src").alias("nat_id"), F.col("dst").alias("friend_id"))
    pairs = (
        nat.select(F.col("src").alias("seed_id"), F.col("dst").alias("nat_id"))
        .join(friends, "nat_id")
        .where(F.col("seed_id") != F.col("friend_id"))
    )
    hydrated = fill_properties(
        pairs.withColumnRenamed("friend_id", "id"), g.vertices,
        keys=["c_name", "c_acctbal"], labels=["customer"],
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("friend_acctbal").desc(), F.col("friend_custkey").asc()
    )
    return (
        hydrated.select(
            id_lower(F.col("seed_id")).alias("c_custkey"),
            id_lower(F.col("id")).alias("friend_custkey"),
            F.col("props")["c_name"].alias("friend_name"),
            F.round(F.col("props")["c_acctbal"].cast("double"), 2).alias(
                "friend_acctbal"
            ),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 20)
    )


@_register(
    "ldbc_is_like_msg_content",
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              o_orderstatus, o_orderpriority,
              round(CAST(o_totalprice AS DOUBLE), 2) AS totalprice
       FROM orders WHERE o_orderkey BETWEEN 1 AND 20""",
)
def ldbc_is_like_msg_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS4-shaped: message content + creation date — a pure point lookup
    of the seed message vertices' properties (S5 over the order label),
    the cheapest shape in the validation workload."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["order"], k) for k in range(1, 21)]
    o = g.vertices_by_id(seeds, label="order")
    return o.select(
        id_lower(F.col("id")).alias("o_orderkey"),
        F.date_format(
            F.col("props")["o_orderdate"].cast("timestamp"), "yyyy-MM-dd"
        ).alias("orderdate"),
        F.col("props")["o_orderstatus"].alias("o_orderstatus"),
        F.col("props")["o_orderpriority"].alias("o_orderpriority"),
        F.round(F.col("props")["o_totalprice"].cast("double"), 2).alias(
            "totalprice"
        ),
    )


@_register(
    "ldbc_is_like_msg_creator",
    """SELECT o_orderkey, o_custkey AS c_custkey, c_name
       FROM orders JOIN customer ON c_custkey = o_custkey
       WHERE o_orderkey BETWEEN 1 AND 20""",
)
def ldbc_is_like_msg_creator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS5-shaped: creator of a message — 1-hop IN over the authorship
    edge (order --placed(IN)--> customer) + hydration (T1+T2)."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["order"], k) for k in range(1, 21)]
    orders = g.vertices_by_id(seeds, label="order")
    creator = traverse(orders, g.edges, "placed", Direction.IN)
    hydrated = fill_properties(
        creator.withColumnRenamed("dst", "id"), g.vertices,
        keys=["c_name"], labels=["customer"],
    )
    return hydrated.select(
        id_lower(F.col("src")).alias("o_orderkey"),
        id_lower(F.col("id")).alias("c_custkey"),
        F.col("props")["c_name"].alias("c_name"),
    )


@_register(
    "ldbc_is_like_msg_forum",
    """SELECT o_orderkey, o_custkey AS c_custkey,
              CAST(c_nationkey AS BIGINT) AS n_nationkey, n_name
       FROM orders
       JOIN customer ON c_custkey = o_custkey
       JOIN nation ON n_nationkey = c_nationkey
       WHERE o_orderkey BETWEEN 1 AND 20""",
)
def ldbc_is_like_msg_forum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS6-shaped: forum of a message + its moderator — the message's
    container chain: order --placed(IN)--> customer --fromNation-->
    nation, the owner + container pair read in two 1-hop traverses."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["order"], k) for k in range(1, 21)]
    orders = g.vertices_by_id(seeds, label="order")
    creator = traverse(orders, g.edges, "placed", Direction.IN).select(
        F.col("src").alias("order_id"), F.col("dst").alias("cust_id")
    )
    nat = traverse(
        creator.select(F.col("cust_id").alias("id")), g.edges, "fromNation",
        Direction.OUT,
    ).select(F.col("src").alias("cust_id"), F.col("dst").alias("nat_id"))
    hydrated = fill_properties(
        creator.join(nat, "cust_id").withColumnRenamed("nat_id", "id"),
        g.vertices, keys=["n_name"], labels=["nation"],
    )
    return hydrated.select(
        id_lower(F.col("order_id")).alias("o_orderkey"),
        id_lower(F.col("cust_id")).alias("c_custkey"),
        id_lower(F.col("id")).alias("n_nationkey"),
        F.col("props")["n_name"].alias("n_name"),
    )


@_register(
    "ldbc_is_like_replies",
    """SELECT o_orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
              CAST(l_suppkey AS BIGINT) AS s_suppkey, s_name,
              (s_nationkey = c_nationkey) AS knows
       FROM orders
       JOIN customer ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON s_suppkey = l_suppkey
       WHERE o_orderkey BETWEEN 1 AND 10""",
)
def ldbc_is_like_replies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS7-shaped: replies to a message with their authors plus the
    knows(message-author, reply-author) flag — here: a seed order's
    lineitems ('replies') with each line's supplier ('reply author'),
    flagged by whether the supplier and the order's customer share a
    nation (the 'knows' co-location predicate). Four 1-hop traverses;
    the knows flag is an equi-compare of two hydrated 1-hop frames, no
    extra shuffle beyond the joins themselves. Duplicate (orderkey,
    linenumber) pairs survive on both sides — lineitem has no unique
    natural key and the hash compare is multiplicity-exact."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import uint128_pair

    g = _graph(spark, sf_dir)
    seeds = [uint128_pair(LABEL_TAGS["order"], k) for k in range(1, 11)]
    orders = g.vertices_by_id(seeds, label="order")
    creator = traverse(orders, g.edges, "placed", Direction.IN).select(
        F.col("src").alias("order_id"), F.col("dst").alias("cust_id")
    )
    cust_nat = traverse(
        creator.select(F.col("cust_id").alias("id")), g.edges, "fromNation",
        Direction.OUT,
    ).select(F.col("src").alias("cust_id"), F.col("dst").alias("cnat"))
    lines = traverse(
        orders, g.edges, "contains", Direction.OUT, fill_edge=True
    ).select(
        F.col("src").alias("order_id"),
        F.col("dst").alias("line_id"),
        F.col("props")["linenumber"].cast("long").alias("linenumber"),
    )
    supp = traverse(
        lines.select(F.col("line_id").alias("id")), g.edges, "suppliedBy",
        Direction.OUT,
    ).select(F.col("src").alias("line_id"), F.col("dst").alias("supp_id"))
    supp_nat = traverse(
        supp.select(F.col("supp_id").alias("id")), g.edges, "suppFromNation",
        Direction.OUT,
    ).select(F.col("src").alias("supp_id"), F.col("dst").alias("snat"))
    sname = fill_properties(
        supp.select(F.col("supp_id").alias("id")).dropDuplicates(["id"]),
        g.vertices, keys=["s_name"], labels=["supplier"],
    ).select(
        F.col("id").alias("supp_id"), F.col("props")["s_name"].alias("s_name")
    )
    return (
        lines.join(supp, "line_id")
        .join(creator, "order_id")
        .join(cust_nat, "cust_id")
        .join(supp_nat, "supp_id")
        .join(sname, "supp_id")
        .select(
            id_lower(F.col("order_id")).alias("o_orderkey"),
            "linenumber",
            id_lower(F.col("supp_id")).alias("s_suppkey"),
            "s_name",
            (F.col("snat") == F.col("cnat")).alias("knows"),
        )
    )


@_register(
    "wr1_upsert_census",
    """WITH new_orders AS (
         SELECT c_custkey, CAST(floor(CAST(c_acctbal AS DOUBLE)) AS BIGINT)
                  AS newprice
         FROM customer WHERE c_custkey BETWEEN 1 AND 10),
       upd AS (
         SELECT o_orderkey,
                CAST(o_totalprice AS DOUBLE)
                  + CAST(1000 AS DOUBLE) AS newtotal,
                o_orderpriority
         FROM orders WHERE o_orderkey BETWEEN 1 AND 100),
       ins AS (SELECT o_orderkey + 20000000 AS k,
                      CAST(o_totalprice AS DOUBLE) AS t
               FROM orders WHERE o_orderkey BETWEEN 1 AND 50),
       merged_cents AS (
         SELECT CAST(sum(CAST(floor(newtotal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS c
         FROM upd),
       ins_cents AS (
         SELECT CAST(sum(CAST(floor(t * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS c FROM ins)
       SELECT 'vertices_order' AS metric,
              (SELECT count(*) FROM orders) + 10 AS value
       UNION ALL SELECT 'edges_placed', (SELECT count(*) FROM orders) + 10
       UNION ALL SELECT 'new_vertex_price_sum',
                 (SELECT CAST(sum(newprice) AS BIGINT) FROM new_orders)
       UNION ALL SELECT 'merged_rows',
                 (SELECT count(*) FROM orders) + 50
       UNION ALL SELECT 'updated_cents_sum', (SELECT c FROM merged_cents)
       UNION ALL SELECT 'inserted_cents_sum', (SELECT c FROM ins_cents)
       UNION ALL SELECT 'touched_partitions',
                 (SELECT count(DISTINCT o_orderpriority)
                  FROM orders WHERE o_orderkey BETWEEN 1 AND 100
                     OR o_orderkey BETWEEN 1 AND 50)""",
)
def wr1_upsert_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path correctness census — the LDBC update-workload (U1-U8)
    analogue the reference measures with util/MeasurementClient.java:
    289-534, made HASH-CHECKABLE rather than just timed (op_bench.py
    covers the timing side):

    1. S3/S4 graph writes: 10 new order vertices (one per seed
       customer, price = floor(acctbal)) + their placed edges are
       batch-appended via add_vertices/add_edges (graph.py:501,508);
       the census re-reads label counts AND the new vertices' props
       through the written graph, proving the append and the
       one-edge-per-(src,dst,label) invariant survived.
    2. merge_upsert (sources/maintenance.py): the orders table is
       laid out partitioned by o_orderpriority under a scratch dir,
       then a mixed batch — 100 key-updates (+1000.00 each) and 50
       brand-new keys — is MERGEd, rewriting the files its keys can
       hit; the census re-reads the merged table and emits latest-wins
       row counts and integer-cents sums.

    Every census value is a BIGINT derived from fixture data, so the
    DuckDB oracle reproduces the exact post-write state with no float
    hazards (cents via the portable floor(x*100+0.5) on both sides)."""
    import os as _os

    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import id_col
    from torcdb_spark.sources.maintenance import merge_upsert

    g = _graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey").between(1, 10)
    )
    new_v = cust.select(
        id_col(LABEL_TAGS["order"], F.col("c_custkey") + 9_000_000).alias(
            "id"
        ),
        F.lit("order").alias("label"),
        F.create_map(
            F.lit("o_totalprice"),
            F.floor(F.col("c_acctbal").cast("double")).cast("long").cast(
                "string"
            ),
        ).alias("props"),
    )
    new_e = cust.select(
        id_col(LABEL_TAGS["customer"], F.col("c_custkey")).alias("src"),
        F.lit("customer").alias("src_label"),
        id_col(LABEL_TAGS["order"], F.col("c_custkey") + 9_000_000).alias(
            "dst"
        ),
        F.lit("order").alias("dst_label"),
        F.lit("placed").alias("label"),
        F.create_map(F.lit("new"), F.lit("1")).alias("props"),
    )
    g2 = g.add_vertices(new_v).add_edges(new_e)
    n_orders = g2.vertices.where(F.col("label") == "order").count()
    n_placed = g2.edges.where(F.col("label") == "placed").count()
    new_price_sum = (
        g2.vertices.where(
            (F.col("label") == "order")
            & (id_lower(F.col("id")) >= 9_000_000)
        )
        .select(
            F.sum(F.col("props")["o_totalprice"].cast("long")).alias("s")
        )
        .collect()[0]["s"]
    )

    # -- merge_upsert leg: scratch partitioned copy of orders ----------
    scratch = f"/tmp/torcdb_wr1_{_os.path.basename(sf_dir.rstrip('/'))}"
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        scratch
    )
    upd = orders.where(F.col("o_orderkey").between(1, 100)).withColumn(
        "o_totalprice",
        F.col("o_totalprice").cast("double")
        + F.lit(1000).cast("double"),
    )
    ins = orders.where(F.col("o_orderkey").between(1, 50)).withColumn(
        "o_orderkey", F.col("o_orderkey") + 20_000_000
    )
    batch = upd.unionByName(ins.select(*upd.columns))
    stats = merge_upsert(
        spark, scratch, batch, ["o_orderkey"], "o_orderpriority"
    )
    merged = spark.read.parquet(scratch)
    cents = F.floor(
        F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)
    ).cast("long")
    upd_sum = (
        merged.where(F.col("o_orderkey").between(1, 100))
        .select(F.sum(cents).alias("s")).collect()[0]["s"]
    )
    ins_sum = (
        merged.where(F.col("o_orderkey") >= 20_000_000)
        .select(F.sum(cents).alias("s")).collect()[0]["s"]
    )
    rows = [
        ("vertices_order", n_orders),
        ("edges_placed", n_placed),
        ("new_vertex_price_sum", int(new_price_sum)),
        ("merged_rows", merged.count()),
        ("updated_cents_sum", int(upd_sum)),
        ("inserted_cents_sum", int(ins_sum)),
        ("touched_partitions", len(stats["touched_partitions"])),
    ]
    return spark.createDataFrame(rows, "metric string, value long")


@_register(
    "g_gremlin_tree",
    """SELECT CAST(0 AS BIGINT) AS depth,
              CAST(n_regionkey AS BIGINT) AS node_key,
              CAST(NULL AS BIGINT) AS parent_key,
              CAST(count(*) AS BIGINT) AS n_traversers
       FROM customer JOIN nation ON n_nationkey = c_nationkey
       GROUP BY n_regionkey
       UNION ALL
       SELECT 1, n_nationkey, n_regionkey, count(*)
       FROM customer JOIN nation ON n_nationkey = c_nationkey
       GROUP BY n_nationkey, n_regionkey
       UNION ALL
       SELECT 2, c_custkey, c_nationkey, 1 FROM customer""",
)
def g_gremlin_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tree() step (gremlin.py tree — TinkerPop TreeStep via gremlin-core
    3.2.4, pom.xml:17-20): region ←inRegion— nation ←fromNation— customer
    walked 2 hops IN with path tracking, aggregated into the prefix tree's
    distributed form (depth, node, parent, n_traversers). Depth-0 rows
    carry per-region customer counts, depth-1 per-nation counts, depth-2
    one row per customer — the full nested-Map content of TinkerPop's
    tree(), flattened set-at-a-time (one posexplode + one groupBy)."""
    from torcdb_spark.gremlin import G

    g = _graph(spark, sf_dir)
    t = (
        G(g).V().has_label("region").with_path()
        .barrier()  # API-parity no-op: set-at-a-time execution already barriers
        .in_("inRegion").in_("fromNation")
    )
    tr = t.tree()
    return tr.select(
        F.col("depth").cast("long").alias("depth"),
        id_lower(F.col("node")).alias("node_key"),
        id_lower(F.col("parent")).alias("parent_key"),
        F.col("n_traversers").cast("long").alias("n_traversers"),
    )


@_register(
    "m11_progressive_jpeg",
    """SELECT doc_id AS media_id, CAST(16 AS BIGINT) AS width,
              CAST(16 AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels,
              TRUE AS identical
       FROM documents WHERE doc_id % 5 = 0 AND doc_id < 500""",
)
def m11_progressive_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive JPEG (SOF2, T.81 Annex G.2) through the Spark
    multimodal path: per sampled document the m6 deterministic 16×16 RGB
    test image is encoded BOTH ways — baseline scan script and the
    progressive DC-first/AC-band/refinement script
    (operators/jpeg.py encode_jpeg_progressive) — and both payloads are
    decoded inside one Arrow-batched mapInPandas kernel. The two
    encodings quantize identical coefficients, so the decodes must be
    BIT-IDENTICAL: the oracle pins dims + identical=TRUE for every
    sampled doc — a strictly harder contract than m6's tolerance bound,
    hash-checking the entire G.2 scan-accumulation machinery end to
    end."""
    import pandas as pd

    from torcdb_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    docs = regime.spread(load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 500)
    ).select("doc_id"))

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                yy, xx = np.mgrid[0:16, 0:16]
                img = np.stack(
                    [
                        128 + 100 * np.sin((xx + d) / 5.0) * np.cos(yy / 7.0),
                        128 + 100 * np.sin((yy + d) / 6.0),
                        128 + 100 * np.cos((xx + yy + d) / 9.0),
                    ],
                    axis=-1,
                )
                img = np.clip(np.round(img), 0, 255).astype(np.uint8)
                base = decode_jpeg(encode_jpeg_baseline(img, quality=90))
                prog = decode_jpeg(encode_jpeg_progressive(img, quality=90))
                rows.append(
                    {
                        "media_id": d,
                        "width": prog.shape[1],
                        "height": prog.shape[0],
                        "channels": prog.shape[2],
                        "identical": bool(np.array_equal(base, prog)),
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        "media_id long, width long, height long, channels long, "
        "identical boolean",
    )


# ---------------------------------------------------------------------------
# round-7 session-2 additions: relational idioms the §2.5 surface still
# lacked (gaps-and-islands, cumulative windowed distinct, null-aware
# anti-join witness, seasonal baseline) — each exact-oracled
# ---------------------------------------------------------------------------


@_register(
    "q_gaps_islands",
    """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events),
       grp AS (SELECT user_id, d,
                      date_diff('day', DATE '1970-01-01', d)
                        - row_number() OVER (PARTITION BY user_id
                                             ORDER BY d) AS anchor
               FROM days),
       isl AS (SELECT user_id, anchor, count(*) AS len
               FROM grp GROUP BY 1, 2)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
              CAST(max(len) AS BIGINT) AS max_streak
       FROM isl GROUP BY user_id""",
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (streak detection): per user, maximal runs of
    consecutive active days via the classic daynumber − row_number anchor
    — the anchor is constant within a run, so one groupBy collapses each
    island. Two shuffles total (distinct day grain, then per-user window
    + count); the window partitions by user_id so no global sort exists
    — the 100 TB layout for retention/streak features."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).dropDuplicates(["user_id", "d"])
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor",
        F.datediff(F.col("d"), F.lit("1970-01-01")) - F.row_number().over(w),
    )
    isl = grp.groupBy("user_id", "anchor").agg(F.count("*").alias("len"))
    return isl.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_islands"),
        F.max("len").cast("long").alias("max_streak"),
    )


@_register(
    "q_window_distinct_count",
    """WITH daily AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS d,
                             user_id
                      FROM events)
       SELECT DISTINCT event_type, strftime(d, '%Y-%m-%d') AS d,
              CAST(count(DISTINCT user_id)
                   OVER (PARTITION BY event_type ORDER BY d)
                   AS BIGINT) AS users_to_date
       FROM daily""",
)
def q_window_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative windowed COUNT(DISTINCT) — Spark's window functions
    reject DISTINCT aggregates, so the engine provides the
    first-occurrence idiom: a user contributes on exactly their first
    active day (groupBy min(d)), and a running sum over the per-day
    new-user counts reconstructs the cumulative distinct total. The
    oracle cross-checks with DuckDB's native windowed DISTINCT — two
    independent formulations, one answer. Scale note: the idiom turns an
    O(days × users) rescan into one groupBy + one tiny per-type window
    over ≤ |days| rows."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    firsts = (
        base.groupBy("event_type", "user_id")
        .agg(F.min("d").alias("first_d"))
        .groupBy("event_type", F.col("first_d").alias("d"))
        .agg(F.count("*").alias("n_new"))
    )
    days = base.select("event_type", "d").dropDuplicates()
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        days.join(firsts, ["event_type", "d"], "left")
        .fillna(0, subset=["n_new"])
        .withColumn("users_to_date", F.sum("n_new").over(w).cast("long"))
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "users_to_date",
        )
    )


@_register(
    "q_not_in_nulls",
    """WITH high AS (SELECT CASE WHEN o_orderstatus = 'P'
                                 THEN CAST(NULL AS BIGINT)
                                 ELSE o_custkey END AS k
                     FROM orders WHERE o_totalprice > 150000)
       SELECT
         (SELECT CAST(count(*) AS BIGINT) FROM customer
          WHERE c_custkey NOT IN (SELECT k FROM high)) AS n_not_in,
         (SELECT CAST(count(*) AS BIGINT) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM high h
                            WHERE h.k = c.c_custkey)) AS n_not_exists,
         (SELECT CAST(count(*) AS BIGINT) FROM customer
          WHERE c_custkey NOT IN (SELECT k FROM high WHERE k IS NOT NULL)
         ) AS n_not_in_filtered""",
)
def q_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware anti-join witness: NOT IN over a subquery containing a
    NULL is three-valued-logic empty, while NOT EXISTS and the
    null-filtered NOT IN are the true anti-join — the classic silent-
    wrong-answer trap. Runs through spark.sql so Catalyst's
    NullAwareAntiJoin physical path (not a hand-rolled rewrite) produces
    the SQL-standard counts; the oracle is the identical statement under
    DuckDB. At scale the null-filtered form is the one to ship: it
    broadcasts as a plain left-anti join with no null-check dual."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "q_nin_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "q_nin_customer"
    )
    return spark.sql(
        """WITH high AS (SELECT CASE WHEN o_orderstatus = 'P'
                                     THEN CAST(NULL AS BIGINT)
                                     ELSE o_custkey END AS k
                         FROM q_nin_orders WHERE o_totalprice > 150000)
           SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM q_nin_customer
              WHERE c_custkey NOT IN (SELECT k FROM high)) AS n_not_in,
             (SELECT CAST(count(*) AS BIGINT) FROM q_nin_customer c
              WHERE NOT EXISTS (SELECT 1 FROM high h
                                WHERE h.k = c.c_custkey)) AS n_not_exists,
             (SELECT CAST(count(*) AS BIGINT) FROM q_nin_customer
              WHERE c_custkey NOT IN (SELECT k FROM high
                                      WHERE k IS NOT NULL)
             ) AS n_not_in_filtered"""
    )


@_register(
    "ts5_seasonal_baseline",
    """WITH tagged AS (SELECT event_type,
                              CAST(hour(ts) AS BIGINT) AS hr,
                              CASE WHEN CAST(ts AS DATE) < DATE '2024-01-22'
                                   THEN CAST(value AS DECIMAL(18,6)) END
                                AS base_v,
                              CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-22'
                                   THEN CAST(value AS DECIMAL(18,6)) END
                                AS act_v
                       FROM events),
       agg AS (SELECT event_type, hr,
                      CAST(sum(base_v) AS DOUBLE) / count(base_v) AS mb,
                      CAST(sum(act_v) AS DOUBLE) / count(act_v) AS ma
               FROM tagged GROUP BY event_type, hr
               HAVING count(base_v) > 0 AND count(act_v) > 0)
       SELECT event_type, hr,
              floor(mb * 100 + 0.5) / 100.0 AS baseline,
              floor(ma * 100 + 0.5) / 100.0 AS actual,
              floor(abs(floor(mb * 100 + 0.5) - floor(ma * 100 + 0.5)))
                / 100.0 AS abs_err
       FROM agg""",
)
def ts5_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast check: per (event_type, hour-of-day) the
    training-period mean (days before Jan 22) is the forecast for the
    holdout period; emit baseline vs holdout actual and the absolute
    error — the monitoring primitive behind 'is this hour's traffic
    normal'. Conditional aggregation (sum/count of a CASE column ignores
    the other period's rows) keeps it to ONE groupBy over one scan — no
    self-join of train vs holdout. Means go through DECIMAL(18,6) sums
    (order-independent — double sums drift in the last ulp across
    partitionings) and the portable floor half-up rounding, so the
    output is bit-identical in any engine."""
    ev = load_table(spark, sf_dir, "events")
    split = F.to_date("ts") < F.lit("2024-01-22")
    dec = F.col("value").cast("decimal(18,6)")
    tagged = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        F.when(split, dec).alias("base_v"),
        F.when(~split, dec).alias("act_v"),
    )
    agg = (
        tagged.groupBy("event_type", "hr")
        .agg(
            (
                F.sum("base_v").cast("double") / F.count("base_v")
            ).alias("mb"),
            (F.sum("act_v").cast("double") / F.count("act_v")).alias(
                "ma"
            ),
            F.count("base_v").alias("_nb"),
            F.count("act_v").alias("_na"),
        )
        .where((F.col("_nb") > 0) & (F.col("_na") > 0))
    )
    rb = F.floor(F.col("mb") * 100 + F.lit(0.5))
    ra = F.floor(F.col("ma") * 100 + F.lit(0.5))
    return agg.select(
        "event_type",
        "hr",
        (rb / 100.0).alias("baseline"),
        (ra / 100.0).alias("actual"),
        (F.floor(F.abs(rb - ra)) / 100.0).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# round-7 session-2 additions: LLM-data-pipeline breadth (containment
# dedup, mutual-kNN graph, theta set-difference, Gopher-rule gates)
# ---------------------------------------------------------------------------


@_register(
    "d26_containment_join",
    """WITH w AS (
         SELECT doc_id,
                string_split_regex(lower(trim(text)), '\\s+') AS ws
         FROM documents WHERE trim(text) <> ''
       ),
       pos AS (
         SELECT doc_id, unnest(generate_series(1, len(ws) - 2)) AS i, ws
         FROM w WHERE len(ws) >= 3
       ),
       toks AS (
         SELECT DISTINCT doc_id,
                ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
         FROM pos
       ),
       sz AS (SELECT doc_id, COUNT(*) AS s FROM toks GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
         FROM toks a JOIN toks b
           ON a.term = b.term AND a.doc_id <> b.doc_id
         GROUP BY 1, 2
       )
       SELECT ia AS id_a, ib AS id_b,
              CAST(i AS BIGINT) AS inter_size,
              CAST(sa.s AS BIGINT) AS size_a
       FROM inter JOIN sz sa ON ia = sa.doc_id
       WHERE i * 3 >= sa.s * 2""",
)
def d26_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-CONTAINMENT self-join (operators/setjoin.py
    containment_pairs_exact): every directed pair where ≥ 2/3 of A's
    3-gram shingles appear in B — the superset/near-superset dedup test
    (quote inclusion, boilerplate wrapping) that Jaccard's union
    denominator misses for length-mismatched pairs. Asymmetric prefix
    filter: A's rarest-token prefix equi-joins B's full token list (B
    cannot be prefixed — any of its tokens may witness), no length
    filter by design, integer-rational τ so the decision is bit-exact."""
    from torcdb_spark.operators.setjoin import containment_pairs_exact

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    return containment_pairs_exact(docs, tau_num=2, tau_den=3, shingle=3)


@_register(
    "th3_kmv_anotb",
    f"""WITH a_h AS (SELECT DISTINCT {_kmv_u_sql('o_custkey')} AS u
                     FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
       b_h AS (SELECT DISTINCT {_kmv_u_sql('o_custkey')} AS u
               FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
       a_s AS (SELECT u FROM (SELECT u, row_number() OVER (ORDER BY u) AS rk
                              FROM a_h) WHERE rk <= 128),
       b_s AS (SELECT u FROM (SELECT u, row_number() OVER (ORDER BY u) AS rk
                              FROM b_h) WHERE rk <= 128),
       th AS (SELECT least(
                (SELECT CASE WHEN count(*) >= 128 THEN max(u) ELSE 1.0 END
                 FROM a_s),
                (SELECT CASE WHEN count(*) >= 128 THEN max(u) ELSE 1.0 END
                 FROM b_s)) AS theta)
       SELECT round(
                (SELECT count(*) FROM a_s, th
                 WHERE u < theta AND u NOT IN (SELECT u FROM b_s))
                / (SELECT theta FROM th), 4) AS est_anotb""",
)
def th3_kmv_anotb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set DIFFERENCE (operators/theta.py
    kmv_anotb_estimate — the Apache DataSketches A-NOT-B op): estimated
    count of customers who ordered before 1998 but never since, from the
    same two k=128 KMV sketches th2 intersects. Sample = A's values
    below θ absent from B (one left-anti join over ≤ k rows);
    deterministic md5 hashing → exact-value oracle. Completes the
    sketch set algebra: union (th1 merges), intersection (th2),
    difference (here)."""
    from torcdb_spark.operators.theta import kmv_anotb_estimate, kmv_sketch

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    a = kmv_sketch(
        orders.where(F.col("o_orderdate") < cutoff), "o_custkey", k=128
    )
    b = kmv_sketch(
        orders.where(F.col("o_orderdate") >= cutoff), "o_custkey", k=128
    )
    return kmv_anotb_estimate(a, b, k=128)


@_register(
    "e12_knn_graph",
    """WITH sub AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id < 500),
       scored AS (
         SELECT a.vec_id AS qid, b.vec_id AS nid,
                round(list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v))), 3) AS score
         FROM sub a, sub b WHERE a.vec_id <> b.vec_id),
       topk AS (
         SELECT qid, nid, score
         FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                            ORDER BY score DESC, nid) AS rnk
               FROM scored)
         WHERE rnk <= 5)
       SELECT t.qid AS id_a, t.nid AS id_b, t.score
       FROM topk t JOIN topk r ON t.qid = r.nid AND t.nid = r.qid
       WHERE t.qid < t.nid""",
)
def e12_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph construction (operators/similarity.py
    cosine_topk_bruteforce composed with itself): undirected edge (a, b)
    iff each vector is in the other's cosine top-5 — the symmetric
    neighborhood graph SemDeDup-style clustering, label propagation and
    manifold methods run on. Bounded to the first 500 vectors (the graph
    is the product, not the scan); the mutual filter is a self-join of
    the top-k edge list on the reversed key pair. At corpus scale the
    brute scorer swaps for the LSH/IVF candidate generators — the
    mutual-join stage is unchanged."""
    from torcdb_spark.operators.similarity import cosine_topk_bruteforce

    emb = regime.spread(
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 500)
    )
    topk = cosine_topk_bruteforce(emb, emb, k=5).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("nid"),
        "score",
    )
    rev = topk.select(
        F.col("nid").alias("qid"), F.col("qid").alias("nid")
    )
    return (
        topk.join(rev, ["qid", "nid"], "left_semi")
        .where(F.col("qid") < F.col("nid"))
        .select(
            F.col("qid").alias("id_a"),
            F.col("nid").alias("id_b"),
            "score",
        )
    )


@_register(
    "d28_gopher_rules",
    """WITH w AS (SELECT doc_id,
                         string_split_regex(trim(text), '\\s+') AS ws
                  FROM documents WHERE trim(text) <> ''),
       m AS (SELECT doc_id,
                    len(ws) AS n_words,
                    list_sum(list_transform(ws, x -> length(x))) AS sum_len,
                    len(list_filter(ws,
                        x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha_w,
                    len(list_filter(ws,
                        x -> x IN ('the', 'a', 'value', 'table', 'data')))
                      AS n_stop
             FROM w)
       SELECT doc_id,
              n_words >= 25 AND n_words <= 100000 AS r_word_count,
              sum_len >= 3 * n_words AND sum_len <= 10 * n_words
                AS r_mean_word_len,
              n_alpha_w * 5 >= n_words * 4 AS r_alpha_words,
              n_stop * 20 >= n_words AS r_stop_words,
              (n_words >= 25 AND n_words <= 100000)
                AND (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
                AND (n_alpha_w * 5 >= n_words * 4)
                AND (n_stop * 20 >= n_words) AS passes_all
       FROM m""",
)
def d28_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule gate (Rae 2021 §A1.1 heuristics, the
    per-rule-verdict form): word-count band, mean-word-length band,
    alpha-word fraction ≥ 0.8, stop-word fraction ≥ 0.05 — emitted as
    one boolean PER RULE plus the conjunction, so curation can audit
    which rule kills a document instead of d6's single blended score.
    All thresholds in cross-multiplied integer arithmetic (no float
    boundary), one pass of JVM higher-order array functions, zero
    shuffle."""
    from torcdb_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs)


# ---------------------------------------------------------------------------
# round-7 session-2 additions: write path phase 2 (update/delete),
# archive + tensor ingestion, streaming sliding windows
# ---------------------------------------------------------------------------


@_register(
    "wr2_update_delete_census",
    """WITH seg AS (SELECT CASE WHEN c_custkey <= 20 THEN 'UPDATED'
                                ELSE c_mktsegment END AS s
                    FROM customer)
       SELECT 'seg_' || s AS metric, CAST(count(*) AS BIGINT) AS value
       FROM seg GROUP BY s
       UNION ALL
       SELECT 'placed_after_delete', CAST(count(*) AS BIGINT)
       FROM orders WHERE CAST(o_totalprice AS DOUBLE) >= 5000
       UNION ALL
       SELECT 'audited_placed_edges', CAST(count(*) AS BIGINT)
       FROM orders WHERE o_custkey <= 10
         AND CAST(o_totalprice AS DOUBLE) >= 5000
       UNION ALL
       SELECT 'order_vertices_intact', CAST(count(*) AS BIGINT)
       FROM orders""",
)
def wr2_update_delete_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path census, phase 2 — the UPDATE/DELETE half of the LDBC
    update workload (wr1 covers insert/upsert): exercises T8
    set_vertex_property (graph.py:392 — SINGLE-cardinality segment
    overwrite on 20 customers, read back through the tagged serde form),
    removeEdge (graph.py delete_edges — every placed edge under a 5000.00
    total is dropped, vertices intact), and set_edge_property
    (graph.py:449 — an audit flag stamped onto the surviving placed edges
    of 10 customers, counted back). Every census value is a BIGINT the
    oracle re-derives from the base tables, so the driver hash checks the
    whole update→delete→flag→re-read pipeline."""
    from torcdb_spark.graph import LABEL_TAGS
    from torcdb_spark.ids import id_col

    g = _graph(spark, sf_dir)

    # 1. T8 UPDATE: segment overwrite on customers 1-20 (tagged serde)
    upd = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 20)
        .select(
            id_col(LABEL_TAGS["customer"], F.col("c_custkey")).alias("id"),
            F.lit("UPDATED").alias("value"),
        )
    )
    g2 = g.set_vertex_property(upd, "c_mktsegment")

    # 2. DELETE: placed edges under a 5000.00 total are removed
    g3 = g2.delete_edges(
        (F.col("label") == "placed")
        & (F.col("props")["totalprice"].cast("double") < 5000.0)
    )

    # 3. set_edge_property: audit-flag surviving placed edges of 10 custs
    flag = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 10)
        .select(
            id_col(LABEL_TAGS["customer"], F.col("o_custkey")).alias("src"),
            id_col(LABEL_TAGS["order"], F.col("o_orderkey")).alias("dst"),
            F.lit("placed").alias("label"),
            F.lit("1").alias("value"),
        )
    )
    g4 = g3.set_edge_property(flag, "audit")

    # census over the POST-WRITE graph (managed keys read back through
    # the serde string form: "s:UPDATED" / "s:1")
    seg_val = F.col("props")["c_mktsegment"]
    seg = F.when(
        seg_val.startswith("s:"), F.expr("substring(props['c_mktsegment'], 3)")
    ).otherwise(seg_val)
    seg_census = (
        g4.vertices.where(F.col("label") == "customer")
        .groupBy(seg.alias("s"))
        .agg(F.count("*").cast("long").alias("value"))
        .select(F.concat(F.lit("seg_"), F.col("s")).alias("metric"), "value")
    )
    placed = g4.edges.where(F.col("label") == "placed")
    placed_census = placed.agg(
        F.count("*").cast("long").alias("value")
    ).select(F.lit("placed_after_delete").alias("metric"), "value")
    audited = placed.where(F.col("props")["audit"] == "s:1").agg(
        F.count("*").cast("long").alias("value")
    ).select(F.lit("audited_placed_edges").alias("metric"), "value")
    orders_v = g4.vertices.where(F.col("label") == "order").agg(
        F.count("*").cast("long").alias("value")
    ).select(F.lit("order_vertices_intact").alias("metric"), "value")
    return seg_census.unionByName(placed_census).unionByName(
        audited
    ).unionByName(orders_v)


@_register(
    "ar2_tar_webdataset",
    """SELECT source AS path,
              CAST(2 * count(*) AS BIGINT) AS n_members,
              CAST(count(*) AS BIGINT) AS n_samples,
              CAST(sum(octet_length(encode(text))
                       + octet_length(encode(lang))) AS BIGINT)
                AS payload_bytes
       FROM documents GROUP BY source""",
)
def ar2_tar_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style TAR shard ingestion end-to-end
    (sources/warc.tar_members): each fixture source is packed into one
    tar shard holding TWO members per document ({doc_id}.txt text +
    {doc_id}.lang metadata — the multi-modality-per-key layout
    image/caption corpora actually ship), then fanned back out per
    member and reassembled per sample via the extension-stripped key.
    The oracle pins the member census, the per-key sample count (each
    key must carry exactly its two modalities), and byte-exact payload
    sizes — the same contract as w1/ar1 over the third archive format."""
    import io
    import tarfile

    from torcdb_spark.sources.warc import tar_members

    docs = load_table(spark, sf_dir, "documents")

    def build(pdf):
        import pandas as pd

        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for r in pdf.sort_values("doc_id").itertuples():
                for ext, payload in (
                    ("txt", r.text.encode()),
                    ("lang", r.lang.encode()),
                ):
                    info = tarfile.TarInfo(name=f"{int(r.doc_id)}.{ext}")
                    info.size = len(payload)
                    info.mtime = 0
                    tf.addfile(info, io.BytesIO(payload))
        return pd.DataFrame(
            {"path": [pdf["source"].iloc[0]], "content": [buf.getvalue()]}
        )

    archives = (
        docs.select("doc_id", "source", "text", "lang")
        .groupBy("source")
        .applyInPandas(build, "path string, content binary")
    )
    members = tar_members(archives)
    per_key = members.groupBy("path", "key").agg(
        F.count("*").alias("n_mods"), F.sum("n_bytes").alias("kb")
    )
    return per_key.groupBy("path").agg(
        F.sum("n_mods").cast("long").alias("n_members"),
        F.count("*").cast("long").alias("n_samples"),
        F.sum("kb").cast("long").alias("payload_bytes"),
    )


@_register(
    "v2_safetensors_ingest",
    """SELECT 'shard_' || (label % 2) AS path,
              'label_' || label AS tensor,
              CAST(count(*) AS BIGINT) AS n_vecs,
              CAST(max(len(embedding)) AS BIGINT) AS dim,
              CAST(count(*) AS BIGINT) AS n_exact
       FROM embeddings GROUP BY label""",
)
def v2_safetensors_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """safetensors shard ingestion end-to-end (sources/tensors.py
    write_safetensors/parse_safetensors/vectors_from_safetensors): labels
    are packed TWO-PER-SHARD as independently named tensors (the
    multi-tensor-per-file layout checkpoint shards actually use), fanned
    back out one row per (tensor, vector), and joined against the
    original table by (tensor, rank): the oracle pins n_exact == n_vecs
    per tensor — byte fidelity through the u64+JSON header framing, the
    offset-framed buffers, and the fan-out."""
    from pyspark.sql.window import Window as W

    from torcdb_spark.sources.tensors import (
        vectors_from_safetensors,
        write_safetensors,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def pack(pdf):
        import numpy as np
        import pandas as pd

        shard = f"shard_{int(pdf['label'].iloc[0]) % 2}"
        tensors = {}
        for lbl, grp in pdf.groupby("label"):
            g = grp.sort_values("vec_id")
            tensors[f"label_{int(lbl)}"] = np.asarray(
                g["embedding"].tolist(), dtype=np.float32
            )
        return pd.DataFrame(
            {"path": [shard], "content": [write_safetensors(tensors)]}
        )

    dumps = (
        emb.select("vec_id", "label", "embedding")
        .groupBy(F.col("label") % 2)
        .applyInPandas(pack, "path string, content binary")
    )
    vecs = vectors_from_safetensors(dumps)
    ranked = emb.select(
        F.concat(F.lit("shard_"), (F.col("label") % 2).cast("string")).alias(
            "path"
        ),
        F.concat(F.lit("label_"), F.col("label").cast("string")).alias(
            "tensor"
        ),
        (
            F.row_number().over(W.partitionBy("label").orderBy("vec_id")) - 1
        ).alias("row_idx"),
        "embedding",
    )
    joined = vecs.join(ranked, ["path", "tensor", "row_idx"])
    return joined.groupBy("path", "tensor").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.max(F.size("vec")).cast("long").alias("dim"),
        F.sum(F.when(F.col("vec") == F.col("embedding"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
    )


@_register(
    "st_events_sliding_stream",
    """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts)
                       - k * INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S')
                  AS window_start,
              event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM events, (SELECT unnest([0, 1, 2]) AS k) ks
       GROUP BY 1, 2""",
)
def st_events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window aggregation computed BY THE STREAMING ENGINE
    (streaming/jobs.py sliding_counts): 30-minute panes sliding every 10
    — each event incrementally updates 3 overlapping state-store rows —
    1-hour watermark, availableNow drain to a memory sink. The oracle
    replays the pane assignment as explicit bucket arithmetic (k ∈
    {0,1,2}); a hash match proves streaming pane expansion == batch
    semantics, the sliding complement of st_events_tumbling_stream."""
    import os
    import tempfile

    from torcdb_spark.streaming import events_stream
    from torcdb_spark.streaming.jobs import run_to_memory, sliding_counts

    slug = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"torcdb_stream_src_{slug}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    stream = events_stream(spark, d)
    run_to_memory(
        sliding_counts(stream), "st_slide", output_mode="complete"
    )
    return spark.table("st_slide")


@_register(
    "m12_bilinear_resize",
    """WITH d AS (SELECT doc_id,
                         doc_id % 32 AS k0, doc_id % 16 AS k1,
                         doc_id % 8 AS k2
                  FROM documents WHERE doc_id % 5 = 0 AND doc_id < 500),
       grid AS (SELECT i.i, j.j
                FROM (SELECT unnest(generate_series(0, 7)) AS i) i,
                     (SELECT unnest(generate_series(0, 15)) AS j) j)
       SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
              CAST(sum(8 * j + 4 * i + 3 + k0) AS BIGINT) AS sum_c0,
              CAST(sum(4 * j + 6 * i + 3 + k1) AS BIGINT) AS sum_c1,
              CAST(sum(2 * j + 2 * i + 1 + k2) AS BIGINT) AS sum_c2
       FROM d, grid GROUP BY doc_id""",
)
def m12_bilinear_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear resize through the Spark multimodal path
    (operators/multimodal.py resize_bilinear — the training-pipeline
    downsample kernel, half-pixel-center convention): per sampled doc a
    32×16 3-channel image whose intensities are AFFINE in (x, y) is
    halved to 16×8 inside one Arrow-batched mapInPandas kernel. Bilinear
    interpolation reproduces affine functions exactly, so every output
    pixel has the closed form a·(2j+½) + b·(2i+½) + c — the oracle
    re-derives the per-channel pixel sums symbolically and the driver
    hash checks the whole gather/lerp/round pipeline. (General-image
    correctness vs an independent per-pixel replay is pytest-pinned;
    this witness makes the kernel DRIVER-hashable, which m1/m3's
    feature paths can't be.)"""
    import pandas as pd

    from torcdb_spark.operators.multimodal import resize_bilinear

    docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 500)
    ).select("doc_id")

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                yy, xx = np.mgrid[0:16, 0:32]
                img = np.stack(
                    [
                        4 * xx + 2 * yy + d % 32,
                        2 * xx + 3 * yy + d % 16,
                        xx + yy + d % 8,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                out = resize_bilinear(img, 8, 16)
                s = out.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    {
                        "doc_id": d,
                        "width": out.shape[1],
                        "height": out.shape[0],
                        "sum_c0": int(s[0]),
                        "sum_c1": int(s[1]),
                        "sum_c2": int(s[2]),
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        "doc_id long, width long, height long, sum_c0 long, "
        "sum_c1 long, sum_c2 long",
    )


@_register(
    "qs1_sample_quantiles",
    f"""WITH h AS (SELECT event_type, value,
                          {_kmv_u_sql('event_id')} AS u
                   FROM events),
       kept AS (SELECT event_type, value
                FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                                   ORDER BY u) AS rk
                      FROM h)
                WHERE rk <= 128),
       s AS (SELECT event_type, list_sort(list(value)) AS vs,
                    count(*) AS n
             FROM kept GROUP BY event_type)
       SELECT event_type, CAST(n AS BIGINT) AS n_sample,
              floor(vs[CAST(floor(0.5 * (n - 1)) AS INT) + 1] * 100 + 0.5)
                / 100.0 AS p50,
              floor(vs[CAST(floor(0.95 * (n - 1)) AS INT) + 1] * 100 + 0.5)
                / 100.0 AS p95
       FROM s""",
)
def qs1_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/histogram.py
    kmv_value_sample + quantiles_from_sample): per event type the p50/p95
    estimated from the 128 rows with the smallest md5(event_id) uniforms
    — a deterministic uniform sample, so unlike t-digest/reservoir the
    estimate is bit-reproducible on any engine and partitioning, and the
    sketch merges like any min-hash structure (k smallest of a union ⊆
    each side's k smallest). The 100 TB percentile answer without a full
    sort: one rank-limited window (WindowGroupLimit keeps per-partition
    top-k below the exchange) + one ≤128-row fold per group. Exact
    q_percentiles is the full-data complement; h1's histogram the
    bounded-range one."""
    from torcdb_spark.operators.histogram import (
        kmv_value_sample,
        quantiles_from_sample,
    )

    ev = load_table(spark, sf_dir, "events")
    sample = kmv_value_sample(
        ev, "value", "event_id", ["event_type"], k=128
    )
    return quantiles_from_sample(sample, ["event_type"], (0.5, 0.95))


@_register(
    "st_cms_heavy_hitters",
    __import__("torcdb_spark.operators.cms", fromlist=["cms_oracle_sql"])
    .cms_oracle_sql(
        "events", "user_id",
        "SELECT DISTINCT user_id AS k FROM events WHERE user_id < 40",
        d=4, w=1024, seed=0,
    ),
)
def st_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained BY THE STREAMING ENGINE
    (streaming/jobs.py streaming_cms): events stream in micro-batches,
    each updating its d counter cells in the state store; because CMS is
    a linear sketch the final counters are EXACTLY the batch sketch, so
    probing the drained state for 40 user keys must hash-match cms1's
    oracle formulation — real-time heavy hitters with d·w rows of state,
    stream length and key cardinality irrelevant. The streaming member
    of the mergeable-sketch family (cms1 batch build, th1/th2/th3 theta
    algebra, qs1 sample quantiles)."""
    import os
    import tempfile

    from torcdb_spark.operators.cms import cms_estimate
    from torcdb_spark.streaming import events_stream
    from torcdb_spark.streaming.jobs import run_to_memory, streaming_cms

    slug = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"torcdb_stream_src_{slug}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    stream = events_stream(spark, d)
    run_to_memory(
        streaming_cms(stream, "user_id", d=4, w=1024, seed=0),
        "st_cms", output_mode="complete",
    )
    sketch = spark.table("st_cms")
    ev = load_table(spark, sf_dir, "events")
    keys = (
        ev.where(F.col("user_id") < 40)
        .select(F.col("user_id").alias("k"))
        .dropDuplicates()
    )
    return cms_estimate(sketch, keys, "k", d=4, w=1024, seed=0)


def _km2_assign_sql(cent_cte: str, out: str) -> str:
    """One Lloyd assignment in SQL: integer argmin-L2 vs ``cent_cte``."""
    return f"""{out}_d AS (
         SELECT q.id, q.v, c.cid,
                list_sum(list_transform(
                  list_zip(q.v, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         FROM km2_qv q CROSS JOIN {cent_cte} c),
       {out} AS (
         SELECT id, v, cid, d2 FROM (
           SELECT *, row_number() OVER (PARTITION BY id
                                        ORDER BY d2 ASC, cid ASC) AS rk
           FROM {out}_d) WHERE rk = 1)"""


def _km2_update_sql(assign_cte: str, out: str) -> str:
    """One centroid update in SQL: floor(sum/n) per dimension."""
    return f"""{out}_dims AS (
         SELECT cid, p.pos,
                CAST(floor(CAST(sum(v[p.pos]) AS DOUBLE) / count(*))
                     AS BIGINT) AS cd
         FROM {assign_cte},
              (SELECT unnest(range(1, 65)) AS pos) p
         GROUP BY cid, p.pos),
       {out} AS (
         SELECT cid, list(cd ORDER BY pos) AS cv
         FROM {out}_dims GROUP BY cid)"""


@_register(
    "km2_kmeans_lloyd",
    f"""WITH km2_qv AS (
         SELECT vec_id AS id,
                list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(floor(x * 1000) AS BIGINT)) AS v
         FROM embeddings),
       c0 AS (
         SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
         FROM (SELECT id, v FROM km2_qv ORDER BY id LIMIT 8)),
       {_km2_assign_sql('c0', 'a1')},
       {_km2_update_sql('a1', 'c1')},
       {_km2_assign_sql('c1', 'a2')},
       {_km2_update_sql('a2', 'c2')},
       {_km2_assign_sql('c2', 'a3')}
       SELECT cid AS cluster,
              CAST(count(*) AS BIGINT) AS n_members,
              CAST(sum(d2) AS BIGINT) AS ssd,
              CAST(sum(id) AS BIGINT) AS member_id_sum
       FROM a3 GROUP BY cid""",
)
def km2_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means TRAINING with a hash-checked trajectory
    (operators/similarity.py kmeans_lloyd_quantized): two full Lloyd
    rounds — integer argmin-L2 assignment, floor(sum/n) centroid update
    — then the final assignment census. The oracle replays BOTH rounds
    as unrolled CTEs (km1's integer-quantization technique extended from
    one assignment step to the whole loop, the way cl1 unrolls the
    perceptron trajectory), so the driver hash certifies every update's
    exact centroids, not just the last argmin. The per-round plan is the
    canonical distributed k-means: broadcast ≤k-row codebook × corpus
    scan, per-vector argmin window, one (cell, dim) aggregate."""
    from torcdb_spark.operators.similarity import kmeans_lloyd_quantized

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    out = kmeans_lloyd_quantized(emb, k=8, iters=2)
    return out.groupBy(F.col("cid").alias("cluster")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("d2").cast("long").alias("ssd"),
        F.sum("id").cast("long").alias("member_id_sum"),
    )


@_register(
    "e13_ivf_exact_cells",
    f"""WITH km2_qv AS (
         SELECT vec_id AS id,
                list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(floor(x * 1000) AS BIGINT)) AS v
         FROM embeddings),
       c0 AS (
         SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
         FROM (SELECT id, v FROM km2_qv ORDER BY id LIMIT 8)),
       {_km2_assign_sql('c0', 'a1')},
       {_km2_update_sql('a1', 'c1')},
       {_km2_assign_sql('c1', 'a2')},
       {_km2_update_sql('a2', 'c2')},
       {_km2_assign_sql('c2', 'a3')},
       qs AS (
         SELECT vec_id AS query_id,
                CAST(embedding AS DOUBLE[]) AS qraw,
                list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
         FROM embeddings WHERE vec_id < 10),
       pd AS (
         SELECT q.query_id, q.qraw, c.cid,
                list_sum(list_transform(
                  list_zip(q.qv, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS pd2
         FROM qs q CROSS JOIN c2 c),
       probes AS (
         SELECT query_id, qraw, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY pd2 ASC, cid ASC) AS prk
           FROM pd) WHERE prk <= 3),
       members AS (
         SELECT a3.id AS neighbor_id, a3.cid,
                CAST(e.embedding AS DOUBLE[]) AS craw
         FROM a3 JOIN embeddings e ON e.vec_id = a3.id),
       scored AS (
         SELECT p.query_id, m.neighbor_id,
                round(list_dot_product(p.qraw, m.craw)
                      / (sqrt(list_dot_product(p.qraw, p.qraw))
                         * sqrt(list_dot_product(m.craw, m.craw))),
                      3) AS score
         FROM probes p JOIN members m USING (cid)
         WHERE p.query_id <> m.neighbor_id)
       SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id)
                        AS rnk
             FROM scored) WHERE rnk <= 5""",
)
def e13_ivf_exact_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose entire index structure is DRIVER-hashable
    (operators/similarity.py ivf_topk_exact_cells): the coarse quantizer
    is km2's integer-exact Lloyd codebook, probe selection and cell
    assignment are integer argmin-L2, the in-cell ranking is e1's
    rounded-cosine rule — so the oracle reproduces which cells exist,
    which get probed, which candidates score, and the final top-5,
    value for value. The structural complement of e4's hash-seeded IVF
    (recall-bounded, rows-only): same nprobe/cell plan shape, zero
    unverifiable state."""
    from torcdb_spark.operators.similarity import ivf_topk_exact_cells

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_topk_exact_cells(
        emb, queries, k=5, num_centroids=8, nprobe=3, lloyd_iters=2
    )


@_register(
    "d29_winnowing_md5",
    """WITH n AS (SELECT doc_id,
                         lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
                  FROM documents),
       g AS (SELECT doc_id, t.i AS i,
                    CAST(('0x' || substring(
                        md5(substring(nt, CAST(t.i AS INT), 5)), 1, 13))
                      AS BIGINT) AS h,
                    greatest(length(nt) - 4, 1) AS ng
             FROM n,
                  unnest(generate_series(
                      1, greatest(length(nt) - 4, 1))) AS t(i)),
       wm AS (SELECT doc_id, i, ng,
                     min(h) OVER (PARTITION BY doc_id ORDER BY i
                                  ROWS BETWEEN CURRENT ROW
                                       AND 3 FOLLOWING) AS fp
              FROM g WHERE ng > 4),
       fps AS (
         SELECT doc_id, fp FROM wm WHERE i <= ng - 3
         UNION ALL
         SELECT doc_id, min(h) AS fp FROM g WHERE ng <= 4
         GROUP BY doc_id)
       SELECT DISTINCT doc_id, fp FROM fps""",
)
def d29_winnowing_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints, DRIVER-hashable form
    (operators/text.winnowing_fingerprints with the portable md5-prefix
    gram hash): identical k=5/window=4 selection to d8's xxhash64
    production sketch, but every fingerprint value is reproducible in
    SQL — the oracle replays normalization, 5-gram hashing, the
    4-window minima (a plain window-min over gram positions) and the
    short-document single-min case. d8 keeps the cheaper JVM hash for
    100 TB; this witness hash-checks the ALGORITHM the pair shares."""
    from torcdb_spark.operators.text import winnowing_fingerprints

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    return winnowing_fingerprints(docs, hash_fn="md5")


@_register(
    "d30_minhash_md5",
    """WITH n AS (SELECT doc_id,
                         lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
                  FROM documents),
       g AS (SELECT DISTINCT doc_id,
                    CAST(('0x' || substring(
                        md5(substring(nt, CAST(t.i AS INT), 5)), 1, 13))
                      AS BIGINT) % 2147483647 AS x
             FROM n,
                  unnest(generate_series(
                      1, greatest(length(nt) - 4, 1))) AS t(i)),
       perm AS (SELECT unnest(range(0, 32)) AS pi),
       sigs AS (SELECT doc_id, pi,
                       min((x * (2 * pi + 1)
                            + (pi * 2654435769) % 2147483647)
                           % 2147483647) AS m
                FROM g, perm GROUP BY doc_id, pi),
       bands AS (SELECT doc_id, pi // 4 AS band,
                        string_agg(CAST(m AS VARCHAR), ','
                                   ORDER BY pi) AS bkey
                 FROM sigs GROUP BY doc_id, pi // 4),
       pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bkey = b.bkey
                      AND a.doc_id < b.doc_id),
       est AS (SELECT p.id_a, p.id_b,
                      sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS hits
               FROM pairs p
               JOIN sigs sa ON sa.doc_id = p.id_a
               JOIN sigs sb ON sb.doc_id = p.id_b AND sb.pi = sa.pi
               GROUP BY p.id_a, p.id_b)
       SELECT id_a, id_b, round(hits / 32.0, 4) AS est_jaccard
       FROM est WHERE hits * 2 >= 32""",
)
def d30_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, DRIVER-hashable form
    (operators/dedup.minhash_lsh_dedup with the portable md5-prefix gram
    hash and raw band-string buckets): identical 32-perm/8-band pipeline
    to x_minhash's xxhash64 production sketch, but the oracle replays
    EVERYTHING — shingle hashing, the (2i+1)x+b_i mod p permutation
    family, per-band bucket keys, candidate generation, and the
    signature-agreement Jaccard estimate. x_minhash keeps the cheaper
    JVM hash at 100 TB; this witness hash-checks the shared algorithm
    end to end (completing the fingerprint-family conversions d29
    started)."""
    from torcdb_spark.operators.dedup import minhash_lsh_dedup

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    return minhash_lsh_dedup(
        docs, num_perm=32, bands=8, jaccard_threshold=0.5, hash_fn="md5"
    )


@_register(
    "d31_simhash_md5",
    """WITH n AS (SELECT doc_id,
                         lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
                  FROM documents),
       g AS (SELECT doc_id,
                    CAST(('0x' || substring(
                        md5(substring(nt, CAST(t.i AS INT), 5)), 1, 13))
                      AS BIGINT) AS x
             FROM n,
                  unnest(generate_series(
                      1, greatest(length(nt) - 4, 1))) AS t(i)),
       votes AS (SELECT doc_id, b.b,
                        sum(CASE WHEN (x >> b.b) & 1 = 1
                                 THEN 1 ELSE -1 END) AS v
                 FROM g, (SELECT unnest(range(0, 52)) AS b) b
                 GROUP BY doc_id, b.b),
       sh AS (SELECT doc_id,
                     sum(CASE WHEN v > 0 THEN 1::BIGINT << b
                              ELSE 0 END) AS simhash
              FROM votes GROUP BY doc_id)
       SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
              CAST(count(*) AS BIGINT) AS group_size
       FROM sh GROUP BY simhash""",
)
def d31_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucketing, DRIVER-hashable form
    (operators/dedup.simhash_dedup with the portable 52-bit md5-prefix
    gram hash): identical multiset sign-vote to d4's 64-bit xxhash64
    production sketch, but the oracle replays shingle hashing, all 52
    bit votes (weighted by shingle multiplicity — no dedup), the sign
    rule, and the bucket census value-for-value. d4 keeps the cheaper
    full-width JVM hash at 100 TB; this witness hash-checks the shared
    algorithm (third of the fingerprint-family conversions after
    d29/d30)."""
    from torcdb_spark.operators.dedup import simhash_dedup

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    return simhash_dedup(docs, hash_fn="md5")


@_register(
    "d32_hash_sample_md5",
    """SELECT doc_id, lang FROM documents
       WHERE CAST(('0x' || substring(
                 md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 13))
               AS BIGINT) % 100 < 10""",
)
def d32_hash_sample_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling, DRIVER-hashable form
    (operators/text.hash_sample with the portable md5 key hash): the
    exact kept set — 10% per language by md5(lang:doc_id) mod 100 — is
    reproduced by the oracle row for row. d12 keeps the cheaper xxhash64
    at 100 TB (rows-only, determinism pytest-asserted); this witness
    hash-checks the mechanism itself (last of the hash-family
    conversions d29/d30/d31 — every deterministic-hash algorithm in the
    engine now has a driver-hashed witness)."""
    from torcdb_spark.operators.text import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    out = hash_sample(docs, rate_pct=10, strata_col="lang", hash_fn="md5")
    return out.select("doc_id", "lang")


@_register(
    "e14_lsh_rademacher",
    """WITH planes AS (
         SELECT t.t, b.b, d.d,
                CASE WHEN CAST(('0x' || substring(
                         md5(CAST(t.t AS VARCHAR) || ':'
                             || CAST(b.b AS VARCHAR) || ':'
                             || CAST(d.d AS VARCHAR)), 1, 1)) AS INT)
                         % 2 = 1
                     THEN 1 ELSE -1 END AS s
         FROM (SELECT unnest(range(0, 4)) AS t) t,
              (SELECT unnest(range(0, 8)) AS b) b,
              (SELECT unnest(range(0, 64)) AS d) d),
       qv AS (SELECT vec_id,
                     CAST(embedding AS DOUBLE[]) AS raw,
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> CAST(floor(x * 1000) AS BIGINT))
                       AS v
              FROM embeddings),
       bits AS (SELECT q.vec_id, p.t, p.b,
                       CASE WHEN sum(p.s * q.v[p.d + 1]) >= 0
                            THEN 1::BIGINT << p.b ELSE 0 END AS bv
                FROM qv q, planes p
                GROUP BY q.vec_id, p.t, p.b),
       buckets AS (SELECT vec_id, t, sum(bv) AS bucket
                   FROM bits GROUP BY vec_id, t),
       cand AS (
         SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
         FROM buckets a JOIN buckets c
           ON a.t = c.t AND a.bucket = c.bucket
              AND a.vec_id <> c.vec_id
         WHERE a.vec_id < 10),
       scored AS (
         SELECT cand.query_id, cand.neighbor_id,
                round(list_dot_product(qa.raw, qc.raw)
                      / (sqrt(list_dot_product(qa.raw, qa.raw))
                         * sqrt(list_dot_product(qc.raw, qc.raw))),
                      3) AS score
         FROM cand
         JOIN qv qa ON qa.vec_id = cand.query_id
         JOIN qv qc ON qc.vec_id = cand.neighbor_id)
       SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id)
                        AS rnk
             FROM scored) WHERE rnk <= 5""",
)
def e14_lsh_rademacher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine LSH whose entire index is DRIVER-hashable
    (operators/similarity.py lsh_rademacher_topk): ±1 hyperplanes from
    md5 parity, integer sign-projection sketches over floor(x·1000)
    quantized vectors, per-table bucket equi-join, e1's rounded-cosine
    re-rank — the oracle reproduces planes, sketch bits, buckets,
    candidates and the top-5 value-for-value. Completes the
    exact-witness ANN family: brute (e1), int8 grid (e6), IVF (e13),
    sign-projection LSH (here) — each pairing a rows-only production
    form with a hash-checked structural twin."""
    from torcdb_spark.operators.similarity import lsh_rademacher_topk

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 10)
    return lsh_rademacher_topk(
        emb, queries, k=5, num_bits=8, num_tables=4
    )


def _pq_sub_sql(s: int, sub_dim: int = 16, ksub: int = 8) -> str:
    """Per-subspace CTE chain for e15: sliced quantized vectors, seed
    codebook, ONE Lloyd round, final encode — all integer arithmetic."""
    lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
    return f"""qv{s} AS (
         SELECT vec_id AS id,
                (list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * 1000) AS BIGINT))
                )[{lo}:{hi}] AS v
         FROM embeddings),
       c0_{s} AS (
         SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
         FROM (SELECT id, v FROM qv{s} ORDER BY id LIMIT {ksub})),
       a1d_{s} AS (
         SELECT q.id, q.v, c.cid,
                list_sum(list_transform(
                  list_zip(q.v, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         FROM qv{s} q CROSS JOIN c0_{s} c),
       a1_{s} AS (
         SELECT id, v, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY id
                                        ORDER BY d2 ASC, cid ASC) AS rk
           FROM a1d_{s}) WHERE rk = 1),
       c1dims_{s} AS (
         SELECT cid, p.pos,
                CAST(floor(CAST(sum(v[p.pos]) AS DOUBLE) / count(*))
                     AS BIGINT) AS cd
         FROM a1_{s},
              (SELECT unnest(range(1, {sub_dim + 1})) AS pos) p
         GROUP BY cid, p.pos),
       c1_{s} AS (
         SELECT cid, list(cd ORDER BY pos) AS cv
         FROM c1dims_{s} GROUP BY cid),
       encd_{s} AS (
         SELECT q.id, c.cid,
                list_sum(list_transform(
                  list_zip(q.v, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         FROM qv{s} q CROSS JOIN c1_{s} c),
       codes_{s} AS (
         SELECT id AS nid, {s} AS s, cid AS code FROM (
           SELECT *, row_number() OVER (PARTITION BY id
                                        ORDER BY d2 ASC, cid ASC) AS rk
           FROM encd_{s}) WHERE rk = 1),
       lut_{s} AS (
         SELECT q.id AS query_id, {s} AS s, c.cid AS code,
                list_sum(list_transform(
                  list_zip(q.v, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         FROM qv{s} q CROSS JOIN c1_{s} c
         WHERE q.id < 10)"""


@_register(
    "e15_pq_adc_exact",
    "WITH "
    + ",\n       ".join(_pq_sub_sql(s) for s in range(4))
    + """,
       codes AS (SELECT * FROM codes_0 UNION ALL SELECT * FROM codes_1
                 UNION ALL SELECT * FROM codes_2
                 UNION ALL SELECT * FROM codes_3),
       lut AS (SELECT * FROM lut_0 UNION ALL SELECT * FROM lut_1
               UNION ALL SELECT * FROM lut_2 UNION ALL SELECT * FROM lut_3),
       est AS (
         SELECT l.query_id, c.nid, sum(l.d2) AS est_d2
         FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
         WHERE l.query_id <> c.nid
         GROUP BY l.query_id, c.nid)
       SELECT query_id, nid AS neighbor_id,
              CAST(est_d2 AS BIGINT) AS est_d2, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY est_d2 ASC, nid ASC)
                        AS rnk
             FROM est) WHERE rnk <= 5""",
)
def e15_pq_adc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k whose entire index is
    DRIVER-hashable (operators/similarity.py pq_adc_exact): 4 subspaces
    × 16 dims, each with an integer-exact one-round Lloyd codebook (the
    km2 machinery on sliced vectors), integer argmin encoding, integer
    LUT sums as the ADC estimate — the oracle reproduces codebooks,
    codes, LUTs and the (est_d2, neighbor) top-5 value-for-value.
    Closes the exact-witness ANN family begun by e13/e14: every
    production ANN layout (IVF e4, LSH e2, PQ e7) now has a structural
    twin the driver hash-checks."""
    from torcdb_spark.operators.similarity import pq_adc_exact

    emb = regime.spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 10)
    return pq_adc_exact(emb, queries, k=5, m=4, ksub=8, lloyd_iters=1)


@_register(
    "e16_semantic_dedup_exact",
    f"""WITH RECURSIVE km2_qv AS (
         SELECT vec_id AS id,
                list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(floor(x * 1000) AS BIGINT)) AS v
         FROM embeddings),
       c0 AS (
         SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
         FROM (SELECT id, v FROM km2_qv ORDER BY id LIMIT 8)),
       {_km2_assign_sql('c0', 'a1')},
       {_km2_update_sql('a1', 'c1')},
       {_km2_assign_sql('c1', 'a2')},
       {_km2_update_sql('a2', 'c2')},
       {_km2_assign_sql('c2', 'a3')},
       raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS r
               FROM embeddings),
       pairs AS (
         SELECT x.id AS pa, y.id AS pb
         FROM a3 x JOIN a3 y ON x.cid = y.cid AND x.id < y.id
         JOIN raw rx ON rx.vec_id = x.id
         JOIN raw ry ON ry.vec_id = y.id
         WHERE round(list_dot_product(rx.r, ry.r)
                     / (sqrt(list_dot_product(rx.r, rx.r))
                        * sqrt(list_dot_product(ry.r, ry.r))), 3) >= 0.3),
       edges AS (
         SELECT pa AS a, pb AS b FROM pairs
         UNION SELECT pb, pa FROM pairs
         UNION SELECT id, id FROM km2_qv),
       reach(s, t) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a)
       SELECT s AS vec_id, CAST(min(t) AS BIGINT) AS cluster_id,
              s = min(t) AS is_representative
       FROM reach GROUP BY s""",
)
def e16_semantic_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a DRIVER-hashable trajectory: km2's integer-exact
    Lloyd cells bound the quadratic (the SemDeDup design), within-cell
    pairs score by e1's rounded-cosine rule at τ=0.3, and
    connected-components closure assigns min-id representatives — the
    oracle replays cells, pairs and the transitive closure (recursive
    CTE), so the whole embedding-dedup pipeline e8 runs with checked
    invariants is here checked value-for-value. Plan: one
    broadcast-codebook assignment, the assignment materialized ONCE
    before fanning into both sides of the cid-keyed self-join (never a
    global cross product), per-VECTOR norms computed before the join so
    the per-pair predicate is a single dot product (float-identical to
    cosine_similarity — same left-fold dot, same na·nb denominator — at
    a third of the per-pair lambda work), and star-contraction CC with
    singletons restored by a left join (τ=0.3 gives a CHAIN-shaped pair
    graph — O(log n) contraction rounds beat the O(diameter) label
    flood here; e8's τ≈0.95 near-clique graphs keep the flood, both CC
    operators being independently driver-certified)."""
    from torcdb_spark.analytics import connected_components_doubling
    from torcdb_spark.functions.vector import dot, l2_norm
    from torcdb_spark.operators.similarity import kmeans_lloyd_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    # spread ONLY the Lloyd input (the sf fixtures are one row
    # group; the iterative assignment is the parallel work) — the r10
    # plan audit showed the old whole-query repartition surviving as
    # pure waste everywhere else: an Exchange under each
    # BroadcastExchange (shuffling rows that are about to be collected
    # to the driver anyway) and a back-to-back Exchange pair under the
    # final vec_id join (plan nodes 2/3, re-shuffled immediately by the
    # join's own hash exchange)
    cells = kmeans_lloyd_quantized(
        regime.spread(emb), k=8, iters=2,
    ).localCheckpoint(eager=True)
    # one materialization of the assignment: both self-join branches and
    # the CC otherwise re-run the full Lloyd lineage (2 windows + 2
    # two-level aggregates) per reference
    raw = emb.select(
        "vec_id",
        F.col("embedding").alias("_r"),
        l2_norm(F.col("embedding")).alias("_n"),
    )
    # spread the PROBE side's cells scan (narrow checkpoint scan — the
    # spread partition probe is free there; probing the joined frame
    # would force AQE to execute its stages at build time) so the pair
    # scoring runs at full width even though the checkpointed assignment
    # lands in a handful of AQE-coalesced partitions
    a = regime.spread(cells).select(F.col("id").alias("ia"), "cid").join(
        raw.selectExpr("vec_id AS ia", "_r AS ra", "_n AS na"), "ia"
    )
    b = cells.select(F.col("id").alias("ib"), "cid").join(
        raw.selectExpr("vec_id AS ib", "_r AS rb", "_n AS nb"), "ib"
    )
    # cid has at most k(=8) distinct values, so the shuffle form of this
    # self-join caps at k active reducers AND pays Exchange+Sort on both
    # sides; under the analytics row bar the build side is the corpus
    # itself, so broadcast-hash it (zero exchanges, probe parallelism =
    # the spread scan). Above the bar — a corpus too big to broadcast —
    # the shuffle join stands unchanged; the count is a free read of the
    # already-eager checkpoint, never a recompute.
    b = regime.bc(b, cells.count())
    denom = F.col("na") * F.col("nb")
    cos = F.when(denom != 0.0, dot(F.col("ra"), F.col("rb")) / denom)
    pairs = (
        a.join(b, "cid")
        .where(F.col("ia") < F.col("ib"))
        .where(F.round(cos, 3) >= 0.3)
        .select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
    )
    cc = connected_components_doubling(pairs)
    return emb.select(F.col("vec_id").cast("long").alias("vec_id")).join(
        cc, F.col("vec_id") == F.col("id"), "left"
    ).select(
        "vec_id",
        F.coalesce(F.col("component"), F.col("vec_id"))
        .cast("long")
        .alias("cluster_id"),
        (
            F.col("vec_id")
            == F.coalesce(F.col("component"), F.col("vec_id"))
        ).alias("is_representative"),
    )


def _pr_fp_iter_sql(prev: str, out: str) -> str:
    """One unrolled fixed-point PageRank round for g_pr3's oracle."""
    return f"""{out} AS (
         SELECT n.id, CAST(150000 + COALESCE(s.m, 0) AS BIGINT) AS r
         FROM pr_nodes n LEFT JOIN (
           SELECT e.dst AS id,
                  sum(CAST(floor(CAST(85 * r.r AS DOUBLE)
                                 / (100 * d.deg)) AS BIGINT)) AS m
           FROM pr_e e
           JOIN {prev} r ON r.id = e.src
           JOIN pr_deg d ON d.src = e.src
           GROUP BY e.dst) s ON s.id = n.id)"""


@_register(
    "g_pr3_fixedpoint",
    f"""WITH pr_e AS (SELECT DISTINCT l_partkey AS src,
                             l_suppkey + 10000000 AS dst
                      FROM lineitem),
       pr_nodes AS (SELECT DISTINCT id FROM (
           SELECT src AS id FROM pr_e
           UNION ALL SELECT dst FROM pr_e)),
       pr_deg AS (SELECT src, count(*) AS deg FROM pr_e GROUP BY src),
       r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM pr_nodes),
       {_pr_fp_iter_sql('r0', 'r1')},
       {_pr_fp_iter_sql('r1', 'r2')},
       {_pr_fp_iter_sql('r2', 'r3')}
       SELECT id, r AS rank_fp, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (ORDER BY r DESC, id) AS rnk
             FROM r3) WHERE rnk <= 20""",
)
def g_pr3_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with a DRIVER-hashable trajectory (analytics.py
    pagerank_fixedpoint): three fixed-point rounds over the part→supplier
    supply graph — every update floor((85·r)/(100·deg)) over exact
    integers, so the unrolled-CTE oracle replays the whole trajectory
    (the km2/cl1 treatment applied to the iterative-float graph family;
    g_pagerank keeps the float/dangling-redistribution production form,
    g_pagerank_exact the closed-form star case — this witness
    hash-checks the general-graph ITERATION itself). Top-20 suppliers by
    fixed-point rank, (rank, id) tie-broken."""
    from torcdb_spark.analytics import pagerank_fixedpoint
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 10_000_000).alias("dst"),
    )
    ranks = pagerank_fixedpoint(edges, num_iter=3)
    w = W.orderBy(F.desc("rank_fp"), F.asc("id"))
    return (
        ranks.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select(
            F.col("id").cast("long").alias("id"),
            F.col("rank_fp"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@_register(
    "g_hits2_integer",
    """WITH he AS (SELECT DISTINCT l_partkey AS src,
                          l_suppkey + 10000000 AS dst
                   FROM lineitem),
       h0 AS (SELECT DISTINCT src AS id, CAST(1 AS BIGINT) AS h FROM he),
       a1 AS (SELECT e.dst AS id, sum(h.h) AS a
              FROM he e JOIN h0 h ON h.id = e.src GROUP BY e.dst),
       h1 AS (SELECT e.src AS id, sum(a.a) AS h
              FROM he e JOIN a1 a ON a.id = e.dst GROUP BY e.src),
       a2 AS (SELECT e.dst AS id, sum(h.h) AS a
              FROM he e JOIN h1 h ON h.id = e.src GROUP BY e.dst),
       h2 AS (SELECT e.src AS id, sum(a.a) AS h
              FROM he e JOIN a2 a ON a.id = e.dst GROUP BY e.src),
       scores AS (
         SELECT COALESCE(h2.id, a2.id) AS id,
                CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub,
                CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth
         FROM h2 FULL JOIN a2 ON h2.id = a2.id)
       SELECT id, hub, auth, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (ORDER BY auth DESC, id) AS rnk
             FROM scores) WHERE rnk <= 20""",
)
def g_hits2_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS with a DRIVER-hashable trajectory (analytics.py
    hits_integer): two unnormalized mutual-reinforcement rounds over the
    part→supplier graph — pure BIGINT sums, and because per-round L2
    normalization is a positive scalar the authority ORDERING equals the
    normalized iteration's, so this witness hash-checks the same
    ranking g_hits_parts serves (rows-only float production form). The
    oracle unrolls both rounds as CTEs; top-20 authorities, (auth, id)
    tie-broken."""
    from torcdb_spark.analytics import hits_integer
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 10_000_000).alias("dst"),
    )
    scores = hits_integer(edges, num_iter=2)
    w = W.orderBy(F.desc("auth"), F.asc("id"))
    return (
        scores.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select(
            F.col("id").cast("long").alias("id"), "hub", "auth",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def _ppr_fp_iter_sql(prev: str, out: str) -> str:
    """One unrolled fixed-point PPR round (teleport only to seeds)."""
    return f"""{out} AS (
         SELECT n.id,
                CAST(CASE WHEN n.id BETWEEN 1 AND 5 THEN 150000 ELSE 0 END
                     + COALESCE(s.m, 0) AS BIGINT) AS r
         FROM pr_nodes n LEFT JOIN (
           SELECT e.dst AS id,
                  sum(CAST(floor(CAST(85 * r.r AS DOUBLE)
                                 / (100 * d.deg)) AS BIGINT)) AS m
           FROM pr_e e
           JOIN {prev} r ON r.id = e.src
           JOIN pr_deg d ON d.src = e.src
           GROUP BY e.dst) s ON s.id = n.id)"""


@_register(
    "g_ppr2_fixedpoint",
    f"""WITH pr_e AS (SELECT DISTINCT l_partkey AS src,
                             l_suppkey + 10000000 AS dst
                      FROM lineitem),
       pr_nodes AS (SELECT DISTINCT id FROM (
           SELECT src AS id FROM pr_e
           UNION ALL SELECT dst FROM pr_e)),
       pr_deg AS (SELECT src, count(*) AS deg FROM pr_e GROUP BY src),
       p0 AS (SELECT id, CAST(CASE WHEN id BETWEEN 1 AND 5 THEN 1000000 ELSE 0 END
                              AS BIGINT) AS r
              FROM pr_nodes),
       {_ppr_fp_iter_sql('p0', 'p1')},
       {_ppr_fp_iter_sql('p1', 'p2')},
       {_ppr_fp_iter_sql('p2', 'p3')}
       SELECT id, r AS rank_fp, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT *, row_number() OVER (ORDER BY r DESC, id) AS rnk
             FROM p3 WHERE r > 0) WHERE rnk <= 20""",
)
def g_ppr2_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank with a DRIVER-hashable trajectory
    (analytics.py pagerank_fixedpoint with a seed set): start mass and
    teleport land only on parts 1-5, three fixed-point integer rounds
    over the part→supplier graph, the oracle unrolls the trajectory —
    the recommendation ranking g_ppr_recommend serves (rows-only float
    production form), hash-checked. Top-20 positive-mass vertices,
    (rank, id) tie-broken; zero-mass vertices (unreachable from the
    seeds) excluded — the locality PPR exists to exploit."""
    from torcdb_spark.analytics import pagerank_fixedpoint
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 10_000_000).alias("dst"),
    )
    seeds = spark.range(1, 6).select(F.col("id"))
    ranks = pagerank_fixedpoint(edges, num_iter=3, seeds=seeds)
    w = W.orderBy(F.desc("rank_fp"), F.asc("id"))
    return (
        ranks.where(F.col("rank_fp") > 0)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select(
            F.col("id").cast("long").alias("id"),
            "rank_fp",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# Shared navigation-core SQL for the g_mst2/g_lpa2 witnesses: the mis1/gc1
# high-support construction, undirected with summed transition counts as
# integer weights.
_NAV_CORE_SQL = """
  seq AS (SELECT user_id,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                 ts, event_id
          FROM events),
  tr AS (SELECT k AS src, lead(k) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS dst
         FROM seq),
  cnts AS (SELECT src, dst, count(*) AS n FROM tr
           WHERE dst IS NOT NULL GROUP BY 1, 2),
  und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                 CAST(sum(n) AS BIGINT) AS w
          FROM cnts WHERE src <> dst GROUP BY 1, 2),
  core AS (SELECT a, b, w FROM und ORDER BY w DESC, a ASC, b ASC LIMIT 175)
"""


def _nav_core_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events-navigation core as an UNDIRECTED weighted edge set
    (a < b, w = summed transition count, top-175 by (w desc, a, b)) —
    the mis1/gc1/g_ktruss scale-stable construction, shared by the
    g_mst2/g_lpa2 witnesses."""
    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = seq.select(
        F.col("k").alias("src"), F.lead("k").over(w).alias("dst")
    ).where(F.col("dst").isNotNull())
    cnts = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    und = (
        cnts.where(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .agg(F.sum("n").cast("long").alias("w"))
    )
    return und.orderBy(F.desc("w"), F.asc("a"), F.asc("b")).limit(175)


@_register(
    "g_mst2_kruskal_witness",
    """WITH RECURSIVE """ + _NAV_CORE_SQL + """,
       es AS (SELECT list(struct_pack(w := w, u := a, v := b)
                          ORDER BY w, a, b) AS es
              FROM core),
       vs AS (SELECT list(DISTINCT x ORDER BY x) AS vs FROM (
                SELECT a AS x FROM core UNION SELECT b FROM core)),
       it(i, comp, mst) AS (
         SELECT 0,
                (SELECT list_transform(vs, x -> struct_pack(id := x, c := x))
                 FROM vs),
                CAST([] AS STRUCT(w BIGINT, u BIGINT, v BIGINT)[])
         UNION ALL
         SELECT it.i + 1,
                CASE WHEN t.cu <> t.cv
                     THEN list_transform(it.comp, x -> struct_pack(id := x.id,
                            c := CASE WHEN x.c = t.cv THEN t.cu
                                 ELSE x.c END))
                     ELSE it.comp END,
                CASE WHEN t.cu <> t.cv THEN list_append(it.mst, t.e)
                     ELSE it.mst END
         FROM it, es, LATERAL (
            SELECT es.es[it.i + 1] AS e,
                   list_filter(it.comp,
                               x -> x.id = es.es[it.i + 1].u)[1].c AS cu,
                   list_filter(it.comp,
                               x -> x.id = es.es[it.i + 1].v)[1].c AS cv
         ) t
         WHERE it.i < len(es.es)
       )
       SELECT CAST(m.u AS BIGINT) AS src, CAST(m.v AS BIGINT) AS dst,
              CAST(m.w AS BIGINT) AS w
       FROM (SELECT unnest(mst) AS m FROM it, es WHERE it.i = len(es.es))""",
)
def g_mst2_kruskal_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest with a DRIVER-hashable edge set — the
    exact-witness twin of rows-only g_mst (VERDICT r7 ask #5; the
    GraphComputer surface the reference refuses, TorcGraph.java:315-324).

    Integer weights + the strict (w, src, dst) total order make the
    forest UNIQUE (cut property under lexicographic distinctification),
    so distributed Borůvka and sequential Kruskal must pick the SAME
    edges. The Spark side runs analytics.boruvka_mst over the 175-edge
    navigation core with local_threshold=60, which exercises BOTH paths
    in one hash: round 0 is a full distributed round (component
    re-keying, per-component struct-min pick, 2-cycle break, pointer
    doubling, contraction), after which the shrunken remainder drops
    under the threshold and the one-task Kruskal finisher completes the
    forest under the same order. The oracle replays sequential Kruskal
    edge-by-edge as a recursive CTE carrying the (vertex → component)
    list — every chosen (src, dst, w) row value-hashed."""
    from torcdb_spark.analytics import boruvka_mst

    core = _nav_core_undirected(spark, sf_dir)
    mst = boruvka_mst(
        core, src_col="a", dst_col="b", weight_col="w", local_threshold=60
    )
    return mst.select(
        F.col("a").cast("long").alias("src"),
        F.col("b").cast("long").alias("dst"),
        F.col("w").cast("long").alias("w"),
    )


@_register(
    "g_lpa2_integer_votes",
    """WITH """ + _NAV_CORE_SQL + """,
       sym AS (SELECT a, b FROM core UNION SELECT b AS a, a AS b FROM core),
       l0 AS (SELECT DISTINCT a AS id, a AS lab FROM sym),
       l1 AS (SELECT id, lab FROM (
                SELECT s.b AS id, l.lab AS lab,
                       row_number() OVER (PARTITION BY s.b
                           ORDER BY count(*) DESC, l.lab ASC) AS rn
                FROM sym s JOIN l0 l ON l.id = s.a
                GROUP BY s.b, l.lab) WHERE rn = 1),
       l2 AS (SELECT id, lab FROM (
                SELECT s.b AS id, l.lab AS lab,
                       row_number() OVER (PARTITION BY s.b
                           ORDER BY count(*) DESC, l.lab ASC) AS rn
                FROM sym s JOIN l1 l ON l.id = s.a
                GROUP BY s.b, l.lab) WHERE rn = 1),
       l3 AS (SELECT id, lab FROM (
                SELECT s.b AS id, l.lab AS lab,
                       row_number() OVER (PARTITION BY s.b
                           ORDER BY count(*) DESC, l.lab ASC) AS rn
                FROM sym s JOIN l2 l ON l.id = s.a
                GROUP BY s.b, l.lab) WHERE rn = 1)
       SELECT CAST(id AS BIGINT) AS id, CAST(lab AS BIGINT) AS community
       FROM l3""",
)
def g_lpa2_integer_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation with a DRIVER-hashable per-vertex label map —
    the exact-witness twin of rows-only g_lpa_communities (VERDICT r7
    ask #6). Synchronous LPA is all-integer: frequency votes are
    counts, ties break toward the SMALLEST label, updates are
    simultaneous — so a fixed 3-superstep run has exactly one possible
    trajectory. The Spark side runs analytics.label_propagation with
    local_threshold=0, forcing the DISTRIBUTED superstep (edge⋈state
    join → (vertex, label) count → struct-min argmax, broadcast state)
    rather than the small-core finisher, so the hash certifies the
    production plan shape; the oracle unrolls the three supersteps as
    chained CTEs with the identical (count DESC, label ASC) vote."""
    from torcdb_spark.analytics import label_propagation

    core = _nav_core_undirected(spark, sf_dir).select("a", "b")
    out = label_propagation(
        core, max_iter=3, src_col="a", dst_col="b", local_threshold=0
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("community").cast("long").alias("community"),
    )


# Per-source forward-BFS level CTE for the g_bc2 witness: level d holds
# (s, v, sigma) with sigma the EXACT shortest-path count (BIGINT); a vertex
# joins level d only if unseen at levels 0..d-1.
def _bc2_level_sql(d: int) -> str:
    prev = ", ".join(f"l{k}" for k in range(d))
    exclude = " AND ".join(
        f"NOT EXISTS (SELECT 1 FROM l{k} p{k} "
        f"WHERE p{k}.s = l.s AND p{k}.v = e.b)"
        for k in range(d)
    )
    return (
        f"l{d} AS MATERIALIZED (SELECT l.s, e.b AS v,"
        f" CAST(sum(l.sigma) AS BIGINT) AS sigma\n"
        f"          FROM l{d - 1} l JOIN sym e ON e.a = l.v\n"
        f"          WHERE {exclude}\n"
        f"          GROUP BY l.s, e.b)"
    )


# Backward dependency CTE on the 10^6 integer grid: every level-d vertex's
# Δ is the sum over its shortest-path-DAG successors w (level d+1) of
# (σ_v · (10^6 + Δ_w)) // σ_w — truncating BIGINT division, the identical
# operation Spark computes with `div`.
def _bc2_delta_sql(d: int) -> str:
    return (
        f"c{d} AS (SELECT c.s, c.v,\n"
        f"                sum((c.sigma * (1000000 + d.delta)) // w.sigma)"
        f" AS contrib\n"
        f"         FROM l{d} c JOIN sym e ON e.a = c.v\n"
        f"              JOIN l{d + 1} w ON w.s = c.s AND w.v = e.b\n"
        f"              JOIN d{d + 1} d ON d.s = c.s AND d.v = e.b\n"
        f"         GROUP BY c.s, c.v),\n"
        f"  d{d} AS MATERIALIZED (SELECT c.s, c.v,"
        f" CAST(COALESCE(t.contrib, 0) AS BIGINT) AS delta\n"
        f"         FROM l{d} c LEFT JOIN c{d} t"
        f" ON t.s = c.s AND t.v = c.v)"
    )


@_register(
    "g_bc2_integer_grid",
    # sym/levels are MATERIALIZED: DuckDB otherwise inlines the events-
    # window nav-core scan into every one of the ~12 sym/level references
    # (45 s at sf0.01, OOM at sf0.1); materialized, each is a one-shot
    # 175-row table and the whole replay is instant.
    "WITH " + _NAV_CORE_SQL + """,
       sym AS MATERIALIZED (
         SELECT a, b FROM core UNION SELECT b AS a, a AS b FROM core),
       seeds AS (SELECT DISTINCT a AS s FROM sym ORDER BY s LIMIT 4),
       l0 AS MATERIALIZED (
         SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM seeds),
       """
    + ",\n       ".join(_bc2_level_sql(d) for d in (1, 2, 3, 4))
    + """,
       d4 AS MATERIALIZED (
         SELECT s, v, CAST(0 AS BIGINT) AS delta FROM l4),
       """
    + ",\n       ".join(_bc2_delta_sql(d) for d in (3, 2, 1))
    + """
       SELECT CAST(v AS BIGINT) AS id, CAST(sum(delta) AS BIGINT) AS bc_scaled
       FROM (SELECT s, v, delta FROM d1 UNION ALL
             SELECT s, v, delta FROM d2 UNION ALL
             SELECT s, v, delta FROM d3 UNION ALL
             SELECT s, v, delta FROM d4)
       GROUP BY v""",
)
def g_bc2_integer_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes betweenness with a DRIVER-hashable per-vertex score — the
    exact-witness twin of rows-only g_betweenness (VERDICT r8 ask #5; the
    GraphComputer surface the reference refuses, TorcGraph.java:315-324).

    σ path counts are already exact integers; the float part of Brandes is
    only the dependency push-back δ(v) = Σ σ_v/σ_w·(1+δ_w). On a fixed
    10^6 grid with TRUNCATING integer division — Δ(v) = Σ (σ_v·(10^6+Δ_w))
    div σ_w — the whole trajectory is BIGINT-deterministic, so Spark and a
    level-unrolled DuckDB replay must agree bit-for-bit (the g_pr3/g_hits2
    quantized-trajectory pattern). The Spark side runs the PRODUCTION
    analytics.betweenness_sampled — same forward multi-source BFS, same
    deepest-first backward joins, same checkpoint discipline — with
    scale=10^6 switching only the arithmetic domain; the graph is the
    175-edge navigation core (symmetrized) from its 4 smallest vertices,
    depth-4 truncated on both sides (truncated-Brandes semantics: paths
    longer than 4 hops contribute nothing)."""
    from torcdb_spark.analytics import betweenness_sampled

    core = _nav_core_undirected(spark, sf_dir).select("a", "b")
    sym = core.unionByName(
        core.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    seeds = (
        sym.select(F.col("a").alias("id")).distinct().orderBy("id").limit(4)
    )
    bc = betweenness_sampled(
        sym, seeds, max_depth=4, src_col="a", dst_col="b", scale=1_000_000
    )
    return bc.select(
        F.col("id").cast("long").alias("id"),
        F.col("bc").cast("long").alias("bc_scaled"),
    )


@_register(
    "m3b_image_decode_census",
    """WITH px AS (
         SELECT doc_id,
                CAST(t.i AS BIGINT) % 3 AS ch,
                CAST(ascii(substr(rpad(text, 384, ' '),
                                  CAST(t.i AS INT) + 1, 1)) AS BIGINT) AS b
         FROM documents, range(384) t(i))
       SELECT doc_id AS media_id,
              16 AS width, 8 AS height, 3 AS channels,
              CAST(sum(CASE WHEN ch = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r,
              CAST(sum(CASE WHEN ch = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
              CAST(sum(CASE WHEN ch = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b,
              CAST(0 AS BIGINT) AS err
       FROM px GROUP BY doc_id""",
)
def m3b_image_decode_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-oracle twin of rows-only m3_image_decode (VERDICT r8 ask
    #6): the SAME P6 PPM framing and the SAME pure-numpy decode kernel
    (operators/multimodal.py decode_and_featurize, mapInPandas), reduced to
    driver-hashable integers — dimensions, channel count, per-channel BYTE
    SUMS, and a decode-error bit. The payload body is the text rpad-
    truncated to exactly 16·8·3 ASCII bytes, so DuckDB can replay the
    pixel sums byte-for-byte from the documents table without decoding
    anything; sum_c = round(mean_c · 128) is exact because a 128-pixel
    channel mean is a /2^7 dyadic rational (float64-exact) and the 4dp
    feature rounding perturbs mean·128 by < 0.007. Pixels stay pytest-
    exact in tests/test_operators.py; this pins the distributed decode
    path (Arrow batching, schema, error channel) to a value hash."""
    from torcdb_spark.operators.multimodal import decode_and_featurize

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    w, h = 16, 8
    header = F.encode(F.lit(f"P6\n{w} {h}\n255\n"), "utf-8")
    body = F.encode(F.rpad(F.col("text"), w * h * 3, " "), "utf-8")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, body).alias("payload"),
    )
    feats = decode_and_featurize(media)
    npx = w * h
    return feats.select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round(F.col("mean_r") * npx).cast("long").alias("sum_r"),
        F.round(F.col("mean_g") * npx).cast("long").alias("sum_g"),
        F.round(F.col("mean_b") * npx).cast("long").alias("sum_b"),
        F.when(F.col("decode_err").isNull(), 0)
        .otherwise(1)
        .cast("long")
        .alias("err"),
    )


@_register(
    "m7b_whash_exact",
    """WITH px AS MATERIALIZED (
         SELECT doc_id,
                CAST(t.i AS BIGINT) AS i,
                CAST(ascii(substr(rpad(text, 384, ' '),
                                  CAST(t.i AS INT) + 1, 1)) AS BIGINT) AS b
         FROM documents, range(384) t(i)),
       lum AS MATERIALIZED (
         SELECT doc_id, i // 3 AS p,
                CAST(sum(CASE i % 3 WHEN 0 THEN 299 * b
                                    WHEN 1 THEN 587 * b
                                    ELSE 114 * b END) AS BIGINT) AS l
         FROM px GROUP BY doc_id, i // 3),
       l8 AS MATERIALIZED (
         SELECT doc_id, p // 16 AS y, (p % 16) // 2 AS j, l
         FROM lum WHERE (p % 16) % 2 = 0),
       wht AS MATERIALIZED (
         SELECT doc_id, u.u AS u, v.v AS v,
                CAST(sum(CASE WHEN (bit_count(y & u.u)
                                    + bit_count(j & v.v)) % 2 = 0
                              THEN l ELSE -l END) AS BIGINT) AS c
         FROM l8, range(8) u(u), range(8) v(v)
         GROUP BY doc_id, u.u, v.v),
       med AS MATERIALIZED (
         SELECT doc_id, c AS m FROM (
           SELECT doc_id, c,
                  row_number() OVER (PARTITION BY doc_id ORDER BY c) AS rn
           FROM wht WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
       hashes AS MATERIALIZED (
         SELECT w.doc_id,
                CAST(sum(CASE WHEN w.c > m.m THEN
                           CASE WHEN w.u = 0 AND w.v = 0
                                THEN -9223372036854775807 - 1
                                ELSE CAST(1 AS BIGINT)
                                     << (63 - (w.u * 8 + w.v)) END
                         ELSE 0 END) AS BIGINT) AS h
         FROM wht w JOIN med m USING (doc_id)
         GROUP BY w.doc_id)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
       FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.h, b.h)) <= 3""",
)
def m7b_whash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup PAIRS with a DRIVER-hashable pair
    set — the exact-witness twin of rows-only m7_phash_near_dups, closing
    the last twin-less rows-only family. Same framing (each document's
    text bytes as a 16×8 P6 PPM), same real decode path, same banded-
    pigeonhole hamming equi-join (operators/dedup.hamming_near_dup_pairs,
    bands=4 > max_hamming=3 ⇒ ZERO false negatives, so the banded join
    must equal the oracle's brute-force pair scan exactly) — but the hash
    is ``whash64``: scaled-integer luma, nearest 8×8 resize, 2-D
    Walsh-Hadamard transform (±1 entries ⇒ exact BIGINT coefficients,
    sign = popcount parity DuckDB replays with bit_count(i & j)),
    32nd-smallest-AC threshold, two's-complement bit packing. Every pair
    (id_a, id_b, hamming) value-hashes against the SQL replay."""
    from torcdb_spark.operators.dedup import hamming_near_dup_pairs
    from torcdb_spark.operators.multimodal import image_whash

    docs = load_table(spark, sf_dir, "documents")
    w, h = 16, 8
    header = F.encode(F.lit(f"P6\n{w} {h}\n255\n"), "utf-8")
    body = F.encode(F.rpad(F.col("text"), w * h * 3, " "), "utf-8")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, body).alias("payload"),
    )
    hashes = (
        image_whash(regime.spread(media))
        .where(F.col("whash").isNotNull())
        .persist()
    )
    pairs = hamming_near_dup_pairs(
        hashes, max_hamming=3, bands=4, id_col="media_id", hash_col="whash"
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


@_register(
    "m1b_media_features_exact",
    """WITH px AS (
         SELECT doc_id,
                CAST(ascii(substr(text, CAST(i AS INT) + 1, 1))
                     AS BIGINT) AS b
         FROM (SELECT doc_id, text,
                      unnest(range(length(text))) AS i
               FROM documents))
       SELECT d.doc_id AS media_id,
              CAST(length(d.text) AS BIGINT) AS n_bytes,
              CAST(COALESCE(sum(p.b), 0) AS BIGINT) AS byte_sum,
              CAST(COALESCE(sum(CASE WHEN p.b // 32 = 0 THEN 1 END), 0)
                   AS BIGINT) AS h0,
              CAST(COALESCE(sum(CASE WHEN p.b // 32 = 1 THEN 1 END), 0)
                   AS BIGINT) AS h1,
              CAST(COALESCE(sum(CASE WHEN p.b // 32 = 2 THEN 1 END), 0)
                   AS BIGINT) AS h2,
              CAST(COALESCE(sum(CASE WHEN p.b // 32 = 3 THEN 1 END), 0)
                   AS BIGINT) AS h3,
              CAST(COALESCE(sum(CASE WHEN p.b // 32 = 4 THEN 1 END), 0)
                   AS BIGINT) AS h4,
              CAST(COALESCE(sum(CASE WHEN p.b // 32 = 5 THEN 1 END), 0)
                   AS BIGINT) AS h5,
              CAST(COALESCE(sum(CASE WHEN p.b // 32 = 6 THEN 1 END), 0)
                   AS BIGINT) AS h6,
              CAST(COALESCE(sum(CASE WHEN p.b // 32 = 7 THEN 1 END), 0)
                   AS BIGINT) AS h7
       FROM documents d LEFT JOIN px p ON d.doc_id = p.doc_id
       GROUP BY d.doc_id, length(d.text)""",
)
def m1b_media_features_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-witness twin of rows-only m1_media_features (VERDICT r9 ask
    #5 — the last twin-less rows-only query): the SAME plumbing
    (documents_as_media → extract_features, the Arrow-batched
    mapInPandas feature kernel of operators/multimodal.py:845) with its
    float outputs inverted back to driver-hashable integers.  byte_mean
    times n_bytes recovers the exact byte SUM (sum < 2^21 and float64
    has 2^-52 relative error, so the rounding error is < 0.5), and each
    float32 histogram fraction times n_bytes recovers the exact bucket
    COUNT (n ≤ 577 in the fixtures, so the 2^-24 float32 error scales to
    < 10^-4).  The oracle replays the kernel byte-for-byte in SQL —
    np.histogram(bins=8, range=(0,256)) buckets are exactly b // 32
    (the closed last edge folds 255 into bucket 7) — pinning batch
    iteration, binary Arrow transfer, and the result schema to a value
    hash.  Fixture texts are pure ASCII (verified at all three SFs), so
    ascii(substr(...)) equals the UTF-8 byte the kernel sees."""
    from torcdb_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
    )

    # No spread here: m1b's declared contract (tests/test_plans.py
    # test_media_features_twin_single_arrow_stage) is ONE Arrow kernel over
    # ONE scan with no shuffle; m1 keeps the fixture-spread for the family.
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(documents_as_media(docs))
    n = F.col("n_bytes").cast("double")
    sel = [
        F.col("media_id"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.round(F.col("byte_mean") * n).cast("long").alias("byte_sum"),
    ]
    for k in range(8):
        sel.append(
            F.round(F.element_at("feature", k + 1).cast("double") * n)
            .cast("long")
            .alias(f"h{k}")
        )
    return feats.select(*sel)


@_register(
    "m14_mp3_frame_census",
    """WITH params AS (
         SELECT doc_id,
                CAST(1 + length(text) % 7 AS BIGINT) AS nf,
                CAST(doc_id % 14 + 1 AS INT) AS bri,
                CAST(doc_id % 3 + 1 AS INT) AS sri,
                doc_id % 2 = 0 AS v1,
                CAST(doc_id % 5 AS BIGINT) * 17 AS id3_body
         FROM documents),
       derived AS (
         SELECT doc_id, nf, v1, id3_body,
                CASE WHEN v1
                     THEN list_extract([32,40,48,56,64,80,96,112,128,
                                        160,192,224,256,320], bri)
                     ELSE list_extract([8,16,24,32,40,48,56,64,80,
                                        96,112,128,144,160], bri)
                END AS kbps,
                CASE WHEN v1
                     THEN list_extract([44100,48000,32000], sri)
                     ELSE list_extract([22050,24000,16000], sri)
                END AS sr
         FROM params)
       SELECT doc_id AS media_id,
              nf AS n_frames,
              CAST(kbps AS BIGINT) AS bitrate_kbps,
              CAST(sr AS BIGINT) AS sample_rate,
              CAST(CASE WHEN id3_body = 0 THEN 0
                        ELSE 10 + id3_body END
                   + nf * ((CASE WHEN v1 THEN 144000 ELSE 72000 END
                            * kbps) // sr)
                   AS BIGINT) AS total_bytes,
              CAST(nf * (CASE WHEN v1 THEN 1152 ELSE 576 END)
                   * 1000 // sr AS BIGINT) AS duration_ms
       FROM derived""",
)
def m14_mp3_frame_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 frame-header census (operators/multimodal.py
    mp3_frame_census; ISO/IEC 11172-3 and 13818-3): per-document MPEG
    audio streams whose frame count, bitrate index, sample-rate index,
    version and ID3v2 tag size derive from fixture columns.  The walk
    skips the syncsafe-sized ID3v2 tag and sums per-frame lengths
    (144·kbps/sr for MPEG1 Layer III, 72·kbps/sr for MPEG2); duration
    is a floor division.  The oracle replays the arithmetic in SQL."""
    from torcdb_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        lambda n, kbps_idx, sr_idx, version, id3_body: mm.encode_mp3_stream(
            n, kbps_idx, sr_idx, version, 3, id3_body
        ),
        (F.lit(1) + F.length("text") % 7).cast("int"),
        (F.col("doc_id") % 14 + 1).cast("int"),
        (F.col("doc_id") % 3).cast("int"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(1))
        .otherwise(F.lit(2))
        .cast("int"),
        ((F.col("doc_id") % 5) * 17).cast("int"),
    )
    return payload_rows(media, mm.mp3_frame_census, mm.MP3_CENSUS_SCHEMA)


@_register(
    "m15_aac_adts_census",
    """SELECT doc_id AS media_id,
              CAST(1 + length(text) % 5 AS BIGINT) AS n_frames,
              CAST(doc_id % 4 AS BIGINT) AS profile,
              CAST(list_extract([96000,88200,64000,48000,44100,32000,
                                 24000,22050,16000,12000,11025,8000,7350],
                                CAST(doc_id % 13 AS INT) + 1)
                   AS BIGINT) AS sample_rate,
              CAST(1 + doc_id % 7 AS BIGINT) AS channels,
              CAST((1 + length(text) % 5)
                   * (7 + 32 + length(text) % 100) AS BIGINT) AS total_bytes,
              CAST((1 + length(text) % 5) * 1024 * 1000
                   // list_extract([96000,88200,64000,48000,44100,32000,
                                    24000,22050,16000,12000,11025,8000,7350],
                                   CAST(doc_id % 13 AS INT) + 1)
                   AS BIGINT) AS duration_ms
       FROM documents""",
)
def m15_aac_adts_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AAC ADTS census (operators/multimodal.py aac_adts_census;
    ISO/IEC 13818-7 §6.2): per-document ADTS streams whose frame count,
    profile, sampling index, channel configuration and body size derive
    from fixture columns, walked by the 7-byte header arithmetic.  The
    oracle replays the table lookups and the 1024-samples-per-frame
    floor-division duration in SQL."""
    from torcdb_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        mm.encode_adts_stream,
        (F.lit(1) + F.length("text") % 5).cast("int"),
        (F.col("doc_id") % 4).cast("int"),
        (F.col("doc_id") % 13).cast("int"),
        (F.lit(1) + F.col("doc_id") % 7).cast("int"),
        (F.lit(32) + F.length("text") % 100).cast("int"),
    )
    return payload_rows(media, mm.aac_adts_census, mm.AAC_CENSUS_SCHEMA)


@_register(
    "m16_webp_lossy_dims",
    """SELECT doc_id AS media_id,
              CAST(16 + doc_id % 1200 AS BIGINT) AS width,
              CAST(16 + length(text) % 800 AS BIGINT) AS height,
              CAST(doc_id % 4 AS BIGINT) AS version,
              CAST(16 + doc_id % 50 AS BIGINT) AS first_part_size,
              CAST(26 + doc_id % 50 AS BIGINT) AS vp8_bytes
       FROM documents""",
)
def m16_webp_lossy_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-WebP census (operators/webp.py webp_lossy_info; RFC 6386
    §9.1): the VP8 keyframe frame tag (keyframe, version, show_frame,
    first-partition size), the 0x9d012a start code and the 14-bit
    dimensions of per-document synthesized containers.  The oracle
    replays every column from the same fixture arithmetic."""
    from torcdb_spark.operators import webp

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        webp.encode_webp_lossy_stub,
        (F.lit(16) + F.col("doc_id") % 1200).cast("int"),
        (F.lit(16) + F.length("text") % 800).cast("int"),
        (F.col("doc_id") % 4).cast("int"),
        (F.col("doc_id") % 50).cast("int"),
    )
    return payload_rows(media, webp.webp_lossy_info, webp.WEBP_LOSSY_SCHEMA)


@_register(
    "m17_mp4_box_census",
    """WITH params AS (
         SELECT doc_id,
                CAST(600 + (doc_id % 5) * 100 AS BIGINT) AS ts,
                CAST(length(text) * 37 AS BIGINT) AS dur,
                CAST(doc_id % 2 AS BIGINT) AS nv,
                CAST(doc_id % 3 AS BIGINT) AS na,
                CAST(160 + (doc_id % 8) * 80 AS BIGINT) AS w,
                CAST(90 + (length(text) % 6) * 90 AS BIGINT) AS h,
                CAST(16 + doc_id % 64 AS BIGINT) AS mdat
         FROM documents)
       SELECT doc_id AS media_id,
              nv + na AS n_tracks,
              nv AS n_video,
              na AS n_audio,
              CASE WHEN nv > 0 THEN w ELSE 0 END AS width,
              CASE WHEN nv > 0 THEN h ELSE 0 END AS height,
              CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
              CAST(148 + 173 * (nv + na) + mdat AS BIGINT) AS total_bytes
       FROM params""",
)
def m17_mp4_box_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF (MP4) box census (operators/multimodal.py
    mp4_box_census; ISO/IEC 14496-12): ftyp + moov(mvhd + traks(tkhd +
    mdia(mdhd + hdlr))) + mdat containers synthesized per document,
    walked for movie duration, track counts by handler type and the
    first video track's 16.16 fixed-point dimensions (0 without a video
    track).  The oracle replays the closed-form box sizes (173 bytes per
    trak at this layout) and the floor-division duration."""
    from torcdb_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        mm.encode_mp4_stub,
        (F.lit(600) + (F.col("doc_id") % 5) * 100).cast("int"),
        (F.length("text") * 37).cast("int"),
        (F.col("doc_id") % 2).cast("int"),
        (F.col("doc_id") % 3).cast("int"),
        (F.lit(160) + (F.col("doc_id") % 8) * 80).cast("int"),
        (F.lit(90) + (F.length("text") % 6) * 90).cast("int"),
        (F.lit(16) + F.col("doc_id") % 64).cast("int"),
    )
    return payload_rows(
        media, _zero_dims(mm.mp4_box_census), mm.MP4_CENSUS_SCHEMA
    )


@_register(
    "m18_flac_streaminfo",
    """WITH params AS (
         SELECT doc_id,
                CAST(list_extract([8000,16000,22050,44100,48000],
                                  CAST(doc_id % 5 AS INT) + 1)
                     AS BIGINT) AS sr,
                CAST(1 + doc_id % 2 AS BIGINT) AS ch,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 16
                          WHEN doc_id % 3 = 1 THEN 24 ELSE 8 END
                     AS BIGINT) AS bits,
                CAST(length(text) AS BIGINT) * 997 AS ts,
                CAST((doc_id % 4) * 11 AS BIGINT) AS pad,
                CAST(32 + length(text) % 50 AS BIGINT) AS fb
         FROM documents)
       SELECT doc_id AS media_id,
              sr AS sample_rate,
              ch AS channels,
              bits AS bits_per_sample,
              ts AS total_samples,
              CAST(ts * 1000 // sr AS BIGINT) AS duration_ms,
              CAST(CASE WHEN pad = 0 THEN 1 ELSE 2 END
                   AS BIGINT) AS n_metadata_blocks,
              CAST(4 + 4 + 34
                   + CASE WHEN pad = 0 THEN 0 ELSE 4 + pad END + fb
                   AS BIGINT) AS total_bytes
       FROM params""",
)
def m18_flac_streaminfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC STREAMINFO census (operators/multimodal.py
    flac_streaminfo_census; RFC 9639): per-document streams with
    fixture-derived rate, channels, bit depth and sample count, and an
    optional PADDING block that exercises the metadata-block chain.  The
    walk unpacks the 20/3/5/36-bit STREAMINFO fields and stops at the
    last-metadata-block flag.  The oracle replays the fields and the
    closed-form block sizes."""
    from torcdb_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        mm.encode_flac_stub,
        F.element_at(
            F.array(*[F.lit(v) for v in
                      (8000, 16000, 22050, 44100, 48000)]),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ).cast("int"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int"),
        F.when(F.col("doc_id") % 3 == 0, 16)
        .when(F.col("doc_id") % 3 == 1, 24)
        .otherwise(8)
        .cast("int"),
        (F.length("text").cast("long") * 997).cast("long").cast("int"),
        ((F.col("doc_id") % 4) * 11).cast("int"),
        (F.lit(32) + F.length("text") % 50).cast("int"),
    )
    return payload_rows(
        media, mm.flac_streaminfo_census, mm.FLAC_CENSUS_SCHEMA
    )


@_register(
    "m19_id3_tags",
    """WITH p AS (
         SELECT doc_id,
                doc_id % 3 = 0 AS v22,
                doc_id % 5 = 0 AND doc_id % 3 < 2 AS unsync,
                substr(text, 1, 24) AS title
         FROM documents)
       SELECT doc_id AS media_id,
              CASE WHEN v22 THEN 'TT2' ELSE 'TIT2' END AS frame_id,
              CASE WHEN unsync THEN title || 'ÿ' ELSE title END AS value
       FROM p
       UNION ALL
       SELECT doc_id, CASE WHEN v22 THEN 'TP1' ELSE 'TPE1' END,
              'artist_' || CAST(doc_id % 7 AS VARCHAR)
       FROM p
       UNION ALL
       SELECT doc_id, CASE WHEN v22 THEN 'TAL' ELSE 'TALB' END,
              'album ' || CAST(length(text) AS VARCHAR)
       FROM (SELECT doc_id, doc_id % 3 = 0 AS v22, text
             FROM documents) q""",
)
def m19_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 text-frame extraction (operators/multimodal.py
    id3v2_text_frames; the id3.org v2.2/2.3/2.4 specs), one row per
    frame.  Per document, an MP3 stream carries title/artist/album
    frames (encode_id3_mp3).  The tag version rotates v2.2 (six-byte
    frame headers, three-char IDs) / v2.3 (plain sizes) / v2.4
    (syncsafe sizes).  The encoding rotates latin-1 / utf-16+BOM /
    utf-16-be / utf-8, clamped to 0/1 on v2.2.  Every fifth v2.2/2.3
    document is written with tag-wide unsynchronisation and a 'ÿ'
    appended to its title, so the 0xFF→0xFF00 stuffing is in the bytes.
    The oracle replays the three tag strings per document in SQL."""
    from torcdb_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    unsync = (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 3 < 2)
    media = _synth_media(
        docs,
        mm.encode_id3_mp3,
        F.when(
            unsync, F.concat(F.substring("text", 1, 24), F.lit("ÿ"))
        ).otherwise(F.substring("text", 1, 24)),
        F.concat(F.lit("artist_"), (F.col("doc_id") % 7).cast("string")),
        F.concat(F.lit("album "), F.length("text").cast("string")),
        (F.col("doc_id") % 4).cast("int"),
        (F.lit(2) + F.col("doc_id") % 3).cast("int"),
        unsync.cast("boolean"),
    )
    return payload_rows(media, mm.id3v2_text_frames, mm.ID3_TAGS_SCHEMA)


@_register(
    "m20_ogg_page_census",
    """WITH p AS (
         SELECT doc_id,
                doc_id % 2 = 0 AS opus,
                CAST(1 + doc_id % 7 AS BIGINT) AS channels,
                CAST(list_extract([48000,44100,16000,8000],
                                  CAST(doc_id % 4 AS INT) + 1)
                     AS BIGINT) AS sample_rate,
                CASE WHEN doc_id % 2 = 0
                     THEN CAST(312 + doc_id % 100 AS BIGINT)
                     ELSE 0 END AS pre_skip,
                CAST(1 + length(text) % 6 AS BIGINT) AS nap,
                CAST(1 + doc_id % 4 AS BIGINT) AS ppp,
                CAST(20 + length(text) % 50 AS BIGINT) AS psz
         FROM documents)
       SELECT doc_id AS media_id,
              CASE WHEN opus THEN 'opus' ELSE 'vorbis' END AS codec,
              1 + nap AS n_pages,
              1 + nap * ppp AS n_packets,
              channels,
              pre_skip,
              sample_rate,
              pre_skip + nap * ppp
                * (CASE WHEN opus THEN 960 ELSE 1024 END)
                AS last_granule,
              CASE WHEN opus THEN nap * ppp * 20
                   ELSE nap * ppp * 1024 * 1000 // sample_rate
              END AS duration_ms,
              (CASE WHEN opus THEN 47 ELSE 58 END)
                + nap * (27 + ppp + ppp * psz) AS total_bytes
       FROM p""",
)
def m20_ogg_page_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg page census (operators/multimodal.py ogg_page_census;
    RFC 3533, OpusHead per RFC 7845, Vorbis identification header per
    the Xiph spec §4.2): per-document Opus/Vorbis streams with real page
    CRCs and granule progression, walked for capture pattern and BOS
    validity, lacing → packet counts, identification-header fields, and
    the 48 kHz-clock-minus-pre-skip (Opus) or own-rate (Vorbis)
    duration.  The oracle replays page sizes and granules in SQL."""
    from torcdb_spark.operators import multimodal as mm

    docs = regime.spread(load_table(spark, sf_dir, "documents"))
    opus = F.col("doc_id") % 2 == 0
    media = _synth_media(
        docs,
        mm.encode_ogg_stub,
        F.when(opus, F.lit("opus")).otherwise(F.lit("vorbis")),
        (F.lit(1) + F.col("doc_id") % 7).cast("int"),
        F.element_at(
            F.array(F.lit(48000), F.lit(44100),
                    F.lit(16000), F.lit(8000)),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ).cast("int"),
        F.when(opus, F.lit(312) + F.col("doc_id") % 100)
        .otherwise(F.lit(0)).cast("int"),
        (F.lit(1) + F.length("text") % 6).cast("int"),
        (F.lit(1) + F.col("doc_id") % 4).cast("int"),
        (F.lit(20) + F.length("text") % 50).cast("int"),
    )
    return payload_rows(media, mm.ogg_page_census, mm.OGG_CENSUS_SCHEMA)


@_register(
    "m21_h264_nal_census",
    """WITH p AS (
         SELECT doc_id,
                CAST(16 + 2 * (doc_id % 620) AS BIGINT) AS w,
                CAST(16 + 2 * (length(text) % 350) AS BIGINT) AS h,
                CAST(1 + length(text) % 4 AS BIGINT) AS gops,
                CAST(doc_id % 3 AS BIGINT) AS p_per_gop,
                CAST(list_extract([30, 31, 40, 42],
                                  CAST(doc_id % 4 AS INT) + 1)
                     AS BIGINT) AS lvl
         FROM documents)
       SELECT doc_id AS media_id,
              2 + gops * (1 + p_per_gop) AS n_nalus,
              gops * (1 + p_per_gop) AS n_slices,
              gops AS n_idr,
              CAST(1 AS BIGINT) AS n_sps,
              CAST(1 AS BIGINT) AS n_pps,
              w AS width,
              h AS height,
              CAST(66 AS BIGINT) AS profile_idc,
              lvl AS level_idc
       FROM p""",
)
def m21_h264_nal_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264 NAL-unit census (operators/h264.py h264_nal_census; ITU-T
    H.264 §7.3.2.1.1 and §7.4.2.1.1): per-document elementary streams
    with fixture-derived dimensions, GOP count, non-IDR slices per GOP
    and level_idc, framed as Annex-B start codes or AVCC length prefixes
    by doc id, with non-multiple-of-16 sizes encoded via SPS frame
    cropping.  The walk gives the NAL-type histogram and an Exp-Golomb
    SPS decode after emulation-prevention stripping.  The oracle
    replays the stream shape in SQL."""
    from torcdb_spark.operators import h264

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        h264.encode_h264_stream,
        (F.lit(16) + F.lit(2) * (F.col("doc_id") % 620)).cast("int"),
        (F.lit(16) + F.lit(2) * (F.length("text") % 350)).cast("int"),
        (F.lit(1) + F.length("text") % 4).cast("int"),
        (F.col("doc_id") % 3).cast("int"),
        (F.lit(16) + F.col("doc_id") % 40).cast("int"),
        F.element_at(
            F.array(F.lit(30), F.lit(31), F.lit(40), F.lit(42)),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ).cast("int"),
        (F.col("doc_id") % 2 == 1).cast("boolean"),
    )
    census = payload_rows(media, h264.h264_nal_census, h264.H264_CENSUS_SCHEMA)
    return census.drop("total_bytes")


@_register(
    "m22_ogg_comment_tags",
    """SELECT doc_id AS media_id, 'TITLE' AS tag,
              substr(text, 1, 20) AS value FROM documents
       UNION ALL
       SELECT doc_id, 'ARTIST', 'artist_' || CAST(doc_id % 7 AS VARCHAR)
       FROM documents
       UNION ALL
       SELECT doc_id, 'DATE',
              CAST(1960 + doc_id % 60 AS VARCHAR) FROM documents""",
)
def m22_ogg_comment_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vorbis-comment extraction (operators/multimodal.py
    ogg_comment_tags; OpusTags per RFC 7845 §5.2, 0x03'vorbis' per the
    Xiph Vorbis-comment spec), one row per comment.  Per document, an
    Opus or Vorbis stream carries TITLE/ARTIST/DATE entries.  The walk
    reassembles the comment packet across RFC 3533 lacing boundaries,
    reads the little-endian length-prefixed entries and splits each at
    its first '='.  The oracle replays the three tags per document."""
    from torcdb_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        lambda codec, title, artist, date: mm.encode_ogg_stub(
            codec,
            comments=[("TITLE", title), ("ARTIST", artist), ("DATE", date)],
        ),
        F.when(F.col("doc_id") % 2 == 0, F.lit("opus"))
        .otherwise(F.lit("vorbis")),
        F.substring("text", 1, 20),
        F.concat(F.lit("artist_"), (F.col("doc_id") % 7).cast("string")),
        (F.lit(1960) + F.col("doc_id") % 60).cast("string"),
    )
    return payload_rows(media, mm.ogg_comment_tags, mm.OGG_TAGS_SCHEMA)


@_register(
    "m23_webm_census",
    """SELECT doc_id AS media_id,
              CASE WHEN doc_id % 2 = 0 THEN 'webm'
                   ELSE 'matroska' END AS doctype,
              CAST(1000000 AS BIGINT) AS timescale,
              CAST(1000 + doc_id % 100000 AS BIGINT) AS duration_ms,
              CAST(doc_id % 2 + 1 + doc_id % 3 AS BIGINT) AS n_tracks,
              CAST(doc_id % 2 AS BIGINT) AS n_video,
              CAST(1 + doc_id % 3 AS BIGINT) AS n_audio,
              CASE WHEN doc_id % 2 = 1
                   THEN CAST(16 + doc_id % 1904 AS BIGINT)
                   ELSE 0 END AS width,
              CASE WHEN doc_id % 2 = 1
                   THEN CAST(16 + length(text) % 1064 AS BIGINT)
                   ELSE 0 END AS height,
              CAST(1 + length(text) % 5 AS BIGINT) AS n_clusters
       FROM documents""",
)
def m23_webm_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska/WebM census (operators/ebml.py webm_census; RFC 8794
    EBML, RFC 9559 Matroska): per-document containers with
    fixture-derived doctype, duration, video/audio track mix, first-video
    dimensions (0 without a video track) and cluster count.  The walk
    decodes vints (marker-retaining IDs, marker-stripped sizes, the
    unknown-size escape), the DocType, TimestampScale and float64
    Duration → floor-division ms, and TrackEntry types with
    PixelWidth/PixelHeight.  The oracle replays every column in SQL."""
    from torcdb_spark.operators import ebml

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        lambda doctype, duration_ms, *rest: ebml.encode_webm_stub(
            doctype, 1_000_000, duration_ms, *rest
        ),
        F.when(F.col("doc_id") % 2 == 0, F.lit("webm"))
        .otherwise(F.lit("matroska")),
        (F.lit(1000) + F.col("doc_id") % 100000).cast("long"),
        (F.col("doc_id") % 2).cast("int"),
        (F.lit(1) + F.col("doc_id") % 3).cast("int"),
        (F.lit(16) + F.col("doc_id") % 1904).cast("int"),
        (F.lit(16) + F.length("text") % 1064).cast("int"),
        (F.lit(1) + F.length("text") % 5).cast("int"),
    )
    return payload_rows(
        media, _zero_dims(ebml.webm_census), ebml.WEBM_CENSUS_SCHEMA
    )


@_register(
    "tf1_tfrecord_examples",
    """WITH p AS (
         SELECT doc_id,
                CAST(doc_id % 1000 AS BIGINT) AS b,
                CAST(1 + doc_id % 4 AS BIGINT) AS n,
                CAST(1 + length(text) % 6 AS BIGINT) AS m,
                substr(text, 1, 40) AS t40
         FROM documents),
       r AS (SELECT p.*, CAST(g.i AS BIGINT) AS i
             FROM p, range(0, 4) AS g(i) WHERE g.i < n)
       SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS path,
              i AS rec_idx, 'text' AS feature, 'bytes' AS kind,
              CAST(1 AS BIGINT) AS n_values,
              CAST(0 AS BIGINT) AS int_sum,
              CASE WHEN substr(t40, CAST(i * 8 + 1 AS INT), 8) = ''
                   THEN 'pad'
                   ELSE substr(t40, CAST(i * 8 + 1 AS INT), 8)
              END AS text
       FROM r
       UNION ALL
       SELECT 'doc_' || CAST(doc_id AS VARCHAR), i, 'tokens', 'int64',
              m, m * (b + i * m) + m * (m - 1) // 2, NULL
       FROM r""",
)
def tf1_tfrecord_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord + tf.train.Example ingestion (sources/tfrecord.py
    tfrecord_examples; the TFRecord framing with masked CRC32C, and the
    protobuf wire format): per-document shards (sources/tfrecord.py
    tfrecord_shard) of records with a packed 'tokens' Int64List and a
    'text' BytesList.  Both CRCs are verified per record, unknown fields
    are skipped, and each (record, feature) is one row; a malformed
    shard gives an '_error' row.  The oracle replays the token sums
    m·(b+i·m)+m(m−1)/2 and the text slices in SQL."""
    from torcdb_spark.sources import tfrecord

    docs = load_table(spark, sf_dir, "documents")
    shards = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias(
            "path"
        ),
        synth_udf(tfrecord.tfrecord_shard)(
            (F.col("doc_id") % 1000).cast("long"),
            (F.lit(1) + F.col("doc_id") % 4).cast("int"),
            (F.lit(1) + F.length("text") % 6).cast("int"),
            F.substring("text", 1, 40),
        ).alias("content"),
    )
    return tfrecord.tfrecord_examples(shards)


@_register(
    "av1_avro_ingest",
    """WITH p AS (
         SELECT doc_id,
                CAST(1 + doc_id % 3 AS BIGINT) AS n,
                CAST(doc_id % 100 AS BIGINT) AS sb,
                substr(text, 1, 30) AS t30,
                doc_id % 7 = 0 AS nully
         FROM documents),
       r AS (SELECT p.*, CAST(g.i AS BIGINT) AS i
             FROM p, range(0, 3) AS g(i) WHERE g.i < n)
       SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS path,
              i AS rec_idx, 'id' AS field, 'long' AS kind,
              CAST(doc_id * 10 + i AS BIGINT) AS long_value,
              CAST(NULL AS DOUBLE) AS double_value,
              CAST(NULL AS VARCHAR) AS text
       FROM r
       UNION ALL
       SELECT 'doc_' || CAST(doc_id AS VARCHAR), i, 'score', 'double',
              NULL, CAST(sb + i AS DOUBLE) / 4.0, NULL
       FROM r
       UNION ALL
       SELECT 'doc_' || CAST(doc_id AS VARCHAR), i, 'text',
              CASE WHEN nully THEN 'null' ELSE 'string' END,
              NULL, NULL,
              CASE WHEN nully THEN NULL
                   WHEN substr(t30, CAST(i * 6 + 1 AS INT), 6) = ''
                   THEN 'pad'
                   ELSE substr(t30, CAST(i * 6 + 1 AS INT), 6)
              END
       FROM r""",
)
def av1_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container File ingestion (sources/avro.py
    avro_records; Apache Avro 1.11 spec, object container files):
    per-document OCF shards (sources/avro.py avro_doc_shard) of
    {id: long, score: double, text: ["null","string"]} records, the
    codec alternating null / raw deflate and every seventh document
    taking the union's null branch.  The reader walks the header map and
    the embedded writer schema, the zigzag-varint block framing with
    per-block sync markers, and inflates RFC 1951 blocks; one row per
    (record, field), and a corrupt file gives an '_error' row.  The
    oracle replays ids, quarter-valued scores and text slices in SQL."""
    from torcdb_spark.sources import avro

    docs = load_table(spark, sf_dir, "documents")
    shards = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias(
            "path"
        ),
        synth_udf(avro.avro_doc_shard)(
            F.col("doc_id").cast("long"),
            (F.lit(1) + F.col("doc_id") % 3).cast("int"),
            (F.col("doc_id") % 100).cast("long"),
            F.substring("text", 1, 30),
            (F.col("doc_id") % 7 == 0).cast("boolean"),
            (F.col("doc_id") % 2 == 1).cast("boolean"),
        ).alias("content"),
    )
    return avro.avro_records(shards)


@_register(
    "av2_snappy_avro_ingest",
    """WITH p AS (
         SELECT doc_id,
                CAST(1 + doc_id % 4 AS BIGINT) AS n,
                CAST(doc_id % 53 AS BIGINT) AS sb,
                substr(text, 1, 30) AS t30,
                doc_id % 5 = 0 AS nully
         FROM documents),
       r AS (SELECT p.*, CAST(g.i AS BIGINT) AS i
             FROM p, range(0, 4) AS g(i) WHERE g.i < n)
       SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS path,
              i AS rec_idx, 'id' AS field, 'long' AS kind,
              CAST(doc_id * 10 + i AS BIGINT) AS long_value,
              CAST(NULL AS DOUBLE) AS double_value,
              CAST(NULL AS VARCHAR) AS text
       FROM r
       UNION ALL
       SELECT 'doc_' || CAST(doc_id AS VARCHAR), i, 'score', 'double',
              NULL, CAST(sb + i AS DOUBLE) / 4.0, NULL
       FROM r
       UNION ALL
       SELECT 'doc_' || CAST(doc_id AS VARCHAR), i, 'text',
              CASE WHEN nully THEN 'null' ELSE 'string' END,
              NULL, NULL,
              CASE WHEN nully THEN NULL
                   WHEN substr(t30, CAST(i * 6 + 1 AS INT), 6) = ''
                   THEN 'pad'
                   ELSE substr(t30, CAST(i * 6 + 1 AS INT), 6)
              END
       FROM r""",
)
def av2_snappy_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snappy-coded Avro OCF ingestion (Apache Avro spec's snappy codec:
    raw snappy plus a 4-byte big-endian CRC32 of the uncompressed
    block): the container walk of av1_avro_ingest, with every block
    compressed by sources/snappy.py (varint preamble, literal and
    copy-1/2/4 tags, overlapping-copy RLE) and its CRC verified on read.
    The oracle replays ids, quarter-valued scores and text slices in
    SQL; a corrupt preamble gives an '_error' row."""
    from functools import partial

    from torcdb_spark.sources import avro

    docs = load_table(spark, sf_dir, "documents")
    synth = synth_udf(
        partial(avro.avro_doc_shard, codecs=("snappy", "snappy"))
    )
    shards = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias(
            "path"
        ),
        synth(
            F.col("doc_id").cast("long"),
            (F.lit(1) + F.col("doc_id") % 4).cast("int"),
            (F.col("doc_id") % 53).cast("long"),
            F.substring("text", 1, 30),
            (F.col("doc_id") % 5 == 0).cast("boolean"),
            (F.col("doc_id") % 2 == 1).cast("boolean"),
        ).alias("content"),
    )
    return avro.avro_records(shards)


@_register(
    "dl1_delta_log_replay",
    """SELECT 'part-' || CAST(doc_id AS VARCHAR) || '.parquet' AS path,
              CAST(1000 + doc_id % 5000 AS BIGINT) AS size,
              lang,
              CAST(doc_id AS BIGINT) AS added_version
       FROM documents d
       WHERE NOT EXISTS (SELECT 1 FROM documents r
                         WHERE r.doc_id = d.doc_id + 30
                           AND r.doc_id % 3 = 0)""",
)
def dl1_delta_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-Lake transaction-log replay (sources/delta_log.py) — the
    lakehouse-metadata operation every Delta reader performs, without a
    Delta runtime: a protocol-shaped action log (one add per commit,
    every third commit also removing the file added 30 commits
    earlier — including removes of never-added paths, which the
    protocol says must no-op) built from fixture columns with
    JVM-only to_json, then replayed to the ACTIVE file snapshot by
    from_json + a per-path latest-action window — whole-stage-codegen
    end to end, one shuffle on path, no driver-side state.  The oracle
    replays the add/remove reconciliation as a NOT EXISTS in
    closed-form SQL, so a wrong window order, action precedence, or
    JSON schema tolerance hash-mismatches immediately."""
    from torcdb_spark.sources.delta_log import delta_active_files

    docs = load_table(spark, sf_dir, "documents")
    adds = docs.select(
        F.col("doc_id").alias("version"),
        F.to_json(
            F.struct(
                F.struct(
                    F.concat(
                        F.lit("part-"),
                        F.col("doc_id").cast("string"),
                        F.lit(".parquet"),
                    ).alias("path"),
                    (F.lit(1000) + F.col("doc_id") % 5000)
                    .cast("long")
                    .alias("size"),
                    F.create_map(F.lit("lang"), F.col("lang")).alias(
                        "partitionValues"
                    ),
                    F.lit(True).alias("dataChange"),
                ).alias("add")
            )
        ).alias("line"),
    )
    removes = docs.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("version"),
        F.to_json(
            F.struct(
                F.struct(
                    F.concat(
                        F.lit("part-"),
                        (F.col("doc_id") - 30).cast("string"),
                        F.lit(".parquet"),
                    ).alias("path"),
                    F.lit(True).alias("dataChange"),
                ).alias("remove")
            )
        ).alias("line"),
    )
    snap = delta_active_files(adds.unionByName(removes))
    return snap.select(
        "path",
        "size",
        F.col("partition_values")["lang"].alias("lang"),
        "added_version",
    )


@_register(
    "p5_ipynb_cells",
    """WITH p AS (SELECT doc_id, 1 + doc_id % 4 AS n, text
                  FROM documents),
       r AS (SELECT p.*, CAST(g.i AS BIGINT) AS i
             FROM p, range(0, 4) AS g(i) WHERE g.i < n)
       SELECT doc_id, i AS cell_idx,
              CASE WHEN i % 2 = 0 THEN 'markdown'
                   ELSE 'code' END AS cell_type,
              CAST(2 AS BIGINT) AS n_lines,
              substr(text, CAST(i * 5 + 1 AS INT), 5)
                || 'x' || CAST(i AS VARCHAR) AS source
       FROM r""",
)
def p5_ipynb_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jupyter-notebook cell extraction (operators/text.py ipynb_cells)
    — the ingestion pass a code corpus runs over .ipynb files:
    per-document nbformat-4 JSON (cell count, alternating
    markdown/code types, two-line sources, plus metadata fields the
    parser must tolerate, all fixture-derived and built JVM-side with
    to_json) parsed back by from_json under a partial cells schema +
    posexplode + line-array join — whole-stage codegen end to end,
    zero Python.  One row per cell; the oracle replays types, line
    counts and joined sources in closed-form SQL."""
    from torcdb_spark.operators.text import ipynb_cells

    docs = load_table(spark, sf_dir, "documents")
    n = F.lit(1) + F.col("doc_id") % 4
    cells = F.transform(
        F.sequence(F.lit(0).cast("long"), (n - 1).cast("long")),
        lambda i: F.struct(
            F.when(i % 2 == 0, F.lit("markdown"))
            .otherwise(F.lit("code"))
            .alias("cell_type"),
            F.array(
                F.col("text").substr(
                    (i * 5 + 1).cast("int"), F.lit(5)
                ),
                F.concat(F.lit("x"), i.cast("string")),
            ).alias("source"),
            F.struct(F.lit(False).alias("collapsed")).alias("metadata"),
        ),
    )
    notebooks = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.lit(4).alias("nbformat"),
                F.lit(5).alias("nbformat_minor"),
                cells.alias("cells"),
                F.struct(F.lit("python3").alias("kernel")).alias(
                    "metadata"
                ),
            )
        ).alias("notebook"),
    )
    return ipynb_cells(notebooks)


@_register(
    "rb1_robots_directives",
    """SELECT doc_id, CAST(0 AS BIGINT) AS group_idx, '*' AS agents,
              'disallow' AS directive,
              '/private' || CAST(doc_id AS VARCHAR) AS value
       FROM documents
       UNION ALL
       SELECT doc_id, 0, '*', 'allow', '/public' FROM documents
       UNION ALL
       SELECT doc_id, 1,
              'bot' || CAST(doc_id % 5 AS VARCHAR) || ',extra'
                    || CAST(doc_id % 3 AS VARCHAR),
              'crawl-delay', CAST(1 + doc_id % 10 AS VARCHAR)
       FROM documents
       UNION ALL
       SELECT doc_id, 1,
              'bot' || CAST(doc_id % 5 AS VARCHAR) || ',extra'
                    || CAST(doc_id % 3 AS VARCHAR),
              'disallow', '/tmp'
       FROM documents""",
)
def rb1_robots_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing (operators/text.py robots_directives) — the
    crawl-politeness pass: per-document REP files (two groups, the
    second with STACKED consecutive User-agent lines per the RFC 9309
    grouping rule, trailing comments, blank separators, all
    fixture-derived and built JVM-side) parsed back by the
    posexplode + regex + lag/running-sum-window group walk.  One row
    per (group, directive) with the group's sorted comma-joined
    agents; the oracle replays all four directive rows per document in
    closed-form SQL, so a wrong group boundary, comment strip, or
    agent stacking hash-mismatches immediately."""
    from torcdb_spark.operators.text import robots_directives

    docs = load_table(spark, sf_dir, "documents")
    robots = docs.select(
        "doc_id",
        F.concat(
            F.lit("User-agent: *\n"),
            F.lit("Disallow: /private"),
            F.col("doc_id").cast("string"),
            F.lit("  # crawl keep-out\n"),
            F.lit("Allow: /public\n"),
            F.lit("\n"),
            F.lit("User-agent: bot"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("\nUser-agent: extra"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("\nCrawl-delay: "),
            (F.lit(1) + F.col("doc_id") % 10).cast("string"),
            F.lit("\nDisallow: /tmp\n"),
        ).alias("robots"),
    )
    return robots_directives(robots)


@_register(
    "p6_docx_extract",
    r"""SELECT doc_id,
              CAST(length(trim(regexp_replace(text, '\s+', ' ', 'g')))
                AS BIGINT) AS n_chars,
              TRUE AS exact
       FROM documents WHERE text IS NOT NULL""",
)
def p6_docx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX ingestion as OPERATOR COMPOSITION (VERDICT r11 ask #5) — the
    one mainstream enterprise/crawl document format that had no on-ramp,
    built exactly like p3_epub_extract from two existing layers plus one
    new JVM expression chain: each document becomes a real OOXML package
    (a ZIP with [Content_Types].xml, _rels/.rels, and a
    word/document.xml whose paragraphs carry split <w:t> runs with
    xml:space="preserve" whitespace runs, <w:tab/> separators, pPr/rPr
    formatting noise, and a <w:instrText> field code the extractor must
    ignore), fans out through sources.warc.zip_members, and the
    document part extracts through text.docx_text (paragraph
    boundaries from </w:p>, run concatenation, entity decode,
    whitespace collapse).  Word-split → archive → unzip → de-markup is
    lossless up to whitespace collapse, so the oracle replays character
    counts with one regexp from the documents table and the `exact`
    flag pins byte equality."""
    from html import escape

    from torcdb_spark.operators.text import docx_text
    from torcdb_spark.sources.warc import write_zip, zip_members

    docs = (
        regime.spread(load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())  # symmetric with the oracle
        .select("doc_id", "text"))
    )

    def docx(did, text):
        words = [w for w in _JAVA_WS.split(text) if w]
        paras = [words[i:i + 12] for i in range(0, len(words), 12)]
        body = []
        for pi, ws in enumerate(paras):
            k = (len(ws) + 1) // 2
            r1, r2 = " ".join(ws[:k]), " ".join(ws[k:])
            runs = ['<w:pPr><w:jc w:val="left"/></w:pPr>']
            if pi == 0:
                # field code: extractor must NOT surface this
                runs.append("<w:r><w:instrText> PAGE </w:instrText></w:r>")
            runs.append(f"<w:r><w:rPr><w:b/></w:rPr><w:t>"
                        f"{escape(r1, quote=False)}</w:t></w:r>")
            if r2:
                if (did + pi) % 3 == 0:
                    runs.append("<w:r><w:tab/></w:r>")
                else:
                    runs.append('<w:r><w:t xml:space="preserve"> </w:t></w:r>')
                runs.append(f"<w:r><w:t>{escape(r2, quote=False)}</w:t></w:r>")
            body.append("<w:p>" + "".join(runs) + "</w:p>")
        return write_zip([
            ("[Content_Types].xml", _OOXML_TYPES),
            ("_rels/.rels",
             '<?xml version="1.0"?><Relationships><Relationship Id="rId1" '
             'Target="word/document.xml"/></Relationships>'),
            ("word/document.xml",
             '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<w:document xmlns:w="http://schemas.openxmlformats.org/'
             'wordprocessingml/2006/main"><w:body>'
             + "".join(body) + "<w:sectPr/></w:body></w:document>"),
        ])

    archives = docs.select(
        F.format_string("doc_%d.docx", "doc_id").alias("path"),
        synth_udf(docx)("doc_id", "text").alias("content"),
    )
    parts = zip_members(archives).where(
        F.col("member") == "word/document.xml"
    )
    texts = parts.select(
        F.regexp_extract("path", r"doc_(\d+)\.docx", 1)
        .cast("long")
        .alias("doc_id"),
        docx_text(F.decode("payload", "utf-8")).alias("extracted"),
    )
    orig = docs.select(
        "doc_id",
        F.trim(F.regexp_replace("text", r"\s+", " ")).alias("norm"),
    )
    return texts.join(orig, "doc_id").select(
        "doc_id",
        F.length("extracted").cast("long").alias("n_chars"),
        (F.col("extracted") == F.col("norm")).alias("exact"),
    )


@_register(
    "p7_xlsx_census",
    """SELECT doc_id,
              CAST(1 + doc_id % 3 AS BIGINT) AS n_sheets,
              CAST(5 + doc_id % 3 AS BIGINT) AS n_cells,
              CAST(2 AS BIGINT) AS n_string_cells,
              CAST(2 + doc_id % 3 AS BIGINT) AS n_number_cells,
              substr(text, 1, 8) AS a1_text,
              CAST(doc_id * 2 + 1 AS BIGINT) AS b2_value
       FROM documents WHERE text IS NOT NULL""",
)
def p7_xlsx_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX sheet census (VERDICT r11 stretch #7) — the enterprise-data
    sibling of p5's notebook and p6's DOCX extraction, on the same
    plumbing: each document becomes a real SpreadsheetML package (a ZIP
    with xl/workbook.xml declaring 1+doc_id%3 sheets, an
    xl/sharedStrings.xml whose first entry is the document's
    entity-escaped 8-char prefix, and an xl/worksheets/sheet1.xml with
    shared-string cells, number cells, a blank cell, and doc-varying
    extra number cells), fans out through sources.warc.zip_members, and
    the census walks back through operators.ooxml.xlsx_sheet_census —
    sheet counts, typed cell counts, the sharedStrings indirection
    (A1's index resolved through the string table, entity round trip
    included), and a parsed number cell, all replayed by the oracle in
    closed-form SQL."""
    from html import escape

    from torcdb_spark.operators.ooxml import xlsx_sheet_census
    from torcdb_spark.sources.warc import write_zip, zip_members

    docs = (
        regime.spread(load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())  # symmetric with the oracle
        .select("doc_id", "text"))
    )

    def xlsx(did, text):
        sheets = "".join(
            f'<sheet name="Sheet{i+1}" sheetId="{i+1}" r:id="rId{i+1}"/>'
            for i in range(1 + did % 3)
        )
        extra = "".join(
            f'<c r="{chr(68 + j)}3"><v>{did + j}</v></c>'
            for j in range(did % 3)
        )
        return write_zip([
            ("[Content_Types].xml", _OOXML_TYPES),
            ("xl/workbook.xml",
             f'<?xml version="1.0"?><workbook><sheets>{sheets}</sheets>'
             "</workbook>"),
            ("xl/sharedStrings.xml",
             '<?xml version="1.0"?><sst count="2" uniqueCount="2">'
             f'<si><t xml:space="preserve">{escape(text[:8], quote=False)}'
             f"</t></si><si><t>w{did % 7}</t></si></sst>"),
            ("xl/worksheets/sheet1.xml",
             '<?xml version="1.0"?><worksheet><sheetData>'
             f'<row r="1"><c r="A1" t="s"><v>0</v></c>'
             f'<c r="B1"><v>{did}</v></c></row>'
             f'<row r="2"><c r="A2" t="s"><v>1</v></c>'
             f'<c r="B2"><v>{did * 2 + 1}</v></c><c r="C2"/></row>'
             + (f'<row r="3">{extra}</row>' if extra else "")
             + "</sheetData></worksheet>"),
        ])

    archives = docs.select(
        F.format_string("doc_%d.xlsx", "doc_id").alias("path"),
        synth_udf(xlsx)("doc_id", "text").alias("content"),
    )
    census = xlsx_sheet_census(zip_members(archives))
    return census.select(
        F.regexp_extract("path", r"doc_(\d+)\.xlsx", 1)
        .cast("long")
        .alias("doc_id"),
        "n_sheets",
        "n_cells",
        "n_string_cells",
        "n_number_cells",
        "a1_text",
        "b2_value",
    )


@_register(
    "m24_av1_obu_census",
    """WITH p AS (
         SELECT doc_id,
                CAST(2 + doc_id % 3838 AS BIGINT) AS w,
                CAST(2 + length(text) % 2158 AS BIGINT) AS h,
                CAST(1 + length(text) % 5 AS BIGINT) AS nf,
                CAST(list_extract([5, 8, 9, 12],
                                  CAST(doc_id % 4 AS INT) + 1)
                     AS BIGINT) AS lvl
         FROM documents)
       SELECT doc_id AS media_id,
              4 + 2 * nf AS n_obus,
              CAST(1 AS BIGINT) AS n_seq_hdr,
              1 + nf AS n_temporal_delim,
              nf AS n_frames,
              CAST(0 AS BIGINT) AS n_tile_groups,
              CAST(1 AS BIGINT) AS n_metadata,
              CAST(1 AS BIGINT) AS n_padding,
              w AS width,
              h AS height,
              CAST(0 AS BIGINT) AS seq_profile,
              lvl AS seq_level_idx
       FROM p""",
)
def m24_av1_obu_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AV1 OBU census (operators/av1.py av1_obu_census; AV1 Bitstream &
    Decoding Process spec §5.3 and §5.5.1): per-document low-overhead
    streams with fixture-derived dimensions, frame count, level,
    reduced-still-picture or full operating-point header form, optional
    timing_info, and extension headers on alternate frames.  The walk
    gives the OBU-type histogram with validated headers and leb128
    sizes, and a bit-decoded sequence header (profile, seq_level_idx,
    max frame dimensions).  The oracle replays the stream shape in
    SQL."""
    from torcdb_spark.operators import av1

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        av1.encode_av1_stream,
        (F.lit(2) + F.col("doc_id") % 3838).cast("int"),
        (F.lit(2) + F.length("text") % 2158).cast("int"),
        (F.lit(1) + F.length("text") % 5).cast("int"),
        (F.lit(16) + F.col("doc_id") % 40).cast("int"),
        F.element_at(
            F.array(F.lit(5), F.lit(8), F.lit(9), F.lit(12)),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ).cast("int"),
        (F.col("doc_id") % 5 == 0).cast("boolean"),
        (F.col("doc_id") % 2 == 1).cast("boolean"),
    )
    census = payload_rows(media, av1.av1_obu_census, av1.AV1_CENSUS_SCHEMA)
    return census.drop("total_bytes")


@_register(
    "m25_hevc_nal_census",
    """WITH p AS (
         SELECT doc_id,
                CAST(2 + 2 * (doc_id % 1912) AS BIGINT) AS w,
                CAST(2 + 2 * (length(text) % 1072) AS BIGINT) AS h,
                CAST(1 + length(text) % 4 AS BIGINT) AS gops,
                CAST(doc_id % 3 AS BIGINT) AS p_per_gop,
                CAST(list_extract([63, 93, 120, 153],
                                  CAST(doc_id % 4 AS INT) + 1)
                     AS BIGINT) AS lvl
         FROM documents)
       SELECT doc_id AS media_id,
              3 + gops * (1 + p_per_gop) AS n_nalus,
              gops * (1 + p_per_gop) AS n_slices,
              gops AS n_irap,
              gops AS n_idr,
              CAST(1 AS BIGINT) AS n_vps,
              CAST(1 AS BIGINT) AS n_sps,
              CAST(1 AS BIGINT) AS n_pps,
              w AS width,
              h AS height,
              CAST(1 AS BIGINT) AS profile_idc,
              lvl AS level_idc
       FROM p""",
)
def m25_hevc_nal_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEVC NAL-unit census (operators/hevc.py hevc_nal_census; ITU-T
    H.265 §7.3.3 and §7.4.3.2.1): per-document elementary streams with
    even display dimensions (8-px luma grid plus conformance-window
    crop), fixture-derived GOP and TRAIL_R counts and level_idc, framed
    as Annex-B or length prefixes by doc id.  The walk validates 2-byte
    NAL headers, counts types with IRAP/IDR classification, and decodes
    the SPS through profile_tier_level to the cropped dimensions.  The
    oracle replays the stream shape in SQL."""
    from torcdb_spark.operators import hevc

    docs = load_table(spark, sf_dir, "documents")
    media = _synth_media(
        docs,
        hevc.encode_hevc_stream,
        (F.lit(2) + F.lit(2) * (F.col("doc_id") % 1912)).cast("int"),
        (F.lit(2) + F.lit(2) * (F.length("text") % 1072)).cast("int"),
        (F.lit(1) + F.length("text") % 4).cast("int"),
        (F.col("doc_id") % 3).cast("int"),
        (F.lit(16) + F.col("doc_id") % 40).cast("int"),
        F.element_at(
            F.array(F.lit(63), F.lit(93), F.lit(120), F.lit(153)),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ).cast("int"),
        (F.col("doc_id") % 2 == 1).cast("boolean"),
    )
    census = payload_rows(media, hevc.hevc_nal_census, hevc.HEVC_CENSUS_SCHEMA)
    return census.drop("total_bytes")


@_register(
    "m26_opus_packet_census",
    """WITH p AS (SELECT doc_id,
                        CAST(2 + doc_id % 5 AS BIGINT) AS n
                 FROM documents),
       r AS (SELECT p.doc_id, CAST(g.i AS BIGINT) AS j
             FROM p, range(0, 7) AS g(i) WHERE g.i < n),
       t AS (SELECT doc_id, j,
                    CAST((doc_id + 3 * j) % 32 AS BIGINT) AS config,
                    (doc_id + j) % 2 = 1 AS stereo,
                    CAST(j % 4 AS BIGINT) AS fcode,
                    CAST(CASE j % 4 WHEN 0 THEN 1 WHEN 3 THEN 1 + j % 2
                         ELSE 2 END AS BIGINT) AS n_frames
             FROM r),
       s AS (SELECT t.*,
                    CAST(CASE
                      WHEN config < 12 THEN
                        CASE config % 4 WHEN 0 THEN 480 WHEN 1 THEN 960
                             WHEN 2 THEN 1920 ELSE 2880 END
                      WHEN config < 16 THEN
                        CASE config % 2 WHEN 0 THEN 480 ELSE 960 END
                      ELSE
                        CASE config % 4 WHEN 0 THEN 120 WHEN 1 THEN 240
                             WHEN 2 THEN 480 ELSE 960 END
                    END AS BIGINT) AS frame_samples
             FROM t)
       SELECT doc_id, j AS pkt_idx, config, stereo, fcode, n_frames,
              frame_samples,
              n_frames * frame_samples AS pkt_samples,
              CASE WHEN config < 12 THEN 'silk'
                   WHEN config < 16 THEN 'hybrid'
                   ELSE 'celt' END AS mode,
              CASE WHEN config < 4 THEN 'nb'
                   WHEN config < 8 THEN 'mb'
                   WHEN config < 12 THEN 'wb'
                   WHEN config < 14 THEN 'swb'
                   WHEN config < 16 THEN 'fb'
                   WHEN config < 20 THEN 'nb'
                   WHEN config < 24 THEN 'wb'
                   WHEN config < 28 THEN 'swb'
                   ELSE 'fb' END AS bandwidth,
              TRUE AS granule_match
       FROM s""",
)
def m26_opus_packet_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opus per-packet TOC census (operators/multimodal.py opus_census
    over opus_packet_census; RFC 6716 §3.1 Table 2 and §3.2.5): each
    audio packet's TOC byte gives config → SILK/Hybrid/CELT mode, NB..FB
    bandwidth and frame duration on the 48 kHz clock, the stereo flag
    and the frame-count code, including the code-3 count byte and its
    120 ms bound.  granule_match checks the summed TOC durations against
    the container's last granule minus pre-skip.  Packets follow the
    closed-form (doc_id, j) arithmetic of encode_opus_toc_stream, which
    the oracle replays."""
    from torcdb_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id"),
        synth_udf(mm.encode_opus_toc_stream)(
            F.col("doc_id").cast("long"),
            (F.lit(2) + F.col("doc_id") % 5).cast("long"),
        ).alias("payload"),
    )
    return mm.opus_census(media)


@_register(
    "p8_pptx_extract",
    r"""WITH n AS (SELECT doc_id,
                        trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
                 FROM documents WHERE text IS NOT NULL),
       w AS (SELECT doc_id, norm,
                    CASE WHEN norm = '' THEN 0
                         ELSE length(norm) - length(replace(norm, ' ', ''))
                              + 1 END AS nw
             FROM n)
       SELECT doc_id,
              CAST(CASE WHEN nw = 0 THEN 1
                        ELSE 1 + floor((nw - 1) / 48) END AS BIGINT)
                AS n_slides,
              CAST(length(norm) AS BIGINT) AS n_chars,
              TRUE AS exact
       FROM w""",
)
def p8_pptx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPTX ingestion — the PresentationML member completing the OOXML
    trio (p6 DOCX, p7 XLSX): each document becomes a real presentation
    package (48 words per slide, DrawingML paragraphs of 12 words with
    split <a:t> runs, <a:br/> separators on alternate paragraphs, rPr
    noise), slide parts fan out through sources.warc.zip_members, each
    slide extracts through ooxml.pptx_text, and the per-document
    reassembly (slide count + order-preserving text concat via a
    sorted collect_list) must reproduce the whitespace-normalized
    original — slide count AND byte equality both oracle-replayed."""
    from html import escape

    from torcdb_spark.operators.ooxml import pptx_text
    from torcdb_spark.sources.warc import write_zip, zip_members

    docs = regime.spread(
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())  # symmetric with the oracle
        .select("doc_id", "text")
    )

    def slide_xml(sw):
        paras = []
        for pi in range(0, len(sw), 12):
            ws = sw[pi:pi + 12]
            k = (len(ws) + 1) // 2
            r1, r2 = " ".join(ws[:k]), " ".join(ws[k:])
            runs = (f'<a:r><a:rPr lang="en-US"/>'
                    f"<a:t>{escape(r1, quote=False)}</a:t></a:r>")
            if r2:
                if pi % 24 == 0:
                    runs += "<a:br/>"
                else:
                    runs += '<a:r><a:t xml:space="preserve"> </a:t></a:r>'
                runs += f"<a:r><a:t>{escape(r2, quote=False)}</a:t></a:r>"
            paras.append(f"<a:p>{runs}</a:p>")
        return ('<?xml version="1.0"?><p:sld><p:cSld><p:spTree><p:sp>'
                "<p:txBody>" + "".join(paras) + "</p:txBody></p:sp>"
                "</p:spTree></p:cSld></p:sld>")

    def pptx(text):
        words = [w for w in _JAVA_WS.split(text) if w]
        slides = [words[i:i + 48] for i in range(0, len(words), 48)] or [[]]
        ids = "".join(f'<p:sldId id="{256 + i}"/>' for i in range(len(slides)))
        return write_zip([
            ("[Content_Types].xml", _OOXML_TYPES),
            ("ppt/presentation.xml",
             '<?xml version="1.0"?><p:presentation>'
             f"<p:sldIdLst>{ids}</p:sldIdLst></p:presentation>"),
            *((f"ppt/slides/slide{si + 1}.xml", slide_xml(sw))
              for si, sw in enumerate(slides)),
        ])

    archives = docs.select(
        F.format_string("doc_%d.pptx", "doc_id").alias("path"),
        synth_udf(pptx)("text").alias("content"),
    )
    slides = zip_members(archives).where(
        F.col("member").rlike(r"^ppt/slides/slide\d+\.xml$")
    )
    per_slide = slides.select(
        F.regexp_extract("path", r"doc_(\d+)\.pptx", 1)
        .cast("long")
        .alias("doc_id"),
        F.regexp_extract("member", r"slide(\d+)\.xml", 1)
        .cast("int")
        .alias("slide_no"),
        pptx_text(F.decode("payload", "utf-8")).alias("t"),
    )
    agg = per_slide.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_slides"),
        F.trim(
            F.regexp_replace(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("slide_no", "t"))
                        ),
                        lambda s: s["t"],
                    ),
                    " ",
                ),
                r"\s+",
                " ",
            )
        ).alias("extracted"),
    )
    orig = docs.select(
        "doc_id",
        F.trim(F.regexp_replace("text", r"\s+", " ")).alias("norm"),
    )
    return agg.join(orig, "doc_id").select(
        "doc_id",
        "n_slides",
        F.length("extracted").cast("long").alias("n_chars"),
        (F.col("extracted") == F.col("norm")).alias("exact"),
    )


@_register(
    "ic1_iceberg_snapshot",
    """SELECT doc_id AS table_id,
              CAST(1 + doc_id % 3 AS BIGINT) AS n_manifests,
              CAST(3 * (1 + doc_id % 3) AS BIGINT) AS n_live_files,
              CAST(3 * (1 + doc_id % 3) * (10 + doc_id % 7) AS BIGINT)
                AS total_records,
              CAST(300 * (1 + doc_id % 3) AS BIGINT) AS total_bytes
       FROM documents""",
)
def ic1_iceberg_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg snapshot replay (sources/iceberg.py) — the OTHER major
    lakehouse table format next to dl1's Delta-log replay, read by pure
    composition over the repo's own stdlib Avro OCF decoder: each
    document becomes an Iceberg metadata tree (a manifest LIST naming
    1+doc_id%3 manifests, each manifest holding 2 ADDED + 1 EXISTING +
    doc_id%2 DELETED entries with nested data_file records, PLUS one
    orphan manifest NOT referenced by the list), and the snapshot rule
    — live files = non-DELETED entries of exactly the referenced
    manifests — runs as two Arrow parse passes joined on (table,
    manifest path).  The oracle replays the per-table live-file
    census in closed-form SQL, so counting an orphan manifest's files,
    a DELETED entry, or a mis-decoded nested record hash-mismatches
    immediately."""
    import pandas as pd

    from torcdb_spark.sources.iceberg import (
        iceberg_live_files,
        write_manifest,
        write_manifest_list,
    )

    docs = regime.spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n_m = 1 + did % 3
                rc = 10 + did % 7
                names = [f"m{did}_{j}.avro" for j in range(n_m)]
                rows.append({
                    "table_id": did, "kind": "list", "name": "list",
                    "content": write_manifest_list(names, did),
                })
                for j, name in enumerate(names):
                    entries = [
                        (1, f"data/t{did}/f{j}_0.parquet", rc, 100),
                        (1, f"data/t{did}/f{j}_1.parquet", rc, 100),
                        (0, f"data/t{did}/f{j}_2.parquet", rc, 100),
                    ]
                    if did % 2:
                        entries.append(
                            (2, f"data/t{did}/gone{j}.parquet", 999, 9)
                        )
                    rows.append({
                        "table_id": did, "kind": "manifest",
                        "name": name,
                        "content": write_manifest(entries, did),
                    })
                # orphan manifest: on storage, absent from the list —
                # its files must NOT appear in the snapshot
                rows.append({
                    "table_id": did, "kind": "manifest",
                    "name": f"orphan{did}.avro",
                    "content": write_manifest(
                        [(1, f"data/t{did}/stale.parquet", 777, 7)], did
                    ),
                })
            yield pd.DataFrame(rows)

    parts = docs.mapInPandas(
        build, "table_id long, kind string, name string, content binary"
    ).persist()  # feeds both join sides; without it the fixture
    # synthesis re-runs once per side (real deployments read lists and
    # manifests as distinct binaryFile scans — nothing to recompute)
    lists = parts.where(F.col("kind") == "list").select(
        "table_id", "content"
    )
    manifests = parts.where(F.col("kind") == "manifest").select(
        "table_id", "name", "content"
    )
    live = iceberg_live_files(lists, manifests)
    return live.groupBy("table_id").agg(
        F.countDistinct("manifest_path").cast("long").alias("n_manifests"),
        F.count("*").cast("long").alias("n_live_files"),
        F.sum("record_count").cast("long").alias("total_records"),
        F.sum("file_size_in_bytes").cast("long").alias("total_bytes"),
    )


@_register(
    "ai1_arrow_ipc_ingest",
    """WITH p AS (SELECT doc_id, CAST(3 + doc_id % 5 AS BIGINT) AS n, text
                 FROM documents),
       b AS (SELECT 0 AS bi UNION ALL SELECT 1)
       SELECT doc_id, CAST(bi AS BIGINT) AS batch_idx,
              'ids' AS col_name, 'int64' AS dtype,
              n AS n_rows, CAST(0 AS BIGINT) AS null_count,
              CAST(n * doc_id
                   + CASE WHEN bi = 0 THEN n * (n - 1) / 2
                          ELSE n * (3 * n - 1) / 2 END AS BIGINT)
                AS long_sum,
              CAST(NULL AS VARCHAR) AS text_first
       FROM p, b
       UNION ALL
       SELECT doc_id, CAST(bi AS BIGINT), 'txt', 'string',
              n, CAST(1 AS BIGINT), CAST(NULL AS BIGINT),
              substr(text, 1 + 4 * bi, 4)
       FROM p, b""",
)
def ai1_arrow_ipc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC / Feather-v2 ingestion (sources/arrow_ipc.py) — the
    ML ecosystem's zero-copy interchange format joining the TFRecord /
    Avro OCF / Delta / Iceberg lakehouse on-ramp family: each document
    becomes a two-column, two-batch IPC payload (int64 ids and a
    string column with one trailing null per batch), alternating FILE
    (ARROW1 magic + footer) and STREAM framing by doc id, and the
    per-(batch, column) census — dtype, row/null counts, integer sums,
    leading string — is replayed by the oracle in closed-form SQL.
    The decode runs inside the payload kernel every binary source
    shares; a poisoned shard degrades to an '_error' row."""
    from torcdb_spark.sources.arrow_ipc import (
        arrow_ipc_columns,
        write_arrow_ipc,
    )

    docs = regime.spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def ipc(did, text):
        n = 3 + did % 5
        t = str(text)
        txt = []
        for bi in range(2):
            txt += [t[4 * bi : 4 * bi + 4],
                    *(f"r{did}_{bi}_{i}" for i in range(n - 2)), None]
        return write_arrow_ipc({"ids": list(range(did, did + 2 * n)),
                                "txt": txt}, [n, n],
                               file_format=(did % 2 == 0))

    shards = docs.select(
        F.format_string("doc_%d.arrow", "doc_id").alias("path"),
        synth_udf(ipc)("doc_id", "text").alias("content"),
    )
    census = arrow_ipc_columns(shards)
    return census.select(
        F.regexp_extract("path", r"doc_(\d+)\.arrow", 1)
        .cast("long")
        .alias("doc_id"),
        "batch_idx",
        F.col("column").alias("col_name"),
        "dtype",
        "n_rows",
        "null_count",
        "long_sum",
        "text_first",
    )


@_register(
    "p9_markdown_extract",
    r"""SELECT doc_id,
              CAST(length(trim(regexp_replace(text, '\s+', ' ', 'g')))
                AS BIGINT) AS n_chars,
              TRUE AS exact
       FROM documents WHERE text IS NOT NULL""",
)
def p9_markdown_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown ingestion (text.markdown_to_text) — the docs/README
    format a code-heavy crawl hits in volume: each document renders to
    a real .md file (an ATX header over the first paragraph, a
    horizontal rule, a fenced code block wrapping one paragraph, a
    blockquoted paragraph, bulleted lines, and per-word bold / italic
    / inline-code / link / image decorations) and the JVM regex chain
    must strip every decoration and recover the whitespace-normalized
    original — n_chars oracle-replayed, byte equality pinned by the
    `exact` flag; the backslash-escape pass is pytest-pinned
    (test_markdown_to_text)."""
    import pandas as pd

    from torcdb_spark.operators.text import markdown_to_text

    docs = (
        regime.spread(load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())  # symmetric with the oracle
        .select("doc_id", "text"))
    )

    def build(batches):
        import re as _re

        _ws = _re.compile(r"[ \t\n\x0b\f\r]+")  # the JAVA \s class

        def deco(w, i):
            if i % 19 == 7:
                return f"**{w}**"
            if i % 17 == 2:
                return f"*{w}*"
            if i % 13 == 5:
                return f"`{w}`"
            if i % 11 == 3:
                return f"[{w}](https://ex.invalid/{i})"
            if i % 23 == 9:
                return f"![{w}](img/{i}.png)"
            return w

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in _ws.split(str(text)) if w]
                words = [deco(w, i) for i, w in enumerate(words)]
                paras = [words[i:i + 12] for i in range(0, len(words), 12)]
                parts = []
                for pi, ws in enumerate(paras):
                    body = " ".join(ws)
                    if pi == 0:
                        parts.append(f"## {body}")
                        parts.append("---")
                    elif pi % 4 == 1:
                        parts.append(f"```python\n{body}\n```")
                    elif pi % 4 == 2:
                        parts.append(f"> {body}")
                    elif pi % 4 == 3:
                        parts.append(f"- {body}")
                    else:
                        parts.append(body)
                md = "\n\n".join(parts) if parts else ""
                rows.append({"doc_id": int(did), "md": md})
            yield pd.DataFrame(rows)

    mds = docs.mapInPandas(build, "doc_id long, md string")
    extracted = mds.select(
        "doc_id", markdown_to_text(F.col("md")).alias("extracted")
    )
    orig = docs.select(
        "doc_id",
        F.trim(F.regexp_replace("text", r"\s+", " ")).alias("norm"),
    )
    return extracted.join(orig, "doc_id").select(
        "doc_id",
        F.length("extracted").cast("long").alias("n_chars"),
        (F.col("extracted") == F.col("norm")).alias("exact"),
    )


@_register(
    "pm1_parquet_footer_census",
    """WITH p AS (SELECT doc_id,
                        CAST(20 + doc_id % 30 AS BIGINT) AS n
                 FROM documents)
       SELECT doc_id, n AS n_rows,
              CAST(ceil(n / 8.0) AS BIGINT) AS n_row_groups,
              CAST(2 AS BIGINT) AS n_columns,
              CAST(8 AS BIGINT) AS rg0_rows,
              'id,s' AS col_names,
              'INT64,BYTE_ARRAY' AS col_types,
              doc_id AS id_min,
              doc_id + n - 1 AS id_max,
              CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
                AS n_nulls
       FROM p""",
)
def pm1_parquet_footer_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer census (sources/parquet_meta.py) — the
    catalog-crawler pass over foreign parquet dumps: per-document
    in-memory parquet files (row count, 8-row row groups, an int64 id
    column whose min/max statistics span doc_id..doc_id+n-1, a string
    column, one injected null on every third file — all
    fixture-derived) introspected through the FOOTER ONLY: geometry
    (rows / row groups / columns), physical types, and the
    row-group-statistics fold (min/max/null counts) a planner prunes
    with.  O(files) not O(bytes); the oracle replays every census
    column in closed-form SQL."""
    from torcdb_spark.sources.parquet_meta import (
        parquet_footer_census,
        write_parquet_bytes,
    )

    docs = regime.spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def parquet(did):
        n = 20 + did % 30
        ids = list(range(did, did + n))
        # one null in the id column on every third file so the
        # statistics fold has a non-zero branch to get wrong
        if did % 3 == 0:
            ids[1] = None
        s = [f"v{did}_{i}" for i in range(n)]
        return write_parquet_bytes({"id": ids, "s": s}, row_group_size=8)

    shards = docs.select(
        F.format_string("doc_%d.parquet", "doc_id").alias("path"),
        synth_udf(parquet)("doc_id").alias("content"),
    )
    census = parquet_footer_census(shards)
    return census.select(
        F.regexp_extract("path", r"doc_(\d+)\.parquet", 1)
        .cast("long")
        .alias("doc_id"),
        "n_rows",
        "n_row_groups",
        "n_columns",
        "rg0_rows",
        "col_names",
        "col_types",
        "id_min",
        "id_max",
        "n_nulls",
    )


@_register(
    "pm2_page_census",
    """WITH p AS (SELECT doc_id,
                        CAST(12 + doc_id % 20 AS BIGINT) AS n,
                        doc_id % 3 = 0 AS dict
                 FROM documents),
       g AS (SELECT p.*, CAST(r.i AS BIGINT) AS rg_idx,
                    CAST(ceil(n / 8.0) AS BIGINT) AS rgs
             FROM p, range(0, 4) AS r(i)
             WHERE r.i < CAST(ceil(n / 8.0) AS BIGINT)),
       c AS (SELECT * FROM g,
                  (VALUES ('id', 'INT64'),
                          ('s', 'BYTE_ARRAY')) AS v(col_name, pt))
       SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.parquet' AS path,
              rg_idx, col_name, pt AS physical_type,
              CASE WHEN dict THEN 'SNAPPY'
                   ELSE 'UNCOMPRESSED' END AS codec,
              CASE WHEN dict THEN 'PLAIN,RLE,RLE_DICTIONARY'
                   ELSE 'PLAIN,RLE' END AS encodings,
              CASE WHEN rg_idx < rgs - 1 THEN 8
                   ELSE n - 8 * (rgs - 1) END AS num_values,
              dict AS has_dict,
              CASE WHEN dict THEN NULL ELSE TRUE END AS size_eq,
              TRUE AS offset_ordered
       FROM c""",
)
def pm2_page_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet column-chunk / page-header census (VERDICT r12 stretch
    #7) — one level below pm1's footer geometry: per (file, row group,
    column chunk), the encoding list, codec, value count, dictionary
    presence and page-offset ordering a compaction planner or catalog
    crawler reads before scheduling work over foreign parquet.  Still
    O(files): everything comes from pyarrow's footer-resident
    ColumnChunkMetaData, no data page decode.  Fixture: per-document
    two-column parquet (8-row row groups), every third doc written
    SNAPPY + dictionary (encodings PLAIN,RLE,RLE_DICTIONARY) and the
    rest UNCOMPRESSED + plain (PLAIN,RLE, where compressed size must
    equal uncompressed — size_eq pins that relation; it is NULL under
    SNAPPY where entropy decides).  The oracle replays the row-group
    arithmetic and every census column in closed-form SQL."""
    from torcdb_spark.sources.parquet_meta import (
        parquet_page_census,
        write_parquet_bytes,
    )

    docs = regime.spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def parquet(did):
        n = 12 + did % 20
        dict_ = did % 3 == 0
        return write_parquet_bytes(
            {"id": list(range(did, did + n)),
             "s": [f"v{did}_{i}" for i in range(n)]},
            row_group_size=8,
            compression="snappy" if dict_ else "NONE",
            use_dictionary=dict_,
        )

    shards = docs.select(
        F.format_string("doc_%d.parquet", "doc_id").alias("path"),
        synth_udf(parquet)("doc_id").alias("content"),
    )
    return parquet_page_census(shards)


@_register(
    "sx1_sitemap_urls",
    """WITH p AS (SELECT doc_id, CAST(1 + doc_id % 4 AS BIGINT) AS n
                 FROM documents),
       r AS (SELECT p.doc_id, p.n, CAST(g.i AS BIGINT) AS i
             FROM p, range(0, 4) AS g(i) WHERE g.i < n)
       SELECT doc_id, i AS url_idx,
              'https://d' || CAST(doc_id AS VARCHAR) || '.example/p?q='
                || CAST(i AS VARCHAR) || '&lang=en' AS loc,
              CASE WHEN i % 2 = 0
                   THEN '2026-0' || CAST(1 + i % 9 AS VARCHAR) || '-15'
              END AS lastmod,
              CASE WHEN i % 3 = 0 THEN 'daily' END AS changefreq,
              CASE WHEN i % 2 = 1
                   THEN CAST(0.1 * (1 + i % 9) AS DOUBLE) END AS priority
       FROM r""",
)
def sx1_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing (text.sitemap_entries) — the discovery half of
    the crawl-politeness layer next to rb1's robots.txt pass:
    per-document sitemap XML (namespaced urlset, an XML comment, 1-4
    url entries whose loc needs entity decoding (&amp; in a query
    string) and whose optional lastmod/changefreq/priority fields
    appear on index-dependent subsets — all fixture-derived and built
    JVM-side with concat) parsed back by the posexplode + per-block
    regex walk.  One row per url; the oracle replays every field
    including the NULL patterns in closed-form SQL."""
    from torcdb_spark.operators.text import sitemap_entries

    docs = load_table(spark, sf_dir, "documents")
    n = F.lit(1) + F.col("doc_id") % 4
    entry = lambda i: F.concat(  # noqa: E731
        F.lit("<url><loc>https://d"),
        F.col("doc_id").cast("string"),
        F.lit(".example/p?q="),
        i.cast("string"),
        F.lit("&amp;lang=en</loc>"),
        F.when(
            i % 2 == 0,
            F.concat(F.lit("<lastmod>2026-0"),
                     (i % 9 + 1).cast("string"),
                     F.lit("-15</lastmod>")),
        ).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.lit("<changefreq>daily</changefreq>"))
        .otherwise(F.lit("")),
        F.when(
            i % 2 == 1,
            F.concat(F.lit("<priority>0."),
                     (i % 9 + 1).cast("string"),
                     F.lit("</priority>")),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    xml = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>'
              "<!-- generated nightly -->"
              '<urlset xmlns="http://www.sitemaps.org/schemas/'
              'sitemap/0.9">'),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), (n - 1).cast("long")),
                entry,
            ),
            "",
        ),
        F.lit("</urlset>"),
    )
    sitemaps = docs.select("doc_id", xml.alias("sitemap"))
    return sitemap_entries(sitemaps)


@_register(
    "p10_eml_extract",
    r"""WITH n AS (SELECT doc_id,
                        trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
                 FROM documents WHERE text IS NOT NULL),
       w AS (SELECT doc_id, norm, string_split(norm, ' ') AS ws
             FROM n)
       SELECT doc_id,
              CASE WHEN norm = '' THEN NULL
                   ELSE array_to_string(list_slice(ws, 1, 5), ' ')
              END AS subject,
              's' || CAST(doc_id AS VARCHAR) || '@example.com'
                AS from_addr,
              'list-' || CAST(doc_id % 10 AS VARCHAR) || '@example.org'
                AS to_addr,
              CAST(length(CASE WHEN norm = '' OR len(ws) <= 5 THEN ''
                   ELSE array_to_string(
                            list_slice(ws, 6, len(ws)), ' ') END)
                AS BIGINT) AS n_body_chars,
              TRUE AS body_exact
       FROM w""",
)
def p10_eml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 5322 email ingestion (text.eml_message): each document
    renders to a real message — display-name + angle-bracketed From,
    bare To, a Subject FOLDED across a continuation line (the §2.2.3
    unfolding path), an ignored X- header, CRLF line endings — whose
    subject is the document's first five words and whose body is the
    rest.  The parse must unfold the subject, prefer the bracketed
    addr-spec, and recover the body byte-exactly; every output column
    is replayed by the oracle in closed-form SQL (DuckDB list
    slicing)."""
    from torcdb_spark.operators.text import eml_message

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())  # symmetric with the oracle
        .select(
            "doc_id",
            F.trim(F.regexp_replace("text", r"\s+", " ")).alias("norm"),
        )
    )
    words = F.split(F.col("norm"), " ")
    nw = F.size(words)
    body = F.when(
        nw > 5, F.array_join(F.expr("slice(split(norm, ' '), 6, size(split(norm, ' ')) - 5)"), " ")
    ).otherwise(F.lit(""))
    # fold the subject: two words on the header line, the rest on a
    # WSP continuation line the parser must unfold back to one space
    s_words = F.slice(words, 1, 5)
    l1 = F.array_join(F.slice(s_words, 1, 2), " ")
    cont = F.when(
        F.size(s_words) > 2,
        F.array_join(F.expr(
            "slice(slice(split(norm, ' '), 1, 5), 3, 3)"), " "),
    ).otherwise(F.lit(""))
    eml = F.concat(
        F.lit("From: Sender "), F.col("doc_id").cast("string"),
        F.lit(" <s"), F.col("doc_id").cast("string"),
        F.lit("@example.com>\r\n"),
        F.lit("To: list-"), (F.col("doc_id") % 10).cast("string"),
        F.lit("@example.org\r\n"),
        F.lit("Subject: "), l1,
        F.when(cont != "", F.concat(F.lit("\r\n\t"), cont))
        .otherwise(F.lit("")),
        F.lit("\r\n"),
        F.lit("X-Mailer: synth 1.0\r\n"),
        F.lit("\r\n"),
        body,
    )
    msgs = docs.select("doc_id", "norm", eml.alias("eml"))
    parsed = eml_message(msgs)
    expected_body = docs.select(
        "doc_id",
        F.when(
            nw > 5,
            F.array_join(F.expr(
                "slice(split(norm, ' '), 6, size(split(norm, ' ')) - 5)"
            ), " "),
        ).otherwise(F.lit("")).alias("want_body"),
    )
    return parsed.join(expected_body, "doc_id").select(
        "doc_id",
        "subject",
        "from_addr",
        "to_addr",
        F.length("body").cast("long").alias("n_body_chars"),
        (F.col("body") == F.col("want_body")).alias("body_exact"),
    )


@_register(
    "rb2_robots_allow",
    """WITH p AS (
         SELECT doc_id, v.i AS path_idx, v.pth AS path, v.al AS allowed,
                v.wr AS winning_rule, v.rl AS rule_len
         FROM documents,
              (VALUES
                (0, '/pub/x', TRUE, '/pub', 4),
                (1, '/p/x', FALSE, '/p', 2),
                (2, '/pub/secret', FALSE, '/pub/secret$', 12),
                (3, '/pub/secrets', TRUE, '/pub', 4),
                (4, '/tmp/a.html', TRUE, '/tmp/*.html', 11),
                (5, NULL, FALSE, '/tmp', 4),
                (6, '/other', TRUE, NULL, 0),
                (7, '/dir/x', TRUE, '/dir', 4)
              ) AS v(i, pth, al, wr, rl))
       SELECT doc_id, CAST(path_idx AS BIGINT) AS path_idx,
              COALESCE(path,
                       '/tmp/f' || CAST(doc_id % 9 AS VARCHAR) || '.txt')
                AS path,
              allowed, winning_rule,
              CAST(rule_len AS BIGINT) AS rule_len
       FROM p""",
)
def rb2_robots_allow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 path-rule EVALUATION (text.robots_path_allowed) — the
    decision half of the politeness layer on top of rb1's parsing:
    per document, a seven-rule group exercising every matching
    subtlety (prefix specificity, the * wildcard, the $ end anchor
    that must NOT match a longer path, an allow/disallow length tie
    where allow wins, and a no-match default-allow) is evaluated
    against eight test paths (one doc-varying).  Longest-octet rule
    wins per the spec; the oracle replays every verdict, winning rule,
    and match length in closed-form SQL."""
    from torcdb_spark.operators.text import robots_path_allowed

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    RULES = (
        ("disallow", "/p"), ("allow", "/pub"),
        ("disallow", "/pub/secret$"), ("allow", "/tmp/*.html"),
        ("disallow", "/tmp"), ("allow", "/dir"), ("disallow", "/dir"),
    )
    rules = docs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(d).alias("directive"),
                         F.lit(v).alias("value"))
                for d, v in RULES
            ])
        ).alias("r"),
    ).select("doc_id", "r.directive", "r.value")
    PATHS = ["/pub/x", "/p/x", "/pub/secret", "/pub/secrets",
             "/tmp/a.html", None, "/other", "/dir/x"]
    paths = docs.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.coalesce(
                    F.lit(p),
                    F.concat(F.lit("/tmp/f"),
                             (F.col("doc_id") % 9).cast("string"),
                             F.lit(".txt")),
                )
                for p in PATHS
            ])
        ).alias("path_idx", "path"),
    ).select("doc_id", F.col("path_idx").cast("long").alias("path_idx"),
             "path")
    return robots_path_allowed(rules, paths)


@_register(
    "mime1_magic_sniff",
    """SELECT doc_id,
              list_extract(['png','jpeg','gif','pdf','zip','gzip','mp3',
                            'flac','ogg','webm','h264_annexb','avro'],
                           CAST(doc_id % 12 AS INT) + 1) AS sniffed,
              TRUE AS magic_ok
       FROM documents""",
)
def mime1_magic_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content-type detection (sources/ingest.py
    content_type_sniff) — the first gate of binary ingestion, routing
    headerless/mislabeled crawl payloads to their census or decoder:
    per document a REAL payload of one of twelve formats (generated by
    the repo's own writers — PNG/JPEG/GIF image encoders, PDF/ZIP/gzip
    via stdlib, MP3/FLAC/Ogg/WebM/H.264 stream writers, Avro OCF) is
    sniffed by a pure-JVM prefix-comparison expression; the oracle
    replays the doc→format mapping in closed-form SQL, so one wrong or
    shadowed signature (e.g. RIFF before its format tag, ID3 before
    bare MPEG sync) hash-mismatches immediately."""
    import gzip

    import numpy as np

    from torcdb_spark.operators.ebml import encode_webm_stub
    from torcdb_spark.operators.gif import encode_gif
    from torcdb_spark.operators.h264 import encode_h264_stream
    from torcdb_spark.operators.jpeg import encode_jpeg_baseline
    from torcdb_spark.operators.multimodal import (
        encode_flac_stub,
        encode_mp3_stream,
        encode_ogg_stub,
        encode_png,
    )
    from torcdb_spark.operators.pdf import encode_pdf_text
    from torcdb_spark.sources.avro import write_avro
    from torcdb_spark.sources.ingest import content_type_sniff
    from torcdb_spark.sources.warc import write_zip

    docs = regime.spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    img = (np.arange(48, dtype=np.uint8).reshape(4, 4, 3) * 5) % 256

    def make(did):
        k = did % 12
        if k == 0:
            return encode_png(img)
        if k == 1:
            return encode_jpeg_baseline(np.repeat(np.repeat(img, 2, 0), 2, 1))
        if k == 2:
            return encode_gif(img)  # RGB input, palette derived
        if k == 3:
            return encode_pdf_text([f"doc {did}"])
        if k == 4:
            return write_zip([("a.txt", f"payload {did}")])
        if k == 5:
            return gzip.compress(f"body {did}".encode())
        if k == 6:
            return encode_mp3_stream(2, 3)
        if k == 7:
            return encode_flac_stub()
        if k == 8:
            return encode_ogg_stub()
        if k == 9:
            return encode_webm_stub()
        if k == 10:
            return encode_h264_stream(64, 48)
        return write_avro(
            {"type": "record", "name": "r",
             "fields": [{"name": "x", "type": "long"}]},
            [{"x": did}],
        )

    payloads = docs.select("doc_id", synth_udf(make)("doc_id").alias("payload"))
    EXPECT = ["png", "jpeg", "gif", "pdf", "zip", "gzip", "mp3",
              "flac", "ogg", "webm", "h264_annexb", "avro"]
    want = F.element_at(
        F.array(*[F.lit(t) for t in EXPECT]),
        (F.col("doc_id") % 12 + 1).cast("int"),
    )
    return payloads.select(
        "doc_id",
        content_type_sniff(F.col("payload")).alias("sniffed"),
        (content_type_sniff(F.col("payload")) == want).alias("magic_ok"),
    )


@_register(
    "mb1_mbox_messages",
    """WITH p AS (SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS n
                 FROM documents),
       r AS (SELECT doc_id, CAST(g.i AS BIGINT) AS i
             FROM p, range(0, 4) AS g(i) WHERE g.i < n)
       SELECT doc_id, i AS msg_idx,
              'note ' || CAST(i AS VARCHAR) || ' of '
                || CAST(doc_id AS VARCHAR) AS subject,
              'u' || CAST(i AS VARCHAR) || '@example.com' AS from_addr,
              CAST(length('hello ' || CAST(doc_id AS VARCHAR)
                          || chr(13) || chr(10) || 'From the archive')
                AS BIGINT) AS n_body_chars
       FROM r""",
)
def mb1_mbox_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mbox archive ingestion (text.mbox_messages → text.eml_message)
    — the mailing-list-dump framing upstream of p10: per document an
    mbox of 2-4 messages (real ``From `` postmark lines the splitter
    must treat as metadata, and a body line quoted ``>From `` per
    mboxrd that must un-escape back to ``From ``), each split message
    parsed by the RFC 5322 pass.  One row per message; subjects,
    senders, and the un-escaped body length all oracle-replayed."""
    from torcdb_spark.operators.text import eml_message, mbox_messages

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = F.lit(2) + F.col("doc_id") % 3
    msg = lambda i: F.concat(  # noqa: E731
        F.lit("From u"), i.cast("string"),
        F.lit("@example.com Mon Aug 16 10:00:00 2026\n"),
        F.lit("From: <u"), i.cast("string"),
        F.lit("@example.com>\r\n"),
        F.lit("Subject: note "), i.cast("string"),
        F.lit(" of "), F.col("doc_id").cast("string"),
        F.lit("\r\n\r\n"),
        F.lit("hello "), F.col("doc_id").cast("string"),
        F.lit("\r\n>From the archive\n"),
    )
    mbox = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), (n - 1).cast("long")),
                msg,
            ),
            "",
        ).alias("mbox"),
    )
    split = mbox_messages(mbox).select(
        "doc_id", "msg_idx",
        # the message's trailing newline belongs to the next postmark
        # split, not the body
        F.regexp_replace("eml", r"\n$", "").alias("eml"),
    )
    parsed = eml_message(split, extra_cols=("msg_idx",))
    return parsed.select(
        "doc_id",
        "msg_idx",
        "subject",
        "from_addr",
        F.length("body").cast("long").alias("n_body_chars"),
    )


@_register(
    "u2_url_canonicalize",
    """WITH p AS (SELECT doc_id,
                        CAST(doc_id % 5 AS VARCHAR) AS h,
                        CAST(doc_id % 7 AS VARCHAR) AS b
                 FROM documents)
       SELECT doc_id, CAST(0 AS BIGINT) AS variant,
              'http://ex' || h || '.com/Path/p' || CAST(doc_id AS VARCHAR)
                || '?a=1&b=' || b AS canonical
       FROM p
       UNION ALL
       SELECT doc_id, 1, 'https://w' || h || '.example/' FROM p
       UNION ALL
       SELECT doc_id, 2, 'http://site.org/' FROM p""",
)
def u2_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (text.canonicalize_url) — the crawl-dedup
    primitive merging the spellings one page arrives under: per
    document three messy variants (uppercase scheme/host with an
    explicit default port, tracking parameters interleaved with real
    ones out of order, a fragment, a missing path, a query that
    becomes empty after tracking-param removal) must each normalize to
    the oracle's closed-form canonical string — scheme/host lowercase,
    :80/:443 dropped, fragment dropped, utm_*/fbclid/ref dropped,
    surviving params sorted, empty query unmarked, bare host gaining
    its '/'."""
    from torcdb_spark.operators.text import canonicalize_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = (F.col("doc_id") % 5).cast("string")
    b = (F.col("doc_id") % 7).cast("string")
    messy = F.array(
        F.concat(F.lit("HTTP://Ex"), h, F.lit(".COM:80/Path/p"),
                 F.col("doc_id").cast("string"),
                 F.lit("?utm_source=x&b="), b,
                 F.lit("&a=1&fbclid=zz#frag")),
        F.concat(F.lit("https://W"), h, F.lit(".example:443/")),
        F.lit("http://Site.ORG?ref=abc"),
    )
    urls = docs.select(
        "doc_id",
        F.posexplode(messy).alias("variant", "url"),
    )
    return urls.select(
        "doc_id",
        F.col("variant").cast("long").alias("variant"),
        canonicalize_url(F.col("url")).alias("canonical"),
    )


@_register(
    "ht1_html_tables",
    """WITH p AS (SELECT doc_id,
                        CAST(1 + doc_id % 2 AS BIGINT) AS nt,
                        CAST(2 + doc_id % 3 AS BIGINT) AS nr
                 FROM documents),
       t AS (SELECT doc_id, nr, CAST(g.i AS BIGINT) AS ti
             FROM p, range(0, 2) AS g(i) WHERE g.i < nt),
       r AS (SELECT doc_id, ti, CAST(g.i AS BIGINT) AS ri
             FROM t, range(0, 5) AS g(i) WHERE g.i <= nr),
       c AS (SELECT doc_id, ti, ri, CAST(g.i AS BIGINT) AS ci
             FROM r, range(0, 2) AS g(i))
       SELECT doc_id, ti AS table_idx, ri AS row_idx, ci AS col_idx,
              CASE WHEN ri = 0 AND ci = 0 THEN 'item & co'
                   WHEN ri = 0 THEN 'value'
                   WHEN ci = 0 THEN 'k' || CAST(doc_id AS VARCHAR)
                        || '_' || CAST(ti AS VARCHAR)
                        || '_' || CAST(ri AS VARCHAR)
                   ELSE CAST(doc_id * ri + ti AS VARCHAR) END AS cell,
              ri = 0 AS is_header
       FROM c""",
)
def ht1_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table mining (text.html_tables) — the structured-data half
    of crawl extraction: per document a page with 1-2 tables (a
    <th> header row whose first cell needs entity decoding, 2-4 data
    rows whose key cells carry inner <b> markup that must strip,
    cellpadding/class attributes on the tags, surrounding prose the
    table filter must ignore) mined into one row per cell by two
    nested posexplodes.  Every cell, position, and header flag is
    replayed by the oracle in closed-form SQL."""
    from torcdb_spark.operators.text import html_tables

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    nt = F.lit(1) + F.col("doc_id") % 2
    nr = F.lit(2) + F.col("doc_id") % 3
    data_row = lambda ti, ri: F.concat(  # noqa: E731
        F.lit('<tr class="d"><td><b>k'),
        F.col("doc_id").cast("string"),
        F.lit("_"), ti.cast("string"), F.lit("_"), ri.cast("string"),
        F.lit("</b></td><td align=\"right\">"),
        (F.col("doc_id") * ri + ti).cast("string"),
        F.lit("</td></tr>"),
    )
    table = lambda ti: F.concat(  # noqa: E731
        F.lit('<table cellpadding="2"><tr><th>item &amp; co</th>'
              "<th>value</th></tr>"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1).cast("long"), nr.cast("long")),
                lambda ri: data_row(ti, ri),
            ),
            "",
        ),
        F.lit("</table>"),
    )
    html = F.concat(
        F.lit("<html><body><p>prose before</p>"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), (nt - 1).cast("long")),
                table,
            ),
            "<p>between</p>",
        ),
        F.lit("<p>after</p></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    return html_tables(pages)


@_register(
    "fw1_fixed_width_parse",
    """SELECT doc_id,
              doc_id * 10 AS rec_id,
              'ACCT' || CAST(doc_id % 97 AS VARCHAR) AS name,
              CAST(doc_id % 100000 AS DOUBLE) / 100 AS amount,
              '2026' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')
                || '15' AS posted,
              CASE WHEN doc_id % 2 = 0 THEN 'Y' ELSE 'N' END AS flag
       FROM documents""",
)
def fw1_fixed_width_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width record parsing (sources/ingest.py parse_fixed_width)
    — the COBOL-extract format enterprise lakes still receive in
    volume: per document one 35-byte record (zero-padded numeric
    fields, a right-padded name, an implied-two-decimal amount per the
    COMP-3-export convention, a YYYYMMDD date, a flag byte) built
    JVM-side with lpad/rpad and parsed back by pure substring slices.
    Every parsed column is replayed by the oracle in closed-form
    SQL."""
    from torcdb_spark.sources.ingest import parse_fixed_width

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    line = F.concat(
        F.lpad((F.col("doc_id") * 10).cast("string"), 8, "0"),
        F.rpad(F.concat(F.lit("ACCT"),
                        (F.col("doc_id") % 97).cast("string")), 10, " "),
        F.lpad((F.col("doc_id") % 100000).cast("string"), 8, "0"),
        F.concat(F.lit("2026"),
                 F.lpad((F.lit(1) + F.col("doc_id") % 12).cast("string"),
                        2, "0"),
                 F.lit("15")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("Y")).otherwise(F.lit("N")),
    )
    recs = docs.select("doc_id", line.alias("line"))
    return parse_fixed_width(recs, [
        ("rec_id", 1, 8, "long"),
        ("name", 9, 10, "str"),
        ("amount", 19, 8, "dec2"),
        ("posted", 27, 8, "str"),
        ("flag", 35, 1, "str"),
    ])


@_register(
    "cl3_access_log_parse",
    """SELECT doc_id,
              '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                || CAST(doc_id % 100 AS VARCHAR) AS host,
              CASE WHEN doc_id % 4 = 0
                   THEN 'u' || CAST(doc_id % 50 AS VARCHAR) END AS user,
              '16/Aug/2026:10:' || lpad(CAST(doc_id % 60 AS VARCHAR),
                                        2, '0') || ':00 +0000' AS ts,
              CASE WHEN doc_id % 3 = 0 THEN 'POST' ELSE 'GET' END
                AS method,
              '/api/v1/r' || CAST(doc_id AS VARCHAR) AS path,
              'HTTP/1.1' AS protocol,
              CAST(CASE WHEN doc_id % 7 = 0 THEN 304
                        WHEN doc_id % 11 = 0 THEN 404
                        ELSE 200 END AS BIGINT) AS status,
              CAST(CASE WHEN doc_id % 7 = 0 THEN 0
                        ELSE 512 + doc_id % 4096 END AS BIGINT) AS bytes,
              CASE WHEN doc_id % 2 = 0
                   THEN 'https://ref.example/p'
                        || CAST(doc_id % 9 AS VARCHAR) END AS referer,
              'curl/8.' || CAST(doc_id % 5 AS VARCHAR) AS user_agent
       FROM documents""",
)
def cl3_access_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NCSA Combined Log Format parsing (text.access_log_fields) — the
    web-server access log every traffic/abuse analysis starts from:
    per document one combined-format line ('-' ident, optional
    authuser, bracketed timestamp, quoted request split into
    method/path/protocol, a 304's '-' byte count folding to 0,
    optional referer) built JVM-side and parsed back by the anchored
    regex struct.  Every field including the NULL patterns is replayed
    by the oracle in closed-form SQL."""
    from torcdb_spark.operators.text import access_log_fields

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    status = (F.when(d % 7 == 0, F.lit(304))
              .when(d % 11 == 0, F.lit(404)).otherwise(F.lit(200)))
    nbytes = F.when(d % 7 == 0, F.lit("-")).otherwise(
        (F.lit(512) + d % 4096).cast("string"))
    line = F.concat(
        F.lit("10.0."), (d % 256).cast("string"), F.lit("."),
        (d % 100).cast("string"),
        F.lit(" - "),
        F.when(d % 4 == 0,
               F.concat(F.lit("u"), (d % 50).cast("string")))
        .otherwise(F.lit("-")),
        F.lit(" [16/Aug/2026:10:"),
        F.lpad((d % 60).cast("string"), 2, "0"),
        F.lit(':00 +0000] "'),
        F.when(d % 3 == 0, F.lit("POST")).otherwise(F.lit("GET")),
        F.lit(" /api/v1/r"), d.cast("string"),
        F.lit(' HTTP/1.1" '),
        status.cast("string"), F.lit(" "), nbytes,
        F.lit(' "'),
        F.when(d % 2 == 0,
               F.concat(F.lit("https://ref.example/p"),
                        (d % 9).cast("string")))
        .otherwise(F.lit("-")),
        F.lit('" "curl/8.'), (d % 5).cast("string"), F.lit('"'),
    )
    logs = docs.select("doc_id", line.alias("line"))
    f = access_log_fields(F.col("line"))
    return logs.select(
        "doc_id",
        f["host"].alias("host"),
        f["user"].alias("user"),
        f["ts"].alias("ts"),
        f["method"].alias("method"),
        f["path"].alias("path"),
        f["protocol"].alias("protocol"),
        f["status"].alias("status"),
        f["bytes"].alias("bytes"),
        f["referer"].alias("referer"),
        f["user_agent"].alias("user_agent"),
    )
