"""Property-graph data model as a pair of DataFrames.

The reference stores a property graph in RAMCloud KV blobs: per-vertex label
object + property-map object (TorcGraph.java:242-313), and segmented per-
(vertex, edgeLabel, direction, neighborLabel) adjacency lists
(TorcEdgeList.java:42-112). The Spark-native layout is columnar instead:

- ``vertices(id BINARY(16), label STRING, props MAP<STRING,STRING>)``
- ``edges(src BINARY(16), src_label STRING, dst BINARY(16),
  dst_label STRING, label STRING, props MAP<STRING,STRING>)``

Carrying ``src_label``/``dst_label`` as columns replicates the reference's
key-space narrowing by neighbor label (TorcHelper.java:352-370 — the label is
part of the edge-list key; TorcGraphProviderOptimizationStrategy.java:67-103
pushes label predicates into the fetch). In Spark those columns become plain
pushed-down predicates on the edge scan, and at scale the edges dataset is
written partitioned by ``(label, dst_label)`` so the same narrowing becomes
partition pruning.

Reference invariants enforced on construction (TorcGraph.java:74-81):
- at most one edge per (src, dst, label);
- edges are conceptually bidirectional: stored once in their FK direction,
  queried in both (Direction.BOTH = union of the two orientations — the
  reference instead double-stores, TorcGraph.java:1242-1275; single-store +
  union keeps storage at 1× and lets Catalyst prune unreferenced directions).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from torcdb_spark.ids import id_col
from torcdb_spark.sources.tables import load_table


class Cardinality(enum.Enum):
    """TinkerPop VertexProperty.Cardinality as honored by the reference's
    setProperty (TorcGraph.java:1468-1526) and addVertex's repeated-key
    promotion (TorcGraph.java:264-283)."""

    SINGLE = "single"
    LIST = "list"
    SET = "set"

VERTEX_SCHEMA = T.StructType(
    [
        T.StructField("id", T.BinaryType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.BinaryType(), False),
        T.StructField("src_label", T.StringType(), False),
        T.StructField("dst", T.BinaryType(), False),
        T.StructField("dst_label", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Per-label tag packed into the upper long of every vertex id so ids are
# globally unique across labels (FIXTURES.md §4).
LABEL_TAGS = {
    "region": 1,
    "nation": 2,
    "customer": 3,
    "supplier": 4,
    "part": 5,
    "order": 6,
    "lineitem": 7,
    "user": 8,
    "document": 9,
}


# Opened-graph handles, keyed by (Spark application, data dir). The reference
# keeps one TorcGraph handle per (coordinator, graphName) and reuses it across
# queries (TorcGraph.open caching via config, TorcGraph.java:200-234); the
# Spark analogue is one persisted vertices/edges pair per dataset.
_OPEN_GRAPHS: dict[tuple[str, str], "PropertyGraph"] = {}


# Bump when from_tables' derivation changes — it keys the on-disk cache.
_GRAPH_LAYOUT_VERSION = "v1"


def _materialized_graph_dir(spark: SparkSession, sf_dir: str) -> str:
    """Return a directory holding the materialized graph parquet, building
    it if absent.

    The cache is keyed by (layout version, source dir) and shared across
    sessions — the driver's bench and correctness runs each start a fresh
    JVM against the same immutable fixtures, so rebuilding the identical
    graph per session is pure waste. Concurrent builders race safely: each
    writes to a pid-unique temp dir and atomically renames into place;
    the loser of the rename just uses the winner's copy.
    """
    import os
    import re
    import tempfile

    slug = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir).strip("_")
    base = os.path.join(
        tempfile.gettempdir(), "torcdb_graph_cache",
        f"{_GRAPH_LAYOUT_VERSION}_{slug}",
    )
    if (os.path.exists(f"{base}/vertices/_SUCCESS")
            and os.path.exists(f"{base}/edges/_SUCCESS")):
        return base
    tmp = f"{base}.build.{os.getpid()}"
    lineitem = _keyed_lineitem(spark, sf_dir).persist()
    raw = PropertyGraph.from_tables(spark, sf_dir, _lineitem=lineitem)
    raw.vertices.write.partitionBy("label").parquet(f"{tmp}/vertices")
    raw.edges.write.partitionBy("label").parquet(f"{tmp}/edges")
    lineitem.unpersist()
    try:
        os.makedirs(os.path.dirname(base), exist_ok=True)
        os.rename(tmp, base)
    except OSError:
        # another session won the race — its copy is complete (rename is
        # atomic); discard ours
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return base


def _keyed_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem with a synthesized surrogate key.

    lineitem has no unique natural key in the fixtures (duplicate
    (l_orderkey, l_linenumber) pairs exist) — synthesize one as row_number
    within each order (a per-key window: shuffles by l_orderkey only, so it
    scales; never a global window).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice"
    )
    return load_table(spark, sf_dir, "lineitem").withColumn(
        "l_linekey",
        F.col("l_orderkey") * 65536 + F.row_number().over(w),
    )


@dataclass(frozen=True)
class PropertyGraph:
    """An immutable property-graph view over two DataFrames."""

    vertices: DataFrame
    edges: DataFrame

    # -- construction -------------------------------------------------------

    @staticmethod
    def open(spark: SparkSession, sf_dir: str) -> "PropertyGraph":
        """Open (or reuse) the property-graph view for a dataset.

        The first open materializes the FK→edge derivation ONCE by writing
        both DataFrames to session-local parquet, directory-partitioned by
        ``label``; every subsequent query scans that columnar store. This is
        the query-side analogue of the reference's bulk image load
        (TorcGraph.java:756-820): build once, query many times.

        Parquet beats ``.persist()`` here on both ends (measured at sf0.1:
        materialize 10s vs 18s, full-width read 0.6s vs 2.7s) — the
        in-memory columnar cache is expensive to build and slow to scan for
        MAP-typed props, while parquet gets vectorized reads, column
        pruning, min/max skipping, AND label partition-pruning: a query
        touching only ``placed`` edges never opens any other label's files —
        the same key-space narrowing the reference gets from label-keyed
        edge lists (TorcHelper.java:352-370). At 100 TB this is exactly the
        production layout (one materialization job, then shared scans).
        """
        key = (spark.sparkContext.applicationId, sf_dir)
        g = _OPEN_GRAPHS.get(key)
        if g is None:
            out = _materialized_graph_dir(spark, sf_dir)
            g = PropertyGraph(
                vertices=spark.read.schema(VERTEX_SCHEMA)
                .parquet(f"{out}/vertices").select(*VERTEX_SCHEMA.names),
                edges=spark.read.schema(EDGE_SCHEMA)
                .parquet(f"{out}/edges").select(*EDGE_SCHEMA.names),
            )
            _OPEN_GRAPHS[key] = g
        return g

    @staticmethod
    def from_tables(
        spark: SparkSession, sf_dir: str, dedup_edges: bool = False,
        _lineitem: DataFrame | None = None,
    ) -> "PropertyGraph":
        """Build the FIXTURES.md §4 graph from the relational fixtures.

        Every base-table row becomes a vertex; every foreign key becomes a
        directed edge. This is the Spark analogue of the reference's bulk
        image load (TorcGraph.java:756-820) — one declarative plan instead of
        a byte-level prepend simulation.

        FK-derived edges are unique per (src, dst, label) by construction
        (each base row contributes exactly one edge per label), so the
        invariant-enforcing dropDuplicates — a full shuffle of the edge set
        — is skipped unless ``dedup_edges`` is set. Ingest paths that can
        see true duplicates (``add_edges``) always enforce it; tests assert
        the invariant holds on the built graph.
        """
        t = {n: load_table(spark, sf_dir, n) for n in
             ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents")}

        def v(df: DataFrame, label: str, key: str, prop_cols: list[str]) -> DataFrame:
            props = F.map_from_arrays(
                F.array(*[F.lit(c) for c in prop_cols]),
                F.array(*[F.col(c).cast("string") for c in prop_cols]),
            )
            return df.select(
                id_col(LABEL_TAGS[label], F.col(key)).alias("id"),
                F.lit(label).alias("label"),
                props.alias("props"),
            )

        # the keyed lineitem feeds FOUR union branches (1 vertex + 3 edge
        # labels); ``open`` passes a persisted one in so the surrogate-key
        # window shuffle runs once across all branches.
        lineitem = (
            _lineitem if _lineitem is not None
            else _keyed_lineitem(spark, sf_dir)
        )
        users = t["events"].select(F.col("user_id")).distinct()

        vertices = (
            v(t["region"], "region", "r_regionkey", ["r_name"])
            .unionByName(v(t["nation"], "nation", "n_nationkey", ["n_name"]))
            .unionByName(v(t["customer"], "customer", "c_custkey",
                           ["c_name", "c_acctbal", "c_mktsegment"]))
            .unionByName(v(t["supplier"], "supplier", "s_suppkey",
                           ["s_name", "s_acctbal"]))
            .unionByName(v(t["part"], "part", "p_partkey",
                           ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"]))
            .unionByName(v(t["orders"], "order", "o_orderkey",
                           ["o_orderstatus", "o_totalprice", "o_orderdate",
                            "o_orderpriority"]))
            .unionByName(v(lineitem, "lineitem", "l_linekey",
                           ["l_quantity", "l_extendedprice", "l_returnflag"]))
            .unionByName(v(users, "user", "user_id", []))
            .unionByName(v(t["documents"], "document", "doc_id",
                           ["lang", "source", "n_chars"]))
        )

        def e(df: DataFrame, label: str, src_label: str, src_key: str,
              dst_label: str, dst_key: str, prop_cols: dict[str, str]) -> DataFrame:
            props = F.map_from_arrays(
                F.array(*[F.lit(k) for k in prop_cols]),
                F.array(*[F.col(c).cast("string") for c in prop_cols.values()]),
            )
            return df.select(
                id_col(LABEL_TAGS[src_label], F.col(src_key)).alias("src"),
                F.lit(src_label).alias("src_label"),
                id_col(LABEL_TAGS[dst_label], F.col(dst_key)).alias("dst"),
                F.lit(dst_label).alias("dst_label"),
                F.lit(label).alias("label"),
                props.alias("props"),
            )

        edges = (
            e(t["nation"], "inRegion", "nation", "n_nationkey",
              "region", "n_regionkey", {})
            .unionByName(e(t["customer"], "fromNation", "customer", "c_custkey",
                           "nation", "c_nationkey", {}))
            .unionByName(e(t["supplier"], "suppFromNation", "supplier", "s_suppkey",
                           "nation", "s_nationkey", {}))
            .unionByName(e(t["orders"], "placed", "customer", "o_custkey",
                           "order", "o_orderkey",
                           {"orderdate": "o_orderdate", "totalprice": "o_totalprice"}))
            .unionByName(e(lineitem, "contains", "order", "l_orderkey",
                           "lineitem", "l_linekey",
                           {"linenumber": "l_linenumber"}))
            .unionByName(e(lineitem, "ofPart", "lineitem", "l_linekey",
                           "part", "l_partkey",
                           {"quantity": "l_quantity",
                            "extendedprice": "l_extendedprice"}))
            .unionByName(e(lineitem, "suppliedBy", "lineitem", "l_linekey",
                           "supplier", "l_suppkey",
                           {"discount": "l_discount"}))
        )
        if dedup_edges:
            # one-edge-per-(src,dst,label) invariant (TorcGraph.java:74-78)
            edges = edges.dropDuplicates(["src", "dst", "label"])
        return PropertyGraph(vertices=vertices, edges=edges)

    # -- element API (reference §2.1) --------------------------------------

    def both_edges(self, labels: tuple[str, ...]) -> DataFrame:
        """The deduped bidirectional orientation of the edges carrying
        ``labels``: columns ``(near, far)``, one row per traversable
        (vertex, neighbor) pair (TorcGraph.java:538-571's per-call dedup
        map, computed once for the whole relation).

        Built lazily and persisted per (graph, label-set): a BOTH hop's
        union+dedup costs a shuffle of the edge set, and a multi-hop
        traversal (or a bench re-run) would otherwise pay it once per hop —
        Spark does not canonicalize the duplicated subtrees to one
        exchange. On a cluster the same reuse is a bucketed materialized
        table; ``persist`` (memory-and-disk) is the local analogue and
        spills rather than OOMs at scale.
        """
        cache = self.__dict__.setdefault("_both_cache", {})
        key = tuple(sorted(labels))
        df = cache.get(key)
        if df is None:
            e = self.edges.where(F.col("label").isin(list(labels)))
            fwd = e.select(F.col("src").alias("near"), F.col("dst").alias("far"))
            rev = e.select(F.col("dst").alias("near"), F.col("src").alias("far"))
            df = (
                fwd.unionByName(rev)
                .dropDuplicates(["near", "far"])
                .persist()
            )
            cache[key] = df
        return df

    def vertices_by_id(self, ids: list[bytes], label: str | None = None) -> DataFrame:
        """Point lookups (TorcGraph.vertices, TorcGraph.java:327-373).

        The reference refuses full scans (:369); Spark supports both — with
        no ids this returns the full vertex set. Passing ``label`` lets
        Catalyst prune every other label's union branch (the analogue of
        the reference's label-keyed lookup, TorcHelper.java:315-322).
        """
        v = self.vertices
        if label is not None:
            v = v.where(F.col("label") == label)
        if not ids:
            return v
        return v.where(F.col("id").isin([bytes(i) for i in ids]))

    def edges_by_key(self, keys, label: str | None = None) -> DataFrame:
        """Edge point lookup by (src, dst, label) key — TorcGraph.edges
        (TorcGraph.java:376-402), which refuses scans and fetches exactly
        the keyed edge blobs.

        ``keys`` is either a list of ``(src_bytes, dst_bytes, label)``
        triples (literal point lookups — becomes an OR-of-conjunctions
        predicate pushed into the edge scan) or a DataFrame with columns
        ``(src, dst, label)`` (bulk lookup — a broadcast semi-side join,
        the set-at-a-time form the reference's multiread batching serves).
        """
        e = self.edges
        if label is not None:
            e = e.where(F.col("label") == label)
        if isinstance(keys, DataFrame):
            k = keys.select("src", "dst", "label").dropDuplicates()
            return e.join(F.broadcast(k), ["src", "dst", "label"], "inner")
        if not keys:
            raise ValueError(
                "edges_by_key requires keys; the reference refuses edge "
                "scans (TorcGraph.java:400)"
            )
        if len(keys) <= 16:
            # few literals: an OR-of-conjunctions predicate pushes into the
            # parquet scan (min/max + dictionary skipping on src/dst)
            cond = None
            for s, d, lbl in keys:
                c = (
                    (F.col("src") == bytes(s))
                    & (F.col("dst") == bytes(d))
                    & (F.col("label") == lbl)
                )
                cond = c if cond is None else (cond | c)
            return e.where(cond)
        # many literals: a giant OR tree bloats the optimizer and the
        # codegen'd filter (measured 1.5 s for 100 keys vs 0.3 s as a
        # join); route through the bulk DataFrame path instead — the same
        # broadcast hash join the reference's multiread batching maps to
        spark = e.sparkSession
        k = spark.createDataFrame(
            [(bytes(s), bytes(d), lbl) for s, d, lbl in keys],
            "src binary, dst binary, label string",
        ).dropDuplicates()
        return e.join(F.broadcast(k), ["src", "dst", "label"], "inner")

    def set_vertex_property(
        self,
        updates: DataFrame,
        key: str,
        cardinality: Cardinality = Cardinality.SINGLE,
    ) -> "PropertyGraph":
        """Batch setProperty with cardinality semantics
        (TorcGraph.java:1468-1526; LIST promotion of a pre-existing scalar
        mirrors addVertex's repeated-key handling, TorcGraph.java:264-283).

        ``updates`` has columns ``(id, value)``; value may be any of the
        five reference types (int/long/string, array, map — serialized
        through the tagged serde codec, TorcHelper.java:92-215). Multiple
        rows per id are folded in sorted-value order (a batch API has no
        call order; sorting makes the fold deterministic).

        Plan shape: one groupBy of the updates (small side), one left join
        against the vertex set, and the serde merge as an Arrow-batched UDF
        evaluated only on matched rows — the vertex scan itself stays
        JVM-side.
        """
        return PropertyGraph(
            vertices=_merge_props(self.vertices, updates, ["id"], key,
                                  cardinality),
            edges=self.edges,
        )

    def set_edge_property(
        self,
        updates: DataFrame,
        key: str,
        cardinality: Cardinality = Cardinality.SINGLE,
    ) -> "PropertyGraph":
        """Batch edge-property setProperty — the edge-side counterpart of
        :meth:`set_vertex_property` (the reference stores edge props as one
        serialized map per edge and overwrites the blob on write,
        TorcGraph.java:1202-1279, getEdgeProperties :1581-1601).

        ``updates`` has columns ``(src, dst, label, value)``; merge
        semantics and serde are identical to the vertex form. One groupBy
        of the updates and one left join against the edge set on the full
        edge key."""
        return PropertyGraph(
            vertices=self.vertices,
            edges=_merge_props(self.edges, updates, ["src", "dst", "label"],
                               key, cardinality),
        )

    def add_vertices(self, new: DataFrame) -> "PropertyGraph":
        """Batch addVertex (TorcGraph.java:242-313) as an append."""
        return PropertyGraph(
            vertices=self.vertices.unionByName(new.select(*VERTEX_SCHEMA.names)),
            edges=self.edges,
        )

    def add_edges(self, new: DataFrame) -> "PropertyGraph":
        """Batch addEdge (TorcGraph.java:1202-1279): append, keeping the
        one-edge-per-(src,dst,label) invariant — latest write wins, like the
        reference's overwrite of the edge property blob."""
        merged = (
            new.select(*EDGE_SCHEMA.names)
            .unionByName(self.edges)
            .dropDuplicates(["src", "dst", "label"])
        )
        return PropertyGraph(vertices=self.vertices, edges=merged)

    def delete_edges(self, edge_pred) -> "PropertyGraph":
        """Batch edge removal (Edge.remove / TorcGraph removeEdge,
        TorcGraph.java:1054-1113): drop every edge matching ``edge_pred``
        (a Column predicate over the edge frame); vertices are untouched
        — unlike :meth:`edge_induced_subgraph`, which keeps only incident
        vertices (TinkerPop SubgraphStep semantics). A pure filter on the
        edge scan: the predicate pushes into the parquet read, no shuffle,
        no vertex-side work."""
        return PropertyGraph(
            vertices=self.vertices, edges=self.edges.where(~edge_pred)
        )

    def edge_induced_subgraph(self, edge_pred) -> "PropertyGraph":
        """TinkerPop ``subgraph()`` semantics (SubgraphStep: the subgraph
        is the set of TRAVERSED edges plus their incident vertices): keep
        edges passing ``edge_pred`` (Column predicate over the edge frame),
        then the vertices they touch. Two left-semi joins — no payload
        duplication, and the vertex filter pushes into the label-partitioned
        scan when the predicate narrows labels."""
        e = self.edges.where(edge_pred)
        touched = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .dropDuplicates(["id"])
        )
        v = self.vertices.join(touched, "id", "left_semi")
        return PropertyGraph(vertices=v, edges=e)

    def vertex_induced_subgraph(self, vertex_pred) -> "PropertyGraph":
        """Vertex-induced subgraph: vertices passing ``vertex_pred`` plus
        every edge whose BOTH endpoints survive (the closure property that
        keeps the result a well-formed graph). Edge filtering is two
        left-semi joins against the surviving id set."""
        v = self.vertices.where(vertex_pred)
        ids = v.select("id")
        e = (
            self.edges.join(
                ids.withColumnRenamed("id", "src"), "src", "left_semi"
            ).join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
        ).select(*EDGE_SCHEMA.names)
        return PropertyGraph(vertices=v, edges=e)

    def degrees(self, direction: str = "OUT", vertex_label: str | None = None) -> DataFrame:
        """Per-vertex degree — a groupBy with map-side partial aggregation.

        ``vertex_label`` restricts to vertices of one label BEFORE the
        aggregate (filter on src_label/dst_label) so unrelated edge-union
        branches constant-fold away instead of being scanned."""
        e = self.edges
        if direction == "OUT":
            key, lbl = "src", "src_label"
        elif direction == "IN":
            key, lbl = "dst", "dst_label"
        else:
            if vertex_label is not None:
                e_out = e.where(F.col("src_label") == vertex_label)
                e_in = e.where(F.col("dst_label") == vertex_label)
            else:
                e_out, e_in = e, e
            both = e_out.select(F.col("src").alias("v")).unionAll(
                e_in.select(F.col("dst").alias("v"))
            )
            return both.groupBy("v").agg(F.count("*").alias("degree"))
        if vertex_label is not None:
            e = e.where(F.col(lbl) == vertex_label)
        return e.groupBy(F.col(key).alias("v")).agg(
            F.count("*").alias("degree")
        )


def _merge_props(
    items: DataFrame,
    updates: DataFrame,
    keys: list[str],
    key: str,
    cardinality: Cardinality,
) -> DataFrame:
    """``items`` (vertices or edges) with property ``key`` of every row
    that ``updates`` (``keys`` + ``value``) matches merged under
    ``cardinality``: one groupBy of the updates, one left join on
    ``keys``, and the serde merge evaluated only on matched rows."""
    from torcdb_spark import serde

    vals = F.collect_list("value")
    if not dict(updates.dtypes)["value"].startswith("map"):
        # maps aren't orderable in Spark — map-valued batches keep
        # arrival order (callers should supply one map per id)
        vals = F.sort_array(vals)
    upd = (
        updates.select(*keys, "value")
        .groupBy(*keys)
        .agg(vals.alias("_new_vals"))
    )
    merged = serde.merge_prop_col(
        F.col("props").getItem(key), F.col("_new_vals"), cardinality.value
    )
    new_props = F.when(
        F.col("_new_vals").isNull(), F.col("props")
    ).otherwise(
        F.map_concat(
            F.map_filter(
                F.coalesce(
                    F.col("props"),
                    F.create_map().cast("map<string,string>"),
                ),
                lambda k, _: k != F.lit(key),
            ),
            F.create_map(F.lit(key), merged),
        )
    )
    return items.join(upd, keys, "left").select(
        *[new_props.alias(c) if c == "props" else c for c in items.columns]
    )
