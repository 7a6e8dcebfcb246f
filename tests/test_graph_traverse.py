"""Graph construction + traverse/algebra operator tests, asserted against
DuckDB on the same parquet fixtures (the reference's golden-validation idea,
SURVEY §5, adapted: DuckDB plays the role of the LDBC validation params)."""

import duckdb
import pyspark.sql.functions as F
import pytest

from torcdb_spark import algebra
from torcdb_spark.graph import LABEL_TAGS, PropertyGraph
from torcdb_spark.ids import uint128_pair
from torcdb_spark.traverse import (
    Direction,
    fill_properties,
    khop,
    remove_edge_if,
    traverse,
    v_map,
    v_set,
)


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def test_vertex_counts_match_tables(graph, ddb):
    got = {
        r["label"]: r["cnt"]
        for r in graph.vertices.groupBy("label").agg(F.count("*").alias("cnt")).collect()
    }
    exp = {
        "region": ddb.sql("select count(*) from region").fetchone()[0],
        "nation": ddb.sql("select count(*) from nation").fetchone()[0],
        "customer": ddb.sql("select count(*) from customer").fetchone()[0],
        "supplier": ddb.sql("select count(*) from supplier").fetchone()[0],
        "part": ddb.sql("select count(*) from part").fetchone()[0],
        "order": ddb.sql("select count(*) from orders").fetchone()[0],
        "lineitem": ddb.sql("select count(*) from lineitem").fetchone()[0],
        "user": ddb.sql("select count(distinct user_id) from events").fetchone()[0],
        "document": ddb.sql("select count(*) from documents").fetchone()[0],
    }
    assert got == exp


def test_one_edge_per_src_dst_label(graph):
    dupes = (
        graph.edges.groupBy("src", "dst", "label")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .count()
    )
    assert dupes == 0


def test_traverse_out_matches_fk(graph, spark, ddb):
    """customer --placed--> order for 10 customers == FK join in DuckDB."""
    custkeys = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    frontier = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], k),) for k in custkeys], ["id"]
    )
    tr = traverse(frontier, graph.edges, "placed", Direction.OUT,
                  neighbor_labels=["order"])
    got = tr.count()
    exp = ddb.sql(
        "select count(*) from orders where o_custkey between 1 and 10"
    ).fetchone()[0]
    assert got == exp


def test_traverse_in_is_reverse(graph, spark, ddb):
    """order --placed(IN)--> customer: every order has exactly 1 customer."""
    okeys = [r[0] for r in ddb.sql("select o_orderkey from orders limit 20").fetchall()]
    frontier = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["order"], k),) for k in okeys], ["id"]
    )
    tr = traverse(frontier, graph.edges, "placed", Direction.IN,
                  neighbor_labels=["customer"])
    assert tr.count() == len(okeys)
    assert v_set(tr).count() <= len(okeys)


def test_traverse_both_unions_directions(graph, spark):
    frontier = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["nation"], 1),)], ["id"]
    )
    out_n = traverse(frontier, graph.edges, "inRegion", Direction.OUT).count()
    in_n = traverse(frontier, graph.edges, "fromNation", Direction.IN).count()
    both_in_region = traverse(frontier, graph.edges, "inRegion", Direction.BOTH).count()
    assert out_n == 1  # nation -> its region
    assert both_in_region == out_n  # no region->nation edges stored
    assert in_n > 0  # customers from nation 1


@pytest.mark.parametrize("broadcast_frontier", [True, False])
@pytest.mark.parametrize("fill_edge", [False, True])
@pytest.mark.parametrize("direction", list(Direction))
def test_traverse_repeated_frontier_ids(graph, spark, direction, fill_edge,
                                        broadcast_frontier):
    """A frontier that repeats every id 3x expands to exactly the rows of
    its deduped form: the hop's join emits each edge once per call, as the
    reference's per-call dedup map does (TorcGraph.java:538-571)."""
    ids = [uint128_pair(LABEL_TAGS["customer"], k) for k in range(1, 11)]
    ids += [uint128_pair(LABEL_TAGS["nation"], k) for k in range(3)]

    def rows(frontier_ids):
        frontier = spark.createDataFrame([(i,) for i in frontier_ids], ["id"])
        tr = traverse(frontier, graph.edges, "fromNation", direction,
                      fill_edge=fill_edge,
                      broadcast_frontier=broadcast_frontier)
        return sorted(
            (bytes(r["src"]), bytes(r["dst"]),
             tuple(sorted(r["props"].items())) if fill_edge else None)
            for r in tr.collect()
        )

    once = rows(ids)
    assert once
    assert len(set(once)) == len(once)
    assert rows(ids * 3) == once


def test_fill_properties_and_projection(graph, spark):
    frontier = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], 1),)], ["id"]
    )
    tr = traverse(frontier, graph.edges, "placed", Direction.OUT)
    hydrated = fill_properties(tr, graph.vertices, keys=["o_totalprice"])
    rows = hydrated.collect()
    assert rows
    for r in rows:
        assert set(r.props.keys()) <= {"o_totalprice"}


def test_fuse_equals_two_hop_sql(graph, spark, ddb):
    """fuse(customer→order, order→lineitem) == 2-hop FK join."""
    custkeys = [1, 2, 3]
    frontier = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], k),) for k in custkeys], ["id"]
    )
    hop1 = traverse(frontier, graph.edges, "placed", Direction.OUT)
    hop2 = traverse(v_set(hop1), graph.edges, "contains", Direction.OUT)
    fused = algebra.fuse(hop1, hop2)
    got = fused.count()
    exp = ddb.sql(
        """select count(*) from orders join lineitem on l_orderkey = o_orderkey
           where o_custkey in (1,2,3)"""
    ).fetchone()[0]
    assert got == exp


def test_intersect_subtract_algebra_laws(graph, spark):
    frontier = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], k),) for k in range(1, 6)], ["id"]
    )
    tr = traverse(frontier, graph.edges, "placed", Direction.OUT)
    all_n = v_set(tr)
    # intersect with the full neighbor set is identity (by count)
    assert algebra.intersect(tr, all_n).count() == tr.count()
    # subtract the full neighbor set is empty
    assert algebra.subtract(tr, all_n).count() == 0
    # intersect + subtract partition the result
    half = all_n.limit(5)
    assert (
        algebra.intersect(tr, half).count() + algebra.subtract(tr, half).count()
        == tr.count()
    )
    # keylist ⊆ frontier
    assert algebra.keylist(tr).count() <= 5


def test_remove_edge_if(graph, spark, ddb):
    frontier = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], k),) for k in range(1, 11)], ["id"]
    )
    tr = traverse(frontier, graph.edges, "placed", Direction.OUT, fill_edge=True)
    kept = remove_edge_if(
        tr, lambda dst, props: props["totalprice"].cast("double") < 1000.0
    )
    exp = ddb.sql(
        """select count(*) from orders
           where o_custkey between 1 and 10 and not (o_totalprice < 1000)"""
    ).fetchone()[0]
    assert kept.count() == exp


def test_khop_matches_sql(graph, spark, ddb):
    frontier = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], 7),)], ["id"]
    )
    two_hop = khop(frontier, graph.edges, "placed", 1)
    # 1 hop from customer via placed = that customer's orders
    exp = ddb.sql("select count(*) from orders where o_custkey = 7").fetchone()[0]
    assert two_hop.count() == exp


def test_v_map_groups(graph, spark):
    frontier = spark.createDataFrame(
        [(uint128_pair(LABEL_TAGS["customer"], k),) for k in (1, 2)], ["id"]
    )
    tr = traverse(frontier, graph.edges, "placed", Direction.OUT)
    vm = v_map(tr).collect()
    assert len(vm) <= 2
    total = sum(len(r.neighbors) for r in vm)
    assert total == tr.count()


# ---------------------------------------------------------------------------
# S6/T8 element APIs: edges_by_key + set_vertex_property cardinalities
# ---------------------------------------------------------------------------


def _mini_graph(spark):
    from torcdb_spark.graph import PropertyGraph
    import pyspark.sql.functions as F
    from torcdb_spark.ids import uint128_pair

    v = spark.createDataFrame(
        [(uint128_pair(1, i), "person", {"name": f"p{i}"}) for i in range(3)],
        "id binary, label string, props map<string,string>",
    )
    e = spark.createDataFrame(
        [
            (uint128_pair(1, 0), "person", uint128_pair(1, 1), "person",
             "knows", {"w": "1"}),
            (uint128_pair(1, 1), "person", uint128_pair(1, 2), "person",
             "knows", {"w": "2"}),
        ],
        "src binary, src_label string, dst binary, dst_label string, "
        "label string, props map<string,string>",
    )
    return PropertyGraph(vertices=v, edges=e)


def test_edges_by_key_literal_triples(spark):
    from torcdb_spark.ids import uint128_pair

    g = _mini_graph(spark)
    rows = g.edges_by_key(
        [(uint128_pair(1, 0), uint128_pair(1, 1), "knows")]
    ).collect()
    assert len(rows) == 1
    assert rows[0].props["w"] == "1"
    # wrong label -> no hit; empty key list refuses like the reference
    assert g.edges_by_key(
        [(uint128_pair(1, 0), uint128_pair(1, 1), "likes")]
    ).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        g.edges_by_key([])


def test_set_vertex_property_single_overwrites(spark):
    import pyspark.sql.functions as F
    from torcdb_spark.graph import Cardinality
    from torcdb_spark.ids import uint128_pair
    from torcdb_spark import serde

    g = _mini_graph(spark)
    upd = spark.createDataFrame(
        [(uint128_pair(1, 0), 41), (uint128_pair(1, 0), 42)],
        "id binary, value long",
    )
    g2 = g.set_vertex_property(upd, "age", Cardinality.SINGLE)
    row = g2.vertices.where(F.col("id") == uint128_pair(1, 0)).collect()[0]
    assert serde.decode_value(row.props["age"]) == 42  # last (sorted) wins
    assert row.props["name"] == "p0"  # untouched keys survive
    # untouched vertices keep their props
    other = g2.vertices.where(F.col("id") == uint128_pair(1, 1)).collect()[0]
    assert "age" not in other.props


def test_set_vertex_property_list_appends_and_promotes(spark):
    import pyspark.sql.functions as F
    from torcdb_spark.graph import Cardinality
    from torcdb_spark.ids import uint128_pair
    from torcdb_spark import serde

    g = _mini_graph(spark)
    one = spark.createDataFrame(
        [(uint128_pair(1, 0), 7)], "id binary, value long"
    )
    g2 = g.set_vertex_property(one, "score", Cardinality.SINGLE)
    more = spark.createDataFrame(
        [(uint128_pair(1, 0), 8), (uint128_pair(1, 0), 9)],
        "id binary, value long",
    )
    # LIST over an existing scalar promotes it (TorcGraph.java:264-283)
    g3 = g2.set_vertex_property(more, "score", Cardinality.LIST)
    row = g3.vertices.where(F.col("id") == uint128_pair(1, 0)).collect()[0]
    assert serde.decode_value(row.props["score"]) == [7, 8, 9]


def test_set_vertex_property_set_dedups(spark):
    import pyspark.sql.functions as F
    from torcdb_spark.graph import Cardinality
    from torcdb_spark.ids import uint128_pair
    from torcdb_spark import serde

    g = _mini_graph(spark)
    upd = spark.createDataFrame(
        [(uint128_pair(1, 0), "a"), (uint128_pair(1, 0), "b"),
         (uint128_pair(1, 0), "a")],
        "id binary, value string",
    )
    g2 = g.set_vertex_property(upd, "tags", Cardinality.SET)
    row = g2.vertices.where(F.col("id") == uint128_pair(1, 0)).collect()[0]
    assert serde.decode_value(row.props["tags"]) == ["a", "b"]
    # SET again with an already-present value -> no-op
    again = spark.createDataFrame(
        [(uint128_pair(1, 0), "b")], "id binary, value string"
    )
    g3 = g2.set_vertex_property(again, "tags", Cardinality.SET)
    row = g3.vertices.where(F.col("id") == uint128_pair(1, 0)).collect()[0]
    assert serde.decode_value(row.props["tags"]) == ["a", "b"]


def test_add_edges_invariant_at_scale(spark):
    """Storage-invariant analogue of the reference's TorcEdgeListTest
    (prepend 2^16 then read back, asserting order discipline and property
    fidelity, TorcEdgeListTest.java:105-155): append 2^16 edges containing
    duplicates of every (src, dst, label) key, assert the one-edge-per-key
    invariant holds and the LATEST write's properties survive (the
    reference's overwrite-the-blob semantics)."""
    import pyspark.sql.functions as F
    from torcdb_spark.graph import PropertyGraph
    from torcdb_spark.ids import uint128_pair

    n = 1 << 16
    base = spark.range(n).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(1 << 16)).alias("pair"),
    )
    from torcdb_spark.ids import id_col

    def edges_df(tag_props):
        return base.select(
            id_col(1, F.col("pair")).alias("src"),
            F.lit("person").alias("src_label"),
            id_col(2, F.col("pair")).alias("dst"),
            F.lit("person").alias("dst_label"),
            F.lit("knows").alias("label"),
            F.create_map(
                F.lit("gen"), F.lit(tag_props).cast("string")
            ).alias("props"),
        )

    g = PropertyGraph(
        vertices=spark.createDataFrame(
            [], "id binary, label string, props map<string,string>"
        ),
        edges=spark.createDataFrame(
            [],
            "src binary, src_label string, dst binary, dst_label string, "
            "label string, props map<string,string>",
        ),
    )
    g = g.add_edges(edges_df("old"))
    g = g.add_edges(edges_df("new"))  # same keys — must overwrite, not dup
    total = g.edges.count()
    distinct = g.edges.select("src", "dst", "label").dropDuplicates().count()
    assert total == distinct == n
    gens = g.edges.select(F.col("props")["gen"].alias("g")).dropDuplicates().collect()
    assert {r.g for r in gens} == {"new"}  # latest write won everywhere


def test_set_edge_property_single_and_list(spark):
    import pyspark.sql.functions as F
    from torcdb_spark.graph import Cardinality
    from torcdb_spark.ids import uint128_pair
    from torcdb_spark import serde

    g = _mini_graph(spark)
    upd = spark.createDataFrame(
        [(uint128_pair(1, 0), uint128_pair(1, 1), "knows", 5)],
        "src binary, dst binary, label string, value long",
    )
    g2 = g.set_edge_property(upd, "since", Cardinality.SINGLE)
    row = g2.edges_by_key(
        [(uint128_pair(1, 0), uint128_pair(1, 1), "knows")]
    ).collect()[0]
    assert serde.decode_value(row.props["since"]) == 5
    assert row.props["w"] == "1"  # untouched key survives
    # untouched edge unchanged
    other = g2.edges_by_key(
        [(uint128_pair(1, 1), uint128_pair(1, 2), "knows")]
    ).collect()[0]
    assert "since" not in other.props
    # LIST append over the scalar promotes
    more = spark.createDataFrame(
        [(uint128_pair(1, 0), uint128_pair(1, 1), "knows", 6)],
        "src binary, dst binary, label string, value long",
    )
    g3 = g2.set_edge_property(more, "since", Cardinality.LIST)
    row = g3.edges_by_key(
        [(uint128_pair(1, 0), uint128_pair(1, 1), "knows")]
    ).collect()[0]
    assert serde.decode_value(row.props["since"]) == [5, 6]


def test_edge_induced_subgraph(spark, sf_dir):
    """subgraph() TinkerPop semantics: kept edges + exactly their incident
    vertices."""
    import pyspark.sql.functions as F

    from torcdb_spark.graph import PropertyGraph

    g = PropertyGraph.open(spark, sf_dir)
    sub = g.edge_induced_subgraph(F.col("label") == "inRegion")
    assert sub.edges.select("label").distinct().count() == 1
    n_nations = g.vertices.where("label='nation'").count()
    n_regions = g.vertices.where("label='region'").count()
    assert sub.vertices.count() == n_nations + n_regions
    labels = {r["label"] for r in sub.vertices.select("label").distinct().collect()}
    assert labels == {"nation", "region"}


def test_vertex_induced_subgraph_closure(spark, sf_dir):
    """Closure: every edge in the induced subgraph has both endpoints in
    the surviving vertex set; no dangling edges."""
    import pyspark.sql.functions as F

    from torcdb_spark.graph import PropertyGraph

    g = PropertyGraph.open(spark, sf_dir)
    sub = g.vertex_induced_subgraph(F.col("label").isin("customer", "nation"))
    ids = {r["id"] for r in sub.vertices.select("id").collect()}
    for r in sub.edges.select("src", "dst").collect():
        assert r["src"] in ids and r["dst"] in ids
    # only customer→nation edges can survive
    labels = {r["label"] for r in sub.edges.select("label").distinct().collect()}
    assert labels == {"fromNation"}


def test_delete_edges_removes_only_matching_and_keeps_vertices(spark):
    import pyspark.sql.functions as F

    g = _mini_graph(spark)
    n_v = g.vertices.count()
    n_e = g.edges.count()
    labels = [r.label for r in g.edges.select("label").distinct().collect()]
    victim = sorted(labels)[0]
    n_victim = g.edges.where(F.col("label") == victim).count()
    g2 = g.delete_edges(F.col("label") == victim)
    assert g2.vertices.count() == n_v  # vertices untouched
    assert g2.edges.count() == n_e - n_victim
    assert g2.edges.where(F.col("label") == victim).count() == 0
