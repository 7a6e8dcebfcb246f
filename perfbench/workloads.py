"""The benchmark's two workloads and their correctness checks.

Both call only the library's public functions, from one client thread, in a
closed loop (the next op starts when the previous one has returned).

``graph_rw``: TorcDB-style point reads over a graph image the benchmark owns,
with writes beside them. Each read is shaped like an LDBC SNB interactive
short read (IS1, IS2, IS3, IS7: ``vertices_by_id`` -> ``traverse`` ->
``fill_properties``),
a 2-hop Gremlin chain, or an ``algebra.fuse``/``subtract`` co-purchase read;
its start keys are drawn from the seed and it opens the image with
``io.read_graph``. Every fifth op is a write: a seeded batch of new ``placed``
edges merged into the label-partitioned edges by
``maintenance.merge_upsert`` (one edge per (src, dst, label), latest wins),
followed by a read that must see the batch.

``declared``: passes over declared queries from the iterative-analytics and
corpus-operator families, in an order the seed permutes.

Each read is checked against DuckDB over the same parquet, using the
matching ``oracle_sql()`` entry with the drawn keys substituted; each
declared query against its own ``oracle_sql()`` entry. Checks run after the
timed phase.
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from torcdb_spark import Direction, PropertyGraph, algebra, fill_properties, traverse
from torcdb_spark.graph import EDGE_SCHEMA, LABEL_TAGS
from torcdb_spark.gremlin import G
from torcdb_spark.ids import id_lower, uint128_pair
from torcdb_spark.queries import oracle_sql, queries
from torcdb_spark.sources import io, maintenance
from torcdb_spark.traverse import v_set

from datagen import SIZES

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Orders created by writes get keys from here up: above every fixture key,
# so no read's drawn key range ever includes them.
NEW_ORDER_BASE = 1_000_000
BATCH_EDGES = 50
BATCH_REWRITES = 10  # edges per batch that re-write an earlier batch's edge


def normalize(rows, cols):
    """Order-insensitive form of a result (as in tests/test_oracle_parity):
    columns sorted by name, floats rounded, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _ids(label: str, keys) -> list[bytes]:
    return [uint128_pair(LABEL_TAGS[label], int(k)) for k in keys]


# -- reads: the IS-shaped bodies of the declared ldbc_* queries, with the
# -- start keys as a parameter ------------------------------------------------

def is1_profile(t, g, keys):
    cust = t.call("graph", g.vertices_by_id, _ids("customer", keys), label="customer")
    nat = t.call("traverse", traverse, cust, g.edges, "fromNation", Direction.OUT)
    return cust.join(nat, cust["id"] == nat["src"]).select(
        id_lower(F.col("id")).alias("c_custkey"),
        F.col("props")["c_name"].alias("c_name"),
        F.round(F.col("props")["c_acctbal"].cast("double"), 2).alias("acctbal"),
        F.col("props")["c_mktsegment"].alias("c_mktsegment"),
        id_lower(F.col("dst")).alias("n_nationkey"),
    )


def is2_recent_msgs(t, g, keys):
    cust = t.call("graph", g.vertices_by_id, _ids("customer", keys), label="customer")
    placed = t.call("traverse", traverse, cust, g.edges, "placed",
                    Direction.OUT, fill_edge=True)
    w = Window.partitionBy("src").orderBy(
        F.col("props")["orderdate"].desc(), id_lower(F.col("dst")).desc()
    )
    recent = (
        placed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select(
            F.col("src").alias("cust_id"), F.col("dst").alias("order_id"),
            F.date_format(F.col("props")["orderdate"].cast("timestamp"),
                          "yyyy-MM-dd").alias("orderdate"),
        )
    )
    contains = t.call(
        "traverse", traverse, recent.select(F.col("order_id").alias("id")),
        g.edges, "contains", Direction.OUT, fill_edge=True,
    ).select(
        F.col("src").alias("order_id"), F.col("dst").alias("line_id"),
        F.col("props")["linenumber"].cast("long").alias("root_line"),
    )
    supplied = t.call(
        "traverse", traverse, contains.select(F.col("line_id").alias("id")),
        g.edges, "suppliedBy", Direction.OUT,
    ).select(F.col("src").alias("line_id"),
             id_lower(F.col("dst")).alias("root_supp"))
    wr = Window.partitionBy("order_id").orderBy(
        F.col("root_line").asc(), F.col("root_supp").asc())
    roots = (contains.join(supplied, "line_id")
             .withColumn("rn", F.row_number().over(wr)).where(F.col("rn") == 1))
    return recent.join(roots, "order_id").select(
        id_lower(F.col("cust_id")).alias("c_custkey"),
        id_lower(F.col("order_id")).alias("o_orderkey"),
        "orderdate", "root_line", "root_supp",
    )


def is3_friends(t, g, keys):
    cust = t.call("graph", g.vertices_by_id, _ids("customer", keys), label="customer")
    nat = t.call("traverse", traverse, cust, g.edges, "fromNation", Direction.OUT)
    friends = t.call(
        "traverse", traverse, nat.select(F.col("dst").alias("id")), g.edges,
        "fromNation", Direction.IN,
    ).select(F.col("src").alias("nat_id"), F.col("dst").alias("friend_id"))
    pairs = (
        nat.select(F.col("src").alias("seed_id"), F.col("dst").alias("nat_id"))
        .join(friends, "nat_id")
        .where(F.col("seed_id") != F.col("friend_id"))
    )
    hydrated = t.call(
        "traverse", fill_properties, pairs.withColumnRenamed("friend_id", "id"),
        g.vertices, keys=["c_name", "c_acctbal"], labels=["customer"],
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("friend_acctbal").desc(), F.col("friend_custkey").asc())
    return (
        hydrated.select(
            id_lower(F.col("seed_id")).alias("c_custkey"),
            id_lower(F.col("id")).alias("friend_custkey"),
            F.col("props")["c_name"].alias("friend_name"),
            F.round(F.col("props")["c_acctbal"].cast("double"), 2)
            .alias("friend_acctbal"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 20)
    )


def is7_replies(t, g, keys):
    orders = t.call("graph", g.vertices_by_id, _ids("order", keys), label="order")

    def hop(frontier, label, direction, **kw):
        return t.call("traverse", traverse, frontier, g.edges, label, direction, **kw)

    creator = hop(orders, "placed", Direction.IN).select(
        F.col("src").alias("order_id"), F.col("dst").alias("cust_id"))
    cust_nat = hop(creator.select(F.col("cust_id").alias("id")), "fromNation",
                   Direction.OUT).select(F.col("src").alias("cust_id"),
                                         F.col("dst").alias("cnat"))
    lines = hop(orders, "contains", Direction.OUT, fill_edge=True).select(
        F.col("src").alias("order_id"), F.col("dst").alias("line_id"),
        F.col("props")["linenumber"].cast("long").alias("linenumber"))
    supp = hop(lines.select(F.col("line_id").alias("id")), "suppliedBy",
               Direction.OUT).select(F.col("src").alias("line_id"),
                                     F.col("dst").alias("supp_id"))
    supp_nat = hop(supp.select(F.col("supp_id").alias("id")), "suppFromNation",
                   Direction.OUT).select(F.col("src").alias("supp_id"),
                                         F.col("dst").alias("snat"))
    sname = t.call(
        "traverse", fill_properties,
        supp.select(F.col("supp_id").alias("id")).dropDuplicates(["id"]),
        g.vertices, keys=["s_name"], labels=["supplier"],
    ).select(F.col("id").alias("supp_id"), F.col("props")["s_name"].alias("s_name"))
    return (
        lines.join(supp, "line_id").join(creator, "order_id")
        .join(cust_nat, "cust_id").join(supp_nat, "supp_id").join(sname, "supp_id")
        .select(
            id_lower(F.col("order_id")).alias("o_orderkey"), "linenumber",
            id_lower(F.col("supp_id")).alias("s_suppkey"), "s_name",
            (F.col("snat") == F.col("cnat")).alias("knows"),
        )
    )


def gremlin_2hop(t, g, keys):
    def chain():
        return G(g).V(*_ids("customer", keys)).out("placed").out("contains").to_df()

    paths = t.call("gremlin", chain)
    return paths.groupBy("start").agg(F.count("*").alias("n")).select(
        id_lower(F.col("start")).alias("src_key"), F.col("n").cast("long").alias("n"))


def copurchase(t, g, keys):
    cust = t.call("graph", g.vertices_by_id, _ids("customer", keys), label="customer")

    def hop(frontier, label, direction, **kw):
        return t.call("traverse", traverse, frontier, g.edges, label, direction, **kw)

    def vs(tr):
        return t.call("traverse", v_set, tr)

    h1 = hop(cust, "placed", Direction.OUT)
    h2 = hop(vs(h1), "contains", Direction.OUT)
    parts = vs(hop(vs(h2), "ofPart", Direction.OUT))
    b1 = hop(parts, "ofPart", Direction.IN, broadcast_frontier=False)
    b2 = hop(vs(b1), "contains", Direction.IN, broadcast_frontier=False)
    b3 = hop(vs(b2), "placed", Direction.IN, broadcast_frontier=False)

    def compose():
        part_cust = algebra.fuse(algebra.fuse(b1, b2, dedup=True), b3, dedup=True)
        return algebra.subtract(part_cust, cust.select("id"))

    others = t.call("algebra", compose)
    return (
        others.groupBy("dst").agg(F.count("*").cast("long").alias("n_shared_parts"))
        .select(id_lower(F.col("dst")).alias("c_custkey"), "n_shared_parts")
        .orderBy(F.desc("n_shared_parts"), F.asc("c_custkey")).limit(20)
    )


def _between(lo: int, hi: int):
    def sub(sql: str, k: int) -> str:
        old = f"BETWEEN {lo} AND {hi}"
        if old not in sql:
            raise ValueError(f"oracle no longer contains {old!r}")
        return sql.replace(old, f"BETWEEN {k} AND {k + hi - lo}")
    return sub


def _segment_to_keys(sql: str, k: int) -> str:
    old = "WHERE c_mktsegment = 'BUILDING'"
    if old not in sql:
        raise ValueError(f"oracle no longer contains {old!r}")
    return sql.replace(old, f"WHERE c_custkey BETWEEN {k} AND {k + 9}")


# name -> (read body, key label, keys per read, oracle query, oracle rewrite)
READS = {
    "is1_profile": (is1_profile, "customer", 10, "ldbc_is_like_profile", _between(1, 10)),
    "is2_recent_msgs": (is2_recent_msgs, "customer", 20, "ldbc_is_like_recent_msgs", _between(1, 20)),
    "is3_friends": (is3_friends, "customer", 10, "ldbc_is_like_friends", _between(1, 10)),
    "is7_replies": (is7_replies, "orders", 10, "ldbc_is_like_replies", _between(1, 10)),
    "gremlin_2hop": (gremlin_2hop, "customer", 10, "g_gremlin_2hop", _segment_to_keys),
    "copurchase": (copurchase, "customer", 10, "ldbc_ic_like_foaf_copurchase", _between(1, 10)),
}


class Op:
    """One timed operation: ``run()`` returns what the check needs."""

    def __init__(self, kind: str, run, check_args=None):
        self.kind = kind
        self.run = run
        self.check_args = check_args
        self.result = None
        self.error: str | None = None
        self.rows_returned = 0


def _collect(df):
    rows = df.collect()
    return df.columns, [tuple(r) for r in rows]


class GraphRW:
    """Reads and merge_upsert writes over a benchmark-owned graph image."""

    name = "graph_rw"
    # One cycle: every fifth op is a write, followed by a read that must
    # see it. Six of the read shapes, in a fixed order; the seed draws
    # their keys and the write batches.
    CYCLE = (
        ("is2_recent_msgs", "is1_profile", "is7_replies"),
        ("is3_friends", "gremlin_2hop", "copurchase"),
    )

    def __init__(self, spark, tracer, rng):
        self.spark, self.t, self.rng = spark, tracer, rng
        self.written: dict[tuple[int, int], tuple[str, str]] = {}
        self.next_order = NEW_ORDER_BASE

    def setup(self, data_dir: str, out_dir: str) -> None:
        self.data_dir = data_dir
        self.image = os.path.join(out_dir, "image")
        g = self.t.call("graph", PropertyGraph.from_tables, self.spark, data_dir)
        self.t.call("io.write_graph", io.write_graph, g, self.image)

    def _read_op(self, name: str) -> Op:
        body, key_table, width, _, _ = READS[name]
        k = int(self.rng.integers(0, SIZES[key_table] - width + 1))
        keys = range(k, k + width)

        def run():
            g = self.t.call("io.read_graph", io.read_graph, self.spark, self.image)
            return _collect(body(self.t, g, keys))

        return Op(name, run, ("read", name, k))

    def _write_batch(self):
        """A seeded batch of new ``placed`` edges: mostly new orders, plus
        re-writes of edges an earlier batch wrote (latest wins)."""
        rng = self.rng
        old = sorted(self.written)
        n_re = min(BATCH_REWRITES, len(old))
        rewrites = [old[i] for i in rng.choice(len(old), n_re, replace=False)] if n_re else []
        fresh = []
        for _ in range(BATCH_EDGES - n_re):
            fresh.append((int(rng.integers(0, SIZES["customer"])), self.next_order))
            self.next_order += 1
        batch = {}
        for c, o in rewrites + fresh:
            day = np.datetime64("1995-01-01") + int(rng.integers(0, 2400))
            batch[(c, o)] = (f"{day} 00:00:00", f"{rng.uniform(1000, 500000):.2f}")
        return batch

    def _write_op(self) -> Op:
        batch = self._write_batch()
        rows = [
            (uint128_pair(LABEL_TAGS["customer"], c), "customer",
             uint128_pair(LABEL_TAGS["order"], o), "order", "placed",
             {"orderdate": d, "totalprice": p})
            for (c, o), (d, p) in batch.items()
        ]
        self.written.update(batch)

        def run():
            updates = self.spark.createDataFrame(rows, EDGE_SCHEMA)
            self.t.call("maintenance", maintenance.merge_upsert, self.spark,
                        f"{self.image}/edges", updates,
                        ["src", "dst", "label"], "label")
            return None

        op = Op("write", run, ("write", dict(batch)))
        # bytes of user data in the batch, the base of maintenance.write_amp
        op.user_bytes = sum(
            len(r[0]) + len(r[1]) + len(r[2]) + len(r[3]) + len(r[4])
            + sum(len(k) + len(v) for k, v in r[5].items()) for r in rows)
        return op

    def _ryw_op(self, batch: dict) -> Op:
        custs = sorted({c for c, _ in batch})

        def run():
            g = self.t.call("io.read_graph", io.read_graph, self.spark, self.image)
            cust = self.t.call("graph", g.vertices_by_id, _ids("customer", custs),
                               label="customer")
            tr = self.t.call("traverse", traverse, cust, g.edges, "placed",
                             Direction.OUT, fill_edge=True)
            return _collect(tr.where(id_lower(F.col("dst")) >= NEW_ORDER_BASE).select(
                id_lower(F.col("src")).alias("c"), id_lower(F.col("dst")).alias("o"),
                F.col("props")["orderdate"].alias("d"),
                F.col("props")["totalprice"].alias("p"),
            ))

        expect = {k: v for k, v in self.written.items() if k[0] in set(custs)}
        return Op("read_your_writes", run, ("ryw", expect))

    def cycle(self) -> list[Op]:
        ops = []
        for shapes in self.CYCLE:
            ops += [self._read_op(name) for name in shapes]
            w = self._write_op()
            ops += [w, self._ryw_op(w.check_args[1])]
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        """Replay the ops in order against DuckDB: writes update the
        oracle's orders, reads are compared with their oracle query."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            src = f"'{self.data_dir}/{t}.parquet'"
            con.execute(f"CREATE VIEW {'base_orders' if t == 'orders' else t} "
                        f"AS SELECT * FROM {src}")
        con.execute("CREATE TABLE new_orders AS SELECT * FROM base_orders LIMIT 0")
        con.execute("CREATE VIEW orders AS SELECT * FROM base_orders "
                    "UNION ALL SELECT * FROM new_orders")
        oracles = oracle_sql()
        failures = []
        for i, op in enumerate(ops):
            what = op.check_args[0]
            if what == "write":
                for (c, o), (d, p) in op.check_args[1].items():
                    con.execute("DELETE FROM new_orders WHERE o_orderkey = ?", [o])
                    con.execute(
                        "INSERT INTO new_orders VALUES (?, ?, NULL, ?, CAST(? AS TIMESTAMP), NULL)",
                        [o, c, float(p), d])
            if op.error is not None:
                failures.append(f"op {i} {op.kind}: {op.error}")
                continue
            if what == "read":
                _, name, k = op.check_args
                cols, rows = op.result
                sql = READS[name][4](oracles[READS[name][3]], k)
                cur = con.sql(sql)
                ocols = [d[0] for d in cur.description]
                if (sorted(cols) != sorted(ocols)
                        or normalize(rows, cols) != normalize(cur.fetchall(), ocols)):
                    failures.append(f"op {i} {name} keys {k}..: differs from oracle")
            elif what == "ryw":
                _, rows = op.result
                got = {(c, o): (d, float(p)) for c, o, d, p in rows}
                want = {k: (d, float(p)) for k, (d, p) in op.check_args[1].items()}
                if len(rows) != len(got) or got != want:
                    failures.append(f"op {i} read_your_writes: missed or stale edges")
        return failures

    def image_files(self) -> int:
        n = 0
        for _, _, files in os.walk(self.image):
            n += sum(f.endswith(".parquet") for f in files)
        return n

    def edge_files(self) -> dict[str, tuple[int, int]]:
        """path -> (size, mtime) of every parquet file of the image's edges."""
        out = {}
        for d, _, files in os.walk(f"{self.image}/edges"):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(d, f))
                    out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
        return out


# Oracle-checked declared queries: iterative graph analytics (superstep
# loops in ``analytics``) and corpus operators (set-similarity, k-means,
# salted join in ``operators``), chosen so one pass fits the run length.
DECLARED = (
    "g_connected_components",
    "g_hits2_integer",
    "e16_semantic_dedup_exact",
    "q_salted_join",
    "ssj1_jaccard_join",
)


class Declared:
    name = "declared"

    def __init__(self, spark, tracer, rng):
        self.spark, self.t, self.rng = spark, tracer, rng
        self.queries = queries()

    def setup(self, data_dir: str, out_dir: str) -> None:
        self.data_dir = data_dir
        self.t.call("graph", PropertyGraph.open, self.spark, data_dir)

    def _query_op(self, name: str) -> Op:
        fn = self.queries[name]

        def run():
            df = self.t.call("queries", fn, self.spark, self.data_dir)
            return _collect(df)

        return Op(name, run, ("query", name))

    def cycle(self) -> list[Op]:
        return [self._query_op(DECLARED[i]) for i in self.rng.permutation(len(DECLARED))]

    def check(self, ops: list[Op]) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        oracles = oracle_sql()
        expected = {}
        failures = []
        for i, op in enumerate(ops):
            if op.error is not None:
                failures.append(f"op {i} {op.kind}: {op.error}")
                continue
            name = op.kind
            if name not in expected:
                cur = con.sql(oracles[name])
                ocols = [d[0] for d in cur.description]
                expected[name] = (sorted(ocols), normalize(cur.fetchall(), ocols))
            cols, rows = op.result
            if (sorted(cols), normalize(rows, cols)) != expected[name]:
                failures.append(f"op {i} {name}: differs from oracle")
        return failures


WORKLOADS = {w.name: w for w in (GraphRW, Declared)}
