"""Graph-image readers/writers (the bulk-load surface, SURVEY §2.1 S7-S10).

The reference bulk-loads a graph image from disk with a GraphLoader that
streams LDBC CSV node/edge files into the store in separate vertex / edge /
property passes (README.md "Running LDBC SNB Validation": `GraphLoader
--txSize 32 ... --graphName ldbcsnbval01 <nodes> <edges>`). The Spark-native
equivalents here are DataFrame writers/readers over three interchange
formats:

- **parquet** (canonical) / **orc**: columnar, partitioned by ``label`` so
  label predicates become partition pruning; binary ids kept native.
- **csv** (LDBC-interchange-shaped): one vertices file-tree + one edges
  file-tree; 128-bit ids rendered as hex strings and property maps as JSON
  (CSV has no nested types). Matches the reference's "graph as two flat
  files" load contract.
- **jsonl**: newline-delimited JSON with the same hex/JSON encoding —
  the streaming-friendly interchange form.

All writers shard automatically (one file per task), so a 100 TB image is
written/read by every executor in parallel — no driver funnel. The
columnar readers pin the image's schema at read time (``VERTEX_SCHEMA`` /
``EDGE_SCHEMA``) instead of inferring it from parquet/orc footers, so
opening an image lists its files and runs no Spark job. The bucketed
variant additionally pre-shuffles edges by ``src`` into N buckets, so
frontier⋈edges joins against a same-bucketed frontier need no exchange at
read time (SURVEY §7.2 M8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PROPS_TYPE = T.MapType(T.StringType(), T.StringType())


def _encode_flat(df: DataFrame, id_cols: list[str]) -> DataFrame:
    """Binary ids → hex strings, props map → JSON string (flat-file form)."""
    out = df
    for c in id_cols:
        out = out.withColumn(c, F.lower(F.hex(F.col(c))))
    return out.withColumn("props", F.to_json("props"))


def _decode_flat(df: DataFrame, id_cols: list[str]) -> DataFrame:
    out = df
    for c in id_cols:
        out = out.withColumn(c, F.unhex(F.col(c)))
    return out.withColumn("props", F.from_json("props", PROPS_TYPE))


def write_graph(graph, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Write a graph image as <path>/vertices + <path>/edges in ``fmt``.

    Parquet keeps native types and partitions by label (pruning); csv/jsonl
    use the hex/JSON flat encoding. ``mode="overwrite"`` is the deleteGraph
    + reload path (S10, TorcGraph.deleteGraph semantics)."""
    v, e = graph.vertices, graph.edges
    if fmt == "parquet":
        v.write.mode(mode).partitionBy("label").parquet(f"{path}/vertices")
        e.write.mode(mode).partitionBy("label").parquet(f"{path}/edges")
        return
    if fmt == "orc":
        # same columnar/native-type layout as parquet via Spark's built-in
        # ORC writer — the second lakehouse interchange format
        v.write.mode(mode).partitionBy("label").orc(f"{path}/vertices")
        e.write.mode(mode).partitionBy("label").orc(f"{path}/edges")
        return
    if fmt == "csv":
        ev = _encode_flat(v, ["id"])
        ee = _encode_flat(e, ["src", "dst"])
        ev.write.mode(mode).option("header", True).csv(f"{path}/vertices")
        ee.write.mode(mode).option("header", True).csv(f"{path}/edges")
        return
    if fmt == "jsonl":
        _encode_flat(v, ["id"]).write.mode(mode).json(f"{path}/vertices")
        _encode_flat(e, ["src", "dst"]).write.mode(mode).json(f"{path}/edges")
        return
    raise ValueError(f"unsupported graph image format: {fmt}")


def read_graph(spark: SparkSession, path: str, fmt: str = "parquet"):
    """Read a graph image written by :func:`write_graph` back into a
    PropertyGraph. Column order/nullability is re-canonicalized so a
    round-trip is schema-identical regardless of format.

    The parquet and orc images are read with their schema pinned to
    ``VERTEX_SCHEMA``/``EDGE_SCHEMA`` (``label`` is the partition column),
    so opening an image runs no Spark job: the reader skips the footer
    inference job it would otherwise run per table. The file listing still
    runs on every call, so a read sees every write that finished before
    it."""
    from torcdb_spark.graph import EDGE_SCHEMA, PropertyGraph, VERTEX_SCHEMA

    if fmt in ("parquet", "orc"):
        v = spark.read.schema(VERTEX_SCHEMA).format(fmt).load(f"{path}/vertices")
        e = spark.read.schema(EDGE_SCHEMA).format(fmt).load(f"{path}/edges")
    elif fmt == "csv":
        v = _decode_flat(
            spark.read.option("header", True).csv(f"{path}/vertices"), ["id"]
        )
        e = _decode_flat(
            spark.read.option("header", True).csv(f"{path}/edges"), ["src", "dst"]
        )
    elif fmt == "jsonl":
        v = _decode_flat(spark.read.json(f"{path}/vertices"), ["id"])
        e = _decode_flat(spark.read.json(f"{path}/edges"), ["src", "dst"])
    else:
        raise ValueError(f"unsupported graph image format: {fmt}")
    return PropertyGraph(
        vertices=v.select(*VERTEX_SCHEMA.names),
        edges=e.select(*EDGE_SCHEMA.names),
    )


def write_graph_bucketed(
    graph, table_prefix: str, buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Persist the image as bucketed managed tables
    ``<prefix>_vertices`` (bucketed by id) and ``<prefix>_edges``
    (bucketed by src), both sorted in-bucket.

    Bucketing pre-pays the shuffle once at write time: a frontier⋈edges
    join between two tables bucketed the same way on the join key runs
    exchange-free (Catalyst sees the compatible output partitioning), which
    at 1000-executor scale removes the per-query all-to-all on the biggest
    table. The reference's analogue is its per-vertex adjacency-list
    locality in RAMCloud (TorcEdgeList.java:42-98)."""
    (
        graph.vertices.write.mode(mode)
        .bucketBy(buckets, "id").sortBy("id")
        .format("parquet").saveAsTable(f"{table_prefix}_vertices")
    )
    (
        graph.edges.write.mode(mode)
        .bucketBy(buckets, "src").sortBy("src")
        .format("parquet").saveAsTable(f"{table_prefix}_edges")
    )


def read_graph_bucketed(spark: SparkSession, table_prefix: str):
    from torcdb_spark.graph import PropertyGraph

    return PropertyGraph(
        vertices=spark.table(f"{table_prefix}_vertices"),
        edges=spark.table(f"{table_prefix}_edges"),
    )


def write_table_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Directory-partitioned table write — the lakehouse layout for big
    fact tables (e.g. events by day): queries filtering on the partition
    columns read ONLY the matching directories (partition pruning, visible
    as PartitionFilters in the scan), which at 100 TB is the difference
    between scanning a day and scanning three years. Keep partition
    cardinality moderate (days, not user ids): each distinct value is a
    directory, and a high-cardinality partition key shatters the table
    into small files."""
    df.write.partitionBy(*partition_cols).format(fmt).mode(mode).save(path)


def stream_to_table(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
    fmt: str = "parquet",
    available_now: bool = True,
):
    """Streaming sink to a (optionally partitioned) table directory with
    exactly-once file commits via the checkpoint's write-ahead log — the
    production landing path (memory sinks are test-only). Returns the
    StreamingQuery; with ``available_now`` the caller can
    ``awaitTermination()`` for a bounded drain, without it the query runs
    continuously. The checkpoint directory carries source offsets + sink
    commit log, so a restarted query resumes without duplicating files."""
    w = (
        stream_df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
