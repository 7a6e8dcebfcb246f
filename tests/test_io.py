"""Graph-image round-trips (S7-S10 bulk load/save surface, sources/io.py)."""

import pytest

from torcdb_spark.sources.io import (
    read_graph,
    read_graph_bucketed,
    write_graph,
    write_graph_bucketed,
)


def _fingerprint(g):
    """Order-insensitive content fingerprint of a graph."""
    from pyspark.sql import functions as F

    v = (
        g.vertices.select(
            F.xxhash64(F.hex("id"), "label", F.to_json("props")).alias("h")
        )
        .agg(F.expr("bit_xor(h)"))
        .first()[0]
    )
    e = (
        g.edges.select(
            F.xxhash64(
                F.hex("src"), "src_label", F.hex("dst"), "dst_label",
                "label", F.to_json("props"),
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)"))
        .first()[0]
    )
    return v, e


@pytest.mark.parametrize("fmt", ["parquet", "csv", "jsonl"])
def test_graph_image_roundtrip(graph, spark, tmp_path_factory, fmt):
    path = str(tmp_path_factory.mktemp(f"img_{fmt}"))
    write_graph(graph, path, fmt=fmt)
    back = read_graph(spark, path, fmt=fmt)
    assert back.vertices.columns == graph.vertices.columns
    assert back.edges.columns == graph.edges.columns
    assert _fingerprint(back) == _fingerprint(graph)


def test_read_graph_parquet_runs_no_job(graph, spark, tmp_path_factory, jobs_of):
    """The image's schema is pinned at read time: opening it lists files
    but runs no schema-inference job."""
    path = str(tmp_path_factory.mktemp("img_nojob"))
    write_graph(graph, path, fmt="parquet")
    back, jobs = jobs_of(lambda: read_graph(spark, path, fmt="parquet"))
    assert jobs == 0
    assert back.vertices.schema.names == graph.vertices.schema.names
    assert back.edges.count() == graph.edges.count()


def test_overwrite_is_delete_graph(graph, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("img_ow"))
    write_graph(graph, path, fmt="parquet")
    # S10 deleteGraph + reload: second overwrite replaces, not appends
    write_graph(graph, path, fmt="parquet")
    back = read_graph(spark, path, fmt="parquet")
    assert back.vertices.count() == graph.vertices.count()
    assert back.edges.count() == graph.edges.count()


def test_bucketed_join_has_no_edge_exchange(graph, spark):
    write_graph_bucketed(graph, "t_img", buckets=8)
    try:
        g2 = read_graph_bucketed(spark, "t_img")
        assert g2.edges.count() == graph.edges.count()
        # self-join two same-bucketed reads on the bucket key: with bucketing
        # Catalyst needs no shuffle on either side (disable auto-broadcast so
        # the sort-merge path — the one a 100 TB edges table would take — is
        # what gets planned)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            e1 = spark.table("t_img_edges").select("src", "label")
            e2 = spark.table("t_img_edges").select("src", "dst")
            plan = (
                e1.join(e2, "src")._jdf.queryExecution().executedPlan().toString()
            )
            assert "Exchange hashpartitioning" not in plan, plan
            assert "SortMergeJoin" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_img_vertices")
        spark.sql("DROP TABLE IF EXISTS t_img_edges")


def test_orc_roundtrip(spark, graph, tmp_path):
    from torcdb_spark.sources.io import read_graph, write_graph

    p = str(tmp_path / "orc_img")
    write_graph(graph, p, fmt="orc")
    back = read_graph(spark, p, fmt="orc")
    assert back.vertices.count() == graph.vertices.count()
    assert back.edges.count() == graph.edges.count()
    # ORC reader differs from the in-memory frame only in nullability flags
    assert [(f.name, f.dataType) for f in back.vertices.schema] == [
        (f.name, f.dataType) for f in graph.vertices.schema]


def test_write_table_partitioned_prunes(spark, tmp_path):
    from torcdb_spark.sources.io import write_table_partitioned
    import pyspark.sql.functions as F

    df = spark.range(1000).select(
        "id",
        (F.col("id") % 7).alias("day"),
        (F.col("id") * 2.0).alias("v"),
    )
    path = str(tmp_path / "events_by_day")
    write_table_partitioned(df, path, ["day"])
    back = spark.read.parquet(path).where(F.col("day") == 3)
    assert back.count() == df.where(F.col("id") % 7 == 3).count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:120]
    assert "day" in pf  # the filter prunes directories, not rows


def test_stream_to_table_exactly_once_drain(spark, tmp_path):
    """Bounded drain lands all rows; a RESTARTED drain over the same
    checkpoint adds nothing (offsets committed in the WAL)."""
    from torcdb_spark.sources.io import stream_to_table
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    src = str(tmp_path / "src")
    spark.range(500).select(
        "id", (F.col("id") % 5).alias("k")
    ).write.parquet(src)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("k", T.LongType())]
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_to_table(stream, out, ckpt, partition_cols=["k"])
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 500
    drain()  # same checkpoint: nothing new to process
    assert spark.read.parquet(out).count() == 500


def test_tfrecord_framing_and_example_wire():
    """TFRecord framing (masked CRC32C on length AND data words) and
    the tf.train.Example wire walk: packed/unpacked int64 lists, float
    lists, bytes lists, unknown-field skip, and the ValueError
    contracts for truncation and CRC corruption."""
    import struct as _struct

    import pytest as _pytest

    from torcdb_spark.sources.tfrecord import (
        _masked_crc,
        _varint,
        encode_example,
        parse_example,
        parse_tfrecords,
        write_tfrecords,
    )

    # framing round trip, multiple records
    recs = [b"alpha", b"", b"\x00" * 300, "unicode ✓".encode()]
    assert parse_tfrecords(write_tfrecords(recs)) == recs

    # the masked CRC matches TensorFlow's published test vector shape:
    # masking is rotate-right-15 plus the fixed constant
    ln = _struct.pack("<Q", 5)
    raw = write_tfrecords([b"hello"])
    assert raw[8:12] == _struct.pack("<I", _masked_crc(ln))

    # CRC corruption surfaces, both words
    bad = bytearray(write_tfrecords([b"payload"]))
    bad[-1] ^= 0xFF
    with _pytest.raises(ValueError):
        parse_tfrecords(bytes(bad))
    bad2 = bytearray(write_tfrecords([b"payload"]))
    bad2[9] ^= 0x01
    with _pytest.raises(ValueError):
        parse_tfrecords(bytes(bad2))
    with _pytest.raises(ValueError):
        parse_tfrecords(write_tfrecords([b"abc"])[:-2])

    # Example wire round trip, all three kinds
    ex = encode_example({
        "tokens": [0, 1, 127, 128, 300, 2**40],
        "scores": [1.5, -2.0],
        "text": ["héllo", b"\x01\x02"],
    })
    got = parse_example(ex)
    assert got["tokens"] == ("int64", [0, 1, 127, 128, 300, 2**40])
    assert got["scores"][0] == "float"
    assert got["scores"][1] == [1.5, -2.0]
    assert got["text"] == ("bytes", ["héllo".encode(), b"\x01\x02"])

    # UNPACKED int64 repetition (legal wire form) decodes identically
    unpacked_list = b"".join(
        _varint(1 << 3 | 0) + _varint(v) for v in (7, 8)
    )
    feat = _varint(3 << 3 | 2) + _varint(len(unpacked_list)) + unpacked_list
    key = b"\x0a\x01x"  # map key 'x'
    val = _varint(2 << 3 | 2) + _varint(len(feat)) + feat
    entry = key + val
    feats = _varint(1 << 3 | 2) + _varint(len(entry)) + entry
    example = _varint(1 << 3 | 2) + _varint(len(feats)) + feats
    assert parse_example(example)["x"] == ("int64", [7, 8])

    # unknown top-level fields skip structurally
    noisy = _varint(9 << 3 | 0) + _varint(42) + ex
    assert parse_example(noisy)["tokens"][1][:2] == [0, 1]


def test_tfrecord_examples_dataframe(spark):
    """The Spark fan-out: one row per (record, feature), int sums and
    text slices exact, poisoned shards degrade to an _error row."""
    from pyspark.sql import Row

    from torcdb_spark.sources.tfrecord import (
        encode_example,
        tfrecord_examples,
        write_tfrecords,
    )

    good = write_tfrecords([
        encode_example({"tokens": [1, 2, 3], "text": ["hello"]}),
        encode_example({"tokens": [10], "text": ["world"]}),
    ])
    shards = spark.createDataFrame([
        Row(path="a", content=bytearray(good)),
        Row(path="b", content=bytearray(b"not a tfrecord file")),
    ])
    rows = {(r.path, r.rec_idx, r.feature): r
            for r in tfrecord_examples(shards).collect()}
    assert rows[("a", 0, "tokens")].int_sum == 6
    assert rows[("a", 0, "tokens")].n_values == 3
    assert rows[("a", 0, "text")].text == "hello"
    assert rows[("a", 1, "text")].text == "world"
    assert "CRC mismatch" in rows[("b", -1, "_error")].kind


def test_avro_container_roundtrip():
    """Avro OCF framing + schema-driven binary decode: zigzag varints,
    every scalar type, arrays/maps/enums/fixed, nullable unions, both
    codecs, multi-block files, sync verification, and the ValueError
    contracts."""
    import pytest as _pytest

    from torcdb_spark.sources.avro import parse_avro, write_avro

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"},
            {"name": "neg", "type": "int"},
            {"name": "ok", "type": "boolean"},
            {"name": "score", "type": "double"},
            {"name": "ratio", "type": "float"},
            {"name": "name", "type": "string"},
            {"name": "blob", "type": "bytes"},
            {"name": "tag", "type": {"type": "enum", "name": "e",
                                     "symbols": ["A", "B", "C"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "f",
                                    "size": 3}},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
            {"name": "kv", "type": {"type": "map", "values": "string"}},
            {"name": "maybe", "type": ["null", "string"]},
        ],
    }
    recs = [
        {"id": 2**45, "neg": -17, "ok": True, "score": 2.5,
         "ratio": 0.5, "name": "ünïcode ✓", "blob": b"\x00\xff",
         "tag": "B", "fx": b"abc", "xs": [1, -2, 300], "kv": {"k": "v"},
         "maybe": "yes"},
        {"id": 0, "neg": 0, "ok": False, "score": -1.25, "ratio": 2.0,
         "name": "", "blob": b"", "tag": "C", "fx": b"xyz", "xs": [],
         "kv": {}, "maybe": None},
    ] * 3
    for codec in ("null", "deflate"):
        raw = write_avro(schema, recs, codec=codec, records_per_block=4)
        assert parse_avro(raw) == recs, codec

    # contracts: magic, sync mismatch, truncation, trailing bytes
    with _pytest.raises(ValueError):
        parse_avro(b"Obj\x02" + bytes(40))
    good = bytearray(write_avro(schema, recs[:1]))
    good[-1] ^= 0xFF  # corrupt the final sync marker
    with _pytest.raises(ValueError):
        parse_avro(bytes(good))
    with _pytest.raises(ValueError):
        parse_avro(write_avro(schema, recs[:1])[:-10])


def test_avro_records_dataframe(spark):
    """The Spark fan-out: typed per-field rows, union null branch,
    deflate codec, corrupt files degrade to an _error row."""
    from pyspark.sql import Row

    from torcdb_spark.sources.avro import avro_records, write_avro

    schema = {
        "type": "record", "name": "d", "fields": [
            {"name": "id", "type": "long"},
            {"name": "score", "type": "double"},
            {"name": "text", "type": ["null", "string"]},
        ],
    }
    good = write_avro(
        schema,
        [{"id": 7, "score": 1.25, "text": "hi"},
         {"id": 8, "score": 2.0, "text": None}],
        codec="deflate",
    )
    shards = spark.createDataFrame([
        Row(path="a", content=bytearray(good)),
        Row(path="b", content=bytearray(b"Objx not avro")),
    ])
    rows = {(r.path, r.rec_idx, r.field): r
            for r in avro_records(shards).collect()}
    assert rows[("a", 0, "id")].long_value == 7
    assert rows[("a", 0, "score")].double_value == 1.25
    assert rows[("a", 0, "text")].text == "hi"
    assert rows[("a", 1, "text")].kind == "null"
    assert rows[("a", 1, "text")].text is None
    assert ("b", -1, "_error") in rows


def test_delta_log_replay(spark):
    """Delta protocol snapshot rule: latest action per path wins,
    within-commit remove supersedes add, removes of never-added paths
    no-op, re-adds resurrect, and time travel caps the replay."""
    from torcdb_spark.sources.delta_log import (
        delta_active_files,
        delta_log_lines,
    )

    log = delta_log_lines(spark, [
        (0, [{"metaData": {"id": "t1", "schemaString": "{}"}},
             {"add": {"path": "a.parquet", "size": 10,
                      "partitionValues": {"d": "1"}, "dataChange": True}},
             {"add": {"path": "b.parquet", "size": 20,
                      "partitionValues": {"d": "1"}, "dataChange": True}}]),
        (1, [{"remove": {"path": "a.parquet", "dataChange": True}},
             {"add": {"path": "c.parquet", "size": 30,
                      "partitionValues": {"d": "2"}, "dataChange": True}}]),
        # within one commit: add then remove of the SAME path -> gone
        (2, [{"add": {"path": "d.parquet", "size": 40,
                      "partitionValues": {}, "dataChange": True}},
             {"remove": {"path": "d.parquet", "dataChange": True}},
             # remove of a never-added path must no-op
             {"remove": {"path": "ghost.parquet", "dataChange": True}}]),
        # re-add of a previously removed path resurrects it
        (3, [{"add": {"path": "a.parquet", "size": 11,
                      "partitionValues": {"d": "9"}, "dataChange": True}}]),
    ])

    latest = {r.path: r for r in delta_active_files(log).collect()}
    assert set(latest) == {"a.parquet", "b.parquet", "c.parquet"}
    assert latest["a.parquet"].size == 11  # the v3 re-add, not the v0 add
    assert latest["a.parquet"].added_version == 3
    assert latest["a.parquet"].partition_values == {"d": "9"}

    # time travel: at v1 the original a.parquet is gone, c present
    at1 = {r.path: r for r in delta_active_files(log, version=1).collect()}
    assert set(at1) == {"b.parquet", "c.parquet"}
    # at v0 both original files are active
    at0 = {r.path for r in delta_active_files(log, version=0).collect()}
    assert at0 == {"a.parquet", "b.parquet"}


def test_tfrecord_negative_int64():
    """ADVICE r11 (high): protobuf int64 is two's complement on the
    wire — a negative feature value arrives as a 10-byte varint of
    v + 2**64 and must fold back to the signed value, in BOTH the
    packed and unpacked Int64List paths, or the Arrow int64 conversion
    overflows and sinks the task outside the _error degradation."""
    from torcdb_spark.sources.tfrecord import (
        _varint,
        encode_example,
        parse_example,
    )

    # packed path: writer emits two's complement, parser folds it back
    vals = [-1, -(2**62), 0, 5, -42]
    got = parse_example(encode_example({"lbl": vals}))
    assert got["lbl"] == ("int64", vals)

    # unpacked path (legal wire form): same fold
    unpacked = b"".join(
        _varint(1 << 3 | 0) + _varint(v + (1 << 64) if v < 0 else v)
        for v in (-7, 8)
    )
    feat = _varint(3 << 3 | 2) + _varint(len(unpacked)) + unpacked
    key = b"\x0a\x01y"
    val = _varint(2 << 3 | 2) + _varint(len(feat)) + feat
    entry = key + val
    feats = _varint(1 << 3 | 2) + _varint(len(entry)) + entry
    example = _varint(1 << 3 | 2) + _varint(len(feats)) + feats
    assert parse_example(example)["y"] == ("int64", [-7, 8])


def test_tfrecord_negative_int64_dataframe(spark):
    """The negative fold must survive the Arrow fan-out: int_sum of a
    mixed-sign Int64List is exact, not a uint64 overflow kill."""
    from pyspark.sql import Row

    from torcdb_spark.sources.tfrecord import (
        encode_example,
        tfrecord_examples,
        write_tfrecords,
    )

    good = write_tfrecords([
        encode_example({"tokens": [-1, -2, 10], "text": ["neg ok"]}),
    ])
    shards = spark.createDataFrame([Row(path="a", content=bytearray(good))])
    rows = {(r.rec_idx, r.feature): r
            for r in tfrecord_examples(shards).collect()}
    assert rows[(0, "tokens")].int_sum == 7
    assert rows[(0, "tokens")].n_values == 3


def test_avro_union_branch_by_type():
    """ADVICE r11: union branch selection must match by value type,
    not first-non-null — ["null","long","string"] must route "hi" to
    the string branch and 5 to the long branch, round-tripping both."""
    from torcdb_spark.sources.avro import parse_avro, write_avro

    schema = {
        "type": "record", "name": "u", "fields": [
            {"name": "v", "type": ["null", "long", "string"]},
            {"name": "w", "type": ["null", "boolean", "int",
                                   {"type": "array", "items": "long"}]},
        ],
    }
    recs = [
        {"v": "hi", "w": True},
        {"v": 5, "w": [1, 2]},
        {"v": None, "w": 0},
        # bool-before-int ordering: True must pick boolean, not int
        {"v": "x", "w": False},
    ]
    assert parse_avro(write_avro(schema, recs)) == recs


def test_delta_log_intra_commit_resurrection(spark):
    """ADVICE r11: with a line-position column the replay is exact
    last-action-in-log-order — a commit that removes then re-adds the
    same path (intra-commit resurrection) keeps the file; without
    pos_col the documented remove-wins fallback drops it."""
    from torcdb_spark.sources.delta_log import (
        delta_active_files,
        delta_log_lines,
    )

    commits = [
        (0, [{"add": {"path": "a.parquet", "size": 10,
                      "partitionValues": {}, "dataChange": True}}]),
        # one commit: remove a, then RE-ADD it (resurrection), and the
        # reverse order for b (added earlier, add-then-remove here)
        (1, [{"add": {"path": "b.parquet", "size": 20,
                      "partitionValues": {}, "dataChange": True}},
             {"remove": {"path": "a.parquet", "dataChange": True}},
             {"add": {"path": "a.parquet", "size": 11,
                      "partitionValues": {}, "dataChange": True}},
             {"remove": {"path": "b.parquet", "dataChange": True}}]),
    ]
    log = delta_log_lines(spark, commits, with_pos=True)
    exact = {r.path: r
             for r in delta_active_files(log, pos_col="pos").collect()}
    assert set(exact) == {"a.parquet"}
    assert exact["a.parquet"].size == 11  # the intra-commit re-add

    # fallback without pos: remove-wins drops the resurrected file too
    fb = {r.path for r in delta_active_files(
        delta_log_lines(spark, commits)).collect()}
    assert fb == set()


def test_iceberg_snapshot_replay(spark):
    """Iceberg snapshot rule over the stdlib Avro decoder: live files =
    non-DELETED entries of exactly the manifests the current manifest
    list references — orphan manifests and DELETED entries must drop
    out, corrupt parts degrade instead of sinking the job."""
    from pyspark.sql import Row

    from torcdb_spark.sources.iceberg import (
        iceberg_live_files,
        write_manifest,
        write_manifest_list,
    )

    lists = spark.createDataFrame([
        Row(table_id=1, content=bytearray(
            write_manifest_list(["m1.avro", "m2.avro"]))),
        Row(table_id=2, content=bytearray(b"Obj corrupt")),
    ])
    manifests = spark.createDataFrame([
        Row(table_id=1, name="m1.avro", content=bytearray(write_manifest([
            (1, "a.parquet", 10, 100),
            (2, "dead.parquet", 99, 9),   # DELETED: excluded
            (0, "b.parquet", 20, 200),
        ]))),
        Row(table_id=1, name="m2.avro", content=bytearray(write_manifest([
            (1, "c.parquet", 30, 300),
        ]))),
        # orphan: valid manifest NOT referenced by the list
        Row(table_id=1, name="orphan.avro", content=bytearray(
            write_manifest([(1, "stale.parquet", 777, 7)]))),
    ])
    live = {r.file_path: r
            for r in iceberg_live_files(lists, manifests).collect()}
    assert set(live) == {"a.parquet", "b.parquet", "c.parquet"}
    assert live["b.parquet"].record_count == 20
    assert live["c.parquet"].manifest_path == "m2.avro"
    # corrupt list (table 2) produced no live rows and no exception
    assert all(r.table_id == 1 for r in live.values())


def test_arrow_ipc_columns(spark):
    """Arrow IPC census: file and stream framings auto-detect, integer
    sums and null counts per batch, string first-values, corrupt
    shards degrade to an _error row."""
    from pyspark.sql import Row

    from torcdb_spark.sources.arrow_ipc import (
        arrow_ipc_columns,
        write_arrow_ipc,
    )

    cols = {"ids": [1, 2, 3, 4], "txt": ["ab", None, "cd", "ef"]}
    shards = spark.createDataFrame([
        Row(path="f", content=bytearray(
            write_arrow_ipc(cols, [2, 2], file_format=True))),
        Row(path="s", content=bytearray(
            write_arrow_ipc(cols, [3, 1], file_format=False))),
        Row(path="bad", content=bytearray(b"not arrow at all")),
    ])
    rows = {(r.path, r.batch_idx, r.column): r
            for r in arrow_ipc_columns(shards).collect()}
    assert rows[("f", 0, "ids")].long_sum == 3
    assert rows[("f", 1, "ids")].long_sum == 7
    assert rows[("f", 0, "txt")].null_count == 1
    assert rows[("f", 0, "txt")].text_first == "ab"
    assert rows[("s", 0, "ids")].long_sum == 6
    assert rows[("s", 0, "ids")].n_rows == 3
    assert rows[("s", 1, "txt")].text_first == "ef"
    assert ("bad", -1, "_error") in rows


def test_parquet_footer_census(spark):
    """Footer census: geometry, physical types, statistics fold
    (min/max across row groups, null counts), corrupt files degrade."""
    from pyspark.sql import Row

    from torcdb_spark.sources.parquet_meta import (
        parquet_footer_census,
        write_parquet_bytes,
    )

    good = write_parquet_bytes(
        {"id": [5, None, 7, 8, 9], "s": list("abcde")}, row_group_size=2
    )
    shards = spark.createDataFrame([
        Row(path="g", content=bytearray(good)),
        Row(path="bad", content=bytearray(b"PAR1 but not really")),
    ])
    rows = {r.path: r for r in parquet_footer_census(shards).collect()}
    g = rows["g"]
    assert g.n_rows == 5 and g.n_row_groups == 3 and g.rg0_rows == 2
    assert g.col_names == "id,s" and g.col_types == "INT64,BYTE_ARRAY"
    assert g.id_min == 5 and g.id_max == 9 and g.n_nulls == 1
    assert rows["bad"].col_names == "_error"


def test_parse_fixed_width(spark):
    """Fixed-width parsing: right-trim strings, zero-padded longs,
    implied-decimal dec2, passthrough of non-line columns, and the
    unsupported-type contract."""
    import pytest as _pytest
    from pyspark.sql import Row

    from torcdb_spark.sources.ingest import parse_fixed_width

    df = spark.createDataFrame([
        Row(doc_id=1, line="00001234AB        0000567820260101Y"),
    ])
    specs = [
        ("rec_id", 1, 8, "long"),
        ("name", 9, 10, "str"),
        ("amount", 19, 8, "dec2"),
        ("posted", 27, 8, "str"),
        ("flag", 35, 1, "str"),
    ]
    r = parse_fixed_width(df, specs).first()
    assert r.doc_id == 1 and r.rec_id == 1234
    assert r.name == "AB" and r.amount == 56.78
    assert r.posted == "20260101" and r.flag == "Y"
    with _pytest.raises(ValueError):
        parse_fixed_width(df, [("x", 1, 2, "float16")])


def test_snappy_codec_roundtrip_and_vectors():
    """Pure-Python raw-snappy codec (VERDICT r12 ask #4): round-trips
    over literal/copy/overlap-heavy inputs, decodes hand-packed format
    vectors for every tag kind, and enforces the strict ValueError
    contracts (truncated varint/literal, offset before output start,
    preamble/output length disagreement)."""
    import random

    import pytest as _pytest

    from torcdb_spark.sources.snappy import (
        snappy_compress,
        snappy_decompress,
    )

    rng = random.Random(7)
    cases = [
        b"", b"a", b"x" * 200,
        b"the quick brown fox " * 500,  # copy-heavy
        bytes(rng.randrange(256) for _ in range(10000)),  # incompressible
        b"abcd" * 70000,  # forces 64-byte copy splitting + long literals
    ]
    for c in cases:
        assert snappy_decompress(snappy_compress(c)) == c

    # hand-packed vectors straight from the public format description
    assert snappy_decompress(bytes([9, 8 << 2]) + b"Wikipedia") == b"Wikipedia"
    # copy-1 with overlap (offset 3 < length 8): the RLE path
    v1 = bytes([11, 2 << 2]) + b"abc" + bytes([((8 - 4) << 2) | 1, 3])
    assert snappy_decompress(v1) == b"abcabcabcab"
    # copy-4 tag
    v4 = (bytes([8, 3 << 2]) + b"abcd"
          + bytes([((4 - 1) << 2) | 3]) + (4).to_bytes(4, "little"))
    assert snappy_decompress(v4) == b"abcdabcd"

    for bad in (
        b"",                                   # empty: no preamble
        bytes([200]),                          # truncated varint
        bytes([5, 8 << 2]) + b"Wikipedia",     # length != preamble
        bytes([4, ((4 - 4) << 2) | 1, 9]),     # offset beyond output
        bytes([3, 2 << 2]) + b"ab",            # truncated literal
    ):
        with _pytest.raises(ValueError):
            snappy_decompress(bad)


def test_avro_snappy_codec():
    """Avro OCF snappy codec: round-trip through write_avro/parse_avro,
    big-endian uncompressed-data CRC32 verified on read (corrupting
    either the CRC or the compressed preamble raises ValueError, and
    degrades to an _error row through the DataFrame fan-out)."""
    import pytest as _pytest

    from torcdb_spark.sources.avro import parse_avro, write_avro

    schema = {
        "type": "record", "name": "d", "fields": [
            {"name": "id", "type": "long"},
            {"name": "text", "type": ["null", "string"]},
        ],
    }
    recs = [{"id": i, "text": ("tok%d " % i) * 10} for i in range(25)]
    recs[3]["text"] = None
    raw = write_avro(schema, recs, codec="snappy", records_per_block=7)
    assert parse_avro(raw) == recs

    # corrupt the trailing CRC of the FIRST data block: header is
    # magic+meta+sync, so flip a byte 4 before the first block's sync
    sync = raw[-16:]
    first_sync_end = raw.index(sync) + 16
    second_sync = raw.index(sync, first_sync_end)
    bad = bytearray(raw)
    bad[second_sync - 1] ^= 0xFF
    with _pytest.raises(ValueError):
        parse_avro(bytes(bad))

    # corrupt the snappy preamble itself (first byte after the block's
    # count/size varints) — strict decode must refuse, not mis-frame
    bad2 = bytearray(raw)
    bad2[first_sync_end + 2] = 0xFF  # varint that never terminates
    with _pytest.raises(ValueError):
        parse_avro(bytes(bad2))


def test_gzip_member_lines(spark):
    """Multi-member .jsonl.gz fan-out: every member recovered with its
    index (a naive one-member gunzip would see only the first), bytes
    counted per member, corrupt/truncated streams degrade to a
    member_idx=-1 error row."""
    import gzip
    import io

    from pyspark.sql import Row

    from torcdb_spark.sources.ingest import gzip_member_lines

    def member(text: str) -> bytes:
        bio = io.BytesIO()
        with gzip.GzipFile(fileobj=bio, mode="wb", mtime=0) as gz:
            gz.write(text.encode("utf-8"))
        return bio.getvalue()

    shard = member('{"a":1}\n{"a":2}') + member('{"a":3}') + member("")
    truncated = member("x" * 100)[:-5]
    rows = gzip_member_lines(
        spark.createDataFrame([
            Row(path="good", content=bytearray(shard)),
            Row(path="plain", content=bytearray(b"not gzip at all")),
            Row(path="cut", content=bytearray(truncated)),
        ])
    ).collect()
    by_key = {(r.path, r.member_idx): r for r in rows}
    assert by_key[("good", 0)].payload == '{"a":1}\n{"a":2}'
    assert by_key[("good", 1)].payload == '{"a":3}'
    assert by_key[("good", 2)].payload == ""
    assert by_key[("good", 0)].n_bytes == 15
    assert len([r for r in rows if r.path == "good"]) == 3
    assert by_key[("plain", -1)].payload.startswith("_error")
    assert by_key[("cut", -1)].payload.startswith("_error")


def test_parquet_page_census(spark):
    """Column-chunk census one level below the footer: encoding sets,
    codec, per-row-group value counts, dictionary/page ordering, the
    size_eq relation (pinned only where the codec makes it lawful),
    and the _error degradation row."""
    from pyspark.sql import Row

    from torcdb_spark.sources.parquet_meta import (
        parquet_page_census,
        write_parquet_bytes,
    )

    plain = write_parquet_bytes(
        {"id": list(range(20)), "s": [f"v{i}" for i in range(20)]},
        row_group_size=8, compression="NONE", use_dictionary=False)
    snap = write_parquet_bytes(
        {"id": list(range(10))}, row_group_size=8,
        compression="snappy", use_dictionary=True)
    rows = parquet_page_census(spark.createDataFrame([
        Row(path="plain", content=bytearray(plain)),
        Row(path="snap", content=bytearray(snap)),
        Row(path="junk", content=bytearray(b"PAR1 not really")),
    ])).collect()
    by_key = {(r.path, r.rg_idx, r.col_name): r for r in rows}
    p0 = by_key[("plain", 0, "id")]
    assert p0.encodings == "PLAIN,RLE" and p0.codec == "UNCOMPRESSED"
    assert p0.num_values == 8 and p0.size_eq is True
    assert not p0.has_dict and p0.offset_ordered
    assert by_key[("plain", 2, "s")].num_values == 4
    s0 = by_key[("snap", 0, "id")]
    assert s0.encodings == "PLAIN,RLE,RLE_DICTIONARY"
    assert s0.codec == "SNAPPY" and s0.has_dict
    assert s0.size_eq is None and s0.offset_ordered
    assert by_key[("junk", -1, "_error")] is not None
