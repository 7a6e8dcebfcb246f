"""merge_upsert: MERGE semantics — updates win on key, new keys append —
and its file-level write: a file the batch's keys cannot hit is left
physically alone, the batch is evaluated once, and small files fold."""

import glob
import math
import os
import threading

import pytest
from pyspark.sql import functions as F

from torcdb_spark.sources.maintenance import merge_upsert


def _mk_base(spark, path):
    spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0),
         (3, "2024-01-02", 30.0), (4, "2024-01-03", 40.0)],
        "k long, day string, v double",
    ).write.partitionBy("day").parquet(path)


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_base(spark, path)
    updates = spark.createDataFrame(
        [(2, "2024-01-01", 99.0),   # update existing key
         (5, "2024-01-02", 50.0)],  # new key in existing partition
        "k long, day string, v double",
    )
    stats = merge_upsert(spark, path, updates, ["k"], "day")
    assert stats["touched_partitions"] == ["2024-01-01", "2024-01-02"]
    got = {
        # partition-column type inference reads day= back as DATE;
        # stringify for a layout-independent compare
        r["k"]: (str(r["day"]), r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        1: ("2024-01-01", 10.0),
        2: ("2024-01-01", 99.0),
        3: ("2024-01-02", 30.0),
        4: ("2024-01-03", 40.0),
        5: ("2024-01-02", 50.0),
    }


def test_merge_upsert_leaves_untouched_partitions_alone(spark, tmp_path):
    path = str(tmp_path / "tbl2")
    _mk_base(spark, path)
    before = set(glob.glob(f"{path}/day=2024-01-03/*.parquet"))
    mtimes = {f: os.path.getmtime(f) for f in before}
    updates = spark.createDataFrame(
        [(1, "2024-01-01", 11.0)], "k long, day string, v double"
    )
    merge_upsert(spark, path, updates, ["k"], "day")
    after = set(glob.glob(f"{path}/day=2024-01-03/*.parquet"))
    assert after == before
    for f in after:
        assert os.path.getmtime(f) == mtimes[f]
    # the merge writes files itself; the session conf is untouched
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    ) != "dynamic"


def _rows(spark, path):
    return {r["k"]: (str(r["day"]), r["v"]) for r in spark.read.parquet(path).collect()}


def test_merge_upsert_concurrent_threads(spark, tmp_path):
    """Two threads merge into different partitions at the same time: both
    batches land and the third partition keeps its files. A session-wide
    overwrite-mode flip would let one thread's write run in static mode
    and replace the whole table."""
    path = str(tmp_path / "tbl3")
    _mk_base(spark, path)
    untouched = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/day=2024-01-03/*.parquet")
    }
    batches = [
        spark.createDataFrame([(1, "2024-01-01", 11.0), (6, "2024-01-01", 60.0)],
                              "k long, day string, v double"),
        spark.createDataFrame([(3, "2024-01-02", 33.0), (7, "2024-01-02", 70.0)],
                              "k long, day string, v double"),
    ]
    start = threading.Barrier(len(batches))
    errors = []

    def merge(batch):
        try:
            start.wait()
            merge_upsert(spark, path, batch, ["k"], "day")
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=merge, args=(b,)) for b in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert _rows(spark, path) == {
        1: ("2024-01-01", 11.0),
        2: ("2024-01-01", 20.0),
        3: ("2024-01-02", 33.0),
        4: ("2024-01-03", 40.0),
        6: ("2024-01-01", 60.0),
        7: ("2024-01-02", 70.0),
    }
    assert {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/day=2024-01-03/*.parquet")
    } == untouched
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    ) != "dynamic"


def test_merge_upsert_runs_at_most_three_jobs(spark, tmp_path, jobs_of):
    """The batch's (partition, key) collect, the key broadcast and the
    write: no count, no schema inference, no shuffle to find the touched
    partitions."""
    path = str(tmp_path / "tbl4")
    _mk_base(spark, path)
    updates = spark.createDataFrame(
        [(2, "2024-01-01", 99.0)], "k long, day string, v double"
    )
    _, jobs = jobs_of(lambda: merge_upsert(spark, path, updates, ["k"], "day"))
    assert 1 <= jobs <= 3
    assert _rows(spark, path)[2] == ("2024-01-01", 99.0)


def test_merge_upsert_does_not_grow_file_count(spark, tmp_path):
    """Repeated small merges into one partition keep it at one file: the
    output is coalesced to the partition's size over maxPartitionBytes."""
    path = str(tmp_path / "tbl5")
    _mk_base(spark, path)
    for i in range(3):
        updates = spark.createDataFrame(
            [(10 + i, "2024-01-01", float(i)), (11 + i, "2024-01-01", 1.0)],
            "k long, day string, v double",
        ).repartition(2)
        merge_upsert(spark, path, updates, ["k"], "day")
    assert len(glob.glob(f"{path}/day=2024-01-01/*.parquet")) == 1
    assert len(_rows(spark, path)) == 4 + 4


def _files(path, part):
    """path -> (size, mtime) of every data file of one partition."""
    return {f: (os.stat(f).st_size, os.stat(f).st_mtime_ns)
            for f in glob.glob(f"{path}/{part}/*.parquet")}


def _mk_large_base(spark, path):
    """One 1000-row file holding keys 0..999 of day=2024-01-01: large
    enough that a 2-row batch's fold does not reach it."""
    spark.range(1000).select(
        F.col("id").alias("k"), F.lit("2024-01-01").alias("day"),
        F.col("id").cast("double").alias("v"),
    ).coalesce(1).write.partitionBy("day").parquet(path)


def test_merge_upsert_leaves_files_outside_key_range_alone(spark, tmp_path):
    path = str(tmp_path / "range")
    _mk_large_base(spark, path)
    base = _files(path, "day=2024-01-01")
    updates = spark.createDataFrame(
        [(5000, "2024-01-01", 1.0), (5001, "2024-01-01", 2.0)],
        "k long, day string, v double",
    )
    stats = merge_upsert(spark, path, updates, ["k"], "day")
    assert stats["replaced_files"] == []
    after = _files(path, "day=2024-01-01")
    assert {f: after[f] for f in base} == base  # same path, size and mtime
    assert set(after) - set(base) == set(stats["written_files"])
    rows = _rows(spark, path)
    assert len(rows) == 1002 and rows[5001] == ("2024-01-01", 2.0)


def test_merge_upsert_rewrites_the_file_an_update_hits(spark, tmp_path):
    """An update to a key an earlier merge wrote replaces that merge's
    file, and the key is held once, with the new value."""
    path = str(tmp_path / "hit")
    _mk_large_base(spark, path)
    base = _files(path, "day=2024-01-01")
    first = merge_upsert(spark, path, spark.createDataFrame(
        [(5000, "2024-01-01", 1.0)], "k long, day string, v double"),
        ["k"], "day")
    second = merge_upsert(spark, path, spark.createDataFrame(
        [(5000, "2024-01-01", 7.0)], "k long, day string, v double"),
        ["k"], "day")
    assert second["replaced_files"] == first["written_files"]
    assert not any(os.path.exists(f) for f in first["written_files"])
    after = _files(path, "day=2024-01-01")
    assert {f: after[f] for f in base} == base
    got = spark.read.parquet(path).where("k = 5000").collect()
    assert [r["v"] for r in got] == [7.0]


def test_merge_upsert_evaluates_the_batch_once(spark, tmp_path):
    """A key column made by a Python UDF counts its evaluations in an
    accumulator: the collect, the key broadcast and the write all read one
    cached evaluation of the batch."""
    path = str(tmp_path / "once")
    _mk_base(spark, path)
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def key(i):
        calls.add(1)
        return i

    updates = spark.range(2, 8).select(
        key(F.col("id")).alias("k"), F.lit("2024-01-01").alias("day"),
        F.lit(5.0).alias("v"),
    )
    merge_upsert(spark, path, updates, ["k"], "day")
    assert calls.value == 6
    rows = _rows(spark, path)
    assert len(rows) == 7 and rows[2] == ("2024-01-01", 5.0)


def test_merge_upsert_matches_keys_across_partitions(spark, tmp_path):
    """With the partition column outside the key, a key moved to another
    touched partition leaves its old partition."""
    path = str(tmp_path / "across")
    _mk_base(spark, path)
    merge_upsert(spark, path, spark.createDataFrame(
        [(3, "2024-01-01", 33.0), (9, "2024-01-02", 90.0)],
        "k long, day string, v double"), ["k"], "day")
    rows = spark.read.parquet(path).collect()
    assert sorted((r["k"], str(r["day"]), r["v"]) for r in rows) == [
        (1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0),
        (3, "2024-01-01", 33.0), (4, "2024-01-03", 40.0),
        (9, "2024-01-02", 90.0),
    ]


def _pairs(spark, path, fmt="parquet"):
    return sorted(
        (repr(r["k"]), r["v"]) for r in spark.read.format(fmt).load(path).collect()
    )


@pytest.mark.parametrize("schema, base, batch, want", [
    # a NULL key matches nothing, as in the anti-join: the NULL-keyed row
    # is kept and the batch's NULL-keyed row is added
    ("k long, day string, v double",
     [(None, "d", 1.0), (1, "d", 2.0)], [(None, "d", 3.0), (1, "d", 4.0)],
     [("1", 4.0), ("None", 1.0), ("None", 3.0)]),
    # Spark's join matches NaN to NaN, so a NaN key replaces its row
    ("k double, day string, v double",
     [(float("nan"), "d", 1.0), (1.0, "d", 2.0)], [(float("nan"), "d", 3.0)],
     [("1.0", 2.0), ("nan", 3.0)]),
], ids=["null", "nan"])
def test_merge_upsert_keys_no_footer_rules_out(spark, tmp_path, schema, base,
                                               batch, want):
    path = str(tmp_path / "tbl")
    spark.createDataFrame(base, schema).coalesce(1) \
        .write.partitionBy("day").parquet(path)
    merge_upsert(spark, path, spark.createDataFrame(batch, schema), ["k"], "day")
    assert _pairs(spark, path) == want


def test_merge_upsert_binary_key(spark, tmp_path):
    """The graph's case: binary ids. A key above the file's byte range
    leaves it alone; a key inside it replaces its row."""
    path = str(tmp_path / "binary")
    schema = "k binary, day string, v double"
    spark.createDataFrame(
        [(b"\x00\x01", "d", 1.0), (b"\x00\x05", "d", 2.0)], schema
    ).coalesce(1).write.partitionBy("day").parquet(path)
    first = merge_upsert(spark, path, spark.createDataFrame(
        [(b"\xff", "d", 3.0)], schema), ["k"], "day")
    assert first["replaced_files"] == []
    merge_upsert(spark, path, spark.createDataFrame(
        [(b"\x00\x05", "d", 4.0)], schema), ["k"], "day")
    assert _pairs(spark, path) == [
        ("b'\\x00\\x01'", 1.0), ("b'\\x00\\x05'", 4.0), ("b'\\xff'", 3.0)]


def test_merge_upsert_orc_rewrites_every_touched_file(spark, tmp_path):
    path = str(tmp_path / "orc")
    schema = "k long, day string, v double"
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)], schema
    ).write.partitionBy("day").orc(path)
    touched = sorted(f for f in glob.glob(f"{path}/day=a/*.orc"))
    untouched = sorted(glob.glob(f"{path}/day=b/*.orc"))
    stats = merge_upsert(spark, path, spark.createDataFrame(
        [(9, "a", 9.0)], schema), ["k"], "day", fmt="orc")
    assert sorted(stats["replaced_files"]) == touched
    assert sorted(glob.glob(f"{path}/day=b/*.orc")) == untouched
    assert _pairs(spark, path, "orc") == [
        ("1", 1.0), ("2", 2.0), ("3", 3.0), ("9", 9.0)]


def test_merge_upsert_folds_small_files(spark, tmp_path):
    """16 merges of disjoint keys into one partition: no merge hits an
    earlier file, and the size-tiered fold keeps the partition at
    O(log merges) files."""
    path = str(tmp_path / "fold")
    _mk_base(spark, path)
    for i in range(16):
        merge_upsert(spark, path, spark.createDataFrame(
            [(100 + 2 * i, "2024-01-01", 1.0), (101 + 2 * i, "2024-01-01", 2.0)],
            "k long, day string, v double"), ["k"], "day")
    assert len(glob.glob(f"{path}/day=2024-01-01/*.parquet")) <= 1 + math.log2(16)
    assert len(_rows(spark, path)) == 4 + 32
