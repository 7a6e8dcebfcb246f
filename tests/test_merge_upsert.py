"""merge_upsert: partition-scoped MERGE semantics — updates win on key,
new keys append, untouched partitions' files are left physically alone."""

import glob
import os
import threading

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
    # the dynamic mode is a per-write option; the session conf is untouched
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


def test_merge_upsert_runs_at_most_four_jobs(spark, tmp_path, jobs_of):
    """Batch partition values, base schema, broadcast keys, the write: no
    count, and no shuffle to find the touched partitions."""
    path = str(tmp_path / "tbl4")
    _mk_base(spark, path)
    updates = spark.createDataFrame(
        [(2, "2024-01-01", 99.0)], "k long, day string, v double"
    )
    _, jobs = jobs_of(lambda: merge_upsert(spark, path, updates, ["k"], "day"))
    assert 1 <= jobs <= 4
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
