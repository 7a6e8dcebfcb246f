"""Compaction rewrites a fragmented table to target-sized files with
identical data; multi-format ingestion round-trips the documents corpus
through JSONL and CSV byte-for-byte."""

import pyspark.sql.functions as F

from torcdb_spark.sources.ingest import ingest_documents, read_any
from torcdb_spark.sources.maintenance import compact_files, table_file_stats


def test_compact_small_files(spark, tmp_path, sf_dir):
    path = str(tmp_path / "frag")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.repartition(64).write.parquet(path)  # simulate a streaming sink's spray
    assert table_file_stats(path)["n_files"] == 64

    stats = compact_files(spark, path, target_file_bytes=4 * 1024 * 1024)
    assert stats["after"]["n_files"] < 64
    assert stats["after"]["n_files"] == stats["target_files"]
    # data unchanged
    a = li.groupBy().agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("s")
    ).first()
    b = spark.read.parquet(path).groupBy().agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("s")
    ).first()
    assert (a["n"], a["s"]) == (b["n"], b["s"])


def test_compact_preserves_sort_layout(spark, tmp_path, sf_dir):
    path = str(tmp_path / "sorted")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.repartition(32).write.parquet(path)
    compact_files(
        spark, path, target_file_bytes=8 * 1024 * 1024, sort_by=["l_partkey"]
    )
    import glob

    import pyarrow.parquet as pq

    for f in glob.glob(f"{path}/*.parquet"):
        t = pq.read_table(f, columns=["l_partkey"])
        vals = t.column("l_partkey").to_pylist()
        assert vals == sorted(vals)


def test_compact_partitioned_table_in_place(spark, tmp_path):
    """Each partition directory is compacted in place: the partition
    column stays a directory, with its type and its pruning."""
    import glob
    import os

    path = str(tmp_path / "parts")
    spark.range(3000).select(
        F.col("id"), (F.col("id") % 3 + 1).cast("string").alias("day")
    ).repartition(8).write.partitionBy("day").parquet(path)

    def layout():
        return {os.path.basename(d): len(glob.glob(f"{d}/*.parquet"))
                for d in glob.glob(f"{path}/day=*")}

    before = layout()
    schema = spark.read.parquet(path).schema
    rows = sorted(spark.read.parquet(path).collect())
    compact_files(spark, path)
    after = layout()
    assert set(after) == set(before) == {"day=1", "day=2", "day=3"}
    assert all(after[d] < before[d] for d in after)
    back = spark.read.parquet(path)
    assert back.schema == schema
    assert sorted(back.collect()) == rows
    plan = back.where("day = '1'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "PartitionFilters: []" not in plan


def test_ingest_documents_jsonl_and_csv(spark, tmp_path, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    jdir = str(tmp_path / "docs_jsonl")
    cdir = str(tmp_path / "docs_csv")
    docs.write.json(jdir)
    docs.write.option("header", "true").option("escape", '"').csv(cdir)

    back_j = ingest_documents(spark, jdir, fmt="json")
    back_c = ingest_documents(spark, cdir, fmt="csv")
    for back in (back_j, back_c):
        assert back.schema.fieldNames() == docs.schema.fieldNames()
        assert back.count() == docs.count()
        diff = docs.exceptAll(back)
        assert diff.isEmpty(), diff.limit(3).collect()


def test_ingest_recomputes_missing_n_chars(spark, tmp_path):
    jdir = str(tmp_path / "nochars")
    spark.createDataFrame(
        [(1, "s", "en", None, "hello world")],
        "doc_id long, source string, lang string, n_chars long, text string",
    ).write.json(jdir)
    out = ingest_documents(spark, jdir, fmt="json").first()
    assert out["n_chars"] == len("hello world")


def test_read_any_rejects_unknown_format(spark):
    import pytest

    with pytest.raises(ValueError):
        read_any(spark, "/nonexistent", fmt="avro")


def test_warc_roundtrip_and_distributed_fanout(spark):
    from torcdb_spark.sources.warc import parse_warc, warc_records, write_warc

    recs = [
        (
            {"WARC-Target-URI": f"http://x/{i}", "WARC-Type": "response"},
            f"body {i} \r\n tricky crlf data".encode(),
        )
        for i in range(5)
    ]
    for gz in (True, False):
        back = parse_warc(write_warc(recs, gzip_members=gz))
        assert [(h["WARC-Target-URI"], b) for _, h, b in back] == [
            (h["WARC-Target-URI"], b) for h, b in recs
        ]
    # offsets are monotone record starts in the decompressed stream
    offs = [o for o, _, _ in parse_warc(write_warc(recs))]
    assert offs == sorted(offs) and offs[0] == 0

    import pytest

    with pytest.raises(ValueError):
        parse_warc(b"WARC/1.0\r\nNoLen: 1\r\n\r\nxx")

    files = spark.createDataFrame(
        [
            ("a.warc.gz", bytearray(write_warc(recs))),
            ("bad.warc.gz", bytearray(b"\x1f\x8b garbage")),
        ],
        "path string, content binary",
    )
    rows = warc_records(files).collect()
    good = [r for r in rows if r.path == "a.warc.gz"]
    bad = [r for r in rows if r.path == "bad.warc.gz"]
    assert len(good) == 5
    assert sorted(r.target_uri for r in good) == sorted(
        h["WARC-Target-URI"] for h, _ in recs
    )
    assert all(bytes(r.payload) == b for r, (_, b) in zip(
        sorted(good, key=lambda r: r.record_offset), recs
    ))
    # poisoned archive yields an _error row, not a job failure
    assert len(bad) == 1 and bad[0].warc_type == "_error"


def test_tensor_codecs_roundtrip_and_fanout(spark):
    import io

    import numpy as np
    import pytest

    from torcdb_spark.sources.tensors import (
        parse_npy,
        parse_safetensors,
        vectors_from_npy,
        write_npy,
        write_safetensors,
    )

    rng = np.random.RandomState(0)
    for dt in (np.float32, np.float64, np.int32, np.int64):
        a = (rng.randn(7, 5) * 10).astype(dt)
        back = parse_npy(write_npy(a))
        assert back.dtype == a.dtype and (back == a).all()
    # numpy's own np.save output must parse identically
    buf = io.BytesIO()
    ref = rng.randn(4, 3).astype(np.float32)
    np.save(buf, ref)
    assert (parse_npy(buf.getvalue()) == ref).all()

    ts = {"emb": rng.randn(6, 4).astype(np.float32),
          "ids": np.arange(6, dtype=np.int64)}
    back = parse_safetensors(write_safetensors(ts))
    assert (back["emb"] == ts["emb"]).all() and (back["ids"] == ts["ids"]).all()

    with pytest.raises(ValueError):
        parse_npy(b"junk")
    with pytest.raises(ValueError):
        parse_safetensors(b"\x00" * 4)

    mat = rng.randn(5, 8).astype(np.float32)
    files = spark.createDataFrame(
        [("a.npy", bytearray(write_npy(mat))),
         ("bad.npy", bytearray(b"\x93NUMPYxx"))],
        "path string, content binary",
    )
    rows = vectors_from_npy(files).collect()
    good = sorted(
        (r for r in rows if r.path == "a.npy"), key=lambda r: r.row_idx
    )
    assert len(good) == 5
    for i, r in enumerate(good):
        assert np.allclose(r.vec, mat[i]) and r.err is None
    bad = [r for r in rows if r.path == "bad.npy"]
    assert len(bad) == 1 and bad[0].row_idx == -1 and bad[0].err


def test_zip_members_fanout(spark):
    import io
    import zipfile

    from torcdb_spark.sources.warc import zip_members

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("a/1.txt", "hello")
        zf.writestr("a/", "")            # directory entry: skipped
        zf.writestr("2.bin", b"\x00\x01\x02")
    files = spark.createDataFrame(
        [("ok.zip", bytearray(buf.getvalue())),
         ("bad.zip", bytearray(b"PK\x03\x04garbage"))],
        "path string, content binary",
    )
    rows = zip_members(files).collect()
    ok = {r.member: bytes(r.payload) for r in rows if r.path == "ok.zip"}
    assert ok == {"a/1.txt": b"hello", "2.bin": b"\x00\x01\x02"}
    bad = [r for r in rows if r.path == "bad.zip"]
    assert len(bad) == 1 and bad[0].member == "_error"


def test_incremental_backfill_manifest(spark, tmp_path):
    """Backfill processes only unseen partitions, records them, and is a
    no-op on rerun; a new partition landing later is picked up alone."""
    import pyspark.sql.functions as F

    from torcdb_spark.sources.maintenance import incremental_backfill

    src = str(tmp_path / "src")
    spark.range(30).select(
        "id", (F.col("id") % 3).cast("string").alias("part")
    ).write.partitionBy("part").parquet(src)
    manifest = str(tmp_path / "manifest.txt")
    seen = []

    def process(df, v):
        seen.append((v, df.count()))

    first = incremental_backfill(spark, src, manifest, process)
    assert sorted(first) == ["0", "1", "2"]
    assert sorted(v for v, _ in seen) == ["0", "1", "2"]
    assert all(n == 10 for _, n in seen)

    # rerun: nothing new
    seen.clear()
    assert incremental_backfill(spark, src, manifest, process) == []
    assert seen == []

    # late partition arrives: only it is processed
    spark.range(5).select(
        "id", F.lit("9").alias("part")
    ).write.mode("append").partitionBy("part").parquet(src)
    assert incremental_backfill(spark, src, manifest, process) == ["9"]
    assert seen == [("9", 5)]


def test_tar_members_fanout_webdataset_keys(spark):
    import io
    import tarfile

    from torcdb_spark.sources.warc import tar_members

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, body in (
            ("000/0001.txt", b"hello"),
            ("000/0001.json", b'{"a":1}'),
            ("000/0002.txt", b"world!"),
            ("noext", b"x"),
        ):
            info = tarfile.TarInfo(name=name)
            info.size = len(body)
            tf.addfile(info, io.BytesIO(body))
        d = tarfile.TarInfo(name="000/")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)  # dir member: skipped
    files = spark.createDataFrame(
        [("shard0", buf.getvalue()), ("bad", b"not a tar")],
        "path string, content binary",
    )
    rows = {(r.path, r.member): r for r in tar_members(files).collect()}
    assert rows[("shard0", "000/0001.txt")].payload == b"hello"
    assert rows[("shard0", "000/0001.txt")].key == "0001"
    assert rows[("shard0", "000/0001.json")].key == "0001"  # same sample
    assert rows[("shard0", "000/0002.txt")].n_bytes == 6
    assert rows[("shard0", "noext")].key == "noext"
    assert ("shard0", "000/") not in rows  # directory skipped
    assert rows[("bad", "_error")].n_bytes == 0  # poisoned archive


def test_vectors_from_safetensors_fanout(spark):
    import numpy as np

    from torcdb_spark.sources.tensors import (
        vectors_from_safetensors,
        write_safetensors,
    )

    a = np.arange(6, dtype=np.float32).reshape(2, 3)
    b = np.arange(8, dtype=np.float32).reshape(4, 2) * 0.5
    blob = write_safetensors({"b": b, "a": a})
    files = spark.createDataFrame(
        [("f0", blob), ("bad", b"\x00" * 4)], "path string, content binary"
    )
    rows = vectors_from_safetensors(files).collect()
    good = {(r.tensor, r.row_idx): r.vec for r in rows if r.path == "f0"}
    assert good[("a", 0)] == [0.0, 1.0, 2.0]
    assert good[("a", 1)] == [3.0, 4.0, 5.0]
    assert good[("b", 3)] == [3.0, 3.5]
    assert len(good) == 6  # 2 + 4 vectors
    err = [r for r in rows if r.path == "bad"]
    assert len(err) == 1 and err[0].row_idx == -1 and err[0].err
