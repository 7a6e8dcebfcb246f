"""Table-maintenance operators: small-file compaction and layout stats.

The reference's storage engine compacts implicitly (RAMCloud log cleaning;
edge lists re-segment on append, TorcEdgeList.java). A parquet lakehouse
instead accretes small files from streaming sinks and incremental jobs, and
at 100 TB an uncompacted table turns every scan into a metadata storm (one
task + one footer read per tiny file). ``compact_files`` is the explicit
OPTIMIZE job: rewrite a directory to ~target-sized files, atomically.
``merge_upsert`` is the partition-scoped MERGE: its write is its only
working action, and it sizes its output with the same bytes-over-target
arithmetic, so repeated small merges do not accrete files either.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def table_file_stats(path: str, suffix: str = ".parquet") -> dict:
    """File count / total bytes / mean bytes for a table directory —
    the signal a maintenance scheduler triggers compaction on."""
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(suffix)
    ]
    sizes = [os.path.getsize(f) for f in files]
    total = sum(sizes)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "mean_bytes": (total / len(files)) if files else 0.0,
    }


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite ``path`` into ceil(total_bytes / target) files, optionally
    re-sorted (preserving a z-order/cluster layout through compaction).

    Writes to a sibling temp dir and swaps via rename — atomic on a real
    filesystem; on object stores the swap step would be a metastore/manifest
    pointer flip instead (the rewrite itself is identical). Returns
    before/after stats. Uses coalesce when shrinking (no shuffle: the
    common compaction case merges splits map-side) and repartition only
    when growing file count.
    """
    before = table_file_stats(path)
    n_files = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    df = spark.read.format(fmt).load(path)
    out = df.coalesce(n_files) if n_files <= max(1, before["n_files"]) else (
        df.repartition(n_files)
    )
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    tmp = f"{path}.compact.{os.getpid()}"
    out.write.format(fmt).mode("overwrite").save(tmp)
    old = f"{path}.old.{os.getpid()}"
    os.rename(path, old)
    os.rename(tmp, path)
    import shutil

    shutil.rmtree(old)
    after = table_file_stats(path)
    return {"before": before, "after": after, "target_files": n_files}


def merge_upsert(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    fmt: str = "parquet",
) -> dict:
    """MERGE (upsert) into a partition-directory table WITHOUT a table
    format: rewrite ONLY the partitions the updates touch, via dynamic
    partition overwrite — new keys append, existing keys take the update's
    row (latest-wins on the key).

    At 100 TB this is the difference between rewriting a table and
    rewriting the handful of day-partitions a CDC batch touches; the same
    operation under Delta/Iceberg is MERGE INTO, and this is its
    plain-parquet equivalent (atomicity is per-partition-directory — the
    manifest-level transaction is exactly what those formats add).

    The write is the only action that does work. The touched partition
    values are collected from the batch with no shuffle (no job at all for
    a driver-local batch); the update keys are broadcast into a left-anti
    join, which needs no dedup of its keys; the output is coalesced to
    ceil(touched-partition bytes / ``spark.sql.files.maxPartitionBytes``)
    tasks, sized by a driver-side listing, so repeated small merges do not
    grow the file count of a partition. The dynamic overwrite mode is a
    per-write option, not a session setting, so merges into different
    partitions may run from concurrent threads.

    Returns {"touched_partitions": [...]}, the sorted distinct partition
    values the batch wrote.
    """
    touched = sorted({r[0] for r in updates.select(partition_col).collect()})
    base = spark.read.format(fmt).load(base_path)
    current = base.where(F.col(partition_col).isin(touched))
    # latest-wins anti-join: keep current rows whose key is NOT updated
    survivors = current.join(
        F.broadcast(updates.select(*key_cols)), key_cols, "left_anti"
    )
    merged = survivors.unionByName(updates.select(*current.columns))
    dirs = [os.path.join(base_path, f"{partition_col}={v}") for v in touched]
    touched_bytes = sum(
        table_file_stats(d, f".{fmt}")["total_bytes"]
        for d in dirs if os.path.isdir(d)
    )
    target = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    (
        merged.coalesce(max(1, math.ceil(touched_bytes / target)))
        .write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .save(base_path)
    )
    return {"touched_partitions": touched}


def incremental_backfill(
    spark: SparkSession,
    source_dir: str,
    manifest_path: str,
    process,
    partition_col: str = "part",
) -> list:
    """Manifest-driven incremental backfill: run ``process(df_partition,
    partition_value)`` for every source partition NOT yet recorded in the
    manifest, then append the newly processed values — the batch analog
    of a streaming checkpoint, and how a 100 TB pipeline re-runs safely
    (a rerun after a crash processes only what the manifest is missing;
    a no-op rerun processes nothing).

    The manifest is a plain-text file of processed partition values, one
    per line, written atomically (temp + rename) AFTER all new partitions
    succeed — a crash mid-backfill re-processes the in-flight batch,
    never skips it, so ``process`` must be idempotent per partition
    (e.g. dynamic partition overwrite, merge_upsert). Partition values
    come from the source's hive-style directory names (``part=VALUE``),
    so discovery is a LISTING, not a scan.

    Returns the list of partition values processed this run."""
    prefix = f"{partition_col}="
    available = sorted(
        d[len(prefix):]
        for d in os.listdir(source_dir)
        if d.startswith(prefix)
        and os.path.isdir(os.path.join(source_dir, d))
    )
    done: set = set()
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            done = {ln.strip() for ln in f if ln.strip()}
    todo = [v for v in available if v not in done]
    for v in todo:
        pdf = spark.read.parquet(
            os.path.join(source_dir, f"{prefix}{v}")
        )
        process(pdf, v)
    if todo:
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            for v in sorted(done | set(todo)):
                f.write(v + "\n")
        os.replace(tmp, manifest_path)
    return todo
