"""Table-maintenance operators: small-file compaction, layout stats, MERGE.

The reference's storage engine compacts implicitly: a write prepends to
the head segment of an edge list (TorcEdgeList.java) and RAMCloud's log
cleaner reclaims space later. A parquet lakehouse instead accretes small
files from streaming sinks and incremental jobs, and at 100 TB an
uncompacted table turns every scan into a metadata storm (one task + one
footer read per tiny file). ``compact_files`` is the explicit OPTIMIZE
job: rewrite each data directory to ~target-sized files, atomically.
``merge_upsert`` is the MERGE, and its fold is the cleaner: a write
rewrites the files its keys can hit plus the small files no larger than
what it already writes, so a partition holds its base file and
O(log writes) small ones, and every key stays in exactly one file.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (``_SUCCESS``, ``.crc``, temp dirs)."""
    return name.startswith(("_", "."))


def _data_files(path: str, suffix: str = "") -> dict[str, list[str]]:
    """{directory: sorted data files} for every directory under ``path``
    that holds data files, skipping what Spark's listing skips."""
    out = {}
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not _hidden(x)]
        fs = [os.path.join(d, f) for f in files
              if f.endswith(suffix) and not _hidden(f)]
        if fs:
            out[d] = sorted(fs)
    return out


def _with_checksum(path: str) -> list[str]:
    """A data file and the Hadoop ``.crc`` file beside it, if any."""
    d, name = os.path.split(path)
    crc = os.path.join(d, f".{name}.crc")
    return [path, crc] if os.path.exists(crc) else [path]


def table_file_stats(path: str, suffix: str = ".parquet") -> dict:
    """File count / total bytes / mean bytes for a table directory,
    partition directories included — the signal a maintenance scheduler
    triggers compaction on."""
    sizes = [os.path.getsize(f) for fs in _data_files(path, suffix).values()
             for f in fs]
    total = sum(sizes)
    return {
        "n_files": len(sizes),
        "total_bytes": total,
        "mean_bytes": (total / len(sizes)) if sizes else 0.0,
    }


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite each data directory of ``path`` (the table itself, or every
    ``col=value`` leaf of a partitioned table) into ceil(its bytes /
    target) files, optionally re-sorted (preserving a z-order/cluster
    layout through compaction). Partition directories stay where they
    are, so a partition column keeps its type and its pruning.

    Each directory is written to a hidden sibling and swapped in by
    rename — atomic per directory on a real filesystem; on object stores
    the swap step would be a metastore/manifest pointer flip instead (the
    rewrite itself is identical). Returns before/after stats and the
    summed target file count. Uses coalesce when shrinking (no shuffle:
    the common compaction case merges splits map-side) and repartition
    only when growing file count.
    """
    before = table_file_stats(path, "")
    target_files = 0
    for leaf, files in _data_files(path).items():
        n_files = max(1, math.ceil(
            sum(os.path.getsize(f) for f in files) / target_file_bytes))
        target_files += n_files
        df = spark.read.format(fmt).load(leaf)
        out = df.coalesce(n_files) if n_files <= len(files) else (
            df.repartition(n_files)
        )
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)
        parent, name = os.path.split(leaf.rstrip("/"))
        token = uuid.uuid4().hex
        tmp = os.path.join(parent, f".{name}.compact-{token}")
        old = os.path.join(parent, f".{name}.old-{token}")
        out.write.format(fmt).save(tmp)
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)
    after = table_file_stats(path, "")
    return {"before": before, "after": after, "target_files": target_files}


def _provable(v) -> bool:
    """A value a footer min/max can rule out: not NULL, not NaN, and of a
    type whose Python order is the parquet statistics order."""
    return isinstance(v, (int, float, str, bytes)) and v == v


def _footer(path: str, cols: list[str]):
    """(rows, row groups) from a parquet file's footer, each row group one
    (min, max) per column of ``cols``, or None where its statistics prove
    nothing (missing, not provable, or the column is not in the file).
    None when the footer does not parse. Reads no data page."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(path)
    except (OSError, ValueError):  # not parquet, or a torn footer
        return None
    index = {md.schema.column(i).path: i for i in range(md.num_columns)}
    groups = []
    for g in range(md.num_row_groups):
        rg, spans = md.row_group(g), []
        for c in cols:
            st = rg.column(index[c]).statistics if c in index else None
            ok = (st is not None and st.has_min_max
                  and _provable(st.min) and _provable(st.max))
            spans.append((st.min, st.max) if ok else None)
        groups.append(spans)
    return md.num_rows, groups


def _within(v, span) -> bool:
    if span is None:
        return True
    try:
        return span[0] <= v <= span[1]
    except TypeError:  # e.g. a str key against bytes statistics
        return True


def _may_hold(groups, keys) -> bool:
    """False only when every row group's min/max rule out every key."""
    return any(all(_within(v, s) for v, s in zip(key, spans))
               for spans in groups for key in keys)


def _rewrite_set(files, cols, keys, batch_rows, fmt):
    """The files of one partition a merge rewrites — those whose footer
    cannot rule out a key, then, smallest first, every file no larger
    (in rows) than what is chosen so far — and the estimated bytes of
    the output, at the partition's bytes per row."""
    wild = not all(_provable(v) for key in keys for v in key)
    size = {f: os.path.getsize(f) for f in files}
    feet = {f: _footer(f, cols) if fmt == "parquet" else None for f in files}
    read = [f for f in files if feet[f] is not None]
    bytes_per_row = (sum(size[f] for f in read)
                     / max(1, sum(feet[f][0] for f in read)))
    hits = [f for f in files
            if feet[f] is None or wild or _may_hold(feet[f][1], keys)]
    rows = batch_rows + sum(feet[f][0] for f in hits if feet[f] is not None)
    for n, f in sorted((feet[f][0], f) for f in read if f not in hits):
        if n > rows:
            break
        hits.append(f)
        rows += n
    return hits, sum(size[f] for f in hits) + batch_rows * bytes_per_row


def merge_upsert(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    fmt: str = "parquet",
) -> dict:
    """MERGE (upsert) into a partition-directory table WITHOUT a table
    format: new keys append, existing keys take the update's row
    (latest-wins on the key), and a write rewrites only the files the
    batch's keys can hit, not whole partitions.

    The batch is persisted (MEMORY_AND_DISK, so a large CDC batch spills)
    and evaluated once: collecting its (partition, key) columns is the one
    job that runs its plan; the key broadcast and the write read the
    cache. A batch evaluated three times need not return the same rows
    each time, which is also why Delta's MERGE reads its source once.

    For each touched partition directory the driver reads every data
    file's parquet footer (no Spark job). A file is left alone when the
    row-group min/max of the non-partition key columns rule out every
    batch key. Missing statistics, a key column absent from the file, and
    a NULL, NaN or non-int/float/str/bytes value all count as a possible
    hit. When ``partition_col`` is not a key column, every key is tested
    against every touched partition, as the anti-join then matches across
    partitions. A non-parquet ``fmt`` counts every file as a hit, so the
    touched partitions are rewritten whole.

    The fold is the table's cleaner, size-tiered: a file no larger than
    what is already chosen for output (the hit files plus the batch) is
    rewritten too, smallest first. Sizes are footer row counts — bytes at
    the partition's bytes per row — so a small file's own footer does not
    keep it from folding. A partition then holds its base file plus
    O(log writes) small files, and the base is rewritten only when a key
    hits it or the small files outgrow it.

    The chosen files are read with the batch's schema pinned (no
    inference job), anti-joined against the broadcast batch keys, unioned
    with the batch, coalesced to ceil(output bytes /
    ``spark.sql.files.maxPartitionBytes``) tasks and written under a
    ``_merge-<uuid>`` directory of the table, which Spark's listing skips.
    The new files then move into their partition directories, and the
    replaced files are deleted. Atomicity is per file: a reader that
    lists between the two steps sees an updated key twice, as a reader of
    a directory swap would find the partition missing; the manifest-level
    transaction is what Delta/Iceberg add. Merges into different
    partitions may run from concurrent threads.

    Returns {"touched_partitions": the sorted distinct partition values
    of the batch, "replaced_files": the files deleted, "written_files":
    the files added}.
    """
    owned = not updates.is_cached
    batch = updates.persist(StorageLevel.MEMORY_AND_DISK) if owned else updates
    tmp = os.path.join(base_path, f"_merge-{uuid.uuid4().hex}")
    chosen, written = [], []
    try:
        others = [c for c in key_cols if c != partition_col]
        parts: dict = {}  # partition value as a string -> [value, keys, rows]
        for v, s, *key in batch.select(
            partition_col, F.col(partition_col).cast("string"), *others
        ).collect():
            p = parts.setdefault(s, [v, [], 0])
            p[1].append(key)
            p[2] += 1
        if not parts:
            return {"touched_partitions": [], "replaced_files": [],
                    "written_files": []}
        every_key = [k for p in parts.values() for k in p[1]]
        path_of = (spark._jvm.org.apache.spark.sql.catalyst.catalog
                   .ExternalCatalogUtils.getPartitionPathString)
        out_bytes = 0.0
        for s, (_, keys, n) in parts.items():
            d = os.path.join(base_path, path_of(partition_col, s))
            files, est = _rewrite_set(
                [f for fs in _data_files(d).values() for f in fs], others,
                keys if partition_col in key_cols else every_key, n, fmt)
            chosen += files
            out_bytes += est
        merged = batch
        if chosen:
            current = (spark.read.schema(batch.schema)
                       .option("basePath", base_path).format(fmt).load(chosen))
            merged = current.join(
                F.broadcast(batch.select(*key_cols)), key_cols, "left_anti"
            ).unionByName(batch)
        target = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        (
            merged.coalesce(max(1, math.ceil(out_bytes / target)))
            .write.format(fmt)
            .partitionBy(partition_col)
            .save(tmp)
        )
        for d, fs in _data_files(tmp).items():
            dest = os.path.join(base_path, os.path.relpath(d, tmp))
            os.makedirs(dest, exist_ok=True)
            for f in fs:
                for part in _with_checksum(f):
                    os.rename(part, os.path.join(dest, os.path.basename(part)))
                written.append(os.path.join(dest, os.path.basename(f)))
        for f in chosen:
            for part in _with_checksum(f):
                os.remove(part)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if owned:
            batch.unpersist()
    return {
        "touched_partitions": sorted((p[0] for p in parts.values()),
                                     key=lambda v: (v is None, v)),
        "replaced_files": chosen,
        "written_files": written,
    }


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
