"""Apache Iceberg snapshot replay — by composition, no Iceberg runtime.

Iceberg's table state (the public spec, iceberg.apache.org/spec) is a
two-level Avro metadata tree: the current snapshot names ONE
manifest-list file (one row per manifest: path, length, snapshot id),
and each manifest file holds entries whose ``status``
(0=EXISTING / 1=ADDED / 2=DELETED) and nested ``data_file`` record
describe the data files.  The live file set of a snapshot is exactly
the non-DELETED entries of the manifests its manifest list references
— no cross-snapshot reconciliation (that is the difference from the
Delta log replay in sources/delta_log.py, where state is a fold over
the whole action history).

This module reads that tree with the repo's own stdlib Avro OCF
decoder (sources/avro.py — zigzag varints, nested records, block sync
verification) in two passes of the Arrow-batched payload kernel
(``payload_rows``, torcdb_spark/functions/payload.py), then composes the
snapshot relationally: manifest-list entries JOIN manifest entries on
(table, manifest path), filter status != 2.  Manifests not referenced
by the current list (older snapshots, compaction leftovers) drop out
of the join — the correctness property the orphan-manifest test pins.
At 100 TB the manifests arrive as binaryFile rows, one task per file;
the join shuffles only (table, path) keys, never file contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from torcdb_spark.functions.payload import payload_rows
from torcdb_spark.sources.avro import parse_avro, write_avro

# Spec-shaped (simplified field subset) writer schemas for fixtures
MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

MANIFEST_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {"name": "data_file", "type": {
            "type": "record", "name": "data_file", "fields": [
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
            ],
        }},
    ],
}

STATUS_EXISTING, STATUS_ADDED, STATUS_DELETED = 0, 1, 2


def manifest_list_entries(lists: DataFrame) -> DataFrame:
    """(table, manifest-list bytes) rows → one row per referenced
    manifest: ``table_id, manifest_path, added_snapshot_id``.
    Unparseable lists degrade to a ``manifest_path='_error'`` row."""

    def parse(content):
        try:
            return [(rec["manifest_path"], rec["added_snapshot_id"])
                    for rec in parse_avro(content)]
        except ValueError:
            return [("_error", -1)]

    return payload_rows(
        lists.select("table_id", "content"),
        parse,
        "table_id long, manifest_path string, added_snapshot_id long",
    )


def manifest_entries(manifests: DataFrame) -> DataFrame:
    """(table, manifest name, manifest bytes) rows → one row per entry:
    ``table_id, manifest_path, status, file_path, record_count,
    file_size_in_bytes`` with the nested data_file record flattened.
    Unparseable manifests degrade to a ``file_path='_error'`` row."""

    fields = ("file_path", "record_count", "file_size_in_bytes")

    def parse(content):
        try:
            return [(rec["status"], *(rec["data_file"][k] for k in fields))
                    for rec in parse_avro(content)]
        except ValueError:
            return [(-1, "_error", 0, 0)]

    return payload_rows(
        manifests.select("table_id", "name", "content"),
        parse,
        "table_id long, manifest_path string, status int, "
        "file_path string, record_count long, file_size_in_bytes long",
    )


def iceberg_live_files(
    lists: DataFrame,
    manifests: DataFrame,
) -> DataFrame:
    """The snapshot rule: live data files = non-DELETED entries of
    exactly the manifests the current manifest list references.
    ``lists`` is (table_id, content); ``manifests`` is (table_id,
    name, content).  Returns one row per live file: ``table_id,
    manifest_path, file_path, record_count, file_size_in_bytes``.
    Orphan manifests (present on storage, absent from the list) and
    DELETED entries drop out — the two ways a naive directory listing
    over-counts an Iceberg table."""
    refs = manifest_list_entries(lists).where(
        F.col("manifest_path") != "_error"
    )
    entries = manifest_entries(manifests)
    return (
        refs.join(entries, ["table_id", "manifest_path"])
        .where(F.col("status") != STATUS_DELETED)
        .select(
            "table_id",
            "manifest_path",
            "file_path",
            "record_count",
            "file_size_in_bytes",
        )
    )


def write_manifest_list(manifest_names, snapshot_id: int = 1) -> bytes:
    """Fixture synthesis: manifest names → manifest-list Avro bytes."""
    return write_avro(
        MANIFEST_LIST_SCHEMA,
        [
            {"manifest_path": n, "manifest_length": 0,
             "added_snapshot_id": snapshot_id}
            for n in manifest_names
        ],
    )


def write_manifest(entries, snapshot_id: int = 1) -> bytes:
    """Fixture synthesis: (status, file_path, record_count, size)
    tuples → manifest Avro bytes with the nested data_file record."""
    return write_avro(
        MANIFEST_SCHEMA,
        [
            {"status": st, "snapshot_id": snapshot_id,
             "data_file": {"file_path": fp, "file_format": "PARQUET",
                           "record_count": rc,
                           "file_size_in_bytes": sz}}
            for st, fp, rc, sz in entries
        ],
    )
