"""Parquet footer census — file-metadata introspection without a scan.

The storage-engineering pass a lakehouse runs over foreign parquet
dumps before registering them: row-group geometry (the unit of task
parallelism — a 100 TB table with 4 GB row groups schedules very
differently from one with 16 MB groups), column physical types, and
the footer statistics query planners prune with.  Everything here
reads ONLY the footer (pyarrow ``ParquetFile.metadata`` over an
in-memory buffer) — no data pages decode, so the census costs O(files),
not O(bytes), exactly like a real catalog crawler.  Runs inside the
payload kernel (``payload_rows``, torcdb_spark/functions/payload.py);
a file that fails footer parsing degrades to an ``_error`` row (the
WARC-path contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from torcdb_spark.functions.payload import payload_rows


def _footer(content: bytes):
    """Parquet footer metadata of an in-memory file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pq.ParquetFile(pa.BufferReader(content)).metadata


def parquet_footer_census(shards: DataFrame) -> DataFrame:
    """binaryFile-shaped (path, content) rows → one census row per
    file: ``path, n_rows, n_row_groups, n_columns, rg0_rows,
    col_names, col_types, id_min, id_max, n_nulls`` — geometry from
    the footer, min/max/null-count from the first column's row-group
    statistics folded across groups (the planner-pruning surface)."""

    def parse(content):
        try:
            md = _footer(content)
            cols = [md.schema.column(i) for i in range(md.num_columns)]
            id_min = id_max = None
            n_nulls = 0
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(0).statistics
                if st is None:
                    continue
                if st.has_min_max:
                    mn, mx = int(st.min), int(st.max)
                    id_min = mn if id_min is None else min(id_min, mn)
                    id_max = mx if id_max is None else max(id_max, mx)
                if st.null_count is not None:
                    n_nulls += st.null_count
            return (md.num_rows, md.num_row_groups, md.num_columns,
                    md.row_group(0).num_rows,
                    ",".join(c.name for c in cols),
                    ",".join(c.physical_type for c in cols),
                    id_min, id_max, n_nulls)
        except Exception as exc:
            return (-1, 0, 0, 0, "_error", str(exc)[:100], None, None, 0)

    return payload_rows(
        shards.select("path", "content"),
        parse,
        "path string, n_rows long, n_row_groups long, n_columns long, "
        "rg0_rows long, col_names string, col_types string, "
        "id_min long, id_max long, n_nulls long",
    )


def parquet_page_census(shards: DataFrame) -> DataFrame:
    """One level below the footer: per (file, row group, column
    chunk) — the encoding/compression census planners and compaction
    jobs want before touching 100 TB of foreign parquet.  Still
    O(files): pyarrow's ``ColumnChunkMetaData`` lives entirely in the
    footer (codec, encoding list, value counts, page offsets,
    compressed/uncompressed byte totals), so no data page is ever
    decoded.  Emits ``path, rg_idx, col_name, physical_type, codec,
    encodings`` (name-sorted, comma-joined — the set is what matters,
    not thrift order), ``num_values, has_dict, size_eq`` (compressed
    == uncompressed; NULL for compressed codecs where the relation
    depends on data entropy) and ``offset_ordered`` (dictionary page,
    when present, precedes the first data page).  A failure appends
    one ``rg_idx=-1`` error row after the chunks already read."""

    def parse(content):
        rows = []
        try:
            md = _footer(content)
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    cc = rg.column(c)
                    uncompressed = cc.compression == "UNCOMPRESSED"
                    rows.append((
                        g, cc.path_in_schema, cc.physical_type,
                        cc.compression, ",".join(sorted(cc.encodings)),
                        cc.num_values, cc.has_dictionary_page,
                        (cc.total_compressed_size
                         == cc.total_uncompressed_size)
                        if uncompressed else None,
                        (cc.dictionary_page_offset < cc.data_page_offset)
                        if cc.has_dictionary_page else True,
                    ))
        except Exception as exc:
            rows.append((-1, "_error", str(exc)[:100], None, None, 0,
                         None, None, None))
        return rows

    return payload_rows(
        shards.select("path", "content"),
        parse,
        "path string, rg_idx long, col_name string, "
        "physical_type string, codec string, encodings string, "
        "num_values long, has_dict boolean, size_eq boolean, "
        "offset_ordered boolean",
    )


def write_parquet_bytes(
    columns: dict,
    row_group_size: int,
    compression: str = "snappy",
    use_dictionary: bool = True,
) -> bytes:
    """Fixture synthesis: column dict → in-memory parquet bytes with a
    controlled row-group size (footer statistics enabled); codec and
    dictionary encoding selectable so the page census sees both the
    PLAIN/UNCOMPRESSED and RLE_DICTIONARY/SNAPPY shapes."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(columns)
    sink = io.BytesIO()
    pq.write_table(table, sink, row_group_size=row_group_size,
                   write_statistics=True, compression=compression,
                   use_dictionary=use_dictionary)
    return sink.getvalue()
