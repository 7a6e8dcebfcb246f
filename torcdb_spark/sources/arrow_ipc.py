"""Arrow IPC (Feather v2 / stream) ingestion — per-batch column census.

Arrow IPC is the zero-copy interchange format the ML data ecosystem
ships between tools (Feather v2 IS the IPC file format; Arrow Flight
and dataset caches ship the stream framing).  This module fans
binaryFile-shaped shards out to one row per (record batch, column)
with type, row/null counts, integer sums, and the leading string value
— the schema-discovery / integrity pass a lake crawler runs before
committing a foreign dump to a table.  Both framings parse: the file
format (``ARROW1`` magic, footer with block index) and the bare stream
format (schema message first), auto-detected per shard.  pyarrow does
the decoding inside the payload kernel every other binary source uses
(``payload_rows``, torcdb_spark/functions/payload.py), so there is no row-at-a-time Python and a
poisoned shard degrades to an ``_error`` row instead of sinking the
job (the WARC-path contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from torcdb_spark.functions.payload import payload_rows

_FILE_MAGIC = b"ARROW1\x00\x00"


def arrow_ipc_columns(shards: DataFrame) -> DataFrame:
    """binaryFile-shaped (path, content) rows → one row per
    (record batch, column): ``path, batch_idx, column, dtype, n_rows,
    null_count, long_sum, text_first`` — integer/unsigned columns
    report their non-null sum in long_sum, string columns their first
    value in text_first; other types carry the counts only.  A shard
    that fails IPC framing appends one ``column='_error'`` row."""

    def parse(raw):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.ipc as ipc

        rows = []
        try:
            buf = pa.BufferReader(raw)
            if raw[:8] == _FILE_MAGIC:
                reader = ipc.open_file(buf)
                rbs = [reader.get_batch(i)
                       for i in range(reader.num_record_batches)]
            else:
                rbs = list(ipc.open_stream(buf))
            for bi, rb in enumerate(rbs):
                for name, col in zip(rb.schema.names, rb.columns):
                    ls = tf = None
                    if pa.types.is_integer(col.type):
                        s = pc.sum(col).as_py()
                        ls = int(s) if s is not None else 0
                    elif pa.types.is_string(col.type) and len(col):
                        tf = col[0].as_py()
                    rows.append((bi, name, str(col.type), len(col),
                                 col.null_count, ls, tf))
        except Exception as exc:  # framing/decode failure
            rows.append((-1, "_error", str(exc)[:100], 0, 0, None, None))
        return rows

    return payload_rows(
        shards.select("path", "content"),
        parse,
        "path string, batch_idx long, column string, dtype string, "
        "n_rows long, null_count long, long_sum long, text_first string",
    )


def write_arrow_ipc(columns: dict, batch_rows: list, file_format: bool,
                    schema=None) -> bytes:
    """Fixture synthesis: ``{name: [values...]}`` column dict split
    into batches of the given row counts, serialized as the IPC file
    (Feather v2) or stream format."""
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    table = pa.table(columns, schema=schema)
    arrays = [c.combine_chunks() for c in table.columns]
    sink = io.BytesIO()
    writer = (
        ipc.new_file(sink, table.schema)
        if file_format
        else ipc.new_stream(sink, table.schema)
    )
    pos = 0
    for n in batch_rows:
        writer.write_batch(
            pa.record_batch(
                [a.slice(pos, n) for a in arrays], schema=table.schema
            )
        )
        pos += n
    writer.close()
    return sink.getvalue()
