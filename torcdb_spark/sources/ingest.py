"""Multi-format ingestion: CSV / JSON-lines / ORC → the engine's tables.

The reference ingests exactly one external format — its gzipped image files
for bulk load (TorcGraph.java:756-820). A Spark engine serving a training-
data pipeline meets raw corpora as JSONL and CSV long before they become
parquet; these readers land any of them with an EXPLICIT schema (never
inferSchema on production data — schema inference is a full extra pass over
100 TB and silently widens types), then normalize timestamps the same way
``load_table`` does so downstream operators see one type system.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from torcdb_spark.functions.payload import payload_rows

READ_FORMATS = ("parquet", "csv", "json", "orc")

# canonical schema for external document corpora (JSONL/CSV drops land here)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    timestamp_cols: tuple[str, ...] = (),
    **options: str,
) -> DataFrame:
    """Read ``path`` in any supported format with a caller-supplied schema.

    CSV defaults: header on, standard quoting/escaping. JSON is JSON-lines
    (one object per line — the splittable form; multiline JSON cannot be
    parallelized across a 100 TB input). Timestamp columns arriving as
    strings or TIMESTAMP_NTZ are normalized to session-TZ TIMESTAMP.
    """
    if fmt not in READ_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; known: {READ_FORMATS}")
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true").option("escape", '"')
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(path)
    for c in timestamp_cols:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def ingest_documents(
    spark: SparkSession, path: str, fmt: str = "json", **options: str
) -> DataFrame:
    """Land an external document corpus (JSONL or CSV) in the canonical
    documents schema, recomputing ``n_chars`` when the source omits it —
    the first stage of every dedup/quality pipeline in operators/."""
    df = read_any(spark, path, fmt=fmt, schema=DOCUMENTS_SCHEMA, **options)
    return df.withColumn(
        "n_chars",
        F.coalesce(F.col("n_chars"), F.length("text").cast("long")),
    )


def content_type_sniff(payload):
    """Magic-byte content-type detection — the first gate of every
    binary-ingestion pipeline (a 100 TB crawl's payloads arrive with
    missing or lying Content-Type headers; the sniff routes each blob
    to its census/decoder).  Pure JVM expression: prefix comparisons
    on the binary column, longest/most-specific signature first
    (RIFF needs its format tag at offset 8, gzip is two bytes, ZIP
    covers the whole OOXML family until the member walk refines it).
    Returns a lowercase type tag or 'unknown' — never NULL, so a
    downstream groupBy routes every row."""
    from pyspark.sql import functions as F

    def pfx(n, lit):
        return F.substring(payload, 1, n) == F.lit(lit)

    def at(off, n, lit):
        return F.substring(payload, off, n) == F.lit(lit)

    return (
        F.when(pfx(8, bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A,
                             0x1A, 0x0A])), "png")
        .when(pfx(3, b"\xff\xd8\xff"), "jpeg")
        .when(pfx(6, b"GIF87a") | pfx(6, b"GIF89a"), "gif")
        .when(pfx(4, b"RIFF") & at(9, 4, b"WAVE"), "wave")
        .when(pfx(4, b"RIFF") & at(9, 4, b"WEBP"), "webp")
        .when(pfx(4, b"RIFF") & at(9, 4, b"AVI "), "avi")
        .when(pfx(5, b"%PDF-"), "pdf")
        .when(pfx(4, b"PK\x03\x04"), "zip")
        .when(pfx(2, b"\x1f\x8b"), "gzip")
        .when(pfx(4, b"Obj\x01"), "avro")
        .when(pfx(6, b"ARROW1"), "arrow")
        .when(pfx(4, b"PAR1"), "parquet")
        .when(pfx(4, b"ORC\x00") | pfx(3, b"ORC"), "orc")
        .when(pfx(3, b"ID3"), "mp3")
        .when(pfx(2, b"\xff\xfb") | pfx(2, b"\xff\xf3")
              | pfx(2, b"\xff\xf2"), "mp3")
        .when(pfx(4, b"fLaC"), "flac")
        .when(pfx(4, b"OggS"), "ogg")
        .when(pfx(4, b"\x1a\x45\xdf\xa3"), "webm")
        .when(at(5, 4, b"ftyp"), "mp4")
        .when(pfx(4, b"\x00\x00\x00\x01")
              | pfx(3, b"\x00\x00\x01"), "h264_annexb")
        .when(pfx(4, b"WARC"), "warc")
        .when(pfx(2, b"BM"), "bmp")
        .when(pfx(4, b"II*\x00") | pfx(4, b"MM\x00*"), "tiff")
        .otherwise("unknown")
    )


def parse_fixed_width(
    lines: DataFrame,
    colspecs,
    line_col: str = "line",
):
    """Fixed-width record parsing — the mainframe/COBOL-extract format
    enterprise data lakes still receive by the terabyte: ``colspecs``
    is ``[(name, start_1_based, length, type)]`` with type one of
    ``str`` (right-trimmed), ``long`` (left-padded digits),
    ``dec2`` (implied two decimal places, the COMP-3-export
    convention: '00012345' → 123.45).  Pure JVM substring slices —
    the parse runs at scan speed and the column bounds push no data
    movement at all."""
    out = []
    for name, start, length, typ in colspecs:
        raw = F.substring(F.col(line_col), start, length)
        if typ == "str":
            col = F.rtrim(raw)
        elif typ == "long":
            col = F.ltrim(raw).cast("long")
        elif typ == "dec2":
            col = (F.ltrim(raw).cast("long") / F.lit(100.0))
        else:
            raise ValueError(f"unsupported fixed-width type {typ!r}")
        out.append(col.alias(name))
    return lines.select(
        *[c for c in lines.columns if c != line_col], *out
    )


def gzip_member_lines(files: DataFrame) -> DataFrame:
    """Multi-member ``.jsonl.gz`` shard fan-out — the wire form open-web
    text dumps actually ship: one physical file holding MANY
    independently-gzipped members concatenated (RFC 1952 explicitly
    allows it; pigz/bgzip and most dump pipelines produce it, and naive
    ``gzip.decompress`` reads only the first member, silently dropping
    the rest of the corpus).  Walks members with
    ``zlib.decompressobj(16+MAX_WBITS)`` over ``unused_data`` —
    the same loop as sources/warc.py — and yields one row per
    (file, member): ``path, member_idx, n_bytes, payload`` with the
    member's decompressed UTF-8 text, so the JVM-side line split /
    from_json path (jl1) takes over from there.  A corrupt member
    appends one ``member_idx=-1`` row with the error in ``payload``
    after the members already read — the WARC-path contract."""
    import zlib

    def parse(buf):
        rows = []
        try:
            if buf[:2] != b"\x1f\x8b":
                raise ValueError("not a gzip stream")
            while buf:
                d = zlib.decompressobj(16 + zlib.MAX_WBITS)
                data = d.decompress(buf) + d.flush()
                if not d.eof:
                    raise ValueError(f"truncated gzip member {len(rows)}")
                rows.append((len(rows), len(data), data.decode("utf-8")))
                buf = d.unused_data
        except (ValueError, zlib.error, UnicodeDecodeError) as exc:
            rows.append((-1, 0, f"_error: {exc}"))
        return rows

    return payload_rows(
        files.select("path", "content"),
        parse,
        "path string, member_idx long, n_bytes long, payload string",
    )


def jsonl_gz_shard(blob: str, lines_per_member: int = 5) -> bytes:
    """Per-row multi-member ``.jsonl.gz`` fixture for
    :func:`gzip_member_lines`: every ``lines_per_member`` lines of the
    newline-joined ``blob`` become one independent gzip member (mtime 0,
    so the bytes are deterministic), members concatenated."""
    import gzip
    import io

    lines = blob.split("\n")
    shard = bytearray()
    for i in range(0, len(lines), lines_per_member):
        member = "\n".join(lines[i : i + lines_per_member])
        bio = io.BytesIO()
        with gzip.GzipFile(fileobj=bio, mode="wb", mtime=0) as gz:
            gz.write(member.encode("utf-8"))
        shard += bio.getvalue()
    return bytes(shard)
