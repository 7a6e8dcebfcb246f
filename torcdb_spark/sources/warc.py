"""WARC (Web ARChive, ISO 28500) ingestion — the CommonCrawl wire format,
parsed with stdlib only (zlib for the per-record gzip members the spec
prescribes for compressed archives).

A .warc file is a sequence of records: a `WARC/1.0` version line, CRLF
header block (Content-Length is authoritative for the payload size), CRLF
CRLF, payload, CRLF CRLF. A .warc.gz is a sequence of INDEPENDENT gzip
members, one record each — that per-record framing is what makes WARC
splittable at scale: any worker can start at a member boundary without
reading the whole file.

Spark shape: crawl archives arrive as whole files via the binaryFile
source; `warc_records` fans file payloads out to (file, offset, headers,
payload) rows inside one pass of the payload kernel (`payload_rows`,
torcdb_spark/functions/payload.py, the Arrow-batched boundary every
binary reader shares) — bytes never leave the executor, and at 100 TB
the unit of parallelism is the archive file (CommonCrawl ships ~1 GB
segments by design).

Reference parity note: TorcDB has no ingestion surface beyond its KV
image loader (TorcGraph.java:756-820); this is extension surface for the
training-data pipeline.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame

from torcdb_spark.functions.payload import payload_rows


def write_warc(records: list[tuple[dict, bytes]], gzip_members: bool = True) -> bytes:
    """Serialize (headers, payload) pairs as a WARC 1.0 archive. With
    ``gzip_members`` each record becomes an independent gzip member (the
    splittable .warc.gz layout CommonCrawl uses); otherwise a plain
    .warc byte stream."""
    out = bytearray()
    for headers, payload in records:
        h = dict(headers)
        h.setdefault("WARC-Type", "response")
        h["Content-Length"] = str(len(payload))
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode() for k, v in h.items()
        ) + b"\r\n"
        rec = head + payload + b"\r\n\r\n"
        if gzip_members:
            co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            rec = co.compress(rec) + co.flush()
        out += rec
    return bytes(out)


def parse_warc(payload: bytes) -> list[tuple[int, dict, bytes]]:
    """Parse a .warc or .warc.gz byte string → [(offset, headers,
    payload)] with ``offset`` the record's byte position in the
    (decompressed) stream. Gzip archives are handled member-by-member;
    malformed framing raises ValueError."""
    if payload[:2] == b"\x1f\x8b":
        data = bytearray()
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        buf = payload
        try:
            while buf:
                data += d.decompress(buf)
                buf = d.unused_data
                if buf:
                    data += d.flush()
                    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
                else:
                    data += d.flush()
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member: {exc}") from exc
        payload = bytes(data)
    records = []
    pos = 0
    n = len(payload)
    while pos < n:
        # tolerate stray blank lines between records
        while pos < n and payload[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        start = pos
        if not payload.startswith(b"WARC/", pos):
            raise ValueError(f"expected WARC version line at offset {pos}")
        head_end = payload.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("unterminated WARC header block")
        lines = payload[pos:head_end].split(b"\r\n")
        headers: dict = {}
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().decode()] = v.strip().decode()
        try:
            clen = int(headers["Content-Length"])
        except (KeyError, ValueError) as exc:
            raise ValueError("WARC record without valid Content-Length") from exc
        body_start = head_end + 4
        body_end = body_start + clen
        if body_end > n:
            raise ValueError("WARC payload overruns archive")
        records.append((start, headers, payload[body_start:body_end]))
        pos = body_end
        if payload[pos:pos + 4] == b"\r\n\r\n":
            pos += 4
    return records


WARC_ROW_SCHEMA = (
    "path string, record_offset long, warc_type string, target_uri string, "
    "content_length long, payload binary"
)


def warc_records(files: DataFrame) -> DataFrame:
    """Fan a binaryFile-sourced frame of WARC archives out to one row per
    record: (path, record_offset, warc_type, target_uri, content_length,
    payload). One payload_rows pass; a malformed archive yields a single
    row with warc_type='_error' carrying the message (a poisoned crawl
    segment must not sink the job)."""

    def parse(content):
        try:
            return [
                (off, headers.get("WARC-Type", ""),
                 headers.get("WARC-Target-URI", ""), len(body), body)
                for off, headers, body in parse_warc(content)
            ]
        except ValueError as exc:
            return [(-1, "_error", str(exc)[:120], 0, b"")]

    return payload_rows(files.select("path", "content"), parse, WARC_ROW_SCHEMA)


def write_zip(members: list[tuple[str, str | bytes]]) -> bytes:
    """Serialize (name, data) pairs as a deflated ZIP archive, in order.
    A member named ``mimetype`` is stored uncompressed, as the EPUB OCF
    and ODF packages require of their first member."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            zf.writestr(name, data, compress_type=(
                zipfile.ZIP_STORED if name == "mimetype" else None))
    return buf.getvalue()


def zip_members(files: DataFrame) -> DataFrame:
    """Fan a binaryFile-sourced frame of ZIP archives out to one row per
    member: (path, member, n_bytes, payload) — document bundles and
    dataset drops commonly arrive zipped. stdlib zipfile over an
    in-memory buffer, one payload_rows pass, same poisoned-archive
    contract as warc_records (an unreadable archive yields one '_error'
    member, after any members already read, instead of sinking the
    job). Directories are skipped."""
    import io
    import zipfile

    def parse(content):
        rows = []
        try:
            with zipfile.ZipFile(io.BytesIO(content)) as zf:
                for info in zf.infolist():
                    if not info.is_dir():
                        body = zf.read(info)
                        rows.append((info.filename, len(body), body))
        except Exception as exc:
            rows.append(("_error", 0, str(exc)[:120].encode()))
        return rows

    return payload_rows(
        files.select("path", "content"),
        parse,
        "path string, member string, n_bytes long, payload binary",
    )


def tar_members(files: DataFrame) -> DataFrame:
    """Fan a binaryFile-sourced frame of TAR archives out to one row per
    member: (path, member, key, n_bytes, payload) — the WebDataset shard
    layout (multimodal training corpora ship as .tar shards whose members
    share a basename key: ``00042.jpg`` + ``00042.txt`` + ``00042.json``).
    ``key`` is the member basename with its final extension stripped, so a
    downstream ``groupBy(path, key)`` reassembles each sample's modalities
    without a shuffle-heavy parse. stdlib tarfile over an in-memory
    buffer, one payload_rows pass; same poisoned-archive contract as
    warc_records/zip_members (an unreadable archive yields one '_error'
    member instead of sinking the job). Non-file members are skipped."""
    import io
    import tarfile

    def parse(content):
        rows = []
        try:
            with tarfile.open(fileobj=io.BytesIO(content), mode="r:*") as tf:
                for info in tf:
                    if not info.isfile():
                        continue
                    body = tf.extractfile(info).read()
                    base = info.name.rsplit("/", 1)[-1]
                    key = base.rsplit(".", 1)[0] if "." in base else base
                    rows.append((info.name, key, len(body), body))
        except Exception as exc:
            rows.append(("_error", "_error", 0, str(exc)[:120].encode()))
        return rows

    return payload_rows(
        files.select("path", "content"),
        parse,
        "path string, member string, key string, n_bytes long, "
        "payload binary",
    )
