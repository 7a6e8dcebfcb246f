"""Avro Object Container File ingestion — stdlib-only.

Avro OCF is the data lake's row-interchange workhorse (Kafka archive
dumps, Sqoop/NiFi landings); its public spec (avro.apache.org, the 1.x
binary encoding) frames a JSON-schema'd header, a 16-byte sync marker,
and data blocks of ``zigzag-varint record count | zigzag-varint byte
size | (optionally deflated) records | sync marker``.  This module
implements the wire primitives (zigzag varints, length-prefixed
strings/bytes, little-endian float/double, block-encoded arrays/maps,
union indices) and a schema-driven recursive decoder covering the
types tabular Avro actually uses — record, null, boolean, int, long,
float, double, string, bytes, enum, fixed, array, map, and
``["null", T]``-style unions — plus the ``null``, ``deflate`` (raw
zlib, wbits=-15) and ``snappy`` (sources/snappy.py pure-Python raw
blocks + the spec's 4-byte big-endian uncompressed-data CRC32) codecs.

Spark side: :func:`avro_records` is the same one-Arrow-pass binaryFile
fan-out as sources/warc.py and sources/tfrecord.py — one row per
(record, field) with typed value columns, poisoned files degrading to
an ``_error`` row.
"""

from __future__ import annotations

import json
import struct
import zlib

from pyspark.sql import DataFrame

from torcdb_spark.functions.payload import payload_rows
from torcdb_spark.sources.snappy import (
    snappy_compress as _snappy_compress,
    snappy_decompress as _snappy_decompress,
)

_MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------


def _zigzag(v: int) -> bytes:
    u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_zigzag(buf: bytes, pos: int):
    u = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated Avro varint")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return (u >> 1) ^ -(u & 1), pos
        shift += 7
        if shift > 63:
            raise ValueError("Avro varint exceeds 64 bits")


def _bytes(v: bytes) -> bytes:
    return _zigzag(len(v)) + v


def _read_bytes(buf: bytes, pos: int):
    n, pos = _read_zigzag(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise ValueError("Avro bytes/string overruns buffer")
    return buf[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# schema-driven codec
# ---------------------------------------------------------------------------


def _decode(schema, buf: bytes, pos: int):
    """One datum per the writer's schema (Avro spec §binary encoding).
    Returns (value, new_pos)."""
    if isinstance(schema, list):  # union: zigzag branch index first
        idx, pos = _read_zigzag(buf, pos)
        if not 0 <= idx < len(schema):
            raise ValueError("Avro union index out of range")
        return _decode(schema[idx], buf, pos)
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "record":
        out = {}
        for f in schema["fields"]:
            out[f["name"]], pos = _decode(f["type"], buf, pos)
        return out, pos
    if t == "null":
        return None, pos
    if t == "boolean":
        if pos >= len(buf):
            raise ValueError("truncated Avro boolean")
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        return _read_zigzag(buf, pos)
    if t == "float":
        if pos + 4 > len(buf):
            raise ValueError("truncated Avro float")
        return struct.unpack("<f", buf[pos : pos + 4])[0], pos + 4
    if t == "double":
        if pos + 8 > len(buf):
            raise ValueError("truncated Avro double")
        return struct.unpack("<d", buf[pos : pos + 8])[0], pos + 8
    if t == "string":
        raw, pos = _read_bytes(buf, pos)
        return raw.decode("utf-8"), pos
    if t == "bytes":
        return _read_bytes(buf, pos)
    if t == "enum":
        idx, pos = _read_zigzag(buf, pos)
        symbols = schema["symbols"]
        if not 0 <= idx < len(symbols):
            raise ValueError("Avro enum index out of range")
        return symbols[idx], pos
    if t == "fixed":
        n = schema["size"]
        if pos + n > len(buf):
            raise ValueError("truncated Avro fixed")
        return buf[pos : pos + n], pos + n
    if t == "array":
        out = []
        while True:
            n, pos = _read_zigzag(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:  # negative count: byte size follows (skippable form)
                _, pos = _read_zigzag(buf, pos)
                n = -n
            for _ in range(n):
                v, pos = _decode(schema["items"], buf, pos)
                out.append(v)
    if t == "map":
        out = {}
        while True:
            n, pos = _read_zigzag(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                _, pos = _read_zigzag(buf, pos)
                n = -n
            for _ in range(n):
                kraw, pos = _read_bytes(buf, pos)
                out[kraw.decode("utf-8")], pos = _decode(
                    schema["values"], buf, pos)
    raise ValueError(f"unsupported Avro type {t!r}")


def _encode(schema, value) -> bytes:
    """Fixture-synthesis mirror of :func:`_decode`."""
    if isinstance(schema, list):  # union: pick the branch by value type
        _BRANCHES = {
            bool: ("boolean",),
            int: ("int", "long"),
            float: ("float", "double"),
            str: ("string", "enum"),
            bytes: ("bytes", "fixed"),
            dict: ("record", "map"),
            list: ("array",),
        }
        # bool first: isinstance(True, int) is also True
        want = _BRANCHES[bool] if isinstance(value, bool) else None
        if want is None:
            for py, names in _BRANCHES.items():
                if py is not bool and isinstance(value, py):
                    want = names
                    break
        for i, branch in enumerate(schema):
            bt = branch["type"] if isinstance(branch, dict) else branch
            if value is None and bt == "null":
                return _zigzag(i)
            if value is not None and want and bt in want:
                return _zigzag(i) + _encode(branch, value)
        raise ValueError("no union branch matches value")
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "record":
        return b"".join(_encode(f["type"], value[f["name"]])
                        for f in schema["fields"])
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t in ("int", "long"):
        return _zigzag(value)
    if t == "float":
        return struct.pack("<f", value)
    if t == "double":
        return struct.pack("<d", value)
    if t == "string":
        return _bytes(value.encode("utf-8"))
    if t == "bytes":
        return _bytes(value)
    if t == "enum":
        return _zigzag(schema["symbols"].index(value))
    if t == "fixed":
        if len(value) != schema["size"]:
            raise ValueError("fixed size mismatch")
        return value
    if t == "array":
        out = b""
        if value:
            out += _zigzag(len(value))
            out += b"".join(_encode(schema["items"], v) for v in value)
        return out + _zigzag(0)
    if t == "map":
        out = b""
        if value:
            out += _zigzag(len(value))
            for k, v in value.items():
                out += _bytes(k.encode("utf-8"))
                out += _encode(schema["values"], v)
        return out + _zigzag(0)
    raise ValueError(f"unsupported Avro type {t!r}")


# ---------------------------------------------------------------------------
# container file
# ---------------------------------------------------------------------------


def write_avro(
    schema: dict,
    records,
    codec: str = "null",
    records_per_block: int = 100,
    sync: bytes = b"\xde\xad\xbe\xef" * 4,
) -> bytes:
    """Avro Object Container File writer (header metadata map with
    avro.schema/avro.codec, zigzag-framed data blocks, 16-byte sync
    markers, null/deflate codecs) — fixture synthesis for
    :func:`parse_avro`."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    out = bytearray(_MAGIC)
    out += _zigzag(len(meta))
    for k, v in meta.items():
        out += _bytes(k.encode("utf-8"))
        out += _bytes(v)
    out += _zigzag(0)
    out += sync
    recs = list(records)
    for i in range(0, max(len(recs), 1), records_per_block):
        block = recs[i : i + records_per_block]
        if not block:
            break
        data = b"".join(_encode(schema, r) for r in block)
        if codec == "deflate":
            data = zlib.compress(data, 6)[2:-4]  # raw deflate: strip
            # the zlib header/trailer per the Avro spec's RFC 1951 form
        elif codec == "snappy":
            # Avro spec: snappy blocks carry a 4-byte BIG-endian CRC32
            # of the UNCOMPRESSED data after the compressed bytes
            crc = zlib.crc32(data) & 0xFFFFFFFF
            data = _snappy_compress(data) + crc.to_bytes(4, "big")
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        out += _zigzag(len(block))
        out += _zigzag(len(data))
        out += data
        out += sync
    return bytes(out)


def parse_avro(payload: bytes) -> list:
    """Avro OCF → list of decoded records (dicts), verifying the magic,
    walking the header metadata map, inflating deflate blocks, decoding
    every record against the embedded writer schema, and checking each
    block's sync marker against the header's.  Raises ValueError on
    any framing violation — a corrupt block in a lake-scale corpus
    must surface as an error row, not silent record loss."""
    if payload is None or len(payload) < 20 or payload[:4] != _MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        n, pos = _read_zigzag(payload, pos)
        if n == 0:
            break
        if n < 0:
            _, pos = _read_zigzag(payload, pos)
            n = -n
        for _ in range(n):
            kraw, pos = _read_bytes(payload, pos)
            v, pos = _read_bytes(payload, pos)
            meta[kraw.decode("utf-8")] = v
    if "avro.schema" not in meta:
        raise ValueError("Avro header carries no schema")
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if pos + 16 > len(payload):
        raise ValueError("truncated Avro sync marker")
    sync = payload[pos : pos + 16]
    pos += 16
    out = []
    while pos < len(payload):
        count, pos = _read_zigzag(payload, pos)
        size, pos = _read_zigzag(payload, pos)
        if count < 0 or size < 0 or pos + size + 16 > len(payload):
            raise ValueError("Avro block overruns file")
        data = payload[pos : pos + size]
        pos += size
        if payload[pos : pos + 16] != sync:
            raise ValueError("Avro block sync marker mismatch")
        pos += 16
        if codec == "deflate":
            data = zlib.decompress(data, -15)
        elif codec == "snappy":
            if len(data) < 4:
                raise ValueError("snappy Avro block shorter than its CRC")
            data, want = data[:-4], int.from_bytes(data[-4:], "big")
            data = _snappy_decompress(data)
            if zlib.crc32(data) & 0xFFFFFFFF != want:
                raise ValueError("snappy Avro block CRC32 mismatch")
        elif codec != "null":
            raise ValueError(f"unsupported Avro codec {codec!r}")
        p = 0
        for _ in range(count):
            rec, p = _decode(schema, data, p)
            out.append(rec)
        if p != len(data):
            raise ValueError("Avro block has trailing bytes")
    return out


# ---------------------------------------------------------------------------
# DataFrame fan-out
# ---------------------------------------------------------------------------


def avro_records(shards: DataFrame) -> DataFrame:
    """binaryFile-shaped (path, content) rows → one row per
    (record, field): ``path, rec_idx, field, kind, long_value,
    double_value, text`` — ints/longs/booleans populate long_value,
    float/double populate double_value, string/enum populate text,
    null fields report kind='null' with every value column NULL;
    nested types (array/map/record/bytes/fixed) report their element
    or byte count in long_value.  A file that fails framing degrades
    to a single ``field='_error'`` row, the WARC-path contract."""

    def cell(v):
        if v is None:
            return "null", None, None, None
        if isinstance(v, bool):
            return "boolean", int(v), None, None
        if isinstance(v, int):
            return "long", v, None, None
        if isinstance(v, float):
            return "double", None, v, None
        if isinstance(v, str):
            return "string", None, None, v
        return type(v).__name__, len(v), None, None  # bytes / list / dict

    def parse(content):
        try:
            return [(idx, name, *cell(rec[name]))
                    for idx, rec in enumerate(parse_avro(content))
                    for name in sorted(rec)]
        except ValueError as exc:
            return [(-1, "_error", str(exc), None, None, None)]

    return payload_rows(
        shards.select("path", "content"),
        parse,
        "path string, rec_idx long, field string, kind string, "
        "long_value long, double_value double, text string",
    )


_DOC_SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "score", "type": "double"},
        {"name": "text", "type": ["null", "string"]},
    ],
}


def avro_doc_shard(base: int, n_records: int, score_base: int, text: str,
                   null_text: bool, second_codec: bool,
                   codecs: tuple[str, str] = ("null", "deflate")) -> bytes:
    """Per-row Avro OCF fixture for :func:`avro_records`: record i is
    ``{id: base*10 + i, score: (score_base + i) / 4, text: the i-th
    6-char slice of text, 'pad' past its end, or null when null_text}``,
    written with ``codecs[1]`` when ``second_codec`` else
    ``codecs[0]``."""
    recs = [
        {
            "id": base * 10 + i,
            "score": (score_base + i) / 4.0,
            "text": None if null_text else text[i * 6 : i * 6 + 6] or "pad",
        }
        for i in range(n_records)
    ]
    return write_avro(_DOC_SCHEMA, recs,
                      codec=codecs[1] if second_codec else codecs[0])
