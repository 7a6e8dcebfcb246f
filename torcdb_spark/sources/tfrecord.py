"""TFRecord ingestion with tf.train.Example decoding — stdlib-only.

TFRecord is the dominant ML training-data container (the TensorFlow
ecosystem's WebDataset analogue); its public framing is
``u64le length | u32le masked-crc32c(length bytes) | data |
u32le masked-crc32c(data)`` per record, with the Castagnoli CRC and the
rotate-and-add masking from the TensorFlow record-writer spec.  The
records themselves are conventionally serialized ``tf.train.Example``
protobufs; this module decodes that wire format directly (protobuf
encoding spec: varint/zigzag-free non-negative int64s, length-delimited
submessages, packed repeated scalars) for the three Feature kinds —
bytes_list / float_list / int64_list — so a crawl's .tfrecord shards
fan out to typed per-feature rows without TensorFlow or protobuf
libraries in the container.

Spark side: :func:`tfrecord_examples` is one ``parse`` function run by
the payload kernel (``payload_rows``, torcdb_spark/functions/payload.py),
the same binaryFile fan-out as sources/warc.py's ``warc_records`` —
poisoned shards degrade to an ``_error`` row instead of sinking the
job.  On a real 100 TB corpus the shards arrive pre-split (one
~100-500 MB file per task), so per-file Python parse cost amortizes the
same way the WARC path's does.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from torcdb_spark.functions.payload import payload_rows

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli, reflected poly 0x82F63B78) + TFRecord masking
# ---------------------------------------------------------------------------

_CRC32C_TABLE: list | None = None


def _crc32c(data: bytes) -> int:
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    """TFRecord's rotate-right-15-and-add masking (record_writer spec)."""
    crc = _crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# record framing
# ---------------------------------------------------------------------------


def write_tfrecords(records) -> bytes:
    """Frame an iterable of byte strings as a TFRecord file (real
    masked CRC32C on both the length word and the payload) — fixture
    synthesis for :func:`parse_tfrecords`."""
    out = bytearray()
    for rec in records:
        ln = struct.pack("<Q", len(rec))
        out += ln
        out += struct.pack("<I", _masked_crc(ln))
        out += rec
        out += struct.pack("<I", _masked_crc(rec))
    return bytes(out)


def parse_tfrecords(payload: bytes) -> list:
    """TFRecord file → list of record payloads, verifying BOTH masked
    CRCs per record (a flipped bit in a 100 TB shard corpus must
    surface as an error row, not silently-corrupt training data).
    Raises ValueError on truncation or a CRC mismatch."""
    out = []
    pos = 0
    n = len(payload)
    while pos < n:
        if pos + 12 > n:
            raise ValueError("truncated TFRecord length header")
        ln_bytes = payload[pos : pos + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (len_crc,) = struct.unpack("<I", payload[pos + 8 : pos + 12])
        if len_crc != _masked_crc(ln_bytes):
            raise ValueError("TFRecord length CRC mismatch")
        body = pos + 12
        if body + ln + 4 > n:
            raise ValueError("TFRecord payload overruns file")
        data = payload[body : body + ln]
        (data_crc,) = struct.unpack("<I", payload[body + ln : body + ln + 4])
        if data_crc != _masked_crc(data):
            raise ValueError("TFRecord data CRC mismatch")
        out.append(data)
        pos = body + ln + 4
    return out


# ---------------------------------------------------------------------------
# tf.train.Example wire format
# ---------------------------------------------------------------------------


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int):
    v = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated protobuf varint")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7
        if shift > 63:
            raise ValueError("protobuf varint exceeds 64 bits")


def _to_int64(v: int) -> int:
    """Unsigned varint value → signed int64 (two's complement).  A legal
    negative int64 feature (labels, offsets) arrives as a 10-byte varint
    of v + 2**64; without this fold it surfaces as ~1.8e19 and overflows
    the Arrow int64 conversion downstream."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _ld(field: int, body: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return _varint(field << 3 | 2) + _varint(len(body)) + body


def encode_example(features: dict) -> bytes:
    """dict of feature name → list of int (Int64List) / float
    (FloatList, float32) / bytes-or-str (BytesList) → serialized
    tf.train.Example (Example.features=1, Features.feature map=1,
    map key=1 / value=2, Feature oneof bytes=1/float=2/int64=3,
    scalar lists packed) — fixture synthesis for
    :func:`parse_example`."""
    feats = bytearray()
    for name, values in features.items():
        if not values:
            raise ValueError(f"empty feature {name!r}")
        if isinstance(values[0], int):
            # protobuf int64 is two's complement on the wire: negatives
            # encode as 10-byte varints of v + 2**64 (not zigzag).
            packed = b"".join(
                _varint(v if v >= 0 else v + (1 << 64)) for v in values
            )
            feat = _ld(3, _ld(1, packed))
        elif isinstance(values[0], float):
            feat = _ld(2, _ld(1, struct.pack(f"<{len(values)}f", *values)))
        else:
            bl = bytearray()
            for v in values:
                if isinstance(v, str):
                    v = v.encode("utf-8")
                bl += _ld(1, v)
            feat = _ld(1, bytes(bl))
        key = name.encode("utf-8")
        entry = _ld(1, key) + _ld(2, bytes(feat))
        feats += _ld(1, entry)
    return _ld(1, bytes(feats))


def _fields(buf: bytes, start: int, end: int):
    """Yield (field_number, wire_type, value_or_range) across one
    protobuf message level; length-delimited values come back as
    (start, end) offsets."""
    pos = start
    while pos < end:
        tag, pos = _read_varint(buf, pos)
        field, wt = tag >> 3, tag & 7
        if wt == 0:
            v, pos = _read_varint(buf, pos)
            yield field, wt, v
        elif wt == 1:
            if pos + 8 > end:
                raise ValueError("truncated 64-bit field")
            yield field, wt, (pos, pos + 8)
            pos += 8
        elif wt == 5:
            if pos + 4 > end:
                raise ValueError("truncated 32-bit field")
            yield field, wt, (pos, pos + 4)
            pos += 4
        elif wt == 2:
            ln, pos = _read_varint(buf, pos)
            if pos + ln > end:
                raise ValueError("length-delimited field overruns message")
            yield field, wt, (pos, pos + ln)
            pos += ln
        else:
            raise ValueError(f"unsupported protobuf wire type {wt}")


def parse_example(data: bytes) -> dict:
    """Serialized tf.train.Example → ``{name: (kind, [values...])}``
    with kind in ``int64 | float | bytes``.  Packed AND unpacked
    repeated scalars decode (both are legal on the wire); unknown
    fields are skipped structurally, the protobuf contract.  Raises
    ValueError on malformed framing."""
    out = {}
    for f1, wt1, rng1 in _fields(data, 0, len(data)):
        if f1 != 1 or wt1 != 2:
            continue  # unknown top-level field: skip
        for f2, wt2, rng2 in _fields(data, *rng1):  # Features.feature
            if f2 != 1 or wt2 != 2:
                continue
            name = None
            kind = None
            values = []
            for f3, wt3, rng3 in _fields(data, *rng2):  # map entry
                if f3 == 1 and wt3 == 2:
                    name = data[rng3[0] : rng3[1]].decode("utf-8")
                elif f3 == 2 and wt3 == 2:  # Feature
                    for f4, wt4, v4 in _fields(data, *rng3):
                        if f4 == 3:  # Int64List
                            kind = "int64"
                            for f5, wt5, v5 in _fields(data, *v4):
                                if f5 != 1:
                                    continue
                                if wt5 == 2:  # packed
                                    p = v5[0]
                                    while p < v5[1]:
                                        v, p = _read_varint(data, p)
                                        values.append(_to_int64(v))
                                elif wt5 == 0:
                                    values.append(_to_int64(v5))
                        elif f4 == 2:  # FloatList
                            kind = "float"
                            for f5, wt5, v5 in _fields(data, *v4):
                                if f5 != 1:
                                    continue
                                if wt5 == 2:
                                    s, e = v5
                                    values.extend(struct.unpack(
                                        f"<{(e - s) // 4}f", data[s:e]))
                                elif wt5 == 5:
                                    values.append(struct.unpack(
                                        "<f", data[v5[0] : v5[1]])[0])
                        elif f4 == 1:  # BytesList
                            kind = "bytes"
                            for f5, wt5, v5 in _fields(data, *v4):
                                if f5 == 1 and wt5 == 2:
                                    values.append(data[v5[0] : v5[1]])
            if name is not None and kind is not None:
                out[name] = (kind, values)
    return out


# ---------------------------------------------------------------------------
# DataFrame fan-out
# ---------------------------------------------------------------------------


def tfrecord_examples(shards: DataFrame) -> DataFrame:
    """binaryFile-shaped (path, content) rows → one row per
    (record, feature): ``path, rec_idx, feature, kind, n_values,
    int_sum, text`` — int64 features report their count and sum,
    bytes features additionally their first value UTF-8-decoded (the
    text column a document pipeline reads), float features count only.
    A shard that fails framing or CRC appends one ``feature='_error'``
    row after the records already decoded, the WARC-path contract."""

    def first_text(kind, values):
        if kind != "bytes" or not values:
            return None
        try:
            return values[0].decode("utf-8")
        except UnicodeDecodeError:
            return None

    def parse(content):
        rows = []
        try:
            for idx, rec in enumerate(parse_tfrecords(content)):
                for name, (kind, values) in sorted(parse_example(rec).items()):
                    rows.append((
                        idx, name, kind, len(values),
                        sum(values) if kind == "int64" else 0,
                        first_text(kind, values),
                    ))
        except ValueError as exc:
            rows.append((-1, "_error", str(exc), 0, 0, None))
        return rows

    return payload_rows(
        shards.select("path", "content"),
        parse,
        "path string, rec_idx long, feature string, kind string, "
        "n_values long, int_sum long, text string",
    )


def tfrecord_shard(base: int, n_records: int, tokens_per_record: int,
                   text: str) -> bytes:
    """Per-row TFRecord fixture for :func:`tfrecord_examples`: record i
    is a tf.train.Example whose 'tokens' Int64List holds
    ``base + i*m + j`` for j < m (m = ``tokens_per_record``) and whose
    'text' BytesList holds the i-th 8-char slice of ``text``, or 'pad'
    past its end."""
    m = tokens_per_record
    return write_tfrecords([
        encode_example({
            "tokens": [base + i * m + j for j in range(m)],
            "text": [text[i * 8 : i * 8 + 8] or "pad"],
        })
        for i in range(n_records)
    ])
