"""Tensor-file ingestion for embedding dumps — stdlib-only parsers for
the two formats vector corpora actually ship in:

- **.npy** (NumPy format spec v1/v2): magic + version + header dict
  (descr/fortran_order/shape) + raw buffer;
- **.safetensors**: little-endian u64 header length + JSON header
  mapping tensor name → {dtype, shape, data_offsets} + raw buffers.

Both are public specs with trivial framing, so like the WARC/image/audio
codecs the parse is REAL (no library stubs) and round-trips are testable
byte-for-byte. Spark shape: dumps arrive as whole files via the
binaryFile source; `vectors_from_npy` / `vectors_from_safetensors` fan a
(path, content) frame out to one row per vector inside one pass of the
payload kernel (``payload_rows``, torcdb_spark/functions/payload.py) —
the unit of parallelism is the dump file, matching how embedding shards
are written in practice.

Reference parity note: extension surface (TorcDB has no vector path).
"""

from __future__ import annotations

import ast
import json
import struct

from pyspark.sql import DataFrame

from torcdb_spark.functions.payload import payload_rows

_NP_DESCR = {"<f4": "float32", "<f8": "float64", "<i4": "int32", "<i8": "int64"}
_ST_DTYPE = {"F32": "float32", "F64": "float64", "I32": "int32", "I64": "int64"}


def write_npy(arr) -> bytes:
    """Serialize an array as NumPy format v1 (the np.save wire format,
    reimplemented so tests exercise OUR framing too)."""
    import numpy as np

    a = np.ascontiguousarray(arr)
    descr = {v: k for k, v in _NP_DESCR.items()}[str(a.dtype)]
    header = (
        "{'descr': '%s', 'fortran_order': False, 'shape': %s, }"
        % (descr, repr(tuple(a.shape)))
    ).encode()
    pad = 64 - (10 + len(header) + 1) % 64
    header += b" " * pad + b"\n"
    return b"\x93NUMPY\x01\x00" + struct.pack("<H", len(header)) + header + a.tobytes()


def parse_npy(payload: bytes):
    """Parse .npy v1/v2 → ndarray (C-order little-endian f4/f8/i4/i8;
    anything else raises NotImplementedError, malformed framing raises
    ValueError)."""
    import numpy as np

    if payload[:6] != b"\x93NUMPY":
        raise ValueError("not an npy payload")
    major = payload[6]
    if major == 1:
        (hlen,) = struct.unpack_from("<H", payload, 8)
        hstart = 10
    elif major == 2:
        (hlen,) = struct.unpack_from("<I", payload, 8)
        hstart = 12
    else:
        raise NotImplementedError(f"npy format version {major}")
    header = ast.literal_eval(payload[hstart:hstart + hlen].decode())
    descr = header["descr"]
    if descr not in _NP_DESCR:
        raise NotImplementedError(f"npy dtype {descr}")
    if header["fortran_order"]:
        raise NotImplementedError("fortran-order npy")
    shape = tuple(header["shape"])
    n = 1
    for s in shape:
        n *= s
    arr = np.frombuffer(
        payload, dtype=_NP_DESCR[descr], count=n, offset=hstart + hlen
    )
    if arr.size < n:
        raise ValueError("truncated npy buffer")
    return arr.reshape(shape)


def write_safetensors(tensors: dict) -> bytes:
    """Serialize {name: ndarray} as a safetensors blob."""
    import numpy as np

    header = {}
    bufs = []
    off = 0
    for name, arr in tensors.items():
        a = np.ascontiguousarray(arr)
        dt = {v: k for k, v in _ST_DTYPE.items()}[str(a.dtype)]
        b = a.tobytes()
        header[name] = {
            "dtype": dt,
            "shape": list(a.shape),
            "data_offsets": [off, off + len(b)],
        }
        bufs.append(b)
        off += len(b)
    hjson = json.dumps(header).encode()
    return struct.pack("<Q", len(hjson)) + hjson + b"".join(bufs)


def parse_safetensors(payload: bytes) -> dict:
    """Parse a safetensors blob → {name: ndarray}. Malformed framing
    raises ValueError; unsupported dtypes raise NotImplementedError."""
    import numpy as np

    if len(payload) < 8:
        raise ValueError("truncated safetensors header")
    (hlen,) = struct.unpack_from("<Q", payload, 0)
    if 8 + hlen > len(payload):
        raise ValueError("safetensors header overruns payload")
    try:
        header = json.loads(payload[8:8 + hlen])
    except json.JSONDecodeError as exc:
        raise ValueError(f"bad safetensors header: {exc}") from exc
    out = {}
    base = 8 + hlen
    for name, meta in header.items():
        if name == "__metadata__":
            continue
        dt = meta["dtype"]
        if dt not in _ST_DTYPE:
            raise NotImplementedError(f"safetensors dtype {dt}")
        lo, hi = meta["data_offsets"]
        if base + hi > len(payload):
            raise ValueError(f"tensor {name} overruns payload")
        arr = np.frombuffer(payload[base + lo:base + hi], dtype=_ST_DTYPE[dt])
        out[name] = arr.reshape(meta["shape"])
    return out


def vectors_from_npy(files: DataFrame) -> DataFrame:
    """Fan (path, content) .npy dumps out to (path, row_idx, vec) — one
    row per vector of a 2-D float array, float32-normalized. One
    payload_rows pass; malformed dumps degrade to a single row_idx=-1
    error row."""
    import numpy as np

    def parse(content):
        try:
            arr = parse_npy(content)
            if arr.ndim != 2:
                raise ValueError(f"expected 2-D, got {arr.ndim}-D")
            return [(i, v.tolist(), None)
                    for i, v in enumerate(np.asarray(arr, dtype=np.float32))]
        except (ValueError, NotImplementedError) as exc:
            return [(-1, None, str(exc)[:120])]

    return payload_rows(
        files.select("path", "content"),
        parse,
        "path string, row_idx long, vec array<float>, err string",
    )


def vectors_from_safetensors(files: DataFrame) -> DataFrame:
    """Fan (path, content) safetensors dumps out to
    (path, tensor, row_idx, vec) — one row per vector of each named 2-D
    float tensor in the file, float32-normalized. The safetensors
    counterpart of :func:`vectors_from_npy` (checkpoint shards and
    embedding dumps increasingly ship in this format); one payload_rows
    pass, a malformed dump appends one row_idx=-1 error row after the
    tensors already read."""
    import numpy as np

    def parse(content):
        rows = []
        try:
            tensors = parse_safetensors(content)
            for name in sorted(tensors):
                arr = tensors[name]
                if arr.ndim != 2:
                    raise ValueError(
                        f"tensor {name}: expected 2-D, got {arr.ndim}-D"
                    )
                for i, v in enumerate(np.asarray(arr, dtype=np.float32)):
                    rows.append((name, i, v.tolist(), None))
        except (ValueError, NotImplementedError) as exc:
            rows.append(("_error", -1, None, str(exc)[:120]))
        return rows

    return payload_rows(
        files.select("path", "content"),
        parse,
        "path string, tensor string, row_idx long, vec array<float>, "
        "err string",
    )
