"""EBML / Matroska / WebM structural census (RFC 8794 EBML; the
Matroska element IDs from the public matroska.org spec, RFC 9559).

The container companion to the MP4 box walk (operators/multimodal.py
mp4_box_census) for the OTHER half of crawl video: WebM is the web's
open video container and ships the same metadata a pipeline needs
before any codec work — doctype, timestamp scale, duration, per-track
type/dimensions, cluster count.  Variable-length integers (vints) are
genuinely decoded per RFC 8794 §4 (element IDs keep their marker bit,
sizes strip it, all-ones data bits mean unknown size), so real files
with mixed vint widths parse.  Block/codec payload decode stays the
documented out-of-scope step, same contract as the audio censuses.
"""

from __future__ import annotations

import struct

# Element IDs (marker bit retained, as written on disk)
_EBML_HEADER = 0x1A45DFA3
_DOCTYPE = 0x4282
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_TYPE = 0x83
_VIDEO = 0xE0
_PIXEL_WIDTH = 0xB0
_PIXEL_HEIGHT = 0xBA
_CLUSTER = 0x1F43B675
_VOID = 0xEC


def _read_vint(buf: bytes, pos: int, keep_marker: bool):
    """RFC 8794 §4 vint decode → (value, byte_length).  Element IDs
    keep the length-marker bit (the on-disk ID convention); sizes strip
    it.  Returns value None for an all-ones size (unknown)."""
    if pos >= len(buf):
        raise ValueError("EBML vint past end of buffer")
    b0 = buf[pos]
    if b0 == 0:
        raise ValueError("invalid EBML vint (>8 bytes)")
    length = 1
    mask = 0x80
    while not b0 & mask:
        length += 1
        mask >>= 1
    if pos + length > len(buf):
        raise ValueError("truncated EBML vint")
    val = b0 if keep_marker else b0 & (mask - 1)
    for i in range(1, length):
        val = (val << 8) | buf[pos + i]
    if not keep_marker and val == (1 << (7 * length)) - 1:
        return None, length  # unknown size
    return val, length


def _elements(buf: bytes, start: int, end: int):
    """Yield (element_id, body_start, body_end) across one EBML level.
    An unknown-size element (legal for Segment/Cluster in live
    streams) extends to the enclosing scope's end."""
    pos = start
    while pos < end:
        eid, n1 = _read_vint(buf, pos, keep_marker=True)
        size, n2 = _read_vint(buf, pos + n1, keep_marker=False)
        body = pos + n1 + n2
        bend = end if size is None else body + size
        if bend > end:
            raise ValueError("EBML element overruns its scope")
        yield eid, body, bend
        pos = bend


def _uint(buf: bytes, start: int, end: int) -> int:
    return int.from_bytes(buf[start:end], "big")


def _float(buf: bytes, start: int, end: int) -> float:
    n = end - start
    if n == 4:
        return struct.unpack(">f", buf[start:end])[0]
    if n == 8:
        return struct.unpack(">d", buf[start:end])[0]
    if n == 0:
        return 0.0
    raise ValueError("EBML float must be 0/4/8 bytes")


def webm_census(payload: bytes) -> dict:
    """Walk a Matroska/WebM EBML tree → ``{doctype, timescale,
    duration_ms, n_tracks, n_video, n_audio, width, height, n_clusters,
    total_bytes}``: DocType from the EBML header, TimestampScale (ns
    per tick, default 1,000,000) and float Duration from Segment>Info,
    per-TrackEntry TrackType classification (1=video, 2=audio) with the
    first video track's PixelWidth/PixelHeight, and the top-level
    Cluster count.  duration_ms floors duration·timescale/10^6.  Raises
    ValueError on a payload that is not EBML, carries no Segment/Info,
    or any element overrunning its scope."""
    if payload is None or len(payload) < 8:
        raise ValueError("empty or truncated EBML payload")
    doctype = None
    timescale = 1_000_000  # Matroska default: 1 ms ticks
    duration = None
    n_tracks = n_video = n_audio = 0
    width = height = None
    n_clusters = 0
    saw_segment = False
    for eid, body, bend in _elements(payload, 0, len(payload)):
        if eid == _EBML_HEADER:
            for e2, b2, e2end in _elements(payload, body, bend):
                if e2 == _DOCTYPE:
                    doctype = payload[b2:e2end].split(b"\x00")[0].decode(
                        "utf-8")
        elif eid == _SEGMENT:
            saw_segment = True
            for e2, b2, e2end in _elements(payload, body, bend):
                if e2 == _INFO:
                    for e3, b3, e3end in _elements(payload, b2, e2end):
                        if e3 == _TIMESTAMP_SCALE:
                            timescale = _uint(payload, b3, e3end)
                        elif e3 == _DURATION:
                            duration = _float(payload, b3, e3end)
                elif e2 == _TRACKS:
                    for e3, b3, e3end in _elements(payload, b2, e2end):
                        if e3 != _TRACK_ENTRY:
                            continue
                        n_tracks += 1
                        ttype = None
                        tw = th = None
                        for e4, b4, e4end in _elements(
                                payload, b3, e3end):
                            if e4 == _TRACK_TYPE:
                                ttype = _uint(payload, b4, e4end)
                            elif e4 == _VIDEO:
                                for e5, b5, e5end in _elements(
                                        payload, b4, e4end):
                                    if e5 == _PIXEL_WIDTH:
                                        tw = _uint(payload, b5, e5end)
                                    elif e5 == _PIXEL_HEIGHT:
                                        th = _uint(payload, b5, e5end)
                        if ttype == 1:
                            n_video += 1
                            if width is None:
                                width, height = tw, th
                        elif ttype == 2:
                            n_audio += 1
                elif e2 == _CLUSTER:
                    n_clusters += 1
    if doctype is None or not saw_segment:
        raise ValueError("not a Matroska/WebM payload (header/segment "
                         "missing)")
    duration_ms = (
        int(duration * timescale // 1_000_000) if duration else 0
    )
    return {
        "doctype": doctype,
        "timescale": timescale,
        "duration_ms": duration_ms,
        "n_tracks": n_tracks,
        "n_video": n_video,
        "n_audio": n_audio,
        "width": width,
        "height": height,
        "n_clusters": n_clusters,
        "total_bytes": len(payload),
    }


def _vint_size(n: int) -> bytes:
    """Minimal-length EBML size encoding (skipping a length whose data
    bits would be all ones — that means 'unknown')."""
    for length in range(1, 9):
        cap = (1 << (7 * length)) - 1
        if n < cap:  # strictly below: all-ones is reserved
            out = n | (1 << (7 * length))
            return out.to_bytes(length, "big")
    raise ValueError("size too large for an EBML vint")


def _elem(eid: int, body: bytes) -> bytes:
    eid_bytes = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    return eid_bytes + _vint_size(len(body)) + body


def _uint_body(v: int) -> bytes:
    return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")


def encode_webm_stub(
    doctype: str = "webm",
    timescale: int = 1_000_000,
    duration_ms: int = 5000,
    n_video: int = 1,
    n_audio: int = 1,
    width: int = 640,
    height: int = 360,
    n_clusters: int = 2,
    cluster_bytes: int = 16,
) -> bytes:
    """Structurally valid Matroska/WebM writer (EBML header with
    DocType, Segment > Info(TimestampScale, float64 Duration) +
    Tracks(TrackEntry...) + Void-filled Clusters) — fixture synthesis
    for :func:`webm_census`; no decodable media by design."""
    header = _elem(_EBML_HEADER, _elem(_DOCTYPE, doctype.encode("utf-8")))
    dur_ticks = duration_ms * 1_000_000 / timescale
    info = _elem(
        _INFO,
        _elem(_TIMESTAMP_SCALE, _uint_body(timescale))
        + _elem(_DURATION, struct.pack(">d", dur_ticks)),
    )
    entries = b""
    for i in range(n_video + n_audio):
        vid = i < n_video
        body = _elem(_TRACK_TYPE, _uint_body(1 if vid else 2))
        if vid:
            body += _elem(
                _VIDEO,
                _elem(_PIXEL_WIDTH, _uint_body(width))
                + _elem(_PIXEL_HEIGHT, _uint_body(height)),
            )
        entries += _elem(_TRACK_ENTRY, body)
    tracks = _elem(_TRACKS, entries)
    clusters = b"".join(
        _elem(_CLUSTER, _elem(_VOID, bytes(cluster_bytes)))
        for _ in range(n_clusters)
    )
    return header + _elem(_SEGMENT, info + tracks + clusters)


WEBM_CENSUS_SCHEMA = (
    "media_id long, doctype string, timescale long, duration_ms long, "
    "n_tracks long, n_video long, n_audio long, width long, "
    "height long, n_clusters long"
)
