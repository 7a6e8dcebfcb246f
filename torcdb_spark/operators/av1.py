"""AV1 OBU structural census (AV1 Bitstream & Decoding Process spec,
Alliance for Open Media, v1.0.0 w/ Errata).

The growing-share crawl-video sibling of the H.264 NAL census
(operators/h264.py): AV1 essence inside WebM (m23's census already
exposes the payloads) or MP4 `av01` tracks yields structural metadata
rows — OBU-type histogram, frame/tile-group counts, and a genuinely
bit-decoded sequence header (profile, level, exact max frame
dimensions) — without any codec library.  The low-overhead bitstream
format parses (spec §5.2: per-OBU headers with leb128 size fields —
the framing WebM/MP4 carry); the length-delimited Annex-B variant and
tile payload decode stay the documented out-of-scope boundary, the
same contract as every other census's essence line.
"""

from __future__ import annotations

# OBU types, spec §6.2.2
OBU_SEQUENCE_HEADER = 1
OBU_TEMPORAL_DELIMITER = 2
OBU_FRAME_HEADER = 3
OBU_TILE_GROUP = 4
OBU_METADATA = 5
OBU_FRAME = 6
OBU_REDUNDANT_FRAME_HEADER = 7
OBU_PADDING = 15


def _read_leb128(buf: bytes, pos: int):
    """spec §4.10.5 leb128(): up to 8 little-endian 7-bit groups."""
    v = 0
    for i in range(8):
        if pos >= len(buf):
            raise ValueError("truncated leb128")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return v, pos
    raise ValueError("leb128 exceeds 8 bytes")


def _leb128(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


class _BitReader:
    """MSB-first f(n) / uvlc() reads of spec §4.10."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def f(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("sequence header bitstream exhausted")
            v = (v << 1) | (self.data[byte] >> (7 - (self.pos & 7))) & 1
            self.pos += 1
        return v

    def uvlc(self) -> int:
        zeros = 0
        while self.f(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("bad uvlc code")
        if zeros == 32:
            return (1 << 32) - 1
        return self.f(zeros) + (1 << zeros) - 1 if zeros else 0


class _BitWriter:
    """MSB-first mirror of :class:`_BitReader` — fixture synthesis."""

    def __init__(self):
        self.bits: list = []

    def f(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def trailing(self) -> bytes:
        self.f(1, 1)  # trailing_one_bit
        while len(self.bits) % 8:
            self.bits.append(0)
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def parse_sequence_header(payload: bytes) -> dict:
    """Decode a sequence_header_obu payload (spec §5.5.1) through the
    max-frame-dimension fields → ``{seq_profile, seq_level_idx,
    still_picture, width, height}``.  Handles both the
    reduced_still_picture_header short form and the full
    operating-points form including optional timing_info /
    decoder_model_info / initial_display_delay blocks (each skipped
    field is read per its exact spec width so the dimension bits land
    on the right offsets); everything after max_frame_height
    (superblock/tool flags, color_config, film grain) does not affect
    the census and is not read."""
    r = _BitReader(payload)
    profile = r.f(3)
    if profile > 2:
        raise ValueError(f"reserved seq_profile {profile}")
    still = r.f(1)
    reduced = r.f(1)
    if reduced:
        level = r.f(5)
    else:
        decoder_model_present = False
        buffer_delay_len = 0
        if r.f(1):  # timing_info_present_flag
            r.f(32)  # num_units_in_display_tick
            r.f(32)  # time_scale
            if r.f(1):  # equal_picture_interval
                r.uvlc()  # num_ticks_per_picture_minus_1
            decoder_model_present = bool(r.f(1))
            if decoder_model_present:
                buffer_delay_len = r.f(5) + 1
                r.f(32)  # num_units_in_decoding_tick
                r.f(5)  # buffer_removal_time_length_minus_1
                r.f(5)  # frame_presentation_time_length_minus_1
        initial_display_delay = bool(r.f(1))
        n_ops = r.f(5) + 1
        level = None
        for i in range(n_ops):
            r.f(12)  # operating_point_idc
            lv = r.f(5)
            if level is None:
                level = lv  # report op point 0, the full stream
            if lv > 7:
                r.f(1)  # seq_tier
            if decoder_model_present and r.f(1):
                r.f(buffer_delay_len)  # decoder_buffer_delay
                r.f(buffer_delay_len)  # encoder_buffer_delay
                r.f(1)  # low_delay_mode_flag
            if initial_display_delay and r.f(1):
                r.f(4)  # initial_display_delay_minus_1
    wbits = r.f(4) + 1
    hbits = r.f(4) + 1
    width = r.f(wbits) + 1
    height = r.f(hbits) + 1
    return {
        "seq_profile": profile,
        "seq_level_idx": level,
        "still_picture": still,
        "width": width,
        "height": height,
    }


def av1_obu_census(payload: bytes) -> dict:
    """Walk a low-overhead AV1 stream → ``{n_obus, n_seq_hdr, n_temporal_
    delim, n_frames, n_tile_groups, n_metadata, n_padding, width,
    height, seq_profile, seq_level_idx, total_bytes}``.  Every OBU
    header is validated (forbidden bit, reserved bit), the optional
    extension byte is skipped, and sizes come from the leb128
    obu_size field (spec §5.2 — obu_has_size_field must be set in the
    low-overhead format; its absence raises, as does a size overrun or
    a stream with no sequence header).  n_frames counts OBU_FRAME and
    OBU_FRAME_HEADER (a shown picture either way); dimensions come
    from the FIRST sequence header via :func:`parse_sequence_header`."""
    if payload is None or len(payload) < 2:
        raise ValueError("empty or truncated AV1 payload")
    counts = {"n_obus": 0, "n_seq_hdr": 0, "n_temporal_delim": 0,
              "n_frames": 0, "n_tile_groups": 0, "n_metadata": 0,
              "n_padding": 0}
    seq = None
    pos = 0
    n = len(payload)
    while pos < n:
        hdr = payload[pos]
        pos += 1
        if hdr & 0x80:
            raise ValueError("obu_forbidden_bit set")
        if hdr & 0x01:
            raise ValueError("obu_reserved_1bit set")
        otype = (hdr >> 3) & 0x0F
        if hdr & 0x04:  # obu_extension_flag
            if pos >= n:
                raise ValueError("truncated OBU extension header")
            pos += 1
        if not hdr & 0x02:
            raise ValueError(
                "obu_has_size_field unset (Annex-B framing unsupported)"
            )
        size, pos = _read_leb128(payload, pos)
        if pos + size > n:
            raise ValueError("OBU size overruns payload")
        body = payload[pos : pos + size]
        pos += size
        counts["n_obus"] += 1
        if otype == OBU_SEQUENCE_HEADER:
            counts["n_seq_hdr"] += 1
            if seq is None:
                seq = parse_sequence_header(body)
        elif otype == OBU_TEMPORAL_DELIMITER:
            counts["n_temporal_delim"] += 1
        elif otype in (OBU_FRAME, OBU_FRAME_HEADER):
            counts["n_frames"] += 1
        elif otype == OBU_TILE_GROUP:
            counts["n_tile_groups"] += 1
        elif otype == OBU_METADATA:
            counts["n_metadata"] += 1
        elif otype == OBU_PADDING:
            counts["n_padding"] += 1
    if seq is None:
        raise ValueError("AV1 stream carries no sequence header")
    return {
        **counts,
        "width": seq["width"],
        "height": seq["height"],
        "seq_profile": seq["seq_profile"],
        "seq_level_idx": seq["seq_level_idx"],
        "total_bytes": n,
    }


def encode_sequence_header(
    width: int,
    height: int,
    seq_profile: int = 0,
    seq_level_idx: int = 8,
    reduced: bool = False,
    with_timing: bool = False,
) -> bytes:
    """sequence_header_obu payload writer (spec §5.5.1 field order):
    full or reduced form, one operating point, optional timing_info
    block (fixed tick rate, no decoder model) so the parser's
    skip-width arithmetic is exercised; tool flags, color_config
    (profile-0 4:2:0), and film grain written as spec-shaped zeros.
    Fixture synthesis for :func:`parse_sequence_header`."""
    if not (0 < width <= 1 << 16 and 0 < height <= 1 << 16):
        raise ValueError("dimensions out of the 16-bit field range")
    w = _BitWriter()
    w.f(seq_profile, 3)
    w.f(0, 1)  # still_picture
    w.f(1 if reduced else 0, 1)
    if reduced:
        w.f(seq_level_idx, 5)
    else:
        if with_timing:
            w.f(1, 1)  # timing_info_present_flag
            w.f(25, 32)  # num_units_in_display_tick
            w.f(600, 32)  # time_scale
            w.f(0, 1)  # equal_picture_interval
            w.f(0, 1)  # decoder_model_info_present_flag
        else:
            w.f(0, 1)
        w.f(0, 1)  # initial_display_delay_present_flag
        w.f(0, 5)  # operating_points_cnt_minus_1
        w.f(0, 12)  # operating_point_idc[0]
        w.f(seq_level_idx, 5)
        if seq_level_idx > 7:
            w.f(0, 1)  # seq_tier
    wbits = max((width - 1).bit_length(), 1)
    hbits = max((height - 1).bit_length(), 1)
    w.f(wbits - 1, 4)
    w.f(hbits - 1, 4)
    w.f(width - 1, wbits)
    w.f(height - 1, hbits)
    if not reduced:
        w.f(0, 1)  # frame_id_numbers_present_flag
    w.f(0, 1)  # use_128x128_superblock
    w.f(0, 1)  # enable_filter_intra
    w.f(0, 1)  # enable_intra_edge_filter
    if not reduced:
        w.f(0, 1)  # enable_interintra_compound
        w.f(0, 1)  # enable_masked_compound
        w.f(0, 1)  # enable_warped_motion
        w.f(0, 1)  # enable_dual_filter
        w.f(0, 1)  # enable_order_hint
        w.f(0, 1)  # seq_choose_screen_content_tools
        w.f(0, 1)  # seq_force_screen_content_tools
    w.f(0, 1)  # enable_superres
    w.f(0, 1)  # enable_cdef
    w.f(0, 1)  # enable_restoration
    # color_config(), profile-0 4:2:0 shape
    w.f(0, 1)  # high_bitdepth
    w.f(0, 1)  # mono_chrome
    w.f(0, 1)  # color_description_present_flag
    w.f(0, 1)  # color_range
    w.f(0, 2)  # chroma_sample_position
    w.f(0, 1)  # separate_uv_delta_q
    w.f(0, 1)  # film_grain_params_present
    return w.trailing()


def _obu(otype: int, body: bytes, temporal_id: int = 0) -> bytes:
    """One OBU with size field, optional extension header."""
    ext = 1 if temporal_id else 0
    hdr = bytes([(otype << 3) | (ext << 2) | 0x02])
    if ext:
        hdr += bytes([(temporal_id << 5) & 0xE0])
    return hdr + _leb128(len(body)) + body


def encode_av1_stream(
    width: int,
    height: int,
    n_frames: int = 3,
    tile_bytes: int = 24,
    seq_level_idx: int = 8,
    reduced: bool = False,
    with_timing: bool = False,
) -> bytes:
    """Structurally valid low-overhead AV1 stream writer: temporal
    delimiter, sequence header, then per frame a temporal delimiter +
    an OBU_FRAME with filler payload (alternate frames carry an
    extension header with temporal_id 1, exercising the extension
    skip), one metadata OBU and one padding OBU at the tail — fixture
    synthesis for :func:`av1_obu_census`; no decodable pictures by
    design (tile data is the documented out-of-scope essence)."""
    seq = encode_sequence_header(
        width, height, 0, seq_level_idx, reduced, with_timing
    )
    filler = bytes((0x5A + i) % 251 + 1 for i in range(tile_bytes))
    out = [_obu(OBU_TEMPORAL_DELIMITER, b""), _obu(OBU_SEQUENCE_HEADER, seq)]
    for i in range(n_frames):
        out.append(_obu(OBU_TEMPORAL_DELIMITER, b""))
        out.append(_obu(OBU_FRAME, filler, temporal_id=i & 1))
    out.append(_obu(OBU_METADATA, b"\x01\x00"))
    out.append(_obu(OBU_PADDING, b"\x00" * 4))
    return b"".join(out)


AV1_CENSUS_SCHEMA = (
    "media_id long, n_obus long, n_seq_hdr long, "
    "n_temporal_delim long, n_frames long, n_tile_groups long, "
    "n_metadata long, n_padding long, width long, height long, "
    "seq_profile long, seq_level_idx long, total_bytes long"
)
