"""H.264 / AVC NAL-unit structural census (ITU-T H.264 / ISO 14496-10).

The video companion to the MP3/ADTS/Ogg audio censuses and the MP4 box
walk (operators/multimodal.py): a crawl's dominant video essence —
H.264 inside MP4 `mdat` or raw Annex-B transport — yields structural
metadata rows (NAL-type histogram, IDR count, SPS-decoded dimensions
and profile/level) without any codec library.  Both byte-stream
framings parse: Annex-B start codes (spec Annex B: 00 00 01 /
00 00 00 01) and AVCC 4-byte length prefixes (the `avcC` sample-entry
convention, ISO 14496-15).  The sequence parameter set is genuinely
Exp-Golomb-decoded (spec §7.3.2.1.1 syntax, §9.1 ue(v)/se(v)) with
emulation-prevention stripping (§7.4.1.1) — macroblock grid, frame
cropping, and chroma-format crop units all honored — so the reported
width/height are the exact display dimensions.  Pixel decode
(CABAC/CAVLC slice data) stays the documented out-of-scope step, same
contract as the audio censuses' PCM boundary.
"""

from __future__ import annotations

# profiles whose SPS carries the chroma/bit-depth/scaling-matrix block
# (spec §7.3.2.1.1 "if( profile_idc == 100 || ... )")
_HIGH_PROFILES = frozenset(
    (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)
)


def _strip_emulation(data: bytes) -> bytes:
    """NAL bytes → RBSP: drop each emulation_prevention_three_byte
    (the 0x03 in a 00 00 03 run, spec §7.4.1.1)."""
    return data.replace(b"\x00\x00\x03", b"\x00\x00")


def _add_emulation(rbsp: bytes) -> bytes:
    """RBSP → NAL bytes: insert 0x03 wherever 00 00 is followed by a
    byte <= 3 (spec §7.4.1.1 encoder constraint)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


class _BitReader:
    """MSB-first bit reader with the Exp-Golomb ue(v)/se(v) decodes of
    spec §9.1."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("SPS bitstream exhausted")
            v = (v << 1) | (self.data[byte] >> (7 - (self.pos & 7))) & 1
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("bad Exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)


class _BitWriter:
    """MSB-first writer mirroring :class:`_BitReader` — fixture
    synthesis only."""

    def __init__(self):
        self.bits: list = []

    def u(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int) -> None:
        v += 1
        n = v.bit_length()
        self.u(0, n - 1)
        self.u(v, n)

    def rbsp_trailing(self) -> bytes:
        self.u(1, 1)  # rbsp_stop_one_bit
        while len(self.bits) % 8:
            self.bits.append(0)
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _skip_scaling_list(r: _BitReader, size: int) -> None:
    """seq scaling list skip (spec §7.3.2.1.1.1 decode, values
    discarded)."""
    last = next_ = 8
    for _ in range(size):
        if next_ != 0:
            next_ = (last + r.se() + 256) % 256
        last = next_ if next_ else last


def parse_sps(rbsp: bytes) -> dict:
    """Decode a seq_parameter_set RBSP (spec §7.3.2.1.1) →
    ``{profile_idc, level_idc, width, height}`` with the exact display
    dimensions: 16-px macroblock grid, field/frame doubling when
    frame_mbs_only_flag is 0, and frame-cropping offsets scaled by the
    chroma-format crop units (spec Table 6-1 / §7.4.2.1.1
    CropUnitX/Y)."""
    r = _BitReader(rbsp)
    profile = r.u(8)
    r.u(8)  # constraint flags + reserved
    level = r.u(8)
    r.ue()  # seq_parameter_set_id
    chroma = 1
    if profile in _HIGH_PROFILES:
        chroma = r.ue()
        if chroma == 3:
            r.u(1)  # separate_colour_plane_flag
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            for i in range(8 if chroma != 3 else 12):
                if r.u(1):
                    _skip_scaling_list(r, 16 if i < 6 else 64)
    r.ue()  # log2_max_frame_num_minus4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    w_mbs = r.ue()
    h_units = r.ue()
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    width = (w_mbs + 1) * 16
    height = (2 - frame_mbs_only) * (h_units + 1) * 16
    if r.u(1):  # frame_cropping_flag
        cl, cr, ct, cb = r.ue(), r.ue(), r.ue(), r.ue()
        # CropUnitX/Y per §7.4.2.1.1: chroma 4:2:0 halves both axes,
        # 4:2:2 halves X only, 4:4:4/monochrome crops in luma samples
        unit_x = 2 if chroma in (1, 2) else 1
        unit_y = (2 if chroma == 1 else 1) * (2 - frame_mbs_only)
        width -= (cl + cr) * unit_x
        height -= (ct + cb) * unit_y
    return {
        "profile_idc": profile,
        "level_idc": level,
        "width": width,
        "height": height,
    }


def _iter_annexb(payload: bytes):
    """Yield NAL-unit byte ranges between Annex-B start codes (both
    3- and 4-byte forms)."""
    n = len(payload)
    pos = 0
    starts = []
    while pos + 3 <= n:
        if payload[pos : pos + 3] == b"\x00\x00\x01":
            starts.append(pos + 3)
            pos += 3
        else:
            pos += 1
    if not starts:
        raise ValueError("no Annex-B start code")
    for i, s in enumerate(starts):
        e = starts[i + 1] - 3 if i + 1 < len(starts) else n
        # a 4-byte start code leaves its leading zero on the previous
        # NAL's tail; strip trailing zeros (spec: trailing_zero_8bits)
        while e > s and payload[e - 1] == 0:
            e -= 1
        if e <= s:
            raise ValueError("empty NAL unit")
        yield payload[s:e]


def _iter_avcc(payload: bytes, length_size: int = 4):
    """Yield NAL units from an AVCC length-prefixed stream."""
    pos = 0
    n = len(payload)
    while pos < n:
        if pos + length_size > n:
            raise ValueError("truncated AVCC length prefix")
        ln = int.from_bytes(payload[pos : pos + length_size], "big")
        pos += length_size
        if ln == 0 or pos + ln > n:
            raise ValueError("AVCC NAL length overruns payload")
        yield payload[pos : pos + ln]
        pos += ln


def h264_nal_census(payload: bytes) -> dict:
    """Walk an H.264 elementary stream → ``{n_nalus, n_slices, n_idr,
    n_sps, n_pps, width, height, profile_idc, level_idc,
    total_bytes}``.  Framing auto-detects: a leading 00 00 01 /
    00 00 00 01 start code selects Annex-B, anything else parses as
    AVCC 4-byte length prefixes (unambiguous: an AVCC first-NAL length
    of 1..16M never byte-matches a start code prefix).  Dimensions
    come from the FIRST SPS, fully Exp-Golomb-decoded per
    :func:`parse_sps`.  Raises ValueError on an empty payload, a
    forbidden_zero_bit violation, a truncated NAL, or a stream with no
    SPS."""
    if payload is None or len(payload) < 5:
        raise ValueError("empty or truncated H.264 payload")
    if payload[:3] == b"\x00\x00\x01" or payload[:4] == b"\x00\x00\x00\x01":
        nalus = _iter_annexb(payload)
    else:
        nalus = _iter_avcc(payload)
    counts = {"n_nalus": 0, "n_slices": 0, "n_idr": 0,
              "n_sps": 0, "n_pps": 0}
    sps = None
    for nal in nalus:
        hdr = nal[0]
        if hdr & 0x80:
            raise ValueError("forbidden_zero_bit set in NAL header")
        ntype = hdr & 0x1F
        counts["n_nalus"] += 1
        if ntype in (1, 5):
            counts["n_slices"] += 1
            if ntype == 5:
                counts["n_idr"] += 1
        elif ntype == 7:
            counts["n_sps"] += 1
            if sps is None:
                sps = parse_sps(_strip_emulation(nal[1:]))
        elif ntype == 8:
            counts["n_pps"] += 1
    if sps is None:
        raise ValueError("H.264 stream carries no SPS")
    return {
        **counts,
        "width": sps["width"],
        "height": sps["height"],
        "profile_idc": sps["profile_idc"],
        "level_idc": sps["level_idc"],
        "total_bytes": len(payload),
    }


def encode_sps(
    width_mbs_minus1: int,
    height_units_minus1: int,
    crop_right: int = 0,
    crop_bottom: int = 0,
    profile_idc: int = 66,
    level_idc: int = 30,
) -> bytes:
    """Baseline-profile seq_parameter_set NAL (header byte 0x67 +
    emulation-protected RBSP): frame_mbs_only, poc type 0, optional
    right/bottom cropping in 2-px 4:2:0 units — fixture synthesis for
    :func:`parse_sps`; carries no usable slice context by design."""
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)  # constraint flags
    w.u(level_idc, 8)
    w.ue(0)  # sps id
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(0)  # poc type 0
    w.ue(0)  # log2_max_pic_order_cnt_lsb_minus4
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps allowed
    w.ue(width_mbs_minus1)
    w.ue(height_units_minus1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    if crop_right or crop_bottom:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_right)
        w.ue(0)
        w.ue(crop_bottom)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui absent
    return b"\x67" + _add_emulation(w.rbsp_trailing())


def encode_h264_stream(
    width: int,
    height: int,
    n_gops: int = 2,
    p_per_gop: int = 2,
    slice_bytes: int = 24,
    level_idc: int = 30,
    avcc: bool = False,
) -> bytes:
    """Structurally valid H.264 stream writer (one SPS/PPS then
    ``n_gops`` GOPs of one IDR + ``p_per_gop`` non-IDR slices, filler
    slice bodies) in Annex-B or AVCC framing — fixture synthesis for
    :func:`h264_nal_census`; no decodable pictures by design.  Width/
    height need not be multiples of 16: the writer rounds the
    macroblock grid up and encodes the remainder as SPS frame
    cropping, which the census must crop back out."""
    if width < 2 or height < 2:
        raise ValueError("dimensions too small")
    w_mbs = (width + 15) // 16
    h_units = (height + 15) // 16
    crop_r = (w_mbs * 16 - width) // 2
    crop_b = (h_units * 16 - height) // 2
    if (w_mbs * 16 - width) & 1 or (h_units * 16 - height) & 1:
        raise ValueError("4:2:0 cropping works in 2-px units")
    sps = encode_sps(w_mbs - 1, h_units - 1, crop_r, crop_b,
                     level_idc=level_idc)
    pps = b"\x68\xce\x38\x80"  # minimal pic_parameter_set
    filler = bytes((0xA5 + i) % 251 + 1 for i in range(slice_bytes))
    nals = [sps, pps]
    for _ in range(n_gops):
        nals.append(b"\x65" + filler)  # IDR slice
        nals.extend(b"\x41" + filler for _ in range(p_per_gop))
    if avcc:
        return b"".join(len(n).to_bytes(4, "big") + n for n in nals)
    out = []
    for i, n in enumerate(nals):
        # alternate 4-byte (parameter sets) and 3-byte start codes so
        # the census exercises both Annex-B forms
        out.append((b"\x00\x00\x00\x01" if i < 2 else b"\x00\x00\x01") + n)
    return b"".join(out)


H264_CENSUS_SCHEMA = (
    "media_id long, n_nalus long, n_slices long, n_idr long, "
    "n_sps long, n_pps long, width long, height long, "
    "profile_idc long, level_idc long, total_bytes long"
)
