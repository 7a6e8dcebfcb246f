"""H.265 / HEVC NAL-unit structural census (ITU-T H.265 / ISO 23008-2).

Completes the crawl-video census family next to H.264
(operators/h264.py) and AV1 (operators/av1.py): HEVC essence inside
MP4 `hvc1/hev1` tracks or raw Annex-B transport yields structural
metadata rows — NAL-type histogram, IRAP/IDR counts, parameter-set
counts, and an SPS genuinely bit-decoded through the profile-tier-
level block to the exact conformance-cropped dimensions — without a
codec library.  Both framings parse (Annex-B start codes and the
ISO 14496-15 4-byte length prefixes); slice-data decode stays the
documented out-of-scope essence boundary, the same contract as every
census.  Reuses the H.264 module's RBSP emulation handling and
Exp-Golomb bit reader/writer (the two specs share §9.2's ue(v) and
§7.4's emulation-prevention verbatim).
"""

from __future__ import annotations

from torcdb_spark.operators.h264 import (
    _add_emulation,
    _BitReader,
    _BitWriter,
    _iter_annexb,
    _iter_avcc,
    _strip_emulation,
)

# NAL unit types, spec Table 7-1
NAL_BLA_W_LP = 16
NAL_IDR_W_RADL = 19
NAL_IDR_N_LP = 20
NAL_CRA_NUT = 21
NAL_IRAP_LAST = 23  # BLA..RSV_IRAP range upper bound
NAL_VPS = 32
NAL_SPS = 33
NAL_PPS = 34

# SubWidthC/SubHeightC per chroma_format_idc (spec Table 6-1)
_SUB_WH = {0: (1, 1), 1: (2, 2), 2: (2, 1), 3: (1, 1)}


def _skip_profile_tier_level(r: _BitReader, max_sub_layers_minus1: int):
    """profile_tier_level (spec §7.3.3, profilePresentFlag=1): read the
    general block (12 bytes) and the per-sub-layer presence flags +
    present blocks, values discarded — the SPS fields the census needs
    sit after it, so every bit must be consumed at its exact width."""
    r.u(2)  # general_profile_space
    r.u(1)  # general_tier_flag
    profile_idc = r.u(5)
    r.u(32)  # general_profile_compatibility_flags
    r.u(48)  # progressive/interlaced/non-packed/frame-only + 44 reserved
    level_idc = r.u(8)
    sub_profile = []
    sub_level = []
    for _ in range(max_sub_layers_minus1):
        sub_profile.append(r.u(1))
        sub_level.append(r.u(1))
    if max_sub_layers_minus1 > 0:
        for _ in range(8 - max_sub_layers_minus1):
            r.u(2)  # reserved_zero_2bits alignment
    for i in range(max_sub_layers_minus1):
        if sub_profile[i]:
            r.u(2 + 1 + 5)
            r.u(32)
            r.u(48)
        if sub_level[i]:
            r.u(8)
    return profile_idc, level_idc


def parse_hevc_sps(rbsp: bytes) -> dict:
    """Decode a seq_parameter_set RBSP (spec §7.3.2.2.1) →
    ``{profile_idc, level_idc, width, height}`` with exact display
    dimensions: pic_width/height_in_luma_samples minus the conformance
    window scaled by the chroma-format SubWidthC/SubHeightC units
    (spec §7.4.3.2.1 / Table 6-1)."""
    r = _BitReader(rbsp)
    r.u(4)  # sps_video_parameter_set_id
    max_sub_layers_minus1 = r.u(3)
    r.u(1)  # sps_temporal_id_nesting_flag
    profile_idc, level_idc = _skip_profile_tier_level(
        r, max_sub_layers_minus1
    )
    r.ue()  # sps_seq_parameter_set_id
    chroma = r.ue()
    if chroma > 3:
        raise ValueError(f"bad chroma_format_idc {chroma}")
    if chroma == 3:
        r.u(1)  # separate_colour_plane_flag
    width = r.ue()  # pic_width_in_luma_samples
    height = r.ue()
    if r.u(1):  # conformance_window_flag
        left, right, top, bottom = r.ue(), r.ue(), r.ue(), r.ue()
        sub_w, sub_h = _SUB_WH[chroma]
        width -= (left + right) * sub_w
        height -= (top + bottom) * sub_h
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": width,
        "height": height,
    }


def hevc_nal_census(payload: bytes) -> dict:
    """Walk an HEVC elementary stream → ``{n_nalus, n_slices, n_irap,
    n_idr, n_vps, n_sps, n_pps, width, height, profile_idc, level_idc,
    total_bytes}``.  Framing auto-detects exactly like the H.264
    census (leading start code → Annex-B, else 4-byte length
    prefixes).  The two-byte NAL header is validated
    (forbidden_zero_bit, nuh_temporal_id_plus1 != 0); slice counting
    covers VCL types 0..31, IRAP types 16..23, IDR 19/20.  Dimensions
    come from the FIRST SPS via :func:`parse_hevc_sps`.  Raises
    ValueError on empty payload, header violations, or no SPS."""
    if payload is None or len(payload) < 6:
        raise ValueError("empty or truncated HEVC payload")
    if payload[:3] == b"\x00\x00\x01" or payload[:4] == b"\x00\x00\x00\x01":
        nalus = _iter_annexb(payload)
    else:
        nalus = _iter_avcc(payload)
    counts = {"n_nalus": 0, "n_slices": 0, "n_irap": 0, "n_idr": 0,
              "n_vps": 0, "n_sps": 0, "n_pps": 0}
    sps = None
    for nal in nalus:
        if len(nal) < 3:
            raise ValueError("HEVC NAL shorter than its 2-byte header")
        if nal[0] & 0x80:
            raise ValueError("forbidden_zero_bit set in NAL header")
        ntype = (nal[0] >> 1) & 0x3F
        if (nal[1] & 0x07) == 0:
            raise ValueError("nuh_temporal_id_plus1 is zero")
        counts["n_nalus"] += 1
        if ntype < 32:  # VCL range
            counts["n_slices"] += 1
            if NAL_BLA_W_LP <= ntype <= NAL_IRAP_LAST:
                counts["n_irap"] += 1
            if ntype in (NAL_IDR_W_RADL, NAL_IDR_N_LP):
                counts["n_idr"] += 1
        elif ntype == NAL_VPS:
            counts["n_vps"] += 1
        elif ntype == NAL_SPS:
            counts["n_sps"] += 1
            if sps is None:
                sps = parse_hevc_sps(_strip_emulation(nal[2:]))
        elif ntype == NAL_PPS:
            counts["n_pps"] += 1
    if sps is None:
        raise ValueError("HEVC stream carries no SPS")
    return {
        **counts,
        "width": sps["width"],
        "height": sps["height"],
        "profile_idc": sps["profile_idc"],
        "level_idc": sps["level_idc"],
        "total_bytes": len(payload),
    }


def _hevc_nal_header(ntype: int, temporal_id: int = 0) -> bytes:
    return bytes([(ntype << 1) & 0x7E, 0x01 + temporal_id])


def encode_hevc_sps(
    width: int,
    height: int,
    crop_right: int = 0,
    crop_bottom: int = 0,
    profile_idc: int = 1,
    level_idc: int = 93,
    max_sub_layers_minus1: int = 0,
) -> bytes:
    """Main-profile seq_parameter_set NAL (2-byte header +
    emulation-protected RBSP prefix): full profile_tier_level block,
    4:2:0 chroma, optional right/bottom conformance cropping in 2-px
    units — fixture synthesis for :func:`parse_hevc_sps`; the fields
    after the conformance window are not read by the census and are
    closed with a trailing stop bit."""
    w = _BitWriter()
    w.u(0, 4)  # sps_video_parameter_set_id
    w.u(max_sub_layers_minus1, 3)
    w.u(1, 1)  # sps_temporal_id_nesting_flag
    # profile_tier_level
    w.u(0, 2)
    w.u(0, 1)
    w.u(profile_idc, 5)
    w.u(1 << (31 - profile_idc), 32)  # compatibility flag for own profile
    w.u(1 << 47, 48)  # general_progressive_source_flag set
    w.u(level_idc, 8)
    for _ in range(max_sub_layers_minus1):
        w.u(0, 1)
        w.u(0, 1)
    if max_sub_layers_minus1 > 0:
        for _ in range(8 - max_sub_layers_minus1):
            w.u(0, 2)
    w.ue(0)  # sps_seq_parameter_set_id
    w.ue(1)  # chroma_format_idc 4:2:0
    w.ue(width + 2 * crop_right)  # pic_width_in_luma_samples
    w.ue(height + 2 * crop_bottom)
    if crop_right or crop_bottom:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_right)
        w.ue(0)
        w.ue(crop_bottom)
    else:
        w.u(0, 1)
    return _hevc_nal_header(NAL_SPS) + _add_emulation(w.rbsp_trailing())


def encode_hevc_stream(
    width: int,
    height: int,
    n_gops: int = 2,
    p_per_gop: int = 2,
    slice_bytes: int = 24,
    level_idc: int = 93,
    avcc: bool = False,
) -> bytes:
    """Structurally valid HEVC stream writer (VPS + SPS + PPS then
    ``n_gops`` GOPs of one IDR_W_RADL + ``p_per_gop`` TRAIL_R slices,
    filler bodies) in Annex-B or length-prefixed framing — fixture
    synthesis for :func:`hevc_nal_census`; no decodable pictures by
    design.  Odd crop remainders are rejected (4:2:0 conformance
    windows move in 2-px units)."""
    if width < 2 or height < 2:
        raise ValueError("dimensions too small")
    if width % 2 or height % 2:
        raise ValueError("4:2:0 conformance cropping works in 2-px units")
    # luma plane rounds up to the 8-px MinCbSizeY grid; the remainder
    # returns through the conformance window, which the census must
    # crop back out (the same shape as H.264's macroblock/crop pair)
    crop_r = ((width + 7) // 8 * 8 - width) // 2
    crop_b = ((height + 7) // 8 * 8 - height) // 2
    sps = encode_hevc_sps(width, height, crop_r, crop_b,
                          level_idc=level_idc)
    vps = _hevc_nal_header(NAL_VPS) + b"\x0c\x01\xff\xff"
    pps = _hevc_nal_header(NAL_PPS) + b"\xc1\x62\x4f\x08"
    filler = bytes((0x3C + i) % 251 + 1 for i in range(slice_bytes))
    nals = [vps, sps, pps]
    for _ in range(n_gops):
        nals.append(_hevc_nal_header(NAL_IDR_W_RADL) + filler)
        nals.extend(
            _hevc_nal_header(1, temporal_id=1) + filler  # TRAIL_R
            for _ in range(p_per_gop)
        )
    if avcc:
        return b"".join(len(n).to_bytes(4, "big") + n for n in nals)
    out = []
    for i, n in enumerate(nals):
        out.append((b"\x00\x00\x00\x01" if i < 3 else b"\x00\x00\x01") + n)
    return b"".join(out)


HEVC_CENSUS_SCHEMA = (
    "media_id long, n_nalus long, n_slices long, n_irap long, "
    "n_idr long, n_vps long, n_sps long, n_pps long, width long, "
    "height long, profile_idc long, level_idc long, total_bytes long"
)
