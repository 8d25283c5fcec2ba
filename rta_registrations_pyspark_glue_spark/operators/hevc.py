"""H.265/HEVC STRUCTURAL extraction — no frame decode (r11).

Completes the compressed-video structural trio (h264.py, this, and
the AAC work in mp4.py): the hvcC configuration record
(HEVCDecoderConfigurationRecord, ISO/IEC 14496-15 §8.3.3.1) and the
HEVC SPS (ITU-T H.265 §7.3.2.2) carry everything a curation pass
filters scraped video on — profile/tier/level, exact conformance-
cropped dimensions, chroma format, bit depth — and both are
Exp-Golomb/fixed-width STRUCTURAL syntax (read and written through
bitio's MSB-first pair, as in h264.py; HEVC adds the two-byte NAL
header and the profile_tier_level block). CTU/slice decode stays the
documented external-codec boundary.

``write_hevc_sps`` emits a spec-complete SPS (through the extension
flag, every post-dimension field at its simplest legal value) so the
parser is writer-vs-reader pinned on exact dims including the
conformance window; ``extract_hevc_track`` walks an ISO-BMFF hvc1/
hev1 track's hvcC + per-sample length-prefixed NAL units (two-byte
headers, IRAP keyframe detection)."""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.bitio import MsbReader, MsbWriter
from rta_registrations_pyspark_glue_spark.operators.h264 import (
    insert_emulation,
    strip_emulation,
)
from rta_registrations_pyspark_glue_spark.operators.legs import decode_leg, synth_leg
from rta_registrations_pyspark_glue_spark.operators.mediameta import _mp4_boxes

#: general_profile_idc -> name (H.265 Annex A subset)
PROFILES = {1: "Main", 2: "Main 10", 3: "Main Still Picture",
            4: "Range Extensions"}

#: NAL unit type -> short name (H.265 table 7-1 subset). Types 16-23
#: are IRAP (BLA/IDR/CRA) — the keyframe class.
NAL_TYPES = {
    1: "trail_r", 19: "idr_w_radl", 20: "idr_n_lp", 21: "cra",
    32: "vps", 33: "sps", 34: "pps", 39: "sei_prefix", 40: "sei_suffix",
}


def _parse_profile_tier_level(r: MsbReader, max_sub_layers: int) -> dict:
    """profile_tier_level(1, max_sub_layers) — §7.3.3. Sub-layer
    blocks are parsed only to advance the cursor."""
    profile_space = r.read(2)
    tier = r.read(1)
    profile_idc = r.read(5)
    r.read(32)  # compatibility flags
    r.read(48)  # constraint indicator flags
    level_idc = r.read(8)
    if max_sub_layers > 0:
        prof_present = []
        lvl_present = []
        for _ in range(max_sub_layers):
            prof_present.append(r.read(1))
            lvl_present.append(r.read(1))
        for _ in range(max_sub_layers, 8):
            r.read(2)  # reserved_zero_2bits
        for i in range(max_sub_layers):
            if prof_present[i]:
                r.read(2 + 1 + 5)
                r.read(32)
                r.read(48)
            if lvl_present[i]:
                r.read(8)
    return {
        "profile_space": profile_space,
        "tier": "High" if tier else "Main",
        "profile_idc": profile_idc,
        "profile": PROFILES.get(profile_idc, f"profile {profile_idc}"),
        "level_idc": level_idc,
    }


def parse_hevc_sps(nal: bytes) -> dict:
    """Decode an HEVC seq_parameter_set NAL (2-byte header + EBSP)
    through the bit depths: profile_tier_level, chroma format, and the
    EXACT luma dimensions after the conformance window (§7.4.3.2.1
    SubWidthC/SubHeightC units)."""
    if len(nal) < 3:
        raise ValueError("HEVC NAL under 3 bytes")
    ntype = (nal[0] >> 1) & 0x3F
    if ntype != 33:
        raise ValueError(f"not an HEVC SPS NAL (type {ntype})")
    r = MsbReader(strip_emulation(nal[2:]))
    r.read(4)  # sps_video_parameter_set_id
    max_sub = r.read(3)
    r.read(1)  # temporal_id_nesting
    ptl = _parse_profile_tier_level(r, max_sub)
    sps_id = r.ue()
    chroma_format_idc = r.ue()
    separate = r.read(1) if chroma_format_idc == 3 else 0
    width = r.ue()
    height = r.ue()
    if r.read(1):  # conformance_window_flag
        left, right, top, bottom = r.ue(), r.ue(), r.ue(), r.ue()
        chroma_array = 0 if separate else chroma_format_idc
        sub_w = {1: 2, 2: 2, 3: 1}.get(chroma_array, 1)
        sub_h = {1: 2, 2: 1, 3: 1}.get(chroma_array, 1)
        width -= sub_w * (left + right)
        height -= sub_h * (top + bottom)
    bit_depth_luma = 8 + r.ue()
    bit_depth_chroma = 8 + r.ue()
    return {
        **ptl,
        "sps_id": sps_id,
        "chroma_format_idc": chroma_format_idc,
        "width": width,
        "height": height,
        "bit_depth_luma": bit_depth_luma,
        "bit_depth_chroma": bit_depth_chroma,
    }


def write_hevc_sps(
    width: int,
    height: int,
    profile_idc: int = 1,
    level_idc: int = 93,
    tier: int = 0,
) -> bytes:
    """Fixture-grade spec-complete HEVC SPS: dims on the 8-pixel
    minimum-coding-block grid with the conformance window carrying the
    exact remainder (4:2:0 window units are 2 luma pixels — odd dims
    rejected); every post-dimension field written at its simplest
    legal value through sps_extension_present. parse_hevc_sps
    recovers every field this module reports."""
    if width % 2 or height % 2:
        raise ValueError("4:2:0 conformance window works in 2-pixel units")
    pad_w = (width + 7) // 8 * 8
    pad_h = (height + 7) // 8 * 8
    win_r = (pad_w - width) // 2
    win_b = (pad_h - height) // 2
    w = MsbWriter()
    w.write(0, 4)  # vps id
    w.write(0, 3)  # max_sub_layers_minus1
    w.write(1, 1)  # temporal_id_nesting
    # profile_tier_level(1, 0)
    w.write(0, 2).write(tier, 1).write(profile_idc, 5)
    w.write(1 << (31 - profile_idc) if profile_idc < 32 else 0, 32)
    w.write(0, 48)
    w.write(level_idc, 8)
    w.ue(0)  # sps id
    w.ue(1)  # chroma 4:2:0
    w.ue(pad_w)
    w.ue(pad_h)
    if win_r or win_b:
        w.write(1, 1)
        w.ue(0).ue(win_r).ue(0).ue(win_b)
    else:
        w.write(0, 1)
    w.ue(0).ue(0)  # bit depths 8/8
    # ---- the rest, simplest legal values ----
    w.ue(0)  # log2_max_pic_order_cnt_lsb_minus4
    w.write(0, 1)  # sps_sub_layer_ordering_info_present
    w.ue(1).ue(0).ue(0)  # one ordering-info triplet (i = maxSub only)
    w.ue(0)  # log2_min_luma_coding_block_size_minus3 -> MinCbSizeY 8
    w.ue(3)  # log2_diff_max_min_luma_coding_block_size -> CTU 64
    w.ue(0)  # log2_min_luma_transform_block_size_minus2
    w.ue(2)  # log2_diff_max_min_luma_transform_block_size
    w.ue(0).ue(0)  # max_transform_hierarchy_depth inter/intra
    w.write(0, 1)  # scaling_list_enabled
    w.write(0, 1)  # amp_enabled
    w.write(0, 1)  # sample_adaptive_offset_enabled
    w.write(0, 1)  # pcm_enabled
    w.ue(0)  # num_short_term_ref_pic_sets
    w.write(0, 1)  # long_term_ref_pics_present
    w.write(0, 1)  # sps_temporal_mvp_enabled
    w.write(0, 1)  # strong_intra_smoothing_enabled
    w.write(0, 1)  # vui_parameters_present
    w.write(0, 1)  # sps_extension_present
    # NAL header: type 33, layer 0, tid+1 = 1
    w.write(1, 1).align()  # rbsp_trailing_bits
    return bytes([33 << 1, 1]) + insert_emulation(w.bytes())


def write_hevc_vps() -> bytes:
    """Minimal fixture VPS NAL (counted, never decoded)."""
    w = MsbWriter()
    w.write(0, 4).write(3, 2).write(0, 6).write(0, 3).write(1, 1).write(0xFFFF, 16)
    w.write(0, 2).write(0, 1).write(1, 5)
    w.write(0, 32)
    w.write(0, 48)
    w.write(93, 8)
    w.write(0, 1)  # sub_layer_ordering_info_present
    w.ue(1).ue(0).ue(0)
    w.write(0, 6)  # max_layer_id
    w.ue(0)  # num_layer_sets_minus1
    w.write(0, 1)  # timing_info_present
    w.write(0, 1)  # extension
    w.write(1, 1).align()  # rbsp_trailing_bits
    return bytes([32 << 1, 1]) + insert_emulation(w.bytes())


def write_hevc_pps() -> bytes:
    """Minimal fixture PPS NAL (counted, never decoded)."""
    w = MsbWriter()
    w.ue(0).ue(0)  # pps id, sps id
    w.write(0, 1).write(0, 1)  # dependent_slice, output_flag_present
    w.write(0, 3)  # num_extra_slice_header_bits
    w.write(0, 1).write(0, 1)  # sign_data_hiding, cabac_init_present
    w.ue(0).ue(0)  # num_ref_idx defaults
    w.se(0)  # init_qp_minus26
    w.write(0, 1).write(0, 1).write(0, 1)  # constrained_intra, transform_skip, cu_qp
    w.se(0).se(0)  # cb/cr offsets
    w.write(0, 1).write(0, 1)  # slice_chroma_qp, weighted_pred
    w.write(0, 1).write(0, 1)  # weighted_bipred, transquant_bypass
    w.write(0, 1).write(0, 1)  # tiles_enabled, entropy_coding_sync
    w.write(0, 1)  # loop_filter_across_slices
    w.write(0, 1)  # deblocking_filter_control_present
    w.write(0, 1)  # scaling_list_data_present
    w.write(0, 1)  # lists_modification_present
    w.ue(0)  # log2_parallel_merge_level_minus2
    w.write(0, 1)  # slice_segment_header_extension
    w.write(0, 1)  # pps_extension
    w.write(1, 1).align()  # rbsp_trailing_bits
    return bytes([34 << 1, 1]) + insert_emulation(w.bytes())


def parse_hvcc(body: bytes) -> dict:
    """HEVCDecoderConfigurationRecord: the profile/tier/level mirror,
    chroma/bit-depth fields, NAL length-prefix size, and the typed
    parameter-set arrays (VPS/SPS/PPS NALs returned raw)."""
    if len(body) < 23:
        raise ValueError("hvcC under 23 bytes")
    if body[0] != 1:
        raise ValueError(f"hvcC version {body[0]}")
    nal_length_size = (body[21] & 0x3) + 1
    n_arrays = body[22]
    pos = 23
    arrays: dict[int, list[bytes]] = {}
    for _ in range(n_arrays):
        if pos + 3 > len(body):
            raise ValueError("truncated hvcC array header")
        ntype = body[pos] & 0x3F
        (n_nalus,) = struct.unpack_from(">H", body, pos + 1)
        pos += 3
        for _ in range(n_nalus):
            if pos + 2 > len(body):
                raise ValueError("truncated hvcC NALU length")
            (ln,) = struct.unpack_from(">H", body, pos)
            pos += 2
            nalu = body[pos : pos + ln]
            if len(nalu) != ln:
                raise ValueError("truncated hvcC NALU")
            arrays.setdefault(ntype, []).append(nalu)
            pos += ln
    return {
        "profile_idc": body[1] & 0x1F,
        "tier": "High" if body[1] & 0x20 else "Main",
        "level_idc": body[12],
        "chroma_format_idc": body[16] & 0x3,
        "bit_depth_luma": 8 + (body[17] & 0x7),
        "bit_depth_chroma": 8 + (body[18] & 0x7),
        "nal_length_size": nal_length_size,
        "vps": arrays.get(32, []),
        "sps": arrays.get(33, []),
        "pps": arrays.get(34, []),
    }


def build_hvcc(
    vps: bytes, sps: bytes, pps: bytes, nal_length_size: int = 4
) -> bytes:
    """Fixture hvcC from one VPS + SPS + PPS NAL; profile/tier/level
    mirror fields are copied from the parsed SPS (the spec requires
    them to match)."""
    info = parse_hevc_sps(sps)
    head = bytearray(23)
    head[0] = 1
    head[1] = (
        (0 << 6)
        | ((1 if info["tier"] == "High" else 0) << 5)
        | info["profile_idc"]
    )
    # bytes 2-5 compatibility, 6-11 constraints: zeroed (fixture)
    head[12] = info["level_idc"]
    head[13] = 0xF0  # reserved + min_spatial_segmentation_idc hi
    head[15] = 0xFC  # reserved + parallelismType
    head[16] = 0xFC | (info["chroma_format_idc"] & 0x3)
    head[17] = 0xF8 | ((info["bit_depth_luma"] - 8) & 0x7)
    head[18] = 0xF8 | ((info["bit_depth_chroma"] - 8) & 0x7)
    # constantFrameRate(2)=0 | numTemporalLayers(3)=1 |
    # temporalIdNested(1)=1 | lengthSizeMinusOne(2)
    head[21] = (1 << 3) | (1 << 2) | ((nal_length_size - 1) & 0x3)
    head[22] = 3  # three arrays
    out = bytes(head)
    for ntype, nal in ((32, vps), (33, sps), (34, pps)):
        out += bytes([0x80 | ntype]) + struct.pack(">H", 1)
        out += struct.pack(">H", len(nal)) + nal
    return out


def walk_hevc_nal_samples(samples, nal_length_size: int) -> dict:
    """One pass over length-prefixed HEVC NAL sample payloads: counts
    by type (two-byte NAL headers), IRAP-bearing keyframe count, byte
    sums — the h264.walk_nal_samples twin for 16-23 IRAP semantics.
    ``slice_byte_sum`` covers the VCL (0-31) and SEI (39/40) classes
    only, for the same reason as the AVC walk: parameter sets are
    bit-packed Exp-Golomb and not closed-formable, so the GATE pins
    the slice/SEI sum while the all-NAL sums stay pytest-pinned."""
    lsz = nal_length_size
    counts: dict[str, int] = {name: 0 for name in NAL_TYPES.values()}
    counts["other"] = 0
    n_nals = n_samples = keyframes = 0
    nal_bytes = byte_sum = slice_byte_sum = 0
    for sample in samples:
        n_samples += 1
        pos, end = 0, len(sample)
        has_irap = False
        while pos < end:
            if pos + lsz > end:
                raise ValueError("NAL length prefix beyond sample")
            ln = int.from_bytes(sample[pos : pos + lsz], "big")
            pos += lsz
            if ln < 2 or pos + ln > end:
                raise ValueError("NAL length beyond sample")
            ntype = (sample[pos] >> 1) & 0x3F
            counts[NAL_TYPES.get(ntype, "other")] = (
                counts.get(NAL_TYPES.get(ntype, "other"), 0) + 1
            )
            if 16 <= ntype <= 23:
                has_irap = True
            n_nals += 1
            nal_bytes += ln
            span = int(
                np.frombuffer(sample[pos : pos + ln], np.uint8).sum()
            )
            byte_sum += span
            if ntype <= 31 or ntype in (39, 40):
                slice_byte_sum += span
            pos += ln
        if has_irap:
            keyframes += 1
    return {
        "n_samples": n_samples,
        "n_nals": n_nals,
        "nal_counts": counts,
        "keyframes": keyframes,
        "nal_bytes": nal_bytes,
        "nal_byte_sum": byte_sum,
        "slice_byte_sum": slice_byte_sum,
    }


_HEVC_ENTRIES = {"hvc1", "hev1"}


def extract_hevc_track(content: bytes) -> dict:
    """STRUCTURAL extraction of the first HEVC video track of an
    ISO-BMFF file: hvcC record + decoded SPS (profile/tier/level,
    exact conformance-cropped dims) + the per-sample NAL walk. No CTU
    is decoded."""
    from rta_registrations_pyspark_glue_spark.operators.mp4 import (
        _parse_stco,
        _parse_stsc,
        _parse_stsd,
        _parse_stsz,
        _sample_layout,
    )

    try:
        return _extract_hevc_inner(
            content, _parse_stco, _parse_stsc, _parse_stsd, _parse_stsz,
            _sample_layout,
        )
    except struct.error as e:
        raise ValueError(f"truncated MP4/hvcC structure: {e}") from None
    except IndexError:
        raise ValueError("truncated descriptor or NAL structure") from None


def _extract_hevc_inner(
    content, _parse_stco, _parse_stsc, _parse_stsd, _parse_stsz,
    _sample_layout,
):
    buf = content
    tracks: list[dict] = []
    track: dict = {}
    containers = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

    def walk(pos: int, end: int) -> None:
        nonlocal track
        for typ, body, bend in _mp4_boxes(buf, pos, end):
            if typ == b"hdlr":
                track["class"] = buf[body + 8 : body + 12]
            elif typ == b"stsd":
                track["stsd"] = _parse_stsd(buf, body)
                track["stsd_body"] = body
            elif typ == b"stsz":
                track["n_samples"], track["sizes"] = _parse_stsz(buf, body)
                (track["uniform"],) = struct.unpack_from(">I", buf, body + 4)
            elif typ == b"stsc":
                track["stsc"] = _parse_stsc(buf, body)
            elif typ == b"stco":
                track["chunks"] = _parse_stco(buf, body, wide=False)
            elif typ == b"co64":
                track["chunks"] = _parse_stco(buf, body, wide=True)
            elif typ in containers:
                if typ == b"trak":
                    track = {}
                walk(body, bend)
                if typ == b"trak":
                    tracks.append(track)

    walk(0, len(buf))
    hevc = next(
        (
            t
            for t in tracks
            if t.get("class") == b"vide"
            and t.get("stsd", {}).get("codec") in _HEVC_ENTRIES
        ),
        None,
    )
    if hevc is None:
        raise ValueError("no hvc1/hev1 video track")
    fields = hevc["stsd"]["entry_off"]
    entry_end = hevc["stsd_body"] + 8 + hevc["stsd"]["entry_size"]
    cfg = None
    children = fields + 70
    if children < entry_end:
        for typ, body, bend in _mp4_boxes(buf, children, entry_end):
            if typ == b"hvcC":
                cfg = parse_hvcc(buf[body:bend])
                break
    if cfg is None:
        raise ValueError("hvc1 entry without hvcC")
    if not cfg["sps"]:
        raise ValueError("hvcC carries no SPS")
    sps = parse_hevc_sps(cfg["sps"][0])
    layout = _sample_layout(
        hevc.get("stsc", []), hevc.get("chunks", []),
        hevc.get("n_samples", 0), hevc.get("uniform", 0),
        hevc.get("sizes"),
    )
    for off, size in layout:
        if off + size > len(buf):
            raise ValueError("sample beyond EOF")
    stats = walk_hevc_nal_samples(
        (buf[off : off + size] for off, size in layout),
        cfg["nal_length_size"],
    )
    return {
        **sps,
        "nal_length_size": cfg["nal_length_size"],
        "n_vps": len(cfg["vps"]),
        "n_sps": len(cfg["sps"]),
        "n_pps": len(cfg["pps"]),
        **stats,
    }


# ---------------------------------------------------------------------------
# Spark surface (the h264.py twin — gate rows at doc_id % 16 == 7)

HEVC_SCHEMA = (
    "doc_id bigint, profile string, tier string, level_idc int, "
    "width int, height int, n_samples int, n_nals int, n_idr int, "
    "n_cra int, n_sei int, keyframes int, slice_byte_sum bigint, "
    "parse_ok boolean"
)


def synthesize_hevc_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, content): a deterministic HEVC-in-MP4 per doc. The SPS
    is REAL (write_hevc_sps → parse_hevc_sps roundtrip): profile
    rotates Main / Main 10 by ``doc_id % 2``, tier Main/High by
    ``(doc_id // 2) % 2`` (so tier varies independently of profile),
    level ``90 + d % 4``, dims ``8*(8 + d%5) − 2*(d%4)`` ×
    ``8*(6 + d%4) − 2*(d%2)`` so the CONFORMANCE WINDOW math runs
    in-gate whenever the dims are off the 8-pixel coding-block grid.
    Samples: ``2 + d%3``; sample 0 carries VPS+SPS+PPS+IDR
    (idr_w_radl) in-band, later samples prefix-SEI + (CRA on even s —
    the non-IDR IRAP arm — trail_r on odd). Slice/SEI payload bytes
    are the closed form ``(d + 7s + i) % 256`` with size
    ``8 + (11d + 5s) % 16`` — opaque by design (CTU decode is the
    boundary; the STRUCTURE is what the oracle pins)."""
    from rta_registrations_pyspark_glue_spark.operators import mp4 as mp4mod

    def encode(d: int) -> bytes:
        width = 8 * (8 + d % 5) - 2 * (d % 4)
        height = 8 * (6 + d % 4) - 2 * (d % 2)
        vps, pps = write_hevc_vps(), write_hevc_pps()
        sps = write_hevc_sps(
            width, height, profile_idc=1 + d % 2,
            level_idc=90 + d % 4, tier=(d // 2) % 2,
        )

        def nal(ntype: int, s: int) -> bytes:
            size = 8 + (11 * d + 5 * s) % 16
            i = np.arange(size, dtype=np.int64)
            body = ((d + 7 * s + i) % 256).astype(np.uint8)
            return bytes([ntype << 1, 1]) + body.tobytes()

        samples = []
        for s in range(2 + d % 3):
            if s == 0:
                nals = [vps, sps, pps, nal(19, s)]
            else:
                nals = [nal(39, s), nal(21 if s % 2 == 0 else 1, s)]
            samples.append(b"".join(struct.pack(">I", len(n)) + n for n in nals))
        return mp4mod.encode_mp4_av(
            samples, codec="hvc1", frame_size=(height, width),
            avcc=build_hvcc(vps, sps, pps), config_fourcc=b"hvcC",
        )

    return synth_leg(docs, encode)


def _hevc_features(content: bytes) -> dict:
    info = extract_hevc_track(content)
    nc = info["nal_counts"]
    return {
        **info,
        "n_idr": nc["idr_w_radl"] + nc["idr_n_lp"],
        "n_cra": nc["cra"],
        "n_sei": nc["sei_prefix"] + nc["sei_suffix"],
    }


def extract_hevc_features(df: DataFrame) -> DataFrame:
    """Run the structural HEVC walk over the binary column. Rows whose
    container/hvcC/SPS fail to parse come back parse_ok=false with
    NULLs; the decode boundary is never hit (no CTU is decoded)."""
    return decode_leg(df, _hevc_features, HEVC_SCHEMA)
