"""H.264/AVC STRUCTURAL extraction — no frame decode.

The r11 companion to the AAC work (operators/mp4.py): compressed video
is the majority payload of real scraped corpora, and the fields a
curation pass filters on — resolution, profile, level, keyframe
density, NAL composition — do NOT need a decoder. They live in the
avcC configuration record (AVCDecoderConfigurationRecord, ISO/IEC
14496-15 §5.2.4) and the SPS (sequence parameter set, ITU-T H.264
§7.3.2.1), whose grammar is Exp-Golomb-coded STRUCTURAL syntax — the
same provenance class as the ADTS/esds descriptors, not codec tables
(no VLC tables, no quant matrices' semantics needed: the scaling-list
branch is parsed only to advance the cursor). Slice DECODE (CABAC/
CAVLC residuals) stays the documented external-codec boundary.

Implemented here, all pure Python over bytes:

- RBSP handling: emulation-prevention-byte strip (00 00 03 -> 00 00)
  and insertion, both directions pinned by roundtrip tests;
- ue(v)/se(v) Exp-Golomb fields through bitio's MSB-first pair;
- ``parse_sps`` / ``write_sps``: profile/constraint/level, the
  high-profile chroma/bit-depth/scaling-list branch, all three
  pic_order_cnt_type arms, frame cropping with the chroma-dependent
  crop units — width/height recovered EXACTLY (the writer exists so
  fixtures can pin arbitrary dims, including non-multiple-of-16);
- ``parse_avcc`` / ``build_avcc``: the MP4 out-of-band config record
  (lengthSizeMinusOne, SPS/PPS arrays);
- ``extract_h264_track``: find the avc1 sample entry in an ISO-BMFF
  file, parse its avcC + SPS, then walk every sample's
  length-prefixed NAL units — counts by type, keyframe (IDR) count,
  payload byte sums. One pass, no decode.

Spark surface (synthesize/extract over mapInPandas) mirrors the AAC
leg; the gate pins every recovered field against closed forms.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.bitio import MsbReader, MsbWriter
from rta_registrations_pyspark_glue_spark.operators.legs import decode_leg, synth_leg
from rta_registrations_pyspark_glue_spark.operators.mediameta import _mp4_boxes

#: profile_idc -> name (ITU-T H.264 Annex A; the common subset)
PROFILES = {
    66: "Baseline", 77: "Main", 88: "Extended", 100: "High",
    110: "High 10", 122: "High 4:2:2", 244: "High 4:4:4 Predictive",
}

#: profile_idc values whose SPS carries the chroma/bit-depth branch
_HIGH_PROFILES = {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139,
                  134, 135}

#: NAL unit type -> short name (H.264 §7.4.1, table 7-1 subset)
NAL_TYPES = {
    1: "non_idr", 5: "idr", 6: "sei", 7: "sps", 8: "pps", 9: "aud",
}


def strip_emulation(data: bytes) -> bytes:
    """EBSP -> RBSP: remove the 0x03 emulation-prevention byte from
    every 00 00 03 run (H.264 §7.4.1.1)."""
    out = bytearray()
    zeros = 0
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if zeros >= 2 and b == 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def insert_emulation(rbsp: bytes) -> bytes:
    """RBSP -> EBSP: insert 0x03 before any byte <= 3 that follows two
    zero bytes (the writer-side inverse of strip_emulation)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _skip_scaling_list(r: MsbReader, size: int) -> None:
    """Advance past one scaling_list() (§7.3.2.1.1.1) — the VALUES are
    codec data this module never interprets; only the cursor math is
    structural."""
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        last = nxt if nxt else last


def parse_sps(nal: bytes) -> dict:
    """Decode a seq_parameter_set NAL (header byte + EBSP payload) down
    to the vui flag: profile/constraints/level, chroma format + bit
    depths (high profiles), frame numbering and POC arms, reference
    frame count, and the EXACT luma dimensions after frame cropping
    (§7.4.2.1.1 crop-unit math)."""
    if not nal:
        raise ValueError("empty NAL")
    if nal[0] & 0x1F != 7:
        raise ValueError(f"not an SPS NAL (type {nal[0] & 0x1F})")
    r = MsbReader(strip_emulation(nal[1:]))
    profile_idc = r.read(8)
    constraints = r.read(8)
    level_idc = r.read(8)
    sps_id = r.ue()
    chroma_format_idc = 1
    separate_colour_plane = 0
    bit_depth_luma = bit_depth_chroma = 8
    if profile_idc in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            separate_colour_plane = r.read(1)
        bit_depth_luma = 8 + r.ue()
        bit_depth_chroma = 8 + r.ue()
        r.read(1)  # qpprime_y_zero_transform_bypass
        if r.read(1):  # seq_scaling_matrix_present
            n_lists = 8 if chroma_format_idc != 3 else 12
            for i in range(n_lists):
                if r.read(1):
                    _skip_scaling_list(r, 16 if i < 6 else 64)
    log2_max_frame_num = 4 + r.ue()
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.read(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    elif poc_type > 2:
        raise ValueError(f"pic_order_cnt_type {poc_type}")
    max_num_ref_frames = r.ue()
    r.read(1)  # gaps_in_frame_num_value_allowed
    pic_width_in_mbs = r.ue() + 1
    pic_height_in_map_units = r.ue() + 1
    frame_mbs_only = r.read(1)
    if not frame_mbs_only:
        r.read(1)  # mb_adaptive_frame_field
    r.read(1)  # direct_8x8_inference
    width = pic_width_in_mbs * 16
    height = pic_height_in_map_units * 16 * (2 - frame_mbs_only)
    if r.read(1):  # frame_cropping
        left, right, top, bottom = r.ue(), r.ue(), r.ue(), r.ue()
        chroma_array = 0 if separate_colour_plane else chroma_format_idc
        sub_w = {1: 2, 2: 2, 3: 1}.get(chroma_array, 1)
        sub_h = {1: 2, 2: 1, 3: 1}.get(chroma_array, 1)
        unit_x = sub_w if 1 <= chroma_array <= 3 else 1
        unit_y = (sub_h if 1 <= chroma_array <= 3 else 1) * (
            2 - frame_mbs_only
        )
        width -= unit_x * (left + right)
        height -= unit_y * (top + bottom)
    vui_present = r.read(1)
    return {
        "profile_idc": profile_idc,
        "profile": PROFILES.get(profile_idc, f"profile {profile_idc}"),
        "constraint_flags": constraints,
        "level_idc": level_idc,
        "sps_id": sps_id,
        "chroma_format_idc": chroma_format_idc,
        "bit_depth_luma": bit_depth_luma,
        "bit_depth_chroma": bit_depth_chroma,
        "log2_max_frame_num": log2_max_frame_num,
        "pic_order_cnt_type": poc_type,
        "max_num_ref_frames": max_num_ref_frames,
        "frame_mbs_only": frame_mbs_only,
        "width": width,
        "height": height,
        "vui_present": vui_present,
    }


def write_sps(
    width: int,
    height: int,
    profile_idc: int = 100,
    level_idc: int = 31,
    max_num_ref_frames: int = 4,
) -> bytes:
    """Fixture-grade SPS writer: encodes EXACT luma dims (16-aligned
    macroblock grid + right/bottom frame cropping; 4:2:0 crop units
    are 2 luma pixels, so odd dims are rejected rather than silently
    rounded), the high-profile chroma branch when profile_idc needs
    it, poc_type 0, frame_mbs_only=1. Returns the full NAL (header
    0x67 + emulation-protected payload) — parse_sps(write_sps(...))
    recovers every field."""
    if width % 2 or height % 2:
        raise ValueError("4:2:0 cropping works in 2-pixel units")
    mbs_w = (width + 15) // 16
    mbs_h = (height + 15) // 16
    crop_r = (mbs_w * 16 - width) // 2
    crop_b = (mbs_h * 16 - height) // 2
    w = MsbWriter()
    w.write(profile_idc, 8)
    w.write(0, 8)  # constraint flags + reserved
    w.write(level_idc, 8)
    w.ue(0)  # sps_id
    if profile_idc in _HIGH_PROFILES:
        w.ue(1)  # chroma_format_idc 4:2:0
        w.ue(0).ue(0)  # bit depths 8/8
        w.write(0, 1)  # qpprime
        w.write(0, 1)  # no scaling matrix
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(0)  # poc_type 0
    w.ue(0)  # log2_max_pic_order_cnt_lsb_minus4
    w.ue(max_num_ref_frames)
    w.write(0, 1)  # gaps_in_frame_num
    w.ue(mbs_w - 1)
    w.ue(mbs_h - 1)
    w.write(1, 1)  # frame_mbs_only
    w.write(1, 1)  # direct_8x8_inference
    if crop_r or crop_b:
        w.write(1, 1)
        w.ue(0).ue(crop_r).ue(0).ue(crop_b)
    else:
        w.write(0, 1)
    w.write(0, 1)  # vui_parameters_present
    w.write(1, 1).align()  # rbsp_trailing_bits
    return b"\x67" + insert_emulation(w.bytes())


def write_pps() -> bytes:
    """Minimal fixture PPS NAL (the extractor only counts it)."""
    w = MsbWriter()
    w.ue(0)  # pps_id
    w.ue(0)  # sps_id
    w.write(0, 1)  # entropy_coding_mode (CAVLC)
    w.write(0, 1)  # bottom_field_pic_order
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0).ue(0)  # num_ref_idx defaults
    w.write(0, 3)  # weighted pred flags
    w.se(0).se(0).se(0)  # qp deltas
    w.write(0, 2)  # deblocking/constrained intra
    w.write(0, 1)  # redundant_pic_cnt_present
    w.write(1, 1).align()  # rbsp_trailing_bits
    return b"\x68" + insert_emulation(w.bytes())


def parse_avcc(body: bytes) -> dict:
    """AVCDecoderConfigurationRecord (14496-15 §5.2.4.1): version,
    profile/level mirror bytes, NAL length-prefix size, and the
    out-of-band SPS/PPS arrays (returned raw; parse_sps decodes)."""
    if len(body) < 7:
        raise ValueError("avcC under 7 bytes")
    if body[0] != 1:
        raise ValueError(f"avcC version {body[0]}")
    nal_length_size = (body[4] & 0x3) + 1
    n_sps = body[5] & 0x1F
    pos = 6
    sps_list = []
    for _ in range(n_sps):
        (ln,) = struct.unpack_from(">H", body, pos)
        pos += 2
        sps_list.append(body[pos : pos + ln])
        if len(sps_list[-1]) != ln:
            raise ValueError("truncated avcC SPS")
        pos += ln
    if pos >= len(body):
        raise ValueError("avcC missing PPS count")
    n_pps = body[pos]
    pos += 1
    pps_list = []
    for _ in range(n_pps):
        (ln,) = struct.unpack_from(">H", body, pos)
        pos += 2
        pps_list.append(body[pos : pos + ln])
        if len(pps_list[-1]) != ln:
            raise ValueError("truncated avcC PPS")
        pos += ln
    return {
        "profile_idc": body[1],
        "level_idc": body[3],
        "nal_length_size": nal_length_size,
        "sps": sps_list,
        "pps": pps_list,
    }


def build_avcc(sps: bytes, pps: bytes, nal_length_size: int = 4) -> bytes:
    """Fixture avcC body from one SPS + one PPS NAL."""
    return (
        bytes([1, sps[1] if len(sps) > 1 else 0, 0,
               sps[3] if len(sps) > 3 else 0,
               0xFC | (nal_length_size - 1), 0xE0 | 1])
        + struct.pack(">H", len(sps)) + sps
        + bytes([1]) + struct.pack(">H", len(pps)) + pps
    )


# ---------------------------------------------------------------------------
# ISO-BMFF track extraction

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

#: avc1/avc3 both carry AVC samples; avc3 keeps parameter sets in-band
_AVC_ENTRIES = {"avc1", "avc3"}


def extract_h264_track(content: bytes) -> dict:
    """STRUCTURAL extraction of the first AVC video track of an
    ISO-BMFF file: avcC config + decoded SPS (profile/level/exact
    dims) + a one-pass walk of every sample's length-prefixed NAL
    units — counts by type, keyframe (IDR-bearing sample) count, and
    payload byte sums. No slice decode. Raises ValueError when the
    file has no avc1/avc3 track or the structure lies (struct.error /
    IndexError from lying lengths are converted at this boundary)."""
    try:
        return _extract_h264_inner(content)
    except struct.error as e:
        raise ValueError(f"truncated MP4/avcC structure: {e}") from None
    except IndexError:
        raise ValueError("truncated descriptor or NAL structure") from None


def _extract_h264_inner(content: bytes) -> dict:
    from rta_registrations_pyspark_glue_spark.operators.mp4 import (
        _parse_stco,
        _parse_stsc,
        _parse_stsd,
        _parse_stsz,
        _sample_layout,
    )

    buf = content
    tracks: list[dict] = []
    track: dict = {}

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
            elif typ in _CONTAINERS:
                if typ == b"trak":
                    track = {}
                walk(body, bend)
                if typ == b"trak":
                    tracks.append(track)

    try:
        walk(0, len(buf))
    except struct.error as e:
        raise ValueError(f"truncated MP4 structure: {e}") from None
    avc = next(
        (
            t
            for t in tracks
            if t.get("class") == b"vide"
            and t.get("stsd", {}).get("codec") in _AVC_ENTRIES
        ),
        None,
    )
    if avc is None:
        raise ValueError("no avc1/avc3 video track")
    fields = avc["stsd"]["entry_off"]
    entry_end = avc["stsd_body"] + 8 + avc["stsd"]["entry_size"]
    # VisualSampleEntry fixed part is 70 bytes after the 8-byte
    # reserved/dref prefix; child boxes (avcC, pasp, ...) follow
    cfg = None
    children = fields + 70
    if children < entry_end:
        for typ, body, bend in _mp4_boxes(buf, children, entry_end):
            if typ == b"avcC":
                cfg = parse_avcc(buf[body:bend])
                break
    if cfg is None:
        raise ValueError("avc1 entry without avcC")
    if not cfg["sps"]:
        raise ValueError("avcC carries no SPS")
    sps = parse_sps(cfg["sps"][0])
    try:
        layout = _sample_layout(
            avc.get("stsc", []), avc.get("chunks", []),
            avc.get("n_samples", 0), avc.get("uniform", 0),
            avc.get("sizes"),
        )
    except struct.error as e:
        raise ValueError(f"truncated sample tables: {e}") from None
    for off, size in layout:
        if off + size > len(buf):
            raise ValueError("sample beyond EOF")
    stats = walk_nal_samples(
        (buf[off : off + size] for off, size in layout),
        cfg["nal_length_size"],
    )
    return {
        **sps,
        "nal_length_size": cfg["nal_length_size"],
        "n_sps": len(cfg["sps"]),
        "n_pps": len(cfg["pps"]),
        **stats,
    }


def walk_nal_samples(samples, nal_length_size: int) -> dict:
    """One pass over length-prefixed NAL sample payloads (an MP4
    sample or a Matroska block frame each): counts by type, keyframe
    (IDR-bearing sample) count, and byte sums. The picture/SEI-only
    ``slice_byte_sum`` exists because parameter sets' bytes are
    bit-packed Exp-Golomb and not closed-formable — the GATE pins the
    slice sum; the all-NAL sums stay pytest-pinned."""
    lsz = nal_length_size
    counts: dict[str, int] = {name: 0 for name in NAL_TYPES.values()}
    counts["other"] = 0
    n_nals = 0
    keyframes = 0
    nal_bytes = 0
    byte_sum = 0
    slice_byte_sum = 0
    n_samples = 0
    for sample in samples:
        n_samples += 1
        pos, end = 0, len(sample)
        has_idr = False
        while pos < end:
            if pos + lsz > end:
                raise ValueError("NAL length prefix beyond sample")
            ln = int.from_bytes(sample[pos : pos + lsz], "big")
            pos += lsz
            if ln < 1 or pos + ln > end:
                raise ValueError("NAL length beyond sample")
            ntype = sample[pos] & 0x1F
            counts[NAL_TYPES.get(ntype, "other")] = (
                counts.get(NAL_TYPES.get(ntype, "other"), 0) + 1
            )
            if ntype == 5:
                has_idr = True
            n_nals += 1
            nal_bytes += ln
            span = int(
                np.frombuffer(sample[pos : pos + ln], np.uint8).sum()
            )
            byte_sum += span
            if ntype in (1, 5, 6):
                slice_byte_sum += span
            pos += ln
        if has_idr:
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


# ---------------------------------------------------------------------------
# Spark surface

H264_SCHEMA = (
    "doc_id bigint, profile string, level_idc int, width int, height int, "
    "n_samples int, n_nals int, n_idr int, n_sei int, keyframes int, "
    "nal_bytes bigint, nal_byte_sum bigint, slice_byte_sum bigint, "
    "parse_ok boolean"
)


def synthesize_h264_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, content): a deterministic AVC-in-MP4 per doc. The SPS
    is REAL (written by write_sps, parsed back by the extractor):
    profile rotates Baseline/Main/High by ``doc_id % 3`` (High runs
    the chroma-branch grammar in-gate), level ``30 + doc_id % 3``,
    dims ``16*(4 + d%5) − 2*(d%3)`` × ``16*(3 + d%4) − 2*(d%2)`` so
    frame CROPPING is exercised whenever the dims are off the
    macroblock grid. Samples: ``2 + d%3``; sample 0 carries
    SPS+PPS+IDR in-band, later samples SEI + (IDR on even s, non-IDR
    on odd). Slice payload bytes are the closed form
    ``(d + 7s + i) % 256`` with size ``8 + (11d + 5s) % 16`` — opaque
    by design (slice decode is the boundary; the STRUCTURE is what
    the oracle pins)."""
    from rta_registrations_pyspark_glue_spark.operators import mp4 as mp4mod

    def encode(d: int) -> bytes:
        width = 16 * (4 + d % 5) - 2 * (d % 3)
        height = 16 * (3 + d % 4) - 2 * (d % 2)
        profile = [66, 77, 100][d % 3]
        sps = write_sps(width, height, profile_idc=profile, level_idc=30 + d % 3)
        pps = write_pps()

        def slice_nal(ntype: int, s: int) -> bytes:
            size = 8 + (11 * d + 5 * s) % 16
            i = np.arange(size, dtype=np.int64)
            body = ((d + 7 * s + i) % 256).astype(np.uint8).tobytes()
            return bytes([ntype & 0x1F | 0x60]) + body

        samples = []
        for s in range(2 + d % 3):
            if s == 0:
                nals = [sps, pps, slice_nal(5, s)]
            else:
                nals = [slice_nal(6, s), slice_nal(5 if s % 2 == 0 else 1, s)]
            samples.append(b"".join(struct.pack(">I", len(n)) + n for n in nals))
        return mp4mod.encode_mp4_av(
            samples, codec="avc1", frame_size=(height, width),
            avcc=build_avcc(sps, pps),
        )

    return synth_leg(docs, encode)


def _h264_features(content: bytes) -> dict:
    info = extract_h264_track(content)
    nc = info["nal_counts"]
    return {**info, "n_idr": nc["idr"], "n_sei": nc["sei"]}


def extract_h264_features(df: DataFrame) -> DataFrame:
    """Run the structural AVC walk over the binary column. Rows whose
    container/avcC/SPS fail to parse come back parse_ok=false with
    NULLs; the decode boundary is never hit (no slice is decoded)."""
    return decode_leg(df, _h264_features, H264_SCHEMA)
