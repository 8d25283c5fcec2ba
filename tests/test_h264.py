"""H.264 structural-extraction contract (operators/h264.py).

SPS grammar pinned writer-vs-parser (both profile arms, frame
cropping, the POC arms, the scaling-list cursor math), RBSP emulation
handling both directions, avcC record walk, the per-sample NAL walk,
and the malformed-input envelope. The DuckDB-side check is
multimodal_suite's 'h264' rows (closed-form profile/level/dims/NAL
composition per doc)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark.operators import h264, mp4
from rta_registrations_pyspark_glue_spark.operators.bitio import MsbWriter


def _fixture(d: int) -> tuple[bytes, dict]:
    width = 16 * (4 + d % 5) - 2 * (d % 3)
    height = 16 * (3 + d % 4) - 2 * (d % 2)
    profile = [66, 77, 100][d % 3]
    sps = h264.write_sps(width, height, profile_idc=profile,
                         level_idc=30 + d % 3)
    pps = h264.write_pps()
    n_samples = 2 + d % 3

    def slice_nal(ntype: int, s: int) -> bytes:
        size = 8 + (11 * d + 5 * s) % 16
        i = np.arange(size, dtype=np.int64)
        return bytes([ntype & 0x1F | 0x60]) + (
            (d + 7 * s + i) % 256
        ).astype(np.uint8).tobytes()

    samples = []
    slice_sum = 0
    for s in range(n_samples):
        if s == 0:
            nals = [sps, pps, slice_nal(5, s)]
            slice_sum += sum(nals[2])
        else:
            nals = [slice_nal(6, s), slice_nal(5 if s % 2 == 0 else 1, s)]
            slice_sum += sum(nals[0]) + sum(nals[1])
        samples.append(b"".join(struct.pack(">I", len(n)) + n for n in nals))
    buf = mp4.encode_mp4_av(
        samples, codec="avc1", frame_size=(height, width),
        avcc=h264.build_avcc(sps, pps),
    )
    want = {
        "width": width, "height": height,
        "profile": h264.PROFILES[profile], "level_idc": 30 + d % 3,
        "n_samples": n_samples, "slice_sum": slice_sum,
    }
    return buf, want


def test_sps_roundtrip_all_shapes():
    """write_sps -> parse_sps recovers profile/level and EXACT dims
    across both grammar arms and every crop combination the gate
    rotation produces."""
    for d in range(24):
        width = 16 * (4 + d % 5) - 2 * (d % 3)
        height = 16 * (3 + d % 4) - 2 * (d % 2)
        profile = [66, 77, 100][d % 3]
        info = h264.parse_sps(
            h264.write_sps(width, height, profile_idc=profile,
                           level_idc=30 + d % 3)
        )
        assert (info["width"], info["height"]) == (width, height), d
        assert info["profile_idc"] == profile
        assert info["level_idc"] == 30 + d % 3
        assert info["frame_mbs_only"] == 1
        assert info["chroma_format_idc"] == 1


def test_emulation_prevention_roundtrip():
    cases = [
        b"\x00\x00\x00\x00\x01\x02\x03",
        b"\x00\x00\x03\x00\x00",  # a literal 03 after two zeros
        b"\x00\x00\x00",
        bytes(range(256)),
        b"\x00" * 10,
    ]
    for raw in cases:
        ebsp = h264.insert_emulation(raw)
        assert h264.strip_emulation(ebsp) == raw
        # no illegal 00 00 0x (x<=3) sequence survives in the EBSP
        for i in range(len(ebsp) - 2):
            assert not (
                ebsp[i] == 0 and ebsp[i + 1] == 0 and ebsp[i + 2] <= 3
            ) or ebsp[i + 2] == 3


def test_scaling_list_skip_path():
    """An SPS with seq_scaling_matrix_present and one present list
    still parses to the right dims — the cursor math over delta_scale
    runs; values are never interpreted."""
    w = MsbWriter()
    w.write(100, 8).write(0, 8).write(31, 8)
    w.ue(0)  # sps_id
    w.ue(1)  # chroma 4:2:0
    w.ue(0).ue(0)
    w.write(0, 1)  # qpprime
    w.write(1, 1)  # scaling matrix PRESENT
    for i in range(8):
        if i == 0:
            w.write(1, 1)  # list 0 present
            for _ in range(16):
                w.se(1)  # delta_scale
        else:
            w.write(0, 1)
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(0)  # poc_type 0
    w.ue(0)
    w.ue(2)
    w.write(0, 1)
    w.ue(5 - 1)  # 80 px wide
    w.ue(3 - 1)  # 48 px tall
    w.write(1, 1)
    w.write(1, 1)
    w.write(0, 1)  # no cropping
    w.write(0, 1)  # no vui
    nal = b"\x67" + h264.insert_emulation(w.write(1, 1).align().bytes())
    info = h264.parse_sps(nal)
    assert (info["width"], info["height"]) == (80, 48)


def test_poc_type_1_arm():
    """pic_order_cnt_type 1 (the cyclic arm) advances correctly."""
    w = MsbWriter()
    w.write(66, 8).write(0, 8).write(30, 8)
    w.ue(0)
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(1)  # poc_type 1
    w.write(0, 1)
    w.se(0)
    w.se(0)
    w.ue(2)  # two cycle offsets
    w.se(1)
    w.se(-1)
    w.ue(2)
    w.write(0, 1)
    w.ue(4 - 1)
    w.ue(4 - 1)
    w.write(1, 1)
    w.write(1, 1)
    w.write(0, 1)
    w.write(0, 1)
    info = h264.parse_sps(b"\x67" + h264.insert_emulation(w.write(1, 1).align().bytes()))
    assert (info["width"], info["height"]) == (64, 64)
    assert info["pic_order_cnt_type"] == 1


def test_avcc_roundtrip():
    sps = h264.write_sps(128, 96, profile_idc=100, level_idc=31)
    pps = h264.write_pps()
    cfg = h264.parse_avcc(h264.build_avcc(sps, pps, nal_length_size=4))
    assert cfg["nal_length_size"] == 4
    assert cfg["sps"] == [sps] and cfg["pps"] == [pps]
    assert cfg["profile_idc"] == 100 and cfg["level_idc"] == 31


def test_track_extraction_matches_fixture():
    for d in (0, 3, 11, 27, 43):
        buf, want = _fixture(d)
        info = h264.extract_h264_track(buf)
        assert info["width"] == want["width"]
        assert info["height"] == want["height"]
        assert info["profile"] == want["profile"]
        assert info["level_idc"] == want["level_idc"]
        assert info["n_samples"] == want["n_samples"]
        assert info["slice_byte_sum"] == want["slice_sum"]
        assert info["nal_counts"]["sps"] == 1
        assert info["nal_counts"]["pps"] == 1
        n = want["n_samples"]
        assert info["keyframes"] == 1 + (n - 1) // 2
        assert info["n_nals"] == 2 * n + 1  # 3 in sample 0, 2 per later


def test_malformed_envelope():
    buf, _ = _fixture(7)
    with pytest.raises(ValueError):
        h264.extract_h264_track(buf[: len(buf) // 2])
    with pytest.raises(ValueError):
        h264.extract_h264_track(b"\x00\x00\x00\x08free")
    # a lying NAL length must fail loudly
    bad = bytearray(buf)
    pos = bad.find(b"\x67")  # the in-band SPS NAL (after its prefix)
    struct.pack_into(">I", bad, pos - 4, 1 << 20)
    with pytest.raises(ValueError):
        h264.extract_h264_track(bytes(bad))
    with pytest.raises(ValueError):
        h264.parse_sps(b"\x61\x00")  # not an SPS type
    with pytest.raises(ValueError):
        h264.parse_sps(b"\x67")  # truncated
    with pytest.raises(ValueError):
        h264.write_sps(33, 48)  # odd width: 4:2:0 crop can't express


def test_spark_leg_matches_local(spark, sf_dir):
    from rta_registrations_pyspark_glue_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") % 16 == 11
    ).limit(30)
    rows = h264.extract_h264_features(
        h264.synthesize_h264_docs(docs)
    ).collect()
    assert rows
    for r in rows:
        _, want = _fixture(r.doc_id)
        assert r.parse_ok
        assert r.width == want["width"] and r.height == want["height"]
        assert r.profile == want["profile"]
        assert r.slice_byte_sum == want["slice_sum"]
