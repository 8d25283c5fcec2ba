"""H.265/HEVC structural-extraction contract (operators/hevc.py).

SPS grammar pinned writer-vs-parser (profile_tier_level, conformance
window, chroma/bit-depth), hvcC record roundtrip, the two-byte-header
NAL walk with IRAP keyframe semantics, MP4 + Matroska track
extraction, and the malformed-input envelope. Pytest-pinned (the gate
covers the shared machinery via the 'h264' rows; HEVC reuses the same
bitio MSB-first reader/writer and container walks)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from rta_registrations_pyspark_glue_spark.operators import hevc, mkv, mp4


def _track_fixture(d: int):
    width = 8 * (8 + d % 5) - 2 * (d % 4)
    height = 8 * (6 + d % 4) - 2 * (d % 2)
    profile = [1, 2][d % 2]
    vps, pps = hevc.write_hevc_vps(), hevc.write_hevc_pps()
    sps = hevc.write_hevc_sps(width, height, profile_idc=profile,
                              level_idc=90 + d % 4)

    def nal(ntype, s):
        size = 8 + (11 * d + 5 * s) % 16
        return bytes([ntype << 1, 1]) + bytes(
            (d + 7 * s + i) % 256 for i in range(size)
        )

    n_samples = 2 + d % 3
    samples = []
    for s in range(n_samples):
        if s == 0:
            nals = [vps, sps, pps, nal(19, s)]
        else:
            nals = [nal(39, s), nal(19 if s % 2 == 0 else 1, s)]
        samples.append(b"".join(struct.pack(">I", len(n)) + n for n in nals))
    want = {
        "width": width, "height": height,
        "profile": hevc.PROFILES[profile], "level_idc": 90 + d % 4,
        "n_samples": n_samples,
        "keyframes": 1 + (n_samples - 1) // 2,
        "n_nals": 2 * n_samples + 2,
    }
    return vps, sps, pps, samples, want


def test_hevc_sps_roundtrip():
    for d in range(16):
        width = 8 * (8 + d % 5) - 2 * (d % 4)
        height = 8 * (6 + d % 4) - 2 * (d % 2)
        info = hevc.parse_hevc_sps(
            hevc.write_hevc_sps(width, height, profile_idc=[1, 2][d % 2],
                                level_idc=90 + d % 4, tier=d % 2)
        )
        assert (info["width"], info["height"]) == (width, height), d
        assert info["profile_idc"] == [1, 2][d % 2]
        assert info["level_idc"] == 90 + d % 4
        assert info["tier"] == ("High" if d % 2 else "Main")
        assert info["chroma_format_idc"] == 1
        assert info["bit_depth_luma"] == 8


def test_hvcc_roundtrip():
    vps, pps = hevc.write_hevc_vps(), hevc.write_hevc_pps()
    sps = hevc.write_hevc_sps(124, 70, profile_idc=2, level_idc=120)
    cfg = hevc.parse_hvcc(hevc.build_hvcc(vps, sps, pps))
    assert cfg["vps"] == [vps] and cfg["sps"] == [sps] and cfg["pps"] == [pps]
    assert cfg["profile_idc"] == 2 and cfg["level_idc"] == 120
    assert cfg["nal_length_size"] == 4
    assert (cfg["bit_depth_luma"], cfg["bit_depth_chroma"]) == (8, 8)


def test_mp4_track_extraction():
    for d in (0, 3, 9, 14):
        vps, sps, pps, samples, want = _track_fixture(d)
        buf = mp4.encode_mp4_av(
            samples, codec="hvc1", frame_size=(want["height"], want["width"]),
            avcc=hevc.build_hvcc(vps, sps, pps), config_fourcc=b"hvcC",
        )
        info = hevc.extract_hevc_track(buf)
        for k in ("width", "height", "profile", "level_idc", "n_samples",
                  "keyframes", "n_nals"):
            assert info[k] == want[k], (d, k, info[k], want[k])
        assert info["nal_counts"]["vps"] == 1
        assert info["nal_counts"]["sps"] == 1
        # the demux boundary names the parsed stream
        with pytest.raises(NotImplementedError, match="hvc1"):
            mp4.demux_mp4(buf)
        try:
            mp4.demux_mp4(buf)
        except NotImplementedError as e:
            assert want["profile"] in str(e)
            assert f"{want['width']}x{want['height']}" in str(e)


def test_mkv_codec_config_routes_hevc():
    """Matroska V_MPEGH/ISO/HEVC CodecPrivate is an hvcC record —
    extract_mkv_codec_config recovers the same fields as the MP4 path."""
    d = 7
    vps, sps, pps, samples, want = _track_fixture(d)
    buf = mkv.encode_mkv_av(
        samples, codec="V_MPEGH/ISO/HEVC",
        frame_size=(want["height"], want["width"]),
        codec_private=hevc.build_hvcc(vps, sps, pps),
    )
    v = mkv.extract_mkv_codec_config(buf)["video"]
    for k in ("width", "height", "profile", "level_idc", "n_samples",
              "keyframes", "n_nals"):
        assert v[k] == want[k], (k, v[k], want[k])


def test_spark_leg_matches_local(spark, sf_dir):
    """The r12 gate leg ('hevc' rows, doc_id % 16 == 12): the Spark
    synthesize→extract pipeline reproduces the closed forms the
    _MM_HEVC_ORACLE pins — profile/tier independent rotation, exact
    conformance-cropped dims, NAL composition, and the slice/SEI byte
    sum (headers 39 / 79+43 / 79+3 for IDR / SEI+CRA / SEI+trail)."""
    from pyspark.sql import functions as F

    from rta_registrations_pyspark_glue_spark.operators import hevc as hv
    from rta_registrations_pyspark_glue_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") % 16 == 12
    ).limit(30)
    rows = hv.extract_hevc_features(hv.synthesize_hevc_docs(docs)).collect()
    assert rows
    for r in rows:
        d = r.doc_id
        assert r.parse_ok
        assert r.profile == ("Main" if d % 2 == 0 else "Main 10")
        assert r.tier == ("Main" if (d // 2) % 2 == 0 else "High")
        assert r.level_idc == 90 + d % 4
        assert r.width == 8 * (8 + d % 5) - 2 * (d % 4)
        assert r.height == 8 * (6 + d % 4) - 2 * (d % 2)
        n_samples = 2 + d % 3
        assert r.n_samples == n_samples
        assert r.n_nals == 2 * n_samples + 2
        assert (r.n_idr, r.n_cra) == (1, (n_samples - 1) // 2)
        assert r.n_sei == n_samples - 1
        assert r.keyframes == 1 + (n_samples - 1) // 2
        want = 0
        for s in range(n_samples):
            body = sum(
                (d + 7 * s + i) % 256
                for i in range(8 + (11 * d + 5 * s) % 16)
            )
            if s == 0:
                want += 39 + body
            else:
                want += 79 + (43 if s % 2 == 0 else 3) + 2 * body
        assert r.slice_byte_sum == want


def test_malformed_envelope():
    vps, sps, pps, samples, want = _track_fixture(5)
    buf = mp4.encode_mp4_av(
        samples, codec="hvc1", frame_size=(want["height"], want["width"]),
        avcc=hevc.build_hvcc(vps, sps, pps), config_fourcc=b"hvcC",
    )
    with pytest.raises(ValueError):
        hevc.extract_hevc_track(buf[: len(buf) // 2])
    with pytest.raises(ValueError):
        hevc.extract_hevc_track(b"\x00\x00\x00\x08free")
    with pytest.raises(ValueError):
        hevc.parse_hevc_sps(bytes([1 << 1, 1, 0]))  # not type 33
    with pytest.raises(ValueError):
        hevc.parse_hevc_sps(bytes([33 << 1, 1]))  # truncated
    with pytest.raises(ValueError):
        hevc.parse_hvcc(b"\x01\x02")
    with pytest.raises(ValueError):
        hevc.write_hevc_sps(33, 48)  # odd width
