"""Vorbis structural extraction (r13, VERDICT r12 missing #4): every
header parser against its builder twin, the FULL setup walk across
codebook/floor/residue/mapping/mode variants, the audio walk's lapped-window duration, the Ogg end-to-end against the
closed-form plan, the Matroska A_VORBIS route, and the malformed-input
envelope."""

from __future__ import annotations

import pytest

from rta_registrations_pyspark_glue_spark.operators import vorbis


def test_ilog_and_lookup1_values():
    assert [vorbis._ilog(x) for x in (0, 1, 2, 3, 4, 7, 8)] == [
        0, 1, 2, 2, 3, 3, 4,
    ]
    # spec examples: largest v with v**dims <= entries
    assert vorbis._lookup1_values(8, 3) == 2
    assert vorbis._lookup1_values(9, 2) == 3
    assert vorbis._lookup1_values(4, 1) == 4
    assert vorbis._lookup1_values(26, 3) == 2
    assert vorbis._lookup1_values(27, 3) == 3


def test_identification_header_roundtrip():
    pkt = vorbis.build_vorbis_id(
        2, 44100, 128_000, bs0_exp=8, bs1_exp=11,
        bitrate_maximum=-1, bitrate_minimum=-1,
    )
    got = vorbis.parse_vorbis_id(pkt)
    assert got == {
        "channels": 2, "sample_rate": 44100, "bitrate_maximum": -1,
        "bitrate_nominal": 128_000, "bitrate_minimum": -1,
        "blocksize_0": 256, "blocksize_1": 2048,
    }
    with pytest.raises(ValueError, match="not a Vorbis identification"):
        vorbis.parse_vorbis_id(b"\x03vorbis" + pkt[7:])
    # blocksize_0 > blocksize_1 is illegal
    bad = vorbis.build_vorbis_id(1, 48000, 0, bs0_exp=10, bs1_exp=8)
    with pytest.raises(ValueError, match="blocksize exponents"):
        vorbis.parse_vorbis_id(bad)
    # the framing bit is load-bearing
    flipped = bytearray(pkt)
    flipped[-1] ^= 0x01
    with pytest.raises(ValueError, match="framing"):
        vorbis.parse_vorbis_id(bytes(flipped))


def test_comment_header_roundtrip():
    pkt = vorbis.build_vorbis_comment(
        vendor="Xiph.Org libVorbis", comments=["TITLE=t", "ARTIST=a"]
    )
    got = vorbis.parse_vorbis_comment(pkt)
    assert got["vendor"] == "Xiph.Org libVorbis"
    assert got["comments"] == ["TITLE=t", "ARTIST=a"]


@pytest.mark.parametrize("d", [0, 1, 2, 3, 4, 5, 7, 11, 23])
def test_setup_walk_matches_plan(d):
    """The full setup walk recovers every structural count from the
    closed-form doc plan — across ordered and unordered codebooks,
    lookup types 0/1, floor0/floor1, residue types 0/1/2, coupled and
    uncoupled mappings."""
    plan = vorbis._doc_plan(d)
    pkt = vorbis.build_vorbis_setup(plan, plan["channels"])
    got = vorbis.parse_vorbis_setup(pkt, plan["channels"])
    assert got["codebook_count"] == len(plan["codebooks"])
    assert got["codebook_entries_total"] == sum(
        cb["entries"] for cb in plan["codebooks"]
    )
    assert got["floor_count"] == len(plan["floors"])
    assert got["residue_count"] == len(plan["residues"])
    assert got["mapping_count"] == 1
    assert got["mode_count"] == 2
    assert got["mode_blockflags"] == [0, 1]


def test_setup_walk_sparse_and_lookup2():
    """The codebook branches _doc_plan doesn't reach: a sparse length
    list and a type-2 (entries x dims) VQ lookup."""
    plan = {
        "codebooks": [
            {"dims": 2, "entries": 7, "sparse": True, "lookup": 2},
            {"dims": 1, "entries": 5, "ordered": True, "lookup": 0},
        ],
        "floors": ["floor1"],
        "residues": [2],
        "coupling": False,
        "mode_blockflags": [0, 1, 1],
    }
    pkt = vorbis.build_vorbis_setup(plan, 1)
    got = vorbis.parse_vorbis_setup(pkt, 1)
    assert got["codebook_count"] == 2
    assert got["codebook_entries_total"] == 12
    assert got["mode_count"] == 3
    assert got["mode_blockflags"] == [0, 1, 1]


def test_setup_truncation_stays_in_envelope():
    """Every byte-truncation of a valid setup header surfaces as
    ValueError — the Spark extraction envelope — never IndexError or
    an infinite walk."""
    plan = vorbis._doc_plan(3)
    pkt = vorbis.build_vorbis_setup(plan, plan["channels"])
    for cut in range(len(pkt)):
        with pytest.raises(ValueError):
            vorbis.parse_vorbis_setup(pkt[:cut], plan["channels"])


def test_audio_walk_duration_and_composition():
    """Lapped-window duration: packet boundaries emit
    (blocksize[p-1] + blocksize[p]) / 4 samples (spec §4.3.8) — four
    packets short/long/long/short at 256/1024 give 320+512+320."""
    flags = [0, 1]
    pkts = [
        vorbis.build_vorbis_audio_packet(m, flags, 10 + m)
        for m in (0, 1, 1, 0)
    ]
    got = vorbis.walk_vorbis_audio(pkts, flags, 256, 1024)
    assert got["n_audio_packets"] == 4
    assert got["n_long_blocks"] == 2 and got["n_short_blocks"] == 2
    assert got["audio_bytes"] == 10 + 11 + 11 + 10
    assert got["duration_samples"] == (256 + 1024) // 4 + (1024 + 1024) // 4 + (1024 + 256) // 4
    # a header-typed packet inside the audio stream is malformed
    with pytest.raises(ValueError, match="header packet"):
        vorbis.walk_vorbis_audio([b"\x01vorbis"], flags, 256, 1024)


@pytest.mark.parametrize("d", [0, 1, 2, 3, 4, 6, 9, 17, 100])
def test_ogg_vorbis_end_to_end_matches_closed_form(d):
    """extract_ogg_vorbis over the fixture file recovers the full
    closed-form plan — the same contract the _MM_VORBIS_ORACLE SQL
    mirrors row for row."""
    got = vorbis.extract_ogg_vorbis(vorbis._doc_ogg(d))
    plan = vorbis._doc_plan(d)
    n = len(plan["audio"])
    bs0, bs1 = 1 << plan["bs0_exp"], 1 << plan["bs1_exp"]
    assert got["channels"] == 1 + d % 2
    assert got["sample_rate"] == [48000, 44100, 32000, 8000][d % 4]
    assert got["bitrate_nominal"] == 64000 + 1000 * (d % 32)
    assert (got["blocksize_0"], got["blocksize_1"]) == (bs0, bs1)
    assert got["codebook_count"] == 1 + d % 3
    assert got["codebook_entries_total"] == sum(
        4 + (d + 3 * j) % 5 for j in range(1 + d % 3)
    )
    assert got["floor_count"] == 1 + d % 2
    assert got["residue_count"] == 1 + (d + 1) % 2
    assert got["mapping_count"] == 1 and got["mode_count"] == 2
    assert got["n_audio_packets"] == n == 4 + d % 5
    assert got["n_long_blocks"] == sum((d + p) % 2 for p in range(n))
    assert got["n_short_blocks"] == n - got["n_long_blocks"]
    assert got["audio_bytes"] == sum(
        8 + (3 * d + 5 * p) % 12 for p in range(n)
    )
    # consecutive packets alternate modes, so every one of the n-1
    # boundaries is the mixed (bs0+bs1)/4 overlap
    assert got["duration_samples"] == (n - 1) * (bs0 + bs1) // 4


def test_ogg_page_crc_is_load_bearing():
    buf = bytearray(vorbis._doc_ogg(5))
    buf[-1] ^= 0xFF  # corrupt the last audio byte -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        vorbis.extract_ogg_vorbis(bytes(buf))


def test_codec_private_roundtrip_and_envelope():
    plan = vorbis._doc_plan(9)
    ident = vorbis.build_vorbis_id(
        plan["channels"], plan["sample_rate"], plan["bitrate_nominal"],
        plan["bs0_exp"], plan["bs1_exp"],
    )
    comment = vorbis.build_vorbis_comment()
    setup = vorbis.build_vorbis_setup(plan, plan["channels"])
    private = vorbis.build_vorbis_codec_private(ident, comment, setup)
    a, b, c = vorbis.parse_vorbis_codec_private(private)
    assert (a, b, c) == (ident, comment, setup)
    with pytest.raises(ValueError, match="lace 3 packets"):
        vorbis.parse_vorbis_codec_private(b"\x01" + private[1:])
    with pytest.raises(ValueError):
        vorbis.parse_vorbis_codec_private(private[: len(private) // 4])


def test_mkv_a_vorbis_route_matches_ogg():
    """Matroska A_VORBIS: CodecPrivate is the Xiph lacing of the three
    header packets and block frames are raw audio packets —
    extract_mkv_codec_config must recover the identical structural
    fields the Ogg path reads from the same stream."""
    from rta_registrations_pyspark_glue_spark.operators import mkv
    import numpy as np

    d = 13
    plan = vorbis._doc_plan(d)
    ident = vorbis.build_vorbis_id(
        plan["channels"], plan["sample_rate"], plan["bitrate_nominal"],
        plan["bs0_exp"], plan["bs1_exp"],
    )
    comment = vorbis.build_vorbis_comment()
    setup = vorbis.build_vorbis_setup(plan, plan["channels"])
    audio = [
        vorbis.build_vorbis_audio_packet(m, plan["mode_blockflags"], size)
        for m, size in plan["audio"]
    ]
    buf = mkv.encode_mkv_av(
        [np.zeros((8, 8, 3), np.uint8)], codec="V_UNCOMPRESSED",
        audio=audio, audio_codec="A_VORBIS",
        audio_codec_private=vorbis.build_vorbis_codec_private(
            ident, comment, setup
        ),
    )
    got = mkv.extract_mkv_codec_config(buf)["audio"]
    want = vorbis.extract_ogg_vorbis(vorbis._doc_ogg(d))
    assert got.pop("container") == "mkv"
    assert want.pop("container") == "ogg"
    assert got == want
