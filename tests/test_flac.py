"""FLAC codec tests: hand-computed bit vectors for the primitives
(CRC polynomials, rice coding, UTF-8 numbers, fixed predictors),
roundtrips through every subframe type / stereo mode / partition
layout, hypothesis fuzz, and the CRC corruption envelope. No FLAC
library exists in this container; the format's per-frame CRCs are
what make roundtrip verification strong (a misread bit anywhere
breaks CRC-16 with overwhelming probability), and the CRC polynomials
themselves are pinned by the standard check values below."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rta_registrations_pyspark_glue_spark.operators import bitio, flac


def _sig(n=512, seed=0, amp=2000, ch=2):
    t = np.arange(n)
    cols = [(amp * np.sin(t / (9 + 3 * c))).astype(np.int64) for c in range(ch)]
    return np.stack(cols, axis=-1)


# ------------------------------------------------------ hand vectors


def test_crc_check_values():
    """The standard check values pin the polynomials and bit order:
    CRC-8 (poly 0x07, init 0) of '123456789' is 0xF4; CRC-16/BUYPASS
    (poly 0x8005, init 0, unreflected) is 0xFEE8."""
    assert bitio.crc8(b"123456789") == 0xF4
    assert bitio.crc16(b"123456789") == 0xFEE8


def test_rice_zigzag_hand_vector():
    """Encode residuals [0, -1, 1, -3] with rice parameter 1 and read
    the bits back: zigzag maps them to 0,1,2,5 -> (q,r) pairs
    (0,0),(0,1),(1,0),(2,1)."""
    bw = bitio.MsbWriter()
    flac._write_residual(bw, [0, -1, 1, -3], 0, 4, 1)
    bw.align()
    br = bitio.MsbReader(bw.bytes())
    out = flac._read_residual(br, 4, 0)
    assert out == [0, -1, 1, -3]


def test_utf8_number_roundtrip():
    for v in (0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, 0x10FFFF, (1 << 30) + 5):
        bw = bitio.MsbWriter()
        flac._write_utf8_number(bw, v)
        bw.align()
        br = bitio.MsbReader(bw.bytes())
        assert flac._read_utf8_number(br) == v, v


def test_fixed_predictor_closed_forms():
    """Order-k fixed prediction reconstructs degree-(k-1) polynomials
    with zero residual — the defining property of the four predictors."""
    i = np.arange(64, dtype=np.int64)
    for order, poly in ((1, 0 * i + 7), (2, 3 * i - 5), (3, i * i),
                        (4, i * i * i // 8)):
        sig = poly.reshape(-1, 1)
        data = flac.encode_flac(sig, 8000, blocksize=64, mode=f"fixed{order}")
        out, _ = flac.decode_flac(data)
        assert np.array_equal(out[:, 0], poly), order


# -------------------------------------------------------- roundtrips


@pytest.mark.parametrize("mode", ["constant", "verbatim", "fixed0",
                                  "fixed1", "fixed2", "fixed3", "fixed4"])
@pytest.mark.parametrize("stereo", ["independent", "left_side",
                                    "right_side", "mid_side"])
def test_roundtrip_modes(mode, stereo):
    sig = (np.full((512, 2), -1234, np.int64) if mode == "constant"
           else _sig(512))
    data = flac.encode_flac(sig, 44100, blocksize=256, mode=mode,
                            stereo=stereo)
    out, rate = flac.decode_flac(data)
    assert rate == 44100 and np.array_equal(out, sig), (mode, stereo)


def test_roundtrip_lpc():
    sig = _sig(512)
    data = flac.encode_flac(sig, 48000, blocksize=256, mode="lpc",
                            lpc=([3 << 10, -(3 << 10), 1 << 10], 10, 14))
    out, _ = flac.decode_flac(data)
    assert np.array_equal(out, sig)


def test_roundtrip_rice_partitions_and_escape():
    sig = _sig(512)
    for po in (1, 2, 3):
        data = flac.encode_flac(sig, 48000, blocksize=256, mode="fixed2",
                                partition_order=po, rice_param=6)
        out, _ = flac.decode_flac(data)
        assert np.array_equal(out, sig), po
    # raw-bits escape in the last partition
    bw = bitio.MsbWriter()
    flac._write_residual(bw, list(range(-8, 8)), 0, 16, 3,
                         partition_order=1, escape_raw=6)
    bw.align()
    br = bitio.MsbReader(bw.bytes())
    assert flac._read_residual(br, 16, 0) == list(range(-8, 8))


def test_roundtrip_wasted_bits_and_depths():
    sig = _sig(256) & ~3
    data = flac.encode_flac(sig, 32000, blocksize=256, mode="fixed2",
                            wasted=2)
    out, _ = flac.decode_flac(data)
    assert np.array_equal(out, sig)
    rng = np.random.default_rng(1)
    for bps, amp in ((8, 100), (20, 1 << 18), (24, 1 << 22)):
        mono = rng.integers(-amp, amp, (300, 1)).astype(np.int64)
        data = flac.encode_flac(mono, 96000, bps=bps, blocksize=100,
                                mode="verbatim")
        out, rate = flac.decode_flac(data)
        assert rate == 96000 and np.array_equal(out, mono), bps


def test_short_last_block():
    sig = _sig(500)
    data = flac.encode_flac(sig, 44100, blocksize=256, mode="fixed3")
    out, _ = flac.decode_flac(data)
    assert np.array_equal(out, sig)


def test_crc_detects_corruption():
    data = bytearray(flac.encode_flac(_sig(256), 44100, blocksize=256))
    data[60] ^= 0x40
    with pytest.raises(flac.FlacError):
        flac.decode_flac(bytes(data))


def test_not_flac_raises():
    with pytest.raises(flac.FlacError):
        flac.decode_flac(b"RIFFxxxxWAVE")


def test_audio_dispatch():
    from rta_registrations_pyspark_glue_spark.operators import audio

    sig = _sig(128)
    frames, rate = audio.decode_audio(
        flac.encode_flac(sig, 22050, blocksize=128)
    )
    assert rate == 22050 and np.array_equal(frames, sig)


# ------------------------------------------------------------- fuzz


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(16, 400),
    seed=st.integers(0, 10_000),
    mode=st.sampled_from(["constant", "verbatim", "fixed1", "fixed2",
                          "fixed3", "fixed4"]),
    stereo=st.sampled_from(["independent", "left_side", "right_side",
                            "mid_side"]),
    param=st.integers(0, 10),
)
def test_roundtrip_fuzz(n, seed, mode, stereo, param):
    rng = np.random.default_rng(seed)
    if mode == "constant":
        sig = np.full((n, 2), int(rng.integers(-30000, 30000)), np.int64)
    else:
        sig = rng.integers(-3000, 3000, (n, 2)).astype(np.int64)
    data = flac.encode_flac(sig, 16000, blocksize=n, mode=mode,
                            stereo=stereo, rice_param=param)
    out, _ = flac.decode_flac(data)
    assert np.array_equal(out, sig)


@settings(max_examples=15, deadline=None)
@given(data=st.binary(min_size=0, max_size=80))
def test_garbage_never_hangs(data):
    """Arbitrary bytes either raise FlacError (or a struct error from
    truncated metadata) — never decode silently, never loop."""
    try:
        flac.decode_flac(b"fLaC" + data)
    except (flac.FlacError, ValueError, IndexError):
        pass
