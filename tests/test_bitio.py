"""operators/bitio.py: the MSB-first and LSB-first reader/writer pairs
every codec shares — round-trips at every width 1..64 and every bit
offset, Exp-Golomb hand vectors, the one truncation error of every read
method, and the CRC-16 init parameter."""

from __future__ import annotations

import random

import pytest

from rta_registrations_pyspark_glue_spark.operators.bitio import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
    Truncated,
    crc16,
)


def _values(width: int, rng: random.Random) -> list[int]:
    top = (1 << width) - 1
    return [0, top, top & 0x5555555555555555, rng.getrandbits(width)]


@pytest.mark.parametrize("order", ["msb", "lsb"])
def test_pair_roundtrips_every_width_at_every_offset(order):
    """A value of each width 1..64, written after 0..7 filler bits,
    reads back exactly; signed reads (MSB) sign-extend the same bits."""
    rng = random.Random(11)
    for offset in range(8):
        for width in range(1, 65):
            for v in _values(width, rng):
                if order == "msb":
                    w = MsbWriter().write(0b1011011, offset).write(v, width)
                    w.write(1, 1).align()
                    r = MsbReader(w.bytes())
                    assert r.read(offset) == 0b1011011 & ((1 << offset) - 1)
                    assert r.read(width) == v, (offset, width, v)
                    assert r.read(1) == 1
                    r = MsbReader(w.bytes())
                    r.read(offset)
                    signed = v - (1 << width) if v >> (width - 1) else v
                    assert r.read_signed(width) == signed
                else:
                    w = LsbWriter()
                    w.write(0b1011011, offset)
                    w.write(v, width)
                    w.write(1, 1)
                    assert w.bit_length == offset + width + 1
                    r = LsbReader(w.getvalue())
                    assert r.read(offset) == 0b1011011 & ((1 << offset) - 1)
                    assert r.read(width) == v, (offset, width, v)
                    assert r.read(1) == 1


def test_lsb_bit_pair_roundtrip():
    """LsbWriter/LsbReader are exact inverses at every width and
    offset — Vorbis, VP8L and GIF LZW pack LSB-first (Vorbis spec §2),
    so the pair is pinned on an odd-width field sequence crossing many
    byte boundaries."""
    fields = [(i % (1 << w), w) for i, w in enumerate(
        [1, 3, 5, 8, 13, 24, 32, 7, 2, 6, 16, 4, 1, 31] * 3
    )]
    w = LsbWriter()
    for v, n in fields:
        w.write(v, n)
    r = LsbReader(w.getvalue())
    for v, n in fields:
        assert r.read(n) == v
    # the spec's own example (§2): 4-bit 12 then 4-bit 7 packs to 0x7C
    w2 = LsbWriter()
    w2.write(12, 4)
    w2.write(7, 4)
    assert w2.getvalue() == bytes([0x7C])
    with pytest.raises(ValueError, match="truncated"):
        LsbReader(b"\x00").read(9)


def test_exp_golomb_hand_vectors():
    """ue(v) codes (H.264 table 9-2): 0 -> 1, 1 -> 010, 2 -> 011,
    3 -> 00100, 7 -> 0001000; se(v) maps 1, -1, 2, -2, 0 to ue 1, 2, 3,
    4, 0."""
    w = MsbWriter()
    for v in (0, 1, 2, 3, 7):
        w.ue(v)
    for v in (1, -1, 2, -2, 0):
        w.se(v)
    bits = "1" "010" "011" "00100" "0001000" + "010" "011" "00100" "00101" "1"
    w.align()
    padded = bits + "0" * (-len(bits) % 8)
    assert w.bytes() == int(padded, 2).to_bytes(len(padded) // 8, "big")
    r = MsbReader(w.bytes())
    assert [r.ue() for _ in range(5)] == [0, 1, 2, 3, 7]
    assert [r.se() for _ in range(5)] == [1, -1, 2, -2, 0]
    # the widest accepted code: 32 zeros, the 1, 32 info bits
    big = (1 << 33) - 2
    assert MsbReader(MsbWriter().ue(big).align().bytes()).ue() == big
    with pytest.raises(ValueError, match="32 zeros"):
        MsbReader(bytes(5) + b"\xff").ue()


def test_write_code_is_msb_first_in_an_lsb_stream():
    """The prefix code 110 (length 3) goes out first bit = code MSB:
    stream bits 1,1,0 land in bits 0..2 of the byte."""
    w = LsbWriter()
    w.write_code(0b110, 3)
    w.write_code(0b01, 2)
    assert w.getvalue() == bytes([0b00010011])
    r = LsbReader(w.getvalue())
    assert [r.read(1) for _ in range(5)] == [1, 1, 0, 0, 1]


@pytest.mark.parametrize(
    "read",
    [
        lambda: MsbReader(b"").read(1),
        lambda: MsbReader(b"\xff").read(9),
        lambda: MsbReader(b"").read_signed(4),
        lambda: MsbReader(b"").unary(),
        lambda: MsbReader(b"\x00\x00").unary(),
        lambda: MsbReader(b"").ue(),
        lambda: MsbReader(b"\x00").ue(),
        lambda: MsbReader(b"\x01").ue(),  # 7 zeros, then 7 info bits short
        lambda: MsbReader(b"").se(),
        lambda: LsbReader(b"").read(1),
        lambda: LsbReader(b"\xff\xff").read(17),
        lambda: LsbReader(b"\x00\x00\x00").s32(),
    ],
)
def test_every_read_method_raises_truncated(read):
    with pytest.raises(Truncated, match="bitstream truncated") as e:
        read()
    assert isinstance(e.value, ValueError)


def test_msb_writer_refuses_an_unaligned_stream():
    with pytest.raises(ValueError, match="byte-aligned"):
        MsbWriter().write(1, 3).bytes()


def test_crc16_init():
    """CRC-16 poly 0x8005, unreflected: init 0 is CRC-16/BUYPASS (the
    FLAC frame CRC, check 0xFEE8), init 0xFFFF is CRC-16/CMS (the MPEG
    audio frame CRC, check 0xAEE7)."""
    assert crc16(b"123456789") == 0xFEE8
    assert crc16(b"123456789", 0xFFFF) == 0xAEE7
