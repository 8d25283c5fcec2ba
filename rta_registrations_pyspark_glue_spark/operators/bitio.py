"""Bit I/O for every codec: an MSB-first reader/writer pair (FLAC, MP3
side info, H.264/HEVC Exp-Golomb, the AAC AudioSpecificConfig, TIFF
LZW), an LSB-first pair (VP8L, Vorbis, GIF LZW) and the CRC-8/CRC-16 of
the MSB-first formats. Every read past the end raises ``Truncated``, a
``ValueError``, so the media legs' envelope catches it. jpeg keeps its
own pair: JPEG entropy data byte-stuffs 0xFF and stops at markers."""

from __future__ import annotations


class Truncated(ValueError):
    """A read ran past the end of the bitstream."""


class MsbReader:
    """MSB-first bit reader. ``read(n)`` converts just the bytes the
    value spans with ONE int.from_bytes (a per-bit loop was the FLAC
    decoder's hottest line; a whole-buffer int view is quadratic on
    big streams); ``unary()`` skips zeros a byte at a time. ``pos`` is
    the BYTE position and ``bit`` the bit within it; the ``pos`` setter
    assumes a byte-aligned cursor (decode_flac slices CRC spans)."""

    __slots__ = ("buf", "_nbits", "_bp")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self._nbits = 8 * len(buf)
        self._bp = pos * 8

    @property
    def pos(self) -> int:
        return self._bp >> 3

    @pos.setter
    def pos(self, v: int) -> None:
        self._bp = v * 8

    @property
    def bit(self) -> int:
        return self._bp & 7

    def read(self, n: int) -> int:
        bp = self._bp
        if bp + n > self._nbits:
            raise Truncated("bitstream truncated")
        self._bp = bp + n
        start = bp >> 3
        end = (bp + n + 7) >> 3
        chunk = int.from_bytes(self.buf[start:end], "big")
        return (chunk >> (8 * (end - start) - (bp & 7) - n)) & ((1 << n) - 1)

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        """Count zero bits up to and past the next 1 bit."""
        buf = self.buf
        bp = self._bp
        nbits = self._nbits
        q = 0
        while True:
            if bp >= nbits:
                raise Truncated("bitstream truncated")
            # unread bits of the current byte are its LOW (8 - bit) bits
            window = buf[bp >> 3] & ((1 << (8 - (bp & 7))) - 1)
            if window:
                zeros = (8 - (bp & 7)) - window.bit_length()
                self._bp = bp + zeros + 1
                return q + zeros
            skipped = 8 - (bp & 7)
            q += skipped
            bp += skipped

    def ue(self) -> int:
        """Unsigned Exp-Golomb (H.264 §9.1)."""
        zeros = self.unary()
        if zeros > 32:
            raise ValueError("Exp-Golomb run over 32 zeros")
        return (1 << zeros) - 1 + self.read(zeros)

    def se(self) -> int:
        """Signed Exp-Golomb: 1, 2, 3, 4 ... map to 1, -1, 2, -2 ..."""
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def align(self):
        self._bp = (self._bp + 7) & ~7


class MsbWriter:
    """MSB-first bit writer; mutators return the writer, so fields
    chain: ``w.write(0, 2).ue(5)``."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> MsbWriter:
        v &= (1 << n) - 1
        self.acc = (self.acc << n) | v
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1
        return self

    def write_unary(self, q: int) -> MsbWriter:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        return self.write(1, q + 1)

    def ue(self, v: int) -> MsbWriter:
        code = v + 1
        n = code.bit_length()
        return self.write(0, n - 1).write(code, n)

    def se(self, v: int) -> MsbWriter:
        return self.ue(2 * v - 1 if v > 0 else -2 * v)

    def align(self) -> MsbWriter:
        if self.nbits:
            self.write(0, 8 - self.nbits)
        return self

    def bytes(self) -> bytes:
        if self.nbits:
            raise ValueError("bitstream not byte-aligned")
        return bytes(self.out)


class LsbReader:
    """LSB-first bit reader (bit i of byte b is stream bit 8b+i), windowed
    like MsbReader. ``pos`` is the BIT position; webp.PrefixCode.read
    uses ``data``/``pos``/``_nbits`` directly in its inlined loop."""

    __slots__ = ("data", "pos", "_nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self._nbits = 8 * len(data)

    def read(self, n: int) -> int:
        pos = self.pos
        if pos + n > self._nbits:
            raise Truncated("bitstream truncated")
        self.pos = pos + n
        start = pos >> 3
        chunk = int.from_bytes(self.data[start : (pos + n + 7) >> 3], "little")
        return (chunk >> (pos - 8 * start)) & ((1 << n) - 1)

    def s32(self) -> int:
        x = self.read(32)
        return x - (1 << 32) if x & 0x80000000 else x


class LsbWriter:
    """LSB-first bit writer; ``getvalue()`` zero-pads the last byte."""

    __slots__ = ("_done", "_acc", "_n")

    def __init__(self):
        self._done = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, n: int) -> None:
        self._acc |= (value & ((1 << n) - 1)) << self._n
        self._n += n
        while self._n >= 8:
            self._done.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def write_code(self, code: int, length: int) -> None:
        """A prefix code MSB-first: its first stream bit is the code's
        most significant bit (VP8L reads code = code << 1 | next_bit)."""
        rev = 0
        for _ in range(length):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.write(rev, length)

    @property
    def bit_length(self) -> int:
        return len(self._done) * 8 + self._n

    def getvalue(self) -> bytes:
        out = bytes(self._done)
        if self._n:
            out += bytes([self._acc & 0xFF])
        return out


# --------------------------------------------------------------- crc


def _crc_tables():
    t8, t16 = [], []
    for b in range(256):
        c = b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        t8.append(c)
        c = b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        t16.append(c)
    return t8, t16


#: table-driven CRCs: a bit-at-a-time loop costs ~0.2 ms per decoded
#: FLAC frame; the tables give identical values.
_CRC8_TABLE, _CRC16_TABLE = _crc_tables()


def crc8(data: bytes) -> int:
    """CRC-8, polynomial 0x07, init 0 (the FLAC frame-header CRC)."""
    crc = 0
    table = _CRC8_TABLE
    for b in data:
        crc = table[crc ^ b]
    return crc


def crc16(data: bytes, init: int = 0) -> int:
    """CRC-16, polynomial 0x8005, MSB-first, no final xor: init 0 is
    the FLAC frame CRC, init 0xFFFF the MPEG audio frame CRC."""
    crc = init
    table = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ table[((crc >> 8) ^ b) & 0xFF]
    return crc
