"""Pure-Python/numpy TIFF decoder + EXIF extraction.

TIFF is the scanned-document / archival format a real document corpus
contains (public spec: TIFF 6.0, Adobe 1992); its IFD tag structure is
ALSO the container of JPEG EXIF metadata (EXIF = a TIFF IFD embedded
in the APP1 segment), so one parser serves both: image decode for
``multimodal.decode_image`` and camera/orientation/timestamp metadata
extraction for image-corpus curation.

Decoder scope (the baseline subset of TIFF 6.0):

- both byte orders (II little / MM big endian), classic 32-bit TIFF;
- strip-organized images (RowsPerStrip/StripOffsets/StripByteCounts);
- PhotometricInterpretation 0/1 (gray, incl. white-is-zero inversion)
  and 2 (RGB), 8-bit samples, 1/3/4 samples per pixel (extra sample =
  alpha), chunky planar configuration;
- compressions: 1 (none), 32773 (PackBits RLE), 8/32946 (Deflate via
  zlib), 5 (TIFF-variant LZW: MSB-first codes, CLEAR=256, EOI=257,
  EARLY code-width change at 2^n−1 — note this differs from GIF LZW's
  LSB-first/late-change on BOTH counts);
- unsupported variants (tiles, 16-bit, CCITT/JPEG-in-TIFF, planar)
  raise NotImplementedError; malformed payloads raise ValueError.

The fixture encoder writes spec-following strip TIFFs for every
decoder path (compression × photometric × multi-strip), so roundtrips
pin the format logic; LZW additionally cross-checks encoder/decoder
width schedules at the early-change boundaries.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from rta_registrations_pyspark_glue_spark.operators.bitio import MsbWriter

# TIFF tag ids (public constants from the spec)
WIDTH, HEIGHT = 256, 257
BITS_PER_SAMPLE, COMPRESSION, PHOTOMETRIC = 258, 259, 262
STRIP_OFFSETS, SAMPLES_PER_PIXEL, ROWS_PER_STRIP = 273, 277, 278
STRIP_BYTE_COUNTS, PLANAR_CONFIG = 279, 284

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i"}


def parse_ifd(content: bytes, base: int = 0) -> list[dict]:
    """Parse the IFD chain of a TIFF stream (offsets relative to
    ``base``, which is 0 for a standalone file and the TIFF-header
    position for EXIF-in-JPEG). Returns one {tag: value(s)} dict per
    IFD. Raises ValueError on malformed structure."""
    if len(content) < base + 8:
        raise ValueError("truncated TIFF header")
    bom = content[base : base + 2]
    if bom == b"II":
        e = "<"
    elif bom == b"MM":
        e = ">"
    else:
        raise ValueError(f"bad TIFF byte order {bom!r}")
    (magic,) = struct.unpack_from(e + "H", content, base + 2)
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic} (classic TIFF is 42)")
    (ifd_off,) = struct.unpack_from(e + "I", content, base + 4)
    ifds = []
    seen = set()
    while ifd_off:
        if ifd_off in seen:
            raise ValueError("circular TIFF IFD chain")
        seen.add(ifd_off)
        pos = base + ifd_off
        if pos + 2 > len(content):
            raise ValueError("truncated TIFF IFD")
        (n,) = struct.unpack_from(e + "H", content, pos)
        pos += 2
        tags: dict = {"_endian": e}
        for _ in range(n):
            if pos + 12 > len(content):
                raise ValueError("truncated TIFF IFD entry")
            tag, typ, cnt = struct.unpack_from(e + "HHI", content, pos)
            size = _TYPE_SIZE.get(typ, 0) * cnt
            if size == 0:
                pos += 12
                continue  # unknown type: skip entry
            if size <= 4:
                data_off = pos + 8
            else:
                (rel,) = struct.unpack_from(e + "I", content, pos + 8)
                data_off = base + rel
            if data_off + size > len(content):
                raise ValueError(f"TIFF tag {tag} data out of bounds")
            if typ == 2:  # ASCII
                raw = content[data_off : data_off + cnt]
                tags[tag] = raw.split(b"\x00", 1)[0].decode("ascii", "replace")
            elif typ in (5, 10):  # RATIONAL
                vals = []
                for i in range(cnt):
                    num, den = struct.unpack_from(
                        e + ("II" if typ == 5 else "ii"), content, data_off + 8 * i
                    )
                    vals.append((num, den))
                tags[tag] = vals if cnt > 1 else vals[0]
            elif typ in _TYPE_FMT:
                vals = list(
                    struct.unpack_from(e + _TYPE_FMT[typ] * cnt, content, data_off)
                )
                tags[tag] = vals if cnt > 1 else vals[0]
            else:  # UNDEFINED etc: raw bytes
                tags[tag] = content[data_off : data_off + size]
            pos += 12
        (ifd_off,) = struct.unpack_from(e + "I", content, pos)
        ifds.append(tags)
    if not ifds:
        raise ValueError("TIFF with no IFD")
    return ifds


# ------------------------------------------------------------- LZW (TIFF)

#: constant 256-entry single-byte table prefix shared by every decode
_LZW_BASE = [bytes([i]) for i in range(256)]


def tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW: MSB-first bit packing, CLEAR=256, EOI=257,
    EARLY width change (the width bumps when the next assigned code
    would be 2^n − 1 — one code earlier than GIF)."""
    CLEAR, EOI = 256, 257
    width = 9
    # shallow copy of the constant 256-entry base (r14): rebuilding 256
    # bytes objects per decode was ~15% of the whole strip decode
    table: list[bytes] = _LZW_BASE + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    # r14: the table/output lengths ride local ints instead of len()
    # calls (several per decoded code under profile). Identical codes,
    # identical early-change schedule. (A windowed-read and a
    # whole-buffer-int bit reader were both measured SLOWER than this
    # accumulator for the 9-12 bit code widths here — the int view is
    # additionally quadratic on big strips.)
    tlen = 258
    out_len = 0
    while out_len < expected:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated TIFF LZW stream")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        # keep only the unconsumed low bits: the old loop let acc grow
        # by one bit per stream bit (a slow big-int leak on long strips)
        acc &= (1 << nbits) - 1
        if code == CLEAR:
            width = 9
            del table[258:]
            tlen = 258
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= tlen:
                raise ValueError("TIFF LZW first code not in table")
            entry = table[code]
        else:
            if code < tlen:
                entry = table[code]
            elif code == tlen:
                entry = prev + prev[:1]
            else:
                raise ValueError("TIFF LZW code out of range")
            table.append(prev + entry[:1])
            tlen += 1
            # early change: bump when the NEXT code to assign is 2^w - 1
            if tlen == (1 << width) - 1 and width < 12:
                width += 1
        out += entry
        out_len += len(entry)
        prev = entry
    return bytes(out)


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF LZW compressor mirroring the decoder's early-change width
    schedule: the decoder's mirror add lands one code later in the
    stream, so alignment needs T_encoder = T_decoder + 1 — decoder
    widens at table length 2^w − 1, encoder at next_code == 2^w (the
    same pairing law as the GIF pair, shifted by the early change)."""
    CLEAR, EOI = 256, 257
    width = 9
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    out = MsbWriter()
    out.write(CLEAR, width)
    w = b""
    for b in data:
        wb = w + bytes([b])
        if wb in table:
            w = wb
            continue
        out.write(table[w], width)
        if next_code < 4094:
            table[wb] = next_code
            next_code += 1
            # decoder widens at table length T_d, encoder at T_e; the
            # decoder's mirror add lands one code later in the stream,
            # so alignment needs T_e = T_d + 1 (same relation as the
            # GIF pair): early-change T_d = 2^w - 1 ⇒ T_e = 2^w
            if next_code == (1 << width) and width < 12:
                width += 1
        w = bytes([b])
    if w:
        out.write(table[w], width)
    return out.write(EOI, width).align().bytes()


def packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits RLE (TIFF 6.0 §9): n in [0,127] → copy n+1 literals;
    n in [-127,-1] → repeat next byte 1−n times; −128 is a no-op."""
    out = bytearray()
    pos = 0
    n = len(data)
    while len(out) < expected:
        if pos >= n:
            raise ValueError("truncated PackBits stream")
        h = data[pos]
        pos += 1
        if h < 128:
            if pos + h + 1 > n:
                raise ValueError("truncated PackBits literal run")
            out += data[pos : pos + h + 1]
            pos += h + 1
        elif h > 128:
            if pos >= n:
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[pos]]) * (257 - h)
            pos += 1
        # h == 128: no-op
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits: ≥3-byte runs become repeats, the rest literals."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        lit_start = i
        while i < n and (i - lit_start) < 128:
            nxt_run = 1
            while i + nxt_run < n and data[i + nxt_run] == data[i] and nxt_run < 128:
                nxt_run += 1
            if nxt_run >= 3:
                break
            i += 1
        out.append(i - lit_start - 1)
        out += data[lit_start:i]
    return bytes(out)


# --------------------------------------------------------------- decode


def decode_tiff(content: bytes) -> np.ndarray:
    """bytes → HxWxC uint8 (first IFD). See module docstring for
    scope; ValueError for malformed, NotImplementedError past the
    baseline subset."""
    ifd = parse_ifd(content)[0]
    width = ifd.get(WIDTH)
    height = ifd.get(HEIGHT)
    if not width or not height:
        raise ValueError("TIFF missing dimensions")
    spp = ifd.get(SAMPLES_PER_PIXEL, 1)
    bps = ifd.get(BITS_PER_SAMPLE, 1)
    if isinstance(bps, list):
        if any(b != 8 for b in bps):
            raise NotImplementedError(f"only 8-bit TIFF samples (got {bps})")
    elif bps != 8:
        raise NotImplementedError(f"only 8-bit TIFF samples (got {bps})")
    photometric = ifd.get(PHOTOMETRIC, 1)
    if photometric not in (0, 1, 2):
        raise NotImplementedError(
            f"TIFF photometric {photometric} not supported (gray/RGB only)"
        )
    if ifd.get(PLANAR_CONFIG, 1) != 1:
        raise NotImplementedError("planar TIFF not supported (chunky only)")
    compression = ifd.get(COMPRESSION, 1)
    offsets = ifd.get(STRIP_OFFSETS)
    counts = ifd.get(STRIP_BYTE_COUNTS)
    if offsets is None or counts is None:
        if 322 in ifd or 323 in ifd:
            raise NotImplementedError("tiled TIFF not supported (strips only)")
        raise ValueError("TIFF missing strip layout")
    if isinstance(offsets, int):
        offsets = [offsets]
    if isinstance(counts, int):
        counts = [counts]
    rows_per_strip = ifd.get(ROWS_PER_STRIP, height)
    row_bytes = width * spp
    raster = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        strip = content[off : off + cnt]
        if len(strip) < cnt:
            raise ValueError("TIFF strip out of bounds")
        n_rows = min(rows_per_strip, height - si * rows_per_strip)
        expected = n_rows * row_bytes
        if compression == 1:
            if len(strip) < expected:
                raise ValueError("TIFF strip shorter than raster")
            raster += strip[:expected]
        elif compression == 32773:
            raster += packbits_decode(strip, expected)
        elif compression in (8, 32946):
            try:
                raster += zlib.decompress(strip)[:expected]
            except zlib.error as exc:
                raise ValueError(f"corrupt TIFF deflate strip: {exc}") from None
        elif compression == 5:
            raster += tiff_lzw_decode(strip, expected)
        else:
            raise NotImplementedError(
                f"TIFF compression {compression} not supported "
                "(none/PackBits/Deflate/LZW)"
            )
    if len(raster) < height * row_bytes:
        raise ValueError("TIFF raster incomplete")
    arr = np.frombuffer(bytes(raster), np.uint8, height * row_bytes).reshape(
        height, width, spp
    )
    if photometric == 0:  # white-is-zero: invert the gray channel
        arr = arr.copy()
        arr[:, :, 0] = 255 - arr[:, :, 0]
    return arr


# --------------------------------------------------------------- encode


def encode_tiff(
    img: np.ndarray,
    compression: int = 1,
    rows_per_strip: int | None = None,
    big_endian: bool = False,
    white_is_zero: bool = False,
) -> bytes:
    """Fixture-grade strip TIFF writer covering every decoder path."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    e = ">" if big_endian else "<"
    rps = rows_per_strip or h
    photometric = 2 if c >= 3 else (0 if white_is_zero else 1)
    pix = img
    if white_is_zero:
        pix = img.copy()
        pix[:, :, 0] = 255 - pix[:, :, 0]
    strips = []
    for y0 in range(0, h, rps):
        raw = pix[y0 : y0 + rps].tobytes()
        if compression == 1:
            strips.append(raw)
        elif compression == 32773:
            strips.append(packbits_encode(raw))
        elif compression == 8:
            strips.append(zlib.compress(raw, 6))
        elif compression == 5:
            strips.append(tiff_lzw_encode(raw))
        else:
            raise ValueError(f"encoder: unsupported compression {compression}")

    entries: list[tuple[int, int, int, int]] = []  # tag, type, count, value
    # layout: header(8) + IFD + after-IFD data area
    n_tags = 10
    ifd_size = 2 + n_tags * 12 + 4
    data_area = 8 + ifd_size
    extra = bytearray()

    def alloc(raw: bytes) -> int:
        nonlocal extra
        off = data_area + len(extra)
        extra += raw
        if len(extra) & 1:
            extra += b"\x00"
        return off

    strip_offsets = []
    pos_after_arrays = None
    # strip arrays first need their own space if multi-strip
    # compute strip data offsets after the offset/count arrays
    arr_fmt = e + "I" * len(strips)
    if len(strips) > 1:
        off_array_pos = alloc(b"\x00" * 4 * len(strips))
        cnt_array_pos = alloc(
            struct.pack(arr_fmt, *[len(s) for s in strips])
        )
    for s in strips:
        strip_offsets.append(alloc(s))
    if len(strips) > 1:
        extra[
            off_array_pos - data_area : off_array_pos - data_area + 4 * len(strips)
        ] = struct.pack(arr_fmt, *strip_offsets)
    del pos_after_arrays

    def short(v):
        return struct.unpack(e + "I", struct.pack(e + "HH", v, 0))[0]

    # TIFF inline rule: a value whose total size is <= 4 bytes lives IN
    # the value field. One SHORT (c==1) and two SHORTs (c==2, gray+alpha)
    # are inline — the c==2 case previously packed (8, 0) via short(),
    # zeroing the alpha sample's bit depth (r7 advice); three or more
    # SHORTs go to the data area.
    if c == 1:
        bits_val = short(8)
    elif c == 2:
        bits_val = struct.unpack(e + "I", struct.pack(e + "HH", 8, 8))[0]
    else:
        bits_val = alloc(struct.pack(e + "H" * c, *([8] * c)))
    entries.append((WIDTH, 4, 1, w))
    entries.append((HEIGHT, 4, 1, h))
    entries.append((BITS_PER_SAMPLE, 3, c, bits_val))
    entries.append((COMPRESSION, 3, 1, short(compression)))
    entries.append((PHOTOMETRIC, 3, 1, short(photometric)))
    entries.append(
        (
            STRIP_OFFSETS,
            4,
            len(strips),
            strip_offsets[0] if len(strips) == 1 else off_array_pos,
        )
    )
    entries.append((SAMPLES_PER_PIXEL, 3, 1, short(c)))
    entries.append((ROWS_PER_STRIP, 4, 1, rps))
    entries.append(
        (
            STRIP_BYTE_COUNTS,
            4,
            len(strips),
            len(strips[0]) if len(strips) == 1 else cnt_array_pos,
        )
    )
    entries.append((PLANAR_CONFIG, 3, 1, short(1)))
    entries.sort()

    out = bytearray()
    out += (b"MM" if big_endian else b"II") + struct.pack(e + "H", 42)
    out += struct.pack(e + "I", 8)
    out += struct.pack(e + "H", n_tags)
    for tag, typ, cnt, val in entries:
        out += struct.pack(e + "HHI", tag, typ, cnt)
        out += struct.pack(e + "I", val)
    out += struct.pack(e + "I", 0)  # next IFD
    out += extra
    return bytes(out)


# ----------------------------------------------------------------- EXIF

#: the EXIF tags worth surfacing for corpus curation (public ids)
EXIF_TAGS = {
    270: "description",
    271: "make",
    272: "model",
    274: "orientation",
    306: "datetime",
    305: "software",
}


def extract_exif(content: bytes) -> dict:
    """EXIF metadata from a JPEG's APP1 segment (or a bare TIFF): the
    EXIF payload IS a TIFF IFD — parse_ifd does the work. Returns
    {name: value} for the curation-relevant tags; empty dict when no
    EXIF is present (never raises for absent metadata)."""
    if content[:2] == b"\xff\xd8":  # JPEG: find APP1 with Exif header
        pos = 2
        n = len(content)
        while pos + 4 <= n and content[pos] == 0xFF:
            marker = content[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            if marker == 0xDA:
                break
            (seg_len,) = struct.unpack_from(">H", content, pos + 2)
            if marker == 0xE1 and content[pos + 4 : pos + 10] == b"Exif\x00\x00":
                return _exif_from_tiff(content, pos + 10)
            pos += 2 + seg_len
        return {}
    if content[:2] in (b"II", b"MM"):
        return _exif_from_tiff(content, 0)
    return {}


def _exif_from_tiff(content: bytes, base: int) -> dict:
    try:
        ifds = parse_ifd(content, base)
    except ValueError:
        return {}
    out = {}
    for ifd in ifds:
        for tag, name in EXIF_TAGS.items():
            if tag in ifd and name not in out:
                out[name] = ifd[tag]
    return out


def apply_orientation(arr: "np.ndarray", orientation: int) -> "np.ndarray":
    """Apply an EXIF orientation (1-8) to a decoded HxWxC array — the
    standard transform table (public: TIFF/EXIF orientation tag):
    1 identity, 2 mirror-H, 3 rotate-180, 4 mirror-V, 5 transpose,
    6 rotate-90-CW, 7 transverse, 8 rotate-90-CCW. Unknown values
    return the array unchanged (never raise for metadata)."""
    if orientation == 2:
        return arr[:, ::-1]
    if orientation == 3:
        return arr[::-1, ::-1]
    if orientation == 4:
        return arr[::-1]
    if orientation == 5:
        return arr.transpose(1, 0, 2)
    if orientation == 6:
        return arr.transpose(1, 0, 2)[:, ::-1]
    if orientation == 7:
        return arr.transpose(1, 0, 2)[::-1, ::-1]
    if orientation == 8:
        return arr.transpose(1, 0, 2)[::-1]
    return arr
