"""Pure-Python/numpy GIF decoder (87a/89a) — no external codec.

Joins PPM/BMP/JPEG/PNG in ``multimodal.decode_image``'s native format
set. GIF is pervasive in web-crawl corpora and is fully decodable
without native deps: the only compression is LZW with variable-width
codes (public spec: GIF89a specification, CompuServe 1990 / W3C note).

Decoder scope:

- GIF87a + GIF89a headers, logical screen descriptor;
- global and per-image local colour tables;
- full LZW decompression (variable code width 3→12 bits, CLEAR/END
  codes, deferred-clear dictionary cap at 4096);
- interlaced images (the 4-pass row order);
- multiple image blocks (animation frames) with their (left, top)
  placement; graphic-control extensions are parsed for transparency
  (rendered as an alpha channel);
- unknown extensions skipped via their sub-block chain.

Disposal-method COMPOSITING between animation frames is out of scope
(frames are returned individually with offsets; ``decode_image``
composites frame 0 onto the logical screen). Malformed payloads raise
ValueError.

The fixture-grade encoder implements REAL LZW compression (the same
variable-width growth schedule the decoder walks), so roundtrip tests
and the oracle-checked gate fixtures exercise genuine dictionary
growth, not a degenerate clear-per-pixel stream.
"""

from __future__ import annotations

import struct

import numpy as np

from rta_registrations_pyspark_glue_spark.operators.bitio import LsbWriter

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


# ------------------------------------------------------------------ LZW

#: constant 256-entry single-byte table prefix shared by every decode
_LZW_BASE = [bytes([i]) for i in range(256)]


def lzw_decode(min_code_size: int, data: bytes, expected: int) -> bytes:
    """GIF-variant LZW: variable code width starting at
    ``min_code_size + 1``, LSB-first bit packing, CLEAR/END control
    codes, dictionary capped at 4096 entries. Decodes until END or
    until ``expected`` output bytes (some writers omit END)."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    # shallow copy of the constant single-byte prefix (r14): rebuilding
    # up to 256 bytes objects per frame decode showed in the profile
    table: list[bytes] = _LZW_BASE[:clear] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    # r14: the table/output lengths ride local ints instead of len()
    # calls (4 per decoded code under profile — the loop is the gif
    # leg's top line). Identical codes, identical growth schedule.
    tlen = clear + 2
    out_len = 0
    while out_len < expected:
        if bitpos + code_size > total_bits:
            raise ValueError("truncated LZW stream (no END code)")
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code_size + 1
            del table[clear + 2 :]
            tlen = clear + 2
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= tlen:
                raise ValueError("LZW first code not in initial table")
            entry = table[code]
        else:
            if code < tlen:
                entry = table[code]
            elif code == tlen:
                entry = prev + prev[:1]
            else:
                raise ValueError("LZW code out of range")
            if tlen < 4096:
                table.append(prev + entry[:1])
                tlen += 1
                if tlen == (1 << code_size) and code_size < 12:
                    code_size += 1
        out += entry
        out_len += len(entry)
        prev = entry
    return bytes(out)


def lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """Real GIF LZW compressor mirroring the decoder's growth schedule
    exactly (emit-then-add ordering keeps code widths in sync)."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    bits = LsbWriter()
    bits.write(clear, code_size)
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        bits.write(table[w], code_size)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # widen ONE EMIT LATER than the add that fills 2^size: the
            # decoder's mirror add happens one code later in the stream
            # (giflib-interoperable timing)
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        w = bytes([k])
    if w:
        bits.write(table[w], code_size)
    bits.write(end, code_size)
    return bits.getvalue()


# ------------------------------------------------------------------ decode


def decode_gif(content: bytes) -> dict:
    """bytes → {"width", "height", "frames": [{"left", "top",
    "image": HxWx3|4 uint8}], "n_frames"}. Raises ValueError for
    malformed payloads."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(content) < 13:
        raise ValueError("truncated GIF header")
    width, height, packed, bg_index, _aspect = struct.unpack_from(
        "<HHBBB", content, 6
    )
    if width == 0 or height == 0:
        raise ValueError(f"bad GIF dimensions {width}x{height}")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(content, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    frames = []
    transparent_idx: int | None = None
    n = len(content)
    while pos < n:
        block = content[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos + 1 > n:
                raise ValueError("truncated GIF extension")
            label = content[pos]
            pos += 1
            sub_start = pos
            pos = _skip_subblocks(content, pos)
            if label == 0xF9:  # graphic control
                size = content[sub_start]
                if size >= 4:
                    flags = content[sub_start + 1]
                    tidx = content[sub_start + 4]
                    transparent_idx = tidx if flags & 0x01 else None
        elif block == 0x2C:  # image descriptor
            if pos + 9 > n:
                raise ValueError("truncated GIF image descriptor")
            left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", content, pos)
            pos += 9
            if iw == 0 or ih == 0:
                raise ValueError("bad GIF image dimensions")
            ct = gct
            if ipacked & 0x80:
                ln = 2 << (ipacked & 0x07)
                ct = np.frombuffer(content, np.uint8, 3 * ln, pos).reshape(ln, 3)
                pos += 3 * ln
            if ct is None:
                raise ValueError("GIF image with no colour table")
            if pos >= n:
                raise ValueError("truncated GIF image data")
            mcs = content[pos]
            pos += 1
            data_start = pos
            pos = _skip_subblocks(content, pos)
            lzw = _join_subblocks(content, data_start)
            idx = np.frombuffer(
                lzw_decode(mcs, lzw, iw * ih), np.uint8, iw * ih
            )
            if int(idx.max()) >= ct.shape[0]:
                raise ValueError("GIF pixel index out of palette range")
            grid = idx.reshape(ih, iw)
            if ipacked & 0x40:  # interlaced
                ordered = np.empty_like(grid)
                src = 0
                for start, step in _INTERLACE_PASSES:
                    rows = range(start, ih, step)
                    for r in rows:
                        ordered[r] = grid[src]
                        src += 1
                grid = ordered
            img = ct[grid]
            if transparent_idx is not None:
                alpha = np.where(grid == transparent_idx, 0, 255).astype(np.uint8)
                img = np.dstack([img, alpha])
            frames.append({"left": left, "top": top, "image": img})
            transparent_idx = None  # GCE applies to one image
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF with no image data")
    bg = None
    if gct is not None and bg_index < gct.shape[0]:
        bg = gct[bg_index]
    return {
        "width": width,
        "height": height,
        "frames": frames,
        "n_frames": len(frames),
        "background": bg,
    }


def _skip_subblocks(content: bytes, pos: int) -> int:
    n = len(content)
    while True:
        if pos >= n:
            raise ValueError("truncated GIF sub-block chain")
        size = content[pos]
        pos += 1
        if size == 0:
            return pos
        if pos + size > n:
            raise ValueError("truncated GIF sub-block")
        pos += size


def _join_subblocks(content: bytes, pos: int) -> bytes:
    parts = []
    while True:
        size = content[pos]
        pos += 1
        if size == 0:
            return b"".join(parts)
        parts.append(content[pos : pos + size])
        pos += size


def first_frame_on_screen(clip: dict) -> np.ndarray:
    """Composite frame 0 onto the logical screen: background colour
    (or black) fills uncovered area; a transparent frame pixel shows
    the background. Returns HxWx3 uint8 — the decode_image contract
    for GIF."""
    h, w = clip["height"], clip["width"]
    bg = clip["background"]
    screen = np.zeros((h, w, 3), dtype=np.uint8)
    if bg is not None:
        screen[:] = bg
    f = clip["frames"][0]
    img = f["image"]
    fh, fw = img.shape[:2]
    top, left = f["top"], f["left"]
    y1, x1 = min(top + fh, h), min(left + fw, w)
    if y1 <= top or x1 <= left:
        return screen
    patch = img[: y1 - top, : x1 - left]
    if patch.shape[2] == 4:
        mask = patch[:, :, 3:4] != 0
        region = screen[top:y1, left:x1]
        screen[top:y1, left:x1] = np.where(mask, patch[:, :, :3], region)
    else:
        screen[top:y1, left:x1] = patch
    return screen


# ------------------------------------------------------------------ encode


def encode_gif(
    frames: list[np.ndarray] | np.ndarray,
    palette: np.ndarray,
    *,
    interlace: bool = False,
    transparent_idx: int | None = None,
    offsets: list[tuple[int, int]] | None = None,
    screen: tuple[int, int] | None = None,
    bg_index: int = 0,
) -> bytes:
    """Fixture-grade GIF89a writer: ``frames`` is one HxW index array
    or a list of them, ``palette`` Nx3 uint8 (N a power of two ≥ 2).
    Real LZW compression; optional interlace, per-clip transparency
    index, frame offsets, and logical screen size."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    pal_n = palette.shape[0]
    if pal_n & (pal_n - 1) or pal_n < 2:
        raise ValueError("palette size must be a power of two >= 2")
    pal_bits = max(1, (pal_n - 1).bit_length())
    h0, w0 = frames[0].shape
    sw, sh = screen if screen is not None else (w0, h0)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | (pal_bits - 1), bg_index, 0)
    out += palette.astype(np.uint8).tobytes()
    mcs = max(2, pal_bits)
    for fi, frame in enumerate(frames):
        fh, fw = frame.shape
        left, top = (offsets[fi] if offsets else (0, 0))
        if transparent_idx is not None:
            out += b"\x21\xf9\x04" + bytes(
                [0x01, 0, 0, transparent_idx]
            ) + b"\x00"
        out += b"\x2c" + struct.pack(
            "<HHHHB", left, top, fw, fh, 0x40 if interlace else 0
        )
        grid = frame
        if interlace:
            rows = []
            for start, step in _INTERLACE_PASSES:
                rows.extend(range(start, fh, step))
            grid = frame[rows]
        out.append(mcs)
        lzw = lzw_encode(mcs, grid.astype(np.uint8).tobytes())
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)
