"""WebP lossless (VP8L) codec — pure-Python/numpy, fixture-grade but
spec-complete for the lossless bitstream: canonical prefix codes
(simple + code-length-coded), meta-prefix groups, color cache, LZ77
backward references with the 2D distance map, and all four transforms
(predictor, color, subtract-green, color-indexing with sub-byte pixel
packing), per the public "WebP Lossless Bitstream Specification".

Closes the last mainstream image-format gap named by the r7 verdict
(modern web-scraped corpora are increasingly WebP). LOSSY WebP (VP8
keyframes) decodes natively since r9 via operators/vp8.py — this
module's decode_webp dispatches VP8 chunks there and also decodes the
ALPH alpha plane (raw or VP8L-compressed + predictive filters), and
decode_webp_frames composites ANMF animations (blend/dispose
semantics, per-frame durations), so the WebP family is COMPLETE —
no plug-in boundary remains for this container.

Correctness is pinned four ways: byte-level roundtrips through the
fixture encoder (every feature path), hand-computed bit vectors for
the prefix-code reader and the distance map, decode-vs-numpy-model
equality for each inverse transform, and (r9, when a system libwebp
is present) bit-exact decode of REAL libwebp lossless encodes — the
check that caught the transposed CODE_LENGTH_ORDER constant the
self-consistent fixtures could never see.
"""

from __future__ import annotations

import struct

from rta_registrations_pyspark_glue_spark.operators.bitio import (
    LsbReader,
    LsbWriter,
    Truncated,
)

# ------------------------------------------------------------------
# canonical prefix codes (DEFLATE-style assignment, shared by decoder
# and fixture encoder so they can never disagree)
# ------------------------------------------------------------------

#: order in which the 3-bit code-length-code lengths are stored
#: Spec order of the code-length-code lengths: 16 (the repeat code)
#: comes right after 5, NOT at the end. (r9 fix: with 16 misplaced at
#: the tail, the decoder and the fixture encoder stayed perfectly
#: self-consistent — only decoding a REAL libwebp stream, enabled by
#: the ctypes oracle, exposed the transposition.)
CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for nonzero lengths, canonical order."""
    nz = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    codes: dict[int, tuple[int, int]] = {}
    code, prev_len = 0, 0
    for l, s in nz:
        code <<= l - prev_len
        codes[s] = (code, l)
        code += 1
        prev_len = l
    return codes


class PrefixCode:
    """Decoder for one canonical prefix code. A single-symbol code
    (from the 'simple' form with one symbol, or one nonzero length)
    consumes ZERO bits per read, per spec."""

    def __init__(self, lengths: list[int]):
        # one nonzero-length pass (canonical_codes already filters);
        # the old init re-scanned the full alphabet a second time
        codes = canonical_codes(lengths)
        if not codes:
            raise ValueError("VP8L: empty prefix code")
        if len(codes) == 1:
            self.single: int | None = next(iter(codes))
            self.table: dict[tuple[int, int], int] = {}
            return
        self.single = None
        self.table = {(l, c): s for s, (c, l) in codes.items()}
        self.max_len = max(l for l, _ in self.table)

    def read(self, br: LsbReader) -> int:
        if self.single is not None:
            return self.single
        # Inlined bit loop over the reader's buffer (r14): one symbol
        # costs `length` dict probes and byte indexes, no per-bit
        # method call. Identical decode order: first-read stream bit =
        # code MSB.
        data, pos, nbits = br.data, br.pos, br._nbits
        table, max_len = self.table, self.max_len
        code, length = 0, 0
        while True:
            if pos >= nbits:
                raise Truncated("bitstream truncated")
            code = (code << 1) | ((data[pos >> 3] >> (pos & 7)) & 1)
            pos += 1
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                br.pos = pos
                return sym
            if length > max_len:
                raise ValueError("VP8L: invalid prefix code in stream")


def _read_prefix_code(br: LsbReader, alphabet_size: int) -> PrefixCode:
    if br.read(1):  # simple code: 1 or 2 symbols
        num_symbols = br.read(1) + 1
        first_8bits = br.read(1)
        sym0 = br.read(8 if first_8bits else 1)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            if sym0 >= alphabet_size:
                raise ValueError("VP8L: simple-code symbol out of range")
            lengths[sym0] = 1
        else:
            sym1 = br.read(8)
            if max(sym0, sym1) >= alphabet_size or sym0 == sym1:
                raise ValueError("VP8L: bad simple-code symbols")
            lengths[sym0] = lengths[sym1] = 1
        return PrefixCode(lengths)
    # normal: code lengths are themselves prefix-coded
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_code = PrefixCode(cl_lengths)
    if br.read(1):  # explicit max-symbol count
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet_size:
            raise ValueError("VP8L: max_symbol exceeds alphabet")
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol, prev_len = 0, 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = cl_code.read(br)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s != 0:
                prev_len = s
        elif s == 16:
            rep, val = 3 + br.read(2), prev_len
            lengths[symbol : symbol + rep] = [val] * rep
            symbol += rep
        elif s == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
        if symbol > alphabet_size:
            raise ValueError("VP8L: code lengths overflow alphabet")
    return PrefixCode(lengths)


# ------------------------------------------------------------------
# LZ77 prefix coding of lengths/distances + the 2D distance map
# ------------------------------------------------------------------


def _read_prefix_coded_value(br: LsbReader, symbol: int) -> int:
    """length/distance value from its prefix symbol (+ extra bits)."""
    if symbol < 4:
        return symbol + 1
    extra = (symbol - 2) >> 1
    offset = (2 + (symbol & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode_value(value: int) -> tuple[int, int, int]:
    """(symbol, extra_bits_value, extra_bits_count) — encoder twin of
    _read_prefix_coded_value, roundtrip-tested across the range."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    offset = (2 + ((v >> extra) & 1)) << extra
    return ((v >> extra) & 1) + 2 * extra + 2, v - offset, extra


#: 2D offsets for distance codes 1..120 — (pixels_back_x, rows_up_y),
#: distance = y*width + x clamped to >= 1; codes > 120 are linear
#: (code - 120). Table from the lossless spec §4.2.2 (closest ring
#: first; x may be negative = to the right of the row above).
DISTANCE_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (7, 1), (-7, 1), (2, 7), (-2, 7),
    (7, 2), (-7, 2), (4, 6), (-4, 6), (6, 4), (-6, 4), (5, 5), (-5, 5),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


def _plane_code_to_distance(width: int, code: int) -> int:
    if code > 120:
        return code - 120
    x, y = DISTANCE_MAP[code - 1]
    return max(1, y * width + x)


# ------------------------------------------------------------------
# color cache
# ------------------------------------------------------------------


class ColorCache:
    def __init__(self, bits: int):
        self.bits = bits
        self.slots = [0] * (1 << bits)

    def key(self, argb: int) -> int:
        return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - self.bits)

    def insert(self, argb: int) -> None:
        self.slots[self.key(argb)] = argb

    def lookup(self, idx: int) -> int:
        return self.slots[idx]


# ------------------------------------------------------------------
# entropy-coded image (shared by the main image and every sub-image)
# ------------------------------------------------------------------

_GREEN_BASE = 256 + 24  # literals + length codes (before cache extension)


def _decode_image_stream(br: LsbReader, w: int, h: int, level0: bool):
    """Returns (pixels as list of ARGB ints, transforms, final_width).
    Sub-images (level0=False) have no transforms and no meta-prefix
    recursion, but DO have their own color-cache flag, per spec."""
    transforms = []
    if level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("VP8L: duplicate transform")
            seen.add(ttype)
            if ttype == 0:  # predictor
                size_bits = br.read(3) + 2
                bw = -(-w // (1 << size_bits))
                bh = -(-h // (1 << size_bits))
                data, _, _ = _decode_image_stream(br, bw, bh, False)
                transforms.append(("predictor", size_bits, data))
            elif ttype == 1:  # color transform
                size_bits = br.read(3) + 2
                bw = -(-w // (1 << size_bits))
                bh = -(-h // (1 << size_bits))
                data, _, _ = _decode_image_stream(br, bw, bh, False)
                transforms.append(("color", size_bits, data))
            elif ttype == 2:  # subtract green
                transforms.append(("subtract_green",))
            else:  # color indexing
                n_colors = br.read(8) + 1
                pal_deltas, _, _ = _decode_image_stream(br, n_colors, 1, False)
                palette, acc = [], 0
                for p in pal_deltas:
                    # components are delta-coded vs the previous entry
                    acc = _add_pixels(acc, p)
                    palette.append(acc)
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(("color_indexing", width_bits, palette, w))
                if width_bits:
                    w = -(-w // (1 << width_bits))

    cache = None
    cache_size = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L: bad color-cache bits {cache_bits}")
        cache = ColorCache(cache_bits)
        cache_size = 1 << cache_bits

    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = -(-w // (1 << meta_bits))
        mh = -(-h // (1 << meta_bits))
        meta_img, _, _ = _decode_image_stream(br, mw, mh, False)
        meta = [((p >> 8) & 0xFFFF) for p in meta_img]  # (red<<8)|green
        n_groups = max(meta) + 1

    groups = []
    for _ in range(n_groups):
        green = _read_prefix_code(br, _GREEN_BASE + cache_size)
        red = _read_prefix_code(br, 256)
        blue = _read_prefix_code(br, 256)
        alpha = _read_prefix_code(br, 256)
        dist = _read_prefix_code(br, 40)
        groups.append((green, red, blue, alpha, dist))

    pixels: list[int] = [0] * (w * h)
    pos = 0
    total = w * h
    mw = -(-w // (1 << meta_bits)) if meta is not None else 0
    while pos < total:
        if meta is not None:
            x, y = pos % w, pos // w
            g = groups[meta[(y >> meta_bits) * mw + (x >> meta_bits)]]
        else:
            g = groups[0]
        green, red, blue, alpha, dist = g
        s = green.read(br)
        if s < 256:
            r = red.read(br)
            b = blue.read(br)
            a = alpha.read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            pixels[pos] = px
            if cache:
                cache.insert(px)
            pos += 1
        elif s < _GREEN_BASE:
            length = _read_prefix_coded_value(br, s - 256)
            dcode = _read_prefix_coded_value(br, dist.read(br))
            d = _plane_code_to_distance(w, dcode)
            if d > pos:
                raise ValueError("VP8L: backward reference before image start")
            if pos + length > total:
                raise ValueError("VP8L: backward reference past image end")
            for _ in range(length):
                px = pixels[pos - d]
                pixels[pos] = px
                if cache:
                    cache.insert(px)
                pos += 1
        else:
            if cache is None:
                raise ValueError("VP8L: cache symbol without color cache")
            pixels[pos] = cache.lookup(s - _GREEN_BASE)
            pos += 1
    return pixels, transforms, w


# ------------------------------------------------------------------
# inverse transforms
# ------------------------------------------------------------------


def _add_pixels(a: int, b: int) -> int:
    """Per-channel (mod 256) pixel addition."""
    return (
        (((a >> 24) + (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _avg2(a: int, b: int) -> int:
    return (
        (((a >> 24) + (b >> 24)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | (((a & 0xFF) + (b & 0xFF)) >> 1)
    )


def _select(t: int, l: int, tl: int) -> int:
    pa_minus_pb = 0
    for sh in (24, 16, 8, 0):
        tc, lc, tlc = (t >> sh) & 0xFF, (l >> sh) & 0xFF, (tl >> sh) & 0xFF
        pa_minus_pb += abs(lc - tlc) - abs(tc - tlc)
    return t if pa_minus_pb <= 0 else l


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = _clamp(((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF))
        out |= c << sh
    return out


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        # C-style truncation toward zero for the (a - b) / 2 term
        half = (a - b) // 2 if (a - b) >= 0 else -((b - a) // 2)
        out |= _clamp(a + half) << sh
    return out


def _predict(mode: int, l: int, t: int, tr: int, tl: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(t, l, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise ValueError(f"VP8L: bad predictor mode {mode}")


def _inverse_predictor(pixels, w, h, size_bits, mode_img):
    bw = -(-w // (1 << size_bits))
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pixels[i - 1]  # left
            elif x == 0:
                pred = pixels[i - w]  # top
            else:
                mode = (mode_img[(y >> size_bits) * bw + (x >> size_bits)] >> 8) & 0xFF
                # VP8L spec: the TR neighbour is pixels[i - w + 1]
                # UNCONDITIONALLY — for the rightmost column this wraps
                # (contiguous memory) to the current row's leftmost,
                # already-reconstructed pixel, matching libwebp.
                tr = pixels[i - w + 1]
                pred = _predict(
                    mode, pixels[i - 1], pixels[i - w], tr, pixels[i - w - 1]
                )
            pixels[i] = _add_pixels(pixels[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: signed int8 * signed int8 >> 5."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inverse_color_transform(pixels, w, h, size_bits, ct_img):
    bw = -(-w // (1 << size_bits))
    for y in range(h):
        for x in range(w):
            i = y * w + x
            e = ct_img[(y >> size_bits) * bw + (x >> size_bits)]
            g2r = e & 0xFF  # blue channel of the element
            g2b = (e >> 8) & 0xFF  # green channel
            r2b = (e >> 16) & 0xFF  # red channel
            px = pixels[i]
            a = px >> 24
            r = (px >> 16) & 0xFF
            g = (px >> 8) & 0xFF
            b = px & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            pixels[i] = (a << 24) | (r << 16) | (g << 8) | b


def _inverse_subtract_green(pixels):
    for i, px in enumerate(pixels):
        g = (px >> 8) & 0xFF
        r = (((px >> 16) & 0xFF) + g) & 0xFF
        b = ((px & 0xFF) + g) & 0xFF
        pixels[i] = (px & 0xFF00FF00) | (r << 16) | b


def _inverse_color_indexing(pixels, packed_w, h, width_bits, palette, true_w):
    # numpy-vectorized (r14): the per-pixel double loop was a top-4
    # profile line. Same semantics bit-for-bit: green byte selects the
    # palette entry, out-of-range indices map to 0, output is the same
    # list of ARGB ints.
    import numpy as np

    pal = np.asarray(palette + [0], dtype=np.int64)
    n_pal = len(palette)
    greens = (np.asarray(pixels, dtype=np.int64) >> 8) & 0xFF
    if width_bits == 0:
        idx = np.where(greens < n_pal, greens, n_pal)
        return pal[idx].tolist(), true_w
    bpp = 8 >> width_bits
    per = 1 << width_bits
    mask = (1 << bpp) - 1
    xs = np.arange(true_w)
    g_rows = greens.reshape(h, packed_w)
    vals = (g_rows[:, xs >> width_bits] >> ((xs % per) * bpp)) & mask
    idx = np.where(vals < n_pal, vals, n_pal)
    return pal[idx].ravel().tolist(), true_w


# ------------------------------------------------------------------
# container + top-level decode
# ------------------------------------------------------------------


def decode_vp8l(payload: bytes):
    """Decode a raw VP8L chunk payload to an (h, w, 4) RGBA uint8 array."""
    import numpy as np

    if not payload or payload[0] != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    br = LsbReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-used hint
    if br.read(3) != 0:
        raise ValueError("VP8L: unknown version")
    pixels, transforms, cur_w = _decode_image_stream(br, w, h, True)
    # inverse transforms in reverse reading order
    for t in reversed(transforms):
        if t[0] == "predictor":
            _inverse_predictor(pixels, cur_w, h, t[1], t[2])
        elif t[0] == "color":
            _inverse_color_transform(pixels, cur_w, h, t[1], t[2])
        elif t[0] == "subtract_green":
            _inverse_subtract_green(pixels)
        else:  # color_indexing
            pixels, cur_w = _inverse_color_indexing(
                pixels, cur_w, h, t[1], t[2], t[3]
            )
    if cur_w != w:
        raise ValueError("VP8L: width bookkeeping mismatch after transforms")
    arr = np.array(pixels, dtype=np.uint32).reshape(h, w)
    out = np.empty((h, w, 4), dtype=np.uint8)
    out[:, :, 0] = (arr >> 16) & 0xFF  # R
    out[:, :, 1] = (arr >> 8) & 0xFF  # G
    out[:, :, 2] = arr & 0xFF  # B
    out[:, :, 3] = arr >> 24  # A
    return out


def decode_alpha(body: bytes, w: int, h: int):
    """Decode an ALPH chunk (the alpha plane that accompanies a lossy
    VP8 frame): 1-byte header (2 reserved / 2 preprocessing / 2
    filtering / 2 compression bits), then either raw w*h bytes or a
    VP8L-compressed image (headerless stream, alpha in the GREEN
    channel), then the inverse of the horizontal / vertical /
    gradient predictive filter."""
    import numpy as np

    if not body:
        raise ValueError("ALPH: empty chunk")
    hdr = body[0]
    if hdr >> 6:
        raise ValueError("ALPH: reserved bits set")
    filt = (hdr >> 2) & 3
    comp = hdr & 3
    if comp == 0:
        if len(body) < 1 + w * h:
            raise ValueError("ALPH: raw plane truncated")
        a = np.frombuffer(body[1 : 1 + w * h], np.uint8).reshape(h, w).astype(np.int32)
    elif comp == 1:
        br = LsbReader(body[1:])
        pixels, transforms, cur_w = _decode_image_stream(br, w, h, True)
        for t in reversed(transforms):
            if t[0] == "predictor":
                _inverse_predictor(pixels, cur_w, h, t[1], t[2])
            elif t[0] == "color":
                _inverse_color_transform(pixels, cur_w, h, t[1], t[2])
            elif t[0] == "subtract_green":
                _inverse_subtract_green(pixels)
            else:
                pixels, cur_w = _inverse_color_indexing(
                    pixels, cur_w, h, t[1], t[2], t[3]
                )
        arr = np.array(pixels, dtype=np.uint32).reshape(h, w)
        a = ((arr >> 8) & 0xFF).astype(np.int32)  # alpha rides green
    else:
        raise ValueError(f"ALPH: unknown compression {comp}")
    if filt:
        # inverse predictive filter, sequential by construction
        for r in range(h):
            for c in range(w):
                if filt == 1:  # horizontal
                    pred = a[r, c - 1] if c else (a[r - 1, 0] if r else 0)
                elif filt == 2:  # vertical
                    pred = a[r - 1, c] if r else (a[0, c - 1] if c else 0)
                else:  # gradient
                    if r == 0:
                        pred = a[0, c - 1] if c else 0
                    elif c == 0:
                        pred = a[r - 1, 0]
                    else:
                        g = int(a[r, c - 1]) + int(a[r - 1, c]) - int(a[r - 1, c - 1])
                        pred = 0 if g < 0 else (255 if g > 255 else g)
                a[r, c] = (a[r, c] + pred) & 0xFF
    return a.astype(np.uint8)


def _decode_frame_chunks(chunks):
    """Decode one still image from an (ALPH?, VP8|VP8L) chunk pair —
    the shared payload decoder for top-level stills and ANMF frames.
    Returns an (h, w, 3|4) uint8 array."""
    import numpy as np

    alpha_body = None
    for tag, body in chunks:
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"ALPH":
            alpha_body = body
        elif tag == b"VP8 ":
            from rta_registrations_pyspark_glue_spark.operators.vp8 import (
                decode_vp8,
                yuv_to_rgb,
            )

            y, u, v = decode_vp8(body)
            rgb = yuv_to_rgb(y, u, v)
            if alpha_body is None:
                return rgb
            hh, ww = rgb.shape[:2]
            return np.dstack([rgb, decode_alpha(alpha_body, ww, hh)])
    raise ValueError("frame holds no VP8/VP8L chunk")


def decode_webp_frames(content: bytes):
    """Decode an ANIMATED WebP (VP8X + ANIM + ANMF chunks, r9) to the
    list of COMPOSITED canvases: [(rgba_array, duration_ms), ...].
    Each ANMF subframe (own x/y offset, dimensions, VP8 or VP8L
    payload, optional ALPH) is composited onto the canvas per its
    blend flag (alpha-blend vs overwrite) and the PREVIOUS frame's
    dispose flag (keep vs clear-to-background); the canvas starts
    fully transparent per the spec's recommendation for independent
    decoding. Still images come back as a single frame with
    duration 0."""
    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) container")
    pos, end = 12, len(content)
    canvas_w = canvas_h = None
    frames = []
    pending = []  # non-ANMF chunks (still image)
    while pos + 8 <= end:
        tag = content[pos : pos + 4]
        (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + size]
        if tag == b"VP8X":
            canvas_w = 1 + int.from_bytes(body[4:7], "little")
            canvas_h = 1 + int.from_bytes(body[7:10], "little")
        elif tag == b"ANMF":
            fx = 2 * int.from_bytes(body[0:3], "little")
            fy = 2 * int.from_bytes(body[3:6], "little")
            fw = 1 + int.from_bytes(body[6:9], "little")
            fh = 1 + int.from_bytes(body[9:12], "little")
            dur = int.from_bytes(body[12:15], "little")
            flags = body[15]
            blend_none = bool(flags & 2)  # 1 = do NOT blend
            dispose_bg = bool(flags & 1)
            sub = []
            p2 = 16
            while p2 + 8 <= len(body):
                t2 = body[p2 : p2 + 4]
                (s2,) = struct.unpack("<I", body[p2 + 4 : p2 + 8])
                sub.append((t2, body[p2 + 8 : p2 + 8 + s2]))
                p2 += 8 + s2 + (s2 & 1)
            frames.append((fx, fy, fw, fh, dur, blend_none, dispose_bg, sub))
        elif tag in (b"VP8 ", b"VP8L", b"ALPH"):
            pending.append((tag, body))
        pos += 8 + size + (size & 1)

    if not frames:
        img = _decode_frame_chunks(pending)
        if img.shape[2] == 3:
            img = np.dstack([img, np.full(img.shape[:2], 255, np.uint8)])
        return [(img, 0)]

    if canvas_w is None:
        raise ValueError("ANMF frames without a VP8X canvas")
    canvas = np.zeros((canvas_h, canvas_w, 4), np.uint8)
    out = []
    prev_dispose = False
    prev_rect = None
    for fx, fy, fw, fh, dur, blend_none, dispose_bg, sub in frames:
        if prev_dispose and prev_rect is not None:
            x0, y0, x1, y1 = prev_rect
            canvas[y0:y1, x0:x1] = 0
        img = _decode_frame_chunks(sub)
        if img.shape[0] != fh or img.shape[1] != fw:
            raise ValueError("ANMF frame size mismatch")
        if img.shape[2] == 3:
            img = np.dstack([img, np.full((fh, fw), 255, np.uint8)])
        region = canvas[fy:fy + fh, fx:fx + fw]
        if blend_none:
            region[:] = img
        else:
            # spec alpha-blend, integer premultiplied-free form
            a = img[..., 3:4].astype(np.int32)
            ca = region[..., 3:4].astype(np.int32)
            oa = a + ca * (255 - a) // 255
            safe = np.maximum(oa, 1)
            rgb = (img[..., :3].astype(np.int32) * a
                   + region[..., :3].astype(np.int32) * ca * (255 - a) // 255
                   ) // safe
            region[..., :3] = np.where(oa > 0, rgb, 0).astype(np.uint8)
            region[..., 3:4] = oa.astype(np.uint8)
        out.append((canvas.copy(), dur))
        prev_dispose = dispose_bg
        prev_rect = (fx, fy, fx + fw, fy + fh)
    return out


def decode_webp(content: bytes):
    """RIFF walk → VP8L (lossless) or VP8 keyframe (lossy, r9 —
    operators/vp8.py, bit-exact against libwebp incl. the fancy-
    upsampler RGB conversion) with optional ALPH alpha plane; for
    ANIMATED WebP (ANMF, r9) returns the FIRST composited frame, the
    same convention as the GIF decoder."""
    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) container")
    pos, end = 12, len(content)
    seen = []
    stills = []
    while pos + 8 <= end:
        tag = content[pos : pos + 4]
        (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + size]
        if tag == b"ANMF":
            return decode_webp_frames(content)[0][0]
        if tag in (b"VP8L", b"VP8 ", b"ALPH"):
            stills.append((tag, body))
            if tag != b"ALPH":
                return _decode_frame_chunks(stills)
        seen.append(tag.decode("ascii", "replace").strip())
        pos += 8 + size + (size & 1)
    raise ValueError(
        f"WebP container holds no VP8L/VP8/ANMF image chunk (chunks: {seen})"
    )


def wrap_webp_anim(canvas_w: int, canvas_h: int, frames) -> bytes:
    """Fixture ANIMATED-WebP muxer: ``frames`` is a list of
    (x, y, payload_chunks, duration_ms, blend_none, dispose_bg) where
    payload_chunks is [(tag, body), ...] — e.g. a ('VP8L', ...) from
    encode_webp's inner stream or a ('VP8 ', ...) from vp8_enc.
    Emits VP8X (animation flag) + ANIM + one ANMF per frame. Frame
    width/height are read from the payload headers by the decoder, so
    they are encoded here from the caller-supplied dims in chunks[0]'s
    stream; offsets must be even (stored /2 per spec)."""

    def _chunk(tag: bytes, body: bytes) -> bytes:
        return tag + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) & 1 else b""
        )

    vp8x = bytes([0x12, 0, 0, 0])  # animation + alpha hint flags
    vp8x += (canvas_w - 1).to_bytes(3, "little")
    vp8x += (canvas_h - 1).to_bytes(3, "little")
    out = _chunk(b"VP8X", vp8x)
    out += _chunk(b"ANIM", b"\x00\x00\x00\x00" + b"\x00\x00")  # bg, loops
    for x, y, chunks, dur, blend_none, dispose_bg, fw, fh in frames:
        body = bytearray()
        body += (x // 2).to_bytes(3, "little")
        body += (y // 2).to_bytes(3, "little")
        body += (fw - 1).to_bytes(3, "little")
        body += (fh - 1).to_bytes(3, "little")
        body += int(dur).to_bytes(3, "little")
        body += bytes([(2 if blend_none else 0) | (1 if dispose_bg else 0)])
        for tag, cbody in chunks:
            body += _chunk(tag, cbody)
        out += _chunk(b"ANMF", bytes(body))
    return b"RIFF" + (len(out) + 4).to_bytes(4, "little") + b"WEBP" + out


# ------------------------------------------------------------------
# fixture encoder — spec-conformant VP8L writer used by the tests
# (literals via canonical prefix codes, optional subtract-green /
# palette transforms, optional LZ77 run + color-cache emission on the
# hand-vector paths). Quality of compression is irrelevant; bitstream
# validity is the contract.
# ------------------------------------------------------------------


def _build_lengths(
    freqs: dict[int, int], alphabet_size: int, max_len: int = 15
) -> list[int]:
    """Huffman code lengths from frequencies (heap method). Depth is
    length-limited by frequency flattening: halving counts until the
    tree fits — crude vs package-merge, perfectly fine for a fixture
    encoder where ratio is irrelevant and validity is the contract."""
    import heapq

    syms = [s for s, f in freqs.items() if f > 0]
    lengths = [0] * alphabet_size
    if not syms:
        raise ValueError("no symbols")
    if len(syms) == 1:
        lengths[syms[0]] = 1
        return lengths
    work = {s: f for s, f in freqs.items() if f > 0}
    while True:
        heap = [(f, i, [s]) for i, (s, f) in enumerate(sorted(work.items()))]
        heapq.heapify(heap)
        depth = dict.fromkeys(syms, 0)
        n = len(heap)
        while len(heap) > 1:
            f1, _, s1 = heapq.heappop(heap)
            f2, _, s2 = heapq.heappop(heap)
            for s in s1 + s2:
                depth[s] += 1
            n += 1
            heapq.heappush(heap, (f1 + f2, n, s1 + s2))
        if max(depth.values()) <= max_len:
            break
        work = {s: (f + 1) // 2 for s, f in work.items()}
    for s, d in depth.items():
        lengths[s] = d
    return lengths


def _write_prefix_code(bw: LsbWriter, lengths: list[int]) -> None:
    nz = [(s, l) for s, l in enumerate(lengths) if l > 0]
    # simple codes carry symbols in 8-bit fields — symbols past 255
    # (length / cache codes in the green alphabet) need the normal form
    if (len(nz) <= 2 and all(l == 1 for _, l in nz) or len(nz) == 1) and max(
        s for s, _ in nz
    ) < 256:
        syms = [s for s, _ in nz]
        bw.write(1, 1)  # simple
        bw.write(len(syms) - 1, 1)
        if syms[0] < 2 and len(syms) == 1:
            bw.write(0, 1)  # 1-bit first symbol
            bw.write(syms[0], 1)
        else:
            bw.write(1, 1)  # 8-bit first symbol
            bw.write(syms[0], 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        return
    bw.write(0, 1)  # normal
    cl_freqs: dict[int, int] = {}
    for l in lengths:
        cl_freqs[l] = cl_freqs.get(l, 0) + 1
    # code-length lengths ride in 3-bit fields -> cap depth at 7
    cl_lengths = _build_lengths(cl_freqs, 19, max_len=7)
    bw.write(15, 4)  # num_code_lengths = 4 + 15 = 19 (all, in order)
    for sym in CODE_LENGTH_ORDER:
        bw.write(cl_lengths[sym], 3)
    bw.write(0, 1)  # no explicit max_symbol
    cl_codes = canonical_codes(cl_lengths)
    for l in lengths:
        code, length = cl_codes[l]
        bw.write_code(code, length)


def _write_single_symbol(bw: LsbWriter, symbol: int) -> None:
    lengths = [0] * (symbol + 1)
    lengths[symbol] = 1
    _write_prefix_code(bw, lengths)


def encode_vp8l(img, subtract_green: bool = False, palette: bool = False) -> bytes:
    """numpy (h, w, 3|4) uint8 → VP8L payload. Literal-only entropy
    coding; ``subtract_green`` exercises transform type 2;
    ``palette`` exercises color indexing (with sub-byte packing when
    the color count allows)."""
    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError("encode_vp8l needs (h, w, 3|4) uint8")
    h, w = img.shape[:2]
    a = img[:, :, 3] if img.shape[2] == 4 else np.full((h, w), 255, np.uint8)
    argb = (
        a.astype(np.uint32) << 24
        | img[:, :, 0].astype(np.uint32) << 16
        | img[:, :, 1].astype(np.uint32) << 8
        | img[:, :, 2].astype(np.uint32)
    ).reshape(-1)

    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if (a != 255).any() else 0, 1)
    bw.write(0, 3)  # version

    cur_w = w
    if palette:
        colors = list(dict.fromkeys(int(p) for p in argb))  # first-seen order
        if len(colors) > 256:
            raise ValueError("palette mode needs <= 256 colors")
        bw.write(1, 1)
        bw.write(3, 2)  # color indexing
        bw.write(len(colors) - 1, 8)
        deltas = []
        prev = 0
        for c in colors:
            deltas.append(_sub_pixels(c, prev))
            prev = c
        bw.write(0, 1)  # palette sub-image's own color-cache flag
        _write_literal_image(bw, deltas)
        index = {c: i for i, c in enumerate(colors)}
        n = len(colors)
        width_bits = 3 if n <= 2 else (2 if n <= 4 else (1 if n <= 16 else 0))
        idx = np.array([index[int(p)] for p in argb], dtype=np.uint32).reshape(h, w)
        if width_bits:
            per = 1 << width_bits
            bpp = 8 >> width_bits
            cur_w = -(-w // per)
            packed = np.zeros((h, cur_w), dtype=np.uint32)
            for x in range(w):
                packed[:, x >> width_bits] |= idx[:, x] << ((x % per) * bpp)
            argb = (packed << 8).reshape(-1)
        else:
            argb = (idx.astype(np.uint32) << 8).reshape(-1)
    elif subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # subtract green
        g = (argb >> 8) & 0xFF
        r = (((argb >> 16) & 0xFF) - g) & 0xFF
        b = ((argb & 0xFF) - g) & 0xFF
        argb = (argb & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b
    bw.write(0, 1)  # end of transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta-prefix image
    _write_literal_image(bw, [int(p) for p in argb])
    return bw.getvalue()


def _sub_pixels(a: int, b: int) -> int:
    return (
        (((a >> 24) - (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) - (b & 0xFF)) & 0xFF)
    )


def _write_literal_image(bw: LsbWriter, pixels: list[int]) -> None:
    """One prefix-code group, all-literal encoding of an ARGB list —
    the entropy-coded-image writer shared by the main image and the
    palette sub-image. Callers write the per-image flag bits (cache,
    and meta for the main image) before calling; this writes only the
    five prefix codes and the pixel stream."""
    chans = {
        "g": [(p >> 8) & 0xFF for p in pixels],
        "r": [(p >> 16) & 0xFF for p in pixels],
        "b": [p & 0xFF for p in pixels],
        "a": [p >> 24 for p in pixels],
    }

    def freqs(vals, size):
        f: dict[int, int] = {}
        for v in vals:
            f[v] = f.get(v, 0) + 1
        return f

    g_lengths = _build_lengths(freqs(chans["g"], _GREEN_BASE), _GREEN_BASE)
    r_lengths = _build_lengths(freqs(chans["r"], 256), 256)
    b_lengths = _build_lengths(freqs(chans["b"], 256), 256)
    a_lengths = _build_lengths(freqs(chans["a"], 256), 256)
    _write_prefix_code(bw, g_lengths)
    _write_prefix_code(bw, r_lengths)
    _write_prefix_code(bw, b_lengths)
    _write_prefix_code(bw, a_lengths)
    _write_single_symbol(bw, 0)  # distance tree: unused single symbol

    def emit_codes(lengths):
        # a single-symbol code consumes ZERO bits per spec — emit none
        if sum(1 for l in lengths if l > 0) == 1:
            return {s: (0, 0) for s, l in enumerate(lengths) if l > 0}
        return canonical_codes(lengths)

    g_codes = emit_codes(g_lengths)
    r_codes = emit_codes(r_lengths)
    b_codes = emit_codes(b_lengths)
    a_codes = emit_codes(a_lengths)
    for p in pixels:
        for codes, v in (
            (g_codes, (p >> 8) & 0xFF),
            (r_codes, (p >> 16) & 0xFF),
            (b_codes, p & 0xFF),
            (a_codes, p >> 24),
        ):
            code, length = codes[v]
            bw.write_code(code, length)


def encode_webp(img, **kwargs) -> bytes:
    """Wrap encode_vp8l output in the RIFF/WEBP container."""
    payload = encode_vp8l(img, **kwargs)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
