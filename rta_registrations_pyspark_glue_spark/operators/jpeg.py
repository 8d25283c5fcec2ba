"""Pure-numpy JPEG decoder (ITU-T T.81): baseline sequential DCT
(SOF0/SOF1) and — since round 7 — PROGRESSIVE DCT (SOF2): marker
parse → per-scan Huffman entropy decode into a coefficient store →
dequantize → 8×8 IDCT → chroma upsample → YCbCr→RGB.

This closes the codec boundary in multimodal.decode_image for the two
JPEG processes real corpora contain (VERDICT r6 item 5 closed the
baseline half; progressive is the web-optimized default of many image
pipelines). Scope:

- SOF0 (baseline), SOF1 (extended sequential), SOF2 (progressive:
  spectral selection Ss/Se, successive approximation Ah/Al, DC and AC
  first+refinement scans, EOB runs spanning blocks — the full
  T.81 Annex G Huffman process as implemented interoperably by
  libjpeg's jdphuff); arithmetic coding, hierarchical, and 12-bit
  precision raise NotImplementedError with the reason;
- 1- or 3-component frames, sampling factors up to 4 (4:4:4, 4:2:2,
  4:2:0), interleaved and non-interleaved scans (progressive AC scans
  are always single-component with their own block-grid geometry);
- restart markers (DRI/RSTn) with DC-predictor + EOB-run reset and
  byte alignment;
- 0xFF00 byte stuffing in the entropy stream.

Decode is deliberately straightforward Python/numpy — bit-serial
Huffman with a dict lookup per (length, code); the final
coefficient→pixel stage is one batched matmul IDCT per component
(``A.T @ blocks @ A`` with the orthonormal DCT-II basis). It is not
meant to compete with libjpeg-turbo on throughput; in the engine it
runs inside Arrow-batched ``mapInPandas`` where decode parallelism is
partition parallelism and a native codec can be swapped in per-batch
without touching the plumbing.

Correctness strategy (tests/test_jpeg.py): spec-following ENCODERS
(baseline below; progressive with a configurable scan script) produce
streams this decoder must invert — exact to the quantized
coefficients by construction — plus analytic anchors a shared spec
misreading cannot satisfy: the T.81 zigzag table's spot values,
solid-color images decoding to the exact color (DC-only path),
progressive and baseline encodings of the same image decoding
IDENTICALLY (the processes share the coefficient domain), and
gradient images decoding within the quantization error bound of the
ORIGINAL pixels, under 4:4:4 and 4:2:0 alike.
"""

from __future__ import annotations

import math
import struct

import numpy as np

#: T.81 Figure A.6 zigzag order: ZIGZAG[k] = natural (row-major) index
#: of the k-th coefficient in transmission order.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


_IDCT_A = None


def _idct_matrix(np):
    """Orthonormal 8-point DCT-II basis A with A[u, x] =
    c(u)/2 · cos((2x+1)uπ/16); IDCT of block F is A.T @ F @ A.
    Computed once per process (r14): it is a constant 8×8 table, but
    was rebuilt (64 math.cos calls) on every decode."""
    global _IDCT_A
    if _IDCT_A is None:
        import math

        a = np.zeros((8, 8))
        for u in range(8):
            c = math.sqrt(0.5) if u == 0 else 1.0
            for x in range(8):
                a[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16.0)
        _IDCT_A = a
    return _IDCT_A


class _HuffTable:
    """Canonical Huffman decode table from DHT counts+symbols: a dict
    keyed by (code_length, code_value) — at most 16 probes per symbol."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """Entropy-stream bit reader with 0xFF00 unstuffing. Stops (raises
    _AtMarker) at any real marker so the MCU loop can consume RSTn
    boundaries explicitly."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _load_byte(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2
                return 0xFF
            raise _AtMarker(nxt)
        self.pos += 1
        return b

    def read_bit(self) -> int:
        if self.nbits == 0:
            self.bits = self._load_byte()
            self.nbits = 8
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_expect_rst(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.nbits = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (n % 8)
        ):
            raise ValueError(
                f"expected RST{n % 8} at offset {self.pos} in entropy stream"
            )
        self.pos += 2


class _AtMarker(Exception):
    def __init__(self, marker):
        self.marker = marker


def _decode_huff(reader: _BitReader, table: _HuffTable) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.lookup.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG entropy stream")


def _receive_extend(reader: _BitReader, s: int) -> int:
    if s == 0:
        return 0
    v = reader.read_bits(s)
    if v < (1 << (s - 1)):
        v -= (1 << s) - 1
    return v


class _Component:
    __slots__ = ("cid", "h", "v", "tq", "td", "ta", "pred", "coef", "bw", "bh")

    def __init__(self, cid, h, v, tq):
        self.cid, self.h, self.v, self.tq = cid, h, v, tq
        self.pred = 0
        self.coef = None  # (grid_h, grid_w, 64) int32, ZIGZAG order


class _ScanState:
    __slots__ = ("eobrun",)

    def __init__(self):
        self.eobrun = 0


# ------------------------------- scan decoders ------------------------


def _decode_block_full(reader, c, dc_t, ac_t, blk) -> None:
    """Baseline/sequential block: DC diff + full AC band."""
    s = _decode_huff(reader, dc_t)
    if s > 11:
        raise ValueError(f"bad DC magnitude {s}")
    c.pred += _receive_extend(reader, s)
    blk[0] = c.pred
    k = 1
    while k < 64:
        rs = _decode_huff(reader, ac_t)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past block end")
        blk[k] = _receive_extend(reader, s)
        k += 1


def _decode_dc_first(reader, c, dc_t, al, blk) -> None:
    s = _decode_huff(reader, dc_t)
    if s > 11:
        raise ValueError(f"bad DC magnitude {s}")
    c.pred += _receive_extend(reader, s)
    blk[0] = c.pred << al


def _decode_dc_refine(reader, al, blk) -> None:
    if reader.read_bit():
        blk[0] = int(blk[0]) | (1 << al)


def _decode_ac_first(reader, ac_t, ss, se, al, blk, state) -> None:
    if state.eobrun > 0:
        state.eobrun -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huff(reader, ac_t)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:
                state.eobrun = (1 << r) - 1
                if r:
                    state.eobrun += reader.read_bits(r)
                return
            k += 16
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        blk[k] = _receive_extend(reader, s) << al
        k += 1


def _decode_ac_refine(reader, ac_t, ss, se, al, blk, state) -> None:
    """T.81 Annex G.2 AC successive-approximation refinement, in the
    interoperable shape of libjpeg's jdphuff decode_mcu_AC_refine:
    newly-nonzero coefficients arrive as ±1<<Al; every already-nonzero
    coefficient passed on the way (and in the EOB tail) carries one
    correction bit."""
    p1 = 1 << al
    k = ss
    if state.eobrun == 0:
        while k <= se:
            rs = _decode_huff(reader, ac_t)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    state.eobrun = 1 << r
                    if r:
                        state.eobrun += reader.read_bits(r)
                    break
                newval = 0
            else:
                if s != 1:
                    raise ValueError("bad AC refinement magnitude")
                newval = p1 if reader.read_bit() else -p1
            while k <= se:
                cur = int(blk[k])
                if cur != 0:
                    if reader.read_bit() and (cur & p1) == 0:
                        blk[k] = cur + (p1 if cur >= 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[k] = newval
            k += 1
    if state.eobrun > 0:
        while k <= se:
            cur = int(blk[k])
            if cur != 0:
                if reader.read_bit() and (cur & p1) == 0:
                    blk[k] = cur + (p1 if cur >= 0 else -p1)
            k += 1
        state.eobrun -= 1


def _decode_scan(
    reader,
    scan_comps,
    ss,
    se,
    ah,
    al,
    progressive,
    dc_tables,
    ac_tables,
    restart_interval,
    mcus_y,
    mcus_x,
):
    """Decode one entropy-coded scan into the components' coefficient
    stores. Interleaved scans walk MCUs; single-component scans walk
    the component's own block grid (T.81 A.2.2)."""
    for c in scan_comps:
        c.pred = 0
    state = _ScanState()
    interleaved = len(scan_comps) > 1
    if interleaved:
        units = mcus_y * mcus_x
    else:
        c0 = scan_comps[0]
        units = c0.bh * c0.bw
    needs_dc = not progressive or ss == 0
    needs_ac = not progressive or ss > 0
    for c in scan_comps:
        if needs_dc and ah == 0 and c.td not in dc_tables:
            raise ValueError(f"component {c.cid} references missing DC table")
        if needs_ac and c.ta not in ac_tables:
            raise ValueError(f"component {c.cid} references missing AC table")
    rst_n = 0
    for u in range(units):
        if restart_interval and u and u % restart_interval == 0:
            reader.align_and_expect_rst(rst_n)
            rst_n += 1
            for c in scan_comps:
                c.pred = 0
            state.eobrun = 0
        if interleaved:
            my, mx = divmod(u, mcus_x)
            for c in scan_comps:
                for by in range(c.v):
                    for bx in range(c.h):
                        blk = c.coef[my * c.v + by, mx * c.h + bx]
                        _decode_unit(
                            reader, c, ss, se, ah, al, progressive,
                            dc_tables, ac_tables, blk, state,
                        )
        else:
            c = scan_comps[0]
            by, bx = divmod(u, c.bw)
            _decode_unit(
                reader, c, ss, se, ah, al, progressive,
                dc_tables, ac_tables, c.coef[by, bx], state,
            )


def _decode_unit(
    reader, c, ss, se, ah, al, progressive, dc_tables, ac_tables, blk, state
):
    if not progressive:
        _decode_block_full(reader, c, dc_tables[c.td], ac_tables[c.ta], blk)
    elif ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ah == 0:
            _decode_dc_first(reader, c, dc_tables[c.td], al, blk)
        else:
            _decode_dc_refine(reader, al, blk)
    else:
        if ah == 0:
            _decode_ac_first(reader, ac_tables[c.ta], ss, se, al, blk, state)
        else:
            _decode_ac_refine(reader, ac_tables[c.ta], ss, se, al, blk, state)


def _skip_to_marker(data: bytes, pos: int) -> int:
    """Advance past entropy data to the next real marker (skipping
    stuffed 0xFF00 and stray RSTn)."""
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        if pos + 1 >= n:
            raise ValueError("JPEG truncated at marker boundary")
        nxt = data[pos + 1]
        if nxt == 0x00 or nxt == 0xFF:
            pos += 2 if nxt == 0x00 else 1
            continue
        if 0xD0 <= nxt <= 0xD7:
            pos += 2
            continue
        return pos
    raise ValueError("JPEG truncated before EOI")


# --------------------------------- decoder ----------------------------


def decode_jpeg(content: bytes) -> "np.ndarray":
    """bytes → HxWxC uint8 (C=3 RGB for YCbCr scans, C=1 grayscale).
    Handles baseline/extended-sequential AND progressive processes.
    Raises ValueError on malformed/truncated streams and
    NotImplementedError for arithmetic/hierarchical/12-bit variants."""
    import numpy as np

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    qtables: dict[int, "np.ndarray"] = {}
    dc_tables: dict[int, _HuffTable] = {}
    ac_tables: dict[int, _HuffTable] = {}
    comps: list[_Component] = []
    height = width = 0
    mcus_x = mcus_y = 0
    hmax = vmax = 1
    restart_interval = 0
    progressive = False
    n_scans = 0
    pos = 2

    while True:
        if pos + 1 >= len(content):
            raise ValueError("JPEG truncated before EOI")
        if content[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        if pos + 2 > len(content):
            raise ValueError("JPEG segment length truncated")
        seg_len = struct.unpack_from(">H", content, pos)[0]
        if seg_len < 2:
            raise ValueError(f"JPEG segment length {seg_len} under 2")
        seg_end = pos + seg_len
        if seg_end > len(content):
            raise ValueError("JPEG segment truncated")
        body = content[pos + 2 : seg_end]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 1:
                    vals = np.frombuffer(body[i : i + 128], dtype=">u2").astype(
                        np.int32
                    )
                    i += 128
                else:
                    vals = np.frombuffer(body[i : i + 64], dtype=np.uint8).astype(
                        np.int32
                    )
                    i += 64
                if len(vals) != 64:
                    raise ValueError("DQT table truncated")
                qtables[tq] = vals  # zigzag order, as transmitted
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog.
            progressive = marker == 0xC2
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("JPEG SOF segment shorter than its components")
            precision = body[0]
            if precision != 8:
                raise NotImplementedError(
                    f"{precision}-bit JPEG not supported (baseline is 8)"
                )
            height, width = struct.unpack_from(">HH", body, 1)
            if not height or not width:
                raise ValueError("bad JPEG frame dimensions")
            ncomp = body[5]
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append(_Component(cid, hv >> 4, hv & 0x0F, tq))
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"{ncomp}-component JPEG not supported (1=gray, 3=YCbCr)"
                )
            hmax = max(c.h for c in comps)
            vmax = max(c.v for c in comps)
            if hmax > 4 or vmax > 4 or hmax < 1 or vmax < 1:
                raise ValueError(f"bad sampling factors {hmax}x{vmax}")
            for c in comps:
                # The upsampler replicates by the integer ratio
                # hmax//c.h × vmax//c.v; spec-legal NON-DIVISOR
                # combinations (e.g. hmax=3 with a 2×1 component) need
                # fractional upsampling we don't implement — fail at
                # the documented boundary instead of emitting a
                # wrong-sized plane.
                if hmax % c.h or vmax % c.v:
                    raise NotImplementedError(
                        f"non-divisor JPEG sampling factors {c.h}x{c.v} "
                        f"vs max {hmax}x{vmax} not supported"
                    )
            mcus_x = -(-width // (8 * hmax))
            mcus_y = -(-height // (8 * vmax))
            for c in comps:
                # non-interleaved block-grid geometry (T.81 A.2.2)
                c.bw = _ceil_div(_ceil_div(width * c.h, hmax), 8)
                c.bh = _ceil_div(_ceil_div(height * c.v, vmax), 8)
                c.coef = np.zeros(
                    (mcus_y * c.v, mcus_x * c.h, 64), dtype=np.int32
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG process SOF{marker - 0xC0} not supported "
                "(baseline + progressive only)"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                counts = list(body[i + 1 : i + 17])
                if len(counts) != 16:
                    raise ValueError("DHT counts truncated")
                n = sum(counts)
                symbols = bytes(body[i + 17 : i + 17 + n])
                if len(symbols) != n:
                    raise ValueError("DHT table truncated")
                (ac_tables if tc else dc_tables)[th] = _HuffTable(counts, symbols)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("JPEG SOS before SOF")
            if not body or len(body) < 4 + 2 * body[0]:
                raise ValueError("JPEG SOS segment shorter than its components")
            ns = body[0]
            scan_comps = []
            by_id = {c.cid: c for c in comps}
            for si in range(ns):
                cid, tdta = body[1 + 2 * si], body[2 + 2 * si]
                c = by_id.get(cid)
                if c is None:
                    raise ValueError(f"SOS references unknown component {cid}")
                c.td, c.ta = tdta >> 4, tdta & 0x0F
                scan_comps.append(c)
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("sequential scan with progressive parameters")
            if progressive and ss > 0 and ns != 1:
                raise ValueError("progressive AC scan must be single-component")
            reader = _BitReader(content, seg_end)
            try:
                _decode_scan(
                    reader, scan_comps, ss, se, ah, al, progressive,
                    dc_tables, ac_tables, restart_interval, mcus_y, mcus_x,
                )
            except _AtMarker as m:
                raise ValueError(
                    f"unexpected marker 0xFF{m.marker:02X} inside entropy data"
                ) from None
            n_scans += 1
            pos = _skip_to_marker(content, reader.pos)
            continue
        # APPn / COM / others: skip
        pos = seg_end

    if not comps or not n_scans:
        raise ValueError("JPEG has no decoded scan")
    A = _idct_matrix(np)
    zz = np.array(ZIGZAG)
    planes = []
    for c in comps:
        if c.tq not in qtables:
            raise ValueError(f"component {c.cid} references missing DQT {c.tq}")
        deq = c.coef.astype(np.float64) * qtables[c.tq]
        nat = np.zeros_like(deq)
        nat[:, :, zz] = deq
        gh, gw = nat.shape[:2]
        blocks = nat.reshape(gh, gw, 8, 8)
        spatial = A.T @ blocks @ A + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(gh * 8, gw * 8)
        p = np.repeat(
            np.repeat(plane, vmax // c.v, axis=0), hmax // c.h, axis=1
        )
        planes.append(p[:height, :width])
    if len(planes) == 1:
        out = planes[0]
        return np.clip(np.rint(out), 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


#: Backward-compatible name: the round-7 unified decoder handles the
#: progressive process too, but the baseline call sites predate it.
decode_baseline_jpeg = decode_jpeg


# --------------------------- baseline encoder -------------------------
#
# A correctness-grade baseline encoder (moved from the decoder's test
# suite in round 7 so the gate can synthesize real JPEG payloads): it
# emits spec-valid SOI/DQT/SOF0/DHT/(DRI)/SOS/EOI streams with
# canonical Huffman tables (all used symbols at one code length — valid,
# zero compression tuning), byte stuffing, and restart markers. Use it
# for fixtures and deterministic pipeline payloads, not for size: every
# real encoder compresses far better.


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nacc = 0

    def flush(self) -> None:
        if self.nacc:
            self.write((1 << (8 - self.nacc)) - 1, 8 - self.nacc)


def _fdct(block: np.ndarray) -> np.ndarray:
    a = np.zeros((8, 8))
    for u in range(8):
        c = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return a @ (block - 128.0) @ a.T


def _magnitude(v: int) -> tuple[int, int]:
    """(size, value-bits) per T.81 F.1.2.1 / F.1.4."""
    s = int(v).bit_length() if v >= 0 else int(-v).bit_length()
    bits = v if v >= 0 else v + (1 << s) - 1
    return s, bits


def _canonical_codes(symbols: list[int]) -> tuple[list[int], list[int], dict]:
    """All symbols at one length L (2^L > n keeps the all-ones code
    free): counts, symbol order, and symbol -> (L, code) map."""
    syms = sorted(set(symbols))
    n = len(syms)
    length = max(1, (n + 1 - 1).bit_length())  # smallest L with 2^L > n
    while (1 << length) <= n:
        length += 1
    counts = [0] * 16
    counts[length - 1] = n
    return counts, syms, {s: (length, i) for i, s in enumerate(syms)}


def _component_blocks(plane, mcus_y, mcus_x, h, v):
    """Yield (mcu_index, natural-order 8x8 blocks) in scan order."""
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for by in range(v):
                for bx in range(h):
                    y0, x0 = (my * v + by) * 8, (mx * h + bx) * 8
                    yield my * mcus_x + mx, plane[y0 : y0 + 8, x0 : x0 + 8]


def _pad(plane, rows, cols):
    return np.pad(
        plane,
        ((0, rows - plane.shape[0]), (0, cols - plane.shape[1])),
        mode="edge",
    )


def encode_baseline_jpeg(
    img: np.ndarray,
    qtable_zz: list[int] | None = None,
    y_sampling: tuple[int, int] = (1, 1),
    restart_interval: int = 0,
) -> bytes:
    """Minimal spec-following baseline encoder for decoder tests.

    ``img``: HxW uint8 grayscale or HxWx3 uint8 RGB. ``qtable_zz``: one
    64-entry quant table in zigzag order used for every component
    (default all-ones = lossless-to-rounding). ``y_sampling``: (h, v)
    for the luma component; chroma is always (1, 1) — (2, 2) gives
    4:2:0."""
    qz = list(qtable_zz or [1] * 64)
    planes, samps = _color_planes(img, y_sampling)
    height, width = img.shape[0], img.shape[1]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))

    # Quantize every block once (natural -> zigzag), collecting symbols.
    comp_blocks: list[list[np.ndarray]] = []
    for plane, (h, v) in zip(planes, samps):
        padded = _pad(plane, mcus_y * v * 8, mcus_x * h * 8)
        blocks = []
        for _m, block in _component_blocks(padded, mcus_y, mcus_x, h, v):
            fb = _fdct(block)
            zzq = np.array(
                [round(fb.flat[ZIGZAG[k]] / qz[k]) for k in range(64)], dtype=np.int64
            )
            blocks.append(zzq)
        comp_blocks.append(blocks)

    n_comp = len(planes)

    per_mcu = [{m: [] for m in range(mcus_y * mcus_x)} for _ in range(n_comp)]
    for ci, (plane, (h, v)) in enumerate(zip(planes, samps)):
        bi = 0
        for m, _block in _component_blocks(
            _pad(plane, mcus_y * v * 8, mcus_x * h * 8), mcus_y, mcus_x, h, v
        ):
            per_mcu[ci][m].append(comp_blocks[ci][bi])
            bi += 1

    def emit(tables, writer_factory, rst_sink):
        """Shared emission walk: pass 1 collects symbols (tables=None),
        pass 2 writes bits — ONE loop so restart-interval DC resets are
        identical in both (a divergence here was the first bug this
        test suite caught)."""
        collected = {(0, 0): [], (1, 0): [], (0, 1): [], (1, 1): []}
        w = writer_factory()
        preds = [0] * n_comp
        rst_n = 0
        for m in range(mcus_y * mcus_x):
            if restart_interval and m and m % restart_interval == 0:
                if tables is not None:
                    w.flush()
                    rst_sink(w, rst_n)
                    w = writer_factory()
                rst_n += 1
                preds = [0] * n_comp
            for ci in range(n_comp):
                th = 0 if ci == 0 else 1
                for zzq in per_mcu[ci][m]:
                    s, bits = _magnitude(int(zzq[0]) - preds[ci])
                    preds[ci] = int(zzq[0])
                    if tables is None:
                        collected[(0, th)].append(s)
                    else:
                        ln, code = tables[(0, th)][2][s]
                        w.write(code, ln)
                        w.write(bits, s)
                    run = 0
                    for k in range(1, 64):
                        v = int(zzq[k])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            if tables is None:
                                collected[(1, th)].append(0xF0)
                            else:
                                ln, code = tables[(1, th)][2][0xF0]
                                w.write(code, ln)
                            run -= 16
                        s, bits = _magnitude(v)
                        if tables is None:
                            collected[(1, th)].append((run << 4) | s)
                        else:
                            ln, code = tables[(1, th)][2][(run << 4) | s]
                            w.write(code, ln)
                            w.write(bits, s)
                        run = 0
                    if run:
                        if tables is None:
                            collected[(1, th)].append(0x00)
                        else:
                            ln, code = tables[(1, th)][2][0x00]
                            w.write(code, ln)
        if tables is not None:
            w.flush()
            rst_sink(w, None)
        return collected

    collected = emit(None, _BitWriter, lambda w, n: None)
    tables = {}
    for key in ((0, 0), (1, 0)) + (((0, 1), (1, 1)) if n_comp == 3 else ()):
        tables[key] = _canonical_codes(collected[key] or [0])

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + bytes([0x00])
    out += bytes(min(255, q) for q in qz)
    # SOF0
    sof = bytearray([8])
    sof += height.to_bytes(2, "big") + width.to_bytes(2, "big")
    sof.append(n_comp)
    for ci in range(n_comp):
        h, v = samps[ci]
        sof += bytes([ci + 1, (h << 4) | v, 0x00])
    out += b"\xff\xc0" + (2 + len(sof)).to_bytes(2, "big") + sof
    for (tc, th), (counts, syms, _m) in sorted(tables.items()):
        body = bytes([(tc << 4) | th]) + bytes(counts) + bytes(syms)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big")
        out += restart_interval.to_bytes(2, "big")
    sos = bytearray([n_comp])
    for ci in range(n_comp):
        th = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (th << 4) | th])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos

    # Entropy-coded data, interleaved MCU order (same walk as pass 1).
    def rst_sink(w, n):
        out.extend(w.out)
        if n is not None:
            out.extend(bytes([0xFF, 0xD0 + (n % 8)]))

    emit(tables, _BitWriter, rst_sink)
    out += b"\xff\xd9"
    return bytes(out)


def _color_planes(img: np.ndarray, y_sampling: tuple[int, int]):
    """RGB→YCbCr (or grayscale passthrough) with chroma subsampling;
    shared by the baseline and progressive encoders."""
    gray = img.ndim == 2 or img.shape[2] == 1
    if gray:
        return [img.reshape(img.shape[0], img.shape[1]).astype(np.float64)], [(1, 1)]
    rgb = img.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    h, v = y_sampling
    if (h, v) != (1, 1):
        assert y.shape[0] % v == 0 and y.shape[1] % h == 0, (
            "test encoder: image dims must be multiples of the sampling"
        )
        hh, vv = y.shape[0], y.shape[1]
        cb = cb.reshape(hh // v, v, vv // h, h).mean(axis=(1, 3))
        cr = cr.reshape(hh // v, v, vv // h, h).mean(axis=(1, 3))
    return [y, cb, cr], [y_sampling, (1, 1), (1, 1)]


# ------------------------- progressive encoder ------------------------
#
# Fixture-grade SOF2 writer implementing the standard scan-script
# machinery the decoder must invert: DC first scan with point transform
# Al, one-bit DC refinement scans, per-component AC spectral-selection
# scans with cross-block EOB runs, and AC successive-approximation
# refinement scans (the correction-bit algorithm of T.81 Annex G /
# libjpeg jcphuff). Tokens are generated once per scan — symbol stream
# first, canonical table from it, then bits — so table choice cannot
# diverge from the walk.


def _emit_eobrun(tokens, state):
    if state["eobrun"] > 0:
        nbits = state["eobrun"].bit_length() - 1
        tokens.append(("sym", nbits << 4))
        if nbits:
            tokens.append(("bits", state["eobrun"] & ((1 << nbits) - 1), nbits))
        state["eobrun"] = 0
        for bit in state["pending"]:
            tokens.append(("bits", bit, 1))
        state["pending"] = []


def _segmented(gen, blocks, restart_interval, *args):
    """Split the block walk into restart segments: EOB runs and
    buffered correction bits cannot cross a restart, so each segment
    runs the generator with fresh state; ("rst", n) tokens mark the
    boundaries for the byte-aligned marker during rendering."""
    if not restart_interval:
        return gen(blocks, *args)
    tokens: list[tuple] = []
    rst_n = 0
    for i in range(0, len(blocks), restart_interval):
        if i:
            tokens.append(("rst", rst_n % 8))
            rst_n += 1
        tokens.extend(gen(blocks[i : i + restart_interval], *args))
    return tokens


def _ac_first_tokens(blocks, ss, se, al):
    tokens: list[tuple] = []
    state = {"eobrun": 0, "pending": []}
    for blk in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(blk[k])
            if v < 0:
                t = (-v) >> al
                t2 = ~t
            else:
                t = v >> al
                t2 = t
            if t == 0:
                r += 1
                continue
            _emit_eobrun(tokens, state)
            while r > 15:
                tokens.append(("sym", 0xF0))
                r -= 16
            s = t.bit_length()
            tokens.append(("sym", (r << 4) | s))
            tokens.append(("bits", t2 & ((1 << s) - 1), s))
            r = 0
        if r > 0:
            state["eobrun"] += 1
            if state["eobrun"] == 0x7FFF:
                _emit_eobrun(tokens, state)
    _emit_eobrun(tokens, state)
    return tokens


def _ac_refine_tokens(blocks, ss, se, ah, al):
    tokens: list[tuple] = []
    state = {"eobrun": 0, "pending": []}
    p1 = 1 << al
    for blk in blocks:
        absvals = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
        eob = ss - 1
        for i, t in enumerate(absvals):
            if t == 1:
                eob = ss + i
        r = 0
        br: list[int] = []
        for k in range(ss, se + 1):
            t = absvals[k - ss]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                _emit_eobrun(tokens, state)
                tokens.append(("sym", 0xF0))
                r -= 16
                for bit in br:
                    tokens.append(("bits", bit, 1))
                br = []
            if t > 1:
                br.append(t & 1)
                continue
            _emit_eobrun(tokens, state)
            tokens.append(("sym", (r << 4) | 1))
            tokens.append(("bits", 1 if int(blk[k]) >= 0 else 0, 1))
            for bit in br:
                tokens.append(("bits", bit, 1))
            br = []
            r = 0
        if r > 0 or br:
            state["eobrun"] += 1
            state["pending"].extend(br)
            if state["eobrun"] == 0x7FFF:
                _emit_eobrun(tokens, state)
    _emit_eobrun(tokens, state)
    return tokens


def _dc_first_tokens(comp_order, grids, al, restart_interval=0):
    tokens: list[tuple] = []
    preds = {ci: 0 for ci, _h, _v in comp_order}
    rst_n = 0
    # interleaved MCU walk
    for mcu in range(grids["n_mcus"]):
        if restart_interval and mcu and mcu % restart_interval == 0:
            tokens.append(("rst", rst_n % 8))
            rst_n += 1
            preds = {ci: 0 for ci, _h, _v in comp_order}
        my, mx = divmod(mcu, grids["mcus_x"])
        for ci, h, v in comp_order:
            for by in range(v):
                for bx in range(h):
                    blk = grids[ci][my * v + by, mx * h + bx]
                    val = int(blk[0]) >> al
                    s, bits = _magnitude(val - preds[ci])
                    preds[ci] = val
                    tokens.append(("sym", s, ci))
                    tokens.append(("bits", bits, s))
    return tokens


def _dc_refine_tokens(comp_order, grids, al, restart_interval=0):
    tokens: list[tuple] = []
    rst_n = 0
    for mcu in range(grids["n_mcus"]):
        if restart_interval and mcu and mcu % restart_interval == 0:
            tokens.append(("rst", rst_n % 8))
            rst_n += 1
        my, mx = divmod(mcu, grids["mcus_x"])
        for ci, h, v in comp_order:
            for by in range(v):
                for bx in range(h):
                    blk = grids[ci][my * v + by, mx * h + bx]
                    tokens.append(("bits", (int(blk[0]) >> al) & 1, 1))
    return tokens


def encode_progressive_jpeg(
    img: np.ndarray,
    qtable_zz: list[int] | None = None,
    y_sampling: tuple[int, int] = (1, 1),
    al_dc: int = 1,
    ac_bands: tuple[tuple[int, int], ...] = ((1, 5), (6, 63)),
    ac_al: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Spec-following progressive (SOF2) encoder for decoder tests.

    Scan script: interleaved DC first scan at point transform
    ``al_dc`` + one-bit DC refinements down to 0; per component, AC
    first scans over ``ac_bands`` at point transform ``ac_al`` + AC
    refinement scans down to 0. Same coefficient domain as the
    baseline encoder, so both encodings of an image decode
    identically."""
    qz = list(qtable_zz or [1] * 64)
    planes, samps = _color_planes(img, y_sampling)
    height, width = img.shape[0], img.shape[1]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    n_comp = len(planes)

    grids = {"n_mcus": mcus_y * mcus_x, "mcus_x": mcus_x}
    for ci, (plane, (h, v)) in enumerate(zip(planes, samps)):
        padded = _pad(plane, mcus_y * v * 8, mcus_x * h * 8)
        grid = np.zeros((mcus_y * v, mcus_x * h, 64), dtype=np.int64)
        for gy in range(mcus_y * v):
            for gx in range(mcus_x * h):
                fb = _fdct(padded[gy * 8 : gy * 8 + 8, gx * 8 : gx * 8 + 8])
                grid[gy, gx] = [
                    round(fb.flat[ZIGZAG[k]] / qz[k]) for k in range(64)
                ]
        grids[ci] = grid

    def comp_band_blocks(ci):
        """Non-interleaved block order over the component's own grid."""
        h, v = samps[ci]
        bw = _ceil_div(_ceil_div(width * h, hmax), 8)
        bh = _ceil_div(_ceil_div(height * v, vmax), 8)
        return [grids[ci][by, bx] for by in range(bh) for bx in range(bw)]

    comp_order = [(ci, samps[ci][0], samps[ci][1]) for ci in range(n_comp)]

    # scan list: (scan_comps, ss, se, ah, al, tokens, table_kind)
    scans: list[tuple] = []
    dc_tok = _dc_first_tokens(comp_order, grids, al_dc, restart_interval)
    scans.append((list(range(n_comp)), 0, 0, 0, al_dc, dc_tok, "dc"))
    for a in range(al_dc, 0, -1):
        scans.append(
            (
                list(range(n_comp)),
                0, 0, a, a - 1,
                _dc_refine_tokens(comp_order, grids, a - 1, restart_interval),
                None,
            )
        )
    for ci in range(n_comp):
        blocks = comp_band_blocks(ci)
        for s0, s1 in ac_bands:
            scans.append(
                (
                    [ci], s0, s1, 0, ac_al,
                    _segmented(
                        _ac_first_tokens, blocks, restart_interval, s0, s1, ac_al
                    ),
                    "ac",
                )
            )
    for a in range(ac_al, 0, -1):
        for ci in range(n_comp):
            blocks = comp_band_blocks(ci)
            for s0, s1 in ac_bands:
                scans.append(
                    (
                        [ci], s0, s1, a, a - 1,
                        _segmented(
                            _ac_refine_tokens, blocks, restart_interval,
                            s0, s1, a, a - 1,
                        ),
                        "ac",
                    )
                )

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + bytes([0x00])
    out += bytes(min(255, q) for q in qz)
    sof = bytearray([8])
    sof += height.to_bytes(2, "big") + width.to_bytes(2, "big")
    sof.append(n_comp)
    for ci in range(n_comp):
        h, v = samps[ci]
        sof += bytes([ci + 1, (h << 4) | v, 0x00])
    out += b"\xff\xc2" + (2 + len(sof)).to_bytes(2, "big") + sof
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big")
        out += restart_interval.to_bytes(2, "big")

    for scan_cis, ss, se, ah, al, tokens, kind in scans:
        # per-scan DHT(s) from the token symbol stream
        tablemaps: dict[int, dict] = {}
        if kind == "dc":
            # one DC table per component class (0 for luma, 1 for chroma)
            for th in {0 if ci == 0 else 1 for ci in scan_cis}:
                syms = [
                    t[1]
                    for t in tokens
                    if t[0] == "sym" and (0 if t[2] == 0 else 1) == th
                ]
                counts, symlist, m = _canonical_codes(syms or [0])
                body = bytes([th]) + bytes(counts) + bytes(symlist)
                out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
                tablemaps[th] = m
        elif kind == "ac":
            syms = [t[1] for t in tokens if t[0] == "sym"]
            counts, symlist, m = _canonical_codes(syms or [0])
            th = 0 if scan_cis[0] == 0 else 1
            body = bytes([0x10 | th]) + bytes(counts) + bytes(symlist)
            out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
            tablemaps[th] = m

        sos = bytearray([len(scan_cis)])
        for ci in scan_cis:
            th = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (th << 4) | th])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos

        w = _BitWriter()
        for t in tokens:
            if t[0] == "sym":
                th = 0
                if kind == "dc":
                    th = 0 if t[2] == 0 else 1
                elif kind == "ac":
                    th = 0 if scan_cis[0] == 0 else 1
                ln, code = tablemaps[th][t[1]]
                w.write(code, ln)
            elif t[0] == "rst":
                w.flush()
                out += w.out
                out += bytes([0xFF, 0xD0 + t[1]])
                w = _BitWriter()
            else:
                w.write(t[1], t[2])
        w.flush()
        out += w.out
    out += b"\xff\xd9"
    return bytes(out)
