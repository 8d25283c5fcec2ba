"""Pure-Python FLAC decoder + fixture encoder — no external codec.

FLAC is the dominant lossless audio container in curated speech/music
training corpora, and unlike VP8 it needs no recovered constant
tables: everything is algorithmic per the public format spec —
MSB-first bit packing, UTF-8-style frame numbers, CRC-8/CRC-16
integrity, rice-coded residuals with partitioning, the four fixed
polynomial predictors, stream-carried LPC coefficients, and the three
stereo decorrelation modes (left/side, right/side, mid/side).

Decode scope (the full lossless stills of the format):
- STREAMINFO + skipped metadata blocks (padding, vorbis comment, ...)
- fixed and variable blocking strategies, all block-size/sample-rate/
  sample-size header codings (8..32 bit)
- subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32
- rice/rice2 residual partitions including the raw-bits escape
- wasted-bits shift, inter-channel side bit growth (+1)
- header CRC-8 and frame CRC-16 verified per frame

Correctness: no FLAC library or sample exists in this container, so
the pin is (a) byte-level roundtrips through the fixture encoder
across every subframe type / stereo mode / rice partition layout,
(b) hand-computed bit vectors for rice coding, UTF-8 numbers, and the
fixed predictors, (c) hypothesis fuzz over signals and geometries,
and (d) CRC self-checks — a misread bit anywhere breaks the CRC with
overwhelming probability, which is the property that makes a
self-describing format safe to verify by roundtrip (the lesson from
the VP8L CODE_LENGTH_ORDER bug is recorded there: roundtrip alone
cannot catch a transposed CONSTANT, but FLAC has no spec constants to
transpose — CRC polynomials are pinned by hand vectors below).
"""

from __future__ import annotations

import struct

import numpy as np

from rta_registrations_pyspark_glue_spark.operators.bitio import (
    MsbReader,
    MsbWriter,
    Truncated,
    crc8,
    crc16,
)


class FlacError(ValueError):
    pass


# ----------------------------------------------------------- decoder

_BLOCKSIZE_CODES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}
_RATE_CODES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
               6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
               11: 96000}
_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _read_utf8_number(br: MsbReader) -> int:
    """FLAC's UTF-8-style variable-length frame/sample number (up to
    7 bytes / 36 significant bits)."""
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n == 0 or n > 6:
        raise FlacError("bad UTF-8 coded number")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = br.read(8)
        if c >> 6 != 0b10:
            raise FlacError("bad UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _read_residual(br: MsbReader, blocksize: int, pred_order: int):
    method = br.read(2)
    if method > 1:
        raise FlacError(f"reserved residual method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    po = br.read(4)
    nparts = 1 << po
    if blocksize % nparts or (blocksize >> po) <= pred_order:
        raise FlacError("bad rice partition order")
    out = []
    for p in range(nparts):
        n = (blocksize >> po) - (pred_order if p == 0 else 0)
        param = br.read(plen)
        if param == escape:
            raw = br.read(5)
            for _ in range(n):
                out.append(br.read_signed(raw) if raw else 0)
        else:
            for _ in range(n):
                q = br.unary()
                r = br.read(param) if param else 0
                v = (q << param) | r
                out.append((v >> 1) ^ -(v & 1))
    return out


def _read_subframe(br: MsbReader, blocksize: int, bps: int):
    if br.read(1):
        raise FlacError("subframe pad bit set")
    t = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.unary() + 1
    eff = bps - wasted
    if t == 0:  # constant
        v = br.read_signed(eff)
        samples = [v] * blocksize
    elif t == 1:  # verbatim
        samples = [br.read_signed(eff) for _ in range(blocksize)]
    elif 8 <= t <= 12:  # fixed, order t-8
        order = t - 8
        samples = [br.read_signed(eff) for _ in range(order)]
        resid = _read_residual(br, blocksize, order)
        coefs = _FIXED_COEFS[order]
        for r in resid:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append(r + pred)
    elif t >= 32:  # LPC, order (t & 31) + 1
        order = (t & 31) + 1
        samples = [br.read_signed(eff) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise FlacError("invalid LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise FlacError("negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        resid = _read_residual(br, blocksize, order)
        for r in resid:
            acc = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append(r + (acc >> shift))
    else:
        raise FlacError(f"reserved subframe type {t}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(content: bytes) -> tuple[np.ndarray, int]:
    """Decode a FLAC stream to (frames int32 array of shape
    (n_samples, channels), sample_rate). Verifies every frame's
    header CRC-8 and footer CRC-16. Malformed input raises FlacError."""
    try:
        return _decode_flac(content)
    except Truncated as e:
        raise FlacError(str(e)) from None


def _decode_flac(content: bytes) -> tuple[np.ndarray, int]:
    if content[:4] != b"fLaC":
        raise FlacError("not a FLAC stream (no fLaC marker)")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(content):
            raise FlacError("metadata truncated")
        hdr = content[pos]
        last = hdr >> 7
        btype = hdr & 0x7F
        (size,) = struct.unpack(">I", b"\x00" + content[pos + 1:pos + 4])
        if pos + 4 + size > len(content):
            raise FlacError("metadata truncated")
        body = content[pos + 4:pos + 4 + size]
        if btype == 0:
            if size < 34:
                raise FlacError("STREAMINFO too short")
            sr_ch_bps = int.from_bytes(body[10:14], "big")
            info = {
                "sample_rate": sr_ch_bps >> 12,
                "channels": ((sr_ch_bps >> 9) & 7) + 1,
                "bps": ((sr_ch_bps >> 4) & 0x1F) + 1,
                "total": ((sr_ch_bps & 0xF) << 32)
                | int.from_bytes(body[14:18], "big"),
            }
        pos += 4 + size
        if last:
            break
    if info is None:
        raise FlacError("missing STREAMINFO")

    channels_out: list[list[int]] = [[] for _ in range(info["channels"])]
    total = 0
    # ONE reader for the whole stream, repositioned per frame by
    # assigning the byte-aligned `pos`; each read() slices only the bytes
    # it spans, so seeking costs nothing.
    br = MsbReader(content, pos)
    while pos < len(content):
        frame_start = pos
        br.pos = pos
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise FlacError("lost frame sync")
        if br.read(1):
            raise FlacError("frame reserved bit set")
        br.read(1)  # blocking strategy (the coded number spans both)
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise FlacError("frame reserved bit 2 set")
        _read_utf8_number(br)
        if bs_code == 0:
            raise FlacError("reserved block size code")
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _BLOCKSIZE_CODES[bs_code]
        if sr_code == 0:
            rate = info["sample_rate"]
        elif sr_code == 12:
            rate = br.read(8) * 1000
        elif sr_code == 13:
            rate = br.read(16)
        elif sr_code == 14:
            rate = br.read(16) * 10
        elif sr_code == 15:
            raise FlacError("invalid sample rate code")
        else:
            rate = _RATE_CODES[sr_code]
        bps = info["bps"] if ss_code == 0 else _SIZE_CODES.get(ss_code)
        if bps is None:
            raise FlacError("reserved sample size code")
        br.align()
        if crc8(content[frame_start:br.pos]) != br.read(8):
            raise FlacError("frame header CRC-8 mismatch")

        if ch_code < 8:
            nch = ch_code + 1
            if nch != info["channels"]:
                raise FlacError("channel count mismatch")
            chans = [_read_subframe(br, blocksize, bps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            if info["channels"] != 2:
                raise FlacError("stereo decorrelation in non-stereo stream")
            if ch_code == 8:  # left/side
                left = _read_subframe(br, blocksize, bps)
                side = _read_subframe(br, blocksize, bps + 1)
                chans = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:  # right/side
                side = _read_subframe(br, blocksize, bps + 1)
                right = _read_subframe(br, blocksize, bps)
                chans = [[r + s for r, s in zip(right, side)], right]
            else:  # mid/side
                mid = _read_subframe(br, blocksize, bps)
                side = _read_subframe(br, blocksize, bps + 1)
                left, right = [], []
                for m, s in zip(mid, side):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
                chans = [left, right]
        else:
            raise FlacError(f"reserved channel assignment {ch_code}")

        br.align()
        if br.pos + 2 > len(content):
            raise FlacError("truncated frame CRC")
        fcrc = (content[br.pos] << 8) | content[br.pos + 1]
        if crc16(content[frame_start:br.pos]) != fcrc:
            raise FlacError("frame CRC-16 mismatch")
        br.pos += 2
        pos = br.pos
        for i, ch in enumerate(chans):
            channels_out[i].extend(ch)
        total += blocksize
        if info["total"] and total >= info["total"]:
            break
    if total < info["total"]:
        raise FlacError("stream truncated before its STREAMINFO sample count")

    n = info["total"] or total
    frames = np.array(channels_out, dtype=np.int64).T[:n]
    return frames.astype(np.int32), info["sample_rate"]


# ---------------------------------------------------- fixture encoder


def _write_utf8_number(bw: MsbWriter, v: int):
    if v < 0x80:
        bw.write(v, 8)
        return
    # count needed continuation bytes
    for n in range(1, 7):
        if v < (1 << (6 * n + (6 - n))):
            break
    lead = (0xFF00 >> n) & 0xFF  # n+1 leading ones... build explicitly
    lead = ((1 << (n + 1)) - 1) << (7 - n)
    bw.write(lead | (v >> (6 * n)), 8)
    for i in range(n - 1, -1, -1):
        bw.write(0b10 << 6 | ((v >> (6 * i)) & 0x3F), 8)


def _write_residual(bw: MsbWriter, resid: list[int], pred_order: int,
                    blocksize: int, param: int, partition_order: int = 0,
                    escape_raw: int | None = None):
    bw.write(0, 2)  # rice method 0 (4-bit params)
    bw.write(partition_order, 4)
    nparts = 1 << partition_order
    idx = 0
    for p in range(nparts):
        n = (blocksize >> partition_order) - (pred_order if p == 0 else 0)
        if escape_raw is not None and p == nparts - 1:
            bw.write(0xF, 4)
            bw.write(escape_raw, 5)
            for v in resid[idx:idx + n]:
                bw.write(v & ((1 << escape_raw) - 1), escape_raw)
        else:
            bw.write(param, 4)
            for v in resid[idx:idx + n]:
                u = ((-v) << 1) - 1 if v < 0 else (v << 1)  # zigzag
                bw.write_unary(u >> param)
                if param:
                    bw.write(u & ((1 << param) - 1), param)
        idx += n


def _write_subframe(bw: MsbWriter, samples: list[int], bps: int,
                    mode: str, rice_param: int = 4,
                    partition_order: int = 0,
                    lpc: tuple[list[int], int, int] | None = None,
                    wasted: int = 0):
    bw.write(0, 1)
    eff = bps - wasted
    if wasted:
        vals = [s >> wasted for s in samples]
    else:
        vals = samples
    if mode == "constant":
        bw.write(0, 6)
        bw.write(1 if wasted else 0, 1)
        if wasted:
            bw.write_unary(wasted - 1)
        bw.write(vals[0], eff)
        return
    if mode == "verbatim":
        bw.write(1, 6)
        bw.write(1 if wasted else 0, 1)
        if wasted:
            bw.write_unary(wasted - 1)
        for v in vals:
            bw.write(v, eff)
        return
    if mode.startswith("fixed"):
        order = int(mode[5:])
        bw.write(8 + order, 6)
        bw.write(1 if wasted else 0, 1)
        if wasted:
            bw.write_unary(wasted - 1)
        for v in vals[:order]:
            bw.write(v, eff)
        coefs = _FIXED_COEFS[order]
        resid = [
            vals[i] - sum(c * vals[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, len(vals))
        ]
        _write_residual(bw, resid, order, len(vals), rice_param,
                        partition_order)
        return
    if mode == "lpc":
        coefs, shift, precision = lpc
        order = len(coefs)
        bw.write(32 + order - 1, 6)
        bw.write(1 if wasted else 0, 1)
        if wasted:
            bw.write_unary(wasted - 1)
        for v in vals[:order]:
            bw.write(v, eff)
        bw.write(precision - 1, 4)
        bw.write(shift, 5)
        for c in coefs:
            bw.write(c, precision)
        resid = [
            vals[i]
            - (sum(c * vals[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
            for i in range(order, len(vals))
        ]
        _write_residual(bw, resid, order, len(vals), rice_param,
                        partition_order)
        return
    raise ValueError(mode)


def encode_flac(frames: np.ndarray, rate: int, bps: int = 16,
                blocksize: int = 256, mode: str = "fixed2",
                stereo: str = "independent", rice_param: int = 4,
                partition_order: int = 0,
                lpc: tuple[list[int], int, int] | None = None,
                wasted: int = 0) -> bytes:
    """Fixture FLAC encoder: (n, channels) int array -> spec-valid
    stream using the requested subframe ``mode`` (constant / verbatim
    / fixed0..4 / lpc) and ``stereo`` decorrelation (independent /
    left_side / right_side / mid_side). Compression is irrelevant;
    bitstream validity (CRCs included) is the contract."""
    frames = np.asarray(frames, dtype=np.int64)
    n, nch = frames.shape
    out = bytearray(b"fLaC")
    # STREAMINFO (last metadata block)
    si = bytearray()
    si += struct.pack(">H", blocksize)
    si += struct.pack(">H", blocksize)
    si += b"\x00\x00\x00" * 2  # min/max frame size unknown
    sr_ch_bps = (rate << 12) | ((nch - 1) << 9) | ((bps - 1) << 4)
    si += struct.pack(">I", sr_ch_bps | (n >> 32))
    si += struct.pack(">I", n & 0xFFFFFFFF)
    si += b"\x00" * 16  # md5 unset
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si

    frame_no = 0
    for start in range(0, n, blocksize):
        block = frames[start:start + blocksize]
        bs = block.shape[0]
        bw = MsbWriter()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)
        bw.write(0, 1)  # fixed blocking strategy
        bw.write(7, 4)  # 16-bit blocksize-1 follows
        bw.write(0, 4)  # rate from STREAMINFO
        ch_map = {"independent": nch - 1, "left_side": 8,
                  "right_side": 9, "mid_side": 10}
        bw.write(ch_map[stereo], 4)
        bw.write(0, 3)  # size from STREAMINFO
        bw.write(0, 1)
        _write_utf8_number(bw, frame_no)
        bw.write(bs - 1, 16)
        bw.align()
        hdr = bw.out[:]
        bw.write(crc8(bytes(hdr)), 8)

        def sub(vals, b):
            _write_subframe(bw, [int(v) for v in vals], b, mode,
                            rice_param, partition_order, lpc, wasted)

        if stereo == "independent":
            for c in range(nch):
                sub(block[:, c], bps)
        elif stereo == "left_side":
            sub(block[:, 0], bps)
            sub(block[:, 0] - block[:, 1], bps + 1)
        elif stereo == "right_side":
            sub(block[:, 0] - block[:, 1], bps + 1)
            sub(block[:, 1], bps)
        else:  # mid_side
            sub((block[:, 0] + block[:, 1]) >> 1, bps)
            sub(block[:, 0] - block[:, 1], bps + 1)
        bw.align()
        body = bw.bytes()
        out += body + struct.pack(">H", crc16(body))
        frame_no += 1
    return bytes(out)
