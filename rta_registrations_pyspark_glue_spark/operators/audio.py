"""Pure-Python/numpy WAV (RIFF) audio decode — no external codec.

Makes the audio leg of the multimodal story REAL, the same move the
image leg made with PPM/BMP/JPEG/PNG: a corpus's ``binary`` audio
column decodes to numpy sample arrays executor-side with zero native
dependencies. The WAV container and its standard uncompressed codecs
are pure parsing (public format: RIFF/WAVE, Microsoft multimedia
standards; G.711 §µ-law/A-law are public ITU tables):

- RIFF chunk walk (even-byte padding honoured, unknown chunks
  skipped), ``fmt `` + ``data`` required;
- PCM (format 1): 8-bit unsigned, 16/24/32-bit little-endian signed;
- IEEE float (format 3): float32/float64;
- G.711 µ-law (format 7) and A-law (format 6): table-free bit
  expansion to 16-bit PCM per the ITU definitions;
- IMA/DVI ADPCM (format 0x11, r8): block-structured 4-bit nibbles,
  standard 89-entry step table with the shift-add difference form
  real WAV decoders use (NOT audioop's multiply form — the two differ
  in the low bits, and files in the wild are written against the
  shift-add one);
- WAVE_FORMAT_EXTENSIBLE (0xFFFE): sub-format GUID unwrapped, then
  routed as above.

- MS ADPCM (format 0x02, r9): block-structured 4-bit nibbles over a
  two-tap linear predictor — per-block coefficient-pair index, initial
  delta and the two seed samples in the header, the public 16-entry
  adaptation table, coefficient pairs read from the fmt extension when
  declared (standard 7-pair table otherwise).

Remaining compressed codecs (MP3-in-WAV, …) raise
NotImplementedError — the same plug-in boundary contract as
decode_image; malformed/truncated payloads raise ValueError.

Scale note: decode runs inside Arrow-batched ``mapInPandas``
(decode_audio_features) — bounded by the Arrow batch size, parallel
by partition, all sample math vectorized numpy.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.legs import decode_leg, synth_leg


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """bytes → (samples, sample_rate).

    ``samples`` is (n_frames, channels): int32 for integer codecs
    (8-bit unsigned is re-centred to signed, µ/A-law expand to their
    16-bit PCM values), float64 for IEEE-float payloads. Raises
    ValueError for malformed payloads, NotImplementedError for
    compressed codecs."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    if len(content) < 12:
        raise ValueError("truncated WAV header")
    fmt = None
    data = None
    fact_frames = None
    pos = 12
    n = len(content)
    while pos + 8 <= n:
        ctag = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated WAV chunk {ctag!r}")
        if ctag == b"fmt ":
            fmt = body
        elif ctag == b"data":
            data = body
        elif ctag == b"fact" and size >= 4:
            # total sample frames — how compressed codecs communicate
            # that the last block is padded
            (fact_frames,) = struct.unpack_from("<I", body, 0)
        pos += 8 + size + (size & 1)  # RIFF pads chunks to even length
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("short fmt chunk")
    audio_format, channels, rate, _brate, block_align, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if channels == 0 or rate == 0:
        raise ValueError("bad WAV fmt (zero channels or rate)")
    if audio_format == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE
        if len(fmt) < 40:
            raise ValueError("short extensible fmt chunk")
        (audio_format,) = struct.unpack_from("<H", fmt, 24)  # GUID lead bytes

    if audio_format == 1:  # PCM
        samples = _decode_pcm(data, bits)
    elif audio_format == 3:  # IEEE float
        if bits == 32:
            samples = np.frombuffer(
                data[: len(data) // 4 * 4], dtype="<f4"
            ).astype(np.float64)
        elif bits == 64:
            samples = np.frombuffer(data[: len(data) // 8 * 8], dtype="<f8").astype(
                np.float64
            )
        else:
            raise ValueError(f"bad IEEE-float bit depth {bits}")
    elif audio_format == 7:  # G.711 mu-law
        samples = _mulaw_expand(np.frombuffer(data, dtype=np.uint8))
    elif audio_format == 6:  # G.711 A-law
        samples = _alaw_expand(np.frombuffer(data, dtype=np.uint8))
    elif audio_format == 0x11:  # IMA/DVI ADPCM
        if bits != 4:
            raise ValueError(f"IMA ADPCM needs 4-bit samples (got {bits})")
        # wSamplesPerBlock rides in the fmt extension when present;
        # otherwise it follows from the block layout: 4 header bytes
        # per channel, then 2 samples per data byte per channel, +1
        # for the header's verbatim predictor sample. The extension is
        # only trusted when cbSize (fmt offset 16) declares >= 2 bytes —
        # a fmt chunk padded past 16 bytes with cbSize=0 carries garbage
        # there.
        spb = None
        if len(fmt) >= 20:
            (cb_size,) = struct.unpack_from("<H", fmt, 16)
            if cb_size >= 2:
                (spb,) = struct.unpack_from("<H", fmt, 18)
        if not spb:
            spb = (block_align - 4 * channels) * 2 // channels + 1
        frames = _decode_ima_adpcm(data, channels, block_align, spb)
        if fact_frames is not None:
            frames = frames[:fact_frames]
        return frames, rate
    elif audio_format == 2:  # MS ADPCM
        if bits != 4:
            raise ValueError(f"MS ADPCM needs 4-bit samples (got {bits})")
        # fmt extension: cbSize, wSamplesPerBlock, wNumCoef, then
        # wNumCoef (int16, int16) pairs — only trusted as far as
        # cbSize declares (same rationale as the IMA cbSize guard).
        spb = None
        coefs = None
        if len(fmt) >= 20:
            (cb_size,) = struct.unpack_from("<H", fmt, 16)
            if cb_size >= 2:
                (spb,) = struct.unpack_from("<H", fmt, 18)
            if cb_size >= 4 and len(fmt) >= 22:
                (ncoef,) = struct.unpack_from("<H", fmt, 20)
                if ncoef and cb_size >= 4 + 4 * ncoef and len(fmt) >= 22 + 4 * ncoef:
                    coefs = [
                        struct.unpack_from("<hh", fmt, 22 + 4 * i)
                        for i in range(ncoef)
                    ]
        if not spb:
            # block layout: 7 header bytes/channel (uint8 pred index,
            # int16 idelta, int16 sample1, int16 sample2), then 2
            # nibbles per data byte; the 2 header samples are emitted
            spb = (block_align - 7 * channels) * 2 // channels + 2
        frames = _decode_ms_adpcm(
            data, channels, block_align, spb, coefs or _MS_ADPCM_COEFS
        )
        if fact_frames is not None:
            frames = frames[:fact_frames]
        return frames, rate
    else:
        raise NotImplementedError(
            f"compressed WAV codec (format tag {audio_format}) needs an "
            "external decoder — PCM/float/mu-law/A-law/IMA-ADPCM/MS-ADPCM "
            "decode natively"
        )
    frames = samples.reshape(-1, channels) if channels > 1 else samples[:, None]
    return frames, rate


def _decode_pcm(data: bytes, bits: int) -> np.ndarray:
    if bits == 8:  # unsigned by convention; re-centre to signed
        return np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    if bits == 16:
        usable = len(data) // 2 * 2
        return np.frombuffer(data[:usable], dtype="<i2").astype(np.int32)
    if bits == 24:
        usable = len(data) // 3 * 3
        b = np.frombuffer(data[:usable], dtype=np.uint8).reshape(-1, 3).astype(
            np.int32
        )
        vals = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        return np.where(vals >= 1 << 23, vals - (1 << 24), vals)
    if bits == 32:
        usable = len(data) // 4 * 4
        return np.frombuffer(data[:usable], dtype="<i4").astype(np.int32)
    raise ValueError(f"bad PCM bit depth {bits}")


#: IMA ADPCM step table (89 entries) and index-adjust table — public
#: IMA "Recommended Practices for Enhancing Digital Audio Compatibility"
#: tables, identical in every WAV implementation.
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_ADJUST = [-1, -1, -1, -1, 2, 4, 6, 8]

#: diff magnitude per (step index, nibble magnitude) — the shift-add
#: form of _ima_step precomputed over the whole 89×8 state space, so the
#: encoder's 16-candidate search is pure table lookups + adds (r13; the
#: per-candidate _ima_step calls were ~70% of the adpcm fixture-synth
#: leg). Kept bit-identical to _ima_step by construction and pinned by
#: the byte-equality sweep in tests/test_audio.py.
_IMA_DIFFS = [
    [
        (step >> 3)
        + ((step >> 2) if m & 1 else 0)
        + ((step >> 1) if m & 2 else 0)
        + (step if m & 4 else 0)
        for m in range(8)
    ]
    for step in _IMA_STEPS
]


def _ima_step(predictor: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM state transition (shift-add difference form)."""
    step = _IMA_STEPS[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        predictor -= diff
    else:
        predictor += diff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + _IMA_INDEX_ADJUST[nibble & 7]))
    return predictor, index


def _decode_ima_adpcm(
    data: bytes,
    channels: int,
    block_align: int,
    samples_per_block: int,
    lockstep: bool | None = None,
) -> np.ndarray:
    """IMA-WAV block layout: per block, a 4-byte header per channel
    (int16 predictor — emitted verbatim as the block's first sample —
    uint8 step index, reserved byte), then nibble data in 4-byte
    per-channel groups (low nibble first), channels interleaved group
    by group. Sequential by construction (each sample's step depends
    on the previous state), so this runs as a Python loop — fine
    inside Arrow-batched mapInPandas where parallelism comes from
    partitions, not SIMD."""
    if block_align < 4 * channels:
        raise ValueError("IMA ADPCM block_align smaller than its headers")
    # many-full-block payloads take the lock-step numpy path (bit-
    # identical, pinned by tests; ~n_blocks× less Python dispatch) —
    # the scalar loop remains the reference and the partial-tail path
    full = len(data) % block_align == 0
    if lockstep is None:
        lockstep = full and len(data) >= 8 * block_align
    if lockstep:
        if not full:
            raise ValueError("lock-step decode requires whole blocks")
        return _decode_ima_adpcm_blocks(
            data, channels, block_align, samples_per_block
        )
    out: list[list[int]] = [[] for _ in range(channels)]
    for b0 in range(0, len(data), block_align):
        block = data[b0 : b0 + block_align]
        if len(block) < 4 * channels:
            break  # trailing partial block with no full header
        preds, idxs = [], []
        for c in range(channels):
            pred, idx, _res = struct.unpack_from("<hBB", block, 4 * c)
            if idx > 88:
                raise ValueError(f"IMA ADPCM step index {idx} out of range")
            preds.append(pred)
            idxs.append(idx)
            out[c].append(pred)  # header sample
        emitted = 1
        pos = 4 * channels
        while pos < len(block) and emitted < samples_per_block:
            for c in range(channels):
                group = block[pos + 4 * c : pos + 4 * c + 4]
                for byte in group:
                    for nib in (byte & 0x0F, byte >> 4):
                        p, i = _ima_step(preds[c], idxs[c], nib)
                        preds[c], idxs[c] = p, i
                        out[c].append(p)
            pos += 4 * channels
            emitted += 8
        # trim per-block overshoot (last group may carry pad nibbles)
        want = (b0 // block_align + 1) * samples_per_block
        for c in range(channels):
            del out[c][want:]
    n = min(len(ch) for ch in out)
    return np.stack([np.array(ch[:n], dtype=np.int32) for ch in out], axis=1)


#: MS ADPCM public tables (Microsoft multimedia standards — identical
#: in every implementation): the 7 standard two-tap predictor
#: coefficient pairs (fixed-point /256) and the 16-entry delta
#: adaptation table indexed by the UNSIGNED nibble.
_MS_ADPCM_COEFS = [
    (256, 0), (512, -256), (0, 0), (192, 64),
    (240, 0), (460, -208), (392, -232),
]
_MS_ADPCM_ADAPT = [
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
]


def _ms_step(s1: int, s2: int, idelta: int, c1: int, c2: int, nibble: int):
    """One MS ADPCM state transition: two-tap predictor + signed-nibble
    scaled delta, int16 clamp, multiplicative delta adaptation with the
    floor of 16. Returns (sample, new_idelta)."""
    signed = nibble - 16 if nibble >= 8 else nibble
    pred = ((s1 * c1 + s2 * c2) >> 8) + signed * idelta
    pred = max(-32768, min(32767, pred))
    idelta = (_MS_ADPCM_ADAPT[nibble] * idelta) >> 8
    # cap: idelta has no spec ceiling and grows ×3/step on crafted
    # streams — both the scalar and lock-step paths clamp to int32
    # range so they stay bit-identical (real signals never get near it)
    return pred, min(max(16, idelta), (1 << 31) - 1)


def _decode_ms_adpcm(
    data: bytes,
    channels: int,
    block_align: int,
    samples_per_block: int,
    coefs: list[tuple[int, int]],
    lockstep: bool | None = None,
) -> np.ndarray:
    """MS-ADPCM block layout: per block, channel-interleaved header
    fields — uint8 coefficient-pair index per channel, int16 initial
    delta per channel, int16 sample1 per channel, int16 sample2 per
    channel (sample2 is the OLDER seed: output order is sample2 then
    sample1) — then nibble data, HIGH nibble first, nibbles rotating
    through channels. Sequential per block (each delta depends on the
    previous nibble), so a Python loop, same contract as the IMA
    decoder: parallelism comes from Arrow partitions."""
    if block_align < 7 * channels:
        raise ValueError("MS ADPCM block_align smaller than its headers")
    full = len(data) % block_align == 0
    if lockstep is None:
        lockstep = full and len(data) >= 8 * block_align
    if lockstep:
        if not full:
            raise ValueError("lock-step decode requires whole blocks")
        return _decode_ms_adpcm_blocks(
            data, channels, block_align, samples_per_block, coefs
        )
    out: list[list[int]] = [[] for _ in range(channels)]
    for b0 in range(0, len(data), block_align):
        block = data[b0 : b0 + block_align]
        if len(block) < 7 * channels:
            break  # trailing partial block with no full header
        preds, ideltas, s1s, s2s = [], [], [], []
        for c in range(channels):
            pidx = block[c]
            if pidx >= len(coefs):
                raise ValueError(f"MS ADPCM predictor index {pidx} out of range")
            preds.append(coefs[pidx])
        for c in range(channels):
            (d,) = struct.unpack_from("<h", block, channels + 2 * c)
            ideltas.append(max(16, d))
        for c in range(channels):
            (v,) = struct.unpack_from("<h", block, 3 * channels + 2 * c)
            s1s.append(v)
        for c in range(channels):
            (v,) = struct.unpack_from("<h", block, 5 * channels + 2 * c)
            s2s.append(v)
        for c in range(channels):
            out[c].append(s2s[c])  # older seed first
            out[c].append(s1s[c])
        emitted = 2
        ch = 0
        for byte in block[7 * channels :]:
            if emitted >= samples_per_block and ch == 0:
                break
            for nib in (byte >> 4, byte & 0x0F):
                c1, c2 = preds[ch]
                sample, ideltas[ch] = _ms_step(
                    s1s[ch], s2s[ch], ideltas[ch], c1, c2, nib
                )
                s2s[ch], s1s[ch] = s1s[ch], sample
                out[ch].append(sample)
                ch = (ch + 1) % channels
                if ch == 0:
                    emitted += 1
        # trim per-block overshoot (pad nibbles in the last data byte)
        want = (b0 // block_align + 1) * samples_per_block
        for c in range(channels):
            del out[c][want:]
    n = min(len(chn) for chn in out)
    return np.stack([np.array(chn[:n], dtype=np.int32) for chn in out], axis=1)


#: numpy views of the IMA tables for the lock-step decoder
_IMA_STEPS_NP = None
_IMA_ADJ_NP = None


def _ima_tables_np():
    global _IMA_STEPS_NP, _IMA_ADJ_NP
    if _IMA_STEPS_NP is None:
        _IMA_STEPS_NP = np.asarray(_IMA_STEPS, dtype=np.int64)
        _IMA_ADJ_NP = np.asarray(_IMA_INDEX_ADJUST, dtype=np.int64)
    return _IMA_STEPS_NP, _IMA_ADJ_NP


def _decode_ima_adpcm_blocks(
    data: bytes, channels: int, block_align: int, samples_per_block: int
) -> np.ndarray:
    """Lock-step numpy decode of the FULL blocks in ``data`` — the
    per-sample state machine is inherently sequential, but every BLOCK
    (and channel) is independent by design, so all of them advance
    together: one table-lookup/arithmetic pass per nibble position over
    an (n_blocks, channels) state array instead of a Python loop over
    every nibble. Bit-identical to _decode_ima_adpcm by construction
    (same shift-add difference form, same clamps, same trim — pinned by
    tests), ~n_blocks× less Python dispatch: the 100 TB shape is many
    2041-sample blocks per file, exactly where the scalar loop was the
    bottleneck. Returns (n_blocks·samples_per_block, channels) int32."""
    ch = channels
    nb = len(data) // block_align
    arr = np.frombuffer(data[: nb * block_align], np.uint8).reshape(
        nb, block_align
    )
    hdr = arr[:, : 4 * ch].reshape(nb, ch, 4).astype(np.int64)
    preds = hdr[:, :, 0] | (hdr[:, :, 1] << 8)
    preds = np.where(preds >= 1 << 15, preds - (1 << 16), preds)
    idxs = hdr[:, :, 2]
    if (idxs > 88).any():
        raise ValueError(
            f"IMA ADPCM step index {int(idxs.max())} out of range"
        )
    body = arr[:, 4 * ch :]
    ngroups = body.shape[1] // (4 * ch)
    # the scalar loop consumes groups only while emitted < spb
    gneed = (
        min(ngroups, (samples_per_block - 1 + 7) // 8)
        if samples_per_block > 1
        else 0
    )
    grp = body[:, : gneed * 4 * ch].reshape(nb, gneed, ch, 4)
    nibs = np.empty((nb, gneed, ch, 4, 2), np.int64)
    nibs[..., 0] = grp & 0x0F
    nibs[..., 1] = grp >> 4
    # (nb, ch, steps): per channel, groups in order, low nibble first
    nibs = nibs.transpose(0, 2, 1, 3, 4).reshape(nb, ch, gneed * 8)
    steps_tab, adj_tab = _ima_tables_np()
    n_steps = nibs.shape[2]
    out = np.empty((nb, ch, 1 + n_steps), np.int64)
    out[:, :, 0] = preds
    for t in range(n_steps):
        n = nibs[:, :, t]
        step = steps_tab[idxs]
        diff = (
            (step >> 3)
            + (n & 1) * (step >> 2)
            + ((n >> 1) & 1) * (step >> 1)
            + ((n >> 2) & 1) * step
        )
        preds = np.where((n & 8) != 0, preds - diff, preds + diff)
        np.clip(preds, -32768, 32767, out=preds)
        idxs = np.clip(idxs + adj_tab[n & 7], 0, 88)
        out[:, :, t + 1] = preds
    want = min(samples_per_block, 1 + n_steps)
    return (
        out[:, :, :want].transpose(0, 2, 1).reshape(-1, ch).astype(np.int32)
    )


def _decode_ms_adpcm_blocks(
    data: bytes,
    channels: int,
    block_align: int,
    samples_per_block: int,
    coefs: list[tuple[int, int]],
) -> np.ndarray:
    """Lock-step numpy decode of FULL MS-ADPCM blocks — the blockwise
    twin of _decode_ima_adpcm_blocks (same rationale, same bit-identity
    contract against _decode_ms_adpcm, pinned by tests). idelta grows
    multiplicatively (×768/256 per step) with no spec cap; both paths
    clamp it to int32 range so the vector int64 math can never silently
    wrap where the scalar bigint would keep growing (reachable only by
    crafted streams — real encoders keep idelta near signal scale)."""
    ch = channels
    nb = len(data) // block_align
    arr = np.frombuffer(data[: nb * block_align], np.uint8).reshape(
        nb, block_align
    )
    pidx = arr[:, :ch].astype(np.int64)
    if (pidx >= len(coefs)).any():
        raise ValueError(
            f"MS ADPCM predictor index {int(pidx.max())} out of range"
        )

    def i16(col0: int) -> np.ndarray:
        raw = arr[:, col0 : col0 + 2 * ch].reshape(nb, ch, 2).astype(np.int64)
        v = raw[:, :, 0] | (raw[:, :, 1] << 8)
        return np.where(v >= 1 << 15, v - (1 << 16), v)

    ideltas = np.maximum(16, i16(ch))
    s1s = i16(3 * ch)
    s2s = i16(5 * ch)
    coef_arr = np.asarray(coefs, dtype=np.int64)
    c1 = coef_arr[pidx, 0]
    c2 = coef_arr[pidx, 1]
    adapt_tab = np.asarray(_MS_ADPCM_ADAPT, dtype=np.int64)

    body = arr[:, 7 * ch :]
    nibs = np.empty((nb, body.shape[1], 2), np.int64)
    nibs[:, :, 0] = body >> 4  # HIGH nibble first
    nibs[:, :, 1] = body & 0x0F
    nibs = nibs.reshape(nb, -1)
    n_steps = nibs.shape[1] // ch
    out = np.empty((nb, ch, 2 + n_steps), np.int64)
    out[:, :, 0] = s2s  # older seed first
    out[:, :, 1] = s1s
    for t in range(n_steps):
        n = nibs[:, t * ch : (t + 1) * ch]
        signed = np.where(n >= 8, n - 16, n)
        pred = ((s1s * c1 + s2s * c2) >> 8) + signed * ideltas
        np.clip(pred, -32768, 32767, out=pred)
        ideltas = np.maximum(16, (adapt_tab[n] * ideltas) >> 8)
        np.minimum(ideltas, (1 << 31) - 1, out=ideltas)
        s2s, s1s = s1s, pred
        out[:, :, t + 2] = pred
    want = min(samples_per_block, 2 + n_steps)
    return (
        out[:, :, :want].transpose(0, 2, 1).reshape(-1, ch).astype(np.int32)
    )


def encode_ms_adpcm_wav(
    frames: np.ndarray, rate: int, samples_per_block: int = 500
) -> bytes:
    """Fixture-grade MS ADPCM WAV writer (format tag 0x02): per block,
    try every standard coefficient pair with the greedy
    closest-reconstruction nibble choice and keep the pair with the
    lowest total error (ties break to the LOWEST pair index, so a
    constant signal deterministically picks pair 0 — whose (256, 0)
    taps make the all-zero-nibble path EXACT, the property the gate's
    analytic oracle rows lean on). Runs the SAME state machine as the
    decoder. Writes the full fmt extension (wSamplesPerBlock, wNumCoef,
    the 7 standard pairs) and a fact chunk with the true frame count."""
    frames = np.asarray(frames)
    if frames.ndim == 1:
        frames = frames[:, None]
    n, channels = frames.shape
    per_block = samples_per_block
    if per_block < 2:
        raise ValueError("MS ADPCM needs >= 2 samples per block")
    data_bytes_per_ch = (per_block - 2 + 1) // 2
    # channel-rotating nibble stream: total data bytes per block
    data_bytes = (per_block - 2) * channels // 2 + (
        ((per_block - 2) * channels) % 2
    )
    block_align = 7 * channels + data_bytes
    del data_bytes_per_ch
    blocks = bytearray()
    for b0 in range(0, n, per_block):
        chunk = frames[b0 : b0 + per_block]

        def encode_with_pair(pidx: int):
            c1, c2 = _MS_ADPCM_COEFS[pidx]
            nibbles: list[int] = []
            err = 0
            s2 = [int(chunk[0, c]) for c in range(channels)]
            s1 = [
                int(chunk[min(1, len(chunk) - 1), c]) for c in range(channels)
            ]
            # initial delta: a rough scale estimate, floored at 16 —
            # any positive int16 is valid (it is stored per block)
            if len(chunk) > 2:
                diffs = np.abs(np.diff(chunk.astype(np.int64), axis=0))
                d0 = int(diffs.mean() // 4) if diffs.size else 16
            else:
                d0 = 16
            d0 = max(16, min(32767, d0))
            idelta = [d0] * channels
            init = (list(s2), list(s1), d0)
            ch = 0
            # nibble t belongs to channel t % channels at sample index
            # 2 + t // channels — the decoder's exact rotation
            total = (per_block - 2) * channels
            # Inlined candidate search (r13, bit-identical to the
            # _ms_step form — pinned by the byte-equality sweep in
            # tests/test_audio.py): the two-tap base prediction does not
            # depend on the nibble, so hoist it and evaluate the 16
            # candidates as base + signed·idelta with the same
            # strict-less/first-min tie rule; idelta adapts only for the
            # CHOSEN nibble. This removes 16 function calls per sample
            # (the encoder was ~80% of the msadpcm fixture-synth leg).
            adapt = _MS_ADPCM_ADAPT
            for t in range(total):
                c = ch
                target = (
                    int(chunk[2 + t // channels, c])
                    if 2 + t // channels < len(chunk)
                    else s1[c]
                )
                base = (s1[c] * c1 + s2[c] * c2) >> 8
                d = idelta[c]
                best, best_err, best_smp = 0, None, None
                for nib in range(16):
                    smp = base + (nib - 16 if nib >= 8 else nib) * d
                    if smp < -32768:
                        smp = -32768
                    elif smp > 32767:
                        smp = 32767
                    e = smp - target
                    if e < 0:
                        e = -e
                    if best_err is None or e < best_err:
                        best, best_err, best_smp = nib, e, smp
                nibbles.append(best)
                err += best_err
                s2[c], s1[c] = s1[c], best_smp
                nd = (adapt[best] * d) >> 8
                # same floor-16 / int32-cap clamps as _ms_step
                idelta[c] = (
                    16 if nd < 16 else (nd if nd < 0x80000000 else 0x7FFFFFFF)
                )
                ch = (ch + 1) % channels
            return err, nibbles, init

        results = [encode_with_pair(p) for p in range(len(_MS_ADPCM_COEFS))]
        errs = [r[0] for r in results]
        pidx = errs.index(min(errs))  # ties -> lowest index
        _err, nibbles, (s2, s1, d0) = results[pidx]
        block = bytearray()
        block += bytes([pidx] * channels)
        for c in range(channels):
            block += struct.pack("<h", d0)
        for c in range(channels):
            block += struct.pack("<h", s1[c])
        for c in range(channels):
            block += struct.pack("<h", s2[c])
        ns = nibbles + [0] * (2 * data_bytes - len(nibbles))
        for i in range(0, len(ns), 2):
            block.append((ns[i] << 4) | ns[i + 1])  # HIGH nibble first
        blocks += block
    fmt = struct.pack(
        "<HHIIHHHHH",
        0x02,
        channels,
        rate,
        rate * block_align // per_block,
        block_align,
        4,
        4 + 4 * len(_MS_ADPCM_COEFS),  # cbSize
        per_block,
        len(_MS_ADPCM_COEFS),
    )
    for c1, c2 in _MS_ADPCM_COEFS:
        fmt += struct.pack("<hh", c1, c2)
    riff = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    riff += b"fact" + struct.pack("<II", 4, n)
    riff += b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def encode_ima_adpcm_wav(
    frames: np.ndarray, rate: int, samples_per_block: int = 505
) -> bytes:
    """Fixture-grade IMA ADPCM WAV writer (format tag 0x11): the
    standard greedy compressor — pick the nibble whose shift-add
    reconstruction lands closest, run the SAME state machine as the
    decoder. Lossy by design; tests assert SNR, not equality, except
    for the all-zero-nibble constant case which is exact."""
    frames = np.asarray(frames)
    if frames.ndim == 1:
        frames = frames[:, None]
    n, channels = frames.shape
    per_block = samples_per_block
    data_bytes_per_ch = (per_block - 1 + 7) // 8 * 4
    block_align = 4 * channels + data_bytes_per_ch * channels
    blocks = bytearray()
    for b0 in range(0, n, per_block):
        chunk = frames[b0 : b0 + per_block]
        headers = bytearray()
        payload = [bytearray() for _ in range(channels)]
        states = []
        for c in range(channels):
            pred = int(chunk[0, c])
            headers += struct.pack("<hBB", pred, 0, 0)
            states.append((pred, 0))
        nibbles: list[list[int]] = [[] for _ in range(channels)]
        # Inlined candidate search over the precomputed _IMA_DIFFS table
        # (r13, bit-identical to the _ima_step form — same candidate
        # order 0..15 and strict-less/first-min tie rule; pinned by the
        # byte-equality sweep in tests/test_audio.py).
        for s in range(1, per_block):
            for c in range(channels):
                pred, idx = states[c]
                target = int(chunk[s, c]) if s < len(chunk) else pred
                diffs = _IMA_DIFFS[idx]
                best, best_err, best_p = 0, None, None
                for nib in range(16):
                    p2 = pred - diffs[nib - 8] if nib >= 8 else pred + diffs[nib]
                    if p2 < -32768:
                        p2 = -32768
                    elif p2 > 32767:
                        p2 = 32767
                    err = p2 - target
                    if err < 0:
                        err = -err
                    if best_err is None or err < best_err:
                        best, best_err, best_p = nib, err, p2
                nidx = idx + _IMA_INDEX_ADJUST[best & 7]
                states[c] = (
                    best_p,
                    0 if nidx < 0 else (88 if nidx > 88 else nidx),
                )
                nibbles[c].append(best)
        for c in range(channels):
            ns = nibbles[c] + [0] * (data_bytes_per_ch * 2 - len(nibbles[c]))
            for i in range(0, len(ns), 2):
                payload[c].append(ns[i] | (ns[i + 1] << 4))
        block = bytearray(headers)
        for off in range(0, data_bytes_per_ch, 4):
            for c in range(channels):
                block += payload[c][off : off + 4]
        blocks += block
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        channels,
        rate,
        rate * block_align // per_block,
        block_align,
        4,
        2,  # cbSize
        per_block,
    )
    riff = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    riff += b"fact" + struct.pack("<II", 4, n)  # true frame count
    riff += b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _mulaw_expand(u: np.ndarray) -> np.ndarray:
    """ITU G.711 µ-law byte → 16-bit linear PCM (vectorized)."""
    u = (~u) & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    magnitude = ((mantissa.astype(np.int32) << 3) + 0x84) << exponent
    magnitude -= 0x84
    return np.where(sign != 0, -magnitude, magnitude).astype(np.int32)


def _alaw_expand(a: np.ndarray) -> np.ndarray:
    """ITU G.711 A-law byte → 16-bit linear PCM (vectorized)."""
    a = a ^ 0x55
    sign = a & 0x80
    exponent = (a >> 4) & 0x07
    mantissa = (a & 0x0F).astype(np.int32)
    magnitude = np.where(
        exponent == 0,
        (mantissa << 4) + 8,
        ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0),
    )
    # A-law sign convention is inverted vs µ-law: bit 7 SET = positive
    return np.where(sign != 0, magnitude, -magnitude).astype(np.int32)


def encode_wav(
    samples: np.ndarray,
    rate: int,
    *,
    bits: int = 16,
    audio_format: int = 1,
) -> bytes:
    """Fixture-grade WAV writer for decoder tests and the oracle
    fixtures: PCM 8/16/24/32, IEEE float32/64, µ-law/A-law raw bytes
    (callers pass the already-companded byte stream for formats 6/7)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    channels = samples.shape[1]
    flat = samples.reshape(-1)
    if audio_format == 1:
        if bits == 8:
            payload = (flat + 128).astype(np.uint8).tobytes()
        elif bits == 16:
            payload = flat.astype("<i2").tobytes()
        elif bits == 24:
            v = flat.astype(np.int32)
            v = np.where(v < 0, v + (1 << 24), v)
            b = np.empty((len(v), 3), dtype=np.uint8)
            b[:, 0] = v & 0xFF
            b[:, 1] = (v >> 8) & 0xFF
            b[:, 2] = (v >> 16) & 0xFF
            payload = b.tobytes()
        elif bits == 32:
            payload = flat.astype("<i4").tobytes()
        else:
            raise ValueError(f"bad PCM bit depth {bits}")
    elif audio_format == 3:
        payload = flat.astype("<f4" if bits == 32 else "<f8").tobytes()
    elif audio_format in (6, 7):
        payload = flat.astype(np.uint8).tobytes()
        bits = 8
    else:
        raise ValueError(f"unsupported encoder format {audio_format}")
    balign = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", audio_format, channels, rate, rate * balign, balign, bits
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def resample_linear(samples: np.ndarray, rate: int, target_rate: int) -> np.ndarray:
    """Linear-interpolation resample of an (n, channels) sample array —
    the cheap, dependency-free baseline (a real pipeline would plug a
    polyphase filter into this exact signature). Vectorized numpy;
    output length = round(n * target/rate)."""
    n = samples.shape[0]
    if n == 0 or rate == target_rate:
        return samples.astype(np.float64)
    out_n = max(1, int(round(n * target_rate / rate)))
    x_new = np.arange(out_n, dtype=np.float64) * (n - 1) / max(1, out_n - 1)
    i0 = np.clip(np.floor(x_new).astype(np.int64), 0, n - 1)
    i1 = np.clip(i0 + 1, 0, n - 1)
    frac = (x_new - i0)[:, None]
    s = samples.astype(np.float64)
    return s[i0] * (1 - frac) + s[i1] * frac


AUDIO_SCHEMA = (
    "doc_id bigint, n_samples bigint, sample_rate int, channels int, "
    "sample_sum bigint, sum_sq bigint, n_clipped bigint, decode_ok boolean"
)

#: |sample| at or above this counts as clipped (16-bit full scale
#: minus a small guard band — the standard loudness-damage heuristic)
CLIP_THRESHOLD = 32700


def synthesize_wav_docs(docs: DataFrame, n: int = 64) -> DataFrame:
    """(doc_id, content): a deterministic 16-bit mono PCM WAV per doc —
    sample ``i`` = ``((doc_id·11 + i·17) % 4096 − 2048)·16`` at 8 kHz —
    full 16-bit range, so the clipping detector has real work — and the
    decoded sample sum, energy (Σs²), and clipped count are ALL
    ANALYTIC (the DuckDB oracle computes them from the formula without
    parsing RIFF)."""

    def encode(base: int) -> bytes:
        i = np.arange(n, dtype=np.int64)
        s = ((base + i * 17) % 4096 - 2048) * 16
        return encode_wav(s.astype(np.int32), 8000)

    return synth_leg(
        docs, encode, key=lambda d: (d * 11) % 4096, cache=f"wav_synth_{n}"
    )


def synthesize_flac_docs(docs: DataFrame, n: int = 96) -> DataFrame:
    """(doc_id, content): a deterministic STEREO FLAC per doc — linear
    ramps ch0[i] = a0 + b0·i, ch1[i] = a1 + b1·i with
    a0 = (doc_id·37) % 2000 − 1000, b0 = doc_id % 7 − 3,
    a1 = (doc_id·53) % 1600 − 800,  b1 = (doc_id·3) % 5 − 2,
    encoded with FIXED order-2 subframes (ramps predict exactly — the
    residual stream is pure rice-coded zeros) under MID/SIDE stereo
    decorrelation, one 96-sample frame. FLAC is lossless, so
    sample_sum / sum_sq / n_clipped are closed-form polynomials in
    (a, b, n) that the DuckDB oracle computes without parsing a bit —
    while the Spark side runs the real decoder: STREAMINFO, frame
    header + CRC-8, subframe trees, rice partitions, fixed
    prediction, mid/side reconstruction, frame CRC-16."""
    from rta_registrations_pyspark_glue_spark.operators.flac import encode_flac

    def encode(key: tuple) -> bytes:
        a0, b0, a1, b1 = key
        i = np.arange(n, dtype=np.int64)
        sig = np.stack([a0 + b0 * i, a1 + b1 * i], axis=-1)
        return encode_flac(
            sig, 16000, bps=16, blocksize=n, mode="fixed2", stereo="mid_side"
        )

    def key(d: int) -> tuple:
        return ((d * 37) % 2000 - 1000, d % 7 - 3,
                (d * 53) % 1600 - 800, (d * 3) % 5 - 2)

    return synth_leg(docs, encode, key=key, cache=f"flac_synth_{n}")


def synthesize_adpcm_docs(docs: DataFrame, n: int = 64) -> DataFrame:
    """(doc_id, content): a deterministic IMA-ADPCM WAV per doc holding
    a CONSTANT signal C = ((doc_id·29) % 4096 − 2048)·13. A constant
    encodes as all-zero nibbles whose step-0 difference is exactly 0
    (7 >> 3), so the lossy codec is EXACT here and the decoded sums
    are analytic: sample_sum = 64·C, sum_sq = 64·C², n_clipped = 0.
    The gate row therefore pins the block header layout, nibble order,
    fact-chunk trim, and fmt-extension parse byte-for-byte; the moving
    state machine is pinned by the hand-vector pytest."""

    def encode(key: tuple) -> bytes:
        sig = np.full(n, (key[0] - 2048) * 13, dtype=np.int32)
        return encode_ima_adpcm_wav(sig, 8000, samples_per_block=n)

    return synth_leg(
        docs, encode, key=lambda d: ((d * 29) % 4096, n), cache="ima_synth"
    )


def synthesize_msadpcm_docs(docs: DataFrame, n: int = 64) -> DataFrame:
    """(doc_id, content): a deterministic MS-ADPCM WAV per doc holding
    a CONSTANT signal C = ((doc_id·31) % 4096 − 2048)·11. The encoder's
    tie-break picks coefficient pair 0 ((256, 0) — predictor == s1), so
    the all-zero-nibble path reproduces C exactly and the decoded sums
    are analytic: sample_sum = 64·C, sum_sq = 64·C², n_clipped = 0. The
    gate row therefore pins the 7-byte/channel header layout, HIGH-
    nibble-first order, coefficient-table parse from the fmt extension,
    and the fact-chunk trim byte-for-byte; the moving two-tap state
    machine is pinned by the hand-computed pytest vector."""

    def encode(key: tuple) -> bytes:
        sig = np.full(n, (key[0] - 2048) * 11, dtype=np.int32)
        return encode_ms_adpcm_wav(sig, 8000, samples_per_block=n)

    return synth_leg(
        docs, encode, key=lambda d: ((d * 31) % 4096, n), cache="ms_synth"
    )


def decode_audio(content: bytes) -> tuple[np.ndarray, int]:
    """Format-dispatching audio decode: RIFF/WAVE (decode_wav — PCM,
    float, G.711, IMA/MS ADPCM) or FLAC (operators/flac.py, r9 —
    rice-coded fixed/LPC prediction with stereo decorrelation and
    per-frame CRC verification). Returns (frames, sample_rate)."""
    if content[:4] == b"fLaC":
        from rta_registrations_pyspark_glue_spark.operators.flac import decode_flac

        return decode_flac(content)
    return decode_wav(content)


def audio_features(content: bytes) -> dict:
    """AUDIO_SCHEMA features of one audio payload (decode_audio)."""
    frames, rate = decode_audio(content)
    f64 = frames.astype(np.float64)
    return {
        "n_samples": frames.shape[0],
        "sample_rate": rate,
        "channels": frames.shape[1],
        "sample_sum": int(round(float(f64.sum()))),
        "sum_sq": int(round(float((f64 * f64).sum()))),
        "n_clipped": int((np.abs(f64) >= CLIP_THRESHOLD).sum()),
    }


def decode_audio_features(df: DataFrame) -> DataFrame:
    """Decode the binary column with the REAL audio parsers (WAV via
    decode_wav, FLAC via operators/flac.py — dispatched on magic) and
    emit sample-level features: frame count, rate, channel count,
    exact integer sample sum, energy (Σ s² — the loudness/silence
    signal), and the clipped-sample count (|s| ≥ CLIP_THRESHOLD —
    damaged-audio detection); float payloads round-half-even to int64.
    Undecodable rows come back decode_ok=false with NULL features —
    a mixed-media corpus never kills the job."""
    return decode_leg(df, audio_features, AUDIO_SCHEMA)


# ------------------------------------------------------------------ ID3

#: curation-relevant ID3v2 text frames (public ids, ID3v2.3/2.4)
ID3_FRAMES = {
    "TIT2": "title",
    "TPE1": "artist",
    "TALB": "album",
    "TDRC": "date",
    "TYER": "date",  # v2.3 year frame maps onto the same field
    "TCON": "genre",
}


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def extract_id3(content: bytes) -> dict:
    """ID3v2.3/2.4 text metadata from an MP3-style payload (the audio
    analogue of EXIF): title/artist/album/date/genre from the leading
    ID3 tag. Returns {} when no tag is present — never raises for
    absent metadata. Text encodings 0 (latin-1), 1 (utf-16 w/ BOM),
    2 (utf-16be), 3 (utf-8) per the spec."""
    if content[:3] != b"ID3" or len(content) < 10:
        return {}
    ver = content[3]
    if ver not in (3, 4):
        return {}
    tag_size = _syncsafe(content[6:10])
    pos = 10
    end = min(10 + tag_size, len(content))
    out: dict = {}
    while pos + 10 <= end:
        fid = content[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break
        raw_size = content[pos + 4 : pos + 8]
        size = _syncsafe(raw_size) if ver == 4 else int.from_bytes(raw_size, "big")
        data = content[pos + 10 : pos + 10 + size]
        pos += 10 + size
        if len(data) < size:
            break  # truncated frame: stop, keep what we have
        name = ID3_FRAMES.get(fid.decode("ascii", "replace"))
        if name is None or not data or name in out:
            continue
        enc, body = data[0], data[1:]
        try:
            if enc == 0:
                text = body.decode("latin-1")
            elif enc == 1:
                text = body.decode("utf-16")
            elif enc == 2:
                text = body.decode("utf-16-be")
            elif enc == 3:
                text = body.decode("utf-8")
            else:
                continue
        except UnicodeDecodeError:
            continue
        out[name] = text.rstrip("\x00")
    return out


def build_id3(fields: dict, version: int = 4) -> bytes:
    """Fixture-grade ID3v2 tag writer (utf-8 frames) for decoder
    tests; prepend to any payload."""
    rev = {v: k for k, v in ID3_FRAMES.items() if k != "TYER"}
    frames = bytearray()
    for name, value in fields.items():
        fid = rev[name].encode()
        body = b"\x03" + value.encode("utf-8")
        size = (
            bytes(
                [
                    (len(body) >> 21) & 0x7F,
                    (len(body) >> 14) & 0x7F,
                    (len(body) >> 7) & 0x7F,
                    len(body) & 0x7F,
                ]
            )
            if version == 4
            else len(body).to_bytes(4, "big")
        )
        frames += fid + size + b"\x00\x00" + body
    n = len(frames)
    header = b"ID3" + bytes([version, 0, 0]) + bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )
    return header + bytes(frames)


def extract_audio_meta(df: DataFrame) -> DataFrame:
    """Audio-corpus metadata operator: ID3 title/artist/album/date from
    the binary column, Arrow-batched. Untagged payloads yield
    has_id3=false with NULL fields."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {k: [] for k in ("title", "artist", "album", "date")}
            has = []
            for content in pdf["content"]:
                try:
                    meta = extract_id3(bytes(content)) if content is not None else {}
                except Exception:
                    meta = {}
                for k in cols:
                    cols[k].append(meta.get(k))
                has.append(bool(meta))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    **{k: pd.Series(v, dtype="object") for k, v in cols.items()},
                    "has_id3": pd.array(has, dtype="boolean"),
                }
            )

    return df.select("doc_id", "content").mapInPandas(
        op,
        "doc_id bigint, title string, artist string, album string, "
        "date string, has_id3 boolean",
    )


def trim_silence(
    samples: np.ndarray, threshold: int = 327, frame: int = 160
) -> np.ndarray:
    """Trim leading/trailing silence: frames (default 160 samples =
    20 ms @ 8 kHz) whose peak |s| stays below ``threshold`` (default
    1% of 16-bit full scale) are cut from both ends; interior silence
    is preserved. All-silent input returns an empty (0, channels)
    array. The standard voice-corpus curation trim."""
    n = samples.shape[0]
    if n == 0:
        return samples
    peaks = [
        int(np.abs(samples[i : i + frame]).max())
        for i in range(0, n, frame)
    ]
    keep = [i for i, pk in enumerate(peaks) if pk >= threshold]
    if not keep:
        return samples[:0]
    start = keep[0] * frame
    end = min(n, (keep[-1] + 1) * frame)
    return samples[start:end]
