"""MPEG-1 Layer III (MP3) frame-level decode — the bit-exact subset.

MP3 is the most common compressed audio in scraped corpora, and
`operators/mediameta.py` already walks its frame HEADERS. This module
goes one layer deeper, implementing everything in ISO/IEC 11172-3 §2.4
that is pure bitstream structure:

- sync walk with ID3v2 skip and per-frame length math (headers shared
  with mediameta),
- optional CRC-16 verification (poly 0x8005, init 0xFFFF, over the
  last 16 header bits + the side information),
- COMPLETE side-information unpacking for MPEG-1 Layer III — both the
  normal-window and the window-switching field layouts, mono (17-byte)
  and dual-channel (32-byte) variants,
- the bit-reservoir assembly (`main_data_begin` back-pointers over the
  concatenated main-data stream), and
- exact PCM for granules with ``part2_3_length == 0``: no scalefactors
  and no Huffman data means every frequency line is zero, and zero
  lines are IMDCT- and filterbank-exact silence — 576 samples per
  granule per channel of true 0.

The step this module does NOT do is Huffman decode + requantization of
non-empty granules. That path needs the ISO tabulated data (the 34
big-value Huffman tables and the synthesis-window coefficients) which
is published spec data, not derivable; this container has no MP3
library to recover it from (the VP8 decoder's tables were extracted
from the system libwebp — there is no libmpg123/libmad here), and an
unverifiable from-memory transcription would be worse than a boundary.
(r11 status: the extraction plan was re-attempted and remains
environment-blocked — the host was re-searched for ANY extractable
MP3 codec: no libmpg123/libmad/libavcodec/ffmpeg/gstreamer in
ldconfig or on disk, ctypes.util.find_library returns None for all
of them, and the container has no network egress to fetch upstream
sources. The boundary stands until a host with a codec runs
tools/mpg123_ref.py's differential oracle.)
So non-empty granules raise NotImplementedError at the granule
boundary — the documented plug-in point — and `tools/mpg123_ref.py`
ships ctypes bindings used as a differential oracle on hosts that have
libmpg123 (degrades to skip here, exactly like tools/libwebp_ref.py).

What the gate pins (multimodal_suite 'mp3' rows): frame count, sample
count, channel mode, sample rate, silence exactness, and closed-form
SUMS of per-granule side-info fields (global_gain, scalefac_compress)
— a one-bit misparse anywhere in the 59-bit granule layout shifts
every following field and fails the hash.

Spark surface mirrors the other codec legs: Arrow-batched
``mapInPandas``, memory bounded by the batch; at 100 TB the decode is
embarrassingly parallel per file and touches only the bytes it reads.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.bitio import (
    MsbReader,
    MsbWriter,
    Truncated,
    crc16,
)
from rta_registrations_pyspark_glue_spark.operators.legs import decode_leg, synth_leg

from rta_registrations_pyspark_glue_spark.operators.mediameta import _mp3_frame


class Mp3Error(ValueError):
    pass


# ---------------------------------------------------------------------------
# Side information (MPEG-1 Layer III): 59 bits per (granule, channel)


def _read_granule(bits: MsbReader) -> dict:
    g = {
        "part2_3_length": bits.read(12),
        "big_values": bits.read(9),
        "global_gain": bits.read(8),
        "scalefac_compress": bits.read(4),
        "window_switching": bits.read(1),
    }
    if g["window_switching"]:
        g["block_type"] = bits.read(2)
        g["mixed_block_flag"] = bits.read(1)
        g["table_select"] = [bits.read(5), bits.read(5)]
        g["subblock_gain"] = [bits.read(3), bits.read(3), bits.read(3)]
        if g["block_type"] == 0:
            raise Mp3Error("window_switching with block_type 0")
    else:
        g["table_select"] = [bits.read(5), bits.read(5), bits.read(5)]
        g["region0_count"] = bits.read(4)
        g["region1_count"] = bits.read(3)
    g["preflag"] = bits.read(1)
    g["scalefac_scale"] = bits.read(1)
    g["count1table_select"] = bits.read(1)
    return g


def _write_granule(w: MsbWriter, g: dict) -> None:
    w.write(g["part2_3_length"], 12)
    w.write(g["big_values"], 9)
    w.write(g["global_gain"], 8)
    w.write(g["scalefac_compress"], 4)
    w.write(g["window_switching"], 1)
    if g["window_switching"]:
        w.write(g["block_type"], 2)
        w.write(g["mixed_block_flag"], 1)
        for t in g["table_select"][:2]:
            w.write(t, 5)
        for s in g["subblock_gain"]:
            w.write(s, 3)
    else:
        for t in g["table_select"][:3]:
            w.write(t, 5)
        w.write(g["region0_count"], 4)
        w.write(g["region1_count"], 3)
    w.write(g["preflag"], 1)
    w.write(g["scalefac_scale"], 1)
    w.write(g["count1table_select"], 1)


def parse_side_info(data: bytes, n_channels: int) -> dict:
    """Unpack a complete MPEG-1 Layer III side-information block
    (17 bytes mono, 32 stereo)."""
    bits = MsbReader(data)
    si = {"main_data_begin": bits.read(9)}
    bits.read(5 if n_channels == 1 else 3)  # private_bits
    si["scfsi"] = [bits.read(4) for _ in range(n_channels)]
    si["granules"] = [
        [_read_granule(bits) for _ in range(n_channels)] for _gr in range(2)
    ]
    return si


# ---------------------------------------------------------------------------
# Decode


def parse_mp3_frames(content: bytes) -> list[dict]:
    """Sync walk: ID3v2 skip, then consecutive MPEG-1 Layer III frames
    (header + optional CRC + side info + main data). Each entry carries
    the parsed header, the VERIFIED side info, and the frame's
    main-data bytes for reservoir assembly. Declared failure envelope:
    Mp3Error (a ValueError) / NotImplementedError — truncated
    fixed-width and bit reads are converted at this boundary."""
    try:
        return _parse_mp3_frames_inner(content)
    except (struct.error, Truncated) as e:
        raise Mp3Error(f"truncated MP3 structure: {e}") from None


def _parse_mp3_frames_inner(content: bytes) -> list[dict]:
    buf = content
    pos = 0
    if buf[:3] == b"ID3":
        if len(buf) < 10:
            raise Mp3Error("truncated ID3v2 header")
        size = (
            ((buf[6] & 0x7F) << 21) | ((buf[7] & 0x7F) << 14)
            | ((buf[8] & 0x7F) << 7) | (buf[9] & 0x7F)
        )
        pos = 10 + size
    frames: list[dict] = []
    while pos + 4 <= len(buf):
        hdr = _mp3_frame(buf, pos)
        if hdr is None:
            if frames:
                break  # trailing garbage/tag after the last frame
            raise Mp3Error(f"no frame sync at {pos}")
        if hdr["version"] != 3 or hdr["samples"] != 1152 or hdr["bitrate"] == 0:
            raise NotImplementedError(
                "only MPEG-1 Layer III frames decode here (Layer I/II and "
                "MPEG-2 LSF are header-parsed by mediameta only)"
            )
        h = struct.unpack_from(">I", buf, pos)[0]
        if (h >> 17) & 3 != 1:
            raise NotImplementedError("Layer I/II frame decode")
        protected = not ((h >> 16) & 1)  # protection_bit 0 = CRC present
        n_ch = 1 if hdr["mono"] else 2
        side_len = 17 if n_ch == 1 else 32
        body = pos + 4
        crc_stored = None
        if protected:
            (crc_stored,) = struct.unpack_from(">H", buf, body)
            body += 2
        if body + side_len > len(buf):
            raise Mp3Error("frame truncated inside side info")
        side_bytes = buf[body : body + side_len]
        if protected:
            calc = crc16(buf[pos + 2 : pos + 4] + side_bytes, 0xFFFF)
            if calc != crc_stored:
                raise Mp3Error(
                    f"frame CRC mismatch: stored {crc_stored:04x} != "
                    f"computed {calc:04x}"
                )
        end = pos + hdr["length"]
        if end > len(buf):
            raise Mp3Error("frame truncated")
        frames.append(
            {
                "header": hdr,
                "n_channels": n_ch,
                "side": parse_side_info(side_bytes, n_ch),
                "main_data": buf[body + side_len : end],
                "protected": protected,
            }
        )
        pos = end
    if not frames:
        raise Mp3Error("no MP3 frames")
    return frames


def decode_mp3(content: bytes) -> dict:
    """Frame-level decode: parse every frame, assemble the bit
    reservoir, and emit PCM. Granules with ``part2_3_length == 0``
    decode exactly (576 zero samples per channel — zero frequency
    lines are filterbank-exact silence); non-empty granules raise
    NotImplementedError at the documented Huffman/requantization
    boundary (plug-in: ffmpeg/PyAV in production, tools/mpg123_ref.py
    as the differential oracle where libmpg123 exists)."""
    frames = parse_mp3_frames(content)
    first = frames[0]["header"]
    n_ch = frames[0]["n_channels"]
    reservoir = b""
    pcm_parts: list[np.ndarray] = []
    gg_sum = 0
    sfc_sum = 0
    for fr in frames:
        if fr["header"]["rate"] != first["rate"] or fr["n_channels"] != n_ch:
            raise Mp3Error("mid-stream format change")
        si = fr["side"]
        if si["main_data_begin"] > len(reservoir):
            raise Mp3Error(
                f"main_data_begin {si['main_data_begin']} reaches past the "
                f"{len(reservoir)}-byte reservoir"
            )
        # this frame's decodable main data = back-pointer window + own bytes
        reservoir = reservoir[len(reservoir) - si["main_data_begin"] :] + fr[
            "main_data"
        ]
        for gr in range(2):
            for ch in range(n_ch):
                g = si["granules"][gr][ch]
                gg_sum += g["global_gain"]
                sfc_sum += g["scalefac_compress"]
                if g["part2_3_length"] != 0:
                    raise NotImplementedError(
                        "MP3 Huffman decode + requantization of non-empty "
                        "granules needs the ISO 11172-3 tabulated data — "
                        "plug-in boundary (ffmpeg/PyAV; differential oracle "
                        "tools/mpg123_ref.py where libmpg123 exists)"
                    )
        # all four granule-channels empty: 1152 exact-zero samples/ch
        pcm_parts.append(np.zeros((1152, n_ch), np.int16))
        # empty granules consume 0 reservoir bits; reservoir carries over
    pcm = np.concatenate(pcm_parts, axis=0)
    return {
        "sample_rate": first["rate"],
        "channels": n_ch,
        "n_frames": len(frames),
        "pcm": pcm,
        "gg_sum": int(gg_sum),
        "sfc_sum": int(sfc_sum),
    }


# ---------------------------------------------------------------------------
# Fixture encoder


def encode_mp3_silent(
    n_frames: int,
    *,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    channels: int = 1,
    gg=lambda i, gr, ch: 0,
    sfc=lambda i, gr, ch: 0,
    protected: bool = False,
    id3_pad: int = 0,
) -> bytes:
    """Spec-valid silent MPEG-1 Layer III CBR stream: every granule has
    ``part2_3_length = 0`` (decodes to exact silence) while the OTHER
    side-info fields carry caller-supplied per-granule values and the
    layout alternates window-switching on ``(i + gr)`` parity — so a
    one-bit misparse anywhere in the 59-bit granule layout corrupts
    the fields of everything after it. Odd frames set the padding bit
    (length + 1). ``protected=True`` writes a real CRC-16 per frame;
    ``id3_pad`` prepends a syncsafe ID3v2 tag of that body size."""
    from rta_registrations_pyspark_glue_spark.operators.mediameta import (
        _MP3_BITRATE_V1_L3,
        _MP3_RATES,
    )

    br_idx = _MP3_BITRATE_V1_L3.index(bitrate_kbps)
    sr_idx = _MP3_RATES[3].index(sample_rate)
    mode = 3 if channels == 1 else 0  # 3 = single_channel, 0 = stereo
    out = bytearray()
    if id3_pad:
        body = bytes(id3_pad)
        out += b"ID3\x04\x00\x00" + bytes(
            [
                (id3_pad >> 21) & 0x7F, (id3_pad >> 14) & 0x7F,
                (id3_pad >> 7) & 0x7F, id3_pad & 0x7F,
            ]
        ) + body
    for i in range(n_frames):
        padding = i & 1
        h = (
            (0x7FF << 21) | (3 << 19) | (1 << 17)
            | ((0 if protected else 1) << 16)
            | (br_idx << 12) | (sr_idx << 10) | (padding << 9) | (mode << 6)
        )
        header = struct.pack(">I", h)
        w = MsbWriter()
        w.write(0, 9)  # main_data_begin: silent frames keep no reservoir
        w.write(0, 5 if channels == 1 else 3)
        for _ch in range(channels):
            w.write(0, 4)  # scfsi
        for gr in range(2):
            for ch in range(channels):
                wsf = (i + gr) & 1
                g = {
                    "part2_3_length": 0,
                    "big_values": 0,
                    "global_gain": gg(i, gr, ch) & 0xFF,
                    "scalefac_compress": sfc(i, gr, ch) & 0xF,
                    "window_switching": wsf,
                    "preflag": 0,
                    "scalefac_scale": 0,
                    "count1table_select": 0,
                }
                if wsf:
                    g["block_type"] = 2
                    g["mixed_block_flag"] = 0
                    g["table_select"] = [(i + 5) % 32, (gr + 9) % 32]
                    g["subblock_gain"] = [i % 8, gr % 8, (i + gr) % 8]
                else:
                    g["table_select"] = [(i + 1) % 32, (i + 2) % 32, 7]
                    g["region0_count"] = (i + gr) % 16
                    g["region1_count"] = i % 8
                _write_granule(w, g)
        side = w.bytes()
        length = 1152 // 8 * bitrate_kbps * 1000 // sample_rate + padding
        frame = bytearray(header)
        if protected:
            frame += struct.pack(">H", crc16(header[2:4] + side, 0xFFFF))
        frame += side
        if len(frame) > length:
            raise Mp3Error("side info exceeds frame length")
        frame += bytes(length - len(frame))
        out += frame
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark surface

MP3_SCHEMA = (
    "doc_id bigint, n_frames int, channels int, sample_rate int, "
    "n_samples bigint, pcm_sum bigint, gg_sum bigint, sfc_sum bigint, "
    "decode_ok boolean"
)


def synthesize_mp3_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, content): a deterministic silent MP3 per doc — frame
    count, channel mode, bitrate/sample-rate indices, CRC protection,
    and an ID3v2 prefix all rotate by doc residue, and the per-granule
    global_gain / scalefac_compress values follow closed forms the
    oracle recomputes:

    - n_frames = 2 + doc_id % 3; channels = 1 + doc_id % 2
    - bitrate ∈ {128, 160, 192} kbps by doc_id % 3
    - sample_rate ∈ {44100, 48000, 32000} by doc_id % 3 (sr and br
      rotate together so the frame-length math varies per doc)
    - global_gain(i, gr, ch) = (doc_id·13 + 7i + 3gr + ch) % 256
    - scalefac_compress(i, gr, ch) = (doc_id·5 + i + gr + ch) % 16
    - CRC frames when doc_id % 3 == 0; ID3v2 prefix when doc_id % 5 == 0
    """

    def encode(d: int) -> bytes:
        return encode_mp3_silent(
            2 + d % 3,
            bitrate_kbps=(128, 160, 192)[d % 3],
            sample_rate=(44100, 48000, 32000)[d % 3],
            channels=1 + d % 2,
            gg=lambda i, gr, ch: (d * 13 + 7 * i + 3 * gr + ch) % 256,
            sfc=lambda i, gr, ch: (d * 5 + i + gr + ch) % 16,
            protected=d % 3 == 0,
            id3_pad=64 if d % 5 == 0 else 0,
        )

    return synth_leg(docs, encode)


def _mp3_features(content: bytes) -> dict:
    clip = decode_mp3(content)
    return {
        **clip,
        "n_samples": int(clip["pcm"].shape[0]),
        "pcm_sum": int(clip["pcm"].astype(np.int64).sum()),
    }


def decode_mp3_features(df: DataFrame) -> DataFrame:
    """Decode the binary column with the REAL frame walker and emit
    frame/sample counts, channel mode, sample rate, the exact PCM sum
    (0 for silent fixtures — the exactness claim), and the side-info
    field sums that pin the 59-bit granule layout bit-for-bit."""
    return decode_leg(df, _mp3_features, MP3_SCHEMA)
