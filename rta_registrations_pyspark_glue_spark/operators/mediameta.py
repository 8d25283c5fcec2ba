"""Typed media METADATA extraction for opaque binary columns — the
formats whose frame decode is out of native scope but whose metadata
is what a 100 TB curation pass actually filters on (duration, dims,
codec, bitrate) BEFORE paying for any decode:

- **MP4 / ISO-BMFF** (``....ftyp``): recursive box walk —
  ftyp brand, mvhd timescale/duration (versions 0 and 1), per-trak
  tkhd 16.16-fixed dims, hdlr track class, stsd sample-entry fourcc.
- **Matroska / WebM** (EBML ``1A 45 DF A3``): EBML varint grammar
  (length-prefixed IDs and sizes), DocType, Segment→Info
  TimestampScale + float Duration, Tracks→TrackEntry TrackType /
  CodecID / Video PixelWidth×PixelHeight.
- **MP3** (ID3v2 or raw sync): frame-header walk — version/layer/
  bitrate/samplerate tables, per-frame byte length, the Xing/Info
  VBR header (frame count at the channel-mode-dependent side-info
  offset) for exact VBR duration, CBR extrapolation otherwise. No
  entropy decode — duration/bitrate come from header math alone.
- **Ogg** (``OggS``): page walk with the REAL Ogg CRC-32 (poly
  0x04C11DB7, unreflected, CRC field zeroed) verified per page;
  OpusHead (channels, pre-skip, 48 kHz granule clock) and
  ``\\x01vorbis`` (channels, rate) identification; duration from the
  last page's granule position.
- **AVI** (``RIFF....AVI ``): header-only avih/strh/strf walk
  (dims, fps, frame count, vids fourcc) — no frame decode (that is
  `operators/avi.py`).

Sample/frame DECODE for these containers stays the documented
plug-in boundary (`video.py`, `audio.py:165`); this module's
contract is that metadata never requires it.

Spark surface mirrors the other multimodal legs: fixture synthesis
and extraction are Arrow-batched ``mapInPandas`` — memory bounded by
the batch, parallelism = partition parallelism, nothing driver-side.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.legs import decode_leg, synth_leg

# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF


def _mp4_boxes(buf: bytes, pos: int, end: int):
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", buf, pos)
        typ = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            (size,) = struct.unpack_from(">Q", buf, pos + 8)
            body = pos + 16
        elif size == 0:  # to end of enclosing box
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"bad MP4 box {typ!r} size {size}")
        yield typ, body, pos + size
        pos += size


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _parse_mp4(buf: bytes) -> dict:
    meta = {
        "container": "mp4", "brand": None, "duration_ms": None,
        "width": None, "height": None, "video_codec": None,
        "audio_codec": None, "n_tracks": 0,
    }
    track: dict = {}

    def walk(pos: int, end: int) -> None:
        nonlocal track
        for typ, body, bend in _mp4_boxes(buf, pos, end):
            if typ == b"ftyp":
                meta["brand"] = buf[body : body + 4].decode("latin-1")
            elif typ == b"mvhd":
                ver = buf[body]
                if ver == 1:
                    ts, dur = struct.unpack_from(">IQ", buf, body + 20)
                else:
                    ts, dur = struct.unpack_from(">II", buf, body + 12)
                if ts:
                    meta["duration_ms"] = dur * 1000 // ts
            elif typ == b"tkhd":
                ver = buf[body]
                off = body + (88 if ver == 1 else 76)
                w, h = struct.unpack_from(">II", buf, off)
                track["width"], track["height"] = w >> 16, h >> 16
            elif typ == b"hdlr":
                track["class"] = buf[body + 8 : body + 12]
            elif typ == b"stsd":
                (n_entries,) = struct.unpack_from(">I", buf, body + 4)
                if n_entries:
                    track["codec"] = buf[body + 12 : body + 16].decode(
                        "latin-1"
                    )
            elif typ in _MP4_CONTAINERS:
                if typ == b"trak":
                    track = {}
                walk(body, bend)
                if typ == b"trak":
                    meta["n_tracks"] += 1
                    if track.get("class") == b"vide":
                        meta["video_codec"] = track.get("codec")
                        if track.get("width"):
                            meta["width"] = track["width"]
                            meta["height"] = track["height"]
                    elif track.get("class") == b"soun":
                        meta["audio_codec"] = track.get("codec")

    walk(0, len(buf))
    if meta["brand"] is None:
        raise ValueError("MP4 without ftyp")
    return meta


# ---------------------------------------------------------------------------
# Matroska / WebM (EBML)


def _ebml_vint(buf: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """EBML variable-length integer at ``pos`` → (value, next_pos).
    IDs keep the length-marker bit (``keep_marker``), sizes strip it."""
    if pos >= len(buf):
        raise ValueError("EBML vint past end")
    first = buf[pos]
    if first == 0:
        raise ValueError("invalid EBML vint (>8 bytes)")
    length = 8 - first.bit_length() + 1
    if pos + length > len(buf):
        raise ValueError("truncated EBML vint")
    val = first if keep_marker else first & (0xFF >> length)
    for i in range(1, length):
        val = (val << 8) | buf[pos + i]
    return val, pos + length


def _ebml_children(buf: bytes, pos: int, end: int):
    while pos < end:
        eid, p = _ebml_vint(buf, pos, keep_marker=True)
        size, body = _ebml_vint(buf, p, keep_marker=False)
        # all-ones size vint = "unknown size" (streamed Segments emit
        # this): the element runs to the end of its parent
        if size == (1 << (7 * (body - p))) - 1:
            size = end - body
        if body + size > end:
            raise ValueError(f"truncated EBML element {eid:#x}")
        yield eid, body, body + size
        pos = body + size


def _ebml_uint(buf: bytes, body: int, end: int) -> int:
    v = 0
    for i in range(body, end):
        v = (v << 8) | buf[i]
    return v


def _parse_mkv(buf: bytes) -> dict:
    meta = {
        "container": "mkv", "brand": None, "duration_ms": None,
        "width": None, "height": None, "video_codec": None,
        "audio_codec": None, "n_tracks": 0,
    }
    ts_scale = 1_000_000  # ns per tick, Matroska default
    duration_ticks: float | None = None
    for eid, body, bend in _ebml_children(buf, 0, len(buf)):
        if eid == 0x1A45DFA3:  # EBML header
            for e2, b2, e2end in _ebml_children(buf, body, bend):
                if e2 == 0x4282:  # DocType
                    meta["brand"] = buf[b2:e2end].decode("ascii", "replace")
        elif eid == 0x18538067:  # Segment
            for e2, b2, e2end in _ebml_children(buf, body, bend):
                if e2 == 0x1549A966:  # Info
                    for e3, b3, e3end in _ebml_children(buf, b2, e2end):
                        if e3 == 0x2AD7B1:  # TimestampScale
                            ts_scale = _ebml_uint(buf, b3, e3end)
                        elif e3 == 0x4489:  # Duration (float)
                            raw = buf[b3:e3end]
                            duration_ticks = struct.unpack(
                                ">f" if len(raw) == 4 else ">d", raw
                            )[0]
                elif e2 == 0x1654AE6B:  # Tracks
                    for e3, b3, e3end in _ebml_children(buf, b2, e2end):
                        if e3 != 0xAE:  # TrackEntry
                            continue
                        meta["n_tracks"] += 1
                        ttype, codec, w, h = None, None, None, None
                        for e4, b4, e4end in _ebml_children(buf, b3, e3end):
                            if e4 == 0x83:  # TrackType
                                ttype = _ebml_uint(buf, b4, e4end)
                            elif e4 == 0x86:  # CodecID
                                codec = buf[b4:e4end].decode(
                                    "ascii", "replace"
                                )
                            elif e4 == 0xE0:  # Video
                                for e5, b5, e5end in _ebml_children(
                                    buf, b4, e4end
                                ):
                                    if e5 == 0xB0:
                                        w = _ebml_uint(buf, b5, e5end)
                                    elif e5 == 0xBA:
                                        h = _ebml_uint(buf, b5, e5end)
                        if ttype == 1:
                            meta["video_codec"] = codec
                            meta["width"], meta["height"] = w, h
                        elif ttype == 2:
                            meta["audio_codec"] = codec
    if meta["brand"] is None:
        raise ValueError("EBML stream without a DocType")
    if duration_ticks is not None:
        meta["duration_ms"] = int(duration_ticks * ts_scale / 1_000_000)
    return meta


# ---------------------------------------------------------------------------
# MP3 (header walk + Xing)

#: kbps by (version-group, layer, index); MPEG-1 layer III row
_MP3_BITRATE_V1_L3 = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
_MP3_BITRATE_V1_L2 = (
    0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384,
)
_MP3_BITRATE_V1_L1 = (
    0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448,
)
_MP3_BITRATE_V2_L1 = (
    0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256,
)
_MP3_BITRATE_V2_L23 = (
    0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160,
)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def _mp3_frame(buf: bytes, pos: int) -> dict | None:
    """Parse one frame header at ``pos``; None if not a valid sync."""
    if pos + 4 > len(buf):
        return None
    h = struct.unpack_from(">I", buf, pos)[0]
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    version = (h >> 19) & 3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=reserved
    layer = (h >> 17) & 3  # 3=I, 2=II, 1=III, 0=reserved
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    padding = (h >> 9) & 1
    channel_mode = (h >> 6) & 3
    if version == 1 or layer == 0 or br_idx in (0, 15) or sr_idx == 3:
        return None
    if version == 3:
        table = {3: _MP3_BITRATE_V1_L1, 2: _MP3_BITRATE_V1_L2,
                 1: _MP3_BITRATE_V1_L3}[layer]
    else:
        table = _MP3_BITRATE_V2_L1 if layer == 3 else _MP3_BITRATE_V2_L23
    bitrate = table[br_idx] * 1000
    rate = _MP3_RATES[version][sr_idx]
    if layer == 3:  # layer I
        length = (12 * bitrate // rate + padding) * 4
        samples = 384
    else:
        samples = 1152
        if layer == 1 and version != 3:  # layer III, MPEG2/2.5
            samples = 576
        length = samples // 8 * bitrate // rate + padding
    return {
        "length": length, "samples": samples, "rate": rate,
        "bitrate": bitrate, "mono": channel_mode == 3,
        "version": version,
    }


def _parse_mp3(buf: bytes) -> dict:
    pos = 0
    if buf[:3] == b"ID3":  # skip ID3v2 (syncsafe size)
        size = ((buf[6] & 0x7F) << 21) | ((buf[7] & 0x7F) << 14) \
            | ((buf[8] & 0x7F) << 7) | (buf[9] & 0x7F)
        pos = 10 + size
    first = _mp3_frame(buf, pos)
    if first is None:
        raise ValueError("no MP3 frame sync")
    # Xing/Info VBR header: inside the first frame, after the side info
    # (and after the 2-byte CRC when protection_bit = 0 — r10 fix: the
    # offset was CRC-blind, so a protected VBR file missed its Xing)
    side = (
        (17 if first["mono"] else 32)
        if first["version"] == 3
        else (9 if first["mono"] else 17)
    )
    (h0,) = struct.unpack_from(">I", buf, pos)
    crc_len = 0 if (h0 >> 16) & 1 else 2
    xing_off = pos + 4 + crc_len + side
    n_frames = None
    vbr = False
    if buf[xing_off : xing_off + 4] in (b"Xing", b"Info"):
        (flags,) = struct.unpack_from(">I", buf, xing_off + 4)
        vbr = buf[xing_off : xing_off + 4] == b"Xing"
        if flags & 1:
            (n_frames,) = struct.unpack_from(">I", buf, xing_off + 8)
    if n_frames is None:
        # CBR walk: count frames by header math (no entropy decode)
        n_frames = 0
        p = pos
        while True:
            fr = _mp3_frame(buf, p)
            if fr is None:
                break
            n_frames += 1
            p += fr["length"]
    duration_ms = n_frames * first["samples"] * 1000 // first["rate"]
    return {
        "container": "mp3", "brand": None, "duration_ms": duration_ms,
        "width": None, "height": None, "video_codec": None,
        "audio_codec": "mp3", "n_tracks": 1,
        "sample_rate": first["rate"],
        "bitrate_kbps": first["bitrate"] // 1000 if not vbr else None,
    }


# ---------------------------------------------------------------------------
# Ogg (Opus / Vorbis)

_OGG_CRC_TABLE = None


def _ogg_crc(data: bytes) -> int:
    """The Ogg page CRC-32: poly 0x04C11DB7, unreflected, init/xorout 0."""
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        tbl = np.zeros(256, np.uint32)
        for i in range(256):
            r = np.uint32(i << 24)
            for _ in range(8):
                r = np.uint32(
                    ((int(r) << 1) ^ 0x04C11DB7) & 0xFFFFFFFF
                    if int(r) & 0x80000000
                    else (int(r) << 1) & 0xFFFFFFFF
                )
            tbl[i] = r
        _OGG_CRC_TABLE = tbl
    crc = 0
    tbl = _OGG_CRC_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ int(tbl[((crc >> 24) & 0xFF) ^ b])
    return crc


def iter_ogg_pages(buf: bytes):
    """Walk the pages of an Ogg stream, yielding ``(flags, granule,
    segment table, body)`` per page. Each page's capture pattern,
    length and CRC are checked, and the stream must end on a page
    boundary (ValueError otherwise)."""
    pos = 0
    n = len(buf)
    while pos < n:
        if pos + 27 > n:
            raise ValueError("truncated Ogg page header")
        if buf[pos : pos + 4] != b"OggS":
            raise ValueError(f"bad Ogg capture pattern at {pos}")
        flags = buf[pos + 5]
        (granule,) = struct.unpack_from("<q", buf, pos + 6)
        (crc_stored,) = struct.unpack_from("<I", buf, pos + 22)
        n_segs = buf[pos + 26]
        seg_table = buf[pos + 27 : pos + 27 + n_segs]
        body_start = pos + 27 + n_segs
        page_end = body_start + sum(seg_table)
        if page_end > n:
            raise ValueError("truncated Ogg page")
        page = bytearray(buf[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc_stored:
            raise ValueError("Ogg page CRC mismatch")
        yield flags, granule, seg_table, buf[body_start:page_end]
        pos = page_end


def ogg_page(
    serial: int, bodies: list[bytes], granule: int, seq: int, flags: int
) -> bytes:
    """One spec-shaped Ogg page: 255-run lacing of ``bodies`` into the
    segment table, real CRC over the zero-CRC'd header+body — the
    writer twin of iter_ogg_pages, shared by the Ogg fixture encoders."""
    segs = bytearray()
    for b in bodies:
        n = len(b)
        while n >= 255:
            segs.append(255)
            n -= 255
        segs.append(n)
    hdr = (
        b"OggS\x00"
        + bytes([flags])
        + struct.pack("<q", granule)
        + struct.pack("<I", serial)
        + struct.pack("<I", seq)
        + b"\x00\x00\x00\x00"
        + bytes([len(segs)])
        + bytes(segs)
    )
    body = b"".join(bodies)
    crc = _ogg_crc(hdr + body)
    return hdr[:22] + struct.pack("<I", crc) + hdr[26:] + body


def _parse_ogg(buf: bytes) -> dict:
    codec = None
    channels = None
    rate = None
    pre_skip = 0
    last_granule = 0
    for _, granule, _, body in iter_ogg_pages(buf):
        if codec is None:
            if body[:8] == b"OpusHead":
                codec = "opus"
                channels = body[9]
                (pre_skip,) = struct.unpack_from("<H", body, 10)
                rate = 48000  # Opus granule clock is always 48 kHz
            elif body[:7] == b"\x01vorbis":
                codec = "vorbis"
                channels = body[11]
                (rate,) = struct.unpack_from("<I", body, 12)
        if granule >= 0:
            last_granule = max(last_granule, granule)
    if codec is None:
        raise ValueError("Ogg stream with no recognized codec header")
    effective = last_granule - (pre_skip if codec == "opus" else 0)
    return {
        "container": "ogg", "brand": codec, "duration_ms":
            max(0, effective) * 1000 // rate,
        "width": None, "height": None, "video_codec": None,
        "audio_codec": codec, "n_tracks": 1,
        "sample_rate": rate, "channels": channels,
    }


# ---------------------------------------------------------------------------
# AVI header-only (dims/fps/frames/fourcc without frame decode)


def _parse_avi_header(buf: bytes) -> dict:
    from rta_registrations_pyspark_glue_spark.operators.avi import _iter_chunks

    meta = {
        "container": "avi", "brand": None, "duration_ms": None,
        "width": None, "height": None, "video_codec": None,
        "audio_codec": None, "n_tracks": 0, "n_frames": None,
    }
    usec_per_frame = 0
    n_frames = 0

    def walk(pos: int, end: int) -> None:
        nonlocal usec_per_frame, n_frames
        for fourcc, body, size in _iter_chunks(buf, pos, end):
            if fourcc == b"LIST":
                if buf[body : body + 4] != b"movi":  # headers only
                    walk(body + 4, body + size)
            elif fourcc == b"avih":
                usec_per_frame, = struct.unpack_from("<I", buf, body)
                n_frames = struct.unpack_from("<I", buf, body + 16)[0]
                meta["width"], meta["height"] = struct.unpack_from(
                    "<II", buf, body + 32
                )
            elif fourcc == b"strh":
                meta["n_tracks"] += 1
                stype = buf[body : body + 4]
                handler = buf[body + 4 : body + 8]
                if stype == b"vids" and meta["video_codec"] is None:
                    meta["video_codec"] = (
                        handler.decode("latin-1") if handler.strip(b"\x00")
                        else "DIB "
                    )
                elif stype == b"auds" and meta["audio_codec"] is None:
                    meta["audio_codec"] = "pcm"

    walk(12, len(buf))
    meta["n_frames"] = n_frames
    if usec_per_frame and n_frames:
        meta["duration_ms"] = n_frames * usec_per_frame // 1000
    return meta


# ---------------------------------------------------------------------------
# Dispatch


def extract_media_meta(content: bytes) -> dict:
    """bytes → typed metadata dict; dispatches on container magic.
    ValueError for malformed/unrecognized payloads. Keys are a fixed
    superset (missing fields None): container, brand, duration_ms,
    width, height, video_codec, audio_codec, n_tracks, sample_rate,
    bitrate_kbps, channels, n_frames."""
    base = {
        "container": None, "brand": None, "duration_ms": None,
        "width": None, "height": None, "video_codec": None,
        "audio_codec": None, "n_tracks": None, "sample_rate": None,
        "bitrate_kbps": None, "channels": None, "n_frames": None,
    }
    if len(content) >= 12 and content[4:8] == b"ftyp":
        base.update(_parse_mp4(content))
    elif content[:4] == b"\x1aE\xdf\xa3":
        base.update(_parse_mkv(content))
    elif content[:4] == b"OggS":
        base.update(_parse_ogg(content))
    elif content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        base.update(_parse_avi_header(content))
    elif content[:3] == b"ID3" or (
        len(content) >= 2 and content[0] == 0xFF and content[1] & 0xE0 == 0xE0
    ):
        base.update(_parse_mp3(content))
    else:
        raise ValueError("unrecognized media container")
    return base


# ---------------------------------------------------------------------------
# Fixture encoders (spec-valid minimal files with analytic fields)


def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + typ + body


def encode_minimal_mp4(
    duration_ms: int, width: int, height: int,
    video_codec: bytes = b"avc1", audio_codec: bytes = b"mp4a",
) -> bytes:
    """ftyp + moov(mvhd + video trak + audio trak) + empty mdat; the
    metadata boxes are complete and spec-shaped, sample data absent."""
    ts = 1000
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0) + struct.pack(">II", 0, 0)
        + struct.pack(">II", ts, duration_ms)
        + struct.pack(">IH2x", 0x00010000, 0x0100)
        + b"\x00" * 8
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 3),
    )

    def trak(cls: bytes, codec: bytes, w: int, h: int, tid: int) -> bytes:
        tkhd = _box(
            b"tkhd",
            struct.pack(">B3B", 0, 0, 0, 7) + struct.pack(">II", 0, 0)
            + struct.pack(">I4xI", tid, duration_ms) + b"\x00" * 8
            + struct.pack(">HH", 0, 0) + struct.pack(">H2x", 0x0100)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                           0x40000000)
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = _box(
            b"mdhd",
            struct.pack(">B3x", 0) + struct.pack(">II", 0, 0)
            + struct.pack(">II", ts, duration_ms)
            + struct.pack(">HH", 0x55C4, 0),
        )
        hdlr = _box(
            b"hdlr", struct.pack(">B3x4x", 0) + cls + b"\x00" * 12 + b"\x00"
        )
        entry_body = b"\x00" * 6 + struct.pack(">H", 1)
        if cls == b"vide":
            entry_body += (
                b"\x00" * 16 + struct.pack(">HH", w, h)
                + struct.pack(">II", 0x00480000, 0x00480000) + b"\x00" * 4
                + struct.pack(">H", 1) + b"\x00" * 32
                + struct.pack(">Hh", 0x18, -1)
            )
        else:
            entry_body += (
                b"\x00" * 8 + struct.pack(">HH", 2, 16) + b"\x00" * 4
                + struct.pack(">I", 48000 << 16)
            )
        stsd = _box(
            b"stsd", struct.pack(">B3xI", 0, 1) + _box(codec, entry_body)
        )
        stbl = _box(b"stbl", stsd)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"trak", tkhd + mdia)

    moov = _box(
        b"moov",
        mvhd + trak(b"vide", video_codec, width, height, 1)
        + trak(b"soun", audio_codec, 0, 0, 2),
    )
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    return ftyp + moov + _box(b"mdat", b"")


def _ebml_encode_vint(value: int, keep_marker: bool = False) -> bytes:
    """Encode an EBML size vint (marker bit in the first byte)."""
    for length in range(1, 9):
        if value < (1 << (7 * length)) - 1:
            marker = 1 << (8 - length)
            raw = value | (marker << (8 * (length - 1)))
            return raw.to_bytes(length, "big")
    raise ValueError("EBML vint overflow")


def _ebml_el(eid: int, body: bytes) -> bytes:
    nbytes = (eid.bit_length() + 7) // 8
    return eid.to_bytes(nbytes, "big") + _ebml_encode_vint(len(body)) + body


def _ebml_uint_body(v: int) -> bytes:
    return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")


def encode_minimal_mkv(
    duration_ms: float, width: int, height: int,
    doc_type: str = "matroska",
    video_codec: str = "V_VP9", audio_codec: str = "A_OPUS",
) -> bytes:
    """EBML header + Segment(Info + two TrackEntries) — metadata-
    complete, no Cluster data."""
    header = _ebml_el(
        0x1A45DFA3,
        _ebml_el(0x4286, b"\x01")  # EBMLVersion
        + _ebml_el(0x42F7, b"\x01")  # EBMLReadVersion
        + _ebml_el(0x4282, doc_type.encode())
        + _ebml_el(0x4287, b"\x04") + _ebml_el(0x4285, b"\x02"),
    )
    info = _ebml_el(
        0x1549A966,
        _ebml_el(0x2AD7B1, _ebml_uint_body(1_000_000))
        + _ebml_el(0x4489, struct.pack(">d", float(duration_ms))),
    )
    vtrack = _ebml_el(
        0xAE,
        _ebml_el(0xD7, b"\x01") + _ebml_el(0x83, b"\x01")
        + _ebml_el(0x86, video_codec.encode())
        + _ebml_el(
            0xE0,
            _ebml_el(0xB0, _ebml_uint_body(width))
            + _ebml_el(0xBA, _ebml_uint_body(height)),
        ),
    )
    atrack = _ebml_el(
        0xAE,
        _ebml_el(0xD7, b"\x02") + _ebml_el(0x83, b"\x02")
        + _ebml_el(0x86, audio_codec.encode()),
    )
    tracks = _ebml_el(0x1654AE6B, vtrack + atrack)
    return header + _ebml_el(0x18538067, info + tracks)


def encode_mp3_cbr(
    n_frames: int, bitrate_kbps: int = 128, sample_rate: int = 44100
) -> bytes:
    """``n_frames`` valid MPEG-1 layer III CBR frame headers with
    zero-filled payloads — header math is what the parser consumes."""
    br_idx = _MP3_BITRATE_V1_L3.index(bitrate_kbps)
    sr_idx = _MP3_RATES[3].index(sample_rate)
    h = (
        (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        | (br_idx << 12) | (sr_idx << 10) | (3 << 6)
    )
    header = struct.pack(">I", h)
    length = 144 * bitrate_kbps * 1000 // sample_rate
    frame = header + b"\x00" * (length - 4)
    return frame * n_frames


def encode_ogg_opus(
    duration_samples: int, channels: int = 1, pre_skip: int = 312
) -> bytes:
    """OpusHead BOS page + one EOS data page whose granule encodes the
    duration; every page carries a REAL Ogg CRC."""
    opus_head = (
        b"OpusHead" + bytes([1, channels]) + struct.pack("<H", pre_skip)
        + struct.pack("<I", 48000) + struct.pack("<h", 0) + b"\x00"
    )
    serial = 0x1234
    p0 = ogg_page(serial, [opus_head], 0, 0, 0x02)  # BOS
    p1 = ogg_page(serial, [b"OpusTags\x00\x00\x00\x00\x00\x00\x00\x00"], 0, 1, 0)
    p2 = ogg_page(serial, [b"\x00"], duration_samples + pre_skip, 2, 0x04)  # EOS
    return p0 + p1 + p2


# ---------------------------------------------------------------------------
# Spark surface

MEDIA_META_SCHEMA = (
    "doc_id bigint, container string, brand string, duration_ms bigint, "
    "width int, height int, video_codec string, audio_codec string, "
    "n_tracks int, sample_rate int, bitrate_kbps int, parse_ok boolean"
)


def synthesize_media_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, content): one container format per doc by residue —
    doc_id % 4: 0 → MP4, 1 → MKV/WebM, 2 → MP3 CBR, 3 → Ogg Opus —
    every metadata field a closed-form function of doc_id (see the
    'mediameta' oracle in plans/queries_similarity.py)."""

    def encode(d: int) -> bytes:
        r = d % 4
        if r == 0:
            return encode_minimal_mp4(
                duration_ms=(d * 7) % 5000 + 1000,
                width=320 + (d % 16) * 8,
                height=240 + (d % 9) * 16,
            )
        if r == 1:
            return encode_minimal_mkv(
                duration_ms=float((d * 11) % 9000 + 500),
                width=160 + (d % 32) * 4,
                height=120 + (d % 20) * 8,
                doc_type="webm" if d % 8 == 1 else "matroska",
            )
        if r == 2:
            kbps = (64, 96, 128, 192)[(d // 4) % 4]
            return encode_mp3_cbr(n_frames=10 + d % 20, bitrate_kbps=kbps)
        return encode_ogg_opus(duration_samples=4800 + (d % 100) * 480)

    return synth_leg(docs, encode)


def extract_media_meta_features(df: DataFrame) -> DataFrame:
    """Extract typed metadata from the binary column with the REAL
    container parsers. Unrecognized/malformed rows come back
    parse_ok=false with NULL fields — filter-first semantics for a
    curation pass."""
    return decode_leg(df, extract_media_meta, MEDIA_META_SCHEMA)
