"""Pure-Python/numpy MP4 (ISO-BMFF) sample extraction — no external codec.

Closes the dominant-container half of the boundary `video.py` declared
(MP4/WebM/MKV used to raise at one call site; AVI landed in round 9):
the ISO base-media file format stores every track's payload as SAMPLES
addressed by four `stbl` tables — `stsz` (sizes), `stsc` (sample→chunk
runs), `stco`/`co64` (chunk offsets), `stsd` (codec + entry header) —
and walking those tables is pure struct parsing. Frame EXTRACTION is
therefore container work, not codec work, and the extracted payloads
route to decoders this repo already owns:

- **'jpeg'** video sample entries (QuickTime Motion-JPEG / photo-JPEG
  in MP4): one ISO/IEC 10918 JPEG per sample, decoded by
  `operators/jpeg.py`; table-less frames get the T.81 Annex K typical
  tables injected by `avi._ensure_dht` (the same OpenDML convention
  MJPEG-in-MP4 muxers follow).
- **'raw '** video entries (uncompressed, depth 24): top-down packed
  RGB rows, width·3 bytes each — a numpy reshape.
- **'sowt'/'twos'** audio entries: little-/big-endian 16-bit PCM
  (the QuickTime uncompressed-audio pair) through numpy, the same
  sample semantics `operators/audio.py` pins for WAV.

Compressed codecs (avc1, hvc1, vp09, mp4a/AAC, ...) raise
NotImplementedError at the per-track boundary — the documented plug-in
point where ffmpeg/PyAV slots in — while the container walk, the other
track, and the features still work. For mp4a/AAC the boundary moved
down a layer in r11: the esds descriptor chain and
AudioSpecificConfig decode plus full access-unit addressing are
implemented (``extract_aac_track`` — profile/rate/channels/duration
and exact AU structure, the fields a curation pass filters on), and
only PCM synthesis remains external (the spectral Huffman codebooks
are ISO tabulated data; same provenance rule as operators/mp3.py). The box walk itself is shared with
`operators/mediameta.py` (`_mp4_boxes`), which parses the same files
header-only; this module is the payload path.

Spark surface mirrors avi.py: fixtures and features are Arrow-batched
``mapInPandas`` — memory bounded by the batch, parallelism = partition
parallelism, nothing driver-side. At 100 TB the demux is
embarrassingly parallel per file; bytes touched = moov + the routed
samples, and the one-pass table walk never materializes more than one
sample at a time beyond the decoded frames requested.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.bitio import MsbReader, MsbWriter
from rta_registrations_pyspark_glue_spark.operators.legs import decode_leg, synth_leg

from rta_registrations_pyspark_glue_spark.operators.avi import (
    _ensure_dht,
    _to_rgb,
    av_fixture,
    clip_features,
)
from rta_registrations_pyspark_glue_spark.operators.jpeg import (
    decode_jpeg,
    encode_baseline_jpeg,
)
from rta_registrations_pyspark_glue_spark.operators.mediameta import _mp4_boxes

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

#: codecs this demux can ROUTE (everything else is the documented
#: NotImplementedError boundary)
_VIDEO_ROUTED = {"jpeg", "raw "}
_AUDIO_ROUTED = {"sowt", "twos", ".mp3"}


# ---------------------------------------------------------------------------
# stbl table parsing


def _parse_stsd(buf: bytes, body: int) -> dict:
    """First sample-description entry: codec fourcc + the typed fields
    the routers need (dims for video; channels/bits/rate for audio)."""
    (n_entries,) = struct.unpack_from(">I", buf, body + 4)
    if n_entries < 1:
        raise ValueError("stsd with no entries")
    esize, = struct.unpack_from(">I", buf, body + 8)
    codec = buf[body + 12 : body + 16].decode("latin-1")
    entry = body + 16  # after size+fourcc
    if esize < 16 or body + 8 + esize > len(buf) + 1:
        raise ValueError("bad stsd entry size")
    # 6 reserved + 2 data_reference_index, then the class-specific part
    fields = entry + 8
    return {"codec": codec, "entry_off": fields, "entry_size": esize}


def _stsd_video_dims(buf: bytes, fields: int) -> tuple[int, int, int]:
    """(width, height, depth) from a VisualSampleEntry."""
    w, h = struct.unpack_from(">HH", buf, fields + 16)
    (depth,) = struct.unpack_from(">H", buf, fields + 66)
    return w, h, depth


def _stsd_audio_fmt(buf: bytes, fields: int) -> tuple[int, int, int]:
    """(channels, bits, sample_rate) from an AudioSampleEntry v0."""
    ch, bits = struct.unpack_from(">HH", buf, fields + 8)
    (rate_fx,) = struct.unpack_from(">I", buf, fields + 16)
    return ch, bits, rate_fx >> 16


def _parse_stsz(buf: bytes, body: int) -> tuple[int, list[int] | None]:
    uniform, count = struct.unpack_from(">II", buf, body + 4)
    if uniform:
        return count, None
    sizes = list(struct.unpack_from(f">{count}I", buf, body + 12))
    return count, sizes


def _parse_stsc(buf: bytes, body: int) -> list[tuple[int, int, int]]:
    (count,) = struct.unpack_from(">I", buf, body + 4)
    out = []
    for i in range(count):
        out.append(struct.unpack_from(">III", buf, body + 8 + 12 * i))
    return out


def _parse_stco(buf: bytes, body: int, wide: bool) -> list[int]:
    (count,) = struct.unpack_from(">I", buf, body + 4)
    fmt = ">Q" if wide else ">I"
    step = 8 if wide else 4
    return [
        struct.unpack_from(fmt, buf, body + 8 + step * i)[0]
        for i in range(count)
    ]


def _sample_layout(
    stsc: list[tuple[int, int, int]],
    chunk_offsets: list[int],
    n_samples: int,
    uniform_size: int,
    sizes: list[int] | None,
) -> list[tuple[int, int]]:
    """Flatten the stsc runs against the chunk-offset table into one
    (file_offset, size) per sample — the core ISO-BMFF addressing walk.
    stsc entries are (first_chunk, samples_per_chunk, desc_idx) runs,
    1-based, each applying until the next entry's first_chunk."""
    if not chunk_offsets or not stsc:
        return []
    out: list[tuple[int, int]] = []
    si = 0  # 0-based running sample index

    def size_of(i: int) -> int:
        return sizes[i] if sizes is not None else uniform_size

    for ri, (first, spc, _desc) in enumerate(stsc):
        nxt = stsc[ri + 1][0] if ri + 1 < len(stsc) else len(chunk_offsets) + 1
        if first < 1 or nxt <= first or spc < 1:
            raise ValueError("stsc runs not ascending")
        last = nxt - 1
        for ci in range(first, last + 1):
            if ci - 1 >= len(chunk_offsets):
                break
            pos = chunk_offsets[ci - 1]
            for _ in range(spc):
                if si >= n_samples:
                    return out
                sz = size_of(si)
                out.append((pos, sz))
                pos += sz
                si += 1
    if si < n_samples:
        raise ValueError(
            f"stsc/stco address only {si} of {n_samples} samples"
        )
    return out


# ---------------------------------------------------------------------------
# AAC (mp4a) — STRUCTURAL support: esds/AudioSpecificConfig parsing and
# access-unit extraction. PCM decode stays the documented plug-in
# boundary (the AAC spectral Huffman codebooks are ISO tabulated data
# this container has no codec library to recover from — the same
# provenance discipline as operators/mp3.py's granule boundary), but a
# curation pass filters on profile/rate/channels/duration, and THOSE
# need only the descriptor walk below.

#: ISO/IEC 14496-3 samplingFrequencyIndex table (Table 1.18; also
#: reproduced in RFC 6416 §7.1 and every ADTS writer) — structural
#: constants of the bitstream format, not codec tables. Index 13/14
#: are reserved; 15 = escape (explicit 24-bit rate follows in the ASC).
_AAC_SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350,
)

#: audioObjectType -> profile name (the common subset; anything else
#: reports "AOT <n>")
_AAC_PROFILES = {
    1: "AAC Main", 2: "AAC-LC", 3: "AAC SSR", 4: "AAC LTP",
    5: "HE-AAC (SBR)", 29: "HE-AACv2 (PS)",
}


def _read_desc(buf: bytes, pos: int) -> tuple[int, int, int]:
    """MPEG-4 descriptor header: tag byte + expandable length (up to
    four 7-bit groups, high bit = continuation). Returns (tag, length,
    body_pos)."""
    tag = buf[pos]
    pos += 1
    ln = 0
    for _ in range(4):
        b = buf[pos]
        pos += 1
        ln = (ln << 7) | (b & 0x7F)
        if not (b & 0x80):
            break
    return tag, ln, pos


def parse_audio_specific_config(asc: bytes) -> dict:
    """Decode an AudioSpecificConfig (ISO/IEC 14496-3 §1.6.2.1):
    audioObjectType (with the 31-escape), samplingFrequencyIndex (with
    the 15-escape explicit 24-bit rate), channelConfiguration, and —
    for the GA (AAC) object types — the frameLengthFlag that decides
    1024- vs 960-sample access units."""
    if len(asc) < 2:
        raise ValueError("AudioSpecificConfig under 2 bytes")
    bits = MsbReader(asc)
    aot = bits.read(5)
    if aot == 31:
        aot = 32 + bits.read(6)
    fi = bits.read(4)
    if fi == 15:
        rate = bits.read(24)
    elif fi < len(_AAC_SAMPLE_RATES):
        rate = _AAC_SAMPLE_RATES[fi]
    else:
        raise ValueError(f"reserved samplingFrequencyIndex {fi}")
    channels = bits.read(4)
    frame_length = 1024
    if aot in (1, 2, 3, 4, 6, 7, 17, 19, 20, 21, 22, 23):
        # GASpecificConfig starts with frameLengthFlag
        if bits.read(1):
            frame_length = 960
    return {
        "object_type": aot,
        "profile": _AAC_PROFILES.get(aot, f"AOT {aot}"),
        "sample_rate": rate,
        "channels": channels,
        "frame_length": frame_length,
    }


def _parse_esds(buf: bytes, fields: int, entry_end: int) -> dict | None:
    """Find and decode the esds box among an AudioSampleEntry's child
    boxes (children start after the 20-byte v0 audio fields), then walk
    ES_Descriptor -> DecoderConfigDescriptor -> DecoderSpecificInfo and
    decode the AudioSpecificConfig. Returns None when no esds child
    exists (PCM-style entries)."""
    children = fields + 20
    if children >= entry_end:
        return None
    for typ, body, bend in _mp4_boxes(buf, children, entry_end):
        if typ != b"esds":
            continue
        pos = body + 4  # skip FullBox version/flags
        tag, ln, pos = _read_desc(buf, pos)
        if tag != 0x03:
            raise ValueError(f"esds: expected ES_Descriptor, got tag {tag}")
        es_end = pos + ln
        flags = buf[pos + 2]
        pos += 3  # ES_ID (2) + flags byte
        if flags & 0x80:
            pos += 2  # dependsOn_ES_ID
        if flags & 0x40:
            pos += 1 + buf[pos]  # URLstring
        if flags & 0x20:
            pos += 2  # OCR_ES_ID
        while pos < es_end:
            tag, ln, pos = _read_desc(buf, pos)
            if tag != 0x04:  # DecoderConfigDescriptor
                pos += ln
                continue
            dcd_end = pos + ln
            oti = buf[pos]
            pos += 13  # OTI(1) streamType(1) bufferSize(3) max/avg(8)
            while pos < dcd_end:
                tag, ln, pos = _read_desc(buf, pos)
                if tag == 0x05:  # DecoderSpecificInfo = the ASC
                    info = parse_audio_specific_config(buf[pos : pos + ln])
                    info["object_type_indication"] = oti
                    return info
                pos += ln
            raise ValueError("esds: DecoderConfig without DecoderSpecificInfo")
        raise ValueError("esds: no DecoderConfigDescriptor")
    return None


def parse_adts(content: bytes) -> dict:
    """STRUCTURAL walk of a raw ADTS stream (the .aac file / streaming
    carrier of AAC): per-frame 12-bit syncword, 7/9-byte header
    (profile = audioObjectType−1, the same 14496-3 frequency-index
    table, 3-bit channel configuration, 13-bit frame length including
    the header, optional CRC-16 when protection_absent=0), payload =
    the raw access unit. Returns the same structural dict shape as the
    MP4 path (container='adts'); a frame with
    number_of_raw_data_blocks>0 counts 1+n access units but its
    payload is kept as one span (block boundaries need the codec's
    bitstream parse — the decode boundary, not the container's)."""
    buf = content
    pos = 0
    aus: list[int] = []
    byte_sum = 0
    total = 0
    cfg: dict | None = None
    n_units = 0
    while pos + 7 <= len(buf):
        if not (buf[pos] == 0xFF and (buf[pos + 1] & 0xF6) == 0xF0):
            raise ValueError(f"ADTS sync lost at byte {pos}")
        protection_absent = buf[pos + 1] & 1
        profile2 = (buf[pos + 2] >> 6) & 0x3
        fi = (buf[pos + 2] >> 2) & 0xF
        chan = ((buf[pos + 2] & 0x1) << 2) | ((buf[pos + 3] >> 6) & 0x3)
        frame_len = (
            ((buf[pos + 3] & 0x3) << 11)
            | (buf[pos + 4] << 3)
            | ((buf[pos + 5] >> 5) & 0x7)
        )
        n_blocks = buf[pos + 6] & 0x3
        hdr = 7 if protection_absent else 9
        if frame_len < hdr or pos + frame_len > len(buf):
            raise ValueError("ADTS frame length beyond EOF")
        if fi >= len(_AAC_SAMPLE_RATES):
            raise ValueError(f"reserved ADTS samplingFrequencyIndex {fi}")
        this = {
            "object_type": profile2 + 1,
            "profile": _AAC_PROFILES.get(profile2 + 1, f"AOT {profile2 + 1}"),
            "sample_rate": _AAC_SAMPLE_RATES[fi],
            "channels": chan,
            "frame_length": 1024,  # ADTS carries no frameLengthFlag
        }
        if cfg is None:
            cfg = this
        elif this != cfg:
            raise ValueError("ADTS stream changes configuration mid-stream")
        payload = buf[pos + hdr : pos + frame_len]
        aus.append(len(payload))
        total += len(payload)
        byte_sum += int(np.frombuffer(payload, np.uint8).sum())
        n_units += 1 + n_blocks
        pos += frame_len
    if cfg is None:
        raise ValueError("no ADTS frames")
    if pos != len(buf):
        raise ValueError("trailing garbage after last ADTS frame")
    return {
        "container": "adts",
        **cfg,
        "n_access_units": n_units,
        "au_sizes": aus,
        "au_bytes": total,
        "au_byte_sum": byte_sum,
        "duration_samples": n_units * cfg["frame_length"],
    }


def encode_adts(
    aus: list[bytes],
    freq_index: int = 4,
    channels: int = 2,
    object_type: int = 2,
    protected: bool = False,
) -> bytes:
    """Fixture-grade ADTS writer: one header per access unit, CRC bytes
    zeroed when ``protected`` (the parser skips, never checks, CRC —
    matching its structural scope)."""
    out = bytearray()
    hdr = 9 if protected else 7
    for au in aus:
        w = MsbWriter().write(0xFFF, 12).write(0, 3)  # sync, MPEG-4, layer 0
        w.write(0 if protected else 1, 1)  # protection_absent
        w.write(object_type - 1, 2).write(freq_index, 4).write(0, 1)
        w.write(channels, 3).write(0, 4)  # + original/home/copyright bits
        w.write(hdr + len(au), 13).write(0x7FF, 11)  # length, VBR fullness
        w.write(0, 18 if protected else 2)  # no extra raw blocks, zero CRC
        out += w.bytes() + au
    return bytes(out)


def extract_aac_track(content: bytes) -> dict:
    """STRUCTURAL extraction of an AAC stream from EITHER carrier: the
    first mp4a track of an ISO-BMFF file (esds + stbl addressing) or a
    raw ADTS stream (sniffed by the 12-bit syncword) — the per-track
    facts a 100 TB curation pass filters on (profile, rate, channels,
    AU count/bytes, exact duration in samples) without any PCM decode.
    Raises ValueError if the input is neither carrier or has no AAC.

    Returns {container, profile, object_type, sample_rate, channels,
    frame_length, n_access_units, au_sizes, au_bytes, au_byte_sum,
    duration_samples}; ``au_byte_sum`` is the plain byte sum of all AU
    payloads — a cheap integrity pin that any mis-addressed stsc/stco
    (or frame-length) walk shifts."""
    if len(content) >= 2 and content[0] == 0xFF and (content[1] & 0xF6) == 0xF0:
        return parse_adts(content)
    try:
        out = _extract_aac_inner(content)
        out["container"] = "mp4"
        return out
    except struct.error as e:
        raise ValueError(f"truncated MP4 structure: {e}") from None
    except IndexError:
        # bytes indexing in the descriptor walk ran off the end
        # (descriptor lengths lie on corrupted input) — same envelope
        raise ValueError("truncated esds descriptor chain") from None


def _extract_aac_inner(content: bytes) -> dict:
    buf = content
    tracks: list[dict] = []
    track: dict = {}

    def walk(pos: int, end: int) -> None:
        nonlocal track
        for typ, body, bend in _mp4_boxes(buf, pos, end):
            if typ == b"hdlr":
                track["class"] = buf[body + 8 : body + 12]
            elif typ == b"stsd":
                track["stsd"] = _parse_stsd(buf, body)
                track["stsd_body"] = body
            elif typ == b"stsz":
                track["n_samples"], track["sizes"] = _parse_stsz(buf, body)
                (track["uniform"],) = struct.unpack_from(">I", buf, body + 4)
            elif typ == b"stsc":
                track["stsc"] = _parse_stsc(buf, body)
            elif typ == b"stco":
                track["chunks"] = _parse_stco(buf, body, wide=False)
            elif typ == b"co64":
                track["chunks"] = _parse_stco(buf, body, wide=True)
            elif typ in _CONTAINERS:
                if typ == b"trak":
                    track = {}
                walk(body, bend)
                if typ == b"trak":
                    tracks.append(track)

    walk(0, len(buf))
    aac = next(
        (
            t
            for t in tracks
            if t.get("class") == b"soun"
            and t.get("stsd", {}).get("codec") == "mp4a"
        ),
        None,
    )
    if aac is None:
        raise ValueError("no mp4a audio track")
    fields = aac["stsd"]["entry_off"]
    entry_end = aac["stsd_body"] + 8 + aac["stsd"]["entry_size"]
    cfg = _parse_esds(buf, fields, entry_end)
    if cfg is None:
        raise ValueError("mp4a entry without esds")
    layout = _sample_layout(
        aac.get("stsc", []), aac.get("chunks", []),
        aac.get("n_samples", 0), aac.get("uniform", 0), aac.get("sizes"),
    )
    total = 0
    byte_sum = 0
    sizes = []
    for off, sz in layout:
        if off + sz > len(buf):
            raise ValueError("AAC access unit beyond EOF")
        sizes.append(sz)
        total += sz
        byte_sum += int(np.frombuffer(buf[off : off + sz], np.uint8).sum())
    return {
        "profile": cfg["profile"],
        "object_type": cfg["object_type"],
        "sample_rate": cfg["sample_rate"],
        "channels": cfg["channels"],
        "frame_length": cfg["frame_length"],
        "n_access_units": len(layout),
        "au_sizes": sizes,
        "au_bytes": total,
        "au_byte_sum": byte_sum,
        "duration_samples": len(layout) * cfg["frame_length"],
    }


# ---------------------------------------------------------------------------
# Demux


def demux_mp4(content: bytes) -> dict:
    """Parse an ISO-BMFF file, extract every addressed sample of the
    first video and first audio track, and ROUTE payloads to owned
    decoders: 'jpeg' → operators/jpeg (Annex-K injection for table-less
    frames), 'raw ' depth-24 → packed top-down RGB, 'sowt'/'twos' →
    LE/BE int16 PCM. Returns {width, height, video_codec, frames
    [HxWx3 uint8], audio (n, ch) int16 | None, audio_codec, n_samples}.
    Compressed codecs raise NotImplementedError at the track boundary.
    The declared failure envelope is ValueError / NotImplementedError —
    truncated fixed-width fields (struct.error) are converted at this
    boundary so callers never see the internals' exception types."""
    try:
        return _demux_mp4_inner(content)
    except struct.error as e:
        raise ValueError(f"truncated MP4 structure: {e}") from None


def _demux_mp4_inner(content: bytes) -> dict:
    buf = content
    tracks: list[dict] = []
    track: dict = {}
    saw_ftyp = False

    def walk(pos: int, end: int) -> None:
        nonlocal track, saw_ftyp
        for typ, body, bend in _mp4_boxes(buf, pos, end):
            if typ == b"ftyp":
                saw_ftyp = True
            elif typ == b"hdlr":
                track["class"] = buf[body + 8 : body + 12]
            elif typ == b"stsd":
                track["stsd"] = _parse_stsd(buf, body)
            elif typ == b"stsz":
                track["n_samples"], track["sizes"] = _parse_stsz(buf, body)
                (track["uniform"],) = struct.unpack_from(">I", buf, body + 4)
            elif typ == b"stsc":
                track["stsc"] = _parse_stsc(buf, body)
            elif typ == b"stco":
                track["chunks"] = _parse_stco(buf, body, wide=False)
            elif typ == b"co64":
                track["chunks"] = _parse_stco(buf, body, wide=True)
            elif typ in _CONTAINERS:
                if typ == b"trak":
                    track = {}
                walk(body, bend)
                if typ == b"trak":
                    tracks.append(track)

    walk(0, len(buf))
    if not saw_ftyp:
        raise ValueError("MP4 without ftyp")

    out = {
        "width": None, "height": None, "video_codec": None, "frames": [],
        "audio": None, "audio_codec": None, "n_samples": 0,
    }
    vide = next((t for t in tracks if t.get("class") == b"vide"), None)
    soun = next((t for t in tracks if t.get("class") == b"soun"), None)

    if vide is not None and "stsd" in vide:
        codec = vide["stsd"]["codec"]
        out["video_codec"] = codec
        if codec not in _VIDEO_ROUTED:
            # name the ACTUAL stream where the config is structurally
            # readable (r11): avc1/avc3 via the SPS, hvc1/hev1 via the
            # hvcC+SPS — the operator of a 100 TB pipeline reads the
            # error and knows profile/dims without a decoder
            detail = ""
            try:
                if codec in ("avc1", "avc3"):
                    from rta_registrations_pyspark_glue_spark.operators.h264 import (
                        extract_h264_track,
                    )

                    c = extract_h264_track(buf)
                    detail = (
                        f" ({c['profile']} L{c['level_idc']} "
                        f"{c['width']}x{c['height']}, "
                        f"{c['n_samples']} samples)"
                    )
                elif codec in ("hvc1", "hev1"):
                    from rta_registrations_pyspark_glue_spark.operators.hevc import (
                        extract_hevc_track,
                    )

                    c = extract_hevc_track(buf)
                    detail = (
                        f" ({c['profile']} {c['tier']} L{c['level_idc']} "
                        f"{c['width']}x{c['height']}, "
                        f"{c['n_samples']} samples)"
                    )
            except ValueError:
                pass
            raise NotImplementedError(
                f"MP4 video codec {codec!r}{detail}: sample extraction and "
                "structural config parsing work (h264.extract_h264_track / "
                "hevc.extract_hevc_track); frame decode needs an external "
                "codec (ffmpeg/PyAV plug-in boundary; 'jpeg' and 'raw ' "
                "route natively)"
            )
        w, h, depth = _stsd_video_dims(buf, vide["stsd"]["entry_off"])
        out["width"], out["height"] = w, h
        layout = _sample_layout(
            vide.get("stsc", []), vide.get("chunks", []),
            vide.get("n_samples", 0), vide.get("uniform", 0),
            vide.get("sizes"),
        )
        for off, sz in layout:
            if off + sz > len(buf):
                raise ValueError("sample beyond EOF")
            payload = buf[off : off + sz]
            if codec == "jpeg":
                out["frames"].append(_to_rgb(decode_jpeg(_ensure_dht(payload))))
            else:  # 'raw '
                if depth != 24:
                    raise NotImplementedError(
                        f"'raw ' depth {depth}: only 24-bit packed RGB"
                    )
                if sz != w * h * 3:
                    raise ValueError("raw sample size != w*h*3")
                out["frames"].append(
                    np.frombuffer(payload, np.uint8).reshape(h, w, 3).copy()
                )

    if soun is not None and "stsd" in soun:
        codec = soun["stsd"]["codec"]
        out["audio_codec"] = codec
        if codec == "mp4a":
            # Name the ACTUAL stream in the boundary error: the esds
            # walk is implemented (extract_aac_track gives profile /
            # rate / channels / AU structure without decode); only the
            # PCM synthesis needs the external codec.
            detail = ""
            try:
                cfg = extract_aac_track(buf)
                detail = (
                    f" ({cfg['profile']} {cfg['sample_rate']} Hz "
                    f"x{cfg['channels']}, {cfg['n_access_units']} AUs)"
                )
            except ValueError:
                pass
            raise NotImplementedError(
                f"MP4 audio codec 'mp4a'{detail}: access-unit extraction "
                "and esds config parsing work (extract_aac_track); PCM "
                "decode needs an external AAC codec (ffmpeg/PyAV plug-in "
                "boundary — the spectral Huffman codebooks are ISO "
                "tabulated data, same provenance rule as mp3.py)"
            )
        if codec not in _AUDIO_ROUTED:
            raise NotImplementedError(
                f"MP4 audio codec {codec!r}: 'sowt'/'twos' PCM and '.mp3' "
                "route natively; other compressed audio is the plug-in "
                "boundary"
            )
        if codec == ".mp3":
            # MP3-in-MP4 ('.mp3' sample entry): samples are whole MPEG
            # frames — reassemble the elementary stream and hand it to
            # the frame decoder (operators/mp3.py: silent granules are
            # exact; Huffman granules raise at ITS documented boundary)
            from rta_registrations_pyspark_glue_spark.operators.mp3 import (
                decode_mp3,
            )

            layout = _sample_layout(
                soun.get("stsc", []), soun.get("chunks", []),
                soun.get("n_samples", 0), soun.get("uniform", 0),
                soun.get("sizes"),
            )
            for off, sz in layout:
                if off + sz > len(buf):
                    raise ValueError("audio sample beyond EOF")
            clip = decode_mp3(b"".join(buf[o : o + s] for o, s in layout))
            out["audio"] = clip["pcm"]
            out["n_samples"] = int(clip["pcm"].shape[0])
            return out
        ch, bits, _rate = _stsd_audio_fmt(buf, soun["stsd"]["entry_off"])
        if bits != 16 or ch < 1:
            raise NotImplementedError(f"PCM {bits}-bit x{ch}: 16-bit only")
        layout = _sample_layout(
            soun.get("stsc", []), soun.get("chunks", []),
            soun.get("n_samples", 0), soun.get("uniform", 0),
            soun.get("sizes"),
        )
        for off, sz in layout:
            if off + sz > len(buf):
                raise ValueError("audio sample beyond EOF")
        raw = b"".join(buf[o : o + s] for o, s in layout)
        dt = "<i2" if codec == "sowt" else ">i2"
        pcm = np.frombuffer(raw, dt).astype(np.int16)
        out["audio"] = pcm.reshape(-1, ch)
        out["n_samples"] = out["audio"].shape[0]

    return out


# ---------------------------------------------------------------------------
# Fixture encoder


def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + typ + body


def _full(typ: bytes, body: bytes) -> bytes:
    return _box(typ, b"\x00\x00\x00\x00" + body)


def _desc_write(tag: int, body: bytes) -> bytes:
    """MPEG-4 descriptor with minimal expandable-length encoding (the
    inverse of _read_desc)."""
    n = len(body)
    groups = [n & 0x7F]
    n >>= 7
    while n:
        groups.append(0x80 | (n & 0x7F))
        n >>= 7
    return bytes([tag]) + bytes(reversed(groups)) + body


def _make_esds(freq_index: int, channels: int, object_type: int = 2) -> bytes:
    """A real esds box: ES_Descriptor(0x03) > DecoderConfigDescriptor
    (0x04, OTI 0x40 = MPEG-4 audio, streamType 5) > DecoderSpecificInfo
    (0x05) carrying a 2-byte AAC AudioSpecificConfig, plus the
    SLConfigDescriptor(0x06, predefined=2) every MP4 muxer writes."""
    asc = bytes(
        [
            (object_type << 3) | (freq_index >> 1),
            ((freq_index & 1) << 7) | (channels << 3),
        ]
    )
    dsi = _desc_write(0x05, asc)
    dcd = _desc_write(
        0x04, bytes([0x40, 0x15]) + b"\x00" * 11 + dsi
    )
    sl = _desc_write(0x06, b"\x02")
    es = _desc_write(0x03, struct.pack(">HB", 2, 0) + dcd + sl)
    return _full(b"esds", es)


def encode_mp4_av(
    frames: list,
    *,
    codec: str = "jpeg",
    frame_size: tuple[int, int] | None = None,
    audio: np.ndarray | None = None,
    audio_rate: int = 8000,
    audio_codec: str = "sowt",
    use_co64: bool = False,
    aac_freq_index: int = 4,
    aac_channels: int = 2,
    aac_object_type: int = 2,
    avcc: bytes | None = None,
    config_fourcc: bytes = b"avcC",
) -> bytes:
    """Fixture-grade ISO-BMFF writer with REAL sample tables: mdat
    carries the actual payloads, and stsd/stts/stsc/stsz/stco (or co64
    when ``use_co64``) address them. Video samples are split across
    TWO chunks (frame 0 alone, the rest together) so the stsc run walk
    is exercised, and audio PCM frames go in two 32-sample chunks
    interleaved between them — the classic progressive-download
    interleave. ``frames``: HxW gray or HxWx3 RGB uint8 arrays (or
    pre-encoded JPEG bytes with ``frame_size``); ``codec``: 'jpeg' or
    'raw ' (packed top-down RGB24); ``audio``: (n,) or (n, ch) int16,
    written 'sowt' (LE) or 'twos' (BE)."""
    if frame_size is not None:
        h, w = frame_size
    else:
        h, w = frames[0].shape[:2]

    payloads: list[bytes] = []
    if codec == "jpeg":
        for f in frames:
            payloads.append(f if isinstance(f, bytes) else encode_baseline_jpeg(f))
        depth = 24
    elif codec == "raw ":
        for f in frames:
            if f.ndim != 3:
                raise ValueError("'raw ' frames must be HxWx3")
            payloads.append(np.ascontiguousarray(f, np.uint8).tobytes())
        depth = 24
    elif codec in ("avc1", "hvc1"):
        # AVC/HEVC fixture: ``frames`` are pre-encoded length-prefixed
        # NAL sample payloads (operators/h264.py / hevc.py build them);
        # requires frame_size and a config record (avcC / hvcC via
        # ``avcc`` + ``config_fourcc``) for the sample entry
        if frame_size is None or avcc is None:
            raise ValueError(f"{codec!r} needs frame_size and avcc")
        payloads = [bytes(f) for f in frames]
        depth = 24
    else:
        raise ValueError(f"fixture codec {codec!r}")

    aac_aus: list[bytes] | None = None
    if audio_codec == "mp4a" and audio is not None:
        # AAC-in-MP4 fixture: ``audio`` is a list of ACCESS UNITS
        # (opaque bytes — the payload is the decode boundary; the
        # structure is real). Each AU is one sample; split across two
        # chunks so the stsc walk runs. The esds written below carries
        # a real descriptor chain + AudioSpecificConfig.
        aac_aus = [bytes(a) for a in audio]
        ch = int(aac_channels)
        n_pcm = len(aac_aus)
        half = max(1, n_pcm // 2)
        a_chunks = [b"".join(aac_aus[:half]), b"".join(aac_aus[half:])]
        mp3_sizes = [len(a) for a in aac_aus]
    elif audio_codec == ".mp3" and audio is not None:
        # MP3-in-MP4 fixture: ``audio`` is the raw elementary stream
        # (bytes); each half is one sample so the layout walk still runs
        es = bytes(audio)
        ch, n_pcm = 1, 2
        a_chunks = [es[: len(es) // 2], es[len(es) // 2 :]]
        mp3_sizes = [len(c) for c in a_chunks]
    elif audio is not None:
        a = np.asarray(audio, np.int16)
        if a.ndim == 1:
            a = a[:, None]
        ch = a.shape[1]
        dt = "<i2" if audio_codec == "sowt" else ">i2"
        pcm = a.astype(dt).tobytes()
        n_pcm = a.shape[0]
        a_chunks = [
            pcm[: (n_pcm // 2) * 2 * ch],
            pcm[(n_pcm // 2) * 2 * ch :],
        ]
        mp3_sizes = None
    else:
        ch, n_pcm, a_chunks, mp3_sizes = 0, 0, [], None

    # mdat layout: [v0][a0][v1..][a1] — offsets are absolute, so lay
    # out the file as ftyp + mdat + moov (moov-at-end, the capture
    # layout) and compute stco against the known prefix.
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    v_chunks = [b"".join(payloads[:1]), b"".join(payloads[1:])]
    mdat_body = v_chunks[0]
    offs = {"v": [len(ftyp) + 8], "a": []}
    if a_chunks:
        offs["a"].append(len(ftyp) + 8 + len(mdat_body))
        mdat_body += a_chunks[0]
    if len(payloads) > 1:
        offs["v"].append(len(ftyp) + 8 + len(mdat_body))
        mdat_body += v_chunks[1]
    if a_chunks:
        offs["a"].append(len(ftyp) + 8 + len(mdat_body))
        mdat_body += a_chunks[1]
    mdat = _box(b"mdat", mdat_body)

    ts = 1000
    dur = max(1, len(payloads)) * 40  # 25 fps in a 1 kHz timescale

    def stco_box(offsets: list[int]) -> bytes:
        if use_co64:
            return _full(
                b"co64",
                struct.pack(">I", len(offsets))
                + b"".join(struct.pack(">Q", o) for o in offsets),
            )
        return _full(
            b"stco",
            struct.pack(">I", len(offsets))
            + b"".join(struct.pack(">I", o) for o in offsets),
        )

    def trak(
        cls: bytes, fourcc: str, tid: int, *, stsd_entry: bytes,
        stts: list[tuple[int, int]], stsc: list[tuple[int, int, int]],
        uniform: int, sizes: list[int] | None, n_samples: int,
        offsets: list[int], tdur: int,
    ) -> bytes:
        tkhd = _box(
            b"tkhd",
            struct.pack(">B3B", 0, 0, 0, 7) + struct.pack(">II", 0, 0)
            + struct.pack(">I4xI", tid, tdur) + b"\x00" * 8
            + struct.pack(">HH", 0, 0) + struct.pack(">H2x", 0x0100)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", (w if cls == b"vide" else 0) << 16,
                          (h if cls == b"vide" else 0) << 16),
        )
        mdhd = _box(
            b"mdhd",
            struct.pack(">B3x", 0) + struct.pack(">II", 0, 0)
            + struct.pack(">II", ts, tdur) + struct.pack(">HH", 0x55C4, 0),
        )
        hdlr = _box(b"hdlr", struct.pack(">B3x4x", 0) + cls + b"\x00" * 12 + b"\x00")
        stsd = _full(
            b"stsd", struct.pack(">I", 1) + _box(fourcc.encode("latin-1"), stsd_entry)
        )
        stts_b = _full(
            b"stts",
            struct.pack(">I", len(stts))
            + b"".join(struct.pack(">II", c, d) for c, d in stts),
        )
        stsc_b = _full(
            b"stsc",
            struct.pack(">I", len(stsc))
            + b"".join(struct.pack(">III", f, s, d) for f, s, d in stsc),
        )
        if sizes is None:
            stsz_b = _full(b"stsz", struct.pack(">II", uniform, n_samples))
        else:
            stsz_b = _full(
                b"stsz",
                struct.pack(">II", 0, n_samples)
                + b"".join(struct.pack(">I", s) for s in sizes),
            )
        mhd = (
            _full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0))
            if cls == b"vide"
            else _full(b"smhd", struct.pack(">HH", 0, 0))
        )
        # url box: version 0, flags 0x000001 = media is self-contained
        dref = _full(
            b"dref", struct.pack(">I", 1) + _box(b"url ", b"\x00\x00\x00\x01")
        )
        dinf = _box(b"dinf", dref)
        stbl = _box(b"stbl", stsd + stts_b + stsc_b + stsz_b + stco_box(offsets))
        minf = _box(b"minf", mhd + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"trak", tkhd + mdia)

    v_entry = (
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16 + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000) + b"\x00" * 4
        + struct.pack(">H", 1) + b"\x00" * 32
        + struct.pack(">Hh", depth, -1)
    )
    if avcc is not None:
        v_entry += _box(config_fourcc, avcc)
    v_stsc = [(1, 1, 1)] + ([(2, len(payloads) - 1, 1)] if len(payloads) > 1 else [])
    traks = trak(
        b"vide", codec, 1, stsd_entry=v_entry,
        stts=[(len(payloads), 40)], stsc=v_stsc, uniform=0,
        sizes=[len(p) for p in payloads], n_samples=len(payloads),
        offsets=offs["v"], tdur=dur,
    )
    if audio is not None:
        a_entry = (
            b"\x00" * 6 + struct.pack(">H", 1)
            + b"\x00" * 8 + struct.pack(">HH", ch, 16) + b"\x00" * 4
            + struct.pack(">I", audio_rate << 16)
        )
        if aac_aus is not None:
            a_entry += _make_esds(aac_freq_index, aac_channels,
                                  aac_object_type)
            n_aus = len(aac_aus)
            half = max(1, n_aus // 2)
            a_stsc = [(1, half, 1)]
            if n_aus > half:
                a_stsc.append((2, n_aus - half, 1))
            traks += trak(
                b"soun", audio_codec, 2, stsd_entry=a_entry,
                stts=[(n_aus, 1)], stsc=a_stsc, uniform=0,
                sizes=mp3_sizes, n_samples=n_aus, offsets=offs["a"],
                tdur=n_aus,
            )
        elif mp3_sizes is not None:
            a_stsc = [(1, 1, 1), (2, 1, 1)]
            traks += trak(
                b"soun", audio_codec, 2, stsd_entry=a_entry,
                stts=[(2, 1)], stsc=a_stsc, uniform=0, sizes=mp3_sizes,
                n_samples=2, offsets=offs["a"], tdur=2,
            )
        else:
            half = n_pcm // 2
            a_stsc = [(1, half, 1), (2, n_pcm - half, 1)]
            traks += trak(
                b"soun", audio_codec, 2, stsd_entry=a_entry,
                stts=[(n_pcm, 1)], stsc=a_stsc, uniform=2 * ch, sizes=None,
                n_samples=n_pcm, offsets=offs["a"], tdur=n_pcm,
            )

    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0) + struct.pack(">II", 0, 0)
        + struct.pack(">II", ts, dur)
        + struct.pack(">IH2x", 0x00010000, 0x0100) + b"\x00" * 8
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 3),
    )
    moov = _box(b"moov", mvhd + traks)
    return ftyp + mdat + moov


# ---------------------------------------------------------------------------
# Spark surface

MP4_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, codec string, "
    "pix_sum bigint, n_audio bigint, audio_sum bigint, decode_ok boolean"
)


def synthesize_mp4_docs(
    docs: DataFrame, size: int = 16, n_frames: int = 2
) -> DataFrame:
    """(doc_id, content): a deterministic two-track MP4 per doc, codec
    alternating by parity so ONE oracle kind pins both routed paths
    (the avi.synthesize_avi_docs convention, same closed forms):

    - even doc_id → **'jpeg'**: solid-gray frames ``v_f = (doc_id·37 +
      f·11) % 256`` (DC-only decode is exact) → ``pix_sum =
      3·size²·Σ_f v_f``; audio written **'sowt'** (LE).
    - odd doc_id → **'raw '**: per-pixel ``(doc_id·7 + f·11 + p·3 + c)
      % 256`` packed RGB; audio written **'twos'** (BE) so both PCM
      byte orders ride the gate.

    Both carry mono 16-bit PCM, sample ``s`` of 64 = ``((doc_id·3 + s)
    % 256 − 128)·4`` — identical to the AVI leg, so a routing bug in
    either container is distinguishable from a decoder bug."""

    def encode(d: int) -> bytes:
        frames, aud = av_fixture(d, size, n_frames)
        if d % 2 == 0:
            return encode_mp4_av(frames, codec="jpeg", audio=aud, audio_codec="sowt")
        return encode_mp4_av(frames, codec="raw ", audio=aud, audio_codec="twos")

    return synth_leg(docs, encode)


def demux_mp4_features(df: DataFrame) -> DataFrame:
    """Demux + route the binary column with the REAL ISO-BMFF walker
    and emit container-level features: dimensions, frame count, video
    codec, exact RGB pixel sum over all frames, audio sample count and
    sum. Undecodable rows come back decode_ok=false with NULLs."""
    return decode_leg(
        df, lambda b: clip_features(demux_mp4(b), "video_codec"), MP4_SCHEMA
    )


AAC_SCHEMA = (
    "doc_id bigint, profile string, sample_rate int, channels int, "
    "frame_length int, n_aus int, au_bytes bigint, au_byte_sum bigint, "
    "duration_samples bigint, parse_ok boolean"
)


def synthesize_aac_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, content): a deterministic AAC-in-MP4 per doc — a real
    esds descriptor chain (AudioSpecificConfig: AAC-LC, frequency index
    ``doc_id % 13``, ``1 + doc_id % 2`` channels) addressing
    ``3 + doc_id % 5`` access units whose payload bytes are the closed
    form ``(doc_id + 3k + i) % 256`` (AU k, byte i) with AU sizes
    ``16 + (doc_id*13 + k*7) % 32``. The payloads are OPAQUE by design:
    AAC PCM decode is the documented plug-in boundary; everything the
    oracle pins here (config fields, AU structure, byte sums) is what
    the structural walk must recover exactly. A one-frame JPEG video
    track rides along so the fixture stays a well-formed two-track MP4."""

    def encode(d: int) -> bytes:
        aus = []
        for k in range(3 + d % 5):
            size = 16 + (d * 13 + k * 7) % 32
            i = np.arange(size, dtype=np.int64)
            aus.append(((d + 3 * k + i) % 256).astype(np.uint8).tobytes())
        frame = np.full((8, 8), (d * 37) % 256, np.uint8)
        return encode_mp4_av(
            [frame], codec="jpeg", audio=aus, audio_codec="mp4a",
            aac_freq_index=d % 13, aac_channels=1 + d % 2,
        )

    return synth_leg(docs, encode)


def _aac_features(content: bytes) -> dict:
    info = extract_aac_track(content)
    return {**info, "n_aus": info["n_access_units"]}


def extract_aac_features(df: DataFrame) -> DataFrame:
    """Run the structural AAC walk (esds config + access-unit layout)
    over the binary column and emit the curation-facing fields. Rows
    whose container or descriptors fail to parse come back
    parse_ok=false with NULLs — the decode boundary itself is never hit
    here because no PCM is synthesized."""
    return decode_leg(df, _aac_features, AAC_SCHEMA)
