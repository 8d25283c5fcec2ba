"""Pure-Python/numpy AVI (RIFF) container demux — no external codec.

Closes part of the container-video boundary `video.py` declared
(MP4/WebM/MKV/AVI used to raise at one call site): AVI is RIFF — the
same chunk grammar `operators/audio.py` already walks for WAV — and
its two evergreen payloads are decodable with machinery this repo
already owns:

- **MJPG** (Motion JPEG): one ISO/IEC 10918 JPEG per ``00dc`` chunk,
  decoded by `operators/jpeg.py`. Real-world MJPG frames routinely
  OMIT the DHT segment (the OpenDML de-facto convention: the T.81
  Annex K "typical" Huffman tables are implied); `_ensure_dht`
  injects those exact tables when no DHT is present, pinned by a
  hand-built headerless vector in tests/test_avi.py.
- **BI_RGB DIBs** (``biCompression == 0``): uncompressed bottom-up
  (or top-down when ``biHeight`` is negative) BGR/BGRX/palettized
  rows, 4-byte-aligned stride — pure numpy reshapes.

An interleaved ``NNwb`` PCM/float/G.711 audio stream decodes through
the WAV sample decoders (`operators/audio.py`) driven by the
``auds`` stream's WAVEFORMATEX ``strf``. Compressed video fourccs
(cvid, DX50, H264, ...) raise NotImplementedError at the per-stream
boundary — the documented plug-in point where ffmpeg/PyAV slots in —
while the container walk, other streams, and features still work.

Spark surface mirrors video.py: fixtures and features are
Arrow-batched ``mapInPandas`` — memory bounded by the batch,
parallelism = partition parallelism, nothing driver-side.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.legs import decode_leg, synth_leg

# ---------------------------------------------------------------------------
# T.81 Annex K "typical" Huffman tables, as a ready-to-splice DHT
# segment (4 tables: DC/AC luminance as class:id 0:0/1:0, DC/AC
# chrominance 0:1/1:1). Emitted verbatim by every mainstream MJPEG
# encoder that strips per-frame tables.

_K_DC_LUMA_COUNTS = bytes(
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
)
_K_DC_LUMA_SYMS = bytes(range(12))
_K_DC_CHROMA_COUNTS = bytes(
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
)
_K_DC_CHROMA_SYMS = bytes(range(12))
_K_AC_LUMA_COUNTS = bytes(
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
)
_K_AC_LUMA_SYMS = bytes(
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]
)
_K_AC_CHROMA_COUNTS = bytes(
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
)
_K_AC_CHROMA_SYMS = bytes(
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]
)


def _std_dht_segment() -> bytes:
    """The four Annex K tables as one FFC4 segment (class<<4 | id)."""
    body = bytearray()
    for tc_th, counts, syms in (
        (0x00, _K_DC_LUMA_COUNTS, _K_DC_LUMA_SYMS),
        (0x10, _K_AC_LUMA_COUNTS, _K_AC_LUMA_SYMS),
        (0x01, _K_DC_CHROMA_COUNTS, _K_DC_CHROMA_SYMS),
        (0x11, _K_AC_CHROMA_COUNTS, _K_AC_CHROMA_SYMS),
    ):
        body.append(tc_th)
        body += counts
        body += syms
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + bytes(body)


_STD_DHT = _std_dht_segment()


def _ensure_dht(frame: bytes) -> bytes:
    """Inject the Annex K tables into a DHT-less MJPEG frame.

    Scans the marker stream up to SOS; if any DHT is present the frame
    is returned untouched, otherwise the standard segment is spliced
    immediately before SOS (tables only need to precede the scan)."""
    if frame[:2] != b"\xff\xd8":
        return frame
    pos = 2
    n = len(frame)
    while pos + 4 <= n and frame[pos] == 0xFF:
        marker = frame[pos + 1]
        if marker == 0xC4:  # DHT present — normal JPEG
            return frame
        if marker == 0xDA:  # SOS reached with no DHT seen
            return frame[:pos] + _STD_DHT + frame[pos:]
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seg_len = struct.unpack_from(">H", frame, pos + 2)[0]
        pos += 2 + seg_len
    return frame


# ---------------------------------------------------------------------------
# RIFF walking


def _iter_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) honoring even padding —
    the same rule audio.py applies to WAV chunks."""
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = pos + 8
        if body + size > end:
            raise ValueError(f"truncated AVI chunk {fourcc!r}")
        yield fourcc, body, size
        pos = body + size + (size & 1)


def _decode_dib_frame(
    data: bytes, width: int, height: int, bits: int, palette: np.ndarray | None
) -> np.ndarray:
    """One BI_RGB DIB → HxWx3 RGB uint8. Positive height = bottom-up
    (the DIB default), negative = top-down; rows padded to 4 bytes."""
    h = abs(height)
    stride = ((width * bits // 8) + 3) & ~3
    if len(data) < stride * h:
        raise ValueError("truncated DIB frame")
    rows = np.frombuffer(data, np.uint8, stride * h).reshape(h, stride)
    if bits == 24:
        px = rows[:, : width * 3].reshape(h, width, 3)
        rgb = px[:, :, ::-1]  # BGR → RGB
    elif bits == 32:
        px = rows[:, : width * 4].reshape(h, width, 4)
        rgb = px[:, :, 2::-1]  # BGRX → RGB
    elif bits == 8:
        if palette is None:
            raise ValueError("8-bit DIB without a palette")
        rgb = palette[rows[:, :width]]
    else:
        raise NotImplementedError(f"BI_RGB bit depth {bits}")
    if height > 0:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


def _to_rgb(img: np.ndarray) -> np.ndarray:
    """Normalize a decoded JPEG frame (HxW, HxWx1, or HxWx3) to HxWx3."""
    if img.ndim == 2:
        return np.repeat(img[:, :, None], 3, axis=2)
    if img.shape[2] == 1:
        return np.repeat(img, 3, axis=2)
    return img


def decode_avi(content: bytes) -> dict:
    """bytes → {"width", "height", "fps", "codec",
    "frames": [HxWx3 RGB uint8], "audio": (n, ch) int32 array | None,
    "audio_rate": int | None}.

    Walks RIFF/LIST structure (hdrl → strl per stream, movi for data),
    decodes the FIRST video stream's ``NNdc``/``NNdb`` chunks (MJPG or
    BI_RGB) and the first PCM-family audio stream's ``NNwb`` chunks.
    ValueError for malformed containers, NotImplementedError for
    compressed fourccs this repo doesn't own."""
    if len(content) < 12 or content[:4] != b"RIFF":
        raise ValueError("not a RIFF stream")
    if content[8:12] != b"AVI ":
        raise ValueError(f"not an AVI form: {content[8:12]!r}")
    (riff_size,) = struct.unpack_from("<I", content, 4)
    end = min(len(content), 8 + riff_size)

    fps = (25, 1)
    streams: list[dict] = []
    movi: tuple[int, int] | None = None

    def walk_list(pos: int, lend: int) -> None:
        nonlocal fps, movi
        for fourcc, body, size in _iter_chunks(content, pos, lend):
            if fourcc == b"LIST":
                ltype = content[body : body + 4]
                if ltype == b"movi":
                    movi = (body + 4, body + size)
                else:
                    walk_list(body + 4, body + size)
            elif fourcc == b"avih":
                (usec_per_frame,) = struct.unpack_from("<I", content, body)
                if usec_per_frame:
                    fps = (1_000_000, usec_per_frame)
            elif fourcc == b"strh":
                streams.append(
                    {
                        "type": content[body : body + 4],
                        "handler": content[body + 4 : body + 8],
                        "strf": None,
                    }
                )
            elif fourcc == b"strf" and streams:
                streams[-1]["strf"] = content[body : body + size]

    walk_list(12, end)
    if movi is None:
        raise ValueError("AVI without a movi list")

    vid_idx = aud_idx = None
    vinfo: dict = {}
    ainfo: dict = {}
    for i, s in enumerate(streams):
        if s["type"] == b"vids" and vid_idx is None:
            vid_idx = i
            strf = s["strf"] or b""
            if len(strf) < 40:
                raise ValueError("vids strf (BITMAPINFOHEADER) truncated")
            (
                _bisz, w, h, _planes, bits, compression,
            ) = struct.unpack_from("<IiiHHI", strf, 0)
            fourcc_name = (
                struct.pack("<I", compression).decode("latin-1")
                if compression
                else "DIB "
            )
            palette = None
            if bits == 8 and compression == 0:
                # RGBQUAD entries (B,G,R,0) follow the 40-byte header
                pal = np.frombuffer(strf[40 : 40 + 1024], np.uint8)
                if pal.size < 1024:
                    raise ValueError("8-bit DIB palette truncated")
                palette = pal.reshape(256, 4)[:, 2::-1].copy()  # → RGB
            vinfo = {
                "width": w,
                "height": h,
                "bits": bits,
                "compression": compression,
                "codec": fourcc_name,
                "palette": palette,
            }
        elif s["type"] == b"auds" and aud_idx is None:
            aud_idx = i
            strf = s["strf"] or b""
            if len(strf) < 16:
                raise ValueError("auds strf (WAVEFORMATEX) truncated")
            tag, ch, rate, _bps, _ba, bits = struct.unpack_from("<HHIIHH", strf, 0)
            ainfo = {"tag": tag, "channels": ch, "rate": rate, "bits": bits}

    frames: list[np.ndarray] = []
    audio_parts: list[bytes] = []
    for fourcc, body, size in _iter_chunks(content, movi[0], movi[1]):
        if fourcc == b"LIST":  # 'rec ' interleave groups
            for f2, b2, s2 in _iter_chunks(content, body + 4, body + size):
                _route_chunk(
                    f2, content[b2 : b2 + s2], vid_idx, aud_idx, vinfo,
                    frames, audio_parts,
                )
            continue
        _route_chunk(
            fourcc, content[body : body + size], vid_idx, aud_idx, vinfo,
            frames, audio_parts,
        )

    audio = None
    rate = None
    if aud_idx is not None and audio_parts:
        from rta_registrations_pyspark_glue_spark.operators import audio as _audio

        data = b"".join(audio_parts)
        tag, ch, bits = ainfo["tag"], ainfo["channels"], ainfo["bits"]
        rate = ainfo["rate"]
        if tag == 1:
            samples = _audio._decode_pcm(data, bits)
        elif tag == 3:
            if bits == 32:
                samples = np.frombuffer(data, dtype="<f4").astype(np.float64)
            elif bits == 64:
                samples = np.frombuffer(data, dtype="<f8").astype(np.float64)
            else:
                raise ValueError(f"bad IEEE-float bit depth {bits}")
        elif tag == 7:
            samples = _audio._mulaw_expand(np.frombuffer(data, dtype=np.uint8))
        elif tag == 6:
            samples = _audio._alaw_expand(np.frombuffer(data, dtype=np.uint8))
        else:
            raise NotImplementedError(
                f"AVI audio format tag {tag} needs an external decoder"
            )
        audio = samples.reshape(-1, ch) if ch > 1 else samples[:, None]

    return {
        "width": int(vinfo.get("width", 0)),
        "height": abs(int(vinfo.get("height", 0))),
        "fps": fps,
        "codec": vinfo.get("codec", ""),
        "frames": frames,
        "audio": audio,
        "audio_rate": rate,
    }


def _route_chunk(
    fourcc: bytes,
    payload: bytes,
    vid_idx: int | None,
    aud_idx: int | None,
    vinfo: dict,
    frames: list,
    audio_parts: list,
) -> None:
    if len(fourcc) != 4 or not fourcc[:2].isdigit():
        return  # idx1 and friends live outside movi; ignore strays
    snum = int(fourcc[:2])
    kind = fourcc[2:]
    if vid_idx is not None and snum == vid_idx and kind in (b"dc", b"db"):
        if not payload:  # dropped-frame placeholder: repeat previous
            if frames:
                frames.append(frames[-1])
            return
        comp = vinfo["compression"]
        if comp == 0:
            frames.append(
                _decode_dib_frame(
                    payload, vinfo["width"], vinfo["height"], vinfo["bits"],
                    vinfo["palette"],
                )
            )
        elif vinfo["codec"].upper() in ("MJPG", "JPEG", "DMB1"):
            from rta_registrations_pyspark_glue_spark.operators.jpeg import (
                decode_jpeg,
            )

            frames.append(_to_rgb(decode_jpeg(_ensure_dht(payload))))
        else:
            raise NotImplementedError(
                f"AVI video codec {vinfo['codec']!r} needs an external "
                "decoder — MJPG and BI_RGB DIBs decode natively"
            )
    elif aud_idx is not None and snum == aud_idx and kind == b"wb":
        audio_parts.append(payload)


# ---------------------------------------------------------------------------
# Fixture muxer (encoder-grade, spec-valid: avih/strl headers, movi
# interleave, idx1 index)


def encode_avi(
    frames: list[np.ndarray],
    *,
    fps: tuple[int, int] = (25, 1),
    codec: str = "MJPG",
    audio: np.ndarray | None = None,
    audio_rate: int = 8000,
    frame_size: tuple[int, int] | None = None,
) -> bytes:
    """Fixture-grade AVI writer. ``frames``: HxW (gray, MJPG only) or
    HxWx3 RGB uint8 arrays — or, for MJPG, raw ``bytes`` of an
    already-encoded JPEG (lets tests mux hand-built streams, e.g. the
    table-less frames `_ensure_dht` exists for; pass ``frame_size``
    alongside). ``codec``: "MJPG" (arrays JPEG-encoded via
    operators/jpeg.encode_baseline_jpeg) or "DIB " (bottom-up 24-bit
    BI_RGB). ``audio``: optional (n,) or (n, ch) int16 PCM interleaved
    one block per frame."""
    if frame_size is not None:
        h, w = frame_size
    else:
        h, w = frames[0].shape[:2]
    n = len(frames)

    payloads: list[bytes] = []
    if codec == "MJPG":
        from rta_registrations_pyspark_glue_spark.operators.jpeg import (
            encode_baseline_jpeg,
        )

        for f in frames:
            payloads.append(
                f if isinstance(f, bytes) else encode_baseline_jpeg(f)
            )
        compression = struct.unpack("<I", b"MJPG")[0]
        bits = 24
    elif codec == "DIB ":
        stride = ((w * 3) + 3) & ~3
        for f in frames:
            if f.ndim != 3:
                raise ValueError("DIB frames must be HxWx3")
            bgr = f[::-1, :, ::-1]  # bottom-up, RGB→BGR
            row = np.zeros((h, stride), np.uint8)
            row[:, : w * 3] = bgr.reshape(h, w * 3)
            payloads.append(row.tobytes())
        compression = 0
        bits = 24
    else:
        raise ValueError(f"fixture codec {codec!r}")

    if audio is not None:
        a = np.asarray(audio, np.int16)
        if a.ndim == 1:
            a = a[:, None]
        ch = a.shape[1]
        blocks = np.array_split(a, n)
    else:
        ch = 0
        blocks = []

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    usec = fps[1] * 1_000_000 // fps[0]
    max_bytes = max(len(p) for p in payloads)
    avih = struct.pack(
        "<14I", usec, 0, 0, 0x10, n, 0, 2 if audio is not None else 1,
        max_bytes, w, h, 0, 0, 0, 0,
    )
    strh_v = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", codec.encode("latin-1"), 0, 0, 0, 0,
        fps[1], fps[0], 0, n, max_bytes, 0xFFFFFFFF, 0,
        0, 0, w, h,
    )
    strf_v = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bits, compression,
                         len(payloads[0]), 0, 0, 0, 0)
    strl = lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v))
    if audio is not None:
        na = sum(len(b) for b in blocks)
        strh_a = struct.pack(
            "<4s4sIHHIIIIIIII4H",
            b"auds", b"\x00" * 4, 0, 0, 0, 0,
            1, audio_rate, 0, na, max_bytes, 0xFFFFFFFF, 2 * ch,
            0, 0, 0, 0,
        )
        strf_a = struct.pack(
            "<HHIIHH", 1, ch, audio_rate, audio_rate * 2 * ch, 2 * ch, 16
        )
        strl += lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a))

    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)

    movi_body = bytearray()
    idx = bytearray()
    offset = 4  # idx1 offsets count from the start of 'movi' (its type tag)
    for i, p in enumerate(payloads):
        ck = chunk(b"00dc", p)
        idx += b"00dc" + struct.pack("<III", 0x10, offset, len(p))
        movi_body += ck
        offset += len(ck)
        if i < len(blocks):
            ab = blocks[i].tobytes()
            ck = chunk(b"01wb", ab)
            idx += b"01wb" + struct.pack("<III", 0x10, offset, len(ab))
            movi_body += ck
            offset += len(ck)
    movi = lst(b"movi", bytes(movi_body))

    body = hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body


# ---------------------------------------------------------------------------
# Spark surface

AVI_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, codec string, "
    "pix_sum bigint, n_audio bigint, audio_sum bigint, decode_ok boolean"
)


def clip_features(clip: dict, codec_key: str) -> dict:
    """AVI_SCHEMA features of one demuxed clip (the MP4 and MKV legs
    share the schema): dimensions, frame count, the codec under
    ``codec_key``, exact RGB pixel sum over all frames, audio sample
    count and sum (NULL without an audio track)."""
    audio = clip["audio"]
    return {
        "width": clip["width"],
        "height": clip["height"],
        "n_frames": len(clip["frames"]),
        "codec": clip[codec_key],
        "pix_sum": sum(int(f.astype(np.int64).sum()) for f in clip["frames"]),
        "n_audio": None if audio is None else int(audio.shape[0]),
        "audio_sum": None if audio is None else int(audio.astype(np.int64).sum()),
    }


def av_fixture(d: int, size: int, n_frames: int) -> tuple[list, np.ndarray]:
    """Doc ``d``'s closed-form frames and audio, shared by the AVI, MP4
    and MKV synth legs: even ``d`` → ``n_frames`` solid-gray
    ``size``×``size`` frames ``v_f = (d·37 + f·11) % 256``; odd ``d`` →
    RGB frames ``(d·7 + f·11 + p·3 + c) % 256``; audio is 64 mono
    16-bit samples ``((d·3 + s) % 256 − 128)·4``."""
    s = np.arange(64, dtype=np.int64)
    audio = (((d * 3 + s) % 256 - 128) * 4).astype(np.int16)
    if d % 2 == 0:
        return [
            np.full((size, size), (d * 37 + f * 11) % 256, np.uint8)
            for f in range(n_frames)
        ], audio
    p = np.arange(size * size, dtype=np.int64)[:, None]
    c = np.arange(3, dtype=np.int64)[None, :]
    return [
        ((d * 7 + f * 11 + p * 3 + c) % 256).astype(np.uint8).reshape(size, size, 3)
        for f in range(n_frames)
    ], audio


def synthesize_avi_docs(
    docs: DataFrame, size: int = 16, n_frames: int = 2
) -> DataFrame:
    """(doc_id, content): a deterministic AVI per doc, codec alternating
    by parity so ONE oracle kind pins both decode paths:

    - even doc_id → **MJPG**: ``n_frames`` solid-gray frames, value
      ``v_f = (doc_id·37 + f·11) % 256`` — solid frames ride the
      DC-only JPEG path, which is EXACT (see synthesize_jpeg_docs), so
      ``pix_sum = 3·size²·Σ_f v_f`` after gray→RGB expansion.
    - odd doc_id → **DIB**: per-pixel ``(doc_id·7 + f·11 + p·3 + c) %
      256`` in RGB order — bottom-up re-flip and stride handling must
      be exact for the sum to match.

    Both carry an interleaved mono 16-bit PCM track: sample ``s`` of
    64 = ``((doc_id·3 + s) % 256 − 128)·4`` — the demux must route
    ``01wb`` chunks through the WAV sample decoders."""

    def encode(d: int) -> bytes:
        frames, aud = av_fixture(d, size, n_frames)
        return encode_avi(frames, codec="MJPG" if d % 2 == 0 else "DIB ", audio=aud)

    return synth_leg(docs, encode)


def decode_avi_features(df: DataFrame) -> DataFrame:
    """Demux + decode the binary column with the REAL AVI walker and
    emit container-level features: dimensions, frame count, codec
    fourcc, exact RGB pixel sum over all frames, audio sample count and
    sum. Undecodable rows come back decode_ok=false with NULLs."""
    return decode_leg(
        df, lambda b: clip_features(decode_avi(b), "codec"), AVI_SCHEMA
    )
