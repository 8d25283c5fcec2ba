"""Pure-Python/numpy Matroska/WebM (MKV) sample extraction — no codec.

Completes the container-demux triad (AVI landed round 9, MP4 round 10 —
`video.py` declared all three as one boundary): Matroska stores track
payloads in Cluster → SimpleBlock / BlockGroup elements whose grammar
is pure EBML plus the block-lacing schemes, and the EBML walk is
already owned by `operators/mediameta.py` (reused here). Extracted
frames route to decoders this repo owns:

- **V_MJPEG** video: one JPEG per block frame through
  `operators/jpeg.py`, with the T.81 Annex K typical tables injected
  when frames omit DHT (`avi._ensure_dht` — the same convention the
  MJPEG-in-AVI/MP4 paths pin).
- **V_UNCOMPRESSED** video: packed top-down RGB24 rows (PixelWidth ×
  PixelHeight from the TrackEntry) — a numpy reshape.
- **A_PCM/INT/LIT** / **A_PCM/INT/BIG**: 16-bit PCM, both byte orders.

All FOUR lacing schemes decode (none / Xiph 255-run / fixed-equal /
EBML signed-delta) — lacing is where real Matroska demuxers break, so
the fixtures exercise each. Compressed codecs (V_VP9, V_AV1, ...)
raise NotImplementedError at the per-track DECODE boundary — the
ffmpeg/PyAV plug-in point — while the walk and the other track still
work; A_OPUS (r12) and A_VORBIS (r13) additionally get full
STRUCTURAL extraction via extract_mkv_codec_config (their CodecPrivate
carries the same header records the Ogg paths read).

Spark surface mirrors avi.py/mp4.py: Arrow-batched ``mapInPandas``,
memory bounded by the batch; at 100 TB the demux is embarrassingly
parallel per file and touches only the clusters it reads.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame

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
from rta_registrations_pyspark_glue_spark.operators.mediameta import (
    _ebml_children,
    _ebml_el,
    _ebml_uint,
    _ebml_uint_body,
)

_VIDEO_ROUTED = {"V_MJPEG", "V_UNCOMPRESSED"}
_AUDIO_ROUTED = {"A_PCM/INT/LIT", "A_PCM/INT/BIG", "A_MPEG/L3"}


# ---------------------------------------------------------------------------
# Block parsing


def _block_vint(buf: bytes, pos: int) -> tuple[int, int]:
    """Block-header vint (track number / lace sizes): marker stripped."""
    if pos >= len(buf):
        raise ValueError("MKV: block vint past end")
    first = buf[pos]
    if first == 0:
        raise ValueError("MKV: invalid block vint")
    length = 8 - first.bit_length() + 1
    if pos + length > len(buf):
        raise ValueError("MKV: truncated block vint")
    val = first & (0xFF >> length)
    for i in range(1, length):
        val = (val << 8) | buf[pos + i]
    return val, pos + length


def _block_svint(buf: bytes, pos: int) -> tuple[int, int]:
    """Signed block vint (EBML-lacing deltas): value − (2^(7L−1) − 1)."""
    if pos >= len(buf):
        raise ValueError("MKV: block svint past end")
    length = 8 - buf[pos].bit_length() + 1
    raw, nxt = _block_vint(buf, pos)
    return raw - ((1 << (7 * length - 1)) - 1), nxt


def parse_block(buf: bytes, body: int, end: int) -> tuple[int, int, list[bytes]]:
    """(Simple)Block payload → (track_number, rel_timestamp, frames),
    decoding all four lacing schemes: 0 = none, 2 = Xiph (255-run
    sizes), 4 = fixed (equal split), 6 = EBML (first size a vint,
    then signed-vint deltas, last frame the remainder)."""
    track, pos = _block_vint(buf, body)
    if pos + 3 > end:
        raise ValueError("MKV: block too short for timestamp+flags")
    (rel_ts,) = struct.unpack_from(">h", buf, pos)
    flags = buf[pos + 2]
    pos += 3
    lacing = (flags >> 1) & 3
    if lacing == 0:
        return track, rel_ts, [buf[pos:end]]
    if pos >= end:
        raise ValueError("MKV: laced block without frame count")
    n_frames = buf[pos] + 1
    pos += 1
    sizes: list[int] = []
    if lacing == 1:  # Xiph
        for _ in range(n_frames - 1):
            size = 0
            while True:
                if pos >= end:
                    raise ValueError("MKV: truncated Xiph lace sizes")
                size += buf[pos]
                stop = buf[pos] != 255
                pos += 1
                if stop:
                    break
            sizes.append(size)
    elif lacing == 2:  # fixed
        total = end - pos
        if n_frames == 0 or total % n_frames:
            raise ValueError("MKV: fixed lacing does not divide evenly")
        sizes = [total // n_frames] * (n_frames - 1)
    else:  # EBML
        size, pos = _block_vint(buf, pos)
        sizes.append(size)
        for _ in range(n_frames - 2):
            delta, pos = _block_svint(buf, pos)
            size += delta
            if size < 0:
                raise ValueError("MKV: negative EBML lace size")
            sizes.append(size)
    frames = []
    for s in sizes:
        if pos + s > end:
            raise ValueError("MKV: lace frame beyond block")
        frames.append(buf[pos : pos + s])
        pos += s
    frames.append(buf[pos:end])  # last frame: the remainder
    return track, rel_ts, frames


# ---------------------------------------------------------------------------
# Demux


def demux_mkv(content: bytes) -> dict:
    """Parse a Matroska file, extract every block frame of the first
    video and first audio track, and ROUTE payloads to owned decoders
    (V_MJPEG → jpeg.py with Annex-K injection, V_UNCOMPRESSED → packed
    RGB24, A_PCM/INT/LIT|BIG → int16 PCM). Returns {width, height,
    video_codec, frames [HxWx3 uint8], audio (n, ch) int16 | None,
    audio_codec, n_samples}. Compressed codecs raise at the track
    boundary; the declared envelope is ValueError/NotImplementedError
    (struct.error converted here)."""
    try:
        return _demux_mkv_inner(content)
    except struct.error as e:
        raise ValueError(f"truncated MKV structure: {e}") from None


def _parse_mkv_tracks_blocks(
    buf: bytes,
) -> tuple[dict[int, dict], list[tuple[int, list[bytes]]]]:
    """The shared EBML walk: Tracks (number/type/codec/CodecPrivate/
    dims/audio fields) and every Cluster's SimpleBlock/BlockGroup
    frames, lacing decoded. Raises ValueError when the stream is not
    EBML/Matroska. Used by the payload demux AND the structural
    codec-config extractor."""
    tracks: dict[int, dict] = {}
    blocks: list[tuple[int, list[bytes]]] = []  # (track_number, frames)
    saw_ebml = False

    for eid, body, bend in _ebml_children(buf, 0, len(buf)):
        if eid == 0x1A45DFA3:
            saw_ebml = True
        elif eid == 0x18538067:  # Segment
            for e2, b2, e2end in _ebml_children(buf, body, bend):
                if e2 == 0x1654AE6B:  # Tracks
                    for e3, b3, e3end in _ebml_children(buf, b2, e2end):
                        if e3 != 0xAE:
                            continue
                        t: dict = {}
                        for e4, b4, e4end in _ebml_children(buf, b3, e3end):
                            if e4 == 0xD7:
                                t["number"] = _ebml_uint(buf, b4, e4end)
                            elif e4 == 0x83:
                                t["type"] = _ebml_uint(buf, b4, e4end)
                            elif e4 == 0x86:
                                t["codec"] = buf[b4:e4end].decode(
                                    "ascii", "replace"
                                )
                            elif e4 == 0x63A2:  # CodecPrivate
                                t["codec_private"] = buf[b4:e4end]
                            elif e4 == 0xE0:  # Video
                                for e5, b5, e5end in _ebml_children(
                                    buf, b4, e4end
                                ):
                                    if e5 == 0xB0:
                                        t["width"] = _ebml_uint(buf, b5, e5end)
                                    elif e5 == 0xBA:
                                        t["height"] = _ebml_uint(buf, b5, e5end)
                            elif e4 == 0xE1:  # Audio
                                for e5, b5, e5end in _ebml_children(
                                    buf, b4, e4end
                                ):
                                    if e5 == 0x9F:
                                        t["channels"] = _ebml_uint(
                                            buf, b5, e5end
                                        )
                                    elif e5 == 0x6264:
                                        t["bits"] = _ebml_uint(buf, b5, e5end)
                        if "number" in t:
                            tracks[t["number"]] = t
                elif e2 == 0x1F43B675:  # Cluster
                    for e3, b3, e3end in _ebml_children(buf, b2, e2end):
                        if e3 == 0xA3:  # SimpleBlock
                            tn, _ts, frames = parse_block(buf, b3, e3end)
                            blocks.append((tn, frames))
                        elif e3 == 0xA0:  # BlockGroup
                            for e4, b4, e4end in _ebml_children(
                                buf, b3, e3end
                            ):
                                if e4 == 0xA1:  # Block
                                    tn, _ts, frames = parse_block(
                                        buf, b4, e4end
                                    )
                                    blocks.append((tn, frames))

    if not saw_ebml:
        raise ValueError("not an EBML/Matroska stream")
    return tracks, blocks


def _demux_mkv_inner(buf: bytes) -> dict:
    tracks, blocks = _parse_mkv_tracks_blocks(buf)

    out = {
        "width": None, "height": None, "video_codec": None, "frames": [],
        "audio": None, "audio_codec": None, "n_samples": 0,
    }
    vide = next((t for t in tracks.values() if t.get("type") == 1), None)
    soun = next((t for t in tracks.values() if t.get("type") == 2), None)

    if vide is not None:
        codec = vide.get("codec", "")
        out["video_codec"] = codec
        if codec not in _VIDEO_ROUTED:
            detail = ""
            if codec == "V_MPEG4/ISO/AVC" and vide.get("codec_private"):
                # the CodecPrivate IS an avcC record — name the actual
                # stream in the boundary error (extract_mkv_codec_config
                # gives the full structural view without decode)
                try:
                    from rta_registrations_pyspark_glue_spark.operators import (
                        h264,
                    )

                    cfg = h264.parse_avcc(bytes(vide["codec_private"]))
                    sps = h264.parse_sps(cfg["sps"][0])
                    detail = (
                        f" ({sps['profile']} L{sps['level_idc']} "
                        f"{sps['width']}x{sps['height']})"
                    )
                except (ValueError, struct.error, IndexError):
                    # corrupt CodecPrivate: the detail is best-effort,
                    # the boundary below still fires (r11 advice)
                    pass
            raise NotImplementedError(
                f"MKV video codec {codec!r}{detail}: block extraction works, "
                "decode needs an external codec (ffmpeg/PyAV plug-in "
                "boundary; V_MJPEG and V_UNCOMPRESSED route natively; "
                "extract_mkv_codec_config reads AVC/AAC config structurally)"
            )
        w, h = vide.get("width"), vide.get("height")
        out["width"], out["height"] = w, h
        for tn, frames in blocks:
            if tn != vide["number"]:
                continue
            for payload in frames:
                if codec == "V_MJPEG":
                    out["frames"].append(
                        _to_rgb(decode_jpeg(_ensure_dht(payload)))
                    )
                else:
                    if not w or not h or len(payload) != w * h * 3:
                        raise ValueError(
                            "V_UNCOMPRESSED frame size != width*height*3"
                        )
                    out["frames"].append(
                        np.frombuffer(payload, np.uint8).reshape(h, w, 3).copy()
                    )

    if soun is not None:
        codec = soun.get("codec", "")
        out["audio_codec"] = codec
        if codec not in _AUDIO_ROUTED:
            detail = ""
            if codec == "A_AAC" and soun.get("codec_private"):
                # the CodecPrivate IS a raw AudioSpecificConfig
                try:
                    from rta_registrations_pyspark_glue_spark.operators.mp4 import (
                        parse_audio_specific_config,
                    )

                    asc = parse_audio_specific_config(
                        bytes(soun["codec_private"])
                    )
                    detail = (
                        f" ({asc['profile']} {asc['sample_rate']} Hz "
                        f"x{asc['channels']})"
                    )
                except (ValueError, struct.error, IndexError):
                    pass
            elif codec == "A_OPUS" and soun.get("codec_private"):
                # the CodecPrivate IS an OpusHead — name the stream
                try:
                    from rta_registrations_pyspark_glue_spark.operators.opus import (
                        parse_opus_head,
                    )

                    oh = parse_opus_head(bytes(soun["codec_private"]))
                    detail = (
                        f" (opus x{oh['channels']} "
                        f"pre-skip {oh['pre_skip']})"
                    )
                except (ValueError, struct.error, IndexError):
                    pass
            raise NotImplementedError(
                f"MKV audio codec {codec!r}{detail}: A_PCM/INT/LIT|BIG and "
                "A_MPEG/L3 route natively; other compressed audio is the "
                "plug-in boundary (extract_mkv_codec_config reads AAC and "
                "Opus config structurally)"
            )
        if codec == "A_MPEG/L3":
            # MP3-in-Matroska: block frames are whole MPEG frames —
            # reassemble and hand to the frame decoder (operators/mp3.py)
            from rta_registrations_pyspark_glue_spark.operators.mp3 import (
                decode_mp3,
            )

            es = b"".join(
                payload
                for tn, frames in blocks
                if tn == soun["number"]
                for payload in frames
            )
            clip = decode_mp3(es)
            out["audio"] = clip["pcm"]
            out["n_samples"] = int(clip["pcm"].shape[0])
            return out
        ch = soun.get("channels", 1) or 1
        bits = soun.get("bits", 16)
        if bits != 16:
            raise NotImplementedError(f"A_PCM {bits}-bit: 16-bit only")
        raw = b"".join(
            payload
            for tn, frames in blocks
            if tn == soun["number"]
            for payload in frames
        )
        if len(raw) % (2 * ch):
            raise ValueError("A_PCM payload not a whole number of frames")
        dt = "<i2" if codec.endswith("LIT") else ">i2"
        pcm = np.frombuffer(raw, dt).astype(np.int16)
        out["audio"] = pcm.reshape(-1, ch)
        out["n_samples"] = out["audio"].shape[0]

    return out


def extract_mkv_codec_config(content: bytes) -> dict:
    """STRUCTURAL extraction of compressed-codec configuration from a
    Matroska file — the cross-container twin of mp4.extract_aac_track
    and h264.extract_h264_track, because Matroska carries the SAME
    records: a V_MPEG4/ISO/AVC track's CodecPrivate is an avcC
    AVCDecoderConfigurationRecord (block frames are length-prefixed
    NAL samples) and an A_AAC track's CodecPrivate is a raw
    AudioSpecificConfig (block frames are raw access units). Returns
    {video: {...} | None, audio: {...} | None} with the same field
    shapes those extractors emit; tracks with other codecs (or no
    CodecPrivate) are reported as None. No frame is decoded."""
    from rta_registrations_pyspark_glue_spark.operators import h264
    from rta_registrations_pyspark_glue_spark.operators.mp4 import (
        parse_audio_specific_config,
    )

    try:
        tracks, blocks = _parse_mkv_tracks_blocks(content)
    except struct.error as e:
        raise ValueError(f"truncated MKV structure: {e}") from None
    out: dict = {"video": None, "audio": None}
    vide = next((t for t in tracks.values() if t.get("type") == 1), None)
    soun = next((t for t in tracks.values() if t.get("type") == 2), None)
    if (
        vide is not None
        and vide.get("codec") == "V_MPEG4/ISO/AVC"
        and vide.get("codec_private")
    ):
        try:
            cfg = h264.parse_avcc(bytes(vide["codec_private"]))
            if not cfg["sps"]:
                raise ValueError("avcC carries no SPS")
            sps = h264.parse_sps(cfg["sps"][0])
        except (struct.error, IndexError) as e:
            # a truncated avcC CodecPrivate hits unpack_from at a
            # length field — keep the documented ValueError envelope
            raise ValueError(f"truncated avcC CodecPrivate: {e}") from None
        frames = [
            payload
            for tn, fr in blocks
            if tn == vide.get("number")
            for payload in fr
        ]
        try:
            stats = h264.walk_nal_samples(frames, cfg["nal_length_size"])
        except IndexError:
            raise ValueError("truncated NAL structure") from None
        out["video"] = {
            **sps,
            "nal_length_size": cfg["nal_length_size"],
            "n_sps": len(cfg["sps"]),
            "n_pps": len(cfg["pps"]),
            **stats,
        }
    elif (
        vide is not None
        and vide.get("codec") == "V_MPEGH/ISO/HEVC"
        and vide.get("codec_private")
    ):
        # HEVC-in-Matroska: CodecPrivate is an hvcC record, block
        # frames are length-prefixed HEVC NAL samples
        from rta_registrations_pyspark_glue_spark.operators import hevc

        try:
            cfg = hevc.parse_hvcc(bytes(vide["codec_private"]))
            if not cfg["sps"]:
                raise ValueError("hvcC carries no SPS")
            sps = hevc.parse_hevc_sps(cfg["sps"][0])
        except (struct.error, IndexError) as e:
            raise ValueError(f"truncated hvcC CodecPrivate: {e}") from None
        frames = [
            payload
            for tn, fr in blocks
            if tn == vide.get("number")
            for payload in fr
        ]
        try:
            stats = hevc.walk_hevc_nal_samples(
                frames, cfg["nal_length_size"]
            )
        except IndexError:
            raise ValueError("truncated NAL structure") from None
        out["video"] = {
            **sps,
            "nal_length_size": cfg["nal_length_size"],
            "n_vps": len(cfg["vps"]),
            "n_sps": len(cfg["sps"]),
            "n_pps": len(cfg["pps"]),
            **stats,
        }
    if (
        soun is not None
        and soun.get("codec") == "A_AAC"
        and soun.get("codec_private")
    ):
        try:
            asc = parse_audio_specific_config(bytes(soun["codec_private"]))
        except (struct.error, IndexError) as e:
            raise ValueError(f"truncated AAC CodecPrivate: {e}") from None
        aus = [
            payload
            for tn, fr in blocks
            if tn == soun.get("number")
            for payload in fr
        ]
        out["audio"] = {
            "container": "mkv",
            **asc,
            "n_access_units": len(aus),
            "au_sizes": [len(a) for a in aus],
            "au_bytes": sum(len(a) for a in aus),
            "au_byte_sum": sum(
                int(np.frombuffer(a, np.uint8).sum()) for a in aus
            ),
            "duration_samples": len(aus) * asc["frame_length"],
        }
    elif (
        soun is not None
        and soun.get("codec") == "A_OPUS"
        and soun.get("codec_private")
    ):
        # Opus-in-Matroska (r12): CodecPrivate IS an OpusHead and
        # block frames are raw Opus packets — the same records the Ogg
        # path reads, so the structural walk is shared (operators/opus)
        from rta_registrations_pyspark_glue_spark.operators.opus import (
            parse_opus_head,
            walk_opus_packets,
        )

        try:
            head = parse_opus_head(bytes(soun["codec_private"]))
            pkts = [
                payload
                for tn, fr in blocks
                if tn == soun.get("number")
                for payload in fr
            ]
            out["audio"] = {
                "container": "mkv",
                **head,
                **walk_opus_packets(pkts),
            }
        except (struct.error, IndexError) as e:
            raise ValueError(f"truncated Opus CodecPrivate: {e}") from None
    elif (
        soun is not None
        and soun.get("codec") == "A_VORBIS"
        and soun.get("codec_private")
    ):
        # Vorbis-in-Matroska (r13): CodecPrivate is the Xiph lacing of
        # the three Vorbis header packets and block frames are raw
        # audio packets — the identical records the Ogg path reads, so
        # the id/setup/audio walks are shared (operators/vorbis)
        from rta_registrations_pyspark_glue_spark.operators.vorbis import (
            parse_vorbis_codec_private,
            parse_vorbis_id,
            parse_vorbis_setup,
            walk_vorbis_audio,
        )

        try:
            ident_p, _comment_p, setup_p = parse_vorbis_codec_private(
                bytes(soun["codec_private"])
            )
            ident = parse_vorbis_id(ident_p)
            setup = parse_vorbis_setup(setup_p, ident["channels"])
            flags = setup.pop("mode_blockflags")
            pkts = [
                payload
                for tn, fr in blocks
                if tn == soun.get("number")
                for payload in fr
            ]
            out["audio"] = {
                "container": "mkv",
                **ident,
                **setup,
                **walk_vorbis_audio(
                    pkts, flags, ident["blocksize_0"], ident["blocksize_1"]
                ),
            }
        except (struct.error, IndexError) as e:
            raise ValueError(
                f"truncated Vorbis CodecPrivate: {e}"
            ) from None
    return out


# ---------------------------------------------------------------------------
# Fixture encoder


def _simple_block(
    track: int, rel_ts: int, frames: list[bytes], lacing: str
) -> bytes:
    """SimpleBlock body with the requested lacing scheme."""
    head = bytes([0x80 | track]) + struct.pack(">h", rel_ts)
    if lacing == "none":
        if len(frames) != 1:
            raise ValueError("lacing='none' takes exactly one frame")
        return head + bytes([0x80]) + frames[0]
    n = len(frames)
    if lacing == "fixed":
        if len({len(f) for f in frames}) != 1:
            raise ValueError("fixed lacing needs equal-size frames")
        return head + bytes([0x80 | 0x04, n - 1]) + b"".join(frames)
    if lacing == "xiph":
        sizes = bytearray()
        for f in frames[:-1]:
            s = len(f)
            while s >= 255:
                sizes.append(255)
                s -= 255
            sizes.append(s)
        return head + bytes([0x80 | 0x02, n - 1]) + bytes(sizes) + b"".join(frames)
    if lacing == "ebml":
        def uvint(v: int) -> bytes:
            for length in range(1, 9):
                if v < (1 << (7 * length)) - 1:
                    raw = v | (1 << (7 * length))
                    return raw.to_bytes(length, "big")
            raise ValueError("vint too large")

        def svint(v: int) -> bytes:
            for length in range(1, 9):
                bias = (1 << (7 * length - 1)) - 1
                if -bias <= v < bias:
                    raw = (v + bias) | (1 << (7 * length))
                    return raw.to_bytes(length, "big")
            raise ValueError("svint too large")

        sizes = uvint(len(frames[0]))
        for prev, cur in zip(frames, frames[1:-1]):
            sizes += svint(len(cur) - len(prev))
        return head + bytes([0x80 | 0x06, n - 1]) + sizes + b"".join(frames)
    raise ValueError(f"unknown lacing {lacing!r}")


def encode_mkv_av(
    frames: list,
    *,
    codec: str = "V_MJPEG",
    frame_size: tuple[int, int] | None = None,
    audio: np.ndarray | None = None,
    audio_rate: int = 8000,
    audio_codec: str = "A_PCM/INT/LIT",
    audio_lacing: str = "fixed",
    codec_private: bytes | None = None,
    audio_codec_private: bytes | None = None,
) -> bytes:
    """Fixture-grade Matroska writer: EBML header + Segment(Info,
    Tracks, two Clusters). Video goes one frame per SimpleBlock split
    across the clusters; audio PCM is laced into 4-frame blocks with
    the requested scheme ('none'/'fixed'/'xiph'/'ebml') so the lacing
    decoder is exercised by every fixture. ``frames``: HxW gray or
    HxWx3 RGB uint8 (or pre-encoded JPEG bytes with ``frame_size``)."""
    if frame_size is not None:
        h, w = frame_size
    else:
        h, w = frames[0].shape[:2]

    payloads: list[bytes] = []
    if codec == "V_MJPEG":
        for f in frames:
            payloads.append(f if isinstance(f, bytes) else encode_baseline_jpeg(f))
    elif codec == "V_UNCOMPRESSED":
        for f in frames:
            if f.ndim != 3:
                raise ValueError("V_UNCOMPRESSED frames must be HxWx3")
            payloads.append(np.ascontiguousarray(f, np.uint8).tobytes())
    elif codec in ("V_MPEG4/ISO/AVC", "V_MPEGH/ISO/HEVC"):
        # AVC/HEVC fixture: frames are pre-encoded length-prefixed NAL
        # sample payloads; the avcC/hvcC record rides CodecPrivate
        if frame_size is None or codec_private is None:
            raise ValueError(f"{codec} needs frame_size + codec_private")
        payloads = [bytes(f) for f in frames]
    else:
        raise ValueError(f"fixture codec {codec!r}")

    header = _ebml_el(
        0x1A45DFA3,
        _ebml_el(0x4286, b"\x01") + _ebml_el(0x42F7, b"\x01")
        + _ebml_el(0x4282, b"matroska")
        + _ebml_el(0x4287, b"\x04") + _ebml_el(0x4285, b"\x02"),
    )
    info = _ebml_el(
        0x1549A966,
        _ebml_el(0x2AD7B1, _ebml_uint_body(1_000_000))
        + _ebml_el(0x4489, struct.pack(">d", 40.0 * max(1, len(payloads)))),
    )
    vtrack = _ebml_el(
        0xAE,
        _ebml_el(0xD7, b"\x01") + _ebml_el(0x83, b"\x01")
        + _ebml_el(0x86, codec.encode())
        + (
            _ebml_el(0x63A2, codec_private)
            if codec_private is not None
            else b""
        )
        + _ebml_el(
            0xE0,
            _ebml_el(0xB0, _ebml_uint_body(w)) + _ebml_el(0xBA, _ebml_uint_body(h)),
        ),
    )
    tracks_body = vtrack
    a_blocks: list[bytes] = []
    if audio is not None and audio_codec in ("A_OPUS", "A_VORBIS"):
        # Opus-in-Matroska fixture (r12) / Vorbis-in-Matroska (r13):
        # ``audio`` is a list of raw PACKETS; CodecPrivate carries the
        # OpusHead (Opus) or the Xiph-laced three header packets
        # (Vorbis). Same xiph-laced two-block shape as the AAC fixture
        # (packet sizes differ, exercising the 255-run size coding).
        if audio_codec_private is None:
            raise ValueError(
                f"{audio_codec} needs audio_codec_private (its header)"
            )
        pkts = [bytes(x) for x in audio]
        tracks_body += _ebml_el(
            0xAE,
            _ebml_el(0xD7, b"\x02") + _ebml_el(0x83, b"\x02")
            + _ebml_el(0x86, audio_codec.encode())
            + _ebml_el(0x63A2, audio_codec_private)
            + _ebml_el(
                0xE1,
                _ebml_el(0xB5, struct.pack(">f", 48000.0))
                + _ebml_el(0x9F, _ebml_uint_body(1)),
            ),
        )
        half = max(1, len(pkts) // 2)
        for chunk in (pkts[:half], pkts[half:]):
            if not chunk:
                continue
            lac = "none" if len(chunk) == 1 else "xiph"
            a_blocks.append(_simple_block(2, 0, chunk, lac))
    elif audio is not None and audio_codec == "A_AAC":
        # AAC-in-Matroska fixture: ``audio`` is a list of raw ACCESS
        # UNITS; CodecPrivate carries the AudioSpecificConfig. AUs are
        # xiph-laced two blocks (sizes differ per AU, so the 255-run
        # size coding is exercised), one block per cluster.
        if audio_codec_private is None:
            raise ValueError("A_AAC needs audio_codec_private (the ASC)")
        aus = [bytes(x) for x in audio]
        tracks_body += _ebml_el(
            0xAE,
            _ebml_el(0xD7, b"\x02") + _ebml_el(0x83, b"\x02")
            + _ebml_el(0x86, audio_codec.encode())
            + _ebml_el(0x63A2, audio_codec_private)
            + _ebml_el(
                0xE1,
                _ebml_el(0xB5, struct.pack(">f", float(audio_rate)))
                + _ebml_el(0x9F, _ebml_uint_body(1)),
            ),
        )
        half = max(1, len(aus) // 2)
        for chunk in (aus[:half], aus[half:]):
            if not chunk:
                continue
            lac = "none" if len(chunk) == 1 else "xiph"
            a_blocks.append(_simple_block(2, 0, chunk, lac))
    elif audio is not None and audio_codec == "A_MPEG/L3":
        # MP3-in-Matroska fixture: ``audio`` is the raw elementary
        # stream; two unlaced blocks (the decoder reassembles them)
        es = bytes(audio)
        tracks_body += _ebml_el(
            0xAE,
            _ebml_el(0xD7, b"\x02") + _ebml_el(0x83, b"\x02")
            + _ebml_el(0x86, audio_codec.encode())
            + _ebml_el(
                0xE1,
                _ebml_el(0xB5, struct.pack(">f", float(audio_rate)))
                + _ebml_el(0x9F, _ebml_uint_body(1)),
            ),
        )
        a_blocks = [
            _simple_block(2, 0, [es[: len(es) // 2]], "none"),
            _simple_block(2, 0, [es[len(es) // 2 :]], "none"),
        ]
    elif audio is not None:
        a = np.asarray(audio, np.int16)
        if a.ndim == 1:
            a = a[:, None]
        ch = a.shape[1]
        dt = "<i2" if audio_codec.endswith("LIT") else ">i2"
        tracks_body += _ebml_el(
            0xAE,
            _ebml_el(0xD7, b"\x02") + _ebml_el(0x83, b"\x02")
            + _ebml_el(0x86, audio_codec.encode())
            + _ebml_el(
                0xE1,
                _ebml_el(0xB5, struct.pack(">f", float(audio_rate)))
                + _ebml_el(0x9F, _ebml_uint_body(ch))
                + _ebml_el(0x6264, _ebml_uint_body(16)),
            ),
        )
        # lace the PCM into two blocks of 4 frames each (xiph/ebml
        # fixtures vary the per-lace sizes to exercise the size coding)
        pcm = a.astype(dt).tobytes()
        halves = [pcm[: len(pcm) // 2], pcm[len(pcm) // 2 :]]
        for half in halves:
            if audio_lacing == "none":
                a_blocks.append(_simple_block(2, 0, [half], "none"))
                continue
            if audio_lacing == "fixed":
                qs = len(half) // 4 // (2 * ch) * (2 * ch)
                lace = [half[i * qs : (i + 1) * qs] for i in range(3)]
                lace.append(half[3 * qs :])
                if len({len(x) for x in lace}) != 1:
                    lace = [half[: len(half) // 2], half[len(half) // 2 :]]
                    if len(lace[0]) != len(lace[1]):
                        a_blocks.append(_simple_block(2, 0, [half], "none"))
                        continue
            else:
                # uneven splits: exercise the 255-run / signed-delta math
                u = 2 * ch
                cuts = [len(half) // 5 // u * u, len(half) // 2 // u * u]
                lace = [
                    half[: cuts[0]],
                    half[cuts[0] : cuts[1]],
                    half[cuts[1] :],
                ]
                lace = [x for x in lace if x] or [half]
                if len(lace) == 1:
                    a_blocks.append(_simple_block(2, 0, lace, "none"))
                    continue
            a_blocks.append(_simple_block(2, 0, lace, audio_lacing))

    # two clusters, video split across them, one audio block riding
    # each when present — interleaved like a real muxer
    half = (len(payloads) + 1) // 2
    clusters = b""
    for c_idx, chunk in enumerate((payloads[:half], payloads[half:])):
        body = _ebml_el(0xE7, _ebml_uint_body(c_idx * 40))
        for p in chunk:
            body += _ebml_el(0xA3, _simple_block(1, 0, [p], "none"))
        if c_idx < len(a_blocks):
            body += _ebml_el(0xA3, a_blocks[c_idx])
        clusters += _ebml_el(0x1F43B675, body)
    tracks = _ebml_el(0x1654AE6B, tracks_body)
    return header + _ebml_el(0x18538067, info + tracks + clusters)


# ---------------------------------------------------------------------------
# Spark surface

MKV_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, codec string, "
    "pix_sum bigint, n_audio bigint, audio_sum bigint, decode_ok boolean"
)


def synthesize_mkv_docs(
    docs: DataFrame, size: int = 16, n_frames: int = 2
) -> DataFrame:
    """(doc_id, content): a deterministic two-track Matroska per doc —
    the avi/mp4 closed forms on a third container, plus LACING
    coverage:

    - even doc_id → **V_MJPEG** solid-gray frames ``v_f = (doc_id·37 +
      f·11) % 256`` (DC-only exact), audio **A_PCM/INT/LIT** laced
      **fixed**;
    - odd doc_id → **V_UNCOMPRESSED** per-pixel ``(doc_id·7 + f·11 +
      p·3 + c) % 256`` RGB, audio **A_PCM/INT/BIG** laced **xiph**
      (doc_id % 4 == 1) or **ebml** (doc_id % 4 == 3) — uneven lace
      sizes, so the 255-run and signed-delta paths both run in-gate.

    Audio sample ``s`` of 64 = ``((doc_id·3 + s) % 256 − 128)·4`` —
    identical to the AVI/MP4 legs: a container bug is distinguishable
    from a decoder bug across all three."""

    def encode(d: int) -> bytes:
        frames, aud = av_fixture(d, size, n_frames)
        if d % 2 == 0:
            return encode_mkv_av(
                frames, codec="V_MJPEG", audio=aud,
                audio_codec="A_PCM/INT/LIT", audio_lacing="fixed",
            )
        return encode_mkv_av(
            frames, codec="V_UNCOMPRESSED", audio=aud,
            audio_codec="A_PCM/INT/BIG",
            audio_lacing="xiph" if d % 4 == 1 else "ebml",
        )

    return synth_leg(docs, encode)


def demux_mkv_features(df: DataFrame) -> DataFrame:
    """Demux + route the binary column with the REAL Matroska walker
    and emit container-level features (the avi/mp4 schema). Undecodable
    rows come back decode_ok=false with NULLs."""
    return decode_leg(
        df, lambda b: clip_features(demux_mkv(b), "video_codec"), MKV_SCHEMA
    )
