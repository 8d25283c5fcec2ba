"""Malformed media never fails a decode leg: every one-row-per-document
decode operator returns one row per input payload, with ``*_ok`` false
and NULL features, for empty, one-byte, random and half-truncated
payloads — and, on the audio leg, for a WAV whose sample rate does not
fit the ``int`` column and a FLAC cut inside its frame CRC; on the image
leg, for JPEGs whose SOF0 or SOS segment length leaves an empty body."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark.operators import (
    audio,
    avi,
    doctext,
    h264,
    hevc,
    mediameta,
    mkv,
    mp3,
    mp4,
    multimodal,
    opus,
    video,
    vorbis,
)
from rta_registrations_pyspark_glue_spark.operators.flac import (
    FlacError,
    decode_flac,
    encode_flac,
)
from rta_registrations_pyspark_glue_spark.operators.jpeg import encode_baseline_jpeg

#: decode leg -> (decode operator, the synth leg whose doc-0 fixture it
#: gets cut in half)
LEGS = {
    "image": (multimodal.decode_image_features, multimodal.synthesize_png_docs),
    "audio": (audio.decode_audio_features, audio.synthesize_wav_docs),
    "video": (video.decode_video_features, video.synthesize_y4m_docs),
    "mp4": (mp4.demux_mp4_features, mp4.synthesize_mp4_docs),
    "aac": (mp4.extract_aac_features, mp4.synthesize_aac_docs),
    "mkv": (mkv.demux_mkv_features, mkv.synthesize_mkv_docs),
    "avi": (avi.decode_avi_features, avi.synthesize_avi_docs),
    "mp3": (mp3.decode_mp3_features, mp3.synthesize_mp3_docs),
    "h264": (h264.extract_h264_features, h264.synthesize_h264_docs),
    "hevc": (hevc.extract_hevc_features, hevc.synthesize_hevc_docs),
    "vorbis": (vorbis.extract_vorbis_features, vorbis.synthesize_vorbis_docs),
    "opus": (opus.extract_opus_features, opus.synthesize_opus_docs),
    "mediameta": (
        mediameta.extract_media_meta_features,
        mediameta.synthesize_media_docs,
    ),
    "doctext": (
        doctext.extract_document_features,
        doctext.synthesize_document_docs,
    ),
}


def _wav_rate_overflow() -> bytes:
    """Doc 0's WAV fixture with the fmt sample rate set to 2³¹, which
    decode_wav accepts but the ``int`` sample_rate column cannot hold."""
    i = np.arange(64, dtype=np.int64)
    samples = (((i * 17) % 4096 - 2048) * 16).astype(np.int32)
    wav = bytearray(audio.encode_wav(samples, 8000))
    wav[24:28] = struct.pack("<I", 0x80000000)
    return bytes(wav)


def _flac_fixture() -> bytes:
    """Doc 0's FLAC fixture: 96 stereo ramp samples, one frame."""
    i = np.arange(96, dtype=np.int64)
    sig = np.stack([-1000 - 3 * i, -800 - 2 * i], axis=-1)
    return encode_flac(
        sig, 16000, bps=16, blocksize=96, mode="fixed2", stereo="mid_side"
    )


def _flac_short_crc() -> bytes:
    """The FLAC fixture with byte 121 zeroed: the frame then ends one
    byte short of its CRC-16."""
    flac = bytearray(_flac_fixture())
    flac[121] = 0x00
    return bytes(flac)


def _jpeg_short_segment(marker: int) -> bytes:
    """A 16x16 baseline JPEG whose SOF0 (0xC0) or SOS (0xDA)
    segment-length field says 2, leaving the segment body empty."""
    jpg = bytearray(encode_baseline_jpeg(np.zeros((16, 16, 3), np.uint8)))
    at = jpg.index(bytes([0xFF, marker]))
    jpg[at + 2 : at + 4] = b"\x00\x02"
    return bytes(jpg)


@pytest.fixture(scope="module")
def fixtures(spark):
    """Doc 0's fixture of every leg, from one Spark job."""
    docs = spark.range(1).withColumnRenamed("id", "doc_id")
    frames = [
        synth(docs).select(F.lit(leg).alias("leg"), "content")
        for leg, (_, synth) in LEGS.items()
    ]
    union = frames[0]
    for df in frames[1:]:
        union = union.unionByName(df)
    return {r.leg: bytes(r.content) for r in union.collect()}


@pytest.mark.parametrize("leg", sorted(LEGS))
def test_malformed_payloads_land_in_the_envelope(spark, fixtures, leg):
    decode, _ = LEGS[leg]
    fixture = fixtures[leg]
    payloads = [
        b"",
        b"\x00",
        np.random.default_rng(8).integers(0, 256, 200, dtype=np.uint8).tobytes(),
        fixture[: len(fixture) // 2],
    ]
    if leg == "audio":
        payloads += [_wav_rate_overflow(), _flac_short_crc()]
    if leg == "image":
        payloads += [_jpeg_short_segment(0xC0), _jpeg_short_segment(0xDA)]
    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id bigint, content binary"
    )
    rows = sorted(decode(df).collect(), key=lambda r: r.doc_id)
    assert [r.doc_id for r in rows] == list(range(len(payloads)))
    for r in rows:
        *features, ok = r[1:]
        assert ok is False, (leg, r.doc_id)
        assert features == [None] * len(features), (leg, r.doc_id)


def test_every_flac_truncation_raises_flac_error():
    flac = _flac_fixture()
    assert decode_flac(flac)[0].shape == (96, 2)
    for n in range(len(flac)):
        with pytest.raises(FlacError):
            decode_flac(flac[:n])
    with pytest.raises(FlacError, match="truncated frame CRC"):
        decode_flac(_flac_short_crc())
