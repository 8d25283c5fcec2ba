"""Pure-Python/numpy YUV4MPEG2 (Y4M) video decode — no external codec.

Completes the multimodal triad: image (PPM/BMP/JPEG/PNG, operators/
multimodal.py + jpeg.py + png.py), audio (WAV, operators/audio.py),
and now video. Y4M is the standard UNCOMPRESSED interchange container
(mjpegtools/ffmpeg's raw-video format, public spec): a text header,
then ``FRAME`` markers each followed by raw planar YCbCr — pure
parsing, which is exactly what an executor-side decode with zero
native dependencies can own. Compressed containers (MP4/WebM/
MKV/AVI) raise NotImplementedError at the same call site — the
plug-in boundary where ffmpeg/PyAV slots in.

Supported chroma modes: C420 (+jpeg/mpeg2/paldv tags — sited
identically at this layer), C422, C444, Cmono. Frame-level features
and REAL frame sampling (every k-th frame's Y plane) run in
Arrow-batched ``mapInPandas`` like the image/audio legs: memory
bounded by the Arrow batch, parallelism = partition parallelism.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.legs import (
    DECODE_ERRORS,
    decode_leg,
    synth_leg,
)

_MAGIC = b"YUV4MPEG2"

#: chroma tag → (x_div, y_div) subsampling divisors for Cb/Cr planes
_CHROMA = {
    "420": (2, 2),
    "420jpeg": (2, 2),
    "420mpeg2": (2, 2),
    "420paldv": (2, 2),
    "422": (2, 1),
    "444": (1, 1),
    "mono": None,
}


def decode_y4m(content: bytes) -> dict:
    """bytes → {"width", "height", "fps", "chroma",
    "frames": [(Y, Cb, Cr) numpy uint8 planes, Cb/Cr None for mono]}.

    Raises ValueError for malformed payloads (bad magic, missing
    W/H/F params, truncated frames, unknown chroma tag)."""
    if not content.startswith(_MAGIC):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = content.find(b"\n")
    if nl < 0:
        raise ValueError("truncated Y4M header")
    header = content[len(_MAGIC) : nl].decode("ascii", "replace")
    width = height = 0
    fps = (0, 1)
    chroma = "420jpeg"  # spec default
    for tok in header.split():
        if tok[0] == "W":
            width = int(tok[1:])
        elif tok[0] == "H":
            height = int(tok[1:])
        elif tok[0] == "F":
            num, den = tok[1:].split(":")
            fps = (int(num), int(den))
        elif tok[0] == "C":
            chroma = tok[1:]
        # I/A/X params don't affect plane layout
    if width <= 0 or height <= 0:
        raise ValueError(f"bad Y4M dimensions {width}x{height}")
    if chroma not in _CHROMA:
        raise ValueError(f"unknown Y4M chroma tag C{chroma}")
    div = _CHROMA[chroma]
    ysize = width * height
    if div is None:
        csize = 0
    else:
        cw = (width + div[0] - 1) // div[0]
        ch = (height + div[1] - 1) // div[1]
        csize = cw * ch
    frame_bytes = ysize + 2 * csize
    frames = []
    pos = nl + 1
    n = len(content)
    while pos < n:
        fnl = content.find(b"\n", pos)
        if fnl < 0 or content[pos : pos + 5] != b"FRAME":
            raise ValueError("bad Y4M FRAME marker")
        pos = fnl + 1
        if pos + frame_bytes > n:
            raise ValueError("truncated Y4M frame")
        y = np.frombuffer(content, np.uint8, ysize, pos).reshape(height, width)
        if div is None:
            cb = cr = None
        else:
            cb = np.frombuffer(content, np.uint8, csize, pos + ysize).reshape(ch, cw)
            cr = np.frombuffer(
                content, np.uint8, csize, pos + ysize + csize
            ).reshape(ch, cw)
        frames.append((y, cb, cr))
        pos += frame_bytes
    return {
        "width": width,
        "height": height,
        "fps": fps,
        "chroma": chroma,
        "frames": frames,
    }


def encode_y4m(
    frames: list[tuple],
    *,
    fps: tuple[int, int] = (25, 1),
    chroma: str = "420jpeg",
) -> bytes:
    """Fixture-grade Y4M writer: ``frames`` is a list of (Y, Cb, Cr)
    uint8 plane tuples (Cb/Cr None for mono) shaped consistently with
    ``chroma``."""
    y0 = frames[0][0]
    h, w = y0.shape
    out = bytearray(
        b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C%s\n"
        % (w, h, fps[0], fps[1], chroma.encode())
    )
    for y, cb, cr in frames:
        out += b"FRAME\n"
        out += y.astype(np.uint8).tobytes()
        if cb is not None:
            out += cb.astype(np.uint8).tobytes()
            out += cr.astype(np.uint8).tobytes()
    return bytes(out)


VIDEO_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, "
    "y_sum bigint, decode_ok boolean"
)
VIDEO_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, y_sum bigint, y_md5 string"
)


def synthesize_y4m_docs(
    docs: DataFrame, size: int = 8, n_frames: int = 3
) -> DataFrame:
    """(doc_id, content): a deterministic C420 Y4M clip per doc —
    ``n_frames`` frames of ``size``×``size``, Y pixel ``p`` of frame
    ``f`` = ``(doc_id·13 + f·7 + p) % 256`` (Cb/Cr constant 128) — so
    the decoded Y sum is ANALYTIC: ``Σ_f Σ_p (doc_id·13+f·7+p) % 256``
    and the DuckDB oracle computes it without parsing anything."""

    def encode(base: int) -> bytes:
        p = np.arange(size * size, dtype=np.int64)
        c = np.full((size // 2, size // 2), 128, dtype=np.uint8)
        return encode_y4m([
            (((base + f * 7 + p) % 256).astype(np.uint8).reshape(size, size), c, c)
            for f in range(n_frames)
        ])

    return synth_leg(
        docs, encode, key=lambda d: (d * 13) % 256,
        cache=f"y4m_synth_{size}_{n_frames}",
    )


def _y4m_features(content: bytes) -> dict:
    clip = decode_y4m(content)
    return {
        "width": clip["width"],
        "height": clip["height"],
        "n_frames": len(clip["frames"]),
        "y_sum": sum(int(y.astype(np.int64).sum()) for y, _, _ in clip["frames"]),
    }


def decode_video_features(df: DataFrame) -> DataFrame:
    """Decode the binary column with the REAL Y4M parser and emit
    clip-level features: dimensions, frame count, exact Y-plane sum
    over all frames. Undecodable rows come back decode_ok=false with
    NULL features."""
    return decode_leg(df, _y4m_features, VIDEO_SCHEMA)


def sample_video_frames(df: DataFrame, every_k: int = 2) -> DataFrame:
    """REAL frame sampling over decoded Y4M clips, animated GIFs, AND
    AVI containers (dispatched by magic; GIF/AVI RGB frames reduce to
    an integer ITU-R 601 luma plane) — the one-to-many
    mapInPandas shape with actual video frames (vs the byte-chunk
    sampler multimodal.sample_frames keeps for opaque payloads): every
    ``every_k``-th frame emits (frame_idx, Y-plane sum, Y-plane md5).
    Undecodable payloads contribute zero rows (filter-then-explode
    semantics)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums, digests = [], [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                try:
                    b = bytes(content)
                    if b[:6] in (b"GIF87a", b"GIF89a"):
                        # animated GIFs flow through the same sampler:
                        # per-frame luma = ITU-R 601 integer approx of
                        # the palette-expanded RGB
                        from rta_registrations_pyspark_glue_spark.operators.gif import (
                            decode_gif,
                        )

                        g = decode_gif(b)
                        frames = []
                        for f in g["frames"]:
                            rgb = f["image"][:, :, :3].astype(np.int64)
                            yp = (
                                (299 * rgb[:, :, 0]
                                 + 587 * rgb[:, :, 1]
                                 + 114 * rgb[:, :, 2]) // 1000
                            ).astype(np.uint8)
                            frames.append((yp, None, None))
                        clip = {"frames": frames}
                    elif b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                        # container video (r9): MJPG/DIB frames through
                        # the AVI demux, same integer-luma reduction
                        from rta_registrations_pyspark_glue_spark.operators.avi import (
                            decode_avi,
                        )

                        a = decode_avi(b)
                        frames = []
                        for f in a["frames"]:
                            rgb = f.astype(np.int64)
                            yp = (
                                (299 * rgb[:, :, 0]
                                 + 587 * rgb[:, :, 1]
                                 + 114 * rgb[:, :, 2]) // 1000
                            ).astype(np.uint8)
                            frames.append((yp, None, None))
                        clip = {"frames": frames}
                    else:
                        clip = decode_y4m(b)
                except DECODE_ERRORS:
                    continue
                for i in range(0, len(clip["frames"]), every_k):
                    y = clip["frames"][i][0]
                    ids.append(doc_id)
                    idxs.append(i)
                    sums.append(int(y.astype(np.int64).sum()))
                    digests.append(hashlib.md5(y.tobytes()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "y_sum": pd.Series(sums, dtype="int64"),
                    "y_md5": pd.Series(digests, dtype="object"),
                }
            )

    return df.select("doc_id", "content").mapInPandas(op, VIDEO_FRAME_SCHEMA)
