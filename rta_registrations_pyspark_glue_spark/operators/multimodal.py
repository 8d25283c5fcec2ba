"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow-batched pandas via
``mapInPandas``.

Image decode is REAL with no external library (``decode_image``):
PPM/PGM, uncompressed 24-bit BMP, and — since round 7 — JPEG
(baseline AND progressive, pure-numpy Huffman + IDCT,
operators/jpeg.py), full static PNG (all filters/depths/colour
types/Adam7, operators/png.py), and GIF (real variable-width LZW,
operators/gif.py), and baseline TIFF (strips, PackBits/Deflate/
TIFF-LZW, operators/tiff.py — whose IFD parser doubles as the EXIF
extractor) all decode to HxWxC uint8 numpy arrays; the
remaining codec format (WebP) raises NotImplementedError at the same
call site, which is where PIL plugs in when available. Audio and
video decode live in operators/audio.py (WAV) and operators/video.py
(Y4M). Everything downstream of decode
— schema contract, batch iteration shape, Arrow transfer, feature
extraction — is payload-agnostic and identical for either decoder.

Scale notes: mapInPandas streams Arrow batches — memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of blob
sizes; decode parallelism is partition parallelism, so repartition by a
size-balanced key before heavy decode to avoid stragglers.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.legs import decode_leg, synth_leg
from pyspark.sql import functions as F

BINARY_DOC_SCHEMA = "doc_id bigint, content binary, media_type string, n_chars bigint"
META_SCHEMA = "doc_id bigint, n_bytes int, content_md5 string"
FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, byte_sum bigint, byte_min int, byte_max int, "
    "n_frames int"
)


def synthesize_binary_docs(docs: DataFrame) -> DataFrame:
    """documents → opaque binary 'media' rows (utf-8 bytes of text stand
    in for image/audio payloads; the plumbing is payload-agnostic)."""
    media = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("content"),
        media.alias("media_type"),
        "n_chars",
    )


def decode_image(content: bytes) -> "np.ndarray":
    """REAL image decode, pure numpy — no external codec libraries:

    - PPM ``P6`` (binary RGB) and PGM ``P5`` (binary grayscale),
      maxval ≤ 255, full header grammar (whitespace runs + ``#``
      comments between tokens, single whitespace byte before the
      raster);
    - BMP: uncompressed 24-bit BITMAPINFOHEADER (the baseline Windows
      bitmap) — bottom-up or top-down rows, 4-byte row padding, BGR→RGB;
    - JPEG: baseline sequential (SOF0/SOF1) AND progressive (SOF2)
      DCT via the pure-numpy decoder in operators/jpeg.py — Huffman
      entropy decode, spectral selection / successive approximation,
      dequantize, 8×8 IDCT, chroma upsample (4:4:4/4:2:2/4:2:0),
      restart markers, YCbCr→RGB;
    - PNG: full static subset (operators/png.py);
    - GIF: 87a/89a with real LZW (operators/gif.py), frame 0
      composited onto the logical screen;
    - TIFF: baseline strip subset with none/PackBits/Deflate/TIFF-LZW
      compressions (operators/tiff.py).

    Returns an HxWxC uint8 array (C=3 RGB, C=1 grayscale). Raises
    ValueError for malformed/truncated payloads of a recognized format
    and NotImplementedError for formats that need an external codec
    (WebP) — the plug-in boundary for PIL when
    available.
    The decoded-pixel contract (bytes → HxWxC shape/dtype/values) is
    pinned by tests and, for P6, by the analytic DuckDB oracle in
    multimodal_suite's 'decode' rows."""
    import numpy as np

    if content[:2] in (b"P6", b"P5", b"P4", b"P3", b"P2", b"P1"):
        return _decode_pnm(np, content)
    if content[:2] == b"BM":
        return _decode_bmp(np, content)
    if content[:2] == b"\xff\xd8":
        from rta_registrations_pyspark_glue_spark.operators.jpeg import (
            decode_baseline_jpeg,
        )

        return decode_baseline_jpeg(content)
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        from rta_registrations_pyspark_glue_spark.operators.png import decode_png

        return decode_png(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        from rta_registrations_pyspark_glue_spark.operators.gif import (
            decode_gif,
            first_frame_on_screen,
        )

        return first_frame_on_screen(decode_gif(content))
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        from rta_registrations_pyspark_glue_spark.operators.tiff import decode_tiff

        return decode_tiff(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        from rta_registrations_pyspark_glue_spark.operators.webp import decode_webp

        # the full WebP family decodes natively: lossless VP8L (r8),
        # lossy VP8 keyframes + ALPH alpha (r9), and ANMF animation
        # (r9 — first composited frame, the GIF convention)
        return decode_webp(content)
    raise NotImplementedError(
        f"unsupported image format (magic {content[:2]!r}); PPM/PGM/BMP/"
        "JPEG(baseline+progressive)/PNG/GIF/TIFF/WebP (lossless + lossy "
        "+ alpha + animation) decode natively — other formats need an "
        "external codec (wire PIL here)"
    )


def _decode_pnm(np, content: bytes):
    """Full PNM family parser: binary P6 (RGB) / P5 (gray) / P4
    (1-bit packed bitmap), ASCII P3/P2/P1. Header tokens are
    whitespace-separated with ``#`` comments allowed between them;
    binary rasters follow exactly one whitespace byte after the last
    header token."""
    magic = content[:2]
    pos = 2
    want = 2 if magic in (b"P4", b"P1") else 3  # bitmaps have no maxval
    tokens: list[int] = []
    while len(tokens) < want:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if pos < len(content) and content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PNM header")
        tokens.append(int(content[start:pos]))
    if magic in (b"P4", b"P1"):
        width, height = tokens
        maxval = 1
    else:
        width, height, maxval = tokens
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PNM dimensions {width}x{height}")
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    channels = 3 if magic in (b"P6", b"P3") else 1
    if magic in (b"P6", b"P5"):
        pos += 1  # the single whitespace byte after maxval
        n = width * height * channels
        raster = content[pos : pos + n]
        if len(raster) < n:
            raise ValueError(f"PNM raster truncated: {len(raster)} < {n}")
        return np.frombuffer(raster, dtype=np.uint8).reshape(
            height, width, channels
        )
    if magic == b"P4":  # packed bitmap, rows padded to whole bytes
        pos += 1
        row_bytes = (width + 7) // 8
        n = row_bytes * height
        raster = content[pos : pos + n]
        if len(raster) < n:
            raise ValueError(f"PNM bitmap truncated: {len(raster)} < {n}")
        bits = np.unpackbits(
            np.frombuffer(raster, dtype=np.uint8).reshape(height, row_bytes),
            axis=1,
        )[:, :width]
        # PBM: 1 = black; present as 0/255 grayscale (black=0)
        return ((1 - bits) * 255).astype(np.uint8).reshape(height, width, 1)
    # ASCII P1/P2/P3: whitespace-separated sample values
    vals = content[pos:].split()
    n = width * height * channels
    if len(vals) < n:
        raise ValueError(f"PNM ASCII raster truncated: {len(vals)} < {n}")
    try:
        arr = np.array([int(v) for v in vals[:n]], dtype=np.int64)
    except ValueError:
        raise ValueError("bad PNM ASCII sample") from None
    if arr.min() < 0 or arr.max() > maxval:
        raise ValueError("PNM ASCII sample out of range")
    if magic == b"P1":  # 1 = black
        arr = (1 - arr) * 255
    return arr.astype(np.uint8).reshape(height, width, channels)


def _decode_bmp(np, content: bytes):
    """Uncompressed 24-bit BITMAPINFOHEADER BMP → HxWx3 RGB."""
    import struct

    if len(content) < 54:
        raise ValueError("BMP header truncated")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    width, height = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP dimensions {width}x{height}")
    stride = (width * 3 + 3) // 4 * 4
    need = data_offset + stride * height
    if len(content) < need:
        raise ValueError(f"BMP raster truncated: {len(content)} < {need}")
    rows = np.frombuffer(
        content, dtype=np.uint8, count=stride * height, offset=data_offset
    ).reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def extract_meta(df: DataFrame) -> DataFrame:
    """Byte-level metadata via Arrow-batched pandas: size + md5.
    Deterministic, so it is oracle-checkable end-to-end — this validates
    the whole binary→Arrow→pandas→Arrow path, not just the arithmetic."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["content"].map(len).astype("int32"),
                    "content_md5": pdf["content"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return df.select("doc_id", "content").mapInPandas(op, META_SCHEMA)


def extract_features(df: DataFrame, frame_bytes: int = 1024) -> DataFrame:
    """Deterministic byte-level stand-in for decode+featurize: byte sum /
    min / max plus a frame count (payload chunked into ``frame_bytes``
    units — the video frame-sampling shape)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["content"].map(bytes)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "byte_sum": payloads.map(lambda b: sum(b)).astype("int64"),
                    "byte_min": payloads.map(lambda b: min(b) if b else 0).astype("int32"),
                    "byte_max": payloads.map(lambda b: max(b) if b else 0).astype("int32"),
                    "n_frames": payloads.map(
                        lambda b: (len(b) + frame_bytes - 1) // frame_bytes
                    ).astype("int32"),
                }
            )

    return df.select("doc_id", "content").mapInPandas(op, FEATURE_SCHEMA)


DECODE_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, pixel_sum bigint, "
    "decode_ok boolean"
)


def synthesize_ppm_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, content): a deterministic P6 image per document —
    width 4+id%5, height 3+id%4, pixel byte i = (id*31 + i) % 256 —
    so decoded statistics are ANALYTICALLY predictable (the DuckDB
    oracle computes pixel_sum from the formula without ever decoding,
    independently cross-checking the real decoder's header parse and
    raster offset)."""

    def encode(d: int) -> bytes:
        w, h = 4 + d % 5, 3 + d % 4
        raster = bytes((d * 31 + i) % 256 for i in range(w * h * 3))
        return b"P6\n%d %d\n255\n" % (w, h) + raster

    return synth_leg(docs, encode)


def synthesize_jpeg_docs(docs: DataFrame, size: int = 16) -> DataFrame:
    """(doc_id, content): a deterministic solid-gray baseline JPEG per
    document — ``size``×``size``, value ``(doc_id * 37) % 256``, unit
    quantization table (operators/jpeg.encode_baseline_jpeg).

    A solid image exercises the DC-only decode path, which is EXACT:
    the DC coefficient of a constant block is 8·(v−128) — integral, so
    quantize/round/dequantize round-trips bit-perfectly and the IDCT
    reproduces the constant (pinned by test_solid_color_exact). The
    decoded pixel sum is therefore ANALYTICALLY predictable —
    ``size² · value`` — which is what lets the DuckDB oracle verify the
    real Huffman+IDCT decoder without decoding anything itself. Only
    256 distinct payloads exist, so encoding is memoized per value."""
    from rta_registrations_pyspark_glue_spark.operators.jpeg import (
        encode_baseline_jpeg,
    )

    def encode(v: int) -> bytes:
        return encode_baseline_jpeg(np.full((size, size), v, dtype=np.uint8))

    return synth_leg(
        docs, encode, key=lambda d: (d * 37) % 256, cache=f"jpeg_synth_{size}"
    )


def synthesize_gif_docs(docs: DataFrame, size: int = 16) -> DataFrame:
    """(doc_id, content): a deterministic GIF89a per document — a
    256-entry grayscale palette (entry i = (i,i,i)) and 16×16 pixel
    indices ``p → (doc_id·5 + p) % 256`` compressed with REAL LZW
    (operators/gif.py), so the gate hash exercises variable-width code
    growth on every document. Lossless, so the decoded pixel sum is
    ANALYTIC: ``3·Σ_p (doc_id·5 + p) % 256``."""
    from rta_registrations_pyspark_glue_spark.operators.gif import encode_gif

    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)

    def encode(base: int) -> bytes:
        p = np.arange(size * size, dtype=np.int64)
        idx = ((base + p) % 256).astype(np.uint8).reshape(size, size)
        return encode_gif(idx, pal)

    return synth_leg(
        docs, encode, key=lambda d: (d * 5) % 256, cache=f"gif_synth_{size}"
    )


def synthesize_tiff_docs(docs: DataFrame, size: int = 16) -> DataFrame:
    """(doc_id, content): a deterministic LZW-compressed TIFF per doc —
    16×16 grayscale, pixel p = (doc_id·3 + p) % 256, two strips so the
    strip-array path runs too. TIFF-LZW is lossless, so the decoded
    pixel sum is ANALYTIC: Σ_p (doc_id·3 + p) % 256."""
    from rta_registrations_pyspark_glue_spark.operators.tiff import encode_tiff

    def encode(base: int) -> bytes:
        p = np.arange(size * size, dtype=np.int64)
        img = ((base + p) % 256).astype(np.uint8).reshape(size, size, 1)
        return encode_tiff(img, compression=5, rows_per_strip=size // 2)

    return synth_leg(
        docs, encode, key=lambda d: (d * 3) % 256, cache=f"tiff_synth_{size}"
    )


def synthesize_webp_docs(docs: DataFrame, size: int = 16) -> DataFrame:
    """(doc_id, content): a deterministic lossless WebP (VP8L) per doc —
    16×16 RGB over a 4-color palette (color i = (doc_id·5 + i·40) % 256
    on every channel, pixel p uses color p % 4), encoded in palette
    mode so the gate runs color-indexing + 2-bit pixel packing + the
    prefix-code machinery on every document. VP8L is lossless, so the
    decoded pixel sum is ANALYTIC:
    3·64·Σ_i (doc_id·5 + i·40) % 256 + 255·256 (RGBA alpha rides as a
    4th channel of 255s)."""
    from rta_registrations_pyspark_glue_spark.operators.webp import encode_webp

    def encode(base: int) -> bytes:
        colors = (base + 40 * np.arange(4, dtype=np.int64)) % 256
        p = np.arange(size * size, dtype=np.int64)
        img = colors[p % 4].astype(np.uint8).repeat(3).reshape(size, size, 3)
        return encode_webp(img, palette=True)

    return synth_leg(
        docs, encode, key=lambda d: (d * 5) % 256, cache=f"webp_synth_{size}"
    )


def synthesize_vp8_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, content): a deterministic LOSSY WebP (VP8 keyframe)
    per doc — a single 16x16 DC16 macroblock whose Y2/U/V dc tokens
    are derived from doc_id (vp8_enc.synthesize_vp8_stream), so every
    document runs the full lossy path: boolean decoder, frame header,
    token trees, dequant, WHT+IDCT, intra prediction, and the
    fancy-upsample RGB conversion. The token injection makes the
    decoded planes CLOSED-FORM integers, which is what lets the gate's
    SQL oracle predict pixel_sum analytically for a lossy codec."""
    from rta_registrations_pyspark_glue_spark.operators.vp8_enc import (
        synthesize_vp8_stream,
        wrap_webp,
    )

    return synth_leg(
        docs,
        lambda key: wrap_webp(synthesize_vp8_stream(40, *key)),
        key=lambda d: (1 + d % 11, 1 + (d * 3) % 7, 1 + (d * 7) % 5),
        cache="vp8_synth",
    )


def synthesize_png_docs(docs: DataFrame, size: int = 16) -> DataFrame:
    """(doc_id, content): a deterministic PNG per document — ``size``
    rows of solid RGB value ``(doc_id*7 + y*13) % 256`` for row ``y``,
    encoded with the scanline filter CYCLING 0→4 per row (None, Sub,
    Up, Average, Paeth), so the driver gate's hash runs the decoder's
    full unfilter matrix, CRC checks, and inflate path on every
    document. Because PNG is lossless the decoded pixel sum is
    ANALYTICALLY ``3·size·Σ_y (doc_id·7 + y·13) % 256`` — the DuckDB
    oracle computes it from the formula without decoding anything."""
    from rta_registrations_pyspark_glue_spark.operators.png import encode_png

    def encode(base: int) -> bytes:
        rows = (base + 13 * np.arange(size, dtype=np.int64)) % 256
        img = np.repeat(rows, size * 3).reshape(size, size, 3)
        return encode_png(img.astype(np.uint8), filters=[0, 1, 2, 3, 4])

    return synth_leg(
        docs, encode, key=lambda d: (d * 7) % 256, cache=f"png_synth_{size}"
    )


def image_features(content: bytes) -> dict:
    """DECODE_SCHEMA features of one image payload (decode_image)."""
    arr = decode_image(content)
    return {
        "width": arr.shape[1],
        "height": arr.shape[0],
        "channels": arr.shape[2],
        "pixel_sum": int(arr.sum()),
    }


def decode_image_features(df: DataFrame) -> DataFrame:
    """Decode the binary column with the REAL decoder and emit
    pixel-level features: dimensions, channel count, and the exact
    pixel sum. Rows whose payload is not a decodable image come back
    with ``decode_ok=false`` and NULL features — a mixed-media corpus
    never kills the job. Arrow-batched mapInPandas; decode parallelism
    is partition parallelism."""
    return decode_leg(df, image_features, DECODE_SCHEMA)


EXIF_SCHEMA = (
    "doc_id bigint, make string, model string, orientation int, "
    "datetime string, has_exif boolean"
)


def extract_image_exif(df: DataFrame) -> DataFrame:
    """Camera metadata for image-corpus curation: EXIF make/model/
    orientation/timestamp from JPEG APP1 (or bare TIFF) payloads via
    the TIFF IFD parser (operators/tiff.py). Payloads without EXIF (or
    that are not images at all) yield has_exif=false with NULL fields
    — never an error. Arrow-batched mapInPandas."""
    from rta_registrations_pyspark_glue_spark.operators.tiff import extract_exif

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            makes, models, orients, dts, has = [], [], [], [], []
            for content in pdf["content"]:
                try:
                    exif = extract_exif(bytes(content)) if content is not None else {}
                except Exception:
                    exif = {}
                makes.append(exif.get("make"))
                models.append(exif.get("model"))
                o = exif.get("orientation")
                orients.append(int(o) if isinstance(o, int) else None)
                dts.append(exif.get("datetime"))
                has.append(bool(exif))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "make": pd.Series(makes, dtype="object"),
                    "model": pd.Series(models, dtype="object"),
                    "orientation": pd.array(orients, dtype="Int32"),
                    "datetime": pd.Series(dts, dtype="object"),
                    "has_exif": pd.array(has, dtype="boolean"),
                }
            )

    return df.select("doc_id", "content").mapInPandas(op, EXIF_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame binary, frame_md5 string"
RESIZE_SCHEMA = "doc_id bigint, width int, height int, pixels binary"


def sample_frames(
    df: DataFrame, frame_bytes: int = 1024, every_k: int = 4
) -> DataFrame:
    """Frame sampling — the one-to-MANY mapInPandas shape (a video row
    explodes into its sampled frames): payloads chunk into
    ``frame_bytes`` frames, every ``every_k``-th frame is emitted with
    its index and md5. Output rows per input row vary, which is exactly
    what the Arrow batch iterator allows (a yielded frame can hold any
    number of rows); memory stays bounded by the input batch size times
    the sampling ratio. Deterministic, so tests recompute it exactly."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames, digests = [], [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(content)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every_k):
                    frame = b[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(frame)
                    digests.append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype="object"),
                    "frame_md5": pd.Series(digests, dtype="object"),
                }
            )

    return df.select("doc_id", "content").mapInPandas(op, FRAME_SCHEMA)


def resize_media(df: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Resize plumbing with a DETERMINISTIC FAKE decoder for OPAQUE
    payloads (arbitrary bytes, not necessarily an image format —
    decode_image handles real PPM/PGM/BMP): the payload is treated
    as a square grayscale image (side = floor(sqrt(n_bytes))) and
    nearest-neighbor-sampled to ``width``×``height``. Swapping the fake
    for decode_image+resize changes only the per-row body; the schema
    contract, Arrow batch shape, and plan stay identical. Payloads too
    small for one pixel yield an all-zero tile (never a crash)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for content in pdf["content"]:
                b = bytes(content)
                side = int(len(b) ** 0.5)
                if side == 0:
                    out.append(bytes(width * height))
                    continue
                pixels = bytearray()
                for r in range(height):
                    for c in range(width):
                        src = (r * side // height) * side + (c * side // width)
                        pixels.append(b[src])
                out.append(bytes(pixels))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "pixels": pd.Series(out, dtype="object"),
                }
            )

    return df.select("doc_id", "content").mapInPandas(op, RESIZE_SCHEMA)
