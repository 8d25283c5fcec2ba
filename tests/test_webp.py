"""VP8L (lossless WebP) codec contract (operators/webp.py).

No external VP8L files exist in this container, so the decoder is
pinned three ways: (1) byte-level roundtrips through the fixture
encoder for every encoder-expressible path (plain / alpha /
subtract-green / palette at every packing width); (2) HAND-BUILT
bitstreams for the features the fixture encoder does not emit — LZ77
backward references with the 2D distance map, color cache, meta-prefix
groups, predictor and color transforms — each checked against an
expectation computed independently in the test; (3) structural checks
of the spec tables (distance map shape/uniqueness/ring order).
"""

from __future__ import annotations

import numpy as np
import pytest

import rta_registrations_pyspark_glue_spark.operators.webp as W
from rta_registrations_pyspark_glue_spark.operators.bitio import LsbReader, LsbWriter


def _rt(img, **kw):
    return W.decode_webp(W.encode_webp(np.asarray(img, dtype=np.uint8), **kw))


# ------------------------- encoder roundtrips -------------------------


def test_roundtrip_rgb_and_rgba():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    out = _rt(img)
    assert out.shape == (13, 17, 4)
    assert (out[:, :, :3] == img).all() and (out[:, :, 3] == 255).all()
    img4 = rng.integers(0, 256, size=(9, 5, 4), dtype=np.uint8)
    assert (_rt(img4) == img4).all()


def test_roundtrip_subtract_green_transform():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=(8, 8, 4), dtype=np.uint8)
    assert (_rt(img, subtract_green=True) == img).all()


@pytest.mark.parametrize(
    "n_colors,shape",
    [(2, (11, 23)), (4, (7, 5)), (16, (3, 16)), (40, (6, 8))],
)
def test_roundtrip_palette_every_packing_width(n_colors, shape):
    rng = np.random.default_rng(n_colors)
    base = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
    idx = rng.integers(0, n_colors, size=shape)
    idx.reshape(-1)[:n_colors] = np.arange(n_colors)  # all colors present
    img = base[idx]
    out = _rt(img, palette=True)
    assert (out[:, :, :3] == img).all()


def test_roundtrip_single_color_and_single_pixel():
    assert (_rt(np.full((5, 5, 3), 7, np.uint8))[:, :, :3] == 7).all()
    one = np.array([[[1, 2, 3]]], dtype=np.uint8)
    assert (_rt(one)[:, :, :3] == one).all()


def test_decode_image_dispatches_webp():
    from rta_registrations_pyspark_glue_spark.operators.multimodal import (
        decode_image,
    )

    img = np.full((4, 6, 3), 99, np.uint8)
    out = decode_image(W.encode_webp(img))
    assert out.shape == (4, 6, 4) and (out[:, :, 0] == 99).all()


def test_lossy_vp8_with_alpha_decodes():
    """The stdlib's python.webp is lossy (VP8X + ALPH + VP8): since r9
    the full chain decodes natively — VP8 keyframe to YUV, fancy
    upsample + fixed-point conversion to RGB, VP8L-compressed ALPH
    plane stacked as the 4th channel. (Before r9 this file was the
    documented NotImplementedError boundary.)"""
    import glob

    paths = glob.glob(
        "/root/.pyenv/versions/*/lib/python*/test/test_email/data/python.webp"
    )
    if not paths:
        pytest.skip("no lossy sample in container")
    out = W.decode_webp(open(paths[0], "rb").read())
    assert out.shape == (16, 16, 4) and out.dtype.name == "uint8"
    # the logo has real transparency and real color content
    assert (out[..., 3] == 0).any() and (out[..., 3] == 255).any()
    assert out[..., :3].std() > 10


def _vp8l_body(img):
    data = W.encode_webp(img)
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        if tag == b"VP8L":
            return data[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)
    raise AssertionError("no VP8L chunk")


def test_animation_composites_blend_and_dispose():
    """ANMF compositing (r9): frame 1 paints the canvas; frame 2
    overwrites a 4x4 region at an offset (blend_none); frame 2's
    dispose_bg clears ONLY its rect before frame 3, which then
    alpha-blends a fully-opaque patch (equivalent to overwrite)."""
    import numpy as np

    f1 = np.full((8, 8, 3), 50, np.uint8)
    f2 = np.full((4, 4, 3), 200, np.uint8)
    f3 = np.full((2, 2, 3), 99, np.uint8)
    anim = W.wrap_webp_anim(8, 8, [
        (0, 0, [(b"VP8L", _vp8l_body(f1))], 40, True, False, 8, 8),
        (2, 2, [(b"VP8L", _vp8l_body(f2))], 60, True, True, 4, 4),
        (0, 0, [(b"VP8L", _vp8l_body(f3))], 10, False, False, 2, 2),
    ])
    frames = W.decode_webp_frames(anim)
    assert [d for _, d in frames] == [40, 60, 10]
    c0, c1, c2 = (f for f, _ in frames)
    assert (c0[..., :3] == 50).all()
    assert (c1[2:6, 2:6, :3] == 200).all() and (c1[0, 0, :3] == 50).all()
    # frame 2's rect was cleared to transparent before frame 3
    assert (c2[2:6, 2:6, 3] == 0).all() and (c2[0:2, 0:2, :3] == 99).all()
    assert (c2[6:, 6:, :3] == 50).all()  # untouched canvas survives
    # decode_webp returns the FIRST composited frame (GIF convention)
    assert np.array_equal(W.decode_webp(anim), c0)


def test_animation_lossy_vp8_frames():
    """ANMF frames can carry lossy VP8 payloads: a synthesized
    single-MB keyframe decodes inside the animation to its closed-form
    constant RGB."""
    import numpy as np

    from rta_registrations_pyspark_glue_spark.operators import vp8_enc

    chunk = vp8_enc.synthesize_vp8_stream(40, 5, 4, 3)
    anim = W.wrap_webp_anim(16, 16, [
        (0, 0, [(b"VP8 ", chunk)], 25, True, False, 16, 16),
    ])
    frames = W.decode_webp_frames(anim)
    assert len(frames) == 1 and frames[0][1] == 25
    img = frames[0][0]
    assert img.shape == (16, 16, 4)
    assert (img[..., :3] == img[0, 0, :3]).all() and (img[..., 3] == 255).all()


def test_animation_without_canvas_rejected():
    bad = b"RIFF" + (20).to_bytes(4, "little") + b"WEBP" + \
        b"ANMF" + (16).to_bytes(4, "little") + b"\x00" * 16
    with pytest.raises(ValueError):
        W.decode_webp_frames(bad)


# -------------------- hand-built bitstream vectors --------------------


def _header(bw, w, h):
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version


def _lengths(alphabet, used):
    ls = [0] * alphabet
    for s, l in used.items():
        ls[s] = l
    return ls


def test_lz77_copy_row_above():
    """4x2: four literals then one length-4 backward reference at plane
    code 1 = (0 back, 1 up) = distance w — the second row must equal
    the first. Pins the length/distance prefix coding AND the first
    distance-map entry."""
    bw = LsbWriter()
    _header(bw, 4, 2)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    greens = [10, 20, 30, 40]
    # green tree: 4 literals + length-symbol 259 (copy length 4)
    g_len = _lengths(W._GREEN_BASE, {10: 3, 20: 3, 30: 3, 40: 3, 259: 1})
    r_len = _lengths(256, {5: 1})  # single-symbol: 0 bits per pixel
    b_len = _lengths(256, {6: 1})
    a_len = _lengths(256, {255: 1})
    d_len = _lengths(40, {0: 1})  # plane-code value 1 -> symbol 0
    for ls in (g_len, r_len, b_len, a_len, d_len):
        W._write_prefix_code(bw, ls)
    g_codes = W.canonical_codes(g_len)
    for g in greens:
        bw.write_code(*g_codes[g])  # r/b/a trees consume 0 bits
    bw.write_code(*g_codes[259])  # LZ77: length symbol 3 -> length 4
    # distance tree is single-symbol (0 bits); plane code 1, no extras
    out = W.decode_vp8l(bw.getvalue())
    assert out.shape == (2, 4, 4)
    assert (out[0] == out[1]).all()
    assert list(out[0, :, 1]) == greens  # G channel
    assert (out[:, :, 0] == 5).all() and (out[:, :, 2] == 6).all()
    assert (out[:, :, 3] == 255).all()


def test_prefix_coded_value_roundtrip():
    """_prefix_encode_value must invert _read_prefix_coded_value across
    the whole useful range (lengths/distances up to 2^20)."""
    for v in list(range(1, 2000)) + [4096, 65536, 1 << 20]:
        sym, extra_val, extra_bits = W._prefix_encode_value(v)
        bw = LsbWriter()
        bw.write(extra_val, extra_bits)
        br = LsbReader(bw.getvalue() or b"\x00")
        assert W._read_prefix_coded_value(br, sym) == v, v


def test_distance_map_structure():
    m = W.DISTANCE_MAP
    assert len(m) == 120
    assert len(set(m)) == 120
    assert all(0 <= y <= 8 and -8 <= x <= 8 for x, y in m)
    assert m[0] == (0, 1) and m[1] == (1, 0)  # up, left
    # ring order: euclidean distance never shrinks by more than a ring
    d2 = [x * x + y * y for x, y in m]
    assert all(d2[i + 1] >= d2[i] - 8 for i in range(119))
    # linear region + clamping
    assert W._plane_code_to_distance(10, 121) == 1
    assert W._plane_code_to_distance(10, 130) == 10
    assert W._plane_code_to_distance(10, 1) == 10  # (0,1) -> one row up
    assert W._plane_code_to_distance(10, 2) == 1  # (1,0) -> left


def test_color_cache_symbol():
    """Literal pixel, then the same pixel via its cache index: both
    decoded pixels must be identical. cache_bits=4; the cache symbol is
    280 + ((0x1e35a7bd * argb) >> 28)."""
    argb = 0xFF0A141E  # a=255 r=10 g=20 b=30
    key = ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> 28
    cache_sym = W._GREEN_BASE + key
    bw = LsbWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # cache present
    bw.write(4, 4)  # cache_bits = 4
    bw.write(0, 1)  # no meta
    alphabet = W._GREEN_BASE + 16
    g_len = _lengths(alphabet, {20: 1, cache_sym: 1})
    r_len = _lengths(256, {10: 1})
    b_len = _lengths(256, {30: 1})
    a_len = _lengths(256, {255: 1})
    d_len = _lengths(40, {0: 1})
    for ls in (g_len, r_len, b_len, a_len, d_len):
        W._write_prefix_code(bw, ls)
    g_codes = W.canonical_codes(g_len)
    bw.write_code(*g_codes[20])  # literal (r/b/a trees: 0 bits)
    bw.write_code(*g_codes[cache_sym])  # cache hit
    out = W.decode_vp8l(bw.getvalue())
    assert (out[0, 0] == out[0, 1]).all()
    assert list(out[0, 0]) == [10, 20, 30, 255]


def test_meta_prefix_groups():
    """8x1 image, meta block size 4 -> two blocks mapping to two prefix
    groups with DIFFERENT constant-literal trees: the two halves must
    decode through their own group's trees."""
    bw2 = LsbWriter()
    _header(bw2, 8, 1)
    bw2.write(0, 1)
    bw2.write(0, 1)
    bw2.write(1, 1)
    bw2.write(0, 3)  # meta_bits = 2 -> block size 4 -> 2x1 entropy image
    # entropy sub-image (2x1): cache flag + trees + pixels (green=index)
    bw2.write(0, 1)  # sub-image cache flag
    eg_len = _lengths(W._GREEN_BASE, {0: 1, 1: 1})
    er_len = _lengths(256, {0: 1})
    eb_len = _lengths(256, {0: 1})
    ea_len = _lengths(256, {0: 1})
    ed_len = _lengths(40, {0: 1})
    for ls in (eg_len, er_len, eb_len, ea_len, ed_len):
        W._write_prefix_code(bw2, ls)
    eg_codes = W.canonical_codes(eg_len)
    bw2.write_code(*eg_codes[0])  # block 0 -> group 0
    bw2.write_code(*eg_codes[1])  # block 1 -> group 1
    # two groups: group 0 emits green 100, group 1 emits green 200
    for gval in (100, 200):
        g_len = _lengths(W._GREEN_BASE, {gval: 1})
        for ls in (
            g_len,
            _lengths(256, {gval: 1}),  # red = green for visibility
            _lengths(256, {0: 1}),
            _lengths(256, {255: 1}),
            _lengths(40, {0: 1}),
        ):
            W._write_prefix_code(bw2, ls)
    # all trees are single-symbol -> the 8 pixels consume 0 bits
    out = W.decode_vp8l(bw2.getvalue())
    assert list(out[0, :, 1]) == [100] * 4 + [200] * 4
    assert list(out[0, :, 0]) == [100] * 4 + [200] * 4


def test_predictor_transform_top_mode():
    """2x2 predictor transform, one block, mode 2 (top): decoded pixels
    are residuals; row 1 must reconstruct as residual + row 0. Edge
    rules: (0,0) predicts opaque black, row 0 predicts from left."""
    bw = LsbWriter()
    _header(bw, 2, 2)
    bw.write(1, 1)  # transform present
    bw.write(0, 2)  # predictor
    bw.write(0, 3)  # size_bits = 2 -> block 4 -> 1x1 mode image
    bw.write(0, 1)  # sub-image cache flag
    for ls in (
        _lengths(W._GREEN_BASE, {2: 1}),  # mode 2 in green channel
        _lengths(256, {0: 1}),
        _lengths(256, {0: 1}),
        _lengths(256, {0: 1}),
        _lengths(40, {0: 1}),
    ):
        W._write_prefix_code(bw, ls)
    bw.write(0, 1)  # end of transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    # residuals: row0 = [(a=255-? ...)] — compute expectations manually.
    # pixel(0,0): residual + 0xff000000 ; pixel(0,1): residual + left;
    # row1: residual + top (mode 2).
    g_len = _lengths(W._GREEN_BASE, {1: 2, 2: 2, 3: 2, 4: 2})
    r_len = _lengths(256, {0: 1})
    b_len = _lengths(256, {0: 1})
    a_len = _lengths(256, {0: 2, 255: 2})
    d_len = _lengths(40, {0: 1})
    for ls in (g_len, r_len, b_len, a_len, d_len):
        W._write_prefix_code(bw, ls)
    g_codes = W.canonical_codes(g_len)
    a_codes = W.canonical_codes(a_len)
    # (green residual, alpha residual) per pixel in scan order
    seq = [(1, 255), (2, 0), (3, 0), (4, 0)]
    for g, a in seq:
        bw.write_code(*g_codes[g])
        bw.write_code(*a_codes[a])
    out = W.decode_vp8l(bw.getvalue())
    # (0,0): (0,1,0)+black, alpha 255+0... alpha of black pred is 0xff
    # so alpha = 255 + 255 mod 256 = 254? No: residual alpha 255 + pred
    # alpha 0xff = 254 -- verify against the model:
    g = np.zeros((2, 2), dtype=int)
    a = np.zeros((2, 2), dtype=int)
    g[0, 0] = (1 + 0) % 256
    a[0, 0] = (255 + 0xFF) % 256
    g[0, 1] = (2 + g[0, 0]) % 256  # row 0: left predictor
    a[0, 1] = (0 + a[0, 0]) % 256
    g[1, 0] = (3 + g[0, 0]) % 256  # column 0: top predictor
    a[1, 0] = (0 + a[0, 0]) % 256
    g[1, 1] = (4 + g[0, 1]) % 256  # mode 2: top
    a[1, 1] = (0 + a[0, 1]) % 256
    assert (out[:, :, 1] == g).all()
    assert (out[:, :, 3] == a).all()


def test_color_transform_inverse():
    """2x1 color transform with green_to_red=2, green_to_blue=0,
    red_to_blue=0: decoded red must gain (int8(2) * int8(g)) >> 5."""
    bw = LsbWriter()
    _header(bw, 2, 1)
    bw.write(1, 1)
    bw.write(1, 2)  # color transform
    bw.write(0, 3)  # block 4 -> 1x1 element image
    bw.write(0, 1)  # sub-image cache flag
    # element: blue channel holds green_to_red
    for ls in (
        _lengths(W._GREEN_BASE, {0: 1}),
        _lengths(256, {0: 1}),
        _lengths(256, {2: 1}),  # blue = g2r = 2
        _lengths(256, {0: 1}),
        _lengths(40, {0: 1}),
    ):
        W._write_prefix_code(bw, ls)
    bw.write(0, 1)  # end transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    # two pixels g=64 (delta +4) and g=200 (int8 200-256=-56 -> -4)
    g_len = _lengths(W._GREEN_BASE, {64: 1, 200: 1})
    for ls in (
        g_len,
        _lengths(256, {10: 1}),
        _lengths(256, {0: 1}),
        _lengths(256, {255: 1}),
        _lengths(40, {0: 1}),
    ):
        W._write_prefix_code(bw, ls)
    g_codes = W.canonical_codes(g_len)
    bw.write_code(*g_codes[64])
    bw.write_code(*g_codes[200])
    out = W.decode_vp8l(bw.getvalue())
    # delta = (2 * int8(g)) >> 5 : g=64 -> 128>>5 = 4 ; g=200 -> int8
    # -56 -> -112 >> 5 = -4 (arithmetic)
    assert out[0, 0, 0] == (10 + 4) % 256
    assert out[0, 1, 0] == (10 - 4) % 256
    assert list(out[0, :, 1]) == [64, 200]


def test_truncation_and_garbage_raise():
    img = np.full((4, 4, 3), 50, np.uint8)
    data = W.encode_webp(img)
    with pytest.raises(ValueError):
        W.decode_webp(b"RIFF\x00\x00\x00\x00WEBQ")
    with pytest.raises(ValueError):
        W.decode_vp8l(b"\x00\x01\x02")
    with pytest.raises((ValueError, NotImplementedError)):
        W.decode_webp(data[: len(data) - max(4, len(data) // 3)])


# ----------------- predictor TR wrap (rightmost column) -----------------


def test_predictor_tr_rightmost_column_wraps_to_row_start():
    """VP8L spec exception: the TR neighbour for a rightmost-column
    pixel is pixels[i - w + 1] UNCONDITIONALLY — contiguous-memory
    wrap to the CURRENT row's leftmost (already reconstructed) pixel,
    matching libwebp — not the top pixel. Hand vector, mode 3 (= TR)."""
    w, h = 3, 2
    # residuals; one 8x8 mode block (size_bits=3) covers the image
    pixels = [0x00010203, 0, 0x00000005, 0x00100000, 0, 0]
    W._inverse_predictor(pixels, w, h, 3, [3 << 8])
    assert pixels[0] == 0xFF010203  # black + residual
    assert pixels[1] == 0xFF010203  # row 0: left
    assert pixels[2] == 0xFF010208
    assert pixels[3] == 0xFF110203  # col 0: top
    assert pixels[4] == 0xFF010208  # interior: true top-right
    # rightmost column: TR == pixels[i-w+1] == row 1 leftmost (wrap),
    # NOT the top pixel 0xFF010208
    assert pixels[5] == 0xFF110203


def test_predictor_tr_wrap_mode9_average():
    """Same wrap through an averaging mode (9 = avg2(T, TR)): on the
    rightmost column the average must mix the top pixel with the
    current row's leftmost pixel, not collapse to avg2(T, T) == T."""
    w, h = 2, 2
    pixels = [0x00204060, 0, 0x00222222, 0]
    W._inverse_predictor(pixels, w, h, 3, [9 << 8])
    assert pixels[0] == 0xFF204060
    assert pixels[1] == 0xFF204060  # row 0: left
    assert pixels[2] == 0xFF426282  # col 0: top + residual
    # x=1,y=1: t=0xFF204060, tr(wrap)=pixels[2]=0xFF426282
    # avg2 per channel -> 0xFF315171 (buggy top-as-TR gave 0xFF204060)
    assert pixels[3] == 0xFF315171
