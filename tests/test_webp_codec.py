"""VP8L (lossless WebP) codec tests: the in-repo fixture writer's
streams round-trip through decode_webp (libwebp) over the entropy
paths the writer emits (canonical prefix codes, LZ77 runs through the
distance map, color cache), plus HAND-ASSEMBLED streams for each of
the four transforms — the paths the writer deliberately does not
produce — and libwebp's own lossless encoder output."""

from __future__ import annotations

import numpy as np
import pytest

from parquet_on_fhir_spark.operators.multimodal import (
    _Vp8lBitWriter,
    _vp8l_build_lengths,
    _vp8l_write_code,
    decode_pixels,
    decode_webp,
    encode_webp_lossless,
)

from libwebp_ref import encode_rgb_lossless, needs_libwebp


def test_roundtrip_random_and_runs():
    rng = np.random.default_rng(7)
    for shape, lz in [
        ((8, 8), False),
        ((8, 8), True),
        ((16, 11), True),
        ((1, 1), False),
        ((3, 40), True),
        ((40, 3), False),
    ]:
        img = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        if lz:
            img[::2] = img[0, 0]  # plant runs for the LZ77/cache paths
        blob = encode_webp_lossless(img, use_lz77=lz)
        w, h, out = decode_webp(blob)
        assert (w, h) == (shape[1], shape[0])
        assert np.array_equal(out, img), (shape, lz)


def test_roundtrip_solid_and_two_color():
    solid = np.full((9, 7, 3), 130, dtype=np.uint8)
    assert np.array_equal(
        decode_webp(encode_webp_lossless(solid, use_lz77=True))[2], solid
    )
    two = np.zeros((8, 8, 3), dtype=np.uint8)
    two[4:] = 255
    assert np.array_equal(
        decode_webp(encode_webp_lossless(two))[2], two
    )


def test_decode_pixels_dispatch_and_lossy_routing():
    img = np.full((4, 4, 3), 7, dtype=np.uint8)
    blob = encode_webp_lossless(img)
    w, h, out = decode_pixels(blob, "image/webp")
    assert (w, h) == (4, 4) and np.array_equal(out, img)
    # lossy VP8 chunks route to libwebp (tests/test_vp8_codec.py);
    # garbage payloads raise
    lossy_garbage = (
        b"RIFF" + (12).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4
    )
    with pytest.raises(ValueError):
        decode_webp(lossy_garbage)


# --- hand-assembled transform streams -------------------------------------------


def _wrap(payload: bytes) -> bytes:
    vp8l = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        vp8l += b"\x00"
    return b"RIFF" + (4 + len(vp8l)).to_bytes(4, "little") + b"WEBP" + vp8l


def _write_header(bw: _Vp8lBitWriter, w: int, h: int) -> None:
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


def _write_literal_body(bw, argb_list, level0=True):
    """no-cache literal-coded pixel stream (shared by the transform
    assemblies below); only level-0 streams carry the meta-prefix bit."""
    bw.write(0, 1)  # no color cache
    if level0:
        bw.write(0, 1)  # no meta prefix codes
    freqs = [dict(), dict(), dict(), dict(), {0: 1}]
    for px in argb_list:
        for fi, sh in ((0, 8), (1, 16), (2, 0), (3, 24)):
            v = (px >> sh) & 0xFF
            freqs[fi][v] = freqs[fi].get(v, 0) + 1
    codes = []
    for f, alpha in zip(freqs, (280, 256, 256, 256, 40)):
        codes.append(_vp8l_write_code(bw, _vp8l_build_lengths(f), alpha))
    for px in argb_list:
        for ci, sh in ((0, 8), (1, 16), (2, 0), (3, 24)):
            v = (px >> sh) & 0xFF
            n, c = codes[ci][v]
            if n:
                bw.write_code(c, n)


def _sub_image_stream(bw, argb_list):
    """subresolution image (is_level0=False): same literal body, no
    meta-prefix bit."""
    _write_literal_body(bw, argb_list, level0=False)


def _argb(img):
    a = img.astype(np.uint32)
    return (
        (0xFF << 24) | (a[:, :, 0] << 16) | (a[:, :, 1] << 8) | a[:, :, 2]
    ).reshape(-1)


def test_subtract_green_transform_stream():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    res = img.astype(np.int32)
    res[:, :, 0] = (res[:, :, 0] - res[:, :, 1]) % 256  # r -= g
    res[:, :, 2] = (res[:, :, 2] - res[:, :, 1]) % 256  # b -= g
    bw = _Vp8lBitWriter()
    _write_header(bw, 6, 5)
    bw.write(1, 1)  # transform present
    bw.write(2, 2)  # SUBTRACT_GREEN
    bw.write(0, 1)  # no more transforms
    _write_literal_body(bw, [int(p) for p in _argb(res.astype(np.uint8))])
    w, h, out = decode_webp(_wrap(b"\x2f" + bw.bytes()))
    assert (w, h) == (6, 5)
    assert np.array_equal(out, img)


def test_predictor_transform_stream():
    """predictor mode 2 (= T, top pixel) over one 4x4 block: residuals
    computed forward here must invert to the source image."""
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    src = _argb(img)
    res = np.zeros_like(src)
    w = 4
    for i, px in enumerate(src):
        x, y = i % w, i // w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = src[i - 1]
        elif x == 0:
            pred = src[i - w]
        else:
            pred = src[i - w]  # mode 2 = T
        d = 0
        for sh in (24, 16, 8, 0):
            d |= ((int(px >> sh) - int(pred >> sh)) & 0xFF) << sh
        res[i] = d
    bw = _Vp8lBitWriter()
    _write_header(bw, 4, 4)
    bw.write(1, 1)
    bw.write(0, 2)  # PREDICTOR
    bw.write(0, 3)  # size_bits = 2 → 4x4 blocks → single block
    _sub_image_stream(bw, [0xFF000000 | (2 << 8)])  # mode 2 in green
    bw.write(0, 1)  # no more transforms
    _write_literal_body(bw, [int(p) for p in res])
    _, _, out = decode_webp(_wrap(b"\x2f" + bw.bytes()))
    assert np.array_equal(out, img)


def _predict_forward(src, w, mode_fn):
    """Forward residual computation mirroring the decoder's inverse,
    including the RFC 9649 contiguous-buffer TR wrap: at x == w-1,
    TR = src[i-w+1] = the leftmost pixel of the CURRENT row."""
    res = np.zeros_like(src)
    for i, px in enumerate(src):
        x, y = i % w, i // w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = src[i - 1]
        elif x == 0:
            pred = src[i - w]
        else:
            pred = mode_fn(src, i, w)
        d = 0
        for sh in (24, 16, 8, 0):
            d |= ((int(px >> sh) - int(pred >> sh)) & 0xFF) << sh
        res[i] = d
    return res


def _avg2(a, b):
    return (
        (((int(a >> 24) + int(b >> 24)) >> 1) << 24)
        | (((((int(a) >> 16) & 0xFF) + ((int(b) >> 16) & 0xFF)) >> 1) << 16)
        | (((((int(a) >> 8) & 0xFF) + ((int(b) >> 8) & 0xFF)) >> 1) << 8)
        | (((int(a) & 0xFF) + (int(b) & 0xFF)) >> 1)
    )


@pytest.mark.parametrize(
    "mode,mode_fn",
    [
        (3, lambda s, i, w: int(s[i - w + 1])),  # TR
        (5, lambda s, i, w: _avg2(_avg2(s[i - 1], s[i - w + 1]), s[i - w])),
        (9, lambda s, i, w: _avg2(s[i - w], s[i - w + 1])),
        (10, lambda s, i, w: _avg2(
            _avg2(s[i - 1], s[i - w - 1]), _avg2(s[i - w], s[i - w + 1])
        )),
    ],
)
def test_predictor_tr_rightmost_column_wrap(mode, mode_fn):
    """Predictor modes that read TR (3/5/9/10) on a 4-wide image: the
    rightmost column must use the contiguous-buffer wrap (the leftmost,
    already-decoded pixel of the current row), per RFC 9649 / libwebp —
    NOT the top pixel.  Regression test for the r12 advisory."""
    rng = np.random.default_rng(40 + mode)
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    src = _argb(img)
    res = _predict_forward(src, 4, mode_fn)
    bw = _Vp8lBitWriter()
    _write_header(bw, 4, 4)
    bw.write(1, 1)
    bw.write(0, 2)  # PREDICTOR
    bw.write(0, 3)  # size_bits = 2 → single 4x4 block
    _sub_image_stream(bw, [0xFF000000 | (mode << 8)])
    bw.write(0, 1)  # no more transforms
    _write_literal_body(bw, [int(p) for p in res])
    _, _, out = decode_webp(_wrap(b"\x2f" + bw.bytes()))
    assert np.array_equal(out, img)


def test_color_transform_stream():
    """one cross-color block (g2r=2, g2b=3, r2b=252 i.e. −4): forward
    per libwebp VP8LTransformColor, decoder must invert exactly."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)

    def s8(v):
        return v - 256 if v >= 128 else v

    g2r, g2b, r2b = 2, 3, 252
    res = []
    for px in _argb(img):
        g = s8(int(px >> 8) & 0xFF)
        r = int(px >> 16) & 0xFF
        b = int(px) & 0xFF
        # r2b delta uses the ORIGINAL red on both sides (the decoder
        # restores red before applying it)
        new_r = (r - ((s8(g2r) * g) >> 5)) & 0xFF
        new_b = (b - ((s8(g2b) * g) >> 5) - ((s8(r2b) * s8(r)) >> 5)) & 0xFF
        res.append((int(px) & 0xFF00FF00) | (new_r << 16) | new_b)
    bw = _Vp8lBitWriter()
    _write_header(bw, 4, 4)
    bw.write(1, 1)
    bw.write(1, 2)  # COLOR_TRANSFORM
    bw.write(0, 3)  # size_bits=2 → single block
    cte = (0xFF << 24) | (r2b << 16) | (g2b << 8) | g2r
    _sub_image_stream(bw, [cte])
    bw.write(0, 1)
    _write_literal_body(bw, res)
    _, _, out = decode_webp(_wrap(b"\x2f" + bw.bytes()))
    assert np.array_equal(out, img)


def test_color_indexing_packed_stream():
    """4-color palette → 2-bit bundled indices (4 per green byte),
    palette delta-coded; 8x2 image."""
    palette = np.array(
        [[10, 20, 30], [200, 100, 50], [0, 0, 0], [255, 255, 255]],
        dtype=np.uint8,
    )
    idx = np.array(
        [[0, 1, 2, 3, 3, 2, 1, 0], [1, 1, 0, 0, 3, 3, 2, 2]],
        dtype=np.uint8,
    )
    img = palette[idx]
    # packed: bits=2 → 4 indices per byte, low bits first
    packed_rows = []
    for row in idx:
        for c in range(0, 8, 4):
            byte = sum(int(row[c + j]) << (2 * j) for j in range(4))
            packed_rows.append(0xFF000000 | (byte << 8))
    # palette stream is delta-coded componentwise
    pal_argb = [
        (0xFF << 24) | (int(r) << 16) | (int(g) << 8) | int(b)
        for r, g, b in palette
    ]
    deltas = [pal_argb[0]]
    for i in range(1, 4):
        d = 0
        for sh in (24, 16, 8, 0):
            d |= ((int(pal_argb[i] >> sh) - int(pal_argb[i - 1] >> sh)) & 0xFF) << sh
        deltas.append(d)
    bw = _Vp8lBitWriter()
    _write_header(bw, 8, 2)
    bw.write(1, 1)
    bw.write(3, 2)  # COLOR_INDEXING
    bw.write(3, 8)  # n_colors - 1
    _sub_image_stream(bw, deltas)
    bw.write(0, 1)  # no more transforms
    _write_literal_body(bw, packed_rows)
    w, h, out = decode_webp(_wrap(b"\x2f" + bw.bytes()))
    assert (w, h) == (8, 2)
    assert np.array_equal(out, img)


def test_color_cache_synthetic_stream():
    """encoder's 1-bit cache round-trip with a repeated-pixel image
    whose repeats are NOT runs (cache hits, not LZ77 copies)."""
    img = np.zeros((2, 6, 3), dtype=np.uint8)
    img[:, ::2] = [9, 8, 7]
    img[:, 1::2] = [100, 99, 98]
    blob = encode_webp_lossless(img, use_lz77=True)
    _, _, out = decode_webp(blob)
    assert np.array_equal(out, img)


@needs_libwebp
def test_libwebp_lossless_streams_exact():
    """libwebp's own lossless encoder (transforms, meta prefix codes,
    color cache chosen by its heuristics) → decode_webp is exact."""
    rng = np.random.default_rng(9)
    for shape in [(1, 1), (7, 13), (32, 17)]:
        img = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        img[: shape[0] // 2] //= 16  # low-entropy half: palette/cache paths
        w, h, out = decode_webp(encode_rgb_lossless(img))
        assert (w, h) == (shape[1], shape[0])
        assert np.array_equal(out, img), shape
