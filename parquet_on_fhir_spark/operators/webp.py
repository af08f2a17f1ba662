"""WebP still-image decode through the SYSTEM libwebp (ctypes seam).

This module binds the simple decoding API of libwebp
(``libwebp.so.7``) the way ``operators/avif.py`` binds libavif —
dlopen-guarded, raising ``NotImplementedError`` with wiring guidance
when absent.  The simple API passes only scalars and plane pointers
(no struct offsets), so unlike libavif it needs no version gate.

Both entry points take one bitstream chunk — ``b"VP8 "``/``b"VP8L"``
fourcc, size and payload, as sliced from a RIFF container — or a whole
WebP file.  libwebp returning NULL (malformed, truncated or
unsupported input) raises ``ValueError``, the quarantine signal of
``multimodal._codec_quarantine``.  The in-repo encoders
(``operators/vp8_enc.py``, ``multimodal.encode_webp_lossless``) write
the fixtures this decodes.
"""

from __future__ import annotations

import ctypes
import functools

import numpy as np


@functools.cache
def _load():
    """The configured libwebp handle (loaded once per process)."""
    try:
        lw = ctypes.CDLL("libwebp.so.7")
    except OSError as e:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "WebP decode requires the system libwebp (libwebp.so.7); "
            "this environment lacks it — route payloads to "
            "stand_in_features or install libwebp"
        ) from e
    c_int_p = ctypes.POINTER(ctypes.c_int)
    lw.WebPDecodeYUV.restype = ctypes.c_void_p
    lw.WebPDecodeYUV.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, c_int_p, c_int_p,
        ctypes.POINTER(ctypes.c_void_p), ctypes.POINTER(ctypes.c_void_p),
        c_int_p, c_int_p,
    ]
    lw.WebPDecodeRGB.restype = ctypes.c_void_p
    lw.WebPDecodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, c_int_p, c_int_p,
    ]
    lw.WebPFree.argtypes = [ctypes.c_void_p]
    return lw


def _read_plane(ptr, stride, h, w):
    raw = ctypes.string_at(ptr, stride * h)
    return np.frombuffer(raw, np.uint8).reshape(h, stride)[:, :w].copy()


def decode_yuv(data: bytes):
    """Lossy (VP8) WebP → (width, height, Y, U, V uint8 planes), the
    YUV420 planes before any RGB conversion (chroma ceil-halved)."""
    lw = _load()
    w, h, ystride, uvstride = (ctypes.c_int() for _ in range(4))
    u, v = ctypes.c_void_p(), ctypes.c_void_p()
    y = lw.WebPDecodeYUV(
        data, len(data), ctypes.byref(w), ctypes.byref(h), ctypes.byref(u),
        ctypes.byref(v), ctypes.byref(ystride), ctypes.byref(uvstride),
    )
    if not y:
        raise ValueError("libwebp: undecodable VP8 payload")
    try:
        W, H = w.value, h.value
        cw, ch = (W + 1) // 2, (H + 1) // 2
        return (
            W, H,
            _read_plane(y, ystride.value, H, W),
            _read_plane(u.value, uvstride.value, ch, cw),
            _read_plane(v.value, uvstride.value, ch, cw),
        )
    finally:
        lw.WebPFree(y)  # U and V live in the same allocation


def decode_rgb(data: bytes):
    """WebP → (width, height, HxWx3 uint8 RGB); alpha is dropped.  Exact
    for lossless (VP8L) payloads."""
    lw = _load()
    w, h = ctypes.c_int(), ctypes.c_int()
    p = lw.WebPDecodeRGB(data, len(data), ctypes.byref(w), ctypes.byref(h))
    if not p:
        raise ValueError("libwebp: undecodable WebP payload")
    try:
        W, H = w.value, h.value
        return W, H, _read_plane(p, W * 3, H, W * 3).reshape(H, W, 3)
    finally:
        lw.WebPFree(p)
