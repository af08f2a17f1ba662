"""libwebp's encoders (BSD-3) as test-only fixture writers, bound on
the package's libwebp handle (``operators/webp.py``), which also
decodes.  Import-guarded — tests skip when the shared object is
absent."""

from __future__ import annotations

import ctypes

import numpy as np
import pytest

from parquet_on_fhir_spark.operators.webp import _load

try:
    _lw = _load()
    HAVE_LIBWEBP = True
except NotImplementedError:  # pragma: no cover
    _lw = None
    HAVE_LIBWEBP = False

needs_libwebp = pytest.mark.skipif(
    not HAVE_LIBWEBP, reason="system libwebp not present"
)

if HAVE_LIBWEBP:
    _lw.WebPEncodeRGB.restype = ctypes.c_size_t
    _lw.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.c_void_p),
    ]
    _lw.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
    _lw.WebPEncodeLosslessRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_void_p),
    ]


def encode_rgb_lossy(img: np.ndarray, quality: float = 75.0) -> bytes:
    """libwebp lossy (VP8) encode of an HxWx3 uint8 array."""
    h, w = img.shape[:2]
    out = ctypes.c_void_p()
    n = _lw.WebPEncodeRGB(
        np.ascontiguousarray(img).tobytes(), w, h, w * 3,
        float(quality), ctypes.byref(out),
    )
    assert n, "libwebp encode failed"
    blob = ctypes.string_at(out, n)
    _lw.WebPFree(out)
    return blob


def encode_rgb_lossless(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    out = ctypes.c_void_p()
    n = _lw.WebPEncodeLosslessRGB(
        np.ascontiguousarray(img).tobytes(), w, h, w * 3, ctypes.byref(out)
    )
    assert n, "libwebp lossless encode failed"
    blob = ctypes.string_at(out, n)
    _lw.WebPFree(out)
    return blob
