"""AVIF real decode/encode through the SYSTEM libavif (ctypes seam).

Like WebP (system libwebp, operators/webp.py), AV1 still-image
decoding is not reimplemented here — an AV1 intra decoder
(symbol-adaptive arithmetic coding, 60+ intra modes,
CDEF/loop-restoration) is far outside reasonable scope.  Instead this
is the *system-codec* tier: the container ships libavif 0.11
backed by dav1d/aom/rav1e, and this module binds it the way
``decode_real`` binds PIL — dlopen-guarded, version-gated (the ctypes
struct offsets below are verified against the 0.11 ABI and refuse
anything else), raising ``NotImplementedError`` with wiring guidance
when absent.

Only the HEAD of ``avifImage`` is touched (width/height/depth/format/
range at offsets 0..23, the three YUV plane pointers at +24 and their
row strides at +48) and the first ten ints of ``avifEncoder``
(codecChoice..maxQuantizer) — verified live by the encode→decode
lossless roundtrip in tests/test_avif_codec.py: a wrong offset cannot
round-trip random planes bit-exactly.

Lossless lever: libavif's default min/max quantizer is 0, which is
AV1's lossless mode — encoded YUV planes decode back bit-exactly, so
fixtures get closed-form oracles exactly like the WebP family
(q284/q299, whose fixtures the in-repo encoders write and libwebp
decodes).  RGB conversion is the documented full-range BT.601
integer transform below (AVIF images default to full-range YUV).
"""

from __future__ import annotations

import ctypes

import numpy as np

_AVIF_PIXEL_FORMAT = {1: "yuv444", 2: "yuv422", 3: "yuv420", 4: "yuv400"}
_PLANES_YUV = 1

_lib = None


def _load():
    global _lib
    if _lib is not None:
        return _lib
    try:
        av = ctypes.CDLL("libavif.so.15")
    except OSError as e:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "AVIF decode requires the system libavif (libavif.so.15, "
            "backed by dav1d/aom); this environment lacks it — route "
            "payloads to stand_in_features or install libavif"
        ) from e
    av.avifVersion.restype = ctypes.c_char_p
    ver = av.avifVersion().decode()
    if not ver.startswith("0.11"):
        raise NotImplementedError(
            f"libavif {ver}: the ctypes struct offsets in this module "
            "are verified against the 0.11 ABI only — re-verify "
            "avifImage/avifEncoder layouts before lifting this gate"
        )
    av.avifImageCreate.restype = ctypes.c_void_p
    av.avifImageCreate.argtypes = [ctypes.c_uint32] * 3 + [ctypes.c_int]
    av.avifImageCreateEmpty.restype = ctypes.c_void_p
    av.avifImageDestroy.argtypes = [ctypes.c_void_p]
    av.avifImageAllocatePlanes.argtypes = [ctypes.c_void_p, ctypes.c_uint32]
    av.avifImageAllocatePlanes.restype = ctypes.c_int
    av.avifEncoderCreate.restype = ctypes.c_void_p
    av.avifEncoderDestroy.argtypes = [ctypes.c_void_p]
    av.avifEncoderWrite.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.POINTER(_RWData),
    ]
    av.avifRWDataFree.argtypes = [ctypes.POINTER(_RWData)]
    av.avifDecoderCreate.restype = ctypes.c_void_p
    av.avifDecoderDestroy.argtypes = [ctypes.c_void_p]
    av.avifDecoderReadMemory.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
    ]
    _lib = av
    return av


class _RWData(ctypes.Structure):
    _fields_ = [("data", ctypes.c_void_p), ("size", ctypes.c_size_t)]


def _image_head(img):
    head = ctypes.cast(img, ctypes.POINTER(ctypes.c_uint32))
    return head[0], head[1], head[2], head[3]  # w, h, depth, format


def _plane_views(img):
    planes = ctypes.cast(img + 24, ctypes.POINTER(ctypes.c_void_p))
    strides = ctypes.cast(img + 48, ctypes.POINTER(ctypes.c_uint32))
    return planes, strides


def _read_plane(ptr, stride, h, w):
    raw = ctypes.string_at(ptr, stride * h)
    return np.frombuffer(raw, np.uint8).reshape(h, stride)[:, :w].copy()


def decode_avif(data: bytes):
    """AVIF → (width, height, Y, U, V uint8 planes, pixel_format).

    8-bit YUV420/422/444; YUV400 (grayscale) returns U = V = None.
    Raises ValueError on undecodable payloads, NotImplementedError on
    >8-bit depth (the fixture/crawl-common envelope; extend the plane
    reads for 10/12-bit when needed)."""
    av = _load()
    dec = av.avifDecoderCreate()
    img = av.avifImageCreateEmpty()
    try:
        res = av.avifDecoderReadMemory(dec, img, data, len(data))
        if res != 0:
            raise ValueError(f"libavif decode failed (avifResult {res})")
        w, h, depth, fmt = _image_head(img)
        if depth != 8:
            raise NotImplementedError(f"{depth}-bit AVIF not wired (8 only)")
        if fmt not in _AVIF_PIXEL_FORMAT:
            raise ValueError(f"unknown avifPixelFormat {fmt}")
        planes, strides = _plane_views(img)
        Y = _read_plane(planes[0], strides[0], h, w)
        if fmt == 4 or not planes[1]:
            return w, h, Y, None, None, _AVIF_PIXEL_FORMAT[fmt]
        cw = (w + 1) // 2 if fmt in (2, 3) else w
        ch = (h + 1) // 2 if fmt == 3 else h
        U = _read_plane(planes[1], strides[1], ch, cw)
        V = _read_plane(planes[2], strides[2], ch, cw)
        return w, h, Y, U, V, _AVIF_PIXEL_FORMAT[fmt]
    finally:
        av.avifImageDestroy(img)
        av.avifDecoderDestroy(dec)


def decode_avif_rgb(data: bytes):
    """AVIF → (width, height, HxWx3 uint8 RGB) via :func:`decode_avif`
    + the documented full-range BT.601 integer conversion (AVIF
    defaults to full-range YUV; U = V = 128 → R = G = B = Y exactly,
    the fixture oracle lever). Chroma upsampling is nearest-neighbor,
    as in the WebP path."""
    w, h, Y, U, V, fmt = decode_avif(data)
    y = Y.astype(np.int32)
    if U is None:
        rgb = np.stack([Y, Y, Y], axis=2)
        return w, h, rgb
    if fmt == "yuv420":
        u = U.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
        v = V.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
    elif fmt == "yuv422":
        u = U.repeat(2, 1)[:, :w].astype(np.int32) - 128
        v = V.repeat(2, 1)[:, :w].astype(np.int32) - 128
    else:
        u = U.astype(np.int32) - 128
        v = V.astype(np.int32) - 128
    r = y + ((22970 * v + (1 << 13)) >> 14)
    g = y - ((5638 * u + 11700 * v + (1 << 13)) >> 14)
    b = y + ((29032 * u + (1 << 13)) >> 14)
    img = np.stack([r, g, b], axis=2)
    return w, h, np.clip(img, 0, 255).astype(np.uint8)


def encode_avif_yuv420(Y, U, V, *, speed: int = 10, min_q: int = 0,
                       max_q: int = 0) -> bytes:
    """YUV420 uint8 planes → AVIF bytes through the system encoder
    (aom). The default quantizer window [0, 0] is AV1's LOSSLESS mode:
    decode returns the planes bit-exactly — the closed-form-oracle
    lever for fixtures."""
    av = _load()
    Y = np.ascontiguousarray(Y, dtype=np.uint8)
    U = np.ascontiguousarray(U, dtype=np.uint8)
    V = np.ascontiguousarray(V, dtype=np.uint8)
    h, w = Y.shape
    if U.shape != ((h + 1) // 2, (w + 1) // 2) or V.shape != U.shape:
        raise ValueError("chroma planes must be ceil(half) of luma")
    img = av.avifImageCreate(w, h, 8, 3)  # YUV420
    enc = None
    try:
        if av.avifImageAllocatePlanes(img, _PLANES_YUV) != 0:
            raise MemoryError("avifImageAllocatePlanes failed")
        planes, strides = _plane_views(img)
        for ptr, stride, arr in (
            (planes[0], strides[0], Y),
            (planes[1], strides[1], U),
            (planes[2], strides[2], V),
        ):
            ph, pw = arr.shape
            buf = (ctypes.c_uint8 * (stride * ph)).from_address(ptr)
            for r in range(ph):
                buf[r * stride : r * stride + pw] = arr[r].tobytes()
        enc = av.avifEncoderCreate()
        ints = ctypes.cast(enc, ctypes.POINTER(ctypes.c_int))
        # verified 0.11 offsets: [2]=speed, [8]=minQuantizer, [9]=max
        ints[2] = int(speed)
        ints[8] = int(min_q)
        ints[9] = int(max_q)
        out = _RWData()
        res = av.avifEncoderWrite(enc, img, ctypes.byref(out))
        if res != 0:
            raise ValueError(f"libavif encode failed (avifResult {res})")
        blob = ctypes.string_at(out.data, out.size)
        av.avifRWDataFree(ctypes.byref(out))
        return blob
    finally:
        if enc:
            av.avifEncoderDestroy(enc)
        av.avifImageDestroy(img)


def avif_available() -> bool:
    try:
        _load()
        return True
    except NotImplementedError:
        return False
