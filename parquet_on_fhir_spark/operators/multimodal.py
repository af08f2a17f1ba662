"""Multimodal column plumbing (SURVEY.md §2B Q73).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct, per the format spec's base64Binary mapping
(/root/reference/README.md:63 — base64Binary → parquet binary).

The Spark-side plumbing (schema, partitioning, Arrow batch shape,
mapInPandas signatures) is real and tested. Codecs come in four tiers:

- ``numpy_features`` / ``numpy_resize`` — REAL decoders for P6 PPM,
  24-bit BMP, 8-bit PNG (stdlib ``zlib`` inflate + numpy scanline
  unfiltering), baseline JPEG (marker walk + canonical Huffman +
  IDCT, r11) and progressive JPEG (SOF2 multi-scan spectral
  selection + successive approximation, r12 — no codec library
  anywhere), so the bytes→pixels→features path genuinely runs in
  this container, compressed formats included;
- system codecs through ctypes — WebP (lossless VP8L, lossy VP8 key
  frames, animations composited here) decodes through libwebp
  (``operators/webp.py``) and AVIF through libavif
  (``operators/avif.py``); the in-repo encoders write their fixtures;
- ``decode_real`` — the PIL seam for the remaining exotic formats
  (12-bit & arithmetic JPEG/...), import-guarded: raises
  ``NotImplementedError`` with wiring guidance when PIL is absent;
- ``stand_in_features`` — the deterministic byte-statistics fallback
  for payloads no available codec understands.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Feature codec signature: (payload bytes, mime) -> fixed-width feature list.
FeatureCodec = Callable[[bytes, str | None], list[float]]
#: Resize codec signature: (payload bytes, mime, width, height) -> new bytes.
ResizeCodec = Callable[[bytes, str | None, int, int], bytes]

MEDIA_SCHEMA = (
    "media_id BIGINT, kind STRING, content BINARY, "
    "meta STRUCT<mime: STRING, width: INT, height: INT, duration_ms: BIGINT>"
)

FEATURE_SCHEMA = "media_id BIGINT, kind STRING, n_bytes BIGINT, feat ARRAY<DOUBLE>"


def attach_binary(df: DataFrame, payload_col: str, kind: str = "image") -> DataFrame:
    """Wrap an existing column as a multimodal record: binary payload +
    typed metadata struct. (In production the payload comes from
    ``spark.read.format("binaryFile")`` or an upstream table.)"""
    content = F.encode(F.col(payload_col).cast("string"), "UTF-8")
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )


def _codec_quarantine(fn):
    """Quarantine contract for the pure-input decoders (r15
    decoder-contract fuzz, generalizing the r14 decode_wav advice):
    on hostile bytes an interpreter-style decoder can only fail
    through the mechanical exception types — struct.error on a
    truncated fixed-layout read, Index/KeyError on an id or offset
    the stream never defined, zlib.error on a corrupt deflate stream,
    OverflowError on absurd declared dimensions. The batch consumers
    catch ValueError ONLY (the quarantine signal), so anything else
    would kill the whole Arrow batch; this translator maps the
    mechanical types to ValueError at the public entry points. It
    cannot mask real decode bugs on VALID input: the differential
    fixture tests require correct output there, and a wrongly
    quarantined valid fixture fails those tests loudly."""
    import functools
    import struct as _struct
    import zlib as _zlib

    @functools.wraps(fn)
    def wrapped(*a, **kw):
        try:
            return fn(*a, **kw)
        except (
            _struct.error, _zlib.error, IndexError, KeyError,
            OverflowError,
        ) as e:
            raise ValueError(
                f"{fn.__name__}: malformed payload "
                f"({type(e).__name__}: {e})"
            ) from e

    return wrapped


def codec_available(kind: str = "image") -> bool:
    """True when a real codec library for ``kind`` is importable."""
    import importlib.util

    if kind == "image":
        return importlib.util.find_spec("PIL") is not None
    return False


def decode_real(content: bytes, mime: str | None = None) -> list[float]:
    """Real image codec, import-guarded: PIL decode → (width, height,
    8×8 luminance grid) = a 66-dim feature, the classic average-hash
    shape. Raises NotImplementedError with wiring guidance when PIL is
    absent — the mapInPandas
    plumbing in ``extract_features`` is identical either way, so a
    cluster with PIL installed gets the real path with zero code change
    (pass ``codec=decode_real``)."""
    if mime is None or mime.startswith("image/") or mime == "application/octet-stream":
        try:
            import io

            from PIL import Image
        except ImportError as e:  # pragma: no cover - env-dependent
            raise NotImplementedError(
                "image decode requires PIL (pip install pillow); this "
                "environment ships no codec library — use the default "
                "stand_in_features codec, or install pillow and pass "
                "codec=decode_real to extract_features"
            ) from e
        img = Image.open(io.BytesIO(content)).convert("L")
        w, h = img.size
        px = list(img.resize((8, 8)).getdata())
        return [float(w), float(h)] + [p / 255.0 for p in px]
    raise NotImplementedError(
        f"no real codec wired for mime {mime!r} (audio/video: wire "
        "soundfile/av here; the extract_features plumbing is unchanged)"
    )


def best_codec() -> FeatureCodec:
    """``decode_real`` when a codec library is importable, else
    ``numpy_features`` — the built-in numpy decoder handles PPM, BMP,
    PNG and JPEG (baseline + progressive, r12) for real (and itself
    falls back to the deterministic stand-in for payloads it cannot
    parse), so pipelines opt into the best available decode without
    caring about the environment.

    MIXED-FORMAT CAVEAT: the numpy tier emits 66-dim vectors for
    decodable payloads and 5-dim stand-ins for the rest, so a corpus
    mixing formats yields a ragged feature column. Fixed-width
    consumers (cosine/PCA/covariance) must partition by kind/mime
    first, or pin a single codec explicitly."""
    return decode_real if codec_available("image") else numpy_features


def stand_in_features(b: bytes, mime: str | None = None) -> list[float]:
    """Deterministic stand-in feature codec: byte length + 4
    byte-histogram moments — shaped exactly like a real embedding
    extractor (binary in, fixed-width float vector out)."""
    n = len(b)
    if not n:
        return [0.0, 0.0, 0.0, 0.0, 0.0]
    mean = sum(b) / n
    var = sum((x - mean) ** 2 for x in b[:256]) / max(min(n, 256), 1)
    return [float(n), mean, var, float(b[0]), float(b[-1])]


def _feature_batches(codec: FeatureCodec):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # MEDIA_SCHEMA allows a NULL meta struct: dict rows use .get,
            # non-dict non-None rows (Row-like) index, None rows yield None.
            mimes = [
                m.get("mime")
                if isinstance(m, dict)
                else (m["mime"] if m is not None else None)
                for m in pdf["meta"]
            ] if "meta" in pdf.columns else [None] * len(pdf)
            raw = [bytes(c) if c is not None else b"" for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(b) for b in raw],
                    "feat": [
                        [float(x) for x in codec(b, m)]
                        for b, m in zip(raw, mimes)
                    ],
                }
            )

    return fn


def extract_features(media: DataFrame, codec: FeatureCodec | None = None) -> DataFrame:
    """binary → feature vectors via ``mapInPandas`` (Arrow batches).

    This is the scale-relevant shape: partition-parallel, batch-at-a-time
    (never row-at-a-time Python), output schema fixed so downstream
    similarity/dedup operators can consume ``feat`` like any embedding.

    ``codec`` is the pluggable decode seam: any ``(bytes, mime) ->
    list[float]`` callable (e.g. one that wires ``decode_real`` to
    PIL/libav on a cluster that has them). Defaults to the deterministic
    ``stand_in_features`` so the plumbing is testable in codec-less
    environments.
    """
    return media.mapInPandas(
        _feature_batches(codec or stand_in_features), schema=FEATURE_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expands each media row into the frame
    timestamps a decoder would extract (sequence + explode — JVM-side).
    The per-frame decode would run through ``extract_features``."""
    n_frames = F.coalesce(
        (F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return media.select(
        "media_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
                lambda i: i * every_ms,
            )
        ).alias("frame_ts_ms"),
    )


def _resize_batches(target_w: int, target_h: int, codec: ResizeCodec | None):
    """Arrow-batched image resize plumbing: batch iteration, binary
    rewrite via the pluggable ``codec``, metadata rewrite, fixed output
    schema. With no codec the bytes pass through unchanged (the honest
    no-library default); a real deployment passes a PIL resample."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL-meta-safe, same contract as _feature_batches.
            mimes = [
                m.get("mime")
                if isinstance(m, dict)
                else (m["mime"] if m is not None else None)
                for m in pdf["meta"]
            ]
            meta = [
                {
                    "mime": mime,
                    "width": target_w,
                    "height": target_h,
                    "duration_ms": m.get("duration_ms")
                    if isinstance(m, dict)
                    else (m["duration_ms"] if m is not None else None),
                }
                for m, mime in zip(pdf["meta"], mimes)
            ]
            if codec is None:
                content = pdf["content"]
            else:
                content = [
                    codec(
                        bytes(c) if c is not None else b"", mime, target_w, target_h
                    )
                    for c, mime in zip(pdf["content"], mimes)
                ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "content": content,
                    "meta": meta,
                }
            )

    return fn


def resize_images(
    media: DataFrame, width: int, height: int, codec: ResizeCodec | None = None
) -> DataFrame:
    """binary → binary resize via ``mapInPandas``: same MEDIA_SCHEMA out,
    metadata dimensions rewritten. Partition-parallel and batch-at-a-time
    like extract_features. ``codec`` is the pluggable pixel seam
    (``(bytes, mime, w, h) -> bytes``; wire PIL here); None passes bytes
    through unchanged."""
    return media.mapInPandas(_resize_batches(width, height, codec), schema=MEDIA_SCHEMA)


def audio_chunk_plan(media: DataFrame, chunk_ms: int = 5000) -> DataFrame:
    """Audio chunking *plan*: each media row expands to the [start, end)
    windows a decoder would cut — ``sequence`` + ``explode``, all
    JVM-side; per-chunk decode runs through ``extract_features``."""
    n_chunks = F.coalesce(
        F.ceil(F.col("meta.duration_ms") / F.lit(chunk_ms)).cast("int"), F.lit(1)
    )
    return media.select(
        "media_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                lambda i: F.struct(
                    (i * chunk_ms).alias("chunk_start_ms"),
                    F.least(
                        (i + 1) * chunk_ms,
                        F.coalesce(F.col("meta.duration_ms").cast("int"), F.lit(chunk_ms)),
                    ).alias("chunk_end_ms"),
                ),
            )
        ).alias("c"),
    ).select("media_id", "c.chunk_start_ms", "c.chunk_end_ms")


# --- real codecs for uncompressed formats (no external library) --------------------
# PPM (P6) and 24-bit uncompressed BMP decode with numpy alone, so this
# container has a REAL bytes→pixels→features path; compressed formats
# (JPEG/PNG/...) still route through the PIL seam in decode_real.

@_codec_quarantine
def decode_ppm(content: bytes):
    """P6 binary PPM → (width, height, HxWx3 uint8 array). Raises
    ValueError on malformed headers — quarantine upstream, don't guess."""
    import numpy as np

    if not content.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: P6, whitespace/comments, width, height, maxval, single ws
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    need = w * h * 3
    raw = content[pos : pos + need]
    if len(raw) != need:
        raise ValueError("truncated PPM payload")
    return w, h, np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(pixels) -> bytes:
    """HxWx3 uint8 array → P6 bytes (the test/resize writer)."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


@_codec_quarantine
def decode_bmp(content: bytes):
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) → (width, height,
    HxWx3 uint8 RGB array). Bottom-up row order and 4-byte row padding
    handled; BGR swapped to RGB."""
    import struct

    import numpy as np

    if content[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    header_size = struct.unpack_from("<I", content, 14)[0]
    if header_size < 40:
        raise ValueError("BITMAPCOREHEADER not supported")
    w, h_signed = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    need = stride * h
    raw = content[data_offset : data_offset + need]
    if len(raw) != need:
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)[:, : w * 3]
    img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    if h_signed > 0:  # bottom-up storage (the common case)
        img = img[::-1]
    return w, h, np.ascontiguousarray(img)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


@_codec_quarantine
def decode_png(content: bytes):
    """8-bit non-interlaced PNG → (width, height, HxWx3 uint8 RGB
    array) with NO codec library: chunk walk + stdlib ``zlib``
    inflate + numpy scanline unfiltering. Supports color types 0
    (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA); alpha is
    dropped and gray replicated so every decoder in this module yields
    the same HxWx3 shape. Filters 0–4 (None/Sub/Up/Average/Paeth) are
    all handled — Sub as a per-lane modular cumsum, Up vectorized,
    Average/Paeth per-byte (their recurrences are inherently
    sequential). Raises ValueError on anything outside that envelope
    (16-bit, interlaced, truncated) — quarantine upstream, don't
    guess."""
    import struct
    import zlib

    import numpy as np

    if not content.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos, idat, plte, hdr = 8, [], None, None
    while pos + 8 <= len(content):
        length, ctype = struct.unpack_from(">I4s", content, pos)
        data = content[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # length + type + payload + CRC
        if ctype == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if hdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = hdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None or (color == 3 and plte is None):
        raise ValueError(f"unsupported PNG color type {color}")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        # corrupted IDAT must quarantine (ValueError), not kill the
        # Arrow batch — the decode_wav struct.error precedent (r15
        # decoder-contract fuzz)
        raise ValueError(f"PNG: corrupt IDAT stream ({e})") from e
    stride = w * channels
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG scanline size mismatch")
    bpp = channels
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = raw[y * (1 + stride)]
        cur = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (1 + stride) + 1
        ).astype(np.int32)
        if ft == 0:
            rec = cur
        elif ft == 1:  # Sub: per-lane modular prefix sum
            rec = np.cumsum(cur.reshape(-1, bpp), axis=0).reshape(-1)
        elif ft == 2:  # Up
            rec = cur + prev
        elif ft == 3:  # Average
            rec = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = cur[i] + ((left % 256) + prev[i]) // 2
        elif ft == 4:  # Paeth
            rec = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = rec[i - bpp] % 256 if i >= bpp else 0
                b = prev[i]
                c_ = prev[i - bpp] if i >= bpp else 0
                p = a + b - c_
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c_)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c_)
                rec[i] = cur[i] + pr
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        rec = rec % 256
        out[y] = rec.astype(np.uint8)
        prev = rec
    px = out.reshape(h, w, channels)
    if color == 2:
        img = px
    elif color == 6:
        img = px[:, :, :3]
    elif color == 3:
        img = plte[px[:, :, 0]]
    else:  # gray / gray+alpha → replicate luminance
        img = np.repeat(px[:, :, :1], 3, axis=2)
    return w, h, np.ascontiguousarray(img)


def encode_png(pixels, filter_type: int | None = None) -> bytes:
    """HxWx3 uint8 RGB array → PNG bytes (color type 2, depth 8). The
    test/fixture writer for :func:`decode_png`; ``filter_type`` pins
    one scanline filter (0–4), default cycles y % 5 so round-trip
    tests exercise every unfilter path."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    bpp = 3
    lines = []
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        cur = arr[y].reshape(-1).astype(np.int32)
        ft = (y % 5) if filter_type is None else filter_type
        if ft == 0:
            f = cur
        elif ft == 1:
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
            f = cur - left
        elif ft == 2:
            f = cur - prev
        elif ft == 3:
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
            f = cur - (left + prev) // 2
        elif ft == 4:
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
            p = left + prev - upleft
            pa, pb, pc = (
                np.abs(p - left),
                np.abs(p - prev),
                np.abs(p - upleft),
            )
            pr = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            f = cur - pr
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        lines.append(bytes([ft]) + (f % 256).astype(np.uint8).tobytes())
        prev = cur
    body = zlib.compress(b"".join(lines))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", body)
        + chunk(b"IEND", b"")
    )


# --- baseline JPEG codec (no external library, r11) ---------------------------------
# ITU T.81 baseline sequential DCT: marker walk, canonical Huffman
# decode, dequant + dezigzag, separable float IDCT, chroma upsample,
# YCbCr→RGB. Pure numpy + stdlib struct — the last compressed-format
# seam closed (r10 verdict task 8). The encoder is the fixture writer
# (Annex K quantization tables, single-length canonical Huffman
# tables, optional 4:2:0 subsampling and restart intervals) so
# round-trip tests exercise every decoder path in-container.


def _jpeg_zigzag():
    """Natural (row-major) index of each coefficient in zigzag order:
    generated, not transcribed — diagonals alternate direction."""
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (
            rc[0] + rc[1],
            rc[0] if (rc[0] + rc[1]) % 2 else -rc[0],
        ),
    )
    return [r * 8 + c for r, c in order]


_JPEG_ZZ = _jpeg_zigzag()

# ITU T.81 Annex K.1/K.2 example quantization tables (public spec
# constants) — the encoder's defaults; the decoder reads whatever DQT
# carries.
_JPEG_QT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QT_CHR = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]


def _jpeg_dct_matrix():
    """A[x, u] = c(u)/2 · cos((2x+1)uπ/16) — orthogonal, so
    spatial = A @ F @ A.T and F = A.T @ spatial @ A."""
    import numpy as np

    x = np.arange(8).reshape(8, 1)
    u = np.arange(8).reshape(1, 8)
    a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    a[:, 0] *= 1 / np.sqrt(2)
    return a


def _jpeg_build_decode_table(bits, vals):
    """Canonical Huffman (length, code) → symbol map from the DHT
    BITS/HUFFVAL lists (T.81 C.2)."""
    if sum(bits) > len(vals):
        # a truncated DHT promises more symbols than it carries —
        # quarantine, not IndexError (r15 decoder-contract fuzz)
        raise ValueError("JPEG: truncated huffman table")
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _JpegBitReader:
    """MSB-first bit reader over one destuffed entropy segment."""

    def __init__(self, buf):
        self.buf = buf
        self.pos = 0

    def read(self, n):
        v = 0
        for _ in range(n):
            byte = self.buf[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v


def _jpeg_extend(v, s):
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


@_codec_quarantine
def decode_jpeg(content: bytes):
    """Baseline JPEG → (width, height, HxWx3 uint8 RGB array) with NO
    codec library. Envelope: SOF0/SOF1 (baseline + extended sequential
    Huffman), 8-bit, 1 or 3 components, any h/v sampling factors ≤ 4
    (4:4:4, 4:2:2, 4:2:0, ...), restart intervals, multi-table DQT/DHT
    segments, 16-bit quantizer precision. Progressive (SOF2)
    dispatches to :func:`_decode_jpeg_progressive` (r12);
    arithmetic coding, 12-bit and hierarchical modes raise ValueError
    — quarantine upstream or route through the PIL seam. Per-bit
    Huffman decode is Python-loop bound: right for fixture-scale
    payloads; production volumes belong on the ``decode_real`` seam."""
    import struct

    import numpy as np

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict = {}
    huff: dict = {}
    frame = None
    scan = None
    ri = 0
    while pos + 2 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before any scan
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers carry no segment
        (length,) = struct.unpack_from(">H", content, pos)
        data = content[pos + 2 : pos + length]
        pos += length
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(data, np.uint8, 64, i).astype(
                        np.int32
                    )
                    i += 64
                else:
                    tbl = np.frombuffer(
                        data[i : i + 128], dtype=">u2"
                    ).astype(np.int32)
                    i += 128
                qt[tq] = tbl
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                bits = list(data[i + 1 : i + 17])
                n = sum(bits)
                vals = list(data[i + 17 : i + 17 + n])
                huff[(tc, th)] = _jpeg_build_decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1
            if len(data) < 6:
                raise ValueError("JPEG: truncated SOF segment")
            prec = data[0]
            h, w = struct.unpack_from(">HH", data, 1)
            nc = data[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            comps = []
            for c in range(nc):
                cid, hv, tqi = data[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tqi))
            frame = (w, h, comps)
        elif marker == 0xC2:  # SOF2 — progressive DCT (r12)
            return _decode_jpeg_progressive(content)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG mode (arithmetic/hierarchical/"
                "lossless) — sequential or progressive Huffman only"
            )
        elif marker == 0xDD:  # DRI
            (ri,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = data[0]
            scan = [
                (data[1 + 2 * s], data[2 + 2 * s] >> 4, data[2 + 2 * s] & 15)
                for s in range(ns)
            ]
            break
        # APPn / COM / others: skipped
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    w, h, comps = frame
    if len(scan) != len(comps):
        raise ValueError("JPEG non-interleaved scans not supported")

    # destuff the entropy stream, splitting on restart markers
    segs, cur, p = [], bytearray(), pos
    while p < len(content):
        b = content[p]
        if b == 0xFF:
            nxt = content[p + 1] if p + 1 < len(content) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segs.append(bytes(cur))
                cur = bytearray()
                p += 2
                continue
            break  # EOI (or any other marker) ends the scan
        cur.append(b)
        p += 1
    segs.append(bytes(cur))

    by_id = {cid: (hi, vi, tqi) for cid, hi, vi, tqi in comps}
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {}
    for cid, hi, vi, _ in comps:
        planes[cid] = np.zeros((mcuy * vi * 8, mcux * hi * 8))
    amat = _jpeg_dct_matrix()
    preds = {cid: 0 for cid, _, _, _ in comps}
    seg_i = 0
    bits_ = _JpegBitReader(segs[0])

    def read_block(dcid, acid):
        zz = np.zeros(64, np.int64)
        s = _jpeg_huffdecode(bits_, huff[(0, dcid)])
        zz[0] = _jpeg_extend(bits_.read(s), s) if s else 0
        k = 1
        while k < 64:
            rs = _jpeg_huffdecode(bits_, huff[(1, acid)])
            r, size = rs >> 4, rs & 15
            if size == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("JPEG AC coefficient overflow")
            zz[k] = _jpeg_extend(bits_.read(size), size)
            k += 1
        return zz

    nmcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and nmcu and nmcu % ri == 0:
                seg_i += 1
                bits_ = _JpegBitReader(segs[seg_i])
                preds = {cid: 0 for cid in preds}
            for cid, td, ta in scan:
                hi, vi, tqi = by_id[cid]
                for byy in range(vi):
                    for bxx in range(hi):
                        zz = read_block(td, ta)
                        preds[cid] += int(zz[0])
                        zz[0] = preds[cid]
                        blk = np.zeros(64)
                        blk[_JPEG_ZZ] = zz * qt[tqi]
                        spatial = (
                            amat @ blk.reshape(8, 8) @ amat.T + 128.0
                        )
                        y0 = (my * vi + byy) * 8
                        x0 = (mx * hi + bxx) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = spatial
            nmcu += 1

    out = []
    for cid, hi, vi, _ in comps:
        pl = np.repeat(
            np.repeat(planes[cid], vmax // vi, axis=0), hmax // hi, axis=1
        )[:h, :w]
        out.append(pl)
    if len(out) == 1:
        rgb = np.repeat(out[0][:, :, None], 3, axis=2)
    else:
        y, cb, cr = out
        rgb = np.stack(
            [
                y + 1.402 * (cr - 128.0),
                y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                y + 1.772 * (cb - 128.0),
            ],
            axis=2,
        )
    img = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return w, h, np.ascontiguousarray(img)


def _jpeg_huffdecode(bits_, table):
    code = 0
    for length in range(1, 17):
        code = (code << 1) | bits_.read(1)
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_destuff(content: bytes, pos: int):
    """Destuffed entropy segments starting at ``pos``, split on RSTn
    markers; returns (segs, pos-of-next-marker)."""
    segs, cur, p = [], bytearray(), pos
    while p < len(content):
        b = content[p]
        if b == 0xFF:
            nxt = content[p + 1] if p + 1 < len(content) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segs.append(bytes(cur))
                cur = bytearray()
                p += 2
                continue
            break  # any other marker ends the scan
        cur.append(b)
        p += 1
    segs.append(bytes(cur))
    return segs, p


def _decode_jpeg_progressive(content: bytes):
    """Progressive JPEG (SOF2, T.81 Annex G Huffman) → (width, height,
    HxWx3 uint8 RGB). The multi-scan loop on top of the baseline
    decoder's machinery (r12 — the r11 verdict's task 5): spectral
    selection (per-band scans, EOB runs per G.1.2.2), successive
    approximation (DC arithmetic point transform + one-bit refinement,
    AC magnitude point transform + the G.1.2.3 correction-bit
    algorithm), interleaved DC scans / non-interleaved AC scans with
    their T.81 A.2 per-component block grids, restart intervals
    (resetting DC predictors AND the EOB run), and DHT/DQT/DRI
    redefinition between scans. Coefficients accumulate across scans
    in per-component zigzag arrays; one vectorized dequantize + IDCT +
    upsample + color-convert pass at EOI. Same pure-numpy,
    fixture-scale contract as :func:`decode_jpeg`."""
    import struct

    import numpy as np

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict = {}
    huff: dict = {}
    frame = None
    ri = 0
    coefs: dict = {}
    tq_of: dict = {}
    while pos + 2 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        (length,) = struct.unpack_from(">H", content, pos)
        data = content[pos + 2 : pos + length]
        pos += length
        if marker == 0xDB:
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq == 0:
                    qt[tq] = np.frombuffer(data, np.uint8, 64, i).astype(
                        np.int32
                    )
                    i += 64
                else:
                    qt[tq] = np.frombuffer(
                        data[i : i + 128], dtype=">u2"
                    ).astype(np.int32)
                    i += 128
        elif marker == 0xC4:
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                bits = list(data[i + 1 : i + 17])
                n = sum(bits)
                vals = list(data[i + 17 : i + 17 + n])
                huff[(tc, th)] = _jpeg_build_decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xC2:
            if len(data) < 6:
                raise ValueError("JPEG: truncated SOF segment")
            prec = data[0]
            h, w = struct.unpack_from(">HH", data, 1)
            nc = data[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            comps = []
            for c in range(nc):
                cid, hv, tqi = data[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tqi))
                tq_of[cid] = tqi
            frame = (w, h, comps)
            hmax = max(hi for _, hi, _, _ in comps)
            vmax = max(vi for _, _, vi, _ in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for cid, hi, vi, _ in comps:
                coefs[cid] = np.zeros((mcuy * vi, mcux * hi, 64), np.int32)
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unexpected SOF marker inside progressive JPEG")
        elif marker == 0xDD:
            (ri,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG scan before SOF2")
            ns = data[0]
            scomps = [
                (data[1 + 2 * s], data[2 + 2 * s] >> 4, data[2 + 2 * s] & 15)
                for s in range(ns)
            ]
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ah, al = data[3 + 2 * ns] >> 4, data[3 + 2 * ns] & 15
            segs, pos = _jpeg_destuff(content, pos)
            _jpeg_decode_prog_scan(
                frame, coefs, huff, scomps, ss, se, ah, al, segs, ri
            )
        # APPn / COM: skipped
    if frame is None:
        raise ValueError("JPEG missing SOF2")
    w, h, comps = frame
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    amat = _jpeg_dct_matrix()
    out = []
    for cid, hi, vi, tqi in comps:
        zz = coefs[cid].astype(np.float64) * qt[tqi][None, None, :]
        blk = np.zeros_like(zz)
        blk[:, :, _JPEG_ZZ] = zz
        by, bx = blk.shape[0], blk.shape[1]
        spatial = amat @ blk.reshape(by, bx, 8, 8) @ amat.T + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        pl = np.repeat(
            np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
        )[:h, :w]
        out.append(pl)
    if len(out) == 1:
        rgb = np.repeat(out[0][:, :, None], 3, axis=2)
    else:
        y, cb, cr = out
        rgb = np.stack(
            [
                y + 1.402 * (cr - 128.0),
                y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                y + 1.772 * (cb - 128.0),
            ],
            axis=2,
        )
    img = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return w, h, np.ascontiguousarray(img)


def _jpeg_decode_prog_scan(
    frame, coefs, huff, scomps, ss, se, ah, al, segs, ri
):
    """Decode ONE progressive scan into the zigzag coefficient arrays
    (T.81 G.2): DC first/refine (Ss=0, interleaved or single), AC
    first/refine (single component, per-band). Restart segments reset
    DC predictors and the EOB run."""
    w, h, comps = frame
    by_id = {cid: (hi, vi, tqi) for cid, hi, vi, tqi in comps}
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # unit-of-restart sequence: interleaved scans step MCUs, single-
    # component scans step that component's T.81 A.2 block grid
    if ss == 0 and se != 0:
        # a baseline stream relabeled SOF2 lands here (Ss=0, Se=63)
        raise ValueError(
            "invalid progressive scan: Ss=0 (DC) requires Se=0"
        )
    if se > 63 or ss > se:
        raise ValueError("invalid progressive spectral selection")
    units: list = []
    if len(scomps) > 1:
        if ss != 0:
            raise ValueError("interleaved progressive AC scan")
        for my in range(mcuy):
            for mx in range(mcux):
                blocks = []
                for cid, td, ta in scomps:
                    hi, vi, _ = by_id[cid]
                    for byy in range(vi):
                        for bxx in range(hi):
                            blocks.append(
                                (cid, td, ta, my * vi + byy, mx * hi + bxx)
                            )
                units.append(blocks)
    else:
        cid, td, ta = scomps[0]
        hi, vi, _ = by_id[cid]
        cw = -(-(w * hi) // hmax)  # T.81 A.1.1 component dimensions
        ch = -(-(h * vi) // vmax)
        bw_c = -(-cw // 8)
        bh_c = -(-ch // 8)
        for by in range(bh_c):
            for bx in range(bw_c):
                units.append([(cid, td, ta, by, bx)])

    p1 = 1 << al
    m1 = -1 << al
    seg_i = 0
    bits_ = _JpegBitReader(segs[0])
    preds = {cid: 0 for cid, _, _ in scomps}
    eobrun = 0

    def refine_nonzero(blkc, k):
        # G.1.2.3: correction bit for a coefficient with nonzero history
        if bits_.read(1) and (int(blkc[k]) & p1) == 0:
            blkc[k] += p1 if blkc[k] >= 0 else m1

    for nunit, blocks in enumerate(units):
        if ri and nunit and nunit % ri == 0:
            seg_i += 1
            bits_ = _JpegBitReader(segs[seg_i])
            preds = {cid: 0 for cid in preds}
            eobrun = 0
        for cid, td, ta, by, bx in blocks:
            blkc = coefs[cid][by, bx]
            if ss == 0 and ah == 0:  # DC first
                s = _jpeg_huffdecode(bits_, huff[(0, td)])
                diff = _jpeg_extend(bits_.read(s), s) if s else 0
                preds[cid] += diff
                blkc[0] = preds[cid] << al
            elif ss == 0:  # DC refinement: one bit at position Al
                if bits_.read(1):
                    blkc[0] |= p1
            elif ah == 0:  # AC first (G.1.2.2 EOB-run decode)
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _jpeg_huffdecode(bits_, huff[(1, ta)])
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r < 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += bits_.read(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC coefficient overflow")
                    blkc[k] = _jpeg_extend(bits_.read(s), s) << al
                    k += 1
            else:  # AC refinement (G.1.2.3)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _jpeg_huffdecode(bits_, huff[(1, ta)])
                        r, s = rs >> 4, rs & 15
                        val = 0
                        if s:
                            if s != 1:
                                raise ValueError(
                                    "invalid refinement magnitude"
                                )
                            val = p1 if bits_.read(1) else m1
                        elif r < 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += bits_.read(r)
                            break
                        # advance over r zero-history positions,
                        # refining nonzero-history ones along the way
                        while k <= se:
                            if blkc[k] != 0:
                                refine_nonzero(blkc, k)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if s and k <= se:
                            blkc[k] = val
                        k += 1
                if eobrun > 0:
                    # remainder of the band inside an EOB run: only
                    # correction bits for nonzero-history coefficients
                    while k <= se:
                        if blkc[k] != 0:
                            refine_nonzero(blkc, k)
                        k += 1
                    eobrun -= 1


def _jpeg_encode_tables():
    """Single-length canonical Huffman tables for the encoder: all 12
    DC categories at 5 bits, all 162 AC symbols at 9 bits — valid
    per-spec tables that are NOT Annex K, so decoder round-trips prove
    the decoder reads DHT generally instead of assuming the standard
    tables. Returns (dc_bits, dc_vals, ac_bits, ac_vals, dc_map,
    ac_map) where the maps are symbol → (code, length)."""
    dc_vals = list(range(12))
    dc_bits = [0] * 16
    dc_bits[4] = 12  # all DC symbols at length 5
    ac_vals = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_bits = [0] * 16
    ac_bits[8] = len(ac_vals)  # all AC symbols at length 9
    dc_map = {v: (i, 5) for i, v in enumerate(dc_vals)}
    ac_map = {v: (i, 9) for i, v in enumerate(ac_vals)}
    return dc_bits, dc_vals, ac_bits, ac_vals, dc_map, ac_map


class _JpegBitWriter:
    """MSB-first bit writer with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:
            self.write(1, 1)  # pad with 1-bits per spec
        return bytes(self.out)


def encode_jpeg(
    pixels,
    subsampling: tuple[int, int] = (1, 1),
    grayscale: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """HxWx3 uint8 RGB array → baseline JPEG bytes (Annex K quant
    tables, non-standard single-length Huffman tables, optional chroma
    ``subsampling`` (1,1)=4:4:4 / (2,2)=4:2:0, optional restart
    intervals). The fixture writer for :func:`decode_jpeg` — lossy, so
    round-trip tests compare with a quantization-error tolerance; a
    solid-gray block with even gray level survives EXACTLY (DC 8·(v−128)
    is divisible by the luminance quantizer 16)."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.float64)
    h, w, _ = arr.shape
    sh, sv = subsampling
    amat = _jpeg_dct_matrix()
    qts = [
        np.array(_JPEG_QT_LUM, dtype=np.float64),
        np.array(_JPEG_QT_CHR, dtype=np.float64),
    ]
    dc_bits, dc_vals, ac_bits, ac_vals, dc_map, ac_map = (
        _jpeg_encode_tables()
    )

    if grayscale:
        comps = [(1, 1, 1, 0)]
        planes = [arr.mean(axis=2)]
    else:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [(1, sh, sv, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = [y, cb, cr]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    prepped = []
    for (cid, hi, vi, tqi), pl in zip(comps, planes):
        # downsample by box mean, pad to the MCU grid by edge replicate
        if (hmax // hi, vmax // vi) != (1, 1):
            fy, fx = vmax // vi, hmax // hi
            py = -(-pl.shape[0] // fy) * fy
            px = -(-pl.shape[1] // fx) * fx
            tmp = np.pad(
                pl,
                ((0, py - pl.shape[0]), (0, px - pl.shape[1])),
                mode="edge",
            )
            pl = tmp.reshape(py // fy, fy, px // fx, fx).mean(axis=(1, 3))
        th, tw = mcuy * vi * 8, mcux * hi * 8
        pl = np.pad(
            pl,
            ((0, th - pl.shape[0]), (0, tw - pl.shape[1])),
            mode="edge",
        )
        prepped.append(pl)

    def put_block(bw, blk, tqi, pred):
        coef = amat.T @ (blk - 128.0) @ amat
        q = np.round(coef.reshape(-1) / qts[tqi]).astype(np.int64)
        zz = q[_JPEG_ZZ]
        diff = int(zz[0]) - pred
        s = int(abs(diff)).bit_length()
        code, length = dc_map[s]
        bw.write(code, length)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_map[0xF0]
                bw.write(c, ln)
                run -= 16
            sz = int(abs(v)).bit_length()
            c, ln = ac_map[(run << 4) | sz]
            bw.write(c, ln)
            bw.write(v if v >= 0 else v + (1 << sz) - 1, sz)
            run = 0
        if run:
            c, ln = ac_map[0x00]
            bw.write(c, ln)
        return int(zz[0])

    def seg(marker, payload):
        return (
            bytes([0xFF, marker])
            + struct.pack(">H", len(payload) + 2)
            + payload
        )

    out = bytearray(b"\xff\xd8")
    n_qt = 1 if grayscale else 2
    for tqi in range(n_qt):
        out += seg(
            0xDB,
            bytes([tqi])
            + bytes(int(qts[tqi][i]) for i in _JPEG_ZZ),
        )
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for cid, hi, vi, tqi in comps:
        sof += bytes([cid, (hi << 4) | vi, tqi])
    out += seg(0xC0, sof)
    for th in range(n_qt):  # one DC + one AC table per quant class
        out += seg(
            0xC4, bytes([0x00 | th]) + bytes(dc_bits) + bytes(dc_vals)
        )
        out += seg(
            0xC4, bytes([0x10 | th]) + bytes(ac_bits) + bytes(ac_vals)
        )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(comps)])
    for cid, hi, vi, tqi in comps:
        sos += bytes([cid, (tqi << 4) | tqi])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)

    bw = _JpegBitWriter()
    preds = {cid: 0 for cid, _, _, _ in comps}
    nmcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and nmcu and nmcu % restart_interval == 0:
                out += bw.flush()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _JpegBitWriter()
                preds = {cid: 0 for cid in preds}
            for (cid, hi, vi, tqi), pl in zip(comps, prepped):
                for byy in range(vi):
                    for bxx in range(hi):
                        y0 = (my * vi + byy) * 8
                        x0 = (mx * hi + bxx) * 8
                        preds[cid] = put_block(
                            bw,
                            pl[y0 : y0 + 8, x0 : x0 + 8],
                            tqi,
                            preds[cid],
                        )
            nmcu += 1
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_encode_tables_prog():
    """Encoder Huffman tables for progressive scans: the baseline
    single-length layout PLUS the EOBn symbols (r<<4 | 0 for r 1..14,
    G.1.2.2 end-of-band run lengths) the baseline table never needs.
    All 12 DC categories at 5 bits, all 176 AC symbols at 9 bits."""
    dc_vals = list(range(12))
    dc_bits = [0] * 16
    dc_bits[4] = 12
    ac_vals = [r << 4 for r in range(15)] + [0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_bits = [0] * 16
    ac_bits[8] = len(ac_vals)
    dc_map = {v: (i, 5) for i, v in enumerate(dc_vals)}
    ac_map = {v: (i, 9) for i, v in enumerate(ac_vals)}
    return dc_bits, dc_vals, ac_bits, ac_vals, dc_map, ac_map


def encode_jpeg_progressive(
    pixels,
    subsampling: tuple[int, int] = (1, 1),
    grayscale: bool = False,
) -> bytes:
    """HxWx3 uint8 RGB array → progressive JPEG bytes (SOF2) — the
    fixture writer for :func:`_decode_jpeg_progressive` (r12). Scan
    script exercises the whole Annex G surface: interleaved DC first
    scan at Al=1 (arithmetic point transform), DC refinement
    (Ah=1→Al=0, one bit per block), then per-component AC bands
    1..5 and 6..63 each as a first scan at Al=1 (magnitude point
    transform + EOB runs) followed by its correction-bit refinement
    scan (G.1.2.3, buffered bits riding the EOB run). Entropy layers
    are lossless over the quantized coefficients, so decode of the
    progressive stream must equal decode of :func:`encode_jpeg` of the
    same pixels EXACTLY — the round-trip contract the tests pin."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.float64)
    h, w, _ = arr.shape
    sh, sv = subsampling
    amat = _jpeg_dct_matrix()
    qts = [
        np.array(_JPEG_QT_LUM, dtype=np.float64),
        np.array(_JPEG_QT_CHR, dtype=np.float64),
    ]
    dc_bits, dc_vals, ac_bits, ac_vals, dc_map, ac_map = (
        _jpeg_encode_tables_prog()
    )
    if grayscale:
        comps = [(1, 1, 1, 0)]
        planes = [arr.mean(axis=2)]
    else:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        comps = [(1, sh, sv, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # quantized zigzag coefficient arrays per component (same prep as
    # encode_jpeg: box-mean downsample, edge-replicate pad)
    coefs = {}
    for (cid, hi, vi, tqi), pl in zip(comps, planes):
        if (hmax // hi, vmax // vi) != (1, 1):
            fy, fx = vmax // vi, hmax // hi
            py = -(-pl.shape[0] // fy) * fy
            px = -(-pl.shape[1] // fx) * fx
            tmp = np.pad(
                pl,
                ((0, py - pl.shape[0]), (0, px - pl.shape[1])),
                mode="edge",
            )
            pl = tmp.reshape(py // fy, fy, px // fx, fx).mean(axis=(1, 3))
        th_, tw_ = mcuy * vi * 8, mcux * hi * 8
        pl = np.pad(
            pl,
            ((0, th_ - pl.shape[0]), (0, tw_ - pl.shape[1])),
            mode="edge",
        )
        by, bx = th_ // 8, tw_ // 8
        blocks = pl.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
        f = amat.T @ (blocks - 128.0) @ amat
        q = np.round(f.reshape(by, bx, 64) / qts[tqi]).astype(np.int64)
        coefs[cid] = q[:, :, _JPEG_ZZ]

    def seg(marker, payload):
        return (
            bytes([0xFF, marker])
            + struct.pack(">H", len(payload) + 2)
            + payload
        )

    out = bytearray(b"\xff\xd8")
    n_qt = 1 if grayscale else 2
    for tqi in range(n_qt):
        out += seg(
            0xDB,
            bytes([tqi]) + bytes(int(qts[tqi][i]) for i in _JPEG_ZZ),
        )
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for cid, hi, vi, tqi in comps:
        sof += bytes([cid, (hi << 4) | vi, tqi])
    out += seg(0xC2, sof)
    for th in range(n_qt):
        out += seg(
            0xC4, bytes([0x00 | th]) + bytes(dc_bits) + bytes(dc_vals)
        )
        out += seg(
            0xC4, bytes([0x10 | th]) + bytes(ac_bits) + bytes(ac_vals)
        )

    def sos_header(scomps, ss, se, ah, al):
        p = bytes([len(scomps)])
        for cid, tqi in scomps:
            p += bytes([cid, (tqi << 4) | tqi])
        return seg(0xDA, p + bytes([ss, se, (ah << 4) | al]))

    def put_extend(bw, v, s):
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)

    # --- scan 1: DC first, interleaved, Al=1 (arithmetic shift) ------
    out += sos_header([(cid, tqi) for cid, _, _, tqi in comps], 0, 0, 0, 1)
    bw = _JpegBitWriter()
    preds = {cid: 0 for cid, _, _, _ in comps}
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, hi, vi, tqi in comps:
                for byy in range(vi):
                    for bxx in range(hi):
                        v = int(coefs[cid][my * vi + byy, mx * hi + bxx, 0])
                        v >>= 1  # DC point transform is ARITHMETIC
                        diff = v - preds[cid]
                        preds[cid] = v
                        s = int(abs(diff)).bit_length()
                        c, ln = dc_map[s]
                        bw.write(c, ln)
                        if s:
                            put_extend(bw, diff, s)
    out += bw.flush()

    # --- scan 2: DC refinement, Ah=1 Al=0 (one raw bit per block) ----
    out += sos_header([(cid, tqi) for cid, _, _, tqi in comps], 0, 0, 1, 0)
    bw = _JpegBitWriter()
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, hi, vi, tqi in comps:
                for byy in range(vi):
                    for bxx in range(hi):
                        v = int(coefs[cid][my * vi + byy, mx * hi + bxx, 0])
                        bw.write(v & 1, 1)
    out += bw.flush()

    # --- per-component AC bands: first pass Al=1, then refinement ----
    def ac_blocks(cid, hi, vi):
        cw = -(-(w * hi) // hmax)
        ch = -(-(h * vi) // vmax)
        return -(-ch // 8), -(-cw // 8)

    def emit_ac_first(cid, tqi, hi, vi, ss, se, al):
        bw = _JpegBitWriter()
        bh_c, bw_c = ac_blocks(cid, hi, vi)
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                nb = eobrun.bit_length() - 1
                c, ln = ac_map[nb << 4]
                bw.write(c, ln)
                if nb:
                    bw.write(eobrun & ((1 << nb) - 1), nb)
                eobrun = 0

        for by in range(bh_c):
            for bx in range(bw_c):
                blk = coefs[cid][by, bx]
                run = 0
                for k in range(ss, se + 1):
                    t = int(blk[k])
                    v = (abs(t) >> al) * (1 if t >= 0 else -1)
                    if v == 0:
                        run += 1
                        continue
                    flush_eob()
                    while run > 15:
                        c, ln = ac_map[0xF0]
                        bw.write(c, ln)
                        run -= 16
                    s = abs(v).bit_length()
                    c, ln = ac_map[(run << 4) | s]
                    bw.write(c, ln)
                    put_extend(bw, v, s)
                    run = 0
                if run:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()
        return bw.flush()

    def emit_ac_refine(cid, tqi, hi, vi, ss, se, al):
        # jcphuff-style G.1.2.3 encoder: newly-nonzero coefficients as
        # (run,1)+sign, nonzero-history ones as buffered correction
        # bits that ride the next EOB-run/ZRL/(run,1) emission
        bw = _JpegBitWriter()
        bh_c, bw_c = ac_blocks(cid, hi, vi)
        eobrun = 0
        eob_bits: list[int] = []

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                nb = eobrun.bit_length() - 1
                c, ln = ac_map[nb << 4]
                bw.write(c, ln)
                if nb:
                    bw.write(eobrun & ((1 << nb) - 1), nb)
                eobrun = 0
            for b in eob_bits:
                bw.write(b, 1)
            eob_bits.clear()

        for by in range(bh_c):
            for bx in range(bw_c):
                blk = coefs[cid][by, bx]
                absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
                eob = 0  # index AFTER the last newly-nonzero coefficient
                for i, a in enumerate(absv):
                    if a == 1:
                        eob = i + 1
                run = 0
                br: list[int] = []
                for i, a in enumerate(absv):
                    if a == 0:
                        run += 1
                        continue
                    while run > 15 and i < eob:
                        flush_eob()
                        c, ln = ac_map[0xF0]
                        bw.write(c, ln)
                        run -= 16
                        for b in br:
                            bw.write(b, 1)
                        br = []
                    if a > 1:
                        br.append(a & 1)
                        continue
                    flush_eob()
                    c, ln = ac_map[(run << 4) | 1]
                    bw.write(c, ln)
                    bw.write(1 if int(blk[ss + i]) >= 0 else 0, 1)
                    for b in br:
                        bw.write(b, 1)
                    br = []
                    run = 0
                if run or br:
                    eobrun += 1
                    eob_bits.extend(br)
                    if eobrun == 0x7FFF or len(eob_bits) > 900:
                        flush_eob()
        flush_eob()
        return bw.flush()

    for cid, hi, vi, tqi in comps:
        for ss, se in ((1, 5), (6, 63)):
            out += sos_header([(cid, tqi)], ss, se, 0, 1)
            out += emit_ac_first(cid, tqi, hi, vi, ss, se, 1)
    for cid, hi, vi, tqi in comps:
        for ss, se in ((1, 5), (6, 63)):
            out += sos_header([(cid, tqi)], ss, se, 1, 0)
            out += emit_ac_refine(cid, tqi, hi, vi, ss, se, 0)

    out += b"\xff\xd9"
    return bytes(out)


@_codec_quarantine
def decode_pixels(content: bytes, mime: str | None = None):
    """Magic-byte dispatch to the built-in decoders. ValueError when no
    built-in codec matches (caller decides: stand-in, PIL, quarantine)."""
    if content.startswith(b"P6"):
        return decode_ppm(content)
    if content.startswith(b"BM"):
        return decode_bmp(content)
    if content.startswith(_PNG_SIG):
        return decode_png(content)
    if content.startswith(b"\xff\xd8"):
        return decode_jpeg(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        return decode_webp(content)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(content)
    if content[4:12] == b"ftypavif":
        # the one SYSTEM-codec tier (libavif/dav1d via the ctypes seam
        # — an AV1 intra decoder is out of pure-python scope); raises
        # NotImplementedError with wiring guidance when absent
        from parquet_on_fhir_spark.operators.avif import decode_avif_rgb

        return decode_avif_rgb(content)
    raise ValueError(f"no built-in codec for payload (mime={mime!r})")


def _grid_8x8(img):
    """HxWx3 uint8 → 64 luminance samples on an 8×8 grid (box average
    when divisible, nearest-neighbor index sampling otherwise — the
    average-hash layout decode_real produces via PIL resize)."""
    import numpy as np

    h, w, _ = img.shape
    lum = img.astype(np.float64).mean(axis=2) / 255.0
    if h % 8 == 0 and w % 8 == 0:
        return (
            lum.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3)).ravel().tolist()
        )
    ys = np.minimum((np.arange(8) * h) // 8, h - 1)
    xs = np.minimum((np.arange(8) * w) // 8, w - 1)
    return lum[np.ix_(ys, xs)].ravel().tolist()


def numpy_features(content: bytes, mime: str | None = None) -> list[float]:
    """REAL feature codec for uncompressed formats: decode to pixels,
    then (width, height, 8×8 luminance grid) — byte-compatible with
    ``decode_real``'s PIL output shape (66-dim). Payloads no built-in
    codec understands fall back to the deterministic stand-in (same
    vector WIDTH is not guaranteed across codecs; pipelines that mix
    formats should partition by kind/mime first, as the docstring of
    extract_features notes)."""
    try:
        w, h, img = decode_pixels(content, mime)
    except ValueError:
        return stand_in_features(content, mime)
    return [float(w), float(h)] + _grid_8x8(img)


def numpy_resize(
    content: bytes, mime: str | None, width: int, height: int
) -> bytes:
    """REAL resize codec for uncompressed formats: nearest-neighbor
    resample, re-encoded as P6 PPM (one canonical uncompressed output
    container regardless of input format). Unknown payloads pass
    through unchanged."""
    import numpy as np

    try:
        _, _, img = decode_pixels(content, mime)
    except ValueError:
        return content
    h, w, _ = img.shape
    ys = np.minimum((np.arange(height) * h) // height, h - 1)
    xs = np.minimum((np.arange(width) * w) // width, w - 1)
    return encode_ppm(img[np.ix_(ys, xs)])


# --- real audio codec for PCM WAV (no external library) ----------------------------
@_codec_quarantine
def decode_wav(content: bytes):
    """RIFF/WAVE PCM → (sample_rate, channels, float64 array of shape
    (n_samples, channels) normalized to [-1, 1]) with NO codec library
    — chunk walk + numpy frombuffer. 16-bit and 8-bit PCM supported
    (format tag 1); compressed codecs (MP3/AAC/float WAV) raise
    ValueError — route those through the soundfile seam in
    ``decode_real``/quarantine upstream."""
    import struct

    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid, size = struct.unpack_from("<4sI", content, pos)
        body = content[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated WAV chunk")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            try:
                fmt = struct.unpack_from("<HHIIHH", body, 0)
            except struct.error as e:
                # a declared-size-consistent fmt chunk can still be
                # <16 bytes; struct.error would escape the ValueError
                # quarantine contract every consumer relies on
                # (r14 advice)
                raise ValueError(f"bad WAV fmt chunk ({e})") from e
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, sample_rate, _brate, _align, bits = fmt
    # sample_rate == 0 would ZeroDivisionError in downstream duration /
    # feature math, escaping the ValueError → stand-in fallback
    if (
        audio_format != 1
        or bits not in (8, 16)
        or channels < 1
        or sample_rate < 1
    ):
        raise ValueError(
            f"unsupported WAV (format={audio_format}, bits={bits},"
            f" rate={sample_rate})"
        )
    if bits == 16:
        raw = np.frombuffer(data, dtype="<i2")
        norm = raw.astype(np.float64) / 32768.0
    else:  # 8-bit WAV is unsigned, midpoint 128
        raw = np.frombuffer(data, dtype=np.uint8)
        norm = (raw.astype(np.float64) - 128.0) / 128.0
    n = len(norm) // channels
    return sample_rate, channels, norm[: n * channels].reshape(n, channels)


def encode_wav(samples, sample_rate: int) -> bytes:
    """(n, channels) int16 array → 16-bit PCM WAV bytes (the
    test/fixture writer for :func:`decode_wav`)."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    n, ch = arr.shape
    data = arr.tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def wav_features(content: bytes, mime: str | None = None) -> list[float]:
    """REAL audio feature codec: decode PCM WAV, then [sample_rate,
    duration_s, rms, zero_crossings_per_s, peak] over the mono mixdown
    — the shape an audio-quality filter consumes (silence ≈ rms 0,
    clipping ≈ peak 1). Payloads that are not PCM WAV fall back to the
    deterministic byte-statistics stand-in (5-dim too, so the feature
    column stays fixed-width across a mixed corpus)."""
    import numpy as np

    try:
        sr, _ch, x = decode_wav(content)
    except ValueError:
        return stand_in_features(content, mime)
    mono = x.mean(axis=1)
    n = len(mono)
    if n == 0:
        return [float(sr), 0.0, 0.0, 0.0, 0.0]
    rms = float(np.sqrt(np.mean(mono * mono)))
    crossings = int(np.count_nonzero(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
    dur = n / sr
    return [float(sr), dur, rms, crossings / dur, float(np.abs(mono).max())]


# --- GIF (LZW) ------------------------------------------------------------------------
#
# GIF87a/89a baseline: global color table, one image, variable-width
# LZW (GIF flavor: clear/EOI codes, LSB-first bit packing, 12-bit cap)
# with the 4-pass row interlace. 89a extension blocks (GCE, comment,
# application) are SKIPPED on decode — animation frames beyond the
# first, local-palette multi-image streams and transparency
# compositing are out of scope for feature extraction and route to the
# decode_real PIL seam like progressive web formats do.

_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (first row, stride) ×4


def _gif_interlace_order(h: int):
    order = []
    for start, step in _GIF_PASSES:
        order.extend(range(start, h, step))
    return order


def _gif_lzw(data, mcs: int, needed: int):
    """Canonical GIF variable-width LZW decompress → list of palette
    indices. The decoder is one code behind the encoder (the
    ``code == next_code`` case); width bumps at table size 2^width,
    growth stops at 4096 until a clear. Stops at ``needed`` symbols —
    minimal real-world GIFs omit/truncate the EOI code and rely on the
    pixel count (the canonical 43-byte 1x1 does)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    base = [(i,) for i in range(1 << mcs)] + [None, None]
    table = list(base)
    cs = mcs + 1
    next_code = eoi + 1
    out: list[int] = []
    prev = None
    acc = nbits = 0
    bytepos = 0
    ended = False
    while not ended and len(out) < needed:
        while nbits < cs:
            if bytepos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[bytepos] << nbits
            nbits += 8
            bytepos += 1
        code = acc & ((1 << cs) - 1)
        acc >>= cs
        nbits -= cs
        if code == clear:
            table = list(base)
            cs = mcs + 1
            next_code = eoi + 1
            prev = None
            continue
        if code == eoi:
            ended = True
            continue
        if prev is None:
            if code >= len(table) or table[code] is None:
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < next_code and code < len(table) and table[code]:
            entry = table[code]
        elif code == next_code and table[prev]:
            entry = table[prev] + (table[prev][0],)
        else:
            raise ValueError(f"bad LZW code {code}")
        out.extend(entry)
        if prev is not None and next_code < 4096:
            table.append(table[prev] + (entry[0],))
            next_code += 1
            if next_code == (1 << cs) and cs < 12:
                cs += 1
        prev = code
    if len(out) < needed:
        raise ValueError("LZW stream shorter than image")
    return out


def _gif_color_table(content: bytes, pos: int, packed: int, what: str):
    import numpy as np

    n = 2 << (packed & 0x07)
    tbl = np.frombuffer(content[pos : pos + 3 * n], dtype=np.uint8)
    if tbl.size != 3 * n:
        raise ValueError(f"truncated {what} color table")
    return tbl.reshape(n, 3), pos + 3 * n


def _gif_image_block(content: bytes, pos: int, gct):
    """Parse one image descriptor + optional LCT + LZW data starting at
    the 0x2C byte → ((left, top, w, h), index array HxW, next pos)."""
    import struct

    import numpy as np

    if pos + 10 > len(content):
        raise ValueError("truncated image descriptor")
    left, top, w, h, ipacked = struct.unpack_from("<HHHHB", content, pos + 1)
    pos += 10
    pal = gct
    if ipacked & 0x80:  # local color table wins
        pal, pos = _gif_color_table(content, pos, ipacked, "local")
    if pal is None:
        raise ValueError("GIF image with no color table")
    if pos >= len(content):
        raise ValueError("truncated before LZW min code size")
    mcs = content[pos]
    pos += 1
    data = bytearray()
    while pos < len(content) and content[pos] != 0:
        ln = content[pos]
        if pos + 1 + ln > len(content):
            raise ValueError("truncated GIF sub-block")
        data += content[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    pos += 1  # sub-block terminator
    idx = np.asarray(_gif_lzw(data, mcs, w * h), dtype=np.int32).reshape(h, w)
    if ipacked & 0x40:  # interlaced: stored rows are in 4-pass order
        rows = np.empty(h, dtype=np.int32)
        rows[_gif_interlace_order(h)] = np.arange(h)
        idx = idx[rows]
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("palette index out of range")
    return (left, top, w, h), pal, idx, pos


@_codec_quarantine
def decode_gif(content: bytes):
    """First image of a GIF87a/GIF89a stream → (width, height, HxWx3
    uint8 RGB). Pure stdlib+numpy: header + logical screen descriptor,
    global/local color table, 89a extension-block skipping, canonical
    variable-width LZW (:func:`_gif_lzw`), 4-pass interlace reorder.
    Raises ValueError outside that envelope (truncated stream, bad
    code) — quarantine upstream, don't guess. Animated streams:
    :func:`decode_gif_frames` composites every frame; this returns
    frame 1 as stored (no compositing — frame 1 IS the canvas for
    full-screen first frames, the overwhelmingly common layout)."""
    import struct

    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(content) < 13:
        raise ValueError("truncated GIF header")
    _sw, _sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _gif_color_table(content, pos, packed, "global")
    while pos < len(content):
        block = content[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(content) and content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
        elif block == 0x2C:
            break
        elif block == 0x3B:
            raise ValueError("GIF trailer before any image")
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    else:
        raise ValueError("no image descriptor")
    (_l, _t, w, h), pal, idx, _pos = _gif_image_block(content, pos, gct)
    return int(w), int(h), pal[idx]


@_codec_quarantine
def decode_gif_frames(content: bytes, max_frames: int | None = None):
    """Animated GIF → list of (delay_ms, screen-sized HxWx3 uint8 RGB)
    COMPOSITED frames (hl7-unrelated; the multimodal crawl case —
    animated GIFs are frame-sampled like video via frame_sample_plan).

    Graphic Control Extension state (delay, transparency index,
    disposal) applies to the following image; compositing supports
    disposal 0/1 (leave), 2 (restore rect to background) and 3
    (restore previous canvas), with transparent pixels leaving the
    canvas through. Frames may be sub-rectangles with local palettes.
    ``max_frames`` bounds work for long animations (frame-sampling
    reads the first k). The canvas starts as the background color
    when a global table exists, else black."""
    import struct

    import numpy as np

    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(content) < 13:
        raise ValueError("truncated GIF header")
    sw, sh, packed, bg, _ar = struct.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _gif_color_table(content, pos, packed, "global")
    if gct is not None and bg < len(gct):
        canvas = np.broadcast_to(gct[bg], (sh, sw, 3)).copy()
    else:
        canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    frames: list[tuple[int, "np.ndarray"]] = []
    delay_ms = 0
    tindex = None
    disposal = 0
    while pos < len(content):
        block = content[pos]
        if block == 0x3B:
            break
        if block == 0x21:
            label = content[pos + 1] if pos + 1 < len(content) else 0
            if label == 0xF9 and pos + 7 < len(content):
                gpacked, d_lo, d_hi, ti = struct.unpack_from(
                    "<xxxBBBB", content, pos
                )
                delay_ms = (d_lo | (d_hi << 8)) * 10
                disposal = (gpacked >> 2) & 0x07
                tindex = ti if (gpacked & 0x01) else None
            pos += 2
            while pos < len(content) and content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        (left, top, w, h), pal, idx, pos = _gif_image_block(
            content, pos, gct
        )
        if top + h > sh or left + w > sw:
            raise ValueError("GIF frame rect outside the screen")
        before = canvas.copy() if disposal == 3 else None
        rect = canvas[top : top + h, left : left + w]
        if tindex is None:
            rect[:] = pal[idx]
        else:
            opaque = idx != tindex
            rect[opaque] = pal[idx[opaque]]
        frames.append((delay_ms, canvas.copy()))
        if disposal == 2:
            if gct is not None and bg < len(gct):
                canvas[top : top + h, left : left + w] = gct[bg]
            else:
                canvas[top : top + h, left : left + w] = 0
        elif disposal == 3 and before is not None:
            canvas = before
        delay_ms, tindex, disposal = 0, None, 0
        if max_frames is not None and len(frames) >= max_frames:
            break
    if not frames:
        raise ValueError("no image descriptor")
    return frames


def _gif_lzw_encode(symbols, mcs: int) -> bytearray:
    """GIF variable-width LZW compress (mirror of :func:`_gif_lzw`,
    incl. the 12-bit table reset), LSB-first bit packing."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    codes: list[tuple[int, int]] = []  # (code, width)
    cs = mcs + 1
    tab: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    codes.append((clear, cs))
    cur = symbols[0]
    for s in symbols[1:]:
        key = (cur, s)
        if key in tab:
            cur = tab[key]
            continue
        codes.append((cur, cs))
        if next_code < 4096:
            tab[key] = next_code
            next_code += 1
            if next_code == (1 << cs) + 1 and cs < 12:
                cs += 1
        else:  # table full: reset, mirroring the decoder
            codes.append((clear, cs))
            tab.clear()
            cs = mcs + 1
            next_code = eoi + 1
        cur = s
    codes.append((cur, cs))
    codes.append((eoi, cs))
    acc = nbits = 0
    packed = bytearray()
    for code, width in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        packed.append(acc & 0xFF)
    return packed


def _gif_palette(flat):
    """distinct colors → (bits, padded palette, inverse indices)."""
    import numpy as np

    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"{len(colors)} colors; GIF palette caps at 256")
    bits = max(1, int(len(colors) - 1).bit_length())
    palette = np.zeros((1 << bits, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    return bits, palette, inverse


def _gif_subblocks(packed: bytearray) -> bytearray:
    out = bytearray()
    for i in range(0, len(packed), 255):
        chunk = packed[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00"
    return out


def encode_gif(pixels, interlace: bool = False) -> bytes:
    """HxWx3 uint8 array (≤256 distinct colors) → single-image GIF87a
    bytes — the test/fixture writer proving decode_gif handles real
    LZW streams (variable width, 12-bit table resets, interlace).
    Raises ValueError beyond 256 colors (this writer does not
    quantize; quantization is a modeling choice, not a codec one)."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    bits, palette, inverse = _gif_palette(arr.reshape(-1, 3))
    idx = inverse.astype(np.int32).reshape(h, w)
    if interlace:
        idx = idx[_gif_interlace_order(h)]
    mcs = max(2, bits)
    packed = _gif_lzw_encode(idx.ravel().tolist(), mcs)
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 0x07), 0, 0)
    out += palette.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
    out.append(mcs)
    out += _gif_subblocks(packed)
    out += b"\x3b"
    return bytes(out)


def encode_gif_animation(
    frames,
    delays_ms=None,
    rects=None,
    transparent=None,
    disposals=None,
) -> bytes:
    """Multi-frame GIF89a writer (the test/fixture twin of
    :func:`decode_gif_frames`): one GLOBAL palette over every frame's
    colors, a Graphic Control Extension per frame (delay in ms,
    optional transparency index, disposal), optional per-frame
    sub-rectangles ``(left, top)``. ``transparent``, when given for a
    frame, is an (r, g, b) color whose pixels become the transparent
    index for that frame."""
    import struct

    import numpy as np

    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not arrs:
        raise ValueError("need at least one frame")
    n = len(arrs)
    delays_ms = delays_ms or [0] * n
    rects = rects or [(0, 0)] * n
    disposals = disposals or [1] * n
    transparent = transparent or [None] * n
    flat = np.concatenate([a.reshape(-1, 3) for a in arrs])
    tcolors = [t for t in transparent if t is not None]
    if tcolors:
        flat = np.concatenate(
            [flat, np.asarray(tcolors, dtype=np.uint8).reshape(-1, 3)]
        )
    bits, palette, _ = _gif_palette(flat)
    lut = {tuple(c): i for i, c in enumerate(palette.tolist())}
    sw = max(l + a.shape[1] for a, (l, _t) in zip(arrs, rects))
    sh = max(t + a.shape[0] for a, (_l, t) in zip(arrs, rects))
    mcs = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | ((bits - 1) & 0x07), 0, 0)
    out += palette.tobytes()
    for a, d, (left, top), disp, tcol in zip(
        arrs, delays_ms, rects, disposals, transparent
    ):
        h, w, _ = a.shape
        ti = lut[tuple(tcol)] if tcol is not None else 0
        gpacked = ((disp & 0x07) << 2) | (1 if tcol is not None else 0)
        out += struct.pack(
            "<BBBBHBB", 0x21, 0xF9, 4, gpacked, d // 10, ti, 0
        )
        idx = np.array(
            [[lut[tuple(px)] for px in row] for row in a.tolist()],
            dtype=np.int32,
        )
        out += struct.pack("<BHHHHB", 0x2C, left, top, w, h, 0)
        out.append(mcs)
        out += _gif_subblocks(_gif_lzw_encode(idx.ravel().tolist(), mcs))
    out += b"\x3b"
    return bytes(out)


def gif_animation_features(media: DataFrame, max_frames: int | None = None) -> DataFrame:
    """Animated-GIF frame extraction via ``mapInPandas`` (Arrow
    batches — the frame-sampling shape :func:`frame_sample_plan`
    plans for video, executed for real here because the GIF codec is
    in-repo): each media row becomes one row per COMPOSITED frame
    with its delay and mean luminance. ``max_frames`` bounds decode
    work per payload (the long-animation guard). Output: (media_id,
    frame_idx, delay_ms, mean_lum)."""
    import pandas as pd

    def batches(it):
        for pdf in it:
            ids, idxs, delays, lums = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                frames = decode_gif_frames(bytes(content), max_frames)
                for i, (d, img) in enumerate(frames):
                    ids.append(mid)
                    idxs.append(i)
                    delays.append(d)
                    lums.append(
                        float(img.astype("float64").mean()) / 255.0
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "delay_ms": pd.Series(delays, dtype="int64"),
                    "mean_lum": pd.Series(lums, dtype="float64"),
                }
            )

    return media.select("media_id", "content").mapInPandas(
        batches,
        schema="media_id long, frame_idx int, delay_ms long, mean_lum double",
    )


# --- animated WebP (VP8X/ANIM/ANMF container) ---------------------------------------


@_codec_quarantine
def decode_webp_frames(content: bytes, max_frames: int | None = None):
    """Animated WebP → list of (duration_ms, HxWx3 uint8 RGB)
    composited frames: VP8X feature check, ANIM/ANMF chunk walk and
    compositing here, per-frame decode through :func:`decode_webp`
    (libwebp; VP8L lossless and VP8 lossy key frames) — mixed-codec
    animations are legal and covered.  Composition: frames paste at
    their (2x-scaled) offsets; alpha is dropped module-wide, so both
    blending modes reduce to overwrite, and disposal-to-background
    restores the canvas (ANIM background, alpha-dropped → black).  A
    still WebP decodes as one zero-duration frame.  ``max_frames``
    bounds decode work per payload (the long-animation guard, as in
    :func:`decode_gif_frames`)."""
    import struct

    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) container")
    pos = 12
    canvas = None
    frames: list[tuple[int, np.ndarray]] = []
    animated = False
    dispose_next = False
    dispose_region = None
    while pos + 8 <= len(content):
        fourcc = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8X":
            if len(body) < 10:
                raise ValueError("WebP: truncated VP8X chunk")
            animated = bool(body[0] & 0x02)
            cw = 1 + int.from_bytes(body[4:7], "little")
            ch = 1 + int.from_bytes(body[7:10], "little")
            canvas = np.zeros((ch, cw, 3), np.uint8)
        elif fourcc == b"ANMF" and animated:
            if max_frames is not None and len(frames) >= max_frames:
                break
            if len(body) < 16:
                raise ValueError("WebP: truncated ANMF header")
            fx = 2 * int.from_bytes(body[0:3], "little")
            fy = 2 * int.from_bytes(body[3:6], "little")
            fw = 1 + int.from_bytes(body[6:9], "little")
            fh = 1 + int.from_bytes(body[9:12], "little")
            dur = int.from_bytes(body[12:15], "little")
            flags = body[15]
            # frame data: sub-chunks (ALPH skipped; VP8/VP8L decoded)
            sub = 16
            img = None
            while sub + 8 <= len(body):
                sc = body[sub : sub + 4]
                (ssz,) = struct.unpack_from("<I", body, sub + 4)
                if sc in (b"VP8 ", b"VP8L"):
                    frame_blob = (
                        b"RIFF"
                        + (4 + 8 + ssz + (ssz & 1)).to_bytes(4, "little")
                        + b"WEBP"
                        + body[sub : sub + 8 + ssz + (ssz & 1)]
                    )
                    _, _, img = decode_webp(frame_blob)
                    break
                sub += 8 + ssz + (ssz & 1)
            if img is None:
                raise ValueError("ANMF frame without VP8/VP8L data")
            if canvas is None:
                raise ValueError("ANMF before VP8X canvas")
            if dispose_next and dispose_region is not None:
                ry, rx, rh, rw = dispose_region
                canvas[ry : ry + rh, rx : rx + rw] = 0
            canvas[fy : fy + fh, fx : fx + fw] = img[:fh, :fw]
            frames.append((dur, canvas.copy()))
            dispose_next = bool(flags & 0x01)
            dispose_region = (fy, fx, fh, fw)
        elif fourcc in (b"VP8 ", b"VP8L") and not animated:
            _, _, img = decode_webp(content)
            return [(0, img)]
        pos += 8 + size + (size & 1)
    if not frames:
        raise ValueError("no decodable frames in WebP container")
    return frames


def encode_webp_animation(frames, durations_ms, lossy_mask=None) -> bytes:
    """Frame arrays (HxWx3 uint8, equal dims) → animated WebP
    (VP8X + ANIM + one full-canvas ANMF per frame), the fixture writer
    for :func:`decode_webp_frames`.  Frames are VP8L-coded (lossless →
    exact) except where ``lossy_mask[i]`` is true, which routes the
    frame through the VP8 solid fixture encoder (the frame must be a
    solid color — the q299 exactness lever) so mixed-codec animations
    are covered end-to-end."""
    import numpy as np

    from parquet_on_fhir_spark.operators.vp8_enc import encode_webp_solid

    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape[:2]
    lossy_mask = lossy_mask or [False] * len(frames)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return (
            fourcc + len(body).to_bytes(4, "little")
            + body + (b"\x00" if len(body) & 1 else b"")
        )

    def frame_chunk(img, lossy: bool) -> bytes:
        if lossy:
            rgb = tuple(int(v) for v in img[0, 0])
            if not (img == img[0, 0]).all():
                raise ValueError("lossy animation frames must be solid")
            blob = encode_webp_solid(w, h, rgb)[0]
        else:
            blob = encode_webp_lossless(img)
        i = blob.find(b"VP8L")
        if i < 0:
            i = blob.find(b"VP8 ")
        import struct

        (ssz,) = struct.unpack_from("<I", blob, i + 4)
        return blob[i : i + 8 + ssz + (ssz & 1)]

    vp8x = bytes([0x02, 0, 0, 0]) + (w - 1).to_bytes(3, "little") + (
        h - 1
    ).to_bytes(3, "little")
    anim = (0).to_bytes(4, "little") + (0).to_bytes(2, "little")
    body = chunk(b"VP8X", vp8x) + chunk(b"ANIM", anim)
    for img, dur, lossy in zip(frames, durations_ms, lossy_mask):
        anmf = (
            (0).to_bytes(3, "little")  # x/2
            + (0).to_bytes(3, "little")  # y/2
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
            + int(dur).to_bytes(3, "little")
            + bytes([0x02])  # no-blend, keep canvas
            + frame_chunk(img, lossy)
        )
        body += chunk(b"ANMF", anmf)
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WEBP" + body


def webp_animation_features(
    media: DataFrame, max_frames: int | None = None
) -> DataFrame:
    """Animated-WebP frame extraction via ``mapInPandas`` — the
    :func:`gif_animation_features` shape on the WebP container (one
    row per composited frame: media_id, frame_idx, duration_ms,
    mean_lum)."""
    import pandas as pd

    def batches(it):
        for pdf in it:
            ids, idxs, durs, lums = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                for i, (d, img) in enumerate(
                    decode_webp_frames(bytes(content), max_frames)
                ):
                    ids.append(mid)
                    idxs.append(i)
                    durs.append(d)
                    lums.append(float(img.astype("float64").mean()) / 255.0)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "duration_ms": pd.Series(durs, dtype="int64"),
                    "mean_lum": pd.Series(lums, dtype="float64"),
                }
            )

    return media.select("media_id", "content").mapInPandas(
        batches,
        schema="media_id long, frame_idx int, duration_ms long, mean_lum double",
    )


# --- WebP still images: libwebp decode, in-repo VP8L fixture writer -----------------
# Decoding goes through the system libwebp (operators/webp.py); this
# module does the RIFF chunk walk, the key-frame refusal and the
# BT.601 conversion of lossy frames.  The VP8L writer below follows the
# WebP Lossless Bitstream Specification (RFC 9649 §3) and the VP8
# fixture encoder lives in operators/vp8_enc.py.

#: code-length symbols arrive in this fixed order (RFC 9649 §3.7.2.2)
_WEBP_CLC_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15
)


@_codec_quarantine
def decode_webp(content: bytes):
    """WebP → (width, height, HxWx3 uint8 RGB) through the system
    libwebp.

    The RIFF chunk walk finds the first VP8L or VP8 chunk.  Lossless
    (VP8L) decodes straight to RGB, exactly.  Lossy (VP8) decodes to
    YUV420 planes in libwebp, then the BT.601 integer conversion below
    makes RGB (nearest-neighbor chroma upsampling — the q299 oracle
    pins this conversion).  Inter frames are refused: a still image or
    an animation frame must be a key frame.  Alpha is dropped like
    every decoder in this module; undecodable payloads raise
    ValueError."""
    import struct

    from parquet_on_fhir_spark.operators import webp

    if content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) container")
    pos = 12
    while pos + 8 <= len(content):
        fourcc = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        chunk = content[pos : pos + 8 + size]
        if fourcc == b"VP8L":
            return webp.decode_rgb(chunk)
        if fourcc == b"VP8 ":
            # frame tag bit 0 clear marks a key frame (RFC 6386 §9.1)
            if len(chunk) > 8 and chunk[8] & 1:
                raise ValueError("vp8: only key frames (still images) supported")
            w, h, Y, U, V = webp.decode_yuv(chunk)
            return w, h, _yuv420_to_rgb(Y, U, V)
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    raise ValueError("WebP: no VP8/VP8L chunk")


def _yuv420_to_rgb(Y, U, V):
    """BT.601 full-swing integer YUV420→RGB (libwebp's coefficients,
    nearest-neighbor chroma upsampling).  Exact for solid-color frames
    (each chroma sample covers identical pixels), which is what the
    oracle-checked fixtures rely on."""
    import numpy as np

    h, w = Y.shape
    u = U.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
    v = V.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
    y = (Y.astype(np.int32) - 16) * 19077  # 1.164 in Q14 (libwebp)
    r = (y + 26149 * v + (1 << 13)) >> 14
    g = (y - 6419 * u - 13320 * v + (1 << 13)) >> 14
    b = (y + 33050 * u + (1 << 13)) >> 14
    img = np.stack([r, g, b], axis=2)
    return np.clip(img, 0, 255).astype(np.uint8)


class _Vp8lBitWriter:
    """LSB-first stream writer; prefix-code words are emitted MSB-first
    (the decoder accumulates acc = (acc << 1) | next_bit)."""

    def __init__(self):
        self.bits = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:  # plain field, LSB-first
        for i in range(n):
            self._bit((value >> i) & 1)

    def write_code(self, code: int, n: int) -> None:  # prefix word, MSB-first
        for i in range(n - 1, -1, -1):
            self._bit((code >> i) & 1)

    def _bit(self, b: int) -> None:
        self.acc |= b << self.nbits
        self.nbits += 1
        if self.nbits == 8:
            self.bits.append(self.acc)
            self.acc = 0
            self.nbits = 0

    def bytes(self) -> bytes:
        out = bytes(self.bits)
        if self.nbits:
            out += bytes((self.acc,))
        return out


def _vp8l_build_lengths(freqs: dict, max_len: int = 15) -> dict:
    """Huffman code lengths from symbol frequencies (heap merge).
    Fixture-writer scope: raises if the depth exceeds ``max_len``
    (cannot happen for the small alphabets/images tests encode)."""
    import heapq

    if not freqs:
        raise ValueError("vp8l encoder: empty alphabet")
    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    heap = [(f, i, {s: 0}) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    tie = len(heap)
    while len(heap) > 1:
        f1, _, d1 = heapq.heappop(heap)
        f2, _, d2 = heapq.heappop(heap)
        merged = {s: l + 1 for s, l in d1.items()}
        merged.update({s: l + 1 for s, l in d2.items()})
        heapq.heappush(heap, (f1 + f2, tie, merged))
        tie += 1
    lengths = heap[0][2]
    if max(lengths.values()) > max_len:
        raise ValueError("vp8l encoder: code depth exceeds limit")
    return lengths


def _vp8l_canonical_codes(lengths: dict) -> dict:
    """{symbol: (nbits, code)} in deflate-canonical (length, symbol)
    order, as RFC 9649 decoders rebuild it from the lengths."""
    out = {}
    code = 0
    prev = None
    for l, s in sorted((l, s) for s, l in lengths.items()):
        code = code << (l - (prev if prev is not None else l))
        prev = l
        out[s] = (l, code)
        code += 1
    return out


def _vp8l_write_code(bw, lengths: dict, alphabet_size: int) -> dict:
    """Serialize one prefix code; returns the symbol→(nbits, code) map
    the caller uses to emit symbols.  Single-symbol alphabets use the
    1-bit simple form (symbols ≥ 256 never need it here: the length/
    cache symbols always share the green code with ≥ 1 literal)."""
    syms = sorted(lengths)
    if len(syms) == 1 and syms[0] < 256:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # num_symbols - 1 = 0
        bw.write(1, 1)  # 8-bit first symbol
        bw.write(syms[0], 8)
        return {syms[0]: (0, 0)}
    if len(syms) == 2 and all(s < 256 for s in syms):
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        bw.write(1, 1)
        bw.write(syms[0], 8)
        bw.write(syms[1], 8)
        return {syms[0]: (1, 0), syms[1]: (1, 1)}
    bw.write(0, 1)  # full code-length-coded form
    all_lengths = [lengths.get(s, 0) for s in range(alphabet_size)]
    clc_freq = {}
    for l in all_lengths:
        clc_freq[l] = clc_freq.get(l, 0) + 1
    clc_lengths = _vp8l_build_lengths(clc_freq, max_len=7)
    if len(clc_lengths) == 1:
        # degenerate code-length code must still be decodable: give the
        # lone symbol a 1-bit code by pairing it with an unused symbol
        lone = next(iter(clc_lengths))
        other = 15 if lone != 15 else 14
        clc_lengths = {lone: 1, other: 1}
    order_pos = {s: i for i, s in enumerate(_WEBP_CLC_ORDER)}
    num_clc = max(order_pos[s] for s in clc_lengths) + 1
    num_clc = max(num_clc, 4)
    bw.write(num_clc - 4, 4)
    for i in range(num_clc):
        bw.write(clc_lengths.get(_WEBP_CLC_ORDER[i], 0), 3)
    clc_codes = _vp8l_canonical_codes(clc_lengths)
    bw.write(0, 1)  # no explicit max-symbol: all lengths follow
    for l in all_lengths:
        n, c = clc_codes[l]
        bw.write_code(c, n)
    return _vp8l_canonical_codes(lengths)


def _vp8l_prefix_encode(value: int):
    """LZ77 length/distance → (prefix_code, extra_bits, extra_value),
    the prefix coding of RFC 9649 §3.6.2.2."""
    if value <= 4:
        return value - 1, 0, 0
    for code in range(4, 24):
        extra_bits = (code - 2) >> 1
        offset = (2 + (code & 1)) << extra_bits
        if offset + 1 <= value <= offset + (1 << extra_bits):
            return code, extra_bits, value - offset - 1
    raise ValueError(f"vp8l encoder: length/distance {value} out of range")


def encode_webp_lossless(pixels, use_lz77: bool = False) -> bytes:
    """HxWx3 uint8 → lossless WebP (RIFF + VP8L) with NO codec library
    — the fixture writer for decode_webp, emitting real VP8L entropy
    streams.  Canonical per-channel prefix codes over the actual symbol
    frequencies (the full code-length-coded serialization, not just the
    2-symbol simple form); with ``use_lz77`` runs of the previous pixel
    are LZ77-coded through the 2D distance map's (1,0) offset, plus a
    1-bit color cache, exercising the copy/cache decode paths.  No
    transforms (hand-assembled streams in tests/test_webp_codec.py
    cover those)."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    px_rows = (
        (arr[:, :, 0].astype(np.uint32) << 16)
        | (arr[:, :, 1].astype(np.uint32) << 8)
        | arr[:, :, 2].astype(np.uint32)
        | (0xFF << 24)
    ).reshape(-1)
    cache_bits = 1 if use_lz77 else 0
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    def cache_idx(px):
        return ((0x1E35A7BD * int(px)) & 0xFFFFFFFF) >> (32 - cache_bits)

    # tokenize: ('lit', px) | ('copy', length) | ('cache', idx)
    tokens = []
    i, n = 0, len(px_rows)
    while i < n:
        px = int(px_rows[i])
        if use_lz77 and i > 0 and px == int(px_rows[i - 1]):
            run = 1
            while i + run < n and int(px_rows[i + run]) == px:
                run += 1
            if run >= 3:
                tokens.append(("copy", run))
                for _ in range(run):
                    cache[cache_idx(px)] = px
                i += run
                continue
        if cache_size and cache[cache_idx(px)] == px:
            tokens.append(("cache", cache_idx(px)))
            i += 1
            continue
        tokens.append(("lit", px))
        if cache_size:
            cache[cache_idx(px)] = px
        i += 1

    gfreq, rfreq, bfreq, afreq, dfreq = {}, {}, {}, {}, {}
    for kind, v in tokens:
        if kind == "lit":
            g = (v >> 8) & 0xFF
            gfreq[g] = gfreq.get(g, 0) + 1
            r = (v >> 16) & 0xFF
            rfreq[r] = rfreq.get(r, 0) + 1
            b = v & 0xFF
            bfreq[b] = bfreq.get(b, 0) + 1
            afreq[255] = afreq.get(255, 0) + 1
        elif kind == "copy":
            code, _, _ = _vp8l_prefix_encode(v)
            sym = 256 + code
            gfreq[sym] = gfreq.get(sym, 0) + 1
            # plane code 2 = offset (1,0) = distance 1; its
            # distance-prefix symbol is prefix_encode(2) = 1
            dfreq[1] = dfreq.get(1, 0) + 1
        else:
            sym = 256 + 24 + v
            gfreq[sym] = gfreq.get(sym, 0) + 1
    if not rfreq:  # all-copy/cache streams still need decodable codes
        rfreq, bfreq, afreq = {0: 1}, {0: 1}, {255: 1}
    if not dfreq:
        dfreq = {0: 1}

    bw = _Vp8lBitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta prefix codes
    green_alpha = 256 + 24 + cache_size
    glen = _vp8l_build_lengths(gfreq)
    # a lone green symbol ≥ 256 cannot use the simple form: widen to 2
    if len(glen) == 1 and next(iter(glen)) >= 256:
        glen = {next(iter(glen)): 1, 0: 1}
    gcodes = _vp8l_write_code(bw, glen, green_alpha)
    rcodes = _vp8l_write_code(bw, _vp8l_build_lengths(rfreq), 256)
    bcodes = _vp8l_write_code(bw, _vp8l_build_lengths(bfreq), 256)
    acodes = _vp8l_write_code(bw, _vp8l_build_lengths(afreq), 256)
    dcodes = _vp8l_write_code(bw, _vp8l_build_lengths(dfreq), 40)

    def emit(codes, sym):
        nbits, code = codes[sym]
        if nbits:
            bw.write_code(code, nbits)

    for kind, v in tokens:
        if kind == "lit":
            emit(gcodes, (v >> 8) & 0xFF)
            emit(rcodes, (v >> 16) & 0xFF)
            emit(bcodes, v & 0xFF)
            emit(acodes, 255)
        elif kind == "copy":
            code, extra_bits, extra = _vp8l_prefix_encode(v)
            emit(gcodes, 256 + code)
            bw.write(extra, extra_bits)
            emit(dcodes, 1)  # prefix symbol 1 → plane code 2 → distance 1
        else:
            emit(gcodes, 256 + 24 + v)

    payload = b"\x2f" + bw.bytes()
    vp8l = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        vp8l += b"\x00"
    riff_size = 4 + len(vp8l)
    return b"RIFF" + riff_size.to_bytes(4, "little") + b"WEBP" + vp8l


def wav_spectral_features(content: bytes, mime: str | None = None) -> list[float]:
    """REAL spectral feature codec: decode PCM WAV, mono mixdown, ONE
    rFFT over the whole clip (rectangular window — a bin-exact tone
    therefore yields a delta spectrum, which is what makes the
    driver's closed-form oracle possible), then the 7 spectral shape
    features an audio-curation pipeline gates on:

    [sample_rate, n_samples, dominant_hz, centroid_hz, rolloff85_hz,
    bandwidth_hz, flatness]

    - dominant_hz: argmax-magnitude bin (DC excluded) → Hz;
    - centroid_hz: Σ f·|X|² / Σ|X|² (brightness; POWER weighting —
      16-bit quantization noise then contributes (noise/peak)² ≈ 1e-7
      relative, so a pure tone's centroid is its frequency to < 1e-3
      Hz, which is what lets the driver oracle pin it at 4 dp);
    - rolloff85_hz: lowest f where cumulative |X|² ≥ 85 % (harshness);
    - bandwidth_hz: power-weighted std around the centroid;
    - flatness: geometric/arithmetic mean of |X|² (tonality: ~1 noise,
      ~0 pure tone), 1e-12 floor under the log.

    Per-payload numpy cost like every codec here (module docstring:
    production crawl volume belongs on the decode_real/soundfile
    seam); non-PCM payloads fall back to the 7-dim stand-in slice so
    the feature column stays fixed-width."""
    import numpy as np

    try:
        sr, _ch, x = decode_wav(content)
    except ValueError:
        return (stand_in_features(content, mime) + [0.0, 0.0])[:7]
    mono = x.mean(axis=1)
    n = len(mono)
    if n < 2:
        return [float(sr), float(n), 0.0, 0.0, 0.0, 0.0, 0.0]
    mag = np.abs(np.fft.rfft(mono))
    freqs = np.fft.rfftfreq(n, d=1.0 / sr)
    m = mag.copy()
    m[0] = 0.0  # DC carries no pitch information
    power = m * m
    tot = float(power.sum())
    if tot <= 0.0:
        return [float(sr), float(n), 0.0, 0.0, 0.0, 0.0, 0.0]
    dominant = float(freqs[int(np.argmax(m))])
    centroid = float((freqs * power).sum() / tot)
    cum = np.cumsum(power)
    rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * cum[-1]))])
    bandwidth = float(np.sqrt(((freqs - centroid) ** 2 * power).sum() / tot))
    p = power[1:]
    flatness = float(
        np.exp(np.mean(np.log(p + 1e-12))) / (np.mean(p) + 1e-12)
    )
    return [float(sr), float(n), dominant, centroid, rolloff, bandwidth, flatness]


# --- real image codec for baseline TIFF (no external library) ----------------------
# --- EXIF metadata audit (orientation / camera / GPS-presence) ----------------------
# EXIF is a TIFF-structured blob carried by every major image
# container (JPEG APP1 "Exif\0\0", PNG eXIf chunk, WebP EXIF chunk, or
# a TIFF file itself). A training-data pipeline needs it for two
# jobs: ORIENTATION normalization before any pixel op (tag 0x0112:
# values 2-8 mean the stored pixels are flipped/rotated) and GPS
# PRESENCE as a privacy/PII flag (tag 0x8825 pointer — the value is
# irrelevant, carrying it at all is the finding).


def _exif_tiff_blob(content: bytes):
    """Locate the TIFF-structured EXIF blob inside a container, or
    None: JPEG APP1, PNG eXIf, WebP EXIF, raw TIFF."""
    import struct

    if content[:2] == b"\xff\xd8":  # JPEG: walk markers for APP1/Exif
        pos = 2
        while pos + 4 <= len(content):
            if content[pos] != 0xFF:
                break
            marker = content[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            if marker == 0xDA:  # SOS: headers over
                break
            (seglen,) = struct.unpack_from(">H", content, pos + 2)
            if marker == 0xE1 and content[pos + 4 : pos + 10] == b"Exif\x00\x00":
                return content[pos + 10 : pos + 2 + seglen]
            pos += 2 + seglen
        return None
    if content.startswith(_PNG_SIG):  # PNG: eXIf chunk
        pos = 8
        while pos + 8 <= len(content):
            (clen,) = struct.unpack_from(">I", content, pos)
            ctype = content[pos + 4 : pos + 8]
            if ctype == b"eXIf":
                return content[pos + 8 : pos + 8 + clen]
            if ctype == b"IEND":
                break
            pos += 12 + clen
        return None
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        pos = 12
        while pos + 8 <= len(content):
            fourcc = content[pos : pos + 4]
            (size,) = struct.unpack_from("<I", content, pos + 4)
            if fourcc == b"EXIF":
                body = content[pos + 8 : pos + 8 + size]
                # some writers keep the JPEG-style Exif\0\0 prefix
                if body[:6] == b"Exif\x00\x00":
                    body = body[6:]
                return body
            pos += 8 + size + (size & 1)
        return None
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return content
    return None


def _exif_ifd_entries(blob: bytes, bo: str, ifd_off: int):
    import struct

    if ifd_off + 2 > len(blob):
        return {}
    (n,) = struct.unpack_from(bo + "H", blob, ifd_off)
    out = {}
    for i in range(n):
        base = ifd_off + 2 + i * 12
        if base + 12 > len(blob):
            break
        tag, typ, cnt = struct.unpack_from(bo + "HHI", blob, base)
        out[tag] = (typ, cnt, base + 8)
    return out


def _exif_value(blob: bytes, bo: str, entry):
    """Scalar/short-string value of an IFD entry (inline when ≤4
    bytes, else offset-indirect)."""
    import struct

    typ, cnt, vpos = entry
    size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}.get(typ)
    if size is None:
        return None
    total = size * cnt
    if total > 4:
        (off,) = struct.unpack_from(bo + "I", blob, vpos)
        vpos = off
    if vpos + total > len(blob):
        return None
    if typ == 2:  # ASCII, NUL-terminated
        raw = blob[vpos : vpos + cnt]
        return raw.split(b"\x00")[0].decode("ascii", "replace")
    fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
    if fmt is None:
        return None
    return struct.unpack_from(bo + fmt, blob, vpos)[0]


@_codec_quarantine
def parse_exif(content: bytes) -> dict | None:
    """EXIF summary from any supported container, or None when the
    payload carries no EXIF: {orientation (1-8, default 1), make,
    model, pixel_w, pixel_h, datetime_original, has_gps}."""
    import struct

    blob = _exif_tiff_blob(content)
    if blob is None or len(blob) < 8:
        return None
    if blob[:2] == b"II":
        bo = "<"
    elif blob[:2] == b"MM":
        bo = ">"
    else:
        return None
    if struct.unpack_from(bo + "H", blob, 2)[0] != 42:
        return None
    (ifd0_off,) = struct.unpack_from(bo + "I", blob, 4)
    ifd0 = _exif_ifd_entries(blob, bo, ifd0_off)
    out = {
        "orientation": 1,
        "make": None,
        "model": None,
        "pixel_w": None,
        "pixel_h": None,
        "datetime_original": None,
        "has_gps": False,
    }
    if 0x0112 in ifd0:
        v = _exif_value(blob, bo, ifd0[0x0112])
        if isinstance(v, int) and 1 <= v <= 8:
            out["orientation"] = v
    if 0x010F in ifd0:
        out["make"] = _exif_value(blob, bo, ifd0[0x010F])
    if 0x0110 in ifd0:
        out["model"] = _exif_value(blob, bo, ifd0[0x0110])
    out["has_gps"] = 0x8825 in ifd0
    if 0x8769 in ifd0:  # Exif sub-IFD
        sub_off = _exif_value(blob, bo, ifd0[0x8769])
        if isinstance(sub_off, int):
            sub = _exif_ifd_entries(blob, bo, sub_off)
            if 0xA002 in sub:
                out["pixel_w"] = _exif_value(blob, bo, sub[0xA002])
            if 0xA003 in sub:
                out["pixel_h"] = _exif_value(blob, bo, sub[0xA003])
            if 0x9003 in sub:
                out["datetime_original"] = _exif_value(blob, bo, sub[0x9003])
    return out


def build_exif(*, orientation=1, make=None, model=None, pixel_w=None,
               pixel_h=None, datetime_original=None, gps=False) -> bytes:
    """Little-endian TIFF-structured EXIF blob (the fixture writer for
    :func:`parse_exif`): IFD0 with orientation/make/model (+ GPS
    pointer when ``gps``) and an Exif sub-IFD with pixel dims and
    DateTimeOriginal."""
    import struct

    ifd0 = []
    subifd = []
    tail = bytearray()

    def ascii_entry(tag, s, entries):
        raw = s.encode("ascii") + b"\x00"
        if len(raw) <= 4:
            entries.append((tag, 2, len(raw), raw.ljust(4, b"\x00"), None))
        else:
            entries.append((tag, 2, len(raw), None, raw))

    ifd0.append((0x0112, 3, 1, struct.pack("<HH", orientation, 0), None))
    if make:
        ascii_entry(0x010F, make, ifd0)
    if model:
        ascii_entry(0x0110, model, ifd0)

    if pixel_w is not None:
        subifd.append((0xA002, 4, 1, struct.pack("<I", pixel_w), None))
    if pixel_h is not None:
        subifd.append((0xA003, 4, 1, struct.pack("<I", pixel_h), None))
    if datetime_original:
        ascii_entry(0x9003, datetime_original, subifd)

    have_sub = bool(subifd)
    n0 = len(ifd0) + (1 if have_sub else 0) + (1 if gps else 0)
    ifd0_off = 8
    sub_off = ifd0_off + 2 + n0 * 12 + 4
    n1 = len(subifd)
    data_off = sub_off + ((2 + n1 * 12 + 4) if have_sub else 0)
    gps_off = data_off  # minimal empty GPS IFD sits in the data region
    if gps:
        data_off += 6

    def render(entries, next_val=0):
        nonlocal data_off
        out = struct.pack("<H", len(entries))
        for tag, typ, cnt, inline, ext in sorted(entries):
            if ext is not None:
                out += struct.pack("<HHII", tag, typ, cnt, data_off)
                tail.extend(ext)
                if len(ext) & 1:
                    tail.append(0)
                data_off += len(ext) + (len(ext) & 1)
            else:
                out += struct.pack("<HHI", tag, typ, cnt) + inline
        return out + struct.pack("<I", next_val)

    if have_sub:
        ifd0.append((0x8769, 4, 1, struct.pack("<I", sub_off), None))
    if gps:
        ifd0.append((0x8825, 4, 1, struct.pack("<I", gps_off), None))
    body = render(ifd0)
    if have_sub:
        body += render(subifd)
    if gps:
        body += struct.pack("<HI", 0, 0)  # empty GPS IFD
    return b"II*\x00" + struct.pack("<I", ifd0_off) + body + bytes(tail)


def wrap_exif_jpeg(jpeg: bytes, exif_blob: bytes) -> bytes:
    """Insert an APP1/Exif segment right after SOI."""
    import struct

    assert jpeg[:2] == b"\xff\xd8"
    seg = b"Exif\x00\x00" + exif_blob
    return (
        jpeg[:2]
        + b"\xff\xe1" + struct.pack(">H", len(seg) + 2) + seg
        + jpeg[2:]
    )


def wrap_exif_webp(webp: bytes, exif_blob: bytes) -> bytes:
    """Append an EXIF chunk to a WebP container (parse-level fixture:
    readers that ignore VP8X flags — like parse_exif — see it)."""
    chunk = b"EXIF" + len(exif_blob).to_bytes(4, "little") + exif_blob
    if len(exif_blob) & 1:
        chunk += b"\x00"
    return (
        webp[:4]
        + (int.from_bytes(webp[4:8], "little") + len(chunk)).to_bytes(
            4, "little"
        )
        + webp[8:]
        + chunk
    )


def apply_exif_orientation(img, orientation: int):
    """Undo an EXIF orientation (1-8) so pixels are display-upright —
    the transform every pixel op must apply BEFORE hashing/resizing a
    crawled image (otherwise near-dup hashes split on camera
    rotation). Values per the EXIF spec: 1 identity, 2 mirror-H,
    3 rotate 180, 4 mirror-V, 5 mirror-H+rot270, 6 rotate 90 CW,
    7 mirror-H+rot90, 8 rotate 270 CW."""
    import numpy as np

    a = np.asarray(img)
    if orientation == 1:
        return a
    if orientation == 2:
        return a[:, ::-1]
    if orientation == 3:
        return a[::-1, ::-1]
    if orientation == 4:
        return a[::-1, :]
    if orientation == 5:
        return np.rot90(a[:, ::-1], 1)
    if orientation == 6:
        return np.rot90(a, -1)
    if orientation == 7:
        return np.rot90(a[:, ::-1], -1)
    if orientation == 8:
        return np.rot90(a, 1)
    raise ValueError(f"EXIF orientation must be 1-8, got {orientation}")


def exif_audit(media: DataFrame) -> DataFrame:
    """Per-payload EXIF audit via ``mapInPandas``: orientation (the
    normalize-before-pixels flag), camera make/model, capture dims,
    and the GPS-presence PII flag. Output: (media_id, has_exif,
    orientation, make, model, pixel_w, pixel_h, has_gps)."""
    import pandas as pd

    def batches(it):
        for pdf in it:
            rows = {k: [] for k in (
                "media_id", "has_exif", "orientation", "make",
                "model", "pixel_w", "pixel_h", "has_gps",
            )}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                info = parse_exif(bytes(content))
                rows["media_id"].append(mid)
                rows["has_exif"].append(info is not None)
                rows["orientation"].append(
                    info["orientation"] if info else None
                )
                rows["make"].append(info["make"] if info else None)
                rows["model"].append(info["model"] if info else None)
                rows["pixel_w"].append(info["pixel_w"] if info else None)
                rows["pixel_h"].append(info["pixel_h"] if info else None)
                rows["has_gps"].append(info["has_gps"] if info else None)
            yield pd.DataFrame({
                "media_id": pd.Series(rows["media_id"], dtype="int64"),
                "has_exif": pd.Series(rows["has_exif"], dtype="bool"),
                "orientation": pd.Series(rows["orientation"], dtype="Int32"),
                "make": pd.Series(rows["make"], dtype="object"),
                "model": pd.Series(rows["model"], dtype="object"),
                "pixel_w": pd.Series(rows["pixel_w"], dtype="Int64"),
                "pixel_h": pd.Series(rows["pixel_h"], dtype="Int64"),
                "has_gps": pd.Series(rows["has_gps"], dtype="object"),
            })

    return media.select("media_id", "content").mapInPandas(
        batches,
        schema=(
            "media_id long, has_exif boolean, orientation int, "
            "make string, model string, pixel_w long, pixel_h long, "
            "has_gps boolean"
        ),
    )


def _tiff_unpackbits(data: bytes, expected: int) -> bytes:
    """Apple PackBits decompression (TIFF 6.0 §9): n in 0..127 →
    copy n+1 literal bytes; n in -127..-1 → repeat next byte 1-n
    times; -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes((data[i],)) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError("TIFF: PackBits stream truncated")
    return bytes(out[:expected])


@_codec_quarantine
def decode_tiff(content: bytes):
    """Baseline TIFF → (width, height, HxWx3 uint8 RGB) with NO codec
    library — IFD walk in either byte order (II/MM), strip assembly,
    uncompressed (1) and PackBits (32773) codecs, photometric 0/1
    (gray, incl. min-is-white inversion), 2 (RGB) and 3 (palette,
    16-bit color map scaled down), 8-bit samples, chunky planar
    config.  The document-scan format of record — multi-page files
    decode their FIRST page (the frame_sample convention).  Anything
    outside that envelope (16-bit, tiled, LZW/JPEG-in-TIFF) raises
    ValueError — quarantine/decode_real upstream, don't guess."""
    import struct

    import numpy as np

    if content[:4] == b"II*\x00":
        bo = "<"
    elif content[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF (II*/MM* magic)")
    try:
        (ifd_off,) = struct.unpack_from(bo + "I", content, 4)
        (n_entries,) = struct.unpack_from(bo + "H", content, ifd_off)
    except struct.error as e:
        raise ValueError(f"TIFF: truncated header/IFD ({e})") from e
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        try:
            tag, typ, cnt = struct.unpack_from(
                bo + "HHI", content, ifd_off + 2 + i * 12
            )
        except struct.error as e:
            # an IFD whose entry count overruns the payload must
            # quarantine (r15 decoder-contract fuzz)
            raise ValueError(f"TIFF: truncated IFD entry ({e})") from e
        voff = ifd_off + 2 + i * 12 + 8
        size = type_size.get(typ, 0) * cnt
        if size == 0:
            continue
        if size > 4:
            (voff,) = struct.unpack_from(bo + "I", content, voff)
        fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
        if fmt is None:
            if typ == 5:  # RATIONAL — resolution tags; keep numerators
                vals = [
                    struct.unpack_from(bo + "II", content, voff + 8 * k)[0]
                    for k in range(cnt)
                ]
            else:
                continue
        else:
            vals = list(
                struct.unpack_from(bo + str(cnt) + fmt, content, voff)
            )
        tags[tag] = vals
    try:
        w = tags[256][0]
        h = tags[257][0]
        offsets = tags[273]
        counts = tags[279]
    except KeyError as e:
        raise ValueError(f"TIFF: missing required tag {e}")
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    spp = tags.get(277, [1])[0]
    bps = tags.get(258, [8] * spp)
    rows_per_strip = tags.get(278, [h])[0]
    planar = tags.get(284, [1])[0]
    if any(b != 8 for b in bps):
        raise ValueError(f"unsupported TIFF (bits per sample {bps})")
    if comp not in (1, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    if planar != 1:
        raise ValueError("unsupported TIFF planar configuration")
    if photo not in (0, 1, 2, 3):
        raise ValueError(f"unsupported TIFF photometric {photo}")
    raw = bytearray()
    remaining_rows = h
    for off, cnt in zip(offsets, counts):
        strip_rows = min(rows_per_strip, remaining_rows)
        expected = strip_rows * w * spp
        chunk = content[off : off + cnt]
        raw += (
            _tiff_unpackbits(chunk, expected) if comp == 32773 else chunk
        )
        remaining_rows -= strip_rows
    if len(raw) < h * w * spp:
        raise ValueError("TIFF: strip data short of image size")
    px = np.frombuffer(bytes(raw[: h * w * spp]), dtype=np.uint8).reshape(
        h, w, spp
    )
    if photo == 2:
        if spp < 3:
            raise ValueError("TIFF: RGB photometric needs >= 3 samples")
        img = px[:, :, :3]  # extra samples (alpha) dropped, house rule
    elif photo == 3:
        cmap = tags.get(320)
        if cmap is None:
            raise ValueError("TIFF: palette image missing ColorMap")
        n = len(cmap) // 3
        pal = (
            np.array(cmap, dtype=np.uint16)
            .reshape(3, n)
            .T
            >> 8
        ).astype(np.uint8)
        img = pal[px[:, :, 0]]
    else:  # gray; photometric 0 = min-is-white
        g = px[:, :, 0]
        if photo == 0:
            g = 255 - g
        img = np.repeat(g[:, :, None], 3, axis=2)
    return w, h, np.ascontiguousarray(img)


def _tiff_packbits(data: bytes) -> bytes:
    """PackBits compression (runs ≥ 3 encoded as repeats, else
    literals ≤ 128 long) — the fixture-writer inverse of
    :func:`_tiff_unpackbits`."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes((257 - run, data[i]))
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out += bytes((i - lit_start - 1,)) + data[lit_start:i]
    return bytes(out)


def encode_tiff(pixels, packbits: bool = False) -> bytes:
    """HxWx3 uint8 → little-endian single-strip RGB TIFF (optionally
    PackBits-compressed) — the test/fixture writer proving
    :func:`decode_tiff` parses real IFDs and codecs."""
    import struct

    import numpy as np

    arr = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    h, w, _ = arr.shape
    data = arr.tobytes()
    comp = 1
    if packbits:
        data = b"".join(
            _tiff_packbits(arr[y].tobytes()) for y in range(h)
        )
        comp = 32773
    header = struct.pack("<2sHI", b"II", 42, 8)
    entries = [
        (256, 3, 1, w),
        (257, 3, 1, h),
        (259, 3, 1, comp),
        (262, 3, 1, 2),  # RGB
        (277, 3, 1, 3),
        (278, 3, 1, h),  # single strip
        (279, 4, 1, len(data)),
    ]
    # BitsPerSample needs 3 SHORTs (6 bytes > 4): external value
    ifd_off = 8
    n = len(entries) + 2  # + BitsPerSample + StripOffsets
    bits_off = ifd_off + 2 + n * 12 + 4
    data_off = bits_off + 6
    entries.append((258, 3, 3, None))  # placeholder, offset = bits_off
    entries.append((273, 4, 1, data_off))
    entries.sort()
    ifd = struct.pack("<H", n)
    for tag, typ, cnt, val in entries:
        if tag == 258:
            ifd += struct.pack("<HHII", tag, typ, cnt, bits_off)
        else:
            ifd += struct.pack("<HHII", tag, typ, cnt, val)
    ifd += struct.pack("<I", 0)  # no next IFD
    return (
        header + ifd + struct.pack("<HHH", 8, 8, 8) + data
    )


def stft_frame_features(
    content: bytes, frame_len: int = 512, hop: int = 512
):
    """Frame-level spectral features (r14 wave 6 — the audio analog
    of video frame-sampling: curation gates operate on FRAMES, not
    whole clips, to find silence runs, clipping bursts, or tone
    switches). Decode PCM WAV, mono mixdown, slice into
    ``frame_len``-sample frames every ``hop`` samples (tail frame
    dropped — a partial window has a different bin width and would
    poison closed-form oracles), rectangular window, one rFFT per
    frame, per frame: [rms, dominant_hz, centroid_hz] (power-weighted
    centroid, DC excluded — the q285 conventions). Returns
    (sample_rate, [(frame_idx, rms, dominant_hz, centroid_hz), ...]).
    Raises ValueError for non-PCM payloads (quarantine upstream)."""
    import numpy as np

    sr, _ch, x = decode_wav(content)
    mono = x.mean(axis=1)
    out = []
    n = len(mono)
    idx = 0
    start = 0
    while start + frame_len <= n:
        fr = mono[start : start + frame_len]
        spec = np.abs(np.fft.rfft(fr))
        power = spec * spec
        power[0] = 0.0  # DC excluded, as in wav_spectral_features
        binw = sr / frame_len
        dom = float(np.argmax(power) * binw)
        tot = float(power.sum())
        cen = (
            float((np.arange(len(power)) * binw * power).sum() / tot)
            if tot > 0
            else 0.0
        )
        rms = float(np.sqrt(np.mean(fr * fr)))
        out.append((idx, rms, dom, cen))
        idx += 1
        start += hop
    return sr, out


def audio_frame_features(
    df,
    id_col: str = "media_id",
    content_col: str = "content",
    frame_len: int = 512,
    hop: int = 512,
    max_frames: int | None = None,
):
    """Corpus-wide frame features: one output row per (clip, frame) —
    (id, frame_idx, sample_rate, rms, dominant_hz, centroid_hz).
    Arrow-batched mapInPandas riding the corpus scan (the codec-family
    shape); undecodable payloads quarantine as a single frame_idx=-1
    row; ``max_frames`` bounds per-clip work (the long-clip guard, as
    in decode_gif_frames)."""
    import struct

    import pandas as pd

    from pyspark.sql import functions as _F

    def batches(it):
        for pdf in it:
            ids, fidx, srs, rmss, doms, cens = [], [], [], [], [], []

            def add(mid, i, sr, rms, dom, cen):
                ids.append(mid)
                fidx.append(i)
                srs.append(sr)
                rmss.append(rms)
                doms.append(dom)
                cens.append(cen)

            for mid, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    sr, frames = stft_frame_features(
                        bytes(content), frame_len, hop
                    )
                except (ValueError, struct.error):
                    # struct.error (r14 advice): a crafted RIFF whose
                    # declared fmt size matches the body but is <16
                    # bytes makes struct.unpack_from raise past the
                    # ValueError guard — same quarantine row, never a
                    # dead Arrow batch.
                    add(mid, -1, None, None, None, None)
                    continue
                for i, rms, dom, cen in frames:
                    if max_frames is not None and i >= max_frames:
                        break
                    add(mid, i, sr, rms, dom, cen)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "sample_rate": pd.Series(srs, dtype="Int32"),
                    "rms": pd.Series(rmss, dtype="float64"),
                    "dominant_hz": pd.Series(doms, dtype="float64"),
                    "centroid_hz": pd.Series(cens, dtype="float64"),
                }
            )

    return df.select(id_col, content_col).mapInPandas(
        batches,
        schema=(
            "media_id long, frame_idx int, sample_rate int, "
            "rms double, dominant_hz double, centroid_hz double"
        ),
    )
