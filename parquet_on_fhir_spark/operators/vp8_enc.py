"""Minimal VP8 key-frame encoder — RFC 6386 §8 (bool encoder) + §9-§14
(key-frame syntax). Two jobs:

1. **Fixture encoder** for the lossy-WebP real-decode query: encodes
   solid-color frames EXACTLY (16x16 DC prediction + a DC-only
   residual in the first macroblock whose dequantized inverse
   reconstructs the target value bit-perfectly — the q284 exactness
   lever, lossy edition).
2. **Fuzz generator**: writes arbitrary (mode, coefficient) assignments
   as valid streams that exercise every token/category/context path
   of the decoder (the system libwebp, operators/webp.py).

Only what a key frame needs is implemented: no segmentation update,
no prob updates, configurable token partitions and loop-filter
header fields. The system libwebp decoding our output to the expected
pixels is the proof the bitstream writer is spec-true.
"""

from __future__ import annotations

import numpy as np

from parquet_on_fhir_spark.operators.vp8_tables import (
    AC_QLOOKUP,
    CAT_PROBS,
    COEFF_BANDS,
    COEFF_PROBS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    KF_BMODE_PROBS,
    KF_UV_PROBS,
    KF_YMODE_PROBS,
    ZIGZAG,
)

_CAT_BASE = [5, 7, 11, 19, 35, 67]
_CAT_BITS = [1, 2, 3, 4, 5, 11]


class BoolEncoder:
    """RFC 6386 §8.3, with libvpx's stop convention (32 trailing
    zero-bits flush every meaningful bit of ``bottom``)."""

    def __init__(self):
        self.range = 255
        self.bottom = 0
        self.bit_count = 24
        self.out = bytearray()

    def put(self, prob: int, bit: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.bottom += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.bottom & (1 << 31):
                # carry propagation into already-emitted bytes
                i = len(self.out) - 1
                while self.out[i] == 255:
                    self.out[i] = 0
                    i -= 1
                self.out[i] += 1
                self.bottom &= (1 << 31) - 1
            self.bottom <<= 1
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= (1 << 24) - 1
                self.bit_count = 8

    def literal(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put(128, (value >> i) & 1)

    def flagged_signed(self, v: int, n: int) -> None:
        if v == 0:
            self.put(128, 0)
            return
        self.put(128, 1)
        self.literal(abs(v), n)
        self.put(128, 1 if v < 0 else 0)

    def stop(self) -> bytes:
        for _ in range(32):
            self.put(128, 0)
        return bytes(self.out)


def _put_tree_ymode(be, mode):
    p = KF_YMODE_PROBS
    if mode == 4:  # B_PRED
        be.put(p[0], 0)
        return
    be.put(p[0], 1)
    if mode in (0, 1):  # DC / V
        be.put(p[1], 0)
        be.put(p[2], mode)
    else:  # H / TM
        be.put(p[1], 1)
        be.put(p[3], mode - 2)


def _put_tree_uv(be, mode):
    p = KF_UV_PROBS
    if mode == 0:
        be.put(p[0], 0)
        return
    be.put(p[0], 1)
    if mode == 1:
        be.put(p[1], 0)
        return
    be.put(p[1], 1)
    be.put(p[2], mode - 2)


# bmode tree paths: mode -> [(prob_index, bit), ...]; numbering per
# §11.5 (DC,TM,VE,HE,RD,VR,LD,VL,HD,HU — RD/VR/LD order verified
# against libwebp, the values index KF_BMODE_PROBS)
_BMODE_PATH = {
    0: [(0, 0)],
    1: [(0, 1), (1, 0)],
    2: [(0, 1), (1, 1), (2, 0)],
    3: [(0, 1), (1, 1), (2, 1), (3, 0), (4, 0)],
    4: [(0, 1), (1, 1), (2, 1), (3, 0), (4, 1), (5, 0)],
    5: [(0, 1), (1, 1), (2, 1), (3, 0), (4, 1), (5, 1)],
    6: [(0, 1), (1, 1), (2, 1), (3, 1), (6, 0)],
    7: [(0, 1), (1, 1), (2, 1), (3, 1), (6, 1), (7, 0)],
    8: [(0, 1), (1, 1), (2, 1), (3, 1), (6, 1), (7, 1), (8, 0)],
    9: [(0, 1), (1, 1), (2, 1), (3, 1), (6, 1), (7, 1), (8, 1)],
}

_IMPLIED_B = {0: 0, 1: 2, 2: 3, 3: 1}


def _put_coeffs(be, probs, blk_type, first, ctx, levels):
    """Token-encode ``levels`` (list of signed quantized levels in
    zigzag order positions first..15; trailing zeros trimmed to EOB)."""
    last = -1
    for i, v in enumerate(levels):
        if v:
            last = i
    n = first
    base = ((blk_type * 8 + COEFF_BANDS[n]) * 3 + ctx) * 11
    skip_eob = False
    i = 0
    while n < 16:
        if i > last:
            if not skip_eob:
                be.put(probs[base + 0], 0)
            break
        v = levels[i]
        if not skip_eob:
            be.put(probs[base + 0], 1)
        a = abs(v)
        if a == 0:
            be.put(probs[base + 1], 0)
            nctx = 0
            skip_eob = True
        else:
            be.put(probs[base + 1], 1)
            if a == 1:
                be.put(probs[base + 2], 0)
                nctx = 1
            else:
                be.put(probs[base + 2], 1)
                nctx = 2
                if a <= 4:
                    be.put(probs[base + 3], 0)
                    if a == 2:
                        be.put(probs[base + 4], 0)
                    else:
                        be.put(probs[base + 4], 1)
                        be.put(probs[base + 5], a - 3)
                else:
                    be.put(probs[base + 3], 1)
                    cat = next(
                        c for c in range(5, -1, -1)
                        if a >= _CAT_BASE[c]
                    )
                    if cat == 0:
                        be.put(probs[base + 6], 0)
                        be.put(probs[base + 7], 0)
                    elif cat == 1:
                        be.put(probs[base + 6], 0)
                        be.put(probs[base + 7], 1)
                    elif cat == 2:
                        be.put(probs[base + 6], 1)
                        be.put(probs[base + 8], 0)
                        be.put(probs[base + 9], 0)
                    elif cat == 3:
                        be.put(probs[base + 6], 1)
                        be.put(probs[base + 8], 0)
                        be.put(probs[base + 9], 1)
                    elif cat == 4:
                        be.put(probs[base + 6], 1)
                        be.put(probs[base + 8], 1)
                        be.put(probs[base + 10], 0)
                    else:
                        be.put(probs[base + 6], 1)
                        be.put(probs[base + 8], 1)
                        be.put(probs[base + 10], 1)
                    extra = a - _CAT_BASE[cat]
                    for bi in range(_CAT_BITS[cat] - 1, -1, -1):
                        be.put(CAT_PROBS[cat][_CAT_BITS[cat] - 1 - bi],
                               (extra >> bi) & 1)
            be.put(128, 1 if v < 0 else 0)
            skip_eob = False
        n += 1
        i += 1
        if n >= 16:
            break
        base = ((blk_type * 8 + COEFF_BANDS[n]) * 3 + nctx) * 11


class MB:
    """One macroblock's encode decision: 16x16/uv modes (or B_PRED with
    16 submodes) + quantized coefficient levels (zigzag order)."""

    def __init__(self, ymode=0, uvmode=0, submodes=None,
                 y2=None, y=None, u=None, v=None, skip=None):
        self.ymode = ymode
        self.uvmode = uvmode
        self.submodes = submodes or [0] * 16
        self.y2 = y2 or [0] * 16
        self.y = y or [[0] * 16 for _ in range(16)]
        self.u = u or [[0] * 16 for _ in range(4)]
        self.v = v or [[0] * 16 for _ in range(4)]
        if skip is None:
            has = any(self.y2) or any(
                any(b) for b in (self.y + self.u + self.v)
            )
            skip = not has
        self.skip = skip


def encode_vp8_frame(width, height, mbs, *, y_ac_qi=0, y_dc_delta=0,
                     y2_dc_delta=0, y2_ac_delta=0, uv_dc_delta=0,
                     uv_ac_delta=0, filter_type=0, filter_level=0,
                     sharpness=0, n_parts=1):
    """Serialize a key frame from per-MB decisions (raster list of
    lists of :class:`MB`). Returns the VP8 chunk payload.

    ``n_parts`` ∈ {1, 2, 4, 8} splits the token stream into multiple
    partitions (§9.5: MB row r goes to partition r mod n_parts, sizes
    as 3-byte LE trailers after partition 1) — real-world encoders use
    this for decode parallelism, so the fuzz must cover it."""
    mb_h = len(mbs)
    mb_w = len(mbs[0])
    assert mb_w == (width + 15) // 16 and mb_h == (height + 15) // 16
    if n_parts not in (1, 2, 4, 8):
        raise ValueError("n_parts must be 1, 2, 4 or 8")

    # ---- partition 1: frame header + MB modes -----------------------------
    be = BoolEncoder()
    be.put(128, 0)  # color_space
    be.put(128, 0)  # clamping
    be.put(128, 0)  # segmentation_enabled
    be.put(128, filter_type & 1)
    be.literal(filter_level, 6)
    be.literal(sharpness, 3)
    be.put(128, 0)  # lf_delta_enabled
    be.literal({1: 0, 2: 1, 4: 2, 8: 3}[n_parts], 2)
    be.literal(y_ac_qi, 7)
    be.flagged_signed(y_dc_delta, 4)
    be.flagged_signed(y2_dc_delta, 4)
    be.flagged_signed(y2_ac_delta, 4)
    be.flagged_signed(uv_dc_delta, 4)
    be.flagged_signed(uv_ac_delta, 4)
    be.put(128, 1)  # refresh_entropy_probs
    for i in range(1056):
        be.put(COEFF_UPDATE_PROBS[i], 0)  # no prob updates
    be.put(128, 1)  # mb_no_skip_coeff: transmit per-MB skip flag
    be.literal(128, 8)  # skip prob

    above_sub = [[0] * 4 for _ in range(mb_w)]
    for mby in range(mb_h):
        left_sub = [0] * 4
        for mbx in range(mb_w):
            mb = mbs[mby][mbx]
            be.put(128, 1 if mb.skip else 0)
            _put_tree_ymode(be, mb.ymode)
            if mb.ymode == 4:  # B_PRED
                sub = mb.submodes
                for r in range(4):
                    for c in range(4):
                        a = above_sub[mbx][c] if r == 0 else sub[(r - 1) * 4 + c]
                        le = left_sub[r] if c == 0 else sub[r * 4 + c - 1]
                        base = (a * 10 + le) * 9
                        for pi, bit in _BMODE_PATH[sub[r * 4 + c]]:
                            be.put(KF_BMODE_PROBS[base + pi], bit)
                for r in range(4):
                    left_sub[r] = sub[r * 4 + 3]
                above_sub[mbx] = list(sub[12:16])
            else:
                ib = _IMPLIED_B[mb.ymode]
                left_sub = [ib] * 4
                above_sub[mbx] = [ib] * 4
            _put_tree_uv(be, mb.uvmode)
    part1 = be.stop()

    # ---- token partitions (row r -> partition r mod n_parts) --------------
    tes = [BoolEncoder() for _ in range(n_parts)]
    above_nz = [[0] * 9 for _ in range(mb_w)]
    for mby in range(mb_h):
        te = tes[mby % n_parts]
        left_nz = [0] * 9
        for mbx in range(mb_w):
            mb = mbs[mby][mbx]
            a = above_nz[mbx]
            if mb.skip:
                for i in range(8):
                    a[i] = 0
                    left_nz[i] = 0
                if mb.ymode != 4:
                    a[8] = 0
                    left_nz[8] = 0
                continue
            if mb.ymode != 4:
                ctx = a[8] + left_nz[8]
                _put_coeffs(te, COEFF_PROBS, 1, 0, ctx, mb.y2)
                nz = int(any(mb.y2))
                a[8] = left_nz[8] = nz
                ytype, first = 0, 1
            else:
                ytype, first = 3, 0
            for r in range(4):
                for c in range(4):
                    levels = mb.y[r * 4 + c][first:]
                    ctx = a[c] + left_nz[r]
                    _put_coeffs(te, COEFF_PROBS, ytype, first, ctx, levels)
                    nzb = int(any(levels))
                    a[c] = left_nz[r] = nzb
            for pi, blocks in ((4, mb.u), (6, mb.v)):
                for r in range(2):
                    for c in range(2):
                        ctx = a[pi + c] + left_nz[pi + r]
                        _put_coeffs(te, COEFF_PROBS, 2, 0, ctx,
                                    blocks[r * 2 + c])
                        nzb = int(any(blocks[r * 2 + c]))
                        a[pi + c] = left_nz[pi + r] = nzb
    parts = [te.stop() for te in tes]
    # sizes of all but the last partition trail partition 1 (§9.5)
    sizes = b"".join(len(p).to_bytes(3, "little") for p in parts[:-1])

    tag = (len(part1) << 5) | (1 << 4) | 0  # show_frame, key frame
    hdr = bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF])
    hdr += b"\x9d\x01\x2a"
    hdr += bytes([width & 0xFF, (width >> 8) & 0x3F])
    hdr += bytes([height & 0xFF, (height >> 8) & 0x3F])
    return hdr + part1 + sizes + b"".join(parts)


def wrap_webp(vp8_payload: bytes) -> bytes:
    chunk = b"VP8 " + len(vp8_payload).to_bytes(4, "little") + vp8_payload
    if len(vp8_payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _dc_level_for(target: int, dcq: int, y2: bool, y2dcq: int = 0):
    """Quantized DC level whose decode-side inverse reproduces a
    constant residual ``target`` on all 16 pixels, or None.

    Direct path: pixel = (L*dcq + 4) >> 3.
    Y2 path: subblock DC = (L*y2dcq + 3) >> 3, pixel = (DC + 4) >> 3.
    """
    for L in range(-2047, 2048):
        if y2:
            dc = (L * y2dcq + 3) >> 3
            px = (dc + 4) >> 3
        else:
            px = (L * dcq + 4) >> 3
        if px == target:
            return L
    return None


def encode_webp_solid(width, height, rgb):
    """Exact lossy-WebP for a solid RGB color: 16x16 DC prediction
    makes every MB after the first predict the reconstructed color, so
    only MB(0,0) carries residuals — a DC-only Y2 level and DC-only
    chroma levels picked so the integer inverse transforms land
    exactly on the target YUV values (verified representable for every
    RGB color at qindex 0). Returns (webp_bytes, (y, u, v))."""
    r, g, b = (int(x) for x in rgb)
    # libwebp's RGB->YUV (BT.601, fixed point) — the fixture's ground
    # truth so libwebp's own encoder agrees on solid inputs.
    y = (16839 * r + 33059 * g + 6420 * b + 0x8000 + (16 << 16)) >> 16
    u = (-9719 * r - 19081 * g + 28800 * b + 0x8000 + (128 << 16)) >> 16
    v = (28800 * r - 24116 * g - 4684 * b + 0x8000 + (128 << 16)) >> 16
    qi = 0
    y2dcq = DC_QLOOKUP[qi] * 2
    uvdcq = min(DC_QLOOKUP[qi], 132)
    mb_w, mb_h = (width + 15) // 16, (height + 15) // 16
    ly = _dc_level_for(y - 128, 0, True, y2dcq)
    lu = _dc_level_for(u - 128, uvdcq, False)
    lv = _dc_level_for(v - 128, uvdcq, False)
    if ly is None or lu is None or lv is None:
        raise ValueError(f"solid {rgb}: no exact DC level at qindex {qi}")
    mbs = []
    for mby in range(mb_h):
        row = []
        for mbx in range(mb_w):
            if mbx == 0 and mby == 0:
                y2 = [ly] + [0] * 15
                u4 = [[lu] + [0] * 15 for _ in range(4)]
                v4 = [[lv] + [0] * 15 for _ in range(4)]
                row.append(MB(ymode=0, uvmode=0, y2=y2, u=u4, v=v4))
            else:
                row.append(MB(ymode=0, uvmode=0))
        mbs.append(row)
    payload = encode_vp8_frame(width, height, mbs, y_ac_qi=qi)
    return wrap_webp(payload), (y, u, v)
