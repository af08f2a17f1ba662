"""Recover the RFC 6386 constant tables from the system libwebp and
(re)generate ``parquet_on_fhir_spark/operators/vp8_tables.py``.

The VP8 bitstream (RFC 6386) pins ~3 KB of normative constants — the
default token probabilities (§13.5), the token-update probabilities
(§13.4), the key-frame 4x4 mode probabilities (§11.5), the dequant
lookups (§14.1), the coefficient-band map (§13.3) and the zigzag scan
(§14.3). Transcribing them by hand is error-prone, so this tool locates
each table inside the system libwebp shared object (BSD-3-licensed
reference implementation; the values themselves are IETF spec
constants, not creative expression) via content anchors that are
structural properties of the tables, and emits them as Python data.

Verification is end-to-end, not provenance-based: a single wrong byte
in any probability table desynchronizes the boolean coder, so libwebp
decoding the fixture encoder's streams (tests/test_vp8_codec.py: exact
solid-color planes, random mode/coefficient frames) proves the
extracted values the encoder uses.  Run this tool with ``--check`` to
confirm the committed module still matches the system library.
"""

from __future__ import annotations

import struct
import sys
from pathlib import Path

LIB_CANDIDATES = [
    "/usr/lib/x86_64-linux-gnu/libwebp.so.7.1.5",
    "/usr/lib/x86_64-linux-gnu/libwebp.so.7",
]

OUT = Path(__file__).resolve().parent.parent / (
    "parquet_on_fhir_spark/operators/vp8_tables.py"
)


def _find_all(data: bytes, needle: bytes) -> list[int]:
    hits, pos = [], -1
    while True:
        pos = data.find(needle, pos + 1)
        if pos < 0:
            return hits
        hits.append(pos)


def _unique(data: bytes, needle: bytes, what: str, expect: int = 2) -> int:
    """Anchor must appear exactly ``expect`` times (decoder + encoder
    copies of the same spec constant); return the first."""
    hits = _find_all(data, needle)
    if len(hits) != expect:
        raise SystemExit(f"{what}: expected {expect} hits, got {hits}")
    return hits[0]


def extract(lib_path: str) -> dict:
    data = Path(lib_path).read_bytes()

    # Zigzag scan order (§14.3) — exact 16-byte content is itself the
    # anchor; it also starts the little run of cat3..6 extra-bit
    # probability tables (§13.2) that libwebp lays out right after it.
    zz = bytes([0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15])
    zz_pos = _find_all(data, zz)
    if not zz_pos:
        raise SystemExit("zigzag not found")
    cat6 = bytes([254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129])
    cat6_pos = _unique(data, cat6, "cat6")
    cat5 = list(data[cat6_pos + 12 : cat6_pos + 17])
    cat4 = list(data[cat6_pos + 18 : cat6_pos + 22])
    cat3 = list(data[cat6_pos + 23 : cat6_pos + 26])
    if cat5 != [180, 157, 141, 134, 130] or cat4 != [176, 155, 140, 135] \
            or cat3 != [173, 148, 140]:
        raise SystemExit(f"cat3/4/5 layout drifted: {cat3} {cat4} {cat5}")

    # AC dequant lookup (§14.1): uint16[128], monotone, starts 4,5,6,7,8,
    # ends 284.
    ac_anchor = struct.pack("<5H", 4, 5, 6, 7, 8)
    ac = None
    for pos in _find_all(data, ac_anchor):
        vals = struct.unpack_from("<128H", data, pos)
        if all(vals[i] <= vals[i + 1] for i in range(127)) and vals[-1] == 284:
            ac = list(vals)
            ac_pos = pos
            break
    if ac is None:
        raise SystemExit("ac_qlookup not found")

    # DC dequant lookup: uint8[128] immediately after the AC table in
    # libwebp's quant module, monotone, 4...157.
    dc = list(data[ac_pos + 256 : ac_pos + 256 + 128])
    if dc[:8] != [4, 5, 6, 7, 8, 9, 10, 10] or dc[-1] != 157 or any(
        dc[i] > dc[i + 1] for i in range(127)
    ):
        raise SystemExit(f"dc_qlookup layout drifted: {dc[:8]}...{dc[-3:]}")

    # Coefficient band map (§13.3): follows the dc table (16 used + 16
    # alignment bytes in libwebp).
    bands = list(data[ac_pos + 384 : ac_pos + 384 + 16])
    if bands != [0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7]:
        raise SystemExit(f"band map drifted: {bands}")

    # Key-frame 4x4 mode probabilities (§11.5): [10][10][9]; the
    # above=DC,left=DC row is the anchor.
    bmode_anchor = bytes([231, 120, 48, 89, 115, 113, 120, 152, 112])
    bmode_pos = _unique(data, bmode_anchor, "kf_bmode")
    bmode = list(data[bmode_pos : bmode_pos + 900])

    # Default token probabilities (§13.5): [4][8][3][11].  libwebp
    # fills the never-used type-0/band-0 rows with 128s, so the
    # distinctive {253,136,...} row is [0][1][0] and the table begins
    # 33 bytes (3 ctx rows) BEFORE it.  Verified differentially: with
    # the anchor itself as the start, libwebp misdecodes every
    # token-bearing fixture; with the -33 start, all fuzz frames
    # round-trip bit-exactly (tests/test_vp8_codec.py).
    coef_anchor = bytes([253, 136, 254, 255, 228, 219, 128, 128, 128, 128, 128])
    coef_pos = _unique(data, coef_anchor, "coeff_probs") - 33
    coef = list(data[coef_pos : coef_pos + 1056])
    if coef[:33] != [128] * 33:
        raise SystemExit("coeff probs: band-0 filler rows not found")
    upd = list(data[bmode_pos - 1056 : bmode_pos])
    if upd[:11] != [255] * 11:
        raise SystemExit(f"update probs head unexpected: {upd[:11]}")
    if min(upd) < 128:
        raise SystemExit("update probs contain a <128 byte — wrong region")

    return {
        "DC_QLOOKUP": dc,
        "AC_QLOOKUP": ac,
        "COEFF_BANDS": bands,
        "ZIGZAG": list(zz),
        "COEFF_PROBS": coef,
        "COEFF_UPDATE_PROBS": upd,
        "KF_BMODE_PROBS": bmode,
        "CAT_PROBS": [[159], [165, 145], cat3, cat4, cat5, list(cat6)],
    }


def render(tables: dict) -> str:
    def fmt(name, vals, per=16):
        rows = [
            ", ".join(str(v) for v in vals[i : i + per])
            for i in range(0, len(vals), per)
        ]
        body = "\n    ".join(rows[i] + ("," if i < len(rows) - 1 else "")
                             for i in range(len(rows)))
        return f"{name} = [\n    {body}\n]\n"

    parts = [
        '"""RFC 6386 (VP8) normative constant tables.\n\n'
        "Flat lists in bitstream order; see the section references in\n"
        "tools/extract_vp8_tables.py, which regenerates this module from\n"
        "the system libwebp (BSD-3) and verifies the layout anchors.\n"
        "Correctness is proven end-to-end by the differential decode\n"
        "tests (tests/test_vp8_codec.py): any wrong probability byte\n"
        "desynchronizes the boolean decoder.\n"
        'Generated file — edit the extractor, not this.\n"""\n\n'
    ]
    parts.append(fmt("DC_QLOOKUP", tables["DC_QLOOKUP"]))
    parts.append(fmt("AC_QLOOKUP", tables["AC_QLOOKUP"]))
    parts.append(fmt("COEFF_BANDS", tables["COEFF_BANDS"]))
    parts.append(fmt("ZIGZAG", tables["ZIGZAG"]))
    parts.append("# [4 block types][8 bands][3 contexts][11 probs], flattened\n")
    parts.append(fmt("COEFF_PROBS", tables["COEFF_PROBS"], per=11))
    parts.append(fmt("COEFF_UPDATE_PROBS", tables["COEFF_UPDATE_PROBS"], per=11))
    parts.append("# [10 above modes][10 left modes][9 probs], flattened\n")
    parts.append(fmt("KF_BMODE_PROBS", tables["KF_BMODE_PROBS"], per=9))
    parts.append(
        "# DCT extra-bit category probabilities, cat1..cat6 (§13.2)\n"
        f"CAT_PROBS = {tables['CAT_PROBS']!r}\n"
    )
    parts.append(
        "\n# Key-frame mode trees & probabilities (§11.3-§11.5); the tree\n"
        "# arrays are structural spec constants, written out directly.\n"
        "KF_YMODE_PROBS = [145, 156, 163, 128]\n"
        "KF_UV_PROBS = [142, 114, 183]\n"
    )
    return "".join(parts)


def main() -> None:
    check = "--check" in sys.argv
    lib = next((p for p in LIB_CANDIDATES if Path(p).exists()), None)
    if lib is None:
        raise SystemExit("system libwebp not found")
    tables = extract(lib)
    text = render(tables)
    if check:
        current = OUT.read_text()
        if current != text:
            raise SystemExit("vp8_tables.py DIFFERS from system libwebp")
        print("vp8_tables.py matches the system libwebp")
    else:
        OUT.write_text(text)
        print(f"wrote {OUT} ({len(text)} bytes)")


if __name__ == "__main__":
    main()
