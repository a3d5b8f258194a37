"""Baseline JPEG codec in pure numpy — public-spec ITU T.81 (and the
T.871 color transform), no codec libraries.

Why this exists: the container ships no pillow/libjpeg, so compressed
image decode was an honest stub. Baseline sequential JPEG is fully
specified in public documents; this module implements the complete
pipeline both ways:

- **decode**: marker parse (DQT / DHT / SOF0 / SOS, tables read from
  the FILE, not assumed) → canonical Huffman decode (T.81 Annex C/F
  mincode/maxcode/valptr) with 0xFF00 byte-unstuffing → DC-prediction
  + amplitude EXTEND → dezigzag → dequantize → orthonormal 8x8 IDCT
  (one numpy matrix triple-product per block) → level shift + clamp →
  YCbCr→RGB (T.871 coefficients, rounding pinned to floor(x+0.5)).
- **encode**: the inverse chain with the Annex K example quantization
  and Huffman tables, 4:4:4 sampling (no subsampling), integer RGB→
  YCbCr (scaled-integer floor arithmetic, so the transform is exactly
  reproducible in SQL for the oracle).

Scope: baseline sequential (SOF0/1) AND progressive (SOF2 — spectral
selection + successive approximation per Annex G, both directions;
the AC-refinement correction-bit algorithm follows the public libjpeg
structure), 8-bit, 1 or 3 components, sampling factors 1/2/4 —
4:4:4, 4:2:2 and 4:2:0 all decode with pixel-replication chroma
upsample; restart intervals (DRI/RSTn); grayscale encoding; AND
LOSSLESS (SOF3, process 14 — predictive mod-2^16 differences, all 7
Annex H predictors, 2-16 bit precision, encode + decode via
encode/decode_lossless_jpeg); AND extended sequential with ARITHMETIC
entropy coding (SOF9/DAC, Annex D QM coder + Annex F statistical
models — encode via encode_sequential_arith_jpeg, decode through the
same decode_baseline_jpeg entry, restart intervals included); AND
progressive ARITHMETIC (SOF10 — the Annex G scan scripts QM-coded,
encode via encode_progressive_arith_jpeg); AND lossless ARITHMETIC
(SOF11, Annex H.2 — the H.1 predictors QM-coded under 25 (Da, Db)
two-dimensional conditioning contexts, encode/decode via
encode/decode_lossless_arith_jpeg); AND HIERARCHICAL (Annex J — DHP /
EXP pyramids with either SOF3 + SOF7 Huffman frames or SOF11 + SOF15
QM-coded arithmetic frames, encode/decode via
encode/decode_hierarchical_jpeg) — including DCT pyramids: an SOF1
extended-sequential base frame refined by SOF5 differential
sequential DCT frames (level shift omitted, PRED=0, closed-loop
residuals per Annex J.1.1.3 / F.1.1.5.1), with the QM-coded twin
(SOF9 base + SOF13 differential sequential DCT frames under the
Annex F statistical models — entropy="dct_arith"); AND 12-BIT extended
sequential (SOF1 with P=12, single-component, Pq=1 16-BIT
quantization tables per B.2.4.1, encode via
encode_extended_jpeg_gray12 with Huffman tables covering the 12-bit
DC/AC category range). Differential PROGRESSIVE frames
(SOF6/14) raise NotImplementedError — this is the dependency-free
exact-spec path that upgrades JPEG from header-only metadata to real
pixel decode.

Determinism contract (what makes the Spark queries oracle-able): every
rounding site is ``floor(x + 0.5)`` (never banker's rounding), the
RGB→YCbCr forward transform is pure integer arithmetic, and the
orthonormal IDCT of a DC-only block is exactly ``S00/8`` in IEEE
doubles — so for constant-color images the whole encode→decode chain
reduces to a closed-form integer/float expression DuckDB can replay
bit-for-bit (q_multimodal_jpeg).
"""

from __future__ import annotations

import struct

import numpy as np

from hw_kafka_streams_spark.operators.bitio import (
    CodecError,
    JpegBitReader,
    JpegBitWriter,
)

# ----------------------------------------------------------------- tables
# Annex K (informative) example tables of ITU T.81 — public spec text.

QUANT_LUM = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)
QUANT_CHROM = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# (BITS per code length 1..16, HUFFVAL) — Annex K typical tables
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# zigzag scan order: ZIGZAG[k] = (row, col) of the k-th coefficient
_zz = []
for s in range(15):
    idxs = [(i, s - i) for i in range(max(0, s - 7), min(8, s + 1))]
    _zz.extend(idxs if s % 2 else idxs[::-1])
ZIGZAG = _zz
_ZZ_ROWS = np.array([r for r, _ in ZIGZAG])
_ZZ_COLS = np.array([c for _, c in ZIGZAG])

# orthonormal 8x8 DCT-II matrix: dct = M @ block @ M.T
_M = np.zeros((8, 8))
for _i in range(8):
    for _j in range(8):
        _M[_i, _j] = np.cos((2 * _j + 1) * _i * np.pi / 16) * (
            np.sqrt(0.125) if _i == 0 else 0.5
        )
DCT_M = _M


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """floor(x + 0.5): the pinned rounding everywhere in this codec
    (np.round is banker's — NOT used; SQL floor(x+0.5) matches this)."""
    return np.floor(x + 0.5)


# ----------------------------------------------------------------- huffman


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman codes per T.81 Annex C: {value: (code, size)}."""
    sizes = []
    for length in range(1, 17):
        sizes.extend([length] * bits[length - 1])
    codes: dict[int, tuple[int, int]] = {}
    code, si = 0, sizes[0] if sizes else 0
    for v, s in zip(vals, sizes):
        while si < s:
            code <<= 1
            si += 1
        codes[v] = (code, s)
        code += 1
    return codes


class _HuffDecoder:
    """T.81 F.2.2.3 fast canonical decode: mincode/maxcode/valptr."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            code <<= 1

    def decode(self, br: JpegBitReader) -> int:
        code = br.bit()
        length = 1
        while code > self.maxcode[length]:
            length += 1
            if length > 16:
                raise ValueError("corrupt JPEG: huffman code over 16 bits")
            code = (code << 1) | br.bit()
        return self.vals[self.valptr[length] + code - self.mincode[length]]


def _sync_restart(br: JpegBitReader) -> None:
    """Consume an RSTn marker at a restart boundary: discard the
    current byte's remaining pad bits, then expect FFD0-FFD7."""
    br.align()  # restart markers are byte-aligned
    d, p = br.data, br.pos
    if p + 1 >= len(d) or d[p] != 0xFF or not 0xD0 <= d[p + 1] <= 0xD7:
        raise CodecError("corrupt JPEG: expected restart marker")
    br.pos = p + 2


def _extend(v: int, s: int) -> int:
    """T.81 F.12: map the s-bit amplitude to its signed value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


# ----------------------------------------------------------------- decode


def decode_baseline_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG to an (h, w, 3) uint8 RGB array (gray
    images are replicated to 3 channels).

    Raises NotImplementedError for progressive/arithmetic streams
    (honest scope), ValueError for corrupt data. Restart intervals
    (DRI/RSTn) and 4:2:0/4:2:2 subsampling are supported.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    frame = None  # (h, w, [(comp_id, hs, vs, qtab_id)])
    comp_tables = {}  # comp_id -> (dc_id, ac_id)
    precision = 8  # SOF sample precision (8, or 12 for SOF1 gray)
    dri = 0  # restart interval in MCUs (0 = none)
    arith = False  # SOF9: arithmetic entropy coding
    dc_cond: dict[int, tuple[int, int]] = {}  # DAC: tbl -> (L, U)
    ac_cond: dict[int, int] = {}  # DAC: tbl -> Kx
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                tab = np.zeros((8, 8), dtype=np.int32)
                if pq == 1:  # Pq=1: 16-bit big-endian entries (B.2.4.1)
                    for k in range(64):
                        tab[ZIGZAG[k]] = (
                            seg[p + 1 + 2 * k] << 8
                        ) | seg[p + 2 + 2 * k]
                    p += 129
                else:
                    for k in range(64):
                        tab[ZIGZAG[k]] = seg[p + 1 + k]
                    p += 65
                qtables[tq] = tab
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                dec = _HuffDecoder(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = dec
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC9):  # SOF0/1 baseline, SOF9 arith
            arith = marker == 0xC9
            precision = seg[0]
            if precision not in (8, 12):
                raise NotImplementedError(
                    f"{precision}-bit DCT sample precision"
                )
            if precision == 12 and marker != 0xC1:
                raise NotImplementedError(
                    "12-bit samples only in extended sequential "
                    "Huffman frames (SOF1) here"
                )
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if precision == 12 and ncomp != 1:
                raise NotImplementedError(
                    "12-bit extended sequential: single-component "
                    "(grayscale) scans only"
                )
            comps = []
            for c in range(ncomp):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                hs, vs = samp >> 4, samp & 0xF
                if hs not in (1, 2, 4) or vs not in (1, 2, 4):
                    raise NotImplementedError(
                        f"sampling factors {hs}x{vs} (1/2/4 supported)"
                    )
                comps.append((cid, hs, vs, tq))
            frame = (h, w, comps)
        elif marker == 0xC2:  # SOF2: progressive DCT, Huffman
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                hs, vs = samp >> 4, samp & 0xF
                if hs not in (1, 2, 4) or vs not in (1, 2, 4):
                    raise NotImplementedError(
                        f"sampling factors {hs}x{vs} (1/2/4 supported)"
                    )
                comps.append((cid, hs, vs, tq))
            # hand the rest of the stream (starting at the next marker)
            # to the multi-scan progressive decoder
            return _decode_progressive(
                data, pos + seglen, (h, w, comps), qtables, huff_dc,
                huff_ac, dri,
            )
        elif marker == 0xC3:
            raise NotImplementedError(
                "lossless JPEG carries >8-bit planes — use "
                "decode_lossless_jpeg, which returns (plane, precision)"
            )
        elif marker == 0xCA:  # SOF10: progressive DCT, arithmetic
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                hs, vs = samp >> 4, samp & 0xF
                if hs not in (1, 2, 4) or vs not in (1, 2, 4):
                    raise NotImplementedError(
                        f"sampling factors {hs}x{vs} (1/2/4 supported)"
                    )
                comps.append((cid, hs, vs, tq))
            return _decode_progressive_arith(
                data, pos + seglen, (h, w, comps), qtables, dc_cond,
                ac_cond, dri,
            )
        elif marker == 0xCB:
            raise NotImplementedError(
                "lossless JPEG carries >8-bit planes — use "
                "decode_lossless_arith_jpeg, which returns "
                "(plane, precision)"
            )
        elif marker in (0xC7, 0xCF, 0xDE):
            raise NotImplementedError(
                "hierarchical JPEG — use decode_hierarchical_jpeg, "
                "which returns (plane, precision)"
            )
        elif marker in (0xC5, 0xC6, 0xCD, 0xCE):
            raise NotImplementedError(
                "differential DCT frames are only legal inside a "
                "hierarchical stream — use decode_hierarchical_jpeg "
                "(SOF5 supported there; SOF6/13/14 remain gated)"
            )
        elif marker == 0xCC:  # DAC: arithmetic conditioning (B.2.4.3)
            p = 0
            while p < len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 0xF
                cs = seg[p + 1]
                if tc == 0:
                    dc_cond[tb] = (cs & 0xF, cs >> 4)  # (L, U)
                else:
                    ac_cond[tb] = cs  # Kx
                p += 2
        elif marker == 0xDD:  # DRI: restart every N MCUs
            (dri,) = struct.unpack(">H", seg[0:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = seg[0]
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                comp_tables[cid] = (tabs >> 4, tabs & 0xF)
            pos = pos + seglen  # first entropy byte
            if arith:
                return _decode_scan_arith(
                    data, pos, frame, comp_tables, qtables, dc_cond,
                    ac_cond, dri,
                )
            return _decode_scan(
                data, pos, frame, comp_tables, qtables, huff_dc, huff_ac,
                dri, precision=precision,
            )
        pos += seglen
    raise ValueError("corrupt JPEG: no SOS marker")


def _decode_block(br, dc_dec, ac_dec, qtab, pred):
    """One 8x8 block: entropy decode → dezigzag → dequant → IDCT.
    Returns (pixels, new_dc_pred)."""
    dct = np.zeros(64)
    s = dc_dec.decode(br)
    pred += _extend(br.bits(s), s)
    dct[0] = pred
    k = 1
    while k < 64:
        rs = ac_dec.decode(br)
        r, size = rs >> 4, rs & 0xF
        if size == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("corrupt JPEG: AC index overflow")
        dct[k] = _extend(br.bits(size), size)
        k += 1
    blk = np.zeros((8, 8))
    blk[_ZZ_ROWS, _ZZ_COLS] = dct
    blk *= qtab
    # orthonormal IDCT with the DC term separated: dc/8 is an EXACT
    # binary operation, while routing it through the float matmul
    # picks up 1-ulp error (enough to flip a floor(x+0.5) at a .5
    # boundary). Flat blocks are thereby bit-reproducible — the
    # property the closed-form oracle (dc_roundtrip_value) relies on.
    dc0 = blk[0, 0]
    blk[0, 0] = 0.0
    return DCT_M.T @ blk @ DCT_M + dc0 / 8.0, pred


def _decode_scan(data, pos, frame, comp_tables, qtables, huff_dc, huff_ac,
                 dri=0, precision=8):
    if frame is None:
        raise ValueError("corrupt JPEG: SOS before SOF")
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    br = JpegBitReader(data, pos)
    # per-component plane at ITS OWN resolution (subsampled chroma
    # stays small until the upsample step)
    planes = [
        np.zeros((mcuy * vs * 8, mcux * hs * 8)) for _, hs, vs, _ in comps
    ]
    pred = [0] * len(comps)
    mcu_done = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_done and mcu_done % dri == 0:
                # T.81 restart: byte-align, consume RSTn, reset DC
                # predictions (each restart interval decodes
                # independently — the error-resilience point of DRI)
                _sync_restart(br)
                pred = [0] * len(comps)
            mcu_done += 1
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                dc_id, ac_id = comp_tables[cid]
                for vy in range(vs):
                    for vx in range(hs):
                        pix, pred[ci] = _decode_block(
                            br, huff_dc[dc_id], huff_ac[ac_id],
                            qtables[tq], pred[ci],
                        )
                        y0 = (my * vs + vy) * 8
                        x0 = (mx * hs + vx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
    return _planes_to_rgb(comps, planes, h, w, hmax, vmax, precision)


def _planes_to_rgb(comps, planes, h, w, hmax, vmax, precision=8) -> np.ndarray:
    """Shared decode tail (baseline + progressive): upsample, crop,
    level-shift, T.871 color transform with floor(x+0.5) rounding."""
    # nearest (pixel-replication) upsample of subsampled components to
    # full resolution, then crop — a spec-legal decoder choice, and
    # deterministic (libjpeg's default is triangular "fancy" upsampling;
    # replication matches our box-downsampling encoder)
    full = []
    for (cid, hs, vs, tq), p in zip(comps, planes):
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w])
    planes = full
    if len(comps) == 1:
        # level shift and clamp at the frame's declared precision:
        # 2^(P-1) / 2^P - 1 (T.81 A.3.1) — uint16 planes for P > 8
        shift = float(1 << (precision - 1))
        maxv = (1 << precision) - 1
        dt = np.uint8 if precision <= 8 else np.uint16
        y = np.clip(_round_half_up(planes[0] + shift), 0, maxv).astype(dt)
        return np.stack([y, y, y], axis=-1)
    # integer-pipeline decode (libjpeg-style): YCbCr planes are rounded
    # and clamped to 0..255 BEFORE the color transform, so the chain
    # matches dc_roundtrip_value's closed form exactly
    y, cb, cr = (
        np.clip(_round_half_up(p + 128.0), 0.0, 255.0) for p in planes
    )
    # T.871 inverse, rounding pinned to floor(x+0.5) — mirrored in SQL
    r = _round_half_up(y + 1.402 * (cr - 128.0))
    g = _round_half_up(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0))
    b = _round_half_up(y + 1.772 * (cb - 128.0))
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ----------------------------------------------------------------- encode


def _csize(v: int) -> int:
    """DC/AC category: bit length of |v| (0 for 0)."""
    return int(abs(v)).bit_length()


def rgb_to_ycbcr_int(rgb: np.ndarray) -> np.ndarray:
    """Integer T.871 forward transform — scaled-integer floor
    arithmetic, exactly reproducible in SQL:

        Y  = (29900·R + 58700·G + 11400·B + 50000) // 100000
        Cb = min(255, (12800000 − 16874·R − 33126·G + 50000·B + 50000) // 100000)
        Cr = min(255, (12800000 + 50000·R − 41869·G −  8131·B + 50000) // 100000)

    (numerators are provably non-negative, so floor == truncate and
    DuckDB's integer division matches).
    """
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    y = (29900 * r + 58700 * g + 11400 * b + 50000) // 100000
    cb = (12800000 - 16874 * r - 33126 * g + 50000 * b + 50000) // 100000
    cr = (12800000 + 50000 * r - 41869 * g - 8131 * b + 50000) // 100000
    return np.stack(
        [y, np.minimum(cb, 255), np.minimum(cr, 255)], axis=-1
    ).astype(np.int32)


def _write_seq_block(bw_: JpegBitWriter, zz: np.ndarray, pred: int,
                     dc_codes, ac_codes) -> int:
    """Huffman-write one QUANTIZED zigzag block (T.81 F.1.2): DC DIFF
    against ``pred`` (pass 0 in differential frames — F.1.1.5.1 pins
    PRED=0 there), then the AC run/size symbols with ZRL and EOB.
    Returns zz[0], the caller's next prediction."""
    diff = int(zz[0]) - pred
    s = _csize(diff)
    code, size = dc_codes[s]
    bw_.write(code, size)
    if s:
        bw_.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = max(np.nonzero(zz[1:])[0]) + 1 if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, size = ac_codes[0xF0]  # ZRL
            bw_.write(code, size)
            run -= 16
        s = _csize(v)
        code, size = ac_codes[(run << 4) | s]
        bw_.write(code, size)
        bw_.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, size = ac_codes[0x00]  # EOB
        bw_.write(code, size)
    return int(zz[0])


def _encode_block(bw_: JpegBitWriter, blk: np.ndarray, q: np.ndarray,
                  pred: int, dc_codes, ac_codes,
                  level: float = 128.0) -> int:
    # _quantize_block_zz keeps the exact-DC separation (S00 = sum/8);
    # see its docstring for the constant-block bit-exactness argument
    return _write_seq_block(
        bw_, _quantize_block_zz(blk, q, level), pred, dc_codes, ac_codes
    )


_SUBSAMPLING = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
}


def encode_baseline_jpeg(
    rgb: np.ndarray, subsampling: str = "444", restart_interval: int = 0
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline JPEG with the
    Annex K tables. ``subsampling``: "444" (full chroma), "422"
    (half horizontal), or "420" (half both — the web default). Chroma
    is box-averaged with floor(mean+0.5) (exact for the 2- and 4-pixel
    boxes, so still deterministic); edge blocks pad by replication."""
    h, w = rgb.shape[:2]
    factors = _SUBSAMPLING[subsampling]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    ycc = rgb_to_ycbcr_int(rgb).astype(np.float64)
    planes = []
    for ci, (hs, vs) in enumerate(factors):
        p = ycc[..., ci]
        if hs != hmax or vs != vmax:
            fy, fx = vmax // vs, hmax // hs
            ph = (h + fy - 1) // fy * fy
            pw = (w + fx - 1) // fx * fx
            pp = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            p = np.floor(
                pp.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3)) + 0.5
            )
        th_, tw_ = mcuy * vs * 8, mcux * hs * 8
        p = np.pad(
            p,
            ((0, th_ - p.shape[0]), (0, tw_ - p.shape[1])),
            mode="edge",
        )
        planes.append(p)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tq, tab in ((0, QUANT_LUM), (1, QUANT_CHROM)):
        zz = bytes(int(tab[ZIGZAG[k]]) for k in range(64))
        seg(0xDB, bytes([tq]) + zz)
    sof = b"\x08" + struct.pack(">HH", h, w) + b"\x03"
    for ci, (hs, vs) in enumerate(factors):
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    seg(0xC0, sof)
    for tc, th, bits, vals in (
        (0, 0, DC_LUM_BITS, DC_LUM_VALS),
        (1, 0, AC_LUM_BITS, AC_LUM_VALS),
        (0, 1, DC_CHROM_BITS, DC_CHROM_VALS),
        (1, 1, AC_CHROM_BITS, AC_CHROM_VALS),
    ):
        seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    seg(0xDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00")

    dc_l = _build_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_l = _build_codes(AC_LUM_BITS, AC_LUM_VALS)
    dc_c = _build_codes(DC_CHROM_BITS, DC_CHROM_VALS)
    ac_c = _build_codes(AC_CHROM_BITS, AC_CHROM_VALS)
    bw_ = JpegBitWriter()
    pred = [0, 0, 0]
    tabs = [(QUANT_LUM, dc_l, ac_l), (QUANT_CHROM, dc_c, ac_c),
            (QUANT_CHROM, dc_c, ac_c)]
    mcu_done, rst_n = 0, 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_done and mcu_done % restart_interval == 0:
                bw_.flush()  # markers are byte-aligned, never stuffed
                bw_.out.extend(bytes([0xFF, 0xD0 + rst_n % 8]))
                rst_n += 1
                pred = [0, 0, 0]
            mcu_done += 1
            for ci, (hs, vs) in enumerate(factors):
                q, dcc, acc_ = tabs[ci]
                for vy in range(vs):
                    for vx in range(hs):
                        y0 = (my * vs + vy) * 8
                        x0 = (mx * hs + vx) * 8
                        blk = planes[ci][y0 : y0 + 8, x0 : x0 + 8]
                        pred[ci] = _encode_block(
                            bw_, blk, q, pred[ci], dcc, acc_
                        )
    bw_.flush()
    out.extend(bw_.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


def dc_roundtrip_value(v: int, q00: int, precision: int = 8) -> int:
    """Closed form of encode→decode for one channel of a CONSTANT
    image (the oracle's arithmetic twin): DC = 8·(v−2^(P-1)), quantized
    floor(DC/q00 + 0.5), dequantized ·q00, IDCT'd /8, +2^(P-1),
    floor(+0.5), clamped to 0..2^P-1."""
    shift = 1 << (precision - 1)
    maxv = (1 << precision) - 1
    dcq = int(np.floor(8.0 * (v - shift) / q00 + 0.5))
    return int(
        min(maxv, max(0, np.floor(dcq * q00 / 8.0 + shift + 0.5)))
    )


def encode_baseline_jpeg_gray(gray: np.ndarray) -> bytes:
    """Encode an (h, w) uint8 grayscale array as a 1-component baseline
    JPEG (luminance tables only). decode_baseline_jpeg replicates the
    decoded plane to 3 channels, so gray images flow through the same
    downstream feature stages."""
    h, w = gray.shape[:2]
    bh, bw2 = (h + 7) // 8, (w + 7) // 8
    plane = np.pad(
        gray.astype(np.float64),
        ((0, bh * 8 - h), (0, bw2 * 8 - w)),
        mode="edge",
    )
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    zz = bytes(int(QUANT_LUM[ZIGZAG[k]]) for k in range(64))
    seg(0xDB, bytes([0]) + zz)
    seg(0xC0, b"\x08" + struct.pack(">HH", h, w) + b"\x01" + bytes([1, 0x11, 0]))
    for tc, th, bits, vals in (
        (0, 0, DC_LUM_BITS, DC_LUM_VALS),
        (1, 0, AC_LUM_BITS, AC_LUM_VALS),
    ):
        seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    seg(0xDA, b"\x01" + bytes([1, 0x00]) + b"\x00\x3f\x00")
    dc_l = _build_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_l = _build_codes(AC_LUM_BITS, AC_LUM_VALS)
    bw_ = JpegBitWriter()
    pred = 0
    for by in range(bh):
        for bx in range(bw2):
            blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            pred = _encode_block(bw_, blk, QUANT_LUM, pred, dc_l, ac_l)
    bw_.flush()
    out.extend(bw_.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


# Extended-sequential 12-bit Huffman tables (T.81 F.1.3 allows DC
# categories 0..16 and AC sizes 1..14 at 12-bit precision; Annex K's
# tables only cover 8-bit). Construction-simple valid canonical codes:
# all 17 DC categories at length 5 (Kraft 17/32, all-ones unused) and
# all 226 AC symbols (EOB, ZRL, (run,size) for size<=14) at length 8
# (Kraft 226/256, all-ones unused). Efficiency is irrelevant here —
# the tables exist to carry 12-bit streams, not to compress well.
DC_EXT12_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
DC_EXT12_VALS = list(range(17))
AC_EXT12_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
]
AC_EXT12_BITS = [0, 0, 0, 0, 0, 0, 0, len(AC_EXT12_VALS), 0, 0, 0, 0,
                 0, 0, 0, 0]

# 16-bit quantization table for the 12-bit path: Annex K luminance
# scaled x8 so the DCT range matches the 16x larger sample range and
# several entries exceed 255 — the stream NEEDS Pq=1 to carry it.
QUANT_LUM12 = QUANT_LUM * 8


def encode_extended_jpeg_gray12(gray: np.ndarray) -> bytes:
    """Encode an (h, w) 12-bit grayscale array (uint16, 0..4095) as an
    extended sequential Huffman JPEG (SOF1, P=12) with a Pq=1 16-bit
    quantization table (ITU T.81 B.2.4.1 Pq=1; F.1.3 extended
    sequential). decode_baseline_jpeg returns the uint16 plane
    replicated to 3 channels, clamped at 0..4095."""
    if gray.ndim != 2:
        raise ValueError("expected (h, w) grayscale")
    px = gray.astype(np.int64)
    if px.min() < 0 or px.max() > 4095:
        raise ValueError("12-bit samples must be 0..4095")
    h, w = px.shape
    bh, bw2 = (h + 7) // 8, (w + 7) // 8
    plane = np.pad(
        px.astype(np.float64),
        ((0, bh * 8 - h), (0, bw2 * 8 - w)),
        mode="edge",
    )
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    zz16 = b"".join(
        struct.pack(">H", int(QUANT_LUM12[ZIGZAG[k]])) for k in range(64)
    )
    seg(0xDB, bytes([0x10]) + zz16)  # Pq=1, Tq=0
    seg(
        0xC1,
        b"\x0c" + struct.pack(">HH", h, w) + b"\x01" + bytes([1, 0x11, 0]),
    )
    for tc, th, bits, vals in (
        (0, 0, DC_EXT12_BITS, DC_EXT12_VALS),
        (1, 0, AC_EXT12_BITS, AC_EXT12_VALS),
    ):
        seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    seg(0xDA, b"\x01" + bytes([1, 0x00]) + b"\x00\x3f\x00")
    dc_c = _build_codes(DC_EXT12_BITS, DC_EXT12_VALS)
    ac_c = _build_codes(AC_EXT12_BITS, AC_EXT12_VALS)
    bw_ = JpegBitWriter()
    pred = 0
    for by in range(bh):
        for bx in range(bw2):
            blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            pred = _encode_block(
                bw_, blk, QUANT_LUM12, pred, dc_c, ac_c, level=2048.0
            )
    bw_.flush()
    out.extend(bw_.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


# ----------------------------------------------------- progressive decode
# ITU T.81 Annex G: spectral selection + successive approximation. Scans
# accumulate QUANTIZED coefficients per block; dequant + IDCT run once at
# the end. The AC-refinement bit algorithm follows the public libjpeg
# structure (decode_mcu_AC_refine) — correction bits interleave with the
# zero-history run counts.


def _comp_geometry(frame):
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    geo = []
    for cid, hs, vs, tq in comps:
        cw = (w * hs + hmax - 1) // hmax
        ch = (h * vs + vmax - 1) // vmax
        nbx = (cw + 7) // 8   # non-interleaved block cols (T.81 A.2.2)
        nby = (ch + 7) // 8
        geo.append((mcux * hs, mcuy * vs, nbx, nby))
    return hmax, vmax, mcux, mcuy, geo


def _decode_progressive(data, pos, frame, qtables, huff_dc, huff_ac, dri):
    h, w, comps = frame
    hmax, vmax, mcux, mcuy, geo = _comp_geometry(frame)
    # zigzag-order int coefficient store per component, MCU-padded dims
    coefs = [
        np.zeros((pnby, pnbx, 64), dtype=np.int64)
        for (pnbx, pnby, _, _) in geo
    ]
    cid_to_ci = {c[0]: i for i, c in enumerate(comps)}
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI — all scans in
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT between scans
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                tab = np.zeros((8, 8), dtype=np.int32)
                if pq == 1:  # Pq=1: 16-bit big-endian entries
                    for k in range(64):
                        tab[ZIGZAG[k]] = (
                            seg[p + 1 + 2 * k] << 8
                        ) | seg[p + 2 + 2 * k]
                    p += 129
                else:
                    for k in range(64):
                        tab[ZIGZAG[k]] = seg[p + 1 + k]
                    p += 65
                qtables[tq] = tab
        elif marker == 0xC4:  # DHT between scans
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffDecoder(
                    bits, vals
                )
                p += 17 + n
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", seg[0:2])
        elif marker == 0xDA:  # one progressive scan
            ns = seg[0]
            scomps = []
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                scomps.append((cid_to_ci[cid], tabs >> 4, tabs & 0xF))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            pos = _prog_scan(
                data, pos + seglen, frame, geo, coefs, scomps, ss, se,
                ah, al, huff_dc, huff_ac, dri, mcux, mcuy,
            )
            continue
        pos += seglen
    # reconstruction: dequant + IDCT every stored block
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        pnbx, pnby = geo[ci][0], geo[ci][1]
        plane = np.zeros((pnby * 8, pnbx * 8))
        q = qtables[tq]
        for by in range(pnby):
            for bx in range(pnbx):
                zz = coefs[ci][by, bx].astype(np.float64)
                blk = np.zeros((8, 8))
                blk[_ZZ_ROWS, _ZZ_COLS] = zz
                blk *= q
                dc0 = blk[0, 0]
                blk[0, 0] = 0.0
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    DCT_M.T @ blk @ DCT_M + dc0 / 8.0
                )
        planes.append(plane)
    return _planes_to_rgb(comps, planes, h, w, hmax, vmax)


def _next_marker(data, pos):
    """First byte index of the next real marker (skips stuffed FF00 and
    RSTn, which belong to the entropy stream)."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF and data[pos + 1] not in (0x00,) and not (
            0xD0 <= data[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return len(data)


def _prog_scan(data, pos, frame, geo, coefs, scomps, ss, se, ah, al,
               huff_dc, huff_ac, dri, mcux, mcuy):
    """Decode one progressive scan; returns the stream position of the
    next marker. Restart intervals reset DC predictions and the EOB
    run (each interval decodes independently)."""
    br = JpegBitReader(data, pos)
    state = {"eobrun": 0}
    pred = {ci: 0 for ci, _, _ in scomps}
    h, w, comps = frame

    def maybe_restart(done):
        if dri and done and done % dri == 0:
            _sync_restart(br)
            state["eobrun"] = 0
            for k in pred:
                pred[k] = 0

    if ss == 0:  # DC scan (Se must be 0)
        if se != 0:
            raise ValueError("corrupt JPEG: DC scan with Se != 0")
        if len(scomps) > 1:  # interleaved MCU order
            done = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    maybe_restart(done)
                    done += 1
                    for ci, dc_id, _ in scomps:
                        _, hs, vs, _ = comps[ci]
                        for vy in range(vs):
                            for vx in range(hs):
                                by, bx = my * vs + vy, mx * hs + vx
                                _dc_unit(
                                    br, coefs[ci], by, bx, ah, al,
                                    huff_dc.get(dc_id), pred, ci,
                                )
        else:
            ci, dc_id, _ = scomps[0]
            _, _, nbx, nby = geo[ci]
            done = 0
            for by in range(nby):
                for bx in range(nbx):
                    maybe_restart(done)
                    done += 1
                    _dc_unit(
                        br, coefs[ci], by, bx, ah, al,
                        huff_dc.get(dc_id), pred, ci,
                    )
    else:  # AC scan: non-interleaved single component (T.81 G.1.1.1)
        if len(scomps) != 1:
            raise ValueError("corrupt JPEG: interleaved AC scan")
        ci, _, ac_id = scomps[0]
        ac = huff_ac[ac_id]
        _, _, nbx, nby = geo[ci]
        done = 0
        for by in range(nby):
            for bx in range(nbx):
                maybe_restart(done)
                done += 1
                blk = coefs[ci][by, bx]
                if ah == 0:
                    _ac_first_block(br, blk, ss, se, al, ac, state)
                else:
                    _ac_refine_block(br, blk, ss, se, al, ac, state)
    return _next_marker(data, br.pos)


def _dc_unit(br, coef, by, bx, ah, al, dc_dec, pred, ci):
    if ah == 0:  # first DC scan: diff-coded, shifted left by Al
        s = dc_dec.decode(br)
        pred[ci] += _extend(br.bits(s), s)
        coef[by, bx, 0] = pred[ci] << al
    else:  # refinement: one raw bit ORs in the Al-th magnitude bit
        if br.bit():
            coef[by, bx, 0] |= 1 << al


def _ac_first_block(br, blk, ss, se, al, ac, state):
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = ac.decode(br)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += br.bits(r)
            break
        k += r
        if k > se:
            raise ValueError("corrupt JPEG: AC index past Se")
        blk[k] = _extend(br.bits(s), s) * (1 << al)
        k += 1


def _ac_refine_block(br, blk, ss, se, al, ac, state):
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = ac.decode(br)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += br.bits(r)
                    break
                val = 0  # ZRL: pass 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("corrupt JPEG: refine size != 1")
                val = p1 if br.bit() else m1
            while k <= se:
                if blk[k] != 0:
                    # correction bit for an already-nonzero coefficient
                    if br.bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if k <= se and val:
                blk[k] = val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            if blk[k] != 0 and br.bit() and (blk[k] & p1) == 0:
                blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        state["eobrun"] -= 1


# ---------------------------------------------------- progressive encode
# Scan script: DC-first (Al=1) → AC-first bands per component (Al=1) →
# DC refinement → AC refinements (Al=0). Exercises spectral selection
# AND successive approximation in both directions; the entropy layer is
# round-trip tested at the COEFFICIENT level (encode scans → decode
# scans → exact int equality), independent of the DCT stage.


def _quantize_block_zz(
    blk: np.ndarray, q: np.ndarray, level: float = 128.0
) -> np.ndarray:
    """8x8 spatial block (0..2^P-1 floats) → 64 quantized zigzag coefs
    (same arithmetic as the baseline _encode_block). ``level`` is the
    T.81 A.3.1 level shift 2^(P-1) — 128 for 8-bit, 2048 for 12-bit."""
    b0 = blk - level
    dct = DCT_M @ b0 @ DCT_M.T
    dct[0, 0] = b0.sum() / 8.0
    qd = _round_half_up(dct / q).astype(np.int64)
    return qd[_ZZ_ROWS, _ZZ_COLS]


def _enc_dc_first(bw_, zz0, pred, ci, al, dc_codes):
    v = int(zz0) >> al  # T.81: DC point transform is an ARITHMETIC shift
    diff = v - pred[ci]
    pred[ci] = v
    s = _csize(diff)
    code, size = dc_codes[s]
    bw_.write(code, size)
    if s:
        bw_.write(diff if diff > 0 else diff + (1 << s) - 1, s)


def _enc_ac_first(bw_, zz, ss, se, al, ac_codes):
    run = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = (abs(v) >> al) * (1 if v >= 0 else -1)  # magnitude shift
        if t == 0:
            run += 1
            continue
        while run > 15:
            code, size = ac_codes[0xF0]
            bw_.write(code, size)
            run -= 16
        s = _csize(t)
        code, size = ac_codes[(run << 4) | s]
        bw_.write(code, size)
        bw_.write(t if t > 0 else t + (1 << s) - 1, s)
        run = 0
    if run > 0:  # trailing zeros → EOB (run length 1: symbol 0x00)
        code, size = ac_codes[0x00]
        bw_.write(code, size)


def _enc_ac_refine(bw_, zz, ss, se, al, ac_codes):
    """libjpeg encode_mcu_AC_refine structure, EOB runs of length 1."""
    absv = [(abs(int(zz[k])) >> al) for k in range(ss, se + 1)]
    eob = 0  # band-relative index AFTER the last newly-significant coef
    for i, t in enumerate(absv):
        if t == 1:
            eob = i + 1
    run = 0
    pending: list[int] = []  # buffered correction bits
    for i, t in enumerate(absv):
        if t == 0:
            run += 1
            continue
        while run > 15 and i < eob:
            code, size = ac_codes[0xF0]
            bw_.write(code, size)
            run -= 16
            for b in pending:
                bw_.write(b, 1)
            pending = []
        if t > 1:  # previously nonzero: just a correction bit
            pending.append(t & 1)
            continue
        # newly significant (magnitude exactly 1 at this precision)
        code, size = ac_codes[(run << 4) | 1]
        bw_.write(code, size)
        bw_.write(1 if int(zz[ss + i]) >= 0 else 0, 1)
        for b in pending:
            bw_.write(b, 1)
        pending = []
        run = 0
    if run > 0 or pending:
        code, size = ac_codes[0x00]  # EOB, run length 1
        bw_.write(code, size)
        for b in pending:
            bw_.write(b, 1)


def encode_progressive_jpeg(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a PROGRESSIVE JPEG
    (SOF2), 4:4:4, Annex K tables. Ten scans: interleaved DC first
    (Al=1), per-component AC-first bands (Y split 1-5/6-63, chroma
    1-63, Al=1), interleaved DC refinement, then the matching AC
    refinement scans (Al=0). Same quantized coefficients as the
    baseline encoder, so progressive and baseline decodes of the same
    image are pixel-identical."""
    h, w = rgb.shape[:2]
    nby, nbx = (h + 7) // 8, (w + 7) // 8
    ycc = rgb_to_ycbcr_int(rgb).astype(np.float64)
    coefs = []
    for ci in range(3):
        p = np.pad(
            ycc[..., ci],
            ((0, nby * 8 - h), (0, nbx * 8 - w)),
            mode="edge",
        )
        q = QUANT_LUM if ci == 0 else QUANT_CHROM
        cz = np.zeros((nby, nbx, 64), dtype=np.int64)
        for by in range(nby):
            for bx in range(nbx):
                cz[by, bx] = _quantize_block_zz(
                    p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], q
                )
        coefs.append(cz)

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tq, tab in ((0, QUANT_LUM), (1, QUANT_CHROM)):
        zzb = bytes(int(tab[ZIGZAG[k]]) for k in range(64))
        seg(0xDB, bytes([tq]) + zzb)
    sof = b"\x08" + struct.pack(">HH", h, w) + b"\x03"
    for ci in range(3):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    seg(0xC2, sof)  # SOF2: progressive
    for tc, th, bits, vals in (
        (0, 0, DC_LUM_BITS, DC_LUM_VALS),
        (1, 0, AC_LUM_BITS, AC_LUM_VALS),
        (0, 1, DC_CHROM_BITS, DC_CHROM_VALS),
        (1, 1, AC_CHROM_BITS, AC_CHROM_VALS),
    ):
        seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    dc_codes = [
        _build_codes(DC_LUM_BITS, DC_LUM_VALS),
        _build_codes(DC_CHROM_BITS, DC_CHROM_VALS),
    ]
    ac_codes = [
        _build_codes(AC_LUM_BITS, AC_LUM_VALS),
        _build_codes(AC_CHROM_BITS, AC_CHROM_VALS),
    ]

    def dc_scan(ah, al):
        # interleaved 3-component SOS header
        hdr = b"\x03"
        for ci in range(3):
            tsel = 0 if ci == 0 else 1
            hdr += bytes([ci + 1, tsel << 4])
        hdr += bytes([0, 0, (ah << 4) | al])
        seg(0xDA, hdr)
        bw_ = JpegBitWriter()
        pred = [0, 0, 0]
        for by in range(nby):
            for bx in range(nbx):
                for ci in range(3):
                    if ah == 0:
                        _enc_dc_first(
                            bw_, coefs[ci][by, bx, 0], pred, ci,
                            al, dc_codes[0 if ci == 0 else 1],
                        )
                    else:
                        bw_.write((int(coefs[ci][by, bx, 0]) >> al) & 1, 1)
        bw_.flush()
        out.extend(bw_.out)

    def ac_scan(ci, ss, se, ah, al):
        tsel = 0 if ci == 0 else 1
        hdr = b"\x01" + bytes([ci + 1, tsel]) + bytes([ss, se, (ah << 4) | al])
        seg(0xDA, hdr)
        bw_ = JpegBitWriter()
        enc = _enc_ac_first if ah == 0 else _enc_ac_refine
        for by in range(nby):
            for bx in range(nbx):
                enc(bw_, coefs[ci][by, bx], ss, se, al, ac_codes[tsel])
        bw_.flush()
        out.extend(bw_.out)

    dc_scan(0, 1)
    ac_scan(0, 1, 5, 0, 1)
    ac_scan(0, 6, 63, 0, 1)
    ac_scan(1, 1, 63, 0, 1)
    ac_scan(2, 1, 63, 0, 1)
    dc_scan(1, 0)
    ac_scan(0, 1, 5, 1, 0)
    ac_scan(0, 6, 63, 1, 0)
    ac_scan(1, 1, 63, 1, 0)
    ac_scan(2, 1, 63, 1, 0)
    out.extend(b"\xff\xd9")
    return bytes(out)


# ------------------------------------------------- lossless (SOF3)
# ITU T.81 process 14: predictive lossless JPEG, Huffman-coded
# prediction differences — the mode medical/archival pipelines still
# ship (DICOM transfer syntax 1.2.840.10008.1.2.4.70). No DCT, no
# quantization: bit-exact at 2-16 bit precision, so decoded pixel
# stats are arithmetic-oracle-able just like the FLAC/QOI codecs.

# Fixed diff-category table (categories 0-16; cat 16 = +32768 with no
# extra bits). Short codes on the small categories smooth images emit
# most; Kraft sum 0.745 < 1 guarantees the all-ones code stays
# unassigned as T.81 requires.
_LL_BITS = [0, 0, 5, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 0, 0]
_LL_VALS = list(range(17))


def _ll_predict(
    row: int, col: int, px: np.ndarray, predictor: int, default: int
) -> int:
    """T.81 H.1.2 prediction for sample (row, col) over the
    reconstructed plane ``px``: a=left, b=above, c=above-left. First
    sample uses the level default 2^(P-1); the rest of the first line
    predicts from a; the first column of later lines predicts from b."""
    if row == 0 and col == 0:
        return default
    if row == 0:
        return int(px[0, col - 1])
    if col == 0:
        return int(px[row - 1, 0])
    a = int(px[row, col - 1])
    b = int(px[row - 1, col])
    c = int(px[row - 1, col - 1])
    if predictor == 1:
        return a
    if predictor == 2:
        return b
    if predictor == 3:
        return c
    if predictor == 4:
        return a + b - c
    if predictor == 5:
        return a + ((b - c) >> 1)
    if predictor == 6:
        return b + ((a - c) >> 1)
    if predictor == 7:
        return (a + b) >> 1
    raise ValueError(f"predictor must be 1-7, got {predictor}")


def encode_lossless_jpeg(
    img: np.ndarray, predictor: int = 4, precision: int | None = None
) -> bytes:
    """Encode a 2-D grayscale array as a REAL lossless JPEG (SOF3).

    ``precision`` is the sample bit depth (2-16; default: 8 for uint8
    input, 16 otherwise). The predictor selector (1-7) travels in the
    SOS Ss field exactly as T.81 specifies; differences are coded
    modulo 2^16 through the DC-style Huffman category + extend-bits
    path the baseline codec already uses.
    """
    if img.ndim != 2:
        raise ValueError("encode_lossless_jpeg expects a 2-D gray array")
    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor must be 1-7, got {predictor}")
    if precision is None:
        precision = 8 if img.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2-16")
    px = img.astype(np.int64)
    if px.min() < 0 or px.max() >= (1 << precision):
        raise ValueError(f"sample out of range for {precision}-bit")
    h, w = px.shape
    default = 1 << (precision - 1)
    codes = _build_codes(_LL_BITS, _LL_VALS)

    out = bytearray(b"\xff\xd8")  # SOI
    # DHT: DC class 0, table 0
    dht = bytes([0x00]) + bytes(_LL_BITS) + bytes(_LL_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    # SOF3: precision, dims, 1 component, 1x1 sampling, (unused) qtab 0
    sof = struct.pack(">BHHB", precision, h, w, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xc3" + struct.pack(">H", 2 + len(sof)) + sof
    # SOS: 1 component -> DC table 0; Ss = predictor, Se = 0, AhAl = 0
    sos = bytes([1, 1, 0x00, predictor, 0, 0x00])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    bw = JpegBitWriter()
    for r in range(h):
        for cpos in range(w):
            pred = _ll_predict(r, cpos, px, predictor, default)
            d = (int(px[r, cpos]) - pred) & 0xFFFF
            if d > 32768:
                d -= 65536  # signed fold: d in [-32767, 32768]
            if d == 32768:
                code, size = codes[16]
                bw.write(code, size)  # category 16: no extra bits
                continue
            s = _csize(d)
            code, size = codes[s]
            bw.write(code, size)
            if s:
                bw.write(d if d >= 0 else d + (1 << s) - 1, s)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_lossless_jpeg(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a single-component lossless JPEG (SOF3, Huffman).

    Returns ``(plane, precision)`` — uint8 for precision <= 8, uint16
    above. Raises NotImplementedError for multi-component lossless
    scans (our fixtures are gray planes; color lossless interleaves
    one sample per component per MCU) and ValueError for corrupt data.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    huff: dict[int, _HuffDecoder] = {}
    frame = None
    predictor = pt = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xC4:  # DHT (DC class only matters here)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                if tc == 0:
                    huff[th] = _HuffDecoder(bits, vals)
                p += 17 + n
        elif marker == 0xDE:  # DHP: this is a hierarchical stream
            raise NotImplementedError(
                "hierarchical JPEG — use decode_hierarchical_jpeg "
                "(decoding only the base frame would be silently wrong)"
            )
        elif marker == 0xC3:  # SOF3
            precision = seg[0]
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if ncomp != 1:
                raise NotImplementedError(
                    "multi-component lossless scans unsupported"
                )
            frame = (precision, h, w)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF3")
            ns = seg[0]
            table = seg[2] >> 4
            predictor = seg[1 + 2 * ns]
            pt = seg[3 + 2 * ns] & 0xF
            if pt != 0:
                raise NotImplementedError("point transform unsupported")
            if not 1 <= predictor <= 7:
                raise ValueError(f"bad predictor selector {predictor}")
            precision, h, w = frame
            default = 1 << (precision - 1)
            dec = huff[table]
            br = JpegBitReader(data, pos + seglen)
            px = np.zeros((h, w), np.int64)
            for r in range(h):
                for cpos in range(w):
                    s = dec.decode(br)
                    if s == 16:
                        d = 32768  # category 16 carries no extra bits
                    else:
                        d = _extend(br.bits(s), s)
                    pred = _ll_predict(r, cpos, px, predictor, default)
                    px[r, cpos] = (pred + d) & 0xFFFF
            if px.max() >= (1 << precision):
                raise ValueError("decoded sample exceeds declared precision")
            dtype = np.uint8 if precision <= 8 else np.uint16
            return px.astype(dtype), precision
        pos += seglen
    raise ValueError("corrupt JPEG: no SOS marker")


# ------------------------------------------------- arithmetic (SOF9)
# ITU T.81 Annex F with the QM coder of Annex D (operators/qmcoder.py):
# extended sequential DCT, arithmetic entropy coding. The statistical
# models are the spec's: DC differences conditioned on the previous
# diff's category (5 classes picked by the DAC L/U parameters, Table
# F.4), AC coefficients conditioned on the zigzag index k with the Kx
# split into a low-/high-frequency magnitude table (Table F.5), signs
# of AC coefficients coded with the non-adaptive 0.5 state. The DCT /
# quantization stage is byte-for-byte the baseline encoder's
# (_quantize_block_zz), so an arithmetic stream decodes to EXACTLY the
# same pixels as the Huffman stream of the same image — the equality
# the tests assert.

from hw_kafka_streams_spark.operators import qmcoder as _qm  # noqa: E402

_DC_STAT_BINS = 64   # spec needs 49 (20 cond + 14 tree + 14 value + 1)
_AC_STAT_BINS = 256  # spec needs 245 (189 + 2 * (14 tree + 14 value))


def _fresh_stats(n: int) -> list:
    return [_qm.new_context() for _ in range(n)]


def _arith_code_dc(coder, st, dc_ctx, ci, diff, lu, decode):
    """Encode (decode=False) or decode (decode=True) one DC difference
    per F.1.4.1 / F.2.4.1. ``st`` is the table's DC statistics area,
    ``dc_ctx[ci]`` the conditioning base (0/4/8/12/16), ``lu`` the DAC
    (L, U) pair. Returns the diff."""
    low, up = lu
    base = dc_ctx[ci]
    if decode:
        if coder.decode(st[base]) == 0:
            dc_ctx[ci] = 0
            return 0
        sign = coder.decode(st[base + 1])
    else:
        if diff == 0:
            coder.encode(st[base], 0)
            dc_ctx[ci] = 0
            return 0
        coder.encode(st[base], 1)
        sign = 1 if diff < 0 else 0
        coder.encode(st[base + 1], sign)
    dc_ctx[ci] = 8 if sign else 4
    idx = base + (3 if sign else 2)  # SN / SP
    u = None if decode else abs(diff) - 1
    m = 0
    if decode:
        if coder.decode(st[idx]):
            m = 1
            idx = 20  # X1
            while coder.decode(st[idx]):
                m <<= 1
                idx += 1
                if m > 1 << 15:
                    raise ValueError("corrupt arith JPEG: DC magnitude")
        u = m
    else:
        if u:
            coder.encode(st[idx], 1)
            m = 1
            v2 = u
            idx = 20
            while v2 >> 1:
                v2 >>= 1
                coder.encode(st[idx], 1)
                m <<= 1
                idx += 1
        coder.encode(st[idx], 0)
    vbin = st[idx + 14]
    mm = m >> 1
    while mm:
        if decode:
            if coder.decode(vbin):
                u |= mm
        else:
            coder.encode(vbin, 1 if (u & mm) else 0)
        mm >>= 1
    # conditioning category for the NEXT block of this component
    if m < (1 << low) >> 1:
        dc_ctx[ci] = 0
    elif m > (1 << up) >> 1:
        dc_ctx[ci] += 8
    v = u + 1
    return -v if sign else v


def _arith_code_ac(coder, st, fixed, kx, zz, decode, ss=1, se=63, al=0):
    """Encode the AC coefficients of one zigzag block (decode=False)
    or decode them into ``zz`` in place (decode=True), per F.1.4.2 /
    F.2.4.2. Bins: 3 per zigzag index (EOB decision, zero/nonzero,
    shared SP/SN/X1), magnitude trees at 189 (k <= Kx) / 217.
    ``ss``/``se``/``al`` generalize to progressive spectral-selection
    first scans (G.1.3): values are point-transformed ``|v| >> al``
    and the band is [Ss, Se]; sequential coding is the (1, 63, 0)
    special case."""
    if decode:
        k = ss
        while k <= se:
            base = 3 * (k - 1)
            if coder.decode(st[base]):
                return  # EOB
            while coder.decode(st[base + 1]) == 0:
                k += 1
                if k > se:
                    raise ValueError("corrupt arith JPEG: AC run")
                base = 3 * (k - 1)
            sign = coder.decode(fixed)
            idx = base + 2
            m = 0
            if coder.decode(st[idx]):
                if coder.decode(st[idx]):
                    m = 2
                    idx = 189 if k <= kx else 217
                    while coder.decode(st[idx]):
                        m <<= 1
                        idx += 1
                        if m > 1 << 15:
                            raise ValueError(
                                "corrupt arith JPEG: AC magnitude"
                            )
                else:
                    m = 1
            u = m
            vbin = st[idx + 14]
            mm = m >> 1
            while mm:
                if coder.decode(vbin):
                    u |= mm
                mm >>= 1
            v = (u + 1) << al
            zz[k] = -v if sign else v
            k += 1
        return
    ke = ss - 1
    for j in range(se, ss - 1, -1):
        if abs(int(zz[j])) >> al:
            ke = j
            break
    k = ss
    while k <= ke:
        base = 3 * (k - 1)
        coder.encode(st[base], 0)  # not EOB yet
        v = abs(int(zz[k])) >> al
        sign = 1 if int(zz[k]) < 0 else 0
        while v == 0:
            coder.encode(st[base + 1], 0)
            k += 1
            base = 3 * (k - 1)
            v = abs(int(zz[k])) >> al
            sign = 1 if int(zz[k]) < 0 else 0
        coder.encode(st[base + 1], 1)
        coder.encode(fixed, sign)
        idx = base + 2
        u = v - 1
        m = 0
        if u:
            coder.encode(st[idx], 1)
            m = 1
            v2 = u
            if v2 >> 1:
                v2 >>= 1
                coder.encode(st[idx], 1)  # 2nd decision shares the bin
                m = 2
                idx = 189 if k <= kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    coder.encode(st[idx], 1)
                    m <<= 1
                    idx += 1
        coder.encode(st[idx], 0)
        vbin = st[idx + 14]
        mm = m >> 1
        while mm:
            coder.encode(vbin, 1 if (u & mm) else 0)
            mm >>= 1
        k += 1
    if ke < se:
        coder.encode(st[3 * ke], 1)  # EOB


def encode_sequential_arith_jpeg(
    rgb: np.ndarray, subsampling: str = "444", restart_interval: int = 0
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an arithmetic-coded
    extended sequential JPEG (SOF9, T.81 Annex F): same DQT stage as
    encode_baseline_jpeg, DAC conditioning defaults (L=0, U=1, Kx=5)
    written explicitly, luma on conditioning tables 0 / chroma on 1.
    ``restart_interval`` (MCUs) flushes the coder and re-initialises
    all statistics at each RSTn, per F.1.4.1.1."""
    h, w = rgb.shape[:2]
    factors = _SUBSAMPLING[subsampling]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    ycc = rgb_to_ycbcr_int(rgb).astype(np.float64)
    planes = []
    for ci, (hs, vs) in enumerate(factors):
        p = ycc[..., ci]
        if hs != hmax or vs != vmax:
            fy, fx = vmax // vs, hmax // hs
            ph = (h + fy - 1) // fy * fy
            pw = (w + fx - 1) // fx * fx
            pp = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            p = np.floor(
                pp.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3)) + 0.5
            )
        th_, tw_ = mcuy * vs * 8, mcux * hs * 8
        p = np.pad(
            p, ((0, th_ - p.shape[0]), (0, tw_ - p.shape[1])), mode="edge"
        )
        planes.append(p)

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tq, tab in ((0, QUANT_LUM), (1, QUANT_CHROM)):
        zzb = bytes(int(tab[ZIGZAG[k]]) for k in range(64))
        seg(0xDB, bytes([tq]) + zzb)
    sof = b"\x08" + struct.pack(">HH", h, w) + b"\x03"
    for ci, (hs, vs) in enumerate(factors):
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    seg(0xC9, sof)  # SOF9: extended sequential, arithmetic
    # DAC: DC tables 0/1 with (U=1, L=0), AC tables 0/1 with Kx=5
    seg(0xCC, bytes([0x00, 0x10, 0x01, 0x10, 0x10, 5, 0x11, 5]))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    seg(0xDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00")

    def fresh_state():
        return (
            _qm.QMEncoder(),
            _qm.fixed_context(),
            {0: _fresh_stats(_DC_STAT_BINS), 1: _fresh_stats(_DC_STAT_BINS)},
            {0: _fresh_stats(_AC_STAT_BINS), 1: _fresh_stats(_AC_STAT_BINS)},
            [0, 0, 0],
            [0, 0, 0],
        )

    enc, fixed, dc_stats, ac_stats, dc_ctx, pred = fresh_state()
    qtabs = [QUANT_LUM, QUANT_CHROM, QUANT_CHROM]
    mcu_done, rst_n = 0, 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (
                restart_interval and mcu_done
                and mcu_done % restart_interval == 0
            ):
                # close this interval's entropy segment, emit RSTn,
                # restart the coder with virgin statistics (F.1.4.1.1)
                out.extend(enc.flush())
                out.extend(bytes([0xFF, 0xD0 + rst_n % 8]))
                rst_n += 1
                enc, fixed, dc_stats, ac_stats, dc_ctx, pred = fresh_state()
            mcu_done += 1
            for ci, (hs, vs) in enumerate(factors):
                tbl = 0 if ci == 0 else 1
                for vy in range(vs):
                    for vx in range(hs):
                        y0 = (my * vs + vy) * 8
                        x0 = (mx * hs + vx) * 8
                        blk = planes[ci][y0 : y0 + 8, x0 : x0 + 8]
                        zz = _quantize_block_zz(blk, qtabs[ci])
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        _arith_code_dc(
                            enc, dc_stats[tbl], dc_ctx, ci, diff,
                            (0, 1), decode=False,
                        )
                        _arith_code_ac(
                            enc, ac_stats[tbl], fixed, 5, zz, decode=False
                        )
    out.extend(enc.flush())
    out.extend(b"\xff\xd9")
    return bytes(out)


def _decode_scan_arith(data, pos, frame, comp_tables, qtables, dc_cond,
                       ac_cond, dri=0):
    """Arithmetic-coded sequential scan (F.2): mirror of _decode_scan
    with the QM decoder in place of the Huffman bit reader. Restart
    markers re-initialise the coder, the statistics areas, the DC
    conditioning contexts and the predictions (F.2.1.3)."""
    if frame is None:
        raise ValueError("corrupt JPEG: SOS before SOF")
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    def fresh(start):
        dec = _qm.QMDecoder(data, start)
        return (
            dec,
            _qm.fixed_context(),
            {t: _fresh_stats(_DC_STAT_BINS) for t in range(4)},
            {t: _fresh_stats(_AC_STAT_BINS) for t in range(4)},
            [0] * len(comps),
            [0] * len(comps),
        )

    dec, fixed, dc_stats, ac_stats, dc_ctx, pred = fresh(pos)
    planes = [
        np.zeros((mcuy * vs * 8, mcux * hs * 8)) for _, hs, vs, _ in comps
    ]
    mcu_done = 0
    zz = np.zeros(64, dtype=np.int64)
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_done and mcu_done % dri == 0:
                # byte-aligned RSTn between restart intervals: the QM
                # decoder recorded where it hit the marker
                mp = dec.marker_pos
                if mp is None:
                    # decoder has not consumed up to the marker yet —
                    # scan forward for it (it must be the next marker)
                    mp = dec.pos
                    while mp + 1 < len(data) and not (
                        data[mp] == 0xFF and data[mp + 1] != 0x00
                    ):
                        mp += 1
                if not 0xD0 <= data[mp + 1] <= 0xD7:
                    raise ValueError("corrupt JPEG: expected RSTn")
                dec, fixed, dc_stats, ac_stats, dc_ctx, pred = fresh(mp + 2)
            mcu_done += 1
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                dc_id, ac_id = comp_tables[cid]
                lu = dc_cond.get(dc_id, (0, 1))
                kx = ac_cond.get(ac_id, 5)
                for vy in range(vs):
                    for vx in range(hs):
                        zz[:] = 0
                        diff = _arith_code_dc(
                            dec, dc_stats[dc_id], dc_ctx, ci, None, lu,
                            decode=True,
                        )
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        _arith_code_ac(
                            dec, ac_stats[ac_id], fixed, kx, zz,
                            decode=True,
                        )
                        blk = np.zeros((8, 8))
                        blk[_ZZ_ROWS, _ZZ_COLS] = zz
                        blk *= qtables[tq]
                        dc0 = blk[0, 0]
                        blk[0, 0] = 0.0
                        pix = DCT_M.T @ blk @ DCT_M + dc0 / 8.0
                        y0 = (my * vs + vy) * 8
                        x0 = (mx * hs + vx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
    return _planes_to_rgb(comps, planes, h, w, hmax, vmax)


# -------------------------------------- progressive arithmetic (SOF10)
# T.81 Annex G with arithmetic entropy coding: the same spectral-
# selection / successive-approximation scan scripts as SOF2, entropy-
# coded with the Annex D QM coder under the Annex F statistical models
# (first scans) and the G.1.3.3 correction-bit model (refinement
# scans). Statistics areas, DC conditioning contexts and the coder
# itself are re-initialised per scan (F.1.4.1.1) — every scan is an
# independent entropy-coded segment.


def _arith_code_ac_refine(coder, st, fixed, zz, decode, ss, se, al):
    """One block of an AC successive-approximation scan (G.1.3.3).
    Encode path needs the FULL-precision coefficients in ``zz`` (it
    derives both this stage's and the previous stage's visibility);
    decode path updates the accumulated coefficients in place. Bin
    layout matches the first-scan model: 3 per zigzag index — EOB
    decision, newly-nonzero decision, correction bit."""
    p1 = 1 << al
    if decode:
        kex = 0
        for j in range(se, ss - 1, -1):
            if zz[j]:
                kex = j
                break
        k = ss
        while k <= se:
            base = 3 * (k - 1)
            if k > kex:
                if coder.decode(st[base]):
                    return  # EOB
            while True:
                if zz[k]:  # previously nonzero: correction bit
                    if coder.decode(st[base + 2]):
                        zz[k] += -p1 if zz[k] < 0 else p1
                    break
                if coder.decode(st[base + 1]):  # newly nonzero
                    zz[k] = -p1 if coder.decode(fixed) else p1
                    break
                k += 1
                if k > se:
                    raise ValueError("corrupt arith JPEG: SA run")
                base = 3 * (k - 1)
            k += 1
        return
    # encoder: this stage's EOB index (|v| >> al nonzero) and the
    # previous stage's (|v| >> ah nonzero, ah = al + 1 here — T.81
    # requires Ah == Al + 1 in refinement scans)
    ah = al + 1
    ke = ss - 1
    for j in range(se, ss - 1, -1):
        if abs(int(zz[j])) >> al:
            ke = j
            break
    kex = ss - 1
    for j in range(ke, ss - 1, -1):
        if abs(int(zz[j])) >> ah:
            kex = j
            break
    k = ss
    while k <= ke:
        base = 3 * (k - 1)
        if k > kex:
            coder.encode(st[base], 0)  # not EOB yet
        while True:
            v = int(zz[k])
            t = abs(v) >> al
            if t:
                if t >> 1:  # previously nonzero: emit correction bit
                    coder.encode(st[base + 2], t & 1)
                else:  # newly nonzero at this stage: decision + sign
                    coder.encode(st[base + 1], 1)
                    coder.encode(fixed, 1 if v < 0 else 0)
                break
            coder.encode(st[base + 1], 0)
            k += 1
            base = 3 * (k - 1)
        k += 1
    if k <= se:
        coder.encode(st[3 * (k - 1)], 1)  # EOB


def encode_progressive_arith_jpeg(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a progressive
    ARITHMETIC-coded JPEG (SOF10): the same 10-scan spectral-selection
    + successive-approximation script as encode_progressive_jpeg, QM-
    coded. Quantized coefficients are shared with the baseline
    encoder, so all four entropy organizations (SOF0/SOF2/SOF9/SOF10)
    of the same image decode pixel-identically."""
    h, w = rgb.shape[:2]
    nby, nbx = (h + 7) // 8, (w + 7) // 8
    ycc = rgb_to_ycbcr_int(rgb).astype(np.float64)
    coefs = []
    for ci in range(3):
        p = np.pad(
            ycc[..., ci],
            ((0, nby * 8 - h), (0, nbx * 8 - w)),
            mode="edge",
        )
        q = QUANT_LUM if ci == 0 else QUANT_CHROM
        cz = np.zeros((nby, nbx, 64), dtype=np.int64)
        for by in range(nby):
            for bx in range(nbx):
                cz[by, bx] = _quantize_block_zz(
                    p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], q
                )
        coefs.append(cz)

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tq, tab in ((0, QUANT_LUM), (1, QUANT_CHROM)):
        zzb = bytes(int(tab[ZIGZAG[k]]) for k in range(64))
        seg(0xDB, bytes([tq]) + zzb)
    sof = b"\x08" + struct.pack(">HH", h, w) + b"\x03"
    for ci in range(3):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    seg(0xCA, sof)  # SOF10: progressive, arithmetic
    seg(0xCC, bytes([0x00, 0x10, 0x01, 0x10, 0x10, 5, 0x11, 5]))

    def dc_scan(ah, al):
        hdr = b"\x03"
        for ci in range(3):
            hdr += bytes([ci + 1, (0 if ci == 0 else 1) << 4])
        hdr += bytes([0, 0, (ah << 4) | al])
        seg(0xDA, hdr)
        enc = _qm.QMEncoder()
        fixed = _qm.fixed_context()
        dc_stats = {
            0: _fresh_stats(_DC_STAT_BINS), 1: _fresh_stats(_DC_STAT_BINS)
        }
        dc_ctx = [0, 0, 0]
        pred = [0, 0, 0]
        for by in range(nby):
            for bx in range(nbx):
                for ci in range(3):
                    tbl = 0 if ci == 0 else 1
                    if ah == 0:
                        v = int(coefs[ci][by, bx, 0]) >> al  # arith shift
                        _arith_code_dc(
                            enc, dc_stats[tbl], dc_ctx, ci, v - pred[ci],
                            (0, 1), decode=False,
                        )
                        pred[ci] = v
                    else:
                        enc.encode(
                            fixed, (int(coefs[ci][by, bx, 0]) >> al) & 1
                        )
        out.extend(enc.flush())

    def ac_scan(ci, ss, se, ah, al):
        tbl = 0 if ci == 0 else 1
        hdr = b"\x01" + bytes([ci + 1, tbl]) + bytes([ss, se, (ah << 4) | al])
        seg(0xDA, hdr)
        enc = _qm.QMEncoder()
        fixed = _qm.fixed_context()
        st = _fresh_stats(_AC_STAT_BINS)
        for by in range(nby):
            for bx in range(nbx):
                if ah == 0:
                    _arith_code_ac(
                        enc, st, fixed, 5, coefs[ci][by, bx],
                        decode=False, ss=ss, se=se, al=al,
                    )
                else:
                    _arith_code_ac_refine(
                        enc, st, fixed, coefs[ci][by, bx],
                        decode=False, ss=ss, se=se, al=al,
                    )
        out.extend(enc.flush())

    dc_scan(0, 1)
    ac_scan(0, 1, 5, 0, 1)
    ac_scan(0, 6, 63, 0, 1)
    ac_scan(1, 1, 63, 0, 1)
    ac_scan(2, 1, 63, 0, 1)
    dc_scan(1, 0)
    ac_scan(0, 1, 5, 1, 0)
    ac_scan(0, 6, 63, 1, 0)
    ac_scan(1, 1, 63, 1, 0)
    ac_scan(2, 1, 63, 1, 0)
    out.extend(b"\xff\xd9")
    return bytes(out)


def _decode_progressive_arith(data, pos, frame, qtables, dc_cond, ac_cond,
                              dri):
    """Multi-scan progressive decode, arithmetic flavor: marker loop
    mirrors _decode_progressive (DQT/DAC/DRI may appear between
    scans), each SOS runs one QM-coded scan over the shared
    coefficient store, reconstruction happens once at the end."""
    h, w, comps = frame
    hmax, vmax, mcux, mcuy, geo = _comp_geometry(frame)
    coefs = [
        np.zeros((pnby, pnbx, 64), dtype=np.int64)
        for (pnbx, pnby, _, _) in geo
    ]
    cid_to_ci = {c[0]: i for i, c in enumerate(comps)}
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                tab = np.zeros((8, 8), dtype=np.int32)
                if pq == 1:  # Pq=1: 16-bit big-endian entries
                    for k in range(64):
                        tab[ZIGZAG[k]] = (
                            seg[p + 1 + 2 * k] << 8
                        ) | seg[p + 2 + 2 * k]
                    p += 129
                else:
                    for k in range(64):
                        tab[ZIGZAG[k]] = seg[p + 1 + k]
                    p += 65
                qtables[tq] = tab
        elif marker == 0xCC:  # DAC between scans
            p = 0
            while p < len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 0xF
                cs = seg[p + 1]
                if tc == 0:
                    dc_cond[tb] = (cs & 0xF, cs >> 4)
                else:
                    ac_cond[tb] = cs
                p += 2
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", seg[0:2])
        elif marker == 0xDA:
            ns = seg[0]
            scomps = []
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                scomps.append((cid_to_ci[cid], tabs >> 4, tabs & 0xF))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            pos = _prog_scan_arith(
                data, pos + seglen, frame, geo, coefs, scomps, ss, se,
                ah, al, dc_cond, ac_cond, dri, mcux, mcuy,
            )
            continue
        pos += seglen
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        pnbx, pnby = geo[ci][0], geo[ci][1]
        plane = np.zeros((pnby * 8, pnbx * 8))
        q = qtables[tq]
        for by in range(pnby):
            for bx in range(pnbx):
                zz = coefs[ci][by, bx].astype(np.float64)
                blk = np.zeros((8, 8))
                blk[_ZZ_ROWS, _ZZ_COLS] = zz
                blk *= q
                dc0 = blk[0, 0]
                blk[0, 0] = 0.0
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    DCT_M.T @ blk @ DCT_M + dc0 / 8.0
                )
        planes.append(plane)
    return _planes_to_rgb(comps, planes, h, w, hmax, vmax)


def _prog_scan_arith(data, pos, frame, geo, coefs, scomps, ss, se, ah, al,
                     dc_cond, ac_cond, dri, mcux, mcuy):
    """Decode one QM-coded progressive scan; returns the position of
    the next marker. Restart intervals re-initialise the coder, the
    statistics areas and the DC state (F.1.4.1.1)."""
    h, w, comps = frame

    def fresh(start):
        return (
            _qm.QMDecoder(data, start),
            _qm.fixed_context(),
            {t: _fresh_stats(_DC_STAT_BINS) for t in range(4)},
            {t: _fresh_stats(_AC_STAT_BINS) for t in range(4)},
            [0] * len(comps),
            [0] * len(comps),
        )

    dec, fixed, dc_stats, ac_stats, dc_ctx, pred = fresh(pos)

    def restart():
        mp = dec.marker_pos
        if mp is None:
            mp = dec.pos
            while mp + 1 < len(data) and not (
                data[mp] == 0xFF and data[mp + 1] != 0x00
            ):
                mp += 1
        if not 0xD0 <= data[mp + 1] <= 0xD7:
            raise ValueError("corrupt JPEG: expected RSTn")
        return fresh(mp + 2)

    done = 0
    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("corrupt JPEG: DC scan with Se != 0")
        units = []
        if len(scomps) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    units.append([
                        (ci, dc_id, my * vs + vy, mx * hs + vx)
                        for ci, dc_id, _ in scomps
                        for _, hs, vs, _ in (comps[ci],)
                        for vy in range(vs)
                        for vx in range(hs)
                    ])
        else:
            ci, dc_id, _ = scomps[0]
            _, _, nbx, nby = geo[ci]
            units = [
                [(ci, dc_id, by, bx)]
                for by in range(nby)
                for bx in range(nbx)
            ]
        for unit in units:
            if dri and done and done % dri == 0:
                dec, fixed, dc_stats, ac_stats, dc_ctx, pred = restart()
            done += 1
            for ci, dc_id, by, bx in unit:
                if ah == 0:
                    diff = _arith_code_dc(
                        dec, dc_stats[dc_id], dc_ctx, ci, None,
                        dc_cond.get(dc_id, (0, 1)), decode=True,
                    )
                    pred[ci] += diff
                    coefs[ci][by, bx, 0] = pred[ci] << al
                else:
                    if dec.decode(fixed):
                        coefs[ci][by, bx, 0] |= 1 << al
    else:  # AC scan: single component
        if len(scomps) != 1:
            raise ValueError("corrupt JPEG: interleaved AC scan")
        ci, _, ac_id = scomps[0]
        kx = ac_cond.get(ac_id, 5)
        _, _, nbx, nby = geo[ci]
        for by in range(nby):
            for bx in range(nbx):
                if dri and done and done % dri == 0:
                    dec, fixed, dc_stats, ac_stats, dc_ctx, pred = restart()
                done += 1
                if ah == 0:
                    _arith_code_ac(
                        dec, ac_stats[ac_id], fixed, kx, coefs[ci][by, bx],
                        decode=True, ss=ss, se=se, al=al,
                    )
                else:
                    _arith_code_ac_refine(
                        dec, ac_stats[ac_id], fixed, coefs[ci][by, bx],
                        decode=True, ss=ss, se=se, al=al,
                    )
    mp = dec.marker_pos
    if mp is None:
        mp = dec.pos
    return _next_marker(data, mp)

# ---------------------------------------- lossless arithmetic (SOF11)
# ITU T.81 Annex H.2: predictive lossless coding (the same Annex H.1
# predictors and mod-2^16 difference fold as SOF3) entropy-coded with
# the Annex D QM coder. The statistical model conditions each
# prediction difference on the 5-way classification — zero / ±small /
# ±large, thresholds from the DAC (L, U) pair exactly as the Annex F
# DC model applies them between blocks — of the two differences
# already coded at the LEFT (Da) and ABOVE (Db) neighbour positions:
# 25 two-dimensional contexts of 4 bins each (zero decision, sign,
# SP, SN), plus two magnitude-tree/value-bin sets (X1..X15 / M2..M15),
# the second selected when Db sits in a large-magnitude category
# (H.2.1). Reference parity note: the reference app (KafkaStreamApp)
# has no codec surface — this extends the multimodal column story the
# driver mandates, from public spec text only.

_LA_STAT_BINS = 192  # 25*4 = 100 conditioning + trees at 100 / 130


def _la_classify(sign: int, m: int, lu: tuple) -> int:
    """Conditioning category (0-4) of a coded difference from its sign
    and magnitude-tree MSB ``m`` — the F.1.4.4.1.2 thresholds: zero /
    small if m < 2^L/2, ±small, ±large if m > 2^U/2."""
    low, up = lu
    if m < (1 << low) >> 1:
        return 0
    cat = 2 if sign else 1
    if m > (1 << up) >> 1:
        cat += 2
    return cat


def _arith_code_la(coder, st, base, tree, diff, decode):
    """Encode (decode=False) or decode one lossless prediction
    difference per H.2: the Annex F DC zero/sign/magnitude structure
    with the conditioning base and magnitude-tree base supplied by the
    caller's (Ca, Cb) context. Returns (diff, sign, m)."""
    if decode:
        if coder.decode(st[base]) == 0:
            return 0, 0, 0
        sign = coder.decode(st[base + 1])
    else:
        if diff == 0:
            coder.encode(st[base], 0)
            return 0, 0, 0
        coder.encode(st[base], 1)
        sign = 1 if diff < 0 else 0
        coder.encode(st[base + 1], sign)
    idx = base + (3 if sign else 2)  # SN / SP
    u = None if decode else abs(diff) - 1
    m = 0
    if decode:
        if coder.decode(st[idx]):
            m = 1
            idx = tree
            while coder.decode(st[idx]):
                m <<= 1
                idx += 1
                if m > 1 << 15:
                    raise ValueError("corrupt arith JPEG: LL magnitude")
        u = m
    else:
        if u:
            coder.encode(st[idx], 1)
            m = 1
            v2 = u
            idx = tree
            while v2 >> 1:
                v2 >>= 1
                coder.encode(st[idx], 1)
                m <<= 1
                idx += 1
        coder.encode(st[idx], 0)
    vbin = st[idx + 14]
    mm = m >> 1
    while mm:
        if decode:
            if coder.decode(vbin):
                u |= mm
        else:
            coder.encode(vbin, 1 if (u & mm) else 0)
        mm >>= 1
    v = u + 1
    return (-v if sign else v), sign, m


def encode_lossless_arith_jpeg(
    img: np.ndarray, predictor: int = 4, precision: int | None = None
) -> bytes:
    """Encode a 2-D grayscale array as a lossless ARITHMETIC-coded
    JPEG (SOF11, T.81 process 14 with QM entropy coding). Same H.1
    prediction and mod-2^16 fold as encode_lossless_jpeg; the DAC
    conditioning default (L=0, U=1) is written explicitly."""
    if img.ndim != 2:
        raise ValueError("encode_lossless_arith_jpeg expects a 2-D array")
    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor must be 1-7, got {predictor}")
    if precision is None:
        precision = 8 if img.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2-16")
    px = img.astype(np.int64)
    if px.min() < 0 or px.max() >= (1 << precision):
        raise ValueError(f"sample out of range for {precision}-bit")
    h, w = px.shape
    default = 1 << (precision - 1)
    lu = (0, 1)

    out = bytearray(b"\xff\xd8")  # SOI
    # DAC: DC-class conditioning table 0 with (L=0, U=1)
    out += b"\xff\xcc" + struct.pack(">H", 4) + bytes([0x00, 0x10])
    sof = struct.pack(">BHHB", precision, h, w, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xcb" + struct.pack(">H", 2 + len(sof)) + sof
    sos = bytes([1, 1, 0x00, predictor, 0, 0x00])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    enc = _qm.QMEncoder()
    st = _fresh_stats(_LA_STAT_BINS)
    cat_above = [0] * w  # category of the diff coded at (r-1, c)
    for r in range(h):
        cat_left = 0
        for cpos in range(w):
            pred = _ll_predict(r, cpos, px, predictor, default)
            d = (int(px[r, cpos]) - pred) & 0xFFFF
            if d > 32768:
                d -= 65536  # signed fold: d in [-32767, 32768]
            ca, cb = cat_left, cat_above[cpos]
            base = 4 * (5 * cb + ca)
            tree = 130 if cb >= 3 else 100
            _, sign, m = _arith_code_la(enc, st, base, tree, d, False)
            cat = _la_classify(sign, m, lu)
            cat_left = cat
            cat_above[cpos] = cat
    out += enc.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_lossless_arith_jpeg(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a single-component lossless arithmetic JPEG (SOF11).

    Returns ``(plane, precision)`` — uint8 for precision <= 8, uint16
    above. The (L, U) conditioning pair is read from the stream's DAC
    segment; multi-component scans raise NotImplementedError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    frame = None
    lu = (0, 1)
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xCC:  # DAC
            p = 0
            while p < len(seg):
                tc = seg[p] >> 4
                cs = seg[p + 1]
                if tc == 0:
                    lu = (cs & 0xF, cs >> 4)
                p += 2
        elif marker == 0xCB:  # SOF11
            precision = seg[0]
            h, w = struct.unpack(">HH", seg[1:5])
            if seg[5] != 1:
                raise NotImplementedError(
                    "multi-component lossless arithmetic scans unsupported"
                )
            frame = (precision, h, w)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF11")
            ns = seg[0]
            predictor = seg[1 + 2 * ns]
            pt = seg[3 + 2 * ns] & 0xF
            if pt != 0:
                raise NotImplementedError("point transform unsupported")
            if not 1 <= predictor <= 7:
                raise ValueError(f"bad predictor selector {predictor}")
            precision, h, w = frame
            default = 1 << (precision - 1)
            dec = _qm.QMDecoder(data, pos + seglen)
            st = _fresh_stats(_LA_STAT_BINS)
            px = np.zeros((h, w), np.int64)
            cat_above = [0] * w
            for r in range(h):
                cat_left = 0
                for cpos in range(w):
                    ca, cb = cat_left, cat_above[cpos]
                    base = 4 * (5 * cb + ca)
                    tree = 130 if cb >= 3 else 100
                    d, sign, m = _arith_code_la(dec, st, base, tree, None,
                                                True)
                    pred = _ll_predict(r, cpos, px, predictor, default)
                    px[r, cpos] = (pred + d) & 0xFFFF
                    cat = _la_classify(sign, m, lu)
                    cat_left = cat
                    cat_above[cpos] = cat
            if px.max() >= (1 << precision):
                raise ValueError("decoded sample exceeds declared precision")
            dtype = np.uint8 if precision <= 8 else np.uint16
            return px.astype(dtype), precision
        pos += seglen
    raise ValueError("corrupt JPEG: no SOS marker")

# ------------------------------------------ hierarchical (Annex J)
# ITU T.81 Annex J: multi-frame pyramid coding. DHP (0xDE, frame-header
# syntax) declares the final dims; a non-differential frame codes the
# coarsest scale; each EXP (0xDF) upsamples the reference 2x per the
# J.1.1.2 bilinear filter (P(2x)=R(x), P(2x+1)=(R(x)+R(x+1)+1)>>1,
# edge-replicated, cropped to the next frame's dims); each
# differential frame (SOF7: differential lossless) codes the mod-2^16
# residual of its scale against the upsampled reference. With a
# lossless base frame the whole pyramid is bit-exact, which is what
# makes q_multimodal_jpeg_hier SQL-oracle-able. Arithmetic pyramids
# (SOF11 base + SOF15 differential frames under the Annex H.2 QM
# model, fresh coder/stats per scan) are equally bit-exact. DCT
# pyramids (SOF1 base + SOF5 differential sequential DCT) are LOSSY
# but closed-loop deterministic: constant images reduce to the DC
# roundtrip closed form, which keeps them SQL-oracle-able too.
# Differential progressive / arithmetic-DCT (SOF6/13/14) frames
# raise — documented honest gates.


def _expand_ref(
    ref: np.ndarray, eh: int, ev: int, out_h: int, out_w: int
) -> np.ndarray:
    """EXP reference upsampling (T.81 J.1.1.2), cropped to the next
    frame's dims; an axis without expansion must already match."""
    out = ref.astype(np.int64)
    if eh:
        h, w = out.shape
        wide = np.zeros((h, 2 * w), np.int64)
        wide[:, 0::2] = out
        nxt = np.concatenate([out[:, 1:], out[:, -1:]], axis=1)
        wide[:, 1::2] = (out + nxt + 1) >> 1
        out = wide[:, :out_w]
    if ev:
        h, w = out.shape
        tall = np.zeros((2 * h, w), np.int64)
        tall[0::2] = out
        nxt = np.concatenate([out[1:], out[-1:]], axis=0)
        tall[1::2] = (out + nxt + 1) >> 1
        out = tall[:out_h]
    if out.shape != (out_h, out_w):
        raise ValueError(
            f"EXP produced {out.shape}, next frame is {(out_h, out_w)}"
        )
    return out


def _write_ll_diff(bw, codes, d: int) -> None:
    """One mod-2^16 difference through the H.1 category + extend-bits
    path (category 16 carries no extra bits)."""
    if d > 32768:
        d -= 65536
    if d == 32768:
        code, size = codes[16]
        bw.write(code, size)
        return
    s = _csize(d)
    code, size = codes[s]
    bw.write(code, size)
    if s:
        bw.write(d if d >= 0 else d + (1 << s) - 1, s)


def _la_code_plane(
    plane: np.ndarray,
    precision: int,
    predictor: int,
    ref: np.ndarray | None,
) -> bytes:
    """QM-encode one hierarchical scan's samples with the H.2 model:
    a non-differential frame (``ref is None``) codes H.1 prediction
    differences exactly like SOF11; a differential frame codes the
    mod-2^16 residual against the expanded reference with prediction
    disabled (T.81 J.1.2: Ss=0 in differential frames). Fresh QM coder
    and statistics per scan (each scan is its own entropy interval)."""
    h, w = plane.shape
    default = 1 << (precision - 1)
    lu = (0, 1)
    enc = _qm.QMEncoder()
    st = _fresh_stats(_LA_STAT_BINS)
    cat_above = [0] * w
    for r in range(h):
        cat_left = 0
        for cpos in range(w):
            if ref is None:
                pred = _ll_predict(r, cpos, plane, predictor, default)
            else:
                pred = int(ref[r, cpos])
            d = (int(plane[r, cpos]) - pred) & 0xFFFF
            if d > 32768:
                d -= 65536
            base = 4 * (5 * cat_above[cpos] + cat_left)
            tree = 130 if cat_above[cpos] >= 3 else 100
            _, sign, m = _arith_code_la(enc, st, base, tree, d, False)
            cat = _la_classify(sign, m, lu)
            cat_left = cat
            cat_above[cpos] = cat
    return enc.flush()


def _dct_zz_nolevel(blk: np.ndarray, q: np.ndarray) -> np.ndarray:
    """FDCT + quantize WITHOUT the level shift: differential DCT frames
    (T.81 J.1.1.3) code the signed residual plane directly. Exact-DC
    separation as everywhere in this codec (S00 = sum/8 so a constant
    residual quantizes from dc = 8·d precisely)."""
    dct = DCT_M @ blk @ DCT_M.T
    dct[0, 0] = blk.sum() / 8.0
    return _round_half_up(dct / q).astype(np.int64)[_ZZ_ROWS, _ZZ_COLS]


def _idct_block_zz(zz: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Dequant + IDCT of one quantized zigzag block with the DC term
    routed around the float matmul (the _decode_block bit-exactness
    trick: dc/8 is an exact binary operation, so flat blocks survive
    floor(x+0.5) at .5 boundaries). Returns un-level-shifted floats."""
    blk = np.zeros((8, 8))
    blk[_ZZ_ROWS, _ZZ_COLS] = zz
    blk *= q
    dc0 = blk[0, 0]
    blk[0, 0] = 0.0
    return DCT_M.T @ blk @ DCT_M + dc0 / 8.0


def _dct_code_plane(
    plane: np.ndarray, q: np.ndarray, dc_codes, ac_codes,
    differential: bool,
) -> tuple[bytes, np.ndarray]:
    """Sequential-DCT-code one plane (T.81 F.1 inside an Annex J
    pyramid). Base frames take 0..255 samples through the usual -128
    level shift and DC prediction chain; differential frames take
    SIGNED residuals with no level shift and PRED=0 per block
    (F.1.1.5.1). Closed loop: also returns the decoder's EXACT
    reconstruction (quantize → dequantize → IDCT → floor(x+0.5)), so
    the caller computes the next level's residual against what the
    decoder will actually hold — the standard hierarchical feedback
    structure (J.1.1.3)."""
    h, w = plane.shape
    bh, bw2 = (h + 7) // 8, (w + 7) // 8
    padded = np.pad(
        plane.astype(np.float64),
        ((0, bh * 8 - h), (0, bw2 * 8 - w)),
        mode="edge",
    )
    bw_ = JpegBitWriter()
    rec = np.zeros((bh * 8, bw2 * 8))
    pred = 0
    for by in range(bh):
        for bx in range(bw2):
            blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            if differential:
                zz = _dct_zz_nolevel(blk, q)
                _write_seq_block(bw_, zz, 0, dc_codes, ac_codes)
            else:
                zz = _quantize_block_zz(blk, q)
                pred = _write_seq_block(bw_, zz, pred, dc_codes, ac_codes)
            rec[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_block_zz(
                zz, q
            )
    bw_.flush()
    rec = rec[:h, :w]
    if differential:
        recp = _round_half_up(rec).astype(np.int64)
    else:
        recp = np.clip(_round_half_up(rec + 128.0), 0, 255).astype(np.int64)
    return bytes(bw_.out), recp


def _dct_decode_plane(
    data: bytes, pos: int, fh: int, fw: int, qtab: np.ndarray,
    dc_dec, ac_dec, differential: bool,
) -> tuple[np.ndarray, int]:
    """Mirror of :func:`_dct_code_plane`: one sequential-DCT scan of a
    single-component hierarchical frame. Differential frames decode DC
    directly (PRED=0 — F.1.1.5.1) and return signed residuals; base
    frames run the DC prediction chain and return level-shifted,
    clamped samples. Returns (int plane, end position)."""
    bh, bw2 = (fh + 7) // 8, (fw + 7) // 8
    br = JpegBitReader(data, pos)
    out = np.zeros((bh * 8, bw2 * 8))
    pred = 0
    for by in range(bh):
        for bx in range(bw2):
            zz = np.zeros(64, np.int64)
            s = dc_dec.decode(br)
            d = _extend(br.bits(s), s)
            if differential:
                zz[0] = d
            else:
                pred += d
                zz[0] = pred
            k = 1
            while k < 64:
                rs = ac_dec.decode(br)
                r, size = rs >> 4, rs & 0xF
                if size == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise ValueError("corrupt JPEG: AC index overflow")
                zz[k] = _extend(br.bits(size), size)
                k += 1
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_block_zz(
                zz, qtab
            )
    plane = out[:fh, :fw]
    if differential:
        return _round_half_up(plane).astype(np.int64), br.pos
    return (
        np.clip(_round_half_up(plane + 128.0), 0, 255).astype(np.int64),
        br.pos,
    )


def _dct_code_plane_arith(
    plane: np.ndarray, q: np.ndarray, differential: bool,
) -> tuple[bytes, np.ndarray]:
    """QM-coded twin of :func:`_dct_code_plane` (T.81 F.1.4 inside an
    Annex J pyramid): base frames run the DC prediction chain with the
    F.1.4.4.1 conditioning; differential frames code the DC VALUE
    itself (PRED=0 per F.1.1.5.1) through the same DC difference
    model, and the AC model is unchanged (F.1.4.3 applies to
    differential frames verbatim). Fresh coder + virgin statistics
    per scan (each scan is its own entropy interval); closed loop as
    in the Huffman twin."""
    h, w = plane.shape
    bh, bw2 = (h + 7) // 8, (w + 7) // 8
    padded = np.pad(
        plane.astype(np.float64),
        ((0, bh * 8 - h), (0, bw2 * 8 - w)),
        mode="edge",
    )
    enc = _qm.QMEncoder()
    fixed = _qm.fixed_context()
    dc_st = _fresh_stats(_DC_STAT_BINS)
    ac_st = _fresh_stats(_AC_STAT_BINS)
    dc_ctx = [0]
    rec = np.zeros((bh * 8, bw2 * 8))
    pred = 0
    for by in range(bh):
        for bx in range(bw2):
            blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            if differential:
                zz = _dct_zz_nolevel(blk, q)
                _arith_code_dc(
                    enc, dc_st, dc_ctx, 0, int(zz[0]), (0, 1), False
                )
            else:
                zz = _quantize_block_zz(blk, q)
                diff = int(zz[0]) - pred
                pred = int(zz[0])
                _arith_code_dc(enc, dc_st, dc_ctx, 0, diff, (0, 1), False)
            _arith_code_ac(enc, ac_st, fixed, 5, zz, False)
            rec[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_block_zz(
                zz, q
            )
    rec = rec[:h, :w]
    if differential:
        recp = _round_half_up(rec).astype(np.int64)
    else:
        recp = np.clip(_round_half_up(rec + 128.0), 0, 255).astype(np.int64)
    return bytes(enc.flush()), recp


def _dct_decode_plane_arith(
    data: bytes, pos: int, fh: int, fw: int, qtab: np.ndarray,
    differential: bool,
) -> tuple[np.ndarray, int]:
    """Mirror of :func:`_dct_code_plane_arith`: one QM-coded
    sequential-DCT scan of a single-component hierarchical frame.
    Returns (int plane, end position)."""
    bh, bw2 = (fh + 7) // 8, (fw + 7) // 8
    dec = _qm.QMDecoder(data, pos)
    fixed = _qm.fixed_context()
    dc_st = _fresh_stats(_DC_STAT_BINS)
    ac_st = _fresh_stats(_AC_STAT_BINS)
    dc_ctx = [0]
    out = np.zeros((bh * 8, bw2 * 8))
    pred = 0
    zz = np.zeros(64, dtype=np.int64)
    for by in range(bh):
        for bx in range(bw2):
            zz[:] = 0
            diff = _arith_code_dc(
                dec, dc_st, dc_ctx, 0, None, (0, 1), True
            )
            if differential:
                zz[0] = diff  # PRED=0 (F.1.1.5.1)
            else:
                pred += diff
                zz[0] = pred
            _arith_code_ac(dec, ac_st, fixed, 5, zz, True)
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_block_zz(
                zz, qtab
            )
    end = dec.marker_pos
    if end is None:
        end = dec.pos
    plane = out[:fh, :fw]
    if differential:
        return _round_half_up(plane).astype(np.int64), end
    return (
        np.clip(_round_half_up(plane + 128.0), 0, 255).astype(np.int64),
        end,
    )


def encode_hierarchical_jpeg(
    img: np.ndarray,
    levels: int = 3,
    predictor: int = 4,
    precision: int | None = None,
    entropy: str = "huffman",
) -> bytes:
    """Encode a 2-D grayscale array as a REAL hierarchical JPEG
    (T.81 Annex J): DHP, a lossless base frame at 1/2^(levels-1)
    scale (decimation downsampling — the downsampling filter is the
    encoder's choice per J.1.1.1), then per level an EXP marker and a
    differential-lossless frame. Bit-exact end to end.

    ``entropy="huffman"`` codes SOF3 + SOF7 frames; ``"arith"`` codes
    the same pyramid as SOF11 + SOF15 frames — the Annex H.2 QM model
    (25 (Ca, Cb) conditioning contexts) applied per scan, with the
    differential scans coding the mod-2^16 residual under Ss=0 (no
    predictor, J.1.2). ``entropy="dct"`` codes a LOSSY pyramid —
    an extended-sequential DCT base frame (SOF1) plus differential
    sequential DCT refinements (SOF5, level shift omitted and PRED=0
    per J.1.1.3/F.1.1.5.1), closed-loop so each residual is computed
    against the decoder's exact reconstruction; 8-bit only (the T.81
    DCT sample precision here)."""
    if img.ndim != 2:
        raise ValueError("encode_hierarchical_jpeg expects a 2-D array")
    if levels < 2:
        raise ValueError("hierarchical coding needs levels >= 2")
    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor must be 1-7, got {predictor}")
    if entropy not in ("huffman", "arith", "dct", "dct_arith"):
        raise ValueError(
            f"entropy must be huffman|arith|dct|dct_arith, got {entropy!r}"
        )
    if precision is None:
        precision = 8 if img.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2-16")
    px = img.astype(np.int64)
    if px.min() < 0 or px.max() >= (1 << precision):
        raise ValueError(f"sample out of range for {precision}-bit")
    if entropy in ("dct", "dct_arith"):
        if precision != 8:
            raise NotImplementedError(
                "hierarchical DCT pyramids are 8-bit only (12-bit DCT "
                "precision unsupported)"
            )
        if entropy == "dct_arith":
            return _encode_hierarchical_dct_arith(px, levels)
        return _encode_hierarchical_dct(px, levels)
    arith = entropy == "arith"
    h, w = px.shape
    pyramid = [px]
    for _ in range(levels - 1):
        pyramid.append(pyramid[-1][::2, ::2])
    pyramid.reverse()  # coarsest first
    default = 1 << (precision - 1)
    codes = None if arith else _build_codes(_LL_BITS, _LL_VALS)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    if arith:
        # DAC once: DC-class conditioning table 0 with (L=0, U=1)
        seg(0xCC, bytes([0x00, 0x10]))
    else:
        # DHT once — tables persist across the image's frames (B.2.4.2)
        seg(0xC4, bytes([0x00]) + bytes(_LL_BITS) + bytes(_LL_VALS))
    # DHP: frame-header syntax carrying the FINAL dims (B.3.2)
    seg(0xDE, struct.pack(">BHHB", precision, h, w, 1) + bytes([1, 0x11, 0]))

    base = pyramid[0]
    seg(
        0xCB if arith else 0xC3,
        struct.pack(">BHHB", precision, base.shape[0], base.shape[1], 1)
        + bytes([1, 0x11, 0]),
    )
    seg(0xDA, bytes([1, 1, 0x00, predictor, 0, 0x00]))
    if arith:
        out += _la_code_plane(base, precision, predictor, None)
    else:
        bw = JpegBitWriter()
        for r in range(base.shape[0]):
            for cpos in range(base.shape[1]):
                pred = _ll_predict(r, cpos, base, predictor, default)
                _write_ll_diff(bw, codes, (int(base[r, cpos]) - pred) & 0xFFFF)
        bw.flush()
        out += bw.out

    ref = base
    for lvl in range(1, levels):
        cur = pyramid[lvl]
        ch, cw = cur.shape
        seg(0xDF, bytes([0x11]))  # EXP: expand both axes
        ref = _expand_ref(ref, 1, 1, ch, cw)
        seg(
            0xCF if arith else 0xC7,
            struct.pack(">BHHB", precision, ch, cw, 1) + bytes([1, 0x11, 0]),
        )
        seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00]))  # Ss=0: no predictor
        if arith:
            out += _la_code_plane(cur, precision, 0, ref)
        else:
            bw = JpegBitWriter()
            for d in ((cur - ref) & 0xFFFF).flatten():
                _write_ll_diff(bw, codes, int(d))
            bw.flush()
            out += bw.out
        ref = cur
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _encode_hierarchical_dct(px: np.ndarray, levels: int) -> bytes:
    """The entropy="dct" body of :func:`encode_hierarchical_jpeg`:
    DHP + SOF1 extended-sequential base + EXP/SOF5 differential
    sequential DCT refinements, all with the Annex K luminance quant
    table. The DC Huffman table is the lossless-family one (categories
    0..16 — differential DC DIFFs can reach category 12, past the
    11-category baseline table K.3); AC is the standard K.5 luminance
    table. Closed loop: see :func:`_dct_code_plane`."""
    h, w = px.shape
    pyramid = [px]
    for _ in range(levels - 1):
        pyramid.append(pyramid[-1][::2, ::2])
    pyramid.reverse()  # coarsest first
    dc_codes = _build_codes(_LL_BITS, _LL_VALS)
    ac_codes = _build_codes(AC_LUM_BITS, AC_LUM_VALS)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    zzq = bytes(int(QUANT_LUM[ZIGZAG[k]]) for k in range(64))
    seg(0xDB, bytes([0]) + zzq)  # DQT, Pq=0 table 0
    seg(0xC4, bytes([0x00]) + bytes(_LL_BITS) + bytes(_LL_VALS))
    seg(0xC4, bytes([0x10]) + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS))
    seg(0xDE, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))

    base = pyramid[0]
    seg(
        0xC1,  # SOF1: extended sequential DCT, Huffman
        struct.pack(">BHHB", 8, base.shape[0], base.shape[1], 1)
        + bytes([1, 0x11, 0]),
    )
    seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0x00]))
    ent, rec = _dct_code_plane(base, QUANT_LUM, dc_codes, ac_codes, False)
    out += ent

    for lvl in range(1, levels):
        cur = pyramid[lvl]
        ch, cw = cur.shape
        seg(0xDF, bytes([0x11]))  # EXP: expand both axes
        ref = _expand_ref(rec, 1, 1, ch, cw)
        seg(
            0xC5,  # SOF5: differential sequential DCT, Huffman
            struct.pack(">BHHB", 8, ch, cw, 1) + bytes([1, 0x11, 0]),
        )
        seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0x00]))
        ent, drec = _dct_code_plane(
            cur - ref, QUANT_LUM, dc_codes, ac_codes, True
        )
        out += ent
        rec = np.clip(ref + drec, 0, 255)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _encode_hierarchical_dct_arith(px: np.ndarray, levels: int) -> bytes:
    """The entropy="dct_arith" body of :func:`encode_hierarchical_jpeg`:
    DHP + SOF9 QM-coded extended-sequential base + EXP/SOF13
    differential sequential DCT refinements — the arithmetic twin of
    :func:`_encode_hierarchical_dct` (DAC conditioning defaults L=0
    U=1 / Kx=5 written explicitly; no Huffman tables). Closed loop:
    see :func:`_dct_code_plane_arith`."""
    h, w = px.shape
    pyramid = [px]
    for _ in range(levels - 1):
        pyramid.append(pyramid[-1][::2, ::2])
    pyramid.reverse()  # coarsest first

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    zzq = bytes(int(QUANT_LUM[ZIGZAG[k]]) for k in range(64))
    seg(0xDB, bytes([0]) + zzq)  # DQT, Pq=0 table 0
    seg(0xCC, bytes([0x00, 0x10, 0x10, 5]))  # DAC: DC0 (L0,U1), AC0 Kx5
    seg(0xDE, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))

    base = pyramid[0]
    seg(
        0xC9,  # SOF9: extended sequential DCT, arithmetic
        struct.pack(">BHHB", 8, base.shape[0], base.shape[1], 1)
        + bytes([1, 0x11, 0]),
    )
    seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0x00]))
    ent, rec = _dct_code_plane_arith(base, QUANT_LUM, False)
    out += ent

    for lvl in range(1, levels):
        cur = pyramid[lvl]
        ch, cw = cur.shape
        seg(0xDF, bytes([0x11]))  # EXP: expand both axes
        ref = _expand_ref(rec, 1, 1, ch, cw)
        seg(
            0xCD,  # SOF13: differential sequential DCT, arithmetic
            struct.pack(">BHHB", 8, ch, cw, 1) + bytes([1, 0x11, 0]),
        )
        seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0x00]))
        ent, drec = _dct_code_plane_arith(cur - ref, QUANT_LUM, True)
        out += ent
        rec = np.clip(ref + drec, 0, 255)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_hierarchical_jpeg(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a single-component hierarchical JPEG: DHP + a base frame
    (lossless SOF3/SOF11 or sequential-DCT SOF0/SOF1) + EXP +
    differential refinements (lossless SOF7 Huffman / SOF15 QM-coded,
    or differential sequential DCT SOF5). Returns ``(plane,
    precision)``. Differential progressive/arithmetic-DCT frames
    (SOF6/13/14) raise NotImplementedError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    huff: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    qtables: dict[int, np.ndarray] = {}
    dhp = None
    pending_exp = None
    ref = None
    frame = None
    precision = None
    lu = (0, 1)
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                if tc == 0:
                    huff[th] = _HuffDecoder(bits, vals)
                else:
                    huff_ac[th] = _HuffDecoder(bits, vals)
                p += 17 + n
        elif marker == 0xDB:  # DQT (DCT frames)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                tab = np.zeros((8, 8))
                if pq == 1:  # Pq=1: 16-bit big-endian entries
                    for k in range(64):
                        tab[ZIGZAG[k]] = (
                            seg[p + 1 + 2 * k] << 8
                        ) | seg[p + 2 + 2 * k]
                    p += 129
                else:
                    for k in range(64):
                        tab[ZIGZAG[k]] = seg[p + 1 + k]
                    p += 65
                qtables[tq] = tab
        elif marker == 0xCC:  # DAC
            p = 0
            while p < len(seg):
                if seg[p] >> 4 == 0:
                    lu = (seg[p + 1] & 0xF, seg[p + 1] >> 4)
                p += 2
        elif marker == 0xDE:  # DHP
            dh, dw = struct.unpack(">HH", seg[1:5])
            dhp = (seg[0], dh, dw)
        elif marker == 0xDF:  # EXP
            pending_exp = (seg[0] >> 4, seg[0] & 0xF)
        elif marker in (0xC3, 0xC7, 0xCB, 0xCF):
            # lossless / differential lossless, Huffman or arithmetic
            precision = seg[0]
            fh, fw = struct.unpack(">HH", seg[1:5])
            if seg[5] != 1:
                raise NotImplementedError(
                    "multi-component hierarchical scans unsupported"
                )
            frame = (
                marker in (0xC7, 0xCF), fh, fw, marker in (0xCB, 0xCF), None
            )
        elif marker in (0xC0, 0xC1, 0xC5, 0xC9, 0xCD):
            # sequential DCT (base, Huffman or QM) / differential
            # sequential DCT (SOF5 Huffman, SOF13 arithmetic)
            precision = seg[0]
            if precision != 8:
                raise NotImplementedError(
                    "hierarchical DCT frames are 8-bit only"
                )
            fh, fw = struct.unpack(">HH", seg[1:5])
            if seg[5] != 1:
                raise NotImplementedError(
                    "multi-component hierarchical scans unsupported"
                )
            frame = (
                marker in (0xC5, 0xCD), fh, fw,
                marker in (0xC9, 0xCD), seg[8],
            )
        elif marker in (0xC6, 0xCE):
            raise NotImplementedError(
                "differential PROGRESSIVE hierarchical frames "
                "(sequential-DCT pyramids — Huffman SOF5 and "
                "arithmetic SOF13 — and both lossless pyramids "
                "supported)"
            )
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before a frame header")
            differential, fh, fw, arith, dct_tq = frame
            ns = seg[0]
            table = seg[2] >> 4
            ss = seg[1 + 2 * ns]
            pt = seg[3 + 2 * ns] & 0xF
            if pt != 0:
                raise NotImplementedError("point transform unsupported")
            if dct_tq is not None:
                if arith:
                    plane, end = _dct_decode_plane_arith(
                        data, pos + seglen, fh, fw, qtables[dct_tq],
                        differential,
                    )
                else:
                    plane, end = _dct_decode_plane(
                        data, pos + seglen, fh, fw, qtables[dct_tq],
                        huff[table], huff_ac[seg[2] & 0xF], differential,
                    )
                if differential:
                    if ref is None:
                        raise ValueError(
                            "corrupt JPEG: differential frame without "
                            "reference"
                        )
                    if pending_exp is not None:
                        ref = _expand_ref(
                            ref, pending_exp[0], pending_exp[1], fh, fw
                        )
                        pending_exp = None
                    if ref.shape != (fh, fw):
                        raise ValueError(
                            "corrupt JPEG: reference/frame dimension "
                            "mismatch"
                        )
                    # lossy differential output adds and CLAMPS (unlike
                    # the lossless pyramid's mod-2^16 arithmetic)
                    ref = np.clip(ref + plane, 0, 255)
                else:
                    ref = plane
                    pending_exp = None
                pos = _next_marker(data, end)
                continue
            if arith:
                qdec = _qm.QMDecoder(data, pos + seglen)
                st = _fresh_stats(_LA_STAT_BINS)
                vals = np.zeros(fh * fw, np.int64)
                cat_above = [0] * fw
                i = 0
                for r in range(fh):
                    cat_left = 0
                    for cpos in range(fw):
                        base = 4 * (5 * cat_above[cpos] + cat_left)
                        tree = 130 if cat_above[cpos] >= 3 else 100
                        d, sign, m = _arith_code_la(
                            qdec, st, base, tree, None, True
                        )
                        vals[i] = d
                        i += 1
                        cat = _la_classify(sign, m, lu)
                        cat_left = cat
                        cat_above[cpos] = cat
                end = qdec.marker_pos
                if end is None:
                    end = qdec.pos
            else:
                dec = huff[table]
                br = JpegBitReader(data, pos + seglen)
                vals = np.zeros(fh * fw, np.int64)
                for i in range(fh * fw):
                    s = dec.decode(br)
                    vals[i] = 32768 if s == 16 else _extend(br.bits(s), s)
                end = br.pos
            if differential:
                if ref is None:
                    raise ValueError(
                        "corrupt JPEG: differential frame without reference"
                    )
                if pending_exp is not None:
                    ref = _expand_ref(
                        ref, pending_exp[0], pending_exp[1], fh, fw
                    )
                    pending_exp = None
                if ref.shape != (fh, fw):
                    raise ValueError(
                        "corrupt JPEG: reference/frame dimension mismatch"
                    )
                ref = (ref + vals.reshape(fh, fw)) & 0xFFFF
            else:
                if not 1 <= ss <= 7:
                    raise ValueError(f"bad predictor selector {ss}")
                default = 1 << (precision - 1)
                px = np.zeros((fh, fw), np.int64)
                diffs = vals.reshape(fh, fw)
                for r in range(fh):
                    for cpos in range(fw):
                        pred = _ll_predict(r, cpos, px, ss, default)
                        px[r, cpos] = (pred + int(diffs[r, cpos])) & 0xFFFF
                ref = px
                pending_exp = None
            pos = _next_marker(data, end)
            continue
        pos += seglen
    if ref is None or precision is None:
        raise ValueError("corrupt JPEG: no frame decoded")
    if dhp is not None and (
        ref.shape != (dhp[1], dhp[2]) or dhp[0] != precision
    ):
        raise ValueError("corrupt JPEG: final frame disagrees with DHP")
    if ref.max() >= (1 << precision):
        raise ValueError("decoded sample exceeds declared precision")
    dtype = np.uint8 if precision <= 8 else np.uint16
    return ref.astype(dtype), precision
