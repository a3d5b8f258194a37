"""PNG codec in pure numpy + stdlib zlib — public spec (RFC 2083 /
ISO 15948), no codec libraries.

PNG's pixel path is exactly two public building blocks: DEFLATE
(stdlib ``zlib``) and per-row byte filtering (None/Sub/Up/Average/
Paeth). Both directions are implemented, so PNG joins BMP and baseline
JPEG as a REAL pixel format in the multimodal surface — and unlike
JPEG it is LOSSLESS, so encode→decode is bit-exact and every decoded
pixel is closed-form predictable from the synthesis formula (the
q_multimodal_png oracle hashes exact channel means).

Scope: the full PNG core — bit depths 1/2/4/8/16, color types 0
(gray), 2 (RGB), 3 (palette, incl. packed sub-byte indices), 4
(gray+alpha), 6 (RGBA); Adam7 interlacing (each pass is an
independently-filtered sub-image, placed back on the official origin/
step lattice). 16-bit samples reduce to 8-bit by the spec's >>8 for
the RGB feature surface; alpha is dropped to match the RGB stages.
Filtering operates on BYTES with the spec's bpp offset
(max(1, channels·depth/8)), so sub-byte rows filter as 1-byte units.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from hw_kafka_streams_spark.operators.bitio import CodecError

_SIG = b"\x89PNG\r\n\x1a\n"

# Adam7 pass lattice (libpng's tables): origin and step per pass.
_A7_XORIG = (0, 4, 0, 2, 0, 1, 0)
_A7_YORIG = (0, 0, 4, 0, 2, 0, 1)
_A7_XSTEP = (8, 8, 4, 4, 2, 2, 1)
_A7_YSTEP = (8, 8, 8, 4, 4, 2, 2)


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an 8-bit truecolor PNG
    (filter type 0 per row — valid, simple, deterministic)."""
    h, w = rgb.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + rgb[r].tobytes() for r in range(h))
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def encode_png_interlaced(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an ADAM7-interlaced
    truecolor PNG (filter type 0 per scanline of every pass). The
    decoder's interlace path round-trips against this, and the tests
    also pin a hand-built pass stream so a symmetric encoder/decoder
    bug cannot hide."""
    h, w = rgb.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    raw = bytearray()
    for p in range(7):
        sub = rgb[_A7_YORIG[p]::_A7_YSTEP[p], _A7_XORIG[p]::_A7_XSTEP[p]]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue  # empty pass contributes no bytes at all
        for r in range(ph):
            raw += b"\x00" + sub[r].tobytes()
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(
    raw: bytes, offset: int, h: int, w: int, channels: int, bit_depth: int
) -> tuple[np.ndarray, int]:
    """Reverse per-scanline filtering for one (sub-)image of ``h`` rows
    × ``w`` pixels starting at byte ``offset`` of the decompressed
    stream. Returns ((h, stride) uint8 FILTERED BYTES, bytes consumed)
    where stride = ceil(w·channels·depth/8). Filtering is defined on
    bytes with left-neighbor offset bpp = max(1, channels·depth/8)
    (the spec's rule — sub-byte rows use 1). The previous-row state
    starts at zero — for the image start AND for every Adam7 pass."""
    stride = (w * channels * bit_depth + 7) // 8
    bpp = max(1, channels * bit_depth // 8)
    need = h * (stride + 1)
    if offset + need > len(raw):
        raise ValueError("corrupt PNG: truncated pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        base = offset + r * (stride + 1)
        ft = raw[base]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=base + 1
        ).astype(np.int32)
        if ft == 0:  # None
            cur = row
        elif ft == 2:  # Up
            cur = (row + prev) & 0xFF
        elif ft in (1, 3, 4):  # Sub / Average / Paeth: left-dependent
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                if ft == 1:
                    v = row[i] + a
                elif ft == 3:
                    v = row[i] + (a + b) // 2
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    v = row[i] + _paeth(int(a), b, c)
                cur[i] = v & 0xFF
        else:
            raise ValueError(f"corrupt PNG: filter type {ft}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out, need


def _samples(flat: np.ndarray, w: int, channels: int, bit_depth: int) -> np.ndarray:
    """Filtered scanline BYTES → (h, w, channels) uint8 samples.
    16-bit: big-endian pairs reduced by >>8 (the spec's 16→8 scaling);
    sub-byte: MSB-first unpack, row padding bits discarded."""
    h = flat.shape[0]
    if bit_depth == 8:
        return flat[:, : w * channels].reshape(h, w, channels)
    if bit_depth == 16:
        return flat.reshape(h, -1)[:, 0 : 2 * w * channels : 2].reshape(
            h, w, channels
        )
    # 1/2/4-bit: unpack each row's bits MSB-first, regroup
    per = 8 // bit_depth
    bits = np.unpackbits(flat, axis=1)
    vals = np.zeros((h, flat.shape[1] * per), dtype=np.uint8)
    for k in range(bit_depth):
        vals = (vals << 1) | bits[:, k::bit_depth][:, : vals.shape[1]]
    return vals[:, : w * channels].reshape(h, w, channels)


def _to_rgb(px: np.ndarray, channels: int, palette: np.ndarray | None) -> np.ndarray:
    """(h, w, channels) samples → (h, w, 3) RGB per the color type."""
    if palette is not None:  # type 3: indexed
        return palette[px[..., 0]]
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    if channels == 2:  # gray + alpha
        return np.repeat(px[..., :1], 3, axis=2)
    if channels == 4:
        return px[..., :3].copy()
    return px


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to an (h, w, 3) uint8 RGB array (gray replicated,
    alpha dropped, palette resolved, sub-byte indices unpacked, 16-bit
    reduced by >>8, Adam7 de-interlaced). Raises ValueError for
    corrupt data or spec-illegal (type, depth) combinations, and
    ``CodecError`` (a ValueError) for a stream cut short or damaged
    anywhere: a bad signature, a chunk whose length and CRC run past
    the end, a chunk whose CRC-32 does not match, no ``IEND``, or an
    IDAT stream zlib cannot inflate."""
    if data[:8] != _SIG:
        raise CodecError("not a PNG (bad signature)")
    pos = 8
    w = h = None
    bit_depth = color_type = interlace = None
    palette = None
    idat = bytearray()
    while True:
        if pos + 8 > len(data):
            raise CodecError("truncated PNG: no IEND chunk")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + tag + payload + crc
        if pos > len(data):
            raise CodecError(f"truncated PNG: {tag!r} chunk runs past the end")
        (crc,) = struct.unpack(">I", data[pos - 4 : pos])
        if crc != zlib.crc32(tag + payload):
            raise CodecError(f"corrupt PNG: {tag!r} chunk CRC mismatch")
        if tag == b"IHDR":
            if length != 13:
                raise CodecError(f"corrupt PNG: IHDR length {length}, not 13")
            w, h, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", payload)
            )
        elif tag == b"PLTE":
            if length % 3:
                raise ValueError("corrupt PNG: PLTE length not 3n")
            palette = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("corrupt PNG: no IHDR")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"corrupt PNG: color type {color_type}")
    # spec's legal (type, depth) grid: sub-byte only for gray/palette;
    # palette never 16-bit
    allowed = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8)}.get(
        color_type, (8, 16)
    )
    if bit_depth not in allowed:
        raise ValueError(
            f"corrupt PNG: depth {bit_depth} invalid for type {color_type}"
        )
    if color_type == 3:
        if palette is None:
            raise ValueError("corrupt PNG: palette image without PLTE")
        # pad to 256 entries so any 8-bit index resolves (spec allows
        # shorter palettes; out-of-range indices are corrupt but we
        # clamp-by-pad rather than crash the whole batch)
        if len(palette) < 256:
            palette = np.vstack(
                [palette, np.zeros((256 - len(palette), 3), dtype=np.uint8)]
            )
    elif palette is not None:
        palette = None  # PLTE is advisory for non-indexed types
    # sub-byte GRAY scales to full range (0/1 → 0/255 at depth 1);
    # sub-byte PALETTE indices look up as-is
    gray_scale = (
        255 // (2**bit_depth - 1)
        if color_type == 0 and bit_depth < 8
        else 1
    )
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise CodecError(f"corrupt PNG: {exc}") from exc
    if not interlace:
        flat, used = _unfilter(raw, 0, h, w, channels, bit_depth)
        if used != len(raw):
            raise ValueError("corrupt PNG: wrong decompressed length")
        px = _samples(flat, w, channels, bit_depth)
        return _to_rgb(px * np.uint8(gray_scale), channels, palette)
    if interlace != 1:
        raise ValueError(f"corrupt PNG: interlace method {interlace}")
    # Adam7: seven independently-filtered sub-images on a fixed lattice
    out = np.zeros((h, w, channels), dtype=np.uint8)
    offset = 0
    for p in range(7):
        pw = (w - _A7_XORIG[p] + _A7_XSTEP[p] - 1) // _A7_XSTEP[p]
        ph = (h - _A7_YORIG[p] + _A7_YSTEP[p] - 1) // _A7_YSTEP[p]
        if pw == 0 or ph == 0:
            continue
        flat, used = _unfilter(raw, offset, ph, pw, channels, bit_depth)
        offset += used
        out[
            _A7_YORIG[p] :: _A7_YSTEP[p], _A7_XORIG[p] :: _A7_XSTEP[p]
        ] = _samples(flat, pw, channels, bit_depth)
    if offset != len(raw):
        raise ValueError("corrupt PNG: wrong decompressed length")
    return _to_rgb(out * np.uint8(gray_scale), channels, palette)
