"""Uncompressed-TIFF pixel codec in pure numpy — public spec (TIFF
6.0, Adobe 1992), no codec libraries.

Baseline TIFF with Compression=1 stores raw sample bytes in strips
located by IFD tags — the pixel path is pure byte math, which makes it
the seventh REAL image format in the multimodal surface (after BMP,
JPEG baseline+progressive, PNG, GIF incl. animation, MJPEG-AVI, Y4M).
Lossless, so every decoded pixel is closed-form predictable from the
synthesis formula (q_multimodal_tiff hashes exact channel means).

Scope: 8- and 16-bit samples (16-bit stored in the file byte order
per TIFF 6.0 §4, decoded to uint16), PhotometricInterpretation 1
(gray, black-is-zero) and 2 (RGB), one or more strips, both byte orders,
SHORT/LONG tag types, out-of-line value arrays (strip offset/count
lists); Compression 1 (none), 5 (TIFF 6.0 §13 LZW — MSB-first code
packing, early width change, per-strip streams, table-full resets)
and 8/32946 (Deflate via stdlib zlib, the PNG codec's dependency
stance), each both ways, plus the tag-317 horizontal-differencing
predictor, and 7 (new-style JPEG-in-TIFF: complete interchange
streams per strip through the in-house T.81 codec — lossy, so kept
out of the fixture's lossless pixel oracle). The deprecated old-JPEG
code 6 raises honestly.
"""

from __future__ import annotations

import struct

import numpy as np

from hw_kafka_streams_spark.operators.bitio import BitReader, BitWriter, CodecError


def encode_tiff_rgb(
    rgb: np.ndarray,
    byte_order: str = "<",
    compression: int = 1,
    predictor: int = 1,
) -> bytes:
    """Encode an (h, w, 3) uint8 or uint16 RGB array as a TIFF
    (single strip, chunky RGB; 16-bit samples are written in the
    file's byte order per TIFF 6.0 §4). ``byte_order``: '<' II
    little-endian or '>' MM big-endian. ``compression``: 1 = none,
    5 = TIFF-LZW (MSB-first code packing with the spec's early width
    change), 8 = Deflate (Adobe/TIFF 6 style, stdlib zlib — the same
    dependency stance as the PNG codec). ``predictor``: 1 = none,
    2 = horizontal differencing per sample (tag 317) applied before
    compression (mod 2^bits)."""
    e = byte_order
    h, w = rgb.shape[:2]
    bits = 16 if rgb.dtype == np.uint16 else 8
    if compression == 7:
        if predictor != 1:
            raise ValueError("predictor does not apply to JPEG strips")
        if bits != 8:
            raise ValueError("JPEG strips are 8-bit only (T.81 baseline)")
        from hw_kafka_streams_spark.operators.jpegcodec import (
            encode_baseline_jpeg,
        )

        return _assemble_tiff(
            e, h, w, encode_baseline_jpeg(rgb), 7, 1, 8
        )
    raw = rgb
    if predictor == 2:
        raw = raw.astype(np.int32)
        raw = np.concatenate(
            [raw[:, :1, :], np.diff(raw, axis=1)], axis=1
        ).astype(rgb.dtype)  # mod-2^bits differences
    elif predictor != 1:
        raise ValueError(f"predictor must be 1 or 2, got {predictor}")
    body = raw.astype(e + ("u2" if bits == 16 else "u1")).tobytes()
    if compression == 1:
        pixels = body
    elif compression == 5:
        pixels = _lzw_compress(body)
    elif compression == 8:
        import zlib

        pixels = zlib.compress(body, 9)
    else:
        raise ValueError(f"unsupported compression {compression}")
    return _assemble_tiff(e, h, w, pixels, compression, predictor, bits)


def _assemble_tiff(
    e: str, h: int, w: int, pixels: bytes, compression: int, predictor: int,
    bits: int,
) -> bytes:
    # layout: header(8) + pixel data + BitsPerSample array(6) + IFD
    px_off = 8
    bps_off = px_off + len(pixels)
    ifd_off = bps_off + 6
    entries = [
        (256, 4, 1, w),            # ImageWidth
        (257, 4, 1, h),            # ImageLength
        (258, 3, 3, bps_off),      # BitsPerSample -> offset to [b,b,b]
        (259, 3, 1, compression),  # Compression
        (262, 3, 1, 2),            # Photometric: RGB
        (273, 4, 1, px_off),       # StripOffsets
        (277, 3, 1, 3),            # SamplesPerPixel
        (278, 4, 1, h),            # RowsPerStrip: one strip
        (279, 4, 1, len(pixels)),  # StripByteCounts
    ]
    if predictor == 2:
        entries.append((317, 3, 1, 2))  # Predictor: horizontal diff
    entries.sort()
    ifd = struct.pack(e + "H", len(entries))
    for tag, typ, cnt, val in entries:
        if typ == 3 and cnt == 1:
            ifd += struct.pack(e + "HHIHH", tag, typ, cnt, val, 0)
        else:
            ifd += struct.pack(e + "HHII", tag, typ, cnt, val)
    ifd += struct.pack(e + "I", 0)
    magic = b"II*\x00" if e == "<" else b"MM\x00*"
    head = magic[:2] + struct.pack(e + "H", 42) + struct.pack(e + "I", ifd_off)
    return head + pixels + struct.pack(e + "HHH", bits, bits, bits) + ifd


def _need(data: bytes, end: int, what: str) -> None:
    """Raise ``CodecError`` unless ``data`` holds ``end`` bytes."""
    if end > len(data):
        raise CodecError(f"truncated TIFF: {what} runs past the end")


def decode_tiff_pixels(data: bytes) -> np.ndarray:
    """Decode a baseline TIFF to an (h, w, 3) RGB array — uint8 for
    8-bit samples, uint16 for 16-bit (gray replicated). Raises
    NotImplementedError for unsupported layouts, ValueError for
    corrupt data, and ``CodecError`` (a ValueError) when the header,
    the IFD (through its next-IFD offset), an out-of-line value array
    or a strip runs past the end."""
    _need(data, 8, "header")
    if data[:4] == b"II*\x00":
        e = "<"
    elif data[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF (bad magic)")
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    _need(data, ifd_off + 2, "IFD entry count")
    (n_entries,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
    _need(data, ifd_off + 2 + 12 * n_entries + 4, "IFD")
    tags: dict[int, tuple[int, int, bytes]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(e + "HHI", data[base : base + 8])
        tags[tag] = (typ, cnt, data[base + 8 : base + 12])

    def values(tag: int, default=None) -> list[int] | None:
        if tag not in tags:
            return default
        typ, cnt, raw = tags[tag]
        size = {3: 2, 4: 4}.get(typ)
        if size is None:
            raise ValueError(f"corrupt TIFF: tag {tag} type {typ}")
        fmt = e + ("H" if typ == 3 else "I")
        if size * cnt <= 4:  # inline, left-justified
            return [
                struct.unpack(fmt, raw[k * size : (k + 1) * size])[0]
                for k in range(cnt)
            ]
        (off,) = struct.unpack(e + "I", raw)
        _need(data, off + size * cnt, f"tag {tag} values")
        return [
            struct.unpack(fmt, data[off + k * size : off + (k + 1) * size])[0]
            for k in range(cnt)
        ]

    w = values(256)
    h = values(257)
    if not w or not h:
        raise ValueError("corrupt TIFF: missing dimensions")
    w, h = w[0], h[0]
    comp = (values(259, [1]) or [1])[0]
    if comp not in (1, 5, 7, 8, 32946):
        raise NotImplementedError(
            f"TIFF compression {comp} (1 / 5 LZW / 7 JPEG / 8 Deflate "
            "supported; the deprecated old-JPEG 6 is not)"
        )
    photometric = (values(262, [1]) or [1])[0]
    spp = (values(277, [1]) or [1])[0]
    bps = values(258, [8]) or [8]
    if len(set(bps)) != 1 or bps[0] not in (8, 16):
        raise NotImplementedError(
            f"TIFF bits-per-sample {bps} (uniform 8 or 16 only)"
        )
    bits = bps[0]
    if bits == 16 and comp == 7:
        raise NotImplementedError("16-bit JPEG strips (T.81 baseline is 8-bit)")
    if photometric not in (1, 2) or spp not in (1, 3):
        raise NotImplementedError(
            f"TIFF photometric {photometric} / {spp} samples"
        )
    offsets = values(273)
    counts = values(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("corrupt TIFF: bad strip tables")
    for o, c in zip(offsets, counts):
        _need(data, o + c, "strip")
    strips = [data[o : o + c] for o, c in zip(offsets, counts)]
    if comp == 7:
        # "new-style" JPEG-in-TIFF: each strip is a complete JPEG
        # interchange stream; decode through the in-house T.81 codec
        # and stack strip rows (lossy upstream, so the TIFF fixture
        # keeps JPEG strips out of its lossless pixel oracle)
        from hw_kafka_streams_spark.operators.jpegcodec import (
            decode_baseline_jpeg,
        )

        parts = [decode_baseline_jpeg(sdata) for sdata in strips]
        px = np.concatenate(parts, axis=0)
        if px.shape[0] < h or px.shape[1] < w:
            raise ValueError("corrupt TIFF: JPEG strips smaller than frame")
        return px[:h, :w, :]
    if comp == 5:
        strips = [_lzw_decompress(sdata) for sdata in strips]
    elif comp in (8, 32946):
        import zlib

        strips = [zlib.decompress(sdata) for sdata in strips]
    raw = b"".join(strips)
    dtype = np.dtype(e + ("u2" if bits == 16 else "u1"))
    if len(raw) < h * w * spp * dtype.itemsize:
        raise ValueError("corrupt TIFF: truncated strip data")
    px = np.frombuffer(raw, dtype=dtype, count=h * w * spp).reshape(
        h, w, spp
    )
    out_dtype = np.uint16 if bits == 16 else np.uint8
    predictor = (values(317, [1]) or [1])[0]
    if predictor == 2:
        px = np.cumsum(px.astype(np.int64), axis=1).astype(out_dtype)
    elif predictor != 1:
        raise NotImplementedError(f"TIFF predictor {predictor}")
    else:
        px = px.astype(out_dtype)  # native-endian view for callers
    if spp == 1:
        return np.repeat(px, 3, axis=2)
    return px.copy()


def _lzw_compress(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first code packing, ClearCode 256, EOI
    257, first table code 258, and the spec's EARLY width change (the
    writer widens one code before the table actually overflows —
    TIFF's historical off-by-one, distinct from GIF's LZW in both bit
    order and change point)."""
    bw = BitWriter()
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bw.write(256, width)  # leading ClearCode
    cur = b""
    for byte in data:
        cand = cur + bytes([byte])
        if cand in table:
            cur = cand
            continue
        bw.write(table[cur], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:  # early change
            width += 1
        if next_code >= 4094:  # table full: reset
            bw.write(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([byte])
    if cur:
        bw.write(table[cur], width)
    bw.write(257, width)  # EOI
    bw.flush()
    return bytes(bw.out)


def _lzw_decompress(data: bytes) -> bytes:
    """Inverse of :func:`_lzw_compress` (KwKwK handled)."""
    out = bytearray()
    br = BitReader(data)
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev = b""
    while True:
        try:
            code = br.bits(width)
        except CodecError:
            code = 257  # truncated: treat as EOI
        if code == 257:
            break
        if code == 256:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = b""
            continue
        if prev == b"":
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out += entry
        prev = entry
        # mirror the encoder's early change. The decoder's table lags
        # the encoder by exactly one entry (the encoder adds right
        # after emitting; the decoder adds on the NEXT code), so where
        # the encoder widens at next_code == (1<<width)-1 the decoder
        # widens at len == (1<<width)-2. The encoder's table-full
        # reset arrives as an ordinary ClearCode, handled above.
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)
