"""GIF codec in pure python/numpy — public spec (GIF89a, CompuServe
1990), no codec libraries.

GIF's pixel path is variable-width LZW over palette indices, packed
LSB-first into 255-byte sub-blocks. Decode implements the full LZW
dictionary algorithm (clear/end codes, width growth to 12 bits, the
KwKwK self-reference case) plus Adam-style 4-pass de-interlacing; the
encoder emits the classic "clear-often" LZW stream (every output code
is a literal root, with CLEAR injected before the code width would
grow past 9 bits — larger output, bit-valid, deterministic). Palette
lookup maps indices to RGB.

Animations: :func:`decode_gif_frames` composes EVERY frame with the
GIF89a Graphic Control semantics — frame rectangles drawn onto the
logical-screen canvas, transparent indices skipped, disposal methods
1 (leave), 2 (restore region to background) and 3 (restore to
previous canvas) applied between frames. :func:`decode_gif` returns
the first composed frame (back-compatible).
"""

from __future__ import annotations

import struct

import numpy as np

from hw_kafka_streams_spark.operators.bitio import CodecError


def _need(data: bytes, end: int, what: str) -> None:
    """Raise ``CodecError`` unless ``data`` holds ``end`` bytes."""
    if end > len(data):
        raise CodecError(f"truncated GIF: {what} runs past the end")


def _parse_image_block(data: bytes, pos: int, gct):
    """One image descriptor at ``pos`` (the 0x2C byte) → (indices
    (h, w) uint8, color table, (left, top), new pos). Raises
    ``CodecError`` when ``data`` ends inside the block."""
    _need(data, pos + 11, "image descriptor")
    left, top, w, h, ipack = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
    pos += 10
    ct = gct
    if ipack & 0x80:  # local color table
        n = 2 << (ipack & 0x07)
        _need(data, pos + 3 * n + 1, "local color table")
        ct = np.frombuffer(
            data, dtype=np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    if ct is None:
        raise ValueError("corrupt GIF: no color table")
    min_code = data[pos]
    pos += 1
    stream = bytearray()
    while True:
        _need(data, pos + 1, "image data")
        ln = data[pos]
        if ln == 0:
            break
        stream.extend(data[pos + 1 : pos + 1 + ln])
        pos += 1 + ln
    pos += 1
    idx = _lzw_decode(bytes(stream), min_code, w * h)
    px = np.array(idx, dtype=np.uint8).reshape(h, w)
    if ipack & 0x40:  # de-interlace: 4 passes
        out = np.zeros_like(px)
        rows = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        for src, dst in enumerate(rows):
            out[dst] = px[src]
        px = out
    return px, ct, (left, top), pos


def decode_gif_frames(data: bytes, max_frames: int | None = None) -> list[np.ndarray]:
    """Decode an (animated) GIF to a list of COMPOSED (sh, sw, 3)
    uint8 RGB frames — each frame is the full logical screen after
    drawing that image rectangle with its transparency, then disposal
    runs before the next frame (1/0 leave, 2 restore-to-background,
    3 restore-to-previous). Raises ValueError for corrupt data, and
    ``CodecError`` (a ValueError) when ``data`` ends before the trailer
    (or, with ``max_frames``, before that many frames)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise CodecError("not a GIF")
    _need(data, 13, "logical screen descriptor")
    sw, sh, packed, bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        _need(data, pos + 3 * n, "global color table")
        gct = np.frombuffer(
            data, dtype=np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    bg_rgb = (
        gct[bg] if gct is not None and bg < len(gct)
        else np.zeros(3, dtype=np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
    frames: list[np.ndarray] = []
    disposal, transparent = 0, None  # pending GCE state
    while True:
        _need(data, pos + 1, "block sequence (no trailer)")
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            _need(data, pos + 3, "extension")
            label = data[pos + 1]
            p = pos + 2
            if label == 0xF9 and data[p] >= 4:  # Graphic Control
                _need(data, p + 5, "graphic control extension")
                gpack = data[p + 1]
                disposal = (gpack >> 2) & 0x7
                transparent = data[p + 4] if gpack & 0x01 else None
            while data[p] != 0:
                p += 1 + data[p]
                _need(data, p + 1, "extension sub-block")
            pos = p + 1
            continue
        if b != 0x2C:
            raise ValueError(f"corrupt GIF: unexpected block 0x{b:02x}")
        px, ct, (left, top), pos = _parse_image_block(data, pos, gct)
        h, w = px.shape
        saved = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + h, left : left + w]
        rgb = ct[px]
        if transparent is not None:
            mask = px != transparent
            region[mask] = rgb[mask]
        else:
            region[:, :] = rgb
        frames.append(canvas.copy())
        if max_frames is not None and len(frames) >= max_frames:
            return frames
        if disposal == 2:  # restore the rectangle to background
            canvas[top : top + h, left : left + w] = bg_rgb
        elif disposal == 3 and saved is not None:
            canvas = saved
        disposal, transparent = 0, None  # GCE applies to ONE image
    if not frames:
        raise ValueError("corrupt GIF: no image descriptor")
    return frames


def decode_gif(data: bytes) -> np.ndarray:
    """Decode the first composed frame of a GIF to an (h, w, 3) uint8
    RGB array. Raises ValueError for corrupt data."""
    return decode_gif_frames(data, max_frames=1)[0]


def _lzw_decode(stream: bytes, min_code: int, expect: int) -> list[int]:
    """GIF variable-width LZW: LSB-first codes, dictionary reset on
    CLEAR, width grows at dictionary-full up to 12 bits."""
    clear = 1 << min_code
    end = clear + 1

    def reset():
        return ([bytes([i]) for i in range(clear)] + [b"", b""]), min_code + 1

    table, width = reset()
    out: list[int] = []
    acc = nbits = 0  # LSB-first, so not bitio's MSB-first reader
    prev: bytes | None = None
    for byte in stream:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table, width = reset()
                prev = None
                continue
            if code == end:
                return out[:expect]
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt GIF: LZW code out of range")
            out.extend(entry)
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= expect:
                return out[:expect]
    return out[:expect]


GRAY_PALETTE = bytes(v for i in range(256) for v in (i, i, i))


def _lzw_encode(data: bytes, min_code: int = 8) -> bytes:
    """Real GIF LZW compression, LSB-first variable-width packing.

    Width timing mirrors the decoder by simulation: the decoder creates
    its n-th dictionary entry while reading the (n+1)-th code and grows
    the width when its table length reaches 2^width — so the encoder
    tracks ``next_code - 1`` as the decoder-visible table size and
    grows in lockstep. Resets with CLEAR when the dictionary fills
    (4096), per the spec."""
    clear = 1 << min_code
    end = clear + 1
    acc = nbits = 0  # LSB-first, so not bitio's MSB-first writer
    out = bytearray()

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    dict_: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code + 1
    put(clear, width)
    wbuf = b""
    for ch in data:
        wk = wbuf + bytes([ch])
        if wk in dict_:
            wbuf = wk
            continue
        put(dict_[wbuf], width)
        dict_[wk] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            put(clear, width)
            dict_ = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code + 1
        wbuf = bytes([ch])
    if wbuf:
        put(dict_[wbuf], width)
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
    put(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _image_block(
    gray: np.ndarray, left: int = 0, top: int = 0
) -> bytes:
    """One image descriptor + LZW data for a gray index rectangle."""
    h, w = gray.shape[:2]
    out = bytearray(struct.pack("<BHHHHB", 0x2C, left, top, w, h, 0))
    out.append(8)  # LZW min code size
    payload = _lzw_encode(gray.reshape(-1).tobytes(), 8)
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    out.append(0)  # block terminator
    return bytes(out)


def encode_gif_gray(gray: np.ndarray) -> bytes:
    """Encode an (h, w) uint8 grayscale array as a GIF89a with the
    256-entry gray palette — pixel values ARE palette indices, so the
    encode is exact (GIF is lossless over indices), using real LZW
    compression (:func:`_lzw_encode`)."""
    h, w = gray.shape[:2]
    out = bytearray(b"GIF89a")
    out.extend(struct.pack("<HHBBB", w, h, 0xF7, 0, 0))  # GCT, 256 entries
    out.extend(GRAY_PALETTE)
    out.extend(_image_block(gray))
    out.append(0x3B)  # trailer
    return bytes(out)


def encode_gif_gray_animation(
    frames: list[tuple[np.ndarray, int, int]],
    screen: tuple[int, int],
    disposal: int = 1,
    transparent: int | None = None,
) -> bytes:
    """Encode a GIF89a animation over the gray palette: ``frames`` is
    a list of (gray rectangle, left, top) drawn in order onto a
    ``screen`` = (width, height) canvas; each frame carries a Graphic
    Control Extension with the given disposal method and optional
    transparent index. Lossless over indices, like the still encoder."""
    sw, sh = screen
    out = bytearray(b"GIF89a")
    out.extend(struct.pack("<HHBBB", sw, sh, 0xF7, 0, 0))
    out.extend(GRAY_PALETTE)
    gpack = (disposal & 0x7) << 2
    tidx = 0
    if transparent is not None:
        gpack |= 0x01
        tidx = transparent
    for gray, left, top in frames:
        out.extend(
            struct.pack("<BBBBHBB", 0x21, 0xF9, 4, gpack, 4, tidx, 0)
        )  # GCE: 4-byte block, 4cs delay, terminator
        out.extend(_image_block(gray, left, top))
    out.append(0x3B)
    return bytes(out)
