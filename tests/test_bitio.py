"""Bit-level I/O (operators/bitio.py) and the codecs built on it.

Spark-free. Three groups:

- golden hashes: the SHA-256 of every bit-writing encoder's output over
  a small seeded corpus, so a change to the shared writer that alters
  a single output bit fails here;
- truncation: a payload cut at any byte from where its bit reader
  starts raises ``CodecError``, never a bare ``IndexError``; so does a
  PNG, GIF or TIFF cut anywhere, and a PNG with any single bit flipped;
- the reader and writer classes directly.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from hw_kafka_streams_spark.operators import (
    bitio,
    flaccodec,
    gifcodec,
    gorillacodec,
    jlscodec,
    jpegcodec,
    mcvideo,
    pngcodec,
    tiffcodec,
)


def _rgb(seed: int, h: int = 24, w: int = 40) -> np.ndarray:
    """Smooth gradient plus noise: long zero runs and large AC values."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack([xx * 5, yy * 7, (xx + yy) * 3], axis=-1)
    return np.clip(base + rng.integers(-40, 41, (h, w, 3)), 0, 255).astype(
        np.uint8
    )


def _gray(seed: int, h: int = 24, w: int = 40, hi: int = 256) -> np.ndarray:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    px = (xx * 3 + yy * 5) * hi // 256 + rng.integers(0, hi // 16, (h, w))
    return np.clip(px, 0, hi - 1)


def _pcm(seed: int, n: int, channels: int = 1) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    tone = 9000 * np.sin(2 * np.pi * 440 * t / 8000)
    cols = [tone * (c + 1) / channels + rng.integers(-300, 301, n)
            for c in range(channels)]
    pcm = np.stack(cols, axis=1) if channels > 1 else cols[0]
    return np.round(pcm).astype(np.int16)


def _clip(seed: int) -> np.ndarray:
    """A textured frame moving two pixels right and one down per frame."""
    rng = np.random.default_rng(seed)
    big = rng.integers(0, 256, (40, 48)).astype(np.uint8)
    return np.stack([big[8 - i : 28 - i, 8 - 2 * i : 36 - 2 * i]
                     for i in range(4)])


def _gorilla_scalar(seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    n = 300
    jitter = rng.choice([0, 0, 0, 10, -10, 200, -200, 2000, -2000, 10**9], n)
    ts = np.cumsum(60_000_000 + jitter).astype(np.int64)
    vs = np.round(np.cumsum(rng.standard_normal(n)) + 100, 2)
    vs[rng.random(n) < 0.3] = 42.5
    head = bytearray(b"GOR1" + struct.pack(">I", n))
    return gorillacodec._encode_gorilla_scalar(ts, vs, head)


def _corpus() -> dict[str, bytes]:
    j = jpegcodec
    return {
        "jpeg_baseline_444": j.encode_baseline_jpeg(_rgb(1)),
        "jpeg_baseline_420_rst": j.encode_baseline_jpeg(
            _rgb(2), subsampling="420", restart_interval=2
        ),
        "jpeg_gray": j.encode_baseline_jpeg_gray(_gray(3).astype(np.uint8)),
        "jpeg_gray12": j.encode_extended_jpeg_gray12(
            _gray(4, hi=4096).astype(np.uint16)
        ),
        "jpeg_progressive": j.encode_progressive_jpeg(_rgb(5)),
        "jpeg_lossless": j.encode_lossless_jpeg(
            _gray(6).astype(np.uint8), predictor=7
        ),
        "jpeg_lossless_12": j.encode_lossless_jpeg(
            _gray(7, hi=4096).astype(np.uint16), predictor=4, precision=12
        ),
        "jpeg_hierarchical": j.encode_hierarchical_jpeg(
            _gray(8).astype(np.uint8), levels=3
        ),
        "flac_mono": flaccodec.encode_flac(_pcm(9, 1500)),
        "flac_stereo_lpc": flaccodec.encode_flac(
            _pcm(10, 1200, channels=2), lpc_order=4
        ),
        "flac_variable_wasted": flaccodec.encode_flac(
            (_pcm(11, 900).astype(np.int64) * 4).clip(-32768, 32767),
            block_schedule=[100, 300, 500],
        ),
        "jls_gray": jlscodec.encode_jls(_gray(12).astype(np.uint8)),
        "jls_near": jlscodec.encode_jls(_gray(13).astype(np.uint8), near=2),
        "jls_rgb_ilv1": jlscodec.encode_jls(_rgb(14), ilv=1),
        "jls_rgb_ilv2": jlscodec.encode_jls(_rgb(15), ilv=2),
        "jls_gray16": jlscodec.encode_jls(
            _gray(16, hi=65536).astype(np.uint16)
        ),
        "mclv": mcvideo.encode_mclv(_clip(17)),
        "gorilla_scalar": _gorilla_scalar(19),
        "tiff_lzw": tiffcodec._lzw_compress(
            bytes(np.random.default_rng(20).integers(0, 6, 6000, np.uint8))
        ),
    }


def _scan_start(payload: bytes) -> int:
    """Offset of the first entropy-coded byte after the first SOS."""
    sos = payload.index(b"\xff\xda")
    (seglen,) = struct.unpack(">H", payload[sos + 2 : sos + 4])
    return sos + 2 + seglen


def _truncation_cases():
    """name -> (payload, first cut, end of cuts, decoder). Cuts run from
    the byte where the decoder's bit reader starts to the end of the
    bit-coded data (a JPEG-LS scan ends before its 2-byte EOI); a PNG or
    GIF is cut anywhere (``decode_gif`` reads only up to the end of the
    first image, so its trailer byte is left out; a TIFF is cut anywhere
    too)."""
    flac = flaccodec.encode_flac(_pcm(21, 450, channels=2), block_size=192)
    jls = jlscodec.encode_jls(_gray(22, h=12, w=20).astype(np.uint8))
    jls_ilv1 = jlscodec.encode_jls(_rgb(23, h=6, w=10), ilv=1)
    mclv = mcvideo.encode_mclv(_clip(24)[:3])
    iframe = 24 * 32  # the 20x28 clip padded to 8x8 blocks
    png = pngcodec.encode_png(_rgb(26))
    tiff = tiffcodec.encode_tiff_rgb(_rgb(28, h=12, w=20), compression=5)
    gray = _gray(27, h=12, w=20).astype(np.uint8)
    gif = gifcodec.encode_gif_gray(gray)
    anim = gifcodec.encode_gif_gray_animation(
        [(gray, 0, 0), (gray[:6, :8], 3, 2)], (20, 12), disposal=1
    )
    return {
        "flac": (flac, 4 + 4 + 34, len(flac), flaccodec.decode_flac),
        "jls": (jls, _scan_start(jls), len(jls) - 2, jlscodec.decode_jls),
        "jls_ilv1": (jls_ilv1, _scan_start(jls_ilv1), len(jls_ilv1) - 2,
                     jlscodec.decode_jls),
        "mclv": (mclv, 13 + iframe, len(mclv), mcvideo.decode_mclv),
        "png": (png, 0, len(png), pngcodec.decode_png),
        "gif": (gif, 0, len(gif) - 1, gifcodec.decode_gif),
        "gif_frames": (anim, 0, len(anim), gifcodec.decode_gif_frames),
        "tiff": (tiff, 0, len(tiff), tiffcodec.decode_tiff_pixels),
    }


GOLDEN = {
    "jpeg_baseline_444": "daecfb5752ca021fd6d43d90e4f278a296ea47c6827e3e87db8f39b73c04d516",
    "jpeg_baseline_420_rst": "c7a6866a4acec19e81abd3c996e3717e56f1295cc4ff7de7fab44dd861dbe419",
    "jpeg_gray": "8fc272373b099caed5b0828e828a3b111cd7e37eb47cb8d01649af083aaa45c1",
    "jpeg_gray12": "e6cbea06f6aa59b53d2906ca5c8e6ae9f2123f3ee9c3a8026e5ae5c2d29680be",
    "jpeg_progressive": "16606ff1740cff8ec863dda682560cff81d617e2992a157569fd671a36874b2b",
    "jpeg_lossless": "62a6039388d71578ebb3545f61b623a60bde427fa6147df3020bef68b75a9efc",
    "jpeg_lossless_12": "cceb15f76bd25fd004df7bb6d5786471c0909aa16224d579d88dc296466e950d",
    "jpeg_hierarchical": "7fafed4bba56bb12eda13f3547b4baa6b5db2b19f4731df8ed9e2d47b4dbea21",
    "flac_mono": "8058d61308f1d09fcdbe15858fc87c06710f0231acfbd93ee1de84d83fe4476e",
    "flac_stereo_lpc": "6b3bc6422ca048ad7f90b02b923a201520eeea7792e012322d9296806c4f6674",
    "flac_variable_wasted": "26a25805d6301a8127aa452aa25d0112236b2678703f2d1802cf6d7693b238cc",
    "jls_gray": "9c050de24d0730f218ef3419550b3c637e92b73ead58eb4f375c983f291b702c",
    "jls_near": "4f8834053f2a33b15fea1beab0adc63e1c99c96c9cbd0b97cf0b1ac673f7f9be",
    "jls_rgb_ilv1": "15ad74db7e7056d34afada47e45d875e66f3543c474fc5ebd23eb2ea6420d4b3",
    "jls_rgb_ilv2": "fb560f3211444faee2a659a17eb3d403482d4240e856482428fc0e58b5c6aff8",
    "jls_gray16": "fe8c63bc74ef23dac3c7070b8710fe858cccea158a1658e3d70be4b11392bc41",
    "mclv": "553c6433013b6cd341413c2588e455963e0d5b4c0ea6c473797f7fe0c915fe43",
    "gorilla_scalar": "91f5217b655ce95f467c65cff10dde750887737f455f8960394f3b8ed2b9dc3b",
    "tiff_lzw": "dc57f752db3dd40ec3181ec069827352176737c7adfb1135aad717cd2cb6c508",
}


def test_encoder_bytes_are_pinned():
    """Every bit-writing encoder's output is byte-identical to the
    hashes recorded before the codecs moved onto ``bitio``."""
    got = {k: hashlib.sha256(v).hexdigest() for k, v in _corpus().items()}
    assert got == GOLDEN


@pytest.mark.parametrize(
    "name", ["flac", "jls", "jls_ilv1", "mclv", "png", "gif", "gif_frames", "tiff"]
)
def test_every_truncation_raises_codec_error(name):
    """Cut at every byte of the range: each cut raises ``CodecError`` (a
    bare ``IndexError`` or ``struct.error`` before; a PNG cut in its
    last 16 bytes decoded as whole)."""
    payload, first, end, decode = _truncation_cases()[name]
    decode(payload)  # the whole payload decodes
    for cut in range(first, end):
        with pytest.raises(bitio.CodecError):
            decode(payload[:cut])


def test_every_png_bit_flip_raises_codec_error():
    """Flip each bit past the signature: the chunk CRC-32 catches it
    (a bare ``zlib.error`` escaped before, and a flip inside a CRC
    field decoded silently). An IDAT with a good CRC that zlib cannot
    inflate raises ``CodecError`` too."""
    png = bytearray(pngcodec.encode_png(_rgb(26)))
    for bit in range(8 * 8, 8 * len(png)):
        png[bit // 8] ^= 1 << (bit % 8)
        with pytest.raises(bitio.CodecError):
            pngcodec.decode_png(bytes(png))
        png[bit // 8] ^= 1 << (bit % 8)
    ihdr_end = 8 + 12 + 13
    bad_idat = (
        bytes(png[:ihdr_end])
        + pngcodec._chunk(b"IDAT", b"not zlib")
        + pngcodec._chunk(b"IEND", b"")
    )
    with pytest.raises(bitio.CodecError):
        pngcodec.decode_png(bad_idat)


@pytest.mark.parametrize(
    "reader", [bitio.BitReader, bitio.JpegBitReader, bitio.T87BitReader]
)
def test_read_past_end_raises_codec_error(reader):
    r = reader(b"\x00\x00\x5a", 2)
    assert r.bits(8) == 0x5A
    for read in (r.bit, lambda: r.bits(9), r.unary):
        with pytest.raises(bitio.CodecError):
            read()
    with pytest.raises(bitio.CodecError):
        reader(b"\x00\x00").unary()  # the 0-bits run out


def test_plain_round_trip_and_position():
    rng = np.random.default_rng(0)
    fields = [(int(rng.integers(0, 1 << n)), n) for n in rng.integers(0, 40, 300).tolist()]
    w = bitio.BitWriter()
    for v, n in fields:
        w.write(v, n)
        w.unary(v % 70)
    w.flush()
    r = bitio.BitReader(bytes(w.out))
    for v, n in fields:
        assert r.bits(n) == v
        assert r.unary() == v % 70
    r.align()
    assert r.pos == len(w.out)


def test_jpeg_stuffing_round_trip():
    w = bitio.JpegBitWriter()
    w.write(0xFF, 8)
    w.write(0b1111, 4)
    w.write(0xFF5, 12)
    w.write(0b101, 3)
    w.flush()
    assert bytes(w.out) == b"\xff\x00\xff\x00\xf5\xa0"
    r = bitio.JpegBitReader(bytes(w.out) + b"\xff\xd9")
    assert [r.bits(8), r.bits(4), r.bits(12), r.bits(3)] == [0xFF, 0xF, 0xFF5, 5]
    assert r.pos == 6
    with pytest.raises(bitio.CodecError, match="marker inside scan"):
        r.bits(8)


def test_t87_stuffing_round_trip():
    w = bitio.T87BitWriter()
    w.write(0xFF, 8)
    w.write(0x7F, 7)  # the byte after 0xFF carries 7 bits: 0x7F
    w.write(0xFF, 8)
    w.write(0b11, 2)
    w.flush()
    assert bytes(w.out) == b"\xff\x7f\xff\x60"
    r = bitio.T87BitReader(bytes(w.out))
    assert [r.bits(8), r.bits(7), r.bits(8), r.bits(2)] == [0xFF, 0x7F, 0xFF, 3]
    assert r.bits(5) == 0  # the pad bits
    with pytest.raises(bitio.CodecError):
        r.bit()
