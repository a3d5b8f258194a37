"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Design for 100 TB of images/audio/video interleaved with text:
- payloads are opaque ``BinaryType`` columns co-located with their
  metadata struct (modality, byte length, content hash, declared mime);
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages — the only sane shape for per-item Python
  work: batches stream through executors, schema is fixed up front,
  and the scan stays columnar until the Python boundary.

The container has no image/audio codec LIBRARIES, so exotic
compressed-format decode is STUBBED (``NotImplementedError`` at
clearly-marked points: T.81 QM-arithmetic JPEG modes, interoperable
MP3/H.264 bitstreams — though the CORES of both families are real
now: block-matching motion compensation in operators/mcvideo.py).
But a large real surface is implemented from public specs:
PNG/JPEG/GIF/BMP/TIFF/WebP header parsing, **baseline + progressive +
lossless(SOF3) JPEG pixel decode via the pure-numpy ITU T.81 codec in
operators/jpegcodec.py** (Huffman + dequant + IDCT for the DCT modes,
predictive mod-2^16 differences for lossless; encoders included),
**JPEG-LS / LOCO-I (ITU T.87) encode+decode** — context-adaptive
Golomb coding with run mode (operators/jlscodec.py), PNG
and GIF-LZW pixel
decode (operators/pngcodec.py, operators/gifcodec.py), uncompressed-
BMP pixel decode + nearest-neighbor resize + channel-mean feature
extraction, YUV4MPEG2 (y4m) raw-video frame sampling with per-frame
luma features, **MJPEG AVI container parse + per-frame decode**
(operators/avicontainer.py), 16-bit PCM WAV sample decode + RMS, and
**IMA ADPCM compressed-audio decode** (operators/adpcmcodec.py) — all
byte/numpy math in Arrow-batched stages.
The Spark plumbing — schemas, batch iteration, row-expanding frame
fan-out — is identical to what ffmpeg/PIL-backed stages would use.

Every payload stage goes through two helpers: :func:`payload_stage`
(``(doc_id, payload)`` → rows of a fixed schema, 1:1 decoders and
fan-out samplers alike) and :func:`synth_stage` (id → payload
fixtures). A codec supplies only its per-row function. Both stay
``mapInPandas``: the projection, the physical plan, its job/stage/task
counts and the pandas→Arrow conversion of every output column are
those of the hand-written loops they replaced, so switching a stage to
the helpers changes no oracle hash.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def payload_stage(
    df: DataFrame,
    row_fn: Callable[[int, bytes], Iterable[tuple]],
    schema: str,
    payload_col: str = "payload",
) -> DataFrame:
    """The Arrow-batched payload stage, written once.

    Projects ``doc_id`` and ``payload_col``, calls ``row_fn(doc_id,
    bytes(payload))`` for every row and frames each batch's output
    tuples by position against the DDL ``schema``. ``row_fn`` returns an
    iterable of tuples: one for a 1:1 decoder, any number (zero
    included) for a fan-out such as a frame sampler. An exception in
    ``row_fn`` fails the task and so the query.
    """
    names = DataType.fromDDL(schema).names

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                rows.extend(row_fn(doc_id, bytes(payload)))
            yield pd.DataFrame(rows, columns=names)

    return df.select("doc_id", payload_col).mapInPandas(stage, schema=schema)


def synth_stage(
    ids_df: DataFrame, make_payload: Callable[[int], bytes]
) -> DataFrame:
    """The id → payload fixture stage: ``make_payload(id)`` for every
    row of the one-column ``ids_df``, as ``doc_id long, payload
    binary``. The caller picks the projection: ``df.select(id_col)``,
    or :func:`_ids_spread` for the heavy codecs."""

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf.iloc[:, 0].astype("int64")
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [make_payload(int(i)) for i in ids]}
            )

    return ids_df.mapInPandas(stage, schema="doc_id long, payload binary")


#: output of :func:`pixel_channel_means` behind a doc id; BMP names its
#: channels b, g, r instead (its pixels are stored BGR)
RGB_MEANS_SCHEMA = (
    "doc_id long, width int, height int, mean_r int, mean_g int, mean_b int"
)


def pixel_channel_means(px: np.ndarray) -> tuple[int, int, int, int, int]:
    """``(width, height, mean_0, mean_1, mean_2)`` of an (h, w, 3)
    image: exact integer channel means, ``sum // n`` in int64."""
    h, w, _ = px.shape
    s = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
    n = h * w
    return w, h, int(s[0] // n), int(s[1] // n), int(s[2] // n)


def _ids_spread(df: DataFrame, id_col: str) -> DataFrame:
    """Project to the id column and spread it across the cluster.

    Used by the HEAVY-codec synthesizers only (JPEG-LS, MC video,
    FLAC: >= ~1.5 s of single-threaded encode+decode Python per 150
    files, measured): their fixture ids arrive as ONE tiny scan
    partition, so the whole codec pipeline ran serially on one core
    of a 32-core host (q_multimodal_jls 3.5 → 1.7 s fresh-session by
    spreading; the chained *_stats decode inherits the partitioning).
    A deterministic hash repartition on the id (never round-robin-on-
    rand — retried tasks must re-draw identical placement, guide
    §2.5) spreads the Python work over ``defaultParallelism`` cores;
    the exchange moves only the id column. Inputs that already carry
    >= that many partitions (real corpus scans at scale) are left
    untouched — no shuffle is added on the 100 TB path.

    The LIGHT synthesizers (header-parse/tiny-plane codecs, < ~1 s of
    Python) deliberately do NOT use it: the extra exchange + 32-task
    fan-out costs ~0.4-0.5 s that their serial Python never spends
    (measured regressions on q_multimodal_jpeg/jpeg12/avi).
    """
    from hw_kafka_streams_spark.operators.skew import spread_small

    return spread_small(df.select(F.col(id_col)), key=id_col)

DECODED_IMAGE_SCHEMA = (
    "doc_id long, width int, height int, format string, n_bytes long"
)


def attach_payload_metadata(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Typed metadata over an opaque binary column — all JVM-side
    (length, sha2, magic-byte mime sniff); no Python in this stage.
    """
    payload = F.col(payload_col)
    mime = (
        F.when(F.hex(F.substring(payload, 1, 4)) == "89504E47", "image/png")
        .when(F.hex(F.substring(payload, 1, 3)) == "FFD8FF", "image/jpeg")
        .when(F.hex(F.substring(payload, 1, 4)) == "52494646", "audio/wav")
        .when(F.hex(F.substring(payload, 1, 4)) == "47494638", "image/gif")
        .when(F.hex(F.substring(payload, 1, 2)) == "424D", "image/bmp")
        .otherwise("application/octet-stream")
    )
    return df.select(
        F.col(id_col),
        payload,
        F.length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("content_sha256"),
        mime.alias("mime"),
    )


def _parse_png_dims(data: bytes) -> tuple[int, int] | None:
    # PNG: 8-byte signature, then IHDR chunk: len(4) 'IHDR' width(4) height(4)
    if len(data) >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n" and data[12:16] == b"IHDR":
        w, h = struct.unpack(">II", data[16:24])
        return w, h
    return None


# SOF markers carrying frame dimensions: C0-C3, C5-C7, C9-CB, CD-CF
# (C4=DHT, C8=JPG extension, CC=DAC are NOT frame headers)
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _parse_jpeg_dims(data: bytes) -> tuple[int, int] | None:
    """JPEG frame dimensions by walking the marker segments to SOFn —
    pure byte-math, no codec: each segment is FF <marker> <len:2BE>,
    and the SOF payload is precision(1) height(2BE) width(2BE)."""
    if len(data) < 4 or data[:3] != b"\xff\xd8\xff":
        return None
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            return None  # lost marker sync — corrupt header
        marker = data[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone markers: no length field
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        (seg_len,) = struct.unpack(">H", data[i + 2 : i + 4])
        if marker in _JPEG_SOF_MARKERS:
            if i + 9 > n:
                return None
            h, w = struct.unpack(">HH", data[i + 5 : i + 9])
            return w, h
        i += 2 + seg_len
    return None


def _parse_gif_dims(data: bytes) -> tuple[int, int] | None:
    # GIF87a/GIF89a signature, then logical-screen width/height (2 LE each)
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", data[6:10])
        return w, h
    return None


def _parse_bmp_dims(data: bytes) -> tuple[int, int] | None:
    # BM file header (14 bytes), then BITMAPINFOHEADER: size(4),
    # width @18 (4 LE signed), height @22 (4 LE signed; negative =
    # top-down row order, magnitude is the pixel height)
    if len(data) >= 26 and data[:2] == b"BM":
        w, h = struct.unpack("<ii", data[18:26])
        return abs(w), abs(h)
    return None


def _parse_tiff_dims(data: bytes) -> tuple[int, int] | None:
    """TIFF dimensions by walking the first IFD — pure byte math.

    Header: 'II'/'MM' byte order, magic 42, 4-byte offset to IFD 0.
    IFD: 2-byte entry count, then 12-byte entries of tag(2) type(2)
    count(4) value-or-offset(4); ImageWidth = tag 256, ImageLength =
    tag 257, value inline for SHORT(3)/LONG(4) with count 1 (left-
    justified in the 4 value bytes per the spec, so a SHORT reads as
    the first 2 bytes in file byte order).
    """
    if len(data) < 8:
        return None
    if data[:4] == b"II*\x00":
        e = "<"
    elif data[:4] == b"MM\x00*":
        e = ">"
    else:
        return None
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    if len(data) < ifd_off + 2:
        return None
    (n_entries,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
    width = height = None
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        if len(data) < base + 12:
            return None
        tag, typ = struct.unpack(e + "HH", data[base : base + 4])
        if tag not in (256, 257):
            continue
        if typ == 3:  # SHORT, inline
            (val,) = struct.unpack(e + "H", data[base + 8 : base + 10])
        elif typ == 4:  # LONG, inline
            (val,) = struct.unpack(e + "I", data[base + 8 : base + 12])
        else:
            continue
        if tag == 256:
            width = val
        else:
            height = val
    if width is not None and height is not None:
        return width, height
    return None


def _parse_webp_dims(data: bytes) -> tuple[int, int] | None:
    """WebP dimensions from the first chunk after the RIFF container —
    covers all three variants, pure byte math:

    - VP8X (extended): canvas width−1 / height−1 as 24-bit LE at
      offsets 24 / 27;
    - VP8L (lossless): signature byte 0x2F at 20, then 14-bit width−1
      and height−1 packed little-endian in the next 4 bytes;
    - 'VP8 ' (lossy): frame tag, sync code 9D 01 2A at 23, then 14-bit
      width / height at 26 / 28 (2 LE bytes each, masked).
    """
    if len(data) < 30 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        return None
    chunk = data[12:16]
    if chunk == b"VP8X":
        w = int.from_bytes(data[24:27], "little") + 1
        h = int.from_bytes(data[27:30], "little") + 1
        return w, h
    if chunk == b"VP8L" and data[20] == 0x2F:
        bits = int.from_bytes(data[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return w, h
    if chunk == b"VP8 " and data[23:26] == b"\x9d\x01\x2a":
        w = struct.unpack("<H", data[26:28])[0] & 0x3FFF
        h = struct.unpack("<H", data[28:30])[0] & 0x3FFF
        return w, h
    return None


_IMAGE_PARSERS = (
    ("png", _parse_png_dims),
    ("jpeg", _parse_jpeg_dims),
    ("gif", _parse_gif_dims),
    ("bmp", _parse_bmp_dims),
    ("tiff", _parse_tiff_dims),
    ("webp", _parse_webp_dims),
)


def decode_image_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched decode stage: binary → (width, height, format).

    Real header parsing for PNG (IHDR), JPEG (SOFn marker scan), GIF
    (logical screen descriptor), BMP (BITMAPINFOHEADER), TIFF (first-
    IFD walk, either byte order) and WebP (VP8/VP8L/VP8X chunk
    headers); everything else hits the stub. The mapInPandas shape (iterator of batches
    in/out) is exactly what a real pillow/ffmpeg decode stage would
    use — swap the row function when codecs are available.
    """

    def row(doc_id, raw: bytes):
        for fmt, parser in _IMAGE_PARSERS:
            dims = parser(raw)
            if dims is not None:
                return [(doc_id, dims[0], dims[1], fmt, len(raw))]
        # STUB: no image codecs in this container — formats beyond
        # these six header layouts (and any PIXEL decode of compressed
        # data) need pillow; a real deployment decodes here.
        raise NotImplementedError(
            "non-PNG/JPEG/GIF/BMP/TIFF/WebP decode requires "
            "codec libraries not present in this environment"
        )

    return payload_stage(df, row, DECODED_IMAGE_SCHEMA, payload_col)


DECODED_AUDIO_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, bits int, n_bytes long"
)


def _parse_wav_header(data: bytes) -> tuple[int, int, int] | None:
    # RIFF....WAVEfmt : channels@22(2LE), sample_rate@24(4LE), bits@34(2LE)
    if (
        len(data) >= 36
        and data[:4] == b"RIFF"
        and data[8:12] == b"WAVE"
        and data[12:15] == b"fmt"
    ):
        (n_channels,) = struct.unpack("<H", data[22:24])
        (sample_rate,) = struct.unpack("<I", data[24:28])
        (bits,) = struct.unpack("<H", data[34:36])
        return sample_rate, n_channels, bits
    return None


def decode_audio_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched audio decode stage: WAV header → (rate, channels, bits).

    Same mapInPandas shape as :func:`decode_image_meta`; real RIFF/WAVE
    header byte-math, non-WAV payloads hit the codec stub.
    """

    def row(doc_id, raw: bytes):
        meta = _parse_wav_header(raw)
        if meta is None:
            # STUB: compressed-audio decode needs ffmpeg/soundfile.
            raise NotImplementedError(
                "non-WAV audio decode requires codec libraries not "
                "present in this environment"
            )
        return [(doc_id, *meta, len(raw))]

    return payload_stage(df, row, DECODED_AUDIO_SCHEMA, payload_col)


def make_fake_wav(sample_rate: int, n_channels: int = 1, bits: int = 16) -> bytes:
    """Deterministic minimal WAV header+filler for plumbing tests."""
    fmt = struct.pack(
        "<HHIIHH",
        1,  # PCM
        n_channels,
        sample_rate,
        sample_rate * n_channels * bits // 8,
        n_channels * bits // 8,
        bits,
    )
    body = b"\x00" * 8
    return (
        b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )


def make_fake_png(width: int, height: int) -> bytes:
    """Deterministic minimal PNG header+filler for plumbing tests."""
    ihdr = struct.pack(">II", width, height) + b"\x08\x02\x00\x00\x00"
    body = hashlib.sha256(f"{width}x{height}".encode()).digest()
    return b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR" + ihdr + body


def make_fake_jpeg(width: int, height: int) -> bytes:
    """Deterministic minimal JPEG (SOI + APP0/JFIF + SOF0 + filler) for
    plumbing tests — enough marker structure for the SOFn scan."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x48\x00\x48\x00\x00"
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"  # precision
        + struct.pack(">HH", height, width)
        + b"\x01\x01\x11\x00"  # 1 component
    )
    body = hashlib.sha256(f"jpeg{width}x{height}".encode()).digest()
    return b"\xff\xd8" + app0 + sof0 + body


def make_fake_gif(width: int, height: int) -> bytes:
    """Deterministic minimal GIF (signature + logical screen descriptor
    + filler) for plumbing tests."""
    body = hashlib.sha256(f"gif{width}x{height}".encode()).digest()
    return (
        b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00" + body
    )


def make_fake_bmp(width: int, height: int) -> bytes:
    """Deterministic minimal BMP (BM header + BITMAPINFOHEADER +
    filler) for plumbing tests."""
    filler = hashlib.sha256(f"bmp{width}x{height}".encode()).digest()[:8]
    size = 14 + 40 + len(filler)
    file_hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, 0, 2835, 2835, 0, 0)
    return file_hdr + dib + filler


def make_fake_tiff(width: int, height: int) -> bytes:
    """Deterministic minimal TIFF (little-endian header + one IFD with
    ImageWidth/ImageLength LONG entries + filler) for plumbing tests."""
    filler = hashlib.sha256(f"tiff{width}x{height}".encode()).digest()[:8]
    ifd = (
        struct.pack("<H", 2)
        + struct.pack("<HHII", 256, 4, 1, width)
        + struct.pack("<HHII", 257, 4, 1, height)
        + struct.pack("<I", 0)  # next-IFD offset: none
    )
    return b"II*\x00" + struct.pack("<I", 8) + ifd + filler


def make_fake_webp(width: int, height: int) -> bytes:
    """Deterministic minimal lossy WebP (RIFF + 'VP8 ' chunk with the
    9D 01 2A sync code) for plumbing tests."""
    filler = hashlib.sha256(f"webp{width}x{height}".encode()).digest()[:8]
    vp8 = (
        b"\x00\x00\x00"  # frame tag
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", width, height)
        + filler
    )
    riff_size = 4 + 8 + len(vp8)  # 'WEBP' + chunk header + payload
    return (
        b"RIFF"
        + struct.pack("<I", riff_size)
        + b"WEBP"
        + b"VP8 "
        + struct.pack("<I", len(vp8))
        + vp8
    )


_FAKE_IMAGE_MAKERS = (
    make_fake_png,
    make_fake_jpeg,
    make_fake_gif,
    make_fake_bmp,
    make_fake_tiff,
    make_fake_webp,
)


def synthesize_image_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Mixed-format payloads: ``id % 6`` cycles PNG / JPEG / GIF / BMP /
    TIFF / WebP at ``(id % 640 + 16) x (id % 480 + 16)``, so an SQL
    oracle can verify the decode roundtrip per format."""
    return synth_stage(
        df.select(id_col),
        lambda i: _FAKE_IMAGE_MAKERS[i % 6](i % 640 + 16, i % 480 + 16),
    )


# ------------------------------------------------------------- real pixels
# Everything below operates on REAL pixel/sample/frame bytes — no codec
# needed: uncompressed 24-bit BMP, YUV4MPEG2 (y4m) raw video, and PCM
# WAV are pure byte-math formats. This upgrades the multimodal surface
# from "header metadata only" to actual decode → transform →
# feature-extract stages; only COMPRESSED formats (JPEG pixels, MP3,
# H.264) remain behind the NotImplementedError stubs above.


def make_real_bmp(
    width: int, height: int, fill: tuple[int, int, int] = (0, 0, 0)
) -> bytes:
    """A complete, valid, uncompressed 24-bit BMP with every pixel set
    to ``fill`` (B, G, R) — real rows, real 4-byte row padding."""
    row = bytes(fill) * width
    pad = b"\x00" * ((4 - (len(row) % 4)) % 4)
    pixels = (row + pad) * height
    size = 14 + 40 + len(pixels)
    file_hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, 0, 2835, 2835, 0, 0
    )
    return file_hdr + dib + pixels


def _bmp_pixels(data: bytes):
    """Parse an uncompressed 24-bit BMP into an (h, w, 3) numpy array
    (bottom-up row order preserved as stored; callers that only do
    per-pixel math don't care)."""
    if data[:2] != b"BM":
        return None
    (offset,) = struct.unpack("<I", data[10:14])
    w, h = struct.unpack("<ii", data[18:26])
    (bpp,) = struct.unpack("<H", data[28:30])
    if bpp != 24 or h <= 0 or w <= 0:
        return None
    stride = (w * 3 + 3) // 4 * 4
    arr = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=offset)
    return arr.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)


def resize_bmp_nearest(
    df: DataFrame, out_w: int, out_h: int, payload_col: str = "payload"
) -> DataFrame:
    """REAL image resize (nearest neighbor) over uncompressed 24-bit
    BMP payloads — an Arrow-batched mapInPandas stage doing actual
    pixel gathers in numpy and re-packing valid BMPs. The shape every
    vision-data pipeline needs (thumbnail / model-input normalization);
    at 100 TB it is an embarrassingly parallel narrow map, the same
    plan as the header decoders. Non-BMP payloads raise at the stub
    (compressed decode needs codecs this container lacks).
    """

    def row(doc_id, raw: bytes):
        px = _bmp_pixels(raw)
        if px is None:
            raise NotImplementedError(
                "non-BMP resize requires codec libraries not "
                "present in this environment"
            )
        h, w, _ = px.shape
        yi = (np.arange(out_h) * h) // out_h
        xi = (np.arange(out_w) * w) // out_w
        resized = px[yi][:, xi]
        row_pad = b"\x00" * ((4 - (out_w * 3 % 4)) % 4)
        body = b"".join(resized[r].tobytes() + row_pad for r in range(out_h))
        hdr = (
            b"BM"
            + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII", 40, out_w, out_h, 1, 24, 0, 0, 2835, 2835, 0, 0
            )
        )
        return [(doc_id, hdr + body)]

    return payload_stage(df, row, "doc_id long, payload binary", payload_col)


def bmp_channel_means(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Per-image exact integer channel sums/means over real BMP pixels
    (numpy reductions per Arrow batch) — the feature-extract stage."""

    def row(doc_id, raw: bytes):
        px = _bmp_pixels(raw)
        if px is None:
            raise NotImplementedError("non-BMP payload")
        return [(doc_id, *pixel_channel_means(px))]

    return payload_stage(
        df,
        row,
        "doc_id long, width int, height int, mean_b int, mean_g int, mean_r int",
        payload_col,
    )


def make_fake_y4m(
    width: int, height: int, n_frames: int, luma_of_frame
) -> bytes:
    """A complete, valid YUV4MPEG2 (y4m) raw-video file: plain-text
    stream header, per-frame FRAME markers, real 4:2:0 planes. Frame
    i's Y plane is filled with ``luma_of_frame(i)``; U/V are neutral
    128. y4m is the standard codec-free interchange format (mjpegtools/
    ffmpeg), so this is REAL video container plumbing, not a mock."""
    hdr = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C420\n".encode()
    frames = []
    for i in range(n_frames):
        y = bytes([luma_of_frame(i)]) * (width * height)
        uv = b"\x80" * ((width // 2) * (height // 2))
        frames.append(b"FRAME\n" + y + uv + uv)
    return hdr + b"".join(frames)


def sample_video_frames(
    df: DataFrame, every_n: int = 2, payload_col: str = "payload"
) -> DataFrame:
    """REAL video frame sampling over y4m payloads: parse the stream
    header, walk the FRAME records, keep every ``every_n``-th frame,
    and emit per-frame features (exact integer mean luma). One input
    row fans out to its sampled frames — the mapInPandas row-expanding
    shape that a ffmpeg-backed sampler would use identically;
    compressed containers raise ``NotImplementedError``.
    """

    def frames(doc_id, raw: bytes):
        if not raw.startswith(b"YUV4MPEG2"):
            raise NotImplementedError(
                "compressed video requires ffmpeg; only y4m is "
                "decodable in this environment"
            )
        nl = raw.index(b"\n")
        fields = dict(
            (p[0:1].decode(), p[1:].decode()) for p in raw[10:nl].split(b" ") if p
        )
        w, h = int(fields["W"]), int(fields["H"])
        fsize = w * h + 2 * ((w // 2) * (h // 2))
        pos, idx = nl + 1, 0
        while pos + 6 + fsize <= len(raw):
            assert raw[pos : pos + 6] == b"FRAME\n"
            if idx % every_n == 0:
                y = np.frombuffer(raw, dtype=np.uint8, count=w * h, offset=pos + 6)
                yield (doc_id, idx, w, h, int(y.astype(np.int64).mean()))
            pos += 6 + fsize
            idx += 1

    return payload_stage(
        df,
        frames,
        "doc_id long, frame_idx int, width int, height int, mean_luma int",
        payload_col,
    )


def make_fake_wav_pcm(
    sample_rate: int, amplitude: int, n_samples: int
) -> bytes:
    """A complete 16-bit mono PCM WAV whose data is a ±amplitude square
    wave — real samples (RMS is exactly ``amplitude``)."""
    samples = struct.pack(
        f"<{n_samples}h",
        *[amplitude if i % 2 == 0 else -amplitude for i in range(n_samples)],
    )
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )


def audio_rms(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL audio feature extraction: decode 16-bit PCM WAV samples
    (numpy) and emit per-clip (n_samples, rms) — the
    loudness/silence-detection stage of an audio-data pipeline, as an
    Arrow-batched narrow map. Compressed audio raises at the stub."""
    import math

    def row(doc_id, raw: bytes):
        meta = _parse_wav_header(raw)
        if meta is None or meta[2] != 16:
            raise NotImplementedError(
                "compressed/non-16-bit audio requires codec libraries"
            )
        di = raw.index(b"data")
        (dlen,) = struct.unpack("<I", raw[di + 4 : di + 8])
        x = np.frombuffer(raw, dtype="<i2", count=dlen // 2, offset=di + 8).astype(
            np.int64
        )
        ms = (x * x).sum() / len(x) if len(x) else 0.0
        return [(doc_id, len(x), math.sqrt(ms))]

    return payload_stage(
        df, row, "doc_id long, n_samples long, rms double", payload_col
    )


# ---------------------------------------------------------- real JPEG
# Real compressed-image pixel decode: the pure-numpy ITU T.81 codec
# (operators/jpegcodec.py) — baseline AND progressive (spectral
# selection + successive approximation), Huffman entropy decode,
# dequant, IDCT. Only arithmetic-coded/lossless modes remain stubbed
# (inside the codec).


def synthesize_real_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL JPEG per row (Annex-K tables, 4:4:4), deterministic
    from the id: constant fill (id%256, 7id%256, 13id%256), dims
    8·(id%3+1) × 8·(id%2+1). Every fifth payload encodes PROGRESSIVE
    (SOF2, 10-scan spectral-selection + successive-approximation
    script) — the quantized coefficients are identical to baseline, so
    the same closed-form oracle (jpegcodec.dc_roundtrip_value) covers
    both entropy organizations, and q_multimodal_jpeg value-hash
    verifies the progressive decode path end to end."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        encode_baseline_jpeg,
        encode_progressive_jpeg,
    )

    def make(i: int) -> bytes:
        img = np.full(
            (8 * (i % 2 + 1), 8 * (i % 3 + 1), 3),
            (i % 256, (i * 7) % 256, (i * 13) % 256),
            dtype=np.uint8,
        )
        enc = encode_progressive_jpeg if i % 5 == 0 else encode_baseline_jpeg
        return enc(img)

    return synth_stage(df.select(id_col), make)


def jpeg_channel_means(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Per-image channel means over REAL decoded JPEG pixels — the
    feature-extract stage (bmp_channel_means' twin for a compressed
    codec). Arrow-batched mapInPandas; each payload runs the full
    T.81 baseline decode (Huffman → dequant → IDCT → color
    transform), then exact integer mean (sum // n)."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
    )

    return payload_stage(
        df,
        lambda doc_id, raw: [(doc_id, *pixel_channel_means(decode_baseline_jpeg(raw)))],
        RGB_MEANS_SCHEMA,
        payload_col,
    )


def synthesize_block_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Block-patterned REAL JPEGs: each 8x8 block of doc ``i`` gets its
    own constant fill derived from (i, block index) — so the encoded
    stream carries NONZERO DC differences across blocks (exercising
    Huffman DC-category coding and the bit packer across many value
    sizes), while each block individually stays closed-form
    predictable: DC quantization is per-block and the diff coding of
    quantized DCs is lossless. 4:4:4 so chroma blocks align with luma
    blocks. Dims are multiples of 8 (no edge padding), so the channel
    mean is the exact block-value average."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        encode_baseline_jpeg,
    )

    return synth_stage(
        df.select(id_col),
        lambda i: encode_baseline_jpeg(_block_fill_image(i), subsampling="444"),
    )


def _block_fill_image(i: int) -> np.ndarray:
    """Doc ``i``'s block-patterned image, shared by the baseline and
    arithmetic block-JPEG synthesizers: 8·(i%2+1) × 8·(i%3+1) RGB,
    each 8x8 block ``bi`` filled with ((i + 17bi) % 256,
    (7i + 29bi) % 256, (13i + 41bi) % 256)."""
    h, w = 8 * (i % 2 + 1), 8 * (i % 3 + 1)
    img = np.zeros((h, w, 3), dtype=np.uint8)
    for by in range(h // 8):
        for bx in range(w // 8):
            bi = by * (w // 8) + bx
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                (i + 17 * bi) % 256,
                (i * 7 + 29 * bi) % 256,
                (i * 13 + 41 * bi) % 256,
            )
    return img


# ------------------------------------------------------------- real PNG
# Lossless real-pixel PNG (operators/pngcodec.py: stdlib zlib DEFLATE +
# per-row unfiltering, public spec). Encode→decode is bit-exact, so the
# oracle can predict every decoded pixel from the synthesis formula.


def synthesize_real_png_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL PNG per row with a deterministic per-pixel gradient:
    pixel (y, x) of doc i is ((i + 3x + 5y) % 256, (7i + 2x + y) % 256,
    (13i + x + 4y) % 256), dims (8 + i%7) rows x (8 + i%9) cols.
    Every third doc encodes ADAM7-INTERLACED (same pixels, different
    wire layout) so the oracled decode exercises both scanline orders —
    lossless means the oracle's pixel predictions hold either way."""
    from hw_kafka_streams_spark.operators.pngcodec import (
        encode_png,
        encode_png_interlaced,
    )

    def make(i: int) -> bytes:
        h, w = 8 + i % 7, 8 + i % 9
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [
                (i + 3 * xx + 5 * yy) % 256,
                (i * 7 + 2 * xx + yy) % 256,
                (i * 13 + xx + 4 * yy) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        enc = encode_png_interlaced if i % 3 == 0 else encode_png
        return enc(img)

    return synth_stage(df.select(id_col), make)


def png_channel_means(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer channel means over REAL decoded PNG pixels —
    the lossless twin of jpeg_channel_means."""
    from hw_kafka_streams_spark.operators.pngcodec import decode_png

    return payload_stage(
        df,
        lambda doc_id, raw: [(doc_id, *pixel_channel_means(decode_png(raw)))],
        RGB_MEANS_SCHEMA,
        payload_col,
    )


# ------------------------------------------------------------- real GIF
# Real LZW pixel decode (operators/gifcodec.py): variable-width codes,
# dictionary growth, de-interlacing, palette lookup — public GIF89a
# spec. Lossless over palette indices, so decoded pixels are exactly
# the synthesis formula.


def synthesize_real_gif_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL LZW-compressed grayscale GIF per row: pixel (y, x) of
    doc i is (11i + 2x + 3y) % 256, dims (8 + i%7) rows x (8 + i%9)
    cols, gray 256-entry palette."""
    from hw_kafka_streams_spark.operators.gifcodec import encode_gif_gray

    def make(i: int) -> bytes:
        h, w = 8 + i % 7, 8 + i % 9
        yy, xx = np.mgrid[0:h, 0:w]
        return encode_gif_gray(((11 * i + 2 * xx + 3 * yy) % 256).astype(np.uint8))

    return synth_stage(df.select(id_col), make)


def gif_channel_means(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer mean over REAL LZW-decoded GIF pixels (gray
    payloads decode to replicated RGB; the R plane is reported)."""
    from hw_kafka_streams_spark.operators.gifcodec import decode_gif

    def row(doc_id, raw: bytes):
        rgb = decode_gif(raw)
        h, w, _ = rgb.shape
        return [(doc_id, w, h, int(rgb[..., 0].astype(np.int64).sum()) // (h * w))]

    return payload_stage(
        df, row, "doc_id long, width int, height int, mean_gray int", payload_col
    )


def synthesize_real_gif_anim_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL 3-frame animated GIF per row: a full-canvas fill, then
    two nested sub-rectangle updates (disposal=1, draw-over), all
    LZW-compressed for real. Fills are deterministic from the id, and
    frame composition reduces to area-weighted integer means — the
    closed form q_multimodal_gif_anim's oracle replays."""
    from hw_kafka_streams_spark.operators.gifcodec import (
        encode_gif_gray_animation,
    )

    def make(i: int) -> bytes:
        w, h = 8 + i % 9, 8 + i % 7
        v1, v2, v3 = (11 * i + 3) % 256, (7 * i + 5) % 256, (13 * i + 1) % 256
        frames = [
            (np.full((h, w), v1, dtype=np.uint8), 0, 0),
            (np.full((h - 2, w - 2), v2, dtype=np.uint8), 1, 1),
            (np.full((h // 2, w // 2), v3, dtype=np.uint8), 2, 2),
        ]
        return encode_gif_gray_animation(frames, (w, h), disposal=1)

    return synth_stage(df.select(id_col), make)


def gif_frame_means(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Per-frame integer gray means over COMPOSED animation frames
    (full disposal/transparency semantics in gifcodec) — the GIF twin
    of the MJPEG-AVI per-frame fan-out."""
    from hw_kafka_streams_spark.operators.gifcodec import decode_gif_frames

    def frames(doc_id, raw: bytes):
        for fi, fr in enumerate(decode_gif_frames(raw)):
            g = fr[..., 0].astype(np.int64)
            yield (doc_id, fi, int(g.sum() // g.size))

    return payload_stage(
        df, frames, "doc_id long, frame_idx int, mean_gray int", payload_col
    )


def synthesize_real_tiff_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL uncompressed TIFF per row, same per-pixel gradient as
    the PNG synthesizer (pixel (y, x) of doc i = ((5i + 2x + 3y) % 256,
    (3i + x + 2y) % 256, (7i + 4x + y) % 256), dims (8 + i%7) rows x
    (8 + i%9) cols); every third doc encodes BIG-ENDIAN (MM) so the
    oracled decode exercises both byte orders, and compression cycles
    none / TIFF-LZW / Deflate by i%4 (i%4==3 adds the horizontal-
    differencing predictor) — lossless, so the oracle is untouched.
    Every 5th doc stores the SAME pixel values as 16-BIT samples
    (BitsPerSample [16,16,16], file-byte-order words), so the oracled
    battery also covers the round-9 16-bit read path; values are
    unchanged, so the oracle stays identical."""
    from hw_kafka_streams_spark.operators.tiffcodec import encode_tiff_rgb

    def make(i: int) -> bytes:
        h, w = 8 + i % 7, 8 + i % 9
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [
                (5 * i + 2 * xx + 3 * yy) % 256,
                (3 * i + xx + 2 * yy) % 256,
                (7 * i + 4 * xx + yy) % 256,
            ],
            axis=-1,
        ).astype(np.uint16 if i % 5 == 0 else np.uint8)
        return encode_tiff_rgb(
            img,
            ">" if i % 3 == 0 else "<",
            compression={0: 1, 1: 5, 2: 8, 3: 5}[i % 4],
            predictor=2 if i % 4 == 3 else 1,
        )

    return synth_stage(df.select(id_col), make)


def tiff_channel_means(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer channel means over REAL decoded TIFF pixels —
    the uncompressed twin of png_channel_means."""
    from hw_kafka_streams_spark.operators.tiffcodec import decode_tiff_pixels

    return payload_stage(
        df,
        lambda doc_id, raw: [(doc_id, *pixel_channel_means(decode_tiff_pixels(raw)))],
        RGB_MEANS_SCHEMA,
        payload_col,
    )


def synthesize_g711_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One deterministic G.711 byte stream per row: byte i of doc d is
    (31·d + 7·i) % 256, length 64 + d%64 — the same stream decodes
    under BOTH companding laws in q_multimodal_g711, and the per-byte
    closed forms let the oracle recompute every sample."""

    def make(d: int) -> bytes:
        i = np.arange(64 + d % 64, dtype=np.int64)
        return ((31 * d + 7 * i) % 256).astype(np.uint8).tobytes()

    return synth_stage(df.select(id_col), make)


def g711_sample_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Decode each payload under µ-law AND A-law (operators/g711.py)
    and reduce to exact integer sample sums — the strongest possible
    check on a companding codec (every decoded value participates)."""
    from hw_kafka_streams_spark.operators.g711 import alaw_decode, ulaw_decode

    def row(doc_id, raw: bytes):
        u = ulaw_decode(raw).astype(np.int64)
        a = alaw_decode(raw).astype(np.int64)
        return [
            (doc_id, len(raw), int(u.sum()), int(np.abs(u).sum()),
             int(a.sum()), int(np.abs(a).sum()))
        ]

    return payload_stage(
        df,
        row,
        "doc_id long, n_samples long, ulaw_sum long, "
        "ulaw_abs_sum long, alaw_sum long, alaw_abs_sum long",
        payload_col,
    )


# ------------------------------------------------------------- real QOI
# Full qoiformat.org codec (operators/qoicodec.py): RUN/INDEX/DIFF/
# LUMA/RGB chunk ops, 64-slot rolling hash index. Lossless, so the
# synthesized-payload decode is arithmetic-oracle-able like PNG/GIF.


def synthesize_qoi_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One REAL QOI file per row. Doc i is (8 + i%6) rows x (8 + i%11)
    cols; pixel (y, x) is ((5i + 2x + 7y) % 256, (3i + 4x + y) % 256,
    (11i + x + 2y) % 256) — the x/y steps land in QOI_OP_LUMA range so
    the gradient exercises the luma path — except every fifth doc is
    FLAT (every pixel = the (0,0) value), exercising QOI_OP_RUN and the
    62-run split."""
    from hw_kafka_streams_spark.operators.qoicodec import encode_qoi

    def make(i: int) -> bytes:
        h, w = 8 + i % 6, 8 + i % 11
        yy, xx = np.mgrid[0:h, 0:w]
        if i % 5 == 0:
            yy, xx = np.zeros_like(yy), np.zeros_like(xx)
        img = np.stack(
            [
                (5 * i + 2 * xx + 7 * yy) % 256,
                (3 * i + 4 * xx + yy) % 256,
                (11 * i + xx + 2 * yy) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        return encode_qoi(img)

    return synth_stage(df.select(id_col), make)


def qoi_channel_means(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer channel means over REAL decoded QOI pixels."""
    from hw_kafka_streams_spark.operators.qoicodec import decode_qoi

    return payload_stage(
        df,
        lambda doc_id, raw: [(doc_id, *pixel_channel_means(decode_qoi(raw)))],
        RGB_MEANS_SCHEMA,
        payload_col,
    )


# ------------------------------------------------------------ real FLAC
# Fixed-predictor FLAC (operators/flaccodec.py): real bitstream with
# CRC-8/CRC-16/MD5 integrity, CONSTANT/VERBATIM/FIXED subframes and
# partitioned Rice residuals. Lossless -> arithmetic-oracle-able.


def synthesize_flac_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One REAL FLAC file per row, n = 400 + (i%7)*100 samples per
    channel (several full 256-sample frames plus a partial tail).

    Every third doc (i % 3 == 0) is STEREO 24-bit — left is the 16-bit
    sawtooth scaled x37 (exceeds the int16 range, proving real 24-bit
    depth), right an independently-phased sawtooth x41 — encoded in
    ``auto`` stereo mode so the per-frame channel-assignment search
    (independent / left-side / right-side / mid-side) runs on real
    data. The rest are mono 16-bit sawtooths s[t] = ((37i +
    t*(5 + i%11)) % 4001) - 2000: linear runs keep FIXED-order
    prediction effective while the wraparounds produce large Rice
    QUOTIENTS (long unary prefixes). These fixtures never trigger the
    Rice ESCAPE code (residuals are too small); the escape paths are
    covered by the encoder-escape and hand-built-frame unit tests in
    tests/test_properties.py.

    Mono docs with i % 5 == 1 are VARIABLE-blocksize streams (frame
    sizes cycling 192/320/256, strategy bit set, sample-number frame
    addressing) — the oracle is unchanged because losslessness makes
    the container layout invisible to the PCM moments."""
    from hw_kafka_streams_spark.operators.flaccodec import encode_flac

    def make(i: int) -> bytes:
        t = np.arange(400 + (i % 7) * 100, dtype=np.int64)
        left = (37 * i + t * (5 + i % 11)) % 4001 - 2000
        if i % 3 == 0:
            right = (23 * i + t * (7 + i % 5)) % 3001 - 1500
            s = np.stack([left * 37, right * 41], axis=1).astype(np.int32)
            return encode_flac(s, bits_per_sample=24, stereo_mode="auto")
        if i % 5 == 1:
            return encode_flac(left.astype(np.int16), block_schedule=[192, 320, 256])
        return encode_flac(left.astype(np.int16))

    return synth_stage(_ids_spread(df, id_col), make)


def flac_pcm_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer PCM stats over REAL decoded FLAC samples: channel
    count, per-channel sample count, sum, sum of |s|, sum of s^2 over
    all channels — all integer-exact, so the oracle can predict them
    from the synthesis formula (lossless chain)."""
    from hw_kafka_streams_spark.operators.flaccodec import decode_flac

    def row(doc_id, raw: bytes):
        s, sr = decode_flac(raw)
        v = s.astype(np.int64)
        n_ch = 1 if v.ndim == 1 else v.shape[1]
        flat = v.ravel()
        return [
            (doc_id, sr, n_ch, v.shape[0], int(flat.sum()),
             int(np.abs(flat).sum()), int((flat * flat).sum()))
        ]

    return payload_stage(
        df,
        row,
        "doc_id long, sample_rate int, n_channels int, "
        "n_samples long, sum_s long, sum_abs long, sum_sq long",
        payload_col,
    )


# ------------------------------------------------------------- EXIF
# Metadata side of the multimodal story (operators/exifmeta.py): APP1
# "Exif" TIFF-IFD build/inject/parse over real JPEG payloads.


def synthesize_exif_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL JPEG per row, EXIF-tagged: doc i carries orientation
    1 + i%8, make 'CAM'+(i%5), capture time 2024:01:(1+i%27)
    (i%24):00:00 — little-endian IFDs on even docs, big-endian on odd
    (the parser must handle both), and every 7th doc ships NO EXIF at
    all (metadata-less files are data, not errors)."""
    from hw_kafka_streams_spark.operators.exifmeta import (
        build_exif_app1,
        inject_app1,
    )
    from hw_kafka_streams_spark.operators.jpegcodec import encode_baseline_jpeg

    def make(i: int) -> bytes:
        jpg = encode_baseline_jpeg(np.full((8, 8, 3), (i * 29) % 256, np.uint8))
        if i % 7 == 0:
            return jpg
        app1 = build_exif_app1(
            1 + i % 8,
            f"CAM{i % 5}",
            f"2024:01:{1 + i % 27:02d} {i % 24:02d}:00:00",
            "<" if i % 2 == 0 else ">",
        )
        return inject_app1(jpg, app1)

    return synth_stage(df.select(id_col), make)


def exif_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Extract EXIF orientation/make/datetime from JPEG payloads by
    walking the real segment stream + TIFF IFD (exifmeta.parse_exif)."""
    from hw_kafka_streams_spark.operators.exifmeta import parse_exif

    def row(doc_id, raw: bytes):
        m = parse_exif(raw)
        return [
            (doc_id, m["orientation"], m["make"], m["datetime"], m["byte_order"])
        ]

    return payload_stage(
        df,
        row,
        "doc_id long, orientation int, make string, "
        "taken_at string, byte_order string",
        payload_col,
    )


# ----------------------------------------------- lossless JPEG (SOF3)
# Predictive lossless JPEG (operators/jpegcodec.py encode/decode_
# lossless_jpeg): real T.81 process-14 bitstream, bit-exact at 16-bit
# depth -> arithmetic-oracle-able pixel moments.


def synthesize_lossless_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL lossless JPEG (SOF3) per row: doc i carries a
    (16 + (i%5)*4) x (20 + (i%3)*8) 16-bit gray plane with
    pixel(r, c) = (1009*i + 37*r + 101*c) mod 65536, encoded with
    predictor 1 + (i % 7) — so the fixture set exercises every T.81
    predictor (H.1.2) and the mod-2^16 difference fold."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        encode_lossless_jpeg,
    )

    def make(i: int) -> bytes:
        r = np.arange(16 + (i % 5) * 4, dtype=np.int64)[:, None]
        c = np.arange(20 + (i % 3) * 8, dtype=np.int64)[None, :]
        img = ((1009 * i + 37 * r + 101 * c) % 65536).astype(np.uint16)
        return encode_lossless_jpeg(img, predictor=1 + i % 7)

    return synth_stage(df.select(id_col), make)


#: output of :func:`_plane_stats` behind a doc id
PLANE_STATS_SCHEMA = (
    "doc_id long, height int, width int, precision int, sum_v long, sum_sq long"
)


def _plane_stats(doc_id, decoded: tuple[np.ndarray, int]) -> list[tuple]:
    """One ``PLANE_STATS_SCHEMA`` row from a ``(pixels, precision)``
    decode: dims, precision, exact int64 sum and sum of squares."""
    px, prec = decoded
    v = px.astype(np.int64)
    return [(doc_id, px.shape[0], px.shape[1], prec, int(v.sum()), int((v * v).sum()))]


def lossless_jpeg_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer pixel stats over REAL decoded lossless JPEGs:
    dims, precision, sum and sum-of-squares — predictable from the
    synthesis formula because the codec is bit-exact."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_lossless_jpeg,
    )

    return payload_stage(
        df,
        lambda doc_id, raw: _plane_stats(doc_id, decode_lossless_jpeg(raw)),
        PLANE_STATS_SCHEMA,
        payload_col,
    )


def synthesize_lossless_arith_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL lossless ARITHMETIC JPEG (SOF11, T.81 Annex H.2) per
    row: doc i carries a (16 + (i%5)*4) x (20 + (i%3)*8) gray plane,
    16-bit when i%4==0 and 8-bit otherwise, with
    pixel(r, c) = (1013*i + 41*r + 97*c) mod 2^P, encoded with
    predictor 1 + (i % 7) — every H.1 predictor, both precisions, and
    (via the mod-2^P wraps) all five (Da, Db) conditioning categories
    of the H.2 statistical model are exercised across the fixture."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        encode_lossless_arith_jpeg,
    )

    def make(i: int) -> bytes:
        prec = 16 if i % 4 == 0 else 8
        r = np.arange(16 + (i % 5) * 4, dtype=np.int64)[:, None]
        c = np.arange(20 + (i % 3) * 8, dtype=np.int64)[None, :]
        img = ((1013 * i + 41 * r + 97 * c) % (1 << prec)).astype(
            np.uint16 if prec == 16 else np.uint8
        )
        return encode_lossless_arith_jpeg(img, predictor=1 + i % 7, precision=prec)

    return synth_stage(df.select(id_col), make)


def lossless_arith_jpeg_stats(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Exact integer pixel stats over REAL decoded SOF11 lossless
    arithmetic JPEGs: dims, precision, sum and sum-of-squares —
    predictable from the synthesis formula because the QM entropy
    cycle is bit-exact."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_lossless_arith_jpeg,
    )

    return payload_stage(
        df,
        lambda doc_id, raw: _plane_stats(doc_id, decode_lossless_arith_jpeg(raw)),
        PLANE_STATS_SCHEMA,
        payload_col,
    )


def synthesize_hier_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL hierarchical JPEG (T.81 Annex J) per row: doc i
    carries a (17 + (i%5)*4) x (21 + (i%3)*8) gray plane — odd dims on
    purpose, so every EXP upsample hits the crop/edge-replication path
    — 16-bit when i%4==0 and 8-bit otherwise, with
    pixel(r, c) = (911*i + 43*r + 89*c) mod 2^P, coded as a
    2 + (i%3)-level pyramid with base predictor 1 + (i%7). Entropy
    coding alternates by parity: even docs are Huffman pyramids (SOF3
    base + EXP + SOF7 differential refinements), odd docs are
    ARITHMETIC pyramids (SOF11 base + SOF15 QM-coded differential
    frames) — both lossless, so the pixel-moment oracle is shared."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        encode_hierarchical_jpeg,
    )

    def make(i: int) -> bytes:
        prec = 16 if i % 4 == 0 else 8
        r = np.arange(17 + (i % 5) * 4, dtype=np.int64)[:, None]
        c = np.arange(21 + (i % 3) * 8, dtype=np.int64)[None, :]
        img = ((911 * i + 43 * r + 89 * c) % (1 << prec)).astype(
            np.uint16 if prec == 16 else np.uint8
        )
        return encode_hierarchical_jpeg(
            img,
            levels=2 + i % 3,
            predictor=1 + i % 7,
            precision=prec,
            entropy="arith" if i % 2 else "huffman",
        )

    return synth_stage(df.select(id_col), make)


def hier_jpeg_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer pixel stats over REAL decoded hierarchical JPEGs
    (DHP/EXP/SOF7 pyramid): dims, precision, sum and sum-of-squares —
    predictable from the synthesis formula because the lossless
    pyramid is bit-exact."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_hierarchical_jpeg,
    )

    return payload_stage(
        df,
        lambda doc_id, raw: _plane_stats(doc_id, decode_hierarchical_jpeg(raw)),
        PLANE_STATS_SCHEMA,
        payload_col,
    )


def synthesize_hier_dct_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL DCT-pyramid hierarchical JPEG (T.81 Annex J with
    SOF1 + SOF5 Huffman frames, or SOF9 + SOF13 QM-coded arithmetic
    frames for odd doc ids) per row: doc i carries a CONSTANT
    (17 + (i%5)*4) x (21 + (i%3)*8) gray plane of value
    (911*i) mod 256, coded as a 2 + (i%3)-level pyramid. Constant
    planes are the lossy pyramid's oracle-able subset: the base frame
    reduces to the DC roundtrip closed form and each SOF5 refinement
    to one more quantize/dequantize of the constant residual, all
    floor(x+0.5) integer arithmetic a SQL oracle replays exactly. Odd
    dims keep every EXP upsample on the crop/edge-replication path."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        encode_hierarchical_jpeg,
    )

    def make(i: int) -> bytes:
        img = np.full((17 + (i % 5) * 4, 21 + (i % 3) * 8), (911 * i) % 256, np.uint8)
        # odd docs take the QM-coded pyramid (SOF9 base + SOF13
        # differentials): the quantized coefficients — and therefore
        # the closed-form oracle — are identical to the Huffman path;
        # only the entropy layer differs
        return encode_hierarchical_jpeg(
            img, levels=2 + i % 3, entropy="dct_arith" if i % 2 else "dct"
        )

    return synth_stage(df.select(id_col), make)


def synthesize_jls_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One REAL JPEG-LS (ITU T.87) stream per row. Doc i carries a
    (16 + (i%5)*4) x (24 + (i%3)*8) gray plane, 16-bit when i%4==0 and
    8-bit otherwise, with a FLAT left half (per-row constant — every
    row enters run mode, exercising the J-table run coder and both
    run-interruption contexts at the half boundary) and a gradient
    right half whose slope varies by doc (regular mode: context
    quantization, Golomb k adaptation, bias correction):

        v(r, c) = (11*i + 29*r) mod 2^P                 for c < w/2
        v(r, c) = (11*i + 29*r + 23*(c - w/2)*(1 + i%3)) mod 2^P  else
    """
    from hw_kafka_streams_spark.operators.jlscodec import encode_jls

    def make(i: int) -> bytes:
        h = 16 + (i % 5) * 4
        w = 24 + (i % 3) * 8
        prec = 16 if i % 4 == 0 else 8
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        base = 11 * i + 29 * r + 0 * c
        grad = 23 * np.maximum(c - w // 2, 0) * (1 + i % 3)
        img = ((base + grad) % (1 << prec)).astype(
            np.uint16 if prec == 16 else np.uint8
        )
        return encode_jls(img, precision=prec)

    return synth_stage(_ids_spread(df, id_col), make)


def jls_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer pixel stats over REAL decoded JPEG-LS streams:
    dims, precision, sum and sum-of-squares — predictable from the
    synthesis formula because the codec is lossless."""
    from hw_kafka_streams_spark.operators.jlscodec import decode_jls

    return payload_stage(
        df,
        lambda doc_id, raw: _plane_stats(doc_id, decode_jls(raw)),
        PLANE_STATS_SCHEMA,
        payload_col,
    )


def synthesize_mclv_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One REAL motion-compensated video clip per row
    (operators/mcvideo.py): 6 frames of 32x48 luma whose pattern
    translates rigidly by (dy, dx) = ((i%3)-1, ((i//3)%3)-1) per
    frame, pixel

        v_t(r, c) = (1000 + 5*i + 3*(r - t*dy) + 7*(c - t*dx)) mod 256

    — so interior blocks motion-compensate EXACTLY (skip-coded, MV =
    (-dy, -dx)) while border blocks exercise the edge-replicated
    unrestricted-MV path with real Rice-coded residuals."""
    from hw_kafka_streams_spark.operators.mcvideo import encode_mclv

    def make(i: int) -> bytes:
        dy = (i % 3) - 1
        dx = ((i // 3) % 3) - 1
        r = np.arange(32, dtype=np.int64)[:, None]
        c = np.arange(48, dtype=np.int64)[None, :]
        frames = [
            ((1000 + 5 * i + 3 * (r - t * dy) + 7 * (c - t * dx)) % 256).astype(
                np.uint8
            )
            for t in range(6)
        ]
        return encode_mclv(np.stack(frames))

    return synth_stage(_ids_spread(df, id_col), make)


def mclv_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer pixel stats over fully DECODED motion-compensated
    clips (I-frame + motion search + Rice residual replay): frame
    count, dims, sum and sum-of-squares over every frame — predictable
    from the synthesis formula because the codec is lossless."""
    from hw_kafka_streams_spark.operators.mcvideo import decode_mclv

    def row(doc_id, raw: bytes):
        clip = decode_mclv(raw)
        v = clip.astype(np.int64)
        return [(doc_id, *clip.shape[:3], int(v.sum()), int((v * v).sum()))]

    return payload_stage(
        df,
        row,
        "doc_id long, n_frames int, height int, width int, "
        "sum_v long, sum_sq long",
        payload_col,
    )


def synthesize_jls_rgb_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One REAL multi-component JPEG-LS stream per row: doc i carries
    a (12 + (i%4)*4) x (20 + (i%3)*6) x 3 RGB image with
    v(r, c, ch) = (7*i + 13*r + 17*c + 31*ch*(1 + r%3)) mod 256 —
    channel-dependent gradients so the component scans carry genuinely
    different statistics. The LAYOUT varies per doc: ILV = i mod 3
    (non-interleaved / line-interleaved / sample-interleaved), and
    every 5th doc adds an LSE preset segment (T1/T2/T3 = 4/8/32,
    RESET = 32), so the corpus exercises every T.87 scan layout the
    codec supports plus the parameter-preset path (VERDICT r8 item 4)."""
    from hw_kafka_streams_spark.operators.jlscodec import encode_jls

    def make(i: int) -> bytes:
        r = np.arange(12 + (i % 4) * 4, dtype=np.int64)[:, None, None]
        c = np.arange(20 + (i % 3) * 6, dtype=np.int64)[None, :, None]
        ch = np.arange(3, dtype=np.int64)[None, None, :]
        img = ((7 * i + 13 * r + 17 * c + 31 * ch * (1 + r % 3)) % 256).astype(
            np.uint8
        )
        kw = {"ilv": i % 3}
        if i % 5 == 0:
            kw.update(t1=4, t2=8, t3=32, reset=32)
        return encode_jls(img, **kw)

    return synth_stage(_ids_spread(df, id_col), make)


def jls_rgb_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact channel-summed pixel stats over decoded multi-component
    JPEG-LS streams (lossless -> oracle-predictable). ``ilv`` is read
    back from the FIRST SOS header of the stream itself, so the oracle
    (which derives it as doc_id % 3) verifies the payload genuinely
    carries the interleaved layout, not just that decode succeeded."""
    from hw_kafka_streams_spark.operators.jlscodec import decode_jls

    def row(doc_id, raw: bytes):
        px, _ = decode_jls(raw)
        sos = raw.index(b"\xff\xda")
        ilv = raw[sos + 6 + 2 * raw[sos + 4]]
        v = px.astype(np.int64)
        return [(doc_id, *px.shape[:3], ilv, int(v.sum()), int((v * v).sum()))]

    return payload_stage(
        df,
        row,
        "doc_id long, height int, width int, n_channels int, "
        "ilv int, sum_v long, sum_sq long",
        payload_col,
    )


def synthesize_arith_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Block-patterned REAL JPEGs with ARITHMETIC entropy coding
    (SOF9/DAC, T.81 Annex D QM coder + Annex F statistical models):
    the same per-block constant fills as synthesize_block_jpeg_payloads
    — the DCT/quantization stage is shared with the baseline encoder,
    and entropy coding is lossless over the quantized coefficients, so
    the identical closed-form oracle covers this stream while the
    decode side runs the QM decoder, the DC conditioning-category
    state machine and the Kx-split AC magnitude trees end to end.
    Every third payload encodes PROGRESSIVE arithmetic (SOF10, the
    Annex G 10-scan script), so the successive-approximation QM path
    is value-hash-verified too."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        encode_progressive_arith_jpeg,
        encode_sequential_arith_jpeg,
    )

    def make(i: int) -> bytes:
        img = _block_fill_image(i)
        if i % 3 == 0:
            return encode_progressive_arith_jpeg(img)
        return encode_sequential_arith_jpeg(img, subsampling="444")

    return synth_stage(df.select(id_col), make)


def synthesize_ext12_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL 12-bit extended sequential JPEG (T.81 SOF1 with a
    Pq=1 16-bit quantization table) per row: doc i carries a CONSTANT
    (9 + (i%5)*4) x (14 + (i%3)*8) gray plane of value (1337*i) mod
    4096. Constant planes are the lossy DCT's oracle-able subset: the
    whole decode reduces to the q00=128 DC roundtrip at precision 12
    (dc_roundtrip_value), exact floor(x+0.5) integer arithmetic a SQL
    oracle replays. Odd dims keep edge-replication padding live."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        encode_extended_jpeg_gray12,
    )

    def make(i: int) -> bytes:
        h = 9 + (i % 5) * 4
        w = 14 + (i % 3) * 8
        img = np.full((h, w), (1337 * i) % 4096, np.uint16)
        return encode_extended_jpeg_gray12(img)

    return synth_stage(df.select(id_col), make)


def ext12_jpeg_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact integer pixel stats over REAL decoded 12-bit extended
    sequential JPEGs: dims, declared precision (12), sum and
    sum-of-squares of the gray channel."""
    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
    )

    def row(doc_id, raw: bytes):
        px = decode_baseline_jpeg(raw)
        return _plane_stats(doc_id, (px[..., 0], 12 if px.dtype == np.uint16 else 8))

    return payload_stage(df, row, PLANE_STATS_SCHEMA, payload_col)
