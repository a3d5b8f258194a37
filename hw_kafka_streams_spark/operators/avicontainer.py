"""AVI (RIFF) container parsing + MJPEG frame decode.

Closes the "real video codecs stay stubbed" gap for the one
compressed-video format that is genuinely implementable from public
specs with no codec library: **Motion JPEG in AVI** — each frame is a
complete baseline JPEG, so the container walk (Microsoft's public
'AVI RIFF File Format' layout: hdrl/avih/strl/strh/strf, movi with
word-aligned '00dc' chunks, idx1 index) composes directly with the
pure-numpy ITU T.81 decoder in ``operators/jpegcodec.py``.

Scale shape: one payload → N frame rows via Arrow-batched
``mapInPandas`` fan-out, the same row-expanding stage
``multimodal.sample_video_frames`` uses for raw y4m — zero shuffle,
full cluster width across payloads; per-frame decode work is
independent (MJPEG has no inter-frame prediction, which is exactly
why it is decodable frame-parallel).

Oracle story: frames carry constant fills, so the whole
container→entropy-decode→IDCT→color-transform chain is closed-form
(see ``jpegcodec.dc_roundtrip_value``) and the DuckDB twin replays the
arithmetic per (doc, frame) — a bit-exact check over a real compressed
video file.

Reference behavior parity: hw-kafka-streams has no video path; this
belongs to the north-star multimodal surface (SURVEY.md §2.2).
H.264/VP9/HEVC inter-frame codecs remain honestly out of scope.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame

from hw_kafka_streams_spark.operators.multimodal import (
    payload_stage,
    pixel_channel_means,
    synth_stage,
)

AVI_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, "
    "mean_r int, mean_g int, mean_b int"
)


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list(fourcc: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + body)


def make_mjpeg_avi(
    jpeg_frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Build a complete, spec-correct MJPEG AVI file.

    Full header tree per the public AVI RIFF layout: avih main header
    (frame count, dims, stream count), strh stream header
    (fccType='vids', fccHandler='MJPG', scale/rate = 1/fps), strf
    BITMAPINFOHEADER (biCompression='MJPG'), movi list of '00dc'
    chunks (word-aligned), and a real idx1 index with per-frame
    offsets — parsers that seek via the index (the common fast path)
    and parsers that walk movi linearly both work on this file."""
    n = len(jpeg_frames)
    max_size = max((len(f) for f in jpeg_frames), default=0)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_size * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        max_size,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIii4H",
        b"vids",
        b"MJPG",
        0,  # dwFlags
        0, 0,  # wPriority, wLanguage
        0,  # dwInitialFrames
        1,  # dwScale
        fps,  # dwRate
        0,  # dwStart
        n,  # dwLength (frames)
        max_size,  # dwSuggestedBufferSize
        -1,  # dwQuality
        0,  # dwSampleSize
        0, 0, width, height,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        width,
        height,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        width * height * 3,  # biSizeImage
        0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_chunks = []
    offsets = []  # offset of each 00dc fourcc relative to 'movi' fourcc
    pos = 4  # after the 'movi' fourcc
    for f in jpeg_frames:
        offsets.append(pos)
        ck = _chunk(b"00dc", f)
        movi_chunks.append(ck)
        pos += len(ck)
    movi = _list(b"movi", b"".join(movi_chunks))
    idx1 = _chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, len(f))
            for off, f in zip(offsets, jpeg_frames)
        ),
    )
    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def parse_avi_mjpeg(data: bytes) -> tuple[int, int, list[bytes]]:
    """Walk the RIFF tree and return (width, height, jpeg_frames).

    Real validation: RIFF/'AVI ' magic, MJPG handler in strh AND strf
    (both must agree per the spec), '00dc' chunk walk through the movi
    list with word-alignment padding, JPEG SOI sanity check per frame,
    and a frame-count cross-check against the avih header."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI file")
    state = {
        "width": -1, "height": -1, "total": -1,
        "handler_ok": False, "compression_ok": False,
    }
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = data[pos : pos + 4]
            (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body = data[pos + 8 : pos + 8 + clen]
            if cid == b"LIST":
                ltype = body[:4]
                if ltype in (b"hdrl", b"strl", b"movi"):
                    walk(pos + 12, pos + 8 + clen)
            elif cid == b"avih":
                state["total"] = struct.unpack("<I", body[16:20])[0]
                state["width"] = struct.unpack("<I", body[32:36])[0]
                state["height"] = struct.unpack("<I", body[36:40])[0]
            elif cid == b"strh":
                if body[0:4] == b"vids" and body[4:8] == b"MJPG":
                    state["handler_ok"] = True
            elif cid == b"strf":
                if body[16:20] == b"MJPG":
                    state["compression_ok"] = True
            elif cid == b"00dc":
                if body[:2] != b"\xff\xd8":
                    raise ValueError("00dc chunk is not a JPEG (no SOI)")
                frames.append(body)
            pos += 8 + clen + (clen & 1)

    walk(12, 8 + struct.unpack("<I", data[4:8])[0])
    width, height, total = state["width"], state["height"], state["total"]
    handler_ok, compression_ok = state["handler_ok"], state["compression_ok"]
    if not (handler_ok and compression_ok):
        raise NotImplementedError(
            "AVI stream is not MJPG-compressed; inter-frame codecs "
            "(H.264/VP9/...) require decoder libraries not in this environment"
        )
    if total >= 0 and total != len(frames):
        raise ValueError(f"avih says {total} frames, movi has {len(frames)}")
    return width, height, frames


def avi_frame_means(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse AVI payloads, decode every MJPEG frame, emit per-frame
    channel means — one row per (doc, frame), the row-expanding
    Arrow-batched fan-out shape of a real video feature extractor."""
    from hw_kafka_streams_spark.operators.jpegcodec import decode_baseline_jpeg

    def frame_rows(doc_id, raw: bytes):
        _, _, frames = parse_avi_mjpeg(raw)
        for fi, frame in enumerate(frames):
            yield (doc_id, fi, *pixel_channel_means(decode_baseline_jpeg(frame)))

    return payload_stage(df, frame_rows, AVI_FRAME_SCHEMA, payload_col)


def synthesize_mjpeg_avi_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL MJPEG AVI per row: 2 + id%3 frames of 8x8 baseline
    JPEG, frame f constant-filled with ((id+31f)%256, (7id+29f)%256,
    (13id+41f)%256). Constant fills keep the full container→codec
    chain closed-form for the arithmetic DuckDB oracle while the
    bytes on disk are a complete spec-correct AVI."""
    from hw_kafka_streams_spark.operators.jpegcodec import encode_baseline_jpeg

    def make(i: int) -> bytes:
        frames = [
            encode_baseline_jpeg(
                np.full(
                    (8, 8, 3),
                    ((i + 31 * f) % 256,
                     (i * 7 + 29 * f) % 256,
                     (i * 13 + 41 * f) % 256),
                    dtype=np.uint8,
                )
            )
            for f in range(2 + i % 3)
        ]
        return make_mjpeg_avi(frames, 8, 8)

    return synth_stage(df.select(id_col), make)
