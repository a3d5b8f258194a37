"""Multimodal plumbing tests: binary columns + metadata (JVM-side),
Arrow-batched decode stage on synthetic PNG payloads, stub behavior
for codecs absent from the container."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.multimodal import (
    attach_payload_metadata,
    decode_image_meta,
    make_fake_png,
)


def _payloads(spark):
    rows = [
        (1, make_fake_png(640, 480)),
        (2, make_fake_png(1920, 1080)),
        (3, b"\xff\xd8\xff\xe0notajpegreally"),
        (4, b"plain text bytes"),
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_metadata_is_jvm_side(spark):
    df = attach_payload_metadata(_payloads(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # metadata stage must not cross into Python
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[1].mime == "image/png"
    assert rows[3].mime == "image/jpeg"
    assert rows[4].mime == "application/octet-stream"
    assert rows[4].n_bytes == 16
    assert len(rows[1].content_sha256) == 64


def test_decode_png_dims(spark):
    df = _payloads(spark).filter(F.col("doc_id") <= 2)
    out = {r.doc_id: (r.width, r.height, r.format) for r in decode_image_meta(df).collect()}
    assert out == {1: (640, 480, "png"), 2: (1920, 1080, "png")}


def test_decode_non_png_hits_stub(spark):
    df = _payloads(spark).filter(F.col("doc_id") == 4)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_image_meta(df).collect()


def test_payload_stage_shapes(spark):
    """One helper serves every payload stage: a 1:1 row function, a
    fan-out emitting 0, 1 or 3 rows per payload, empty input
    partitions, and a row_fn exception that fails the query."""
    from hw_kafka_streams_spark.operators.multimodal import (
        payload_stage,
        synth_stage,
    )

    rows = [(1, b"a"), (2, b""), (3, b"xyz")]
    # 3 rows over 5 slices leaves two partitions empty
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 5), "doc_id long, payload binary"
    )
    assert 0 in df.rdd.glom().map(len).collect()

    one = payload_stage(df, lambda d, p: [(d, len(p))], "doc_id long, n long")
    assert sorted(map(tuple, one.collect())) == [(1, 1), (2, 0), (3, 3)]

    fan = payload_stage(
        df,
        lambda d, p: [(d, i, p[i : i + 1]) for i in range(len(p))],
        "doc_id long, idx int, byte binary",
    )
    got = sorted((r.doc_id, r.idx, bytes(r.byte)) for r in fan.collect())
    assert got == [(1, 0, b"a"), (3, 0, b"x"), (3, 1, b"y"), (3, 2, b"z")]

    def bad(d, p):
        if d == 3:
            raise ValueError("bad payload 3")
        return [(d,)]

    with pytest.raises(Exception, match="bad payload 3"):
        payload_stage(df, bad, "doc_id long").collect()

    ids = spark.createDataFrame([(5,), (7,)], "id long")
    synth = synth_stage(ids, lambda i: bytes([i]))
    assert [f.name for f in synth.schema.fields] == ["doc_id", "payload"]
    assert sorted((r.doc_id, bytes(r.payload)) for r in synth.collect()) == [
        (5, b"\x05"), (7, b"\x07"),
    ]


def test_decode_schema_stable(spark):
    out = decode_image_meta(_payloads(spark).limit(0))
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "width", "height", "format", "n_bytes",
    ]


def test_wav_decode_roundtrip(spark):
    from hw_kafka_streams_spark.operators.multimodal import (
        attach_payload_metadata,
        decode_audio_meta,
        make_fake_wav,
    )

    rows = [(1, make_fake_wav(16000, 1, 16)), (2, make_fake_wav(44100, 2, 24))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    meta = {r.doc_id: r.mime for r in attach_payload_metadata(df).collect()}
    assert meta == {1: "audio/wav", 2: "audio/wav"}
    got = {
        r.doc_id: (r.sample_rate, r.n_channels, r.bits)
        for r in decode_audio_meta(df).collect()
    }
    assert got == {1: (16000, 1, 16), 2: (44100, 2, 24)}


def test_non_wav_audio_hits_stub(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from hw_kafka_streams_spark.operators.multimodal import decode_audio_meta

    df = spark.createDataFrame([(1, b"MP3garbage")], "doc_id long, payload binary")
    with pytest.raises(Exception):
        decode_audio_meta(df).collect()


def test_jpeg_sof_marker_scan_roundtrip():
    """Pure-python JPEG dims: SOFn marker walk, fill bytes and restart
    markers tolerated, corrupt/truncated/EOI-first inputs -> None."""
    from hw_kafka_streams_spark.operators.multimodal import (
        _parse_jpeg_dims,
        make_fake_jpeg,
    )

    assert _parse_jpeg_dims(make_fake_jpeg(123, 456)) == (123, 456)
    assert _parse_jpeg_dims(make_fake_jpeg(16, 16)) == (16, 16)
    j = make_fake_jpeg(99, 77)
    # fill bytes + a restart marker before the segments still parse
    assert _parse_jpeg_dims(b"\xff\xd8\xff\xff\xff\xd0" + j[2:]) == (99, 77)
    assert _parse_jpeg_dims(j[:5]) is None  # truncated
    assert _parse_jpeg_dims(b"\xff\xd8\xff\xd9") is None  # EOI before SOF
    assert _parse_jpeg_dims(b"junkjunk") is None
    assert _parse_jpeg_dims(b"") is None


@pytest.mark.slowgate
def test_decode_image_meta_mixed_formats(spark):
    """Arrow decode stage handles PNG/JPEG/GIF/BMP/TIFF/WebP payloads
    in one batch."""
    from hw_kafka_streams_spark.operators.multimodal import (
        decode_image_meta,
        synthesize_image_payloads,
    )

    ids = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    out = {
        r.doc_id: (r.width, r.height, r.format)
        for r in decode_image_meta(synthesize_image_payloads(ids)).collect()
    }
    for i in range(12):
        fmt = ("png", "jpeg", "gif", "bmp", "tiff", "webp")[i % 6]
        assert out[i] == (i % 640 + 16, i % 480 + 16, fmt)


def test_gif_bmp_header_parsers():
    """Pure-python GIF/BMP dims; top-down (negative-height) BMP
    normalizes; garbage -> None."""
    from hw_kafka_streams_spark.operators.multimodal import (
        _parse_bmp_dims,
        _parse_gif_dims,
        make_fake_bmp,
        make_fake_gif,
    )

    assert _parse_gif_dims(make_fake_gif(320, 200)) == (320, 200)
    assert _parse_gif_dims(b"GIF87a" + make_fake_gif(17, 9)[6:]) == (17, 9)
    assert _parse_gif_dims(b"GIF89a\x01") is None  # truncated
    assert _parse_gif_dims(b"NOTGIF\x00\x00\x00\x00") is None

    assert _parse_bmp_dims(make_fake_bmp(640, 480)) == (640, 480)
    import struct as _s

    b = make_fake_bmp(31, 13)
    topdown = b[:22] + _s.pack("<i", -13) + b[26:]
    assert _parse_bmp_dims(topdown) == (31, 13)
    assert _parse_bmp_dims(b[:20]) is None
    assert _parse_bmp_dims(b"XX" + b[2:]) is None


def test_tiff_header_parser_both_byte_orders():
    import struct as _s

    from hw_kafka_streams_spark.operators.multimodal import (
        _parse_tiff_dims,
        make_fake_tiff,
    )

    assert _parse_tiff_dims(make_fake_tiff(800, 600)) == (800, 600)
    # big-endian variant with SHORT-typed dims
    ifd = (
        _s.pack(">H", 2)
        + _s.pack(">HHI", 256, 3, 1) + _s.pack(">H", 320) + b"\x00\x00"
        + _s.pack(">HHI", 257, 3, 1) + _s.pack(">H", 240) + b"\x00\x00"
        + _s.pack(">I", 0)
    )
    be = b"MM\x00*" + _s.pack(">I", 8) + ifd
    assert _parse_tiff_dims(be) == (320, 240)
    assert _parse_tiff_dims(be[:10]) is None  # truncated IFD
    assert _parse_tiff_dims(b"II+\x00" + be[4:]) is None  # bad magic


def test_webp_header_parser_all_three_variants():
    import struct as _s

    from hw_kafka_streams_spark.operators.multimodal import (
        _parse_webp_dims,
        make_fake_webp,
    )

    assert _parse_webp_dims(make_fake_webp(512, 384)) == (512, 384)
    # VP8L: 0x2F signature, 14-bit (w-1)/(h-1) packed LE
    bits = (100 - 1) | ((70 - 1) << 14)
    vp8l = b"\x2f" + _s.pack("<I", bits) + b"\x00" * 8
    lossless = (
        b"RIFF" + _s.pack("<I", 12 + len(vp8l)) + b"WEBP"
        + b"VP8L" + _s.pack("<I", len(vp8l)) + vp8l
    )
    assert _parse_webp_dims(lossless) == (100, 70)
    # VP8X: 24-bit LE canvas minus-one at offsets 24/27
    vp8x = b"\x00\x00\x00\x00" + (200 - 1).to_bytes(3, "little") + (
        150 - 1
    ).to_bytes(3, "little")
    ext = (
        b"RIFF" + _s.pack("<I", 12 + len(vp8x)) + b"WEBP"
        + b"VP8X" + _s.pack("<I", len(vp8x)) + vp8x
    )
    assert _parse_webp_dims(ext) == (200, 150)
    assert _parse_webp_dims(b"RIFF\x00\x00\x00\x00WAVE" + b"\x00" * 20) is None


def test_fake_payload_lengths_pin_oracle_constants():
    """q_multimodal_decode's oracle hardcodes per-format byte lengths;
    pin the builders to them."""
    from hw_kafka_streams_spark.operators.multimodal import (
        make_fake_bmp,
        make_fake_gif,
        make_fake_jpeg,
        make_fake_png,
    )

    from hw_kafka_streams_spark.operators.multimodal import (
        make_fake_tiff,
        make_fake_webp,
    )

    assert len(make_fake_png(16, 16)) == 61
    assert len(make_fake_jpeg(16, 16)) == 65
    assert len(make_fake_gif(16, 16)) == 45
    assert len(make_fake_bmp(16, 16)) == 62
    assert len(make_fake_tiff(16, 16)) == 46
    assert len(make_fake_webp(16, 16)) == 38


def test_bmp_resize_real_pixels_known_values(spark):
    from hw_kafka_streams_spark.operators.multimodal import (
        _bmp_pixels,
        bmp_channel_means,
        make_real_bmp,
        resize_bmp_nearest,
    )

    # 3x2 red image -> 6x4; every pixel must survive as (0,0,255) BGR.
    src = make_real_bmp(3, 2, (0, 0, 255))
    assert _bmp_pixels(src).shape == (2, 3, 3)
    df = spark.createDataFrame([(1, bytearray(src))], "doc_id long, payload binary")
    out = resize_bmp_nearest(df, 6, 4).collect()[0]
    px = _bmp_pixels(bytes(out["payload"]))
    assert px.shape == (4, 6, 3)
    assert (px[:, :, 2] == 255).all() and (px[:, :, 0] == 0).all()
    feats = bmp_channel_means(
        resize_bmp_nearest(df, 6, 4)
    ).collect()[0]
    assert (feats["mean_b"], feats["mean_g"], feats["mean_r"]) == (0, 0, 255)


def test_y4m_frame_sampling_every_n(spark):
    from hw_kafka_streams_spark.operators.multimodal import (
        make_fake_y4m,
        sample_video_frames,
    )

    payload = make_fake_y4m(8, 8, 7, lambda i: 10 * i)
    df = spark.createDataFrame(
        [(5, bytearray(payload))], "doc_id long, payload binary"
    )
    rows = sorted(
        (r["frame_idx"], r["mean_luma"])
        for r in sample_video_frames(df, every_n=3).collect()
    )
    assert rows == [(0, 0), (3, 30), (6, 60)]
    all_rows = sample_video_frames(df, every_n=1).collect()
    assert len(all_rows) == 7
    assert all(r["width"] == 8 and r["height"] == 8 for r in all_rows)


def test_audio_rms_square_and_mixed_wave(spark):
    import math

    from hw_kafka_streams_spark.operators.multimodal import (
        audio_rms,
        make_fake_wav_pcm,
    )

    df = spark.createDataFrame(
        [(1, bytearray(make_fake_wav_pcm(8000, 500, 64)))],
        "doc_id long, payload binary",
    )
    r = audio_rms(df).collect()[0]
    assert r["n_samples"] == 64
    assert math.isclose(r["rms"], 500.0)


# ---------------------------------------------------- baseline JPEG codec


def test_jpeg_constant_roundtrip_closed_form():
    """encode->decode of constant-color images matches the closed-form
    DC arithmetic for every tested color (the oracle's contract)."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        QUANT_CHROM,
        QUANT_LUM,
        dc_roundtrip_value,
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        rgb_to_ycbcr_int,
    )

    for i in range(0, 256, 7):
        r, g, b = i, (i * 7) % 256, (i * 13) % 256
        img = np.full((16, 24, 3), (r, g, b), dtype=np.uint8)
        dec = decode_baseline_jpeg(encode_baseline_jpeg(img))
        assert dec.shape == (16, 24, 3)
        assert (dec == dec[0, 0]).all()
        y, cb, cr = rgb_to_ycbcr_int(np.array([[[r, g, b]]], np.uint8))[0, 0]
        y2 = dc_roundtrip_value(int(y), int(QUANT_LUM[0, 0]))
        cb2 = dc_roundtrip_value(int(cb), int(QUANT_CHROM[0, 0]))
        cr2 = dc_roundtrip_value(int(cr), int(QUANT_CHROM[0, 0]))
        er = min(255, max(0, int(np.floor(y2 + 1.402 * (cr2 - 128.0) + 0.5))))
        eg = min(255, max(0, int(np.floor(
            y2 - 0.344136 * (cb2 - 128.0) - 0.714136 * (cr2 - 128.0) + 0.5))))
        eb = min(255, max(0, int(np.floor(y2 + 1.772 * (cb2 - 128.0) + 0.5))))
        assert tuple(int(x) for x in dec[0, 0]) == (er, eg, eb)


def test_jpeg_gradient_roundtrip_tolerance():
    """Smooth gradients survive quality-50 quantization within a small
    bound; odd (non-multiple-of-8) dims exercise the edge-padding."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )

    yy, xx = np.mgrid[0:21, 0:35]
    img = np.stack(
        [(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], axis=-1
    ).astype(np.uint8)
    dec = decode_baseline_jpeg(encode_baseline_jpeg(img))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 30 and err.mean() <= 6


def test_jpeg_decoder_rejects_out_of_scope_streams():
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )

    with pytest.raises(ValueError):
        decode_baseline_jpeg(b"\x00\x11not a jpeg")
    data = bytearray(
        encode_baseline_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
    )
    i = data.find(b"\xff\xc0")
    # SOF2 (progressive) is now SUPPORTED — but a baseline scan header
    # relabeled progressive is MALFORMED (a DC scan must have Se=0),
    # so it raises ValueError, not NotImplementedError
    data[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Se != 0"):
        decode_baseline_jpeg(bytes(data))
    # SOF3 (lossless) remains honestly out of scope
    data[i + 1] = 0xC3
    with pytest.raises(NotImplementedError):
        decode_baseline_jpeg(bytes(data))


def test_jpeg_channel_means_spark_stage(spark):
    """The Arrow-batched decode stage end to end on a tiny DF."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
    )
    from hw_kafka_streams_spark.operators.multimodal import (
        jpeg_channel_means,
        synthesize_real_jpeg_payloads,
    )

    df = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    rows = {
        r.doc_id: r
        for r in jpeg_channel_means(
            synthesize_real_jpeg_payloads(df)
        ).collect()
    }
    assert len(rows) == 12
    for i, r in rows.items():
        assert r.width == 8 * (i % 3 + 1) and r.height == 8 * (i % 2 + 1)
        # cross-check one pixel against a local decode
    from hw_kafka_streams_spark.operators.jpegcodec import (
        encode_baseline_jpeg,
    )

    img = np.full((8, 8, 3), (5 % 256, 35 % 256, 65 % 256), dtype=np.uint8)
    px = decode_baseline_jpeg(encode_baseline_jpeg(img))[0, 0]
    r5 = rows[5]
    assert (r5.mean_r, r5.mean_g, r5.mean_b) == tuple(int(x) for x in px)


def test_jpeg_subsampled_roundtrip():
    """4:2:0 and 4:2:2 chroma (the web defaults) encode and decode;
    constants stay exact and identical to 4:4:4 because a box mean of
    a constant is the constant."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )

    yy, xx = np.mgrid[0:37, 0:53]
    img = np.stack(
        [(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], axis=-1
    ).astype(np.uint8)
    for ss in ("444", "422", "420"):
        dec = decode_baseline_jpeg(encode_baseline_jpeg(img, subsampling=ss))
        assert dec.shape == img.shape
        err = np.abs(dec.astype(int) - img.astype(int))
        assert err.max() <= 30 and err.mean() <= 6, (ss, err.max())

    const = np.full((24, 40, 3), (123, 45, 250), dtype=np.uint8)
    d444 = decode_baseline_jpeg(encode_baseline_jpeg(const, "444"))
    d420 = decode_baseline_jpeg(encode_baseline_jpeg(const, "420"))
    assert (d444 == d444[0, 0]).all() and (d420 == d420[0, 0]).all()
    assert (d444[0, 0] == d420[0, 0]).all()


def test_jpeg_restart_intervals_and_grayscale():
    """DRI/RSTn streams decode to EXACTLY the same pixels as the plain
    stream (restart only adds byte-aligned sync structure), and
    1-component grayscale encodes/decodes with channel replication."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        encode_baseline_jpeg_gray,
    )

    yy, xx = np.mgrid[0:37, 0:53]
    img = np.stack(
        [(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], axis=-1
    ).astype(np.uint8)
    for ss in ("444", "420"):
        plain = decode_baseline_jpeg(encode_baseline_jpeg(img, ss))
        rst = decode_baseline_jpeg(
            encode_baseline_jpeg(img, ss, restart_interval=2)
        )
        assert (plain == rst).all()

    g = ((xx * 2 + yy * 3) % 200).astype(np.uint8)  # smooth ramp
    dec = decode_baseline_jpeg(encode_baseline_jpeg_gray(g))
    assert dec.shape == (37, 53, 3)
    assert (dec[..., 0] == dec[..., 1]).all()
    assert (dec[..., 1] == dec[..., 2]).all()
    assert np.abs(dec[..., 0].astype(int) - g.astype(int)).mean() < 6


# ------------------------------------------------------------- PNG codec


def test_png_lossless_roundtrip_and_filters():
    """encode->decode is bit-exact; hand-filtered streams with all five
    filter types (None/Sub/Up/Average/Paeth) decode exactly; gray and
    RGBA color types normalize to RGB; out-of-scope streams raise."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.pngcodec import (
        _SIG,
        _chunk,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (23, 31, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()

    # hand-encode one stream using every filter type
    h, w, ch = 6, 5, 3
    img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)

    def filt_row(r, prev, ft):
        row = img[r].reshape(-1).astype(int)
        out = []
        for i, v in enumerate(row):
            a = row[i - ch] if i >= ch else 0
            b = prev[i] if prev is not None else 0
            c = (prev[i - ch] if i >= ch else 0) if prev is not None else 0
            if ft == 0:
                out.append(v)
            elif ft == 1:
                out.append((v - a) & 0xFF)
            elif ft == 2:
                out.append((v - b) & 0xFF)
            elif ft == 3:
                out.append((v - (a + b) // 2) & 0xFF)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((v - pr) & 0xFF)
        return bytes([ft]) + bytes(out)

    raw, prev = b"", None
    for r in range(h):
        raw += filt_row(r, prev, r % 5)
        prev = img[r].reshape(-1).astype(int)
    data = (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(data) == img).all()

    g = rng.integers(0, 256, (9, 7), dtype=np.uint8)
    raw = b"".join(b"\x00" + g[r].tobytes() for r in range(9))
    data = (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 9, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    d = decode_png(data)
    assert d.shape == (9, 7, 3) and (d[..., 0] == g).all()

    # interlaced is now SUPPORTED (see test_png_adam7_*); a truncated
    # interlaced stream is corrupt, not unimplemented
    data = (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 9, 8, 2, 0, 0, 1))
        + _chunk(b"IDAT", zlib.compress(b""))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truncated"):
        decode_png(data)
    # spec-illegal (type, depth): palette cannot be 16-bit
    bad = (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 9, 16, 3, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(b""))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="invalid for type"):
        decode_png(bad)
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


# ------------------------------------------------------------- GIF codec


def test_gif_lzw_roundtrip_battery():
    """Real LZW compression roundtrips through dictionary growth,
    4096-entry resets, and the KwKwK self-reference case; de-interlace
    and palette lookup covered; header-only fakes rejected."""
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.gifcodec import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        encode_gif_gray,
    )
    from hw_kafka_streams_spark.operators.multimodal import make_fake_gif

    rng = np.random.default_rng(5)
    cases = [
        rng.integers(0, 256, (33, 47)).astype(np.uint8),   # noise
        np.zeros((50, 80), dtype=np.uint8),                # KwKwK chains
        ((np.arange(300)[:, None] * 7 + np.arange(400)[None, :] * 3) % 256)
        .astype(np.uint8),                                 # 120k px: resets
    ]
    for g in cases:
        d = decode_gif(encode_gif_gray(g))
        assert d.shape == g.shape + (3,)
        assert (d[..., 0] == g).all() and (d[..., 2] == g).all()
    s = bytes([97, 98] * 5000)  # 'abab...': the textbook KwKwK stream
    assert bytes(_lzw_decode(_lzw_encode(s), 8, len(s))) == s
    with pytest.raises(ValueError):
        decode_gif(make_fake_gif(10, 10))  # header-only filler


def test_ima_adpcm_roundtrip_and_container():
    """Encoder→WAV→decoder roundtrip: decode(encode(x)) must track the
    encoder's internal decoder state exactly (ADPCM is lossy vs the
    source but the codec chain itself is deterministic), the RIFF
    container must parse, and PCM/foreign formats must be rejected."""
    import pytest

    from hw_kafka_streams_spark.operators.adpcmcodec import (
        _decode_nibbles,
        decode_ima_adpcm_wav,
        encode_ima_adpcm,
        make_ima_adpcm_wav,
    )
    from hw_kafka_streams_spark.operators.multimodal import make_fake_wav_pcm

    # a varied source: ramp + square + clipped extremes
    src = (
        [i * 120 - 4000 for i in range(40)]
        + [3000 if i % 2 else -3000 for i in range(12)]
        + [32767, -32768] * 6 + [0]
    )
    pred0, idx0, nibbles = encode_ima_adpcm(src)
    assert len(nibbles) == len(src) - 1
    # decoder replay equals the encoder's own state trajectory
    replay = _decode_nibbles(pred0, idx0, nibbles)
    wav = make_ima_adpcm_wav(pred0, idx0, nibbles)  # 64 nibbles: even
    got = decode_ima_adpcm_wav(wav)
    assert got == replay
    assert len(got) == len(src)
    # constant signal with step index 0 is encoded EXACTLY (step 7>>3==0)
    const = [1234] * 50
    p0, i0, nbs = encode_ima_adpcm(const)
    assert _decode_nibbles(p0, i0, nbs) == const
    # container rejects PCM payloads (that path is multimodal.audio_rms)
    with pytest.raises(NotImplementedError):
        decode_ima_adpcm_wav(make_fake_wav_pcm(8000, 100, 16))


def test_adpcm_stats_data_chunk_without_a_block(spark):
    """A data chunk shorter than one block decodes to no samples, so
    its row is (doc_id, 0, NULL, 0) and the other rows are unaffected."""
    import struct

    from hw_kafka_streams_spark.operators.adpcmcodec import (
        adpcm_stats,
        decode_ima_adpcm_wav,
        make_ima_adpcm_wav,
    )

    wav = make_ima_adpcm_wav(100, 10, [1, 9, 3, 12] * 8)
    at = wav.index(b"data")
    cut = wav[:at + 4] + struct.pack("<I", 2) + wav[at + 8 : at + 10]
    assert decode_ima_adpcm_wav(cut) == []
    full = decode_ima_adpcm_wav(wav)
    df = spark.createDataFrame([(1, wav), (2, cut)], "doc_id long, payload binary")
    got = sorted(tuple(r) for r in adpcm_stats(df).collect())
    assert got == [(1, len(full), full[-1], sum(full)), (2, 0, None, 0)]


def test_avi_mjpeg_container_roundtrip_and_validation():
    """RIFF AVI build→parse roundtrip preserves frame bytes exactly;
    parser rejects non-MJPG streams, non-JPEG 00dc chunks, and
    header/movi frame-count disagreement."""
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.avicontainer import (
        make_mjpeg_avi,
        parse_avi_mjpeg,
    )
    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )

    frames = [
        encode_baseline_jpeg(
            np.full((8, 8, 3), (10 * f, 20 * f, 30 * f), dtype=np.uint8)
        )
        for f in range(4)
    ]
    avi = make_mjpeg_avi(frames, 8, 8, fps=25)
    w, h, got = parse_avi_mjpeg(avi)
    assert (w, h) == (8, 8)
    assert got == frames  # byte-exact through the container
    assert decode_baseline_jpeg(got[3]).shape == (8, 8, 3)

    with pytest.raises(ValueError):
        parse_avi_mjpeg(b"RIFF\x00\x00\x00\x00WAVE")  # not AVI
    # corrupt the MJPG fourccs -> inter-frame-codec stub path
    bad = avi.replace(b"MJPG", b"H264")
    with pytest.raises(NotImplementedError):
        parse_avi_mjpeg(bad)
    # header claims a different frame count than movi carries
    lied = avi.replace(
        __import__("struct").pack("<I", 4),
        __import__("struct").pack("<I", 9),
        1,
    )
    with pytest.raises(ValueError):
        parse_avi_mjpeg(lied)


def test_png_adam7_roundtrip_and_hand_built_vector():
    """Interlaced decode: (a) round-trips the interlaced encoder on a
    non-multiple-of-8 image, (b) matches a HAND-BUILT 2x2 pass stream
    (pass1 -> (0,0), pass6 -> (1,0), pass7 -> row 1), so a symmetric
    encoder/decoder bug cannot hide, (c) equals the sequential decode
    of the same pixels."""
    import struct
    import zlib

    import numpy as np

    from hw_kafka_streams_spark.operators.pngcodec import (
        _chunk,
        _SIG,
        decode_png,
        encode_png,
        encode_png_interlaced,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(13, 11, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png_interlaced(img)), img)
    assert np.array_equal(
        decode_png(encode_png_interlaced(img)), decode_png(encode_png(img))
    )

    # hand-built 2x2 RGB: A B / C D
    a, b, c, d = (10, 11, 12), (20, 21, 22), (30, 31, 32), (40, 41, 42)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    raw = (
        b"\x00" + bytes(a)            # pass 1: pixel (0,0)
        + b"\x00" + bytes(b)          # pass 6: pixel (1,0)
        + b"\x00" + bytes(c) + bytes(d)  # pass 7: full row y=1
    )
    png = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    got = decode_png(png)
    assert got.tolist() == [[list(a), list(b)], [list(c), list(d)]]


def test_png_palette_decode():
    """Color type 3: indexed pixels resolve through PLTE; short
    palettes pad safely."""
    import struct
    import zlib

    import numpy as np

    from hw_kafka_streams_spark.operators.pngcodec import (
        _chunk,
        _SIG,
        decode_png,
    )

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
    rows = b"\x00" + bytes([0, 1, 2]) + b"\x00" + bytes([3, 3, 0])
    png = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", b"".join(bytes(c) for c in pal))
        + _chunk(b"IDAT", zlib.compress(rows))
        + _chunk(b"IEND", b"")
    )
    got = decode_png(png)
    want = np.array([[pal[0], pal[1], pal[2]], [pal[3], pal[3], pal[0]]], dtype=np.uint8)
    assert np.array_equal(got, want)


def test_png_16bit_and_subbyte_depths():
    """16-bit samples reduce by >>8; 1-bit gray scales 0/1 -> 0/255;
    4-bit palette indices unpack MSB-first with row padding dropped."""
    import struct
    import zlib

    import numpy as np

    from hw_kafka_streams_spark.operators.pngcodec import (
        _chunk,
        _SIG,
        decode_png,
    )

    # 16-bit RGB 2x1: pixels (0x1234 -> 0x12, ...) big-endian
    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0)
    row = b"\x00" + bytes(
        [0x12, 0x34, 0x56, 0x78, 0x9A, 0xBC,   # pixel 0 RGB
         0xFF, 0x00, 0x00, 0xFF, 0x80, 0x01]   # pixel 1 RGB
    )
    png = (_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(row)) + _chunk(b"IEND", b""))
    got = decode_png(png)
    assert got.tolist() == [[[0x12, 0x56, 0x9A], [0xFF, 0x00, 0x80]]]

    # 1-bit gray 10x2 (stride = 2 bytes/row, 6 padding bits dropped)
    ihdr = struct.pack(">IIBBBBB", 10, 2, 1, 0, 0, 0, 0)
    rows = (b"\x00" + bytes([0b10110001, 0b01000000])
            + b"\x00" + bytes([0b00000001, 0b11000000]))
    png = (_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(rows)) + _chunk(b"IEND", b""))
    got = decode_png(png)
    want_r0 = [255, 0, 255, 255, 0, 0, 0, 255, 0, 255]
    want_r1 = [0, 0, 0, 0, 0, 0, 0, 255, 255, 255]
    assert got[..., 0].tolist() == [want_r0, want_r1]
    assert np.array_equal(got[..., 0], got[..., 2])  # gray replicated

    # 4-bit palette 3x1: indices 0x1, 0x2, 0x0 packed as 0x12 0x0_
    pal = [(9, 9, 9), (10, 20, 30), (40, 50, 60)]
    ihdr = struct.pack(">IIBBBBB", 3, 1, 4, 3, 0, 0, 0)
    row = b"\x00" + bytes([0x12, 0x00])
    png = (_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"PLTE", b"".join(bytes(c) for c in pal))
           + _chunk(b"IDAT", zlib.compress(row)) + _chunk(b"IEND", b""))
    got = decode_png(png)
    assert got.tolist() == [[list(pal[1]), list(pal[2]), list(pal[0])]]


def test_progressive_jpeg_equals_baseline_pixels():
    """Progressive and baseline encodes share the same quantized
    coefficients, so their decodes must be pixel-identical — across
    random, flat, gradient, and edge-size images."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        encode_progressive_jpeg,
    )

    rng = np.random.default_rng(1234)
    images = [
        rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8),
        np.full((16, 16, 3), 77, dtype=np.uint8),  # flat: EOB-heavy
        np.zeros((9, 25, 3), dtype=np.uint8),
        np.full((8, 8, 3), 255, dtype=np.uint8),
    ]
    yy, xx = np.mgrid[0:32, 0:32]
    images.append(
        np.stack([(3 * xx + 5 * yy) % 256, (2 * xx + yy) % 256,
                  (xx + 4 * yy) % 256], axis=-1).astype(np.uint8)
    )
    for img in images:
        base = decode_baseline_jpeg(encode_baseline_jpeg(img))
        prog = decode_baseline_jpeg(encode_progressive_jpeg(img))
        assert np.array_equal(base, prog), img.shape


def test_progressive_entropy_layer_coefficient_roundtrip():
    """Encode AC first+refine scans from known coefficient blocks and
    decode them back: exact int equality at the COEFFICIENT level,
    independent of the DCT stage. Exercises ZRL in refinement, long
    zero runs, correction bits, EOB handling, and multi-block EOB runs
    on the decode side."""
    import numpy as np

    from hw_kafka_streams_spark.operators.bitio import (
        JpegBitReader,
        JpegBitWriter,
    )
    from hw_kafka_streams_spark.operators.jpegcodec import (
        AC_LUM_BITS,
        AC_LUM_VALS,
        _ac_first_block,
        _ac_refine_block,
        _build_codes,
        _enc_ac_first,
        _enc_ac_refine,
        _HuffDecoder,
    )

    ac_codes = _build_codes(AC_LUM_BITS, AC_LUM_VALS)
    ac_dec = _HuffDecoder(AC_LUM_BITS, AC_LUM_VALS)
    rng = np.random.default_rng(99)
    for trial in range(40):
        nblocks = int(rng.integers(1, 6))
        blocks = []
        for _ in range(nblocks):
            zz = np.zeros(64, dtype=np.int64)
            # sparse coefficients with magnitudes crossing the Al=1
            # bit boundary (1s vanish in the first scan, refine later)
            for _ in range(int(rng.integers(0, 12))):
                k = int(rng.integers(1, 64))
                zz[k] = int(rng.integers(-9, 10))
            blocks.append(zz)
        ss, se, al = 1, 63, 1
        bw = JpegBitWriter()
        for zz in blocks:
            _enc_ac_first(bw, zz, ss, se, al, ac_codes)
        bw.flush()
        got = [np.zeros(64, dtype=np.int64) for _ in blocks]
        br = JpegBitReader(bytes(bw.out) + b"\xff\xd9", 0)
        state = {"eobrun": 0}
        for g in got:
            _ac_first_block(br, g, ss, se, al, ac_dec, state)
        # first-scan decode == truncated-toward-zero coefficients << 1
        for zz, g in zip(blocks, got):
            want = np.sign(zz) * ((np.abs(zz) >> al) << al)
            want[0] = 0
            assert np.array_equal(g, want), trial
        # refinement restores the exact values
        bw2 = JpegBitWriter()
        for zz in blocks:
            _enc_ac_refine(bw2, zz, ss, se, 0, ac_codes)
        bw2.flush()
        br2 = JpegBitReader(bytes(bw2.out) + b"\xff\xd9", 0)
        state2 = {"eobrun": 0}
        for g in got:
            _ac_refine_block(br2, g, ss, se, 0, ac_dec, state2)
        for zz, g in zip(blocks, got):
            want = zz.copy()
            want[0] = 0
            assert np.array_equal(g, want), trial


def test_progressive_refine_zrl_hand_vector():
    """A block with >16 zero-history positions before a newly
    significant coefficient forces ZRL in the refinement scan; pinned
    by construction."""
    import numpy as np

    from hw_kafka_streams_spark.operators.bitio import (
        JpegBitReader,
        JpegBitWriter,
    )
    from hw_kafka_streams_spark.operators.jpegcodec import (
        AC_LUM_BITS,
        AC_LUM_VALS,
        _ac_first_block,
        _ac_refine_block,
        _build_codes,
        _enc_ac_first,
        _enc_ac_refine,
        _HuffDecoder,
    )

    ac_codes = _build_codes(AC_LUM_BITS, AC_LUM_VALS)
    ac_dec = _HuffDecoder(AC_LUM_BITS, AC_LUM_VALS)
    zz = np.zeros(64, dtype=np.int64)
    zz[2] = 4    # visible in first scan (4>>1 = 2)
    zz[3] = -5   # visible (-5 -> -2), correction bit 1 in refine
    zz[40] = -1  # invisible at Al=1, newly significant in refine (37 zeros)
    zz[63] = 7   # visible, correction bit
    for scan_al in [(1,)]:
        bw = JpegBitWriter()
        _enc_ac_first(bw, zz, 1, 63, 1, ac_codes)
        bw.flush()
        g = np.zeros(64, dtype=np.int64)
        st = {"eobrun": 0}
        _ac_first_block(JpegBitReader(bytes(bw.out) + b"\xff\xd9", 0), g, 1, 63, 1, ac_dec, st)
        assert g[2] == 4 and g[3] == -4 and g[40] == 0 and g[63] == 6
        bw2 = JpegBitWriter()
        _enc_ac_refine(bw2, zz, 1, 63, 0, ac_codes)
        bw2.flush()
        st2 = {"eobrun": 0}
        _ac_refine_block(JpegBitReader(bytes(bw2.out) + b"\xff\xd9", 0), g, 1, 63, 0, ac_dec, st2)
        assert g[2] == 4 and g[3] == -5 and g[40] == -1 and g[63] == 7
        assert not np.any(g[[1, 4, 20, 39, 41, 62]])


def test_gif_animation_composition_semantics():
    """Composed animation frames: draw-over (disposal 1), restore-to-
    background (2), restore-to-previous (3), and transparency all
    pinned by hand-computed canvases."""
    import numpy as np

    from hw_kafka_streams_spark.operators.gifcodec import (
        decode_gif,
        decode_gif_frames,
        encode_gif_gray,
        encode_gif_gray_animation,
    )

    g = (np.arange(64).reshape(8, 8) * 3 % 256).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif_gray(g))[..., 0], g)

    f1 = np.full((6, 8), 100, dtype=np.uint8)
    f2 = np.full((4, 6), 30, dtype=np.uint8)
    f3 = np.full((2, 3), 200, dtype=np.uint8)
    frames = decode_gif_frames(
        encode_gif_gray_animation([(f1, 0, 0), (f2, 1, 1), (f3, 2, 2)], (8, 6))
    )
    assert len(frames) == 3
    a, b, c = (fr[..., 0] for fr in frames)
    assert (a == 100).all()
    assert b[0, 0] == 100 and b[1, 1] == 30 and b[5, 7] == 100
    assert c[2, 2] == 200 and c[1, 1] == 30 and c[0, 0] == 100

    # disposal 2: frame 1's rect restored to background before frame 2
    frames = decode_gif_frames(
        encode_gif_gray_animation([(f1, 0, 0), (f2, 1, 1)], (8, 6), disposal=2)
    )
    b = frames[1][..., 0]
    assert b[0, 0] == 0 and b[1, 1] == 30

    # transparency: transparent index keeps the underlying pixel
    f2t = np.full((4, 6), 7, dtype=np.uint8)
    f2t[0, 0] = 55
    b = decode_gif_frames(
        encode_gif_gray_animation(
            [(f1, 0, 0), (f2t, 1, 1)], (8, 6), transparent=7
        )
    )[1][..., 0]
    assert b[1, 1] == 55 and b[1, 2] == 100

    # disposal 3: canvas restored to the pre-frame state
    frames = decode_gif_frames(
        encode_gif_gray_animation(
            [(f1, 0, 0), (f2, 1, 1), (f3, 2, 2)], (8, 6), disposal=3
        )
    )
    c = frames[2][..., 0]
    assert c[1, 1] == 0 and c[2, 2] == 200


def test_tiff_codec_roundtrip_and_guards():
    """Uncompressed-TIFF pixels round-trip in both byte orders; gray
    replicates; compressed/header-only streams raise appropriately."""
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.multimodal import make_fake_tiff
    from hw_kafka_streams_spark.operators.tiffcodec import (
        decode_tiff_pixels,
        encode_tiff_rgb,
    )

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
    for bo in ("<", ">"):
        assert np.array_equal(decode_tiff_pixels(encode_tiff_rgb(img, bo)), img)
    # deprecated old-JPEG (tag 259 = 6) stays rejected as
    # unimplemented; LZW (5), new-JPEG (7) and Deflate (8) are real
    # now and covered by the suites in test_properties.py
    data = bytearray(encode_tiff_rgb(img))
    i = data.find(b"\x03\x01\x03\x00\x01\x00\x00\x00\x01\x00")
    assert i > 0
    data[i + 8] = 6
    with pytest.raises(NotImplementedError, match="compression"):
        decode_tiff_pixels(bytes(data))
    # header-only fake (no strip tables) is corrupt, not decodable
    with pytest.raises(ValueError, match="strip"):
        decode_tiff_pixels(make_fake_tiff(10, 10))
    with pytest.raises(ValueError):
        decode_tiff_pixels(b"XXXXXXXX")


def test_g711_spec_vectors_and_idempotence():
    """G.711 spec hand vectors plus the all-256-byte invariant:
    decode->encode->decode must be exact for BOTH laws (every code
    word is a fixed point of its own quantization)."""
    import numpy as np

    from hw_kafka_streams_spark.operators.g711 import (
        alaw_decode,
        alaw_encode,
        ulaw_decode,
        ulaw_encode,
    )

    assert ulaw_decode(bytes([0xFF]))[0] == 0
    assert ulaw_decode(bytes([0x7F]))[0] == 0  # negative zero -> 0
    assert ulaw_decode(bytes([0x80]))[0] == 32124
    assert ulaw_decode(bytes([0x00]))[0] == -32124
    assert alaw_decode(bytes([0xD5]))[0] == 8
    assert alaw_decode(bytes([0x55]))[0] == -8
    assert alaw_decode(bytes([0xAA]))[0] == 32256
    assert alaw_decode(bytes([0x2A]))[0] == -32256
    allb = np.arange(256, dtype=np.uint8)
    for dec, enc in [(ulaw_decode, ulaw_encode), (alaw_decode, alaw_encode)]:
        samples = dec(allb)
        assert np.array_equal(dec(enc(samples)), samples)
    # encoding arbitrary linear PCM stays within segment quantization
    rng = np.random.default_rng(3)
    x = rng.integers(-32000, 32001, size=2000).astype(np.int16)
    for dec, enc, tol in [(ulaw_decode, ulaw_encode, 1 / 16), (alaw_decode, alaw_encode, 1 / 8)]:
        err = np.abs(dec(enc(x)).astype(np.int64) - x)
        # error bounded by half the segment step (~|x|/16 + bias)
        assert (err <= np.maximum(np.abs(x.astype(np.int64)) * tol, 140)).all()
