"""Property-based tests (hypothesis) for the pure-Python kernels.

Spark-free (no session): each example is microseconds, so hypothesis
can explore aggressively.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from hw_kafka_streams_spark.operators.censor import censor_passes


# --- censor schedule (operators/censor.py) -----------------------------------


def _fold(text: str, words: list[str]) -> str:
    """The reference censor: one case-insensitive literal ``re.sub`` per
    word, in list order, each match → '*' × len(word)."""
    for w in words:
        if w:
            text = re.sub(re.escape(w), "*" * len(w), text, flags=re.IGNORECASE)
    return text


def _censor(text: str, words: list[str]) -> str:
    """``censor_passes``'s passes run with Python ``re``."""
    for pattern, mask in censor_passes(words):
        text = re.sub(pattern, mask, text)
    return text


# tiny alphabets make overlaps, containment and case variants common;
# "iIİıſsS" are the characters whose case maps change length or merge
# classes, "*" the character masks are made of
_alphabets = st.sampled_from(["abcA", "abAB*", "iIİıſsS", "aлЛ.$"])
dictionary = _alphabets.flatmap(
    lambda a: st.tuples(
        st.lists(st.text(alphabet=a, max_size=4), max_size=6),
        st.lists(st.text(alphabet=a, max_size=16), min_size=1, max_size=4),
    )
)


@settings(max_examples=1000, deadline=None)
@given(dictionary)
def test_mask_agrees_with_regex_reference(case):
    words, texts = case
    for t in texts:
        assert _censor(t, words) == _fold(t, words), (words, t, censor_passes(words))


@settings(max_examples=300, deadline=None)
@given(dictionary)
def test_mask_preserves_length(case):
    words, texts = case
    for t in texts:
        assert len(_censor(t, words)) == len(t)


@settings(max_examples=300, deadline=None)
@given(dictionary)
def test_no_banned_word_survives(case):
    """Masks add only '*', so a star-free word censored once never
    reappears."""
    words, texts = case
    words = [w for w in words if "*" not in w]
    for t in texts:
        out = _censor(t, words)
        for w in words:
            if w:
                assert re.search(re.escape(w), out, re.IGNORECASE) is None, (words, t, out)


@settings(max_examples=300, deadline=None)
@given(dictionary)
def test_mask_is_idempotent(case):
    words, texts = case
    words = [w for w in words if "*" not in w]
    for t in texts:
        once = _censor(t, words)
        assert _censor(once, words) == once


def test_censor_pass_rules():
    def groups(words):
        return [p for p, _ in censor_passes(words)]

    # no touch: one pass per length; each pass leads with a lookahead of
    # its words' first characters (their case closures)
    assert groups(["ab", "cd", "xyz", "ef"]) == [
        "(?iu)(?=[ACEace])(?:ab|cd|ef)",
        "(?iu)(?=[Xx])(?:xyz)",
    ]
    # an earlier word overlapping the start of a later one may share
    assert groups(["ab", "bc"]) == ["(?iu)(?=[ABab])(?:ab|bc)"]
    # a later word starting before an earlier one may not
    assert groups(["bc", "ab"]) == ["(?iu)(?=[Bb])(?:bc)", "(?iu)(?=[Aa])(?:ab)"]
    # containment across lengths, case-insensitively: "B" inside "ab"
    assert groups(["ab", "B"]) == ["(?iu)(?=[Aa])(?:ab)", "(?iu)(?=[Bb])(?:B)"]
    # a word with '*' is a barrier; empty words are skipped
    assert groups(["x", "", "*y", "z"]) == [
        "(?iu)(?=[Xx])(?:x)",
        "(?iu)(?=[\\*])(?:\\*y)",
        "(?iu)(?=[Zz])(?:z)",
    ]
    # masks count characters, never lowered whole words ("İ".lower() is
    # 2); non-ASCII guard members are one-character ranges
    assert censor_passes(["İx"]) == [("(?iu)(?=[Iiİ-İ̇-̇])(?:İx)", "**")]
    assert censor_passes([]) == []


# --- embedding quantization kernel (pure numpy, Spark-free) -----------------

import numpy as np

from hw_kafka_streams_spark.operators.embeddings import quantize_np

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
vec = st.lists(finite, min_size=1, max_size=32)


@settings(max_examples=300, deadline=None)
@given(st.lists(vec.map(lambda v: v), min_size=1, max_size=8).filter(
    lambda vs: len({len(v) for v in vs}) == 1
))
def test_quantize_bounds_and_error(vs):
    A = np.array(vs, dtype=np.float64)
    Q, norm, max_abs, mse = quantize_np(A)
    assert Q.dtype == np.int8
    assert np.all(np.abs(Q.astype(np.int64)) <= 127)
    # per-element reconstruction error is at most half a quant step
    step = np.where(max_abs < 1e-300, 0.0, max_abs / 127.0)
    assert np.all(mse <= (0.5 * step) ** 2 + 1e-18)
    # zero/degenerate vectors quantize to exact zeros
    assert np.all(Q[max_abs < 1e-300] == 0)


@settings(max_examples=200, deadline=None)
@given(vec)
def test_quantize_roundtrip_idempotent(v):
    # Quantizing the dequantized vector reproduces the same codes:
    # dequantization preserves max_abs (the extreme element hits ±127
    # exactly), so the grid is identical on the second pass and every
    # grid point maps to itself.
    A = np.array([v], dtype=np.float64)
    Q, _, max_abs, _ = quantize_np(A)
    safe = np.where(max_abs == 0, 1.0, max_abs)
    DQ = Q.astype(np.float64) * (safe / 127.0)[:, None]
    Q2, _, _, _ = quantize_np(DQ)
    assert np.array_equal(Q, Q2)


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from hw_kafka_streams_spark.operators.sampling import weighted_sample

    rows = [(i, "g", 1.0) for i in range(100)] + [(999, "g", 1e9)]
    df = spark.createDataFrame(rows, "doc_id long, src string, w double")
    s1 = weighted_sample(df, "w", 10, group_col="src").collect()
    s2 = weighted_sample(df, "w", 10, group_col="src").collect()
    assert [tuple(r) for r in s1] == [tuple(r) for r in s2]  # content-stable
    assert len(s1) == 10
    # key = ln(u)/w -> the ~infinite-weight row's key approaches 0 from
    # below, beating every weight-1 row's key with near certainty.
    assert s1[0].doc_id == 999 and s1[0].rank == 1
    # zero/negative weights excluded
    df2 = spark.createDataFrame(
        [(1, "g", 0.0), (2, "g", -3.0), (3, "g", 5.0)],
        "doc_id long, src string, w double",
    )
    kept = weighted_sample(df2, "w", 10, group_col="src").collect()
    assert [r.doc_id for r in kept] == [3]


# --- multimodal header parsers: roundtrip + never-crash ---------------

dims = st.integers(min_value=1, max_value=65535)
raw_bytes = st.binary(max_size=64)


@settings(max_examples=300, deadline=None)
@given(dims, dims)
def test_image_header_roundtrips(w, h):
    from hw_kafka_streams_spark.operators.multimodal import (
        _parse_bmp_dims,
        _parse_gif_dims,
        _parse_jpeg_dims,
        _parse_png_dims,
        make_fake_bmp,
        make_fake_gif,
        make_fake_jpeg,
        make_fake_png,
    )

    assert _parse_png_dims(make_fake_png(w, h)) == (w, h)
    assert _parse_gif_dims(make_fake_gif(w, h)) == (w, h)
    assert _parse_bmp_dims(make_fake_bmp(w, h)) == (w, h)
    if w <= 65535 and h <= 65535:
        assert _parse_jpeg_dims(make_fake_jpeg(w, h)) == (w, h)


@settings(max_examples=500, deadline=None)
@given(raw_bytes)
def test_image_header_parsers_never_crash(data):
    from hw_kafka_streams_spark.operators.multimodal import (
        _parse_bmp_dims,
        _parse_gif_dims,
        _parse_jpeg_dims,
        _parse_png_dims,
    )

    for p in (_parse_png_dims, _parse_jpeg_dims, _parse_gif_dims, _parse_bmp_dims):
        out = p(data)
        assert out is None or (len(out) == 2 and all(isinstance(x, int) for x in out))


# --- prefix filtering: the completeness theorem the Spark plan relies on


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
        min_size=2,
        max_size=8,
    ),
    st.floats(min_value=0.1, max_value=0.95),
)
def test_prefix_filtering_is_complete(sets, tau):
    """Model check of the AllPairs/PPJoin prefix bound used by
    operators/dedup.prefix_filter_jaccard_pairs: any pair with
    Jaccard >= tau shares an element within both rarest-first
    prefixes of length |S| - ceil(tau*|S|) + 1."""
    import math
    from collections import Counter

    df = Counter(x for s in sets for x in s)

    def prefix(s):
        ordered = sorted(s, key=lambda x: (df[x], x))
        p = len(s) - math.ceil(tau * len(s)) + 1
        return set(ordered[:p])

    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            jac = len(a & b) / len(a | b)
            if jac >= tau:
                assert prefix(a) & prefix(b), (a, b, tau)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=-2048, max_value=2047),
    st.integers(min_value=0, max_value=60),
    st.lists(
        st.integers(min_value=0, max_value=15), min_size=2, max_size=40
    ).filter(lambda ns: len(ns) % 2 == 0),
)
def test_adpcm_decoder_matches_sql_state_machine(pred0, idx0, nibbles):
    """Property: the Python IMA decoder and the recursive-CTE state
    machine (the exact SQL shape q_multimodal_adpcm's oracle uses)
    agree on EVERY random (predictor, index, nibble-stream) — so the
    oracle's correctness does not hinge on the one fixture pattern."""
    import duckdb

    from hw_kafka_streams_spark.operators.adpcmcodec import (
        STEP_TABLE,
        decode_ima_adpcm_wav,
        make_ima_adpcm_wav,
    )

    got = decode_ima_adpcm_wav(make_ima_adpcm_wav(pred0, idx0, nibbles))
    steps = "[" + ",".join(map(str, STEP_TABLE)) + "]"
    nib_rows = ", ".join(f"({i}, {n})" for i, n in enumerate(nibbles))
    sql = f"""
    WITH RECURSIVE nib(i, n) AS (VALUES {nib_rows}),
    dec AS (
      SELECT 0 AS i, CAST({pred0} AS BIGINT) AS pred,
             CAST({idx0} AS BIGINT) AS idx
      UNION ALL
      SELECT i, predn,
             least(88, greatest(0, idx + ([-1,-1,-1,-1,2,4,6,8])[(nb % 8) + 1]))
      FROM (
        SELECT d.i + 1 AS i, d.idx, nib.n AS nb,
               least(32767, greatest(-32768,
                 d.pred + (CASE WHEN nib.n >= 8 THEN -1 ELSE 1 END)
                 * ((s // 8) + (nib.n % 2) * (s // 4)
                    + ((nib.n // 2) % 2) * (s // 2)
                    + ((nib.n // 4) % 2) * s))) AS predn
        FROM (SELECT *, ({steps})[idx + 1] AS s FROM dec) d
        JOIN nib ON nib.i = d.i
        WHERE d.i < {len(nibbles)}
      )
    )
    SELECT i, pred FROM dec ORDER BY i
    """
    want = [r[1] for r in duckdb.sql(sql).fetchall()]
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip_sequential_and_interlaced(w, h, seed):
    """PNG is lossless: both wire layouts must reproduce every pixel
    of any image, any size (incl. 1-pixel edges where most Adam7
    passes are empty)."""
    import numpy as np

    from hw_kafka_streams_spark.operators.pngcodec import (
        decode_png,
        encode_png,
        encode_png_interlaced,
    )

    img = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    assert np.array_equal(decode_png(encode_png(img)), img)
    assert np.array_equal(decode_png(encode_png_interlaced(img)), img)


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_progressive_jpeg_always_equals_baseline(scale, seed):
    """Same quantized coefficients ⇒ identical pixels, for any image:
    the progressive entropy reorganization must be invisible."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        encode_progressive_jpeg,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(
        0, 256, size=(8 * scale, 8 * (5 - scale), 3), dtype=np.uint8
    )
    assert np.array_equal(
        decode_baseline_jpeg(encode_baseline_jpeg(img)),
        decode_baseline_jpeg(encode_progressive_jpeg(img)),
    )


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.sampled_from(["<", ">"]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_tiff_roundtrip_any_size_both_orders(w, h, bo, seed):
    import numpy as np

    from hw_kafka_streams_spark.operators.tiffcodec import (
        decode_tiff_pixels,
        encode_tiff_rgb,
    )

    img = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    assert np.array_equal(decode_tiff_pixels(encode_tiff_rgb(img, bo)), img)


@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_gif_animation_matches_reference_compositor(seed):
    """The codec's composed frames must equal an independent numpy
    reference compositor (draw-over disposal) for random frame stacks
    of random rectangles."""
    import numpy as np

    from hw_kafka_streams_spark.operators.gifcodec import (
        decode_gif_frames,
        encode_gif_gray_animation,
    )

    rng = np.random.default_rng(seed)
    sw, sh = int(rng.integers(4, 16)), int(rng.integers(4, 16))
    frames = []
    for _ in range(int(rng.integers(1, 5))):
        fw, fh = int(rng.integers(1, sw + 1)), int(rng.integers(1, sh + 1))
        left = int(rng.integers(0, sw - fw + 1))
        top = int(rng.integers(0, sh - fh + 1))
        frames.append(
            (
                rng.integers(0, 256, size=(fh, fw), dtype=np.uint8),
                left,
                top,
            )
        )
    got = decode_gif_frames(
        encode_gif_gray_animation(frames, (sw, sh), disposal=1)
    )
    canvas = np.zeros((sh, sw), dtype=np.uint8)
    for (gray, left, top), fr in zip(frames, got):
        canvas[top : top + gray.shape[0], left : left + gray.shape[1]] = gray
        assert np.array_equal(fr[..., 0], canvas)
        assert np.array_equal(fr[..., 0], fr[..., 2])  # gray palette


# ------------------------------------------------------------------ QOI
# Full-spec codec (operators/qoicodec.py): any uint8 RGB image must
# round-trip bit-exactly through encode_qoi/decode_qoi (QOI is
# lossless), regardless of which chunk ops the content selects.

_qoi_px = st.integers(min_value=0, max_value=255)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.randoms(use_true_random=False),
)
def test_qoi_roundtrip_lossless(h, w, rnd):
    import numpy as np

    from hw_kafka_streams_spark.operators.qoicodec import (
        decode_qoi,
        encode_qoi,
    )

    mode = rnd.randrange(4)
    if mode == 0:  # arbitrary noise
        img = np.array(
            [rnd.randrange(256) for _ in range(h * w * 3)], dtype=np.uint8
        ).reshape(h, w, 3)
    elif mode == 1:  # flat: RUN ops (+ 62-run split on big images)
        img = np.full((h, w, 3), rnd.randrange(256), np.uint8)
    elif mode == 2:  # small-step gradient: DIFF/LUMA ops
        yy, xx = np.mgrid[0:h, 0:w]
        base = rnd.randrange(256)
        img = np.stack(
            [(base + 2 * xx + 7 * yy) % 256,
             (base + 4 * xx + yy) % 256,
             (base + xx + 2 * yy) % 256],
            axis=-1,
        ).astype(np.uint8)
    else:  # tiny palette: INDEX ops
        img = (np.array(
            [rnd.randrange(4) for _ in range(h * w * 3)], dtype=np.uint8
        ) * 64).reshape(h, w, 3)
    enc = encode_qoi(img)
    assert enc[:4] == b"qoif" and enc[-8:] == b"\x00" * 7 + b"\x01"
    assert np.array_equal(decode_qoi(enc), img)


def test_qoi_rejects_garbage():
    import pytest

    from hw_kafka_streams_spark.operators.qoicodec import decode_qoi

    with pytest.raises(ValueError):
        decode_qoi(b"notqoi" + b"\x00" * 20)


# ----------------------------------------------------------------- FLAC
# Fixed-predictor FLAC (operators/flaccodec.py): lossless round-trip
# for any mono int16 signal; integrity layers (CRC-8/CRC-16/MD5) must
# catch corruption rather than emit wrong samples.


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=900),
    st.integers(min_value=0, max_value=3),
    st.randoms(use_true_random=False),
)
def test_flac_roundtrip_lossless(n, kind, rnd):
    import numpy as np

    from hw_kafka_streams_spark.operators.flaccodec import (
        decode_flac,
        encode_flac,
    )

    if kind == 0:  # linear ramp: FIXED orders win
        s = (np.arange(n) * rnd.randrange(1, 9) + rnd.randrange(-500, 500)) % 4096 - 2048
    elif kind == 1:  # constant: CONSTANT subframe
        s = np.full(n, rnd.randrange(-30000, 30000))
    elif kind == 2:  # noise: VERBATIM fallback allowed
        s = np.array([rnd.randrange(-32768, 32768) for _ in range(n)])
    else:  # quadratic: higher fixed orders
        t = np.arange(n)
        s = ((t * t * 3 + 7 * t) % 8192) - 4096
    s = s.astype(np.int16)
    dec, sr = decode_flac(encode_flac(s))
    assert sr == 8000
    assert np.array_equal(dec, s)


def test_flac_integrity_checks_fire():
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.flaccodec import (
        decode_flac,
        encode_flac,
    )

    s = ((np.arange(500) * 3) % 1000 - 500).astype(np.int16)
    enc = bytearray(encode_flac(s))
    with pytest.raises(ValueError):
        decode_flac(b"FLAC" + bytes(enc[4:]))  # bad magic
    # flip one residual byte mid-stream: a CRC or the stream MD5 must fire
    corrupt = bytearray(enc)
    corrupt[len(corrupt) // 2] ^= 0x40
    with pytest.raises((ValueError, NotImplementedError, IndexError)):
        decode_flac(bytes(corrupt))


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=10, max_value=900),
    st.sampled_from([1, 2, 4, 8]),
    st.randoms(use_true_random=False),
)
def test_flac_lpc_roundtrip(n, order, rnd):
    import numpy as np

    from hw_kafka_streams_spark.operators.flaccodec import (
        decode_flac,
        encode_flac,
    )

    t = np.arange(n)
    s = np.clip(
        (3000 * np.sin(0.07 * t + rnd.random())
         + 800 * np.sin(0.31 * t + rnd.random())).astype(np.int64),
        -32768, 32767,
    ).astype(np.int16)
    dec, _ = decode_flac(encode_flac(s, lpc_order=order))
    assert np.array_equal(dec, s)


def test_flac_lpc_subframes_actually_used():
    """The cost gate must actually pick LPC on an LPC-friendly signal
    (otherwise the decoder's LPC path is dead code in practice)."""
    import numpy as np

    from hw_kafka_streams_spark.operators.flaccodec import (
        decode_flac,
        encode_flac,
    )

    # high-frequency resonance: each fixed-difference pass AMPLIFIES
    # the residual (|1 - e^{-i*2.1}| > 1), while LPC(2) models the
    # recurrence s[t] ~= 2cos(2.1) s[t-1] - s[t-2] almost exactly
    t = np.arange(4096)
    s = (8000 * np.sin(2.1 * t)).astype(np.int16)
    lpc = encode_flac(s, lpc_order=2)
    fixed = encode_flac(s)
    assert len(lpc) < len(fixed)  # LPC chosen somewhere => smaller
    dec, _ = decode_flac(lpc)
    assert np.array_equal(dec, s)


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=2, max_value=700),
    st.sampled_from(["auto", "independent", "left_side", "right_side", "mid_side"]),
    st.randoms(use_true_random=False),
)
def test_flac_stereo_roundtrip_all_modes(n, mode, rnd):
    """All four spec stereo channel assignments round-trip losslessly
    (side subframes carry bps+1 bits; mid uses the floor-shift/parity
    reconstruction)."""
    import numpy as np

    from hw_kafka_streams_spark.operators.flaccodec import (
        decode_flac,
        encode_flac,
    )

    base = rnd.randrange(-20000, 20000)
    left = np.array(
        [(base + 13 * t + rnd.randrange(-80, 80)) % 60000 - 30000 for t in range(n)],
        np.int32,
    )
    # correlated right channel makes the side representation cheap, so
    # 'auto' genuinely exercises the decorrelated assignments too
    right = np.clip(
        left + np.array([rnd.randrange(-64, 64) for _ in range(n)]),
        -32768, 32767,
    ).astype(np.int32)
    s = np.stack([left, right], axis=1)
    dec, sr = decode_flac(encode_flac(s, stereo_mode=mode))
    assert sr == 8000
    assert dec.shape == (n, 2)
    assert np.array_equal(dec.astype(np.int64), s.astype(np.int64))


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=600),
    st.sampled_from([8, 12, 16, 20, 24, 32]),
    st.integers(min_value=1, max_value=4),
    st.randoms(use_true_random=False),
)
def test_flac_bit_depths_and_multichannel(n, bps, channels, rnd):
    """8/12/16/20/24/32-bit depths x 1-4 independent channels all
    round-trip; the stream MD5 (interleaved ceil(bps/8)-byte LE) must
    validate for every depth."""
    import numpy as np

    from hw_kafka_streams_spark.operators.flaccodec import (
        decode_flac,
        encode_flac,
    )

    lim = 1 << (bps - 1)
    s = np.array(
        [[rnd.randrange(-lim, lim) for _ in range(channels)] for _ in range(n)],
        np.int64,
    ).astype(np.int32 if bps > 16 else np.int16)
    arr = s if channels > 1 else s[:, 0]
    dec, _ = decode_flac(encode_flac(arr, bits_per_sample=bps))
    got = dec if channels > 1 else dec.reshape(-1, 1)
    assert got.shape == (n, channels)
    assert np.array_equal(
        got.astype(np.int64), s.astype(np.int64).reshape(n, channels)
    )


def test_flac_encoder_emits_escape_partition():
    """Large uniform residuals must take the 0b1111 escape (raw
    two's-complement) because it is cheaper than any Rice parameter —
    so real encoder output, not only hand-built frames, exercises the
    decoder's escape path."""
    import numpy as np

    from hw_kafka_streams_spark.operators.bitio import BitWriter
    from hw_kafka_streams_spark.operators.flaccodec import _write_residual_partition

    res = np.array([30000, -30001, 29500, -29999] * 16, np.int64)
    w = BitWriter()
    _write_residual_partition(w, res)
    w.flush()
    assert (w.out[0] >> 4) == 0b1111  # escape code chosen
    raw = ((w.out[0] & 0x0F) << 1) | (w.out[1] >> 7)
    assert raw == 16  # minimal signed width for +/-30001
    # and the emitted size is exactly 4 + 5 + 64*16 bits
    assert len(w.out) == (4 + 5 + 64 * 16 + 7) // 8 + 1 or len(w.out) >= 129


def test_flac_decoder_handles_hand_built_escape_frame():
    """Hand-assemble a full FLAC file whose one frame stores its
    residuals through the escape partition (verbatim signed ints, not
    Rice codes) and check the decoder reproduces the PCM exactly —
    the decode-side escape test promised by synthesize_flac_payloads'
    docstring."""
    import numpy as np

    from hw_kafka_streams_spark.operators.bitio import BitWriter
    from hw_kafka_streams_spark.operators.flaccodec import (
        _crc8,
        _crc16,
        _pcm_md5,
        _utf8_code,
        decode_flac,
    )
    import struct

    n = 64
    samples = np.array(
        [((t * 9173) % 4001 - 2000) for t in range(n)], np.int64
    )
    # FIXED order-1 residuals, escape-coded
    res = np.diff(samples)
    raw = 16

    out = bytearray(b"fLaC")
    out += bytes([0x80, 0, 0, 34])
    si = BitWriter()
    si.write(n, 16)
    si.write(n, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(8000, 20)
    si.write(0, 3)   # mono
    si.write(15, 5)  # 16-bit
    si.write(n, 36)
    out += si.out + _pcm_md5(samples, 16)

    w = BitWriter()
    w.write(0x3FFE, 14)
    w.write(0, 2)
    w.write(0b0110, 4)   # 8-bit blocksize at end
    w.write(0b0100, 4)   # 8 kHz
    w.write(0, 4)        # mono
    w.write(0b100, 3)    # 16 bps
    w.write(0, 1)
    head = bytearray(w.out)
    head += _utf8_code(0)
    head += bytes([n - 1])
    head.append(_crc8(bytes(head)))

    body = BitWriter()
    body.out = bytearray(head)
    body.write(0, 1)
    body.write(0b001001, 6)  # FIXED order 1
    body.write(0, 1)
    body.write(int(samples[0]) & 0xFFFF, 16)  # warm-up
    body.write(0b00, 2)      # 4-bit rice method
    body.write(0, 4)         # partition order 0
    body.write(0b1111, 4)    # ESCAPE
    body.write(raw, 5)
    for v in res.tolist():
        body.write(int(v) & ((1 << raw) - 1), raw)
    body.flush()
    frame = bytes(body.out)
    out += frame + struct.pack(">H", _crc16(frame))

    dec, sr = decode_flac(bytes(out))
    assert sr == 8000
    assert np.array_equal(dec.astype(np.int64), samples)


# -------------------------------------------------- lossless JPEG (SOF3)
# Predictive lossless JPEG (operators/jpegcodec.py): bit-exact
# round-trip for any 2-16 bit plane under every T.81 predictor.


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=7),
    st.sampled_from([2, 8, 12, 16]),
    st.randoms(use_true_random=False),
)
def test_lossless_jpeg_roundtrip(h, w, predictor, precision, rnd):
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_lossless_jpeg,
        encode_lossless_jpeg,
    )

    lim = 1 << precision
    img = np.array(
        [[rnd.randrange(lim) for _ in range(w)] for _ in range(h)],
        np.uint16 if precision > 8 else np.uint8,
    )
    dec, prec = decode_lossless_jpeg(
        encode_lossless_jpeg(img, predictor=predictor, precision=precision)
    )
    assert prec == precision
    assert dec.shape == (h, w)
    assert np.array_equal(dec.astype(np.int64), img.astype(np.int64))


def test_lossless_jpeg_mod_fold_and_category16():
    """Alternating 0/65535 pixels force +/-32768-class differences:
    the mod-2^16 fold and the no-extra-bits category 16 must both
    survive the round trip for every predictor."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_lossless_jpeg,
        encode_lossless_jpeg,
    )

    img = np.zeros((5, 8), np.uint16)
    img[:, 1::2] = 65535
    img[2, 3] = 32768  # mid-scale sample next to extremes
    for p in range(1, 8):
        dec, _ = decode_lossless_jpeg(encode_lossless_jpeg(img, predictor=p))
        assert np.array_equal(dec, img), f"predictor {p}"


def test_lossless_jpeg_rejects_bad_input():
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        decode_lossless_jpeg,
        encode_lossless_jpeg,
    )

    img = np.arange(12, dtype=np.uint16).reshape(3, 4)
    with pytest.raises(ValueError):
        encode_lossless_jpeg(img, predictor=8)
    with pytest.raises(ValueError):
        encode_lossless_jpeg(np.full((2, 2), 300, np.uint16), precision=8)
    # the baseline decoder must point SOF3 callers at the right API
    enc = encode_lossless_jpeg(img, precision=12)
    with pytest.raises(NotImplementedError):
        decode_baseline_jpeg(enc)
    # corrupt entropy data must raise, not return wrong pixels
    corrupt = bytearray(enc)
    corrupt[-4] ^= 0x55
    with pytest.raises(ValueError):
        decode_lossless_jpeg(bytes(corrupt))


# ------------------------------------- lossless arithmetic JPEG (SOF11)
# T.81 Annex H.2 (operators/jpegcodec.py): the H.1 predictors under the
# QM coder with 25 (Da, Db) conditioning contexts — bit-exact
# round-trip for any 2-16 bit plane under every predictor.


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=7),
    st.sampled_from([2, 8, 12, 16]),
    st.randoms(use_true_random=False),
)
def test_lossless_arith_jpeg_roundtrip(h, w, predictor, precision, rnd):
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_lossless_arith_jpeg,
        encode_lossless_arith_jpeg,
    )

    lim = 1 << precision
    img = np.array(
        [[rnd.randrange(lim) for _ in range(w)] for _ in range(h)],
        np.uint16 if precision > 8 else np.uint8,
    )
    dec, prec = decode_lossless_arith_jpeg(
        encode_lossless_arith_jpeg(
            img, predictor=predictor, precision=precision
        )
    )
    assert prec == precision
    assert dec.shape == (h, w)
    assert np.array_equal(dec.astype(np.int64), img.astype(np.int64))


def test_lossless_arith_jpeg_mod_fold_extremes():
    """Alternating 0/65535 pixels force ±32768-class differences: the
    mod-2^16 fold, the large-magnitude trees AND the large-category
    conditioning contexts all engage — the round trip must survive for
    every predictor."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_lossless_arith_jpeg,
        encode_lossless_arith_jpeg,
    )

    img = np.zeros((5, 8), np.uint16)
    img[:, 1::2] = 65535
    img[2, 3] = 32768  # mid-scale sample next to extremes
    for p in range(1, 8):
        dec, _ = decode_lossless_arith_jpeg(
            encode_lossless_arith_jpeg(img, predictor=p)
        )
        assert np.array_equal(dec, img), f"predictor {p}"


def test_lossless_arith_jpeg_rejects_bad_input():
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        decode_lossless_arith_jpeg,
        encode_lossless_arith_jpeg,
    )

    img = np.arange(12, dtype=np.uint16).reshape(3, 4)
    with pytest.raises(ValueError):
        encode_lossless_arith_jpeg(img, predictor=0)
    with pytest.raises(ValueError):
        encode_lossless_arith_jpeg(
            np.full((2, 2), 300, np.uint16), precision=8
        )
    # the baseline decoder must point SOF11 callers at the right API
    enc = encode_lossless_arith_jpeg(img, precision=12)
    with pytest.raises(NotImplementedError):
        decode_baseline_jpeg(enc)
    # a truncated stream must raise, not return wrong pixels: with the
    # entropy segment cut short the QM decoder pads with termination
    # bytes and the decoded plane overflows the declared precision
    big = np.full((24, 24), 4000, np.uint16)
    big[::2, ::2] = 95
    enc2 = encode_lossless_arith_jpeg(big, precision=12)
    with pytest.raises(ValueError):
        decode_lossless_arith_jpeg(enc2[: len(enc2) // 2])


# --------------------------------------- hierarchical JPEG (Annex J)
# T.81 hierarchical pyramid (operators/jpegcodec.py): SOF3 base frame
# + EXP bilinear reference upsampling + SOF7 differential-lossless
# refinements — bit-exact round-trip at any dims (odd dims exercise
# the EXP crop/edge-replication path) and pyramid depth.


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=44),
    st.integers(min_value=1, max_value=44),
    st.integers(min_value=2, max_value=4),
    st.integers(min_value=1, max_value=7),
    st.sampled_from([2, 8, 12, 16]),
    st.sampled_from(["huffman", "arith"]),
    st.randoms(use_true_random=False),
)
def test_hierarchical_jpeg_roundtrip(h, w, levels, predictor, precision,
                                     entropy, rnd):
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_hierarchical_jpeg,
        encode_hierarchical_jpeg,
    )

    lim = 1 << precision
    img = np.array(
        [[rnd.randrange(lim) for _ in range(w)] for _ in range(h)],
        np.uint16 if precision > 8 else np.uint8,
    )
    dec, prec = decode_hierarchical_jpeg(
        encode_hierarchical_jpeg(
            img, levels=levels, predictor=predictor, precision=precision,
            entropy=entropy,
        )
    )
    assert prec == precision
    assert dec.shape == (h, w)
    assert np.array_equal(dec.astype(np.int64), img.astype(np.int64))


def test_hierarchical_jpeg_stream_structure_and_extremes():
    """The stream must genuinely carry the multi-frame pyramid (DHP,
    one SOF3, EXP + SOF7 per refinement level) and survive ±32768-class
    residuals in the differential frames."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_hierarchical_jpeg,
        encode_hierarchical_jpeg,
    )

    img = np.zeros((7, 13), np.uint16)
    img[:, 1::2] = 65535  # alternating extremes at full scale only
    enc = encode_hierarchical_jpeg(img, levels=3)
    assert enc.count(b"\xff\xde") == 1  # DHP
    assert enc.count(b"\xff\xc3") == 1  # one lossless base frame
    assert enc.count(b"\xff\xdf") == 2  # EXP per refinement level
    assert enc.count(b"\xff\xc7") == 2  # differential frames
    dec, prec = decode_hierarchical_jpeg(enc)
    assert prec == 16
    assert np.array_equal(dec, img)
    # arithmetic pyramid: DAC + SOF11 base + SOF15 differentials, and
    # the ±32768-class residuals survive the QM magnitude tree too
    enc_a = encode_hierarchical_jpeg(img, levels=3, entropy="arith")
    assert enc_a.count(b"\xff\xcc") == 1  # DAC
    assert enc_a.count(b"\xff\xcb") == 1  # SOF11 base
    assert enc_a.count(b"\xff\xcf") == 2  # SOF15 differential frames
    assert b"\xff\xc4" not in enc_a  # no Huffman tables
    dec_a, prec_a = decode_hierarchical_jpeg(enc_a)
    assert prec_a == 16
    assert np.array_equal(dec_a, img)


def test_hierarchical_jpeg_rejects_bad_input():
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        decode_hierarchical_jpeg,
        decode_lossless_jpeg,
        encode_hierarchical_jpeg,
    )

    img = np.arange(20, dtype=np.uint8).reshape(4, 5)
    with pytest.raises(ValueError):
        encode_hierarchical_jpeg(img, levels=1)
    with pytest.raises(ValueError):
        encode_hierarchical_jpeg(img, predictor=0)
    enc = encode_hierarchical_jpeg(img, levels=2)
    # single-frame decoders must point hierarchical callers here
    # rather than silently returning only the coarse base frame
    with pytest.raises(NotImplementedError):
        decode_baseline_jpeg(enc)
    with pytest.raises(NotImplementedError):
        decode_lossless_jpeg(enc)
    # corrupt entropy data must raise, not return wrong pixels
    corrupt = bytearray(enc)
    corrupt[-4] ^= 0x55
    with pytest.raises(ValueError):
        decode_hierarchical_jpeg(bytes(corrupt))


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=2, max_value=4),
)
def test_hierarchical_dct_jpeg_constant_closed_form(v, h, w, levels):
    """DCT pyramids (SOF1 base + SOF5 differential frames) are lossy,
    but on a CONSTANT plane every frame is DC-only and the decode
    reduces to the q00 DC roundtrip plus one quantize/dequantize per
    refinement — the exact closed form the SQL oracle replays. This is
    the strong end-to-end invariant for the lossy path."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        QUANT_LUM,
        dc_roundtrip_value,
        decode_hierarchical_jpeg,
        encode_hierarchical_jpeg,
    )

    img = np.full((h, w), v, np.uint8)
    enc = encode_hierarchical_jpeg(img, levels=levels, entropy="dct")
    dec, prec = decode_hierarchical_jpeg(enc)
    assert prec == 8 and dec.shape == (h, w)
    q00 = int(QUANT_LUM[0, 0])
    rec = dc_roundtrip_value(v, q00)
    for _ in range(levels - 1):
        dq = int(np.floor(8.0 * (v - rec) / q00 + 0.5))
        rec = min(255, max(0, rec + int(np.floor(dq * q00 / 8.0 + 0.5))))
    u = np.unique(dec)
    assert len(u) == 1 and int(u[0]) == rec, (v, levels, u, rec)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=2, max_value=4),
    st.randoms(use_true_random=False),
)
def test_hierarchical_dct_jpeg_deterministic_and_bounded(h, w, levels, rnd):
    """Arbitrary pixels through the lossy pyramid: byte-deterministic
    encode, structurally correct stream (DHP + one SOF1 + EXP/SOF5 per
    refinement + DQT/DHT), decode in range with the source's shape.
    The error bound on arbitrary noise is quantizer-sized (the Annex K
    table reaches 121), so only smoothness-free invariants are
    asserted here; constant planes carry the exactness proof above."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_hierarchical_jpeg,
        encode_hierarchical_jpeg,
    )

    img = np.array(
        [[rnd.randrange(256) for _ in range(w)] for _ in range(h)], np.uint8
    )
    enc = encode_hierarchical_jpeg(img, levels=levels, entropy="dct")
    assert enc == encode_hierarchical_jpeg(img, levels=levels, entropy="dct")
    assert enc.count(b"\xff\xde") == 1  # DHP
    assert enc.count(b"\xff\xc1") == 1  # SOF1 base
    assert enc.count(b"\xff\xdb") == 1  # DQT
    assert enc.count(b"\xff\xdf") == levels - 1  # EXP per refinement
    assert enc.count(b"\xff\xc5") == levels - 1  # SOF5 differentials
    dec, prec = decode_hierarchical_jpeg(enc)
    assert prec == 8 and dec.shape == (h, w)
    assert dec.dtype == np.uint8
    # decoding is deterministic too
    dec2, _ = decode_hierarchical_jpeg(enc)
    assert np.array_equal(dec, dec2)


def test_hierarchical_dct_jpeg_smooth_error_bound():
    """On a gentle gradient the closed-loop pyramid must land close to
    the source (each refinement recodes the remaining residual): the
    final-level quantizer dominates, so the error stays well under one
    low-frequency quant step. Also: 12/16-bit input honestly gates."""
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_hierarchical_jpeg,
        encode_hierarchical_jpeg,
    )

    x = np.arange(48)
    img = ((np.add.outer(x, x)) * 2 % 256).astype(np.uint8)
    dec, _ = decode_hierarchical_jpeg(
        encode_hierarchical_jpeg(img, levels=3, entropy="dct")
    )
    err = np.abs(dec.astype(int) - img.astype(int)).max()
    assert err <= 24, err
    with pytest.raises(NotImplementedError):
        encode_hierarchical_jpeg(
            img.astype(np.uint16), levels=2, precision=12, entropy="dct"
        )


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=700),
    st.integers(min_value=0, max_value=10),
    st.randoms(use_true_random=False),
)
def test_flac_wasted_bits_roundtrip(n, shift, rnd):
    """Samples sharing a trailing-zero factor (upscaled masters) must
    round-trip through the wasted-bits subframe path — and compress
    close to the unshifted signal's size, proving the shift is really
    stripped before prediction rather than Rice-coded away."""
    import numpy as np

    from hw_kafka_streams_spark.operators.flaccodec import (
        decode_flac,
        encode_flac,
    )

    base = np.array([rnd.randrange(-16, 16) for _ in range(n)], np.int64)
    s = (base << shift).astype(np.int16)
    dec, _ = decode_flac(encode_flac(s))
    assert np.array_equal(dec.astype(np.int64), s.astype(np.int64))


def test_flac_wasted_bits_detection_and_size_win():
    import numpy as np

    from hw_kafka_streams_spark.operators.flaccodec import (
        _wasted_bits,
        decode_flac,
        encode_flac,
    )

    rng = np.random.RandomState(11)
    shifted = (rng.randint(-128, 128, 900) << 7).astype(np.int16)
    assert _wasted_bits(shifted.astype(np.int64), 16) == 7
    assert _wasted_bits(np.array([4, 8, 6], np.int64), 16) == 1
    assert _wasted_bits(np.array([0, 0], np.int64), 16) == 0
    assert _wasted_bits(np.array([3], np.int64), 16) == 0
    enc = encode_flac(shifted)
    dec, _ = decode_flac(enc)
    assert np.array_equal(dec, shifted)
    full = encode_flac(rng.randint(-32768, 32768, 900).astype(np.int16))
    assert len(enc) < 0.7 * len(full)  # the 7 stripped bits must pay


# -------------------------------------------------- JPEG-LS (T.87)
# Context-adaptive Golomb codec (operators/jlscodec.py): bit-exact
# round-trip across depths, shapes, and run/regular mode mixes.


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.sampled_from([8, 12, 16]),
    st.sampled_from(["noise", "flat", "gradient", "bilevel", "mixed"]),
    st.randoms(use_true_random=False),
)
def test_jls_roundtrip_lossless(h, w, precision, kind, rnd):
    import numpy as np

    from hw_kafka_streams_spark.operators.jlscodec import (
        decode_jls,
        encode_jls,
    )

    lim = 1 << precision
    dt = np.uint16 if precision > 8 else np.uint8
    if kind == "noise":
        img = np.array(
            [[rnd.randrange(lim) for _ in range(w)] for _ in range(h)], dt
        )
    elif kind == "flat":
        img = np.full((h, w), rnd.randrange(lim), dt)
    elif kind == "gradient":
        r = np.arange(h)[:, None]
        c = np.arange(w)[None, :]
        img = (
            (rnd.randrange(9) * r + rnd.randrange(9) * c + rnd.randrange(lim))
            % lim
        ).astype(dt)
    elif kind == "bilevel":
        img = np.array(
            [[rnd.randrange(2) * (lim - 1) for _ in range(w)] for _ in range(h)],
            dt,
        )
    else:  # mixed: flat left half (run mode), noise right half
        img = np.full((h, w), rnd.randrange(lim), dt)
        for rr in range(h):
            for cc in range(w // 2, w):
                img[rr, cc] = rnd.randrange(lim)
    dec, prec = decode_jls(encode_jls(img, precision=precision))
    assert prec == precision
    assert dec.shape == (h, w)
    assert np.array_equal(dec.astype(np.int64), img.astype(np.int64))


def test_jls_run_mode_compresses_and_saturates_j_table():
    """A mostly-flat 200x400 plane must compress far below raw (run
    mode with J-table growth to long blocks) and still round-trip —
    including runs broken mid-line (both run-interruption contexts)
    and runs ending exactly at and short of the line end."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jlscodec import (
        decode_jls,
        encode_jls,
    )

    img = np.zeros((200, 400), np.uint8)
    img[50:150, 100:300] = 77  # interior rectangle: mid-line breaks
    img[0, 399] = 5  # run broken at the very last column
    enc = encode_jls(img)
    assert len(enc) * 20 < img.size  # >20x on a flat-dominated plane
    dec, _ = decode_jls(enc)
    assert np.array_equal(dec, img)


def test_jls_stuffing_never_emits_markers():
    """T.87 inserts a 0 bit after every 0xFF so no byte pair 0xFF
    0x80-0xFF (a marker) can appear inside entropy data."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jlscodec import (
        decode_jls,
        encode_jls,
    )

    rnd = np.random.RandomState(3)
    img = rnd.randint(0, 65536, (60, 80)).astype(np.uint16)
    enc = encode_jls(img)
    body = enc[2:-2]  # strip SOI / EOI
    # scan entropy data after the SOS segment for marker-like pairs
    sos = body.index(b"\xff\xda")
    entropy = body[sos + 2 + 8 :]
    for i in range(len(entropy) - 1):
        if entropy[i] == 0xFF:
            assert entropy[i + 1] < 0x80, f"marker byte at {i}"
    dec, _ = decode_jls(enc)
    assert np.array_equal(dec, img)


def test_jls_rejects_bad_input():
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.jlscodec import (
        decode_jls,
        encode_jls,
    )

    with pytest.raises(ValueError):
        encode_jls(np.zeros(5, np.uint8))  # 1-D
    with pytest.raises(ValueError):
        encode_jls(np.full((2, 2), 300), precision=8)  # out of range
    with pytest.raises(NotImplementedError):
        encode_jls(np.zeros((2, 2), np.uint8), precision=4)  # sub-8-bit
    with pytest.raises(ValueError):
        decode_jls(b"\x00\x01\x02")  # no SOI
    z = np.zeros((2, 2), np.uint8)
    with pytest.raises(ValueError):
        encode_jls(z, ilv=3)  # no such interleave mode
    with pytest.raises(ValueError):
        encode_jls(z, t1=9, t2=5)  # T1 > T2
    with pytest.raises(ValueError):
        encode_jls(z, reset=2)  # RESET < 3
    with pytest.raises(ValueError):
        encode_jls(np.full((2, 2), 255, np.uint8), maxval=200)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=2, max_value=4),
    st.sampled_from([0, 1, 2]),
    st.sampled_from(["noise", "flat", "mixed", "plane-flat"]),
    st.integers(min_value=0, max_value=2),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_jls_interleaved_lse_roundtrip(h, w, ncomp, ilv, kind, near, lse, rnd):
    """VERDICT r8 item 4: all three ILV layouts × LSE presets × NEAR
    must round-trip (bit-exact when near=0, within ±near otherwise) —
    including flat planes that drive the shared-run (ILV=2) and
    per-component-run-index (ILV=1) paths."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jlscodec import (
        decode_jls,
        encode_jls,
    )

    if kind == "noise":
        img = np.array(
            [[[rnd.randrange(256) for _ in range(ncomp)]
              for _ in range(w)] for _ in range(h)], np.uint8,
        )
    elif kind == "flat":
        img = np.full((h, w, ncomp), rnd.randrange(256), np.uint8)
    elif kind == "plane-flat":
        # one flat component + noisy ones: ILV=2 must NOT enter run
        # mode (not all components flat); ILV=1 runs on one plane only
        img = np.array(
            [[[rnd.randrange(256) for _ in range(ncomp)]
              for _ in range(w)] for _ in range(h)], np.uint8,
        )
        img[:, :, 0] = 42
    else:  # mixed: flat left half (shared runs), noise right half
        img = np.full((h, w, ncomp), rnd.randrange(256), np.uint8)
        for rr in range(h):
            for cc in range(w // 2, w):
                for ci in range(ncomp):
                    img[rr, cc, ci] = rnd.randrange(256)
    kw = dict(ilv=ilv, near=near)
    if lse:
        kw.update(t1=2 + near + rnd.randrange(6), reset=rnd.choice([16, 64, 128]))
        kw["t2"] = kw["t1"] + rnd.randrange(8)
        kw["t3"] = kw["t2"] + rnd.randrange(20)
    enc = encode_jls(img, **kw)
    if lse:
        assert b"\xff\xf8" in enc  # the LSE segment is actually emitted
    dec, prec = decode_jls(enc)
    assert prec == 8 and dec.shape == (h, w, ncomp)
    err = np.abs(dec.astype(np.int64) - img.astype(np.int64))
    assert int(err.max()) <= near


# -------------------------------------------------- MC video (MCLV1)
# Motion-compensated lossless inter-frame codec (operators/mcvideo.py):
# bit-exact round-trip, exact motion recovery on rigid translation.


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.sampled_from(["noise", "static", "translate", "walk"]),
    st.randoms(use_true_random=False),
)
def test_mclv_roundtrip_lossless(t, h, w, kind, rnd):
    import numpy as np

    from hw_kafka_streams_spark.operators.mcvideo import (
        decode_mclv,
        encode_mclv,
    )

    if kind == "noise":
        clip = np.array(
            [[[rnd.randrange(256) for _ in range(w)] for _ in range(h)]
             for _ in range(t)],
            np.uint8,
        )
    elif kind == "static":
        f = np.full((h, w), rnd.randrange(256), np.uint8)
        clip = np.stack([f] * t)
    elif kind == "translate":
        dy, dx = rnd.randrange(-2, 3), rnd.randrange(-2, 3)
        frames = []
        for ti in range(t):
            r = np.arange(h)[:, None]
            c = np.arange(w)[None, :]
            frames.append(
                ((1000 + 3 * (r - ti * dy) + 7 * (c - ti * dx)) % 256
                 ).astype(np.uint8)
            )
        clip = np.stack(frames)
    else:  # walk: textured frame random-rolled each step
        f = np.array(
            [[rnd.randrange(256) for _ in range(w)] for _ in range(h)],
            np.uint8,
        )
        frames = [f]
        for _ in range(t - 1):
            frames.append(
                np.roll(frames[-1],
                        (rnd.randrange(-3, 4), rnd.randrange(-3, 4)),
                        axis=(0, 1))
            )
        clip = np.stack(frames)
    dec = decode_mclv(encode_mclv(clip))
    assert dec.shape == clip.shape
    assert np.array_equal(dec, clip)


def test_mclv_motion_search_finds_exact_shift():
    """A rigidly-translating pattern must yield MV = (-dy, -dx) and a
    skip flag for every interior block — the motion search proves it
    finds the true displacement, not merely a decodable one."""
    import numpy as np

    from hw_kafka_streams_spark.operators.mcvideo import (
        decode_mclv,
        encode_mclv,
        motion_field,
    )

    dy, dx = 2, -3
    frames = []
    for ti in range(4):
        r = np.arange(32)[:, None]
        c = np.arange(48)[None, :]
        frames.append(
            ((5000 + 3 * (r - ti * dy) + 7 * (c - ti * dx)) % 256
             ).astype(np.uint8)
        )
    clip = np.stack(frames)
    enc = encode_mclv(clip, block=8, search=4)
    assert np.array_equal(decode_mclv(enc), clip)
    nbx = 48 // 8
    for field in motion_field(enc):
        # interior blocks: grid rows 1..2, cols 1..4 (border excluded)
        for by in range(1, 3):
            for bx in range(1, 5):
                assert field[by * nbx + bx] == (-dy, -dx)


def test_mclv_static_clip_is_all_skip_and_tiny():
    """A static clip must cost ~1 MV byte + 1 skip bit per block per
    P-frame beyond the raw I-frame — near-maximal compression."""
    import numpy as np

    from hw_kafka_streams_spark.operators.mcvideo import (
        decode_mclv,
        encode_mclv,
        motion_field,
    )

    rng = np.random.RandomState(5)
    f = rng.randint(0, 256, (32, 32)).astype(np.uint8)
    clip = np.stack([f] * 8)
    enc = encode_mclv(clip)
    # 13 header + 1024 I-frame + 7 P-frames * 16 blocks * ~9/8 bytes
    assert len(enc) < 13 + 1024 + 7 * 16 * 2
    assert np.array_equal(decode_mclv(enc), clip)
    for field in motion_field(enc):
        assert all(mv == (0, 0) for mv in field)


def test_mclv_rejects_bad_input():
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.mcvideo import (
        decode_mclv,
        encode_mclv,
    )

    with pytest.raises(ValueError):
        encode_mclv(np.zeros((4, 4), np.uint8))  # 2-D
    with pytest.raises(ValueError):
        encode_mclv(np.zeros((2, 4, 4), np.int32))  # not uint8
    with pytest.raises(ValueError):
        encode_mclv(np.zeros((2, 4, 4), np.uint8), search=9)  # nibble
    with pytest.raises(ValueError):
        decode_mclv(b"JUNK" + b"\x00" * 20)


# ------------------------------------------- FLAC variable block-size


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=1200),
    st.lists(st.integers(min_value=16, max_value=400), min_size=1, max_size=4),
    st.sampled_from([1, 2]),
    st.randoms(use_true_random=False),
)
def test_flac_variable_blocksize_roundtrip(n, schedule, channels, rnd):
    import numpy as np

    from hw_kafka_streams_spark.operators.flaccodec import (
        decode_flac,
        encode_flac,
    )

    vals = np.array(
        [[rnd.randrange(-2000, 2001) for _ in range(channels)]
         for _ in range(n)],
        np.int16,
    )
    samples = vals[:, 0] if channels == 1 else vals
    enc = encode_flac(samples, block_schedule=schedule)
    dec, sr = decode_flac(enc)
    assert np.array_equal(dec, samples)


def test_flac_variable_blocksize_header_layout():
    """The strategy bit must be set, STREAMINFO must declare the true
    min/max sizes, and frame addressing is by sample number: corrupting
    a later frame's number must fail the addressing check (not just
    CRC) — find the second frame by its sync+strategy byte pattern."""
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.flaccodec import (
        decode_flac,
        encode_flac,
    )

    s = ((np.arange(700) * 13) % 4001 - 2000).astype(np.int16)
    enc = encode_flac(s, block_schedule=[192, 320])
    # STREAMINFO starts at byte 8: min/max block size big-endian u16s
    assert int.from_bytes(enc[8:10], "big") == 192
    assert int.from_bytes(enc[10:12], "big") == 320
    # frame headers: sync 0xFFF9 = 14-bit sync + reserved 0 + strategy 1
    assert enc[42:44].hex() != ""  # stream has frames
    syncs = []
    i = 0
    while True:
        j = enc.find(b"\xff\xf9", i)
        if j < 0:
            break
        syncs.append(j)
        i = j + 1
    assert len(syncs) >= 3  # 700 samples over [192, 320, 192]
    dec, _ = decode_flac(enc)
    assert np.array_equal(dec, s)
    # fixed-strategy stream of the same PCM has no 0xFFF9 headers
    fixed = encode_flac(s)
    k = 4 + 4 + 34  # fLaC + header + STREAMINFO
    assert fixed.find(b"\xff\xf9", k) in (-1,) or b"\xff\xf8" in fixed[k:]

    corrupt = bytearray(enc)
    # the 5th header byte (after 4-byte fixed part) is the UTF-8 sample
    # number of frame 2 (value 192 -> 3-byte UTF-8 0xC3 0x80): bump it
    p = syncs[1] + 4
    assert corrupt[p] == 0xC3 and corrupt[p + 1] == 0x80
    corrupt[p + 1] = 0x81  # sample number 193
    # re-fix the header CRC-8 so ONLY the addressing check can object;
    # frame 2 is 320 samples -> 16-bit explicit size tail after the
    # sample number, so the CRC sits at p + 2 (utf8) + 2 (size tail)
    from hw_kafka_streams_spark.operators.flaccodec import _crc8

    hdr_end = p + 4
    corrupt[hdr_end] = _crc8(bytes(corrupt[syncs[1] : hdr_end]))
    # ... and the frame CRC-16 (footer of frame 2, just before frame 3)
    from hw_kafka_streams_spark.operators.flaccodec import _crc16

    crc16 = _crc16(bytes(corrupt[syncs[1] : syncs[2] - 2]))
    corrupt[syncs[2] - 2 : syncs[2]] = crc16.to_bytes(2, "big")
    with pytest.raises(ValueError, match="frame number mismatch"):
        decode_flac(bytes(corrupt))


# -------------------------------------------------- MDCT audio (MDA1)
# Transform audio codec (operators/mdctcodec.py): lossy, so no
# registry oracle — the filterbank identity, SNR, and determinism
# contracts live here instead.


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.sampled_from([8, 12, 16]),
    st.integers(min_value=0, max_value=6),
    st.randoms(use_true_random=False),
)
def test_jls_near_lossless_error_bound(h, w, precision, near, rnd):
    """NEAR-lossless mode: every reconstructed sample within +/-NEAR
    of the input, for any content, depth, and NEAR — including the
    run-mode paths (|Di| <= NEAR triggers, fuzzy run matching)."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jlscodec import (
        decode_jls,
        encode_jls,
    )

    lim = 1 << precision
    dt = np.uint16 if precision > 8 else np.uint8
    img = np.array(
        [[rnd.randrange(lim) for _ in range(w)] for _ in range(h)], dt
    )
    dec, prec = decode_jls(encode_jls(img, precision=precision, near=near))
    assert prec == precision
    err = np.abs(dec.astype(np.int64) - img.astype(np.int64)).max()
    assert err <= near


def test_jls_near_shrinks_bitstream():
    """On smooth-plus-noise content the NEAR ladder must monotonically
    shrink the stream (the whole point of near-lossless mode)."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jlscodec import encode_jls

    rng = np.random.RandomState(7)
    r = np.arange(64)[:, None]
    c = np.arange(64)[None, :]
    img = (
        ((2 * r + 3 * c) % 256 + rng.randint(-2, 3, (64, 64)))
        .clip(0, 255)
        .astype(np.uint8)
    )
    sizes = [len(encode_jls(img, near=n)) for n in (0, 1, 3)]
    assert sizes[2] < sizes[1] < sizes[0]


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=2, max_value=4),
    st.sampled_from([8, 16]),
    st.integers(min_value=0, max_value=2),
    st.randoms(use_true_random=False),
)
def test_jls_multicomponent_roundtrip(h, w, ncomp, precision, near, rnd):
    """Non-interleaved multi-component streams: one scan per
    component with fresh coder state; lossless when NEAR=0, +/-NEAR
    otherwise; marker search must find every next scan."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jlscodec import (
        decode_jls,
        encode_jls,
    )

    lim = 1 << precision
    dt = np.uint16 if precision > 8 else np.uint8
    img = np.array(
        [[[rnd.randrange(lim) for _ in range(ncomp)] for _ in range(w)]
         for _ in range(h)],
        dt,
    )
    dec, prec = decode_jls(encode_jls(img, precision=precision, near=near))
    assert prec == precision
    assert dec.shape == (h, w, ncomp)
    err = np.abs(dec.astype(np.int64) - img.astype(np.int64)).max()
    assert err <= near


# ---------------------------------------- TIFF LZW / Deflate / predictor


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.sampled_from([1, 5, 8]),
    st.sampled_from([1, 2]),
    st.sampled_from(["<", ">"]),
    st.sampled_from([8, 16]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_tiff_compression_roundtrip(h, w, comp, pred, bo, bits, seed):
    """8- and 16-bit samples x both byte orders x all compressions x
    both predictors: decode must be bit-exact AND keep the sample
    depth (uint16 in, uint16 out — 16-bit stored in the file byte
    order per TIFF 6.0 §4, round-9 gate removal)."""
    import numpy as np

    from hw_kafka_streams_spark.operators.tiffcodec import (
        decode_tiff_pixels,
        encode_tiff_rgb,
    )

    dt = np.uint16 if bits == 16 else np.uint8
    img = (
        np.random.RandomState(seed)
        .randint(0, 1 << bits, (h, w, 3))
        .astype(dt)
    )
    dec = decode_tiff_pixels(
        encode_tiff_rgb(img, bo, compression=comp, predictor=pred)
    )
    assert dec.dtype == dt
    assert np.array_equal(dec, img)


def test_tiff_lzw_kernel_resets_and_early_change():
    """The LZW pair must survive table-full resets (>4k dictionary
    entries -> embedded ClearCodes) and the TIFF early width change;
    repetitive data must compress far below raw."""
    import numpy as np

    from hw_kafka_streams_spark.operators.tiffcodec import (
        _lzw_compress,
        _lzw_decompress,
    )

    rng = np.random.RandomState(9)
    long_random = bytes(rng.randint(0, 256, 200_000).astype(np.uint8))
    assert _lzw_decompress(_lzw_compress(long_random)) == long_random
    rep = b"abcabd" * 20_000
    enc = _lzw_compress(rep)
    assert len(enc) * 4 < len(rep)
    assert _lzw_decompress(enc) == rep
    assert _lzw_decompress(_lzw_compress(b"")) == b""


def test_tiff_predictor_improves_gradient_compression():
    import numpy as np

    from hw_kafka_streams_spark.operators.tiffcodec import encode_tiff_rgb

    r = np.arange(64)[:, None, None]
    c = np.arange(64)[None, :, None]
    img = ((r + c + np.arange(3)[None, None, :]) % 256).astype(np.uint8)
    plain = len(encode_tiff_rgb(img, compression=5, predictor=1))
    pred = len(encode_tiff_rgb(img, compression=5, predictor=2))
    raw = len(encode_tiff_rgb(img))
    assert pred < plain < raw


# ------------------------------------------------ Gorilla TSDB blocks


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=0, max_value=400),
    st.sampled_from(["regular", "jitter", "randombits", "const"]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gorilla_roundtrip_bit_exact(n, kind, seed):
    """Delta-of-delta + XOR-window blocks must reproduce timestamps
    AND float64 bit patterns exactly — including negative zeros,
    subnormals, NaN payloads, zero deltas, and huge cadence jumps."""
    import numpy as np

    from hw_kafka_streams_spark.operators.gorillacodec import (
        decode_gorilla,
        encode_gorilla,
    )

    rng = np.random.RandomState(seed)
    if kind == "regular":
        ts = np.arange(n, dtype=np.int64) * 60_000_000
        vs = np.round(rng.randn(n) * 3 + 100, 2)
    elif kind == "jitter":
        ts = np.cumsum(rng.randint(0, 10**9, n)).astype(np.int64)
        vs = rng.randn(n) * 1e6
    elif kind == "randombits":
        ts = np.sort(rng.randint(0, 2**40, n)).astype(np.int64)
        vs = rng.randint(0, 2**63, n, dtype=np.int64).view(np.float64)
    else:
        ts = np.full(n, 7, np.int64)
        vs = np.full(n, -0.0)
    enc = encode_gorilla(ts, vs)
    dts, dvs = decode_gorilla(enc)
    assert np.array_equal(dts, ts)
    assert np.array_equal(dvs.view(np.uint64), vs.view(np.uint64))


def test_half_away_int64_matches_cpp_round_on_pathological_doubles():
    """ADVICE r8: floor(x+0.5) carries in FP on values just below a
    half (0.49999999999999994 + 0.5 rounds UP to 1.0); the helper must
    match C++/DuckDB std::round — half away from zero, decided on the
    TRUE double value — on every pathological shape."""
    import numpy as np

    from hw_kafka_streams_spark.operators.gorillacodec import half_away_int64

    below_half = np.nextafter(0.5, 0.0)  # 0.49999999999999994
    cases = np.array(
        [
            below_half,            # floor(x+0.5)==1; std::round==0
            -below_half,
            0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
            np.nextafter(1.5, 0.0),   # 1.4999999999999998 -> 1
            np.nextafter(-1.5, 0.0),  # -> -1
            0.0, -0.0, 100.0, -100.0,
            4503599627370495.5,       # largest x.5 exactly representable
        ]
    )
    expect = np.array(
        [0, 0, 1, -1, 2, -2, 3, -3, 1, -1, 0, 0, 100, -100,
         4503599627370496],
        dtype=np.int64,
    )
    assert np.array_equal(half_away_int64(cases), expect)


def test_gorilla_compression_on_metrics_shaped_data():
    """Regular cadence + slowly-drifting 2-decimal values (the metrics
    sweet spot) must land far below the 16 raw bytes/point; constant
    series approach the paper's ~1-2 bits/point regime."""
    import numpy as np

    from hw_kafka_streams_spark.operators.gorillacodec import (
        encode_gorilla,
    )

    n = 5000
    ts = np.arange(n, dtype=np.int64) * 60_000_000
    rng = np.random.RandomState(1)
    vs = np.round(np.cumsum(rng.randn(n) * 0.01) + 100, 2)
    assert len(encode_gorilla(ts, vs)) < 6 * n  # < 6 bytes/point
    assert len(encode_gorilla(ts, np.full(n, 42.5))) < 0.5 * n


def test_gorilla_rejects_bad_input():
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.gorillacodec import (
        decode_gorilla,
        encode_gorilla,
    )

    with pytest.raises(ValueError):
        encode_gorilla(np.array([3, 1], np.int64), np.zeros(2))  # decreasing
    with pytest.raises(ValueError):
        encode_gorilla(np.zeros((2, 2), np.int64), np.zeros((2, 2)))
    with pytest.raises(ValueError):
        decode_gorilla(b"nope")


def test_gorilla_every_truncation_raises_typed_error():
    """A block cut at ANY byte raises ValueError('truncated Gorilla
    block'), never a bare 'negative shift count' or struct.error. The
    cadence jitter and value mix put cuts inside every delta-of-delta
    width and every XOR control (repeat, window reuse, new window)."""
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.gorillacodec import (
        decode_gorilla,
        encode_gorilla,
    )

    rng = np.random.RandomState(7)
    n = 200
    jitter = rng.choice([0, 0, 0, 10, -10, 200, -200, 2000, -2000, 10**9], n)
    ts = np.cumsum(60_000_000 + jitter).astype(np.int64)
    vs = np.round(np.cumsum(rng.randn(n)) + 100, 2)
    vs[rng.rand(n) < 0.3] = 42.5
    vs[::17] = rng.randn(len(vs[::17])) * 1e9
    block = encode_gorilla(ts, vs)
    dts, dvs = decode_gorilla(block)
    assert np.array_equal(dts, ts)
    assert np.array_equal(dvs.view(np.uint64), vs.view(np.uint64))
    for cut in range(len(block)):
        with pytest.raises(ValueError, match="^truncated Gorilla block$"):
            decode_gorilla(block[:cut])


def test_tiff_jpeg_in_tiff_roundtrip_within_tolerance():
    """Compression 7 (new-style JPEG-in-TIFF): each strip is a full
    JPEG interchange stream decoded through the in-house T.81 codec;
    lossy, so the check is tolerance + geometry, and the deprecated
    old-JPEG code 6 must still raise."""
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.tiffcodec import (
        decode_tiff_pixels,
        encode_tiff_rgb,
    )

    r = np.arange(40)[:, None, None]
    c = np.arange(48)[None, :, None]
    img = np.clip(
        128 + 40 * np.sin(r / 8) + 30 * np.cos(c / 9)
        + np.arange(3)[None, None, :] * 5,
        0, 255,
    ).astype(np.uint8)
    enc = encode_tiff_rgb(img, compression=7)
    assert len(enc) * 4 < img.size  # actually compressed
    dec = decode_tiff_pixels(enc)
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.mean() < 4 and err.max() < 40
    with pytest.raises(ValueError):
        encode_tiff_rgb(img, compression=7, predictor=2)
    bad = bytearray(encode_tiff_rgb(img))
    i = bad.find(b"\x03\x01\x03\x00\x01\x00\x00\x00\x01\x00")
    bad[i + 8] = 6  # deprecated old-JPEG
    with pytest.raises(NotImplementedError):
        decode_tiff_pixels(bytes(bad))


def test_gorilla_overflow_and_rounding_guards():
    """ADVICE r7: (a) zigzagged deltas that exceed the 64-bit field
    must raise, not silently truncate; (b) cent-scaling is
    half-AWAY-from-zero (DuckDB round), never banker's."""
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.gorillacodec import (
        encode_gorilla,
    )

    # delta = (2^63-1) - (-2^63) overflows the zigzag field
    ts = np.array([-(2**63), 2**63 - 1], np.int64)
    vs = np.array([1.0, 2.0], np.float64)
    with pytest.raises(ValueError, match="64-bit zigzag"):
        encode_gorilla(ts, vs)
    # half-away-from-zero (np.round would give 12 / -12)
    scaled = np.array([12.5, -12.5])
    cents = np.where(
        scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
    ).astype(np.int64)
    assert cents.tolist() == [13, -13]


# ---------------------------------------------------------------------------
# QM arithmetic coder (operators/qmcoder.py, T.81 Annex D) and the
# arithmetic-coded JPEG mode (SOF9, Annex F models)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.booleans()), max_size=600
    ),
)
def test_qm_coder_roundtrip(decisions):
    """Every (context, bit) sequence decodes back exactly, and the
    payload obeys T.81 byte stuffing (no bare 0xFF)."""
    from hw_kafka_streams_spark.operators.qmcoder import (
        QMDecoder,
        QMEncoder,
        fixed_context,
        new_context,
    )

    enc = QMEncoder()
    ectx = [new_context() for _ in range(6)] + [fixed_context()]
    for ci, b in decisions:
        enc.encode(ectx[ci], int(b))
        if ci == 0:
            enc.encode(ectx[6], int(not b))  # interleave fixed bins
    payload = enc.flush()
    assert b"\xff" not in payload.replace(b"\xff\x00", b"")
    dec = QMDecoder(payload + b"\xff\xd9", 0)
    dctx = [new_context() for _ in range(6)] + [fixed_context()]
    for ci, b in decisions:
        assert dec.decode(dctx[ci]) == int(b)
        if ci == 0:
            assert dec.decode(dctx[6]) == int(not b)


def test_qm_coder_compression_tracks_entropy():
    """The adaptive estimator approaches the source entropy — the
    property the Annex D state machine exists for (a mis-transcribed
    transition table still roundtrips but stops compressing)."""
    import math
    import random

    from hw_kafka_streams_spark.operators.qmcoder import (
        QMEncoder,
        new_context,
    )

    rng = random.Random(11)
    for p in (0.5, 0.1, 0.02):
        bits = [1 if rng.random() < p else 0 for _ in range(20000)]
        enc = QMEncoder()
        ctx = new_context()
        for b in bits:
            enc.encode(ctx, b)
        out = enc.flush()
        entropy = -(p * math.log2(p) + (1 - p) * math.log2(1 - p))
        # within 15% of the source entropy (plus a small constant for
        # the adaptation ramp and flush)
        assert 8 * len(out) <= entropy * len(bits) * 1.15 + 200, (
            p, len(out),
        )


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.sampled_from(["444", "422", "420"]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_arith_jpeg_always_equals_huffman(scale, sub, seed):
    """SOF9 arithmetic entropy coding is lossless over the same
    quantized coefficients ⇒ pixel-identical to the baseline stream,
    for any image and subsampling."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        encode_sequential_arith_jpeg,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(
        0, 256, size=(8 * scale, 8 * (5 - scale), 3), dtype=np.uint8
    )
    assert np.array_equal(
        decode_baseline_jpeg(encode_baseline_jpeg(img, subsampling=sub)),
        decode_baseline_jpeg(
            encode_sequential_arith_jpeg(img, subsampling=sub)
        ),
    )


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_arith_jpeg_odd_dims_and_smooth_content(h, w, seed):
    """Non-multiple-of-8 dims (edge padding) and smooth gradients —
    the regime where AC coefficients are sparse and the EOB/zero-run
    decision bins carry most of the stream."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        encode_sequential_arith_jpeg,
    )

    rng = np.random.default_rng(seed)
    a, b, c = (int(x) for x in rng.integers(0, 7, 3))
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * a + yy) % 256, (yy * b) % 256, ((xx + yy) * c) % 256],
        axis=-1,
    ).astype(np.uint8)
    assert np.array_equal(
        decode_baseline_jpeg(encode_baseline_jpeg(img)),
        decode_baseline_jpeg(encode_sequential_arith_jpeg(img)),
    )


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_progressive_arith_jpeg_always_equals_baseline(scale, seed):
    """SOF10 (progressive + arithmetic): the successive-approximation
    QM scan script reorganizes the same quantized coefficients —
    pixels must match the baseline Huffman stream exactly."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        encode_progressive_arith_jpeg,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(
        0, 256, size=(8 * scale, 8 * (5 - scale), 3), dtype=np.uint8
    )
    assert np.array_equal(
        decode_baseline_jpeg(encode_baseline_jpeg(img)),
        decode_baseline_jpeg(encode_progressive_arith_jpeg(img)),
    )


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=28),
    st.integers(min_value=1, max_value=28),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_progressive_arith_jpeg_odd_dims(h, w, seed):
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        encode_progressive_arith_jpeg,
    )

    rng = np.random.default_rng(seed)
    a, b = (int(x) for x in rng.integers(0, 9, 2))
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * a + yy * b) % 256, (xx + yy) % 256, (xx * b) % 256],
        axis=-1,
    ).astype(np.uint8)
    assert np.array_equal(
        decode_baseline_jpeg(encode_baseline_jpeg(img)),
        decode_baseline_jpeg(encode_progressive_arith_jpeg(img)),
    )


@settings(max_examples=10, deadline=None)
@given(
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_arith_jpeg_restart_intervals(interval, seed):
    """SOF9 with DRI/RSTn: each restart interval is an independent
    entropy segment (coder + statistics + DC state re-initialised), so
    pixels still match the unrestarted and baseline streams exactly —
    the error-resilience shape large scans ship with."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        encode_sequential_arith_jpeg,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)  # 15 MCUs
    ref = decode_baseline_jpeg(encode_baseline_jpeg(img))
    got = decode_baseline_jpeg(
        encode_sequential_arith_jpeg(img, restart_interval=interval)
    )
    assert np.array_equal(ref, got)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=0, max_value=4095),
    st.integers(min_value=1, max_value=33),
    st.integers(min_value=1, max_value=33),
)
def test_extended_jpeg12_constant_closed_form(v, h, w):
    """12-bit extended sequential (SOF1, Pq=1 16-bit quant table):
    on a CONSTANT plane the lossy path reduces to the q00 DC roundtrip
    at precision 12 — the same closed form the 8-bit baseline proves,
    now at the 16x sample range the 16-bit table exists to serve."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        QUANT_LUM12,
        dc_roundtrip_value,
        decode_baseline_jpeg,
        encode_extended_jpeg_gray12,
    )

    img = np.full((h, w), v, np.uint16)
    dec = decode_baseline_jpeg(encode_extended_jpeg_gray12(img))
    assert dec.dtype == np.uint16 and dec.shape == (h, w, 3)
    rec = dc_roundtrip_value(v, int(QUANT_LUM12[0, 0]), precision=12)
    u = np.unique(dec)
    assert len(u) == 1 and int(u[0]) == rec, (v, u, rec)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.randoms(use_true_random=False),
)
def test_extended_jpeg12_deterministic_and_structured(h, w, rnd):
    """Arbitrary 12-bit pixels: byte-deterministic encode, the stream
    carries exactly one Pq=1 DQT (129-byte table payload) and one
    SOF1 declaring P=12, and the decode is in-range uint16 of the
    source's shape. Noise error is quantizer-sized (the x8 Annex K
    table reaches 968), so exactness lives in the constant-plane
    closed form above."""
    import numpy as np
    import struct

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_extended_jpeg_gray12,
    )

    img = np.array(
        [[rnd.randrange(4096) for _ in range(w)] for _ in range(h)],
        np.uint16,
    )
    enc = encode_extended_jpeg_gray12(img)
    assert enc == encode_extended_jpeg_gray12(img)
    assert enc.count(b"\xff\xc1") == 1
    i = enc.index(b"\xff\xdb")
    (seglen,) = struct.unpack(">H", enc[i + 2 : i + 4])
    assert seglen == 2 + 1 + 128  # Pq=1: 64 x 16-bit entries
    assert enc[i + 4] == 0x10  # Pq=1, Tq=0
    j = enc.index(b"\xff\xc1")
    assert enc[j + 4] == 12  # sample precision
    dec = decode_baseline_jpeg(enc)
    assert dec.dtype == np.uint16 and dec.shape == (h, w, 3)
    assert int(dec.max()) <= 4095
    dec2 = decode_baseline_jpeg(enc)
    assert np.array_equal(dec, dec2)


def test_extended_jpeg12_smooth_error_bound_and_gates():
    """A gentle 12-bit gradient lands within one low-frequency quant
    step; out-of-range input and non-SOF1 12-bit streams honestly
    reject."""
    import numpy as np
    import pytest

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_extended_jpeg_gray12,
    )

    xx, yy = np.meshgrid(np.arange(48), np.arange(32))
    img = (xx * 20 + yy * 12 + 100).astype(np.uint16)
    dec = decode_baseline_jpeg(encode_extended_jpeg_gray12(img))[..., 0]
    err = np.abs(dec.astype(np.int64) - img.astype(np.int64))
    assert err.max() <= 160, err.max()  # q00 = 128 dominates
    with pytest.raises(ValueError):
        encode_extended_jpeg_gray12(np.full((8, 8), 4096, np.int32))
    with pytest.raises(ValueError):
        encode_extended_jpeg_gray12(np.full((8, 8), -1, np.int32))
    # 12-bit declared in a non-SOF1 frame gates honestly: patch the
    # SOF1 marker to SOF0 (baseline must be 8-bit per T.81)
    enc = bytearray(encode_extended_jpeg_gray12(np.full((8, 8), 9, np.uint16)))
    j = bytes(enc).index(b"\xff\xc1")
    enc[j + 1] = 0xC0
    with pytest.raises(NotImplementedError):
        decode_baseline_jpeg(bytes(enc))


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=1, max_value=33),
    st.integers(min_value=1, max_value=33),
    st.integers(min_value=2, max_value=4),
)
def test_hierarchical_dct_arith_equals_huffman(v, h, w, levels):
    """SOF9 + SOF13 QM-coded DCT pyramids decode to EXACTLY the same
    pixels as the SOF1 + SOF5 Huffman pyramid (the entropy layer is
    lossless over identical quantized coefficients), so the constant-
    plane closed form transfers verbatim — and arbitrary planes need
    no separate error analysis."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_hierarchical_jpeg,
        encode_hierarchical_jpeg,
    )

    img = np.full((h, w), v, np.uint8)
    da, pa = decode_hierarchical_jpeg(
        encode_hierarchical_jpeg(img, levels=levels, entropy="dct_arith")
    )
    dh, ph = decode_hierarchical_jpeg(
        encode_hierarchical_jpeg(img, levels=levels, entropy="dct")
    )
    assert pa == ph == 8
    assert np.array_equal(da, dh)


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=2, max_value=4),
    st.randoms(use_true_random=False),
)
def test_hierarchical_dct_arith_structure_and_determinism(h, w, levels, rnd):
    """Arbitrary pixels through the QM-coded DCT pyramid:
    byte-deterministic encode, correct stream structure (one SOF9
    base, one SOF13 per refinement, a DAC and NO Huffman tables),
    decode equals the Huffman pyramid's pixels."""
    import numpy as np

    from hw_kafka_streams_spark.operators.jpegcodec import (
        decode_hierarchical_jpeg,
        encode_hierarchical_jpeg,
    )

    img = np.array(
        [[rnd.randrange(256) for _ in range(w)] for _ in range(h)], np.uint8
    )
    enc = encode_hierarchical_jpeg(img, levels=levels, entropy="dct_arith")
    assert enc == encode_hierarchical_jpeg(
        img, levels=levels, entropy="dct_arith"
    )
    assert enc.count(b"\xff\xc9") == 1  # SOF9 base
    assert enc.count(b"\xff\xcd") == levels - 1  # SOF13 differentials
    assert enc.count(b"\xff\xcc") == 1  # DAC
    assert enc.count(b"\xff\xc4") == 0  # no DHT in a QM stream
    assert enc.count(b"\xff\xdf") == levels - 1  # EXP per refinement
    dec, prec = decode_hierarchical_jpeg(enc)
    assert prec == 8 and dec.shape == (h, w) and dec.dtype == np.uint8
    dh, _ = decode_hierarchical_jpeg(
        encode_hierarchical_jpeg(img, levels=levels, entropy="dct")
    )
    assert np.array_equal(dec, dh)
