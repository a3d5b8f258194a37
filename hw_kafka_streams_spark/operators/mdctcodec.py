"""MDCT transform audio codec — the perceptual-codec core, pure numpy.

Closes the transform-audio slot of the codec story (reference parity
note: the reference app — KafkaStreamApp.java — has no media surface;
this is north-star multimodal coverage). Every mainstream perceptual
codec since MP3 — AAC, Vorbis, Opus's CELT layer — is built on the
same published core implemented here:

- **MDCT filterbank** with 50% overlap and a sine window (Princen &
  Bradley, "Analysis/Synthesis Filter Bank Design Based on Time
  Domain Aliasing Cancellation", IEEE TASSP 1986): the lapped
  transform is 2x-overcomplete per frame yet critically sampled
  overall, and overlap-add of the inverse cancels the time-domain
  aliasing EXACTLY — perfect reconstruction without quantization,
  verified to float precision in tests.
- **Scalefactor-band quantization**: coefficients group into
  pseudo-Bark bands (geometrically widening toward high frequency);
  each band stores a shared exponent (the scalefactor) and
  fixed-point mantissas at a per-band bit depth from a static
  allocation that spends more bits on low bands — the deliberate
  honesty gate: a REAL psychoacoustic model (masking thresholds,
  tonality estimation) is out of scope, so the allocation is a fixed
  "psychoacoustic-lite" curve, documented as such.
- **Rice entropy coding** of the quantized mantissas (zigzag map,
  per-band optimal parameter) in the private byte stream below.

Why no registry query: the codec is LOSSY, so decoded moments are not
SQL-predictable the way the lossless FLAC/JPEG-LS/QOI/MCLV cycles are;
the filterbank's perfect-reconstruction identity and the codec's SNR /
determinism / monotonicity contracts are enforced by the test suite
instead (tests/test_properties.py), keeping the query registry 100%
DuckDB-oracled.

Bitstream (big-endian): ``MDA1`` magic, u8 version=1, u32 n_samples,
u16 frame length (1024 time samples, 512 bins), u8 band count; then
per frame, per band: i8 scalefactor exponent (-128 = silent band) and,
unless silent, a 4-bit Rice parameter + zigzag Rice codes of the
mantissas.

Spark shape: identical to the other codecs — one clip per row through
Arrow-batched ``mapInPandas``; the MDCT is one (frames x window) by
(window x bins) matmul per clip, embarrassingly parallel with the scan.
"""

from __future__ import annotations

import struct

import numpy as np

from hw_kafka_streams_spark.operators.bitio import BitReader, BitWriter

_MAGIC = b"MDA1"
_N = 1024  # window length; _N // 2 = 512 spectral bins per frame
_HOP = _N // 2

# pseudo-Bark scalefactor bands over 512 bins: geometrically widening
_BAND_EDGES = [0, 4, 8, 12, 16, 24, 32, 40, 48, 64, 80, 96, 128,
               160, 192, 256, 320, 384, 512]
# static bit allocation per band, decreasing with frequency —
# "psychoacoustic-lite": a real masking model would adapt this per
# frame; the fixed curve is the documented honesty gate
_BAND_BITS = [12, 12, 12, 11, 11, 10, 10, 10, 9, 9, 8, 8, 7, 7, 6, 6, 5, 5]


def _window() -> np.ndarray:
    n = np.arange(_N)
    return np.sin(np.pi / _N * (n + 0.5))


def _mdct_matrix() -> np.ndarray:
    """(N x N/2) forward MDCT basis: cos(2π/N (n + 0.5 + N/4)(k + 0.5))."""
    n = np.arange(_N)[:, None]
    k = np.arange(_HOP)[None, :]
    return np.cos(2 * np.pi / _N * (n + 0.5 + _N / 4) * (k + 0.5))


def mdct_frames(x: np.ndarray) -> np.ndarray:
    """Analysis: pad to the frame grid, window, transform. Returns a
    (n_frames, N/2) coefficient array for a float input of any length
    (zero-padded by HOP on both sides so every true sample sits in two
    overlapping frames)."""
    x = np.asarray(x, np.float64)
    pad_len = (-len(x)) % _HOP
    xp = np.concatenate([np.zeros(_HOP), x, np.zeros(pad_len + _HOP)])
    n_frames = (len(xp) - _N) // _HOP + 1
    idx = np.arange(_N)[None, :] + _HOP * np.arange(n_frames)[:, None]
    frames = xp[idx] * _window()[None, :]
    return frames @ _mdct_matrix()


def imdct_overlap_add(coefs: np.ndarray, n_samples: int) -> np.ndarray:
    """Synthesis: inverse transform each frame, window again, overlap-
    add, crop the analysis padding — exact TDAC reconstruction when
    ``coefs`` is unquantized."""
    frames = (4.0 / _N) * (coefs @ _mdct_matrix().T) * _window()[None, :]
    n_frames = coefs.shape[0]
    out = np.zeros(_HOP * (n_frames - 1) + _N)
    for i in range(n_frames):
        out[i * _HOP : i * _HOP + _N] += frames[i]
    return out[_HOP : _HOP + n_samples]


def encode_mdct_audio(samples: np.ndarray) -> bytes:
    """Encode int16 mono PCM as an MDA1 transform-coded stream."""
    if samples.ndim != 1:
        raise ValueError("encode_mdct_audio expects 1-D mono PCM")
    if samples.dtype != np.int16:
        raise ValueError("encode_mdct_audio expects int16 samples")
    n = len(samples)
    coefs = mdct_frames(samples.astype(np.float64))
    out = bytearray(_MAGIC)
    out += struct.pack(">BIHB", 1, n, _N, len(_BAND_BITS))
    bw = BitWriter()
    for fr in coefs:
        for b, (lo, hi) in enumerate(zip(_BAND_EDGES, _BAND_EDGES[1:])):
            band = fr[lo:hi]
            peak = float(np.max(np.abs(band)))
            if peak < 1e-9:
                bw.write(0x80, 8)  # -128: silent band, no payload
                continue
            bits = _BAND_BITS[b]
            e = int(np.ceil(np.log2(peak))) if peak > 0 else -127
            e = max(-100, min(100, e))
            bw.write(e & 0xFF, 8)
            step = 2.0 ** (e - bits + 1)
            q = np.clip(
                np.round(band / step), -(1 << (bits - 1)), (1 << (bits - 1)) - 1
            ).astype(np.int64)
            m = np.where(q >= 0, 2 * q, -2 * q - 1)
            best_k, best_cost = 0, None
            for k in range(14):
                cost = int((m >> k).sum()) + m.size * (1 + k)
                if best_cost is None or cost < best_cost:
                    best_k, best_cost = k, cost
            bw.write(best_k, 4)
            for v in m.tolist():
                bw.unary(v >> best_k)
                bw.write(v, best_k)
    bw.flush()
    out += bw.out
    return bytes(out)


def decode_mdct_audio(data: bytes) -> np.ndarray:
    """Decode an MDA1 stream back to int16 mono PCM (deterministic:
    same input bytes -> same output samples, bit for bit)."""
    if data[:4] != _MAGIC:
        raise ValueError("not an MDA1 stream")
    ver, n, frame_len, n_bands = struct.unpack(">BIHB", data[4:12])
    if ver != 1:
        raise ValueError(f"unsupported MDA1 version {ver}")
    if frame_len != _N or n_bands != len(_BAND_BITS):
        raise ValueError("stream geometry differs from this build")
    pad_len = (-n) % _HOP
    n_frames = (n + pad_len + 2 * _HOP - _N) // _HOP + 1
    br = BitReader(data, 12)
    coefs = np.zeros((n_frames, _HOP))
    for fi in range(n_frames):
        for b, (lo, hi) in enumerate(zip(_BAND_EDGES, _BAND_EDGES[1:])):
            e = br.bits(8)
            if e == 0x80:
                continue
            if e >= 0x80:
                e -= 256
            bits = _BAND_BITS[b]
            k = br.bits(4)
            m = np.array(
                [(br.unary() << k) | br.bits(k) for _ in range(hi - lo)], np.int64
            )
            q = np.where(m % 2 == 0, m // 2, -(m + 1) // 2)
            coefs[fi, lo:hi] = q * (2.0 ** (e - bits + 1))
    pcm = imdct_overlap_add(coefs, n)
    return np.clip(np.round(pcm), -32768, 32767).astype(np.int16)
