"""Motion-compensated inter-frame video codec (lossless) — pure numpy.

Closes the inter-frame slot of the codec story with a REAL
motion-compensation implementation rather than a container stub
(reference parity note: the reference app — KafkaStreamApp.java — has
no media surface; this is north-star multimodal coverage). The moving
parts are the published core of every hybrid video codec since H.261
(ITU-T H.261/H.264 generation; Wiegand et al., "Overview of the
H.264/AVC Video Coding Standard", IEEE TCSVT 2003):

- **I-frame**: raw 8-bit luma plane.
- **P-frames**: per 16x16-or-smaller block, exhaustive block-matching
  motion search over a +/-`search` window against the PREVIOUS
  RECONSTRUCTED frame, edge-replicated padding giving unrestricted
  motion vectors at picture borders (the H.263 Annex D / H.264
  standard trick); minimum SAD wins, first candidate in (dy, dx)
  lexicographic scan order on ties — deterministic by construction.
- **Residuals**: block minus motion-compensated prediction, coded
  LOSSLESSLY with per-block adaptive Rice codes (zigzag signed->
  unsigned map, per-block optimal k chosen by exact cost count), with
  a 1-bit skip flag for blocks the prediction matches exactly.

Lossless residuals instead of DCT+quantization is the deliberate
difference from the broadcast codecs: it keeps decode bit-exact, so
the fixture query can ORACLE the full encode->decode cycle (pixel
moments replayed in SQL) — the same determinism contract as the FLAC /
QOI / JPEG-LS codecs here. What stays honestly out of scope:
bidirectional (B) frames, sub-pixel interpolation, in-loop filtering,
and any interoperable bitstream (the container is the private MCLV1
layout below, documented, versioned, CRC-free).

Bitstream (big-endian): ``MCLV`` magic, u8 version=1, u16 width, u16
height, u16 n_frames, u8 block, u8 search; then the raw I-frame
(width*height bytes, the ENCODED padded geometry when width/height are
not block multiples — padding is edge-replicated and cropped back at
decode); then per P-frame, blocks row-major: u8 packed MV
((dy+search)<<4 | (dx+search), so search <= 7), 1 skip bit, and unless
skipped a 4-bit Rice k plus the mapped residuals.

Spark shape: one video per row, Arrow-batched ``mapInPandas``; motion
search is vectorized as one (candidates x blocks) SAD tensor per
frame; per-file work never crosses executors, so a 100 TB corpus of
clips parallelizes embarrassingly with the scan.
"""

from __future__ import annotations

import struct

import numpy as np

from hw_kafka_streams_spark.operators.bitio import BitReader, BitWriter

_MAGIC = b"MCLV"


def _pad_to_blocks(frame: np.ndarray, block: int) -> np.ndarray:
    h, w = frame.shape
    ph = (-h) % block
    pw = (-w) % block
    if ph or pw:
        frame = np.pad(frame, ((0, ph), (0, pw)), mode="edge")
    return frame


def _zigzag(v: np.ndarray) -> np.ndarray:
    return np.where(v >= 0, 2 * v, -2 * v - 1)


def _best_rice_k(m: np.ndarray) -> int:
    best_k, best_cost = 0, None
    for k in range(10):
        cost = int((m >> k).sum()) + m.size * (1 + k)
        if best_cost is None or cost < best_cost:
            best_k, best_cost = k, cost
    return best_k


def encode_mclv(frames: np.ndarray, block: int = 8, search: int = 4) -> bytes:
    """Encode a (t, h, w) uint8 luma clip as a lossless MCLV1 stream."""
    if frames.ndim != 3:
        raise ValueError("encode_mclv expects a (t, h, w) array")
    if frames.dtype != np.uint8:
        raise ValueError("encode_mclv expects uint8 luma planes")
    if not 1 <= search <= 7:
        raise ValueError("search radius must be 1-7 (packed MV nibble)")
    t, h, w = frames.shape
    if t < 1 or t > 65535 or h > 65535 or w > 65535:
        raise ValueError("clip dimensions out of range")
    padded = np.stack([_pad_to_blocks(f, block) for f in frames])
    _, ph, pw = padded.shape
    nby, nbx = ph // block, pw // block

    out = bytearray(_MAGIC)
    out += struct.pack(">BHHHBB", 1, w, h, t, block, search)
    out += padded[0].tobytes()

    cands = [
        (dy, dx)
        for dy in range(-search, search + 1)
        for dx in range(-search, search + 1)
    ]
    bw = BitWriter()
    for ti in range(1, t):
        cur = padded[ti].astype(np.int32)
        prev = np.pad(padded[ti - 1], search, mode="edge").astype(np.int32)
        # (candidates x blocks) SAD tensor: one vectorized pass
        sads = np.empty((len(cands), nby, nbx), np.int64)
        for ci, (dy, dx) in enumerate(cands):
            ref = prev[search + dy : search + dy + ph,
                       search + dx : search + dx + pw]
            ad = np.abs(cur - ref)
            sads[ci] = ad.reshape(nby, block, nbx, block).sum(axis=(1, 3))
        # argmin returns the FIRST minimal candidate -> lexicographic
        # (dy, dx) tie-break, deterministic across platforms
        best = sads.reshape(len(cands), -1).argmin(axis=0).reshape(nby, nbx)
        for by in range(nby):
            for bx in range(nbx):
                dy, dx = cands[best[by, bx]]
                bw.write(((dy + search) << 4) | (dx + search), 8)
                y0, x0 = by * block, bx * block
                ref = prev[search + dy + y0 : search + dy + y0 + block,
                           search + dx + x0 : search + dx + x0 + block]
                res = cur[y0 : y0 + block, x0 : x0 + block] - ref
                if not res.any():
                    bw.write(1, 1)  # skip: prediction is exact
                    continue
                bw.write(0, 1)
                m = _zigzag(res.ravel())
                k = _best_rice_k(m)
                bw.write(k, 4)
                for v in m.tolist():
                    bw.unary(v >> k)
                    bw.write(v, k)
    bw.flush()
    out += bw.out
    return bytes(out)


def decode_mclv(data: bytes) -> np.ndarray:
    """Decode an MCLV1 stream back to the exact (t, h, w) uint8 clip."""
    if data[:4] != _MAGIC:
        raise ValueError("not an MCLV stream")
    ver, w, h, t, block, search = struct.unpack(">BHHHBB", data[4:13])
    if ver != 1:
        raise ValueError(f"unsupported MCLV version {ver}")
    ph = h + ((-h) % block)
    pw = w + ((-w) % block)
    pos = 13
    first = np.frombuffer(data[pos : pos + ph * pw], np.uint8).reshape(ph, pw)
    pos += ph * pw
    frames = [first.astype(np.int32)]
    br = BitReader(data, pos)
    nby, nbx = ph // block, pw // block
    for _ in range(1, t):
        prev = np.pad(frames[-1], search, mode="edge")
        cur = np.zeros((ph, pw), np.int32)
        for by in range(nby):
            for bx in range(nbx):
                mv = br.bits(8)
                dy, dx = (mv >> 4) - search, (mv & 0xF) - search
                y0, x0 = by * block, bx * block
                ref = prev[search + dy + y0 : search + dy + y0 + block,
                           search + dx + x0 : search + dx + x0 + block]
                if br.bits(1):  # skip
                    cur[y0 : y0 + block, x0 : x0 + block] = ref
                    continue
                k = br.bits(4)
                m = np.array(
                    [(br.unary() << k) | br.bits(k) for _ in range(block * block)],
                    np.int32,
                )
                res = np.where(m % 2 == 0, m // 2, -(m + 1) // 2)
                cur[y0 : y0 + block, x0 : x0 + block] = ref + res.reshape(
                    block, block
                )
        if cur.min() < 0 or cur.max() > 255:
            raise ValueError("decoded sample out of uint8 range")
        frames.append(cur)
    clip = np.stack(frames).astype(np.uint8)
    return clip[:, :h, :w]


def motion_field(data: bytes) -> list[list[tuple[int, int]]]:
    """Decode ONLY the motion vectors of each P-frame (per-block
    (dy, dx) row-major) — the analysis side-channel a curation
    pipeline reads for motion statistics without full reconstruction.
    Residual payloads are skipped via their Rice structure."""
    if data[:4] != _MAGIC:
        raise ValueError("not an MCLV stream")
    ver, w, h, t, block, search = struct.unpack(">BHHHBB", data[4:13])
    ph = h + ((-h) % block)
    pw = w + ((-w) % block)
    br = BitReader(data, 13 + ph * pw)
    nby, nbx = ph // block, pw // block
    fields = []
    for _ in range(1, t):
        mvs = []
        for _ in range(nby * nbx):
            mv = br.bits(8)
            mvs.append(((mv >> 4) - search, (mv & 0xF) - search))
            if not br.bits(1):
                k = br.bits(4)
                for _ in range(block * block):
                    br.unary()
                    br.bits(k)
        fields.append(mvs)
    return fields
