"""FLAC audio codec (fixed-predictor subset) — pure Python, public spec.

Implements the real FLAC bitstream (xiph.org format spec): "fLaC"
marker + STREAMINFO metadata block (including the true MD5 of the
unencoded interleaved samples), spec-correct frame headers (14-bit
sync, UTF-8 coded frame numbers, CRC-8) and footers (CRC-16 poly
0x8005), and CONSTANT / VERBATIM / FIXED(0-4) / LPC subframes with
Rice-coded residuals (4-bit parameters, any partition order, zigzag
mapping, escape partitions on BOTH encode and decode).

Channel support: mono, stereo with all four spec channel assignments
(independent, left/side, right/side, mid/side — the encoder picks the
cheapest per frame by residual estimate, or a caller-forced mode), and
3-8 channel independent. Sample depths 8/12/16/20/24/32 bit; side
channels carry bps+1 bits exactly as the spec requires, and the stream
MD5 is computed over interleaved little-endian signed samples at
ceil(bps/8) bytes each (libFLAC's convention).

FLAC is lossless, so a synthesized-PCM payload decodes to exactly the
synthesis formula — the same arithmetic-oracle contract as the
PNG/GIF/QOI image codecs. Wasted-bits shifts (a shared trailing-zero
factor stripped before prediction — upscaled masters) are supported
both ways, and so are VARIABLE block-size streams (per-frame sizes
from a caller schedule, strategy bit set, frame headers addressed by
36-bit sample number in extended UTF-8, STREAMINFO min/max declared;
the decoder validates the addressing in BOTH strategies, so a dropped
or reordered frame fails loudly instead of shifting PCM).

The reference engine (KafkaStreamApp.java) has no media path; this
closes the "compressed audio" slot of the multimodal column story
next to WAV-PCM, IMA-ADPCM and G.711.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from hw_kafka_streams_spark.operators.bitio import BitReader, BitWriter


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
            )
    return crc


def _utf8_code(n: int) -> bytes:
    """FLAC's UTF-8-style coding of frame/sample numbers: the standard
    scheme extended to 7 bytes (0xFE lead), covering the 36-bit sample
    numbers variable-blocksize frame headers carry."""
    if n < 0x80:
        return bytes([n])
    out = []
    if n < 0x800:
        lead, nbytes = 0xC0, 2
    elif n < 0x10000:
        lead, nbytes = 0xE0, 3
    elif n < 0x200000:
        lead, nbytes = 0xF0, 4
    elif n < 0x4000000:
        lead, nbytes = 0xF8, 5
    elif n < 0x80000000:
        lead, nbytes = 0xFC, 6
    elif n < (1 << 36):
        lead, nbytes = 0xFE, 7
    else:
        raise ValueError("frame/sample number exceeds 36 bits")
    for i in range(nbytes - 1):
        out.append(0x80 | (n & 0x3F))
        n >>= 6
    out.append(lead | n)
    return bytes(reversed(out))


def _utf8_decode(r: BitReader) -> int:
    b0 = r.bits(8)
    if b0 < 0x80:
        return b0
    # count leading ones
    m, nbytes = 0x80, 0
    while b0 & m:
        nbytes += 1
        m >>= 1
    v = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        v = (v << 6) | (r.bits(8) & 0x3F)
    return v


_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

# frame-header sample-size codes (bits-per-sample -> 3-bit code)
_SS_CODE = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110, 32: 0b111}
_SS_BITS = {v: k for k, v in _SS_CODE.items()}

# stereo channel assignments (frame-header 4-bit channel field)
_CH_LEFT_SIDE = 0b1000
_CH_RIGHT_SIDE = 0b1001
_CH_MID_SIDE = 0b1010


def _fixed_residual(samples: np.ndarray, order: int) -> np.ndarray:
    r = samples.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _zigzag(r: np.ndarray) -> np.ndarray:
    return np.where(r >= 0, r << 1, (-r << 1) - 1).astype(np.int64)


def _best_rice_param(u: np.ndarray) -> int:
    if len(u) == 0:
        return 0
    best_k, best_bits = 0, None
    for k in range(15):
        bits = int((u >> k).sum()) + len(u) * (k + 1)
        if best_bits is None or bits < best_bits:
            best_k, best_bits = k, bits
    return best_k


def _sbits(v: int) -> int:
    """Minimum signed two's-complement width holding ``v``."""
    return (v.bit_length() if v >= 0 else (-v - 1).bit_length()) + 1


def _write_residual_partition(w: BitWriter, res: np.ndarray) -> None:
    """One Rice partition: 4-bit parameter + zigzag Rice codes, OR the
    0b1111 escape (5-bit raw width, two's-complement residuals) when
    raw coding is cheaper — large uniform residuals (e.g. noise near
    full scale) take the escape, so decoders' escape paths are
    exercised by real encoder output, not only hand-built frames."""
    u = _zigzag(res)
    k = _best_rice_param(u)
    rice_bits = int((u >> k).sum()) + len(u) * (k + 1)
    raw = max((_sbits(int(v)) for v in res.tolist()), default=0)
    if len(res) and np.all(res == 0):
        raw = 0
    # escape's raw width is a 5-bit field: widths beyond 31 can't be
    # escaped (only reachable for pathological 33-bit side residuals)
    if raw <= 31 and 5 + len(res) * raw < rice_bits:
        w.write(0b1111, 4)
        w.write(raw, 5)
        if raw:
            mask = (1 << raw) - 1
            for v in res.tolist():
                w.write(int(v) & mask, raw)
        return
    w.write(k, 4)
    for q, low in zip((u >> k).tolist(), (u & ((1 << k) - 1)).tolist()):
        w.unary(q)
        w.write(low, k)


def _wasted_bits(blk: np.ndarray, bps: int) -> int:
    """Shared trailing-zero count across a block's samples — the FLAC
    'wasted bits' k: samples are really (bps-k)-bit values shifted left
    k (upscaled 8-bit masters in 16-bit containers, etc.). 0 when any
    sample is odd or all are zero."""
    nz = blk[blk != 0]
    if len(nz) == 0:
        return 0
    k = min((int(v) & -int(v)).bit_length() - 1 for v in nz.tolist())
    return min(k, bps - 1)


def _write_wasted(w: BitWriter, k: int) -> None:
    """Subframe wasted-bits field: flag 0, or flag 1 + unary(k-1)."""
    if k:
        w.write(1, 1)
        w.unary(k - 1)
    else:
        w.write(0, 1)


def _validate_pcm(samples: np.ndarray, bps: int) -> np.ndarray:
    if samples.dtype not in (np.int16, np.int32, np.int64):
        raise ValueError("encode_flac expects integer PCM (int16/32/64)")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    s = samples.astype(np.int64)
    if s.size and (int(s.min()) < lo or int(s.max()) > hi):
        raise ValueError(f"sample out of range for {bps}-bit PCM")
    return s


def _pcm_md5(interleaved: np.ndarray, bps: int) -> bytes:
    """libFLAC's stream MD5: interleaved samples, little-endian signed,
    ceil(bps/8) bytes each."""
    nb = (bps + 7) // 8
    b = (
        interleaved.astype("<i8").reshape(-1, 1).view(np.uint8)[:, :nb]
    )
    return hashlib.md5(b.tobytes()).digest()


def encode_flac(
    samples: np.ndarray,
    sample_rate: int = 8000,
    block_size: int = 256,
    lpc_order: int = 0,
    bits_per_sample: int = 16,
    stereo_mode: str = "auto",
    block_schedule: list[int] | None = None,
) -> bytes:
    """Encode integer PCM as a real FLAC file.

    ``samples``: 1-D array (mono) or 2-D ``(n, channels)`` array with
    up to 8 channels. ``bits_per_sample`` in {8, 12, 16, 20, 24, 32}.
    For stereo, ``stereo_mode`` picks the channel assignment:
    ``auto`` (cheapest per frame), ``independent``, ``left_side``,
    ``right_side`` or ``mid_side``. ``lpc_order`` > 0 tries a
    least-squares LPC predictor of that order per subframe (12-bit
    quantized coefficients, shift 10) and keeps it only when its Rice
    cost beats the best fixed predictor.

    ``block_schedule`` switches the stream to VARIABLE blocking
    strategy: frames take their sizes from the schedule (cycled if the
    clip outlasts it, last frame truncated), every frame header sets
    the strategy bit and carries its starting SAMPLE number (extended
    UTF-8, up to 36 bits) instead of a frame ordinal, and STREAMINFO
    declares the true min/max block size — the spec's layout for
    content-adaptive blocking. ``block_size`` is ignored in this mode.
    """
    if bits_per_sample not in _SS_CODE:
        raise ValueError(f"unsupported bits_per_sample {bits_per_sample}")
    if sample_rate != 8000:
        raise ValueError("encoder emits the 8 kHz sample-rate code only")
    if samples.ndim == 1:
        s = _validate_pcm(samples, bits_per_sample).reshape(-1, 1)
    elif samples.ndim == 2 and 1 <= samples.shape[1] <= 8:
        s = _validate_pcm(samples, bits_per_sample)
    else:
        raise ValueError("expects 1-D mono or (n, channels<=8) PCM")
    channels = s.shape[1]
    if stereo_mode not in ("auto", "independent", "left_side", "right_side", "mid_side"):
        raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
    n_total = s.shape[0]
    bps = bits_per_sample
    md5 = _pcm_md5(s.ravel(), bps)

    if block_schedule is not None:
        if not block_schedule or any(
            not 16 <= b <= 65535 for b in block_schedule
        ):
            raise ValueError("block_schedule entries must be in 16..65535")
        min_bs, max_bs = min(block_schedule), max(block_schedule)
    else:
        min_bs = max_bs = block_size

    out = bytearray(b"fLaC")
    # STREAMINFO: last-block flag + type 0, length 34
    out += bytes([0x80, 0, 0, 34])
    si = BitWriter()
    si.write(min_bs, 16)  # min block size
    si.write(max_bs, 16)  # max block size
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(sample_rate, 20)
    si.write(channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(n_total, 36)
    out += si.out + md5

    if block_schedule is not None:
        start = idx = 0
        while start < n_total:
            bs = block_schedule[idx % len(block_schedule)]
            blk = s[start : start + bs]
            out += _encode_frame(
                blk, start, bs, sample_rate, bps, lpc_order, stereo_mode,
                variable=True,
            )
            start += bs
            idx += 1
    else:
        frame_no = 0
        for start in range(0, n_total, block_size):
            blk = s[start : start + block_size]
            out += _encode_frame(
                blk, frame_no, block_size, sample_rate, bps, lpc_order,
                stereo_mode,
            )
            frame_no += 1
    return bytes(out)


def _est_cost(ch: np.ndarray) -> int:
    """Deterministic per-channel cost estimate: the smallest zigzag-sum
    over fixed orders 0-4 (the same heuristic the subframe encoder
    uses to pick its order)."""
    best = None
    for order in range(min(5, len(ch))):
        c = int(_zigzag(_fixed_residual(ch, order)).sum())
        if best is None or c < best:
            best = c
    return best or 0


def _stereo_plan(blk: np.ndarray, mode: str):
    """Return (chan_code, [(subframe_samples, extra_bit), ...]) for a
    stereo block. mid = (l+r)>>1 (floor), side = l-r; the side
    subframe carries bps+1 bits per the spec."""
    left = blk[:, 0]
    right = blk[:, 1]
    side = left - right
    mid = (left + right) >> 1
    plans = {
        "independent": (1, [(left, 0), (right, 0)]),
        "left_side": (_CH_LEFT_SIDE, [(left, 0), (side, 1)]),
        "right_side": (_CH_RIGHT_SIDE, [(side, 1), (right, 0)]),
        "mid_side": (_CH_MID_SIDE, [(mid, 0), (side, 1)]),
    }
    if mode != "auto":
        return plans[mode]
    best_name, best_cost = "independent", None
    for name, (_, subs) in plans.items():
        cost = sum(_est_cost(ch) for ch, _ in subs)
        if best_cost is None or cost < best_cost:
            best_name, best_cost = name, cost
    return plans[best_name]


def _encode_frame(
    blk: np.ndarray,
    frame_no: int,
    nominal_bs: int,
    sample_rate: int,
    bps: int,
    lpc_order: int = 0,
    stereo_mode: str = "auto",
    variable: bool = False,
) -> bytes:
    n, channels = blk.shape
    if channels == 2:
        chan_code, subs = _stereo_plan(blk, stereo_mode)
    else:
        chan_code = channels - 1
        subs = [(blk[:, c], 0) for c in range(channels)]
    w = BitWriter()
    w.write(0x3FFE, 14)  # sync
    w.write(0, 1)  # reserved
    # blocking strategy: 1 = variable (frame_no is a SAMPLE number)
    w.write(1 if variable else 0, 1)
    if n == 256 and (variable or n == nominal_bs):
        bs_code, bs_tail = 0b1000, None
    elif n - 1 < 256:
        bs_code, bs_tail = 0b0110, n - 1  # 8-bit at end
    else:
        bs_code, bs_tail = 0b0111, n - 1  # 16-bit at end
    w.write(bs_code, 4)
    w.write(0b0100, 4)  # 8 kHz
    w.write(chan_code, 4)
    w.write(_SS_CODE[bps], 3)
    w.write(0, 1)  # reserved
    # header so far is exactly 4 bytes (32 bits) — safe to append bytes
    w.out += _utf8_code(frame_no)
    if bs_tail is not None:
        w.out += bytes([bs_tail]) if bs_code == 0b0110 else struct.pack(
            ">H", bs_tail
        )
    w.out.append(_crc8(bytes(w.out)))
    for ch, extra in subs:
        _encode_subframe(w, ch, bps + extra, lpc_order)
    w.flush()
    frame = bytes(w.out)
    return frame + struct.pack(">H", _crc16(frame))


def _lpc_quantized(blk: np.ndarray, order: int, prec: int = 12, shift: int = 10):
    """Least-squares LPC fit, quantized to ``prec``-bit signed
    coefficients on a 2^shift grid. Returns (qcoeffs, residual)."""
    s = blk.astype(np.float64)
    rows = np.stack(
        [s[order - 1 - j : len(s) - 1 - j] for j in range(order)], axis=1
    )
    target = s[order:]
    coef, *_ = np.linalg.lstsq(rows, target, rcond=None)
    lim = 1 << (prec - 1)
    qc = np.clip(np.round(coef * (1 << shift)), -lim, lim - 1).astype(np.int64)
    si = blk.astype(np.int64)
    pred = np.zeros(len(si) - order, np.int64)
    for j in range(order):
        pred += qc[j] * si[order - 1 - j : len(si) - 1 - j]
    res = si[order:] - (pred >> shift)
    return qc, res


def _encode_subframe(
    w: BitWriter, blk: np.ndarray, bps: int, lpc_order: int = 0
) -> None:
    n = len(blk)
    mask = (1 << bps) - 1
    if n and np.all(blk == blk[0]):
        w.write(0, 1)
        w.write(0b000000, 6)  # CONSTANT
        w.write(0, 1)
        w.write(int(blk[0]) & mask, bps)
        return
    # wasted bits: strip a shared trailing-zero shift so the predictor
    # and Rice coder work on the true (bps-k)-bit signal (spec §9.2.2)
    wasted = _wasted_bits(blk, bps) if n else 0
    if wasted:
        _encode_shifted_subframe(w, blk >> wasted, bps - wasted,
                                 wasted, lpc_order)
        return
    _encode_shifted_subframe(w, blk, bps, 0, lpc_order)


def _encode_shifted_subframe(
    w: BitWriter, blk: np.ndarray, bps: int, wasted: int,
    lpc_order: int = 0,
) -> None:
    n = len(blk)
    mask = (1 << bps) - 1
    # pick the fixed order (0-4) with the smallest zigzag-sum estimate
    best_order, best_cost = 0, None
    for order in range(min(5, n)):
        u = _zigzag(_fixed_residual(blk, order))
        cost = int(u.sum())
        if best_cost is None or cost < best_cost:
            best_order, best_cost = order, cost
    order = best_order
    res = _fixed_residual(blk, order)
    u = _zigzag(res)
    k = _best_rice_param(u)
    rice_bits = int((u >> k).sum()) + len(u) * (k + 1)
    if 0 < lpc_order < n:
        prec, shift = 12, 10
        qc, lres = _lpc_quantized(blk, lpc_order, prec, shift)
        lu = _zigzag(lres)
        lk = _best_rice_param(lu)
        lpc_bits = (
            int((lu >> lk).sum())
            + len(lu) * (lk + 1)
            + lpc_order * (bps + prec)
            + 9
        )
        if lpc_bits < rice_bits:
            w.write(0, 1)
            w.write(0b100000 | (lpc_order - 1), 6)  # LPC, order
            _write_wasted(w, wasted)
            for s in blk[:lpc_order].tolist():
                w.write(int(s) & mask, bps)  # warm-up
            w.write(prec - 1, 4)
            w.write(shift, 5)
            for c in qc.tolist():
                w.write(int(c) & ((1 << prec) - 1), prec)
            w.write(0b00, 2)  # rice method
            w.write(0, 4)  # partition order 0
            _write_residual_partition(w, lres)
            return
    if rice_bits > n * bps:
        w.write(0, 1)
        w.write(0b000001, 6)  # VERBATIM
        _write_wasted(w, wasted)
        for s in blk.tolist():
            w.write(int(s) & mask, bps)
        return
    w.write(0, 1)
    w.write(0b001000 | order, 6)  # FIXED, order
    _write_wasted(w, wasted)
    for s in blk[:order].tolist():
        w.write(int(s) & mask, bps)  # warm-up samples
    w.write(0b00, 2)  # rice method, 4-bit params
    # use 4 rice partitions (each with its own parameter) when the
    # block divides evenly — exercises the partitioned-residual path;
    # otherwise a single partition
    porder = 2 if n % 4 == 0 and (n >> 2) > order else 0
    w.write(porder, 4)
    nparts = 1 << porder
    off = 0
    for part in range(nparts):
        cnt = (n >> porder) - (order if part == 0 else 0)
        _write_residual_partition(w, res[off : off + cnt])
        off += cnt


def decode_flac(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a fixed-predictor FLAC file.

    Returns (samples, sample_rate): 1-D for mono, ``(n, channels)``
    otherwise; dtype int16 when bps <= 16, int32 above. Handles all
    four stereo channel assignments, 8/12/16/20/24/32-bit depths and
    up to 8 independent channels. Validates the magic, both frame
    CRCs, and the STREAMINFO MD5 of the decoded stream. A stream that
    ends before STREAMINFO's sample count raises ``CodecError``.
    """
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC file (bad magic)")
    pos = 4
    sr = None
    n_total = None
    md5_expect = None
    channels = bps = None
    while True:
        hdr = data[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        length = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + length]
        if btype == 0:
            r = BitReader(body)
            r.bits(16)
            r.bits(16)
            r.bits(24)
            r.bits(24)
            sr = r.bits(20)
            channels = r.bits(3) + 1
            bps = r.bits(5) + 1
            n_total = r.bits(36)
            md5_expect = body[18:34]
            if channels > 8:
                raise NotImplementedError(f"{channels} channels unsupported")
            if bps not in _SS_CODE:
                raise NotImplementedError(f"{bps}-bit samples unsupported")
        pos += 4 + length
        if last:
            break
    if sr is None:
        raise ValueError("missing STREAMINFO")

    out: list[np.ndarray] = []
    got = n_frames = 0
    stream_variable: bool | None = None
    while got < n_total:
        blk, pos, variable, coded_no = _decode_frame(data, pos, bps, channels)
        if stream_variable is None:
            stream_variable = variable
        elif variable != stream_variable:
            raise ValueError("blocking strategy changed mid-stream")
        # variable streams address frames by starting SAMPLE number,
        # fixed streams by frame ordinal — validate either way so a
        # dropped/reordered frame fails loudly instead of shifting PCM
        expect = got if variable else n_frames
        if coded_no != expect:
            raise ValueError(
                f"frame number mismatch: coded {coded_no}, expected {expect}"
            )
        out.append(blk)
        got += blk.shape[0]
        n_frames += 1
    stacked = (
        np.concatenate(out, axis=0) if out else np.empty((0, channels), np.int64)
    )
    if md5_expect and md5_expect != b"\x00" * 16:
        if _pcm_md5(stacked.ravel(), bps) != md5_expect:
            raise ValueError("FLAC stream MD5 mismatch")
    dtype = np.int16 if bps <= 16 else np.int32
    samples = stacked.astype(dtype)
    return (samples[:, 0] if channels == 1 else samples), sr


_BS_TABLE = {
    0b0001: 192,
    **{c: 576 << (c - 2) for c in range(0b0010, 0b0110)},
    **{c: 256 << (c - 8) for c in range(0b1000, 0b10000)},
}


def _decode_frame(
    data: bytes, pos: int, si_bps: int, si_channels: int
) -> tuple[np.ndarray, int]:
    r = BitReader(data, pos)
    if r.bits(14) != 0x3FFE:
        raise ValueError(f"bad frame sync at byte {pos}")
    r.bits(1)
    variable = r.bits(1)  # blocking strategy
    bs_code = r.bits(4)
    sr_code = r.bits(4)
    chan = r.bits(4)
    ss_code = r.bits(3)
    r.bits(1)
    if chan <= 7:
        channels, assign = chan + 1, "independent"
    elif chan == _CH_LEFT_SIDE:
        channels, assign = 2, "left_side"
    elif chan == _CH_RIGHT_SIDE:
        channels, assign = 2, "right_side"
    elif chan == _CH_MID_SIDE:
        channels, assign = 2, "mid_side"
    else:
        raise ValueError(f"reserved channel assignment {chan:04b}")
    if channels != si_channels:
        raise ValueError("frame channel count differs from STREAMINFO")
    if ss_code == 0:
        bps = si_bps
    elif ss_code in _SS_BITS:
        bps = _SS_BITS[ss_code]
    else:
        raise ValueError(f"reserved sample-size code {ss_code:03b}")
    coded_no = _utf8_decode(r)
    if bs_code == 0b0110:
        bs = r.bits(8) + 1
    elif bs_code == 0b0111:
        bs = r.bits(16) + 1
    else:
        bs = _BS_TABLE[bs_code]
    if sr_code == 0b1100:
        r.bits(8)
    elif sr_code in (0b1101, 0b1110):
        r.bits(16)
    header_end = r.pos
    if _crc8(data[pos:header_end]) != r.bits(8):
        raise ValueError("frame header CRC-8 mismatch")
    if assign == "independent":
        chans = [_decode_subframe(r, bs, bps) for _ in range(channels)]
    elif assign == "left_side":
        chans = [_decode_subframe(r, bs, bps), _decode_subframe(r, bs, bps + 1)]
        chans = [chans[0], chans[0] - chans[1]]  # r = l - side
    elif assign == "right_side":
        chans = [_decode_subframe(r, bs, bps + 1), _decode_subframe(r, bs, bps)]
        chans = [chans[1] + chans[0], chans[1]]  # l = r + side
    else:  # mid_side (libFLAC reconstruction)
        mid = _decode_subframe(r, bs, bps)
        side = _decode_subframe(r, bs, bps + 1)
        m2 = (mid << 1) | (side & 1)
        chans = [(m2 + side) >> 1, (m2 - side) >> 1]
    r.align()
    if _crc16(data[pos : r.pos]) != r.bits(16):
        raise ValueError("frame CRC-16 mismatch")
    return np.stack(chans, axis=1), r.pos, bool(variable), coded_no


def _signed(v: int, bits: int) -> int:
    return v - (1 << bits) if v & (1 << (bits - 1)) else v


def _decode_subframe(r: BitReader, n: int, bps: int) -> np.ndarray:
    if r.bits(1) != 0:
        raise ValueError("subframe padding bit set")
    t = r.bits(6)
    wasted = 0
    if r.bits(1):  # wasted-bits flag: k-1 unary coded
        wasted = r.unary() + 1
        if wasted >= bps:
            raise ValueError("wasted bits exceed sample width")
        bps -= wasted
    out = _decode_subframe_body(r, n, bps, t)
    return (out << wasted) if wasted else out


def _decode_subframe_body(
    r: BitReader, n: int, bps: int, t: int
) -> np.ndarray:
    if t == 0:  # CONSTANT
        return np.full(n, _signed(r.bits(bps), bps), np.int64)
    if t == 1:  # VERBATIM
        return np.array(
            [_signed(r.bits(bps), bps) for _ in range(n)], np.int64
        )
    if 8 <= t <= 12:  # FIXED order 0-4
        order = t - 8
        warm = [_signed(r.bits(bps), bps) for _ in range(order)]
        res = _decode_residual(r, n, order)
        out = np.empty(n, np.int64)
        out[:order] = warm
        coeffs = _FIXED_COEFFS[order]
        for i in range(order, n):
            pred = sum(c * out[i - 1 - j] for j, c in enumerate(coeffs))
            out[i] = res[i - order] + pred
        return out
    if t & 0x20:  # LPC, order 1-32
        order = (t & 0x1F) + 1
        warm = [_signed(r.bits(bps), bps) for _ in range(order)]
        prec = r.bits(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision code 1111")
        shift = _signed(r.bits(5), 5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        qc = [_signed(r.bits(prec), prec) for _ in range(order)]
        res = _decode_residual(r, n, order)
        out = np.empty(n, np.int64)
        out[:order] = warm
        for i in range(order, n):
            pred = sum(qc[j] * out[i - 1 - j] for j in range(order))
            out[i] = res[i - order] + (pred >> shift)
        return out
    raise NotImplementedError(f"reserved subframe type {t:06b}")


def _decode_residual(r: BitReader, n: int, order: int) -> list[int]:
    method = r.bits(2)
    if method not in (0, 1):
        raise ValueError("reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.bits(4)
    res: list[int] = []
    nparts = 1 << porder
    for part in range(nparts):
        cnt = (n >> porder) - (order if part == 0 else 0)
        k = r.bits(pbits)
        if k == escape:
            raw = r.bits(5)
            vals = [_signed(r.bits(raw), raw) if raw else 0 for _ in range(cnt)]
            res.extend(vals)
            continue
        for _ in range(cnt):
            q = r.unary()
            u = (q << k) | (r.bits(k) if k else 0)
            res.append((u >> 1) ^ -(u & 1))
    return res
