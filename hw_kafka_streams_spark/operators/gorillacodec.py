"""Gorilla time-series block compression — pure Python/numpy.

The storage format of Facebook's in-memory TSDB (Pelkonen et al.,
"Gorilla: A Fast, Scalable, In-Memory Time Series Database", VLDB
2015) and, descended from it, the Prometheus/InfluxDB chunk encoders —
THE published way a metrics store holds (timestamp, value) streams:

- **Timestamps**: delta-of-delta coding. The first timestamp is raw
  64-bit, the first delta raw 64-bit zigzag; every later
  delta-of-delta takes a variable-width bucket: ``0`` when zero (the
  overwhelmingly common regular-cadence case), ``10``+7 bits,
  ``110``+9 bits, ``1110``+12 bits (the paper's buckets), else
  ``1111``+64-bit zigzag — widened from the paper's 32-bit fallback
  because these streams carry MICROsecond resolution, not seconds
  (documented deviation, same bucket structure).
- **Values**: XOR coding. Each float64 XORs against its predecessor;
  zero XOR writes a single ``0`` bit; otherwise ``10`` reuses the
  previous (leading-zeros, meaningful-length) window when the new
  XOR fits inside it, and ``11`` + 5-bit leading-zero count + 6-bit
  meaningful length (64 wraps to 0, per the paper) opens a new
  window. Bit-exact for every float64 payload including negatives
  and subnormals (NaN payloads roundtrip bit-exactly too — XOR never
  interprets the value).

Why it belongs in this engine: a 100 TB event store keeps its hot
tail in exactly these blocks; the operator compresses each
(series key)-partitioned, time-ordered chunk independently inside
``applyInPandas`` — blocks never cross executors, merge/append is
per-chunk, and the decode side proves losslessness, which is what
makes the registry query (q_gorilla_ts_blocks) SQL-oracle-able: the
decoded stream's exact integer aggregates must equal the oracle's
aggregates over the raw table.
"""

from __future__ import annotations

import struct

import numpy as np

from hw_kafka_streams_spark.operators.bitio import BitWriter, CodecError

_MAGIC = b"GOR1"


def half_away_int64(x: np.ndarray) -> np.ndarray:
    """Half-AWAY-from-zero round to int64, bit-matching C++/DuckDB
    ``std::round`` on every double. ``floor(x + 0.5)`` is wrong on
    doubles where the ``+0.5`` addition carries
    (``floor(0.49999999999999994 + 0.5) == 1``; ``std::round`` gives
    0). ``frac = x - trunc(x)`` is EXACT for all doubles (Sterbenz
    lemma for |x| >= 1, trivially exact below 1), so the half-point
    compare decides the tie on the true value (ADVICE r8)."""
    whole = np.trunc(x)
    frac = x - whole
    return (whole + np.where(np.abs(frac) >= 0.5, np.sign(x), 0.0)).astype(
        np.int64
    )


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def encode_gorilla(ts: np.ndarray, values: np.ndarray) -> bytes:
    """Encode parallel int64 timestamps (must be non-decreasing) and
    float64 values into one Gorilla block.

    Vectorized path (guide §4.2): bucket classification, XOR
    leading/trailing-zero counts and the final bit-packing all run as
    whole-array numpy; only the value-window chain (a genuinely
    sequential state machine: whether point *i* reuses the open
    (leading-zeros, meaningful-length) window depends on every prior
    window decision) stays a lean Python loop over pre-extracted ints.
    Output is byte-identical to the original per-point encoder — the
    round-12 gate verified equality on every hypothesis shape and the
    bench series. Falls back to the per-point encoder when the
    timestamp span reaches 2^62 (int64 delta arithmetic could wrap;
    the scalar path does exact Python-int math and carries the
    zigzag-overflow guards)."""
    ts = np.asarray(ts, np.int64)
    values = np.asarray(values, np.float64)
    if ts.ndim != 1 or ts.shape != values.shape:
        raise ValueError("expects parallel 1-D timestamp/value arrays")
    n = len(ts)
    out = bytearray(_MAGIC)
    out += struct.pack(">I", n)
    if n == 0:
        return bytes(out)
    bits_v = values.view(np.uint64)
    if n == 1:
        out += struct.pack(">Q", int(ts[0]) & ((1 << 64) - 1))
        out += struct.pack(">Q", int(bits_v[0]))
        return bytes(out)
    if bool(np.any(ts[1:] < ts[:-1])):
        raise ValueError("timestamps must be non-decreasing")
    # Non-decreasing ⇒ span = last − first, exact in Python ints. Under
    # 2^62 every delta and delta-of-delta fits int64 and every zigzag
    # fits uint64, so the whole-array int64 arithmetic below is exact.
    if int(ts[-1]) - int(ts[0]) >= 1 << 62:
        return _encode_gorilla_scalar(ts, values, out)

    m = n - 1
    delta = ts[1:] - ts[:-1]

    # Timestamp stream: two field slots per point. Slot A carries the
    # control prefix merged with its payload (≤16 bits for the paper's
    # buckets); slot B is only used by the 64-bit zigzag fallback and
    # the raw first delta.
    wA = np.empty(m, np.int64)
    vA = np.empty(m, np.uint64)
    wB = np.zeros(m, np.int64)
    vB = np.zeros(m, np.uint64)
    vA[0] = np.uint64(_zz(int(delta[0])))
    wA[0] = 64
    if m >= 2:
        dod = delta[1:] - delta[:-1]
        b0 = dod == 0
        b1 = (~b0) & (dod >= -63) & (dod <= 64)
        b2 = (~b0) & (~b1) & (dod >= -255) & (dod <= 256)
        b3 = (~b0) & (~b1) & (~b2) & (dod >= -2047) & (dod <= 2048)
        b4 = ~(b0 | b1 | b2 | b3)
        wA[1:] = np.select([b0, b1, b2, b3], [1, 9, 12, 16], default=4)
        safe = np.where(b4, 0, dod)
        vA[1:] = np.select(
            [b0, b1, b2, b3],
            [np.int64(0),
             (0b10 << 7) | (safe + 63),
             (0b110 << 9) | (safe + 255),
             (0b1110 << 12) | (safe + 2047)],
            default=np.int64(0b1111),
        ).astype(np.uint64)
        zd = ((dod << 1) ^ (dod >> 63)).astype(np.uint64)
        wB[1:] = np.where(b4, 64, 0)
        vB[1:] = np.where(b4, zd, np.uint64(0))

    # Value stream: XOR + exact bit_length/trailing-zero counts via
    # frexp on 32-bit halves (uint32 → float64 is exact, so the
    # returned exponent IS the bit length).
    x = bits_v[1:] ^ bits_v[:-1]
    bl = _bl_u64(x)
    low = x & (np.uint64(0) - x)
    lz_raw = 64 - bl
    tz = _bl_u64(low) - 1  # -1 for x == 0 (unused: those emit '0')

    xl = x.tolist()
    lzl = lz_raw.tolist()
    tzl = tz.tolist()
    ctrl = [0] * m   # 0: zero-XOR bit, 1: window reuse, 2: new window
    wlz = [0] * m    # active window (lz, mlen) at each point
    wml = [1] * m    # 1 keeps the vectorized shifts below < 64
    cur_lz = -1
    cur_ml = -1
    for i in range(m):
        if not xl[i]:
            continue
        lz_i = lzl[i]
        tz_i = tzl[i]
        if cur_ml > 0 and lz_i >= cur_lz and tz_i >= 64 - cur_lz - cur_ml:
            ctrl[i] = 1
        else:
            if lz_i > 31:
                lz_i = 31  # 5-bit field
            cur_lz = lz_i
            cur_ml = 64 - lz_i - tz_i
            ctrl[i] = 2
        wlz[i] = cur_lz
        wml[i] = cur_ml
    ctrl_a = np.array(ctrl, np.int64)
    WLZ = np.array(wlz, np.int64)
    WML = np.array(wml, np.int64)

    is0 = ctrl_a == 0
    isr = ctrl_a == 1
    # new-window header: '11' + 5-bit lz + 6-bit mlen (64 wraps to 0)
    hdr_v = np.select(
        [is0, isr],
        [np.int64(0), np.int64(0b10)],
        default=(np.int64(0b11) << 11) | (WLZ << 6) | (WML & 63),
    ).astype(np.uint64)
    hdr_w = np.select([is0, isr], [1, 2], default=13)
    sh_reuse = np.clip(64 - WLZ - WML, 0, 63).astype(np.uint64)
    sh_new = np.clip(tz, 0, 63).astype(np.uint64)
    pay_v = np.where(isr, x >> sh_reuse, x >> sh_new)
    pay_w = np.where(is0, 0, WML)

    # Interleave per point (tsA, tsB, valHdr, valPayload), prepend the
    # two raw 64-bit head fields, then scatter-pack: each field's bits
    # land at cumsum(width) offsets and one packbits emits the block.
    W = np.stack([wA, wB, hdr_w, pay_w], axis=1).ravel()
    V = np.stack([vA, vB, hdr_v, pay_v.astype(np.uint64)], axis=1).ravel()
    W = np.concatenate([np.array([64, 64], np.int64), W])
    V = np.concatenate(
        [np.array([np.int64(ts[0]).astype(np.uint64), bits_v[0]], np.uint64),
         V])
    offs = np.cumsum(W) - W
    total_bits = int(offs[-1] + W[-1])
    rep_v = np.repeat(V, W)
    rep_w = np.repeat(W, W)
    rep_o = np.repeat(offs, W)
    sh = (rep_w - 1 - (np.arange(total_bits) - rep_o)).astype(np.uint64)
    bits_flat = ((rep_v >> sh) & np.uint64(1)).astype(np.uint8)
    out += np.packbits(bits_flat).tobytes()
    return bytes(out)


def _bl_u64(a: np.ndarray) -> np.ndarray:
    """Exact per-element bit_length of a uint64 array (0 for 0):
    frexp's exponent on the exactly-converted 32-bit halves."""
    hi = (a >> np.uint64(32)).astype(np.uint32)
    lo = (a & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    _, ehi = np.frexp(hi.astype(np.float64))
    _, elo = np.frexp(lo.astype(np.float64))
    return np.where(hi > 0, 32 + ehi, elo).astype(np.int64)


def _encode_gorilla_scalar(ts: np.ndarray, values: np.ndarray,
                           out: bytearray) -> bytes:
    """Exact-Python-int per-point encoder: the huge-span fallback
    (spans ≥ 2^62 can wrap int64 delta arithmetic) and the keeper of
    the zigzag-overflow guards. ``out`` already holds magic + count."""
    n = len(ts)
    bw = BitWriter()
    bits = values.view(np.uint64)
    # first point: raw
    bw.write(int(ts[0]) & ((1 << 64) - 1), 64)
    bw.write(int(bits[0]), 64)
    prev_delta = 0
    prev_lz, prev_mlen = -1, -1  # no value window open yet
    for i in range(1, n):
        delta = int(ts[i]) - int(ts[i - 1])
        if delta < 0:
            raise ValueError("timestamps must be non-decreasing")
        if i == 1:
            zd = _zz(delta)
            if zd >= 1 << 64:
                raise ValueError(
                    "timestamp delta exceeds the 64-bit zigzag field"
                )
            bw.write(zd, 64)
        else:
            dod = delta - prev_delta
            if dod == 0:
                bw.write(0, 1)
            elif -63 <= dod <= 64:
                bw.write(0b10, 2)
                bw.write(dod + 63, 7)
            elif -255 <= dod <= 256:
                bw.write(0b110, 3)
                bw.write(dod + 255, 9)
            elif -2047 <= dod <= 2048:
                bw.write(0b1110, 4)
                bw.write(dod + 2047, 12)
            else:
                zdod = _zz(dod)
                if zdod >= 1 << 64:
                    raise ValueError(
                        "delta-of-delta exceeds the 64-bit zigzag field"
                    )
                bw.write(0b1111, 4)
                bw.write(zdod, 64)
        prev_delta = delta
        x = int(bits[i] ^ bits[i - 1])
        if x == 0:
            bw.write(0, 1)
            continue
        lz = 64 - x.bit_length()
        tz = (x & -x).bit_length() - 1
        mlen = 64 - lz - tz
        if (
            prev_mlen > 0
            and lz >= prev_lz
            and tz >= 64 - prev_lz - prev_mlen
        ):
            # fits the open window: control '10', reuse its shape
            bw.write(0b10, 2)
            bw.write(x >> (64 - prev_lz - prev_mlen), prev_mlen)
        else:
            lz = min(lz, 31)  # 5-bit field
            mlen = 64 - lz - tz
            bw.write(0b11, 2)
            bw.write(lz, 5)
            bw.write(mlen & 0x3F, 6)  # 64 wraps to 0 (paper convention)
            bw.write(x >> tz, mlen)
            prev_lz, prev_mlen = lz, mlen
    bw.flush()
    out += bw.out
    return bytes(out)


def decode_gorilla(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode a Gorilla block back to (timestamps int64, values
    float64) — bit-exact.

    The stream is inherently sequential (every field's bit offset
    depends on every prior variable-width field), so this stays a
    Python loop — but a lean one: a local-variable accumulator refilled
    24 bytes at a time via ``int.from_bytes`` (the worst-case per-point
    consumption is 145 bits), control branches inlined, and outputs
    appended to plain lists. ~4x faster per point than a byte-at-a-time
    reader object (round-12 measurement), which is why this loop does
    not use ``bitio.BitReader``.

    A block cut short anywhere raises ``CodecError('truncated Gorilla
    block')``. The loop itself does no bounds checks (it is the hot
    path): a read past the end drives the bit count ``nb`` negative,
    the next shift fails, and that one failure is translated below."""
    if not _MAGIC.startswith(data[:4]):
        raise ValueError("not a Gorilla block")
    if len(data) < 8:
        raise CodecError("truncated Gorilla block")
    (n,) = struct.unpack(">I", data[4:8])
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    pos = 8
    acc = 0
    nb = 0
    ts_out = [0] * n
    v_out = [0] * n
    while nb < 128:
        chunk = data[pos:pos + 8]
        if not chunk:
            raise CodecError("truncated Gorilla block")
        acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
        nb += 8 * len(chunk)
        pos += 8
    nb -= 64
    t = (acc >> nb) & 0xFFFFFFFFFFFFFFFF
    if t >= 1 << 63:
        t -= 1 << 64
    ts_out[0] = t
    nb -= 64
    v = (acc >> nb) & 0xFFFFFFFFFFFFFFFF
    acc &= (1 << nb) - 1
    v_out[0] = v
    prev_delta = 0
    prev_lz = -1
    prev_mlen = -1
    try:
        for i in range(1, n):
            if nb < 145:  # worst case: 68-bit ts field + 77-bit value field
                chunk = data[pos:pos + 24]
                acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                nb += 8 * len(chunk)
                pos += 24
            if i == 1:
                nb -= 64
                u = (acc >> nb) & 0xFFFFFFFFFFFFFFFF
                delta = -(u + 1 >> 1) if u & 1 else u >> 1
            elif not (acc >> (nb := nb - 1)) & 1:
                delta = prev_delta
            elif not (acc >> (nb := nb - 1)) & 1:
                nb -= 7
                delta = prev_delta + ((acc >> nb) & 0x7F) - 63
            elif not (acc >> (nb := nb - 1)) & 1:
                nb -= 9
                delta = prev_delta + ((acc >> nb) & 0x1FF) - 255
            elif not (acc >> (nb := nb - 1)) & 1:
                nb -= 12
                delta = prev_delta + ((acc >> nb) & 0xFFF) - 2047
            else:
                nb -= 64
                u = (acc >> nb) & 0xFFFFFFFFFFFFFFFF
                delta = prev_delta + (-(u + 1 >> 1) if u & 1 else u >> 1)
            t += delta
            ts_out[i] = t
            prev_delta = delta
            if not (acc >> (nb := nb - 1)) & 1:
                v_out[i] = v
                acc &= (1 << nb) - 1
                continue
            if not (acc >> (nb := nb - 1)) & 1:  # '10': reuse open window
                if prev_mlen <= 0:
                    raise ValueError("corrupt block: window reuse before open")
                nb -= prev_mlen
                v ^= ((acc >> nb) & ((1 << prev_mlen) - 1)) << (
                    64 - prev_lz - prev_mlen)
            else:  # '11': new window
                nb -= 5
                lz = (acc >> nb) & 0x1F
                nb -= 6
                mlen = ((acc >> nb) & 0x3F) or 64  # 0 means 64 (paper)
                nb -= mlen
                v ^= ((acc >> nb) & ((1 << mlen) - 1)) << (64 - lz - mlen)
                prev_lz = lz
                prev_mlen = mlen
            v &= 0xFFFFFFFFFFFFFFFF
            v_out[i] = v
            acc &= (1 << nb) - 1
    except ValueError:
        if nb < 0:  # read past the end of the data
            raise CodecError("truncated Gorilla block") from None
        raise
    ts = np.array(ts_out, np.int64)
    vals = np.array(v_out, dtype=np.uint64)
    return ts, vals.view(np.float64)


#: Wall-clock span of one Gorilla block in microseconds. The paper
#: closes blocks on fixed wall-clock boundaries (its production system
#: used 2-hour blocks); a bounded span is what makes the operator
#: scale — per-task memory is capped by the block, parallelism is
#: (series × blocks) instead of being key-bounded, and append/merge
#: stays per-block. Default 24 h keeps bench-fixture blocks in the
#: hundreds-of-points range; override via SPARK_GRAFT_GORILLA_BLOCK_US
#: for denser production streams.
_BLOCK_US_DEFAULT = 24 * 3600 * 1_000_000


def gorilla_block_stats(df, ts_col: str = "ts", val_col: str = "value",
                        key_col: str = "event_type", id_col: str = "event_id",
                        block_us: int | None = None):
    """Per-series Gorilla chunk build + verified decode. Each series is
    cut into fixed wall-clock blocks (the paper's block alignment, see
    ``_BLOCK_US_DEFAULT``); every (series, block) group is time-ordered
    (id tie-break for determinism), compressed into one real Gorilla
    block, decoded back, and reduced to exact integer partial
    aggregates over the DECODED stream; a final per-series aggregation
    folds the blocks. The returned per-series row therefore still
    proves the lossless cycle over every point, and ``block_bytes``
    reports the series' total compressed footprint. Round-12 change
    (guide §2): the previous one-block-per-series build bounded
    parallelism by series count (5 in the bench) and per-task memory by
    series size; (series, block) keys give scan-proportional
    parallelism and bounded tasks — the actual TSDB ingest shape."""
    import os

    import pandas as pd

    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.skew import spread_small

    if block_us is None:
        block_us = int(os.environ.get("SPARK_GRAFT_GORILLA_BLOCK_US",
                                      _BLOCK_US_DEFAULT))

    def work(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, id_col])
        ts = pdf[ts_col].astype("int64").to_numpy()
        vs = pdf[val_col].astype("float64").to_numpy()
        block = encode_gorilla(ts, vs)
        dts, dvs = decode_gorilla(block)
        if not np.array_equal(dts, ts):
            raise ValueError("gorilla timestamp cycle not exact")
        if not np.array_equal(dvs.view(np.uint64), vs.view(np.uint64)):
            raise ValueError("gorilla value cycle not bit-exact")
        # Half-AWAY-from-zero via the carry-immune helper, matching the
        # DuckDB oracle's round(); np.round is banker's (half-to-even)
        # and is forbidden on oracled paths (same policy as
        # jpegcodec.py / llm_q.py).
        cents = half_away_int64(dvs * 100)
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n_points": [len(dts)],
                "sum_cents": [int(cents.sum())],
                "ts_min_us": [int(dts.min())],
                "ts_max_us": [int(dts.max())],
                "block_bytes": [len(block)],
            }
        )

    src = df.select(
        key_col,
        F.col(id_col),
        F.unix_micros(F.col(ts_col)).alias(ts_col),
        F.col(val_col),
    )
    # Integer `div` keeps block assignment exact on µs epochs (float
    # division could misround at boundaries); any fixed boundary is a
    # valid block cut, but exact arithmetic keeps it deterministic by
    # construction.
    src = src.withColumn("_blk", F.expr(f"`{ts_col}` div {int(block_us)}"))
    # Parallelism floor (single-row-group bench scans) established on
    # the SAME key the groupBy needs, so applyInPandas adds no second
    # exchange and AQE cannot coalesce the codec stage to one task.
    src = spread_small(src, key=[key_col, "_blk"])
    per_block = src.groupBy(key_col, "_blk").applyInPandas(
        work,
        schema=f"{key_col} string, n_points long, sum_cents long, "
        "ts_min_us long, ts_max_us long, block_bytes long",
    )
    return per_block.groupBy(key_col).agg(
        F.sum("n_points").alias("n_points"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("ts_min_us").alias("ts_min_us"),
        F.max("ts_max_us").alias("ts_max_us"),
        F.sum("block_bytes").alias("block_bytes"),
    )
