"""JPEG-LS (ITU-T T.87, LOCO-I) lossless image codec — pure numpy/int.

Closes the context-adaptive entropy-coding slot of the codec story
(reference parity note: the reference app — KafkaStreamApp.java — has no
media surface at all; this module is north-star multimodal coverage).
Baseline/progressive/lossless-Huffman JPEG live in
``operators/jpegcodec.py``; JPEG-LS is the OTHER still-image standard of
the JPEG family, built not on Huffman tables but on per-context adaptive
Golomb coding with online bias cancellation (Weinberger, Seroussi &
Sapiro, "LOCO-I: A Low Complexity, Context-Based, Lossless Image
Compression Algorithm", HP Labs / IEEE Trans. Image Processing 2000) —
the published precursor of CALIC-class context modeling and the
standard codec of DICOM medical imaging.

Implemented from the public T.87 decoding/encoding procedures:

- MED/GAP prediction (min/max/plane switch on the c corner sample);
- 365 regular-mode contexts: gradients (Rd-Rb, Rb-Rc, Rc-Ra) quantized
  by thresholds T1/T2/T3 into 9 levels each, sign-folded;
- per-context state (A, B, C, N): Golomb parameter k from A/N, online
  bias correction C with B-driven hysteresis, RESET halving;
- limited-length Golomb coding LG(k, LIMIT) with the qbpp escape;
- run mode (flat-region detector): J-table block run lengths with
  adaptive RUNindex, plus the two run-interruption contexts (365/366)
  and their Nn sign statistics;
- T.87 bit-stuffing (a 0 bit is inserted after every 0xFF byte so no
  marker can appear in entropy data) and the SOF55/SOS marker frame.

Round 9 closes the two layout gates carried since round 7:

- **LSE parameter segments** (T.87 C.2.4.1.1, marker 0xFFF8, ID=1):
  the encoder takes custom MAXVAL / T1 / T2 / T3 / RESET and emits the
  13-byte preset segment when any differs from the defaults; the
  decoder parses LSE and applies the presets to every subsequent scan
  (LSE IDs 2-4 — mapping tables / oversize dimensions — stay gated).
- **Interleaved scans**: ILV=1 (line-interleaved — one SOS, each row
  coded component-by-component, ONE shared set of context counters
  A/B/C/N/Nn but a per-component RUNindex, per A.2.1/A.7.1) and ILV=2
  (sample-interleaved — components advance in lockstep per column,
  run mode entered only when ALL components' gradients quantize to
  zero, run lengths shared, and each component's interruption sample
  coded with RItype=0 against its own Rb, per A.7.2).

Remaining gates (honest, like flaccodec's): precision 8-16 (the
default-threshold formula below is the MAXVAL>=128 branch of the
spec; sub-8-bit thresholds differ). NEAR-lossless mode (NEAR > 0) IS
implemented: errors quantize onto the 2*NEAR+1 grid, both sides run
the context machinery over the reconstructed plane, and every decoded
sample is within +/-NEAR of the source (hypothesis-enforced). Interop against an
independent T.87 decoder is untested in this container (none
available); self-consistency is hypothesis-verified end to end in
tests/test_properties.py — all three ILV modes, LSE presets, and the
LSE×ILV×NEAR cross-products — the same determinism contract as the
FLAC and QOI codecs here.
"""

from __future__ import annotations

import struct

import numpy as np

from hw_kafka_streams_spark.operators.bitio import T87BitReader, T87BitWriter

_J = [
    0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
    4, 4, 5, 5, 6, 6, 7, 7, 8, 9, 10, 11, 12, 13, 14, 15,
]
_RESET = 64
_MIN_C, _MAX_C = -128, 127

_SOI = b"\xff\xd8"
_EOI = b"\xff\xd9"
_SOF55 = b"\xff\xf7"
_SOS = b"\xff\xda"
_LSE = b"\xff\xf8"


def _default_thresholds(maxval: int, near: int) -> tuple[int, int, int]:
    """T.87 default T1/T2/T3 — MAXVAL>=128 branch (C.2.4.1.1.1), with
    the spec's NEAR-dependent widening. For MAXVAL=255, NEAR=0 this
    yields the canonical (3, 7, 21)."""
    if maxval < 128:
        raise NotImplementedError(
            "JPEG-LS precision < 8 bits (MAXVAL < 128) unsupported: the "
            "small-MAXVAL default-threshold branch is not implemented"
        )
    factor = (min(maxval, 4095) + 128) // 256
    t1 = min(max(factor * (3 - 2) + 2 + 3 * near, near + 1), maxval)
    t2 = min(max(factor * (7 - 3) + 3 + 5 * near, t1), maxval)
    t3 = min(max(factor * (21 - 4) + 4 + 7 * near, t2), maxval)
    return t1, t2, t3


class _State:
    """Shared encoder/decoder context state (T.87 A.2.1 init).

    ``near`` > 0 switches to NEAR-LOSSLESS mode: prediction errors are
    quantized onto the 2*NEAR+1 grid (every reconstructed sample is
    within +/-NEAR of the original), RANGE shrinks accordingly, the
    gradient thresholds widen, and — crucially — BOTH sides run the
    context machinery over the RECONSTRUCTED plane, never the source,
    so encoder and decoder state stays in lockstep."""

    def __init__(
        self,
        maxval: int,
        near: int = 0,
        t1: int | None = None,
        t2: int | None = None,
        t3: int | None = None,
        reset: int | None = None,
        n_run_indexes: int = 1,
    ):
        if not 0 <= near <= maxval // 2:
            raise ValueError("NEAR must be in 0..MAXVAL/2")
        self.near = near
        self.q_step = 2 * near + 1
        self.range = (maxval + 2 * near) // self.q_step + 1
        self.maxval = maxval
        self.qbpp = max(2, (self.range - 1).bit_length())
        self.bpp = max(2, (maxval).bit_length())
        self.limit = 2 * (self.bpp + max(8, self.bpp))
        init_a = max(2, (self.range + 32) // 64)
        # 365 regular contexts + 2 run-interruption contexts (365, 366)
        self.A = [init_a] * 367
        self.B = [0] * 365
        self.C = [0] * 365
        self.N = [1] * 367
        self.Nn = [0, 0]  # sign stats for contexts 365/366
        dt1, dt2, dt3 = _default_thresholds(maxval, near)
        self.t1 = dt1 if t1 is None else t1
        self.t2 = dt2 if t2 is None else t2
        self.t3 = dt3 if t3 is None else t3
        # C.2.4.1.1.1 legal ranges for preset thresholds
        if not near + 1 <= self.t1 <= self.t2 <= self.t3 <= maxval:
            raise ValueError(
                "thresholds must satisfy NEAR+1 <= T1 <= T2 <= T3 <= MAXVAL"
            )
        self.reset = _RESET if reset is None else reset
        if not 3 <= self.reset <= max(255, maxval):
            raise ValueError("RESET must be in 3..max(255, MAXVAL)")
        # ILV=1 keeps a SEPARATE run index per component (A.7.1); the
        # regular-context counters are shared across components.
        self.run_index = [0] * n_run_indexes

    def quantize(self, d: int) -> int:
        if d <= -self.t3:
            return -4
        if d <= -self.t2:
            return -3
        if d <= -self.t1:
            return -2
        if d < -self.near:
            return -1
        if d <= self.near:
            return 0
        if d < self.t1:
            return 1
        if d < self.t2:
            return 2
        if d < self.t3:
            return 3
        return 4

    def quantize_error(self, errval: int) -> int:
        """A.4.4: fold the raw error onto the 2*NEAR+1 grid."""
        if self.near == 0:
            return errval
        if errval > 0:
            return (self.near + errval) // self.q_step
        return -((self.near - errval) // self.q_step)

    def reconstruct(self, pred: int, signed_qerr: int) -> int:
        """A.4.5 + A.8: dequantize, wrap into the legal interval, clamp."""
        rx = pred + signed_qerr * self.q_step
        if rx < -self.near:
            rx += self.range * self.q_step
        elif rx > self.maxval + self.near:
            rx -= self.range * self.q_step
        return min(max(rx, 0), self.maxval)

    def golomb_k(self, q: int, temp: int) -> int:
        k = 0
        while (self.N[q] << k) < temp and k < 32:
            k += 1
        return k

    def update_regular(self, q: int, errval: int) -> None:
        self.B[q] += errval * self.q_step
        self.A[q] += abs(errval)
        if self.N[q] == self.reset:
            self.A[q] >>= 1
            b = self.B[q]
            self.B[q] = b >> 1 if b >= 0 else -((1 - b) >> 1)
            self.N[q] >>= 1
        self.N[q] += 1
        # bias hysteresis (A.6.2)
        if self.B[q] <= -self.N[q]:
            self.B[q] += self.N[q]
            if self.C[q] > _MIN_C:
                self.C[q] -= 1
            if self.B[q] <= -self.N[q]:
                self.B[q] = -self.N[q] + 1
        elif self.B[q] > 0:
            self.B[q] -= self.N[q]
            if self.C[q] < _MAX_C:
                self.C[q] += 1
            if self.B[q] > 0:
                self.B[q] = 0


def _med_predict(a: int, b: int, c: int) -> int:
    if c >= max(a, b):
        return min(a, b)
    if c <= min(a, b):
        return max(a, b)
    return a + b - c


def _lg_encode(bw: T87BitWriter, merr: int, k: int, limit: int, qbpp: int) -> None:
    """Limited-length Golomb LG(k, limit) (A.5.3)."""
    hi = merr >> k
    if hi < limit - qbpp - 1:
        bw.unary(hi)
        if k:
            bw.write(merr & ((1 << k) - 1), k)
    else:
        bw.unary(limit - qbpp - 1)
        bw.write(merr - 1, qbpp)


def _lg_decode(br: T87BitReader, k: int, limit: int, qbpp: int) -> int:
    hi = br.unary()
    if hi < limit - qbpp - 1:
        return (hi << k) | br.bits(k)
    return br.bits(qbpp) + 1


def _neighbors(px: np.ndarray, r: int, c: int, w: int) -> tuple[int, int, int, int]:
    """Reconstructed a/b/c/d with T.87 edge conventions: first line
    b=c=d=0; first column Ra=Rb and Rc = previous line's first-column
    Rb; last column Rd=Rb."""
    if r == 0:
        b = cc = d = 0
        a = int(px[0, c - 1]) if c > 0 else 0
        return a, b, cc, d
    b = int(px[r - 1, c])
    d = int(px[r - 1, c + 1]) if c + 1 < w else b
    if c == 0:
        a = b
        cc = int(px[r - 2, 0]) if r >= 2 else 0
    else:
        a = int(px[r, c - 1])
        cc = int(px[r - 1, c - 1])
    return a, b, cc, d


def encode_jls(
    img: np.ndarray,
    precision: int | None = None,
    near: int = 0,
    ilv: int = 0,
    t1: int | None = None,
    t2: int | None = None,
    t3: int | None = None,
    reset: int | None = None,
    maxval: int | None = None,
) -> bytes:
    """Encode a gray (2-D) or multi-component (h, w, ncomp<=4) array
    as a JPEG-LS stream (SOF55).

    ``ilv`` selects the multi-component layout: 0 = non-interleaved
    (one SOS + complete scan per component, coder state reinitialized
    per scan), 1 = line-interleaved, 2 = sample-interleaved (both: a
    single SOS covering all components, one shared coder state).
    Single-component images always use ILV=0 (T.87 requires it).

    Custom ``t1``/``t2``/``t3``/``reset``/``maxval`` presets emit an
    LSE parameter segment (C.2.4.1.1, ID=1); defaults emit none.
    ``near`` > 0 selects NEAR-LOSSLESS mode: every reconstructed
    sample is within +/-``near`` of the input (T.87 A.4.4/A.4.5
    quantization, the context machinery running over the
    reconstructed plane on both sides)."""
    if img.ndim == 2:
        planes = [img]
    elif img.ndim == 3 and 1 <= img.shape[2] <= 4:
        planes = [img[:, :, i] for i in range(img.shape[2])]
    else:
        raise ValueError("encode_jls expects (h, w) or (h, w, ncomp<=4)")
    if precision is None:
        precision = 8 if img.dtype == np.uint8 else 16
    if not 8 <= precision <= 16:
        raise NotImplementedError("JPEG-LS precision must be 8-16 here")
    if ilv not in (0, 1, 2):
        raise ValueError("ILV must be 0 (none), 1 (line) or 2 (sample)")
    if len(planes) == 1:
        ilv = 0
    default_maxval = (1 << precision) - 1
    mv = default_maxval if maxval is None else maxval
    if not 128 <= mv <= default_maxval:
        raise ValueError("MAXVAL preset must be in 128..(1<<P)-1")
    if int(img.min()) < 0 or int(img.max()) > mv:
        raise ValueError(f"sample out of range for MAXVAL={mv}")
    # one probe state resolves defaults AND validates the presets once
    probe = _State(mv, near, t1, t2, t3, reset)
    h, w = planes[0].shape
    out = bytearray(_SOI)
    comp_spec = b"".join(
        bytes([ci + 1, 0x11, 0]) for ci in range(len(planes))
    )
    sof = struct.pack(">BHHB", precision, h, w, len(planes)) + comp_spec
    out += _SOF55 + struct.pack(">H", 2 + len(sof)) + sof
    if any(v is not None for v in (t1, t2, t3, reset, maxval)):
        # LSE, ID=1: coding-parameter presets (13-byte segment)
        lse = struct.pack(
            ">BHHHHH", 1, mv, probe.t1, probe.t2, probe.t3, probe.reset
        )
        out += _LSE + struct.pack(">H", 2 + len(lse)) + lse
    iplanes = [p.astype(np.int64) for p in planes]
    if ilv == 0:
        for ci, plane in enumerate(iplanes):
            # SOS: 1 component per scan (non-interleaved), mapping table 0
            sos = bytes([1, ci + 1, 0x00, near, 0, 0x00])
            out += _SOS + struct.pack(">H", 2 + len(sos)) + sos
            out += _encode_plane(plane, mv, near, t1, t2, t3, reset)
    else:
        sos = (
            bytes([len(planes)])
            + b"".join(bytes([ci + 1, 0x00]) for ci in range(len(planes)))
            + bytes([near, ilv, 0x00])
        )
        out += _SOS + struct.pack(">H", 2 + len(sos)) + sos
        out += _encode_interleaved(iplanes, mv, near, ilv, t1, t2, t3, reset)
    out += _EOI
    return bytes(out)


def _encode_regular(bw, st, x, a, b, cc, q1, q2, q3) -> int:
    """Regular-mode encode of one sample (A.4-A.6): sign-fold the
    context, bias-correct the MED prediction, quantize + modulo-reduce
    the error, Golomb-code, update context state. Returns the
    reconstructed value for the causal plane."""
    if q1 < 0 or (q1 == 0 and q2 < 0) or (q1 == 0 and q2 == 0 and q3 < 0):
        sign = -1
        q1, q2, q3 = -q1, -q2, -q3
    else:
        sign = 1
    q = 81 * q1 + 9 * q2 + q3
    pred = _med_predict(a, b, cc)
    pred += sign * st.C[q]
    pred = min(max(pred, 0), st.maxval)
    errval = x - pred
    if sign < 0:
        errval = -errval
    errval = st.quantize_error(errval)
    if errval < 0:
        errval += st.range
    if errval >= (st.range + 1) // 2:
        errval -= st.range
    rec = st.reconstruct(pred, errval if sign > 0 else -errval)
    k = st.golomb_k(q, st.A[q])
    if k == 0 and 2 * st.B[q] <= -st.N[q]:
        merr = 2 * errval + 1 if errval >= 0 else -2 * (errval + 1)
    else:
        merr = 2 * errval if errval >= 0 else -2 * errval - 1
    _lg_encode(bw, merr, k, st.limit, st.qbpp)
    st.update_regular(q, errval)
    return rec


def _decode_regular(br, st, a, b, cc, q1, q2, q3) -> int:
    """Mirror of :func:`_encode_regular`."""
    if q1 < 0 or (q1 == 0 and q2 < 0) or (q1 == 0 and q2 == 0 and q3 < 0):
        sign = -1
        q1, q2, q3 = -q1, -q2, -q3
    else:
        sign = 1
    q = 81 * q1 + 9 * q2 + q3
    pred = _med_predict(a, b, cc)
    pred += sign * st.C[q]
    pred = min(max(pred, 0), st.maxval)
    k = st.golomb_k(q, st.A[q])
    merr = _lg_decode(br, k, st.limit, st.qbpp)
    if k == 0 and 2 * st.B[q] <= -st.N[q]:
        errval = (merr - 1) // 2 if merr % 2 else -(merr // 2) - 1
    else:
        errval = merr // 2 if merr % 2 == 0 else -((merr + 1) // 2)
    st.update_regular(q, errval)
    return st.reconstruct(pred, errval if sign > 0 else -errval)


def _encode_line(bw, st, px, rec, r, w, rix=0) -> None:
    """One row of one component: run/regular dispatch (A.2)."""
    c = 0
    while c < w:
        a, b, cc, d = _neighbors(rec, r, c, w)
        q1 = st.quantize(d - b)
        q2 = st.quantize(b - cc)
        q3 = st.quantize(cc - a)
        if q1 == 0 and q2 == 0 and q3 == 0:
            c = _encode_run(bw, st, px, rec, r, c, w, a, rix)
            continue
        rec[r, c] = _encode_regular(
            bw, st, int(px[r, c]), a, b, cc, q1, q2, q3
        )
        c += 1


def _encode_plane(
    px: np.ndarray, maxval: int, near: int, t1=None, t2=None, t3=None,
    reset=None,
) -> bytes:
    """One complete single-component scan (fresh coder state)."""
    h, w = px.shape
    st = _State(maxval, near, t1, t2, t3, reset)
    bw = T87BitWriter()
    # context/prediction state reads the RECONSTRUCTED plane (== the
    # source when near == 0) so the decoder can replay it exactly
    rec = np.zeros((h, w), np.int64)
    for r in range(h):
        _encode_line(bw, st, px, rec, r, w)
    bw.flush()
    return bytes(bw.out)


def _encode_interleaved(
    planes, maxval, near, ilv, t1=None, t2=None, t3=None, reset=None
) -> bytes:
    """One multi-component scan, ILV=1 (line) or ILV=2 (sample). One
    SHARED context-counter set for the whole scan (A.2.1); ILV=1 keeps
    a run index per component (A.7.1), ILV=2 shares a single one (runs
    advance all components in lockstep)."""
    ncomp = len(planes)
    h, w = planes[0].shape
    st = _State(
        maxval, near, t1, t2, t3, reset,
        n_run_indexes=ncomp if ilv == 1 else 1,
    )
    bw = T87BitWriter()
    recs = [np.zeros((h, w), np.int64) for _ in range(ncomp)]
    for r in range(h):
        if ilv == 1:
            for ci in range(ncomp):
                _encode_line(bw, st, planes[ci], recs[ci], r, w, rix=ci)
        else:
            _encode_row_ilv2(bw, st, planes, recs, r, w)
    bw.flush()
    return bytes(bw.out)


def _encode_row_ilv2(bw, st, planes, recs, r, w) -> None:
    """Sample-interleaved row (A.7.2): at each column, run mode only
    when EVERY component's gradients quantize to zero; otherwise each
    component's sample is regular-coded in component order."""
    ncomp = len(planes)
    c = 0
    while c < w:
        nbs = [_neighbors(recs[i], r, c, w) for i in range(ncomp)]
        qs = [
            (st.quantize(d - b), st.quantize(b - cc), st.quantize(cc - a))
            for (a, b, cc, d) in nbs
        ]
        if all(q == (0, 0, 0) for q in qs):
            c = _encode_run_ilv2(
                bw, st, planes, recs, r, c, w, [nb[0] for nb in nbs]
            )
            continue
        for i in range(ncomp):
            a, b, cc, _ = nbs[i]
            q1, q2, q3 = qs[i]
            recs[i][r, c] = _encode_regular(
                bw, st, int(planes[i][r, c]), a, b, cc, q1, q2, q3
            )
        c += 1


def _encode_run_ilv2(bw, st, planes, recs, r, c, w, runvals) -> int:
    """Sample-interleaved run (A.7.2): the run extends while EVERY
    component matches its own run value (within NEAR); run-length
    J-blocks are emitted once; the interruption sample of EACH
    component is then coded with RItype=0 against its own Rb."""
    ncomp = len(planes)
    start = c
    while c < w and all(
        abs(int(planes[i][r, c]) - runvals[i]) <= st.near
        for i in range(ncomp)
    ):
        c += 1
    for i in range(ncomp):
        recs[i][r, start:c] = runvals[i]
    runcnt = c - start
    while runcnt >= (1 << _J[st.run_index[0]]):
        bw.write(1, 1)
        runcnt -= 1 << _J[st.run_index[0]]
        if st.run_index[0] < 31:
            st.run_index[0] += 1
    if c >= w:
        if runcnt > 0:
            bw.write(1, 1)
        return c
    bw.write(0, 1)
    if _J[st.run_index[0]]:
        bw.write(runcnt, _J[st.run_index[0]])
    glimit = st.limit - _J[st.run_index[0]] - 1
    if st.run_index[0] > 0:
        st.run_index[0] -= 1
    for i in range(ncomp):
        _, rb, _, _ = _neighbors(recs[i], r, c, w)
        sign = -1 if runvals[i] > rb else 1
        recs[i][r, c] = _encode_ri(
            bw, st, int(planes[i][r, c]), rb, sign, 0, glimit
        )
    return c + 1


def _encode_run(bw, st, px, rec, r, c, w, a, rix=0) -> int:
    """Run mode (A.7): count the run of Ra (within +/-NEAR for
    near-lossless — run samples RECONSTRUCT to the run value), emit
    J-table blocks, then the interruption sample unless the line
    ended. ``rix`` selects the run index (per-component in ILV=1).
    Returns next col."""
    runval = a
    start = c
    while c < w and abs(int(px[r, c]) - runval) <= st.near:
        c += 1
    rec[r, start:c] = runval
    runcnt = c - start
    while runcnt >= (1 << _J[st.run_index[rix]]):
        bw.write(1, 1)
        runcnt -= 1 << _J[st.run_index[rix]]
        if st.run_index[rix] < 31:
            st.run_index[rix] += 1
    if c >= w:
        if runcnt > 0:
            bw.write(1, 1)
        return c
    bw.write(0, 1)
    if _J[st.run_index[rix]]:
        bw.write(runcnt, _J[st.run_index[rix]])
    glimit = st.limit - _J[st.run_index[rix]] - 1
    if st.run_index[rix] > 0:
        st.run_index[rix] -= 1
    # run interruption sample
    _, rb, _, _ = _neighbors(rec, r, c, w)
    ritype = 1 if abs(runval - rb) <= st.near else 0
    pred = runval if ritype else rb
    sign = -1 if (ritype == 0 and runval > rb) else 1
    rec[r, c] = _encode_ri(bw, st, int(px[r, c]), pred, sign, ritype, glimit)
    return c + 1


def _encode_ri(bw, st, x, pred, sign, ritype, glimit) -> int:
    """Run-interruption sample encode (A.7.2): error vs the run/Rb
    prediction, the emap parity fold, context 365+RItype statistics.
    Returns the reconstructed value."""
    errval = x - pred
    if sign < 0:
        errval = -errval
    errval = st.quantize_error(errval)
    if errval < 0:
        errval += st.range
    if errval >= (st.range + 1) // 2:
        errval -= st.range
    rec = st.reconstruct(pred, errval if sign > 0 else -errval)
    q = 365 + ritype
    temp = st.A[q] + (st.N[q] >> 1) if ritype else st.A[q]
    k = st.golomb_k(q, temp)
    nn = st.Nn[ritype]
    if errval > 0 and k == 0 and 2 * nn < st.N[q]:
        emap = 1
    elif errval < 0 and (k != 0 or 2 * nn >= st.N[q]):
        emap = 1
    else:
        emap = 0
    emerr = 2 * abs(errval) - ritype - emap
    _lg_encode(bw, emerr, k, glimit, st.qbpp)
    if errval < 0:
        st.Nn[ritype] += 1
    st.A[q] += (emerr + 1 - ritype) >> 1
    if st.N[q] == st.reset:
        st.A[q] >>= 1
        st.N[q] >>= 1
        st.Nn[ritype] >>= 1
    st.N[q] += 1
    return rec


def _decode_ri(br, st, pred, sign, ritype, glimit) -> int:
    """Mirror of :func:`_encode_ri` — closed-form inverse of the emap
    parity (errval < 0  <=>  emap == (k != 0 or 2*Nn >= N))."""
    q = 365 + ritype
    temp = st.A[q] + (st.N[q] >> 1) if ritype else st.A[q]
    k = st.golomb_k(q, temp)
    emerr = _lg_decode(br, k, glimit, st.qbpp)
    tot = emerr + ritype  # = 2*|errval| - emap
    emap = tot & 1
    mag = (tot + emap) // 2
    neg_pred = 1 if (k != 0 or 2 * st.Nn[ritype] >= st.N[q]) else 0
    errval = -mag if emap == neg_pred else mag
    if errval < 0:
        st.Nn[ritype] += 1
    st.A[q] += (emerr + 1 - ritype) >> 1
    if st.N[q] == st.reset:
        st.A[q] >>= 1
        st.N[q] >>= 1
        st.Nn[ritype] >>= 1
    st.N[q] += 1
    return st.reconstruct(pred, errval if sign > 0 else -errval)


def decode_jls(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a JPEG-LS stream produced by :func:`encode_jls`.
    Returns ``(plane_or_stack, precision)`` — a 2-D array for gray,
    (h, w, ncomp) for multi-component. Handles non-interleaved
    multi-scan layout (T.87 bit-stuffing guarantees no marker byte
    pair can occur inside entropy data, so the next SOS is found by
    scanning forward from the end of the decoded scan), line/sample
    interleaved single-scan layouts (ILV 1/2), and LSE ID=1 preset
    segments (custom MAXVAL/T1/T2/T3/RESET applied to every
    subsequent scan)."""
    if data[:2] != _SOI:
        raise ValueError("not a JPEG-LS stream (no SOI)")
    pos = 2
    frame = None
    planes: list[np.ndarray] = []
    ncomp = 1
    presets: dict = {}
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt stream: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xF7:  # SOF55
            precision = seg[0]
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if not 1 <= ncomp <= 4:
                raise NotImplementedError(f"{ncomp}-component JPEG-LS")
            frame = (precision, h, w)
        elif marker == 0xF8:  # LSE
            if seg[0] != 1:
                # IDs 2/3 (mapping tables) and 4 (oversize dims) stay
                # honest gates — nothing here emits them
                raise NotImplementedError(f"LSE segment ID {seg[0]}")
            mv, pt1, pt2, pt3, prst = struct.unpack(">HHHHH", seg[1:11])
            presets = {
                "maxval": mv, "t1": pt1, "t2": pt2, "t3": pt3,
                "reset": prst,
            }
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("corrupt stream: SOS before SOF55")
            ns = seg[0]
            near, ilv = seg[1 + 2 * ns], seg[2 + 2 * ns]
            precision, h, w = frame
            mv = presets.get("maxval", (1 << precision) - 1)
            stp = dict(
                t1=presets.get("t1"), t2=presets.get("t2"),
                t3=presets.get("t3"), reset=presets.get("reset"),
            )
            dtype = np.uint8 if precision <= 8 else np.uint16
            if ilv != 0:
                if ns != ncomp:
                    raise ValueError("interleaved SOS must cover all comps")
                stack = _decode_interleaved(
                    data, pos + seglen, mv, h, w, ncomp, near, ilv, stp
                )
                return stack.astype(dtype), precision
            plane, end = _decode_scan(data, pos + seglen, mv, h, w, near, stp)
            planes.append(plane.astype(dtype))
            if len(planes) == ncomp:
                if ncomp == 1:
                    return planes[0], precision
                return np.stack(planes, axis=2), precision
            # next marker follows the (byte-padded) entropy data
            pos = data.index(b"\xff", end)
            continue
        pos += seglen
    raise ValueError("corrupt stream: missing scans")


def _decode_line(br, st, px, r, w, rix=0) -> None:
    """Mirror of :func:`_encode_line`."""
    c = 0
    while c < w:
        a, b, cc, d = _neighbors(px, r, c, w)
        q1 = st.quantize(d - b)
        q2 = st.quantize(b - cc)
        q3 = st.quantize(cc - a)
        if q1 == 0 and q2 == 0 and q3 == 0:
            c = _decode_run(br, st, px, r, c, w, a, rix)
            continue
        px[r, c] = _decode_regular(br, st, a, b, cc, q1, q2, q3)
        c += 1


def _decode_scan(
    data: bytes, pos: int, maxval: int, h: int, w: int, near: int = 0,
    stp: dict | None = None,
):
    st = _State(maxval, near, **(stp or {}))
    br = T87BitReader(data, pos)
    px = np.zeros((h, w), np.int64)
    for r in range(h):
        _decode_line(br, st, px, r, w)
    return px, br.pos


def _decode_interleaved(
    data: bytes, pos: int, maxval: int, h: int, w: int, ncomp: int,
    near: int, ilv: int, stp: dict | None = None,
) -> np.ndarray:
    """Mirror of :func:`_encode_interleaved`."""
    st = _State(
        maxval, near, **(stp or {}),
        n_run_indexes=ncomp if ilv == 1 else 1,
    )
    br = T87BitReader(data, pos)
    recs = [np.zeros((h, w), np.int64) for _ in range(ncomp)]
    for r in range(h):
        if ilv == 1:
            for ci in range(ncomp):
                _decode_line(br, st, recs[ci], r, w, rix=ci)
        else:
            _decode_row_ilv2(br, st, recs, r, w)
    return np.stack(recs, axis=2)


def _decode_row_ilv2(br, st, recs, r, w) -> None:
    """Mirror of :func:`_encode_row_ilv2`."""
    ncomp = len(recs)
    c = 0
    while c < w:
        nbs = [_neighbors(recs[i], r, c, w) for i in range(ncomp)]
        qs = [
            (st.quantize(d - b), st.quantize(b - cc), st.quantize(cc - a))
            for (a, b, cc, d) in nbs
        ]
        if all(q == (0, 0, 0) for q in qs):
            c = _decode_run_ilv2(
                br, st, recs, r, c, w, [nb[0] for nb in nbs]
            )
            continue
        for i in range(ncomp):
            a, b, cc, _ = nbs[i]
            q1, q2, q3 = qs[i]
            recs[i][r, c] = _decode_regular(br, st, a, b, cc, q1, q2, q3)
        c += 1


def _decode_run_ilv2(br, st, recs, r, c, w, runvals) -> int:
    """Mirror of :func:`_encode_run_ilv2`."""
    ncomp = len(recs)
    while True:
        if br.bit() == 1:
            n = 1 << _J[st.run_index[0]]
            if c + n > w:
                for i in range(ncomp):
                    recs[i][r, c:w] = runvals[i]
                return w
            for i in range(ncomp):
                recs[i][r, c : c + n] = runvals[i]
            c += n
            if st.run_index[0] < 31:
                st.run_index[0] += 1
            if c >= w:
                return c
        else:
            if _J[st.run_index[0]]:
                n = br.bits(_J[st.run_index[0]])
                for i in range(ncomp):
                    recs[i][r, c : c + n] = runvals[i]
                c += n
            glimit = st.limit - _J[st.run_index[0]] - 1
            if st.run_index[0] > 0:
                st.run_index[0] -= 1
            break
    for i in range(ncomp):
        _, rb, _, _ = _neighbors(recs[i], r, c, w)
        sign = -1 if runvals[i] > rb else 1
        recs[i][r, c] = _decode_ri(br, st, rb, sign, 0, glimit)
    return c + 1


def _decode_run(br, st, px, r, c, w, a, rix=0) -> int:
    """Mirror of :func:`_encode_run`: J-table run blocks (a full block
    that exactly reaches EOL still bumps RUNindex; the padding '1' a
    partial EOL run gets does not), then the interruption sample."""
    runval = a
    while True:
        if br.bit() == 1:
            n = 1 << _J[st.run_index[rix]]
            if c + n > w:
                # partial-run EOL marker: fill the tail, no index bump
                px[r, c:w] = runval
                return w
            px[r, c : c + n] = runval
            c += n
            if st.run_index[rix] < 31:
                st.run_index[rix] += 1
            if c >= w:
                return c
        else:
            if _J[st.run_index[rix]]:
                n = br.bits(_J[st.run_index[rix]])
                px[r, c : c + n] = runval
                c += n
            glimit = st.limit - _J[st.run_index[rix]] - 1
            if st.run_index[rix] > 0:
                st.run_index[rix] -= 1
            break
    # run interruption sample
    _, rb, _, _ = _neighbors(px, r, c, w)
    ritype = 1 if abs(runval - rb) <= st.near else 0
    pred = runval if ritype else rb
    sign = -1 if (ritype == 0 and runval > rb) else 1
    px[r, c] = _decode_ri(br, st, pred, sign, ritype, glimit)
    return c + 1
