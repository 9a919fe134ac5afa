"""JPEG arithmetic entropy coding (ITU-T T.81 Annexes D, E, F, H) — the
QM coder plus the DC/AC/lossless statistical models, pure Python, no
external codecs.

This closes the arithmetic-coding format boundary of the JPEG surface:
SOF9 (extended sequential), SOF10 (progressive) and SOF11 (lossless, the
H.1.2.3 (Da, Db)-conditioned model at the bottom of this module) all
DECODE for real instead of raising. Everything here is public T.81 knowledge:

- ``ArithDecoder`` / ``ArithEncoder`` implement the QM binary arithmetic
  coder of T.81 Annex D: 16-bit interval register A kept in
  [0x8000, 0x10000) by renormalization, code register C, conditional
  MPS/LPS exchange when the MPS subinterval A-Qe falls below Qe, and
  probability estimation ONLY on renormalization via the Table D.3 state
  machine (_QE_TABLE below: Qe value, next-state-on-MPS,
  next-state-on-LPS, MPS-switch flag; index 113 is the non-adapting
  fixed ~0.5 state used for AC sign decisions, Table F.5 note).
  Interval convention (T.81 D.1.3): the MPS owns the BOTTOM subinterval
  of size A-Qe and the LPS the top Qe, except under conditional
  exchange. Encoder byte output (D.1.7): bits 19..26 of C every 8
  renormalization shifts (CT starts at 11), carry propagated into the
  last written byte, pending 0xFF bytes stacked until carry resolution
  (a carry turns them into 0x00), and 0x00 stuffed after every emitted
  0xFF so no marker can appear in entropy data (B.1.1.5). Flush
  (D.1.8): slide C to the value in [C, C+A) with the most trailing
  zeros, then drain the register. Decoder byte input mirrors it:
  0xFF 0x00 reads as a 0xFF data byte; 0xFF followed by anything else is
  a marker — legal mid-scan in arithmetic coding — after which the
  decoder feeds zero bytes (F.2.2.3).
- Statistics bins are (MPS<<7 | state-index) bytes, one bytearray per
  conditioning-table id. DC model (F.1.4.4.1.1, Table F.4 bin layout):
  per-component context from the PREVIOUS diff classified zero /
  small± / large± against the DAC L and U parameters (defaults 0, 1);
  bins S0..S0+3 for the zero/sign/magnitude>1 decisions, the shared X1
  ladder at bin 20, magnitude-bit bins at +14. AC model (F.1.4.4.1.2,
  Table F.5): 3 bins per zig-zag index k (EOB decision, run, first two
  magnitude decisions share SP), the X2.. ladders split at the DAC Kx
  parameter (default 5) into low-k (bin 189) and high-k (bin 217)
  sections, and the sign coded with the FIXED state (no adaptation).

Conformance is pinned two ways in tests/test_jpeg_arith.py: the T.81
§K.4 coder test sequence (256 input bits -> the spec's 32-byte code
string, exercising table transitions, stuffing AND the flush), and
cross-coder equality — the same pixel blocks encoded as Huffman baseline
(jpeg.py fixtures) and as SOF9 arithmetic must decode to bit-identical
(width, height, mean).

Reference parity note: the reference server stores media as opaque blobs
(no codec surface — /root/reference/src/models/*.ts); this module belongs
to the repo's training-data-pipeline extension surface, where image bytes
must decode inside the Arrow worker with no container-level codec
dependencies.
"""

from __future__ import annotations

__all__ = [
    "ArithDecoder",
    "ArithEncoder",
    "DCStats",
    "ACStats",
    "LosslessStats",
    "decode_dc_diff",
    "decode_ac_block",
    "decode_ac_refine",
    "decode_lossless_diff",
    "encode_dc_diff",
    "encode_ac_block",
]

# T.81 Table D.3 — Qe values and probability estimation state machine.
# Rows: (Qe, NMPS, NLPS, SWITCH). Index 113 is the fixed non-adapting
# ~equiprobable state (its transitions point at itself and SWITCH=0), the
# bin AC sign decisions use per Table F.5.
_QE_TABLE: tuple[tuple[int, int, int, int], ...] = (
    (0x5A1D, 1, 1, 1),
    (0x2586, 2, 14, 0),
    (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0),
    (0x03D8, 5, 20, 0),
    (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0),
    (0x006F, 8, 28, 0),
    (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0),
    (0x000D, 11, 35, 0),
    (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0),
    (0x0001, 13, 12, 0),
    (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0),
    (0x2CF2, 17, 38, 0),
    (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0),
    (0x1182, 20, 42, 0),
    (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0),
    (0x072F, 23, 46, 0),
    (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0),
    (0x0303, 26, 51, 0),
    (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0),
    (0x0144, 29, 56, 0),
    (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0),
    (0x008A, 32, 60, 0),
    (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0),
    (0x003B, 35, 32, 0),
    (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1),
    (0x484C, 38, 64, 0),
    (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0),
    (0x261F, 41, 68, 0),
    (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0),
    (0x1518, 44, 72, 0),
    (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0),
    (0x0BFB, 47, 75, 0),
    (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0),
    (0x0706, 50, 79, 0),
    (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0),
    (0x040F, 53, 50, 0),
    (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0),
    (0x025C, 56, 53, 0),
    (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0),
    (0x0160, 59, 56, 0),
    (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0),
    (0x00CB, 62, 59, 0),
    (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0),
    (0x5B12, 65, 65, 1),
    (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0),
    (0x37D8, 68, 82, 0),
    (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0),
    (0x2379, 71, 86, 0),
    (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0),
    (0x174E, 74, 72, 0),
    (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0),
    (0x0F6B, 77, 74, 0),
    (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0),
    (0x0A40, 48, 77, 0),
    (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0),
    (0x438E, 83, 89, 0),
    (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0),
    (0x2EAE, 86, 92, 0),
    (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0),
    (0x5570, 89, 88, 1),
    (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0),
    (0x3E22, 92, 97, 0),
    (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0),
    (0x2E17, 86, 93, 0),
    (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0),
    (0x47E5, 98, 102, 0),
    (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0),
    (0x375E, 93, 99, 0),
    (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0),
    (0x4639, 104, 107, 0),
    (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1),
    (0x50E7, 107, 108, 0),
    (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0),
    (0x504F, 107, 111, 0),
    (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0),
    (0x59EB, 111, 112, 1),
    (0x5A1D, 113, 113, 0),  # 113: fixed ~0.5 bin, never adapts
)

FIXED_BIN_STATE = 113


class ArithDecoder:
    """QM decoder over the entropy-coded segment starting at ``pos`` in
    ``data``. Markers (0xFF followed by non-zero) END the data; the
    decoder then feeds zero bytes, per F.2.2.3 — decoding completion is
    the caller's job (it knows the MCU count)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.marker: int | None = None
        # INITDEC: load two bytes into the 16-bit compare window
        self.c = (self._byte_in() << 8) | self._byte_in()
        self.a = 0x10000
        self._bitbuf = 0
        self._nbits = 0

    def _byte_in(self) -> int:
        if self.marker is not None:
            return 0  # past a marker: zero feed (F.2.2.3)
        if self.pos >= len(self.data):
            self.marker = 0xD9  # treat truncation as end-of-data
            return 0
        b = self.data[self.pos]
        self.pos += 1
        if b != 0xFF:
            return b
        # 0xFF: swallow fill bytes, then either stuffed 0x00 (data 0xFF)
        # or a marker code
        while self.pos < len(self.data) and self.data[self.pos] == 0xFF:
            self.pos += 1
        if self.pos < len(self.data) and self.data[self.pos] == 0x00:
            self.pos += 1
            return 0xFF
        self.marker = self.data[self.pos] if self.pos < len(self.data) else 0xD9
        self.pos += 1
        return 0

    def _next_bit(self) -> int:
        if self._nbits == 0:
            self._bitbuf = self._byte_in()
            self._nbits = 8
        self._nbits -= 1
        return (self._bitbuf >> self._nbits) & 1

    def decode(self, stats: bytearray, i: int) -> int:
        """Decode one binary decision against statistics bin ``stats[i]``
        (MPS in bit 7, Table D.3 state in bits 0..6)."""
        sv = stats[i]
        mps = sv >> 7
        qe, nmps, nlps, switch = _QE_TABLE[sv & 0x7F]
        self.a -= qe
        if self.c < self.a:
            # bottom subinterval (size A-Qe)
            if self.a & 0x8000:
                return mps  # no renorm -> no estimation (D.2.3)
            if self.a < qe:  # conditional exchange: bottom is the LPS
                d = mps ^ 1
                if switch:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            else:
                d = mps
                stats[i] = (mps << 7) | nmps
        else:
            # top subinterval (size Qe)
            self.c -= self.a
            bottom = self.a
            self.a = qe
            if bottom < qe:  # conditional exchange: top is the MPS
                d = mps
                stats[i] = (mps << 7) | nmps
            else:
                d = mps ^ 1
                if switch:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
        while self.a < 0x8000:
            self.a <<= 1
            self.c = ((self.c << 1) | self._next_bit()) & 0xFFFF
            # C < A <= 0x10000 always holds, but the mask keeps the
            # window 16-bit even on malformed streams
        return d

    def restart(self) -> None:
        """Byte-align past the pending RSTn marker and re-init (E.2.4 /
        F.2.1.3.1: restart resets the coder AND the caller resets all
        statistics + DC predictions)."""
        if self.marker is None:
            # the scan decoded the boundary MCU without reading up to the
            # marker bytes (the decoder prefetches 16 bits at INITDEC but
            # reads lazily afterwards, so up to ~2 flush-tail bytes of the
            # segment can be left unread): skip forward over the remaining
            # entropy bytes — incl. FF00 stuffed pairs — to the marker,
            # per the E.2.4 byte-alignment rule
            while self.pos + 1 < len(self.data):
                if self.data[self.pos] != 0xFF or self.data[self.pos + 1] == 0x00:
                    self.pos += 1
                    continue
                self.marker = self.data[self.pos + 1]
                self.pos += 2
                break
        if self.marker is None or not 0xD0 <= self.marker <= 0xD7:
            raise ValueError(
                f"expected restart marker, found {self.marker!r}"
            )
        self.marker = None
        self._bitbuf = 0
        self._nbits = 0
        self.c = (self._byte_in() << 8) | self._byte_in()
        self.a = 0x10000


class ArithEncoder:
    """QM encoder (T.81 D.1) producing a marker-safe entropy segment:
    0x00 stuffed after every 0xFF output byte. ``flush()`` terminates per
    D.1.8 and returns the byte string."""

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.buffer = -1  # last byte awaiting carry resolution; -1 = none
        self.sc = 0  # stacked 0xFF bytes awaiting carry resolution
        self.out = bytearray()

    def _emit(self, b: int) -> None:
        self.out.append(b)
        if b == 0xFF:
            self.out.append(0x00)  # B.1.1.5 stuffing

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            # carry: propagate into the buffered byte; stacked 0xFFs
            # become 0x00 (FF + carry = 00 with carry ripple)
            self.buffer += 1
            self._emit(self.buffer)
            for _ in range(self.sc):
                self.out.append(0x00)
            self.sc = 0
            self.buffer = t & 0xFF
        elif t == 0xFF:
            self.sc += 1  # can still be changed by a future carry
        else:
            if self.buffer >= 0:
                self._emit(self.buffer)
            for _ in range(self.sc):
                self._emit(0xFF)
            self.sc = 0
            self.buffer = t
        self.c &= 0x7FFFF

    def _renorm(self) -> None:
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
                self.ct = 8
            if self.a & 0x8000:
                break

    def encode(self, bit: int, stats: bytearray, i: int) -> None:
        sv = stats[i]
        mps = sv >> 7
        qe, nmps, nlps, switch = _QE_TABLE[sv & 0x7F]
        self.a -= qe
        if bit == mps:
            if self.a & 0x8000:
                return  # no renorm -> no estimation
            if self.a < qe:  # conditional exchange: MPS owns the top
                self.c += self.a
                self.a = qe
            stats[i] = (mps << 7) | nmps
            self._renorm()
        else:
            if self.a >= qe:  # no exchange: LPS owns the top
                self.c += self.a
                self.a = qe
            # else exchange: LPS owns the bottom (A already = A-Qe)
            if switch:
                mps ^= 1
            stats[i] = (mps << 7) | nlps
            self._renorm()

    def flush(self) -> bytes:
        # D.1.8: slide C to the value in [C, C+A) with the most trailing
        # zeros: clear the low 16 bits; if that undershoots, set bit 15.
        t = (self.c + self.a - 1) & ~0xFFFF
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        if self.c & 0x8000000:  # final carry (bit 27)
            self.buffer += 1
            self._emit(self.buffer)
            for _ in range(self.sc):
                self.out.append(0x00)
        else:
            if self.buffer >= 0:
                self._emit(self.buffer)
            for _ in range(self.sc):
                self._emit(0xFF)
        self.sc = 0
        self.buffer = -1
        # drain the two register bytes, discarding TRAILING zeros (D.1.8
        # note — the decoder feeds zeros past the end of data anyway;
        # this also makes the K.4 test sequence match byte-for-byte)
        b1, b2 = (self.c >> 19) & 0xFF, (self.c >> 11) & 0xFF
        if b2:
            self._emit(b1)
            self._emit(b2)
        elif b1:
            self._emit(b1)
        return bytes(self.out)


# ---------------------------------------------------------------------------
# statistical models (T.81 F.1.4.4.1, decode direction F.2.4.2) — shared
# bin layouts so the encoder and decoder walk identical context sequences
# ---------------------------------------------------------------------------

_DC_STAT_BINS = 49  # Table F.4: 5 contexts x 4 + X1..X15 (20..34) + M2..M15
_AC_STAT_BINS = 245  # Table F.5: 63 x 3 + two (X2..X15 + M2..M15) ladders


class DCStats:
    """Per-conditioning-table DC statistics area + per-component context.
    L and U are the DAC conditioning bounds (defaults 0 and 1)."""

    def __init__(self, lo: int = 0, hi: int = 1):
        if not (0 <= lo <= hi <= 15):
            raise ValueError(f"JPEG DAC DC conditioning L={lo} U={hi} invalid")
        self.lo = lo
        self.hi = hi
        self.bins = bytearray(_DC_STAT_BINS)

    def reset(self) -> None:
        self.bins = bytearray(_DC_STAT_BINS)

    def classify(self, msb: int, sign: int) -> int:
        """Context of the NEXT block (F.1.4.4.1.2) from THIS diff's
        decoded magnitude-category MSB (= 2^(bitlen(Sz)-1), 0 for
        |diff| = 1) and sign: 0 small-vs-L, 4/8 medium +/-, 12/16
        large +/-. Classification is on the category MSB, not |diff| —
        both coder directions must agree bin-for-bin."""
        if msb < ((1 << self.lo) >> 1):
            return 0
        if msb > ((1 << self.hi) >> 1):
            return 12 + 4 * sign
        return 4 + 4 * sign


class ACStats:
    """Per-conditioning-table AC statistics area. Kx (DAC, default 5)
    splits the magnitude-category ladders into low-k and high-k bands."""

    def __init__(self, kx: int = 5):
        if not (1 <= kx <= 63):
            raise ValueError(f"JPEG DAC AC conditioning Kx={kx} invalid")
        self.kx = kx
        self.bins = bytearray(_AC_STAT_BINS)
        self.fixed = bytearray([FIXED_BIN_STATE])

    def reset(self) -> None:
        self.bins = bytearray(_AC_STAT_BINS)
        self.fixed = bytearray([FIXED_BIN_STATE])


def decode_dc_diff(dec: ArithDecoder, st: DCStats, context: int) -> tuple[int, int]:
    """Decode one DC difference (F.2.4.2.1, figures F.19-F.24). Returns
    (diff, context-for-the-NEXT-block-of-this-component)."""
    bins = st.bins
    s0 = context
    if dec.decode(bins, s0) == 0:
        return 0, 0
    sign = dec.decode(bins, s0 + 1)
    m = dec.decode(bins, s0 + 2 + sign)
    i = s0 + 2 + sign
    if m:
        i = 20  # X1 ladder, shared across contexts (Table F.4)
        while dec.decode(bins, i):
            m <<= 1
            if m == 0x8000:
                raise ValueError("JPEG arithmetic DC magnitude overflow")
            i += 1
    nxt = st.classify(m, sign)
    v = m
    i += 14  # matching magnitude-bit bin (M-column of Table F.4)
    while m := m >> 1:
        if dec.decode(bins, i):
            v |= m
    v += 1
    return (-v if sign else v), nxt


def encode_dc_diff(enc: ArithEncoder, st: DCStats, context: int, diff: int) -> int:
    """Encode one DC difference — exact mirror of decode_dc_diff.
    Returns the context for the next block of this component."""
    bins = st.bins
    s0 = context
    if diff == 0:
        enc.encode(0, bins, s0)
        return 0
    enc.encode(1, bins, s0)
    sign = 1 if diff < 0 else 0
    enc.encode(sign, bins, s0 + 1)
    sz = abs(diff) - 1
    i = s0 + 2 + sign
    if sz == 0:
        enc.encode(0, bins, i)
        msb = 0
    else:
        enc.encode(1, bins, i)
        nbits = sz.bit_length()
        i = 20
        for _ in range(nbits - 1):
            enc.encode(1, bins, i)
            i += 1
        enc.encode(0, bins, i)
        msb = 1 << (nbits - 1)
    i += 14
    m = msb
    while m := m >> 1:
        enc.encode(1 if sz & m else 0, bins, i)
    return st.classify(msb, sign)


def decode_ac_block(
    dec: ArithDecoder, st: ACStats, coeffs, zigzag,
    ss: int = 1, se: int = 63, al: int = 0,
) -> None:
    """Decode the AC coefficients of one block into ``coeffs`` (an 8x8
    array indexed via ``zigzag``), per F.2.4.2.2 / Figure F.20. With a
    spectral band [ss, se] and a nonzero ``al`` this is also the
    progressive AC FIRST scan (G.2.x): identical decisions, values stored
    shifted by the successive-approximation low bit."""
    bins = st.bins
    k = ss
    while k <= se:
        s0 = 3 * (k - 1)
        if dec.decode(bins, s0):
            return  # EOB
        while dec.decode(bins, s0 + 1) == 0:
            k += 1
            s0 += 3
            if k > se:
                raise ValueError("JPEG arithmetic AC run past band end")
        sign = dec.decode(st.fixed, 0)
        i = s0 + 2
        m = dec.decode(bins, i)
        if m:
            if dec.decode(bins, i):
                m <<= 1
                i = 189 if k <= st.kx else 217  # Table F.5 ladder split
                while dec.decode(bins, i):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("JPEG arithmetic AC magnitude overflow")
                    i += 1
        v = m
        i += 14
        while m := m >> 1:
            if dec.decode(bins, i):
                v |= m
        v += 1
        coeffs[zigzag[k]] = (-v if sign else v) << al
        k += 1


def decode_ac_refine(
    dec: ArithDecoder, st: ACStats, block, zigzag, ss: int, se: int, al: int
) -> None:
    """Progressive AC REFINEMENT scan for one block (T.81 G.2, arithmetic
    form): per coefficient exactly one decision — a correction bit
    (bin S0+2) for previously-nonzero history, or a newly-significant
    decision (bin S0+1, sign via the fixed bin) for zero history — with
    the end-of-block decision (bin S0) coded only past EOBx, the previous
    stages' last significant index. After EOB fires, NOTHING further is
    coded for the block (unlike the Huffman refinement's EOB band, which
    still carries correction bits)."""
    bins = st.bins
    p1, m1 = 1 << al, -1 << al
    kex = 0
    for k in range(se, 0, -1):
        if block[zigzag[k]]:
            kex = k
            break
    k = ss
    while k <= se:
        s0 = 3 * (k - 1)
        if k > kex and dec.decode(bins, s0):
            return  # EOB: no more corrections or significances
        while True:
            z = zigzag[k]
            if block[z]:
                if dec.decode(bins, s0 + 2):
                    block[z] += m1 if block[z] < 0 else p1
                break
            if dec.decode(bins, s0 + 1):
                block[z] = m1 if dec.decode(st.fixed, 0) else p1
                break
            s0 += 3
            k += 1
            if k > se:
                raise ValueError("JPEG arithmetic AC refinement past band end")
        k += 1


def encode_ac_block(
    enc: ArithEncoder, st: ACStats, values: list[int], ss: int = 1, se: int = 63
) -> None:
    """Encode AC coefficients (``values[k]`` for zig-zag index k, 0 kept
    as placeholder at index 0) — exact mirror of decode_ac_block."""
    bins = st.bins
    # last nonzero index decides where EOB fires
    eob = 0
    for k in range(ss, se + 1):
        if values[k]:
            eob = k
    k = ss
    while k <= eob:
        s0 = 3 * (k - 1)
        enc.encode(0, bins, s0)  # not EOB
        while values[k] == 0:
            enc.encode(0, bins, s0 + 1)
            k += 1
            s0 += 3
        enc.encode(1, bins, s0 + 1)
        v = values[k]
        sign = 1 if v < 0 else 0
        enc.encode(sign, st.fixed, 0)
        sz = abs(v) - 1
        i = s0 + 2
        if sz == 0:
            enc.encode(0, bins, i)
        else:
            enc.encode(1, bins, i)
            if sz == 1:
                enc.encode(0, bins, i)
            else:
                enc.encode(1, bins, i)
                nbits = sz.bit_length()
                i = 189 if k <= st.kx else 217
                for _ in range(nbits - 2):
                    enc.encode(1, bins, i)
                    i += 1
                enc.encode(0, bins, i)
        i += 14
        m = 1 << (sz.bit_length() - 1) if sz else 0
        while m := m >> 1:
            enc.encode(1 if sz & m else 0, bins, i)
        k += 1
    if eob < se:
        enc.encode(1, bins, 3 * (k - 1))  # EOB


# ---------------------------------------------------------------------------
# Lossless-mode statistical model (T.81 H.1.2.3 — closes SOF11).
# The prediction difference DIFF is coded with the DC-difference structure
# of F.1.4.4.1.1, except the zero/sign/first-magnitude decisions condition
# on BOTH neighboring differences: Da (sample to the left) and Db (sample
# above), each classified into the five F.1.4.4.1.1 categories
# (zero, small±, large±) under the DAC (L, U) bounds — a 5x5 context
# matrix, 4 bins each. The magnitude-category ladder and magnitude bits
# use TWO bin sets, selected by whether Db's class is large (H.1.2.3's
# second conditioning of the magnitude decisions): 15 X + 14 M bins each.
# Total statistics area: 25*4 + 2*29 = 158 bins.
# ---------------------------------------------------------------------------
_LL_CTX_BINS = 100  # 25 (Da-class, Db-class) contexts x 4 bins
_LL_X_SMALL = 100   # ladder + magnitude bins when class(Db) is not large
_LL_X_LARGE = 129   # ladder + magnitude bins when class(Db) is large
_LL_STAT_BINS = 158


class LosslessStats:
    """Per-conditioning-table lossless statistics area. L and U are the
    DAC DC conditioning bounds (the lossless mode reuses the DC
    conditioning segment, B.2.4.3 Tc=0)."""

    def __init__(self, lo: int = 0, hi: int = 1):
        if not (0 <= lo <= hi <= 15):
            raise ValueError(f"JPEG DAC DC conditioning L={lo} U={hi} invalid")
        self.lo = lo
        self.hi = hi
        self.bins = bytearray(_LL_STAT_BINS)

    def reset(self) -> None:
        self.bins = bytearray(_LL_STAT_BINS)

    def classify5(self, d: int) -> int:
        """Five-way class of a neighboring difference value: 0 zero,
        1/2 small +/-, 3/4 large +/-. Same thresholds as DCStats.classify
        (on the magnitude-category MSB of |d| - 1), same class order —
        with the default (L, U) = (0, 1): d = 0 -> zero, |d| in {1, 2} ->
        small, |d| >= 3 -> large."""
        if d == 0:
            return 0
        sign = 1 if d < 0 else 0
        sz = abs(d) - 1
        msb = 0 if sz == 0 else 1 << (sz.bit_length() - 1)
        if msb < ((1 << self.lo) >> 1):
            return 0
        if msb > ((1 << self.hi) >> 1):
            return 3 + sign
        return 1 + sign


def decode_lossless_diff(
    dec: ArithDecoder, st: LosslessStats, cls_a: int, cls_b: int
) -> int:
    """Decode one lossless prediction difference under the (Da, Db)
    context classes (H.1.2.3) — the DC decision tree with the 5x5
    context matrix and the Db-selected magnitude bin set."""
    bins = st.bins
    s0 = 4 * (5 * cls_b + cls_a)
    if dec.decode(bins, s0) == 0:
        return 0
    sign = dec.decode(bins, s0 + 1)
    m = dec.decode(bins, s0 + 2 + sign)
    i = s0 + 2 + sign
    if m:
        i = _LL_X_LARGE if cls_b >= 3 else _LL_X_SMALL
        while dec.decode(bins, i):
            m <<= 1
            if m == 0x8000:
                raise ValueError("JPEG arithmetic lossless magnitude overflow")
            i += 1
    v = m
    i += 14
    while m := m >> 1:
        if dec.decode(bins, i):
            v |= m
    v += 1
    return -v if sign else v
