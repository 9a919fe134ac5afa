"""JPEG (ITU-T T.81) codec — pure Python + numpy, no external image
libraries; everything below is public T.81 knowledge.

``decode_jpeg`` format matrix (mode × entropy coding) — COMPLETE: every
SOF code T.81 defines decodes:

  | T.81 mode                | Huffman              | arithmetic (QM)      |
  |--------------------------|----------------------|----------------------|
  | sequential DCT, 8-bit    | SOF0                 | SOF9                 |
  | extended seq. DCT, 12-bit| SOF1                 | SOF9                 |
  | progressive DCT          | SOF2, any sampling   | SOF10                |
  | lossless (Annex H)       | SOF3                 | SOF11                |
  | hierarchical (Annex J):  | SOF5/6/7             | SOF13/14/15          |
  | DHP + EXP + differential |                      |                      |

Hierarchical sequences: DHP declares the final
resolution, non-differential frames of ANY process above set per-
component references, EXP doubles them with the J.1.1.2 rounded-mean
filter (edge replication), and differential frames — DC prediction
pinned to zero (F.1.1.5.1), predictor selection 0 for lossless (B.2.3),
no level shift — ADD to the references modulo 2^16 (J.1), clipped to
[0, 2^P-1] at output. Differential SOFs outside a DHP sequence raise the
clear ValueError they always did (never a silent mis-decode — the PPM
maxval>255 stance).

Shared decode machinery: marker walk (SOI/APPn/COM/DQT/DHT/DAC/DRI/SOS/
RSTn/EOI with 0xFF fill-byte tolerance), canonical Huffman MINCODE walk,
0xFF00 unstuffing + restart resync, dequantization, zig-zag inverse,
float64 IDCT via the orthonormal DCT-II basis, level shift, BT.601
full-range YCbCr→RGB for 3-component DCT scans. Sampling: ANY factors in
1..4 — integer ratios (4:4:4/4:2:2/4:2:0/4:1:1) replicate, fractional
ratios (e.g. 3x1 luma vs 2x1 chroma) use the nearest-sample gather
x -> floor(x*hs/hmax) (T.81 leaves the upsampling filter to the
decoder). Progressive accumulates coefficients across scans (spectral
selection + successive approximation incl. the G.2 AC correction-bit
algorithm; interleaved DC scans walk MCU-padded grids, AC scans the true
block grids). 12-bit samples ride Pq=1 16-bit quant tables, level shift
2048, mean normalized by 4095. The QM arithmetic coder + its F.1.4.4.1 /
G.2 / H.1.2.3 statistical models live in functions/jpeg_arith.py,
conformance pinned byte-for-byte by the T.81 §K.4 test sequence and by
cross-coder decode equality against the Huffman fixtures (both DCT and
lossless modes). Lossless decodes all seven Annex H predictors at
precision 2..16 with point transform and modulo-65536 reconstruction —
exact by construction — under BOTH entropy layers (SOF3 Huffman, SOF11
arithmetic with the (Da, Db)-conditioned lossless model).

- ``encode_jpeg_gray_blocks`` (and the SOF-variant siblings below) are
  FIXTURE encoders in the spirit of ``encode_png``: spec-valid streams
  whose 8×8 blocks are each a constant value. For constant blocks the
  forward DCT is exactly one DC coefficient (8·(v−128)) and every AC is
  exactly 0, and with the DC quantizer pinned to 8 the quantized
  coefficient is the integer v−128 — so decode reconstructs every pixel
  EXACTLY and the decode profile keeps a closed-form byte-level DuckDB
  oracle even though the container is an entropy-coded lossy format. The
  lossless round-trip is a property of these fixtures, not a claim about
  DCT JPEG (SOF3 excepted, where the MODE is lossless). The arithmetic
  (SOF9-SOF11, SOF15) fixture encoders only tests call; they live in
  ``tests/jpeg_arith_encoders.py``.

Reference parity: the reference server stores media only as opaque blobs
(no codec surface); this belongs to the repo's training-data-pipeline
extension surface (SURVEY.md north star), where image bytes must be
decodable inside the Arrow worker without container-level dependencies.
"""

from __future__ import annotations

import contextvars
import math
import struct

import numpy as np

__all__ = ["decode_jpeg", "decode_jpeg_samples", "encode_jpeg_gray_blocks"]

# Sample tap for decode_jpeg_samples: when set (a list), every decode tail
# appends its final clipped sample array before reducing to the scalar
# (width, height, mean) contract. A ContextVar so concurrent decodes in
# different contexts/threads can't cross-capture; the default None makes
# the capture a no-op on the normal decode path.
_SAMPLE_TAP: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "jpeg_sample_tap", default=None
)


def _maybe_capture(samples) -> None:
    tap = _SAMPLE_TAP.get()
    if tap is not None:
        tap.append(samples)

# orthonormal 8×8 DCT-II basis: M[u, x] = c(u)/2 · cos((2x+1)uπ/16);
# forward F = M f Mᵀ, inverse f = Mᵀ F M. DC-only block d → every pixel d/8.
_DCT_M = np.array(
    [
        [
            (math.sqrt(0.125) if u == 0 else 0.5)
            * math.cos((2 * x + 1) * u * math.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ],
    dtype=np.float64,
)

# zig-zag scan order: _ZIGZAG[k] = (row, col) of the k-th coefficient
_ZIGZAG: list[tuple[int, int]] = []


def _build_zigzag() -> None:
    # T.81 figure 5: odd diagonals (r+c odd) run down-left (row ascending),
    # even diagonals run up-right (col ascending / row descending). Getting
    # the parity backwards transposes every block silently — pinned by
    # test_jpeg.py's asymmetric-AC fixture.
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else rc[1]),
    )
    _ZIGZAG.extend(order)


_build_zigzag()


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with JPEG byte
    unstuffing: 0xFF00 → literal 0xFF; 0xFFD0-D7 (RSTn) surface to the
    caller via ``restart()``; any other 0xFFxx ends the scan."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.seen_marker: int | None = None

    def _fill(self) -> bool:
        if self.seen_marker is not None:
            return False
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG marker in entropy stream")
            m = self.data[self.pos]
            self.pos += 1
            if m == 0x00:
                pass  # stuffed 0xFF data byte
            else:
                self.seen_marker = m
                return False
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise ValueError("JPEG entropy stream ended inside a codeword")
        self.nbits -= 1
        bit = (self.bitbuf >> self.nbits) & 1
        # drop the consumed high bit: without this the Python int grows by
        # 8 bits per _fill for the whole scan and every shift above becomes
        # O(scan length) — an O(n²) decode on real megabyte entropy streams
        self.bitbuf &= (1 << self.nbits) - 1
        return bit

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume the pending RSTn marker."""
        self.bitbuf = 0
        self.nbits = 0
        if self.seen_marker is None:
            # marker not yet reached: it must be the next bytes
            if (
                self.pos + 1 < len(self.data)
                and self.data[self.pos] == 0xFF
                and 0xD0 <= self.data[self.pos + 1] <= 0xD7
            ):
                self.pos += 2
                return
            raise ValueError("expected JPEG restart marker")
        if not 0xD0 <= self.seen_marker <= 0xD7:
            raise ValueError(
                f"expected restart marker, found FF{self.seen_marker:02X}"
            )
        self.seen_marker = None


class _HuffTable:
    """Canonical JPEG Huffman table from DHT counts+symbols, decoded via
    the standard MINCODE/MAXCODE walk (T.81 F.2.2.3)."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.symbols = symbols
        code = 0
        k = 0
        for length in range(1, 17):
            n = counts[length - 1]
            self.valptr[length] = k
            self.mincode[length] = code
            self.maxcode[length] = code + n - 1 if n else -1
            code = (code + n) << 1
            k += n
        if k != len(symbols):
            raise ValueError("JPEG DHT symbol count mismatch")

    def decode(self, br: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            if self.maxcode[length] >= 0 and code <= self.maxcode[length]:
                return self.symbols[self.valptr[length] + code - self.mincode[length]]
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes) -> tuple[int, int, float] | None:
    """Decode a JPEG — any T.81 process (see the module docstring's
    format matrix). Returns (width, height, mean_sample/maxval)
    over all output samples (gray, or RGB after color conversion) — the
    same contract as the PPM/PNG/BMP decoders — or None if the payload
    does not start with SOI. Malformed payloads
    raise ValueError (never a silently wrong decode)."""
    b = bytes(payload)
    if b[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    dac_dc: dict[int, tuple[int, int]] = {}  # DAC: table id -> (L, U)
    dac_ac: dict[int, int] = {}  # DAC: table id -> Kx
    restart_interval = 0
    frame = None  # (h, w, comps) ; comps = [(cid, hq, vq, tq)]
    progressive = False
    arith = False
    lossless = False
    differential = False
    coef = None  # progressive coefficient store, created at first SOS
    hier = None  # hierarchical (DHP) frame header; decode spans frames
    refs: dict[int, np.ndarray] = {}  # hierarchical reference components
    pending_exp = (0, 0)  # EXP expansion flags for the next frame
    hier_coef = None  # coefficient store of an in-progress progressive
    # frame INSIDE a hierarchical sequence (merged at the frame boundary)
    pos = 2
    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}, got {b[pos]:#04x}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before the
        # marker code — skip them, or a conforming padded stream misparses
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1] if pos + 1 < len(b) else None
        if marker is None:
            raise ValueError("truncated JPEG marker")
        pos += 2
        if (
            hier_coef is not None
            and marker in (
                0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF, 0xDE, 0xDF, 0xD9,
            )
        ):
            # a frame-ending marker closes the in-progress progressive
            # frame of a hierarchical sequence: reconstruct and merge
            _hier_merge(
                refs, frame,
                _reconstruct_progressive_planes(frame, qt, hier_coef),
                differential, pending_exp,
                level_shift=1 << (frame[3] - 1),
            )
            pending_exp = (0, 0)
            frame = None
            hier_coef = None
        if marker == 0xD9:  # EOI
            if hier is not None:
                if not refs:
                    raise ValueError("JPEG EOI before scan data")
                return _finish_hier(refs, hier)
            if progressive and coef is not None:
                # progressive image complete: reconstruct from the
                # accumulated coefficients
                return _reconstruct_progressive(frame, qt, coef)
            raise ValueError("JPEG EOI before scan data")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # TEM / stray RST: no segment body
        if pos + 2 > len(b):
            raise ValueError("truncated JPEG segment length")
        seglen = struct.unpack(">H", b[pos : pos + 2])[0]
        seg = b[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                if pq not in (0, 1):
                    raise ValueError(f"JPEG DQT precision {pq} invalid")
                # Pq=0: 8-bit entries; Pq=1: 16-bit big-endian (the
                # 12-bit-sample form, T.81 B.2.4.1)
                esz = 1 if pq == 0 else 2
                if off + 1 + 64 * esz > len(seg):
                    raise ValueError("truncated JPEG DQT")
                table = np.zeros((8, 8), dtype=np.float64)
                for k in range(64):
                    r, c = _ZIGZAG[k]
                    o = off + 1 + k * esz
                    table[r, c] = (
                        seg[o] if pq == 0 else (seg[o] << 8) | seg[o + 1]
                    )
                qt[tq] = table
                off += 1 + 64 * esz
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                counts = list(seg[off + 1 : off + 17])
                if len(counts) != 16:  # short slice, not an exception —
                    raise ValueError("truncated JPEG DHT")  # keep the
                    # ValueError contract the quarantine audit sorts on
                n = sum(counts)
                symbols = seg[off + 17 : off + 17 + n]
                if len(symbols) != n:
                    raise ValueError("truncated JPEG DHT")
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffTable(counts, symbols)
                off += 17 + n
        elif marker in (
            0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB,  # non-differential
            0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF,  # differential
            0xDE,  # DHP: hierarchical progression header, same syntax
        ):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive /
            # SOF3 lossless (Huffman) / SOF9 extended sequential / SOF10
            # progressive (arithmetic) / SOF11 lossless
            # (arithmetic) / SOF5-7 + SOF13-15 differential
            # frames inside a DHP hierarchical sequence
            if len(seg) < 6:
                raise ValueError("truncated JPEG SOF header")
            prec, height, width, ncomp = struct.unpack(">BHHB", seg[:6])
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("truncated JPEG SOF component list")
            if marker == 0xC0 and prec != 8:
                raise ValueError(f"JPEG precision {prec} invalid for baseline")
            if marker in (0xC3, 0xCB, 0xC7, 0xCF, 0xDE):
                if not 2 <= prec <= 16:  # lossless allows 2..16 (B.2.2)
                    raise ValueError(
                        f"JPEG precision {prec} invalid for lossless"
                    )
            elif prec not in (8, 12):
                raise ValueError(
                    f"JPEG precision {prec} unsupported (8 and 12 decode)"
                )
            comps = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            if marker == 0xDE:
                if hier is not None:
                    raise ValueError("JPEG has multiple DHP headers")
                if frame is not None:
                    raise ValueError("JPEG DHP after a frame header")
                hier = (height, width, comps, prec)
            else:
                frame = (height, width, comps, prec)
                progressive = marker in (0xC2, 0xCA, 0xC6, 0xCE)
                arith = marker in (0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
                lossless = marker in (0xC3, 0xCB, 0xC7, 0xCF)
                differential = marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF)
                if differential and hier is None:
                    raise ValueError(
                        f"JPEG SOF{marker - 0xC0} differential frame outside "
                        "a hierarchical (DHP) sequence"
                    )
        elif marker == 0xCC:  # DAC: arithmetic conditioning (T.81 B.2.4.3)
            if len(seg) % 2:  # 2-byte (Tc/Tb, Cs) pairs only
                raise ValueError("truncated JPEG DAC")
            off = 0
            while off + 1 < len(seg):
                tc, tb = seg[off] >> 4, seg[off] & 0x0F
                val = seg[off + 1]
                if tc == 0:
                    dac_dc[tb] = (val & 0x0F, val >> 4)  # (L, U)
                elif tc == 1:
                    dac_ac[tb] = val  # Kx
                else:
                    raise ValueError(f"JPEG DAC class {tc} invalid")
                off += 2
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated JPEG DRI")
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDF:  # EXP: expand reference components (B.3.3)
            if hier is None:
                raise ValueError("JPEG EXP marker outside a hierarchical sequence")
            if len(seg) < 1:
                raise ValueError("truncated JPEG EXP")
            eh, ev = seg[0] >> 4, seg[0] & 0x0F
            if eh not in (0, 1) or ev not in (0, 1):
                raise ValueError(f"JPEG EXP flags {eh}/{ev} invalid (must be 0 or 1)")
            pending_exp = (eh, ev)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            # header = Ns + 2*Ns selector bytes + Ss + Se + AhAl; a short
            # seg must be a ValueError, never an IndexError in a parser
            if len(seg) < 1 or len(seg) < 4 + 2 * seg[0]:
                raise ValueError("truncated JPEG SOS header")
            if hier is not None:
                # hierarchical sequence: decode this frame's
                # scan(s), fold into the reference store, and keep
                # walking — the image completes at EOI. All six frame
                # processes run under either entropy coder; progressive
                # frames accumulate scans and merge at the frame boundary.
                if pending_exp != (0, 0) and not differential:
                    raise ValueError(
                        "JPEG EXP must precede a differential frame"
                    )
                if progressive:
                    if hier_coef is None:
                        hier_coef = _init_coef(frame)
                    if arith:
                        pos = _decode_progressive_scan_arith(
                            b, pos + seglen, seg, frame, dac_dc, dac_ac,
                            restart_interval, hier_coef, differential,
                        )
                    else:
                        pos = _decode_progressive_scan(
                            b, pos + seglen, seg, frame, huff_dc, huff_ac,
                            restart_interval, hier_coef, differential,
                        )
                    continue  # merge happens at the frame boundary
                if lossless:
                    if arith:
                        planes, pt, end = _decode_scan_lossless_arith_planes(
                            b, pos + seglen, seg, frame, dac_dc,
                            restart_interval, differential,
                        )
                    else:
                        planes, pt, end = _decode_scan_lossless_planes(
                            b, pos + seglen, seg, frame, huff_dc,
                            restart_interval, differential,
                        )
                    # undo the point transform BEFORE the reference merge:
                    # references hold full-precision samples (J.1)
                    _hier_merge(
                        refs, frame, [p << pt for p in planes],
                        differential, pending_exp, level_shift=0,
                    )
                else:
                    if arith:
                        planes, end = _decode_scan_arith_planes(
                            b, pos + seglen, seg, frame, qt, dac_dc,
                            dac_ac, restart_interval, differential,
                        )
                    else:
                        planes, end = _decode_scan_planes(
                            b, pos + seglen, seg, frame, qt, huff_dc,
                            huff_ac, restart_interval, differential,
                        )
                    _hier_merge(
                        refs, frame, planes, differential, pending_exp,
                        level_shift=1 << (frame[3] - 1),
                    )
                pending_exp = (0, 0)
                frame = None
                pos = end
                continue  # pos points at the next marker's 0xFF
            if lossless:
                if arith:
                    return _decode_scan_lossless_arith(
                        b, pos + seglen, seg, frame, dac_dc, restart_interval
                    )
                return _decode_scan_lossless(
                    b, pos + seglen, seg, frame, huff_dc, restart_interval
                )
            if not progressive:
                if arith:
                    return _decode_scan_arith(
                        b, pos + seglen, seg, frame, qt, dac_dc, dac_ac,
                        restart_interval,
                    )
                return _decode_scan(b, pos + seglen, seg, frame, qt, huff_dc, huff_ac, restart_interval)
            if coef is None:
                coef = _init_coef(frame)
            if arith:
                pos = _decode_progressive_scan_arith(
                    b, pos + seglen, seg, frame, dac_dc, dac_ac,
                    restart_interval, coef,
                )
            else:
                pos = _decode_progressive_scan(
                    b, pos + seglen, seg, frame, huff_dc, huff_ac,
                    restart_interval, coef,
                )
            continue  # pos now points at the next marker's 0xFF
        # APPn / COM / anything else: skip
        pos += seglen
    raise ValueError("JPEG has no SOS marker")


def decode_jpeg_samples(payload: bytes):
    """Decode a JPEG and return (width, height, samples) where `samples`
    is the final clipped sample array the decode tail produced — (h, w)
    for grayscale, (h, w, 3) for color-converted 3-component scans,
    (ncomp, h, w) for lossless. Same error contract as decode_jpeg (None
    for non-JPEG, ValueError for malformed); the per-pixel plane feeds
    perceptual hashing (functions/multimodal.py dhash_bands), where the
    scalar mean contract is not enough."""
    tap: list = []
    token = _SAMPLE_TAP.set(tap)
    try:
        r = decode_jpeg(payload)
    finally:
        _SAMPLE_TAP.reset(token)
    if r is None:
        return None
    width, height, _mean = r
    return width, height, tap[-1]


def _frame_geometry(frame):
    """Sampling geometry shared by the progressive scan decoder and the
    reconstruction (T.81 A.1.1): (hmax, vmax, MCU grid, and per component
    its TRUE block grid ceil(comp_dim/8) — the data-unit count of a
    NON-interleaved scan, which has no MCU padding)."""
    height, width, comps, _prec = frame
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    for _, hs, vs, _ in comps:
        if not (1 <= hs <= 4 and 1 <= vs <= 4):
            raise ValueError(f"JPEG sampling factor {hs}x{vs} out of range")
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    dims = []
    for _, hs, vs, _ in comps:
        cw = -(-width * hs // hmax)
        ch = -(-height * vs // vmax)
        dims.append(((ch + 7) // 8, (cw + 7) // 8))
    return hmax, vmax, mcux, mcuy, dims


def _init_coef(frame):
    """Per-component quantized-coefficient store for progressive decode,
    zero-initialized — scans accumulate into it and reconstruction
    happens at EOI. Allocated on the MCU-padded grid (mcuy*vs, mcux*hs)
    because interleaved DC scans code every MCU's full hs x vs block
    cluster including edge padding blocks; non-interleaved scans touch
    only the true ceil(comp/8) prefix (see _frame_geometry)."""
    height, width, comps, _prec = frame
    if width <= 0 or height <= 0:
        raise ValueError("JPEG frame has empty dimensions")
    _hmax, _vmax, mcux, mcuy, _dims = _frame_geometry(frame)
    return [
        np.zeros((mcuy * vs, mcux * hs, 8, 8), dtype=np.int64)
        for _, hs, vs, _ in comps
    ]


def _decode_progressive_scan(
    b, pos, seg, frame, huff_dc, huff_ac, restart_interval, coef,
    differential=False,
):
    """One progressive (SOF2/SOF6) scan per T.81 G.2: DC first/refinement
    (interleaved or single-component) and AC first/refinement
    (single-component, spectral band [Ss, Se], successive approximation
    Ah→Al) accumulate into `coef`. Returns the byte offset of the next
    marker's 0xFF. ``differential=True`` (hierarchical SOF6)
    codes each first-scan DC value directly — PRED is zero per block."""
    height, width, comps, _prec = frame
    ncomp_scan, ss, se, ah, al, scan_comps = _parse_scan_header(seg, comps)
    br = _BitReader(b, pos)
    _hmax, _vmax, mcux, mcuy, dims = _frame_geometry(frame)

    if ss == 0:  # DC scan (Se must be 0 per spec)
        if se != 0:
            raise ValueError("JPEG progressive DC scan with Se != 0")
        preds = {ci: 0 for ci, _td, _ta in scan_comps}

        def dc_unit(ci: int, td: int, by: int, bx: int) -> None:
            if ah == 0:  # first DC scan: Huffman diff, shifted by Al
                if td not in huff_dc:
                    raise ValueError("JPEG scan references missing Huffman table")
                s = huff_dc[td].decode(br)
                diff = _extend(br.receive(s), s)
                if differential:
                    coef[ci][by, bx, 0, 0] = diff << al  # PRED = 0
                else:
                    preds[ci] += diff
                    coef[ci][by, bx, 0, 0] = preds[ci] << al
            else:  # DC refinement: one raw bit per block
                if br.read_bit():
                    coef[ci][by, bx, 0, 0] |= 1 << al

        if ncomp_scan > 1:
            # interleaved: MCU order, each component its hs x vs cluster
            # (incl. edge padding blocks); restart counts MCUs (T.81 G.2)
            unit = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and unit and unit % restart_interval == 0:
                        br.restart()
                        preds.update({ci: 0 for ci, _td, _ta in scan_comps})
                    for ci, td, _ta in scan_comps:
                        _cid, hs, vs, _tq = frame[2][ci]
                        for v in range(vs):
                            for h2 in range(hs):
                                dc_unit(ci, td, my * vs + v, mx * hs + h2)
                    unit += 1
        else:
            # non-interleaved single-component DC scan: raster order over
            # the component's TRUE block grid, no MCU padding
            ci, td, _ta = scan_comps[0]
            bh_c, bw_c = dims[ci]
            unit = 0
            for by in range(bh_c):
                for bx in range(bw_c):
                    if restart_interval and unit and unit % restart_interval == 0:
                        br.restart()
                        preds.update({ci: 0 for ci, _td2, _ta2 in scan_comps})
                    dc_unit(ci, td, by, bx)
                    unit += 1
    else:  # AC scan: exactly one component (T.81 G.1.1.1.1)
        if ncomp_scan != 1:
            raise ValueError("JPEG progressive AC scan must be single-component")
        ci, _td, ta = scan_comps[0]
        if ta not in huff_ac:
            raise ValueError("JPEG scan references missing Huffman table")
        table = huff_ac[ta]
        # raster order over the component's TRUE block grid (ceil(comp/8),
        # never MCU-padded — non-interleaved scans have no pad data units)
        bh_c, bw_c = dims[ci]
        nblocks = bh_c * bw_c
        eobrun = 0
        for blk in range(nblocks):
            if restart_interval and blk and blk % restart_interval == 0:
                br.restart()
                eobrun = 0
            by, bx = blk // bw_c, blk % bw_c
            block = coef[ci][by, bx]
            if ah == 0:  # AC first scan
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = table.decode(br)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.receive(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC run past spectral band end")
                    block[_ZIGZAG[k]] = _extend(br.receive(s), s) << al
                    k += 1
            else:  # AC refinement scan (T.81 G.2.2)
                p1, m1 = 1 << al, -1 << al
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = table.decode(br)
                        r, s = rs >> 4, rs & 0x0F
                        newval = 0
                        if s == 0:
                            if r < 15:
                                # refinement convention: the count INCLUDES
                                # this block, whose [k..Se] remainder still
                                # gets correction bits below before the
                                # eobrun -= 1 (libjpeg decode_mcu_AC_refine)
                                eobrun = 1 << r
                                if r:
                                    eobrun += br.receive(r)
                                break
                            # ZRL: pass 16 zero-history coefficients
                        else:
                            if s != 1:
                                raise ValueError(
                                    "JPEG AC refinement magnitude must be 1"
                                )
                            newval = p1 if br.read_bit() else m1
                        # advance past r zero-history coefficients, refining
                        # every nonzero-history coefficient on the way
                        placed = newval == 0
                        while k <= se:
                            z = _ZIGZAG[k]
                            if block[z] != 0:
                                if br.read_bit() and (block[z] & p1) == 0:
                                    block[z] += p1 if block[z] >= 0 else m1
                            else:
                                if r == 0:
                                    if newval:
                                        block[z] = newval
                                        placed = True
                                    k += 1
                                    break
                                r -= 1
                            k += 1
                        if not placed:
                            raise ValueError(
                                "JPEG AC refinement ran past the spectral band"
                            )
                if eobrun > 0:
                    # EOB band: refine remaining nonzero-history coefficients
                    while k <= se:
                        z = _ZIGZAG[k]
                        if block[z] != 0:
                            if br.read_bit() and (block[z] & p1) == 0:
                                block[z] += p1 if block[z] >= 0 else m1
                        k += 1
                    eobrun -= 1

    # the scan's entropy data ends here: either the reader already hit the
    # next marker, or padding bits/bytes separate us from it
    if br.seen_marker is not None:
        return br.pos - 2
    p = br.pos
    while p + 1 < len(b):
        if b[p] == 0xFF and b[p + 1] != 0x00:
            return p
        p += 1
    raise ValueError("JPEG progressive scan not followed by a marker")


def _decode_progressive_scan_arith(
    b, pos, seg, frame, dac_dc, dac_ac, restart_interval, coef,
    differential=False,
):
    """One progressive ARITHMETIC (SOF10/SOF14) scan per T.81 G.2: the same
    scan taxonomy as the Huffman path (_decode_progressive_scan) with the
    QM coder drawing every decision — DC first scans run the F.1.4.4.1.1
    DC model on the Al-shifted differences, DC refinement codes one
    FIXED-bin decision per block, AC first scans are the sequential AC
    model over [Ss, Se] with values stored << Al, and AC refinement uses
    the kex/EOB-decision walk (jpeg_arith.decode_ac_refine). Statistics
    areas, predictions and contexts are per-scan (each scan is its own
    entropy segment with its own INITDEC). Returns the byte offset of the
    next marker's 0xFF."""
    from hive_server_spark.functions import jpeg_arith as ja

    height, width, comps, _prec = frame
    ncomp_scan, ss, se, ah, al, scan_comps = _parse_scan_header(seg, comps)
    _hmax, _vmax, mcux, mcuy, dims = _frame_geometry(frame)

    dec = ja.ArithDecoder(b, pos)
    dc_stats = {
        td: ja.DCStats(*dac_dc.get(td, (0, 1))) for _, td, _ in scan_comps
    }
    ac_stats = {ta: ja.ACStats(dac_ac.get(ta, 5)) for _, _, ta in scan_comps}

    if ss == 0:  # DC scan (Se must be 0 per spec)
        if se != 0:
            raise ValueError("JPEG progressive DC scan with Se != 0")
        preds = {ci: 0 for ci, _td, _ta in scan_comps}
        contexts = {ci: 0 for ci, _td, _ta in scan_comps}
        fixed = bytearray([ja.FIXED_BIN_STATE])  # DC refinement bin (G.2)

        def reset_segment():
            for st in dc_stats.values():
                st.reset()
            for st in ac_stats.values():
                st.reset()
            preds.update({ci: 0 for ci, _td, _ta in scan_comps})
            contexts.update({ci: 0 for ci, _td, _ta in scan_comps})

        def dc_unit(ci: int, td: int, by: int, bx: int) -> None:
            if ah == 0:  # first DC scan: arithmetic diff in Al-shifted units
                diff, contexts[ci] = ja.decode_dc_diff(
                    dec, dc_stats[td], contexts[ci]
                )
                if differential:
                    coef[ci][by, bx, 0, 0] = diff << al  # PRED = 0
                else:
                    preds[ci] += diff
                    coef[ci][by, bx, 0, 0] = preds[ci] << al
            else:  # DC refinement: one fixed-bin decision per block (G.2)
                if dec.decode(fixed, 0):
                    coef[ci][by, bx, 0, 0] |= 1 << al

        if ncomp_scan > 1:
            unit = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and unit and unit % restart_interval == 0:
                        dec.restart()
                        reset_segment()
                    for ci, td, _ta in scan_comps:
                        _cid, hs, vs, _tq = comps[ci]
                        for v in range(vs):
                            for h2 in range(hs):
                                dc_unit(ci, td, my * vs + v, mx * hs + h2)
                    unit += 1
        else:
            ci, td, _ta = scan_comps[0]
            bh_c, bw_c = dims[ci]
            unit = 0
            for by in range(bh_c):
                for bx in range(bw_c):
                    if restart_interval and unit and unit % restart_interval == 0:
                        dec.restart()
                        reset_segment()
                    dc_unit(ci, td, by, bx)
                    unit += 1
    else:  # AC scan: exactly one component
        if ncomp_scan != 1:
            raise ValueError("JPEG progressive AC scan must be single-component")
        ci, _td, ta = scan_comps[0]
        st = ac_stats[ta]
        bh_c, bw_c = dims[ci]
        for blk in range(bh_c * bw_c):
            if restart_interval and blk and blk % restart_interval == 0:
                dec.restart()
                st.reset()
            by, bx = blk // bw_c, blk % bw_c
            block = coef[ci][by, bx]
            if ah == 0:
                ja.decode_ac_block(dec, st, block, _ZIGZAG, ss, se, al)
            else:
                ja.decode_ac_refine(dec, st, block, _ZIGZAG, ss, se, al)

    if dec.marker is not None:
        return dec.pos - 2
    p = dec.pos
    while p + 1 < len(b):
        if b[p] == 0xFF and b[p + 1] != 0x00:
            return p
        p += 1
    raise ValueError("JPEG progressive scan not followed by a marker")


def _upsample_to_frame(plane, hs, vs, hmax, vmax, width, height):
    """Nearest-sample upsampling of a cropped component plane to frame
    resolution: frame pixel (x, y) reads component sample
    (floor(x*hs/hmax), floor(y*vs/vmax)) — T.81 leaves the upsampling
    filter to the decoder. Full-resolution components return a VIEW and
    integer ratios use np.repeat (exact pixel replication, same result as
    the general gather but ~2x cheaper on the small fixtures the gate
    corpus decodes per Arrow batch); the arange gather runs only for
    genuinely fractional ratios (e.g. 3x1 luma against 2x1 chroma), where
    max index = floor((dim-1)*s/smax) <= ceil(dim*s/smax)-1 stays inside
    the cropped plane."""
    if hs == hmax and vs == vmax:
        return plane[:height, :width]
    if hmax % hs == 0 and vmax % vs == 0:
        p = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        return p[:height, :width]
    iy = (np.arange(height) * vs) // vmax
    ix = (np.arange(width) * hs) // hmax
    return plane[np.ix_(iy, ix)]


def _finish_planes(planes, frame):
    """Shared reconstruction tail for every decode path (baseline Huffman,
    progressive, arithmetic): crop each MCU-padded component plane to its
    true resolution (T.81 A.1.1), level-shift, upsample to frame
    resolution, BT.601 color-convert 3-component scans (chroma centered at
    half = 2^(P-1), the 12-bit generalization of 128), clip, and return
    the (width, height, mean/maxval) contract."""
    height, width, comps, prec = frame
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    half = float(1 << (prec - 1))
    out = []
    for (cid, hs, vs, tq), p in zip(comps, planes):
        cw = -(-width * hs // hmax)
        ch = -(-height * vs // vmax)
        p = p[:ch, :cw] + half
        out.append(_upsample_to_frame(p, hs, vs, hmax, vmax, width, height))
    return _color_and_contract(out, frame)


def _color_and_contract(out, frame):
    """Shared output tail over frame-resolution ABSOLUTE-sample planes:
    BT.601 color conversion for 3-component scans (chroma centered at
    half = 2^(P-1)), clip, and the (width, height, mean/maxval) contract."""
    height, width, comps, prec = frame
    half, vmaxval = float(1 << (prec - 1)), float((1 << prec) - 1)
    if len(out) == 3:
        y, cb, cr = out
        r = y + 1.402 * (cr - half)
        g = y - 0.344136 * (cb - half) - 0.714136 * (cr - half)
        bch = y + 1.772 * (cb - half)
        samples = np.stack([r, g, bch], axis=-1)
    else:
        samples = out[0]
    samples = np.clip(np.rint(samples), 0, vmaxval)
    _maybe_capture(samples)
    return width, height, float(samples.mean()) / vmaxval


def _exp_expand(ref, eh: int, ev: int):
    """T.81 J.1.1.2 reference-component expansion by 2, horizontally when
    ``eh`` and/or vertically when ``ev``: even outputs copy the input
    sample, odd outputs are the rounded mean floor((a+b+1)/2) of the two
    neighbors; the trailing odd output replicates the edge sample (its
    right/bottom neighbor does not exist, and floor((2a+1)/2) = a)."""
    out = ref
    if eh:
        nxt = np.concatenate([out[:, 1:], out[:, -1:]], axis=1)
        odd = (out + nxt + 1) // 2
        wide = np.empty((out.shape[0], out.shape[1] * 2), dtype=out.dtype)
        wide[:, 0::2] = out
        wide[:, 1::2] = odd
        out = wide
    if ev:
        nxt = np.concatenate([out[1:, :], out[-1:, :]], axis=0)
        odd = (out + nxt + 1) // 2
        tall = np.empty((out.shape[0] * 2, out.shape[1]), dtype=out.dtype)
        tall[0::2, :] = out
        tall[1::2, :] = odd
        out = tall
    return out


def _hier_merge(refs, frame, planes, differential, pending_exp, level_shift):
    """Fold one decoded hierarchical frame into the per-component reference
    store (T.81 J.1): non-differential frames REPLACE the reference with
    the rounded samples (+ level shift for DCT frames); differential
    frames ADD the rounded differences to the (EXP-expanded) reference,
    modulo 2^16."""
    height, width, comps, prec = frame
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    for (cid, hs, vs, tq), p in zip(comps, planes):
        cw = -(-width * hs // hmax)
        ch = -(-height * vs // vmax)
        vals = np.rint(np.asarray(p, dtype=np.float64)[:ch, :cw]).astype(np.int64)
        if not differential:
            if level_shift:
                # Non-differential DCT frame: the reference IS the frame's
                # decoded output, and T.81 output samples clamp to
                # [0, 2^P-1] (the single-frame path's _color_and_contract
                # clip) — IDCT ringing on a lossy base frame (e.g. a -2
                # pre-shift sample) must clamp to 0, not wrap to 65534 and
                # later clip to 255. Modulo-2^16 arithmetic (J.1) applies
                # only to lossless references and differential adds below.
                refs[cid] = np.clip(vals + level_shift, 0, (1 << prec) - 1)
            else:
                refs[cid] = vals % 65536
            continue
        if cid not in refs:
            raise ValueError(
                f"JPEG differential frame for undecoded component {cid}"
            )
        ref = refs[cid]
        eh, ev = pending_exp
        if eh or ev:
            ref = _exp_expand(ref, eh, ev)
        if ref.shape[0] < ch or ref.shape[1] < cw:
            raise ValueError(
                "JPEG differential frame larger than its (expanded) reference"
            )
        refs[cid] = (ref[:ch, :cw] + vals) % 65536  # J.1: modulo 2^16


def _finish_hier(refs, hier):
    """Assemble the hierarchical output at the DHP resolution: clip each
    final reference component to [0, 2^P-1] and run the shared
    upsample/color/contract tail."""
    height, width, comps, prec = hier
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    maxval = (1 << prec) - 1
    out = []
    for cid, hs, vs, tq in comps:
        if cid not in refs:
            raise ValueError(
                f"JPEG hierarchical sequence ended before component {cid} was coded"
            )
        cw = -(-width * hs // hmax)
        ch = -(-height * vs // vmax)
        p = refs[cid]
        if p.shape != (ch, cw):
            raise ValueError(
                "JPEG hierarchical final component resolution "
                f"{p.shape[1]}x{p.shape[0]} does not match the DHP frame "
                f"({cw}x{ch})"
            )
        out.append(
            _upsample_to_frame(
                np.clip(p, 0, maxval).astype(np.float64),
                hs, vs, hmax, vmax, width, height,
            )
        )
    return _color_and_contract(out, hier)


def _reconstruct_progressive_planes(frame, qt, coef):
    """Dequantize + IDCT the accumulated progressive coefficients into
    MCU-padded component planes (pre level shift)."""
    planes = []
    for (cid, hs, vs, tq), c in zip(frame[2], coef):
        if tq not in qt:
            raise ValueError(f"JPEG references missing quant table {tq}")
        bh, bw = c.shape[0], c.shape[1]
        plane = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        q = qt[tq]
        for by in range(bh):
            for bx in range(bw):
                block = _DCT_M.T @ (c[by, bx].astype(np.float64) * q) @ _DCT_M
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
        planes.append(plane)
    return planes


def _reconstruct_progressive(frame, qt, coef):
    """Dequantize + IDCT the accumulated progressive coefficients (EOI
    reached) — same math and subsampling tail as the baseline path."""
    return _finish_planes(_reconstruct_progressive_planes(frame, qt, coef), frame)


def _find_next_marker(b: bytes, pos: int) -> int:
    """Position of the next real marker at/after ``pos``: 0xFF followed by
    a code that is neither 0x00 (stuffed data byte) nor another fill 0xFF;
    RSTn markers are skipped (they belong to the entropy stream).

    LIMITATION (byte-stuffing-only): this scan assumes the entropy coder
    byte-stuffed every data 0xFF as 0xFF 0x00, which T.81 B.1.1.5
    guarantees for Huffman streams and which this module's own
    ArithEncoder also emits. A spec-valid EXTERNALLY-encoded arithmetic
    stream may instead carry 0xFF followed by 0x01..0x7F as entropy data
    (T.81 arithmetic bit-stuffing only forbids 0xFF 0x80..0xFF), and this
    scan would misread that as a scan-terminating marker — cutting a
    hierarchical arithmetic scan short. The arith *_planes callers rely on
    this function for scan-boundary detection and inherit the limitation;
    it is consistent with the decoder-wide ArithDecoder convention."""
    while pos + 1 < len(b):
        if b[pos] == 0xFF and b[pos + 1] not in (0x00, 0xFF):
            if 0xD0 <= b[pos + 1] <= 0xD7:
                pos += 2
                continue
            return pos
        pos += 1
    raise ValueError("JPEG entropy stream ended without a terminating marker")


def _decode_scan(b, pos, seg, frame, qt, huff_dc, huff_ac, restart_interval):
    planes, _end = _decode_scan_planes(
        b, pos, seg, frame, qt, huff_dc, huff_ac, restart_interval
    )
    return _finish_planes(planes, frame)


def _decode_scan_planes(
    b, pos, seg, frame, qt, huff_dc, huff_ac, restart_interval,
    differential=False,
):
    """Sequential-DCT scan body shared by the one-shot decode path and the
    hierarchical controller: returns (planes, end_pos) where planes are the
    MCU-padded per-component sample arrays BEFORE level shift (differential
    frames never get one — T.81 J.1) and end_pos is the byte offset of the
    marker that terminated the scan. ``differential=True`` decodes each DC
    value directly (F.1.1.5.1: the DC prediction is always zero in
    differential frames)."""
    height, width, comps, prec = frame
    ncomp_scan = seg[0]
    if ncomp_scan != len(comps):
        raise ValueError("JPEG non-interleaved multi-scan unsupported")
    if len(comps) not in (1, 3):
        raise ValueError(f"JPEG with {len(comps)} components unsupported")
    # sampling factors (T.81 A.1.1): the MCU is Hmax*8 x Vmax*8 pixels and
    # component i contributes hs*vs blocks per MCU. ANY factors in 1..4
    # decode — integer ratios (4:4:4, 4:2:2, 4:2:0, 4:1:1) AND fractional
    # ratios (e.g. 3x1 luma against 2x1 chroma = 3/2): upsampling is the
    # nearest-sample gather x -> floor(x*hs/hmax), which degenerates to
    # pixel replication exactly when the ratio is an integer (T.81 leaves
    # the upsampling filter to the decoder).
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    for _, hs, vs, _ in comps:
        if not (1 <= hs <= 4 and 1 <= vs <= 4):
            raise ValueError(f"JPEG sampling factor {hs}x{vs} out of range")
    # per-scan-component entropy table selectors, in scan order
    selectors = {}
    for i in range(ncomp_scan):
        cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
        selectors[cs] = (tdta >> 4, tdta & 0x0F)
    if width <= 0 or height <= 0:
        raise ValueError("JPEG frame has empty dimensions")
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.float64)
        for _, hs, vs, _ in comps
    ]
    for _, _, _, tq in comps:
        if tq not in qt:
            raise ValueError(f"JPEG references missing quant table {tq}")
    br = _BitReader(b, pos)
    preds = [0] * len(comps)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                br.restart()
                preds = [0] * len(comps)
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                if cid not in selectors:
                    raise ValueError(f"JPEG scan omits frame component {cid}")
                td, ta = selectors[cid]
                if td not in huff_dc or ta not in huff_ac:
                    raise ValueError("JPEG scan references missing Huffman table")
                for v in range(vs):
                    for h2 in range(hs):
                        coeffs = np.zeros((8, 8), dtype=np.float64)
                        s = huff_dc[td].decode(br)
                        diff = _extend(br.receive(s), s)
                        if differential:
                            coeffs[0, 0] = diff  # PRED = 0 (F.1.1.5.1)
                        else:
                            preds[ci] += diff
                            coeffs[0, 0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = huff_ac[ta].decode(br)
                            r, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if r == 15:  # ZRL: sixteen zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run past end of block")
                            coeffs[_ZIGZAG[k]] = _extend(br.receive(size), size)
                            k += 1
                        block = _DCT_M.T @ (coeffs * qt[tq]) @ _DCT_M
                        by, bx = my * vs + v, mx * hs + h2
                        planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
            mcu += 1
    if br.seen_marker is not None:
        end = br.pos - 2
    else:
        end = _find_next_marker(b, br.pos)
    return planes, end


def _parse_scan_header(seg, comps):
    """SOS scan-header fields shared by BOTH progressive scan decoders
    (Huffman and arithmetic): per-component entropy-table selectors, the
    spectral band [Ss, Se], the successive-approximation nibbles Ah/Al,
    and the resolved (component index, Td, Ta) list — with the
    unknown-component check, so malformed headers fail identically on
    either entropy path."""
    ncomp_scan = seg[0]
    selectors = {}
    for i in range(ncomp_scan):
        cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
        selectors[cs] = (tdta >> 4, tdta & 0x0F)
    ss, se = seg[1 + 2 * ncomp_scan], seg[2 + 2 * ncomp_scan]
    if not ss <= se <= 63:  # B.2.3: the band must sit inside 0..63 — a
        # corrupted Se would otherwise index past the zig-zag table
        raise ValueError(f"JPEG spectral band [{ss}, {se}] invalid")
    ahal = seg[3 + 2 * ncomp_scan]
    ah, al = ahal >> 4, ahal & 0x0F
    scan_comps = []  # (comp index, td, ta)
    for ci, (cid, _hs, _vs, _tq) in enumerate(comps):
        if cid in selectors:
            scan_comps.append((ci, *selectors[cid]))
    if len(scan_comps) != ncomp_scan:
        raise ValueError("JPEG progressive scan names unknown component")
    return ncomp_scan, ss, se, ah, al, scan_comps


def _decode_scan_lossless(b, pos, seg, frame, huff_dc, restart_interval):
    planes, pt, _end = _decode_scan_lossless_planes(
        b, pos, seg, frame, huff_dc, restart_interval
    )
    height, width, comps, prec = frame
    vmaxval = float((1 << prec) - 1)
    samples = np.stack([(p << pt).astype(np.float64) for p in planes])
    samples = np.clip(samples, 0, vmaxval)
    _maybe_capture(samples)
    return width, height, float(samples.mean()) / vmaxval


def _decode_scan_lossless_planes(
    b, pos, seg, frame, huff_dc, restart_interval, differential=False,
):
    """LOSSLESS (SOF3/SOF7) scan decode per T.81 Annex H: no DCT, no quant —
    each sample is a Huffman-coded difference (DC-table categories 0..16)
    from one of the seven spatial predictors selected by Ss, reconstructed
    modulo 65536, with the point transform Al=Pt shifting the coded domain
    down and the output back up. Prediction edges (H.1.2.1): the very
    first sample of the scan AND of each restart interval predicts
    2^(P-1-Pt); the rest of the interval's FIRST LINE uses the
    one-dimensional predictor (Ra, the left neighbor) regardless of Ss;
    the first sample of every other line predicts from ABOVE.
    Components decode interleaved in MCU order; only 1x1 sampling is
    supported (the overwhelmingly common lossless shape — T.81 allows
    subsampled lossless MCUs, refused rather than mis-decoded).

    Returns (planes, pt, end_pos) with planes in the CODED domain (before
    the point-transform shift back up). ``differential=True`` (SOF7 inside
    a hierarchical sequence) requires predictor selection 0 —
    the coded values are reference differences with NO spatial
    prediction (T.81 B.2.3 reserves Ss=0 for exactly this)."""
    height, width, comps, prec = frame
    ncomp_scan = seg[0]
    if ncomp_scan != len(comps):
        raise ValueError("JPEG non-interleaved multi-scan unsupported")
    for _, hs, vs, _ in comps:
        if hs != 1 or vs != 1:
            raise ValueError(
                "lossless JPEG with subsampled components unsupported"
            )
    selectors = {}
    for i in range(ncomp_scan):
        cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
        selectors[cs] = tdta >> 4  # DC table only; Ta must be 0 in lossless
    predictor = seg[1 + 2 * ncomp_scan]  # Ss = predictor selector
    pt = seg[3 + 2 * ncomp_scan] & 0x0F  # Al = point transform
    if differential:
        if predictor != 0:
            raise ValueError(
                "JPEG differential lossless scan must use predictor "
                f"selection 0, got {predictor}"
            )
    elif not 1 <= predictor <= 7:
        raise ValueError(f"JPEG lossless predictor {predictor} invalid")
    if width <= 0 or height <= 0:
        raise ValueError("JPEG frame has empty dimensions")
    tables = []
    for cid, _hs, _vs, _tq in comps:
        if cid not in selectors:
            raise ValueError(f"JPEG scan omits frame component {cid}")
        td = selectors[cid]
        if td not in huff_dc:
            raise ValueError("JPEG scan references missing Huffman table")
        tables.append(huff_dc[td])
    default_pred = 1 << (prec - 1 - pt)
    planes = [
        np.zeros((height, width), dtype=np.int64) for _ in comps
    ]
    br = _BitReader(b, pos)
    mcu = 0
    fresh = True  # first sample of the scan / of a restart interval
    first_line = 0  # row where the current restart interval began
    for y in range(height):
        for x in range(width):
            if restart_interval and mcu and mcu % restart_interval == 0:
                br.restart()
                fresh = True
                first_line = y
            for ci, table in enumerate(tables):
                p = planes[ci]
                if differential:
                    # hierarchical differential frame: values are coded
                    # reference differences, no spatial prediction
                    px = 0
                elif fresh:
                    # H.1.2.1: prediction initialized to 2^(P-1-Pt) at scan
                    # start and at the beginning of each restart interval
                    px = default_pred
                elif y == first_line:
                    # H.1.2.1: the one-dimensional predictor (Ra) is used
                    # for the FIRST LINE of the scan AND of every restart
                    # interval — not just the first sample (conforming
                    # encoders like the DNG/Cornell codec restart this
                    # way, so a first-sample-only reset mis-decodes them)
                    px = int(p[y, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])  # first column: from above
                else:
                    a = int(p[y, x - 1])
                    bb = int(p[y - 1, x])
                    c = int(p[y - 1, x - 1])
                    if predictor == 1:
                        px = a
                    elif predictor == 2:
                        px = bb
                    elif predictor == 3:
                        px = c
                    elif predictor == 4:
                        px = a + bb - c
                    elif predictor == 5:
                        px = a + ((bb - c) >> 1)
                    elif predictor == 6:
                        px = bb + ((a - c) >> 1)
                    else:
                        px = (a + bb) >> 1
                s = table.decode(br)
                if s == 16:  # H.1.2.2: category 16 codes diff 32768 directly
                    diff = 32768
                else:
                    diff = _extend(br.receive(s), s)
                p[y, x] = (px + diff) & 0xFFFF  # modulo 65536 (H.1.2.1)
            fresh = False
            mcu += 1
    if br.seen_marker is not None:
        end = br.pos - 2
    else:
        end = _find_next_marker(b, br.pos)
    return planes, pt, end


def _decode_scan_lossless_arith(b, pos, seg, frame, dac_dc, restart_interval):
    planes, pt, _end = _decode_scan_lossless_arith_planes(
        b, pos, seg, frame, dac_dc, restart_interval
    )
    height, width, comps, prec = frame
    vmaxval = float((1 << prec) - 1)
    samples = np.stack([(p << pt).astype(np.float64) for p in planes])
    samples = np.clip(samples, 0, vmaxval)
    _maybe_capture(samples)
    return width, height, float(samples.mean()) / vmaxval


def _decode_scan_lossless_arith_planes(
    b, pos, seg, frame, dac_dc, restart_interval, differential=False,
):
    """LOSSLESS ARITHMETIC (SOF11/SOF15) scan decode — the Annex H sample walk
    of _decode_scan_lossless (same seven predictors, edge rules, point
    transform, modulo-65536 reconstruction, restart-interval prediction
    reset) with the entropy layer swapped for the QM coder + the H.1.2.3
    lossless statistical model (functions/jpeg_arith.py): each difference
    conditions on the CLASSES of both neighboring differences Da (left)
    and Db (above), zero-classed at scan/line edges and across restart
    boundaries (a restart resets coder, statistics, predictions AND
    conditioning — the fixture encoder mirrors the identical rule, and
    the exact-roundtrip property pins the pair). The scan selector's Td
    is the DC conditioning-table id (Tc=0 DAC entries carry (L, U))."""
    from hive_server_spark.functions import jpeg_arith as ja

    height, width, comps, prec = frame
    ncomp_scan = seg[0]
    if ncomp_scan != len(comps):
        raise ValueError("JPEG non-interleaved multi-scan unsupported")
    for _, hs, vs, _ in comps:
        if hs != 1 or vs != 1:
            raise ValueError(
                "lossless JPEG with subsampled components unsupported"
            )
    selectors = {}
    for i in range(ncomp_scan):
        cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
        selectors[cs] = tdta >> 4  # Td = DC conditioning table id
    predictor = seg[1 + 2 * ncomp_scan]  # Ss = predictor selector
    pt = seg[3 + 2 * ncomp_scan] & 0x0F  # Al = point transform
    if differential:
        if predictor != 0:
            raise ValueError(
                "JPEG differential lossless scan must use predictor "
                f"selection 0, got {predictor}"
            )
    elif not 1 <= predictor <= 7:
        raise ValueError(f"JPEG lossless predictor {predictor} invalid")
    if width <= 0 or height <= 0:
        raise ValueError("JPEG frame has empty dimensions")
    tids = []
    for cid, _hs, _vs, _tq in comps:
        if cid not in selectors:
            raise ValueError(f"JPEG scan omits frame component {cid}")
        tids.append(selectors[cid])
    stats = {td: ja.LosslessStats(*dac_dc.get(td, (0, 1))) for td in tids}
    default_pred = 1 << (prec - 1 - pt)
    planes = [np.zeros((height, width), dtype=np.int64) for _ in comps]
    diffs = [np.zeros((height, width), dtype=np.int64) for _ in comps]
    dec = ja.ArithDecoder(b, pos)
    mcu = 0
    start_mcu = 0  # first sample index of the current restart interval
    fresh = True
    first_line = 0
    for y in range(height):
        for x in range(width):
            if restart_interval and mcu and mcu % restart_interval == 0:
                dec.restart()
                for st in stats.values():
                    st.reset()
                fresh = True
                first_line = y
                start_mcu = mcu
            for ci, td in enumerate(tids):
                p, d, st = planes[ci], diffs[ci], stats[td]
                if differential:
                    # hierarchical differential frame: no spatial
                    # prediction; the H.1.2.3 conditioning on neighboring
                    # DIFF classes below is unchanged (the coded values
                    # ARE the differences it classifies)
                    px = 0
                elif fresh:
                    px = default_pred
                elif y == first_line:
                    px = int(p[y, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])
                else:
                    a = int(p[y, x - 1])
                    bb = int(p[y - 1, x])
                    c = int(p[y - 1, x - 1])
                    if predictor == 1:
                        px = a
                    elif predictor == 2:
                        px = bb
                    elif predictor == 3:
                        px = c
                    elif predictor == 4:
                        px = a + bb - c
                    elif predictor == 5:
                        px = a + ((bb - c) >> 1)
                    elif predictor == 6:
                        px = bb + ((a - c) >> 1)
                    else:
                        px = (a + bb) >> 1
                cls_a = (
                    st.classify5(int(d[y, x - 1]))
                    if x > 0 and (y * width + x - 1) >= start_mcu
                    else 0
                )
                cls_b = (
                    st.classify5(int(d[y - 1, x]))
                    if y > 0 and ((y - 1) * width + x) >= start_mcu
                    else 0
                )
                diff = ja.decode_lossless_diff(dec, st, cls_a, cls_b)
                d[y, x] = diff
                p[y, x] = (px + diff) & 0xFFFF  # modulo 65536 (H.1.2.1)
            fresh = False
            mcu += 1
    return planes, pt, _find_next_marker(b, pos)


def _decode_scan_arith(b, pos, seg, frame, qt, dac_dc, dac_ac, restart_interval):
    planes, _end = _decode_scan_arith_planes(
        b, pos, seg, frame, qt, dac_dc, dac_ac, restart_interval
    )
    return _finish_planes(planes, frame)


def _decode_scan_arith_planes(
    b, pos, seg, frame, qt, dac_dc, dac_ac, restart_interval,
    differential=False,
):
    """Sequential arithmetic (SOF9/SOF13) scan decode — the same
    interleaved MCU walk as the Huffman path, with entropy decisions drawn
    from the T.81 QM coder + the F.1.4.4.1 DC/AC statistical models
    (functions/jpeg_arith.py). DAC conditioning defaults per F.1.4.4.1.4:
    DC (L, U) = (0, 1), AC Kx = 5. RSTn resets the coder, every
    statistics area, the DC predictions AND the DC contexts (E.2.4).
    ``differential=True`` (hierarchical SOF13) decodes each DC
    value directly — PRED is zero, while the conditioning context still
    tracks the previously decoded value exactly as F.1.4.4.1 conditions
    on the previous DIFF."""
    from hive_server_spark.functions import jpeg_arith as ja

    height, width, comps, prec = frame
    ncomp_scan = seg[0]
    if ncomp_scan != len(comps):
        raise ValueError("JPEG non-interleaved multi-scan unsupported")
    if len(comps) not in (1, 3):
        raise ValueError(f"JPEG with {len(comps)} components unsupported")
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    for _, hs, vs, _ in comps:
        if not (1 <= hs <= 4 and 1 <= vs <= 4):
            raise ValueError(f"JPEG sampling factor {hs}x{vs} out of range")
    selectors = {}
    for i in range(ncomp_scan):
        cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
        selectors[cs] = (tdta >> 4, tdta & 0x0F)
    if width <= 0 or height <= 0:
        raise ValueError("JPEG frame has empty dimensions")
    for _, _, _, tq in comps:
        if tq not in qt:
            raise ValueError(f"JPEG references missing quant table {tq}")
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.float64)
        for _, hs, vs, _ in comps
    ]
    # statistics areas are per CONDITIONING TABLE id (shared by
    # components selecting the same id, F.1.4.4.1.3)
    dc_stats = {
        td: ja.DCStats(*dac_dc.get(td, (0, 1)))
        for td, _ in selectors.values()
    }
    ac_stats = {ta: ja.ACStats(dac_ac.get(ta, 5)) for _, ta in selectors.values()}

    dec = ja.ArithDecoder(b, pos)
    preds = [0] * len(comps)
    contexts = [0] * len(comps)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                dec.restart()
                for st in dc_stats.values():
                    st.reset()
                for st in ac_stats.values():
                    st.reset()
                preds = [0] * len(comps)
                contexts = [0] * len(comps)
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                if cid not in selectors:
                    raise ValueError(f"JPEG scan omits frame component {cid}")
                td, ta = selectors[cid]
                for v in range(vs):
                    for h2 in range(hs):
                        coeffs = np.zeros((8, 8), dtype=np.float64)
                        diff, contexts[ci] = ja.decode_dc_diff(
                            dec, dc_stats[td], contexts[ci]
                        )
                        if differential:
                            coeffs[0, 0] = diff  # PRED = 0 (F.1.1.5.1)
                        else:
                            preds[ci] += diff
                            coeffs[0, 0] = preds[ci]
                        ja.decode_ac_block(dec, ac_stats[ta], coeffs, _ZIGZAG)
                        block = _DCT_M.T @ (coeffs * qt[tq]) @ _DCT_M
                        by, bx = my * vs + v, mx * hs + h2
                        planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
            mcu += 1
    return planes, _find_next_marker(b, pos)


# ---------------------------------------------------------------------------
# fixture encoder: grayscale, constant 8×8 blocks, DC quantizer 8 → the
# quantized DC is the exact integer (v−128) and decode is lossless.
# ---------------------------------------------------------------------------

# minimal canonical tables the encoder declares in DHT:
# DC: all 12 categories at code length 4 (codes 0000..1011; 1111 unused,
# so no all-ones code). AC: single EOB symbol at length 2 (code 00).
_ENC_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_SYMBOLS = bytes(range(12))
_ENC_AC_COUNTS = [0, 1] + [0] * 14
_ENC_AC_SYMBOLS = bytes([0x00])

_ENC_QUANT_ZIGZAG = bytes([8] + [16] * 63)  # index 0 of zig-zag IS the DC term


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.out)


def _encode_dc_block(bw_: _BitWriter, v: int, pred: int) -> int:
    """Emit one DC-only block (constant value v) and return the new DC
    predictor. Canonical length-4 DC code for category s IS s; EOB is 00."""
    if not 0 <= int(v) <= 255:
        raise ValueError(f"block value {v} outside 0..255")
    dc = int(v) - 128  # quantized DC: 8·(v−128) / qDC=8, exact
    diff = dc - pred
    s = abs(diff).bit_length()
    if s > 11:
        raise ValueError("DC difference category out of range")
    bw_.write(s, 4)
    if s:
        bw_.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    bw_.write(0b00, 2)  # EOB
    return dc


def _encode_baseline(
    planes, mcus_w: int, mcus_h: int, restart_interval: int, sampling=None
) -> bytes:
    """Shared DC-only baseline writer. ``planes`` is a list of 1 (gray) or
    3 (YCbCr) per-component block-value lists; ``sampling`` gives each
    component's (hs, vs) factors (default all 1x1, where an MCU is one
    block per component and mcus_w/mcus_h IS the block grid). Component
    i's block grid is (mcus_w*hs) x (mcus_h*vs), its value list row-major
    over that grid. Blocks are interleaved in MCU order per T.81 A.2.3."""
    ncomp = len(planes)
    if sampling is None:
        sampling = [(1, 1)] * ncomp
    for p, (hs, vs) in zip(planes, sampling):
        if len(p) != mcus_w * hs * mcus_h * vs:
            raise ValueError("block value count != component block grid")
    hmax = max(hs for hs, _ in sampling)
    vmax = max(vs for _, vs in sampling)
    w, h = 8 * mcus_w * hmax, 8 * mcus_h * vmax
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + _ENC_QUANT_ZIGZAG
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        hs, vs = sampling[ci]
        out += bytes([ci + 1, (hs << 4) | vs, 0])  # shared quant table 0
    dht = bytes([0x00]) + bytes(_ENC_DC_COUNTS) + _ENC_DC_SYMBOLS
    dht += bytes([0x10]) + bytes(_ENC_AC_COUNTS) + _ENC_AC_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x00])
    out += bytes([0, 63, 0])
    bw_ = _BitWriter()
    preds = [0] * ncomp
    mcu = 0
    for my in range(mcus_h):
        for mx in range(mcus_w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                out += bw_.flush()
                out += bytes([0xFF, 0xD0 + ((mcu // restart_interval) - 1) % 8])
                bw_ = _BitWriter()
                preds = [0] * ncomp
            for ci in range(ncomp):
                hs, vs = sampling[ci]
                for v in range(vs):
                    for h2 in range(hs):
                        k = (my * vs + v) * (mcus_w * hs) + (mx * hs + h2)
                        preds[ci] = _encode_dc_block(bw_, planes[ci][k], preds[ci])
            mcu += 1
    out += bw_.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_gray_blocks(
    block_values, blocks_w: int, blocks_h: int, restart_interval: int = 0
) -> bytes:
    """Spec-valid grayscale baseline JPEG of size (8·blocks_w, 8·blocks_h)
    where block k (row-major) is the constant ``block_values[k]`` (0..255).
    Constant blocks have exactly one nonzero DCT coefficient, so with the
    DC quantizer of 8 the encoding is DC-only and decode-exact. A nonzero
    ``restart_interval`` emits DRI + RSTn markers every that many MCUs."""
    return _encode_baseline([list(block_values)], blocks_w, blocks_h, restart_interval)


def encode_jpeg_ycbcr_blocks(
    y_values, cb_values, cr_values, blocks_w: int, blocks_h: int,
    restart_interval: int = 0,
) -> bytes:
    """3-component 4:4:4 baseline JPEG with constant per-block Y/Cb/Cr.
    With Cb=Cr=128 the decoded RGB equals (Y, Y, Y) exactly, so the color
    path stays decode-exact for oracle-checkable fixtures."""
    return _encode_baseline(
        [list(y_values), list(cb_values), list(cr_values)],
        blocks_w, blocks_h, restart_interval,
    )


def encode_jpeg_ycbcr_420_blocks(
    y_values, cb_values, cr_values, chroma_bw: int, chroma_bh: int,
    restart_interval: int = 0,
) -> bytes:
    """3-component 4:2:0 baseline JPEG (luma 2x2, chroma 1x1): each MCU is
    16x16 pixels carrying four Y blocks plus one Cb and one Cr block, the
    common consumer-camera/web shape. ``y_values`` is row-major over the
    (2*chroma_bw) x (2*chroma_bh) luma block grid; cb/cr over the chroma
    grid. Constant blocks keep the DC-only decode-exact property, and with
    Cb=Cr=128 the decoded RGB equals the replicated luma exactly."""
    return _encode_baseline(
        [list(y_values), list(cb_values), list(cr_values)],
        chroma_bw, chroma_bh, restart_interval,
        sampling=[(2, 2), (1, 1), (1, 1)],
    )


# 12-bit fixture tables (SEPARATE from the 8-bit ones so existing fixture
# streams are byte-stable): DC categories 0..12 at code length 4 — a
# 12-bit DC sits in [-2048, 2047] and consecutive-block diffs reach
# category 12; canonical codes 0000..1100, so code(s) == s still holds.
_ENC12_DC_COUNTS = [0, 0, 0, 13] + [0] * 12
_ENC12_DC_SYMBOLS = bytes(range(13))
# DC quantizer 8 as a 16-bit (Pq=1) table entry stream
_ENC12_QUANT_ZIGZAG = struct.pack(">64H", 8, *([16] * 63))


def encode_jpeg_12bit_gray_blocks(
    block_values, blocks_w: int, blocks_h: int
) -> bytes:
    """Spec-valid 12-bit EXTENDED SEQUENTIAL (SOF1) grayscale fixture:
    constant 8x8 blocks of values 0..4095. Same exactness argument as the
    8-bit fixtures — DC = 8*(v - 2048), quantizer 8 (declared via a
    16-bit Pq=1 DQT), so the quantized DC is exactly v - 2048 and decode
    reconstructs every sample; the mean contract normalizes by 4095."""
    vals = [int(v) for v in block_values]
    if len(vals) != blocks_w * blocks_h:
        raise ValueError("block value count != blocks_w * blocks_h")
    for v in vals:
        if not 0 <= v <= 4095:
            raise ValueError(f"block value {v} outside 0..4095")
    w, h = 8 * blocks_w, 8 * blocks_h
    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128)
        + b"\x10" + _ENC12_QUANT_ZIGZAG  # Pq=1, Tq=0
    )
    out += b"\xff\xc1" + struct.pack(">HBHHB", 8 + 3, 12, h, w, 1)  # SOF1
    out += bytes([1, 0x11, 0])
    dht = bytes([0x00]) + bytes(_ENC12_DC_COUNTS) + _ENC12_DC_SYMBOLS
    dht += bytes([0x10]) + bytes(_ENC_AC_COUNTS) + _ENC_AC_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    bw_ = _BitWriter()
    pred = 0
    for v in vals:
        dc = v - 2048  # quantized DC: 8*(v-2048) / qDC=8, exact
        diff = dc - pred
        pred = dc
        s = abs(diff).bit_length()
        bw_.write(s, 4)
        if s:
            bw_.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        bw_.write(0b00, 2)  # EOB
    out += bw_.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _hier_seq_frame_bytes(
    sof_marker: int, vals, blocks_w: int, blocks_h: int,
    restart_interval: int, differential: bool,
) -> bytes:
    """One single-component sequential-DCT frame (SOF header + SOS +
    DC-only entropy data) for the hierarchical fixture encoder. In a
    differential frame each value IS the quantized DC coefficient (signed;
    PRED is zero per F.1.1.5.1); in a non-differential frame values are
    pixel levels 0..255 with the usual DC prediction chain."""
    if len(vals) != blocks_w * blocks_h:
        raise ValueError("block value count != block grid")
    out = bytearray()
    out += bytes([0xFF, sof_marker])
    out += struct.pack(">HBHHB", 11, 8, 8 * blocks_h, 8 * blocks_w, 1)
    out += bytes([1, 0x11, 0])
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    w = _BitWriter()
    pred = 0
    for mcu, v in enumerate(vals):
        if restart_interval and mcu and mcu % restart_interval == 0:
            out += w.flush()
            out += bytes([0xFF, 0xD0 + ((mcu // restart_interval) - 1) % 8])
            w = _BitWriter()
            pred = 0
        if differential:
            _write_dc_diff(w, int(v))
            w.write(0b00, 2)  # EOB
        else:
            pred = _encode_dc_block(w, v, pred)
    out += w.flush()
    return bytes(out)


def encode_jpeg_hierarchical_gray(
    base_values, blocks_w: int, blocks_h: int, stages, restart_interval: int = 0
) -> bytes:
    """Spec-valid HIERARCHICAL grayscale JPEG (T.81 Annex J): DHP header at
    the final resolution, a non-differential SOF0 base frame of constant
    ``blocks_w``x``blocks_h`` blocks, then per stage an optional EXP
    doubling followed by an SOF5 differential frame whose constant blocks
    ADD the stage's diff values. ``stages`` is a list of
    (eh, ev, diff_values): eh/ev in {0, 1} double the width/height, and
    diff_values is row-major over the stage's NEW block grid with each
    entry the exact signed per-pixel difference (DC-only blocks with the
    DC quantizer of 8 make every frame decode-exact, so the whole
    hierarchical reconstruction is closed-form)."""
    fw, fh = blocks_w, blocks_h
    for eh, ev, _ in stages:
        fw *= 2 if eh else 1
        fh *= 2 if ev else 1
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + _ENC_QUANT_ZIGZAG
    # DHP: frame-header syntax at the FINAL resolution (B.3.2)
    out += b"\xff\xde" + struct.pack(">HBHHB", 11, 8, 8 * fh, 8 * fw, 1)
    out += bytes([1, 0x11, 0])
    dht = bytes([0x00]) + bytes(_ENC_DC_COUNTS) + _ENC_DC_SYMBOLS
    dht += bytes([0x10]) + bytes(_ENC_AC_COUNTS) + _ENC_AC_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += _hier_seq_frame_bytes(
        0xC0, base_values, blocks_w, blocks_h, restart_interval, False
    )
    gw, gh = blocks_w, blocks_h
    for eh, ev, diffs in stages:
        if eh or ev:
            out += b"\xff\xdf" + struct.pack(">HB", 3, (eh << 4) | ev)
            gw *= 2 if eh else 1
            gh *= 2 if ev else 1
        out += _hier_seq_frame_bytes(0xC5, diffs, gw, gh, restart_interval, True)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _ll_hier_frame_bytes(
    marker: int, plane, precision: int, predictor: int,
    restart_interval: int, differential: bool,
) -> bytes:
    """One single-component LOSSLESS frame (SOF3 non-differential with the
    given predictor, or SOF7 differential with predictor selection 0) for
    the hierarchical fixture encoder. Point transform fixed at 0: the
    hierarchical reference merge is exercised at full precision."""
    plane = np.asarray(plane, dtype=np.int64)
    h, w = plane.shape
    out = bytearray()
    out += bytes([0xFF, marker]) + struct.pack(">HBHHB", 11, precision, h, w, 1)
    out += bytes([1, 0x11, 0])
    out += b"\xff\xda" + struct.pack(">HB", 8, 1)
    out += bytes([1, 0x00, 0 if differential else predictor, 0, 0])
    default_pred = 1 << (precision - 1)
    bw_ = _BitWriter()
    mcu = 0
    fresh = True
    first_line = 0
    for y in range(h):
        for x in range(w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                out += bw_.flush()
                out += bytes([0xFF, 0xD0 + ((mcu // restart_interval) - 1) % 8])
                bw_ = _BitWriter()
                fresh = True
                first_line = y
            if differential:
                px = 0
            elif fresh:
                px = default_pred
            elif y == first_line:
                px = int(plane[y, x - 1])
            elif x == 0:
                px = int(plane[y - 1, 0])
            else:
                a = int(plane[y, x - 1])
                bb = int(plane[y - 1, x])
                c = int(plane[y - 1, x - 1])
                if predictor == 1:
                    px = a
                elif predictor == 2:
                    px = bb
                elif predictor == 3:
                    px = c
                elif predictor == 4:
                    px = a + bb - c
                elif predictor == 5:
                    px = a + ((bb - c) >> 1)
                elif predictor == 6:
                    px = bb + ((a - c) >> 1)
                else:
                    px = (a + bb) >> 1
            diff = ((int(plane[y, x]) - px + 0x8000) & 0xFFFF) - 0x8000
            if diff == -0x8000:  # category 16: coded with no extra bits
                bw_.write(16, 5)
            else:
                s = abs(diff).bit_length()
                bw_.write(s, 5)
                if s:
                    bw_.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
            fresh = False
            mcu += 1
    out += bw_.flush()
    return bytes(out)


def encode_jpeg_hierarchical_lossless(
    base_plane, stages, predictor: int = 4, precision: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """Spec-valid HIERARCHICAL LOSSLESS grayscale JPEG (T.81 Annex J over
    Annex H): DHP at the final resolution, an SOF3 base frame (any
    predictor 1..7), then per stage an optional EXP doubling followed by
    an SOF7 differential frame with predictor selection 0 whose PER-SAMPLE
    signed diffs add to the expanded reference modulo 2^16 — lossless
    frames need no DCT, so arbitrary (non-block-constant) differentials
    stay exact. ``stages`` is a list of (eh, ev, diff_plane)."""
    base_plane = np.asarray(base_plane, dtype=np.int64)
    fh, fw = base_plane.shape
    for eh, ev, _ in stages:
        fw *= 2 if eh else 1
        fh *= 2 if ev else 1
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xde" + struct.pack(">HBHHB", 11, precision, fh, fw, 1)
    out += bytes([1, 0x11, 0])
    dht = bytes([0x00]) + bytes(_ENC_LL_COUNTS) + _ENC_LL_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += _ll_hier_frame_bytes(
        0xC3, base_plane, precision, predictor, restart_interval, False
    )
    for eh, ev, diffs in stages:
        if eh or ev:
            out += b"\xff\xdf" + struct.pack(">HB", 3, (eh << 4) | ev)
        out += _ll_hier_frame_bytes(
            0xC7, np.asarray(diffs, dtype=np.int64), precision, predictor,
            restart_interval, True,
        )
    out += b"\xff\xd9"
    return bytes(out)


def _hier_prog_frame_bytes(differential: bool, vals, bw: int, bh: int) -> bytes:
    """One single-component PROGRESSIVE frame (SOF2 / differential SOF6)
    for the hierarchical fixture encoder: DC-first scan at Al=1, DC
    refinement scan, one all-EOB AC scan — the encode_jpeg_progressive_blocks
    scan plan, with PRED pinned to zero in the differential variant."""
    marker = 0xC6 if differential else 0xC2
    out = bytearray()
    out += bytes([0xFF, marker]) + struct.pack(">HBHHB", 11, 8, 8 * bh, 8 * bw, 1)
    out += bytes([1, 0x11, 0])
    out += _sos_segment([1], 0, 0, 0, 1)
    bw_ = _BitWriter()
    pred = 0
    for v in vals:
        d = int(v) if differential else int(v) - 128
        sh = d >> 1  # arithmetic shift
        if differential:
            _write_dc_diff(bw_, sh)
        else:
            _write_dc_diff(bw_, sh - pred)
            pred = sh
    out += bw_.flush()
    out += _sos_segment([1], 0, 0, 1, 0)
    bw_ = _BitWriter()
    for v in vals:
        d = int(v) if differential else int(v) - 128
        bw_.write(d & 1, 1)
    out += bw_.flush()
    out += _sos_segment([1], 1, 63, 0, 0)
    bw_ = _BitWriter()
    for _ in vals:
        bw_.write(0b00, 2)  # EOB0
    out += bw_.flush()
    return bytes(out)


def _hier_arith_frame_bytes(
    differential: bool, vals, bw: int, bh: int, restart_interval: int
) -> bytes:
    """One single-component sequential ARITHMETIC frame (SOF9 /
    differential SOF13) for the hierarchical fixture encoder."""
    from hive_server_spark.functions import jpeg_arith as ja

    marker = 0xCD if differential else 0xC9
    out = bytearray()
    out += bytes([0xFF, marker]) + struct.pack(">HBHHB", 11, 8, 8 * bh, 8 * bw, 1)
    out += bytes([1, 0x11, 0])
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    enc = ja.ArithEncoder()
    dc_st, ac_st = ja.DCStats(), ja.ACStats()
    pred = context = 0
    zero_ac = [0] * 64
    for mcu, v in enumerate(vals):
        if restart_interval and mcu and mcu % restart_interval == 0:
            out += enc.flush()
            out += bytes([0xFF, 0xD0 + ((mcu // restart_interval) - 1) % 8])
            enc = ja.ArithEncoder()
            dc_st.reset()
            ac_st.reset()
            pred = context = 0
        d = int(v) if differential else int(v) - 128
        if differential:
            context = ja.encode_dc_diff(enc, dc_st, context, d)  # PRED = 0
        else:
            context = ja.encode_dc_diff(enc, dc_st, context, d - pred)
            pred = d
        ja.encode_ac_block(enc, ac_st, zero_ac)
    out += enc.flush()
    return bytes(out)


def _hier_arith_prog_frame_bytes(
    differential: bool, vals, bw: int, bh: int
) -> bytes:
    """One single-component progressive ARITHMETIC frame (SOF10 /
    differential SOF14): the 3-scan plan of _hier_prog_frame_bytes with
    the QM coder drawing every decision."""
    from hive_server_spark.functions import jpeg_arith as ja

    marker = 0xCE if differential else 0xCA
    out = bytearray()
    out += bytes([0xFF, marker]) + struct.pack(">HBHHB", 11, 8, 8 * bh, 8 * bw, 1)
    out += bytes([1, 0x11, 0])
    out += _sos_segment([1], 0, 0, 0, 1)
    enc = ja.ArithEncoder()
    dc_st = ja.DCStats()
    pred = context = 0
    for v in vals:
        d = int(v) if differential else int(v) - 128
        sh = d >> 1
        if differential:
            context = ja.encode_dc_diff(enc, dc_st, context, sh)
        else:
            context = ja.encode_dc_diff(enc, dc_st, context, sh - pred)
            pred = sh
    out += enc.flush()
    out += _sos_segment([1], 0, 0, 1, 0)
    enc = ja.ArithEncoder()
    fixed = bytearray([ja.FIXED_BIN_STATE])
    for v in vals:
        d = int(v) if differential else int(v) - 128
        enc.encode(d & 1, fixed, 0)
    out += enc.flush()
    out += _sos_segment([1], 1, 63, 0, 0)
    enc = ja.ArithEncoder()
    ac_st = ja.ACStats()
    zero_ac = [0] * 64
    for _ in vals:
        ja.encode_ac_block(enc, ac_st, zero_ac)
    out += enc.flush()
    return bytes(out)


def encode_jpeg_hierarchical_gray_process(
    base_values, blocks_w: int, blocks_h: int, stages, process: str = "seq",
    restart_interval: int = 0,
) -> bytes:
    """Hierarchical grayscale pyramid where EVERY frame uses the chosen
    DCT process — 'seq' (SOF0 + differential SOF5, Huffman), 'prog'
    (SOF2 + SOF6, Huffman progressive), 'arith' (SOF9 + SOF13), or
    'arith-prog' (SOF10 + SOF14). Same (eh, ev, diff_values) stage
    contract as encode_jpeg_hierarchical_gray; restart_interval applies
    to the sequential processes only."""
    fw, fh = blocks_w, blocks_h
    for eh, ev, _ in stages:
        fw *= 2 if eh else 1
        fh *= 2 if ev else 1
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + _ENC_QUANT_ZIGZAG
    out += b"\xff\xde" + struct.pack(">HBHHB", 11, 8, 8 * fh, 8 * fw, 1)
    out += bytes([1, 0x11, 0])
    if process in ("seq", "prog"):
        dht = bytes([0x00]) + bytes(_ENC_DC_COUNTS) + _ENC_DC_SYMBOLS
        dht += bytes([0x10]) + bytes(_ENC_AC_COUNTS) + _ENC_AC_SYMBOLS
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    else:  # arithmetic: default DAC conditioning, exercising the parse
        out += b"\xff\xcc" + struct.pack(">H", 6) + bytes([0x00, 0x10, 0x10, 5])
    if restart_interval and process in ("seq", "arith"):
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    def frame(differential, vals, gw, gh):
        if process == "seq":
            marker = 0xC5 if differential else 0xC0
            return _hier_seq_frame_bytes(
                marker, vals, gw, gh, restart_interval, differential
            )
        if process == "prog":
            return _hier_prog_frame_bytes(differential, vals, gw, gh)
        if process == "arith":
            return _hier_arith_frame_bytes(
                differential, vals, gw, gh, restart_interval
            )
        if process == "arith-prog":
            return _hier_arith_prog_frame_bytes(differential, vals, gw, gh)
        raise ValueError(f"unknown hierarchical process {process!r}")

    out += frame(False, base_values, blocks_w, blocks_h)
    gw, gh = blocks_w, blocks_h
    for eh, ev, diffs in stages:
        if eh or ev:
            out += b"\xff\xdf" + struct.pack(">HB", 3, (eh << 4) | ev)
            gw *= 2 if eh else 1
            gh *= 2 if ev else 1
        out += frame(True, diffs, gw, gh)
    out += b"\xff\xd9"
    return bytes(out)


def _write_dc_diff(bw_: _BitWriter, diff: int) -> None:
    """Category + magnitude bits for one DC difference (canonical length-4
    DC code for category s IS s — the shared fixture table)."""
    s = abs(diff).bit_length()
    if s > 11:
        raise ValueError("DC difference category out of range")
    bw_.write(s, 4)
    if s:
        bw_.write(diff if diff >= 0 else diff + (1 << s) - 1, s)


def _progressive_fixture_layout(planes, blocks_w, blocks_h, sampling, width, height):
    """Shared prologue of the progressive fixture encoders (Huffman SOF2 and
    arithmetic SOF10, in ``tests/jpeg_arith_encoders.py``): per-component
    MCU-padded block grids, value validation, and the frame-dimension
    override bound — one copy, so the two entropy variants can never
    disagree on layout rules (the cross-coder equality tests depend on
    that)."""
    ncomp = len(planes)
    if sampling is None:
        sampling = [(1, 1)] * ncomp
    planes = [list(p) for p in planes]
    hmax = max(hs for hs, _ in sampling)
    vmax = max(vs for _, vs in sampling)
    grids = []  # per component: MCU-padded (gw, gh) block grid
    for p, (hs, vs) in zip(planes, sampling):
        gw, gh = blocks_w * hs, blocks_h * vs
        grids.append((gw, gh))
        if len(p) != gw * gh:
            raise ValueError("block value count != component block grid")
        for v in p:
            if not 0 <= int(v) <= 255:
                raise ValueError(f"block value {v} outside 0..255")
    w = width if width is not None else 8 * blocks_w * hmax
    h = height if height is not None else 8 * blocks_h * vmax
    if not (0 < w <= 8 * blocks_w * hmax and 0 < h <= 8 * blocks_h * vmax):
        raise ValueError("frame dims exceed the MCU grid")
    return ncomp, sampling, planes, grids, hmax, vmax, w, h


def _mcu_dc_order(sampling, grids, blocks_w, blocks_h):
    """(component index, grid index) pairs in T.81 interleaved MCU order —
    the walk both progressive DC scans (and their decoders) share."""
    for my in range(blocks_h):
        for mx in range(blocks_w):
            for ci, (hs, vs) in enumerate(sampling):
                gw, _gh = grids[ci]
                for v in range(vs):
                    for h2 in range(hs):
                        yield ci, (my * vs + v) * gw + (mx * hs + h2)


def encode_jpeg_progressive_blocks(
    planes, blocks_w: int, blocks_h: int, sampling=None,
    width: int | None = None, height: int | None = None,
) -> bytes:
    """Spec-valid PROGRESSIVE (SOF2) fixture: 1 (gray) or 3 (YCbCr)
    components of constant DC-only 8x8 blocks, coded in four-plus scans
    that exercise the real progressive machinery:

      1. interleaved DC first scan with successive approximation Al=1
         (diff coding of (v-128) >> 1, arithmetic shift);
      2. interleaved DC refinement scan (Ah=1, Al=0: one raw bit per
         block — the low bit of v-128);
      3. one EOB-coded AC scan per component (Ss=1..Se=63, all zeros).

    d = ((d >> 1) << 1) | (d & 1) holds for every signed integer, so the
    reconstruction is EXACT: decode returns precisely the block constants,
    keeping the closed-form pixel-sum oracle of the baseline fixtures.

    `sampling` gives each component's (hs, vs) factors —
    blocks_w/blocks_h are then MCU-grid dims and plane ci is row-major
    over its (blocks_w*hs) x (blocks_h*vs) MCU-padded block grid; the DC
    scans interleave per T.81 MCU order while each AC scan walks the
    component's TRUE (unpadded) block grid, exactly the asymmetry a real
    subsampled progressive stream has. `width`/`height` override the
    frame dims (≤ the MCU-grid pixel size) so partial-MCU frames — where
    the interleaved DC grid has padding blocks the AC scans must NOT
    visit — are constructible."""
    ncomp, sampling, planes, grids, hmax, vmax, w, h = (
        _progressive_fixture_layout(planes, blocks_w, blocks_h, sampling,
                                    width, height)
    )
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + _ENC_QUANT_ZIGZAG
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        hs, vs = sampling[ci]
        out += bytes([ci + 1, (hs << 4) | vs, 0])
    dht = bytes([0x00]) + bytes(_ENC_DC_COUNTS) + _ENC_DC_SYMBOLS
    dht += bytes([0x10]) + bytes(_ENC_AC_COUNTS) + _ENC_AC_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht

    sos = _sos_segment  # identical SOS spelling for both entropy variants

    def dc_block_order():
        return _mcu_dc_order(sampling, grids, blocks_w, blocks_h)

    # scan 1: DC first, all components interleaved, Al=1
    out += sos(list(range(1, ncomp + 1)), 0, 0, 0, 1)
    bw_ = _BitWriter()
    preds = [0] * ncomp
    for ci, k in dc_block_order():
        shifted = (int(planes[ci][k]) - 128) >> 1  # arithmetic shift
        _write_dc_diff(bw_, shifted - preds[ci])
        preds[ci] = shifted
    out += bw_.flush()
    # scan 2: DC refinement, Ah=1 -> Al=0: low bit of each block's DC
    out += sos(list(range(1, ncomp + 1)), 0, 0, 1, 0)
    bw_ = _BitWriter()
    for ci, k in dc_block_order():
        bw_.write((int(planes[ci][k]) - 128) & 1, 1)
    out += bw_.flush()
    # per-component AC scans over the TRUE (unpadded) block grid: every
    # block all-zero AC -> one EOB0 each
    for ci in range(ncomp):
        hs, vs = sampling[ci]
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        n_true = ((cw + 7) // 8) * ((ch + 7) // 8)
        out += sos([ci + 1], 1, 63, 0, 0)
        bw_ = _BitWriter()
        for _ in range(n_true):
            bw_.write(0b00, 2)  # EOB0
        out += bw_.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _sos_segment(comp_ids, ss: int, se: int, ah: int, al: int) -> bytes:
    body = bytearray([len(comp_ids)])
    for cid in comp_ids:
        body += bytes([cid, 0x00])
    body += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + bytes(body)


# ---------------------------------------------------------------------------
# lossless (SOF3) fixture encoder — arbitrary sample grids, EXACT
# reconstruction by construction (no quantization anywhere in the mode),
# so tests can drive random images through every predictor and precision.
# ---------------------------------------------------------------------------

# lossless DC-difference categories 0..16, all at code length 5
# (canonical codes 0..16 of 5 bits; 0b11111 unused so no all-ones code)
_ENC_LL_COUNTS = [0, 0, 0, 0, 17] + [0] * 11
_ENC_LL_SYMBOLS = bytes(range(17))


def encode_jpeg_lossless(
    planes, predictor: int = 4, precision: int = 8, pt: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """Spec-valid LOSSLESS (SOF3) JPEG from 1 or 3 full-resolution sample
    grids (list of (h, w) integer arrays in [0, 2^P - 1]): per-sample
    Huffman-coded prediction differences, any predictor 1..7, precision
    2..16, optional point transform Pt (coding v >> pt) and restart
    interval (entropy resync + default first prediction). Mirrors
    _decode_scan_lossless exactly — decode is bit-exact for pt=0."""
    planes = [np.asarray(p, dtype=np.int64) for p in planes]
    if len(planes) not in (1, 3):
        raise ValueError("lossless fixture supports 1 or 3 components")
    h, w = planes[0].shape
    if any(p.shape != (h, w) for p in planes):
        raise ValueError("all components must share the frame dims (1x1)")
    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor {predictor} invalid")
    if not 2 <= precision <= 16:
        raise ValueError(f"precision {precision} invalid for lossless")
    vmax = (1 << precision) - 1
    for p in planes:
        if p.min() < 0 or p.max() > vmax:
            raise ValueError("sample outside precision range")
    ncomp = len(planes)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xc3" + struct.pack(
        ">HBHHB", 8 + 3 * ncomp, precision, h, w, ncomp
    )
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x11, 0])  # 1x1 sampling, no quant table
    dht = bytes([0x00]) + bytes(_ENC_LL_COUNTS) + _ENC_LL_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x00])
    out += bytes([predictor, 0, pt & 0x0F])

    shifted = [p >> pt for p in planes]
    default_pred = 1 << (precision - 1 - pt)
    bw_ = _BitWriter()
    mcu = 0
    fresh = True
    first_line = 0  # row where the current restart interval began (H.1.2.1)
    for y in range(h):
        for x in range(w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                out += bw_.flush()
                out += bytes([0xFF, 0xD0 + ((mcu // restart_interval) - 1) % 8])
                bw_ = _BitWriter()
                fresh = True
                first_line = y
            for p in shifted:
                if fresh:
                    px = default_pred
                elif y == first_line:
                    px = int(p[y, x - 1])  # interval's first line: Ra
                elif x == 0:
                    px = int(p[y - 1, 0])
                else:
                    a = int(p[y, x - 1])
                    bb = int(p[y - 1, x])
                    c = int(p[y - 1, x - 1])
                    if predictor == 1:
                        px = a
                    elif predictor == 2:
                        px = bb
                    elif predictor == 3:
                        px = c
                    elif predictor == 4:
                        px = a + bb - c
                    elif predictor == 5:
                        px = a + ((bb - c) >> 1)
                    elif predictor == 6:
                        px = bb + ((a - c) >> 1)
                    else:
                        px = (a + bb) >> 1
                # signed residue of (sample - prediction) mod 65536
                diff = ((int(p[y, x]) - px + 0x8000) & 0xFFFF) - 0x8000
                if diff == -0x8000:  # category 16: coded with no extra bits
                    bw_.write(16, 5)
                else:
                    s = abs(diff).bit_length()
                    bw_.write(s, 5)
                    if s:
                        bw_.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
            fresh = False
            mcu += 1
    out += bw_.flush()
    out += b"\xff\xd9"
    return bytes(out)


