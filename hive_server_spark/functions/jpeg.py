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

Shared decode machinery: one marker walk (SOI/APPn/COM/DQT/DHT/DAC/DRI/
SOS/RSTn/EOI with 0xFF fill-byte tolerance) and one scan walk per
process — ``_sequential_planes``, ``_progressive_scan`` and
``_lossless_planes``. Each walk owns its header and sampling checks, its
MCU/block/sample order, its restart count and its DC or sample
prediction, and draws every coded value from the scan's entropy decoder,
built once per scan from the SOF's coder. The entropy decoder is the only
part the two coders do not share: ``_HuffmanScan`` (canonical Huffman
MINCODE walk, 0xFF00 unstuffing, the progressive EOB run) and
``_ArithScan`` (the QM coder with its statistics areas, DC contexts and
lossless Da/Db history, functions/jpeg_arith.py). Each resets its own
state at RSTn and reports where its scan ended. After the walk:
dequantization, zig-zag inverse, float64 IDCT via the orthonormal DCT-II
basis, level shift, BT.601 full-range YCbCr→RGB for 3-component DCT
scans. Sampling: ANY factors in
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
  DCT JPEG (SOF3 excepted, where the MODE is lossless). The fixture
  encoders only tests call — arithmetic (SOF9-SOF11, SOF15), lossless,
  12-bit and the Huffman-only hierarchical ones — live in
  ``tests/jpeg_arith_encoders.py``.

Reference parity: the reference server stores media only as opaque blobs
(no codec surface); this belongs to the repo's training-data-pipeline
extension surface (SURVEY.md north star), where image bytes must be
decodable inside the Arrow worker without container-level dependencies.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from hive_server_spark.functions import jpeg_arith as ja

__all__ = ["decode_jpeg", "decode_jpeg_samples", "encode_jpeg_gray_blocks"]

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


class _HuffmanScan:
    """Huffman entropy decoder of one scan (T.81 F.2.2, G.2, H.1.2.2): the
    bit reader over the scan's entropy-coded segment and the DHT tables
    its components select. ``dc``/``ac`` name the table classes the scan
    reads (a missing one raises here); a lossless scan reads DC tables
    only, and its differences need no context, so ``lossless`` (the
    arithmetic decoder's history shape) goes unused. Restart byte-aligns
    past RSTn and clears the progressive EOB run."""

    def __init__(self, b, pos, tables, scan_comps, dc=True, ac=True, lossless=None):
        huff_dc, huff_ac = tables
        try:
            self.dc = {ci: huff_dc[td] for ci, td, _ in scan_comps if dc}
            self.ac = {ci: huff_ac[ta] for ci, _, ta in scan_comps if ac}
        except KeyError:
            raise ValueError("JPEG scan references missing Huffman table") from None
        self.br = _BitReader(b, pos)
        self.eobrun = 0

    def restart(self) -> None:
        self.br.restart()
        self.eobrun = 0

    def end(self) -> int:
        # a reader that met a marker has already raised: the scan's last
        # byte was read whole, so its end is searched from here
        return _find_next_marker(self.br.data, self.br.pos)

    def dc_diff(self, ci: int) -> int:
        br = self.br
        s = self.dc[ci].decode(br)
        return _extend(br.receive(s), s)

    def dc_bit(self) -> int:
        return self.br.read_bit()

    def block(self, ci: int, coeffs) -> int:
        """One sequential block: its AC coefficients into ``coeffs``, its DC
        difference returned."""
        br = self.br
        s = self.dc[ci].decode(br)
        diff = _extend(br.receive(s), s)
        table = self.ac[ci]
        k = 1
        while k < 64:
            rs = table.decode(br)
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
        return diff

    def lossless_diff(self, ci: int, y: int, x: int) -> int:
        s = self.dc[ci].decode(self.br)
        if s == 16:  # H.1.2.2: category 16 codes diff 32768 directly
            return 32768
        return _extend(self.br.receive(s), s)

    def ac_first(self, ci: int, block, ss: int, se: int, al: int) -> None:
        """Progressive AC first pass (G.1.2.2) over the band [ss, se] of one
        block, values stored << al; an EOB run skips whole blocks."""
        if self.eobrun > 0:
            self.eobrun -= 1
            return
        br, table = self.br, self.ac[ci]
        k = ss
        while k <= se:
            rs = table.decode(br)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                self.eobrun = (1 << r) - 1
                if r:
                    self.eobrun += br.receive(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC run past spectral band end")
            block[_ZIGZAG[k]] = _extend(br.receive(s), s) << al
            k += 1

    def ac_refine(self, ci: int, block, ss: int, se: int, al: int) -> None:
        """Progressive AC refinement (G.2.2) of one block: correction bits
        for nonzero-history coefficients, newly significant ±1 << al ones."""
        br, table = self.br, self.ac[ci]
        p1, m1 = 1 << al, -1 << al
        k = ss
        if self.eobrun == 0:
            while k <= se:
                rs = table.decode(br)
                r, s = rs >> 4, rs & 0x0F
                newval = 0
                if s == 0:
                    if r < 15:
                        # refinement convention: the count INCLUDES this
                        # block, whose [k..Se] remainder still gets
                        # correction bits below before the eobrun -= 1
                        # (libjpeg decode_mcu_AC_refine)
                        self.eobrun = 1 << r
                        if r:
                            self.eobrun += br.receive(r)
                        break
                    # ZRL: pass 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("JPEG AC refinement magnitude must be 1")
                    newval = p1 if br.read_bit() else m1
                # advance past r zero-history coefficients, refining every
                # nonzero-history coefficient on the way
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
                    raise ValueError("JPEG AC refinement ran past the spectral band")
        if self.eobrun > 0:
            # EOB band: refine remaining nonzero-history coefficients
            while k <= se:
                z = _ZIGZAG[k]
                if block[z] != 0:
                    if br.read_bit() and (block[z] & p1) == 0:
                        block[z] += p1 if block[z] >= 0 else m1
                k += 1
            self.eobrun -= 1


class _ArithScan:
    """QM-coded entropy decoder of one scan (T.81 F.1.4.4, G.2, H.1.2.3):
    the arithmetic decoder, one statistics area per conditioning table
    the scan reads (DAC; defaults (L, U) = (0, 1) and Kx = 5), shared by
    the components that select it (F.1.4.4.1.3), a DC context per
    component and, in a lossless scan of ``lossless`` = (height, width)
    samples, the history of decoded differences whose classes condition
    the next ones (Da left, Db above). Restart re-initializes the coder
    and resets statistics, contexts and the history window (E.2.4)."""

    def __init__(self, b, pos, tables, scan_comps, dc=True, ac=True, lossless=None):
        dac_dc, dac_ac = tables
        model = ja.LosslessStats if lossless else ja.DCStats
        dc_areas = {td: model(*dac_dc.get(td, (0, 1))) for _, td, _ in scan_comps if dc}
        ac_areas = {ta: ja.ACStats(dac_ac.get(ta, 5)) for _, _, ta in scan_comps if ac}
        self.areas = [*dc_areas.values(), *ac_areas.values()]
        self.dc = {ci: dc_areas[td] for ci, td, _ in scan_comps if dc}
        self.ac = {ci: ac_areas[ta] for ci, _, ta in scan_comps if ac}
        self.contexts = dict.fromkeys(self.dc, 0)
        self.fixed = bytearray([ja.FIXED_BIN_STATE])  # DC refinement bin (G.2)
        if lossless:
            self.width = lossless[1]
            self.history = {ci: np.zeros(lossless, dtype=np.int64) for ci in self.dc}
        self.start = 0  # first sample of the restart interval (lossless)
        self.last = -1  # last sample decoded (lossless)
        self.dec = ja.ArithDecoder(b, pos)

    def restart(self) -> None:
        self.dec.restart()
        for st in self.areas:
            st.reset()
        self.contexts = dict.fromkeys(self.contexts, 0)
        self.start = self.last + 1

    def end(self) -> int:
        dec = self.dec
        return _find_next_marker(
            dec.data, dec.pos - 2 if dec.marker is not None else dec.pos
        )

    def dc_diff(self, ci: int) -> int:
        diff, self.contexts[ci] = ja.decode_dc_diff(
            self.dec, self.dc[ci], self.contexts[ci]
        )
        return diff

    def dc_bit(self) -> int:
        return self.dec.decode(self.fixed, 0)

    def block(self, ci: int, coeffs) -> int:
        diff = self.dc_diff(ci)
        ja.decode_ac_block(self.dec, self.ac[ci], coeffs, _ZIGZAG)
        return diff

    def lossless_diff(self, ci: int, y: int, x: int) -> int:
        # a neighbouring difference outside the restart interval, or off
        # the image, conditions as zero (H.1.2.3)
        d, st = self.history[ci], self.dc[ci]
        i = y * self.width + x
        cls_a = st.classify5(int(d[y, x - 1])) if x and i > self.start else 0
        cls_b = (
            st.classify5(int(d[y - 1, x]))
            if y and i - self.width >= self.start
            else 0
        )
        d[y, x] = diff = ja.decode_lossless_diff(self.dec, st, cls_a, cls_b)
        self.last = i
        return diff

    def ac_first(self, ci: int, block, ss: int, se: int, al: int) -> None:
        ja.decode_ac_block(self.dec, self.ac[ci], block, _ZIGZAG, ss, se, al)

    def ac_refine(self, ci: int, block, ss: int, se: int, al: int) -> None:
        ja.decode_ac_refine(self.dec, self.ac[ci], block, _ZIGZAG, ss, se, al)


def decode_jpeg(payload: bytes) -> tuple[int, int, float] | None:
    """Decode a JPEG — any T.81 process (see the module docstring's
    format matrix). Returns (width, height, mean_sample/maxval)
    over all output samples (gray, or RGB after color conversion) — the
    same contract as the PPM/PNG/BMP decoders — or None if the payload
    does not start with SOI. Malformed payloads
    raise ValueError (never a silently wrong decode)."""
    r = _decode(payload)
    if r is None:
        return None
    width, height, samples, prec = r
    return width, height, float(samples.mean()) / float((1 << prec) - 1)


def decode_jpeg_samples(payload: bytes):
    """Decode a JPEG and return (width, height, samples) where `samples`
    is the final clipped sample array the decode tail produced — (h, w)
    for grayscale, (h, w, 3) for color-converted 3-component scans,
    (ncomp, h, w) for lossless. Same error contract as decode_jpeg (None
    for non-JPEG, ValueError for malformed); the per-pixel plane feeds
    perceptual hashing (functions/multimodal.py dhash_bands), where the
    scalar mean contract is not enough."""
    r = _decode(payload)
    return None if r is None else r[:3]


def _decode(payload: bytes):
    """The marker walk behind both entry points: (width, height, samples,
    precision), or None without SOI."""
    b = bytes(payload)
    if b[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    dac_dc: dict[int, tuple[int, int]] = {}  # DAC: table id -> (L, U)
    dac_ac: dict[int, int] = {}  # DAC: table id -> Kx
    restart_interval = 0
    frame = None  # (h, w, comps, prec) ; comps = [(cid, hq, vq, tq)]
    progressive = False
    arith = False
    lossless = False
    differential = False
    coef = None  # coefficient store of the progressive frame, made at its first SOS
    hier = None  # hierarchical (DHP) frame header; decode spans frames
    refs: dict[int, np.ndarray] = {}  # hierarchical reference components
    pending_exp = (0, 0)  # EXP expansion flags for the next frame
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
            hier is not None
            and coef is not None
            and marker in (
                0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF, 0xDE, 0xDF, 0xD9,
            )
        ):
            # a frame-ending marker closes the in-progress progressive
            # frame of a hierarchical sequence: reconstruct and merge
            _hier_merge(
                refs, frame, _reconstruct_progressive_planes(frame, qt, coef),
                differential, pending_exp, level_shift=1 << (frame[3] - 1),
            )
            pending_exp = (0, 0)
            frame = None
            coef = None
        if marker == 0xD9:  # EOI
            if hier is not None:
                if not refs:
                    raise ValueError("JPEG EOI before scan data")
                return hier[1], hier[0], _finish_hier(refs, hier), hier[3]
            if progressive and coef is not None:
                # progressive image complete: reconstruct from the
                # accumulated coefficients
                planes = _reconstruct_progressive_planes(frame, qt, coef)
                return frame[1], frame[0], _finish_planes(planes, frame), frame[3]
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
            if pending_exp != (0, 0) and not differential:
                raise ValueError("JPEG EXP must precede a differential frame")
            coder, tables = (
                (_ArithScan, (dac_dc, dac_ac)) if arith
                else (_HuffmanScan, (huff_dc, huff_ac))
            )
            start = pos + seglen
            if progressive:
                if coef is None:
                    coef = _init_coef(frame)
                pos = _progressive_scan(
                    b, start, seg, frame, coder, tables, restart_interval,
                    coef, differential,
                )
                continue  # the frame completes at EOI or at its frame end
            if lossless:
                planes, pt, pos = _lossless_planes(
                    b, start, seg, frame, coder, tables, restart_interval,
                    differential,
                )
                planes = [p << pt for p in planes]  # undo the point transform
            else:
                planes, pos = _sequential_planes(
                    b, start, seg, frame, qt, coder, tables, restart_interval,
                    differential,
                )
            height, width, _comps, prec = frame
            if hier is None:
                if lossless:
                    samples = np.clip(
                        np.stack(planes).astype(np.float64), 0,
                        float((1 << prec) - 1),
                    )
                else:
                    samples = _finish_planes(planes, frame)
                return width, height, samples, prec
            # hierarchical sequence: fold this frame into the reference
            # store (full-precision samples, J.1) and walk on to EOI
            _hier_merge(
                refs, frame, planes, differential, pending_exp,
                level_shift=0 if lossless else 1 << (prec - 1),
            )
            pending_exp = (0, 0)
            frame = None
            continue  # pos points at the next marker's 0xFF
        # APPn / COM / anything else: skip
        pos += seglen
    raise ValueError("JPEG has no SOS marker")


def _parse_scan_header(seg, comps):
    """SOS header fields every scan walk reads: the Ns count, Ss and Se
    (the spectral band; in a lossless scan Ss selects the predictor), the
    successive-approximation nibbles Ah/Al (Al is the lossless point
    transform), and the (component index, Td, Ta) of each frame component
    the scan selects, in frame order — one per selector, so malformed
    headers fail alike under either coder."""
    ncomp_scan = seg[0]
    if ncomp_scan == 0:
        raise ValueError("JPEG scan selects no component")
    selectors = {}
    for i in range(ncomp_scan):
        cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
        selectors[cs] = (tdta >> 4, tdta & 0x0F)
    ss, se = seg[1 + 2 * ncomp_scan], seg[2 + 2 * ncomp_scan]
    ahal = seg[3 + 2 * ncomp_scan]
    scan_comps = [
        (ci, *selectors[cid])
        for ci, (cid, _hs, _vs, _tq) in enumerate(comps)
        if cid in selectors
    ]
    if len(scan_comps) != ncomp_scan:
        raise ValueError("JPEG scan selectors do not match the frame components")
    return ncomp_scan, ss, se, ahal >> 4, ahal & 0x0F, scan_comps


def _frame_geometry(frame):
    """Sampling geometry shared by the scan walks and the reconstruction
    (T.81 A.1.1): (hmax, vmax, MCU grid, and per component
    its TRUE block grid ceil(comp_dim/8) — the data-unit count of a
    NON-interleaved scan, which has no MCU padding). Every factor must
    lie in 1..4: the MCU is Hmax*8 x Vmax*8 pixels and component i
    contributes hs*vs blocks per MCU."""
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


def _sequential_planes(
    b, pos, seg, frame, qt, coder, tables, restart_interval, differential=False,
):
    """Sequential-DCT scan walk (SOF0/1/9, differential SOF5/13): one
    interleaved scan of every frame component in MCU order. Returns
    (planes, end_pos): the MCU-padded per-component sample arrays BEFORE
    level shift (differential frames never get one — T.81 J.1) and the
    offset of the marker that ended the scan. RSTn resets the entropy
    decoder and the DC predictions (E.2.4); ``differential=True`` takes
    each DC value as coded (F.1.1.5.1: PRED is zero). Any sampling
    factors decode (see ``_frame_geometry``; the tail upsamples)."""
    height, width, comps, _prec = frame
    ncomp_scan, _ss, _se, _ah, _al, scan_comps = _parse_scan_header(seg, comps)
    if ncomp_scan != len(comps):
        raise ValueError("JPEG non-interleaved multi-scan unsupported")
    if len(comps) not in (1, 3):
        raise ValueError(f"JPEG with {len(comps)} components unsupported")
    _hmax, _vmax, mcux, mcuy, _dims = _frame_geometry(frame)
    if width <= 0 or height <= 0:
        raise ValueError("JPEG frame has empty dimensions")
    for _, _, _, tq in comps:
        if tq not in qt:
            raise ValueError(f"JPEG references missing quant table {tq}")
    dec = coder(b, pos, tables, scan_comps)
    planes = [
        np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.float64)
        for _, hs, vs, _ in comps
    ]
    preds = [0] * len(comps)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                dec.restart()
                preds = [0] * len(comps)
            for ci, (_cid, hs, vs, tq) in enumerate(comps):
                for v in range(vs):
                    for h2 in range(hs):
                        coeffs = np.zeros((8, 8), dtype=np.float64)
                        diff = dec.block(ci, coeffs)
                        if differential:
                            coeffs[0, 0] = diff
                        else:
                            preds[ci] += diff
                            coeffs[0, 0] = preds[ci]
                        block = _DCT_M.T @ (coeffs * qt[tq]) @ _DCT_M
                        by, bx = my * vs + v, mx * hs + h2
                        planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
            mcu += 1
    return planes, dec.end()


def _scan_units(comps, scan_comps, mcux, mcuy, dims):
    """A progressive scan's data units grouped by MCU (T.81 A.2), as
    (component index, block row, block col): an interleaved MCU holds each
    component's hs x vs block cluster, edge padding blocks included; a
    single-component MCU is one block of the component's TRUE grid, in
    raster order."""
    if len(scan_comps) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                yield [
                    (ci, my * vs + v, mx * hs + h2)
                    for ci, _td, _ta in scan_comps
                    for _cid, hs, vs, _tq in (comps[ci],)
                    for v in range(vs)
                    for h2 in range(hs)
                ]
    else:
        ci = scan_comps[0][0]
        bh, bw = dims[ci]
        for by in range(bh):
            for bx in range(bw):
                yield [(ci, by, bx)]


def _progressive_scan(
    b, pos, seg, frame, coder, tables, restart_interval, coef, differential=False,
):
    """Progressive scan walk (SOF2/10, differential SOF6/14, T.81 G.2),
    accumulating into `coef`: DC first (Al-shifted differences; PRED is
    zero in a differential frame) or DC refinement (one bit per block),
    interleaved or single-component; AC first or refinement over the band
    [Ss, Se], single-component only (G.1.1.1.1). Restart counts MCUs and
    resets the entropy decoder and the DC predictions. Returns the byte
    offset of the marker that ended the scan."""
    comps = frame[2]
    ncomp_scan, ss, se, ah, al, scan_comps = _parse_scan_header(seg, comps)
    if not ss <= se <= 63:  # B.2.3: the band must sit inside 0..63 — a
        # corrupted Se would otherwise index past the zig-zag table
        raise ValueError(f"JPEG spectral band [{ss}, {se}] invalid")
    _hmax, _vmax, mcux, mcuy, dims = _frame_geometry(frame)
    if ss == 0 and se != 0:
        raise ValueError("JPEG progressive DC scan with Se != 0")
    if ss and ncomp_scan != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    dec = coder(b, pos, tables, scan_comps, dc=ss == 0 and ah == 0, ac=ss > 0)
    preds = {ci: 0 for ci, _td, _ta in scan_comps}
    if ss:
        band = dec.ac_first if ah == 0 else dec.ac_refine

        def step(ci, block):
            band(ci, block, ss, se, al)

    elif ah == 0:

        def step(ci, block):
            diff = dec.dc_diff(ci)
            if differential:
                block[0, 0] = diff << al  # PRED = 0
            else:
                preds[ci] += diff
                block[0, 0] = preds[ci] << al

    else:

        def step(ci, block):
            if dec.dc_bit():
                block[0, 0] |= 1 << al

    for unit, blocks in enumerate(_scan_units(comps, scan_comps, mcux, mcuy, dims)):
        if restart_interval and unit and unit % restart_interval == 0:
            dec.restart()
            preds = dict.fromkeys(preds, 0)
        for ci, by, bx in blocks:
            step(ci, coef[ci][by, bx])
    return dec.end()


def _lossless_planes(
    b, pos, seg, frame, coder, tables, restart_interval, differential=False,
):
    """LOSSLESS scan walk (SOF3/11, differential SOF7/15) per T.81 Annex H:
    no DCT, no quant — each sample is a coded difference from one of the
    seven spatial predictors selected by Ss, reconstructed modulo 65536,
    with the point transform Al=Pt shifting the coded domain down.
    Prediction edges (H.1.2.1): the very first sample of the scan AND of
    each restart interval predicts 2^(P-1-Pt); the rest of the interval's
    FIRST LINE uses the one-dimensional predictor (Ra, the left neighbor)
    regardless of Ss; the first sample of every other line predicts from
    ABOVE. Components decode interleaved in MCU order; only 1x1 sampling
    is supported (the overwhelmingly common lossless shape — T.81 allows
    subsampled lossless MCUs, refused rather than mis-decoded).

    Returns (planes, pt, end_pos) with planes in the CODED domain (before
    the point-transform shift back up). ``differential=True`` (inside a
    hierarchical sequence) requires predictor selection 0 — the coded
    values are reference differences with NO spatial prediction (T.81
    B.2.3 reserves Ss=0 for exactly this)."""
    height, width, comps, prec = frame
    ncomp_scan, predictor, _se, _ah, pt, scan_comps = _parse_scan_header(seg, comps)
    if ncomp_scan != len(comps):
        raise ValueError("JPEG non-interleaved multi-scan unsupported")
    for _, hs, vs, _ in comps:
        if hs != 1 or vs != 1:
            raise ValueError(
                "lossless JPEG with subsampled components unsupported"
            )
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
    # DC tables only: Ta is 0 in a lossless scan
    dec = coder(b, pos, tables, scan_comps, ac=False, lossless=(height, width))
    default_pred = 1 << (prec - 1 - pt)
    planes = [np.zeros((height, width), dtype=np.int64) for _ in comps]
    mcu = 0
    fresh = True  # first sample of the scan / of a restart interval
    first_line = 0  # row where the current restart interval began
    for y in range(height):
        for x in range(width):
            if restart_interval and mcu and mcu % restart_interval == 0:
                dec.restart()
                fresh = True
                first_line = y
            for ci, p in enumerate(planes):
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
                # modulo 65536 (H.1.2.1)
                p[y, x] = (px + dec.lossless_diff(ci, y, x)) & 0xFFFF
            fresh = False
            mcu += 1
    return planes, pt, dec.end()


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
    """Output tail of a single DCT frame (sequential or progressive, either
    coder): crop each MCU-padded component plane to its true resolution
    (T.81 A.1.1), level-shift, upsample to frame resolution, BT.601
    color-convert 3-component scans (chroma centered at half = 2^(P-1),
    the 12-bit generalization of 128), clip, and return the samples."""
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
    return _color_and_clip(out, frame)


def _color_and_clip(out, frame):
    """Shared output tail over frame-resolution ABSOLUTE-sample planes:
    BT.601 color conversion for 3-component scans (chroma centered at
    half = 2^(P-1)), then the samples rounded and clipped to [0, 2^P-1]."""
    prec = frame[3]
    half, vmaxval = float(1 << (prec - 1)), float((1 << prec) - 1)
    if len(out) == 3:
        y, cb, cr = out
        r = y + 1.402 * (cr - half)
        g = y - 0.344136 * (cb - half) - 0.714136 * (cr - half)
        bch = y + 1.772 * (cb - half)
        samples = np.stack([r, g, bch], axis=-1)
    else:
        samples = out[0]
    return np.clip(np.rint(samples), 0, vmaxval)


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
                # [0, 2^P-1] (the single-frame path's _color_and_clip
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
    upsample/color/clip tail."""
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
    return _color_and_clip(out, hier)


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


def _find_next_marker(b: bytes, pos: int) -> int:
    """Offset where a scan's entropy-coded data ends: the first 0xFF at or
    after ``pos`` that is not a stuffed data byte (0xFF 0x00). Fill bytes
    and a stray RSTn found there are left to the marker walk, which skips
    them. A real marker (any code but 0x00, a fill 0xFF or RSTn) must
    follow at or after that offset: a scan the stream never terminates
    raises.

    LIMITATION (byte-stuffing-only): this scan assumes the entropy coder
    byte-stuffed every data 0xFF as 0xFF 0x00, which T.81 B.1.1.5
    guarantees for Huffman streams and which this module's own
    ArithEncoder also emits. A spec-valid EXTERNALLY-encoded arithmetic
    stream may instead carry 0xFF followed by 0x01..0x7F as entropy data
    (T.81 arithmetic bit-stuffing only forbids 0xFF 0x80..0xFF), and this
    scan would misread that as a scan-terminating marker — cutting a
    hierarchical arithmetic scan short. Both entropy decoders report their
    scan's end through this function, so the arithmetic one inherits the
    limitation; it is consistent with the decoder-wide ArithDecoder
    convention."""
    end = None
    while pos + 1 < len(b):
        code = b[pos + 1]
        if b[pos] == 0xFF and code != 0x00:
            if end is None:
                end = pos
            if code != 0xFF and not 0xD0 <= code <= 0xD7:
                return end
        pos += 1
    raise ValueError("JPEG entropy stream ended without a terminating marker")


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


def _hier_scan(vals, restart_interval: int, fresh, code) -> bytes:
    """Entropy-coded data of one single-component scan of a hierarchical
    fixture frame, where an MCU is one block: ``code(state, v)`` codes one
    block; every ``restart_interval`` blocks the coder ``state[0]`` is
    flushed, RSTn follows, and ``fresh()`` starts new state (coder,
    statistics, predictions), as T.81 E.2.4 resets them."""
    out = bytearray()
    state = fresh()
    for k, v in enumerate(vals):
        if restart_interval and k and k % restart_interval == 0:
            out += state[0].flush()
            out += bytes([0xFF, 0xD0 + ((k // restart_interval) - 1) % 8])
            state = fresh()
        code(state, v)
    out += state[0].flush()
    return bytes(out)


def _hier_frame_header(marker: int, bw: int, bh: int) -> bytes:
    """SOF segment of a one-component 8-bit hierarchical fixture frame."""
    return (
        bytes([0xFF, marker]) + struct.pack(">HBHHB", 11, 8, 8 * bh, 8 * bw, 1)
        + bytes([1, 0x11, 0])
    )


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

    def code(st, v):  # st = [writer, pred]
        if differential:
            _write_dc_diff(st[0], int(v))
            st[0].write(0b00, 2)  # EOB
        else:
            st[1] = _encode_dc_block(st[0], v, st[1])

    return (
        _hier_frame_header(sof_marker, blocks_w, blocks_h)
        + _sos_segment([1], 0, 63, 0, 0)
        + _hier_scan(vals, restart_interval, lambda: [_BitWriter(), 0], code)
    )


def _hier_prog_frame_bytes(
    differential: bool, vals, bw: int, bh: int, restart_interval: int
) -> bytes:
    """One single-component PROGRESSIVE frame (SOF2 / differential SOF6)
    for the hierarchical fixture encoder: DC-first scan at Al=1, DC
    refinement scan, one all-EOB AC scan — the encode_jpeg_progressive_blocks
    scan plan, with PRED pinned to zero in the differential variant."""
    ds = [int(v) if differential else int(v) - 128 for v in vals]

    def dc_first(st, d):  # st = [writer, pred]
        sh = d >> 1  # arithmetic shift
        _write_dc_diff(st[0], sh - st[1])
        if not differential:
            st[1] = sh

    return (
        _hier_frame_header(0xC6 if differential else 0xC2, bw, bh)
        + _sos_segment([1], 0, 0, 0, 1)
        + _hier_scan(ds, restart_interval, lambda: [_BitWriter(), 0], dc_first)
        + _sos_segment([1], 0, 0, 1, 0)
        + _hier_scan(
            ds, restart_interval, lambda: [_BitWriter()],
            lambda st, d: st[0].write(d & 1, 1),
        )
        + _sos_segment([1], 1, 63, 0, 0)
        + _hier_scan(
            ds, restart_interval, lambda: [_BitWriter()],
            lambda st, d: st[0].write(0b00, 2),  # EOB0
        )
    )


def _hier_arith_frame_bytes(
    differential: bool, vals, bw: int, bh: int, restart_interval: int
) -> bytes:
    """One single-component sequential ARITHMETIC frame (SOF9 /
    differential SOF13) for the hierarchical fixture encoder."""
    zero_ac = [0] * 64

    def code(st, d):  # st = [encoder, DC stats, AC stats, pred, context]
        st[4] = ja.encode_dc_diff(st[0], st[1], st[4], d - st[3])
        if not differential:  # PRED stays 0 in a differential frame
            st[3] = d
        ja.encode_ac_block(st[0], st[2], zero_ac)

    return (
        _hier_frame_header(0xCD if differential else 0xC9, bw, bh)
        + _sos_segment([1], 0, 63, 0, 0)
        + _hier_scan(
            [int(v) if differential else int(v) - 128 for v in vals],
            restart_interval,
            lambda: [ja.ArithEncoder(), ja.DCStats(), ja.ACStats(), 0, 0],
            code,
        )
    )


def _hier_arith_prog_frame_bytes(
    differential: bool, vals, bw: int, bh: int, restart_interval: int
) -> bytes:
    """One single-component progressive ARITHMETIC frame (SOF10 /
    differential SOF14): the 3-scan plan of _hier_prog_frame_bytes with
    the QM coder drawing every decision."""
    ds = [int(v) if differential else int(v) - 128 for v in vals]
    fixed = bytearray([ja.FIXED_BIN_STATE])
    zero_ac = [0] * 64

    def dc_first(st, d):  # st = [encoder, DC stats, pred, context]
        sh = d >> 1
        st[3] = ja.encode_dc_diff(st[0], st[1], st[3], sh - st[2])
        if not differential:
            st[2] = sh

    return (
        _hier_frame_header(0xCE if differential else 0xCA, bw, bh)
        + _sos_segment([1], 0, 0, 0, 1)
        + _hier_scan(
            ds, restart_interval,
            lambda: [ja.ArithEncoder(), ja.DCStats(), 0, 0], dc_first,
        )
        + _sos_segment([1], 0, 0, 1, 0)
        + _hier_scan(
            ds, restart_interval, lambda: [ja.ArithEncoder()],
            lambda st, d: st[0].encode(d & 1, fixed, 0),
        )
        + _sos_segment([1], 1, 63, 0, 0)
        + _hier_scan(
            ds, restart_interval, lambda: [ja.ArithEncoder(), ja.ACStats()],
            lambda st, d: ja.encode_ac_block(st[0], st[1], zero_ac),
        )
    )


def encode_jpeg_hierarchical_gray_process(
    base_values, blocks_w: int, blocks_h: int, stages, process: str = "seq",
    restart_interval: int = 0,
) -> bytes:
    """Hierarchical grayscale pyramid where EVERY frame uses the chosen
    DCT process — 'seq' (SOF0 + differential SOF5, Huffman), 'prog'
    (SOF2 + SOF6, Huffman progressive), 'arith' (SOF9 + SOF13), or
    'arith-prog' (SOF10 + SOF14). The base frame holds constant
    ``blocks_w``x``blocks_h`` blocks; ``stages`` is a list of (eh, ev,
    diff_values): an optional EXP doubling (eh/ev in {0, 1}) followed by a
    differential frame whose constant blocks ADD the stage's exact signed
    per-pixel differences (row-major over the stage's block grid), so the
    whole reconstruction is closed-form. Every scan restarts every
    ``restart_interval`` blocks (0: none)."""
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
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    def frame(differential, vals, gw, gh):
        if process == "seq":
            marker = 0xC5 if differential else 0xC0
            return _hier_seq_frame_bytes(
                marker, vals, gw, gh, restart_interval, differential
            )
        if process == "prog":
            return _hier_prog_frame_bytes(
                differential, vals, gw, gh, restart_interval
            )
        if process == "arith":
            return _hier_arith_frame_bytes(
                differential, vals, gw, gh, restart_interval
            )
        if process == "arith-prog":
            return _hier_arith_prog_frame_bytes(
                differential, vals, gw, gh, restart_interval
            )
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
