"""JPEG fixture encoders that only tests call.

Test-side writers for the branches of
`hive_server_spark.functions.jpeg.decode_jpeg` the gate corpus does not
synthesize: the arithmetic-coded streams (SOF9-SOF11, SOF15), entropy-coded
with the T.81 QM coder (`functions/jpeg_arith.py`) plus the two encoder
mirrors of its refinement and lossless models, and the Huffman lossless
(SOF3, hierarchical SOF3 + SOF7), 12-bit (SOF1) and hierarchical gray
writers. They produce the same constant-block, decode-exact streams as the
package's Huffman fixture encoders; the gate's hierarchical synthesizer
writes its own arithmetic frames.
"""

from __future__ import annotations

import struct

import numpy as np

from hive_server_spark.functions import jpeg_arith as ja
from hive_server_spark.functions.jpeg import (
    _ENC_AC_COUNTS,
    _ENC_AC_SYMBOLS,
    _ENC_DC_COUNTS,
    _ENC_DC_SYMBOLS,
    _ENC_QUANT_ZIGZAG,
    _ZIGZAG,
    _BitWriter,
    _hier_seq_frame_bytes,
    _mcu_dc_order,
    _progressive_fixture_layout,
    _sos_segment,
)


# 12-bit fixture tables (SEPARATE from the 8-bit ones so existing fixture
# streams are byte-stable): DC categories 0..12 at code length 4 — a
# 12-bit DC sits in [-2048, 2047] and consecutive-block diffs reach
# category 12; canonical codes 0000..1100, so code(s) == s still holds.
_ENC12_DC_COUNTS = [0, 0, 0, 13] + [0] * 12
_ENC12_DC_SYMBOLS = bytes(range(13))
# DC quantizer 8 as a 16-bit (Pq=1) table entry stream
_ENC12_QUANT_ZIGZAG = struct.pack(">64H", 8, *([16] * 63))


# lossless DC-difference categories 0..16, all at code length 5
# (canonical codes 0..16 of 5 bits; 0b11111 unused so no all-ones code)
_ENC_LL_COUNTS = [0, 0, 0, 0, 17] + [0] * 11
_ENC_LL_SYMBOLS = bytes(range(17))


def _predict(p, predictor: int, y: int, x: int) -> int:
    """Annex H predictor ``predictor`` (1..7, T.81 Table H.1) of sample
    (y, x) from its left (a), upper (b) and upper-left (c) neighbours."""
    a, b, c = int(p[y, x - 1]), int(p[y - 1, x]), int(p[y - 1, x - 1])
    return (
        a, b, c, a + b - c, a + ((b - c) >> 1), b + ((a - c) >> 1), (a + b) >> 1
    )[predictor - 1]


def encode_ac_refine(
    enc: ja.ArithEncoder, st: ja.ACStats, prev, target, zigzag,
    ss: int, se: int, al: int,
) -> None:
    """Mirror of ``ja.decode_ac_refine``: codes the transition of one block from
    ``prev`` (the coefficient state after earlier scans) to ``target``
    (state after this scan; both indexed via ``zigzag``). Per successive
    approximation, target may only add the 1<<al bit to existing values
    (widening magnitude) or introduce new ±1<<al coefficients."""
    bins = st.bins
    p1, m1 = 1 << al, -1 << al
    kex = 0
    for k in range(se, 0, -1):
        if prev[zigzag[k]]:
            kex = k
            break

    def event(k: int) -> bool:
        z = zigzag[k]
        return target[z] != prev[z]

    k = ss
    while k <= se:
        s0 = 3 * (k - 1)
        if k > kex:
            if not any(event(j) for j in range(k, se + 1)):
                enc.encode(1, bins, s0)  # EOB
                return
            enc.encode(0, bins, s0)
        while True:
            z = zigzag[k]
            if prev[z]:
                bit = 1 if target[z] != prev[z] else 0
                enc.encode(bit, bins, s0 + 2)
                break
            if target[z]:
                if target[z] not in (p1, m1):
                    raise ValueError(
                        "refinement may only introduce +-1<<al coefficients"
                    )
                enc.encode(1, bins, s0 + 1)
                enc.encode(1 if target[z] == m1 else 0, st.fixed, 0)
                break
            enc.encode(0, bins, s0 + 1)
            s0 += 3
            k += 1
            if k > se:
                raise ValueError("refinement encoder ran past the band")
        k += 1


def encode_lossless_diff(
    enc: ja.ArithEncoder, st: ja.LosslessStats, cls_a: int, cls_b: int, diff: int
) -> None:
    """Encode one lossless prediction difference — exact mirror of
    ja.decode_lossless_diff."""
    bins = st.bins
    s0 = 4 * (5 * cls_b + cls_a)
    if diff == 0:
        enc.encode(0, bins, s0)
        return
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
        i = ja._LL_X_LARGE if cls_b >= 3 else ja._LL_X_SMALL
        for _ in range(nbits - 1):
            enc.encode(1, bins, i)
            i += 1
        enc.encode(0, bins, i)
        msb = 1 << (nbits - 1)
    i += 14
    m = msb
    while m := m >> 1:
        enc.encode(1 if sz & m else 0, bins, i)


def _ll_arith_hier_frame_bytes(
    marker: int, plane, precision: int, predictor: int,
    differential: bool, dc_cond: tuple[int, int],
) -> bytes:
    """One single-component LOSSLESS ARITHMETIC frame (SOF11
    non-differential / SOF15 differential with predictor selection 0)
    for the hierarchical fixture encoder — the H.1.2.3 model with
    conditioning on neighboring diff classes, PRED zero when
    differential."""
    plane = np.asarray(plane, dtype=np.int64)
    h, w = plane.shape
    out = bytearray()
    out += bytes([0xFF, marker]) + struct.pack(">HBHHB", 11, precision, h, w, 1)
    out += bytes([1, 0x11, 0])
    out += b"\xff\xda" + struct.pack(">HB", 8, 1)
    out += bytes([1, 0x00, 0 if differential else predictor, 0, 0])
    st0 = ja.LosslessStats(*dc_cond)
    default_pred = 1 << (precision - 1)
    diffs = np.zeros((h, w), dtype=np.int64)
    enc = ja.ArithEncoder()
    for y in range(h):
        for x in range(w):
            if differential:
                px = 0
            elif y == 0 and x == 0:
                px = default_pred
            elif y == 0:
                px = int(plane[y, x - 1])
            elif x == 0:
                px = int(plane[y - 1, 0])
            else:
                px = _predict(plane, predictor, y, x)
            diff = ((int(plane[y, x]) - px + 0x8000) & 0xFFFF) - 0x8000
            cls_a = st0.classify5(int(diffs[y, x - 1])) if x > 0 else 0
            cls_b = st0.classify5(int(diffs[y - 1, x])) if y > 0 else 0
            encode_lossless_diff(enc, st0, cls_a, cls_b, diff)
            diffs[y, x] = diff
    out += enc.flush()
    return bytes(out)


def encode_jpeg_hierarchical_lossless_arith(
    base_plane, stages, predictor: int = 4, precision: int = 8,
    dc_cond: tuple[int, int] = (0, 1),
) -> bytes:
    """Spec-valid HIERARCHICAL LOSSLESS ARITHMETIC grayscale JPEG: DHP at
    the final resolution, an SOF11 base frame, then per stage an optional
    EXP doubling followed by an SOF15 differential frame (predictor
    selection 0) — the arithmetic twin of
    encode_jpeg_hierarchical_lossless."""
    base_plane = np.asarray(base_plane, dtype=np.int64)
    fh, fw = base_plane.shape
    for eh, ev, _ in stages:
        fw *= 2 if eh else 1
        fh *= 2 if ev else 1
    lo, hi = dc_cond
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xde" + struct.pack(">HBHHB", 11, precision, fh, fw, 1)
    out += bytes([1, 0x11, 0])
    out += b"\xff\xcc" + struct.pack(">H", 4) + bytes([0x00, (hi << 4) | lo])
    out += _ll_arith_hier_frame_bytes(
        0xCB, base_plane, precision, predictor, False, dc_cond
    )
    for eh, ev, diffs in stages:
        if eh or ev:
            out += b"\xff\xdf" + struct.pack(">HB", 3, (eh << 4) | ev)
        out += _ll_arith_hier_frame_bytes(
            0xCF, np.asarray(diffs, dtype=np.int64), precision, predictor,
            True, dc_cond,
        )
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# arithmetic (SOF9) fixture encoders — same constant-block decode-exact
# contract as the Huffman fixtures, entropy-coded with the T.81 QM coder
# (functions/jpeg_arith.py). Emitting an explicit DAC segment with the
# default conditioning exercises the DAC parse path.
# ---------------------------------------------------------------------------


def _arith_headers(
    w: int, h: int, ncomp: int, sampling, prec: int = 8,
    dc_cond: tuple[int, int] = (0, 1), ac_kx: int = 5, sof: int = 0xC9,
) -> bytearray:
    out = bytearray(b"\xff\xd8")
    if prec == 12:  # 16-bit Pq=1 quant table, the 12-bit-sample form
        out += (
            b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128)
            + b"\x10" + _ENC12_QUANT_ZIGZAG
        )
    else:
        out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + _ENC_QUANT_ZIGZAG
    out += bytes([0xFF, sof]) + struct.pack(">HBHHB", 8 + 3 * ncomp, prec, h, w, ncomp)
    for ci in range(ncomp):
        hs, vs = sampling[ci]
        out += bytes([ci + 1, (hs << 4) | vs, 0])
    # DAC for DC table 0 (class 0) + AC table 0 (class 1) — defaults
    # (L=0, U=1, Kx=5) unless a test overrides the conditioning, so the
    # parse path is always exercised
    lo, hi = dc_cond
    out += b"\xff\xcc" + struct.pack(">H", 6) + bytes(
        [0x00, (hi << 4) | lo, 0x10, ac_kx]
    )
    return out


def encode_jpeg_arith_gray_blocks(
    block_values, blocks_w: int, blocks_h: int, restart_interval: int = 0
) -> bytes:
    """Spec-valid grayscale SOF9 (extended sequential, arithmetic) JPEG
    mirroring ``encode_jpeg_gray_blocks``: block k (row-major) is the
    constant ``block_values[k]`` (0..255); with the DC quantizer pinned
    to 8 the decode is exact, so the closed-form byte-level oracle works
    unchanged. A nonzero ``restart_interval`` terminates the arithmetic
    segment (flush), emits RSTn, and restarts coder + statistics +
    predictions per T.81 E.2.4."""
    values = list(block_values)
    if len(values) != blocks_w * blocks_h:
        raise ValueError("block value count != block grid")
    out = _arith_headers(8 * blocks_w, 8 * blocks_h, 1, [(1, 1)])
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    enc = ja.ArithEncoder()
    dc_st, ac_st = ja.DCStats(), ja.ACStats()
    pred = context = 0
    zero_ac = [0] * 64
    for mcu, v in enumerate(values):
        if not 0 <= int(v) <= 255:
            raise ValueError(f"block value {v} outside 0..255")
        if restart_interval and mcu and mcu % restart_interval == 0:
            out += enc.flush()
            out += bytes([0xFF, 0xD0 + ((mcu // restart_interval) - 1) % 8])
            enc = ja.ArithEncoder()
            dc_st.reset()
            ac_st.reset()
            pred = context = 0
        dc = int(v) - 128  # quantized DC: 8*(v-128) / qDC=8, exact
        context = ja.encode_dc_diff(enc, dc_st, context, dc - pred)
        pred = dc
        ja.encode_ac_block(enc, ac_st, zero_ac)
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_arith_gray_coeffs(
    coeff_blocks, blocks_w: int, blocks_h: int,
    dc_cond: tuple[int, int] = (0, 1), ac_kx: int = 5,
) -> bytes:
    """Grayscale SOF9 fixture from FULL quantized coefficient blocks:
    ``coeff_blocks[k]`` is a 64-list in zig-zag order (index 0 = the
    block's absolute quantized DC; 1..63 quantized AC) — exercises the
    AC model's run/EOB/magnitude ladders, which the constant-block
    fixture never touches. ``dc_cond``/``ac_kx`` set non-default DAC
    conditioning (both coder directions derive their contexts from it)."""
    blocks = [list(cb) for cb in coeff_blocks]
    if len(blocks) != blocks_w * blocks_h:
        raise ValueError("coefficient block count != block grid")
    out = _arith_headers(
        8 * blocks_w, 8 * blocks_h, 1, [(1, 1)], dc_cond=dc_cond, ac_kx=ac_kx
    )
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    enc = ja.ArithEncoder()
    dc_st, ac_st = ja.DCStats(*dc_cond), ja.ACStats(ac_kx)
    pred = context = 0
    for cb in blocks:
        if len(cb) != 64:
            raise ValueError("coefficient block must be 64 zig-zag values")
        context = ja.encode_dc_diff(enc, dc_st, context, int(cb[0]) - pred)
        pred = int(cb[0])
        ja.encode_ac_block(enc, ac_st, [int(x) for x in cb])
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_arith_ycbcr_420_blocks(
    y_values, cb_values, cr_values, chroma_bw: int, chroma_bh: int
) -> bytes:
    """3-component 4:2:0 SOF9 arithmetic JPEG mirroring
    ``encode_jpeg_ycbcr_420_blocks``: luma 2x2 / chroma 1x1, constant
    per-block values, MCU-interleaved — exercises the arithmetic path's
    component interleaving, per-component DC contexts, and SHARED
    conditioning-table statistics (all components select table 0, so one
    statistics area adapts across all three, F.1.4.4.1.3)."""
    planes = [list(y_values), list(cb_values), list(cr_values)]
    sampling = [(2, 2), (1, 1), (1, 1)]
    for p, (hs, vs) in zip(planes, sampling):
        if len(p) != chroma_bw * hs * chroma_bh * vs:
            raise ValueError("block value count != component block grid")
    out = _arith_headers(16 * chroma_bw, 16 * chroma_bh, 3, sampling)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for ci in range(3):
        out += bytes([ci + 1, 0x00])
    out += bytes([0, 63, 0])
    enc = ja.ArithEncoder()
    dc_st, ac_st = ja.DCStats(), ja.ACStats()  # shared: one table id
    preds = [0, 0, 0]
    contexts = [0, 0, 0]
    zero_ac = [0] * 64
    for my in range(chroma_bh):
        for mx in range(chroma_bw):
            for ci in range(3):
                hs, vs = sampling[ci]
                for v in range(vs):
                    for h2 in range(hs):
                        k = (my * vs + v) * (chroma_bw * hs) + (mx * hs + h2)
                        val = int(planes[ci][k])
                        if not 0 <= val <= 255:
                            raise ValueError(f"block value {val} outside 0..255")
                        dc = val - 128
                        contexts[ci] = ja.encode_dc_diff(
                            enc, dc_st, contexts[ci], dc - preds[ci]
                        )
                        preds[ci] = dc
                        ja.encode_ac_block(enc, ac_st, zero_ac)
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_arith_progressive_blocks(
    planes, blocks_w: int, blocks_h: int, sampling=None,
    width: int | None = None, height: int | None = None,
) -> bytes:
    """PROGRESSIVE ARITHMETIC (SOF10) fixture mirroring
    ``encode_jpeg_progressive_blocks`` scan-for-scan: interleaved DC first
    scan at Al=1 (the F.1.4.4.1.1 DC model on the shifted diffs), DC
    refinement (one fixed-bin decision per block — the low bit), then one
    all-EOB AC scan per component over its TRUE block grid. Constant
    DC-only blocks keep the exact-reconstruction contract, so decode must
    equal the Huffman progressive fixture bit-for-bit."""
    ncomp, sampling, planes, grids, hmax, vmax, w, h = (
        _progressive_fixture_layout(planes, blocks_w, blocks_h, sampling,
                                    width, height)
    )
    out = _arith_headers(w, h, ncomp, sampling, sof=0xCA)

    def dc_block_order():
        return _mcu_dc_order(sampling, grids, blocks_w, blocks_h)

    # scan 1: DC first, interleaved, Al=1 — arithmetic diffs in shifted units
    out += _sos_segment(list(range(1, ncomp + 1)), 0, 0, 0, 1)
    enc = ja.ArithEncoder()
    dc_st = ja.DCStats()
    preds = [0] * ncomp
    contexts = [0] * ncomp
    for ci, k in dc_block_order():
        shifted = (int(planes[ci][k]) - 128) >> 1  # arithmetic shift
        contexts[ci] = ja.encode_dc_diff(enc, dc_st, contexts[ci], shifted - preds[ci])
        preds[ci] = shifted
    out += enc.flush()
    # scan 2: DC refinement (Ah=1 -> Al=0): fixed-bin low bit per block
    out += _sos_segment(list(range(1, ncomp + 1)), 0, 0, 1, 0)
    enc = ja.ArithEncoder()
    fixed = bytearray([ja.FIXED_BIN_STATE])
    for ci, k in dc_block_order():
        enc.encode((int(planes[ci][k]) - 128) & 1, fixed, 0)
    out += enc.flush()
    # per-component all-zero AC scans over the TRUE (unpadded) block grid
    zero_ac = [0] * 64
    for ci in range(ncomp):
        hs, vs = sampling[ci]
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        n_true = ((cw + 7) // 8) * ((ch + 7) // 8)
        out += _sos_segment([ci + 1], 1, 63, 0, 0)
        enc = ja.ArithEncoder()
        ac_st = ja.ACStats()
        for _ in range(n_true):
            ja.encode_ac_block(enc, ac_st, zero_ac)
        out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_arith_progressive_coeffs(coeff_blocks, blocks_w: int, blocks_h: int) -> bytes:
    """Grayscale SOF10 fixture from FULL quantized coefficient blocks in
    FOUR scans — DC first (Al=1), DC refinement, AC first (Al=1, coding
    the point-transformed sign(v)*(|v|>>1)), AC refinement (Al=0:
    correction bits widen surviving magnitudes, |v|==1 coefficients enter
    as newly-significant) — exercising decode_ac_refine's kex/EOB walk,
    which the constant-block fixture never touches. Reconstruction is
    exact: |v| = (|v|>>1)*2 + (|v|&1)."""
    blocks = [list(cb) for cb in coeff_blocks]
    if len(blocks) != blocks_w * blocks_h:
        raise ValueError("coefficient block count != block grid")
    out = _arith_headers(8 * blocks_w, 8 * blocks_h, 1, [(1, 1)], sof=0xCA)

    # scan 1: DC first, Al=1
    out += _sos_segment([1], 0, 0, 0, 1)
    enc = ja.ArithEncoder()
    dc_st = ja.DCStats()
    pred = context = 0
    for cb in blocks:
        if len(cb) != 64:
            raise ValueError("coefficient block must be 64 zig-zag values")
        shifted = int(cb[0]) >> 1
        context = ja.encode_dc_diff(enc, dc_st, context, shifted - pred)
        pred = shifted
    out += enc.flush()
    # scan 2: DC refinement
    out += _sos_segment([1], 0, 0, 1, 0)
    enc = ja.ArithEncoder()
    fixed = bytearray([ja.FIXED_BIN_STATE])
    for cb in blocks:
        enc.encode(int(cb[0]) & 1, fixed, 0)
    out += enc.flush()
    # scan 3: AC first, Al=1 — the AC point transform truncates toward zero
    def pt(v: int) -> int:
        return (abs(v) >> 1) * (1 if v > 0 else -1)

    out += _sos_segment([1], 1, 63, 0, 1)
    enc = ja.ArithEncoder()
    ac_st = ja.ACStats()
    for cb in blocks:
        ja.encode_ac_block(enc, ac_st, [pt(int(v)) for v in cb])
    out += enc.flush()
    # scan 4: AC refinement, Ah=1 -> Al=0
    out += _sos_segment([1], 1, 63, 1, 0)
    enc = ja.ArithEncoder()
    ac_st = ja.ACStats()
    for cb in blocks:
        prev = np.zeros((8, 8), dtype=np.int64)
        target = np.zeros((8, 8), dtype=np.int64)
        for k in range(1, 64):
            v = int(cb[k])
            prev[_ZIGZAG[k]] = pt(v) << 1
            target[_ZIGZAG[k]] = v
        encode_ac_refine(enc, ac_st, prev, target, _ZIGZAG, 1, 63, 0)
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_arith_12bit_gray_blocks(
    block_values, blocks_w: int, blocks_h: int
) -> bytes:
    """12-bit SOF9 (extended sequential, arithmetic) grayscale fixture
    mirroring ``encode_jpeg_12bit_gray_blocks``: constant blocks of
    0..4095, DC = v - 2048 with quantizer 8 (Pq=1 16-bit DQT) — decode is
    exact and the mean normalizes by 4095. The DC magnitude ladder covers
    the full 12-bit diff range (category up to X12), which the 8-bit
    fixtures never reach."""
    vals = [int(v) for v in block_values]
    if len(vals) != blocks_w * blocks_h:
        raise ValueError("block value count != blocks_w * blocks_h")
    for v in vals:
        if not 0 <= v <= 4095:
            raise ValueError(f"block value {v} outside 0..4095")
    out = _arith_headers(8 * blocks_w, 8 * blocks_h, 1, [(1, 1)], prec=12)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    enc = ja.ArithEncoder()
    dc_st, ac_st = ja.DCStats(), ja.ACStats()
    pred = context = 0
    zero_ac = [0] * 64
    for v in vals:
        dc = v - 2048  # quantized DC: 8*(v-2048) / qDC=8, exact
        context = ja.encode_dc_diff(enc, dc_st, context, dc - pred)
        pred = dc
        ja.encode_ac_block(enc, ac_st, zero_ac)
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_arith_lossless(
    planes, predictor: int = 4, precision: int = 8, pt: int = 0,
    restart_interval: int = 0, dc_cond: tuple[int, int] = (0, 1),
) -> bytes:
    """Spec-valid LOSSLESS ARITHMETIC (SOF11) JPEG — the
    encode_jpeg_lossless sample walk (same predictors, edge rules, point
    transform, mod-65536 signed residues, restart resync) with the QM
    coder + the H.1.2.3 (Da, Db)-conditioned statistical model as the
    entropy layer. `dc_cond` lands in the DAC segment (Tc=0 table 0), so
    non-default conditioning bounds exercise the parse path. Mirrors
    the lossless scan walk exactly — decode is bit-exact for pt=0."""
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
    out += b"\xff\xcb" + struct.pack(
        ">HBHHB", 8 + 3 * ncomp, precision, h, w, ncomp
    )
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x11, 0])  # 1x1 sampling, no quant table
    lo, hi = dc_cond
    out += b"\xff\xcc" + struct.pack(">H", 4) + bytes([0x00, (hi << 4) | lo])
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x00])  # Td=0 conditioning table
    out += bytes([predictor, 0, pt & 0x0F])

    shifted = [p >> pt for p in planes]
    default_pred = 1 << (precision - 1 - pt)
    # every component selects conditioning table 0, so they SHARE one
    # statistics area (F.1.4.4.1.3) — matching the decoder's per-Td dict
    st0 = ja.LosslessStats(lo, hi)
    diffs = [np.zeros((h, w), dtype=np.int64) for _ in planes]
    enc = ja.ArithEncoder()
    mcu = 0
    start_mcu = 0
    fresh = True
    first_line = 0
    for y in range(h):
        for x in range(w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                out += enc.flush()
                out += bytes([0xFF, 0xD0 + ((mcu // restart_interval) - 1) % 8])
                enc = ja.ArithEncoder()
                st0.reset()
                fresh = True
                first_line = y
                start_mcu = mcu
            for ci, p in enumerate(shifted):
                d = diffs[ci]
                if fresh:
                    px = default_pred
                elif y == first_line:
                    px = int(p[y, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])
                else:
                    px = _predict(p, predictor, y, x)
                diff = ((int(p[y, x]) - px + 0x8000) & 0xFFFF) - 0x8000
                cls_a = (
                    st0.classify5(int(d[y, x - 1]))
                    if x > 0 and (y * w + x - 1) >= start_mcu
                    else 0
                )
                cls_b = (
                    st0.classify5(int(d[y - 1, x]))
                    if y > 0 and ((y - 1) * w + x) >= start_mcu
                    else 0
                )
                encode_lossless_diff(enc, st0, cls_a, cls_b, diff)
                d[y, x] = diff
            fresh = False
            mcu += 1
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Huffman fixture encoders: 12-bit sequential (SOF1), hierarchical gray
# (SOF0 + SOF5) and hierarchical lossless (SOF3 + SOF7)
# ---------------------------------------------------------------------------


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
                px = _predict(plane, predictor, y, x)
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


# ---------------------------------------------------------------------------
# lossless (SOF3) fixture encoder — arbitrary sample grids, EXACT
# reconstruction by construction (no quantization anywhere in the mode),
# so tests can drive random images through every predictor and precision.
# ---------------------------------------------------------------------------


def encode_jpeg_lossless(
    planes, predictor: int = 4, precision: int = 8, pt: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """Spec-valid LOSSLESS (SOF3) JPEG from 1 or 3 full-resolution sample
    grids (list of (h, w) integer arrays in [0, 2^P - 1]): per-sample
    Huffman-coded prediction differences, any predictor 1..7, precision
    2..16, optional point transform Pt (coding v >> pt) and restart
    interval (entropy resync + default first prediction). Mirrors
    the lossless scan walk exactly — decode is bit-exact for pt=0."""
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
                    px = _predict(p, predictor, y, x)
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
