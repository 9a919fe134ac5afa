"""JPEG arithmetic coding (T.81 Annexes D/F — functions/jpeg_arith.py,
SOF9 integration in functions/jpeg.py).

Conformance strategy: the QM coder + Table D.3 state machine are pinned
BYTE-FOR-BYTE by the T.81 §K.4 test sequence (a misremembered table entry
or a coder-mechanics slip cannot reproduce 29 consecutive bytes including
mid-stream 0xFF00 stuffing and carry events); everything above the raw
coder is pinned by encoder/decoder mirroring (round-trip over adversarial
random inputs) plus cross-coder equality — the same pixel content coded
as Huffman baseline and as SOF9 arithmetic must decode bit-identically.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from hive_server_spark.functions import jpeg
from hive_server_spark.functions import jpeg_arith as ja
from tests import jpeg_arith_encoders as jae

# T.81 §K.4: 256-bit test input and the spec's coded sequence (the code
# string body; the spec then discards trailing zero bytes and appends EOI)
_K4_INPUT = bytes.fromhex(
    "00020051" "000000C0" "0352872A" "AAAAAAAA"
    "82C02000" "FCD79EF6" "74EAABF7" "697EE74C"
)
_K4_CODED = bytes.fromhex(
    "655B5144" "F7969D51" "7855BFFF" "00FC5184" "C7CEF939" "00287D46" "708ECBC0" "F6"
)


def test_k4_conformance_encode():
    enc = ja.ArithEncoder()
    st = bytearray(1)  # single adaptive bin, state 0, MPS 0
    for byte in _K4_INPUT:
        for i in range(7, -1, -1):
            enc.encode((byte >> i) & 1, st, 0)
    assert enc.flush() == _K4_CODED


def test_k4_conformance_decode():
    dec = ja.ArithDecoder(_K4_CODED + b"\xff\xd9", 0)
    st = bytearray(1)
    bits = [dec.decode(st, 0) for _ in range(256)]
    want = [(byte >> i) & 1 for byte in _K4_INPUT for i in range(7, -1, -1)]
    assert bits == want


def test_raw_coder_round_trip_random():
    rng = random.Random(42)
    for trial in range(120):
        n = rng.randrange(1, 400)
        nbins = rng.randrange(1, 8)
        p = rng.choice([0.05, 0.3, 0.5, 0.9])
        bits = [1 if rng.random() < p else 0 for _ in range(n)]
        ctxs = [rng.randrange(nbins) for _ in range(n)]
        enc = ja.ArithEncoder()
        st_e = bytearray(nbins)
        for b, c in zip(bits, ctxs):
            enc.encode(b, st_e, c)
        dec = ja.ArithDecoder(enc.flush() + b"\xff\xd9", 0)
        st_d = bytearray(nbins)
        assert [dec.decode(st_d, c) for c in ctxs] == bits, f"trial {trial}"


def test_dc_model_round_trip_all_conditionings():
    rng = random.Random(3)
    for lo, hi in [(0, 1), (1, 3), (0, 0), (2, 8), (4, 4), (0, 15)]:
        diffs = [rng.randrange(-2000, 2000) for _ in range(300)]
        enc = ja.ArithEncoder()
        st = ja.DCStats(lo, hi)
        ctx = 0
        for d in diffs:
            ctx = ja.encode_dc_diff(enc, st, ctx, d)
        dec = ja.ArithDecoder(enc.flush() + b"\xff\xd9", 0)
        st2 = ja.DCStats(lo, hi)
        ctx = 0
        out = []
        for _ in diffs:
            d, ctx = ja.decode_dc_diff(dec, st2, ctx)
            out.append(d)
        assert out == diffs, (lo, hi)


def test_ac_model_round_trip_all_kx():
    rng = random.Random(5)
    for kx in [1, 5, 16, 63]:
        blocks = []
        for _ in range(60):
            vals = [0] * 64
            for _ in range(rng.randrange(0, 20)):
                vals[rng.randrange(1, 64)] = rng.randrange(-900, 900) or 7
            blocks.append(vals)
        enc = ja.ArithEncoder()
        st = ja.ACStats(kx)
        for vals in blocks:
            ja.encode_ac_block(enc, st, vals)
        dec = ja.ArithDecoder(enc.flush() + b"\xff\xd9", 0)
        st2 = ja.ACStats(kx)
        for bi, vals in enumerate(blocks):
            co = np.zeros((8, 8), dtype=np.int64)
            ja.decode_ac_block(dec, st2, co, jpeg._ZIGZAG)
            got = [int(co[jpeg._ZIGZAG[k]]) if k else 0 for k in range(64)]
            want = vals[:]
            want[0] = 0
            assert got == want, (kx, bi)


def test_cross_coder_gray_equality():
    """Same blocks, Huffman baseline vs SOF9 arithmetic: identical
    (width, height, mean) — including restart intervals, whose arithmetic
    semantics (flush + full coder/statistics/prediction reset) differ
    from Huffman's bit-padding resync."""
    rng = random.Random(7)
    for trial in range(25):
        bw, bh = rng.randrange(1, 6), rng.randrange(1, 6)
        vals = [rng.randrange(256) for _ in range(bw * bh)]
        ri = rng.choice([0, 0, 1, 2, 3])
        hp = jpeg.encode_jpeg_gray_blocks(vals, bw, bh, ri)
        ap = jae.encode_jpeg_arith_gray_blocks(vals, bw, bh, ri)
        h, a = jpeg.decode_jpeg(hp), jpeg.decode_jpeg(ap)
        assert h == a, (trial, bw, bh, ri)
        samples = jpeg.decode_jpeg_samples(ap)[2]
        assert np.array_equal(samples, jpeg.decode_jpeg_samples(hp)[2]), trial
        # both entry points run the one decode: the mean IS the samples' mean
        assert a[2] == samples.mean() / 255, trial


def test_cross_coder_ycbcr_420_equality():
    """Interleaved 3-component 4:2:0 with SHARED conditioning-table
    statistics but per-component DC contexts/predictions."""
    rng = random.Random(11)
    for trial in range(12):
        cbw, cbh = rng.randrange(1, 4), rng.randrange(1, 4)
        y = [rng.randrange(256) for _ in range(4 * cbw * cbh)]
        cb = [rng.randrange(256) for _ in range(cbw * cbh)]
        cr = [rng.randrange(256) for _ in range(cbw * cbh)]
        h = jpeg.decode_jpeg(jpeg.encode_jpeg_ycbcr_420_blocks(y, cb, cr, cbw, cbh))
        a = jpeg.decode_jpeg(
            jae.encode_jpeg_arith_ycbcr_420_blocks(y, cb, cr, cbw, cbh)
        )
        assert h == a, trial


def _expected_mean_from_coeffs(blocks, bw, bh):
    q = np.zeros((8, 8))
    for k in range(64):
        q[jpeg._ZIGZAG[k]] = 8 if k == 0 else 16
    planes = np.zeros((bh * 8, bw * 8))
    for i, cbk in enumerate(blocks):
        coeffs = np.zeros((8, 8))
        for k in range(64):
            coeffs[jpeg._ZIGZAG[k]] = cbk[k]
        blk = jpeg._DCT_M.T @ (coeffs * q) @ jpeg._DCT_M
        by, bx = divmod(i, bw)
        planes[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
    return float(np.clip(np.rint(planes + 128.0), 0, 255).mean()) / 255.0


def test_coeff_fixture_exercises_ac_ladders():
    """General quantized-coefficient SOF9 fixtures (runs, EOBs, deep
    magnitude ladders) against an independent IDCT expectation — proves
    the entropy layer reproduces every coefficient exactly."""
    rng = random.Random(13)
    for trial in range(15):
        bw, bh = rng.randrange(1, 5), rng.randrange(1, 5)
        blocks = []
        for _ in range(bw * bh):
            cbk = [0] * 64
            cbk[0] = rng.randrange(-128, 128)
            for _ in range(rng.randrange(0, 12)):
                cbk[rng.randrange(1, 64)] = rng.randrange(-255, 256) or 1
            blocks.append(cbk)
        w, hgt, mean = jpeg.decode_jpeg(
            jae.encode_jpeg_arith_gray_coeffs(blocks, bw, bh)
        )
        assert (w, hgt) == (bw * 8, bh * 8)
        assert mean == _expected_mean_from_coeffs(blocks, bw, bh), trial


def test_nondefault_dac_conditioning_end_to_end():
    """Non-default DAC conditioning (L/U/Kx) must flow from the DAC
    segment into the decoder's statistical models — pinned because a
    table-id or nibble-packing slip decodes garbage only on NON-default
    parameters (the regression this test caught during development)."""
    rng = random.Random(17)
    for dc_cond, kx in [((1, 3), 1), ((0, 0), 63), ((2, 8), 16), ((4, 12), 30)]:
        blocks = []
        for _ in range(6):
            cbk = [0] * 64
            cbk[0] = rng.randrange(-200, 200)
            for _ in range(10):
                cbk[rng.randrange(1, 64)] = rng.randrange(-300, 300) or 3
            blocks.append(cbk)
        payload = jae.encode_jpeg_arith_gray_coeffs(
            blocks, 3, 2, dc_cond=dc_cond, ac_kx=kx
        )
        w, hgt, mean = jpeg.decode_jpeg(payload)
        assert (w, hgt) == (24, 16)
        assert mean == _expected_mean_from_coeffs(blocks, 3, 2), (dc_cond, kx)


def test_fixed_bin_never_adapts():
    st = bytearray([ja.FIXED_BIN_STATE])
    enc = ja.ArithEncoder()
    for b in [0, 1, 1, 0, 1, 0, 0, 1] * 20:
        enc.encode(b, st, 0)
        assert st[0] == ja.FIXED_BIN_STATE
    dec = ja.ArithDecoder(enc.flush() + b"\xff\xd9", 0)
    st2 = bytearray([ja.FIXED_BIN_STATE])
    out = [dec.decode(st2, 0) for _ in range(160)]
    assert st2[0] == ja.FIXED_BIN_STATE
    assert out == [0, 1, 1, 0, 1, 0, 0, 1] * 20


def test_cross_coder_progressive_equality():
    """SOF10 constant-block fixtures (DC first Al=1 + fixed-bin DC
    refinement + all-EOB AC scans) decode identically to the Huffman
    progressive fixtures — gray, 4:2:0, and partial-MCU frames where the
    interleaved DC scans visit padding blocks the AC scans must not."""
    rng = random.Random(21)
    for trial in range(12):
        bw, bh = rng.randrange(1, 4), rng.randrange(1, 4)
        if trial % 2 == 0:
            planes = [[rng.randrange(256) for _ in range(bw * bh)]]
            sampling = None
            kw = {}
        else:
            planes = [
                [rng.randrange(256) for _ in range(4 * bw * bh)],
                [rng.randrange(256) for _ in range(bw * bh)],
                [rng.randrange(256) for _ in range(bw * bh)],
            ]
            sampling = [(2, 2), (1, 1), (1, 1)]
            kw = (
                {"width": 16 * bw - 5, "height": 16 * bh - 9}
                if trial % 4 == 1
                else {}
            )
        h = jpeg.decode_jpeg(
            jpeg.encode_jpeg_progressive_blocks(planes, bw, bh, sampling, **kw)
        )
        a = jpeg.decode_jpeg(
            jae.encode_jpeg_arith_progressive_blocks(planes, bw, bh, sampling, **kw)
        )
        assert h == a, trial


def test_progressive_arith_four_scan_refinement():
    """Four-scan SOF10 coefficient fixture (DC first/refine + AC first at
    Al=1 + AC refinement at Al=0) against the independent IDCT
    expectation — drives decode_ac_refine's kex/EOB walk: correction bits
    on surviving magnitudes, |v|==1 coefficients entering as
    newly-significant, EOB terminating blocks early."""
    rng = random.Random(13)
    for trial in range(12):
        bw, bh = rng.randrange(1, 5), rng.randrange(1, 5)
        blocks = []
        for _ in range(bw * bh):
            cbk = [0] * 64
            cbk[0] = rng.randrange(-128, 128)
            for _ in range(rng.randrange(0, 14)):
                cbk[rng.randrange(1, 64)] = rng.choice(
                    [1, -1, 2, -2, 3, -3, rng.randrange(-255, 256) or 1]
                )
            blocks.append(cbk)
        w, hgt, mean = jpeg.decode_jpeg(
            jae.encode_jpeg_arith_progressive_coeffs(blocks, bw, bh)
        )
        assert (w, hgt) == (bw * 8, bh * 8)
        assert mean == _expected_mean_from_coeffs(blocks, bw, bh), trial


def test_cross_coder_12bit_equality():
    """12-bit SOF9 vs 12-bit SOF1 Huffman: identical exact decode — the
    DC magnitude ladder runs to category X12 here, beyond anything the
    8-bit fixtures reach."""
    rng = random.Random(77)
    for trial in range(15):
        bw, bh = rng.randrange(1, 6), rng.randrange(1, 6)
        vals = [rng.randrange(4096) for _ in range(bw * bh)]
        h = jpeg.decode_jpeg(jae.encode_jpeg_12bit_gray_blocks(vals, bw, bh))
        a = jpeg.decode_jpeg(jae.encode_jpeg_arith_12bit_gray_blocks(vals, bw, bh))
        assert h == a, trial


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_h

    @settings(max_examples=60, deadline=None)
    @given(
        st_h.lists(
            st_h.tuples(st_h.booleans(), st_h.integers(0, 5)),
            min_size=1,
            max_size=600,
        )
    )
    def test_raw_coder_round_trip_property(seq):
        """Property form of the round-trip: ANY decision sequence over
        any context assignment survives encode->flush->decode exactly
        (hypothesis shrinks failures to minimal sequences)."""
        enc = ja.ArithEncoder()
        st_e = bytearray(6)
        for bit, ctx in seq:
            enc.encode(int(bit), st_e, ctx)
        dec = ja.ArithDecoder(enc.flush() + b"\xff\xd9", 0)
        st_d = bytearray(6)
        assert [dec.decode(st_d, ctx) for _, ctx in seq] == [
            int(b) for b, _ in seq
        ]

except ImportError:  # pragma: no cover - hypothesis is baked in normally
    pass


def test_differential_sofs_refused_outside_dhp():
    # differential SOFs decode only inside a hierarchical (DHP) sequence
    #; outside one they keep the strict-refusal stance
    payload = bytearray(jae.encode_jpeg_arith_gray_blocks([100], 1, 1))
    idx = payload.find(b"\xff\xc9")
    for sof in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
        p = bytearray(payload)
        p[idx + 1] = sof
        with pytest.raises(
            ValueError,
            match=f"SOF{sof - 0xC0} differential frame outside",
        ):
            jpeg.decode_jpeg(bytes(p))


def test_lossless_arith_roundtrip_all_predictors_and_precisions():
    """SOF11: random sample grids through every predictor (1-7),
    precisions 2..16, restart intervals, non-default DAC (L, U) bounds,
    and 1/3 components — decode must reproduce the exact sample plane
    (lossless + QM-coded residuals; the roundtrip pins encoder and
    decoder as exact mirrors of the H.1.2.3 model)."""
    import random

    import numpy as np

    from hive_server_spark.functions.jpeg import decode_jpeg_samples

    rng = random.Random(11)
    for trial in range(40):
        h, w = rng.randrange(1, 12), rng.randrange(1, 12)
        prec = rng.choice([2, 4, 8, 12, 16])
        pred = rng.randrange(1, 8)
        ri = rng.choice([0, 0, 0, 1, 3, 7])
        cond = rng.choice([(0, 1), (0, 1), (1, 3), (0, 4)])
        ncomp = rng.choice([1, 3])
        vmax = (1 << prec) - 1
        planes = [
            np.array(
                [[rng.randrange(vmax + 1) for _ in range(w)] for _ in range(h)]
            )
            for _ in range(ncomp)
        ]
        payload = jae.encode_jpeg_arith_lossless(
            planes, predictor=pred, precision=prec, restart_interval=ri,
            dc_cond=cond,
        )
        gw, gh, samples = decode_jpeg_samples(payload)
        assert (gw, gh) == (w, h), trial
        assert np.array_equal(samples, np.stack(planes).astype(float)), trial


def test_lossless_arith_matches_huffman_lossless():
    """Cross-mode equality: the same planes through SOF3 (Huffman) and
    SOF11 (arithmetic) must decode to IDENTICAL sample planes — the
    entropy layer cannot change a lossless reconstruction."""
    import random

    import numpy as np

    from hive_server_spark.functions.jpeg import decode_jpeg_samples

    rng = random.Random(23)
    for pred in range(1, 8):
        planes = [
            np.array(
                [[rng.randrange(256) for _ in range(7)] for _ in range(9)]
            )
        ]
        hp = jae.encode_jpeg_lossless(planes, predictor=pred)
        ap = jae.encode_jpeg_arith_lossless(planes, predictor=pred)
        wh_h, hh_h, s_h = decode_jpeg_samples(hp)
        wh_a, hh_a, s_a = decode_jpeg_samples(ap)
        assert (wh_h, hh_h) == (wh_a, hh_a)
        assert np.array_equal(s_h, s_a), pred
        assert jpeg.decode_jpeg(hp) == jpeg.decode_jpeg(ap), pred


def test_lossless_arith_point_transform_and_wraparound():
    import numpy as np

    from hive_server_spark.functions.jpeg import decode_jpeg_samples

    # Pt > 0: codes v >> Pt, decoder shifts back — Pt-truncated exactly
    samples = np.arange(64).reshape(8, 8) * 4 + 3
    _, _, s = decode_jpeg_samples(
        jae.encode_jpeg_arith_lossless([samples], precision=8, pt=2)
    )
    assert np.array_equal(s[0], ((samples >> 2) << 2).astype(float))
    # mod-65536 wraparound diff (-32768) at 16-bit precision: the
    # arithmetic model has no category-16 special — the magnitude ladder
    # must carry Sz = 32767 (msb 0x4000) without overflow
    wrap = np.array([[0, 32768, 0, 32768]])
    _, _, s = decode_jpeg_samples(
        jae.encode_jpeg_arith_lossless([wrap], predictor=1, precision=16)
    )
    assert np.array_equal(s[0], wrap.astype(float))


def test_lossless_arith_truncation_is_deterministic():
    """Truncation mid-scan zero-feeds (T.81 F.2.2.3) like the other
    arithmetic modes — deterministic output, never a garbage read."""
    import numpy as np

    img = np.arange(64).reshape(8, 8) * 3 % 256
    full = jae.encode_jpeg_arith_lossless([img])
    cut = full[:-6] + b"\xff\xd9"
    r1 = jpeg.decode_jpeg(cut)
    r2 = jpeg.decode_jpeg(cut)
    assert r1 == r2 and r1[0] == 8 and r1[1] == 8


def test_truncated_arith_stream_is_deterministic():
    """Truncation mid-scan zero-feeds (T.81 F.2.2.3) rather than raising:
    arithmetic scans have no codeword boundary to detect truncation at —
    but the result must be deterministic, not garbage-read."""
    full = jae.encode_jpeg_arith_gray_blocks(list(range(0, 256, 16)), 4, 4)
    # chop entropy bytes just before EOI
    cut = full[:-6] + b"\xff\xd9"
    r1 = jpeg.decode_jpeg(cut)
    r2 = jpeg.decode_jpeg(cut)
    assert r1 == r2 and r1[0] == 32 and r1[1] == 32


def test_restart_skips_unread_tail_to_marker():
    """The decoder reads lazily, so up to ~2 flush-tail bytes of a
    segment can be unread when its last MCU completes; restart() must
    skip forward over them — including FF00 stuffed pairs, which are
    data, not markers — to the RSTn and re-init (T.81 E.2.4)."""
    enc = ja.ArithEncoder()
    st = bytearray(1)
    bits = [1, 0, 1, 1, 0, 0, 1, 0] * 4
    for b in bits:
        enc.encode(b, st, 0)
    seg_b = enc.flush()
    # segment A: arbitrary unread bytes incl. a stuffed FF00 pair
    data = b"\x12\x34\xff\x00\x56" + b"\xff\xd0" + seg_b + b"\xff\xd9"
    dec = ja.ArithDecoder(data, 0)  # INITDEC consumes only 2 bytes of A
    dec.restart()
    st2 = bytearray(1)
    assert [dec.decode(st2, 0) for _ in bits] == bits


def test_restart_refuses_non_restart_marker():
    dec = ja.ArithDecoder(b"\x00\x00\xff\xd9", 0)
    with pytest.raises(ValueError, match="restart marker"):
        dec.restart()
