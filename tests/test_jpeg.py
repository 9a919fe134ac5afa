"""Unit tests for the pure-Python baseline JPEG codec (functions/jpeg.py).

No Spark needed: the codec runs inside the Arrow worker; its contract is
plain bytes → (width, height, mean_luma). The decode-exactness claims the
gate oracle relies on (constant DC-only blocks round-trip losslessly) are
pinned here, along with the error contract for every unsupported variant.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from hive_server_spark.functions import jpeg

from hive_server_spark.functions.jpeg import (
    decode_jpeg,
    encode_jpeg_gray_blocks,
    encode_jpeg_ycbcr_blocks,
)
from tests import jpeg_arith_encoders as jae


def _mean(vals, bw, bh):
    return sum(v * 64 for v in vals) / (bw * 8 * bh * 8) / 255.0


def test_gray_roundtrip_exact():
    vals = [48, 102, 70, 255, 0, 128]
    w, h, luma = decode_jpeg(encode_jpeg_gray_blocks(vals, 3, 2))
    assert (w, h) == (24, 16)
    assert luma == pytest.approx(_mean(vals, 3, 2), abs=1e-12)


def test_every_gray_level_exact_single_block():
    for v in range(0, 256, 5):
        w, h, luma = decode_jpeg(encode_jpeg_gray_blocks([v], 1, 1))
        assert (w, h) == (8, 8)
        assert luma == pytest.approx(v / 255.0, abs=1e-12), v


def test_restart_markers_resync():
    vals = list(range(40, 52))
    w, h, luma = decode_jpeg(encode_jpeg_gray_blocks(vals, 4, 3, restart_interval=2))
    assert (w, h) == (32, 24)
    assert luma == pytest.approx(_mean(vals, 4, 3), abs=1e-12)


def test_color_neutral_chroma_equals_gray():
    y = [10, 200, 99, 128]
    flat = [128] * 4
    w, h, luma = decode_jpeg(encode_jpeg_ycbcr_blocks(y, flat, flat, 2, 2))
    assert (w, h) == (16, 16)
    assert luma == pytest.approx(_mean(y, 2, 2), abs=1e-12)


def test_color_with_chroma_and_restarts_decodes():
    p = encode_jpeg_ycbcr_blocks([100] * 4, [90] * 4, [170] * 4, 2, 2, restart_interval=1)
    w, h, luma = decode_jpeg(p)
    assert (w, h) == (16, 16)
    assert 0.0 <= luma <= 1.0


def test_non_jpeg_returns_none():
    assert decode_jpeg(b"hello world") is None
    assert decode_jpeg(b"\x89PNG\r\n\x1a\n") is None
    assert decode_jpeg(b"") is None


def test_truncated_raises():
    p = encode_jpeg_gray_blocks([100], 1, 1)
    with pytest.raises(ValueError):
        decode_jpeg(p[:20])  # inside marker segments
    with pytest.raises(ValueError):
        decode_jpeg(p[:-12])  # inside the entropy stream


def test_progressive_roundtrip_exact():
    """SOF2 progressive decode: DC successive approximation
    (first scan Al=1, then a refinement scan), per-component AC scans —
    reconstruction at EOI must be bit-exact for the DC-only fixtures,
    including odd negative DC values (the refinement OR on two's
    complement)."""
    from hive_server_spark.functions.jpeg import encode_jpeg_progressive_blocks

    vals = [127, 129, 0, 255, 128, 1]  # odd/even, extremes, around the shift
    w, h, mean = decode_jpeg(encode_jpeg_progressive_blocks([vals], 3, 2))
    assert (w, h) == (24, 16)
    assert mean == pytest.approx(sum(vals) / len(vals) / 255.0, abs=1e-12)
    # 3-component with neutral chroma: decoded RGB == (Y, Y, Y)
    y = [50, 151, 250]
    flat = [128, 128, 128]
    w, h, mean = decode_jpeg(
        encode_jpeg_progressive_blocks([y, flat, flat], 3, 1)
    )
    assert (w, h) == (24, 8)
    assert mean == pytest.approx(sum(y) / len(y) / 255.0, abs=1e-12)


def test_progressive_ac_successive_approximation_hand_crafted():
    """Hand-built SOF2 stream exercising the non-trivial progressive AC
    paths: an AC-first scan at Al=1 placing coefficient k=1, then an AC
    refinement scan whose EOB-band correction bit restores the low bit —
    final coefficient exactly 3. The AC basis sums to zero over the block,
    so the mean must equal the DC value exactly (no clipping at 100)."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([8] + [16] * 63)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes([1, 0x11, 0])
    # DC table: categories 0..11 at length 4; AC table: EOB0='00', 0x11='01'
    dht = bytes([0x00]) + bytes([0, 0, 0, 12] + [0] * 12) + bytes(range(12))
    dht += bytes([0x10]) + bytes([0, 2] + [0] * 14) + bytes([0x00, 0x11])
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht

    def sos(ss, se, ah, al):
        return b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, ss, se, (ah << 4) | al])

    # v=100 -> d=-28; scan 1: DC first Al=1: diff=-14 (cat 4 '0100', bits
    # -14+15=1 -> '0001'); pad to byte with 1s
    out += sos(0, 0, 0, 1) + bytes([0b01000001, 0b11111111])
    # scan 2: DC refinement: low bit of -28 is 0 -> '0' + pad
    out += sos(0, 0, 1, 0) + bytes([0b01111111])
    # scan 3: AC first Al=1: k=1 symbol 0x11 ('01') + sign bit 1 (positive
    # magnitude 1 -> coef 1<<1 = 2), then EOB0 ('00') -> '011 00' + pad
    out += sos(1, 63, 0, 1) + bytes([0b01100111])
    # scan 4: AC refinement Al=0: EOB0 first ('00'), then the EOB band
    # correction bit for the nonzero k=1 coef: '1' -> coef 2 -> 3
    out += sos(1, 63, 1, 0) + bytes([0b00111111])
    out += b"\xff\xd9"
    w, h, mean = decode_jpeg(bytes(out))
    assert (w, h) == (8, 8)
    assert mean == pytest.approx(100 / 255.0, abs=1e-12)


def test_progressive_420_roundtrip_exact():
    """Progressive WITH subsampled chroma: interleaved DC
    scans over the 2x2 luma clusters + per-component AC scans over each
    component's own block grid must reconstruct the constant blocks
    exactly (neutral chroma -> decoded RGB == replicated luma)."""
    from hive_server_spark.functions.jpeg import encode_jpeg_progressive_blocks

    # 2x1 MCUs of 16x16 px: luma 4x2 blocks, chroma 2x1, neutral chroma
    y = [10, 251, 0, 255, 128, 1, 127, 129]
    flat = [128, 128]
    payload = encode_jpeg_progressive_blocks(
        [y, flat, flat], 2, 1, sampling=[(2, 2), (1, 1), (1, 1)]
    )
    w, h, mean = decode_jpeg(payload)
    assert (w, h) == (32, 16)
    assert mean == pytest.approx(sum(y) / len(y) / 255.0, abs=1e-12)
    # 4:2:2 variant: luma 2x1 per MCU, chroma 1x1
    y22 = [40, 220, 5, 99]
    payload = encode_jpeg_progressive_blocks(
        [y22, flat, flat], 2, 1, sampling=[(2, 1), (1, 1), (1, 1)]
    )
    w, h, mean = decode_jpeg(payload)
    assert (w, h) == (32, 8)
    assert mean == pytest.approx(sum(y22) / len(y22) / 255.0, abs=1e-12)


def test_progressive_420_partial_mcu_pad_blocks():
    """Partial-MCU progressive 4:2:0 frame: the interleaved DC scans
    carry MCU padding blocks that the per-component AC scans must NOT
    visit (true-grid walk), and reconstruction crops them away. Frame
    24x16 in 16x16 MCUs -> luma true grid 3x2 inside a padded 4x2."""
    from hive_server_spark.functions.jpeg import encode_jpeg_progressive_blocks

    # luma padded grid 4x2 (row-major); column 3 is MCU padding
    y = [11, 22, 33, 77, 44, 55, 66, 77]
    visible = [11, 22, 33, 44, 55, 66]
    flat = [128, 128]
    payload = encode_jpeg_progressive_blocks(
        [y, flat, flat], 2, 1, sampling=[(2, 2), (1, 1), (1, 1)],
        width=24, height=16,
    )
    w, h, mean = decode_jpeg(payload)
    assert (w, h) == (24, 16)
    assert mean == pytest.approx(sum(visible) / len(visible) / 255.0, abs=1e-12)


def test_420_subsampled_decode_exact():
    """4:2:0 (luma 2x2, chroma 1x1): MCU-interleaved decode with chroma
    pixel replication. Constant DC-only blocks and neutral chroma keep the
    round trip exact: mean = mean of the luma block constants."""
    from hive_server_spark.functions.jpeg import encode_jpeg_ycbcr_420_blocks

    y = [10, 20, 30, 40, 50, 60, 70, 80]  # luma grid 4x2 (chroma 2x1)
    p = encode_jpeg_ycbcr_420_blocks(y, [128, 128], [128, 128], 2, 1,
                                     restart_interval=1)
    w, h, mean = decode_jpeg(p)
    assert (w, h) == (32, 16)
    assert mean == pytest.approx(sum(y) / len(y) / 255.0, abs=1e-12)


def test_422_subsampled_decode_exact():
    """4:2:2 via the generalized sampling path (luma 2x1, chroma 1x1)."""
    from hive_server_spark.functions.jpeg import _encode_baseline

    y = [100, 120, 140, 160]  # luma grid 4x1 (2 MCUs wide)
    p = _encode_baseline([y, [128, 128], [128, 128]], 2, 1, 0,
                         sampling=[(2, 1), (1, 1), (1, 1)])
    w, h, mean = decode_jpeg(p)
    assert (w, h) == (32, 8)
    assert mean == pytest.approx(sum(y) / len(y) / 255.0, abs=1e-12)


def _upsample_model(vals, grid_w, grid_h, hs, vs, hmax, vmax, width, height):
    """Independent nearest-sample upsampling model: frame pixel (x, y) of a
    component with constant 8x8 blocks reads block (floor(y*vs/vmax)//8,
    floor(x*hs/hmax)//8) — the decoder's documented resampling contract,
    recomputed here from the block-value list without numpy gathers."""
    plane = []
    for y in range(height):
        sy = (y * vs) // vmax
        row = []
        for x in range(width):
            sx = (x * hs) // hmax
            row.append(vals[(sy // 8) * grid_w + (sx // 8)])
        plane.append(row)
    return plane


def test_fractional_ratio_sampling_decodes():
    """Fractional replication ratio (3x3 luma, 2x2 Cb -> ratio 3/2, 1x1 Cr
    -> ratio 3) decodes via the nearest-sample gather; with neutral chroma
    the decoded mean equals the luma model's mean exactly."""
    from hive_server_spark.functions.jpeg import _encode_baseline

    # 2x1 MCUs: luma grid 6x3 (18 blocks), cb grid 4x2 (8), cr grid 2x1 (2)
    y = [40 + 11 * i for i in range(18)]
    p = _encode_baseline(
        [y, [128] * 8, [128] * 2], 2, 1, 0,
        sampling=[(3, 3), (2, 2), (1, 1)],
    )
    w, h, mean = decode_jpeg(p)
    assert (w, h) == (48, 24)
    model = _upsample_model(y, 6, 3, 3, 3, 3, 3, 48, 24)
    expect = sum(sum(r) for r in model) / (48 * 24) / 255.0
    assert mean == pytest.approx(expect, abs=1e-12)


def test_fractional_ratio_chroma_resampling_exact():
    """Non-neutral Cb at ratio 3/2 exercises the fractional gather in the
    color math: per-pixel RGB is recomputed from the upsampled Y/Cb/Cr
    models with the same BT.601 + round + clip contract."""
    from hive_server_spark.functions.jpeg import _encode_baseline

    y = [90, 120, 150, 60, 200, 30, 140, 80, 110,
         95, 125, 155, 65, 205, 35, 145, 85, 115]
    cb = [128, 140, 116, 150, 128, 106, 134, 122]
    cr = [128, 136]
    p = _encode_baseline([y, cb, cr], 2, 1, 0,
                         sampling=[(3, 3), (2, 2), (1, 1)])
    w, h, mean = decode_jpeg(p)
    assert (w, h) == (48, 24)
    ym = _upsample_model(y, 6, 3, 3, 3, 3, 3, 48, 24)
    cbm = _upsample_model(cb, 4, 2, 2, 2, 3, 3, 48, 24)
    crm = _upsample_model(cr, 2, 1, 1, 1, 3, 3, 48, 24)
    total = 0.0
    for yy in range(24):
        for xx in range(48):
            lv, cbv, crv = ym[yy][xx], cbm[yy][xx] - 128, crm[yy][xx] - 128
            for ch in (
                lv + 1.402 * crv,
                lv - 0.344136 * cbv - 0.714136 * crv,
                lv + 1.772 * cbv,
            ):
                total += min(255.0, max(0.0, round(ch)))
    assert mean == pytest.approx(total / (48 * 24 * 3) / 255.0, abs=1e-12)


def test_16bit_quant_table_refused():
    p = bytearray(encode_jpeg_gray_blocks([100], 1, 1))
    idx = p.index(b"\xff\xdb")
    p[idx + 4] = 0x10  # Pq=1 (16-bit entries)
    # the segment is now short for a 16-bit table, but Pq is checked first
    with pytest.raises(ValueError):
        decode_jpeg(bytes(p))


def test_ac_coefficient_decodes_with_zero_mean_shift():
    """Hand-crafted scan exercising the AC run/magnitude path: every
    non-DC DCT basis function sums to zero over the block, so adding one
    AC coefficient must leave the mean EXACTLY unchanged (no clipping at
    mid-gray) while still being a legal, fully decoded stream."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([8] + [16] * 63)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes([1, 0x11, 0])
    # DC: 12 categories at length 4. AC: EOB (0x00) and 0x01 (run 0, size 1)
    # both at length 2 → canonical codes 00 and 01.
    dc_counts = [0, 0, 0, 12] + [0] * 12
    ac_counts = [0, 2] + [0] * 14
    dht = bytes([0x00]) + bytes(dc_counts) + bytes(range(12))
    dht += bytes([0x10]) + bytes(ac_counts) + bytes([0x00, 0x01])
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    # scan: DC cat 0 (0000) → DC diff 0 → block value 128; AC 0x01 (01) +
    # magnitude bit 1 → coeff +1 at zig-zag 1; EOB (00).
    # bits: 0000 01 1 00 → pad with 1s to 0000011 00111111
    out += bytes([0b00000110, 0b01111111])
    out += b"\xff\xd9"
    w, h, luma = decode_jpeg(bytes(out))
    assert (w, h) == (8, 8)
    assert luma == pytest.approx(128.0 / 255.0, abs=1e-12)


def test_bad_huffman_code_raises():
    p = bytearray(encode_jpeg_gray_blocks([100], 1, 1))
    p[-3] ^= 0x55  # corrupt the entropy bytes just before EOI
    with pytest.raises(ValueError):
        decode_jpeg(bytes(p))


def test_strict_dispatch_reports_jpeg_decoder():
    from hive_server_spark.functions.multimodal import _decode_one

    w, h, luma, decoder = _decode_one(encode_jpeg_gray_blocks([70], 1, 1), strict=True)
    assert decoder == "jpeg"
    assert (w, h) == (8, 8)
    assert luma == pytest.approx(70 / 255.0, abs=1e-12)


def test_12bit_extended_sequential_roundtrip_exact():
    """12-bit SOF1 decode: Pq=1 16-bit quant table, level shift
    2048, clamp to 0..4095, mean normalized by 4095 — exact for the
    constant-block fixture, including DC diffs spanning category 12."""
    vals = [0, 4095, 2048, 1, 4094, 2047]  # extreme swings -> category 12
    w, h, mean = decode_jpeg(jae.encode_jpeg_12bit_gray_blocks(vals, 3, 2))
    assert (w, h) == (24, 16)
    assert mean == pytest.approx(sum(vals) / len(vals) / 4095.0, abs=1e-12)


def test_12bit_baseline_sof0_still_refused():
    """Precision 12 under SOF0 stays invalid (T.81: baseline is 8-bit) —
    the 12-bit path is the SOF1 extended-sequential one."""
    p = bytearray(jae.encode_jpeg_12bit_gray_blocks([100], 1, 1))
    idx = p.index(b"\xff\xc1")
    p[idx + 1] = 0xC0  # SOF1 -> SOF0 while keeping precision 12
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(p))


def test_lossless_roundtrip_all_predictors_and_precisions():
    """SOF3 lossless: random sample grids through every predictor (1-7),
    precisions 2..16, restart intervals, and 1/3 components — decode must
    reproduce the exact sample mean (the mode has no quantization)."""
    import random

    rng = random.Random(5)
    for trial in range(60):
        h, w = rng.randrange(1, 12), rng.randrange(1, 12)
        prec = rng.choice([2, 4, 8, 12, 16])
        pred = rng.randrange(1, 8)
        ri = rng.choice([0, 0, 0, 1, 3, 7])
        ncomp = rng.choice([1, 3])
        vmax = (1 << prec) - 1
        planes = [
            np.array(
                [[rng.randrange(vmax + 1) for _ in range(w)] for _ in range(h)]
            )
            for _ in range(ncomp)
        ]
        payload = jae.encode_jpeg_lossless(
            planes, predictor=pred, precision=prec, restart_interval=ri
        )
        gw, gh, mean = jpeg.decode_jpeg(payload)
        assert (gw, gh) == (w, h)
        assert mean == float(np.stack(planes).mean()) / vmax, trial
        samples = jpeg.decode_jpeg_samples(payload)[2]
        assert np.array_equal(samples, np.stack(planes)), trial
        # both entry points run the one decode: the mean IS the samples' mean
        assert mean == samples.mean() / vmax, trial


def test_lossless_point_transform():
    """Pt > 0 codes v >> Pt and the decoder shifts back: output samples
    are the Pt-truncated values, exactly."""
    samples = np.arange(64).reshape(8, 8) * 4 + 3  # low bits nonzero
    payload = jae.encode_jpeg_lossless([samples], precision=8, pt=2)
    _, _, mean = jpeg.decode_jpeg(payload)
    assert mean == float(((samples >> 2) << 2).mean()) / 255.0


def test_lossless_category_16_wraparound():
    """diff == -32768 (mod-65536 wraparound) is category 16, coded with
    NO extra magnitude bits (T.81 H.1.2.2) — only reachable at 16-bit
    precision."""
    samples = np.array([[0, 32768, 0, 32768]])
    payload = jae.encode_jpeg_lossless([samples], predictor=1, precision=16)
    _, _, mean = jpeg.decode_jpeg(payload)
    assert mean == float(samples.mean()) / 65535.0


def test_lossless_rejects_subsampled_and_bad_predictor():
    with pytest.raises(ValueError, match="predictor"):
        jae.encode_jpeg_lossless([np.zeros((2, 2), dtype=int)], predictor=0)
    # hand-build a subsampled SOF3 header: decoder must refuse
    payload = bytearray(
        jae.encode_jpeg_lossless([np.zeros((2, 2), dtype=int)])
    )
    # SOF3 layout: FF C3 len(2) prec(1) H(2) W(2) Ncomp(1) cid hv tq
    idx = payload.find(b"\xff\xc3")
    payload[idx + 11] = 0x21  # component 1 sampling 2x1
    with pytest.raises(ValueError, match="subsampled"):
        jpeg.decode_jpeg(bytes(payload))


def test_decode_error_contract_under_mutation():
    """The corrupt-payload quarantine sorts decoders' failures by ERROR
    TYPE, so decode_jpeg must answer every malformed stream with a tuple,
    None, or ValueError — never IndexError/struct.error/KeyError (the
    fuzz that pinned this found a truncated-DHT short slice, a corrupted
    Se byte indexing past the zig-zag table, and short SOF/SOS/DRI
    segments hitting struct.unpack)."""
    import random

    rng = random.Random(99)

    def check(payload):
        try:
            r = jpeg.decode_jpeg(payload)
            assert r is None or (isinstance(r, tuple) and len(r) == 3)
        except ValueError:
            pass

    seeds = [
        jpeg.encode_jpeg_gray_blocks([10, 200, 30, 99], 2, 2),
        jae.encode_jpeg_arith_gray_blocks([10, 200, 30, 99], 2, 2, 2),
        jpeg.encode_jpeg_progressive_blocks([[10, 200, 30, 99]], 2, 2),
        jae.encode_jpeg_arith_progressive_blocks([[10, 200, 30, 99]], 2, 2),
        jae.encode_jpeg_lossless([[[1, 2], [3, 4]]], restart_interval=1),
        jae.encode_jpeg_arith_lossless([[[1, 2], [3, 4]]], restart_interval=1),
        jae.encode_jpeg_12bit_gray_blocks([1000, 3000], 2, 1),
    ]
    for seed in seeds:
        # every single-byte mutation at a few adversarial values
        for pos in range(2, len(seed)):
            for val in (0x00, 0xFF, seed[pos] ^ 0x80):
                m = bytearray(seed)
                m[pos] = val
                check(bytes(m))
        # every truncation point
        for i in range(2, len(seed)):
            check(seed[:i])
    # random garbage after SOI
    for _ in range(1500):
        check(b"\xff\xd8" + bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120))))


def test_odd_length_dac_segment_raises():
    """An odd-length DAC payload (the segment is 2-byte
    (Tc/Tb, Cs) pairs by construction, T.81 B.2.4.3) must raise the
    malformed-stream ValueError, not silently drop its trailing byte."""
    p = encode_jpeg_gray_blocks([100], 1, 1)
    assert p[:2] == b"\xff\xd8"
    # splice a DAC segment with a 3-byte payload right after SOI
    odd_dac = b"\xff\xcc\x00\x05\x00\x0a\x03"
    with pytest.raises(ValueError, match="DAC"):
        decode_jpeg(p[:2] + odd_dac + p[2:])
    # the even twin parses fine (valid (Tc/Tb, Cs) pair)
    even_dac = b"\xff\xcc\x00\x04\x00\x0a"
    assert decode_jpeg(p[:2] + even_dac + p[2:]) is not None
