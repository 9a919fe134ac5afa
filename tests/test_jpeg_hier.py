"""Hierarchical JPEG (T.81 Annex J) decode tests.

DHP + EXP + differential-frame decode against a numpy mirror of the
spec's reconstruction (J.1.1.2 expansion, modulo-2^16 differential
addition, output clip), plus the error contracts the quarantine audit
sorts on."""

from __future__ import annotations

import numpy as np
import pytest

from hive_server_spark.functions import jpeg
from hive_server_spark.functions.jpeg import (
    _exp_expand,
    decode_jpeg,
    decode_jpeg_samples,
    encode_jpeg_hierarchical_gray,
)


def _blocks_to_image(vals, bw, bh):
    img = np.zeros((8 * bh, 8 * bw), dtype=np.int64)
    for k, v in enumerate(vals):
        by, bx = divmod(k, bw)
        img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = v
    return img


def _mirror(base, bw, bh, stages):
    """Numpy reconstruction mirror: base image, then per stage EXP-expand
    and add the stage's per-block diffs, mod 2^16; clip at output."""
    ref = _blocks_to_image(base, bw, bh)
    gw, gh = bw, bh
    for eh, ev, diffs in stages:
        ref = _exp_expand(ref, eh, ev)
        gw *= 2 if eh else 1
        gh *= 2 if ev else 1
        ref = (ref + _blocks_to_image(diffs, gw, gh)) % 65536
    return np.clip(ref, 0, 255)


def test_exp_expand_semantics():
    a = np.array([[10, 20], [30, 40]], dtype=np.int64)
    h = _exp_expand(a, 1, 0)
    # even cols copy, odd cols floor((a+b+1)/2), edge replicates
    assert h.tolist() == [[10, 15, 20, 20], [30, 35, 40, 40]]
    v = _exp_expand(a, 0, 1)
    # odd rows average with the row below; the LAST row replicates
    assert v.tolist() == [[10, 20], [20, 30], [30, 40], [30, 40]]
    hv = _exp_expand(a, 1, 1)
    assert hv.shape == (4, 4)
    assert hv[0].tolist() == [10, 15, 20, 20]
    assert hv[3].tolist() == [30, 35, 40, 40]
    # no-op flags return the input unchanged
    assert _exp_expand(a, 0, 0) is a


def test_hierarchical_single_stage_exact():
    base = [40, 80, 120, 200]
    diffs = [3, -3, 7, -7, 1, -1, 2, -2, 11, -11, 5, -5, 0, 9, -9, 4]
    payload = encode_jpeg_hierarchical_gray(
        base, 2, 2, [(1, 1, diffs)], restart_interval=2
    )
    w, h, samples = decode_jpeg_samples(payload)
    assert (w, h) == (32, 32)
    expected = _mirror(base, 2, 2, [(1, 1, diffs)])
    assert np.array_equal(samples.astype(np.int64), expected)


def test_hierarchical_multi_stage_and_axis_flags():
    """Three stages with different EXP axes and a same-size refinement —
    every intermediate expansion interpolates across real block edges."""
    base = [10, 250]
    stages = [
        (1, 0, [5, -5, 6, -6]),          # 32x8: horizontal only
        (0, 1, [1, 2, 3, 4, -1, -2, -3, -4]),  # 32x16: vertical only
        (0, 0, [0, 1, 0, -1, 2, 0, -2, 0]),    # same-size refinement
    ]
    payload = encode_jpeg_hierarchical_gray(base, 2, 1, stages)
    w, h, samples = decode_jpeg_samples(payload)
    assert (w, h) == (32, 16)
    assert np.array_equal(
        samples.astype(np.int64), _mirror(base, 2, 1, stages)
    )


def test_hierarchical_mean_contract():
    payload = encode_jpeg_hierarchical_gray([100], 1, 1, [(1, 1, [5, -10, 20, -30])])
    w, h, mean = decode_jpeg(payload)
    assert (w, h) == (16, 16)
    expected = _mirror([100], 1, 1, [(1, 1, [5, -10, 20, -30])]).mean() / 255.0
    assert mean == pytest.approx(expected, abs=1e-12)


def test_hierarchical_clip_after_wraparound():
    """A differential that drives a sample below 0 wraps modulo 2^16
    (J.1) and clips at output — pinned so the mod-arithmetic stance is
    explicit, never an accidental negative pixel."""
    payload = encode_jpeg_hierarchical_gray([10], 1, 1, [(0, 0, [-50])])
    _w, _h, samples = decode_jpeg_samples(payload)
    assert samples.min() == samples.max() == 255  # 10-50 mod 65536 -> clip


@pytest.mark.parametrize("seed", range(5))
def test_hierarchical_property_random_stages(seed):
    rng = np.random.default_rng(seed)
    bw, bh = int(rng.integers(1, 4)), int(rng.integers(1, 4))
    base = rng.integers(0, 256, size=bw * bh).tolist()
    gw, gh = bw, bh
    stages = []
    for _ in range(int(rng.integers(1, 4))):
        eh, ev = int(rng.integers(0, 2)), int(rng.integers(0, 2))
        gw *= 2 if eh else 1
        gh *= 2 if ev else 1
        diffs = rng.integers(-40, 41, size=gw * gh).tolist()
        stages.append((eh, ev, diffs))
    ri = int(rng.choice([0, 1, 2, 5]))
    payload = encode_jpeg_hierarchical_gray(base, bw, bh, stages, restart_interval=ri)
    w, h, samples = decode_jpeg_samples(payload)
    assert (w, h) == (8 * gw, 8 * gh)
    assert np.array_equal(samples.astype(np.int64), _mirror(base, bw, bh, stages))


def test_hierarchical_error_contracts():
    payload = bytearray(
        encode_jpeg_hierarchical_gray([100], 1, 1, [(1, 1, [1, 2, 3, 4])])
    )
    # EXP flags out of range
    bad = bytearray(payload)
    i = bad.index(b"\xff\xdf") + 4
    bad[i] = 0x23
    with pytest.raises(ValueError, match="EXP flags"):
        decode_jpeg(bytes(bad))
    # a second DHP header (the DHP chunk is 2 marker + 11 length bytes)
    i = payload.index(b"\xff\xde")
    dhp = bytes(payload[i : i + 13])
    with pytest.raises(ValueError, match="multiple DHP"):
        decode_jpeg(bytes(payload[: i + 13]) + dhp + bytes(payload[i + 13 :]))
    # EOI straight after DHP (no frames decoded)
    with pytest.raises(ValueError, match="EOI before scan data"):
        decode_jpeg(bytes(payload[: i + 13]) + b"\xff\xd9")
    # EXP outside a hierarchical sequence
    flat = bytearray(jpeg.encode_jpeg_gray_blocks([100], 1, 1))
    exp_seg = b"\xff\xdf\x00\x03\x11"
    j = flat.index(b"\xff\xc0")
    with pytest.raises(ValueError, match="EXP marker outside"):
        decode_jpeg(bytes(flat[:j]) + exp_seg + bytes(flat[j:]))


def test_hierarchical_final_resolution_mismatch():
    # tamper the DHP dimensions so the last frame no longer matches
    payload = bytearray(
        encode_jpeg_hierarchical_gray([100], 1, 1, [(1, 1, [1, 2, 3, 4])])
    )
    i = payload.index(b"\xff\xde")
    payload[i + 5 : i + 7] = (8).to_bytes(2, "big")  # DHP Y: 16 -> 8
    with pytest.raises(ValueError, match="does not match the DHP"):
        decode_jpeg(bytes(payload))


def test_hierarchical_differential_needs_reference():
    # differential frame naming a component the base never coded: craft a
    # base frame with component id 1 and a differential frame with id 2
    payload = encode_jpeg_hierarchical_gray([100], 1, 1, [(0, 0, [5])])
    b = bytearray(payload)
    # the differential frame's SOF5 component id byte: marker(2) +
    # length(2) + P(1) + Y(2) + X(2) + Nf(1) -> offset 10
    i = b.index(b"\xff\xc5") + 10
    assert b[i] == 1
    b[i] = 2
    # ... and the matching SOS selector: marker(2) + length(2) + Ns(1)
    j = b.index(b"\xff\xda", i) + 5
    assert b[j] == 1
    b[j] = 2
    with pytest.raises(ValueError, match="undecoded component"):
        decode_jpeg(bytes(b))


def test_hierarchical_fuzz_never_misdecodes():
    """Random byte mutations either decode, raise ValueError, or dispatch
    None — the shared codec error contract."""
    import random

    rng = random.Random(7)
    payload = encode_jpeg_hierarchical_gray(
        [60, 90], 2, 1, [(1, 1, [2, -2, 4, -4, 6, -6, 8, -8])]
    )
    for _ in range(300):
        b = bytearray(payload)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            decode_jpeg(bytes(b))
        except ValueError:
            pass


# ---------------------------------------------------------------------------
# full process matrix: every T.81 frame process
# decodes inside a hierarchical sequence, under both entropy coders
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("process", ["seq", "prog", "arith", "arith-prog"])
def test_hierarchical_all_dct_processes_exact(process):
    from hive_server_spark.functions.jpeg import (
        encode_jpeg_hierarchical_gray_process,
    )

    base = [40, 200]
    stages = [
        (1, 1, [3, -3, 7, -7, 11, -11, 1, -1]),
        (0, 0, [1, 0, -1, 2, 0, -2, 3, -3]),  # same-size refinement
    ]
    ri = 2 if process in ("seq", "arith") else 0
    payload = encode_jpeg_hierarchical_gray_process(
        base, 2, 1, stages, process=process, restart_interval=ri
    )
    w, h, samples = decode_jpeg_samples(payload)
    assert (w, h) == (32, 16)
    assert np.array_equal(
        samples.astype(np.int64), _mirror(base, 2, 1, stages)
    )


@pytest.mark.parametrize("precision", [8, 12, 16])
def test_hierarchical_lossless_exact(precision):
    from hive_server_spark.functions.jpeg import (
        encode_jpeg_hierarchical_lossless,
    )

    rng = np.random.default_rng(precision)
    maxval = (1 << precision) - 1
    base = rng.integers(0, maxval + 1, size=(5, 7))
    d1 = rng.integers(-30, 31, size=(5, 14))
    d2 = rng.integers(-30, 31, size=(10, 14))
    payload = encode_jpeg_hierarchical_lossless(
        base, [(1, 0, d1), (0, 1, d2)], predictor=5, precision=precision,
        restart_interval=3,
    )
    w, h, samples = decode_jpeg_samples(payload)
    assert (w, h) == (14, 10)
    ref = (_exp_expand(base.astype(np.int64), 1, 0) + d1) % 65536
    ref = (_exp_expand(ref, 0, 1) + d2) % 65536
    expected = np.clip(ref, 0, maxval)
    assert np.array_equal(samples.reshape(expected.shape).astype(np.int64), expected)


def test_hierarchical_lossless_arith_exact():
    from tests.jpeg_arith_encoders import encode_jpeg_hierarchical_lossless_arith

    rng = np.random.default_rng(9)
    base = rng.integers(0, 256, size=(5, 6))
    d1 = rng.integers(-30, 31, size=(10, 12))
    payload = encode_jpeg_hierarchical_lossless_arith(
        base, [(1, 1, d1)], predictor=6, dc_cond=(0, 2)
    )
    _w, _h, samples = decode_jpeg_samples(payload)
    expected = np.clip(
        (_exp_expand(base.astype(np.int64), 1, 1) + d1) % 65536, 0, 255
    )
    assert np.array_equal(samples.reshape(expected.shape).astype(np.int64), expected)


def test_hierarchical_mixed_dct_base_lossless_refinement():
    """The classic hierarchical use: a lossy DCT base frame plus a final
    LOSSLESS differential refinement (SOF0 then SOF7), with the DHT
    redefined between frames — crafted by concatenating the frame-bytes
    helpers around a second DHT segment."""
    import struct

    from hive_server_spark.functions.jpeg import (
        _ENC_AC_COUNTS,
        _ENC_AC_SYMBOLS,
        _ENC_DC_COUNTS,
        _ENC_DC_SYMBOLS,
        _ENC_LL_COUNTS,
        _ENC_LL_SYMBOLS,
        _ENC_QUANT_ZIGZAG,
        _hier_seq_frame_bytes,
        _ll_hier_frame_bytes,
    )

    base = [100, 50]  # 16x8 base
    rng = np.random.default_rng(4)
    residual = rng.integers(-5, 6, size=(8, 16))  # per-sample lossless diff
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + _ENC_QUANT_ZIGZAG
    out += b"\xff\xde" + struct.pack(">HBHHB", 11, 8, 8, 16, 1) + bytes([1, 0x11, 0])
    dht = bytes([0x00]) + bytes(_ENC_DC_COUNTS) + _ENC_DC_SYMBOLS
    dht += bytes([0x10]) + bytes(_ENC_AC_COUNTS) + _ENC_AC_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    out += _hier_seq_frame_bytes(0xC0, base, 2, 1, 0, False)
    # redefine DC table 0 as the 5-bit lossless category table
    dht2 = bytes([0x00]) + bytes(_ENC_LL_COUNTS) + _ENC_LL_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht2)) + dht2
    out += _ll_hier_frame_bytes(0xC7, residual, 8, 4, 0, True)
    out += b"\xff\xd9"

    _w, _h, samples = decode_jpeg_samples(bytes(out))
    expected = np.clip(
        (_blocks_to_image(base, 2, 1) + residual) % 65536, 0, 255
    )
    assert np.array_equal(samples.reshape(expected.shape).astype(np.int64), expected)


def test_hierarchical_differential_lossless_requires_predictor_zero():
    from hive_server_spark.functions.jpeg import (
        encode_jpeg_hierarchical_lossless,
    )

    payload = bytearray(
        encode_jpeg_hierarchical_lossless(
            np.full((2, 2), 50), [(0, 0, np.full((2, 2), 3))]
        )
    )
    # tamper the differential frame's SOS predictor byte (Ss) from 0 to 1:
    # second SOS in the stream, Ss at offset marker+7
    first = payload.index(b"\xff\xda")
    second = payload.index(b"\xff\xda", first + 2)
    assert payload[second + 7] == 0
    payload[second + 7] = 1
    with pytest.raises(ValueError, match="predictor selection 0"):
        decode_jpeg(bytes(payload))


def test_hier_merge_clamps_nondifferential_dct_reference():
    """A non-differential DCT frame's reference is the frame's decoded
    OUTPUT, which T.81 clamps to [0, 2^P-1] (the single-frame path's
    _color_and_contract clip) — IDCT ringing below 0 (pre-shift sample
    -130 → -2 after +128) must store 0, not wrap modulo 2^16 to 65534
    (which _finish_hier would then clip to 255: a silent mis-decode on a
    valid hierarchical stream). Lossless references and differential adds
    keep the J.1 modulo-2^16 domain."""
    import numpy as np

    from hive_server_spark.functions.jpeg import _hier_merge

    frame = (1, 2, [(1, 1, 1, 0)], 8)  # 2x1, one component, P=8

    # DCT non-differential: ringing clamps at both rails
    refs = {}
    _hier_merge(
        refs, frame, [np.array([[-130.0, 130.0]])], False, (0, 0),
        level_shift=128,
    )
    assert refs[1].tolist() == [[0, 255]]

    # lossless non-differential (level_shift=0): modulo domain preserved
    refs2 = {}
    _hier_merge(
        refs2, frame, [np.array([[-2.0, 70000.0]])], False, (0, 0),
        level_shift=0,
    )
    assert refs2[1].tolist() == [[65534, 70000 % 65536]]

    # differential add still wraps modulo 2^16 (T.81 J.1)
    refs3 = {1: np.array([[65530, 10]], dtype=np.int64)}
    _hier_merge(
        refs3, frame, [np.array([[10.0, -20.0]])], True, (0, 0),
        level_shift=0,
    )
    assert refs3[1].tolist() == [[4, 65526]]
