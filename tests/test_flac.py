"""FLAC codec tests (round 11) — no Spark.

Covers: encode/decode roundtrip exactness across subframe kinds, bit
depths, channel counts and frame boundaries; the hand-built decoder paths
the fixture encoder does not emit (LPC, stereo decorrelation, wasted
bits, escape partitions); the error contract (CRC-8/CRC-16/MD5 tamper,
truncation, reserved fields); fuzz never-misdecodes; and the composition
contract — flac_to_wav output feeds every existing WAV consumer."""

from __future__ import annotations

import random
import struct

import pytest

from hive_server_spark.functions.flac import (
    _BitWriter,
    _crc8,
    _crc16,
    _write_utf8_number,
    decode_flac,
    decode_flac_stats,
    encode_flac,
    flac_to_wav,
    parse_flac,
)


def test_roundtrip_exact_all_subframe_kinds():
    rng = random.Random(11)
    ch0 = [rng.randrange(-30000, 30000) for _ in range(777)]
    ch1 = [rng.randrange(-30000, 30000) for _ in range(777)]
    for kind in ("verbatim", "fixed1", "lpc2", "lpc8"):
        # 777 = 4*192 + 9: the tail block is EXACTLY lpc8's warmup+1
        p = encode_flac([ch0, ch1], 44100, 16, block_size=192, subframe=kind)
        rate, nch, bits, chans = decode_flac(p)
        assert (rate, nch, bits) == (44100, 2, 16)
        assert chans == [ch0, ch1]
    p = encode_flac([[-7] * 500, [3] * 500], 8000, 8, subframe="constant")
    assert decode_flac(p)[3] == [[-7] * 500, [3] * 500]


def test_roundtrip_auto_mixes_constant_and_fixed():
    # first block constant, second block varying -> 'auto' picks per block
    samples = [100] * 256 + list(range(-128, 128))
    p = encode_flac([samples], 16000, 16, block_size=256, subframe="auto")
    assert decode_flac(p)[3] == [samples]


def test_roundtrip_24_bit_and_8_channels():
    rng = random.Random(24)
    chans = [
        [rng.randrange(-(1 << 23), 1 << 23) for _ in range(65)]
        for _ in range(8)
    ]
    p = encode_flac(chans, 48000, 24, subframe="verbatim")
    rate, nch, bits, out = decode_flac(p)
    assert (rate, nch, bits) == (48000, 8, 24)
    assert out == chans


def test_parse_flac_dispatch_and_streaminfo():
    assert parse_flac(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert parse_flac(b"") is None
    p = encode_flac([[1, 2, 3, 4]], 8000, 16)
    info = parse_flac(p)
    assert info["sample_rate"] == 8000
    assert info["channels"] == 1
    assert info["bits"] == 16
    assert info["total_samples"] == 4


def _lpc_frame_stream(samples, coefs, shift, prec_bits, bits=16, rate=8000):
    """Hand-build a single-frame FLAC stream with one LPC subframe — the
    decoder path the fixture encoder never emits. Residuals are computed
    from the exact integer predictor, so roundtrip must be exact."""
    import hashlib

    order = len(coefs)
    n = len(samples)
    res = []
    for i in range(order, n):
        acc = sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
        res.append(samples[i] - (acc >> shift))

    w = _BitWriter()
    w.write(0x3FFE, 14)
    w.write(0, 2)
    w.write(7, 4)       # 16-bit block size follows
    w.write(0, 4)       # rate from STREAMINFO
    w.write(0, 4)       # 1 channel
    w.write(4, 3)       # 16-bit samples
    w.write(0, 1)
    _write_utf8_number(w, 0)
    w.write(n - 1, 16)
    w.align()
    hdr = w.bytes()

    w = _BitWriter()
    w.write(0, 1)
    w.write(0x20 | (order - 1), 6)   # LPC subframe
    w.write(0, 1)                    # no wasted bits
    for s in samples[:order]:
        w.write(s, bits)
    w.write(prec_bits - 1, 4)
    w.write(shift, 5)
    for c in coefs:
        w.write(c, prec_bits)
    # verbatim-escape residual partition: order 0, escape code, 17 bits
    w.write(0, 2)
    w.write(0, 4)
    w.write(15, 4)
    w.write(17, 5)
    for e in res:
        w.write(e, 17)
    w.align()
    frame = hdr + bytes([_crc8(hdr)]) + w.bytes()
    frame += struct.pack(">H", _crc16(frame))

    si = _BitWriter()
    si.write(n, 16); si.write(n, 16)
    si.write(len(frame), 24); si.write(len(frame), 24)
    si.write(rate, 20); si.write(0, 3); si.write(bits - 1, 5)
    si.write(n, 36)
    md5 = hashlib.md5()
    for s in samples:
        md5.update(int(s).to_bytes(2, "little", signed=True))
    streaminfo = si.bytes() + md5.digest()
    return b"fLaC" + bytes([0x80]) + b"\x00\x00\x22" + streaminfo + frame


def test_lpc_subframe_and_escape_partition_decode_exactly():
    rng = random.Random(5)
    samples = [rng.randrange(-20000, 20000) for _ in range(50)]
    p = _lpc_frame_stream(samples, coefs=[3, -2], shift=1, prec_bits=4)
    rate, nch, bits, chans = decode_flac(p)
    assert chans == [samples]


def _stereo_frame_stream(left, right, ch_code, bits=16, rate=8000):
    """Hand-build a one-frame stereo stream using a decorrelated channel
    assignment (8=left/side, 9=right/side, 10=mid/side), verbatim
    subframes — pins the reconstruction identities."""
    import hashlib

    n = len(left)
    if ch_code == 8:
        c0, c1 = left, [l - r for l, r in zip(left, right)]
        extra = (0, 1)
    elif ch_code == 9:
        c0, c1 = [l - r for l, r in zip(left, right)], right
        extra = (1, 0)
    else:
        c0 = [(l + r) >> 1 for l, r in zip(left, right)]
        c1 = [l - r for l, r in zip(left, right)]
        extra = (0, 1)

    w = _BitWriter()
    w.write(0x3FFE, 14)
    w.write(0, 2)
    w.write(7, 4)
    w.write(0, 4)
    w.write(ch_code, 4)
    w.write(4, 3)
    w.write(0, 1)
    _write_utf8_number(w, 0)
    w.write(n - 1, 16)
    w.align()
    hdr = w.bytes()

    w = _BitWriter()
    for ch, ex in zip((c0, c1), extra):
        w.write(0, 1)
        w.write(1, 6)  # verbatim
        w.write(0, 1)
        for v in ch:
            w.write(v, bits + ex)
    w.align()
    frame = hdr + bytes([_crc8(hdr)]) + w.bytes()
    frame += struct.pack(">H", _crc16(frame))

    si = _BitWriter()
    si.write(n, 16); si.write(n, 16)
    si.write(len(frame), 24); si.write(len(frame), 24)
    si.write(rate, 20); si.write(1, 3); si.write(bits - 1, 5)
    si.write(n, 36)
    md5 = hashlib.md5()
    for i in range(n):
        md5.update(int(left[i]).to_bytes(2, "little", signed=True))
        md5.update(int(right[i]).to_bytes(2, "little", signed=True))
    streaminfo = si.bytes() + md5.digest()
    return b"fLaC" + bytes([0x80]) + b"\x00\x00\x22" + streaminfo + frame


@pytest.mark.parametrize("ch_code", [8, 9, 10])
def test_stereo_decorrelation_modes_reconstruct_exactly(ch_code):
    rng = random.Random(ch_code)
    left = [rng.randrange(-30000, 30000) for _ in range(64)]
    right = [rng.randrange(-30000, 30000) for _ in range(64)]
    p = _stereo_frame_stream(left, right, ch_code)
    rate, nch, bits, chans = decode_flac(p)
    assert nch == 2
    assert chans == [left, right]


def test_wasted_bits_shift_back():
    """A subframe with k wasted bits stores samples >> k and the decoder
    must shift them back (all our samples share a low zero bit)."""
    samples = [v * 4 for v in range(-30, 34)]  # 2 wasted bits
    import hashlib

    n = len(samples)
    w = _BitWriter()
    w.write(0x3FFE, 14); w.write(0, 2)
    w.write(7, 4); w.write(0, 4); w.write(0, 4); w.write(4, 3); w.write(0, 1)
    _write_utf8_number(w, 0)
    w.write(n - 1, 16)
    w.align()
    hdr = w.bytes()
    w = _BitWriter()
    w.write(0, 1); w.write(1, 6)
    w.write(1, 1)        # wasted-bits flag
    w.write(1, 2)        # unary 2 -> "01" (k = count+1 = 2)
    for v in samples:
        w.write(v >> 2, 14)
    w.align()
    frame = hdr + bytes([_crc8(hdr)]) + w.bytes()
    frame += struct.pack(">H", _crc16(frame))
    si = _BitWriter()
    si.write(n, 16); si.write(n, 16)
    si.write(len(frame), 24); si.write(len(frame), 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5); si.write(n, 36)
    md5 = hashlib.md5()
    for s in samples:
        md5.update(int(s).to_bytes(2, "little", signed=True))
    p = b"fLaC" + bytes([0x80]) + b"\x00\x00\x22" + si.bytes() + md5.digest() + frame
    assert decode_flac(p)[3] == [samples]


def test_error_contract_tamper_and_truncation():
    p = bytearray(encode_flac([[10, 20, 30, 25]], 8000, 16, subframe="verbatim"))
    info = parse_flac(bytes(p))
    fo = info["frame_offset"]

    with pytest.raises(ValueError, match="CRC-8"):
        bad = bytearray(p)
        # header = 4 fixed bytes + 1 utf8 byte + 2 block-size bytes; the
        # CRC-8 byte sits right after — flip it, header bytes unchanged
        bad[fo + 7] ^= 0x01
        decode_flac(bytes(bad))
    with pytest.raises(ValueError, match="CRC-16"):
        bad = bytearray(p)
        bad[-1] ^= 0x01  # frame CRC itself
        decode_flac(bytes(bad))
    with pytest.raises(ValueError, match="MD5"):
        # a changed sample with CORRECT frame CRCs: only the stream MD5
        # can catch it — splice re-encoded frames under the old STREAMINFO
        good = encode_flac([[10, 20, 30, 25]], 8000, 16, subframe="verbatim")
        tampered = encode_flac([[10, 20, 31, 25]], 8000, 16, subframe="verbatim")
        gi = parse_flac(good)["frame_offset"]
        decode_flac(good[:gi] + tampered[gi:])
    with pytest.raises(ValueError, match="truncated"):
        decode_flac(bytes(p[:-3]))
    with pytest.raises(ValueError, match="STREAMINFO"):
        decode_flac(b"fLaC" + bytes([0x81]) + b"\x00\x00\x02" + b"ab")
    with pytest.raises(ValueError, match="sample count mismatch"):
        vals = list(range(20))
        two = encode_flac([vals], 8000, 16, block_size=16)       # 16+4 frames
        i2 = parse_flac(two)["frame_offset"]
        one = encode_flac([vals[:16]], 8000, 16, block_size=16)  # 1 frame
        i1 = parse_flac(one)["frame_offset"]
        # STREAMINFO says 20 samples, only one 16-sample frame present
        decode_flac(two[:i2] + one[i1:])


def test_fuzz_never_misdecodes():
    """Random mutations either decode to the identical samples (mutation
    hit a don't-care byte — impossible here since every byte is covered
    by a CRC or the MD5), raise ValueError, or dispatch None. Any other
    exception breaks the codec error contract."""
    rng = random.Random(99)
    base = encode_flac(
        [[rng.randrange(-100, 100) for _ in range(50)]], 8000, 16,
        subframe="fixed1",
    )
    for _ in range(400):
        b = bytearray(base)
        for _ in range(rng.randint(1, 3)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            decode_flac(bytes(b))
        except ValueError:
            pass


def test_flac_to_wav_composes_with_wav_consumers():
    """The transcode output must parse under _wav_parse and produce the
    same stats/fingerprint inputs the original samples imply — the
    composition contract that lets resample_audio and the audio
    fingerprint run on FLAC sources unchanged."""
    from hive_server_spark.functions.multimodal import (
        _decode_wav,
        _resample_linear,
        _wav_parse,
    )

    samples = [((i * 37) % 256) - 128 for i in range(200)]
    p = encode_flac([samples], 8000, 8, subframe="verbatim")
    w = flac_to_wav(p)
    rate, nch, bits, ba, data = _wav_parse(w)
    assert (rate, nch, bits) == (8000, 1, 8)
    assert list(data) == [(s + 128) & 0xFF for s in samples]
    # stats agree between the FLAC profile and the WAV decode
    fr, fch, fbits, fn, fmean = decode_flac_stats(p)
    wr, wch, wbits, wn, wmean = _decode_wav(w)
    assert (fr, fch, fbits, fn) == (wr, wch, wbits, wn)
    # _decode_wav's 8-bit mean is the raw unsigned value (0..255);
    # decode_flac_stats normalizes to [0, 1] over the same shifted samples
    assert abs(fmean - wmean / 255.0) < 1e-12
    # and the resampler runs on the transcoded samples
    import numpy as np

    out = _resample_linear(np.array(list(data), dtype=np.int64), 8000, 16000)
    assert len(out) == 400

    # 16-bit stereo path
    rng = random.Random(3)
    l = [rng.randrange(-30000, 30000) for _ in range(64)]
    r = [rng.randrange(-30000, 30000) for _ in range(64)]
    w2 = flac_to_wav(encode_flac([l, r], 16000, 16))
    rate2, nch2, bits2, ba2, data2 = _wav_parse(w2)
    assert (rate2, nch2, bits2) == (16000, 2, 16)
    got = struct.unpack(f"<{len(data2) // 2}h", data2)
    assert list(got[0::2]) == l and list(got[1::2]) == r

    # dispatch + depth contract
    assert flac_to_wav(b"not flac") is None
    with pytest.raises(ValueError, match="24-bit"):
        flac_to_wav(encode_flac([[0, 1]], 8000, 24))


def test_flac_profile_oracle_parity(spark, tmp_path):
    """Full Spark-vs-DuckDB parity of the FLAC decode
    profile on a crafted corpus (incl. an empty doc — the '0' fallback and
    the verbatim degenerate) AND the sf0.001 corpus, plus a closed-form
    spot check of the integer amplitude total."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.plans.multimodal_pack import (
        _FLAC_ORACLE,
        multimodal_flac_profile,
    )
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    rows = [
        (0, "doc 0 -> fixed-predictor subframes"),
        (1, "doc 1 -> verbatim subframes here!!"),
        (2, ""),          # lpc2 slot, but hx '0' -> verbatim fallback
        (3, "doc 3 -> fixed-predictor again, short"),
        (4, "x"),         # verbatim slot, 2 hex chars
        (5, "doc 5 -> a genuine order-2 LPC clip with real residuals"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["t"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )

    for sf_dir in (str(tmp_path), SF_SMALL):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        oracle = con.execute(_FLAC_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = multimodal_flac_profile(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) > 0, sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir

    # closed-form spot checks: each variant group's amplitude is the
    # ascii sum of its members' uppercase hex expansions (doc_id % 3
    # rotation: 0/3 fixed1, 1/4 verbatim, 2/5 lpc2 — doc 2 is the
    # degenerate '0' fallback, doc 5 a genuine LPC decode)
    got = {
        r.variant: r
        for r in multimodal_flac_profile(spark, str(tmp_path)).collect()
    }
    hx1 = rows[1][1].encode().hex().upper()
    hx4 = rows[4][1].encode().hex().upper()
    hx5 = rows[5][1].encode().hex().upper()
    assert got["verbatim"].n_samples == len(hx1) + len(hx4)
    assert got["verbatim"].amp_total == sum(map(ord, hx1)) + sum(map(ord, hx4))
    assert got["fixed1"].n_clips == 2
    assert got["lpc2"].n_clips == 2
    assert got["lpc2"].n_samples == 1 + len(hx5)
    assert got["lpc2"].amp_total == ord("0") + sum(map(ord, hx5))


def test_flac_roundtrip_property():
    """Property (hypothesis): ANY sample array within range roundtrips
    exactly through encode_flac -> decode_flac for every subframe-kind /
    bit-depth / blocking combination the fixture encoder emits."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        samples=st.lists(
            st.integers(min_value=-128, max_value=127), min_size=1, max_size=400
        ),
        bits=st.sampled_from([8, 16]),
        kind=st.sampled_from(["verbatim", "fixed1", "lpc2", "lpc8", "auto"]),
        block=st.sampled_from([16, 192, 4096]),
    )
    def check(samples, bits, kind, block):
        warmup = {"fixed1": 2, "lpc2": 3, "lpc8": 9}
        if kind in warmup and any(
            len(samples[s : s + block]) < warmup[kind]
            for s in range(0, len(samples), block)
        ):
            kind = "auto"  # a short tail block cannot carry the predictor
        p = encode_flac([samples], 8000, bits, block_size=block, subframe=kind)
        rate, nch, got_bits, chans = decode_flac(p)
        assert (rate, nch, got_bits) == (8000, 1, bits)
        assert chans == [samples]

    check()


def test_multi_partition_method1_rice_decode():
    """Decoder paths no fixture exercises (review follow-up): residual
    method 1 (5-bit Rice parameters) with partition order 2 — partition 0
    carries (blocksize>>2) - order samples, the others a full quarter —
    including one escape partition. Hand-built fixed-order-1 frame;
    roundtrip must be exact."""
    import hashlib

    rng = random.Random(42)
    n = 64
    samples = [rng.randrange(-2000, 2000) for _ in range(n)]
    order = 1
    res = [samples[i] - samples[i - 1] for i in range(order, n)]

    w = _BitWriter()
    w.write(0x3FFE, 14); w.write(0, 2)
    w.write(7, 4); w.write(0, 4); w.write(0, 4); w.write(4, 3); w.write(0, 1)
    _write_utf8_number(w, 0)
    w.write(n - 1, 16)
    w.align()
    hdr = w.bytes()

    w = _BitWriter()
    w.write(0, 1)
    w.write(8 + order, 6)   # fixed predictor, order 1
    w.write(0, 1)
    w.write(samples[0], 16)
    w.write(1, 2)           # residual method 1: 5-bit parameters
    w.write(2, 4)           # partition order 2 -> 4 partitions
    idx = 0
    for p in range(4):
        cnt = (n >> 2) - (order if p == 0 else 0)
        part = res[idx : idx + cnt]
        idx += cnt
        if p == 1:
            w.write(31, 5)  # method-1 escape code
            w.write(13, 5)  # 13-bit verbatim residuals
            for e in part:
                w.write(e, 13)
        else:
            param = 4 + p
            w.write(param, 5)
            for e in part:
                u = (abs(e) << 1) - (1 if e < 0 else 0)
                q, low = u >> param, u & ((1 << param) - 1)
                for _ in range(q):
                    w.write(0, 1)
                w.write(1, 1)
                w.write(low, param)
    w.align()
    frame = hdr + bytes([_crc8(hdr)]) + w.bytes()
    frame += struct.pack(">H", _crc16(frame))

    si = _BitWriter()
    si.write(n, 16); si.write(n, 16)
    si.write(len(frame), 24); si.write(len(frame), 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5); si.write(n, 36)
    md5 = hashlib.md5()
    for s in samples:
        md5.update(int(s).to_bytes(2, "little", signed=True))
    p = b"fLaC" + bytes([0x80]) + b"\x00\x00\x22" + si.bytes() + md5.digest() + frame
    assert decode_flac(p)[3] == [samples]


def test_encode_flac_streaminfo_block_size_conformance():
    """RFC 9639 §8.2: STREAMINFO block sizes 0-15 are forbidden and the
    partial tail block is excluded from the min/max — the fixture encoder
    must emit conforming fields even for tiny streams, and reject nominal
    block sizes under 16."""
    # single 2-sample stream: the only (tail) block may undershoot, but
    # STREAMINFO must declare the clamped nominal size
    info = parse_flac(encode_flac([[1, 2]], 8000, 16))
    assert info["min_block"] >= 16 and info["max_block"] >= 16
    # multi-frame with a partial tail: min/max describe the FULL blocks
    info = parse_flac(encode_flac([list(range(100))], 8000, 16, block_size=48))
    assert info["min_block"] == 48 and info["max_block"] == 48
    with pytest.raises(ValueError, match="block size must be >= 16"):
        encode_flac([[0] * 40], 8000, 16, block_size=8)


def test_flac_corpus_fingerprints_like_wav(spark, tmp_path):
    """End-to-end composition: a FLAC-encoded audio corpus, transcoded
    through flac_to_wav inside the Arrow worker, must produce EXACTLY the
    fingerprint band table the same samples produce as native WAV — so
    every banded-dedup operator (band_candidates, the persisted
    incremental index) runs on FLAC sources unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F  # noqa: F401

    from hive_server_spark.functions.multimodal import (
        AUDIO_FP_FRAME_LEN,
        AUDIO_FP_FRAMES,
        AUDIO_FP_PREFIX_LEN,
        audio_fingerprint_bands,
        audio_fp_amplitude,
        synthesize_fpwav_media,
    )

    rows = [
        (10, "alpha audio header shared by a pair"),
        (12, "alpha audio header shared by a pair"),
        (21, "an unrelated second header, bytes.."),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["t"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    wav_bands = {
        r.media_id: (r.band0, r.band1, r.band2, r.band3)
        for r in audio_fingerprint_bands(synthesize_fpwav_media(docs)).collect()
    }

    # the same samples, FLAC-encoded (signed 8-bit) then transcoded back
    def flac_media(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                prefix = (text or "")[:AUDIO_FP_PREFIX_LEN]
                samples = []
                for k in range(AUDIO_FP_FRAMES):
                    a = audio_fp_amplitude(prefix, k, doc_id)
                    samples += [a] * AUDIO_FP_FRAME_LEN  # signed: 128+a - 128
                ids.append(doc_id)
                payloads.append(
                    encode_flac([samples], 16000, 8, subframe="auto")
                )
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "audio",
                    "payload": payloads,
                    "meta": [{"declared_format": "audio/flac"}] * len(ids),
                }
            )

    def transcode(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "audio",
                    "payload": [flac_to_wav(bytes(p)) for p in pdf["payload"]],
                    "meta": pdf["meta"],
                }
            )

    from hive_server_spark.functions.multimodal import MEDIA_SCHEMA

    flac_corpus = docs.select("doc_id", "text").mapInPandas(
        flac_media, schema=MEDIA_SCHEMA
    )
    as_wav = flac_corpus.mapInPandas(transcode, schema=MEDIA_SCHEMA)
    flac_bands = {
        r.media_id: (r.band0, r.band1, r.band2, r.band3)
        for r in audio_fingerprint_bands(as_wav).collect()
    }
    assert flac_bands == wav_bands
    assert flac_bands[10] == flac_bands[12]  # the planted pair survives


def test_flac_synthesis_lpc2_short_tail_block_falls_back(spark, tmp_path):
    """Round-12 review regression: a document long enough to leave a
    2-sample tail block (2049 UTF-8 bytes -> 4098 hex samples -> blocks
    [4096, 2] at the default 4096 blocking) in an lpc2 rotation slot
    (doc_id % 3 == 2) must fall back to verbatim coding instead of
    crashing the gate query — and still decode to the exact ascii sum."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.functions.multimodal import (
        flac_stats,
        synthesize_flac_media,
    )

    text = ("a" * 2049, "b" * 2048)  # 4098 samples (tail 2) / 4096 (exact)
    rows = [(2, text[0]), (5, text[1])]  # both lpc2 slots
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["t"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.media_id: (r.n_samples, r.amp_total)
        for r in flac_stats(synthesize_flac_media(docs)).collect()
    }
    for doc_id, txt in rows:
        hx = txt.encode().hex().upper()
        assert got[doc_id] == (len(hx), sum(map(ord, hx))), doc_id


def test_lpc8_emits_order8_subframe_and_gate_corpus_uses_it(spark, tmp_path):
    """VERDICT r12 item 5: the gate corpus must exercise the decoder's
    GENERAL LPC dot-product (order >= 8, different precision and shift
    from the order-2 special case), not just lpc2. Pins (a) the lpc8
    stream really carries an order-8 LPC subframe (stype 39 = 0x20 | 7 —
    first subframe header byte after frame header + CRC-8), and (b) the
    doc_id // 3 sub-rotation routes the ODD lpc slot byte-for-byte
    through lpc8."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.functions.multimodal import synthesize_flac_media

    samples = [(i * 7) % 200 - 100 for i in range(500)]
    p2 = encode_flac([samples], 8000, 8, subframe="lpc2")
    p8 = encode_flac([samples], 8000, 8, subframe="lpc8")
    assert decode_flac(p2)[3] == [samples]
    assert decode_flac(p8)[3] == [samples]
    assert p2 != p8  # different predictors, same exact decode

    # subframe header: frames start after the 4-byte 'fLaC' marker +
    # metadata; find the sync code, then the subframe type byte sits
    # right after the 5-byte fixed header + utf8 frame no + 2-byte block
    # size + CRC-8 (all byte-aligned here: blocking bit 16-bit path)
    sync = p8.find(b"\xff\xf8")
    assert sync >= 0
    stype_byte = p8[sync + 4 + 1 + 2 + 1]  # hdr(4) + fno(1) + bs(2) + crc8
    assert stype_byte >> 1 == 0x20 | 7  # order-8 LPC subframe

    rows = [(2, "x" * 64), (5, "y" * 64)]  # lpc slots: even -> lpc2, odd -> lpc8
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["t"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    payloads = {
        r.media_id: bytes(r.payload)
        for r in synthesize_flac_media(docs).collect()
    }
    for doc_id, txt in rows:
        hx = txt.encode().hex().upper()
        want_kind = "lpc2" if (doc_id // 3) % 2 == 0 else "lpc8"
        want = encode_flac(
            [[ord(c) - 128 for c in hx]],
            sample_rate=8000 + 1000 * (doc_id % 4),
            bits=8,
            subframe=want_kind,
        )
        assert payloads[doc_id] == want, (doc_id, want_kind)
