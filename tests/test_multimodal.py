"""Multimodal plumbing: schema/partitioning/batch-shape are real, and so is
the codec for uncompressed raster formats — pure-Python PPM (P6/P3) and
24-bit BMP decoders run actual header parsing + pixel math in the Arrow
workers. Formats that would need external libs fall back to the
deterministic fake under strict=False (and error under strict=True)."""

from __future__ import annotations

import struct

import pytest

from hive_server_spark.catalog import load_table
from hive_server_spark.functions import multimodal as M
from tests.conftest import SF_SMALL


@pytest.fixture()
def media(spark):
    return M.synthesize_media(load_table(spark, SF_SMALL, "documents"))


SYNTHESIZERS = sorted(n for n in dir(M) if n.startswith("synthesize_"))


@pytest.mark.parametrize("name", SYNTHESIZERS)
def test_synthesizer_fans_out_a_one_split_input(spark, name):
    """Fan-out is the codec entry's job: every synthesizer handed a
    one-split `documents` frame yields defaultParallelism partitions, with
    the rows it yields over a frame spread beforehand."""
    from hive_server_spark.functions.text import spread

    docs = load_table(spark, SF_SMALL, "documents")
    synth = getattr(M, name)
    narrow = docs.coalesce(1)
    got = synth(narrow)
    assert got.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(got.collect()) == sorted(synth(spread(docs)).collect())


def test_media_schema(media):
    # names+types must match the declared contract (nullability flags may
    # differ: parquet-derived columns arrive nullable)
    got = [(f.name, f.dataType.simpleString()) for f in media.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in M.MEDIA_SCHEMA.fields]
    assert got == want
    r = media.first()
    assert bytes(r.payload) and r.meta.n_bytes == len(bytes(r.payload))


def test_decode_deterministic(media):
    a = {r.media_id: (r.width, r.height, r.mean_luma) for r in M.decode_media(media).collect()}
    b = {r.media_id: (r.width, r.height, r.mean_luma) for r in M.decode_media(media).collect()}
    assert a == b and len(a) == media.count()
    assert all(16 <= w < 256 and 16 <= h < 256 and 0 <= m <= 1 for (w, h, m) in a.values())


def test_decode_strict_raises_on_non_raster(spark, media):
    """synthesize_media payloads are raw text bytes (stand-ins for
    compressed formats) — strict mode must refuse them, not fake them."""
    with pytest.raises(Exception, match="unsupported media format"):
        M.decode_media(media, strict=True).collect()


def _ppm_p6(width, height, pixel_bytes):
    return f"P6\n{width} {height}\n255\n".encode() + pixel_bytes


def _bmp_24(width, height, rows_bgr, top_down=False):
    """Handcraft a 24-bpp BI_RGB BMP; rows_bgr is height rows of width*3
    bytes, listed top-to-bottom visually."""
    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)
    stored = rows_bgr if top_down else rows_bgr[::-1]
    pixel_data = b"".join(r + pad for r in stored)
    data_offset = 14 + 40
    file_size = data_offset + len(pixel_data)
    file_hdr = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height,
        1, 24, 0, len(pixel_data), 2835, 2835, 0, 0,
    )
    return file_hdr + info_hdr + pixel_data


def test_ppm_decoder_exact_pixel_math():
    px = bytes(range(24))  # 2x4 RGB = 24 bytes, mean = 11.5
    w, h, luma = M._decode_ppm(_ppm_p6(2, 4, px))
    assert (w, h) == (2, 4)
    assert abs(luma - 11.5 / 255.0) < 1e-9
    # P3 ascii variant, same image
    p3 = ("P3\n2 4\n255\n" + " ".join(str(b) for b in px)).encode()
    assert M._decode_ppm(p3) == (2, 4, luma)
    with pytest.raises(ValueError, match="truncated"):
        M._decode_ppm(_ppm_p6(4, 4, px))  # header promises 48 bytes
    assert M._decode_ppm(b"BM...") is None  # not PPM -> defer, don't raise


def test_bmp_decoder_ignores_stride_padding():
    # width=3 -> row is 9 bytes, stride pads to 12; padding must not skew
    rows = [bytes([255] * 9), bytes([0] * 9)]
    w, h, luma = M._decode_bmp(_bmp_24(3, 2, rows))
    assert (w, h) == (3, 2)
    assert abs(luma - 0.5) < 1e-9  # half white half black, pad excluded
    # top-down (negative height) stores rows in visual order; same stats
    assert M._decode_bmp(_bmp_24(3, 2, rows, top_down=True))[2] == luma
    with pytest.raises(ValueError, match="unsupported BMP"):
        bad = bytearray(_bmp_24(3, 2, rows))
        struct.pack_into("<H", bad, 28, 8)  # claim 8 bpp
        M._decode_bmp(bytes(bad))


def test_strict_decode_real_ppm_via_spark(spark):
    """End-to-end: column-expression-synthesized P6 payloads decode under
    strict=True inside mapInPandas, dims matching the synthesis formula."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMALL, "documents").limit(40)
    ppm = M.synthesize_ppm_media(docs)
    rows = M.decode_media(ppm, strict=True).collect()
    assert len(rows) == 40
    expected = {
        r.doc_id: 8 + r.n % 8
        for r in docs.select(
            "doc_id", F.octet_length(F.encode("text", "utf-8")).alias("n")
        ).collect()
    }
    for r in rows:
        assert r.decoder == "ppm"
        assert r.width == expected[r.media_id]
        assert 0.0 <= r.mean_luma <= 1.0


def test_features_are_normalized_histograms(media):
    rows = M.extract_features(media).collect()
    assert rows
    for r in rows[:50]:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-3
        assert all(f >= 0 for f in r.features)


def test_frame_sampling_partitions_payload(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(20)
    vids = M.synthesize_media(docs, kind="video")
    frames = M.sample_frames(vids, n_frames=4).collect()
    assert len(frames) == 20 * 4
    by_media = {}
    for f in frames:
        by_media.setdefault(f.media_id, []).append(f)
    for mid, fs in by_media.items():
        assert sorted(x.frame_idx for x in fs) == [0, 1, 2, 3]
        assert all(len(bytes(x.frame_payload)) > 0 for x in fs)


def test_features_feed_similarity_ops(spark, media):
    """Feature vectors must be consumable by the embedding operators."""
    from pyspark.sql import functions as F

    from hive_server_spark.functions.embeddings import cosine_expr

    feats = M.extract_features(media).limit(50)
    q = feats.where(F.col("media_id") == feats.first().media_id).select(
        F.col("features").alias("qf")
    )
    scored = (
        feats.crossJoin(F.broadcast(q))
        .withColumn("v", F.expr("CAST(features AS ARRAY<DOUBLE>)"))
        .withColumn("qv", F.expr("CAST(qf AS ARRAY<DOUBLE>)"))
        .withColumn("cosine", F.expr(cosine_expr("v", "qv", "s")))
    )
    rows = scored.collect()
    assert rows and any(abs(r.cosine - 1.0) < 1e-9 for r in rows)  # self-match


def test_nonstrict_fallback_on_magic_collision():
    """Payloads whose first bytes collide with PPM/BMP magic but are not
    valid rasters ('BMW…', 'P6 garbage') must fall back to the fake decoder
    under strict=False and propagate the codec diagnostic under strict=True."""
    for payload in (b"BMW sedans are popular", b"P6 not actually an image"):
        w, h, luma, dec = M._decode_one(payload, strict=False)
        assert dec == "fake-deterministic" and w >= 16 and h >= 16
        with pytest.raises(ValueError):
            M._decode_one(payload, strict=True)


def test_ppm_16bit_maxval_refused_not_misdecoded():
    """P6 with maxval > 255 is 2 bytes/sample; reading it as 8-bit would
    silently halve the pixel stream — must refuse instead."""
    payload = b"P6\n2 2\n65535\n" + bytes(24)
    with pytest.raises(ValueError, match="maxval"):
        M._decode_ppm(payload)
    # P3 ascii samples carry any maxval fine
    p3 = ("P3\n1 1\n65535\n" + "65535 0 0").encode()
    w, h, luma = M._decode_ppm(p3)
    assert (w, h) == (1, 1) and abs(luma - (65535 + 0 + 0) / 3 / 65535) < 1e-9


def test_ppm_header_truncated_at_whitespace_eof():
    with pytest.raises(ValueError, match="truncated PPM header"):
        M._decode_ppm(b"P6 1 2 ")


def test_ppm_nonpositive_maxval_refused():
    with pytest.raises(ValueError, match="invalid PPM maxval"):
        M._decode_ppm(b"P6\n1 1\n-7\n" + bytes([120, 120, 120]))
    with pytest.raises(ValueError, match="invalid PPM maxval"):
        M._decode_ppm(b"P3\n1 1\n0\n120 120 120")


def test_png_roundtrip_all_filter_types():
    """encode_png rotates row filters y % 5, so a 5-row image exercises
    None/Sub/Up/Average/Paeth; the decoder must reconstruct every pixel
    byte exactly (checked via the exact mean over a known array)."""
    import numpy as np

    rng = np.random.RandomState(42)
    px = rng.randint(0, 256, size=(10, 7, 3), dtype=np.uint8)
    w, h, luma = M._decode_png(M.encode_png(px))
    assert (w, h) == (7, 10)
    assert abs(luma - px.mean() / 255.0) < 1e-9


def test_png_unsupported_variants_refused_not_misdecoded():
    """16-bit, palette, and interlaced PNGs would silently produce wrong
    means if read as flat 8-bit RGB — strict decode must refuse them."""
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    for bit_depth, color_type, interlace in [(16, 2, 0), (8, 3, 0), (8, 2, 1)]:
        ihdr = struct.pack(">IIBBBBB", 2, 2, bit_depth, color_type, 0, 0, interlace)
        bad = (
            sig
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 32))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="unsupported PNG variant"):
            M._decode_png(bad)


def test_png_corrupt_and_truncated_refused():
    import numpy as np

    good = M.encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    with pytest.raises(ValueError):
        M._decode_png(good[:40])  # truncated mid-chunk
    # flip a byte inside the IDAT stream: zlib must fail loudly
    corrupt = bytearray(good)
    corrupt[45] ^= 0xFF
    with pytest.raises(ValueError):
        M._decode_png(bytes(corrupt))


def test_png_synthesis_matches_ppm_pixels(spark):
    """synthesize_png_media must produce images whose DECODED pixels are
    byte-identical to synthesize_ppm_media's — the property that lets one
    closed-form oracle value-gate both codecs."""
    docs = load_table(spark, SF_SMALL, "documents").limit(8)
    ppm = M.decode_media(M.synthesize_ppm_media(docs), strict=True)
    png = M.decode_media(M.synthesize_png_media(docs), strict=True)
    rows_ppm = {r.media_id: (r.width, r.height, round(r.mean_luma, 6))
                for r in ppm.collect()}
    rows_png = {r.media_id: (r.width, r.height, round(r.mean_luma, 6))
                for r in png.collect()}
    assert rows_ppm == rows_png
    assert {r.decoder for r in png.collect()} == {"png"}


def test_png_malformed_ihdr_is_valueerror_not_struct_error():
    """A truncated IHDR must surface as the codec's documented ValueError —
    struct.error would escape _decode_one's strict=False fallback and fail
    the whole Spark task instead of falling back to the fake decoder."""
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", b"\x00" * 10)  # 10 bytes, spec says 13
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="IHDR"):
        M._decode_png(bad)
    # non-strict dispatch falls back to the fake instead of crashing
    w, h, luma, decoder = M._decode_one(bad, strict=False)
    assert decoder == "fake-deterministic" and w > 0 and h > 0


# ---------------------------------------------------------------------------
# WAV audio codec (round 6)
# ---------------------------------------------------------------------------


def _wav(rate=16000, channels=1, bits=8, data=b"\x80" * 32, extra_chunks=()):
    """Hand-built RIFF/WAVE fixture via stdlib struct — independent of the
    Spark-side synthesis, so decoder and synthesizer cross-check each
    other."""
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * (bits // 8),
        channels * (bits // 8), bits,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    for cid, body in extra_chunks:
        chunks += cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_decode_8bit_exact():
    data = bytes(range(64))
    got = M._decode_wav(_wav(rate=8000, bits=8, data=data))
    assert got == (8000, 1, 8, 64, sum(data) / 64)


def test_wav_decode_16bit_stereo_abs_amplitude():
    samples = [-300, 300, -1000, 1000, 0, 0]  # 3 stereo frames
    data = struct.pack("<6h", *samples)
    rate, ch, bits, frames, mean_amp = M._decode_wav(
        _wav(rate=44100, channels=2, bits=16, data=data)
    )
    assert (rate, ch, bits, frames) == (44100, 2, 16, 3)
    assert mean_amp == sum(abs(s) for s in samples) / 6


def test_wav_chunk_walk_skips_unknown_and_pads_odd():
    # LIST metadata chunk with ODD size before data: the walker must skip
    # it including the alignment pad byte, or the data chunk id misparses
    data = bytes(range(10))
    payload = _wav(data=data, extra_chunks=[(b"LIST", b"INFOabc")])  # 7 bytes, odd
    got = M._decode_wav(payload)
    assert got is not None and got[3] == 10


def test_wav_error_contract():
    # not RIFF at all -> None (dispatch decides fake vs strict error)
    assert M._decode_wav(b"not audio at all") is None
    # RIFF but truncated chunk body -> ValueError
    good = _wav()
    with pytest.raises(ValueError, match="truncated"):
        M._decode_wav(good[:30])
    # non-PCM format tag refused, not misdecoded
    mutated = bytearray(_wav())
    mutated[20] = 3  # IEEE float tag
    with pytest.raises(ValueError, match="PCM"):
        M._decode_wav(bytes(mutated))
    # missing data chunk
    no_data = _wav()
    no_data = no_data[: no_data.index(b"data")]
    no_data = no_data[:4] + struct.pack("<I", len(no_data) - 8) + no_data[8:]
    with pytest.raises(ValueError, match="missing"):
        M._decode_wav(no_data)


def test_wav_synthesis_roundtrip_via_spark(spark):
    """The column-expression synthesis must produce payloads the real
    decoder reads back exactly: rate from the doc_id formula, mono 8-bit,
    n_samples from the byte-count formula, and a mean equal to the cycled
    hex-byte mean."""
    docs = load_table(spark, SF_SMALL, "documents").limit(24)
    dec = M.decode_audio(M.synthesize_wav_media(docs), strict=True)
    got = {r.media_id: r for r in dec.collect()}
    for d in docs.collect():
        raw = (d.text or "").encode()
        hx = raw.hex().upper() or "0"
        n_samples = 64 + len(raw) % 192
        smp = (hx * (n_samples // len(hx) + 1))[:n_samples].encode()
        r = got[d.doc_id]
        assert r.decoder == "wav"
        assert r.sample_rate == 8000 + (d.doc_id % 4) * 4000
        assert (r.n_channels, r.bits_per_sample, r.n_samples) == (1, 8, n_samples)
        assert round(r.mean_amp * n_samples) == sum(smp)


def test_wav_nonstrict_fake_pcm8(spark):
    media = M.synthesize_media(load_table(spark, SF_SMALL, "documents").limit(5),
                               kind="audio")
    rows = M.decode_audio(media, strict=False).collect()
    assert {r.decoder for r in rows} == {"fake-pcm8"}
    # strict mode refuses the same payloads
    with pytest.raises(Exception, match="RIFF/WAVE"):
        M.decode_audio(media, strict=True).collect()


# ---------------------------------------------------------------------------
# nearest-neighbor resize transform (round 6)
# ---------------------------------------------------------------------------


def test_nn_resize_exact_mapping():
    import numpy as np

    # 2x2 distinct pixels -> 4x4: each source pixel becomes a 2x2 block
    # under floor mapping sy = y*2//4
    src = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    up = M._nn_resize(src, 4, 4)
    assert up.shape == (4, 4, 3)
    for y in range(4):
        for x in range(4):
            assert (up[y, x] == src[y * 2 // 4, x * 2 // 4]).all()
    # downscale 4x4 -> 2x2 picks rows/cols 0 and 2
    down = M._nn_resize(up, 2, 2)
    assert (down == up[np.ix_([0, 2], [0, 2])]).all()


def test_resize_media_roundtrip_via_spark(spark):
    import numpy as np

    docs = load_table(spark, SF_SMALL, "documents").limit(6)
    media = M.synthesize_ppm_media(docs)
    resized = M.resize_media(media, 6, 5, strict=True)
    got = {r.media_id: bytes(r.payload) for r in resized.collect()}
    for d in docs.collect():
        raw = (d.text or "").encode()
        n = len(raw)
        w, h = 8 + n % 8, 8 + (n // 8) % 8
        hx = raw.hex().upper() or "0"
        need = w * h * 3
        px = (hx * (need // len(hx) + 1))[:need].encode()
        src = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
        expect = b"P6\n6 5\n255\n" + M._nn_resize(src, 6, 5).tobytes()
        assert got[d.doc_id] == expect
    # and the resized payloads decode cleanly with the strict codec
    dec = M.decode_media(resized, strict=True).collect()
    assert {(r.width, r.height, r.decoder) for r in dec} == {(6, 5, "ppm")}


def test_resize_strict_contract():
    # non-PPM payload: the shared parse returns None (resize's strict path
    # then raises — exercised end-to-end in
    # test_resize_media_nonstrict_passthrough)
    assert M._ppm_samples(b"not an image") is None
    # 16-bit P3 is parseable but must be refused by resize (re-encode at
    # maxval 255 would rescale silently) — strict path raises in the worker
    p3_16 = b"P3\n1 1\n1000\n500 0 1000"
    w, h, maxval, samples = M._ppm_samples(p3_16)
    assert (w, h, maxval) == (1, 1, 1000) and list(samples) == [500, 0, 1000]
    # sub-255 maxval is the same hazard (0..100-ranged samples re-encoded
    # at maxval 255 would silently re-normalize luma) — resize refuses any
    # maxval != 255; the parse itself stays permissive
    p3_100 = b"P3\n1 1\n100\n50 0 100"
    w, h, maxval, samples = M._ppm_samples(p3_100)
    assert (w, h, maxval) == (1, 1, 100) and list(samples) == [50, 0, 100]


def test_resize_media_nonstrict_passthrough(spark):
    media = M.synthesize_media(load_table(spark, SF_SMALL, "documents").limit(4))
    out = {r.media_id: bytes(r.payload)
           for r in M.resize_media(media, 6, 5, strict=False).collect()}
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    assert out == src
    with pytest.raises(Exception, match="maxval-255 PPM"):
        M.resize_media(media, 6, 5, strict=True).collect()


def test_decode_audit_verdicts(spark):
    """Every verdict class exercised: valid PPM, valid WAV, truncated PPM
    (malformed — right magic, broken body), and raw text (unsupported)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMALL, "documents").limit(8)
    ppm = M.synthesize_ppm_media(docs)
    trunc = ppm.select(
        "media_id", "kind",
        F.expr("substring(payload, 1, octet_length(payload) - 10)").alias("payload"),
        "meta",
    )
    wav = M.synthesize_wav_media(docs)
    raw = M.synthesize_media(docs)
    verdicts = {
        name: {r.verdict for r in M.decode_audit(m).collect()}
        for name, m in [("ppm", ppm), ("trunc", trunc), ("wav", wav), ("raw", raw)]
    }
    assert verdicts == {
        "ppm": {"ok-image"},
        "trunc": {"malformed"},
        "wav": {"ok-audio"},
        "raw": {"unsupported"},
    }


def test_audio_features_match_python_dsp(spark):
    """Exact-integer DSP features vs a python recompute over the decoded
    sample bytes of every synthesized clip (energy/crossings/peak in
    n-scaled units, so no float mean exists on either side)."""
    from hive_server_spark.catalog import load_table
    from hive_server_spark.functions import multimodal as M
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    media = M.synthesize_wav_media(docs)
    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    rows = {r.media_id: r for r in M.audio_features(media).collect()}
    assert set(rows) == set(payloads)
    for mid, p in payloads.items():
        rate, ch, bits, _block, data = M._wav_parse(p)
        assert (ch, bits) == (1, 8)
        s = list(data)
        n, total = len(s), sum(s)
        dev = [n * x - total for x in s]
        energy = sum(d * d for d in dev)
        zc = sum(1 for a, b in zip(dev, dev[1:]) if a * b < 0)
        peak = max(abs(d) for d in dev)
        r = rows[mid]
        assert (r.sample_rate, r.n_samples, r.sample_sum) == (rate, n, total)
        assert (r.energy_num, r.zero_crossings, r.peak_num) == (energy, zc, peak)
        assert abs(r.zcr - zc / (n - 1)) < 1e-15


def test_audio_features_rejects_non_wav(spark):
    """The strict contract: a non-RIFF payload fails loudly, not silently."""
    import pytest as _pytest

    from hive_server_spark.functions import multimodal as M

    bad = spark.createDataFrame(
        [(1, "audio", bytearray(b"not a wav"), None)],
        M.MEDIA_SCHEMA,
    )
    with _pytest.raises(Exception, match="RIFF|WAVE|audio_features"):
        M.audio_features(bad).collect()


def test_image_value_histogram_and_entropy_recompute(spark):
    """The histogram op vs a python recompute of the synthesis pixels
    (hex-of-text cycle), and the micro-nat entropy identity on top."""
    import math

    from hive_server_spark.functions import multimodal as M

    texts = [(0, "hello world"), (1, "abc"), (2, "zzzz zz")]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    hist = M.image_value_histogram(M.synthesize_png_media(docs)).collect()
    got = {}
    for r in hist:
        got.setdefault(r.media_id, {})[r.value] = (r.c, r.n)
    for doc_id, text in texts:
        data = text.encode()
        n = len(data)
        w, h = 8 + n % 8, 8 + (n // 8) % 8
        hx = data.hex().upper() or "0"
        need = w * h * 3
        px = (hx * (need // len(hx) + 1))[:need]
        counts = {}
        for ch in px:
            counts[ord(ch)] = counts.get(ord(ch), 0) + 1
        assert got[doc_id] == {v: (c, need) for v, c in counts.items()}
        # entropy identity: sum of per-value rounded micro-nat terms
        expected = sum(
            int(round(c * math.log(need / c) * 1e6)) for c in counts.values()
        )
        actual = sum(
            int(round(c * math.log(n_ / c) * 1e6))
            for c, n_ in got[doc_id].values()
        )
        assert actual == expected


def test_strict_decode_arithmetic_jpeg_via_spark(spark):
    """SOF9/SOF10 arithmetic payloads decode under strict=True inside
    mapInPandas — the round-9 QM-coder path wired through the actual
    Arrow-worker pipeline, values matching the local decoder exactly."""
    from hive_server_spark.functions import jpeg

    payloads = []
    for i in range(8):
        vals = [(i * 37 + k * 11) % 256 for k in range(4)]
        if i % 2 == 0:
            payloads.append(jpeg.encode_jpeg_arith_gray_blocks(vals, 2, 2))
        else:
            payloads.append(
                jpeg.encode_jpeg_arith_progressive_blocks([vals], 2, 2)
            )
    rows = [
        (i, "image", p, {"declared_format": "image/jpeg", "n_bytes": len(p)})
        for i, p in enumerate(payloads)
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    got = {r.media_id: r for r in M.decode_media(media, strict=True).collect()}
    assert len(got) == 8
    for i, p in enumerate(payloads):
        w, h, mean = jpeg.decode_jpeg(p)
        r = got[i]
        assert r.decoder == "jpeg"
        assert (r.width, r.height) == (w, h)
        assert abs(r.mean_luma - mean) < 1e-6  # FloatType carries ~7 digits


def test_phash_neardup_planted_duplicates(spark, tmp_path):
    """Planted-duplicate contract of multimodal_phash_neardup on a crafted
    corpus: same header + same parity -> exact dup (Hamming 0); same
    header + opposite parity -> near-dup at EXACTLY Hamming 1 (cell 0's
    parity encoding); distinct headers -> no candidate pair. Verified
    end-to-end through the REAL JPEG decode (dhash_bands), not the
    closed form."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark import gate
    from hive_server_spark.functions.multimodal import (
        dhash_bands,
        synthesize_dhash_jpeg_media,
    )

    # headers chosen so md5-derived cells differ wildly between groups
    rows = [
        (10, "alpha header shared by a trio of docs"),   # group A, even
        (12, "alpha header shared by a trio of docs"),   # group A, even: d=0
        (13, "alpha header shared by a trio of docs"),   # group A, odd:  d=1
        (20, "a completely different beta header text"), # group B, even
        (31, "gamma, a third unrelated header string"),  # group C, odd
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
    bands = {
        r.media_id: (r.band0, r.band1, r.band2, r.band3)
        for r in dhash_bands(
            synthesize_dhash_jpeg_media(
                spark.read.parquet(str(tmp_path / "documents.parquet"))
            )
        ).collect()
    }
    assert bands[10] == bands[12]  # exact dup
    hd = sum(bin(a ^ b).count("1") for a, b in zip(bands[10], bands[13]))
    assert hd == 1  # planted near-dup: exactly the parity bit
    assert bands[10] != bands[20] and bands[20] != bands[31]

    out = gate.spark_queries()["multimodal_phash_neardup"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_images == 5
    # group A contributes all 3 pairs (10,12) d=0, (10,13) d=1, (12,13) d=1;
    # B and C are singletons with uniform md5 bands — no random 16-bit
    # collision among 2 other images
    assert r.n_candidate_pairs == 3
    assert r.n_exact_pairs == 1
    assert r.n_neardup_pairs == 2
    assert r.sum_hamming == 2


def test_dhash_bands_match_closed_form_on_random_blocks(spark):
    """Property: for ANY 72-value block grid (not just the fixture
    derivation), encode -> real JPEG decode -> grid means -> dHash must
    equal the closed form computed directly on the block values (constant
    blocks decode exactly). Pins the row-major bit layout and the 16-bit
    band packing against regressions in either the decoder or the
    hasher."""
    import random

    import pandas as pd

    from hive_server_spark.functions.jpeg import encode_jpeg_gray_blocks
    from hive_server_spark.functions.multimodal import (
        DHASH_SCHEMA,
        dhash_bands,
    )

    rng = random.Random(1042)
    rows = []
    for media_id in range(12):
        vals = [rng.randrange(0, 256) for _ in range(72)]
        rows.append((media_id, vals, encode_jpeg_gray_blocks(vals, 9, 8)))

    def closed_form(vals):
        bands = [0, 0, 0, 0]
        for r in range(8):
            for c in range(8):
                if vals[r * 9 + c] < vals[r * 9 + c + 1]:
                    g = r * 8 + c
                    bands[g // 16] |= 1 << (g % 16)
        return tuple(bands)

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [r[0] for r in rows],
                "payload": [r[2] for r in rows],
            }
        )
    )
    got = {
        r.media_id: (r.band0, r.band1, r.band2, r.band3)
        for r in dhash_bands(media).collect()
    }
    assert got == {m: closed_form(v) for m, v, _ in rows}
    assert list(DHASH_SCHEMA.fieldNames()) == [
        "media_id", "band0", "band1", "band2", "band3",
    ]


def test_band_candidates_max_bucket_guard(spark):
    """The adversarial-input cap: a band bucket holding more than
    max_bucket images is dropped from candidate generation (its members
    belong to exact hash-dedup), while small buckets keep pairing —
    verbatim the minhash_candidates contract."""
    import pandas as pd

    from hive_server_spark.functions.multimodal import band_candidates

    # 6 identical hash rows (ids 0..5) + one small pair (10, 11)
    rows = [(i, 1, 2, 3, 4) for i in range(6)]
    rows += [(10, 9, 9, 9, 9), (11, 9, 8, 8, 8)]  # share band0 only
    bands = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "band0", "band1", "band2", "band3"])
    )
    uncapped = {tuple(r) for r in band_candidates(bands).collect()}
    assert (10, 11) in uncapped and (0, 1) in uncapped
    assert len(uncapped) == 15 + 1  # C(6,2) + the small pair
    capped = {tuple(r) for r in band_candidates(bands, max_bucket=4).collect()}
    assert capped == {(10, 11)}  # the size-6 buckets are dropped


def test_audio_fp_bands_match_closed_form(spark):
    """Property: the real WAV decode -> frame-energy -> bit -> band chain
    must equal the closed form on the frame amplitudes (constant frames
    decode exactly; energy is monotone in amplitude on the positive
    half). Uses the fixture synthesizer over a crafted corpus."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.functions.multimodal import (
        AUDIO_FP_FRAMES,
        AUDIO_FP_PREFIX_LEN,
        audio_fingerprint_bands,
        audio_fp_amplitude,
        synthesize_fpwav_media,
    )

    texts = [
        (10, "shared audio header text for a trio"),
        (12, "shared audio header text for a trio"),   # same parity: d=0
        (13, "shared audio header text for a trio"),   # odd parity:  d=1
        (20, "a different audio header entirely"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in texts], "doc_id long, text string"
    )
    got = {
        r.media_id: (r.band0, r.band1, r.band2, r.band3)
        for r in audio_fingerprint_bands(synthesize_fpwav_media(df)).collect()
    }

    def closed(doc_id, text):
        p = text[:AUDIO_FP_PREFIX_LEN]
        a = [audio_fp_amplitude(p, k, doc_id) for k in range(AUDIO_FP_FRAMES)]
        vals = [0, 0, 0, 0]
        for g in range(AUDIO_FP_FRAMES - 1):
            if a[g] < a[g + 1]:
                vals[g // 16] |= 1 << (g % 16)
        return tuple(vals)

    assert got == {i: closed(i, t) for i, t in texts}
    assert got[10] == got[12]
    hd = sum(bin(x ^ y).count("1") for x, y in zip(got[10], got[13]))
    assert hd == 1  # the planted parity bit


def test_audio_fp_neardup_oracle_parity(spark, tmp_path):
    """Full Spark-vs-DuckDB parity of the audio fingerprint near-dup
    query (registered in the round-10 driver window) over a crafted
    corpus AND the sf0.001 corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.plans.multimodal_pack import (
        _AUDIO_FP_ORACLE,
        multimodal_audio_fp_neardup,
    )
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    rows = [
        (0, "alpha header for the audio dedup test"),
        (2, "alpha header for the audio dedup test"),
        (3, "alpha header for the audio dedup test"),
        (7, "beta header, unrelated to the others"),
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
        oracle = con.execute(_AUDIO_FP_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = multimodal_audio_fp_neardup(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) == 1, sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir
    # crafted corpus: pairs (0,2) d=0, (0,3)/(2,3) d=1; 7 is a singleton
    crafted = multimodal_audio_fp_neardup(spark, str(tmp_path)).collect()[0]
    assert crafted.n_clips == 4
    assert crafted.n_candidate_pairs == 3
    assert crafted.n_exact_pairs == 1
    assert crafted.n_neardup_pairs == 2


def test_jpeg_hierarchical_profile_oracle_parity(spark, tmp_path):
    """Full Spark-vs-DuckDB parity of the (round-11-deferred) hierarchical
    JPEG decode profile over a crafted corpus AND the sf0.001 corpus — so
    the round-11 registration is a one-line flip with parity proven."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.plans.multimodal_pack import (
        _HIER_JPEG_ORACLE,
        multimodal_jpeg_hierarchical_profile,
    )
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    rows = [
        (0, "seq doc with EXP(1,1)"),
        (1, "progressive doc body"),
        (2, "arithmetic doc"),
        (3, "arith-prog doc, axes (0,1)"),
        (4, ""),
        (7, "another seq-ish doc id 7"),
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
        oracle = con.execute(_HIER_JPEG_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = multimodal_jpeg_hierarchical_profile(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows), sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir


def test_video_fp_bands_match_closed_form(spark):
    """video_fp_bands over real AVI decode must equal the closed-form
    per-cell derivation — and the planted parity bit makes same-prefix
    docs of opposite parity exactly Hamming-1 apart."""
    import numpy as np
    import pandas as pd

    from hive_server_spark.functions.multimodal import (
        DHASH_GRID_H,
        DHASH_GRID_W,
        DHASH_PREFIX_LEN,
        VIDEO_FP_FRAMES,
        video_fp_cell_value,
    )

    texts = [
        (10, "shared header prefix AAAA then tail one"),
        (12, "shared header prefix AAAA then tail two"),   # same parity as 10
        (13, "shared header prefix AAAA then tail three"), # opposite parity
        (7, "a different header entirely"),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [t[0] for t in texts], "text": [t[1] for t in texts]})
    )
    media = M.synthesize_fpavi_media(docs)
    got = {
        r.media_id: tuple(r[f"band{i}"] for i in range(4 * VIDEO_FP_FRAMES))
        for r in M.video_fp_bands(media).collect()
    }

    def closed(doc_id, text):
        prefix = text[:DHASH_PREFIX_LEN]
        vals = [0] * (4 * VIDEO_FP_FRAMES)
        for f in range(VIDEO_FP_FRAMES):
            cells = np.array(
                [
                    video_fp_cell_value(prefix, f, k, doc_id)
                    for k in range(DHASH_GRID_W * DHASH_GRID_H)
                ]
            ).reshape(DHASH_GRID_H, DHASH_GRID_W)
            bits = (cells[:, :-1] < cells[:, 1:]).reshape(-1)
            for g in np.nonzero(bits)[0]:
                vals[4 * f + g // 16] |= 1 << int(g % 16)
        return tuple(vals)

    assert got == {i: closed(i, t) for i, t in texts}
    assert got[10] == got[12]
    hd = sum(bin(x ^ y).count("1") for x, y in zip(got[10], got[13]))
    assert hd == 1  # the planted parity bit (frame 0 only)


def test_video_fp_neardup_oracle_parity(spark, tmp_path):
    """Full Spark-vs-DuckDB parity of the (round-11-deferred) video
    fingerprint near-dup query over a crafted corpus AND the sf0.001
    corpus — so the round-11 registration is a one-line flip with the
    parity already proven."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.plans.multimodal_pack import (
        _VIDEO_FP_ORACLE,
        multimodal_video_fp_neardup,
    )
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    rows = [
        (0, "alpha header for the video dedup test"),
        (2, "alpha header for the video dedup test"),
        (3, "alpha header for the video dedup test"),
        (7, "beta header, unrelated to the others"),
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
        oracle = con.execute(_VIDEO_FP_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = multimodal_video_fp_neardup(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) == 1, sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir
    # crafted corpus: pairs (0,2) d=0, (0,3)/(2,3) d=1; 7 is a singleton
    crafted = multimodal_video_fp_neardup(spark, str(tmp_path)).collect()[0]
    assert crafted.n_videos == 4
    assert crafted.n_candidate_pairs == 3
    assert crafted.n_exact_pairs == 1
    assert crafted.n_neardup_pairs == 2


def test_resample_linear_integer_exactness():
    """The resampler's rational arithmetic against hand-computed blends."""
    import numpy as np

    from hive_server_spark.functions.multimodal import _resample_linear

    s = np.array([0, 100], dtype=np.int64)
    # 2 samples @8k -> 4 @16k: positions 0, 0.5, 1, 1.5(edge)
    assert _resample_linear(s, 8000, 16000).tolist() == [0, 50, 100, 100]
    # downsample 4 @16k -> 2 @8k: positions 0, 2
    s4 = np.array([10, 20, 30, 40], dtype=np.int64)
    assert _resample_linear(s4, 16000, 8000).tolist() == [10, 30]
    # non-integer ratio 3 -> 2 of rate 12k->8k: positions 0, 1.5
    s3 = np.array([0, 10, 20], dtype=np.int64)
    assert _resample_linear(s3, 12000, 8000).tolist() == [0, 15]
    # identity returns an exact copy
    assert _resample_linear(s4, 8000, 8000).tolist() == s4.tolist()
    # round-half-up: blend of 0 and 1 at frac 1/2 -> 1 (not bankers 0)
    s2 = np.array([0, 1], dtype=np.int64)
    assert _resample_linear(s2, 8000, 16000).tolist() == [0, 1, 1, 1]


def test_resample_audio_via_spark(spark):
    """End-to-end: synthesized WAVs resampled to 16 kHz decode to the
    numpy-mirrored sample streams at the right rate and length; same-rate
    inputs keep their sample bytes untouched."""
    import numpy as np

    from hive_server_spark.functions.multimodal import (
        _resample_linear,
        _wav_parse,
    )

    docs = load_table(spark, SF_SMALL, "documents").limit(24)
    media = M.synthesize_wav_media(docs)
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    out = {
        r.media_id: bytes(r.payload)
        for r in M.resample_audio(media, target_rate=16000).collect()
    }
    assert set(out) == set(src)
    for mid, payload in out.items():
        rate0, ch0, bits0, ba0, data0 = _wav_parse(src[mid])
        rate1, ch1, bits1, _ba1, data1 = _wav_parse(payload)
        assert (rate1, ch1, bits1) == (16000, ch0, bits0)
        s0 = np.frombuffer(data0, dtype=np.uint8).astype(np.int64)
        expected = _resample_linear(s0, rate0, 16000)
        got = np.frombuffer(data1, dtype=np.uint8).astype(np.int64)
        assert got.tolist() == expected.tolist(), mid
        if rate0 == 16000:
            assert data1 == data0  # pass-through: bytes untouched
    # decode_audio accepts the re-encoded container
    dec = M.decode_audio(
        M.resample_audio(media, target_rate=16000), strict=True
    ).collect()
    assert all(r.sample_rate == 16000 for r in dec)


def test_wav_parse_rejects_nonpositive_rate_and_channels():
    """The shared codec error contract (ADVICE r10): a crafted PCM WAV
    whose fmt chunk declares sample rate 0 (or zero channels) must raise
    ValueError at parse — never leak a ZeroDivisionError out of
    resample_audio's (n*dst)//src or the channel math downstream."""
    import struct

    import pytest

    from hive_server_spark.functions.multimodal import (
        _resample_linear,
        _wav_parse,
    )

    def wav(rate, channels):
        fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels,
                          channels, 8)
        data = b"\x80" * 16
        body = (b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    got = _wav_parse(wav(8000, 1))
    assert got is not None and got[0] == 8000
    with pytest.raises(ValueError, match="non-positive WAVE sample rate"):
        _wav_parse(wav(0, 1))
    with pytest.raises(ValueError, match="non-positive WAVE channel count"):
        _wav_parse(wav(8000, 0))
    # the division that motivated the guard stays unreachable with rate 0
    import numpy as np
    out = _resample_linear(np.array([1.0, 2.0]), 8000, 16000)
    assert len(out) == 4


def _write_docs_parquet(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

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


def test_phash_incremental_planted_cross_snapshot(spark, tmp_path):
    """Planted-duplicate contract of multimodal_phash_incremental on a
    crafted corpus whose id-ordered split puts known groups on both sides
    of the snapshot boundary: a batch image byte-identical to a PRIOR
    image is flagged with all 4 bands against the prior partner; a batch
    image at planted Hamming distance 1 flags 3 bands; an intra-batch
    duplicate pair flags only its larger member against the smaller; a
    fresh header stays unflagged. Then the full-corpus-equivalence
    recompute: the flags must equal the full-corpus occupied-band rule
    restricted to the batch, computed directly from the collected band
    table."""
    from hive_server_spark import gate
    from hive_server_spark.functions.multimodal import (
        dhash_bands,
        synthesize_dhash_jpeg_media,
    )

    hdr_a = "alpha header shared across snapshots!"
    hdr_c = "gamma header only inside the batch.."
    rows = [
        (10, hdr_a),                                   # prior, even
        (11, "beta header, a prior-only singleton"),   # prior, odd
        (30, hdr_a),   # batch, even: byte-identical to 10
        (31, hdr_a),   # batch, odd: planted Hamming-1 vs 10/30
        (32, hdr_c),   # batch, even: intra-batch dup group, smaller id
        (34, hdr_c),   # batch, even: byte-identical to 32
    ]
    _write_docs_parquet(tmp_path, rows)
    # threshold (10+34)//2 = 22: prior = {10, 11}, batch = {30, 31, 32, 34}

    out = {
        r.media_id: (r.n_occupied_bands, r.partner_media_id)
        for r in gate.spark_queries()["multimodal_phash_incremental"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[30] == (4, 10)      # exact cross-snapshot dup
    assert out[31][1] == 10        # near-dup: parity bit lives in band0
    assert out[31][0] == 3
    assert out[34] == (4, 32)      # intra-batch dup flags the larger id
    assert 32 not in out           # smaller member of a fresh group
    assert 10 not in out and 11 not in out  # prior snapshot never re-flagged
    assert set(out) == {30, 31, 34}

    # full-corpus equivalence: recompute the occupied-band rule directly
    bands = {
        r.media_id: (r.band0, r.band1, r.band2, r.band3)
        for r in dhash_bands(
            synthesize_dhash_jpeg_media(
                spark.read.parquet(str(tmp_path / "documents.parquet"))
            )
        ).collect()
    }
    thr = (min(bands) + max(bands)) // 2
    expect = {}
    for mid, bv in bands.items():
        if mid < thr:
            continue
        partners = []
        for i, v in enumerate(bv):
            mn = min(m for m, ov in bands.items() if ov[i] == v)
            if mn < mid:
                partners.append(mn)
        if partners:
            expect[mid] = (len(partners), min(partners))
    assert out == expect


def test_phash_incremental_oracle_parity_sf(spark):
    """Spark-vs-DuckDB parity of multimodal_phash_incremental on the
    sf0.001 corpus (the crafted-corpus contract is pinned above; the gate
    run at sf0.01 is the driver's job) — and the result must be non-empty
    so the parity is never vacuous."""
    import duckdb

    from hive_server_spark.plans.multimodal_pack import (
        _PHASH_INCR_ORACLE,
        multimodal_phash_incremental,
    )
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    oracle = con.execute(_PHASH_INCR_ORACLE)
    o_cols = [d[0] for d in oracle.description]
    o_rows = oracle.fetchall()
    sdf = multimodal_phash_incremental(spark, SF_SMALL)
    s_rows = [tuple(r) for r in sdf.collect()]
    assert len(s_rows) == len(o_rows) > 0
    assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows)


def test_band_candidates_capped_parity_vs_oracle(spark, tmp_path):
    """Value-gate for the CAPPED band_candidates path: a crafted corpus
    plants a hot band — EIGHT byte-identical images (same header, same
    parity), b >> cap — plus one small near-dup pair and a singleton. The full decode → dHash → capped-LSH → Hamming
    summary under max_bucket=4 must equal a DuckDB oracle spelling the
    identical bucket-size rule over the shared _PHASH_BANDS_CTES hash
    derivation: hot buckets drop (their members belong to exact
    hash-dedup), small buckets keep pairing."""
    import duckdb

    from hive_server_spark.functions import multimodal as M
    from hive_server_spark.plans.multimodal_pack import _PHASH_BANDS_CTES
    from pyspark.sql import functions as F
    from tests.test_gate_parity import _rowset

    hot = "hot header: eight byte-identical images"
    pair = "small pair header, near-dup at d=1 ..."
    rows = [(i, hot) for i in range(100, 116, 2)]        # 8 even ids
    rows += [(50, pair), (51, pair), (77, "a fresh singleton header :)")]
    _write_docs_parquet(tmp_path, rows)

    cap = 4
    bands_wide = M.dhash_bands(
        M.synthesize_dhash_jpeg_media(
            spark.read.parquet(str(tmp_path / "documents.parquet"))
        )
    )
    cand = M.band_candidates(bands_wide, max_bucket=cap)
    w1 = bands_wide.select(
        F.col("media_id").alias("id1"),
        *[F.col(f"band{i}").alias(f"a{i}") for i in range(4)],
    )
    w2 = bands_wide.select(
        F.col("media_id").alias("id2"),
        *[F.col(f"band{i}").alias(f"b{i}") for i in range(4)],
    )
    hd = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))) for i in range(4)
    )
    ham = cand.join(w1, "id1").join(w2, "id2").withColumn("hd", hd)
    sdf = bands_wide.agg(
        F.count("*").cast("bigint").alias("n_images")
    ).crossJoin(
        ham.agg(
            F.count("*").cast("bigint").alias("n_candidate_pairs"),
            F.coalesce(F.sum(F.when(F.col("hd") == 0, 1)), F.lit(0))
            .cast("bigint").alias("n_exact_pairs"),
            F.coalesce(F.sum(F.when(F.col("hd").between(1, 2), 1)), F.lit(0))
            .cast("bigint").alias("n_neardup_pairs"),
            F.coalesce(F.sum("hd"), F.lit(0)).cast("bigint").alias("sum_hamming"),
        )
    )
    s_rows = [tuple(r) for r in sdf.collect()]

    capped_oracle = f"""
WITH {_PHASH_BANDS_CTES},
wide AS (
  SELECT doc_id,
         MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
  FROM bands GROUP BY doc_id
),
small AS (
  SELECT band_idx, band_val FROM bands
  GROUP BY band_idx, band_val HAVING COUNT(*) <= {cap}
),
fb AS (
  SELECT b.doc_id, b.band_idx, b.band_val
  FROM bands b JOIN small s
    ON b.band_idx = s.band_idx AND b.band_val = s.band_val
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM fb a
  JOIN fb b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
),
ham AS (
  SELECT c.id1, c.id2,
         bit_count(xor(w1.b0, w2.b0)) + bit_count(xor(w1.b1, w2.b1))
       + bit_count(xor(w1.b2, w2.b2)) + bit_count(xor(w1.b3, w2.b3)) AS hd
  FROM cand c
  JOIN wide w1 ON c.id1 = w1.doc_id
  JOIN wide w2 ON c.id2 = w2.doc_id
)
SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_images,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       CAST(COALESCE(SUM(CASE WHEN hd = 0 THEN 1 END), 0) AS BIGINT)
         AS n_exact_pairs,
       CAST(COALESCE(SUM(CASE WHEN hd BETWEEN 1 AND 2 THEN 1 END), 0) AS BIGINT)
         AS n_neardup_pairs,
       CAST(COALESCE(SUM(hd), 0) AS BIGINT) AS sum_hamming
FROM ham
"""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    oracle = con.execute(capped_oracle)
    o_cols = [d[0] for d in oracle.description]
    o_rows = oracle.fetchall()
    assert len(s_rows) == len(o_rows) == 1
    assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows)
    # and the cap actually bit: the hot group's C(8,2)=28 identical pairs
    # are gone, the small near-dup pair survives
    r = s_rows[0]
    cols = sdf.columns
    got = dict(zip(cols, r))
    assert got["n_images"] == 11
    assert got["n_candidate_pairs"] == 1
    assert got["n_exact_pairs"] == 0
    assert got["n_neardup_pairs"] == 1


def _incremental_flags_vs_full_recompute(spark, bands_wide, n_bands, tmp_path):
    """Run the modality-generic persisted-index refresh on an id-split of
    `bands_wide` and assert it equals the full-corpus occupied-band rule
    restricted to the batch, recomputed directly from the collected band
    table — the same equivalence the image gate query pins via its
    oracle."""
    import os

    from hive_server_spark.functions.clusters import split_refresh
    from hive_server_spark.functions.multimodal import BAND_KEYS, band_long

    rows = {
        r["media_id"]: tuple(r[f"band{i}"] for i in range(n_bands))
        for r in bands_wide.collect()
    }
    thr = (min(rows) + max(rows)) // 2
    index_path = os.path.join(str(tmp_path), f"band_index_{n_bands}")
    got = {
        r.media_id: (r.n_occupied_bands, r.partner_media_id)
        for r in split_refresh(
            bands_wide, "media_id",
            lambda wide: band_long(wide, n_bands=n_bands),
            BAND_KEYS, index_path,
        ).collect()
    }
    expect = {}
    for mid, bv in rows.items():
        if mid < thr:
            continue
        partners = [
            min(m for m, ov in rows.items() if ov[i] == v)
            for i, v in enumerate(bv)
            if min(m for m, ov in rows.items() if ov[i] == v) < mid
        ]
        if partners:
            expect[mid] = (len(partners), min(partners))
    assert got == expect
    return got, thr


def test_incremental_band_index_audio_fingerprint(spark, tmp_path):
    """Audio member: the persisted-band-index refresh runs over the audio
    energy-fingerprint table through the SAME modality-generic functions
    the image gate query uses — planted cross-snapshot dup flagged against
    the prior corpus without rescanning it, plus the
    full-corpus-equivalence recompute."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.functions.multimodal import (
        audio_fingerprint_bands,
        synthesize_fpwav_media,
    )

    hdr = "shared audio header across snapshots"
    rows = [
        (10, hdr),                              # prior, even
        (11, "a different prior-only header.."), # prior, odd
        (30, hdr),                              # batch: exact dup of 10
        (31, hdr),                              # batch: parity near-dup
        (32, "fresh batch-only header, kept !"),
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
    bands = audio_fingerprint_bands(
        synthesize_fpwav_media(
            spark.read.parquet(str(tmp_path / "documents.parquet"))
        )
    )
    got, thr = _incremental_flags_vs_full_recompute(spark, bands, 4, tmp_path)
    assert thr == 21
    assert got[30] == (4, 10)   # byte-identical clip vs the prior corpus
    assert got[31][1] == 10     # planted parity near-dup
    assert 32 not in got        # fresh header stays unflagged


def test_incremental_band_index_video_fingerprint(spark, tmp_path):
    """Video member (8 (frame, band)-keyed bands): same generic refresh,
    same planted-dup and full-corpus-equivalence contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.functions.multimodal import (
        synthesize_fpavi_media,
        video_fp_bands,
    )

    hdr = "shared video header across snapshots"
    rows = [
        (10, hdr),
        (11, "a different prior-only header.."),
        (30, hdr),                               # exact dup of 10
        (31, hdr),                               # frame-0 parity near-dup
        (32, "fresh batch-only header, kept !"),
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
    bands = video_fp_bands(
        synthesize_fpavi_media(
            spark.read.parquet(str(tmp_path / "documents.parquet"))
        )
    )
    got, _ = _incremental_flags_vs_full_recompute(spark, bands, 8, tmp_path)
    assert got[30] == (8, 10)   # all 8 (frame, band) keys match the prior
    assert got[31] == (7, 10)   # parity bit lives in frame 0's band 0
    assert 32 not in got


def test_bundle_neardup_planted_and_oracle_parity(spark, tmp_path):
    """Fused multimodal bundle dedup: a byte-identical
    bundle twin flags on ALL THREE modalities with one canonical partner;
    a doc sharing only the 16-char media header flags on image+audio but
    keeps its own text verdict; a unique doc keeps. Then full
    Spark-vs-DuckDB parity on the crafted corpus AND sf0.001."""
    import duckdb

    from hive_server_spark.plans.multimodal_pack import (
        _BUNDLE_ORACLE,
        multimodal_bundle_neardup,
    )
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    shared = "alpha header!!!! the full text is shared verbatim between docs"
    rows = [
        (10, shared),
        (12, shared),                                   # full bundle twin
        (13, "alpha header!!!! but a completely different tail text here"),
        (20, "a fully unrelated document, unique in every modality"),
    ]
    _write_docs_parquet(tmp_path, rows)

    out = {
        r.doc_id: r
        for r in multimodal_bundle_neardup(spark, str(tmp_path)).collect()
    }
    assert set(out) == {10, 12, 13, 20}
    r12 = out[12]
    assert (r12.text_partner, r12.image_partner, r12.audio_partner) == (10, 10, 10)
    assert r12.partner == 10 and not r12.keep
    r13 = out[13]  # same 16-char header -> image + audio flag (parity 1 vs 0
    # is a Hamming-1 near-dup; 13 is odd, 10/12 even -> distance exactly 1)
    assert r13.image_partner == 10 and r13.audio_partner == 10
    assert r13.partner is not None and not r13.keep
    assert out[20].keep and out[20].partner is None
    assert out[10].keep and out[10].partner is None  # canonical member kept

    for sf_dir in (str(tmp_path), SF_SMALL):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        oracle = con.execute(_BUNDLE_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = multimodal_bundle_neardup(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) > 0, sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir


def test_media_fp_incremental_planted_and_oracle_parity(spark, tmp_path):
    """The fused audio+video fingerprint incremental
    refresh: planted cross-snapshot dups must flag in BOTH modalities
    with the prior-corpus partner and the fresh batch member must stay
    unflagged; then full Spark-vs-DuckDB parity of the registered query on
    the crafted corpus AND the sf0.001 corpus (non-vacuous)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.plans.multimodal_pack import (
        _MEDIA_FP_INCR_ORACLE,
        multimodal_media_fp_incremental,
    )
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    hdr = "shared media header across snapshots"
    rows = [
        (10, hdr),                               # prior, even
        (11, "a different prior-only header.."),  # prior, odd
        (30, hdr),                               # batch: exact dup of 10
        (31, hdr),                               # batch: parity near-dup
        (32, "fresh batch-only header, kept !"),
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

    got = {
        (r.modality, r.media_id): (r.n_occupied_bands, r.partner_media_id)
        for r in multimodal_media_fp_incremental(spark, str(tmp_path)).collect()
    }
    # exact dup flags on every band key in both modalities, partner = 10
    assert got[("audio", 30)] == (4, 10)
    assert got[("video", 30)] == (8, 10)
    # parity near-dups: the parity bit lives in band 0 (audio) / frame 0's
    # band 0 (video), so one band key misses but the partner still resolves
    assert got[("audio", 31)][1] == 10
    assert got[("video", 31)] == (7, 10)
    assert ("audio", 32) not in got and ("video", 32) not in got

    for sf_dir in (str(tmp_path), SF_SMALL):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        oracle = con.execute(_MEDIA_FP_INCR_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = multimodal_media_fp_incremental(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) > 0, sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir
