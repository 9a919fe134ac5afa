"""RIFF/AVI MJPEG codec + video operator tests.

Covers the container codec's exactness and error contract without Spark,
then the Spark surface: synthesis → strict decode_video parity with the
closed-form expectation, real keyframe extraction in sample_frames, and
full Spark-vs-DuckDB parity of the registered gate query on a crafted
corpus AND the sf0.001 corpus."""

from __future__ import annotations

import struct

import pytest

from hive_server_spark.functions.jpeg import encode_jpeg_gray_blocks
from hive_server_spark.functions.video import (
    decode_avi_stats,
    encode_avi_mjpeg,
    parse_avi,
)


def _frames(values_per_frame, bw, bh):
    return [
        encode_jpeg_gray_blocks(vals, bw, bh, restart_interval=2)
        for vals in values_per_frame
    ]


# ---------------------------------------------------------------------------
# codec unit tests (no Spark)
# ---------------------------------------------------------------------------


def test_avi_roundtrip_exact():
    vals = [[10, 20, 30, 40], [50, 60, 70, 80], [90, 100, 110, 120]]
    frames = _frames(vals, 2, 2)
    avi = encode_avi_mjpeg(frames, 16, 16, rate=15, scale=1)
    w, h, rate, scale, got = parse_avi(avi)
    assert (w, h, rate, scale) == (16, 16, 15, 1)
    assert got == frames
    w, h, nf, rate, scale, mean = decode_avi_stats(avi)
    expected = sum(sum(v) for v in vals) * 64 / (3 * 256) / 255.0
    assert (w, h, nf, rate, scale) == (16, 16, 3, 15, 1)
    assert mean == pytest.approx(expected, abs=1e-12)


def test_avi_single_frame_and_odd_frame_sizes_word_align():
    # JPEG payloads routinely have odd byte lengths; the chunk walk must
    # honor the word-alignment pad between frames
    frames = _frames([[v] for v in (1, 2, 3, 4, 5)], 1, 1)
    sizes = {len(f) % 2 for f in frames}
    avi = encode_avi_mjpeg(frames, 8, 8, rate=30, scale=1)
    got = parse_avi(avi)[4]
    assert got == frames
    # regardless of parity mix, every frame survived byte-exact
    assert sizes <= {0, 1}


def test_avi_not_riff_returns_none():
    assert parse_avi(b"\x89PNG\r\n\x1a\n") is None
    assert parse_avi(b"RIFF\x04\x00\x00\x00WAVE") is None
    assert parse_avi(b"") is None


def test_avi_error_contract():
    frames = _frames([[10], [20]], 1, 1)
    avi = encode_avi_mjpeg(frames, 8, 8, rate=10, scale=1)

    with pytest.raises(ValueError, match="truncated RIFF"):
        parse_avi(avi[:40])
    with pytest.raises(ValueError, match="unsupported AVI video codec"):
        parse_avi(avi.replace(b"MJPG", b"H264"))
    # tamper the avih frame count (offset: RIFF(12) + LIST hdr(12) +
    # avih hdr(8) + 4 dwords -> dwTotalFrames)
    tampered = bytearray(avi)
    idx = avi.index(b"avih") + 8 + 16
    struct.pack_into("<I", tampered, idx, 99)
    with pytest.raises(ValueError, match="frame count mismatch"):
        parse_avi(bytes(tampered))
    # a non-JPEG frame body must raise at decode, not silently mis-decode
    fake = encode_avi_mjpeg([b"not a jpeg at all"], 8, 8, rate=10)
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_avi_stats(fake)


def test_avi_missing_parts_raise():
    frames = _frames([[10]], 1, 1)
    avi = encode_avi_mjpeg(frames, 8, 8, rate=10)
    # drop the movi LIST: rebuild RIFF with only hdrl + idx1
    # (simplest surgical cut: truncate just before 'movi' LIST, fix size)
    movi_at = avi.index(b"movi") - 8
    body = avi[12:movi_at]
    cut = b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
    with pytest.raises(ValueError, match="movi"):
        parse_avi(cut)


def test_avi_fuzz_never_misdecodes():
    """Random mutations of a valid AVI either parse to self-consistent
    frames, raise ValueError, or dispatch None — never crash with another
    exception type (the shared codec error contract)."""
    import random

    rng = random.Random(100)
    frames = _frames([[10, 20], [30, 40]], 2, 1)
    avi = bytearray(encode_avi_mjpeg(frames, 16, 8, rate=20))
    for _ in range(300):
        b = bytearray(avi)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            parse_avi(bytes(b))
        except ValueError:
            pass


def test_encode_avi_validates_inputs():
    with pytest.raises(ValueError, match="at least one frame"):
        encode_avi_mjpeg([], 8, 8)
    with pytest.raises(ValueError, match="positive"):
        encode_avi_mjpeg([b"x"], 8, 8, rate=0)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def _write_docs(tmp_path, rows):
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


def _expected_video(doc_id: int, text: str):
    """Closed-form expectation mirroring synthesize_avi_media."""
    data = text.encode("utf-8")
    n = len(data)
    bw, bh = 1 + n % 3, 1 + (n // 3) % 3
    hx = data.hex().upper() or "0"
    nf = 2 + doc_id % 3
    rate = 10 + 5 * (doc_id % 4)
    vals = [ord(hx[j % len(hx)]) for j in range(nf * bw * bh)]
    pix = 64 * sum(vals)
    return bw * 8, bh * 8, nf, rate, pix


def test_decode_video_strict_matches_closed_form(spark, tmp_path):
    from pyspark.sql import functions as F

    from hive_server_spark.functions import multimodal as M

    rows = [(0, "alpha doc"), (1, "a longer beta document body"), (5, "")]
    _write_docs(tmp_path, rows)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    dec = M.decode_video(M.synthesize_avi_media(docs), strict=True)
    got = {
        r["media_id"]: r
        for r in dec.withColumn(
            "pix",
            F.round(
                F.col("mean_luma").cast("double")
                * 255.0
                * F.col("width")
                * F.col("height")
                * F.col("n_frames")
            ).cast("bigint"),
        ).collect()
    }
    for doc_id, text in rows:
        w, h, nf, rate, pix = _expected_video(doc_id, text)
        r = got[doc_id]
        assert (r.width, r.height, r.n_frames, r.fps_rate, r.fps_scale) == (
            w, h, nf, rate, 1,
        ), (doc_id, text)
        assert r.pix == pix, (doc_id, text)
        assert r.decoder == "avi-mjpeg"


def test_decode_video_strict_rejects_non_avi(spark):
    import pandas as pd

    from hive_server_spark.functions import multimodal as M

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1],
                "kind": ["video"],
                "payload": [b"\x00\x01\x02 not a container"],
            }
        )
    )
    with pytest.raises(Exception, match="unsupported video format"):
        M.decode_video(media, strict=True).collect()
    # non-strict falls back to the deterministic fake
    row = M.decode_video(media, strict=False).collect()[0]
    assert row.decoder == "fake-deterministic"
    assert row.n_frames == 1


def test_sample_frames_real_keyframes(spark, tmp_path):
    """AVI payloads yield REAL decodable JPEG keyframes with ORIGINAL
    frame indices; non-AVI payloads keep the byte-slice fallback."""
    from hive_server_spark.functions import multimodal as M
    from hive_server_spark.functions.jpeg import decode_jpeg

    rows = [(0, "two frames"), (2, "four frames doc"), (1, "three fr")]
    _write_docs(tmp_path, rows)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    media = M.synthesize_avi_media(docs)
    got = M.sample_frames(media, n_frames=2).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.media_id, []).append(r)
    # nf = 2 + doc_id % 3: doc 0 -> 2 frames (idx 0,1), doc 1 -> 3
    # (idx 0,1), doc 2 -> 4 (idx 0,2)
    assert sorted(r.frame_idx for r in by_doc[0]) == [0, 1]
    assert sorted(r.frame_idx for r in by_doc[1]) == [0, 1]
    assert sorted(r.frame_idx for r in by_doc[2]) == [0, 2]
    for rs in by_doc.values():
        for r in rs:
            dec = decode_jpeg(bytes(r.frame_payload))
            assert dec is not None  # every sampled frame is a real JPEG


def test_video_profile_oracle_parity(spark, tmp_path):
    """Full Spark-vs-DuckDB parity of the registered gate query over a
    crafted corpus AND the sf0.001 corpus."""
    import duckdb

    from hive_server_spark.plans.multimodal_pack import (
        _VIDEO_ORACLE,
        multimodal_video_profile,
    )
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    rows = [(0, "alpha"), (1, "beta doc"), (2, ""), (3, "a much longer gamma text")]
    _write_docs(tmp_path, rows)
    for sf_dir in (str(tmp_path), SF_SMALL):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        oracle = con.execute(_VIDEO_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = multimodal_video_profile(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) == 1, sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir


def test_video_frame_stats_rows(spark, tmp_path):
    """One scalar row per frame, exact pixel means, non-AVI handling."""
    import pandas as pd

    from hive_server_spark.functions import multimodal as M

    rows = [(0, "two frames"), (1, "three fr")]
    _write_docs(tmp_path, rows)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    media = M.synthesize_avi_media(docs)
    got = M.video_frame_stats(media).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.media_id, []).append(r)
    for doc_id, text in rows:
        w, h, nf, _rate, _pix = _expected_video(doc_id, text)
        rs = sorted(by_doc[doc_id], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in rs] == list(range(nf))
        assert all((r.width, r.height) == (w, h) for r in rs)
    # strict rejects non-AVI; non-strict skips it
    junk = spark.createDataFrame(
        pd.DataFrame({"media_id": [9], "kind": ["video"], "payload": [b"nope"]})
    )
    with pytest.raises(Exception, match="expects MJPEG AVI"):
        M.video_frame_stats(junk, strict=True).collect()
    assert M.video_frame_stats(junk, strict=False).count() == 0


def test_video_scenes_oracle_parity(spark, tmp_path):
    """Full Spark-vs-DuckDB parity of the scene
    segmentation query over a crafted corpus AND the sf0.001 corpus."""
    import duckdb

    from hive_server_spark.plans.multimodal_pack import (
        _VIDEO_SCENES_ORACLE,
        multimodal_video_scenes,
    )
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    rows = [
        (0, "ab"),          # 2 frames, 3 blocks
        (1, "a longer document body here"),   # 3 frames
        (2, ""),            # 4 frames, degenerate hx='0' (all-equal: 0 cuts)
        (5, "cuts galore!"),  # 4 frames
    ]
    _write_docs(tmp_path, rows)
    for sf_dir in (str(tmp_path), SF_SMALL):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        oracle = con.execute(_VIDEO_SCENES_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = multimodal_video_scenes(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows), sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir
    # the all-equal-frames doc (doc 2) must be a single shot, zero cuts
    one = {
        r.media_id: r for r in multimodal_video_scenes(spark, str(tmp_path)).collect()
    }
    assert one[2].n_cuts == 0 and one[2].n_shots == 1
    assert one[2].max_shot_len == one[2].n_frames


def test_shot_keyframes_one_decodable_frame_per_shot(spark, tmp_path):
    """shot_keyframes returns exactly one frame per detected shot, the
    FIRST frame of the shot, as a decodable JPEG — consistent with the
    scene segmentation's cut/shot structure."""
    from hive_server_spark.functions import multimodal as M
    from hive_server_spark.functions.jpeg import decode_jpeg
    from hive_server_spark.plans.multimodal_pack import multimodal_video_scenes

    rows = [(0, "ab"), (1, "a longer document body here"), (5, "cuts galore!")]
    _write_docs(tmp_path, rows)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    media = M.synthesize_avi_media(docs)
    got = M.shot_keyframes(media).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.media_id, []).append(r)
    scenes = {
        r.media_id: r for r in multimodal_video_scenes(spark, str(tmp_path)).collect()
    }
    for doc_id, _text in rows:
        ks = sorted(by_doc[doc_id], key=lambda r: r.shot_id)
        # one keyframe per shot, shot ids dense from 0
        assert [k.shot_id for k in ks] == list(range(scenes[doc_id].n_shots))
        # the first shot starts at frame 0; frame indices strictly increase
        assert ks[0].frame_idx == 0
        assert all(a.frame_idx < b.frame_idx for a, b in zip(ks, ks[1:]))
        for k in ks:
            assert decode_jpeg(bytes(k.frame_payload)) is not None


def _avi_chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _avi_list(list_type: bytes, body: bytes) -> bytes:
    return _avi_chunk(b"LIST", list_type + body)


def _two_stream_avi(frame_jpegs, width, height, rate=10, scale=1,
                    strf_first=False, vids_compression=b"MJPG"):
    """Hand-rolled two-stream AVI: an 'auds' stream declared FIRST, the
    MJPG 'vids' stream second — so video movi chunks are '01dc', the
    layout parse_avi previously missed entirely."""
    frames = [bytes(f) for f in frame_jpegs]
    max_frame = max(len(f) for f in frames)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        (1_000_000 * scale) // rate, max_frame * rate // scale, 0, 0,
        len(frames), 0, 2, max_frame, width, height, 0, 0, 0, 0,
    )

    def strh(fcc_type, fcc_handler, length):
        return struct.pack(
            "<4s4sIHHIIIIIIIi4h",
            fcc_type, fcc_handler, 0, 0, 0, 0, scale, rate, 0, length,
            max_frame, 0, 0, 0, 0, width, height,
        )

    # auds strf: minimal WAVEFORMATEX (PCM mono 8 kHz 8-bit)
    auds_strf = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    strl_auds = _avi_list(
        b"strl",
        _avi_chunk(b"strh", strh(b"auds", b"\x01\x00\x00\x00", 0))
        + _avi_chunk(b"strf", auds_strf),
    )
    vids_strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, vids_compression,
        width * height * 3, 0, 0, 0, 0,
    )
    strh_c = _avi_chunk(b"strh", strh(b"vids", b"MJPG", len(frames)))
    strf_c = _avi_chunk(b"strf", vids_strf)
    strl_vids = _avi_list(
        b"strl", (strf_c + strh_c) if strf_first else (strh_c + strf_c)
    )
    hdrl = _avi_list(b"hdrl", _avi_chunk(b"avih", avih) + strl_auds + strl_vids)
    movi_body = _avi_chunk(b"00wb", b"\x80" * 64)  # audio data: stream 0
    for f in frames:
        movi_body += _avi_chunk(b"01dc", f)  # video: stream INDEX 1
    movi = _avi_list(b"movi", movi_body)
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def test_avi_audio_first_stream_layout():
    """An AVI whose audio stream is declared before the video stream keeps
    its video frames in '01dc' chunks — the parse must track the vids
    strl position instead of hard-coding stream 0."""
    frames = _frames([[10, 20], [30, 40]], 2, 1)
    avi = _two_stream_avi(frames, 16, 8, rate=20)
    got = parse_avi(avi)
    assert got is not None
    width, height, rate, scale, parsed = got
    assert (width, height, rate, scale) == (16, 8, 20, 1)
    assert parsed == frames
    # and the full decode runs over the right stream's payloads
    w, h, n, r, s, mean = decode_avi_stats(avi)
    assert (w, h, n) == (16, 8, 2)


def test_avi_strf_before_strh_still_checked():
    """A spec-valid strl may order strf before strh; the MJPG compression
    check must still run (it was silently skipped before), and a vids
    strl without any strf must raise."""
    frames = _frames([[10]], 1, 1)
    # strf-first with MJPG: parses fine
    good = _two_stream_avi(frames, 8, 8, strf_first=True)
    assert parse_avi(good)[4] == frames
    # strf-first with a foreign codec: must still be rejected
    bad = _two_stream_avi(frames, 8, 8, strf_first=True,
                          vids_compression=b"H264")
    with pytest.raises(ValueError, match="unsupported AVI video codec"):
        parse_avi(bad)
    # vids strl missing strf entirely
    nostrf = _two_stream_avi(frames, 8, 8)
    strf_at = nostrf.index(struct.pack(
        "<IiiHH4s", 40, 8, 8, 1, 24, b"MJPG")) - 8
    cut = nostrf[:strf_at] + nostrf[strf_at + 8 + 40:]
    # fix the three enclosing sizes (RIFF, hdrl LIST, vids strl LIST)
    cut = bytearray(cut)
    for pat, back in ((b"AVI ", 4), (b"hdrl", 4), (b"strl", 4)):
        at = cut.rindex(pat) if pat == b"strl" else cut.index(pat)
        (old,) = struct.unpack_from("<I", cut, at - back)
        struct.pack_into("<I", cut, at - back, old - 48)
    with pytest.raises(ValueError, match="missing strf"):
        parse_avi(bytes(cut))


def test_video_curation_planted_dups_and_oracle_parity(spark, tmp_path):
    """End-to-end pipeline contract of the
    multimodal_video_curation query on a crafted corpus: a clip
    byte-identical to a smaller clip is dropped with that partner; a clip
    at planted keyframe-Hamming-1 is dropped against the same canonical
    partner; fresh-header clips keep iff they have >= 2 shots. Then full
    Spark-vs-DuckDB parity on the crafted corpus AND sf0.001."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.plans.multimodal_pack import (
        _VIDEO_CURATION_ORACLE,
        multimodal_video_curation,
    )
    from tests.test_gate_parity import _rowset

    rows = [
        (10, "alpha clip header shared by a trio!!"),  # canonical, even
        (12, "alpha clip header shared by a trio!!"),  # byte-identical dup
        (13, "alpha clip header shared by a trio!!"),  # parity-bit near-dup
        (20, "beta header for a fresh single clip"),   # fresh
        (31, "gamma header for another fresh clip"),   # fresh
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

    out = {
        r.media_id: r
        for r in multimodal_video_curation(spark, str(tmp_path)).collect()
    }
    assert set(out) == {10, 12, 13, 20, 31}
    assert out[10].dup_partner is None          # canonical member kept
    assert out[12].dup_partner == 10 and not out[12].keep
    assert out[13].dup_partner == 10 and not out[13].keep
    for mid in (10, 20, 31):
        assert out[mid].keep == (
            out[mid].dup_partner is None and out[mid].n_shots >= 2
        )

    from tests.conftest import SF_SMALL

    for sf_dir in (str(tmp_path), SF_SMALL):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        oracle = con.execute(_VIDEO_CURATION_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = multimodal_video_curation(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) > 0, sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir
