"""Multimodal (image/audio/video) column plumbing (north-star extension).

Media are opaque `binary` payload columns + typed metadata structs; all
compute-heavy per-item work (decode, feature extraction, frame sampling)
runs as Arrow-batched `mapInPandas` generators — the pattern that scales:
executors stream RecordBatches through Python, nothing is collected, batch
size bounded by spark.sql.execution.arrow.maxRecordsPerBatch.

The codec: this container has no image/audio libs, so the decode step ships
its own pure-Python decoders — PNG (non-interlaced 8-bit RGB/grayscale via
stdlib zlib, with full None/Sub/Up/Average/Paeth filter reconstruction),
PPM (P6 binary and P3 ascii), BMP (24-bit uncompressed BI_RGB), and JPEG
(ITU-T T.81: sequential/progressive/lossless modes, Huffman AND QM
arithmetic entropy coding, any 1..4 sampling, 8/12-bit, and — since the
round-10 second pass — hierarchical DHP/EXP/differential sequences, so
the ENTIRE T.81 SOF matrix decodes; functions/jpeg.py, format matrix in
its docstring) — doing real header
parsing and numpy pixel math in the Arrow worker. strict=True requires every
payload to be one of those formats (ValueError otherwise); strict=False
falls back to a clearly-marked deterministic fake for payloads in formats
that would need external codec libraries (inter-frame video — MJPEG AVI
decodes for real), keeping the full pipeline testable.
`synthesize_ppm_media` builds REAL P6
payloads with pure column expressions, `synthesize_png_media` builds REAL
zlib-compressed PNGs of the same pixels, and `synthesize_jpeg_media`
builds REAL entropy-coded baseline JPEGs whose constant 8×8 blocks make
the lossy container decode-exact — so every strict path is exercised
end-to-end by the decode-profile gate queries.

Audio is real too: `synthesize_wav_media` builds genuine RIFF/WAVE PCM
containers with pure column expressions (the 44-byte canonical header is a
computed hex string through unhex(); the sample bytes are the same
rpad-cycled hex-of-text trick the image fixtures use) and `decode_audio`
walks RIFF chunks properly — fmt/data discovery with word-alignment
padding, unknown chunks skipped — supporting 8-bit unsigned and 16-bit
signed PCM, mono or multi-channel.

Video is real for the one format decodable without an external codec
(round 10): RIFF/AVI Motion-JPEG — a pure-Python container walk
(functions/video.py) whose frames run through the full T.81 JPEG decoder,
with real keyframe extraction in `sample_frames` and a decode-exact AVI
fixture (`synthesize_avi_media`, constant-block frames). Inter-frame
codecs (H.26x/VP9/AV1) remain a documented strict-mode ValueError /
strict=False fake: a GOP/bitstream decoder would be a re-implementation
of an external codec library, out of scope here.

Scale posture: fan-out is the codec entry's job. Every synthesizer
spreads its `documents` input (`functions/text.py::spread`, free on an
already-spread frame), the Python-codec ones through one tail,
`_codec_media`, so a one-split scan never runs a codec in one task.
Downstream mapInPandas stages preserve that partitioning
(no shuffle); payload bytes stay columnar end-to-end via Arrow; feature
vectors come back as array<float> ready for functions/embeddings.py
similarity ops."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hive_server_spark.functions.clusters import bucket_pairs, cap_buckets
from hive_server_spark.functions.text import spread

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), False),
        StructField("meta", StructType([
            StructField("declared_format", StringType(), True),
            StructField("n_bytes", LongType(), True),
        ]), True),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_luma", FloatType(), True),
        StructField("decoder", StringType(), False),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)

AUDIO_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("bits_per_sample", IntegerType(), True),
        StructField("n_samples", LongType(), True),  # frames (per channel)
        StructField("mean_amp", FloatType(), True),
        StructField("decoder", StringType(), False),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_payload", BinaryType(), False),
    ]
)

VIDEO_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("fps_rate", IntegerType(), True),
        StructField("fps_scale", IntegerType(), True),
        StructField("mean_luma", FloatType(), True),
        StructField("decoder", StringType(), False),
    ]
)


def synthesize_media(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Deterministic media fixtures: payload = utf8 bytes of the document
    text (stands in for compressed media bytes). Pure column expressions."""
    return spread(docs).select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("fake/%s" % kind).alias("declared_format"),
            F.col("n_chars").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _codec_media(docs: DataFrame, kind: str, encode) -> DataFrame:
    """The one tail of every Python-codec synthesizer: spread `docs`, then
    run `encode(doc_id, text) -> (payload, declared_format)` on each row in
    one Arrow-batched mapInPandas. Fan-out is the codec entry's job: a
    caller may hand over a one-split scan, and the encode is per-row
    Python CPU, so it must not run in one task. Spreading a spread frame is
    the identity (`spread` reads the planned partitioning), so callers that
    share one exchange across several synthesizers keep their plans."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [encode(i, t) for i, t in zip(pdf["doc_id"], pdf["text"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": kind,
                    "payload": [p for p, _ in rows],
                    "meta": [
                        {"declared_format": f, "n_bytes": len(p)} for p, f in rows
                    ],
                }
            )

    return spread(docs).select("doc_id", "text").mapInPandas(build, schema=MEDIA_SCHEMA)


def synthesize_ppm_media(docs: DataFrame) -> DataFrame:
    """REAL P6 PPM payloads from documents, built entirely with JVM column
    expressions: header `P6\\n<w> <h>\\n255\\n` + exactly w*h*3 pixel bytes
    (the uppercase hex expansion of the text, cycled to length — pure ASCII
    by construction, so char length == byte length regardless of the text's
    encoding). w, h ∈ [8, 15] derive from the utf-8 byte count, keeping
    payloads bounded (≤ 689 B) while every image is genuinely decodable."""
    n = F.octet_length(F.encode("text", "utf-8"))
    w = (F.lit(8) + n % 8).alias("w")
    h = (F.lit(8) + (n / F.lit(8)).cast("long") % 8).alias("h")
    sized = spread(docs).select(F.col("doc_id"), w, h, F.col("text"))
    px_len = F.col("w") * F.col("h") * 3
    hx = F.hex(F.encode("text", "utf-8"))
    # rpad cycles the pad string and truncates past len in both Spark and
    # DuckDB — one expression covers short and long texts; empty text
    # degenerates to all-'0' pixels rather than an invalid pad
    px = F.rpad(F.when(F.length(hx) > 0, hx).otherwise(F.lit("0")), px_len,
                F.when(F.length(hx) > 0, hx).otherwise(F.lit("0")))
    payload = F.concat(
        F.encode(F.format_string("P6\n%d %d\n255\n", F.col("w"), F.col("h")), "utf-8"),
        F.encode(px, "utf-8"),
    )
    return sized.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("declared_format"),
            (px_len + F.length(F.format_string("P6\n%d %d\n255\n", F.col("w"), F.col("h"))))
            .cast("long")
            .alias("n_bytes"),
        ).alias("meta"),
    )


def synthesize_png_media(docs: DataFrame) -> DataFrame:
    """REAL PNG payloads from documents, pixel-identical to
    synthesize_ppm_media: same w/h formulas, same rpad-cycled uppercase-hex
    pixel bytes — so the byte-level decode oracle (multimodal_pack) covers
    both codecs with one closed-form pixel-sum computation. PNG needs zlib
    + CRC32, which column expressions can't produce, so synthesis runs in
    mapInPandas (Arrow-batched, partition-preserving — the same worker
    shape the decode uses); row filters rotate y % 5, so the decoder's full
    filter reconstruction is exercised on every image taller than 4 rows."""

    def encode(doc_id, text):
        import numpy as np

        data = (text or "").encode("utf-8")
        n = len(data)
        w, h = 8 + n % 8, 8 + (n // 8) % 8
        hx = data.hex().upper() or "0"
        need = w * h * 3
        px = (hx * (need // len(hx) + 1))[:need]
        pixels = np.frombuffer(px.encode("ascii"), dtype=np.uint8).reshape(h, w, 3)
        return encode_png(pixels), "image/png"

    return _codec_media(docs, "image", encode)


def synthesize_jpeg_media(docs: DataFrame) -> DataFrame:
    """REAL entropy-coded baseline JPEG payloads from documents: block
    grid bw=1+n%3, bh=1+(n//3)%3 (8·bw × 8·bh pixels), block k's constant
    value = ascii of the hex-of-text string cycled at position k — the
    same closed-form byte derivation the PPM/PNG fixtures use, so the
    decode profile keeps a byte-level DuckDB oracle despite the lossy
    container (constant blocks are DC-only and quantization-exact; see
    functions/jpeg.py). doc_id % 3 picks the variant — 0: grayscale, 1:
    3-component 4:4:4 YCbCr, 2 (round 7): 4:2:0 subsampled YCbCr whose
    16x16-pixel MCUs carry four constant luma blocks over the DOUBLED
    (2bw x 2bh) luma grid — all with Cb=Cr=128 (decoded RGB == replicated
    Y, same mean) and a restart interval of 2, so the RSTn resync path
    runs on every multi-block/multi-MCU fixture."""
    from hive_server_spark.functions.jpeg import (
        encode_jpeg_gray_blocks,
        encode_jpeg_ycbcr_420_blocks,
        encode_jpeg_ycbcr_blocks,
    )

    def encode(doc_id, text):
        data = (text or "").encode("utf-8")
        n = len(data)
        bw, bh = 1 + n % 3, 1 + (n // 3) % 3
        hx = data.hex().upper() or "0"
        variant = doc_id % 3
        nblk = 4 * bw * bh if variant == 2 else bw * bh
        vals = [ord(hx[k % len(hx)]) for k in range(nblk)]
        if variant == 0:
            return (
                encode_jpeg_gray_blocks(vals, bw, bh, restart_interval=2),
                "image/jpeg;gray",
            )
        if variant == 1:
            flat = [128] * len(vals)
            return (
                encode_jpeg_ycbcr_blocks(vals, flat, flat, bw, bh, restart_interval=2),
                "image/jpeg;ycbcr",
            )
        flat = [128] * (bw * bh)
        return (
            encode_jpeg_ycbcr_420_blocks(vals, flat, flat, bw, bh, restart_interval=2),
            "image/jpeg;ycbcr420",
        )

    return _codec_media(docs, "image", encode)


def synthesize_progressive_jpeg_media(docs: DataFrame) -> DataFrame:
    """REAL progressive (SOF2) JPEG payloads (round 7): the same block
    grid / hex-cycle value derivation as synthesize_jpeg_media, but coded
    as multi-scan progressive streams — DC successive approximation
    (Al=1 first scan + refinement scan) plus per-component AC scans
    (functions/jpeg.py encode_jpeg_progressive_blocks). Even doc_ids are
    grayscale, odd are 3-component YCbCr with neutral chroma; decode
    reconstruction is exact, so the closed-form pixel-sum oracle holds."""
    from hive_server_spark.functions.jpeg import encode_jpeg_progressive_blocks

    def encode(doc_id, text):
        data = (text or "").encode("utf-8")
        n = len(data)
        bw, bh = 1 + n % 3, 1 + (n // 3) % 3
        hx = data.hex().upper() or "0"
        vals = [ord(hx[k % len(hx)]) for k in range(bw * bh)]
        if doc_id % 2 == 0:
            return (
                encode_jpeg_progressive_blocks([vals], bw, bh),
                "image/jpeg;progressive-gray",
            )
        flat = [128] * len(vals)
        return (
            encode_jpeg_progressive_blocks([vals, flat, flat], bw, bh),
            "image/jpeg;progressive-ycbcr",
        )

    return _codec_media(docs, "image", encode)


# dHash geometry: a 9x8 cell grid gives 8 row-wise adjacent comparisons per
# row x 8 rows = 64 bits, carried as four 16-bit band values (band i = bit
# rows 2i..2i+1) — the SimHash posture (functions/text.py): band values ARE
# the LSH bucket keys, and the full hash is the band tuple, so no signed
# 64-bit edge cases enter either engine.
DHASH_GRID_W, DHASH_GRID_H = 9, 8
DHASH_PREFIX_LEN = 16

DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("band0", LongType(), False),
        StructField("band1", LongType(), False),
        StructField("band2", LongType(), False),
        StructField("band3", LongType(), False),
    ]
)


def dhash_cell_value(prefix: str, k: int, doc_id: int) -> int:
    """Cell k's constant block value for the dHash fixtures — shared by the
    Spark synthesizer and the planted-duplicate tests; the DuckDB oracle
    spells the identical derivation in SQL. Cells 2.. are md5-derived
    bytes (uniform bits, the statistics real dHash has on distinct
    photos); cell 0 encodes doc parity against fixed cell 1 = 50, so two
    docs sharing a prefix but differing in parity decode to images at
    EXACTLY Hamming distance 1 — planted near-duplicates that are not
    exact duplicates."""
    import hashlib

    if k == 0:
        return 40 + 20 * (doc_id % 2)
    if k == 1:
        return 50
    return int(hashlib.md5(f"{prefix}:{k}".encode()).hexdigest()[:2], 16)


def synthesize_dhash_jpeg_media(docs: DataFrame) -> DataFrame:
    """REAL baseline-JPEG 'thumbnail' fixtures for perceptual-hash dedup:
    each document yields a 72x64 grayscale JPEG of 9x8 constant blocks
    keyed on the first DHASH_PREFIX_LEN characters of its text (a
    doc-header thumbnail: documents sharing a header render the same
    image). Constant blocks decode exactly (see functions/jpeg.py), so
    the grid means — and therefore the dHash — have a closed-form DuckDB
    oracle."""
    from hive_server_spark.functions.jpeg import encode_jpeg_gray_blocks

    nblk = DHASH_GRID_W * DHASH_GRID_H

    def encode(doc_id, text):
        prefix = (text or "")[:DHASH_PREFIX_LEN]
        vals = [dhash_cell_value(prefix, k, doc_id) for k in range(nblk)]
        return (
            encode_jpeg_gray_blocks(vals, DHASH_GRID_W, DHASH_GRID_H),
            "image/jpeg;gray",
        )

    return _codec_media(docs, "image", encode)


def _dhash_band_values(samples, w: int, h: int) -> list[int]:
    """64-bit dHash of one decoded sample array as four 16-bit band
    values: 8x8-pixel tile means on the 9x8 cell grid, bit (r, c) =
    cell[r][c] < cell[r][c+1], band i = bits 16i..16i+15 (local shift
    bit%16). Shared by the image dHash and the per-keyframe video
    fingerprint."""
    import numpy as np

    gw, gh = DHASH_GRID_W, DHASH_GRID_H
    if samples.ndim == 3:  # color: average channels to luma-ish
        samples = samples.mean(axis=-1)
    cells = samples.reshape(gh, h // gh, gw, w // gw).mean(axis=(1, 3))
    bits = (cells[:, :-1] < cells[:, 1:]).reshape(-1)  # 64 row-major
    vals = [0, 0, 0, 0]
    for g in np.nonzero(bits)[0]:
        vals[g // 16] |= 1 << int(g % 16)
    return vals


def dhash_bands(media: DataFrame) -> DataFrame:
    """Per-image 64-bit difference hash over DECODED pixels, as four
    16-bit bands: real JPEG decode (functions/jpeg.py decode_jpeg_samples)
    in the Arrow worker, 8x8-pixel tile means to the 9x8 cell grid, bit
    (r, c) = cell[r][c] < cell[r][c+1], band i = bits 16i..16i+15 (local
    shift bit%16). Partition-preserving mapInPandas: payload bytes never
    shuffle; the hash table downstream is 5 small integers per image."""
    import numpy as np

    from hive_server_spark.functions.jpeg import decode_jpeg_samples

    gw, gh = DHASH_GRID_W, DHASH_GRID_H

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands = [], [[], [], [], []]
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                r = decode_jpeg_samples(bytes(payload))
                if r is None:
                    raise ValueError(f"media {media_id}: not a JPEG payload")
                w, h, samples = r
                vals = _dhash_band_values(samples, w, h)
                ids.append(media_id)
                for i in range(4):
                    bands[i].append(vals[i])
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "band0": bands[0],
                    "band1": bands[1],
                    "band2": bands[2],
                    "band3": bands[3],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        hash_batch, schema=DHASH_SCHEMA
    )


# the bucket columns of `band_long` rows
BAND_KEYS = ["band_idx", "band_val"]


def band_candidates(
    bands: DataFrame, max_bucket: int | None = None, n_bands: int = 4
) -> DataFrame:
    """LSH candidate pairs (id1, id2) from a wide band table (media_id,
    band0..band{n_bands-1}): items sharing at least one 16-bit band value
    — modality-generic (the image dHash and the audio fingerprint emit
    the 4x16-bit shape; the video fingerprint emits 8 bands, four per
    sampled keyframe). The bucket self-join is functions/clusters.py
    `bucket_pairs` on the (band_idx, band_val) key; output is
    O(near-dups), never O(n²). `max_bucket` is its adversarial-input
    guard (`cap_buckets`); None = uncapped (the parity-gate
    configuration)."""
    long = cap_buckets(band_long(bands, n_bands), BAND_KEYS, max_bucket)
    return bucket_pairs(long, BAND_KEYS, "media_id").select(
        F.col("media_id_a").alias("id1"), F.col("media_id_b").alias("id2")
    )


def band_long(bands: DataFrame, n_bands: int = 4) -> DataFrame:
    """A wide band table (media_id, band0..band{n-1}) unpivoted to
    (media_id, band_idx, band_val) — the ONE definition of the band key
    shape (`BAND_KEYS`), shared by every fingerprint modality (image
    dHash, audio energy fingerprint, video keyframe fingerprint):
    band_candidates builds its LSH bucket rows through this same unpivot,
    so the candidate generator and the band index can never disagree on
    the key. Pure stack(); no shuffle."""
    parts = ", ".join(f"{i}L, band{i}" for i in range(n_bands))
    return bands.selectExpr(
        "media_id",
        f"stack({n_bands}, {parts}) AS (band_idx, band_val)",
    )


def band_hamming_pairs(
    bands: DataFrame, n_bands: int = 4, max_bucket: int | None = None
) -> DataFrame:
    """(id1, id2, hd) for every banded-LSH candidate pair: the
    band_candidates bucket join followed by the Hamming verify on
    co-bucketed candidates ONLY — the one Spark spelling of the
    candidate-then-verify tail every fingerprint near-dup query (image,
    audio, video, the fused bundle) aggregates over. Never all-pairs."""
    cand = band_candidates(bands, max_bucket=max_bucket, n_bands=n_bands)
    w1 = bands.select(
        F.col("media_id").alias("id1"),
        *[F.col(f"band{i}").alias(f"a{i}") for i in range(n_bands)],
    )
    w2 = bands.select(
        F.col("media_id").alias("id2"),
        *[F.col(f"band{i}").alias(f"b{i}") for i in range(n_bands)],
    )
    hd = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
        for i in range(n_bands)
    )
    return (
        cand.join(w1, "id1")
        .join(w2, "id2")
        .withColumn("hd", hd)
        .select("id1", "id2", "hd")
    )


VIDEO_FP_FRAMES = 2

VIDEO_FP_SCHEMA = StructType(
    [StructField("media_id", LongType(), False)]
    + [
        StructField(f"band{i}", LongType(), False)
        for i in range(4 * VIDEO_FP_FRAMES)
    ]
)


def video_fp_cell_value(prefix: str, f: int, k: int, doc_id: int) -> int:
    """Cell k's constant block value for keyframe f of the video
    fingerprint fixtures — the video member of the dhash_cell_value
    family, shared by the Spark synthesizer and the tests; the DuckDB
    oracle spells the identical derivation. Frame 0's cell 0 encodes doc
    parity against fixed cell 1 = 50 (planted Hamming-distance-1
    near-dups between same-prefix docs of opposite parity); every other
    cell is an md5-derived byte keyed on (prefix, frame, cell), so
    distinct headers hash to independent fingerprints and BOTH frames
    contribute signal."""
    import hashlib

    if k == 0:
        return (40 + 20 * (doc_id % 2)) if f == 0 else 45
    if k == 1:
        return 50
    return int(hashlib.md5(f"{prefix}:{f}:{k}".encode()).hexdigest()[:2], 16)


def synthesize_fpavi_media(docs: DataFrame) -> DataFrame:
    """REAL MJPEG-AVI 'clip' fixtures for video near-dup: each document
    yields a VIDEO_FP_FRAMES-frame AVI whose frames are 72x64 dHash-style
    thumbnails keyed on the doc-header prefix (videos sharing a header
    render the same clip, modulo the planted parity bit). Constant blocks
    decode exactly, so the whole container -> keyframe -> dHash chain has
    a closed-form DuckDB oracle."""
    from hive_server_spark.functions.jpeg import encode_jpeg_gray_blocks
    from hive_server_spark.functions.video import encode_avi_mjpeg

    nblk = DHASH_GRID_W * DHASH_GRID_H

    def encode(doc_id, text):
        prefix = (text or "")[:DHASH_PREFIX_LEN]
        frames = [
            encode_jpeg_gray_blocks(
                [video_fp_cell_value(prefix, f, k, doc_id) for k in range(nblk)],
                DHASH_GRID_W,
                DHASH_GRID_H,
            )
            for f in range(VIDEO_FP_FRAMES)
        ]
        return (
            encode_avi_mjpeg(frames, 8 * DHASH_GRID_W, 8 * DHASH_GRID_H, rate=25),
            "video/avi;mjpeg",
        )

    return _codec_media(docs, "video", encode)


def video_fp_bands(media: DataFrame) -> DataFrame:
    """Per-video 128-bit fingerprint over REAL decoded keyframes, as
    eight 16-bit bands: AVI container walk, each of the VIDEO_FP_FRAMES
    keyframes through the full JPEG decoder and the shared dHash
    (_dhash_band_values), band 4f+i = frame f's band i. A near-dup
    candidate must collide on a band of the SAME frame position — the LSH
    banding treats (frame, band) as the bucket key, which is what makes
    re-encoded copies of the same clip collide while distinct clips
    don't. Partition-preserving mapInPandas; payload bytes never
    shuffle; the fingerprint table is 9 small integers per video."""
    from hive_server_spark.functions.jpeg import decode_jpeg_samples
    from hive_server_spark.functions.video import parse_avi

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                got = parse_avi(bytes(payload))
                if got is None:
                    raise ValueError(f"media {media_id}: not an AVI payload")
                w, h, _rate, _scale, frames = got
                if len(frames) != VIDEO_FP_FRAMES:
                    raise ValueError(
                        f"media {media_id}: video fingerprint expects "
                        f"{VIDEO_FP_FRAMES} frames, got {len(frames)}"
                    )
                vals = []
                for f in frames:
                    r = decode_jpeg_samples(f)
                    if r is None:
                        raise ValueError(
                            f"media {media_id}: AVI frame is not a JPEG"
                        )
                    fw, fh, samples = r
                    vals.extend(_dhash_band_values(samples, fw, fh))
                rows.append((media_id, *vals))
            yield pd.DataFrame(
                rows,
                columns=["media_id"]
                + [f"band{i}" for i in range(4 * VIDEO_FP_FRAMES)],
            )

    return media.select("media_id", "payload").mapInPandas(
        hash_batch, schema=VIDEO_FP_SCHEMA
    )


FRAME_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("mean_luma", FloatType(), False),
    ]
)


def video_frame_stats(media: DataFrame, strict: bool = True) -> DataFrame:
    """Per-frame scalar stats for MJPEG AVI payloads: container walk, every
    frame through the full JPEG decoder, ONE ROW PER FRAME with
    (width, height, mean_luma) — the decode-then-aggregate shape: frames
    leave the Python worker as scalars, and everything downstream (scene
    segmentation, shot stats, frame diffs) is JVM-side window/groupBy work
    over (media_id, frame_idx). strict=False skips non-AVI payloads
    instead of raising."""
    from hive_server_spark.functions.jpeg import decode_jpeg
    from hive_server_spark.functions.video import parse_avi

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                try:
                    got = parse_avi(b)
                except ValueError:
                    if strict:
                        raise
                    got = None
                if got is None:
                    if strict:
                        raise ValueError(
                            f"media {mid}: video_frame_stats expects MJPEG AVI"
                        )
                    continue
                for i, f in enumerate(got[4]):
                    dec = decode_jpeg(f)
                    if dec is None:
                        raise ValueError(f"media {mid}: AVI frame {i} is not a JPEG")
                    w, h, mean = dec
                    rows.append((mid, i, w, h, mean))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "width", "height", "mean_luma"],
            )

    return media.select("media_id", "payload").mapInPandas(
        stats, schema=FRAME_STATS_SCHEMA
    )


def _resample_linear(samples, src_rate: int, dst_rate: int):
    """Integer-exact linear resampling of a 1-D integer sample array:
    output j reads input position j*src/dst (exact rational arithmetic —
    i = floor, frac = remainder), value = round-half-up of the linear
    blend (s_i*(d-frac) + s_{i+1}*frac + d//2) // d with the final sample
    edge-replicated. Integer end-to-end, so the numpy mirror in the tests
    is bit-exact and the op is deterministic at any parallelism."""
    import numpy as np

    n = int(samples.shape[0])
    if n == 0 or src_rate == dst_rate:
        return samples.copy()
    m = max(1, (n * dst_rate) // src_rate)
    j = np.arange(m, dtype=np.int64)
    num = j * src_rate
    i = num // dst_rate
    frac = num - i * dst_rate
    i = np.minimum(i, n - 1)
    nxt = np.minimum(i + 1, n - 1)
    s = samples.astype(np.int64)
    blended = (s[i] * (dst_rate - frac) + s[nxt] * frac + dst_rate // 2) // dst_rate
    return blended


def resample_audio(media: DataFrame, target_rate: int = 16000) -> DataFrame:
    """Rate-normalize WAV payloads to ``target_rate`` (the 16 kHz
    normalization pass an ASR/audio-training pipeline runs first):
    RIFF walk, per-channel integer-exact linear resampling
    (_resample_linear), re-encoded as a REAL canonical-header WAV payload
    at the same bit depth and channel count. Same-rate payloads pass
    through with only the header rewritten (sample bytes untouched).
    Partition-preserving mapInPandas; payloads never transit the
    driver."""
    import struct as _struct

    import numpy as np

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                got = _wav_parse(bytes(p))
                if got is None:
                    raise ValueError(
                        f"media {mid}: resample_audio expects RIFF/WAVE PCM"
                    )
                rate, n_channels, bits, block_align, data = got
                n_frames = len(data) // block_align
                if bits == 8:
                    arr = np.frombuffer(
                        data[: n_frames * block_align], dtype=np.uint8
                    )
                else:
                    arr = np.frombuffer(
                        data[: n_frames * block_align], dtype="<i2"
                    )
                frames = arr.reshape(n_frames, n_channels)
                out_ch = [
                    _resample_linear(frames[:, c], rate, target_rate)
                    for c in range(n_channels)
                ]
                out = np.stack(out_ch, axis=1)
                out_bytes = (
                    out.astype(np.uint8).tobytes()
                    if bits == 8
                    else out.astype("<i2").tobytes()
                )
                ba = n_channels * (bits // 8)
                header = (
                    b"RIFF"
                    + _struct.pack("<I", 36 + len(out_bytes))
                    + b"WAVEfmt "
                    + _struct.pack(
                        "<IHHIIHH",
                        16, 1, n_channels, target_rate,
                        target_rate * ba, ba, bits,
                    )
                    + b"data"
                    + _struct.pack("<I", len(out_bytes))
                )
                ids.append(mid)
                payloads.append(header + out_bytes)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "audio",
                    "payload": payloads,
                    "meta": [
                        {
                            "declared_format": "audio/wav;resampled",
                            "n_bytes": len(p),
                        }
                        for p in payloads
                    ],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        resample, schema=MEDIA_SCHEMA
    )


def shot_keyframes(media: DataFrame, min_delta: int = 10) -> DataFrame:
    """Scene-aware keyframe extraction: one REAL decodable JPEG per
    detected shot — the sampling primitive scene detection exists for (a
    video curation pipeline dedups/filters per shot, not per fixed
    stride). Composition, not new machinery: video_frame_stats emits the
    per-frame scalars, the cut/shot segmentation is JVM window work
    (lag diff >= min_delta mean-pixel units), the FIRST frame of each
    shot is selected JVM-side, and only then does sample-extraction touch
    payloads again — one mapInPandas pulling exactly the selected frame
    indices per video (the payload is walked once, never shuffled).
    Returns (media_id, shot_id, frame_idx, frame_payload)."""
    from pyspark.sql import Window

    from hive_server_spark.functions.video import parse_avi

    fs = video_frame_stats(media)
    pix = (
        F.round(
            F.col("mean_luma").cast("double")
            * F.lit(255.0)
            * F.col("width")
            * F.col("height")
        ).cast("bigint")
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    picks = (
        fs.withColumn("pix", pix)
        .withColumn("prev", F.lag("pix").over(w))
        .withColumn(
            "cut",
            F.when(
                F.col("prev").isNotNull()
                & (
                    F.abs(F.col("pix") - F.col("prev"))
                    >= F.lit(min_delta) * F.col("width") * F.col("height")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "shot_id",
            F.sum("cut").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("media_id", "shot_id")
        .agg(F.min("frame_idx").alias("frame_idx"))
    )
    wanted = picks.groupBy("media_id").agg(
        F.sort_array(F.collect_list(F.struct("frame_idx", "shot_id"))).alias("w")
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, shots, idxs, payloads = [], [], [], []
            for mid, want, p in zip(pdf["media_id"], pdf["w"], pdf["payload"]):
                got = parse_avi(bytes(p))
                if got is None:
                    raise ValueError(f"media {mid}: shot_keyframes expects MJPEG AVI")
                frames = got[4]
                for entry in want:
                    fi = int(entry["frame_idx"])
                    ids.append(mid)
                    shots.append(int(entry["shot_id"]))
                    idxs.append(fi)
                    payloads.append(frames[fi])
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "shot_id": shots,
                    "frame_idx": idxs,
                    "frame_payload": payloads,
                }
            )

    joined = media.select("media_id", "payload").join(wanted, "media_id")
    return joined.mapInPandas(
        extract,
        schema=StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("shot_id", LongType(), False),
                StructField("frame_idx", IntegerType(), False),
                StructField("frame_payload", BinaryType(), False),
            ]
        ),
    )


def _decode_ppm(payload: bytes) -> tuple[int, int, float] | None:
    """Pure-Python PPM decode: P6 (binary) and P3 (ascii) headers, real
    pixel math. Returns (width, height, mean_luma) or None if not PPM."""
    got = _ppm_samples(payload)
    if got is None:
        return None
    width, height, maxval, samples = got
    mean = float(samples.mean()) if samples.size else 0.0
    return width, height, mean / maxval if maxval else 0.0


def _ppm_samples(payload: bytes):
    """PPM header + sample parse shared by the stats decode and the resize
    transform: returns (width, height, maxval, samples ndarray) or None if
    the payload is not PPM; ValueError on malformed PPM (same error
    contract as the other codecs)."""
    import numpy as np

    if payload[:2] not in (b"P6", b"P3"):
        return None
    # header tokens: magic, width, height, maxval; comments (#...) allowed
    tokens: list[bytes] = []
    pos = 2
    while len(tokens) < 3 and pos < len(payload):
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos >= len(payload):
            break  # EOF during whitespace skip: fall through to truncated
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(payload[start:pos])
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    width, height, maxval = (int(t) for t in tokens)
    if maxval <= 0 or maxval >= 65536:
        # PPM spec: 0 < maxval < 65536; a non-positive value would flow a
        # negative/garbage mean_luma downstream as a "successful" decode
        raise ValueError(f"invalid PPM maxval {maxval}")
    if payload[:2] == b"P6":
        if maxval > 255:
            # 2-bytes-per-sample P6; reading it as 8-bit would silently
            # return a wrong mean — refuse instead of mis-decoding
            raise ValueError(f"unsupported PPM maxval {maxval} (> 255 needs 16-bit samples)")
        pos += 1  # exactly one whitespace byte after maxval
        need = width * height * 3
        if len(payload) - pos < need:
            raise ValueError("truncated PPM pixel data")
        samples = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    else:  # P3: ascii sample values
        samples = np.array(payload[pos:].split(), dtype=np.int64)
        if samples.size != width * height * 3:
            raise ValueError("P3 sample count mismatch")
    return width, height, maxval, samples


def encode_png(pixels) -> bytes:
    """Minimal PNG encoder for fixtures: 8-bit RGB, non-interlaced, one
    zlib-compressed IDAT. `pixels` is an (h, w, 3) uint8 array. Row y uses
    filter type y % 5, so every decoder filter path (None/Sub/Up/Average/
    Paeth) is exercised by any fixture taller than 4 rows — the encoder
    exists to make the strict decoder's reconstruction logic testable, not
    for compression quality."""
    import struct
    import zlib

    import numpy as np

    h, w, _ = pixels.shape
    bpp = 3

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        row = pixels[y].reshape(-1).astype(np.int32)
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), row[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
        ftype = y % 5
        if ftype == 0:
            filt = row
        elif ftype == 1:  # Sub
            filt = row - left
        elif ftype == 2:  # Up
            filt = row - prev
        elif ftype == 3:  # Average
            filt = row - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            filt = row - pred
        raw.append(ftype)
        raw += (filt & 0xFF).astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _decode_png(payload: bytes) -> tuple[int, int, float] | None:
    """Pure-Python PNG decode via stdlib zlib (VERDICT r05 stretch item 6):
    chunk walk, IHDR parse, IDAT inflate, full per-row filter reconstruction
    (None/Sub/Up/Average/Paeth). Supports non-interlaced 8-bit RGB (color
    type 2) and grayscale (type 0); anything else — palette, alpha, 16-bit,
    Adam7 — raises rather than mis-decoding. Returns (width, height,
    mean_luma) or None if the payload is not PNG."""
    got = _png_samples(payload)
    if got is None:
        return None
    width, height, out = got
    mean = float(out.mean()) if out.size else 0.0
    return width, height, mean / 255.0


def _png_samples(payload: bytes):
    """PNG chunk walk + filter reconstruction shared by the stats decode
    and the value-histogram operator: returns (width, height, samples
    uint8 ndarray of shape (height, width*channels)) or None if the
    payload is not PNG; ValueError on malformed/unsupported PNG (the
    common codec error contract)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            if len(data) != 13:
                # struct.unpack would raise struct.error here, which escapes
                # the codec's ValueError contract (and the strict=False
                # fallback in _decode_one) — normalize to the contract
                raise ValueError(f"malformed PNG IHDR (length {len(data)}, want 13)")
            width, height, bit_depth, color_type, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc32
    if width is None:
        raise ValueError("PNG missing IHDR")
    if not idat:
        raise ValueError("PNG missing IDAT")
    if bit_depth != 8 or color_type not in (0, 2) or interlace != 0:
        raise ValueError(
            f"unsupported PNG variant (bit_depth={bit_depth}, "
            f"color_type={color_type}, interlace={interlace}); strict decode "
            "handles non-interlaced 8-bit RGB and grayscale"
        )
    bpp = 3 if color_type == 2 else 1
    stride = width * bpp
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8) if height else None
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:
            rec = row
        elif ftype == 2:  # Up — no left-dependence, vectorized
            rec = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):
            # Sub/Average/Paeth depend on the just-reconstructed left
            # neighbor, so reconstruction is sequential within the row
            rec = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        prev = rec
        out[y] = rec.astype(np.uint8)
    if out is None:
        out = np.zeros((0, stride), dtype=np.uint8)
    return width, height, out


def _decode_bmp(payload: bytes) -> tuple[int, int, float] | None:
    """Pure-Python BMP decode: BITMAPFILEHEADER + BITMAPINFOHEADER, 24-bit
    uncompressed (BI_RGB), bottom-up or top-down, honoring the 4-byte row
    stride padding. Returns (width, height, mean_luma) or None if not BMP."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        return None
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height_raw = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={compression})")
    height = abs(height_raw)
    stride = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = data_offset + stride * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * height,
                         offset=data_offset).reshape(height, stride)
    pixels = rows[:, : width * 3]  # drop stride padding
    mean = float(pixels.mean()) if pixels.size else 0.0
    return width, height, mean / 255.0


def _fake_decode(payload: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for formats needing external codec
    libraries (inter-frame video codecs; every T.81 JPEG mode including
    hierarchical, and MJPEG AVI video, decode for real now): dimensions
    and mean luminance derived from the bytes themselves.
    Only reachable with strict=False."""
    n = len(payload)
    width = 16 + (payload[0] if n else 0) % 240
    height = 16 + (payload[-1] if n else 0) % 240
    mean_luma = (sum(payload[:256]) / min(n, 256) / 255.0) if n else 0.0
    return width, height, float(mean_luma)


def _decode_one(payload: bytes, strict: bool) -> tuple[int, int, float, str]:
    b = bytes(payload)
    try:
        real = _decode_png(b)
        if real is None:
            real = _decode_ppm(b)
        if real is None:
            real = _decode_bmp(b)
        if real is None:
            from hive_server_spark.functions.jpeg import decode_jpeg

            real = decode_jpeg(b)
    except ValueError:
        # magic bytes collided with PNG/PPM/BMP/JPEG but the payload is not
        # a valid raster (e.g. text starting "BMW…"): a strict decode
        # propagates the codec's diagnostic; non-strict falls back to the
        # fake like any other unsupported format instead of failing the task
        if strict:
            raise
        real = None
    if real is not None:
        decoder = (
            "png"
            if b[:1] == b"\x89"
            else (
                "ppm"
                if b[:1] == b"P"
                else ("jpeg" if b[:2] == b"\xff\xd8" else "bmp")
            )
        )
        return (*real, decoder)
    if strict:
        raise ValueError(
            f"unsupported media format (magic {b[:2]!r}); strict decode "
            "handles PNG (8-bit RGB/gray), PPM (P6/P3), uncompressed "
            "24-bit BMP and JPEG (sequential/progressive/lossless/"
            "hierarchical, Huffman or arithmetic)"
        )
    return (*_fake_decode(b), "fake-deterministic")


def decode_media(media: DataFrame, strict: bool = False) -> DataFrame:
    """Decode payloads to (width, height, mean_luma) via mapInPandas.

    Real pure-Python decoders handle PPM (P6/P3) and uncompressed 24-bit
    BMP — actual header parsing + numpy pixel math in the Arrow worker.
    strict=True errors on any other format; strict=False falls back to the
    deterministic fake for them so the full pipeline stays testable."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_one(p, strict) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "mean_luma": [d[2] for d in decoded],
                    "decoder": [d[3] for d in decoded],
                }
            )

    return media.mapInPandas(decode, schema=DECODED_SCHEMA)


HISTOGRAM_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("value", LongType(), False),
        StructField("c", LongType(), False),
        StructField("n", LongType(), False),
    ]
)


def image_value_histogram(media: DataFrame) -> DataFrame:
    """Exact per-image sample-value histogram over REAL decoded pixels
    (strict: PNG only here — the profile's synthesis is PNG): one row per
    (media_id, distinct sample value) with its count `c` and the image's
    total sample count `n`. The downstream entropy/stat aggregation stays
    JVM-side; the Arrow worker only decodes and bincounts. Output is
    bounded by 256 rows per image — a decode-then-aggregate shape whose
    shuffle carries histograms, never pixels."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, values, cs, ns = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                got = _png_samples(bytes(payload))
                if got is None:
                    raise ValueError("image_value_histogram expects PNG payloads")
                _w, _h, samples = got
                flat = samples.reshape(-1)
                hist = np.bincount(flat, minlength=256)
                nz = np.nonzero(hist)[0]
                for v in nz:
                    ids.append(int(media_id))
                    values.append(int(v))
                    cs.append(int(hist[v]))
                    ns.append(int(flat.size))
            yield pd.DataFrame(
                {"media_id": ids, "value": values, "c": cs, "n": ns}
            )

    return media.select("media_id", "payload").mapInPandas(
        build, schema=HISTOGRAM_SCHEMA
    )


def extract_features(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Byte-histogram feature vector (n_bins, L1-normalized) per payload —
    the feature-extraction slot; output plugs into the similarity-search
    operators (functions/embeddings.py)."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                arr = np.frombuffer(bytes(p), dtype=np.uint8)
                hist = np.bincount(arr // (256 // n_bins), minlength=n_bins)[:n_bins]
                total = max(int(hist.sum()), 1)
                feats.append((hist / total).astype("float32").tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return media.mapInPandas(featurize, schema=FEATURE_SCHEMA)


DECODED_FEATURES_SCHEMA = StructType(
    DECODED_SCHEMA.fields
    + [
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)


def decode_and_featurize(
    media: DataFrame, n_bins: int = 16, strict: bool = False
) -> DataFrame:
    """Fused decode + feature pass: one mapInPandas, one trip through the
    Python workers — for pipelines that need both outputs, this halves the
    Arrow transfer and worker overhead versus running decode_media and
    extract_features separately. Same codec dispatch as decode_media."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            decoded, feats, sizes = [], [], []
            for p in pdf["payload"]:
                b = bytes(p)
                decoded.append(_decode_one(b, strict))
                sizes.append(len(b))
                arr = np.frombuffer(b, dtype=np.uint8)
                hist = np.bincount(arr // (256 // n_bins), minlength=n_bins)[:n_bins]
                total = max(int(hist.sum()), 1)
                feats.append((hist / total).astype("float32").tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "mean_luma": [d[2] for d in decoded],
                    "decoder": [d[3] for d in decoded],
                    "n_bytes": sizes,
                    "features": feats,
                }
            )

    return media.mapInPandas(run, schema=DECODED_FEATURES_SCHEMA)


def synthesize_hier_jpeg_media(docs: DataFrame) -> DataFrame:
    """REAL hierarchical (DHP/EXP/differential) JPEG payloads from
    documents, rotating through all four DCT hierarchical processes by
    doc_id % 4 (SOF0+SOF5, SOF2+SOF6, SOF9+SOF13, SOF10+SOF14). The base
    frame is ONE constant 8x8 block (value = ascii of hex-of-text char 0),
    so the J.1.1.2 expansion stays constant-exact; the stage's EXP axes
    rotate by doc_id % 3 ((1,1) / (1,0) / (0,1)) and block k of the
    differential frame adds ascii(hx[(k+1) mod L]) - 57 (range -9..13 —
    sums stay inside [0, 255], so no clipping enters the oracle). Restart
    interval 2 on the sequential processes exercises RSTn resync inside
    hierarchical frames."""
    from hive_server_spark.functions.jpeg import (
        encode_jpeg_hierarchical_gray_process,
    )

    _PROCS = ("seq", "prog", "arith", "arith-prog")

    def encode(doc_id, text):
        hx = (text or "").encode("utf-8").hex().upper() or "0"
        axes = ((1, 1), (1, 0), (0, 1))[doc_id % 3]
        gw, gh = 1 + axes[0], 1 + axes[1]
        diffs = [ord(hx[(k + 1) % len(hx)]) - 57 for k in range(gw * gh)]
        proc = _PROCS[doc_id % 4]
        ri = 2 if proc in ("seq", "arith") else 0
        payload = encode_jpeg_hierarchical_gray_process(
            [ord(hx[0])], 1, 1, [(axes[0], axes[1], diffs)],
            process=proc, restart_interval=ri,
        )
        return payload, f"image/jpeg;hier-{proc}"

    return _codec_media(docs, "image", encode)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Uniform frame sampling for 'video' payloads, exploded one row per
    sampled frame. RIFF/AVI payloads (round 10) get REAL keyframe
    extraction: the container walk pulls the MJPEG frame payloads and the
    sample keeps every frame when the video has <= n_frames, else the
    strictly-increasing stride indices i*F//n_frames — frame_idx is the
    ORIGINAL frame number and frame_payload a decodable JPEG. Non-AVI
    payloads keep the byte-slice stand-in (equal chunks, frame_idx = chunk
    number) so mixed corpora and the fake-video fixtures keep flowing.
    mapInPandas so a 100 MB payload never transits the driver."""
    from hive_server_spark.functions.video import parse_avi

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, payloads = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                avi = parse_avi(b) if b[:4] == b"RIFF" else None
                if avi is not None:
                    vid_frames = avi[4]
                    total = len(vid_frames)
                    if total <= n_frames:
                        picks = range(total)
                    else:
                        picks = sorted({i * total // n_frames for i in range(n_frames)})
                    for i in picks:
                        ids.append(mid)
                        idxs.append(i)
                        payloads.append(vid_frames[i])
                    continue
                step = max(len(b) // n_frames, 1)
                for i in range(n_frames):
                    ids.append(mid)
                    idxs.append(i)
                    payloads.append(b[i * step : (i + 1) * step])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_payload": payloads}
            )

    return media.where(F.col("kind") == "video").mapInPandas(frames, schema=FRAME_SCHEMA)


def decode_video(media: DataFrame, strict: bool = False) -> DataFrame:
    """Decode video payloads via mapInPandas — REAL for RIFF/AVI MJPEG
    (round 10; functions/video.py): container walk, every frame decoded
    through the full T.81 JPEG decoder, mean_luma the pixel-weighted mean
    over all frames. strict=True raises on anything that is not a valid
    MJPEG AVI (inter-frame codecs need external libraries — the documented
    boundary); strict=False falls back to the deterministic fake so mixed
    corpora keep flowing. Partition-preserving, Arrow-batched, payloads
    never transit the driver — the shared multimodal scale posture."""
    from hive_server_spark.functions.video import decode_avi_stats

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                try:
                    got = decode_avi_stats(b)
                except ValueError:
                    if strict:
                        raise
                    got = None
                if got is not None:
                    w, h, nf, rate, scale, mean = got
                    rows.append((mid, w, h, nf, rate, scale, mean, "avi-mjpeg"))
                    continue
                if strict:
                    raise ValueError(
                        "unsupported video format (magic %r); strict video "
                        "decode handles RIFF/AVI with MJPG frames only" % b[:4]
                    )
                w, h, mean = _fake_decode(b)
                rows.append((mid, w, h, 1, 25, 1, mean, "fake-deterministic"))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_frames",
                    "fps_rate", "fps_scale", "mean_luma", "decoder",
                ],
            )

    return media.mapInPandas(decode, schema=VIDEO_DECODED_SCHEMA)


def synthesize_avi_media(docs: DataFrame) -> DataFrame:
    """REAL RIFF/AVI MJPEG payloads from documents: n_frames = 2 + doc_id%3
    constant-block grayscale JPEG frames (the decode-exact fixture family,
    restart interval 2) on the bw=1+n%3 x bh=1+(n//3)%3 grid the JPEG
    fixtures use, where frame f's block k carries the ascii of the
    hex-of-text string cycled at position f*bw*bh + k — ONE closed-form
    byte derivation across every frame of every video, so the full
    container decode keeps a byte-level DuckDB oracle. Frame rate cycles
    10/15/20/25 fps by doc_id, exercising the strh rate/scale parse."""
    from hive_server_spark.functions.jpeg import encode_jpeg_gray_blocks
    from hive_server_spark.functions.video import encode_avi_mjpeg

    def encode(doc_id, text):
        data = (text or "").encode("utf-8")
        n = len(data)
        bw, bh = 1 + n % 3, 1 + (n // 3) % 3
        hx = data.hex().upper() or "0"
        nblk = bw * bh
        frames = [
            encode_jpeg_gray_blocks(
                [ord(hx[(f * nblk + k) % len(hx)]) for k in range(nblk)],
                bw, bh, restart_interval=2,
            )
            for f in range(2 + doc_id % 3)
        ]
        payload = encode_avi_mjpeg(
            frames, 8 * bw, 8 * bh, rate=10 + 5 * (doc_id % 4), scale=1
        )
        return payload, "video/avi;mjpeg"

    return _codec_media(docs, "video", encode)


def _nn_resize(arr, out_w: int, out_h: int):
    """Nearest-neighbor resample of an (h, w, 3) array: source index of
    output pixel (y, x) is (y*h//out_h, x*w//out_w) — the floor-mapping
    convention, chosen because it is exactly reproducible as closed-form
    integer SQL in the oracle."""
    import numpy as np

    h, w = arr.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return arr[np.ix_(ys, xs)]


def resize_media(
    media: DataFrame, out_w: int, out_h: int, strict: bool = False
) -> DataFrame:
    """Image resize as a media→media transform: decode PPM payloads (P6 or
    P3, 8-bit), nearest-neighbor resample to (out_w, out_h), re-encode as
    P6 — so downstream consumers (decode, featurize, frames) run unchanged
    on the resized corpus. strict=True raises on non-PPM payloads and on
    any maxval other than 255 (re-encoding at maxval 255 would silently
    re-normalize the luma of 16-bit or sub-255-maxval images);
    strict=False passes unsupported payloads through untouched. Arrow-
    batched mapInPandas, partition-preserving, payloads never transit the
    driver."""
    import numpy as np  # noqa: F401  (used via _nn_resize)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, payloads, metas = [], [], [], []
            for mid, kind, p, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                b = bytes(p)
                got = _ppm_samples(b)
                if got is None or got[2] != 255:
                    if strict:
                        raise ValueError(
                            "resize supports maxval-255 PPM payloads only "
                            f"(magic {b[:2]!r})"
                        )
                    ids.append(mid); kinds.append(kind)
                    payloads.append(b); metas.append(meta)
                    continue
                w, h, _maxval, samples = got
                arr = samples.astype("uint8").reshape(h, w, 3)
                out = _nn_resize(arr, out_w, out_h)
                header = b"P6\n%d %d\n255\n" % (out_w, out_h)
                newp = header + out.tobytes()
                ids.append(mid); kinds.append(kind)
                payloads.append(newp)
                metas.append(
                    {"declared_format": "image/x-portable-pixmap",
                     "n_bytes": len(newp)}
                )
            yield pd.DataFrame(
                {"media_id": ids, "kind": kinds, "payload": payloads,
                 "meta": metas}
            )

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


AUDIT_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("verdict", StringType(), False),
        StructField("n_bytes", LongType(), False),
    ]
)


def decode_audit(media: DataFrame) -> DataFrame:
    """Quarantine classifier for mixed/dirty corpora: run every payload
    through the real codecs and report per-payload
    `ok-image` / `ok-audio` / `malformed` (right magic, broken body — the
    rows a pipeline quarantines for re-fetch) / `unsupported` (no codec
    claims it — the rows routed to a different pipeline or dropped).
    Unlike strict decode, nothing raises: the point IS the error path.
    Same scale posture as the codecs: Arrow-batched, partition-preserving,
    map-only."""

    def classify(b: bytes) -> str:
        try:
            for dec in (_decode_png, _decode_ppm, _decode_bmp):
                if dec(b) is not None:
                    return "ok-image"
        except ValueError:
            return "malformed"
        try:
            if _decode_wav(b) is not None:
                return "ok-audio"
        except ValueError:
            return "malformed"
        return "unsupported"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "verdict": [classify(b) for b in payloads],
                    "n_bytes": [len(b) for b in payloads],
                }
            )

    return media.mapInPandas(run, schema=AUDIT_SCHEMA)


def _le32_hex(col):
    """Hex string of a non-negative integral column as a little-endian
    uint32 (byte-pair reversal of the big-endian lpad'ed hex) — the header
    arithmetic RIFF containers need, as a pure JVM expression."""
    h = F.lpad(F.hex(col.cast("long")), 8, "0")
    return F.concat(
        F.substring(h, 7, 2), F.substring(h, 5, 2), F.substring(h, 3, 2),
        F.substring(h, 1, 2),
    )


def _le16_hex(col):
    h = F.lpad(F.hex(col.cast("long")), 4, "0")
    return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))


def synthesize_wav_media(docs: DataFrame) -> DataFrame:
    """REAL RIFF/WAVE PCM payloads from documents, built entirely with JVM
    column expressions: the canonical 44-byte header (RIFF size, fmt chunk
    with PCM tag / mono / 8-bit, data chunk length — all little-endian
    fields computed via `_le32_hex`/`_le16_hex` and materialized through
    unhex) followed by n_samples unsigned 8-bit samples, which are the same
    rpad-cycled uppercase-hex-of-text bytes the PPM/PNG fixtures use — so
    one closed-form DuckDB byte-sum covers image and audio codecs alike.

    n_samples ∈ [64, 255] derives from the utf-8 byte count; sample_rate
    cycles {8000, 12000, 16000, 20000} Hz by doc_id, exercising the
    decoder's rate parsing with more than one value."""
    n = F.octet_length(F.encode("text", "utf-8"))
    n_samples = (F.lit(64) + n % 192).alias("n_samples")
    rate = (F.lit(8000) + (F.col("doc_id") % 4) * 4000).alias("rate")
    sized = spread(docs).select(F.col("doc_id"), n_samples, rate, F.col("text"))
    hx = F.hex(F.encode("text", "utf-8"))
    hx = F.when(F.length(hx) > 0, hx).otherwise(F.lit("0"))
    samples = F.rpad(hx, F.col("n_samples"), hx)
    data_len = F.col("n_samples")  # mono, 1 byte per sample
    header_hex = F.concat(
        F.lit("52494646"),            # "RIFF"
        _le32_hex(F.lit(36) + data_len),
        F.lit("57415645"),            # "WAVE"
        F.lit("666D7420"),            # "fmt "
        _le32_hex(F.lit(16)),         # fmt chunk size
        _le16_hex(F.lit(1)),          # audio format 1 = PCM
        _le16_hex(F.lit(1)),          # channels
        _le32_hex(F.col("rate")),
        _le32_hex(F.col("rate")),     # byte rate = rate * block_align(1)
        _le16_hex(F.lit(1)),          # block align
        _le16_hex(F.lit(8)),          # bits per sample
        F.lit("64617461"),            # "data"
        _le32_hex(data_len),
    )
    payload = F.concat(F.unhex(header_hex), F.encode(samples, "utf-8"))
    return sized.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.lit("audio/wav").alias("declared_format"),
            (F.lit(44) + data_len).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _wav_parse(payload: bytes) -> tuple[int, int, int, int, bytes] | None:
    """RIFF/WAVE container walk shared by every audio consumer: fmt/data
    discovery with word-alignment padding and unknown chunks skipped.
    Returns (sample_rate, n_channels, bits, block_align, data) — or None
    if the payload is not RIFF/WAVE. Malformed RIFF raises ValueError
    (the codec error contract shared with the image decoders)."""
    import struct as _struct

    b = payload
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    fmt = None
    data = None
    off = 12
    while off + 8 <= len(b) and (fmt is None or data is None):
        cid = b[off : off + 4]
        (size,) = _struct.unpack_from("<I", b, off + 4)
        body = b[off + 8 : off + 8 + size]
        if len(body) < size:
            raise ValueError("truncated RIFF chunk %r" % cid)
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            audio_format, n_channels, rate, _brate, block_align, bits = (
                _struct.unpack_from("<HHIIHH", body, 0)
            )
            if audio_format != 1:
                raise ValueError(
                    "unsupported WAVE audio format %d (PCM only)" % audio_format
                )
            if bits not in (8, 16):
                raise ValueError("unsupported PCM bit depth %d" % bits)
            # the shared codec error contract: malformed fields raise
            # ValueError, never leak a ZeroDivisionError downstream
            # (resample_audio divides by the header rate, channel math
            # divides by the channel count)
            if rate <= 0:
                raise ValueError("non-positive WAVE sample rate")
            if n_channels <= 0:
                raise ValueError("non-positive WAVE channel count")
            fmt = (rate, n_channels, bits, block_align)
        elif cid == b"data":
            data = body
        off += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("RIFF/WAVE missing fmt or data chunk")
    rate, n_channels, bits, block_align = fmt
    if block_align <= 0:
        block_align = n_channels * (bits // 8)
    return rate, n_channels, bits, block_align, data


def _decode_wav(payload: bytes) -> tuple[int, int, int, int, float] | None:
    """Pure-Python RIFF/WAVE PCM decode over `_wav_parse`, 8-bit unsigned
    and 16-bit signed PCM. Returns (sample_rate, n_channels, bits,
    n_frames, mean_amp) — mean_amp is the mean raw unsigned value for
    8-bit, the mean absolute amplitude for 16-bit — or None if the payload
    is not RIFF/WAVE."""
    import numpy as np

    got = _wav_parse(payload)
    if got is None:
        return None
    rate, n_channels, bits, block_align, data = got
    n_frames = len(data) // block_align
    if bits == 8:
        arr = np.frombuffer(data[: n_frames * block_align], dtype=np.uint8)
        mean_amp = float(arr.mean()) if arr.size else 0.0
    else:
        usable = (len(data) // 2) * 2
        arr = np.frombuffer(data[:usable], dtype="<i2")
        mean_amp = float(np.abs(arr.astype(np.int32)).mean()) if arr.size else 0.0
    return rate, n_channels, bits, n_frames, mean_amp


def decode_audio(media: DataFrame, strict: bool = False) -> DataFrame:
    """Decode audio payloads via mapInPandas: real RIFF/WAVE PCM parsing
    (`_decode_wav`). strict=True errors on anything that is not a valid
    WAVE container; strict=False treats unknown payloads as headerless
    8-bit PCM at 8 kHz (decoder tag 'fake-pcm8') so mixed-format corpora
    keep flowing. Partition-preserving, Arrow-batched, payloads never
    transit the driver — same scale posture as the image codec."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                got = _decode_wav(b)
                if got is not None:
                    rate, ch, bits, frames, mean_amp = got
                    rows.append((mid, rate, ch, bits, frames, mean_amp, "wav"))
                elif strict:
                    raise ValueError(
                        f"unsupported audio format (magic {b[:4]!r}); strict "
                        "decode handles RIFF/WAVE PCM (8/16-bit)"
                    )
                else:
                    arr = np.frombuffer(b, dtype=np.uint8)
                    mean_amp = float(arr.mean()) if arr.size else 0.0
                    rows.append((mid, 8000, 1, 8, len(b), mean_amp, "fake-pcm8"))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_channels",
                    "bits_per_sample", "n_samples", "mean_amp", "decoder",
                ],
            )

    return media.mapInPandas(decode, schema=AUDIO_DECODED_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("sample_sum", LongType(), False),
        StructField("energy_num", LongType(), False),
        StructField("zero_crossings", LongType(), False),
        StructField("peak_num", LongType(), False),
        StructField("zcr", DoubleType(), False),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """Exact-integer DSP features through the REAL WAV codec: per clip,
    the mean-centered signal energy, strict zero-crossing count, and peak
    deviation — the feature-extract slot of an audio curation pipeline
    (silence/clipping detection, energy-based filtering). The float mean
    never appears: deviations are n-scaled (dev_i = n*s_i − Σs, an exact
    integer), so energy = Σ dev², crossings = #(dev_i·dev_{i+1} < 0) and
    peak = max|dev| are all BIGINT-exact and closed-form checkable. Only
    mono 8-bit PCM is in scope (the synthesized corpus); anything else
    raises — strict by construction. Same scale posture as the codecs:
    Arrow-batched mapInPandas, partition-preserving, payloads never
    transit the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                got = _wav_parse(bytes(p))
                if got is None:
                    raise ValueError("audio_features: payload is not RIFF/WAVE")
                rate, ch, bits, _block, data = got
                if bits != 8 or ch != 1:
                    raise ValueError(
                        "audio_features: %d-bit %d-channel PCM out of scope"
                        % (bits, ch)
                    )
                s = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
                n = int(s.size)
                total = int(s.sum())
                dev = n * s - total
                energy = int(np.dot(dev, dev))
                zc = int(np.count_nonzero(dev[:-1] * dev[1:] < 0))
                peak = int(np.abs(dev).max()) if n else 0
                rows.append(
                    (
                        int(mid),
                        int(rate),
                        n,
                        total,
                        energy,
                        zc,
                        peak,
                        zc / (n - 1) if n > 1 else 0.0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_samples",
                    "sample_sum",
                    "energy_num",
                    "zero_crossings",
                    "peak_num",
                    "zcr",
                ],
            )

    return media.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup (round 10 library, gate registration planned
# for round 11): the audio member of the perceptual-dedup triad (text
# MinHash, image dHash, audio frame-energy hash). The fingerprint is the
# chromaprint-shaped "energy delta" bit vector WITHOUT the FFT leg: frame
# the decoded PCM into fixed-length frames, per-frame energy = sum of
# squared centered amplitudes, bit i = energy[i] < energy[i+1] — 65 frames
# -> 64 bits, carried as the same four 16-bit bands the image dHash emits,
# so band_candidates / Hamming verification apply verbatim. The fixture
# synthesizer uses CONSTANT amplitude per frame (energy = N*a^2, monotone
# in a for a >= 0), which keeps the whole decode -> energy -> bit chain in
# closed form for a DuckDB oracle while the Spark side runs the real RIFF
# walk + numpy energies.
# ---------------------------------------------------------------------------
AUDIO_FP_FRAMES = 65   # frames per fingerprint -> 64 comparison bits
AUDIO_FP_FRAME_LEN = 32  # samples per frame
AUDIO_FP_PREFIX_LEN = 16


def audio_fp_amplitude(prefix: str, k: int, doc_id: int) -> int:
    """Frame k's constant amplitude (0..127) for the fingerprint fixtures —
    the audio twin of dhash_cell_value, same planting scheme: frame 0
    encodes doc parity against fixed frame 1 = 50, so two docs sharing a
    text header but differing in parity are EXACTLY Hamming distance 1;
    frames 2.. are md5-derived (uniform bits)."""
    import hashlib

    if k == 0:
        return 40 + 20 * (doc_id % 2)
    if k == 1:
        return 50
    return int(hashlib.md5(f"{prefix}:{k}".encode()).hexdigest()[:2], 16) % 128


def synthesize_fpwav_media(docs: DataFrame) -> DataFrame:
    """REAL RIFF/WAVE PCM fingerprint fixtures: 8-bit unsigned mono,
    AUDIO_FP_FRAMES x AUDIO_FP_FRAME_LEN samples, frame k constant at
    128 + audio_fp_amplitude(header, k, doc_id) — sample bytes sit in the
    positive half so centered energy is monotone in the amplitude and the
    oracle stays closed-form. Keyed on the first AUDIO_FP_PREFIX_LEN
    characters of the text (the doc-header scheme the image dHash fixtures
    use)."""
    import struct as _struct

    n_samples = AUDIO_FP_FRAMES * AUDIO_FP_FRAME_LEN
    header = (
        b"RIFF" + _struct.pack("<I", 36 + n_samples) + b"WAVE"
        + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 16000, 16000, 1, 8)
        + b"data" + _struct.pack("<I", n_samples)
    )

    def encode(doc_id, text):
        prefix = (text or "")[:AUDIO_FP_PREFIX_LEN]
        data = bytearray()
        for k in range(AUDIO_FP_FRAMES):
            a = audio_fp_amplitude(prefix, k, doc_id)
            data += bytes([128 + a]) * AUDIO_FP_FRAME_LEN
        return header + bytes(data), "audio/wav"

    return _codec_media(docs, "audio", encode)


def audio_fingerprint_bands(
    media: DataFrame, frame_len: int = AUDIO_FP_FRAME_LEN
) -> DataFrame:
    """Per-clip 64-bit frame-energy fingerprint over DECODED PCM, as four
    16-bit bands: real RIFF/WAVE parse (_wav_parse — 8/16-bit, channels
    averaged to mono), frames of `frame_len` samples, per-frame energy =
    sum of squared centered amplitudes in float64, bit i =
    energy[i] < energy[i+1] for the first AUDIO_FP_FRAMES frames, band
    j = bits 16j..16j+15 (local shift bit%16 — identical packing to
    dhash_bands, so band_candidates applies). Clips shorter than
    AUDIO_FP_FRAMES full frames raise the codec ValueError contract.
    Partition-preserving mapInPandas; 5 small integers per clip leave
    Python."""
    import numpy as np

    nbits = AUDIO_FP_FRAMES - 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands = [], [[], [], [], []]
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = _wav_parse(bytes(payload))
                if parsed is None:
                    raise ValueError(f"media {media_id}: not a RIFF/WAVE payload")
                rate, n_channels, bits, block_align, data = parsed
                if bits == 8:
                    s = np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
                else:
                    s = np.frombuffer(
                        data[: len(data) // 2 * 2], dtype="<i2"
                    ).astype(np.float64)
                if n_channels > 1:  # average interleaved channels to mono
                    s = s[: len(s) // n_channels * n_channels]
                    s = s.reshape(-1, n_channels).mean(axis=1)
                need = AUDIO_FP_FRAMES * frame_len
                if len(s) < need:
                    raise ValueError(
                        f"media {media_id}: {len(s)} samples < {need} needed "
                        f"for a {AUDIO_FP_FRAMES}-frame fingerprint"
                    )
                e = (s[:need].reshape(AUDIO_FP_FRAMES, frame_len) ** 2).sum(axis=1)
                vals = [0, 0, 0, 0]
                for g in np.nonzero(e[:-1] < e[1:])[0][:nbits]:
                    vals[g // 16] |= 1 << int(g % 16)
                ids.append(media_id)
                for j in range(4):
                    bands[j].append(vals[j])
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "band0": bands[0],
                    "band1": bands[1],
                    "band2": bands[2],
                    "band3": bands[3],
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, schema=DHASH_SCHEMA)


# ---------------------------------------------------------------------------
# FLAC surface (round 11 — functions/flac.py): fixture synthesis and the
# exact integer stats profile. FLAC is bit-exact by construction, so the
# stats carry NO float leg at all: the decoder returns integer samples and
# the per-clip amplitude total is an integer sum — the strongest oracle
# discipline any codec here has.
# ---------------------------------------------------------------------------

FLAC_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("amp_total", LongType(), False),
    ]
)


def synthesize_flac_media(docs: DataFrame) -> DataFrame:
    """REAL FLAC payloads from documents: mono 8-bit, samples are the
    signed (ascii - 128) values of the uppercase-hex-of-text characters —
    the same byte derivation the WAV/PPM fixtures use, so every stat has
    a closed-form DuckDB oracle. Sample rate cycles 8-11 kHz by doc_id %
    4; the subframe kind rotates fixed-predictor+Rice / verbatim /
    LPC by doc_id % 3 (coprime cycles — every kind sees every
    rate), so ALL THREE decoder predictor families are value-gated
    through the gate corpus, LPC included (VERDICT r11 item 6). The LPC
    slot itself alternates order-2 / order-8 encodings (different order,
    precision, AND shift), so the general LPC dot-product is gated too
    (VERDICT r12 item 5). Docs too short for a predictor's warmup fall
    back to verbatim coding but keep their rotation label — the stats
    are kind-agnostic, so the closed forms are unaffected."""
    from hive_server_spark.functions.flac import encode_flac

    _KINDS = ("fixed1", "verbatim", "lpc2")

    def encode(doc_id, text):
        hx = (text or "").encode("utf-8").hex().upper() or "0"
        samples = [ord(c) - 128 for c in hx]
        kind = _KINDS[doc_id % 3]
        # within the LPC rotation slot, alternate order-2 / order-8
        # encodings so the decoder's GENERAL LPC dot-product (arbitrary
        # order/precision/shift) is exercised by the gate corpus, not just
        # the order-2 special case (VERDICT r12 item 5). The stats are
        # kind-agnostic — lossless decode — so the doc_id % 3 variant
        # label and every closed form are unaffected.
        if kind == "lpc2" and (doc_id // 3) % 2 == 1:
            kind = "lpc8"
        # predictors need warmup + residual in EVERY block, and encode_flac
        # blocks at 4096: a doc whose sample count leaves a tail block
        # shorter than the warmup (e.g. 4098 samples -> blocks [4096, 2]
        # under lpc2) must fall back, not crash the gate query (round-12
        # review)
        need = {"fixed1": 2, "lpc2": 3, "lpc8": 9}.get(kind, 1)
        tail = len(samples) % 4096
        if len(samples) < need or (tail and tail < need):
            kind = "verbatim"
        payload = encode_flac(
            [samples], sample_rate=8000 + 1000 * (doc_id % 4), bits=8, subframe=kind
        )
        return payload, "audio/flac"

    return _codec_media(docs, "audio", encode)


def flac_stats(media: DataFrame) -> DataFrame:
    """Exact per-clip FLAC stats through the REAL decoder (CRC-8/CRC-16/
    MD5 verified): (sample_rate, n_samples, amp_total) with amp_total =
    Σ (sample + 2^(bits-1)) as a pure integer — no float anywhere.
    Partition-preserving mapInPandas; payloads never shuffle."""
    from hive_server_spark.functions.flac import decode_flac

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, ns, amps = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                got = decode_flac(bytes(p))
                if got is None:
                    raise ValueError(f"media {mid}: not a FLAC payload")
                rate, nch, bits, chans = got
                half = 1 << (bits - 1)
                n = len(chans[0]) if chans else 0
                ids.append(mid)
                rates.append(rate)
                ns.append(n * nch)
                amps.append(sum(v + half for ch in chans for v in ch))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "sample_rate": rates,
                    "n_samples": ns,
                    "amp_total": amps,
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=FLAC_STATS_SCHEMA
    )
