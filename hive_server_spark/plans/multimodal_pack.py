"""Gate entries for the multimodal surface. Every entry is value-gated,
including the decode profile: the strict-mode codecs (pure-Python PNG/PPM/
BMP, functions/multimodal.py) face a closed-form byte-level DuckDB oracle;
operator semantics are additionally pinned by tests/test_multimodal.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_server_spark.catalog import load_table
from hive_server_spark.functions import multimodal as M
from hive_server_spark.functions.clusters import band_index, occupied_flags, split_refresh
from hive_server_spark.functions.text import spread
from hive_server_spark.registry import register


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread to full parallelism once, for a query that feeds
    SEVERAL synthesizers (or filtered slices of one corpus) so they share
    one exchange. Fan-out itself is the synthesizer's job: each spreads its
    own input (functions/multimodal.py), and spreading this frame again is
    the identity, so a query with one synthesizer passes the scan."""
    return spread(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_inventory",
    """
WITH media AS (
  SELECT 'image' AS kind, encode(text) AS payload, n_chars FROM documents
  UNION ALL
  SELECT 'audio' AS kind, encode(text) AS payload, n_chars FROM documents
)
SELECT kind,
       CAST(COUNT(*) AS BIGINT)                  AS n_media,
       CAST(SUM(octet_length(payload)) AS BIGINT) AS payload_bytes,
       CAST(MAX(octet_length(payload)) AS BIGINT) AS max_payload_bytes,
       CAST(SUM(n_chars) AS BIGINT)              AS declared_bytes
FROM media GROUP BY kind
""",
)
def multimodal_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary-column plumbing, value-gated: synthesize image and audio
    payloads (opaque binary + typed metadata struct — the multimodal table
    layout), then inventory actual vs declared sizes per kind. The payload
    bytes are measured on the BINARY column, so the utf-8 encode step and
    the metadata struct both face the DuckDB oracle (the codecs themselves
    are value-gated separately: multimodal_decode_profile /
    _audio_profile / _resize_profile / _corrupt_audit)."""
    docs = _docs_wide(spark, sf_dir)
    media = M.synthesize_media(docs, kind="image").unionAll(
        M.synthesize_media(docs, kind="audio")
    )
    return media.groupBy("kind").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.sum(F.length("payload")).cast("bigint").alias("payload_bytes"),
        F.max(F.length("payload")).cast("bigint").alias("max_payload_bytes"),
        F.sum(F.col("meta.n_bytes")).cast("bigint").alias("declared_bytes"),
    )


@register(
    "multimodal_frame_inventory",
    """
WITH media AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n FROM documents
), f AS (
  SELECT media_id, unnest(range(4)) AS frame_idx, n,
         greatest(n // 4, 1) AS step
  FROM media
)
SELECT CAST(COUNT(DISTINCT media_id) AS BIGINT) AS n_media,
       CAST(COUNT(*) AS BIGINT)                 AS n_frames,
       CAST(SUM(greatest(least(n, (frame_idx+1)*step) - frame_idx*step, 0)) AS BIGINT)
         AS total_frame_bytes,
       CAST(MAX(greatest(least(n, (frame_idx+1)*step) - frame_idx*step, 0)) AS BIGINT)
         AS max_frame_bytes
FROM f
""",
)
def multimodal_frame_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling, value-gated: uniform byte-slice 'keyframes' are
    deterministic arithmetic over payload lengths, so the mapInPandas
    explode (one row per frame, payload never transits the driver) faces a
    closed-form DuckDB oracle — the batch shape and slicing logic are both
    checked, leaving only the real codec stubbed."""
    media = M.synthesize_media(load_table(spark, sf_dir, "documents"), kind="video")
    frames = M.sample_frames(media, n_frames=4)
    return frames.agg(
        F.count_distinct("media_id").cast("bigint").alias("n_media"),
        F.count("*").cast("bigint").alias("n_frames"),
        F.sum(F.length("frame_payload")).cast("bigint").alias("total_frame_bytes"),
        F.max(F.length("frame_payload")).cast("bigint").alias("max_frame_bytes"),
    )


# The codec is REAL here (PPM and PNG): synthesize_ppm_media
# builds genuine P6 payloads with column expressions (header + w*h*3
# hex-char pixel bytes) and synthesize_png_media builds genuine zlib+CRC32
# PNGs whose DECODED pixels are byte-identical to the PPM ones (same w/h
# formulas, same rpad-cycled hex bytes; row filters rotate through all five
# PNG filter types). decode runs strict=True — header parsing, IDAT
# inflate + filter reconstruction, numpy pixel math in the Arrow worker, no
# fake fallback reachable. The DuckDB oracle recomputes what a correct
# decode of EITHER format must observe: dimensions from the synthesis
# formula and the pixel-byte sum of the same rpad-cycled hex string (ascii()
# per position) — one closed-form computation, two decoder rows. The float32
# outputs fold back to exact integers via round(): pixel sums are
# ≤ 15·15·3·70 ≈ 47k, so the worst-case float32 reconstruction error
# ≈ 47k·2⁻²⁴ ≈ 0.003 ≪ 0.5. bin0 pins the featurize path on the PPM row
# (exactly 3 header newlines — the only payload bytes < 16; pixel bytes are
# hex-digit ASCII ≥ 48); for PNG the payload is DEFLATE-compressed, so its
# byte histogram has no closed SQL form and the bin0 column is fixed 0 on
# both sides.
@register(
    "multimodal_decode_profile",
    """
WITH m AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), dims AS (
  SELECT media_id, hx,
         8 + n % 8        AS width,
         8 + (n // 8) % 8 AS height
  FROM m
), px AS (
  SELECT media_id, width, height,
         rpad(hx, CAST(width*height*3 AS INTEGER), hx) AS pxs
  FROM dims
), pxb AS (
  SELECT media_id, unnest(range(1, width*height*3 + 1)) AS i, pxs FROM px
), pxsum AS (
  SELECT media_id, SUM(ascii(substr(pxs, i, 1))) AS pixel_sum
  FROM pxb GROUP BY media_id
), profile AS (
  SELECT CAST(COUNT(*) AS BIGINT)          AS n_media,
         CAST(MIN(width) AS BIGINT)        AS min_width,
         CAST(MAX(height) AS BIGINT)       AS max_height,
         CAST(SUM(width) AS BIGINT)        AS sum_width,
         CAST(SUM(height) AS BIGINT)       AS sum_height,
         CAST(SUM(pixel_sum) AS BIGINT)    AS sum_pixel_bytes,
         CAST(COUNT(*) * 3 AS BIGINT)      AS ppm_bin0
  FROM px JOIN pxsum USING (media_id)
)
SELECT 'image' AS kind, 'ppm' AS decoder, n_media, min_width, max_height,
       sum_width, sum_height, sum_pixel_bytes, ppm_bin0 AS bin0_bytes
FROM profile
UNION ALL
SELECT 'image' AS kind, 'png' AS decoder, n_media, min_width, max_height,
       sum_width, sum_height, sum_pixel_bytes, CAST(0 AS BIGINT) AS bin0_bytes
FROM profile
""",
)
def multimodal_decode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL P6 PPM and PNG payloads from documents (pixel-for-
    pixel identical images, two container formats), run the fused
    decode+featurize pass with strict=True (pure-Python PPM parse / PNG
    inflate+filter-reconstruction + numpy pixel math in the Arrow worker —
    the fake path would raise), then fold the float32 outputs back to the
    integer pixel quantities they encode so both decoder rows are
    hash-comparable with the byte-level DuckDB oracle."""
    docs = _docs_wide(spark, sf_dir)
    media = M.synthesize_ppm_media(docs).unionAll(M.synthesize_png_media(docs))
    px_len = (F.col("width") * F.col("height") * 3).cast("double")
    both = M.decode_and_featurize(media, strict=True).select(
        "kind",
        "decoder",
        "width",
        "height",
        # mean_luma = pixel_mean/255 as float32; invert to the exact sum
        F.round(F.col("mean_luma").cast("double") * F.lit(255.0) * px_len)
        .cast("bigint")
        .alias("pixel_sum"),
        # f0 = count(payload bytes < 16)/n_bytes as float32; invert to the
        # count — exactly the 3 header newlines per PPM payload. The PNG
        # payload is compressed, so its histogram has no closed SQL form:
        # pinned 0 here and in the oracle's png row.
        F.when(
            F.col("decoder") == "ppm",
            F.round(
                F.element_at("features", 1).cast("double")
                * F.greatest(F.col("n_bytes"), F.lit(1)).cast("double")
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("bin0"),
    )
    return both.groupBy("kind", "decoder").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.min("width").cast("bigint").alias("min_width"),
        F.max("height").cast("bigint").alias("max_height"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum("pixel_sum").cast("bigint").alias("sum_pixel_bytes"),
        F.sum("bin0").cast("bigint").alias("bin0_bytes"),
    )


# JPEG strict decode: the
# fixtures are REAL entropy-coded baseline JPEGs — marker segments, Huffman
# scan, RSTn restart markers every 2 MCUs, grayscale for even doc_ids and
# 3-component 4:4:4 YCbCr (Cb=Cr=128) for odd — built from constant 8×8
# blocks so the lossy container decodes EXACTLY (DC-only blocks with the DC
# quantizer dividing the coefficient; functions/jpeg.py). The oracle
# recomputes dimensions and per-plane pixel sums closed-form from the same
# cycled hex-of-text block values; mean_luma (float32) folds back to the
# integer pixel sum via round() — worst case 24·24·70 ≈ 40k, reconstruction
# error ≈ 40k·2⁻²⁴ ≪ 0.5.
@register(
    "multimodal_jpeg_profile",
    """
WITH m AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), grid AS (
  SELECT doc_id, hx,
         1 + n % 3        AS bw,
         1 + (n // 3) % 3 AS bh,
         CAST(doc_id % 3 AS INTEGER) AS v
  FROM m
), blk AS (
  SELECT doc_id, bw, bh, v, hx,
         unnest(range(0, CASE WHEN v = 2 THEN 4*bw*bh ELSE bw*bh END)) AS k
  FROM grid
), px AS (
  SELECT doc_id, bw, bh, v,
         SUM(64 * ascii(substr(hx, CAST(k % length(hx) AS INTEGER) + 1, 1)))
           AS pixel_sum
  FROM blk GROUP BY doc_id, bw, bh, v
), per AS (
  SELECT CASE v WHEN 0 THEN 'gray' WHEN 1 THEN 'ycbcr'
                ELSE 'ycbcr420' END AS variant,
         bw * (CASE WHEN v = 2 THEN 16 ELSE 8 END) AS width,
         bh * (CASE WHEN v = 2 THEN 16 ELSE 8 END) AS height,
         pixel_sum
  FROM px
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT)       AS n_media,
       CAST(MIN(width) AS BIGINT)     AS min_width,
       CAST(MAX(height) AS BIGINT)    AS max_height,
       CAST(SUM(width) AS BIGINT)     AS sum_width,
       CAST(SUM(height) AS BIGINT)    AS sum_height,
       CAST(SUM(pixel_sum) AS BIGINT) AS sum_pixel_bytes
FROM per GROUP BY variant
""",
)
def multimodal_jpeg_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL baseline JPEGs (gray, 4:4:4 color, and 4:2:0
    subsampled color, all with restart markers), decode them with
    the strict pure-Python T.81 decoder in the Arrow worker, and fold the
    float32 outputs back to exact per-image pixel sums so every variant
    faces the byte-level DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    dec = M.decode_media(M.synthesize_jpeg_media(docs), strict=True)
    px_len = (F.col("width") * F.col("height")).cast("double")
    per = dec.select(
        F.when(F.col("media_id") % 3 == 0, F.lit("gray"))
        .when(F.col("media_id") % 3 == 1, F.lit("ycbcr"))
        .otherwise(F.lit("ycbcr420"))
        .alias("variant"),
        "width",
        "height",
        F.round(F.col("mean_luma").cast("double") * F.lit(255.0) * px_len)
        .cast("bigint")
        .alias("pixel_sum"),
    )
    return per.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.min("width").cast("bigint").alias("min_width"),
        F.max("height").cast("bigint").alias("max_height"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum("pixel_sum").cast("bigint").alias("sum_pixel_bytes"),
    )


# Resize is a REAL media→media transform: decode 8-bit PPM →
# nearest-neighbor resample (floor mapping: src(y,x) = (y*h//OH, x*w//OW))
# → re-encode P6, then the ordinary strict decoder profiles the RESIZED
# payloads — so the oracle checks the whole decode→resize→encode→decode
# roundtrip. The resampled pixel at output (y,x,c) is position
# (sy*w+sx)*3+c of the same rpad-cycled hex string the synthesis used,
# which DuckDB recomputes exactly with integer arithmetic over
# range(OW*OH*3) positions. Output dims are pinned to the constants.
_RESIZE_OW, _RESIZE_OH = 6, 5


@register(
    "multimodal_resize_profile",
    f"""
WITH m AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), dims AS (
  SELECT media_id, hx,
         8 + n % 8        AS width,
         8 + (n // 8) % 8 AS height
  FROM m
), px AS (
  SELECT media_id, width, height,
         rpad(hx, CAST(width*height*3 AS INTEGER), hx) AS pxs
  FROM dims
), o AS (
  SELECT media_id, width, height, pxs,
         unnest(range({_RESIZE_OW * _RESIZE_OH * 3})) AS i
  FROM px
), v AS (
  SELECT media_id,
         ( (((i // {_RESIZE_OW * 3}) * height) // {_RESIZE_OH}) * width
           + (((i // 3) % {_RESIZE_OW}) * width) // {_RESIZE_OW}
         ) * 3 + (i % 3) AS pos,
         pxs
  FROM o
), s AS (
  SELECT media_id,
         SUM(ascii(substr(pxs, CAST(pos + 1 AS INTEGER), 1))) AS ps
  FROM v GROUP BY media_id
)
SELECT CAST(COUNT(*) AS BIGINT)        AS n_media,
       CAST({_RESIZE_OW} AS BIGINT)    AS min_width,
       CAST({_RESIZE_OW} AS BIGINT)    AS max_width,
       CAST({_RESIZE_OH} AS BIGINT)    AS min_height,
       CAST({_RESIZE_OH} AS BIGINT)    AS max_height,
       CAST(SUM(ps) AS BIGINT)         AS sum_resized_pixel_bytes
FROM s
""",
)
def multimodal_resize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL P6 payloads, resize every image to
    {OW}×{OH} with the nearest-neighbor media→media transform, then run
    the ordinary strict decoder over the RESIZED payloads and profile:
    the decode→resize→re-encode→decode roundtrip faces a closed-form
    byte-level oracle (each resampled pixel located by integer arithmetic
    in the synthesis hex string)."""
    docs = load_table(spark, sf_dir, "documents")
    resized = M.resize_media(
        M.synthesize_ppm_media(docs), _RESIZE_OW, _RESIZE_OH, strict=True
    )
    dec = M.decode_media(resized, strict=True)
    px = float(_RESIZE_OW * _RESIZE_OH * 3)
    return dec.agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.min("width").cast("bigint").alias("min_width"),
        F.max("width").cast("bigint").alias("max_width"),
        F.min("height").cast("bigint").alias("min_height"),
        F.max("height").cast("bigint").alias("max_height"),
        F.sum(
            F.round(F.col("mean_luma").cast("double") * F.lit(255.0) * F.lit(px))
            .cast("bigint")
        )
        .cast("bigint")
        .alias("sum_resized_pixel_bytes"),
    )


# The audio codec is REAL: synthesize_wav_media builds genuine
# RIFF/WAVE PCM containers with pure column expressions (44-byte canonical
# header through unhex; sample bytes are the same rpad-cycled hex-of-text
# trick as the image fixtures) and decode_audio walks RIFF chunks with real
# struct parsing — strict=True, so the fake-pcm8 fallback would raise. The
# DuckDB oracle recomputes what a correct decode must observe, entirely
# closed-form: n_samples and sample_rate from the synthesis formulas, the
# sample-byte sum from ascii() over the same cycled hex string, and the
# per-payload duration as exact integer microseconds. mean_amp comes back
# float32; round(mean_amp * n_samples) folds it to the exact byte sum
# (≤ 255·255 ≈ 65k, worst-case float32 error ≈ 65k·2⁻²⁴ ≈ 0.004 ≪ 0.5).
@register(
    "multimodal_audio_profile",
    """
WITH m AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), s AS (
  SELECT doc_id, 8000 + (doc_id % 4) * 4000 AS sample_rate,
         64 + n % 192 AS n_samples, hx
  FROM m
), sb AS (
  SELECT doc_id, sample_rate, n_samples,
         rpad(hx, CAST(n_samples AS INTEGER), hx) AS smp
  FROM s
), pos AS (
  SELECT doc_id, sample_rate, n_samples,
         unnest(range(1, n_samples + 1)) AS i, smp
  FROM sb
), sums AS (
  SELECT doc_id, sample_rate, n_samples,
         SUM(ascii(substr(smp, CAST(i AS INTEGER), 1))) AS samp_sum
  FROM pos GROUP BY 1, 2, 3
)
SELECT CAST(sample_rate AS BIGINT)            AS sample_rate,
       CAST(COUNT(*) AS BIGINT)               AS n_media,
       CAST(SUM(n_samples) AS BIGINT)         AS total_samples,
       CAST(MIN(n_samples) AS BIGINT)         AS min_samples,
       CAST(MAX(n_samples) AS BIGINT)         AS max_samples,
       CAST(SUM(samp_sum) AS BIGINT)          AS sample_byte_sum,
       CAST(SUM((1000000 * n_samples) // sample_rate) AS BIGINT)
                                              AS total_duration_us
FROM sums GROUP BY sample_rate
""",
)
def multimodal_audio_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL RIFF/WAVE PCM payloads from documents, decode them
    strict (pure-Python chunk walk + numpy sample math in the Arrow
    worker), and profile per sample rate: media count, sample totals, the
    exact sample-byte sum recovered from the decoder's mean amplitude, and
    total duration in integer microseconds. Audio analogue of
    multimodal_decode_profile — the WAV header fields (rate, mono, 8-bit,
    chunk sizes) all face the byte-level oracle."""
    docs = load_table(spark, sf_dir, "documents")
    dec = M.decode_audio(M.synthesize_wav_media(docs), strict=True)
    per = dec.select(
        "sample_rate",
        "n_samples",
        F.round(F.col("mean_amp").cast("double") * F.col("n_samples").cast("double"))
        .cast("bigint")
        .alias("samp_sum"),
        F.expr("CAST((1000000 * n_samples) DIV sample_rate AS BIGINT)").alias(
            "duration_us"
        ),
    )
    return per.groupBy(F.col("sample_rate").cast("bigint").alias("sample_rate")).agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.sum("n_samples").cast("bigint").alias("total_samples"),
        F.min("n_samples").cast("bigint").alias("min_samples"),
        F.max("n_samples").cast("bigint").alias("max_samples"),
        F.sum("samp_sum").cast("bigint").alias("sample_byte_sum"),
        F.sum("duration_us").cast("bigint").alias("total_duration_us"),
    )


# The quarantine path: a real ingest sees valid, corrupt, and
# foreign payloads in one stream; the audit classifies every payload by
# actually running the codecs and catching their documented ValueErrors.
# The mixed corpus is synthesized deterministically by doc_id % 4 — valid
# PPM / valid WAV / PPM truncated by 10 bytes (right magic, broken body →
# malformed) / raw text (unsupported) — so the oracle recomputes verdicts
# and byte totals closed-form: PPM size is 9 + digits(w) + digits(h) +
# w*h*3, WAV size is 44 + n_samples, and the truncated class subtracts 10.
@register(
    "multimodal_corrupt_audit",
    """
WITH m AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
), sized AS (
  SELECT doc_id, n,
         8 + n % 8        AS w,
         8 + (n // 8) % 8 AS h,
         64 + n % 192     AS n_samples
  FROM m
), cls AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN 'ok-image'
           WHEN 1 THEN 'ok-audio'
           WHEN 2 THEN 'malformed'
           ELSE 'unsupported'
         END AS verdict,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + w*h*3
           WHEN 1 THEN 44 + n_samples
           WHEN 2 THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + w*h*3 - 10
           ELSE n
         END AS n_bytes
  FROM sized
)
SELECT verdict,
       CAST(COUNT(*) AS BIGINT)    AS n_media,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(MIN(doc_id) AS BIGINT)  AS first_media,
       CAST(MAX(doc_id) AS BIGINT)  AS last_media
FROM cls GROUP BY verdict
""",
)
def multimodal_corrupt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify a deliberately mixed corpus (valid PPM / valid WAV /
    truncated PPM / raw text by doc_id % 4) through the real codecs'
    error paths and aggregate the quarantine report per verdict."""
    docs = _docs_wide(spark, sf_dir)
    ppm = M.synthesize_ppm_media(docs.where(F.col("doc_id") % 4 == 0))
    wav = M.synthesize_wav_media(docs.where(F.col("doc_id") % 4 == 1))
    trunc = M.synthesize_ppm_media(docs.where(F.col("doc_id") % 4 == 2)).select(
        "media_id",
        "kind",
        F.expr("substring(payload, 1, octet_length(payload) - 10)").alias("payload"),
        "meta",
    )
    raw = M.synthesize_media(docs.where(F.col("doc_id") % 4 == 3))
    audit = M.decode_audit(ppm.unionByName(wav).unionByName(trunc).unionByName(raw))
    return audit.groupBy("verdict").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.min("media_id").cast("bigint").alias("first_media"),
        F.max("media_id").cast("bigint").alias("last_media"),
    )


# Audio feature extraction: exact-integer DSP through the real
# WAV codec — the audio feature-extract slot (energy filtering, silence /
# clipping detection) as a first-class gate query. The float mean never
# exists: deviations are n-scaled integers (dev_i = n*s_i − Σs), so
# energy, strict zero crossings (dev_i·dev_{i+1} < 0), and peak deviation
# are BIGINT-exact in both the numpy worker and the closed-form DuckDB
# recomputation of the synthesized sample bytes. The one double (zcr) is
# a single division of those exact ints.
@register(
    "multimodal_audio_features",
    """
WITH m AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), s AS (
  SELECT doc_id, 8000 + (doc_id % 4) * 4000 AS sample_rate,
         64 + n % 192 AS n_samples, hx
  FROM m
), sb AS (
  SELECT doc_id, sample_rate, n_samples,
         rpad(hx, CAST(n_samples AS INTEGER), hx) AS smp
  FROM s
), vals AS (
  SELECT doc_id, sample_rate, n_samples,
         unnest(range(1, n_samples + 1)) AS i,
         ascii(substr(smp, CAST(unnest(range(1, n_samples + 1)) AS INTEGER), 1))
           AS sv
  FROM sb
), sums AS (
  SELECT doc_id, SUM(sv) AS total FROM vals GROUP BY doc_id
), dev AS (
  SELECT v.doc_id, v.sample_rate, v.n_samples, v.i, s.total,
         v.n_samples * v.sv - s.total AS d
  FROM vals v JOIN sums s ON v.doc_id = s.doc_id
), lagd AS (
  SELECT *, LAG(d) OVER (PARTITION BY doc_id ORDER BY i) AS pd FROM dev
)
SELECT CAST(doc_id AS BIGINT)       AS media_id,
       CAST(MAX(sample_rate) AS BIGINT) AS sample_rate,
       CAST(MAX(n_samples) AS BIGINT)   AS n_samples,
       CAST(MAX(total) AS BIGINT)       AS sample_sum,
       CAST(SUM(d * d) AS BIGINT)       AS energy_num,
       CAST(SUM(CASE WHEN pd IS NOT NULL AND d * pd < 0 THEN 1 ELSE 0 END)
            AS BIGINT)                  AS zero_crossings,
       CAST(MAX(abs(d)) AS BIGINT)      AS peak_num,
       CAST(SUM(CASE WHEN pd IS NOT NULL AND d * pd < 0 THEN 1 ELSE 0 END)
            AS DOUBLE)
         / CAST(MAX(n_samples) - 1 AS DOUBLE) AS zcr
FROM lagd
GROUP BY doc_id
""",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip exact DSP features (mean-centered energy, zero crossings,
    peak) computed by the real WAV decode path in the Arrow worker, faced
    with the closed-form sample-byte oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return M.audio_features(M.synthesize_wav_media(docs))


# ---------------------------------------------------------------------------
# Image value-entropy profile: decode the REAL PNG fixtures,
# bincount sample values in the Arrow worker (<= 256 rows per image leave
# Python — never pixels), then aggregate Shannon entropy JVM-side in exact
# integer micro-nats: per (image, value) the term
# round(c * ln(n/c) * 1e6) is a BIGINT, so the per-image sum is
# reduction-order-free (the text_bigram_nll fixed-point posture). The
# synthesis pixels are the hex-of-text cycle (functions/multimodal.py
# synthesize_png_media), so DuckDB recomputes each image's histogram in
# closed form: count of hex char ch in the rpad-cycled pixel string.
# ---------------------------------------------------------------------------
_IMG_ENTROPY_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS nb,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), dims AS (
  SELECT media_id, hx, 8 + nb % 8 AS w, 8 + (nb // 8) % 8 AS h FROM m
), px AS (
  SELECT media_id, rpad(hx, CAST(w*h*3 AS INTEGER), hx) AS s,
         CAST(w*h*3 AS BIGINT) AS n
  FROM dims
), chars AS (
  SELECT media_id, s, n,
         unnest(string_split('0,1,2,3,4,5,6,7,8,9,A,B,C,D,E,F', ',')) AS ch
  FROM px
), counts AS (
  SELECT media_id, n,
         CAST(length(s) - length(replace(s, ch, '')) AS BIGINT) AS c
  FROM chars
  WHERE length(s) - length(replace(s, ch, '')) > 0
)
SELECT media_id,
       CAST(MAX(n) AS BIGINT)   AS n_samples,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_values,
       CAST(SUM(CAST(round(CAST(c AS DOUBLE)
                           * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
                           * 1000000.0) AS BIGINT)) AS BIGINT)
         AS entropy_micro
FROM counts GROUP BY media_id
"""


@register("multimodal_image_entropy", _IMG_ENTROPY_ORACLE)
def multimodal_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-image sample-value entropy (integer micro-nats) over the
    real PNG decode path — the decode→histogram→entropy chain a corpus
    image-quality audit runs, value-gated byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    hist = M.image_value_histogram(M.synthesize_png_media(docs))
    term = F.round(
        F.col("c").cast("double")
        * F.log(F.col("n").cast("double") / F.col("c").cast("double"))
        * F.lit(1000000.0)
    ).cast("bigint")
    return hist.groupBy("media_id").agg(
        F.max("n").cast("bigint").alias("n_samples"),
        F.count("*").cast("bigint").alias("n_distinct_values"),
        F.sum(term).cast("bigint").alias("entropy_micro"),
    )


# ---------------------------------------------------------------------------
# Progressive JPEG profile: the SOF2 decode path — multi-scan
# coefficient accumulation with DC successive approximation and AC EOB
# scans — exercised through the strict Arrow-worker decode against the
# same closed-form pixel-sum oracle as the baseline profile (the
# progressive fixtures reconstruct exactly; doc_id%2 picks gray/color).
# ---------------------------------------------------------------------------
_JPEG_PROG_ORACLE = """
WITH m AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), grid AS (
  SELECT doc_id, hx,
         1 + n % 3        AS bw,
         1 + (n // 3) % 3 AS bh
  FROM m
), blk AS (
  SELECT doc_id, bw, bh, hx, unnest(range(0, bw*bh)) AS k FROM grid
), px AS (
  SELECT doc_id, bw, bh,
         SUM(64 * ascii(substr(hx, CAST(k % length(hx) AS INTEGER) + 1, 1)))
           AS pixel_sum
  FROM blk GROUP BY doc_id, bw, bh
), per AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'progressive_gray'
              ELSE 'progressive_ycbcr' END AS variant,
         bw * 8 AS width, bh * 8 AS height, pixel_sum
  FROM px
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT)       AS n_media,
       CAST(MIN(width) AS BIGINT)     AS min_width,
       CAST(MAX(height) AS BIGINT)    AS max_height,
       CAST(SUM(width) AS BIGINT)     AS sum_width,
       CAST(SUM(height) AS BIGINT)    AS sum_height,
       CAST(SUM(pixel_sum) AS BIGINT) AS sum_pixel_bytes
FROM per GROUP BY variant
"""


@register("multimodal_jpeg_progressive_profile", _JPEG_PROG_ORACLE)
def multimodal_jpeg_progressive_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL progressive (SOF2) JPEGs, decode them with the
    strict pure-Python multi-scan decoder in the Arrow worker, and fold
    the outputs back to exact per-image pixel sums against the byte-level
    DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    dec = M.decode_media(M.synthesize_progressive_jpeg_media(docs), strict=True)
    px_len = (F.col("width") * F.col("height")).cast("double")
    per = dec.select(
        F.when(F.col("media_id") % 2 == 0, F.lit("progressive_gray"))
        .otherwise(F.lit("progressive_ycbcr"))
        .alias("variant"),
        "width",
        "height",
        F.round(F.col("mean_luma").cast("double") * F.lit(255.0) * px_len)
        .cast("bigint")
        .alias("pixel_sum"),
    )
    return per.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.min("width").cast("bigint").alias("min_width"),
        F.max("height").cast("bigint").alias("max_height"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum("pixel_sum").cast("bigint").alias("sum_pixel_bytes"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup: dHash over
# REAL decoded JPEG pixels, banded-LSH candidate generation, Hamming
# verification ONLY on co-bucketed candidates — never all-pairs. The image
# twin of dedup_minhash_candidates: band values are the bucket keys
# (functions/text.py simhash posture), the bucket self-join shuffles on the
# band key, and verification joins the candidate list back to the 5-integer
# hash table — O(near-dups), not O(n²). The fixtures are doc-header
# thumbnails (synthesize_dhash_jpeg_media): constant 8x8 blocks decode
# exactly, so the full decode→grid-mean→bit→band chain has a closed-form
# DuckDB oracle, and cell 0's parity encoding plants Hamming-distance-1
# near-duplicates between same-header docs of opposite parity.
# Adversarial-bucket guard at scale: a bucket of b identical images costs
# C(b,2) candidate rows — band_candidates carries the minhash max_bucket
# cap (functions/multimodal.py; route byte-identical payloads through
# exact hash-dedup first); the gate configuration runs uncapped, like the
# text LSH parity queries.
# ---------------------------------------------------------------------------
from hive_server_spark.session_cache import shared  # noqa: E402


# The closed-form dHash derivation (decode → grid means → bits → four
# 16-bit bands) as a reusable CTE chain ending at
# bands(doc_id, band_idx, band_val) — shared by the batch near-dup
# oracle, the incremental-index oracle below, and (via the `src`
# parameter) the streaming ingest's slice-scoped oracle, so the gates
# can never drift apart on the hash definition.
def _phash_bands_ctes(src: str = "documents") -> str:
    return f"""d AS (
  SELECT doc_id, COALESCE(substr(text, 1, {M.DHASH_PREFIX_LEN}), '') AS p
  FROM {src}
),
cellk AS (
  SELECT doc_id, p, unnest(range(0, {M.DHASH_GRID_W * M.DHASH_GRID_H})) AS k
  FROM d
),
cell AS (
  SELECT doc_id, k,
         CASE WHEN k = 0 THEN 40 + 20 * (doc_id % 2)
              WHEN k = 1 THEN 50
              ELSE ('0x' || substr(md5(p || ':' || CAST(k AS VARCHAR)), 1, 2))::BIGINT
         END AS v
  FROM cellk
),
bit AS (
  SELECT a.doc_id,
         (a.k // {M.DHASH_GRID_W}) * 8 + (a.k % {M.DHASH_GRID_W}) AS g
  FROM cell a JOIN cell b ON a.doc_id = b.doc_id AND b.k = a.k + 1
  WHERE a.k % {M.DHASH_GRID_W} < 8 AND a.v < b.v
),
bgrid AS (SELECT doc_id, unnest(range(0, 4)) AS band_idx FROM d),
bsum AS (
  SELECT doc_id, g // 16 AS band_idx,
         CAST(SUM(1 << CAST(g % 16 AS INTEGER)) AS BIGINT) AS band_val
  FROM bit GROUP BY doc_id, g // 16
),
bands AS (
  SELECT bg.doc_id, bg.band_idx, COALESCE(bs.band_val, 0) AS band_val
  FROM bgrid bg LEFT JOIN bsum bs USING (doc_id, band_idx)
)"""


_PHASH_BANDS_CTES = _phash_bands_ctes()

# ham(id1, id2, hd) over a 4-band bands CTE — the shared verify tail the
# image and audio chains both use (and the fused bundle oracle re-uses).
_BANDS4_HAM_CTES = """wide AS (
  SELECT doc_id,
         MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
  FROM bands GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
),
ham AS (
  SELECT c.id1, c.id2,
         bit_count(xor(w1.b0, w2.b0)) + bit_count(xor(w1.b1, w2.b1))
       + bit_count(xor(w1.b2, w2.b2)) + bit_count(xor(w1.b3, w2.b3)) AS hd
  FROM cand c
  JOIN wide w1 ON c.id1 = w1.doc_id
  JOIN wide w2 ON c.id2 = w2.doc_id
)"""

_PHASH_ORACLE = f"""
WITH {_PHASH_BANDS_CTES},
{_BANDS4_HAM_CTES}
SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_images,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       CAST(COALESCE(SUM(CASE WHEN hd = 0 THEN 1 END), 0) AS BIGINT)
         AS n_exact_pairs,
       CAST(COALESCE(SUM(CASE WHEN hd BETWEEN 1 AND 2 THEN 1 END), 0) AS BIGINT)
         AS n_neardup_pairs,
       CAST(COALESCE(SUM(hd), 0) AS BIGINT) AS sum_hamming
FROM ham
"""


def _dhash_band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-image band table (media_id, band0..band3) — synthesized,
    decoded, and hashed ONCE per (session, sf_dir): the candidate self-join
    reads it twice and the Hamming verify twice more, and the decode is the
    expensive leg."""
    return shared(
        spark,
        ("mm:dhash_bands", sf_dir),
        lambda: M.dhash_bands(M.synthesize_dhash_jpeg_media(
            load_table(spark, sf_dir, "documents")
        )),
    )


@register("multimodal_phash_neardup", _PHASH_ORACLE)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup report: decode → dHash bands → banded LSH candidates
    → Hamming verify on candidates only. Single summary row, fully
    value-gated against the closed-form oracle (exact decode ⇒ exact
    expected hashes)."""
    bands_wide = _dhash_band_table(spark, sf_dir)
    # max_bucket=None is the parity-gate configuration (same stance as
    # dedup_minhash_candidates); production sets the cap and routes
    # byte-identical payloads through exact hash-dedup first
    ham = M.band_hamming_pairs(bands_wide, max_bucket=None)
    imgs = bands_wide.agg(F.count("*").cast("bigint").alias("n_images"))
    pairs = ham.agg(
        F.count("*").cast("bigint").alias("n_candidate_pairs"),
        F.coalesce(F.sum(F.when(F.col("hd") == 0, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_exact_pairs"),
        F.coalesce(F.sum(F.when(F.col("hd").between(1, 2), 1)), F.lit(0))
        .cast("bigint")
        .alias("n_neardup_pairs"),
        F.coalesce(F.sum("hd"), F.lit(0)).cast("bigint").alias("sum_hamming"),
    )
    return imgs.crossJoin(pairs)


# ---------------------------------------------------------------------------
# Cross-snapshot incremental image near-dup: the MEDIA twin of
# docs_neardup_incremental (plans/streaming_pack.py), through the same
# functions/clusters.py split_refresh — the dHash band index is a
# first-class PERSISTED parquet artifact
# ((band_idx, band_val) → MIN media_id), and a new image batch dedups
# against the prior corpus WITHOUT rescanning it:
#
#   1. the prior snapshot (media_id-ordered first half) writes its band
#      index to parquet (in production: the index the previous run left);
#   2. the NEW batch's band partials merge in — MIN is a semilattice, so
#      replays/micro-batch boundaries can never change the index;
#   3. the batch's bands join the post-merge index: an image is flagged
#      iff some band's min is a smaller media_id — catching dups against
#      the prior corpus AND within the batch with ONE rule.
#
# Because the snapshot split is media_id-ordered, the post-merge index
# equals the full-corpus band index, so the flags are EXACTLY the
# full-corpus occupied-band rule restricted to the batch — the oracle is
# the shared _PHASH_BANDS_CTES chain + that rule. Scale: per refresh the
# prior corpus is never rescanned or re-DECODED (the expensive leg for
# media); cost is O(batch bands) + a band-keyed merge, and both merge and
# flag joins reuse the same (band_idx, band_val) partitioning. Nothing
# all-pairs; flags are O(near-dups).
# ---------------------------------------------------------------------------
_PHASH_INCR_ORACLE = f"""
WITH {_PHASH_BANDS_CTES},
bmin AS (
  SELECT band_idx, band_val, MIN(doc_id) AS min_id
  FROM bands GROUP BY band_idx, band_val
),
j AS (
  SELECT b.doc_id, m.min_id
  FROM bands b
  JOIN bmin m ON b.band_idx = m.band_idx AND b.band_val = m.band_val
  WHERE m.min_id < b.doc_id
),
thr AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS t FROM documents)
SELECT CAST(j.doc_id AS BIGINT)   AS media_id,
       CAST(COUNT(*) AS BIGINT)   AS n_occupied_bands,
       CAST(MIN(j.min_id) AS BIGINT) AS partner_media_id
FROM j CROSS JOIN thr WHERE j.doc_id >= thr.t
GROUP BY j.doc_id
"""


@register("multimodal_phash_incremental", _PHASH_INCR_ORACLE)
def multimodal_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the prior snapshot's dHash band index to parquet (id-ordered
    first half of the media corpus), then dedup the second half as a new
    batch against the persisted index — must equal the full-corpus
    occupied-band rule restricted to the batch (see block comment). The
    decode runs once via the shared _dhash_band_table; the batch
    path itself never touches prior-corpus payloads. The index machinery
    is the modality-generic band_long + functions/clusters.py
    split_refresh — the SAME refresh the audio and video fingerprint
    indexes and the text index run (tests/test_multimodal.py pins the
    audio and video members against full-corpus recomputes)."""
    import os

    from hive_server_spark.session import session_scratch

    # stable per-process path + overwrite semantics: reruns replace the
    # index instead of accumulating mkdtemp dirs in the scratch root
    return split_refresh(
        _dhash_band_table(spark, sf_dir), "media_id", M.band_long,
        M.BAND_KEYS, os.path.join(session_scratch("phash_incr"), "band_index"),
    )


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup. The audio member of
# the perceptual-dedup triad: real WAV decode -> frame energies -> 64-bit
# fingerprint as four 16-bit bands -> band_candidates -> Hamming verify on
# candidates only. Same summary-row shape and closed-form-oracle scheme as
# multimodal_phash_neardup; full Spark-vs-DuckDB parity is pinned by
# tests/test_multimodal.py on crafted and sf corpora.
# ---------------------------------------------------------------------------
# The closed-form audio-fingerprint derivation (decode → frame energies →
# bits → four 16-bit bands) as a reusable CTE chain ending at
# bands(doc_id, band_idx, band_val) — shared by the batch near-dup
# oracle, the fused multimodal-bundle oracle below, and (via `src`) the
# streaming ingest's slice-scoped oracle.
def _audio_fp_bands_ctes(src: str = "documents") -> str:
    return f"""d AS (
  SELECT doc_id, COALESCE(substr(text, 1, {M.AUDIO_FP_PREFIX_LEN}), '') AS p
  FROM {src}
),
framek AS (
  SELECT doc_id, p, unnest(range(0, {M.AUDIO_FP_FRAMES})) AS k FROM d
),
amp AS (
  SELECT doc_id, k,
         CASE WHEN k = 0 THEN 40 + 20 * (doc_id % 2)
              WHEN k = 1 THEN 50
              ELSE ('0x' || substr(md5(p || ':' || CAST(k AS VARCHAR)), 1, 2))::BIGINT % 128
         END AS a
  FROM framek
),
bit AS (
  SELECT x.doc_id, x.k AS g
  FROM amp x JOIN amp y ON x.doc_id = y.doc_id AND y.k = x.k + 1
  WHERE x.a < y.a
),
bgrid AS (SELECT doc_id, unnest(range(0, 4)) AS band_idx FROM d),
bsum AS (
  SELECT doc_id, g // 16 AS band_idx,
         CAST(SUM(1 << CAST(g % 16 AS INTEGER)) AS BIGINT) AS band_val
  FROM bit GROUP BY doc_id, g // 16
),
bands AS (
  SELECT bg.doc_id, bg.band_idx, COALESCE(bs.band_val, 0) AS band_val
  FROM bgrid bg LEFT JOIN bsum bs USING (doc_id, band_idx)
)"""


_AUDIO_FP_BANDS_CTES = _audio_fp_bands_ctes()

_AUDIO_FP_ORACLE = f"""
WITH {_AUDIO_FP_BANDS_CTES},
{_BANDS4_HAM_CTES}
SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_clips,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       CAST(COALESCE(SUM(CASE WHEN hd = 0 THEN 1 END), 0) AS BIGINT)
         AS n_exact_pairs,
       CAST(COALESCE(SUM(CASE WHEN hd BETWEEN 1 AND 2 THEN 1 END), 0) AS BIGINT)
         AS n_neardup_pairs,
       CAST(COALESCE(SUM(hd), 0) AS BIGINT) AS sum_hamming
FROM ham
"""


def _audio_fp_band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip fingerprint band table, decoded ONCE per (session, sf_dir)
    — the audio twin of _dhash_band_table."""
    return shared(
        spark,
        ("mm:audiofp_bands", sf_dir),
        lambda: M.audio_fingerprint_bands(
            M.synthesize_fpwav_media(load_table(spark, sf_dir, "documents"))
        ),
    )


@register("multimodal_audio_fp_neardup", _AUDIO_FP_ORACLE)
def multimodal_audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup report: real WAV decode -> frame-energy fingerprint
    bands -> banded LSH candidates -> Hamming verify on candidates only.
    Single summary row, value-parity vs the closed-form oracle pinned by
    tests (constant frames decode exactly; energy monotone in amplitude)."""
    bands_wide = _audio_fp_band_table(spark, sf_dir)
    ham = M.band_hamming_pairs(bands_wide, max_bucket=None)
    clips = bands_wide.agg(F.count("*").cast("bigint").alias("n_clips"))
    pairs = ham.agg(
        F.count("*").cast("bigint").alias("n_candidate_pairs"),
        F.coalesce(F.sum(F.when(F.col("hd") == 0, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_exact_pairs"),
        F.coalesce(F.sum(F.when(F.col("hd").between(1, 2), 1)), F.lit(0))
        .cast("bigint")
        .alias("n_neardup_pairs"),
        F.coalesce(F.sum("hd"), F.lit(0)).cast("bigint").alias("sum_hamming"),
    )
    return clips.crossJoin(pairs)


# ---------------------------------------------------------------------------
# Real video decode: the
# fixtures are REAL RIFF/AVI Motion-JPEG containers (functions/video.py)
# whose frames are the decode-exact constant-block JPEGs — so the FULL
# chain (RIFF walk -> per-frame T.81 decode -> pixel-weighted mean, plus
# real keyframe extraction re-decoded through the image path) faces one
# closed-form byte-level DuckDB oracle. Frame f's block k carries
# ascii(hx cycled at f*bw*bh + k); keyframe sampling picks every frame
# when n_frames <= 2 else the stride indices i*n_frames//2 (exactly 2
# keyframes per video for the fixture range 2..4). Inter-frame codecs
# (H.26x/VP9/AV1) remain the documented strict-mode ValueError boundary.
# ---------------------------------------------------------------------------
_VIDEO_ORACLE = """
WITH m AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), g AS (
  SELECT doc_id, hx,
         1 + n % 3        AS bw,
         1 + (n // 3) % 3 AS bh,
         2 + doc_id % 3   AS nf,
         10 + 5 * (doc_id % 4) AS rate
  FROM m
), blk AS (
  SELECT doc_id, hx, unnest(range(nf * bw * bh)) AS j FROM g
), vals AS (
  SELECT doc_id,
         ascii(substr(hx, CAST(j % length(hx) AS INTEGER) + 1, 1)) AS v
  FROM blk
), vsum AS (
  SELECT doc_id, 64 * SUM(v) AS pix FROM vals GROUP BY doc_id
), kfi AS (
  SELECT doc_id, hx, bw, bh, nf, unnest(range(2)) AS i FROM g
), kff AS (
  SELECT doc_id, hx, bw, bh,
         CASE WHEN nf <= 2 THEN i ELSE (i * nf) // 2 END AS f
  FROM kfi
), kfblk AS (
  SELECT doc_id, hx, f, bw, bh, unnest(range(bw * bh)) AS k FROM kff
), kfv AS (
  SELECT doc_id,
         ascii(substr(hx,
               CAST((f * bw * bh + k) % length(hx) AS INTEGER) + 1, 1)) AS v
  FROM kfblk
)
SELECT CAST(COUNT(*) AS BIGINT)       AS n_videos,
       CAST(SUM(nf) AS BIGINT)        AS sum_frames,
       CAST(MIN(8 * bw) AS BIGINT)    AS min_width,
       CAST(MAX(8 * bh) AS BIGINT)    AS max_height,
       CAST(SUM(8 * bw) AS BIGINT)    AS sum_width,
       CAST(SUM(8 * bh) AS BIGINT)    AS sum_height,
       CAST(SUM(rate) AS BIGINT)      AS sum_fps_rate,
       (SELECT CAST(SUM(pix) AS BIGINT) FROM vsum)      AS sum_pixel_bytes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM kff)       AS n_keyframes,
       (SELECT CAST(64 * SUM(v) AS BIGINT) FROM kfv)    AS kf_pixel_bytes
FROM g
"""


def _avi_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized AVI corpus, built ONCE per (session, sf_dir): both
    the full-decode leg and the keyframe leg read it, and the per-frame
    JPEG encode is the expensive part of synthesis."""
    return shared(
        spark,
        ("mm:avi_media", sf_dir),
        lambda: M.synthesize_avi_media(load_table(spark, sf_dir, "documents")),
    )


@register("multimodal_video_profile", _VIDEO_ORACLE)
def multimodal_video_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict video decode profile over REAL MJPEG AVIs: container walk +
    every frame through the full JPEG decoder (decode_video), PLUS real
    keyframe extraction (sample_frames) with each sampled frame re-decoded
    strict through the image path — the float32 means fold back to exact
    integer pixel sums (max ~161k, float32 error « 0.5), so the whole
    video surface is hash-comparable with the byte-level oracle."""
    media = _avi_media(spark, sf_dir)
    dec = M.decode_video(media, strict=True)
    px = (
        F.round(
            F.col("mean_luma").cast("double")
            * F.lit(255.0)
            * F.col("width")
            * F.col("height")
            * F.col("n_frames")
        ).cast("bigint")
    )
    vid = dec.agg(
        F.count("*").cast("bigint").alias("n_videos"),
        F.sum("n_frames").cast("bigint").alias("sum_frames"),
        F.min("width").cast("bigint").alias("min_width"),
        F.max("height").cast("bigint").alias("max_height"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum("fps_rate").cast("bigint").alias("sum_fps_rate"),
        F.sum(px).alias("sum_pixel_bytes"),
    )
    frames = M.sample_frames(media, n_frames=2)
    imgs = frames.select(
        F.col("media_id"),
        F.lit("image").alias("kind"),
        F.col("frame_payload").alias("payload"),
    )
    fdec = M.decode_media(imgs, strict=True)
    fpx = (
        F.round(
            F.col("mean_luma").cast("double")
            * F.lit(255.0)
            * F.col("width")
            * F.col("height")
        ).cast("bigint")
    )
    kf = fdec.agg(
        F.count("*").cast("bigint").alias("n_keyframes"),
        F.sum(fpx).alias("kf_pixel_bytes"),
    )
    return vid.crossJoin(kf)


# ---------------------------------------------------------------------------
# Hierarchical JPEG decode profile. Value-gates the DHP/EXP/
# differential machinery across ALL FOUR DCT hierarchical processes in
# one query: doc_id % 4 rotates SOF0+SOF5 / SOF2+SOF6 / SOF9+SOF13 /
# SOF10+SOF14, doc_id % 3 rotates the EXP axes. The constant base block
# makes the J.1.1.2 expansion exact and the per-block differential sums
# stay inside [0, 255], so the pixel sum is closed-form:
# 64 * (nblk*v0 + sum(d_k)). Spark-vs-DuckDB parity is pinned by
# tests/test_multimodal.py on crafted + sf corpora.
# ---------------------------------------------------------------------------
_HIER_JPEG_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), g AS (
  SELECT doc_id, hx,
         CASE WHEN doc_id % 3 IN (0, 1) THEN 2 ELSE 1 END AS gw,
         CASE WHEN doc_id % 3 IN (0, 2) THEN 2 ELSE 1 END AS gh,
         CASE CAST(doc_id % 4 AS INTEGER)
              WHEN 0 THEN 'seq' WHEN 1 THEN 'prog'
              WHEN 2 THEN 'arith' ELSE 'arith-prog' END AS process,
         ascii(substr(hx, 1, 1)) AS v0
  FROM m
), blk AS (
  SELECT doc_id, hx, v0, unnest(range(gw * gh)) AS k FROM g
), d AS (
  SELECT doc_id,
         ascii(substr(hx, CAST((k + 1) % length(hx) AS INTEGER) + 1, 1)) - 57 AS dv
  FROM blk
), vsum AS (
  SELECT doc_id, SUM(dv) AS dsum, COUNT(*) AS nblk FROM d GROUP BY doc_id
)
SELECT g.process,
       CAST(COUNT(*) AS BIGINT)            AS n_media,
       CAST(MIN(8 * g.gw) AS BIGINT)       AS min_width,
       CAST(MAX(8 * g.gh) AS BIGINT)       AS max_height,
       CAST(SUM(8 * g.gw) AS BIGINT)       AS sum_width,
       CAST(SUM(8 * g.gh) AS BIGINT)       AS sum_height,
       CAST(SUM(64 * (v.nblk * g.v0 + v.dsum)) AS BIGINT) AS sum_pixel_bytes
FROM g JOIN vsum v USING (doc_id)
GROUP BY g.process
"""


@register("multimodal_jpeg_hierarchical_profile", _HIER_JPEG_ORACLE)
def multimodal_jpeg_hierarchical_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strict decode profile over REAL hierarchical JPEGs: DHP + EXP +
    differential frames, one row per hierarchical process (Huffman and
    arithmetic, sequential and progressive), each row's pixel sum folded
    back from the float32 mean and hash-compared with the closed-form
    byte-level oracle."""
    media = M.synthesize_hier_jpeg_media(load_table(spark, sf_dir, "documents"))
    # process is a pure function of media_id (the synthesis rotation), so
    # derive it as a CASE instead of re-joining the synthesized payloads —
    # one mapInPandas pass, no self-join recompute
    variant = (F.col("media_id") % 4).cast("int")
    dec = M.decode_media(media, strict=True).withColumn(
        "process",
        F.when(variant == 0, "seq")
        .when(variant == 1, "prog")
        .when(variant == 2, "arith")
        .otherwise("arith-prog"),
    )
    px = (
        F.round(
            F.col("mean_luma").cast("double")
            * F.lit(255.0)
            * F.col("width")
            * F.col("height")
        ).cast("bigint")
    )
    return dec.groupBy("process").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.min("width").cast("bigint").alias("min_width"),
        F.max("height").cast("bigint").alias("max_height"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum(px).alias("sum_pixel_bytes"),
    )


# ---------------------------------------------------------------------------
# Video fingerprint near-dup. Completes the perceptual-dedup triad (image
# dHash / audio energy fingerprint / video keyframe fingerprint): REAL AVI
# container walk -> both keyframes through the full JPEG decoder ->
# per-frame dHash -> 128-bit fingerprint as eight 16-bit bands keyed (frame,
# band) -> band_candidates(n_bands=8) -> Hamming verify on co-bucketed
# candidates only, never all-pairs. Same closed-form-oracle scheme as
# multimodal_phash_neardup with a frame dimension; parity pinned by
# tests/test_multimodal.py on crafted + sf corpora.
# ---------------------------------------------------------------------------
_VIDEO_FP_ORACLE = f"""
WITH d AS (
  SELECT doc_id, COALESCE(substr(text, 1, {M.DHASH_PREFIX_LEN}), '') AS p
  FROM documents
),
cellk AS (
  SELECT doc_id, p, f.f, k.k
  FROM d,
       (SELECT unnest(range(0, {M.VIDEO_FP_FRAMES})) AS f) f,
       (SELECT unnest(range(0, {M.DHASH_GRID_W * M.DHASH_GRID_H})) AS k) k
),
cell AS (
  SELECT doc_id, f, k,
         CASE WHEN k = 0 AND f = 0 THEN 40 + 20 * (doc_id % 2)
              WHEN k = 0 THEN 45
              WHEN k = 1 THEN 50
              ELSE ('0x' || substr(md5(p || ':' || CAST(f AS VARCHAR)
                    || ':' || CAST(k AS VARCHAR)), 1, 2))::BIGINT
         END AS v
  FROM cellk
),
bit AS (
  SELECT a.doc_id,
         a.f * 64 + (a.k // {M.DHASH_GRID_W}) * 8 + (a.k % {M.DHASH_GRID_W}) AS g
  FROM cell a JOIN cell b ON a.doc_id = b.doc_id AND a.f = b.f AND b.k = a.k + 1
  WHERE a.k % {M.DHASH_GRID_W} < 8 AND a.v < b.v
),
bgrid AS (
  SELECT doc_id, unnest(range(0, {4 * M.VIDEO_FP_FRAMES})) AS band_idx FROM d
),
bsum AS (
  SELECT doc_id, g // 16 AS band_idx,
         CAST(SUM(1 << CAST(g % 16 AS INTEGER)) AS BIGINT) AS band_val
  FROM bit GROUP BY doc_id, g // 16
),
bands AS (
  SELECT bg.doc_id, bg.band_idx, COALESCE(bs.band_val, 0) AS band_val
  FROM bgrid bg LEFT JOIN bsum bs USING (doc_id, band_idx)
),
wide AS (
  SELECT doc_id,
         MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3,
         MAX(CASE WHEN band_idx = 4 THEN band_val END) AS b4,
         MAX(CASE WHEN band_idx = 5 THEN band_val END) AS b5,
         MAX(CASE WHEN band_idx = 6 THEN band_val END) AS b6,
         MAX(CASE WHEN band_idx = 7 THEN band_val END) AS b7
  FROM bands GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
),
ham AS (
  SELECT c.id1, c.id2,
         bit_count(xor(w1.b0, w2.b0)) + bit_count(xor(w1.b1, w2.b1))
       + bit_count(xor(w1.b2, w2.b2)) + bit_count(xor(w1.b3, w2.b3))
       + bit_count(xor(w1.b4, w2.b4)) + bit_count(xor(w1.b5, w2.b5))
       + bit_count(xor(w1.b6, w2.b6)) + bit_count(xor(w1.b7, w2.b7)) AS hd
  FROM cand c
  JOIN wide w1 ON c.id1 = w1.doc_id
  JOIN wide w2 ON c.id2 = w2.doc_id
)
SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_videos,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       CAST(COALESCE(SUM(CASE WHEN hd = 0 THEN 1 END), 0) AS BIGINT)
         AS n_exact_pairs,
       CAST(COALESCE(SUM(CASE WHEN hd BETWEEN 1 AND 2 THEN 1 END), 0) AS BIGINT)
         AS n_neardup_pairs,
       CAST(COALESCE(SUM(hd), 0) AS BIGINT) AS sum_hamming
FROM ham
"""


def _video_fp_band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video fingerprint band table, decoded ONCE per (session,
    sf_dir) — the video twin of _dhash_band_table."""
    return shared(
        spark,
        ("mm:videofp_bands", sf_dir),
        lambda: M.video_fp_bands(M.synthesize_fpavi_media(
            load_table(spark, sf_dir, "documents")
        )),
    )


@register("multimodal_video_fp_neardup", _VIDEO_FP_ORACLE)
def multimodal_video_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup report: real AVI decode -> per-keyframe dHash ->
    (frame, band)-keyed LSH candidates -> 128-bit Hamming verify on
    candidates only. Single summary row, value-parity vs the closed-form
    oracle pinned by tests (constant frames decode exactly)."""
    bands_wide = _video_fp_band_table(spark, sf_dir)
    ham = M.band_hamming_pairs(
        bands_wide, n_bands=4 * M.VIDEO_FP_FRAMES, max_bucket=None
    )
    clips = bands_wide.agg(F.count("*").cast("bigint").alias("n_videos"))
    pairs = ham.agg(
        F.count("*").cast("bigint").alias("n_candidate_pairs"),
        F.coalesce(F.sum(F.when(F.col("hd") == 0, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_exact_pairs"),
        F.coalesce(F.sum(F.when(F.col("hd").between(1, 2), 1)), F.lit(0))
        .cast("bigint")
        .alias("n_neardup_pairs"),
        F.coalesce(F.sum("hd"), F.lit(0)).cast("bigint").alias("sum_hamming"),
    )
    return clips.crossJoin(pairs)


# ---------------------------------------------------------------------------
# Video scene segmentation. The shot-boundary primitive a video training
# pipeline samples frames per-shot with: per-frame means
# leave the Arrow worker as SCALARS (video_frame_stats — one row per
# frame, payloads never shuffle), then the segmentation itself is pure
# JVM window work — lag() frame diff, cut flag at mean-pixel delta >= 10,
# running-sum shot ids, per-shot/per-video rollups. The AVI fixture's
# constant-block frames make every per-frame pixel sum closed-form, so
# cuts and shots are exactly mirrored in the DuckDB oracle.
# ---------------------------------------------------------------------------
_VIDEO_SCENES_ORACLE = """
WITH m AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
), g AS (
  SELECT doc_id, hx,
         1 + n % 3        AS bw,
         1 + (n // 3) % 3 AS bh,
         2 + doc_id % 3   AS nf
  FROM m
), blk AS (
  SELECT doc_id, hx, bw, bh,
         unnest(range(nf * bw * bh)) // (bw * bh) AS f,
         unnest(range(nf * bw * bh)) AS j
  FROM g
), fsum AS (
  SELECT doc_id, bw, bh, f,
         64 * SUM(ascii(substr(hx, CAST(j % length(hx) AS INTEGER) + 1, 1)))
           AS pix
  FROM blk GROUP BY doc_id, bw, bh, f
), flagged AS (
  SELECT doc_id, f, bw, bh, pix,
         CASE WHEN lag(pix) OVER w IS NOT NULL
               AND abs(pix - lag(pix) OVER w) >= 640 * bw * bh
              THEN 1 ELSE 0 END AS cut
  FROM fsum
  WINDOW w AS (PARTITION BY doc_id ORDER BY f)
), shots AS (
  SELECT doc_id, f, cut,
         SUM(cut) OVER (PARTITION BY doc_id ORDER BY f
                        ROWS UNBOUNDED PRECEDING) AS shot_id
  FROM flagged
), shot_len AS (
  SELECT doc_id, shot_id, COUNT(*) AS len FROM shots GROUP BY doc_id, shot_id
)
SELECT s.doc_id AS media_id,
       CAST(COUNT(*) AS BIGINT)       AS n_frames,
       CAST(SUM(s.cut) AS BIGINT)     AS n_cuts,
       CAST(MAX(s.shot_id) + 1 AS BIGINT) AS n_shots,
       CAST((SELECT MAX(len) FROM shot_len l WHERE l.doc_id = s.doc_id)
            AS BIGINT)                AS max_shot_len
FROM shots s
GROUP BY s.doc_id
"""


@register("multimodal_video_scenes", _VIDEO_SCENES_ORACLE)
def multimodal_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary segmentation over REAL MJPEG AVI decode: one scalar
    row per frame out of the Arrow worker, then lag-diff cut detection
    (mean pixel delta >= 10), running-sum shot ids, and per-video shot
    stats — all JVM-side windows. One row per video, value-gated against
    the closed-form oracle."""
    from pyspark.sql import Window

    fs = M.video_frame_stats(_avi_media(spark, sf_dir))
    pix = (
        F.round(
            F.col("mean_luma").cast("double")
            * F.lit(255.0)
            * F.col("width")
            * F.col("height")
        ).cast("bigint")
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    flagged = (
        fs.withColumn("pix", pix)
        .withColumn("prev", F.lag("pix").over(w))
        .withColumn(
            "cut",
            F.when(
                F.col("prev").isNotNull()
                & (
                    F.abs(F.col("pix") - F.col("prev"))
                    >= F.lit(10) * F.col("width") * F.col("height")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "shot_id",
            F.sum("cut").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    shot_len = flagged.groupBy("media_id", "shot_id").agg(
        F.count("*").alias("len")
    )
    per_video = flagged.groupBy("media_id").agg(
        F.count("*").cast("bigint").alias("n_frames"),
        F.sum("cut").cast("bigint").alias("n_cuts"),
        (F.max("shot_id") + 1).cast("bigint").alias("n_shots"),
    )
    longest = shot_len.groupBy("media_id").agg(
        F.max("len").cast("bigint").alias("max_shot_len")
    )
    return per_video.join(longest, "media_id")


# ---------------------------------------------------------------------------
# End-to-end video curation pipeline. The video twin
# of text_pretrain_keep: every stage LIVE in one
# query, raw AVI corpus → shot segmentation → one keyframe per shot →
# keyframe dHash → banded-LSH near-dup verdict → per-clip keep/drop:
#
#   1. shot_keyframes: per-frame scalars out of the Arrow worker, JVM
#      window segmentation (cut at mean-pixel delta >= 10), then ONE
#      mapInPandas pulls exactly the first frame of each shot out of each
#      payload (the payload is walked once, never shuffled);
#   2. the extracted keyframe JPEGs run through the REAL decoder into the
#      shared dHash (dhash_bands), keyed kid = media_id*16 + shot_id;
#   3. band_candidates + Hamming verify on co-bucketed keyframes ONLY
#      (never all-pairs), pairs mapped back to clip pairs;
#   4. verdict: a clip is a near-dup iff one of its keyframes sits within
#      Hamming 2 of a SMALLER clip's keyframe (canonical-min rule);
#      keep = not near-dup AND n_shots >= 2 (static single-shot clips
#      dropped — the motion-quality rule).
#
# The fp fixtures make the whole chain closed-form: constant blocks decode
# exactly, so per-frame pixel sums, the cut decision, keyframe selection,
# and every dHash band are spelled in SQL below. Scale: the decode legs
# are partition-preserving mapInPandas (pixels never shuffle), candidates
# are banded, verification touches candidates only, and the per-clip
# rollup is one groupBy over O(shots) rows.
# ---------------------------------------------------------------------------
_VIDEO_CURATION_ORACLE = f"""
WITH d AS (
  SELECT doc_id, COALESCE(substr(text, 1, {M.DHASH_PREFIX_LEN}), '') AS p
  FROM documents
),
cellk AS (
  SELECT doc_id, p, f.f, k.k
  FROM d,
       (SELECT unnest(range(0, {M.VIDEO_FP_FRAMES})) AS f) f,
       (SELECT unnest(range(0, {M.DHASH_GRID_W * M.DHASH_GRID_H})) AS k) k
),
cell AS (
  SELECT doc_id, f, k,
         CASE WHEN k = 0 AND f = 0 THEN 40 + 20 * (doc_id % 2)
              WHEN k = 0 THEN 45
              WHEN k = 1 THEN 50
              ELSE ('0x' || substr(md5(p || ':' || CAST(f AS VARCHAR)
                    || ':' || CAST(k AS VARCHAR)), 1, 2))::BIGINT
         END AS v
  FROM cellk
),
pix AS (
  SELECT doc_id, f, 64 * SUM(v) AS pix FROM cell GROUP BY doc_id, f
),
cutq AS (
  SELECT p0.doc_id,
         CASE WHEN abs(p1.pix - p0.pix)
                   >= 10 * {8 * M.DHASH_GRID_W} * {8 * M.DHASH_GRID_H}
              THEN 1 ELSE 0 END AS cut
  FROM pix p0 JOIN pix p1 ON p0.doc_id = p1.doc_id AND p0.f = 0 AND p1.f = 1
),
kf AS (
  SELECT doc_id, 0 AS shot_id, 0 AS f FROM cutq
  UNION ALL
  SELECT doc_id, 1 AS shot_id, 1 AS f FROM cutq WHERE cut = 1
),
bit AS (
  SELECT a.doc_id, a.f,
         (a.k // {M.DHASH_GRID_W}) * 8 + (a.k % {M.DHASH_GRID_W}) AS g
  FROM cell a JOIN cell b ON a.doc_id = b.doc_id AND a.f = b.f
                         AND b.k = a.k + 1
  WHERE a.k % {M.DHASH_GRID_W} < 8 AND a.v < b.v
),
bgrid AS (SELECT doc_id, shot_id, f, unnest(range(0, 4)) AS band_idx FROM kf),
bsum AS (
  SELECT doc_id, f, g // 16 AS band_idx,
         CAST(SUM(1 << CAST(g % 16 AS INTEGER)) AS BIGINT) AS band_val
  FROM bit GROUP BY doc_id, f, g // 16
),
bands AS (
  SELECT bg.doc_id * 16 + bg.shot_id AS kid, bg.band_idx,
         COALESCE(bs.band_val, 0) AS band_val
  FROM bgrid bg LEFT JOIN bsum bs
    ON bs.doc_id = bg.doc_id AND bs.f = bg.f AND bs.band_idx = bg.band_idx
),
wide AS (
  SELECT kid,
         MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
  FROM bands GROUP BY kid
),
cand AS (
  SELECT DISTINCT a.kid AS kid1, b.kid AS kid2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.kid < b.kid
),
ham AS (
  SELECT c.kid1, c.kid2,
         bit_count(xor(w1.b0, w2.b0)) + bit_count(xor(w1.b1, w2.b1))
       + bit_count(xor(w1.b2, w2.b2)) + bit_count(xor(w1.b3, w2.b3)) AS hd
  FROM cand c
  JOIN wide w1 ON c.kid1 = w1.kid
  JOIN wide w2 ON c.kid2 = w2.kid
),
cpair AS (
  SELECT kid1 // 16 AS c1, kid2 // 16 AS c2
  FROM ham WHERE hd <= 2 AND kid1 // 16 <> kid2 // 16
),
partner AS (
  SELECT c2 AS doc_id, MIN(c1) AS dup_partner FROM cpair GROUP BY c2
),
nshots AS (SELECT doc_id, COUNT(*) AS n_shots FROM kf GROUP BY doc_id)
SELECT CAST(n.doc_id AS BIGINT)       AS media_id,
       CAST(n.n_shots AS BIGINT)      AS n_shots,
       CAST(pa.dup_partner AS BIGINT) AS dup_partner,
       (pa.dup_partner IS NULL AND n.n_shots >= 2) AS keep
FROM nshots n LEFT JOIN partner pa USING (doc_id)
"""


def _fpavi_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized fp-AVI clip corpus, cached per (session, sf_dir) —
    the curation pipeline walks payloads twice (frame stats, then keyframe
    extraction), and synthesis is the expensive leg."""
    return shared(
        spark,
        ("mm:fpavi_media", sf_dir),
        lambda: M.synthesize_fpavi_media(load_table(spark, sf_dir, "documents")),
    )


def _kf_band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation chain's keyframe band table (kid = media_id*16 +
    shot_id → band0..band3) — keyframes extracted and decoded ONCE per
    (session, sf_dir): the band self-join reads it twice, the Hamming
    verify twice more, and the per-clip shot count is derivable from kid
    alone, so without the cache ONE curation plan walks every payload
    four times through two mapInPandas legs (15 Python-eval nodes) —
    decode once, reuse the 5-integer rows."""

    def build() -> DataFrame:
        kf = M.shot_keyframes(_fpavi_media(spark, sf_dir))
        return M.dhash_bands(
            kf.select(
                (F.col("media_id") * 16 + F.col("shot_id")).alias("media_id"),
                F.col("frame_payload").alias("payload"),
            )
        )

    return shared(spark, ("mm:kf_bands", sf_dir), build)


@register("multimodal_video_curation", _VIDEO_CURATION_ORACLE)
def multimodal_video_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw AVI corpus → shots → one keyframe per shot → keyframe-dHash
    near-dup verdict → per-clip keep/drop (see block comment). One row per
    clip: (media_id, n_shots, dup_partner, keep)."""
    kfb = _kf_band_table(spark, sf_dir)  # one row per (clip, shot) keyframe
    ham = M.band_hamming_pairs(kfb, max_bucket=None)
    cpair = ham.where(F.col("hd") <= 2).select(
        F.expr("id1 DIV 16").alias("c1"), F.expr("id2 DIV 16").alias("c2")
    ).where(F.col("c1") != F.col("c2"))
    partner = cpair.groupBy(F.col("c2").alias("media_id")).agg(
        F.min("c1").cast("bigint").alias("dup_partner")
    )
    # one band row per (clip, shot) keyframe, so the shot count is a
    # rollup of the cached band table — no second payload walk
    nshots = kfb.groupBy(
        F.expr("media_id DIV 16").alias("media_id")
    ).agg(F.count("*").cast("bigint").alias("n_shots"))
    return nshots.join(partner, "media_id", "left").select(
        F.col("media_id").cast("bigint").alias("media_id"),
        "n_shots",
        "dup_partner",
        (F.col("dup_partner").isNull() & (F.col("n_shots") >= 2)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# FLAC decode profile. Closes the audio-format boundary: real FLAC decode —
# Rice-coded fixed-predictor residuals AND verbatim subframes, frame
# CRC-8/CRC-16, whole-stream MD5 — value-gated with a purely INTEGER oracle:
# the decoder emits integer samples, so the amplitude total is an exact
# BIGINT sum, no float leg at all.
# ---------------------------------------------------------------------------
_FLAC_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN octet_length(encode(text)) > 0
              THEN hex(encode(text)) ELSE '0' END AS hx
  FROM documents
),
ch AS (SELECT doc_id, hx, unnest(range(length(hx))) AS k FROM m),
amp AS (
  SELECT doc_id,
         SUM(ascii(substr(hx, CAST(k AS INTEGER) + 1, 1))) AS amp,
         COUNT(*) AS n
  FROM ch GROUP BY doc_id
)
SELECT CASE m.doc_id % 3 WHEN 0 THEN 'fixed1' WHEN 1 THEN 'verbatim'
            ELSE 'lpc2' END                            AS variant,
       CAST(COUNT(*) AS BIGINT)                        AS n_clips,
       CAST(SUM(a.n) AS BIGINT)                        AS n_samples,
       CAST(MIN(8000 + 1000 * (m.doc_id % 4)) AS BIGINT) AS min_rate,
       CAST(MAX(8000 + 1000 * (m.doc_id % 4)) AS BIGINT) AS max_rate,
       CAST(SUM(a.amp) AS BIGINT)                      AS amp_total
FROM m JOIN amp a USING (doc_id)
GROUP BY 1
"""


@register("multimodal_flac_profile", _FLAC_ORACLE)
def multimodal_flac_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict decode profile over REAL FLAC clips: one row per subframe
    kind (fixed-predictor+Rice / verbatim / order-2 LPC — all three
    decoder predictor families), every stat an exact
    integer from the CRC- and MD5-verified decode (see block comment).
    The variant label is the doc_id % 3 rotation (what synthesis
    requested) on both sides; docs too short for a predictor's warmup
    encode verbatim but keep their rotation label — the stats are
    kind-agnostic so the oracle is unaffected."""
    media = M.synthesize_flac_media(load_table(spark, sf_dir, "documents"))
    st = M.flac_stats(media).withColumn(
        "variant",
        F.when(F.col("media_id") % 3 == 0, "fixed1")
        .when(F.col("media_id") % 3 == 1, "verbatim")
        .otherwise("lpc2"),
    )
    return st.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_clips"),
        F.sum("n_samples").cast("bigint").alias("n_samples"),
        F.min("sample_rate").cast("bigint").alias("min_rate"),
        F.max("sample_rate").cast("bigint").alias("max_rate"),
        F.sum("amp_total").cast("bigint").alias("amp_total"),
    )


# ---------------------------------------------------------------------------
# Fused multimodal bundle dedup. A multimodal
# training corpus dedups per
# BUNDLE: a document whose text, image, OR audio member near-duplicates a
# smaller document's is dropped, with ONE canonical partner across
# modalities. Every leg is the modality's existing first-class rule,
# assembled from the SAME shared pieces the per-modality gates use:
#
#   text  — the minhash occupied-band rule (functions/text.py band_keys;
#           the docs_neardup rule);
#   image — dHash bands → band_hamming_pairs, Hamming ≤ 2
#           (_dhash_band_table, the phash gate's table);
#   audio — energy-fingerprint bands → band_hamming_pairs, Hamming ≤ 2
#           (_audio_fp_band_table);
#   fused — dup iff ANY modality flags; partner = least non-null
#           modality partner (both engines' LEAST skips NULLs);
#           keep = no modality flagged.
#
# The oracle is the three closed-form chains (text_pack's minhash CTEs,
# _PHASH_BANDS_CTES, _AUDIO_FP_BANDS_CTES, each closed by the shared
# _BANDS4_HAM_CTES verify tail) as nested-WITH derived tables — so the
# fused gate can never drift from the per-modality gates. Scale: three
# banded candidate joins (never all-pairs) + three doc-keyed left joins;
# decodes ride the per-modality session caches, payloads never shuffle.
# ---------------------------------------------------------------------------
from hive_server_spark.plans.text_pack import (  # noqa: E402
    _SHINGLES_CTE_D,
    _TOKS_CTE_D,
    _band_cols_d,
    _band_union_d,
    _mh_cols_d,
)

_BUNDLE_ORACLE = f"""
WITH txt AS (
  SELECT doc_id, MIN(min_id) AS partner FROM (
    WITH {_TOKS_CTE_D},
    {_SHINGLES_CTE_D},
    sigs AS (SELECT doc_id, {_mh_cols_d} FROM shingled),
    sigs_b AS (SELECT doc_id, {_band_cols_d} FROM sigs),
    bands AS ({_band_union_d}),
    bmin AS (SELECT band_key, MIN(doc_id) AS min_id FROM bands GROUP BY band_key)
    SELECT b.doc_id, m.min_id
    FROM bands b JOIN bmin m ON b.band_key = m.band_key
    WHERE m.min_id < b.doc_id
  ) tflag GROUP BY doc_id
),
img AS (
  SELECT id2 AS doc_id, MIN(id1) AS partner FROM (
    WITH {_PHASH_BANDS_CTES},
    {_BANDS4_HAM_CTES}
    SELECT id1, id2 FROM ham WHERE hd <= 2
  ) iflag GROUP BY id2
),
aud AS (
  SELECT id2 AS doc_id, MIN(id1) AS partner FROM (
    WITH {_AUDIO_FP_BANDS_CTES},
    {_BANDS4_HAM_CTES}
    SELECT id1, id2 FROM ham WHERE hd <= 2
  ) aflag GROUP BY id2
)
SELECT CAST(dd.doc_id AS BIGINT) AS doc_id,
       CAST(t.partner AS BIGINT) AS text_partner,
       CAST(i.partner AS BIGINT) AS image_partner,
       CAST(u.partner AS BIGINT) AS audio_partner,
       CAST(LEAST(t.partner, i.partner, u.partner) AS BIGINT) AS partner,
       (t.partner IS NULL AND i.partner IS NULL AND u.partner IS NULL) AS keep
FROM documents dd
LEFT JOIN txt t USING (doc_id)
LEFT JOIN img i USING (doc_id)
LEFT JOIN aud u USING (doc_id)
"""


def _min_partner(ham: DataFrame, alias: str) -> DataFrame:
    """Canonical-min verdict over verified pairs: a doc's partner is the
    smallest doc one of its members sits within Hamming 2 of."""
    return (
        ham.where(F.col("hd") <= 2)
        .groupBy(F.col("id2").alias("doc_id"))
        .agg(F.min("id1").cast("bigint").alias(alias))
    )


@register("multimodal_bundle_neardup", _BUNDLE_ORACLE)
def multimodal_bundle_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fused dedup verdict across text/image/audio members
    (see block comment). One row per document: the three per-modality
    canonical partners, the fused partner, and the keep flag."""
    from hive_server_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    tb = T.doc_bands(docs)
    txt = occupied_flags(
        tb, band_index(tb, ["band_key"], "doc_id"), ["band_key"], "doc_id"
    ).select("doc_id", F.col("partner_doc_id").alias("text_partner"))
    img = _min_partner(
        M.band_hamming_pairs(_dhash_band_table(spark, sf_dir), max_bucket=None),
        "image_partner",
    )
    aud = _min_partner(
        M.band_hamming_pairs(
            _audio_fp_band_table(spark, sf_dir), max_bucket=None
        ),
        "audio_partner",
    )
    return (
        docs.select(F.col("doc_id").cast("bigint").alias("doc_id"))
        .join(txt, "doc_id", "left")
        .join(img, "doc_id", "left")
        .join(aud, "doc_id", "left")
        .select(
            "doc_id",
            "text_partner",
            "image_partner",
            "audio_partner",
            F.least("text_partner", "image_partner", "audio_partner")
            .cast("bigint")
            .alias("partner"),
            (
                F.col("text_partner").isNull()
                & F.col("image_partner").isNull()
                & F.col("audio_partner").isNull()
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Audio + video fingerprint incremental refresh: the modality-generic
# persisted band index (functions/multimodal.py band_long +
# functions/clusters.py split_refresh) refreshes audio and video
# fingerprints with the SAME machinery that gates the image member
# (multimodal_phash_incremental) — this query driver-gates the
# remaining two members in one fused pass, exactly the refresh a real
# multimodal corpus runs. Same split protocol as the image member: the
# id-ordered prior half writes its index; the new batch merges its band
# partials (MIN semilattice) and flags against the post-merge index,
# which equals the full-corpus index — so the oracle is each modality's
# closed-form band chain + the occupied-band rule restricted to the
# batch. Scale: the prior corpus is never rescanned or re-DECODED (the
# expensive leg — WAV energy frames / AVI keyframe JPEG decode); per
# refresh the cost is O(batch bands) + band-keyed merges, and both the
# merge and the flag join reuse the same (band_idx, band_val)
# partitioning. Nothing all-pairs.
# ---------------------------------------------------------------------------
_MEDIA_FP_INCR_ORACLE = f"""
WITH {_AUDIO_FP_BANDS_CTES},
vdd AS (
  SELECT doc_id, COALESCE(substr(text, 1, {M.DHASH_PREFIX_LEN}), '') AS p
  FROM documents
),
vcellk AS (
  SELECT doc_id, p, f.f, k.k
  FROM vdd,
       (SELECT unnest(range(0, {M.VIDEO_FP_FRAMES})) AS f) f,
       (SELECT unnest(range(0, {M.DHASH_GRID_W * M.DHASH_GRID_H})) AS k) k
),
vcell AS (
  SELECT doc_id, f, k,
         CASE WHEN k = 0 AND f = 0 THEN 40 + 20 * (doc_id % 2)
              WHEN k = 0 THEN 45
              WHEN k = 1 THEN 50
              ELSE ('0x' || substr(md5(p || ':' || CAST(f AS VARCHAR)
                    || ':' || CAST(k AS VARCHAR)), 1, 2))::BIGINT
         END AS v
  FROM vcellk
),
vbit AS (
  SELECT a.doc_id,
         a.f * 64 + (a.k // {M.DHASH_GRID_W}) * 8 + (a.k % {M.DHASH_GRID_W}) AS g
  FROM vcell a JOIN vcell b ON a.doc_id = b.doc_id AND a.f = b.f AND b.k = a.k + 1
  WHERE a.k % {M.DHASH_GRID_W} < 8 AND a.v < b.v
),
vbgrid AS (
  SELECT doc_id, unnest(range(0, {4 * M.VIDEO_FP_FRAMES})) AS band_idx FROM vdd
),
vbsum AS (
  SELECT doc_id, g // 16 AS band_idx,
         CAST(SUM(1 << CAST(g % 16 AS INTEGER)) AS BIGINT) AS band_val
  FROM vbit GROUP BY doc_id, g // 16
),
vbands AS (
  SELECT bg.doc_id, bg.band_idx, COALESCE(bs.band_val, 0) AS band_val
  FROM vbgrid bg LEFT JOIN vbsum bs USING (doc_id, band_idx)
),
thr AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS t FROM documents),
amin AS (
  SELECT band_idx, band_val, MIN(doc_id) AS min_id
  FROM bands GROUP BY band_idx, band_val
),
aj AS (
  SELECT b.doc_id, m.min_id
  FROM bands b
  JOIN amin m ON b.band_idx = m.band_idx AND b.band_val = m.band_val
  WHERE m.min_id < b.doc_id
),
vmin AS (
  SELECT band_idx, band_val, MIN(doc_id) AS min_id
  FROM vbands GROUP BY band_idx, band_val
),
vj AS (
  SELECT b.doc_id, m.min_id
  FROM vbands b
  JOIN vmin m ON b.band_idx = m.band_idx AND b.band_val = m.band_val
  WHERE m.min_id < b.doc_id
)
SELECT 'audio' AS modality,
       CAST(j.doc_id AS BIGINT)      AS media_id,
       CAST(COUNT(*) AS BIGINT)      AS n_occupied_bands,
       CAST(MIN(j.min_id) AS BIGINT) AS partner_media_id
FROM aj j CROSS JOIN thr WHERE j.doc_id >= thr.t
GROUP BY j.doc_id
UNION ALL
SELECT 'video' AS modality,
       CAST(j.doc_id AS BIGINT)      AS media_id,
       CAST(COUNT(*) AS BIGINT)      AS n_occupied_bands,
       CAST(MIN(j.min_id) AS BIGINT) AS partner_media_id
FROM vj j CROSS JOIN thr WHERE j.doc_id >= thr.t
GROUP BY j.doc_id
"""


@register("multimodal_media_fp_incremental", _MEDIA_FP_INCR_ORACLE)
def multimodal_media_fp_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fused audio + video fingerprint incremental refresh: write each
    modality's prior-snapshot band index to parquet (id-ordered first
    half), then dedup the second half as a new batch against the
    persisted index — per modality, must equal the full-corpus
    occupied-band rule restricted to the batch (see block comment). One
    row per flagged batch member: (modality, media_id, n_occupied_bands,
    partner_media_id). The decodes run once via the shared fingerprint
    caches; the batch path never touches prior-corpus payloads."""
    import os
    from functools import partial

    from hive_server_spark.session import session_scratch

    out = None
    for modality, bands_wide, n_bands in (
        ("audio", _audio_fp_band_table(spark, sf_dir), 4),
        ("video", _video_fp_band_table(spark, sf_dir), 4 * M.VIDEO_FP_FRAMES),
    ):
        flagged = split_refresh(
            bands_wide, "media_id",
            partial(M.band_long, n_bands=n_bands),
            M.BAND_KEYS,
            os.path.join(session_scratch(f"{modality}_fp_incr"), "band_index"),
        ).select(
            F.lit(modality).alias("modality"),
            "media_id",
            "n_occupied_bands",
            "partner_media_id",
        )
        out = flagged if out is None else out.unionByName(flagged)
    return out
