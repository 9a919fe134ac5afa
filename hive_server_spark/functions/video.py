"""RIFF/AVI (MJPEG) video container codec — pure Python, no external
libraries. Real video decode for the one video format this repo can decode
honestly — Motion-JPEG in an AVI container, where every frame is an ITU-T
T.81 JPEG that functions/jpeg.py already decodes across the full SOF matrix.
Anything needing an actual inter-frame codec (H.26x, VP9, AV1...) stays a
documented strict-mode ValueError: a GOP/bitstream decoder would be a
re-implementation of an external codec library, out of scope (the PPM
maxval>255 stance).

Container layout handled (all public knowledge — the Microsoft AVI RIFF
form, OpenDML-free baseline):

  RIFF('AVI '
    LIST('hdrl'
      avih(<MainAVIHeader 56 bytes>)
      LIST('strl' strh(<AVIStreamHeader 'vids'/'MJPG'>)
                  strf(<BITMAPINFOHEADER biCompression='MJPG'>)))
    [JUNK ...]
    LIST('movi' 00dc(<JPEG bytes>) ...)
    [idx1(<16-byte entries>)])

The walker shares the WAV parser's error contract: not-RIFF/'AVI ' returns
None (format dispatch), any structural malformation — truncated chunk,
missing hdrl/movi/avih/strh/strf, a video stream whose handler is not
MJPG, a frame count that contradicts the main header — raises ValueError
with a specific message (pinned by the corrupt-audit fuzz pattern).

``encode_avi_mjpeg`` is a FIXTURE encoder in the spirit of
``encode_jpeg_gray_blocks``: a spec-valid container (word-aligned chunks,
real idx1 index, coherent avih/strh/strf headers) whose frames are the
caller's JPEG payloads — with constant-block frames the whole video
decodes EXACTLY, keeping a closed-form byte-level DuckDB oracle for the
gate queries.

Reference parity: the reference server stores media only as opaque blobs
(no codec surface); this module belongs to the training-data-pipeline
extension surface (SURVEY.md north star)."""

from __future__ import annotations

import struct

__all__ = ["encode_avi_mjpeg", "parse_avi", "decode_avi_stats"]

_AVIF_HASINDEX = 0x00000010
_AVIIF_KEYFRAME = 0x00000010


def encode_avi_mjpeg(
    frame_jpegs: list[bytes],
    width: int,
    height: int,
    rate: int = 25,
    scale: int = 1,
) -> bytes:
    """Spec-valid AVI wrapping ``frame_jpegs`` as one MJPG 'vids' stream.

    Every chunk is word-aligned, the main/stream headers agree with the
    actual frame list, and a real idx1 index (offsets relative to the
    'movi' fourcc, the classic convention) is appended with
    AVIF_HASINDEX set."""
    if not frame_jpegs:
        raise ValueError("encode_avi_mjpeg needs at least one frame")
    if rate <= 0 or scale <= 0:
        raise ValueError("rate and scale must be positive")
    frames = [bytes(f) for f in frame_jpegs]
    max_frame = max(len(f) for f in frames)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        (1_000_000 * scale) // rate,  # dwMicroSecPerFrame
        max_frame * rate // scale,    # dwMaxBytesPerSec (upper bound)
        0,                            # dwPaddingGranularity
        _AVIF_HASINDEX,               # dwFlags
        len(frames),                  # dwTotalFrames
        0,                            # dwInitialFrames
        1,                            # dwStreams
        max_frame,                    # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,                   # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4h",
        b"vids",
        b"MJPG",
        0,                 # dwFlags
        0, 0,              # wPriority, wLanguage
        0,                 # dwInitialFrames
        scale,             # dwScale
        rate,              # dwRate
        0,                 # dwStart
        len(frames),       # dwLength
        max_frame,         # dwSuggestedBufferSize
        0,                 # dwQuality
        0,                 # dwSampleSize (0 = variable, one sample/chunk)
        0, 0, width, height,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,                # biSize
        width,
        height,
        1,                 # biPlanes
        24,                # biBitCount
        b"MJPG",           # biCompression
        width * height * 3,  # biSizeImage (decoded size; informational)
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )

    movi_body = b""
    idx_entries = []
    for f in frames:
        # idx1 offsets are relative to the 'movi' fourcc position; the
        # first chunk therefore sits at offset 4
        idx_entries.append((4 + len(movi_body), len(f)))
        movi_body += chunk(b"00dc", f)
    movi = lst(b"movi", movi_body)
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", _AVIIF_KEYFRAME, off, ln)
            for off, ln in idx_entries
        ),
    )
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _walk_chunks(b: bytes, off: int, end: int):
    """Yield (fourcc, body_start, body_size) for each word-aligned RIFF
    chunk in b[off:end]; raises ValueError on truncation."""
    while off + 8 <= end:
        fourcc = b[off : off + 4]
        (size,) = struct.unpack_from("<I", b, off + 4)
        body_start = off + 8
        if body_start + size > end:
            raise ValueError("truncated AVI chunk %r" % fourcc)
        yield fourcc, body_start, size
        off = body_start + size + (size & 1)
    if off < end:
        raise ValueError("trailing garbage after last AVI chunk")


def parse_avi(
    payload: bytes,
) -> tuple[int, int, int, int, list[bytes]] | None:
    """Walk a RIFF/AVI container. Returns (width, height, rate, scale,
    frames) where frames are the raw MJPEG chunk payloads of the FIRST
    'vids' stream — matched by its strl position ('NNdc'/'NNdb' movi
    chunks), so an audio-first layout (vids declared second → frames in
    '01dc') parses correctly — or None if the payload is not RIFF/'AVI '
    (format dispatch). Structural malformation raises ValueError (the
    shared codec error contract): truncated chunks, missing
    hdrl/movi/avih/strh/strf, a 'vids' stream whose handler is not MJPG
    (checked regardless of strh/strf ordering inside strl), or a frame
    count that contradicts the main header."""
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    (riff_size,) = struct.unpack_from("<I", b, 4)
    if 8 + riff_size > len(b):
        raise ValueError("truncated RIFF payload")
    end = 8 + riff_size

    avih = None
    streams: list[tuple[bytes, bytes]] = []  # (fccType, fccHandler)
    vid_idx = None  # strl position of the first 'vids' stream
    frames_by_stream: dict[int, list[bytes]] = {}
    saw_movi = False

    for fourcc, start, size in _walk_chunks(b, 12, end):
        if fourcc != b"LIST":
            continue  # JUNK / idx1 / unknown top-level chunks skipped
        if size < 4:
            raise ValueError("AVI LIST chunk too short for a list type")
        ltype = b[start : start + 4]
        inner = list(_walk_chunks(b, start + 4, start + size))
        if ltype == b"hdrl":
            for cid, cs, cl in inner:
                if cid == b"avih":
                    if cl < 40:
                        raise ValueError("avih header too short")
                    avih = struct.unpack_from("<10I", b, cs)
                elif cid == b"LIST" and b[cs : cs + 4] == b"strl":
                    # buffer strh/strf first — a spec-valid strl may order
                    # them either way, and the MJPG checks below must not
                    # silently skip when strf precedes strh
                    fcc_type = fcc_handler = None
                    strf_body = None
                    for sid, ss, sl in _walk_chunks(b, cs + 4, cs + cl):
                        if sid == b"strh":
                            if sl < 48:
                                raise ValueError("strh header too short")
                            fcc_type = b[ss : ss + 4]
                            fcc_handler = b[ss + 4 : ss + 8]
                            scale_, rate_, _start, length_ = struct.unpack_from(
                                "<IIII", b, ss + 20
                            )
                        elif sid == b"strf":
                            strf_body = (ss, sl)
                    if fcc_type is None:
                        raise ValueError("strl list missing strh")
                    if fcc_type == b"vids":
                        if strf_body is None:
                            raise ValueError("vids strl list missing strf")
                        ss, sl = strf_body
                        if sl < 40:
                            raise ValueError("strf BITMAPINFOHEADER too short")
                        compression = b[ss + 16 : ss + 20]
                        if compression not in (b"MJPG", b"mjpg"):
                            raise ValueError(
                                "unsupported AVI video codec %r (MJPG only; "
                                "inter-frame codecs need an external library)"
                                % compression
                            )
                        if fcc_handler not in (
                            b"MJPG",
                            b"mjpg",
                            b"\x00\x00\x00\x00",
                        ):
                            raise ValueError(
                                "unsupported AVI video codec %r (MJPG only; "
                                "inter-frame codecs need an external library)"
                                % fcc_handler
                            )
                        if vid_idx is None:
                            vid_idx = len(streams)
                            vid_scale, vid_rate, vid_length = (
                                scale_, rate_, length_,
                            )
                    streams.append((fcc_type, fcc_handler))
        elif ltype == b"movi":
            saw_movi = True
            for cid, cs, cl in inner:
                # video data chunks: 'NNdc' (compressed) / 'NNdb' (DIB),
                # NN = the stream's strl position as two ASCII digits
                if cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                    frames_by_stream.setdefault(int(cid[:2]), []).append(
                        b[cs : cs + cl]
                    )

    if avih is None:
        raise ValueError("AVI missing avih main header")
    if vid_idx is None:
        raise ValueError("AVI has no video stream")
    if not saw_movi:
        raise ValueError("AVI missing movi list")
    frames = frames_by_stream.get(vid_idx, [])
    total_frames, width, height = avih[4], avih[8], avih[9]
    if total_frames != len(frames):
        raise ValueError(
            "AVI frame count mismatch: avih declares %d, movi carries %d"
            % (total_frames, len(frames))
        )
    if vid_length != len(frames):
        raise ValueError(
            "AVI stream length mismatch: strh declares %d, movi carries %d"
            % (vid_length, len(frames))
        )
    if vid_scale <= 0 or vid_rate <= 0:
        raise ValueError("non-positive AVI frame rate")
    return width, height, vid_rate, vid_scale, frames


def decode_avi_stats(payload: bytes) -> tuple[int, int, int, int, int, float] | None:
    """Full real decode of an MJPEG AVI: parse the container, decode EVERY
    frame through functions/jpeg.decode_jpeg, and return
    (width, height, n_frames, rate, scale, mean_luma) where mean_luma is
    the pixel-count-weighted mean over all frames, normalized to [0, 1].
    Returns None if the payload is not RIFF/'AVI '. A frame whose decoded
    dimensions contradict the container headers raises ValueError."""
    got = parse_avi(payload)
    if got is None:
        return None
    from hive_server_spark.functions.jpeg import decode_jpeg

    width, height, rate, scale, frames = got
    total = 0.0
    npx = 0
    for i, f in enumerate(frames):
        dec = decode_jpeg(f)
        if dec is None:
            raise ValueError("AVI MJPG frame %d is not a JPEG stream" % i)
        fw, fh, mean = dec
        if fw != width or fh != height:
            raise ValueError(
                "AVI frame %d is %dx%d but the container declares %dx%d"
                % (i, fw, fh, width, height)
            )
        total += mean * fw * fh
        npx += fw * fh
    mean_luma = total / npx if npx else 0.0
    return width, height, len(frames), rate, scale, float(mean_luma)
