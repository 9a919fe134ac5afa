"""FLAC audio codec — pure Python, no external libraries.

Closes the audio-format boundary the way functions/jpeg.py closes JPEG
(ITU-T T.81) and functions/video.py RIFF/AVI — FLAC is the one remaining
fully-public, pure-integer audio codec: Rice-coded residuals of fixed/LPC
integer predictors, CRC-checked frames, an MD5 of the unencoded stream in
the header (IETF RFC 9639; the format is bit-exact by construction, so a
correct decoder is EXACT, never approximate).

Surface:

  ``parse_flac``       — container/metadata walk: STREAMINFO fields, or
                         None if the payload is not fLaC (format dispatch)
  ``decode_flac``      — full decode to per-channel integer samples, with
                         frame-header CRC-8, frame CRC-16, and (when the
                         encoder recorded one) whole-stream MD5 verified
  ``flac_to_wav``      — transcode to canonical RIFF/WAVE PCM, so EVERY
                         existing WAV consumer (resample_audio, the audio
                         fingerprint, feature extraction) composes with
                         FLAC payloads unchanged
  ``decode_flac_stats``— (rate, channels, bits, n_samples, mean_amp) for
                         profile queries
  ``encode_flac``      — FIXTURE encoder in the spirit of
                         encode_jpeg_gray_blocks / encode_avi_mjpeg: a
                         spec-valid stream (real CRCs, real MD5, UTF-8
                         frame numbers) using verbatim / constant /
                         fixed-predictor+Rice / order-2-LPC subframes, so
                         constant or known sample blocks keep closed-form
                         oracles while every decoder predictor family
                         (including LPC) is exercised end-to-end

Error contract (shared with the image/WAV/AVI codecs): not-fLaC returns
None from the dispatch entry points; any structural malformation —
truncated stream, bad sync, CRC mismatch, reserved/invalid field, MD5
mismatch — raises ValueError with a specific message. Never a silently
wrong decode.

Decode support: 8/16/24-bit, 1-8 channels (all four stereo decorrelation
modes), constant / verbatim / fixed(0-4) / LPC(1-32) subframes, both
Rice methods incl. escape partitions, wasted bits. That covers every
stream the fixture encoder and the common encoders emit for PCM sources.

Reference parity: the reference server stores media only as opaque blobs
(no codec surface; /root/reference/src has no audio path); this module
belongs to the training-data-pipeline extension surface (SURVEY.md
north star)."""

from __future__ import annotations

import hashlib
import struct

__all__ = [
    "parse_flac",
    "decode_flac",
    "decode_flac_stats",
    "flac_to_wav",
    "encode_flac",
]

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_SAMPLE_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 — the FLAC
    frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0 — the
    FLAC whole-frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _BitReader:
    """MSB-first bit reader over a bytes object with a byte-position
    anchor (FLAC frames are byte-aligned; CRCs cover whole bytes)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        while n > 0:
            if self.byte >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            avail = 8 - self.bit
            take = min(n, avail)
            cur = self.data[self.byte]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
            n -= take
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        """Count of 0 bits before the terminating 1 bit."""
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:
                raise ValueError("runaway FLAC unary code")
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _read_utf8_number(r: _BitReader) -> int:
    """The UTF-8-style coded frame/sample number (extended to 7 bytes)."""
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x80
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 2 or n > 7:
        raise ValueError("invalid FLAC coded number prefix")
    v = b0 & (mask - 1)
    for _ in range(n - 1):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("invalid FLAC coded number continuation")
        v = (v << 6) | (b & 0x3F)
    return v


def _skip_metadata(b: bytes) -> tuple[dict, int]:
    """Walk the metadata blocks; return (streaminfo fields, frame offset).
    STREAMINFO must come first (RFC 9639 §8.1)."""
    if len(b) < 8:
        raise ValueError("truncated FLAC metadata")
    pos = 4
    info = None
    last = False
    while not last:
        if pos + 4 > len(b):
            raise ValueError("truncated FLAC metadata block header")
        hdr = b[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        size = int.from_bytes(b[pos + 1 : pos + 4], "big")
        body = b[pos + 4 : pos + 4 + size]
        if len(body) < size:
            raise ValueError("truncated FLAC metadata block")
        if pos == 4:
            if btype != 0 or size != 34:
                raise ValueError("FLAC stream must start with STREAMINFO")
            r = _BitReader(body)
            info = {
                "min_block": r.read(16),
                "max_block": r.read(16),
                "min_frame": r.read(24),
                "max_frame": r.read(24),
                "sample_rate": r.read(20),
                "channels": r.read(3) + 1,
                "bits": r.read(5) + 1,
                "total_samples": r.read(36),
                "md5": body[18:34],
            }
            if info["sample_rate"] <= 0:
                raise ValueError("non-positive FLAC sample rate")
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type 127")
        pos += 4 + size
    if info is None:
        raise ValueError("FLAC stream missing STREAMINFO")
    return info, pos


def parse_flac(payload: bytes) -> dict | None:
    """Metadata walk: STREAMINFO fields (+ ``frame_offset``) — or None if
    the payload does not start with 'fLaC' (format dispatch). Malformed
    metadata raises ValueError."""
    b = bytes(payload)
    if len(b) < 4 or b[:4] != b"fLaC":
        return None
    info, pos = _skip_metadata(b)
    info["frame_offset"] = pos
    return info


def _decode_residual(r: _BitReader, blocksize: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC partition order does not divide block size")
    res: list[int] = []
    for p in range(nparts):
        n = (blocksize >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        param = r.read(pbits)
        if param == escape:
            nbits = r.read(5)
            for _ in range(n):
                res.append(r.read_signed(nbits) if nbits else 0)
        else:
            for _ in range(n):
                q = r.read_unary()
                u = (q << param) | (r.read(param) if param else 0)
                res.append((u >> 1) ^ -(u & 1))
    return res


def _decode_subframe(r: _BitReader, blocksize: int, bps: int) -> list[int]:
    if r.read(1):
        raise ValueError("FLAC subframe padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
        bps -= wasted
        if bps <= 0:
            raise ValueError("FLAC wasted bits exceed sample size")
    if stype == 0:  # constant
        v = r.read_signed(bps)
        out = [v] * blocksize
    elif stype == 1:  # verbatim
        out = [r.read_signed(bps) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # fixed predictor, order 0-4
        order = stype - 8
        out = [r.read_signed(bps) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        coefs = _FIXED_COEFS[order]
        for e in res:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
            out.append(e + pred)
    elif stype >= 32:  # LPC, order 1-32
        order = (stype & 0x1F) + 1
        out = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4)
        if prec == 15:
            raise ValueError("invalid FLAC LPC precision 15")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        for e in _decode_residual(r, blocksize, order):
            acc = sum(c * out[-1 - j] for j, c in enumerate(coefs))
            out.append(e + (acc >> shift))
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def _decode_frame(b: bytes, pos: int, info: dict):
    """Decode one frame at byte offset ``pos``; returns (channel sample
    lists, end offset)."""
    r = _BitReader(b, pos)
    if r.read(14) != 0x3FFE:
        raise ValueError("bad FLAC frame sync code")
    if r.read(1):
        raise ValueError("reserved FLAC frame header bit set")
    r.read(1)  # blocking strategy
    bs_code = r.read(4)
    sr_code = r.read(4)
    ch_code = r.read(4)
    ss_code = r.read(3)
    if r.read(1):
        raise ValueError("reserved FLAC frame header bit set")
    _read_utf8_number(r)
    if bs_code == 0:
        raise ValueError("reserved FLAC block size code 0")
    elif bs_code == 1:
        blocksize = 192
    elif bs_code <= 5:
        blocksize = 576 << (bs_code - 2)
    elif bs_code == 6:
        blocksize = r.read(8) + 1
    elif bs_code == 7:
        blocksize = r.read(16) + 1
    else:
        blocksize = 256 << (bs_code - 8)
    if sr_code == 0:
        rate = info["sample_rate"]
    elif sr_code in _SAMPLE_RATES:
        rate = _SAMPLE_RATES[sr_code]
    elif sr_code == 12:
        rate = r.read(8) * 1000
    elif sr_code == 13:
        rate = r.read(16)
    elif sr_code == 14:
        rate = r.read(16) * 10
    else:
        raise ValueError("invalid FLAC sample rate code 15")
    if ch_code <= 7:
        nch, mode = ch_code + 1, "indep"
    elif ch_code <= 10:
        nch, mode = 2, ("left_side", "right_side", "mid_side")[ch_code - 8]
    else:
        raise ValueError(f"reserved FLAC channel assignment {ch_code}")
    bps = {0: info["bits"], 1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}.get(ss_code)
    if bps is None:
        raise ValueError(f"reserved FLAC sample size code {ss_code}")
    if bps != info["bits"] or nch != info["channels"] or rate != info["sample_rate"]:
        raise ValueError("FLAC frame header contradicts STREAMINFO")
    r.align()
    header_end = r.byte
    crc8 = b[header_end] if header_end < len(b) else None
    if crc8 is None:
        raise ValueError("truncated FLAC frame header")
    if _crc8(b[pos:header_end]) != crc8:
        raise ValueError("FLAC frame header CRC-8 mismatch")
    r = _BitReader(b, header_end + 1)

    chans = []
    for c in range(nch):
        cbps = bps
        if (mode == "left_side" and c == 1) or (mode == "right_side" and c == 0) \
                or (mode == "mid_side" and c == 1):
            cbps += 1  # the side channel carries one extra bit
        chans.append(_decode_subframe(r, blocksize, cbps))
    r.align()
    if r.byte + 2 > len(b):
        raise ValueError("truncated FLAC frame footer")
    crc16 = (b[r.byte] << 8) | b[r.byte + 1]
    if _crc16(b[pos : r.byte]) != crc16:
        raise ValueError("FLAC frame CRC-16 mismatch")
    end = r.byte + 2

    if mode == "left_side":
        left, side = chans
        chans = [left, [l - s for l, s in zip(left, side)]]
    elif mode == "right_side":
        side, right = chans
        chans = [[rr + s for rr, s in zip(right, side)], right]
    elif mode == "mid_side":
        mid, side = chans
        left, right = [], []
        for m, s in zip(mid, side):
            m2 = (m << 1) | (s & 1)
            left.append((m2 + s) >> 1)
            right.append((m2 - s) >> 1)
        chans = [left, right]
    return chans, end


def decode_flac(payload: bytes) -> tuple[int, int, int, list[list[int]]] | None:
    """Full decode: (sample_rate, n_channels, bits, per-channel signed
    sample lists) — or None if the payload is not fLaC. CRC-8/CRC-16 per
    frame; when STREAMINFO carries a non-zero MD5, the whole decoded
    stream is verified against it (signed little-endian interleaved, the
    RFC 9639 §8.2 definition) — a wrong decode cannot leave silently."""
    info = parse_flac(payload)
    if info is None:
        return None
    b = bytes(payload)
    pos = info["frame_offset"]
    out: list[list[int]] = [[] for _ in range(info["channels"])]
    while pos < len(b):
        chans, pos = _decode_frame(b, pos, info)
        for ch, vals in zip(out, chans):
            ch.extend(vals)
    n = len(out[0]) if out else 0
    if info["total_samples"] and n != info["total_samples"]:
        raise ValueError(
            "FLAC sample count mismatch: STREAMINFO declares "
            f"{info['total_samples']}, frames carry {n}"
        )
    if info["md5"] != b"\x00" * 16:
        width = (info["bits"] + 7) // 8
        h = hashlib.md5()
        buf = bytearray()
        for i in range(n):
            for ch in out:
                buf += int(ch[i]).to_bytes(width, "little", signed=True)
        h.update(bytes(buf))
        if h.digest() != info["md5"]:
            raise ValueError("FLAC stream MD5 mismatch")
    return info["sample_rate"], info["channels"], info["bits"], out


def decode_flac_stats(payload: bytes) -> tuple[int, int, int, int, float] | None:
    """(sample_rate, n_channels, bits, n_samples, mean_amp) where mean_amp
    is the mean UNSIGNED amplitude normalized to [0, 1] (signed samples
    shifted by 2^(bits-1), the WAV-profile convention so FLAC and WAV
    stats of the same audio agree). None if not fLaC."""
    got = decode_flac(payload)
    if got is None:
        return None
    rate, nch, bits, chans = got
    n = len(chans[0]) if chans else 0
    half = 1 << (bits - 1)
    maxval = (1 << bits) - 1
    total = sum(v + half for ch in chans for v in ch)
    mean = (total / (n * nch) / maxval) if n else 0.0
    return rate, nch, bits, n, float(mean)


def flac_to_wav(payload: bytes) -> bytes | None:
    """Transcode FLAC → canonical RIFF/WAVE PCM (the _wav_parse dialect:
    8-bit unsigned / 16-bit signed little-endian, interleaved) so every
    existing WAV consumer — resample_audio, audio_fingerprint_bands,
    audio feature extraction — composes with FLAC payloads unchanged.
    None if not fLaC; 24-bit+ sources raise (WAV consumers here are
    8/16-bit by contract)."""
    got = decode_flac(payload)
    if got is None:
        return None
    rate, nch, bits, chans = got
    if bits not in (8, 16):
        raise ValueError(f"cannot transcode {bits}-bit FLAC to 8/16-bit WAV")
    n = len(chans[0]) if chans else 0
    body = bytearray()
    for i in range(n):
        for ch in chans:
            v = ch[i]
            if bits == 8:
                body += struct.pack("<B", (v + 128) & 0xFF)
            else:
                body += struct.pack("<h", v)
    block_align = nch * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, nch, rate, rate * block_align, block_align, bits
    )
    payload_out = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + bytes(body)
    )
    return b"RIFF" + struct.pack("<I", len(payload_out)) + payload_out


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        # explicit raise, not assert: a no-op under `python -O` would let
        # a misaligned frame body be silently truncated
        if self.nbits:
            raise ValueError("unaligned FLAC bit buffer — call align() first")
        return bytes(self.buf)


def _write_utf8_number(w: _BitWriter, v: int) -> None:
    if not 0 <= v < (1 << 36):
        # the 7-byte coded form tops out at 36 payload bits; without this
        # guard the chunking loop below can never terminate
        raise ValueError(f"FLAC coded number {v} out of 36-bit range")
    if v < 0x80:
        w.write(v, 8)
        return
    chunks = []
    while True:
        chunks.append(v & 0x3F)
        v >>= 6
        n = len(chunks) + 1
        if v < (1 << (7 - n)) and n <= 7:
            break
    n = len(chunks) + 1
    w.write(((0xFF << (8 - n)) & 0xFF) | v, 8)
    for c in reversed(chunks):
        w.write(0x80 | c, 8)


def _encode_residual(w: _BitWriter, res: list[int], param: int) -> None:
    """Single-partition Rice residual (method 0, partition order 0)."""
    w.write(0, 2)   # Rice, 4-bit parameters
    w.write(0, 4)   # partition order 0
    w.write(param, 4)
    for e in res:
        u = (abs(e) << 1) - (1 if e < 0 else 0)  # zigzag
        q, low = u >> param, u & ((1 << param) - 1)
        for _ in range(q):
            w.write(0, 1)
        w.write(1, 1)
        if param:
            w.write(low, param)


# Fixture LPC kinds: kind -> (order, coef precision bits, shift,
# quantized coefficients newest-first). Integer math only, so any entry
# round-trips exactly; residual size (hence stream size) is all that
# varies with predictor quality.
_LPC_KINDS = {
    "lpc2": (2, 4, 1, [3, -1]),
    "lpc8": (8, 5, 3, [12, -6, 4, -3, 3, -2, 2, -2]),
}


def encode_flac(
    channels: list[list[int]],
    sample_rate: int = 8000,
    bits: int = 16,
    block_size: int = 4096,
    subframe: str = "auto",
) -> bytes:
    """Spec-valid FLAC stream from per-channel signed sample lists
    (independent channels; real CRC-8/CRC-16, real stream MD5, UTF-8
    frame numbers, fixed blocking). ``subframe``: 'verbatim', 'constant'
    (requires constant blocks), 'fixed1' (order-1 fixed predictor with
    single-partition Rice residuals — exercises the decoder's hot path),
    'lpc2' (order-2 LPC, 4-bit precision, coefficients [3, -1], shift 1 —
    exercises the decoder's LPC path end-to-end), 'lpc8' (order-8 LPC,
    5-bit precision, shift 3 — the general high-order LPC dot-product the
    order-2 special case cannot stand in for), or 'auto' (constant when
    a block is constant, else fixed1)."""
    if not channels or not channels[0]:
        raise ValueError("encode_flac needs at least one sample")
    if any(len(c) != len(channels[0]) for c in channels):
        raise ValueError("channel length mismatch")
    if block_size < 16:
        # RFC 9639 §8.2: STREAMINFO block sizes 0-15 are forbidden; only
        # the final (tail) block of a stream may be shorter than 16
        raise ValueError("FLAC block size must be >= 16")
    if block_size > 65535:
        # STREAMINFO's min/max block-size fields are 16-bit; _BitWriter
        # masks, so an unchecked value would emit a corrupt-but-CRC-valid
        # stream instead of honouring the error contract
        raise ValueError("FLAC block size must fit the 16-bit STREAMINFO field")
    if not 0 < sample_rate < (1 << 20):
        # same masking hazard for the 20-bit STREAMINFO rate field — and
        # stream MD5 would NOT catch a wrong rate (samples are unchanged)
        raise ValueError("FLAC sample rate must fit the 20-bit STREAMINFO field")
    n = len(channels[0])
    nch = len(channels)
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    for c in channels:
        for v in c:
            if not lo <= v <= hi:
                raise ValueError(f"sample {v} out of {bits}-bit range")

    width = (bits + 7) // 8
    md5 = hashlib.md5()
    for i in range(n):
        for c in channels:
            md5.update(int(c[i]).to_bytes(width, "little", signed=True))

    frames = bytearray()
    frame_sizes = []
    fno = 0
    for start in range(0, n, block_size):
        bs = min(block_size, n - start)
        w = _BitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)          # fixed blocking strategy
        w.write(7, 4)          # block size: 16-bit field follows
        w.write(0, 4)          # sample rate: from STREAMINFO
        w.write(nch - 1, 4)    # independent channels
        w.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bits], 3)
        w.write(0, 1)
        _write_utf8_number(w, fno)
        w.write(bs - 1, 16)
        w.align()
        hdr = w.bytes()
        w = _BitWriter()
        for c in channels:
            block = c[start : start + bs]
            kind = subframe
            if kind == "auto":
                kind = "constant" if len(set(block)) == 1 else "fixed1"
            w.write(0, 1)
            if kind == "constant":
                if len(set(block)) != 1:
                    raise ValueError("constant subframe needs a constant block")
                w.write(0, 6)
                w.write(0, 1)
                w.write(block[0], bits)
            elif kind == "verbatim":
                w.write(1, 6)
                w.write(0, 1)
                for v in block:
                    w.write(v, bits)
            elif kind == "fixed1":
                if bs < 2:
                    raise ValueError("fixed1 needs a block of >= 2 samples")
                w.write(8 + 1, 6)
                w.write(0, 1)
                w.write(block[0], bits)
                res = [block[i] - block[i - 1] for i in range(1, bs)]
                mean = sum((abs(e) << 1) for e in res) // max(len(res), 1)
                param = max(0, min(14, mean.bit_length() - 1))
                _encode_residual(w, res, param)
            elif kind in _LPC_KINDS:
                # general LPC: warmup, then prec-bit quantized coefficients
                # (newest sample first) with a right-shift —
                # pred = (Σ coef[j]·s[i-1-j]) >> shift. 'lpc2' is the
                # damped linear extrapolation (3·s[i-1] − s[i-2]) >> 1;
                # 'lpc8' is an order-8 unity-DC-gain low-pass (Σcoefs = 8,
                # shift 3) that drives the decoder's general LPC
                # dot-product — order, precision, and shift all differ
                # from lpc2, so the order-2 special case cannot mask a
                # general-path bug
                order, prec, shift, coefs = _LPC_KINDS[kind]
                if bs < order + 1:
                    raise ValueError(
                        f"{kind} needs a block of >= {order + 1} samples"
                    )
                w.write(32 + order - 1, 6)  # LPC, given order
                w.write(0, 1)
                for j in range(order):
                    w.write(block[j], bits)
                w.write(prec - 1, 4)  # coefficient precision
                w.write(shift, 5)     # shift (signed field, positive)
                for c0 in coefs:
                    w.write(c0, prec)
                res = [
                    block[i]
                    - (
                        sum(
                            coefs[j] * block[i - 1 - j]
                            for j in range(order)
                        )
                        >> shift
                    )
                    for i in range(order, bs)
                ]
                mean = sum((abs(e) << 1) for e in res) // max(len(res), 1)
                param = max(0, min(14, mean.bit_length() - 1))
                _encode_residual(w, res, param)
            else:
                raise ValueError(f"unknown subframe kind {kind!r}")
        w.align()
        body = w.bytes()
        frame = hdr + bytes([_crc8(hdr)]) + body
        frame += struct.pack(">H", _crc16(frame))
        frames += frame
        frame_sizes.append(len(frame))
        fno += 1

    # STREAMINFO block-size fields (RFC 9639 §8.2): values 0-15 are
    # forbidden, and the LAST block is allowed to be shorter than the
    # declared minimum — so the partial tail frame is excluded from the
    # min/max, and a stream shorter than one nominal block declares the
    # (clamped) nominal size while its only block legally undershoots it.
    bs_list = [min(block_size, n - s) for s in range(0, n, block_size)]
    full = bs_list[:-1] if len(bs_list) > 1 else []
    nominal = max(16, min(block_size, 65535))
    si = _BitWriter()
    si.write(max(16, min(full)) if full else nominal, 16)
    si.write(max(16, max(full)) if full else nominal, 16)
    si.write(min(frame_sizes), 24)
    si.write(max(frame_sizes), 24)
    si.write(sample_rate, 20)
    si.write(nch - 1, 3)
    si.write(bits - 1, 5)
    si.write(n, 36)
    streaminfo = si.bytes() + md5.digest()
    assert len(streaminfo) == 34
    return (
        b"fLaC"
        + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
        + bytes(frames)
    )
