"""From-scratch FLAC decoder (xiph.org FLAC format spec / RFC 9639).

The engine's audio surface decodes RIFF/WAVE PCM; FLAC is the other
integer-PCM container a corpus actually carries. This module decodes the
streams themselves, and kernels/media.py routes the `flac` format here:

* STREAMINFO (rate / channels / bits / total samples) through
  `streaminfo`, the one reader the header sniff shares
* frame headers: sync, UTF-8-style coded numbers, all block-size and
  sample-rate codes, CRC-8 verification
* subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC any order,
  wasted-bits shift
* residuals: rice partitions (4- and 5-bit parameters, escape codes)
* stereo decorrelation: left/side, right/side, mid/side (side channel
  at bps+1), plus independent channels (up to 8)
* frame CRC-16 verification

Output contract matches `decode_wav_samples`: (sample_rate, channels,
mono int16 samples) with channels floor-averaged to mono. Lossless, so
every decoded sample is exactly the encoder's input — the oracle for
`real_audio_stats` derives expected statistics straight from source
samples. ValueError on anything malformed or unsupported (>16-bit
streams); per-row containment upstream (C7), like every kernel.

Bounds: total decoded samples are charged against
limits.MAX_DECODED_BYTES/2 (read at call time) BEFORE each frame
decodes, unary runs are capped, and the bit reader raises on
exhaustion — crafted length fields fail fast, never allocate.

Reference behavior: the reference ships no audio pipeline at all; this
is engine surface for the training-data tier (multimodal columns).
"""

from __future__ import annotations

import array

from documentconvert_spark.kernels import limits

_MAX_UNARY = 1 << 20


def _crc_table(poly: int, width: int) -> list[int]:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    out = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly if crc & top else crc << 1) & mask
        out.append(crc)
    return out


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def crc8(data: bytes) -> int:
    """CRC-8, poly 0x07, init 0 (FLAC frame header CRC). Table-driven:
    this runs over every frame of every audio blob on the decode path."""
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0 (FLAC frame footer CRC)."""
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16_TABLE[(crc >> 8) ^ b]
    return crc


class _Bits:
    """MSB-first bit reader; ValueError on exhaustion."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # byte position
        self.bit = 0    # bits consumed of data[pos]

    def u(self, n: int) -> int:
        v = 0
        while n:
            if self.pos >= len(self.data):
                raise ValueError("flac: bitstream exhausted")
            avail = 8 - self.bit
            take = min(n, avail)
            chunk = (self.data[self.pos] >> (avail - take)) & ((1 << take) - 1)
            v = (v << take) | chunk
            n -= take
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v

    def s(self, n: int) -> int:
        v = self.u(n)
        return v - (1 << n) if n and v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        q = 0
        while not self.u(1):
            q += 1
            if q > _MAX_UNARY:
                raise ValueError("flac: unary run over cap")
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


def streaminfo(body: bytes) -> tuple[int, int, int, int]:
    """The one STREAMINFO reader, shared with the header sniff → (rate,
    channels, bps, total samples): 20+3+5+36 bits after the 10 bytes of
    size ranges. Reads body[10:18] only and never raises; no checks."""
    v = int.from_bytes(body[10:18], "big")
    return v >> 44, ((v >> 41) & 7) + 1, ((v >> 36) & 31) + 1, v & ((1 << 36) - 1)


def _read_streaminfo(data: bytes) -> tuple[int, int, int, int, int]:
    """→ (sample_rate, channels, bps, total_samples, first_frame_pos)."""
    if data[:4] != b"fLaC":
        raise ValueError("flac: bad magic")
    i = 4
    info = None
    while True:
        if i + 4 > len(data):
            raise ValueError("flac: truncated metadata")
        last = data[i] & 0x80
        btype = data[i] & 0x7F
        blen = int.from_bytes(data[i + 1:i + 4], "big")
        body = data[i + 4:i + 4 + blen]
        if btype == 0:
            if len(body) < 34:
                raise ValueError("flac: short STREAMINFO")
            info = streaminfo(body)
        i += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("flac: no STREAMINFO block")
    sr, ch, bps, total = info
    if not sr:
        raise ValueError("flac: zero sample rate")
    if bps > 16:
        raise ValueError("flac: only <=16-bit streams supported")
    return sr, ch, bps, total, i


_BLOCKSIZE_CODES = {1: 192, **{n: 576 << (n - 2) for n in range(2, 6)},
                    **{n: 256 << (n - 8) for n in range(8, 16)}}
_RATE_CODES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
               7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000}
_FIXED_COEF = {1: (1,), 2: (2, -1), 3: (3, -3, 1), 4: (4, -6, 4, -1)}


def _coded_number(bits: _Bits) -> int:
    """UTF-8-style frame/sample number (up to 7 bytes / 36 bits)."""
    b0 = bits.u(8)
    if b0 < 0x80:
        return b0
    n = 0
    while b0 & (0x80 >> n):
        n += 1
    if n < 2 or n > 7:
        raise ValueError("flac: bad coded number")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = bits.u(8)
        if c & 0xC0 != 0x80:
            raise ValueError("flac: bad coded-number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _residual(bits: _Bits, blocksize: int, order: int) -> list[int]:
    method = bits.u(2)
    if method > 1:
        raise ValueError("flac: reserved residual method")
    plen = 4 + method
    po = bits.u(4)
    nparts = 1 << po
    if blocksize % nparts:
        raise ValueError("flac: partition order does not divide blocksize")
    out: list[int] = []
    for p in range(nparts):
        n = (blocksize >> po) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("flac: predictor order exceeds first partition")
        param = bits.u(plen)
        if param == (1 << plen) - 1:  # escape: raw n-bit residuals
            nb = bits.u(5)
            out.extend(bits.s(nb) if nb else 0 for _ in range(n))
        else:
            for _ in range(n):
                q = bits.unary()
                u = (q << param) | (bits.u(param) if param else 0)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _subframe(bits: _Bits, blocksize: int, bps: int) -> list[int]:
    if bits.u(1):
        raise ValueError("flac: bad subframe padding bit")
    stype = bits.u(6)
    wasted = 0
    if bits.u(1):  # wasted-bits flag: count is unary-coded as k-1
        wasted = bits.unary() + 1
        if wasted >= bps:
            raise ValueError("flac: wasted bits exceed sample size")
    ebps = bps - wasted
    if stype == 0:  # CONSTANT
        samples = [bits.s(ebps)] * blocksize
    elif stype == 1:  # VERBATIM
        samples = [bits.s(ebps) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        if order > blocksize:
            raise ValueError("flac: fixed order exceeds blocksize")
        samples = [bits.s(ebps) for _ in range(order)]
        res = _residual(bits, blocksize, order)
        coef = _FIXED_COEF.get(order, ())
        for r in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coef))
            samples.append(r + pred)
    elif stype >= 32:  # LPC, order = low 5 bits + 1
        order = (stype & 0x1F) + 1
        if order > blocksize:
            raise ValueError("flac: lpc order exceeds blocksize")
        samples = [bits.s(ebps) for _ in range(order)]
        prec = bits.u(4)
        if prec == 15:
            raise ValueError("flac: invalid lpc precision")
        prec += 1
        shift = bits.s(5)
        if shift < 0:
            raise ValueError("flac: negative lpc shift")
        coef = [bits.s(prec) for _ in range(order)]
        res = _residual(bits, blocksize, order)
        for r in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coef)) >> shift
            samples.append(r + pred)
    else:
        raise ValueError(f"flac: reserved subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac_samples(data: bytes) -> tuple[int, int, "array.array"]:
    """FLAC bytes → (sample_rate, channels, mono int16 samples).

    Same output contract as `decode_wav_samples` (multi-channel streams
    floor-averaged to mono). CRC-8 (header) and CRC-16 (frame) are
    verified; any mismatch, reserved code, or unsupported shape raises
    ValueError for upstream per-row containment."""
    sr, ch, bps, total, pos = _read_streaminfo(data)
    out = array.array("h")
    decoded = 0
    while pos + 2 <= len(data):
        frame_start = pos
        bits = _Bits(data, pos)
        if bits.u(14) != 0x3FFE:
            raise ValueError("flac: lost frame sync")
        bits.u(1)  # reserved
        bits.u(1)  # blocking strategy
        bs_code = bits.u(4)
        sr_code = bits.u(4)
        ca = bits.u(4)
        ss_code = bits.u(3)
        bits.u(1)  # reserved
        _coded_number(bits)
        if bs_code == 0:
            raise ValueError("flac: reserved blocksize code")
        elif bs_code == 6:
            blocksize = bits.u(8) + 1
        elif bs_code == 7:
            blocksize = bits.u(16) + 1
        else:
            blocksize = _BLOCKSIZE_CODES[bs_code]
        if sr_code == 0:
            fsr = sr
        elif sr_code in _RATE_CODES:
            fsr = _RATE_CODES[sr_code]
        elif sr_code == 12:
            fsr = bits.u(8) * 1000
        elif sr_code == 13:
            fsr = bits.u(16)
        elif sr_code == 14:
            fsr = bits.u(16) * 10
        else:
            raise ValueError("flac: invalid sample rate code")
        if ca <= 7:
            nch = ca + 1
        elif ca <= 10:
            nch = 2
        else:
            raise ValueError("flac: reserved channel assignment")
        fbps = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24}.get(ss_code)
        if fbps is None:
            raise ValueError("flac: reserved sample size code")
        if fbps > 16:
            raise ValueError("flac: only <=16-bit frames supported")
        if nch != ch or fsr != sr:
            raise ValueError("flac: frame disagrees with STREAMINFO")
        if crc8(data[frame_start:bits.pos]) != bits.u(8):
            raise ValueError("flac: frame header CRC mismatch")
        decoded += blocksize
        if decoded > limits.MAX_DECODED_BYTES // 2:
            raise ValueError("flac: decoded samples over cap")
        chans = []
        for c in range(nch):
            side = (ca == 8 and c == 1) or (ca == 9 and c == 0) \
                or (ca == 10 and c == 1)
            chans.append(_subframe(bits, blocksize, fbps + (1 if side else 0)))
        bits.align()
        body_crc = crc16(data[frame_start:bits.pos])
        if body_crc != bits.u(16):
            raise ValueError("flac: frame CRC mismatch")
        pos = bits.pos
        if ca == 8:    # left/side: right = left - side
            chans = [chans[0], [l - s for l, s in zip(chans[0], chans[1])]]
        elif ca == 9:  # right/side: left = right + side
            chans = [[r + s for s, r in zip(chans[0], chans[1])], chans[1]]
        elif ca == 10:  # mid/side
            left, right = [], []
            for m, s in zip(chans[0], chans[1]):
                m2 = (m << 1) | (s & 1)
                left.append((m2 + s) >> 1)
                right.append((m2 - s) >> 1)
            chans = [left, right]
        scale = 16 - fbps  # normalize narrow streams to int16 range
        for f in range(blocksize):
            v = sum(c[f] for c in chans) // nch << scale
            if not -32768 <= v <= 32767:  # crafted residuals are unbounded
                raise ValueError("flac: decoded sample out of range")
            out.append(v)
        if total and decoded >= total:
            break
    if decoded == 0:
        raise ValueError("flac: no audio frames")
    return sr, ch, out
