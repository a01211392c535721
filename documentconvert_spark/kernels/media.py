"""The audio/video layer: recognise an A/V container once, decode it
by one table.

The image layer (kernels/raster.py) owns image headers, media keys and
pixels; the document layer (kernels/detect.py) owns document containers
and the embedded media carved from them. This module is the audio/video
layer on the image layer's pattern, no codec libraries: one recogniser
(`av_format`), one header reader per container shared by the sniff
(`sniff_av_meta`) and the decoder, and the format → decoder tables
`AUDIO_DECODERS` (WAV, FLAC) and `VIDEO_DECODERS` (AVI, MJPEG-in-MP4,
animated GIF) behind `decode_audio`/`decode_video`.
"""

from __future__ import annotations

import struct

import numpy as np

from documentconvert_spark.kernels import limits
from documentconvert_spark.kernels.miniflac import decode_flac_samples, streaminfo
from documentconvert_spark.kernels.minijpeg import decode_jpeg_gray
from documentconvert_spark.kernels.raster import (
    _GIF_MAGICS,
    decode_gif_frames,
    dib_gray,
    riff_chunks,
)

# Container-level metadata from raw bytes, public specs only (ISO base
# media / RIFF-WAVE / FLAC STREAMINFO / EBML magic). No codec libraries —
# this is the inventory pass a training pipeline runs over opaque media
# columns before any decode.

def av_format(data: bytes) -> str:
    """The one A/V recogniser: the container the magic bytes name, or
    'unknown'. sniff_av_meta and the decoder tables go by it; an animated
    GIF is video too, but its header is the image layer's to read."""
    if data[4:8] == b"ftyp":
        return "mp4"
    if data[:6] in _GIF_MAGICS:
        return "gif"
    if data[:4] == b"RIFF":
        return {b"WAVE": "wav", b"AVI ": "avi"}.get(bytes(data[8:12]), "unknown")
    if data[:4] == b"fLaC":
        return "flac"
    if data[:4] == b"OggS":
        return "ogg"
    if data[:4] == b"\x1aE\xdf\xa3":  # EBML (webm/mkv)
        return "webm"
    if data[:3] == b"ID3" or (len(data) >= 2 and data[0] == 0xFF
                              and (data[1] & 0xE0) == 0xE0):
        return "mp3"
    return "unknown"


def _iso_boxes(data: bytes, lo: int, hi: int):
    """Yield (fourcc, body_lo, body_hi) for ISO-BMFF boxes in [lo, hi);
    handles 64-bit largesize (size==1) and to-end (size==0) boxes. Stops
    at the first malformed header rather than raising — callers decide
    whether what they found so far is enough."""
    i = lo
    while i + 8 <= hi:
        size = int.from_bytes(data[i:i + 4], "big")
        btype = data[i + 4:i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > hi:
                return
            size = int.from_bytes(data[i + 8:i + 16], "big")
            hdr = 16
        elif size == 0:
            size = hi - i
        if size < hdr:
            return
        yield btype, i + hdr, min(i + size, hi)
        i += size


def _mp4_meta(data: bytes):
    """Walk top-level ISO-BMFF boxes (_iso_boxes, shared with the frame
    carver); moov/mvhd gives duration, moov/trak/tkhd gives presentation
    width/height (16.16 fixed). Shorter than the 12-byte ftyp header:
    no container."""
    if len(data) < 12:
        return "unknown", None, None, None
    dur_ms = None
    width = height = None

    def walk(lo: int, hi: int, depth: int = 0):
        nonlocal dur_ms, width, height
        if depth >= 6:
            return
        for btype, body, end in _iso_boxes(data, lo, hi):
            if btype in (b"moov", b"trak", b"mdia"):
                walk(body, end, depth + 1)
            elif btype == b"mvhd" and body < end:
                if data[body] == 1:
                    ts = int.from_bytes(data[body + 20:body + 24], "big")
                    dur = int.from_bytes(data[body + 24:body + 32], "big")
                else:
                    ts = int.from_bytes(data[body + 12:body + 16], "big")
                    dur = int.from_bytes(data[body + 16:body + 20], "big")
                if ts:
                    dur_ms = int(dur * 1000 // ts)
            elif btype == b"tkhd" and body < end and width is None:
                ver = data[body]
                # FullBox(4) + times/ids/reserved (v0: 20, v1: 32) +
                # reserved(8) + layer/altgroup/volume/reserved(8) +
                # matrix(36) => width at 76 (v0) / 88 (v1)
                off = body + (88 if ver == 1 else 76)
                if off + 8 <= end:
                    w = int.from_bytes(data[off:off + 4], "big") >> 16
                    h = int.from_bytes(data[off + 4:off + 8], "big") >> 16
                    if w and h:
                        width, height = w, h

    walk(0, len(data))
    return "mp4", width, height, dur_ms


def _wav_header(data: bytes):
    """The one RIFF/WAVE header reader: the chunk list up to the first
    data chunk → ((body_lo, body_hi) of each fmt chunk before it, that
    data chunk's (body_lo, body_hi, declared size) or None). Never
    raises; the sniff and the decoder apply their own checks."""
    fmts = []
    for cc, lo, hi in riff_chunks(data, 12, len(data)):
        if cc == b"fmt ":
            fmts.append((lo, hi))
        elif cc == b"data":
            return fmts, (lo, hi, int.from_bytes(data[lo - 4:lo], "little"))
    return fmts, None


def _wav_meta(data: bytes):
    """Duration = data chunk size ÷ the last fmt chunk's byte rate (its
    body offset 8, read wherever the file holds it)."""
    fmts, chunk = _wav_header(data)
    rates = [int.from_bytes(data[lo + 8:lo + 12], "little")
             for lo, _hi in fmts if lo + 12 <= len(data)]
    dur_ms = chunk[2] * 1000 // rates[-1] if chunk and rates and rates[-1] else None
    return "wav", None, None, dur_ms


def _riff_lists(data: bytes, lo: int, hi: int):
    """riff_chunks with each LIST named by its list type, so the AVI
    walks see hdrl/strl/movi/rec directly."""
    for cc, body_lo, body_hi in riff_chunks(data, lo, hi):
        if cc == b"LIST" and body_lo + 4 <= body_hi:
            yield data[body_lo:body_lo + 4], body_lo + 4, body_hi
        else:
            yield cc, body_lo, body_hi


def _avi_hdrl(data: bytes, lo: int, hi: int):
    """The one AVI header reader ('AVI RIFF File Reference'), over an
    hdrl list → (avih, fps, bitcount, compression): the first avih's
    (dwMicroSecPerFrame, dwTotalFrames, dwWidth, dwHeight) or None, and
    the video stream's strh dwRate/dwScale and strf biBitCount/
    biCompression. Never raises; the sniff and the decoder check it."""
    avih = None
    fps = 0.0
    bitcount = compression = None
    for c2, l2, h2 in _riff_lists(data, lo, hi):
        if c2 == b"avih" and h2 - l2 >= 40 and avih is None:
            avih = struct.unpack_from("<I12xI12x2I", data, l2)
        elif c2 == b"strl":
            is_vids = False
            for c3, l3, h3 in _riff_lists(data, l2, h2):
                if c3 == b"strh" and h3 - l3 >= 32:
                    is_vids = data[l3:l3 + 4] == b"vids"
                    scale, rate = struct.unpack_from("<20x2I", data, l3)
                    if is_vids and scale:
                        fps = rate / scale
                elif c3 == b"strf" and is_vids and h3 - l3 >= 20:
                    bitcount, compression = struct.unpack_from("<14xHI", data, l3)
    return avih, fps, bitcount, compression


def _avi_meta(data: bytes):
    """The first hdrl's avih: dwMicroSecPerFrame × dwTotalFrames →
    duration, dwWidth/dwHeight."""
    avih = next((_avi_hdrl(data, lo, hi)[0] for cc, lo, hi
                 in _riff_lists(data, 12, len(data)) if cc == b"hdrl"), None)
    usec, nframes, w, h = avih or (0, 0, 0, 0)
    return ("avi", w if w and h else None, h if w and h else None,
            usec * nframes // 1000 if usec and nframes else None)


_MAX_AVI_FRAMES = 4096


def decode_avi_frames(data: bytes) -> tuple[int, int, float, list[np.ndarray]]:
    """AVI bytes → (width, height, fps, frames as (h, w) uint8 gray).

    The real-codec video path (closes the last decoder stub): walks the
    RIFF tree ('AVI RIFF File Reference'), reads the video stream's strh
    (fps = dwRate/dwScale) and strf BITMAPINFOHEADER through _avi_hdrl,
    the reader the sniff shares, then decodes every ``..dc``/``..db``
    movi chunk — MJPG frames through the from-scratch baseline-JPEG
    decoder (kernels/minijpeg.py), BI_RGB DIB frames as bottom-up 24-bit
    BGR with 4-byte row padding through the BMP decoder's own pixel path
    (kernels/raster.dib_gray). Frame pixels are charged against ONE
    per-document budget BEFORE each decode (a declared-size bomb fails
    at the first over-budget frame, not after allocating it), and the
    frame count is capped at _MAX_AVI_FRAMES. ValueError on anything
    malformed — per-row containment upstream (C7), like every kernel."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("avi: not a RIFF/AVI file")
    width = height = None
    fps = 0.0
    bitcount = compression = None
    frames: list[np.ndarray] = []
    pixel_budget = limits.MAX_PIXELS
    for cc, lo, hi in _riff_lists(data, 12, len(data)):
        if cc == b"hdrl":
            avih, fps, bitcount, compression = _avi_hdrl(data, lo, hi)
            width, height = avih[2:] if avih else (None, None)
        elif cc == b"movi":
            if not width or not height:
                raise ValueError("avi: movi before a usable avih header")
            # interleaved AVIs group frame chunks inside 'LIST rec '
            # sub-lists of movi — walk one level into those
            def movi_chunks():
                for c2, l2, h2 in _riff_lists(data, lo, hi):
                    if c2 == b"rec ":
                        yield from _riff_lists(data, l2, h2)
                    else:
                        yield c2, l2, h2
            for c2, l2, h2 in movi_chunks():
                if c2[2:4] not in (b"dc", b"db"):
                    continue  # audio chunks / padding
                if h2 == l2:
                    continue  # zero-size chunk: the standard dropped-frame marker
                if len(frames) >= _MAX_AVI_FRAMES:
                    raise ValueError("avi: frame count over cap")
                pixel_budget -= width * height
                if pixel_budget < 0:
                    raise ValueError("avi: decoded pixels over budget")
                payload = data[l2:h2]
                if payload[:2] == b"\xff\xd8":  # MJPG
                    fw, fh, gray = decode_jpeg_gray(bytes(payload))
                elif compression == 0 and bitcount == 24:  # BI_RGB DIB
                    gray = dib_gray(payload, 0, width, height, 24)
                    if gray is None:
                        raise ValueError("avi: DIB frame shorter than raster")
                    fw, fh = width, height
                else:
                    raise ValueError(
                        f"avi: no decoder for compression={compression!r} "
                        f"bitcount={bitcount!r}")
                if (fw, fh) != (width, height):
                    raise ValueError("avi: frame size disagrees with avih")
                frames.append(gray)
    if not frames:
        raise ValueError("avi: no video frames")
    return width, height, fps, frames


_MP4_JPEG_CODECS = (b"jpeg", b"mjpa", b"mjpb")


def decode_mp4_frames(data: bytes) -> tuple[int, int, float, list[np.ndarray]]:
    """MP4/ISO-BMFF bytes → (width, height, fps, frames as (h, w) uint8 gray).

    The MJPEG-in-MP4 leg of the real-codec video path (AVI's sibling,
    same return shape): walks moov→trak→mdia→minf→stbl per ISO/IEC
    14496-12, takes the first video ('vide' handler) track whose stsd
    sample entry is a motion-JPEG codec ('jpeg'/'mjpa'/'mjpb'), expands
    the sample tables — stsc runs → sample-per-chunk counts, stsz sizes,
    stco/co64 chunk offsets — and decodes every carved sample through the
    from-scratch baseline-JPEG decoder (kernels/minijpeg.py). fps comes
    from the mdhd timescale over the first stts delta. Frame pixels are
    charged against ONE per-document budget BEFORE each decode and the
    frame count is capped at _MAX_AVI_FRAMES, exactly like the AVI
    walker. Inter-frame codecs (avc1/vp09/hev1 …) have no from-scratch
    decoder: ValueError containment (C7), never a wrong decode."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("mp4: not an ISO-BMFF file")

    seen_codecs: list[bytes] = []

    def video_track(moov_lo: int, moov_hi: int):
        """First trak with a 'vide' handler and an MJPEG stsd entry →
        (width, height, timescale, stbl bounds)."""
        for t, lo, hi in _iso_boxes(data, moov_lo, moov_hi):
            if t != b"trak":
                continue
            for t2, lo2, hi2 in _iso_boxes(data, lo, hi):
                if t2 != b"mdia":
                    continue
                timescale, is_vide, stbl = 0, False, None
                for t3, lo3, hi3 in _iso_boxes(data, lo2, hi2):
                    if t3 == b"mdhd" and hi3 - lo3 >= 4:
                        ver = data[lo3]
                        # guard covers the FURTHEST byte read (v1
                        # timescale ends at +24): a truncated box must
                        # never read the next box's bytes as a timescale
                        off = lo3 + (20 if ver == 1 else 12)
                        if off + 4 <= hi3:
                            timescale = int.from_bytes(data[off:off + 4], "big")
                    elif t3 == b"hdlr" and hi3 - lo3 >= 12:
                        is_vide = data[lo3 + 8:lo3 + 12] == b"vide"
                    elif t3 == b"minf":
                        for t4, lo4, hi4 in _iso_boxes(data, lo3, hi3):
                            if t4 == b"stbl":
                                stbl = (lo4, hi4)
                if not (is_vide and stbl):
                    continue
                for t4, lo4, hi4 in _iso_boxes(data, *stbl):
                    if t4 == b"stsd" and hi4 - lo4 >= 16:
                        fourcc = data[lo4 + 12:lo4 + 16]
                        if fourcc in _MP4_JPEG_CODECS:
                            if hi4 - lo4 < 44:  # width/height end at +44
                                continue  # short entry: unusable track
                            w = int.from_bytes(data[lo4 + 40:lo4 + 42], "big")
                            h = int.from_bytes(data[lo4 + 42:lo4 + 44], "big")
                            return w, h, timescale, stbl
                        seen_codecs.append(fourcc)
        return None

    moov = next(((lo, hi) for t, lo, hi in _iso_boxes(data, 0, len(data))
                 if t == b"moov"), None)
    if moov is None:
        raise ValueError("mp4: no moov box")
    track = video_track(*moov)
    if track is None:
        if seen_codecs:
            raise ValueError("mp4: no decoder for codec "
                             + seen_codecs[0].decode("ascii", "replace"))
        raise ValueError("mp4: no video track")
    width, height, timescale, (stbl_lo, stbl_hi) = track
    if not width or not height:
        raise ValueError("mp4: zero-sized video track")

    sizes: list[int] | None = None
    chunk_offs: list[int] = []
    stsc_runs: list[tuple[int, int]] = []
    fps = 0.0
    for t, lo, hi in _iso_boxes(data, stbl_lo, stbl_hi):
        body = data[lo:hi]
        if t == b"stsz" and len(body) >= 12:
            fixed = int.from_bytes(body[4:8], "big")
            n = int.from_bytes(body[8:12], "big")
            # cap BEFORE the [fixed]*n allocation: a 20-byte stsz can
            # declare 2^32-1 samples — containment, not a 34 GB list
            if n > _MAX_AVI_FRAMES:
                raise ValueError("mp4: frame count over cap")
            if fixed:
                sizes = [fixed] * n
            else:
                if len(body) < 12 + 4 * n:
                    raise ValueError("mp4: stsz shorter than its count")
                sizes = list(struct.unpack_from(f">{n}I", body, 12))
        elif t in (b"stco", b"co64") and len(body) >= 8:
            n = int.from_bytes(body[4:8], "big")
            w8 = 8 if t == b"co64" else 4
            if len(body) < 8 + w8 * n:
                raise ValueError("mp4: chunk-offset table truncated")
            chunk_offs = list(struct.unpack_from(f">{n}{'Q' if w8 == 8 else 'I'}", body, 8))
        elif t == b"stsc" and len(body) >= 8:
            n = int.from_bytes(body[4:8], "big")
            if len(body) < 8 + 12 * n:
                raise ValueError("mp4: stsc table truncated")
            runs = struct.unpack_from(f">{3 * n}I", body, 8)
            stsc_runs = list(zip(runs[::3], runs[1::3]))  # (first chunk, samples per chunk)
        elif t == b"stts" and len(body) >= 16:
            delta = int.from_bytes(body[12:16], "big")
            if timescale and delta:
                fps = timescale / delta
    if not sizes or not chunk_offs or not stsc_runs:
        raise ValueError("mp4: incomplete sample tables")

    # expand stsc runs → per-chunk sample counts, walk chunks carving
    # consecutive samples; stop once every stsz entry is placed
    frames: list[np.ndarray] = []
    pixel_budget = limits.MAX_PIXELS
    sample = 0
    run_idx = 0
    for chunk_no in range(1, len(chunk_offs) + 1):
        while (run_idx + 1 < len(stsc_runs)
               and stsc_runs[run_idx + 1][0] <= chunk_no):
            run_idx += 1
        per_chunk = stsc_runs[run_idx][1]
        off = chunk_offs[chunk_no - 1]
        for _ in range(per_chunk):
            if sample >= len(sizes):
                break
            size = sizes[sample]
            if off + size > len(data):
                raise ValueError("mp4: sample range outside the file")
            pixel_budget -= width * height
            if pixel_budget < 0:
                raise ValueError("mp4: decoded pixels over budget")
            fw, fh, gray = decode_jpeg_gray(bytes(data[off:off + size]))
            if (fw, fh) != (width, height):
                raise ValueError("mp4: frame size disagrees with stsd")
            frames.append(gray)
            off += size
            sample += 1
    if sample < len(sizes):
        raise ValueError("mp4: chunk tables place fewer samples than stsz")
    if not frames:
        raise ValueError("mp4: no video frames")
    return width, height, fps, frames


def decode_wav_samples(data: bytes) -> tuple[int, int, "array.array"]:
    """RIFF/WAVE PCM bytes → (sample_rate, channels, mono int16 samples).

    The real-codec analogue of the MINIMEDIA audio path: integer PCM
    (8/16-bit, any channel count) decoded from the spec (RIFF chunks +
    WAVEFORMAT), channels averaged to mono. Float/ADPCM/extensible
    raise ValueError — containment upstream, like every other kernel.
    """
    import array

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("wav: bad magic")
    fmts, chunk = _wav_header(data)
    fmt = None
    for lo, hi in fmts:
        if hi - lo < 16:
            continue
        tag, ch, sr, _rate, _align, bits = struct.unpack_from("<HHIIHH", data, lo)
        if tag != 1:
            raise ValueError("wav: non-PCM format unsupported")
        if bits not in (8, 16) or not 1 <= ch <= 8 or sr <= 0:
            raise ValueError("wav: unsupported PCM shape")
        fmt = (ch, sr, bits)
    if chunk is None:
        raise ValueError("wav: no data chunk")
    if fmt is None:
        raise ValueError("wav: data before fmt chunk")
    lo, hi, csz = chunk
    if hi - lo < csz:
        raise ValueError("wav: truncated data chunk")
    limits.check_decoded_size(csz, "wav data")
    ch, sr, bits = fmt
    frames = np.frombuffer(data, dtype="<i2" if bits == 16 else np.uint8,
                           count=csz // (bits // 8 * ch) * ch, offset=lo)
    mono = frames.reshape(-1, ch).sum(axis=1, dtype=np.int64) // ch
    if bits == 8:  # 8-bit PCM is unsigned; recenter to int16 range
        mono = (mono - 128) << 8
    return sr, ch, array.array("h", mono.astype(np.int16).tobytes())


def _streaminfo_meta(data: bytes):
    """FLAC duration = total samples ÷ sample rate from STREAMINFO, the
    mandatory first block, read by the decoder's own reader
    (miniflac.streaminfo) without its checks: a >16-bit stream sniffs."""
    if len(data) < 26:  # fLaC + block header + the 18 bytes read
        return "flac", None, None, None
    sr, _ch, _bps, total = streaminfo(data[8:26])
    return "flac", None, None, (total * 1000 // sr if sr and total else None)


def _ebml_vint(data: bytes, i: int, keep_marker: bool) -> tuple[int, int]:
    """EBML variable-length integer at data[i:] → (value, next offset).
    Element IDs keep the length-marker bit (matroska convention); sizes
    clear it. (-1, end) on malformed/truncated input."""
    if i >= len(data) or data[i] == 0:
        return -1, len(data)
    first = data[i]
    length = 8 - first.bit_length()  # leading zeros = extra bytes
    if i + 1 + length > len(data):
        return -1, len(data)
    v = first if keep_marker else first & ((1 << (7 - length)) - 1)
    for k in range(length):
        v = (v << 8) | data[i + 1 + k]
    return v, i + 1 + length


def _webm_meta(data: bytes):
    """EBML/Matroska (public spec RFC 8794 + matroska.org element IDs):
    Segment→Info gives TimecodeScale (default 1,000,000 ns) and Duration
    (float, in timecode units); Segment→Tracks→TrackEntry→Video gives
    PixelWidth/PixelHeight."""
    width = height = dur_ms = None
    scale = 1_000_000
    duration = None

    def walk(lo: int, hi: int, depth: int) -> None:
        nonlocal width, height, scale, duration
        i = lo
        while i < hi and depth < 6:
            eid, j = _ebml_vint(data, i, keep_marker=True)
            size, k = _ebml_vint(data, j, keep_marker=False)
            if eid < 0 or size < 0 or k > hi:
                return
            end = min(k + size, hi)
            if eid in (0x18538067, 0x1549A966, 0x1654AE6B, 0xAE, 0xE0):
                walk(k, end, depth + 1)  # Segment/Info/Tracks/TrackEntry/Video
            elif eid == 0x2AD7B1 and end - k <= 8:  # TimecodeScale (uint, ns)
                # bodies past the 8-byte EBML uint max are malformed — an
                # unbounded int here would overflow the float math below
                scale = int.from_bytes(data[k:end], "big") or scale
            elif eid == 0x4489:  # Duration (float32/float64)
                if end - k == 4:
                    duration = struct.unpack(">f", data[k:end])[0]
                elif end - k == 8:
                    duration = struct.unpack(">d", data[k:end])[0]
            elif eid == 0xB0 and end - k <= 8:  # PixelWidth
                width = int.from_bytes(data[k:end], "big") or None
            elif eid == 0xBA and end - k <= 8:  # PixelHeight
                height = int.from_bytes(data[k:end], "big") or None
            i = end
    walk(0, len(data), 0)
    # file-controlled float: inf/nan (or inf after the scale multiply)
    # must sniff as no-duration, not raise OverflowError out of int()
    if duration is not None:
        ms = duration * scale / 1_000_000_000 * 1000
        if 0 <= ms <= 2**62:
            dur_ms = int(ms)
    return "webm", width, height, dur_ms


# MPEG-1 Layer III frame-header tables (ISO 11172-3): bitrate kbps by
# index, sample rate Hz by index. V2/V2.5 halve the sample rate and use
# a different bitrate table — handled via the version field.
_MP3_BITRATE_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
_MP3_BITRATE_V2L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
_MP3_RATES = (44100, 48000, 32000, 0)
_MP3_MAX_FRAMES = 1 << 20


def _mp3_meta(data: bytes):
    """Walk MPEG audio frames (sync-word headers, ISO 11172-3 §2.4.1.3):
    duration = frames × samples_per_frame / sample_rate. ID3v2 prefix
    skipped via its syncsafe size; walk stops at the first non-frame
    byte or the frame cap, reporting what was accumulated."""
    i = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        ssz = ((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14) \
            | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F)
        i = 10 + ssz
        if data[5] & 0x10:  # ID3v2.4 footer flag: 10 more bytes after the body
            i += 10
    total_ms = 0.0
    frames = 0
    n = len(data)
    while i + 4 <= n and frames < _MP3_MAX_FRAMES:
        if data[i] != 0xFF or (data[i + 1] & 0xE0) != 0xE0:
            break
        ver = (data[i + 1] >> 3) & 0x3      # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (data[i + 1] >> 1) & 0x3    # 1=Layer III
        if ver == 1 or layer != 1:
            break
        br_i = (data[i + 2] >> 4) & 0xF
        sr_i = (data[i + 2] >> 2) & 0x3
        padding = (data[i + 2] >> 1) & 0x1
        sr = _MP3_RATES[sr_i]
        if ver == 2:
            sr //= 2
        elif ver == 0:
            sr //= 4
        kbps = (_MP3_BITRATE_V1L3 if ver == 3 else _MP3_BITRATE_V2L3)[br_i]
        if not sr or not kbps:
            break
        spf = 1152 if ver == 3 else 576  # samples per Layer-III frame
        flen = spf // 8 * kbps * 1000 // sr + padding
        if flen <= 4:
            break
        total_ms += spf * 1000.0 / sr
        frames += 1
        i += flen
    return "mp3", None, None, (int(total_ms) if frames else None)


def _ogg_meta(data: bytes):
    """Ogg (RFC 3533): duration = last page's granule position ÷ the
    stream's sample rate. The rate comes from the first page's BOS
    packet: Vorbis identification header (rate at packet offset 12,
    Vorbis I spec §4.2.2) or OpusHead (granules are fixed 48 kHz,
    RFC 7845 §5.1). Unknown codecs report format-only."""
    rate = None
    # first page: header is 27 bytes + seg table; first packet follows
    if len(data) >= 28 and data[:4] == b"OggS":
        nseg = data[26]
        p = 27 + nseg
        if data[p:p + 7] == b"\x01vorbis" and p + 16 <= len(data):
            rate = int.from_bytes(data[p + 12:p + 16], "little") or None
        elif data[p:p + 8] == b"OpusHead":
            rate = 48000
    # Walk pages FORWARD from the start, keeping the last valid granule.
    # rfind(b"OggS") would also match the 4-byte pattern inside compressed
    # packet payloads, yielding a garbage granule (passes the g > 0 and
    # int32 clamps) and a wildly wrong duration. The capture-pattern walk
    # only trusts positions reached through the page-length chain.
    gran = None
    i, n = 0, len(data)
    for _ in range(1_000_000):  # bound: structural pages only
        if i + 27 > n or data[i:i + 4] != b"OggS" or data[i + 4] != 0:
            break
        nseg = data[i + 26]
        if i + 27 + nseg > n:
            break
        g = int.from_bytes(data[i + 6:i + 14], "little", signed=True)
        if g > 0:
            gran = g
        i += 27 + nseg + sum(data[i + 27:i + 27 + nseg])
    dur_ms = int(gran * 1000 // rate) if (rate and gran) else None
    return "ogg", None, None, dur_ms


# recognised format → header reader → (format, width, height, duration_ms)
_AV_META = {
    "mp4": _mp4_meta,
    "wav": _wav_meta,
    "avi": _avi_meta,
    "flac": _streaminfo_meta,
    "ogg": _ogg_meta,
    "webm": _webm_meta,
    "mp3": _mp3_meta,
}


def sniff_av_meta(data: bytes) -> tuple[str, int | None, int | None, int | None]:
    """(format, width, height, duration_ms) for audio/video containers;
    ('unknown', None, None, None) if not recognized. Width/height/duration
    are file-controlled integers: values outside int32 (a crafted avih or
    mvhd can declare ~1.8e16 ms) are reported as None so a downstream
    Arrow int32 cast can never blow up an entire batch on one bad row."""
    meta = _AV_META.get(av_format(data))
    if meta is None:
        return "unknown", None, None, None
    fmt, w, h, dur = meta(data)
    clamp = (lambda v: v if v is not None and 0 <= v < 2**31 else None)
    return fmt, clamp(w), clamp(h), clamp(dur)


# format (as sniff_media_meta names it) → decoder; jobs/run_media.py
# routes each modality by these keys
AUDIO_DECODERS = {"wav": decode_wav_samples, "flac": decode_flac_samples}
VIDEO_DECODERS = {"avi": decode_avi_frames, "mp4": decode_mp4_frames,
                  "gif": decode_gif_frames}


def decode_audio(data: bytes):
    """Audio bytes → (sample_rate, channels, mono int16 samples) by the
    recognised format; any other bytes go to the WAV decoder, whose
    ValueError names them ('wav: bad magic') for per-row containment."""
    return AUDIO_DECODERS.get(av_format(data), decode_wav_samples)(data)


def decode_video(data: bytes):
    """Video bytes → (width, height, gray frames) by the recognised
    format; any other bytes go to the AVI decoder, whose ValueError names
    them. Inter-frame codecs (H.264/VP9) have no from-scratch decoder and
    raise ValueError too."""
    # the AVI/MP4 decoders also return fps before the frames; GIF does not
    w, h, *_fps, frames = VIDEO_DECODERS.get(av_format(data), decode_avi_frames)(data)
    return w, h, frames
