"""Image layer: real image bytes → format, media key and 8-bit gray raster.

The reference's image route accepts jpg/png/bmp/gif/tiff/webp
(`services/document_service.py:652-665`) and feeds them to GPU OCR; this
engine's sandbox-honest counterpart needs the *pixels* for the real-codec
feature path (`ops/multimodal.py`), pixel-statistics queries over carved
media, and the bitmap-glyph OCR (kernels/miniocr.py, which sits on top of
this module). This module recognises every image format from its header
(`sniff_image_meta`), keys image media by content (`image_file_ref`,
`image_media_ref`), and decodes pixels through one format → decoder
table (`DECODERS`). Every decoder is from the public spec, bounded by the
shared caps in kernels/limits.py (`MAX_PIXELS` and `MAX_DECODED_BYTES`,
both read at call time), and returns the same shape:

    (width, height, gray)  with gray = (height, width) uint8 numpy array
                           of ITU-R 601 luma, row-major

Entropy stages (LZW, RLE command streams, Huffman) are serial by nature
and stay scalar; everything after them — palette expansion, bit/nibble
unpacking, BGR/RGB luma, PNG Sub/Up unfilters, TIFF horizontal-
differencing undo, GIF deinterlace and frame composition, the dhash cell
sums — is array arithmetic over whole rows or the whole raster. Consumers
that reduce the raster accumulate in int64/float64 (numpy reductions widen
uint8 automatically); summing a uint8 row with a dtype-preserving op wraps.

* PNG  — this module (W3C PNG: IHDR/PLTE/IDAT, all five scanline
  filters, Adam7)
* JPEG — kernels/minijpeg.decode_jpeg_gray (ITU-T T.81 baseline and
  progressive, Y plane)
* GIF  — this module (GIF89a spec: LZW with variable code width, LSB-first
  packing, interlace passes, global/local palettes; one block walker
  serves the first-frame read and the animation compositor)
* BMP  — this module (BITMAPINFOHEADER BI_RGB 1/4/8/24/32-bit, bottom-up
  or top-down, plus BI_RLE8/BI_RLE4 run-length decompression)
* TIFF — this module (TIFF 6.0 baseline, IFD0: gray/palette/RGB at 1 or
  8 bits/sample, strip layout, Compression 1/5/32773 — LZW is
  kernels/limits._lzw_decode, which realpdf's LZWDecode shares: TIFF
  always packs MSB-first with early change — plus the horizontal
  differencing Predictor)
* WebP — the RIFF container and luma fold here, the lossless VP8L
  bitstream in kernels/miniwebp.decode_vp8l; lossy VP8 raises — a full
  DCT codec is out of from-scratch scope

WMF/EMF/SVG stay header-sniff-only (dims/format without pixels)
— `decode_raster_gray` raises ValueError for them and callers keep the
figure-only path, exactly like any other malformed-input containment.
Nothing here imports a document parser or the OCR module.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import NamedTuple

import numpy as np

from documentconvert_spark.kernels import limits
from documentconvert_spark.kernels.limits import _lzw_decode
from documentconvert_spark.kernels.minijpeg import decode_jpeg_gray
from documentconvert_spark.kernels.miniwebp import decode_vp8l

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_GIF_MAGICS = (b"GIF87a", b"GIF89a")
_TIFF_BYTE_ORDER = {b"II*\x00": "<", b"MM\x00*": ">"}


# ------------------------------------------------------------------ pixels

def luma601(r: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    """ITU-R 601 integer luma, (299 r + 587 g + 114 b) // 1000, as uint8 —
    the one RGB → gray fold every raster decoder shares."""
    acc = r.astype(np.int32) * 299
    acc += g.astype(np.int32) * 587
    acc += b.astype(np.int32) * 114
    return (acc // 1000).astype(np.uint8)


def _palette_luma(pal: bytes) -> np.ndarray:
    """RGB palette bytes → per-index luma; a trailing partial entry is
    dropped (callers length-check against the declared count)."""
    p = np.frombuffer(pal, dtype=np.uint8, count=len(pal) // 3 * 3).reshape(-1, 3)
    return luma601(p[:, 0], p[:, 1], p[:, 2])


def _indexed(ix: np.ndarray, pal: np.ndarray, what: str) -> np.ndarray:
    """Palette indices → luma, rejecting any index past the palette."""
    if int(ix.max()) >= len(pal):
        raise ValueError(f"{what}: pixel index out of palette")
    return pal[ix]


_MID = np.zeros(256, dtype=bool)  # 32 < gray < 224: neither ink nor paper
_MID[33:224] = True


def _count_mid(gray) -> int:
    """Mid-gray pixels in a row, a palette or a whole raster."""
    return int(np.count_nonzero(_MID[np.asarray(gray, dtype=np.uint8)]))


class _BimodalGate:
    """Streaming antialiasing gate (r4): accumulate mid-gray vs total
    pixels scanline by scanline and abort as soon as mid-gray pixels
    exceed HALF of everything seen. A photo or gradient is majority-mid
    from its very first row, so it still bails after ~one scanline (the
    old any-mid-pixel rule's perf contract); an antialiased text render
    keeps mid-gray on stroke edges only (measured ≤0.39 cumulative at
    margin 8, worst case incl. all-dash lines), so it decodes through to
    the post-threshold exact grid matcher. A per-ROW majority rule would
    not work: a blurred 2-px stroke row is 100% mid-gray — only the
    cumulative fraction separates the classes. Requires the render to
    lead with background margin (ours use ≥4 px); a margin-0 crop may
    bail to figure-only, which is the documented exact-or-nothing
    containment, not a wrong answer.

    The cumulative rule alone never trips for a photo whose leading
    margin (letterbox, blown-out sky) outweighs its mid content, which
    would silently downgrade the ~one-scanline perf contract to a full
    decode. A RUN rule bounds that: _MAX_MID_RUN consecutive
    majority-mid scanlines abort regardless of the cumulative fraction.
    Text renders can't hit it — a majority-mid band is at most a blurred
    glyph line (~glyph height + blur, ≤12 rows at render scale) before a
    background gap resets the run — while any photo band trips it within
    a fixed number of rows after the margin ends."""

    _MAX_MID_RUN = 24

    def __init__(self) -> None:
        self.mid = 0
        self.total = 0
        self.run = 0

    def feed(self, rows) -> bool:
        """Accumulate one scanline (1-D) or a block of scanlines (2-D,
        in order); False = photo/gradient so far, abort. A block verdict
        equals feeding its rows one by one and stopping at the first
        False."""
        a = np.asarray(rows, dtype=np.uint8)
        if a.ndim == 1:
            a = a[None, :]
        width = a.shape[1]
        for m in np.count_nonzero(_MID[a], axis=1).tolist():
            self.mid += m
            self.total += width
            # width >= 8 keeps sparse Adam7 pass rows from flapping the run
            if width >= 8 and m * 2 > width:
                self.run += 1
                if self.run >= self._MAX_MID_RUN:
                    return False
            else:
                self.run = 0
            if self.mid * 2 > self.total:
                return False
        return True


# ------------------------------------------------------------------ sniff

def image_media_ref(raw_stream: bytes) -> str:
    """Stable figure key for a PDF Image XObject. Single definition shared
    by realpdf's figure spans and the media side table — span ⋈ media join
    integrity (J3) depends on both sides computing the identical key."""
    return hashlib.sha1(raw_stream[:4096]).hexdigest()[:12] + ".jpg"


_IMG_EXT = {"jpeg": "jpg", "png": "png", "gif": "gif", "bmp": "bmp",
            "tiff": "tiff", "svg": "svg", "webp": "webp"}


def image_file_ref(content: bytes, fmt: str) -> str:
    """Stable media_ref for a standalone image DOCUMENT (the reference
    accepts raw jpg/png/bmp/tiff/webp inputs and OCRs them,
    services/document_service.py:826-907). Same hashing shape as
    image_media_ref so every media key in the engine is content-derived."""
    ext = _IMG_EXT.get(fmt, "img")
    return hashlib.sha1(content[:4096]).hexdigest()[:12] + f".{ext}"


# every format name sniff_image_meta gives besides "unknown"
IMAGE_FORMATS = ("png", "jpeg", "gif", "bmp", "svg", "tiff", "wmf", "emf", "webp")


def sniff_image_meta(data: bytes) -> tuple[str, int | None, int | None]:
    """(format, width, height) from the file header alone. Dimensions
    are file-controlled: values outside (0, 2**31) become None at this
    boundary — same int32-safety contract as sniff_av_meta, so a crafted
    header can never blow a downstream Arrow cast."""
    fmt, w, h = _sniff_image_meta_raw(data)
    w = w if (w is not None and 0 < w < 2**31) else None
    h = h if (h is not None and 0 < h < 2**31) else None
    return fmt, w, h


def _sniff_image_meta_raw(data: bytes) -> tuple[str, int | None, int | None]:
    if data[:8] == _PNG_MAGIC and len(data) >= 24 and data[12:16] == b"IHDR":
        w, h = struct.unpack_from(">II", data, 16)
        return "png", w, h
    if data[:2] == b"\xff\xd8":  # JPEG: scan segments for SOFn
        i = 2
        n = len(data)
        while i + 4 <= n and data[i] == 0xFF:
            marker = data[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            (seg_len,) = struct.unpack_from(">H", data, i + 2)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= n:
                    h, w = struct.unpack_from(">HH", data, i + 5)
                    return "jpeg", w, h
                break
            i += 2 + seg_len
        return "jpeg", None, None
    if data[:6] in _GIF_MAGICS and len(data) >= 10:
        w, h = struct.unpack_from("<HH", data, 6)
        return "gif", w, h
    if data[:2] == b"BM" and len(data) >= 26:
        w, h = struct.unpack_from("<ii", data, 18)
        return "bmp", abs(w), abs(h)
    head = data[:1024]  # an XML prolog is SVG only with <svg in the same KiB
    if head.lstrip()[:4] == b"<svg" or (data[:5] == b"<?xml" and b"<svg" in head):
        return "svg", None, None
    if bytes(data[:4]) in _TIFF_BYTE_ORDER:
        return ("tiff",) + _tiff_dims(data)
    if data[:4] == b"\xd7\xcd\xc6\x9a":
        # placeable WMF (Aldus header): bounding box in twips + twips/inch
        # → pixel dims at 96 dpi; a bare WMF below has no size record
        if len(data) >= 18:
            left, top, right, bottom, inch = struct.unpack_from("<4hH", data, 6)
            if inch > 0:
                w = abs(right - left) * 96 // inch
                h = abs(bottom - top) * 96 // inch
                if 0 < w < 2**31 and 0 < h < 2**31:
                    return "wmf", w, h
        return "wmf", None, None
    if data[:4] in (b"\x01\x00\x09\x00", b"\x02\x00\x09\x00"):
        return "wmf", None, None
    if len(data) >= 44 and data[:4] == b"\x01\x00\x00\x00" and data[40:44] == b" EMF":
        # MS-EMF header: rclBounds (device px, inclusive) at offset 8
        l_, t_, r_, b_ = struct.unpack_from("<4i", data, 8)
        w, h = r_ - l_ + 1, b_ - t_ + 1
        if 0 < w < 2**31 and 0 < h < 2**31:
            return "emf", w, h
        return "emf", None, None
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP" and len(data) >= 30:
        chunk = data[12:16]
        if chunk == b"VP8 " and len(data) >= 30:  # lossy: frame header dims
            w = struct.unpack_from("<H", data, 26)[0] & 0x3FFF
            h = struct.unpack_from("<H", data, 28)[0] & 0x3FFF
            return "webp", w, h
        if chunk == b"VP8L" and len(data) >= 25:  # lossless bitstream dims
            (bits,) = struct.unpack_from("<I", data, 21)
            return "webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        if chunk == b"VP8X" and len(data) >= 30:  # extended: canvas size
            w = int.from_bytes(data[24:27], "little") + 1
            h = int.from_bytes(data[27:30], "little") + 1
            return "webp", w, h
        return "webp", None, None
    return "unknown", None, None


# ------------------------------------------------------------------ PNG

def _unfilter_serial(line: np.ndarray, prev: np.ndarray, bpp: int,
                     paeth: bool) -> np.ndarray:
    """Average / Paeth unfilter (PNG §9.2). Each byte depends on the
    already-reconstructed byte bpp to its left through a floor or a
    three-way choice, so there is no exact array form: this recurrence is
    the one serial loop left in the PNG row unfilter."""
    x = line.tolist()
    p = prev.tolist()
    for i in range(len(x)):
        a = x[i - bpp] if i >= bpp else 0
        if paeth:
            b = p[i]
            c = p[i - bpp] if i >= bpp else 0
            est = a + b - c
            pa, pb, pc = abs(est - a), abs(est - b), abs(est - c)
            pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
        else:
            pred = (a + p[i]) >> 1
        x[i] = (x[i] + pred) & 0xFF
    return np.array(x, dtype=np.uint8)


def _unfilter(ftype: int, line: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Reverse one PNG scanline filter (spec §9.2) given the previous
    reconstructed row of the same length — the PNG decoder's and the PDF
    /Predictor ≥ 10 streams' one implementation. Sub is a per-channel
    running sum and Up one add; Average and Paeth take the serial loop."""
    if ftype == 1:  # Sub: per-channel running sum, mod 256
        return np.cumsum(line.reshape(-1, bpp), axis=0, dtype=np.uint8).reshape(-1)
    if ftype == 2:  # Up
        return line + prev
    if ftype == 3 or ftype == 4:  # Average / Paeth
        return _unfilter_serial(line, prev, bpp, ftype == 4)
    if ftype != 0:
        raise ValueError("png: unknown filter type")
    return line


def decode_png_gray(data: bytes, bilevel: bool = False) -> tuple[int, int, np.ndarray]:
    """PNG bytes → (width, height, (height, width) uint8 gray raster).

    Full PNG pixel matrix (W3C PNG spec): color types 0 (gray), 2 (RGB),
    3 (palette + PLTE), 4 (gray+alpha), 6 (RGBA); bit depths 1/2/4/8/16
    where the spec allows them; all five scanline filters; sequential
    and Adam7-interlaced layouts. Alpha is ignored (luma output); 16-bit
    samples fold to their high byte.

    With bilevel=True the decode is an OCR pre-filter: inflation is
    streamed row by row through the cumulative-majority _BimodalGate
    and ABORTS once mid-gray pixels outweigh everything seen (or a
    bounded run of majority-mid scanlines lands — a letterboxed photo).
    A photo (the overwhelming majority of real-world PNGs) fails within
    its first scanlines, so the extraction hot path pays a handful of
    rows per non-text PNG instead of a full raster decode; an
    ANTIALIASED text render — mid-gray confined to stroke edges — passes
    through to the post-threshold exact grid matcher."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("png: bad magic")
    pos = 8
    w = h = ct = -1
    depth = inter = 0
    plte: bytes | None = None
    idat: list[bytes] = []
    while pos + 8 <= len(data):
        (ln,), typ = struct.unpack(">I", data[pos:pos + 4]), data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        if len(body) < ln:
            raise ValueError("png: truncated chunk")
        if typ == b"IHDR":
            w, h, depth, ct, comp, filt, inter = struct.unpack(">IIBBBBB", body[:13])
            if (depth not in (1, 2, 4, 8, 16) or ct not in (0, 2, 3, 4, 6)
                    or comp or filt or inter not in (0, 1)
                    or (depth < 8 and ct not in (0, 3))
                    or (depth == 16 and ct == 3)):
                raise ValueError("png: unsupported IHDR shape")
            # charge-on-sight, before the IDAT inflate
            if w <= 0 or h <= 0 or w * h > limits.MAX_PIXELS:
                raise ValueError("png: dimensions over cap")
        elif typ == b"PLTE":
            plte = bytes(body)
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + crc
    if w < 0 or not idat:
        raise ValueError("png: missing IHDR/IDAT")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ct]
    pal: np.ndarray | None = None
    if ct == 3:
        if plte is None or len(plte) < 3:
            raise ValueError("png: palette image without PLTE")
        pal = _palette_luma(plte)
    bits_pp = depth * channels
    bpp = max(1, bits_pp // 8)  # filter unit (spec §9: 1 byte when <8 bits)
    if (w * bits_pp // 8 + 2) * h > limits.MAX_DECODED_BYTES:
        raise ValueError("png: raster over decode cap")
    d = zlib.decompressobj()
    src = memoryview(b"".join(idat))
    src_pos = 0
    buf = bytearray()
    _SLICE = 65536

    def pull(n: int) -> bytes:
        # stream exactly n inflated bytes (max_length caps each step), so
        # a bilevel abort never pays for the rest of the raster. Input is
        # fed in bounded slices: zlib copies unconsumed_tail back out on
        # every re-feed, so handing it the WHOLE remaining IDAT once and
        # re-feeding the tail per row is O(rows × IDAT) — measured 13× on
        # a 4 MP bilevel image; slices keep the tail ≤ 64 KB.
        nonlocal src_pos
        while len(buf) < n:
            if d.unconsumed_tail:
                chunk = d.decompress(d.unconsumed_tail, n - len(buf))
            elif src_pos < len(src):
                chunk = d.decompress(src[src_pos:src_pos + _SLICE], n - len(buf))
                src_pos += _SLICE
            else:
                raise ValueError("png: truncated raster")
            if not chunk and not d.unconsumed_tail and src_pos >= len(src):
                raise ValueError("png: truncated raster")
            buf.extend(chunk)
        out = bytes(buf[:n])
        del buf[:n]
        return out

    scale = 255 // ((1 << depth) - 1) if depth < 8 else 1
    gate = _BimodalGate()  # cumulative across rows (and Adam7 passes)
    # sub-byte samples, MSB-first: per-byte shifts for one row-wide unpack
    shifts = np.arange(8 - depth, -1, -depth, dtype=np.uint8) if depth < 8 else None

    def to_gray(line: np.ndarray, npx: int) -> np.ndarray:
        if depth < 8:  # sub-byte gray or palette indices
            vals = ((line[:, None] >> shifts) & ((1 << depth) - 1)).reshape(-1)[:npx]
            if ct == 3:
                if int(vals.max()) >= len(pal):
                    raise ValueError("png: index out of palette")
                return pal[vals]
            return vals * np.uint8(scale)
        step = bits_pp // 8
        if ct == 0:
            return line[:npx] if depth == 8 else line[0:npx * 2:2]
        if ct == 3:
            idx = line[:npx]
            if int(idx.max()) >= len(pal):
                raise ValueError("png: index out of palette")
            return pal[idx]
        if ct == 4:  # gray + alpha: gray sample leads
            return line[0:npx * step:step]
        cstep = depth // 8  # RGB(A): luma over the three color samples
        return luma601(line[0:npx * step:step], line[cstep::step][:npx],
                       line[2 * cstep::step][:npx])

    def unfilter_rows(pw: int, ph: int):
        """Yield unfiltered gray rows of a (sub)image pw×ph."""
        stride = (pw * bits_pp + 7) // 8
        prev = np.zeros(stride, dtype=np.uint8)
        for _y in range(ph):
            rowbytes = pull(stride + 1)
            prev = _unfilter(rowbytes[0], np.frombuffer(rowbytes, dtype=np.uint8, offset=1),
                             prev, bpp)
            gray = to_gray(prev, pw)
            if bilevel and not gate.feed(gray):
                raise ValueError("png: not a bilevel text render")
            yield gray

    raster = np.zeros((h, w), dtype=np.uint8)
    if not inter:
        for y, gray in enumerate(unfilter_rows(w, h)):
            raster[y] = gray
        return w, h, raster
    # Adam7: seven passes, each an independently filtered sub-image
    for x0, y0, dx, dy in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                           (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                           (0, 1, 1, 2)):
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for py, gray in enumerate(unfilter_rows(pw, ph)):
            # strided row slice: len(row[x0::dx]) == pw exactly
            raster[y0 + py * dy, x0::dx] = gray
    return w, h, raster


# ------------------------------------------------------------------ GIF

_MAX_GIF_FRAMES = 4096


def _interlace_order(h: int) -> np.ndarray:
    """GIF interlace: stored row i is display row order[i] (4 passes)."""
    return np.array(list(range(0, h, 8)) + list(range(4, h, 8))
                    + list(range(2, h, 4)) + list(range(1, h, 2)))


def _gif_lzw(blocks: bytes, min_code: int, max_out: int) -> bytearray:
    """GIF-variant LZW (LSB-first bit packing, variable 3–12 bit codes,
    clear/end codes) — distinct from the PDF/TIFF LZW in limits, which
    packs MSB-first with earlyChange semantics."""
    if not 2 <= min_code <= 11:
        raise ValueError("gif: bad LZW min code size")
    clear = 1 << min_code
    end = clear + 1
    out = bytearray()
    # dictionary: index → (prefix_index, last_byte); roots are (-1, i)
    prefix: list[int] = []
    suffix: list[int] = []

    def reset() -> tuple[int, int]:
        del prefix[:]
        del suffix[:]
        for i in range(clear):
            prefix.append(-1)
            suffix.append(i)
        prefix.extend((-1, -1))  # clear, end placeholders
        suffix.extend((0, 0))
        return min_code + 1, -1

    width, prev = reset()
    acc = 0
    nbits = 0
    first_of_prev = 0
    expand = bytearray(4096)  # scratch for expanding one chain
    for byte in blocks:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                width, prev = reset()
                continue
            if code == end:
                return out
            if prev == -1:
                if code >= len(prefix):
                    raise ValueError("gif: bad first code")
                out.append(suffix[code])
                prev, first_of_prev = code, suffix[code]
                continue
            if code > len(prefix):
                raise ValueError("gif: code out of range")
            # expand the chain for `code` (KwKwK case uses prev + first)
            if code == len(prefix):
                chain_code, extra = prev, first_of_prev
            else:
                chain_code, extra = code, -1
            n = 0
            c = chain_code
            while c >= 0:
                if n >= 4096:
                    raise ValueError("gif: corrupt chain")
                expand[n] = suffix[c]
                n += 1
                c = prefix[c]
            first = expand[n - 1]
            out.extend(expand[n - 1::-1])
            if extra >= 0:
                out.append(extra)
            if len(out) > max_out:
                raise ValueError("gif: decoded size over cap")
            if len(prefix) < 4096:
                prefix.append(prev)
                suffix.append(first)
                if len(prefix) == (1 << width) and width < 12:
                    width += 1
            prev = chain_code if extra < 0 else code
            first_of_prev = first
    return out  # missing end code: tolerate (common in the wild)


def _gif_screen(data: bytes) -> tuple[int, int, int]:
    """Header check → (canvas width, canvas height, background index)."""
    if data[:6] not in _GIF_MAGICS or len(data) < 13:
        raise ValueError("gif: bad magic")
    w, h = struct.unpack_from("<HH", data, 6)
    return w, h, data[11]


def _gif_palette(data: bytes, pos: int, flags: int, which: str) -> np.ndarray | None:
    """The color table a screen or image descriptor's flags declare at
    data[pos:], as luma per index; None when they declare none."""
    if not flags & 0x80:
        return None
    n = 2 << (flags & 7)
    pal = _palette_luma(data[pos:pos + 3 * n])
    if len(pal) < n:
        raise ValueError(f"gif: truncated {which} palette")
    return pal


class _GifImage(NamedTuple):
    """One image record as stored, nothing past its descriptor checked,
    with the Graphic Control Extension that preceded it."""

    left: int
    top: int
    w: int
    h: int
    flags: int  # descriptor packed byte: local palette, interlace
    palette_pos: int
    min_code: int | None  # None: the file ends before the image data
    lzw: bytes  # the data sub-blocks, concatenated
    disposal: int
    transparent: int | None


def _gif_images(data: bytes, strict: bool):
    """The one GIF block walker: from the first block after the global
    palette, skip extensions (reading the Graphic Control block) and
    yield each image record up to the trailer; callers check each record
    in their own order. A truncated extension raises when strict;
    otherwise it ends the walk, since nothing after it can be an image."""
    pos = 13 + ((6 << (data[10] & 7)) if data[10] & 0x80 else 0)
    disposal = 0
    transparent: int | None = None
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            return
        if b == 0x21:  # extension: label + sub-blocks
            if pos + 2 > len(data):
                if strict:
                    raise ValueError("gif: truncated extension")
                return
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and pos < len(data) and data[pos] >= 4:
                if pos + 5 > len(data):
                    if strict:
                        raise ValueError("gif: truncated graphic control block")
                    return
                gce = data[pos + 1]
                disposal = (gce >> 2) & 7
                transparent = data[pos + 4] if gce & 1 else None
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError("gif: unknown block")
        if pos + 10 > len(data):
            raise ValueError("gif: truncated image descriptor")
        left, top, w, h = struct.unpack_from("<HHHH", data, pos + 1)
        flags = data[pos + 9]
        palette_pos = pos + 10
        pos = palette_pos + ((6 << (flags & 7)) if flags & 0x80 else 0)
        min_code = data[pos] if pos < len(data) else None
        pos += 1
        parts = []
        while pos < len(data) and data[pos]:
            parts.append(data[pos + 1:pos + 1 + data[pos]])
            pos += 1 + data[pos]
        pos += 1  # data terminator
        yield _GifImage(left, top, w, h, flags, palette_pos, min_code,
                        b"".join(parts), disposal, transparent)
        disposal = 0
        transparent = None


def _gif_image_palette(data: bytes, img: _GifImage, gct: np.ndarray | None) -> np.ndarray:
    """The image's local color table, else the global one."""
    pal = _gif_palette(data, img.palette_pos, img.flags, "local")
    if pal is None and gct is None:
        raise ValueError("gif: no palette")
    return gct if pal is None else pal


def _gif_indices(img: _GifImage) -> np.ndarray:
    """An image record's LZW data → (h, w) palette indices in display
    row order."""
    if img.min_code is None:
        raise ValueError("gif: truncated image data")
    n = img.w * img.h
    idx = _gif_lzw(img.lzw, img.min_code, n)
    if len(idx) < n:
        raise ValueError("gif: short pixel data")
    sub = np.frombuffer(idx, dtype=np.uint8, count=n).reshape(img.h, img.w)
    if img.flags & 0x40:  # interlaced: rows arrive in 4 passes
        deint = np.empty_like(sub)
        deint[_interlace_order(img.h)] = sub
        sub = deint
    return sub


def decode_gif_gray(data: bytes) -> tuple[int, int, np.ndarray]:
    """First image of a GIF → (h, w) uint8 gray raster."""
    _gif_screen(data)
    gct = _gif_palette(data, 13, data[10], "global")
    for img in _gif_images(data, strict=False):
        pal = _gif_image_palette(data, img, gct)
        w, h = img.w, img.h
        if (w <= 0 or h <= 0 or w * h > limits.MAX_PIXELS
                or w * h > limits.MAX_DECODED_BYTES):
            raise ValueError("gif: dimensions over cap")
        return w, h, _indexed(_gif_indices(img), pal, "gif")
    raise ValueError("gif: no image data")


def decode_gif_frames(data: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Animated GIF → full-canvas gray snapshots, one per frame, with the
    GIF89a composition model: sub-region images placed at (left, top),
    transparency holes keeping the underlying pixels, and the Graphic
    Control disposal methods (1 = leave, 2 = restore region to the
    background color, 3 = restore the previous canvas). Frame count and
    total snapshot bytes are budget-capped before allocation."""
    w, h, bg_index = _gif_screen(data)
    if w <= 0 or h <= 0 or w * h > limits.MAX_PIXELS:
        raise ValueError("gif: dimensions over cap")
    gct = _gif_palette(data, 13, data[10], "global")
    bg = int(gct[bg_index]) if gct is not None and bg_index < len(gct) else 255
    canvas = np.full((h, w), bg, dtype=np.uint8)
    frames: list[np.ndarray] = []
    for img in _gif_images(data, strict=True):
        if img.w <= 0 or img.h <= 0 or img.left + img.w > w or img.top + img.h > h:
            raise ValueError("gif: frame region outside canvas")
        pal = _gif_image_palette(data, img, gct)
        sub = _gif_indices(img)
        vals = _indexed(sub, pal, "gif")
        if len(frames) >= _MAX_GIF_FRAMES:
            raise ValueError("gif: frame count over cap")
        if (len(frames) + 1) * w * h > limits.MAX_DECODED_BYTES:
            raise ValueError("gif: animation over decode cap")
        saved = canvas.copy() if img.disposal == 3 else None
        region = canvas[img.top:img.top + img.h, img.left:img.left + img.w]
        if img.transparent is None:
            region[:] = vals
        else:  # transparency holes keep the underlying pixels
            drawn = sub != img.transparent
            region[drawn] = vals[drawn]
        frames.append(canvas.copy())
        if img.disposal == 2:  # restore region to background
            region[:] = bg
        elif img.disposal == 3:
            canvas = saved
    if not frames:
        raise ValueError("gif: no image data")
    return w, h, frames


# ------------------------------------------------------------------ BMP

def decode_bmp_gray(data: bytes) -> tuple[int, int, np.ndarray]:
    """BMP → (h, w) uint8 gray raster: BI_RGB (1/4/8-bit palette,
    24/32-bit) and the BI_RLE8/BI_RLE4 run-length modes (encoded runs,
    absolute literals, end-of-line/bitmap escapes and position deltas)."""
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("bmp: bad magic")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError("bmp: unsupported header")
    w, h_signed = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (comp,) = struct.unpack_from("<I", data, 30)
    (clr_used,) = struct.unpack_from("<I", data, 46)
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if comp not in (0, 1, 2, 3):
        raise ValueError("bmp: compressed BMP unsupported")
    if comp in (1, 2) and (bpp != (8 if comp == 1 else 4) or top_down):
        # BI_RLE8 requires 8bpp, BI_RLE4 4bpp, both bottom-up (MS spec)
        raise ValueError("bmp: invalid RLE shape")
    if bpp not in (1, 4, 8, 24, 32):
        raise ValueError("bmp: unsupported bit depth")
    if comp == 3 and bpp == 32:
        masks = struct.unpack_from("<III", data, 54)
        if masks != (0x00FF0000, 0x0000FF00, 0x000000FF):
            raise ValueError("bmp: nonstandard bitfields")
    elif comp == 3:
        raise ValueError("bmp: bitfields only supported at 32bpp")
    if (w <= 0 or h <= 0 or w * h > limits.MAX_PIXELS
            or w * h > limits.MAX_DECODED_BYTES):
        raise ValueError("bmp: dimensions over cap")
    pal: np.ndarray | None = None
    if bpp <= 8:
        n = clr_used or (1 << bpp)
        if n > 1 << bpp:
            raise ValueError("bmp: palette over depth")
        pal_off = 14 + hdr_size
        pal_bytes = data[pal_off:pal_off + 4 * n]
        if len(pal_bytes) < 4 * n:
            raise ValueError("bmp: truncated palette")
        bgrx = np.frombuffer(pal_bytes, dtype=np.uint8).reshape(n, 4)
        pal = luma601(bgrx[:, 2], bgrx[:, 1], bgrx[:, 0])
    if comp in (1, 2):  # RLE8 / RLE4 (Microsoft BMP spec §RLE)
        idx = np.zeros((h, w), dtype=np.uint8)  # skipped pixels = index 0
        x = y = 0  # y counts from the BOTTOM row (RLE is bottom-up)
        i = pix_off
        n = len(data)
        ended = False  # spec requires the end-of-bitmap escape; a stream
        # that runs out without it is truncated, not an all-zero image
        while i + 1 < n:
            c, v = data[i], data[i + 1]
            i += 2
            if c:  # encoded run: one index, or two alternating nibbles
                if y < h and x < w:
                    run = min(c, w - x)
                    idx[y, x:x + run] = v if comp == 1 else np.resize(
                        np.array((v >> 4, v & 15), dtype=np.uint8), run)
                x += c
            elif v == 0:  # end of line
                x, y = 0, y + 1
            elif v == 1:  # end of bitmap
                ended = True
                break
            elif v == 2:  # delta: skip right/up
                if i + 2 > n:
                    raise ValueError("bmp: truncated RLE delta")
                x += data[i]
                y += data[i + 1]
                i += 2
            else:  # absolute mode: v literal indices, word-aligned
                nbytes = ((v + 1) & ~1) if comp == 1 else ((v + 3) // 4) * 2
                chunk = np.frombuffer(data[i:i + nbytes], dtype=np.uint8)
                if len(chunk) < nbytes:
                    raise ValueError("bmp: truncated RLE literals")
                if y < h and x < w:
                    lits = chunk if comp == 1 else _nibbles(chunk)
                    idx[y, x:x + v] = lits[:min(v, w - x)]
                x += v
                i += nbytes
        if not ended:
            raise ValueError("bmp: truncated pixel data")
        return w, h, _indexed(idx[::-1], pal, "bmp")
    gray = dib_gray(data, pix_off, w, h, bpp, top_down, pal)
    if gray is None:
        raise ValueError("bmp: truncated pixel data")
    return w, h, gray


def dib_gray(buf: bytes, offset: int, w: int, h: int, bpp: int,
             top_down: bool = False, pal: np.ndarray | None = None) -> np.ndarray | None:
    """BI_RGB DIB pixel rows (a BMP's, an AVI frame's) at buf[offset:]
    → (h, w) luma: 4-byte-padded rows, bottom-up unless top_down, B,G,R[,X]
    or `pal` indices. None when buf is short; callers name the error."""
    stride = ((bpp * w + 31) // 32) * 4
    if offset + stride * h > len(buf):
        return None
    lines = np.frombuffer(buf, dtype=np.uint8, count=stride * h,
                          offset=offset).reshape(h, stride)
    if not top_down:
        lines = lines[::-1]
    if bpp == 24 or bpp == 32:
        px = lines[:, :w * (bpp // 8)].reshape(h, w, bpp // 8)
        return luma601(px[:, :, 2], px[:, :, 1], px[:, :, 0])
    if bpp == 8:
        ix = lines[:, :w]
    elif bpp == 4:
        ix = _nibbles(lines)[:, :w]
    else:  # 1-bit, MSB-first
        ix = np.unpackbits(lines, axis=1)[:, :w]
    return _indexed(ix, pal, "bmp")


def _nibbles(a: np.ndarray) -> np.ndarray:
    """Packed 4-bit indices, high nibble first, along the last axis."""
    return np.stack((a >> 4, a & 15), axis=-1).reshape(*a.shape[:-1], -1)


# ------------------------------------------------------------------ TIFF

def _packbits(raw: bytes, cap: int) -> bytes:
    """Apple PackBits (TIFF 6.0 §9). Differs from PDF RunLengthDecode in
    one byte: 128 is a no-op here, EOD there — so realpdf's RLE decoder
    would truncate a strip whose literal runs happen to emit 0x80."""
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        b = raw[i]
        if b < 128:
            out += raw[i + 1:i + 2 + b]
            i += 2 + b
        elif b > 128:
            out += raw[i + 1:i + 2] * (257 - b)
            i += 2
        else:
            i += 1  # 0x80: no-op
        if len(out) > cap:
            raise ValueError("tiff: packbits over cap")
    return bytes(out)


_TIFF_TYPES = {1: ("B", 1), 3: ("H", 2), 4: ("I", 4)}  # BYTE / SHORT / LONG


def _tiff_entries(data: bytes, strict: bool, tags: tuple[int, ...] | None = None):
    """The one IFD0 walker: (tag, type, count, values) per BYTE/SHORT/LONG
    entry (only those in `tags`, when given), by the value-or-offset rule
    (≤4 payload bytes sit in the entry). A payload outside the file raises
    when strict (the decoder), else has values None (the sniff); a
    truncated IFD raises either way."""
    end = _TIFF_BYTE_ORDER.get(bytes(data[:4]))
    if end is None:
        raise ValueError("tiff: bad magic")
    try:
        (ifd,) = struct.unpack_from(end + "I", data, 4)
        (count,) = struct.unpack_from(end + "H", data, ifd)
        for k in range(min(count, 256)):
            e = ifd + 2 + 12 * k
            tag, typ, cnt = struct.unpack_from(end + "HHI", data, e)
            if tags is not None and tag not in tags:
                continue
            if typ not in _TIFF_TYPES or cnt == 0 or cnt > 1 << 20:
                continue
            code, size = _TIFF_TYPES[typ]
            nbytes = size * cnt
            try:
                off = e + 8
                if nbytes > 4:
                    (off,) = struct.unpack_from(end + "I", data, e + 8)
                if off + nbytes > len(data):
                    raise ValueError("tiff: entry payload out of file")
            except (ValueError, struct.error):
                if strict:
                    raise
                yield tag, typ, cnt, None
                continue
            yield tag, typ, cnt, list(struct.unpack_from(f"{end}{cnt}{code}", data, off))
    except (struct.error, IndexError):
        raise ValueError("tiff: truncated IFD")


def _tiff_ifd0(data: bytes) -> dict[int, list[int]]:
    """First IFD → {tag: values} for the baseline tags the decoder reads."""
    return {tag: vals for tag, _typ, _cnt, vals in _tiff_entries(data, strict=True)}


def _tiff_dims(data: bytes) -> tuple[int | None, int | None]:
    """The sniff's IFD0 read: ImageWidth (256) / ImageLength (257) from
    a SHORT or LONG count-1 entry only (with count != 1 the field holds
    a file OFFSET); a truncated IFD → (None, None)."""
    dims = {}
    try:
        for tag, typ, cnt, vals in _tiff_entries(data, strict=False, tags=(256, 257)):
            if typ != 1 and cnt == 1:
                if vals is None:  # the value itself lies past the end
                    return None, None
                if 0 < vals[0] < 2**31:  # file-controlled: keep int32 casts safe
                    dims[tag] = vals[0]
    except ValueError:
        return None, None
    return dims.get(256), dims.get(257)


def _tiff_palette(tags: dict[int, list[int]]) -> np.ndarray | None:
    """A palette image's ColorMap planes (16-bit R, G, B × 256) → 8-bit
    luma per index; None unless Photometric is 3 with a full map."""
    cmap = tags.get(320)
    if tags.get(262, [1])[0] != 3 or not cmap or len(cmap) != 3 * 256:
        return None
    c = np.array(cmap, dtype=np.uint32) >> 8
    return luma601(c[:256], c[256:512], c[512:])


def decode_tiff_gray(data: bytes, bilevel: bool = False) -> tuple[int, int, np.ndarray]:
    """Baseline TIFF 6.0 (first IFD) → (h, w) uint8 gray raster.

    Supported: both byte orders; PhotometricInterpretation 0/1 (gray,
    either polarity), 2 (RGB, chunky), 3 (palette); BitsPerSample 1 or
    8; strip layout (RowsPerStrip default = whole image); Compression
    1 (none), 5 (LZW, MSB-first + early change like the PDF filter, plus
    Predictor 2 horizontal differencing), 32773 (PackBits). Anything
    else — tiles, planar, 16-bit, JPEG-in-TIFF — raises ValueError and
    callers keep the figure-only containment path.

    With bilevel=True (the OCR pre-filter) decoding ABORTS at the first
    strip containing a majority-mid-gray row, so a multi-strip photo
    pays one strip of decode instead of the full raster (single-strip
    photos still pay their strip — the per-strip decode caps bound
    that); antialiased text renders, whose mid-gray sits only on stroke
    edges, decode through."""
    tags = _tiff_ifd0(data)
    try:
        w = tags[256][0]
        h = tags[257][0]
        offs = tags[273]
        counts = tags[279]
    except KeyError:
        raise ValueError("tiff: missing required tag")
    if (w <= 0 or h <= 0 or w * h > limits.MAX_PIXELS
            or w * h > limits.MAX_DECODED_BYTES):
        raise ValueError("tiff: dimensions over cap")
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    bps_list = tags.get(258, [1])
    spp = tags.get(277, [1])[0]
    pred = tags.get(317, [1])[0]
    rps = tags.get(278, [h])[0] or h
    if tags.get(284, [1])[0] != 1:
        raise ValueError("tiff: planar configuration unsupported")
    if len(set(bps_list)) != 1:
        raise ValueError("tiff: mixed bits per sample")
    bps = bps_list[0]
    if comp not in (1, 5, 32773):
        raise ValueError(f"tiff: compression {comp} unsupported")
    if pred not in (1, 2) or (pred == 2 and bps != 8):
        raise ValueError("tiff: predictor unsupported")
    if photo in (0, 1, 3):
        if spp != 1:
            raise ValueError("tiff: extra samples unsupported")
        if bps not in (1, 8) or (photo == 3 and bps != 8):
            raise ValueError("tiff: bits per sample unsupported")
    elif photo == 2:
        if spp != 3 or bps != 8:
            raise ValueError("tiff: non-8-bit RGB unsupported")
    else:
        raise ValueError(f"tiff: photometric {photo} unsupported")
    pal = _tiff_palette(tags)
    if photo == 3 and pal is None:
        raise ValueError("tiff: missing/short color map")
    if len(offs) != len(counts):
        raise ValueError("tiff: strip offsets/counts mismatch")
    stride = (w * spp * bps + 7) // 8
    strips: list[np.ndarray] = []
    done = 0
    gate = _BimodalGate()
    for si, (so, sc) in enumerate(zip(offs, counts)):
        if so + sc > len(data) or sc > limits.MAX_DECODED_BYTES:
            raise ValueError("tiff: strip out of file")
        nrows = min(rps, h - si * rps)
        if nrows <= 0:
            break
        raw = bytes(data[so:so + sc])
        if comp == 5:
            # exact-size cap: strip offsets are file-controlled and may
            # alias one high-expansion blob across thousands of strips —
            # without the cap each decode could legally run to the global
            # 256 MiB budget in pure Python
            raw = _lzw_decode(raw, cap=stride * nrows)
        elif comp == 32773:
            raw = _packbits(raw, stride * nrows)
        if len(raw) < stride * nrows:
            raise ValueError("tiff: short strip")
        lines = np.frombuffer(raw, dtype=np.uint8, count=stride * nrows).reshape(nrows, stride)
        if pred == 2:  # undo horizontal differencing: per-sample running sum
            lines = np.cumsum(lines.reshape(nrows, w, spp), axis=1,
                              dtype=np.uint8).reshape(nrows, stride)
        if bps == 1:
            block = np.unpackbits(lines, axis=1)[:, :w] * np.uint8(255)
        elif photo == 2:
            px = lines.reshape(nrows, w, 3)
            block = luma601(px[:, :, 0], px[:, :, 1], px[:, :, 2])
        elif photo == 3:
            block = pal[lines[:, :w]]
        else:
            block = lines[:, :w]
        if photo == 0:  # WhiteIsZero: 0 = white
            block = 255 - block
        # photo/gradient aborts via the shared gate; mid-gray confined
        # to antialiased stroke edges decodes through
        if bilevel and not gate.feed(block):
            raise ValueError("tiff: not a bilevel text render")
        strips.append(block)
        done += nrows
    if done < h:
        raise ValueError("tiff: missing strips")
    return w, h, np.concatenate(strips)


# ------------------------------------------------------------------ WebP

def riff_chunks(data: bytes, lo: int, hi: int):
    """The one RIFF chunk walker (WebP; WAVE and AVI in kernels/media.py):
    (fourcc, body_lo, body_hi) per chunk in data[lo:hi], even-padded. A
    size past hi is clamped to it — containment, not trust in the header."""
    i = lo
    while i + 8 <= hi:
        sz = int.from_bytes(data[i + 4:i + 8], "little")
        yield data[i:i + 4], i + 8, min(i + 8 + sz, hi)
        i += 8 + sz + (sz & 1)


def decode_webp_gray(data: bytes) -> tuple[int, int, np.ndarray]:
    """WebP container bytes → (h, w) uint8 luma raster (lossless VP8L
    only; lossy VP8 has no from-scratch decoder and raises for
    figure-only fallback)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("webp: bad container")
    for tag, lo, hi in riff_chunks(data, 12, len(data)):
        if tag == b"VP8L":
            payload = data[lo:hi]
            break
        if tag == b"VP8 ":
            raise ValueError("webp: lossy VP8 unsupported")
    else:
        raise ValueError("webp: no VP8L chunk")
    w, h, pix = decode_vp8l(payload)
    px = pix.reshape(h, w)
    return w, h, luma601((px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF)


# ------------------------------------------------------------------ router

def _header_palette(data: bytes, fmt: str) -> np.ndarray | None:
    """The color table a GIF or palette TIFF declares ahead of its pixel
    data (GIF global palette, TIFF ColorMap), as luma per index; None for
    any other format or image."""
    if fmt == "gif":
        return _gif_palette(data, 13, data[10], "global")
    return _tiff_palette(_tiff_ifd0(data)) if fmt == "tiff" else None


# format (as sniff_image_meta names it) → pixel decoder; PNG and TIFF
# also take bilevel=True, the OCR pre-filter that aborts on a photo
DECODERS = {
    "png": decode_png_gray,
    "jpeg": decode_jpeg_gray,
    "gif": decode_gif_gray,
    "bmp": decode_bmp_gray,
    "tiff": decode_tiff_gray,
    "webp": decode_webp_gray,
}


def decode_raster_gray(data: bytes) -> tuple[str, int, int, np.ndarray]:
    """Sniff + decode: (format, width, height, (h, w) uint8 gray). ValueError on
    formats without a from-scratch decoder (lossy webp/wmf/emf/svg) or
    on malformed input — per-row containment upstream (C7)."""
    fmt, _, _ = sniff_image_meta(data or b"")
    decode = DECODERS.get(fmt)
    if decode is None:
        raise ValueError(f"raster: no pixel decoder for format {fmt!r}")
    return (fmt, *decode(data))


# ------------------------------------------------------------------ dhash

def dhash64(w: int, h: int, gray) -> int:
    """Difference hash over a gray raster: integer area-downsample to a
    9×8 cell grid, one bit per horizontal gradient (cell brighter than
    its right neighbor), returned as a SIGNED int64 (two's complement) so
    the value survives parquet/Spark/DuckDB round-trips bit-exactly.

    Pure integer math end-to-end: a source grid and its lossless-codec
    round-trip (PNG/GIF/BMP/TIFF/VP8L) hash identically, which is what
    lets the image-dedup oracle recompute signatures from source grids
    (any (h, w) array-like of 0..255, e.g. a list of bytearrays) while
    Spark recomputes them from encoded bytes. Cell sums accumulate in
    int64, so no cell can wrap."""
    if w < 9 or h < 8:
        raise ValueError("dhash: image smaller than the 9x8 grid")
    a = np.asarray(gray, dtype=np.uint8)[:h, :w]
    ys = np.arange(9) * h // 8
    xs = np.arange(10) * w // 9
    # cell edges strictly increase (h >= 8, w >= 9): reduceat sums each
    # [edge, next edge) span, the last one running to the raster end
    sums = np.add.reduceat(np.add.reduceat(a, ys[:-1], axis=0, dtype=np.int64),
                           xs[:-1], axis=1)
    cells = sums // (np.diff(ys)[:, None] * np.diff(xs)[None, :])
    bits = int.from_bytes(np.packbits(cells[:, :8] > cells[:, 1:]).tobytes(), "big")
    return bits - (1 << 64) if bits >= 1 << 63 else bits
