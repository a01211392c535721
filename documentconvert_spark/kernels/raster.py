"""Raster decode router: real image bytes → 8-bit gray raster, no codec libs.

The reference's image route accepts jpg/png/bmp/gif/tiff/webp
(`services/document_service.py:652-665`) and feeds them to GPU OCR; this
engine's sandbox-honest counterpart needs the *pixels* for the real-codec
feature path (`ops/multimodal.py`), pixel-statistics queries over carved
media, and the bitmap-glyph OCR. Every decoder here is from the public
spec, bounded by the shared expansion caps, and returns the same shape:

    (width, height, gray)  with gray = (height, width) uint8 numpy array
                           of ITU-R 601 luma, row-major

Entropy stages (LZW, RLE command streams, Huffman) are serial by nature
and stay scalar; everything after them — palette expansion, bit/nibble
unpacking, BGR/RGB luma, TIFF horizontal-differencing undo, GIF
deinterlace and frame composition, the dhash cell sums — is array
arithmetic over whole rows or the whole raster. Consumers that reduce
the raster accumulate in int64/float64 (numpy reductions widen uint8
automatically); summing a uint8 row with a dtype-preserving op wraps.

* PNG  — kernels/miniocr.decode_png_gray (W3C PNG: IDAT/filters)
* JPEG — kernels/minijpeg.decode_jpeg_gray (ITU-T T.81 baseline, Y plane)
* GIF  — this module (GIF89a spec: LZW with variable code width, LSB-first
  packing, interlace passes, global/local palettes; first frame)
* BMP  — this module (BITMAPINFOHEADER BI_RGB 1/4/8/24/32-bit, bottom-up
  or top-down, plus BI_RLE8/BI_RLE4 run-length decompression)
* TIFF — this module (TIFF 6.0 baseline, IFD0: gray/palette/RGB at 1 or
  8 bits/sample, strip layout, Compression 1/5/32773 — LZW shares the
  realpdf decoder, TIFF always packs MSB-first with early change — plus
  the horizontal differencing Predictor)
* WebP — kernels/miniwebp.decode_webp_gray (lossless VP8L per the WebP
  Lossless Bitstream Specification: prefix codes, LZ77 + color cache,
  all four transforms; lossy VP8 raises — a full DCT codec is out of
  from-scratch scope)

WMF/EMF/SVG stay header-sniff-only (dims/format without pixels)
— `decode_raster_gray` raises ValueError for them and callers keep the
figure-only path, exactly like any other malformed-input containment.
"""

from __future__ import annotations

import struct

import numpy as np

from documentconvert_spark.kernels.limits import MAX_DECODED_BYTES
from documentconvert_spark.kernels.minijpeg import _MAX_PIXELS_DEFAULT, decode_jpeg_gray
from documentconvert_spark.kernels.miniocr import (
    _BimodalGate,
    _palette_luma,
    decode_png_gray,
    luma601,
)


def _interlace_order(h: int) -> np.ndarray:
    """GIF interlace: stored row i is display row order[i] (4 passes)."""
    return np.array(list(range(0, h, 8)) + list(range(4, h, 8))
                    + list(range(2, h, 4)) + list(range(1, h, 2)))


def _indexed(ix: np.ndarray, pal: np.ndarray, what: str) -> np.ndarray:
    """Palette indices → luma, rejecting any index past the palette."""
    if int(ix.max()) >= len(pal):
        raise ValueError(f"{what}: pixel index out of palette")
    return pal[ix]


# ------------------------------------------------------------------ GIF

def _gif_lzw(blocks: bytes, min_code: int, max_out: int) -> bytearray:
    """GIF-variant LZW (LSB-first bit packing, variable 3–12 bit codes,
    clear/end codes) — distinct from the PDF/TIFF LZW in realpdf, which
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


def decode_gif_gray(data: bytes,
                    max_pixels: int = _MAX_PIXELS_DEFAULT
                    ) -> tuple[int, int, np.ndarray]:
    """First frame of a GIF → (h, w) uint8 gray raster."""
    if data[:6] not in (b"GIF87a", b"GIF89a") or len(data) < 13:
        raise ValueError("gif: bad magic")
    packed = data[10]
    pos = 13
    gct: np.ndarray | None = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = _palette_luma(data[pos:pos + 3 * n])
        if len(gct) < n:
            raise ValueError("gif: truncated global palette")
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError("gif: unknown block")
        if pos + 10 > len(data):
            raise ValueError("gif: truncated image descriptor")
        _, _, w, h = struct.unpack_from("<HHHH", data, pos + 1)
        ipacked = data[pos + 9]
        pos += 10
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            pal = _palette_luma(data[pos:pos + 3 * n])
            if len(pal) < n:
                raise ValueError("gif: truncated local palette")
            pos += 3 * n
        if pal is None:
            raise ValueError("gif: no palette")
        if w <= 0 or h <= 0 or w * h > max_pixels or w * h > MAX_DECODED_BYTES:
            raise ValueError("gif: dimensions over cap")
        min_code = data[pos]
        pos += 1
        parts = []
        while pos < len(data) and data[pos]:
            ln = data[pos]
            parts.append(data[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        idx = _gif_lzw(b"".join(parts), min_code, w * h)
        if len(idx) < w * h:
            raise ValueError("gif: short pixel data")
        rows = _indexed(np.frombuffer(idx, dtype=np.uint8, count=w * h)
                        .reshape(h, w), pal, "gif")
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            deint = np.empty_like(rows)
            deint[_interlace_order(h)] = rows
            rows = deint
        return w, h, rows
    raise ValueError("gif: no image data")


def decode_gif_frames(data: bytes,
                      max_pixels: int = _MAX_PIXELS_DEFAULT,
                      max_frames: int = 4096) -> tuple[int, int, list[np.ndarray]]:
    """Animated GIF → full-canvas gray snapshots, one per frame, with the
    GIF89a composition model: sub-region images placed at (left, top),
    transparency holes keeping the underlying pixels, and the Graphic
    Control disposal methods (1 = leave, 2 = restore region to the
    background color, 3 = restore the previous canvas). Frame count and
    total snapshot bytes are budget-capped before allocation."""
    if data[:6] not in (b"GIF87a", b"GIF89a") or len(data) < 13:
        raise ValueError("gif: bad magic")
    w, h = struct.unpack_from("<HH", data, 6)
    packed = data[10]
    bg_index = data[11]
    if w <= 0 or h <= 0 or w * h > max_pixels:
        raise ValueError("gif: dimensions over cap")
    pos = 13
    gct: np.ndarray | None = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = _palette_luma(data[pos:pos + 3 * n])
        if len(gct) < n:
            raise ValueError("gif: truncated global palette")
        pos += 3 * n
    bg = int(gct[bg_index]) if gct is not None and bg_index < len(gct) else 255
    canvas = np.full((h, w), bg, dtype=np.uint8)
    frames: list[np.ndarray] = []
    disposal = 0
    transparent: int | None = None
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            if pos + 2 > len(data):
                raise ValueError("gif: truncated extension")
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and pos < len(data) and data[pos] >= 4:
                if pos + 5 > len(data):
                    raise ValueError("gif: truncated graphic control block")
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
        left, top, iw, ih = struct.unpack_from("<HHHH", data, pos + 1)
        ipacked = data[pos + 9]
        pos += 10
        if iw <= 0 or ih <= 0 or left + iw > w or top + ih > h:
            raise ValueError("gif: frame region outside canvas")
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            pal = _palette_luma(data[pos:pos + 3 * n])
            if len(pal) < n:
                raise ValueError("gif: truncated local palette")
            pos += 3 * n
        if pal is None:
            raise ValueError("gif: no palette")
        if pos >= len(data):
            raise ValueError("gif: truncated image data")
        min_code = data[pos]
        pos += 1
        parts = []
        while pos < len(data) and data[pos]:
            ln = data[pos]
            parts.append(data[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        pos += 1  # data terminator
        idx = _gif_lzw(b"".join(parts), min_code, iw * ih)
        if len(idx) < iw * ih:
            raise ValueError("gif: short pixel data")
        sub = np.frombuffer(idx, dtype=np.uint8, count=iw * ih).reshape(ih, iw)
        if ipacked & 0x40:  # interlaced sub-image: reorder its rows
            deint = np.empty_like(sub)
            deint[_interlace_order(ih)] = sub
            sub = deint
        vals = _indexed(sub, pal, "gif")
        if len(frames) >= max_frames:
            raise ValueError("gif: frame count over cap")
        if (len(frames) + 1) * w * h > MAX_DECODED_BYTES:
            raise ValueError("gif: animation over decode cap")
        saved = canvas.copy() if disposal == 3 else None
        region = canvas[top:top + ih, left:left + iw]
        if transparent is None:
            region[:] = vals
        else:  # transparency holes keep the underlying pixels
            drawn = sub != transparent
            region[drawn] = vals[drawn]
        frames.append(canvas.copy())
        if disposal == 2:  # restore region to background
            region[:] = bg
        elif disposal == 3 and saved is not None:
            canvas = saved
        disposal = 0
        transparent = None
    if not frames:
        raise ValueError("gif: no image data")
    return w, h, frames


# ------------------------------------------------------------------ BMP

def decode_bmp_gray(data: bytes,
                    max_pixels: int = _MAX_PIXELS_DEFAULT
                    ) -> tuple[int, int, np.ndarray]:
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
    if w <= 0 or h <= 0 or w * h > max_pixels or w * h > MAX_DECODED_BYTES:
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
    stride = ((bpp * w + 31) // 32) * 4
    if pix_off + stride * h > len(data):
        raise ValueError("bmp: truncated pixel data")
    lines = np.frombuffer(data, dtype=np.uint8, count=stride * h,
                          offset=pix_off).reshape(h, stride)
    if not top_down:
        lines = lines[::-1]
    if bpp == 24 or bpp == 32:
        px = lines[:, :w * (bpp // 8)].reshape(h, w, bpp // 8)
        return w, h, luma601(px[:, :, 2], px[:, :, 1], px[:, :, 0])
    if bpp == 8:
        ix = lines[:, :w]
    elif bpp == 4:
        ix = _nibbles(lines)[:, :w]
    else:  # 1-bit, MSB-first
        ix = np.unpackbits(lines, axis=1)[:, :w]
    return w, h, _indexed(ix, pal, "bmp")


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


def _tiff_ifd0(data: bytes, end: str) -> dict[int, list[int]]:
    """First IFD → {tag: values} for the baseline tags this decoder
    reads. Handles the value-or-offset rule (≤4 payload bytes live in
    the entry itself) for BYTE/SHORT/LONG."""
    (ifd,) = struct.unpack_from(end + "I", data, 4)
    (count,) = struct.unpack_from(end + "H", data, ifd)
    sizes = {1: 1, 3: 2, 4: 4}
    fmts = {1: "B", 3: "H", 4: "I"}
    tags: dict[int, list[int]] = {}
    for k in range(min(count, 256)):
        e = ifd + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from(end + "HHI", data, e)
        if typ not in sizes or cnt == 0 or cnt > 1 << 20:
            continue
        nbytes = sizes[typ] * cnt
        if nbytes <= 4:
            off = e + 8
        else:
            (off,) = struct.unpack_from(end + "I", data, e + 8)
        if off + nbytes > len(data):
            raise ValueError("tiff: entry payload out of file")
        tags[tag] = list(struct.unpack_from(end + fmts[typ] * cnt, data, off))
    return tags


def decode_tiff_gray(data: bytes,
                     max_pixels: int = _MAX_PIXELS_DEFAULT,
                     bilevel: bool = False) -> tuple[int, int, np.ndarray]:
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
    if data[:4] == b"II*\x00":
        end = "<"
    elif data[:4] == b"MM\x00*":
        end = ">"
    else:
        raise ValueError("tiff: bad magic")
    try:
        tags = _tiff_ifd0(data, end)
    except (struct.error, IndexError):
        raise ValueError("tiff: truncated IFD")
    try:
        w = tags[256][0]
        h = tags[257][0]
        offs = tags[273]
        counts = tags[279]
    except KeyError:
        raise ValueError("tiff: missing required tag")
    if w <= 0 or h <= 0 or w * h > max_pixels or w * h > MAX_DECODED_BYTES:
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
    pal: np.ndarray | None = None
    if photo == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) != 3 * 256:
            raise ValueError("tiff: missing/short color map")
        pal = _tiff_colormap_luma(cmap)
    if len(offs) != len(counts):
        raise ValueError("tiff: strip offsets/counts mismatch")
    stride = (w * spp * bps + 7) // 8
    strips: list[np.ndarray] = []
    done = 0
    gate = _BimodalGate()
    for si, (so, sc) in enumerate(zip(offs, counts)):
        if so + sc > len(data) or sc > MAX_DECODED_BYTES:
            raise ValueError("tiff: strip out of file")
        nrows = min(rps, h - si * rps)
        if nrows <= 0:
            break
        raw = bytes(data[so:so + sc])
        if comp == 5:
            from documentconvert_spark.kernels.realpdf import _lzw_decode
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


def _tiff_colormap_luma(cmap: list[int]) -> np.ndarray:
    """ColorMap planes (16-bit R, G, B × 256) → 8-bit luma per index."""
    c = np.array(cmap, dtype=np.uint32) >> 8
    return luma601(c[:256], c[256:512], c[512:])


# ------------------------------------------------------------------ router

def decode_raster_gray(data: bytes,
                       max_pixels: int = _MAX_PIXELS_DEFAULT
                       ) -> tuple[str, int, int, np.ndarray]:
    """Sniff + decode: (format, width, height, (h, w) uint8 gray). ValueError on
    formats without a from-scratch decoder (lossy webp/wmf/emf/svg) or
    on malformed input — per-row containment upstream (C7)."""
    from documentconvert_spark.kernels.media import sniff_image_meta

    fmt, _, _ = sniff_image_meta(data or b"")
    if fmt == "png":
        w, h, rows = decode_png_gray(data)
    elif fmt == "jpeg":
        w, h, rows = decode_jpeg_gray(data, max_pixels=max_pixels)
    elif fmt == "gif":
        w, h, rows = decode_gif_gray(data, max_pixels=max_pixels)
    elif fmt == "bmp":
        w, h, rows = decode_bmp_gray(data, max_pixels=max_pixels)
    elif fmt == "tiff":
        w, h, rows = decode_tiff_gray(data, max_pixels=max_pixels)
    elif fmt == "webp":
        from documentconvert_spark.kernels.miniwebp import decode_webp_gray
        w, h, rows = decode_webp_gray(data, max_pixels=max_pixels)
    else:
        raise ValueError(f"raster: no pixel decoder for format {fmt!r}")
    return fmt, w, h, rows


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
