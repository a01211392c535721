"""Deterministic bitmap-glyph OCR over a known 5×7 font (C4 text parity).

The reference OCRs real images through the MinerU CLI (GPU models,
`services/document_service.py:826-907`, 300 s timeout) — an engine the
sandbox does not ship. What *is* achievable from scratch, and what this
module implements, is the observable behavior on a bounded input class:
a PNG whose text is rendered in a known public-style 5×7 bitmap font
(the classic HD44780/GLCD glyph grid) decodes back to its exact text,
so `image_to_markdown` produces text spans end-to-end instead of a bare
figure. Real-world photos and antialiased screenshots deliberately fail
the grid checks and fall back to figure-only extraction.

Pipeline: from-scratch PNG decode (IHDR/IDAT, zlib inflate through the
shared expansion cap, scanline unfilter per the PNG spec §6 filter
types 0–4) → binarize → split text lines on blank scanlines → split
glyphs on blank columns → normalize each glyph to its ink bounding box
at the inferred integer scale → exact-match against the font table.

Array contract: every raster decoder (this module's PNG, and the
JPEG/GIF/BMP/TIFF/WebP decoders behind kernels/raster.py) returns its
pixels as one (height, width) uint8 numpy array of ITU-R 601 luma.
Post-decode stages are array operations over that raster: binarize is
one comparison, bands and glyph columns are row/column projections,
the antialiasing gate counts mid-gray pixels per row, the s×s
downsample is a reshape with all/any checks, and a glyph's match key is
its boolean grid's shape plus bytes. The only per-byte Python left here
is the PNG Average/Paeth unfilter, a serial recurrence with no exact
array form. Runs inside the Arrow-batched extraction UDF — no Spark
shuffle, bounded by the same decoded-bytes caps as the other kernels.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from documentconvert_spark.kernels.limits import MAX_DECODED_BYTES

# -- font --------------------------------------------------------------------
# 5×7 glyph grid in the style of the classic HD44780 character generator
# ROM / GLCD fonts ('X' = ink). Uppercase + digits + basic punctuation:
# enough for deterministic fixture round-trips; lowercase x-height and
# descender glyphs would break the blank-scanline band rule and are
# deliberately out of scope for a from-scratch matcher.
FONT_5X7: dict[str, tuple[str, ...]] = {
    "A": (".XXX.", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "B": ("XXXX.", "X...X", "X...X", "XXXX.", "X...X", "X...X", "XXXX."),
    "C": (".XXX.", "X...X", "X....", "X....", "X....", "X...X", ".XXX."),
    "D": ("XXXX.", "X...X", "X...X", "X...X", "X...X", "X...X", "XXXX."),
    "E": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "XXXXX"),
    "F": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "X...."),
    "G": (".XXX.", "X...X", "X....", "X.XXX", "X...X", "X...X", ".XXX."),
    "H": ("X...X", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "I": (".XXX.", "..X..", "..X..", "..X..", "..X..", "..X..", ".XXX."),
    "J": ("..XXX", "...X.", "...X.", "...X.", "...X.", "X..X.", ".XX.."),
    "K": ("X...X", "X..X.", "X.X..", "XX...", "X.X..", "X..X.", "X...X"),
    "L": ("X....", "X....", "X....", "X....", "X....", "X....", "XXXXX"),
    "M": ("X...X", "XX.XX", "X.X.X", "X.X.X", "X...X", "X...X", "X...X"),
    "N": ("X...X", "XX..X", "X.X.X", "X..XX", "X...X", "X...X", "X...X"),
    "O": (".XXX.", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "P": ("XXXX.", "X...X", "X...X", "XXXX.", "X....", "X....", "X...."),
    "Q": (".XXX.", "X...X", "X...X", "X...X", "X.X.X", "X..X.", ".XX.X"),
    "R": ("XXXX.", "X...X", "X...X", "XXXX.", "X.X..", "X..X.", "X...X"),
    "S": (".XXXX", "X....", "X....", ".XXX.", "....X", "....X", "XXXX."),
    "T": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "..X.."),
    "U": ("X...X", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "V": ("X...X", "X...X", "X...X", "X...X", "X...X", ".X.X.", "..X.."),
    "W": ("X...X", "X...X", "X...X", "X.X.X", "X.X.X", "X.X.X", ".X.X."),
    "X": ("X...X", "X...X", ".X.X.", "..X..", ".X.X.", "X...X", "X...X"),
    "Y": ("X...X", "X...X", ".X.X.", "..X..", "..X..", "..X..", "..X.."),
    "Z": ("XXXXX", "....X", "...X.", "..X..", ".X...", "X....", "XXXXX"),
    "0": (".XXX.", "X...X", "X..XX", "X.X.X", "XX..X", "X...X", ".XXX."),
    "1": ("..X..", ".XX..", "..X..", "..X..", "..X..", "..X..", ".XXX."),
    "2": (".XXX.", "X...X", "....X", "...X.", "..X..", ".X...", "XXXXX"),
    "3": ("XXXXX", "...X.", "..X..", "...X.", "....X", "X...X", ".XXX."),
    "4": ("...X.", "..XX.", ".X.X.", "X..X.", "XXXXX", "...X.", "...X."),
    "5": ("XXXXX", "X....", "XXXX.", "....X", "....X", "X...X", ".XXX."),
    "6": ("..XX.", ".X...", "X....", "XXXX.", "X...X", "X...X", ".XXX."),
    "7": ("XXXXX", "....X", "...X.", "..X..", ".X...", ".X...", ".X..."),
    "8": (".XXX.", "X...X", "X...X", ".XXX.", "X...X", "X...X", ".XXX."),
    "9": (".XXX.", "X...X", "X...X", ".XXXX", "....X", "...X.", ".XX.."),
    ".": (".....", ".....", ".....", ".....", ".....", ".XX..", ".XX.."),
    ",": (".....", ".....", ".....", ".....", ".XX..", "..X..", ".X..."),
    ":": (".....", ".XX..", ".XX..", ".....", ".XX..", ".XX..", "....."),
    "-": (".....", ".....", ".....", "XXXXX", ".....", ".....", "....."),
    "!": ("..X..", "..X..", "..X..", "..X..", "..X..", ".....", "..X.."),
    "?": (".XXX.", "X...X", "....X", "...X.", "..X..", ".....", "..X.."),
    "(": ("...X.", "..X..", ".X...", ".X...", ".X...", "..X..", "...X."),
    ")": (".X...", "..X..", "...X.", "...X.", "...X.", "..X..", ".X..."),
    "/": ("....X", "....X", "...X.", "..X..", ".X...", "X....", "X...."),
    "+": (".....", "..X..", "..X..", "XXXXX", "..X..", "..X..", "....."),
    "=": (".....", ".....", "XXXXX", ".....", "XXXXX", ".....", "....."),
}

GLYPH_W, GLYPH_H, CELL_W, CELL_H = 5, 7, 6, 8


def _crop(rows: tuple[str, ...]) -> tuple[str, ...]:
    """Glyph bitmap → its ink bounding box (the match key: absolute cell
    position is unrecoverable once lines band on blank scanlines)."""
    rs = [i for i, r in enumerate(rows) if "X" in r]
    cs = [j for j in range(len(rows[0])) if any(r[j] == "X" for r in rows)]
    return tuple(rows[i][cs[0]:cs[-1] + 1] for i in range(rs[0], rs[-1] + 1))


def _glyph_key(cells: np.ndarray) -> tuple[int, int, bytes]:
    """Hashable key of a boolean glyph grid: its shape plus its bytes."""
    return (cells.shape[0], cells.shape[1], cells.tobytes())


_CROPPED: dict[tuple[int, int, bytes], str] = {}
for _ch, _rows in FONT_5X7.items():
    _crop_rows = _crop(_rows)
    _key = _glyph_key(np.array([[c == "X" for c in r] for r in _crop_rows]))
    assert _key not in _CROPPED, f"font: cropped-pattern collision {_ch!r}/{_CROPPED[_key]!r}"
    _CROPPED[_key] = _ch
    # glyph segmentation splits on blank columns: an internal all-blank
    # column inside one glyph's bbox would shred it into two
    assert all("X" in col for col in zip(*_crop_rows)), f"font: internal blank column in {_ch!r}"


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


# -- PNG decode (spec: W3C PNG, chunks + filters §6) --------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_MAX_PIXELS = 4 << 20  # 4 MP: far above any text fixture, bounds the
# raster allocation (charge-on-sight, before the IDAT inflate)


def _unfilter_serial(line: np.ndarray, prev: np.ndarray, bpp: int,
                     paeth: bool) -> np.ndarray:
    """Average / Paeth unfilter (PNG §9.2). Each byte depends on the
    already-reconstructed byte bpp to its left through a floor or a
    three-way choice, so there is no exact array form: this recurrence is
    the one serial loop left in the PNG decoder."""
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
            if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
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
    if (w * bits_pp // 8 + 2) * h > MAX_DECODED_BYTES:
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
            ftype = rowbytes[0]
            line = np.frombuffer(rowbytes, dtype=np.uint8, offset=1)
            if ftype == 1:  # Sub: per-channel running sum, mod 256
                line = np.cumsum(line.reshape(-1, bpp), axis=0,
                                 dtype=np.uint8).reshape(-1)
            elif ftype == 2:  # Up
                line = line + prev
            elif ftype == 3 or ftype == 4:  # Average / Paeth
                line = _unfilter_serial(line, prev, bpp, ftype == 4)
            elif ftype != 0:
                raise ValueError("png: unknown filter type")
            prev = line
            gray = to_gray(line, pw)
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


# -- glyph matching -----------------------------------------------------------

_INK = 128  # gray < _INK is ink (black text on white)
_MID = np.zeros(256, dtype=bool)  # 32 < gray < 224: neither ink nor paper
_MID[33:224] = True


def _count_mid(gray) -> int:
    """Mid-gray pixels in a row or a whole raster."""
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


def _runs(mask: np.ndarray) -> list[tuple[int, int]]:
    """Maximal runs of True in a 1-D mask → [(start, end), ...]."""
    edges = np.diff(mask.astype(np.int8), prepend=np.int8(0), append=np.int8(0))
    return list(zip(np.flatnonzero(edges == 1).tolist(),
                    np.flatnonzero(edges == -1).tolist()))


def _downsample(cells: np.ndarray, s: int) -> np.ndarray | None:
    """Ink grid → pattern at 1/s, requiring every s×s block to be
    uniform — antialiased or off-grid input fails here by design."""
    hh, ww = cells.shape
    if hh % s or ww % s:
        return None
    blocks = cells.reshape(hh // s, s, ww // s, s)
    full = blocks.all(axis=(1, 3))
    if not np.array_equal(full, blocks.any(axis=(1, 3))):
        return None
    return full


def ocr_png_text(data: bytes) -> list[str]:
    """PNG bytes → decoded text lines, or [] when the image is not a
    clean grid rendering of the known font (the figure-only fallback).
    The bilevel decode streams through _BimodalGate and aborts once
    mid-gray dominates, so a photo pays a few scanlines while an
    antialiased render reaches the post-threshold matcher."""
    try:
        w, h, gray = decode_png_gray(data, bilevel=True)
    except (ValueError, struct.error, zlib.error):
        return []
    return ocr_gray_text(w, h, gray)


def _majority_mid(luma: np.ndarray) -> bool:
    """More than half of the palette entries are mid-gray."""
    return int(np.count_nonzero(_MID[luma])) * 2 > len(luma)


def _gif_palette_bilevel(data: bytes) -> bool:
    """Cheap pre-gate: a rendered-text GIF's global palette is MAJORITY
    near-black/near-white entries (antialiased renders add a minority of
    edge tones), so a photo (mostly mid-gray palette) bails after
    reading the header — BEFORE paying the LZW decode. Conservative: no
    global palette → let the decoder decide."""
    if len(data) < 13 or not data[10] & 0x80:
        return True
    n = 2 << (data[10] & 0x07)
    return not _majority_mid(_palette_luma(data[13:13 + 3 * n]))


def _tiff_colormap_bilevel(data: bytes) -> bool:
    """Cheap pre-gate for palette TIFFs: a rendered-text image's ColorMap
    is MAJORITY near-black/near-white entries, so a photo bails on the
    IFD alone — before any strip decompression. Conservative: not
    palette / unparseable → let the decoder decide (it has its own
    gates)."""
    from documentconvert_spark.kernels.raster import _tiff_colormap_luma, _tiff_ifd0

    try:
        end = "<" if data[:2] == b"II" else ">"
        tags = _tiff_ifd0(data, end)
    except (ValueError, struct.error, IndexError):
        return True
    if tags.get(262, [1])[0] != 3:
        return True
    cmap = tags.get(320)
    if not cmap or len(cmap) != 3 * 256:
        return True
    return not _majority_mid(_tiff_colormap_luma(cmap))


def ocr_raster_text(data: bytes) -> list[str]:
    """GIF/BMP/TIFF/WebP bytes → decoded text lines, or [] (figure-only
    fallback). All are lossless (lossy WebP raises inside the decoder),
    so the exact grid matcher applies post-threshold; majority mid-gray
    (a photo, a gradient) bails out via the shared _BimodalGate rule —
    reference ``image_to_markdown`` accepts bmp/tiff/webp alongside
    png/jpg (`services/document_service.py:652-665`). Photo GIFs bail on
    the palette alone (no LZW decode); palette TIFFs on the ColorMap
    alone, and gray/RGB TIFFs abort once mid-gray dominates the strips
    seen; BMP and lossless WebP pay their single-pass luma read with the
    same cumulative abort."""
    from documentconvert_spark.kernels.raster import (
        decode_raster_gray,
        decode_tiff_gray,
    )

    if data[:6] in (b"GIF87a", b"GIF89a") and not _gif_palette_bilevel(data):
        return []
    try:
        if data[:4] in (b"II*\x00", b"MM\x00*"):
            if not _tiff_colormap_bilevel(data):
                return []
            w, h, gray = decode_tiff_gray(data, bilevel=True)
        else:
            _fmt, w, h, gray = decode_raster_gray(data)
    except (ValueError, struct.error, IndexError):
        return []  # malformed / non-bilevel keeps the figure-only shape (C7)
    if _count_mid(gray) * 2 > w * h:
        return []  # majority-mid raster: a photo/gradient, not a text render
    return ocr_gray_text(w, h, gray)


def ocr_jpeg_text(data: bytes) -> list[str]:
    """JPEG bytes → decoded text lines, or [].

    Lossy formats can only carry exact-match glyph grids in the
    near-lossless regime, so the gate is the quant table itself: every
    luma quant value must be ≤ 2 (reconstruction error then ≤ ~2 gray
    levels, which the 32/224 bilevel bands absorb). A photo's quant
    table never passes, so the hot path pays a header parse — never an
    entropy decode — per real-world JPEG."""
    from documentconvert_spark.kernels.minijpeg import decode_jpeg_gray, parse_jpeg_quant

    try:
        if any(v > 2 for t in parse_jpeg_quant(data).values() for v in t):
            return []
        w, h, gray = decode_jpeg_gray(data)
    except (ValueError, struct.error):
        return []
    if _count_mid(gray) * 2 > w * h:
        return []  # majority-mid raster: a near-lossless photo, not text
    return ocr_gray_text(w, h, gray)


def _boxes_by_columns(ink: np.ndarray, b0: int, b1: int, w: int):
    """Glyph bounding boxes within a line band by blank-column
    projection (the original splitter): a box per maximal run of
    occupied columns, cropped to its ink rows. Fails (merges) when two
    glyphs overlap in x without a blank column between them — the
    proportional-kerning case _boxes_by_components exists for."""
    band = ink[b0:b1]
    runs = _runs(band.any(axis=0))
    if not runs:
        return []
    # per-run row occupancy in one pass: each reduceat segment spans one
    # run plus the blank columns after it, which add no ink
    occ = np.logical_or.reduceat(band, [x0 for x0, _ in runs], axis=1)
    tops = occ.argmax(axis=0).tolist()
    bottoms = (len(band) - occ[::-1].argmax(axis=0)).tolist()
    return [(x0, x1, b0 + top, b0 + bot, None)
            for (x0, x1), top, bot in zip(runs, tops, bottoms)]


def _label_components(band: np.ndarray) -> np.ndarray:
    """8-connected component labels of a boolean band: every ink pixel
    gets the row-major index of its component's first pixel (the one a
    raster scan meets first); background gets band.size. Min-label
    propagation over the 3×3 neighborhood plus pointer jumping (a label
    is a pixel index, so a pixel may adopt its label's own label), run
    to the fixed point."""
    bh, bw = band.shape
    n = bh * bw
    lab = np.where(band, np.arange(n).reshape(bh, bw), n)
    pad = np.full((bh + 2, bw + 2), n, dtype=lab.dtype)
    while True:
        pad[1:-1, 1:-1] = lab
        m = lab.copy()
        for dy in (0, 1, 2):
            for dx in (0, 1, 2):
                np.minimum(m, pad[dy:dy + bh, dx:dx + bw], out=m)
        m[~band] = n
        m = np.append(m.reshape(-1), n)[m]  # pointer jump
        if np.array_equal(m, lab):
            return lab
        lab = m


def _boxes_by_components(ink: np.ndarray, b0: int, b1: int, w: int):
    """Per-glyph bounding boxes from 8-connected components (the r4
    verdict's proportional-font increment): components are labeled over
    the band, sorted by left edge, then GROUPED into glyphs — a
    component joins the current glyph iff its x-center falls inside the
    glyph's x-range, which assembles the multi-part glyphs ('!', '?',
    ':', ';', '=', whose dots/bars stack with aligned centers) while
    keeping a kerned neighbor (x-overlap without touching pixels, e.g. a
    dash tucked under an L's overhang) a SEPARATE glyph. Column
    projection cannot split that case — it merges any x-overlap into one
    unmatchable pseudo-glyph and rejects the image. Each box carries its
    glyph's own pixel mask over the box."""
    band = ink[b0:b1]
    lab = _label_components(band)
    ys, xs = np.nonzero(band)
    ids, inv = np.unique(lab[ys, xs], return_inverse=True)
    k = len(ids)
    x0s = np.full(k, w)
    np.minimum.at(x0s, inv, xs)
    x1s = np.zeros(k, dtype=x0s.dtype)
    np.maximum.at(x1s, inv, xs)
    y0s = np.full(k, len(band))
    np.minimum.at(y0s, inv, ys)
    y1s = np.zeros(k, dtype=y0s.dtype)
    np.maximum.at(y1s, inv, ys)
    # (left, right, top, bottom) order; ties keep raster discovery order,
    # which is the ascending label
    comps = sorted(zip(x0s.tolist(), x1s.tolist(), (y0s + b0).tolist(),
                       (y1s + b0).tolist(), ids.tolist()))
    groups: list[list] = []
    for (x0, x1, y0, y1, cid) in comps:
        cx2 = x0 + x1  # 2*center, integer-exact
        if groups and groups[-1][0] * 2 <= cx2 <= (groups[-1][1] - 1) * 2:
            g = groups[-1]
            g[0], g[1] = min(g[0], x0), max(g[1], x1 + 1)
            g[2], g[3] = min(g[2], y0), max(g[3], y1 + 1)
            g[4].append(cid)
        else:
            groups.append([x0, x1 + 1, y0, y1 + 1, [cid]])
    return [(x0, x1, y0, y1,
             np.isin(lab[y0 - b0:y1 - b0, x0:x1], cids))
            for x0, x1, y0, y1, cids in groups]


def _match_boxes(ink: np.ndarray, boxes, s: int) -> str | None:
    """Sorted glyph boxes → decoded text, or None when any glyph fails
    the exact grid match (which rejects the whole image — a partial
    decode would flow replacement-character soup into paragraph spans
    and on into dedup/goldens; the documented contract is exact text or
    figure-only). Inter-glyph gaps are ≤ 5s in the fixed-cell render
    (1 blank grid col + ≤2 blank glyph edge cols each side) and exactly
    1s in the proportional render; a space pushes the gap to ≥ 7s in
    both conventions, so one ≥ 6s rule serves both."""
    text = ""
    prev_end: int | None = None
    for (x0, x1, y0, y1, mask) in boxes:
        if prev_end is not None and x0 - prev_end >= 6 * s:
            text += " "
        prev_end = x1
        # mask = the glyph's own pixels (component path): kerned bboxes
        # can OVERLAP, and a plain rectangle crop would bleed the
        # neighbor's ink into this glyph and reject a clean render
        cells = ink[y0:y1, x0:x1] if mask is None else mask
        pat = _downsample(cells, s)
        ch = _CROPPED.get(_glyph_key(pat)) if pat is not None else None
        if ch is None:
            return None
        text += ch
    return text


def ocr_gray_text(w: int, h: int, gray: np.ndarray) -> list[str]:
    """Gray raster → decoded text lines via the exact grid matcher, or []
    when the raster is not a clean rendering of the known font. Two
    glyph segmenters, exact-or-nothing each: blank-column projection
    first (byte-identical to the historical behavior on every fixed-cell
    and proportional render with blank inter-glyph columns), and on
    whole-image rejection one retry with connected-component boxes,
    which additionally decodes kerned proportional renders whose glyphs
    overlap in x without touching.

    Known gap, kept on purpose: the retry fires only when some column
    box is WIDER than GLYPH_W × min(all_quotients). Two narrow glyphs
    (e.g. '.' and '1') kerned into one merged box no wider than that
    threshold never reach the component pass, so such a render is
    rejected to figure-only — never misread, because the merged box
    itself matches no glyph."""
    ink = np.asarray(gray) < _INK
    bands = _runs(ink.any(axis=1))
    if not bands:
        return []
    big = max(b1 - b0 for b0, b1 in bands)
    if big % GLYPH_H:
        return []
    s_global = big // GLYPH_H
    # PER-BAND scale candidates (r5): a render mixing font sizes (a
    # scale-3 headline over scale-2 body — the heading/body shape real
    # documents have) would reject wholesale under a single global
    # scale, because the tallest band sets s and every other band's
    # downsample fails. But a band's own height quotient alone is
    # AMBIGUOUS both ways: a '---' line at scale 7 is 7 px tall (its
    # quotient 1 is wrong), and a '...' line under a scale-3 headline is
    # sub-glyph-height (the global 3 is wrong — its true scale 2 only
    # appears as ANOTHER band's quotient). So each band tries a
    # deterministic candidate ladder — its own clean quotient, the
    # global scale, then every other band's quotient ascending — and the
    # first scale under which EVERY glyph in the band matches exactly
    # wins. A wrong scale cannot half-match (exact-or-nothing per band),
    # and single-scale renders take the first candidate, byte-identical
    # to the historical behavior.
    all_quotients = sorted({
        (b1 - b0) // GLYPH_H
        for b0, b1 in bands
        if (b1 - b0) >= GLYPH_H and (b1 - b0) % GLYPH_H == 0
    })

    def band_candidates(b0: int, b1: int) -> list[int]:
        h_band = b1 - b0
        cands = []
        if h_band >= GLYPH_H and h_band % GLYPH_H == 0:
            cands.append(h_band // GLYPH_H)
        if s_global not in cands:
            cands.append(s_global)
        cands.extend(q for q in all_quotients if q not in cands)
        return cands

    def match_band(boxes, b0: int, b1: int) -> str | None:
        for s in band_candidates(b0, b1):
            text = _match_boxes(ink, boxes, s)
            if text is not None:
                return text
        return None

    col_boxes = [_boxes_by_columns(ink, b0, b1, w) for b0, b1 in bands]
    lines: list[str] = []
    total = 0
    for (b0, b1), boxes in zip(bands, col_boxes):
        text = match_band(boxes, b0, b1)
        if text is None:
            lines = []
            break
        total += len(boxes)
        lines.append(text)
    if lines and total:
        return lines
    # component retry ONLY on the x-overlap signature — some column box
    # wider than one glyph at the SMALLEST plausible scale
    # (conservative: an extra labeling retry is cheap, a missed kerned
    # render is a lost decode), which is what kerned overlap produces
    # and what column projection cannot split. Ordinary rejects (an
    # unmatched glyph-sized box: noise, unknown font) skip the labeling,
    # keeping the common reject path at its historical cost. The
    # threshold is global: every band's candidate ladder contains
    # min(all_quotients) (s_global is always a quotient — the tallest
    # band is clean by the gate above).
    wide = GLYPH_W * min(all_quotients)
    if not any(b[1] - b[0] > wide for boxes in col_boxes for b in boxes):
        return []
    lines = []
    for b0, b1 in bands:
        text = match_band(_boxes_by_components(ink, b0, b1, w), b0, b1)
        if text is None:
            return []
        lines.append(text)
    # bands is non-empty (checked above) and every band contains ink, so
    # there is always at least one matched glyph by this point
    return lines
