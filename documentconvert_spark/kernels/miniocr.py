"""Deterministic bitmap-glyph OCR over a known 5×7 font (C4 text parity).

The reference OCRs real images through the MinerU CLI (GPU models,
`services/document_service.py:826-907`, 300 s timeout) — an engine the
sandbox does not ship. What *is* achievable from scratch, and what this
module implements, is the observable behavior on a bounded input class:
a lossless image (PNG, GIF, BMP, TIFF, lossless WebP, or a near-lossless
JPEG) whose text is rendered in a known public-style 5×7 bitmap font
(the classic HD44780/GLCD glyph grid) decodes back to its exact text,
so `image_to_markdown` produces text spans end-to-end instead of a bare
figure. Real-world photos and antialiased screenshots deliberately fail
the grid checks and fall back to figure-only extraction.

Pipeline: `ocr_image_text` takes the image bytes and the format the
dispatcher sniffed, runs the per-format header pre-gate, decodes through
the image layer's format → decoder table (kernels/raster.py, which owns
every decoder and every magic-byte test) and rejects a majority-mid
raster; `ocr_gray_text` then binarizes → splits text lines on blank
scanlines → splits glyphs on blank columns → normalizes each glyph to
its ink bounding box at the inferred integer scale → exact-matches it
against the font table.

Array contract: every raster decoder returns its pixels as one
(height, width) uint8 numpy array of ITU-R 601 luma. The stages here are
array operations over that raster: binarize is one comparison, bands
and glyph columns are row/column projections, the s×s downsample is a
reshape with all/any checks, and a glyph's match key is its boolean
grid's shape plus bytes. Runs inside the Arrow-batched extraction UDF —
no Spark shuffle, bounded by the decoders' caps.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from documentconvert_spark.kernels.minijpeg import parse_jpeg_quant
from documentconvert_spark.kernels.raster import DECODERS, _count_mid, _header_palette

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


# -- glyph matching -----------------------------------------------------------

_INK = 128  # gray < _INK is ink (black text on white)


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


def _header_admits_text(data: bytes, fmt: str) -> bool:
    """Per-format pre-gate on the header alone, before any entropy
    decode. A lossy JPEG can carry an exact glyph grid only in the
    near-lossless regime, so every luma quant value must be ≤ 2
    (reconstruction error then ≤ ~2 gray levels, which the 32/224
    bilevel bands absorb): a photo pays a header parse, never an entropy
    decode. A rendered-text GIF's global palette or palette TIFF's
    ColorMap is MAJORITY near-black/near-white (antialiased renders add
    a minority of edge tones), so a photo bails before the LZW or strip
    decode. Formats or images without such a header table pass."""
    if fmt == "jpeg":
        return all(v <= 2 for t in parse_jpeg_quant(data).values() for v in t)
    pal = _header_palette(data, fmt)
    return pal is None or _count_mid(pal) * 2 <= len(pal)


def ocr_image_text(data: bytes, fmt: str) -> list[str]:
    """Image bytes of a sniffed format → decoded text lines, or [] when
    the image is not a clean grid rendering of the known font (the
    figure-only fallback) — reference ``image_to_markdown`` accepts
    png/jpg/bmp/tiff/webp (`services/document_service.py:652-665`).

    Four steps: the header pre-gate (_header_admits_text); the decode
    through the image layer's table, PNG and TIFF with bilevel=True so
    the decode streams through the shared _BimodalGate and aborts once
    mid-gray dominates (a photo pays a few scanlines or one strip); one
    majority-mid check on the decoded raster (a photo or gradient, not a
    text render); then the grid matcher. Formats without a decoder (SVG,
    WMF, EMF) and malformed or lossy input give []."""
    decode = DECODERS.get(fmt)
    if decode is None:
        return []
    try:
        if not _header_admits_text(data, fmt):
            return []
        w, h, gray = decode(data, bilevel=True) if fmt in ("png", "tiff") else decode(data)
    except (ValueError, struct.error, zlib.error, IndexError):
        return []  # malformed / non-bilevel keeps the figure-only shape (C7)
    if _count_mid(gray) * 2 > w * h:
        return []
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
