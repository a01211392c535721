"""WebP lossless (VP8L) bitstream decoder — from scratch, no codec libs.

The reference's image route accepts real ``webp`` files
(`services/document_service.py:652-665`). This module decodes one VP8L
chunk payload to ARGB pixels per the public "WebP Lossless Bitstream
Specification"; the RIFF container walk and the luma fold live in
kernels/raster.decode_webp_gray, the image layer's WebP entry point:

* LSB-first bit reader refilled a word at a time; canonical prefix
  codes transmitted either as "simple" (1–2 symbols) or via the
  DEFLATE-style code-length code (19-symbol alphabet in the spec's
  permuted order, 16/17/18 repeats, optional max-symbol shortcut),
  decoded through a lookup table over a multi-bit peek;
* the entropy-coded image: optional color cache (multiplicative hash
  0x1e35a7bd), optional meta-prefix image selecting among huffman
  groups per 2^b tile, green/red/blue/alpha/distance codes, LZ77
  backward references with the 120-entry 2D neighbor distance map;
* inverse transforms, applied in reverse reading order: PREDICTOR (all
  14 modes), COLOR (cross-color deltas, signed*signed >> 5),
  SUBTRACT_GREEN, and COLOR_INDEXING (delta-coded palette + sub-byte
  pixel bundling for palettes of ≤16 colors).

The entropy decode is serial (LZ77 copies are list slices); every
inverse transform runs on uint32 numpy arrays. The
predictor's left-neighbor modes are a serial recurrence, so they are
resolved per pixel after the row's above-only modes are applied as one
array step.

Lossy VP8 frames have no from-scratch decoder (a full DCT codec): the
container walk raises ValueError for them and callers keep the
figure-only containment path, same as every other undecodable format
(C7).

Bounds: pixel count capped before allocation (`limits.MAX_PIXELS`),
LZ77 copies bounded by produced pixels, recursion fixed at one level
(entropy/transform images), and every read is length-checked by the bit
reader.
"""

from __future__ import annotations

import numpy as np

from documentconvert_spark.kernels import limits

# code-length-code transmission order (spec §6.2.2 / RFC 1951 analogue)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# distance codes 1..120 map to 2D neighbor offsets (spec §6.2.3): the
# scan-line distance is x + y*width (clamped to >= 1)
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


class _Bits:
    """LSB-first bit reader over the VP8L payload, refilled up to seven
    bytes at a time. `buf` holds `n` unread bits (bits past the end of
    the stream read as zero); consuming bits that are not there raises."""

    __slots__ = ("d", "pos", "buf", "n")

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 0
        self.buf = 0
        self.n = 0

    def _fill(self) -> None:
        chunk = self.d[self.pos:self.pos + 7]
        self.buf |= int.from_bytes(chunk, "little") << self.n
        self.pos += len(chunk)
        self.n += 8 * len(chunk)

    def get(self, k: int) -> int:
        if self.n < k:
            self._fill()
            if self.n < k:
                raise ValueError("webp: truncated bitstream")
        v = self.buf & ((1 << k) - 1)
        self.buf >>= k
        self.n -= k
        return v


_LUT_BITS = 10  # prefix-code lookup width; longer codes take the slow walk


class _Code:
    """Canonical prefix code: DEFLATE-style assignment (codes ordered by
    (length, symbol)), read MSB-of-code-first from the LSB-first stream.
    Codes up to _LUT_BITS long resolve with one table lookup over the
    next lut_bits buffered bits (entry = length << 16 | symbol, -1 = no
    short code); longer or unassigned prefixes fall back to the
    bit-by-bit walk."""

    __slots__ = ("single", "counts", "firsts", "offsets", "symbols",
                 "lut", "lut_bits")

    def __init__(self, lengths: list[int]) -> None:
        present = [(ln, sym) for sym, ln in enumerate(lengths) if ln]
        if not present:
            raise ValueError("webp: empty prefix code")
        if len(present) == 1:
            self.single = present[0][1]
            return
        self.single = None
        maxlen = max(ln for ln, _ in present)
        if maxlen > 15:
            raise ValueError("webp: code length over 15")
        counts = [0] * (maxlen + 1)
        for ln, _ in present:
            counts[ln] += 1
        # kraft check: over-subscription is corrupt, under is tolerated
        # only implicitly (reads may then fail to resolve)
        code = 0
        firsts = [0] * (maxlen + 1)
        offsets = [0] * (maxlen + 1)
        total = 0
        for ln in range(1, maxlen + 1):
            firsts[ln] = code
            offsets[ln] = total
            code = (code + counts[ln]) << 1
            total += counts[ln]
            if firsts[ln] + counts[ln] > (1 << ln):
                raise ValueError("webp: over-subscribed prefix code")
        present.sort()
        self.counts = counts
        self.firsts = firsts
        self.offsets = offsets
        self.symbols = [sym for _, sym in present]
        bits = min(maxlen, _LUT_BITS)
        lut = [-1] * (1 << bits)
        for ln in range(1, bits + 1):
            for j in range(counts[ln]):
                # the stream delivers the code MSB first into the lowest
                # buffered bit, so the table index is the bit-reversed code
                rev = int(format(firsts[ln] + j, f"0{ln}b")[::-1], 2)
                lut[rev::1 << ln] = [(ln << 16) | self.symbols[offsets[ln] + j]] * (1 << (bits - ln))
        self.lut = lut
        self.lut_bits = bits

    def read(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        # one lookup over the buffered bits: the per-symbol hot path
        if br.n < self.lut_bits:
            br._fill()
        e = self.lut[br.buf & ((1 << self.lut_bits) - 1)]
        if e >= 0:
            ln = e >> 16
            if br.n < ln:
                raise ValueError("webp: truncated bitstream")
            br.buf >>= ln
            br.n -= ln
            return e & 0xFFFF
        code = 0
        counts = self.counts
        for ln in range(1, len(counts)):
            code = (code << 1) | br.get(1)
            c = counts[ln]
            if c and code - self.firsts[ln] < c:
                return self.symbols[self.offsets[ln] + code - self.firsts[ln]]
        raise ValueError("webp: invalid prefix code")


def _read_code(br: _Bits, alphabet: int) -> _Code:
    """One prefix code (spec §6.2.1): simple (1–2 symbols) or normal
    (lengths transmitted through the code-length code)."""
    if br.get(1):  # simple
        n = br.get(1) + 1
        first_8bit = br.get(1)
        s0 = br.get(8 if first_8bit else 1)
        lengths = [0] * alphabet
        if s0 >= alphabet:
            raise ValueError("webp: simple code symbol out of range")
        lengths[s0] = 1
        if n == 2:
            s1 = br.get(8)
            if s1 >= alphabet or s1 == s0:
                raise ValueError("webp: simple code symbol out of range")
            # the spec builds the code canonically from code_lengths, so
            # bit 0 goes to the SMALLER symbol value regardless of
            # transmission order
            lengths[s1] = 1
        return _Code(lengths)
    # normal: read the code-length code
    num_clc = br.get(4) + 4
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.get(3)
    clc = _Code(clc_lengths)
    # optional cap on the number of transmitted symbols
    if br.get(1):
        length_nbits = 2 + 2 * br.get(3)
        max_symbol = 2 + br.get(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    sym = 0
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = clc.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev = cl
        elif cl == 16:
            rep = 3 + br.get(2)
            if sym + rep > alphabet:
                raise ValueError("webp: code length repeat overflow")
            for _ in range(rep):
                lengths[sym] = prev
                sym += 1
        elif cl == 17:
            sym += 3 + br.get(3)
        else:  # 18
            sym += 11 + br.get(7)
        if sym > alphabet:
            raise ValueError("webp: code length repeat overflow")
    return _Code(lengths)


def _prefix_value(sym: int, br: _Bits) -> int:
    """LZ77 length/distance prefix decoding (spec §6.2.3)."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.get(extra) + 1


def _decode_entropy_image(br: _Bits, w: int, h: int,
                          level0: bool) -> list[int]:
    """Entropy-coded ARGB image (spec §6.2): returns w*h pixels as
    uint32 ARGB in scan-line order. Transforms are NOT handled here —
    the caller reads them (main image only)."""
    cache_bits = 0
    cache: list[int] | None = None
    if br.get(1):
        cache_bits = br.get(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("webp: bad color cache size")
        cache = [0] * (1 << cache_bits)
    groups = 1
    meta: list[int] | None = None
    meta_bits = 0
    if level0 and br.get(1):
        meta_bits = br.get(3) + 2
        mw = -(-w // (1 << meta_bits))
        mh = -(-h // (1 << meta_bits))
        meta = _decode_entropy_image(br, mw, mh, False)
        groups = max((p >> 8) & 0xFFFF for p in meta) + 1
        if groups > 1 << 16:
            raise ValueError("webp: too many huffman groups")
    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    codes = []
    for _ in range(groups):
        codes.append((
            _read_code(br, green_alpha),   # green + length + cache
            _read_code(br, 256),           # red
            _read_code(br, 256),           # blue
            _read_code(br, 256),           # alpha
            _read_code(br, 40),            # distance
        ))
    npix = w * h
    out: list[int] = []
    append = out.append
    gcode = codes[0]
    mw = -(-w // (1 << meta_bits)) if meta is not None else 0
    # the color cache is folded in lazily: out[:synced] is already hashed
    # in, and the pending pixels are hashed only when a cache symbol needs
    # the cache (pixels read FROM the cache are never re-inserted)
    synced = 0
    shift = 32 - cache_bits
    while len(out) < npix:
        pos = len(out)
        if meta is not None:
            x, y = pos % w, pos // w
            gid = (meta[(y >> meta_bits) * mw + (x >> meta_bits)] >> 8) & 0xFFFF
            if gid >= groups:
                raise ValueError("webp: huffman group out of range")
            gcode = codes[gid]
        g = gcode[0].read(br)
        if g < 256:  # literal
            r = gcode[1].read(br)
            b = gcode[2].read(br)
            a = gcode[3].read(br)
            append((a << 24) | (r << 16) | (g << 8) | b)
        elif g < 280:  # LZ77 backward reference
            length = _prefix_value(g - 256, br)
            dcode = _prefix_value(gcode[4].read(br), br)
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dx + dy * w
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > npix:
                raise ValueError("webp: LZ77 reference out of range")
            if dist >= length:
                out.extend(out[pos - dist:pos - dist + length])
            else:  # overlapping copy: the last `dist` pixels repeat
                out.extend((out[pos - dist:] * (length // dist + 1))[:length])
        else:  # color cache
            if cache is None:
                raise ValueError("webp: cache symbol without cache")
            idx = g - 280
            if idx >= len(cache):
                raise ValueError("webp: cache index out of range")
            for px in out[synced:]:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> shift] = px
            append(cache[idx])
            synced = len(out)
    return out


# ---------------------------------------------------------------- transforms
# The channelwise helpers below work on one ARGB int or elementwise on a
# uint32 array alike (uint32 wraparound only drops the bit the masks drop).

def _avg2(a, b):
    """Channelwise floor average of two ARGB pixels."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _pixel_add(a, b):
    """Channelwise modular addition of two ARGB pixels."""
    return ((((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00)
            | (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF))


def _clip255(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(t: int, l: int, tl: int) -> int:  # noqa: E741 — spec naming
    """Spec §5: Manhattan distance of L and T to the estimate L+T-TL;
    return the closer one (L strictly closer, else T)."""
    p_l = p_t = 0
    for sh in (24, 16, 8, 0):
        tc = (t >> sh) & 0xFF
        lc = (l >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        p = lc + tc - tlc
        p_l += abs(p - lc)
        p_t += abs(p - tc)
    return l if p_l < p_t else t


def _cas_full(l: int, t: int, tl: int) -> int:  # noqa: E741
    px = 0
    for sh in (24, 16, 8, 0):
        c = _clip255(((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF))
        px |= c << sh
    return px


def _cas_half(l: int, t: int, tl: int) -> int:  # noqa: E741
    ave = _avg2(l, t)
    px = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        d = a - b
        half = d // 2 if d >= 0 else -((-d) // 2)  # C trunc toward zero
        px |= _clip255(a + half) << sh
    return px


def _left_pred(m: int, l: int, t: int, tl: int, tr: int) -> int:  # noqa: E741
    """Prediction of a mode that reads the left neighbor L."""
    if m == 1:
        return l
    if m == 5:
        return _avg2(_avg2(l, tr), t)
    if m == 6:
        return _avg2(l, tl)
    if m == 7:
        return _avg2(l, t)
    if m == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if m == 11:
        return _select(t, l, tl)
    if m == 12:
        return _cas_full(l, t, tl)
    return _cas_half(l, t, tl)


# predictor mode → slot: 0-5 index the modes that only read the row
# above (0 black, 2 T, 3 TR, 4 TL, 8 avg(TL,T), 9 avg(T,TR)), 6 = a mode
# that reads L, 7 = invalid
_PRED_SLOT = np.full(256, 7, dtype=np.intp)
_PRED_SLOT[[0, 2, 3, 4, 8, 9]] = np.arange(6)
_PRED_SLOT[[1, 5, 6, 7, 10, 11, 12, 13]] = 6


def _tile_image(elems: list[int], w: int, h: int, bits: int) -> np.ndarray:
    """Per-tile transform image → its value at every pixel, (h, w)."""
    mw = -(-w // (1 << bits))
    tiles = np.array(elems, dtype=np.uint32).reshape(-1, mw)
    return tiles[(np.arange(h) >> bits)[:, None], (np.arange(w) >> bits)[None, :]]


def _channel_cumsum(px: np.ndarray) -> np.ndarray:
    """Running channelwise _pixel_add along a 1-D ARGB array."""
    out = np.zeros_like(px)
    for sh in (0, 8, 16, 24):
        chan = ((px >> sh) & 0xFF).astype(np.uint8)
        out |= np.cumsum(chan, dtype=np.uint8).astype(np.uint32) << sh
    return out


def _apply_predictor_inverse(w: int, h: int, pix: np.ndarray,
                             bits: int, modes: list[int]) -> np.ndarray:
    """Inverse predictor, row by row. Within a row every pixel whose mode
    reads only the row above is reconstructed in one array step; the
    modes that read the left neighbor form a serial recurrence and are
    resolved left to right afterwards (their L is final by then)."""
    px = pix.reshape(h, w).copy()
    # row 0: black for (0,0), then L all the way — a running sum
    px[0, 0] = _pixel_add(int(px[0, 0]), 0xFF000000)
    px[0] = _channel_cumsum(px[0])
    mode_img = (_tile_image(modes, w, h, bits) >> 8) & 0xFF
    slots = _PRED_SLOT[mode_img[:, 1:]]
    cols = np.arange(w - 1)
    black = np.full(w - 1, 0xFF000000, dtype=np.uint32)
    for y in range(1, h):
        up, row = px[y - 1], px[y]
        row[0] = _pixel_add(int(row[0]), int(up[0]))
        if w == 1:
            continue
        slot = slots[y]
        if (slot == 7).any():
            raise ValueError("webp: bad predictor mode")
        t, tl = up[1:], up[:-1]
        # TR is defined on the CONTIGUOUS pixel buffer (spec §5): at the
        # rightmost column it is the current row's leftmost pixel
        tr = np.append(up[2:], row[0])
        preds = np.stack((black, t, tr, tl, _avg2(tl, t), _avg2(t, tr), t))
        done = slot < 6
        row[1:] = np.where(done, _pixel_add(row[1:], preds[slot.clip(0, 6), cols]),
                           row[1:])
        if not done.all():
            cur = row.tolist()
            above = up.tolist()
            m_row = mode_img[y].tolist()
            for x in (np.flatnonzero(~done) + 1).tolist():
                cur[x] = _pixel_add(cur[x], _left_pred(
                    m_row[x], cur[x - 1], above[x], above[x - 1],
                    above[x + 1] if x + 1 < w else cur[0]))
            row[:] = cur
    return px.reshape(-1)


def _apply_color_inverse(w: int, h: int, pix: np.ndarray,
                         bits: int, elems: list[int]) -> np.ndarray:
    """Inverse cross-color transform: red += delta(g2r, g), then
    blue += delta(g2b, g) + delta(r2b, new red), with
    delta(t, c) = signed(t) * signed(c) >> 5."""
    def signed(v: np.ndarray) -> np.ndarray:
        return (v & 0xFF).astype(np.int32) - (((v >> 7) & 1).astype(np.int32) << 8)

    e = _tile_image(elems, w, h, bits)
    px = pix.reshape(h, w)
    g = signed(px >> 8)
    r = (((px >> 16) & 0xFF).astype(np.int32) + ((signed(e) * g) >> 5)) & 0xFF
    b = ((px & 0xFF).astype(np.int32) + ((signed(e >> 8) * g) >> 5)
         + ((signed(e >> 16) * signed(r)) >> 5)) & 0xFF
    return ((px & 0xFF00FF00) | (r.astype(np.uint32) << 16)
            | b.astype(np.uint32)).reshape(-1)


def _apply_subtract_green_inverse(pix: np.ndarray) -> np.ndarray:
    g = (pix >> 8) & 0xFF
    return ((pix & 0xFF00FF00) | ((((pix >> 16) + g) & 0xFF) << 16)
            | ((pix + g) & 0xFF))


def decode_vp8l(payload: bytes) -> tuple[int, int, np.ndarray]:
    """VP8L chunk payload → (width, height, ARGB pixels as a 1-D uint32
    array in scan-line order)."""
    br = _Bits(payload)
    if br.get(8) != 0x2F:
        raise ValueError("webp: bad VP8L signature")
    w = br.get(14) + 1
    h = br.get(14) + 1
    br.get(1)  # alpha hint
    if br.get(3) != 0:
        raise ValueError("webp: unsupported VP8L version")
    if w * h > limits.MAX_PIXELS or w * h * 4 > limits.MAX_DECODED_BYTES:
        raise ValueError("webp: dimensions over cap")
    # transforms (each at most once), inverses applied in reverse order
    transforms: list[tuple] = []
    seen: set[int] = set()
    dec_w = w  # color-indexing with bundling shrinks the coded width
    while br.get(1):
        ttype = br.get(2)
        if ttype in seen:
            raise ValueError("webp: repeated transform")
        seen.add(ttype)
        if ttype == 0 or ttype == 1:  # PREDICTOR / COLOR
            bits = br.get(3) + 2
            mw = -(-dec_w // (1 << bits))
            mh = -(-h // (1 << bits))
            timg = _decode_entropy_image(br, mw, mh, False)
            transforms.append((ttype, bits, timg))
        elif ttype == 2:  # SUBTRACT_GREEN
            transforms.append((2,))
        else:  # COLOR_INDEXING
            psize = br.get(8) + 1
            # delta-coded entries; indices past the palette read as 0
            palette = np.zeros(256, dtype=np.uint32)
            palette[:psize] = _channel_cumsum(np.array(
                _decode_entropy_image(br, psize, 1, False), dtype=np.uint32))
            if psize <= 2:
                wb = 3
            elif psize <= 4:
                wb = 2
            elif psize <= 16:
                wb = 1
            else:
                wb = 0
            transforms.append((3, wb, palette))
            if wb:
                dec_w = -(-dec_w // (1 << wb))
    if any(tf[0] in (0, 1) for tf in transforms) and any(
            tf[0] == 3 and tf[1] for tf in transforms):
        # predictor/color tiles would have been sized at the bundled
        # width but applied post-unbundle — no real encoder emits this
        # combination; contain it instead of garbling
        raise ValueError("webp: transform combination unsupported")
    pix = np.array(_decode_entropy_image(br, dec_w, h, True), dtype=np.uint32)
    for tf in reversed(transforms):
        if tf[0] == 3:
            _, wb, palette = tf
            if wb:  # unbundle: 2^wb sub-byte indices per coded pixel
                bpp = 8 >> wb
                xs = np.arange(w)
                packed = pix.reshape(h, dec_w)[:, xs >> wb] >> 8
                shifts = ((xs & ((1 << wb) - 1)) * bpp).astype(np.uint32)
                pix = palette[(packed >> shifts) & ((1 << bpp) - 1)].reshape(-1)
                dec_w = w
            else:
                pix = palette[(pix >> 8) & 0xFF]
        elif tf[0] == 2:
            pix = _apply_subtract_green_inverse(pix)
        elif tf[0] == 1:
            pix = _apply_color_inverse(w, h, pix, tf[1], tf[2])
        else:
            pix = _apply_predictor_inverse(w, h, pix, tf[1], tf[2])
    if dec_w != w:
        raise ValueError("webp: bundled image without color indexing")
    return w, h, pix
