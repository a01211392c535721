"""Baseline JPEG (ITU-T T.81) luma decoder — from scratch, no codec libs.

The reference's image route accepts real ``jpg`` files and the media it
carves out of Office/PDF containers is mostly JPEG
(`services/document_service.py:652-665`; carved blobs in the sample
documents are baseline SOF0 — gray, 4:4:4 and 4:2:0). The engine needs
*pixels*, not just header dims, for the real-codec feature path
(`ops/multimodal.py`) and for OCR over near-lossless renders — and the
sandbox ships no PIL/ffmpeg, so this module implements the decoder from
the public spec (ITU-T T.81: markers B.2, huffman decode F.2.2, IDCT
A.3.3).

Scope — exactly the baseline class the corpus contains:

* SOF0/SOF1, 8-bit precision, 1 or 3 components, any H/V sampling with
  Y at full resolution (Hmax/Vmax), interleaved or single-component
  scans, restart markers, 8/16-bit DQT.
* Progressive SOF2 (T.81 Annex G): spectral selection + successive
  approximation, DC first/refine (interleaved or not) and AC first/
  refine with EOB-run coding — Y coefficients accumulate across scans
  in a padded block grid and the shared IDCT tail runs once at EOI.
* Output is the **Y plane only**: gray == Y by the YCbCr definition
  (ITU-R 601 luma), so chroma blocks are entropy-decoded just to advance
  the bitstream (interleaved scans) or skipped bytewise (single-
  component chroma scans, which end at the next real marker) — no
  chroma IDCT, no color convert.
* Arithmetic coding, hierarchical, 12-bit, and CMYK raise ValueError —
  callers fall back to the header-sniffed figure-only path.

Bounds: pixel count capped before any allocation (`limits.MAX_PIXELS`),
raster bytes under the shared MAX_DECODED_BYTES, and the entropy loop is
naturally bounded by the input length (every decoded symbol consumes at
least one bit; pad injection past the scan's marker is tracked and
raised as truncation). The Huffman decode is serial Python over a bit
reader that unstuffs each entropy segment once and refills whole bytes
per peek; dequantization, one IDCT over the stacked Y blocks and the
block-to-raster scatter are numpy, and the result is one (h, w) uint8
luma array. No Spark shuffle anywhere.
"""

from __future__ import annotations

import struct

import numpy as np

from documentconvert_spark.kernels import limits


# zigzag scan order (T.81 Figure A.6): index = zigzag position → raster index
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# IDCT-II basis (T.81 A.3.3): pixels = T.T @ coefs @ T, T[k,n] = c(k)/2 · cos((2n+1)kπ/16)
_T = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _c = (0.5 / np.sqrt(2.0)) if _k == 0 else 0.5
        _T[_k, _n] = _c * np.cos((2 * _n + 1) * _k * np.pi / 16.0)
_UNZIG = np.argsort(np.array(ZIGZAG))  # raster index → zigzag position


def _segment_end(d: bytes, p: int) -> int:
    """Position of the first marker at or after p: an 0xFF not followed
    by a stuffed 0x00 (or the end of the data)."""
    while True:
        i = d.find(b"\xff", p)
        if i < 0:
            return len(d)
        if i + 1 >= len(d) or d[i + 1] != 0x00:
            return i
        p = i + 2


class _Bits:
    """Entropy-segment bit reader: markers are never consumed (pad zeros
    are injected instead and counted — a pad burst before the segment's
    MCUs are done means truncation).

    The segment up to the next marker is unstuffed once (0xFF00 → 0xFF)
    and loaded eight bytes at a time, zeros past its end. `hz` is the
    furthest bit any peek or get has looked at; a reader fetching whole
    bytes only as reads need them would have fetched ceil(hz / 8), which
    defines the pad count and the raw resume position `p` exactly."""

    __slots__ = ("d", "start", "seg", "q", "buf", "n", "hz")

    def __init__(self, data: bytes, pos: int) -> None:
        self.d = data
        self._begin(pos)

    def _begin(self, pos: int) -> None:
        self.start = pos
        self.seg = self.d[pos:_segment_end(self.d, pos)].replace(b"\xff\x00", b"\xff")
        self.q = 0  # bytes loaded into buf (past the segment: zeros)
        self.buf = 0
        self.n = 0  # unread bits in buf
        self.hz = 0

    def _load(self) -> None:
        q = self.q
        word = int.from_bytes(self.seg[q:q + 8].ljust(8, b"\0"), "big")
        self.buf = ((self.buf & ((1 << self.n) - 1)) << 64) | word
        self.q = q + 8
        self.n += 64

    @property
    def pads(self) -> int:
        """Zero bytes injected past the segment's marker."""
        return max(0, ((self.hz + 7) >> 3) - len(self.seg))

    @property
    def p(self) -> int:
        """Raw data position after the fetched bytes (each fetched 0xFF
        was a two-byte stuffed pair in the raw stream)."""
        f = min((self.hz + 7) >> 3, len(self.seg))
        return self.start + f + self.seg.count(0xFF, 0, f)

    def peek(self, k: int) -> int:
        if self.n < k:
            self._load()
        n = self.n
        reach = (self.q << 3) - n + k
        if reach > self.hz:
            self.hz = reach
        return (self.buf >> (n - k)) & ((1 << k) - 1)

    def skip(self, k: int) -> None:
        self.n -= k  # always after a peek of at least k bits

    def get(self, k: int) -> int:
        if self.n < k:
            self._load()
        n = self.n - k
        self.n = n
        reach = (self.q << 3) - n
        if reach > self.hz:
            self.hz = reach
        return (self.buf >> n) & ((1 << k) - 1)

    def sync_restart(self, m: int) -> None:
        """Byte-align and consume the expected RSTm marker (T.81 E.1.5)."""
        if self.pads > 3:  # more pad than one 24-bit lookahead can inject
            raise ValueError("jpeg: truncated entropy segment")
        d = self.d
        p = self.p
        while p + 1 < len(d) and d[p] == 0xFF and d[p + 1] == 0xFF:
            p += 1  # fill bytes
        if p + 1 >= len(d) or d[p] != 0xFF or d[p + 1] != 0xD0 + (m & 7):
            raise ValueError("jpeg: missing restart marker")
        self._begin(p + 2)


def _build_huff(bits: list[int], vals: bytes):
    """Canonical table (T.81 Annex C) + an 8-bit LUT fast path."""
    lut: list[tuple[int, int] | None] = [None] * 256
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for length in range(1, 17):
        nb = bits[length - 1]
        valptr[length] = k
        mincode[length] = code
        if nb:
            if length <= 8:
                for i in range(nb):
                    base = (code + i) << (8 - length)
                    entry = (vals[k + i], length)
                    for x in range(1 << (8 - length)):
                        lut[base + x] = entry
            maxcode[length] = code + nb - 1
            code += nb
            k += nb
        code <<= 1
    if k != len(vals):
        raise ValueError("jpeg: huffman table count mismatch")
    return lut, mincode, maxcode, valptr, vals


def _decode_sym(br: _Bits, tbl) -> int:
    lut = tbl[0]
    e = lut[br.peek(8)]
    if e is not None:
        br.skip(e[1])
        return e[0]
    _, mincode, maxcode, valptr, vals = tbl
    code = br.get(8)  # 8 bits already known not to terminate
    length = 8
    while True:
        length += 1
        if length > 16:
            raise ValueError("jpeg: bad huffman code")
        code = (code << 1) | br.get(1)
        if code <= maxcode[length]:
            return vals[valptr[length] + code - mincode[length]]


def _extend(v: int, t: int) -> int:
    """Sign-extend a t-bit magnitude (T.81 F.2.2.1 EXTEND)."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _skip_entropy(data: bytes, pos: int) -> int:
    """Advance past an entropy segment without decoding (possible because
    real markers are never stuffed): used for chroma-only scans."""
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        nxt = data[pos + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:  # stuffing / restart
            pos += 2
            continue
        if nxt == 0xFF:  # fill byte
            pos += 1
            continue
        return pos
    return len(data)


def _prog_decode_scan(data: bytes, start: int, scan, comps, grid,
                      grid_bw: int, ss: int, se: int, ah: int, al: int,
                      restart: int, huff_dc, huff_ac,
                      w: int, h: int, hmax: int, vmax: int) -> int:
    """One progressive scan (T.81 Annex G) → end position in `data`.

    Mutates `grid`, the padded Y coefficient plane (zigzag order per
    block, blocks raster-major with row stride `grid_bw`). Chroma blocks
    in interleaved DC scans are entropy-decoded to keep bit position but
    their values are discarded; chroma-only scans never reach here (the
    caller skips them bytewise). AC scans are single-component by G.1.1;
    successive approximation follows G.1.2 (first pass shifts by Al,
    refinement appends one correction bit per nonzero coefficient)."""
    br = _Bits(data, start)
    get = br.get
    y_comp = comps[0]
    if ss == 0:  # DC band
        if se != 0:
            raise ValueError("jpeg: bad progressive DC band")
        tabs = {}
        if ah == 0:
            try:
                tabs = {c[0]: huff_dc[td] for c, td, _ta in scan}
            except KeyError:
                raise ValueError("jpeg: scan uses undefined huffman table") from None
        preds = {c[0]: 0 for c, _td, _ta in scan}
        if len(scan) > 1:
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            per_mcu = [(c, c[1], c[2]) for c, _td, _ta in scan]
        else:
            c = scan[0][0]
            cw = -(-w * c[1] // hmax)
            ch = -(-h * c[2] // vmax)
            mcus_x = -(-cw // 8)
            mcus_y = -(-ch // 8)
            per_mcu = [(c, 1, 1)]
        for mi in range(mcus_x * mcus_y):
            if restart and mi and mi % restart == 0:
                br.sync_restart((mi // restart - 1) & 7)
                for cid in preds:
                    preds[cid] = 0
            my, mx = divmod(mi, mcus_x)
            for c, ch_, cv_ in per_mcu:
                is_y = c is y_comp
                for v in range(cv_):
                    for u in range(ch_):
                        if len(scan) > 1:
                            bx, by = mx * ch_ + u, my * cv_ + v
                        else:
                            bx, by = mx, my
                        if ah == 0:
                            t = _decode_sym(br, tabs[c[0]])
                            if t > 15:
                                raise ValueError("jpeg: bad DC category")
                            if t:
                                preds[c[0]] += _extend(get(t), t)
                            if is_y:
                                dcval = preds[c[0]] << al
                                # Al and the diffs are file-controlled: a
                                # crafted accumulation must be a parse
                                # error, not an uncontained OverflowError
                                # out of the int32 coefficient store
                                if not -(1 << 31) <= dcval < 1 << 31:
                                    raise ValueError("jpeg: DC coefficient out of range")
                                grid[(by * grid_bw + bx) * 64] = dcval
                        else:  # DC refinement: one raw bit per block
                            bit = get(1)
                            if is_y and bit:
                                grid[(by * grid_bw + bx) * 64] |= 1 << al
    else:  # AC band: single-component scan (G.1.1.1.1), luma only here
        if len(scan) != 1 or se > 63 or ss > se:
            raise ValueError("jpeg: bad progressive AC band")
        _c, _td, ta = scan[0]
        try:
            act = huff_ac[ta]
        except KeyError:
            raise ValueError("jpeg: scan uses undefined huffman table") from None
        bw_blocks = -(-w // 8)
        bh_blocks = -(-h // 8)
        eobrun = 0
        p1 = 1 << al
        m1 = -p1
        for bi in range(bw_blocks * bh_blocks):
            if restart and bi and bi % restart == 0:
                br.sync_restart((bi // restart - 1) & 7)
                eobrun = 0
            by, bx = divmod(bi, bw_blocks)
            base = (by * grid_bw + bx) * 64
            if ah == 0:  # AC first pass (G.1.2.2)
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _decode_sym(br, act)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r < 15:  # EOBn: this block done, r more follow
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += get(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("jpeg: AC index overflow")
                    grid[base + k] = _extend(get(s), s) << al
                    k += 1
            else:  # AC refinement (G.1.2.3)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _decode_sym(br, act)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r < 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += get(r)
                                break
                            newval = 0  # ZRL: 16 zero-history positions
                        else:
                            if s != 1:
                                raise ValueError("jpeg: bad AC refine symbol")
                            newval = p1 if get(1) else m1
                        # advance over the run: nonzero-history coefs take
                        # a correction bit and do not count toward the run
                        while k <= se:
                            cv = grid[base + k]
                            if cv:
                                if get(1) and not (cv & p1):
                                    grid[base + k] = cv + (p1 if cv > 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if k > se:
                            if newval:
                                raise ValueError("jpeg: AC refine overflow")
                            break
                        if newval:
                            grid[base + k] = newval
                        k += 1
                if eobrun:  # EOB region: correction bits only
                    while k <= se:
                        cv = grid[base + k]
                        if cv and get(1) and not (cv & p1):
                            grid[base + k] = cv + (p1 if cv > 0 else m1)
                        k += 1
                    eobrun -= 1
    if br.pads > 3:
        raise ValueError("jpeg: truncated entropy segment")
    return br.p


def parse_jpeg_quant(data: bytes) -> dict[int, list[int]]:
    """DQT tables only (zigzag order) — the cheap pre-filter for the OCR
    gate: a near-lossless render has every luma quant value ≤ 2, a photo
    never does, and this parse never touches entropy data."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: bad magic")
    tables: dict[int, list[int]] = {}
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: marker desync")
        m = data[pos + 1]
        if m == 0xFF:
            pos += 1
            continue
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            pos += 2
            continue
        if m in (0xDA, 0xD9):  # SOS / EOI: past the tables
            break
        ln = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        if m == 0xDB:
            seg = data[pos + 4:pos + 2 + ln]
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq:
                    vals = [struct.unpack(">H", seg[i + 2 * j:i + 2 * j + 2])[0]
                            for j in range(64)]
                    i += 128
                else:
                    vals = list(seg[i:i + 64])
                    i += 64
                if len(vals) < 64:
                    raise ValueError("jpeg: short DQT")
                tables[tq] = vals
        pos += 2 + ln
    return tables


def decode_jpeg_gray(data: bytes) -> tuple[int, int, np.ndarray]:
    """Baseline/progressive JPEG bytes → (width, height, (h, w) uint8
    luma raster)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: bad magic")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, tuple] = {}
    huff_ac: dict[int, tuple] = {}
    import array as _array

    restart = 0
    frame = None  # (w, h, comps) with comps = [(cid, H, V, tq), ...]
    ny_blocks = 0
    coefs = _array.array("i")
    _ZBLOCK = _array.array("i", bytes(256))  # 64 zero int32s
    positions: list[tuple[int, int]] = []  # (bx, by) per stored Y block
    progressive = False
    grid: _array.array | None = None  # progressive Y coef plane (padded)
    grid_bw = grid_bh = 0
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: marker desync")
        m = data[pos + 1]
        if m == 0xFF:
            pos += 1
            continue
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            pos += 2
            continue
        if m == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("jpeg: truncated segment")
        ln = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        if ln < 2 or pos + 2 + ln > len(data):
            raise ValueError("jpeg: truncated segment")
        seg = data[pos + 4:pos + 2 + ln]
        if m == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq:
                    qt[tq] = [struct.unpack(">H", seg[i + 2 * j:i + 2 * j + 2])[0]
                              for j in range(64)]
                    i += 128
                else:
                    qt[tq] = list(seg[i:i + 64])
                    i += 64
                if len(qt[tq]) < 64 or any(not isinstance(v, int) for v in qt[tq]):
                    raise ValueError("jpeg: short DQT")
        elif m == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1:i + 17])
                n = sum(bits)
                vals = seg[i + 17:i + 17 + n]
                if len(vals) < n:
                    raise ValueError("jpeg: short DHT")
                (huff_ac if tc else huff_dc)[th] = _build_huff(bits, vals)
                i += 17 + n
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0 / SOF1 / SOF2 (progressive)
            if frame is not None:
                # no legal stream carries two frame headers; accepting one
                # would redefine dims under an already-allocated grid
                raise ValueError("jpeg: multiple frame headers")
            progressive = m == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("jpeg: unsupported precision")
            if nc not in (1, 3):
                raise ValueError("jpeg: unsupported component count")
            if w <= 0 or h <= 0 or w * h > limits.MAX_PIXELS:
                raise ValueError("jpeg: dimensions over cap")
            if w * h > limits.MAX_DECODED_BYTES:
                raise ValueError("jpeg: raster over decode cap")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci:9 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 15, tq))
            if any(cH < 1 or cV < 1 or cH > 4 or cV > 4 for _, cH, cV, _ in comps):
                raise ValueError("jpeg: bad sampling factors")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if comps[0][1] != hmax or comps[0][2] != vmax:
                raise ValueError("jpeg: luma not at full resolution")
            frame = (w, h, comps, hmax, vmax)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: unsupported frame class (lossless/arith/hier)")
        elif m == 0xDD:  # DRI
            restart = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS
            if frame is None:
                raise ValueError("jpeg: scan before frame header")
            w, h, comps, hmax, vmax = frame
            ns = seg[0]
            scan = []
            for si in range(ns):
                cs, tt = seg[1 + 2 * si:3 + 2 * si]
                comp = next((c for c in comps if c[0] == cs), None)
                if comp is None:
                    raise ValueError("jpeg: scan references unknown component")
                scan.append((comp, tt >> 4, tt & 15))
            data_start = pos + 2 + ln
            is_luma_scan = any(c[0] is comps[0] for c in scan)
            if not is_luma_scan:  # chroma-only: skip bytewise, no decode
                pos = _skip_entropy(data, data_start)
                continue
            if progressive:
                if len(seg) < 4 + 2 * ns:
                    raise ValueError("jpeg: truncated scan header")
                ss_, se_, a_ = seg[1 + 2 * ns:4 + 2 * ns]
                if grid is None:
                    grid_bw = -(-w // (8 * hmax)) * hmax
                    grid_bh = -(-h // (8 * vmax)) * vmax
                    grid = _array.array("i", bytes(256 * grid_bw * grid_bh))
                endp = _prog_decode_scan(
                    data, data_start, [(c, td, ta) for c, td, ta in scan],
                    comps, grid, grid_bw, ss_, se_, a_ >> 4, a_ & 15,
                    restart, huff_dc, huff_ac, w, h, hmax, vmax)
                pos = _skip_entropy(data, endp)
                continue
            mcu_w = 8 * hmax
            mcu_h = 8 * vmax
            if ns == 1:
                comp, _, _ = scan[0]
                cw = -(-w * comp[1] // hmax)
                ch = -(-h * comp[2] // vmax)
                mcus_x = -(-cw // 8)
                mcus_y = -(-ch // 8)
                per_mcu = [(comp, scan[0][1], scan[0][2], 1, 1)]
            else:
                mcus_x = -(-w // mcu_w)
                mcus_y = -(-h // mcu_h)
                per_mcu = [(c, td, ta, c[1], c[2]) for c, td, ta in scan]
            br = _Bits(data, data_start)
            preds = {c[0][0]: 0 for c in scan}
            mcu_count = mcus_x * mcus_y
            try:
                tabs = [(huff_dc[td], huff_ac[ta]) for _, td, ta in scan]
            except KeyError:
                raise ValueError("jpeg: scan uses undefined huffman table") from None
            peek, skip, get = br.peek, br.skip, br.get
            for mi in range(mcu_count):
                if restart and mi and mi % restart == 0:
                    br.sync_restart((mi // restart - 1) & 7)
                    for cid in preds:
                        preds[cid] = 0
                my, mx = divmod(mi, mcus_x)
                for (comp, td, ta, ch_, cv_), (dct, act) in zip(per_mcu, tabs):
                    is_y = comp is comps[0]
                    ac_lut = act[0]
                    for v in range(cv_):
                        for u in range(ch_):
                            if is_y:
                                base = len(coefs)
                                coefs.extend(_ZBLOCK)
                                if ns == 1:
                                    positions.append((mx, my))
                                else:
                                    positions.append((mx * ch_ + u, my * cv_ + v))
                            t = _decode_sym(br, dct)
                            if t > 15:
                                raise ValueError("jpeg: bad DC category")
                            if t:
                                preds[comp[0]] += _extend(get(t), t)
                            if is_y:
                                # same containment as the progressive DC
                                # path: crafted diff accumulation must not
                                # overflow the int32 store uncontained
                                if not -(1 << 31) <= preds[comp[0]] < 1 << 31:
                                    raise ValueError("jpeg: DC coefficient out of range")
                                coefs[base] = preds[comp[0]]
                            k = 1
                            while k <= 63:
                                # combined peek: huffman symbol (≤8 bits via
                                # LUT) + magnitude bits out of one 24-bit
                                # window — one buffer refill per coefficient
                                word = peek(24)
                                e = ac_lut[word >> 16]
                                if e is not None:
                                    rs, ln = e
                                    s = rs & 15
                                    if s == 0:
                                        skip(ln)
                                        if rs == 0xF0:
                                            k += 16
                                            continue
                                        break  # EOB
                                    k += rs >> 4
                                    if k > 63:
                                        raise ValueError("jpeg: AC index overflow")
                                    if is_y:
                                        mag = (word >> (24 - ln - s)) & ((1 << s) - 1)
                                        coefs[base + k] = _extend(mag, s)
                                    skip(ln + s)
                                    k += 1
                                    continue
                                rs = _decode_sym(br, act)
                                s = rs & 15
                                if s == 0:
                                    if rs == 0xF0:
                                        k += 16
                                        continue
                                    break  # EOB
                                k += rs >> 4
                                if k > 63:
                                    raise ValueError("jpeg: AC index overflow")
                                val = _extend(get(s), s)
                                if is_y:
                                    coefs[base + k] = val
                                k += 1
            if br.pads > 3:
                raise ValueError("jpeg: truncated entropy segment")
            pos = _skip_entropy(data, br.p)
            continue
        pos += 2 + ln
    if progressive:
        if grid is None:
            raise ValueError("jpeg: no decodable luma scan")
        # the padded grid IS the block-major coefficient store the shared
        # IDCT tail expects — blocks raster-major, 64 zigzag coefs each
        coefs = grid
        positions = [(bx, by) for by in range(grid_bh) for bx in range(grid_bw)]
    ny_blocks = len(positions)
    if frame is None or ny_blocks == 0:
        raise ValueError("jpeg: no decodable luma scan")
    w, h, comps, hmax, vmax = frame
    q = qt.get(comps[0][3])
    if q is None:
        raise ValueError("jpeg: luma quant table undefined")
    blocks = np.frombuffer(coefs.tobytes(), dtype=np.int32).astype(np.float64).reshape(ny_blocks, 64)
    blocks *= np.asarray(q, dtype=np.float64)[None, :]  # dequant (zigzag order)
    blocks = blocks[:, _UNZIG].reshape(ny_blocks, 8, 8)  # un-zigzag
    pix = _T.T[None, :, :] @ blocks @ _T[None, :, :]
    pix = np.clip(np.rint(pix + 128.0), 0, 255).astype(np.uint8)
    pos_xy = np.array(positions, dtype=np.int64).reshape(-1, 2)
    bw = int(pos_xy[:, 0].max()) + 1
    bh = int(pos_xy[:, 1].max()) + 1
    if bw * bh * 64 > limits.MAX_DECODED_BYTES:
        raise ValueError("jpeg: raster over decode cap")
    if bh * 8 < h or bw * 8 < w:
        raise ValueError("jpeg: luma scan does not cover the frame")
    # scatter blocks into the block grid; a position stored twice (a
    # second luma scan) keeps its LAST block, as sequential writes would
    cell = pos_xy[:, 1] * bw + pos_xy[:, 0]
    cell_rev = cell[::-1]
    _, first_rev = np.unique(cell_rev, return_index=True)
    keep = len(cell) - 1 - first_rev
    grid = np.zeros((bh * bw, 8, 8), dtype=np.uint8)
    grid[cell[keep]] = pix[keep]
    plane = grid.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    return w, h, np.ascontiguousarray(plane[:h, :w])
