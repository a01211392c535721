"""Legacy binary Word (.doc) extractor and OLE container reader — from scratch.

The reference routes .doc files through headless LibreOffice → PDF → MinerU
(`services/document_service.py:128-185`; .doc is in its office whitelist at
:49-56). This module reads the format directly using only the public
[MS-CFB] (Compound File Binary) and [MS-DOC] specifications:

  1. CFB container: header → FAT (via DIFAT) → directory → stream reads
     (regular FAT chains and the mini stream for streams < cutoff).
  2. WordDocument stream: FIB base (magic 0xA5EC), fWhichTblStm flag picks
     the 1Table/0Table stream, FibRgFcLcb97.fcClx/lcbClx locate the Clx.
  3. Clx piece table (clxt 0x01 Prc skipped, 0x02 PlcPcd): each Pcd's fc
     encodes compressed-cp1252 (bit 30, fc/2) vs UTF-16LE text pieces.
  4. Text → spans: paragraph marks (\\r), table cell/row marks (0x07),
     field/control characters stripped; consecutive cell-marked chunks
     become table-grid spans, the rest paragraphs (first non-empty
     paragraph is treated as the document heading, like a title page).
  5. OfficeArt BLIP records ([MS-ODRAW]) carved from the Data stream
     give inline pictures their figure spans; the media side table
     carves .doc/.xls/.ppt pictures with the same carver.

Best-effort by design: a .doc that defeats the parser raises ValueError and
is contained as an error row (C7), exactly like the reference's conversion
failure path (document_service.py:334-383).
"""

from __future__ import annotations

import struct
import zlib

from documentconvert_spark.kernels.limits import check_decoded_size, inflate_capped
from documentconvert_spark.kernels.raster import image_file_ref, sniff_image_meta
from documentconvert_spark.kernels.spans import Span, finalize, normalize_text

OLE_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

_FREE = 0xFFFFFFFF
_ENDCHAIN = 0xFFFFFFFE


class _Cfb:
    def __init__(self, data: bytes):
        if data[:8] != OLE_MAGIC:
            raise ValueError("doc: not an OLE compound file")
        (self.sect_shift,) = struct.unpack_from("<H", data, 30)
        (self.mini_shift,) = struct.unpack_from("<H", data, 32)
        (self.n_fat,) = struct.unpack_from("<I", data, 44)
        (self.dir_start,) = struct.unpack_from("<I", data, 48)
        (self.mini_cutoff,) = struct.unpack_from("<I", data, 56)
        (self.minifat_start,) = struct.unpack_from("<I", data, 60)
        (self.n_minifat,) = struct.unpack_from("<I", data, 64)
        (self.difat_start,) = struct.unpack_from("<I", data, 68)
        (self.n_difat,) = struct.unpack_from("<I", data, 72)
        self.data = data
        self.ssz = 1 << self.sect_shift
        self.mssz = 1 << self.mini_shift

        # DIFAT: 109 entries in header + chained sectors. Both the count
        # and the chain pointers are file-controlled: without the cycle
        # guard + sector-count clamp, a DIFAT sector whose next-pointer is
        # itself under n_difat=0xFFFFFFFE spins ~4 billion iterations,
        # each appending 127 FAT indices (CPU + memory bomb).
        difat = list(struct.unpack_from("<109I", data, 76))
        nxt = self.difat_start
        per = self.ssz // 4 - 1
        seen_difat: set[int] = set()
        max_sectors = len(data) // self.ssz + 1
        for _ in range(min(self.n_difat, max_sectors)):
            if nxt in (_FREE, _ENDCHAIN) or nxt in seen_difat:
                break
            # Each DIFAT entry names one FAT sector that covers ssz/4
            # sectors; entries past the file's own sector count can only
            # index beyond EOF, so a forged chain where every sector is a
            # valid link must not keep growing the list (the cycle guard
            # bounds ITERATIONS, but ~127 entries per iteration times
            # 128 FAT ints per entry is still an allocation bomb).
            if len(difat) * (per + 1) >= max_sectors:
                break
            seen_difat.add(nxt)
            sec = self._sector(nxt)
            vals = struct.unpack_from(f"<{per + 1}I", sec, 0)
            difat.extend(vals[:per])
            nxt = vals[per]
        self.fat: list[int] = []
        for fs in difat:
            if fs == _FREE:
                continue
            if len(self.fat) >= max_sectors:
                break
            self.fat.extend(struct.unpack_from(f"<{self.ssz // 4}I", self._sector(fs), 0))

        self.dir = self._read_chain(self.dir_start)
        self.entries = []
        for off in range(0, len(self.dir), 128):
            e = self.dir[off : off + 128]
            if len(e) < 128:
                break
            (name_len,) = struct.unpack_from("<H", e, 64)
            if name_len < 2:
                continue
            name = e[: name_len - 2].decode("utf-16-le", errors="replace")
            otype = e[66]
            (start,) = struct.unpack_from("<I", e, 116)
            (size,) = struct.unpack_from("<Q", e, 120)
            self.entries.append((name, otype, start, size))

        # mini stream lives in the root entry's chain
        root = next((e for e in self.entries if e[1] == 5), None)
        self.mini_stream = self._read_chain(root[2])[: root[3]] if root else b""
        self.minifat: list[int] = []
        if self.n_minifat:
            mf = self._read_chain(self.minifat_start)
            self.minifat = list(struct.unpack_from(f"<{len(mf) // 4}I", mf, 0))

    def _sector(self, n: int) -> bytes:
        # MS-CFB: sector 0 starts at offset 1<<shift (the header occupies a
        # full sector), i.e. (n+1)*ssz — NOT 512+n*ssz, which only happens to
        # agree for the common 512-byte v3 files and reads garbage for v4
        # compound files with 4096-byte sectors.
        off = (n + 1) * self.ssz
        return self.data[off : off + self.ssz]

    def _read_chain(self, start: int, limit: int = 1 << 26) -> bytes:
        out = bytearray()
        s = start
        seen = set()
        while s not in (_FREE, _ENDCHAIN) and s < len(self.fat) and s not in seen:
            seen.add(s)
            out += self._sector(s)
            if len(out) > limit:
                break
            s = self.fat[s]
        return bytes(out)

    def _read_mini_chain(self, start: int, size: int) -> bytes:
        out = bytearray()
        s = start
        seen = set()
        while s not in (_FREE, _ENDCHAIN) and s < len(self.minifat) and s not in seen:
            seen.add(s)
            out += self.mini_stream[s * self.mssz : (s + 1) * self.mssz]
            if len(out) >= size:
                break
            s = self.minifat[s]
        return bytes(out[:size])

    def stream(self, name: str) -> bytes:
        for n, otype, start, size in self.entries:
            if n == name and otype == 2:
                if size < self.mini_cutoff:
                    return self._read_mini_chain(start, size)
                return self._read_chain(start)[:size]
        raise ValueError(f"doc: malformed compound document (no stream {name!r})")


def _pieces(word: bytes, table: bytes) -> list[tuple[int, int, int, bool]]:
    """(cp_start, cp_end, fc, compressed) text pieces from the Clx."""
    (fc_clx,) = struct.unpack_from("<I", word, 0x01A2)
    (lcb_clx,) = struct.unpack_from("<I", word, 0x01A6)
    if lcb_clx == 0:
        raise ValueError("doc: empty Clx (no piece table)")
    clx = table[fc_clx : fc_clx + lcb_clx]
    i = 0
    while i < len(clx):
        t = clx[i]
        if t == 0x01:  # Prc: grpprl, skip
            (cb,) = struct.unpack_from("<H", clx, i + 1)
            i += 3 + cb
        elif t == 0x02:  # PlcPcd
            (lcb,) = struct.unpack_from("<I", clx, i + 1)
            plc = clx[i + 5 : i + 5 + lcb]
            n = (len(plc) - 4) // 12  # n+1 CPs of 4 bytes + n PCDs of 8 bytes
            cps = struct.unpack_from(f"<{n + 1}I", plc, 0)
            out = []
            for k in range(n):
                pcd = plc[(n + 1) * 4 + k * 8 : (n + 1) * 4 + (k + 1) * 8]
                (fc_raw,) = struct.unpack_from("<I", pcd, 2)
                compressed = bool(fc_raw & 0x40000000)
                fc = (fc_raw & 0x3FFFFFFF)
                if compressed:
                    fc //= 2
                out.append((cps[k], cps[k + 1], fc, compressed))
            return out
        else:
            raise ValueError(f"doc: unknown clxt byte {t:#x}")
    raise ValueError("doc: no PlcPcd in Clx")


# cp1252 high range differs from latin-1 for 0x80-0x9F; plus MS-DOC maps a few
_CP1252_FIX = {0x82: "‚", 0x91: "‘", 0x92: "’", 0x93: "“", 0x94: "”",
               0x95: "•", 0x96: "–", 0x97: "—", 0x85: "…", 0xA0: " "}


def _decode_piece(raw: bytes, compressed: bool) -> str:
    if compressed:
        try:
            return raw.decode("cp1252")
        except (UnicodeDecodeError, LookupError):
            return "".join(_CP1252_FIX.get(b, chr(b)) for b in raw)
    return raw.decode("utf-16-le", errors="replace")


# ------------------------------------------------------------ OfficeArt BLIPs
# Legacy OLE documents (.doc/.xls/.ppt) embed pictures as OfficeArt BLIP
# records ([MS-ODRAW]): 8-byte record header (verInstance, fbt, len), one
# or two 16-byte UIDs, then the raw PNG/JPEG/DIB bytes (bitmap blips carry
# one extra tag byte). The reference renders these through LibreOffice;
# the engine carves the actual bytes into the media side table (and
# extract_doc keys its inline-picture figure spans by them).

_BLIP_FBT = {0xF01A: "emf", 0xF01B: "wmf", 0xF01C: "pict", 0xF01D: "jpeg",
             0xF01E: "png", 0xF01F: "dib", 0xF029: "jpeg", 0xF02A: "tiff"}
_IMG_MAGICS = (b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"GIF8", b"BM",
               b"II*\x00", b"MM\x00*")


def _blip_payload(kind: str, body: bytes) -> bytes | None:
    """Locate the picture bytes after the UID block. Rather than trusting
    the instance field to say one-vs-two UIDs, probe both layouts for a
    real image magic (bitmap blips add a 1-byte tag; metafiles a 34-byte
    header whose compression byte says whether the payload is deflated)."""
    if kind in ("png", "jpeg", "dib", "tiff"):
        for off in (17, 33):
            cand = body[off:]
            if any(cand.startswith(m) for m in _IMG_MAGICS):
                # blip record length may include shape-property trailer
                # bytes after the image; cut at the format's own end marker
                if cand.startswith(b"\x89PNG"):
                    end = cand.find(b"IEND")
                    if end != -1:
                        cand = cand[:end + 8]
                elif cand.startswith(b"\xff\xd8"):
                    end = cand.rfind(b"\xff\xd9")
                    if end != -1:
                        cand = cand[:end + 2]
                return cand
        # DIB blips carry a headerless BITMAPINFOHEADER (biSize=40 first)
        if kind == "dib":
            for off in (17, 33):
                if body[off:off + 4] == b"\x28\x00\x00\x00":
                    return body[off:]
        return None
    # metafiles (emf/wmf/pict): UID(s) + 34-byte header; compression byte
    # at header offset 32 (0 = deflate, 0xFE = stored)
    for off in (16, 32):
        hdr = body[off:off + 34]
        if len(hdr) < 34:
            continue
        comp = hdr[32]
        raw = body[off + 34:]
        if comp == 0:
            try:
                raw = inflate_capped(raw, "blip metafile")
            except (zlib.error, ValueError):
                continue
        elif comp != 0xFE:
            continue
        if (kind == "emf" and raw[40:44] == b" EMF") or (
            kind == "wmf" and (raw[:4] == b"\xd7\xcd\xc6\x9a"
                               or raw[:4] in (b"\x01\x00\x09\x00", b"\x02\x00\x09\x00"))
        ) or kind == "pict":
            return raw
    return None


def carve_officeart_blips(stream: bytes) -> list[tuple[str, bytes]]:
    """[(media_ref, bytes)] for every OfficeArt BLIP in an OLE stream, in
    stream order, keyed content-derived like every other media ref in the
    engine. Repeated images appear once per record — callers that need a
    unique media table dedup by ref; callers that zip against picture
    anchors (extract_doc) need the duplicates to keep counts aligned."""
    out = []
    i, n = 0, len(stream)
    while i + 8 <= n:
        verinst, fbt, ln = struct.unpack_from("<HHI", stream, i)
        if fbt in _BLIP_FBT and 0 < ln <= n - i - 8:
            kind = _BLIP_FBT[fbt]
            pic = _blip_payload(kind, stream[i + 8:i + 8 + ln])
            if pic is not None:
                fmt, _w, _h = sniff_image_meta(pic)
                ref = image_file_ref(pic, fmt if fmt != "unknown" else kind)
                out.append((ref, pic))
            # matched a plausible blip record header: skip the whole record
            # either way (rescanning inside it byte-by-byte is quadratic
            # and can carve spurious nested matches)
            i += 8 + ln
            continue
        i += 1
    return out


def extract_doc(content: bytes, cfb: _Cfb | None = None) -> list[Span]:
    cfb = cfb or _Cfb(content)
    word = cfb.stream("WordDocument")
    (magic,) = struct.unpack_from("<H", word, 0)
    if magic != 0xA5EC:
        raise ValueError(f"doc: bad FIB magic {magic:#x}")
    (flags,) = struct.unpack_from("<H", word, 0x000A)
    which = "1Table" if flags & 0x0200 else "0Table"
    table = cfb.stream(which)
    (ccp_text,) = struct.unpack_from("<I", word, 0x004C)

    chunks: list[str] = []
    remaining = ccp_text
    decoded = 0
    for cp_s, cp_e, fc, compressed in _pieces(word, table):
        if remaining <= 0:
            break
        n = min(cp_e - cp_s, remaining)
        width = 1 if compressed else 2
        raw = word[fc : fc + n * width]
        # `remaining` counts CLAIMED chars (ccp_text and the cp ranges are
        # both file-controlled u32s), but each piece APPENDS its actual
        # slice — N overlapping PCDs all pointing at the same fc would
        # otherwise accumulate N x len(word) before the join below.
        # Charge what is actually decoded.
        decoded += len(raw)
        check_decoded_size(decoded, "doc text pieces")
        chunks.append(_decode_piece(raw, compressed))
        remaining -= n
    text = "".join(chunks)

    # Inline pictures: each 0x01 char anchors an object. When the count of
    # anchors exactly equals the count of OfficeArt BLIPs carved from the
    # Data stream, both follow document order and can be zipped into
    # interleaved figure spans (the reference renders these through
    # LibreOffice -> MinerU as inline images). Any mismatch — e.g. OLE
    # equation objects sharing the anchor char — disables the mapping
    # rather than risking misplaced refs.
    fig_refs: list[str] | None = None
    try:
        blips = carve_officeart_blips(cfb.stream("Data"))
        # EVERY 0x01 anchor owns one Data-stream blip in document order:
        # bare anchors are inline pictures, in-field anchors (EMBED
        # equations etc.) own their rendered preview metafile — the carver
        # returns both kinds, so total counts must line up exactly
        if blips and text.count("\x01") == len(blips):
            fig_refs = [ref for ref, _pic in blips]
    except Exception:  # noqa: BLE001 — figure mapping is best-effort
        fig_refs = None

    # control characters: 0x07 cell/row mark, 0x0D paragraph, 0x0B line break,
    # 0x0C page break, 0x13-0x15 field chars, 0x01/0x08 pictures/objects
    spans: list[Span] = []
    cur_rows: list[str] = []
    cur_cells: list[str] = []
    heading_seen = False
    fig_i = 0
    pending_figs: list[str] = []

    def flush_table() -> None:
        nonlocal cur_rows
        if cur_rows:
            spans.append(Span("table", normalize_text("\n".join(cur_rows)), "", -1))
            cur_rows = []
        for ref in pending_figs:
            spans.append(Span("figure", "", ref, -1))
        pending_figs.clear()

    def emit_text(ptxt: str) -> None:
        nonlocal heading_seen
        if ptxt.strip():
            kind = "paragraph"
            if not heading_seen and len(ptxt.strip()) <= 80:
                kind = "heading"
                heading_seen = True
            spans.append(Span(kind, normalize_text(ptxt), "", -1,
                              1 if kind == "heading" else 0))

    in_field_instr = False
    for para in text.split("\r"):
        buf: list[str] = []
        cells: list[str] = []
        # table-ness is a property of the whole paragraph — decide it up
        # front so an anchor in the FIRST cell (before any 0x07) routes to
        # pending_figs instead of splitting the table
        is_table_para = "\x07" in para
        for ch in para:
            o = ord(ch)
            if o == 0x07:
                cells.append("".join(buf).strip())
                buf = []
            elif o == 0x13:
                in_field_instr = True
            elif o == 0x14:
                in_field_instr = False
            elif o == 0x15:
                in_field_instr = False
            elif o in (0x01, 0x08):
                # object anchor: inline picture, or an OLE object's
                # rendered preview when inside an EMBED field
                if o == 0x01 and fig_refs is not None and fig_i < len(fig_refs):
                    ref = fig_refs[fig_i]
                    fig_i += 1
                    if is_table_para:
                        pending_figs.append(ref)  # after the table flush
                    else:
                        emit_text("".join(buf))
                        buf = []
                        spans.append(Span("figure", "", ref, -1))
                continue
            elif o == 0x0B:
                buf.append("\n")
            elif o < 0x20 and o not in (0x09,):
                continue
            elif not in_field_instr:
                buf.append(ch)
        if is_table_para:
            tail = "".join(buf).strip()
            if tail:
                cells.append(tail)
            cur_rows.append("\t".join(cells))
            continue
        flush_table()
        emit_text("".join(buf))
    flush_table()
    if not spans:
        raise ValueError("doc: no text extracted")
    return finalize(spans)
