"""Legacy binary Excel (.xls, BIFF8) and PowerPoint (.ppt) extractors —
from scratch, stdlib only, on top of the CFB container reader in
kernels/minidoc.py.

Both formats are in the reference's office whitelist
(`services/document_service.py:49-53`; LibreOffice route). Built from the
public [MS-XLS] and [MS-PPT] specifications:

  .xls: 'Workbook'/'Book' stream → BIFF record walk. BOUNDSHEET records
        name the sheets (and give substream offsets), SST holds the shared
        strings (XLUnicodeRichExtendedString: compressed-latin1 vs utf-16,
        rich/ext runs skipped, CONTINUE-record aware), and per-substream
        LABELSST / NUMBER / RK / MULRK / BOOLERR / LABEL records give cell
        values. Each sheet → heading span (name) + table span (tab grid).

  .ppt: 'PowerPoint Document' stream → record tree walk. TextCharsAtom
        (utf-16) / TextBytesAtom (latin-1) carry the text runs in slide
        order; each becomes a paragraph span (first line of a TextHeaderAtom
        of type title → heading).
"""

from __future__ import annotations

import struct

from documentconvert_spark.kernels.limits import check_decoded_size
from documentconvert_spark.kernels.minidoc import _Cfb
from documentconvert_spark.kernels.miniooxml import (
    _DATE_FMT_IDS,
    _PERCENT_FMT_IDS,
    _TIME_ONLY_IDS,
    _fmt_num,
    _is_date_code,
    _is_percent_code,
    excel_serial_to_text,
    percent_to_text,
)
from documentconvert_spark.kernels.spans import Span, finalize, normalize_text

# BIFF8's own sheet bounds: 256 columns (IV), 65536 rows. The column
# field is a u16, so a crafted record can claim c=65535 and the row
# padding below would emit ~64 KB of tabs per 14-byte record (~4,700x
# amplification) — cells beyond the format's own grid are invalid and
# ignored, exactly like beyond-XFD refs in the xlsx path.
_MAX_COL = 255


# -- .xls (BIFF8) ------------------------------------------------------------

def _records(stream: bytes, start: int = 0):
    """Yield (opcode, offset_of_payload, payload) BIFF records."""
    i = start
    n = len(stream)
    while i + 4 <= n:
        op, sz = struct.unpack_from("<HH", stream, i)
        if op == 0:
            break
        yield op, i + 4, stream[i + 4 : i + 4 + sz]
        i += 4 + sz


def _read_xl_string(buf: bytes, pos: int) -> tuple[str, int]:
    """XLUnicodeRichExtendedString at pos → (text, next_pos). No CONTINUE
    handling here — caller passes a stitched buffer."""
    (cch,) = struct.unpack_from("<H", buf, pos)
    flags = buf[pos + 2]
    pos += 3
    rich = flags & 0x08
    ext = flags & 0x04
    n_rich = 0
    cb_ext = 0
    if rich:
        (n_rich,) = struct.unpack_from("<H", buf, pos)
        pos += 2
    if ext:
        (cb_ext,) = struct.unpack_from("<I", buf, pos)
        pos += 4
    if flags & 0x01:  # utf-16le
        raw = buf[pos : pos + 2 * cch]
        text = raw.decode("utf-16-le", errors="replace")
        pos += 2 * cch
    else:  # compressed: high bytes zero
        raw = buf[pos : pos + cch]
        text = raw.decode("latin-1", errors="replace")
        pos += cch
    pos += 4 * n_rich + cb_ext
    return text, pos


def _parse_sst(payload_parts: list[bytes]) -> list[str]:
    """Parse SST + CONTINUE records. Strings may restart mid-CONTINUE with
    a fresh flags byte; this implementation stitches the parts and re-reads
    the flags at each part boundary per [MS-XLS] 2.5.296."""
    out: list[str] = []
    if not payload_parts:
        return out
    first = payload_parts[0]
    (total, unique) = struct.unpack_from("<II", first, 0)
    # state machine across parts
    part_idx = 0
    pos = 8
    pending_chars = 0
    pending_wide = False
    pending_skip = 0  # rich-run + ext bytes trailing the chars
    cur: list[str] = []

    def cur_part() -> bytes:
        return payload_parts[part_idx]

    while len(out) < unique:
        part = cur_part()
        if pos >= len(part):
            part_idx += 1
            if part_idx >= len(payload_parts):
                break
            pos = 0
            if pending_chars:
                # continuation starts with a fresh grbit byte
                pending_wide = bool(payload_parts[part_idx][0] & 0x01)
                pos = 1
            continue
        if pending_chars:
            avail = len(part) - pos
            width = 2 if pending_wide else 1
            take = min(pending_chars, avail // width)
            if take == 0:
                # A wide (UTF-16) run hit a part with an odd number of
                # remaining bytes: no whole character fits, so the loop
                # would make no progress forever. There is no safe re-sync
                # point (skipping the part would misparse every later
                # string header and emit WRONG cell text under valid SST
                # indices), so fail the workbook — the UDF layer contains
                # it as an error row (C7), which beats silent corruption.
                raise ValueError("biff: SST wide-string run split on an odd byte boundary")
            raw = part[pos : pos + take * width]
            cur.append(raw.decode("utf-16-le" if pending_wide else "latin-1", "replace"))
            pos += take * width
            pending_chars -= take
            if pending_chars == 0:
                out.append("".join(cur))
                cur = []
            continue
        if pending_skip:
            # rich-text runs / ext payload after the chars — NOT part of
            # the next string's header; may itself span CONTINUEs
            take = min(pending_skip, len(part) - pos)
            pos += take
            pending_skip -= take
            continue
        # new string header
        if pos + 3 > len(part):
            part_idx += 1
            pos = 0
            continue
        (cch,) = struct.unpack_from("<H", part, pos)
        flags = part[pos + 2]
        pos += 3
        n_rich = 0
        cb_ext = 0
        if flags & 0x08:
            (n_rich,) = struct.unpack_from("<H", part, pos)
            pos += 2
        if flags & 0x04:
            (cb_ext,) = struct.unpack_from("<I", part, pos)
            pos += 4
        pending_chars = cch
        pending_wide = bool(flags & 0x01)
        pending_skip = 4 * n_rich + cb_ext
        if cch == 0:
            out.append("")
    return out


def _rk_value(rk: int) -> float:
    cent = rk & 0x01
    if rk & 0x02:
        iv = rk >> 2
        if iv & 0x20000000:  # signed 30-bit integer
            iv -= 1 << 30
        v = float(iv)
    else:
        v = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    if cent:
        v /= 100.0
    return v


def _num_text(v: float) -> str:
    return _fmt_num(repr(v))  # same int-collapse rule as the xlsx path


def extract_xls(content: bytes, cfb: _Cfb | None = None) -> list[Span]:
    cfb = cfb or _Cfb(content)
    try:
        wb = cfb.stream("Workbook")
    except ValueError:
        wb = cfb.stream("Book")

    # pass 1: globals — SST (with CONTINUEs), BOUNDSHEETs, and the
    # number-format machinery (FORMAT strings, XF ifmt indirection,
    # Date1904) so date cells render as dates, not day serials — the
    # BIFF ifmt builtins share ECMA-376's numFmtId numbering
    sst: list[str] = []
    sheets: list[tuple[str, int]] = []
    custom_date: dict[int, bool] = {}
    custom_pct: dict[int, bool] = {}
    xf_date: list[bool] = []
    xf_time: list[bool] = []
    xf_pct: list[bool] = []
    date1904 = False
    it = _records(wb)
    for op, _off, payload in it:
        if op == 0x0022 and len(payload) >= 2:  # Date1904
            date1904 = bool(struct.unpack_from("<H", payload, 0)[0])
        elif op == 0x041E and len(payload) >= 5:  # FORMAT
            (ifmt,) = struct.unpack_from("<H", payload, 0)
            try:
                code, _ = _read_xl_string(payload, 2)
            except (struct.error, IndexError):
                code = ""
            custom_date[ifmt] = _is_date_code(code)
            custom_pct[ifmt] = _is_percent_code(code)
        elif op == 0x00E0 and len(payload) >= 4:  # XF
            (ifmt,) = struct.unpack_from("<H", payload, 2)
            xf_date.append(ifmt in _DATE_FMT_IDS or custom_date.get(ifmt, False))
            xf_time.append(ifmt in _TIME_ONLY_IDS)
            xf_pct.append(ifmt in _PERCENT_FMT_IDS or custom_pct.get(ifmt, False))
        elif op == 0x00FC:  # SST
            parts = [payload]
            for op2, _o2, p2 in it:
                if op2 == 0x003C:  # CONTINUE
                    parts.append(p2)
                else:
                    if op2 == 0x0085:
                        (lb,) = struct.unpack_from("<I", p2, 0)
                        name, _ = _read_xl_string_short(p2, 6)
                        sheets.append((name, lb))
                    break
            sst = _parse_sst(parts)
        elif op == 0x0085:  # BOUNDSHEET
            (lb,) = struct.unpack_from("<I", payload, 0)
            name, _ = _read_xl_string_short(payload, 6)
            sheets.append((name, lb))
        elif op == 0x000A and not sheets:  # EOF of globals before any sheet
            break

    spans: list[Span] = []
    for name, lb in sheets:
        cells: dict[tuple[int, int], str] = {}
        out_chars = 0

        def put(r: int, c: int, val: str) -> None:
            # budget BEFORE the grid joins: N 14-byte LABELSST records all
            # referencing one big SST string would otherwise materialize
            # N x len(string) in the per-row "\t".join below
            nonlocal out_chars
            if c > _MAX_COL:
                return
            out_chars += len(val) + 1
            check_decoded_size(out_chars, "xls sheet text")
            cells[(r, c)] = val

        def num_cell(v: float, xf: int) -> str:
            if 0 <= xf < len(xf_date) and xf_date[xf]:
                return excel_serial_to_text(repr(v), date1904, xf_time[xf])
            if 0 <= xf < len(xf_pct) and xf_pct[xf]:
                return percent_to_text(repr(v))
            return _num_text(v)

        pending_str: tuple[int, int] | None = None  # FORMULA cell awaiting STRING
        for op, _off, payload in _records(wb, lb):
            if op == 0x000A:  # EOF — end of this sheet substream
                break
            if op == 0x0207 and pending_str is not None:  # STRING (formula result)
                try:
                    txt, _ = _read_xl_string(payload, 0)
                    put(*pending_str, txt)
                except (struct.error, IndexError):
                    pass
                pending_str = None
                continue
            if op not in (0x04BC, 0x0221, 0x0236):
                # ShrFmla / Array / Table may sit between a FORMULA and
                # its STRING result ([MS-XLS] 2.4.127); anything else
                # orphans the pending string cell
                pending_str = None
            if op == 0x0006 and len(payload) >= 14:  # FORMULA (cached value)
                r, c, xf = struct.unpack_from("<HHH", payload, 0)
                if struct.unpack_from("<H", payload, 12)[0] == 0xFFFF:
                    kind = payload[6]
                    if kind == 0:  # string result in the following STRING record
                        pending_str = (r, c)
                    elif kind == 1:  # boolean
                        put(r, c, "TRUE" if payload[8] else "FALSE")
                    # kind 2 (error) / 3 (blank): emit nothing
                else:
                    (v,) = struct.unpack_from("<d", payload, 6)
                    put(r, c, num_cell(v, xf))
            elif op == 0x0205 and len(payload) >= 8:  # BOOLERR
                r, c, _xf = struct.unpack_from("<HHH", payload, 0)
                if payload[7] == 0:  # boolean (1 = error code: emit nothing)
                    put(r, c, "TRUE" if payload[6] else "FALSE")
            elif op == 0x00FD and len(payload) >= 10:  # LABELSST
                r, c, _xf, isst = struct.unpack_from("<HHHI", payload, 0)
                if 0 <= isst < len(sst):
                    put(r, c, sst[isst])
            elif op == 0x0203 and len(payload) >= 14:  # NUMBER
                r, c, xf = struct.unpack_from("<HHH", payload, 0)
                (v,) = struct.unpack_from("<d", payload, 6)
                put(r, c, num_cell(v, xf))
            elif op == 0x027E and len(payload) >= 10:  # RK
                r, c, xf = struct.unpack_from("<HHH", payload, 0)
                (rk,) = struct.unpack_from("<I", payload, 6)
                put(r, c, num_cell(_rk_value(rk), xf))
            elif op == 0x00BD:  # MULRK
                r, c_first = struct.unpack_from("<HH", payload, 0)
                n_rk = (len(payload) - 6) // 6
                for k in range(n_rk):
                    xf, rk = struct.unpack_from("<HI", payload, 4 + k * 6)
                    put(r, c_first + k, num_cell(_rk_value(rk), xf))
            elif op == 0x0204 and len(payload) >= 8:  # LABEL (BIFF8 inline)
                r, c, _xf = struct.unpack_from("<HHH", payload, 0)
                txt, _ = _read_xl_string(payload, 6)
                put(r, c, txt)
        if not cells:
            continue
        by_row: dict[int, dict[int, str]] = {}
        for (r, c), v in cells.items():
            by_row.setdefault(r, {})[c] = v
        rows_out = []
        for r in sorted(by_row):
            row_cells = by_row[r]
            width = max(row_cells) + 1
            rows_out.append("\t".join(
                row_cells.get(c, "").replace("\t", " ").replace("\n", " ")
                for c in range(width)
            ))
        if rows_out:
            spans.append(Span("heading", normalize_text(name), "", -1, 1))
            spans.append(Span("table", normalize_text("\n".join(rows_out)), "", -1))
    if not spans:
        raise ValueError("xls: no cell data extracted")
    return finalize(spans)


def _read_xl_string_short(buf: bytes, pos: int) -> tuple[str, int]:
    """ShortXLUnicodeString (1-byte length) — used by BOUNDSHEET."""
    cch = buf[pos]
    flags = buf[pos + 1]
    pos += 2
    if flags & 0x01:
        return buf[pos : pos + 2 * cch].decode("utf-16-le", "replace"), pos + 2 * cch
    return buf[pos : pos + cch].decode("latin-1", "replace"), pos + cch


# -- .ppt --------------------------------------------------------------------

_TEXTHEADER = 0x0F9F
_TEXTCHARS = 0x0FA0
_TEXTBYTES = 0x0FA8

_TITLE_TYPES = {0, 6}  # Tx_TYPE_TITLE, Tx_TYPE_CENTERTITLE


def _walk_ppt(stream: bytes, start: int, end: int, out: list[tuple[str, str]],
              depth: int = 0) -> None:
    i = start
    last_tx_type = None
    while i + 8 <= end:
        ver_inst, rtype, rlen = struct.unpack_from("<HHI", stream, i)
        body = i + 8
        if body + rlen > end:
            break
        is_container = (ver_inst & 0x000F) == 0x000F
        if is_container and depth < 16:
            _walk_ppt(stream, body, body + rlen, out, depth + 1)
        elif rtype == _TEXTHEADER and rlen >= 4:
            (last_tx_type,) = struct.unpack_from("<I", stream, body)
            out.append(("__txheader__", str(last_tx_type)))
        elif rtype == _TEXTCHARS:
            txt = stream[body : body + rlen].decode("utf-16-le", "replace")
            out.append(("chars", txt))
        elif rtype == _TEXTBYTES:
            txt = stream[body : body + rlen].decode("latin-1", "replace")
            out.append(("bytes", txt))
        i = body + rlen


def extract_ppt(content: bytes, cfb: _Cfb | None = None) -> list[Span]:
    cfb = cfb or _Cfb(content)
    stream = cfb.stream("PowerPoint Document")
    raw: list[tuple[str, str]] = []
    _walk_ppt(stream, 0, len(stream), raw)
    spans: list[Span] = []
    next_tx_type: int | None = None
    deck_titled = False  # deck title = level 1, later slide titles = 2
    # (Tx_TYPE_CENTERTITLE is always the deck/section title)
    for kind, val in raw:
        if kind == "__txheader__":
            next_tx_type = int(val)
            continue
        is_title = next_tx_type in _TITLE_TYPES
        if is_title:
            lvl = 1 if (next_tx_type == 6 or not deck_titled) else 2
        else:
            lvl = 0
        emitted = False
        for para in val.replace("\x0b", "\n").split("\r"):
            txt = "".join(ch for ch in para if ord(ch) >= 0x20 or ch in "\n\t")
            if txt.strip():
                spans.append(Span(
                    "heading" if is_title else "paragraph",
                    normalize_text(txt), "", -1, lvl,
                ))
                emitted = True
        if is_title and emitted:
            deck_titled = True
        next_tx_type = None
    if not spans:
        raise ValueError("ppt: no text extracted")
    return finalize(spans)
