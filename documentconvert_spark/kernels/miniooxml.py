"""OOXML (docx / pptx / xlsx) extractors — from scratch, stdlib only.

The reference converts Office documents by rasterizing through headless
LibreOffice and then running the PDF pipeline
(`services/document_service.py:128-185, 599-650` — office→pdf→markdown).
This module implements the same observable computation *directly* on the
OOXML containers (ECMA-376, public spec): unzip, parse the document XML,
and emit the ordered span IR — headings (paragraph styles / title
placeholders), paragraphs, tables (tab-cell grid), and figures (media
relationship targets), in document order. That skips the reference's lossy
double hop while producing the same interleaved text+media structure its
test corpus verifies (text, table structure, image refs, ordering —
`.trae/documents/文档转换功能测试报告.md:409-414`).

Handles the reference's own sample corpus (`/root/reference/test/`):
`智涌君.docx`, `AI通识课程建设方案.pptx`, `人工智能竞赛训练平台 v20250629.xlsx`.
"""

from __future__ import annotations

import io
import math
import re
import zipfile
from xml.etree import ElementTree as ET

from documentconvert_spark.kernels.limits import check_decoded_size, zip_read_capped
from documentconvert_spark.kernels.spans import (
    MONO_FONT_RE,
    Span,
    finalize,
    normalize_text,
)

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_M = "{http://schemas.openxmlformats.org/officeDocument/2006/math}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_S = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _rels(z: zipfile.ZipFile, part: str) -> dict[str, str]:
    """rId -> target path for one package part."""
    d = part.rsplit("/", 1)[0] if "/" in part else ""
    name = f"{d}/_rels/{part.rsplit('/', 1)[-1]}.rels" if d else f"_rels/{part}.rels"
    out: dict[str, str] = {}
    if name not in z.namelist():
        return out
    root = ET.fromstring(zip_read_capped(z, name))
    for rel in root.iter(f"{_REL}Relationship"):
        tgt = rel.get("Target", "")
        if not tgt.startswith("/"):
            tgt = f"{d}/{tgt}" if d else tgt
        # normalize ../
        parts: list[str] = []
        for seg in tgt.split("/"):
            if seg == "..":
                if parts:
                    parts.pop()
            elif seg and seg != ".":
                parts.append(seg)
        out[rel.get("Id", "")] = "/".join(parts)
    return out


def _media_ref(target: str) -> str:
    return target.rsplit("/", 1)[-1]


# -- docx --------------------------------------------------------------------

_HEADING_STYLE = re.compile(r"(?i)^(heading|title|h)(\d*)$|^[1-9]$|标题")


def _docx_paragraph_text(p) -> str:
    # math-zone runs are emitted as formula spans, not paragraph text
    math_nodes: set[int] = set()
    for math in p.iter(f"{_M}oMath"):
        for n in math.iter():
            math_nodes.add(id(n))
    out = []
    for node in p.iter():
        if id(node) in math_nodes:
            continue
        tag = node.tag
        if tag == f"{_W}t":
            out.append(node.text or "")
        elif tag in (f"{_W}tab",):
            out.append("\t")
        elif tag in (f"{_W}br", f"{_W}cr"):
            out.append("\n")
    return "".join(out)


def _docx_formulas(p) -> list[str]:
    """OMML math zones → linearized formula text (the reference's
    formulas_detected class, API_COMPLETE_GUIDE.md:490-495)."""
    out = []
    for math in p.iter(f"{_M}oMath"):
        txt = "".join(t.text or "" for t in math.iter(f"{_M}t"))
        if txt.strip():
            out.append(txt)
    return out


def _docx_heading_level(p) -> int:
    """0 = not a heading; otherwise depth 1..6 from the style name digit
    (Heading3, h2, 标题 2 …) or the explicit w:outlineLvl (0-based)."""
    ppr = p.find(f"{_W}pPr")
    if ppr is None:
        return 0
    st = ppr.find(f"{_W}pStyle")
    if st is not None:
        val = st.get(f"{_W}val", "") or ""
        m = _HEADING_STYLE.search(val)
        if m:
            digits = re.search(r"(\d+)", val)
            lvl = int(digits.group(1)) if digits else 1
            return min(max(lvl, 1), 6)
    # outline level 0-8 set directly; non-numeric or out-of-range values
    # keep the old behavior (heading, level 1) instead of crashing the doc
    lvl = ppr.find(f"{_W}outlineLvl")
    if lvl is not None and (lvl.get(f"{_W}val") or "9") != "9":
        try:
            n = int(lvl.get(f"{_W}val"))
        except ValueError:
            return 1
        return min(max(n + 1, 1), 6)
    return 0


_CODE_STYLE = re.compile(r"(?i)code|preformatted|macro|console|terminal")
_MONO_FONT = MONO_FONT_RE


def _docx_is_code(p) -> bool:
    """Code paragraph: a code-ish paragraph style, or ≥2/3 of the run
    text in a fixed-pitch font (w:rFonts ascii/hAnsi) — the docx
    counterpart of the PDF fixed-pitch block classification."""
    ppr = p.find(f"{_W}pPr")
    if ppr is not None:
        st = ppr.find(f"{_W}pStyle")
        if st is not None and _CODE_STYLE.search(st.get(f"{_W}val", "") or ""):
            return True
    mono = total = 0
    # all descendant runs (hyperlinks, tracked changes) — the same
    # population _docx_paragraph_text emits, else classification and
    # output text diverge
    for r in p.iter(f"{_W}r"):
        n = sum(len(t.text or "") for t in r.findall(f"{_W}t"))
        if not n:
            continue
        total += n
        rpr = r.find(f"{_W}rPr")
        fonts = rpr.find(f"{_W}rFonts") if rpr is not None else None
        name = ""
        if fonts is not None:
            name = fonts.get(f"{_W}ascii") or fonts.get(f"{_W}hAnsi") or ""
        if _MONO_FONT.search(name):
            mono += n
    return mono > 0 and mono * 3 >= total * 2


def _docx_figures(p, rels: dict[str, str]) -> list[str]:
    refs = []
    for blip in p.iter(f"{_A}blip"):
        rid = blip.get(f"{_R}embed") or blip.get(f"{_R}link")
        if rid and rid in rels:
            refs.append(_media_ref(rels[rid]))
    for imagedata in p.iter("{urn:schemas-microsoft-com:vml}imagedata"):  # legacy VML
        rid = imagedata.get(f"{_R}id")
        if rid and rid in rels:
            refs.append(_media_ref(rels[rid]))
    return refs


def _unwrap_sdt(parent, tag: str):
    """Direct `tag` children, descending through w:sdt content controls
    (repeating-section controls wrap table rows and cells too)."""
    for el in parent:
        if el.tag in (f"{_W}sdt", f"{_W}sdtContent"):
            yield from _unwrap_sdt(el, tag)
        elif el.tag == tag:
            yield el


def _cell_paragraphs(tc) -> list:
    """Top-level w:p under a cell — including inside nested layout
    tables and sdt wrappers (direct-children findall dropped those) —
    WITHOUT descending into a collected paragraph: its deep
    _docx_paragraph_text flatten already covers w:p nested in drawing
    text boxes (w:txbxContent), which a plain tc.iter would emit
    twice."""
    out: list = []

    def walk(el) -> None:
        for c in el:
            if c.tag == f"{_W}p":
                out.append(c)
                continue
            walk(c)

    walk(tc)
    return out


def _docx_table_grid(tbl) -> str:
    rows = []
    for tr in _unwrap_sdt(tbl, f"{_W}tr"):
        cells = []
        for tc in _unwrap_sdt(tr, f"{_W}tc"):
            cell_txt = " ".join(
                _docx_paragraph_text(p).replace("\t", " ")
                for p in _cell_paragraphs(tc)
            )
            cells.append(cell_txt.strip())
        rows.append("\t".join(cells))
    return "\n".join(rows)


def extract_docx(content: bytes, z: zipfile.ZipFile | None = None) -> list[Span]:
    z = z or zipfile.ZipFile(io.BytesIO(content))
    rels = _rels(z, "word/document.xml")
    root = ET.fromstring(zip_read_capped(z, "word/document.xml"))
    body = root.find(f"{_W}body")
    if body is None:
        raise ValueError("docx: no document body")
    def _blocks(parent):
        """Direct block elements, descending through w:sdt content
        controls (Word wraps TOCs, cover pages and form regions in them;
        skipping unknown tags would silently drop that text)."""
        for el in parent:
            if el.tag in (f"{_W}sdt", f"{_W}sdtContent"):
                yield from _blocks(el)
            else:
                yield el

    spans: list[Span] = []
    blank_break = False  # a blank paragraph separates two code listings
    for el in _blocks(body):
        if el.tag == f"{_W}p":
            for ref in _docx_figures(el, rels):
                spans.append(Span("figure", "", ref, -1))
            txt = _docx_paragraph_text(el)
            if not txt.strip():
                blank_break = True
            else:
                lvl = _docx_heading_level(el)
                if lvl:
                    kind = "heading"
                elif _docx_is_code(el):
                    kind = "code"
                else:
                    kind = "paragraph"
                if (kind == "code" and not blank_break
                        and spans and spans[-1].kind == "code"):
                    # consecutive code paragraphs are lines of one block
                    prev = spans.pop()
                    spans.append(Span("code",
                                      prev.text + "\n" + normalize_text(txt),
                                      "", -1))
                else:
                    spans.append(Span(kind, normalize_text(txt), "", -1, lvl))
                blank_break = False
            for formula in _docx_formulas(el):
                spans.append(Span("formula", normalize_text(formula), "", -1))
        elif el.tag == f"{_W}tbl":
            grid = _docx_table_grid(el)
            if grid.strip():
                spans.append(Span("table", normalize_text(grid), "", -1))
            for ref in _docx_figures(el, rels):
                spans.append(Span("figure", "", ref, -1))
    return finalize(spans)


# -- pptx --------------------------------------------------------------------

def _pptx_slide_order(z: zipfile.ZipFile) -> list[str]:
    pres_rels = _rels(z, "ppt/presentation.xml")
    root = ET.fromstring(zip_read_capped(z, "ppt/presentation.xml"))
    order = []
    for sld in root.iter(f"{_P}sldId"):
        rid = sld.get(f"{_R}id")
        if rid and rid in pres_rels:
            order.append(pres_rels[rid])
    if not order:  # fallback: numeric sort
        order = sorted(
            (n for n in z.namelist() if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            key=lambda n: int(re.search(r"(\d+)", n).group(1)),
        )
    return order


def _pptx_shape_text(sp) -> list[str]:
    paras = []
    for p in sp.iter(f"{_A}p"):
        runs = [t.text or "" for t in p.iter(f"{_A}t")]
        txt = "".join(runs)
        if txt.strip():
            paras.append(txt)
    return paras


def _pptx_title_type(sp) -> str | None:
    """Placeholder type when the shape is a title ('title' / 'ctrTitle'),
    else None (subTitle is prose, not a heading)."""
    for ph in sp.iter(f"{_P}ph"):
        if ph.get("type") in ("title", "ctrTitle", "subTitle"):
            t = ph.get("type")
            return None if t == "subTitle" else t
    return None


def extract_pptx(content: bytes, z: zipfile.ZipFile | None = None) -> list[Span]:
    z = z or zipfile.ZipFile(io.BytesIO(content))
    spans: list[Span] = []
    # Heading depth mirrors deck structure rather than a flat 1: the deck
    # title (a ctrTitle placeholder, or the first title seen when the
    # cover layout uses a plain one) is level 1, every later slide title
    # level 2 — the ppt analogue of the outline levels docx/PDF/HTML/RTF
    # already carry.
    deck_titled = False
    for slide_part in _pptx_slide_order(z):
        if slide_part not in z.namelist():
            continue
        rels = _rels(z, slide_part)
        root = ET.fromstring(zip_read_capped(z, slide_part))
        tree = root.find(f"{_P}cSld/{_P}spTree")
        if tree is None:
            continue

        def walk(node):
            nonlocal deck_titled
            for el in node:
                if el.tag == f"{_P}sp":
                    paras = _pptx_shape_text(el)
                    if paras:
                        ttype = _pptx_title_type(el)
                        if ttype is not None:
                            lvl = 1 if (ttype == "ctrTitle" or not deck_titled) else 2
                            deck_titled = True
                        else:
                            lvl = 0
                        spans.append(Span("heading" if ttype else "paragraph",
                                          normalize_text("\n".join(paras)), "", -1,
                                          lvl))
                elif el.tag == f"{_P}pic":
                    for blip in el.iter(f"{_A}blip"):
                        rid = blip.get(f"{_R}embed")
                        if rid and rid in rels:
                            spans.append(Span("figure", "", _media_ref(rels[rid]), -1))
                elif el.tag == f"{_P}graphicFrame":
                    tbl = el.find(f".//{_A}tbl")
                    if tbl is not None:
                        rows = []
                        for tr in tbl.findall(f"{_A}tr"):
                            cells = []
                            for tc in tr.findall(f"{_A}tc"):
                                cells.append(" ".join(_pptx_shape_text(tc)).strip())
                            rows.append("\t".join(cells))
                        grid = "\n".join(rows)
                        if grid.strip():
                            spans.append(Span("table", normalize_text(grid), "", -1))
                elif el.tag == f"{_P}grpSp":
                    walk(el)

        walk(tree)
    return finalize(spans)


# -- xlsx --------------------------------------------------------------------

_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int | None:
    m = _CELL_REF.match(ref or "")
    if not m:
        return None
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - 64)
    # the ref string is file-controlled: r="ZZZZZZZZZZ1" decodes to column
    # ~1.4e14, and the row-padding range(width) below would iterate that
    # many times. Past the format's own limit (XFD = 16384 columns) the
    # ref is invalid — report that rather than clamping, which would
    # silently alias the cell onto a real XFD neighbour.
    return n - 1 if n - 1 <= 16383 else None


def _xlsx_shared_strings(z: zipfile.ZipFile) -> list[str]:
    if "xl/sharedStrings.xml" not in z.namelist():
        return []
    root = ET.fromstring(zip_read_capped(z, "xl/sharedStrings.xml"))
    out = []
    for si in root.findall(f"{_S}si"):
        out.append("".join(t.text or "" for t in si.iter(f"{_S}t")))
    return out


def _fmt_num(v: str) -> str:
    try:
        f = float(v)
        # inf/nan must render as-is, never error the workbook: int(inf)
        # raises OverflowError and int(nan) ValueError before the == test.
        if math.isfinite(f) and f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return v
    except (ValueError, OverflowError):
        return v


# Excel stores dates/times as day serials plus a number FORMAT on the
# cell style; without format awareness a date column extracts as bare
# serials ('45123') where the reference's converter renders dates. The
# built-in date/time numFmtIds per ECMA-376 §18.8.30:
_DATE_FMT_IDS = (set(range(14, 23)) | set(range(27, 37))
                 | set(range(45, 48)) | set(range(50, 59)))
_TIME_ONLY_IDS = {18, 19, 20, 21, 45, 46, 47}
_PERCENT_FMT_IDS = {9, 10}
_EXCEL_MAX_SERIAL = 2958466  # 9999-12-31


def _is_date_code(code: str) -> bool:
    """A custom formatCode is a date format when, after stripping quoted
    literals, [sections] and escapes, it still has y/m/d/h/s tokens and
    no numeric placeholders (# 0 @)."""
    bare = re.sub(r'"[^"]*"|\[[^\]]*\]|\\.', "", code)
    return bool(re.search(r"[ymdhs]", bare, re.IGNORECASE)) and not re.search(r"[#0@?]", bare)


def _is_percent_code(code: str) -> bool:
    bare = re.sub(r'"[^"]*"|\[[^\]]*\]|\\.', "", code)
    return "%" in bare and not re.search(r"[ymdhs]", bare, re.IGNORECASE)


def percent_to_text(v: str) -> str:
    try:
        return _fmt_num(repr(round(float(v) * 100, 10))) + "%"
    except ValueError:
        return v


def _xlsx_date_styles(z: zipfile.ZipFile) -> tuple[list[bool], list[bool], list[bool]]:
    """Per-cellXf index: (renders-as-date, time-only, renders-as-percent)."""
    try:
        root = ET.fromstring(zip_read_capped(z, "xl/styles.xml"))
    except (KeyError, ET.ParseError, ValueError):
        return [], [], []
    custom: dict[int, bool] = {}
    custom_pct: dict[int, bool] = {}
    # top-level numFmts only: dxfs (conditional-format differentials)
    # also hold numFmt elements and may reuse colliding ids
    nfs = root.find(f"{_S}numFmts")
    for nf in (nfs.findall(f"{_S}numFmt") if nfs is not None else []):
        try:
            fid = int(nf.get("numFmtId") or -1)
        except ValueError:
            continue
        code = nf.get("formatCode") or ""
        custom[fid] = _is_date_code(code)
        custom_pct[fid] = _is_percent_code(code)
    is_date: list[bool] = []
    time_only: list[bool] = []
    is_pct: list[bool] = []
    xfs = root.find(f"{_S}cellXfs")
    for xf in (xfs.findall(f"{_S}xf") if xfs is not None else []):
        try:
            fid = int(xf.get("numFmtId") or 0)
        except ValueError:
            fid = 0
        is_date.append(fid in _DATE_FMT_IDS or custom.get(fid, False))
        time_only.append(fid in _TIME_ONLY_IDS)
        is_pct.append(fid in _PERCENT_FMT_IDS or custom_pct.get(fid, False))
    return is_date, time_only, is_pct


def excel_serial_to_text(v: str, date1904: bool = False,
                         time_only: bool = False) -> str:
    """Day serial → ISO date / time text (shared with the BIFF .xls
    path). Epoch 1899-12-30 (the usual convention — exact only for
    serials ≥ 61, i.e. after Excel's phantom 1900-02-29; the two-month
    window of 1900 is off by one day, like most extractors) or
    1904-01-01 under the Mac date system."""
    import datetime as _dt

    try:
        f = float(v)
    except ValueError:
        return v
    if not (0 <= f < _EXCEL_MAX_SERIAL):
        return _fmt_num(v)
    secs = round((f % 1.0) * 86400) % 86400  # 0.9999999 rounds to a full
    # day — roll over to 00:00:00 rather than emit the invalid 24:00:00
    if time_only or f < 1:
        return f"{secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"
    epoch = _dt.date(1904, 1, 1) if date1904 else _dt.date(1899, 12, 30)
    rollover = 1 if round((f % 1.0) * 86400) >= 86400 else 0
    try:
        day = epoch + _dt.timedelta(days=int(f) + rollover)
    except OverflowError:
        # the 1900-system range check above over-admits 1904-epoch
        # serials near the top; a garbage number under a date format
        # must not turn the whole workbook into an error row
        return _fmt_num(v)
    if secs == 0:
        return day.isoformat()
    return f"{day.isoformat()} {secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"


def extract_xlsx(content: bytes, z: zipfile.ZipFile | None = None) -> list[Span]:
    z = z or zipfile.ZipFile(io.BytesIO(content))
    shared = _xlsx_shared_strings(z)
    wb_rels = _rels(z, "xl/workbook.xml")
    root = ET.fromstring(zip_read_capped(z, "xl/workbook.xml"))
    wpr = root.find(f"{_S}workbookPr")
    date1904 = (wpr is not None
                and (wpr.get("date1904") or "").lower() in ("1", "true"))
    date_styles, time_only, pct_styles = _xlsx_date_styles(z)
    spans: list[Span] = []
    sheets = []
    for sh in root.iter(f"{_S}sheet"):
        rid = sh.get(f"{_R}id")
        target = wb_rels.get(rid or "", "")
        if target:
            sheets.append((sh.get("name") or target, target))
    for name, part in sheets:
        if part not in z.namelist():
            continue
        sroot = ET.fromstring(zip_read_capped(z, part))
        rows_out: list[str] = []
        out_chars = 0
        for row in sroot.iter(f"{_S}row"):
            cells: dict[int, str] = {}
            next_ci = 0  # c/@r is optional; position is implied sequentially
            for c in row.findall(f"{_S}c"):
                ref = c.get("r", "")
                # an unparseable or beyond-XFD ref falls back to the
                # implied sequential position (never aliased onto XFD)
                ci = (_col_index(ref) if ref else None)
                if ci is None:
                    ci = next_ci
                next_ci = ci + 1
                t = c.get("t", "n")
                if t == "s":
                    v = c.find(f"{_S}v")
                    idx = int(v.text) if v is not None and v.text else -1
                    val = shared[idx] if 0 <= idx < len(shared) else ""
                elif t == "inlineStr":
                    val = "".join(tt.text or "" for tt in c.iter(f"{_S}t"))
                elif t == "b":
                    v = c.find(f"{_S}v")
                    val = ("TRUE" if (v is not None and (v.text or "").strip() == "1")
                           else "FALSE") if v is not None else ""
                else:
                    v = c.find(f"{_S}v")
                    val = _fmt_num(v.text) if v is not None and v.text else ""
                    if val and t == "n":
                        s_attr = c.get("s") or ""
                        si = int(s_attr) if s_attr.isdigit() else -1
                        if 0 <= si < len(date_styles) and date_styles[si]:
                            val = excel_serial_to_text(
                                v.text, date1904, time_only[si])
                        elif 0 <= si < len(pct_styles) and pct_styles[si]:
                            val = percent_to_text(v.text)
                # budget BEFORE the row joins: N cells each referencing a
                # ~250 MB shared string (legal under the per-member zip
                # cap) would otherwise materialize N x 250 MB in the
                # "\t".join below before any check ran
                out_chars += len(val) + 1
                check_decoded_size(out_chars, f"xlsx sheet {name!r} text")
                cells[ci] = val.replace("\t", " ").replace("\n", " ")
            if cells and any(v.strip() for v in cells.values()):
                width = max(cells) + 1
                line = "\t".join(cells.get(i, "") for i in range(width))
                # the per-ref clamp bounds one row at ~16 KB of padding,
                # but a sheet of millions of 60-byte rows each claiming
                # r="XFD1" still amplifies ~270x — the padding tabs count
                # against the same cumulative budget as the cell text
                out_chars += width - len(cells)
                check_decoded_size(out_chars, f"xlsx sheet {name!r} text")
                rows_out.append(line)
        if rows_out:
            spans.append(Span("heading", normalize_text(name), "", -1, 1))
            spans.append(Span("table", normalize_text("\n".join(rows_out)), "", -1))
    return finalize(spans)
