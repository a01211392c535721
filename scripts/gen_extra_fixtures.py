"""Generate the crafted real-format fixture documents in
documentconvert_spark/resources/extra_docs/.

The reference's 7 sample files exercise the common paths; these
deterministic fixtures pin the layout behaviors the samples don't hit —
multi-column reading order, page furniture removal, list blocks,
rotated-text filtering, code-block classification, spreadsheet
date/percent/boolean/formula rendering — so they sit under the SAME
driver-checked golden oracle (`real_docs_span_seq` et al.) instead of
only unit tests. Deterministic: fixed bytes, fixed zip timestamps.
Re-run + `scripts/regen_real_goldens.py` after intentional kernel
changes.

This file holds fixture CONTENT only: every byte format is written by
the writers in `documentconvert_spark.corpus`. `build()` returns the 33
fixtures by name; tests/test_extra_docs_goldens.py checks that it
reproduces the committed files byte for byte.

Usage: python scripts/gen_extra_fixtures.py
"""

from __future__ import annotations

import os
import struct
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from documentconvert_spark.corpus import (  # noqa: E402
    PDF_FONT,
    _render_text_grid,
    _render_text_grid_prop,
    antialias_grid,
    biff_rec,
    classic_pdf,
    det_zip,
    encode_bmp24,
    encode_gray_jpeg_progressive,
    encode_gray_png,
    encode_vp8l,
    encrypt_pdf,
    gif_encode,
    odf_zip,
    packbits_encode,
    page_tree,
    ppt_rec,
    render_text_bmp,
    render_text_gif,
    render_text_jpeg,
    render_text_png,
    render_text_png_prop,
    render_text_tiff,
    render_text_webp,
    stream_obj,
    tiff_encode,
    ttf_with_cmap4,
    write_cfb,
    xl_str8,
    xlsx_zip,
)

OUT = os.path.join(REPO, "documentconvert_spark", "resources", "extra_docs")

_COURIER = b"<</Type /Font /Subtype /Type1 /BaseFont /Courier>>"


def two_column_pdf() -> bytes:
    parts = [b"BT /F1 24 Tf 150 760 Td (Two Column Fixture) Tj ET"]
    y = 720
    for i in range(12):
        if i == 6:
            parts.append(b"BT /F1 18 Tf 140 %d Td (Mid Section Marker Line) Tj ET" % y)
            y -= 24
        parts.append(
            b"BT /F1 10 Tf 72 %d Td (leftcol%02d body text filling the col) Tj ET"
            % (y, i))
        parts.append(
            b"BT /F1 10 Tf 320 %d Td (rightcol%02d body text filling the col) Tj ET"
            % (y, i))
        y -= 14
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"\n".join(parts))
    objs[5] = PDF_FONT
    return classic_pdf(objs)


def furniture_code_pdf() -> bytes:
    """3 pages: running header + 'Page N of 3' footer (furniture), a
    numbered list, and a Courier code block."""
    objs = page_tree([3, 6, 8])
    pages = [(3, 4), (6, 7), (8, 9)]
    for i, (pg, ct) in enumerate(pages):
        parts = [b"BT /F1 9 Tf 72 780 Td (Fixture Report Header 2025) Tj ET"]
        y = 700
        if i == 0:
            parts.append(b"BT /F1 16 Tf 72 730 Td (Fixture Document Title) Tj ET")
            for k in range(1, 4):
                parts.append(
                    b"BT /F1 10 Tf 72 %d Td (%d. numbered item %d in the list) Tj ET"
                    % (y, k, k))
                y -= 14
        elif i == 1:
            parts.append(b"BT /F1 10 Tf 72 700 Td (prose before the snippet here) Tj ET")
            parts.append(b"BT /F2 10 Tf 72 680 Td (def fixture\\(\\):) Tj ET")
            parts.append(b"BT /F2 10 Tf 90 666 Td (return 42) Tj ET")
            parts.append(b"BT /F1 10 Tf 72 640 Td (prose after the snippet here) Tj ET")
        else:
            parts.append(b"BT /F1 10 Tf 72 700 Td (closing page body content line) Tj ET")
            parts.append(b"BT /F1 10 Tf 72 686 Td (informa-) Tj ET")
            parts.append(b"BT /F1 10 Tf 72 672 Td (tion joined across the wrap) Tj ET")
        parts.append(b"BT /F1 9 Tf 280 60 Td (Page %d of 3) Tj ET" % (i + 1))
        objs[pg] = (b"<</Type /Page /Parent 2 0 R /Contents %d 0 R "
                    b"/Resources <</Font <</F1 11 0 R /F2 12 0 R>>>>>>" % ct)
        objs[ct] = stream_obj(b"", b"\n".join(parts))
    objs[11] = PDF_FONT
    objs[12] = _COURIER
    return classic_pdf(objs)


def rotated_pdf() -> bytes:
    """Page 1: /Rotate 90 with compensated (upright) text. Page 2: a
    diagonal watermark over normal text — watermark dropped. Page 3:
    a minority upside-down (180°) stamp on a normal page — kept as
    content (x-axis-aligned baseline), while sideways margin text on
    the same page stays dropped."""
    objs = page_tree([3, 6, 10])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Rotate 90 /Contents 4 0 R "
               b"/Resources <</Font <</F1 9 0 R>>>>>>")
    objs[4] = stream_obj(b"", (
        b"BT /F1 12 Tf 0 1 -1 0 100 100 Tm (upright scan line one) Tj ET "
        b"BT /F1 12 Tf 0 1 -1 0 114 100 Tm (upright scan line two) Tj ET"))
    objs[6] = b"<</Type /Page /Parent 2 0 R /Contents 7 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[7] = stream_obj(b"", (
        b"BT /F1 10 Tf 72 700 Td (normal body above watermark) Tj ET "
        b"BT /F1 48 Tf 0.707 0.707 -0.707 0.707 200 300 Tm (FIXTURE) Tj ET "
        b"BT /F1 10 Tf 72 650 Td (normal body below watermark) Tj ET"))
    objs[9] = PDF_FONT
    objs[10] = b"<</Type /Page /Parent 2 0 R /Contents 11 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[11] = stream_obj(b"", (
        b"BT /F1 10 Tf 72 700 Td (stamped page body first line) Tj ET "
        b"BT /F1 10 Tf 72 680 Td (stamped page body second line) Tj ET "
        b"BT /F1 10 Tf 72 660 Td (stamped page body third line) Tj ET "
        b"BT /F1 10 Tf -1 0 0 -1 300 240 Tm (received upside down stamp) Tj ET "
        b"BT /F1 8 Tf 0 1 -1 0 20 400 Tm (sideways margin note) Tj ET"))
    return classic_pdf(objs)


def fonts_pdf() -> bytes:
    """No-ToUnicode text recovery under the golden oracle: page 1 is an
    Identity-H CIDFontType2 whose text is only recoverable by inverting
    the embedded TrueType cmap; page 2 uses WinAnsi / MacRoman base
    encodings with high-byte accented text."""
    ttf = ttf_with_cmap4({0x43: 5, 0x49: 6, 0x44: 7})  # C I D
    objs = page_tree([3, 10])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>>>>>>")
    objs[4] = stream_obj(b"", b"BT /F1 12 Tf 72 700 Td <000500060007> Tj ET")
    objs[5] = (b"<</Type /Font /Subtype /Type0 /BaseFont /EmbedG "
               b"/Encoding /Identity-H /DescendantFonts [6 0 R]>>")
    objs[6] = (b"<</Type /Font /Subtype /CIDFontType2 /BaseFont /EmbedG "
               b"/CIDToGIDMap /Identity /FontDescriptor 7 0 R>>")
    objs[7] = b"<</Type /FontDescriptor /FontName /EmbedG /FontFile2 8 0 R>>"
    objs[8] = stream_obj(b"/Length1 %d" % len(ttf), ttf)
    objs[10] = (b"<</Type /Page /Parent 2 0 R /Contents 11 0 R "
                b"/Resources <</Font <</F2 12 0 R /F3 13 0 R>>>>>>")
    objs[11] = stream_obj(b"", (
        b"BT /F2 11 Tf 72 700 Td (caf\xe9 cr\xe8me br\xfbl\xe9e) Tj ET "
        b"BT /F3 11 Tf 72 680 Td (na\x95ve r\x8esum\x8e) Tj ET"))
    objs[12] = (b"<</Type /Font /Subtype /Type1 /BaseFont /Helv "
                b"/Encoding /WinAnsiEncoding>>")
    objs[13] = (b"<</Type /Font /Subtype /Type1 /BaseFont /Helv "
                b"/Encoding /MacRomanEncoding>>")
    return classic_pdf(objs)


def formula_pdf() -> bytes:
    """Displayed equations in math faces (subset-tagged CMMI + Symbol)
    between prose, plus a ToUnicode-mapped operator line — pins
    kind='formula' spans from the real-PDF path in the golden corpus
    (reference: formula_enable pipeline, formulas_detected class)."""
    cmap = (b"/CIDInit /ProcSet findresource begin\n1 begincmap\n"
            b"1 begincodespacerange\n<00> <ff>\nendcodespacerange\n"
            b"6 beginbfchar\n"
            b"<41> <2211>\n<42> <003d>\n<43> <222B>\n"
            b"<44> <0066>\n<45> <2264>\n<46> <221E>\n"
            b"endbfchar\nendcmap")
    content = (
        b"BT /F1 20 Tf 72 760 Td (Formula Fixture) Tj ET "
        b"BT /F1 10 Tf 72 720 Td (the closed form derived below holds) Tj ET "
        b"BT /F2 14 Tf 180 690 Td (E = mc2 + p2c2) Tj ET "
        b"BT /F1 10 Tf 72 660 Td (and the bound follows from the sum) Tj ET "
        b"BT /F3 12 Tf 180 630 Td (ABCDEF) Tj ET "
        b"BT /F4 12 Tf 180 600 Td (a + b = g) Tj ET "
        b"BT /F1 10 Tf 72 570 Td (which completes the argument) Tj ET"
    )
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R /F2 6 0 R /F3 7 0 R /F4 9 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    objs[6] = b"<</Type /Font /Subtype /Type1 /BaseFont /ABCDEF+CMMI10>>"
    objs[7] = b"<</Type /Font /Subtype /TrueType /BaseFont /EMBEDX /ToUnicode 8 0 R>>"
    objs[8] = stream_obj(b"", cmap)
    objs[9] = b"<</Type /Font /Subtype /Type1 /BaseFont /Symbol>>"
    return classic_pdf(objs)


def dates_xlsx() -> bytes:
    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row><c r="A1" t="inlineStr"><is><t>when</t></is></c>
   <c r="B1" t="inlineStr"><is><t>share</t></is></c>
   <c r="C1" t="inlineStr"><is><t>ok</t></is></c>
   <c r="D1" t="inlineStr"><is><t>total</t></is></c></row>
  <row><c r="A2" s="1"><v>45123</v></c>
   <c r="B2" s="2"><v>0.125</v></c>
   <c r="C2" t="b"><v>1</v></c>
   <c r="D2"><f>SUM(1,2)</f><v>3</v></c></row>
 </sheetData></worksheet>"""
    styles = """<?xml version="1.0"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="9"/></cellXfs>
</styleSheet>"""
    return xlsx_zip(sheet, styles, sheet_name="Fixture")


def code_docx() -> bytes:
    doc_xml = """<?xml version="1.0"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr><w:r><w:t>Code Fixture</w:t></w:r></w:p>
  <w:p><w:r><w:t>prose before the listing</w:t></w:r></w:p>
  <w:p><w:pPr><w:pStyle w:val="CodeBlock"/></w:pPr><w:r><w:t>def a():</w:t></w:r></w:p>
  <w:p><w:r><w:rPr><w:rFonts w:ascii="Consolas"/></w:rPr><w:t>    return 1</w:t></w:r></w:p>
  <w:p/>
  <w:p><w:r><w:rPr><w:rFonts w:ascii="Courier New"/></w:rPr><w:t>standalone()</w:t></w:r></w:p>
  <w:p><w:r><w:t>prose after the listings</w:t></w:r></w:p>
 </w:body>
</w:document>"""
    return det_zip([("word/document.xml", doc_xml)])


# -- legacy whitelist formats (odt/ods/odp, rtf, BIFF .xls, binary .ppt) -----
# the whole office whitelist sits under the contract-checked golden oracle,
# not only under unit tests

def legacy_rtf() -> bytes:
    return (rb"{\rtf1\ansi\ansicpg1252\deff0"
            rb"{\fonttbl{\f0 Times New Roman;}}"
            rb"\pard\outlinelevel0\b\fs36 Legacy RTF Fixture\b0\fs24\par"
            b"\\pard Body paragraph with \\'e9 accent and \\u20013? char.\\par"
            rb"\trowd\intbl cellA\cell cellB\cell\row"
            rb"\trowd\intbl cellC\cell cellD\cell\row\pard"
            rb"{\pict\pngblip\picw100\pich100 a1b2c3d4e5f6}"
            rb"Closing paragraph.\par}")


_ODT_CONTENT = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
  xmlns:xlink="http://www.w3.org/1999/xlink">
 <office:body><office:text>
  <text:h text:outline-level="1">ODT Fixture Report</text:h>
  <text:p>First paragraph with <text:span>inline span</text:span> text.</text:p>
  <text:h text:outline-level="2">Numbers</text:h>
  <table:table table:name="T1">
   <table:table-row>
    <table:table-cell office:value-type="string"><text:p>name</text:p></table:table-cell>
    <table:table-cell office:value-type="float" office:value="42"><text:p>42</text:p></table:table-cell>
   </table:table-row>
  </table:table>
 </office:text></office:body>
</office:document-content>"""

_ODS_CONTENT = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0">
 <office:body><office:spreadsheet>
  <table:table table:name="Ledger">
   <table:table-row>
    <table:table-cell office:value-type="string"><text:p>item</text:p></table:table-cell>
    <table:table-cell office:value-type="date" office:date-value="2026-01-02"/>
   </table:table-row>
   <table:table-row>
    <table:table-cell office:value-type="float" office:value="100"><text:p>100</text:p></table:table-cell>
    <table:table-cell office:value-type="string"><text:p>ok</text:p></table:table-cell>
   </table:table-row>
  </table:table>
 </office:spreadsheet></office:body>
</office:document-content>"""

_ODP_CONTENT = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
  xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
  xmlns:presentation="urn:oasis:names:tc:opendocument:xmlns:presentation:1.0"
  xmlns:xlink="http://www.w3.org/1999/xlink">
 <office:body><office:presentation>
  <draw:page draw:name="page1">
   <draw:frame presentation:class="title"><draw:text-box><text:p>ODP Fixture Deck</text:p></draw:text-box></draw:frame>
   <draw:frame presentation:class="outline"><draw:text-box><text:p>bullet one</text:p><text:p>bullet two</text:p></draw:text-box></draw:frame>
  </draw:page>
  <draw:page draw:name="page2">
   <draw:frame presentation:class="title"><draw:text-box><text:p>Second Slide Topic</text:p></draw:text-box></draw:frame>
   <draw:frame presentation:class="outline"><draw:text-box><text:h text:outline-level="3">Sub Point Heading</text:h><text:p>detail line under it</text:p></draw:text-box></draw:frame>
  </draw:page>
 </office:presentation></office:body>
</office:document-content>"""


def biff_xls() -> bytes:
    sst_payload = (struct.pack("<II", 2, 2)
                   + struct.pack("<HB", 4, 0) + b"name"
                   + struct.pack("<HB", 4, 0) + b"when")
    bof = biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    xf = lambda ifmt: biff_rec(0x00E0, struct.pack("<HH", 0, ifmt) + b"\x00" * 12)
    boundsheet_placeholder = struct.pack("<IBB", 0, 0, 0) + xl_str8("Grid")

    def glb(off: int) -> bytes:
        return (bof + xf(0) + xf(14)
                + biff_rec(0x0085, struct.pack("<I", off) + boundsheet_placeholder[4:])
                + biff_rec(0x00FC, sst_payload) + biff_rec(0x000A, b""))

    sheet = (
        biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + biff_rec(0x00FD, struct.pack("<HHHI", 0, 0, 0, 0))           # "name"
        + biff_rec(0x00FD, struct.pack("<HHHI", 0, 1, 0, 1))           # "when"
        + biff_rec(0x0203, struct.pack("<HHHd", 1, 0, 0, 12.0))
        + biff_rec(0x0203, struct.pack("<HHHd", 1, 1, 1, 45123.0))     # date
        + biff_rec(0x027E, struct.pack("<HHHI", 2, 0, 0, (25 << 2) | 0x02))
        + biff_rec(0x0205, struct.pack("<HHH", 2, 1, 0) + bytes([1, 0]))  # TRUE
        + biff_rec(0x000A, b"")
    )
    return write_cfb([("Workbook", glb(len(glb(0))) + sheet)])


def binary_ppt() -> bytes:
    title = "PPT Fixture Deck".encode("utf-16-le")
    body = "第一点\r第二点".encode("utf-16-le")
    slide = ppt_rec(
        0x000F, 0x03EE,
        ppt_rec(0x0000, 0x0F9F, struct.pack("<I", 0))
        + ppt_rec(0x0000, 0x0FA0, title)
        + ppt_rec(0x0000, 0x0F9F, struct.pack("<I", 1))
        + ppt_rec(0x0000, 0x0FA0, body)
        + ppt_rec(0x0000, 0x0FA8, b"ascii only run"),
    )
    # second slide: its title pins the deck-title convention (first
    # title = level 1, later slide titles = level 2) in the goldens
    slide2 = ppt_rec(
        0x000F, 0x03EE,
        ppt_rec(0x0000, 0x0F9F, struct.pack("<I", 0))
        + ppt_rec(0x0000, 0x0FA8, b"Second Slide Topic")
        + ppt_rec(0x0000, 0x0F9F, struct.pack("<I", 1))
        + ppt_rec(0x0000, 0x0FA8, b"supporting detail line"),
    )
    doc = ppt_rec(0x000F, 0x03E8, slide + slide2)
    return write_cfb([("PowerPoint Document", doc), ("Current User", b"\x00" * 16)])


def boilerplate_html() -> bytes:
    """Real-world-shaped page: nav/header/footer chrome, a link-farm
    sidebar (jusText-style link-density drop), unquoted attrs, entities,
    headings, a pre block and a table — the minidom main-content path."""
    return (
        b"<!DOCTYPE html><html><head><title>t</title>"
        b"<script>var tracked = 1;</script><style>.x{color:red}</style></head>"
        b"<body><header>Site chrome banner</header>"
        b"<nav><a href=/>Home</a> <a href=/a>Archive</a></nav>"
        b"<div id=main>"
        b"<h1>HTML Fixture &amp; Friends</h1>"
        b"<p>Opening paragraph body text that is long enough to keep.</p>"
        b"<h2>Details</h2>"
        b"<p>Second paragraph with an <b>inline</b> emphasis kept.</p>"
        b"<pre>def keep():\n    return 'code'</pre>"
        b"<table><tr><td>k</td><td>v</td></tr><tr><td>a</td><td>1</td></tr></table>"
        b"</div>"
        b"<div class=sidebar><a href=/1>rel one</a> <a href=/2>rel two</a> "
        b"<a href=/3>rel three</a></div>"
        b"<footer>copyright fixture corp</footer></body></html>"
    )


def ocr_pngs() -> dict[str, bytes]:
    """Rendered-text PNGs for the miniocr glyph matcher (C4 OCR parity):
    grayscale at two scales plus an RGB variant; decoded text lands as
    paragraph spans after the figure span in the golden corpus."""
    return {
        "fixture_ocr_note.png": render_text_png(
            ["SCANNED NOTE 1", "TOTAL DUE: 42.50", "PAY BY 2024-06-30!"],
            scale=2),
        "fixture_ocr_badge.png": render_text_png(
            ["BUILD PASSING", "COVERAGE = 97?", "(SEE LOG / RUN 12)"],
            scale=3, color=True),
        **ocr_prop_pngs(),
    }


MIXED_HEAD_LINES, MIXED_HEAD_SCALE = ["QUARTERLY REPORT"], 3
MIXED_BODY_LINES, MIXED_BODY_SCALE = ["REVENUE UP 12.5", "COSTS FLAT: GOOD!"], 2


def _vstack_grids(parts, margin=8, gap=6):
    """Stack (lines, scale) renders into one raster — the generator-side
    model of a page mixing font sizes (headline over body), which the
    matcher's per-band candidate-scale ladder (miniocr.ocr_gray_text,
    band_candidates/match_band) decodes."""
    rendered = [_render_text_grid(lines, scale, 0) for lines, scale in parts]
    w = max(r[0] for r in rendered) + 2 * margin
    rows = [bytearray([255]) * w for _ in range(margin)]
    for idx, (_pw, _ph, grid) in enumerate(rendered):
        if idx:
            rows += [bytearray([255]) * w for _ in range(gap)]
        for r in grid:
            rows.append(
                bytearray([255]) * margin + r
                + bytearray([255]) * (w - margin - len(r))
            )
    rows += [bytearray([255]) * w for _ in range(margin)]
    return w, len(rows), rows


def mixed_scale_png() -> bytes:
    w, h, rows = _vstack_grids([
        (MIXED_HEAD_LINES, MIXED_HEAD_SCALE),
        (MIXED_BODY_LINES, MIXED_BODY_SCALE),
    ])
    return encode_gray_png(w, h, rows)


PROP_PNG_LINES = ["PROPORTIONAL FONT 15", "ADVANCE VARIES: OK!"]
KERNED_PNG_LINES = ["KERNED L- L- PASS"]
# grid-col shifts tucking each dash under the preceding L's overhang:
# the glyph BOXES overlap in x but the ink never touches — decodable by
# miniocr's connected-component segmenter only (column projection merges
# the pair and rejects the image)
KERNED_PNG_KERN = {(0, 8): -3, (0, 11): -3}


def ocr_prop_pngs() -> dict[str, bytes]:
    """Proportional-font rendered-text PNGs (r4 verdict OCR increment):
    variable glyph advance (ink width + 1 instead of the fixed 6-col
    cell) and a kerned variant whose glyph boxes overlap without
    touching — exercising miniocr's per-glyph connected-component
    boxes, still under the exact-or-nothing rule."""
    return {
        "fixture_ocr_prop.png": render_text_png_prop(PROP_PNG_LINES, scale=2),
        "fixture_ocr_kerned.png": render_text_png_prop(
            KERNED_PNG_LINES, scale=2, kern=KERNED_PNG_KERN),
        # headline-over-body mixed font sizes: rejects wholesale under a
        # single global scale; decoded by per-band scale inference
        "fixture_ocr_mixed_scale.png": mixed_scale_png(),
    }


def ocr_jpegs() -> dict[str, bytes]:
    """Rendered-text JPEG (near-lossless from-scratch T.81 encoder,
    corpus.render_text_jpeg): the lossy-format leg of the OCR pair —
    kernels/minijpeg.py must decode it and the glyph matcher must read
    the exact text back (reference OCRs jpg input too,
    services/document_service.py:652-665)."""
    sw, sh, sg = _render_text_grid(["DELIVERY SCAN 0731", "GATE B ROW 6"], 2, 8)
    return {
        "fixture_ocr_card.jpg": render_text_jpeg(
            ["MEMBER CARD 0042", "VALID: 2025/12-2026/11", "LEVEL = GOLD!"],
            scale=2),
        # progressive SOF2 with 4:2:0 neutral chroma and restart markers:
        # the web-export shape — pins the Annex-G scan decoding in the
        # golden corpus, not just unit tests
        "fixture_ocr_scan.jpg": encode_gray_jpeg_progressive(
            sw, sh, sg, restart=4, ycbcr420=True),
    }


def _gif_fixture() -> bytes:
    """Deterministic 8-color GIF (real LZW stream) — exercises the GIF
    raster decoder end-to-end through the carved-media pixel pass."""
    w, h = 96, 64
    pal = [(0, 0, 0), (255, 255, 255), (200, 30, 30), (30, 200, 30),
           (30, 30, 200), (220, 220, 40), (40, 220, 220), (180, 60, 180)]
    idx = [((x // 8) + (y // 8)) % 8 for y in range(h) for x in range(w)]
    return gif_encode(w, h, idx, pal, 3)


def _bmp_fixture() -> bytes:
    """Deterministic 24-bit bottom-up BMP gradient."""
    w, h = 80, 50
    return encode_bmp24(w, h, [[((x * y) % 256, (y * 5) % 256, (x * 3) % 256)
                                for x in range(w)] for y in range(h)])


def _tiff_fixture() -> bytes:
    """Deterministic palette TIFF (little-endian, PackBits, partial last
    strip) — the photo-like input that must stay figure-only."""
    w, h, rps = 90, 60, 13
    cmap = ([i << 8 for i in range(256)]
            + [((i * 3) % 256) << 8 for i in range(256)]
            + [(255 - i) << 8 for i in range(256)])
    strips = []
    for y0 in range(0, h, rps):
        raw = bytes(((x // 6) * 16 + (y // 6)) % 256
                    for y in range(y0, min(y0 + rps, h)) for x in range(w))
        strips.append(packbits_encode(raw))
    return tiff_encode("<", w, h, 3, strips, rps, comp=32773, colormap=cmap)


def _webp_fixture() -> bytes:
    """Deterministic palette WebP (bundled 4-bit indices) — photo-like,
    must stay figure-only."""
    w, h = 72, 40
    palette = [0xFF000000 | (i * 17 << 16) | (((i * 5) % 16) * 17 << 8)
               | ((15 - i) * 17) for i in range(16)]
    argb = [palette[((x // 5) + (y // 5)) % 16] for y in range(h) for x in range(w)]
    return encode_vp8l(w, h, argb, palette=palette)


AA_PNG_LINES = ["AA LABEL 2X", "SOFT EDGES OK"]
AA_TIFF_LINES = ["RACK 12 BAY 3", "HANDLE WITH CARE"]
AA_WEBP_LINES = ["SMOOTH TAG 77", "BLUR SCALE 3"]


def aa_fixtures() -> dict[str, bytes]:
    """Antialiased rendered-text images (r4 OCR generality increment):
    the same 5×7 glyph grids soft-edged by corpus.antialias_grid, across
    a lossless trio (PNG gray, TIFF WhiteIsZero+LZW+Predictor, VP8L
    WebP). Thresholding at 128 recovers the source grid exactly, so the
    decoded text is pinned in the golden like every strict render."""
    w, h, grid = _render_text_grid(AA_PNG_LINES, 2, 8)
    png = encode_gray_png(w, h, antialias_grid(grid))
    return {
        "fixture_ocr_aa_label.png": png,
        "fixture_ocr_aa_plate.tiff": render_text_tiff(AA_TIFF_LINES, scale=2, antialias=True),
        "fixture_ocr_aa_tag.webp": render_text_webp(AA_WEBP_LINES, scale=3, antialias=True),
    }


def _luma601(r: int, g: int, b: int) -> int:
    """ITU-R BT.601 integer luma — the published constant every raster
    decoder in the engine folds RGB with. A spec constant, not decoder
    logic, so using it here keeps the source-side stats independent."""
    return (r * 299 + g * 587 + b * 114) // 1000


def _stats(lumas: list[int]) -> tuple[float, float]:
    n = len(lumas)
    return (round(sum(lumas) / n, 3), round(sum(1 for v in lumas if v < 128) / n, 3))


def source_pixel_stats() -> dict[str, tuple[float, float, bool]]:
    """fixture filename → (mean_luma, dark_frac, exact) derived purely
    from the SOURCE rasters the builders render — never from the
    kernels/raster decoders. regen_real_goldens.py cross-checks the
    decoder-derived golden against these, so a decoder bug can no longer
    bake itself into expected_real_pixels.parquet (r3 advice). `exact` is
    False only for the two JPEGs (DCT round-trip is near- but not
    bit-lossless; the check there is a ±1.5 luma tolerance)."""
    out: dict[str, tuple[float, float, bool]] = {}

    def grid_lumas(lines, scale):
        _w, _h, grid = _render_text_grid(lines, scale, 8)
        return [px for row in grid for px in row]

    # grayscale / r=g=b renders: luma == source pixel
    out["fixture_ocr_note.png"] = (*_stats(grid_lumas(
        ["SCANNED NOTE 1", "TOTAL DUE: 42.50", "PAY BY 2024-06-30!"], 2)), True)
    out["fixture_ocr_badge.png"] = (*_stats(grid_lumas(
        ["BUILD PASSING", "COVERAGE = 97?", "(SEE LOG / RUN 12)"], 3)), True)

    def prop_lumas(lines, scale, kern=None):
        _w, _h, grid = _render_text_grid_prop(lines, scale, 8, kern=kern)
        return [px for row in grid for px in row]

    out["fixture_ocr_prop.png"] = (*_stats(prop_lumas(PROP_PNG_LINES, 2)), True)
    out["fixture_ocr_kerned.png"] = (*_stats(prop_lumas(
        KERNED_PNG_LINES, 2, kern=KERNED_PNG_KERN)), True)
    _mw, _mh, _mrows = _vstack_grids([
        (MIXED_HEAD_LINES, MIXED_HEAD_SCALE),
        (MIXED_BODY_LINES, MIXED_BODY_SCALE),
    ])
    out["fixture_ocr_mixed_scale.png"] = (
        *_stats([px for row in _mrows for px in row]), True)
    out["fixture_ocr_panel.bmp"] = (*_stats(grid_lumas(
        ["PANEL ID 3348", "VOLTAGE 230V 50HZ"], 2)), True)
    out["fixture_ocr_crate.tiff"] = (*_stats(grid_lumas(
        ["CRATE 88 FRAGILE", "THIS SIDE UP"], 2)), True)
    out["fixture_ocr_tag.webp"] = (*_stats(grid_lumas(
        ["LOT 4519 SHELF C", "BEST BY 2027-03"], 2)), True)
    # GIF text render thresholds the grid to a 2-color palette first
    out["fixture_ocr_sign.gif"] = (*_stats(
        [0 if px < 128 else 255
         for px in grid_lumas(["EXIT ROUTE 7", "KEEP CLEAR"], 2)]), True)
    # JPEGs: near-lossless DCT round-trip — tolerance, not equality
    out["fixture_ocr_card.jpg"] = (*_stats(grid_lumas(
        ["MEMBER CARD 0042", "VALID: 2025/12-2026/11", "LEVEL = GOLD!"], 2)), False)
    out["fixture_ocr_scan.jpg"] = (*_stats(grid_lumas(
        ["DELIVERY SCAN 0731", "GATE B ROW 6"], 2)), False)

    # antialiased renders: the SOURCE raster is the blurred grid itself
    # (the blur is generator-side, so these stats stay decoder-independent)
    def aa_lumas(lines, scale):
        _w, _h, grid = _render_text_grid(lines, scale, 8)
        return [px for row in antialias_grid(grid) for px in row]

    out["fixture_ocr_aa_label.png"] = (*_stats(aa_lumas(AA_PNG_LINES, 2)), True)
    out["fixture_ocr_aa_plate.tiff"] = (*_stats(aa_lumas(AA_TIFF_LINES, 2)), True)
    out["fixture_ocr_aa_tag.webp"] = (*_stats(aa_lumas(AA_WEBP_LINES, 3)), True)

    # color fixtures: rebuild the exact source arrays the builders emit
    pal8 = [(0, 0, 0), (255, 255, 255), (200, 30, 30), (30, 200, 30),
            (30, 30, 200), (220, 220, 40), (40, 220, 220), (180, 60, 180)]
    out["fixture_tiles.gif"] = (*_stats(
        [_luma601(*pal8[((x // 8) + (y // 8)) % 8])
         for y in range(64) for x in range(96)]), True)
    out["fixture_gradient.bmp"] = (*_stats(
        [_luma601((x * y) % 256, (y * 5) % 256, (x * 3) % 256)
         for y in range(50) for x in range(80)]), True)
    out["fixture_mosaic.tiff"] = (*_stats(
        [_luma601(v, (v * 3) % 256, 255 - v)
         for v in (((x // 6) * 16 + (y // 6)) % 256
                   for y in range(60) for x in range(90))]), True)
    out["fixture_swatch.webp"] = (*_stats(
        [_luma601(i * 17, ((i * 5) % 16) * 17, (15 - i) * 17)
         for i in (((x // 5) + (y // 5)) % 16
                   for y in range(40) for x in range(72))]), True)
    return out


def build() -> dict[str, bytes]:
    """Every fixture by file name, in the order main() writes them."""
    return {
        "fixture_two_column.pdf": two_column_pdf(),
        "fixture_furniture_code.pdf": furniture_code_pdf(),
        "fixture_rotated.pdf": rotated_pdf(),
        "fixture_formula.pdf": formula_pdf(),
        # RC4/R3 encryption (ISO 32000 §7.6) under the golden oracle
        "fixture_encrypted.pdf": encrypt_pdf(3),
        "fixture_fonts.pdf": fonts_pdf(),
        "fixture_dates.xlsx": dates_xlsx(),
        "fixture_code.docx": code_docx(),
        "fixture_legacy.rtf": legacy_rtf(),
        "fixture_report.odt": odf_zip(_ODT_CONTENT, "application/vnd.oasis.opendocument.text"),
        "fixture_ledger.ods": odf_zip(_ODS_CONTENT, "application/vnd.oasis.opendocument.spreadsheet"),
        "fixture_deck.odp": odf_zip(_ODP_CONTENT, "application/vnd.oasis.opendocument.presentation"),
        "fixture_grid.xls": biff_xls(),
        "fixture_deck.ppt": binary_ppt(),
        "fixture_page.html": boilerplate_html(),
        **ocr_pngs(),
        **ocr_jpegs(),
        "fixture_tiles.gif": _gif_fixture(),
        "fixture_gradient.bmp": _bmp_fixture(),
        "fixture_ocr_sign.gif": render_text_gif(
            ["EXIT ROUTE 7", "KEEP CLEAR"], scale=2),
        "fixture_ocr_panel.bmp": render_text_bmp(
            ["PANEL ID 3348", "VOLTAGE 230V 50HZ"], scale=2),
        "fixture_ocr_crate.tiff": render_text_tiff(
            ["CRATE 88 FRAGILE", "THIS SIDE UP"], scale=2),
        "fixture_mosaic.tiff": _tiff_fixture(),
        "fixture_ocr_tag.webp": render_text_webp(
            ["LOT 4519 SHELF C", "BEST BY 2027-03"], scale=2),
        "fixture_swatch.webp": _webp_fixture(),
        # antialiased renders (r4): 3x3 integer tent blur over the glyph
        # grid — mid-gray stroke edges that the old any-mid-pixel gates
        # rejected as figure-only; the cumulative bimodal gate + exact
        # post-threshold grid match must decode the same text
        **aa_fixtures(),
    }


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    for name, data in build().items():
        with open(os.path.join(OUT, name), "wb") as fh:
            fh.write(data)
        print(f"{name}: {len(data)} bytes")


if __name__ == "__main__":
    main()
