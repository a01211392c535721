"""ODF (odt/ods/odp), RTF, and legacy binary (.xls BIFF8, .ppt) kernels —
the rest of the reference's office whitelist
(document_service.py:49-56). Fixtures are synthesized in-test from the
public specs; the CFB fixtures double as a cross-check of the CFB reader
(write with corpus.write_cfb, an independent minimal writer, read back
with the engine's).
"""

from __future__ import annotations

import os
import struct

import pytest

from documentconvert_spark.corpus import (
    biff_rec,
    classic_pdf,
    det_zip,
    make_ppt,
    make_word_doc,
    make_xls,
    odf_zip,
    page_tree,
    stream_obj,
    write_cfb,
    xl_str8,
    xlsx_zip,
)
from documentconvert_spark.kernels.detect import extract, extract_media_files
from documentconvert_spark.kernels.minibiff import extract_ppt, extract_xls
from documentconvert_spark.kernels.miniodf import extract_odf
from documentconvert_spark.kernels.minirtf import extract_rtf
from tests.test_raster import REF_TEST

# ------------------------------------------------------------------ ODF

_ODT_CONTENT = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
  xmlns:xlink="http://www.w3.org/1999/xlink">
 <office:body><office:text>
  <text:h text:outline-level="1">Annual Report</text:h>
  <text:p>First paragraph with <text:span>inline span</text:span> text.</text:p>
  <text:p><draw:frame><draw:image xlink:href="Pictures/chart1.png"/></draw:frame>Caption text</text:p>
  <table:table table:name="T1">
   <table:table-row>
    <table:table-cell office:value-type="string"><text:p>name</text:p></table:table-cell>
    <table:table-cell office:value-type="float" office:value="42"><text:p>42</text:p></table:table-cell>
   </table:table-row>
   <table:table-row>
    <table:table-cell><text:p>alpha</text:p></table:table-cell>
    <table:table-cell office:value-type="float" office:value="7.5"><text:p>7.5</text:p></table:table-cell>
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
  <table:table table:name="Budget">
   <table:table-row>
    <table:table-cell office:value-type="string"><text:p>item</text:p></table:table-cell>
    <table:table-cell office:value-type="string" table:number-columns-repeated="2"><text:p>x</text:p></table:table-cell>
   </table:table-row>
   <table:table-row>
    <table:table-cell office:value-type="float" office:value="100"><text:p>100</text:p></table:table-cell>
    <table:table-cell office:value-type="date" office:date-value="2026-01-02"/>
    <table:table-cell office:value-type="string"><text:p>ok</text:p></table:table-cell>
   </table:table-row>
  </table:table>
 </office:spreadsheet></office:body>
</office:document-content>"""

_ODP_CONTENT = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
  xmlns:presentation="urn:oasis:names:tc:opendocument:xmlns:presentation:1.0"
  xmlns:xlink="http://www.w3.org/1999/xlink">
 <office:body><office:presentation>
  <draw:page draw:name="page1">
   <draw:frame presentation:class="title"><draw:text-box><text:p>Deck Title</text:p></draw:text-box></draw:frame>
   <draw:frame presentation:class="outline"><draw:text-box><text:p>bullet one</text:p><text:p>bullet two</text:p></draw:text-box></draw:frame>
   <draw:frame><draw:image xlink:href="Pictures/logo.png"/></draw:frame>
  </draw:page>
 </office:presentation></office:body>
</office:document-content>"""


def test_odt():
    spans = extract_odf(odf_zip(_ODT_CONTENT, "application/vnd.oasis.opendocument.text"))
    kinds = [s.kind for s in spans]
    assert kinds == ["heading", "paragraph", "figure", "paragraph", "table"]
    assert spans[0].text == "Annual Report"
    assert "inline span" in spans[1].text
    assert spans[2].media_ref == "chart1.png"
    assert spans[4].text == "name\t42\nalpha\t7.5"


def test_ods():
    spans = extract_odf(odf_zip(_ODS_CONTENT, "application/vnd.oasis.opendocument.spreadsheet"))
    assert [s.kind for s in spans] == ["heading", "table"]
    assert spans[0].text == "Budget"
    assert spans[1].text == "item\tx\tx\n100\t2026-01-02\tok"


def test_odp():
    spans = extract_odf(odf_zip(_ODP_CONTENT, "application/vnd.oasis.opendocument.presentation"))
    assert [s.kind for s in spans] == ["heading", "paragraph", "figure"]
    assert spans[0].text == "Deck Title"
    assert "bullet one" in spans[1].text and "bullet two" in spans[1].text
    assert spans[2].media_ref == "logo.png"


# ------------------------------------------------------------------ RTF

def test_rtf_basic():
    rtf = (rb"{\rtf1\ansi\ansicpg1252\deff0"
           rb"{\fonttbl{\f0 Times New Roman;}}"
           rb"{\info{\title secret metadata}}"
           rb"\pard\outlinelevel0\b\fs36 Quarterly Review\b0\fs24\par"
           b"\\pard First body paragraph with \\'e9 accent and \\u20013? char.\\par"
           rb"\trowd\intbl cellA\cell cellB\cell\row"
           rb"\trowd\intbl cellC\cell cellD\cell\row\pard"
           rb"Last paragraph.\par}")
    spans = extract_rtf(rtf)
    kinds = [s.kind for s in spans]
    assert kinds == ["heading", "paragraph", "table", "paragraph"]
    assert spans[0].text == "Quarterly Review"
    assert "é" in spans[1].text and "中" in spans[1].text  # \'e9 +  3
    assert "secret metadata" not in " ".join(s.text for s in spans)  # \info skipped
    assert spans[2].text == "cellA\tcellB\ncellC\tcellD"


def test_rtf_pict_becomes_figure():
    rtf = (rb"{\rtf1\ansi Intro\par"
           rb"{\pict\pngblip\picw100\pich100 a1b2c3d4e5f6}"
           rb"After image.\par}")
    spans = extract_rtf(rtf)
    assert [s.kind for s in spans] == ["paragraph", "figure", "paragraph"]
    assert spans[1].media_ref.endswith(".jpg")


def test_rtf_rejects_non_rtf():
    with pytest.raises(ValueError):
        extract_rtf(b"plain text, no rtf header")


# ------------------------------------------------------------------ .xls

def test_xls_biff8():
    spans = extract_xls(make_xls())
    assert [s.kind for s in spans] == ["heading", "table"]
    assert spans[0].text == "Data"
    assert spans[1].text == "name\t宽字符\nalpha\t12\nbeta\t25"


def test_xls_routed_by_ole_directory():
    spans = extract("markup", make_xls())
    assert spans[0].text == "Data"


# ------------------------------------------------------------------ .ppt

def test_ppt_text_atoms():
    spans = extract_ppt(make_ppt())
    assert spans[0].kind == "heading" and spans[0].text == "Roadmap 2026"
    texts = [s.text for s in spans]
    assert "第一点" in texts and "第二点" in texts and "ascii only run" in texts


def test_ppt_routed_by_ole_directory():
    spans = extract("markup", make_ppt())
    assert spans[0].text == "Roadmap 2026"


# ------------------------------------------------------------ docx OMML math

def test_docx_omml_formula_spans():
    """OMML math zones become formula spans and their runs are excluded
    from the paragraph text (reference formulas_detected class)."""
    from documentconvert_spark.kernels.miniooxml import extract_docx

    doc_xml = """<?xml version="1.0"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"
            xmlns:m="http://schemas.openxmlformats.org/officeDocument/2006/math">
 <w:body>
  <w:p><w:r><w:t>The energy relation</w:t></w:r>
   <m:oMath><m:r><m:t>E=mc</m:t></m:r><m:sSup><m:e><m:r><m:t></m:t></m:r></m:e>
     <m:sup><m:r><m:t>2</m:t></m:r></m:sup></m:sSup></m:oMath>
   <w:r><w:t> holds everywhere.</w:t></w:r></w:p>
 </w:body>
</w:document>"""
    spans = extract_docx(det_zip([("word/document.xml", doc_xml)]))
    kinds = [s.kind for s in spans]
    assert kinds == ["paragraph", "formula"]
    assert spans[0].text == "The energy relation holds everywhere."
    assert spans[1].text == "E=mc2"


# ---------------------------------------------- review-finding regressions

def test_xls_negative_rk_values():
    """RK integers are signed 30-bit: -1 must not decode as 2^30-1."""
    bof = biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    bs = struct.pack("<IBB", 0, 0, 0) + xl_str8("Neg")
    glob_tmp = bof + biff_rec(0x0085, bs) + biff_rec(0x000A, b"")
    neg1 = (((-1) & 0x3FFFFFFF) << 2) | 0x02            # int -1
    negc = (((-5) & 0x3FFFFFFF) << 2) | 0x03            # int -5 with cent flag = -0.05
    sheet = (
        biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + biff_rec(0x027E, struct.pack("<HHHI", 0, 0, 0, neg1 & 0xFFFFFFFF))
        + biff_rec(0x027E, struct.pack("<HHHI", 0, 1, 0, negc & 0xFFFFFFFF))
        + biff_rec(0x000A, b"")
    )
    bs2 = struct.pack("<I", len(glob_tmp)) + bs[4:]
    glob = bof + biff_rec(0x0085, bs2) + biff_rec(0x000A, b"")
    spans = extract_xls(write_cfb([("Workbook", glob + sheet)]))
    assert spans[1].text == "-1\t-0.05"


def test_xls_sst_rich_text_runs_skipped():
    """fRichSt run payloads after the chars must not desync later strings."""
    bof = biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    bs = struct.pack("<IBB", 0, 0, 0) + xl_str8("Rich")
    glob_tmp = bof + biff_rec(0x0085, bs) + biff_rec(0x000A, b"")
    # string 0: rich (2 runs), string 1: plain — the second must survive
    sst = struct.pack("<II", 2, 2)
    sst += struct.pack("<HBH", 4, 0x08, 2) + b"rich" + b"\x00" * 8  # 2 runs x 4B
    sst += struct.pack("<HB", 5, 0) + b"plain"
    glob_tmp = bof + biff_rec(0x0085, bs) + biff_rec(0x00FC, sst) + biff_rec(0x000A, b"")
    sheet = (
        biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + biff_rec(0x00FD, struct.pack("<HHHI", 0, 0, 0, 0))
        + biff_rec(0x00FD, struct.pack("<HHHI", 0, 1, 0, 1))
        + biff_rec(0x000A, b"")
    )
    bs2 = struct.pack("<I", len(glob_tmp)) + bs[4:]
    glob = bof + biff_rec(0x0085, bs2) + biff_rec(0x00FC, sst) + biff_rec(0x000A, b"")
    spans = extract_xls(write_cfb([("Workbook", glob + sheet)]))
    assert spans[1].text == "rich\tplain"


def test_xlsx_cells_without_r_attribute():
    """c/@r is optional — implied sequential positions must not collapse."""
    from documentconvert_spark.kernels.miniooxml import extract_xlsx

    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData><row><c t="inlineStr"><is><t>a</t></is></c>
  <c t="inlineStr"><is><t>b</t></is></c>
  <c t="inlineStr"><is><t>c</t></is></c></row></sheetData>
</worksheet>"""
    spans = extract_xlsx(xlsx_zip(sheet))
    assert spans[1].text == "a\tb\tc"


def test_rtf_pard_resets_intbl():
    """\\pard after an unterminated row must flush the cells and restore
    normal paragraph flow (spec: \\pard resets \\intbl)."""
    rtf = (rb"{\rtf1 \trowd\intbl A\cell B\cell\row"
           rb" \intbl C\cell D\cell \pard Next\par Last\par}")
    spans = extract_rtf(rtf)
    kinds = [s.kind for s in spans]
    assert kinds == ["table", "paragraph", "paragraph"]
    assert spans[0].text == "A\tB\nC\tD"
    assert spans[1].text == "Next" and spans[2].text == "Last"


def test_realpdf_tounicode_default_width_one():
    """A 1-byte simple font whose ToUnicode omits codespacerange must not
    be decoded as 2-byte (which blanks all its text)."""
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"1 begincmap\n2 beginbfchar\n<41> <0058>\n<42> <0059>\nendbfchar\nendcmap")
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"BT /F1 10 Tf 72 700 Td (AB) Tj ET")
    objs[5] = b"<</Type /Font /Subtype /TrueType /BaseFont /X /ToUnicode 6 0 R>>"
    objs[6] = stream_obj(b"", cmap)
    from documentconvert_spark.kernels.realpdf import extract_realpdf
    spans = extract_realpdf(classic_pdf(objs))
    assert spans and spans[0].text == "XY"


def test_rtf_pict_media_bytes_match_figure_span():
    """extract_media_files pulls the \\pict payload bytes and its key
    matches the figure span the RTF tokenizer emits (J3 integrity)."""

    payload = b"89504e470d0a1a0a" + b"00" * 16  # PNG magic + padding
    rtf = (b"{\\rtf1\\ansi Intro\\par"
           b"{\\pict\\pngblip\\picw4\\pich4 " + payload + b"}"
           b"After.\\par}")
    spans = extract_rtf(rtf)
    fig_refs = {s.media_ref for s in spans if s.kind == "figure"}
    media = extract_media_files(rtf)
    assert len(media) == 1
    ref, blob = media[0]
    assert {ref} == fig_refs
    assert blob[:8] == b"\x89PNG\r\n\x1a\x0a"


def test_rtf_shppict_span_media_parity():
    """Word writes {\\*\\shppict{\\pict <emf>}}{\\nonshppict{\\pict <wmf>}}.
    The shppict copy must become exactly ONE figure span, and the media side
    table (same tokenizer walk) must produce exactly one row with the SAME
    media_ref — round-1 advisor found the old regex emitted orphan rows."""

    png_hex = b"89504e470d0a1a0a"  # PNG magic as the "modern" payload
    wmf_hex = b"d7cdc69a00000000"  # placeholder fallback payload
    rtf = (rb"{\rtf1\ansi Before\par"
           rb"{\*\shppict{\pict\pngblip\picw100\pich50 " + png_hex + rb"}}"
           rb"{\nonshppict{\pict\wmetafile8 " + wmf_hex + rb"}}"
           rb"After\par}")
    spans = extract_rtf(rtf)
    figs = [s for s in spans if s.kind == "figure"]
    assert len(figs) == 1, [s.kind for s in spans]
    media = extract_media_files(rtf)
    assert len(media) == 1
    ref, blob = media[0]
    assert ref == figs[0].media_ref
    assert blob == bytes.fromhex(png_hex.decode())


def test_rtf_pict_nested_subgroup_hash_consistency():
    """A {\\pict ...} containing a nested subgroup: the figure span's ref and
    the media row's ref must still agree (the old regex stopped at the first
    closing brace while the tokenizer folded subgroup bytes into its hash)."""

    hex1 = b"dead"
    hex2 = b"beef"
    rtf = (rb"{\rtf1\ansi X\par"
           rb"{\pict\pngblip " + hex1 + rb"{\*\picprop junk}" + hex2 + rb"}}")
    spans = extract_rtf(rtf)
    figs = [s for s in spans if s.kind == "figure"]
    assert len(figs) == 1
    media = extract_media_files(rtf)
    assert len(media) == 1
    assert media[0][0] == figs[0].media_ref


def test_rtf_bin_pict_content_derived_refs():
    """\\binN pictures: the figure-span hash must cover the binary payload
    so two different pictures never collide, and the media row carries the
    raw bytes."""

    def doc(payload: bytes) -> bytes:
        return b"{\\rtf1 {\\pict\\bin" + str(len(payload)).encode() + b" " + payload + b"} x\\par}"

    d1, d2 = doc(b"\x01\x02\x03\x04"), doc(b"\xaa\xbb\xcc\xdd")
    s1 = [s for s in extract_rtf(d1) if s.kind == "figure"]
    s2 = [s for s in extract_rtf(d2) if s.kind == "figure"]
    assert len(s1) == len(s2) == 1
    assert s1[0].media_ref != s2[0].media_ref
    m1 = extract_media_files(d1)
    assert m1 == [(s1[0].media_ref, b"\x01\x02\x03\x04")]


def test_rtf_unknown_codepage_contained():
    """A crafted \\ansicpg99999 must not blow up mid-document with
    LookupError: the code page validates once and falls back to cp1252."""
    rtf = b"{\\rtf1\\ansicpg99999 hello \\'e9 world\\par}"
    spans = extract_rtf(rtf)
    assert any("hello" in s.text for s in spans)
    assert extract_media_files(rtf) == []


def test_docx_nonnumeric_outline_level_contained():
    from documentconvert_spark.kernels.miniooxml import extract_docx

    doc_xml = """<?xml version="1.0"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:p><w:pPr><w:outlineLvl w:val="body"/></w:pPr><w:r><w:t>Odd heading</w:t></w:r></w:p>
  <w:p><w:r><w:t>normal paragraph text</w:t></w:r></w:p>
 </w:body>
</w:document>"""
    spans = extract_docx(det_zip([("word/document.xml", doc_xml)]))
    assert [(s.kind, s.level) for s in spans] == [("heading", 1), ("paragraph", 0)]


# ------------------------------------------------------------------ .doc

_REF_MATH_DOC = os.path.join(REF_TEST, "2024年浙江省中考数学试卷.doc")
_CARD_JPG = os.path.join(os.path.dirname(__file__), os.pardir, "documentconvert_spark",
                         "resources", "extra_docs", "fixture_ocr_card.jpg")


def test_doc_anchor_in_first_table_cell():
    """A picture anchor BEFORE the first cell mark must not split the
    table or leak cell text into a paragraph span — table-ness is decided
    per paragraph, not at the first 0x07."""
    from collections import Counter

    with open(_CARD_JPG, "rb") as fh:
        jpeg = fh.read()
    # one 2x2 table whose first cell holds the picture anchor (0x01) after
    # its text "Q1 " and before the first cell mark (0x07)
    text = ("Exam paper\r"
            "Q1 \x01stem\x07B1\x07\x07A2\x07B2\x07\x07\r"
            "After the table\r")
    spans = extract("markup", make_word_doc(text, [jpeg]))
    kinds = Counter(s.kind for s in spans)
    assert kinds["figure"] == 1 and kinds["table"] == 1
    assert any("\t" in s.text for s in spans if s.kind == "table")
    assert not any("Q1" in s.text for s in spans if s.kind != "table")

    if os.path.isfile(_REF_MATH_DOC):
        with open(_REF_MATH_DOC, "rb") as fh:
            spans = extract("markup", fh.read())
        kinds = Counter(s.kind for s in spans)
        # all 31 pictures interleave as figures and the 3 tables survive
        # un-split (an anchor in a first cell must not fragment the grid)
        assert kinds["figure"] == 31 and kinds["table"] == 3
        assert any("\t" in s.text for s in spans if s.kind == "table")


def test_doc_without_its_table_stream_is_malformed_input():
    """A .doc whose FIB names a table stream the file lacks is a corrupt
    document, not a missing input path: the error row classifies as
    malformed_input, whose remediation fits."""
    import pandas as pd

    from documentconvert_spark.udfs import _extract_batch

    doc = bytearray(make_word_doc("Hello world\r", []))
    fib = doc.index(b"\xec\xa5")  # wIdent: the WordDocument stream starts here
    doc[fib + 11] ^= 0x02  # fWhichTblStm now names the other table stream
    out = _extract_batch(pd.Series(["d"]), pd.Series(["markup"]), pd.Series([bytes(doc)]))
    assert out.error[0].startswith("ValueError: doc: malformed compound document")
    assert out.error_class[0] == "malformed_input"


def test_xlsx_date_cells_render_as_dates():
    """Numeric cells styled with a date numFmt render ISO dates/times
    instead of raw day serials; unstyled numbers stay numbers."""
    from documentconvert_spark.kernels.miniooxml import extract_xlsx

    # serial 45123 = 2023-07-16; 45123.5 adds 12:00:00; 0.75 = 18:00:00
    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row><c r="A1" s="1"><v>45123</v></c>
   <c r="B1" s="2"><v>45123.5</v></c>
   <c r="C1" s="3"><v>0.75</v></c>
   <c r="D1"><v>45123</v></c>
   <c r="E1" s="4"><v>45123</v></c></row>
 </sheetData></worksheet>"""
    styles = """<?xml version="1.0"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy/mm/dd"/></numFmts>
 <cellXfs count="5">
  <xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="22"/>
  <xf numFmtId="21"/><xf numFmtId="164"/>
 </cellXfs></styleSheet>"""
    spans = extract_xlsx(xlsx_zip(sheet, styles))
    cells = spans[1].text.split("\t")
    assert cells == ["2023-07-16", "2023-07-16 12:00:00", "18:00:00",
                     "45123", "2023-07-16"], cells


def test_xls_biff_date_cells_render_as_dates():
    """BIFF NUMBER/RK cells whose XF points at a date ifmt render as
    dates (FORMAT custom code + builtin ifmt both work)."""
    sst_payload = struct.pack("<II", 1, 1) + struct.pack("<HB", 4, 0) + b"when"
    bof = biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    # XF 0: general; XF 1: builtin date 14; XF 2: custom FORMAT 164
    fmt164 = struct.pack("<H", 164) + struct.pack("<HB", 8, 0) + b"yyyy\\-mm"
    xf = lambda ifmt: biff_rec(0x00E0, struct.pack("<HH", 0, ifmt) + b"\x00" * 12)
    boundsheet_placeholder = struct.pack("<IBB", 0, 0, 0) + xl_str8("D")
    def build(globals_mid: bytes) -> tuple[bytes, int]:
        part = bof + globals_mid + biff_rec(0x000A, b"")
        return part, len(part)
    mid = (biff_rec(0x041E, fmt164) + xf(0) + xf(14) + xf(164)
           + biff_rec(0x0085, boundsheet_placeholder)
           + biff_rec(0x00FC, sst_payload))
    globals_part, sheet_off = build(mid)
    sheet = (
        biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + biff_rec(0x00FD, struct.pack("<HHHI", 0, 0, 0, 0))          # A1 "when"
        + biff_rec(0x0203, struct.pack("<HHHd", 1, 0, 1, 45123.0))    # A2 date
        + biff_rec(0x027E, struct.pack("<HHHI", 2, 0, 2, (45124 << 2) | 0x02))  # A3 RK date
        + biff_rec(0x0203, struct.pack("<HHHd", 3, 0, 0, 45123.0))    # A4 plain
        + biff_rec(0x000A, b"")
    )
    mid_fixed = (biff_rec(0x041E, fmt164) + xf(0) + xf(14) + xf(164)
                 + biff_rec(0x0085, struct.pack("<I", sheet_off) + boundsheet_placeholder[4:])
                 + biff_rec(0x00FC, sst_payload))
    globals_part, _ = build(mid_fixed)
    spans = extract_xls(write_cfb([("Workbook", globals_part + sheet)]))
    rows = spans[1].text.splitlines()
    assert rows == ["when", "2023-07-16", "2023-07-17", "45123"], rows


def test_xlsx_percent_bool_and_formula_cells():
    """Percent-styled cells scale and suffix %, booleans render
    TRUE/FALSE (xlsx); BIFF FORMULA cached results surface (numeric,
    boolean, and string-via-STRING-record), BOOLERR booleans too."""
    from documentconvert_spark.kernels.miniooxml import extract_xlsx

    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData><row>
  <c r="A1" s="1"><v>0.125</v></c>
  <c r="B1" t="b"><v>1</v></c>
  <c r="C1" t="b"><v>0</v></c>
  <c r="D1"><f>SUM(1,2)</f><v>3</v></c>
 </row></sheetData></worksheet>"""
    styles = """<?xml version="1.0"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="9"/></cellXfs></styleSheet>"""
    spans = extract_xlsx(xlsx_zip(sheet, styles))
    assert spans[1].text.split("\t") == ["12.5%", "TRUE", "FALSE", "3"]


def test_xls_formula_and_boolerr_cells():
    sst_payload = struct.pack("<II", 1, 1) + struct.pack("<HB", 3, 0) + b"hdr"
    bof = biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    xf = lambda ifmt: biff_rec(0x00E0, struct.pack("<HH", 0, ifmt) + b"\x00" * 12)
    boundsheet_placeholder = struct.pack("<IBB", 0, 0, 0) + xl_str8("D")
    def glb(off: int) -> bytes:
        return (bof + xf(0) + xf(9)
                + biff_rec(0x0085, struct.pack("<I", off) + boundsheet_placeholder[4:])
                + biff_rec(0x00FC, sst_payload) + biff_rec(0x000A, b""))
    sheet_off = len(glb(0))
    # FORMULA cached numeric (percent xf), FORMULA bool, FORMULA string +
    # STRING record, BOOLERR bool, BOOLERR error (dropped)
    f_num = struct.pack("<HHH", 0, 0, 1) + struct.pack("<d", 0.25) + b"\x00\x00\x00\x00\x00\x00"
    f_bool = struct.pack("<HHH", 0, 1, 0) + bytes([1, 0, 1, 0, 0, 0, 0xFF, 0xFF]) + b"\x00" * 6
    f_str = struct.pack("<HHH", 0, 2, 0) + bytes([0, 0, 0, 0, 0, 0, 0xFF, 0xFF]) + b"\x00" * 6
    s_rec = struct.pack("<HB", 2, 0) + b"ok"
    b_true = struct.pack("<HHH", 1, 0, 0) + bytes([1, 0])
    b_err = struct.pack("<HHH", 1, 1, 0) + bytes([0x17, 1])
    sheet = (
        biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + biff_rec(0x0006, f_num)
        + biff_rec(0x0006, f_bool)
        + biff_rec(0x0006, f_str) + biff_rec(0x0207, s_rec)
        + biff_rec(0x0205, b_true)
        + biff_rec(0x0205, b_err)
        + biff_rec(0x000A, b"")
    )
    spans = extract_xls(write_cfb([("Workbook", glb(sheet_off) + sheet)]))
    rows = spans[1].text.splitlines()
    assert rows == ["25%\tTRUE\tok", "TRUE"], rows


def test_excel_serial_edge_cases():
    from documentconvert_spark.kernels.miniooxml import excel_serial_to_text

    # 1904-epoch serial near the 1900-system cap must not raise
    assert excel_serial_to_text("2958000", date1904=True) == "2958000"
    # fraction rounding to a full day rolls to the next date / 00:00:00
    assert excel_serial_to_text("0.9999999", time_only=True) == "00:00:00"
    assert excel_serial_to_text("45123.9999999") == "2023-07-17"
    assert excel_serial_to_text("2958465.9999999") == "2958465.9999999"


def test_xls_shrfmla_between_formula_and_string():
    """[MS-XLS] allows ShrFmla/Array/Table between a FORMULA and its
    STRING result — the cached string must still land in its cell."""
    sst_payload = struct.pack("<II", 0, 0)
    bof = biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    boundsheet_placeholder = struct.pack("<IBB", 0, 0, 0) + xl_str8("D")
    def glb(off: int) -> bytes:
        return (bof
                + biff_rec(0x0085, struct.pack("<I", off) + boundsheet_placeholder[4:])
                + biff_rec(0x00FC, sst_payload) + biff_rec(0x000A, b""))
    sheet_off = len(glb(0))
    f_str = struct.pack("<HHH", 0, 0, 0) + bytes([0, 0, 0, 0, 0, 0, 0xFF, 0xFF]) + b"\x00" * 6
    s_rec = struct.pack("<HB", 5, 0) + b"hello"
    sheet = (
        biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + biff_rec(0x0006, f_str)
        + biff_rec(0x04BC, b"\x00" * 8)   # ShrFmla in between
        + biff_rec(0x0207, s_rec)
        + biff_rec(0x000A, b"")
    )
    spans = extract_xls(write_cfb([("Workbook", glb(sheet_off) + sheet)]))
    assert spans[1].text == "hello"


def test_xlsx_dxfs_numfmt_does_not_pollute():
    """A conditional-format dxf reusing a numFmtId must not override the
    top-level numFmts classification."""
    from documentconvert_spark.kernels.miniooxml import extract_xlsx

    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData><row><c r="A1" s="1"><v>45123</v></c></row></sheetData></worksheet>"""
    styles = """<?xml version="1.0"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy-mm-dd"/></numFmts>
 <cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="164"/></cellXfs>
 <dxfs count="1"><dxf><numFmt numFmtId="164" formatCode="0.00"/></dxf></dxfs>
</styleSheet>"""
    spans = extract_xlsx(xlsx_zip(sheet, styles))
    assert spans[1].text == "2023-07-16"


def test_xlsx_nonfinite_numbers_do_not_error_workbook():
    """<v>1e999</v> parses as +inf; int(inf) raises OverflowError which
    _fmt_num previously didn't catch — a single garbage cell under a
    date/percent/plain style must not turn the workbook into an error
    row. Covers all three style routes plus nan."""
    from documentconvert_spark.kernels.miniooxml import (
        _fmt_num, extract_xlsx, percent_to_text)

    assert _fmt_num("1e999") == "1e999"
    assert _fmt_num("-1e999") == "-1e999"
    assert _fmt_num("nan") == "nan"
    assert percent_to_text("1e999").endswith("%")

    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData><row>
  <c r="A1" s="1"><v>1e999</v></c>
  <c r="B1" s="2"><v>1e999</v></c>
  <c r="C1"><v>-1e999</v></c>
  <c r="D1"><v>nan</v></c>
 </row></sheetData></worksheet>"""
    styles = """<?xml version="1.0"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="9"/>
 </cellXfs></styleSheet>"""
    spans = extract_xlsx(xlsx_zip(sheet, styles))  # must not raise
    cells = spans[1].text.split("\t")
    assert cells[0] == "1e999" and cells[2] == "-1e999", cells


def test_odf_list_text_inside_cell_kept():
    """text:p inside a text:list item in a cell (direct-children findall
    dropped it); nested-table text is not duplicated into the host cell
    (its rows are already emitted by the deep row iterator)."""
    content = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0">
 <office:body><office:spreadsheet>
  <table:table table:name="S">
   <table:table-row>
    <table:table-cell><text:list><text:list-item><text:p>listed value</text:p></text:list-item></text:list></table:table-cell>
    <table:table-cell><text:p>plain</text:p></table:table-cell>
   </table:table-row>
  </table:table>
 </office:spreadsheet></office:body>
</office:document-content>"""
    spans = extract_odf(odf_zip(content, "application/vnd.oasis.opendocument.spreadsheet"))
    assert spans[1].text == "listed value\tplain"


def test_odf_annotations_excluded_and_odp_bullets_kept():
    """Cell comments (office:annotation) stay out of table text; odp
    bullet text inside text:list items in a text-box extracts."""
    ods = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0">
 <office:body><office:spreadsheet><table:table table:name="S">
  <table:table-row><table:table-cell>
    <office:annotation><text:p>REVIEWER NOTE</text:p></office:annotation>
    <text:p>visible value</text:p>
  </table:table-cell></table:table-row>
 </table:table></office:spreadsheet></office:body></office:document-content>"""
    spans = extract_odf(odf_zip(ods, "application/vnd.oasis.opendocument.spreadsheet"))
    assert spans[1].text == "visible value"

    odp = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
  xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
  xmlns:presentation="urn:oasis:names:tc:opendocument:xmlns:presentation:1.0">
 <office:body><office:presentation><draw:page draw:name="p1">
  <draw:frame presentation:class="outline"><draw:text-box>
   <text:list><text:list-item><text:p>bullet alpha</text:p></text:list-item>
    <text:list-item><text:p>bullet beta</text:p></text:list-item></text:list>
  </draw:text-box></draw:frame>
 </draw:page></office:presentation></office:body></office:document-content>"""
    spans = extract_odf(odf_zip(odp, "application/vnd.oasis.opendocument.presentation"))
    texts = "\n".join(s.text for s in spans)
    assert "bullet alpha" in texts and "bullet beta" in texts


def test_pptx_deck_title_levels():
    """Slide-title heading depth mirrors deck structure: the ctrTitle
    cover (or first title) is level 1, later slide titles level 2 —
    not a flat 1 (the ppt analogue of docx outline levels)."""
    from documentconvert_spark.kernels.miniooxml import extract_pptx

    def slide(body: str) -> str:
        return ('<?xml version="1.0"?>'
                '<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
                ' xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">'
                f'<p:cSld><p:spTree>{body}</p:spTree></p:cSld></p:sld>')

    def sp(ph_type: str, text: str) -> str:
        return ('<p:sp><p:nvSpPr><p:nvPr>'
                f'<p:ph type="{ph_type}"/>'
                '</p:nvPr></p:nvSpPr><p:txBody>'
                f'<a:p><a:r><a:t>{text}</a:t></a:r></a:p></p:txBody></p:sp>')

    pres = ('<?xml version="1.0"?>'
            '<p:presentation xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
            ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<p:sldIdLst><p:sldId id="256" r:id="rId1"/>'
            '<p:sldId id="257" r:id="rId2"/><p:sldId id="258" r:id="rId3"/>'
            '</p:sldIdLst></p:presentation>')
    rels = ('<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://a/slide" Target="slides/slide1.xml"/>'
            '<Relationship Id="rId2" Type="http://a/slide" Target="slides/slide2.xml"/>'
            '<Relationship Id="rId3" Type="http://a/slide" Target="slides/slide3.xml"/>'
            '</Relationships>')
    data = det_zip([
        ("ppt/presentation.xml", pres),
        ("ppt/_rels/presentation.xml.rels", rels),
        ("ppt/slides/slide1.xml",
         slide(sp("ctrTitle", "Deck Title") + sp("subTitle", "the subtitle"))),
        ("ppt/slides/slide2.xml",
         slide(sp("title", "Topic One") + sp("body", "content a"))),
        ("ppt/slides/slide3.xml", slide(sp("title", "Topic Two"))),
    ])
    spans = extract_pptx(data)
    got = [(s.kind, s.level, s.text) for s in spans]
    assert got == [
        ("heading", 1, "Deck Title"),
        ("paragraph", 0, "the subtitle"),
        ("heading", 2, "Topic One"),
        ("paragraph", 0, "content a"),
        ("heading", 2, "Topic Two"),
    ], got


def test_ppt_and_odp_deck_title_levels(extra_doc):
    """Binary .ppt and ODP follow the same deck-title convention, and ODP
    text:h outline levels inside boxes are honored."""
    odp = extract("markup", extra_doc("fixture_deck.odp"))
    heads = [(s.level, s.text) for s in odp if s.kind == "heading"]
    assert heads == [(1, "ODP Fixture Deck"), (2, "Second Slide Topic"),
                     (3, "Sub Point Heading")], heads

    ppt = extract("markup", extra_doc("fixture_deck.ppt"))
    heads = [(s.level, s.text) for s in ppt if s.kind == "heading"]
    assert heads == [(1, "PPT Fixture Deck"), (2, "Second Slide Topic")], heads
