"""Pure-Python kernel tests (no Spark) — SURVEY.md §5.2 items 1-2.

Golden invariant: for every fixture document, the extractor recovers the
exact (kind, text, media_ref, offset) span sequence the generator laid out.
"""

from __future__ import annotations

import random

import pytest

from documentconvert_spark.corpus import (
    CLASSES,
    RawDoc,
    _sentence,
    aes256_pdf,
    det_zip,
    generate_corpus,
    make_doc,
)
from documentconvert_spark.kernels.encoding import ensure_utf8, repair_mojibake
from documentconvert_spark.kernels.errors import classify_error, contained
from documentconvert_spark.kernels.markdown import error_markdown, spans_to_markdown
from documentconvert_spark.kernels.minidom import extract_minidom
from documentconvert_spark.kernels.miniimg import extract_miniimg
from documentconvert_spark.kernels.minipdf import extract_minipdf
from documentconvert_spark.kernels.spans import Span, finalize, normalize_text

# the span-kind domain of the IR (kernels/spans.py)
KINDS = ("heading", "paragraph", "code", "table", "figure", "formula")


def _img_doc(rng: random.Random, doc_id: str) -> tuple[bytes, list[Span]]:
    """Image document: figure span + deterministic OCR-stub text embedded in
    the file (the sandbox has no OCR engine; reference analogue is the
    mineru CLI path, document_service.py:826-907)."""
    ref = f"scan-{doc_id}.jpg"
    ocr = _sentence(rng, 6, 12)
    content = f"MINIIMG-1.0\n{ref}\n{ocr}\n".encode("utf-8")
    expected = finalize([
        Span("figure", "", ref, -1),
        Span("paragraph", normalize_text(ocr), "", -1),
    ])
    return content, expected


def fixture_corpus(per_class: int = 3, seed: int = 42) -> list[RawDoc]:
    """Golden-test corpus: per_class docs of every fixture class, plus one
    image doc per class slot (image path is a distinct doc_type)."""
    docs = [make_doc(cls, i, seed) for cls in CLASSES for i in range(per_class)]
    for i in range(per_class):
        rng = random.Random(f"{seed}:F-IMG:{i}")
        doc_id = f"fimg-{i:06d}"
        content, exp = _img_doc(rng, doc_id)
        docs.append(RawDoc(doc_id, "image", content, f"bucket-{i % 7}", f"incoming/F-IMG/{doc_id}.jpg", exp))
    return docs


FN = {"pdf": extract_minipdf, "markup": extract_minidom, "image": extract_miniimg}

FIXTURES = fixture_corpus()


@pytest.mark.parametrize("doc", FIXTURES, ids=[d.doc_id for d in FIXTURES])
def test_golden_span_equality(doc):
    if doc.expect_error:
        with pytest.raises(ValueError):
            FN[doc.doc_type](doc.content)
        return
    got = FN[doc.doc_type](doc.content)
    assert got == doc.expected


def test_scale_corpus_round_trip():
    docs = generate_corpus(300, big_every=97)
    for d in docs:
        if d.expect_error:
            with pytest.raises(ValueError):
                FN[d.doc_type](d.content)
            continue
        got = FN[d.doc_type](d.content)
        assert got == d.expected, d.doc_id


def test_span_invariants():
    for d in FIXTURES:
        for i, s in enumerate(d.expected):
            assert s.offset == i  # dense, strictly increasing
            assert s.kind in KINDS
            assert (s.media_ref != "") == (s.kind == "figure")
            if s.kind == "figure":
                assert s.text == ""


def test_determinism_across_calls():
    a, b = fixture_corpus(), fixture_corpus()
    assert [(d.doc_id, d.content) for d in a] == [(d.doc_id, d.content) for d in b]
    assert [d.expected for d in a] == [d.expected for d in b]


def test_reading_order_recovered_from_geometry():
    # records are shuffled within pages at render time; order must come
    # back from (page, y, x)
    d = make_doc("F-FIG", 0)
    spans = extract_minipdf(d.content)
    kinds = [s.kind for s in spans]
    assert "figure" in kinds and "paragraph" in kinds
    assert spans == d.expected


def test_minidom_strips_boilerplate():
    d = make_doc("F-MARKUP", 1)
    spans = extract_minidom(d.content)
    text = " ".join(s.text for s in spans)
    assert "Site header banner" not in text
    assert "copyright notice" not in text
    assert "related article" not in text  # link-density drop
    assert spans == d.expected


def test_markdown_fold():
    d = make_doc("F-TABLE", 0)
    md = spans_to_markdown(d.expected)
    assert "|---|" in md  # table rendered
    d2 = make_doc("F-FIG", 0)
    md2 = spans_to_markdown(d2.expected)
    assert "![](images/img-ffig-000000-0.jpg)" in md2
    # dict form (Arrow path) folds identically
    assert spans_to_markdown([s.as_dict() for s in d2.expected]) == md2


def test_encoding_repair_cascade():
    # URL-encoded (reference encoding_utils.py:26-70)
    assert ensure_utf8("incoming/enc/%E6%96%87%E6%A1%A3-0.pdf") == "incoming/enc/文档-0.pdf"
    # latin-1 mojibake (encoding_utils.py:172-225, first in the chain)
    garbled = "文档报告".encode("utf-8").decode("latin-1")
    assert repair_mojibake(garbled) == "文档报告"
    # gbk mojibake (second in the chain)
    garbled_gbk = "数据分析".encode("gbk").decode("latin-1")
    assert repair_mojibake(garbled_gbk) == "数据分析"
    # clean strings pass through untouched
    assert ensure_utf8("plain/path.pdf") == "plain/path.pdf"


def test_error_classifier():
    assert classify_error("file is password protected") == "password_protected"
    assert classify_error("minipdf: missing %MINIPDF header (malformed or truncated document)") == "malformed_input"
    assert classify_error("CUDA out of memory") == "oom"  # first match wins (order-sensitive)
    assert classify_error("weird") == "unknown_error"
    md = error_markdown("d1", "malformed_input", "boom")
    assert "Conversion failed: d1" in md and "malformed_input" in md


def test_contained_yields_in_row_order_and_runs_past_a_raise():
    def half(x, y):
        if y == 0:
            raise ZeroDivisionError("y is zero")
        return x / y

    out = list(contained([(1, 2), (3, 0), (5, 5)], half))
    assert [row for row, _res, _exc in out] == [(1, 2), (3, 0), (5, 5)]
    assert [res for _row, res, _exc in out] == [0.5, None, 1.0]
    assert out[0][2] is None and out[2][2] is None
    assert isinstance(out[1][2], ZeroDivisionError) and str(out[1][2]) == "y is zero"


def test_contained_propagates_base_exceptions():
    """Only Exception is contained: an interrupt still stops the batch."""
    def interrupt(x):
        if x == 2:
            raise KeyboardInterrupt
        return x

    seen = []
    with pytest.raises(KeyboardInterrupt):
        for row, _res, _exc in contained([(1,), (2,), (3,)], interrupt):
            seen.append(row)
    assert seen == [(1,)]


def test_all_classes_present():
    assert len(CLASSES) == 12
    assert {d.doc_type for d in FIXTURES} == {"pdf", "markup", "image"}


# ------------------------------------------------------------ heading levels

def test_heading_levels_html():
    from documentconvert_spark.kernels.minidom import extract_minidom

    html = (b"<html><body><main><h1>Top</h1><p>some paragraph text here ok</p>"
            b"<h2>Mid</h2><p>more paragraph text here fine</p>"
            b"<h3>Low</h3><p>third paragraph body text here</p></main></body></html>")
    spans = extract_minidom(html)
    got = [(s.text, s.level) for s in spans if s.kind == "heading"]
    assert got == [("Top", 1), ("Mid", 2), ("Low", 3)]


def test_heading_levels_fold_to_hash_depth():
    from documentconvert_spark.kernels.markdown import spans_to_markdown
    from documentconvert_spark.kernels.spans import Span

    md = spans_to_markdown([
        Span("heading", "A", "", 0, 1),
        Span("heading", "B", "", 1, 2),
        Span("heading", "C", "", 2, 6),
        Span("heading", "D", "", 3, 0),   # legacy spans without level -> '#'
        Span("paragraph", "p", "", 4),
    ])
    assert md.split("\n\n") == ["# A", "## B", "###### C", "# D", "p"]


def test_heading_levels_pdf_font_size_rank():
    """minipdf classifies by font size; distinct heading sizes rank 1..N."""
    import random

    from documentconvert_spark.corpus import _PdfBuilder
    from documentconvert_spark.kernels.minipdf import extract_minipdf

    b = _PdfBuilder(random.Random(7))
    b.text_block("heading", "Document Title", 22.0, "B")
    b.text_block("paragraph", "body text goes here for the document", 10.0, "")
    b.text_block("heading", "Section", 16.0, "B")
    b.text_block("paragraph", "more body text in the section here", 10.0, "")
    b.text_block("heading", "Subsection", 14.0, "B")
    content, expected = b.render()
    got = extract_minipdf(content)
    assert [(s.text, s.level) for s in got if s.kind == "heading"] == [
        ("Document Title", 1), ("Section", 2), ("Subsection", 3)]
    assert [(s.kind, s.text, s.level) for s in got] == [
        (s.kind, s.text, s.level) for s in expected]


def test_heading_levels_rtf_outlinelevel():
    from documentconvert_spark.kernels.minirtf import extract_rtf

    rtf = (rb"{\rtf1\ansi"
           rb"{\outlinelevel0 Chapter One\par}"
           rb"plain paragraph body text here\par"
           rb"{\outlinelevel1 Section A\par}"
           rb"second plain paragraph body\par}")
    spans = extract_rtf(rtf)
    got = [(s.text, s.level) for s in spans if s.kind == "heading"]
    assert got == [("Chapter One", 1), ("Section A", 2)]


def test_heading_levels_docx_styles():

    from documentconvert_spark.kernels.miniooxml import extract_docx

    doc_xml = """<?xml version="1.0"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr><w:r><w:t>Title</w:t></w:r></w:p>
  <w:p><w:r><w:t>body paragraph text</w:t></w:r></w:p>
  <w:p><w:pPr><w:pStyle w:val="Heading2"/></w:pPr><w:r><w:t>Section</w:t></w:r></w:p>
  <w:p><w:pPr><w:outlineLvl w:val="2"/></w:pPr><w:r><w:t>Deep</w:t></w:r></w:p>
 </w:body>
</w:document>"""
    spans = extract_docx(det_zip([("word/document.xml", doc_xml)]))
    got = [(s.text, s.level) for s in spans if s.kind == "heading"]
    assert got == [("Title", 1), ("Section", 2), ("Deep", 3)]


def test_encoding_repair_full_reference_chain():
    """All four reference strategies (encoding_utils.py:172-225) in order,
    plus the engine's latin-1->gbk extension."""
    # 1/2: latin-1 & iso-8859-1 -> utf-8 (equivalent in Python; both run)
    g1 = "中文文档".encode("utf-8").decode("latin-1")
    assert repair_mojibake(g1) == "中文文档"
    # 3: char-ords -> utf-8 (same bytes, distinct code path)
    from documentconvert_spark.kernels.encoding import _try_char_ords
    assert _try_char_ords(g1) == "中文文档"
    assert _try_char_ords("文") is None  # ord > 255 -> ValueError contained
    # 4: gbk -> utf-8: utf-8 bytes that were displayed as gbk. NOTE the
    # detector (like the reference's GARBLED_CHARS list) only recognizes
    # latin-supplement garble, so this strategy fires only on mixed garble;
    # the strategy itself is exercised directly here.
    from documentconvert_spark.kernels.encoding import _try
    g4 = "数据分析报告".encode("utf-8").decode("gbk", errors="strict")
    assert _try(g4, "gbk", "utf-8") == "数据分析报告"
    assert repair_mojibake(g4) == g4  # undetected, passes through (parity)
    # extension: gbk bytes displayed as latin-1
    g5 = "数据分析".encode("gbk").decode("latin-1")
    assert repair_mojibake(g5) == "数据分析"
    # unrepairable garble returns unchanged
    junk = "���"
    assert repair_mojibake(junk) == junk


def test_error_suggestions_rendered_in_report():
    """F14 (reference document_service.py:426-463): the failure report
    carries class-specific remediation text."""
    from documentconvert_spark.kernels.errors import error_suggestion

    md = error_markdown("d9", "password_protected", "file is password protected")
    assert "## Suggestions" in md
    assert "password protected" in md and "Remove the protection" in md
    # every class resolves to non-empty advice; unknown gets the default
    for cls in ("oom", "gpu_error", "timeout", "weird_new_class"):
        assert error_suggestion(cls).startswith("1.")


def test_minidom_real_world_html_tolerance():
    """Single/unquoted attributes, comments, raw script bodies, entities,
    and implied end tags — the shapes real web pages actually ship."""
    from documentconvert_spark.kernels.minidom import extract_minidom

    html = b"""<!DOCTYPE html>
<html lang=en><head>
<script type='text/javascript'>if (a < b) { document.write("<p>JS junk</p>"); }
var s = "</body>";</script>
<style>p > .x { color: red }</style>
</head>
<body>
<!-- <p>commented-out content must not leak</p> -->
<div class='article' data-x=1>
<h2>AT&amp;T &#x4E2D; news</h2>
<p>First paragraph long enough to keep around for scoring.
<p>Second paragraph also long enough, implied close of the first.</p>
<ul><li>item one is long enough to emit<li>item two is long enough too</ul>
<table><tr><td>a1<td>b1<tr><td>a2<td>b2</table>
<img src='pic.png?a=1&amp;b=2'>
</div>
</body></html>"""
    spans = extract_minidom(html)
    kinds = [s.kind for s in spans]
    texts = [s.text for s in spans]
    assert kinds.count("paragraph") == 4  # 2 <p> + 2 <li>
    assert "JS junk" not in " ".join(texts)
    assert "commented-out" not in " ".join(texts)
    assert spans[0].kind == "heading" and spans[0].text == "AT&T 中 news"
    assert spans[0].level == 2
    grids = [s.text for s in spans if s.kind == "table"]
    assert grids == ["a1\tb1\na2\tb2"]
    figs = [s.media_ref for s in spans if s.kind == "figure"]
    assert figs == ["pic.png?a=1&b=2"]
    assert texts[1].startswith("First paragraph") and texts[2].startswith("Second paragraph")


def test_minidom_implied_close_through_inline():
    """A new <p>/<li> must end the previous one even when unclosed inline
    formatting elements (<b>, <em>, …) sit on top of the open stack, and
    raw-text bodies (<title>, <textarea>, <xmp>) must never leak text."""
    from documentconvert_spark.kernels.minidom import extract_minidom

    html = b"""<html><head><title>Site Name | Boilerplate Title</title></head>
<body><div>
<p>Alpha paragraph long enough to score, with <b>bold run left unclosed
<p>Beta paragraph long enough to score and must be a separate span.
<ul><li>first item long enough <em>emphasis unclosed<li>second item long enough</ul>
<textarea><p>form junk that is not content</p></textarea>
<xmp><p>literal markup sample</p></xmp>
</div></body></html>"""
    spans = extract_minidom(html)
    paras = [s.text for s in spans if s.kind == "paragraph"]
    assert len(paras) == 4
    assert paras[0].startswith("Alpha") and "Beta" not in paras[0]
    assert paras[1].startswith("Beta")
    assert paras[2].startswith("first item") and "second" not in paras[2]
    assert paras[3].startswith("second item")
    joined = " ".join(s.text for s in spans)
    assert "Boilerplate Title" not in joined
    assert "form junk" not in joined
    assert "literal markup" not in joined


def test_minidom_namespaced_tags_and_comment_joins():
    """Word-export namespaced tags (<o:p>) and custom elements must parse
    as elements, never leak as literal text; a comment splitting a word
    joins the halves (minifier idiom), while a removed <script> element
    still separates words."""
    from documentconvert_spark.kernels.minidom import extract_minidom

    html = b"""<html><body>
<p>word export text here with enough length <o:p></o:p>trailing words</p>
<p>data<!-- split -->base systems are the topic of this paragraph</p>
<p>alpha<script>var x=1;</script>omega separated by a script element</p>
<my-widget><p>content inside a custom element long enough to score</p></my-widget>
</body></html>"""
    spans = extract_minidom(html)
    paras = [s.text for s in spans if s.kind == "paragraph"]
    joined = " ".join(paras)
    assert "<o:p>" not in joined and "o:p" not in joined
    assert "word export text here" in joined
    assert "database systems" in paras[1]
    assert "alpha omega" in paras[2]
    assert any("custom element" in p for p in paras)


def test_minidom_drops_processing_instructions():
    """'<?' up to the first '>' is an HTML5 bogus comment: an XML prolog
    before <html> and a PHP block inside a paragraph leave no text."""
    doc = (b'<?xml version="1.0" encoding="utf-8"?>\n<html><body>'
           b"<p>First paragraph of the body text here.</p>"
           b"<p>Second<?php echo 1; ?> paragraph of the body text.</p></body></html>")
    assert [(s.kind, s.text) for s in extract_minidom(doc)] == [
        ("paragraph", "First paragraph of the body text here."),
        ("paragraph", "Second paragraph of the body text."),
    ]


def test_docx_code_blocks():
    """Code-ish paragraph styles and mono-font runs classify as code;
    consecutive code paragraphs merge into one line-structured block
    (the docx counterpart of the PDF fixed-pitch classification)."""
    from documentconvert_spark.kernels.miniooxml import extract_docx

    doc_xml = """<?xml version="1.0"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:p><w:r><w:t>prose before the snippet</w:t></w:r></w:p>
  <w:p><w:pPr><w:pStyle w:val="CodeBlock"/></w:pPr><w:r><w:t>def f():</w:t></w:r></w:p>
  <w:p><w:r><w:rPr><w:rFonts w:ascii="Consolas"/></w:rPr><w:t>    return 1</w:t></w:r></w:p>
  <w:p><w:r><w:t>prose after</w:t></w:r></w:p>
  <w:p><w:r><w:rPr><w:rFonts w:ascii="Courier New"/></w:rPr><w:t>x = 1</w:t></w:r><w:r><w:t> and then a much longer proportional tail that outweighs it</w:t></w:r></w:p>
 </w:body>
</w:document>"""
    spans = extract_docx(det_zip([("word/document.xml", doc_xml)]))
    got = [(s.kind, s.text) for s in spans]
    assert got[0] == ("paragraph", "prose before the snippet")
    # (normalize_text collapses leading indentation — the IR-wide
    # convention shared with the PDF path and the golden oracles)
    assert got[1][0] == "code" and got[1][1].splitlines() == ["def f():", "return 1"]
    assert got[2] == ("paragraph", "prose after")
    # mixed paragraph with mono minority stays prose
    assert got[3][0] == "paragraph"


def test_docx_code_listings_separated_by_blank_paragraph():
    """Two code listings with a blank paragraph between them stay two
    spans — the blank line is a block boundary in the source."""
    from documentconvert_spark.kernels.miniooxml import extract_docx

    doc_xml = """<?xml version="1.0"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:p><w:r><w:rPr><w:rFonts w:ascii="Consolas"/></w:rPr><w:t>first()</w:t></w:r></w:p>
  <w:p/>
  <w:p><w:r><w:rPr><w:rFonts w:ascii="Consolas"/></w:rPr><w:t>second()</w:t></w:r></w:p>
 </w:body>
</w:document>"""
    spans = extract_docx(det_zip([("word/document.xml", doc_xml)]))
    assert [(s.kind, s.text) for s in spans] == [("code", "first()"), ("code", "second()")]


def test_docx_nested_table_text_not_dropped():
    """Word nests layout tables inside cells; the nested table's text
    must flatten into the host cell, not vanish."""
    from documentconvert_spark.kernels.miniooxml import extract_docx

    doc_xml = """<?xml version="1.0"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:tbl><w:tr><w:tc>
    <w:p><w:r><w:t>outer cell</w:t></w:r></w:p>
    <w:tbl><w:tr><w:tc><w:p><w:r><w:t>nested text</w:t></w:r></w:p></w:tc></w:tr></w:tbl>
  </w:tc><w:tc><w:p><w:r><w:t>second</w:t></w:r></w:p></w:tc></w:tr></w:tbl>
 </w:body>
</w:document>"""
    spans = extract_docx(det_zip([("word/document.xml", doc_xml)]))
    assert spans[0].kind == "table"
    assert spans[0].text == "outer cell nested text\tsecond"


def test_docx_sdt_content_controls_unwrapped():
    """Word wraps TOCs and form regions in w:sdt content controls; their
    paragraphs and tables must extract, not silently vanish."""
    from documentconvert_spark.kernels.miniooxml import extract_docx

    doc_xml = """<?xml version="1.0"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:p><w:r><w:t>before the control</w:t></w:r></w:p>
  <w:sdt><w:sdtPr/><w:sdtContent>
    <w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr><w:r><w:t>TOC Heading</w:t></w:r></w:p>
    <w:p><w:r><w:t>controlled paragraph text</w:t></w:r></w:p>
  </w:sdtContent></w:sdt>
  <w:p><w:r><w:t>after the control</w:t></w:r></w:p>
 </w:body>
</w:document>"""
    spans = extract_docx(det_zip([("word/document.xml", doc_xml)]))
    texts = [s.text for s in spans]
    assert texts == ["before the control", "TOC Heading",
                     "controlled paragraph text", "after the control"], texts
    assert spans[1].kind == "heading" and spans[1].level == 1


def test_minidom_bare_container_text_kept():
    """Text directly inside a div (no <p> wrapper) with inline markup is
    ordinary prose; a link farm without <p> wrappers is still dropped by
    the link-density guard."""
    from documentconvert_spark.kernels.minidom import extract_minidom

    html = (b"<html><body>"
            b"<div>Bare prose with <b>inline bold</b> kept intact here.</div>"
            b"<dl><dt>Term</dt><dd>Definition text for the term here.</dd></dl>"
            b"<div><a href=/1>link one</a> <a href=/2>link two</a> "
            b"<a href=/3>link three</a></div>"
            b"</body></html>")
    spans = extract_minidom(html)
    texts = [s.text for s in spans]
    assert "Bare prose with inline bold kept intact here." in texts
    assert "Definition text for the term here." in texts
    assert not any("link one" in t for t in texts)


def test_minidom_inline_with_block_content_not_flattened():
    """Card links (<a><h3>…<p>…</a>) and linked images keep their block
    spans; bare entities decode; <br> does not fragment bare text."""
    from documentconvert_spark.kernels.minidom import extract_minidom

    html = (b"<html><body>"
            b"<div><a href=/art><h3>Card Title</h3>"
            b"<p>teaser paragraph long enough to keep around</p></a></div>"
            b"<div><a href=/x><img src=pic.jpg></a></div>"
            b"<div>Fish &amp; Chips &#8212; best in town</div>"
            b"<div>Call now:<br>555-1234 x99</div>"
            b"</body></html>")
    spans = extract_minidom(html)
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s.kind, []).append(s)
    assert any(s.text == "Card Title" for s in by_kind.get("heading", []))
    assert any("teaser paragraph" in s.text for s in by_kind.get("paragraph", []))
    assert any(s.media_ref == "pic.jpg" for s in by_kind.get("figure", []))
    texts = [s.text for s in spans]
    assert "Fish & Chips — best in town" in texts
    assert "Call now: 555-1234 x99" in texts


def test_docx_sdt_rows_and_textbox_paragraphs():
    """sdt-wrapped table rows extract; a text box inside a cell
    paragraph is emitted once, not twice."""
    from documentconvert_spark.kernels.miniooxml import extract_docx

    doc_xml = """<?xml version="1.0"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:tbl>
   <w:tr><w:tc><w:p><w:r><w:t>plain row</w:t></w:r></w:p></w:tc></w:tr>
   <w:sdt><w:sdtContent>
    <w:tr><w:tc><w:p><w:r><w:t>controlled row</w:t></w:r></w:p></w:tc></w:tr>
   </w:sdtContent></w:sdt>
   <w:tr><w:tc><w:p><w:r><w:t>host</w:t></w:r>
     <w:txbxContent><w:p><w:r><w:t>BOXTEXT</w:t></w:r></w:p></w:txbxContent>
   </w:p></w:tc></w:tr>
  </w:tbl>
 </w:body>
</w:document>"""
    spans = extract_docx(det_zip([("word/document.xml", doc_xml)]))
    assert spans[0].kind == "table"
    assert spans[0].text.splitlines() == ["plain row", "controlled row", "hostBOXTEXT"]


def test_aes_fips197_appendix_c_vectors():
    """The T-table CBC loops every AESV2/AESV3 stream and the R6 KDF run
    must match FIPS-197 Appendix C exactly for both PDF key sizes
    (AESV2=128, AESV3=256), encrypt AND decrypt: one block under a zero
    IV is the raw cipher."""
    from documentconvert_spark.kernels.realpdf import _aes_cbc_decrypt_raw, _aes_cbc_encrypt

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    zero_iv = bytes(16)
    for key_hex, ct_hex in [
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),
    ]:
        key = bytes.fromhex(key_hex)
        assert _aes_cbc_encrypt(key, zero_iv, pt).hex() == ct_hex
        assert _aes_cbc_decrypt_raw(key, zero_iv, bytes.fromhex(ct_hex)) == pt


def test_aes_ttables_match_independent_naive_implementation():
    """Property check: the T-table CBC loops must equal a from-first-
    principles per-byte FIPS-197 implementation (kept HERE, in test
    code, deliberately written in the state-matrix formulation rather
    than the word formulation) chained by hand, on random keys, IVs and
    multi-block messages — guards any future refactor of the tables,
    schedules or the inlined chaining."""
    import random

    from documentconvert_spark.kernels.realpdf import (
        _AES_SBOX,
        _aes_cbc_decrypt_raw,
        _aes_cbc_encrypt,
    )

    def gmul(a, b):
        r = 0
        while b:
            if b & 1:
                r ^= a
            a = (a << 1) ^ (0x11B if a & 0x80 else 0)
            b >>= 1
        return r & 0xFF

    rcon = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)

    def naive_encrypt(key, block):
        nk = len(key) // 4
        rounds = nk + 6
        w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
        for i in range(nk, 4 * (rounds + 1)):
            t = list(w[i - 1])
            if i % nk == 0:
                t = [_AES_SBOX[t[1]] ^ rcon[i // nk - 1],
                     _AES_SBOX[t[2]], _AES_SBOX[t[3]], _AES_SBOX[t[0]]]
            elif nk > 6 and i % nk == 4:
                t = [_AES_SBOX[b] for b in t]
            w.append([w[i - nk][j] ^ t[j] for j in range(4)])
        s = [[block[4 * c + r] for c in range(4)] for r in range(4)]
        for c in range(4):
            for r in range(4):
                s[r][c] ^= w[c][r]
        for rnd in range(1, rounds + 1):
            for r in range(4):
                row = [_AES_SBOX[b] for b in s[r]]
                s[r] = row[r:] + row[:r]
            if rnd < rounds:
                for c in range(4):
                    a = [s[r][c] for r in range(4)]
                    s[0][c] = gmul(a[0], 2) ^ gmul(a[1], 3) ^ a[2] ^ a[3]
                    s[1][c] = a[0] ^ gmul(a[1], 2) ^ gmul(a[2], 3) ^ a[3]
                    s[2][c] = a[0] ^ a[1] ^ gmul(a[2], 2) ^ gmul(a[3], 3)
                    s[3][c] = gmul(a[0], 3) ^ a[1] ^ a[2] ^ gmul(a[3], 2)
            for c in range(4):
                for r in range(4):
                    s[r][c] ^= w[4 * rnd + c][r]
        return bytes(s[r][c] for c in range(4) for r in range(4))

    def naive_cbc(key, iv, data):
        out, prev = b"", iv
        for i in range(0, len(data), 16):
            prev = naive_encrypt(key, bytes(a ^ b for a, b in zip(data[i:i + 16], prev)))
            out += prev
        return out

    rng = random.Random(197)
    for klen in (16, 32):
        for i in range(25):
            nblocks = 1 + i % 5
            key = bytes(rng.randrange(256) for _ in range(klen))
            iv = bytes(rng.randrange(256) for _ in range(16))
            msg = bytes(rng.randrange(256) for _ in range(16 * nblocks))
            ct = _aes_cbc_encrypt(key, iv, msg)
            assert ct == naive_cbc(key, iv, msg)
            assert _aes_cbc_decrypt_raw(key, iv, ct) == msg


def test_r6_kdf_lru_avoids_rederivation():
    """Re-opening the same AES-256 document must hit the KDF cache —
    retry rounds and resume re-extraction pay the ~18k-block derivation
    once per distinct (password, salt, udata)."""
    from documentconvert_spark.kernels.detect import extract
    from documentconvert_spark.kernels.realpdf import _r6_hash

    doc = aes256_pdf()
    _r6_hash.cache_clear()
    extract("pdf", doc)
    misses_first = _r6_hash.cache_info().misses
    assert misses_first > 0
    extract("pdf", doc)
    info = _r6_hash.cache_info()
    assert info.misses == misses_first  # no new derivations
    assert info.hits >= misses_first
