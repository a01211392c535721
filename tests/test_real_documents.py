"""Real reference-document extraction: the engine must reproduce extraction
on the reference's OWN sample corpus (`/root/reference/test/` — the same 7
files the reference's manual test procedure uses, SURVEY.md §5.1), through
from-scratch parsers: realpdf (xref/content-stream/ToUnicode), miniooxml
(docx/pptx/xlsx), minidoc (OLE CFB + piece table).

Goldens are the committed expectation parquet
(resources/expected_real_spans.parquet) — exact (kind, text, media_ref,
offset) per doc_id, so any parser regression or nondeterminism fails here.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from documentconvert_spark.ingest import _SUFFIX_TO_TYPE
from documentconvert_spark.kernels.detect import extract, extract_media_files
from documentconvert_spark.kernels.minidoc import extract_doc
from documentconvert_spark.kernels.miniooxml import extract_docx, extract_pptx, extract_xlsx
from documentconvert_spark.kernels.realpdf import extract_realpdf
from documentconvert_spark.udfs import _KERNELS

REF = "/root/reference/test"
RES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "documentconvert_spark", "resources",
)

_needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference sample corpus not mounted"
)


EXTRA = os.path.join(RES, "extra_docs")  # crafted fixtures in the same goldens


def _read(name: str) -> bytes:
    path = os.path.join(REF, name)
    if not os.path.exists(path):
        path = os.path.join(EXTRA, name)
    with open(path, "rb") as fh:
        return fh.read()


def _dense(spans) -> bool:
    return [s.offset for s in spans] == list(range(len(spans)))


# ---------------------------------------------------------------- real PDF

@_needs_ref
def test_realpdf_reference_sample():
    spans = extract_realpdf(_read("服装识别需求描述.pdf"))
    assert len(spans) >= 15 and _dense(spans)
    kinds = {s.kind for s in spans}
    assert "heading" in kinds and "paragraph" in kinds
    all_text = "".join(s.text for s in spans)
    # CJK text decoded through ToUnicode CMaps, in reading order
    assert "服装识别需求描述" in all_text
    assert "核⼼需求" in all_text or "核心需求" in all_text
    # repeating page furniture (the per-page 'https://maxiang.io 1/2'
    # footer and the dateline header) is dropped as non-main-content;
    # per-glyph latin reassembly is covered by the synthetic-PDF tests
    assert "https://maxiang.io" not in all_text
    assert "2025/7/21" not in all_text
    # document heading classified by font size
    headings = [s.text for s in spans if s.kind == "heading"]
    assert any("服装识别需求描述" in h for h in headings)


@_needs_ref
def test_realpdf_determinism():
    data = _read("服装识别需求描述.pdf")
    assert extract_realpdf(data) == extract_realpdf(data)


def test_realpdf_rejects_garbage():
    with pytest.raises(ValueError):
        extract_realpdf(b"not a pdf at all")
    with pytest.raises(ValueError):
        extract_realpdf(b"%PDF-1.4\njunk with no structure")


# ---------------------------------------------------------------- OOXML

@_needs_ref
def test_docx_reference_sample():
    spans = extract_docx(_read("智涌君.docx"))
    assert _dense(spans)
    kinds = {s.kind for s in spans}
    assert {"heading", "paragraph", "figure"} <= kinds
    # numbered heading styles recognized
    heads = [s.text for s in spans if s.kind == "heading"]
    assert any("政策与产业背景" in h for h in heads)
    # legacy VML imagedata media refs resolved through the rels part
    figs = [s.media_ref for s in spans if s.kind == "figure"]
    assert figs and all(r.startswith("image") for r in figs)


@_needs_ref
def test_pptx_reference_sample():
    spans = extract_pptx(_read("AI通识课程建设方案.pptx"))
    assert _dense(spans)
    heads = [s.text for s in spans if s.kind == "heading"]
    assert any("AI通识课程建设方案" in h for h in heads)  # title placeholder
    figs = [s.media_ref for s in spans if s.kind == "figure"]
    assert figs  # p:pic blips resolved via slide rels


@_needs_ref
def test_xlsx_reference_sample():
    spans = extract_xlsx(_read("人工智能竞赛训练平台 v20250629.xlsx"))
    assert _dense(spans)
    assert spans[0].kind == "heading"  # sheet name
    tables = [s for s in spans if s.kind == "table"]
    assert tables
    # shared strings resolved, cells tab-separated in row-major order
    assert "序号" in tables[0].text and "\t" in tables[0].text


# ---------------------------------------------------------------- OLE .doc

@_needs_ref
@pytest.mark.parametrize("name,phrase", [
    ("2024年浙江省中考数学试卷.doc", "选择题"),
    ("2025年杭州中考科学试卷及答案.doc", "科学试卷"),
    ("2025年浙江省杭州市中考语文试卷.doc", "语文试卷"),
])
def test_doc_reference_samples(name, phrase):
    spans = extract_doc(_read(name))
    assert len(spans) > 20 and _dense(spans)
    assert spans[0].kind == "heading"
    assert phrase in "".join(s.text for s in spans)


@_needs_ref
def test_doc_table_cell_marks():
    spans = extract_doc(_read("2024年浙江省中考数学试卷.doc"))
    tables = [s for s in spans if s.kind == "table"]
    assert tables and any("\t" in t.text for t in tables)


# ------------------------------------------------------------ sniffing dispatch

@_needs_ref
def test_detect_routes_by_magic_not_suffix():
    # the office path must route zips, OLE and markup correctly
    assert extract("markup", _read("智涌君.docx"))
    assert extract("markup", _read("2024年浙江省中考数学试卷.doc"))
    html = b"<html><body><p>hello world content here</p></body></html>"
    assert extract("markup", html)
    # the pdf path must route real PDFs and synthetic minipdf
    assert extract("pdf", _read("服装识别需求描述.pdf"))


# ------------------------------------------------------------ golden regression

@_needs_ref
def test_real_goldens_match_committed_parquet():
    """Every kernel output must equal the committed expectation parquet —
    byte-exact (kind, text, media_ref, offset) per doc_id."""
    tbl = pq.read_table(os.path.join(RES, "expected_real_spans.parquet")).to_pydict()
    expected: dict[str, list[tuple]] = {}
    for i, did in enumerate(tbl["doc_id"]):
        expected.setdefault(did, []).append(
            (tbl["offset"][i], tbl["kind"][i], tbl["media_ref"][i], tbl["text"][i])
        )
    assert len(expected) == 40  # 7 reference samples + 33 crafted fixtures
    # the WebP OCR fixture pins VP8L prefix codes + LZ77 + cache + the
    # subtract-green transform; the palette swatch stays figure-only
    tag = [t for (_o, k, _m, t) in expected["fixture_ocr_tag.webp"] if k == "paragraph"]
    assert tag == ["LOT 4519 SHELF C", "BEST BY 2027-03"]
    assert [k for (_o, k, _m, _t) in expected["fixture_swatch.webp"]] == ["figure"]
    # the JPEG OCR fixture pins the baseline-JPEG decoder + glyph matcher
    card = [t for (_o, k, _m, t) in expected["fixture_ocr_card.jpg"] if k == "paragraph"]
    assert card and card[0].startswith("MEMBER CARD")
    # the progressive fixture pins SOF2 (Annex G) scans + 4:2:0 + restarts
    scan = [t for (_o, k, _m, t) in expected["fixture_ocr_scan.jpg"] if k == "paragraph"]
    assert scan == ["DELIVERY SCAN 0731", "GATE B ROW 6"]
    # the TIFF OCR fixture pins LZW strips + Predictor 2 + WhiteIsZero
    crate = [t for (_o, k, _m, t) in expected["fixture_ocr_crate.tiff"] if k == "paragraph"]
    assert crate == ["CRATE 88 FRAGILE", "THIS SIDE UP"]
    # the palette/PackBits TIFF decodes but stays figure-only (photo-like)
    assert [k for (_o, k, _m, _t) in expected["fixture_mosaic.tiff"]] == ["figure"]
    # no-ToUnicode CID recovery + WinAnsi/MacRoman high bytes stay pinned
    fonts = [t for (_o, _k, _m, t) in expected["fixture_fonts.pdf"]]
    assert any("CID" in t for t in fonts) and any("café crème" in t for t in fonts)
    # the formula fixture keeps real-PDF formula spans pinned in the corpus
    assert any(k == "formula" for (_o, k, _m, _t) in expected["fixture_formula.pdf"])
    # the encrypted fixture keeps RC4 decryption pinned in the corpus
    assert any("decrypted" in t for (_o, _k, _m, t) in expected["fixture_encrypted.pdf"])
    # minority upside-down stamps are content; sideways margin text is not
    rot = [t for (_o, _k, _m, t) in expected["fixture_rotated.pdf"]]
    assert any("upside down stamp" in t for t in rot)
    assert not any("sideways margin" in t for t in rot)
    for name, exp in expected.items():
        data = _read(name)
        kern = _KERNELS[_SUFFIX_TO_TYPE[name.rsplit(".", 1)[-1].lower()]]
        got = [(s.offset, s.kind, s.media_ref, s.text) for s in kern(data)]
        assert got == sorted(exp), f"span mismatch for {name}"


# ------------------------------------------------------------ Spark end-to-end

@_needs_ref
def test_spark_extracts_reference_corpus(spark):
    """binaryFile ingest → sniffing dispatch UDF → spans: all 7 reference
    samples complete with zero error rows and golden-equal span counts."""
    from pyspark.sql import functions as F

    from documentconvert_spark.ingest import binary_dir_as_raw
    from documentconvert_spark.pipeline import extract_spans

    out = extract_spans(binary_dir_as_raw(spark, REF)).cache()
    rows = out.select("doc_id", "status", "n_spans", "error").collect()
    assert len(rows) == 7
    assert all(r.status == "completed" and r.error is None for r in rows)
    # URI percent-encoding decoded back to the real CJK file names (F1)
    names = {r.doc_id for r in rows}
    assert "服装识别需求描述.pdf" in names and "智涌君.docx" in names

    exp = pq.read_table(os.path.join(RES, "expected_real_docs.parquet")).to_pydict()
    exp_counts = dict(zip(exp["doc_id"], exp["n_spans"]))
    got_counts = {r.doc_id: r.n_spans for r in rows}
    # this test ingests the REFERENCE dir only; the goldens also carry
    # the crafted fixtures (covered by the contract queries)
    assert got_counts == {k: v for k, v in exp_counts.items() if k in got_counts}
    assert len(got_counts) == 7

    # figure media refs survive the Arrow round trip
    figs = (
        out.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "figure")
        .count()
    )
    assert figs > 0
    out.unpersist()


# ------------------------------------------------------------ real media bytes

@_needs_ref
def test_real_media_extraction_kernel():
    """Embedded media pulled from the real containers (kernels/media.py)
    with header-sniffed metadata (kernels/raster.py) — actual bytes, no
    codec libs."""
    from documentconvert_spark.kernels.raster import sniff_image_meta

    media = extract_media_files(_read("AI通识课程建设方案.pptx"))
    refs = {r for r, _ in media}
    assert refs == {"image1.png", "image2.svg", "image3.png"}
    by_ref = dict(media)
    fmt, w, h = sniff_image_meta(by_ref["image1.png"])
    assert fmt == "png" and w == 384 and h == 384

    # docx media are JPEGs mis-suffixed .png — content-based sniff wins
    docx_media = extract_media_files(_read("智涌君.docx"))
    assert len(docx_media) == 3
    for _ref, blob in docx_media:
        fmt, w, h = sniff_image_meta(blob)
        assert fmt == "jpeg" and w == 1233 and h in (560, 589)

    # legacy OLE: OfficeArt BLIPs carved from the Data stream, trailer
    # bytes trimmed at the PNG IEND marker
    doc_media = extract_media_files(_read("2024年浙江省中考数学试卷.doc"))
    assert len(doc_media) == 31
    assert all(blob.startswith(b"\x89PNG") and blob.endswith(b"IEND\xaeB`\x82")
               for _r, blob in doc_media)


@_needs_ref
def test_real_media_refs_match_figure_spans():
    """The media table keys line up with the figure spans the extractors
    emit (J3 join integrity on real data)."""
    from documentconvert_spark.kernels.miniooxml import extract_docx, extract_pptx

    for name, extractor in [("智涌君.docx", extract_docx),
                            ("AI通识课程建设方案.pptx", extract_pptx)]:
        data = _read(name)
        span_refs = {s.media_ref for s in extractor(data) if s.kind == "figure"}
        media_refs = {r for r, _ in extract_media_files(data)}
        assert span_refs <= media_refs, f"{name}: dangling figure refs {span_refs - media_refs}"


@_needs_ref
def test_spark_real_media_table(spark):
    from documentconvert_spark.ingest import binary_dir_as_raw
    from documentconvert_spark.ops.multimodal import extract_real_media

    m = extract_real_media(binary_dir_as_raw(spark, REF))
    rows = m.select("doc_id", "media_ref", "format", "width", "byte_len").collect()
    # 6 OOXML-embedded + 61 OfficeArt BLIPs carved from the 3 legacy .doc
    # (58 raster pictures + 3 WMF equation previews)
    assert len(rows) == 67
    assert all(r.byte_len > 0 for r in rows)
    assert {r.format for r in rows} == {"png", "svg", "jpeg", "wmf"}
    assert sum(1 for r in rows if r.doc_id.endswith(".doc")) == 61

