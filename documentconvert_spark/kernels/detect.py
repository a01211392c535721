"""Container sniffing: route bytes to the right extraction kernel.

The reference dispatches on the task's *conversion type* and trusts file
suffixes (`services/document_service.py:83-126`, whitelist :49-56). At
corpus scale suffixes lie, so the engine keeps the reference's two-type
dispatch (pdf vs office/markup) but resolves the concrete parser from the
leading magic bytes of the content itself:

  pdf path    : %PDF-            → real-PDF parser (realpdf)
                %MINIPDF-1.0     → synthetic layout-stream parser (minipdf)
  office path : PK\\x03\\x04       → zip: OOXML (word/ppt/xl parts) or
                                   ODF (content.xml: odt/ods/odp)
                \\xd0\\xcf\\x11\\xe0 → OLE CFB, routed by directory entry:
                                   WordDocument → .doc, Workbook/Book →
                                   .xls, PowerPoint Document → .ppt
                {\\rtf            → RTF tokenizer
                otherwise        → markup/DOM boilerplate strip (minidom)

This closes the reference's full office whitelist
(.doc .docx .xls .xlsx .ppt .pptx .odt .ods .odp .rtf,
document_service.py:49-53). Unknown/corrupt containers raise ValueError
and are contained per-row (C7) exactly like the reference's
conversion-failure path.
"""

from __future__ import annotations

import io
import zipfile

from documentconvert_spark.kernels.minibiff import extract_ppt, extract_xls
from documentconvert_spark.kernels.minidoc import OLE_MAGIC, _Cfb, extract_doc
from documentconvert_spark.kernels.minidom import extract_minidom
from documentconvert_spark.kernels.miniodf import extract_odf
from documentconvert_spark.kernels.miniooxml import ZIP_MAGIC, extract_ooxml
from documentconvert_spark.kernels.minipdf import MAGIC as MINIPDF_MAGIC
from documentconvert_spark.kernels.minipdf import extract_minipdf
from documentconvert_spark.kernels.minirtf import extract_rtf
from documentconvert_spark.kernels.realpdf import extract_realpdf
from documentconvert_spark.kernels.spans import Span


def extract_pdf_any(content: bytes) -> list[Span]:
    # slice before lstrip: sniffing must not copy a 100+ MB document
    head = content[:1024].lstrip()[:16] if content else b""
    if head.startswith(b"%PDF-"):
        return extract_realpdf(content)
    if head.startswith(MINIPDF_MAGIC):
        return extract_minipdf(content)
    # keep minipdf's error message contract for malformed synthetic docs
    return extract_minipdf(content)


def extract_image_any(content: bytes) -> list[Span]:
    """Image-document route (reference ``image_to_markdown``,
    `services/document_service.py:652-665, 826-907`: accepts real
    jpg/png/bmp/tiff/webp and OCRs them).

    Synthetic MINIIMG documents carry their own deterministic OCR text.
    REAL image bytes produce a figure span keyed by content hash with
    header-sniffed dimensions recorded in the media side table, and — for
    PNG/JPEG/GIF/BMP/TIFF/lossless-WebP whose text is a clean grid
    rendering of the known 5×7 bitmap font — the decoded text as
    paragraph spans after the figure (kernels/miniocr.ocr_image_text, the
    sandbox-honest analogue of the reference's GPU OCR, given the format
    sniffed here so nothing is sniffed twice). Photos/off-font images
    keep the figure-only shape."""
    from documentconvert_spark.kernels.miniimg import MAGIC as MINIIMG_MAGIC
    from documentconvert_spark.kernels.miniimg import extract_miniimg
    from documentconvert_spark.kernels.miniocr import ocr_image_text
    from documentconvert_spark.kernels.raster import image_file_ref, sniff_image_meta
    from documentconvert_spark.kernels.spans import finalize

    if content and content.startswith(MINIIMG_MAGIC):
        return extract_miniimg(content)
    fmt, _w, _h = sniff_image_meta(content or b"")
    if fmt != "unknown":
        spans = [Span("figure", "", image_file_ref(content, fmt), -1)]
        spans.extend(Span("paragraph", ln, "", -1)
                     for ln in ocr_image_text(content, fmt) if ln.strip())
        return finalize(spans)
    # keep miniimg's error message contract for malformed image documents
    return extract_miniimg(content)


def extract_office_any(content: bytes) -> list[Span]:
    head = content[:8] if content else b""
    if head.startswith(ZIP_MAGIC):
        # parse the container once; the chosen extractor reuses it
        z = zipfile.ZipFile(io.BytesIO(content))
        if "content.xml" in set(z.namelist()):
            return extract_odf(content, z)
        return extract_ooxml(content, z)
    if head.startswith(OLE_MAGIC):
        cfb = _Cfb(content)
        entries = {e[0] for e in cfb.entries}
        if "WordDocument" in entries:
            return extract_doc(content, cfb)
        if "Workbook" in entries or "Book" in entries:
            return extract_xls(content, cfb)
        if "PowerPoint Document" in entries:
            return extract_ppt(content, cfb)
        raise ValueError("ole: unrecognized compound document (no Word/Excel/PowerPoint stream)")
    if content[:1024].lstrip()[:5].startswith(b"{\\rtf"):
        return extract_rtf(content)
    return extract_minidom(content)
