"""The document layer: recognise a container once, route it by one table.

The reference dispatches on the task's *conversion type* and trusts file
suffixes (`services/document_service.py:83-126`, whitelist :49-56). At
corpus scale suffixes lie, so the engine keeps the conversion-type step
but picks the parser from the content's leading bytes. One recogniser,
`doc_format`, names the container: `zip` (OOXML or ODF), `ole` (CFB:
.doc/.xls/.ppt), `pdf`, `rtf`, an image name from the image layer
(`raster.sniff_image_meta`), or `unknown`. The magics cannot overlap at
offset 0, so the test order never changes a name. One table, `ROUTES`,
maps a conversion type to its {format: parser} entries and a fallback
(minipdf, minidom, miniimg) that takes every other format; the
fallback's own header check raises the route's error contract, so the
synthetic MINIPDF/MINIIMG formats need no name. The embedded-media
walkers route by the same recogniser (`extract_media_files`).

This covers the reference's full office whitelist (.doc .docx .xls .xlsx
.ppt .pptx .odt .ods .odp .rtf, document_service.py:49-53). Unknown or
corrupt containers raise ValueError and are contained per-row (C7)
exactly like the reference's conversion-failure path.
"""

from __future__ import annotations

import io
import zipfile

from documentconvert_spark.kernels.limits import zip_read_capped
from documentconvert_spark.kernels.minibiff import extract_ppt, extract_xls
from documentconvert_spark.kernels.minidoc import OLE_MAGIC, _Cfb, carve_officeart_blips, extract_doc
from documentconvert_spark.kernels.minidom import extract_minidom
from documentconvert_spark.kernels.miniimg import extract_miniimg
from documentconvert_spark.kernels.miniocr import ocr_image_text
from documentconvert_spark.kernels.miniodf import extract_odf
from documentconvert_spark.kernels.miniooxml import extract_docx, extract_pptx, extract_xlsx
from documentconvert_spark.kernels.minipdf import extract_minipdf
from documentconvert_spark.kernels.minirtf import extract_rtf
from documentconvert_spark.kernels.raster import IMAGE_FORMATS, image_file_ref, image_media_ref, sniff_image_meta
from documentconvert_spark.kernels.realpdf import _Pdf, extract_realpdf
from documentconvert_spark.kernels.spans import Span, finalize


def doc_format(content: bytes) -> str:
    """The one document recogniser: a name for the container the leading
    bytes announce, or 'unknown'. Prefix tests only; never raises."""
    if content[:4] == b"PK\x03\x04":
        return "zip"
    if content[:8] == OLE_MAGIC:
        return "ole"
    # slice before lstrip: sniffing must not copy a 100+ MB document
    head = content[:1024].lstrip()[:5]
    if head == b"%PDF-":
        return "pdf"
    if head == b"{\\rtf":
        return "rtf"
    return sniff_image_meta(content)[0]


# a container's parts or streams name its format; the first listed wins
_ZIP_PARTS = (("content.xml", extract_odf), ("word/document.xml", extract_docx),
              ("ppt/presentation.xml", extract_pptx), ("xl/workbook.xml", extract_xlsx))
_OLE_STREAMS = (("WordDocument", extract_doc), ("Workbook", extract_xls),
                ("Book", extract_xls), ("PowerPoint Document", extract_ppt))


def _extract_zip(content: bytes) -> list[Span]:
    # parse the container once; the chosen extractor reuses it
    z = zipfile.ZipFile(io.BytesIO(content))
    names = set(z.namelist())
    for part, parse in _ZIP_PARTS:
        if part in names:
            return parse(content, z)
    raise ValueError("ooxml: unrecognized OOXML container (no document/presentation/workbook part)")


def _extract_ole(content: bytes) -> list[Span]:
    cfb = _Cfb(content)
    entries = {e[0] for e in cfb.entries}
    for stream, parse in _OLE_STREAMS:
        if stream in entries:
            return parse(content, cfb)
    raise ValueError("ole: unrecognized compound document (no Word/Excel/PowerPoint stream)")


def _extract_image(fmt: str):
    """Image-document parser for one sniffed format (reference
    ``image_to_markdown``, `services/document_service.py:652-665,
    826-907`): a figure span keyed by content hash, then the text of a
    clean 5×7-font rendering as paragraph spans (kernels/miniocr, given
    the format named here so nothing is sniffed twice); photos and
    off-font images stay figure-only."""
    def parse(content: bytes) -> list[Span]:
        spans = [Span("figure", "", image_file_ref(content, fmt), -1)]
        spans.extend(Span("paragraph", ln, "", -1)
                     for ln in ocr_image_text(content, fmt) if ln.strip())
        return finalize(spans)
    return parse


# conversion type → ({doc_format name: parser}, fallback)
ROUTES = {
    "pdf": ({"pdf": extract_realpdf}, extract_minipdf),
    "markup": ({"zip": _extract_zip, "ole": _extract_ole, "rtf": extract_rtf}, extract_minidom),
    "image": ({fmt: _extract_image(fmt) for fmt in IMAGE_FORMATS}, extract_miniimg),
}


def extract(doc_type: str, content: bytes) -> list[Span]:
    """Spans of one document on one conversion route (KeyError for a
    conversion type ROUTES does not name)."""
    parsers, fallback = ROUTES[doc_type]
    return parsers.get(doc_format(content), fallback)(content)


# ------------------------------------------------------------ embedded media
# The reference extracts figure crops to `output/images/`
# (`services/document_service.py:259-304`); the engine pulls the embedded
# media BYTES into the media side table, each keyed like its figure span.

_ZIP_MEDIA_DIRS = ("word/media/", "ppt/media/", "xl/media/", "Pictures/")


def _zip_media(content: bytes) -> list[tuple[str, bytes]]:
    out = []
    z = zipfile.ZipFile(io.BytesIO(content))
    for name in z.namelist():
        if any(name.startswith(d) for d in _ZIP_MEDIA_DIRS) and not name.endswith("/"):
            try:
                out.append((name.rsplit("/", 1)[-1], zip_read_capped(z, name)))
            except ValueError:
                # one over-cap member must not drop the document's other
                # media (same per-item containment as _pdf_media below)
                continue
    return out


def _pdf_media(content: bytes) -> list[tuple[str, bytes]]:
    """Image XObject streams, keyed exactly as realpdf's figure spans
    (sha1(first 4 KiB)[:12] + '.jpg') so span⋈media joins line up."""
    pdf = _Pdf(content)
    out = []
    seen = set()
    for num in list(pdf.offsets) + list(pdf.in_objstm):
        try:
            obj = pdf.get(num)
        except Exception:
            continue
        if isinstance(obj, tuple) and isinstance(obj[0], dict):
            d = obj[0]
            if pdf.resolve(d.get("Subtype")) == "Image":
                ref = image_media_ref(obj[1])
                if ref not in seen:
                    seen.add(ref)
                    try:
                        out.append((ref, pdf.stream_bytes(obj)))
                    except ValueError:
                        out.append((ref, obj[1]))  # undecodable filter: raw
    return out


def _rtf_media(content: bytes) -> list[tuple[str, bytes]]:
    """Hex-encoded \\pict payloads, collected by the SAME tokenizer walk
    that emits minirtf's figure spans (extract_rtf media_out hook) — same
    destination skipping (\\*\\shppict kept, \\nonshppict skipped) and the
    same buffered-text hash, so span ⋈ media joins line up exactly."""
    collected: list[tuple[str, bytes]] = []
    try:
        extract_rtf(content, media_out=collected)
    except (ValueError, LookupError):
        pass  # no extractable content; picts collected before the raise kept
    first: dict[str, bytes] = {}
    for ref, blob in collected:
        first.setdefault(ref, blob)
    return list(first.items())


def _ole_media(content: bytes) -> list[tuple[str, bytes]]:
    """OfficeArt BLIP records ([MS-ODRAW]) carved from a legacy
    .doc/.xls/.ppt by minidoc.carve_officeart_blips."""
    cfb = _Cfb(content)
    first: dict[str, bytes] = {}
    # picture stores by format: Word "Data", PowerPoint "Pictures",
    # Excel drawing groups live inside the Workbook stream itself
    for name in ("Data", "Pictures", "Workbook", "Book", "PowerPoint Document", "WordDocument"):
        try:
            stream = cfb.stream(name)
        except ValueError:
            continue
        for ref, pic in carve_officeart_blips(stream):
            first.setdefault(ref, pic)
    return list(first.items())


_MEDIA_WALKERS = {"zip": _zip_media, "pdf": _pdf_media, "rtf": _rtf_media, "ole": _ole_media}


def extract_media_files(content: bytes) -> list[tuple[str, bytes]]:
    """All embedded media in one document container → [(media_ref, bytes)].
    A document that IS an image (the reference's image_to_markdown input)
    is one media row, keyed like the figure span its image parser emits."""
    fmt = doc_format(content)
    if fmt in _MEDIA_WALKERS:
        return _MEDIA_WALKERS[fmt](content)
    return [] if fmt == "unknown" else [(image_file_ref(content, fmt), content)]
