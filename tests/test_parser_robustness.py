"""Parser robustness: corrupted real-world inputs must be CONTAINED.

The UDF layer catches every exception into an error row (C7, reference
document_service.py:334-383) — but a parser that hangs, loops, or eats
unbounded memory on malformed bytes would still poison a 100 TB run. This
suite feeds truncations and byte-flips of the REAL reference documents to
every kernel and requires each call to finish fast and either return spans
or raise a normal exception.
"""

from __future__ import annotations

import functools
import os
import random
import time

import pytest

from documentconvert_spark.corpus import classic_pdf, det_zip, xlsx_zip
from documentconvert_spark.kernels.detect import extract

REF = "/root/reference/test"

# only the two sweeps over the reference documents need the mount; every
# other case builds its input in-test
_needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference sample corpus not mounted"
)

_PER_CALL_BUDGET_S = 5.0


def _kernel_for(name: str):
    return functools.partial(extract, "pdf" if name.endswith(".pdf") else "markup")


def _assert_contained(kern, data: bytes, label: str) -> None:
    t0 = time.monotonic()
    try:
        spans = kern(data)
        assert isinstance(spans, list)
    except Exception:
        pass  # any exception is fine — the UDF layer contains it
    dt = time.monotonic() - t0
    assert dt < _PER_CALL_BUDGET_S, f"{label}: parser took {dt:.1f}s on corrupted input"


@_needs_ref
@pytest.mark.parametrize("name", sorted(os.listdir(REF)) if os.path.isdir(REF) else [])
def test_truncations_contained(name):
    with open(os.path.join(REF, name), "rb") as fh:
        data = fh.read()
    kern = _kernel_for(name)
    rng = random.Random(f"trunc:{name}")
    cuts = [0, 1, 7, len(data) // 2, len(data) - 1] + [
        rng.randrange(len(data)) for _ in range(10)
    ]
    for cut in cuts:
        _assert_contained(kern, data[:cut], f"{name}@trunc{cut}")


@_needs_ref
@pytest.mark.parametrize("name", sorted(os.listdir(REF)) if os.path.isdir(REF) else [])
def test_byte_flips_contained(name):
    with open(os.path.join(REF, name), "rb") as fh:
        data = fh.read()
    kern = _kernel_for(name)
    rng = random.Random(f"flip:{name}")
    for _ in range(10):
        corrupt = bytearray(data)
        for _ in range(rng.randrange(1, 50)):
            corrupt[rng.randrange(len(corrupt))] = rng.randrange(256)
        _assert_contained(kern, bytes(corrupt), f"{name}@flip")


def test_pathological_synthetic_inputs():
    cases = [
        b"%PDF-1.4\n" + b"0 0 obj\n<<>>\nendobj\n" * 2000,      # many empty objects
        b"%PDF-1.4\n<<" * 5000,                                  # deep dict nesting attempt
        b"{\\rtf1" + b"{" * 20000,                               # unbalanced RTF groups
        b"{\\rtf1 \\u99999999999999 x}",                         # absurd unicode escape
        b"PK\x03\x04" + b"\x00" * 4096,                          # zip magic, garbage body
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\xff" * 1024,   # OLE magic, garbage
    ]
    for i, data in enumerate(cases):
        for doc_type in ("pdf", "markup"):
            _assert_contained(functools.partial(extract, doc_type), data, f"pathological#{i}")


# ---------------------------------------------------------------- regressions
# Direct reproductions of round-2 advisor findings: crafted inputs that made
# a parser loop forever (a single such doc would hang a Spark task and
# violate the C7 containment claim) or read garbage.

def test_sst_odd_continue_terminates():
    """A wide (UTF-16) SST string whose CONTINUE part has an odd byte count
    used to make _parse_sst loop forever (take==0 while pos<len)."""
    import struct

    from documentconvert_spark.kernels.minibiff import _parse_sst

    # SST header: total=1, unique=1; one string, cch=6, wide flag, only 2
    # bytes of chars in the first part.
    first = struct.pack("<II", 1, 1) + struct.pack("<HB", 6, 0x01) + "ab".encode("utf-16-le")[:2]
    cont = b"\x01" + b"c"   # fresh grbit byte + 1 odd byte for a wide run -> take==0
    t0 = time.monotonic()
    try:
        _parse_sst([first, cont])
        raise AssertionError("expected ValueError on odd-split wide run")
    except ValueError:
        pass  # no safe re-sync exists: raising (contained per-doc by the
        # UDF layer) beats emitting wrong cell text under valid indices
    assert time.monotonic() - t0 < 2.0


def test_rtf_negative_bin_terminates():
    """'\\bin-7' used to move the cursor backwards -> infinite re-parse."""
    from documentconvert_spark.kernels.minirtf import extract_rtf

    t0 = time.monotonic()
    try:
        extract_rtf(b"{\\rtf1 \\bin-7 }")
    except ValueError:
        pass
    assert time.monotonic() - t0 < 2.0
    # oversized positive \binN must clamp to EOF, not wrap or error oddly
    try:
        extract_rtf(b"{\\rtf1 hello \\bin999999999 }")
    except ValueError:
        pass
    assert time.monotonic() - t0 < 4.0


def test_pdf_xref_count_clamped():
    """'xref\\n0 200000000' on a 110-byte file used to spin for minutes."""
    from documentconvert_spark.kernels.realpdf import extract_realpdf

    doc = (b"%PDF-1.4\n"
           b"xref\n0 200000000\n"
           b"0000000000 65535 f \n"
           b"trailer\n<< /Size 2 >>\nstartxref\n9\n%%EOF")
    t0 = time.monotonic()
    try:
        extract_realpdf(doc)
    except Exception:
        pass
    assert time.monotonic() - t0 < 2.0


def test_pdf_xref_stream_zero_width_records():
    """An xref STREAM with /W [0 0 0] makes every record zero bytes wide,
    so the body-exhaustion break never fires — a crafted /Index count then
    used to spin forever on a ~150-byte file."""
    from documentconvert_spark.kernels.realpdf import _Pdf

    doc = (b"%PDF-1.5\n"
           b"1 0 obj\n"
           b"<< /Type /XRef /W [0 0 0] /Index [0 4000000000] /Size 10 /Length 5 >>\n"
           b"stream\nAAAAA\nendstream\nendobj\n"
           b"startxref\n9\n%%EOF")
    t0 = time.monotonic()
    _Pdf(doc)
    assert time.monotonic() - t0 < 2.0


def test_pdf_bfrange_width_clamped():
    """A ToUnicode bfrange <0000> <ffffffffff> with a destination wide
    enough never to overflow used to iterate 2^40 times."""
    from documentconvert_spark.kernels.realpdf import _parse_tounicode

    cmap = b"beginbfrange <0000> <ffffffffff> <00000000000041> endbfrange"
    t0 = time.monotonic()
    out, _w = _parse_tounicode(cmap)
    assert time.monotonic() - t0 < 2.0
    assert len(out) <= 0x10000
    # a legitimate 2-byte range still maps fully
    out2, _ = _parse_tounicode(b"beginbfrange <0041> <005a> <0061> endbfrange")
    assert out2[0x41] == "a" and out2[0x5A] == "z"


def test_pdf_page_tree_cycle_bounded():
    """A /Pages node whose /Kids lists itself twice is 2^64 walk calls
    under a depth cap alone; the visited set must bound it."""
    from documentconvert_spark.kernels.realpdf import extract_realpdf

    doc = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Kids [2 0 R 2 0 R] /Count 1 >> endobj\n"
           b"trailer << /Root 1 0 R >>\n%%EOF")
    t0 = time.monotonic()
    try:
        extract_realpdf(doc)
    except ValueError:
        pass  # "no pages" — contained as an error row
    assert time.monotonic() - t0 < 2.0


def test_cfb_difat_cycle_bounded():
    """A DIFAT sector whose next-pointer is itself, under
    n_difat=0xFFFFFFFE, used to spin ~4 billion iterations appending 127
    FAT indices each (CPU + memory bomb)."""
    import struct

    from documentconvert_spark.kernels.minidoc import _Cfb

    hdr = bytearray(512)
    hdr[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", hdr, 30, 9)
    struct.pack_into("<H", hdr, 32, 6)
    struct.pack_into("<I", hdr, 48, 0xFFFFFFFE)
    struct.pack_into("<I", hdr, 56, 0x1000)
    struct.pack_into("<i", hdr, 60, -2)
    struct.pack_into("<I", hdr, 68, 0)           # DIFAT start = sector 0
    struct.pack_into("<I", hdr, 72, 0xFFFFFFFE)  # n_difat = ~4B
    for off in range(76, 512, 4):
        struct.pack_into("<i", hdr, off, -1)
    sec0 = bytearray(512)
    for off in range(0, 508, 4):
        struct.pack_into("<i", sec0, off, -1)
    struct.pack_into("<I", sec0, 508, 0)         # next DIFAT sector = itself
    t0 = time.monotonic()
    try:
        _Cfb(bytes(hdr) + bytes(sec0))
    except Exception:
        pass  # struct/Value errors are contained per-row
    assert time.monotonic() - t0 < 2.0


def test_xlsx_column_ref_clamped():
    """A cell ref r="ZZZZZZZZZZ1" decodes to column ~1.4e14; the row
    padding used to build a range() that long."""
    from documentconvert_spark.kernels.miniooxml import extract_xlsx

    data = _xlsx_with_sheet(
        '<row r="1"><c r="ZZZZZZZZZZ1" t="inlineStr"><is><t>x</t></is></c></row>')
    t0 = time.monotonic()
    spans = extract_xlsx(data)
    assert time.monotonic() - t0 < 2.0
    assert any(s.kind == "table" for s in spans)


def test_odf_space_run_clamped():
    """<text:s text:c="999999999999"/> used to allocate that many spaces."""
    from documentconvert_spark.kernels.miniodf import extract_odf

    data = _odf_with_content('<text:p>a<text:s text:c="999999999999"/>b</text:p>')
    t0 = time.monotonic()
    spans = extract_odf(data)
    assert time.monotonic() - t0 < 2.0
    assert spans and all(len(s.text) < 10000 for s in spans)


def test_cfb_v4_sector_offsets():
    """Version-4 compound files use 4096-byte sectors; sector n starts at
    (n+1)*ssz, not 512+n*ssz. Build a minimal v4 CFB with one stream and
    check the directory parses with the right payload."""
    import struct

    from documentconvert_spark.kernels.minidoc import _Cfb

    ssz = 4096
    # header sector (512 bytes used, padded to 4096)
    hdr = bytearray(512)
    hdr[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", hdr, 26, 4)       # major version 4
    struct.pack_into("<H", hdr, 30, 12)      # sector shift -> 4096
    struct.pack_into("<H", hdr, 32, 6)       # mini sector shift
    struct.pack_into("<I", hdr, 44, 1)       # number of FAT sectors
    struct.pack_into("<I", hdr, 48, 1)       # directory start sector
    struct.pack_into("<I", hdr, 56, 0x1000)  # mini stream cutoff
    struct.pack_into("<i", hdr, 60, -2)      # minifat start: ENDOFCHAIN
    struct.pack_into("<i", hdr, 64, 0)       # n minifat
    struct.pack_into("<i", hdr, 68, -2)      # DIFAT start: ENDOFCHAIN
    struct.pack_into("<I", hdr, 72, 0)       # n DIFAT
    struct.pack_into("<i", hdr, 76, 0)       # DIFAT[0] = FAT at sector 0
    for off in range(80, 512, 4):
        struct.pack_into("<i", hdr, off, -1)
    header = bytes(hdr) + b"\x00" * (ssz - 512)

    # s0=FAT, s1=dir, stream spans s2->s3 (payload > mini cutoff so it uses
    # the regular FAT chain and actually exercises multi-sector offsets)
    fat = struct.pack("<4i", -3, -2, 3, -2) + b"\xff" * (ssz - 16)
    # directory sector: root + one stream entry
    def dirent(name, otype, start, size):
        e = bytearray(128)
        raw = name.encode("utf-16-le")
        e[0 : len(raw)] = raw
        struct.pack_into("<H", e, 64, len(raw) + 2)
        e[66] = otype
        struct.pack_into("<i", e, 68, -1)  # left
        struct.pack_into("<i", e, 72, -1)  # right
        struct.pack_into("<i", e, 76, 1 if otype == 5 else -1)  # child
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    payload = b"PAYLOAD!" * 625  # 5000 bytes: > mini cutoff, spans 2 sectors
    dirsec = (dirent("Root Entry", 5, 0xFFFFFFFE, 0)
              + dirent("Data", 2, 2, len(payload)))
    dirsec += b"\x00" * (ssz - len(dirsec))
    stream_secs = payload + b"\x00" * (2 * ssz - len(payload))

    blob = header + fat + dirsec + stream_secs
    cfb = _Cfb(blob)
    got = cfb.stream("Data")
    assert got == payload


def test_cfb_difat_fanout_bounded():
    """The cycle guard bounds DIFAT iterations, but a crafted file where
    every sector is a VALID chain link still used to grow `difat` by 127
    entries per sector and `fat` by 128 ints per entry — ~32 ints of
    allocation per input byte, an OOM (not an exception) from a small doc.
    Both lists must stay bounded by the file's own sector count."""
    import struct

    from documentconvert_spark.kernels.minidoc import _Cfb

    n_sectors = 512  # 256 KB body
    hdr = bytearray(512)
    hdr[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", hdr, 30, 9)           # 512-byte sectors
    struct.pack_into("<H", hdr, 32, 6)
    struct.pack_into("<i", hdr, 48, -2)          # dir start: ENDOFCHAIN
    struct.pack_into("<I", hdr, 56, 0x1000)
    struct.pack_into("<i", hdr, 60, -2)          # minifat: ENDOFCHAIN
    struct.pack_into("<I", hdr, 68, 0)           # DIFAT start = sector 0
    struct.pack_into("<I", hdr, 72, 0xFFFFFFFE)  # forged DIFAT count
    for off in range(76, 512, 4):
        struct.pack_into("<i", hdr, off, -1)     # header DIFAT entries FREE
    body = bytearray(512 * n_sectors)
    for s in range(n_sectors):
        base = s * 512
        for off in range(0, 508, 4):
            struct.pack_into("<I", body, base + off, 1)  # in-bounds FAT ref
        # every sector links to the next: a fully valid, maximal chain
        struct.pack_into("<I", body, base + 508, (s + 1) % n_sectors)
    data = bytes(hdr) + bytes(body)
    t0 = time.monotonic()
    cfb = _Cfb(data)
    assert time.monotonic() - t0 < 2.0
    max_sectors = len(data) // 512 + 1
    assert len(cfb.fat) <= max_sectors + 128


def _xlsx_with_sheet(sheet_data: str) -> bytes:
    return xlsx_zip(
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{sheet_data}</sheetData></worksheet>')


def test_xlsx_padding_expansion_capped(monkeypatch):
    """The per-ref clamp bounds one row at XFD (16384 cells ≈ 16 KB of tab
    padding), but N rows each claiming r="XFD1" amplify ~270x — the
    cumulative sheet text must trip the decode-expansion cap instead of
    allocating tens of GB from a small XML part."""
    import pytest as _pytest

    from documentconvert_spark.kernels import limits
    from documentconvert_spark.kernels.miniooxml import extract_xlsx

    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 60_000)
    rows = "".join(
        '<row><c r="XFD1" t="inlineStr"><is><t>x</t></is></c></row>'
        for _ in range(10)
    )
    with _pytest.raises(ValueError):
        extract_xlsx(_xlsx_with_sheet(rows))


def test_xlsx_out_of_range_ref_not_aliased():
    """XFD1 is the last legal column; an invalid XFE1 in the same row used
    to clamp onto column 16383 and silently overwrite the real XFD cell.
    It must fall back to the implied sequential position instead."""
    from documentconvert_spark.kernels.miniooxml import extract_xlsx

    row = ('<row><c r="XFD1" t="inlineStr"><is><t>AA</t></is></c>'
           '<c r="XFE1" t="inlineStr"><is><t>BB</t></is></c></row>')
    spans = extract_xlsx(_xlsx_with_sheet(row))
    table = next(s for s in spans if s.kind == "table")
    assert "AA\tBB" in table.text


def _odf_with_content(body_xml: str) -> bytes:
    return det_zip([
        ("mimetype", "application/vnd.oasis.opendocument.text"),
        ("content.xml",
         '<office:document-content '
         'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
         'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
         'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0">'
         f'<office:body><office:text>{body_xml}</office:text>'
         '</office:body></office:document-content>'),
    ])


def test_odf_cumulative_space_runs_capped(monkeypatch):
    """One text:s is clamped to 1024 spaces, but millions of ~20-byte
    elements still amplify ~50x — the cumulative flattened text must trip
    the decode-expansion cap."""
    import pytest as _pytest

    from documentconvert_spark.kernels import limits
    from documentconvert_spark.kernels.miniodf import extract_odf

    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 60_000)
    runs = '<text:s text:c="1024"/>' * 100  # 100 KB of spaces from 2.3 KB
    with _pytest.raises(ValueError):
        extract_odf(_odf_with_content(f"<text:p>a{runs}b</text:p>"))


def test_odf_table_repeat_product_capped(monkeypatch):
    """rows-repeated × columns-repeated multiply: one ~150-byte row
    claiming 1024×1024 expands to ~1M cells (~20,000x). The cumulative
    grid text must trip the cap before the allocation happens."""
    import pytest as _pytest

    from documentconvert_spark.kernels import limits
    from documentconvert_spark.kernels.miniodf import extract_odf

    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 60_000)
    body = ('<table:table table:name="S1"><table:table-row '
            'table:number-rows-repeated="1024">'
            '<table:table-cell table:number-columns-repeated="1024" '
            'office:value-type="string"><text:p>xx</text:p>'
            '</table:table-cell></table:table-row></table:table>')
    with _pytest.raises(ValueError):
        extract_odf(_odf_with_content(body))


def test_odf_row_width_format_limit():
    """Many repeated cell ELEMENTS in one row build the cells list before
    any text-size cap can see it — a row wider than ODS's own 16384-column
    format limit must error instead of allocating without bound."""
    import pytest as _pytest

    from documentconvert_spark.kernels.miniodf import extract_odf

    cell = ('<table:table-cell table:number-columns-repeated="1024" '
            'office:value-type="string"><text:p>x</text:p></table:table-cell>')
    body = (f'<table:table table:name="S1"><table:table-row>{cell * 20}'
            '</table:table-row></table:table>')
    with _pytest.raises(ValueError):
        extract_odf(_odf_with_content(body))


def test_xlsx_budget_charged_before_row_join(monkeypatch):
    """The cumulative cap must fire while CELLS accumulate, not after the
    row's "\\t".join has materialized: N cells all referencing one big
    shared string (legal under the per-member zip cap) would otherwise
    allocate N x len(string) before the first check."""
    import tracemalloc

    import pytest as _pytest

    from documentconvert_spark.kernels import limits
    from documentconvert_spark.kernels.miniooxml import extract_xlsx

    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 60_000)
    big = "S" * 50_000
    data = xlsx_zip(
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheetData><row>' + '<c t="s"><v>0</v></c>' * 200 + '</row>'
        '</sheetData></worksheet>',
        shared_strings_xml=(
            '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<si><t>{big}</t></si></sst>'))
    tracemalloc.start()
    with _pytest.raises(ValueError):
        extract_xlsx(data)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # 200 cells x 50 KB = 10 MB if the join ran first; budget-first keeps
    # the peak at ~2 strings + parser overhead
    assert peak < 2_000_000, f"allocated {peak} bytes before the cap fired"


def test_odf_budget_charged_before_grid_join(monkeypatch):
    """Repeat factors must be charged when the cell is SEEN: one big cell
    x columns-repeated x rows-repeated would otherwise materialize the
    whole product in the row join before the first check."""
    import tracemalloc

    import pytest as _pytest

    from documentconvert_spark.kernels import limits
    from documentconvert_spark.kernels.miniodf import extract_odf

    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 60_000)
    big = "O" * 50_000
    body = ('<table:table table:name="S1">'
            '<table:table-row table:number-rows-repeated="1024">'
            '<table:table-cell table:number-columns-repeated="1024" '
            f'office:value-type="string"><text:p>{big}</text:p>'
            '</table:table-cell></table:table-row></table:table>')
    tracemalloc.start()
    with _pytest.raises(ValueError):
        extract_odf(_odf_with_content(body))
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 2_000_000, f"allocated {peak} bytes before the cap fired"


def _xls_with_cells(cells, sst_strings):
    """Minimal BIFF8 .xls: one sheet, LABELSST cells -> shared strings."""
    import struct

    from documentconvert_spark.corpus import biff_rec, write_cfb, xl_str8

    sst_payload = struct.pack("<II", len(sst_strings), len(sst_strings))
    for s in sst_strings:
        sst_payload += struct.pack("<HB", len(s), 0) + s.encode("latin-1")
    bof = biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    boundsheet = struct.pack("<IBB", 0, 0, 0) + xl_str8("Data")
    globals_part = (bof + biff_rec(0x0085, boundsheet)
                    + biff_rec(0x00FC, sst_payload) + biff_rec(0x000A, b""))
    sheet = biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
    for r, c, isst in cells:
        sheet += biff_rec(0x00FD, struct.pack("<HHHI", r, c, 0, isst))
    sheet += biff_rec(0x000A, b"")
    fixed = struct.pack("<I", len(globals_part)) + boundsheet[4:]
    globals_part = (bof + biff_rec(0x0085, fixed)
                    + biff_rec(0x00FC, sst_payload) + biff_rec(0x000A, b""))
    return write_cfb([("Workbook", globals_part + sheet)])


def test_xls_far_column_ignored():
    """The BIFF column field is a u16: a cell claiming c=65535 used to pad
    its row with ~64 KB of tabs from one 14-byte record (BIFF8's own grid
    stops at column IV=255). Invalid columns are ignored, like beyond-XFD
    refs in xlsx."""
    from documentconvert_spark.kernels.minibiff import extract_xls

    data = _xls_with_cells([(0, 0, 0), (0, 65535, 1)], ["keep", "far"])
    spans = extract_xls(data)
    table = next(s for s in spans if s.kind == "table")
    assert "keep" in table.text and "far" not in table.text
    assert len(table.text) < 100


def test_xls_sst_fanout_budget(monkeypatch):
    """N 14-byte LABELSST records all referencing one big shared string
    must trip the cumulative budget as cells accumulate, before any row
    join materializes the fan-out."""
    import tracemalloc

    import pytest as _pytest

    from documentconvert_spark.kernels import limits
    from documentconvert_spark.kernels.minibiff import extract_xls

    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 60_000)
    big = "S" * 50_000
    data = _xls_with_cells([(r, 0, 0) for r in range(200)], [big])
    tracemalloc.start()
    with _pytest.raises(ValueError):
        extract_xls(data)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 2_000_000, f"allocated {peak} bytes before the cap fired"


def test_doc_overlapping_pieces_budget(monkeypatch):
    """ccp_text and the piece-table cp ranges are file-controlled u32s:
    N overlapping PCDs all pointing at the same fc each append their
    actual slice, so a small .doc used to accumulate N x len(word) of
    decoded text before the join. The budget must fire on ACTUAL decoded
    bytes as pieces accumulate."""
    import struct
    import tracemalloc

    import pytest as _pytest

    from documentconvert_spark.kernels import limits
    from documentconvert_spark.kernels.minidoc import extract_doc
    from documentconvert_spark.corpus import write_cfb

    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 60_000)
    word = bytearray(40_000)
    struct.pack_into("<H", word, 0, 0xA5EC)       # FIB magic
    struct.pack_into("<H", word, 0x0A, 0)         # flags -> 0Table
    struct.pack_into("<I", word, 0x4C, 0xFFFFFF)  # ccp_text forged huge
    n = 100
    cps = [k * 10_000 for k in range(n + 1)]
    plc = struct.pack(f"<{n + 1}I", *cps)
    for _ in range(n):
        # every PCD: compressed, fc -> the same offset 0x400
        plc += struct.pack("<HIH", 0, 0x40000000 | 0x400, 0)
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<I", word, 0x1A2, 0)        # fc_clx in table stream
    struct.pack_into("<I", word, 0x1A6, len(clx))
    data = write_cfb([("WordDocument", bytes(word)), ("0Table", clx)])
    tracemalloc.start()
    with _pytest.raises(ValueError):
        extract_doc(data)
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert peak < 2_000_000, f"allocated {peak} bytes before the cap fired"


def test_pdf_form_breadth_amplification_bounded(monkeypatch):
    """The Do recursion depth cap stops self-reference but not BREADTH:
    100 Do ops per level across 3 nested forms re-interpret the leaf
    1M times (days of CPU from a ~10 KB file). The per-document
    interpreted-bytes budget must stop it — as graceful truncation
    (the doc-level budget semantics: finalize runs collected so far,
    no error row), and FAST: the time bound is the security property."""
    from documentconvert_spark.kernels import limits
    from documentconvert_spark.kernels.realpdf import extract_realpdf

    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 100_000)

    def form(child_ref: bytes | None, body: bytes) -> bytes:
        res = (b"/Resources <</XObject <</N " + child_ref + b">>>> "
               ) if child_ref else b""
        return (b"<</Subtype /Form " + res
                + b"/Length %d>>\nstream\n" % len(body) + body + b"\nendstream")

    fan = b"/N Do\n" * 100
    leaf_body = b"q Q " * 250  # ~1 KB of no-op graphics state per leaf visit
    objects = {
        1: b"<</Type /Catalog /Pages 2 0 R>>",
        2: b"<</Type /Pages /Kids [3 0 R] /Count 1>>",
        3: (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources <</XObject <</N 5 0 R>>>>>>"),
        4: b"<</Length %d>>\nstream\n%s\nendstream" % (len(fan), fan),
        5: form(b"6 0 R", fan),
        6: form(b"7 0 R", fan),
        7: form(None, leaf_body),
    }
    t0 = time.monotonic()
    spans = extract_realpdf(classic_pdf(objects))  # must not raise
    assert time.monotonic() - t0 < 3.0
    # nothing but no-op graphics state was interpreted before exhaustion
    assert spans == []
