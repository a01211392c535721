"""realpdf parser hardening: synthesized PDFs exercising the spec surface
the reference sample doesn't hit — cross-reference STREAMS with PNG Up
predictor, object streams (/ObjStm), literal-string escapes, TJ kerning
arrays, /Differences simple-font encodings, Form-XObject recursion, Image
XObjects as figure spans, and multi-page reading order.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from documentconvert_spark.corpus import (
    PDF_FONT,
    _ENC_CONTENT,
    _build_encrypted,
    _lzw_encode,
    aes256_pdf,
    aesv2_pdf,
    cidfont_pdf,
    classic_pdf,
    encrypt_pdf,
    lzw_pdf,
    page_tree,
    stream_obj,
    ttf_with_cmap4,
)
from documentconvert_spark.kernels.realpdf import extract_realpdf


def test_literal_strings_and_tj_arrays():
    content = (
        b"BT /F1 12 Tf 72 720 Td (Hello \\(escaped\\) \\110i) Tj "
        b"0 -14 Td [(Ker)-120(ned)] TJ ET"
    )
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>> /MediaBox [0 0 612 792]>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "Hello (escaped) Hi" in text  # \110 octal = 'H'
    assert "Kerned" in text              # TJ parts concatenated


def test_multipage_reading_order_and_heading():
    objs = page_tree([3, 6])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"BT /F1 24 Tf 72 700 Td (Title Line) Tj ET BT /F1 10 Tf 72 650 Td (page one body text) Tj ET")
    objs[6] = b"<</Type /Page /Parent 2 0 R /Contents 7 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[7] = stream_obj(b"", b"BT /F1 10 Tf 72 700 Td (page two body text) Tj ET")
    objs[9] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    assert spans[0].kind == "heading" and spans[0].text == "Title Line"
    texts = [s.text for s in spans]
    assert texts.index("page one body text") < texts.index("page two body text")


def test_differences_encoding():
    # code 65 remapped to 'bullet', 66 to uni4E2D
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"BT /F1 10 Tf 72 700 Td (AB) Tj ET")
    objs[5] = (b"<</Type /Font /Subtype /Type1 /BaseFont /Custom "
               b"/Encoding <</Differences [65 /bullet /uni4E2D]>>>>")
    spans = extract_realpdf(classic_pdf(objs))
    assert spans[0].text == "•中"


def test_form_xobject_recursion_and_image_figure():
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 8 0 R>> /XObject <</Fm1 5 0 R /Im1 6 0 R>>>>>>")
    objs[4] = stream_obj(b"", b"BT /F1 10 Tf 72 700 Td (before form) Tj ET /Fm1 Do q 10 0 0 10 72 300 cm /Im1 Do Q")
    inner = b"BT /F1 10 Tf 72 500 Td (inside form xobject) Tj ET"
    objs[5] = stream_obj(
        b"/Type /XObject /Subtype /Form /Resources <</Font <</F1 8 0 R>>>>", inner
    )
    objs[6] = stream_obj(b"/Type /XObject /Subtype /Image /Width 4 /Height 4", b"\x00" * 16)
    objs[8] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = " ".join(s.text for s in spans)
    assert "before form" in text and "inside form xobject" in text
    figs = [s for s in spans if s.kind == "figure"]
    assert len(figs) == 1 and figs[0].media_ref.endswith(".jpg")
    # figure interleaved below the text (y=300 < 500/700)
    assert spans[-1].kind == "figure"


def test_flate_and_asciihex_filters():
    content = b"BT /F1 10 Tf 72 700 Td (compressed content line) Tj ET"
    flate = zlib.compress(content)
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = b"<</Filter /FlateDecode /Length %d>>\nstream\n%s\nendstream" % (len(flate), flate)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    assert spans and spans[0].text == "compressed content line"

    hexed = content.hex().encode() + b">"
    objs[4] = b"<</Filter /ASCIIHexDecode /Length %d>>\nstream\n%s\nendstream" % (len(hexed), hexed)
    spans = extract_realpdf(classic_pdf(objs))
    assert spans and spans[0].text == "compressed content line"


def _xrefstream_pdf() -> bytes:
    """PDF 1.5: catalog/pages/page/font packed in an /ObjStm, xref as a
    stream with W [1 2 1] and PNG Up predictor."""
    # object stream holds 1 (catalog), 2 (pages), 3 (page), 5 (font)
    inner_objs = [
        (1, b"<</Type /Catalog /Pages 2 0 R>>"),
        (2, b"<</Type /Pages /Kids [3 0 R] /Count 1>>"),
        (3, b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"),
        (5, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>"),
    ]
    header = b""
    body = b""
    for num, data in inner_objs:
        header += b"%d %d " % (num, len(body))
        body += data + b" "
    objstm_payload = header + body
    first = len(header)
    objstm_z = zlib.compress(objstm_payload)

    out = bytearray(b"%PDF-1.5\n")
    offsets = {}

    def emit(num: int, raw: bytes) -> None:
        offsets[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + raw + b"\nendobj\n")

    content = b"BT /F1 10 Tf 72 700 Td (from an object stream) Tj ET"
    emit(4, b"<</Length %d>>\nstream\n%s\nendstream" % (len(content), content))
    emit(6, b"<</Type /ObjStm /N %d /First %d /Filter /FlateDecode /Length %d>>\nstream\n%s\nendstream"
         % (len(inner_objs), first, len(objstm_z), objstm_z))

    xref_at = len(out)
    # entries for objects 0..7 ; W = [1 2 1]
    rows = []
    rows.append(struct.pack(">BHB", 0, 0, 0))                 # 0: free
    for num in (1, 2, 3):
        idx = [n for n, _ in inner_objs].index(num)
        rows.append(struct.pack(">BHB", 2, 6, idx))           # in ObjStm 6
    rows.append(struct.pack(">BHB", 1, offsets[4], 0))        # 4: direct
    rows.append(struct.pack(">BHB", 2, 6, 3))                 # 5: in ObjStm idx 3
    rows.append(struct.pack(">BHB", 1, offsets[6], 0))        # 6: direct
    rows.append(struct.pack(">BHB", 1, xref_at, 0))           # 7: xref stream itself
    # PNG Up predictor, columns = 4 bytes
    pred = bytearray()
    prev = bytes(4)
    for r in rows:
        pred.append(2)
        pred += bytes((r[i] - prev[i]) & 0xFF for i in range(4))
        prev = r
    xref_z = zlib.compress(bytes(pred))
    out += (b"7 0 obj\n<</Type /XRef /Size 8 /W [1 2 1] /Index [0 8] /Root 1 0 R "
            b"/Filter /FlateDecode /DecodeParms <</Predictor 12 /Colors 1 /BitsPerComponent 8 /Columns 4>> "
            b"/Length %d>>\nstream\n%s\nendstream\nendobj\n" % (len(xref_z), xref_z))
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def test_xref_stream_and_objstm():
    spans = extract_realpdf(_xrefstream_pdf())
    assert len(spans) == 1 and spans[0].text == "from an object stream"


def test_scan_fallback_on_broken_xref():
    pdf = classic_pdf({**page_tree([3]),
                        3: b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>",
                        4: stream_obj(b"", b"BT /F1 10 Tf 72 700 Td (survives xref corruption) Tj ET"),
                        5: PDF_FONT})
    # corrupt the startxref offset
    broken = pdf.replace(b"startxref\n", b"startxref\n9999999 ", 1)
    spans = extract_realpdf(broken)
    assert spans and spans[0].text == "survives xref corruption"


def test_determinism_across_variants():
    for mk in (_xrefstream_pdf, _xrefstream_pdf):
        assert extract_realpdf(mk()) == extract_realpdf(mk())


def test_table_region_detection():
    """Consecutive aligned multi-column lines become a table span; ragged
    prose and single headers do not (MinerU table-detect analogue)."""
    rows = []
    y = 700
    # 3-row, 3-column aligned grid
    for vals in (("name", "qty", "price"), ("bolt", "12", "0.30"), ("nut", "7", "0.10")):
        rows.append(b"BT /F1 10 Tf 72 %d Td (%s) Tj ET" % (y, vals[0].encode()))
        rows.append(b"BT /F1 10 Tf 250 %d Td (%s) Tj ET" % (y, vals[1].encode()))
        rows.append(b"BT /F1 10 Tf 400 %d Td (%s) Tj ET" % (y, vals[2].encode()))
        y -= 14
    # normal paragraph below (single column)
    rows.append(b"BT /F1 10 Tf 72 600 Td (after the table a normal paragraph) Tj ET")
    content = b"\n".join(rows)
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    kinds = [s.kind for s in spans]
    assert kinds == ["table", "paragraph"], kinds
    assert spans[0].text == "name\tqty\tprice\nbolt\t12\t0.30\nnut\t7\t0.10"


def test_two_column_header_not_a_table():
    """A single two-cell line (page header) must NOT become a table."""
    content = (
        b"BT /F1 10 Tf 72 770 Td (2026/01/01) Tj ET"
        b" BT /F1 10 Tf 400 770 Td (report title) Tj ET"
        b" BT /F1 10 Tf 72 700 Td (body paragraph text here) Tj ET"
    )
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    assert all(s.kind != "table" for s in spans)
    assert any("2026/01/01 report title" in s.text for s in spans)


def test_truncated_tj_array_degrades_gracefully():
    """A content stream ending mid-TJ-array must still yield the tokens
    parsed so far (ValueError is contained inside the tokenizer), never an
    IndexError that aborts the whole document."""
    from documentconvert_spark.kernels.realpdf import _content_tokens

    toks = list(_content_tokens(b"BT /F1 10 Tf [ (abc) 5 (def) "))
    operands = [v for k, v in toks if k == "operand"]
    assert b"abc" in operands and b"def" in operands


def test_object_parser_dict_entry_forms():
    """The single-regex dict step must cover every entry shape: number,
    float, signed, ref, name (run-together and spaced), hash-escaped
    names, comments between entries, and fall-through container/bool/
    string values."""
    from documentconvert_spark.kernels.realpdf import _Name, _Ref, _parse_object

    data = (b"<< %note\n/Length 42/Parent 5 0 R/Type/Page /Neg -3.5"
            b"/A#20B /X#2FY/Flag true/T (hi)/Sub <</N 1>>/K [1 2 3] >>tail")
    d, end = _parse_object(data, 0)
    assert data[end:] == b"tail" and d == {
        _Name("Length"): 42, _Name("Parent"): _Ref((5, 0)),
        _Name("Type"): _Name("Page"), _Name("Neg"): -3.5,
        _Name("A B"): _Name("X/Y"), _Name("Flag"): True,
        _Name("T"): b"hi", _Name("Sub"): {_Name("N"): 1},
        _Name("K"): [1, 2, 3],
    }
    # refs=False (content-stream dicts, which never hold refs): a stray
    # 'N G R' value raises and is contained by the tokenizer's catch
    with pytest.raises(ValueError):
        _parse_object(b"<</V 5 0 R>>", 0, refs=False)


def test_object_parser_array_string_forms():
    """TJ-style arrays: escape-free and escaped literals, run-together and
    whitespace-split hex, empties, and the R-lookahead guard."""
    from documentconvert_spark.kernels.realpdf import _Ref, _parse_object

    arr, _ = _parse_object(
        rb"[ (ab) (a\(b) <4142> < 41 4 2 > <414> () <> 1 0 R -.5 %c"
        b"\n[3]/N]", 0)
    assert arr == [b"ab", b"a(b", b"AB", b"AB", b"A@", b"", b"",
                   _Ref((1, 0)), -0.5, [3], "N"]


def test_content_tokens_edge_forms():
    """Content-stream tokenizer: operators glued to delimiters, comments,
    inline-image skip, dict operands, and stray delimiter recovery."""
    from documentconvert_spark.kernels.realpdf import _Name, _content_tokens

    toks = list(_content_tokens(
        b"(x)Tj%comment\n/GS1 gs <</T 1>> BDC ) 5 0 R BI junk EI 1.5 w"))
    ops = [v for k, v in toks if k == "op"]
    operands = [v for k, v in toks if k == "operand"]
    assert ops == ["Tj", "gs", "BDC", "R", "BI_skipped", "w"]
    assert operands[0] == b"x"
    assert operands[1] == _Name("GS1")
    assert {_Name("T"): 1} in operands
    assert 1.5 in operands


def test_inline_image_embedded_ei_bytes_skipped():
    """The raw payload after ID may contain the byte pair 'EI'; only a
    whitespace-delimited EI token ends the image (ISO 32000 §8.9.7) — a
    false match would desync the interpreter into lexing image bytes."""
    from documentconvert_spark.kernels.realpdf import _content_tokens

    body = (b"BI /W 4 /H 2 ID \x00aEIb\xffEI( \nEI (after)Tj")
    toks = list(_content_tokens(body))
    ops = [v for k, v in toks if k == "op"]
    operands = [v for k, v in toks if k == "operand"]
    assert ops == ["BI_skipped", "Tj"]
    assert operands == [b"after"]
    # EI at end-of-stream (no trailing whitespace) still terminates
    toks = list(_content_tokens(b"BI ID \x01\x02 EI"))
    assert [v for k, v in toks if k == "op"] == ["BI_skipped"]
    # a delimiter terminates the EI keyword just like whitespace does
    # (ISO 32000 §7.2.3): '(text)Tj' may follow with no space between
    toks = list(_content_tokens(b"BI /W 1 /H 1 ID x EI(next text)Tj"))
    assert [v for k, v in toks if k == "op"] == ["BI_skipped", "Tj"]
    assert [v for k, v in toks if k == "operand"] == [b"next text"]


def test_comment_at_stream_end_not_relexed():
    """A trailing comment (no final newline) must be consumed whole: the
    possessive ws/comment prefix may not backtrack a byte and re-lex
    comment text as tokens, and a ']'/'>>' inside a trailing comment may
    not close an unterminated container."""
    from documentconvert_spark.kernels.realpdf import _content_tokens, _parse_object

    assert list(_content_tokens(b"(A) Tj %done (x) Tj")) == [
        ("operand", b"A"), ("op", "Tj")]
    assert list(_content_tokens(b"(A) Tj %4")) == [("operand", b"A"), ("op", "Tj")]
    with pytest.raises(ValueError):
        _parse_object(b"[1 2 %tail]", 0)
    with pytest.raises(ValueError):
        _parse_object(b"<</A 1 %x>>", 0)


def test_lone_sign_bytes_skipped_not_operators():
    """Malformed number fragments ('-', '-x', '..') are skipped byte-wise
    like the pre-regex tokenizer did — emitting them as unknown operators
    would clear pending operands and silently drop text."""
    from documentconvert_spark.kernels.realpdf import _content_tokens

    assert list(_content_tokens(b"(A) - Tj")) == [("operand", b"A"), ("op", "Tj")]
    toks = list(_content_tokens(b"(A) .. -x Tj"))
    assert ("operand", b"A") in toks and ("op", "Tj") in toks
    assert not any(v in ("-", "..", "-x") for k, v in toks if k == "op")


def test_lzw_and_runlength_filters():
    """LZWDecode against the ISO 32000 §7.4.4.2 worked example, an
    encoder round-trip long enough to cross the 9→10-bit width switch,
    and RunLengthDecode literal/repeat/EOD handling."""
    from documentconvert_spark.kernels.limits import _lzw_decode
    from documentconvert_spark.kernels.realpdf import _rle_decode

    spec = bytes([0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01])
    assert _lzw_decode(spec) == bytes([45] * 5 + [65] + [45] * 3 + [66])

    payload = (b"BT /F1 10 Tf 72 700 Td (lzw compressed stream) Tj ET " * 40)
    assert _lzw_decode(_lzw_encode(payload)) == payload
    assert _lzw_decode(_lzw_encode(payload, early=0), early_change=0) == payload

    assert _rle_decode(b"\x02abc\xfeZ\x80trailing-junk") == b"abc" + b"Z" * 3

    # end-to-end: a page whose content stream is LZW-encoded
    content = b"BT /F1 10 Tf 72 700 Td (lzw content line) Tj ET"
    spans = extract_realpdf(lzw_pdf(content))
    assert spans and spans[0].text == "lzw content line"

    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[5] = PDF_FONT
    rle = b"".join(
        bytes([len(chunk) - 1]) + chunk
        for chunk in (content[i:i + 100] for i in range(0, len(content), 100))
    ) + b"\x80"
    objs[4] = b"<</Filter /RunLengthDecode /Length %d>>\nstream\n%s\nendstream" % (len(rle), rle)
    spans = extract_realpdf(classic_pdf(objs))
    assert spans and spans[0].text == "lzw content line"


def test_lzw_corrupt_stream_raises():
    from documentconvert_spark.kernels.limits import _lzw_decode

    with pytest.raises(ValueError):
        # first code after clear references an unassigned table slot
        _lzw_decode(bytes([0x80, 0x5F, 0xFF, 0xFF]))


@pytest.mark.parametrize("r", [2, 3])
def test_rc4_encrypted_pdf(r):
    """RC4-encrypted PDFs (40-bit R2 and 128-bit R3, empty user password)
    decrypt and extract; §7.6.3 key derivation validated against /U."""
    spans = extract_realpdf(encrypt_pdf(r))
    assert spans and spans[0].text == "decrypted text line"


def test_password_protected_pdf_rejected():
    """A non-empty user password (garbage /U) must raise — wrong-key RC4
    output must never be parsed as content."""
    data = encrypt_pdf(3)
    u_at = data.find(b"/U <") + 4
    garbled = data[:u_at] + b"00" * 2 + data[u_at + 4:]
    with pytest.raises(ValueError, match="password"):
        extract_realpdf(garbled)


def test_aesv2_encrypted_pdf():
    spans = extract_realpdf(aesv2_pdf())
    assert spans and spans[0].text == "decrypted text line"


def test_aes256_r6_encrypted_pdf():
    spans = extract_realpdf(aes256_pdf())
    assert spans and spans[0].text == "decrypted text line"


def test_aes256_wrong_password_rejected():
    from documentconvert_spark.kernels.realpdf import _r6_hash

    u = _r6_hash(b"secret", b"VALSALT!") + b"VALSALT!" + b"KEYSALT!"
    objs6 = (b"<</Filter /Standard /V 5 /R 6 /P -4 /O <%s> /U <%s> /OE <%s> /UE <%s>>>"
             % (b"00" * 48, u.hex().encode(), b"00" * 32, b"00" * 32))
    with pytest.raises(ValueError, match="password"):
        extract_realpdf(_build_encrypted(objs6, b"x" * 48))


def test_aesv2_key_length_from_cf_dict_only():
    """A conforming V4 document may omit the top-level /Length entirely —
    the AESV2 key is 128-bit by definition and must not shrink to the
    40-bit default."""
    import hashlib

    from documentconvert_spark.kernels.realpdf import (
        _ENC_PAD, _aes_cbc_encrypt, _rc4)

    doc_id = b"\x01\x02" * 8
    p = -3392
    h = hashlib.md5(_ENC_PAD).digest()
    for _ in range(50):
        h = hashlib.md5(h[:16]).digest()
    okey = h[:16]
    o = _rc4(okey, _ENC_PAD)
    for i in range(1, 20):
        o = _rc4(bytes(b ^ i for b in okey), o)
    h = hashlib.md5(
        _ENC_PAD + o[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + doc_id).digest()
    for _ in range(50):
        h = hashlib.md5(h[:16]).digest()
    key = h[:16]
    u = _rc4(key, hashlib.md5(_ENC_PAD + doc_id).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    u += b"\x00" * 16
    ok4 = hashlib.md5(
        key + (4).to_bytes(3, "little") + (0).to_bytes(2, "little") + b"sAlT"
    ).digest()[:16]
    iv = bytes(range(16))
    pad = 16 - len(_ENC_CONTENT) % 16
    enc = iv + _aes_cbc_encrypt(ok4, iv, _ENC_CONTENT + bytes([pad]) * pad)
    # NO top-level /Length, CF /Length in BYTES (both spec-legal)
    objs6 = (b"<</Filter /Standard /V 4 /R 4 /P %d /O <%s> /U <%s> "
             b"/CF <</StdCF <</CFM /AESV2 /Length 16>>>> /StmF /StdCF>>"
             % (p, o.hex().encode(), u.hex().encode()))
    spans = extract_realpdf(_build_encrypted(objs6, enc, doc_id=doc_id))
    assert spans and spans[0].text == "decrypted text line"


def test_unencrypted_pdf_mentioning_encrypt_in_text():
    """Page text containing the literal bytes '/Encrypt 1 0 R' must not
    trip the encryption fallback on a document with a healthy trailer."""
    content = b"BT /F1 10 Tf 72 700 Td (mentions /Encrypt 1 0 R in text) Tj ET"
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    assert spans and "mentions" in spans[0].text


# -- multi-column reading order ----------------------------------------------


def _two_col_page(rows: int = 10, with_mid_head: bool = False) -> bytes:
    """Classic paper layout: full-width title, then `rows` lines in each of
    two columns (left x=72, right x=320), same y per row pair; optionally a
    full-width section head halfway down (a segment delimiter)."""
    parts = [b"BT /F1 24 Tf 150 760 Td (Two Column Doc) Tj ET"]
    y = 720
    for i in range(rows):
        if with_mid_head and i == rows // 2:
            parts.append(
                b"BT /F1 18 Tf 140 %d Td (Middle Section Heading Here) Tj ET" % y
            )
            y -= 24
        parts.append(
            b"BT /F1 10 Tf 72 %d Td (leftrow%d body text filling the column) Tj ET"
            % (y, i)
        )
        parts.append(
            b"BT /F1 10 Tf 320 %d Td (rightrow%d body text filling the column) Tj ET"
            % (y, i)
        )
        y -= 14
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"\n".join(parts))
    objs[5] = PDF_FONT
    return classic_pdf(objs)


def test_two_column_reading_order():
    """A two-column page reads left column fully, then right column —
    not line-interleaved, and never as one giant two-cell table."""
    spans = extract_realpdf(_two_col_page())
    assert spans[0].kind == "heading" and spans[0].text == "Two Column Doc"
    assert all(s.kind != "table" for s in spans)
    text = "\n".join(s.text for s in spans)
    assert text.index("leftrow9") < text.index("rightrow0")
    # within each column the rows stay in top-to-bottom order
    for col in ("leftrow", "rightrow"):
        pos = [text.index(f"{col}{i}") for i in range(10)]
        assert pos == sorted(pos)


def test_two_column_segments_break_at_fullwidth_heading():
    """A full-width heading mid-page delimits column segments: everything
    above it (left then right) precedes it; everything below follows."""
    spans = extract_realpdf(_two_col_page(rows=20, with_mid_head=True))
    text = "\n".join(s.text for s in spans)
    head = text.index("Middle Section Heading Here")
    assert text.index("leftrow9") < head < text.index("leftrow10")
    assert text.index("rightrow9") < head < text.index("rightrow10")
    # above-segment right column precedes the heading, below-segment left
    # column follows it
    assert text.index("rightrow0") < head < text.index("rightrow10")


def test_two_column_table_of_short_cells_stays_table():
    """Many aligned rows of SHORT key/value cells are a table, not a
    two-column page — the fill-ratio guard keeps row order intact."""
    rows = []
    y = 700
    for i in range(10):
        rows.append(b"BT /F1 10 Tf 72 %d Td (k%d) Tj ET" % (y, i))
        rows.append(b"BT /F1 10 Tf 320 %d Td (v%d) Tj ET" % (y, i))
        y -= 14
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"\n".join(rows))
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    tables = [s for s in spans if s.kind == "table"]
    assert len(tables) == 1
    assert tables[0].text.splitlines()[0] == "k0\tv0"
    assert tables[0].text.splitlines()[-1] == "k9\tv9"


def test_two_column_figure_stays_in_its_column():
    """A figure anchored in the right column surfaces with the right
    column's flow, after the full left column."""
    parts = []
    y = 720
    for i in range(10):
        parts.append(
            b"BT /F1 10 Tf 72 %d Td (leftrow%d body text filling the column) Tj ET"
            % (y, i)
        )
        parts.append(
            b"BT /F1 10 Tf 320 %d Td (rightrow%d body text filling the column) Tj ET"
            % (y, i)
        )
        y -= 14
    # image placed in the right column between rows 4 and 5
    parts.append(b"q 40 0 0 30 340 %d cm /Im1 Do Q" % (720 - 4 * 14 - 7))
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>> /XObject <</Im1 6 0 R>>>>>>")
    objs[4] = stream_obj(b"", b"\n".join(parts))
    objs[5] = PDF_FONT
    objs[6] = stream_obj(b"/Type /XObject /Subtype /Image /Width 4 /Height 4", b"\x00" * 16)
    spans = extract_realpdf(classic_pdf(objs))
    kinds_text = [(s.kind, s.text) for s in spans]
    fig_at = next(i for i, s in enumerate(spans) if s.kind == "figure")
    before = "\n".join(s.text for s in spans[:fig_at])
    after = "\n".join(s.text for s in spans[fig_at:])
    assert "leftrow9" in before          # whole left column precedes the figure
    assert "rightrow4" in before, kinds_text
    assert "rightrow5" in after, kinds_text


# -- page furniture + list blocks ---------------------------------------------


def _three_page_doc(header: bool = True) -> bytes:
    objs = page_tree([3, 6, 8])
    bodies = []
    for i, (pg, ct) in enumerate(((3, 4), (6, 7), (8, 9))):
        parts = []
        if header:
            parts.append(b"BT /F1 9 Tf 72 780 Td (ACME Quarterly Report 2025) Tj ET")
        parts.append(
            b"BT /F1 10 Tf 72 700 Td (page %d unique body content line) Tj ET" % (i + 1)
        )
        parts.append(b"BT /F1 10 Tf 72 650 Td (more body prose for page %d) Tj ET" % (i + 1))
        parts.append(b"BT /F1 9 Tf 280 60 Td (Page %d of 3) Tj ET" % (i + 1))
        objs[pg] = (b"<</Type /Page /Parent 2 0 R /Contents %d 0 R "
                    b"/Resources <</Font <</F1 11 0 R>>>>>>" % ct)
        objs[ct] = stream_obj(b"", b"\n".join(parts))
        bodies.append(parts)
    objs[11] = PDF_FONT
    return classic_pdf(objs)


def test_repeating_headers_and_page_numbers_dropped():
    """Running headers and 'Page N of M' footers repeat across pages in
    the page-edge bands — dropped as furniture (main-content extraction);
    per-page unique body text survives."""
    spans = extract_realpdf(_three_page_doc())
    text = "\n".join(s.text for s in spans)
    assert "ACME Quarterly Report" not in text
    assert "Page 1 of 3" not in text and "Page 3 of 3" not in text
    for i in (1, 2, 3):
        assert f"page {i} unique body content line" in text


def test_single_page_edges_kept():
    """No repetition evidence on a single page — a top dateline stays."""
    content = (
        b"BT /F1 9 Tf 72 780 Td (2025-01-01 draft) Tj ET\n"
        b"BT /F1 10 Tf 72 700 Td (body content line) Tj ET"
    )
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    text = "\n".join(s.text for s in extract_realpdf(classic_pdf(objs)))
    assert "2025-01-01 draft" in text and "body content line" in text


def test_distinct_top_lines_kept():
    """Different top-of-page lines (chapter titles) are not furniture."""
    objs = page_tree([3, 6])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"BT /F1 14 Tf 72 780 Td (Chapter One Intro) Tj ET BT /F1 10 Tf 72 700 Td (alpha body) Tj ET")
    objs[6] = b"<</Type /Page /Parent 2 0 R /Contents 7 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[7] = stream_obj(b"", b"BT /F1 14 Tf 72 780 Td (Chapter Two Methods) Tj ET BT /F1 10 Tf 72 700 Td (beta body) Tj ET")
    objs[9] = PDF_FONT
    text = "\n".join(s.text for s in extract_realpdf(classic_pdf(objs)))
    assert "Chapter One Intro" in text and "Chapter Two Methods" in text


def test_list_items_stay_separate_blocks():
    """Tight-spaced bulleted/numbered lines emit one block per item, not
    one merged paragraph; wrapped continuations still join their item."""
    rows = [
        b"BT /F1 10 Tf 72 700 Td (intro line before the list) Tj ET",
        b"BT /F1 10 Tf 72 686 Td (1. first item text) Tj ET",
        b"BT /F1 10 Tf 72 672 Td (2. second item which wraps onto) Tj ET",
        b"BT /F1 10 Tf 86 658 Td (a continuation line) Tj ET",
        b"BT /F1 10 Tf 72 644 Td (3. third item text) Tj ET",
    ]
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"\n".join(rows))
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    texts = [s.text for s in spans]
    assert "1. first item text" in texts
    assert "2. second item which wraps onto a continuation line" in texts
    assert "3. third item text" in texts


def test_numeric_rows_and_short_pages_not_furniture():
    """Review repro: pages whose only lines digit-normalize identically
    (numeric totals rows, per-page body differing only in a digit) must
    NOT be emptied — numeric-only lines need a page-number shape, sparse
    pages don't participate, and a survivor guard cancels keys that
    would gut a page."""
    objs = page_tree([3, 6])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"BT /F1 10 Tf 72 700 Td (body prose for page 1 here) Tj ET BT /F1 10 Tf 72 100 Td (100  155) Tj ET")
    objs[6] = b"<</Type /Page /Parent 2 0 R /Contents 7 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[7] = stream_obj(b"", b"BT /F1 10 Tf 72 700 Td (body prose for page 2 here) Tj ET BT /F1 10 Tf 72 100 Td (200  255) Tj ET")
    objs[9] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "body prose for page 1 here" in text
    assert "body prose for page 2 here" in text
    assert "100 155" in text and "200 255" in text


def test_bare_page_numbers_dropped():
    """A lone page number at the bottom edge matches the page-number
    shape whitelist and is stripped even though it has no letters."""
    objs = page_tree([3, 6])
    body = (b"BT /F1 10 Tf 72 700 Td (%s alpha content line) Tj ET "
            b"BT /F1 10 Tf 72 686 Td (%s beta content line) Tj ET "
            b"BT /F1 10 Tf 72 672 Td (%s gamma content line) Tj ET "
            b"BT /F1 10 Tf 300 60 Td (%s) Tj ET")
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[4] = stream_obj(b"", body % (b"first", b"first", b"first", b"1"))
    objs[6] = b"<</Type /Page /Parent 2 0 R /Contents 7 0 R /Resources <</Font <</F1 9 0 R>>>>>>"
    objs[7] = stream_obj(b"", body % (b"second", b"second", b"second", b"2"))
    objs[9] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    texts = [s.text for s in spans]
    assert "1" not in texts and "2" not in texts
    assert any("first alpha" in t for t in texts)


def test_decimal_and_initial_lines_do_not_split_blocks():
    """'1.5 million...' and 'A. Smith...' at a wrapped line's start are
    prose continuations, not list markers (review repro)."""
    rows = [
        b"BT /F1 10 Tf 72 700 Td (the budget grew to about) Tj ET",
        b"BT /F1 10 Tf 72 686 Td (1.5 million dollars last year) Tj ET",
        b"BT /F1 10 Tf 72 672 Td (per the analysis of) Tj ET",
        b"BT /F1 10 Tf 72 658 Td (A. Smith and colleagues) Tj ET",
    ]
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"\n".join(rows))
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    paras = [s for s in spans if s.kind == "paragraph"]
    assert len(paras) == 1, [s.text for s in spans]
    assert "about 1.5 million" in paras[0].text
    assert "of A. Smith" in paras[0].text


def test_three_column_reading_order():
    """Three columns: the first split's right side recurses and splits
    again, so all of column A precedes B precedes C."""
    parts = []
    y = 720
    # columns at x=40, 230, 420; ~28 chars each at 6.5pt font ≈ 100pt wide
    for i in range(12):
        for cx, name in ((40, b"aaa"), (230, b"bbb"), (420, b"ccc")):
            parts.append(
                b"BT /F1 6.5 Tf %d %d Td (%scol%d filling text of the col) Tj ET"
                % (cx, y, name, i)
            )
        y -= 10
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"\n".join(parts))
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert text.index("aaacol11") < text.index("bbbcol0"), text[:300]
    assert text.index("bbbcol11") < text.index("ccccol0")


def test_hyphenated_line_wrap_joins():
    """'informa-' + 'tion' dehyphenates; 'IL-' + '6' keeps its hyphen."""
    rows = [
        b"BT /F1 10 Tf 72 700 Td (we store all of the informa-) Tj ET",
        b"BT /F1 10 Tf 72 686 Td (tion in one place using IL-) Tj ET",
        b"BT /F1 10 Tf 72 672 Td (6 compatible formats) Tj ET",
    ]
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", b"\n".join(rows))
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = spans[0].text
    assert "information in one place" in text, text
    assert "IL- 6" in text, text


def test_rotated_watermark_dropped_italic_kept():
    """A 45-degree watermark and 90-degree margin text are decoration
    (they shred into one-glyph lines under y-bucketing); fake-italic
    shear [1 0 0.21 1] is ordinary body text and stays."""
    content = (
        b"BT /F1 10 Tf 72 700 Td (normal body line) Tj ET "
        # fake italic: shear matrix, horizontal baseline
        b"BT /F1 10 Tf 1 0 0.21 1 72 650 Tm (sheared italic line) Tj ET "
        # 45-degree diagonal watermark
        b"BT /F1 40 Tf 0.707 0.707 -0.707 0.707 200 300 Tm (DRAFT) Tj ET "
        # 90-degree sideways margin text
        b"BT /F1 8 Tf 0 1 -1 0 20 400 Tm (printed by docgen) Tj ET"
    )
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "normal body line" in text
    assert "sheared italic line" in text
    assert "DRAFT" not in text
    assert "printed by docgen" not in text


def test_monospace_block_becomes_code_span():
    """A Courier-font block classifies as a code span with line structure
    preserved; the surrounding proportional text stays prose."""
    rows = [
        b"BT /F1 10 Tf 72 700 Td (the example below shows the call) Tj ET",
        b"BT /F2 10 Tf 72 680 Td (def add\\(a, b\\):) Tj ET",
        b"BT /F2 10 Tf 90 666 Td (return a + b) Tj ET",
        b"BT /F1 10 Tf 72 640 Td (which returns the sum of both) Tj ET",
    ]
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R /F2 6 0 R>>>>>>")
    objs[4] = stream_obj(b"", b"\n".join(rows))
    objs[5] = PDF_FONT
    objs[6] = b"<</Type /Font /Subtype /Type1 /BaseFont /Courier>>"
    spans = extract_realpdf(classic_pdf(objs))
    kinds = [s.kind for s in spans]
    assert kinds == ["paragraph", "code", "paragraph"], [(s.kind, s.text) for s in spans]
    code = spans[1].text
    assert code.splitlines() == ["def add(a, b):", "return a + b"]


def test_fixedpitch_flag_marks_code():
    """A font with no mono-ish name but FixedPitch descriptor flag set
    (PDF 32000 9.8.2 bit 1) still classifies as code."""
    rows = [
        b"BT /F2 10 Tf 72 680 Td (x = compute\\(\\)) Tj ET",
        b"BT /F2 10 Tf 72 666 Td (print\\(x\\)) Tj ET",
    ]
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F2 6 0 R>>>>>>")
    objs[4] = stream_obj(b"", b"\n".join(rows))
    objs[6] = (b"<</Type /Font /Subtype /Type1 /BaseFont /CustomCo "
               b"/FontDescriptor 7 0 R>>")
    objs[7] = b"<</Type /FontDescriptor /FontName /CustomCo /Flags 1>>"
    spans = extract_realpdf(classic_pdf(objs))
    assert [s.kind for s in spans] == ["code"], [(s.kind, s.text) for s in spans]


def test_page_rotate_compensated_text_kept():
    """Scanner output: /Rotate 90 page whose content writes text with a
    compensating rotation matrix — upright on screen, must be extracted
    (the decoration filter sees display coordinates)."""
    content = (
        b"BT /F1 12 Tf 0 1 -1 0 100 100 Tm (rotated but upright text) Tj ET "
        b"BT /F1 12 Tf 0 1 -1 0 114 100 Tm (second line of the scan) Tj ET"
    )
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Rotate 90 /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "rotated but upright text" in text, spans
    assert "second line of the scan" in text


def test_monotype_corsiva_is_not_code():
    """'Monotype Corsiva' (proportional cursive) must not classify as a
    fixed-pitch code font despite containing 'mono'."""
    from documentconvert_spark.kernels.spans import MONO_FONT_RE
    assert not MONO_FONT_RE.search("MonotypeCorsiva")
    assert not MONO_FONT_RE.search("Monotype Corsiva")
    assert MONO_FONT_RE.search("JetBrains Mono")
    assert MONO_FONT_RE.search("Monaco")
    assert MONO_FONT_RE.search("monospace")


def test_uniformly_rotated_page_content_kept():
    """A page whose content is uniformly 90-degree rotated in PDF space
    WITHOUT a compensating /Rotate (landscape content on a portrait
    MediaBox, some OCR layers) must extract, not silently come out
    empty: when one rotation class is the majority of a page's text
    runs, its coordinates are re-mapped into the reading frame."""
    # reading position (x, y) → device Tm = [0 1 -1 0  -y  x]
    lines = [b"first rotated line", b"second rotated line",
             b"third rotated line", b"fourth rotated line"]
    content = b" ".join(
        b"BT /F1 10 Tf 0 1 -1 0 %d 72 Tm (%s) Tj ET" % (-(700 - 20 * i), t)
        for i, t in enumerate(lines))
    # one horizontal run: minority, but horizontal always stays
    content += b" BT /F1 6 Tf 300 400 Td (stamp) Tj ET"
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    for t in lines:
        assert t.decode() in text, text
    assert "stamp" in text
    # reading order preserved after the re-map
    idx = [text.index(t.decode()) for t in lines]
    assert idx == sorted(idx), text


def test_minority_rotated_runs_still_decoration():
    """Sideways margin text on a normal page (rotated runs a minority)
    keeps being dropped — the majority rescue must not resurrect it."""
    content = (
        b"BT /F1 10 Tf 72 700 Td (body one) Tj ET "
        b"BT /F1 10 Tf 72 680 Td (body two) Tj ET "
        b"BT /F1 10 Tf 72 660 Td (body three) Tj ET "
        b"BT /F1 8 Tf 0 1 -1 0 20 400 Tm (sideways stamp) Tj ET "
        b"BT /F1 8 Tf 0 -1 1 0 590 400 Tm (other margin) Tj ET"
    )
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "body one" in text and "body three" in text
    assert "sideways stamp" not in text and "other margin" not in text


def test_interpreter_budget_truncates_instead_of_erroring(monkeypatch):
    """A document whose summed interpreted content exceeds the doc-level
    budget finalizes the runs already collected (truncation) instead of
    raising out of extract_realpdf as a whole-document error."""
    from documentconvert_spark.kernels import limits as _limits

    def page_content(tag: bytes) -> bytes:
        # ~150 bytes of content per page: under the per-stream cap we
        # patch below, but two pages together exceed it
        filler = b" ".join(b"BT /F1 10 Tf 72 %d Td (%s line %d) Tj ET"
                           % (700 - 20 * i, tag, i) for i in range(3))
        return filler

    objs = page_tree([3, 6])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", page_content(b"pageone"))
    objs[5] = PDF_FONT
    objs[6] = b"<</Type /Page /Parent 2 0 R /Contents 7 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[7] = stream_obj(b"", page_content(b"pagetwo"))
    pdf = classic_pdf(objs)

    # sanity: both pages extract under the real cap
    full = "\n".join(s.text for s in extract_realpdf(pdf))
    assert "pageone line 0" in full and "pagetwo line 0" in full

    body_len = len(page_content(b"pageone"))
    monkeypatch.setattr(_limits, "MAX_DECODED_BYTES", body_len + 10)
    spans = extract_realpdf(pdf)  # must not raise
    text = "\n".join(s.text for s in spans)
    assert "pageone line 0" in text and "pageone line 2" in text
    assert "pagetwo" not in text


def test_budget_exhaustion_inside_form_truncates(monkeypatch):
    """Budget exhaustion INSIDE a Form XObject must reach extract_realpdf
    as graceful truncation — not be swallowed by the Do branch's
    broken-form containment and then re-raised as a plain ValueError
    that errors the whole document (losing the already-extracted runs)."""
    from documentconvert_spark.kernels import limits as _limits

    page_body = (
        b"BT /F1 10 Tf 72 700 Td (kept before the form) Tj ET "
        b"/Fx Do "
        b"BT /F1 10 Tf 72 680 Td (after the form) Tj ET"
    )
    form_body = b" ".join(
        b"BT /F1 8 Tf 100 %d Td (form filler line %d) Tj ET" % (600 - 12 * i, i)
        for i in range(20))
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>> /XObject <</Fx 6 0 R>>>>>>")
    objs[4] = stream_obj(b"", page_body)
    objs[5] = PDF_FONT
    objs[6] = stream_obj(b"/Type /XObject /Subtype /Form", form_body)
    pdf = classic_pdf(objs)

    # sanity under the real cap: both page and form text extract
    full = "\n".join(s.text for s in extract_realpdf(pdf))
    assert "kept before the form" in full and "form filler line 0" in full

    # cap so the page body fits but the form's entry charge exhausts it
    monkeypatch.setattr(_limits, "MAX_DECODED_BYTES", len(page_body) + 10)
    spans = extract_realpdf(pdf)  # must not raise
    text = "\n".join(s.text for s in spans)
    assert "kept before the form" in text, spans
    assert "form filler" not in text


def test_minority_upside_down_text_kept():
    """A MINORITY of 180-degree runs (upside-down stamped receipt on a
    mostly-normal scan, head-to-foot two-up form) is still content and
    must be extracted in the FLIPPED reading frame: 180° text advances
    toward -x and stacks toward +y, so raw coordinates would reverse
    both segment order within a line and line order within a stamp."""
    content = (
        b"BT /F1 10 Tf 72 700 Td (body one) Tj ET "
        b"BT /F1 10 Tf 72 680 Td (body two) Tj ET "
        b"BT /F1 10 Tf 72 660 Td (body three) Tj ET "
        # upside-down stamp, two Tj segments on one line (the second
        # continues toward -x) plus a second stamp line at HIGHER raw y
        b"BT /F1 10 Tf -1 0 0 -1 300 200 Tm (TOTAL DUE ) Tj ET "
        b"BT /F1 10 Tf -1 0 0 -1 240 200 Tm (42.00) Tj ET "
        b"BT /F1 10 Tf -1 0 0 -1 300 214 Tm (SECOND STAMP LINE) Tj ET"
    )
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "body one" in text and "body three" in text
    # segment order intact, and the line printed at lower raw y reads
    # first (it is the upper line once the stamp is flipped upright)
    assert "TOTAL DUE 42.00" in text, text
    assert text.index("TOTAL DUE") < text.index("SECOND STAMP LINE"), text


def test_minority_180_on_rescued_page_stays_dropped():
    """On a page whose reading frame is a 90/270 majority rescue, a
    180-in-PDF-space run is SIDEWAYS relative to the rescued frame —
    decoration, and its raw coordinates are in the wrong frame entirely.
    It must not be injected into the remapped content."""
    lines = [b"first rotated line", b"second rotated line",
             b"third rotated line", b"fourth rotated line"]
    content = b" ".join(
        b"BT /F1 10 Tf 0 1 -1 0 %d 72 Tm (%s) Tj ET" % (-(700 - 20 * i), t)
        for i, t in enumerate(lines))
    content += b" BT /F1 8 Tf -1 0 0 -1 300 400 Tm (not upside down here) Tj ET"
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "not upside down here" not in text, text
    idx = [text.index(t.decode()) for t in lines]
    assert idx == sorted(idx), text


def test_winansi_and_macroman_high_bytes_decode():
    """Simple fonts with named base encodings: bytes 0x80–0xFF carry
    accented text (café, naïve) that the ASCII-only fallback silently
    dropped. WinAnsi maps per cp1252, MacRoman per the Mac OS Roman set;
    a Differences entry still overrides its code."""
    content = (
        b"BT /F1 12 Tf 72 700 Td (caf\xe9 win) Tj ET "     # 0xE9 = é in cp1252
        b"BT /F2 12 Tf 72 680 Td (caf\x8e mac) Tj ET "     # 0x8E = é in mac_roman
        b"BT /F3 12 Tf 72 660 Td (x\xe9y) Tj ET"           # Differences overrides 0xE9
    )
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R /F2 6 0 R /F3 7 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = (b"<</Type /Font /Subtype /Type1 /BaseFont /Helv "
               b"/Encoding /WinAnsiEncoding>>")
    objs[6] = (b"<</Type /Font /Subtype /Type1 /BaseFont /Helv "
               b"/Encoding /MacRomanEncoding>>")
    objs[7] = (b"<</Type /Font /Subtype /Type1 /BaseFont /Helv "
               b"/Encoding <</BaseEncoding /WinAnsiEncoding "
               b"/Differences [233 /zero]>>>>")
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "café win" in text, spans
    assert "café mac" in text, spans
    assert "x0y" in text, spans


def test_predefined_unicode_cmap_decodes_without_tounicode():
    """A Type0 font using a predefined Unicode CMap (UniGB-UCS2-H et al,
    ISO 32000 §9.7.5.2) and NO ToUnicode: the 2-byte character code IS
    the Unicode value, so the text must decode as UTF-16BE instead of
    silently dropping the whole run (empty cmap -> empty decode)."""
    content = (
        b"BT /F1 12 Tf 72 700 Td <4F60597D4E16754C> Tj ET "  # UTF-16BE CJK
        b"BT /F1 12 Tf 72 680 Td <00480049> Tj ET"           # 'HI'
    )
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = (b"<</Type /Font /Subtype /Type0 /BaseFont /SomeGB "
               b"/Encoding /UniGB-UCS2-H>>")
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "你好世界" in text, spans
    assert "HI" in text


def test_identity_h_without_tounicode_recovers_via_embedded_cmap():
    """Identity-H CIDFontType2 with no ToUnicode but an embedded TrueType
    program: the font's own 'cmap' (unicode→gid), run backwards, is the
    only code→text evidence — the viewer-extractor recovery. Previously
    such runs decoded to '' and vanished."""
    spans = extract_realpdf(cidfont_pdf())
    text = "\n".join(s.text for s in spans)
    assert "HELLO" in text, spans


def test_embedded_cmap_stream_encoding_routes_code_to_cid():
    """A Type0 font whose /Encoding is an embedded CMap STREAM (custom
    code→CID mapping) with no ToUnicode: the code routes through the
    CMap's cidrange/cidchar sections, then CID→glyph→unicode via the
    embedded TrueType inversion."""
    ttf = ttf_with_cmap4({0x41: 0x10, 0x42: 0x11, 0x5A: 0x20})  # A B Z
    cmap_body = (b"/CIDInit /ProcSet findresource begin\n"
                 b"1 begincidrange\n<0001> <0002> 16\nendcidrange\n"
                 b"1 begincidchar\n<0009> 32\nendcidchar\nendcmap")
    content = b"BT /F1 12 Tf 72 700 Td <000100020009> Tj ET"  # -> A B Z
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = (b"<</Type /Font /Subtype /Type0 /BaseFont /EmbedZ "
               b"/Encoding 9 0 R /DescendantFonts [6 0 R]>>")
    objs[6] = (b"<</Type /Font /Subtype /CIDFontType2 /BaseFont /EmbedZ "
               b"/CIDToGIDMap /Identity /FontDescriptor 7 0 R>>")
    objs[7] = b"<</Type /FontDescriptor /FontName /EmbedZ /FontFile2 8 0 R>>"
    objs[8] = stream_obj(b"/Length1 %d" % len(ttf), ttf)
    objs[9] = stream_obj(b"/CMapName /Custom-H", cmap_body)
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "ABZ" in text, spans


def test_type0_missing_encoding_still_recovers():
    """A Type0 font dict with NO /Encoding key (spec-invalid, produced
    by broken generators; viewers assume Identity-H) must still recover
    through the embedded-TTF inversion — the no-Identity-guess gate is
    about named non-Unicode CMaps, not about a missing name."""
    ttf = ttf_with_cmap4({0x4F: 5, 0x4B: 6})  # O K
    content = b"BT /F1 12 Tf 72 700 Td <00050006> Tj ET"
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = (b"<</Type /Font /Subtype /Type0 /BaseFont /NoEnc "
               b"/DescendantFonts [6 0 R]>>")
    objs[6] = (b"<</Type /Font /Subtype /CIDFontType2 /BaseFont /NoEnc "
               b"/CIDToGIDMap /Identity /FontDescriptor 7 0 R>>")
    objs[7] = b"<</Type /FontDescriptor /FontName /NoEnc /FontFile2 8 0 R>>"
    objs[8] = stream_obj(b"/Length1 %d" % len(ttf), ttf)
    spans = extract_realpdf(classic_pdf(objs))
    assert "OK" in "\n".join(s.text for s in spans), spans


def test_shared_fontfile_inversion_cached_per_document():
    """N font dicts sharing one FontFile2 by ref must run the (budgeted
    but expensive) cmap inversion ONCE per document — the crafted
    N-tiny-fonts amplification and the common repeated-inline-font-dict
    shape both collapse onto the ref-keyed cache."""
    from unittest import mock

    from documentconvert_spark.kernels import realpdf as rp

    ttf = ttf_with_cmap4({0x41 + i: 5 + i for i in range(4)})
    n_fonts = 12
    fonts = b" ".join(
        b"/F%d %d 0 R" % (i, 10 + i) for i in range(n_fonts))
    content = b" ".join(
        b"BT /F%d 10 Tf 72 %d Td <0005> Tj ET" % (i, 720 - 10 * i)
        for i in range(n_fonts))
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <<" + fonts + b">>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[6] = (b"<</Type /Font /Subtype /CIDFontType2 /BaseFont /Shared "
               b"/CIDToGIDMap /Identity /FontDescriptor 7 0 R>>")
    objs[7] = b"<</Type /FontDescriptor /FontName /Shared /FontFile2 8 0 R>>"
    objs[8] = stream_obj(b"/Length1 %d" % len(ttf), ttf)
    for i in range(n_fonts):
        objs[10 + i] = (b"<</Type /Font /Subtype /Type0 /BaseFont /Shared%d "
                        b"/Encoding /Identity-H /DescendantFonts [6 0 R]>>" % i)
    pdf_bytes = classic_pdf(objs)
    with mock.patch.object(rp, "_invert_ttf_cmap", wraps=rp._invert_ttf_cmap) as spy:
        spans = extract_realpdf(pdf_bytes)
    assert spy.call_count == 1, spy.call_count
    assert "A" in "\n".join(s.text for s in spans)


def test_non_identity_predefined_cmap_stays_dropped_not_garbage():
    """A predefined NON-Unicode CMap (GBK-EUC-H: mixed-width codes, a
    nontrivial code→CID table this engine doesn't ship) must NOT be
    treated as Identity — that would extract WRONG text, worse for a
    hash-verified pipeline than the empty-decode drop."""
    ttf = ttf_with_cmap4({0x41: 1, 0x42: 2})
    content = (b"BT /F1 12 Tf 72 700 Td <00010002> Tj ET "
               b"BT /F2 12 Tf 72 680 Td (plain ascii line) Tj ET")
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R /F2 9 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = (b"<</Type /Font /Subtype /Type0 /BaseFont /SomeGBK "
               b"/Encoding /GBK-EUC-H /DescendantFonts [6 0 R]>>")
    objs[6] = (b"<</Type /Font /Subtype /CIDFontType2 /BaseFont /SomeGBK "
               b"/CIDToGIDMap /Identity /FontDescriptor 7 0 R>>")
    objs[7] = b"<</Type /FontDescriptor /FontName /SomeGBK /FontFile2 8 0 R>>"
    objs[8] = stream_obj(b"/Length1 %d" % len(ttf), ttf)
    objs[9] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "plain ascii line" in text
    assert "A" not in text and "B" not in text, text  # no Identity guess


def test_ucs2_hw_variant_cmap_name_matches():
    """UniJIS-UCS2-HW-H (half-width variant) codes are still UCS-2."""
    content = b"BT /F1 12 Tf 72 700 Td <00480057> Tj ET"  # 'HW'
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = (b"<</Type /Font /Subtype /Type0 /BaseFont /SomeJIS "
               b"/Encoding /UniJIS-UCS2-HW-H>>")
    spans = extract_realpdf(classic_pdf(objs))
    assert "HW" in "\n".join(s.text for s in spans)


def test_ttf_cmap_inversion_iteration_budget():
    """A crafted font with thousands of repeated full-width segments
    (each re-covering the same codes, adding no new entries) must be
    bounded by the ITERATION budget — the entry cap alone is
    unreachable (16-bit gid space) and the loop would burn ~2e9 Python
    iterations otherwise."""
    import time as _time

    nseg = 4000
    segs = b"".join(struct.pack(">H", 0xFFFE) for _ in range(nseg))  # ends
    starts = b"".join(struct.pack(">H", 0x0020) for _ in range(nseg))
    deltas = b"\x00\x00" * nseg
    ros = b"\x00\x00" * nseg
    segcount = nseg + 1
    body = (segs + struct.pack(">H", 0xFFFF) + b"\x00\x00"
            + starts + struct.pack(">H", 0xFFFF)
            + deltas + struct.pack(">H", 1)
            + ros + b"\x00\x00")
    sub = struct.pack(">HHHHHHH", 4, 14 + len(body), 0, segcount * 2, 0, 0, 0) + body
    cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 1, 12) + sub
    ttf = (struct.pack(">IHHHH", 0x00010000, 1, 0, 0, 0)
           + b"cmap" + struct.pack(">III", 0, 28, len(cmap)) + cmap)
    from documentconvert_spark.kernels.realpdf import _invert_ttf_cmap

    t0 = _time.monotonic()
    out = _invert_ttf_cmap(ttf)
    dt = _time.monotonic() - t0
    # generous load-safe bound: the budgeted path runs ~0.2 s; the
    # unbudgeted ~2e9-iteration path runs minutes
    assert dt < 30.0, f"inversion took {dt:.1f}s — iteration budget not applied"
    assert out  # the first pass still harvested real mappings


def test_cid_cmap_stream_iteration_budget():
    """Repeated identical full-range cidrange lines re-cover existing
    keys via setdefault — the work cap must fire even though the entry
    cap never can."""
    import time as _time

    from documentconvert_spark.kernels.realpdf import _parse_cid_cmap

    body = (b"1 begincidrange\n" + b"<0000> <FFFF> 0\n" * 2000
            + b"endcidrange\n")
    t0 = _time.monotonic()
    out = _parse_cid_cmap(body)
    dt = _time.monotonic() - t0
    assert dt < 30.0, f"cid cmap parse took {dt:.1f}s"  # budgeted ~0.2 s; unbudgeted minutes
    assert out[0] == 0 and out[0xFFFF] == 0xFFFF


def test_identity_h_cid_to_gid_stream_routes_the_inversion():
    """Same recovery with a CIDToGIDMap STREAM: code (=CID) goes through
    the map to a glyph id before the inverted-cmap lookup."""
    ttf = ttf_with_cmap4({0x4F: 5, 0x4B: 9})  # O->gid5, K->gid9
    # cid 1 -> gid 5 ('O'), cid 2 -> gid 9 ('K')
    c2g = b"\x00\x00\x00\x05\x00\x09"
    content = b"BT /F1 12 Tf 72 700 Td <00010002> Tj ET"
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = (b"<</Type /Font /Subtype /Type0 /BaseFont /EmbedY "
               b"/Encoding /Identity-H /DescendantFonts [6 0 R]>>")
    objs[6] = (b"<</Type /Font /Subtype /CIDFontType2 /BaseFont /EmbedY "
               b"/CIDToGIDMap 9 0 R /FontDescriptor 7 0 R>>")
    objs[7] = b"<</Type /FontDescriptor /FontName /EmbedY /FontFile2 8 0 R>>"
    objs[8] = stream_obj(b"/Length1 %d" % len(ttf), ttf)
    objs[9] = stream_obj(b"", c2g)
    spans = extract_realpdf(classic_pdf(objs))
    text = "\n".join(s.text for s in spans)
    assert "OK" in text, spans


def test_math_font_lines_become_formula_spans():
    """Lines set in a math face (Symbol/CMMI/CMSY/CMEX — subset-tagged
    too) classify as kind='formula', their own block, while surrounding
    prose stays paragraph. The equation is LARGER than body text to pin
    that the formula rule beats the heading rule."""
    content = (
        b"BT /F1 10 Tf 72 700 Td (the energy relation is shown below) Tj ET "
        b"BT /F2 14 Tf 200 670 Td (E = mc2 + p2c2) Tj ET "
        b"BT /F1 10 Tf 72 640 Td (which holds for a free particle) Tj ET"
    )
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R /F2 6 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    objs[6] = b"<</Type /Font /Subtype /Type1 /BaseFont /ABCDEF+CMMI10>>"
    spans = extract_realpdf(classic_pdf(objs))
    assert [s.kind for s in spans] == ["paragraph", "formula", "paragraph"], \
        [(s.kind, s.text) for s in spans]
    assert spans[1].text == "E = mc2 + p2c2"


def test_math_glyph_density_formula_without_math_font_name():
    """An embedded font whose name says nothing but whose ToUnicode maps
    to mathematical-operator glyphs classifies by glyph density."""
    cmap = (b"/CIDInit /ProcSet findresource begin\n1 begincmap\n"
            b"1 begincodespacerange\n<00> <ff>\nendcodespacerange\n"
            b"5 beginbfchar\n"
            b"<41> <2211>\n"   # A -> N-ary summation
            b"<42> <222B>\n"   # B -> integral
            b"<43> <2264>\n"   # C -> <=
            b"<44> <0078>\n"   # D -> x
            b"<45> <0079>\n"   # E -> y
            b"endbfchar\nendcmap")
    content = (
        b"BT /F1 10 Tf 72 700 Td (prose line before the equation) Tj ET "
        b"BT /F2 10 Tf 200 670 Td (ABCDE) Tj ET "
        b"BT /F1 10 Tf 72 640 Td (prose line after the equation) Tj ET"
    )
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R /F2 6 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = PDF_FONT
    objs[6] = b"<</Type /Font /Subtype /TrueType /BaseFont /EMBEDX /ToUnicode 7 0 R>>"
    objs[7] = stream_obj(b"", cmap)
    spans = extract_realpdf(classic_pdf(objs))
    assert [s.kind for s in spans] == ["paragraph", "formula", "paragraph"], \
        [(s.kind, s.text) for s in spans]
    assert spans[1].text == "∑∫≤xy"


def test_sparse_math_glyphs_in_prose_stay_paragraph():
    """A prose sentence that mentions one multiplication sign must not
    flip to formula (density threshold, not presence)."""
    cmap = (b"/CIDInit /ProcSet findresource begin\n1 begincmap\n"
            b"1 begincodespacerange\n<00> <ff>\nendcodespacerange\n"
            b"1 beginbfchar\n<2a> <00d7>\nendbfchar\nendcmap")
    content = b"BT /F2 10 Tf 72 700 Td (speedup of 4* on eight cores) Tj ET"
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F2 6 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[6] = b"<</Type /Font /Subtype /TrueType /BaseFont /EMBEDX /ToUnicode 7 0 R>>"
    objs[7] = stream_obj(b"", cmap)
    spans = extract_realpdf(classic_pdf(objs))
    assert [s.kind for s in spans] == ["paragraph"], [(s.kind, s.text) for s in spans]
