"""Decompression-expansion guards (kernels/limits.py).

C7 containment (reference document_service.py:334-383) turns exceptions
into error rows — but a decompression bomb is an *allocation*, not an
exception: unguarded, a crafted doc OOM-kills the executor JVM. These
tests pin that every expanding decode raises a normal ValueError at the
cap instead.
"""

from __future__ import annotations

import io
import time
import zipfile
import zlib

import pytest

from documentconvert_spark.corpus import PDF_FONT, classic_pdf, page_tree
from documentconvert_spark.kernels import limits
from documentconvert_spark.kernels.limits import inflate_capped, zip_read_capped
from documentconvert_spark.kernels.realpdf import (
    _png_unpredict,
    _rle_decode,
    extract_realpdf,
)


def test_inflate_roundtrip_under_cap():
    data = b"ordinary document bytes " * 100
    assert inflate_capped(zlib.compress(data)) == data


def test_inflate_bomb_raises(monkeypatch):
    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 4096)
    bomb = zlib.compress(bytes(1 << 20))  # 1 MiB of zeros, ~1 KiB packed
    with pytest.raises(ValueError, match="cap"):
        inflate_capped(bomb, "test flate")
    # exactly at the cap is fine
    assert inflate_capped(zlib.compress(bytes(4096))) == bytes(4096)


def test_inflate_truncated_stream_raises():
    """A truncated Flate stream must raise (as plain zlib.decompress does),
    not silently return partial data — partial text would emit spans a
    complete parse never produces."""
    comp = zlib.compress(b"full document content " * 200)
    with pytest.raises(ValueError, match="truncated"):
        inflate_capped(comp[: len(comp) // 2], "test flate")
    # trailing garbage after a complete stream stays tolerated
    assert inflate_capped(comp + b"garbage") == b"full document content " * 200


def test_zip_media_one_bomb_member_keeps_the_rest(monkeypatch):
    """Per-member containment: one over-cap image must not drop the
    document's other media (mirrors _pdf_media's per-item handling)."""
    from documentconvert_spark.kernels.detect import _zip_media

    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 4096)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("word/media/image1.png", b"ok-bytes")
        z.writestr("word/media/bomb.png", bytes(1 << 20))
        z.writestr("word/media/image2.png", b"more-bytes")
    got = _zip_media(buf.getvalue())
    assert [(n, b) for n, b in got] == [
        ("image1.png", b"ok-bytes"),
        ("image2.png", b"more-bytes"),
    ]


def test_zip_member_bomb_raises(monkeypatch):
    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 4096)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("ok.xml", b"<a/>")
        z.writestr("bomb.xml", bytes(1 << 20))
    z = zipfile.ZipFile(io.BytesIO(buf.getvalue()))
    assert zip_read_capped(z, "ok.xml") == b"<a/>"
    with pytest.raises(ValueError, match="cap"):
        zip_read_capped(z, "bomb.xml")


def test_image_and_audio_decoders_read_the_cap_at_call_time(monkeypatch):
    """The raster and FLAC decoders read limits.MAX_DECODED_BYTES when
    they run, so lowering it reaches them as it reaches realpdf."""
    from documentconvert_spark.corpus import encode_bmp24, encode_flac
    from documentconvert_spark.kernels.miniflac import decode_flac_samples
    from documentconvert_spark.kernels.raster import decode_bmp_gray

    bmp = encode_bmp24(64, 64, [[(200, 100, 50)] * 64] * 64)
    flac = encode_flac(8000, [[(i * 37) % 2000 - 1000 for i in range(512)]])
    assert decode_bmp_gray(bmp)[:2] == (64, 64)
    assert len(decode_flac_samples(flac)[2]) == 512
    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 100)
    with pytest.raises(ValueError, match="bmp: dimensions over cap"):
        decode_bmp_gray(bmp)
    with pytest.raises(ValueError, match="flac: decoded samples over cap"):
        decode_flac_samples(flac)


def test_rle_bomb_raises(monkeypatch):
    monkeypatch.setattr(limits, "MAX_DECODED_BYTES", 4096)
    # each \x81<byte> pair expands to 128 bytes; 64 pairs = 8 KiB > cap
    with pytest.raises(ValueError, match="cap"):
        _rle_decode(b"\x81A" * 64 + b"\x80")


def test_png_predictor_row_wider_than_stream_raises():
    # /Columns is file-controlled: a crafted 2^30 value must not become
    # a multi-GB prev-row allocation
    with pytest.raises(ValueError, match="predictor"):
        _png_unpredict(b"\x00\x01\x02\x03", colors=4, columns=1 << 30)


def test_asciihex_odd_digit_implies_trailing_zero():
    # ISO 32000 §7.4.2: an odd final digit decodes as <digit>0
    content = b"BT /F1 10 Tf 72 700 Td (odd hex tail) Tj ET "  # ends 0x20
    hexed = content.hex().encode()
    assert hexed.endswith(b"0")
    odd = hexed[:-1] + b">"  # drop the implied 0 -> odd digit count
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = b"<</Filter /ASCIIHexDecode /Length %d>>\nstream\n%s\nendstream" % (
        len(odd),
        odd,
    )
    objs[5] = PDF_FONT
    spans = extract_realpdf(classic_pdf(objs))
    assert spans and spans[0].text == "odd hex tail"


def test_xml_entity_bomb_contained():
    """Billion-laughs inside word/document.xml: bundled expat >= 2.4 caps
    entity amplification and raises a normal ParseError (contained by the
    UDF layer). Pin it so an expat downgrade can't silently reopen this."""
    from documentconvert_spark.kernels.miniooxml import extract_docx

    bomb = (
        '<?xml version="1.0"?><!DOCTYPE a [<!ENTITY e0 "xxxxxxxxxx">'
        + "".join(
            f'<!ENTITY e{i + 1} "{"&e%d;" % i * 8}">' for i in range(12)
        )
        + "]><a>&e12;</a>"
    ).encode()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", bomb)
    t0 = time.thread_time()
    with pytest.raises(Exception):
        extract_docx(buf.getvalue())
    # THIS THREAD's CPU time, not wall or process time: process_time sums
    # every thread plus kernel page-reclaim work charged to the process,
    # which under a co-running Spark job inflated a 0.6 s decode to 35 s
    # of accounted CPU (r4). thread_time isolates the decode's own cost.
    assert time.thread_time() - t0 < 5.0


def test_pdf_double_flate_bomb_contained():
    """A filter-chain bomb ([/FlateDecode /FlateDecode] over 512 MiB of
    zeros, ~2 KiB on the wire) must error out promptly at the real cap."""
    inner = zlib.compress(bytes(1 << 29), 9)
    wire = zlib.compress(inner, 9)
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = b"<</Filter [/FlateDecode /FlateDecode] /Length %d>>\nstream\n%s\nendstream" % (
        len(wire),
        wire,
    )
    objs[5] = PDF_FONT
    t0 = time.thread_time()
    # the per-page decode guard contains the ValueError into a skipped
    # page, so a bomb-only PDF extracts to zero spans — what matters is
    # that it never inflates the 512 MiB and returns promptly
    try:
        spans = extract_realpdf(classic_pdf(objs))
        assert spans == []
    except Exception:
        pass
    # THIS THREAD's CPU time (see test_docx_entity_bomb_is_contained):
    # isolation cost is ~0.6 s; 10 s still catches an uncontained blowup
    # while ignoring other threads' and the kernel's reclaim accounting.
    assert time.thread_time() - t0 < 10.0
