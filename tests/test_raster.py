"""Raster decode layer: from-scratch JPEG/GIF/BMP/WAV decoders + the
real-codec pixel-stats path (kernels/minijpeg.py, kernels/raster.py,
ops/multimodal.real_raster_stats).

Validation strategy mirrors the OCR pair: generator-side encoders
(corpus.render_text_jpeg, corpus.gif_encode/encode_bmp24) are independent
implementations of the same public specs the decoders parse, so a
round-trip equality is two implementations agreeing — plus carved JPEGs
and PNGs that no encoder of this repository wrote, as encoder-independent
inputs: `tests/data/jdk_imageio_media.docx` holds the JDK's javax.imageio
output (scripts/GenImageioMedia.java: 4:2:0/4:2:2/4:4:4/gray, restart
markers, progressive multi-scan; 1/4/8/16-bit, palette, RGBA and Adam7
PNGs). The reference's 7 sample documents are carved as well wherever
that corpus (REF_TEST) is mounted; beyond that they are checked only by
tests/test_real_documents.py and tests/test_parser_robustness.py."""

from __future__ import annotations

import glob
import os
import random
import struct

import pytest

from documentconvert_spark.corpus import (
    _lzw_encode,
    _render_text_grid,
    encode_bmp24,
    gif_encode,
    render_text_jpeg,
    render_text_tiff,
    tiff_encode,
)
from documentconvert_spark.kernels import limits
from documentconvert_spark.kernels.detect import extract_media_files
from documentconvert_spark.kernels.media import decode_wav_samples
from documentconvert_spark.kernels.minijpeg import decode_jpeg_gray, parse_jpeg_quant
from documentconvert_spark.kernels.miniocr import ocr_image_text
from documentconvert_spark.kernels.raster import (
    decode_bmp_gray,
    decode_gif_gray,
    decode_png_gray,
    decode_raster_gray,
    image_file_ref,
    sniff_image_meta,
)

REF_TEST = "/root/reference/test"
TEST_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# ------------------------------------------------------------------ helpers

def luma(r, g, b):
    return (r * 299 + g * 587 + b * 114) // 1000


def carved_real_images():
    out = []
    paths = sorted(glob.glob(os.path.join(REF_TEST, "*"))) + sorted(glob.glob(os.path.join(TEST_DATA, "*")))
    for p in paths:
        try:
            media = extract_media_files(open(p, "rb").read())
        except Exception:
            continue
        for name, blob in media:
            fmt, w, h = sniff_image_meta(blob)
            out.append((name, fmt, w, h, blob))
    return out


def test_xml_prolog_alone_is_not_svg():
    """An XHTML document is not an image: its XML prolog names SVG only
    when an <svg root follows in the first KiB, so the document gets no
    whole-document media row its spans never mention."""
    xhtml = (b'<?xml version="1.0" encoding="utf-8"?>\n'
             b"<html><body><p>An XHTML page with enough body text.</p></body></html>")
    assert sniff_image_meta(xhtml) == ("unknown", None, None)
    assert extract_media_files(xhtml) == []
    svg = b'<?xml version="1.0"?>\n<svg xmlns="http://www.w3.org/2000/svg" width="4" height="4"/>'
    assert sniff_image_meta(svg) == ("svg", None, None)
    assert extract_media_files(svg) == [(image_file_ref(svg, "svg"), svg)]


# ------------------------------------------------------------------ JPEG

@pytest.mark.parametrize("scale", [1, 2, 3])
def test_jpeg_text_render_round_trip(scale):
    lines = ["HELLO JPEG 123", "A-B+C=D? (OK!)"]
    data = render_text_jpeg(lines, scale=scale)
    w, h, rows = decode_jpeg_gray(data)
    gw, gh, grid = _render_text_grid(lines, scale, 8)
    assert (w, h) == (gw, gh)
    worst = max(abs(rows[y][x] - grid[y][x]) for y in range(h) for x in range(w))
    assert worst <= 2  # near-lossless: FDCT/IDCT rounding only


def test_jpeg_ocr_reads_exact_text():
    lines = ["MEMBER CARD 0042", "LEVEL = GOLD!"]
    assert ocr_image_text(render_text_jpeg(lines, scale=2), "jpeg") == lines


def test_jpeg_ocr_rejects_photo_quant_without_decoding():
    data = bytearray(render_text_jpeg(["AB"], scale=1))
    # find the DQT segment and raise one quant value past the gate
    i = data.index(b"\xff\xdb") + 5
    data[i + 10] = 16
    assert ocr_image_text(bytes(data), "jpeg") == []


def test_real_carved_jpegs_decode_to_sniffed_dims():
    """Encoder-independent inputs: every JPEG carved from the real-encoder
    containers (4:2:0, 4:2:2, 4:4:4, gray, restart-interval and progressive
    layouts) must decode with dims matching the SOF sniff."""
    jpegs = [t for t in carved_real_images() if t[1] == "jpeg"]
    assert len(jpegs) >= 5  # the containers ship several
    for name, _fmt, w, h, blob in jpegs:
        dw, dh, rows = decode_jpeg_gray(blob)
        assert (dw, dh) == (w, h), name
        assert len(rows) == dh and all(len(r) == dw for r in rows[:3])
        # luma means must be plausibly in-gamut, not constant garbage
        flat = [p for r in rows[:: max(1, dh // 16)] for p in r]
        assert 5 < sum(flat) / len(flat) < 250, name


def test_real_carved_pngs_decode():
    pngs = [t for t in carved_real_images() if t[1] == "png"]
    assert len(pngs) >= 10
    for name, _fmt, w, h, blob in pngs[:8]:  # cap: pure-Python unfilter cost
        dw, dh, rows = decode_png_gray(blob)
        assert (dw, dh) == (w, h), name


def test_jpeg_unsupported_frame_classes_raise():
    # progressive (SOF2) decodes since the Annex-G support landed
    # (tests/test_jpeg_progressive.py); lossless and arithmetic-coded
    # frames stay out of scope and must be contained, not garbled
    data = bytearray(render_text_jpeg(["AB"], scale=1))
    i = data.index(b"\xff\xc0")
    for sof in (0xC3, 0xC9, 0xCB):  # lossless, arith sequential, arith lossless
        data[i + 1] = sof
        with pytest.raises(ValueError, match="unsupported frame class"):
            decode_jpeg_gray(bytes(data))


def test_jpeg_truncated_scan_raises():
    data = render_text_jpeg(["HELLO WORLD THIS IS LONG"], scale=2)
    with pytest.raises(ValueError):
        decode_jpeg_gray(data[: len(data) // 2])


def test_jpeg_dims_over_cap_raise():
    data = bytearray(render_text_jpeg(["AB"], scale=1))
    i = data.index(b"\xff\xc0")
    struct.pack_into(">HH", data, i + 5, 60000, 60000)
    with pytest.raises(ValueError, match="cap"):
        decode_jpeg_gray(bytes(data))


def test_parse_jpeg_quant_reads_tables():
    q = parse_jpeg_quant(render_text_jpeg(["AB"]))
    assert list(q.keys()) == [0] and q[0] == [1] * 64


# ------------------------------------------------------------------ GIF

def test_gif_round_trip_with_dict_reset():
    rng = random.Random(11)
    w, h = 120, 90  # 10,800 px of 8-color noise: crosses several code
    # widths and (with structure) the 4096-entry dictionary reset
    pal = [(i * 31 % 256, i * 67 % 256, i * 13 % 256) for i in range(8)]
    idx = [rng.randrange(8) for _ in range(w * h)]
    gw, gh, rows = decode_gif_gray(gif_encode(w, h, idx, pal, min_code=3))
    assert (gw, gh) == (w, h)
    exp = [luma(*c) for c in pal]
    assert all(rows[y][x] == exp[idx[y * w + x]] for y in range(h) for x in range(w))


def test_gif_interlaced_round_trip():
    rng = random.Random(12)
    w, h = 33, 21
    pal = [(0, 0, 0), (255, 255, 255), (10, 200, 90), (240, 10, 120)]
    idx = [rng.randrange(4) for _ in range(w * h)]
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    idx_i = []
    for y in order:
        idx_i.extend(idx[y * w:(y + 1) * w])
    gw, gh, rows = decode_gif_gray(gif_encode(w, h, idx_i, pal, interlace=True, min_code=2))
    exp = [luma(*c) for c in pal]
    assert all(rows[y][x] == exp[idx[y * w + x]] for y in range(h) for x in range(w))


def test_gif_truncated_raises():
    pal = [(0, 0, 0), (255, 255, 255)]
    data = gif_encode(9, 7, [i % 2 for i in range(63)], pal, min_code=2)
    with pytest.raises(ValueError):
        decode_gif_gray(data[:20])
    with pytest.raises(ValueError, match="short pixel data"):
        # a stream carrying fewer pixels than the descriptor promises
        decode_gif_gray(gif_encode(9, 7, [i % 2 for i in range(40)], pal, min_code=2))


def test_gif_decoded_size_capped(monkeypatch):
    pal = [(0, 0, 0), (255, 255, 255)]
    data = gif_encode(100, 80, [0] * 8000, pal, min_code=2)
    monkeypatch.setattr(limits, "MAX_PIXELS", 1000)
    with pytest.raises(ValueError, match="cap"):
        decode_gif_gray(data)


# ------------------------------------------------------------------ BMP

def test_bmp24_round_trip():
    rng = random.Random(13)
    w, h = 31, 17
    pix = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(w)] for _ in range(h)]
    bw, bh, rows = decode_bmp_gray(encode_bmp24(w, h, pix))
    assert (bw, bh) == (w, h)
    assert all(rows[y][x] == luma(*pix[y][x]) for y in range(h) for x in range(w))


def test_bmp_palette_and_1bit():
    w, h = 19, 11
    paln = 5
    pal = [(i * 37 % 256, i * 11 % 256, i * 53 % 256) for i in range(paln)]
    idx = [(x + y) % paln for y in range(h) for x in range(w)]
    stride = ((8 * w + 31) // 32) * 4
    body = b""
    for y in range(h):  # top-down (negative height)
        line = bytes(idx[y * w:(y + 1) * w])
        body += line + b"\x00" * (stride - len(line))
    palbytes = b"".join(bytes((b, g, r, 0)) for r, g, b in pal)
    data = (b"BM" + struct.pack("<IHHI", 54 + len(palbytes) + len(body), 0, 0, 54 + len(palbytes))
            + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 8, 0, len(body), 0, 0, paln, 0)
            + palbytes + body)
    bw, bh, rows = decode_bmp_gray(data)
    exp = [luma(*c) for c in pal]
    assert all(rows[y][x] == exp[idx[y * w + x]] for y in range(h) for x in range(w))

    # 1-bit: vertical stripes
    w1, h1 = 13, 4
    stride1 = ((1 * w1 + 31) // 32) * 4
    row_bits = bytearray()
    for y in range(h1):
        line = bytearray(stride1)
        for x in range(w1):
            if x % 2:
                line[x // 8] |= 0x80 >> (x % 8)
        row_bits += line
    pal1 = b"\x00\x00\x00\x00\xff\xff\xff\x00"  # 0=black, 1=white
    data1 = (b"BM" + struct.pack("<IHHI", 54 + 8 + len(row_bits), 0, 0, 62)
             + struct.pack("<IiiHHIIiiII", 40, w1, -h1, 1, 1, 0, len(row_bits), 0, 0, 2, 0)
             + pal1 + row_bits)
    _, _, rows1 = decode_bmp_gray(data1)
    assert bytes(rows1[0]) == bytes([0, 255] * 7)[:w1]


def test_bmp_truncated_raises():
    pix = [[(1, 2, 3)] * 4] * 4
    data = encode_bmp24(4, 4, pix)
    with pytest.raises(ValueError):
        decode_bmp_gray(data[:30])
    with pytest.raises(ValueError, match="truncated pixel"):
        decode_bmp_gray(data[:-8])


# ------------------------------------------------------------------ TIFF
# Round-trips pair the generator-side encoders (corpus: independent TIFF
# 6.0 writers — LZW/PackBits/strip assembly) against the from-scratch
# decoder, same two-implementations strategy as GIF/BMP.

def test_tiff_text_lzw_predictor_round_trip():
    from documentconvert_spark.kernels.raster import decode_tiff_gray

    lines = ["CRATE 88 FRAGILE", "THIS SIDE UP"]
    data = render_text_tiff(lines, scale=2)
    gw, gh, grid = _render_text_grid(lines, 2, 8)
    w, h, rows = decode_tiff_gray(data)
    assert (w, h) == (gw, gh)
    assert all(bytes(rows[y]) == bytes(grid[y]) for y in range(h))
    fmt, *_ = decode_raster_gray(data)
    assert fmt == "tiff"


def test_tiff_palette_packbits_partial_strip(extra_doc):
    from documentconvert_spark.kernels.raster import decode_tiff_gray

    data = extra_doc("fixture_mosaic.tiff")  # 90×60, rps=13 → last strip holds 8 rows
    w, h, rows = decode_tiff_gray(data)
    assert (w, h) == (90, 60)
    # recompute expected luma through the 16-bit color map fold
    def pal_luma(i):
        r, gg, b = i, (i * 3) % 256, 255 - i
        return (r * 299 + gg * 587 + b * 114) // 1000
    for y in (0, 12, 13, 51, 59):  # strip starts/ends incl. partial last
        for x in (0, 1, 44, 89):
            idx = ((x // 6) * 16 + (y // 6)) % 256
            assert rows[y][x] == pal_luma(idx), (x, y)


def test_tiff_bilevel_polarities_and_rgb():
    from documentconvert_spark.kernels.raster import decode_tiff_gray

    w, h = 21, 6
    bits = bytearray()
    for y in range(h):
        line = bytearray((w + 7) // 8)
        for x in range(w):
            if (x + y) % 4 == 0:
                line[x >> 3] |= 1 << (7 - (x & 7))
        bits += line
    # photometric 0 (WhiteIsZero): set bit = black
    _, _, r0 = decode_tiff_gray(tiff_encode("<", w, h, 0, [bytes(bits)], h, bps=1))
    # photometric 1 (BlackIsZero): set bit = white
    _, _, r1 = decode_tiff_gray(tiff_encode(">", w, h, 1, [bytes(bits)], h, bps=1))
    for y in range(h):
        for x in range(w):
            lit = (x + y) % 4 == 0
            assert r0[y][x] == (0 if lit else 255)
            assert r1[y][x] == (255 if lit else 0)
    # chunky RGB, big-endian, uncompressed
    rgb = bytes(v for y in range(4) for x in range(5) for v in (x * 40, y * 50, 77))
    _, _, rr = decode_tiff_gray(tiff_encode(">", 5, 4, 2, [rgb], 4, spp=3))
    assert all(rr[y][x] == (x * 40 * 299 + y * 50 * 587 + 77 * 114) // 1000
               for y in range(4) for x in range(5))


def test_tiff_packbits_noop_byte():
    # 0x80 is a PackBits no-op — PDF RunLengthDecode treats it as EOD,
    # so reusing the realpdf RLE decoder would truncate this strip
    from documentconvert_spark.kernels.raster import _packbits

    assert _packbits(b"\x80\x02abc\x80\xfeZ", 64) == b"abcZZZ"
    with pytest.raises(ValueError, match="over cap"):
        _packbits(b"\x81a" * 100, 50)


def test_tiff_malformed_contained():
    from documentconvert_spark.kernels.raster import decode_tiff_gray

    good = render_text_tiff(["OK 1"], scale=2)
    with pytest.raises(ValueError, match="magic"):
        decode_tiff_gray(b"II+\x00" + good[4:])
    with pytest.raises(ValueError, match="truncated IFD"):
        decode_tiff_gray(good[:4] + struct.pack(">I", len(good) + 9999) + good[8:])
    raw = bytes(range(16)) * 2
    with pytest.raises(ValueError, match="compression"):
        decode_tiff_gray(tiff_encode("<", 8, 4, 1, [raw], 4, comp=6))
    with pytest.raises(ValueError, match="short strip"):
        decode_tiff_gray(tiff_encode("<", 8, 5, 1, [raw], 5))
    with pytest.raises(ValueError, match="dimensions over cap"):
        decode_tiff_gray(tiff_encode("<", 1 << 16, 1 << 16, 1, [raw], 4))
    # strip offset past EOF: counts say more bytes than the file holds
    bad = bytearray(tiff_encode("<", 8, 4, 1, [raw], 4))
    bad_tag = bad.find(struct.pack("<HH", 279, 4))
    struct.pack_into("<I", bad, bad_tag + 8, 1 << 24)
    with pytest.raises(ValueError, match="strip out of file"):
        decode_tiff_gray(bytes(bad))


def test_tiff_lzw_strip_cap_and_aliased_strips():
    # strip offsets are file-controlled and may alias one high-expansion
    # LZW blob across many strips; the per-strip cap must stop each
    # decode at the strip's exact raster size (review finding)

    from documentconvert_spark.kernels.raster import decode_tiff_gray

    blob = _lzw_encode(bytes(100_000))  # expands far past any strip
    data = tiff_encode("<", 8, 4, 1, [blob] * 4, 1, comp=5)
    with pytest.raises(ValueError, match="over cap"):
        decode_tiff_gray(data)


def test_tiff_ocr_pre_gates(extra_doc):
    # palette photo TIFF bails on the ColorMap alone (no strip decode);
    # gray photo TIFF aborts at the first mid-gray strip
    from documentconvert_spark.kernels.miniocr import _header_admits_text
    from documentconvert_spark.kernels.raster import decode_tiff_gray

    mosaic = extra_doc("fixture_mosaic.tiff")
    assert not _header_admits_text(mosaic, "tiff")
    assert ocr_image_text(mosaic, "tiff") == []
    # gray gradient in 1-row strips: bilevel decode must abort early
    w, h = 64, 64
    strips = [bytes((x * 4) % 256 for x in range(w)) for _ in range(h)]
    gray_photo = tiff_encode("<", w, h, 1, strips, 1)
    with pytest.raises(ValueError, match="not a bilevel"):
        decode_tiff_gray(gray_photo, bilevel=True)
    assert ocr_image_text(gray_photo, "tiff") == []
    # and a clean text render still OCRs through the gated path
    assert ocr_image_text(render_text_tiff(["GATE OK 1"], scale=2), "tiff") == ["GATE OK 1"]


def test_tiff_ocr_through_image_dispatch(extra_doc):
    from documentconvert_spark.kernels.detect import extract

    data = render_text_tiff(["DOCK 9 BAY 4"], scale=3)
    assert ocr_image_text(data, "tiff") == ["DOCK 9 BAY 4"]
    spans = extract("image", data)
    assert [s.kind for s in spans] == ["figure", "paragraph"]
    assert spans[1].text == "DOCK 9 BAY 4"
    # the photo-like palette TIFF decodes but stays figure-only
    assert [s.kind for s in extract("image", extra_doc("fixture_mosaic.tiff"))] == ["figure"]


# ------------------------------------------------------------------ WAV

def test_wav_pcm16_stereo_mono_mix():
    import array

    sr, n = 8000, 500
    left = [1000 + i for i in range(n)]
    right = [-1000 - i for i in range(n)]
    inter = array.array("h")
    for a, b in zip(left, right):
        inter.append(a)
        inter.append(b)
    body = inter.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, sr, sr * 4, 4, 16)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(body)) + body)
    rate, ch, mono = decode_wav_samples(wav)
    assert (rate, ch, len(mono)) == (sr, 2, n)
    assert all(v == 0 for v in mono)  # L and R cancel


def test_wav_pcm8_recentring():
    body = bytes([0, 128, 255])
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(body)) + body)
    _, _, mono = decode_wav_samples(wav)
    assert list(mono) == [-32768, 0, 32512]


def test_wav_non_pcm_raises():
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # IEEE float
    wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", 0))
    with pytest.raises(ValueError, match="non-PCM"):
        decode_wav_samples(wav)


# ------------------------------------------------------------------ router + codec path

def test_router_covers_four_formats_and_rejects_rest():
    pal = [(0, 0, 0), (255, 255, 255)]
    fmt, _, _, _ = decode_raster_gray(gif_encode(6, 4, [0, 1] * 12, pal, min_code=2))
    assert fmt == "gif"
    fmt, _, _, _ = decode_raster_gray(encode_bmp24(4, 4, [[(9, 9, 9)] * 4] * 4))
    assert fmt == "bmp"
    fmt, _, _, _ = decode_raster_gray(render_text_jpeg(["HI"]))
    assert fmt == "jpeg"
    from documentconvert_spark.corpus import render_text_png

    fmt, _, _, _ = decode_raster_gray(render_text_png(["HI"]))
    assert fmt == "png"
    with pytest.raises(ValueError, match="no pixel decoder"):
        decode_raster_gray(b"\xd7\xcd\xc6\x9a" + bytes(60))  # WMF


def test_codec_decode_image_and_audio_paths():
    from documentconvert_spark.kernels.media import decode_audio, decode_video

    _fmt, w, h, rows = decode_raster_gray(render_text_jpeg(["HI"]))
    assert w > 0 and len(rows) == h
    body = struct.pack("<4h", 1, 2, 3, 4)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(body)) + body)
    sr, ch, mono = decode_audio(wav)
    assert sr == 8000 and list(mono) == [1, 2, 3, 4]
    from documentconvert_spark.corpus import render_avi

    grids = [[bytearray([255] * 16) for _ in range(8)] for _ in range(2)]
    w, h, frames = decode_video(render_avi(16, 8, grids, fps=4))
    assert (w, h, len(frames)) == (16, 8, 2)
    with pytest.raises(ValueError):
        decode_video(b"anything")


def test_real_raster_stats_spark(spark):
    """The contract query's op end-to-end on a small raw frame: decodable
    image docs get stats rows, an undecodable format becomes an error
    row, nothing throws."""
    from documentconvert_spark.ops.multimodal import extract_real_media, real_raster_stats

    pal = [(0, 0, 0), (255, 255, 255)]
    docs = [
        ("d-jpg", render_text_jpeg(["SPARK ROW"])),
        ("d-gif", gif_encode(10, 8, [0, 1] * 40, pal, min_code=2)),
        ("d-wmf", b"\xd7\xcd\xc6\x9a" + bytes(80)),
    ]
    raw = spark.createDataFrame(docs, "doc_id string, content binary")
    out = real_raster_stats(extract_real_media(raw)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id["d-jpg"]["error"] is None and by_id["d-jpg"]["format"] == "jpeg"
    assert by_id["d-gif"]["error"] is None
    assert 0.0 <= by_id["d-gif"]["dark_frac"] <= 1.0
    assert by_id["d-wmf"]["error"] is not None and by_id["d-wmf"]["width"] is None


def test_bmp_rle8_and_rle4():
    from documentconvert_spark.kernels.raster import decode_bmp_gray

    def hdr(w, h, bpp, comp, pal_rgb, body):
        palbytes = b"".join(bytes((b, g, r, 0)) for r, g, b in pal_rgb)
        off = 54 + len(palbytes)
        return (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
                + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                              len(body), 0, 0, len(pal_rgb), 0)
                + palbytes + body)

    pal = [(0, 0, 0), (255, 255, 255), (100, 100, 100), (40, 200, 90)]
    lum = [0, 255, 100, (40 * 299 + 200 * 587 + 90 * 114) // 1000]
    # RLE8 over a 7x3 image (bottom-up): runs + absolute + EOL + delta
    body8 = bytes([
        3, 1,                 # bottom row: 1,1,1
        0, 3, 2, 3, 2, 0x00,  # absolute: 2,3,2 (padded to word)
        0, 0,                 # end of line
        0, 2, 2, 0,           # delta: skip 2 right (stay on row 1)
        5, 3,                 # 3,3,3,3,3
        0, 0,                 # end of line
        7, 2,                 # top row: 2 x7
        0, 1,                 # end of bitmap
    ])
    w, h, rows = decode_bmp_gray(hdr(7, 3, 8, 1, pal, body8))
    assert (w, h) == (7, 3)
    assert list(rows[0]) == [lum[2]] * 7                        # top row
    assert list(rows[1]) == [lum[0]] * 2 + [lum[3]] * 5         # delta skips -> 0
    assert list(rows[2]) == [lum[1]] * 3 + [lum[2], lum[3], lum[2], lum[0]]
    # RLE4: runs alternate the two nibbles; absolute packs two per byte
    body4 = bytes([
        4, 0x12,              # 1,2,1,2
        0, 3, 0x31, 0x30,     # absolute 3,1,3 (2 nibble-bytes, word-aligned)
        0, 0,
        3, 0x30,              # row 0 (top of 2): 3,0,3
        0, 1,
    ])
    w4, h4, rows4 = decode_bmp_gray(hdr(7, 2, 4, 2, pal, body4))
    assert list(rows4[1]) == [lum[1], lum[2], lum[1], lum[2],
                              lum[3], lum[1], lum[3]]
    assert list(rows4[0]) == [lum[3], lum[0], lum[3]] + [lum[0]] * 4
    # malformed shapes are contained
    with pytest.raises(ValueError, match="invalid RLE shape"):
        decode_bmp_gray(hdr(4, 4, 4, 1, pal, b"\x00\x01"))  # RLE8 needs 8bpp
    with pytest.raises(ValueError, match="truncated RLE"):
        decode_bmp_gray(hdr(4, 4, 8, 1, pal, bytes([0, 2, 1])))
    with pytest.raises(ValueError, match="out of palette"):
        decode_bmp_gray(hdr(4, 4, 8, 1, pal, bytes([2, 9, 0, 1])))


def test_bmp_rle_missing_eod_is_truncated():
    # a stream that runs out without the end-of-bitmap escape must raise,
    # not fabricate an all-palette[0] image (review finding)
    from documentconvert_spark.kernels.raster import decode_bmp_gray

    pal = [(0, 0, 0), (255, 255, 255)]
    palbytes = b"".join(bytes((b, g, r, 0)) for r, g, b in pal)
    off = 54 + len(palbytes)
    for body in (b"", bytes([3, 1, 0, 0])):  # empty / cut before EOD
        data = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
                + struct.pack("<IiiHHIIiiII", 40, 4, 3, 1, 8, 1,
                              len(body), 0, 0, 2, 0)
                + palbytes + body)
        with pytest.raises(ValueError, match="truncated pixel data"):
            decode_bmp_gray(data)


def test_dhash64_determinism_and_bounds():
    from documentconvert_spark.kernels.raster import dhash64

    rows = [bytearray(min(255, 40 + 2 * x + y) for x in range(64)) for y in range(48)]
    h1 = dhash64(64, 48, rows)
    assert h1 == dhash64(64, 48, [bytearray(r) for r in rows])  # pure fn
    assert -(1 << 63) <= h1 < 1 << 63  # int64-safe
    # a local edit flips few bits; an unrelated image flips many
    mod = [bytearray(r) for r in rows]
    for y in range(4, 10):
        for x in range(4, 12):
            mod[y][x] = 255
    flipped = bin((h1 ^ dhash64(64, 48, mod)) & ((1 << 64) - 1)).count("1")
    assert 1 <= flipped <= 6
    other = [bytearray(255 - v for v in r) for r in rows]
    far = bin((h1 ^ dhash64(64, 48, other)) & ((1 << 64) - 1)).count("1")
    assert far > 20
    with pytest.raises(ValueError, match="smaller than"):
        dhash64(8, 4, [bytearray(8)] * 4)


def test_dhash64_matches_scalar_reference():
    """The array dhash (int64 reduceat cell sums) equals the per-cell
    Python-int loop it replaced, on random rasters whose sizes do not
    divide evenly into the 9×8 grid — including all-255 rasters, where
    a cell sum overflows any 16-bit accumulator."""
    import numpy as np

    from documentconvert_spark.kernels.raster import dhash64

    def reference(w, h, rows):
        cells = []
        for gy in range(8):
            y0, y1 = gy * h // 8, (gy + 1) * h // 8
            crow = []
            for gx in range(9):
                x0, x1 = gx * w // 9, (gx + 1) * w // 9
                s = sum(int(v) for yy in range(y0, y1) for v in rows[yy][x0:x1])
                crow.append(s // ((y1 - y0) * (x1 - x0)))
            cells.append(crow)
        bits = 0
        for gy in range(8):
            for gx in range(8):
                bits = (bits << 1) | (1 if cells[gy][gx] > cells[gy][gx + 1] else 0)
        return bits - (1 << 64) if bits >= 1 << 63 else bits

    rng = np.random.default_rng(5)
    for w, h in ((9, 8), (10, 9), (37, 23), (64, 48), (301, 73)):
        gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        assert dhash64(w, h, gray) == reference(w, h, gray.tolist())
    full = np.full((300, 300), 255, dtype=np.uint8)
    assert dhash64(300, 300, full) == reference(300, 300, full.tolist()) == 0


def test_pixel_golden_matches_source_derived_stats():
    """expected_real_pixels.parquet is decoder-generated; this pins it to
    stats derived purely from the SOURCE rasters the fixture generator
    renders (gen_extra_fixtures.source_pixel_stats), breaking the
    self-referential oracle loop the r3 advice flagged: a decoder bug can
    no longer hide by re-baselining the golden."""
    import pyarrow.parquet as pq

    from scripts.gen_extra_fixtures import source_pixel_stats

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    t = pq.read_table(os.path.join(
        repo, "documentconvert_spark", "resources", "expected_real_pixels.parquet"
    )).to_pydict()
    expected = source_pixel_stats()
    assert len(expected) >= 12
    seen = set()
    for i, doc_id in enumerate(t["doc_id"]):
        if doc_id not in expected:
            continue
        seen.add(doc_id)
        src_mean, src_dark, exact = expected[doc_id]
        assert t["error"][i] is None, (doc_id, t["error"][i])
        if exact:
            assert t["mean_luma"][i] == src_mean, doc_id
            assert t["dark_frac"][i] == src_dark, doc_id
        else:  # DCT JPEGs: near-lossless round-trip
            assert abs(t["mean_luma"][i] - src_mean) <= 1.5, doc_id
            assert abs(t["dark_frac"][i] - src_dark) <= 0.02, doc_id
    assert seen == set(expected)
