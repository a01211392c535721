"""WebP lossless (VP8L) decode — kernels/miniwebp.py.

Validation strategy mirrors the other raster pairs: the generator-side
encoder (corpus.encode_vp8l) is an independent
implementation of the public WebP Lossless Bitstream Specification —
prefix-code headers (simple and code-length-coded with 17/18 zero
repeats), LZ77 same-pixel runs, the color cache, and forward versions
of all four transforms — so pixel-exact round-trips pin the decoder
against a second implementation of the same spec, shape by shape.
"""

from __future__ import annotations

import random
import struct

import pytest

from documentconvert_spark.corpus import (
    _WpBits,
    _wp_prefix,
    _wp_write_code,
    encode_vp8l,
    render_text_webp,
)
from documentconvert_spark.kernels.miniwebp import decode_vp8l
from documentconvert_spark.kernels.raster import decode_webp_gray


def _roundtrip(w, h, argb, **kw):
    data = encode_vp8l(w, h, argb, **kw)
    (ln,) = struct.unpack_from("<I", data, 16)
    dw, dh, pix = decode_vp8l(data[20:20 + ln])
    assert (dw, dh) == (w, h)
    return pix.tolist()


@pytest.mark.parametrize("w,h", [(1, 1), (8, 5), (31, 17), (64, 64)])
def test_literal_round_trip(w, h):
    rng = random.Random(w * 100 + h)
    argb = [0xFF000000 | rng.getrandbits(24) for _ in range(w * h)]
    assert _roundtrip(w, h, argb) == argb


def test_alpha_channel_round_trip():
    rng = random.Random(3)
    argb = [(rng.getrandbits(8) << 24) | rng.getrandbits(24) for _ in range(12 * 9)]
    assert _roundtrip(12, 9, argb) == argb


@pytest.mark.parametrize("kw", [
    dict(lz77=True),
    dict(cache_bits=4),
    dict(cache_bits=6, lz77=True),
    dict(subtract_green=True),
    dict(subtract_green=True, cache_bits=4, lz77=True),
])
def test_lz77_cache_subtract_green(kw):
    w, h = 50, 20
    argb = [0xFF000000 | (0xFFFFFF if (x // 9 + y // 7) % 2 else 0x102030)
            for y in range(h) for x in range(w)]
    assert _roundtrip(w, h, argb, **kw) == argb


@pytest.mark.parametrize("ncol", [2, 3, 4, 9, 16, 40])
def test_palette_all_bundling_widths(ncol):
    rng = random.Random(ncol)
    pal = list(dict.fromkeys(0xFF000000 | rng.getrandbits(24) for _ in range(ncol)))
    argb = [pal[rng.randrange(len(pal))] for _ in range(37 * 11)]
    assert _roundtrip(37, 11, argb, palette=pal) == argb


@pytest.mark.parametrize("mode", list(range(14)))
def test_every_predictor_mode(mode):
    rng = random.Random(40 + mode)
    argb = [0xFF000000 | rng.getrandbits(24) for _ in range(23 * 14)]
    assert _roundtrip(23, 14, argb, predictor_mode=mode) == argb


@pytest.mark.parametrize("deltas", [(0, 0, 0), (16, 240, 100), (255, 1, 128)])
def test_color_transform(deltas):
    rng = random.Random(sum(deltas))
    argb = [0xFF000000 | rng.getrandbits(24) for _ in range(20 * 12)]
    assert _roundtrip(20, 12, argb, color_deltas=deltas) == argb


def test_neighbor_distance_map():
    # hand-check the 2D distance mapping against the spec table: code 1
    # is the pixel above (dist = width), code 2 the previous pixel
    from documentconvert_spark.kernels.miniwebp import _DIST_MAP

    assert _DIST_MAP[0] == (0, 1)
    assert _DIST_MAP[1] == (1, 0)
    assert _DIST_MAP[119] == (8, 7)
    assert len(_DIST_MAP) == 120
    assert len(set(_DIST_MAP)) == 120


def test_ocr_end_to_end_and_dispatch(extra_doc):
    from documentconvert_spark.kernels.detect import extract
    from documentconvert_spark.kernels.miniocr import ocr_image_text

    data = render_text_webp(["DOCK GATE 12"], scale=3)
    assert ocr_image_text(data, "webp") == ["DOCK GATE 12"]
    spans = extract("image", data)
    assert [s.kind for s in spans] == ["figure", "paragraph"]
    assert spans[1].text == "DOCK GATE 12"
    # the photo-like palette swatch decodes but stays figure-only
    assert [s.kind for s in extract("image", extra_doc("fixture_swatch.webp"))] == ["figure"]


def test_gray_route_through_raster_router():
    from documentconvert_spark.kernels.raster import decode_raster_gray

    w, h = 16, 8
    argb = [0xFF000000 | (v << 16) | (v << 8) | v
            for v in (x * 16 % 256 for _ in range(h) for x in range(w))]
    fmt, dw, dh, rows = decode_raster_gray(encode_vp8l(w, h, argb))
    assert (fmt, dw, dh) == ("webp", w, h)
    assert all(rows[y][x] == (argb[y * w + x] >> 8) & 0xFF
               for y in range(h) for x in range(w))


def test_malformed_contained():
    argb = [0xFF000000 | (i * 11 % 0xFFFFFF) for i in range(64)]
    data = encode_vp8l(8, 8, argb, cache_bits=3, lz77=True)
    # truncations anywhere must raise, never hang or garble
    for cut in (12, 21, 25, len(data) - 3):
        with pytest.raises(ValueError):
            decode_webp_gray(data[:cut])
    # lossy VP8 is contained, not misparsed
    lossy = bytearray(data)
    lossy[12:16] = b"VP8 "
    with pytest.raises(ValueError, match="lossy"):
        decode_webp_gray(bytes(lossy))
    with pytest.raises(ValueError, match="container"):
        decode_webp_gray(b"RIFF\x00\x00\x00\x00WAVE")
    # dimension cap charged before any pixel work
    big = bytearray(data)
    # width-1/height-1 are the 28 bits after the 8-bit signature
    (ln,) = struct.unpack_from("<I", big, 16)
    payload = bytearray(big[20:20 + ln])
    packed = payload[1] | (payload[2] << 8) | (payload[3] << 16) | (payload[4] << 24)
    packed = (packed & ~((1 << 28) - 1)) | (0x3FFF | (0x3FFF << 14))
    payload[1:5] = packed.to_bytes(4, "little")
    with pytest.raises(ValueError, match="over cap"):
        decode_vp8l(bytes(payload))


def test_top_right_rule_at_rightmost_column():
    # spec §5: TR is taken from the CONTIGUOUS buffer, so at x == w-1 it
    # is the current row's already-decoded leftmost pixel — NOT T. Built
    # by hand (not via the encoder) so the rule is pinned independently.
    bits = _WpBits()
    bits.put(0x2F, 8)
    bits.put(1, 14)  # w=2
    bits.put(1, 14)  # h=2
    bits.put(0, 1)
    bits.put(0, 3)
    bits.put(1, 1)  # transform present
    bits.put(0, 2)  # PREDICTOR
    bits.put(2, 3)  # size_bits = 4 -> one tile
    # tile image: single pixel, green = mode 3 (top-right)
    bits.put(0, 1)  # no cache
    for lens, alph in [({3: 1}, 280), ({0: 1}, 256), ({0: 1}, 256),
                       ({0xFF: 1}, 256), ({0: 1}, 40)]:
        _wp_write_code(bits, lens, alph)
    # main image: literal residuals, greens distinct per pixel
    bits.put(0, 1)  # end of transforms
    bits.put(0, 1)  # no cache
    bits.put(0, 1)  # no meta
    gc = _wp_write_code(bits, {10: 2, 20: 2, 30: 2, 40: 2}, 280)
    rc = _wp_write_code(bits, {0: 1}, 256)
    bc = _wp_write_code(bits, {0: 1}, 256)
    ac = _wp_write_code(bits, {0: 1}, 256)
    _wp_write_code(bits, {0: 1}, 40)
    for green in (10, 20, 30, 40):
        bits.code(*gc[green])
        bits.code(*rc[0])
        bits.code(*bc[0])
        bits.code(*ac[0])
    _w, _h, pix = decode_vp8l(bits.done())
    assert pix[0] == 0xFF000000 | (10 << 8)  # (0,0): pred 0xFF000000
    p01_g = (10 + 20) & 0xFF                 # (1,0): pred = left
    assert (pix[1] >> 8) & 0xFF == p01_g
    p10_g = (((pix[0] >> 8) & 0xFF) + 30) & 0xFF  # (0,1): pred = top
    assert (pix[2] >> 8) & 0xFF == p10_g
    # (1,1) with mode 3: TR = pix[i-w+1] = pix[2] (row-1 leftmost),
    # NOT pix[1] (T) — the rule under test
    want = (((pix[2] >> 8) & 0xFF) + 40) & 0xFF
    assert (pix[3] >> 8) & 0xFF == want


def test_simple_code_two_symbols_canonical_order():
    # the spec builds simple 2-symbol codes canonically from the code
    # lengths: bit 0 belongs to the SMALLER symbol even when the larger
    # one is transmitted first
    bits = _WpBits()
    bits.put(0x2F, 8)
    bits.put(1, 14)  # w=2
    bits.put(0, 14)  # h=1
    bits.put(0, 1)
    bits.put(0, 3)
    bits.put(0, 1)  # no transforms
    bits.put(0, 1)  # no cache
    bits.put(0, 1)  # no meta
    # green: simple code, 2 symbols, transmitted as (200, 10)
    bits.put(1, 1)
    bits.put(1, 1)
    bits.put(1, 1)   # first symbol in 8 bits
    bits.put(200, 8)
    bits.put(10, 8)
    for lens, alph in [({0: 1}, 256), ({0: 1}, 256), ({0xFF: 1}, 256),
                       ({0: 1}, 40)]:
        _wp_write_code(bits, lens, alph)
    bits.put(0, 1)  # green bit 0 -> smaller symbol (10)
    bits.put(1, 1)  # green bit 1 -> larger symbol (200)
    _w, _h, pix = decode_vp8l(bits.done())
    assert [(p >> 8) & 0xFF for p in pix] == [10, 200]


def test_lz77_reference_before_start_contained():
    # handcraft: literal then a copy with distance 2 (only 1 pixel out)
    bits = _WpBits()
    bits.put(0x2F, 8)
    bits.put(3, 14)  # w=4
    bits.put(0, 14)  # h=1
    bits.put(0, 1)
    bits.put(0, 3)
    bits.put(0, 1)  # no transforms
    bits.put(0, 1)  # no cache
    bits.put(0, 1)  # no meta
    # green code: simple, 2 symbols: 0 (literal green 0) and 257 -> but
    # 257 >= 256 needs the normal path; use code-length coding via the
    # generator writer
    dsym, dnbits, dextra = _wp_prefix(130)  # dist code 130 -> dist 10
    gc = _wp_write_code(bits, {0: 1, 257: 1}, 280)
    rc = _wp_write_code(bits, {0: 1}, 256)
    bc = _wp_write_code(bits, {0: 1}, 256)
    ac = _wp_write_code(bits, {0xFF: 1}, 256)
    dc = _wp_write_code(bits, {dsym: 1}, 40)
    bits.code(*gc[0])      # one literal pixel
    bits.code(*rc[0])
    bits.code(*bc[0])
    bits.code(*ac[0xFF])
    bits.code(*gc[257])    # length sym 1 -> length 2
    bits.code(*dc[dsym])   # distance 10 with only 1 pixel produced
    bits.put(dextra, dnbits)
    with pytest.raises(ValueError, match="LZ77 reference out of range"):
        decode_vp8l(bits.done())
