"""Progressive JPEG (SOF2, T.81 Annex G) decode — kernels/minijpeg.py.

Validation strategy: the generator-side progressive emitter
(corpus.encode_gray_jpeg_progressive) serializes the SAME quantized
coefficients as the baseline emitter through the Annex-G scan script
(spectral selection + successive approximation, EOB runs, correction
bits), so `decode(progressive) == decode(baseline)` pixel-exact isolates
the new progressive entropy decoding from the shared DCT math — which is
already pinned against real camera JPEGs. The reference's image route
accepts arbitrary real-world jpg (`services/document_service.py:652-665`),
where progressive encoding is ubiquitous (default web export).
"""

from __future__ import annotations

import random
import struct

import pytest

from documentconvert_spark.corpus import (
    _render_text_grid,
    encode_gray_jpeg,
    encode_gray_jpeg_progressive,
)
from documentconvert_spark.kernels.minijpeg import decode_jpeg_gray


def _rand_img(w: int, h: int, seed: int) -> list[bytearray]:
    rng = random.Random(seed)
    return [bytearray(rng.randrange(256) for _ in range(w)) for _ in range(h)]


@pytest.mark.parametrize("w,h,seed", [
    (8, 8, 1),       # single block
    (23, 9, 2),      # partial blocks both axes
    (64, 48, 3),     # multi-block
    (37, 41, 5),     # odd sizes
    (129, 65, 6),    # wide enough for long zero runs / EOB runs
])
@pytest.mark.parametrize("restart", [0, 3])
@pytest.mark.parametrize("ycbcr420", [False, True])
def test_progressive_equals_baseline(w, h, seed, restart, ycbcr420):
    grid = _rand_img(w, h, seed)
    base = decode_jpeg_gray(encode_gray_jpeg(w, h, grid))
    prog = decode_jpeg_gray(encode_gray_jpeg_progressive(
        w, h, grid, restart=restart, ycbcr420=ycbcr420))
    assert base[:2] == prog[:2] and (base[2] == prog[2]).all()


def test_progressive_flat_image_is_eob_runs_only():
    # a flat raster has zero AC everywhere: every AC scan degenerates to
    # one maximal EOB run — the decoder's eobrun bookkeeping in isolation
    grid = [bytearray([200] * 40) for _ in range(24)]
    w, h, rows = decode_jpeg_gray(encode_gray_jpeg_progressive(40, 24, grid))
    assert (w, h) == (40, 24)
    assert all(abs(p - 200) <= 1 for r in rows for p in r)


def test_progressive_ocr_end_to_end():
    from documentconvert_spark.kernels.detect import extract
    from documentconvert_spark.kernels.miniocr import ocr_image_text

    gw, gh, tg = _render_text_grid(["PROGRESSIVE 99", "SCAN TEST"], 2, 8)
    pj = encode_gray_jpeg_progressive(gw, gh, tg, ycbcr420=True)
    # the quant gate reads DQT (all ones) and passes without entropy work
    assert ocr_image_text(pj, "jpeg") == ["PROGRESSIVE 99", "SCAN TEST"]
    spans = extract("image", pj)
    assert [s.kind for s in spans] == ["figure", "paragraph", "paragraph"]
    assert spans[1].text == "PROGRESSIVE 99"


def test_progressive_malformed_contained():
    grid = _rand_img(32, 32, 9)
    data = encode_gray_jpeg_progressive(32, 32, grid)
    # truncation anywhere inside the scan data must raise, not hang/garble
    with pytest.raises(ValueError):
        decode_jpeg_gray(data[: len(data) // 2])
    # a DC band with Se != 0 is malformed
    bad = bytearray(data)
    i = bad.find(b"\xff\xda")  # first SOS: 1-component DC scan
    # SOS layout: FFDA len(2) ns(1) comp(2) Ss Se AhAl
    assert bad[i + 8] == 0  # Se
    bad[i + 8] = 5
    with pytest.raises(ValueError, match="DC band"):
        decode_jpeg_gray(bytes(bad))
    # scans referencing huffman tables that were never defined
    nodht = bytearray()
    pos = 0
    while pos + 4 <= len(data):
        if data[pos:pos + 2] == b"\xff\xc4":
            ln = struct.unpack(">H", data[pos + 2:pos + 4])[0]
            pos += 2 + ln
            continue
        nodht.append(data[pos])
        pos += 1
    nodht += data[pos:]
    with pytest.raises(ValueError, match="huffman"):
        decode_jpeg_gray(bytes(nodht))


def test_progressive_dc_overflow_contained():
    # Al=15 + max-category diffs accumulate a DC far past int32: must be
    # a ValueError, not an OverflowError escaping the (ValueError,
    # struct.error) containment in ocr_image_text (review finding, PoC'd)
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC2, struct.pack(">BHHB", 8, 64, 64, 1) + bytes([1, 0x11, 0]))
    bits = [0] * 16
    bits[4] = 16  # categories 0..15 at length 5
    dht = seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(range(16)))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x0F]))  # DC first, Al=15
    sink_bits = []
    for _ in range(64):  # 64 blocks, each diff = +32767 (category 15)
        sink_bits.append((15, 5))
        sink_bits.append((0x7FFF, 15))
    acc = n = 0
    scan = bytearray()
    for code, nb in sink_bits:
        acc = (acc << nb) | code
        n += nb
        while n >= 8:
            b = (acc >> (n - 8)) & 0xFF
            scan.append(b)
            if b == 0xFF:
                scan.append(0)
            n -= 8
            acc &= (1 << n) - 1
    if n:
        scan.append(((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF)
    data = b"\xff\xd8" + dqt + sof + dht + sos + bytes(scan) + b"\xff\xd9"
    with pytest.raises(ValueError, match="DC coefficient out of range"):
        decode_jpeg_gray(data)


def test_multiple_frame_headers_rejected():
    # a second SOF would redefine dims under the already-allocated
    # coefficient grid (review finding, PoC'd as IndexError): reject it
    grid = _rand_img(16, 16, 7)
    data = encode_gray_jpeg_progressive(16, 16, grid)
    i = data.find(b"\xff\xc2")
    ln = struct.unpack(">H", data[i + 2:i + 4])[0]
    sof_seg = data[i:i + 2 + ln]
    doubled = data[:i + 2 + ln] + sof_seg + data[i + 2 + ln:]
    with pytest.raises(ValueError, match="multiple frame headers"):
        decode_jpeg_gray(doubled)
    # baseline path gets the same guard
    bdata = encode_gray_jpeg(16, 16, grid)
    j = bdata.find(b"\xff\xc0")
    bln = struct.unpack(">H", bdata[j + 2:j + 4])[0]
    bdoubled = bdata[:j + 2 + bln] + bdata[j:j + 2 + bln] + bdata[j + 2 + bln:]
    with pytest.raises(ValueError, match="multiple frame headers"):
        decode_jpeg_gray(bdoubled)


def test_progressive_dc_only_prefix_decodes_flat_preview():
    # a stream cut after the DC-first scan has no luma AC — the decoder
    # must reject it only if truncation corrupts a scan; ending cleanly
    # at a marker yields the DC preview (how browsers render progressive)
    grid = _rand_img(48, 32, 11)
    data = encode_gray_jpeg_progressive(48, 32, grid)
    # find the second SOS and cut just before it, appending EOI
    first = data.find(b"\xff\xda")
    second = data.find(b"\xff\xda", first + 2)
    preview = data[:second] + b"\xff\xd9"
    w, h, rows = decode_jpeg_gray(preview)
    assert (w, h) == (48, 32)
    # each 8x8 tile of the preview is flat (DC only, at Al=1 precision)
    full = decode_jpeg_gray(encode_gray_jpeg(48, 32, grid))[2]
    for by in range(4):
        for bx in range(6):
            tile = {rows[by * 8 + dy][bx * 8 + dx] for dy in range(8) for dx in range(8)}
            assert len(tile) == 1
            mean = sum(full[by * 8 + dy][bx * 8 + dx]
                       for dy in range(8) for dx in range(8)) / 64
            assert abs(tile.pop() - mean) <= 3  # Al=1 quantization of DC
