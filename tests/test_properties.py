"""Property-based kernel tests (hypothesis) — SURVEY.md §5.2."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from documentconvert_spark.corpus import CLASSES, make_doc
from documentconvert_spark.kernels.minidom import extract_minidom
from documentconvert_spark.kernels.minipdf import extract_minipdf
from documentconvert_spark.kernels.encoding import ensure_utf8, repair_mojibake
from documentconvert_spark.kernels.markdown import spans_to_markdown
from documentconvert_spark.kernels.spans import Span, normalize_text
from tests.test_kernels import KINDS

non_error_classes = [c for c in CLASSES if c not in ("F-POISON",)]


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once


@given(
    st.lists(
        st.tuples(
            st.sampled_from(KINDS),
            st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80),
        ),
        max_size=20,
    )
)
@settings(max_examples=100, deadline=None)
def test_markdown_fold_total_and_deterministic(items):
    spans = [
        Span(k, "" if k == "figure" else normalize_text(t), "m.jpg" if k == "figure" else "", i)
        for i, (k, t) in enumerate(items)
    ]
    a = spans_to_markdown(spans)
    b = spans_to_markdown([s.as_dict() for s in spans])
    assert a == b
    for s in spans:
        if s.kind == "figure":
            assert f"![](images/{s.media_ref})" in a


@given(st.sampled_from(non_error_classes), st.integers(min_value=0, max_value=5000))
@settings(max_examples=60, deadline=None)
def test_make_doc_deterministic_and_extractable(cls, idx):
    a, b = make_doc(cls, idx), make_doc(cls, idx)
    assert a.content == b.content and a.expected == b.expected
    fn = extract_minidom if a.doc_type == "markup" else extract_minipdf
    if a.doc_type in ("markup", "pdf"):
        assert fn(a.content) == a.expected


@given(st.integers(min_value=0, max_value=500), st.integers(min_value=0, max_value=2**31))
@settings(max_examples=40, deadline=None)
def test_minipdf_order_invariance(idx, shuffle_seed):
    """Reading order is recovered from geometry: shuffling the record lines
    inside each page must not change the extracted spans."""
    d = make_doc("F-FIG", idx)
    text = d.content.decode("utf-8")
    lines = text.split("\n")
    out, page_buf = [], []
    rng = random.Random(shuffle_seed)

    def flush():
        rng.shuffle(page_buf)
        out.extend(page_buf)
        page_buf.clear()

    for ln in lines:
        if ln.startswith("%") or ln.startswith("@page"):
            flush()
            out.append(ln)
        else:
            page_buf.append(ln)
    flush()
    reshuffled = "\n".join(out).encode("utf-8")
    assert extract_minipdf(reshuffled) == d.expected


@given(st.text(alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E), max_size=60))
@settings(max_examples=100, deadline=None)
def test_encoding_ascii_fixed_point(s):
    if "%" not in s:
        assert ensure_utf8(s) == s
    assert repair_mojibake(s) == s  # pure ASCII is never "repaired"


@given(st.text(alphabet="文档转换数据分析报告测试引擎", min_size=1, max_size=20))
@settings(max_examples=60, deadline=None)
def test_mojibake_roundtrip_utf8_latin1(s):
    assert repair_mojibake(s.encode("utf-8").decode("latin-1")) == s


@given(
    st.integers(min_value=1, max_value=40),   # width
    st.integers(min_value=1, max_value=24),   # height
    st.integers(min_value=1, max_value=4),    # frames
    st.integers(min_value=1, max_value=60),   # fps
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_avi_roundtrip_property(w, h, n, fps, rnd):
    """render_avi ↔ decode_avi_frames over ARBITRARY gray rasters:
    DIB is byte-exact (the ITU-R 601 weights sum to 1000, so r=g=b=v
    round-trips to v), MJPG within the ±2 near-lossless bound."""
    from documentconvert_spark.corpus import render_avi
    from documentconvert_spark.kernels.media import decode_avi_frames

    grids = [[bytearray(rnd.randrange(256) for _ in range(w))
              for _ in range(h)] for _ in range(n)]
    dw, dh, dfps, dib = decode_avi_frames(render_avi(w, h, grids, fps=fps, codec="DIB "))
    assert (dw, dh, dfps, len(dib)) == (w, h, float(fps), n)
    assert all(bytes(a) == bytes(b) for src, out in zip(grids, dib)
               for a, b in zip(src, out))
    _, _, _, mj = decode_avi_frames(render_avi(w, h, grids, fps=fps, codec="MJPG"))
    assert all(abs(x - y) <= 2 for src, out in zip(grids, mj)
               for a, b in zip(src, out) for x, y in zip(a, b))


@given(
    st.integers(min_value=1, max_value=48),   # width
    st.integers(min_value=1, max_value=32),   # height
    st.sampled_from(["plain", "lz77", "cache", "sg", "pred"]),
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_vp8l_roundtrip_property(w, h, shape, rnd):
    """encode_vp8l ↔ decode_vp8l over ARBITRARY ARGB rasters and encoder
    shapes: lossless, so every shape must round-trip pixel-exact."""
    from documentconvert_spark.corpus import encode_vp8l
    from documentconvert_spark.kernels.miniwebp import decode_vp8l
    from documentconvert_spark.kernels.raster import decode_webp_gray

    argb = [(rnd.randrange(256) << 24) | rnd.getrandbits(24) for _ in range(w * h)]
    kw = {"plain": {}, "lz77": {"lz77": True}, "cache": {"cache_bits": 4},
          "sg": {"subtract_green": True},
          "pred": {"predictor_mode": rnd.randrange(14)}}[shape]
    data = encode_vp8l(w, h, argb, **kw)
    import struct as _st
    (ln,) = _st.unpack_from("<I", data, 16)
    dw, dh, pix = decode_vp8l(data[20:20 + ln])
    assert (dw, dh, pix.tolist()) == (w, h, argb)
    # and the gray route agrees with a direct luma fold
    _, _, rows = decode_webp_gray(data)
    for y in range(h):
        for x in range(w):
            px = argb[y * w + x]
            want = (((px >> 16) & 0xFF) * 299 + ((px >> 8) & 0xFF) * 587
                    + (px & 0xFF) * 114) // 1000
            assert rows[y][x] == want


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=24),
    st.sampled_from([(1, "<"), (5, ">"), (32773, "<")]),  # comp, endian
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_tiff_roundtrip_property(w, h, shape, rnd):
    """tiff_encode ↔ decode_tiff_gray over ARBITRARY gray rasters,
    every compression mode and both byte orders, multi-strip."""
    from documentconvert_spark.corpus import _lzw_encode, packbits_encode, tiff_encode
    from documentconvert_spark.kernels.raster import decode_tiff_gray

    comp, end = shape
    rows = [bytes(rnd.randrange(256) for _ in range(w)) for _ in range(h)]
    rps = max(1, h // 2)
    strips = []
    for y0 in range(0, h, rps):
        raw = b"".join(rows[y0:y0 + rps])
        if comp == 5:
            raw = _lzw_encode(raw)
        elif comp == 32773:
            raw = packbits_encode(raw)
        strips.append(raw)
    dw, dh, out = decode_tiff_gray(tiff_encode(end, w, h, 1, strips, rps, comp=comp))
    assert (dw, dh) == (w, h)
    assert all(bytes(out[y]) == rows[y] for y in range(h))


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=24),
    st.sampled_from([(8, 0, 0), (8, 0, 1), (8, 2, 0), (8, 4, 0),
                     (16, 0, 0), (4, 0, 0), (8, 3, 0), (4, 3, 1)]),
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_png_matrix_roundtrip_property(w, h, shape, rnd):
    """Hand-packed PNG rasters across the pixel matrix (depth, color
    type, interlace) must decode back to the exact expected luma."""
    from documentconvert_spark.corpus import encode_png
    from documentconvert_spark.kernels.raster import decode_png_gray

    depth, ct, inter = shape
    channels = {0: 1, 2: 3, 3: 1, 4: 2}[ct]
    maxv = (1 << depth) - 1 if depth < 8 else 255
    vals = [rnd.randrange(maxv + 1) for _ in range(w * h)]
    plte = None
    if ct == 3:
        pal = [(rnd.randrange(256), rnd.randrange(256), rnd.randrange(256))
               for _ in range(maxv + 1)]
        plte = b"".join(bytes(c) for c in pal)
        want = [(pal[v][0] * 299 + pal[v][1] * 587 + pal[v][2] * 114) // 1000
                for v in vals]
    elif depth < 8:
        want = [v * (255 // maxv) for v in vals]
    else:
        want = list(vals)

    def pack_rows(sub):  # sub = list of (x, y) pixel coords in pass order
        bits_pp = depth * channels
        line = bytearray()
        out = bytearray(b"\x00")
        nbits = 0
        acc = 0
        for (x, y) in sub:
            v = vals[y * w + x]
            if depth < 8:
                acc = (acc << depth) | v
                nbits += depth
                if nbits == 8:
                    out.append(acc)
                    acc = nbits = 0
            elif depth == 16:
                out += bytes((v, 0x33)) * channels if ct == 0 else b""
            else:
                if ct == 0 or ct == 3:
                    out.append(v)
                elif ct == 2:
                    out += bytes((v, v, v))
                else:  # gray+alpha
                    out += bytes((v, 0x7F))
        if nbits:
            out.append(acc << (8 - nbits))
        return bytes(out), bits_pp

    passes = (((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
               (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)) if inter
              else ((0, 0, 1, 1),))
    raster = bytearray()
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for py in range(ph):
            sub = [(x0 + px * dx, y0 + py * dy) for px in range(pw)]
            line, _ = pack_rows(sub)
            raster += line
    data = encode_png(w, h, bytes(raster), depth=depth, color_type=ct, plte=plte,
                      interlace=inter)
    dw, dh, rows = decode_png_gray(data)
    assert (dw, dh) == (w, h)
    assert all(rows[y][x] == want[y * w + x] for y in range(h) for x in range(w))
