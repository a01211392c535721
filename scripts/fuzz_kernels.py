"""Deterministic fuzz campaign over every extraction kernel.

The C7 containment contract (udfs.py: any kernel exception becomes an
error ROW) makes exceptions harmless — what can still take down an
executor at corpus scale is a kernel that HANGS (infinite loop /
catastrophic backtracking), allocates unbounded memory from a crafted
length field, or amplifies a small input into a giant span list. This
script hunts exactly those three classes: seeded real documents and
synthetic corpus docs are mutated deterministically (seeded PRNG —
every finding is replayable by (seed_name, mutation_index)) and pushed
through the dispatch kernels under a per-mutant wall-clock alarm, an
address-space rlimit, and an output-size check.

Usage:
  python scripts/fuzz_kernels.py [n_mutants_per_seed]      # parent: fan out
  python scripts/fuzz_kernels.py --chunk SEED ROUTE LO HI  # worker (internal)

Every document seed also runs the `media` route: the document layer's
embedded-media walkers (kernels/detect.extract_media_files).

The parent builds every seed once and writes its bytes to
_work/fuzz/seeds/<seed>.bin; each worker reads only its own seed from
there. Exit code 0 = no hangs / no oversized outputs. Findings are
written to _work/fuzz/<seed>_<idx>.bin for replay.
"""

from __future__ import annotations

import functools
import json
import os
import random
import signal
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REF_TEST_DIR = "/root/reference/test"
EXTRA_DIR = os.path.join(REPO, "documentconvert_spark", "resources", "extra_docs")
OUT_DIR = os.path.join(REPO, "_work", "fuzz")
SEED_DIR = os.path.join(OUT_DIR, "seeds")
PER_MUTANT_TIMEOUT_S = 5.0
CHUNK_TIMEOUT_S = 600  # parent-side backstop for uninterruptible C loops
AS_LIMIT_BYTES = 4 << 30
MAX_OUTPUT_CHARS = 50_000_000  # >50 MB of span text from a <35 MB doc = amplification
N_DEFAULT = 300
_OUTCOMES = ("ok", "contained", "timeout", "memory", "oversized", "sniff_raise")

_BIG_INTS = (0x7FFFFFFF, 0xFFFFFFFF, 0x7FFFFFFFFFFFFFFF, 2_000_000_000)


def _seed_docs() -> list[tuple[str, str, bytes]]:
    """(name, route, bytes) — every dispatch route gets real seeds."""
    seeds = []
    dirs = [d for d in (REF_TEST_DIR, EXTRA_DIR) if os.path.isdir(d)]
    if REF_TEST_DIR not in dirs:
        print(f"fuzz: {REF_TEST_DIR} not present; seeding from the in-repo "
              f"fixtures only", file=sys.stderr)
    for d in dirs:
        for fn in sorted(os.listdir(d)):
            with open(os.path.join(d, fn), "rb") as f:
                data = f.read()
            ext = fn.rsplit(".", 1)[-1].lower()
            route = ("pdf" if ext == "pdf"
                     else "image" if ext in ("png", "jpg", "jpeg", "gif",
                                             "bmp", "tiff", "webp")
                     else "office")
            seeds.append((f"ref_{ext}_{len(seeds)}", route, data))
    from documentconvert_spark.corpus import make_doc_by_index

    # synthetic minipdf and markup docs minus F-POISON, whose mutants die at
    # minipdf's header check; the generator makes no image docs, so add one
    for i in range(12):
        d = make_doc_by_index(i, 42, 5)
        if not d.expect_error:
            route = {"pdf": "pdf", "markup": "office"}[d.doc_type]
            seeds.append((f"synth_{d.doc_type}_{i}", route, d.content))
    seeds.append(("synth_miniimg", "image",
                  b"MINIIMG-1.0\nimg-fuzz-0001\nFUZZ OCR LINE 1\n\n  second  line 2.5\n"))
    seeds.extend(_format_seeds())
    return seeds


def _doc_seed() -> bytes:
    """Word piece-table .doc: a 2x2 table whose first cell anchors the one
    JPEG picture, so mutants reach the FIB/Clx/piece walk, the table and
    anchor logic and the OfficeArt BLIP carver."""
    from documentconvert_spark.corpus import make_word_doc, render_text_jpeg

    text = ("Exam paper\r"
            "Q1 \x01stem\x07B1\x07\x07A2\x07B2\x07\x07\r"
            "After the table\r")
    return make_word_doc(text, [render_text_jpeg(["DOC PIC"], scale=2)])


def _pptx_seed(png: bytes) -> bytes:
    """One-slide .pptx: title, body and a picture whose rel points into
    ppt/media/, so mutants reach the slide order, placeholder and blip
    paths and the zip media walker."""
    from documentconvert_spark.corpus import det_zip

    ns = ('xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
          'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"')
    rels = ('<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
            'relationships"><Relationship Id="rId1" Type="t" Target="{}"/></Relationships>')
    sp = ('<p:sp><p:nvSpPr><p:nvPr><p:ph type="{}"/></p:nvPr></p:nvSpPr>'
          '<p:txBody><a:p><a:r><a:t>{}</a:t></a:r></a:p></p:txBody></p:sp>')
    slide = (f"<p:sld {ns}><p:cSld><p:spTree>" + sp.format("title", "Fuzz Deck")
             + sp.format("body", "slide body text")
             + '<p:pic><p:blipFill><a:blip r:embed="rId1"/></p:blipFill></p:pic>'
             "</p:spTree></p:cSld></p:sld>")
    return det_zip([
        ("ppt/presentation.xml", f'<p:presentation {ns}><p:sldIdLst><p:sldId id="256" '
                                 'r:id="rId1"/></p:sldIdLst></p:presentation>'),
        ("ppt/_rels/presentation.xml.rels", rels.format("slides/slide1.xml")),
        ("ppt/slides/slide1.xml", slide),
        ("ppt/slides/_rels/slide1.xml.rels", rels.format("../media/image1.png")),
        ("ppt/media/image1.png", png),
    ])


def _format_seeds() -> list[tuple[str, str, bytes]]:
    """Formats the reference corpus and synthetic docs don't cover:
    RTF (with an embedded \\pict), ODF and OOXML (zip containers), Word
    .doc and BIFF .xls/.ppt (OLE CFB), real PNG/JPEG. Shapes that a
    committed fixture already seeds byte for byte on the same route are
    not repeated here."""
    import struct

    from documentconvert_spark.corpus import (
        aes256_pdf,
        aesv2_pdf,
        cidfont_pdf,
        encrypt_pdf,
        lzw_pdf,
        make_ppt,
        make_xls,
        odf_zip,
        render_text_jpeg,
        render_text_png,
        render_text_png_prop,
        render_text_tiff,
        render_text_webp,
    )

    rtf = (rb"{\rtf1\ansi\ansicpg1252\deff0{\fonttbl{\f0 T;}}"
           rb"\pard\outlinelevel0\b\fs36 Heading One\b0\fs24\par"
           b"\\pard Body with \\'e9 accent and \\u20013? char.\\par"
           rb"{\pict\pngblip\picw100\pich100 a1b2c3d4e5f6}"
           rb"\trowd\intbl cellA\cell cellB\cell\row\pard Tail.\par}")

    content_xml = (
        '<?xml version="1.0"?><office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<office:body><office:text>"
        '<text:h text:outline-level="1">ODF Title</text:h>'
        "<text:p>First odf paragraph body.</text:p>"
        "</office:text></office:body></office:document-content>"
    )
    odt = odf_zip(content_xml, "application/vnd.oasis.opendocument.text")

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">IIBBBBB", 64, 48, 8, 2, 0, 0, 0) + b"\x00" * 4
           + struct.pack(">I", 0) + b"IEND\xaeB`\x82")

    tiff_text = render_text_tiff(["TIFF FUZZ 7", "ROW 2"], scale=2)
    webp_text = render_text_webp(["WEBP FUZZ 9", "VP8L"], scale=2)
    return [
        ("fmt_rtf", "office", rtf),
        ("fmt_odt", "office", odt),
        ("fmt_png", "image", png),
        # rendered-text PNGs: mutants reach the miniocr streaming inflate,
        # scanline unfilters, bilevel abort and glyph matcher (the bare
        # fmt_png seed has no IDAT, so it never leaves the chunk walker)
        ("fmt_png_ocr", "image", render_text_png(["FUZZ TARGET 1", "LINE 2.3"], scale=2)),
        ("fmt_png_ocr_rgb", "image", render_text_png(["COLOR RGB"], scale=3, color=True)),
        # kerned proportional render (r5): mutants land on the
        # connected-component flood fill, x-center grouping and the
        # per-glyph pixel-mask crop — the CC fallback path column
        # projection never reaches
        ("fmt_png_ocr_kern", "image",
         render_text_png_prop(["KERN L- SEED"], scale=2, kern={(0, 6): -3})),
        # full PNG pixel matrix: interlaced 4-bit palette through both routes
        ("fmt_png_pal", "image", _png_pal_seed()),
        ("raw_png_pal", "raster", _png_pal_seed()),
        ("raw_bmp_rle", "raster", _bmp_rle_seed()),
        # animated GIF (kernels/raster.decode_gif_frames, through the
        # A/V layer's decode_video): mutants hit the GCE parsing,
        # sub-region bounds, transparency/disposal logic and the
        # per-animation budget caps
        ("gifanim", "decode_video", _gif_anim_seed()),
        ("fmt_xls", "office", make_xls()),
        ("fmt_ppt", "office", make_ppt()),
        ("fmt_doc", "office", _doc_seed()),
        ("fmt_pptx", "office", _pptx_seed(png)),
        # the round-3 attack surface: RC4 (R2/R3), AESV2, AES-256/R6
        # decryption and the LZW filter — mutants hit key derivation,
        # /Encrypt dict parsing, CBC unpadding and LZW table growth
        # (RC4/R3 is fixture_encrypted.pdf)
        ("fmt_pdf_rc4r2", "pdf", encrypt_pdf(2)),
        ("fmt_pdf_aesv2", "pdf", aesv2_pdf()),
        ("fmt_pdf_aes256", "pdf", aes256_pdf()),
        ("fmt_pdf_lzw", "pdf", lzw_pdf()),
        # Identity-H + embedded TTF, no ToUnicode: mutants land on the
        # TrueType cmap inversion (table directory, format 4 segments)
        ("fmt_pdf_cidfont", "pdf", cidfont_pdf()),
        # raster decoders (kernels/minijpeg.py, kernels/raster.py):
        # mutants hit marker parsing, DHT canonical-code build, the
        # entropy decode loops, GIF LZW dictionary growth and BMP
        # palette/stride arithmetic through the image dispatch route
        ("fmt_jpeg_ocr", "image",
         render_text_jpeg(["FUZZ JPEG 42", "LINE B"], scale=2)),
        # progressive SOF2: mutants hit the Annex-G scan dispatcher, the
        # successive-approximation bit logic and EOB-run bookkeeping
        ("fmt_jpeg_prog", "image", _jpeg_prog_seed()),
        ("raw_jpeg_prog", "raster", _jpeg_prog_seed()),
        # fixtures through decode_raster_gray itself: the gif/bmp pixel
        # decoders (LZW dictionary, palette/stride math) and the jpeg
        # entropy loop see every mutant, not just the sniffing layer (the
        # image route already seeds the same fixture files)
        ("raw_jpeg", "raster", render_text_jpeg(["RASTER FUZZ"], scale=2)),
        ("raw_gif", "raster", _fixture("fixture_tiles.gif")),
        ("raw_bmp", "raster", _fixture("fixture_gradient.bmp")),
        # TIFF (kernels/raster.decode_tiff_gray): mutants hit the IFD
        # walker (value-or-offset rule), strip offsets/counts, PackBits,
        # the shared LZW decoder and the predictor/photometric math —
        # both the rendered-text LZW shape and the palette/PackBits shape
        ("fmt_tiff_ocr", "image", tiff_text),
        ("raw_tiff_ocr", "raster", tiff_text),
        ("raw_tiff_pal", "raster", _fixture("fixture_mosaic.tiff")),
        # WebP VP8L (kernels/miniwebp.py): mutants hit the prefix-code
        # reader (simple + code-length-coded), LZ77 distance mapping,
        # color cache and the inverse transforms (text seed: LZ77 + cache
        # + subtract-green; swatch seed: delta-coded palette + bundling)
        ("fmt_webp_ocr", "image", webp_text),
        ("raw_webp_ocr", "raster", webp_text),
        ("raw_webp_pal", "raster", _fixture("fixture_swatch.webp")),
        # video through the A/V layer's own entry point
        # (kernels/media.decode_video): AVI mutants hit the RIFF chunk
        # walker, the shared hdrl reader, the DIB stride math and the
        # per-frame budget/caps; the MJPG variant additionally feeds
        # mutated frames into the baseline-JPEG decoder, the MP4 one the
        # ISO-BMFF sample-table carver
        ("fmt_avi_mjpg", "decode_video", _avi_seed("MJPG")),
        ("fmt_avi_dib", "decode_video", _avi_seed("DIB ")),
        ("fmt_mp4_mjpeg", "decode_video", _mp4_seed()),
        ("sniff_mp4", "sniff", _mp4_seed()),
        # A/V metadata sniffing (kernels/media.sniff_av_meta) is a
        # NO-RAISE contract — callers use it without per-row containment;
        # mutants hit the EBML vint recursion, the MP3 frame walk, the
        # MP4 box walk, the shared WAV/AVI/FLAC header readers and the
        # int32 overflow clamp
        ("sniff_webm", "sniff", _av_fixture("webm")),
        ("sniff_mp3", "sniff", _av_fixture("mp3")),
        ("sniff_avi", "sniff", _avi_seed("DIB ")),
        ("sniff_ogg", "sniff", _av_fixture("ogg")),
        ("sniff_wav", "sniff", _audio_fixture("aud-000")),
        ("sniff_flac", "sniff", _flac_seed("fixed2")),
        # audio through kernels/media.decode_audio: FLAC mutants hit
        # STREAMINFO and frame-header parsing, CRC-8/16 checks, coded
        # numbers, rice partitions (unary runs, escape codes), fixed/LPC
        # predictors, wasted bits, stereo decorrelation — the whole
        # bit-level surface; WAV mutants the chunk walk, the fmt checks
        # and the 16-bit mono and 8-bit 3-channel folds (the contract's
        # aud-000 and aud-003 inputs)
        ("fmt_flac_fixed", "decode_audio", _flac_seed("fixed2")),
        ("fmt_flac_midside", "decode_audio", _flac_seed("midside")),
        ("fmt_wav16", "decode_audio", _audio_fixture("aud-000")),
        ("fmt_wav8_multi", "decode_audio", _audio_fixture("aud-003")),
    ]


def _jpeg_prog_seed() -> bytes:
    from documentconvert_spark.corpus import (
        _render_text_grid,
        encode_gray_jpeg_progressive,
    )

    w, h, grid = _render_text_grid(["PROG FUZZ 3", "EOB RUN"], 2, 8)
    return encode_gray_jpeg_progressive(w, h, grid, restart=4, ycbcr420=True)


def _gif_anim_seed() -> bytes:
    from documentconvert_spark.corpus import encode_gif_anim

    pal = [(0, 0, 0), (255, 255, 255), (100, 100, 100), (30, 200, 90)]
    f0 = [(x + y) % 4 for y in range(10) for x in range(16)]
    f1 = [3 if x == y else 2 for y in range(4) for x in range(5)]
    return encode_gif_anim(16, 10, [
        {"idx": f0},
        {"idx": f1, "left": 3, "top": 2, "fw": 5, "fh": 4,
         "transparent": 3, "disposal": 2},
        {"idx": [1] * 12, "left": 8, "top": 6, "fw": 4, "fh": 3, "disposal": 3},
    ], pal, 2)


def _bmp_rle_seed() -> bytes:
    """RLE8 BMP: mutants hit the run/absolute/EOL/EOD/delta escapes and
    the word-alignment arithmetic."""
    import struct as _st

    pal_rgb = [(i * 16, 255 - i * 16, i * 8) for i in range(16)]
    palbytes = b"".join(bytes((b, g, r, 0)) for r, g, b in pal_rgb)
    body = bytearray()
    for y in range(12):
        body += bytes([6, y % 16])                 # encoded run
        body += bytes([0, 3, 1, 2, 3, 0])          # absolute (padded)
        if y == 5:
            body += bytes([0, 2, 2, 1])            # delta
        body += bytes([0, 0])                      # end of line
    body += bytes([0, 1])                          # end of bitmap
    off = 54 + len(palbytes)
    return (b"BM" + _st.pack("<IHHI", off + len(body), 0, 0, off)
            + _st.pack("<IiiHHIIiiII", 40, 16, 12, 1, 8, 1,
                       len(body), 0, 0, 16, 0)
            + palbytes + bytes(body))


def _fixture(name: str) -> bytes:
    with open(os.path.join(EXTRA_DIR, name), "rb") as fh:
        return fh.read()


def _png_pal_seed() -> bytes:
    """Adam7-interlaced 4-bit palette PNG: mutants hit the sub-byte
    unpacking, PLTE bounds checks and the seven-pass reassembly."""
    from documentconvert_spark.corpus import encode_png

    w, h = 21, 13
    plte = bytes(v for i in range(16) for v in (i * 17, (i * 5) % 256, 255 - i * 17))
    raster = bytearray()
    for x0, y0, dx, dy in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                           (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                           (0, 1, 1, 2)):
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        for py in range(ph):
            line = bytearray((pw + 1) // 2)
            for px in range(pw):
                v = ((x0 + px * dx) + (y0 + py * dy)) % 16
                line[px // 2] |= v << (4 if px % 2 == 0 else 0)
            raster += b"\x00" + bytes(line)
    return encode_png(w, h, bytes(raster), depth=4, color_type=3, plte=plte,
                      interlace=1, level=-1)


def _avi_seed(codec: str) -> bytes:
    from documentconvert_spark.corpus import band_frames, render_avi

    return render_avi(24, 16, band_frames(24, 16, 3), fps=10, codec=codec)


def _mp4_seed() -> bytes:
    from documentconvert_spark.corpus import band_frames, render_mp4_mjpeg

    return render_mp4_mjpeg(24, 16, band_frames(24, 16, 3), fps=10)


def _av_fixture(fmt: str) -> bytes:
    """The longest `real_av_meta` contract fixture of a format (the
    bare-magic ogg row has no duration path)."""
    from documentconvert_spark.queries_extraction import _real_av_fixtures

    return max((c for _d, c, f, *_ in _real_av_fixtures() if f == fmt), key=len)


def _audio_fixture(doc_id: str) -> bytes:
    from documentconvert_spark.queries_extraction import _real_audio_fixtures

    return dict(_real_audio_fixtures()[0])[doc_id]


def _flac_seed(mode: str) -> bytes:
    from documentconvert_spark.corpus import encode_flac

    rng = random.Random(f"fuzz-flac:{mode}")
    left = [rng.randrange(-9000, 9000) for _ in range(600)]
    if mode == "midside":
        right = [v + rng.randrange(-80, 80) for v in left]
        return encode_flac(44100, [left, right], blocksize=128, mode=mode)
    return encode_flac(22050, [left], blocksize=128, mode=mode)


_DIGIT_RUN = None  # compiled lazily (re import kept local to the workers)


def _amplify_digits(data: bytes, rng: random.Random) -> bytes:
    """Replace one ASCII decimal run with a huge value — the text-format
    analogue of the binary planted-length mutator: XML repeat counts
    (text:c, number-rows-repeated), xlsx cell refs, PDF xref/object
    counts, RTF \\binN parameters are all file-controlled decimals."""
    import re

    global _DIGIT_RUN
    if _DIGIT_RUN is None:
        _DIGIT_RUN = re.compile(rb"\d{1,9}")
    runs = [m.span() for m in _DIGIT_RUN.finditer(data[: 1 << 20])]
    if not runs:
        return data
    a, b = runs[rng.randrange(len(runs))]
    big = str(rng.choice(_BIG_INTS)).encode()
    return data[:a] + big + data[b:]


def _mutate_zip_member(data: bytes, rng: random.Random) -> bytes:
    """Container-aware mutation: byte flips inside a PK-zip corrupt the
    deflate stream and die at the CRC check, so the XML *content* paths
    (ODF repeat attributes, xlsx refs/sharedStrings) never get exercised.
    Re-zip with one member mutated at the text level instead."""
    import io
    import zipfile

    from documentconvert_spark.corpus import det_zip

    src = zipfile.ZipFile(io.BytesIO(data))
    names = src.namelist()
    if not names:
        return data
    victim = names[rng.randrange(len(names))]
    members = []
    for n in names:
        raw = src.read(n)
        if n == victim:
            if rng.randrange(2):
                raw = _amplify_digits(raw, rng)
            else:  # tile a small chunk many times: cumulative amplification
                if raw:
                    a = rng.randrange(len(raw))
                    chunk = raw[a : a + rng.randint(1, 256)]
                    reps = rng.randint(2, (1 << 19) // max(len(chunk), 1))
                    b = rng.randrange(len(raw) + 1)
                    raw = raw[:b] + chunk * reps + raw[b:]
        members.append((n, raw))
    return det_zip(members)


def _mutate(data: bytes, rng: random.Random) -> bytes:
    buf = bytearray(data)
    op = rng.randrange(10)
    if op == 0 and buf:  # flip a handful of bytes
        for _ in range(rng.randint(1, 16)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
    elif op == 1 and buf:  # truncate
        del buf[rng.randrange(len(buf)):]
    elif op == 2 and len(buf) > 2:  # delete a slice
        a = rng.randrange(len(buf) - 1)
        del buf[a : a + rng.randint(1, max(1, len(buf) // 8))]
    elif op == 3 and buf:  # duplicate a slice in place
        a = rng.randrange(len(buf))
        chunk = bytes(buf[a : a + rng.randint(1, 4096)])
        b = rng.randrange(len(buf))
        buf[b:b] = chunk
    elif op == 4:  # insert random bytes
        b = rng.randrange(len(buf) + 1)
        buf[b:b] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 512)))
    elif op == 5 and buf:  # zero a slice
        a = rng.randrange(len(buf))
        n = rng.randint(1, max(1, len(buf) // 16))
        buf[a : a + n] = b"\x00" * min(n, len(buf) - a)
    elif op == 6 and len(buf) >= 8:  # plant a huge little/big-endian length field
        a = rng.randrange(len(buf) - 8)
        width = rng.choice((4, 8))
        v = rng.choice(_BIG_INTS) & ((1 << (8 * width)) - 1)
        buf[a : a + width] = v.to_bytes(width, rng.choice(("little", "big")))
    elif op == 7 and len(buf) > 16:  # splice: move a chunk elsewhere
        a = rng.randrange(len(buf) - 8)
        chunk = bytes(buf[a : a + rng.randint(4, 4096)])
        b = rng.randrange(len(buf))
        buf[b : b + len(chunk)] = chunk
    elif op == 8:  # huge ASCII decimal (text-format length/repeat fields)
        out = _amplify_digits(bytes(buf), rng)
        if out != bytes(buf):
            return out
        # no decimal run in range — degrade to a byte flip so every
        # iteration is a REAL mutant (replaying the pristine seed would
        # inflate the campaign's parsed-clean count)
        if buf:
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        return bytes(buf)
    elif op == 9:  # mutate INSIDE a PK-zip container
        if buf[:4] == b"PK\x03\x04":
            try:
                return _mutate_zip_member(bytes(buf), rng)
            except Exception:
                pass
        if buf:  # non-container seed (or unreadable zip) — degrade to a flip
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        return bytes(buf)
    return bytes(buf)


class _Timeout(Exception):
    pass


def _alarm(_sig, _frm):
    raise _Timeout


def _run_chunk(name: str, route: str, lo: int, hi: int) -> None:
    import resource

    resource.setrlimit(resource.RLIMIT_AS, (AS_LIMIT_BYTES, AS_LIMIT_BYTES))
    signal.signal(signal.SIGALRM, _alarm)

    from documentconvert_spark.kernels.detect import extract, extract_media_files
    from documentconvert_spark.kernels.errors import contained
    from documentconvert_spark.kernels.media import decode_audio, decode_video, sniff_av_meta
    from documentconvert_spark.kernels.raster import decode_raster_gray
    from documentconvert_spark.kernels.spans import Span

    def raster_route(data: bytes) -> list:
        # drives the pixel decoders directly: the image dispatch decodes
        # PNG/JPEG/GIF/BMP/TIFF/WebP pixels only behind the OCR header
        # pre-gates and the bilevel abort, so most mutants of a photo
        # never reach a full decode there — same containment contract
        _fmt, w, h, gray = decode_raster_gray(data)
        # ndarray.sum accumulates in a wide integer; a Python sum over
        # uint8 scalars can wrap
        return [Span("figure", f"{w}x{h}:{int(gray[0].sum())}", "", 0)]

    def decode_video_route(data: bytes) -> list:
        w, h, frames = decode_video(data)
        return [Span("figure", f"{w}x{h}:{len(frames)}", "", 0)]

    def decode_audio_route(data: bytes) -> list:
        sr, ch, mono = decode_audio(data)
        return [Span("figure", f"{sr}:{ch}:{len(mono)}", "", 0)]

    def sniff_route(data: bytes) -> list:
        # NO-RAISE contract: any exception here is a finding, and the
        # result quadruple must stay int32-safe (callers cast downstream)
        fmt, w, h, dur = sniff_av_meta(data)
        for v in (w, h, dur):
            if v is not None and not 0 <= v < 2**31:
                raise AssertionError(f"sniff leaked non-int32 value {v}")
        return [Span("figure", f"{fmt}:{w}x{h}:{dur}", "", 0)]

    def media_route(data: bytes) -> list:
        # the document layer's embedded-media walkers (zip/PDF/RTF/OLE)
        # and the whole-document image row
        return [Span("figure", f"{ref}:{len(blob)}", "", 0)
                for ref, blob in extract_media_files(data)]

    routes = {"pdf": functools.partial(extract, "pdf"),
              "office": functools.partial(extract, "markup"),
              "image": functools.partial(extract, "image"), "raster": raster_route,
              "decode_video": decode_video_route, "decode_audio": decode_audio_route,
              "sniff": sniff_route, "media": media_route}
    with open(os.path.join(SEED_DIR, f"{name}.bin"), "rb") as fh:
        data = fh.read()
    fn = routes[route]
    mutants = ((idx, _mutate(data, random.Random(f"{name}:{idx}"))) for idx in range(lo, hi))

    def output_chars(_idx: int, mutant: bytes) -> int:
        signal.setitimer(signal.ITIMER_REAL, PER_MUTANT_TIMEOUT_S)
        try:
            return sum(len(s.text) for s in fn(mutant))
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0)

    stats = dict.fromkeys(_OUTCOMES, 0)
    findings = []
    # production's loop; hangs, blow-ups and sniff raises are findings
    for (idx, mutant), out_chars, exc in contained(mutants, output_chars):
        if isinstance(exc, _Timeout):
            stats["timeout"] += 1
            findings.append((idx, "timeout", mutant))
        elif isinstance(exc, MemoryError):
            stats["memory"] += 1
            findings.append((idx, "MemoryError under 4 GiB rlimit", mutant))
        elif exc is not None and route == "sniff":
            stats["sniff_raise"] += 1
            findings.append((idx, f"sniff raised: {exc!r:.120}", mutant))
        elif exc is not None:
            stats["contained"] += 1
        elif out_chars > MAX_OUTPUT_CHARS:
            stats["oversized"] += 1
            findings.append((idx, f"oversized: {out_chars} chars", mutant))
        else:
            stats["ok"] += 1
    os.makedirs(OUT_DIR, exist_ok=True)
    for idx, kind, mutant in findings:
        with open(os.path.join(OUT_DIR, f"{name}_{idx}.bin"), "wb") as f:
            f.write(mutant)
    print(json.dumps({"seed": name, "route": route, "lo": lo, "hi": hi, "stats": stats,
                      "findings": [(i, k) for i, k, _ in findings]}))


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--chunk":
        _run_chunk(sys.argv[2], sys.argv[3], int(sys.argv[4]), int(sys.argv[5]))
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else N_DEFAULT
    seeds = _seed_docs()
    os.makedirs(SEED_DIR, exist_ok=True)
    for name, _route, data in seeds:
        with open(os.path.join(SEED_DIR, f"{name}.bin"), "wb") as fh:
            fh.write(data)
    chunk = 50
    routes = [(name, route) for name, route, _data in seeds]
    routes += [(name, "media") for name, route, _data in seeds
               if route in ("pdf", "office", "image")]
    jobs = [(name, route, lo, min(lo + chunk, n))
            for name, route in routes for lo in range(0, n, chunk)]
    # a few chunks at a time; each is its own process so a hard (C-level)
    # hang is killed by the parent timeout and reported with its range
    totals = dict.fromkeys(_OUTCOMES, 0)
    bad: list[str] = []
    running: list[tuple[subprocess.Popen, str, str, int, int]] = []
    pending = list(jobs)
    import time as _time

    def reap(block: bool) -> None:
        for job in list(running):
            p, name, route, lo, hi = job
            if p.poll() is None and not block:
                continue
            running.remove(job)
            try:
                out, _ = p.communicate(timeout=CHUNK_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                bad.append(f"HARD HANG (uninterruptible): {name} {route} [{lo},{hi})")
                continue
            if p.returncode != 0:
                bad.append(f"worker died rc={p.returncode}: {name} {route} [{lo},{hi})")
                continue
            rec = json.loads(out.strip().splitlines()[-1])
            for k, v in rec["stats"].items():
                totals[k] = totals.get(k, 0) + v
            for idx, kind in rec["findings"]:
                bad.append(f"{name}:{idx} {route} {kind}")

    while pending or running:
        while pending and len(running) < max(os.cpu_count() - 2, 1):
            name, route, lo, hi = pending.pop()
            p = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--chunk", name, route,
                 str(lo), str(hi)],
                stdout=subprocess.PIPE, text=True, cwd=REPO)
            running.append((p, name, route, lo, hi))
        if running and all(p.poll() is None for p, *_ in running):
            _time.sleep(0.2)
        reap(block=not pending)

    print(json.dumps({"totals": totals, "n_per_seed": n, "seeds": len(seeds),
                      "routes": len(routes), "bad": bad}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
