"""Deterministic synthetic corpus generator (seeded; no external data).

Stand-in for the reference's manual test corpus (`/root/reference/test/`:
CJK-heavy .doc/.docx/.pptx/.xlsx/.pdf — SURVEY.md §5.1) and for the
10^12-doc production corpus of BASELINE.json. Produces the raw-document
table (FIXTURES.md Table 1) in the repo's own mini formats AND, for every
document, the expected span sequence (FIXTURES.md Table 2) — the generator
lays content out geometrically / wraps it in boilerplate markup, and the
extractors must recover the same ordered spans. That pairing is the golden
oracle for exact (kind, text, media_ref, offset) equality per doc_id.

Fixture classes implemented (FIXTURES.md): F-HEAD, F-TABLE, F-FIG, F-CODE,
F-FORMULA, F-MARKUP, F-XLSX, F-CJK, F-ENC, F-EMPTY, F-POISON, F-BIG.

It is also the one home of the real-format writers (PNG, JPEG, GIF, BMP,
TIFF, VP8L WebP, AVI, MP4, FLAC, classic-xref PDF, OOXML/ODF zip, OLE CFB
with BIFF8/PPT records): independent spec implementations whose bytes the
kernels must read back. scripts/gen_extra_fixtures.py, the fuzz seeds,
the benches and the tests all compose them.
"""

from __future__ import annotations

import random
import struct
import zlib
from dataclasses import dataclass, field

from documentconvert_spark.kernels.minipdf import GAP_FACTOR
from documentconvert_spark.kernels.spans import Span, finalize, normalize_text, rank_heading_levels
from documentconvert_spark.kernels.minipdf import _join_lines  # shared join semantics

CLASSES = [
    "F-HEAD", "F-TABLE", "F-FIG", "F-CODE", "F-FORMULA", "F-MARKUP",
    "F-XLSX", "F-CJK", "F-ENC", "F-EMPTY", "F-POISON", "F-BIG",
]

_LATIN_WORDS = (
    "data spark document extraction pipeline layout span markdown table "
    "figure formula heading paragraph cluster partition shuffle vector "
    "arrow batch schema lineage metric state retry checkpoint scale "
    "throughput corpus token stream block region detect classify order"
).split()

_CJK_CHARS = "文档转换提取引擎分布式批处理向量化数据表格图片公式标题段落顺序校验状态重试检查点吞吐量扩展集群分区倾斜哈希合并流水线测试基准指标血缘恢复幂等快照"

_CODE_LINES = [
    "def extract(content: bytes) -> list:",
    "    spans = []",
    "    for block in segment(content):",
    "        spans.append(classify(block))",
    "    return spans",
    "x = [i * i for i in range(16)]",
    "if density > 0.5: continue",
    "return fold(spans)",
]

_FORMULAS = [
    "E = m c^2",
    "\\sum_{i=0}^{n} x_i / n",
    "a^2 + b^2 = c^2",
    "\\int_0^1 f(x) dx",
    "P(A|B) = P(B|A) P(A) / P(B)",
]


@dataclass
class RawDoc:
    doc_id: str
    doc_type: str  # pdf | markup | image
    content: bytes
    source_bucket: str
    source_path: str
    expected: list[Span] = field(default_factory=list)
    expect_error: bool = False

    @property
    def byte_len(self) -> int:
        return len(self.content)


def _sentence(rng: random.Random, lo: int = 6, hi: int = 14) -> str:
    n = rng.randint(lo, hi)
    words = [rng.choice(_LATIN_WORDS) for _ in range(n)]
    return " ".join(words).capitalize() + "."


def _cjk_sentence(rng: random.Random, lo: int = 8, hi: int = 24) -> str:
    n = rng.randint(lo, hi)
    return "".join(rng.choice(_CJK_CHARS) for _ in range(n)) + "。"


def _wrap(text: str, width: int, rng: random.Random) -> list[str]:
    """Split block text into layout lines (what a PDF renderer would do)."""
    words = text.split(" ")
    if len(words) == 1:  # CJK, no spaces
        s = text
        return [s[i : i + width] for i in range(0, len(s), width)] or [s]
    lines, cur = [], ""
    for w in words:
        if cur and len(cur) + 1 + len(w) > width:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    if cur:
        lines.append(cur)
    return lines


# ---------------------------------------------------------------- mini-PDF

class _PdfBuilder:
    """Lays blocks out geometrically and records the expected span list."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.records: list[tuple[int, float, str]] = []  # (page, y, line)
        self.expected: list[Span] = []
        self.heading_sizes: dict[int, float] = {}  # expected idx -> font size
        self.page = 1
        self.y = 40.0
        self.page_height = 792.0

    def _start_block(self, gap: float, height: float) -> None:
        """Leave an inter-block gap; page-break if the whole block won't
        fit — blocks never straddle pages (the extractor splits at page
        boundaries, so a straddling block would break span equality)."""
        if self.y + gap + height > self.page_height - 40:
            self.page += 1
            self.y = 40.0
        else:
            self.y += gap

    def text_block(self, kind: str, text: str, size: float, flags: str, width: int = 48) -> None:
        if kind == "code":
            lines = text.split("\n")  # one record per code line; never rewrap
        else:
            lines = _wrap(text, width, self.rng)
        gap = GAP_FACTOR * size + self.rng.uniform(4.0, 14.0)
        self._start_block(gap, len(lines) * size * 1.2)
        out_lines = []
        for ln in lines:
            x = round(self.rng.uniform(36.0, 42.0), 1)
            self.records.append((self.page, self.y, f"@t {x} {round(self.y,1)} {size} {flags or '-'}|{ln}"))
            out_lines.append(ln)
            self.y += size * 1.2
        joined = "\n".join(out_lines) if kind == "code" else _join_lines(out_lines)
        if kind == "heading":
            self.heading_sizes[len(self.expected)] = size
        self.expected.append(Span(kind, normalize_text(joined), "", -1))

    def figure(self, media_ref: str) -> None:
        self._start_block(24.0 + self.rng.uniform(4.0, 14.0), 48.0)
        x = round(self.rng.uniform(36.0, 42.0), 1)
        self.records.append((self.page, self.y, f"@img {x} {round(self.y,1)} 320 240|{media_ref}"))
        self.y += 48.0
        self.expected.append(Span("figure", "", media_ref, -1))

    def table(self, rows: list[list[str]]) -> None:
        self._start_block(24.0 + self.rng.uniform(4.0, 14.0), 14.0 * len(rows))
        x = round(self.rng.uniform(36.0, 42.0), 1)
        payload = ";".join("\t".join(c for c in r) for r in rows)
        self.records.append((self.page, self.y, f"@tbl {x} {round(self.y,1)}|{payload}"))
        self.y += 14.0 * len(rows)
        grid = "\n".join("\t".join(r) for r in rows)
        self.expected.append(Span("table", normalize_text(grid), "", -1))

    def formula(self, text: str) -> None:
        self._start_block(24.0 + self.rng.uniform(4.0, 14.0), 20.0)
        x = round(self.rng.uniform(36.0, 42.0), 1)
        self.records.append((self.page, self.y, f"@eq {x} {round(self.y,1)}|{text}"))
        self.y += 20.0
        self.expected.append(Span("formula", normalize_text(text), "", -1))

    def render(self) -> tuple[bytes, list[Span]]:
        # shuffle records within each page: the extractor must re-derive
        # reading order from geometry, not from byte order
        by_page: dict[int, list[tuple[float, str]]] = {}
        for pg, y, line in self.records:
            by_page.setdefault(pg, []).append((y, line))
        out = ["%MINIPDF-1.0"]
        for pg in sorted(by_page):
            out.append(f"@page {pg} 612 792")
            lines = by_page[pg][:]
            self.rng.shuffle(lines)
            out.extend(line for _, line in lines)
        out.append("%%EOF")
        expected = rank_heading_levels(self.expected, self.heading_sizes)
        return "\n".join(out).encode("utf-8"), finalize(expected)


# ---------------------------------------------------------------- mini-DOM

def _dom_doc(rng: random.Random, doc_id: str, all_table: bool = False) -> tuple[bytes, list[Span]]:
    expected: list[Span] = []
    parts: list[str] = ["<html><head><title>t</title></head><body>"]
    # boilerplate: nav + header (must be stripped wholesale)
    parts.append("<nav><ul>" + "".join(f'<li><a href="/x{i}">link {i} item</a></li>' for i in range(5)) + "</ul></nav>")
    parts.append(f"<header><p>Site header banner {rng.randint(0,999)} promotional text here</p></header>")
    parts.append("<main><article>")
    if all_table:
        # F-XLSX analogue: pure cell-grid document
        for _ in range(rng.randint(2, 4)):
            nr, nc = rng.randint(2, 5), rng.randint(2, 4)
            rows = [[f"{rng.choice(_LATIN_WORDS)} {rng.randint(0, 99)}" for _ in range(nc)] for _ in range(nr)]
            parts.append("<table>" + "".join("<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in rows) + "</table>")
            expected.append(Span("table", normalize_text("\n".join("\t".join(r) for r in rows)), "", -1))
    else:
        title = _sentence(rng, 3, 6).rstrip(".")
        parts.append(f"<h1>{title}</h1>")
        expected.append(Span("heading", normalize_text(title), "", -1, 1))
        for bi in range(rng.randint(3, 6)):
            kind = rng.choice(["p", "p", "p", "pre", "img", "table"])
            if kind == "p":
                txt = _sentence(rng, 8, 20)
                parts.append(f"<p>{txt}</p>")
                expected.append(Span("paragraph", normalize_text(txt), "", -1))
            elif kind == "pre":
                code = "\n".join(rng.sample(_CODE_LINES, k=3))
                parts.append(f"<pre>{code}</pre>")
                expected.append(Span("code", normalize_text(code), "", -1))
            elif kind == "img":
                ref = f"img-{doc_id}-{bi}.jpg"
                parts.append(f'<img src="{ref}"/>')
                expected.append(Span("figure", "", ref, -1))
            else:
                nr, nc = rng.randint(2, 3), rng.randint(2, 3)
                rows = [[f"{rng.choice(_LATIN_WORDS)}{rng.randint(0, 9)}" for _ in range(nc)] for _ in range(nr)]
                parts.append("<table>" + "".join("<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in rows) + "</table>")
                expected.append(Span("table", normalize_text("\n".join("\t".join(r) for r in rows)), "", -1))
            # interleave boilerplate that survives tag filters but fails
            # the density heuristics: link farms and stubs
            if rng.random() < 0.5:
                links = "".join(f'<a href="/r{i}">related article {i}</a> ' for i in range(4))
                parts.append(f"<p>{links}</p>")  # link_density ≈ 1 → dropped
            if rng.random() < 0.3:
                parts.append(f"<p>ad {rng.randint(0, 9)}</p>")  # < MIN_BLOCK_CHARS → dropped
    parts.append("</article></main>")
    # boilerplate: sidebar + footer
    parts.append("<aside><p>" + " ".join(rng.choice(_LATIN_WORDS) for _ in range(12)) + "</p></aside>")
    parts.append('<footer><p>copyright notice terms privacy</p><a href="/tos">terms</a></footer>')
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8"), finalize(expected)


# ---------------------------------------------------------------- classes

def _build_pdf_class(cls: str, rng: random.Random, doc_id: str, scale: int = 1) -> tuple[bytes, list[Span]]:
    b = _PdfBuilder(rng)
    if cls == "F-HEAD":
        b.text_block("heading", _sentence(rng, 3, 6).rstrip("."), 20.0, "B")
        for _ in range(scale * rng.randint(2, 3)):
            b.text_block("heading", _sentence(rng, 2, 5).rstrip("."), 16.0, "B")
            for _ in range(rng.randint(1, 3)):
                mix = _sentence(rng) + " " + _cjk_sentence(rng, 4, 10)
                b.text_block("paragraph", mix, 10.0, "")
    elif cls == "F-TABLE":
        b.text_block("paragraph", _sentence(rng, 10, 18), 10.0, "")
        for _ in range(scale * 2):
            nr, nc = rng.randint(2, 4), rng.randint(2, 4)
            rows = [[f"{rng.choice(_LATIN_WORDS)} {rng.randint(0, 999)}" for _ in range(nc)] for _ in range(nr)]
            b.table(rows)
            b.text_block("paragraph", _sentence(rng, 8, 14), 10.0, "")
    elif cls == "F-FIG":
        b.text_block("paragraph", _sentence(rng, 8, 16), 10.0, "")
        for k in range(scale * 3):
            b.figure(f"img-{doc_id}-{k}.jpg")
            b.text_block("paragraph", _sentence(rng, 6, 12), 10.0, "")
    elif cls == "F-CODE":
        b.text_block("paragraph", _sentence(rng, 8, 14), 10.0, "")
        for _ in range(scale * rng.randint(1, 2)):
            code = "\n".join(rng.sample(_CODE_LINES, k=rng.randint(3, 5)))
            b.text_block("code", code, 10.0, "M")
            b.text_block("paragraph", _sentence(rng, 6, 12), 10.0, "")
    elif cls == "F-FORMULA":
        b.text_block("paragraph", _sentence(rng, 8, 14), 10.0, "")
        for _ in range(scale * rng.randint(1, 3)):
            b.formula(rng.choice(_FORMULAS))
            b.text_block("paragraph", _sentence(rng, 6, 12), 10.0, "")
    elif cls == "F-CJK":
        b.text_block("heading", _cjk_sentence(rng, 4, 8).rstrip("。"), 18.0, "B")
        for _ in range(scale * rng.randint(2, 4)):
            b.text_block("paragraph", _cjk_sentence(rng, 30, 80), 10.0, "", width=20)
    elif cls in ("F-ENC",):
        b.text_block("paragraph", _sentence(rng, 10, 18), 10.0, "")
        b.text_block("paragraph", _cjk_sentence(rng, 10, 20), 10.0, "", width=20)
    elif cls == "F-BIG":
        for _ in range(60 * scale):
            b.text_block("heading", _sentence(rng, 2, 4).rstrip("."), 16.0, "B")
            for _ in range(3):
                b.text_block("paragraph", _sentence(rng, 12, 24), 10.0, "")
    return b.render()


def make_doc(cls: str, idx: int, seed: int = 42) -> RawDoc:
    rng = random.Random(f"{seed}:{cls}:{idx}")  # str seed → sha512, stable across processes
    doc_id = f"{cls.lower().replace('-', '')}-{idx:06d}"
    bucket = f"bucket-{idx % 7}"
    path = f"incoming/{cls}/{doc_id}.pdf"
    if cls == "F-MARKUP":
        content, exp = _dom_doc(rng, doc_id)
        return RawDoc(doc_id, "markup", content, bucket, f"incoming/{cls}/{doc_id}.html", exp)
    if cls == "F-XLSX":
        content, exp = _dom_doc(rng, doc_id, all_table=True)
        return RawDoc(doc_id, "markup", content, bucket, f"incoming/{cls}/{doc_id}.xlsx.html", exp)
    if cls == "F-EMPTY":
        variant = idx % 3
        if variant == 0:
            content = b"%MINIPDF-1.0\n%%EOF\n"
        elif variant == 1:
            content = b"%MINIPDF-1.0\n@page 1 612 792\n%%EOF\n"
        else:
            content = b"%MINIPDF-1.0\n@page 1 612 792\n@t 36 40 10 -|   \n%%EOF\n"
        return RawDoc(doc_id, "pdf", content, bucket, path, [])
    if cls == "F-POISON":
        variant = idx % 3
        if variant == 0:
            content = b"\x00\x01\x02 garbage not a document"
        elif variant == 1:
            content = b"%MINIPDF-1.0\n@page 1 612 792\n@t 36 40 10 -|truncated"  # no EOF
        else:
            content = b"%MINIPDF-1.0\n@t broken record\n%%EOF\n"
        return RawDoc(doc_id, "pdf", content, bucket, path, [], expect_error=True)
    if cls == "F-ENC":
        content, exp = _build_pdf_class(cls, rng, doc_id)
        variant = idx % 3
        if variant == 0:
            path = f"incoming/enc/%E6%96%87%E6%A1%A3-{idx}.pdf"  # URL-encoded 文档
        elif variant == 1:
            path = "incoming/enc/" + "文档报告".encode("utf-8").decode("latin-1") + f"-{idx}.pdf"
        else:
            path = "incoming/enc/" + "数据分析".encode("gbk").decode("latin-1") + f"-{idx}.pdf"
        return RawDoc(doc_id, "pdf", content, bucket, path, exp)
    if cls.startswith("F-") and cls != "F-BIG" and cls not in ("F-MARKUP", "F-XLSX"):
        content, exp = _build_pdf_class(cls, rng, doc_id)
        return RawDoc(doc_id, "pdf", content, bucket, path, exp)
    if cls == "F-BIG":
        content, exp = _build_pdf_class(cls, rng, doc_id)
        return RawDoc(doc_id, "pdf", content, bucket, path, exp)
    raise ValueError(cls)


_SCALE_CLASSES = [c for c in CLASSES if c not in ("F-BIG",)]


def make_doc_by_index(i: int, seed: int = 42, big_every: int = 500) -> RawDoc:
    """Index-addressable generation (pure function of (i, seed, big_every))
    so corpus shards can be generated independently: it drives both the
    driver-side list and extractbench's per-core input children."""
    if big_every and i % big_every == big_every - 1:
        return make_doc("F-BIG", i, seed)
    return make_doc(_SCALE_CLASSES[i % len(_SCALE_CLASSES)], i, seed)


def generate_corpus(n_docs: int, seed: int = 42, big_every: int = 500) -> list[RawDoc]:
    """Parameterized corpus for scale tests / bench: round-robin over the
    fixture classes with seeded variation; one F-BIG heavy-tail doc every
    ``big_every`` docs (the 167 MB-PDF analogue, PROJECT_OVERVIEW.md:769)."""
    return [make_doc_by_index(i, seed, big_every) for i in range(n_docs)]


def corpus_rows(docs: list[RawDoc]) -> list[tuple]:
    """Rows matching the documents_raw schema (FIXTURES.md Table 1)."""
    return [
        (d.doc_id, d.doc_type, d.content, d.byte_len, d.source_bucket, d.source_path)
        for d in docs
    ]


# -- rendered-text PNG (the OCR fixture generator) ----------------------------
# Generator side of the miniocr golden split: renders lines of the shared
# public-style 5×7 font into a real PNG with its own encoder (IHDR/IDAT,
# zlib, CRC32, filter-0 scanlines) — kernels/miniocr.py must decode the
# bytes back to the exact text through an independent decode path.

def _render_text_grid(lines: list[str], scale: int, margin: int) -> tuple[int, int, list[bytearray]]:
    """Shared raster for the rendered-text fixtures: black 5×7 glyphs on
    white, one grid cell per character, `scale`× integer upscale."""
    from documentconvert_spark.kernels.miniocr import CELL_H, CELL_W, FONT_5X7

    ncols = max((len(ln) for ln in lines), default=0)
    w = 2 * margin + max(ncols * CELL_W - 1, 1) * scale
    h = 2 * margin + max(len(lines) * CELL_H - 1, 1) * scale
    grid = [bytearray([255]) * w for _ in range(h)]
    for li, ln in enumerate(lines):
        for ci, ch in enumerate(ln):
            rows = FONT_5X7.get(ch.upper())
            if rows is None:
                continue
            for gy, grow in enumerate(rows):
                for gx, bit in enumerate(grow):
                    if bit != "X":
                        continue
                    y0 = margin + (li * CELL_H + gy) * scale
                    x0 = margin + (ci * CELL_W + gx) * scale
                    for dy in range(scale):
                        for dx in range(scale):
                            grid[y0 + dy][x0 + dx] = 0
    return w, h, grid


def antialias_grid(grid: list) -> list[bytearray]:
    """Deterministic integer 3×3 tent blur (weights 4/2/1, sum 16; edge
    pixels clamp-replicate) — the generator-side model of an antialiased
    text render. For the ≥2-px-thick strokes _render_text_grid emits at
    scale ≥2, thresholding the result at 128 recovers the source grid
    exactly, which is precisely the contract the OCR matcher's
    post-threshold exact-grid check (raster._BimodalGate + miniocr._downsample)
    verifies end-to-end."""
    h, w = len(grid), len(grid[0])
    out = []
    for y in range(h):
        row = bytearray(w)
        for x in range(w):
            acc = 0
            for dy in (-1, 0, 1):
                yy = min(max(y + dy, 0), h - 1)
                src = grid[yy]
                wy = 2 - abs(dy)
                for dx in (-1, 0, 1):
                    xx = min(max(x + dx, 0), w - 1)
                    acc += src[xx] * wy * (2 - abs(dx))
            row[x] = acc // 16
        out.append(row)
    return out


def _png_chunk(typ: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))


def encode_png(w: int, h: int, raster: bytes, depth: int = 8, color_type: int = 0,
               plte: bytes | None = None, interlace: int = 0, level: int = 9) -> bytes:
    """Already-filtered scanlines (each prefixed by its filter-type byte,
    Adam7 pass order when ``interlace``) → PNG. The one PNG writer: the
    goldens compress at level 9, other callers pick their own level."""
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + (_png_chunk(b"PLTE", plte) if plte is not None else b"")
            + _png_chunk(b"IDAT", zlib.compress(raster, level)) + _png_chunk(b"IEND", b""))


def encode_gray_png(w: int, h: int, rows: list) -> bytes:
    """8-bit grayscale raster → non-interlaced PNG (filter 0). Fixtures,
    benches and the image-dedup corpus all share it so the encoders can
    never diverge from the oracle side."""
    return encode_png(w, h, b"".join(b"\x00" + bytes(row) for row in rows))


def encode_bmp24(w: int, h: int, pix: list) -> bytes:
    """Rows of (r, g, b) pixels → 24-bit bottom-up BI_RGB BMP."""
    stride = ((24 * w + 31) // 32) * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        line = b"".join(bytes((b, g, r)) for r, g, b in pix[y])
        body += line + b"\x00" * (stride - len(line))
    return (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                          0, 0, 0, 0) + bytes(body))


def encode_gray_bmp(w: int, h: int, rows: list) -> bytes:
    """8-bit grayscale raster → 24-bit BMP (gray replicated to BGR)."""
    return encode_bmp24(w, h, [[(v, v, v) for v in row] for row in rows])


def render_text_png(lines: list[str], scale: int = 2, margin: int = 8,
                    color: bool = False) -> bytes:
    w, h, grid = _render_text_grid(lines, scale, margin)
    if not color:
        return encode_gray_png(w, h, grid)
    raster = b"".join(b"\x00" + bytes(v for px in row for v in (px, px, px))
                      for row in grid)
    return encode_png(w, h, raster, color_type=2)


def render_text_bmp(lines: list[str], scale: int = 2, margin: int = 8) -> bytes:
    """Rendered-text 24-bit BMP for the raster OCR route — bmp is in the
    reference's OCR whitelist (document_service.py:652)."""
    return encode_gray_bmp(*_render_text_grid(lines, scale, margin))


def _render_text_grid_prop(
    lines: list[str], scale: int, margin: int,
    space_adv: int = 6, kern: dict | None = None,
) -> tuple[int, int, list[bytearray]]:
    """PROPORTIONAL (variable-advance) variant of _render_text_grid:
    each glyph is cropped to its ink columns and advances by
    ink_width + 1 grid cols instead of the fixed 6-col cell; a space
    advances `space_adv` cols (so word gaps are ≥ 7 rendered cols — the
    same ≥ 6s threshold the matcher uses for the fixed-cell render).
    `kern` maps (line_idx, char_idx) → signed grid-col shift applied to
    that glyph's start, letting fixtures overlap neighboring glyph
    BOXES without touching pixels — the case miniocr's
    connected-component segmenter exists for (column projection merges
    any x-overlap into one unmatchable pseudo-glyph)."""
    from documentconvert_spark.kernels.miniocr import CELL_H, FONT_5X7

    kern = kern or {}

    def crop_cols(rows: tuple) -> list[str]:
        xs = [x for x in range(len(rows[0])) if any(r[x] == "X" for r in rows)]
        return [r[xs[0]:xs[-1] + 1] for r in rows]

    placed: list[list[tuple[int, list[str]]]] = []
    wcols = 0
    for li, ln in enumerate(lines):
        cursor = 0
        cells: list[tuple[int, list[str]]] = []
        for ci, ch in enumerate(ln):
            if ch == " ":
                cursor += space_adv
                continue
            rows = FONT_5X7.get(ch.upper())
            if rows is None:
                continue
            glyph = crop_cols(rows)
            cursor += kern.get((li, ci), 0)
            if cursor < 0:
                # a kern past the left margin would index grid[y][neg]
                # and Python negative indexing silently paints the RIGHT
                # edge — a corrupt fixture with no error; fail loudly
                raise ValueError(
                    f"kern places glyph {(li, ci)} at negative column {cursor}"
                )
            cells.append((cursor, glyph))
            cursor += len(glyph[0]) + 1
            # track the max extent PER GLYPH, not the final cursor: a
            # negative kern on a trailing narrow glyph pulls the cursor
            # back below an earlier glyph's right edge and an
            # end-of-line-only max would undersize the grid (paint crash
            # or silently eaten right margin)
            wcols = max(wcols, cursor)
        placed.append(cells)
        wcols = max(wcols, cursor)
    w = 2 * margin + max(wcols - 1, 1) * scale
    h = 2 * margin + max(len(lines) * CELL_H - 1, 1) * scale
    grid = [bytearray([255]) * w for _ in range(h)]
    for li, cells in enumerate(placed):
        for cx, glyph in cells:
            for gy, grow in enumerate(glyph):
                for gx, bit in enumerate(grow):
                    if bit != "X":
                        continue
                    y0 = margin + (li * CELL_H + gy) * scale
                    x0 = margin + (cx + gx) * scale
                    for dy in range(scale):
                        for dx in range(scale):
                            grid[y0 + dy][x0 + dx] = 0
    return w, h, grid


def render_text_png_prop(lines: list[str], scale: int = 2, margin: int = 8,
                         kern: dict | None = None) -> bytes:
    """Proportional-font rendered-text PNG (r4 verdict OCR increment):
    variable glyph advance, optional kerned x-overlaps."""
    w, h, grid = _render_text_grid_prop(lines, scale, margin, kern=kern)
    return encode_gray_png(w, h, grid)


def render_text_jpeg(lines: list[str], scale: int = 2, margin: int = 8) -> bytes:
    """Rendered-text fixture as a NEAR-LOSSLESS baseline JPEG (generator
    side of the C4 OCR pair — the reference OCRs real ``jpg`` input,
    `services/document_service.py:652-665`)."""
    w, h, grid = _render_text_grid(lines, scale, margin)
    return encode_gray_jpeg(w, h, grid)


def _jpeg_quantized_blocks(w: int, h: int, grid: list,
                           pad_to: int = 1) -> tuple[int, int, list[list[int]]]:
    """Gray raster → per-block zigzag-ordered quantized coefficients
    (quant all ones), block grid padded to a multiple of `pad_to` blocks
    per side (1 = baseline 8×8, 2 = a 4:2:0 16×16 MCU lattice). Shared
    by the baseline and progressive JPEG emitters so both serialize the
    SAME coefficients — the decoder equality test isolates entropy
    coding from DCT math."""
    import numpy as np

    bw = -(- -(-w // 8) // pad_to) * pad_to
    bh = -(- -(-h // 8) // pad_to) * pad_to
    pad = np.full((bh * 8, bw * 8), 255.0)
    pad[:h, :w] = np.frombuffer(b"".join(bytes(r) for r in grid),
                                dtype=np.uint8).reshape(h, w)
    # FDCT basis (T.81 A.3.3): F = T (f-128) T^T
    basis = np.zeros((8, 8))
    for k in range(8):
        for n in range(8):
            c = (0.5 / np.sqrt(2.0)) if k == 0 else 0.5
            basis[k, n] = c * np.cos((2 * n + 1) * k * np.pi / 16.0)
    blocks = (pad - 128.0).reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coef = np.rint(basis[None, None] @ blocks @ basis.T[None, None]).astype(int)
    zz = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
          12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
          35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
          58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]
    out = []
    for by in range(bh):
        for bx in range(bw):
            blk = coef[by, bx].ravel()
            out.append([int(blk[z]) for z in zz])
    return bw, bh, out


class _JpegBitSink:
    """MSB-first bit emitter with 0xFF00 stuffing and restart markers."""

    def __init__(self) -> None:
        self.acc = 0
        self.n = 0
        self.out = bytearray()

    def put(self, code: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (code & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def byte_align(self) -> None:
        if self.n:  # pad with 1-bits (T.81 B.1.1.5)
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)

    def rst(self, m: int) -> None:
        self.byte_align()
        self.out += bytes([0xFF, 0xD0 + (m & 7)])


def encode_gray_jpeg(w: int, h: int, grid: list) -> bytes:
    """Grayscale raster → NEAR-LOSSLESS baseline JPEG bytes.

    From-scratch T.81 encoder: one gray component, quant table all ones
    (the only regime where exact glyph matching can survive a lossy
    format — reconstruction error is FDCT/IDCT rounding only, ≤2 gray
    levels), and fixed-length huffman tables (all DC categories at 4
    bits, all 162 AC symbols at 8 bits — canonical, spec-valid, and
    independent of the decoder's Annex-K-free table parsing). Shared by
    the OCR fixtures above and the MJPG frames of `render_avi`."""
    import struct as _struct

    bw, bh, zz_blocks = _jpeg_quantized_blocks(w, h, grid)
    dc_syms = list(range(12))                      # categories, 4-bit codes
    ac_syms = [0x00] + [(r << 4) | s for r in range(16) for s in range(1, 11)] + [0xF0]
    ac_code = {s: i for i, s in enumerate(ac_syms)}
    sink = _JpegBitSink()
    put = sink.put

    pred = 0
    for zzv in zz_blocks:
        diff = zzv[0] - pred
        pred = zzv[0]
        # DC: category code then magnitude bits
        t = 0
        a = abs(diff)
        while a:
            t += 1
            a >>= 1
        put(dc_syms.index(t), 4)
        if t:
            put(diff if diff > 0 else diff + (1 << t) - 1, t)
        run = 0
        for k in range(1, 64):
            v = zzv[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                put(ac_code[0xF0], 8)
                run -= 16
            s = 0
            a = abs(v)
            while a:
                s += 1
                a >>= 1
            put(ac_code[(run << 4) | s], 8)
            put(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            put(ac_code[0x00], 8)  # EOB
    sink.byte_align()
    scan = sink.out

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + _struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC0, _struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht_dc_bits = [0] * 16
    dht_dc_bits[3] = len(dc_syms)  # all length 4
    dht_ac_bits = [0] * 16
    dht_ac_bits[7] = len(ac_syms)  # all length 8
    dht = (seg(0xC4, bytes([0x00]) + bytes(dht_dc_bits) + bytes(dc_syms))
           + seg(0xC4, bytes([0x10]) + bytes(dht_ac_bits) + bytes(ac_syms)))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + dqt + sof + dht + sos + bytes(scan) + b"\xff\xd9")


def encode_gray_jpeg_progressive(w: int, h: int, grid: list,
                                 restart: int = 0,
                                 ycbcr420: bool = False) -> bytes:
    """NEAR-LOSSLESS progressive JPEG (SOF2, T.81 Annex G) carrying the
    SAME quantized coefficients as `encode_gray_jpeg` — the decoder
    equality test (progressive decode == baseline decode, pixel-exact)
    isolates the progressive entropy coding from the shared DCT math.

    Scan script exercises every progressive scan class:
      1. DC first  Al=1 (interleaved over Y+Cb+Cr when ycbcr420)
      2. AC first  band 1–5,  Al=2          (luma)
      3. AC first  band 6–63, Al=2          (luma; EOB-run coding)
      4. AC refine band 1–63, Ah=2 → Al=1   (correction bits)
      5. AC refine band 1–63, Ah=1 → Al=0
      6. chroma AC first scans (ycbcr420 only; all-zero → one EOB run)
      7. DC refine Ah=1 → Al=0
    so the successive approximation converges to the exact coefficients.
    With ycbcr420 the frame is 3-component 4:2:0 with neutral chroma —
    the shape real gray photos exported as YCbCr take."""
    import struct as _struct

    pad_to = 2 if ycbcr420 else 1
    bw, bh, zz_blocks = _jpeg_quantized_blocks(w, h, grid, pad_to=pad_to)
    nbx, nby = -(-w // 8), -(-h // 8)  # AC scans iterate the UNPADDED grid
    dc_syms = list(range(12))
    ac_syms = ([0x00] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
               + [0xF0] + [r << 4 for r in range(1, 15)])  # + EOBn symbols
    ac_code = {s: i for i, s in enumerate(ac_syms)}

    def mag(v: int, s: int) -> int:
        return v if v > 0 else v + (1 << s) - 1

    def dc_scan(al: int, ah: int) -> bytes:
        sink = _JpegBitSink()
        names = ("Y", "Cb", "Cr") if ycbcr420 else ("Y",)
        preds = dict.fromkeys(names, 0)
        mcus_x, mcus_y = bw // pad_to, bh // pad_to
        mi = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart and mi and mi % restart == 0:
                    sink.rst((mi // restart - 1) & 7)
                    preds = dict.fromkeys(names, 0)
                for name in names:
                    n_sub = pad_to if name == "Y" else 1
                    for v_ in range(n_sub):
                        for u in range(n_sub):
                            if name == "Y":
                                blk = zz_blocks[(my * n_sub + v_) * bw + mx * n_sub + u]
                                val = blk[0] >> al  # arithmetic shift (G.1.2.1)
                            else:
                                val = 0
                            if ah == 0:
                                diff = val - preds[name]
                                preds[name] = val
                                s = abs(diff).bit_length()
                                sink.put(s, 4)  # canonical: code == index
                                sink.put(mag(diff, s), s)
                            else:
                                sink.put(val & 1, 1)
                mi += 1
        sink.byte_align()
        return bytes(sink.out)

    def ac_first(ss: int, se: int, al: int) -> bytes:
        sink = _JpegBitSink()
        eobrun = 0

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                sink.put(ac_code[r << 4], 8)
                sink.put(eobrun - (1 << r), r)
                eobrun = 0

        bi = 0
        for by in range(nby):
            for bx in range(nbx):
                if restart and bi and bi % restart == 0:
                    flush_eob()
                    sink.rst((bi // restart - 1) & 7)
                blk = zz_blocks[by * bw + bx]
                run = 0
                emitted = False
                for k in range(ss, se + 1):
                    v = blk[k]
                    av = (abs(v) >> al) * (1 if v > 0 else -1)
                    if av == 0:
                        run += 1
                        continue
                    flush_eob()
                    while run > 15:
                        sink.put(ac_code[0xF0], 8)
                        run -= 16
                    s = abs(av).bit_length()
                    sink.put(ac_code[(run << 4) | s], 8)
                    sink.put(mag(av, s), s)
                    run = 0
                    emitted = True
                if run or not emitted:
                    eobrun += 1
                    if eobrun == 32767:
                        flush_eob()
                bi += 1
        flush_eob()
        sink.byte_align()
        return bytes(sink.out)

    def ac_refine(ss: int, se: int, al: int) -> bytes:
        sink = _JpegBitSink()
        eobrun = 0
        be: list[int] = []  # correction bits pending with the EOB run

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                sink.put(ac_code[r << 4], 8)
                sink.put(eobrun - (1 << r), r)
                for bit in be:
                    sink.put(bit, 1)
                be.clear()
                eobrun = 0

        bi = 0
        for by in range(nby):
            for bx in range(nbx):
                if restart and bi and bi % restart == 0:
                    flush_eob()
                    sink.rst((bi // restart - 1) & 7)
                blk = zz_blocks[by * bw + bx]
                absv = [abs(blk[k]) >> al for k in range(ss, se + 1)]
                # index of the last NEWLY-nonzero coef: zero runs past it
                # fold into the EOB instead of taking ZRL symbols — and the
                # ZRL loop must run at EVERY nonzero (history coefs too),
                # or correction bits interleave wrongly around the 16th
                # zero of a long run (decoder walk order, G.1.2.3)
                eob_idx = -1
                for i, t in enumerate(absv):
                    if t == 1:
                        eob_idx = i
                run = 0
                br: list[int] = []  # correction bits in the current run
                for i, t in enumerate(absv):
                    if t == 0:
                        run += 1
                        continue
                    while run > 15 and i <= eob_idx:
                        flush_eob()
                        sink.put(ac_code[0xF0], 8)
                        run -= 16
                        for bit in br:
                            sink.put(bit, 1)
                        br.clear()
                    if t > 1:  # visible at the previous precision
                        br.append(t & 1)
                        continue
                    # newly nonzero at this precision
                    flush_eob()
                    sink.put(ac_code[(run << 4) | 1], 8)
                    sink.put(1 if blk[ss + i] > 0 else 0, 1)
                    for bit in br:
                        sink.put(bit, 1)
                    br.clear()
                    run = 0
                if run or br:
                    eobrun += 1
                    be.extend(br)
                    if eobrun == 32767:
                        flush_eob()
                bi += 1
        flush_eob()
        sink.byte_align()
        return bytes(sink.out)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + _struct.pack(">H", len(body) + 2) + body

    def sos(comps: bytes, ss: int, se: int, ah: int, al: int) -> bytes:
        n = len(comps) // 2
        return seg(0xDA, bytes([n]) + comps + bytes([ss, se, (ah << 4) | al]))

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    if ycbcr420:
        frame_comps = bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    else:
        frame_comps = bytes([1, 0x11, 0])
    sof = seg(0xC2, _struct.pack(">BHHB", 8, h, w, len(frame_comps) // 3) + frame_comps)
    dht_dc_bits = [0] * 16
    dht_dc_bits[3] = len(dc_syms)
    dht_ac_bits = [0] * 16
    dht_ac_bits[7] = len(ac_syms)
    dht = (seg(0xC4, bytes([0x00]) + bytes(dht_dc_bits) + bytes(dc_syms))
           + seg(0xC4, bytes([0x10]) + bytes(dht_ac_bits) + bytes(ac_syms)))
    dri = seg(0xDD, _struct.pack(">H", restart)) if restart else b""
    dc_comps = frame_comps[::3]  # component ids
    dc_sel = b"".join(bytes([cid, 0x00]) for cid in dc_comps)
    out = bytearray(b"\xff\xd8" + dqt + sof + dht + dri)
    out += sos(dc_sel, 0, 0, 0, 1) + dc_scan(al=1, ah=0)
    out += sos(bytes([1, 0x00]), 1, 5, 0, 2) + ac_first(1, 5, 2)
    out += sos(bytes([1, 0x00]), 6, 63, 0, 2) + ac_first(6, 63, 2)
    out += sos(bytes([1, 0x00]), 1, 63, 2, 1) + ac_refine(1, 63, 1)
    out += sos(bytes([1, 0x00]), 1, 63, 1, 0) + ac_refine(1, 63, 0)
    if ycbcr420:
        # chroma AC scans: neutral chroma → pure EOB runs; the decoder
        # skips these bytewise, so they also pin _skip_entropy on
        # progressive layouts
        cbx, cby = -(-(-(-w // 2)) // 8), -(-(-(-h // 2)) // 8)
        for cid in (2, 3):
            sink = _JpegBitSink()
            run = 0

            def put_run() -> None:
                r = run.bit_length() - 1
                sink.put(ac_code[r << 4], 8)
                sink.put(run - (1 << r), r)

            # DRI applies to EVERY scan while active (T.81 E.1.5), and an
            # EOB run may not cross a restart boundary — emit RSTs here
            # too or the file is spec-invalid for conforming decoders
            for bi in range(cbx * cby):
                if restart and bi and bi % restart == 0:
                    if run:
                        put_run()
                        run = 0
                    sink.rst((bi // restart - 1) & 7)
                run += 1
                if run == 32767:
                    put_run()
                    run = 0
            if run:
                put_run()
            sink.byte_align()
            out += sos(bytes([cid, 0x00]), 1, 63, 0, 0) + bytes(sink.out)
    out += sos(dc_sel, 0, 0, 1, 0) + dc_scan(al=0, ah=1)
    out += b"\xff\xd9"
    return bytes(out)


def _gif_lzw_encode(idx: list, min_code: int) -> bytes:
    """GIF-variant LZW writer (LSB-first, variable width, clear/end)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    d = {bytes([i]): i for i in range(clear)}
    nxt, width = end + 1, min_code + 1
    emitted = [(clear, width)]
    prev = b""
    for px in idx:
        cur = prev + bytes([px])
        if cur in d:
            prev = cur
            continue
        emitted.append((d[prev], width))
        d[cur] = nxt
        if nxt == (1 << width) and width < 12:
            width += 1
        nxt += 1
        if nxt >= 4096:  # table full: reset
            emitted.append((clear, width))
            d = {bytes([i]): i for i in range(clear)}
            nxt, width = end + 1, min_code + 1
        prev = bytes([px])
    if prev:
        emitted.append((d[prev], width))
    emitted.append((end, width))
    acc = nbits = 0
    out = bytearray()
    for code, wd in emitted:
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_encode(w: int, h: int, idx: list, pal: list, min_code: int,
               interlace: bool = False) -> bytes:
    """Index raster + palette → a single-frame GIF89a. With ``interlace``
    the rows of ``idx`` must already be in the four-pass order."""
    bs = _gif_lzw_encode(idx, min_code)
    gct_bits = max(1, (len(pal) - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (gct_bits - 1), 0, 0)
    for r, g, b in pal + [(0, 0, 0)] * ((1 << gct_bits) - len(pal)):
        out += bytes((r, g, b))
    out += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0x40 if interlace else 0])
    out += bytes([min_code])
    for i in range(0, len(bs), 255):
        chunk = bs[i:i + 255]
        out += bytes([len(chunk)]) + bytes(chunk)
    out += b"\x00\x3B"
    return bytes(out)


def render_text_gif(lines: list[str], scale: int = 2, margin: int = 8) -> bytes:
    """Rendered-text GIF for the raster OCR route (lossless, so the
    exact glyph matcher applies with no quant-table gate)."""
    w, h, grid = _render_text_grid(lines, scale, margin)
    idx = [0 if px < 128 else 1 for row in grid for px in row]
    return gif_encode(w, h, idx, [(0, 0, 0), (255, 255, 255)], 2)


def encode_gif_anim(w: int, h: int, frames: list, pal_rgb: list,
                    min_code: int, bg_index: int = 0) -> bytes:
    """Animated GIF89a from frame specs. Each frame is a dict:
    idx (index raster, region-sized), left/top/fw/fh (region, defaults
    full canvas), disposal (0-3), transparent (index or None),
    delay_cs. Generator side of the animation-decode split —
    kernels/raster.decode_gif_frames must reproduce the composed
    canvases through an independent parse path."""
    import struct as _struct

    gct_bits = max(1, (len(pal_rgb) - 1).bit_length())
    ncol = 1 << gct_bits
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", w, h, 0x80 | (gct_bits - 1), bg_index, 0)
    for r, g, b in (pal_rgb + [(0, 0, 0)] * ncol)[:ncol]:
        out += bytes((r, g, b))
    for f in frames:
        left, top = f.get("left", 0), f.get("top", 0)
        fw, fh = f.get("fw", w), f.get("fh", h)
        transparent = f.get("transparent")
        gce = ((f.get("disposal", 0) & 7) << 2) | (1 if transparent is not None else 0)
        out += bytes((0x21, 0xF9, 4, gce))
        out += _struct.pack("<H", f.get("delay_cs", 10))
        out += bytes((transparent if transparent is not None else 0, 0))
        out += b"\x2C" + _struct.pack("<HHHH", left, top, fw, fh) + b"\x00"
        out += bytes([min_code])
        bs = _gif_lzw_encode(f["idx"], min_code)
        for i in range(0, len(bs), 255):
            chunk = bs[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


# -- bilevel (0/255) frame grids for the AVI and MP4 writers below -----------

def box_frames(w: int, h: int, n: int) -> list:
    """Growing filled box, one bilevel grid per frame."""
    out = []
    for f in range(n):
        g = [bytearray([255] * w) for _ in range(h)]
        side = 4 + 2 * f
        for y in range(2, min(2 + side, h - 2)):
            for x in range(2 + f, min(2 + f + side, w - 2)):
                g[y][x] = 0
        out.append(g)
    return out


def band_frames(w: int, h: int, n: int) -> list:
    """Top band of f+2 black rows per frame."""
    return [
        [bytearray([0] * w) if y < f + 2 else bytearray([255] * w)
         for y in range(h)]
        for f in range(n)
    ]


# -- AVI video fixtures (generator side of the video-decode split) -----------
# The reference's media surface stops at container metadata for video (no
# decoder ships in its pipeline either — MinerU handles documents only);
# the engine's training-data tier needs real frame pixels, so the fixture
# generator writes genuine RIFF/AVI files (Microsoft "AVI RIFF File
# Reference": hdrl/avih/strl/strh/strf + movi + idx1) carrying either
# MJPG (baseline-JPEG) or uncompressed bottom-up BI_RGB DIB frames.
# kernels/media.decode_avi_frames must get the pixels back through an
# independent parse path.

def render_avi(w: int, h: int, grids: list, fps: int = 10,
               codec: str = "MJPG") -> bytes:
    """Gray frame rasters → a complete AVI file.

    ``grids`` is a list of frames, each a list of ``w``-byte rows.
    ``codec`` is ``"MJPG"`` (frames as near-lossless baseline JPEG via
    `encode_gray_jpeg`) or ``"DIB "`` (uncompressed 24-bit bottom-up
    BI_RGB with 4-byte row padding, gray replicated to BGR)."""
    import struct as _st

    def chunk(cc: bytes, body: bytes) -> bytes:
        return cc + _st.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    if codec == "MJPG":
        payloads = [encode_gray_jpeg(w, h, g) for g in grids]
        ckid, compression = b"00dc", int.from_bytes(b"MJPG", "little")
    elif codec == "DIB ":
        pad = b"\x00" * ((-(w * 3)) % 4)
        payloads = [
            b"".join(bytes(v for px in row for v in (px, px, px)) + pad
                     for row in reversed(g))
            for g in grids
        ]
        ckid, compression = b"00db", 0  # BI_RGB
    else:
        raise ValueError(f"render_avi: unsupported codec {codec!r}")

    n = len(grids)
    buf_size = max((len(p) for p in payloads), default=0)
    avih = chunk(b"avih", _st.pack(
        "<10I16x", 1_000_000 // fps, buf_size * fps, 0, 0x10, n, 0, 1,
        buf_size, w, h))
    strh = chunk(b"strh", b"vids" + codec.encode("ascii") + _st.pack(
        "<IIIIIIIIII4H", 0, 0, 0, 1, fps, 0, n, buf_size, 0xFFFFFFFF, 0,
        0, 0, w, h))
    strf = chunk(b"strf", _st.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression,
        len(payloads[0]) if payloads else 0, 0, 0, 0, 0))
    hdrl = lst(b"hdrl", avih + lst(b"strl", strh + strf))

    movi_body = b"movi"
    idx = b""
    for p in payloads:
        # idx1 offsets point at the chunk id, relative to the 'movi' fourcc
        idx += ckid + _st.pack("<III", 0x10, len(movi_body), len(p))
        movi_body += chunk(ckid, p)
    movi = chunk(b"LIST", movi_body)
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + _st.pack("<I", len(riff_body)) + riff_body


# -- MP4 (ISO-BMFF) motion-JPEG fixtures --------------------------------------
# The reference sniffs MP4 container metadata only (no video decoder ships
# in its pipeline); the engine carves MJPEG-in-MP4 sample tables so frame
# pixels flow through the same real-codec surface as AVI. This writer
# produces genuine ISO base-media files (ISO/IEC 14496-12: ftyp + mdat +
# moov with a full stbl — stsd/stts/stsc/stsz/stco) carrying baseline-JPEG
# 'jpeg' samples; kernels/media.decode_mp4_frames must get the pixels back
# through an independent parse of the sample tables.

_MP4_MATRIX = struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0,
                          0, 0, 0x40000000)


def render_mp4_mjpeg(w: int, h: int, grids: list, fps: int = 10) -> bytes:
    """Gray frame rasters → a complete MJPEG-in-MP4 file.

    Samples are grouped two per chunk (odd trailing chunk of one) so the
    decoder's stsc run expansion is exercised for real, not just the
    degenerate one-sample-per-chunk layout. mdat precedes moov, so every
    stco offset is known before the sample tables are serialized."""
    import struct as _st

    def box(t: bytes, body: bytes) -> bytes:
        return _st.pack(">I", len(body) + 8) + t + body

    payloads = [encode_gray_jpeg(w, h, g) for g in grids]
    n = len(payloads)
    ftyp = box(b"ftyp", b"isom" + _st.pack(">I", 0x200) + b"isomiso2mp41")
    mdat = box(b"mdat", b"".join(payloads))

    # absolute file offsets of each sample (mdat body follows ftyp + header)
    pos = len(ftyp) + 8
    sample_offsets = []
    for p in payloads:
        sample_offsets.append(pos)
        pos += len(p)
    chunk_offsets = [sample_offsets[i] for i in range(0, n, 2)]

    # VisualSampleEntry 'jpeg' (86 bytes: 14496-12 §12.1.3)
    entry = (_st.pack(">I", 86) + b"jpeg" + bytes(6) + _st.pack(">H", 1)
             + bytes(16)                      # pre_defined/reserved
             + _st.pack(">HH", w, h)
             + _st.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
             + _st.pack(">IH", 0, 1)          # reserved, frame_count
             + bytes(32)                      # compressorname
             + _st.pack(">Hh", 24, -1))       # depth, pre_defined
    stsd = box(b"stsd", _st.pack(">II", 0, 1) + entry)
    delta, timescale = 100, fps * 100
    stts = box(b"stts", _st.pack(">IIII", 0, 1, n, delta))
    runs = [(1, 1, 1)] if n == 1 else [(1, 2, 1)]
    if n > 1 and n % 2:
        runs.append((n // 2 + 1, 1, 1))
    stsc = box(b"stsc", _st.pack(">II", 0, len(runs))
               + b"".join(_st.pack(">III", *r) for r in runs))
    stsz = box(b"stsz", _st.pack(">III", 0, 0, n)
               + b"".join(_st.pack(">I", len(p)) for p in payloads))
    stco = box(b"stco", _st.pack(">II", 0, len(chunk_offsets))
               + b"".join(_st.pack(">I", o) for o in chunk_offsets))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = box(b"vmhd", _st.pack(">I", 1) + bytes(8))
    dinf = box(b"dinf", box(b"dref", _st.pack(">II", 0, 1)
                            + box(b"url ", _st.pack(">I", 1))))
    minf = box(b"minf", vmhd + dinf + stbl)
    dur = n * delta
    mdhd = box(b"mdhd", _st.pack(">IIIII", 0, 0, 0, timescale, dur)
               + _st.pack(">HH", 0x55C4, 0))
    hdlr = box(b"hdlr", bytes(8) + b"vide" + bytes(12) + b"VideoHandler\x00")
    mdia = box(b"mdia", mdhd + hdlr + minf)
    mv_dur = n * 1000 // fps  # movie timescale is 1000
    tkhd = box(b"tkhd", _st.pack(">IIIIII", 7, 0, 0, 1, 0, mv_dur)
               + bytes(8) + _st.pack(">HHHH", 0, 0, 0, 0) + _MP4_MATRIX
               + _st.pack(">II", w << 16, h << 16))
    trak = box(b"trak", tkhd + mdia)
    mvhd = box(b"mvhd", _st.pack(">IIIII", 0, 0, 0, 1000, mv_dur)
               + _st.pack(">IHH", 0x00010000, 0x0100, 0) + bytes(8)
               + _MP4_MATRIX + bytes(24) + _st.pack(">I", 2))
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


# -- FLAC audio fixtures (generator side of the audio-decode split) ----------
# The engine decodes RIFF/WAVE PCM and (kernels/miniflac.py) real FLAC
# streams; this writer produces genuine FLAC files from the public spec
# so the decoder is exercised through an independent parse path. FLAC is
# lossless: whatever samples go in here come out of the decoder exactly,
# which is what makes the audio oracle derivable from source samples.

class _FlacBits:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def w(self, v: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (v & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.buf.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def align(self) -> None:
        if self.n:
            self.w(0, 8 - self.n)

    def data(self) -> bytes:
        return bytes(self.buf)


def _flac_rice(bw: "_FlacBits", residuals: list[int]) -> None:
    """Method-0 rice coding, single partition, parameter sized so unary
    quotients stay short (≤64)."""
    zig = [(v << 1) ^ (v >> 63) for v in residuals]
    p = min(14, max(0, (max(zig, default=0)).bit_length() - 6))
    bw.w(0, 2)   # coding method 0 (4-bit params)
    bw.w(0, 4)   # partition order 0
    bw.w(p, 4)
    for u in zig:
        q = u >> p
        bw.w(0, q)
        bw.w(1, 1)
        if p:
            bw.w(u & ((1 << p) - 1), p)


def encode_flac(sr: int, chans: list[list[int]], blocksize: int = 256,
                mode: str = "fixed1") -> bytes:
    """Per-channel int16 samples → a complete FLAC stream.

    ``mode`` picks the subframe strategy: ``verbatim``, ``fixed1`` /
    ``fixed2`` (FIXED predictors + rice residuals), ``lpc`` (order-1
    LPC with coefficient 1, shift 0 — the spec-general path carrying
    fixed-1 semantics), or a stereo decorrelation: ``leftside``,
    ``rightside``, ``midside`` (side channel at 17 bits, subframes as
    fixed1). Constant runs always encode as CONSTANT.
    All frames use a 16-bit blocksize-1 header code, streaminfo-coded
    sample rate and explicit 16-bit sample size."""
    from documentconvert_spark.kernels.miniflac import crc8, crc16

    ch = len(chans)
    total = len(chans[0])
    bw = _FlacBits()  # STREAMINFO body
    bw.w(blocksize, 16)
    bw.w(blocksize, 16)
    bw.w(0, 24)
    bw.w(0, 24)
    bw.w(sr, 20)
    bw.w(ch - 1, 3)
    bw.w(15, 5)  # bps-1 = 16-bit
    bw.w(total, 36)
    streaminfo = bw.data() + bytes(16)  # md5 unset (optional per spec)
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo

    def subframe(bw: "_FlacBits", s: list[int], bps: int) -> None:
        # stereo decorrelations are CHANNEL strategies; their subframes
        # encode as fixed1
        strat = "fixed1" if mode in ("leftside", "rightside", "midside") else mode
        if all(v == s[0] for v in s):
            bw.w(0, 1); bw.w(0, 6); bw.w(0, 1)
            bw.w(s[0], bps)
            return
        if strat == "verbatim":
            bw.w(0, 1); bw.w(1, 6); bw.w(0, 1)
            for v in s:
                bw.w(v, bps)
        elif strat in ("fixed1", "fixed2"):
            order = 1 if strat == "fixed1" else 2
            bw.w(0, 1); bw.w(8 + order, 6); bw.w(0, 1)
            for v in s[:order]:
                bw.w(v, bps)
            if order == 1:
                res = [s[i] - s[i - 1] for i in range(1, len(s))]
            else:
                res = [s[i] - 2 * s[i - 1] + s[i - 2] for i in range(2, len(s))]
            _flac_rice(bw, res)
        elif strat == "lpc":
            bw.w(0, 1); bw.w(32, 6); bw.w(0, 1)  # LPC order 1
            bw.w(s[0], bps)
            bw.w(14, 4)  # precision-1 = 15 bits
            bw.w(0, 5)   # shift 0
            bw.w(1, 15)  # coefficient [1] → prediction = previous sample
            _flac_rice(bw, [s[i] - s[i - 1] for i in range(1, len(s))])
        else:
            raise ValueError(f"encode_flac: unknown mode {strat!r}")

    fno = 0
    for lo in range(0, total, blocksize):
        block = [c[lo:lo + blocksize] for c in chans]
        bs = len(block[0])
        bw = _FlacBits()
        bw.w(0x3FFE, 14)
        bw.w(0, 1)
        bw.w(0, 1)   # fixed blocksize stream: coded number = frame number
        bw.w(7, 4)   # blocksize: 16-bit value-1 follows
        bw.w(0, 4)   # sample rate: from STREAMINFO
        _STEREO_CA = {"leftside": 8, "rightside": 9, "midside": 10}
        ca = _STEREO_CA.get(mode, ch - 1) if ch == 2 else ch - 1
        bw.w(ca, 4)
        bw.w(4, 3)   # sample size: 16-bit
        bw.w(0, 1)
        # UTF-8-style coded number, general form (frame numbers up to
        # 2^31: 1 leading byte with n length bits + (n-1) continuations)
        if fno < 0x80:
            bw.w(fno, 8)
        else:
            # n-byte form carries (7-n) + 6(n-1) = 5n+1 payload bits
            nbytes = next(n for n in range(2, 8) if fno < (1 << (5 * n + 1)))
            lead_bits = 7 - nbytes
            bw.w((0xFF << (lead_bits + 1)) & 0xFF
                 | (fno >> (6 * (nbytes - 1))), 8)
            for k in range(nbytes - 2, -1, -1):
                bw.w(0x80 | ((fno >> (6 * k)) & 0x3F), 8)
        bw.w(bs - 1, 16)
        header = bw.data()
        bw = _FlacBits()
        bw.buf = bytearray(header)
        bw.w(crc8(header), 8)
        if ca == 8:  # left/side: side = left - right at 17 bits
            subframe(bw, block[0], 16)
            side = [l - r for l, r in zip(block[0], block[1])]
            subframe(bw, side, 17)
        elif ca == 9:  # right/side: side first, then right
            side = [l - r for l, r in zip(block[0], block[1])]
            subframe(bw, side, 17)
            subframe(bw, block[1], 16)
        elif ca == 10:  # mid/side: mid = (l+r)>>1 keeps the dropped low
            # bit inside side (decoder restores it from side & 1)
            side = [l - r for l, r in zip(block[0], block[1])]
            mid = [(l + r) >> 1 for l, r in zip(block[0], block[1])]
            subframe(bw, mid, 16)
            subframe(bw, side, 17)
        else:
            for c in range(ch):
                subframe(bw, block[c], 16)
        bw.align()
        frame = bw.data()
        out += frame + crc16(frame).to_bytes(2, "big")
        fno += 1
    return bytes(out)


# -- TIFF (generator side of kernels/raster.decode_tiff_gray) --------------

def packbits_encode(raw: bytes) -> bytes:
    """Apple PackBits (TIFF 6.0 §9) writer: repeat runs ≥3, literal runs
    otherwise, both capped at 128 per op."""
    out = bytearray()
    i, n = 0, len(raw)
    lit = i

    def flush(lo: int, hi: int) -> None:
        j = lo
        while j < hi:
            k = min(hi, j + 128)
            out.append(k - j - 1)
            out.extend(raw[j:k])  # += would rebind `out` local to flush
            j = k

    while i < n:
        run = 1
        while i + run < n and raw[i + run] == raw[i] and run < 128:
            run += 1
        if run >= 3:
            flush(lit, i)
            out.append(257 - run)
            out.append(raw[i])
            i += run
            lit = i
        else:
            i += run
    flush(lit, i)
    return bytes(out)


def tiff_encode(end: str, w: int, h: int, photo: int, strips: list[bytes],
                 rps: int, comp: int = 1, bps: int = 8, spp: int = 1,
                 pred: int = 1, colormap: list[int] | None = None) -> bytes:
    """Assemble a baseline TIFF: header, strip data, out-of-line tag
    payloads, IFD0 (tags ascending per spec). `strips` are the
    already-compressed per-strip byte payloads."""
    body = bytearray()
    offs: list[int] = []
    counts: list[int] = []
    for s in strips:
        offs.append(8 + len(body))
        counts.append(len(s))
        body += s
    tags: list[tuple[int, int, list[int]]] = [
        (256, 4, [w]), (257, 4, [h]), (258, 3, [bps] * spp), (259, 3, [comp]),
        (262, 3, [photo]), (273, 4, offs), (277, 3, [spp]), (278, 4, [rps]),
        (279, 4, counts),
    ]
    if pred != 1:
        tags.append((317, 3, [pred]))
    if colormap is not None:
        tags.append((320, 3, colormap))
    tags.sort()
    extra = bytearray()
    extra_base = 8 + len(body)
    ifd = bytearray(struct.pack(end + "H", len(tags)))
    for tag, typ, vals in tags:
        fchar = {3: "H", 4: "I"}[typ]
        payload = struct.pack(end + fchar * len(vals), *vals)
        if len(payload) <= 4:
            ifd += struct.pack(end + "HHI", tag, typ, len(vals)) + payload.ljust(4, b"\0")
        else:
            ifd += struct.pack(end + "HHII", tag, typ, len(vals), extra_base + len(extra))
            extra += payload
    ifd += struct.pack(end + "I", 0)  # no next IFD
    hdr = (b"II*\x00" if end == "<" else b"MM\x00*") + struct.pack(
        end + "I", extra_base + len(extra))
    return hdr + bytes(body) + bytes(extra) + bytes(ifd)


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """TIFF/PDF LZW writer: MSB-first 9-12-bit codes with clear/EOD;
    ``early`` is the PDF /EarlyChange code-width shift."""
    codes: list[tuple[int, int]] = []
    d = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    codes.append((256, width))
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in d:
            w = wc
            continue
        codes.append((d[w], width))
        if next_code < 4096:
            d[wc] = next_code
            next_code += 1
            if next_code + early - 1 >= (1 << width) and width < 12:
                width += 1
        w = bytes([ch])
    if w:
        codes.append((d[w], width))
    codes.append((257, width))
    buf = bits = 0
    out = bytearray()
    for code, wd in codes:
        buf = (buf << wd) | code
        bits += wd
        while bits >= 8:
            bits -= 8
            out.append((buf >> bits) & 0xFF)
    if bits:
        out.append((buf << (8 - bits)) & 0xFF)
    return bytes(out)


def render_text_tiff(lines: list[str], scale: int = 2, margin: int = 8,
                     antialias: bool = False) -> bytes:
    """Rendered-text TIFF for the raster OCR route: big-endian,
    WhiteIsZero grayscale, LZW-compressed 16-row strips under the
    horizontal-differencing Predictor — one fixture drives the whole
    baseline decode path (tiff is in the reference's OCR whitelist,
    document_service.py:652)."""
    w, h, grid = _render_text_grid(lines, scale, margin)
    if antialias:
        grid = antialias_grid(grid)
    rps = 16
    strips = []
    for y0 in range(0, h, rps):
        raw = bytearray()
        for row in grid[y0:y0 + rps]:
            stored = bytes(255 - px for px in row)  # WhiteIsZero polarity
            raw += bytes(((stored[i] - (stored[i - 1] if i else 0)) & 0xFF)
                         for i in range(w))
        strips.append(_lzw_encode(bytes(raw)))
    return tiff_encode(">", w, h, 0, strips, rps, comp=5, pred=2)


# -- WebP VP8L writers (generator side of the lossless-webp split) -----------
# Independent implementation of the public "WebP Lossless Bitstream
# Specification" encode side: LSB-first bit packing, canonical prefix
# codes (simple and code-length-coded with 16/17/18 repeats), LZ77
# same-pixel runs, color cache, and the subtract-green / fixed-mode
# predictor / cross-color / palette transforms. kernels/miniwebp.py must
# decode every shape back pixel-exact.

class _WpBits:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, v: int, k: int) -> None:  # LSB-first
        self.acc |= (v & ((1 << k) - 1)) << self.n
        self.n += k
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def code(self, c: int, ln: int) -> None:  # prefix code: MSB first
        for i in range(ln - 1, -1, -1):
            self.put((c >> i) & 1, 1)

    def done(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _wp_lengths(freqs: dict[int, int], max_depth: int = 15) -> dict[int, int]:
    """Huffman code lengths from frequencies (≥3 distinct symbols),
    depth-limited: when the optimal tree exceeds max_depth the
    frequencies are flattened (halved toward 1) and rebuilt — the
    standard trick; slightly suboptimal codes, always valid."""
    import heapq

    cur = {s: f for s, f in freqs.items() if f}
    if len(cur) > 1 << max_depth:
        raise ValueError("vp8l writer: alphabet too large for depth cap")
    while True:
        heap = [(f, s, (s,)) for s, f in sorted(cur.items())]
        heapq.heapify(heap)
        depths = dict.fromkeys(cur, 0)
        while len(heap) > 1:
            f1, t1, g1 = heapq.heappop(heap)
            f2, t2, g2 = heapq.heappop(heap)
            for s in g1 + g2:
                depths[s] += 1
            heapq.heappush(heap, (f1 + f2, min(t1, t2), g1 + g2))
        if max(depths.values(), default=0) <= max_depth:
            return depths
        cur = {s: (f + 1) // 2 for s, f in cur.items()}


def _wp_canonical(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """(length, symbol)-ordered canonical code assignment."""
    codes = {}
    code = 0
    prev_len = 0
    for s, ln in sorted(lengths.items(), key=lambda kv: (kv[1], kv[0])):
        code <<= ln - prev_len
        codes[s] = (code, ln)
        code += 1
        prev_len = ln
    return codes


def _wp_write_code(bits: _WpBits, lengths: dict[int, int],
                   alphabet: int) -> dict[int, tuple[int, int]]:
    """Emit one prefix-code header; return symbol → (code, len)."""
    present = sorted(lengths)
    if len(present) <= 2 and all(present[i] < 256 for i in range(len(present))):
        bits.put(1, 1)  # simple
        bits.put(len(present) - 1, 1)
        s0 = present[0]
        if s0 < 2:
            bits.put(0, 1)
            bits.put(s0, 1)
        else:
            bits.put(1, 1)
            bits.put(s0, 8)
        if len(present) == 2:
            bits.put(present[1], 8)
            return {present[0]: (0, 1), present[1]: (1, 1)}
        return {s0: (0, 0)}
    bits.put(0, 1)  # normal
    # code-length sequence over the full alphabet, RLE-compressed with
    # 17 (3-10 zeros) / 18 (11-138 zeros) — exercises the repeat paths
    seq: list[tuple[int, int]] = []  # (cl_symbol, extra_payload_bits<<8|nbits)
    i = 0
    while i < alphabet:
        ln = lengths.get(i, 0)
        if ln == 0:
            j = i
            while j < alphabet and lengths.get(j, 0) == 0:
                j += 1
            run = j - i
            while run >= 11:
                n = min(run, 138)
                seq.append((18, ((n - 11) << 8) | 7))
                run -= n
            while run >= 3:
                n = min(run, 10)
                seq.append((17, ((n - 3) << 8) | 3))
                run -= n
            for _ in range(run):
                seq.append((0, 0))
            i = j
        else:
            seq.append((ln, 0))
            i += 1
    clc_freq: dict[int, int] = {}
    for s, _ in seq:
        clc_freq[s] = clc_freq.get(s, 0) + 1
    if len(clc_freq) == 1:
        clc_len = {next(iter(clc_freq)): 1}
    elif len(clc_freq) == 2:
        clc_len = dict.fromkeys(clc_freq, 1)
    else:
        clc_len = _wp_lengths(clc_freq, max_depth=7)  # 3-bit CL lengths
    # degenerate 1-symbol codes read as 0 bits (see return below)
    clc_codes = ({next(iter(clc_len)): (0, 0)} if len(clc_len) == 1
                 else _wp_canonical(clc_len))
    bits.put(19 - 4, 4)  # transmit all 19 code-length-code lengths
    for s in _WP_CLC_ORDER:
        bits.put(clc_len.get(s, 0), 3)
    bits.put(0, 1)  # no max-symbol shortcut
    for s, extra in seq:
        c, ln = clc_codes[s]
        bits.code(c, ln)
        if extra:
            bits.put(extra >> 8, extra & 0xFF)
    if len(lengths) == 1:
        # degenerate normal code: decoders read 0 bits per symbol
        return {next(iter(lengths)): (0, 0)}
    return _wp_canonical(lengths)


_WP_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _wp_prefix(v: int) -> tuple[int, int, int]:
    """LZ77 length/distance value → (prefix symbol, n extra bits, extra)."""
    if v <= 4:
        return v - 1, 0, 0
    for s in range(4, 40):
        extra = (s - 2) >> 1
        off = (2 + (s & 1)) << extra
        if off + 1 <= v <= off + (1 << extra):
            return s, extra, v - off - 1
    raise ValueError("vp8l writer: value out of prefix range")


def _wp_entropy_image(bits: _WpBits, w: int, h: int, pix: list[int],
                      cache_bits: int = 0, lz77: bool = False,
                      level0: bool = False) -> None:
    """Emit one entropy-coded image (no transforms here)."""
    bits.put(1 if cache_bits else 0, 1)
    if cache_bits:
        bits.put(cache_bits, 4)
    if level0:
        bits.put(0, 1)  # no meta-prefix image
    cache = [None] * (1 << cache_bits) if cache_bits else None
    tokens: list[tuple] = []
    i = 0
    n = len(pix)
    while i < n:
        px = pix[i]
        if lz77 and i and pix[i - 1] == px:
            run = 1
            while i + run < n and pix[i + run] == px and run < 4000:
                run += 1
            if run >= 4:
                tokens.append(("copy", run, 1))
                if cache is not None:
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px
                i += run
                continue
        if cache is not None:
            slot = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[slot] == px:
                tokens.append(("cache", slot))
                i += 1
                continue
            cache[slot] = px
        tokens.append(("lit", px))
        i += 1
    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            gf[(px >> 8) & 0xFF] = gf.get((px >> 8) & 0xFF, 0) + 1
            rf[(px >> 16) & 0xFF] = rf.get((px >> 16) & 0xFF, 0) + 1
            bf[px & 0xFF] = bf.get(px & 0xFF, 0) + 1
            af[px >> 24] = af.get(px >> 24, 0) + 1
        elif t[0] == "copy":
            ls, _, _ = _wp_prefix(t[1])
            gf[256 + ls] = gf.get(256 + ls, 0) + 1
            ds, _, _ = _wp_prefix(t[2] + 120)  # plain scan-line distance
            df[ds] = df.get(ds, 0) + 1
        else:
            gf[280 + t[1]] = gf.get(280 + t[1], 0) + 1
    for f in (rf, bf, af, df):
        if not f:
            f[0] = 1  # unused codes still need one symbol

    def lens(freqs: dict[int, int]) -> dict[int, int]:
        if len(freqs) == 1:
            return {next(iter(freqs)): 1}
        if len(freqs) == 2:
            return dict.fromkeys(freqs, 1)
        return _wp_lengths(freqs)

    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    gc = _wp_write_code(bits, lens(gf), green_alpha)
    rc = _wp_write_code(bits, lens(rf), 256)
    bc = _wp_write_code(bits, lens(bf), 256)
    ac = _wp_write_code(bits, lens(af), 256)
    dc = _wp_write_code(bits, lens(df), 40)
    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            bits.code(*gc[(px >> 8) & 0xFF])
            bits.code(*rc[(px >> 16) & 0xFF])
            bits.code(*bc[px & 0xFF])
            bits.code(*ac[px >> 24])
        elif t[0] == "copy":
            ls, ln_bits, ln_extra = _wp_prefix(t[1])
            bits.code(*gc[256 + ls])
            bits.put(ln_extra, ln_bits)
            ds, d_bits, d_extra = _wp_prefix(t[2] + 120)
            bits.code(*dc[ds])
            bits.put(d_extra, d_bits)
        else:
            bits.code(*gc[280 + t[1]])


def _wp_sub_px(a: int, b: int) -> int:
    """Channelwise modular subtraction a - b (forward transforms)."""
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((a >> sh) & 0xFF) - ((b >> sh) & 0xFF)) & 0xFF) << sh
    return out


def encode_vp8l(w: int, h: int, argb: list[int], *, cache_bits: int = 0,
                lz77: bool = False, subtract_green: bool = False,
                predictor_mode: int | None = None,
                color_deltas: tuple[int, int, int] | None = None,
                palette: list[int] | None = None) -> bytes:
    """ARGB pixels → complete lossless .webp file (RIFF + VP8L)."""
    bits = _WpBits()
    bits.put(0x2F, 8)
    bits.put(w - 1, 14)
    bits.put(h - 1, 14)
    bits.put(1 if any(px >> 24 != 0xFF for px in argb) else 0, 1)
    bits.put(0, 3)  # version
    pix = list(argb)
    dec_w = w
    if palette is not None:
        # indices replace pixels; palette is delta-coded as a nested image
        lookup = {px: i for i, px in enumerate(palette)}
        idxs = [lookup[px] for px in pix]
        bits.put(1, 1)
        bits.put(3, 2)
        bits.put(len(palette) - 1, 8)
        deltas = [palette[0]] + [_wp_sub_px(palette[i], palette[i - 1])
                                 for i in range(1, len(palette))]
        _wp_entropy_image(bits, len(palette), 1, deltas)
        psize = len(palette)
        wb = 3 if psize <= 2 else 2 if psize <= 4 else 1 if psize <= 16 else 0
        if wb:
            nper = 1 << wb
            bpp = 8 >> wb
            dec_w = -(-w // nper)
            packed = []
            for y in range(h):
                for bx in range(dec_w):
                    v = 0
                    for k in range(nper):
                        x = bx * nper + k
                        if x < w:
                            v |= idxs[y * w + x] << (k * bpp)
                    packed.append(0xFF000000 | (v << 8))
            pix = packed
        else:
            pix = [0xFF000000 | (ix << 8) for ix in idxs]
    if subtract_green:
        bits.put(1, 1)
        bits.put(2, 2)
        pix = [(px & 0xFF00FF00)
               | (((((px >> 16) & 0xFF) - ((px >> 8) & 0xFF)) & 0xFF) << 16)
               | ((((px & 0xFF) - ((px >> 8) & 0xFF)) & 0xFF))
               for px in pix]
    if color_deltas is not None:
        g2r, g2b, r2b = color_deltas

        def delta(t: int, c: int) -> int:
            ts = t - 256 if t > 127 else t
            cs = c - 256 if c > 127 else c
            return (ts * cs) >> 5

        bits.put(1, 1)
        bits.put(1, 2)
        size_bits = 2
        bits.put(size_bits - 2, 3)
        mw, mh = -(-dec_w // 4), -(-h // 4)
        elem = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
        _wp_entropy_image(bits, mw, mh, [elem] * (mw * mh))
        out = []
        for px in pix:  # forward: subtract the deltas the inverse adds
            g = (px >> 8) & 0xFF
            r_orig = (px >> 16) & 0xFF
            b = (px & 0xFF) - delta(g2b, g) - delta(r2b, r_orig)
            r = (r_orig - delta(g2r, g)) & 0xFF
            out.append((px & 0xFF00FF00) | (r << 16) | (b & 0xFF))
        pix = out
    if predictor_mode is not None:
        from documentconvert_spark.kernels.miniwebp import (
            _avg2, _cas_full, _cas_half, _select)

        bits.put(1, 1)
        bits.put(0, 2)
        size_bits = 2
        bits.put(size_bits - 2, 3)
        mw, mh = -(-dec_w // 4), -(-h // 4)
        _wp_entropy_image(bits, mw, mh,
                          [0xFF000000 | (predictor_mode << 8)] * (mw * mh))
        m = predictor_mode
        out = []
        for y in range(h):
            for x in range(dec_w):
                i = y * dec_w + x
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = pix[i - 1]
                elif x == 0:
                    pred = pix[i - dec_w]
                else:
                    lf, tp = pix[i - 1], pix[i - dec_w]
                    tl = pix[i - dec_w - 1]
                    # contiguous-buffer TR rule (spec §5): rightmost
                    # column uses the current row's leftmost pixel
                    tr = pix[i - dec_w + 1]
                    pred = [0xFF000000, lf, tp, tr, tl,
                            _avg2(_avg2(lf, tr), tp), _avg2(lf, tl),
                            _avg2(lf, tp), _avg2(tl, tp), _avg2(tp, tr),
                            _avg2(_avg2(lf, tl), _avg2(tp, tr)),
                            _select(tp, lf, tl), _cas_full(lf, tp, tl),
                            _cas_half(lf, tp, tl)][m]
                out.append(_wp_sub_px(pix[i], pred))
        pix = out
    bits.put(0, 1)  # end of transforms
    _wp_entropy_image(bits, dec_w, h, pix, cache_bits=cache_bits,
                      lz77=lz77, level0=True)
    payload = bits.done()
    if len(payload) & 1:
        chunk = struct.pack("<I", len(payload)) + payload + b"\x00"
    else:
        chunk = struct.pack("<I", len(payload)) + payload
    body = b"WEBP" + b"VP8L" + chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


def render_text_webp(lines: list[str], scale: int = 2, margin: int = 8,
                     antialias: bool = False) -> bytes:
    """Rendered-text lossless WebP for the raster OCR route — exercises
    LZ77 runs, the color cache and subtract-green in one fixture."""
    w, h, grid = _render_text_grid(lines, scale, margin)
    if antialias:
        grid = antialias_grid(grid)
    argb = [0xFF000000 | (p << 16) | (p << 8) | p for row in grid for p in row]
    return encode_vp8l(w, h, argb, cache_bits=4, lz77=True, subtract_green=True)


# -- classic-xref PDF writers (generator side of kernels/realpdf) -----------
# Objects are {number: body after "N 0 obj"}; classic_pdf lays them out
# in number order with a classic xref table. The builders below cover the
# filter, encryption and font paths the crafted fixtures, the fuzz seeds
# and the unit tests share.

PDF_FONT = b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>"


def classic_pdf(objects: dict[int, bytes], version: bytes = b"1.4",
                trailer: bytes = b"") -> bytes:
    """Assemble a classic-xref PDF; ``trailer`` is appended inside the
    trailer dictionary after /Root."""
    out = bytearray(b"%%PDF-%s\n" % version)
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objects[num] + b"\nendobj\n"
    xref_at = len(out)
    maxn = max(objects) + 1
    out += b"xref\n0 %d\n" % maxn
    out += b"0000000000 65535 f \n"
    for n in range(1, maxn):
        out += b"%010d 00000 n \n" % offsets.get(n, 0)
    out += b"trailer\n<</Size %d /Root 1 0 R%s>>\nstartxref\n%d\n%%%%EOF\n" % (
        maxn, trailer, xref_at)
    return bytes(out)


def page_tree(kids: list[int]) -> dict[int, bytes]:
    kid_refs = b" ".join(b"%d 0 R" % k for k in kids)
    return {
        1: b"<</Type /Catalog /Pages 2 0 R>>",
        2: b"<</Type /Pages /Kids [%s] /Count %d>>" % (kid_refs, len(kids)),
    }


def stream_obj(d: bytes, body: bytes) -> bytes:
    return b"<<%s /Length %d>>\nstream\n%s\nendstream" % (d, len(body), body)


def lzw_pdf(content: bytes = b"BT /F1 10 Tf 72 700 Td (lzw content line) Tj ET") -> bytes:
    """Single page whose content stream is LZW-encoded."""
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    enc = _lzw_encode(content)
    objs[4] = b"<</Filter /LZWDecode /Length %d>>\nstream\n%s\nendstream" % (len(enc), enc)
    objs[5] = PDF_FONT
    return classic_pdf(objs)


def encrypt_pdf(r: int = 3) -> bytes:
    """Build an RC4-encrypted single-page PDF (standard security handler,
    empty user+owner passwords) per ISO 32000 §7.6.3 Algorithms 2/3/5."""
    import hashlib

    from documentconvert_spark.kernels.realpdf import _ENC_PAD, _rc4

    length = 16 if r == 3 else 5
    v = 2 if r == 3 else 1
    p = -44  # typical print/copy-restricted permission bits
    doc_id = b"\x01\x02" * 8

    # Algorithm 3: /O from the (empty) owner password
    h = hashlib.md5(_ENC_PAD).digest()
    if r == 3:
        for _ in range(50):
            h = hashlib.md5(h[:length]).digest()
    okey = h[:length]
    o = _rc4(okey, _ENC_PAD)
    if r == 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in okey), o)

    # Algorithm 2: file key from the (empty) user password
    h = hashlib.md5(
        _ENC_PAD + o[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + doc_id).digest()
    if r == 3:
        for _ in range(50):
            h = hashlib.md5(h[:length]).digest()
    key = h[:length]

    # Algorithms 4/5: /U
    if r == 2:
        u = _rc4(key, _ENC_PAD)
    else:
        u = _rc4(key, hashlib.md5(_ENC_PAD + doc_id).digest())
        for i in range(1, 20):
            u = _rc4(bytes(b ^ i for b in key), u)
        u += b"\x00" * 16

    def obj_key(num: int) -> bytes:
        return hashlib.md5(
            key + num.to_bytes(3, "little") + (0).to_bytes(2, "little")
        ).digest()[: min(length + 5, 16)]

    objs6 = (b"<</Filter /Standard /V %d /R %d /Length %d /P %d "
             b"/O <%s> /U <%s>>>" % (v, r, length * 8, p, o.hex().encode(), u.hex().encode()))
    return _build_encrypted(objs6, _rc4(obj_key(4), _ENC_CONTENT), doc_id=doc_id)


def _build_encrypted(objs6: bytes, enc_content: bytes, trailer_extra: bytes = b"",
                     doc_id: bytes = b"\x01\x02" * 8) -> bytes:
    objs = page_tree([3])
    objs[3] = b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources <</Font <</F1 5 0 R>>>>>>"
    objs[4] = b"<</Length %d>>\nstream\n%s\nendstream" % (len(enc_content), enc_content)
    objs[5] = PDF_FONT
    objs[6] = objs6
    ids = doc_id.hex().encode()
    return classic_pdf(objs, version=b"1.6", trailer=b" /Encrypt 6 0 R /ID [<%s> <%s>]%s"
                       % (ids, ids, trailer_extra))


_ENC_CONTENT = b"BT /F1 10 Tf 72 700 Td (decrypted text line) Tj ET"


def aesv2_pdf() -> bytes:
    """V4/R4 crypt-filter document with /AESV2: R3-style key derivation
    plus the sAlT per-object key and IV-prefixed CBC streams."""
    import hashlib

    from documentconvert_spark.kernels.realpdf import (
        _ENC_PAD, _aes_cbc_encrypt, _rc4)

    doc_id = b"\x01\x02" * 8
    p = -3392
    # empty owner password /O (Algorithm 3, R>=3)
    h = hashlib.md5(_ENC_PAD).digest()
    for _ in range(50):
        h = hashlib.md5(h[:16]).digest()
    okey = h[:16]
    o = _rc4(okey, _ENC_PAD)
    for i in range(1, 20):
        o = _rc4(bytes(b ^ i for b in okey), o)
    # file key (Algorithm 2)
    h = hashlib.md5(
        _ENC_PAD + o[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + doc_id).digest()
    for _ in range(50):
        h = hashlib.md5(h[:16]).digest()
    key = h[:16]
    # /U (Algorithm 5)
    u = _rc4(key, hashlib.md5(_ENC_PAD + doc_id).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    u += b"\x00" * 16
    # per-object AES key for object 4 gen 0
    ok4 = hashlib.md5(
        key + (4).to_bytes(3, "little") + (0).to_bytes(2, "little") + b"sAlT"
    ).digest()[:16]
    iv = bytes(range(16))
    pad = 16 - len(_ENC_CONTENT) % 16
    enc = iv + _aes_cbc_encrypt(ok4, iv, _ENC_CONTENT + bytes([pad]) * pad)
    objs6 = (b"<</Filter /Standard /V 4 /R 4 /Length 128 /P %d /O <%s> /U <%s> "
             b"/CF <</StdCF <</CFM /AESV2 /AuthEvent /DocOpen /Length 16>>>> "
             b"/StmF /StdCF /StrF /StdCF>>"
             % (p, o.hex().encode(), u.hex().encode()))
    return _build_encrypted(objs6, enc, doc_id=doc_id)


def aes256_pdf() -> bytes:
    """V5/R6 (AES-256): Algorithm 2.B hash validates the empty user
    password against /U, /UE unwraps the file key, streams are
    IV-prefixed AES-256-CBC."""
    from documentconvert_spark.kernels.realpdf import (
        _aes_cbc_encrypt, _r6_hash)

    file_key = bytes(range(32))
    vsalt, ksalt = b"VALSALT!", b"KEYSALT!"
    u = _r6_hash(b"", vsalt) + vsalt + ksalt
    ue = _aes_cbc_encrypt(_r6_hash(b"", ksalt), bytes(16), file_key)
    iv = bytes(range(16))
    pad = 16 - len(_ENC_CONTENT) % 16
    enc = iv + _aes_cbc_encrypt(file_key, iv, _ENC_CONTENT + bytes([pad]) * pad)
    objs6 = (b"<</Filter /Standard /V 5 /R 6 /Length 256 /P -4 "
             b"/O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <000000000000000000000000> "
             b"/CF <</StdCF <</CFM /AESV3 /Length 32>>>> /StmF /StdCF /StrF /StdCF>>"
             % (b"00" * 48, u.hex().encode(), b"00" * 32, ue.hex().encode()))
    return _build_encrypted(objs6, enc)


def ttf_with_cmap4(mapping: dict[int, int]) -> bytes:
    """Minimal TrueType blob holding only a (3,1) format-4 cmap: one
    segment per mapped code point plus the 0xFFFF terminator."""
    segs = sorted(mapping.items())
    segcount = len(segs) + 1
    end_codes = [c for c, _ in segs] + [0xFFFF]
    start_codes = list(end_codes)
    deltas = [(g - c) & 0xFFFF for c, g in segs] + [1]
    ros = [0] * segcount

    def u16s(vals):
        return b"".join(struct.pack(">H", v) for v in vals)

    body = u16s(end_codes) + b"\x00\x00" + u16s(start_codes) + u16s(deltas) + u16s(ros)
    sub = struct.pack(">HHHHHHH", 4, 14 + len(body), 0, segcount * 2, 0, 0, 0) + body
    cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 1, 12) + sub
    return (struct.pack(">IHHHH", 0x00010000, 1, 0, 0, 0)
            + b"cmap" + struct.pack(">III", 0, 28, len(cmap)) + cmap)


def cidfont_pdf() -> bytes:
    """Identity-H CIDFontType2, NO ToUnicode, embedded TrueType program —
    the text is only recoverable by inverting the font's own cmap."""
    ttf = ttf_with_cmap4({0x48: 5, 0x45: 3, 0x4C: 7, 0x4F: 9})  # H E L O
    content = b"BT /F1 12 Tf 72 700 Td <00050003000700070009> Tj ET"  # gids HELLO
    objs = page_tree([3])
    objs[3] = (b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources <</Font <</F1 5 0 R>>>>>>")
    objs[4] = stream_obj(b"", content)
    objs[5] = (b"<</Type /Font /Subtype /Type0 /BaseFont /EmbedX "
               b"/Encoding /Identity-H /DescendantFonts [6 0 R]>>")
    objs[6] = (b"<</Type /Font /Subtype /CIDFontType2 /BaseFont /EmbedX "
               b"/CIDToGIDMap /Identity /FontDescriptor 7 0 R>>")
    objs[7] = b"<</Type /FontDescriptor /FontName /EmbedX /FontFile2 8 0 R>>"
    objs[8] = stream_obj(b"/Length1 %d" % len(ttf), ttf)
    return classic_pdf(objs)


# -- zip containers (OOXML / ODF) ------------------------------------------

def det_zip(members: list[tuple[str, str | bytes]]) -> bytes:
    """Stored zip with fixed member timestamps: the same members always
    give the same bytes."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        for name, data in members:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            z.writestr(zi, data)
    return buf.getvalue()


def odf_zip(content_xml: str, mimetype: str) -> bytes:
    return det_zip([("mimetype", mimetype), ("content.xml", content_xml)])


def xlsx_zip(sheet_xml: str, styles_xml: str | None = None,
             sheet_name: str = "S", shared_strings_xml: str | None = None) -> bytes:
    """One-sheet OOXML workbook around a worksheet part, plus the styles
    and shared-strings parts when given."""
    wb = f"""<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
 <sheets><sheet name="{sheet_name}" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    rels = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>"""
    members = [("xl/workbook.xml", wb), ("xl/_rels/workbook.xml.rels", rels),
               ("xl/worksheets/sheet1.xml", sheet_xml)]
    if styles_xml is not None:
        members.append(("xl/styles.xml", styles_xml))
    if shared_strings_xml is not None:
        members.append(("xl/sharedStrings.xml", shared_strings_xml))
    return det_zip(members)


# -- OLE compound file, BIFF8 .xls and binary .ppt -------------------------

_CFB_FREE = 0xFFFFFFFF
_CFB_ENDCHAIN = 0xFFFFFFFE
_CFB_FATSECT = 0xFFFFFFFD


def _cfb_dir_entry(name: str, otype: int, start: int, size: int) -> bytes:
    raw_name = name.encode("utf-16-le") + b"\x00\x00"
    e = bytearray(128)
    e[: len(raw_name)] = raw_name
    struct.pack_into("<H", e, 64, len(raw_name))
    e[66] = otype
    e[67] = 1  # black
    struct.pack_into("<I", e, 68, _CFB_FREE)   # left sibling
    struct.pack_into("<I", e, 72, _CFB_FREE)   # right sibling
    struct.pack_into("<I", e, 76, 1 if otype == 5 else _CFB_FREE)  # child
    struct.pack_into("<I", e, 116, start)
    struct.pack_into("<Q", e, 120, size)
    return bytes(e)


def write_cfb(streams: list[tuple[str, bytes]]) -> bytes:
    """Minimal [MS-CFB] writer: 512-byte sectors, all streams
    on the regular FAT (padded past the mini cutoff), single FAT sector."""
    ssz = 512
    padded = []
    for name, data in streams:
        size = max(len(data), 4096)
        pad = (-size) % ssz
        padded.append((name, data + b"\x00" * (size + pad - len(data)), size + pad))

    sectors: list[bytes] = []
    starts = []
    for _name, data, _size in padded:
        starts.append(len(sectors))
        for off in range(0, len(data), ssz):
            sectors.append(data[off : off + ssz])
    dir_sect = len(sectors)
    entries = [_cfb_dir_entry("Root Entry", 5, _CFB_ENDCHAIN, 0)]
    for (name, _d, size), start in zip(padded, starts):
        entries.append(_cfb_dir_entry(name, 2, start, size))
    dir_data = b"".join(entries)
    dir_data += b"\x00" * ((-len(dir_data)) % ssz)
    for off in range(0, len(dir_data), ssz):
        sectors.append(dir_data[off : off + ssz])
    n_dir_sects = len(sectors) - dir_sect
    fat_sect = len(sectors)

    fat = [_CFB_FREE] * (ssz // 4)
    for (name, data, _size), start in zip(padded, starts):
        n = len(data) // ssz
        for k in range(n):
            fat[start + k] = start + k + 1 if k < n - 1 else _CFB_ENDCHAIN
    for k in range(n_dir_sects):
        fat[dir_sect + k] = dir_sect + k + 1 if k < n_dir_sects - 1 else _CFB_ENDCHAIN
    fat[fat_sect] = _CFB_FATSECT
    sectors.append(struct.pack(f"<{ssz // 4}I", *fat))

    hdr = bytearray(512)
    hdr[:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", hdr, 24, 0x003E)   # minor version
    struct.pack_into("<H", hdr, 26, 0x0003)   # major version 3
    struct.pack_into("<H", hdr, 28, 0xFFFE)   # little-endian
    struct.pack_into("<H", hdr, 30, 9)        # sector shift
    struct.pack_into("<H", hdr, 32, 6)        # mini sector shift
    struct.pack_into("<I", hdr, 44, 1)        # n_fat
    struct.pack_into("<I", hdr, 48, dir_sect)
    struct.pack_into("<I", hdr, 56, 4096)     # mini cutoff
    struct.pack_into("<I", hdr, 60, _CFB_ENDCHAIN)  # minifat start
    struct.pack_into("<I", hdr, 64, 0)
    struct.pack_into("<I", hdr, 68, _CFB_ENDCHAIN)  # difat start
    struct.pack_into("<I", hdr, 72, 0)
    difat = [fat_sect] + [_CFB_FREE] * 108
    struct.pack_into("<109I", hdr, 76, *difat)
    return bytes(hdr) + b"".join(sectors)


def biff_rec(op: int, payload: bytes) -> bytes:
    return struct.pack("<HH", op, len(payload)) + payload


def xl_str8(s: str) -> bytes:
    """ShortXLUnicodeString, compressed."""
    b = s.encode("latin-1")
    return struct.pack("<BB", len(b), 0) + b


def make_xls() -> bytes:
    # globals: BOF, BOUNDSHEET (offset patched), SST, EOF
    sst_strings = ["name", "alpha", "beta", "宽字符"]
    sst_payload = struct.pack("<II", 4, 4)
    for s in sst_strings:
        try:
            raw = s.encode("latin-1")
            sst_payload += struct.pack("<HB", len(s), 0) + raw
        except UnicodeEncodeError:
            raw = s.encode("utf-16-le")
            sst_payload += struct.pack("<HB", len(s), 1) + raw
    bof = biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    boundsheet_placeholder = struct.pack("<IBB", 0, 0, 0) + xl_str8("Data")
    globals_part = (
        bof
        + biff_rec(0x0085, boundsheet_placeholder)
        + biff_rec(0x00FC, sst_payload)
        + biff_rec(0x000A, b"")
    )
    sheet_off = len(globals_part)
    # sheet substream: BOF, LABELSST row0 (header), NUMBER + RK row1, EOF
    sheet = (
        biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + biff_rec(0x00FD, struct.pack("<HHHI", 0, 0, 0, 0))  # A1 = "name"
        + biff_rec(0x00FD, struct.pack("<HHHI", 0, 1, 0, 3))  # B1 = "宽字符"
        + biff_rec(0x00FD, struct.pack("<HHHI", 1, 0, 0, 1))  # A2 = "alpha"
        + biff_rec(0x0203, struct.pack("<HHHd", 1, 1, 0, 12.0))  # B2 = 12
        + biff_rec(0x00FD, struct.pack("<HHHI", 2, 0, 0, 2))  # A3 = "beta"
        + biff_rec(0x027E, struct.pack("<HHHI", 2, 1, 0, (25 << 2) | 0x02))  # B3 = RK int 25
        + biff_rec(0x000A, b"")
    )
    # patch BOUNDSHEET lbPlyPos
    fixed_boundsheet = struct.pack("<I", sheet_off) + boundsheet_placeholder[4:]
    globals_part = (
        bof + biff_rec(0x0085, fixed_boundsheet) + biff_rec(0x00FC, sst_payload)
        + biff_rec(0x000A, b"")
    )
    return write_cfb([("Workbook", globals_part + sheet)])


def ppt_rec(ver_inst: int, rtype: int, payload: bytes) -> bytes:
    return struct.pack("<HHI", ver_inst, rtype, len(payload)) + payload


def make_ppt() -> bytes:
    title = "Roadmap 2026".encode("utf-16-le")
    body = "第一点\r第二点".encode("utf-16-le")
    bytes_txt = b"ascii only run"
    slide = ppt_rec(
        0x000F, 0x03EE,  # Slide container
        ppt_rec(0x0000, 0x0F9F, struct.pack("<I", 0))      # TextHeaderAtom: title
        + ppt_rec(0x0000, 0x0FA0, title)                    # TextCharsAtom
        + ppt_rec(0x0000, 0x0F9F, struct.pack("<I", 1))    # TextHeaderAtom: body
        + ppt_rec(0x0000, 0x0FA0, body)
        + ppt_rec(0x0000, 0x0FA8, bytes_txt),               # TextBytesAtom
    )
    doc = ppt_rec(0x000F, 0x03E8, slide)
    return write_cfb([("PowerPoint Document", doc), ("Current User", b"\x00" * 16)])


def make_word_doc(text: str, pictures: list[bytes]) -> bytes:
    """Word 97 piece-table .doc per [MS-DOC]: a FIB (magic 0xA5EC,
    fWhichTblStm set, ccpText, fcClx/lcbClx) plus one compressed-cp1252
    text piece in the WordDocument stream, the Clx in 1Table, and one
    OfficeArtBlipJPEG record (16-byte UID, 1-byte tag) per picture in Data."""
    text_fc = 0x400
    raw = text.encode("cp1252")
    word = bytearray(text_fc + len(raw))
    struct.pack_into("<H", word, 0x0000, 0xA5EC)
    struct.pack_into("<H", word, 0x000A, 0x0200)           # fWhichTblStm: 1Table
    struct.pack_into("<I", word, 0x004C, len(text))        # ccpText
    word[text_fc:] = raw
    pcd = struct.pack("<HIH", 0, (text_fc * 2) | 0x40000000, 0)  # compressed piece
    plc_pcd = struct.pack("<II", 0, len(text)) + pcd
    clx = b"\x02" + struct.pack("<I", len(plc_pcd)) + plc_pcd
    struct.pack_into("<II", word, 0x01A2, 0, len(clx))     # fcClx, lcbClx
    data = b"".join(
        struct.pack("<HHI", 0x46A0, 0xF01D, 17 + len(pic)) + b"\x11" * 16 + b"\xff" + pic
        for pic in pictures)
    return write_cfb([("WordDocument", bytes(word)), ("1Table", clx), ("Data", data)])
