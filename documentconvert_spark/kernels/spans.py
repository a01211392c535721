"""Span IR — the per-document invariant.

The contract reproduced from the reference (SURVEY.md §1.4): MinerU's
``middle_json["pdf_info"]`` is an ordered structural parse (pages → blocks →
lines → spans of text / image / table / formula), serialized to Markdown
with interleaved media references (`MakeMode.MM_MD`,
reference `services/document_service.py:263-272`). We flatten that tree to a
dense, strictly ordered span list per document:

    (kind, text, media_ref, offset, level)

kind ∈ {heading, paragraph, code, table, figure, formula};
``media_ref`` non-empty iff kind == figure; ``text`` is normalized UTF-8
(empty for pure-media spans); ``offset`` is the 0-based position within the
document — dense and strictly increasing, carrying reading order;
``level`` is the heading depth 1..6 (0 for non-heading spans), preserving
the title hierarchy MinerU's MM_MD serialization keeps (reference
`services/document_service.py:272`; multi-level structure observable in
`.trae/documents/文档转换功能测试报告.md:409-414`).
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass

# fixed-pitch font-name detection, shared by the PDF and docx code-block
# classifiers. "mono(?!type)" keeps Monaco / JetBrains Mono / monospace
# while excluding the Monotype foundry's proportional faces (Monotype
# Corsiva on a certificate is prose, not code).
MONO_FONT_RE = re.compile(
    r"courier|consol|menlo|monaco|typewriter|fixed|mono(?!type)", re.IGNORECASE)

# math-font detection → formula classification in the real-PDF layout
# path (reference: formula_enable=True pipeline, document_service.py:
# 240-246, 'formulas_detected' statistic). Names cover the TeX Computer
# Modern math faces (CMMI/CMSY/CMEX + AMS msam/msbm), Adobe Symbol, and
# the OpenType math families (Cambria Math, STIX Math, MT Extra).
MATH_FONT_RE = re.compile(
    r"symbol|cmmi|cmsy|cmex|cmbsy|msam|msbm|mt-?extra|mtmi|euclid|math",
    re.IGNORECASE)


@dataclass(frozen=True)
class Span:
    kind: str
    text: str
    media_ref: str
    offset: int
    level: int = 0  # heading depth 1..6; 0 = not a heading

    def as_dict(self) -> dict:
        return {
            "kind": self.kind,
            "text": self.text,
            "media_ref": self.media_ref,
            "offset": self.offset,
            "level": self.level,
        }


def normalize_text(s: str) -> str:
    """Canonical text normalization applied to every span's text.

    NFC (stable across generators/extractors), strip outer whitespace,
    collapse internal runs of spaces/tabs to a single space — newlines are
    preserved because code and table spans are line-structured.
    """
    s = unicodedata.normalize("NFC", s)
    lines = s.split("\n")
    lines = [" ".join(part for part in ln.split(" ") if part != "").replace("\t ", "\t") for ln in lines]
    # collapse spaces but keep tabs (table cell separator) intact
    out = []
    for ln in lines:
        cells = ln.split("\t")
        cells = [" ".join(c.split()) for c in cells]
        out.append("\t".join(cells))
    return "\n".join(out).strip("\n").strip()


def finalize(spans: list[Span]) -> list[Span]:
    """Re-densify offsets 0..n-1 in current order and drop empty spans.

    A span is empty when it carries neither text nor a media reference —
    the reference never emits such blocks either.
    """
    kept = [s for s in spans if s.text or s.media_ref]
    return [Span(s.kind, s.text, s.media_ref, i, s.level) for i, s in enumerate(kept)]


def rank_heading_levels(spans: list[Span], sizes: dict[int, float]) -> list[Span]:
    """Assign heading levels by font-size rank within one document.

    ``sizes`` maps span index (in ``spans``, pre-finalize) → font size for
    spans classified as headings. Distinct sizes (quantized to 0.5pt, the
    same tolerance the block grouping uses) rank descending: the largest
    becomes level 1, next 2, …, clamped to 6. This mirrors MinerU's
    font-size-derived title hierarchy for PDFs, where no explicit outline
    exists. Deterministic and per-document, so it is safe inside Arrow
    batches.
    """
    if not sizes:
        return spans
    q = {i: round(v * 2.0) / 2.0 for i, v in sizes.items()}
    distinct = sorted(set(q.values()), reverse=True)
    rank = {v: min(i + 1, 6) for i, v in enumerate(distinct)}
    return [
        Span(s.kind, s.text, s.media_ref, s.offset, rank[q[i]])
        if i in q and s.kind == "heading" else s
        for i, s in enumerate(spans)
    ]
