"""Mini-DOM markup extractor — main-content boilerplate stripping.

From-scratch analogue of the reference's office/HTML path
(`services/document_service.py:599-650, 802-824`: LibreOffice headless →
PDF → MinerU). Per BASELINE.json north_rule we instead implement the
public boilerpipe/jusText-style approach directly over a DOM tree:

  1. tokenize the markup into a tag tree,
  2. drop subtrees under blacklisted structural tags
     (nav/header/footer/aside/script/style/form),
  3. score remaining blocks by link density (linked chars / total chars)
     and text density (chars per block), dropping high-link or
     near-empty blocks,
  4. emit content blocks in document order as spans:
     h1-h6 → heading, p/li → paragraph, pre/code → code,
     table → table (TAB/NL cell grid), img → figure (media_ref = src).

Markup without an <html ...> root is malformed → ValueError (captured
per-row by the UDF layer).
"""

from __future__ import annotations

import html
import re

from documentconvert_spark.kernels.spans import Span, finalize, normalize_text

BLACKLIST = {"nav", "header", "footer", "aside", "script", "style", "form"}
HEADINGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
BLOCK_TAGS = HEADINGS | {"p", "li", "pre", "table", "img", "blockquote"}
VOID_TAGS = {"img", "br", "hr"}

MAX_LINK_DENSITY = 0.5
MIN_BLOCK_CHARS = 10  # shorter non-heading blocks are boilerplate noise

# real-world attribute syntax: double-quoted, single-quoted, unquoted, or
# bare boolean — a tag with ANY unmatched attribute form would otherwise
# fail the tag regex entirely and leak into text content. Tag names admit
# namespaces and dashes (Word-export <o:p>, custom elements <my-widget>)
# for the same reason.
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][\w:.-]*)"
    r"((?:\s+[a-zA-Z_:-][\w:.-]*(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>]+))?)*)\s*(/?)>"
)
_ATTR_RE = re.compile(r"([a-zA-Z_:-][\w:.-]*)\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))")

# comments, CDATA, doctype/declarations, '<?' bogus comments (<?xml …?>)
# and raw-text elements whose body must never reach the tag tokenizer (a
# '</p>' inside a JS string literal would otherwise corrupt the open-element
# stack). Comment/CDATA/doctype/'<?' forms are replaced with "" — browsers
# concatenate the surrounding text runs directly (minifiers rely on
# foo<!-- -->bar reading back as "foobar") — while removed raw-text ELEMENTS
# leave a space so words on either side of a <script>/<title> never fuse.
_STRIP_RE = re.compile(
    r"<!--.*?(?:-->|$)|<!\[CDATA\[.*?(?:\]\]>|$)|<![^>]*>|<\?[^>]*>?"
    r"|<script\b[^>]*>.*?(?:</script\s*>|$)"
    r"|<style\b[^>]*>.*?(?:</style\s*>|$)"
    r"|<textarea\b[^>]*>.*?(?:</textarea\s*>|$)"
    r"|<title\b[^>]*>.*?(?:</title\s*>|$)"
    r"|<xmp\b[^>]*>.*?(?:</xmp\s*>|$)",
    re.S | re.I,
)


def _strip_repl(m: re.Match) -> str:
    return "" if m.group(0)[1] in "!?" else " "

# HTML5-style implied end tags: opening `tag` ends the NEAREST ancestor
# run of these, looking through still-open inline formatting elements
# (scope-style, not top-of-stack-only: <p>a <b>x <p>b must still split)
_INLINE = {"a", "b", "i", "u", "s", "q", "em", "strong", "span", "small",
           "sub", "sup", "code", "font", "abbr", "cite", "mark", "time",
           "label", "del", "ins", "kbd", "samp", "var", "wbr", "big", "tt"}
_IMPLIED_CLOSE = {
    "li": {"li"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "option": {"option"},
}
_CLOSES_P = (
    HEADINGS | {"p", "ul", "ol", "table", "div", "section", "article",
                "aside", "nav", "blockquote", "pre", "li", "form", "hr",
                "figure", "figcaption", "dl", "dt", "dd", "details",
                "fieldset", "main", "address", "menu"}
)


def _close_through(cur, root, targets, crossable):
    """Walk up from `cur` through `crossable` tags; if a run containing a
    `targets` tag is found, return that run's parent (ending the implied
    elements), else `cur` unchanged."""
    node, last = cur, None
    while node is not root and (node.tag in targets or node.tag in crossable):
        if node.tag in targets:
            last = node
        node = node.parent
    return last.parent if last is not None else cur


class _Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict, parent) -> None:
        self.tag = tag
        self.attrs = attrs
        self.children: list = []  # _Node | str
        self.parent = parent


def _parse(markup: str) -> _Node:
    root = _Node("#root", {}, None)
    cur = root
    pos = 0
    for m in _TAG_RE.finditer(markup):
        if m.start() > pos:
            txt = markup[pos : m.start()]
            if txt.strip():
                cur.children.append(txt)
        closing, tag, attr_s, selfclose = m.group(1), m.group(2).lower(), m.group(3), m.group(4)
        if closing:
            node = cur
            while node is not root and node.tag != tag:
                node = node.parent
            if node is not root:
                cur = node.parent
        else:
            if tag in _CLOSES_P:
                cur = _close_through(cur, root, {"p"}, _INLINE)
            implied = _IMPLIED_CLOSE.get(tag)
            if implied:
                cur = _close_through(cur, root, implied, _INLINE)
            attrs = {
                mm.group(1).lower(): html.unescape(mm.group(2) or mm.group(3) or mm.group(4) or "")
                for mm in _ATTR_RE.finditer(attr_s or "")
            }
            node = _Node(tag, attrs, cur)
            cur.children.append(node)
            if not selfclose and tag not in VOID_TAGS:
                cur = node
        pos = m.end()
    if pos < len(markup) and markup[pos:].strip():
        cur.children.append(markup[pos:])
    return root


def _text_of(node: _Node) -> str:
    parts: list[str] = []
    for c in node.children:
        if isinstance(c, str):
            parts.append(html.unescape(c))
        else:
            parts.append(_text_of(c))
    return " ".join(p for p in (x.strip() for x in parts) if p)


def _link_chars(node: _Node) -> int:
    n = 0
    for c in node.children:
        if isinstance(c, str):
            continue
        if c.tag == "a":
            n += len(_text_of(c))
        else:
            n += _link_chars(c)
    return n


def _table_grid(node: _Node) -> str:
    rows: list[str] = []
    def walk_rows(n: _Node) -> None:
        for c in n.children:
            if isinstance(c, str):
                continue
            if c.tag == "tr":
                cells = [
                    normalize_text(_text_of(cc))
                    for cc in c.children
                    if not isinstance(cc, str) and cc.tag in ("td", "th")
                ]
                rows.append("\t".join(cells))
            else:
                walk_rows(c)
    walk_rows(node)
    return "\n".join(rows)


def _has_block(node: _Node) -> bool:
    """True when an (inline) element hosts block-level content or an
    image anywhere below it."""
    for c in node.children:
        if isinstance(c, str):
            continue
        if c.tag in BLOCK_TAGS or _has_block(c):
            return True
    return False


def _emit(node: _Node, spans: list[Span]) -> None:
    # bare text sitting directly in a container (<div>prose</div>, dd,
    # figcaption — no <p> wrapper) is ordinary prose on real pages;
    # accumulate consecutive text nodes and flush them as a paragraph in
    # document order rather than silently dropping them. The same
    # jusText-style link-density guard applies — a link-farm sidebar
    # without <p> wrappers is still boilerplate
    pending: list[str] = []
    pending_link = 0

    def flush_bare() -> None:
        nonlocal pending_link
        if not pending:
            return
        raw = " ".join(pending)
        link = pending_link
        pending.clear()
        pending_link = 0
        total = len(raw.strip())
        if total and link / total > MAX_LINK_DENSITY:
            return
        txt = normalize_text(raw)
        if len(txt) >= MIN_BLOCK_CHARS:
            spans.append(Span("paragraph", txt, "", -1))

    for c in node.children:
        if isinstance(c, str):
            # entity decode here matches _text_of; raw '&amp;' would
            # otherwise survive only on this path (and inflate the
            # length/link-density counts)
            pending.append(html.unescape(c))
            continue
        if c.tag == "br":
            # a line break continues the same bare-text block — flushing
            # here would fragment 'Call now:<br>555-1234' into pieces
            # each separately subject to the minimum-length guard
            pending.append(" ")
            continue
        if c.tag in _INLINE and not _has_block(c):
            # <div>Some <b>bold</b> prose</div>: inline markup flattens
            # into the running text instead of fragmenting it. Inline
            # elements HOSTING block content (card links: <a><h3>…
            # <p>…</p></a>, linked images) stay on the container path so
            # their figures/headings/paragraphs still emit
            t = _text_of(c)
            pending.append(t)
            pending_link += len(t) if c.tag == "a" else _link_chars(c)
            continue
        flush_bare()
        if c.tag in BLACKLIST:
            continue  # boilerplate subtree: dropped wholesale
        if c.tag in HEADINGS:
            txt = normalize_text(_text_of(c))
            if txt:
                spans.append(Span("heading", txt, "", -1, int(c.tag[1])))
            continue
        if c.tag == "img":
            src = c.attrs.get("src", "").strip()
            if src:
                spans.append(Span("figure", "", src, -1))
            continue
        if c.tag == "pre":
            # preserve line structure of code
            raw = "\n".join(
                s for s in (html.unescape(x) if isinstance(x, str) else _text_of(x)
                            for x in c.children))
            txt = normalize_text(raw)
            if txt:
                spans.append(Span("code", txt, "", -1))
            continue
        if c.tag == "table":
            grid = _table_grid(c)
            if grid.strip():
                spans.append(Span("table", grid, "", -1))
            continue
        if c.tag in ("p", "li", "blockquote"):
            total = len(_text_of(c))
            if total == 0:
                continue
            link_density = _link_chars(c) / total
            if link_density > MAX_LINK_DENSITY:
                continue  # link-list boilerplate (jusText-style)
            txt = normalize_text(_text_of(c))
            if len(txt) < MIN_BLOCK_CHARS:
                continue  # low text density → noise
            spans.append(Span("paragraph", txt, "", -1))
            continue
        # container (div/main/article/section/ul/body/...): recurse
        _emit(c, spans)
    flush_bare()


def extract_minidom(content: bytes) -> list[Span]:
    markup = content.decode("utf-8", errors="strict")
    if "<html" not in markup[:256].lower():
        raise ValueError("minidom: missing <html> root (not a markup document)")
    root = _parse(_STRIP_RE.sub(_strip_repl, markup))
    spans: list[Span] = []
    _emit(root, spans)
    return finalize(spans)
