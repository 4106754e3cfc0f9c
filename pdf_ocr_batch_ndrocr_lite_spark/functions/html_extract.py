"""Readability-style HTML main-content extraction.

The reference pipeline has no HTML path (it is PDF/image only); this module
implements the north-star extension: boilerplate stripping via
text-density / link-density / tag-depth scoring over a parsed node array.
Semantics are defined HERE and frozen into the golden fixtures — this file is
the specification.

Pure per-document function; runs inside ``extract.map_rows`` batches only.
Uses stdlib ``html.parser`` — no external dependencies, deterministic.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import List, Optional

from .textops import normalize_space

__all__ = ["extract_main_text", "HtmlNode", "parse_html_nodes"]

# Elements whose entire subtree is boilerplate / non-content.
_DROP_TAGS = frozenset({
    "script", "style", "noscript", "template", "svg", "iframe",
    "nav", "header", "footer", "aside", "form", "button",
})

# Block-level elements: introduce line breaks in serialized text.
_BLOCK_TAGS = frozenset({
    "p", "div", "article", "main", "section", "li", "ul", "ol",
    "h1", "h2", "h3", "h4", "h5", "h6", "table", "tr", "td", "th",
    "blockquote", "pre", "figure", "figcaption", "dl", "dt", "dd",
    "br", "hr", "body",
})

# Containers eligible as the main-content root.
_CANDIDATE_TAGS = frozenset({
    "article", "main", "section", "div", "td", "body",
})

_VOID_TAGS = frozenset({
    "br", "hr", "img", "input", "meta", "link", "area", "base",
    "col", "embed", "source", "track", "wbr",
})


class HtmlNode:
    """One element in the parsed node array."""

    __slots__ = ("tag", "depth", "parent", "children", "chunks", "in_link")

    def __init__(self, tag: str, depth: int, parent: Optional["HtmlNode"]) -> None:
        self.tag = tag
        self.depth = depth
        self.parent = parent
        self.children: List["HtmlNode"] = []
        # (text, is_link_text) direct text chunks
        self.chunks: List[tuple] = []
        self.in_link = False


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = HtmlNode("#root", 0, None)
        self._stack: List[HtmlNode] = [self.root]
        self._drop_depth = 0
        self._link_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _VOID_TAGS:
            if tag == "br" and self._drop_depth == 0:
                self._stack[-1].chunks.append(("\n", False))
            return
        if self._drop_depth or tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if tag == "a":
            self._link_depth += 1
        parent = self._stack[-1]
        node = HtmlNode(tag, len(self._stack), parent)
        parent.children.append(node)
        self._stack.append(node)

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID_TAGS:
            return
        if self._drop_depth:
            self._drop_depth -= 1
            return
        if tag == "a" and self._link_depth:
            self._link_depth -= 1
        # pop to the matching open tag if present (tolerates bad nesting)
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                break

    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data:
            return
        self._stack[-1].chunks.append((data, self._link_depth > 0))


def parse_html_nodes(html: str) -> HtmlNode:
    """Parse HTML into a node tree with boilerplate subtrees dropped."""
    builder = _TreeBuilder()
    builder.feed(html or "")
    return builder.root


def _text_stats(node: HtmlNode) -> tuple:
    """(total_text_len, link_text_len) over the subtree, whitespace-collapsed."""
    total = 0
    link = 0
    for text, is_link in node.chunks:
        n = len(normalize_space(text))
        total += n
        if is_link:
            link += n
    for child in node.children:
        t, l = _text_stats(child)
        total += t
        link += l
    return total, link


def _score(node: HtmlNode) -> float:
    """Content score: text mass rewarded, link density penalized
    quadratically (link farms score near zero), mild depth penalty.
    Frozen formula — changing it invalidates goldens."""
    total, link = _text_stats(node)
    if total == 0:
        return 0.0
    link_density = link / total
    depth_penalty = 1.0 + 0.05 * max(0, node.depth - 2)
    return total * (1.0 - link_density) ** 2 / depth_penalty


def _collect_candidates(node: HtmlNode, out: List[HtmlNode]) -> None:
    if node.tag in _CANDIDATE_TAGS:
        out.append(node)
    for child in node.children:
        _collect_candidates(child, out)


def _serialize(node: HtmlNode, parts: List[str]) -> None:
    """Emit subtree text; block tags break lines; links kept inline."""
    if node.tag in _BLOCK_TAGS:
        parts.append("\n")
    for text, _ in node.chunks:
        parts.append(text)
    for child in node.children:
        _serialize(child, parts)
    if node.tag in _BLOCK_TAGS:
        parts.append("\n")


_MULTI_NL_RE = re.compile(r"\n{2,}")


def extract_main_text(html: str) -> str:
    """Main-content text of an HTML document.

    Highest-scoring candidate container wins (ties: first in document
    order); its subtree serializes to one whitespace-normalized line per
    block, lines joined by '\\n'.  Empty/boilerplate-only documents
    yield ''.
    """
    root = parse_html_nodes(html)
    candidates: List[HtmlNode] = []
    _collect_candidates(root, candidates)
    if not candidates:
        candidates = [root]
    scored = [(_score(c), c) for c in candidates]
    top = max((s for s, _ in scored), default=0.0)
    if top <= 0.0:
        return ""
    # among near-tied candidates (within 5% of the max), prefer the deepest:
    # a parent container always accumulates at least its child's text, so
    # ties mean the child holds the actual content.  Ties on depth resolve
    # by document order (first wins) — deterministic.
    best = None
    best_depth = -1
    for s, cand in scored:
        if s >= top * 0.95 and cand.depth > best_depth:
            best = cand
            best_depth = cand.depth
    parts: List[str] = []
    _serialize(best, parts)
    raw = "".join(parts)
    lines = [normalize_space(seg) for seg in raw.split("\n")]
    return "\n".join(ln for ln in lines if ln)
