"""Byte-identity text kernel.

Pure-Python reimplementation (from behavioral spec, not a code port) of the
reference's OCR-text normalization and token→line→text serialization chain:

- whitespace normalization + CJK fixed-point space collapse
  (reference: /root/reference/app.py:3921-3996)
- token geometry helpers (app.py:3999-4012)
- greedy line / vertical-column clustering with lookback-8 and running means
  (app.py:4027-4047, 4063-4083)
- vertical-page detection (app.py:4050-4060)
- line / column serialization with gap-ratio space insertion
  (app.py:4017-4026, 4086-4120)
- hidden-text block wrapping at width 60 (app.py:4332-4348)

Every function here is deterministic and stateless per document, so results
are invariant to Arrow batch boundaries and executor count.  These run inside
the Arrow-batch body of ``extract.map_rows`` on executors — never per-row at
the Spark level.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterable, List, NamedTuple, Optional, Sequence

__all__ = [
    "Token",
    "normalize_space",
    "normalize_ocr_text",
    "contains_japanese",
    "is_ascii_word_like",
    "collapse_spaces_for_japanese_line",
    "polish_hidden_line_text",
    "normalize_hidden_text",
    "group_tokens_into_lines",
    "group_tokens_into_vertical_columns",
    "is_vertical_page",
    "join_tokens_for_hidden_line",
    "join_tokens_for_vertical_hidden_column",
    "wrap_for_hidden_text",
    "dedup_tokens",
    "dedup_text_blocks",
    "serialize_page",
    "serialize_document",
]


class Token(NamedTuple):
    """One OCR word box in pixel coordinates (app.py:946-952)."""

    text: str
    x1: float
    y1: float
    x2: float
    y2: float


_WS_RE = re.compile(r"\s+")


def normalize_space(text: Optional[str]) -> str:
    """Collapse all whitespace runs to single spaces and strip (app.py:3921)."""
    return _WS_RE.sub(" ", text or "").strip()


# Fixed-point substitution patterns removing OCR-injected half-width spaces
# around CJK runs, letter<->digit boundaries, currency marks, brackets,
# punctuation and bullets (app.py:3930-3938).  Order matters; the loop
# repeats the whole list until a full pass changes nothing.
_OCR_SPACE_PATTERNS: List[tuple[re.Pattern[str], str]] = [
    (re.compile(r"(?<=[぀-ヿ㐀-䶿一-鿿！-｠　-〿])\s+(?=[぀-ヿ㐀-䶿一-鿿！-｠　-〿])"), ""),
    (re.compile(r"(?<=[A-Za-z])\s+(?=\d)"), ""),
    (re.compile(r"(?<=\d)\s+(?=[A-Za-z])"), ""),
    (re.compile(r"(?<=[\¥￥])\s+(?=\d)"), ""),
    (re.compile(r"(?<=[（\(\[【「『])\s+"), ""),
    (re.compile(r"\s+(?=[）\)\]】」』、。，．,:;])"), ""),
    (re.compile(r"(?<=[●•])\s+"), ""),
]


@lru_cache(maxsize=65536)
def normalize_ocr_text(text: Optional[str]) -> str:
    """Whitespace-normalize then run the fixed-point CJK space squeeze
    (app.py:3925-3944).  Idempotent: f(f(x)) == f(x).

    lru_cache is safe (pure function) and pays off heavily: OCR token texts
    repeat within and across documents, and the serialization chain
    re-normalizes the same token text several times (profiled at ~4x calls
    per token, >60% of giant-document CPU)."""
    s = normalize_space(text)
    if not s:
        return ""
    prev = None
    while s != prev:
        prev = s
        for pat, rep in _OCR_SPACE_PATTERNS:
            s = pat.sub(rep, s)
    return s.strip()


_JA_RE = re.compile(r"[ぁ-んァ-ヶ一-龯々〆〤ｦ-ﾟ]")
_ASCII_WORD_RE = re.compile(r"[A-Za-z0-9%&/@#_+\-=:;.,]+")


@lru_cache(maxsize=65536)
def contains_japanese(text: Optional[str]) -> bool:
    """True when any Japanese script char is present (app.py:3947-3948)."""
    return bool(_JA_RE.search(text or ""))


@lru_cache(maxsize=65536)
def is_ascii_word_like(text: Optional[str]) -> bool:
    """Full-match against the ASCII-word char class (app.py:3951-3952)."""
    return bool(_ASCII_WORD_RE.fullmatch(text or ""))


_ALNUM_GAP_RE = re.compile(r"(?<=[A-Za-z0-9])\s+(?=[A-Za-z0-9])")
_ANY_WS_RE = re.compile(r"\s+")
_PLACEHOLDER = "￰"

# Second fixed-point pattern set applied to Japanese lines after the
# everything-but-ASCII-word-gaps collapse (app.py:3969-3977).
_JA_LINE_PATTERNS: List[tuple[re.Pattern[str], str]] = [
    (re.compile(r"(?<=[（(\[【「『]) +"), ""),
    (re.compile(r" +(?=[）)\]】」』、。，．・：；！？])"), ""),
    (re.compile(r"(?<=[●•]) +"), ""),
    (re.compile(r"(?<=P) +(?=\d)"), ""),
    (re.compile(r"(?<=\d) +(?=[頁ページ])"), ""),
    (re.compile(r"(?<=\d) +(?=[ぁ-ゖァ-ヺーｦ-ﾟ一-龯々〆〤])"), ""),
    (re.compile(r"(?<=[ぁ-ゖァ-ヺーｦ-ﾟ一-龯々〆〤]) +(?=\d)"), ""),
]


@lru_cache(maxsize=16384)
def collapse_spaces_for_japanese_line(text: Optional[str]) -> str:
    """For lines containing Japanese, keep only ASCII-word-adjacent spaces,
    then run the bracket/punct/counter fixed-point loop (app.py:3955-3983)."""
    s = normalize_ocr_text(text)
    if not s:
        return ""
    if not contains_japanese(s):
        return s.strip()
    s = _ALNUM_GAP_RE.sub(_PLACEHOLDER, s)
    s = _ANY_WS_RE.sub("", s)
    s = s.replace(_PLACEHOLDER, " ")
    prev = None
    while s != prev:
        prev = s
        for pat, rep in _JA_LINE_PATTERNS:
            s = pat.sub(rep, s)
    return s.strip()


@lru_cache(maxsize=16384)
def polish_hidden_line_text(text: Optional[str]) -> str:
    """normalize_ocr_text, plus the Japanese collapse when applicable
    (app.py:3986-3992)."""
    s = normalize_ocr_text(text)
    if not s:
        return ""
    if contains_japanese(s):
        s = collapse_spaces_for_japanese_line(s)
    return s.strip()


def normalize_hidden_text(text: Optional[str]) -> str:
    """Alias of polish_hidden_line_text (app.py:3995-3996)."""
    return polish_hidden_line_text(text)


# -------------------- token geometry (app.py:3999-4012) --------------------


def _height(t: Token) -> float:
    return max(1.0, float(t.y2) - float(t.y1))


def _width(t: Token) -> float:
    return max(1.0, float(t.x2) - float(t.x1))


def _cy(t: Token) -> float:
    return (float(t.y1) + float(t.y2)) / 2.0


def _cx(t: Token) -> float:
    return (float(t.x1) + float(t.x2)) / 2.0


# -------------------- greedy clustering (app.py:4027-4083) --------------------


def group_tokens_into_lines(tokens: Sequence[Token]) -> List[List[Token]]:
    """Greedy horizontal line clustering.

    Tokens scan in (center_y, x1, x2) order; each token joins the most recent
    of the last 8 open lines whose running mean center-y is within
    max(4.0, 0.6 * min(avg_line_height, token_height)); lines end up sorted
    by (x1, x2).  Order-defined — must run per page (app.py:4063-4083).
    """
    if not tokens:
        return []
    ordered = sorted(tokens, key=lambda t: (_cy(t), float(t.x1), float(t.x2)))
    # each open line carries running sums (same 0.0-seeded sequential adds as
    # sum() over the member list, so averages are bitwise identical) — turns
    # the per-token lookback check from O(line length) into O(1)
    lines: List[list] = []  # [tokens, cy_sum, h_sum]
    for tok in ordered:
        cy = _cy(tok)
        th = _height(tok)
        placed = False
        for line in reversed(lines[-8:]):
            n = max(1, len(line[0]))
            avg_cy = line[1] / n
            avg_h = line[2] / n
            if abs(cy - avg_cy) <= max(4.0, min(avg_h, th) * 0.6):
                line[0].append(tok)
                line[1] += cy
                line[2] += th
                placed = True
                break
        if not placed:
            lines.append([[tok], 0.0 + cy, 0.0 + th])
    return [sorted(line[0], key=lambda t: (float(t.x1), float(t.x2)))
            for line in lines]


def group_tokens_into_vertical_columns(tokens: Sequence[Token]) -> List[List[Token]]:
    """Greedy vertical column clustering: scan by (-center_x, y1, y2), join on
    x-center tolerance max(4.0, 0.9 * min(avg_w, w)), lookback 8; columns
    sorted by (y1, y2) (app.py:4027-4047)."""
    if not tokens:
        return []
    ordered = sorted(tokens, key=lambda t: (-_cx(t), float(t.y1), float(t.y2)))
    cols: List[list] = []  # [tokens, cx_sum, w_sum] running sums (see lines)
    for tok in ordered:
        cx = _cx(tok)
        tw = _width(tok)
        placed = False
        for col in reversed(cols[-8:]):
            n = max(1, len(col[0]))
            avg_cx = col[1] / n
            avg_w = col[2] / n
            if abs(cx - avg_cx) <= max(4.0, min(avg_w, tw) * 0.9):
                col[0].append(tok)
                col[1] += cx
                col[2] += tw
                placed = True
                break
        if not placed:
            cols.append([[tok], 0.0 + cx, 0.0 + tw])
    return [sorted(col[0], key=lambda t: (float(t.y1), float(t.y2)))
            for col in cols]


def is_vertical_page(tokens: Sequence[Token]) -> bool:
    """Vertical-writing heuristic: ≥6 tokens and tall-token ratio ≥0.70, or
    ratio ≥0.50 with no more columns than lines (app.py:4050-4060)."""
    if len(tokens) < 6:
        return False
    tall = sum(1 for t in tokens if _height(t) > _width(t) * 1.25)
    tall_ratio = tall / max(1, len(tokens))
    if tall_ratio >= 0.70:
        return True
    if tall_ratio >= 0.50:
        n_lines = len(group_tokens_into_lines(tokens))
        n_cols = len(group_tokens_into_vertical_columns(tokens))
        if n_cols <= max(1, n_lines):
            return True
    return False


# -------------------- serialization (app.py:4017-4026, 4086-4120) ------------


def join_tokens_for_hidden_line(tokens: Sequence[Token]) -> str:
    """Serialize one x-sorted line.  A space is inserted between neighbors only
    when gap/min(heights) ≥ 0.45 (non-Japanese lines), or both neighbor texts
    are ASCII-word-like and the ratio ≥ 0.90 (Japanese lines); the result is
    then polished/collapsed (app.py:4086-4120).  This defines the output bytes.
    """
    if not tokens:
        return ""
    # normalize each token exactly once (the original re-derived the prev
    # token's normalized text every iteration — same bytes, 3x the calls)
    norm = [normalize_ocr_text(t.text) for t in tokens]
    line_has_ja = any(contains_japanese(s) for s in norm)
    pieces: List[str] = []
    prev: Optional[Token] = None
    prev_text = ""
    for tok, cur in zip(tokens, norm):
        if not cur:
            continue
        if prev is None:
            pieces.append(cur)
            prev = tok
            prev_text = cur
            continue
        gap = max(0.0, float(tok.x1) - float(prev.x2))
        gap_ratio = gap / max(1.0, min(_height(prev), _height(tok)))
        if line_has_ja:
            need_space = (
                is_ascii_word_like(prev_text)
                and is_ascii_word_like(cur)
                and gap_ratio >= 0.90
            )
        else:
            need_space = gap_ratio >= 0.45
        if need_space and pieces:
            pieces.append(" ")
        pieces.append(cur)
        prev = tok
        prev_text = cur
    joined = "".join(pieces)
    if line_has_ja:
        return collapse_spaces_for_japanese_line(joined)
    return polish_hidden_line_text(joined)


def join_tokens_for_vertical_hidden_column(tokens: Sequence[Token]) -> str:
    """Serialize one vertical column: order by (center_y, -center_x, y1, x1),
    concatenate normalized texts with no separator, then normalize
    (app.py:4017-4026)."""
    if not tokens:
        return ""
    ordered = sorted(tokens, key=lambda t: (_cy(t), -_cx(t), float(t.y1), float(t.x1)))
    parts = [s for s in (normalize_ocr_text(t.text) for t in ordered) if s]
    return normalize_hidden_text("".join(parts))


_LOGICAL_LINE_RE = re.compile(r"\r?\n+")


def wrap_for_hidden_text(text: Optional[str], width: int = 60) -> List[str]:
    """Polish, split on newlines, hard-wrap every `width` chars, re-polish
    each emitted line, drop empties (app.py:4332-4348)."""
    cleaned = polish_hidden_line_text(text)
    if not cleaned:
        return []
    out: List[str] = []
    for logical in (seg for seg in _LOGICAL_LINE_RE.split(cleaned) if seg.strip()):
        logical = polish_hidden_line_text(logical)
        current = ""
        for ch in logical:
            current += ch
            if len(current) >= width:
                out.append(polish_hidden_line_text(current))
                current = ""
        if current:
            out.append(polish_hidden_line_text(current))
    return [ln for ln in out if ln]


# -------------------- per-page dedup (app.py:1705-1736) --------------------


def dedup_tokens(tokens: Sequence[Token]) -> List[Token]:
    """First-wins token dedup after sorting by (round(y1,1), round(x1,1),
    round(height,1), text); key = (normalized_text, rounded int corners);
    empty-after-normalize dropped; surviving token text is the normalized form
    (app.py:1705-1725)."""
    deduped: List[Token] = []
    seen: set[tuple[str, int, int, int, int]] = set()
    for tok in sorted(
        tokens,
        key=lambda t: (round(t.y1, 1), round(t.x1, 1), round(t.y2 - t.y1, 1), t.text),
    ):
        text_key = normalize_ocr_text(tok.text)
        if not text_key:
            continue
        key = (
            text_key,
            int(round(tok.x1)),
            int(round(tok.y1)),
            int(round(tok.x2)),
            int(round(tok.y2)),
        )
        if key in seen:
            continue
        seen.add(key)
        deduped.append(Token(text_key, tok.x1, tok.y1, tok.x2, tok.y2))
    return deduped


def dedup_text_blocks(blocks: Iterable[Optional[str]]) -> List[str]:
    """Normalize each block, drop empties and exact repeats, first-seen order
    preserved (app.py:1726-1735)."""
    out: List[str] = []
    seen: set[str] = set()
    for block in blocks:
        cleaned = normalize_ocr_text(block)
        if not cleaned or cleaned in seen:
            continue
        seen.add(cleaned)
        out.append(cleaned)
    return out


# -------------------- page / document assembly --------------------
#
# The reference emits page text as invisible PDF draw calls
# (app.py:2097-2254); our engine freezes the equivalent *text* form:
# one serialized line per draw call, lines joined by "\n" within a page,
# non-empty pages joined by "\n\n" in page-index order.  These joiners are
# fixed here once and baked into the golden fixtures.

PAGE_LINE_JOINER = "\n"
PAGE_JOINER = "\n\n"


def serialize_page(tokens: Sequence[Token], text_blocks: Sequence[str]) -> str:
    """One page's extracted text: tokens win over blocks (app.py:2097-2101);
    vertical pages serialize as columns (app.py:2106-2108); blocks-only pages
    wrap at 60 chars (app.py:2228-2254)."""
    if tokens:
        if is_vertical_page(tokens):
            parts = [
                join_tokens_for_vertical_hidden_column(col)
                for col in group_tokens_into_vertical_columns(tokens)
            ]
        else:
            parts = [
                join_tokens_for_hidden_line(line)
                for line in group_tokens_into_lines(tokens)
            ]
        return PAGE_LINE_JOINER.join(p for p in parts if p)
    if text_blocks:
        lines: List[str] = []
        for block in text_blocks:
            lines.extend(wrap_for_hidden_text(block, 60))
        return PAGE_LINE_JOINER.join(lines)
    return ""


def serialize_document(pages: Sequence[str]) -> str:
    """Join non-empty page texts (already in page-index order) with the frozen
    page joiner."""
    return PAGE_JOINER.join(p for p in pages if p)
