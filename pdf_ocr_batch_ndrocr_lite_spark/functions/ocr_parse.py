"""Tolerant OCR-output parsing and page-assignment merge.

Independent reimplementation of the reference's heterogeneous
JSON/XML/TXT result parsing (reference: /root/reference/app.py:1647-2051,
4124-4328).  Operates on a *column payload* instead of a temp-dir scan:
each document row carries an envelope

    {"pages": [{"index": 0, ...}, ...],
     "ocr_outputs": [{"format": "json"|"xml"|"txt",
                      "name": "<filename>", "payload": "<text>"}]}

which stands in for the engine's output directory.  All functions are pure
per-document and run inside the Arrow-batch body of ``extract.map_rows`` on
executors.
"""

from __future__ import annotations

import json
import re
import xml.etree.ElementTree as ET
from typing import Any, Dict, Iterable, List, Optional, Sequence, Tuple

from .textops import (
    Token,
    dedup_text_blocks,
    dedup_tokens,
    normalize_ocr_text,
    normalize_space,
)

__all__ = [
    "PageData",
    "parse_envelope",
    "extract_text_from_mapping",
    "extract_bbox_from_mapping",
    "extract_page_hint",
    "extract_page_number_from_name",
    "guess_page_index_from_name",
    "tokenize_name",
    "looks_like_text_leaf",
    "local_xml_tag",
    "extract_xml_text",
]


class PageData:
    """Per-page accumulation of coordinate tokens and raw text blocks
    (app.py:955-963)."""

    __slots__ = ("tokens", "text_blocks")

    def __init__(self) -> None:
        self.tokens: List[Token] = []
        self.text_blocks: List[str] = []

    def has_any_text(self) -> bool:
        if self.tokens:
            return True
        return any((b or "").strip() for b in self.text_blocks)


# -------------------- mapping sniffers (app.py:4145-4282) --------------------

_TEXT_KEYS = [
    "text", "TEXT", "content", "CONTENT", "label", "string", "STRING",
    "unicode", "Unicode", "transcription", "recognized_text", "ocr_text",
    "PlainText",
]


def extract_text_from_mapping(obj: Dict[str, Any]) -> Optional[str]:
    """First non-blank string under the priority key list (app.py:4145-4165)."""
    for key in _TEXT_KEYS:
        value = obj.get(key)
        if isinstance(value, str) and value.strip():
            return value
    return None


_PAGE_HINT_KEYS = ["page", "page_no", "page_num", "page_index", "page_id",
                   "pageNumber", "pageIndex"]


def extract_page_hint(obj: Dict[str, Any], inherited: Optional[int],
                      page_count: int) -> Optional[int]:
    """Numeric page hints, 0-based preferred, 1-based fallback
    (app.py:4186-4198)."""
    for key in _PAGE_HINT_KEYS:
        if key in obj:
            try:
                value = int(obj[key])
            except Exception:
                continue
            if 0 <= value < page_count:
                return value
            if 1 <= value <= page_count:
                return value - 1
    return inherited


def _bbox_from_points(points: Iterable[Tuple[float, float]]):
    pts = list(points)
    if not pts:
        return None
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return (min(xs), min(ys), max(xs), max(ys))


def _parse_points_string(value: str) -> List[Tuple[float, float]]:
    """PAGE-XML "x,y x,y ..." point lists (app.py:4296-4306)."""
    pts: List[Tuple[float, float]] = []
    for part in (value or "").split():
        if "," not in part:
            continue
        xs, ys = part.split(",", 1)
        try:
            pts.append((float(xs), float(ys)))
        except Exception:
            continue
    return pts


def _coerce_bbox_value(value: Any):
    """list4 / dict / point-list bbox coercion (app.py:4254-4282)."""
    if isinstance(value, dict):
        return extract_bbox_from_mapping(value)
    if isinstance(value, (list, tuple)):
        if len(value) == 4 and all(isinstance(v, (int, float, str)) for v in value):
            try:
                a, b, c, d = (float(x) for x in value)
            except Exception:
                return None
            if c > a and d > b:
                return (a, b, c, d)
        points: List[Tuple[float, float]] = []
        for item in value:
            if isinstance(item, dict):
                x = item.get("x", item.get("X"))
                y = item.get("y", item.get("Y"))
                if x is not None and y is not None:
                    try:
                        points.append((float(x), float(y)))
                    except Exception:
                        pass
            elif isinstance(item, (list, tuple)) and len(item) >= 2:
                try:
                    points.append((float(item[0]), float(item[1])))
                except Exception:
                    pass
        if points:
            return _bbox_from_points(points)
    return None


_XYWH_VARIANTS = (
    ("x", "y", "w", "h"),
    ("X", "Y", "WIDTH", "HEIGHT"),
    ("left", "top", "width", "height"),
)


def extract_bbox_from_mapping(obj: Dict[str, Any]):
    """Priority bbox sniffing over every key variant (app.py:4202-4250)."""
    if not isinstance(obj, dict):
        return None
    for key in ("bbox", "box", "rect", "boundingBox", "bounding_box"):
        if key in obj:
            bbox = _coerce_bbox_value(obj[key])
            if bbox is not None:
                return bbox
    for kx, ky, kw, kh in _XYWH_VARIANTS:
        if all(k in obj for k in (kx, ky, kw, kh)):
            try:
                x, y = float(obj[kx]), float(obj[ky])
                w, h = float(obj[kw]), float(obj[kh])
                return (x, y, x + w, y + h)
            except Exception:
                pass
    if all(k in obj for k in ("xmin", "ymin", "xmax", "ymax")):
        try:
            return (float(obj["xmin"]), float(obj["ymin"]),
                    float(obj["xmax"]), float(obj["ymax"]))
        except Exception:
            pass
    if all(k in obj for k in ("x1", "y1", "x2", "y2")):
        try:
            return (float(obj["x1"]), float(obj["y1"]),
                    float(obj["x2"]), float(obj["y2"]))
        except Exception:
            pass
    return None


def looks_like_text_leaf(obj: Dict[str, Any]) -> bool:
    """Text-bearing dict with no bbox and mostly scalar fields
    (app.py:4169-4182)."""
    if extract_bbox_from_mapping(obj) is not None:
        return False
    if not extract_text_from_mapping(obj):
        return False
    scalar_like = 0
    complex_like = 0
    for v in obj.values():
        if isinstance(v, (str, int, float, bool)) or v is None:
            scalar_like += 1
        else:
            complex_like += 1
    return scalar_like >= complex_like


# -------------------- filename page join (app.py:2026-2051, 4124-4141) -------

_NAME_TOKEN_SPLIT_RE = re.compile(r"[^a-z0-9]+")


def tokenize_name(name: str) -> set:
    return {t for t in _NAME_TOKEN_SPLIT_RE.split((name or "").lower()) if t}


_PAGE_NUM_PATTERNS = [
    re.compile(r"(?:^|[_\-])p(?:age)?0*(\d{1,5})(?:$|[_\-])"),
    re.compile(r"(?:^|[_\-])0*(\d{1,5})(?:$|[_\-])"),
]


def extract_page_number_from_name(name: str) -> Optional[int]:
    """Bounded p/page-number or bare-number filename patterns
    (app.py:4129-4141)."""
    for pat in _PAGE_NUM_PATTERNS:
        m = pat.search(name)
        if m:
            try:
                return int(m.group(1))
            except Exception:
                pass
    return None


def _file_stem(name: str) -> str:
    """Last path component with its final suffix removed (Path.stem)."""
    base = (name or "").replace("\\", "/").rsplit("/", 1)[-1]
    dot = base.rfind(".")
    return base[:dot] if dot > 0 else base


def _page_image_stem(page_index: int) -> str:
    """The reference names rendered page images page_%04d (1-based)
    (app.py:1424, 1487)."""
    return f"page_{page_index + 1:04d}"


def guess_page_index_from_name(name: str, page_count: int) -> Optional[int]:
    """Fuzzy filename→page join: exact 1-based number first; single-page
    shortcut; else best substring/token-overlap score (app.py:2026-2051)."""
    stem = _file_stem(name).lower()
    exact = extract_page_number_from_name(stem)
    if exact is not None and 1 <= exact <= page_count:
        return exact - 1
    if page_count == 1:
        return 0
    best: Optional[Tuple[int, int]] = None
    for index in range(page_count):
        img_stem = _page_image_stem(index)
        candidates = {
            img_stem,
            f"p{index + 1:04d}",
            f"page{index + 1}",
            f"_{index + 1:04d}",
        }
        score = 0
        for c in candidates:
            if c and c in stem:
                score += len(c)
        score += len(tokenize_name(stem) & tokenize_name(img_stem))
        if score > 0 and (best is None or score > best[0]):
            best = (score, index)
    return best[1] if best else None


# -------------------- XML helpers (app.py:4310-4328) --------------------


def local_xml_tag(tag: str) -> str:
    if not tag:
        return ""
    if "}" in tag:
        return tag.rsplit("}", 1)[1]
    return tag


def extract_xml_text(elem: ET.Element) -> str:
    """Prefer Unicode/PlainText descendants, else all itertext joined
    (app.py:4319-4328)."""
    unicode_texts = []
    for child in elem.iter():
        if local_xml_tag(child.tag) in {"Unicode", "PlainText"} and child.text \
                and child.text.strip():
            unicode_texts.append(child.text.strip())
    if unicode_texts:
        return normalize_space(" ".join(unicode_texts))
    return normalize_space(" ".join(t for t in elem.itertext() if (t or "").strip()))


# -------------------- per-format parsers (app.py:1825-2023) ------------------

TokenMap = Dict[int, List[Token]]
TextMap = Dict[int, List[str]]


def _parse_json_payload(payload: str, name: str, page_count: int,
                        valid_pages: set) -> Tuple[TokenMap, TextMap]:
    data = json.loads(payload)
    token_map: TokenMap = {}
    text_map: TextMap = {}

    def add_token(page_hint: Optional[int], text: str, bbox) -> None:
        normalized = normalize_ocr_text(text)
        if not normalized:
            return
        idx = page_hint if page_hint in valid_pages else -1
        token_map.setdefault(idx, []).append(
            Token(normalized, bbox[0], bbox[1], bbox[2], bbox[3]))

    def add_text(page_hint: Optional[int], text: str) -> None:
        cleaned = normalize_ocr_text(text)
        if not cleaned:
            return
        idx = page_hint if page_hint in valid_pages else -1
        text_map.setdefault(idx, []).append(cleaned)

    # NDLOCR-typical fast path: {"contents": [[{boundingBox,text},...],...],
    # "imginfo": {...}} (app.py:1852-1885)
    if isinstance(data, dict) and isinstance(data.get("contents"), list):
        contents = data.get("contents") or []
        img_page_hint = None
        imginfo = data.get("imginfo")
        if isinstance(imginfo, dict):
            img_name = (imginfo.get("img_name") or imginfo.get("img_path")
                        or imginfo.get("img"))
            if isinstance(img_name, str) and img_name.strip():
                img_page_hint = guess_page_index_from_name(img_name, page_count)
        if contents and all(isinstance(item, list) for item in contents):
            if len(contents) == page_count:
                for idx, lines in enumerate(contents):
                    for entry in lines:
                        if not isinstance(entry, dict):
                            continue
                        text = extract_text_from_mapping(entry)
                        bbox = extract_bbox_from_mapping(entry)
                        if text and bbox is not None:
                            add_token(idx, text, bbox)
                        elif text:
                            add_text(idx, text)
                return token_map, text_map
            if len(contents) == 1 and img_page_hint is not None:
                for entry in contents[0]:
                    if not isinstance(entry, dict):
                        continue
                    text = extract_text_from_mapping(entry)
                    bbox = extract_bbox_from_mapping(entry)
                    if text and bbox is not None:
                        add_token(img_page_hint, text, bbox)
                    elif text:
                        add_text(img_page_hint, text)
                return token_map, text_map

    # Generic recursive shape sniff (app.py:1887-1908)
    def visit(node: Any, inherited: Optional[int] = None) -> None:
        if isinstance(node, dict):
            page_hint = extract_page_hint(node, inherited, page_count)
            text = extract_text_from_mapping(node)
            bbox = extract_bbox_from_mapping(node)
            if text and bbox is not None:
                add_token(page_hint, text, bbox)
                return
            if text and looks_like_text_leaf(node):
                add_text(page_hint, text)
                return
            for value in node.values():
                visit(value, page_hint)
        elif isinstance(node, list):
            for item in node:
                visit(item, inherited)

    visit(data)
    return token_map, text_map


_XML_CANDIDATE_TAGS_BY_PRIORITY = [
    {"String"}, {"Word"}, {"LINE"}, {"TextLine"}, {"TextRegion"}, {"TextBlock"},
]


def _xml_coords(elem: ET.Element):
    """<Coords points=...> child first, else attrib bbox (app.py:2015-2023)."""
    for child in list(elem):
        if local_xml_tag(child.tag) == "Coords":
            pts = _parse_points_string(
                child.attrib.get("points") or child.attrib.get("POINTS") or "")
            if pts:
                return _bbox_from_points(pts)
    return extract_bbox_from_mapping(elem.attrib)


def _parse_xml_payload(payload: str, name: str, page_count: int,
                       valid_pages: set) -> Tuple[TokenMap, TextMap]:
    try:
        root = ET.fromstring(payload)
    except Exception as e:
        raise RuntimeError(f"XML parse failed: {e}")
    token_map: TokenMap = {}
    text_map: TextMap = {}

    def add_token(page_hint: Optional[int], text: str, bbox) -> None:
        normalized = normalize_ocr_text(text)
        if not normalized:
            return
        idx = page_hint if page_hint in valid_pages else -1
        token_map.setdefault(idx, []).append(
            Token(normalized, bbox[0], bbox[1], bbox[2], bbox[3]))

    def add_text(page_hint: Optional[int], text: str) -> None:
        cleaned = normalize_ocr_text(text)
        if cleaned:
            idx = page_hint if page_hint in valid_pages else -1
            text_map.setdefault(idx, []).append(cleaned)

    # NDLOCR XML: <PAGE><LINE X= Y= WIDTH= HEIGHT= STRING=/></PAGE>
    # (app.py:1934-1963)
    pages = [e for e in root.iter() if local_xml_tag(e.tag) == "PAGE"]
    if pages:
        for idx, page_elem in enumerate(pages):
            attrib_page = page_elem.attrib or {}
            page_hint = extract_page_hint(attrib_page, None, page_count)
            if page_hint is None:
                img_name = (attrib_page.get("IMAGENAME")
                            or attrib_page.get("imageName")
                            or attrib_page.get("IMG_NAME"))
                if img_name:
                    page_hint = guess_page_index_from_name(img_name, page_count)
            if page_hint is None and idx < page_count:
                page_hint = idx
            page_texts: List[str] = []
            for line_elem in page_elem.iter():
                if local_xml_tag(line_elem.tag) != "LINE":
                    continue
                attrib = line_elem.attrib or {}
                text = (attrib.get("STRING") or attrib.get("string")
                        or extract_xml_text(line_elem))
                bbox = extract_bbox_from_mapping(attrib)
                if text and bbox is not None:
                    add_token(page_hint, text, bbox)
                    page_texts.append(text)
                elif text:
                    add_text(page_hint, text)
                    page_texts.append(text)
            if page_texts and page_hint is not None and page_hint in valid_pages \
                    and not text_map.get(page_hint):
                text_map.setdefault(page_hint, []).append("\n".join(page_texts))
        if token_map or text_map:
            return token_map, text_map

    # ALTO / PAGE-XML: finest available granularity only, to avoid
    # parent+child double extraction (app.py:1965-2007)
    available = {local_xml_tag(e.tag) for e in root.iter()}
    selected: set = set()
    for cand in _XML_CANDIDATE_TAGS_BY_PRIORITY:
        if available & cand:
            selected = cand
            break

    for elem in root.iter():
        tag = local_xml_tag(elem.tag)
        if selected and tag not in selected:
            continue
        attrib = elem.attrib or {}
        page_hint = extract_page_hint(attrib, None, page_count)
        if tag == "String":
            text = (attrib.get("CONTENT") or attrib.get("content")
                    or attrib.get("TEXT"))
            bbox = extract_bbox_from_mapping(attrib)
            if text and bbox is not None:
                add_token(page_hint, text, bbox)
                continue
            if text:
                add_text(page_hint, text)
                continue
        if tag in {"Word", "TextLine", "TextRegion", "TextBlock", "LINE"}:
            text = (attrib.get("STRING") or attrib.get("string")
                    or extract_xml_text(elem))
            coords = _xml_coords(elem)
            if text and coords is not None:
                add_token(page_hint, text, coords)
                continue
            if text:
                add_text(page_hint, text)

    if not token_map and not text_map:
        whole = normalize_space(
            " ".join(t for t in root.itertext() if (t or "").strip()))
        if whole:
            text_map.setdefault(-1, []).append(whole)
    return token_map, text_map


# -------------------- merge (app.py:1742-1823) --------------------


def _merge_assignments(result: Dict[int, PageData], token_map: TokenMap,
                       text_map: TextMap, src_name: str, page_count: int,
                       only_empty_pages: bool) -> int:
    hit = 0
    target_page = guess_page_index_from_name(src_name, page_count)
    generic_tokens = token_map.pop(-1, [])
    generic_texts = text_map.pop(-1, [])

    for page_index, tokens in token_map.items():
        if page_index in result and tokens:
            # blocks-only pages may still be upgraded by coordinate tokens
            # from lower-priority formats (app.py:1759-1763)
            if only_empty_pages and result[page_index].tokens:
                continue
            result[page_index].tokens.extend(tokens)
            hit += 1
    for page_index, blocks in text_map.items():
        if page_index in result:
            if only_empty_pages and result[page_index].has_any_text():
                continue
            cleaned = [b for b in blocks if (b or "").strip()]
            if cleaned:
                result[page_index].text_blocks.extend(cleaned)
                hit += 1

    if generic_tokens:
        tp = target_page
        if tp is None and page_count == 1:
            tp = 0
        if tp is not None:
            if (not only_empty_pages) or (not result[tp].tokens):
                result[tp].tokens.extend(generic_tokens)
                hit += 1
    if generic_texts:
        tp = target_page
        if tp is None and page_count == 1:
            tp = 0
        if tp is not None:
            if (not only_empty_pages) or (not result[tp].has_any_text()):
                result[tp].text_blocks.extend(
                    [b for b in generic_texts if (b or "").strip()])
                hit += 1
    return hit


_FORM_FEED_RE = re.compile(r"\f+")


def _merge_text_payload(result: Dict[int, PageData], payload: str, name: str,
                        page_count: int, only_empty_pages: bool) -> int:
    """Form-feed page splitting with count-match zip, else filename routing
    (app.py:1790-1823)."""
    text = (payload or "").replace("\r\n", "\n").strip()
    if not text:
        return 0
    pages = [t.strip() for t in _FORM_FEED_RE.split(text) if t.strip()]
    if len(pages) == page_count:
        hit = 0
        for index, block in enumerate(pages):
            if only_empty_pages and result[index].has_any_text():
                continue
            result[index].text_blocks.append(block)
            hit += 1
        return hit
    target_page = guess_page_index_from_name(name, page_count)
    if target_page is None:
        if page_count == 1 or len(pages) == 1:
            target_page = 0
    if target_page is None:
        return 0
    if only_empty_pages and result[target_page].has_any_text():
        return 0
    result[target_page].text_blocks.append(text)
    return 1


# -------------------- top-level document parse (app.py:1651-1736) ------------


def parse_envelope(ocr_outputs: Sequence[Dict[str, Any]], page_count: int
                   ) -> Tuple[Dict[int, PageData], Dict[str, int]]:
    """Format-priority parse+merge of a document's OCR outputs.

    JSON first, then XML only while some page lacks text, then TXT likewise;
    within a format class, outputs process in lowercase-name order
    (app.py:1656-1687).  Returns post-processed per-page data plus counters.
    """
    result: Dict[int, PageData] = {i: PageData() for i in range(page_count)}
    structured_hits = 0
    text_hits = 0
    parse_warnings = 0
    valid_pages = set(range(page_count))

    outs = sorted(ocr_outputs or [], key=lambda o: str(o.get("name", "")).lower())
    json_outs = [o for o in outs if o.get("format") == "json"]
    xml_outs = [o for o in outs if o.get("format") == "xml"]
    txt_outs = [o for o in outs if o.get("format") == "txt"]

    def all_have_text() -> bool:
        return all(result[i].has_any_text() for i in range(page_count))

    for out in json_outs:
        try:
            tmap, xmap = _parse_json_payload(
                out.get("payload") or "", out.get("name") or "",
                page_count, valid_pages)
            structured_hits += _merge_assignments(
                result, tmap, xmap, out.get("name") or "", page_count,
                only_empty_pages=True)
        except Exception:
            parse_warnings += 1

    for out in xml_outs:
        if all_have_text():
            break
        try:
            tmap, xmap = _parse_xml_payload(
                out.get("payload") or "", out.get("name") or "",
                page_count, valid_pages)
            structured_hits += _merge_assignments(
                result, tmap, xmap, out.get("name") or "", page_count,
                only_empty_pages=True)
        except Exception:
            parse_warnings += 1

    for out in txt_outs:
        if all_have_text():
            break
        try:
            text_hits += _merge_text_payload(
                result, out.get("payload") or "", out.get("name") or "",
                page_count, only_empty_pages=True)
        except Exception:
            parse_warnings += 1

    # post-process: first-wins token dedup + ordered block dedup
    # (app.py:1705-1736)
    for page in result.values():
        if page.tokens:
            page.tokens = dedup_tokens(page.tokens)
        if page.text_blocks:
            page.text_blocks = dedup_text_blocks(page.text_blocks)

    total_tokens = sum(len(p.tokens) for p in result.values())
    total_blocks = sum(len(p.text_blocks) for p in result.values())
    stats = {
        "structured_hits": structured_hits,
        "text_hits": text_hits,
        "parse_warnings": parse_warnings,
        "token_count": total_tokens,
        "block_count": total_blocks,
        "low_coverage": int(page_count > 1 and total_tokens <= 1
                            and total_blocks <= 1),
    }
    return result, stats
