"""Deterministic synthetic Common-Crawl-style `pages` corpus (FIXTURES.md §1).

Input table schema (BASELINE input_hint):
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Every row is a pure function of ``(seed, index)`` so goldens are stable
across runs, partitionings, and parallelism levels.  Generation itself is
distributed: ``corpus_df`` maps a ``spark.range`` through the one Python
stage body, ``extract.map_rows``, so a 10^12-row corpus would generate in
parallel without driver involvement.

PDF rows carry a JSON envelope in the ``html`` binary standing in for a
parsed PDF: page geometry + OCR-engine outputs in every shape the tolerant
parser accepts (reference: /root/reference/app.py:1852-2013, 4145-4306).
HTML rows carry deterministic UTF-8 boilerplate + main-content markup.
"""

from __future__ import annotations

import datetime as _dt
import json
import random
from typing import Any, Dict, List

from ..functions import image_meta, pdf_make
from ..operators.extract import map_rows

EPOCH = _dt.datetime(2024, 1, 1, 0, 0, 0)
LANGS = ["ja", "en", "de", "es", "zh"]

# Documents per unit scale factor: sf0.1 → 20_000 docs.
DOCS_PER_SF = 200_000

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# --- vocab: Japanese-dominant, exercising every normalization pattern
#     (app.py:3925-3983) ---
_JA_WORDS = [
    "日本語", "東京", "大阪", "文書", "検索", "処理", "画像", "認識", "漢字",
    "ページ", "第1章", "令和5年", "こんにちは", "世界", "価格", "注記",
    "新聞", "図書館", "データ", "結果",
]
_JA_MESSY = [
    "日本 語テスト",          # CJK-CJK space collapse
    "価格¥ 100",             # ¥ + digit
    "（ 注記 ）",             # bracket trims
    "値 ，続き",              # space before punctuation
    "● 項目一覧",             # bullet
    "P 12参照",               # P + digit
    "3 頁から",               # digit + 頁
    "第 2 章まとめ",           # digit<->kanji
    "abc 123デー タ",         # letter<->digit + CJK
]
_EN_WORDS = [
    "alpha", "beta", "gamma", "delta", "report", "page", "data", "value",
    "spark", "batch", "index", "token", "line", "OCR", "PDF", "2023", "3.14",
    "scan-x", "A/B", "x=1",
]

_TEXT_KEYS = ["text", "TEXT", "content", "CONTENT", "label", "string",
              "STRING", "unicode", "Unicode", "transcription",
              "recognized_text", "ocr_text", "PlainText"]


def _rng(seed: int, index: int) -> random.Random:
    return random.Random(f"{seed}:{index}")


def _word(rng: random.Random, lang: str) -> str:
    if lang == "ja":
        pool = _JA_WORDS + _JA_MESSY if rng.random() < 0.4 else _JA_WORDS
        return rng.choice(pool)
    if rng.random() < 0.15:
        return rng.choice(_JA_WORDS)  # mixed-script lines
    return rng.choice(_EN_WORDS)


def _page_count(rng: random.Random) -> int:
    """Skewed: 90% 1-3 pages, 9% 10-30, 1% 200-500 (FIXTURES.md §1)."""
    r = rng.random()
    if r < 0.90:
        return rng.randint(1, 3)
    if r < 0.99:
        return rng.randint(10, 30)
    return rng.randint(200, 500)


def _make_page_tokens(rng: random.Random, lang: str, vertical: bool
                      ) -> List[Dict[str, Any]]:
    """Token boxes for one page.  Horizontal pages emit rows of words with
    gaps straddling the 0.45 / 0.90 space-insertion thresholds
    (app.py:4101-4112); vertical pages emit tall narrow boxes in columns."""
    tokens: List[Dict[str, Any]] = []
    if vertical:
        n_cols = rng.randint(2, 4)
        for c in range(n_cols):
            x = 800.0 - c * 60.0
            y = 40.0
            for _ in range(rng.randint(3, 6)):
                h = 80.0
                tokens.append({"text": _word(rng, "ja"),
                               "x1": x, "y1": y, "x2": x + 22.0, "y2": y + h})
                y += h + 6.0
        return tokens
    n_lines = rng.randint(2, 6)
    y = 50.0
    for _ in range(n_lines):
        x = 40.0
        h = 20.0 + rng.choice([0.0, 2.0, 4.0])
        for _ in range(rng.randint(2, 6)):
            w = 30.0 + rng.random() * 90.0
            tokens.append({"text": _word(rng, lang),
                           "x1": x, "y1": y, "x2": x + w, "y2": y + h})
            # gap ratios around the thresholds: .25, .5, .95, 1.3
            gap = h * rng.choice([0.25, 0.5, 0.95, 1.3])
            x += w + gap
        y += h + rng.choice([8.0, 12.0, 30.0])
    if rng.random() < 0.2 and tokens:
        tokens.append(dict(tokens[0]))  # exact duplicate → dedup A3
    return tokens


def _bbox_fields(rng: random.Random, t: Dict[str, Any]) -> Dict[str, Any]:
    """Rotate through every bbox shape the sniffing accepts
    (app.py:4202-4282)."""
    x1, y1, x2, y2 = t["x1"], t["y1"], t["x2"], t["y2"]
    v = rng.randrange(7)
    if v == 0:
        return {"bbox": [x1, y1, x2, y2]}
    if v == 1:
        return {"boundingBox": {"x": x1, "y": y1, "w": x2 - x1, "h": y2 - y1}}
    if v == 2:
        return {"box": [[x1, y1], [x2, y1], [x2, y2], [x1, y2]]}
    if v == 3:
        return {"x": x1, "y": y1, "w": x2 - x1, "h": y2 - y1}
    if v == 4:
        return {"left": x1, "top": y1, "width": x2 - x1, "height": y2 - y1}
    if v == 5:
        return {"xmin": x1, "ymin": y1, "xmax": x2, "ymax": y2}
    return {"x1": x1, "y1": y1, "x2": x2, "y2": y2}


def _encode_json_ndlocr(pages_tokens: List[List[Dict]], name: str) -> Dict:
    contents = [[{"boundingBox": [t["x1"], t["y1"], t["x2"], t["y2"]],
                  "text": t["text"]} for t in toks] for toks in pages_tokens]
    return {"format": "json", "name": name,
            "payload": json.dumps({"contents": contents,
                                   "imginfo": {"img_name": "page_0001.png"}},
                                  ensure_ascii=False)}


def _encode_json_ndlocr_per_page(pages_tokens: List[List[Dict]]
                                 ) -> List[Dict]:
    """One NDLOCR JSON per page: contents==1 + imginfo img_name routing
    (app.py:1875-1885)."""
    outs = []
    for idx, toks in enumerate(pages_tokens):
        payload = {"contents": [[{"boundingBox": [t["x1"], t["y1"],
                                                  t["x2"], t["y2"]],
                                  "text": t["text"]} for t in toks]],
                   "imginfo": {"img_name": f"page_{idx + 1:04d}.png"}}
        outs.append({"format": "json",
                     "name": f"page_{idx + 1:04d}.png.json",
                     "payload": json.dumps(payload, ensure_ascii=False)})
    return outs


def _encode_json_generic(rng: random.Random, pages_tokens: List[List[Dict]],
                         name: str, one_based: bool) -> Dict:
    records = []
    for idx, toks in enumerate(pages_tokens):
        hint_key = rng.choice(["page", "page_no", "page_num", "page_index",
                               "pageNumber", "pageIndex"])
        for t in toks:
            rec: Dict[str, Any] = {hint_key: idx + 1 if one_based else idx}
            rec[rng.choice(_TEXT_KEYS)] = t["text"]
            rec.update(_bbox_fields(rng, t))
            records.append(rec)
    return {"format": "json", "name": name,
            "payload": json.dumps({"results": records}, ensure_ascii=False)}


def _encode_json_text_leaves(pages_tokens: List[List[Dict]], name: str) -> Dict:
    docs = []
    for idx, toks in enumerate(pages_tokens):
        blob = " ".join(t["text"] for t in toks)
        docs.append({"page": idx, "content": blob, "conf": 0.9})
    return {"format": "json", "name": name,
            "payload": json.dumps({"pages": docs}, ensure_ascii=False)}


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def _encode_xml_ndlocr(pages_tokens: List[List[Dict]], name: str) -> Dict:
    parts = ["<OCRDATASET>"]
    for idx, toks in enumerate(pages_tokens):
        parts.append(f'<PAGE IMAGENAME="page_{idx + 1:04d}.png">')
        for t in toks:
            parts.append(
                f'<LINE X="{t["x1"]}" Y="{t["y1"]}" WIDTH="{t["x2"] - t["x1"]}"'
                f' HEIGHT="{t["y2"] - t["y1"]}" STRING="{_xml_escape(t["text"])}"/>')
        parts.append("</PAGE>")
    parts.append("</OCRDATASET>")
    return {"format": "xml", "name": name, "payload": "".join(parts)}


def _encode_xml_pagexml(pages_tokens: List[List[Dict]], page_index: int,
                        name: str) -> Dict:
    """Single-page PAGE-XML (Word/Coords/TextEquiv/Unicode, namespaced);
    page routed by filename (app.py:2026-2051, 4296-4328)."""
    toks = pages_tokens[page_index]
    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15"
    parts = [f'<PcGts xmlns="{ns}"><Page>']
    for t in toks:
        pts = (f'{t["x1"]},{t["y1"]} {t["x2"]},{t["y1"]} '
               f'{t["x2"]},{t["y2"]} {t["x1"]},{t["y2"]}')
        parts.append(
            f'<Word><Coords points="{pts}"/><TextEquiv>'
            f'<Unicode>{_xml_escape(t["text"])}</Unicode></TextEquiv></Word>')
    parts.append("</Page></PcGts>")
    return {"format": "xml", "name": name, "payload": "".join(parts)}


def _encode_txt(pages_tokens: List[List[Dict]], name: str) -> Dict:
    pages = ["\n".join(" ".join(t["text"] for t in toks[i:i + 4])
                       for i in range(0, len(toks), 4))
             for toks in pages_tokens]
    return {"format": "txt", "name": name, "payload": "\f".join(pages)}


def _make_ocr_outputs(rng: random.Random, pages_tokens: List[List[Dict]]
                      ) -> List[Dict]:
    """Pick an encoding variant; some docs get redundant multi-format output
    to exercise the only-empty-pages priority merge (app.py:1662-1687)."""
    n = len(pages_tokens)
    variant = rng.randrange(9)
    outs: List[Dict] = []
    if variant == 0:
        outs.append(_encode_json_ndlocr(pages_tokens, "result.json"))
    elif variant == 8 and n <= 30:
        outs.extend(_encode_json_ndlocr_per_page(pages_tokens))
    elif variant == 1:
        outs.append(_encode_json_generic(rng, pages_tokens, "tokens.json",
                                         one_based=False))
    elif variant == 2:
        outs.append(_encode_json_generic(rng, pages_tokens, "tokens.json",
                                         one_based=True))
    elif variant == 3:
        outs.append(_encode_xml_ndlocr(pages_tokens, "result.xml"))
    elif variant == 4 and n <= 30:
        for idx in range(n):
            outs.append(_encode_xml_pagexml(pages_tokens, idx,
                                            f"page_{idx + 1:04d}.xml"))
    elif variant == 5:
        outs.append(_encode_json_text_leaves(pages_tokens, "plain.json"))
    elif variant == 6:
        outs.append(_encode_txt(pages_tokens, "scan.txt"))
    else:
        # redundant json + xml + txt for the same tokens
        outs.append(_encode_json_ndlocr(pages_tokens, "a_result.json"))
        outs.append(_encode_xml_ndlocr(pages_tokens, "b_result.xml"))
        outs.append(_encode_txt(pages_tokens, "c_scan.txt"))
    if not outs:  # variant 4 fallback for huge docs
        outs.append(_encode_json_ndlocr(pages_tokens, "result.json"))
    return outs


def _make_pdf_envelope(rng: random.Random, lang: str) -> bytes:
    n_pages = _page_count(rng)
    r = rng.random()
    # ~12% carry a text layer (skip path); ~2% encrypted (failure path)
    has_text_doc = r < 0.12
    encrypted = 0.12 <= r < 0.14
    vertical_doc = lang == "ja" and rng.random() < 0.12

    pages_meta = []
    pages_tokens: List[List[Dict]] = []
    for idx in range(n_pages):
        if has_text_doc and idx < 20:
            n_chars = rng.randint(5, 40)
            n_ops = rng.randint(0, 3)
        else:
            n_chars, n_ops = 0, 0
        pages_meta.append({
            "index": idx, "width_px": 1654, "height_px": 2339,
            "width_pt": 595.2, "height_pt": 842.0, "rotation_deg": 0,
            "n_chars": n_chars, "n_text_ops": n_ops,
        })
        pages_tokens.append(_make_page_tokens(rng, lang, vertical_doc))
    envelope = {
        "kind": "pdf",
        "encrypted": encrypted,
        "pages": pages_meta,
        "ocr_outputs": [] if encrypted else _make_ocr_outputs(rng, pages_tokens),
    }
    return json.dumps(envelope, ensure_ascii=False).encode("utf-8")


# every 17th-ish row (index % 17 == RAW_PDF_SLOT) carries REAL PDF bytes
# instead of a parsed envelope, exercising the raw content-stream scanner
# (pdf_scan) end to end: text-layer skip, needs-OCR routing, empty-password
# decrypt, wrong-password failure, truncated fetch
RAW_PDF_MOD = 17
RAW_PDF_SLOT = 3

# every 23rd-ish row (that isn't a raw-PDF slot) carries raw IMAGE bytes —
# JPEG/PNG headers with real dimension+density metadata (functions/
# image_meta), exercising the S4 image-normalization route end to end
IMAGE_MOD = 23
IMAGE_SLOT = 5


def _make_image(rng: random.Random) -> bytes:
    """One image payload over the reference's FULL whitelist
    (app.py:101-102: jpeg/png/bmp/tif/tiff/webp) with the density-metadata
    edge cases each format actually has."""
    w = 200 + rng.randrange(1200)
    h = 200 + rng.randrange(1600)
    r = rng.random()
    if r < 0.20:
        return image_meta.make_fake_jpeg(w, h, dpi=rng.choice([72, 96, 300]))
    if r < 0.32:
        return image_meta.make_fake_jpeg(w, h)           # no density → 150
    if r < 0.42:
        return image_meta.make_fake_jpeg(w, h, dpi=118, units=2)  # dpcm
    if r < 0.54:
        return image_meta.make_fake_png(w, h, dpi=300.0)
    if r < 0.62:
        return image_meta.make_fake_png(w, h)            # no pHYs → 150
    if r < 0.70:
        return image_meta.make_fake_bmp(w, h, dpi=96,
                                        top_down=rng.random() < 0.3)
    if r < 0.76:
        return image_meta.make_fake_bmp(w, h)            # ppm 0 → 150
    if r < 0.83:
        return image_meta.make_fake_tiff(w, h, dpi=200, unit=2,
                                         big_endian=rng.random() < 0.5)
    if r < 0.88:
        return image_meta.make_fake_tiff(w, h, dpi=127.0, unit=3)  # per-cm
    if r < 0.95:
        return image_meta.make_fake_webp(
            w, h, variant=rng.choice(["vp8", "vp8l", "vp8x"]))
    return image_meta.make_fake_jpeg(w, h)[:6]           # truncated fetch


def _make_raw_pdf(rng: random.Random, lang: str) -> bytes:
    n_pages = rng.randint(1, 3)
    r = rng.random()
    if r < 0.60:  # scanned-image profile: zero text operators → needs_ocr
        return pdf_make.build_pdf([None] * n_pages,
                                  compress=rng.random() < 0.5)
    if r < 0.80:  # searchable: real text layer → skip_has_text
        texts = [" ".join(_word(rng, "en")
                          for _ in range(rng.randint(3, 8)))
                 for _ in range(n_pages)]
        if r >= 0.78:  # PDF-1.5 layout: page tree inside an /ObjStm
            return pdf_make.build_objstm_pdf(texts)
        # spread the searchable slice across the stream encodings a crawl
        # carries (same routing outcome, different decode path each time)
        filt = [None, "flate", "lzw", "a85", "rl"][int(rng.random() * 5)]
        return pdf_make.build_pdf(texts, stream_filter=filt)
    if r < 0.85:  # text only BEYOND the 20-page check window → needs_ocr
        return pdf_make.build_pdf([None] * 22 + ["late text page here"],
                                  compress=False)
    if r < 0.90:  # encrypted, EMPTY user password → decrypt attempt succeeds
        return pdf_make.build_pdf(["encrypted searchable text layer"],
                                  compress=True, user_pw="")
    if r < 0.95:  # encrypted, real password → attempt fails → parse_failure
        return pdf_make.build_pdf(["locked content"], user_pw="secret")
    return pdf_make.build_pdf(["x"], corrupt=True)  # truncated fetch


_HTML_SHELL = (
    "<html><head><title>t</title><script>var x=1;</script></head><body>"
    "<nav><a href='/a'>Home</a> <a href='/b'>About</a> <a href='/c'>More</a></nav>"
    "<div class='sidebar'><a href='/1'>l1</a> <a href='/2'>l2</a> "
    "<a href='/3'>l3</a> <a href='/4'>l4</a></div>{main}"
    "<footer><a href='/p'>Privacy</a> <a href='/t'>Terms</a></footer>"
    "</body></html>"
)


def _make_html_doc(rng: random.Random, lang: str) -> bytes:
    v = rng.randrange(5)
    if v == 4:
        return "<html><body></body></html>".encode("utf-8")  # empty body
    paras = []
    for _ in range(rng.randint(2, 6)):
        words = [_word(rng, lang) for _ in range(rng.randint(8, 25))]
        paras.append("<p>" + " ".join(words) + "</p>")
    if v == 0:
        main = "<article>" + "".join(paras) + "</article>"
    elif v == 1:
        main = "<div id='main'>" + "".join(paras) + "</div>"
    elif v == 2:  # content split across sibling sections
        half = max(1, len(paras) // 2)
        main = ("<main><section>" + "".join(paras[:half]) + "</section>"
                "<section>" + "".join(paras[half:]) + "</section></main>")
    else:  # table + pre
        rows = "".join(f"<tr><td>{_word(rng, lang)}</td>"
                       f"<td>{_word(rng, lang)}</td></tr>"
                       for _ in range(4))
        main = ("<div class='content'>" + "".join(paras)
                + f"<table>{rows}</table><pre>x = 1\ny = 2</pre></div>")
    return _HTML_SHELL.format(main=main).encode("utf-8")


def make_row(seed: int, index: int) -> Dict[str, Any]:
    """One corpus row — pure function of (seed, index)."""
    rng = _rng(seed, index)
    lang = LANGS[index % len(LANGS)]
    split = index // 1000
    url = f"https://example.org/{split:04d}/{index:06d}"
    if rng.random() < 0.03:
        url += "_ocr" if rng.random() < 0.5 else "_ocr_001"  # name-rule skip
    if index % RAW_PDF_MOD == RAW_PDF_SLOT:
        return {
            "url": url,
            "warc_ts": EPOCH + _dt.timedelta(seconds=index),
            "html": _make_raw_pdf(rng, lang),
            "text": "",
            "lang": lang,
        }
    if index % IMAGE_MOD == IMAGE_SLOT:
        return {
            "url": url,
            "warc_ts": EPOCH + _dt.timedelta(seconds=index),
            "html": _make_image(rng),
            "text": "",
            "lang": lang,
        }
    is_pdf = rng.random() < 0.6
    if is_pdf:
        payload = _make_pdf_envelope(rng, lang)
        text = ""
    else:
        payload = _make_html_doc(rng, lang)
        text = " ".join(_word(rng, lang) for _ in range(10))
    return {
        "url": url,
        "warc_ts": EPOCH + _dt.timedelta(seconds=index),
        "html": payload,
        "text": text,
        "lang": lang,
    }


def corpus_df(spark, n_docs: int, seed: int = 42, partitions: int = 0):
    """Distributed generation: ``make_row`` over a ``spark.range``
    through ``extract.map_rows``.

    Partition count defaults to default parallelism; each task generates its
    own index range independently (no shuffle, no driver materialization), so
    this scales linearly with executors.
    """
    if partitions <= 0:
        partitions = spark.sparkContext.defaultParallelism

    def corpus_row(i):
        return make_row(seed, i)

    return map_rows(spark.range(0, n_docs, 1, partitions), corpus_row,
                    ("id",), PAGES_SCHEMA)
