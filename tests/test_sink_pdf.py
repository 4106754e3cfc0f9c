"""Searchable-PDF kernels (S6/S7, the build path q45 exercises): the
emitted PDFs are real, their invisible text layer is byte-identical to the
pipeline's extracted text, and embedded JPEGs pass through untouched."""

from __future__ import annotations

import json

from pdf_ocr_batch_ndrocr_lite_spark.functions import (
    ocr_parse,
    pdf_make,
    pdf_overlay,
    pdf_scan,
    textops,
)
from pdf_ocr_batch_ndrocr_lite_spark.sources.corpus import make_row


def _extract_literals(content: bytes):
    """Decode every literal string shown in a content stream, in order."""
    out = []
    i = 0
    while i < len(content):
        if content[i] == 0x28:
            s, i = pdf_scan._read_literal_string(content, i)
            out.append(s)
        else:
            i += 1
    return out


def _envelope_docs(n=200):
    rows = []
    for i in range(n):
        r = make_row(42, i)
        head = bytes(r["html"][:64]).lstrip()
        if head.startswith(b'{"kind"'):
            env = json.loads(r["html"].decode("utf-8"))
            if not env.get("encrypted") and len(env.get("pages") or []) <= 10:
                rows.append((r["url"], env, r["html"]))
    return rows


def test_hidden_layer_matches_pipeline_text():
    """The invariant that makes this a SEARCHABLE pdf sink: for token
    pages, the hidden layer's lines are byte-identical to serialize_page
    (the same bytes the extraction pipeline emits)."""
    checked_pages = 0
    for url, env, raw in _envelope_docs(150)[:25]:
        pages_meta = env["pages"]
        parsed, _ = ocr_parse.parse_envelope(env["ocr_outputs"],
                                             len(pages_meta))
        specs = []
        for i, meta in enumerate(pages_meta):
            ops = pdf_overlay.page_draw_ops(
                parsed[i].tokens, parsed[i].text_blocks,
                meta["width_px"], meta["height_px"],
                meta["width_pt"], meta["height_pt"])
            specs.append({"width_pt": meta["width_pt"],
                          "height_pt": meta["height_pt"], "ops": ops})
        pdf = pdf_make.build_searchable_pdf(specs)
        streams = pdf_scan.page_content_streams(pdf)
        assert len(streams) == len(pages_meta)
        for i, content in enumerate(streams):
            hidden = [s.decode("utf-8") for s in _extract_literals(content)]
            expected = textops.serialize_page(parsed[i].tokens,
                                              parsed[i].text_blocks)
            if parsed[i].tokens:
                # token pages: hidden layer == extracted text, byte for byte
                assert "\n".join(hidden) == expected, (url, i)
            else:
                # blocks path may be height-capped (app.py:2246): the
                # hidden lines are a prefix of the extracted lines
                exp_lines = expected.split("\n") if expected else []
                assert hidden == exp_lines[:len(hidden)], (url, i)
            assert b"3 Tr" in content or not hidden  # invisible render mode
            checked_pages += 1
    assert checked_pages > 20


def test_blocks_path_height_cap():
    """A very long blocks-only page stops emitting lines once the cursor
    passes y < 12 (app.py:2246) — the overlay is capped, the text file
    form is not."""
    block = " ".join(f"word{i}" for i in range(3000))
    ops = pdf_overlay.page_draw_ops([], [block], 1000, 1400, 612.0, 792.0)
    # top_y = 792-18 = 774; lines at 774, 764, ... >= 12 → 77 max
    assert 0 < len(ops) <= 77
    assert ops[-1]["y"] >= 12.0
    full = textops.wrap_for_hidden_text(block, 60)
    assert len(full) > len(ops)  # the cap actually bit
    assert [o["text"] for o in ops] == full[:len(ops)]


def test_vertical_page_rotated_ops():
    toks = []
    for c in range(2):
        x = 800.0 - c * 60.0
        y = 40.0
        for k in range(6):
            toks.append(textops.Token(f"縦{c}{k}", x, y, x + 20.0, y + 80.0))
            y += 86.0
    assert textops.is_vertical_page(toks)
    ops = pdf_overlay.page_draw_ops(toks, [], 1000, 1400, 595.2, 842.0)
    assert ops and all(o["kind"] == "vtext" for o in ops)
    # rotated columns serialize exactly like the pipeline's vertical path
    expected = textops.serialize_page(toks, [])
    assert "\n".join(o["text"] for o in ops) == expected


def test_jpeg_passthrough_in_sink_output():
    fake_jpeg = (b"\xff\xd8\xff\xc0\x00\x11\x08\x00\x80\x00\x60"
                 b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
                 + b"JPEGBODY" * 10 + b"\xff\xd9")
    pdf = pdf_make.build_searchable_pdf([{
        "width_pt": 612.0, "height_pt": 792.0,
        "ops": [{"kind": "text", "text": "over image", "x": 10.0,
                 "y": 700.0, "size": 8.0}],
        "jpeg": fake_jpeg,
    }])
    assert fake_jpeg in pdf                      # byte-exact passthrough
    assert b"/Filter /DCTDecode" in pdf
    assert b"/Width 96 /Height 128" in pdf       # parsed from SOF0
    streams = pdf_scan.page_content_streams(pdf)
    assert b"/Im0 Do" in streams[0]
    assert pdf_scan.count_text_show_ops(streams[0]) == 1


def test_line_overlay_baseline_clamped_at_page_top():
    """Tokens at the very top of the page: the reference clamps the text
    origin y to [0, height_pt - font_size] unconditionally (app.py:2156),
    so a raw baseline above the page must come back clamped."""
    height_pt, width_pt = 792.0, 612.0
    # y2 = 4px on a 1400px page → max_y*sy tiny → raw baseline ≈ height_pt
    toks = [textops.Token("top", 10.0, 0.0, 60.0, 4.0),
            textops.Token("line", 70.0, 0.0, 120.0, 4.0)]
    ops = pdf_overlay.page_draw_ops(toks, [], 1000, 1400, width_pt, height_pt)
    assert len(ops) == 1
    op = ops[0]
    sy = height_pt / 1400
    avg_h = sum(float(t.y2) - float(t.y1) for t in toks) / len(toks)
    bbox_h_pt = max(1.0, avg_h * sy)
    raw_baseline = height_pt - 4.0 * sy + max(0.5, bbox_h_pt * 0.15)
    font_size = max(4.0, min(72.0, bbox_h_pt * 0.85))
    assert op["size"] == font_size
    assert raw_baseline > height_pt - font_size  # the case that clamps
    assert op["y"] == max(0.0, min(height_pt - font_size, raw_baseline))
    assert op["y"] <= height_pt - font_size
