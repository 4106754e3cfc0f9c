"""Pluggable OCR-engine stage: route → engine → parse → serialize.

The reference's core loop shells an external OCR engine once per
document (app.py:1540-1611 ``build_cmd``/``run_subprocess_with_polling``,
launcher resolution app.py:2532-2637), collects the engine's output
FILES from a scratch directory, and feeds them to the tolerant
format-priority parser.  Here the engine is a plain Python callable
called from the dispatcher's ``mapInArrow`` stage
(`extract.run_engine`) — the envelope it returns is exactly the parser's
input (a list of named/typed payloads, the in-memory twin of the
reference's output directory listing), so route → engine → parse →
serialize closes end-to-end in a single python stage with no
per-document subprocess, no scratch filesystem, and no second shuffle.
`extract.run_extraction(..., engine=...)` runs the full loop;
`run_ocr` runs only the engine step over rows already routed
``needs_ocr``.

Engine contract::

    engine(payload: bytes, name: str, page_count: int)
        -> list[{"name": str, "format": "json"|"xml"|"txt",
                 "payload": str}]

- A RAISED exception is the reference's nonzero-exit path
  (``NDLOCR-Lite 失敗`` app.py:1635-1639) → ``parse_failure`` action
  row, never a task failure.
- An EMPTY list is the reference's "ran fine but wrote no output
  files" path (app.py:1641-1644) → ``parse_failure`` with a warning.
- Parsed-but-textless output is the reference's
  "OCR結果にテキストがありません" branch (app.py:2724-2728) →
  ``parse_failure``.

Scale shape: the engine call is per-row Python INSIDE the Arrow batch
(the only place per-row Python is allowed in this repo).
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import DataFrame

from . import extract as ex

EngineFn = Callable[[bytes, str, int], List[Dict[str, str]]]


def deterministic_fake_engine(payload: bytes, name: str,
                              page_count: int) -> List[Dict[str, str]]:
    """Deterministic stand-in engine for tests/oracles: per document it
    emits one NDLOCR-shaped JSON (``contents`` = one token list per
    page, ``boundingBox`` geometry) whose token texts derive from
    md5(payload), PLUS a decoy TXT output — the format-priority merge
    must never consume the TXT because the JSON already fills every
    page (app.py:1651-1687 ordering, exercised end-to-end).

    Token geometry is chosen so each page serializes as the plain
    space-join of its three tokens: x-gaps of 10 at height 10 give
    gap_ratio 1.0 ≥ 0.45 → single space (textops.join_tokens_for_
    hidden_line).  Hex words are letter-wrapped (``x…x``) and the page
    word comes last, so no token boundary crosses the normalizer's
    letter↔digit space squeeze (textops._OCR_SPACE_PATTERNS) — the
    serialized text is exactly the space-join, which keeps the operator
    SQL-oracle-able."""
    digest = hashlib.md5(payload or b"").hexdigest()
    contents = []
    for i in range(page_count):
        words = [f"x{digest[:8]}x", f"x{digest[8:16]}x", f"pg{i + 1}"]
        line = []
        for j, w in enumerate(words):
            x = 10.0 + 60.0 * j
            line.append({"text": w,
                         "boundingBox": [x, 20.0, x + 50.0, 30.0]})
        contents.append(line)
    return [
        {"name": f"{name}.json", "format": "json",
         "payload": json.dumps(
             {"contents": contents, "imginfo": {"img_name": name}})},
        {"name": f"{name}.txt", "format": "txt",
         "payload": "DECOY MUST NOT APPEAR"},
    ]


def text_only_fake_engine(payload: bytes, name: str,
                          page_count: int) -> List[Dict[str, str]]:
    """TXT-only engine variant: one form-feed-paged text payload (the
    count-match zip path of app.py:1790-1823) — pages come back as
    blocks-only and serialize through the 60-char wrap.  Blocks are
    letter-wrapped-hex first, page word last — same squeeze-proof
    shaping as the JSON engine."""
    digest = hashlib.md5(payload or b"").hexdigest()
    body = "\f".join(f"x{digest[:8]}x t{i + 1}" for i in range(page_count))
    return [{"name": f"{name}.txt", "format": "txt", "payload": body}]


def run_ocr(docs: DataFrame, engine: Optional[EngineFn] = None,
            num_partitions: int = 0) -> DataFrame:
    """The engine seam as a standalone operator: rows already routed
    ``needs_ocr`` (url, payload, page_count) → EXTRACT_SCHEMA action
    rows with ``doc_kind`` ``ocr`` and an empty ``lang``, one vectorized
    stage.

    Payloads go through the dispatcher's exchange first
    (`extract.salted_repartition`: placed by url bucket, a uniform hash
    spread) — OCR cost scales with payload size, so the tail must
    spread."""
    engine = engine or deterministic_fake_engine

    def ocr_row(url, payload, page_count) -> Dict[str, Any]:
        t0 = time.perf_counter()
        payload = bytes(payload or b"")
        out = ex.run_engine(engine, payload, url, page_count)
        out.update({"url": url, "lang": "", "doc_kind": "ocr",
                    "bytes_in": len(payload),
                    "seconds": time.perf_counter() - t0})
        return out

    sel = docs.select("url", "payload", "page_count")
    sel = ex.salted_repartition(sel, num_partitions)
    return ex.map_rows(sel, ocr_row, ("url", "payload", "page_count"),
                       ex.EXTRACT_SCHEMA)
