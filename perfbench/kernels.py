"""Kernel microbench: the public kernel functions, single process, per doc.

Runs over a fixed sample of the workload's own generated rows (the first
``PER_ROUTE`` documents of each route, in index order) and reports per-doc
p50/p99 in microseconds.  The per-route split comes from timing the calls
here, not from the ``seconds`` column the dispatcher writes.
"""

from __future__ import annotations

import json
import math
import re
import time
from collections import defaultdict
from typing import Dict, List, Optional

from pdf_ocr_batch_ndrocr_lite_spark.functions import (html_extract,
                                                        image_meta, ocr_parse,
                                                        pdf_scan, textops)
from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as ex

ROUTES = ("pdf", "html", "rawpdf", "image")
KERNELS = ("ocr_parse.parse_envelope_us", "textops.serialize_us",
           "html_extract.extract_main_text_us", "pdf_scan.scan_text_layer_us",
           "image_meta.prepare_image_us")
QUANTILES = {"p50": 0.5, "p99": 0.99}
# documents timed per route
PER_ROUTE = 256


def nearest_rank(values: List[float], q: float) -> Optional[float]:
    """Nearest-rank quantile, q in (0, 1]."""
    if not values:
        return None
    v = sorted(values)
    return v[max(0, math.ceil(round(q * len(v), 9)) - 1)]


def _us(fn, *args) -> float:
    t0 = time.perf_counter_ns()
    fn(*args)
    return (time.perf_counter_ns() - t0) / 1e3


def _time_kernels(kind: str, payload: bytes, out: Dict[str, List[float]]):
    """Time the route's kernel calls the way ``extract_one`` makes them."""
    if kind == "html":
        text = payload.decode("utf-8", errors="replace")
        out["html_extract.extract_main_text_us"].append(
            _us(html_extract.extract_main_text, text))
    elif kind == "rawpdf":
        def scan():
            try:
                pdf_scan.scan_text_layer(
                    payload, pages_to_check=ex.TEXT_LAYER_CHECK_PAGES,
                    min_chars=ex.MIN_TEXT_LAYER_CHARS,
                    min_text_ops=ex.MIN_TEXT_SHOW_OPS)
            except ValueError:
                pass
        out["pdf_scan.scan_text_layer_us"].append(_us(scan))
    elif kind == "image":
        def prepare():
            try:
                image_meta.prepare_image(payload)
            except ValueError:
                pass
        out["image_meta.prepare_image_us"].append(_us(prepare))
    elif kind == "pdf":
        env = json.loads(payload.decode("utf-8"))
        metas = env.get("pages") or []
        if env.get("encrypted") or ex.has_text_layer(metas):
            return  # routed before the parser runs
        n = len(metas)
        t0 = time.perf_counter_ns()
        pages, _ = ocr_parse.parse_envelope(env.get("ocr_outputs") or [], n)
        t1 = time.perf_counter_ns()
        textops.serialize_document([
            textops.serialize_page(pages[i].tokens, pages[i].text_blocks)
            for i in range(n)])
        t2 = time.perf_counter_ns()
        out["ocr_parse.parse_envelope_us"].append((t1 - t0) / 1e3)
        out["textops.serialize_us"].append((t2 - t1) / 1e3)


def kernel_metrics(rows) -> Dict[str, float]:
    """``rows``: the workload's pages as a pandas frame (url, html, lang)."""
    skip = re.compile(ex.GENERATED_NAME_PATTERN)
    samples: Dict[str, List[float]] = defaultdict(list)
    taken: Dict[str, int] = defaultdict(int)
    for url, payload, lang in zip(rows["url"], rows["html"], rows["lang"]):
        if skip.search(url):
            continue
        t0 = time.perf_counter_ns()
        kind = ex.extract_one(url, payload, lang)["doc_kind"]
        dt = (time.perf_counter_ns() - t0) / 1e3
        if taken[kind] >= PER_ROUTE:
            continue
        taken[kind] += 1
        samples[f"extract.extract_one_us.{kind}"].append(dt)
        _time_kernels(kind, bytes(payload), samples)
    names = list(KERNELS) + [f"extract.extract_one_us.{r}" for r in ROUTES]
    out = {}
    for name in names:
        for label, q in QUANTILES.items():
            out[f"{name}.{label}"] = nearest_rank(samples.get(name, []), q)
    return out
