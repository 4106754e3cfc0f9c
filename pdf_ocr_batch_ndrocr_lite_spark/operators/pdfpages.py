"""PDF page explode over RAW bytes (SURVEY §2.1 S3 as a relational
operator): one output row per page with the text-layer signals the
reference computes per page — text-show operator count and
whitespace-stripped char count (app.py:1192-1278 page loop, here exposed
as a fan-out instead of a scalar predicate).

UDTF-shaped mapInPandas fan-out, same scale posture as the extraction
dispatcher: Arrow-batched, no per-row Python at the Spark level, page
fan-out multiplies row count so this runs AFTER filtering.  Documents that
fail to parse (truncated, encrypted without an empty password) contribute
ZERO page rows — callers recover the failure set with an anti-join on url,
which keeps this operator's output purely page-shaped.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions import pdf_scan

PAGE_STATS_SCHEMA = ("url string, page_index int, n_text_ops int, "
                     "n_chars int, text_layer string")


def pdf_page_stats(pages: DataFrame) -> DataFrame:
    """Explode raw-PDF documents to per-page rows: the text-layer signals
    (op count, stripped chars) plus the extracted text layer itself
    (show-string bytes in stream order — the no-OCR-needed fast path for
    searchable PDFs in the crawl)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "page_index", "n_text_ops", "n_chars", "text_layer"]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out: dict = {c: [] for c in cols}
            for url, payload in zip(pdf["url"], pdf["html"]):
                try:
                    scans = pdf_scan.page_scans(bytes(payload or b""))
                except ValueError:
                    continue  # parse/encryption failure → zero page rows
                for i, scan in enumerate(scans):
                    out["url"].append(url)
                    out["page_index"].append(i)
                    out["n_text_ops"].append(
                        pdf_scan.count_text_show_ops(scan.content))
                    out["n_chars"].append(
                        pdf_scan.count_text_chars(scan.content, scan.fonts))
                    out["text_layer"].append(
                        pdf_scan.extract_text_layer(scan.content,
                                                    scan.fonts))
            yield pd.DataFrame(out, columns=cols)

    return pages.select("url", "html") \
        .mapInPandas(run, schema=PAGE_STATS_SCHEMA)
