"""PDF page explode over RAW bytes (SURVEY §2.1 S3 as a relational
operator): one output row per page with the text-layer signals the
reference computes per page — text-show operator count and
whitespace-stripped char count (app.py:1192-1278 page loop, here exposed
as a fan-out instead of a scalar predicate).

UDTF-shaped fan-out, same scale posture as the extraction dispatcher: the
per-document scan is one `extract.map_rows` stage returning each document's
pages as one array, and the JVM explodes it (`posexplode`) into page rows.
Page fan-out multiplies row count, so this runs AFTER filtering.
Documents that fail to parse (truncated, encrypted without an empty
password) carry an empty array and so contribute ZERO page rows — callers
recover the failure set with an anti-join on url, which keeps this
operator's output purely page-shaped.
"""

from __future__ import annotations

from typing import Any, Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import pdf_scan
from .extract import map_rows


def pdf_page_stats(pages: DataFrame) -> DataFrame:
    """Explode raw-PDF documents to per-page rows (url, page_index,
    n_text_ops, n_chars, text_layer): the text-layer signals (op count,
    stripped chars) plus the extracted text layer itself (show-string
    bytes in stream order — the no-OCR-needed fast path for searchable
    PDFs in the crawl)."""

    def page_row(url, payload) -> Dict[str, Any]:
        try:
            scans = pdf_scan.page_scans(bytes(payload or b""))
        except ValueError:
            scans = []  # parse/encryption failure → zero page rows
        return {"url": url, "pages": [
            {"n_text_ops": pdf_scan.count_text_show_ops(scan.content),
             "n_chars": pdf_scan.count_text_chars(scan.content, scan.fonts),
             "text_layer": pdf_scan.extract_text_layer(scan.content,
                                                       scan.fonts)}
            for scan in scans]}

    docs = map_rows(pages.select("url", "html"), page_row, ("url", "html"),
                    "url string, pages array<struct<n_text_ops: int, "
                    "n_chars: int, text_layer: string>>")
    return docs.select("url", F.posexplode("pages")
                       .alias("page_index", "page")) \
        .select("url", "page_index", "page.n_text_ops", "page.n_chars",
                "page.text_layer")
