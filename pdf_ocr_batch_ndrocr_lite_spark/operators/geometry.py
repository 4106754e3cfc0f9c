"""Page-geometry projection (SURVEY §2.2 F6 / §2.8 T16) — the reference's
render-side math as pure Catalyst column arithmetic (no UDF):

- ``normalize_dpi``     — `_normalize_dpi_value`: accepted range [20, 1200],
                          anything else (incl. unparseable/NULL) → 150.0
                          (app.py:91, 3911-3918)
- render-DPI clamp      — `max(72, int(render_dpi))` (app.py:1414)
- px→pt projection      — `width_pt = width_px * 72.0 / normalized_dpi`
                          (app.py:1427-1428)
- rotation normalization — `int(rotation or 0) % 360`, Python semantics:
                          always non-negative (app.py:1381)
- media/crop fallbacks  — crop falls back to media, both fall back to the
                          rendered page size when missing or zero
                          (`or width_pt`, app.py:1389-1395, 1440-1443)

All expressions are single IEEE operations in a fixed order, so the DuckDB
oracle (q44) reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_IMAGE_DPI = 150.0   # app.py:91
MIN_RENDER_DPI = 72         # app.py:1414


def normalize_dpi(col: Column) -> Column:
    """T16: accepted range [20, 1200]; NULL / out-of-range → 150.0."""
    v = col.cast("double")
    return F.when(v.isNull() | (v < 20) | (v > 1200),
                  F.lit(DEFAULT_IMAGE_DPI)).otherwise(v)


def _fallback_zero_null(col: Column, fallback: Column) -> Column:
    """Python's `float(x or fallback)`: 0.0 and NULL both take the
    fallback (app.py:1440-1443)."""
    return F.when(col.isNull() | (col == 0.0), fallback).otherwise(col)


def page_geometry(pages: DataFrame) -> DataFrame:
    """Project raw per-page render metadata to the reference's normalized
    geometry columns.  Pure whole-stage-codegen arithmetic — at 100 TB this
    rides the scan for free."""
    ndpi = F.greatest(F.lit(MIN_RENDER_DPI),
                      F.col("render_dpi").cast("int"))
    width_pt = F.col("width_px") * F.lit(72.0) / ndpi
    height_pt = F.col("height_px") * F.lit(72.0) / ndpi
    rotation = F.pmod(F.coalesce(F.col("rotation_deg").cast("int"), F.lit(0)),
                      F.lit(360))
    media_w = _fallback_zero_null(F.col("media_width_pt").cast("double"),
                                  width_pt)
    crop_w = _fallback_zero_null(F.col("crop_width_pt").cast("double"),
                                 media_w)
    return pages.withColumns({
        "norm_dpi": ndpi,
        "width_pt": width_pt,
        "height_pt": height_pt,
        "rotation_norm": rotation,
        "media_width_pt_norm": media_w,
        "crop_width_pt_norm": crop_w,
    })
