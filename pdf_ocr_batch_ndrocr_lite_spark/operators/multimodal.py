"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side mechanics — schema, Arrow batch shape, partitioning, UDF
signatures — are real and tested.  Image METADATA is real too:
`media_features` parses width/height/dpi straight from payload header
bytes via the stdlib parsers in functions/image_meta.py (the full
reference whitelist — jpeg/png/bmp/tiff/webp — with Pillow-parity
density semantics), so an image column carries its true dimensions with
no codec at all.  Only PIXEL-level work remains stubbed: the feature
vector and audio/video frame count derive from deterministic md5 fakes
because the pixel codecs (Pillow/ffmpeg) are not in this container
(marked DECODE STUB below).  Swapping the stub for a codec-backed
decode changes no Spark plumbing.
"""

from __future__ import annotations

import hashlib
from typing import Any, Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.functions import image_meta as _im

from .extract import map_rows

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "width int, height int, duration_ms int"
)

FEATURE_SCHEMA = (
    "media_id bigint, kind string, n_bytes bigint, digest string, "
    "feature array<float>, n_frames int, "
    "fmt string, width int, height int, dpi double"
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Derive a media table from a text corpus for plumbing tests: payload =
    utf-8 bytes of the text (deterministic fake media), typed metadata
    columns as a real ingest would carry."""
    return docs.select(
        F.col("doc_id").cast("bigint").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit(640).alias("width"),
        F.lit(480).alias("height"),
        (F.length(F.col("text")) * 10).cast("int").alias("duration_ms"),
    )


def _fake_decode_features(payload: bytes, kind: str, dim: int = 8):
    """DECODE STUB — deterministic stand-in for image decode / resize /
    frame-sample / audio feature extraction.  Real implementation would
    decode `payload` with the appropriate codec; here features derive from
    the md5 digest so tests are stable AND the whole stub has an exact
    DuckDB oracle twin (sha1 is not available in DuckDB 1.0)."""
    digest = hashlib.md5(payload or b"").digest()
    feats = [((digest[i] / 255.0) * 2.0 - 1.0) for i in range(dim)]
    n_frames = 1 if kind == "image" else 1 + digest[0] % 16
    return digest.hex(), feats, n_frames


def _image_header_meta(raw: bytes, kind: str):
    """Header-derived (fmt, width, height, dpi) for image payloads — real
    metadata from real bytes (functions/image_meta.py, stdlib only).
    Non-image kinds and image-claimed payloads that don't sniff/parse as
    a whitelisted format come back all-NULL: metadata absence is data, a
    curation pipeline filters on it (the reference raises per document,
    app.py:1494; an action-row engine records and moves on)."""
    if kind != "image":
        return None, None, None, None
    try:
        meta = _im.prepare_image(raw)
    except _im.ImageParseError:
        return None, None, None, None
    return (meta["format"], int(meta["width_px"]), int(meta["height_px"]),
            float(meta["dpi_x"]))


def demo_encoder(payload: bytes, kind: str):
    """Deterministic NON-default encoder proving the `media_features`
    seam end-to-end (q91): kind-salted md5, features are dyadic
    rationals (byte/256*2-1 — exactly representable in float32 AND
    float64, so a double-precision SQL oracle matches bitwise through
    the array<float> schema).  A real deployment injects its image /
    audio tower through the same signature."""
    digest = hashlib.md5(
        (payload or b"") + (kind or "").encode("utf-8")).digest()
    feats = [(digest[2 * i] / 256.0) * 2.0 - 1.0 for i in range(8)]
    n_frames = 1 if kind == "image" else 1 + digest[1] % 9
    return feats, n_frames


def media_features(media: DataFrame, encoder=None) -> DataFrame:
    """Vectorized feature extraction over binary media: one `map_rows`
    stage, Arrow-batched; batch size bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch so giant payloads never
    blow executor memory.

    Image rows additionally carry REAL header metadata (fmt, width,
    height, normalized dpi) parsed from the payload bytes — the
    reference's ``_prepare_image`` semantics (app.py:1470-1520) with no
    codec.

    ``encoder``: the injection seam for a real media tower — a
    picklable ``(payload: bytes, kind: str) -> (feature: list[float],
    n_frames: int)`` callable (the ``run_ocr(engine=...)`` pattern,
    ocr_engine.py).  Default None keeps the deterministic md5 stub
    (oracle-twinned in DuckDB); the digest column is always the
    stage-computed payload md5 regardless of encoder.  The stage stays
    ONE Python stage either way (plan-tested)."""

    def media_row(mid, kind, payload) -> Dict[str, Any]:
        raw = bytes(payload or b"")
        if encoder is None:
            digest, feats, n_frames = _fake_decode_features(raw, kind)
        else:
            digest = hashlib.md5(raw).hexdigest()
            feats, n_frames = encoder(raw, kind)
        fmt, w, h, dpi = _image_header_meta(raw, kind)
        return {"media_id": mid, "kind": kind, "n_bytes": len(raw),
                "digest": digest, "feature": feats, "n_frames": n_frames,
                "fmt": fmt, "width": w, "height": h, "dpi": dpi}

    return map_rows(media.select("media_id", "kind", "payload"), media_row,
                    ("media_id", "kind", "payload"), FEATURE_SCHEMA)


def media_summary(media: DataFrame) -> DataFrame:
    """Typed-metadata rollup (no decode): per kind, count / bytes /
    duration.  Pure relational — the common 'inventory' query over a
    multimodal lake."""
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.length(F.col("payload"))).cast("bigint").alias("total_bytes"),
        F.sum("duration_ms").cast("bigint").alias("total_duration_ms"),
    )
