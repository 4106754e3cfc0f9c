"""Multimodal binary-column plumbing (decode stubbed; Spark shapes real)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pdf_ocr_batch_ndrocr_lite_spark.operators import multimodal as mm

SF_DIR = "/root/testdata/sf0.001"


def _media(spark, n=100):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .filter(F.col("doc_id") < n)
    return mm.attach_media(docs)


def test_attach_media_matches_media_schema(spark):
    """``MEDIA_SCHEMA`` documents `attach_media`'s output: names and types
    in order (literal columns are non-nullable, so nullability differs)."""
    expected = StructType.fromDDL(mm.MEDIA_SCHEMA)
    got = _media(spark, 5).schema
    assert [(f.name, f.dataType) for f in got] == \
        [(f.name, f.dataType) for f in expected]


def test_media_features_shapes(spark):
    media = _media(spark)
    feats = mm.media_features(media)
    rows = feats.collect()
    assert len(rows) == media.count()
    for r in rows[:10]:
        assert len(r["feature"]) == 8
        assert all(-1.0 <= v <= 1.0 for v in r["feature"])
        assert r["n_frames"] >= 1
        assert len(r["digest"]) == 32


def test_media_features_deterministic(spark):
    media = _media(spark, 30)
    a = {r["media_id"]: r["digest"]
         for r in mm.media_features(media).collect()}
    b = {r["media_id"]: r["digest"]
         for r in mm.media_features(media.repartition(7)).collect()}
    assert a == b


def test_summary_matches_inputs(spark):
    media = _media(spark)
    s = {r["kind"]: r for r in mm.media_summary(media).collect()}
    assert set(s) == {"image", "audio", "video"}
    assert sum(r["n_items"] for r in s.values()) == media.count()


def test_media_features_image_header_metadata(spark):
    """Image-kind payloads carry REAL header-parsed fmt/width/height/dpi
    (functions/image_meta.py), one row per whitelisted format; non-image
    kinds and unparseable image payloads come back all-NULL without
    raising."""
    from pdf_ocr_batch_ndrocr_lite_spark.functions import image_meta as im

    rows = [
        (0, "image", im.make_fake_jpeg(320, 240, dpi=96)),
        (1, "image", im.make_fake_png(500, 400, dpi=300.0)),
        (2, "image", im.make_fake_bmp(64, 48, dpi=96)),
        (3, "image", im.make_fake_tiff(800, 600, dpi=200, unit=2)),
        (4, "image", im.make_fake_webp(210, 160, variant="vp8l")),
        (5, "image", b"\xff\xd8truncated"),       # sniffs jpeg, no SOF
        (6, "audio", b"not an image at all"),
        (7, "image", None),                        # NULL payload
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, payload binary")
    got = {r["media_id"]: r for r in mm.media_features(media).collect()}
    assert (got[0]["fmt"], got[0]["width"], got[0]["height"],
            got[0]["dpi"]) == ("jpeg", 320, 240, 96.0)
    assert got[1]["fmt"] == "png" and got[1]["width"] == 500
    assert abs(got[1]["dpi"] - 11811 * 0.0254) < 1e-12
    assert got[2]["fmt"] == "bmp"
    assert abs(got[2]["dpi"] - 3780 / 39.3701) < 1e-12
    assert (got[3]["fmt"], got[3]["dpi"]) == ("tiff", 200.0)
    assert (got[4]["fmt"], got[4]["width"], got[4]["height"],
            got[4]["dpi"]) == ("webp", 210, 160, 150.0)
    for mid in (5, 6, 7):
        r = got[mid]
        assert r["fmt"] is None and r["width"] is None \
            and r["height"] is None and r["dpi"] is None, r
    # the md5 stub columns still populate for every row
    assert all(len(got[m]["digest"]) == 32 for m in got)


def test_media_features_encoder_seam(spark):
    """An injected (payload, kind) -> (feature, n_frames) encoder
    replaces the md5 stub without touching digest/metadata columns or
    the stage shape: features match a local recompute, the default
    path is unchanged, and the plan stays ONE python stage."""
    import hashlib

    media = _media(spark, 30)
    out = {r["media_id"]: r
           for r in mm.media_features(media,
                                      encoder=mm.demo_encoder).collect()}
    src = {r["media_id"]: (bytes(r["payload"]), r["kind"])
           for r in media.collect()}
    for mid, (payload, kind) in src.items():
        feats, n_frames = mm.demo_encoder(payload, kind)
        r = out[mid]
        assert list(r["feature"]) == [float(f) for f in feats] or \
            all(abs(a - b) < 1e-12 for a, b in zip(r["feature"], feats))
        assert r["n_frames"] == n_frames
        # digest stays the stage-computed payload md5, encoder-agnostic
        assert r["digest"] == hashlib.md5(payload).hexdigest()
    phys = mm.media_features(media, encoder=mm.demo_encoder) \
        ._jdf.queryExecution().executedPlan().toString()
    assert phys.count("MapInArrow") == 1


def test_demo_encoder_features_dyadic_exact(spark):
    """demo_encoder features are dyadic rationals: exact in float32, so
    the array<float> schema round-trips them bit-identically (the q91
    oracle contract)."""
    import struct

    feats, _ = mm.demo_encoder(b"payload", "audio")
    for f in feats:
        assert struct.unpack("f", struct.pack("f", f))[0] == f
