"""OCR-engine adapter seam: route → engine → parse → serialize
(operators/ocr_engine.py vs app.py:1540-1611 semantics)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as E
from pdf_ocr_batch_ndrocr_lite_spark.operators import ocr_engine as oe
from pdf_ocr_batch_ndrocr_lite_spark.sources.corpus import corpus_df

N_DOCS = 300
SEED = 42


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "url string, payload binary, page_count int")


def test_run_ocr_deterministic_engine(spark):
    rows = [(f"d{i}", f"payload {i}".encode(), 1 + i % 3)
            for i in range(40)]
    got = {r["url"]: r for r in
           oe.run_ocr(_docs(spark, rows), num_partitions=4).collect()}
    assert len(got) == 40
    for url, payload, pc in rows:
        d = hashlib.md5(payload).hexdigest()
        expect = "\n\n".join(
            f"x{d[:8]}x x{d[8:16]}x pg{i + 1}" for i in range(pc))
        r = got[url]
        assert r["action"] == E.ACTION_EXTRACTED
        assert r["extracted_text"] == expect, url
        assert r["token_count"] == 3 * pc
        assert r["block_count"] == 0
        assert "DECOY" not in r["extracted_text"]   # priority skips TXT


def test_run_ocr_failure_modes_never_raise(spark):
    """Engine exceptions and empty output both become parse_failure
    action rows (app.py:1635-1644), never task failures."""

    def engine(payload, name, pc):
        if name == "boom":
            raise RuntimeError("engine exploded")
        if name == "empty":
            return []
        if name == "textless":
            return [{"name": "a.txt", "format": "txt", "payload": "  "}]
        return oe.deterministic_fake_engine(payload, name, pc)

    rows = [("boom", b"x", 1), ("empty", b"y", 2),
            ("textless", b"z", 1), ("ok", b"w", 1)]
    got = {r["url"]: r for r in
           oe.run_ocr(_docs(spark, rows), engine=engine).collect()}
    for bad in ("boom", "empty", "textless"):
        assert got[bad]["action"] == E.ACTION_PARSE_FAILURE, bad
        assert got[bad]["extracted_text"] == ""
    assert got["boom"]["parse_warnings"] == 1
    assert got["empty"]["parse_warnings"] == 1
    assert got["ok"]["action"] == E.ACTION_EXTRACTED


def test_extract_with_ocr_closes_needs_ocr_rows(spark):
    """Full closed loop over the synthetic corpus: every row the plain
    dispatcher routes needs_ocr (scanned-image PDFs, images) comes back
    extracted with the engine's deterministic text; every OTHER row is
    byte-identical to the plain dispatcher's output."""
    pages = corpus_df(spark, N_DOCS, seed=SEED, partitions=8)
    plain = {r["url"]: r for r in E.run_extraction(pages).collect()}
    closed = {r["url"]: r for r in E.run_extraction(
        pages, engine=oe.deterministic_fake_engine).collect()}
    assert set(plain) == set(closed)
    n_ocr = 0
    for url, p in plain.items():
        c = closed[url]
        if p["action"] == E.ACTION_NEEDS_OCR:
            n_ocr += 1
            assert c["action"] == E.ACTION_EXTRACTED, url
            assert c["doc_kind"] == p["doc_kind"]       # rawpdf / image
            assert c["token_count"] == 3 * max(1, p["page_count"])
            assert "pg1" in c["extracted_text"]
        else:
            assert c["action"] == p["action"], url
            assert c["extracted_text"] == p["extracted_text"], url
            assert c["token_count"] == p["token_count"]
    assert n_ocr > 0     # the corpus genuinely exercises the engine


def test_extract_with_ocr_single_python_stage(spark, tmp_path):
    """The closed loop must keep the dispatcher's plan invariant: ONE
    scan, ONE exchange, ONE python stage — the engine rides inside the
    existing stage, it does not add a second shuffle or scan."""
    corpus_df(spark, 100, seed=SEED, partitions=2) \
        .write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    plan = E.run_extraction(pages, num_partitions=4,
                            engine=oe.deterministic_fake_engine) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange ") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_text_only_engine_blocks_path(spark):
    """TXT-only engine: form-feed page split, blocks-only serialization
    through the 60-char wrap."""
    rows = [("t1", b"abc", 3)]
    r = oe.run_ocr(_docs(spark, rows),
                   engine=oe.text_only_fake_engine).collect()[0]
    d = hashlib.md5(b"abc").hexdigest()
    assert r["extracted_text"] == "\n\n".join(
        f"x{d[:8]}x t{i + 1}" for i in range(3))
    assert r["block_count"] == 3 and r["token_count"] == 0


def test_run_pipeline_with_engine(spark, tmp_path):
    """Product-level closure: run_pipeline(ocr_engine=...) extracts the
    needs_ocr rows through the engine — counters move from needs_ocr to
    extracted, sink rows grow accordingly, resume still works."""
    from pdf_ocr_batch_ndrocr_lite_spark.plans.pipeline import run_pipeline
    from pdf_ocr_batch_ndrocr_lite_spark.sources.storage import StorageAdapter

    pages = corpus_df(spark, 200, seed=SEED, partitions=4)
    out_a = str(tmp_path / "plain")
    out_b = str(tmp_path / "engine")
    st = StorageAdapter()
    plain = run_pipeline(spark, pages, output_path=out_a,
                         checkpoint_path=str(tmp_path / "ck_a"), storage=st)
    closed = run_pipeline(spark, pages, output_path=out_b,
                          checkpoint_path=str(tmp_path / "ck_b"), storage=st,
                          ocr_engine=oe.deterministic_fake_engine)
    assert plain["needs_ocr"] > 0 and closed["needs_ocr"] == 0
    assert closed["extracted"] == plain["extracted"] + plain["needs_ocr"]
    for key in ("docs", "skip_name", "skip_has_text", "parse_failures"):
        assert closed[key] == plain[key], key
    assert spark.read.parquet(out_b).count() == closed["extracted"]
    # resume: second run does nothing
    again = run_pipeline(spark, pages, output_path=out_b,
                         checkpoint_path=str(tmp_path / "ck_b"), storage=st,
                         ocr_engine=oe.deterministic_fake_engine)
    assert again["docs"] == 0


def test_run_ocr_null_page_count_degrades_to_one(spark):
    """A NULL page_count reaches the row function as None; the stage
    must treat it as 1 page, not abort the task on int(None)."""
    rows = [("ok", b"payload", 2), ("nullpc", b"payload2", None)]
    got = {r["url"]: r for r in
           oe.run_ocr(_docs(spark, rows)).collect()}
    assert got["nullpc"]["page_count"] == 1
    assert got["nullpc"]["action"] == "extracted"
    assert got["ok"]["page_count"] == 2
