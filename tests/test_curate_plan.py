"""End-to-end corpus-curation plan: the composed cascade must drop
exactly what the standalone operators say, carry honest stage counts,
and run through the CLI."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.plans.curate import run_curation


def _corpus(spark):
    good = ("the quick brown fox jumps over the lazy dog and runs for "
            "the hills where the other animals live in the open") * 2
    rows = [
        (0, "en", good),                      # kept
        (1, "en", good),                      # exact dup of 0 → verdict
        (2, "en", good + " tail variation"),  # near-dup of 0 → LSH drop
        (3, "en", "zz qq ww"),                # lang unknown → verdict
        (4, "en", good.replace("quick", "clever")),  # near-dup of 0
        (5, "en", ("completely different prose about the sea and the "
                   "ships that sail upon it for days and days on end "
                   "with the wind in the sails and the stars to steer")),
    ]
    return spark.createDataFrame(rows, "doc_id int, lang string, text string")


def test_run_curation_cascade_counts(spark, tmp_path):
    docs = _corpus(spark)
    kept, counts = run_curation(docs, scratch_dir=str(tmp_path / "scr"),
                                jaccard_threshold=0.5, max_df=None)
    ids = sorted(r["doc_id"] for r in kept.collect())
    # 1 exact-dup and 3 lang-unknown die in the verdict; 2 and 4 are
    # near-dups of 0 (higher ids lose); 0 and 5 survive
    assert ids == [0, 5]
    assert counts["input"] == 6
    assert counts["dropped_exact_dup"] == 1   # 1
    assert counts["dropped_lang"] == 1        # 3
    assert counts["after_verdict"] == 4       # 0, 2, 4, 5
    assert counts["after_near_dup"] == 2      # 0, 5
    assert counts["kept"] == 2


def test_run_curation_decontam_and_mixing(spark, tmp_path):
    docs = _corpus(spark)
    bench = docs.filter(F.col("doc_id") == 5)  # "eval set" = doc 5's text
    kept, counts = run_curation(docs, scratch_dir=str(tmp_path / "scr"),
                                jaccard_threshold=0.5, max_df=None,
                                bench=bench, min_overlap=2,
                                mix_rates={"en": 1.0}, default_rate=0.0)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0]  # 5 is contaminated (it IS the benchmark)
    assert counts["after_decontam"] == 1
    assert counts["after_mixing"] == 1  # en rate 1.0 keeps everything left


def test_curate_cli_smoke(tmp_path):
    import subprocess
    import sys
    out = tmp_path / "kept"
    proc = subprocess.run(
        [sys.executable, "-m", "pdf_ocr_batch_ndrocr_lite_spark.jobs",
         "--curate", "--synthetic-docs", "300",
         # the synthetic word pool (frozen by the golden fixtures) has no
         # stopwords, so the default lang/quality gates would kill every
         # doc — the smoke verifies the cascade PLUMBING, so relax both
         # and let exact-dup/repetition/mixing do the work
         "--keep-unknown-lang", "--min-quality", "0.0",
         "--mix-rates", '{"en": 1.0, "de": 1.0, "ja": 1.0}',
         "--default-rate", "1.0",
         "--output", str(out)],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    counts = json.loads(line)
    assert counts["input"] == 300
    assert 0 < counts["kept"] <= counts["after_verdict"] <= 300
    assert counts["after_verdict"] + sum(
        counts[f"dropped_{r}"]
        for r in ("exact_dup", "lang", "quality", "repetition")) == 300


def test_run_curation_stage_barrier_executes_stages_once(spark, tmp_path):
    """Every stage boundary is a parquet barrier: the returned frame's
    plan is a bare scan of the LAST stage's parquet — no verdict
    projection, no LSH joins, no window — so the final write and any
    later action re-execute NOTHING upstream."""
    docs = _corpus(spark)
    kept, _ = run_curation(docs, scratch_dir=str(tmp_path / "scr"),
                           jaccard_threshold=0.5, max_df=None)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan         # reads the materialized stage
    for node in ("Join", "Window", "Aggregate", "Exchange"):
        assert node not in plan, f"barriered plan re-executes a {node}"
    # stage outputs are materialized once per stage under the scratch dir
    names = {p.name for p in (tmp_path / "scr").iterdir()}
    assert names == {"stage1_verdict", "stage2_near_dup"}
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 5]


def test_run_curation_boilerplate_null_text_survives_to_verdict(spark,
                                                                 tmp_path):
    """A NULL-text doc yields no line rows in the pre-pass rebuild; the
    left-join+coalesce must carry it through to the verdict stage (where
    it gets an explicit drop) instead of silently vanishing from the
    corpus before any stage sees it."""
    nav = "shared navigation chrome line"
    good = ("the quick brown fox jumps over the lazy dog and runs for "
            "the hills where the other animals live in the open")
    rows = [(i, "en", nav + "\n" + good + f" variant {i}") for i in range(4)]
    rows.append((8, "en", None))              # NULL text
    docs = spark.createDataFrame(rows, "doc_id int, lang string, text string")
    kept, counts = run_curation(docs, scratch_dir=str(tmp_path / "scr"),
                                boilerplate_max_df=2, near_dup=False)
    assert counts["input"] == 5
    # the NULL doc reached the verdict (and was dropped THERE, by the
    # quality gate) — after_verdict counts only the 4 real docs
    assert counts["after_verdict"] == 4
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2, 3]


def test_run_curation_boilerplate_prepass(spark, tmp_path):
    """The line-level pre-pass strips corpus-wide chrome BEFORE doc-level
    signals: the shared navigation line appears in 4 docs (> max_df 2) and
    must be gone from every survivor's text; stage counts record the
    volume removed."""
    nav = "shared navigation chrome line"
    good = ("the quick brown fox jumps over the lazy dog and runs for "
            "the hills where the other animals live in the open")
    rows = [(i, "en", nav + "\n" + good + f" variant {i}") for i in range(4)]
    rows.append((9, "en", good + " standalone"))
    docs = spark.createDataFrame(rows, "doc_id int, lang string, text string")
    kept, counts = run_curation(docs, scratch_dir=str(tmp_path / "scr"),
                                boilerplate_max_df=2, near_dup=False)
    assert counts["boiler_lines_dropped"] == 4
    for r in kept.collect():
        assert nav not in r["text"]


def test_run_curation_stage1_reads_docs_once_for_its_rows(spark, tmp_path,
                                                          monkeypatch):
    """Stage 1 is a keep filter over the verdict, which carries the
    document columns: over a parquet ``docs`` its executed plan scans the
    table twice (the signal projection and the digest-winner branch) and
    has 2 Exchanges.  A semi-join of ``docs`` against the verdict would
    add a third scan and an exchange of the document rows."""
    from pdf_ocr_batch_ndrocr_lite_spark.plans import curate

    _corpus(spark).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    plans = {}
    barrier = curate.materialize

    def spy(df, name, scratch=None):
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return barrier(df, name, scratch)

    monkeypatch.setattr(curate, "materialize", spy)
    kept, counts = curate.run_curation(
        docs, scratch_dir=str(tmp_path / "scr"), near_dup=False)
    plan = plans["stage1_verdict"]
    assert 0 < plan.count("FileScan parquet") <= 2, plan
    assert plan.count("Exchange") <= 2, plan
    assert counts["input"] == 6 and counts["kept"] == 4
    assert kept.columns == docs.columns


def test_run_curation_empty_input_counts_zero(spark, tmp_path):
    """Every counter of an empty run is 0, never None."""
    docs = spark.createDataFrame([], "doc_id int, lang string, text string")
    kept, counts = run_curation(docs, scratch_dir=str(tmp_path / "scr"),
                                boilerplate_max_df=2, max_df=None,
                                bench=docs, mix_rates={"en": 1.0})
    assert counts == dict.fromkeys(counts, 0)
    assert {"input", "dropped_exact_dup", "dropped_lang", "dropped_quality",
            "dropped_repetition", "kept"} <= set(counts)
    assert kept.count() == 0


def _full_cascade(spark, scratch):
    """Every stage on: boilerplate pre-pass, verdict, near-dup, decontam
    (doc 5 is the benchmark) and mixing."""
    docs = _corpus(spark)
    return run_curation(docs, scratch_dir=scratch, boilerplate_max_df=2,
                        jaccard_threshold=0.5, max_df=None,
                        bench=docs.filter(F.col("doc_id") == 5),
                        mix_rates={"en": 1.0}, default_rate=0.0)


def test_run_curation_job_budget(spark, tmp_path, spark_jobs):
    """Each stage count, the boilerplate pre-pass's dropped-line sum and
    the input and per-reason counts are observations on barrier writes,
    not jobs of their own.  With all four stages and the pre-pass on, a
    run takes at most 38 Spark jobs; with an input count and a stage-1
    semi-join it took 43, and with a count per stage and a collect for
    the pre-pass (2 jobs each) 52-53 (AQE broadcast timing moves one
    job)."""
    (kept, counts), jobs = spark_jobs(
        lambda: _full_cascade(spark, str(tmp_path / "scr")))
    assert counts["kept"] == 1
    assert 0 < len(jobs) <= 38, len(jobs)


def test_run_curation_counts_equal_the_barrier_tables(spark, tmp_path):
    """The observed counts are the rows each stage's barrier wrote, the
    input rows, and the verdict's rows per drop reason."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu

    scr = tmp_path / "scr"
    kept, counts = _full_cascade(spark, str(scr))
    docs = _corpus(spark)

    def rows(name):
        return spark.read.parquet(str(scr / name))

    assert counts["boiler_lines_dropped"] == \
        rows("stage0_boilerplate").agg(F.sum("dropped_lines")).first()[0]
    for name, key in (("stage1_verdict", "after_verdict"),
                      ("stage2_near_dup", "after_near_dup"),
                      ("stage3_decontam", "after_decontam"),
                      ("stage4_mixing", "after_mixing")):
        assert counts[key] == rows(name).count(), name
    assert counts["kept"] == kept.count() == 1
    assert counts["input"] == docs.count()
    # the pre-pass drops no line of this corpus, so the verdict's input
    # is ``docs`` itself
    assert counts["boiler_lines_dropped"] == 0
    by_reason = {r["reason"]: r["count"] for r in
                 cu.curation_verdict(docs).groupBy("reason").count().collect()}
    for reason in ("exact_dup", "lang", "quality", "repetition"):
        assert counts[f"dropped_{reason}"] == by_reason.get(reason, 0), reason
