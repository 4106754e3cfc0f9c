"""End-to-end Spark pipeline tests: plumbing, batch invariance, resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as E
from pdf_ocr_batch_ndrocr_lite_spark.plans import checkpoint as ck
from pdf_ocr_batch_ndrocr_lite_spark.plans.pipeline import run_pipeline
from pdf_ocr_batch_ndrocr_lite_spark.sources.corpus import corpus_df, make_row
from pdf_ocr_batch_ndrocr_lite_spark.sources.storage import StorageAdapter

N_DOCS = 300
SEED = 42


@pytest.fixture(scope="module")
def results(spark):
    df = corpus_df(spark, N_DOCS, seed=SEED, partitions=8)
    return {r["url"]: r for r in E.run_extraction(df).collect()}


def test_every_input_accounted(results):
    assert len(results) == N_DOCS


def test_spark_matches_local_dispatch(results):
    """Batch/partition invariance: the distributed run must byte-match a
    local single-threaded dispatch of the same pure function."""
    for i in range(N_DOCS):
        row = make_row(SEED, i)
        expected = E.extract_one(row["url"], row["html"], row["lang"])
        got = results[row["url"]]
        if expected["action"] == E.ACTION_SKIP_NAME or \
                got["action"] == E.ACTION_SKIP_NAME:
            # name-rule rows short-circuit relationally in Spark
            assert row["url"].endswith(("_ocr", "_ocr_001"))
            continue
        assert got["action"] == expected["action"], row["url"]
        assert got["extracted_text"] == expected["extracted_text"], row["url"]
        assert got["page_count"] == expected["page_count"]
        assert got["token_count"] == expected["token_count"]


def test_action_mix(results):
    actions = {r["action"] for r in results.values()}
    assert E.ACTION_EXTRACTED in actions
    assert E.ACTION_SKIP_HAS_TEXT in actions
    assert E.ACTION_SKIP_NAME in actions
    assert E.ACTION_PARSE_FAILURE in actions
    assert E.ACTION_NEEDS_OCR in actions  # raw-PDF scanned-image rows


def test_raw_pdf_rows_in_corpus(results):
    kinds = {r["doc_kind"] for r in results.values()}
    assert "rawpdf" in kinds
    raw = [r for r in results.values() if r["doc_kind"] == "rawpdf"]
    raw_actions = {r["action"] for r in raw}
    # all three raw outcomes appear across 300 docs
    assert {E.ACTION_NEEDS_OCR, E.ACTION_SKIP_HAS_TEXT,
            E.ACTION_PARSE_FAILURE} <= raw_actions


def test_name_rule_matches_spark_rlike(spark, results):
    """The Catalyst RLike predicate and the reference regex agree."""
    import re
    ref_re = re.compile(r"_ocr(?:_\d{3,})?$", re.IGNORECASE)
    for url, r in results.items():
        stem = url.rsplit("/", 1)[-1]
        assert (r["action"] == E.ACTION_SKIP_NAME) == bool(ref_re.search(stem))


def test_pipeline_with_checkpoint_resume(spark, tmp_path):
    out = str(tmp_path / "extractions")
    ckpt = str(tmp_path / "checkpoint")
    storage = StorageAdapter()
    df = corpus_df(spark, 120, seed=SEED, partitions=4)

    totals = run_pipeline(spark, df, output_path=out, checkpoint_path=ckpt,
                          storage=storage, num_buckets=16)
    assert totals["docs"] == 120
    first = spark.read.parquet(out)
    n_first = first.count()
    assert n_first == totals["extracted"] > 0

    # checkpoint covers every bucket that had documents, and every run
    # counter equals the sum of its lineage column
    ckpt_df = spark.read.parquet(ckpt)
    lineage = ckpt_df.agg(*(F.sum(k).alias(k) for k in totals)).collect()[0]
    assert lineage["docs"] == 120
    assert {k: lineage[k] for k in totals} == totals

    # re-run: everything checkpointed → no new output rows (idempotency)
    totals2 = run_pipeline(spark, df, output_path=out, checkpoint_path=ckpt,
                           storage=storage, num_buckets=16)
    assert totals2["docs"] == 0
    assert spark.read.parquet(out).count() == n_first


def test_replay_after_lost_lineage_no_duplicates(spark, tmp_path):
    """Crash-window semantics: output committed but lineage commit lost
    (simulated by deleting the checkpoint table).  The restart re-extracts
    every key — the keyed overwrite sink must REPLACE their output, not
    append next to it."""
    import shutil
    out = str(tmp_path / "extractions")
    ckpt = str(tmp_path / "checkpoint")
    storage = StorageAdapter()
    df = corpus_df(spark, 80, seed=SEED, partitions=4)

    totals = run_pipeline(spark, df, output_path=out, checkpoint_path=ckpt,
                          storage=storage, num_buckets=8)
    n_first = spark.read.parquet(out).count()
    assert n_first == totals["extracted"] > 0

    shutil.rmtree(ckpt)  # the crash: lineage never landed
    totals2 = run_pipeline(spark, df, output_path=out, checkpoint_path=ckpt,
                           storage=storage, num_buckets=8)
    assert totals2["docs"] == 80  # everything replayed...
    final = spark.read.parquet(out)
    assert final.count() == n_first  # ...but nothing duplicated
    assert final.count() == final.select("url").distinct().count()


def test_partial_resume_no_duplicates(spark, tmp_path):
    """Kill-after-partition-k semantics: pre-mark half the buckets done,
    run, then complete; no url appears twice."""
    out = str(tmp_path / "extractions")
    ckpt = str(tmp_path / "checkpoint")
    storage = StorageAdapter()
    df = corpus_df(spark, 100, seed=SEED, partitions=4)

    keyed = ck.with_partition_key(df, 8)
    half = keyed.filter(F.col("partition_key") < 4)
    totals_half = run_pipeline(spark, half.drop("partition_key"),
                               output_path=out, checkpoint_path=ckpt,
                               storage=storage, num_buckets=8)
    assert 0 < totals_half["docs"] < 100

    totals_rest = run_pipeline(spark, df, output_path=out,
                               checkpoint_path=ckpt, storage=storage,
                               num_buckets=8)
    assert totals_half["docs"] + totals_rest["docs"] == 100

    final = spark.read.parquet(out)
    assert final.count() == final.select("url").distinct().count()


def _files_per_bucket(out: str) -> dict:
    """{partition_key directory: number of part files in it}."""
    import os
    return {d: sum(f.startswith("part-") for f in os.listdir(f"{out}/{d}"))
            for d in os.listdir(out) if d.startswith("partition_key=")}


def _lineage_counters(spark, ckpt: str) -> dict:
    """{partition_key: counter columns} of the lineage table, without the
    run-dependent seconds and updated_at."""
    keep = [c for c in ck.CHECKPOINT_COLS
            if c not in ("partition_key", "seconds", "updated_at")]
    return {r["partition_key"]: tuple(r[c] for c in keep)
            for r in spark.read.parquet(ckpt).collect()}


def test_sink_writes_one_file_per_bucket_across_resume(spark, tmp_path):
    """The exchange places rows by the sink's own url bucket, so every
    ``partition_key`` directory is written by exactly one task: one part
    file per bucket.  A resume that reruns the pending buckets replaces
    their files with one file each, and ends with the clean run's rows
    and lineage counters."""
    import shutil
    out = str(tmp_path / "extractions")
    ckpt = str(tmp_path / "checkpoint")
    storage = StorageAdapter()
    df = corpus_df(spark, 120, seed=SEED, partitions=4)

    def run():
        return run_pipeline(spark, df, output_path=out, checkpoint_path=ckpt,
                            storage=storage, num_buckets=16,
                            num_partitions=4)

    clean = run()
    files = _files_per_bucket(out)
    assert len(files) > 8 and set(files.values()) == {1}, files
    rows = sorted(spark.read.parquet(out).collect())
    lineage = _lineage_counters(spark, ckpt)

    # the crash: the sink committed every bucket, the lineage only half
    done = [r for r in spark.read.parquet(ckpt).collect()
            if r["partition_key"] < 8]
    schema = spark.read.parquet(ckpt).schema
    shutil.rmtree(ckpt)
    spark.createDataFrame(done, schema).write.parquet(ckpt)

    resumed = run()
    assert 0 < resumed["docs"] < clean["docs"]
    assert _files_per_bucket(out) == files
    assert sorted(spark.read.parquet(out).collect()) == rows
    assert _lineage_counters(spark, ckpt) == lineage


def test_sink_bucket_spreads_over_at_most_k_tasks(spark, tmp_path):
    """More tasks than buckets (n = 16 > B = 4): the salt refines to
    ``url_bucket(B * k)``, k = ceil(n / B) = 4, so every task gets work
    and no bucket is written by more than k tasks."""
    out = str(tmp_path / "extractions")
    df = corpus_df(spark, 120, seed=SEED, partitions=4)
    totals = run_pipeline(spark, df, output_path=out, num_buckets=4,
                          num_partitions=16)
    files = _files_per_bucket(out)
    assert len(files) == 4 and max(files.values()) <= 4, files
    assert spark.read.parquet(out).count() == totals["extracted"]


def _tree_bytes(root: str) -> dict:
    """{path relative to root: file bytes} of every file under root."""
    import os
    return {os.path.relpath(os.path.join(d, f), root):
            open(os.path.join(d, f), "rb").read()
            for d, _, fs in os.walk(root) for f in fs}


def test_failed_keyed_write_leaves_every_previous_bucket(spark, tmp_path):
    """A keyed write whose task raises fails the job and leaves the sink
    as it was: every previous bucket file byte-identical, no bucket the
    failed write would have added, no staging directory."""
    import os
    out = str(tmp_path / "extractions")
    storage = StorageAdapter()

    def keyed(n, k):
        return spark.range(0, n, 1, 4).select(
            (F.col("id") % k).cast("int").alias("partition_key"),
            F.col("id").cast("string").alias("url"))

    storage.overwrite_partitions(keyed(40, 4), out, ["partition_key"])
    before = _tree_bytes(out)
    # spark.range's tasks each hold every bucket: one file per task in each
    assert sorted(before) == [f"partition_key={k}/part-{t:05d}.parquet"
                              for k in range(4) for t in range(4)]
    bad = keyed(60, 6).withColumn("url", F.when(
        F.col("partition_key") == 2, F.raise_error(F.lit("boom")))
        .otherwise(F.col("url")))
    with pytest.raises(Exception, match="boom"):
        storage.overwrite_partitions(bad, out, ["partition_key"])
    assert _tree_bytes(out) == before
    assert sorted(os.listdir(out)) == [f"partition_key={k}" for k in range(4)]


def test_keyed_sink_rejects_non_local_uris(spark):
    with pytest.raises(ValueError, match="overwrite_partitions"):
        StorageAdapter().overwrite_partitions(
            spark.range(1).select(F.lit(0).alias("partition_key")),
            "s3://bucket/out", ["partition_key"])


def test_sink_reads_back_with_the_extraction_types(spark, tmp_path):
    """Spark and pyarrow read the keyed sink back as Spark's partitioned
    writer left it: the ``SINK_COLS`` with their ``EXTRACT_SCHEMA``
    types, then ``partition_key int`` from the directory names."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    from pyspark.sql.types import (IntegerType, StructField, StructType)

    out = "file://" + str(tmp_path / "extractions")
    df = corpus_df(spark, 60, seed=SEED, partitions=4)
    run_pipeline(spark, df, output_path=out, num_buckets=8)
    types = {f.name: f.dataType
             for f in StructType.fromDDL(E.EXTRACT_SCHEMA).fields}
    assert spark.read.parquet(out).schema == StructType(
        [StructField(c, types[c]) for c in E.SINK_COLS]
        + [StructField("partition_key", IntegerType())])
    arrow = pads.dataset(str(tmp_path / "extractions"),
                         partitioning="hive").schema
    assert [(f.name, f.type) for f in arrow] == [
        (c, pa.string() if types[c].simpleString() == "string"
         else pa.int32()) for c in E.SINK_COLS] + [
        ("partition_key", pa.int32())]


def test_image_rows_in_corpus(results):
    kinds = {r["doc_kind"] for r in results.values()}
    assert "image" in kinds
    imgs = [r for r in results.values() if r["doc_kind"] == "image"]
    img_actions = {r["action"] for r in imgs}
    # readable images route to OCR; truncated fetches fail cleanly
    assert E.ACTION_NEEDS_OCR in img_actions
    for r in imgs:
        assert r["action"] in (E.ACTION_NEEDS_OCR, E.ACTION_PARSE_FAILURE)


def test_merge_upsert_accepts_file_scheme(spark, tmp_path):
    """file:// is a LOCAL path: the parquet fallback's os-level swap must
    strip the scheme instead of silently missing the existing table (a
    miss would drop checkpoint history on every merge)."""
    from pdf_ocr_batch_ndrocr_lite_spark.sources.storage import StorageAdapter
    st = StorageAdapter()
    path = "file://" + str(tmp_path / "ckpt")
    df1 = spark.createDataFrame([(1, 10, 1)], "k int, v int, ts int")
    st.merge_upsert(spark, path, df1, ["k"], "ts")
    df2 = spark.createDataFrame([(1, 20, 2), (2, 5, 1)],
                                "k int, v int, ts int")
    st.merge_upsert(spark, path, df2, ["k"], "ts")
    got = {r["k"]: r["v"] for r in st.read(spark, path).collect()}
    assert got == {1: 20, 2: 5}  # newest-wins AND history preserved
    import pytest as _pt
    with _pt.raises(ValueError):
        st.merge_upsert(spark, "s3://bucket/ckpt", df1, ["k"], "ts")


def test_run_meta_written_and_continuity_enforced(spark, tmp_path):
    """Run-config meta rows (the reference CSV meta header re-expressed,
    app.py:1115-1142): every run appends one row; a resume with a
    different num_buckets — a different partition_key universe — must
    fail fast instead of mis-keying the anti-join."""
    import pytest as _pytest

    out = str(tmp_path / "extractions")
    ckpt = str(tmp_path / "checkpoint")
    storage = StorageAdapter()
    df = corpus_df(spark, 60, seed=SEED, partitions=4)

    run_pipeline(spark, df, output_path=out, checkpoint_path=ckpt,
                 storage=storage, num_buckets=16)
    meta = spark.read.parquet(ck.meta_path(ckpt))
    rows = meta.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["num_buckets"] == 16 and r["app_name"]
    assert len(r["code_version"]) == 12 and r["created_at"] is not None

    # resume with the SAME config: appends a second row, same hash
    run_pipeline(spark, df, output_path=out, checkpoint_path=ckpt,
                 storage=storage, num_buckets=16)
    rows2 = spark.read.parquet(ck.meta_path(ckpt)).collect()
    assert len(rows2) == 2
    assert len({x["config_hash"] for x in rows2}) == 1

    # resume with a DIFFERENT key universe: hard error before any work
    with _pytest.raises(ValueError, match="num_buckets"):
        run_pipeline(spark, df, output_path=out, checkpoint_path=ckpt,
                     storage=storage, num_buckets=32)
    # nothing extra was appended by the failed attempt
    assert spark.read.parquet(ck.meta_path(ckpt)).count() == 2


@pytest.mark.parametrize("module", [
    "functions.textops", "functions.ocr_parse", "functions.html_extract",
    "functions.pdf_scan", "functions.image_meta", "sources.storage",
    "plans.checkpoint", "plans.pipeline", "operators.extract"])
def test_code_version_covers_the_output_defining_modules(
        module, tmp_path, monkeypatch):
    """``run_meta.code_version`` changes when the bytes of any module that
    defines the extracted output change, and is computed once per
    process."""
    import importlib
    from pathlib import Path

    mod = importlib.import_module(f"pdf_ocr_batch_ndrocr_lite_spark.{module}")
    ck._code_version.cache_clear()
    before = ck._code_version()
    copy = tmp_path / Path(mod.__file__).name
    copy.write_bytes(Path(mod.__file__).read_bytes() + b"\n# edited\n")
    monkeypatch.setattr(mod, "__file__", str(copy))
    assert ck._code_version() == before        # hashed once per process
    ck._code_version.cache_clear()
    try:
        assert ck._code_version() != before
    finally:
        monkeypatch.undo()
        ck._code_version.cache_clear()
    assert ck._code_version() == before


def test_run_meta_row_is_one_jvm_task(spark):
    """The run-meta row is literals over a one-partition range: no Python
    RDD scan, one partition, and today's columns and types."""
    row = ck.run_meta_row(spark, "app", 16, 0)
    plan = row._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "Python" not in plan, plan
    assert row._jdf.rdd().getNumPartitions() == 1
    assert row.columns == ck.RUN_META_COLS
    assert [f.dataType.simpleString() for f in row.schema] == [
        "string", "string", "int", "int", "int", "string", "string",
        "timestamp"]


class _AppendJobs(StorageAdapter):
    """Records, per `append`, the task count of each Spark job it ran in
    the caller's job group."""

    def __init__(self, spark):
        super().__init__()
        self.sc, self.tasks = spark.sparkContext, []

    def append(self, df, path):
        st = self.sc.statusTracker()
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        before = set(st.getJobIdsForGroup(group))
        super().append(df, path)
        self.tasks.append([
            sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds)
            for j in sorted(set(st.getJobIdsForGroup(group)) - before)])


def test_run_pipeline_job_budget(spark, tmp_path, spark_jobs):
    """The run counters are an observation on the sink write, not an
    aggregation of their own: a fresh checkpointed run takes 6 Spark jobs
    and a resume with nothing pending 12 (8 and 14 while a separate
    totals collect ran, 2 jobs each), and no job is a driver collect in
    pipeline.py.  The run-meta append is one job of exactly 1 task (a
    frame built from a driver-side list scanned a Python RDD in
    ``defaultParallelism`` tasks)."""
    out = str(tmp_path / "extractions")
    ckpt = str(tmp_path / "checkpoint")
    df = corpus_df(spark, 120, seed=SEED, partitions=4)
    storage = _AppendJobs(spark)

    def run():
        return run_pipeline(spark, df, output_path=out, checkpoint_path=ckpt,
                            storage=storage, num_buckets=16)

    for budget, docs in ((6, 120), (12, 0)):
        totals, jobs = spark_jobs(run)
        assert totals["docs"] == docs
        assert 0 < len(jobs) <= budget, jobs
        assert not [n for stages in jobs for n in stages
                    if n.startswith("collect at") and "pipeline.py" in n]
        assert storage.tasks.pop() == [1]
