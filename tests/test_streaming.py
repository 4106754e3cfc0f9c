"""Structured Streaming extraction: incremental ingest, exactly-once sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.sources.corpus import corpus_df
from pdf_ocr_batch_ndrocr_lite_spark.streaming.extract_stream import (
    extract_stream,
    start_extraction_stream,
)


def _land_files(spark, path, start, n):
    corpus_df(spark, n, seed=42, partitions=2).where(F.lit(True)) \
        .write.mode("append").parquet(path) if start == 0 else None
    if start > 0:
        import pandas as pd

        from pdf_ocr_batch_ndrocr_lite_spark.sources.corpus import make_row
        pdf = pd.DataFrame([make_row(42, i) for i in range(start, start + n)])
        spark.createDataFrame(pdf).write.mode("append").parquet(path)


def test_incremental_stream(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    lineage = str(tmp_path / "lineage")

    # wave 1: 60 docs land
    _land_files(spark, inp, 0, 60)
    # the stream's plan: the shared projection feeds the one python stage
    # directly — micro-batches are size-bounded, so no bucket exchange
    plan = extract_stream(spark.read.parquet(inp)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") == 0, plan
    q = start_extraction_stream(spark, inp, out, ckpt, lineage_path=lineage,
                                trigger_once=True)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 > 0
    urls1 = {r["url"] for r in first.select("url").collect()}

    # wave 2: 40 more docs land; availableNow picks up ONLY the new files
    _land_files(spark, inp, 60, 40)
    q = start_extraction_stream(spark, inp, out, ckpt, lineage_path=lineage,
                                trigger_once=True)
    q.awaitTermination(120)
    final = spark.read.parquet(out)
    n2 = final.count()
    assert n2 > n1
    # no reprocessing: every url appears exactly once
    assert final.count() == final.select("url").distinct().count()
    # lineage captured per micro-batch with batch ids
    lin = spark.read.parquet(lineage)
    assert lin.filter(F.col("docs") > 0).count() > 0
    assert lin.select("batch_id").distinct().count() >= 2

    # re-trigger with nothing new: no growth
    q = start_extraction_stream(spark, inp, out, ckpt, lineage_path=lineage,
                                trigger_once=True)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == n2


def test_batch_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: Spark replays an uncommitted batch
    after a failure.  Calling the sink twice with the same batch_id must
    leave exactly one copy of the rows (keyed overwrite, not append)."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as E
    from pdf_ocr_batch_ndrocr_lite_spark.streaming.extract_stream import (
        make_batch_sink,
    )
    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    results = E.run_extraction(corpus_df(spark, 50, seed=42, partitions=2))
    sink = make_batch_sink(out, lineage)

    sink(results, 7)
    n_once = spark.read.parquet(out).count()
    assert n_once > 0
    sink(results, 7)  # the replay
    replayed = spark.read.parquet(out)
    assert replayed.count() == n_once
    assert replayed.select("url").distinct().count() == n_once
    lin = spark.read.parquet(lineage)
    # one lineage rollup per (batch, partition_key), not two
    assert lin.groupBy("batch_id", "partition_key").count() \
        .filter(F.col("count") > 1).count() == 0

    # a different batch appends alongside, untouched by the replay
    sink(results.limit(0), 8)
    assert spark.read.parquet(out).count() == n_once


def test_stream_lineage_reads_back_its_types_and_values(spark, tmp_path):
    """The stream sink's lineage table reads back with the rollup's types
    (``updated_at`` a timestamp, then ``batch_id int``) and its values:
    the counters of the rollup and, in a session zone other than UTC, an
    ``updated_at`` instant inside the sink call."""
    import time

    from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as E
    from pdf_ocr_batch_ndrocr_lite_spark.plans import checkpoint as ck
    from pdf_ocr_batch_ndrocr_lite_spark.streaming.extract_stream import (
        make_batch_sink,
    )
    lineage = str(tmp_path / "lineage")
    results = E.run_extraction(corpus_df(spark, 50, seed=42, partitions=2))
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        t0 = time.time()
        make_batch_sink(str(tmp_path / "out"), lineage)(results, 7)
        t1 = time.time()
        rollup = ck.lineage_from_results(results).withColumn(
            "batch_id", F.lit(7))
        lin = spark.read.parquet(lineage)
        assert [(f.name, f.dataType) for f in lin.schema] == [
            (f.name, f.dataType) for f in rollup.schema]
        counters = [c for c in rollup.columns
                    if c not in ("seconds", "updated_at")]
        assert sorted(lin.select(*counters).collect()) == sorted(
            rollup.select(*counters).collect())
        micros = [r[0] for r in
                  lin.select(F.unix_micros("updated_at")).collect()]
        assert all(t0 * 1e6 - 1e6 <= m <= t1 * 1e6 + 1e6 for m in micros)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
