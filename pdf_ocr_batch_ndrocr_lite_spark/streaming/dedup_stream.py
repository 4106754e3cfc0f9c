"""Continuous-crawl incremental deduplication: Structured Streaming
ingest where each micro-batch is near-dup-checked against the growing
corpus before being admitted to it.

This is the streaming wiring of the batch operators that already carry
the scale properties (operators/dedup.py): within-batch near-dups fall
to `minhash_dedup`, then `incremental_minhash_dedup` runs strictly
NEW × CORPUS (the corpus is never self-joined — it was deduped when it
was ingested).  The corpus's LSH band-bucket index is PERSISTED
alongside the corpus (`buckets_path_for`) and grown incrementally, so
each micro-batch pays O(|batch| + matched corpus buckets) — without
the stored index, re-hashing the corpus's signatures dominated
per-batch cost and grew linearly with corpus size (measured: ~90 s per
2k-doc batch at a 12k-doc corpus; flat seconds with the index).  Only
candidate docs' text is ever read from the corpus (the verify
semi-join).

Replay safety (foreachBatch is at-least-once): the corpus parquet is
partitioned by the admitting batch_id, and the sink

1. reads the corpus EXCLUDING the current batch_id's partition, and
2. writes survivors with dynamic partition overwrite into that
   partition,

so a micro-batch replayed after a failure dedups against exactly the
corpus state it saw the first time (its own partial output is invisible
to the join) and then REPLACES that output — effective exactly-once.
Without the exclusion, a replayed batch would find its own rows in the
corpus and drop every document as a duplicate of itself.

The reference has no streaming surface (SURVEY §2.9 — strictly batch);
this is the training-data extension's continuous-ingest shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from ..operators import dedup as dd
from ..operators.barrier import materialize


def _is_error_class(e: AnalysisException, name: str) -> bool:
    """True when `e` carries the given Spark errorClass — matched on the
    structured getErrorClass() where available (stable across versions
    and locales), falling back to the message substring only for builds
    whose AnalysisException predates the accessor."""
    klass = None
    for accessor in ("getCondition", "getErrorClass"):
        fn = getattr(e, accessor, None)
        if fn is None:
            continue
        try:
            klass = fn()
        except Exception:
            klass = None
        if klass:
            break
    if klass:
        return klass == name
    return name in str(e)


DOCS_SCHEMA = "doc_id bigint, url string, text string, lang string"


def read_docs_stream(spark: SparkSession, input_path: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a growing directory of document parquet."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def dedup_batch_against_corpus(batch_df: DataFrame, corpus: DataFrame,
                               num_hashes: int = 8, bands: int = 4,
                               k: int = 3, jaccard_threshold: float = 0.8,
                               max_df: int | None = None,
                               corpus_buckets: DataFrame | None = None
                               ) -> DataFrame:
    """One micro-batch's survivors: within-batch near-dup pass first
    (a crawl batch carries its own repeats; lower id wins, matching
    `minhash_dedup`), then the strictly new×corpus incremental check.
    Exposed as a plain-DataFrame function so the batch-equivalence test
    and the foreachBatch sink share one code path.  Both stages run with
    the same LSH and verify settings.

    ``corpus_buckets``: the stored (id, band, key) LSH index of the
    corpus — pass it in a loop, or every batch re-hashes the whole
    corpus (see `incremental_minhash_dedup`)."""
    new = dd.minhash_dedup(batch_df, num_hashes=num_hashes, bands=bands,
                           k=k, jaccard_threshold=jaccard_threshold,
                           max_df=max_df)
    # cut the lineage between the two dedup stages: the incremental
    # join references `new` several times (band buckets, candidate
    # semi-join, final anti-join), and each reference would inline
    # the whole within-batch dedup subtree — bounded here, but the
    # Catalyst planning cost of the composed tree is real (see the
    # iterative self-join planning note in BASELINE.md).  A
    # micro-batch is size-bounded by the trigger, so executor-local
    # materialization is cheap.
    new = materialize(new, "within_batch")
    return dd.incremental_minhash_dedup(
        new, corpus, num_hashes=num_hashes, bands=bands, k=k,
        jaccard_threshold=jaccard_threshold, max_df=max_df,
        corpus_buckets=corpus_buckets)


def buckets_path_for(corpus_path: str) -> str:
    """The corpus's stored LSH-index location (same batch_id
    partitioning, same replay discipline as the corpus itself)."""
    return corpus_path.rstrip("/") + "_buckets"


def make_incremental_dedup_sink(corpus_path: str, num_hashes: int = 8,
                                bands: int = 4, k: int = 3,
                                jaccard_threshold: float = 0.8):
    """foreachBatch sink: admit each micro-batch's non-duplicate
    documents into the batch_id-partitioned corpus parquet (replay-safe,
    see module docstring).

    The sink ALSO maintains the corpus's (id, band, key) LSH index at
    :func:`buckets_path_for` — each admitted batch appends its
    survivors' buckets, and the dedup join reads the STORED index
    instead of re-hashing the whole corpus: without it, per-batch cost
    was measured to grow linearly with corpus size (the minhash
    signature recompute dominates; the join itself was always
    O(|batch| + matched buckets)).  A pre-existing corpus without an
    index (pre-upgrade layout) is backfilled once, preserving each
    row's admitting batch_id so replay exclusion stays correct."""

    def buckets(docs: DataFrame) -> DataFrame:
        return dd.band_buckets(docs, num_hashes=num_hashes, bands=bands,
                               k=k)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx_path = buckets_path_for(corpus_path)
        # A zero-row partitioned write (zero-survivor first batch; index
        # backfill when the corpus holds only the replaying batch's
        # partition) leaves a directory with NO data files, and an
        # inferred read of it raises UNABLE_TO_INFER_SCHEMA — not the
        # PATH_NOT_FOUND the cold-start guard passes through —
        # permanently crash-looping the stream.  `_read` keeps the
        # inferred read (so a real corpus written WITHOUT the batch_id
        # partition column still fails loudly at the filter — pinning a
        # schema would read batch_id as NULL and silently admit every
        # near-dup) and falls back to a known-schema EMPTY frame only
        # for the no-data-files case.  Both schemas are known by
        # construction: the corpus is written from batch rows, the
        # index from band_buckets over them (plan-only derivation).
        corpus_schema = T.StructType(
            list(batch_df.schema.fields)
            + [T.StructField("batch_id", T.LongType())])
        idx_schema = T.StructType(
            list(buckets(spark.createDataFrame([], batch_df.schema))
                 .schema.fields)
            + [T.StructField("batch_id", T.LongType())])

        def _read(path, empty_schema):
            try:
                return spark.read.parquet(path)
            except AnalysisException as e:
                if not _is_error_class(e, "UNABLE_TO_INFER_SCHEMA"):
                    raise  # incl. PATH_NOT_FOUND → caller's cold-start guard
                return spark.createDataFrame([], empty_schema)

        try:
            corpus_b = (_read(corpus_path, corpus_schema)
                        .filter(F.col("batch_id") != F.lit(batch_id)))
            corpus = corpus_b.drop("batch_id")
        except AnalysisException as e:
            # ONLY the cold-start case (no corpus directory yet) may
            # fall back to an empty corpus.  Any other analysis error —
            # e.g. an existing corpus written without the batch_id
            # partition column — must surface: silently treating a real
            # corpus as empty would admit every near-duplicate and
            # pollute all later batches.
            if not _is_error_class(e, "PATH_NOT_FOUND"):
                raise
            corpus_b = None
            corpus = spark.createDataFrame([], batch_df.schema)
        try:
            index = (_read(idx_path, idx_schema)
                     .filter(F.col("batch_id") != F.lit(batch_id))
                     .drop("batch_id"))
        except AnalysisException as e:
            if not _is_error_class(e, "PATH_NOT_FOUND"):
                raise
            if corpus_b is not None:
                # upgrade path: corpus predates the index — backfill it
                # ONCE with each row's admitting batch_id carried
                # through, then proceed against the stored index
                (buckets(corpus_b)
                 .join(corpus_b.select("doc_id", "batch_id"), "doc_id")
                 .write.mode("overwrite")
                 .partitionBy("batch_id").parquet(idx_path))
                index = (_read(idx_path, idx_schema)
                         .filter(F.col("batch_id") != F.lit(batch_id))
                         .drop("batch_id"))
            else:
                index = None
        survivors = dedup_batch_against_corpus(
            batch_df, corpus, num_hashes=num_hashes, bands=bands, k=k,
            jaccard_threshold=jaccard_threshold, corpus_buckets=index)
        # coalesce: a micro-batch's survivors are trigger-bounded and
        # SMALL — writing the session's full shuffle-partition count of
        # part files per batch makes every later batch re-list and
        # re-scan O(batches × partitions) tiny files at each of the
        # dedup plan's several corpus/index reads (measured: per-batch
        # wall-clock GREW with batch count from file-count overhead
        # alone; at crawl scale it is also the millions-of-tiny-files
        # anti-pattern)
        (survivors.coalesce(4)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(corpus_path))
        # index the batch's admitted survivors from the just-written
        # partition (a flat parquet read, not the dedup plan's lineage)
        admitted = (_read(corpus_path, corpus_schema)
                    .filter(F.col("batch_id") == F.lit(batch_id))
                    .drop("batch_id"))
        (buckets(admitted)
         .coalesce(4)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(idx_path))

    return sink


def start_incremental_dedup_stream(
    spark: SparkSession,
    input_path: str,
    corpus_path: str,
    stream_checkpoint: str,
    trigger_once: bool = False,
    max_files_per_trigger: int = 8,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    jaccard_threshold: float = 0.8,
):
    """Wire source → incremental-dedup sink and start the query.

    With ``trigger_once`` (availableNow) this is an incremental batch
    run: admit everything new, then stop — the idiomatic 'resume' for
    continuous-crawl ingest.  Returns the StreamingQuery.
    """
    docs = read_docs_stream(spark, input_path, max_files_per_trigger)
    sink = make_incremental_dedup_sink(
        corpus_path, num_hashes=num_hashes, bands=bands, k=k,
        jaccard_threshold=jaccard_threshold)
    writer = (
        docs.writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", stream_checkpoint)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
