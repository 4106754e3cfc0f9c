"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.9); its in-process analogues —
the LogQueue progress pump (/root/reference/app.py:970-989, 3036-3060) and
cooperative stop-flag polling (app.py:1586-1609) — map onto Spark's native
streaming machinery.  This module is the continuous-ingest path a crawl
pipeline needs: new page files land in a directory / Iceberg table and are
extracted incrementally with exactly-once sink semantics.

Design notes for scale:
- The dispatcher is the SAME pure mapInArrow stage as batch — stateless per
  row, so it needs no watermark or state store.
- foreachBatch is inherently at-least-once: after a failure Spark replays
  the last uncommitted micro-batch.  Effective exactly-once comes from
  making the replay IDEMPOTENT: both sinks are partitioned by batch_id and
  written with the keyed overwrite (`StorageAdapter.overwrite_partitions`),
  so a replayed batch replaces its own output instead of appending a
  second copy.  (Round 1 used a blind
  append here — duplicated rows on replay.)
- `maxFilesPerTrigger` bounds micro-batch size the way the Arrow page
  budget bounds batch memory.
- Lineage counters ride the same foreachBatch: per-partition-key rollup,
  batch_id-keyed, replay-safe by the same overwrite.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract as ex
from ..plans import checkpoint as ck
from ..sources.storage import StorageAdapter

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def read_pages_stream(spark: SparkSession, input_path: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a growing directory of parquet page files."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def extract_stream(pages: DataFrame) -> DataFrame:
    """Streaming extraction: single-pass name-rule routing + the batch
    dispatcher (same plan shape as batch `run_extraction`, minus the salted
    shuffle — micro-batches are already size-bounded by the trigger)."""
    return ex.extract_batches(ex.flag_pages(pages))


def make_batch_sink(output_path: str, lineage_path: Optional[str] = None):
    """foreachBatch sink with idempotent replay: a batch_id-keyed
    overwrite means a micro-batch replayed after a failure REPLACES
    its previous (possibly partial) output — effective exactly-once for
    both the extractions sink and the lineage rollup."""
    storage = StorageAdapter()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.persist()
        try:
            storage.overwrite_partitions(
                out.filter(F.col("action") == ex.ACTION_EXTRACTED)
                .select(*ex.SINK_COLS)
                .withColumn("batch_id", F.lit(batch_id)),
                output_path, ["batch_id"])
            if lineage_path:
                storage.overwrite_partitions(
                    ck.lineage_from_results(out)
                    .withColumn("batch_id", F.lit(batch_id)),
                    lineage_path, ["batch_id"])
        finally:
            out.unpersist()

    return sink


def start_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
    lineage_path: Optional[str] = None,
    trigger_once: bool = False,
    max_files_per_trigger: int = 8,
):
    """Wire source → dispatcher → sinks and start the query.

    With ``trigger_once`` (availableNow) this is an incremental batch run:
    process everything new, then stop — the idiomatic 'resume' for file
    ingest.  Returns the StreamingQuery.
    """
    results = extract_stream(
        read_pages_stream(spark, input_path, max_files_per_trigger))
    sink = make_batch_sink(output_path, lineage_path)
    writer = (
        results.writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", stream_checkpoint)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
