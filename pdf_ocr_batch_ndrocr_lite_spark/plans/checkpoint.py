"""Checkpoint / lineage table: idempotent, resumable runs.

Replaces the reference's per-run CSV metrics log and filename-based
reprocessing guards (/root/reference/app.py:1086-1142, 2471-2529) with a
keyed lineage table:

    (partition_key, docs, pages, bytes, parse_failures,
     skip_name, skip_has_text, needs_ocr, extracted, seconds, status,
     updated_at)

``partition_key`` is a stable hash bucket of ``url`` — NOT a physical Spark
partition id — so the same document always lands in the same key regardless
of cluster size, and a restart can anti-join finished keys.
"""

from __future__ import annotations

import functools
import hashlib
import sys
from typing import List

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract as ex
from ..sources.storage import StorageAdapter

DEFAULT_NUM_BUCKETS = ex.DEFAULT_NUM_BUCKETS

CHECKPOINT_COLS = [
    "partition_key", "docs", "pages", "bytes", "parse_failures",
    "skip_name", "skip_has_text", "needs_ocr", "extracted", "seconds",
    "status", "updated_at",
]


# one counter column per action, in lineage-table order
ACTION_COUNTERS = {
    ex.ACTION_PARSE_FAILURE: "parse_failures",
    ex.ACTION_SKIP_NAME: "skip_name",
    ex.ACTION_SKIP_HAS_TEXT: "skip_has_text",
    ex.ACTION_NEEDS_OCR: "needs_ocr",
    ex.ACTION_EXTRACTED: "extracted",
}


def run_counters() -> List[Column]:
    """Aggregates of the run counters over extraction results — docs,
    pages, then one count per action: what `run_pipeline` returns, and
    the lineage table's counter columns apart from bytes and seconds
    (counter semantics: app.py:183-189, 2675-2678, 2862-2885)."""
    return [F.count(F.lit(1)).alias("docs"),
            F.sum("page_count").cast("long").alias("pages")] + [
        F.sum(F.when(F.col("action") == action, 1).otherwise(0))
        .cast("long").alias(name)
        for action, name in ACTION_COUNTERS.items()]


def with_partition_key(df: DataFrame, num_buckets: int = DEFAULT_NUM_BUCKETS
                       ) -> DataFrame:
    """Deterministic url-hash bucket (`extract.url_bucket`), the key the
    extraction exchange places rows by."""
    return df.withColumn("partition_key", ex.url_bucket(num_buckets))


def pending_only(pages_df: DataFrame, spark: SparkSession,
                 checkpoint_path: str, storage: StorageAdapter,
                 num_buckets: int = DEFAULT_NUM_BUCKETS) -> DataFrame:
    """Left-anti join against finished partition keys (resume semantics).

    The finished-key set is tiny (≤ num_buckets rows) → Catalyst broadcasts
    the anti-join build side automatically; no shuffle of the big table.
    """
    keyed = with_partition_key(pages_df, num_buckets)
    ckpt = storage.read(spark, checkpoint_path)
    if ckpt is None:
        return keyed
    done = ckpt.filter(F.col("status") == "done").select("partition_key")
    return keyed.join(F.broadcast(done), "partition_key", "left_anti")


def lineage_from_results(results: DataFrame,
                         num_buckets: int = DEFAULT_NUM_BUCKETS) -> DataFrame:
    """Per-partition-key conditional-aggregation rollup of the run
    counters plus bytes and seconds.  Partial (map-side) aggregation
    applies — one shuffle of tiny rows."""
    keyed = with_partition_key(results, num_buckets)
    docs, pages, *actions = run_counters()
    return keyed.groupBy("partition_key").agg(
        docs, pages,
        F.sum("bytes_in").cast("long").alias("bytes"),
        *actions,
        F.sum("seconds").alias("seconds"),
        F.lit("done").alias("status"),
        F.current_timestamp().alias("updated_at"),
    )


def commit_lineage(spark: SparkSession, checkpoint_path: str,
                   lineage: DataFrame, storage: StorageAdapter) -> None:
    """MERGE-style upsert keyed on partition_key (Iceberg MERGE INTO on a
    cluster; read-dedup-overwrite locally)."""
    storage.merge_upsert(spark, checkpoint_path, lineage,
                         key_cols=["partition_key"], order_col="updated_at")


# ---------------------------------------------------------------------------
# Run-config metadata.  The reference's CSV carries meta HEADER rows — run
# config, engine path, command template (app.py:1115-1142) — so a metrics
# file is self-describing.  Re-expressed as a `run_meta` append-only table
# next to the lineage table: one row per run attempt with the config and a
# code fingerprint, plus a CONTINUITY GUARD: `num_buckets` defines the
# partition_key space, so a resume with a different value would anti-join
# against keys from a different hash universe and silently reprocess or
# skip the wrong documents — that mismatch is an error, not a log line.
# ---------------------------------------------------------------------------

RUN_META_COLS = ["config_hash", "app_name", "num_buckets", "num_partitions",
                 "shuffle_partitions", "master", "code_version",
                 "created_at"]


def meta_path(checkpoint_path: str) -> str:
    return checkpoint_path.rstrip("/") + "_meta"


@functools.cache
def _code_version() -> str:
    """Short fingerprint of the sources that define a run's output: the
    dispatcher, the kernels it calls, the plan layer, this checkpoint
    module and the sink writer.  Any change to one of them yields a new
    version string, so a lineage reader can tell which code produced
    which run.  Hashed once per process."""
    from ..functions import (html_extract, image_meta, ocr_parse, pdf_scan,
                             textops)
    from ..sources import storage
    from . import pipeline

    h = hashlib.md5()
    for mod in (ex, pipeline, sys.modules[__name__], storage, textops,
                ocr_parse, html_extract, pdf_scan, image_meta):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def run_meta_row(spark: SparkSession, app_name: str, num_buckets: int,
                 num_partitions: int) -> DataFrame:
    """One-row run-config frame.  ``config_hash`` covers ONLY the
    correctness-critical continuity fields (currently num_buckets);
    everything else is recorded for reproducibility but free to vary
    between a run and its resume (a resume on a bigger cluster is
    normal; a resume in a different key universe is corruption).

    Literals over a one-partition ``range``: the append runs as one JVM
    task, where a frame from a driver-side list would scan a Python RDD
    in ``defaultParallelism`` tasks."""
    conf = spark.sparkContext.getConf()
    config_hash = hashlib.md5(
        f"num_buckets={num_buckets}".encode()).hexdigest()[:12]
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions", "0")
    return spark.range(0, 1, 1, 1).select(
        F.lit(config_hash).alias("config_hash"),
        F.lit(app_name).alias("app_name"),
        F.lit(int(num_buckets)).cast("int").alias("num_buckets"),
        F.lit(int(num_partitions)).cast("int").alias("num_partitions"),
        F.lit(int(shuffle_partitions)).cast("int")
        .alias("shuffle_partitions"),
        F.lit(conf.get("spark.master", "")).alias("master"),
        F.lit(_code_version()).alias("code_version"),
        F.current_timestamp().alias("created_at"))


def commit_run_meta(spark: SparkSession, checkpoint_path: str,
                    storage: StorageAdapter, app_name: str,
                    num_buckets: int, num_partitions: int) -> None:
    """Append this run's meta row, enforcing key-universe continuity:
    raises ValueError when an existing meta table was written with a
    different ``num_buckets`` (resuming into a different partition_key
    space corrupts both the anti-join and the keyed sink)."""
    existing = storage.read(spark, meta_path(checkpoint_path))
    if existing is not None:
        prev = (existing.orderBy(F.col("created_at").desc())
                .select("num_buckets").limit(1).collect())
        if prev and int(prev[0]["num_buckets"]) != int(num_buckets):
            raise ValueError(
                f"checkpoint {checkpoint_path} was written with "
                f"num_buckets={int(prev[0]['num_buckets'])}; resuming "
                f"with num_buckets={num_buckets} would change the "
                "partition_key universe — pass the original value")
    storage.append(
        run_meta_row(spark, app_name, num_buckets, num_partitions),
        meta_path(checkpoint_path))
