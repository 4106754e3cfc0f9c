"""Storage adapter: Iceberg-shaped semantics over a local parquet fallback.

On a real cluster the engine targets Iceberg tables (atomic snapshot commits,
``overwritePartitions()`` for the keyed sink, ``MERGE INTO`` for the
checkpoint upsert — replacing the reference's tmp-file+rename atomicity and
timestamp-numbered CSV paths, reference ``app.py:2269-2292, 1281-1291``).
Where no Iceberg runtime jars are on the classpath, the adapter exposes the
same four verbs (read, append, overwrite_partitions, merge_upsert) with a
parquet implementation; the Iceberg implementation swaps in via
``use_iceberg``.  The parquet ``overwrite_partitions`` and ``merge_upsert``
commit by local directory renames, so they are local-filesystem only.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections import defaultdict
from typing import Dict, Iterator, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.extract import map_partitions

# Bytes of bucket rows one sink-writer task buffers before it writes them
# out as a row group per bucket: the task's memory bound, and one row group
# per file at the sizes a run writes per bucket.
WRITE_BUFFER_BYTES = 32 << 20

# One row per parquet file a sink-writer task wrote.
WRITTEN_SCHEMA = "bucket string, file string"


class StorageAdapter:
    """read / append / overwrite_partitions / merge_upsert over a keyed
    table."""

    def __init__(self, use_iceberg: bool = False) -> None:
        self.use_iceberg = use_iceberg

    # -- parquet implementation (local tests) --

    @staticmethod
    def _local(path: str) -> str:
        """Filesystem view of a local path that may carry a file:// scheme
        (os.path/os.rename need the bare path; Spark accepts either)."""
        return path[len("file://"):] if path.startswith("file://") else path

    @classmethod
    def _local_only(cls, path: str, verb: str) -> str:
        """``_local(path)`` for a verb whose parquet fallback commits by
        driver-local directory renames: any scheme but file:// raises."""
        if "://" in path and not path.startswith("file://"):
            raise ValueError(
                f"parquet {verb} fallback swaps directories with local "
                f"os.rename and cannot target {path!r}; use "
                "StorageAdapter(use_iceberg=True) for non-local URIs")
        return cls._local(path)

    def exists(self, spark: SparkSession, path: str) -> bool:
        if self.use_iceberg:
            return spark.catalog.tableExists(path)
        p = self._local(path)
        return os.path.isdir(p) and bool(os.listdir(p))

    def read(self, spark: SparkSession, path: str) -> Optional[DataFrame]:
        if not self.exists(spark, path):
            return None
        if self.use_iceberg:
            return spark.read.table(path)
        return spark.read.parquet(path)

    def append(self, df: DataFrame, path: str) -> None:
        """Atomic append (Iceberg: snapshot commit; parquet: dir append —
        Spark's output committer keeps partial task output invisible)."""
        if self.use_iceberg:
            df.writeTo(path).append()
        else:
            df.write.mode("append").parquet(path)

    def overwrite_partitions(self, df: DataFrame, path: str,
                             partition_cols: List[str]) -> None:
        """Idempotent keyed write: each partition value present in `df`
        REPLACES its previous output instead of appending next to it, so a
        replayed key (crash between output write and lineage commit) cannot
        duplicate rows.  Iceberg: ``overwritePartitions()`` snapshot commit.

        Parquet fallback (LOCAL FILESYSTEM ONLY): one `map_partitions`
        stage writes each task's rows with pyarrow, one file per bucket
        the task holds (`_bucket_writer`), under
        ``<path>/.staging-<uuid>/attempt-<taskAttemptId>/``; the driver
        collects the files the successful attempts reported and swaps
        each written bucket directory in for its previous one
        (`_swap_buckets`).  A failed job leaves every previous bucket as
        it was, and the staging directory is removed either way; its
        ``.`` prefix hides it from Spark's and pyarrow's readers.  The
        partition columns are the directory names, not file columns, and
        the files keep the stage's Arrow types, so readers see the schema
        Spark's own partitioned writer produced.  Spark's file writer
        goes through Hadoop's local filesystem, which without
        ``libhadoop`` forks ``chmod`` for every directory, file and
        ``.crc`` sidecar it creates; these writes fork nothing."""
        if self.use_iceberg:
            df.writeTo(path).overwritePartitions()
            return
        local = self._local_only(path, "overwrite_partitions")
        staging = os.path.join(local, f".staging-{uuid.uuid4().hex}")
        try:
            written = map_partitions(
                df, _bucket_writer(staging, partition_cols),
                WRITTEN_SCHEMA).collect()
            _swap_buckets(local, staging, written)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def merge_upsert(self, spark: SparkSession, path: str, updates: DataFrame,
                     key_cols: List[str], order_col: str) -> None:
        """Upsert by key, newest ``order_col`` wins.

        Iceberg: ``MERGE INTO target USING updates ON keys WHEN MATCHED THEN
        UPDATE ... WHEN NOT MATCHED THEN INSERT``.  Parquet fallback
        (LOCAL FILESYSTEM ONLY — it swaps directories with os.rename):
        read + union + keep latest per key + overwrite (the checkpoint table
        is tiny — one row per partition key — so this stays cheap even at
        10^12-document scale: key cardinality is the bucket count, not the
        row count)."""
        if self.use_iceberg:
            updates.createOrReplaceTempView("_ckpt_updates")
            on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
            spark.sql(
                f"MERGE INTO {path} t USING _ckpt_updates s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            return
        existing = self.read(spark, path)
        merged = updates if existing is None else existing.unionByName(updates)
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # parquet can't overwrite its own input: stage the merged table
        # beside it, then swap directories.  The compute is distributed (no
        # driver collect); the SWAP is driver-local os.rename, so this
        # fallback is LOCAL-FILESYSTEM ONLY — HDFS/S3/abfs deployments must
        # use the Iceberg path (use_iceberg=True), whose MERGE INTO commit is
        # the real production mechanism.  If a
        # crash lands between the remove and the rename the checkpoint is
        # lost, which is SAFE: the keyed output sink makes a full replay
        # idempotent (overwrite-by-partition-key), just slower.
        local = self._local_only(path, "merge_upsert")
        staging = path.rstrip("/") + ".staging"
        staging_local = local.rstrip("/") + ".staging"
        shutil.rmtree(staging_local, ignore_errors=True)
        latest.write.mode("overwrite").parquet(staging)
        old = local.rstrip("/") + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(local.rstrip("/")):
            os.rename(local.rstrip("/"), old)
        os.rename(staging_local, local.rstrip("/"))
        shutil.rmtree(old, ignore_errors=True)


def _bucket_writer(staging: str, partition_cols: List[str]):
    """The sink-writer stage function over one task's batches: each row
    goes to its bucket's file ``<bucket>/part-<partitionId>.parquet`` under
    ``<staging>/attempt-<taskAttemptId>``, a bucket being the
    ``col=value/...`` directory of its partition values, with the
    partition columns dropped from the file.  Rows are buffered up to
    ``WRITE_BUFFER_BYTES`` and then written as one row group per bucket
    into that bucket's open ``ParquetWriter``.  Yields one ``(bucket,
    file)`` row per file, after every file is closed, so only a task that
    finished reports files."""
    def write_buckets(batches: Iterator[pa.RecordBatch]
                      ) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        root = os.path.join(staging, f"attempt-{ctx.taskAttemptId()}")
        name = f"part-{ctx.partitionId():05d}.parquet"
        writers: Dict[str, pq.ParquetWriter] = {}
        pending: Dict[str, List[pa.RecordBatch]] = defaultdict(list)

        def flush() -> None:
            for bucket, parts in pending.items():
                if bucket not in writers:
                    os.makedirs(os.path.join(root, bucket))
                    writers[bucket] = pq.ParquetWriter(
                        os.path.join(root, bucket, name), parts[0].schema)
                writers[bucket].write_table(pa.Table.from_batches(parts))
            pending.clear()

        try:
            buffered = 0
            for batch in batches:
                rows: Dict[str, List[int]] = defaultdict(list)
                for i, values in enumerate(zip(*(
                        batch.column(c).to_pylist() for c in partition_cols))):
                    rows["/".join(f"{c}={v}" for c, v in
                                  zip(partition_cols, values))].append(i)
                data = batch.drop_columns(partition_cols)
                for bucket, idx in rows.items():
                    part = data.take(pa.array(idx))
                    pending[bucket].append(part)
                    buffered += part.nbytes
                if buffered >= WRITE_BUFFER_BYTES:
                    flush()
                    buffered = 0
            flush()
        finally:
            for w in writers.values():
                w.close()
        yield pa.RecordBatch.from_pydict(
            {"bucket": list(writers),
             "file": [os.path.join(root, b, name) for b in writers]},
            schema=pa.schema([("bucket", pa.string()),
                              ("file", pa.string())]))
    return write_buckets


def _swap_buckets(local: str, staging: str, written: list) -> None:
    """Replace each bucket directory named in ``written`` (the writer
    stage's ``(bucket, file)`` rows) under ``local`` by one holding
    exactly those files.  Where one attempt wrote all of a bucket (every
    bucket while ``num_partitions <= num_buckets``) its directory is
    renamed into place; otherwise the other attempts' files move into it
    first.  The previous directory moves into ``staging`` (removed by the
    caller).  A bucket missing after a crash inside this loop is safe:
    its key has no lineage row yet, so the resume rewrites it."""
    files: Dict[str, List[str]] = defaultdict(list)
    for row in written:
        files[row["bucket"]].append(row["file"])
    os.makedirs(local, exist_ok=True)
    for i, (bucket, paths) in enumerate(files.items()):
        src = os.path.dirname(paths[0])
        for f in paths[1:]:
            os.rename(f, os.path.join(src, os.path.basename(f)))
        dest = os.path.join(local, bucket)
        if os.path.isdir(dest):
            os.rename(dest, os.path.join(staging, f"replaced-{i}"))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.rename(src, dest)
