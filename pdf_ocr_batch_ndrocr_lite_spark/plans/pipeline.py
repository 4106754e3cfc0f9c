"""End-to-end extraction job plan.

Logical plan (all declarative until the vectorized extraction stage):

    read pages table
      → anti-join finished checkpoint partitions   (resume, broadcast)
      → name-rule RLike filter                     (Catalyst predicate)
      → exchange by url bucket                     (one task per sink
                                                    bucket; a url hash still
                                                    spreads the giant-doc
                                                    tail — range co-locates
                                                    it, measured 5x worse)
      → ONE mapInArrow extraction stage            (Arrow, no per-row Python)
      → keyed extractions sink: pyarrow            (idempotent replay;
        writer stage, one file per bucket,         observes the run
        then the driver swaps the bucket           counters)
        directories (parquet fallback)
      → per-partition-key lineage rollup → MERGE   (idempotent metrics)

Replaces the reference's sequential per-file loop + CSV log
(/root/reference/app.py:2925-2974, 1086-1142).
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import extract as ex
from ..sources.storage import StorageAdapter
from . import checkpoint as ck


def _default_driver_memory_gb() -> int:
    """Half of physical RAM, clamped to [2, 48] GiB — sized for local mode
    where the driver JVM hosts every executor thread's Arrow buffers."""
    try:
        total = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
        return max(2, min(48, int(total / (1 << 30) / 2)))
    except (ValueError, OSError, AttributeError):
        return 4


def build_session(app_name: str = "pdf-extract", master: str = "local[*]",
                  shuffle_partitions: int = 32,
                  driver_memory: Optional[str] = None) -> SparkSession:
    """Session tuned for the extraction workload: AQE for runtime re-plan and
    skew-join splitting, Arrow batches capped so no batch exceeds a page
    budget (north rule).

    Driver JVM sizing must be set BEFORE the gateway launches — builder
    `.config` for driver memory / java options is silently ignored once the
    JVM exists (pyspark client mode), which is how a 1g default heap and 1g
    netty direct-memory cap survived round 1 unnoticed until the 500k-doc
    soak OOMed Arrow IPC buffers.  On a real cluster the same flags ride
    spark-submit (--driver-memory / --conf spark.executor.memory).

    ``driver_memory`` defaults to half of physical RAM (clamped 2-48g) so
    library import on a small host never demands a machine-sized heap; an
    existing PYSPARK_SUBMIT_ARGS always wins (we never clobber caller/env
    intent), and once any JVM is up in this process the setting is a no-op
    by construction."""
    mem = driver_memory or f"{_default_driver_memory_gb()}g"
    if "PYSPARK_SUBMIT_ARGS" not in os.environ:
        # GCLockerRetryAllocationCount: 32 executor threads doing Arrow JNI
        # allocations trip JDK-17 G1's "Retried waiting for GCLocker too
        # often" spurious OOM — raise the retry budget.  32m regions keep
        # multi-MB document byte[]s out of the humongous-allocation path.
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {mem} "
            "--driver-java-options "
            "'-XX:MaxDirectMemorySize=8g -Dderby.system.home=/tmp/derby "
            "-XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=100 "
            "-XX:G1HeapRegionSize=32m' "
            "pyspark-shell")
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs everything in the driver JVM: size its heap for
        # cached input + Arrow buffers (default 1g thrashes GC)
        .config("spark.driver.memory", mem)
        .config("spark.driver.maxResultSize", "4g")
        # keep managed-table state out of the working directory
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        # Arrow IPC buffers live in netty DIRECT memory (default cap = 1g):
        # 32 concurrent python-runner tasks each holding a few-MB batch of
        # giant-doc envelopes overflow it at soak scale — size it like the
        # heap, not like the default
        .config("spark.driver.extraJavaOptions",
                "-Dderby.system.home=/tmp/derby "
                "-XX:MaxDirectMemorySize=8g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .getOrCreate()
    )


def run_pipeline(
    spark: SparkSession,
    pages_df: DataFrame,
    output_path: str,
    checkpoint_path: Optional[str] = None,
    storage: Optional[StorageAdapter] = None,
    num_buckets: int = ck.DEFAULT_NUM_BUCKETS,
    num_partitions: int = 0,
    ocr_engine=None,
) -> Dict[str, int]:
    """Run the extraction job into the ``output_path`` sink; returns the
    run counters, observed on the sink write.

    With ``checkpoint_path`` set the run is resumable AND replay-safe:
    finished partition keys are skipped on restart (broadcast anti-join),
    and the output sink is an overwrite-by-partition-key write, so a crash
    in the window between the output commit and the lineage commit cannot
    duplicate rows — the restart recomputes the unfinished keys and each
    key's output REPLACES whatever the interrupted run left behind.

    ``ocr_engine``: an engine callable (operators/ocr_engine.EngineFn).
    When given, documents the dispatcher routes ``needs_ocr`` continue
    straight into the engine inside the same vectorized stage
    (``run_extraction(engine=...)``), closing the reference's
    route → engine → parse → serialize loop (app.py:2790-2859) with no
    extra scan or shuffle; the plan shape and every counter/lineage/
    sink path are otherwise identical.
    """
    storage = storage or StorageAdapter()

    if checkpoint_path:
        # run-config meta row (reference CSV meta header, app.py:1115-1142)
        # + key-universe continuity guard — BEFORE the anti-join, so a
        # wrong-num_buckets resume fails fast instead of mis-keying
        ck.commit_run_meta(spark, checkpoint_path, storage,
                           spark.sparkContext.appName, num_buckets,
                           num_partitions)
        todo = ck.pending_only(pages_df, spark, checkpoint_path, storage,
                               num_buckets)
    else:
        todo = pages_df

    results = ex.run_extraction(todo, num_partitions=num_partitions,
                                engine=ocr_engine, num_buckets=num_buckets)

    # The extraction stage is the expensive part — run it exactly once.
    # persist() before fan-out to the sink and the lineage; the sink write
    # below is the first action and materializes every partition into the
    # cache, so the lineage rollup never re-reads the (possibly since-
    # rewritten) checkpoint files.
    results = results.persist()
    try:
        # Counters ride a write that already happens.  An observation sits
        # on the frame the NEXT write executes, with no exchange between
        # the two: it then runs in the write's result stage, which counts
        # each partition once even when tasks are retried (in a shuffle-map
        # stage a retried task can count twice); and `obs.get` blocks until
        # that write runs, so never observe a frame nothing writes.  The
        # observation precedes the filter so the counters see every row.
        obs = Observation()
        # keyed idempotent sink: partition by the same stable url-hash bucket
        # the checkpoint uses, so a replayed key overwrites its own partition;
        # the exchange placed each bucket in one task, so one file per bucket
        # (while num_partitions <= num_buckets)
        storage.overwrite_partitions(
            ck.with_partition_key(
                results.observe(obs, *ck.run_counters())
                .filter(F.col("action") == ex.ACTION_EXTRACTED),
                num_buckets)
            .select("partition_key", *ex.SINK_COLS),
            output_path,
            ["partition_key"],
        )
        totals = {k: int(v or 0) for k, v in obs.get.items()}
        if checkpoint_path:
            lineage = ck.lineage_from_results(results, num_buckets)
            ck.commit_lineage(spark, checkpoint_path, lineage, storage)
        return totals
    finally:
        results.unpersist()
