"""The traced run: per-layer metrics, measured from outside each layer.

After the untraced timed loop, every workload runs the same suite on its own
inputs, so every per-layer metric is measured on every workload:

1. one traced run of the workload's job (``trace.overhead_frac`` compares it
   with the median of the untraced runs);
2. ``plans.pipeline`` / ``plans.checkpoint`` / ``sources.storage``: a traced
   ``run_pipeline`` with sink and checkpoint (step 1 itself on the extraction
   workloads);
3. ``plans.curate``: ``curation_verdict``, ``minhash_dedup`` and
   ``stratified_sample`` alone, each with a noop sink, and a traced
   ``run_curation`` over documents built from that pipeline's sink (step 1
   itself on curate_cascade);
4. ``operators.extract``: ``run_extraction`` alone with a noop sink, plus
   Spark's stage metrics for its scan/exchange stage and its Python stage;
5. the kernels, single process (``kernels.py``).

The ``memory.*`` metrics (peak RSS after the timed loop) come from ``run.py``.

Layer times are span walls; ``pipeline.residual_s`` is the self time of the
``run_pipeline`` span (totals aggregation, persist, plan building).
"""

from __future__ import annotations

import os
import statistics
import sys
from typing import Dict, List, Tuple

from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
from pdf_ocr_batch_ndrocr_lite_spark.operators import dedup as dd
from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as ex
from pdf_ocr_batch_ndrocr_lite_spark.operators import mixing as mx

import kernels
import workloads
from stages import StageMetrics
from spans import Tracer, TracedStorage, traced_checkpoint

PIPELINE = "pipeline.run_pipeline"
CURATE = "curate.run_curation"


def traced_pipeline(tracer: Tracer, job):
    """One traced run_pipeline of ``job`` (a CrawlMixed/ResumeTail);
    returns (wall, run totals, check errors)."""
    job.prepare()
    with traced_checkpoint(tracer), tracer.span(PIPELINE):
        wall, totals, check = job.run(storage=TracedStorage(tracer))
    return wall, totals, check()


def pipeline_metrics(tracer: Tracer, sm: StageMetrics, totals_docs: int,
                     input_docs: int):
    root = tracer.last(PIPELINE)
    walls = tracer.walls(root)
    residual = tracer.self_times(root)[PIPELINE]
    jobs = tasks = 0
    for d in tracer.descriptions(root):
        s = sm.summary(d)
        jobs += s["jobs"]
        tasks += s["tasks"]
    sink = sm.summary("storage.overwrite_partitions")
    return {
        "storage.overwrite_partitions_s": (
            walls["storage.overwrite_partitions"], "s"),
        "storage.files_written": (sink["files_written"], "count"),
        "storage.bytes_written_mb": (sink["written_mb"], "MB"),
        "storage.merge_upsert_s": (walls["storage.merge_upsert"], "s"),
        "checkpoint.commit_run_meta_s": (
            walls["checkpoint.commit_run_meta"], "s"),
        "checkpoint.pending_only_s": (walls["checkpoint.pending_only"], "s"),
        "checkpoint.commit_lineage_s": (
            walls["checkpoint.commit_lineage"], "s"),
        "checkpoint.pending_frac": (totals_docs / input_docs, "frac"),
        "pipeline.wall_s": (tracer.wall(root), "s"),
        "pipeline.residual_s": (residual, "s"),
        "pipeline.spark_jobs": (jobs, "count"),
        "pipeline.spark_tasks": (tasks, "count"),
    }


def curation_operators(tracer: Tracer, docs) -> None:
    """The cascade's operators alone over the documents, noop sinks."""
    args = workloads.CURATE_ARGS
    standalone = {
        "curation.verdict": lambda: cu.curation_verdict(docs),
        "dedup.minhash_dedup": lambda: dd.minhash_dedup(docs, max_df=10_000),
        "mixing.stratified_sample": lambda: mx.stratified_sample(
            docs, args["mix_rates"], default_rate=args["default_rate"]),
    }
    for name, build in standalone.items():
        with tracer.span(name):
            build().write.format("noop").mode("overwrite").save()


def curation_metrics(tracer: Tracer, sm: StageMetrics, counts):
    out = {f"{name}_s": (tracer.wall(tracer.last(name)), "s") for name in
           ("curation.verdict", "dedup.minhash_dedup",
            "mixing.stratified_sample")}
    s = sm.summary(CURATE)
    out["curate.barrier_s"] = (s["write_executions_s"], "s")
    out["curate.spark_jobs"] = (s["jobs"], "count")
    stages = (("verdict", "input", "after_verdict"),
              ("near_dup", "after_verdict", "after_near_dup"),
              ("mixing", "after_near_dup", "after_mixing"))
    for label, before, after in stages:
        out[f"curate.kept_frac.{label}"] = (
            counts[after] / counts[before] if counts[before] else 0.0,
            "frac")
    return out


def run_extraction(tracer: Tracer, pages, partitions: int):
    """run_extraction alone into a noop sink; returns the dispatcher's
    ``seconds`` summed per route (read back from the persisted result)."""
    with tracer.span("extract.run_extraction"):
        res = ex.run_extraction(pages, num_partitions=partitions).persist()
        res.write.format("noop").mode("overwrite").save()
    with tracer.span("extract.kernel_seconds"):
        kern = {r[0]: r[1] for r in res.groupBy("doc_kind")
                .agg(F.sum("seconds")).collect()}
    res.unpersist()
    return kern


def extraction_metrics(tracer: Tracer, sm: StageMetrics, kern):
    sp = tracer.last("extract.run_extraction")
    stages = sm.stages("extract.run_extraction")
    py = max((s for s in stages if s["shuffleReadBytes"] > 0),
             key=lambda s: s["executorRunTime"])
    xchg = [s for s in stages
            if s["shuffleWriteBytes"] > 0 and s["shuffleReadBytes"] == 0]
    med, top = sm.task_run_quantiles(py)
    py_task = py["executorRunTime"] / 1e3
    kern_sum = sum(kern.get(r, 0.0) for r in kernels.ROUTES)
    out = {
        "extract.run_extraction_s": (tracer.wall(sp), "s"),
        "extract.python_stage_task_s": (py_task, "s"),
        "extract.python_stage_cpu_s": (py["executorCpuTime"] / 1e9, "s"),
        "extract.boundary_share": ((py_task - kern_sum) / py_task, "frac"),
        "extract.exchange_task_s": (
            sum(s["executorRunTime"] for s in xchg) / 1e3, "s"),
        "extract.shuffle_write_mb": (
            sum(s["shuffleWriteBytes"] for s in xchg) / 1e6, "MB"),
        "extract.shuffle_fetch_wait_s": (py["shuffleFetchWaitTime"] / 1e3,
                                         "s"),
        "extract.task_skew": (top / med if med else 0.0, "ratio"),
    }
    for r in kernels.ROUTES:
        out[f"extract.kernel_task_s.{r}"] = (kern.get(r, 0.0), "s")
    return out


def traced(wl, ctx, runs: List[dict], run_id: str, trace_dir: str
           ) -> Tuple[Dict[str, tuple], List[dict]]:
    """The per-layer suite; returns (metrics, records of the checked runs
    it made)."""
    tracer = Tracer(ctx.spark, run_id)
    sm = StageMetrics(ctx.spark)
    records = []

    def record(wall, errs):
        for e in errs:
            print(f"check failed: {e}", file=sys.stderr)
        records.append({"wall": wall, "pages": 0, "ok": not errs})

    job = wl.pipeline_job
    cur = getattr(wl, "curation", None)
    if cur is not None:                       # curate_cascade
        wl.prepare()
        wall, _, check = wl.run(tracer=tracer)
        record(wall, check())
        counts = wl.reference["counts"]
        # its set-up never ran the pipeline: warm it up untraced first
        job.prepare()
        jwall, _, check = job.run()
        record(jwall, check())
    pwall, totals, errs = traced_pipeline(tracer, job)
    record(pwall, errs)
    if cur is None:                           # the extraction workloads
        wall = pwall
        cur = workloads.Curation(ctx, ctx.spark.read.parquet(job.out))
        # the operators alone first: they warm the UDFs the cascade runs
        # next, which saves an untraced warm-up cascade (~15 s)
        curation_operators(tracer, cur.docs)
        counts, kept = cur.curate(tracer)
        record(tracer.wall(tracer.last(CURATE)),
               cur.invariants(cur.result(counts, kept)))
    else:
        curation_operators(tracer, cur.docs)
    kern = run_extraction(tracer, wl.ex.pages, ctx.partitions)
    sm.settle()

    untraced = statistics.median(r["wall"] for r in runs if r["wall"])
    m = {"trace.overhead_frac": (wall / untraced - 1.0, "frac")}
    m.update(pipeline_metrics(tracer, sm, totals["docs"], job.input_docs))
    m.update(extraction_metrics(tracer, sm, kern))
    m.update(curation_metrics(tracer, sm, counts))
    for name, value in kernels.kernel_metrics(wl.ex.rows).items():
        m[name] = (value, "us")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.dump(os.path.join(trace_dir, f"{run_id}.json"),
                stages={d: sm.summary(d)
                        for d in sorted({s["name"] for s in tracer.spans})})
    return m, records
