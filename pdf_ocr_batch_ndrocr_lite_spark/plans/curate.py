"""End-to-end corpus curation plan: the training-data pass that runs
AFTER extraction (`plans.pipeline`) and BEFORE the dataloader.

Stage order follows cost (cheapest kill first) — the CCNet/Gopher/
FineWeb-style cascade assembled from the standalone operators, so every
stage's semantics stay individually oracle-checked (q50, q34, q54, q56):

1. verdict   — per-row signals fused in ONE projection over the
               document rows, a combining first-seen winner per text
               digest, then ``filter(keep)`` (`curation.curation_verdict`)
2. near-dup  — MinHash-LSH candidates → Jaccard verify → drop losers
               (`dedup.minhash_dedup`, salt-split hot buckets)
3. decontam  — drop docs sharing shingles with an eval/benchmark table
               (`mixing.benchmark_decontaminate`, broadcast bench side)
4. mixing    — deterministic per-stratum sampling to target ratios
               (`mixing.stratified_sample`, zero shuffle)

Each stage is optional; the plan returns (kept_docs, stage_counts) where
stage_counts is the lineage row a metrics sink records per run.  At
corpus scale the pass is: one scan → fused projection → digest-winner
agg + join-back (the one exchange the text crosses) → LSH exchanges over
digests → anti-joins on id sets → map-side sample — document text is
never shuffled after the verdict stage restricts to survivors.

EXECUTE-ONCE CONTRACT (`scratch_dir`): every stage boundary is a
`barrier.materialize` parquet write under ``scratch_dir``, the same round
trip `connected_components` uses for its iteration loop, so each stage's
lineage executes exactly once and the final frame is a plain parquet scan
— without the barriers the final write would re-execute the whole cascade.
Each stage count (and the boilerplate pre-pass's dropped-line sum) is an
observation on the frame that stage's barrier writes; the input count and
the per-reason drops are observed on the verdict rows that stage 1's
barrier writes, ahead of its keep filter.  So no counter is a job of its
own: the barrier writes are the only Spark actions.  Pass shared storage
(HDFS/S3) on a real cluster.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators import curation as cu
from ..operators import dedup as dd
from ..operators import mixing as mx
from ..operators.barrier import materialize


def run_curation(docs: DataFrame, scratch_dir: str,
                 boilerplate_max_df: Optional[int] = None,
                 min_quality: float = 0.45,
                 require_lang: bool = True,
                 near_dup: bool = True,
                 jaccard_threshold: float = 0.8,
                 max_df: Optional[int] = 10_000,
                 transitive_dedup: bool = False,
                 bench: Optional[DataFrame] = None,
                 min_overlap: int = 2,
                 mix_rates: Optional[dict] = None,
                 default_rate: float = 1.0):
    """Returns (kept DataFrame, counts dict).

    Every stage executes exactly once, through its barrier under
    ``scratch_dir`` (see module comment), and its count is observed on
    that barrier's write.  ``counts`` also holds ``input`` and one
    ``dropped_<reason>`` per verdict reason, observed on stage 1's write.

    ``boilerplate_max_df`` enables the CCNet-style LINE-level pre-pass:
    lines of 10+ chars present in more than that many documents are
    stripped from EVERY document before any doc-level signal is
    computed — chrome that would otherwise pollute the quality/repetition
    scores and the near-dup shingles (two boilerplate-heavy pages look
    like near-dups of each other even when their prose differs).
    NULL-text documents pass through the pre-pass untouched (rebuilt text
    left-joins back onto the corpus), so they still receive an explicit
    verdict instead of silently vanishing before the first stage."""
    counts = {}

    if boilerplate_max_df is not None:
        dropped = Observation()
        rewritten = materialize(
            dd.remove_boilerplate_lines(
                docs, max_doc_freq=boilerplate_max_df, min_chars=10)
            .observe(dropped, F.sum("dropped_lines").alias("lines")),
            "stage0_boilerplate", scratch_dir)
        # left join + coalesce: docs with NULL text produce no line rows
        # in the rebuild — they must survive the pre-pass (text unchanged)
        # rather than being inner-joined out of the corpus
        repl = rewritten.select("doc_id", F.col("text").alias("_rw_text"))
        docs = (docs.join(repl, "doc_id", "left")
                .withColumn("text", F.coalesce(F.col("_rw_text"),
                                               F.col("text")))
                .drop("_rw_text"))
        counts["boiler_lines_dropped"] = int(dropped.get["lines"] or 0)

    # the verdict has one row per input row (an inner join on a
    # per-digest winner), so an observation ahead of the keep filter, with
    # no exchange before the barrier write, counts the input
    verdict = Observation()
    observed = [F.count(F.lit(1)).alias("input")] + [
        F.count_if(F.col("reason") == r).alias(f"dropped_{r}")
        for r in cu.DROP_REASONS]
    # (barrier name, counts key, stage) in cascade order
    stages = [("stage1_verdict", "after_verdict",
               lambda d: cu.curation_verdict(
                   d, min_quality=min_quality, require_lang=require_lang)
               .observe(verdict, *observed)
               .filter(F.col("keep")).drop("keep", "reason"))]
    if near_dup:
        stages.append(("stage2_near_dup", "after_near_dup",
                       lambda d: dd.minhash_dedup(
                           d, jaccard_threshold=jaccard_threshold,
                           max_df=max_df, transitive=transitive_dedup,
                           scratch_dir=f"{scratch_dir}/stage2_cc")))
    if bench is not None:
        stages.append(("stage3_decontam", "after_decontam",
                       lambda d: mx.benchmark_decontaminate(
                           d, bench, min_overlap=min_overlap)))
    if mix_rates is not None:
        stages.append(("stage4_mixing", "after_mixing",
                       lambda d: mx.stratified_sample(
                           d, mix_rates, default_rate=default_rate)))

    kept = docs
    for name, key, stage in stages:
        rows = Observation()
        kept = materialize(
            stage(kept).observe(rows, F.count(F.lit(1)).alias("rows")),
            name, scratch_dir)
        counts[key] = rows.get["rows"]

    counts.update(verdict.get)
    counts["kept"] = rows.get["rows"]
    return kept, counts
