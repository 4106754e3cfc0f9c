"""spark-submit entry point for the extraction job.

Packaging (north star): zip the package and submit the shim file (this
module uses package-relative imports, so spark-submit takes
``submit_extract.py`` at the repo root, not this file) —

    cd /root/repo && zip -r /tmp/engine.zip pdf_ocr_batch_ndrocr_lite_spark
    spark-submit --py-files /tmp/engine.zip submit_extract.py \
        --input s3://bucket/pages_iceberg --output out_table \
        --checkpoint ckpt_table --iceberg

or locally:

    python -m pdf_ocr_batch_ndrocr_lite_spark.jobs \
        --synthetic-docs 2000 --output /tmp/out --checkpoint /tmp/ckpt

Replaces the reference's GUI "start" entry (`OCRBatchApp.on_start`,
/root/reference/app.py:3663-3727): CLI args -> immutable job config ->
declarative plan -> single vectorized extraction stage -> sinks.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description="PySpark document extraction job")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages table: parquet path or Iceberg "
                                     "table name (with --iceberg)")
    src.add_argument("--synthetic-docs", type=int,
                     help="generate N deterministic synthetic docs instead "
                          "of reading an input table (all on one host "
                          "with relative links, so --webgraph on them "
                          "reports host_edges 0 and never reaches "
                          "PageRank)")
    p.add_argument("--output", required=True,
                   help="extractions sink (parquet path / Iceberg table)")
    p.add_argument("--checkpoint", default=None,
                   help="checkpoint/lineage table; enables resume")
    p.add_argument("--iceberg", action="store_true",
                   help="treat --input/--output/--checkpoint as Iceberg "
                        "table names (needs Iceberg runtime jars + catalog)")
    p.add_argument("--master", default=None,
                   help="override master (default: from spark-submit)")
    p.add_argument("--num-buckets", type=int, default=256,
                   help="url-hash buckets: the checkpoint partition keys and "
                   "the sink partitions; each bucket is written by one "
                   "task while it is at least --num-partitions")
    p.add_argument("--num-partitions", type=int, default=0,
                   help="extraction tasks, placed by url bucket "
                   "(0 = spark.sql.shuffle.partitions)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--ocr-engine", default=None,
                   choices=["fake", "fake-text"],
                   help="close the needs_ocr route through an engine "
                        "inside the extraction stage: 'fake' = the "
                        "deterministic JSON engine, 'fake-text' = the "
                        "TXT-only variant (a real engine plugs in via "
                        "run_pipeline(ocr_engine=...))")
    # corpus-curation mode: --input is a DOCUMENTS table (doc_id, text,
    # lang); runs verdict -> near-dup -> [decontam] -> [mixing] instead of
    # the extraction pipeline
    p.add_argument("--curate", action="store_true",
                   help="run the corpus-curation cascade instead of "
                        "extraction (input: documents table)")
    p.add_argument("--bench-input", default=None,
                   help="benchmark/eval documents table for the "
                        "decontamination stage (curate mode)")
    p.add_argument("--mix-rates", default=None,
                   help='JSON per-stratum keep rates, e.g. '
                        '\'{"en": 0.5, "de": 0.8}\' (curate mode)')
    p.add_argument("--default-rate", type=float, default=1.0,
                   help="keep rate for strata absent from --mix-rates")
    p.add_argument("--min-quality", type=float, default=0.45,
                   help="verdict composite-quality kill threshold "
                        "(curate mode)")
    p.add_argument("--keep-unknown-lang", action="store_true",
                   help="disable the verdict's lang kill (corpora the "
                        "marker-word heuristic cannot cover)")
    p.add_argument("--transitive-dedup", action="store_true",
                   help="near-dup survivor rule: cluster verified pairs "
                        "via connected components and keep the longest "
                        "per cluster (default: pairwise lower-id-wins)")
    p.add_argument("--boilerplate-max-df", type=int, default=None,
                   help="enable the line-level pre-pass: strip lines "
                        "present in more than this many documents "
                        "before doc-level curation (curate mode)")
    # webgraph mode: --input is a PAGES table (url, html); runs
    # resolve_links -> host_edges (eTLD+1) -> PageRank and writes the
    # (host, rank) table
    p.add_argument("--webgraph", action="store_true",
                   help="build the host-level webgraph rank table "
                        "instead of extracting (input: pages table)")
    p.add_argument("--pr-iterations", type=int, default=3,
                   help="PageRank rounds (webgraph mode)")
    p.add_argument("--redistribute-dangling", action="store_true",
                   help="close the dangling-mass leak through the "
                        "teleport set (webgraph mode)")
    p.add_argument("--keep-self-links", action="store_true",
                   help="keep intra-domain edges (webgraph mode)")
    p.add_argument("--trust-seeds", default=None,
                   help="parquet/Iceberg table of trusted hosts -> "
                        "TrustRank instead of PageRank (webgraph mode)")
    p.add_argument("--curate-scratch", default=None,
                   help="stage-barrier scratch path for --curate and "
                        "--webgraph; required on a non-local master "
                        "(shared storage: HDFS/S3); default under a "
                        "local master: a temp dir the job removes")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .operators.barrier import stage_scratch
    from .plans.pipeline import build_session, run_pipeline
    from .sources.corpus import corpus_df
    from .sources.storage import StorageAdapter

    import os
    if args.master:
        spark = build_session(app_name="pdf-extract", master=args.master)
    elif "PYSPARK_GATEWAY_PORT" in os.environ:
        # under spark-submit the JVM already exists and the session config
        # comes from the launcher (--driver-memory etc.)
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.appName("pdf-extract").getOrCreate()
    else:
        # standalone `python -m ...jobs` run: go through build_session so
        # the driver JVM is actually sized (a bare builder here left the
        # 500k-doc soak on the 1g default heap)
        spark = build_session(app_name="pdf-extract", master="local[*]")

    storage = StorageAdapter(use_iceberg=args.iceberg)

    def read_table(name):
        return (spark.read.table(name) if args.iceberg
                else spark.read.parquet(name))

    if args.webgraph:
        from .plans.webgraph import run_webgraph
        # stage barrier: parquet scratch so the resolver/PSL lineage is
        # cut between stages; entered before the inputs are read, so a
        # cluster run without --curate-scratch fails before its first job
        with stage_scratch(spark, args.curate_scratch,
                           "spark_graft_webgraph_") as scratch:
            if args.synthetic_docs:
                pages = corpus_df(spark, args.synthetic_docs, seed=args.seed)
            else:
                pages = read_table(args.input)
            seeds = (read_table(args.trust_seeds) if args.trust_seeds
                     else None)
            t0 = time.perf_counter()
            ranks, counts = run_webgraph(
                pages, iterations=args.pr_iterations,
                redistribute_dangling=args.redistribute_dangling,
                drop_self=not args.keep_self_links,
                scratch_dir=scratch, seeds=seeds)
            # count what is WRITTEN: an observation on the output write
            # (counting the symbolic ranks frame would re-run every
            # unbarriered rank round a second time)
            hosts = Observation()
            ranks = ranks.observe(hosts, F.count(F.lit(1)).alias("rows"))
            if args.iceberg:
                ranks.writeTo(args.output).createOrReplace()
            else:
                ranks.write.mode("overwrite").parquet(args.output)
            counts["hosts"] = hosts.get["rows"]
        counts["seconds"] = round(time.perf_counter() - t0, 3)
        print(json.dumps(counts))
        spark.stop()
        return 0

    if args.curate:
        from .plans.curate import run_curation
        # stage barrier: each cascade stage executes once per job (the
        # final write would otherwise re-run the verdict/LSH lineage —
        # see plans.curate module comment)
        with stage_scratch(spark, args.curate_scratch,
                           "spark_graft_curate_") as scratch:
            if args.synthetic_docs:
                # documents-shaped synthetic input for smoke runs: derive
                # a stable doc_id from the url (any deterministic id
                # works — first-wins dedup just needs a total order)
                docs = corpus_df(spark, args.synthetic_docs,
                                 seed=args.seed) \
                    .select(F.abs(F.xxhash64("url")).alias("doc_id"),
                            "text", "lang")
            else:
                docs = read_table(args.input)
            bench = (read_table(args.bench_input) if args.bench_input
                     else None)
            rates = json.loads(args.mix_rates) if args.mix_rates else None
            t0 = time.perf_counter()
            kept, counts = run_curation(
                docs, bench=bench, mix_rates=rates,
                default_rate=args.default_rate,
                min_quality=args.min_quality,
                require_lang=not args.keep_unknown_lang,
                transitive_dedup=args.transitive_dedup,
                boilerplate_max_df=args.boilerplate_max_df,
                scratch_dir=scratch)
            if args.iceberg:
                kept.writeTo(args.output).createOrReplace()
            else:
                kept.write.mode("overwrite").parquet(args.output)
        counts["seconds"] = round(time.perf_counter() - t0, 3)
        print(json.dumps(counts))
        spark.stop()
        return 0

    pages = (corpus_df(spark, args.synthetic_docs, seed=args.seed)
             if args.synthetic_docs else read_table(args.input))

    engine = None
    if args.ocr_engine:
        from .operators import ocr_engine as oe
        engine = (oe.text_only_fake_engine if args.ocr_engine == "fake-text"
                  else oe.deterministic_fake_engine)

    t0 = time.perf_counter()
    totals = run_pipeline(
        spark, pages,
        output_path=args.output,
        checkpoint_path=args.checkpoint,
        storage=storage,
        num_buckets=args.num_buckets,
        num_partitions=args.num_partitions,
        ocr_engine=engine,
    )
    totals["seconds"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(totals))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
