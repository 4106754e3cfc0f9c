#!/usr/bin/env python3
"""Benchmark of the production extraction job and the curation cascade.

    python3 perfbench/run.py --workload crawl_mixed --seed 1 --seconds 15 \
        --trace 0

Run from the repository root (any cwd works).  The run generates its inputs
from ``--seed``, starts one Spark session on ``local[N]`` with N the CPUs this
process may use (``build_session``, 2N partitions), sets up the workload (see
``workloads.py``), then repeats the workload's job for ``--seconds`` seconds
in a closed loop, checking the output of every run.

``BENCHMARK.json`` lists crawl_mixed and resume_tail.  crawl_html and
curate_cascade run the same way by hand: one invocation costs 45-70 s on four
vCPUs, most of it session start and warm-up, so an hour-long regression sweep
of about twenty runs per workload fits two workloads only, and one cascade
swings about 20% from run to run.  The layers they stress (the Arrow boundary and
sink, the curation operators) are measured in every traced run.

The last stdout line is one JSON object: ``correct``, ``attempted``
(timed runs), ``failed`` (runs that raised or failed the output check) and
``metrics``.  With ``--trace 0`` the metrics are the end-to-end ones, medians
over the timed runs (``setup_s`` is the sum of the set-up phases); with
``--trace 1`` the timed loop is followed by one traced run of the job and
the per-layer suite, and the metrics are the per-layer ones, the peak RSS
after the timed loop among them.  Spans of the traced run are written to
``.bench_trace/<workload>-seed<seed>.json``.  Everything the run writes
stays under the repository root (``.bench_work/``, ``.bench_trace/``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from typing import Dict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pdf_ocr_batch_ndrocr_lite_spark"
DEFAULT_DOCS = 400


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=DEFAULT_DOCS,
                   help="pages generated per input table")
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the JVM, Spark and the Python workers write inside
    ``work``, and make the package importable by the workers whatever the
    cwd (they inherit PYTHONPATH through the JVM).  The benchmark's own
    modules stay on the driver's path only: no task runs their code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                      .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-Dspark.ui.showConsoleProgress=false")
    sys.path[:0] = [ROOT, HERE]


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def process_tree(root_pid: int):
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children[ppid].append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def peak_rss_mb(jvm_pid: int) -> Dict[int, float]:
    """VmHWM (the kernel's own peak-RSS mark) of the JVM and of every
    process under it (the Python workers), per pid."""
    out = {}
    for pid in process_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024
        except OSError:
            pass
    return out


def shutdown(spark) -> None:
    """Stop the session and the gateway JVM, and wait for both to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    workers = [p for p in process_tree(jvm_pid) if p != jvm_pid]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


class Timer:
    def __init__(self) -> None:
        self.phases = defaultdict(list)

    @contextlib.contextmanager
    def __call__(self, phase: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[phase].append(time.perf_counter() - t0)


def timed_loop(wl, seconds: float):
    """Closed loop: one job at a time until ``seconds`` have passed
    (checks included, at least one job).  Returns per-run records."""
    runs = []
    deadline = time.perf_counter() + seconds
    while True:
        wl.prepare()
        try:
            wall, stats, check = wl.run()
            pages = stats["pages"]
            errs = check()
        except Exception:
            traceback.print_exc()
            wall, pages, errs = None, 0, ["raised"]
        for e in errs:
            print(f"check failed: {e}", file=sys.stderr)
        runs.append({"wall": wall, "pages": pages, "ok": not errs})
        if time.perf_counter() >= deadline:
            return runs


def end_to_end(wl, runs, setup_s: float):
    timed = [r for r in runs if r["ok"]] or [r for r in runs if r["wall"]]
    return {
        "docs_per_s": (statistics.median(wl.input_docs / r["wall"]
                                         for r in timed), "1/s"),
        "pages_per_s": (statistics.median(r["pages"] / r["wall"]
                                          for r in timed), "1/s"),
        "setup_s": (setup_s, "s"),
    }


def memory(spark):
    """Peak RSS after the timed loop, JVM and Python workers apart.  A
    per-layer metric, not an end-to-end one: under build_session's default
    heap (half of RAM) the JVM's share follows G1's heap sizing, and it
    spread 26% (IQR over median) over ten resume_tail seeds, more than any
    regression bound the benchmark could hold it to."""
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    rss = peak_rss_mb(jvm_pid)
    jvm = rss.pop(jvm_pid)
    print(f"peak_rss_mb jvm={jvm:.0f} "
          f"workers={sorted(round(v) for v in rss.values())}")
    return {"memory.peak_rss_mb": (jvm + sum(rss.values()), "MB"),
            "memory.jvm_peak_rss_mb": (jvm, "MB"),
            "memory.workers_peak_rss_mb": (sum(rss.values()), "MB")}


def bench(args, work: str):
    from pdf_ocr_batch_ndrocr_lite_spark.plans.pipeline import build_session
    import workloads

    workload = workloads.WORKLOADS[args.workload]
    n = cpu_count()
    timer = Timer()
    with timer("session"):
        spark = build_session(app_name=f"perfbench-{args.workload}",
                              master=f"local[{n}]", shuffle_partitions=2 * n)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Ctx(spark, work, args.seed, args.docs, 2 * n)
        wl = workload(ctx)
        setup_errs = wl.setup(timer)
        for e in setup_errs:
            print(f"set-up check failed: {e}", file=sys.stderr)
        ph = timer.phases
        setup_s = sum(sum(v) for v in ph.values())
        runs = timed_loop(wl, args.seconds)
        mem = memory(spark)
        if args.trace:
            import layers
            metrics, trace_runs = layers.traced(
                wl, ctx, runs, run_id=f"{args.workload}-seed{args.seed}",
                trace_dir=os.path.join(ROOT, ".bench_trace"))
            metrics.update(mem)
            runs += trace_runs
        else:
            metrics = end_to_end(wl, runs, setup_s)
    finally:
        shutdown(spark)
    failed = sum(not r["ok"] for r in runs)
    walls = [r["wall"] for r in runs if r["wall"]]
    print(f"workload={args.workload} seed={args.seed} docs={args.docs} "
          f"local[{n}] input_docs={wl.input_docs} runs={len(runs)} "
          f"failed_run_frac={failed / len(runs):.3f} "
          f"wall_s={[round(w, 3) for w in walls]} "
          f"setup={ {k: [round(x, 3) for x in v] for k, v in ph.items()} }")
    # the values expected.json keeps for this (workload, seed, docs)
    print(f"record={json.dumps(wl.record(), sort_keys=True)}")
    return {"correct": not setup_errs and failed == 0,
            "attempted": len(runs), "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a full "
              "checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
