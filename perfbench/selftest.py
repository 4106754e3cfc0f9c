#!/usr/bin/env python3
"""Smoke self-test of the benchmark, at a tiny input size.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced and asserts that each run
exits 0 with every output check passing, and that its last stdout line
carries exactly the metric names and units ``BENCHMARK.json`` lists
(``end_to_end`` untraced, ``per_layer`` traced).  On crawl_mixed it also
checks that the traced ``run_pipeline``'s parts (commit_run_meta,
pending_only, overwrite_partitions, commit_lineage, residual) add up to its
wall within 10%.  Last, a directory holding only ``BENCHMARK.json`` and
``perfbench/`` must make the benchmark exit non-zero without a result.
Takes about ten minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DOCS = 120
SEED = 42
WORKLOADS = ("crawl_mixed", "crawl_html", "resume_tail", "curate_cascade")
PIPELINE_PARTS = ("checkpoint.commit_run_meta", "checkpoint.pending_only",
                  "storage.overwrite_partitions", "checkpoint.commit_lineage")


def run(cwd: str, workload: str, trace: int):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--docs", str(DOCS)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def check_result(workload: str, trace: int, spec: dict) -> None:
    rc, out, err = run(ROOT, workload, trace)
    assert rc == 0, f"{workload} trace={trace}: exit {rc}\n{err[-3000:]}"
    res = json.loads(out[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (
        workload, trace, res, err[-3000:])
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, (workload, trace, set(got) ^ set(want))
    listed = workload in {w["name"] for w in spec["workloads"]}
    for k, v in res["metrics"].items():
        # crawl_html has no PDF or image docs: their kernel quantiles are
        # null there
        ok = isinstance(v["value"], (int, float)) or (
            not listed and v["value"] is None)
        assert ok, (workload, k, v)
    print(f"ok {workload} trace={trace} attempted={res['attempted']}")


def check_tiling() -> None:
    with open(os.path.join(ROOT, ".bench_trace",
                           f"crawl_mixed-seed{SEED}.json")) as fh:
        spans = json.load(fh)["spans"]
    root = [s for s in spans if s["name"] == "pipeline.run_pipeline"][-1]
    kids = [s for s in spans if s["parent"] == root["id"]]
    wall = root["end"] - root["start"]
    residual = wall - sum(s["end"] - s["start"] for s in kids)
    parts = residual + sum(s["end"] - s["start"] for s in kids
                           if s["name"] in PIPELINE_PARTS)
    assert abs(parts - wall) <= 0.1 * wall, (parts, wall)
    print(f"ok run_pipeline parts {parts:.3f}s of wall {wall:.3f}s")


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".bench_work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, out, _ = run(bare, "crawl_mixed", 0)
        assert rc != 0 and not any(line.startswith("{") for line in out), (
            rc, out)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print(f"ok bare directory exits {rc}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = {w["name"] for w in spec["workloads"]}
    assert listed <= set(WORKLOADS), listed
    for workload in WORKLOADS:
        for trace in (0, 1):
            check_result(workload, trace, spec)
    check_tiling()
    check_bare_directory()
    return 0


if __name__ == "__main__":
    sys.exit(main())
