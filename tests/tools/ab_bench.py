#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: this tree against a base revision.

    python3 tests/tools/ab_bench.py --base HEAD~1 --workload crawl_mixed \
        --pairs 10

Exports the committed files of ``--base`` (``git archive``) into a temp
dir, removed on exit; the export is a plain tree, so nothing is registered
in the repository's ``.git`` and a killed run leaves no stale worktree.
Pair ``i`` runs ``perfbench/run.py --workload W --seed i --seconds 15
--trace 0`` once in each tree: the same seed, one run after the other,
never concurrently, the side that goes first alternating pair by pair.
Then, per end-to-end metric of ``BENCHMARK.json``, it prints each side's
quartiles, the base IQR, the change's wins out of the pairs (a tie counts
for neither side) and whether the gain rule holds (wins in at least 9/10
of the pairs run, medians apart by more than the base IQR), then the
failed runs.  Standard library only.
"""

from __future__ import annotations

import argparse
import io
import json
import math
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]


def run_once(tree: Path, workload: str, seed: int):
    """The result object one perfbench invocation prints last, or None
    when it crashed or printed none."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "15", "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if proc.returncode == 0 else None
    except (IndexError, ValueError):
        return None


def _value(result, name):
    return (result or {}).get("metrics", {}).get(name, {}).get("value")


def _quartiles(xs):
    """[q1, median, q3] (inclusive method)."""
    return (statistics.quantiles(xs, n=4, method="inclusive")
            if len(xs) > 1 else [xs[0]] * 3)


def _q(q) -> str:
    return f"q1 {q[0]:.4g} median {q[1]:.4g} q3 {q[2]:.4g}"


def summarize(pairs, end_to_end) -> list:
    """Two lines per end-to-end metric, then the failed runs.  The first
    gives each side's quartiles, the base IQR and the change's wins over
    the pairs with both values; the second applies the gain rule: the
    change wins at least 9/10 of all pairs run (a crashed or tied pair
    counts for neither side), and its median beats the base median by
    more than the base IQR.  ``pairs``: [(base result, change result)], a
    result being a parsed perfbench line or None; ``end_to_end``:
    BENCHMARK.json's list of ``{"name", "better", ...}``."""
    out = []
    need = math.ceil(0.9 * len(pairs))
    for m in end_to_end:
        name, sign = m["name"], 1 if m["better"] == "higher" else -1
        both = [(_value(b, name), _value(c, name)) for b, c in pairs]
        both = [(b, c) for b, c in both if b is not None and c is not None]
        if not both:
            out.append(f"{name}: no pair with both values")
            continue
        qb = _quartiles([b for b, _ in both])
        qc = _quartiles([c for _, c in both])
        iqr = qb[2] - qb[0]
        wins = sum(sign * (c - b) > 0 for b, c in both)
        gap = sign * (qc[1] - qb[1])
        gain = wins >= need and gap > iqr
        out.append(f"{name}: base {_q(qb)}  change {_q(qc)}  "
                   f"base IQR {iqr:.4g}  change wins {wins}/{len(both)}")
        out.append(f"{name}: gain {'yes' if gain else 'no'} (wins {wins} "
                   f"of {len(pairs)} pairs run, need {need}; median better "
                   f"by {gap:.4g}, need more than {iqr:.4g})")
    for side, results in (("base", [b for b, _ in pairs]),
                          ("change", [c for _, c in pairs])):
        crashed = sum(r is None for r in results)
        failed = sum(r["failed"] for r in results if r)
        attempted = sum(r["attempted"] for r in results if r)
        out.append(f"{side}: {crashed} crashed invocations, {failed} of "
                   f"{attempted} timed runs failed")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", required=True, help="git revision to compare")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args(argv)
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    with tempfile.TemporaryDirectory(prefix="ab_bench_") as tmp:
        base_tree = Path(tmp) / "base"
        archive = subprocess.run(["git", "archive", args.base], cwd=REPO,
                                 check=True, capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
            tar.extractall(base_tree, filter="data")
        pairs = []
        for seed in range(1, args.pairs + 1):
            order = [base_tree, REPO] if seed % 2 else [REPO, base_tree]
            got = {tree: run_once(tree, args.workload, seed)
                   for tree in order}
            pairs.append((got[base_tree], got[REPO]))
            print(f"pair {seed}: base {_value(got[base_tree], 'docs_per_s')}"
                  f" change {_value(got[REPO], 'docs_per_s')} docs/s",
                  flush=True)
    print("\n".join(summarize(pairs, bench["end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
