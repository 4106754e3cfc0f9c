"""Shared JVM-side vector kernels (the exact left-fold pair used by both
the similarity operators and the embedding near-dup join).

One definition on purpose: the fold ORDER is part of the oracle contract
(a left fold in index order — DuckDB's list_aggregate reduces the same
way), so a drifted copy would be an invisible correctness hazard.
Measured: this JVM HOF fold beats an Arrow/numpy pandas_udf for CPU
cosine scans (vector IPC outweighs the BLAS savings — see the kernel
note in similarity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def dot(a, b):
    """Exact dot product: element products left-folded in index order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a):
    """Exact L2 norm via the same left-fold discipline."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
