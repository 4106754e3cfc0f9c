"""Spans recorded from outside the package.

A span records name, start, end and parent; all spans of one traced run share
its run id.  Spans stay in memory and are written once, at exit.  While a span
is open its name is the Spark job description, so the stage metrics read back
from the REST API (``stages.StageMetrics``) group by span.

The spans wrap public calls only: a ``StorageAdapter`` subclass passed to
``run_pipeline`` as ``storage=``, and wrappers installed for the duration of
one call on the ``plans.checkpoint`` functions ``run_pipeline`` looks up at
call time.  Nothing inside the package changes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from typing import Dict, List

from pdf_ocr_batch_ndrocr_lite_spark.plans import checkpoint as ck
from pdf_ocr_batch_ndrocr_lite_spark.sources.storage import StorageAdapter

# the plans.checkpoint functions run_pipeline calls
CHECKPOINT_CALLS = ("commit_run_meta", "pending_only", "lineage_from_results",
                    "commit_lineage")


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: List[dict] = []
        self._open: List[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"run_id": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._open[-1]["id"] if self._open else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self.sc.setJobDescription(
                self._open[-1]["name"] if self._open else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _subtree(self, root: dict) -> List[dict]:
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]

    @staticmethod
    def wall(span: dict) -> float:
        return span["end"] - span["start"]

    def self_times(self, root: dict) -> Dict[str, float]:
        """Self time (span minus its children) per span name, summed over
        the subtree of ``root``."""
        spans = self._subtree(root)
        child = defaultdict(float)
        for s in spans:
            if s is not root:
                child[s["parent"]] += self.wall(s)
        out: Dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += self.wall(s) - child[s["id"]]
        return dict(out)

    def walls(self, root: dict) -> Dict[str, float]:
        """Span wall time per span name, summed over the subtree of
        ``root``."""
        out: Dict[str, float] = defaultdict(float)
        for s in self._subtree(root):
            out[s["name"]] += self.wall(s)
        return dict(out)

    def descriptions(self, root: dict) -> List[str]:
        return sorted({s["name"] for s in self._subtree(root)})

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra},
                      fh, indent=1)


class TracedStorage(StorageAdapter):
    """The parquet adapter with a span around each verb."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self.tracer = tracer

    def read(self, spark, path):
        with self.tracer.span("storage.read"):
            return super().read(spark, path)

    def append(self, df, path):
        with self.tracer.span("storage.append"):
            super().append(df, path)

    def overwrite_partitions(self, df, path, partition_cols):
        with self.tracer.span("storage.overwrite_partitions"):
            super().overwrite_partitions(df, path, partition_cols)

    def merge_upsert(self, spark, path, updates, key_cols, order_col):
        with self.tracer.span("storage.merge_upsert"):
            super().merge_upsert(spark, path, updates, key_cols, order_col)


@contextlib.contextmanager
def traced_checkpoint(tracer: Tracer, names=CHECKPOINT_CALLS):
    """Wrap ``plans.checkpoint`` functions in spans for one call."""
    saved = {n: getattr(ck, n) for n in names}
    try:
        for n, fn in saved.items():
            setattr(ck, n, tracer.wrap(f"checkpoint.{n}", fn))
        yield
    finally:
        for n, fn in saved.items():
            setattr(ck, n, fn)

