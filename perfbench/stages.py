"""Stage metrics read from the local Spark REST API, grouped by job description.

The benchmark tags each call into the program with
``SparkContext.setJobDescription`` (see ``spans.Tracer``); Spark copies that
description onto every job, stage and SQL execution the call starts.  This
module reads ``/api/v1/applications/<id>/{jobs,stages,sql}`` from the driver's
own UI afterwards, so no listener is installed inside the package.
"""

from __future__ import annotations

import json
import re
import time
import urllib.parse
import urllib.request
from typing import Dict, List

FENCE = "perfbench.fence"

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


def _size_bytes(text: str) -> float:
    """'807.4 KiB' -> bytes (the SQL tab's human-readable size metric)."""
    m = re.match(r"\s*([0-9.]+)\s*([KMGT]?i?B)\b", text)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class StageMetrics:
    """Reader over one application's status store."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        # the UI listens on every interface; uiWebUrl names the host's
        # address, and the benchmark talks to this machine only
        port = urllib.parse.urlsplit(sc.uiWebUrl).port
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 30.0) -> None:
        """Run a tagged one-task job and wait until the status store shows it
        finished.  The listener bus delivers events in order, so every job
        started before the fence is then complete in the store."""
        sc = self.spark.sparkContext
        sc.setJobDescription(FENCE)
        try:
            self.spark.range(1).count()
        finally:
            sc.setJobDescription(None)
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if any(j.get("description") == FENCE
                   and j["status"] == "SUCCEEDED" for j in self._get("jobs")):
                return
            time.sleep(0.1)
        raise TimeoutError("Spark status store did not catch up")

    def jobs(self, description: str) -> List[dict]:
        return [j for j in self._get("jobs")
                if j.get("description") == description]

    def stages(self, description: str) -> List[dict]:
        """Completed stages of the description's jobs, in stage-id order."""
        return sorted((s for s in self._get("stages")
                       if s.get("description") == description
                       and s["status"] == "COMPLETE"),
                      key=lambda s: s["stageId"])

    def executions(self, description: str) -> List[dict]:
        # the SQL endpoint pages its results (20 by default)
        return [e for e in self._get("sql?details=true&planDescription=false"
                                     "&offset=0&length=100000")
                if e.get("description") == description]

    def task_run_quantiles(self, stage: dict, quantiles=(0.5, 1.0)
                           ) -> List[float]:
        """Task executorRunTime (ms) quantiles of one stage."""
        q = ",".join(str(x) for x in quantiles)
        summary = self._get(f"stages/{stage['stageId']}/{stage['attemptId']}"
                            f"/taskSummary?quantiles={q}")
        return [float(v) for v in summary["executorRunTime"]]

    def summary(self, description: str) -> Dict[str, float]:
        """Totals over every completed stage and SQL execution carrying
        ``description``: jobs, tasks, task and JVM CPU seconds, shuffle
        read/write MB, shuffle fetch wait, output files and MB."""
        stages = self.stages(description)
        files = 0
        written = 0.0
        write_s = 0.0
        for ex in self.executions(description):
            metrics = {m["name"]: m["value"] for n in ex.get("nodes", [])
                       for m in n.get("metrics", [])
                       if m["name"] in ("number of written files",
                                        "written output")}
            if "number of written files" in metrics:
                files += int(metrics["number of written files"])
                written += _size_bytes(metrics.get("written output", ""))
                write_s += ex.get("duration", 0) / 1e3
        return {
            "jobs": len(self.jobs(description)),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 1e6,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"]
                                    for s in stages) / 1e6,
            "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "files_written": files,
            "written_mb": written / 1e6,
            "write_executions_s": write_s,
        }
