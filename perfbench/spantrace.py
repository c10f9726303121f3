"""Outside-in instrumentation for the traced run.

Nothing here reaches into the package: spans are recorded around the
benchmark's own calls into it, Spark-side numbers come from the status
tracker (job ids per job group) and the Spark UI's local ``/api/v1`` REST
endpoint (stage metrics, task-time quantiles, block-manager storage).
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    as JSONL once the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        index = len(self.spans)
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        record = {"name": name, "start": time.perf_counter() - self._t0,
                  "end": None, "parent": parent, "run_id": self.run_id,
                  **attrs}
        self.spans.append(record)
        self._stack.append(index)
        try:
            yield record
        finally:
            record["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkStats:
    """Stage metrics per job group, read from the status tracker and the
    driver's REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    @contextmanager
    def group(self, label: str):
        """Label every job started inside the block with ``label``."""
        self.sc.setJobGroup(label, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stages(self, label: str, wait_s: float = 10.0) -> list[dict]:
        """REST stage records of every job in the group, once the status
        store has caught up with their completion."""
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(label)
        stage_ids = sorted({s for j in job_ids
                            for s in (tracker.getJobInfo(j).stageIds
                                      if tracker.getJobInfo(j) else [])})
        deadline = time.monotonic() + wait_s
        while True:
            records = []
            for sid in stage_ids:
                try:
                    records.extend(self._get(f"/stages/{sid}"))
                except OSError:
                    pass
            settled = all(r["status"] in ("COMPLETE", "SKIPPED", "FAILED")
                          for r in records)
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        return [r for r in records if r["status"] == "COMPLETE"]

    def totals(self, label: str) -> dict:
        """Summed stage metrics of one job group."""
        stages = self.stages(label)
        total = {"jobs": len(self.sc.statusTracker().getJobIdsForGroup(label)),
                 "stages": len(stages)}
        for key in ("numTasks", "executorRunTime", "executorCpuTime",
                    "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes",
                    "memoryBytesSpilled", "diskBytesSpilled", "inputBytes"):
            total[key] = sum(s.get(key, 0) for s in stages)
        total["task_skew"] = self.task_skew(stages)
        return total

    def task_skew(self, stages: list[dict]) -> float:
        """max / median task run time of the busiest stage."""
        if not stages:
            return 0.0
        busiest = max(stages, key=lambda s: s.get("executorRunTime", 0))
        summary = self._get(f"/stages/{busiest['stageId']}/"
                            f"{busiest['attemptId']}/taskSummary"
                            "?quantiles=0.5,1.0")
        p50, top = summary["executorRunTime"]
        return top / p50 if p50 else 0.0

    def storage(self) -> tuple[float, int]:
        """(MB, cached partitions) the block manager still holds."""
        rdds = self._get("/storage/rdd")
        mb = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                 for r in rdds) / 1e6
        return mb, sum(r.get("numCachedPartitions", 0) for r in rdds)
