"""Spans around layer calls, and each span's Spark metrics.

A span runs its body under its own Spark job group. After the run, the
metrics of every span are read from the Spark REST API: task metrics
summed over the stages of the span's jobs, the longest task, and the bytes
that the span's SQL plans sent to and received from Python workers.
Spans stay in memory until ``write`` at the end of the run.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

GENERIC = (
    "wall_s", "task_s", "cpu_s", "gc_s", "shuffle_mb", "fetch_wait_s",
    "spill_mb", "max_task_s", "py_mb", "failed_tasks",
)
_MB = 1 << 20
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _size_bytes(text: str) -> float:
    """Total of a SQL size metric: its only value, or the first value after
    the ``total (min, med, max ...)`` header line."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _SIZE.search(line)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self, run_id: str):
        self.sc = None
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _new(self, name: str) -> dict:
        rec = {
            "name": name, "id": f"{self.run_id}/{len(self.spans)}:{name}",
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        return rec

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed elsewhere (e.g. before the session existed)."""
        self._new(name).update(start=start, end=end)

    @contextmanager
    def span(self, name: str):
        """Time the body under a fresh job group; yields the span record,
        which the body may annotate with counts."""
        rec = self._new(name)
        sid = rec["id"]
        self._stack.append(sid)
        self.sc.setJobGroup(sid, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def collect_metrics(self) -> None:
        """Attach Spark metrics to every span (a span's own jobs only, not
        its children's)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

        def get(path: str):
            with urllib.request.urlopen(base + path, timeout=30) as r:
                return json.loads(r.read())

        jobs = get("/jobs")
        stages = {(s["stageId"], s["attemptId"]): s for s in get("/stages")}
        sql = get("/sql?details=true&planDescription=false&length=100000")
        for rec in self.spans:
            mine = [j for j in jobs if j.get("jobGroup") == rec["id"]]
            job_ids = {j["jobId"] for j in mine}
            stage_ids = {sid for j in mine for sid in j["stageIds"]}
            ran = [
                s for k, s in stages.items()
                if k[0] in stage_ids and s["numTasks"] and s["status"] != "SKIPPED"
            ]
            m = {
                "wall_s": rec["end"] - rec["start"],
                "jobs": len(mine),
                "task_s": sum(s["executorRunTime"] for s in ran) / 1e3,
                "cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
                "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
                "shuffle_mb": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in ran) / _MB,
                "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in ran) / 1e3,
                "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran) / _MB,
                "failed_tasks": sum(s["numFailedTasks"] for s in ran),
                "max_task_s": 0.0,
                "py_mb": 0.0,
            }
            for s in ran:
                q = get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0")
                m["max_task_s"] = max(m["max_task_s"], q["executorRunTime"][0] / 1e3)
            for e in sql:
                if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                    for n in e["nodes"]:
                        for mt in n.get("metrics", []):
                            if mt["name"] in _PY_METRICS:
                                m["py_mb"] += _size_bytes(mt["value"]) / _MB
            rec["metrics"] = m

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "a") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
