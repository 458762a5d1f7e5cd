"""Per-op Spark metrics from the running application's UI REST API.

Each traced op instance runs under its own job group
(``SparkContext.setJobGroup``).  After a round, :meth:`Tracer.collect`
asks the status tracker for each group's job ids and reads the jobs,
their stages and the SQL executions that ran them from
``http://127.0.0.1:<ui port>/api/v1``.  Nothing in the library changes;
the UI is on by default.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime

MB = 1024.0 * 1024.0
_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
# SQL-node metric name -> per-layer field (seconds or bytes)
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_sent_b",
}
_VALUE = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)")


def _epoch(ts: str) -> float:
    # "2026-10-17T02:31:07.124GMT"
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def metric_value(text: str) -> float:
    """Total of a SQL metric as Spark renders it ("63 ms", "32.2 KiB",
    or "total (min, med, max ...)\\n1.2 s (...)"), in seconds or bytes.
    Any other rendering raises, so a format change never reads as 0."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unrecognised SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark, timeout_s: float = 30.0):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.timeout_s = timeout_s
        self.sql_seen = len(self._get("/sql?details=false&offset=0&length=100000"))

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=self.timeout_s) as r:
            return json.load(r)

    def tag(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def _settled(self, path: str, done) -> dict | list:
        # the REST view follows the listener bus, which trails the action
        deadline = time.monotonic() + self.timeout_s
        while True:
            doc = self._get(path)
            if done(doc):
                return doc
            if time.monotonic() > deadline:
                raise TimeoutError(f"{path} still running after {self.timeout_s} s")
            time.sleep(0.02)

    def collect(self, instances: list[dict], cores: int) -> list[dict]:
        """Per-instance layer numbers for ``instances`` (each with keys
        ``group``, ``action_t0`` and ``action_t1`` in epoch seconds)."""
        sql = self._settled(
            f"/sql?details=true&planDescription=false&offset={self.sql_seen}&length=100000",
            lambda d: all(e.get("status") != "RUNNING" for e in d),
        )
        self.sql_seen += len(sql)
        by_job: dict[int, dict] = {}
        for e in sql:
            for j in e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", []):
                by_job[j] = e
        out = []
        for inst in instances:
            jobs = [
                self._settled(f"/jobs/{j}", lambda d: d.get("status") != "RUNNING")
                for j in sorted(self.sc.statusTracker().getJobIdsForGroup(inst["group"]))
            ]
            rec = {
                "jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                "deserialize_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0.0, "shuffle_read_b": 0.0,
                "fetch_wait_s": 0.0, "input_b": 0.0, "spill_b": 0.0,
                **{v: 0.0 for v in PYTHON_METRICS.values()},
            }
            intervals = []
            for job in jobs:
                for sid in job["stageIds"]:
                    for att in self._settled(
                        f"/stages/{sid}?details=false",
                        lambda d: all(a["status"] not in ("ACTIVE", "PENDING") for a in d),
                    ):
                        if att["status"] == "SKIPPED":
                            continue
                        rec["stages"] += 1
                        rec["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                        rec["run_s"] += att["executorRunTime"] / 1e3
                        rec["cpu_s"] += att["executorCpuTime"] / 1e9
                        rec["deserialize_s"] += att["executorDeserializeTime"] / 1e3
                        rec["gc_s"] += att["jvmGcTime"] / 1e3
                        rec["shuffle_write_b"] += att["shuffleWriteBytes"]
                        rec["shuffle_read_b"] += att["shuffleReadBytes"]
                        rec["fetch_wait_s"] += att["shuffleFetchWaitTime"] / 1e3
                        rec["input_b"] += att["inputBytes"]
                        rec["spill_b"] += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
                        if "submissionTime" in att and "completionTime" in att:
                            intervals.append((_epoch(att["submissionTime"]), _epoch(att["completionTime"])))
            execs = {id(by_job[j["jobId"]]): by_job[j["jobId"]] for j in jobs if j["jobId"] in by_job}
            for e in execs.values():
                for node in e.get("nodes", []):
                    for m in node.get("metrics", []):
                        key = PYTHON_METRICS.get(m["name"])
                        if key:
                            rec[key] += metric_value(m["value"])
            t0, t1 = inst["action_t0"], inst["action_t1"]
            wall = max(t1 - t0, 1e-9)
            clipped = [(max(a, t0), min(b, t1)) for a, b in intervals if min(b, t1) > max(a, t0)]
            rec["idle_s"] = max(wall - _union_length(clipped), 0.0)
            rec["slot_s"] = wall * cores
            starts = [_epoch(e["submissionTime"]) for e in execs.values() if "submissionTime" in e]
            job_starts = [_epoch(j["submissionTime"]) for j in jobs if "submissionTime" in j]
            rec["plan_s"] = max(min(job_starts) - min(starts), 0.0) if starts and job_starts else None
            out.append(rec)
        return out

    def persisted_mb(self) -> float:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("/storage/rdd")) / MB
