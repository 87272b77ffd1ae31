"""Spans recorded from the benchmark's own code, and Spark stage metrics
read from the driver's status REST API.

A span wraps one call into a public function of the program. It records
name, start, end, parent and pass id. A span opened with ``group=True``
also tags every Spark job started inside it with its own job group, so
the status API can attribute stages, tasks and bytes to that call.

Tracing is off in the runs that produce end-to-end numbers: there the
tracer records nothing and sets no job group.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from datetime import datetime


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
            "group": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group:
            rec["group"] = f"perfbench-span-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str, passes=None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (passes is None or s["pass"] in passes)]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: a span's duration minus the part
    of its interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


class StatusApi:
    """Client of the driver's status REST API (``sc.uiWebUrl``), reached
    over the loopback interface."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def group(self, group: str, timeout: float = 20.0) -> dict:
        """Stage metrics of every job in ``group``. The status store is
        fed by an asynchronous listener, so wait until the group's job
        list is finished and unchanged across two reads."""
        deadline = time.monotonic() + timeout
        prev = None
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            done = jobs and all(j["status"] != "RUNNING"
                                and j["numActiveStages"] == 0 for j in jobs)
            key = sorted(j["jobId"] for j in jobs)
            if done and key == prev:
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"status API: job group {group} not settled")
            prev = key if done else None
            time.sleep(0.1)
        ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for s in self._get("/stages")
                  if s["stageId"] in ids and s["status"] == "COMPLETE"]
        return {"jobs": jobs, "stages": stages}

    def task_quantiles(self, stage: dict, quantiles=(0.5, 1.0)) -> dict:
        q = ",".join(str(x) for x in quantiles)
        return self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                         f"/taskSummary?quantiles={q}")


def summarize(status: dict) -> dict:
    """Sums over the stages of one job group."""
    st = status["stages"]
    return {
        "jobs": len(status["jobs"]),
        "stages": len(st),
        "tasks": sum(s["numCompleteTasks"] for s in st),
        "executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
        "input_bytes": sum(s["inputBytes"] for s in st),
        "input_records": sum(s["inputRecords"] for s in st),
        "output_bytes": sum(s["outputBytes"] for s in st),
        "output_records": sum(s["outputRecords"] for s in st),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in st),
    }


def stage_wall_s(stage: dict) -> float:
    return _ts(stage["completionTime"]) - _ts(stage["submissionTime"])
