"""Spark's own stage and SQL metrics, read from its monitoring REST API.

Each timed pass runs under its own job group, so its jobs, stages and
SQL executions can be picked out of the application's history after
the pass ends.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import urllib.request

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def metric_total(value: str) -> float:
    """First quantity of a SQL metric string: "14.7 s (426 ms, ...)",
    "total (min, med, max ...)\\n8.3 MiB (...)" or "3,667" -> base units
    (seconds, bytes or a count)."""
    body = value.split("\n")[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", body)
    if m is None:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2), 1.0)


def _ts(s: str) -> float:
    return _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=_dt.timezone.utc
    ).timestamp()


class SparkRest:
    def __init__(self, sc):
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def group(self, job_group: str) -> dict:
        """Jobs, stages (with task-time quantiles) and SQL executions of
        one job group."""
        jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == job_group]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = []
        for st in self.get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] != "COMPLETE":
                continue
            q = self.get(
                f"/stages/{st['stageId']}/{st['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0"
            )
            st["task_run_ms_p50"], st["task_run_ms_max"] = q["executorRunTime"]
            st["t0"], st["t1"] = _ts(st["submissionTime"]), _ts(st["completionTime"])
            stages.append(st)
        job_ids = {j["jobId"] for j in jobs}
        sql = [
            e
            for e in self.get("/sql?details=true&planDescription=false&length=100000")
            if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))
        ]
        return {"jobs": jobs, "stages": stages, "sql": sql}


def node_metrics(sql: list[dict], node_name: str) -> dict[str, float]:
    """Summed metrics of every plan node called ``node_name``."""
    out: dict[str, float] = {}
    for e in sql:
        for n in e["nodes"]:
            if n["nodeName"] == node_name:
                for m in n["metrics"]:
                    out[m["name"]] = out.get(m["name"], 0.0) + metric_total(m["value"])
    return out


def stage_busy_s(stages: list[dict]) -> float:
    """Length of the union of the stages' [submission, completion]
    intervals: the part of the pass during which some stage ran."""
    spans = sorted((s["t0"], s["t1"]) for s in stages)
    busy, end = 0.0, float("-inf")
    for t0, t1 in spans:
        if t1 > end:
            busy += t1 - max(t0, end)
            end = t1
    return busy


def stage_totals(stages: list[dict]) -> dict[str, float]:
    return {
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
        "spill_mb": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in stages) / 2**20,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
    }


def task_skew(stage: dict) -> float:
    p50 = stage["task_run_ms_p50"]
    return stage["task_run_ms_max"] / p50 if p50 > 0 else 1.0
