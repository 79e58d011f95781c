"""Spans, Spark job-group metrics and process-tree RSS, all taken from
outside the program: spans wrap calls into the package's public functions,
and Spark's own numbers come from the local UI's REST API.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# --- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent id and trace id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "trace": trace, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    covered: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            covered.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(covered.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


# --- process-tree RSS ----------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Background thread recording the peak RSS of this process tree."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --- Spark REST API ------------------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_SQL_METRIC = re.compile(r"(-?[0-9.]+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")
_PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "start_s",
    "data sent to Python workers": "bytes",
    "data returned from Python workers": "bytes",
}


def parse_sql_metric(value: str) -> float:
    """Total of one SQL UI metric string ("1.2 s", "total (...)\\n3.5 m (...)")
    in seconds or bytes."""
    line = value.split("\n", 1)[1] if "\n" in value else value
    m = _SQL_METRIC.search(line)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Jobs, stages and SQL executions of one application, keyed by job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read().decode())

    def snapshot(self) -> dict:
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        sql = self._get("/sql?details=true&planDescription=false&length=100000")
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def task_skew(self, stage: dict) -> float:
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return mx / max(med, 1.0)


def group_metrics(rest: SparkRest, snap: dict, groups: set[str],
                  interval: tuple[float, float], build_spans: list[tuple[float, float]]) -> dict:
    """Per-layer Spark numbers for the jobs whose group is in ``groups``."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") in groups]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in snap["stages"]
              if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")]
    lo, hi = interval
    job_iv = [(_epoch(j["submissionTime"]), _epoch(j.get("completionTime")) or hi) for j in jobs]
    sizing = [iv for iv in job_iv
              if any(a <= iv[0] <= b for a, b in build_spans)]
    py = {"run_s": 0.0, "start_s": 0.0, "bytes": 0.0}
    for ex in snap["sql"]:
        ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ids & job_ids:
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if (key := _PYTHON_METRICS.get(m["name"])) is not None:
                    py[key] += parse_sql_metric(m["value"])
    slowest = max(stages, key=lambda s: s["executorRunTime"], default=None)
    return {
        "session.jobs": len(jobs),
        "session.stages": len(stages),
        "session.tasks": sum(s["numCompleteTasks"] for s in stages),
        "session.no_job_s": (hi - lo) - union_length(job_iv, lo, hi),
        "session.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "session.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "session.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "session.task_skew": rest.task_skew(slowest) if slowest else 1.0,
        "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "shuffle.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        "shuffle.write_s": sum(s["shuffleWriteTime"] for s in stages) / 1e9,
        "shuffle.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "plan.sizing_jobs": len(sizing),
        "plan.sizing_s": union_length(sizing, lo, hi),
        "functions.python_run_s": py["run_s"],
        "functions.python_start_s": py["start_s"],
        "functions.python_bytes": py["bytes"],
    }
