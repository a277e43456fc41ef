"""Spark counters read from outside the library.

Two sources on the driver UI: the status REST API (jobs, stages, SQL
executions with their metric strings) and the ``/metrics/json`` servlet
(codegen compilations, the app-status job counter).  Jobs are attributed
to benchmark ops by submission time: ops run one at a time, and the
library's own thread pools do not inherit job tags, so a time window is
the only attribution that sees every job an op launches.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import time
import urllib.request
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

_SECONDS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
            "min": 60.0, "h": 3600.0}
_BYTES = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "PiB": 1 << 50}
_VALUE = re.compile(r"\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# SQL metrics of Python nodes (MapInArrow, FlatMapGroupsInPandas,
# ArrowEvalPython, ...), keyed by the per-layer metric they feed.
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}


def parse_sql_metric(text: str) -> Tuple[float, str]:
    """Total of one Spark SQL-metric string, in base units.

    Accepts the plain form (``"1,234"``, ``"20.6 s"``, ``"3.4 KiB"``) and
    the per-task form whose second line leads with the total::

        total (min, med, max (stageId: taskId))
        20.6 s (1.0 s, 2.0 s, 3.0 s (stage 1.0: task 2))

    Returns ``(value, kind)`` with kind ``"seconds"``, ``"bytes"`` or
    ``"count"``.  Raises ``ValueError`` on anything else, so a format
    change in Spark fails loudly instead of reading as zero.
    """
    lines = text.strip().splitlines()
    if not lines:
        raise ValueError("empty SQL metric")
    body = lines[1] if lines[0].startswith("total (") and len(lines) > 1 \
        else lines[0]
    m = _VALUE.match(body)
    if m is None:
        raise ValueError(f"unparseable SQL metric: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number, "count"
    if unit in _SECONDS:
        return number * _SECONDS[unit], "seconds"
    if unit in _BYTES:
        return number * _BYTES[unit], "bytes"
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


def parse_time(stamp: Optional[str]) -> Optional[float]:
    """REST timestamp (``2026-10-17T02:36:04.687GMT``) -> epoch seconds."""
    if not stamp:
        return None
    stamp = stamp.replace("GMT", "+0000")
    return _dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def union_seconds(intervals: Iterable[Tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkStatus:
    """Reader for one application's REST API and metrics servlet."""

    def __init__(self, ui_url: str, app_id: str) -> None:
        self.base = ui_url.rstrip("/")
        self.api = f"{self.base}/api/v1/applications/{app_id}"

    def _get(self, url: str):
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def jobs(self) -> List[dict]:
        return self._get(f"{self.api}/jobs")

    def stages(self) -> List[dict]:
        return self._get(f"{self.api}/stages")

    def sql(self) -> List[dict]:
        return self._get(f"{self.api}/sql?details=true&planDescription=false"
                         "&offset=0&length=1000000")

    def _metric(self, section: str, suffix: str) -> int:
        metrics = self._get(f"{self.base}/metrics/json")[section]
        for key, val in metrics.items():
            if key.endswith(suffix):
                return int(val["count"])
        raise RuntimeError(f"metric *{suffix} missing from /metrics/json")

    def codegen_compilations(self) -> int:
        return self._metric("histograms", ".CodeGenerator.compilationTime")

    def succeeded_jobs_counter(self) -> int:
        return self._metric("counters", ".appStatus.jobs.succeededJobs")

    def snapshot(self, timeout_s: float = 60.0):
        """Jobs, stages and SQL executions once the listener has caught up.

        Refuses silent loss: the SUCCEEDED jobs visible over REST must
        equal the ``appStatus.jobs.succeededJobs`` counter.  A job evicted
        by UI retention, or a listener that never catches up, raises.
        """
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self.jobs()
            seen = sum(1 for j in jobs if j["status"] == "SUCCEEDED")
            running = any(j["status"] == "RUNNING" for j in jobs)
            counted = self.succeeded_jobs_counter()
            if seen == counted and not running:
                return jobs, self.stages(), self.sql()
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"Spark counters lost: {seen} succeeded jobs over REST, "
                    f"{counted} in appStatus.jobs.succeededJobs")
            time.sleep(0.2)


def per_op_counters(jobs: Sequence[dict], stages: Sequence[dict],
                    sql: Sequence[dict],
                    windows: Sequence[Tuple[float, float]],
                    cores: int) -> List[Dict[str, float]]:
    """Spark and Python-worker counters for each op window (epoch s)."""
    stage_by_id: Dict[int, List[dict]] = {}
    for s in stages:
        if s["status"] != "SKIPPED":
            stage_by_id.setdefault(s["stageId"], []).append(s)
    job_times = []
    for j in jobs:
        start = parse_time(j.get("submissionTime"))
        end = parse_time(j.get("completionTime")) or start
        job_times.append((start, end, j))
    sql_times = [(parse_time(e.get("submissionTime")), e) for e in sql]

    out = []
    for w_start, w_end in windows:
        op_jobs = [(s, e, j) for s, e, j in job_times
                   if s is not None and w_start <= s <= w_end]
        c = {"spark.jobs_per_op": float(len(op_jobs)),
             "spark.failed_tasks": 0.0}
        totals = dict.fromkeys(
            ("stages", "tasks", "run", "cpu", "gc", "shw", "shr", "spill"),
            0.0)
        for _, _, j in op_jobs:
            c["spark.failed_tasks"] += j.get("numFailedTasks", 0)
            for sid in j["stageIds"]:
                for s in stage_by_id.get(sid, ()):
                    totals["stages"] += 1
                    totals["tasks"] += s["numTasks"]
                    totals["run"] += s["executorRunTime"] / 1e3
                    totals["cpu"] += s["executorCpuTime"] / 1e9
                    totals["gc"] += s["jvmGcTime"] / 1e3
                    totals["shw"] += s["shuffleWriteBytes"] / 2**20
                    totals["shr"] += s["shuffleReadBytes"] / 2**20
                    totals["spill"] += (s["memoryBytesSpilled"]
                                        + s["diskBytesSpilled"]) / 2**20
        busy = union_seconds((max(s, w_start), min(e, w_end))
                             for s, e, _ in op_jobs)
        c.update({
            "spark.stages_per_op": totals["stages"],
            "spark.tasks_per_op": totals["tasks"],
            "spark.executor_run_s": totals["run"],
            "spark.executor_cpu_s": totals["cpu"],
            "spark.gc_s": totals["gc"],
            "spark.shuffle_write_mb": totals["shw"],
            "spark.shuffle_read_mb": totals["shr"],
            "spark.spill_mb": totals["spill"],
            "spark.job_busy_s": busy,
            "spark.driver_only_s": (w_end - w_start) - busy,
            "spark.core_util": (totals["run"] / (busy * cores)
                                if busy > 0 else 0.0),
        })
        for name in PYTHON_SQL_METRICS.values():
            c[name] = 0.0
        for t, e in sql_times:
            if t is None or not w_start <= t <= w_end:
                continue
            for node in e.get("nodes", ()):
                for m in node.get("metrics", ()):
                    name = PYTHON_SQL_METRICS.get(m["name"])
                    if name is None:
                        continue
                    value, kind = parse_sql_metric(m["value"])
                    c[name] += value / 2**20 if kind == "bytes" else value
        out.append(c)
    return out
