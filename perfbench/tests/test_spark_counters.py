"""Unit tests for the benchmark's Spark-counter parsing and attribution.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_counters import (parse_sql_metric, parse_time,  # noqa: E402
                            per_op_counters, union_seconds)

HEADER = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize("text, value, kind", [
    (HEADER + "20.6 s (1.0 s, 2.0 s, 3.0 s (stage 1.0: task 2))",
     20.6, "seconds"),
    (HEADER + "871 ms (164 ms, 231 ms, 246 ms (stage 4.0: task 7))",
     0.871, "seconds"),
    (HEADER + "1.5 min (10.0 s, 20.0 s, 30.0 s (stage 2.0: task 9))",
     90.0, "seconds"),
    (HEADER + "2.0 m (10.0 s, 20.0 s, 30.0 s (stage 2.0: task 9))",
     120.0, "seconds"),
    ("0 ms", 0.0, "seconds"),
    (HEADER + "289.0 KiB (144.0 KiB, 145.0 KiB, 145.0 KiB (stage 0.0: task 1))",
     289.0 * 1024, "bytes"),
    (HEADER + "6.8 MiB (3.4 MiB, 3.4 MiB, 3.4 MiB (stage 0.0: task 1))",
     6.8 * 2**20, "bytes"),
    (HEADER + "1.2 GiB (0.6 GiB, 0.6 GiB, 0.6 GiB (stage 0.0: task 1))",
     1.2 * 2**30, "bytes"),
    ("888.0 B", 888.0, "bytes"),
    ("1,234,567", 1234567.0, "count"),
    ("8", 8.0, "count"),
])
def test_parse_sql_metric(text, value, kind):
    got, got_kind = parse_sql_metric(text)
    assert got_kind == kind
    assert got == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "12 parsecs",
                                  HEADER + "lots (of, things)"])
def test_parse_sql_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_sql_metric(text)


def test_parse_time_is_utc_epoch():
    assert parse_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)
    assert parse_time(None) is None


def test_union_seconds_merges_overlaps():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_seconds([]) == 0.0


def _stage(sid, status="COMPLETE", run_ms=1000, tasks=4):
    return {"stageId": sid, "status": status, "numTasks": tasks,
            "executorRunTime": run_ms, "executorCpuTime": run_ms * 10**6 // 2,
            "jvmGcTime": 10, "shuffleWriteBytes": 2**20,
            "shuffleReadBytes": 2**19, "memoryBytesSpilled": 0,
            "diskBytesSpilled": 0}


def _job(jid, start, end, stages, failed=0):
    return {"jobId": jid, "status": "SUCCEEDED", "stageIds": stages,
            "numFailedTasks": failed,
            "submissionTime": f"1970-01-01T00:00:{start:06.3f}GMT",
            "completionTime": f"1970-01-01T00:00:{end:06.3f}GMT"}


def test_per_op_counters_attributes_by_submission_window():
    jobs = [_job(0, 1.0, 2.0, [0, 1]), _job(1, 1.5, 3.0, [2]),
            _job(2, 11.0, 12.0, [3], failed=1)]
    stages = [_stage(0), _stage(1, status="SKIPPED"), _stage(2), _stage(3)]
    sql = [{"submissionTime": "1970-01-01T00:00:01.000GMT", "nodes": [
        {"nodeName": "MapInArrow", "metrics": [
            {"name": "time to run Python workers",
             "value": HEADER + "4.3 s (2.0 s, 2.3 s, 2.3 s (stage 0.0: task 0))"},
            {"name": "data sent to Python workers",
             "value": HEADER + "2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 0.0: task 1))"},
            {"name": "number of output rows", "value": "8"}]}]}]
    first, second = per_op_counters(jobs, stages, sql,
                                    [(0.5, 4.0), (10.0, 14.0)], cores=2)
    assert first["spark.jobs_per_op"] == 2
    assert first["spark.stages_per_op"] == 2  # the skipped stage is not run
    assert first["spark.tasks_per_op"] == 8
    assert first["spark.executor_run_s"] == pytest.approx(2.0)
    assert first["spark.executor_cpu_s"] == pytest.approx(1.0)
    assert first["spark.job_busy_s"] == pytest.approx(2.0)
    assert first["spark.driver_only_s"] == pytest.approx(1.5)
    assert first["spark.core_util"] == pytest.approx(0.5)
    assert first["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert first["python.run_s"] == pytest.approx(4.3)
    assert first["python.sent_mb"] == pytest.approx(2.0)
    assert first["spark.failed_tasks"] == 0
    assert second["spark.jobs_per_op"] == 1
    assert second["spark.failed_tasks"] == 1
    assert second["python.run_s"] == 0.0
