"""Unit tests for the event-log reducer and the checks' xxhash64, on a tiny
synthetic event log. Run: python -m pytest perfbench/test_ledger.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import ledger  # noqa: E402
import trace_metrics  # noqa: E402

LABEL = "extract_job:run_extraction_job"
SQL = "org.apache.spark.sql.execution.ui."


def _job_start(jid, t, desc, eid, stages):
    props = {"spark.sql.execution.id": str(eid)}
    if desc is not None:
        props["spark.job.description"] = desc
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t, "Stage IDs": stages, "Properties": props}


def _job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


def _task(sid, tid, run_ms, acc):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Task ID": tid, "Failed": False, "Killed": False,
                          "Accumulables": [{"Name": k, "Update": v}
                                           for k, v in acc.items()]},
            "Task Metrics": {"Executor Run Time": run_ms}}


def _events():
    py = {"time to start Python workers": 5,
          "time to initialize Python workers": 100,
          "time to run Python workers": 400,
          "data sent to Python workers": 1000,
          "data returned from Python workers": 3000}
    return [
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 1,
         "description": LABEL, "physicalPlanDescription": "Scan manifest"},
        _job_start(0, 1000, LABEL, 1, [0]),
        _job_end(0, 1200),
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 2,
         "description": LABEL,
         "physicalPlanDescription":
             "Execute InsertIntoHadoopFsRelationCommand file:/w/chunks"},
        # broadcast exchange jobs run under their own description
        _job_start(1, 1300, "broadcast exchange (runId 7)", 2, [1]),
        _job_end(1, 1500),
        _job_start(2, 1400, LABEL, 2, [2, 3]),
        _task(2, 10, 100, {"internal.metrics.shuffle.write.bytesWritten": 2e6,
                           "internal.metrics.shuffle.write.writeTime": 5e8,
                           "internal.metrics.input.bytesRead": 4e6,
                           "scan time": 30}),
        _task(3, 11, 100, py),
        _task(3, 12, 200, py),
        _task(3, 13, 600, py),
        _job_end(2, 3000),
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 3,
         "description": LABEL,
         "physicalPlanDescription":
             "Execute InsertIntoHadoopFsRelationCommand file:/w/manifest"},
        _job_start(3, 3100, LABEL, 3, [4]),
        _job_end(3, 3400),
        # a job outside every span label is ignored
        _job_start(4, 5000, "other", 9, [5]),
        _task(5, 20, 50, py),
        _job_end(4, 5100),
    ]


def _reduce(tmp_path):
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("".join(json.dumps(e) + "\n" for e in _events()))
    (log.parent / "appstatus_app").write_text("")
    files = ledger.event_log_files(str(tmp_path))
    assert files == [str(log)]
    spans = [{"label": LABEL, "start_ms": 900.0, "end_ms": 3600.0}]
    return ledger.reduce_event_log(files, spans)[LABEL]


def test_jobs_busy_and_idle(tmp_path):
    rec = _reduce(tmp_path)
    assert rec["jobs"] == 4  # the broadcast job counts through its execution
    # union of [1000,1200] [1300,1500] [1400,3000] [3100,3400]
    assert rec["busy_ms"] == 200 + 1700 + 300
    assert rec["wall_ms"] == 2700
    assert rec["idle_ms"] == 2700 - 2200


def test_task_metrics_and_skew(tmp_path):
    rec = _reduce(tmp_path)
    assert rec["py_tasks"] == 3
    assert rec["py_init_ms"] == 300 and rec["py_run_ms"] == 1200
    assert rec["py_start_ms"] == 15
    assert rec["arrow_in_bytes"] == 3000 and rec["arrow_out_bytes"] == 9000
    assert rec["shuffle_bytes"] == 2e6 and rec["shuffle_write_ns"] == 5e8
    assert rec["input_bytes"] == 4e6 and rec["scan_ms"] == 30
    assert rec["skew"] == 600 / 200


def test_manifest_phases(tmp_path):
    rec = _reduce(tmp_path)
    ids = [e["id"] for e in rec["executions"]]
    assert ids == [1, 2, 3]
    write = rec["executions"][1]
    assert write["broadcast_ms"] == 200 and write["busy_ms"] == 1700
    resume, wr, build = trace_metrics._manifest_phases(rec["executions"])
    assert (resume, wr, build) == (200 + 200, 1700, 300)


def test_per_layer_names_all_present(tmp_path):
    rec = _reduce(tmp_path)
    m = trace_metrics.per_layer("extract_job", {LABEL: rec}, 1, 9.5, 120.0,
                                None, 2.7, 30.0, 1.5)
    assert [n for n, _u in trace_metrics.names()] == list(m)
    assert m["extract.py_init_s"]["value"] == 0.3
    assert m["manifest.write_s"]["value"] == 1.7
    assert m["driver.jobs"]["value"] == 4
    assert m["jvm.gc_s"]["value"] == 0.12
    assert m["wall.setup_s"]["value"] == 30.0
    assert m["sink.out_mb"]["value"] == 1.5


def test_tree_cpu_counts_this_process():
    t0 = ledger.tree_cpu_s()
    sum(i * i for i in range(2_000_000))
    assert ledger.tree_cpu_s() - t0 > 0.01


def test_xxhash64_reference_vectors():
    # XXH64 reference values (seed 0) and Spark's xxhash64('a') (seed 42)
    assert checks.xxhash64(b"", 0) == -1205034819632174695
    assert checks.xxhash64(b"a", 0) == -3292477735350538661
    assert checks.xxhash64(b"a") == -8582455328737087284
