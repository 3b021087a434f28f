"""The event-log fold on a canned fragment of a Spark 4 event log.

    python3 -m pytest kgbench/tests -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from kgbench.eventlog import fold_lines, split_tag  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


def _job(job, start, desc, stages, exec_id=None):
    props = {"spark.job.description": desc} if desc else {}
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": start, "Stage IDs": stages,
            "Properties": props}


def _stage(stage, desc):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0},
            "Properties": {"spark.job.description": desc} if desc else {}}


def _task(stage, accs, run=500):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Task Info": {"Accumulables": [
                {"ID": i, "Name": n, "Update": str(u)} for i, n, u in accs]},
            "Task Metrics": {
                "Executor Run Time": run, "Executor CPU Time": 400_000_000,
                "JVM GC Time": 10, "Memory Bytes Spilled": 7,
                "Disk Bytes Spilled": 3,
                "Shuffle Read Metrics": {"Remote Bytes Read": 20,
                                         "Local Bytes Read": 30,
                                         "Fetch Wait Time": 5},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                "Output Metrics": {"Bytes Written": 1000,
                                   "Records Written": 10}}}


PY = [(1, "time to run Python workers", 400),
      (2, "data sent to Python workers", 2000),
      (3, "data returned from Python workers", 3000)]

PLAN = {"nodeName": "WriteFiles", "metrics": [
    {"name": "number of written files", "accumulatorId": 104}],
    "children": [{"nodeName": "MapInPandas", "metrics": [
        {"name": "number of output rows", "accumulatorId": 101}],
        "children": [{"nodeName": "Scan parquet", "metrics": [
            {"name": "number of files read", "accumulatorId": 102},
            {"name": "number of output rows", "accumulatorId": 103}]}]}]}

EVENTS = [
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
     "description": "t0|extract.documents_table", "sparkPlanInfo": PLAN},
    _job(0, 1000, "t0|extract.documents_table", [0], exec_id=0),
    _stage(0, "t0|extract.documents_table"),
    _task(0, PY + [(101, "number of output rows", 250),
                   (103, "number of output rows", 250)]),
    _task(0, PY + [(101, "number of output rows", 250)]),
    {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
     "accumUpdates": [[102, 12], [104, 893]]},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    # a pass that fills a persisted DataFrame: its row counts are in no
    # plan; the smallest is the UDF's (the other is an explode)
    _job(1, 2500, "t0|lake.merge_triples", [1]),
    _stage(1, "t0|lake.merge_triples"),
    _task(1, PY + [(201, "number of output rows", 6000),
                   (202, "number of output rows", 250)]),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
    # a sub-op of t0 (one query of a round) and an untagged job
    _job(2, 5000, "t0/q1|relate.deps_table>components.canonical_mapping",
         [2]),
    _stage(2, "t0/q1|relate.deps_table>components.canonical_mapping"),
    _task(2, [], run=50),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5500},
    _job(3, 6000, None, [3]),
    _stage(3, None),
    _task(3, PY),
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 7000},
]


def _fold():
    return fold_lines(json.dumps(e) for e in EVENTS)


def test_split_tag():
    assert split_tag("t0|lake.merge_triples") == ("t0", "lake.merge_triples")
    assert split_tag("a|b|c") == ("a", "b|c")
    assert split_tag(None) == (None, "")
    assert split_tag("collect at x.py:3") == (None, "")


def test_task_metrics_sum_per_op_and_skip_untagged_jobs():
    c = _fold().layer("t0")
    assert c["jobs"] == 3 and c["tasks"] == 4
    assert c["task_ms"] == 3 * 500 + 50
    assert c["cpu_ns"] == 4 * 400_000_000
    assert c["gc_ms"] == 40 and c["spill_bytes"] == 40
    assert c["shuffle_read_bytes"] == 200 and c["fetch_wait_ms"] == 20
    assert c["shuffle_write_bytes"] == 400
    assert c["bytes_written"] == 4000 and c["records_written"] == 40


def test_python_passes_rows_and_bytes():
    fold = _fold()
    assert fold.python_passes("t0") == 2          # stages 0 and 1
    c = fold.layer("t0")
    assert c["python_ms"] == 3 * 400
    assert c["bytes_to_python"] == 6000 and c["bytes_from_python"] == 9000
    assert c["python_rows"] == 250 + 250 + 250


def test_tags_prefixes_and_sub_ops():
    fold = _fold()
    assert fold.layer("t0", "lake.")["jobs"] == 1
    assert fold.layer("t0", "extract.")["tasks"] == 2
    assert fold.layer("t0", "relate.deps_table")["task_ms"] == 50
    assert fold.layer("t0/q1")["jobs"] == 1
    assert fold.layer("t1")["jobs"] == 0


def test_driver_side_sql_metrics():
    c = _fold().layer("t0", "extract.")
    assert c["files_read"] == 12 and c["scans"] == 1
    assert c["files_written"] == 893


def test_busy_time_is_the_union_of_job_intervals():
    # [1000, 3000] ∪ [2500, 4000] ∪ [5000, 5500]
    assert _fold().busy_ms("t0") == 3000 + 500
