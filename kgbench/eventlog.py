"""Fold a Spark event log (uncompressed JSON lines) into per-op, per-layer
counters, with the standard library only.

Jobs are tagged by the benchmark with ``setJobDescription("<op>|<tag>")``
(see :mod:`kgbench.trace`). Spark copies the description onto every stage
it submits and onto the SQL execution it starts, so task metrics, Python
runner accumulables and driver-side SQL metrics can all be attributed to
the tag that was current when the work was triggered.
"""

from __future__ import annotations

import collections
import json

# Python runner accumulables (PythonSQLMetrics), summed per task
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
# driver-side SQL metrics (SparkListenerDriverAccumUpdates)
FILES_READ = "number of files read"
FILES_WRITTEN = "number of written files"
# plan nodes whose output rows are the docs fed to the extraction UDF
PY_MAP_NODES = ("MapInPandas", "PythonMapInArrow")

_SQL = "org.apache.spark.sql.execution.ui."


def split_tag(description: str | None) -> tuple[str | None, str]:
    """'<op>|<tag>' → (op, tag); anything else belongs to no op."""
    if not description or "|" not in description:
        return None, ""
    op, tag = description.split("|", 1)
    return op, tag


class Fold:
    """Per (op, tag) counters plus per-op job intervals."""

    def __init__(self) -> None:
        self.by_tag: dict[tuple[str, str], collections.Counter] = \
            collections.defaultdict(collections.Counter)
        self.job_intervals: dict[str, list[tuple[int, int]]] = \
            collections.defaultdict(list)
        self.python_stages: dict[str, set[tuple[int, int]]] = \
            collections.defaultdict(set)

    def layer(self, op: str, prefix: str = "") -> collections.Counter:
        """Sum of the counters of every tag of ``op`` (and of its sub-ops
        ``op/...``) starting with ``prefix`` ('' = the whole op)."""
        total = collections.Counter()
        for (o, tag), c in self.by_tag.items():
            if _in_op(o, op) and tag.startswith(prefix):
                total.update(c)
        return total

    def python_passes(self, op: str) -> int:
        """Stage attempts of ``op`` that ran Python workers."""
        return sum(len(s) for o, s in self.python_stages.items()
                   if _in_op(o, op))

    def busy_ms(self, op: str) -> int:
        """Length of the union of the job intervals of ``op``."""
        busy, end = 0, None
        intervals = [iv for o, ivs in self.job_intervals.items()
                     if _in_op(o, op) for iv in ivs]
        for s, e in sorted(intervals):
            if end is None or s > end:
                busy += e - s
                end = e
            elif e > end:
                busy += e - end
                end = e
        return busy


def _in_op(o: str, op: str) -> bool:
    return o == op or o.startswith(op + "/")


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def fold_lines(lines) -> Fold:
    fold = Fold()
    stage_desc: dict[int, str | None] = {}
    exec_desc: dict[int, str | None] = {}
    job_start: dict[int, tuple[int, str | None]] = {}
    acc_names: dict[int, tuple[str, str]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            job_start[ev["Job ID"]] = (
                ev["Submission Time"],
                ev.get("Properties", {}).get("spark.job.description"))
        elif kind == "SparkListenerJobEnd":
            start, desc = job_start.pop(ev["Job ID"], (None, None))
            op, tag = split_tag(desc)
            if op is None or start is None:
                continue
            fold.job_intervals[op].append((start, ev["Completion Time"]))
            c = fold.by_tag[(op, tag)]
            c["jobs"] += 1
            c["job_ms"] += ev["Completion Time"] - start
        elif kind == "SparkListenerStageSubmitted":
            stage_desc[ev["Stage Info"]["Stage ID"]] = \
                ev.get("Properties", {}).get("spark.job.description")
        elif kind == "SparkListenerTaskEnd":
            op, tag = split_tag(stage_desc.get(ev["Stage ID"]))
            if op is None:
                continue
            if _add_task(fold.by_tag[(op, tag)], ev, acc_names):
                fold.python_stages[op].add(
                    (ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            if "description" in ev:
                exec_desc[ev["executionId"]] = ev["description"]
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            op, tag = split_tag(exec_desc.get(ev["executionId"]))
            if op is None:
                continue
            c = fold.by_tag[(op, tag)]
            for acc_id, value in ev["accumUpdates"]:
                name = acc_names.get(acc_id, ("", ""))[1]
                if name == FILES_READ:
                    c["files_read"] += value
                    c["scans"] += 1
                elif name == FILES_WRITTEN:
                    c["files_written"] += value
    return fold


def _add_task(c: collections.Counter, ev: dict,
              acc_names: dict[int, tuple[str, str]]) -> bool:
    """Add one task's metrics to ``c``; True if it ran Python workers."""
    m = ev.get("Task Metrics") or {}
    c["tasks"] += 1
    c["task_ms"] += m.get("Executor Run Time", 0)
    c["cpu_ns"] += m.get("Executor CPU Time", 0)
    c["gc_ms"] += m.get("JVM GC Time", 0)
    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))
    rd = m.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                + rd.get("Local Bytes Read", 0))
    c["fetch_wait_ms"] += rd.get("Fetch Wait Time", 0)
    c["shuffle_write_bytes"] += \
        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    out = m.get("Output Metrics", {})
    c["bytes_written"] += out.get("Bytes Written", 0)
    c["records_written"] += out.get("Records Written", 0)
    python = False
    udf_rows, unplaced_rows = None, []
    for acc in ev.get("Task Info", {}).get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update")
        if update is None:
            continue
        if name == PY_RUN:
            c["python_ms"] += int(update)
            python = True
        elif name == PY_SENT:
            c["bytes_to_python"] += int(update)
        elif name == PY_RETURNED:
            c["bytes_from_python"] += int(update)
        elif name == "number of output rows":
            node = acc_names.get(acc.get("ID"), ("", ""))[0]
            if node in PY_MAP_NODES:
                udf_rows = int(update)
            elif not node:
                unplaced_rows.append(int(update))
    if python:
        # A cached plan's nodes are not in any execution's plan info, so
        # a UDF pass that fills a persisted DataFrame reports unplaced row
        # counts. The map UDF emits one row per doc and the other row
        # counts of that stage are explodes and filters over its output,
        # so the smallest one is the UDF's.
        if udf_rows is None and unplaced_rows:
            udf_rows = min(unplaced_rows)
        c["python_rows"] += udf_rows or 0
    return python


def fold_file(path: str) -> Fold:
    with open(path, encoding="utf-8") as f:
        return fold_lines(f)
