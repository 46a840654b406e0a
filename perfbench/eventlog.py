"""Spark execution and Python-kernel metrics from Spark's own event log.

The traced runs start Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``; Spark 4.1 writes a rolling directory
(``eventlog_v2_<app>/events_<n>_<app>``) of JSON lines, which this module
reads with the standard library after the application has stopped.

Python kernels are the ``*InPandas`` / ``*InArrow`` / ``*EvalPython``
exec nodes; their SQL metrics (data sent to and returned from Python
workers, output rows) are summed from the task-end accumulator updates,
and a kernel's input rows are the output rows of the nearest descendant
node that counts them.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

_PY_NODE = re.compile(r"(InPandas|InArrow|EvalPython|ArrowEvalPython|"
                      r"Python)")
_MB = 1024 * 1024


def _events(log_dir: str):
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files += [f for f in glob.glob(os.path.join(log_dir, "*"))
              if os.path.isfile(f) and not f.endswith(".crc")]

    def order(path: str):
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)
    for path in sorted(files, key=order):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _metric_ids(node: dict, py: dict, rows_in: dict) -> int | None:
    """Walk a plan-info tree; record each Python node's metric
    accumulator ids and the accumulator counting its input rows.
    Returns the 'number of output rows' accumulator of ``node`` or of its
    nearest descendant that has one."""
    child_rows = [_metric_ids(c, py, rows_in) for c in node["children"]]
    own = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if _PY_NODE.search(node["nodeName"]) and own:
        for name, acc in own.items():
            py[acc] = name
        first = next((r for r in child_rows if r is not None), None)
        if first is not None:
            rows_in[first] = True
    if "number of output rows" in own:
        return own["number of output rows"]
    return next((r for r in child_rows if r is not None), None)


def parse(log_dir: str, cores: int) -> dict:
    """Totals over every job in the log, plus per-job-group job, task and
    executor-time counts."""
    job_group: dict[int, str] = {}
    job_span: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    py_acc: dict[int, str] = {}
    rows_in_acc: dict[int, bool] = {}
    stages = 0
    tot = defaultdict(float)
    py_tot = defaultdict(float)
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    py_stage_run_ms = 0.0
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id") or "(none)"
            job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
            groups[job_group[jid]]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages += 1
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _metric_ids(ev["sparkPlanInfo"], py_acc, rows_in_acc)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            dur = info["Finish Time"] - info["Launch Time"]
            delay = max(0, dur - run_ms - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0))
            tot["tasks"] += 1
            tot["run_ms"] += run_ms
            tot["cpu_ns"] += m.get("Executor CPU Time", 0)
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["delay_ms"] += delay
            tot["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
            tot["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            tot["spill"] += (m.get("Disk Bytes Spilled", 0)
                             + m.get("Memory Bytes Spilled", 0))
            tot["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            group = job_group.get(stage_job.get(ev["Stage ID"], -1),
                                  "(none)")
            groups[group]["tasks"] += 1
            groups[group]["executor_run_s"] += run_ms / 1000.0
            is_py = False
            for acc in info.get("Accumulables", []):
                aid = acc.get("ID")
                if aid not in py_acc and aid not in rows_in_acc:
                    continue
                try:    # SQL metric updates are logged as strings
                    upd = float(acc.get("Update"))
                except (TypeError, ValueError):
                    continue
                if aid in py_acc:
                    is_py = True
                    py_tot[py_acc[aid]] += upd
                if aid in rows_in_acc:
                    py_tot["rows_in"] += upd
            if is_py:
                py_stage_run_ms += run_ms
    spans = sorted(job_span.values())
    busy_ms, cur = 0, None
    for lo, hi in spans:
        if cur is None or lo > cur[1]:
            if cur is not None:
                busy_ms += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    if cur is not None:
        busy_ms += cur[1] - cur[0]
    return {
        "spark.jobs": len(job_group),
        "spark.stages": stages,
        "spark.tasks": int(tot["tasks"]),
        "spark.executor_run_s": tot["run_ms"] / 1000.0,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
        "spark.scheduler_delay_s": tot["delay_ms"] / 1000.0,
        "spark.shuffle_read_mb": tot["shuffle_read"] / _MB,
        "spark.shuffle_write_mb": tot["shuffle_write"] / _MB,
        "spark.spill_mb": tot["spill"] / _MB,
        "spark.input_mb": tot["input"] / _MB,
        "spark.core_utilization": (tot["run_ms"] / (busy_ms * cores)
                                   if busy_ms else 0.0),
        "kernels.rows_in": py_tot["rows_in"],
        "kernels.rows_out": py_tot["number of output rows"],
        "kernels.mb_in": py_tot["data sent to Python workers"] / _MB,
        "kernels.mb_out": py_tot["data returned from Python workers"] / _MB,
        "kernels.stage_run_s": py_stage_run_ms / 1000.0,
        "kernels.python_run_s": py_tot["time to run Python workers"] / 1000.0,
        "groups": {g: dict(v) for g, v in groups.items()},
    }
