"""Spark event-log reader and span arithmetic for the traced run.

The traced run launches Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``; Spark then writes JSON lines into
``<log_dir>/eventlog_v2_<app>/events_<n>_<app>`` (rolled) or one plain
file (not rolled).  ``read_log`` folds those lines into per-job records
carrying the counters of every layer below the benchmark's own spans;
``attribute`` hands each job to the span in which it was submitted.
"""

from __future__ import annotations

import bisect
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

# Spark 4.1 Python SQL metric display names (PythonSQLMetrics) -> counter.
PYTHON_METRICS = {
    "time to run Python workers": "udf.python_s",
    "time to start Python workers": "udf.boot_s",
    "data sent to Python workers": "udf.bytes_sent",
    "data returned from Python workers": "udf.bytes_received",
}
# The Python timings are "timing" metrics, in milliseconds.
_MS_METRICS = {"udf.python_s", "udf.boot_s"}
WRITTEN_FILES_METRIC = "number of written files"

# Counters a job carries, all summed over its tasks (or SQL metrics).
JOB_COUNTERS = (
    "exec.stages",
    "exec.tasks",
    "exec.executor_run_s",
    "exec.executor_cpu_s",
    "exec.gc_s",
    "sources.scan_bytes",
    "sources.scan_rows",
    "sources.write_bytes",
    "sources.write_rows",
    "sources.write_files",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.spill_bytes",
    "udf.python_s",
    "udf.boot_s",
    "udf.bytes_sent",
    "udf.bytes_received",
)


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds (submission)
    end: float | None = None  # epoch seconds (completion)
    group: str | None = None
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))


def _event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolled parts in index order."""
    found = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith((".", "appstatus")):
                continue
            m = re.match(r"events_(\d+)_", f)
            found.append((root, int(m.group(1)) if m else 0, f))
    return [os.path.join(r, f) for r, _i, f in sorted(found)]


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def _task_counters(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    out = tm.get("Output Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    c = {
        "exec.tasks": 1.0,
        "exec.executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "exec.executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "exec.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "sources.scan_bytes": inp.get("Bytes Read", 0),
        "sources.scan_rows": inp.get("Records Read", 0),
        "sources.write_bytes": out.get("Bytes Written", 0),
        "sources.write_rows": out.get("Records Written", 0),
        "shuffle.write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle.read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle.spill_bytes": tm.get("Disk Bytes Spilled", 0),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            c[key] = c.get(key, 0.0) + float(acc["Update"]) / (1e3 if key in _MS_METRICS else 1.0)
    return c


def read_log(log_dir: str) -> list[Job]:
    """Parse the event log under ``log_dir`` into jobs with their counters.

    Task counters reach a job through its stage ids.  Driver-side SQL
    metrics (files written by a write command) reach the job whose
    submission is the latest one at or before the SQL execution's end."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    metric_names: dict[int, str] = {}
    driver_accums: list[tuple[int, int, float]] = []  # (execution id, accumulator id, value)
    exec_end: dict[int, float] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1e3, group=props.get("spark.jobGroup.id"))
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid].counters["exec.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is not None:
                        for k, v in _task_counters(ev).items():
                            jobs[jid].counters[k] += v
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metric_names(ev.get("sparkPlanInfo") or {}, metric_names)
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    exec_end[ev["executionId"]] = ev["time"] / 1e3
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        driver_accums.append((ev["executionId"], acc_id, float(value)))
    ordered = sorted(jobs.values(), key=lambda j: j.start)
    starts = [j.start for j in ordered]
    for exec_id, acc_id, value in driver_accums:
        if metric_names.get(acc_id) != WRITTEN_FILES_METRIC or exec_id not in exec_end:
            continue
        i = bisect.bisect_right(starts, exec_end[exec_id]) - 1
        if i >= 0:
            ordered[i].counters["sources.write_files"] += value
    for job in ordered:
        if job.end is None:  # never completed before the log closed
            job.end = job.start
    return ordered


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of closed intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi < lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clipped_union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` inside ``[lo, hi]``."""
    return interval_union([(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi])


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover,
    keyed by span id.  Spans are dicts with ``id``, ``parent``, ``start``
    and ``end``."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - clipped_union(children[s["id"]], s["start"], s["end"]) for s in spans
    }


def attribute(jobs: list[Job], spans: list[dict]) -> dict[int, list[Job]]:
    """Hand each job to the leaf span (a span no other span names as
    parent) whose ``[start, end]`` holds the job's submission time.  Jobs
    submitted outside every leaf span are dropped."""
    parents = {s.get("parent") for s in spans}
    leaves = sorted((s for s in spans if s["id"] not in parents), key=lambda s: s["start"])
    out: dict[int, list[Job]] = defaultdict(list)
    i = 0
    for job in jobs:  # both lists are in start order
        while i < len(leaves) and leaves[i]["end"] < job.start:
            i += 1
        if i < len(leaves) and leaves[i]["start"] <= job.start:
            out[leaves[i]["id"]].append(job)
    return out
