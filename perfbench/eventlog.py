"""Job, stage and task metrics from a Spark event log, split by op phase.

The traced run enables ``spark.eventLog`` into its private run dir.  After
the session stops, every job is attributed to the (op, phase) whose wall
interval contains the job's submission time.  The job group that the
benchmark sets per (op, phase) labels the same phase in the log for jobs
submitted on the client thread; the interval also catches jobs that the
program submits from its own threads (streaming micro-batches set their
own group).
"""

from __future__ import annotations

import bisect
import glob
import json
import os
from collections import defaultdict

# SQL metrics of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, ...): bytes moved to and from Python workers, and the
# output rows of any plan node whose name says it runs Python
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PY_NODE = ("Python", "InPandas", "InArrow")

EXEC_KEYS = (
    "jobs", "job_busy_s", "executor_run_s", "executor_cpu_s", "gc_s",
    "tasks", "task_failures", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "python_rows", "python_bytes",
)


def _events(log_dir: str):
    """Events of every (rolling or single-file) log under ``log_dir``."""
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    paths += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a torn last line of an unflushed log


def read(log_dir: str) -> tuple[dict, dict]:
    """Returns ``(jobs, stages)``: per job id ``{submit_ms, end_ms,
    stages}``; per stage id the summed task metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    py_row_accs: set[int] = set()
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if "sparkPlanInfo" in ev:  # SQL execution start / AQE plan update
            _python_row_metrics(ev["sparkPlanInfo"], py_row_accs)
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "submit_ms": ev.get("Submission Time"),
                "end_ms": None,
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages[ev["Stage ID"]]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            st["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                st["task_failures"] += 1
            st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
        elif kind == "SparkListenerStageCompleted":
            st = stages[ev["Stage Info"]["Stage ID"]]
            for acc in ev["Stage Info"].get("Accumulables") or []:
                try:
                    val = float(acc.get("Value"))
                except (TypeError, ValueError):
                    continue
                if acc.get("ID") in py_row_accs:
                    st["python_rows"] += val
                elif acc.get("Name") in _PY_BYTES:
                    st["python_bytes"] += val
    return jobs, stages


def _python_row_metrics(node: dict, out: set[int]) -> None:
    if any(s in node.get("nodeName", "") for s in _PY_NODE):
        for m in node.get("metrics") or []:
            if m.get("name") == "number of output rows":
                out.add(m.get("accumulatorId"))
    for child in node.get("children") or []:
        _python_row_metrics(child, out)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1e3


def attribute(log_dir: str, phases: list[tuple]) -> dict[tuple, dict]:
    """``phases``: ``(op, phase, t0_ms, t1_ms)`` in time order.  Returns
    per ``(op, phase)`` the EXEC_KEYS totals; ``job_busy_s`` is the union
    of the phase's job intervals clipped to the phase."""
    jobs, stages = read(log_dir)
    starts = [p[2] for p in phases]
    out: dict[tuple, dict] = {(p[0], p[1]): dict.fromkeys(EXEC_KEYS, 0.0) for p in phases}
    spans: dict[tuple, list] = defaultdict(list)
    for job in jobs.values():
        t = job["submit_ms"]
        if t is None:
            continue
        i = bisect.bisect_right(starts, t) - 1
        if i < 0 or t > phases[i][3]:
            continue
        op, phase, t0, t1 = phases[i]
        agg = out[(op, phase)]
        agg["jobs"] += 1
        end = job["end_ms"] if job["end_ms"] is not None else t1
        spans[(op, phase)].append((max(t, t0), min(end, t1)))
        for sid in job["stages"]:
            for k, v in stages.get(sid, {}).items():
                agg[k] += v
    for key, iv in spans.items():
        out[key]["job_busy_s"] = _union_s(iv)
    return out
