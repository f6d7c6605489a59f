"""Offline fold of a Spark event log (SparkListener JSON lines) into
the executor-side per-layer numbers — no UI, no history server.

Jobs are attributed to a benchmark span by submission time, and a stage
to the first job that lists it (later jobs list it again as skipped
when they reuse its shuffle output or cache). A stage is classified by the RDD scopes of its operators: a Python stage runs an
Arrow/pandas/Python UDF operator, a codegen stage runs whole-stage
generated code and no Python, anything else (a bare exchange read, a
checkpoint scan) is "other".
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

PYTHON_SCOPE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|InPandas|InArrow|PythonUDF|PythonMapIn"
)
CODEGEN_SCOPE = re.compile(r"WholeStageCodegen")


@dataclass
class Job:
    submit_s: float
    end_s: float | None


@dataclass
class Fold:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_kind: dict[int, str] = field(default_factory=dict)
    # per stage: list of task metric dicts (see _task_row)
    tasks: dict[int, list[dict]] = field(default_factory=dict)


def read_events(log_dir: str):
    """Events of every finished, non-rolling application log under
    ``log_dir``, in file-name order."""
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(p) and not p.endswith((".inprogress", ".crc")):
            with open(p) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def _stage_kind(rdd_infos) -> str:
    names = []
    for r in rdd_infos:
        try:
            names.append(json.loads(r.get("Scope") or "{}").get("name", ""))
        except ValueError:
            continue
    if any(PYTHON_SCOPE.search(n) for n in names):
        return "python"
    if any(CODEGEN_SCOPE.search(n) for n in names):
        return "codegen"
    return "other"


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    return {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        "shuffle_write": wr.get("Shuffle Bytes Written", 0),
        "spill_disk": m.get("Disk Bytes Spilled", 0),
        "dur_s": max(info["Finish Time"] - info["Launch Time"], 1) / 1e3,
    }


def fold(events) -> Fold:
    out = Fold()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out.jobs[ev["Job ID"]] = Job(ev["Submission Time"] / 1e3, None)
            for si in ev.get("Stage Infos", []):
                if si["Stage ID"] not in out.stage_job:
                    out.stage_job[si["Stage ID"]] = ev["Job ID"]
                    out.stage_kind[si["Stage ID"]] = _stage_kind(si.get("RDD Info", []))
        elif kind == "SparkListenerJobEnd":
            job = out.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            out.tasks.setdefault(ev["Stage ID"], []).append(_task_row(ev))
    return out


def covered_s(intervals, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, reach = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def window(fd: Fold, start: float, end: float) -> dict:
    """Per-layer Spark numbers for the jobs submitted in [start, end]."""
    ids = {i for i, j in fd.jobs.items() if start <= j.submit_s <= end}
    jobs = [fd.jobs[i] for i in ids]
    stages = [s for s, i in fd.stage_job.items() if i in ids and s in fd.tasks]
    out = {
        "spark_jobs": len(jobs),
        "job_busy_s": covered_s(
            [(j.submit_s, j.end_s if j.end_s is not None else end) for j in jobs],
            start, end),
        "exec_run_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0,
        "python_stage_run_s": 0.0, "codegen_stage_run_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_disk_bytes": 0, "tasks": 0, "task_skew_max": 1.0,
    }
    for sid in stages:
        rows = fd.tasks[sid]
        run = sum(r["run_s"] for r in rows)
        out["exec_run_s"] += run
        out["exec_cpu_s"] += sum(r["cpu_s"] for r in rows)
        out["gc_s"] += sum(r["gc_s"] for r in rows)
        kind = fd.stage_kind[sid]
        if kind in ("python", "codegen"):
            out[f"{kind}_stage_run_s"] += run
        out["shuffle_write_bytes"] += sum(r["shuffle_write"] for r in rows)
        out["shuffle_read_bytes"] += sum(r["shuffle_read"] for r in rows)
        out["spill_disk_bytes"] += sum(r["spill_disk"] for r in rows)
        out["tasks"] += len(rows)
        if len(rows) >= 2:
            durs = [r["dur_s"] for r in rows]
            out["task_skew_max"] = max(
                out["task_skew_max"], max(durs) / statistics.median(durs))
    return out
