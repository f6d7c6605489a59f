import json

import eventlog


def _scope(name):
    return json.dumps({"id": "1", "name": name})


def _job(job_id, submit_ms, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": submit_ms, "Stage IDs": [s for s, _ in stages],
            "Stage Infos": [{"Stage ID": s, "RDD Info": [{"Scope": _scope(n)} for n in names]}
                            for s, names in stages]}


def _task(stage, launch_ms, finish_ms, run_ms, **m):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": m.get("cpu_ns", 0),
                             "JVM GC Time": m.get("gc_ms", 0),
                             "Disk Bytes Spilled": m.get("spill", 0),
                             "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": m.get("sw", 0)}}}


EVENTS = [
    _job(0, 1000, [(0, ["MapInPandas", "WholeStageCodegen (1)"]),
                   (1, ["WholeStageCodegen (2)", "Exchange"])]),
    _task(0, 1000, 1100, 100, cpu_ns=50_000_000, sw=10),
    _task(0, 1000, 1100, 100, sw=10),
    _task(0, 1000, 1400, 400, gc_ms=20, sw=10),
    _task(1, 1500, 1600, 80, spill=7),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    # job 1 reuses stage 1's shuffle output: listed again, run once
    _job(1, 2500, [(1, ["WholeStageCodegen (2)", "Exchange"]),
                   (2, ["Scan parquet", "AQEShuffleRead"])]),
    _task(2, 2500, 2600, 50),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
    _job(2, 9000, [(3, ["WholeStageCodegen (1)"])]),
    _task(3, 9000, 9100, 70),
]


def test_fold_attributes_tasks_to_stage_kinds_in_window():
    w = eventlog.window(eventlog.fold(EVENTS), 0.5, 3.0)
    assert w["spark_jobs"] == 2
    assert w["tasks"] == 5
    assert abs(w["exec_run_s"] - 0.73) < 1e-9
    assert abs(w["python_stage_run_s"] - 0.6) < 1e-9
    assert abs(w["codegen_stage_run_s"] - 0.08) < 1e-9
    assert abs(w["exec_cpu_s"] - 0.05) < 1e-9
    assert abs(w["gc_s"] - 0.02) < 1e-9
    assert w["shuffle_write_bytes"] == 30
    assert w["shuffle_read_bytes"] == 15
    assert w["spill_disk_bytes"] == 7
    assert abs(w["task_skew_max"] - 4.0) < 1e-9  # 0.4 s / median 0.1 s
    assert abs(w["job_busy_s"] - 1.1) < 1e-9  # [1.0, 2.0] + [2.5, 2.6]


def test_stage_reused_by_a_later_job_counts_once_in_its_own_job():
    w = eventlog.window(eventlog.fold(EVENTS), 2.2, 3.0)
    assert w["spark_jobs"] == 1 and w["tasks"] == 1
    assert w["codegen_stage_run_s"] == 0.0


def test_job_outside_window_is_not_counted():
    w = eventlog.window(eventlog.fold(EVENTS), 8.0, 10.0)
    assert w["spark_jobs"] == 1 and w["tasks"] == 1
    assert w["python_stage_run_s"] == 0.0


def test_covered_merges_overlaps_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (10.0, 20.0)]
    assert eventlog.covered_s(iv, 0.5, 12.0) == 2.5 + 1.0 + 2.0
    assert eventlog.covered_s([], 0.0, 1.0) == 0.0


def test_read_events_skips_unfinished_logs(tmp_path):
    (tmp_path / "local-2").write_text(json.dumps(EVENTS[2]) + "\n\n")
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in EVENTS[:2]) + "\n")
    (tmp_path / "local-3.inprogress").write_text("not json")
    evs = list(eventlog.read_events(str(tmp_path)))
    assert evs == EVENTS[:3]
