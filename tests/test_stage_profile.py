"""jobs/stage_profile.py's event-log readers on small synthetic logs (no
Spark): job walls and the gaps between jobs, the ``since_ms`` cut, the
job-group charge of each stage, and the numeric order of a rolling log's
files."""

import importlib.util
import json
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "jobs", "stage_profile.py")
_spec = importlib.util.spec_from_file_location("stage_profile", _PATH)
sp = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(sp)


def job_start(job, ms, stages=(), group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": ms, "Stage IDs": list(stages),
            "Properties": props}


def job_end(job, ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": ms}


def task_end(stage, run_ms, cpu_ns, read=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "Shuffle Read Metrics": {"Total Records Read": read},
                "Shuffle Write Metrics": {"Shuffle Records Written": written}}}


def stage_done(stage, name):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Stage Name": name}}


def write_log(tmp_path, *events):
    """One plain event-log file, as Spark writes without rolling."""
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    (log_dir / "local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(log_dir)


def test_overlapping_jobs_have_no_gap(tmp_path):
    log = write_log(tmp_path, job_start(0, 1000), job_start(1, 1200),
                    job_end(1, 1300), job_end(0, 1500))
    jobs = sp.read_jobs(log, 900)
    assert [(j["job"], j["wall_ms"], j["gap_ms"]) for j in jobs] == [
        (0, 500, 100), (1, 100, 0)]


def test_gap_is_measured_from_the_latest_earlier_end(tmp_path):
    # job 1 ends before job 0 does; job 2's gap runs from job 0's end
    log = write_log(tmp_path, job_start(0, 1000), job_start(1, 1100),
                    job_end(1, 1200), job_end(0, 1500),
                    job_start(2, 1650), job_end(2, 1700))
    jobs = sp.read_jobs(log, 1000)
    assert [(j["job"], j["gap_ms"]) for j in jobs] == [(0, 0), (1, 0), (2, 150)]


def test_jobs_before_since_and_unfinished_jobs_are_dropped(tmp_path):
    log = write_log(tmp_path, job_start(0, 500, group="cold#0"), job_end(0, 900),
                    job_start(1, 1000, group="q#1"), job_end(1, 1100),
                    job_start(2, 1300, group="q#1"))
    jobs = sp.read_jobs(log, 950)
    assert jobs == [{"job": 1, "group": "q#1", "wall_ms": 100, "gap_ms": 50}]


def test_each_stage_is_charged_to_its_jobs_group(tmp_path):
    log = write_log(
        tmp_path,
        job_start(0, 1000, stages=(0, 1), group="extract.model#3"),
        task_end(0, 40, 30_000_000, written=7),
        task_end(0, 90, 50_000_000, written=5),
        stage_done(0, "map"),
        task_end(1, 10, 4_000_000, read=12),
        stage_done(1, "reduce"),
        job_end(0, 1200),
        job_start(1, 1300, stages=(2,)),
        task_end(2, 5, 1_000_000),
        stage_done(2, "collect"),
        job_end(1, 1310))
    by_group = sp.read_stages(log)
    assert set(by_group) == {"extract.model#3", sp.BETWEEN}
    assert by_group["extract.model#3"] == [
        {"stage": 0, "name": "map", "tasks": 2, "max_task_ms": 90,
         "cpu_ms": 80.0, "records_read": 0, "records_written": 12},
        {"stage": 1, "name": "reduce", "tasks": 1, "max_task_ms": 10,
         "cpu_ms": 4.0, "records_read": 12, "records_written": 0}]
    assert [s["stage"] for s in by_group[sp.BETWEEN]] == [2]


def test_rolling_log_files_are_read_in_numeric_order(tmp_path):
    # lexicographic order would read events_10 (the job's end and the
    # stage's completion) before events_2 (its start and its task)
    app = tmp_path / "eventlog" / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    parts = {1: [],
             2: [job_start(0, 1000, stages=(0,), group="g#0"), task_end(0, 8, 2_000_000)],
             10: [stage_done(0, "scan"), job_end(0, 1040)]}
    for n, events in parts.items():
        (app / f"events_{n}_local-1").write_text(
            "".join(json.dumps(e) + "\n" for e in events))
    log = str(tmp_path / "eventlog")
    assert sp.read_jobs(log, 0) == [
        {"job": 0, "group": "g#0", "wall_ms": 40, "gap_ms": 1000}]
    assert [(s["stage"], s["name"]) for s in sp.read_stages(log)["g#0"]] == [
        (0, "scan")]
