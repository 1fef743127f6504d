"""Event log parsing: job-group attribution of jobs, task time and shuffle."""

import json

import pytest

import eventlog


def _write(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _task(stage, cpu_ns, run_ms, written=0, remote=0, local=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                "Shuffle Read Metrics": {"Remote Bytes Read": remote,
                                         "Local Bytes Read": local}}}


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "update"}},
    _task(0, 2_000_000_000, 1500, written=3_000_000),
    _task(1, 1_000_000_000, 500, local=2_000_000, remote=1_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3500,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "update"}},
    _task(2, 500_000_000, 250),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000,
     "Stage IDs": [3], "Properties": {}},
    _task(3, 100_000_000, 100),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
]


def test_groups_jobs_task_time_and_shuffle(tmp_path):
    log = tmp_path / "log"
    _write(log, EVENTS)
    g = eventlog.parse(str(log))
    assert set(g) == {"update", ""}
    up = g["update"]
    assert up["jobs"] == 2
    assert up["task_cpu_s"] == pytest.approx(3.5)
    assert up["task_run_s"] == pytest.approx(2.25)
    assert up["shuffle_mb"] == pytest.approx(6.0)
    assert g[""]["jobs"] == 1 and g[""]["task_cpu_s"] == pytest.approx(0.1)
    assert eventlog.busy_ratio(up, wall_s=1.125, cores=2) == pytest.approx(1.0)
    assert eventlog.busy_ratio(up, wall_s=0.0, cores=2) == 0.0


def test_rolling_log_directory_in_roll_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    # roll 10 sorts after roll 2 numerically, not lexically; the job that
    # opens in roll 2 owns the stage its tasks report in roll 10
    _write(d / "events_10_app", EVENTS[6:8])
    _write(d / "events_2_app", EVENTS[:6])
    (d / "appstatus_app.inprogress").write_text("")
    g = eventlog.parse(str(tmp_path))
    assert g["update"]["jobs"] == 2
    assert g["update"]["task_cpu_s"] == pytest.approx(3.5)


def test_truncated_last_line_is_skipped(tmp_path):
    log = tmp_path / "log"
    _write(log, EVENTS[:3])
    with open(log, "a") as f:
        f.write('{"Event": "SparkListenerTaskEnd", "Stage')
    assert eventlog.parse(str(log))["update"]["task_cpu_s"] == pytest.approx(2.0)
