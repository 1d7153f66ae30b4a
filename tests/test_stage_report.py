"""tools/stage_report.py over a small hand-written event log."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import stage_report  # noqa: E402


def _task(stage, run_ms, cpu_ns, py=None):
    accs = [{"ID": 1, "Name": "number of output rows", "Update": "9", "Metadata": "sql"}]
    for i, (name, update) in enumerate((py or {}).items()):
        accs.append({"ID": 10 + i, "Name": name, "Update": str(update), "Metadata": "sql"})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Task ID": 0, "Accumulables": accs},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns},
    }


def _stage_done(stage, submit, complete, name):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Stage Name": name,
            "Number of Tasks": 2,
            "Submission Time": submit,
            "Completion Time": complete,
            "Accumulables": [],
        },
    }


PY = {
    "time to run Python workers": 1500,
    "time to initialize Python workers": 40,
    "data sent to Python workers": 1 << 20,
    "data returned from Python workers": 1 << 19,
}

EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 1_000,
        "Stage IDs": [0, 1],  # stage 1 is skipped: no task ends
        "Properties": {"spark.jobGroup.id": "op1", "spark.job.description": "extract"},
    },
    _task(0, 2_000, 1_500_000_000, PY),
    _task(0, 1_000, 500_000_000, PY),
    _stage_done(0, 1_100, 3_600, "mapInArrow at x.py:1"),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4_000},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 1,
        "Submission Time": 5_000,
        "Stage IDs": [2],
        "Properties": {"spark.jobGroup.id": "op2", "spark.job.description": "write"},
    },
    _task(2, 300, 200_000_000),
    _stage_done(2, 5_010, 5_400, "parquet at y.py:2"),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5_500},
]


def _write_log(tmp_path, events=EVENTS):
    d = tmp_path / "eventlog" / "eventlog_v2_local-1"
    d.mkdir(parents=True)
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_local-1").write_text("")
    (d / ".appstatus_local-1.crc").write_bytes(b"\x00crc")
    return str(tmp_path / "eventlog")


def test_stage_report_sums_tasks_and_python_metrics(tmp_path):
    jobs, stages = stage_report.load(_write_log(tmp_path))
    assert sorted(jobs) == [0, 1]
    assert jobs[0]["group"] == "op1" and jobs[0]["end"] == 4_000
    s0 = stages[(0, 0)]
    assert s0["name"] == "mapInArrow at x.py:1"
    assert s0["tasks"] == 2
    got = {c: s0[c] for c in stage_report.COLUMNS if c != "tasks"}
    assert got == pytest.approx({
        "wall_s": 2.5, "run_s": 3.0, "cpu_s": 2.0, "py_start_s": 0,
        "py_init_s": 0.08, "py_run_s": 3.0, "py_sent_mb": 2.0, "py_ret_mb": 1.0,
    })
    assert (1, 0) not in stages  # the skipped stage never ran
    assert stages[(2, 0)]["tasks"] == 1 and stages[(2, 0)]["py_run_s"] == 0


def test_stage_report_prints_jobs_stages_and_group_filter(tmp_path, capsys):
    log = _write_log(tmp_path)
    stage_report.main([log])
    out = capsys.readouterr().out.splitlines()
    assert out[0].split() == [
        "job", "/", "stage", *stage_report.TIMELINE, *stage_report.COLUMNS
    ]
    job0 = next(line for line in out if line.startswith("job 0 [op1] extract"))
    # job wall is job submit -> end; stage sums fill the other columns
    assert job0.split()[-9:] == [
        "3.000", "2", "3.000", "2.000", "0.000", "0.080", "3.000", "2.000", "1.000"
    ]
    assert any(line.startswith("* stage 0 mapInArrow") for line in out)
    assert out[-1].startswith("total") and out[-1].split()[-8] == "3"

    stage_report.main([log, "--group", "op2"])
    out = capsys.readouterr().out.splitlines()
    assert [line.lstrip("* ").split()[1] for line in out[1:-1]] == ["1", "2"]
    assert out[-1].split()[-8] == "1"


def _job(jid, submit, end, stage_ids, group):
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": submit,
            "Stage IDs": stage_ids,
            "Properties": {"spark.jobGroup.id": group},
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


# op3: a kernel wave (stage 4) with a concurrent, shorter branch (stage 5),
# the write (stage 6) after the wave, then a second job (stage 7)
TIMELINE_EVENTS = EVENTS + [
    *_job(2, 10_000, 14_000, [4, 5, 6], "op3"),
    _task(4, 1_900, 1), _stage_done(4, 10_050, 12_000, "wave"),
    _task(5, 900, 1), _stage_done(5, 10_060, 11_000, "branch"),
    _task(6, 1_800, 1), _stage_done(6, 12_010, 13_900, "write"),
    *_job(3, 14_500, 15_000, [7], "op3"),
    _task(7, 400, 1), _stage_done(7, 14_520, 14_950, "count"),
]


def test_stage_report_timeline_offsets_and_critical_path(tmp_path, capsys):
    log = _write_log(tmp_path, TIMELINE_EVENTS)
    jobs, stages = stage_report.load(log)
    ran = {k: s for k, s in stages.items() if k[0] in (4, 5, 6, 7)}
    # the concurrent branch ends before the write starts, but the wave ends
    # later, so the wave is what the write waited for
    assert stage_report.critical_path(ran) == {(4, 0), (6, 0), (7, 0)}

    stage_report.main([log, "--group", "op3"])
    out = capsys.readouterr().out.splitlines()
    # offsets are from op3's first submission (10_000 ms)
    rows = {
        line.lstrip("* ").split()[1]: (line.startswith("*"), line.split()[-11:-9])
        for line in out[1:-1]
    }
    assert rows == {
        "2": (False, ["0.000", "4.000"]),
        "4": (True, ["0.050", "2.000"]),
        "5": (False, ["0.060", "1.000"]),
        "6": (True, ["2.010", "3.900"]),
        "3": (False, ["4.500", "5.000"]),
        "7": (True, ["4.520", "4.950"]),
    }
    assert out[-1].split()[-11:-9] == ["-", "-"]  # the total has no times
