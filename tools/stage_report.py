"""Per-job, per-stage report from a Spark event log.

Usage: python tools/stage_report.py <eventlog dir> [--group G]

Reads every uncompressed event-log file under the directory (enable with
spark.eventLog.enabled=true, spark.eventLog.dir=file://<dir>,
spark.eventLog.compress=false) and prints, per job and per stage that ran:

  start_s     submission, as an offset from the first submission of the
              selected jobs (so an op's jobs and stages read as a timeline)
  end_s       completion, same origin
  wall_s      submission -> completion
  tasks       finished task attempts
  run_s       executor run time, summed over tasks
  cpu_s       executor CPU time, summed over tasks (JVM task threads only;
              the Python worker's own CPU is not in it)
  py_start_s  SQL metric "time to start Python workers"
  py_init_s   SQL metric "time to initialize Python workers"
  py_run_s    SQL metric "time to run Python workers"
  py_sent_mb  SQL metric "data sent to Python workers"
  py_ret_mb   SQL metric "data returned from Python workers"

The Python metrics are summed over tasks and over every Python node of the
stage.  Caveat: for a reused worker, "time to initialize Python workers"
includes the idle wait between the worker's previous task and this one, so
py_init_s overstates setup cost on stages that follow other Python stages.

A stage line starting with "*" is on the critical path of the selected
jobs: walking back from the stage that completed last, each step takes the
stage that completed last no later than the current one's submission (its
slowest parent, or the previous job's last stage).  Gaps between the marked
stages are time no stage ran: driver work between and before jobs.

--group G keeps only the jobs of job group G (SparkContext.setJobGroup).
"""

from __future__ import annotations

import argparse
import json
import os

_MS, _MB = 1e-3, 1 / (1 << 20)  # SQL timing metrics are in ms, sizes in bytes
PY_METRICS = {
    "time to start Python workers": ("py_start_s", _MS),
    "time to initialize Python workers": ("py_init_s", _MS),
    "time to run Python workers": ("py_run_s", _MS),
    "data sent to Python workers": ("py_sent_mb", _MB),
    "data returned from Python workers": ("py_ret_mb", _MB),
}
COLUMNS = ["wall_s", "tasks", "run_s", "cpu_s", *(c for c, _ in PY_METRICS.values())]
TIMELINE = ["start_s", "end_s"]  # printed from the "submit" and "end" times


def _events(log_dir: str):
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def load(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages): jobs by id with group, description, submit/end times
    (ms) and stage ids; stages by (id, attempt) with name, submit/end times
    and the COLUMNS values."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}

    def stage(sid: int, attempt: int) -> dict:
        return stages.setdefault(
            (sid, attempt),
            {"name": "", "submit": None, "end": None, **{c: 0 for c in COLUMNS}},
        )

    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "desc": props.get("spark.job.description") or "",
                "submit": ev.get("Submission Time", 0),
                "end": None,
                "stage_ids": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            s = stage(info["Stage ID"], info.get("Stage Attempt ID", 0))
            s["name"] = info.get("Stage Name", "")
            s["submit"] = info.get("Submission Time")
            s["end"] = info.get("Completion Time")
            if s["submit"] and s["end"]:
                s["wall_s"] = (s["end"] - s["submit"]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            s = stage(ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            s["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            s["run_s"] += m.get("Executor Run Time", 0) / 1e3
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                metric = PY_METRICS.get(acc.get("Name"))
                if metric is not None:
                    col, scale = metric
                    s[col] += int(acc.get("Update") or 0) * scale
    return jobs, stages


def _row(label: str, t0: float, vals: dict) -> str:
    cells = [
        f"{(vals[k] - t0) / 1e3:>9.3f}" if vals[k] is not None else f"{'-':>9s}"
        for k in ("submit", "end")
    ] + [f"{vals[c]:>11d}" if c == "tasks" else f"{vals[c]:>11.3f}" for c in COLUMNS]
    return f"{label:<34.34s}" + "".join(cells)


def critical_path(ran: dict) -> set:
    """Keys of the stages on the critical path of `ran` ({key: stage} of
    stages with submit and end times): from the stage that completed last,
    repeatedly step to the stage that completed last no later than the
    current one's submission."""
    timed = {k: s for k, s in ran.items() if s["submit"] and s["end"]}
    path: set = set()
    cur = max(timed, key=lambda k: timed[k]["end"], default=None)
    while cur is not None:
        path.add(cur)
        before = [k for k, s in timed.items() if s["end"] <= timed[cur]["submit"]]
        cur = max(before, key=lambda k: timed[k]["end"], default=None)
    return path


def report(jobs: dict, stages: dict, group: str | None = None) -> str:
    """The printed table: one line per job, its stages indented below it
    (critical-path stages marked "*"), and a total over the selected jobs'
    stages."""
    lines = [
        f"{'job / stage':<34s}"
        + "".join(f"{c:>9s}" for c in TIMELINE)
        + "".join(f"{c:>11s}" for c in COLUMNS)
    ]
    selected = {
        jid: job
        for jid, job in sorted(jobs.items())
        if group is None or job["group"] == group
    }
    ran_by_job = {
        jid: {
            key: stages[key]
            for key in sorted(stages)
            if key[0] in job["stage_ids"] and stages[key]["tasks"]
        }
        for jid, job in selected.items()
    }
    crit = critical_path({k: s for ran in ran_by_job.values() for k, s in ran.items()})
    t0 = min((job["submit"] for job in selected.values()), default=0)
    total = {c: 0 for c in COLUMNS}
    for jid, job in selected.items():
        ran = ran_by_job[jid]
        jv = {c: sum(s[c] for s in ran.values()) for c in COLUMNS}
        if job["end"] is not None:
            jv["wall_s"] = (job["end"] - job["submit"]) / 1e3
        label = f"job {jid} [{job['group']}] {job['desc']}"
        lines.append(_row(label, t0, {**job, **jv}))
        for (sid, att), s in ran.items():
            mark = "* " if (sid, att) in crit else "  "
            label = f"{mark}stage {sid}" + (f".{att}" if att else "") + f" {s['name']}"
            lines.append(_row(label, t0, s))
            for c in COLUMNS:
                total[c] += s[c]
    lines.append(_row("total (stage sums)", t0, {"submit": None, "end": None, **total}))
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("log_dir")
    p.add_argument("--group", default=None, help="only jobs of this job group")
    a = p.parse_args(argv)
    print(report(*load(a.log_dir), group=a.group))


if __name__ == "__main__":
    main()
