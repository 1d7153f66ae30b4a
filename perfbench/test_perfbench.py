"""The benchmark's own tests, at a tiny input size.

  python3 -m pytest perfbench/test_perfbench.py -q

The run-based tests start Spark (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _run(workload: str, seed: int, trace: int = 0, cwd: str = ROOT):
    r = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--scale", "0.05"],
        capture_output=True, text=True, timeout=600, cwd=cwd,
    )
    return r


def _detail(r) -> dict:
    line = next(ln for ln in r.stdout.splitlines() if ln.startswith("perfbench detail:"))
    with open(os.path.join(ROOT, line.split(": ", 1)[1])) as f:
        return json.load(f)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_generators_are_pure_functions_of_seed():
    a = gen.dedup_rows(7, 300, 40)
    assert a == gen.dedup_rows(7, 300, 40)
    assert a != gen.dedup_rows(8, 300, 40)
    assert gen.ingest_docs(7, 50) == gen.ingest_docs(7, 50)
    assert gen.query_stream(3, ["a", "b"], ["x", "y", "z"], 20) == gen.query_stream(
        3, ["a", "b"], ["x", "y", "z"], 20
    )


def test_queries_never_repeat():
    qs = gen.query_stream(1, ["a", "b", "c"], [f"r{i}" for i in range(30)], 200)
    assert len(set(qs)) == len(qs)


def test_tracer_self_time_excludes_children():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    st = tr.self_times()
    outer = tr.spans[0]["end"] - tr.spans[0]["start"]
    inner = tr.spans[1]["end"] - tr.spans[1]["start"]
    assert tr.spans[1]["parent"] == 0
    assert st["outer"] == pytest.approx(outer - inner)


def test_fails_without_the_program():
    alone = os.path.join(ROOT, ".bench_run", "tests", "alone")
    shutil.rmtree(alone, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(alone, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
    r = _run("ingest_mixed", 1, cwd=alone)
    shutil.rmtree(alone)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


# Runs argv as a child of a process that adopts every orphan (Linux
# PR_SET_CHILD_SUBREAPER), waits for it, then prints the pids of the
# processes it adopted: each outlived the run, however briefly.
_ADOPTER = r"""
import ctypes, json, os, subprocess, sys, time
ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)
rc = subprocess.call(sys.argv[1:], stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
time.sleep(1)
me, adopted = os.getpid(), []
for d in os.listdir("/proc"):
    try:
        with open(f"/proc/{d}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        continue
    if ppid == me:
        adopted.append(int(d))
for pid in adopted:
    try:
        os.kill(pid, 9)
    except OSError:
        pass
    os.waitpid(pid, 0)
print(json.dumps({"rc": rc, "adopted": adopted}))
"""


def test_no_process_outlives_a_run():
    r = subprocess.run(
        [sys.executable, "-c", _ADOPTER, sys.executable, os.path.join(HERE, "run.py"),
         "--workload", "ingest_mixed", "--seed", "3", "--seconds", "1",
         "--trace", "0", "--scale", "0.05"],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert json.loads(r.stdout.strip().splitlines()[-1]) == {"rc": 0, "adopted": []}


@pytest.mark.parametrize("workload", ["ingest_mixed", "dedup_near"])
def test_same_seed_gives_identical_counts_and_every_metric(workload):
    runs = [_run(workload, 5) for _ in range(2)]
    for r in runs:
        assert r.returncode == 0, r.stderr[-3000:]
        res = json.loads(r.stdout.strip().splitlines()[-1])
        assert res["correct"] and res["failed"] == 0
        assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END
    counts = [[o["counts"] for o in _detail(r)["ops"]] for r in runs]
    assert counts[0][0] == counts[1][0]
    assert all(c == counts[0][0] for c in counts[0] + counts[1])
