"""Tracing from the benchmark's side of each layer boundary.

`Tracer.install()` wraps the public functions of the qs_spark layer modules
so that every call records a span (name, start, end, parent, op id).  Spans
stay in memory and are written out when the run ends.  Spark plans lazily,
so a wrapped call measures driver-side plan construction; the work itself
is timed by the phase actions the workloads run under `Tracer.span`.

Also here: per-op Spark job/stage/task counts from the status tracker, and
shuffle/spill bytes from the event log of a traced run.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import time
from contextlib import contextmanager

# the layer modules whose public calls are traced.  Kernel modules are left
# alone: they run inside Python workers, and the kernels layer is measured by
# a single-thread probe instead (workloads.kernel_probe).
LAYER_MODULES = (
    "qs_spark.session",
    "qs_spark.extract",
    "qs_spark.store",
    "qs_spark.search",
    "qs_spark.textops",
    "qs_spark.checkpoint",
    "qs_spark.catalog",
    "qs_spark.cachereg",
)


class Tracer:
    def __init__(self, on_phase=None) -> None:
        """on_phase(name, seconds) is called as each "phase.*" span ends."""
        self.on_phase = on_phase
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if self.on_phase and name.startswith("phase."):
                self.on_phase(name, rec["end"] - rec["start"])

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return traced

    def install(self) -> None:
        """Replace each public function (and public class method) of the
        layer modules with a traced wrapper, in its own module and wherever
        another qs_spark module imported it by name."""
        import importlib

        mods = [importlib.import_module(m) for m in LAYER_MODULES]
        targets: dict[int, tuple[str, object]] = {}
        for m in mods:
            short = m.__name__.rsplit(".", 1)[1]
            for attr, obj in vars(m).items():
                if attr.startswith("_") or getattr(obj, "__module__", None) != m.__name__:
                    continue
                if inspect.isfunction(obj):
                    targets[id(obj)] = (f"{short}.{attr}", obj)
                elif inspect.isclass(obj):
                    for meth, f in vars(obj).items():
                        if inspect.isfunction(f) and not meth.startswith("_"):
                            self._patch(obj, meth, self._wrap(f"{short}.{meth}", f))
        wrapped = {k: self._wrap(n, f) for k, (n, f) in targets.items()}
        for name, m in list(sys.modules.items()):
            if not name.startswith("qs_spark") or m is None:
                continue
            for attr, obj in list(vars(m).items()):
                if id(obj) in wrapped and targets[id(obj)][1] is obj:
                    self._patch(m, attr, wrapped[id(obj)])

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    def durations(self, name: str) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: span minus the part of it that its
        children cover (children never overlap: calls are sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                d = s["end"] - s["start"] - child[s["id"]]
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker recorded for a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


def event_log_bytes(log_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: shuffle bytes written and bytes spilled (memory + disk),
    summed over the task-end events of that group's stages."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = {}
    for path in glob.glob(f"{log_dir}/**", recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    acc = out.setdefault(g, {"shuffle_write": 0, "spill": 0})
                    acc["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
