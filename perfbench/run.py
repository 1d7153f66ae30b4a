"""Run one benchmark workload and print its metrics.

  python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 12 --trace 0

Run from the repository root.  The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.  Everything else the run
recorded (settings, host controls, per-op walls and counts, spans) goes to
.bench_run/results/.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, ".bench_run", "results")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "docs_per_s": "docs/s",
    "op_core_s": "core-s",
}

_FMTS = ("html", "pdf", "docx", "xlsx", "csv", "txt", "md")
PER_LAYER = {
    "session.peak_rss_mb": "MB",
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.first_op_s": "s",
    "session.warmup_s": "s",
    **{f"kernels.{f}.cpu_s": "s" for f in _FMTS},
    **{f"kernels.{f}.docs": "count" for f in _FMTS},
    "kernels.error_docs": "count",
    "extract.plan_s": "s",
    "extract.scan_noop_s": "s",
    "extract.exec_noop_s": "s",
    "extract.busy_frac": "ratio",
    "extract.tasks": "count",
    "extract.generic_noop_s": "s",
    "extract.scaling_eff": "ratio",
    "store.plan_s": "s",
    "store.build_noop_s": "s",
    "store.write_s": "s",
    "store.rows": "count",
    "store.files": "count",
    "store.bytes": "bytes",
    "search.write_postings_s": "s",
    "search.postings_bytes": "bytes",
    "search.plan_s": "s",
    "search.idx_p50_s": "s",
    "search.idx_p90_s": "s",
    "search.scan_p50_s": "s",
    "search.scan_p90_s": "s",
    "search.lookup_postings_s": "s",
    "search.rows_per_query": "count",
    "textops.doc_sketches_s": "s",
    "textops.lsh_candidate_pairs_s": "s",
    "textops.ngram_jaccard_pairs.call_s": "s",
    "textops.ngram_jaccard_pairs_s": "s",
    "textops.connected_components_s": "s",
    "textops.near_dup_clusters.call_s": "s",
    "textops.busy_frac": "ratio",
    "textops.candidate_pairs": "count",
    "textops.verified_pairs": "count",
    "textops.survivors": "count",
    "checkpoint.wave_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.committed_buckets_s": "s",
    "catalog.overwrite_partitions_s": "s",
    "checkpoint.waves": "count",
    "cachereg.release_s": "s",
    "cachereg.released": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "host.md5_per_s": "1/s",
    "host.alloc_per_s": "1/s",
    "host.steal_pct": "%",
    "host.md5_scaling": "ratio",
    "trace.overhead_s": "s",
    "trace.phase_sum_s": "s",
    "trace.phase_sum_frac": "ratio",
}

# fits the 15 GB / 4-core box this was sized on; the session default is 48g
DRIVER_MEM = "3g"
MIN_OPS = 3
# ops stop starting this many seconds after process start, so a run ends
# inside its 180 s limit (untraced, traced: the traced phases follow)
DEADLINE_S = (130.0, 75.0)


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    p.add_argument("--scaling-leg", metavar="TABLES", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def configure_env(run_dir: str) -> dict:
    """Process environment and Spark conf that keep every file the run
    writes inside run_dir, and let Python workers import qs_spark."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["QS_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM the run starts (the launcher too): temp files in run_dir,
    # and no hsperfdata file, which the JVM would write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def _generate(name: str, seed: int, cache: str, scale: float) -> None:
    from perfbench.workloads import WORKLOADS

    WORKLOADS[name](seed, "", cache, 1, scale).generate()


def generate(name: str, seed: int, cache: str, scale: float) -> None:
    """Run the generator in a child process, so the timed imports in this
    one start cold."""
    import multiprocessing as mp

    p = mp.get_context("spawn").Process(target=_generate, args=(name, seed, cache, scale))
    p.start()
    p.join()
    if p.exitcode != 0:
        raise RuntimeError(f"input generation failed (exit {p.exitcode})")


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM and every process
    it started (the Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.probes import alive, descendants

    gw = SparkContext._gateway
    proc = gw.proc
    pids = [proc.pid] + descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its launcher's stdin closes
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(map(alive, pids)):
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def stop_resource_tracker() -> None:
    """The spawn-context children (input generation, host controls) start
    multiprocessing's resource-tracker process, which would outlive this one
    for a moment: stop it and wait for it to end."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if tracker._pid is not None:
        tracker._stop()


def pin_process_tree(pid: int, cpus: set[int]) -> None:
    """Pin every thread of pid and of its descendants to cpus; threads and
    processes they start later inherit the pin."""
    from perfbench.probes import descendants

    for p in [pid] + descendants(pid):
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue  # the process ended
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except ProcessLookupError:
                pass  # the thread ended


def scaling_leg(tables: str, seed: int) -> None:
    """Child mode for extract.scaling_eff: exec-noop docs/s of the native
    extract at local[1] pinned to one core.  The session starts and warms
    up (on the small reference-sample table, same layout) unpinned: on one
    core that alone took about 40 s.  Then the JVM, its Python workers and
    this process are pinned, and one op on the input table is timed."""
    from perfbench.workloads import noop, parquet_rows

    table, warm_table = tables.split(os.pathsep)
    run_dir = os.path.join(ROOT, ".bench_run", f"scaling-s{seed}-{os.getpid()}")
    conf = configure_env(run_dir)
    # the untimed warm-up op covers what the session warm-up probe would
    os.environ["QS_SESSION_WARM"] = "0"
    from qs_spark.extract import extract_spans_native
    from qs_spark.session import get_spark

    spark = get_spark("perfbench_scaling", cores=1, extra_conf=conf)
    try:
        noop(extract_spans_native(spark, warm_table))
        pin_process_tree(os.getpid(), {0})  # this process, the JVM, workers
        t0 = time.perf_counter()
        noop(extract_spans_native(spark, table))
        dt = time.perf_counter() - t0
        print(json.dumps({"docs_per_s": parquet_rows(table) / dt}))
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def scaling_eff(table: str, warm_table: str, seed: int, cores: int, docs_per_s: float) -> float:
    """The leg runs in its own process group (with its JVM and Python
    workers), which is killed whole if the leg overruns."""
    from perfbench.probes import alive, descendants

    p = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__),
         "--workload", "ingest_mixed", "--seed", str(seed), "--seconds", "0",
         "--scaling-leg", os.pathsep.join([table, warm_table])],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=ROOT,
        start_new_session=True,
    )
    try:
        out, err = p.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        pids = descendants(p.pid)
        os.killpg(p.pid, 9)
        p.communicate()
        while any(map(alive, pids)):
            time.sleep(0.1)
        raise
    if p.returncode != 0:
        raise RuntimeError(f"scaling leg failed: {err[-2000:]}")
    one = json.loads(out.strip().splitlines()[-1])["docs_per_s"]
    return docs_per_s / (cores * one)


def run(a) -> tuple[dict, dict]:
    from perfbench import probes
    from perfbench.trace import Tracer, event_log_bytes, group_counts
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".bench_run", tag)
    cache = os.path.join(ROOT, ".bench_run", "cache")
    os.makedirs(RESULTS, exist_ok=True)
    conf = configure_env(run_dir)
    if a.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        os.makedirs(os.path.join(run_dir, "eventlog"))

    # -- before the clock: host controls and raw inputs
    host = probes.host_controls(cores)
    log(f"host controls {host}")
    generate(a.workload, a.seed, cache, a.scale)
    log("inputs generated")
    w = WORKLOADS[a.workload](a.seed, run_dir, cache, cores, a.scale)
    w.generate()

    # -- setup_s: imports, session, program-derived inputs, warm-up ops
    t0 = time.perf_counter()
    from qs_spark import session

    import_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    spark = session.get_spark(f"perfbench_{a.workload}", cores=cores, extra_conf=conf)
    get_spark_s = time.perf_counter() - t1
    log(f"session up in {get_spark_s:.2f}s")
    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid
    sampler = probes.RssSampler(jvm).start()
    tr = Tracer(on_phase=lambda n, dt: log(f"{n}: {dt:.3f}s"))
    failed, attempted, errors = 0, 0, []
    ops: list[dict] = []
    try:
        w.setup(spark)
        warm: list[float] = []
        while len(warm) < w.warmups:
            w.before_op()
            sc.setJobGroup(f"warm{len(warm)}", "warm-up")
            t = time.perf_counter()
            try:
                w.op(-1 - len(warm))
            except Exception:
                attempted += 1
                failed += 1
                errors.append(traceback.format_exc(limit=3))
            warm.append(time.perf_counter() - t)
            log(f"warm-up op {len(warm)}: {warm[-1]:.3f}s")
        setup_s = time.perf_counter() - t0

        # -- timed closed loop
        t_loop = time.perf_counter()
        i = 0
        while (
            time.perf_counter() - t_loop < a.seconds or i < MIN_OPS
        ) and time.perf_counter() - T_PROCESS < DEADLINE_S[a.trace]:
            w.before_op()
            traced_op = bool(a.trace) and i % 2 == 1
            if traced_op:
                tr.install()
                tr.op_id = f"op{i}"
            sc.setJobGroup(f"op{i}", f"timed op {i}")
            j0 = probes.cpu_jiffies()
            c0 = probes.tree_cpu_seconds(jvm)
            t = time.perf_counter()
            rec: dict = {"i": i, "traced": traced_op}
            try:
                with tr.span("op") if traced_op else contextlib.nullcontext():
                    result = w.op(i)
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
            rec["wall_s"] = time.perf_counter() - t
            rec["core_s"] = probes.tree_cpu_seconds(jvm) - c0
            j1 = probes.cpu_jiffies()
            rec["host_busy_core_s"] = probes.core_seconds(j0, j1)
            rec["steal_pct"] = probes.steal_pct(j0, j1)
            if traced_op:
                tr.uninstall()
            if "error" not in rec:
                try:
                    rec["counts"] = w.check(i, result)
                except Exception:
                    rec["error"] = traceback.format_exc(limit=3)
            rec["jobs"], rec["stages"], rec["tasks"] = group_counts(sc, f"op{i}")
            log(f"op {i}: {rec['wall_s']:.3f}s {rec.get('counts')}{' FAILED' if 'error' in rec else ''}")
            ops.append(rec)
            i += 1
        sc.setJobGroup("checks", "correctness checks")
        good = [o for o in ops if "error" not in o]
        if w.repeating and good:
            first = good[0]["counts"]
            for o in good:
                if o["counts"] != first:
                    o["error"] = f"counts {o['counts']} differ from the first op's {first}"
        try:
            misses = w.final_check()
        except Exception:
            misses = [traceback.format_exc(limit=3)]
        log(f"checks: {misses or 'ok'}")
        per_layer: dict = {}
        if a.trace:
            tr.install()
            tr.op_id = "phases"
            try:
                per_layer = w.traced(spark, tr)
            except Exception:
                attempted += 1
                failed += 1
                errors.append(traceback.format_exc(limit=3))
            finally:
                tr.uninstall()
    finally:
        sampler.stop()
        stop_spark(spark)
        log("session stopped")

    for o in ops:
        if "error" in o:
            errors.append(o["error"])
    attempted += len(ops)
    failed += sum("error" in o for o in ops)
    if misses:
        # a reference miss is in every op's output: each op failed its check
        errors += misses
        failed = attempted
    plain = [o for o in ops if not o["traced"]]
    walls = [o["wall_s"] for o in plain]
    op_p50 = statistics.median(walls)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": op_p50,
        "docs_per_s": w.docs_per_op / op_p50,
        "op_core_s": statistics.median(o["core_s"] for o in plain),
    }
    detail = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "settings": {
            "cores": cores,
            "master": f"local[{cores}]",
            "QS_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.environ["PYTHONPATH"],
            "spark_conf": conf,
            "warmup_ops": w.warmups,
            "release_caches_after_op": True,
            "os_sync_before_write_ops": True,
            "distinct_queries": True,
            "run_dir": os.path.relpath(run_dir, ROOT),
            "seconds": a.seconds,
            "scale": a.scale,
        },
        "host": host,
        "docs_per_op": w.docs_per_op,
        "warmup_walls_s": warm,
        "ops": ops,
        "errors": errors,
        "spark": {
            "jobs_per_op": statistics.median(o["jobs"] for o in plain),
            "stages_per_op": statistics.median(o["stages"] for o in plain),
            "tasks_per_op": statistics.median(o["tasks"] for o in plain),
        },
        "end_to_end": e2e,
        "peak_rss_mb": sampler.peak_mb,
    }
    if len(walls) >= 100:
        detail["op_p90_s"] = sorted(walls)[int(0.9 * len(walls))]
    if a.trace:
        t_walls = [o["wall_s"] for o in ops if o["traced"]]
        logs = event_log_bytes(os.path.join(run_dir, "eventlog"))
        op_groups = [logs.get(f"op{o['i']}", {}) for o in ops]
        per_layer.update(
            {
                "session.peak_rss_mb": sampler.peak_mb,
                "session.import_s": import_s,
                "session.get_spark_s": get_spark_s,
                "session.first_op_s": warm[0],
                "session.warmup_s": sum(warm),
                "spark.jobs_per_op": detail["spark"]["jobs_per_op"],
                "spark.stages_per_op": detail["spark"]["stages_per_op"],
                "spark.tasks_per_op": detail["spark"]["tasks_per_op"],
                "spark.shuffle_write_bytes_per_op": statistics.median(
                    g.get("shuffle_write", 0) for g in op_groups
                ),
                "spark.spill_bytes_per_op": statistics.median(
                    g.get("spill", 0) for g in op_groups
                ),
                "host.md5_per_s": host["md5_per_s"],
                "host.alloc_per_s": host["alloc_per_s"],
                "host.steal_pct": host["steal_pct"],
                "host.md5_scaling": probes.md5_scaling(cores),
                "trace.overhead_s": statistics.median(t_walls) - op_p50 if t_walls else 0.0,
            }
        )
        if "trace.phase_sum_s" in per_layer:
            per_layer["trace.phase_sum_frac"] = per_layer["trace.phase_sum_s"] / op_p50
        if "extract.docs_per_s" in per_layer:
            try:
                per_layer["extract.scaling_eff"] = scaling_eff(
                    w.table, w.sample_table, a.seed, cores, per_layer["extract.docs_per_s"]
                )
            except Exception:
                attempted += 1
                failed += 1
                errors.append(traceback.format_exc(limit=3))
            log("scaling leg done")
        detail["per_layer_all"] = per_layer
        tr.dump(os.path.join(RESULTS, f"{tag}.spans.json"))
        shutil.rmtree(run_dir, ignore_errors=True)
        metrics = {k: {"value": float(per_layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        shutil.rmtree(run_dir, ignore_errors=True)
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    detail["failed_frac"] = failed / attempted
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def main(argv=None) -> int:
    a = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "qs_spark", "__init__.py")):
        print(f"perfbench: no qs_spark package under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if a.scaling_leg:
        scaling_leg(a.scaling_leg, a.seed)
        return 0
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    try:
        result, detail = run(a)
    finally:
        stop_resource_tracker()
    path = os.path.join(RESULTS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"result": result, **detail}, f, indent=1, default=str)
    print(f"perfbench detail: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
