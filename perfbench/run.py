"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload bagh_import --seed 1 --seconds 10 --trace 0

Each run starts a SparkSession (``dso_import_spark.session.get_spark``
pinned from the benchmark's environment), generates the seeded
inputs and, for ``query_mix``, runs two untimed warm-up passes: that is
``setup_s``. It then
repeats back-to-back passes of the workload (a closed loop) until
``--seconds`` have passed, checks every pass's outputs against results
computed apart from the program, and prints one JSON object as its last
line of output.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the run keeps the same set-up and pass schedule but every
timed pass is traced; the metrics are the per-layer ones, and a trace
file with per-pass, per-query/per-table and per-job rows is written
under ``.bench_out/``. ``trace.wall_s`` is the traced passes' median
wall time, to set against ``wall_s`` of an untraced run of the same
seed; ``trace.overhead_s`` is the time the tracing code itself spent on
a pass's path (span and job-group bookkeeping).
A load sentinel (``/proc/loadavg`` and a fixed CPU-only loop, before and
after the run) is printed beside the metrics so that a loaded machine
shows itself. See README.md in this directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MAX_SLOTS = 4
DRIVER_MEM = "3g"
MB = 1024.0 * 1024.0


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def sentinel() -> dict:
    """1-minute load average and the best of three runs of a fixed
    CPU-only loop; not metrics, printed so a loaded box flags itself."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i % 7
        best = min(best, time.perf_counter() - t)
    return {"loadavg_1m": load1, "calib_s": best, "cpu_ticks": _cpu_ticks()}


def steal_share(before: dict, after: dict) -> float:
    """Share of the machine's CPU time the hypervisor took between two
    sentinels (the ``steal`` column of /proc/stat)."""
    d = [b - a for a, b in zip(before.pop("cpu_ticks"), after.pop("cpu_ticks"))]
    return d[7] / sum(d) if sum(d) else 0.0


def start_session(work: Path, slots: int):
    from dso_import_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=slots,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the job logs each Q2 overlap warning; the checks count them instead
    logging.getLogger("dso_import_spark").setLevel(logging.ERROR)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    from tracing import alive, sample_tree

    pids = [p for p in sample_tree().pids if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(wl, tracer, jobs, res, slots: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    from tracing import sum_jobs

    def phase(j) -> str:
        return j.group.rsplit("/", 1)[-1]

    is_query = wl.name != "bagh_import"
    exec_jobs = [j for j in jobs if phase(j) == "exec"] if is_query else jobs
    build_jobs = [j for j in jobs if phase(j) in ("build", "load_table")]
    ex = sum_jobs(exec_jobs)
    exec_wall = sum(r.get("exec_s", 0.0) for r in res.rows) if is_query else res.wall_s
    m = {
        "sources.load_s": tracer.total("sources.registry.load_table"),
        "sources.load_jobs": sum(phase(j) == "load_table" for j in jobs),
        "sources.csv_s": tracer.total("sources.csv.read_gob_csv_audited"),
        "sources.csv_jobs": sum(phase(j).endswith(".csv") for j in jobs),
        "queries_pkg.build_s": tracer.total("queries_pkg.build"),
        "queries_pkg.build_jobs": len(build_jobs),
        "exec.wall_s": exec_wall,
        **{f"exec.{k}": v for k, v in ex.items()},
        "exec.slot_busy": ex["executor_run_s"] / (exec_wall * slots) if exec_wall else 0.0,
        "python.worker_cpu_s": sum(r.get("python_cpu_s", 0.0) for r in res.rows),
        "trace.overhead_s": tracer.own_s,
    }
    for p in ("load", "replay"):
        m[f"bagh.{p}.merge_s"] = tracer.total("operators.merge.execute_merge", p)
        m[f"bagh.{p}.write_s"] = tracer.total("plans.bagh_job.Warehouse.write", p)
        m[f"bagh.{p}.bridge_s"] = tracer.total("plans.bagh_job.run_vbo_pandrelatie", p)
        m[f"bagh.{p}.gates_s"] = tracer.total("plans.bagh_job.run_table", p, self_time=True)
        m[f"bagh.{p}.jobs"] = sum(
            j.group.startswith("bagh_import/") and phase(j).split(".")[0] == p for j in jobs
        )
    files, mb = wl.warehouse_files() if not is_query else (0, 0.0)
    m["warehouse.files"] = files
    m["warehouse.mb"] = mb
    return m


def install_spans(tracer) -> None:
    """Spans around the public calls of each layer, with job groups."""
    from dso_import_spark.operators import merge
    from dso_import_spark.plans import bagh_job
    from dso_import_spark.sources import csv, registry

    t = tracer
    t.wrap(registry, "load_table", "sources.registry.load_table",
           lambda a, k: (t.phase, "load_table"))
    t.wrap(csv, "read_gob_csv_audited", "sources.csv.read_gob_csv_audited",
           lambda a, k: (os.path.basename(a[1]).split("_")[1], f"{t.phase}.csv"))
    t.wrap(bagh_job, "run_table", "plans.bagh_job.run_table",
           lambda a, k: (a[2].name, t.phase))
    t.wrap(bagh_job, "run_vbo_pandrelatie", "plans.bagh_job.run_vbo_pandrelatie",
           lambda a, k: ("bridge", t.phase))
    t.wrap(merge, "execute_merge", "operators.merge.execute_merge")
    t.wrap(bagh_job.Warehouse, "write", "plans.bagh_job.Warehouse.write")


def traced_pass(wl, spark, slots: int):
    from tracing import Tracer, jobs_after, last_job_id

    tracer = Tracer(spark, wl.name)
    install_spans(tracer)
    try:
        first = last_job_id(spark)
        res = wl.run_pass(tracer)
    finally:
        tracer.uninstall()
    jobs = jobs_after(spark, first)
    layers = layer_metrics(wl, tracer, jobs, res, slots)
    record = {
        "wall_s": res.wall_s, "cpu_s": res.cpu_s, "layers": layers, "rows": res.rows,
        "jobs": [vars(j) for j in jobs],
        "spans": [{**vars(s), "dur": s.dur, "self_s": s.self_s} for s in tracer.spans],
    }
    return res, layers, record


def run(args, work: Path, slots: int) -> dict:
    from tracing import RssSampler
    from workloads import WORKLOADS

    before = sentinel()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, slots)
        session_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](spark, str(work), args.seed, slots)
        warm = wl.warm_up()
        setup_s = time.perf_counter() - T_START
        wl.compute_expected()
        problems = [f"warm-up: {p}" for p in warm.problems if not p.endswith(": raised")]
        passes, records = [], []
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while True:
                if args.trace:
                    res, layers, rec = traced_pass(wl, spark, slots)
                    records.append({**rec, "layers": {**layers, "session.start_s": session_s}})
                else:
                    res = wl.run_pass()
                passes.append(res)
                if time.perf_counter() - t0 >= args.seconds:
                    break
        after = sentinel()
    finally:
        stop_session(spark)
    for i, r in enumerate(passes):
        problems += [f"pass {i}: {p}" for p in r.problems if not p.endswith(": raised")]
    wall = _median([r.wall_s for r in passes])
    out = {
        "workload": args.workload, "seed": args.seed, "passes": len(passes),
        "attempted": sum(r.attempted for r in passes),
        "failed": sum(r.failed for r in passes),
        "problems": problems,
        "sentinel": {"before": before, "after": after, "steal_share": steal_share(before, after)},
        "input": wl.input_summary(), "session_s": session_s,
        "pass_wall_s": [r.wall_s for r in passes],
        "peak_rss_mb_by_process": {k: v / MB for k, v in rss.peak_by.items()},
    }
    if args.trace:
        names = records[0]["layers"]
        layers = {k: _median([rec["layers"][k] for rec in records]) for k in names}
        layers["trace.wall_s"] = wall
        layers["memory.peak_rss_mb"] = rss.peak / MB
        layers["memory.jvm_peak_rss_mb"] = rss.peak_by.get("jvm", 0) / MB
        out["metrics"] = {k: (v, LAYER_UNITS[k]) for k, v in layers.items()}
        out["traced_passes"] = records
    else:
        out["metrics"] = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "cpu_s": (_median([r.cpu_s for r in passes]), "s"),
            "rows_per_s": (wl.rows_per_pass / wall, "1/s"),
        }
    return out


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name == "exec.slot_busy":
        return "ratio"
    return "count"


LAYER_UNITS = {
    k: _unit(k)
    for k in [
        "session.start_s", "sources.load_s", "sources.load_jobs", "sources.csv_s",
        "sources.csv_jobs", "queries_pkg.build_s", "queries_pkg.build_jobs",
        "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
        "exec.executor_cpu_s", "exec.gc_s", "exec.input_mb", "exec.shuffle_read_mb",
        "exec.shuffle_write_mb", "exec.spill_mb", "exec.slot_busy", "python.worker_cpu_s",
        *[f"bagh.{p}.{m}" for p in ("load", "replay")
          for m in ("merge_s", "write_s", "bridge_s", "gates_s", "jobs")],
        "warehouse.files", "warehouse.mb", "memory.peak_rss_mb",
        "memory.jvm_peak_rss_mb", "trace.wall_s", "trace.overhead_s",
    ]
}


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark: one workload, one run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "dso_import_spark" / "plans" / "bagh_job.py").is_file():
        print(f"no dso_import_spark package under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    slots = max(1, min(MAX_SLOTS, len(os.sched_getaffinity(0))))
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # everything the run writes stays inside the checkout
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(slots),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_PROFILE="local",
        # both the launcher JVM and the driver JVM: temp files in the
        # checkout, no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    )
    tempfile.tempdir = None
    try:
        out = run(args, work, slots)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    trace_file = None
    if args.trace:
        out_dir = ROOT / ".bench_out"
        out_dir.mkdir(exist_ok=True)
        trace_file = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
        trace_file.write_text(json.dumps(out, indent=1, default=str))
    metrics = out["metrics"]
    print(f"workload {out['workload']} seed {out['seed']}: {out['passes']} timed passes, "
          f"attempted {out['attempted']}, failed {out['failed']}")
    print("input:", json.dumps(out["input"]))
    print("sentinel (not metrics):", json.dumps(out["sentinel"]))
    print("peak RSS by process (MB):", json.dumps(out["peak_rss_mb_by_process"]))
    for k, (v, unit) in metrics.items():
        print(f"  {k:28s} {v:14.4f} {unit}")
    for p in out["problems"][:20]:
        print("CHECK FAILED:", p)
    if trace_file:
        print(f"trace file: {trace_file.relative_to(ROOT)}")
        print(f"tracing overhead: {metrics['trace.overhead_s'][0]:.4f} s per pass spent in "
              f"the tracing code; traced pass wall {metrics['trace.wall_s'][0]:.4f} s, to set "
              "against wall_s of an untraced run of the same seed")
    print(json.dumps({
        "correct": not out["problems"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
