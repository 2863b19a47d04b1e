"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts one ``local[N]`` Spark
session (N = cores this process may use), makes the workload's seeded
inputs under ``.perfbench_work/``, warms up, times operations for at
least ``--seconds`` seconds, checks the outputs and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (E2E below); ``--trace 1``
runs one untraced and one traced operation and reports the per-layer
metrics (PER_LAYER below), taken from spans and from the Spark event
log grouped by job group. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    STAGE_STATS,
    ProcTree,
    Tracer,
    descendants,
    read_event_logs,
    summarize,
)
from workloads import LEGS, WORKLOADS  # noqa: E402

SETUP_REPS = 3
T0 = time.perf_counter()
WORK = ".perfbench_work"

# op_cpu_s, not the operation's wall time, is the bounded time metric:
# on a shared 4-vCPU VM the wall time of one operation drifts by up to
# 1.7x within half an hour while its CPU time stays within about 10%
# (README.md, "Why these metrics"). Walls are in the info line.
E2E = {"setup_s": "s", "op_cpu_s": "s", "rss_mb": "MB"}

GROUPS = ("geoparse", "pyramid", "mvt", "pipeline", "incremental",
          "text", "ann", "graph")
_STAT_UNITS = {"exec_run_s": "s", "exec_cpu_s": "s", "shuffle_write_mb": "MB",
               "shuffle_read_mb": "MB", "spill_mb": "MB",
               "peak_exec_mem_mb": "MB", "tasks": "count", "task_skew": "ratio"}
# span name -> per-layer wall metric (span total over the traced op)
SPAN_WALLS = {
    "geoparse.wall_s": "geoparse",
    "pyramid.assign_wall_s": "pyramid.assign",
    "pyramid.supercover_wall_s": "pyramid.supercover",
    "mvt.normalize_wall_s": "mvt.normalize",
    "mvt.assemble_wall_s": "mvt.assemble",
    "pipeline.phase1_wall_s": "pipeline.phase1",
    "pipeline.phase2_wall_s": "pipeline.phase2",
    "wkb3.phase1_wall_s": "wkb3.phase1",
    "wkb3.phase2_wall_s": "wkb3.phase2",
    "wkb3.assemble_wall_s": "wkb3.assemble",
    "incremental.diff_wall_s": "incremental.diff",
    "incremental.invalidate_wall_s": "incremental.invalidate",
    "incremental.regen_wall_s": "incremental.regen",
    "incremental.merge_wall_s": "incremental.merge",
}
# name -> unit for the layer-specific metrics
LAYER_SPECIFIC = {
    "geoparse.wall_s": "s", "geoparse.features": "count",
    "pyramid.assign_wall_s": "s", "pyramid.candidate_rows": "count",
    "pyramid.rows_per_feature": "ratio", "pyramid.supercover_wall_s": "s",
    "pyramid.supercover_rows": "count",
    "mvt.normalize_wall_s": "s", "mvt.assemble_wall_s": "s",
    "mvt.cap_keep_frac": "ratio", "mvt.blob_mb": "MB",
    "vecmvt.rows_per_s": "1/s",
    "pipeline.phase1_wall_s": "s", "pipeline.phase2_wall_s": "s",
    "pipeline.jobs": "count", "pipeline.files_written": "count",
    "pipeline.dedup_ratio": "ratio", "pipeline.tiles_per_s": "1/s",
    "pipeline.store_mb": "MB",
    "wkb3.phase1_wall_s": "s", "wkb3.phase2_wall_s": "s",
    "wkb3.assemble_wall_s": "s", "wkb3.cap_keep_frac": "ratio",
    "wkb3.blob_mb": "MB", "wkb3.tiles_per_s": "1/s", "wkb3.store_mb": "MB",
    "incremental.diff_wall_s": "s", "incremental.changed_urls": "count",
    "incremental.invalidate_wall_s": "s",
    "incremental.invalidated_tiles": "count",
    "incremental.regen_wall_s": "s", "incremental.merge_wall_s": "s",
    "incremental.useful_frac": "ratio", "incremental.retile_s": "s",
    "serve.load_wall_s": "s", "serve.rows_loaded": "count",
    "serve.status_200": "count", "serve.status_204": "count",
    "serve.status_304": "count", "serve.bytes_sent_mb": "MB",
    "serve.p50_ms": "ms", "serve.p99_ms": "ms", "serve.rps": "1/s",
    **{f"curation.{leg}.wall_s": "s" for leg in LEGS},
    "curation.sum_s": "s",
    "trace.overhead_frac": "ratio", "trace.self_cover_frac": "ratio",
    "trace.wkb3_self_cover_frac": "ratio",
}
PER_LAYER = {**{f"{g}.{s}": _STAT_UNITS[s] for g in GROUPS for s in STAGE_STATS},
             **LAYER_SPECIFIC}


class Bench:
    """What a workload sees: the session, the seed, the work directory,
    the tracer, the check counters and the per-layer metric sink."""

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.attempted = self.failed = 0
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.notes: dict[str, list] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def check(self, ok: bool, what: str):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 20:
                print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)

    def note(self, key: str, value: float):
        self.notes.setdefault(key, []).append(value)


def start_spark(work: str, trace: bool):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(0, ROOT)
    from sparktiles.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # the default zstd log needs the zstandard module to read
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark):
    """Stop the session, end the JVM and wait for every process this
    run started (the JVM and its Python workers) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    kids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in kids):
        time.sleep(0.1)


def context(workload: str) -> dict:
    """Where and what was measured, recorded with every result."""
    def read(*parts):
        path = os.path.join(ROOT, ".git", *parts)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read().strip()

    # a checkout without .git (an exported tree) records no sha
    sha = read("HEAD")
    if sha and sha.startswith("ref: "):
        sha = read(sha[5:]) or sha
    cpu = None
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    wl = WORKLOADS[workload]
    return {"git_sha": sha, "nproc": os.cpu_count(),
            "cores_used": len(os.sched_getaffinity(0)), "cpu_model": cpu,
            "pages": wl.pages, "sf": wl.sf}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparktiles", "session.py")):
        print("sparktiles/ not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)

    spark = start_spark(work, trace)
    procs = ProcTree().start()
    b = Bench(spark, args.seed, work, Tracer(False))
    if trace:
        def tag(group):
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
        b.tracer.on_group = tag
    wl = WORKLOADS[args.workload]()
    phases = {"start": time.perf_counter() - T0}
    try:
        setup = []
        # a traced run reports no setup_s, so it sets up once
        for _ in range(1 if trace else SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(b)
            setup.append(time.perf_counter() - t0)
        phases["setup"] = time.perf_counter() - T0
        wl.warmup(b)
        phases["warmup"] = time.perf_counter() - T0
        if trace:
            walls = [wl.op(b)]
            b.tracer.enabled = True
            traced = wl.op(b, traced=True)
            b.tracer.enabled = False
            totals = b.tracer.totals()
            for metric, span in SPAN_WALLS.items():
                b.layer.setdefault(metric, totals.get(span, 0.0))
            b.layer["trace.overhead_frac"] = traced / walls[0] - 1.0
        else:
            procs.sampling = True
            t_start, walls, cpus = time.perf_counter(), [], []
            while not walls or time.perf_counter() - t_start < args.seconds:
                cpu0 = procs.cpu_s()
                walls.append(wl.op(b))
                cpus.append(procs.cpu_s() - cpu0)
            procs.sampling = False
        phases["ops"] = time.perf_counter() - T0
        wl.check(b)
        phases["check"] = time.perf_counter() - T0
    finally:
        procs.stop()
        stop_spark(spark)
    phases["stop"] = time.perf_counter() - T0

    if trace:
        groups = read_event_logs(os.path.join(work, "eventlog"))
        for g in GROUPS:
            for s in STAGE_STATS:
                b.layer[f"{g}.{s}"] = groups.get(g, {}).get(s, 0.0)
        b.layer["pipeline.jobs"] = groups.get("pipeline", {}).get("jobs", 0)
        metrics = {k: {"value": float(b.layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": statistics.median(setup),
                  "op_cpu_s": statistics.median(cpus),
                  "rss_mb": procs.mean_mb()}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E.items()}
        b.info.update(op_cpu_s=summarize(cpus), peak_rss_mb=procs.peak_mb,
                      peak_rss_procs=procs.peak_parts[0],
                      peak_rss_largest_mb=procs.peak_parts[1])

    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            **context(args.workload), "setup_s": setup,
            "op_s": summarize(walls), "op_samples": walls,
            "per_op": {k: summarize(v) for k, v in b.notes.items()},
            "phases_s": phases, **b.info}
    print("info " + json.dumps(info, default=str), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
